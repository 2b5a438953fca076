package graft.operators

import graft.SparkTestSession
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class ParallelismSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("ensurePinned returns already-parallel and derived inputs untouched") {
    val p = spark.sparkContext.defaultParallelism
    assume(p > 1, "needs a multi-core session")
    val parallel = spark.range(0, 1000, 1, p).toDF("id")
    assert(Parallelism.ensurePinned(parallel) eq parallel)
    val derived = spark.range(0, 1000, 1, 1)
      .groupBy((col("id") % 7).as("k")).count()
    assert(Parallelism.ensurePinned(derived) eq derived)
    // the contrast case: a one-partition scan is spread and pinned
    val narrow = spark.range(0, 1000, 1, 1).toDF("id")
    val pinned = Parallelism.ensurePinned(narrow)
    assert(!(pinned eq narrow) && pinned.rdd.getNumPartitions == p)
  }

  test("inParallel: the first failure cancels a sibling's running job and is rethrown") {
    val sc = spark.sparkContext
    @volatile var sibling = "not run"
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Parallelism.inParallel[Long](
        () => {
          // fail as soon as the sibling's job is running
          val deadline = System.nanoTime() + 30000000000L
          while (sc.statusTracker.getActiveJobIds().isEmpty &&
            System.nanoTime() < deadline) Thread.sleep(10)
          throw new IllegalStateException("planted failure")
        },
        () =>
          try {
            // sleeps 20 s unless its task is killed
            val n = sc.parallelize(1 to 2, 2).map { x =>
              val end = System.nanoTime() + 20000000000L
              while (!TaskContext.get().isInterrupted() && System.nanoTime() < end)
                Thread.sleep(20)
              x
            }.count()
            sibling = "completed"
            n
          } catch {
            case ex: SparkException => sibling = s"failed: ${ex.getMessage}"; throw ex
          })
    }
    assert(e.getMessage == "planted failure")
    assert(sibling.startsWith("failed") && sibling.contains("cancel"), sibling)
    assert((System.nanoTime() - t0) / 1e9 < 15.0)
  }
}
