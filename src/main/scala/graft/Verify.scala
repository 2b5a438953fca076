package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (local dev only)]
    val sfDir = args(0); val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = Tools.local("4")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      // Drop any stale output first: a failing query must NOT leave a
      // previous run's parquet behind to be compared as if current.
      val dest = new java.io.File(s"$outDir/$name")
      if (dest.exists()) {
        graft.queries.Fixtures.fresh(dest.getPath)
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // SELF-LABELING summary (r6 lesson: a testdata schema change made 17
    // queries vanish from the correctness report SILENTLY — absent rows
    // read as "not declared" rather than "broken"). One stdout line makes
    // a partial run visible in the round artifacts themselves.
    println(s"""{"verify_declared":${selected.size},"verify_failed":[${
      failed.map("\"" + _ + "\"").mkString(",")}]}""")
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Tools.jsonString(k)}: ${Tools.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
