package graft.perfbench

import graft.{SparkEntry, Tables}
import graft.functions.{Dna, DnaFunctions}
import graft.io.{Fasta, Fastq}
import graft.operators.{Layout => L, Pipeline, Similarity, ViraPipeline}
import graft.pipe.Pipes
import graft.sql.QueryRunner
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Benchmark harness: drives the engine from outside through its public
  * modules, over inputs a generator already wrote to `<work>/in`.
  *
  * `Main --workload W --work DIR --cores N --seconds S --trace 0|1`
  * sets up a session several times (timed), runs one warm-up pass, then
  * runs whole passes until S seconds have elapsed (at least one). It
  * writes `<work>/result.json` (timings, result hashes, host context)
  * and, when tracing, `<work>/trace.json` (spans, listener records and
  * counters). Metric arithmetic and correctness checks are done by the
  * Python side (`perfbench/run.py`).
  */
object Main {

  // ---------------------------------------------------------------- JSON
  def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case xs: Array[_] => js(xs.toSeq)
    case other => js(other.toString)
  }

  // ------------------------------------------------------------- tracing
  /** In-memory trace: spans around calls into each layer, the Spark
    * listener's job/stage/task records, plan phase times and counters.
    * Times are epoch milliseconds (the listener's clock) derived from
    * the monotonic clock.
    */
  final class Trace {
    /** Spans and counters are recorded only while tracing is on. */
    @volatile var on = false
    private val ms0 = System.currentTimeMillis().toDouble
    private val ns0 = System.nanoTime()
    def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

    final case class Span(id: Int, name: String, start: Double, var end: Double,
                          parent: Int, pass: String)
    val spans = ArrayBuffer.empty[Span]
    val counters = ArrayBuffer.empty[(String, String, Double)]
    private var stack = List.empty[Int]
    var pass = "setup"

    def span[T](name: String)(f: => T): T = {
      if (!on) return f
      val s = Span(spans.size, name, now(), 0.0, stack.headOption.getOrElse(-1), pass)
      spans.synchronized(spans += s)
      stack = s.id :: stack
      try f finally { s.end = now(); stack = stack.tail }
    }
    def count(name: String, v: Double): Unit =
      if (on) counters.synchronized(counters += ((pass, name, v)))

    // listener records
    val jobs = ArrayBuffer.empty[Map[String, Any]]
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int], String)]()
    val stages = ArrayBuffer.empty[Map[String, Any]]
    val tasks = ArrayBuffer.empty[Seq[Any]]
    val plans = ArrayBuffer.empty[Seq[Double]]

    val listener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.headOption.map(_.details.linesIterator
          .filter(_.contains("graft.")).take(3).mkString(" | ")).getOrElse("")
        jobStarts.put(e.jobId, (e.time, e.stageIds, site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (t, st, site) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time, Nil, ""))
        jobs.synchronized(jobs += Map("id" -> e.jobId, "start" -> t, "end" -> e.time,
          "stages" -> st, "site" -> site,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages.synchronized(stages += Map("id" -> i.stageId, "attempt" -> i.attemptNumber(),
          "start" -> i.submissionTime.getOrElse(0L), "end" -> i.completionTime.getOrElse(0L),
          "tasks" -> i.numTasks, "failed" -> i.failureReason.isDefined))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val failed = e.reason != org.apache.spark.Success
        tasks.synchronized(tasks += (if (m == null)
          Seq(e.stageId, 0L, 0L, 0L, 0L, 0L, failed, e.taskInfo.duration)
        else Seq(e.stageId, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.diskBytesSpilled, failed, e.taskInfo.duration)))
      }
    }
    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases.values
        plans.synchronized(plans += Seq(
          phases.map(_.endTimeMs).foldLeft(0L)(math.max).toDouble,
          phases.map(_.durationMs).sum.toDouble))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    def json: String = js(Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "pass" -> s.pass)),
      "counters" -> counters.map { case (p, n, v) => Map("pass" -> p, "name" -> n, "value" -> v) },
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "plans" -> plans))
  }

  // ------------------------------------------------------------ results
  /** Order-independent digest of a collected result: rows rendered with
    * doubles rounded to 6 decimals, sorted, then hashed.
    */
  def digest(rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString
      case f: Float => norm(f.toDouble)
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(norm).sorted.foreach(s => md.update((s + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One timed operation; `data` holds its collected results until the
    * pass is over and they have been digested (and kept for the oracle).
    */
  final case class OpResult(name: String, seconds: Double, ok: Boolean, error: String,
                            data: Seq[(Array[Row], StructType)] = Nil,
                            rows: Long = 0L, hash: String = "")

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "" }

  def peakRssMb(): Double =
    try {
      val l = scala.io.Source.fromFile("/proc/self/status")
      try l.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally l.close()
    } catch { case _: Throwable => 0.0 }

  // ----------------------------------------------------------- workloads
  abstract class Workload(val work: String, val t: Trace) {
    val in = s"$work/in"
    val out = s"$work/out"
    /** Input staging done as part of each set-up. */
    def stage(spark: SparkSession): Unit
    /** One full pass. */
    def pass(spark: SparkSession): Seq[OpResult]
    /** Extra traced measurements run after the traced passes. */
    def probe(spark: SparkSession): Unit = ()

    /** Times `f` (inside a span named `name`); failures are results. */
    def timed[T](name: String)(f: => T): (Double, Either[String, T]) = {
      val t0 = System.nanoTime()
      val r = try Right(t.span(name)(f)) catch {
        case e: Throwable =>
          Left((e.toString + " @ " + e.getStackTrace.take(3).mkString(" < ")).take(600))
      }
      ((System.nanoTime() - t0) / 1e9, r)
    }

    def result(name: String, r: (Double, Either[String, _]),
               data: Seq[(Array[Row], StructType)] = Nil): OpResult = r._2 match {
      case Right(_) => OpResult(name, r._1, ok = true, "", data)
      case Left(err) => OpResult(name, r._1, ok = false, err)
    }
  }

  /** The 8-stage pipeline over paired FASTQ; each kept stage output is
    * written, the k-mer band is recomputed by every downstream output.
    */
  final class ViraPipe(work: String, t: Trace) extends Workload(work, t) {
    def stage(spark: SparkSession): Unit = {
      Fastq.read(spark, s"$in/fastq/r1").select("key").count()
      Fastq.read(spark, s"$in/fastq/r2").select("key").count()
    }

    def pass(spark: SparkSession): Seq[OpResult] = {
      val r1 = t.span("io.fastq_read")(Fastq.read(spark, s"$in/fastq/r1"))
      val r2 = t.span("io.fastq_read")(Fastq.read(spark, s"$in/fastq/r2"))
      val res = ViraPipeline.run(spark, r1, r2)
      def write(name: String, df: => DataFrame): OpResult = result(name, timed(name) {
        t.span("io.sink") { df.write.mode("overwrite").parquet(s"$out/$name") }
      })
      val ops = Seq(
        write("aligned", res.aligned),
        result("grouped", timed("grouped") {
          t.span("io.sink")(Pipeline.writeGroupedBySample(res.normalized, s"$out/grouped"))
        }),
        write("contigs", res.contigs),
        write("filtered_contigs", res.filteredContigs),
        write("orfs", res.orfs),
        write("hmm_hits", res.hmmHits))
      if (t.on) t.count("io.sink_bytes",
        Seq("aligned", "grouped", "contigs", "filtered_contigs", "orfs", "hmm_hits")
          .map(n => dirBytes(new File(s"$out/$n"))).sum.toDouble)
      ops
    }

    /** Layer by layer on pinned inputs: each stage's own cost, with its
      * inputs materialized first, so the sum is the pass without the
      * recomputation the fused pass performs.
      */
    override def probe(spark: SparkSession): Unit = {
      import spark.implicits._
      def pin(name: String)(df: => DataFrame): DataFrame =
        t.span(name)(df.localCheckpoint(eager = true))
      def rows(df: DataFrame): Double = df.count().toDouble
      def procs(ds: org.apache.spark.sql.Dataset[String]): Double =
        ds.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum()
      t.count("io.fastq_bytes", dirBytes(new File(s"$in/fastq")).toDouble)
      val r1 = pin("io.fastq_read")(Fastq.read(spark, s"$in/fastq/r1").select("key", "sequence", "quality"))
      val r2 = pin("io.fastq_read")(Fastq.read(spark, s"$in/fastq/r2").select("key", "sequence", "quality"))
      val il = pin("operators.interleave")(Pipeline.interleave(r1, r2))
      val fq = ViraPipeline.toFastqLines(il.select("key", "sequence", "quality")).localCheckpoint()
      t.count("pipe.processes", procs(fq))
      val f = split(col("value"), "\t")
      val sam = pin("pipe.align")(Pipes.alignBwa(spark, fq).toDF("value"))
      val aligned = sam.filter(!col("value").startsWith("@"))
        .select(f.getItem(0).as("readName"), f.getItem(1).cast("int").as("flag"),
          f.getItem(9).as("sequence"), f.getItem(10).as("quality"))
        .filter(col("flag").isin(77, 141))
        .select(concat(col("readName"), when(col("flag") === 77, "/1").otherwise("/2")).as("key"),
          col("sequence"), col("quality")).localCheckpoint()
      val kmers = t.span("functions.kmers")(rows(aligned.filter(length(col("sequence")) >= 16)
        .select(DnaFunctions.kmersExploded(spark, col("sequence"), 16).as("kmer"))))
      t.count("functions.kmers", kmers)
      val normalized = pin("operators.normalize")(ViraPipeline.digitalNormalize(aligned, 16, 0, 20))
      t.count("operators.normalize_in", rows(aligned))
      t.count("operators.normalize_out", rows(normalized))
      val fasta = ViraPipeline.toFastaLines(normalized
        .select(regexp_replace(col("key"), "[/ ].*$", "").as("id"), col("sequence"))
        .dropDuplicates("id")).localCheckpoint()
      t.count("pipe.processes", procs(fasta))
      val contigLines = pin("pipe.assemble")(Pipes.assembleMegahit(spark, fasta).toDF("value"))
      val contigs = Fasta.renameContigsUniq(contigLines.as[String].mapPartitions { it =>
        val buf = ArrayBuffer.empty[(String, String)]
        var id: String = null
        it.foreach { l => if (l.startsWith(">")) id = l.drop(1) else buf += ((id, l)) }
        buf.iterator
      }.toDF("id", "sequence")).localCheckpoint()
      val contigFasta = ViraPipeline.toFastaLines(contigs).localCheckpoint()
      t.count("pipe.processes", procs(contigFasta))
      val hits = pin("pipe.blastn")(Pipes.blastn(spark, contigFasta).toDF("value")
        .select(f.getItem(0).as("qseqid"), f.getItem(2).cast("double").as("pident"),
          f.getItem(6).cast("long").as("qstart"), f.getItem(7).cast("long").as("qend")))
      val filtered = pin("operators.blast_filter")(Pipeline.blastThresholdFilter(contigs, hits, 70.0))
      t.count("operators.blast_in", rows(contigs))
      t.count("operators.blast_out", rows(filtered))
      val orfUdf = udf((id: String, s: String, minLen: Int) => Dna.sixFrameOrfs(id, s, minLen))
      val orfs = pin("operators.orf")(filtered
        .select(explode(orfUdf(col("id"), col("sequence"), lit(2))).as("o"))
        .select(col("o.contigId").as("id"), col("o.strand"), col("o.frame"),
          col("o.protein").as("sequence")))
      val protFasta = ViraPipeline.toFastaLines(orfs
        .select(concat_ws("_", col("id"), col("strand"), col("frame")).as("id"), col("sequence"))
        .dropDuplicates("id")).localCheckpoint()
      t.count("pipe.processes", procs(protFasta))
      pin("pipe.hmmsearch")(Pipes.hmmsearch(spark, protFasta).toDF("value"))
    }
  }

  /** Ops read from `<in>/stream.tsv`, one per line, tab-separated:
    * `ladder name span` runs an inventory query inside a span,
    * `ivf name -` and `streamsrc name -` run the index-maintenance and
    * streaming ladders with their state under `<work>/out`, and
    * `tools name (source path sql)...` runs the SQL tools' queries.
    */
  final class Stream(work: String, t: Trace) extends Workload(work, t) {
    val tables = s"$in/tables"
    val ops: Seq[Array[String]] =
      scala.io.Source.fromFile(s"$in/stream.tsv").getLines().filter(_.nonEmpty)
        .map(_.split("\t", -1)).toSeq

    /** Registers every generated table (schemas come from the footers). */
    def stage(spark: SparkSession): Unit =
      Tables.names.filter(n => new File(s"$tables/$n.parquet").exists).foreach { n =>
        (if (n == "events") Tables.events(spark, tables) else Tables.load(spark, tables, n))
          .createOrReplaceTempView(n)
      }

    /** One SQL-tool query; traced runs time the load and the planning. */
    private def tool(spark: SparkSession, q: Seq[String]): (Array[Row], StructType) = {
      val src = q.head match {
        case "fastq" => QueryRunner.FastqSource
        case "sam" => QueryRunner.SamSource
        case "blast" => QueryRunner.BlastSource
      }
      val df = if (t.on) t.span("sql.plan") {
        t.span("io.domain_load")(QueryRunner.load(spark, src, s"$in/${q(1)}"))
          .createOrReplaceTempView("records")
        val d = spark.sql(q(2))
        d.queryExecution.executedPlan
        d
      } else QueryRunner.run(spark, src, s"$in/${q(1)}", q(2))
      (t.span("sql.exec")(df.collect()), df.schema)
    }

    def pass(spark: SparkSession): Seq[OpResult] =
      ops.map { op =>
        val r = timed(if (op(0) == "ladder") op(2) else op(1)) {
          def collect(df: DataFrame) = Seq((df.collect(), df.schema))
          op(0) match {
            case "ladder" => collect(SparkEntry.queries(op(1))(spark, tables))
            case "ivf" => collect(ivfLadder(spark))
            case "streamsrc" => collect(streamLadder(spark))
            case "tools" => op.toSeq.drop(2).grouped(3).map(tool(spark, _)).toSeq
          }
        }
        result(op(1), r, r._2.getOrElse(Nil))
      }

    /** The IVF maintenance ladder of `q354_ivf_index_optimize`, with the
      * index under the work directory.
      */
    def ivfLadder(spark: SparkSession): DataFrame = {
      val idx = s"$out/ivfindex"
      rmrf(new File(idx))
      val e = Tables.embeddings(spark, tables).select(col("vec_id").as("id"), col("embedding"))
      t.span("operators.ivf_build")(Similarity.ivfAdcBuildIndex(e.filter(col("id") < 250), idx, nCells = 8))
      t.span("operators.ivf_append")(Similarity.ivfAdcIndexAppend(
        e.filter(col("id") >= 250 && col("id") < 375), idx))
      t.span("operators.ivf_append")(Similarity.ivfAdcIndexAppend(e.filter(col("id") >= 375), idx))
      t.span("operators.ivf_optimize")(Similarity.ivfAdcIndexOptimize(e, idx))
      t.span("operators.ivf_search")(Similarity.ivfAdcSearchWith(e, idx, 3, nProbe = 2, shortlist = 16)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank").cast("int").as("rank"))
        .localCheckpoint(eager = true))
    }

    /** Snapshot commits plus an AvailableNow stream, as in
      * `q272_stream_source`, with the tables under the work directory.
      */
    def streamLadder(spark: SparkSession): DataFrame = {
      import org.apache.spark.sql.streaming.Trigger
      val root = s"$out/snapstream"
      rmrf(new File(root))
      val src = s"$root/src"; val dst = s"$root/dst"
      val docs = Tables.documents(spark, tables).select("doc_id", "text", "n_chars")
      t.span("operators.snapshot_commit") {
        L.snapshotAppend(docs.filter(col("doc_id") % 2 === 0)
          .repartitionByRange(4, col("n_chars")).sortWithinPartitions("n_chars"), src,
          statsCols = Seq("n_chars"))
        L.snapshotAppend(docs.filter(col("doc_id") % 2 === 1)
          .repartitionByRange(4, col("n_chars")).sortWithinPartitions("n_chars"), src)
        L.compactSnapshot(spark, src, 512L << 20)
        L.deleteWhere(spark, src, L.StatPred.Between("n_chars", 200L, 280L))
      }
      val q = t.span("streaming.run") {
        val q = spark.readStream.format("snapshot").option("path", src)
          .option("startingSnapshotId", "0").option("skipChangeCommits", "true").load()
          .writeStream.format("snapshot").option("path", dst)
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(170000)
        q
      }
      if (t.on) {
        val prog = q.recentProgress
        t.count("streaming.batches", prog.length.toDouble)
        prog.foreach(p => t.count("streaming.batch_s", p.batchDuration / 1e3))
      }
      L.snapshotRead(spark, dst).select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    }
  }

  // ---------------------------------------------------------------- main
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work")).getAbsolutePath
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val t = new Trace
    val loadBefore = loadavg()
    val w: Workload = a("workload") match {
      case "virapipe_fastq" => new ViraPipe(work, t)
      case "driver_ladders" => new Stream(work, t)
    }

    var spark: SparkSession = null
    val setupS = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      w.stage(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val passes = ArrayBuffer.empty[(String, Double, Seq[OpResult])]
    def runPass(id: String, keep: Option[String]): Unit = {
      t.pass = id
      val t0 = System.nanoTime()
      val ops = t.span("pass")(w.pass(spark))
      val seconds = (System.nanoTime() - t0) / 1e9
      // digests and kept results are made after the pass's clock stops
      passes += ((id, seconds, ops.zipWithIndex.map { case (o, i) =>
        for (((rows, schema), j) <- o.data.zipWithIndex; dir <- keep)
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/$i-$j")
        o.copy(data = Nil, rows = o.data.map(_._1.length.toLong).sum,
          hash = o.data.map(d => digest(d._1)).mkString(","))
      }))
    }
    def tracing(on: Boolean): Unit = {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      if (on) {
        spark.sparkContext.addSparkListener(t.listener)
        spark.listenerManager.register(t.qeListener)
      } else {
        spark.sparkContext.removeSparkListener(t.listener)
        spark.listenerManager.unregister(t.qeListener)
      }
      t.on = on
    }
    runPass("warmup", None)
    // Traced runs bracket the traced passes with untraced ones:
    // trace.overhead_s is the traced pass time minus their mean.
    if (traced) {
      runPass("untraced0", None)
      tracing(true)
    }
    val m0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - m0) / 1e9 < seconds) {
      runPass(s"p$n", if (n == 0) Some(s"$work/results") else None)
      n += 1
    }
    if (traced) {
      tracing(false)
      runPass("untraced1", None)
      tracing(true)
      t.pass = "probe"
      t.span("probe")(w.probe(spark))
      tracing(false)
      Files.write(Paths.get(s"$work/trace.json"), t.json.getBytes(StandardCharsets.UTF_8))
    }
    val result = Map(
      "setup_s" -> setupS,
      "passes" -> passes.map { case (id, s, ops) => Map("id" -> id, "seconds" -> s,
        "ops" -> ops.map(o => Map("name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok,
          "rows" -> o.rows, "hash" -> o.hash, "error" -> o.error))) },
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "peak_rss_mb" -> peakRssMb(),
      "loadavg_before" -> loadBefore,
      "loadavg_after" -> loadavg(),
      "oracle_sql" -> (w match {
        case s: Stream => s.ops.map(o => o(1) -> SparkEntry.oracleSql.get(o(1))).toMap
        case _ => Map.empty[String, Option[String]]
      }))
    Files.write(Paths.get(s"$work/result.json"), js(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
