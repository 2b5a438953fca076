package graft

import org.apache.spark.sql.SparkSession

/** What the local tools share ([[Bench]], [[Verify]], [[Probe]]):
  * the session they run on, the timers and the JSON formatting of
  * their output lines. [[Cli]] keeps its own builder — under
  * spark-submit it must take the injected master and keep the UI.
  */
object Tools {

  /** The tools' local session: `local[$SPARK_GRAFT_CPUS]` with as many
    * shuffle partitions as cores, AQE on, UTC, no UI, WARN logging.
    * `defaultCpus` applies when SPARK_GRAFT_CPUS is unset.
    */
  def local(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall seconds of one run of `f`, or -1.0 if it FAILED (a sentinel,
    * never a plausible elapsed time: recording time-to-failure would
    * launder an OOM into a benchmark number). The failure goes to
    * stderr under `label`.
    */
  def timeOnce(label: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    try { f; (System.nanoTime() - t0) / 1e9 }
    catch {
      case e: Throwable => System.err.println(s"[$label] failed: $e"); -1.0
    }
  }

  /** Two runs (run 1 keeps the cold-plan property; run 2 is a full
    * recompute — no operator uses persist/cache, localCheckpoints are
    * fresh blocks per invocation). Returns (best, raw runs): best = min
    * of the SUCCESSFUL runs, or -1.0 if both failed.
    */
  def best2(label: String)(f: => Unit): (Double, Seq[Double]) = {
    val runs = Seq(timeOnce(label)(f), timeOnce(label)(f))
    val ok = runs.filter(_ >= 0)
    (if (ok.nonEmpty) ok.min else -1.0, runs)
  }

  /** `v` rounded HALF_UP to `scale` decimals; the -1.0 failure
    * sentinel (any negative) prints as "-1.0".
    */
  def rounded(v: Double, scale: Int): String =
    if (v < 0) "-1.0"
    else BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString

  def r3(v: Double): String = rounded(v, 3)

  /** The 1/5/15-minute load averages as the raw /proc/loadavg tokens,
    * empty where the file is missing (off Linux) or malformed.
    */
  def loadavg(): Seq[String] =
    try parseLoadavg(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")))
    catch { case _: java.io.IOException => Nil }

  private[graft] def parseLoadavg(raw: String): Seq[String] = {
    val p = raw.trim.split(" ").take(3).toSeq
    if (p.length == 3 && p.forall(_.toDoubleOption.isDefined)) p else Nil
  }

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (< 0x20) — a tab or CR in hand-written oracle SQL would
    * otherwise make a reader's json.load fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
