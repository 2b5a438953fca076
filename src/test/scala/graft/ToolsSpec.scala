package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The local tools' shared helpers ([[Tools]]), and a source scan that
  * keeps session construction and entry points from being copied back
  * into one-off mains.
  */
class ToolsSpec extends AnyFunSuite {

  test("best2: min of the successful runs, -1.0 when both fail") {
    var calls = 0
    val (best, runs) = Tools.best2("flaky") {
      calls += 1
      if (calls == 1) throw new RuntimeException("first run fails")
      Thread.sleep(5)
    }
    assert(runs.length == 2 && runs.head == -1.0 && runs(1) > 0)
    assert(best == runs(1))

    val (ok, okRuns) = Tools.best2("ok")(Thread.sleep(2))
    assert(okRuns.forall(_ > 0) && ok == okRuns.min)

    val (failed, failedRuns) =
      Tools.best2("broken")(throw new OutOfMemoryError("both runs fail"))
    assert(failed == -1.0 && failedRuns == Seq(-1.0, -1.0))
  }

  test("r3: HALF_UP at 3 decimals, negatives print the -1.0 sentinel") {
    assert(Tools.r3(1.2345) == "1.235")
    assert(Tools.r3(0.0005) == "0.001")
    assert(Tools.r3(2.0) == "2.000")
    assert(Tools.r3(-1.0) == "-1.0")
    assert(Tools.r3(-0.25) == "-1.0")
    assert(Tools.rounded(0.12345, 4) == "0.1235")
    assert(Tools.rounded(7.005, 2) == "7.01")
  }

  test("loadavg: the three raw tokens, or nothing, so the array falls back to []") {
    def json(raw: String) = Tools.parseLoadavg(raw).mkString("[", ",", "]")
    assert(Tools.parseLoadavg("0.52 1.08 2.00 3/812 41234\n") ==
      Seq("0.52", "1.08", "2.00"))
    assert(json("0.52 1.08 2.00 3/812 41234\n") == "[0.52,1.08,2.00]")
    assert(json("") == "[]")
    assert(json("0.52 1.08") == "[]")
    assert(json("n/a n/a n/a 1/2 3") == "[]")
  }

  test("jsonString escapes quote, backslash, tab, CR, LF and control chars") {
    assert(Tools.jsonString("plain") == "\"plain\"")
    assert(Tools.jsonString("a\"b") == "\"a\\\"b\"")
    assert(Tools.jsonString("a\\b") == "\"a\\\\b\"")
    assert(Tools.jsonString("a\tb\rc\nd") == "\"a\\tb\\rc\\nd\"")
    assert(Tools.jsonString("x\u0001y\u001fz") == "\"x\\u0001y\\u001fz\"")
    assert(Tools.jsonString("é ü") == "\"é ü\"")
  }

  test("src/main builds sessions only in Tools and Cli, and has four mains") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    def containing(needle: String): Set[String] = files.filter { f =>
      // code lines only: scaladoc may cite the builder API
      java.nio.file.Files.readAllLines(f).asScala
        .exists(l => l.contains(needle) && !l.trim.startsWith("*"))
    }.map(f => root.relativize(f).toString).toSet
    assert(containing("SparkSession.builder") ==
      Set("graft/Tools.scala", "graft/Cli.scala"))
    assert(containing("def main(") == Set("graft/Bench.scala",
      "graft/Verify.scala", "graft/Cli.scala", "graft/Probe.scala"))
  }
}
