package graft

import scala.jdk.CollectionConverters._

/** [[Probe]]'s three modes, run in-process on the shared session: the
  * output formats the README's tooling table and the plan evidence under
  * `plans/` rely on. */
class ProbeSpec extends SparkSpec {

  private def probe(args: String*): Seq[String] = {
    val lines = Seq.newBuilder[String]
    Probe.run(spark, Probe.parse(args), lines += _)
    lines.result()
  }

  test("flags parse into options; the mode decides the default pass count") {
    val o = Probe.parse(Seq("q01_pricing_summary,q02_filter_project", "--sf", sf001,
      "--cpus", "2", "--conf", "a.b=1,c.d=x=y", "--explain", "plans_out", "--tag", "after"))
    assert(o.queries == Seq("q01_pricing_summary", "q02_filter_project"))
    assert(o.cpus == "2" && o.tag == "after" && o.explainDir.contains("plans_out"))
    assert(o.confs == Seq("a.b" -> "1", "c.d" -> "x=y"))
    assert(o.passes == 0, "--explain alone times nothing")
    assert(Probe.parse(Seq("q01_pricing_summary", "--sf", sf001)).passes == 1)
    assert(Probe.parse(Seq("q01_pricing_summary", "--sf", sf001, "--iso", "3")).passes == 3)
    intercept[IllegalArgumentException](Probe.parse(Seq("q01_pricing_summary", "--bogus")))
    intercept[IllegalArgumentException](Probe.parse(Seq("--sf", sf001)))
  }

  test("--iso prints one timing line per pass") {
    val out = probe("q01_pricing_summary", "--sf", sf001, "--iso", "1")
    assert(out.size == 1, out)
    assert(out.head.matches("""\[probe\] q01_pricing_summary pass=1 \d+\.\d{3} s rows=[1-9]\d* """ +
      """codegen\.compiles=\d+ codegen\.compile_ms=\d+"""), out.head)
  }

  test("--explain writes the header, the formatted plan and the AQE-final plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_probe_explain")
    val out = probe("q01_pricing_summary", "--sf", sf001, "--explain", dir.toString,
      "--tag", "spec")
    val file = dir.resolve("q01_pricing_summary_spec.txt")
    assert(out == Seq(s"[explain] wrote $file"))
    val lines = java.nio.file.Files.readAllLines(file).asScala.toSeq
    assert(lines.head == s"== q01_pricing_summary @ $sf001 (explain formatted) ==")
    assert(lines.contains("== Physical Plan =="))
    val executed = lines.dropWhile(_ != "== executed plan (AQE-final) ==")
    assert(executed.nonEmpty, "no executed-plan section")
    assert(executed(1).contains("AdaptiveSparkPlan isFinalPlan=true"), executed.take(2))
  }

  test("--stream prints the pass's batch count and one line per micro-batch") {
    val out = probe("q50_stream_tumbling", "--sf", sf001, "--stream")
    assert(out.head.matches("""\[probe\] q50_stream_tumbling pass=1 \d+\.\d{3} s rows=[1-9]\d* """ +
      """codegen\.compiles=\d+ codegen\.compile_ms=\d+"""), out)
    val summary = """\[probe\] q50_stream_tumbling pass=1 batches=(\d+) sum\(triggerExecution\)=\d+ms""".r
    val batches = out(1) match {
      case summary(n) => n.toInt
      case other      => fail(s"no batch summary line: $other")
    }
    val batchLines = out.drop(2)
    assert(batches > 0 && batchLines.size == batches, out)
    assert(batchLines.forall(_.matches("""  batch=\d+ rows=\d+ trigger=\d+ addBatch=\S+ .*""")), out)
    assert(batchLines.exists(_.contains(" state[commit=")), "the tumbling aggregate commits state")
    assert(spark.streams.active.isEmpty)
  }
}
