package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The profiling tool (test scope): times, explains or breaks down named
  * [[SparkEntry.queries]] in a [[Session]]-built session.
  *
  * {{{
  * Test/runMain graft.Probe <q1,q2,...> [--sf DIR] [--cpus N] [--conf k=v,...]
  *   [--iso N] [--explain DIR [--tag T]] [--stream]
  * }}}
  *
  *  - `--sf` defaults to `SPARK_GRAFT_SF_DIR`, `--cpus` to `SPARK_GRAFT_CPUS`
  *    (4); `--conf` sets session confs before the first query.
  *  - `--iso N` times N passes of each query, each after `clearCache` and a
  *    `System.gc()`: `[probe] <q> pass=<i> <s> s rows=<n>`. The default is
  *    one pass, or none when `--explain` is the only mode. Later passes are
  *    the warm ones; only compare numbers taken at a quiet load average.
  *  - `--explain DIR` runs each query once more and writes
  *    `DIR/<q>_<T>.txt` (`--tag`, default `before`): a header, `explain
  *    formatted`, and the AQE-final executed plan.
  *  - `--stream` adds each pass's streaming progress: `[probe] <q> pass=<i>
  *    batches=<k> sum(triggerExecution)=<ms>ms`, then one line per batch
  *    with its `durationMs` phases and its state-store commits.
  */
object Probe {

  final case class Opts(queries: Seq[String], sf: String,
      cpus: String = Session.envCpus, confs: Seq[(String, String)] = Nil,
      iso: Option[Int] = None, explainDir: Option[String] = None,
      tag: String = "before", stream: Boolean = false) {
    def passes: Int = iso.getOrElse(if (explainDir.isDefined && !stream) 0 else 1)
  }

  private val usage = "usage: Probe <q1,q2,...> [--sf DIR] [--cpus N] " +
    "[--conf k=v,...] [--iso N] [--explain DIR [--tag T]] [--stream]"

  def parse(args: Seq[String]): Opts = {
    require(args.nonEmpty && !args.head.startsWith("--"), usage)
    @annotation.tailrec
    def go(rest: List[String], o: Opts): Opts = rest match {
      case Nil                    => o
      case "--sf" :: d :: t       => go(t, o.copy(sf = d))
      case "--cpus" :: n :: t     => go(t, o.copy(cpus = n))
      case "--conf" :: kvs :: t   => go(t, o.copy(confs = o.confs ++ Session.parseConfs(kvs)))
      case "--iso" :: n :: t      => go(t, o.copy(iso = Some(n.toInt)))
      case "--explain" :: d :: t  => go(t, o.copy(explainDir = Some(d)))
      case "--tag" :: tag :: t    => go(t, o.copy(tag = tag))
      case "--stream" :: t        => go(t, o.copy(stream = true))
      case other :: _ => throw new IllegalArgumentException(s"bad argument '$other'; $usage")
    }
    val o = go(args.tail.toList,
      Opts(args.head.split(",").toSeq, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "")))
    require(o.sf.nonEmpty, s"no --sf and no SPARK_GRAFT_SF_DIR; $usage")
    o
  }

  /** Streaming progress of the queries started while it is registered.
    * QueryStartedEvent reaches listeners synchronously, QueryTerminatedEvent
    * through the listener bus after the query's last progress event, so no
    * running query means every progress event has been delivered. */
  private final class ProgressLog extends StreamingQueryListener {
    import StreamingQueryListener._
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val running = new AtomicInteger(0)
    override def onQueryStarted(e: QueryStartedEvent): Unit = running.incrementAndGet(): Unit
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress): Unit
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = running.decrementAndGet(): Unit
    def drain(): Seq[StreamingQueryProgress] = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (running.get() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      val ps = progress.asScala.toSeq
      progress.clear()
      ps
    }
  }

  private def batchLine(p: StreamingQueryProgress): String = {
    def g(k: String) = Option(p.durationMs.get(k)).map(_.toString).getOrElse("-")
    s"  batch=${p.batchId} rows=${p.numInputRows} trigger=${g("triggerExecution")} " +
      s"addBatch=${g("addBatch")} getBatch=${g("getBatch")} latestOffset=${g("latestOffset")} " +
      s"planning=${g("queryPlanning")} walCommit=${g("walCommit")} " +
      s"commitOffsets=${g("commitOffsets")}" +
      p.stateOperators.map(so => s" state[commit=${so.commitTimeMs}ms rows=${so.numRowsTotal}]").mkString
  }

  def run(spark: SparkSession, o: Opts, emit: String => Unit = println(_)): Unit = {
    o.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val log = new ProgressLog
    if (o.stream) spark.streams.addListener(log)
    try o.queries.foreach { q =>
      val fn = SparkEntry.queries(q)
      (1 to o.passes).foreach { pass =>
        if (o.stream) log.drain()   // drop progress from earlier runs
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        val rows = fn(spark, o.sf).count()
        emit(f"[probe] $q pass=$pass ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$rows")
        if (o.stream) {
          val ps = log.drain()
          val trigger = ps.flatMap(p => Option(p.durationMs.get("triggerExecution"))).map(_.toLong).sum
          emit(s"[probe] $q pass=$pass batches=${ps.size} sum(triggerExecution)=${trigger}ms")
          ps.foreach(p => emit(batchLine(p)))
        }
      }
      o.explainDir.foreach { d =>
        val df = fn(spark, o.sf)
        df.collect()   // execute so AQE finalizes the plan
        val out = new java.io.File(d, s"${q}_${o.tag}.txt")
        out.getParentFile.mkdirs()
        val w = new java.io.PrintWriter(out, "UTF-8")
        try {
          w.println(s"== $q @ ${o.sf} (explain formatted) ==")
          w.println(df.queryExecution.explainString(FormattedMode))
          w.println("== executed plan (AQE-final) ==")
          w.println(df.queryExecution.executedPlan.toString)
        } finally w.close()
        emit(s"[explain] wrote ${out.getPath}")
      }
    } finally if (o.stream) spark.streams.removeListener(log)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val spark = Session.build(o.cpus)
    try run(spark, o) finally spark.stop()
  }
}
