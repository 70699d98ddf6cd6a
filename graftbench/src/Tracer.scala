package graft.bench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters for a traced run, recorded from the benchmark's own
  * code: run → pass → query call spans are opened by the harness, Spark job
  * and stage spans by a `SparkListener` (a job's parent is the query call
  * that was active on the calling thread, passed as a local property).
  * Counters are cumulative; the harness reads them at pass boundaries after
  * draining the listener bus. Everything stays in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Long, Span]
  private val ids = new AtomicLong(0L)
  private val stageParent = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  CounterNames.foreach(n => counters.put(n, 0.0))

  private def add(name: String, v: Double): Unit = { counters.merge(name, v, (a, b) => a + b); () }

  def begin(name: String, parent: Long, startMs: Double = nowMs): Long = synchronized {
    val s = Span(ids.incrementAndGet(), parent, name, startMs, Double.NaN)
    spans += s; open(s.id) = s; s.id
  }

  def end(id: Long, endMs: Double = nowMs): Unit = synchronized {
    open.remove(id).foreach(_.end = endMs)
  }

  /** Cumulative counters, read after every queued listener event is delivered. */
  def counts(): Map[String, Double] = {
    GraftBridge.drainListenerBus(spark)
    counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      val id = begin(s"job ${e.jobId}", parent, e.time.toDouble)
      jobSpan.put(e.jobId, id)
      e.stageIds.foreach(s => stageParent.put(s, id))
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach(id => end(id, e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val parent = Option(stageParent.get(info.stageId)).map(_.longValue).getOrElse(0L)
      val start = info.submissionTime.map(_.toDouble).getOrElse(nowMs)
      end(begin(s"stage ${info.stageId}", parent, start),
        info.completionTime.map(_.toDouble).getOrElse(nowMs))
      add("exec.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.executor_run_ms", m.executorRunTime.toDouble)
        add("exec.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.task_gc_ms", m.jvmGCTime.toDouble)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("exec.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / MB)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
        add("Tables.input_mb", m.inputMetrics.bytesRead / MB)
        add("Tables.input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis" -> "plan.analysis_ms", "optimization" -> "plan.optimizer_ms",
          "planning" -> "plan.planning_ms").foreach { case (phase, name) =>
        phases.get(phase).foreach(p => add(name, p.durationMs.toDouble))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.input_rows", p.numInputRows.toDouble)
      add("streaming.trigger_ms", ms("triggerExecution"))
      add("streaming.add_batch_ms", ms("addBatch"))
      add("streaming.query_planning_ms", ms("queryPlanning"))
      add("streaming.wal_commit_ms", ms("walCommit"))
      add("streaming.commit_offsets_ms", ms("commitOffsets"))
      p.stateOperators.foreach { s =>
        add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
        add("streaming.state_rows", s.numRowsTotal.toDouble)
        add("streaming.state_mb", s.memoryUsedBytes / MB)
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `f` as a query-call span: jobs it starts on this thread become its children. */
  def call[T](name: String, parent: Long)(f: => T): T = {
    val id = begin(name, parent)
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProperty, id.toString)
    try f finally { sc.setLocalProperty(SpanProperty, null); end(id) }
  }

  /** All spans as one JSON document; `self_ms` is a span minus its children. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    GraftBridge.drainListenerBus(spark)
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val rows = spans.map { s =>
      val self = s.ms - childMs.getOrElse(s.id, 0.0)
      f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":$self%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, rows.mkString("{\"spans\":[\n", ",\n", "\n]}\n"))
    ()
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
  val MB: Double = 1024.0 * 1024.0

  /** Every listener counter, present (at 0) even when a workload never moves it. */
  val CounterNames: Seq[String] = Seq(
    "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_ms", "exec.executor_cpu_ms",
    "exec.task_gc_ms", "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "Tables.input_mb", "Tables.input_rows",
    "plan.analysis_ms", "plan.optimizer_ms", "plan.planning_ms",
    "streaming.batches", "streaming.input_rows", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.state_commit_ms", "streaming.state_rows", "streaming.state_mb")
  def nowMs: Double = System.currentTimeMillis().toDouble

  final case class Span(id: Long, parent: Long, name: String, start: Double, var end: Double) {
    def ms: Double = if (end.isNaN) 0.0 else end - start
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
