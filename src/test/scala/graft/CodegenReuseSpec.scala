package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import graft.operators.{Analytics, TextOps}
import graft.streaming.EventsStream

/** Generated code survives the sessions the engine derives
  * ([[EventsStream.SharedCodegenCache]]): a streaming restart (each
  * `start()` runs in a cloned session) compiles nothing an earlier start
  * compiled, q62's loop session shares the same class loader, and the
  * caller's own session keeps its artifact isolation. */
class CodegenReuseSpec extends SparkSpec {

  private val isolationKey = EventsStream.SharedCodegenCache._1

  /** `f`'s result and the generated-code cache misses it caused. */
  private def compiles[A](f: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = f
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** Identity of the context class loader a batch task of `s` runs under:
    * one per session UUID when the session is isolated, the executor's
    * default loader otherwise. */
  private def taskLoader(s: SparkSession): Int =
    s.range(1).mapPartitions(_ => Iterator(
      System.identityHashCode(Thread.currentThread.getContextClassLoader)))(Encoders.scalaInt)
      .collect().head

  test("a second start of q50 and of q81 compiles nothing and returns the same rows") {
    Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "q50" -> EventsStream.streamingTumbling, "q81" -> EventsStream.streamingSessionize
    ).foreach { case (q, run) =>
      def rows: Seq[Row] = run(spark, sf001).collect().toSeq
      val (first, _) = compiles(rows)
      val (second, n) = compiles(rows)
      assert(first.nonEmpty, s"$q: vacuous, no rows")
      assert(n == 0, s"$q: the second start compiled $n units")
      assert(second == first, s"$q: a restart changed the output")
    }
  }

  test("a stream as a session's first action leaves the caller's isolation in place") {
    val fresh = spark.newSession()
    val before = fresh.conf.getOption(isolationKey)
    assert(EventsStream.streamingTumbling(fresh, sf001).collect().nonEmpty)
    assert(fresh.conf.getOption(isolationKey) == before,
      "the streaming scope must restore the caller's setting")
    // control: a session whose first job runs with isolation off uses the
    // executor's default loader
    val shared = spark.newSession()
    shared.conf.set(isolationKey, "false")
    val default = taskLoader(shared)
    assert(taskLoader(spark.newSession()) != default, "a new session runs isolated")
    val freshLoader = taskLoader(fresh)
    assert(freshLoader != default, "the caller's batch jobs must still run isolated")
    assert(taskLoader(fresh) == freshLoader)
  }

  test("q62's loop session runs its tasks under the shared class loader") {
    // with assets off every q62 call builds its labels in a fresh loop
    // session, and the frame it returns is planned in that session
    Analytics.withSessionConf(spark)("graft.assets.dir" -> "") {
      val loop = TextOps.dedupClusters(spark, sf001).sparkSession
      assert(loop ne spark, "q62 no longer runs its loop in a session of its own")
      val shared = spark.newSession()
      shared.conf.set(isolationKey, "false")
      assert(taskLoader(loop) == taskLoader(shared))
    }
  }
}
