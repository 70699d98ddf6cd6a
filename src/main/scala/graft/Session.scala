package graft

import org.apache.spark.sql.SparkSession

/** The one builder for harness sessions (Bench, Verify, ScaleBench,
  * PlanAudit, the test suites and the test-scope tools): a local master
  * over `cpus` cores with as many shuffle partitions, UTC session time,
  * AQE on, the replay harness's state width and the UI off. Callers add
  * their own confs through `extra`, applied after the shared ones.
  */
object Session {

  /** The harness core count: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A `k=v,k=v` list as pairs; entries without `=` are skipped. */
  def parseConfs(list: String): Seq[(String, String)] =
    list.split(",").toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v }

  def build(cpus: String, logLevel: Option[String] = Some("WARN"),
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      // replay-harness pin: the engine default for streaming state width is
      // cluster parallelism (scale-safe); the measured tiny-replay optimum
      // is 4 (see EventsStream.statePartitions) and belongs to the harness
      "graft.stream.statePartitions" -> "4",
      "spark.ui.enabled" -> "false")
    val spark = (shared ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    logLevel.foreach(spark.sparkContext.setLogLevel)
    spark
  }
}
