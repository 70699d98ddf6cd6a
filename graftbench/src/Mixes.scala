package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.{Relational, SimilarityOps, TextOps}
import graft.pipeline.{Letter, Sinks}
import graft.streaming.EventsStream

/** One timed operation of a pass. `span` is `<Module>.<function>`, the
  * public engine function the operation calls; `oracleKey` names its
  * `SparkEntry.oracleSql` entry when its output is checked against DuckDB.
  */
sealed trait Op {
  def span: String
  def module: String = span.takeWhile(_ != '.')
  def oracleKey: Option[String]
  /** Run the operation to completion (the timed part); returns its frame. */
  def apply(spark: SparkSession, dataDir: String): DataFrame
}

/** A query function, executed to its end through the `noop` sink, so that
  * the timed call pays for the query and nothing else. */
final case class QueryOp(key: String, span: String,
    fn: (SparkSession, String) => DataFrame) extends Op {
  def oracleKey: Option[String] = Some(key)
  def apply(spark: SparkSession, dataDir: String): DataFrame = {
    val df = fn(spark, dataDir)
    df.write.format("noop").mode("overwrite").save()
    df
  }
}

object QueryOp {
  /** Write a frame a timed call returned as parquet to `<outDir>/<key>`, for
    * the DuckDB check (outside every pass window; part files in partition
    * order, so the rows keep their emitted order). */
  def save(df: DataFrame, outDir: String, key: String): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/$key")
}

/** The archive sink: the letters of `clients` written through
  * `Sinks.archiveLetters` into the run's own archive directory. */
final case class ArchiveOp(clients: Seq[String], archiveDir: String) extends Op {
  def span: String = "Sinks.archiveLetters"
  def oracleKey: Option[String] = None
  def letters(spark: SparkSession, dataDir: String): DataFrame =
    Letter.lettersPlane(spark, dataDir).filter(col("client_name").isin(clients: _*))
  def apply(spark: SparkSession, dataDir: String): DataFrame = {
    val df = letters(spark, dataDir)
    Sinks.archiveLetters(df, archiveDir)
    df
  }
}

/** The three workloads: each one's query mix and the tables its set-up
  * resolves. */
object Mixes {
  /** Clients whose letters the archive sink writes, drawn from `seed`: the
    * most whose read-back check stays cheap. `Sinks.readClientArchive` lists
    * the whole archive to read one client, and reading 64 clients back took
    * 26-32 s on 4 vCPUs against 4.4-5.0 s for 32. 32 is also the default
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`. At 32 the sink writes about 1.4 s, a third of
    * it per client directory (about 11-16 ms each). Archiving every client is
    * out of reach: one month of requests (1,552 client directories) took
    * 23-30 s to write. */
  val ArchiveClients = 32

  def archiveClients(seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually(rnd.nextInt(15000)).distinct.take(ArchiveClients)
      .toSeq.sorted.map(k => f"Customer#$k%09d")
  }

  def tables(workload: String): Seq[String] = workload match {
    case "letter-etl"    => Seq("orders", "customer", "lineitem")
    case "corpus-dedup"  => Seq("documents", "embeddings")
    case "stream-replay" => Seq("events")
  }

  def ops(workload: String, seed: Long, archiveDir: String): Seq[Op] = workload match {
    case "letter-etl" => Seq(
      QueryOp("q12_validation_summary", "Letter.validationSummary", Letter.validationSummary),
      ArchiveOp(archiveClients(seed), archiveDir),
      QueryOp("q01_pricing_summary", "Relational.pricingSummary", Relational.pricingSummary))
    case "corpus-dedup" => Seq(
      QueryOp("q36_minhash_lsh", "TextOps.minhashLshPairs", TextOps.minhashLshPairs),
      QueryOp("q38_dedup_corpus", "TextOps.dedupCorpus", TextOps.dedupCorpus),
      QueryOp("q40_cosine_topk", "SimilarityOps.cosineTopK", SimilarityOps.cosineTopK))
    case "stream-replay" => Seq(
      QueryOp("q50_stream_tumbling", "EventsStream.streamingTumbling", EventsStream.streamingTumbling),
      QueryOp("q81_stream_sessions", "EventsStream.streamingSessionize", EventsStream.streamingSessionize))
  }
}
