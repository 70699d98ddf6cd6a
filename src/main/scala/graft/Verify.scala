package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name substrings — local
    // iteration on a handful of queries without the full 146-query dump
    // (the driver always calls with exactly two args = run everything)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) {
        val pats = args(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        // An empty/whitespace filter list means "no filter" — otherwise a
        // stray "" third arg would silently select zero queries and write
        // an empty correctness dump.
        if (pats.isEmpty) None else Some(pats)
      } else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val spark = Session.build(Session.envCpus, extra = Seq(
      // DuckDB/pyarrow-friendly timestamps in the dumped result parquet
      // (default INT96 is a legacy type some readers mis-handle).
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    // The correctness gate runs the STRONG form of conf-gated proofs:
    // q152 carries the batch-rebuild-equality twin and its n_mismatch
    // column here (bench leaves the proof off — the production shape).
    spark.conf.set("graft.ann.verifyRebuild", "true")
    // optional 4th arg: comma-separated k=v session confs, applied last, to
    // check a conf-gated query form (e.g. graft.minhash.dfCap=0)
    if (args.length > 3)
      Session.parseConfs(args(3)).foreach { case (k, v) => spark.conf.set(k, v) }
    // Wipe stale results: a failed query must not leave a previous run's
    // output behind for the compare to pick up.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Queries are independent; drop any internal caches so 60+ queries
      // don't accumulate storage in one driver JVM.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
