package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-cliff probe: materialize a ~sf1 dataset by tiling sf0.1 tenfold
  * with disjoint key ranges, then run the expensive queries ONCE each and
  * report per-query seconds. The point is to catch superlinear blow-ups the
  * sf0.1 bench hides (LSH candidate volume, connected-components rounds,
  * fuzzy-match block sizes) — a query that is 10× the data should cost
  * ~10×, not 100×.
  *
  * Tiling is decorrelated so the copies don't degenerate into one giant
  * duplicate cluster:
  *  - `documents.text` goes through a per-tile consonant substitution
  *    (`translate`) — different tiles share no shingles, so near-dup
  *    density per document stays at the sf0.1 level while the corpus is
  *    10× larger (the honest scaling for dedup work).
  *  - `embeddings.embedding` gets a per-tile sign pattern over vector
  *    positions — cosine structure within a tile is preserved, across
  *    tiles decorrelated.
  *  - Fact keys (doc_id, vec_id, order/cust/part/supp keys, event ids) are
  *    offset by `tile * Stride`; FK edges (orders→customer,
  *    lineitem→orders/part/supplier, events→users) are offset together so
  *    joins stay referentially intact. Dimension FKs that stay un-tiled
  *    (nationkey/regionkey) are left alone.
  *
  * Usage: `sbt "runMain graft.ScaleBench"`; env knobs:
  *   SPARK_GRAFT_SRC_DIR   source scale dir      (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_SCALE_DIR tiled output dir      (default /tmp/graft_sf1)
  *   SPARK_GRAFT_TILES     tile count            (default 10)
  *   SPARK_GRAFT_CPUS      local parallelism     (default 16)
  * The tiled dir is reused if already materialized (delete it to re-tile).
  */
object ScaleBench {

  private val Stride = 100000000L // > any sf0.1 key; tiles never collide

  /** The queries worth stressing — since round 9 this is the WHOLE heavy
    * tail: every query whose isolated sf0.1 cost exceeded 0.5 s in the
    * round-8 bench (53 queries), unioned with the historical suspect set,
    * so the slope guard covers everything that could meaningfully regress
    * at scale, not just the known-risky operators.
    * `SPARK_GRAFT_SCALE_QUERIES` widens the run: `all` sweeps the entire
    * declared surface (the round-5 cliff audit), or a comma list picks
    * specific queries; default is this set.
    */
  private val ScaleQueries = Seq(
    // historical suspect set (kept even where now < 0.5 s)
    "q01_pricing_summary", "q13_letter_pipeline", "q24_asof_join",
    "q34_dedup_exact", "q57_salted_join",
    // the round-8 > 0.5 s tail, heaviest first
    "q126_semantic_dedup", "q101_corpus_pipeline", "q107_fuzzy_match",
    "q118_kmeans_train", "q117_quality_dedup", "q102_minhash_capped",
    "q62_dedup_clusters", "q119_stream_left_join", "q58_stream_join",
    "q35_ngram_jaccard", "q38_dedup_corpus", "q36_minhash_lsh",
    "q123_stream_session_window", "q89_collocations", "q37_simhash_pairs",
    "q128_dsir_select", "q110_stream_sliding_append", "q116_kmeans_step",
    "q108_stream_append", "q39_embedding_dedup", "q87_tfidf_terms",
    "q96_centroid_sim", "q114_sequence_pack", "q131_stream_kmv",
    "q80_stream_sliding", "q55_ivf_ann", "q95_lm_quality",
    "q50_stream_tumbling", "q81_stream_sessions", "q26_cube_pricing",
    "q106_scd2_dimension", "q112_stream_admission", "q122_hist_quantiles",
    "q56_stream_enrich", "q130_sketch_rollup", "q60_repetition_stats",
    "q41_lsh_neardup", "q98_multiset_ops", "q129_substr_dedup",
    "q25_range_join", "q71_session_window", "q121_countmin_audit",
    "q67_media_embed_knn", "q127_bpe_pairs", "q21_sessionize",
    "q40_cosine_topk", "q125_pq_recall", "q105_passage_dedup",
    "q70_unpivot_events", "q08_revenue_by_brand", "q90_chunk_dedup",
    "q53_frame_sample",
    // round-9 additions
    "q132_stream_kmv_update", "q133_media_neardup", "q134_bpe_train",
    "q135_bpe_encode", "q136_media_dup_groups", "q137_source_overlap",
    "q138_pagerank", "q139_lexical_retrieval", "q140_holt_forecast",
    "q141_table_profile",
    // round-10 additions
    "q142_hybrid_retrieval", "q143_neardup_decontaminate", "q144_ivfpq_ann",
    "q145_stream_topk", "q146_embedding_drift",
    // round-11 additions
    "q147_quality_classifier", "q148_unicode_normalize", "q149_domain_filter",
    // round-12 additions
    "q150_cluster_split", "q151_boilerplate_lines", "q152_index_maintenance",
    "q153_classifier_train", "q154_snapshot_diff",
    // round-14 additions (new queries + the reworked media decode/q52)
    "q155_html_extract", "q156_incremental_reprocess", "q52_media_features",
    "q157_audio_features",
    // round-15 additions
    "q158_hot_shingle_index", "q159_incremental_neardup", "q160_url_dedup",
    // round-16 additions (q161 is a driver-artifact parse + 8-key agg —
    // its narrow plan is PINNED by PlanAudit's exchange census, so the
    // exclusion is a gate, not a comment; covered by the all-surface sweeps)
    "q162_stream_neardedup",
    // round-17 additions (q163 is per-row codec work over the letters
    // plane — constant work per row, so its slope must read clean-linear)
    "q163_docx_roundtrip")

  private[graft] def selectedQueries: Seq[String] =
    sys.env.get("SPARK_GRAFT_SCALE_QUERIES") match {
      case Some("all") => SparkEntry.queries.keys.toSeq.sorted
      case Some(list)  => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None        => ScaleQueries
    }

  /** Nine-consonant substitution alphabet per tile — tile 0 is identity so
    * the base corpus rides along unchanged; other tiles get an md5-derived
    * permutation (a rotation family would cycle mod 9 and alias tile 9 onto
    * tile 0 — measured as 5 000 spurious exact-duplicate documents).
    */
  private def subst(tile: Int): String = {
    val src = "tnshrdlcm"
    if (tile == 0) src
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      src.sortBy(c => new java.math.BigInteger(1,
        md.digest(s"sub:$tile:$c".getBytes("UTF-8"))).longValue()).mkString
    }
  }

  /** Per-tile ±1 position mask for embeddings, md5 parity — a periodic
    * pattern like `(i + tile) % 3` repeats every 3 tiles and made tiles
    * {0,3,6,9} carry byte-identical vectors.
    */
  private def embMask(tile: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      if (tile == 0) 1.0
      else (java.lang.Byte.toUnsignedInt(
        md.digest(s"emb:$tile:$i".getBytes("UTF-8"))(0)) % 2) * 2.0 - 1.0
    }
  }

  /** Per-tile customer-name marker: 4 repeated letters so any cross-tile
    * name pair is ≥4 edits apart (the fuzzy-match verifier caps at 2) —
    * un-marked tiling gave every customer 9 exact-name twins and a
    * quadratic fuzzy-match output that no real 10× corpus would have. The
    * marker goes at the TAIL because q107's blocking keys are
    * suffix-window deletion variants (Relational.FuzzyWindow): a front
    * marker is invisible to the window, so all 20 tiled copies of a name's
    * distinguishing tail landed in ONE variant block — the df cap then
    * dropped genuine within-tile pairs (measured: ×20 emitted FEWER rows
    * than ×10). Decorrelation must perturb the part of the record the
    * blocking key actually reads, same reason the document tiles
    * substitute consonants (shingles) rather than prepending a banner.
    */
  private def nameMark(tile: Int): String =
    if (tile == 0) "" else " " + ('A' + tile - 1).toChar.toString * 4

  private def tileTable(spark: SparkSession, src: String, out: String,
                        table: String, tiles: Int): Unit = {
    val base = spark.read.parquet(s"$src/$table.parquet")
    val tiled = (0 until tiles).map { t =>
      val off = t.toLong * Stride
      table match {
        case "documents" =>
          base.select(
            (col("doc_id") + off).as("doc_id"),
            translate(col("text"), subst(0), subst(t)).as("text"),
            col("lang"), col("source"), col("n_chars"))
        case "embeddings" =>
          val mask = array(embMask(t, 64).map(lit(_)): _*)
          base.select(
            (col("vec_id") + off).as("vec_id"),
            transform(col("embedding"),
              (x, i) => (x * element_at(mask, (i + 1).cast("int"))).cast("float"))
              .as("embedding"),
            col("label"))
        case "orders" =>
          base.withColumn("o_orderkey", col("o_orderkey") + off)
            .withColumn("o_custkey", col("o_custkey") + off)
        case "customer" =>
          base.withColumn("c_custkey", col("c_custkey") + off)
            .withColumn("c_name", concat(col("c_name"), lit(nameMark(t))))
        case "lineitem" =>
          base.withColumn("l_orderkey", col("l_orderkey") + off)
            .withColumn("l_partkey", col("l_partkey") + off)
            .withColumn("l_suppkey", col("l_suppkey") + off)
        case "part" =>
          base.withColumn("p_partkey", col("p_partkey") + off)
        case "supplier" =>
          base.withColumn("s_suppkey", col("s_suppkey") + off)
        case "events" =>
          base.withColumn("event_id", col("event_id") + off)
            .withColumn("user_id", col("user_id") + off)
        case _ => base // region/nation: un-tiled dimensions
      }
    }.reduce(_ unionAll _)
    tiled.write.mode("overwrite").parquet(s"$out/$table.parquet")
  }

  private[graft] def session(cpus: String): SparkSession = {
    val spark = Session.build(cpus)
    // the scale probes measure the BUILD plans: with the persisted asset
    // layer on, q36/q38/q101/q102's pipelines would collapse to a parquet
    // scan of whichever JVM built the artifact first, and the slope rows
    // would grade artifact I/O instead of the signature→band→verify plan
    spark.conf.set(graft.assets.AssetStore.DirConf, "")
    // if events carries TIMESTAMP(NANOS), read it as raw long so the tiled
    // copy round-trips as plain INT64 nanos; Tables.normalizeEventTs probes
    // the tiled layout either way (micros layouts are unaffected)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** Materialize the `tiles`×`src` decorrelated dataset at `out` (reused if
    * the marker file already exists — delete the dir to re-tile). */
  private[graft] def ensureTiled(spark: SparkSession, src: String, out: String,
      tiles: Int): Unit = {
    val marker = new java.io.File(s"$out/_TILED_$tiles")
    if (!marker.exists()) {
      val t0 = System.nanoTime()
      // a shared dir re-tiled at a DIFFERENT count would otherwise carry two
      // markers, and a later run at the old count would silently measure
      // wrong-scale data — stale sibling markers die with the re-tile
      Option(marker.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("_TILED_")).foreach(_.delete())
      Seq("documents", "embeddings", "orders", "customer", "lineitem",
          "part", "supplier", "events", "region", "nation")
        .foreach(tileTable(spark, src, out, _, tiles))
      marker.getParentFile.mkdirs(); marker.createNewFile()
      System.err.println(f"[scale] tiled $tiles×$src in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  def main(args: Array[String]): Unit = {
    val loadBefore = LoadEvidence.loadavg
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val tiles = sys.env.getOrElse("SPARK_GRAFT_TILES", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = session(cpus)
    ensureTiled(spark, src, out, tiles)

    // a failed query's elapsed-to-exception time is not a measurement: keep
    // it OUT of the queries map and the total (same rule as Bench's
    // single-pass path); the errors array names what broke
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = selectedQueries.flatMap { name =>
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = try SparkEntry.queries(name)(spark, out).count()
              catch { case e: Throwable =>
                System.err.println(s"[scale] $name failed: ${e.getMessage}")
                errors += s"$name: ${e.getClass.getSimpleName}"; -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] $name%-22s $sec%8.2f s  ($n rows)")
      if (n >= 0) Some(name -> sec) else None
    }
    // Label-reuse path: a composed pipeline that just ran q62 already holds
    // the cluster labels, so q117's marginal cost on top of them is one
    // quality projection + window + join — measure that form separately
    // (the standalone q117 row above stays the oracle-checked composition).
    val shared =
      if (results.exists(_._1 == "q117_quality_dedup")) {
        val labels = graft.operators.TextOps.dedupClusters(spark, out).localCheckpoint()
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        val n = graft.operators.TextOps.qualityDedupOf(spark, out, labels).count()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scale] q117_shared_labels    $sec%8.2f s  ($n rows)")
        Seq("q117_shared_labels" -> sec)
      } else Seq.empty
    // Isolated re-timing of the five costliest (one solo run each at this
    // SF — the sweep position is the cold number, this is the warm one):
    // the recorded pair lets in-sequence weather be adjudicated against
    // evidence (the r4–r6 profiles showed heavies at ~half cost isolated).
    // an isolated attempt that throws is not a measurement: drop the pair
    // and name it in errors (same rule as the sweep rows above)
    val heavies = results.sortBy(-_._2).take(5).flatMap { case (name, seq) =>
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(name)(spark, out).count(); true }
               catch { case e: Throwable =>
                 errors += s"$name: isolated ${e.getClass.getSimpleName}"; false }
      val iso = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] iso $name%-18s $iso%8.2f s" + (if (ok) "" else " FAILED"))
      if (ok) Some(name -> (seq, iso)) else None
    }
    // extras are measurements of non-query forms (label reuse): kept OUT of
    // the queries map so sum(queries) == value and every queries key is a
    // declared SparkEntry name
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ex = shared.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val hv = heavies.map { case (k, (a, b)) =>
      s"\"$k\":{\"in_sequence\":$a,\"isolated\":$b}" }.mkString("{", ",", "}")
    val errs = errors.map(e => "\"" + e.replace("\"", "'") + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"scale_total","value":${results.map(_._2).sum},"unit":"sec","queries":$qs,"extras":$ex,"heavies":$hv,"errors":$errs,${LoadEvidence.json(loadBefore)},"sf":"$src x$tiles","tiles":$tiles}""")
    // tiny trailing twin of the total: the driver keeps only the tail of
    // stdout, which truncates the front-loaded total off the big line
    println(s"""{"metric":"scale_total","tail":true,"value":${results.map(_._2).sum},"unit":"sec","n_queries":${results.size},"errors_n":${errors.size},${LoadEvidence.json(loadBefore)},"tiles":$tiles}""")
    spark.stop()
  }
}

/** The ×10/×20 tiling slope probe promoted from round-7 narrative to a
  * machine-readable regression guard: for each selected query, measure
  * WARM seconds at both tilings in one JVM and compare — per-query slope
  * (t20/t10) materially above 2 at exactly-2× data is the signature of a
  * quadratic operator (this protocol caught q41's uncapped LSH bucket join
  * at slope 4.27 in round 7; every smaller test had missed it).
  *
  * Protocol per query (all in this JVM, caches cleared before every run):
  * r1 = ×10 (absorbs the query's JIT), r2 = ×20, r3 = ×10 again;
  * slope_raw = r2 / min(r1, r3). A query whose raw slope exceeds
  * [[SlopeProbe.SlopeThreshold]] gets a PAIRED confirmation — three
  * alternating (×10, ×20) runs whose per-pair ratios cancel the monotonic
  * JVM drift a 60+-probe sweep accumulates; the median paired slope
  * replaces the raw one when smaller — before it may be called a failure.
  * In-sequence single-shot slopes swing with JIT position and co-resident
  * memory pressure (round 7 measured a "3.25" on a single hash aggregate
  * that vanished in a clean JVM; round 9 measured q35 at 2.43 in-sequence
  * vs 1.48 clean-JVM).
  *
  * Verdicts: `pass` (slope ≤ threshold), `allowlisted` (documented
  * by-design superlinear instantiations, reason attached), `output-bound`
  * (time grows slower than the query's own answer AND the query is in the
  * documented [[SlopeProbe.OutputGrowthAllowlist]]), `fail` (confirmed >
  * threshold, or output-bound without an allowlist entry). Output: one
  * JSON line (+ tiny trailing twin) with per-query {t10, t20, rows10,
  * rows20, slope, verdict}; process exit is 1 iff any `fail` OR any probed
  * query crashed (a query that cannot complete at 2× data is the worst
  * scale regression, not a skippable row) — so the probe can gate a round
  * the way a test does.
  *
  * Env: SPARK_GRAFT_SCALE_QUERIES (default: the suspect set; `all` sweeps
  * everything), SPARK_GRAFT_CPUS, SPARK_GRAFT_SRC_DIR; tiled dirs are the
  * round-7 convention (/tmp/graft_sf1 at ×10, /tmp/graft_sf2 at ×20).
  */
/** Single-query clean-JVM slope measurement — the child process
  * [[SlopeProbe]] spawns to ADJUDICATE a suspect: per scale, one warm-up
  * run then one timed run (both page-cache-warm), slope = t20/t10. A fresh
  * JVM removes every in-sequence confounder at once (code-cache churn,
  * heap fragmentation, asymmetric page-cache warmth between the two tiled
  * dirs). Prints one JSON line the parent parses.
  */
object SlopeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0); val d10 = args(1); val d20 = args(2)
    val cpus = if (args.length > 3) args(3) else "24"
    val spark = ScaleBench.session(cpus)
    def run(dir: String): Double = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    run(d10); val t10 = run(d10)
    run(d20); val t20 = run(d20)
    // s-interpolated raw doubles, NOT %f (locale-dependent decimal comma
    // would break the parent's parse) — the repo-wide JSON-line rule
    println(s"""{"metric":"slope_one","query":"$name","t10":$t10,"t20":$t20,"slope":${t20 / t10}}""")
    spark.stop()
  }
}

object SlopeProbe {

  val SlopeThreshold = 2.2

  /** Run [[SlopeOne]] for `name` in a fresh JVM (same classpath, module
    * opens, heap and Spark -D options as this forked probe JVM) and parse
    * its (t10, t20, slope). None on spawn failure or a crashed child — the
    * in-sequence verdict then stands. */
  private def cleanJvmSlope(name: String, d10: String, d20: String,
      cpus: String): Option[(Double, Double, Double)] = {
    import scala.sys.process._
    val cp = System.getProperty("java.class.path")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("java.base/") ||
                   a.startsWith("-Xmx") || a.startsWith("-XX:") ||
                   a.startsWith("-Dspark."))
    val cmd = Seq("java") ++ jvmArgs ++
      Seq("-cp", cp, "graft.SlopeOne", name, d10, d20, cpus)
    val out = new StringBuilder
    try {
      val rc = Process(cmd).!(ProcessLogger(l => { out.append(l).append('\n'); () }, _ => ()))
      if (rc != 0) None
      else """"t10":([0-9.eE+-]+),"t20":([0-9.eE+-]+),"slope":([0-9.eE+-]+)""".r
        .findFirstMatchIn(out.toString)
        .map(m => (m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble))
    } catch { case _: Throwable => None }
  }

  /** Documented by-design superlinear harness instantiations — each entry
    * must name the production growth lever that keeps the real deployment
    * linear. An allowlisted query still reports its measured slope. */
  val Allowlist: Map[String, String] = Map()
  // EMPTY since round 16. History: q36 lived here through round 13
  // (uncapped hot-shingle baseline, slope 1.67) until round 14 made the df
  // cap default-on (TextOps.DefaultDfCap); q126 lived here through round 15
  // (pinned K=16 → pair work n²/K at fixed K) until round 16 made the
  // MEASURED K ∝ n rule the shipped default (SimilarityOps
  // .SemDedupClusterWidth — the oracle renders the recorded K), so the
  // probe now grades q126's default form on a real verdict.

  /** Queries whose OUTPUT legitimately grows superlinearly under the
    * decorrelated tiling (so time may track the answer, not the data):
    * ×20 offers C(20,2)=190 cross-tile near-pair opportunities vs ×10's 45,
    * and the md5-derived embedding sign masks leave residual cross-tile
    * cosine ≥ 0.4 pairs. An `output-bound` verdict is EXIT-CLEAN only for
    * entries here; any new output-bound query fails the run and must be
    * adjudicated into this list — otherwise a broken cap whose pair
    * explosion reaches the output would sail through (time ∝ answer ∝ n²).
    */
  val OutputGrowthAllowlist: Map[String, String] = Map(
    "q41_lsh_neardup" ->
      ("sign-LSH near-dup pairs over the tiled embeddings: cross-tile " +
       "mask-residual pairs grow with C(tiles,2), measured rows ×3.3 at " +
       "×2 data with per-output-row time FALLING"),
    "q39_embedding_dedup" ->
      ("consumes q41's pair set (greedy keep-lowest anti-join), so its " +
       "victim volume inherits the same C(tiles,2) cross-tile growth"),
    "q37_simhash_pairs" ->
      ("SimHash doc-pair output grows ×2.17 at ×2 data (8.0M → 17.4M " +
       "rows — hot-fingerprint groups pair quadratically in group size, " +
       "which is the ANSWER, not a plan defect); clean-JVM warm per-row " +
       "time FALLS (0.538 → 0.529 µs/row, round-9 measurement), so its " +
       "slope rides the answer at ~2.1-2.3 and flickers across the 2.2 " +
       "threshold with sweep weather"))

  /** An output-bound query's per-row time still swings with JIT position
    * and co-resident memory pressure — the round-9 wide sweep measured
    * q37 at slope 2.33 in-sequence vs 2.13 clean-JVM (rows ×2.17). The
    * verdict therefore allows per-output-row drift up to this factor; a
    * real quadratic outruns its answer MATERIALLY (q41 pre-cap measured
    * slope 4.27 vs rows ×3.3 — ×1.29 per-row growth at one doubling,
    * compounding per doubling — while weather drift does not compound). */
  val OutputBoundTolerance = 1.15

  /** t10 floor below which the first ×10 run is treated as an UNTIMED warm
    * pass (cold JIT dominates sub-½-second rows — q160 round 15). */
  val SubSecondWarmFloor = 0.5

  def main(args: Array[String]): Unit = {
    val loadBefore = LoadEvidence.loadavg
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "24")
    val d10 = "/tmp/graft_sf1"
    val d20 = "/tmp/graft_sf2"
    val spark = ScaleBench.session(cpus)
    ScaleBench.ensureTiled(spark, src, d10, 10)
    ScaleBench.ensureTiled(spark, src, d20, 20)

    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    def time(name: String, dir: String): Option[(Double, Long)] = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      try {
        val n = SparkEntry.queries(name)(spark, dir).count()
        Some(((System.nanoTime() - t0) / 1e9, n))
      } catch { case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}"; None }
    }

    val rows = ScaleBench.selectedQueries.flatMap { name =>
      // Warm-up rule (round 16): for sub-½-second queries the first run is
      // dominated by cold-JIT/planning constants, not data — q160's 0.18 s
      // t10 read slope 2.196 in round 15 and cost a confirmation pass. The
      // first ×10 run doubles as the detector: if it comes back under the
      // floor, discard it as an UNTIMED warm pass and measure from the
      // warmed state; heavier queries keep it as their r1 (no extra cost).
      val warmProbe = time(name, d10)
      val r1Opt = warmProbe match {
        case Some((t, _)) if t < SubSecondWarmFloor => time(name, d10)
        case other => other
      }
      val probe = for {
        (r1, n10) <- r1Opt
        (r2, n20) <- time(name, d20)
        (r3, _)   <- time(name, d10)
      } yield {
        var t10 = math.min(r1, r3)
        var t20 = r2
        var slope = t20 / t10
        if (slope > SlopeThreshold) {
          // PAIRED confirmation: by this point in a 60+-probe sweep the
          // shared JVM carries monotonic drift (storage pressure, code-cache
          // churn), which inflates whichever scale runs later — round 9
          // measured q35 at 2.43 in-sequence vs 1.48 in a clean JVM.
          // Alternating ×10/×20 within adjacent pairs cancels that drift
          // inside each ratio; the MEDIAN of three paired slopes is robust
          // to one bad draw, and a genuine quadratic still reads ≈4 on
          // every pair. Keep the smaller of the first-pass slope and the
          // paired median (with its generating pair, so the artifact's
          // t10/t20/slope stay consistent).
          val cands = (1 to 3).flatMap { _ =>
            for { (a, _) <- time(name, d10); (b, _) <- time(name, d20) }
              yield (b / a, a, b)
          }.sorted
          if (cands.nonEmpty) {
            val (ms, ma, mb) = cands(cands.size / 2)
            if (ms < slope) { slope = ms; t10 = ma; t20 = mb }
          }
        }
        if (slope > SlopeThreshold) {
          // FINAL adjudication in a fresh child JVM — the clean-JVM number
          // has been "the measurement of record" in every round's manual
          // triage (q35: 2.43 in-sequence vs 1.48 clean; q123: 2.25 vs
          // 1.60), because a 60+-probe sweep leaves the shared JVM with
          // confounders pairing cannot cancel (the ×10 dir's files are
          // touched twice per probe, so its page cache is warmer than
          // ×20's). Automate that triage: spawn SlopeOne with this JVM's
          // own module/heap options; a genuine quadratic still reads ≈4
          // there, so nothing real can hide behind the adjudication.
          // Up to 3 children, early exit once one clears the threshold:
          // each child's slope is internally consistent (one JVM, one
          // cache state), so the MINIMUM across children is the least-
          // contended measurement — and a genuine quadratic reads ≈4 in
          // every child, so retrying cannot hide one. (Round-9 close: a
          // single child read q37 at 2.66 under sweep-parent contention
          // where three standalone children read 2.26/2.12/2.23.)
          var childTries = 0
          while (childTries < 3 && slope > SlopeThreshold) {
            childTries += 1
            cleanJvmSlope(name, d10, d20, cpus).foreach { case (a, b, s) =>
              System.err.println(f"[slope] $name%-24s clean-JVM adjudication #$childTries: t10=$a%7.2f t20=$b%7.2f slope=$s%5.2f")
              if (s < slope) { slope = s; t10 = a; t20 = b }
            }
          }
        }
        // A candidate-verify operator's work is ≥ Θ(its answer), and the
        // decorrelated tiling's ANSWER can itself grow superlinearly (×20
        // has C(20,2)=190 cross-tile near-pair opportunities vs ×10's 45 —
        // q41's rows grew 3.3× at 2× data). Time growing SLOWER than the
        // output is output-bound data physics, not an operator quadratic;
        // the quadratic signature is time outrunning both the data and the
        // answer.
        val outGrowth = n20.toDouble / math.max(n10, 1L)
        val verdict =
          if (Allowlist.contains(name)) "allowlisted"
          else if (slope <= SlopeThreshold) "pass"
          else if (slope <= outGrowth * OutputBoundTolerance && OutputGrowthAllowlist.contains(name)) "output-bound"
          else "fail"
        System.err.println(f"[slope] $name%-24s t10=$t10%7.2f t20=$t20%7.2f slope=$slope%5.2f rows_x=$outGrowth%4.2f  $verdict")
        (name, t10, t20, n10, n20, slope, verdict)
      }
      if (probe.isEmpty) System.err.println(s"[slope] $name FAILED to run")
      probe
    }

    // (round 16) the q126_scaled_k lever row retired: K ∝ n is now
    // q126_semantic_dedup's DEFAULT (SimilarityOps.resolvedSemK), so the
    // standing q126 row above IS the levered measurement at both tilings
    // (it resolves K=16@×10, K=32@×20 — the exact constants this probe
    // measured as a separate row in rounds 14-15).
    val scaledRow: Seq[(String, Double, Double, Long, Long, Double, String)] = Seq.empty

    // Band-width ∝ log2(n) lever measurement: q41's output-bound entry
    // documents that production keeps band-bucket occupancy constant by
    // widening bands as the corpus grows. Demonstrate it with DETERMINISTIC
    // candidate COUNTS (no timing weather): candidates at bits=12/×10 vs
    // bits=13/×20 must grow ≤2.6× (linear 2× plus the C(tiles,2) true-pair
    // floor the tiling adds), while the un-levered bits=12/×20 run must
    // exceed the levered ratio by ≥1.3× (the lever visibly bites).
    // Round-9 measurements: 577k → 1.88M fixed (×3.27) vs → 1.21M levered
    // (×2.10).
    val scaledBits =
      if (!ScaleBench.selectedQueries.contains("q41_lsh_neardup")) Seq.empty
      else {
        def cand(dir: String, bits: Int): Option[(Double, Long)] = {
          spark.conf.set("graft.lsh.bandBits", bits.toString)
          try {
            spark.catalog.clearCache(); System.gc()
            val t0 = System.nanoTime()
            val n = graft.operators.SimilarityOps.lshCandidates(spark, dir).count()
            Some(((System.nanoTime() - t0) / 1e9, n))
          } catch { case e: Throwable =>
            errors += s"q41_scaled_bits: ${e.getClass.getSimpleName}"; None }
          finally spark.conf.unset("graft.lsh.bandBits")
        }
        val probe = for {
          (t10b, c10)      <- cand(d10, 12)
          (_, c20Fixed)    <- cand(d20, 12)
          (t20b, c20Scaled) <- cand(d20, 13)
        } yield {
          val scaledRatio = c20Scaled.toDouble / math.max(c10, 1L)
          val fixedRatio = c20Fixed.toDouble / math.max(c10, 1L)
          val verdict =
            if (scaledRatio <= 2.6 && fixedRatio > scaledRatio * 1.3) "pass" else "fail"
          System.err.println(f"[slope] q41_scaled_bits (bits prop log n) cand_x_scaled=$scaledRatio%4.2f cand_x_fixed=$fixedRatio%4.2f  $verdict")
          ("q41_scaled_bits", t10b, t20b, c10, c20Scaled, scaledRatio, verdict)
        }
        if (probe.isEmpty) System.err.println(s"[slope] q41_scaled_bits FAILED to run")
        probe.toSeq
      }

    // Beyond-broadcast lever measurement (round 17): q162's size-gated
    // candidate join. The in-sweep q162 row times the DEFAULT form (the
    // harness index sits under the gate → broadcast); this row forces the
    // gate SHUT (threshold 0) so the partitioned+sorted stream-static
    // sort-merge path — the 100 TB form — is MEASURED at ×10/×20, not just
    // spec-proven identical: it must stay data-linear on its own slope.
    val scaledGate =
      if (!ScaleBench.selectedQueries.contains("q162_stream_neardedup")) Seq.empty
      else {
        def timeGated(dir: String): Option[(Double, Long)] = {
          spark.conf.set(graft.streaming.DocsStream.BroadcastMaxKeysConf, "0")
          try {
            spark.catalog.clearCache(); System.gc()
            val t0 = System.nanoTime()
            val n = SparkEntry.queries("q162_stream_neardedup")(spark, dir).count()
            Some(((System.nanoTime() - t0) / 1e9, n))
          } catch { case e: Throwable =>
            errors += s"q162_scaled_gate: ${e.getClass.getSimpleName}"; None }
          finally spark.conf.unset(graft.streaming.DocsStream.BroadcastMaxKeysConf)
        }
        val probe = for {
          (r1, n10) <- timeGated(d10)
          (t20, n20) <- timeGated(d20)
          (r3, _)   <- timeGated(d10)
        } yield {
          val t10 = math.min(r1, r3)
          val slope = t20 / t10
          val verdict = if (slope <= SlopeThreshold) "pass" else "fail"
          System.err.println(f"[slope] q162_scaled_gate (forced beyond-broadcast) t10=$t10%7.2f t20=$t20%7.2f slope=$slope%5.2f  $verdict")
          ("q162_scaled_gate", t10, t20, n10, n20, slope, verdict)
        }
        if (probe.isEmpty) System.err.println(s"[slope] q162_scaled_gate FAILED to run")
        probe.toSeq
      }

    // Dense-index lever measurement: q142's production path
    // (graft.hybrid.denseIndex=true) feeds the dense arm from IVF-PQ
    // candidates instead of the exhaustive exact-cosine scan. Demonstrate
    // the lever at scale: the indexed form must stay data-linear ×10→×20
    // (its own slope row), AND at ×20 it must be measurably cheaper than
    // the exact form it replaces (the lever visibly bites where it
    // matters — the in-sweep q142 row times the exact/contractual form).
    val scaledIndex =
      if (!ScaleBench.selectedQueries.contains("q142_hybrid_retrieval")) Seq.empty
      else {
        def timeMode(dir: String, indexed: Boolean): Option[(Double, Long)] = {
          spark.conf.set("graft.hybrid.denseIndex", indexed.toString)
          try {
            spark.catalog.clearCache(); System.gc()
            val t0 = System.nanoTime()
            val n = SparkEntry.queries("q142_hybrid_retrieval")(spark, dir).count()
            Some(((System.nanoTime() - t0) / 1e9, n))
          } catch { case e: Throwable =>
            errors += s"q142_scaled_index: ${e.getClass.getSimpleName}"; None }
          finally spark.conf.unset("graft.hybrid.denseIndex")
        }
        val probe = for {
          (r1, n10)     <- timeMode(d10, indexed = true)
          (t20i, n20)   <- timeMode(d20, indexed = true)
          (t20e, _)     <- timeMode(d20, indexed = false)
          (r3, _)       <- timeMode(d10, indexed = true)
        } yield {
          val t10i = math.min(r1, r3)
          val slope = t20i / t10i
          val exactRatio = t20e / t20i
          // pass = the indexed form stays data-linear. The exact/indexed
          // ratio is RECORDED, not gated: at harness batch size (32
          // queries) the one-off index build isn't amortized, so wall-time
          // parity is expected here — the lever's 100 TB claim (dense work
          // = nprobe/K code reads, never a float-corpus scan) is proven
          // deterministically by HybridIndexSpec's join metrics and the
          // PlanAudit shape, and the index cost amortizes across query
          // batches in a serving deployment.
          val verdict = if (slope <= SlopeThreshold) "pass" else "fail"
          System.err.println(f"[slope] q142_scaled_index (IVF-PQ dense arm) t10=$t10i%7.2f t20=$t20i%7.2f slope=$slope%5.2f exact/indexed@x20=$exactRatio%4.2f  $verdict")
          ("q142_scaled_index", t10i, t20i, n10, n20, slope, verdict)
        }
        if (probe.isEmpty) System.err.println(s"[slope] q142_scaled_index FAILED to run")
        probe.toSeq
      }

    // Deterministic work-volume rows for the thin-margin TIMING rows
    // (q35 ~2.13, q107 ~2.04, q117 ~2.13 in round 10 — passes, but one
    // weather gust from the threshold): each records the query's dominant
    // work driver as an exact COUNT at ×10/×20, immune to timing weather.
    // A future timing flicker across 2.2 is then adjudicable from the same
    // artifact: volume ratio ~2 with time ratio >2.2 is machine weather by
    // construction; a volume ratio that ITSELF exceeds the bound is a real
    // regression and fails the run here and now. (t10/t20 carry the volume
    // computation's wall time — informational, not the verdict.)
    def volumeRow(name: String, gate: String)(vol: String => Long)
        : Seq[(String, Double, Double, Long, Long, Double, String)] =
      if (!ScaleBench.selectedQueries.contains(gate)) Seq.empty
      else {
        val probe =
          try {
            val t0 = System.nanoTime()
            val v10 = vol(d10)
            val t1 = System.nanoTime()
            val v20 = vol(d20)
            val t2 = System.nanoTime()
            val ratio = v20.toDouble / math.max(v10, 1L)
            // 2.6 = linear ×2 plus the C(tiles,2) cross-tile floor the
            // decorrelated tiling adds (the q41_scaled_bits bound)
            val verdict = if (ratio <= 2.6) "pass" else "fail"
            System.err.println(f"[slope] $name%-24s vol10=$v10%9d vol20=$v20%9d ratio=$ratio%4.2f  $verdict")
            Seq((name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, v10, v20, ratio, verdict))
          } catch { case e: Throwable =>
            errors += s"$name: ${e.getClass.getSimpleName}"; Seq.empty }
        if (probe.isEmpty) System.err.println(s"[slope] $name FAILED to run")
        probe
      }
    val volumeRows =
      volumeRow("q35_volume", "q35_ngram_jaccard") { d =>
        // UNCAPPED, because the timed q35 row times the uncapped
        // oracle-checked query — a capped twin would stop tracking the
        // timed query's actual C(df,2) work the moment any shingle's df
        // crossed the cap, mislabeling a real super-linear regression as
        // machine weather. (At harness SFs max df ≪ 64, so this equals the
        // production stop-shingle-levered volume bit-for-bit today.)
        graft.operators.TextOps.ngramExpansionVolume(spark, d)
      } ++
      volumeRow("q107_volume", "q107_fuzzy_match") { d =>
        graft.operators.Relational.fuzzyCandidates(spark, d).count()
      } ++
      volumeRow("q117_volume", "q117_quality_dedup") { d =>
        graft.operators.TextOps.simhashEdgeVolume(spark, d)
      } ++
      // q150 rides the SAME near-dup edge volume as q62/q117 (its split
      // logic downstream of the CC pass is linear), so its thin ~2.1-2.2
      // slope is adjudicated by the same deterministic work twin
      volumeRow("q150_volume", "q150_cluster_split") { d =>
        graft.operators.TextOps.simhashEdgeVolume(spark, d)
      }

    val all = rows ++ scaledRow ++ scaledGate ++ scaledBits ++ scaledIndex ++ volumeRows
    val failed = all.filter(_._7 == "fail")
    val qs = all.map { case (n, t10, t20, n10, n20, s, v) =>
      s""""$n":{"t10":$t10,"t20":$t20,"rows10":$n10,"rows20":$n20,"slope":$s,"verdict":"$v"}"""
    }.mkString("{", ",", "}")
    // Field renamed allowlist → output_growth_notes (round 17): since round
    // 16 every verdict is a REAL pass and the superlinear-by-design
    // Allowlist is empty — what remains here are the documented q37/q39/q41
    // OUTPUT-growth annotations (time may track the answer under the
    // decorrelated tiling), and the artifact should say so standalone
    // instead of reading as if rows were being waved through.
    val al = (Allowlist.map { case (k, v) => s""""$k":"$v"""" } ++
      OutputGrowthAllowlist.map { case (k, v) => s""""$k (output)":"$v"""" })
      .mkString("{", ",", "}")
    val errs = errors.map(e => "\"" + e.replace("\"", "'") + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"slope_probe","threshold":$SlopeThreshold,"queries":$qs,"output_growth_notes":$al,"fail_n":${failed.size},"errors":$errs,${LoadEvidence.json(loadBefore)},"src":"$src"}""")
    // tiny trailing twin — survives the driver's tail truncation
    println(s"""{"metric":"slope_probe","tail":true,"fail_n":${failed.size},"n_queries":${all.size},"errors_n":${errors.size},${LoadEvidence.json(loadBefore)}}""")
    spark.stop()
    // a probed query that CRASHED at scale is the worst possible scale
    // regression, not a skippable row — errors gate the exit exactly like
    // confirmed quadratics do
    if (failed.nonEmpty || errors.nonEmpty) sys.exit(1)
  }
}
