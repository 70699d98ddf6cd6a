package graft

/** Prints the physical-plan properties the engine's scale design depends on
  * (pushdown, pruning, broadcast, top-k, codegen) for key queries — the
  * .explain audit loop. Run: `sbt "runMain graft.PlanAudit"`.
  */
object PlanAudit {
  /** Every audit line funnels through here so a plan regression fails the
    * gates run (exit 1), not just a log line nobody reads. */
  private val failures = scala.collection.mutable.ArrayBuffer[String]()
  private def report(line: String): Unit = {
    println(line)
    if (line.contains("MISSING:") || line.contains("CHECK:")) failures += line
  }

  def main(args: Array[String]): Unit = {
    // audit the BUILD plans: with the asset layer on, the shingle-tier
    // pipelines collapse to artifact scans and every shape assertion
    // below would be vacuous
    val spark = Session.build("8", Some("ERROR"),
      Seq(graft.assets.AssetStore.DirConf -> ""))
    val dir = "/root/testdata/sf0.01"
    def audit(name: String, wanted: Seq[String]): Unit = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()   // execute THIS plan so AQE finalizes it (codegen visible)
      val plan = df.queryExecution.executedPlan.toString
      val missing = wanted.filterNot(plan.contains)
      report(s"[audit] $name " + (if (missing.isEmpty) "OK: " + wanted.mkString(", ")
                                   else "MISSING: " + missing.mkString(", ")))
    }
    // selective filter must reach the parquet scan, projection must prune
    audit("q02_filter_project", Seq("PushedFilters: [IsNotNull(l_quantity)", "*(1)"))
    // dimension joins must broadcast, not shuffle
    audit("q06_geo_expand", Seq("BroadcastHashJoin"))
    audit("q08_revenue_by_brand", Seq("BroadcastHashJoin"))
    // top-k must not globally sort
    audit("q15_top_orders", Seq("TakeOrderedAndProject"))
    // aggregates must partial-aggregate map-side
    audit("q01_pricing_summary", Seq("HashAggregate", "*("))
    // semi/anti joins planned as such
    audit("q04_semi_join_active", Seq("LeftSemi"))
    audit("q05_anti_join_inactive", Seq("LeftAnti"))
    // IVF probe join must broadcast the query side, never shuffle the corpus
    audit("q55_ivf_ann", Seq("BroadcastHashJoin"))
    // similarity hot path must stay whole-stage-codegen'd: the native
    // dot_product projection must sit inside a `*(n)` codegen span (the HOF
    // composition it replaced was CodegenFallback and broke the span)
    audit("q40_cosine_topk", Seq("BroadcastNestedLoopJoin"))
    val q40 = SparkEntry.queries("q40_cosine_topk")(spark, dir)
    q40.collect()
    val dotLines = q40.queryExecution.executedPlan.toString.linesIterator
      .takeWhile(!_.contains("== Initial Plan =="))   // audit the AQE final plan only
      .filter(_.contains("dot_product(")).toSeq
    val dotCodegen = dotLines.nonEmpty && dotLines.forall(_.matches(""".*\*\(\d+\).*"""))
    report(s"[audit] q40 dot_product codegen " +
      (if (dotCodegen) "OK (all dot_product ops inside *(n) spans)"
       else "CHECK: " + dotLines.map(_.trim.take(120)).mkString(" | ")))
    // embedding dedup: anti-join with a broadcast victim set
    audit("q39_embedding_dedup", Seq("LeftAnti", "BroadcastHashJoin"))
    // PII scrub is a pure narrow projection: no exchange before the
    // presentation sort, and the regexes run inside a codegen span
    val q59 = SparkEntry.queries("q59_scrub_pii")(spark, dir)
    q59.collect()
    val q59plan = q59.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q59shuffles = "Exchange".r.findAllIn(q59plan).size
    report(s"[audit] q59 narrow scrub " +
      (if (q59shuffles <= 1) s"OK ($q59shuffles exchange: presentation sort only)"
       else s"CHECK: $q59shuffles exchanges"))
    // repetition stats: both aggregates partial-aggregate map-side
    audit("q60_repetition_stats", Seq("HashAggregate"))
    // corpus mix: the rank<=30 filter must push a partial WindowGroupLimit
    // below the shuffle (map-side top-30 per language — the shuffle carries
    // at most 30 rows per language per input partition, not the corpus)
    audit("q61_corpus_mix", Seq("WindowGroupLimit", "Partial"))
    // centroids: exploded rows feed a partial-aggregated hash agg (never
    // per-group array state)
    audit("q63_label_centroids", Seq("Generate posexplode", "HashAggregate"))
    // stat moments: ONE single-pass hash aggregate (no second data pass)
    audit("q82_stat_moments", Seq("HashAggregate", "*("))
    // tf-idf: rank<=3 pushes a partial WindowGroupLimit below the shuffle
    audit("q87_tfidf_terms", Seq("WindowGroupLimit", "Partial"))
    // source capping: the rank<=K filter must push a partial WindowGroupLimit
    // below the per-source exchange (hot sources ship O(K·tasks) rows)
    audit("q113_source_cap", Seq("WindowGroupLimit", "Partial"))
    // skew profile: the rank<=20 filter collapses to a distributed top-k
    // (TakeOrderedAndProject with per-partition partial limits) below the
    // window — the heavy-hitter scan never materializes the full key ranking
    audit("q93_skew_profile", Seq("TakeOrderedAndProject(limit=20"))
    // exact-k hash sample: the rank filter collapses to a distributed top-k
    audit("q103_uniform_sample", Seq("TakeOrderedAndProject(limit=100"))
    // chunk dedup: partial-aggregated hash agg on the chunk-hash key
    audit("q90_chunk_dedup", Seq("HashAggregate"))
    // quantized recall: corpus side never shuffles — queries broadcast
    audit("q91_quantized_recall", Seq("BroadcastNestedLoopJoin"))
    // PQ recall: same guarantee, plus the codebook rides in codegen (a
    // pq_encode projection, never a join against a codebook relation)
    audit("q125_pq_recall", Seq("BroadcastNestedLoopJoin", "pq_encode"))
    // decile bucketing: every window is segment-partitioned — a global
    // single-partition window over the fact table must NOT appear
    val q83 = SparkEntry.queries("q83_ntile_deciles")(spark, dir)
    q83.collect()
    val q83plan = q83.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    report(s"[audit] q83 partitioned windows " +
      (if (!q83plan.contains("SinglePartition")) "OK (no SinglePartition exchange)"
       else "CHECK: found SinglePartition"))
    // read schema pruned to the selected columns
    val q2df = SparkEntry.queries("q02_filter_project")(spark, dir)
    q2df.collect()
    val q2scan = q2df.queryExecution.executedPlan.toString
    val schemaLine = q2scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("<no ReadSchema>")
    val pruned = schemaLine.contains("l_orderkey") && !schemaLine.contains("l_shipdate") && !schemaLine.contains("l_tax")
    report(s"[audit] q02 column pruning " + (if (pruned) "OK (5-col ReadSchema)" else "CHECK: " + schemaLine.trim.take(200)))
    // sequence packing: the per-document cumulative sum must be a
    // bucket-partitioned window (hashpartitioning on the bucket key) with
    // the tiny bucket-offset table rejoined via broadcast — the ONLY
    // single-partition window runs over O(buckets) rows, never documents
    val q114 = SparkEntry.queries("q114_sequence_pack")(spark, dir)
    q114.collect()
    val q114plan = q114.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q114ok = q114plan.contains("BroadcastHashJoin") &&
      q114plan.contains("hashpartitioning(bucket")
    report(s"[audit] q114 two-level prefix sum " +
      (if (q114ok) "OK (bucket-partitioned doc window + broadcast offsets)"
       else "CHECK: expected broadcast offsets + bucket-hash window"))
    // temperature mix: per-source thresholds rejoin the corpus via
    // broadcast, and the sampled count partial-aggregates map-side — the
    // corpus rows themselves never shuffle
    audit("q115_temperature_mix", Seq("BroadcastHashJoin", "HashAggregate"))
    // k-means step: assignment is the native nearest_centroid argmin
    // PROJECTION (codebook as a codegen reference object) — the corpus must
    // never K-fold-expand through a join, never hit a Window, and never
    // exchange on vec_id; the only wide stage is the (cluster, dim)
    // re-estimation hash aggregate
    audit("q116_kmeans_step", Seq("nearest_centroid", "HashAggregate"))
    val q116 = SparkEntry.queries("q116_kmeans_step")(spark, dir)
    q116.collect()
    val q116plan = q116.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q116narrow = !q116plan.contains("Window") &&
      !q116plan.contains("hashpartitioning(vec_id") &&
      !q116plan.contains("NestedLoop")
    report(s"[audit] q116 narrow assignment " +
      (if (q116narrow) "OK (no Window, no vec_id exchange, no join expansion)"
       else "CHECK: assignment stage widened"))
    // k-means TRAINING loop: each iteration runs eagerly at its checkpoint,
    // so the per-iteration corpus ⋈ broadcast(codebook) shape is the q116
    // audit above (identical assignment plan); the returned frame is the
    // K-row centroid expansion joined to the K-row sizes — broadcast, never
    // a shuffled join
    audit("q118_kmeans_train", Seq("BroadcastHashJoin", "Generate posexplode"))
    // media near-dup: decode runs per-partition (MapPartitions seam — the
    // REAL PpmCodec parse, raster bytes never leave it), and candidate
    // generation happens at distinct-fingerprint granularity — payloads
    // themselves must never reach an exchange
    // the fingerprint stage sits BEHIND a localCheckpoint in the final
    // frame, so audit it directly (pre-checkpoint): decode must be the
    // per-partition seam (phash is computed inside it from decoded pixels)
    val q133ph = graft.multimodal.Multimodal.mediaPhash(spark, dir)
    q133ph.collect()
    val q133phPlan = q133ph.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q133 = SparkEntry.queries("q133_media_neardup")(spark, dir)
    q133.collect()
    val q133plan = q133.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    // "payloads never shuffle" asserted as a KEY-SET property (the q129
    // pattern): every hash exchange in the pair machinery must partition
    // on fingerprint/band/pair/doc keys — a plain substring scan for
    // "payload" was vacuous because Exchange nodes print only their
    // partitioning expressions
    val q133keys = """hashpartitioning\(([A-Za-z_]+)""".r
      .findAllMatchIn(q133plan).map(_.group(1)).toSet
    val q133allowed = Set("phash", "band_idx", "band_val", "pa", "pb",
      "doc_a", "doc_b", "doc_id")
    val q133ok = q133phPlan.contains("MapPartitions") &&
      q133keys.subsetOf(q133allowed)
    report(s"[audit] q133 decode-seam fingerprints " +
      (if (q133ok) s"OK (MapPartitions decode seam; hash exchanges only on ${q133keys.mkString("{", ",", "}")})"
       else s"CHECK: decode shape or exchange keys changed (keys=${q133keys.mkString(",")})"))
    // rate anomalies: the z-score windows must run over the aggregated
    // (type, hour) rows — a hash aggregate below a PARTITIONed window, no
    // single-partition exchange of raw events
    val q120 = SparkEntry.queries("q120_rate_anomalies")(spark, dir)
    q120.collect()
    val q120plan = q120.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    // NOTE: the exchange prints on its own line ("Exchange SinglePartition"),
    // never on the Window operator's line — check the whole plan string
    // (q83's working pattern), not a same-line conjunction
    val q120ok = q120plan.contains("HashAggregate") &&
      q120plan.contains("hashpartitioning(event_type") &&
      !q120plan.contains("SinglePartition")
    report(s"[audit] q120 windowed anomalies " +
      (if (q120ok) "OK (agg before window, event_type-partitioned)"
       else "CHECK: expected hash agg + partitioned window"))
    // count-min: the sketch must partial-aggregate map-side (constant state
    // per partition) and the 1024-cell sketch must broadcast to the probes
    audit("q121_countmin_audit", Seq("partial_count", "BroadcastHashJoin"))
    // q107 blocking: the hot-block cap must limit MAP-SIDE (a partial
    // WindowGroupLimit below the block-key exchange), so a pathological
    // million-member block ships ≤ cap+1 rows per partition, and the member
    // collection must reuse that partitioning (no second hash exchange on
    // the block key between the Window and the collect_list aggregate)
    audit("q107_fuzzy_match", Seq("row_number(), 65, Partial", "row_number(), 65, Final"))
    val q107p = SparkEntry.queries("q107_fuzzy_match")(spark, dir)
    q107p.collect()
    val q107blockEx = "Exchange hashpartitioning\\(bkey".r
      .findAllMatchIn(q107p.queryExecution.executedPlan.toString
        .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n"))
      .size
    report(s"[audit] q107 single block-key exchange " +
      (if (q107blockEx == 1) "OK (window rank and member collect share one shuffle)"
       else s"CHECK: $q107blockEx vhash exchanges"))
    // q41 banded LSH: the bucket cap must limit map-side, same contract as
    // q107 (cap 32 → rank limit 33)
    audit("q41_lsh_neardup", Seq("row_number(), 33, Partial", "row_number(), 33, Final"))
    // q40 brute-force top-k: corpus rows must reach the broadcast join with
    // no hash exchange (the round-robin fanout seam is a cluster no-op),
    // and the ONLY hash exchange anywhere carries the Partial-limited
    // per-query top-k rows — a regression to a shuffled cartesian would
    // surface as a corpus-side hashpartitioning exchange
    val q40c = SparkEntry.queries("q40_cosine_topk")(spark, dir)
    q40c.collect()
    val q40cplan = q40c.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q40hashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(q40cplan).map(_.group(1)).toSet
    val q40noShuffledCorpus = q40cplan.contains("BroadcastNestedLoopJoin") &&
      !q40cplan.contains("CartesianProduct") && q40hashEx.subsetOf(Set("query_id"))
    report(s"[audit] q40 corpus never exchanges " +
      (if (q40noShuffledCorpus) "OK (only top-k rows hash-exchange, on query_id)"
       else s"CHECK: hash exchanges on ${q40hashEx.mkString(",")}"))
    // histogram quantiles: the refinement must never rank row-level data in
    // a window. q122 runs its refinement EAGERLY (adaptive driver loop), so
    // observe every job it triggers through a QueryExecutionListener: no
    // plan may contain a Window at all, and the final rank recovery must
    // appear as a distributed top-r (TakeOrderedAndProject)
    val q122Plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q122L = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = q122Plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // the bus is async: still-queued success events from the q40/q107/q41
    // audits above (whose plans legitimately contain Window /
    // TakeOrderedAndProject) would be delivered into a listener registered
    // now — drain the queue first so q122Plans sees ONLY q122's jobs
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    spark.listenerManager.register(q122L)
    SparkEntry.queries("q122_hist_quantiles")(spark, dir).collect()
    // the listener bus is async — poll for the top-r plan
    var q122Wait = 0
    def q122Snap() = { import scala.jdk.CollectionConverters._; q122Plans.asScala.toSeq }
    while (q122Wait < 50 && !q122Snap().exists(_.contains("TakeOrderedAndProject"))) {
      Thread.sleep(100); q122Wait += 1
    }
    spark.listenerManager.unregister(q122L)
    val q122W = q122Snap().exists(_.contains("Window"))
    val q122T = q122Snap().exists(_.contains("TakeOrderedAndProject"))
    report(s"[audit] q122 refinement " +
      (if (!q122W && q122T) "OK (no Window in any triggered job; rank via TakeOrderedAndProject)"
       else s"CHECK: window=$q122W topr=$q122T over ${q122Snap().size} jobs"))
    // q127 BPE pairs: the only corpus-sized stage is the word-count hash
    // aggregate (partial map-side); the merge ranking is a distributed
    // top-k, never a global sort
    audit("q127_bpe_pairs", Seq("TakeOrderedAndProject(limit=50", "HashAggregate"))
    // q130 sketch rollup: the daily sketch must PARTIAL-aggregate the KMV
    // buffer map-side (≤K longs per day per map partition reach the
    // exchange — never the raw hash stream). Audited on the daily stage
    // directly: the final frame reads it through its localCheckpoint seam.
    val q130daily = graft.operators.Analytics.dailyKmvBufs(spark, dir)
    q130daily.collect()
    val q130plan = q130daily.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q130ok = q130plan.contains("partial_kmvbuffer")
    report(s"[audit] q130 map-side sketch buffers " +
      (if (q130ok) "OK (partial_kmvbuffer below the day exchange)"
       else "CHECK: no partial KMV buffer aggregation"))
    // q137 source-overlap: the per-source KMV buffers must
    // partial-aggregate map-side (≤ K longs per source per map partition
    // reach the exchange — the q130 contract applied to the overlap
    // sketches); the corpus-sized shingle stream must never reach the
    // pairwise stage
    val q137sk = graft.operators.Analytics.sourceSketchStage(spark, dir)
    q137sk.collect()
    // NB no Initial-Plan truncation needed here: the stage is collected
    // above, and partial_kmvbuffer appears only in aggregate nodes that
    // survive into the final plan; keep the truncation anyway for
    // consistency with every other block
    val q137plan = q137sk.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q137ok = q137plan.contains("partial_kmvbuffer")
    report(s"[audit] q137 map-side overlap sketches " +
      (if (q137ok) "OK (partial_kmvbuffer below the source exchange)"
       else "CHECK: no partial KMV buffer aggregation"))
    // q135 BPE encode: the corpus-sized stage is ONE token explode feeding
    // an equi-join on the word key plus a doc_id hash aggregate
    audit("q135_bpe_encode", Seq("HashAggregate"))
    // q128 DSIR: the 4096-row model term table must BROADCAST to the token
    // stream and selection must plan as a distributed top-k
    audit("q128_dsir_select", Seq("BroadcastHashJoin", "TakeOrderedAndProject(limit=100"))
    // q129 exact-substring spans: JOIN-FREE — ownership and occurrence
    // counts are window functions over the single whash exchange, islands
    // run over the doc_id exchange; a Join (the agg+re-join shape that ran
    // the corpus-sized window explosion twice) must not appear
    val q129 = SparkEntry.queries("q129_substr_dedup")(spark, dir)
    q129.collect()
    val q129plan = q129.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    // enforce the "only whash + doc_id hash exchanges" claim, not just
    // their presence: collect every hashpartitioning key in the plan (the
    // fanout round-robin and presentation-sort range exchanges are
    // expected and keyless/range)
    val q129hashKeys = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(q129plan).map(_.group(1)).toSet
    val q129ok = !q129plan.contains("Join") &&
      q129hashKeys == Set("whash", "doc_id") &&
      q129plan.contains("shingle_hashes")
    report(s"[audit] q129 join-free span merge " +
      (if (q129ok) "OK (native window hashes; hash exchanges exactly {whash, doc_id})"
       else s"CHECK: join present or hash-exchange keys = ${q129hashKeys.mkString(",")}"))
    // q126 semantic dedup: the duplicate-pair join must be an EQUI-join on
    // the cluster key (per-cluster width, never corpus width) — a product
    // join over the corpus must not appear. Audited on the pair stage
    // directly because the final frame reads the assignment through its
    // localCheckpoint seam.
    val q126pairs = graft.operators.SimilarityOps.semanticPairsOf(
      graft.operators.SimilarityOps.semanticAssigned(spark, dir))
    q126pairs.collect()
    val q126plan = q126pairs.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    // the join must be KEYED on cluster — match the join operator's key
    // list or a cluster-key exchange, not the mere presence of the column
    // name (which any projection over these frames contains)
    val q126keyed =
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cluster#".r
        .findFirstIn(q126plan).isDefined ||
      q126plan.contains("hashpartitioning(cluster")
    val q126ok = !q126plan.contains("CartesianProduct") &&
      !q126plan.contains("BroadcastNestedLoopJoin") && q126keyed
    report(s"[audit] q126 cluster-key pair join " +
      (if (q126ok) "OK (join keyed on cluster, no product join)"
       else "CHECK: product join or join not keyed on cluster"))
    // incremental dedup: candidates must come from equi-joins (band buckets
    // and md5 keys) — an all-pairs product over the corpus must NOT appear
    val q111 = SparkEntry.queries("q111_incremental_dedup")(spark, dir)
    q111.collect()
    val q111plan = q111.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q111ok = !q111plan.contains("CartesianProduct") &&
      !q111plan.contains("BroadcastNestedLoopJoin") && q111plan.contains("HashAggregate")
    report(s"[audit] q111 index-probe dedup " +
      (if (q111ok) "OK (equi-joins + hash aggs only)" else "CHECK: product join in plan"))
    // q138 PageRank: audit ONE power iteration's plan shape — the rank⋈edges
    // join must be an equi-join on src and the new-rank aggregate must
    // partial-aggregate map-side; no product join anywhere
    val q139 = SparkEntry.queries("q138_pagerank")(spark, dir)
    q139.collect()
    val q139plan = q139.queryExecution.executedPlan.toString
    val q139ok = !q139plan.contains("CartesianProduct") &&
      !q139plan.contains("BroadcastNestedLoopJoin")
    report(s"[audit] q138 pagerank final frame " +
      (if (q139ok) "OK (checkpointed rank state, no product join)"
       else "CHECK: product join in final frame"))
    // q140 Holt forecast: the raw stream collapses through ONE corpus-sized
    // hash aggregate (event_type, day) with map-side partials; the fold runs
    // over per-type day arrays — no Window, no join anywhere in the plan
    val q140f = SparkEntry.queries("q140_holt_forecast")(spark, dir)
    q140f.collect()
    val q140fplan = q140f.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q140fok = q140fplan.contains("HashAggregate") &&
      !q140fplan.contains("Window") && !q140fplan.contains("Join")
    report(s"[audit] q140 fold-after-aggregate " +
      (if (q140fok) "OK (hash agg to day grain; join-free, window-free fold)"
       else "CHECK: unexpected Window/Join in plan"))
    // q141 table profile: fixed-width columns profile through ONE scan's
    // Expand + HashAggregate; each string column adds a column-pruned scan
    // with a hash distinct-collapse. The ONLY Sort in the plan must be the
    // 8-row presentation sort — a second Sort means a string min/max buffer
    // demoted a corpus-sized aggregate to sort-based again
    val q141p = SparkEntry.queries("q141_table_profile")(spark, dir)
    q141p.collect()
    val q141plan = q141p.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q141scans = "Scan parquet".r.findAllIn(q141plan).size
    val q141sorts = "Sort \\[".r.findAllIn(q141plan).size
    val q141strCols = graft.operators.Analytics.ProfileCols.count(_._2 == "str")
    val q141ok = q141plan.contains("Expand") && q141plan.contains("HashAggregate") &&
      q141scans == 1 + q141strCols && q141sorts <= 1
    report(s"[audit] q141 profile plan " +
      (if (q141ok) s"OK ($q141scans column-pruned scans; Expand+hash; $q141sorts sort = presentation only)"
       else s"CHECK: scans=$q141scans sorts=$q141sorts"))
    // q139 retrieval: the corpus postings must meet the query set through
    // BROADCAST joins (never a corpus shuffle on term), and the top-k must
    // plan a partial WindowGroupLimit
    val q139r = SparkEntry.queries("q139_lexical_retrieval")(spark, dir)
    q139r.collect()
    val q139rplan = q139r.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q139rhashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(q139rplan).map(_.group(1)).toSet
    val q139rok = q139rplan.contains("BroadcastHashJoin") &&
      q139rplan.contains("WindowGroupLimit") && q139rplan.contains("Partial") &&
      q139rhashEx.subsetOf(Set("doc_id", "query_id", "term"))
    report(s"[audit] q139 broadcast retrieval " +
      (if (q139rok) s"OK (broadcast query set; partial top-k; exchanges=${q139rhashEx.mkString("{", ",", "}")})"
       else s"CHECK: exchanges=${q139rhashEx.mkString(",")}"))
    // q142 hybrid fusion: both retriever sides must meet the corpus through
    // BROADCAST joins (the corpus/vector scans never shuffle on data keys),
    // both top-K windows plan partial WindowGroupLimits, and the only hash
    // exchanges carry candidate/rank rows
    val q142h = SparkEntry.queries("q142_hybrid_retrieval")(spark, dir)
    q142h.collect()
    val q142plan = q142h.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q142hashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(q142plan).map(_.group(1)).toSet
    val q142wgl = "WindowGroupLimit".r.findAllIn(q142plan).size
    val q142ok = q142plan.contains("BroadcastHashJoin") && q142wgl >= 2 &&
      !q142plan.contains("CartesianProduct") &&
      q142hashEx.subsetOf(Set("doc_id", "query_id", "term", "vec_id"))
    report(s"[audit] q142 hybrid retrieval " +
      (if (q142ok) s"OK (broadcast both sides; $q142wgl group-limit windows; exchanges=${q142hashEx.mkString("{", ",", "}")})"
       else s"CHECK: wgl=$q142wgl exchanges=${q142hashEx.mkString(",")}"))
    // q142 PRODUCTION path (graft.hybrid.denseIndex=true): the dense arm
    // must come from the IVF-PQ candidate machinery — the full plan may
    // contain NO conditioned nested-loop join (the exact arm's full-corpus
    // `Inner, NOT (vec_id = query_id)` scorer), only the condition-free
    // batch×IvfK codebook-probe cross joins; the ADC expression must be
    // present (dense scoring reads 6-byte codes, not float vectors); hash
    // exchanges stay on candidate/rank keys. HybridIndexSpec proves the
    // same claim from join METRICS (output rows bounded by the batch).
    spark.conf.set("graft.hybrid.denseIndex", "true")
    try {
      val q142i = SparkEntry.queries("q142_hybrid_retrieval")(spark, dir)
      q142i.collect()
      val q142iplan = q142i.queryExecution.executedPlan.toString
      val q142ihashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
        .findAllMatchIn(q142iplan).map(_.group(1)).toSet
      val condBnlj = q142iplan.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin"))
        .filter(l => l.contains("vec_id") || l.contains("query_id")).toSeq
      val q142iok = condBnlj.isEmpty &&
        !q142iplan.contains("CartesianProduct") &&
        q142iplan.toLowerCase.contains("pq_adc") &&
        q142ihashEx.subsetOf(Set("doc_id", "query_id", "term", "vec_id"))
      report(s"[audit] q142 hybrid (denseIndex=true) " +
        (if (q142iok) s"OK (no full-corpus dense join; ADC codes path; exchanges=${q142ihashEx.mkString("{", ",", "}")})"
         else s"CHECK: condBnlj=${condBnlj.size} exchanges=${q142ihashEx.mkString(",")}"))
    } finally spark.conf.unset("graft.hybrid.denseIndex")
    // q143 near-dup decontamination: the eval side must BROADCAST at both
    // stages (band rows for candidate generation, the candidate-id set back
    // against the corpus scan for verification) — the corpus never shuffles
    // on a data key; hash exchanges carry only candidate/eval-bounded rows
    // keyed by doc ids / shingle hashes
    val q143 = SparkEntry.queries("q143_neardup_decontaminate")(spark, dir)
    q143.collect()
    val q143plan = q143.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q143hashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(q143plan).map(_.group(1)).toSet
    val q143bhj = "BroadcastHashJoin".r.findAllIn(q143plan).size
    val q143ok = q143bhj >= 2 &&
      !q143plan.contains("CartesianProduct") &&
      !q143plan.contains("BroadcastNestedLoopJoin") &&
      q143hashEx.subsetOf(Set("doc_id", "eval_id", "shash", "band_idx"))
    report(s"[audit] q143 neardup decontaminate " +
      (if (q143ok) s"OK ($q143bhj broadcast joins; exchanges=${q143hashEx.mkString("{", ",", "}")})"
       else s"CHECK: bhj=$q143bhj exchanges=${q143hashEx.mkString(",")}"))
    // q144 IVF-PQ: the corpus must never hash-exchange on a data key — the
    // ADC stage meets the probes through a BROADCAST join on cell, the
    // exact stage re-fetches by BROADCAST id join, and the only hash
    // exchanges carry per-query candidate rows (query_id); both top-k
    // windows plan partial WindowGroupLimits
    val q144 = SparkEntry.queries("q144_ivfpq_ann")(spark, dir)
    q144.collect()
    val q144plan = q144.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q144hashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(q144plan).map(_.group(1)).toSet
    val q144wgl = "WindowGroupLimit".r.findAllIn(q144plan).size
    val q144ok = q144plan.contains("BroadcastHashJoin") &&
      !q144plan.contains("CartesianProduct") &&
      q144wgl >= 2 && q144hashEx.subsetOf(Set("query_id", "vec_id"))
    report(s"[audit] q144 ivf-pq ann " +
      (if (q144ok) s"OK (broadcast probe+fetch; $q144wgl group-limit windows; exchanges=${q144hashEx.mkString("{", ",", "}")})"
       else s"CHECK: wgl=$q144wgl exchanges=${q144hashEx.mkString(",")}"))
    // q147 quality-classifier inference: a PURE NARROW projection — the
    // model is a reference object inside one codegen'd expression, tokens
    // never explode into rows, and the only exchange is the presentation
    // sort (q59's shape); the scorer sits inside a whole-stage-codegen span
    val q147 = SparkEntry.queries("q147_quality_classifier")(spark, dir)
    q147.collect()
    val q147plan = q147.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q147ex = "Exchange".r.findAllIn(q147plan).size
    val q147scoreLines = q147plan.linesIterator
      .filter(_.contains("hashed_linear_score(")).toSeq
    val q147ok = q147ex <= 1 && !q147plan.contains("hashpartitioning") &&
      !q147plan.contains("Join") && q147scoreLines.nonEmpty &&
      q147scoreLines.forall(_.matches(""".*\*\(\d+\).*"""))
    report(s"[audit] q147 quality classifier " +
      (if (q147ok) "OK (narrow codegen'd inference; presentation sort is the only exchange)"
       else s"CHECK: exchanges=$q147ex scoreLines=${q147scoreLines.size}"))
    // q148 unicode canonicalization: same narrow shape — one codegen'd
    // projection, presentation sort is the only exchange
    val q148 = SparkEntry.queries("q148_unicode_normalize")(spark, dir)
    q148.collect()
    val q148plan = q148.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q148ex = "Exchange".r.findAllIn(q148plan).size
    val q148ok = q148ex <= 1 && !q148plan.contains("hashpartitioning") &&
      !q148plan.contains("Join") && q148plan.contains("unicode_canon(")
    report(s"[audit] q148 unicode canon " +
      (if (q148ok) "OK (narrow codegen'd canonicalization; presentation sort only)"
       else s"CHECK: exchanges=$q148ex"))
    // q149 domain gate: the corpus meets the blocklist through a BROADCAST
    // hash join — no data-key shuffle; presentation sort is the only
    // exchange on the corpus path
    val q149 = SparkEntry.queries("q149_domain_filter")(spark, dir)
    q149.collect()
    val q149plan = q149.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q149ok = q149plan.contains("BroadcastHashJoin") &&
      !q149plan.contains("SortMergeJoin") &&
      !"Exchange hashpartitioning\\(doc_id".r.findAllIn(q149plan).hasNext
    report(s"[audit] q149 domain gate " +
      (if (q149ok) "OK (broadcast blocklist; no corpus data-key exchange)"
       else "CHECK: " + q149plan.linesIterator.filter(_.contains("Exchange")).mkString(" | ").take(200)))
    // q146 drift: the corpus contributes COUNTING ONLY — one partial-
    // aggregated (dim, bin) hash cube; every hash exchange carries cube or
    // grid keys, never a corpus row key
    val q146 = SparkEntry.queries("q146_embedding_drift")(spark, dir)
    q146.collect()
    val q146plan = q146.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q146hashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(q146plan).map(_.group(1)).toSet
    val q146ok = q146plan.contains("HashAggregate") && q146plan.contains("partial_sum") &&
      q146hashEx.subsetOf(Set("dim_idx", "bin"))
    report(s"[audit] q146 embedding drift " +
      (if (q146ok) s"OK (partial-agg count cube; exchanges=${q146hashEx.mkString("{", ",", "}")})"
       else s"CHECK: exchanges=${q146hashEx.mkString(",")}"))
    // q150 cluster-safe split: downstream of the (q62-audited) CC loop the
    // plan is pure id-key equi-joins + the (lang, split) accounting cube —
    // every hash exchange carries an id or group key, never a text column,
    // and nothing degenerates to a nested-loop/cartesian join
    val q150 = SparkEntry.queries("q150_cluster_split")(spark, dir)
    q150.collect()
    val q150plan = q150.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q150hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9]+)".r
      .findAllMatchIn(q150plan).map(_.group(1)).toSet
    val q150allowed = Set("label", "doc_id", "cluster_id", "rep", "simhash", "lang")
    val q150ok = !q150plan.contains("CartesianProduct") &&
      !q150plan.contains("BroadcastNestedLoopJoin") &&
      q150hashEx.subsetOf(q150allowed)
    report(s"[audit] q150 cluster-safe split " +
      (if (q150ok) s"OK (id/group-key exchanges only: ${q150hashEx.mkString("{", ",", "}")})"
       else s"CHECK: exchanges=${q150hashEx.mkString(",")}"))
    // q151 boilerplate removal (driver hot-list path, the harness shape):
    // the only hash exchange carries the 8-byte line-hash df key — the
    // corpus itself is filtered by a codegen'd sorted-array probe and
    // never shuffles; no join appears anywhere in the plan
    val q151 = SparkEntry.queries("q151_boilerplate_lines")(spark, dir)
    q151.collect()
    val q151plan = q151.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q151hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9]+)".r
      .findAllMatchIn(q151plan).map(_.group(1)).toSet
    val q151ok = q151hashEx.subsetOf(Set("lh")) &&
      !q151plan.contains("Join") && q151plan.contains("in_sorted_longs")
    report(s"[audit] q151 boilerplate removal " +
      (if (q151ok) "OK (df agg on line-hash is the only hash exchange; corpus filtered join-free in codegen)"
       else s"CHECK: exchanges=${q151hashEx.mkString(",")} join=${q151plan.contains("Join")}"))
    // q152 index maintenance: every assignment pass must be the broadcast
    // nearest_centroid argmin projection (never a K-fold centroid join) and
    // no stage may degenerate to a cartesian product; the only
    // nested-loop joins are the two 1-row verdict crossJoins
    val q152 = SparkEntry.queries("q152_index_maintenance")(spark, dir)
    q152.collect()
    val q152plan = q152.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q152nl = "BroadcastNestedLoopJoin".r.findAllIn(q152plan).size
    val q152ok = q152plan.contains("nearest_centroid") &&
      !q152plan.contains("CartesianProduct") && q152nl <= 2
    report(s"[audit] q152 index maintenance " +
      (if (q152ok) s"OK (broadcast argmin assignment; $q152nl one-row verdict crossJoins)"
       else s"CHECK: nl=$q152nl nc=${q152plan.contains("nearest_centroid")}"))
    // q153 classifier training: the GD hot path (one pass) must read the
    // featurized base through the codegen'd bucket_linear_score
    // reference-object lookup — NO join, NO re-hash anywhere — and its
    // only hash exchange must carry the 4096-key gradient bucket; the
    // final scoring pass must plan no hash exchange at all (lookup
    // projection + presentation sort)
    val q153d = graft.Tables.documents(spark, dir).transform(graft.Tables.fanout)
    val q153base = graft.operators.TextOps.classifierBase(q153d).localCheckpoint()
    val q153g = graft.operators.TextOps.classifierGradientPass(
      q153base, Array.fill(graft.operators.TextOps.QcDim)(0L))
    q153g.collect()
    val q153gplan = q153g.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q153gEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9]+)".r
      .findAllMatchIn(q153gplan).map(_.group(1)).toSet
    val q153 = SparkEntry.queries("q153_classifier_train")(spark, dir)
    q153.collect()
    val q153plan = q153.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q153Ex = "Exchange hashpartitioning\\(([a-zA-Z_0-9]+)".r
      .findAllMatchIn(q153plan).map(_.group(1)).toSet
    val q153ok = q153gEx.subsetOf(Set("bucket")) &&
      !q153gplan.contains("Join") && q153gplan.contains("bucket_linear_score") &&
      q153Ex.isEmpty && !q153plan.contains("Join")
    report(s"[audit] q153 classifier training " +
      (if (q153ok) "OK (GD pass: bucket agg is the only hash exchange, join-free codegen lookup scoring off the featurized base; final inference plans zero hash exchanges)"
       else s"CHECK: gdEx=${q153gEx.mkString(",")} gdJoin=${q153gplan.contains("Join")} " +
            s"finalEx=${q153Ex.mkString(",")} finalJoin=${q153plan.contains("Join")}"))
    // q157 audio decode: the per-partition decode seam (PCM bytes never
    // leave it) feeding fixed-width statistics — presentation sort is the
    // only exchange
    val q157 = SparkEntry.queries("q157_audio_features")(spark, dir)
    q157.collect()
    val q157plan = q157.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q157ex = "Exchange".r.findAllIn(q157plan).size
    val q157ok = q157ex <= 1 && !q157plan.contains("hashpartitioning") &&
      !q157plan.contains("Join") && q157plan.contains("MapPartitions")
    report(s"[audit] q157 audio decode seam " +
      (if (q157ok) "OK (MapPartitions decode; presentation sort is the only exchange)"
       else s"CHECK: exchanges=$q157ex mapPartitions=${q157plan.contains("MapPartitions")}"))
    // q158 hot-shingle df index: ONE uniform-key hash aggregate over the
    // shingle relation — partial map-side, no joins anywhere (the asset
    // build must stay a single aggregate at any corpus size)
    val q158 = SparkEntry.queries("q158_hot_shingle_index")(spark, dir)
    q158.collect()
    val q158plan = q158.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q158ok = q158plan.contains("HashAggregate") && !q158plan.contains("Join")
    report(s"[audit] q158 hot-shingle index " +
      (if (q158ok) "OK (single hash-aggregate asset build, join-free)"
       else s"CHECK: hashAgg=${q158plan.contains("HashAggregate")} join=${q158plan.contains("Join")}"))
    // q160 canonical-URL dedup: a narrow codegen'd projection (url_canon
    // inside the scan span) into ONE uniform-key hash aggregate — no joins
    val q160 = SparkEntry.queries("q160_url_dedup")(spark, dir)
    q160.collect()
    val q160plan = q160.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q160ok = q160plan.contains("HashAggregate") && !q160plan.contains("Join") &&
      q160plan.contains("url_canon")
    report(s"[audit] q160 url dedup " +
      (if (q160ok) "OK (codegen'd url_canon projection into one hash aggregate, join-free)"
       else s"CHECK: hashAgg=${q160plan.contains("HashAggregate")} " +
            s"join=${q160plan.contains("Join")} urlCanon=${q160plan.contains("url_canon")}"))
    // q159 incremental near-dup admission: every join is keyed (ids, content
    // hashes, band signatures) — no product joins; the carried index remap
    // and the candidate probe must never degenerate to a cartesian
    val q159 = SparkEntry.queries("q159_incremental_neardup")(spark, dir)
    q159.collect()
    val q159plan = q159.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q159ok = !q159plan.contains("CartesianProduct") &&
      !q159plan.contains("BroadcastNestedLoopJoin") &&
      q159plan.contains("HashAggregate")
    report(s"[audit] q159 incremental near-dup " +
      (if (q159ok) "OK (keyed joins only, no product join in the admission pipeline)"
       else s"CHECK: cartesian=${q159plan.contains("CartesianProduct")} " +
            s"bnlj=${q159plan.contains("BroadcastNestedLoopJoin")}"))
    // q161 docx template inventory: the corpus-sized work is the letters
    // plane (q13's broadcast enrich join) into the 8-key value aggregate —
    // the template parse itself is one driver-side artifact, so the plan
    // must show no product joins and keep the tiny inventory joins broadcast
    val q161 = SparkEntry.queries("q161_docx_template")(spark, dir)
    q161.collect()
    val q161plan = q161.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    // Exchange census pins q161's slope-probe exclusion ("driver-artifact
    // parse + 8-key agg", ScaleBench) as a GATE rather than a comment: the
    // only shuffles allowed are the 8-key aggregate's hash exchange and the
    // presentation sort's range exchange — any new wide stage voids the
    // exclusion and must fail here first.
    val q161HashExch = "Exchange hashpartitioning".r.findAllIn(q161plan).size
    val q161RangeExch = "Exchange rangepartitioning".r.findAllIn(q161plan).size
    val q161ok = q161plan.contains("BroadcastHashJoin") &&
      q161plan.contains("HashAggregate") &&
      !q161plan.contains("CartesianProduct") &&
      !q161plan.contains("SortMergeJoin") &&
      q161HashExch <= 1 && q161RangeExch <= 1
    report(s"[audit] q161 docx template " +
      (if (q161ok) "OK (broadcast joins + one small-key aggregate; " +
        s"exchanges hash=$q161HashExch range=$q161RangeExch — narrow-plan " +
        "slope exclusion holds)"
       else s"CHECK: bhj=${q161plan.contains("BroadcastHashJoin")} " +
            s"smj=${q161plan.contains("SortMergeJoin")} " +
            s"cartesian=${q161plan.contains("CartesianProduct")} " +
            s"hashExch=$q161HashExch rangeExch=$q161RangeExch"))
    // q162 candidate join, size-gated (the round-16 `weak`, closed): force
    // the gate SHUT and pin the beyond-broadcast plan — the corpus-sized
    // carried index must not broadcast; the build laid the static sides out
    // partitioned+sorted on their join keys (checkpoint-preserved), so the
    // only hash exchanges in the candidate plan are the per-batch STREAM
    // rows: one per join key (content_md5, band_idx+band_sig, corpus_id).
    // AQE off mirrors the micro-batch planner (stream plans get no AQE).
    locally {
      val sGate = spark.newSession()
      sGate.conf.set(graft.streaming.DocsStream.BroadcastMaxKeysConf, "0")
      sGate.conf.set("spark.sql.adaptive.enabled", "false")
      sGate.conf.set(graft.assets.AssetStore.DirConf, "")
      val (gIdx, gChangedRaw) = graft.streaming.DocsStream.carriedIndexFor(sGate, dir)
      val gChanged = gChangedRaw.localCheckpoint()
      val gDf = graft.streaming.DocsStream.profCands(sGate, gChanged, gIdx)
      gDf.collect()
      val gPlan = gDf.queryExecution.executedPlan.toString
      val nSmj = "SortMergeJoin".r.findAllIn(gPlan).size
      val nExch = "Exchange hashpartitioning".r.findAllIn(gPlan).size
      val keysOk = gPlan.contains("hashpartitioning(content_md5") &&
        gPlan.contains("hashpartitioning(band_idx") &&
        gPlan.contains("hashpartitioning(corpus_id")
      val gOk = !gIdx.broadcastable && !gPlan.contains("BroadcastHashJoin") &&
        nSmj == 3 && nExch == 3 && keysOk
      report(s"[audit] q162 gated candidate join " +
        (if (gOk) "OK (beyond-broadcast path: 3 sort-merge joins, 3 stream-side " +
          "exchanges on content_md5/band keys/corpus_id, static index never moves)"
         else s"CHECK: broadcastable=${gIdx.broadcastable} " +
              s"bhj=${gPlan.contains("BroadcastHashJoin")} smj=$nSmj " +
              s"exch=$nExch keysOk=$keysOk"))
      // and the DEFAULT gate at harness SF sits open: the measured key
      // count picks broadcast, the fast path the bench times
      val sDefault = spark.newSession()
      sDefault.conf.set(graft.assets.AssetStore.DirConf, "")
      val (dIdx, _) = graft.streaming.DocsStream.carriedIndexFor(sDefault, dir)
      report(s"[audit] q162 default gate " +
        (if (dIdx.broadcastable) "OK (harness index under the broadcast threshold)"
         else "CHECK: default gate unexpectedly closed at harness SF"))
    }
    // q156 incremental re-process: the composed diff→dedup pipeline stays
    // on id/content-hash exchange keys end to end (the q154 contract plus
    // the keeper hash aggregate); no product joins anywhere
    val q156 = SparkEntry.queries("q156_incremental_reprocess")(spark, dir)
    q156.collect()
    val q156plan = q156.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q156Ex = "Exchange hashpartitioning\\(([a-zA-Z_0-9]+)".r
      .findAllMatchIn(q156plan).map(_.group(1)).toSet
    val q156ok = q156Ex.subsetOf(Set("old_id", "new_id", "md5_a", "md5_b",
        "h", "doc_id", "content_md5")) &&
      !q156plan.contains("CartesianProduct") &&
      !q156plan.contains("BroadcastNestedLoopJoin")
    report(s"[audit] q156 incremental reprocess " +
      (if (q156ok) s"OK (id/content-hash exchanges only: ${q156Ex.mkString("{", ",", "}")})"
       else s"CHECK: exchanges=${q156Ex.mkString(",")}"))
    // q155 HTML main-content extraction: a PURE NARROW projection — the
    // block extractor runs inside one codegen span over the synthesized
    // page column, no join, and the only exchange is the presentation sort
    val q155 = SparkEntry.queries("q155_html_extract")(spark, dir)
    q155.collect()
    val q155plan = q155.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q155ex = "Exchange".r.findAllIn(q155plan).size
    val q155lines = q155plan.linesIterator
      .filter(_.contains("main_content(")).toSeq
    val q155ok = q155ex <= 1 && !q155plan.contains("hashpartitioning") &&
      !q155plan.contains("Join") && q155lines.nonEmpty &&
      q155lines.forall(_.matches(""".*\*\(\d+\).*"""))
    report(s"[audit] q155 html main content " +
      (if (q155ok) "OK (narrow codegen'd extraction; presentation sort is the only exchange)"
       else s"CHECK: exchanges=$q155ex extractLines=${q155lines.size}"))
    // q154 snapshot diff: every exchange must carry an id or a uniform
    // content-hash key (the full-outer id join + the rank-paired move
    // detection over the orphan slice); nothing may degenerate to a
    // cartesian/nested-loop shape
    val q154 = SparkEntry.queries("q154_snapshot_diff")(spark, dir)
    q154.collect()
    val q154plan = q154.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    val q154Ex = "Exchange hashpartitioning\\(([a-zA-Z_0-9]+)".r
      .findAllMatchIn(q154plan).map(_.group(1)).toSet
    val q154ok = q154Ex.subsetOf(Set("old_id", "new_id", "md5_a", "md5_b", "h", "doc_id")) &&
      !q154plan.contains("CartesianProduct") &&
      !q154plan.contains("BroadcastNestedLoopJoin")
    report(s"[audit] q154 snapshot diff " +
      (if (q154ok) s"OK (id/content-hash exchanges only: ${q154Ex.mkString("{", ",", "}")})"
       else s"CHECK: exchanges=${q154Ex.mkString(",")}"))
    spark.stop()
    if (failures.nonEmpty) {
      println(s"[audit] FAILED: ${failures.size} plan regression(s)")
      failures.foreach(f => println("  " + f))
      sys.exit(1)
    }
    println("[audit] ALL OK")
  }
}
