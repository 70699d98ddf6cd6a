package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Streaming corpus admission (the continuous form of q111's screen): new
  * documents arrive as an unbounded stream and are admitted against a
  * write-once corpus index, per-row and stateless — no aggregation, so the
  * query runs in append mode with zero state store.
  *
  * Two screening layers, mirroring what a production ingest runs in-stream:
  *  - **exact** (q112, oracle-declared): stream-static left join against the
  *    corpus md5 index (distinct key → no row duplication). Authoritative.
  *  - **near-dup suspect screen** (spec-verified, not oracle-declared): a
  *    Bloom filter built over the corpus's MinHash band signatures, probed
  *    per row via `might_contain` over the document's 16 bands (the narrow
  *    [[graft.functions.MinHashSig]] projection — the only signature
  *    formulation a stateless stream can evaluate). One-sided error: a true
  *    band collision is NEVER missed, so every real near-duplicate is
  *    flagged for the async batch verify (q111's exact-Jaccard layer);
  *    false positives only cost spurious verification work. At 100 TB the
  *    band index doesn't fit a broadcast join but its Bloom filter fits
  *    executor memory — this is the screen's honest scale shape, which is
  *    why the oracle-declared surface keeps to the md5 layer.
  */
object DocsStream {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)
  private val M31 = graft.functions.PortableHash.M31
  import graft.operators.TextOps
  import graft.operators.TextOps.MinHashPerms

  /** One candidate/base row of the q162 per-document admission group —
    * scalars only, so the groupByKey exchange never carries arrays. */
  private[graft] case class AdmRow(doc_id: Long, status: String,
      exact_match: Option[Long], corpus_id: Option[Long], verified: Boolean)
  /** One q162 verdict (q159's exact output row). */
  private[graft] case class AdmVerdict(doc_id: Long, status: String,
      verdict: String, match_doc: Option[Long])

  /** The carried corpus index a continuous crawl admits against: static
    * batch relations (in production, the persisted artifacts of snapshot
    * A's run — id-remapped views of the [[TextOps]] asset layer) plus the
    * serialized Bloom filter over the band keys. `broadcastable` is the
    * size-gated join strategy, decided ONCE at build from the measured
    * band-key count (see [[BroadcastMaxKeysConf]]); the static relations
    * are pre-laid-out for whichever strategy was picked. */
  private[graft] final case class CarriedIndex(
      md5Min: DataFrame, bands: DataFrame, shingleSets: DataFrame,
      bloomBytes: Array[Byte], broadcastable: Boolean)

  /** Size gate for the q162/q112 stream-static candidate joins: the carried
    * index is broadcast ONLY while its measured band-key count stays under
    * this conf (rows are counted anyway to size the Bloom filter — the
    * ccAdaptive measure-then-pick discipline applied here). Above it, the
    * static sides are pre-partitioned + pre-sorted on their join keys once
    * at build (checkpoint preserves the layout), so every micro-batch
    * sort-merge-joins against them shuffling ONLY its own stream rows —
    * q112's documented bucketed stream-static form. Default 1M keys: at 16
    * bands/doc that is ~64k carried documents ≈ 64 MB of band map plus
    * ~100 MB of shingle sets — comfortably broadcastable; a 100 TB corpus
    * carries billions of band keys and takes the partitioned path. */
  val BroadcastMaxKeysConf = "graft.stream.broadcastMaxKeys"
  val DefaultBroadcastMaxKeys = 1000000L

  private def broadcastMaxKeys(spark: SparkSession): Long =
    graft.GraftConf.long(spark, BroadcastMaxKeysConf, DefaultBroadcastMaxKeys)

  /** Apply the picked strategy to one static side: a broadcast hint under
    * the gate (micro-batch plans get no AQE, and the checkpointed relations
    * have no stats, so left unhinted they'd sort-merge-join shuffling the
    * stream's array-carrying rows per batch — measured 17 s vs 2 s at
    * sf0.1); above the gate the relation already carries its partitioned +
    * sorted layout from the build, and hinting nothing lets the per-batch
    * plan exchange only the stream side. */
  private def joinSide(idx: CarriedIndex, side: DataFrame): DataFrame =
    if (idx.broadcastable) broadcast(side) else side

  /** Pre-layout for the beyond-broadcast path: one shuffle + sort at BUILD
    * time, preserved through the checkpoint (LogicalRDD keeps the physical
    * plan's outputPartitioning/outputOrdering), so per-batch sort-merge
    * joins find the static side already clustered and sorted — the
    * checkpoint-carried equivalent of BucketingSpec's bucketed layout. */
  private def partitionedLayout(df: DataFrame, keys: String*): DataFrame =
    df.repartition(keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .localCheckpoint()

  private def bloomBytesOf(keys: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = math.max(64L,
      (-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val agg = GraftBridge.column(
      new BloomFilterAggregate(
        GraftBridge.expression(xxhash64(col(keyCol))),
        GraftBridge.expression(lit(expectedItems)),
        GraftBridge.expression(lit(numBits))).toAggregateExpression())
    keys.agg(agg.as("bloom")).head.getAs[Array[Byte]]("bloom")
  }

  private def mightContain(bloomBytes: Array[Byte])(
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    GraftBridge.column(BloomFilterMightContain(
      GraftBridge.expression(lit(bloomBytes)),
      GraftBridge.expression(xxhash64(v))))
  }

  /** Build the carried index for the dir-level q162 (id-remapped views of
    * the persisted corpus assets), plus the BATCH changed slice — returned
    * so IncrementalReplaySpec can replay the identical slice through a
    * MemoryStream in arbitrary micro-batch splits.
    *
    * Memoized per (session, corpus) when the asset layer is on — the
    * carried index IS snapshot A's persisted index in production, built
    * once per corpus version, and its frames are localCheckpointed (so
    * they survive Bench's per-query clearCache). The probes run with
    * assets off and keep re-building (the codebookAsset fairness rule:
    * a ×10 re-run must not skip work its ×20 twin paid). */
  private val carriedMemo =
    new graft.assets.AssetStore.SessionMemo[String, (CarriedIndex, DataFrame)]

  private[graft] def carriedIndexFor(spark: SparkSession, dir: String)
      : (CarriedIndex, DataFrame) =
    if (graft.assets.AssetStore.assetsRoot(spark).isEmpty)
      buildCarriedIndex(spark, dir)
    else carriedMemo.getOrBuild(spark,
      s"$dir|bcastMax=${broadcastMaxKeys(spark)}")(buildCarriedIndex(spark, dir))

  private def buildCarriedIndex(spark: SparkSession, dir: String)
      : (CarriedIndex, DataFrame) = {
    val a = Tables.documents(spark, dir).transform(Tables.fanout)
      .select(col("doc_id"), col("text"))
    val offset = TextOps.snapRekeyOffsetShared(spark, dir)
    val st = TextOps.snapshotDiffOf(a, TextOps.snapshotB(a, Some(offset)))
      .filter(col("new_id").isNotNull)
      .select(col("old_id"), col("new_id"), col("status"))
      .localCheckpoint()
    val carriedIds = st.filter(col("status").isin("unchanged", "moved"))
      .select(col("old_id"), col("new_id"))
    def remap(d: DataFrame) = d.withColumnRenamed("doc_id", "old_id")
      .join(carriedIds, Seq("old_id")).drop("old_id")
      .withColumnRenamed("new_id", "corpus_id")
    val cSh = remap(TextOps.shingleRowsShared(spark, dir))
    val cBands = remap(TextOps.bandRowsShared(spark, dir))
    val cMd5 = remap(a.select(col("doc_id"), md5(col("text")).as("content_md5")))
    val md5MinPlain = cMd5.groupBy(col("content_md5"))
      .agg(min(col("corpus_id")).as("exact_match")).localCheckpoint()
    // per-carried-doc shingle SETS: the per-row stream verify needs the
    // set adjacent to the candidate row (bounded per doc by text length —
    // this IS the persisted index's natural row shape)
    val setsPlain = cSh.groupBy(col("corpus_id"))
      .agg(collect_list(col("shash")).as("c_sh"), count(lit(1)).as("sz_c"))
      .localCheckpoint()
    val bandsPlain = cBands.localCheckpoint()
    // size the filter to the ACTUAL carried key count (a floor keeps tiny
    // corpora from under-building): a fixed capacity would silently degrade
    // the FPP — and with it the screen's pruning power — as the corpus
    // grows (the ×20 sweep alone carries ~1.3M band keys). The count is a
    // metadata read off the checkpoint just materialized.
    val nKeys = bandsPlain.count()
    // the SAME measured count picks the candidate-join strategy: broadcast
    // under the gate; above it, re-lay the static sides partitioned+sorted
    // on their join keys so per-batch joins never move them again
    val broadcastable = nKeys <= broadcastMaxKeys(spark)
    val (md5Min, sets, bands) =
      if (broadcastable) (md5MinPlain, setsPlain, bandsPlain)
      else (partitionedLayout(md5MinPlain, "content_md5"),
            partitionedLayout(setsPlain, "corpus_id"),
            partitionedLayout(bandsPlain, "band_idx", "band_sig"))
    val bloom = bloomBytesOf(
      bands.select(concat(col("band_idx").cast("string"), lit(":"),
        col("band_sig")).as("band_key")),
      "band_key", expectedItems = math.max(100000L, nKeys), fpp = 0.01)
    val changed = TextOps.snapshotB(a, Some(offset))
      .join(st.filter(col("status").isin("added", "modified"))
        .select(col("new_id").as("doc_id"), col("status")), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("status"))
    (CarriedIndex(md5Min, bands, sets, bloom, broadcastable), changed)
  }

  /** q162 core over an arbitrary STREAMING changed slice (doc_id, text,
    * status): q159's exact/near/new admission re-expressed as per-row
    * stream-static work — md5 probe (distinct-key left join), Bloom band
    * screen (no false negatives, so survivors are exactly q111's candidate
    * superset), band-bucket candidate join, per-row exact-Jaccard verify
    * against the carried shingle sets — then ONE tiny per-document reduce
    * through `flatMapGroupsWithState` (append mode, no watermark needed:
    * all of a document's candidate rows derive from its single source row,
    * so each group completes within its micro-batch). The group state is
    * the admission ledger: a document re-delivered in a LATER batch (crawl
    * retries do this constantly) is suppressed instead of re-admitted —
    * the cross-batch property IncrementalReplaySpec proves.
    *
    * 100 TB shape: the stream carries only the changed slice; the static
    * sides are the persisted index artifacts, joined through the SIZE-GATED
    * strategy ([[BroadcastMaxKeysConf]] — broadcast under the measured
    * threshold, partitioned+sorted stream-static sort-merge join above it,
    * exchanging only the batch's own rows); the only stateful operator keys
    * on doc_id with a Boolean per admitted id. */
  private[graft] def enrichedOf(changed: DataFrame, idx: CarriedIndex): DataFrame = {
    val bandStructs = TextOps.bandSigCols(col("sg")).zipWithIndex.map {
      case (b, bi) => struct(lit(bi).as("band_idx"), b.as("band_sig"))
    }
    changed
      .withColumn("content_md5", md5(col("text")))
      .withColumn("sh",
        array_distinct(graft.functions.ShingleHashes(col("text"), 3, M31)))
      .withColumn("sz_n", size(col("sh")))
      .withColumn("sg",
        graft.functions.MinHashSig(col("text"), 3, M31, MinHashPerms))
      .withColumn("bands",
        when(size(col("sg")) === MinHashPerms, array(bandStructs: _*))
          .otherwise(array().cast("array<struct<band_idx:int,band_sig:string>>")))
      .join(joinSide(idx, idx.md5Min), Seq("content_md5"), "left")
      .withColumn("suspect", exists(col("bands"), b =>
        mightContain(idx.bloomBytes)(concat(
          b.getField("band_idx").cast("string"), lit(":"), b.getField("band_sig")))))
  }

  private[graft] def candsOf(enriched: DataFrame, idx: CarriedIndex): DataFrame =
    // the Bloom screen is applied INSIDE the band array (HOF filter →
    // explode), not as a row predicate: a deterministic `.filter(suspect)`
    // gets predicate-pushed below the changed-slice join into the corpus
    // scan, where it evaluates the signature + 16 Bloom probes for EVERY
    // corpus document in BOTH snapshot-B branches (measured 15 s vs 2 s at
    // sf0.1). Screening the array keeps the probe per CHANGED document and
    // drops non-matching bands before the candidate join; Bloom one-sided
    // error means no true candidate band is ever dropped.
    enriched
      .select(col("doc_id"), col("status"), col("exact_match"), col("sh"),
        col("sz_n"), explode(filter(col("bands"), b =>
          mightContain(idx.bloomBytes)(concat(
            b.getField("band_idx").cast("string"), lit(":"),
            b.getField("band_sig"))))).as("b"))
      .select(col("doc_id"), col("status"), col("exact_match"), col("sh"),
        col("sz_n"), col("b.band_idx").as("band_idx"), col("b.band_sig").as("band_sig"))
      // Size-gated candidate join (the round-16 `weak`, closed): under
      // [[BroadcastMaxKeysConf]] the carried index broadcasts (micro-batch
      // plans get no AQE and the checkpointed relations have no stats —
      // unhinted they'd sort-merge-join shuffling the stream's
      // array-carrying rows per batch, measured 17 s vs 2 s at sf0.1);
      // above the gate the index CANNOT broadcast (at 100 TB it is
      // corpus-sized), and the build already laid it out partitioned +
      // sorted on these keys, so this join plans as a sort-merge join that
      // exchanges ONLY the per-batch stream rows. Both paths are proven
      // bit-identical by SimilarityStreamingSpec's forced-gate law.
      .join(joinSide(idx, idx.bands), Seq("band_idx", "band_sig"))
      .join(joinSide(idx, idx.shingleSets), Seq("corpus_id"))
      .withColumn("n_inter", size(array_intersect(col("sh"), col("c_sh"))))
      .select(col("doc_id"), col("status"), col("exact_match"),
        col("corpus_id").cast("long").as("corpus_id"),
        (col("n_inter") * 5 >= (col("sz_n") + col("sz_c") - col("n_inter")) * 4)
          .as("verified"))

  private[graft] def profEnriched(spark: SparkSession, changed: DataFrame,
      idx: CarriedIndex): DataFrame = enrichedOf(changed, idx)
  private[graft] def profCands(spark: SparkSession, changed: DataFrame,
      idx: CarriedIndex): DataFrame = candsOf(enrichedOf(changed, idx), idx)

  private[graft] def streamingIncrementalNearDedupOf(spark: SparkSession,
      changed: DataFrame, idx: CarriedIndex): org.apache.spark.sql.Dataset[AdmVerdict] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val enriched = enrichedOf(changed, idx)
    // one base row per document (keeps no-candidate docs alive) ∪ verified
    // candidate rows; scalars only past this point
    val base = enriched.select(col("doc_id"), col("status"), col("exact_match"),
      lit(null).cast("long").as("corpus_id"), lit(false).as("verified"))
    val cands = candsOf(enriched, idx)
    base.unionByName(cands).as[AdmRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, AdmVerdict](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[AdmRow], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // duplicate delivery: already admitted
          else {
            state.update(true)
            val rs = rows.toSeq
            val exact = rs.head.exact_match
            val near = rs.filter(_.verified).flatMap(_.corpus_id)
              .sorted.headOption
            val verdict =
              if (exact.isDefined) "exact"
              else if (near.isDefined) "near" else "new"
            Iterator(AdmVerdict(id, rs.head.status, verdict, exact.orElse(near)))
          }
      }
  }

  /** q162: q159's incremental near-dup admission as a CONTINUOUS stream —
    * the changed slice of the snapshot diff arrives as an unbounded stream
    * and is admitted against the carried (persisted) corpus index. Equals
    * batch q159 on the same diff row-for-row (same oracle), at any
    * micro-batch split, with re-deliveries suppressed by admission state. */
  def streamingIncrementalNearDedup(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_neardedup_${counter.incrementAndGet()}"
    val (idx, changedBatch) = carriedIndexFor(spark, dir)
    val offset = TextOps.snapRekeyOffsetShared(spark, dir)
    val changedStatus = changedBatch
      .select(col("doc_id"), col("status")).localCheckpoint()
    val bStream = TextOps.snapshotB(
      Tables.readStreamTable(spark, dir, "documents")
        .select(col("doc_id"), col("text")), Some(offset))
    val changed = bStream.join(broadcast(changedStatus), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("status"))
    // the admission ledger (flatMapGroupsWithState) is this query's one
    // stateful operator: run it at the streaming tier's state-partition
    // count (graft.stream.statePartitions) like every EventsStream query —
    // unlowered it inherited the session's batch shuffle width and paid a
    // per-batch state commit/reload per partition for a ledger of a few
    // thousand booleans (the ProfStream breakdown, OPTIMIZATION_r17.md)
    EventsStream.withStatePartitions(spark) {
      val q = streamingIncrementalNearDedupOf(spark, changed, idx)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy(col("doc_id"))
  }

  /** The band-key strings of a document as an array column: band index
    * prefixed onto the SHARED batch band layout (TextOps.bandSigCols — one
    * definition, so the stream's Bloom keys can never diverge from the
    * q111 batch bands). A document with fewer than n tokens has an empty
    * signature and yields an EMPTY key array (`exists` → not suspect; a
    * corpus-side `explode` → no index entries) — guarded here because
    * `element_at` past the end throws under ANSI mode, and an unguarded
    * concat would collapse every shingle-less doc onto shared degenerate
    * keys, flagging all short docs as mutual suspects.
    */
  def bandSigs(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sg = graft.functions.MinHashSig(text, 3, M31, MinHashPerms)
    val keyed = graft.operators.TextOps.bandSigCols(sg).zipWithIndex.map {
      case (b, bi) => concat(lit(s"$bi:"), b)
    }
    when(size(sg) === MinHashPerms, array(keyed: _*))
      .otherwise(array().cast("array<string>"))
  }

  /** q112: exact-layer streaming admission — each arriving incoming document
    * (doc_id % 5 = 0) gets `exact`/`new` against the static corpus md5
    * index, emitted once, append mode, stateless.
    *
    * The static side is broadcast here because the harness corpus is small.
    * At 100 TB the md5 index no longer broadcasts; the production forms are
    * (a) a shuffled stream-static join — still stateless, each micro-batch
    * shuffles only its own rows against the bucketed index — or (b) the same
    * Bloom screen [[bloomBandScreen]] uses, with exact-match suspects
    * verified async in batch (q111's layer). The join SHAPE is identical in
    * all three; only the distribution strategy changes.
    */
  def streamingAdmission(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_admission_${counter.incrementAndGet()}"
    val corpusMd5 = broadcast(
      Tables.documents(spark, dir).filter(col("doc_id") % 5 =!= 0)
        .select(md5(col("text")).as("content_md5"), col("doc_id"))
        .groupBy(col("content_md5")).agg(min(col("doc_id")).as("exact_match")))
    val admitted = Tables.readStreamTable(spark, dir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .withColumn("content_md5", md5(col("text")))
      .join(corpusMd5, Seq("content_md5"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, lit("exact"))
          .otherwise(lit("new")).as("verdict"),
        col("exact_match").as("match_doc"))
    EventsStream.withStatePartitions(spark) {
      val q = admitted.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy(col("doc_id"))
  }

  /** The in-stream near-dup suspect screen: returns (doc_id, suspect) for
    * the incoming role, probing a Bloom filter of the corpus band index.
    * Exercised by SimilarityStreamingSpec (soundness: no false negatives vs
    * the batch band join; false-positive rate bounded); not oracle-declared
    * because the filter's bit pattern is engine-specific.
    */
  def bloomBandScreen(spark: SparkSession, dir: String,
                      expectedItems: Long = 100000L, fpp: Double = 0.01): DataFrame = {
    val name = s"stream_screen_${counter.incrementAndGet()}"
    // build the filter ONCE as a distributed aggregate, collect the single
    // binary value, and ship it into the stream job as a literal — the
    // build-once / probe-forever lifecycle of a production screen (the
    // driver sees one scalar, never the band rows). BloomFilterAggregate /
    // BloomFilterMightContain are the expressions behind Spark's own
    // runtime-filter injection (not SQL-registered), built here directly.
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = math.max(64L,
      (-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(
        GraftBridge.expression(xxhash64(col("band_key"))),
        GraftBridge.expression(lit(expectedItems)),
        GraftBridge.expression(lit(numBits))).toAggregateExpression())
    val bloomBytes = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 =!= 0)
      .select(explode(bandSigs(col("text"))).as("band_key"))
      .agg(bloomAgg.as("bloom"))
      .head.getAs[Array[Byte]]("bloom")
    def mightContain(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      GraftBridge.column(BloomFilterMightContain(
        GraftBridge.expression(lit(bloomBytes)),
        GraftBridge.expression(xxhash64(v))))
    val screened = Tables.readStreamTable(spark, dir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .withColumn("bands", bandSigs(col("text")))
      .select(col("doc_id"),
        exists(col("bands"), b => mightContain(b)).as("suspect"))
    EventsStream.withStatePartitions(spark) {
      val q = screened.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy(col("doc_id"))
  }
}
