package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Structured Streaming surface (SURVEY.md §2.7): the reference's
  * polling/timeout/keep-alive semantics re-expressed as incremental queries
  * over the `events` table. The batch twins live in
  * [[graft.operators.EventOps]]; these run the *same logical plans* through
  * the streaming engine (file source → stateful agg → memory sink), replaying
  * the parquet as one incremental batch.
  *
  * At scale the file source becomes Kafka/queue input; the aggregation state
  * lives in the state store, bounded by the watermark; sinks become
  * `foreachBatch` upserts (the reference's overwrite-by-name semantics,
  * report_generator.py:64-68).
  *
  * Production state store: the default HDFS-backed provider keeps every
  * partition's state map ON-HEAP — at 100 TB, session/join state for the
  * interval joins and session windows exceeds executor heap long before the
  * watermark closes it. Deployments set
  * `spark.sql.streaming.stateStore.providerClass =
  * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * (local-disk store + changelog checkpointing; bounded heap regardless of
  * state volume). Results are provider-independent —
  * IncrementalReplaySpec replays the multi-batch session_window query under
  * BOTH providers and pins bit-identical output.
  */
object EventsStream {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Number of state-store partitions for the streaming queries below
    * (conf `graft.stream.statePartitions`).
    *
    * A stateful streaming operator fixes its state partitioning to
    * `spark.sql.shuffle.partitions` at first start, and every micro-batch
    * then reads+writes a delta file per partition per state store — for the
    * interval join that is 4 stores × partitions × batches of filesystem
    * round-trips, a pure fixed cost at local replay scale (the 100k-row
    * replay fits comfortably in a handful of partitions). On a real cluster
    * this knob is sized to executor count × cores like any shuffle — set the
    * conf there; it only needs to be small here because the replayed state
    * is tiny. Results are partitioning-independent (spec-pinned by the
    * replay suites, which run under several values).
    *
    * The replay-scale value (4) was measured in the round-17 optimization
    * pass with the StreamingQueryProgress breakdown (`Probe --stream`): the
    * per-batch state commit/reload walks every store instance (stores ×
    * partitions files per batch — the interval join runs FOUR stores), so
    * at replay scale the wall cost of BOTH the data batch and the
    * watermark-advance no-data batch scales with the partition count while
    * the replayed state never needs the width. Measured warm walls over
    * q58+q119+q123+q108+q110+q162: 17.3 s at 8, 14.3 s at 4, 15.3 s at 2
    * — 2 under-parallelizes the 200k-row interval-join batch (q58 regressed
    * 3.3 → 4.2 s), so 4 is the replay optimum (OPTIMIZATION_r17.md).
    *
    * Since r18 the DEFAULT is the cluster's own parallelism (VERDICT r17
    * #7): a deployment that never sets the conf gets state partitioning
    * sized like any shuffle, and it is the REPLAY HARNESS entry points
    * (Bench / Verify / ScaleBench and the profiling mains) that pin the
    * measured replay value 4 explicitly — a tiny-state constant belongs to
    * the harness, not to the engine's default. Results are
    * partitioning-independent (spec-pinned by the replay suites, which run
    * under several values).
    */
  private[streaming] def statePartitions(spark: SparkSession): Int =
    graft.GraftConf.int(spark, "graft.stream.statePartitions",
      spark.sparkContext.defaultParallelism)

  /** Run `f` with the session's shuffle partitioning lowered to
    * [[statePartitions]] (picked up by the streaming query at `.start()`),
    * restoring the caller's setting afterwards. Serialized on the session
    * (via the shared [[graft.operators.Analytics.withSessionConf]]) so two
    * concurrent streaming starts cannot interleave set/restore and leave
    * the session's batch width lowered (ADVICE r17).
    *
    * The same scope selects the fork-free local filesystem
    * ([[graft.fs.LocalFs.conf]]): the started query's Hadoop conf is built
    * from the session confs, and its checkpoint (offset log, commit log,
    * state-store deltas) is written through FileContext, which the stock
    * local filesystem serves with a `readlink` process per rename and a
    * `chmod` process per file. Every streaming start of the engine
    * (EventsStream and DocsStream) goes through this scope.
    *
    * It also starts the query outside per-session artifact isolation
    * ([[SharedCodegenCache]]), so a restart reuses the code an earlier
    * start compiled.
    */
  private[streaming] def withStatePartitions[T](spark: SparkSession)(f: => T): T = {
    org.apache.spark.sql.GraftBridge.settleArtifactIsolation(spark)
    graft.operators.Analytics.withSessionConf(spark)(
      Seq("spark.sql.shuffle.partitions" -> statePartitions(spark).toString,
        SharedCodegenCache) ++ graft.fs.LocalFs.conf.toSeq: _*)(f)
  }

  /** The session conf that lets a derived session reuse compiled code.
    *
    * Spark keys its generated-code cache (`CodeGenerator.cache`) on the
    * task thread's context class loader as well as the source text. Under
    * artifact isolation (`spark.sql.artifact.isolation.enabled`, on by
    * default) every session UUID gets its own job artifact state, and the
    * executor runs that session's tasks under a class loader of its own.
    * `writeStream.start()` runs the query in `cloneSession()`, a new UUID,
    * so under isolation every start compiles its generated classes again,
    * although their source is the same (stream-replay: 24 units in each
    * warm pass). A derived session with isolation off shares the default
    * artifact state, the default class loader and so the cache.
    *
    * Isolation buys the engine's derived sessions nothing: their plans run
    * only engine classes, and the engine adds no session artifacts. It is
    * set on the derived session only; the caller keeps its own isolation.
    * Inside [[withStatePartitions]] the clone copies the conf, and the
    * caller's setting is restored afterwards. A session's artifact manager
    * reads the conf once, when it is built, and a session's first
    * `cloneSession()` builds it; so the scope builds the caller's manager
    * before it sets the conf, or a stream that is a session's first action
    * would turn isolation off for that session for good. q62's loop session
    * ([[graft.operators.TextOps]] `buildClusterLabels`) sets the conf at
    * birth.
    */
  private[graft] val SharedCodegenCache: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  case class Ev(user_id: Long, ts_us: Long)
  case class Sess(user_id: Long, start_us: Long, end_us: Long, n_events: Long)
  case class St(start: Long, end: Long, n: Long)

  /** q50: hourly tumbling counts per event type, computed incrementally and
    * drained synchronously through a memory sink. Output equals the batch
    * q20 plan (same DuckDB oracle shape), demonstrating batch/streaming
    * unification of the engine.
    */
  def streamingTumbling(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_tumbling_${counter.incrementAndGet()}"
    val stream = Tables.eventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    withStatePartitions(spark) {
      val q = stream.writeStream
        .format("memory").queryName(name).outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
              col("event_type"), col("n"), col("total_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Arbitrary stateful processing (`flatMapGroupsWithState`): streaming
    * sessionization with per-user custom state — the escalation path when
    * `session_window` can't express the state machine (SURVEY §2.7). Emits a
    * session whenever a ≥30-minute gap closes it; the per-user *open* session
    * at end-of-replay stays in state (watermark semantics), so callers
    * compare against batch sessions minus each user's last one.
    */
  def streamingSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 30L * 60 * 1000 * 1000
    val name = s"stream_sess_${counter.incrementAndGet()}"
    val events = Tables.eventsStream(spark, dir)
      .select(col("user_id"), Tables.tsMicros(col("ts")).as("ts_us")).as[Ev]

    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Sess](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[St]) =>
          // one-shot replay: the whole group arrives in one batch, sorted here
          val sorted = evs.map(_.ts_us).toArray.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[Sess]
          var st = state.getOption.getOrElse(St(-1L, -1L, 0L))
          sorted.foreach { t =>
            if (st.n == 0L) st = St(t, t, 1L)
            else if (t - st.end > gapUs) { out += Sess(uid, st.start, st.end, st.n); st = St(t, t, 1L) }
            else st = St(st.start, t, st.n + 1)
          }
          state.update(st)   // open session stays in state
          out.iterator
      }
    withStatePartitions(spark) {
      val q = sessions.toDF().writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy(col("user_id"), col("start_us"))
  }

  /** Watermark delay for the append-mode aggregation (q108). */
  val AppendDelay = "30 minutes"

  /** q108: watermarked APPEND-mode tumbling aggregation — the production
    * form of q50. `complete` mode re-emits every window ever seen and holds
    * them all in state forever (unbounded at 100 TB); here the 30-minute
    * watermark EVICTS a window's state and emits its single final row once
    * the watermark passes the window end, so state is bounded by
    * (delay / window width) open windows per key regardless of stream
    * length. Emitted rows are exactly the watermark-closed windows —
    * window_end ≤ max(event time) − delay — so the DuckDB oracle is the
    * batch hourly aggregate filtered to closed windows (the q81
    * open-session trick applied to windows). The engine flushes the final
    * eviction through a no-data micro-batch after the last file batch.
    */
  def streamingTumblingAppend(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_append_${counter.incrementAndGet()}"
    withStatePartitions(spark) {
      val q = Tables.eventsStream(spark, dir)
        // watermarks require TIMESTAMP event time (UTC session: same instant)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", AppendDelay)
        // group by the window STRUCT (not .start): the struct carries the
        // event-time metadata append mode needs to close windows
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("win").getField("start").as("hour_start"),
                col("event_type"), col("n"), col("total_value"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
              col("event_type"), col("n"), col("total_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** q110: watermarked APPEND-mode sliding aggregation — the production form
    * of q80, completing the pattern q108 set for tumbling windows. Each event
    * lands in 4 overlapping 1-hour windows sliding every 15 minutes; the
    * 30-minute watermark evicts and emits a window's single final row once
    * the watermark passes its end, so state is bounded by
    * (delay + width) / slide open windows per key regardless of stream
    * length. Emitted rows are exactly the watermark-closed windows, so the
    * DuckDB oracle is the batch sliding aggregate (q48's form) filtered to
    * window_end ≤ max(event time) − delay.
    */
  def streamingSlidingAppend(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sliding_append_${counter.incrementAndGet()}"
    withStatePartitions(spark) {
      val q = Tables.eventsStream(spark, dir)
        // watermarks require TIMESTAMP event time (UTC session: same instant)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", AppendDelay)
        // group by the window STRUCT: append mode closes windows off its
        // event-time metadata (same contract as q108)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("win").getField("start").as("win_start"),
                col("event_type"), col("n"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .select(col("win_start").cast("timestamp_ntz").as("win_start"),
              col("event_type"), col("n"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** q80: incremental sliding-window counts — the streaming twin of the
    * batch q48 plan (1-hour windows every 15 minutes): each event lands in
    * 4 overlapping windows, maintained incrementally in the state store.
    * Output equals the batch window explode + hash agg (same oracle shape).
    */
  def streamingSliding(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sliding_${counter.incrementAndGet()}"
    withStatePartitions(spark) {
      val q = Tables.eventsStream(spark, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").getField("start").as("win_start"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .select(col("win_start").cast("timestamp_ntz").as("win_start"),
              col("event_type"), col("n"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** q56: stream-static enrichment — the streaming twin of the reference's
    * enrichment join (SURVEY §2.4 J2): an unbounded event stream joined to a
    * broadcast dimension snapshot, then incrementally aggregated. This is the
    * canonical Kafka-topic ⋈ dimension-table shape; the static side is
    * re-resolvable per micro-batch, so dimension updates are picked up
    * without restarting the query. Output equals the batch join+agg (same
    * DuckDB oracle).
    */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_enrich_${counter.incrementAndGet()}"
    val dim = broadcast(Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment")))
    withStatePartitions(spark) {
      val q = Tables.eventsStream(spark, dir)
        .join(dim, Seq("user_id"))                     // stream ⋈ static (broadcast)
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .select(col("c_mktsegment"), col("event_type"), col("n"), col("total_value"))
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** q58: stream-stream interval join — click→purchase attribution within a
    * 30-minute window, both sides watermarked (the watermark bounds the join
    * state the engine must retain: a click can only match purchases up to 30
    * minutes later, so once the purchase watermark passes click_ts + 30min
    * the click's state is evicted). Inner join ⇒ every match is emitted
    * exactly once regardless of trigger boundaries, so a one-shot replay
    * equals the batch interval join (the DuckDB oracle).
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_join_${counter.incrementAndGet()}"
    def side(evType: String, prefix: String) =
      Tables.eventsStream(spark, dir)
        .filter(col("event_type") === evType)
        .select(col("user_id").as(s"${prefix}_user"),
          // watermarks require TIMESTAMP event time (UTC session: same instant)
          col("ts").cast("timestamp").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    withStatePartitions(spark) {
      val q = side("click", "click").join(side("purchase", "buy"),
          expr("""click_user = buy_user AND
                  buy_ts >= click_ts AND buy_ts <= click_ts + INTERVAL 30 MINUTES"""))
        .select(col("click_user").as("user_id"), col("click_id"), col("buy_id"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy(col("click_id"), col("buy_id"))
  }

  /** q123: watermarked streaming `session_window` aggregation — the
    * BUILT-IN sessionizer under the streaming engine (q71 is its batch
    * twin; q81 is the custom-state escalation for when the built-in gap
    * merge can't express the state machine). Append mode emits each
    * merged session exactly once, when the watermark passes its end
    * (end = last event + gap), so state is bounded by the open sessions
    * inside the watermark horizon. The DuckDB oracle is the batch gap
    * sessionization filtered to watermark-closed sessions
    * (end ≤ min-floored max event time − delay — the q108 closed-window
    * trick applied to merged sessions).
    */
  def streamingSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sess_win_${counter.incrementAndGet()}"
    withStatePartitions(spark) {
      val q = Tables.eventsStream(spark, dir)
        // watermarks require TIMESTAMP event time (UTC session: same instant)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", AppendDelay)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy(col("user_id"), col("start_us"))
  }

  /** q119: stream-stream interval LEFT OUTER join — q58's attribution with
    * the no-conversion channel, the shape a production attribution feed
    * actually needs (clicks that never converted are rows, not absences).
    * Outer semantics are watermark-driven: a click's null-extended row can
    * only emit once the watermark proves no future purchase can match
    * (wm > click_ts + 30min), at which point its join state is evicted —
    * so state stays bounded exactly as in the inner form, and every click
    * is emitted at most once (matched rows as they arrive, unmatched rows
    * on eviction). Clicks still inside the watermark horizon at
    * end-of-replay remain in state and emit nothing, so the DuckDB oracle
    * is the batch interval join UNION the anti-joined clicks older than
    * the final watermark (min of both sides' max event time − delay,
    * millisecond-floored — the engine's watermark granularity).
    */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_left_join_${counter.incrementAndGet()}"
    def side(evType: String, prefix: String) =
      Tables.eventsStream(spark, dir)
        .filter(col("event_type") === evType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("ts").cast("timestamp").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    withStatePartitions(spark) {
      val q = side("click", "click").join(side("purchase", "buy"),
          expr("""click_user = buy_user AND
                  buy_ts >= click_ts AND buy_ts <= click_ts + INTERVAL 30 MINUTES"""),
          "leftOuter")
        .select(col("click_user").as("user_id"), col("click_id"), col("buy_id"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .orderBy(col("click_id"), col("buy_id").asc_nulls_first)
  }

  /** Keyed newest-wins merge of one micro-batch into a parquet target —
    * the ONE upsert implementation q23's archive sink, q132's sketch sink,
    * and the replay specs all share. `newestFirst` orders candidates per
    * key (rank 1 survives). The target's last generation is read through
    * [[graft.fs.Generations.current]] and the merge replaces it through
    * [[graft.fs.Generations.publish]], the engine's one crash-safe publish
    * (see [[mergeGeneration]]).
    */
  private[graft] def upsertBatch(target: String, keys: Seq[String],
      newestFirst: Seq[org.apache.spark.sql.Column],
      wrapFs: FileSystem => FileSystem = identity)(batch: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(newestFirst: _*)
    mergeGeneration(target, batch, wrapFs)(
      _.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn"))
  }

  /** Publishes `merge(last ∪ batch)` as the next generation of `target`,
    * where `last` is the generation [[graft.fs.Generations.current]] finds
    * (the target, else the aside a crash between the swap's two renames
    * leaves, else an empty frame of the batch's schema — an `exists`
    * probe, never a failed read). The merge reads the live target, so it is
    * written to a staging dir and swapped in by
    * [[graft.fs.Generations.publish]] (an in-place overwrite would clobber
    * its own input mid-scan); a crash at any point leaves the previous
    * generation or the new one for the next batch to read. A production
    * deployment gets true atomicity from a transactional table format, as
    * the q132 scaladoc documents. `wrapFs` wraps the publish filesystem
    * (`upsertBatch` passes the specs' fault injector through).
    */
  private def mergeGeneration(target: String, batch: DataFrame,
      wrapFs: FileSystem => FileSystem)(merge: DataFrame => DataFrame): Unit = {
    val sp = batch.sparkSession
    val t = new Path(target)
    val fs = wrapFs(t.getFileSystem(
      graft.fs.LocalFs.hadoopConf(sp.sparkContext.hadoopConfiguration)))
    val last = graft.fs.Generations.current(fs, t).fold(
      sp.createDataFrame(sp.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema))(
      p => sp.read.parquet(p.toString))
    val staging = t.suffix(".staging")
    merge(last.unionByName(batch))
      .write.options(graft.fs.LocalFs.conf).mode("overwrite").parquet(staging.toString)
    if (!graft.fs.Generations.publish(fs, staging, t))
      throw new java.io.IOException(s"a concurrent writer replaced $target")
  }

  /** `foreachBatch` upsert sink — the reference's overwrite-by-name archive
    * semantics (report_generator.py:64-68: regenerating a letter replaces the
    * file with the same name) as a streaming merge: each micro-batch is
    * merged into a keyed parquet target, newest (ts, event_id) wins per
    * (user_id, event_type). This is the standard idempotent-upsert pattern
    * where the sink has no native MERGE — at scale the target would be a
    * transactional table format and the merge a keyed MERGE INTO; the
    * batch-side logic (union + ranking window) is identical.
    *
    * Returns the final target contents. Exercised by the test suite against
    * the batch latest-per-key plan (q23); not oracle-declared (side-effecting
    * sink, not a query).
    */
  def foreachBatchUpsert(spark: SparkSession, dir: String, targetDir: String): DataFrame = {
    val stream = Tables.eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"), col("value"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(targetDir, Seq("user_id", "event_type"),
          Seq(col("ts").desc, col("event_id").desc))(batch)
      }
    withStatePartitions(spark) {
      val q = stream.start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(targetDir)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Watermarked streaming dedup (first-wins within the watermark) — the
    * streaming twin of the reference's newest-wins cancellation. Exercised by
    * the test suite; not oracle-declared (append-mode emission depends on
    * watermark advancement, which a one-shot replay leaves open).
    */
  def dedupWithinWatermark(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_dedup_${counter.incrementAndGet()}"
    withStatePartitions(spark) {
      val q = Tables.eventsStream(spark, dir)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy(col("user_id"), col("event_type"), col("event_id"))
  }

  /** q131: streaming KMV distinct count — per-day distinct users estimated
    * by the [[graft.functions.KmvSketch]] typed Aggregator running INSIDE a
    * streaming aggregation (complete mode), with the exact batch distinct
    * joined on as the accuracy audit. This is the sketch tier's streaming
    * form: the same ≤K-long buffer that makes KMV a one-pass batch
    * aggregate is what the state store holds per group here — custom
    * Aggregator state merges incrementally across micro-batches exactly
    * like the built-in algebraic aggregates (and unlike exact
    * count-distinct, whose streaming state would grow with the distinct
    * count). Determinism: "K smallest distinct hashes" is merge-order
    * independent, so the streaming estimate equals the batch/oracle
    * estimate bit-for-bit no matter how batches slice the input.
    *
    * Scale shape: state is K longs per day-group; the shuffle carries
    * partial buffers, not users. The harness replays in COMPLETE mode
    * (every day re-emitted per trigger — the memory-sink comparison form);
    * complete mode never evicts aggregation state, so the production form
    * at 100 TB is the SAME aggregate in UPDATE mode with a watermark on
    * `ts` — there the engine does drop closed days from the store, and the
    * per-day buffers it holds until then are the identical ≤K longs.
    */
  def streamingKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val name = s"stream_kmv_${counter.incrementAndGet()}"
    val kmv = udaf(graft.functions.KmvSketch)
    val stream = Tables.eventsStream(spark, dir)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        PortableHash.h48(col("user_id").cast("string")).as("uh"))
      .groupBy(col("day"))
      .agg(kmv(col("uh")).as("kmv_users"))
    withStatePartitions(spark) {
      val q = stream.writeStream
        .format("memory").queryName(name).outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // exact audit from the batch table (the q79/q130 sketch-audit pattern)
    val exact = Tables.events(spark, dir)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(count_distinct(col("user_id")).as("exact_distinct"))
    spark.table(name).join(exact, "day")
      .select(col("day"), col("kmv_users"), col("exact_distinct"))
      .orderBy(col("day"))
  }

  /** A fresh `run*` directory for a `foreachBatch` upsert target, under
    * `<java.io.tmpdir>/<name>/pid_<pid>/`. The target must outlive the
    * streaming run (the returned frame reads it lazily), so this JVM's
    * namespace is kept across calls and removed at JVM exit; a later call
    * removes the namespaces whose OWNING PROCESS IS DEAD — never by an age
    * heuristic: a concurrent JVM whose run stalls past any mtime horizon
    * (GC pause, suspended bench) must not lose its live target mid-stream.
    * A namespace whose pid is live is removed only on proof of pid reuse:
    * the live process STARTED after the namespace was last written, so it
    * cannot be the writer. Entries with no adjudicable owner (pre-namespace
    * `run*` directories, malformed names) are removed after two days.
    */
  private def scratchRunDir(name: String): String = {
    val parent = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), name)
    java.nio.file.Files.createDirectories(parent)
    val staleAfterMs = 2L * 24 * 3600 * 1000
    val now = System.currentTimeMillis()
    val myPid = ProcessHandle.current.pid
    Option(parent.toFile.listFiles()).getOrElse(Array.empty)
      .filter { d =>
        if (d.getName.startsWith("pid_"))
          d.getName.stripPrefix("pid_").toLongOption match {
            case Some(pid) if pid == myPid => false     // always keep our own
            case Some(pid) =>
              val h = ProcessHandle.of(pid)
              if (!(h.isPresent && h.get.isAlive)) true // owner is dead
              else {                                    // live: reused iff
                val started = h.get.info.startInstant   //  born after the dir
                started.isPresent &&                    //  stopped changing
                  started.get.toEpochMilli > d.lastModified()
              }
            case None => true   // malformed namespace: nobody owns it
          }
        else now - d.lastModified() > staleAfterMs      // legacy run* dirs
      }
      .foreach(rmTree)
    val mine = parent.resolve(s"pid_$myPid")
    java.nio.file.Files.createDirectories(mine)
    if (scratchOwned.add(mine.toString))
      sys.addShutdownHook(rmTree(mine.toFile))
    java.nio.file.Files.createTempDirectory(mine, "run").toString
  }

  /** This JVM's scratch namespaces, each with its exit hook registered. */
  private val scratchOwned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Delete `f` and, unless it is a symlink, everything under it (a link
    * planted in the shared tmpdir is removed, never followed). */
  private def rmTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** q132: the PRODUCTION form of q131 — the same KMV distinct-count
    * Aggregator in watermarked UPDATE mode with a `foreachBatch` keyed
    * upsert sink (the q23-era overwrite-by-key pattern). q131's
    * complete-mode harness form holds every day's group in the state store
    * forever and re-emits the whole result per trigger — fine for a
    * memory-sink comparison, unbounded at 100 TB. Here:
    *
    *  - the aggregation groups by a `window(ts, 1 day)` over the
    *    WATERMARKED event time, so once the watermark passes a day's end
    *    the engine EVICTS that day's ≤K-long buffer from the store — state
    *    is bounded by the days inside the watermark horizon, not the
    *    stream's lifetime (IncrementalReplaySpec asserts the store's final
    *    row count is a fraction of the day count after a 4-slice replay);
    *  - update mode emits only the days each micro-batch CHANGED (not the
    *    full history), and the upsert keeps the newest emission per day —
    *    `batchId` is the recency key, so replaying a batch after a failure
    *    converges to the same target (idempotent upsert);
    *  - the sink target outlives eviction: a closed day's final estimate
    *    lives in the upserted table after its state is dropped, which is
    *    exactly the division of labor a production rollup wants.
    *
    * Determinism: "K smallest distinct hashes" is merge/slice-order
    * independent and late data beyond the watermark cannot exist in the
    * in-order replay, so the final target equals the batch per-day KMV
    * estimate bit-for-bit — the DuckDB oracle is q131's estimator CTE
    * without the audit column.
    */
  def streamingKmvUpdate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val kmv = udaf(graft.functions.KmvSketch)
    val target = scratchRunDir("graft_kmv_upsert")
    val stream = Tables.eventsStream(spark, dir)
      // watermarks require TIMESTAMP event time (UTC session: same instant)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", AppendDelay)
      // group by the window STRUCT over the watermarked column: update-mode
      // state cleanup keys off its event-time metadata (the q108 contract)
      .groupBy(window(col("ts"), "1 day").as("win"))
      .agg(kmv(PortableHash.h48(col("user_id").cast("string"))).as("kmv_users"))
      .select(date_format(col("win").getField("start"), "yyyy-MM-dd").as("day"),
              col("kmv_users"))
    withStatePartitions(spark) {
      val q = stream.writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // newest emission per day wins (batch_seq is monotonic); ties
          // impossible — update mode emits a changed group once per batch
          upsertBatch(target, Seq("day"), Seq(col("batch_seq").desc))(
            batch.withColumn("batch_seq", lit(batchId)))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(target)
      .select(col("day"), col("kmv_users"))
      .orderBy(col("day"))
  }

  /** q145 leaderboard depth. */
  val TopkK = 10

  /** Merge one micro-batch into the per-event_type top-[[TopkK]] leaderboard
    * target — the incremental form of q15's batch top-k. Correctness rests
    * on top-k's exact decomposability: topk(A ∪ B) = topk(topk(A) ∪ topk(B))
    * (row-selection by a total order — (value desc, event_id) is total, so
    * no tie can make the reduced merge diverge from the full one;
    * IncrementalReplaySpec pins the law directly). The batch is therefore
    * pre-reduced to ITS OWN top-k per group before touching the target: the
    * merge reads ≤ 2k rows per group no matter how large the batch or how
    * long the stream has run. `dropDuplicates(event_id)` makes a replayed
    * micro-batch a no-op (idempotent under at-least-once redelivery, the
    * same contract as [[upsertBatch]]'s newest-wins).
    */
  private[graft] def topkMergeBatch(target: String, k: Int)(batch: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    val batchTop = batch.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    mergeGeneration(target, batchTop, identity)(
      _.drop("rank").dropDuplicates("event_id")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k))
  }

  /** q145: streaming top-k — the per-event_type top-[[TopkK]] events by
    * value as a continuously-maintained leaderboard (q15's batch top-k /
    * q139's per-query rank lists, kept current over a stream — the
    * "trending now" materialization every event pipeline serves). Each
    * micro-batch pre-reduces to its own top-k (a partial WindowGroupLimit
    * batch-side) and merges into the keyed parquet target through
    * [[topkMergeBatch]] — the q132 foreachBatch-upsert machinery with
    * top-k's decomposability supplying exactness.
    *
    * Why NO aggregation-state watermark: top-k over all history is exactly
    * decomposable, so the TARGET is the only state the operator needs —
    * per-batch work is (batch top-k) + (≤2k-row merge per group),
    * independent of stream length. The watermark here guards the one thing
    * that does need engine state: `dropDuplicatesWithinWatermark(event_id)`
    * protects the leaderboard from at-least-once redelivery (a duplicate
    * event would occupy two of the k slots), and its dedup state is
    * evicted past the horizon — bounded, unlike an unwatermarked
    * `dropDuplicates` whose key set grows with the stream.
    *
    * Determinism: ranking is by (value desc, event_id) — a total order on
    * immutable event rows — so the final target equals the batch top-k
    * bit-for-bit however the stream is sliced (the oracle is q15's shape
    * over events).
    */
  def streamingTopK(spark: SparkSession, dir: String): DataFrame = {
    val target = scratchRunDir("graft_topk_upsert")
    val stream = Tables.eventsStream(spark, dir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", AppendDelay)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
    withStatePartitions(spark) {
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          topkMergeBatch(target, TopkK)(batch)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(target)
      .select(col("event_type"), col("rank").cast("long").as("rank"),
        col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_type"), col("rank"))
  }
}
