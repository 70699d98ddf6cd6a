package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.EventOps

/** TRUE multi-batch incremental execution.
  *
  * The EventsStream twins replay the single-file events table as ONE
  * micro-batch, which proves plan equivalence but not the state machinery.
  * Here the same operators run over a four-file, time-range-sliced copy with
  * `maxFilesPerTrigger=1`, so aggregation state, join state and
  * `flatMapGroupsWithState` user state MUST survive micro-batch boundaries
  * to produce the batch answer — the property that matters on a real
  * Kafka-fed cluster where data never arrives in one batch.
  */
class IncrementalReplaySpec extends SparkSpec {

  /** Four time-sliced parquet files (range-partitioned by ts, so each
    * micro-batch delivers one contiguous time range in order). */
  private lazy val multi: (String, org.apache.spark.sql.types.StructType) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = java.nio.file.Files.createTempDirectory("graft_events_multi").toString
    val raw = spark.read.parquet(s"$sf001/events.parquet")
    raw.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(dir)
    // FileStreamSource orders files by modification time, and a bulk write
    // leaves ties — pin strictly increasing mod-times in range order so each
    // micro-batch delivers the next contiguous time slice (the Kafka-offset
    // arrival order a real feed would have)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(System.currentTimeMillis() - (parts.length - i) * 60000L)
    }
    (dir, raw.schema)
  }

  private def streamEvents: DataFrame = {
    val (dir, schema) = multi
    Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir))
      // watermarks require TIMESTAMP event time (UTC session: same instant)
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  test("tumbling aggregation state survives micro-batch boundaries") {
    val name = s"inc_tumbling_${counter.incrementAndGet()}"
    val q = streamEvents
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 4, s"expected >=4 non-empty micro-batches, saw $nBatches")
    val streamed = spark.table(name)
      .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
              col("event_type"), col("n"), col("total_value"))
      .orderBy(col("hour_start"), col("event_type")).collect()
    val batch = EventOps.tumblingCounts(spark, sf001).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("append-mode watermarked aggregation emits exactly the closed windows across batches") {
    val name = s"inc_append_${counter.incrementAndGet()}"
    val q = streamEvents
      .withWatermark("ts", graft.streaming.EventsStream.AppendDelay)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win").getField("start").as("hour_start"), col("event_type"), col("n"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 4, s"expected >=4 non-empty micro-batches, saw $nBatches")
    // session tz is UTC, so tz and ntz readings agree on epoch millis
    def ms(x: Any): Long = x match {
      case t: java.sql.Timestamp       => t.getTime
      case d: java.time.LocalDateTime  => d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case i: java.time.Instant        => i.toEpochMilli
      case other => fail(s"unexpected timestamp class ${other.getClass}")
    }
    val streamed = spark.table(name).collect()
      .map(r => (ms(r.getAs[Any]("hour_start")),
                 r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    // batch twin filtered to watermark-closed windows (end <= max ts - delay)
    val e = Tables.events(spark, sf001)
    val wm = ms(e.agg(max(col("ts"))).head.get(0)) - 30 * 60 * 1000L
    val closed = e.groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (ms(r.getAs[Any]("hour_start")),
                 r.getAs[String]("event_type"), r.getAs[Long]("n")))
      .filter(t => t._1 + 3600 * 1000L <= wm).toSet
    assert(streamed == closed)
    assert(streamed.nonEmpty)
  }

  test("append-mode sliding windows close correctly across batches") {
    // q110's shape under true multi-batch replay: each event feeds 4
    // overlapping windows whose state must survive batch boundaries until
    // the advancing watermark closes them
    val name = s"inc_sliding_append_${counter.incrementAndGet()}"
    val q = streamEvents
      .withWatermark("ts", graft.streaming.EventsStream.AppendDelay)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win").getField("start").as("win_start"), col("event_type"), col("n"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 4, s"expected >=4 non-empty micro-batches, saw $nBatches")
    def ms(x: Any): Long = x match {
      case t: java.sql.Timestamp       => t.getTime
      case d: java.time.LocalDateTime  => d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case i: java.time.Instant        => i.toEpochMilli
      case other => fail(s"unexpected timestamp class ${other.getClass}")
    }
    val streamed = spark.table(name).collect()
      .map(r => (ms(r.getAs[Any]("win_start")),
                 r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    // batch twin: explode each event into its 4 slide offsets, keep closed windows
    val e = Tables.events(spark, sf001)
    val wm = ms(e.agg(max(col("ts"))).head.get(0)) - 30 * 60 * 1000L
    val slideMs = 15 * 60 * 1000L
    val closed = e.select(col("ts"), col("event_type")).collect().flatMap { r =>
      val t = ms(r.getAs[Any]("ts"))
      (0L until 4L).map(k => ((t / slideMs) * slideMs - k * slideMs, r.getString(1)))
    }.groupBy(identity).map { case ((w, et), xs) => (w, et, xs.length.toLong) }
      .filter(t => t._1 + 3600 * 1000L <= wm).toSet
    assert(streamed == closed)
    assert(streamed.nonEmpty)
  }

  test("interval-join state matches clicks to purchases in LATER micro-batches") {
    def side(evType: String, prefix: String) = streamEvents
      .filter(col("event_type") === evType)
      .select(col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"),
              col("event_id").as(s"${prefix}_id"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    val name = s"inc_join_${counter.incrementAndGet()}"
    val q = side("click", "click").join(side("purchase", "buy"),
        expr("""click_user = buy_user AND
                buy_ts >= click_ts AND buy_ts <= click_ts + INTERVAL 30 MINUTES"""))
      .select(col("click_id"), col("buy_id"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin: the q58 interval join
    val e = Tables.events(spark, sf001)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("buy_id"))
    val batch = c.join(p, Seq("user_id"))
      .filter(col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("buy_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  /** Run the multi-batch left-outer interval-join replay (q119's shape — 4
    * state stores) and return the streamed rows, asserting no double
    * emission. An unmatched click's null-extended row may only emit when
    * the ADVANCING watermark proves no future purchase can match; crossing
    * batch boundaries must neither drop it nor emit it twice. */
  private def runLeftOuterJoinReplay(): Set[(Long, Long)] = {
    def side(evType: String, prefix: String) = streamEvents
      .filter(col("event_type") === evType)
      .select(col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"),
              col("event_id").as(s"${prefix}_id"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    val name = s"inc_left_join_${counter.incrementAndGet()}"
    val q = side("click", "click").join(side("purchase", "buy"),
        expr("""click_user = buy_user AND
                buy_ts >= click_ts AND buy_ts <= click_ts + INTERVAL 30 MINUTES"""),
        "leftOuter")
      .select(col("click_id"), col("buy_id"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(streamed.length == streamed.toSet.size, "a row emitted more than once")
    streamed.toSet
  }

  /** Batch twin of the left-outer interval-join replay: the q58 interval
    * join ∪ watermark-closed unmatched clicks (as (click_id, -1)). */
  private lazy val leftOuterJoinBatch: Set[(Long, Long)] = {
    val e = Tables.events(spark, sf001)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("buy_id"))
    val matched = c.join(p, Seq("user_id"))
      .filter(col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("buy_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def us(x: Any): Long = x match {
      case d: java.time.LocalDateTime =>
        d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000 +
          d.getNano / 1000 % 1000
      case t: java.sql.Timestamp => t.getTime * 1000 + t.getNanos / 1000 % 1000
      case other => fail(s"unexpected timestamp class ${other.getClass}")
    }
    val maxC = us(c.agg(max(col("cts"))).head.get(0))
    val maxP = us(p.agg(max(col("pts"))).head.get(0))
    // the engine tracks watermarks at ms granularity
    val wmUs = (math.min(maxC, maxP) / 1000) * 1000 - 3600L * 1000000
    val matchedClicks = matched.map(_._1)
    val unmatched = c.collect()
      .map(r => (r.getAs[Long]("click_id"), us(r.getAs[Any]("cts"))))
      .filter { case (id, t) => !matchedClicks.contains(id) &&
        t + 30L * 60 * 1000000 < wmUs }
      .map { case (id, _) => (id, -1L) }.toSet
    assert(unmatched.nonEmpty, "fixture should close at least one unmatched click")
    matched ++ unmatched
  }

  test("left-outer interval-join emits each unmatched click exactly once across batches") {
    assert(runLeftOuterJoinReplay() == leftOuterJoinBatch)
  }

  test("left-outer interval-join state is bit-identical under RocksDBStateStoreProvider") {
    // The 100 TB state concern is LARGEST for stream-stream joins: the
    // interval join holds BOTH sides' rows across the watermark horizon in
    // 4 state stores (left/right × keyToNumValues/keyWithIndexToValue) —
    // far more state than a windowed aggregate's one counter per window.
    // Same slices, same watermark advance, same matched AND null-extended
    // rows under the disk-spilling production provider.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try assert(runLeftOuterJoinReplay() == leftOuterJoinBatch)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run the multi-batch session_window replay and return the streamed
    * rows (asserting ≥4 non-empty micro-batches and no double emission). */
  private def runSessionWindowReplay(): Set[(Long, Long, Long, Long)] = {
    val name = s"inc_sess_win_${counter.incrementAndGet()}"
    val q = streamEvents
      .withWatermark("ts", graft.streaming.EventsStream.AppendDelay)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n_events"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 4, s"expected >=4 non-empty micro-batches, saw $nBatches")
    val streamed = spark.table(name).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
                 r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
    assert(streamed.length == streamed.toSet.size, "a session emitted twice")
    streamed.toSet
  }

  /** Batch twin of the session_window replay: q71's gap sessionization
    * filtered to watermark-closed sessions. */
  private lazy val sessionWindowClosedBatch: Set[(Long, Long, Long, Long)] = {
    val e = Tables.events(spark, sf001)
    val maxUs = Tables.tsMicros(max(col("ts")))
    val maxTs = e.agg(maxUs.as("m")).head.getLong(0)
    val wmUs = (maxTs / 1000) * 1000 - 30L * 60 * 1000000   // ms-floored − delay
    EventOps.sessionWindowAgg(spark, sf001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
                 r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
      .filter(_._3 <= wmUs).toSet
  }

  test("session_window merges gap-sessions across batches and emits only closed ones") {
    val streamed = runSessionWindowReplay()
    assert(streamed == sessionWindowClosedBatch)
    assert(sessionWindowClosedBatch.nonEmpty)
  }

  test("session_window state is bit-identical under RocksDBStateStoreProvider") {
    // The documented production state store (EventsStream scaladoc): at
    // 100 TB, session/join state exceeds the default in-heap HDFS-backed
    // store's executor-heap bound; RocksDB spills to local disk with the
    // same changelog semantics. Same slices, same watermark, same rows.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = runSessionWindowReplay()
      assert(streamed == sessionWindowClosedBatch)
      assert(sessionWindowClosedBatch.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run the multi-batch flatMapGroupsWithState session replay and return
    * the streamed rows. */
  private def runCustomStateReplay(): Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.streaming.EventsStream.{Ev, Sess, St}
    val gapUs = 30L * 60 * 1000 * 1000
    val name = s"inc_sess_${counter.incrementAndGet()}"
    val sessions = streamEvents
      .select(col("user_id"), Tables.tsMicros(col("ts")).as("ts_us")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Sess](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[St]) =>
          val sorted = evs.map(_.ts_us).toArray.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[Sess]
          var st = state.getOption.getOrElse(St(-1L, -1L, 0L))
          sorted.foreach { t =>
            if (st.n == 0L) st = St(t, t, 1L)
            else if (t - st.end > gapUs) { out += Sess(uid, st.start, st.end, st.n); st = St(t, t, 1L) }
            else st = St(st.start, t, st.n + 1)
          }
          state.update(st)
          out.iterator
      }
    val q = sessions.toDF().writeStream
      .format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    spark.table(name).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
                 r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
  }

  /** Batch twin of the custom-state replay: q21's sessionization minus each
    * user's (never-emitted) final open session. */
  private lazy val customStateClosedBatch: Set[(Long, Long, Long, Long)] = {
    val batchAll = EventOps.sessionize(spark, sf001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_seq"),
                 r.getAs[Long]("start_us"), r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
    val lastSeq = batchAll.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    batchAll.filter(s => s._2 != lastSeq(s._1))
      .map(s => (s._1, s._3, s._4, s._5)).toSet
  }

  test("custom KMV Aggregator buffers merge across micro-batches to the batch estimate") {
    // q131's real streaming claim: the typed Aggregator's ≤K-long buffer is
    // STATE that partial-merges across micro-batch boundaries; "K smallest
    // distinct hashes" is merge-order independent, so a 4-slice replay must
    // reproduce the one-shot batch estimate bit-for-bit for every day
    import graft.functions.PortableHash
    val name = s"inc_kmv_${counter.incrementAndGet()}"
    val kmv = udaf(graft.functions.KmvSketch)
    val q = streamEvents
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        PortableHash.h48(col("user_id").cast("string")).as("uh"))
      .groupBy(col("day")).agg(kmv(col("uh")).as("kmv_users"))
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 4, s"expected >=4 non-empty micro-batches, saw $nBatches")
    val streamed = spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Tables.events(spark, sf001)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        PortableHash.h48(col("user_id").cast("string")).as("uh"))
      .groupBy(col("day")).agg(kmv(col("uh")).as("kmv_users"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("update-mode KMV upsert evicts closed days' state while the sink keeps their finals") {
    // q132's production claim, both halves: (1) the watermarked update-mode
    // aggregate DROPS a day's ≤K-long buffer from the state store once the
    // watermark passes the day (state is horizon-bounded, not
    // lifetime-bounded — the exact defect q131's complete-mode harness form
    // documents), and (2) the foreachBatch keyed upsert retains each
    // evicted day's FINAL estimate, so the sink equals the batch per-day
    // KMV bit-for-bit even though most days no longer exist in state.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PortableHash
    val kmv = udaf(graft.functions.KmvSketch)
    val target = java.nio.file.Files.createTempDirectory("inc_kmv_upd").toString
    val q = streamEvents
      .withWatermark("ts", graft.streaming.EventsStream.AppendDelay)
      .groupBy(window(col("ts"), "1 day").as("win"))
      .agg(kmv(PortableHash.h48(col("user_id").cast("string"))).as("kmv_users"))
      .select(date_format(col("win").getField("start"), "yyyy-MM-dd").as("day"),
              col("kmv_users"))
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the PRODUCTION upsert path, not a spec re-implementation — the
        // replay must exercise the same merge q132 ships
        graft.streaming.EventsStream.upsertBatch(
          target, Seq("day"), Seq(col("batch_seq").desc))(
          batch.withColumn("batch_seq", lit(batchId)))
      }
      .start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    // the last committed progress is the post-eviction view: the engine's
    // closing no-data micro-batch removes every watermark-closed day
    val finalStateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    assert(nBatches >= 4, s"expected >=4 non-empty micro-batches, saw $nBatches")
    val streamed = spark.read.parquet(target)
      .select(col("day"), col("kmv_users")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Tables.events(spark, sf001)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        PortableHash.h48(col("user_id").cast("string")).as("uh"))
      .groupBy(col("day")).agg(kmv(col("uh")).as("kmv_users"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch)
    val nDays = batch.size
    assert(nDays >= 4, s"fixture too small to demonstrate eviction: $nDays days")
    assert(finalStateRows < nDays,
      s"no eviction: $finalStateRows state rows for $nDays days — update-mode state must be watermark-bounded")
  }

  test("flatMapGroupsWithState session state carries open sessions across batches") {
    val streamed = runCustomStateReplay()
    assert(streamed == customStateClosedBatch)
    // cross-batch continuation actually happened: sessions span slice
    // boundaries iff some emitted session's range crosses a file boundary —
    // with 4 time slices of a month of data this is guaranteed non-trivially
    assert(streamed.nonEmpty)
  }

  test("q145 top-k leaderboard merges across batches to the batch top-k, idempotently") {
    // q145's claim, all three parts: (1) the 4-slice foreachBatch merge
    // through the PRODUCTION topkMergeBatch converges to the batch top-k
    // bit-for-bit (top-k decomposability: topk(A ∪ B) = topk(topk(A) ∪
    // topk(B)) under the (value desc, event_id) total order); (2) a
    // REPLAYED micro-batch is a no-op (at-least-once redelivery safety —
    // the event_id dedup inside the merge); (3) the leaderboard was
    // genuinely built incrementally, not in one batch.
    import graft.streaming.EventsStream
    import org.apache.spark.sql.DataFrame
    val target = java.nio.file.Files.createTempDirectory("inc_topk").toString
    // materialize each batch's rows OUTSIDE the query's lifetime (a lazily
    // persisted batch frame references stream-temp state that dies with
    // q.stop()) so the redelivery replay below reads real data
    val lastDir = java.nio.file.Files.createTempDirectory("inc_topk_last").toString
    var sawBatch = false
    val q = streamEvents
      .withWatermark("ts", EventsStream.AppendDelay)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        EventsStream.topkMergeBatch(target, EventsStream.TopkK)(batch)
        if (!batch.isEmpty) {
          batch.write.mode("overwrite").parquet(lastDir)
          sawBatch = true
        }
      }
      .start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 4, s"expected >=4 non-empty micro-batches, saw $nBatches")
    def snap(): Seq[(String, Long, Long, Long, Double)] =
      spark.read.parquet(target)
        .select(col("event_type"), col("rank").cast("long"), col("event_id"),
          col("user_id"), col("value"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq.sortBy(t => (t._1, t._2))
    val streamed = snap()
    // the batch truth: q15's shape over the whole events table
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
    val batchTop = Tables.events(spark, sf001)
      .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= EventsStream.TopkK)
      .select(col("event_type"), col("rank"), col("event_id"), col("user_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq.sortBy(t => (t._1, t._2))
    assert(streamed == batchTop, "incremental leaderboard must equal batch top-k")
    // redelivery: merging the final micro-batch AGAIN must not move the board
    assert(sawBatch, "no non-empty batch captured for the redelivery replay")
    EventsStream.topkMergeBatch(target, EventsStream.TopkK)(
      spark.read.parquet(lastDir))
    assert(snap() == batchTop, "a replayed micro-batch must be a merge no-op")
  }

  /** Runs `f` with the session's `file:` filesystem replaced by
    * [[StagingRenameFailsOnce]], armed: the first publish rename fails. */
  private def withStagingRenameFailingOnce[A](f: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[StagingRenameFailsOnce].getName)
    hc.set("fs.file.impl.disable.cache", "true")
    StagingRenameFailsOnce.armed.set(true)
    try f finally {
      StagingRenameFailsOnce.armed.set(false)
      prev.foreach {
        case (k, Some(v)) => hc.set(k, v)
        case (k, None)    => hc.unset(k)
      }
    }
  }

  /** A crash between publishOver's two renames: the target is gone and
    * its last generation sits at `target + ".old"`. */
  private def crashBetweenRenames(target: String): Unit = {
    java.nio.file.Files.move(java.nio.file.Paths.get(target),
      java.nio.file.Paths.get(target + ".old"))
    ()
  }

  private def sortedRows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  test("an upsert whose recovery publish fails again still recovers the aside generation") {
    import graft.streaming.EventsStream
    val root = java.nio.file.Files.createTempDirectory("inc_publish_upsert")
    val events = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"), col("value"))
    val gen1 = events.filter(col("event_id") % 2 === 0)
    val batch = events.filter(col("event_id") % 2 === 1)
    def upsert(target: String)(df: DataFrame): Unit =
      EventsStream.upsertBatch(target, Seq("user_id", "event_type"),
        Seq(col("ts").desc, col("event_id").desc))(df)
    val target = root.resolve("archive").toString
    upsert(target)(gen1)
    crashBetweenRenames(target)
    // the second crash: the recovery publish's staging rename fails
    withStagingRenameFailingOnce {
      intercept[java.io.IOException](upsert(target)(batch))
    }
    upsert(target)(batch)
    val reference = root.resolve("reference").toString
    upsert(reference)(gen1)
    upsert(reference)(batch)
    assert(sortedRows(target) == sortedRows(reference),
      "generation 1's rows must survive a failed recovery publish")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(target + ".old")))
  }

  test("a q145 top-k merge after a crash between the renames keeps the aside's top-k rows") {
    import graft.streaming.EventsStream
    val root = java.nio.file.Files.createTempDirectory("inc_publish_topk")
    val events = Tables.events(spark, sf001)
      .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
    val gen1 = events.filter(col("event_id") % 2 === 0)
    val batch = events.filter(col("event_id") % 2 === 1)
    def merge(target: String)(df: DataFrame): Unit =
      EventsStream.topkMergeBatch(target, EventsStream.TopkK)(df)
    val target = root.resolve("board").toString
    merge(target)(gen1)
    crashBetweenRenames(target)
    merge(target)(batch)
    val reference = root.resolve("reference").toString
    merge(reference)(gen1)
    merge(reference)(batch)
    assert(sortedRows(target) == sortedRows(reference),
      "the merge must start from the aside generation's top-k")
  }

  test("q162 streaming admission equals batch q159 across micro-batch boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DocsStream
    import graft.operators.TextOps
    val (idx, changedBatch) = DocsStream.carriedIndexFor(spark, sf001)
    val rows = changedBatch.select(col("doc_id"), col("text"), col("status"))
      .as[(Long, String, String)].collect().toSeq
    assert(rows.size > 3, "vacuous: changed slice too small to split")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val changed = ms.toDF.toDF("doc_id", "text", "status")
    val name = s"inc_adm_${counter.incrementAndGet()}"
    val q = DocsStream.streamingIncrementalNearDedupOf(spark, changed, idx)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // the slice arrives in THREE micro-batches — admission must not
      // depend on the split
      (0 to 2).foreach { b =>
        ms.addData(rows.filter(_._1 % 3 == b): _*)
        q.processAllAvailable()
      }
      // crawl retries: two documents re-delivered in a LATER batch — the
      // admission ledger (fMGWS state) suppresses the duplicates
      ms.addData(rows.take(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).orderBy(col("doc_id"))
      .collect().map(_.toString).toSeq
    val want = TextOps.incrementalNearDedup(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(got.size == rows.size, "re-delivered documents must emit exactly once")
    assert(got == want, "streamed admission must equal the batch q159 verdicts")
  }

  test("flatMapGroupsWithState user state is bit-identical under RocksDBStateStoreProvider") {
    // completes the state-tier trilogy: windowed aggregate (r7), stream-
    // stream interval join (this round), and now ENCODER-SERIALIZED custom
    // user state — the tier where a provider-level round-trip bug would
    // corrupt arbitrary case-class state rather than engine-internal rows
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try assert(runCustomStateReplay() == customStateClosedBatch)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}

/** Local filesystem whose next rename of a `*.staging` directory fails
  * (returns false, as a failed rename does) while [[StagingRenameFailsOnce.armed]]
  * is set, then disarms. */
class StagingRenameFailsOnce extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (src.getName.endsWith(".staging") && StagingRenameFailsOnce.armed.getAndSet(false)) false
    else super.rename(src, dst)
}

object StagingRenameFailsOnce {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
