package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PortableHash.pround

/** Statistical + behavioral-analytics operators — the profiling layer every
  * large-scale pipeline runs over its fact tables before/after a backfill:
  * distribution moments, quantile bucketing, funnel/cohort behavior, streak
  * detection, and skew diagnostics.
  *
  * Scale design (100 TB):
  *  - Moments/correlations are single-pass hash aggregates (Spark's built-in
  *    moment aggregates partial-aggregate map-side; no second pass over data).
  *  - Ranking windows are always PARTITIONed (segment / language / user) —
  *    never a global single-partition window over the fact table; global
  *    steps happen only after aggregation has shrunk the data.
  *  - Funnel/cohort shapes are min-aggregates + equi-joins on user_id — the
  *    canonical uniform-key shuffle; no session state on the driver.
  */
object Analytics {

  /** q82: distribution moments — count/avg/stddev/variance plus the bivariate
    * family (corr, covar, least-squares slope+intercept) per return flag; the
    * one-pass profiling aggregate (all built-in declarative aggregates with
    * map-side partials; DuckDB implements the identical estimators).
    */
  def statMoments(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope_price_qty"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept_price_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** q83: quantile bucketing — account-balance deciles *within each market
    * segment* (the partitioned form: ntile windows stay parallel across
    * segments; a global decile at scale would instead use approx quantile
    * bounds + a broadcast range join). Deterministic total order via
    * (rounded balance, custkey).
    */
  def ntileDeciles(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), pround(col("c_acctbal"), 2).as("bal"))
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("bal"), col("c_custkey"))
    c.withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("c_mktsegment"), col("decile"))
      .agg(count(lit(1)).as("n"),
           min(col("bal")).as("lo_bal"),
           max(col("bal")).as("hi_bal"),
           round(avg(col("bal")), 4).as("avg_bal"))
      .orderBy(col("c_mktsegment"), col("decile"))
  }

  /** q84: ordered funnel — view → click → purchase with strict temporal
    * progression per user (each stage's timestamp must follow the previous
    * stage's). Three min-aggregates chained by equi-joins on user_id; the
    * final row is the classic conversion report.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val clicks = e.filter(col("event_type") === "click")
      .join(views, "user_id").filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val buys = e.filter(col("event_type") === "purchase")
      .join(clicks, "user_id").filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_buy"))
    // single-row stage counts composed in-plan (no driver-side actions)
    val nAll  = e.select(col("user_id")).distinct().agg(count(lit(1)).as("n_users"))
    val nView = views.agg(count(lit(1)).as("n_viewed"))
    val nClick = clicks.agg(count(lit(1)).as("n_clicked_after_view"))
    val nBuy = buys.agg(count(lit(1)).as("n_purchased_after_click"))
    nAll.crossJoin(nView).crossJoin(nClick).crossJoin(nBuy)
      .select(col("*"),
        pround(col("n_viewed") * lit(1.0) / col("n_users"), 6).as("view_rate"),
        pround(col("n_clicked_after_view") * lit(1.0) / col("n_viewed"), 6).as("click_through"),
        pround(col("n_purchased_after_click") * lit(1.0) / col("n_clicked_after_view"), 6).as("purchase_through"))
  }

  /** q85: weekly cohort retention — users grouped by first-activity week,
    * counted in each subsequent activity week (the retention triangle).
    * Two hash aggregates + one equi-join on user_id; offsets are integer
    * day-diffs over `date_trunc('week', …)` so both engines agree exactly.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val cohort = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    e.join(cohort, "user_id")
      .select(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      // emit the week as a (tz-free) timestamp — the cross-engine-stable
      // wire type for date-like keys (DuckDB DATE decodes as midnight ts)
      .select(col("cohort_week").cast("timestamp_ntz").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** q86: gaps-and-islands — consecutive-month ordering streaks per customer
    * (month_index − row_number is constant within a run of consecutive
    * months: the classic islands trick, all integer arithmetic). Windows are
    * partitioned by customer; nothing global until the tiny presentation
    * sort.
    */
  def orderStreaks(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val months = o.select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).cast("long").as("mo_idx"))
      .distinct()
    streaksOfMonths(months).orderBy(col("o_custkey"))
  }

  /** The islands decomposition over a distinct (o_custkey, mo_idx) set —
    * factored out so generative tests can drive it with arbitrary month
    * sets (PropertySpec). */
  def streaksOfMonths(months: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("mo_idx"))
    val islands = months
      .withColumn("grp", col("mo_idx") - row_number().over(w))
      .groupBy(col("o_custkey"), col("grp"))
      .agg(count(lit(1)).as("streak_len"), min(col("mo_idx")).as("start_mo"))
    islands.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_streaks"),
           sum(col("streak_len")).as("n_active_months"),
           max(col("streak_len")).as("max_streak"))
  }

  /** q93: skew diagnostics — the heavy-hitter profile of a join/agg key
    * (orders per customer): top-20 keys with share and cumulative share of
    * all rows. This is the operator you run BEFORE choosing a salting or
    * broadcast strategy; the global window runs over the already-aggregated
    * key counts, never the fact rows.
    */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val wRank = Window.orderBy(col("n_orders").desc, col("o_custkey"))
    // rank FIRST and alone: a pure row_number window lets Spark push a
    // partial WindowGroupLimit below the shuffle (map-side top-20), and the
    // cumulative prefix sums over the surviving 20 rows are identical to the
    // prefix sums over the full key set (prefix property) — so the expensive
    // windows never see more than 20 rows per partition
    val top = counts
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 20)
    val total = counts.agg(sum(col("n_orders")).as("total"))
    top
      .withColumn("cum_n", sum(col("n_orders")).over(
        wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("o_custkey"), col("n_orders"),
        pround(col("n_orders") * lit(1.0) / col("total"), 6).as("share"),
        pround(col("cum_n") * lit(1.0) / col("total"), 6).as("cum_share"))
      .orderBy(col("rank"))
  }

  /** q97: full-outer reconciliation — the order book vs the event stream per
    * customer key: which keys exist on both sides, which only ordered, which
    * only emitted events (the backfill-vs-live audit every ingestion pipeline
    * runs). One full outer join on the key after both sides pre-aggregate, so
    * the join input is one row per key per side.
    */
  def activityReconcile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("n_orders"))
    val e = Tables.events(spark, dir)
      .groupBy(col("user_id").as("key")).agg(count(lit(1)).as("n_events"))
    o.join(e, Seq("key"), "full_outer")
      .select(col("key"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        when(col("n_orders").isNotNull && col("n_events").isNotNull, "both")
          .when(col("n_orders").isNotNull, "orders_only")
          .otherwise("events_only").as("status"))
      .orderBy(col("key"))
  }

  /** q98: multiset (bag) set operations — INTERSECT ALL / EXCEPT ALL between
    * the returned and accepted line-item order-key bags, summarized. Bag
    * semantics keep per-key multiplicities (min for intersect, difference
    * for except) — the dataset-reconciliation primitive distinct set ops
    * destroy. Both are one shuffle on the key with counters, no row
    * explosion.
    */
  def multisetOps(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val r = l.filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    val a = l.filter(col("l_returnflag") === "A").select(col("l_orderkey"))
    def summarize(tag: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), count_distinct(col("l_orderkey")).as("n_keys"))
        .select(lit(tag).as("tag"), col("n_rows"), col("n_keys"))
    summarize("intersect_all", r.intersectAll(a))
      .unionByName(summarize("except_all", r.exceptAll(a)))
      .orderBy(col("tag"))
  }

  /** q94: deterministic argmax (`max_by`) — the busiest hour per event type,
    * picked by a composite integer score (count ↑, then earlier hour wins)
    * so ties cannot make the answer engine- or partitioning-dependent.
    * One hash aggregate over hourly pre-aggregates; max_by carries a single
    * (value, score) pair through the partial aggregation — constant state.
    */
  def peakHour(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_start"))
      .agg(count(lit(1)).as("n"))
    // integer hour index since 2024-01-01 (test data epoch); score favors
    // larger n, then the EARLIER hour — unique per (type, hour)
    val hourIdx = (datediff(col("hour_start").cast("date"), lit("2024-01-01").cast("date")).cast("long") * 24
      + hour(col("hour_start")))
    val scored = hourly.withColumn("score", col("n") * 1000000L - hourIdx)
    scored.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_total"),
           max_by(col("hour_start"), col("score")).as("peak_hour"),
           max_by(col("n"), col("score")).as("peak_n"))
      .select(col("event_type"), col("n_total"), col("peak_hour"), col("peak_n"))
      .orderBy(col("event_type"))
  }

  /** Trailing-history window for [[rateAnomalies]]: a 24-hour WALL-CLOCK
    * range (current hour excluded); flag only with ≥12 observed hourly
    * buckets inside it. */
  val AnomalyHistory = 24
  val AnomalyMinHistory = 12

  /** q120: event-rate anomaly detection — each (event_type, hour)'s count is
    * z-scored against its own trailing 24 wall-clock hours (current hour
    * excluded so a spike can't mask itself), the alerting primitive every
    * ingestion/monitoring pipeline runs over its rate telemetry.
    *
    * Engine-exact: the trailing mean/variance come from integer window sums
    * (`Σn`, `Σn²` exact as longs; the two-pass textbook variance
    * `(Σn² − (Σn)²/m)/(m−1)` is then pure double arithmetic, identical
    * ops both engines) — never a built-in `stddev`, whose Welford vs
    * sum-of-squares internals differ across engines. z is 6-dp portable-
    * rounded and the anomaly flag thresholds the ROUNDED value, so the
    * boolean can never straddle an ulp.
    *
    * Scale shape: one hash aggregate shrinks the stream to (type, hour)
    * rows — counts, not events, flow into the windows — and the ranking
    * window is partitioned by event_type, never global. At 100 TB the
    * window input is O(types × hours) regardless of event volume.
    */
  def rateAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      // wall-clock frame key: a ROWS frame would silently stretch the
      // "trailing 24 hours" over days for sparse event types (absent hours
      // produce no row at all) — RANGE over epoch-hours bounds the history
      // by the clock, not by observed-bucket count
      .withColumn("hr", expr("unix_micros(hour_start) div 3600000000"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rangeBetween(-AnomalyHistory, -1)
    val mean = col("s1").cast("double") / col("m").cast("double")
    val variance = (col("s2").cast("double")
      - col("s1").cast("double") * col("s1").cast("double") / col("m").cast("double")) /
      (col("m").cast("double") - lit(1.0))
    hourly
      .withColumn("m", count(col("n")).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("m") >= AnomalyMinHistory)
      // date_trunc yields a tz timestamp; emit ntz like every other
      // events-hour query (UTC session: same wall clock)
      .select(col("event_type"), col("hour_start").cast("timestamp_ntz").as("hour_start"),
        col("n"),
        pround(mean, 6).as("trailing_mean"),
        when(variance > 0, pround((col("n").cast("double") - mean) / sqrt(variance), 6))
          .as("z"),
        when(variance > 0,
          abs(pround((col("n").cast("double") - mean) / sqrt(variance), 6)) > lit(3.0))
          .otherwise(lit(false)).as("anomaly"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** Count-min sketch geometry for [[countMinAudit]]: depth 4 × width 256
    * cells (ε ≈ e/256 ≈ 1.1%, δ ≈ e⁻⁴), keyed by the portable 48-bit md5
    * hash so the oracle builds the identical sketch. */
  val CmDepth = 4
  val CmWidth = 256
  val CmTopK = 20

  /** q121: count-min heavy-hitter audit — build a count-min sketch over the
    * event stream's user ids and report, for the EXACT top-[[CmTopK]] users,
    * the sketch estimate next to the true count (est ≥ exact always; the
    * overestimate column is the collision error a consumer of the sketch
    * would see). This is the in-query accuracy audit (the q19/q69 pattern)
    * for the sketch a 100 TB pipeline would actually deploy: the sketch is
    * [[CmDepth]]×[[CmWidth]] integer cells built in ONE pass with map-side
    * partial aggregation — constant state per partition, mergeable across
    * executors, no per-key state — while the exact side here exists only to
    * audit it at test scale.
    */
  def countMinAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash.h48
    val ev = Tables.events(spark, dir).select(col("user_id"))
    def keys = array((0 until CmDepth).map(d =>
      struct(lit(d.toLong).as("d"),
        (h48(concat(lit(s"cm$d:"), col("user_id").cast("string"))) % CmWidth)
          .as("bucket"))): _*)
    val cells = ev.select(explode(keys).as("k"))
      .groupBy(col("k.d").as("d"), col("k.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))
    val wRank = Window.orderBy(col("exact_n").desc, col("user_id"))
    val hh = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      .withColumn("hh_rank", row_number().over(wRank).cast("long"))
      .filter(col("hh_rank") <= CmTopK)
    val probes = hh.select(col("hh_rank"), col("user_id"), col("exact_n"),
        explode(keys).as("k"))
      .select(col("hh_rank"), col("user_id"), col("exact_n"),
        col("k.d").as("d"), col("k.bucket").as("bucket"))
    probes.join(broadcast(cells), Seq("d", "bucket"))
      .groupBy(col("hh_rank"), col("user_id"), col("exact_n"))
      .agg(min(col("cell")).as("est"))
      .select(col("hh_rank"), col("user_id"), col("exact_n"), col("est"),
        (col("est") - col("exact_n")).as("overestimate"))
      .orderBy(col("hh_rank"))
  }

  /** Sliding-window span (days) for [[sketchRollup]]. */
  val RollupDays = 7

  /** q130: mergeable-sketch sliding rollup — 7-day sliding distinct users
    * per day from PER-DAY KMV sketches, the pre-aggregated-summary pattern
    * every large-scale OLAP rollup runs: materialize one K-minimum-values
    * sketch per day ONCE, then answer ANY window by merging K-sized
    * summaries instead of re-scanning events (the same mergeability that
    * makes [[graft.functions.KmvSketch]] a one-pass distinct count; here
    * the merge is across TIME — daily cube cells → arbitrary windows). The
    * exact per-window distinct count is computed alongside as the in-query
    * accuracy audit (the q19/q69/q121 sketch-audit discipline).
    *
    * KMV merge correctness: the K smallest distinct hashes of a union are
    * the K smallest of the union of per-set K-smallest, so merging
    * truncated daily sketches is EXACT sketch semantics (and when the
    * merged set holds < K hashes it IS the full union — the estimate
    * degenerates to the exact count, both engines).
    *
    * Scale shape: daily sketches come from [[graft.functions.KmvBuffer]] —
    * a buffer-returning Aggregator whose groupBy PARTIAL-aggregates
    * map-side, so each map partition ships ≤ K longs per day and the raw
    * event stream never reaches an exchange (an earlier rank ≤ K
    * formulation needed a `(day, hash).distinct()` first, whose exchange
    * carried every distinct per-day hash — event-distinct scale — before
    * the cap could bite); each sketch element then expands to the
    * [[RollupDays]] windows it serves (bounded fan-out of K-sized data,
    * not events) and the estimate reduction touches ≤ K·[[RollupDays]]
    * rows per window. Only the AUDIT pass (exact distinct) scans
    * event-scale data — at 100 TB it runs sampled or not at all, and the
    * sketch path is what ships.
    *
    * Determinism: 48-bit md5 hashes, integer ranks, and the estimator's
    * `(K−1)·2⁴⁸ div kth` is INTEGRAL division — (K−1)·2⁴⁸ ≈ 1.8e16
    * overflows a double's 53-bit mantissa, so a float division here would
    * be engine-dependent in the last digits; both engines divide exactly.
    */
  /** q130's daily-sketch stage, un-checkpointed — exposed so PlanAudit can
    * assert the buffer aggregate partial-aggregates map-side (the final
    * frame reads this through its localCheckpoint seam). */
  private[graft] def dailyKmvBufs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash.h48
    val kmvBuf = udaf(graft.functions.KmvBuffer)
    Tables.events(spark, dir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"),
        h48(col("user_id").cast("string")).as("uh"))
      .groupBy(col("day")).agg(kmvBuf(col("uh")).as("buf"))
  }

  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash.h48
    val K = graft.functions.KmvSketch.K
    val numer = (K - 1).toLong * graft.functions.KmvSketch.Domain
    val e = Tables.events(spark, dir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"),
        col("user_id"))
    // one ≤K-long sketch buffer per day, partial-aggregated map-side (no
    // pre-distinct needed — KMV insert has distinct-set semantics)
    val dayBufs = dailyKmvBufs(spark, dir)
      .localCheckpoint() // one row per day, feeds bounds + the expansion
    val sketch = dayBufs.select(col("day"), explode(col("buf")).as("uh"))
    val bounds = dayBufs.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    // each day's sketch serves the RollupDays windows ending day..day+R-1;
    // keep only FULL windows inside the data range
    val expanded = sketch
      .select(explode(sequence(col("day"), col("day") + (RollupDays - 1))).as("win_end"),
        col("uh"))
      .join(broadcast(bounds),
        col("win_end") >= col("dmin") + (RollupDays - 1) && col("win_end") <= col("dmax"))
      .select(col("win_end"), col("uh")).distinct()
    val byWin = Window.partitionBy(col("win_end")).orderBy(col("uh"))
    val est = expanded.withColumn("rn", row_number().over(byWin))
      .filter(col("rn") <= K)
      .groupBy(col("win_end"))
      .agg(count(lit(1)).as("nk"), max(col("uh")).as("kth"))
      .select(col("win_end"),
        when(col("nk") < K, col("nk"))
          .otherwise(expr(s"${numer}L div kth")).as("est_distinct"))
    // exact audit: true distinct users per window (event-scale pass)
    val exact = e.distinct()
      .select(explode(sequence(col("day"), col("day") + (RollupDays - 1))).as("win_end"),
        col("user_id"))
      .join(broadcast(bounds),
        col("win_end") >= col("dmin") + (RollupDays - 1) && col("win_end") <= col("dmax"))
      .select(col("win_end"), col("user_id")).distinct()
      .groupBy(col("win_end")).agg(count(lit(1)).as("exact_distinct"))
    est.join(exact, "win_end")
      .select(col("win_end"),
        date_format(
          date_add(lit(java.sql.Date.valueOf("1970-01-01")), col("win_end").cast("int")),
          "yyyy-MM-dd").as("window_date"),
        col("est_distinct"), col("exact_distinct"),
        pround(abs(col("est_distinct") - col("exact_distinct")) * lit(100.0)
          / col("exact_distinct"), 2).as("err_pct"))
      .orderBy(col("win_end"))
  }

  /** q137: cross-source overlap estimation via KMV set algebra (Beyer et
    * al. 2007, "On synopses for distinct value estimation under multiset
    * operations") — for every pair of sources, estimate the distinct
    * 3-GRAM union, intersection, and Jaccard from the per-source ≤K
    * sketches alone. This is how a 100 TB pipeline answers "how much do
    * these two crawls overlap?" without ever co-shuffling their full id
    * sets: per-source sketches are one map-side-partial pass
    * ([[graft.functions.KmvBuffer]]); ALL pairwise algebra then runs on
    * S × K longs.
    *
    * The estimator: merge two k-min sketches → k-min of the union (KMV
    * closure under union); est|A∪B| = (K−1)·D div kth (q131's integral
    * division); ρ = |{v ∈ Kmin(A∪B) : v ∈ Kmin(A) ∧ v ∈ Kmin(B)}| / keff
    * (membership in the union's k-mins implies membership in each side's
    * k-mins, so the buffers suffice); est|A∩B| = ρ · est|A∪B|, computed
    * as `(k_overlap · est_union) div keff` so both engines agree exactly.
    * When the merged sketch holds fewer than K values it IS the exact
    * union and every estimate degenerates to exact (keff = |union|).
    *
    * The exact audit (distinct (source, token) self-join) rides along at
    * harness SFs — at production scale only the sketch path runs (the
    * q130 audit-rider discipline).
    */
  /** q137's identity stream: (source, 3-gram-shingle hash). Shingles are
    * the q35/q36 content identity — "how much n-gram mass do two crawls
    * share" is the decontamination / crawl-overlap question, and shingle
    * cardinality actually exercises the kth-min estimator (the fixture's
    * unigram vocabulary is ~31 tokens — every sketch would degenerate to
    * exact). */
  private[graft] def sourceShingleHashes(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash.{h48, tokens, shingles}
    val d = Tables.documents(spark, dir).transform(Tables.fanout)
    d.select(col("source"),
        explode(shingles(tokens(lower(col("text"))))).as("t"))
      .select(col("source"), h48(col("t")).as("uh"))
  }

  /** q137's sketch stage, un-checkpointed — exposed so PlanAudit can
    * assert the buffer aggregate partial-aggregates map-side (the
    * [[dailyKmvBufs]] pattern). */
  private[graft] def sourceSketchStage(spark: SparkSession, dir: String): DataFrame = {
    val kmvBuf = udaf(graft.functions.KmvBuffer)
    sourceShingleHashes(spark, dir).distinct()
      .groupBy(col("source"))
      .agg(kmvBuf(col("uh")).as("ks"))
  }

  /** q138 iteration count / fixed-point mass — shared by the Spark loop and
    * the generated oracle CTEs so the two sides can never disagree. */
  val PrIters = 8
  val PrScale = 1000000000000L // 1e12: total rank mass in fixed-point longs

  /** q138: PageRank over the customer↔supplier trade graph — the iterative
    * graph-ranking operator (Page et al. 1999; the canonical "who matters in
    * this network" pass over entity graphs a pipeline extracts). Nodes are
    * customers (key·2) and suppliers (key·2+1); a distinct edge links each
    * pair that traded (orders ⋈ lineitem), materialized in BOTH directions so
    * the bipartite graph is strongly connected per component (no dangling
    * mass). [[PrIters]] power iterations with damping 0.85.
    *
    * Numerics: rank is a FIXED-POINT long ([[PrScale]] = total mass), every
    * step is integer arithmetic (`div`), so cross-partition sum order cannot
    * perturb a bit — the oracle's unrolled CTEs ([[pageRankSql]]) reproduce
    * it exactly, the same determinism contract as q116/q130.
    *
    * Scale plan: the degree-annotated edge list is built once, pinned to a
    * size-derived src-clustered layout and checkpointed (the
    * `persist(edges)` every production PageRank does — see [[prEdgeFrames]]
    * / [[prNoAqe]] for why the layout must be pinned outside AQE); each
    * iteration is then ONE equi-join (node-sized rank table ⋈ edge list on
    * src, edge side exchange-free and sort-free against the checkpoint) +
    * ONE map-side-combinable hash aggregate on dst, state checkpointed per
    * block so the plan stays iteration-shallow (q118's Lloyd-loop pattern).
    * Nothing driver-sized: the only driver scalars are the pair and node
    * counts. At 100 TB the edge list is
    * bucketed by src once and every iteration's join co-locates against it —
    * DEMONSTRATED, not just named: BucketingSpec's q138 test runs one
    * iteration against a src-bucketed edge table with broadcast disabled
    * (the at-scale regime) and asserts zero src exchanges, the src exchange
    * reappearing in the unbucketed control, and bit-identical rank values
    * through both layouts.
    */
  /** Run `f` with AQE disabled on this session, restoring the caller's
    * setting afterwards (serialized on the session — concurrent query
    * builders on one session must not interleave set/restore). Used ONLY
    * around q138's edge/node checkpoints: a checkpoint taken while the
    * physical root is AdaptiveSparkPlanExec records UNKNOWN partitioning
    * (AQE's root never exposes its final plan's partitioning to
    * Dataset.checkpoint), so every iteration block re-exchanged the full
    * edge set on src — the r17 plan comment claimed LogicalRDD preserved the
    * layout, and the r18 executed-plan evidence
    * (plans/r18/q138_pagerank_before.txt) shows it did not. With AQE off for
    * just the checkpoint query, LogicalRDD captures hash(src, parts) + the
    * window sort's ordering, and the iteration joins consume the edge state
    * exchange-free AND sort-free. */
  private def prNoAqe[A](spark: SparkSession)(f: => A): A =
    withSessionConf(spark)("spark.sql.adaptive.enabled" -> "false")(f)

  /** Run `f` with session confs temporarily overridden, restoring the
    * caller's settings afterwards. Serialized on the session object so two
    * concurrent query builders on one session cannot interleave set/restore
    * (the ADVICE-r17 withStatePartitions hazard, fixed at the shared
    * helper). */
  private[graft] def withSessionConf[A](spark: SparkSession)(
      kvs: (String, String)*)(f: => A): A = spark.synchronized {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** q138's edge-state build frames, pre-checkpoint — split out so the
    * evidence dump ([[graft.DumpPr138]]) can explain the build phase that
    * the checkpoint hides from `graft.Probe --explain`. Returns (checkpointed distinct
    * pair set, degree-annotated edge frame NOT yet checkpointed, pinned
    * width). The caller must free the pair checkpoint once the edge frame
    * is materialized.
    *
    * The width (conf `graft.pr.parts`) is derived from the MEASURED pair
    * count the same way AQE sizes coalesced partitions — edge bytes over
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, clamped to the
    * cluster's default parallelism — because the checkpoint boundary is
    * exactly where AQE's own sizing cannot reach (guide §2: derive
    * partitioning from input size, not from a constant tuned to local mode
    * or to one cluster). At sf0.1 that is 1 partition (~6 MB of edges); at
    * 100 TB it is edge-bytes/advisory capped at cluster parallelism. */
  private[graft] def prEdgeFrames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Int) = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    // the distinct pair set is checkpointed FIRST so its row count can size
    // the pinned edge layout without re-running the join+distinct; the
    // window job below then reads the in-memory pairs instead of the scans
    val pairs = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).as("cn"), (col("l_suppkey") * 2 + 1).as("sn"))
      .distinct()
      .localCheckpoint()
    val nPairs = pairs.count()
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    // 2 directions × 3 longs ≈ 32 B per unsafe edge row. The lower clamp is
    // a minimum-parallelism floor (the same idea as
    // spark.sql.files.minPartitionNum on scans): the iteration stages are
    // latency-bound at small edge volumes, and sf0.1 measured width 1
    // (pure size-derived) at 4.6 s vs 3.2 s at the floor of 4, with the
    // curve flat from 4 to 8 and the session default (32) back at 4.5+ s.
    val defPar = spark.sparkContext.defaultParallelism.toLong
    val derived = math.max(math.min(defPar, 4L), math.min(defPar,
      (2L * nPairs * 32L + advisory - 1L) / advisory)).toInt
    val parts = graft.GraftConf.int(spark, "graft.pr.parts", derived)
    // Both edge directions from ONE pass over the distinct pairs (explode of
    // a 2-struct array), not a self-union (the r17 lesson: the union's two
    // branches re-ran the distinct's reduce-side aggregate). The explicit
    // repartition REPLACES the degree window's own exchange (the window's
    // clustering requirement is already satisfied), so the build still pays
    // two edge exchanges total (distinct + this one) — but this one is
    // width-pinned, which is what lets the checkpoint carry a usable layout.
    val edges = pairs.select(explode(array(
        struct(col("cn").as("src"), col("sn").as("dst")),
        struct(col("sn").as("src"), col("cn").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(parts, col("src"))
    val wDeg = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    (pairs, edges.withColumn("outdeg", count(lit(1)).over(wDeg)), parts)
  }

  /** q138's materialized edge state: (degree-annotated edges checkpointed
    * src-clustered and src-sorted, checkpointed node set, node count). Both
    * checkpoints are taken with AQE off so LogicalRDD records the layout —
    * see [[prNoAqe]]. Every node has outdegree ≥ 1 (edges are symmetric),
    * so distinct src IS the node set: an exchange-free partial+final
    * aggregate over the src-clustered checkpoint, materialized ONCE for
    * both the mass denominator and the rank seed. */
  private[graft] def prEdgeState(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long, Int) = {
    val (pairs, edgesDegFrame, parts) = prEdgeFrames(spark, dir)
    val (edgesDeg, nodes) = prNoAqe(spark) {
      val ed = edgesDegFrame.localCheckpoint()
      (ed, ed.select(col("src")).distinct().localCheckpoint())
    }
    TextOps.freeMaterialized(pairs)
    val n = nodes.count()
    (edgesDeg, nodes, n, parts)
  }

  /** One q138 power-iteration step — shared by the loop and the evidence
    * dump so the dumped block plan is the production plan. */
  private[graft] def prIterStep(edgesDeg: DataFrame, rank: DataFrame,
                                base: Long): DataFrame =
    edgesDeg.join(rank, edgesDeg("src") === rank("node"))
      .select(col("dst"), expr("rank div outdeg").as("contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("s"))
      .select(col("dst").as("node"),
        (lit(base) + expr("(s * 85) div 100")).as("rank"))

  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val (edgesDeg, nodes, n, parts) = prEdgeState(spark, dir)
    val r0 = PrScale / n
    val base = 15L * r0 / 100L
    // narrow alias over the src-clustered node checkpoint: stays
    // co-partitioned with the edge side (alias-aware output partitioning),
    // so iteration 1 joins exchange-free like every later iteration
    var rank = nodes.select(col("src").as("node"))
      .withColumn("rank", lit(r0))
    // Checkpoint every `ckptEvery`-th iteration, not every one, so lineage
    // depth stays bounded (the q118 Lloyd-loop concern) without paying a
    // materialization per step. Since r18 the edge side of every iteration
    // in a block is the bare checkpoint scan (no exchange, no sort — see
    // prNoAqe), so the block's only exchanges are the node-sized rank
    // aggregates. Conf `graft.pr.ckptEvery` tunes the block size; 4 was the
    // r15 measured optimum and r18 re-measured 8 no better (one deep block
    // re-plans a larger join tree than it saves in checkpoints).
    val ckptEvery = spark.conf.getOption("graft.pr.ckptEvery")
      .map { v =>
        val n = try v.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"graft.pr.ckptEvery must be a positive integer, got '$v'") }
        // 0 would divide-by-zero the block test; a negative value would
        // silently disable every intermediate checkpoint (unbounded lineage
        // — the exact concern this block size exists to bound)
        require(n >= 1, s"graft.pr.ckptEvery must be >= 1, got $n")
        n
      }.getOrElse(4)
    // The iteration blocks EXECUTE (at their block-end checkpoints) with the
    // session shuffle width lowered to the edge state's pinned width: every
    // rank aggregate's exchange is then born hash(dst, parts), which is
    // co-partitioned with the checkpointed hash(src, parts) edge list, so
    // the next iteration's join needs NO realignment exchange on either
    // side. At the session default (32 here) the static SortMergeJoin saw
    // hash(src, parts) vs hash(node, 32), declared them incompatible, and
    // re-exchanged the FULL edge set once per iteration — the r17 block
    // plans' dominant cost (plans/r18/q138_pagerank_before.txt).
    withSessionConf(spark)("spark.sql.shuffle.partitions" -> parts.toString) {
      for (k <- 1 to PrIters) {
        val it = prIterStep(edgesDeg, rank, base)
        rank = if (k % ckptEvery == 0 || k == PrIters) it.localCheckpoint() else it
      }
    }
    rank.select(col("node"), col("rank").as("rank_fp"),
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"))
      .orderBy(col("rank_fp").desc, col("node"))
  }

  /** The q138 oracle: the same [[PrIters]] power iterations unrolled as
    * DuckDB CTEs, generated from the SAME constants as [[pageRank]].
    * `CAST(sum(...) AS BIGINT)` keeps DuckDB's HUGEINT sum in the long
    * domain the Spark side computes in; `//` is BIGINT floor division =
    * Scala long division for the all-positive ranks. */
  def pageRankSql: String = {
    val iters = (1 to PrIters).map { k =>
      val prev = s"r${k - 1}"
      s"""r$k AS (SELECT ed.dst AS node,
         |  b.base + ((CAST(sum($prev.rank // ed.outdeg) AS BIGINT) * 85) // 100) AS rank
         |FROM ed JOIN $prev ON ed.src = $prev.node, b
         |GROUP BY ed.dst, b.base)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT cn AS src, sn AS dst FROM pairs
       |          UNION ALL SELECT sn, cn FROM pairs),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
       |b AS (SELECT ($PrScale // count(DISTINCT src)) AS r0,
       |        ((15 * ($PrScale // count(DISTINCT src))) // 100) AS base
       |      FROM edges),
       |r0 AS (SELECT src AS node, b.r0 AS rank
       |       FROM (SELECT DISTINCT src FROM edges), b),
       |$iters
       |SELECT node, CAST(rank AS BIGINT) AS rank_fp,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind
       |FROM r$PrIters ORDER BY rank_fp DESC, node""".stripMargin
  }

  /** q140 fixed-point scale and smoothing constants (α = 2/10, β = 1/10) —
    * shared with the oracle SQL. Scale 1e4 keeps every intermediate below
    * 2^52 for daily counts up to ~1e9/type, so the double-division-then-cast
    * truncation is exact (see the numerics note on [[holtForecast]]). */
  val HoltScale = 10000L

  /** q140: Holt linear-trend forecasting over each event type's daily
    * series — the capacity-planning operator ("given this stream's history,
    * what arrives tomorrow / next week") that the anomaly tier (q120 flags
    * the past) does not answer. Level/trend double exponential smoothing,
    * α = 0.2, β = 0.1, initialized l₀ = y₀, b₀ = y₁ − y₀; gaps in the
    * calendar are treated as consecutive observations (the series is the
    * observed days in order).
    *
    * Numerics: the recurrence lives in [[HoltScale]]-scaled longs and every
    * smoothing step is truncating integer division — Spark's long division
    * and DuckDB's `//` BOTH truncate toward zero (verified, including
    * negatives: -7//10 = 0), so the oracle's `list_reduce` twin reproduces
    * a possibly-negative trend bit-for-bit. The Spark-side `/10` is double
    * division + cast-to-long: exact truncation while |numerator| < 2^52,
    * i.e. daily counts to ~1e9 per type at scale 1e4.
    *
    * Scale plan: ONE corpus-sized hash aggregate (event_type, day) with
    * map-side partials — the raw stream never shuffles anything wider; the
    * recurrence folds over per-type day arrays (365 entries/type/year —
    * KB-sized groups), a driver-free `aggregate()` over data that has
    * already collapsed 9+ orders of magnitude. The sequential fold is
    * inherent to exponential smoothing (each step needs the previous), so
    * the right distribution is exactly this: distribute the reduction TO
    * day grain, fold the tiny remainder per key. */
  def holtForecast(spark: SparkSession, dir: String): DataFrame = {
    val S = HoltScale
    val e = Tables.events(spark, dir)
    val daily = e.groupBy(col("event_type"),
        datediff(to_date(date_trunc("day", col("ts"))), lit("1970-01-01")).as("day"))
      .agg(count(lit(1)).as("y"))
    val series = daily.groupBy(col("event_type"))
      .agg(transform(sort_array(collect_list(struct(col("day"), col("y")))),
        x => x.getField("y")).as("ys"))
      .filter(size(col("ys")) >= 2)
    def tdiv(x: Column, d: Long): Column = (x / d).cast("long")
    val lvl0 = (element_at(col("ys"), 1) * S).as("l")
    val tr0 = ((element_at(col("ys"), 2) - element_at(col("ys"), 1)) * S).as("t")
    val rest = slice(col("ys"), lit(3), greatest(size(col("ys")) - 2, lit(0)))
    val fold = aggregate(rest, struct(lvl0, tr0), (acc, y) => {
      val lPrev = acc.getField("l")
      val tPrev = acc.getField("t")
      val lNew = tdiv(y * S * 2 + (lPrev + tPrev) * 8, 10)
      val tNew = tdiv(lNew - lPrev + tPrev * 9, 10)
      struct(lNew.as("l"), tNew.as("t"))
    })
    series
      .select(col("event_type"), size(col("ys")).cast("long").as("n_obs"), fold.as("ft"))
      .select(col("event_type"), col("n_obs"),
        col("ft.l").as("level_fp"), col("ft.t").as("trend_fp"),
        (col("ft.l") + col("ft.t")).as("forecast_1_fp"),
        (col("ft.l") + col("ft.t") * 7).as("forecast_7_fp"),
        pround((col("ft.l") + col("ft.t")).cast("double") / S, 4).as("forecast_1"))
      .orderBy(col("event_type"))
  }

  /** The q140 oracle — the same fold as a RECURSIVE CTE (one materialized
    * row per smoothing step). NOT `list_reduce`: DuckDB 1.0.0 miscomputes a
    * lambda whose struct fields SHARE a subexpression across fold iterations
    * (the t-field's re-derived l-expression read stale state from step 2 on
    * — minimal repro: a 3-element fold of this exact lambda returns
    * t = -22171 where both the step-by-step evaluation and the same lambda
    * applied once to step-1's output return -22584). The recursive form
    * evaluates each step against materialized rows and matches Spark's
    * `aggregate()` bit-for-bit. */
  def holtForecastSql: String = {
    import graft.functions.PortableHash.proundSql
    val s = HoltScale
    val lNew = s"(s.ys[i + 1] * $s * 2 + (l + t) * 8) // 10"
    s"""WITH RECURSIVE e AS (SELECT event_type,
       |        CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
       |      FROM events),
       |g AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY 1, 2),
       |s AS (SELECT event_type, list(y ORDER BY day) AS ys FROM g
       |      GROUP BY 1 HAVING count(*) >= 2),
       |r(event_type, i, l, t) AS (
       |  SELECT event_type, 2, ys[1] * $s, (ys[2] - ys[1]) * $s FROM s
       |  UNION ALL
       |  SELECT r.event_type, i + 1, $lNew, (($lNew) - l + t * 9) // 10
       |  FROM r JOIN s USING (event_type) WHERE i < len(s.ys))
       |SELECT r.event_type, CAST(len(s.ys) AS BIGINT) AS n_obs,
       |  l AS level_fp, t AS trend_fp,
       |  l + t AS forecast_1_fp, l + t * 7 AS forecast_7_fp,
       |  ${proundSql(s"(l + t) * 1.0 / $s", 4)} AS forecast_1
       |FROM r JOIN s USING (event_type) WHERE i = len(s.ys)
       |ORDER BY r.event_type""".stripMargin
  }

  /** q141's profiled columns and their presentation kind — ONE list drives
    * both the Spark aggregate and the generated oracle SQL. */
  val ProfileCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "num", "l_quantity" -> "num", "l_extendedprice" -> "num",
    "l_discount" -> "num", "l_tax" -> "num", "l_returnflag" -> "str",
    "l_linestatus" -> "str", "l_shipdate" -> "date")

  /** q141: whole-table column profile — the ANALYZE/stats-collection
    * operator (null count, exact distinct count, min/max per column) every
    * warehouse runs before choosing join strategies and for data-quality
    * monitoring; q82 computes moments of chosen measures, this profiles the
    * TABLE. One row per profiled column: numerics surface min/max as
    * doubles, strings/dates as strings (dates render identically as
    * ISO-8601 in both engines).
    *
    * Scale plan, split by BUFFER representability (measured, not assumed):
    *  - FIXED-WIDTH columns (numerics, timestamps) profile in ONE pass —
    *    the multiple exact `count(DISTINCT)`s compile into a single scan
    *    whose Expand stage multiplies rows by the column count with
    *    map-side hash partials (all buffers mutable ⇒ HashAggregate).
    *  - STRING columns must NOT ride that plan: a var-length min/max
    *    buffer demotes EVERY phase to SortAggregate, and the partial phase
    *    then sorts (cols+1)·n rows map-side — the first cut did exactly
    *    that. Instead each string column gets its own column-pruned scan:
    *    a hash distinct-collapse (count buffer only ⇒ HashAggregate), then
    *    min/max/NDV fold over the collapsed values in a GLOBAL SortAggregate
    *    — grouping keys empty, so no sort is performed anywhere.
    *    Columnar storage makes the extra scans column-disjoint reads.
    * Exact NDV is the oracle-checkable form; at 100 TB the same plan swaps
    * `approx_count_distinct` (HLL sketch, no Expand) per column — the
    * q19/q79 seam — trading the hash-distinct exchange for a constant-size
    * sketch merge. */
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val (strCols, fixedCols) = ProfileCols.partition(_._2 == "str")
    val aggs = count(lit(1)).as("n_rows") +: fixedCols.flatMap { case (c, _) =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nn"),
          count_distinct(col(c)).as(s"${c}_nd"),
          min(col(c)).as(s"${c}_mn"),
          max(col(c)).as(s"${c}_mx"))
    }
    val one = l.agg(aggs.head, aggs.tail: _*)
    val fixedRows = fixedCols.map { case (c, kind) =>
      val (mnN, mxN, mnS, mxS) = kind match {
        case "num" => (col(s"${c}_mn").cast("double"), col(s"${c}_mx").cast("double"),
                       lit(null).cast("string"), lit(null).cast("string"))
        case _     => (lit(null).cast("double"), lit(null).cast("double"),
                       col(s"${c}_mn").cast("string"), col(s"${c}_mx").cast("string"))
      }
      struct(lit(c).as("column_name"), col("n_rows").as("n_rows"),
        col(s"${c}_nn").as("n_null"), col(s"${c}_nd").as("n_distinct"),
        mnN.as("min_num"), mxN.as("max_num"), mnS.as("min_str"), mxS.as("max_str"))
    }
    val fixedDf = one.select(explode(array(fixedRows: _*)).as("p")).select(col("p.*"))
    val strDfs = strCols.map { case (c, _) =>
      l.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"),
             sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_null"),
             count(col("v")).as("n_distinct"),
             min(col("v")).as("mn"), max(col("v")).as("mx"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
          col("n_distinct"),
          lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
          col("mn").cast("string").as("min_str"), col("mx").cast("string").as("max_str"))
    }
    (fixedDf +: strDfs).reduce(_ unionByName _).orderBy(col("column_name"))
  }

  /** The q141 oracle — generated from the SAME [[ProfileCols]] list. */
  def tableProfileSql: String = {
    val aggs = ProfileCols.flatMap { case (c, _) =>
      Seq(s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_nn",
          s"CAST(count(DISTINCT $c) AS BIGINT) AS ${c}_nd",
          s"min($c) AS ${c}_mn", s"max($c) AS ${c}_mx")
    }.mkString(",\n  ")
    val rows = ProfileCols.map { case (c, kind) =>
      val (mnN, mxN, mnS, mxS) = kind match {
        case "num" => (s"CAST(${c}_mn AS DOUBLE)", s"CAST(${c}_mx AS DOUBLE)",
                       "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case _     => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
                       s"CAST(${c}_mn AS VARCHAR)", s"CAST(${c}_mx AS VARCHAR)")
      }
      s"SELECT '$c' AS column_name, n_rows, ${c}_nn AS n_null, ${c}_nd AS n_distinct, " +
        s"$mnN AS min_num, $mxN AS max_num, $mnS AS min_str, $mxS AS max_str FROM a"
    }.mkString("\nUNION ALL\n")
    s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  $aggs
       |FROM lineitem)
       |$rows
       |ORDER BY column_name""".stripMargin
  }

  /** Whether q137 carries the exact-intersection audit columns. DEFAULT
    * OFF: the estimator is the ship — at any real scale the exact
    * cross-source intersection is precisely the corpus-sized
    * distinct+self-join the sketch exists to avoid, so the default plan is
    * one exchange of ≤K-long partial buffers straight off the token
    * stream. The audit form (conf `true`) materializes the distinct
    * (source, uh) set, rides the sketch on that same exchange
    * (bit-identical estimator values — KMV insert has distinct-set
    * semantics; AnalyticsSpec asserts it), and appends
    * exact_union/exact_intersection/jaccard_exact. The oracle resolves the
    * same conf at render time (the q41 `bandsCteSql` pattern), so either
    * form is hash-checked.
    */
  private[graft] def overlapAuditOn(spark: SparkSession): Boolean =
    graft.GraftConf.flag(spark, "graft.overlap.exactAudit")

  /** The audit mode the LAST [[sourceOverlapKmv]] plan built in this JVM
    * actually used. The oracle renders against THIS record (falling back to
    * the ambient session conf only when the query never ran), so a result
    * computed under one conf and an oracle rendered later — possibly from a
    * session whose conf differs — cannot silently diverge in schema. */
  @volatile private[graft] var overlapAuditUsed: Option[Boolean] = None

  def sourceOverlapKmv(spark: SparkSession, dir: String): DataFrame = {
    val K = graft.functions.KmvSketch.K
    val numer = (K - 1).toLong * graft.functions.KmvSketch.Domain
    val kmvBuf = udaf(graft.functions.KmvBuffer)
    def tok = sourceShingleHashes(spark, dir)
    val audit = overlapAuditOn(spark)
    overlapAuditUsed = Some(audit)
    // audit mode: the distinct (source, uh) set is materialized for the
    // exact intersection anyway, so the sketch rides ITS exchange;
    // default: the sketch aggregates the raw token stream directly —
    // map-side ≤K-long partial buffers are all that ever shuffles
    val ddOpt = if (audit) Some(tok.distinct().localCheckpoint()) else None
    // S rows of ≤K longs — the only state the pairwise stage touches
    val sk = ddOpt.getOrElse(tok)
      .groupBy(col("source")).agg(kmvBuf(col("uh")).as("ks"))
      .localCheckpoint()
    val ska = sk.select(col("source").as("source_a"), col("ks").as("ka"))
    val skb = sk.select(col("source").as("source_b"), col("ks").as("kb"))
    val est = ska.join(skb, col("source_a") < col("source_b"))
      .withColumn("mg", array_sort(array_distinct(concat(col("ka"), col("kb")))))
      .withColumn("keff", least(size(col("mg")), lit(K)).cast("long"))
      .withColumn("mk", slice(col("mg"), 1, K))
      .withColumn("k_overlap",
        size(array_intersect(array_intersect(col("mk"), col("ka")), col("kb"))).cast("long"))
      .withColumn("est_union", when(size(col("mg")) < K, size(col("mg")).cast("long"))
        .otherwise(expr(s"${numer}L div element_at(mg, $K)")))
      .withColumn("est_intersection", expr("(k_overlap * est_union) div keff"))
    ddOpt match {
      case None =>
        est.select(col("source_a"), col("source_b"), col("k_overlap"),
            col("est_union"), col("est_intersection"),
            pround(col("k_overlap") * lit(1.0) / col("keff"), 6).as("jaccard_est"))
          .orderBy(col("source_a"), col("source_b"))
      case Some(dd) =>
        val sizes = dd.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val xinter = dd.select(col("source").as("source_a"), col("uh"))
          .join(dd.select(col("source").as("source_b"), col("uh")), "uh")
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("xi"))
        est
          .join(sizes.select(col("source").as("source_a"), col("n").as("na")), "source_a")
          .join(sizes.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
          .join(xinter, Seq("source_a", "source_b"), "left")
          .withColumn("exact_intersection", coalesce(col("xi"), lit(0L)))
          .withColumn("exact_union", col("na") + col("nb") - col("exact_intersection"))
          .select(col("source_a"), col("source_b"), col("k_overlap"),
            col("est_union"), col("est_intersection"),
            col("exact_union"), col("exact_intersection"),
            pround(col("k_overlap") * lit(1.0) / col("keff"), 6).as("jaccard_est"),
            pround(col("exact_intersection") * lit(1.0) / col("exact_union"), 6)
              .as("jaccard_exact"))
          .orderBy(col("source_a"), col("source_b"))
    }
  }
}
