package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryCaches
import graft.Tables._

/** Event-stream analytics over the `events` table (event_id, ts
  * [nanosecond epoch, read as Long — SURVEY §1.3], user_id, event_type,
  * value, props [JSON string]).
  *
  * These are the reference's silver/gold shapes on a generic event
  * stream: schema-on-read JSON extraction (M1–M7), conditional
  * aggregation by day (G6), coalesce-dimension defaults (G7), countIf
  * validation ratios (V3/V9).
  */
object EventQueries {

  /** Nanos → epoch-day without ever touching TimestampType: pure Long
    * arithmetic is identical in Spark and the DuckDB oracle. ONE
    * definition — the streaming MV twins
    * ([[graft.streaming.StreamingRolling]],
    * [[graft.streaming.StreamingRetention]]) derive their day buckets
    * from the same constant, so batch and streamed day grids cannot
    * drift. */
  private[graft] val NanosPerDay = 86400L * 1000000000L
  private val NanosPerHour = 3600L * 1000000000L

  /** Schema-on-read JSON path extraction (SURVEY P8/M1): pull `$.k` out
    * of the stringly-typed `props` column, filter, project.
    * Reference twin: JSON_VALUE in 02-silver-tables.sql:81-83. */
  def mJsonExtract(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .filter(col("event_type").isin("purchase", "signup"))
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("prop_k"))
      .filter(col("prop_k") >= 50)
      .orderBy(col("event_id"))
  }

  /** INCREMENTAL AGGREGATE MV through the summing sink (the ClickHouse
    * SummingMergeTree analog, [[graft.sink.ParquetSink.readSummed]]):
    * daily per-type totals maintained as per-batch PARTIAL aggregates.
    * The scenario stacks every replay hazard additive state has: three
    * ingest batches (the events table split by event_id mod 3), an
    * at-least-once REDELIVERY of batch 2, a background merge
    * ([[graft.sink.ParquetSink.compactSummed]]), then a LATE replay of
    * batch 1 from below the merge watermark, then a fresh batch 3.
    * The read must equal one plain GROUP BY over the whole table — the
    * DuckDB oracle — with every replay invisible. Value sums stay
    * DECIMAL across partials/merges (order-independent addition) and
    * cast to DOUBLE only at the edge (the dsum discipline). */
  def kSummingDaily(spark: SparkSession, dir: String): DataFrame = {
    import graft.sink.ParquetSink
    val path = ParquetSink.scratchDir("summing_daily")
    val keys = Seq("epoch_day", "event_type")
    val sums = Seq("sum_value_dec", "n_events")
    val e = events(spark, dir)
      .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
    // ONE event-table scan + shuffle for all three batch partials
    // (VERDICT r12 #8): the five writeSummedBatch calls previously each
    // re-ran scan+filter+agg (5 full scans for 3 distinct partials);
    // pre-aggregating at the (mod-class, day, type) grain and slicing
    // the checkpointed grid is semantically identical (DECIMAL sums and
    // counts distribute over the mod partition). Measured honestly at
    // sf0.1: warm wall time is UNCHANGED (~2.4 s either way) — local
    // parquet commit/compaction orchestration dominates, not the scans
    // — but at fact-table scale the 5-scans→1-shuffle cut is the whole
    // cost, so the shape is kept.
    val pre = e
      .groupBy(pmod(col("event_id"), lit(3)).as("k"),
        col("epoch_day"), col("event_type"))
      .agg(
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
          .as("sum_value_dec"),
        count(lit(1)).as("n_events"))
      .localCheckpoint()
    def partial(k: Int): DataFrame = pre
      .filter(col("k") === k).drop("k")
      .withColumn("block_height", col("epoch_day"))
    ParquetSink.writeSummedBatch(partial(0), path, 1L, keys)
    ParquetSink.writeSummedBatch(partial(1), path, 2L, keys)
    ParquetSink.writeSummedBatch(partial(1), path, 2L, keys) // redelivery
    ParquetSink.compactSummed(spark, path, keys, sums)
    ParquetSink.writeSummedBatch(partial(0), path, 1L, keys) // late replay
    ParquetSink.writeSummedBatch(partial(2), path, 3L, keys)
    ParquetSink.readSummed(spark.read.parquet(path), keys, sums)
      .select(col("epoch_day"), col("event_type"),
        col("n_events"),
        col("sum_value_dec").cast("double").as("sum_value"))
      .orderBy(col("epoch_day"), col("event_type"))
  }

  /** Daily conditional aggregation (SURVEY G6/G7/G8): per epoch-day,
    * sum value for each event family; `multiIf`-style conditional sums.
    * Reference twin: 03-gold-views.sql:23-31. */
  def gDailyMetrics(spark: SparkSession, dir: String): DataFrame = {
    // Integer DIV, not `/`: ts ≈ 1.7e18 exceeds double's 53-bit mantissa,
    // so float division would mis-bucket boundary rows.
    val e = events(spark, dir)
      .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
    e.groupBy(col("epoch_day"))
      .agg(
        dsum(when(col("event_type") === "purchase", col("value")), 2)
          .as("purchase_value"),
        dsum(when(col("event_type") === "view", col("value")), 2)
          .as("view_value"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("error_count"),
        count(lit(1)).as("n_events"))
      .orderBy(col("epoch_day"))
  }

  /** ROLLING 7-day totals per event type — the RANGE-frame window shape
    * ([[wEventGaps]] is ROWS-frame lag; this is value-range framing:
    * `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` over epoch_day, which
    * correctly spans calendar GAPS — a missing day still bounds the
    * window by VALUE, where a ROWS frame would wrongly reach 7 rows
    * back).
    *
    * Scale shape: the window runs over the DAILY aggregate (bounded by
    * days × types), never over raw events — the fact table collapses in
    * one partial-agg shuffle first, so per-partition window state is
    * grid-sized at any SF. Sums stay DECIMAL through both the daily agg
    * AND the window; only the output edge casts to double. */
  def wRolling7d(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = events(spark, dir)
      .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(sum(col("value").cast(DecimalType(28, 2))).as("day_dec"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("rolling_7d", sum(col("day_dec")).over(w).cast("double"))
      .select(col("event_type"), col("epoch_day"),
        col("day_dec").cast("double").as("day_value"), col("rolling_7d"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** Explicit GROUPING SETS — the grouping-set list { (type), (day),
    * () } that NEITHER [[gRollupMetrics]]'s hierarchy NOR
    * [[gCubeMetrics]]'s full lattice produces (no (type, day) cell):
    * one Expand + one partial-aggregated shuffle for exactly the
    * requested sets, not a superset filtered after the fact. */
  def gGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("epoch_day")), Seq.empty),
        col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value"), 2).as("total_value"),
        grouping_id().as("lvl"))
      .select(col("lvl"), col("event_type"), col("epoch_day"),
        col("n_events"), col("total_value"))
      .orderBy(col("lvl"), col("event_type"), col("epoch_day"))
  }

  /** Hourly tumbling-window aggregation by pure integer bucketing —
    * the batch twin of a Structured Streaming `window(ts, "1 hour")`
    * (same bucket boundaries), exact in both engines. */
  def gHourlyActivity(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .withColumn("hour_bucket",
        (col("ts") - (col("ts") % lit(NanosPerHour))).as("hour_bucket"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour_bucket"), col("event_type"))
  }

  /** Latest event per user — FINAL/last-write-wins dedup on the stream
    * (SURVEY K2). Timestamps are exposed µs-truncated (`ts DIV 1000`)
    * because the DuckDB oracle reads parquet TIMESTAMP(NANOS) at µs
    * precision — the same normalization the reference's own PG↔CH
    * cross-validator applies (cross-validate-pg.sh:100-140). Ordering
    * also uses the truncated value (+ unique event_id tiebreak) so both
    * engines rank identically. */
  def kLatestEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("ts_us", expr("ts DIV 1000"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .orderBy(col("user_id"))
  }

  /** countIf-style validation ratio (SURVEY V3/V9): share of error
    * events per user bucket; ratio = exact counts divided once as
    * doubles (deterministic). Reference twin: validate.sh:124-139. */
  def vErrorRatio(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("error_count"),
        count(lit(1)).as("total_count"))
      .withColumn("error_ratio",
        col("error_count").cast("double") / col("total_count").cast("double"))
      .orderBy(col("user_id"))
  }

  /** Gap-based sessionization (30-minute inactivity closes a session)
    * through the REAL stateful operator —
    * [[graft.streaming.Sessionize.sessionsBatch]] runs
    * `flatMapGroupsWithState` in batch execution, one state record per
    * user sharded by the groupBy hash (its streaming twin reuses the
    * same state function with a processing-time timeout). A codegen
    * window rewrite was A/B-measured 25-50% SLOWER here (r17,
    * [[graft.streaming.Sessionize.sessionsBatchWindow]] kept as the
    * suite-pinned spill-safe twin), so the stateFn path stays.
    * µs-truncated time for oracle parity (see kLatestEventPerUser). */
  def wSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.Sessionize
    val evs = events(spark, dir)
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_id"))
      .as[Sessionize.Ev]
    Sessionize.sessionsBatch(evs, gapUs = 30L * 60L * 1000000L).toDF()
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** Peak CONCURRENCY per day — the sweep-line interval analytic over
    * the sessionization output: how many sessions are simultaneously
    * open, maxed per epoch-day. Sessions are intervals
    * [start, end] (end-INCLUSIVE — the −1 lands at end+1 µs), the
    * classic +1/−1 sweep; concurrency is evaluated at the sweep's
    * transition points, and each day reports the max over its points
    * (deterministic in both engines; a silent day carries no row).
    * Deltas are AGGREGATED per distinct timestamp before the prefix
    * sum, so ordering among coincident starts/ends can never matter.
    *
    * Scale shape: the naive formulation is one GLOBAL ordered window —
    * the single-task skew trap. This is the two-pass distributed
    * prefix sum instead ([[graft.llm.TextAnalysis.tTokenBudget]]'s
    * offset pattern on the time axis): per-day partial sums → running
    * offsets over the day-count-bounded relation (the only
    * single-partition window) → within-day cumulative sums partitioned
    * by day. All integer arithmetic. */
  def wPeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.Sessionize
    val evs = events(spark, dir)
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_id"))
      .as[Sessionize.Ev]
    val sessions =
      Sessionize.sessionsBatch(evs, gapUs = 30L * 60L * 1000000L).toDF()
    // persisted: the day-offsets aggregate and the main join both read
    // the sweep points (tracked cache contract). Both sweep deltas are
    // EXPLODED from each session row in one pass (r17) — the start∪end
    // unionByName ran the whole sessionize subtree twice; see
    // coverageFromEvents for the measured duplication.
    val pts = QueryCaches.persistTracked(sessions
      .select(explode(array(
        struct(col("session_start_us").as("ts_us"), lit(1L).as("delta")),
        struct((col("session_end_us") + 1L).as("ts_us"),
          lit(-1L).as("delta")))).as("e"))
      .select(col("e.ts_us").as("ts_us"), col("e.delta").as("delta"))
      .groupBy(col("ts_us")).agg(sum(col("delta")).as("net"))
      .withColumn("day", expr("ts_us DIV 86400000000")))
    val offsets = pts.groupBy(col("day")).agg(sum(col("net")).as("day_net"))
      .withColumn("offset",
        coalesce(sum(col("day_net")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("offset"))
    val wIn = Window.partitionBy(col("day")).orderBy(col("ts_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.join(broadcast(offsets), Seq("day"))
      .withColumn("cum", col("offset") + sum(col("net")).over(wIn))
      .groupBy(col("day"))
      .agg(max(col("cum")).cast("long").as("peak_concurrency"),
        count(lit(1)).as("n_points"))
      .select(col("day").as("epoch_day"), col("peak_concurrency"),
        col("n_points"))
      .orderBy(col("epoch_day"))
  }

  /** INTEGER-EXACT z-score anomaly read over a (event_type, epoch_day,
    * day_count) daily grid — shared by the batch query and the
    * streaming summing-MV twin (one detector, two grid builders).
    *
    * The 2σ test runs in EXACT integer arithmetic: with per-type
    * n = #days, s1 = Σc, s2 = Σc², the flag
    * (c − μ)² > 4σ²  ⇔  (n·c − s1)² > 4·(n·s2 − s1²)
    * multiplies both sides by n² so no division, no sqrt, no float
    * compare ever happens — the detection set is bit-free deterministic
    * in any engine (μ, σ are population moments). Range: the test
    * squares n·c − s1, so magnitudes are bounded by (days × max-day-
    * count)² — safe in int64 up to ~3×10⁹ events/day over a 10-year
    * grid; a tail beyond that (extreme 100 TB ingest) should move s1/
    * s2/dev to decimal(38,0), same shape, still exact. `mean_count` is
    * exposed as the single double division s1/n for readability. */
  private[graft] def anomalyFromDaily(daily: DataFrame): DataFrame = {
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("day_count")).as("s1"),
        sum(col("day_count") * col("day_count")).as("s2"))
    daily.join(stats, Seq("event_type"))
      .withColumn("dev_n", col("n_days") * col("day_count") - col("s1"))
      .withColumn("var_n2",
        col("n_days") * col("s2") - col("s1") * col("s1"))
      .filter(col("dev_n") * col("dev_n") > lit(4L) * col("var_n2"))
      .withColumn("mean_count",
        col("s1").cast("double") / col("n_days").cast("double"))
      .withColumn("is_high", col("dev_n") > 0L)
      .select(col("event_type"), col("epoch_day"), col("day_count"),
        col("n_days"), col("mean_count"), col("is_high"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** Daily-count ANOMALY detection per event type: days whose event
    * count sits more than 2 population standard deviations from that
    * type's mean — the data-quality tripwire over ingest volumes
    * (broken feed, replay storm, silent drop), done with the
    * integer-exact test of [[anomalyFromDaily]].
    *
    * Scale shape: one hash-partitioned daily aggregation (map-side
    * combined), a type-bounded stats aggregate joined back (AQE
    * broadcasts it on size), then a narrow filter. No windows, no
    * global sort. */
  def wAnomalyZscore(spark: SparkSession, dir: String): DataFrame =
    anomalyFromDaily(
      events(spark, dir)
        .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
        .groupBy(col("event_type"), col("epoch_day"))
        .agg(count(lit(1)).as("day_count")))

  /** SCD TYPE-2 dimension history from the event stream: each user's
    * event_type sequence collapses into validity intervals — one row
    * per consecutive-state RUN with [valid_from, valid_to) bounds,
    * where valid_to is the next run's start and the open run is marked
    * current (the slowly-changing-dimension history table the
    * reference's ReplacingMergeTree family stores the LATEST row of;
    * this keeps the full history, the other half of that design
    * space).
    *
    * Mechanics: lag detects state changes, a per-user running sum
    * numbers the runs, runs aggregate to intervals, lead supplies the
    * next run's start. All windows partition BY USER (per-user event
    * counts are bounded); µs-truncated time for oracle parity. */
  def kScd2History(spark: SparkSession, dir: String): DataFrame =
    scd2FromEvents(events(spark, dir)
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_id"), col("event_type")))

  /** The SCD2 interval builder over a (user_id, ts_us, event_id,
    * event_type) relation — THE shared implementation read by the batch
    * query and by the streamed append-only event-log MV
    * ([[graft.streaming.StreamingEventLog]]), so the two can never
    * drift. */
  private[graft] def scd2FromEvents(e: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val runs = e
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(wOrd).isNull ||
          lag(col("event_type"), 1).over(wOrd) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run_id"))
      // every row in a run shares one event_type, so min IS that state
      // (first() in an agg is order-undefined; min is deterministic)
      .agg(min(col("event_type")).as("state"),
        min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("run_id"))
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wRun))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("user_id"), col("state"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  /** Interval-union COVERAGE per day — the utilization twin of
    * [[wPeakConcurrency]]: how many microseconds of each epoch-day have
    * at least one session open, across all users (sessions overlap
    * across users, so this is a genuine interval union, not a sum of
    * lengths). Same session construction, same aggregated +1/−1 sweep;
    * instead of max(concurrency) per day it measures the covered time.
    *
    * Mechanics: between consecutive transition points [t, next_t) the
    * active count is constant, so the union is the sum of segment
    * lengths where the running count > 0. Segments can CROSS silent
    * midnights (a session spanning days contributes to each), so each
    * active segment explodes to its day range and is clamped to the
    * day's bounds — all integer µs arithmetic, exact in both engines.
    *
    * Scale shape: the sweep reuses [[wPeakConcurrency]]'s two-pass
    * distributed prefix sum (per-day partials → day-bounded offset
    * window → within-day cumulative). The segment end (global
    * next-transition) is the within-day `lead`, patched at each day's
    * last point by a join against the day-bounded "first point of the
    * next day" relation — so no window ever spans the full corpus. */
  def wIntervalCoverage(spark: SparkSession, dir: String): DataFrame =
    coverageFromEvents(spark, events(spark, dir)
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_id")))

  /** The interval-union sweep over a (user_id, ts_us, event_id)
    * relation — THE shared implementation read by the batch query and
    * by the streamed append-only event-log MV
    * ([[graft.streaming.StreamingEventLog]]). */
  private[graft] def coverageFromEvents(spark: SparkSession,
      evsDf: DataFrame): DataFrame = {
    import spark.implicits._
    import graft.streaming.Sessionize
    val dayUs = 86400000000L
    val evs = evsDf.as[Sessionize.Ev]
    val sessions =
      Sessionize.sessionsBatch(evs, gapUs = 30L * 60L * 1000000L).toDF()
    // persisted: the day digest and the main sweep both read it. Both
    // sweep deltas (+1 at start, −1 past end) are EXPLODED from each
    // session row in ONE pass (r17, guide §2.3 "aggregate before you
    // shuffle" / §1.2): the previous start∪end unionByName duplicated
    // the whole sessionize subtree — the stateful operator, its
    // exchange and the scan ran TWICE per query (profiled ~15 s of
    // duplicated task time at sf0.1).
    val pts = QueryCaches.persistTracked(sessions
      .select(explode(array(
        struct(col("session_start_us").as("ts_us"), lit(1L).as("delta")),
        struct((col("session_end_us") + 1L).as("ts_us"),
          lit(-1L).as("delta")))).as("e"))
      .select(col("e.ts_us").as("ts_us"), col("e.delta").as("delta"))
      .groupBy(col("ts_us")).agg(sum(col("delta")).as("net"))
      .withColumn("day", expr(s"ts_us DIV $dayUs")))
    // ONE day-bounded digest carries both running offsets and the
    // next-day first point (r17): the two-relation form built two
    // broadcasts from two separate aggregation passes over pts — same
    // rows, half the passes, one broadcast build.
    val dayInfo = pts.groupBy(col("day"))
      .agg(sum(col("net")).as("day_net"), min(col("ts_us")).as("first_us"))
      .withColumn("offset",
        coalesce(sum(col("day_net")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("next_first_us", lead(col("first_us"), 1).over(
        Window.orderBy(col("day"))))
      .select(col("day"), col("offset"), col("next_first_us"))
    val wIn = Window.partitionBy(col("day")).orderBy(col("ts_us"))
    val segs = pts.join(broadcast(dayInfo), Seq("day"))
      .withColumn("cum", col("offset") + sum(col("net")).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("seg_end",
        coalesce(lead(col("ts_us"), 1).over(wIn), col("next_first_us")))
      .filter(col("cum") > 0 && col("seg_end").isNotNull)
      .select(col("ts_us").as("seg_start"), col("seg_end"))
    segs
      .select(col("seg_start"), col("seg_end"),
        explode(expr(s"sequence(seg_start DIV $dayUs, " +
          s"(seg_end - 1) DIV $dayUs)")).as("epoch_day"))
      .withColumn("covered_us",
        least(col("seg_end"), (col("epoch_day") + 1) * dayUs) -
          greatest(col("seg_start"), col("epoch_day") * dayUs))
      .groupBy(col("epoch_day"))
      .agg(sum(col("covered_us")).as("busy_us"),
        count(lit(1)).as("n_segments"))
      .orderBy(col("epoch_day"))
  }

  /** GAP-FILLED hourly series with forward fill — the time-series
    * regularization every dashboard/train-data export needs: per event
    * type, the high-value (≥ 90) revenue series materializes densely
    * over the type's [first, last] HOUR range (silent hours get a
    * row), missing values carry forward from the last observed hour,
    * and `is_filled` marks synthesized rows. (Hour grain + the value
    * gate because this corpus's daily × type grid is fully dense —
    * a gap-fill over it would never fill anything.)
    *
    * Mechanics: per-type hour bounds → `sequence` explode to the dense
    * grid (grid-bounded, not event-bounded) → left join the real
    * hourly DECIMAL sums → `last(_, ignoreNulls)` over the per-type
    * hour order. The first grid hour is observed by construction, so
    * forward fill never reads past the start.
    *
    * Scale shape: events aggregate once (hash-partitioned, map-side
    * combined, the value filter pushed to the scan); everything after
    * runs on the hours × types grid. Windows partition by type over
    * that grid — bounded by the time range, not the event count. */
  def wGapFill(spark: SparkSession, dir: String,
      minValue: Double = 90.0): DataFrame =
    gapFillFromHourly(hourlyHighValue(events(spark, dir), minValue))

  /** The hourly high-value DECIMAL grid — the additive relation the
    * streaming twin maintains as a summing MV (one definition, two
    * grid builders — the [[anomalyFromDaily]] discipline). */
  private[graft] def hourlyHighValue(e: DataFrame,
      minValue: Double = 90.0): DataFrame = {
    val nanosPerHour = 3600L * 1000000000L
    e.filter(col("value") >= minValue)
      .withColumn("epoch_hour", expr(s"ts DIV ${nanosPerHour}L"))
      .groupBy(col("event_type"), col("epoch_hour"))
      .agg(sum(col("value").cast("decimal(28,2)")).as("hour_dec"))
  }

  /** Dense-grid forward fill over an (event_type, epoch_hour, hour_dec)
    * relation — THE shared read for the batch query and the streamed
    * summing-MV twin. */
  private[graft] def gapFillFromHourly(hourly: DataFrame): DataFrame = {
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("epoch_hour")).as("h0"), max(col("epoch_hour")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1)")).as("epoch_hour"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "epoch_hour"), "left")
      .withColumn("is_filled", col("hour_dec").isNull)
      .withColumn("hour_value",
        last(col("hour_dec"), ignoreNulls = true).over(w).cast("double"))
      .select(col("event_type"), col("epoch_hour"), col("hour_value"),
        col("is_filled"))
      .orderBy(col("event_type"), col("epoch_hour"))
  }

  /** Hourly tumbling windows through the REAL `window()` operator
    * ([[graft.streaming.WindowedActivity.hourlyCounts]] — the same
    * code serves `readStream` with a watermark); epoch-aligned window
    * starts exposed as µs so the boundaries are engine-exact. The
    * integer-bucketing twin gHourlyActivity pins the same numbers
    * without the operator. */
  def wHourlyWindow(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.WindowedActivity.hourlyCounts(events(spark, dir))
      .select(unix_micros(col("hour_start")).as("hour_start_us"),
        col("event_type"), col("n"))
      .orderBy(col("hour_start_us"), col("event_type"))

  /** Skew-resilient dimension join through
    * [[graft.operators.SkewJoin.saltedJoin]]: the event stream (large,
    * hot user keys) against a per-user dimension, join key salted to
    * `(user_id, hash(event_id) % 8)` so a hot user's rows spread over 8
    * shuffle partitions. Salting MUST NOT change the result — the
    * oracle is the plain unsalted join. */
  def jSaltedUserEvents(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SkewJoin
    val e = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
    val dim = e.groupBy(col("user_id"))
      .agg(min(col("event_id")).as("first_event_id"))
    SkewJoin.saltedJoin(e, dim, Seq("user_id"), "event_id", saltFactor = 8)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("first_event_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Sessionization-lite: per user, order events by ts and attach the
    * previous event's type and the gap in nanos (lag window) — the
    * analytic-function family the reference lacks but a training-data
    * pipeline needs. */
  def wEventGaps(spark: SparkSession, dir: String): DataFrame = {
    // µs-truncated time (see kLatestEventPerUser) for oracle parity.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_type"))
      .withColumn("prev_type",
        coalesce(lag(col("event_type"), 1).over(w), lit("none")))
      .withColumn("gap_us",
        col("ts_us") - coalesce(lag(col("ts_us"), 1).over(w), col("ts_us")))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** AS-OF join: every event picks up the user's most recent purchase
    * at-or-before its own timestamp — the point-in-time lookup of
    * time-series engines (DuckDB spells it `ASOF LEFT JOIN`, which is
    * exactly the oracle).
    *
    * Spark-first shape — the UNION-TAG formulation, not a range join:
    * tag purchase rows 0 and event rows 1, sort each user's rows once
    * by (ts, tag, event_id), and carry the last non-null purchase id
    * forward with a running `last(ignoreNulls)` window. ONE hash
    * shuffle on user_id and a linear per-partition pass — no
    * inequality-join explosion, no per-row probe; this is the shape
    * that survives 100 TB (an inequality join would rescan the
    * purchase side per event).
    *
    * Determinism without a pre-aggregation: the window sort itself
    * resolves ties — among purchases sharing (user, ts), ascending
    * event_id makes the running last() carry the MAX event_id (the
    * same survivor a max() pre-agg would pick, minus its extra
    * shuffle), and tag 0 < 1 makes an equal-timestamp purchase visible
    * to the event — the same inclusive `l.ts >= r.ts` bound ASOF
    * uses. */
  def wAsofJoin(spark: SparkSession, dir: String): DataFrame =
    asofLastPurchase(events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("ts_us")))
      .orderBy(col("event_id"))

  /** The union-tag as-of core over any (event_id, user_id, event_type,
    * ts_us) relation — split out so the property suite can drive it
    * with adversarial timestamp ties. Unordered. */
  private[graft] def asofLastPurchase(e: DataFrame): DataFrame = {
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("purchase_event_id"))
    val tagged = e
      .withColumn("tag", lit(1))
      .withColumn("purchase_event_id", lit(null).cast("long"))
      .unionByName(purchases
        .withColumn("event_id", lit(null).cast("long"))
        .withColumn("event_type", lit(null).cast("string"))
        .withColumn("tag", lit(0)))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"),
        coalesce(col("purchase_event_id"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_purchase_event_id",
        last(col("purchase_event_id"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("last_purchase_event_id"))
  }

  /** RANGE join: all same-user event pairs within `windowUs` of each
    * other — the banded formulation, not an inequality join.
    *
    * A naive `a.ts BETWEEN b.ts - W AND b.ts + W` join degenerates to a
    * per-key nested loop (Spark can only plan non-equi conditions as a
    * join filter — at 100 TB that is a rescans-per-row disaster). The
    * banded shape makes it an EQUI join: each row lives in time bucket
    * `ts DIV W`; the right side is replicated to its 3 neighboring
    * buckets; any pair within W is at most one bucket apart, so it
    * meets on the (user, bucket) hash key — once from each
    * orientation, collapsed by the `event_a < event_b` filter — and the
    * exact |Δts| ≤ W predicate verifies candidates. Cost: one hash
    * shuffle of 1× + 3× the rows, per-task work bounded by the bucket
    * population — the same candidates-then-verify discipline as the
    * LSH dedup pipeline. */
  def wRangeJoin(spark: SparkSession, dir: String,
      windowUs: Long = 3600000000L): DataFrame =
    rangePairs(events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us")), windowUs)
      .orderBy(col("user_id"), col("event_a"), col("event_b"))

  /** The banded range-join core over any (event_id, user_id, ts_us)
    * relation — split out for the property suite. Unordered. */
  private[graft] def rangePairs(e: DataFrame, windowUs: Long): DataFrame = {
    val home = e.withColumn("bucket", expr(s"ts_us DIV ${windowUs}L"))
    val probe = e
      .withColumn("b0", expr(s"ts_us DIV ${windowUs}L"))
      .select(col("event_id").as("event_b"), col("user_id"),
        col("ts_us").as("ts_b"),
        explode(array(col("b0") - 1, col("b0"), col("b0") + 1)).as("bucket"))
    home
      .select(col("event_id").as("event_a"), col("user_id"),
        col("ts_us").as("ts_a"), col("bucket"))
      .join(probe, Seq("user_id", "bucket"))
      .filter(col("event_a") < col("event_b") &&
        abs(col("ts_a") - col("ts_b")) <= windowUs)
      .select(col("user_id"), col("event_a"), col("event_b"),
        (col("ts_b") - col("ts_a")).as("gap_us"))
  }

  /** CUBE — the full grouping-sets lattice: (type, day), (type),
    * (day), () in ONE Expand+aggregate pass; the cross-classified
    * margins [[gRollupMetrics]]'s hierarchy omits (lvl 2 = per-day
    * totals across types). */
  def gCubeMetrics(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
      .cube(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value"), 2).as("total_value"),
        grouping_id().as("lvl"))
      .select(col("lvl"), col("event_type"), col("epoch_day"),
        col("n_events"), col("total_value"))
      .orderBy(col("lvl"), col("event_type"), col("epoch_day"))
  }

  /** PIVOT: per-day event counts spread into one column per event
    * type. The pivot VALUES are pinned explicitly — with an explicit
    * list Spark skips the extra distinct-values job AND the output
    * schema is deterministic (data-driven pivot columns would make the
    * compare surface depend on arrival order). Plans as one
    * conditional aggregation — the oracle spells the same thing as
    * portable CASE sums. */
  def gPivotDaily(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
      .groupBy(col("epoch_day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("epoch_day"))
  }

  /** UNPIVOT (stack): the wide per-day pivot melted back to long
    * (epoch_day, event_type, n) rows — the reshaping dual of
    * [[gPivotDaily]]. `stack` is a generator inside the projection
    * (row-local, no shuffle beyond the pivot's own aggregation);
    * zero-count combinations survive the round trip, which is exactly
    * what distinguishes unpivot(pivot(x)) from a plain groupBy. */
  def gUnpivotDaily(spark: SparkSession, dir: String): DataFrame = {
    gPivotDaily(spark, dir)
      .select(col("epoch_day"),
        expr("stack(5, 'click', click, 'error', error, " +
          "'purchase', purchase, 'signup', signup, 'view', view) " +
          "AS (event_type, n)"))
      .orderBy(col("epoch_day"), col("event_type"))
  }

  /** Set operations (INTERSECT / EXCEPT): customers seen in BOTH halves
    * of the order history vs only the first half — the
    * set-reconciliation shape of the validation family (SURVEY V4's
    * anti-join is EXCEPT in disguise; these are the declarative
    * duals). Spark plans both as semi/anti hash joins — no sort, no
    * global distinct beyond the keys. */
  def vSetOps(spark: SparkSession, dir: String): DataFrame = {
    // parity split: deterministic and populated at every SF (orderkeys
    // are sparse and their range is SF-dependent — a fixed midpoint
    // would degenerate)
    val o = orders(spark, dir)
    val early = o.filter(col("o_orderkey") % 2 === 0).select(col("o_custkey"))
    val late = o.filter(col("o_orderkey") % 2 === 1).select(col("o_custkey"))
    val both = early.intersect(late)
      .select(col("o_custkey"), lit("both").as("cohort"))
    val earlyOnly = early.except(late)
      .select(col("o_custkey"), lit("early_only").as("cohort"))
    both.unionByName(earlyOnly)
      .orderBy(col("cohort"), col("o_custkey"))
  }

  /** Sketch-based cardinality with an error contract — the scale path
    * for count-distinct validation (V1 family): at 100 TB an exact
    * distinct is a full shuffle of the key universe, while HLL
    * registers merge in fixed memory with map-side combine. The
    * declared surface is ENGINE-PORTABLE by construction: each engine
    * checks its own sketch against its own exact count and reports the
    * deterministic exact count plus the bound verdict (sketch estimates
    * themselves differ across implementations and are never compared
    * cross-engine). */
  def vApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .select(col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") <=
          col("n_exact").cast("double") * lit(0.05)).as("within_bound"))
  }

  /** FULL OUTER join — the reconciliation shape, completing the join
    * matrix (inner/left/semi/anti are covered elsewhere; q13 is the
    * classic LEFT OUTER): high-value purchase activity vs high-value
    * signup activity per user, keeping users present on EITHER side
    * and classifying each row both/purchase_only/signup_only — an
    * inner join would silently drop exactly the one-sided rows a
    * reconciliation exists to find.
    *
    * Scale shape: both inputs pre-aggregate to user grain BEFORE the
    * join (the fact table collapses in partial-agg shuffles), and a
    * FULL OUTER can never broadcast — it plans as a keyed
    * sort-merge/shuffle-hash join on the already-shrunk sides, which
    * is the right plan at any SF. */
  def jFullOuterRecon(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).filter(col("value") >= 95.0)
    val p = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_purchases"))
    val s = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_signups"))
    p.join(s, Seq("user_id"), "full_outer")
      .withColumn("side",
        when(col("n_purchases").isNull, "signup_only")
          .when(col("n_signups").isNull, "purchase_only")
          .otherwise("both"))
      .select(col("user_id"), col("n_purchases"), col("n_signups"),
        col("side"))
      .orderBy(col("user_id"))
  }

  /** Approximate QUANTILES with a rank-error contract — the
    * percentile/sketch sibling of [[vApproxDistinct]]'s HLL pattern:
    * each engine checks ITS OWN sketch against ITS OWN exact ranks and
    * the engines compare only the deterministic surface (exact
    * nearest-rank quantiles + the bound verdict) — sketch outputs
    * themselves are implementation-defined and never cross-engine.
    *
    * The exact side is the histogram formulation ([[wValueDeciles]]):
    * the cumulative window runs over DISTINCT 2-decimal values —
    * domain-bounded, not corpus-bounded — never a sort of raw rows.
    * The GK sketch (`percentile_approx`, accuracy 1000) guarantees
    * rank error ≤ n/accuracy; the verdict allows exactly that: the
    * returned value's occupied rank interval, widened by n/1000, must
    * cover the target rank ceil(p·n). */
  def vApproxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(col("value"))
    val hist = e.groupBy(col("value")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("rank_lo", col("cum") - col("cnt") + lit(1L))
    val ps = Seq(0.5, 0.9, 0.99)
    val totals = e.agg(count(lit(1)).as("n"),
      percentile_approx(col("value"),
        array(ps.map(lit): _*), lit(1000)).as("approx"))
    val probes = totals
      .select(col("n"), posexplode(col("approx")).as(Seq("i", "a")))
      .withColumn("p", element_at(array(ps.map(lit): _*), col("i") + 1))
      .withColumn("target_rn", ceil(col("p") * col("n").cast("double")).cast("long"))
      .withColumn("slack", (col("n") / lit(1000L)).cast("long") + lit(1L))
    // exact nearest-rank per p: min value whose cum reaches the target
    val exact = cum.join(broadcast(probes.select(col("p"), col("target_rn"))),
        col("cum") >= col("target_rn"))
      .groupBy(col("p")).agg(min(col("value")).as("exact_q"))
    // the sketch value's occupied rank interval vs the target, ± slack
    val verdict = cum.join(broadcast(probes), col("value") === col("a"))
      .select(col("p"),
        (col("target_rn") >= col("rank_lo") - col("slack") &&
          col("target_rn") <= col("cum") + col("slack")).as("ok"))
    exact.join(verdict, "p")
      .agg(
        min(when(col("p") === 0.5, col("exact_q"))).as("q50_exact"),
        min(when(col("p") === 0.9, col("exact_q"))).as("q90_exact"),
        min(when(col("p") === 0.99, col("exact_q"))).as("q99_exact"),
        min(col("ok")).as("within_rank_bound"))
  }

  /** Multi-level rollup (GROUPING SETS family): per (event_type, day),
    * per event_type, and grand total in ONE pass — Spark's `rollup`
    * expands the grouping sets inside a single partial-aggregated
    * shuffle rather than three scans. `lvl` is the grouping_id bitmask
    * distinguishing subtotal rows from NULL-valued group keys. */
  def gRollupMetrics(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
      .rollup(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value"), 2).as("total_value"),
        grouping_id().as("lvl"))
      .select(col("lvl"), col("event_type"), col("epoch_day"),
        col("n_events"), col("total_value"))
      .orderBy(col("lvl"), col("event_type"), col("epoch_day"))
  }

  /** Per-type decile labels for event values — the deterministic,
    * scale-safe alternative to NTILE. NTILE splits TIES across buckets
    * by arbitrary row order, so its labels are not reproducible across
    * engines (or even runs); here equal values always get equal labels:
    * decile = 1 + #(boundaries strictly below the value), boundaries
    * being the nearest-rank p=0.1..0.9 values.
    *
    * Scale shape: boundaries come from the same HISTOGRAM formulation
    * as [[graft.llm.TextAnalysis.tQualityPercentiles]] — the cumulative
    * window runs over DISTINCT values per type, and the value grid is
    * fixed-precision (2 decimals), so that window is bounded by grid
    * cardinality regardless of corpus size. Row labeling is then a
    * broadcast of the (types × 9)-bounded boundary arrays + a narrow
    * per-row filter — no per-group window over raw rows anywhere. */
  def wValueDeciles(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val hist = QueryCaches.persistTracked(
      e.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("cnt"))) // window + per-type totals read it
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val targets = hist.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
      .select(col("event_type"), col("n"),
        explode(array((1 to 9).map(i => lit(i / 10.0)): _*)).as("p"))
      .withColumn("target_rn",
        ceil(col("p") * col("n").cast("double")).cast("long"))
    val bounds = targets.join(cum, Seq("event_type"))
      .filter(col("cum") >= col("target_rn"))
      .groupBy(col("event_type"), col("p"))
      .agg(min(col("value")).as("b"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("b"))).as("bs"))
    e.join(broadcast(bounds), Seq("event_type"))
      .withColumn("decile",
        (lit(1) + size(expr("filter(bs, x -> x < value)"))).cast("long"))
      .select(col("event_id"), col("event_type"), col("value"), col("decile"))
      .orderBy(col("event_id"))
  }

  /** Retention cohort matrix — the classic product-analytics view the
    * gold layer's daily metrics (G6) lead to: users grouped by their
    * FIRST active day (the cohort), and for each (cohort, day-offset)
    * cell the count of cohort users active that day. Day 0 of every
    * cohort equals the cohort size; later offsets trace its retention
    * curve.
    *
    * Scale shape: three hash-partitioned aggregations and one
    * user-keyed join — (user, day) distinct with map-side combine, a
    * min-per-user cohort aggregate, the join back (both sides
    * user-count-bounded, AQE-owned), and the final (cohort × offset)
    * aggregate whose output is day-range² bounded. No window over raw
    * events, nothing broadcast, all integer day arithmetic (`ts DIV
    * nanos-per-day` — engine-exact). */
  def gRetentionCohorts(spark: SparkSession, dir: String): DataFrame =
    retentionFromActivity(
      events(spark, dir)
        .select(col("user_id"),
          expr(s"ts DIV ${NanosPerDay}L").as("epoch_day"))
        .distinct())

  /** The cohort-matrix aggregation over any distinct (user_id,
    * epoch_day) activity relation — ONE implementation read by the
    * batch query and the streaming activity MV
    * ([[graft.streaming.StreamingRetention]]), so "streamed activity
    * set answers identically" is a property of the state build alone. */
  private[graft] def retentionFromActivity(act: DataFrame): DataFrame = {
    val coh = act.groupBy(col("user_id"))
      .agg(min(col("epoch_day")).as("cohort_day"))
    act.join(coh, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("epoch_day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Ordered conversion funnel over the event stream: how many users
    * complete signup → view → click → purchase IN TEMPORAL ORDER — each
    * stage's timestamp must strictly follow the earliest completion of
    * the previous stage (the sequenced-funnel semantics, not mere
    * per-type existence).
    *
    * Shape: stage k is one filtered scan aggregated to min-ts-per-user
    * AFTER the stage-(k−1) anchor — a chain of four hash aggregations
    * joined on user_id. Each join is user-count-bounded on both sides
    * and AQE-owned; the per-stage filter pushes `event_type = '…'` into
    * the parquet scan, so each stage reads only its own rows. Counts
    * are exact integers; MIN over the nanos `ts` is engine-exact. */
  def gFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    def firstAfter(stage: String, prev: DataFrame, prevT: String,
        outT: String): DataFrame =
      e.filter(col("event_type") === stage)
        .join(prev.select(col("user_id"), col(prevT)), Seq("user_id"))
        .filter(col("ts") > col(prevT))
        .groupBy(col("user_id")).agg(min(col("ts")).as(outT))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = firstAfter("view", s1, "t1", "t2")
    val s3 = firstAfter("click", s2, "t2", "t3")
    val s4 = firstAfter("purchase", s3, "t3", "t4")
    Seq((1L, "signup", s1), (2L, "view", s2), (3L, "click", s3),
      (4L, "purchase", s4))
      .map { case (i, name, df) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i).as("stage_idx"), lit(name).as("stage"),
            col("n_users"))
      }
      .reduce(_.unionByName(_))
      .orderBy(col("stage_idx"))
  }

  /** sequenceMatch analog — the ClickHouse windowed event-pattern
    * operator (`sequenceMatch('(?1).*(?2).*(?3)')` with a time bound;
    * the reference's engine family exposes it as a first-class
    * aggregate): per purchase, does SOME view → click → purchase chain
    * exist with strictly increasing timestamps and purchase − view ≤
    * `windowNs` (default 24 h — sized to the corpus's per-user event
    * cadence so both the matched and unmatched branches carry rows)?
    *
    * The EXISTS-over-triples semantics collapses to two cascaded
    * conditional running maxima — no self-join: for each row,
    * `best_view` = max view-ts strictly before it; for each purchase,
    * `best_chain` = max over strictly-earlier CLICKS of that click's
    * `best_view`. A chain (v < c < p, v ≥ p − W) exists iff
    * `best_chain(p) ≥ p − W`: any witness (v, c) has
    * best_view(c) ≥ v ≥ p − W, and conversely the witnessing click's
    * latest prior view is itself a valid v. Strict `<` rides on RANGE
    * frames ending at `−1` over the nanos `ts` — value-strict, so
    * equal-timestamp rows never count as "before" (identical to the
    * oracle's `v.ts < c.ts AND c.ts < p.ts`).
    *
    * Scale shape: one scan filtered to the three stage types (pushed
    * predicate), ONE hash shuffle on user_id feeding both window
    * passes and the final per-user aggregation — per-user state, never
    * a per-pair join, so a 100× event volume is a wider shuffle of the
    * same per-key work. All arithmetic is Long nanos; counts exact. */
  def gSequenceMatch(spark: SparkSession, dir: String,
      windowNs: Long = 24L * NanosPerHour): DataFrame = {
    val e = events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
    val before = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, -1)
    e.withColumn("best_view",
        max(when(col("event_type") === "view", col("ts"))).over(before))
      .withColumn("view_before_click",
        when(col("event_type") === "click", col("best_view")))
      .withColumn("best_chain", max(col("view_before_click")).over(before))
      .filter(col("event_type") === "purchase")
      .withColumn("is_match",
        col("best_chain").isNotNull &&
          col("best_chain") >= col("ts") - lit(windowNs))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(when(col("is_match"), lit(1L)).otherwise(lit(0L)))
          .as("n_matches"),
        min(when(col("is_match"), col("ts"))).as("first_match_ts"))
      .orderBy(col("user_id"))
  }

  /** TRIANGLE COUNTING over the user co-occurrence graph — the
    * clustering-structure analytic (and the canonical does-your-join-
    * plan-survive-scale graph kernel). Nodes are users; an edge joins
    * two users seen in the SAME (event_type, 10-minute bucket) at
    * least twice — the repeat-co-occurrence threshold keeps the graph
    * sparse as event volume grows (one shared bucket is noise, two is
    * a relationship; measured: sf0.01 → 188 edges / 4 triangles,
    * sf0.1 → 21k edges / 5.8k triangles — sub-quadratic growth,
    * vs 197M triangles for the unthresholded hourly graph).
    *
    * Algorithm: bipartite projection (self-equi-join on the bucket
    * key, per-bucket user lists bounded by bucket occupancy), then the
    * DEGREE-ORIENTED wedge count (Schank & Wagner 2005; the
    * MapReduce/GraphX standard): orient every edge from its lower
    * (degree, id) endpoint, enumerate directed wedges a→b, b→c, close
    * with a→c. Orientation makes per-node out-degree O(√m), so wedge
    * intermediates are Σ out-deg² = O(m^1.5) instead of Σ deg² — the
    * difference between a skew-safe plan and a hub node exploding the
    * shuffle at 100×. Each triangle is counted exactly once (its
    * orientation-minimal vertex is the unique wedge apex). The oracle
    * counts the same triangles via id-ordered edges — orientation
    * choice cannot change the set. Output: per-user membership counts
    * (each triangle credits all three corners). All-integer. */
  def gUserTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(spark, dir)
      .select(col("user_id"), col("n_triangles"))
      .orderBy(col("user_id"))

  /** The repeat-co-occurrence user graph, read from the MAINTAINED
    * edge MV ([[CoOccurrenceMv]]; VERDICT r11/r12 #2): built once per
    * session+dir, then every graph operator (triangles, clustering,
    * PageRank, BFS) is a read over the O(edges) table instead of its
    * own full event-log shuffle. */
  private def coEdges(spark: SparkSession, dir: String): DataFrame =
    CoOccurrenceMv.edges(spark, dir)

  /** CONNECTED COMPONENTS of the co-occurrence graph — the community
    * skeleton every interaction-graph analysis starts from (which user
    * clusters exist at all, before ranking/centrality inside them), and
    * the fifth consumer of the maintained edge MV. The component body
    * is THE shared implementation
    * ([[graft.llm.Dedup.minLabelComponents]] — min-label propagation
    * with pointer doubling, exact decimal-sum convergence, loud
    * non-convergence), so the dedup-group and graph-component semantics
    * cannot drift; vertices are exactly the edge endpoints (isolated
    * users have no component, matching the recursive-closure oracle).
    * Scale: O(edges) joins per round, O(log n) rounds — the same story
    * as `d_dup_groups`. */
  def gComponents(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.minLabelComponents(
      coEdges(spark, dir)
        .select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("user_id"), col("group_id"))
      .orderBy(col("user_id"))

  /** The shared co-occurrence-graph triangle pipeline: per-user degree
    * and triangle membership counts ([[gUserTriangles]] projects the
    * counts; [[gClusteringCoeff]] derives the coefficient). */
  private def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triangleCountsFromEdges(coEdges(spark, dir))

  /** [[triangleCounts]] over ANY (u, v) edge relation — shared with the
    * streamed edge MV's read path. */
  private[graft] def triangleCountsFromEdges(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient from lower (degree, id); u < v already, so ties keep u→v.
    // Persisted: the wedge+closure join reads this relation three times.
    val oriented = QueryCaches.persistTracked(edges
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("src"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("dst")))
    val tri = oriented.as("x")
      .join(oriented.as("y"), col("x.dst") === col("y.src"))
      .join(oriented.as("z"),
        col("z.src") === col("x.src") && col("z.dst") === col("y.dst"))
      .select(col("x.src").as("a"), col("x.dst").as("b"),
        col("y.dst").as("c"))
    val triPerUser = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("user_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_triangles"))
    // every triangle member has deg >= 2, so the left join keeps all
    deg.select(col("n").as("user_id"), col("deg"))
      .join(triPerUser, Seq("user_id"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .filter(col("n_triangles") > 0)
  }

  /** LOCAL CLUSTERING COEFFICIENT per user — how tightly a node's
    * neighborhood closes into triangles: c(u) = 2·T(u) / (deg(u)·
    * (deg(u)−1)), the standard transitivity measure over the same
    * repeat-co-occurrence graph as [[gUserTriangles]] (one extra
    * degree join over the shared pipeline, no new shuffle over raw
    * events). Reported only where a triangle exists (deg ≥ 2 by
    * construction there), with the wedge count 2-bounded exact:
    * `n_wedges = deg·(deg−1)/2` in pure integer arithmetic and the
    * coefficient as ONE double division of two exact Longs — the
    * cross-engine float discipline every ratio in this repo follows. */
  def gClusteringCoeff(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(spark, dir)
      .withColumn("n_wedges", expr("(deg * (deg - 1)) div 2"))
      .withColumn("clustering",
        col("n_triangles").cast("double") /
          col("n_wedges").cast("double"))
      .select(col("user_id"), col("deg"), col("n_triangles"),
        col("n_wedges"), col("clustering"))
      .orderBy(col("user_id"))

  /** PAGERANK — 3 damped power iterations (d = 0.85) over the
    * undirected repeat-co-occurrence graph, INTEGER-EXACT: ranks ride
    * floor-scaled (start 10⁹ per node) and each neighbor contribution
    * is `(17·pr) div (20·deg)` — the exact rational 0.85·pr/deg
    * floored identically in both engines, so three unrolled iterations
    * replay bit-for-bit in the oracle's chained CTEs (the same
    * fixed-iteration discipline as the k-means Lloyd and BPE trainers;
    * a convergence loop would be driver-controlled the same way).
    *
    * Scale shape: each iteration is ONE hash equi-join of the directed
    * edge list against the rank relation plus one aggregation — the
    * sparse mat-vec product ([[graft.llm.Dedup.dWalkCounts]]'s shape),
    * never an adjacency matrix; ranks stay bounded by N·10⁹ so the
    * int64 headroom holds through ~10⁵-node scaled products (decimal38
    * past that). */
  def gPageRank(spark: SparkSession, dir: String,
      iters: Int = 3): DataFrame =
    pageRankFromEdges(coEdges(spark, dir), iters)

  /** [[gPageRank]] over ANY (u, v) edge relation — shared with the
    * streamed edge MV ([[graft.streaming.StreamingGraph]]), so the
    * batch query and the streaming twin run ONE iteration body. */
  private[graft] def pageRankFromEdges(edges: DataFrame,
      iters: Int = 3): DataFrame = {
    val directed = QueryCaches.persistTracked(
      edges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(edges.select(col("v").as("src"), col("u").as("dst"))))
    val deg = directed.groupBy(col("src").as("n"))
      .agg(count(lit(1)).as("deg"))
    var pr = QueryCaches.persistTracked(
      deg.withColumn("pr", lit(1000000000L)))
    (1 to iters).foreach { _ =>
      val contrib = directed
        .join(pr.select(col("n").as("src"), col("deg").as("sdeg"),
          col("pr").as("spr")), Seq("src"))
        .select(col("dst").as("n"),
          expr("(17L * spr) div (20L * sdeg)").as("c"))
        .groupBy(col("n")).agg(sum(col("c")).as("inflow"))
      pr = QueryCaches.persistTracked(
        pr.select(col("n"), col("deg"))
          .join(contrib, Seq("n"), "left")
          .withColumn("pr",
            lit(150000000L) + coalesce(col("inflow"), lit(0L)))
          .select(col("n"), col("deg"), col("pr")))
    }
    pr.select(col("n").as("user_id"), col("deg"), col("pr"))
      .orderBy(col("user_id"))
  }

  /** LAST-TOUCH ATTRIBUTION — each purchase is credited to the user's
    * most recent non-purchase event (the "channel") within a 7-day
    * lookback; purchases with no touch in the window credit `direct`.
    * The marketing-attribution aggregate of the event-analytics family
    * (ClickHouse ships it as windowed argMax over the visit log).
    *
    * Determinism under timestamp ties: the "latest" touch is the MAX of
    * `struct(ts, event_id, type)` — lexicographic, and event_id is
    * unique, so two touches at the same nanosecond cannot order-flake
    * (the oracle's `ORDER BY ts DESC, event_id DESC` picks the same
    * row). Strictness and the lookback ride ONE value-based RANGE
    * frame `[−7 d, −1 ns]` over Long nanos.
    *
    * Scale shape: one hash shuffle on user_id feeding the window, then
    * a channel-bounded aggregation; revenue sums go DECIMAL → double
    * at the edge (the dsum discipline). Never a purchases×touches
    * join. */
  def gAttribution(spark: SparkSession, dir: String,
      lookbackNs: Long = 7L * NanosPerDay): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(-lookbackNs, -1)
    events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("value"),
        col("event_id"))
      .withColumn("touch",
        max(when(col("event_type") =!= "purchase",
          struct(col("ts"), col("event_id"), col("event_type").as("ch"))))
          .over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel", coalesce(col("touch.ch"), lit("direct")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        dsum(col("value"), 2).as("attributed_value"))
      .orderBy(col("channel"))
  }

  /** DAU / WAU — daily and trailing-7-day distinct active users, the
    * product-analytics staple whose trailing window is NOT additive
    * (distinct users don't sum across days), so the rolling count is
    * computed EXACTLY by fanning each (user, day) activity fact out to
    * the ≤7 trailing days it supports and counting distinct users per
    * target day — a bounded ×7 row multiplication instead of a
    * per-day re-scan or an approximate sketch. The day grid densifies
    * [min, max] so quiet days report dau = 0 with their true trailing
    * wau.
    *
    * Scale shape: one distinct-ing aggregation to the (user, day)
    * grain, the 7× explode, one hash count-distinct per day — every
    * relation day- or user-day-bounded; the grid is a day-count-sized
    * `sequence` explode. All integer. */
  def wActiveUsers(spark: SparkSession, dir: String): DataFrame =
    activeUsersFromFacts(QueryCaches.persistTracked(events(spark, dir)
      .select(col("user_id"), expr(s"ts DIV ${NanosPerDay}L").as("epoch_day"))
      .distinct()))

  /** The DAU/WAU computation over any distinct (user_id, epoch_day)
    * activity relation — shared by the batch query and the streaming
    * activity-MV twin (the same fact set
    * [[graft.streaming.StreamingRetention]] maintains). */
  private[graft] def activeUsersFromFacts(facts: DataFrame): DataFrame = {
    val bounds = facts.agg(min(col("epoch_day")).as("lo"),
      max(col("epoch_day")).as("hi"))
    val grid = bounds.select(explode(
      expr("sequence(lo, hi)")).as("epoch_day"))
    val dau = facts.groupBy(col("epoch_day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = facts
      .select(col("user_id"),
        explode(expr("sequence(epoch_day, epoch_day + 6)")).as("epoch_day"))
      .groupBy(col("epoch_day"))
      .agg(countDistinct(col("user_id")).as("wau7"))
    grid.join(dau, Seq("epoch_day"), "left")
      .join(wau, Seq("epoch_day"), "left")
      .select(col("epoch_day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau7"), lit(0L)).as("wau7"))
      .orderBy(col("epoch_day"))
  }

  /** COHORT LTV — cumulative revenue per acquisition cohort: users
    * group by first-active day, purchase revenue lands at (cohort,
    * day-offset) cells, and lifetime value accumulates along each
    * cohort's offset axis — the revenue twin of
    * [[gRetentionCohorts]]'s count matrix.
    *
    * The money path stays DECIMAL through BOTH the cell aggregation
    * and the cumulative window (decimal addition is order-free where
    * double summation is not) and casts to double only at the output
    * edge — the [[wRolling7d]] discipline. Windows partition by
    * cohort and run over the (cohorts × offsets)-bounded cell grid,
    * never raw events. */
  def wCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = QueryCaches.persistTracked(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr(s"ts DIV ${NanosPerDay}L").as("epoch_day")))
    val cohort = e.groupBy(col("user_id"))
      .agg(min(col("epoch_day")).as("cohort_day"))
    val cells = e.filter(col("event_type") === "purchase")
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("epoch_day") - col("cohort_day")).as("day_offset"))
      .agg(sum(col("value").cast(DecimalType(28, 2))).as("rev_dec"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_dec", sum(col("rev_dec")).over(w))
      .select(col("cohort_day"), col("day_offset"),
        col("rev_dec").cast("double").as("revenue"),
        col("cum_dec").cast("double").as("cum_revenue"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** FUNNEL STEPS — the ClickHouse `windowFunnel` analog: each user's
    * deepest view → click → purchase chain with the WHOLE chain inside
    * a 24 h window of its first step (last − first ≤ W), reported as a
    * per-level histogram with reach and step-conversion rates.
    *
    * Chain search without a triple join (the [[gSequenceMatch]]
    * cascaded-running-maxima discipline): `lv` = latest strictly-prior
    * view per row, `vmax` = the best chain START reachable through any
    * strictly-prior click (each click proposes its own latest-prior
    * view — the latest start is always the best one for any later
    * purchase, so the running max loses nothing). A click is an L2 end
    * iff lv ≥ ts − W; a purchase an L3 end iff vmax ≥ ts − W.
    * Strictness rides on value-based RANGE-to-(−1) frames, so
    * same-timestamp events can never order-flake, and the oracle is
    * the literal EXISTS triple join.
    *
    * Scale shape: two user-partitioned window passes over the event
    * log + one per-user aggregate; the histogram analytics (desc
    * cumulative reach, lag conversion) run on the 4-row dense level
    * grid — the only unpartitioned windows, level-count-bounded.
    * Conversions are ONE double division of exact counts, guarded
    * identically in both engines. */
  def wFunnelSteps(spark: SparkSession, dir: String,
      windowNs: Long = NanosPerDay): DataFrame =
    funnelFromEvents(spark,
      events(spark, dir).select(col("user_id"), col("ts"),
        col("event_type")), windowNs)

  /** The funnel computation over any (user_id, ts, event_type) event
    * relation — exposed for the randomized property suite. */
  private[graft] def funnelFromEvents(spark: SparkSession, e: DataFrame,
      windowNs: Long): DataFrame = {
    val wPrior = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val lvl = e
      .withColumn("lv",
        max(when(col("event_type") === "view", col("ts"))).over(wPrior))
      .withColumn("vc",
        when(col("event_type") === "click", col("lv")))
      .withColumn("vmax", max(col("vc")).over(wPrior))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("f1"),
        max(when(col("event_type") === "click" &&
          col("lv") >= col("ts") - windowNs, 1L).otherwise(0L)).as("f2"),
        max(when(col("event_type") === "purchase" &&
          col("vmax") >= col("ts") - windowNs, 1L).otherwise(0L)).as("f3"))
      .withColumn("level",
        when(col("f3") === 1, 3L).when(col("f2") === 1, 2L)
          .when(col("f1") === 1, 1L).otherwise(0L))
    val grid = spark.range(1)
      .select(explode(expr("sequence(0L, 3L)")).as("level"))
    val h = lvl.groupBy(col("level")).agg(count(lit(1)).as("n"))
    val wDesc = Window.orderBy(col("level").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("level"))
    grid.join(h, Seq("level"), "left")
      .withColumn("n_users", coalesce(col("n"), lit(0L)))
      .withColumn("n_reached", sum(col("n_users")).over(wDesc))
      .withColumn("prev", lag(col("n_reached"), 1).over(wAsc))
      .withColumn("conv_from_prev",
        when(col("level") > 0 && col("prev") > 0,
          col("n_reached").cast("double") / col("prev").cast("double")))
      .select(col("level"), col("n_users"), col("n_reached"),
        col("conv_from_prev"))
      .orderBy(col("level"))
  }

  /** TOMBSTONE DELETES through the PK-FINAL sink — the ClickHouse
    * `ReplacingMergeTree(ver, is_deleted)` DELETE path: a delete is an
    * ordinary INSERT carrying `is_deleted = 1`; FINAL keeps the newest
    * version per key and the read hides flagged keys
    * ([[graft.sink.ParquetSink.readFinalWithDeletes]]); a later
    * re-insert RESURRECTS the key. The scenario stacks the hazards:
    * full load (seq 1), a delete wave for id ≡ 0 (mod 7) (seq 2),
    * the delete wave REPLAYED (same seq — at-least-once redelivery),
    * a background compaction (tombstones must survive the merge as the
    * latest version), then a resurrection wave for id ≡ 0 (mod 21)
    * (seq 3). The read must equal the closed-form alive set — the
    * DuckDB oracle — with every replay invisible. */
  def kTombstoneDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.sink.ParquetSink
    import graft.validate.Validation.h60
    // Fresh per-invocation tmpdir (ADVICE r11): the builder IS the side
    // effect (also on PlanAuditSpec's exclusion list) — a fixed path
    // would race concurrent gate runs and a plan sweep over the
    // declared-query map would silently re-run the whole sink scenario.
    val path = java.nio.file.Files
      .createTempDirectory("graft_sink_tombstone_").toAbsolutePath.toString
    // one parquet scan for all four write waves (VERDICT r12 #8): the
    // load/delete/replay/resurrect frames previously each re-scanned
    // the events table; the narrow projection checkpoints once and the
    // waves slice it. Measured honestly at sf0.1: warm wall time is
    // UNCHANGED (~1.9-2.0 s) — write/compact orchestration dominates —
    // but at fact-table scale four scans become one, so the shape is
    // kept.
    val e = events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .withColumn("block_height", pmod(col("event_id"), lit(100)))
      .localCheckpoint()
    val load = e.withColumn("is_deleted", lit(0L))
    val deletes = e.filter(pmod(col("event_id"), lit(7)) === 0)
      .withColumn("is_deleted", lit(1L))
    val resurrect = e.filter(pmod(col("event_id"), lit(21)) === 0)
      .withColumn("is_deleted", lit(0L))
    ParquetSink.writeBatch(load, path, 1L, Seq("event_id"))
    ParquetSink.writeBatch(deletes, path, 2L, Seq("event_id"))
    ParquetSink.writeBatch(deletes, path, 2L, Seq("event_id")) // replay
    ParquetSink.compact(spark, path, Seq("event_id"))
    ParquetSink.writeBatch(resurrect, path, 3L, Seq("event_id"))
    // Materialize the 1-row aggregate eagerly (localCheckpoint), then
    // delete the scenario directory: without this, repeated gate/bench
    // runs accumulate a full sink copy per invocation in tmp forever
    // (ADVICE r12). The caller gets a frame backed by checkpoint
    // blocks, not the deleted files.
    val out = ParquetSink.readFinalWithDeletes(
      spark.read.parquet(path), Seq("event_id"))
      .agg(
        count(lit(1)).as("n_alive"),
        bit_xor(h60(col("event_id").cast("string"))).as("alive_fp"),
        dsum(col("value"), 2).as("sum_value"))
      .localCheckpoint()
    ParquetSink.delete(new java.io.File(path))
    out
  }

  /** EVENT-TYPE TRANSITION MATRIX — the behavior-flow report: counts
    * and probabilities of consecutive (from → to) event-type steps per
    * user (the Markov/Sankey aggregate). Successor order is
    * (ts, event_id) — total even under timestamp ties, so `lead` is
    * deterministic and the oracle's identical window replays it. The
    * probability row-normalizes each `from` type with ONE double
    * division of two exact counts.
    *
    * Scale shape: one user-keyed window (lag/lead family) over the
    * event log, then a (types²)-bounded aggregation — the from-type
    * totals join is broadcast-sized by construction. */
  def gEventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_steps"))
    val totals = steps.groupBy(col("from_type"))
      .agg(sum(col("n_steps")).as("from_total"))
    steps.join(broadcast(totals), Seq("from_type"))
      .withColumn("p_step",
        col("n_steps").cast("double") / col("from_total").cast("double"))
      .select(col("from_type"), col("to_type"), col("n_steps"),
        col("from_total"), col("p_step"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** MULTI-SOURCE BFS DISTANCE — min hop count from a deterministic
    * seed set (user_id ≡ 0 mod 10) over the repeat-co-occurrence graph,
    * capped at 3 hops: the "blast radius" report graph curation runs
    * before seeding label propagation or contamination spread from a
    * flagged account set. The iterative LABEL analytic's third sibling:
    * [[graft.llm.Dedup.dWalkCounts]] counts walks, this measures
    * DISTANCE — per round, the frontier is every reached node, and
    * min() resolves re-discoveries to the earliest hop, so the result
    * is exact min-distance (a node found at hop 3 that was already at
    * hop 1 keeps 1).
    *
    * Scale shape: `hops` unrolled sparse frontier expansions — each
    * one hash equi-join edges ⋈ reached + a distinct + a min-combine;
    * reached never exceeds the vertex set; all integers. The DuckDB
    * oracle replays the same 3 unrolled neighbor CTEs and min-unions
    * the labeled layers. */
  def gBfsDistance(spark: SparkSession, dir: String,
      hops: Int = 3): DataFrame =
    bfsFromEdges(coEdges(spark, dir), hops)

  /** [[gBfsDistance]] over ANY (u, v) edge relation — shared with the
    * streamed edge MV ([[graft.streaming.StreamingGraph]]). */
  private[graft] def bfsFromEdges(edges: DataFrame,
      hops: Int = 3): DataFrame = {
    val directed = QueryCaches.persistTracked(
      edges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(edges.select(col("v").as("src"), col("u").as("dst"))))
    var dist = QueryCaches.persistTracked(
      directed.select(col("src").as("n")).distinct()
        .filter(pmod(col("n"), lit(10)) === 0)
        .withColumn("dist", lit(0L)))
    (1 to hops).foreach { h =>
      val next = directed
        .join(dist.select(col("n").as("src")), Seq("src"))
        .select(col("dst").as("n")).distinct()
        .withColumn("dist", lit(h.toLong))
      dist = QueryCaches.persistTracked(
        dist.unionByName(next)
          .groupBy(col("n")).agg(min(col("dist")).as("dist")))
    }
    dist.select(col("n").as("user_id"), col("dist"))
      .orderBy(col("user_id"))
  }

  /** MAD ANOMALY detection — the ROBUST twin of [[wAnomalyZscore]]:
    * days whose event count deviates from the type's MEDIAN by more
    * than 3× the median absolute deviation. The z-score test's mean
    * and variance are themselves dragged by the outliers it hunts; the
    * median/MAD pair is outlier-resistant (breakdown point 50%) — the
    * standard robust tripwire. ENTIRELY integer: both medians are
    * nearest-rank (ceil(n/2)-th smallest) over integer day counts, the
    * deviations are integer |count − median|, and the 3×MAD comparison
    * is exact — no doubles anywhere, so cross-engine questions never
    * arise.
    *
    * Scale shape: one hash-partitioned daily aggregation, then both
    * median extractions run the histogram discipline over DISTINCT
    * count values per type (value-grid-bounded windows), each joined
    * back as a type-bounded broadcast. */
  def wAnomalyMad(spark: SparkSession, dir: String): DataFrame =
    madFromDaily(events(spark, dir)
      .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("day_count")))

  /** The median/MAD detector over any (event_type, epoch_day,
    * day_count) grid — THE shared read for the batch query and the
    * streamed summing-MV twin ([[graft.streaming.StreamingAnomaly]]),
    * mirroring the [[anomalyFromDaily]] sharing contract. */
  private[graft] def madFromDaily(daily0: DataFrame): DataFrame = {
    val daily = QueryCaches.persistTracked(daily0)
    // nearest-rank median of an integer column per event type
    def medianOf(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val hist = df.groupBy(col("event_type"), col(valueCol).as("v"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n",
          sum(col("c")).over(Window.partitionBy(col("event_type"))))
        .filter(col("cum") >=
          ceil(lit(0.5) * col("n").cast("double")).cast("long"))
        .groupBy(col("event_type")).agg(min(col("v")).as(out))
    }
    val dev = QueryCaches.persistTracked(
      daily.join(broadcast(medianOf(daily, "day_count", "med_count")),
          Seq("event_type"))
        .withColumn("abs_dev", abs(col("day_count") - col("med_count"))))
    dev.join(broadcast(medianOf(dev, "abs_dev", "mad")),
        Seq("event_type"))
      .filter(col("abs_dev") > lit(3L) * col("mad"))
      .withColumn("is_high", col("day_count") > col("med_count"))
      .select(col("event_type"), col("epoch_day"), col("day_count"),
        col("med_count"), col("mad"), col("is_high"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** RFM SEGMENTATION — the classic customer-value grid: per purchasing
    * user, Recency (days since last purchase, relative to the corpus's
    * latest purchase), Frequency (purchase count) and Monetary (exact
    * DECIMAL(28,2) revenue), each scored into quartiles, then the
    * (r, f, m) segment census. Scores are VALUE-BASED, not NTILE: a
    * score is 1 + #(quartile boundaries strictly below the value),
    * boundaries being the nearest-rank p ∈ {.25, .5, .75} values — the
    * [[wValueDeciles]] discipline, so ties always land in the same
    * bucket in any engine and the oracle replays it exactly. All three
    * metrics are ascending (r_score 1 = most recent quartile, f/m_score
    * 1 = lowest-activity quartile).
    *
    * Scale shape: one purchase-filtered groupBy(user) aggregation, then
    * all quartile machinery runs on the USER-grain relation: each
    * boundary set is a cumulative window over the metric's DISTINCT
    * values (grid-bounded), shipped back as one broadcast 3-element
    * array; the final census is a (4³)-bounded aggregation. The corpus
    * max-timestamp rides in as a scalar-total broadcast join. */
  def wRfm(spark: SparkSession, dir: String): DataFrame =
    rfmFromPurchases(events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts DIV 1000L").as("ts_us"),
        col("value")))

  /** [[wRfm]] from any (user_id, ts_us, value) purchase relation — the
    * shared read the streaming twin answers through (quartile scores
    * are NOT additive: one late purchase can move every boundary, so
    * the stream maintains only the append-only purchase log and this
    * derivation runs at read — the SCD2/funnel twin contract). */
  def rfmFromPurchases(p: DataFrame): DataFrame = {
    // ONE events scan: the corpus max-timestamp is max(last_us) over
    // the cached user-grain aggregates, not a second scan of p
    val perUser = QueryCaches.persistTracked(
      p.groupBy(col("user_id"))
        .agg(max(col("ts_us")).as("last_us"),
          count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(28,2)")).as("monetary")))
    val users = QueryCaches.persistTracked(
      perUser
        .crossJoin(broadcast(perUser.agg(max(col("last_us")).as("max_us"))))
        .withColumn("recency_days",
          expr("(max_us - last_us) DIV 86400000000L")))
    // nearest-rank quartile boundaries for ALL THREE metrics in ONE
    // job: unpivot to (metric, v) — integer metrics ride as exact
    // DECIMAL(38,2) so one value column serves all three without any
    // rounding (an integer cast to scale-2 decimal compares exactly;
    // monetary is already DECIMAL(38,2)) — histogram, ONE cumulative
    // window partitioned by metric (so the window never goes global),
    // per-metric totals via a partition window, then the nine
    // boundaries fold to a single broadcast map row. The first draft
    // computed each metric's boundaries as its own crossJoin'd
    // aggregate — 3× the tiny jobs and three single-partition windows;
    // measured warm 3.2 s → this shape ~1 s at sf0.1.
    val unpivoted = users.select(explode(map(
      lit("r"), col("recency_days").cast("decimal(38,2)"),
      lit("f"), col("n_purchases").cast("decimal(38,2)"),
      lit("m"), col("monetary").cast("decimal(38,2)")))
      .as(Seq("metric", "v")))
    val hist = unpivoted.groupBy(col("metric"), col("v"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("metric")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("metric"))
    val bounds = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wTot))
      .withColumn("p", explode(array(lit(0.25), lit(0.5), lit(0.75))))
      .filter(col("cum") >=
        ceil(col("p") * col("n").cast("double")).cast("long"))
      .groupBy(col("metric"), col("p")).agg(min(col("v")).as("b"))
      .groupBy(col("metric"))
      .agg(sort_array(collect_list(col("b"))).as("bs"))
      .agg(map_from_entries(
        collect_list(struct(col("metric"), col("bs")))).as("bm"))
    def score(metric: String,
        valueExpr: String): org.apache.spark.sql.Column =
      (lit(1) + size(expr(
        s"filter(bm['$metric'], x -> x < $valueExpr)"))).cast("long")
    users.crossJoin(broadcast(bounds))
      .withColumn("r_score",
        score("r", "CAST(recency_days AS DECIMAL(38,2))"))
      .withColumn("f_score",
        score("f", "CAST(n_purchases AS DECIMAL(38,2))"))
      .withColumn("m_score", score("m", "monetary"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary")).cast("double").as("sum_monetary"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }
}
