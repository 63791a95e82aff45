package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window

import graft.chain.Chain.table
import graft.chain.ChainSql.withCtes
import graft.functions.BottomKAgg

/** Event-stream analytics over the `events` fixture: JSON extraction,
  * tumbling time-window aggregation, and gap-based sessionization — the
  * batch faces of the streaming semantics in SURVEY.md §2.9.
  *
  * Time policy: everything is reduced to epoch-second BIGINTs before any
  * comparison or arithmetic so both engines agree regardless of their
  * internal timestamp precision (parquet ns → Spark µs, DuckDB µs).
  */
object EventQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Session gap: a pause > 30 min starts a new session. */
  private val GapSeconds = 1800L

  /** Bounded-funnel conversion window: 7 days, in seconds. */
  private val FunnelWindow = 7L * 86400L

  /** events.ts has shipped at different parquet precisions across fixture
    * generations (TIMESTAMP(NANOS) → nanos LONG under
    * `spark.sql.legacy.parquet.nanosAsLong=true`; TIMESTAMP(MICROS) →
    * TIMESTAMP_NTZ). [[graft.functions.TimeColumns.epochSeconds]] branches
    * on the OBSERVED type so every downstream query sees the same
    * epoch-second `ets` regardless — session conf is never mutated here:
    * a query builder must not side-effect the session. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    raw.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type"),
      col("value"),
      col("props"),
      graft.functions.TimeColumns.epochSeconds(raw).as("ets"))
      .withColumn("tsc", timestamp_seconds(col("ets")))
  }

  /** Tumbling 1-hour windows per event_type, counts and decimal-exact
    * value sums, over a frame with `tsc`, `event_type` and `value` — the
    * one aggregation `events_window_agg` and the streaming
    * [[graft.streaming.IncrementalIngest.windowedEventAgg]] run. */
  def hourlyWindows(events: DataFrame): DataFrame =
    events.groupBy(window(col("tsc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double")
          .as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("hour_ts"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Native session windows (gap [[GapSeconds]]) per user over a frame
    * with `user_id`, `ets` and `tsc = timestamp_seconds(ets)` — the one
    * aggregation `events_sessionize_native` and the streaming
    * [[graft.streaming.IncrementalIngest.sessionizedEvents]] run. */
  def sessionWindows(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"),
        session_window(col("tsc"), s"$GapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ets")).as("session_start"),
        (max(col("ets")) - min(col("ets"))).as("duration"))
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("duration"))

  val queries: Map[String, Q] = Map(
    // ordered funnel analysis (view → click → purchase): each stage's
    // first hit must be AT/after the previous stage's — the product
    // analytics every event store runs. Three bounded hash-aggs on
    // user_id with stage joins ALL on the same key, so a cluster
    // co-partitions the whole chain; no window over the raw events.
    "events_funnel" -> ((s, dir) => {
      val e = events(s, dir)
      def stage(tpe: String, prev: DataFrame, prevCol: String,
          out: String): DataFrame =
        e.filter(col("event_type") === tpe)
          .join(prev, Seq("user_id"))
          .filter(col("ets") >= col(prevCol))
          .groupBy(col("user_id")).agg(min(col("ets")).as(out))
      val t1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ets")).as("t1"))
      val t2 = stage("click", t1, "t1", "t2")
      val t3 = stage("purchase", t2, "t2", "t3")
      e.select(col("user_id")).distinct()
        .join(t1, Seq("user_id"), "left")
        .join(t2, Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
            .when(col("t1").isNotNull, 1L).otherwise(0L)
            .as("funnel_stage"))
    }),

    // the BOUNDED-WINDOW funnel — each stage must convert within
    // FunnelWindow of the previous stage's first hit (the form product
    // analytics actually reports: "clicked within 7 days of first
    // view"), not merely ever-after. Same co-partitioned staged-join
    // shape as events_funnel; the window is one extra predicate on the
    // stage join, so the plan cost is identical.
    "events_funnel_window" -> ((s, dir) => {
      val e = events(s, dir)
      def stage(tpe: String, prev: DataFrame, prevCol: String,
          out: String): DataFrame =
        e.filter(col("event_type") === tpe)
          .join(prev, Seq("user_id"))
          .filter(col("ets") >= col(prevCol) &&
            col("ets") < col(prevCol) + FunnelWindow)
          .groupBy(col("user_id")).agg(min(col("ets")).as(out))
      val t1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ets")).as("t1"))
      val t2 = stage("click", t1, "t1", "t2")
      val t3 = stage("purchase", t2, "t2", "t3")
      e.select(col("user_id")).distinct()
        .join(t1, Seq("user_id"), "left")
        .join(t2, Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
            .when(col("t1").isNotNull, 1L).otherwise(0L)
            .as("funnel_stage"))
    }),

    // JSON extraction with an explicit schema (from_json → typed struct;
    // props = {"k": N})
    "events_json" -> ((s, dir) =>
      events(s, dir)
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),

    // tumbling 1-hour windows per event_type (Structured-Streaming window
    // semantics run in batch; window.start == date_trunc('hour') for
    // aligned tumbling windows).
    "events_window_agg" -> ((s, dir) => hourlyWindows(events(s, dir))),

    // sliding windows: width 2h, slide 1h — every event lands in two
    // overlapping windows (Structured Streaming window() in batch).
    "events_sliding_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("tsc"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double")
            .as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))),

    // range join: events against an interval dimension on a band
    // predicate (no equi key). The scale-correct plan is broadcasting
    // the small interval side — Spark then runs a broadcast nested-loop
    // with the range condition, never a shuffle of the fact table.
    "range_join_intervals" -> ((s, dir) => {
      val ev = events(s, dir)
      val intervals = ev
        .select((floor(col("ets") / 3600) * 3600).as("w_start")).distinct()
        .filter(floor(col("w_start") / 3600) % 24 === 0)
        .withColumn("w_end", col("w_start") + 7200L)
      ev.join(broadcast(intervals),
        col("ets") >= col("w_start") && col("ets") < col("w_end"))
        .groupBy(col("w_start"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // binned range join — the 100 TB twin of range_join_intervals
    // (SHARED oracle): the broadcast+inequality form above becomes a
    // nested-loop the moment the interval side outgrows a broadcast;
    // here each interval explodes into the hour buckets it covers
    // (constant fanout = interval length / bucket width), events derive
    // their bucket map-side, and the join is a plain EQUI-join on the
    // bucket — hash-joinable, co-partitionable, AQE-skew-splittable —
    // with the exact range predicate applied after. Equivalence to the
    // inequality-join form is part of the correctness gate.
    "range_join_binned" -> ((s, dir) => {
      val ev = events(s, dir)
      val intervals = ev
        .select((floor(col("ets") / 3600) * 3600).as("w_start")).distinct()
        .filter(floor(col("w_start") / 3600) % 24 === 0)
        .withColumn("w_end", col("w_start") + 7200L)
        .withColumn("bucket", explode(sequence(
          floor(col("w_start") / 3600),
          floor((col("w_end") - 1) / 3600))))
      ev.withColumn("bucket", floor(col("ets") / 3600))
        .join(intervals, Seq("bucket"))
        .filter(col("ets") >= col("w_start") && col("ets") < col("w_end"))
        .groupBy(col("w_start"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // gap-based sessionization (lag → new-session flag → running sum):
    // the classic two-window pattern; partitioned by user so it scales
    // with user cardinality, no global ordering anywhere.
    "events_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ets"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("prev", lag(col("ets"), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev").isNull || col("ets") - col("prev") > GapSeconds,
            lit(1L)).otherwise(lit(0L)))
        .withColumn("session_no", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ets")).as("session_start"),
          (max(col("ets")) - min(col("ets"))).as("duration"))
    }),

    // the same sessionization through flatMapGroupsWithState (typed
    // stateful API) — shares the events_sessionize oracle, so the two
    // implementations are proven equivalent by the driver's compare.
    "events_sessionize_stateful" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StatefulSessionize
      val ev = events(s, dir).select("user_id", "event_id", "ets")
        .as[StatefulSessionize.Ev]
      StatefulSessionize.sessionize(ev, GapSeconds).toDF()
    }),

    // the same sessions through Spark's NATIVE session_window operator
    // — the declarative form the streaming engine can merge
    // incrementally. Each event opens [ts, ts+gap) and an event AT the
    // previous session's end still extends it (closed merge boundary,
    // pinned by the oracle: a diff of exactly GapSeconds merges), so
    // gap = GapSeconds agrees with the lag rule "ets − prev >
    // GapSeconds splits" on integer-second timestamps. Session identity
    // is its start time (the ordinal session_no is a window-function
    // artifact that doesn't survive merged-interval semantics); the
    // oracle replays the lag chain and projects the same columns, so
    // the two formulations are proven equivalent by the driver.
    "events_sessionize_native" -> ((s, dir) =>
      sessionWindows(events(s, dir))),

    // user-behavior transition matrix (the Markov-chain feature a
    // sequence model trains on): per user, events in (ets, event_id)
    // order, each consecutive pair counting one prev_type → event_type
    // transition. One lag window partitioned by user — scales with
    // user cardinality, no global order anywhere — one hash-agg, and a
    // types²-sized result; the row probability is a single division of
    // exact integers, so both engines produce the identical double.
    // The per-type total joins back as a broadcast (types² rows).
    "events_markov" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ets"), col("event_id"))
      val tr = events(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy(col("prev_type")).agg(sum(col("n")).as("n_from"))
      tr.join(broadcast(tot), Seq("prev_type"))
        .select(col("prev_type"), col("event_type"), col("n"),
          (col("n").cast("double") / col("n_from")).as("p"))
    }),

    // cohort retention: users grouped by first-activity day, then the
    // classic (cohort_day × age_days → active users) retention triangle.
    // Two hash-aggs on user_id + one on the (cohort, age) pair — the
    // cohort dimension is derived, never a driver-side loop, and at any
    // scale the output is |days|² rows.
    "events_cohort" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), expr("ets div 86400").as("day"))
      val cohort = e.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      e.distinct().join(cohort, Seq("user_id"))
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("age_days"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    }),

    // rolling 7-day active users: each (user, day) activity row lands in
    // the 7 window-days it is visible from (bounded explode), then one
    // distinct-count per window day. The explode factor is the window
    // width — a constant — so the shape is a flat 7× map-side expansion
    // plus one hash-agg, never a sliding self-join over days.
    "events_rolling_dau" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), expr("ets div 86400").as("day")).distinct()
      val maxDay = e.agg(max(col("day")).as("mx"))
      e.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("w_day"))
        .join(broadcast(maxDay), col("w_day") <= col("mx"))
        .groupBy(col("w_day"))
        .agg(countDistinct(col("user_id")).as("active_7d"))
    }),

    // time-series densification + forward fill: per-user hourly activity
    // with every missing hour materialized (count 0) and the value
    // carried forward (LOCF). The dense grid comes from a per-user
    // sequence(min_hr, max_hr) explode — its size is bounded by each
    // user's own activity span, so at cluster scale the explode stays
    // proportional to the output, and the fill windows are partitioned
    // by user (no global ordering). One user subset keeps the checked
    // output bounded; the shape is user-count-parallel regardless.
    "ts_gapfill" -> ((s, dir) => {
      val hourly = events(s, dir)
        .filter(col("user_id") % 10 === 0)
        .select(col("user_id"), expr("ets div 3600").as("hr"),
          col("value"))
        .groupBy(col("user_id"), col("hr"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(12, 2))).as("hr_value"))
      val grid = hourly
        .groupBy(col("user_id"))
        .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("hr"))
      val locf = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("hr_value"), ignoreNulls = true).over(locf)
            .cast("double").as("locf_value"))
    }),

    // freshness-weighted activity score (the feature-store "recency"
    // signal): each event contributes 2^20, halved once per day of age
    // — EXACT integer shift arithmetic (half-life = one day), so the
    // score is bit-identical across engines where a float exp() decay
    // would drift with accumulation order. Reference time is the corpus
    // max timestamp (data-derived, sf-independent); ages cap at 40 days
    // (the weight is 0 long before that; a shift past 62 is undefined).
    // One broadcast 1-row reference + one hash-agg on user_id.
    "events_decay_score" -> ((s, dir) => {
      val e = events(s, dir)
      val ref = e.agg(max(col("ets")).as("ref_ets"))
      e.crossJoin(broadcast(ref))
        .withColumn("age_days", expr("(ref_ets - ets) div 86400"))
        .withColumn("w",
          expr("shiftright(1048576L, cast(least(age_days, 40) as int))"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("w")).as("decay_score"),
          min(col("age_days")).as("last_seen_days"))
    }),

    // SCD TYPE-2 history build: each user's event stream becomes
    // validity intervals [valid_from, valid_to) — the value in force
    // until the next change, open (null) for the current row. ONE
    // window pass PARTITIONED BY USER (the scalable SCD2 shape: a
    // global change log would funnel through one partition; per-key
    // partitioning builds every key's history in parallel), total
    // order (ets, event_id) so same-second events version
    // deterministically. The as-of family reads such intervals;
    // this operator WRITES them.
    "scd2_intervals" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ets"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ets"), col("value"))
        .withColumn("valid_to", lead(col("ets"), 1).over(w))
        .select(col("user_id"), col("event_id"), col("value"),
          col("ets").as("valid_from"), col("valid_to"))
    }),

    // volume-anomaly detection over the hourly series (the pipeline
    // health monitor: a traffic spike or outage hour flags itself):
    // per event type, an hour is anomalous when |x − μ| > 2σ over that
    // type's own hourly distribution — evaluated in the SQUARED form
    // (n·x − S)² > 4·(n·Q − S²) on exact integer count sums, so there
    // is no sqrt, no float mean, and both engines agree bit-for-bit
    // (n = hours, S = Σx, Q = Σx²; counts ≤ ~10⁶/hour keep the squares
    // far inside int64 — above that, promote to DECIMAL(38,0)). One
    // hourly hash-agg + one per-type stats agg broadcast back.
    "events_anomaly" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          expr("(ets div 3600) * 3600").as("hour_ts"))
        .agg(count(lit(1)).as("x"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("qx"))
      hourly.join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"), col("hour_ts"), col("x").as("n_events"),
          ((col("n") * col("x") - col("sx")) *
            (col("n") * col("x") - col("sx")) >
            lit(4L) * (col("n") * col("qx") - col("sx") * col("sx")))
            .as("is_anomaly"))
    }),

    // mergeable quantile sketch (p50/p90/p99 of `value` per event type)
    // from a DETERMINISTIC hash-priority sample: each row's priority is
    // its 60-bit md5 hash, each group keeps the 256 smallest
    // (priority, value) pairs via the map-side-bounded BottomKAgg
    // — O(k) state per group per mapper however large the group, the
    // same semilattice shape as the KMV sketch, so at 100 TB the
    // per-type sample is parked-tier mergeable and a new batch absorbs
    // without revisiting history. Quantiles are SELECTED from the
    // sorted sample (element at floor((n−1)·q)), never averaged, so the
    // emitted doubles are parquet-read values both engines share
    // bit-for-bit. Rank error is the textbook O(1/√k) of a uniform
    // k-sample; the bottom-k-of-a-set is merge-order-independent, which
    // is what lets DuckDB mirror the exact same sample.
    "events_quantile_sketch" -> ((s, dir) =>
      quantileFromSamples(s, samplePairs(s, events(s, dir)))),

    // incremental maintenance: bottom-k over pairs is the same
    // semilattice morphism as the KMV sketch — bottomK(old ∪ batch) ==
    // bottomK(bottomK(old) ∪ batch) — so the parked per-type sample
    // (≤ k rows) absorbs an arriving batch without revisiting the old
    // corpus. Pre-batch sample rebuilt inline here (a parked tier at
    // 100 TB); SHARES the full-recompute oracle, so maintained ==
    // recomputed is part of the correctness gate.
    "events_quantile_sketch_incremental" -> ((s, dir) => {
      val e = events(s, dir)
      val batchSel = col("event_id") % 10 === 0
      val oldSample = samplePairs(s, e.filter(!batchSel))
      val batchRows = samplePairs(s, e.filter(batchSel))
      quantileFromSamples(s, oldSample.unionByName(batchRows))
    }))

  /** Per-type bottom-256 (priority, value) sample rows of an
    * events-shaped frame (priority = 60-bit md5 of event_id) — the
    * ONE sampling definition shared by the batch query, the
    * incremental twin, and the streaming per-epoch ingest
    * ([[graft.streaming.IncrementalIngest.quantileSampleIngest]]), so
    * all three provably sample identically. Output ≤ k rows per type:
    * (event_type, p, v). */
  private[graft] def samplePairs(s: SparkSession, e: DataFrame)
      : DataFrame = {
    import s.implicits._
    e.filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 15)," +
          " 16, 10) AS BIGINT)").as("p"),
        col("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1).mapValues(r => samplePair(r._2, r._3))
      .agg(new BottomKAgg[(Long, Double)](256).toColumn.name("sk"))
      .toDF("event_type", "sk")
      .select(col("event_type"), explode(col("sk")).as("pair"))
      .select(col("event_type"), col("pair._1").as("p"),
        col("pair._2").as("v"))
  }

  /** One (priority, value) sample element, normalized so JVM pair
    * equality (the sample's distinct set) matches SQL comparison
    * semantics in the oracle engine: -0.0 folds to 0.0 (equal in SQL,
    * unequal under Double.equals), and NaN values are refused (SQL's
    * comparison rules for NaN have no JVM-equality mirror — callers
    * filter them alongside nulls). */
  private[graft] def samplePair(p: Long, v: Double): (Long, Double) = {
    require(!v.isNaN, "NaN value: filter NaN rows before sampling " +
      "(SQL DISTINCT/comparison semantics for NaN diverge from JVM " +
      "equality, so the sample would not be engine-portable)")
    (p, if (v == 0.0) 0.0 else v)
  }

  /** Re-prune a union of sample-row frames to the bottom-256 and SELECT
    * the p50/p90/p99 ranks from the sorted sample — because bottom-k is
    * merge-order-independent, feeding this the union of any partition
    * of the corpus's sample rows (per-epoch, pre/post batch, per
    * partition) yields EXACTLY the one-pass batch answer. */
  private[graft] def quantileFromSamples(s: SparkSession,
      rows: DataFrame): DataFrame = {
    import s.implicits._
    rows.select(col("event_type"), col("p"), col("v"))
      .as[(String, Long, Double)]
      .groupByKey(_._1).mapValues(r => samplePair(r._2, r._3))
      .agg(new BottomKAgg[(Long, Double)](256).toColumn.name("sk"))
      .toDF("event_type", "sk")
      .select(col("event_type"),
        size(col("sk")).cast("long").as("n_sample"),
        expr("array_sort(transform(sk, x -> x._2))").as("vals"))
      .select(col("event_type"), col("n_sample"),
        expr("element_at(vals, CAST((n_sample - 1) * 50 DIV 100 AS INT) + 1)")
          .as("q50"),
        expr("element_at(vals, CAST((n_sample - 1) * 90 DIV 100 AS INT) + 1)")
          .as("q90"),
        expr("element_at(vals, CAST((n_sample - 1) * 99 DIV 100 AS INT) + 1)")
          .as("q99"))
  }

  /** Events CTE `e`: user_id, the `extra` columns and ets, the event
    * time in epoch seconds. */
  private def eventsCte(extra: String*): String =
    s"""e AS (
       |  SELECT CAST(user_id AS BIGINT) AS user_id,${extra.map(" " + _ + ",").mkString}
       |    CAST(date_diff('second', TIMESTAMP '1970-01-01',
       |         CAST(ts AS TIMESTAMP)) AS BIGINT) AS ets
       |  FROM events)""".stripMargin

  private val eventIdCol = "CAST(event_id AS BIGINT) AS event_id"

  /** Distinct (user_id, day) activity `e`, for the cohort and DAU
    * oracles. */
  private val eventDaysCte: String =
    """e AS (
      |  SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
      |    CAST(floor(CAST(date_diff('second', TIMESTAMP '1970-01-01',
      |         CAST(ts AS TIMESTAMP)) AS BIGINT) / 86400) AS BIGINT) AS day
      |  FROM events)""".stripMargin

  /** Shared by the inequality-join and binned-equi-join range queries. */
  private val rangeJoinOracleSql: String = withCtes(eventsCte(),
    """iv AS (
      |  SELECT w_start, w_start + 7200 AS w_end FROM (
      |    SELECT DISTINCT CAST(floor(ets / 3600) AS BIGINT) * 3600 AS w_start
      |    FROM e)
      |  WHERE CAST(floor(w_start / 3600) AS BIGINT) % 24 = 0)""".stripMargin)(
    """SELECT w_start, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM e JOIN iv ON e.ets >= iv.w_start AND e.ets < iv.w_end
      |GROUP BY w_start""".stripMargin)

  /** view → click → purchase funnel stage per user; each stage's first
    * hit at or after the previous one, and within `window` seconds of it
    * when set. */
  private def funnelOracle(window: Option[Long]): String = {
    def within(t: String): String =
      window.fold("")(w => s"\n         AND e.ets < $t.$t + $w")
    withCtes(eventsCte("event_type"),
      """t1 AS (SELECT user_id, min(ets) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id)""".stripMargin,
      s"""t2 AS (SELECT e.user_id, min(e.ets) AS t2
         |       FROM e JOIN t1 ON t1.user_id = e.user_id AND e.ets >= t1.t1${within("t1")}
         |       WHERE e.event_type = 'click' GROUP BY e.user_id)""".stripMargin,
      s"""t3 AS (SELECT e.user_id, min(e.ets) AS t3
         |       FROM e JOIN t2 ON t2.user_id = e.user_id AND e.ets >= t2.t2${within("t2")}
         |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)""".stripMargin)(
      """SELECT u.user_id, t1.t1, t2.t2, t3.t3,
        |  CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
        |            WHEN t2.t2 IS NOT NULL THEN 2
        |            WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS funnel_stage
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN t1 USING (user_id)
        |LEFT JOIN t2 USING (user_id)
        |LEFT JOIN t3 USING (user_id)""".stripMargin)
  }

  /** The 30-minute gap rule: `s` flags each session start, `s2` numbers
    * a user's sessions. */
  private val sessionCtes: Seq[String] = Seq(eventsCte(eventIdCol),
    """s AS (
      |  SELECT user_id, event_id, ets,
      |    CASE WHEN lag(ets) OVER w IS NULL
      |              OR ets - lag(ets) OVER w > 1800
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ets, event_id))""".stripMargin,
    """s2 AS (
      |  SELECT user_id, ets,
      |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ets, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_no
      |  FROM s)""".stripMargin)

  /** The stateful variant shares the window-based oracle verbatim. */
  private val sessionizeOracle: String = withCtes(sessionCtes: _*)(
    """SELECT user_id, session_no, CAST(count(*) AS BIGINT) AS n_events,
      |  min(ets) AS session_start, max(ets) - min(ets) AS duration
      |FROM s2 GROUP BY user_id, session_no""".stripMargin)

  // the exact same deterministic bottom-256 (priority, value) sample
  // — row_number over (p, value) is DuckDB's way of stating "the k
  // smallest pairs"; quantiles selected from the sorted sample list.
  private val quantileOracleSql: String =
    """WITH pri AS (
      |  SELECT DISTINCT event_type,
      |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS p,
      |    value
      |  FROM events WHERE value IS NOT NULL),
      |samp AS (
      |  SELECT event_type, p, value FROM (
      |    SELECT event_type, p, value,
      |      row_number() OVER (PARTITION BY event_type
      |                         ORDER BY p, value) AS rn
      |    FROM pri) t WHERE rn <= 256),
      |lst AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample,
      |    list(value ORDER BY value) AS vals
      |  FROM samp GROUP BY 1)
      |SELECT event_type, n_sample,
      |  vals[CAST((n_sample - 1) * 50 // 100 AS BIGINT) + 1] AS q50,
      |  vals[CAST((n_sample - 1) * 90 // 100 AS BIGINT) + 1] AS q90,
      |  vals[CAST((n_sample - 1) * 99 // 100 AS BIGINT) + 1] AS q99
      |FROM lst""".stripMargin

  val oracles: Map[String, String] = Map(
    "events_funnel_window" -> funnelOracle(Some(FunnelWindow)),
    "events_funnel" -> funnelOracle(None),

    "events_json" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,

    "events_window_agg" ->
      """SELECT
        |  CAST(date_diff('second', TIMESTAMP '1970-01-01',
        |       date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_ts,
        |  event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "events_sliding_window" ->
      """WITH h AS (
        |  SELECT CAST(date_diff('second', TIMESTAMP '1970-01-01',
        |         date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hstart,
        |         event_type, value
        |  FROM events)
        |SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT hstart AS win_start, event_type, value FROM h
        |      UNION ALL
        |      SELECT hstart - 3600, event_type, value FROM h)
        |GROUP BY win_start, event_type""".stripMargin,

    "events_decay_score" -> withCtes(eventsCte(),
      "r AS (SELECT max(ets) AS ref_ets FROM e)",
      """a AS (SELECT user_id, (ref_ets - ets) // 86400 AS age_days
        |      FROM e, r)""".stripMargin)(
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(1048576 >> CAST(least(age_days, 40) AS INT)) AS BIGINT)
        |    AS decay_score,
        |  min(age_days) AS last_seen_days
        |FROM a GROUP BY user_id""".stripMargin),

    "range_join_intervals" -> rangeJoinOracleSql,

    // the binned equi-join rewrite must produce the identical result —
    // one oracle proves the equivalence
    "range_join_binned" -> rangeJoinOracleSql,

    "events_sessionize" -> sessionizeOracle,
    "events_sessionize_stateful" -> sessionizeOracle,

    // identical lag-rule replay, session keyed by start instead of
    // ordinal — equality proves session_window's merged intervals
    // reproduce the gap rule
    "events_sessionize_native" -> withCtes(sessionCtes: _*)(
      """SELECT user_id, min(ets) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  max(ets) - min(ets) AS duration
        |FROM s2 GROUP BY user_id, session_no""".stripMargin),

    // same lag chain; the probability division is exact-integer / exact
    "events_markov" -> withCtes(eventsCte(eventIdCol, "event_type"),
      """tr AS (
        |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT event_type,
        |          lag(event_type) OVER (PARTITION BY user_id
        |            ORDER BY ets, event_id) AS prev_type
        |        FROM e)
        |  WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type)""".stripMargin,
      """tot AS (
        |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM tr GROUP BY prev_type)""".stripMargin)(
      """SELECT tr.prev_type, tr.event_type, tr.n,
        |  CAST(tr.n AS DOUBLE) / tot.n_from AS p
        |FROM tr JOIN tot USING (prev_type)""".stripMargin),

    "events_cohort" -> withCtes(eventDaysCte,
      """cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)""".stripMargin)(
      """SELECT c.cohort_day, e.day - c.cohort_day AS age_days,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM e JOIN cohort c USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    "events_rolling_dau" -> withCtes(eventDaysCte)(
      """SELECT w_day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d
        |FROM (SELECT user_id, unnest(generate_series(day, day + 6)) AS w_day
        |      FROM e)
        |WHERE w_day <= (SELECT max(day) FROM e)
        |GROUP BY w_day""".stripMargin),
    "ts_gapfill" ->
      """WITH e AS (
        |  SELECT CAST(user_id AS BIGINT) AS user_id,
        |    CAST(date_diff('second', TIMESTAMP '1970-01-01',
        |         CAST(ts AS TIMESTAMP)) AS BIGINT) AS ets,
        |    value
        |  FROM events WHERE user_id % 10 = 0),
        |hourly AS (
        |  SELECT user_id, CAST(floor(ets / 3600) AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    sum(CAST(value AS DECIMAL(12,2))) AS hr_value
        |  FROM e GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(lo, hi)) AS hr
        |  FROM (SELECT user_id, min(hr) AS lo, max(hr) AS hi
        |        FROM hourly GROUP BY user_id))
        |SELECT g.user_id, g.hr,
        |  CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events,
        |  CAST(last_value(h.hr_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS locf_value
        |FROM grid g
        |LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hr = g.hr""".stripMargin,

    "scd2_intervals" -> withCtes(eventsCte(eventIdCol, "value"))(
      """SELECT user_id, event_id, value, ets AS valid_from,
        |  lead(ets) OVER (PARTITION BY user_id
        |                  ORDER BY ets, event_id) AS valid_to
        |FROM e""".stripMargin),

    "events_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    (CAST(date_diff('second', TIMESTAMP '1970-01-01',
        |      CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600) * 3600 AS hour_ts,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS qx
        |  FROM hourly GROUP BY 1)
        |SELECT h.event_type, h.hour_ts, h.x AS n_events,
        |  (st.n * h.x - st.sx) * (st.n * h.x - st.sx)
        |    > 4 * (st.n * st.qx - st.sx * st.sx) AS is_anomaly
        |FROM hourly h JOIN st USING (event_type)""".stripMargin,

    "events_quantile_sketch" -> quantileOracleSql,
    // maintained == recomputed is the incremental contract
    "events_quantile_sketch_incremental" -> quantileOracleSql)
}
