package graft.ops

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Time-series operators over the `events` table — the monitoring /
  * feature-engineering layer a feed-analytics engine needs on top of the
  * reference's windowed aggregates (reference analogue: the notebook's
  * per-trip ordered sequences, cells 63902a57/f208d562, which it processes
  * with DuckDB window functions):
  *
  *   - headway / inter-arrival gaps (lag over an event-time window),
  *   - z-score anomaly detection (exact two-pass moments, broadcast join),
  *   - resample + last-observation-carried-forward gap fill.
  *
  * Scale notes: no query here does a global ORDER BY over the fact, and
  * the two full-fact windows (`events_headway`, `window_range`) are
  * CHUNKED: keyed by (event_type, UTC day) with a boundary carry, so
  * window parallelism scales with data volume instead of capping at
  * |event_type| tasks (see each query's comment for the equivalence
  * argument). The anomaly join broadcasts a per-type stats table
  * (|types| rows). The resample spine is |types| × |buckets| rows —
  * generated, not scanned; its LOCF window is per-type over spine rows
  * only, which is bounded by the bucket calendar, not the fact.
  *
  * Gap arithmetic is done in exact integer microseconds (`unix_micros`)
  * and converted to double only at the end, per the [[Num]] convention.
  */
object TimeSeriesOps {

  private val D = Num.D

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ---- headway / inter-arrival analysis ----
  // lag() over (type, ts) — the transit "headway between consecutive
  // vehicles" measure, computed on exact microseconds. The (ts, event_id)
  // ordering tiebreak makes the lag deterministic under equal timestamps.
  //
  // CHUNKED TWO-LEVEL WINDOW: `event_type` has a handful of values, so a
  // plain per-type window caps parallelism at |types| tasks — fine at sf,
  // a single-task sort of the whole fact at 100 TB. Instead the lag runs
  // per (type, UTC day): level 1 computes in-chunk gaps locally after a
  // composite-key shuffle (parallelism scales with data volume), level 2
  // recovers the one gap that crosses each chunk boundary from per-chunk
  // (first, last) summaries — a |types|×|days|-row frame, so ITS per-type
  // window is trivially small. Equal timestamps never span a day
  // boundary, so chunk order is consistent with the global (ts, event_id)
  // order and the gap multiset is identical to the single-window form.

  private val DayUs = 86400L * 1000000L

  private def headway(s: SparkSession, dir: String): DataFrame = {
    val wLoc = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    val chunks = t(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("day", expr(s"us DIV $DayUs"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(wLoc))
      .groupBy("event_type", "day")
      .agg(
        count(col("gap_us")).as("n_loc"),
        sum(col("gap_us")).as("s_loc"),
        max(col("gap_us")).as("m_loc"),
        min(col("us")).as("first_us"),
        max(col("us")).as("last_us"))
    val wChunk = Window.partitionBy("event_type").orderBy("day")
    chunks
      .withColumn("bgap_us", col("first_us") - lag(col("last_us"), 1).over(wChunk))
      .groupBy("event_type")
      .agg(
        (sum(col("n_loc")) + count(col("bgap_us"))).as("n_gaps"),
        // total gap sum is exact-integer (in-chunk sums telescope to
        // last−first); null only when there are no gaps at all, matching
        // the single-window form's sum-of-empty = null
        when(sum(col("n_loc")) + count(col("bgap_us")) > 0,
          (coalesce(sum(col("s_loc")), lit(0L)) + coalesce(sum(col("bgap_us")), lit(0L)))
            .cast("double") /
            (sum(col("n_loc")) + count(col("bgap_us"))) / lit(1000000)).as("avg_gap_s"),
        (greatest(max(col("m_loc")), max(col("bgap_us"))).cast("double") / lit(1000000))
          .as("max_gap_s"))
      .orderBy("event_type")
  }

  private val headwaySql =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_type, count(gap_us) AS n_gaps,
      |  CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1000000 AS avg_gap_s,
      |  CAST(max(gap_us) AS DOUBLE) / 1000000 AS max_gap_s
      |FROM g GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- z-score anomaly detection ----
  // Two passes: exact per-type moments (decimal sums per Num), then a
  // broadcast join back onto the stream to score each event. The stats
  // side is |event_type| rows — broadcast, no second shuffle of the fact
  // table. Moments use the same order-independent decimal-sum formulation
  // as Num.dstddev so the z-scores are bit-identical across engines.

  private def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val dec = col("value").cast(D)
    val st = e.groupBy("event_type").agg(
      count(col("value")).as("n"),
      sum(dec).as("s"),
      sum(dec * dec).as("s2"))
    val mean = col("s").cast("double") / col("n")
    val sd = Num.stddevFromSums(col("n"), col("s"), col("s2"))
    // sd = 0 (constant series) must yield NULL z, not 0/0: NaN orders as
    // the LARGEST double in Spark but is skipped by DuckDB's max — an
    // engine divergence — and ANSI mode could reject the division outright
    val zs = when(sd > 0, (col("value").cast("double") - mean) / sd)
    e.join(broadcast(st), "event_type") // one row per event type (5)
      .select(col("event_type"), zs.as("zs"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(when(abs(col("zs")) > 3, lit(1))).as("n_anom"),
        round(max(abs(col("zs"))), 6).as("max_abs_z"))
      .orderBy("event_type")
  }

  private val anomalyZscoreSql =
    s"""WITH st AS (
       |  SELECT event_type, count(value) AS n,
       |    sum(CAST(value AS DECIMAL(18,2))) AS s,
       |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS s2
       |  FROM events GROUP BY 1),
       |z AS (
       |  SELECT e.event_type,
       |    (CAST(e.value AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n) /
       |      NULLIF(${Num.stddevSql("st.n", "st.s", "st.s2")}, 0) AS zs
       |  FROM events e JOIN st USING (event_type))
       |SELECT event_type, count(*) AS n,
       |  count(CASE WHEN abs(zs) > 3 THEN 1 END) AS n_anom,
       |  round(max(abs(zs)), 6) AS max_abs_z
       |FROM z GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- resample + LOCF gap fill ----
  // 10-minute buckets per type; a generated dense spine (sequence over the
  // observed bucket range) left-joined with the observed aggregates, then
  // last-observation-carried-forward via last(_, ignoreNulls) over a
  // per-type window. Buckets before the first observation stay null by
  // design. `filled` marks spine rows that had no observation.

  private val Step = 600L

  private def bucketCol: org.apache.spark.sql.Column =
    (floor(unix_timestamp(col("ts")) / Step) * Step).as("bucket")

  private def resampleLocf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val b = e.groupBy(col("event_type"), bucketCol)
      .agg(Num.davg(col("value")).as("v"))
    val bounds = b.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
    val spine = e.select(col("event_type")).distinct()
      .crossJoin(bounds) // 1-row bounds: broadcast, no real shuffle
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(Step))).as("bucket"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(b, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        last(col("v"), ignoreNulls = true).over(w).as("v_locf"),
        when(col("v").isNull, lit(1L)).otherwise(lit(0L)).as("filled"))
      .orderBy("event_type", "bucket")
  }

  private val resampleLocfSql =
    s"""WITH b AS (
       |  SELECT event_type,
       |    CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / $Step) AS BIGINT) * $Step AS bucket,
       |    ${Num.davgSql("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM b),
       |spine AS (
       |  SELECT t.event_type, unnest(range(bounds.lo, bounds.hi + $Step, $Step)) AS bucket
       |  FROM (SELECT DISTINCT event_type FROM events) t, bounds)
       |SELECT s.event_type, s.bucket,
       |  last_value(b.v IGNORE NULLS) OVER (PARTITION BY s.event_type ORDER BY s.bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf,
       |  CASE WHEN b.v IS NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS filled
       |FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket
       |ORDER BY s.event_type, s.bucket""".stripMargin

  // ---- semi-structured (JSON) property extraction ----
  // The `props` column is a JSON payload; `from_json` with an explicit
  // schema turns it into a typed struct at scan time (codegen'd
  // JsonToStructs — one parse per row, then ordinary columnar aggs).
  // Prefer this over repeated get_json_object calls, which re-parse the
  // document per extracted field; with many fields or 100 TB of rows the
  // difference is a full extra scan per field.

  private def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    val k = from_json(col("props"), "k BIGINT", Map.empty[String, String])("k")
    t(s, dir, "events")
      .select(col("event_type"), col("props"), k.as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("props").isNull, lit(1))).as("n_null"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("n_distinct_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")
  }

  private val jsonExtractSql =
    """SELECT event_type, count(*) AS n,
      |  count(CASE WHEN props IS NULL THEN 1 END) AS n_null,
      |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(DISTINCT CAST(props->>'k' AS BIGINT)) AS n_distinct_k,
      |  min(CAST(props->>'k' AS BIGINT)) AS min_k,
      |  max(CAST(props->>'k' AS BIGINT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- funnel analysis ----
  // Ordered-step conversion: first view → first click within 24 h of it →
  // first purchase within 24 h of that. Each step is a per-user MIN
  // aggregate joined to the previous step's (1 row per user, shrinking)
  // frame — set algebra over aggregates, no per-user event-sequence
  // buffering, so the heaviest shuffle is one user-keyed agg per step and
  // later steps join ever-smaller frames.

  private def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val h24 = expr("INTERVAL 24 HOURS")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t_view") && col("ts") <= col("t_view") + h24)
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click") && col("ts") <= col("t_click") + h24)
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    val step = (n: String, df: DataFrame) =>
      df.agg(count(lit(1)).as("n_users")).withColumn("step", lit(n))
    step("step1_view", v)
      .unionByName(step("step2_click", c))
      .unionByName(step("step3_purchase", p))
      .select("step", "n_users")
      .orderBy("step")
  }

  private val funnelSql =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |    AND e.ts <= v.t_view + INTERVAL 24 HOUR
      |  GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |    AND e.ts <= c.t_click + INTERVAL 24 HOUR
      |  GROUP BY 1)
      |SELECT 'step1_view' AS step, count(*) AS n_users FROM v
      |UNION ALL SELECT 'step2_click', count(*) FROM c
      |UNION ALL SELECT 'step3_purchase', count(*) FROM p
      |ORDER BY step""".stripMargin

  // ---- cohort retention ----
  // Users grouped by first-seen day; activity counted at day offsets 0–7.
  // Two user-keyed aggregates and one join — the cohort frame is 1 row
  // per user and the activity frame ≤ |users| × |days|, both shuffling on
  // user_id; the output is |cohorts| × 8 rows.

  private val CohortMaxOffset = 7

  private def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val f = e.groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
    val act = e.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    act.join(f, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .filter(col("day_offset") <= CohortMaxOffset)
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        col("day_offset"), col("n_active"))
      .orderBy("cohort", "day_offset")
  }

  private val cohortRetentionSql =
    s"""WITH f AS (
       |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
       |  FROM events GROUP BY 1),
       |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
       |r AS (
       |  SELECT f.cohort_day,
       |    date_diff('day', f.cohort_day, a.d) AS day_offset,
       |    count(DISTINCT a.user_id) AS n_active
       |  FROM act a JOIN f ON a.user_id = f.user_id
       |  GROUP BY 1, 2)
       |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort, day_offset, n_active
       |FROM r WHERE day_offset <= $CohortMaxOffset
       |ORDER BY cohort, day_offset""".stripMargin

  // ---- equi-width histogram ----
  // Global min/max (1-row broadcast) then a fixed-arithmetic bin per row
  // and one hash agg — the two-pass distribution profile. The top edge is
  // clamped into the last bin (max lands on the open boundary).

  private val HistBins = 20

  private def valueHistogram(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val bounds = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    e.crossJoin(broadcast(bounds)) // 1-row min/max
      .select(col("event_type"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(
            floor((col("value") - col("lo")) /
              ((col("hi") - col("lo")) / HistBins)).cast("long"),
            lit(HistBins - 1L))).as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bin")
  }

  private val valueHistogramSql =
    s"""WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
       |b AS (
       |  SELECT event_type,
       |    CASE WHEN bounds.hi = bounds.lo THEN CAST(0 AS BIGINT)
       |         ELSE least(CAST(floor((value - bounds.lo) /
       |           ((bounds.hi - bounds.lo) / $HistBins)) AS BIGINT),
       |           ${HistBins - 1}) END AS bin
       |  FROM events, bounds)
       |SELECT event_type, bin, count(*) AS n
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- time-based RANGE window frames ----
  // A 10-minute moving sum per type: the frame is VALUE-based (all rows
  // within 600 s of the current row's timestamp), not row-count-based —
  // the windowing mode `window_funcs`' ROWS frames can't express. Frames
  // over decimal sums keep the oracle exact; tie rows (equal tsec) are
  // RANGE peers in both engines, so the result is order-independent.
  //
  // CHUNKED TWO-LEVEL WINDOW: like `events_headway`, the window is keyed
  // by (type, UTC day) so parallelism scales with data, not |types|. The
  // frame reaches back ≤ Step s < a day, so a row's frame can only cross
  // into the previous day: each day's trailing Step-second tail is
  // duplicated into the NEXT day's chunk as frame-member-only rows
  // (`own` = false — they aggregate into others' frames but emit no
  // output row). The carried fraction is Step/86400 ≈ 0.7 % of the fact,
  // so the union costs a second (filter-pushed) scan of that sliver, and
  // every frame is provably complete inside its chunk.

  private val DaySec = 86400L

  private def windowRange(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("tsec"),
        col("value").cast(D).as("v"))
      .withColumn("day", expr(s"tsec DIV $DaySec"))
    val carried = e
      .filter(col("tsec") >= (col("day") + 1) * DaySec - Step)
      .withColumn("day", col("day") + 1)
    val w = Window.partitionBy("event_type", "day").orderBy("tsec")
      .rangeBetween(-Step, 0)
    e.withColumn("own", lit(true))
      .unionByName(carried.withColumn("own", lit(false)))
      .select(col("event_type"), col("event_id"), col("own"),
        sum(col("v")).over(w).cast("double").as("moving_sum"),
        count(lit(1)).over(w).as("n_window"))
      .filter(col("own"))
      .select("event_type", "event_id", "moving_sum", "n_window")
      .orderBy("event_type", "event_id")
  }

  private val windowRangeSql =
    s"""WITH e AS (
       |  SELECT event_type, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
       |    CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events)
       |SELECT event_type, event_id,
       |  CAST(sum(v) OVER (PARTITION BY event_type ORDER BY tsec
       |    RANGE BETWEEN $Step PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
       |  count(*) OVER (PARTITION BY event_type ORDER BY tsec
       |    RANGE BETWEEN $Step PRECEDING AND CURRENT ROW) AS n_window
       |FROM e ORDER BY event_type, event_id""".stripMargin

  // ---- exponential moving average (recursive smoothing) ----
  // ema_t = 0.3·v_t + 0.7·ema_{t-1}, seeded with the series' first value —
  // a RECURSIVE per-series fold no SQL window expresses directly. Both
  // engines compute the identical left-to-right fold over the identically
  // ordered value list (ordered aggregation keyed by the (us, event_id)
  // total order), with the same `acc * 0.7 + v * 0.3` op sequence — so
  // the doubles are bit-identical, no rounding needed. Shape: one shuffle
  // keyed by user_id; per-key state is the value array (bounded by events
  // per user — for unbounded series, the chunked-window carry trick from
  // `events_headway` applies: EMA over a chunk is an affine function of
  // the entering state, so chunk folds compose).
  private val EmaAlpha = 0.3
  private val EmaBeta = 0.7 // 1 − α, same literal in both engines

  private def ema(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(col("us")).as("last_us"),
        // array_sort on the struct orders by (us, event_id, …) — the
        // same total order the DuckDB mirror's ORDER BY pins
        array_sort(collect_list(struct(col("us"), col("event_id"),
          col("value")))).as("ps"))
      .withColumn("vs", expr("transform(ps, p -> p.value)"))
      .select(col("user_id"), col("n_events"), col("last_us"),
        expr(s"aggregate(slice(vs, 2, size(vs) - 1), element_at(vs, 1)," +
          s" (acc, v) -> acc * $EmaBeta + v * $EmaAlpha)").as("ema"))
      .orderBy("user_id")

  private val emaSql =
    s"""SELECT user_id, count(*) AS n_events, max(epoch_us(ts)) AS last_us,
       |  list_reduce(list(value ORDER BY ts, event_id),
       |    (acc, v) -> acc * $EmaBeta + v * $EmaAlpha) AS ema
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- Holt double-exponential smoothing (level + trend) ----
  // The one-step-ahead forecaster a metrics pipeline runs where EMA's
  // flat level lags every trend: l' = α·v + (1−α)(l+b),
  // b' = β(l'−l) + (1−β)b, seeded l₁ = v₁, b₁ = v₂−v₁ with updates
  // from t = 2 (the classic Holt initialization — it makes a pure
  // linear ramp an exact fixed point, pinned in the spec), folded in
  // (ts, event_id) order — the events_ema discipline: a per-key
  // ORDERED fold whose float ops run in the identical sequence in both
  // engines, so the doubles match BIT-exactly with no fixed-point
  // needed. α and β are dyadic rationals (exactly representable), and
  // the single-event edge degrades to (level = v, trend = 0). Scale
  // shape: one per-key aggregate, state O(1) per key, no windows.
  private[graft] val HoltA = 0.5   // level gain (1−α = 0.5)
  private[graft] val HoltB = 0.25  // trend gain (1−β = 0.75)

  private def holt(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("us"), col("event_id"),
          col("value")))).as("ps"))
      .withColumn("vs", expr("transform(ps, p -> p.value)"))
      .select(col("user_id"), col("n_events"),
        expr(s"""CASE WHEN size(vs) = 1 THEN
             named_struct('l', element_at(vs, 1), 'b', CAST(0.0 AS DOUBLE))
           ELSE aggregate(slice(vs, 2, greatest(size(vs) - 1, 0)),
             named_struct('l', element_at(vs, 1),
               'b', element_at(vs, 2) - element_at(vs, 1)),
             (acc, v) -> named_struct(
               'l', $HoltA * v + ${1 - HoltA} * (acc.l + acc.b),
               'b', $HoltB * (($HoltA * v + ${1 - HoltA} * (acc.l + acc.b)) - acc.l)
                 + ${1 - HoltB} * acc.b))
           END""").as("st"))
      .select(col("user_id"), col("n_events"),
        col("st.l").as("level"), col("st.b").as("trend"),
        (col("st.l") + col("st.b")).as("forecast"))
      .orderBy("user_id")

  // DuckDB's list_reduce has no seed parameter: the seed pair is
  // PREPENDED and every value wrapped as a same-typed pair whose second
  // slot the lambda ignores (the bpe_train list-wrapping trick). The
  // accumulator is a LIST [l, b], NOT a struct: DuckDB updates a
  // struct_pack accumulator IN PLACE field by field, so a `b :=`
  // expression referencing acc.l would see the already-updated level —
  // measured as a wrong trend from the second fold step on. List
  // construction materializes both elements from the old accumulator
  // before the rebind, matching Spark's named_struct semantics.
  private val holtSql =
    s"""WITH o AS (
       |  SELECT user_id, count(*) AS n_events,
       |    list(value ORDER BY ts, event_id) AS vs
       |  FROM events GROUP BY user_id),
       |st AS (
       |  SELECT user_id, n_events,
       |    CASE WHEN len(vs) = 1
       |      THEN [vs[1], CAST(0.0 AS DOUBLE)]
       |    ELSE list_reduce(
       |      list_prepend([vs[1], vs[2] - vs[1]],
       |        list_transform(vs[2:], v -> [v, CAST(0.0 AS DOUBLE)])),
       |      (acc, x) -> [
       |        $HoltA * x[1] + ${1 - HoltA} * (acc[1] + acc[2]),
       |        $HoltB * (($HoltA * x[1] + ${1 - HoltA} * (acc[1] + acc[2])) - acc[1])
       |          + ${1 - HoltB} * acc[2]])
       |    END AS s
       |  FROM o)
       |SELECT user_id, n_events, s[1] AS level, s[2] AS trend,
       |  s[1] + s[2] AS forecast
       |FROM st ORDER BY user_id""".stripMargin

  // ---- Holt-Winters additive (triple exponential, period m) ----
  // The seasonal member of the smoothing family (Winters 1960):
  //   l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
  //   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
  //   s_t = γ(y_t − (l_{t−1} + b_{t−1})) + (1−γ)s_{t−m}
  // folded in (ts, event_id) order with the events_holt discipline:
  // identical IEEE sequences in both engines, BIT-exact doubles, no
  // fixed point. α, β, γ are dyadic. The accumulator is the flat
  // [l, b, s₁..s_m] vector kept ROTATED — the next season to consume is
  // always slot 3, each step appends its replacement at the end — so no
  // step counter is carried. Classic first-season seed: l₀ = mean of
  // the first min(n, m) values, b₀ = 0, s_i = y_i − l₀ (missing slots
  // 0 when n < m); the fold covers y_{m+1}.. and an n ≤ m series
  // degrades to its seed (both engines' folds return the seed untouched
  // over an empty tail). Scale shape: one per-key ordered aggregate,
  // O(m) state per key, no windows, no joins.
  private[graft] val HwM = 4    // season length
  private[graft] val HwA = 0.5  // level gain
  private[graft] val HwB = 0.25 // trend gain
  private[graft] val HwG = 0.5  // seasonal gain

  private def holtWinters(s: SparkSession, dir: String): DataFrame = {
    val lNew = s"$HwA * (v - element_at(acc, 3)) + ${1 - HwA} * " +
      "(element_at(acc, 1) + element_at(acc, 2))"
    t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("us"), col("event_id"),
          col("value")))).as("ps"))
      .withColumn("vs", expr("transform(ps, p -> p.value)"))
      .withColumn("l0", expr(
        s"""aggregate(slice(vs, 1, least(size(vs), $HwM)),
             CAST(0.0 AS DOUBLE), (a, x) -> a + x)
           / least(size(vs), $HwM)"""))
      .withColumn("st", expr(
        s"""aggregate(slice(vs, ${HwM + 1}, greatest(size(vs) - $HwM, 0)),
             concat(array(l0, CAST(0.0 AS DOUBLE)),
               transform(sequence(1, $HwM), i ->
                 CASE WHEN i <= size(vs) THEN element_at(vs, i) - l0
                      ELSE CAST(0.0 AS DOUBLE) END)),
             (acc, v) -> concat(
               array(
                 $lNew,
                 $HwB * (($lNew) - element_at(acc, 1))
                   + ${1 - HwB} * element_at(acc, 2)),
               slice(acc, 4, ${HwM - 1}),
               array($HwG * (v - (element_at(acc, 1) + element_at(acc, 2)))
                 + ${1 - HwG} * element_at(acc, 3))))"""))
      .select(col("user_id"), col("n_events"),
        expr("element_at(st, 1)").as("level"),
        expr("element_at(st, 2)").as("trend"),
        expr("element_at(st, 3)").as("season_next"),
        expr("element_at(st, 1) + element_at(st, 2) + element_at(st, 3)")
          .as("forecast"))
      .orderBy("user_id")
  }

  // Same list-accumulator discipline as [[holtSql]] (struct_pack updates
  // in place; a list materializes every element from the OLD accumulator
  // before the rebind). Values wrap as singleton lists so the fold's
  // element type matches the accumulator's.
  private val holtWintersSql = {
    val lNew = s"$HwA * (x[1] - acc[3]) + ${1 - HwA} * (acc[1] + acc[2])"
    s"""WITH o AS (
       |  SELECT user_id, count(*) AS n_events,
       |    list(value ORDER BY ts, event_id) AS vs
       |  FROM events GROUP BY user_id),
       |sd AS (
       |  SELECT user_id, n_events, vs,
       |    list_reduce(
       |      list_prepend(CAST(0.0 AS DOUBLE), vs[1:least(len(vs), $HwM)]),
       |      (a, x) -> a + x) / least(len(vs), $HwM) AS l0
       |  FROM o),
       |st AS (
       |  SELECT user_id, n_events,
       |    list_reduce(
       |      list_prepend(
       |        list_concat([l0, CAST(0.0 AS DOUBLE)],
       |          list_transform(range(1, ${HwM + 1}), i ->
       |            CASE WHEN i <= len(vs) THEN vs[i] - l0
       |                 ELSE CAST(0.0 AS DOUBLE) END)),
       |        list_transform(vs[${HwM + 1}:], v -> [v])),
       |      (acc, x) -> list_concat(list_concat(
       |        [$lNew,
       |         $HwB * (($lNew) - acc[1]) + ${1 - HwB} * acc[2]],
       |        acc[4:${HwM + 2}]),
       |        [$HwG * (x[1] - (acc[1] + acc[2])) + ${1 - HwG} * acc[3]]))
       |      AS s
       |  FROM sd)
       |SELECT user_id, n_events, s[1] AS level, s[2] AS trend,
       |  s[3] AS season_next, s[1] + s[2] + s[3] AS forecast
       |FROM st ORDER BY user_id""".stripMargin
  }

  // ---- CUSUM change-point detection (Page 1954, tabular form) ----
  // The drift detector next to the smoothing family: per key, one-sided
  // cumulative sums
  //   S⁺ = max(0, S⁺ + (x − μ − K)),  S⁻ = max(0, S⁻ + (μ − K − x))
  // with the textbook allowance K = σ/2 and decision interval H = 4σ;
  // an alarm fires when either side exceeds H and BOTH sides reset
  // (restart detection — each alarm marks a fresh regime). μ and σ
  // derive from the key's ORDERED value fold (mean and second moment
  // folded over the same (ts, event_id)-sorted list both engines build),
  // so every double — moments, gains, the fold itself — replays the
  // identical IEEE sequence. σ = 0 (constant series) degrades to
  // K = H = 0 with both sums pinned at 0 and `>` never firing: no
  // alarms, no 0/0. Scale shape: one per-key ordered aggregate, O(1)
  // state per step, no joins.
  /** CUSUM gains, shared with [[graft.streaming.CusumMonitor]] (the
    * HoltA/B twin discipline — a retune here must reach the streaming
    * twin or the bit-identity contract silently breaks). Dyadic. */
  private[graft] val CusumK = 0.5 // allowance, in sigmas
  private[graft] val CusumH = 4.0 // decision interval, in sigmas

  private def cusum(s: SparkSession, dir: String): DataFrame = {
    val sp = s"greatest(CAST(0.0 AS DOUBLE), element_at(acc, 1) + (v - mu - ($CusumK * sd)))"
    val sm = s"greatest(CAST(0.0 AS DOUBLE), element_at(acc, 2) + (mu - ($CusumK * sd) - v))"
    val alarm = s"($sp > ($CusumH * sd) OR $sm > ($CusumH * sd))"
    t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("us"), col("event_id"),
          col("value")))).as("ps"))
      .withColumn("vs", expr("transform(ps, p -> p.value)"))
      .withColumn("mu", expr(
        "aggregate(vs, CAST(0.0 AS DOUBLE), (a, x) -> a + x) / size(vs)"))
      .withColumn("sd", expr(
        """sqrt(greatest(CAST(0.0 AS DOUBLE),
             aggregate(vs, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)
               / size(vs) - mu * mu))"""))
      .withColumn("st", expr(
        s"""aggregate(vs,
             array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
               CAST(0.0 AS DOUBLE)),
             (acc, v) -> array(
               CASE WHEN $alarm THEN CAST(0.0 AS DOUBLE) ELSE $sp END,
               CASE WHEN $alarm THEN CAST(0.0 AS DOUBLE) ELSE $sm END,
               element_at(acc, 3)
                 + CASE WHEN $alarm THEN 1.0 ELSE 0.0 END))"""))
      .select(col("user_id"), col("n_events"),
        expr("CAST(element_at(st, 3) AS BIGINT)").as("n_alarms"),
        expr("element_at(st, 1)").as("s_plus"),
        expr("element_at(st, 2)").as("s_minus"))
      .orderBy("user_id")
  }

  // List accumulator ([sp, sm, alarms]), values wrapped as singleton
  // lists — the holtSql discipline; every arithmetic term textually
  // mirrors the Spark lambda so the IEEE sequences agree.
  private val cusumSql = {
    val sp = s"greatest(CAST(0.0 AS DOUBLE), acc[1] + (x[1] - mu - ($CusumK * sd)))"
    val sm = s"greatest(CAST(0.0 AS DOUBLE), acc[2] + (mu - ($CusumK * sd) - x[1]))"
    val alarm = s"($sp > ($CusumH * sd) OR $sm > ($CusumH * sd))"
    s"""WITH o AS (
       |  SELECT user_id, count(*) AS n_events,
       |    list(value ORDER BY ts, event_id) AS vs
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT user_id, n_events, vs,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
       |      (a, x) -> a + x) / len(vs) AS mu
       |  FROM o),
       |sdv AS (
       |  SELECT user_id, n_events, vs, mu,
       |    sqrt(greatest(CAST(0.0 AS DOUBLE),
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
       |        (a, x) -> a + x * x) / len(vs) - mu * mu)) AS sd
       |  FROM m),
       |st AS (
       |  SELECT user_id, n_events,
       |    list_reduce(
       |      list_prepend(
       |        [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
       |        list_transform(vs, v -> [v])),
       |      (acc, x) -> [
       |        CASE WHEN $alarm THEN CAST(0.0 AS DOUBLE) ELSE $sp END,
       |        CASE WHEN $alarm THEN CAST(0.0 AS DOUBLE) ELSE $sm END,
       |        acc[3] + CASE WHEN $alarm THEN 1.0 ELSE 0.0 END]) AS s
       |  FROM sdv)
       |SELECT user_id, n_events, CAST(s[3] AS BIGINT) AS n_alarms,
       |  s[1] AS s_plus, s[2] AS s_minus
       |FROM st ORDER BY user_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_holt" -> (holt _),
    "events_hw" -> (holtWinters _),
    "events_cusum" -> (cusum _),
    "window_range" -> (windowRange _),
    "value_histogram" -> (valueHistogram _),
    "funnel" -> (funnel _),
    "cohort_retention" -> (cohortRetention _),
    "json_extract" -> (jsonExtract _),
    "events_headway" -> (headway _),
    "anomaly_zscore" -> (anomalyZscore _),
    "resample_locf" -> (resampleLocf _),
    "events_ema" -> (ema _))

  val oracle: Map[String, String] = Map(
    "events_holt" -> holtSql,
    "events_hw" -> holtWintersSql,
    "events_cusum" -> cusumSql,
    "window_range" -> windowRangeSql,
    "value_histogram" -> valueHistogramSql,
    "funnel" -> funnelSql,
    "cohort_retention" -> cohortRetentionSql,
    "json_extract" -> jsonExtractSql,
    "events_headway" -> headwaySql,
    "anomaly_zscore" -> anomalyZscoreSql,
    "resample_locf" -> resampleLocfSql,
    "events_ema" -> emaSql)
}
