package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second relational tranche — operators beyond the reference's own surface
  * that a complete engine needs (SURVEY.md §2 D3/E4 call these out as
  * absent in the reference): semi/anti joins, outer joins, set operations,
  * rollup, distinct aggregation, general window functions, string and null
  * handling. All oracle-checked.
  */
object Relational2 {
  import Num._

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // Semi/anti join: customers with vs without orders.
  private def semiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
    val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_orders"))
    withO.unionByName(without).select("kind", "n").orderBy("kind")
  }

  private val semiAntiSql =
    """SELECT 'with_orders' AS kind, count(*) AS n FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT 'without_orders' AS kind, count(*) AS n FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY kind""".stripMargin

  // Full outer join with key coalescing: parts vs lineitem usage.
  private def outerJoin(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").groupBy("p_partkey")
      .agg(count(lit(1)).as("n_parts"))
    val l = t(s, dir, "lineitem").groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"))
    p.join(l, p("p_partkey") === l("l_partkey"), "full_outer")
      .select(
        coalesce(p("p_partkey"), l("l_partkey")).as("part_id"),
        coalesce(col("n_parts"), lit(0L)).as("n_parts"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"))
      .orderBy("part_id")
  }

  private val outerJoinSql =
    """SELECT coalesce(p.p_partkey, l.l_partkey) AS part_id,
      |  coalesce(p.n_parts, 0) AS n_parts,
      |  coalesce(l.n_lines, 0) AS n_lines
      |FROM (SELECT p_partkey, count(*) AS n_parts FROM part GROUP BY 1) p
      |FULL OUTER JOIN
      |  (SELECT l_partkey, count(*) AS n_lines FROM lineitem GROUP BY 1) l
      |  ON p.p_partkey = l.l_partkey
      |ORDER BY part_id""".stripMargin

  // Set operations: UNION (distinct), INTERSECT, EXCEPT.
  private def setOps(s: SparkSession, dir: String): DataFrame = {
    val small = t(s, dir, "part").filter(col("p_size") < 10)
      .select(col("p_partkey").as("k"))
    val heavy = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      .select(col("l_partkey").as("k"))
    val u = small.union(heavy).distinct()
      .agg(count(lit(1)).as("n")).withColumn("op", lit("union"))
    val i = small.intersect(heavy)
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
    val e = small.except(heavy)
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
    u.unionByName(i).unionByName(e).select("op", "n").orderBy("op")
  }

  private val setOpsSql =
    """WITH small AS (SELECT p_partkey AS k FROM part WHERE p_size < 10),
      |heavy AS (SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 45)
      |SELECT 'union' AS op, count(*) AS n
      |  FROM (SELECT k FROM small UNION SELECT k FROM heavy)
      |UNION ALL
      |SELECT 'intersect' AS op, count(*) AS n
      |  FROM (SELECT k FROM small INTERSECT SELECT k FROM heavy)
      |UNION ALL
      |SELECT 'except' AS op, count(*) AS n
      |  FROM (SELECT k FROM small EXCEPT SELECT k FROM heavy)
      |ORDER BY op""".stripMargin

  // Rollup with subtotal rows; NULLS FIRST makes the orderings agree.
  // The ROLLUP itself goes through spark.sql on a temp view: Spark 4.1's
  // ambiguous-self-join detector misfires on Dataset-API rollup over a
  // joined frame (Expand duplicates the grouping attributes).
  private def rollupAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val nat = t(s, dir, "nation")
    li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey")) // 25 nations
      .select(col("n_name").as("nation"), col("l_returnflag").as("flag"),
        col("l_quantity"))
      .createOrReplaceTempView("graft_rollup_input")
    s.sql(
      s"""SELECT nation, flag, count(*) AS n,
         |  ${dsumSql("l_quantity")} AS qty
         |FROM graft_rollup_input
         |GROUP BY ROLLUP (nation, flag)
         |ORDER BY nation ASC NULLS FIRST, flag ASC NULLS FIRST""".stripMargin)
  }

  private val rollupAggSql =
    s"""SELECT n_name AS nation, l_returnflag AS flag, count(*) AS n,
       |  ${dsumSql("l_quantity")} AS qty
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY ROLLUP (n_name, l_returnflag)
       |ORDER BY nation NULLS FIRST, flag NULLS FIRST""".stripMargin

  // The rank-distribution window family: ntile, percent_rank, cume_dist,
  // first/nth_value over an explicit whole-partition frame. percent_rank
  // and cume_dist are small-integer ratios evaluated in double — identical
  // IEEE results in both engines.
  private def windowRankFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"),
      col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        first(col("o_orderkey")).over(full).as("first_order"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_order"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val windowRankFuncsSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cdist,
      |  first_value(o_orderkey) OVER wf AS first_order,
      |  nth_value(o_orderkey, 2) OVER wf AS second_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // CUBE: all 2² grouping sets in one pass (Expand), with GROUPING()
  // indicators distinguishing a subtotal NULL from a data NULL — the
  // completion of the rollup family. Same SQL-view route as rollupAgg.
  private def cubeAgg(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"),
        col("l_quantity"))
      .createOrReplaceTempView("graft_cube_input")
    s.sql(
      s"""SELECT flag, status,
         |  CAST(grouping(flag) AS INT) AS g_flag,
         |  CAST(grouping(status) AS INT) AS g_status,
         |  count(*) AS n, ${dsumSql("l_quantity")} AS qty
         |FROM graft_cube_input
         |GROUP BY CUBE (flag, status)
         |ORDER BY g_flag, g_status, flag ASC NULLS FIRST,
         |  status ASC NULLS FIRST""".stripMargin)
  }

  private val cubeAggSql =
    s"""SELECT l_returnflag AS flag, l_linestatus AS status,
       |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       |  count(*) AS n, ${dsumSql("l_quantity")} AS qty
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY g_flag, g_status, flag NULLS FIRST, status NULLS FIRST""".stripMargin

  // Distinct aggregation (exact) + conditional (pivot-style) aggregation.
  private def distinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("n_heavy"),
        sum(when(col("l_discount") >= 0.05, 1L).otherwise(0L)).as("n_discounted"))
      .orderBy("l_returnflag")

  private val distinctAggSql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
      |  CAST(sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // General window functions: rank, dense_rank, lag, lead, running sum.
  private def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"),
      col("o_orderkey"))
    t(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        sum(round(col("o_totalprice") * 100).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .as("running_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val windowFuncsSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(rank() OVER w AS INT) AS rnk,
      |  CAST(dense_rank() OVER w AS INT) AS drnk,
      |  lag(o_orderkey, 1) OVER w AS prev_order,
      |  lead(o_orderkey, 1) OVER w AS next_order,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS running_cents
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // Sessionization — the canonical event-log transform for both OLAP and
  // training-data pipelines: per-user event streams split into sessions at
  // inactivity gaps > 30 min. One lag window marks the breaks, a running
  // sum numbers the sessions, a hash agg summarizes them — two shuffles on
  // the user key, linear at any scale.
  private val SessionGapSec = 1800L

  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("tsec"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("tsec"))
      .withColumn("brk",
        when(col("tsec") - lag(col("tsec"), 1).over(byUser) > SessionGapSec
          || lag(col("tsec"), 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("tsec")) - min(col("tsec"))).as("duration_sec"))
      .orderBy("user_id", "session_no")
  }

  private val sessionizeSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
       |  FROM events),
       |marked AS (
       |  SELECT user_id, event_id, tsec,
       |    CASE WHEN lag(tsec, 1) OVER w IS NULL
       |           OR tsec - lag(tsec, 1) OVER w > $SessionGapSec
       |         THEN 1 ELSE 0 END AS brk
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
       |numbered AS (
       |  SELECT user_id, tsec,
       |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsec, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_no
       |  FROM marked)
       |SELECT user_id, session_no, count(*) AS n_events,
       |  max(tsec) - min(tsec) AS duration_sec
       |FROM numbered GROUP BY user_id, session_no
       |ORDER BY user_id, session_no""".stripMargin

  // Pivot / crosstab: event counts per user-decile × event_type. Spark's
  // groupBy().pivot(values) with pinned pivot values (no extra pass to
  // discover them); the oracle is the equivalent conditional aggregation.
  private def pivotAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select((col("user_id") % 10).as("bucket"), col("event_type"))
      .groupBy("bucket")
      .pivot("event_type", Seq("click", "view", "purchase"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("bucket")

  private val pivotAggSql =
    """SELECT user_id % 10 AS bucket,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'view') AS view,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  // Interval (event-time range) join — the batch shape of the
  // stream-stream join in streaming/IngestStream.clickToPurchase: each
  // click matched to the same user's purchases within the next 30 min.
  // The user-id equi conjunct carries the hash join; the time band is a
  // post-filter whose fan-out is bounded by events-per-user-per-window.
  private def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "events").filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_timestamp(col("ts")).as("c_ts"))
    val p = t(s, dir, "events").filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        unix_timestamp(col("ts")).as("p_ts"))
    c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + 1800L)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("p_ts") - col("c_ts")).as("lag_sec"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  private val intervalJoinSql =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS c_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS p_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.click_id, p.purchase_id, p.p_ts - c.c_ts AS lag_sec
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + 1800
      |ORDER BY c.user_id, c.click_id, p.purchase_id""".stripMargin

  // Exact percentiles (E extension): Spark's `percentile` and DuckDB's
  // `quantile_cont` both sort exactly and linear-interpolate, so over
  // double inputs the results are bit-identical — an exact oracle for an
  // aggregate usually only approx-checked. (Distributed cost is a sort per
  // group; for a pre-aggregated sketch path use approx_percentile.)
  private def percentileAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_quantity").cast("double"), lit(0.5)).as("q50"),
        percentile(col("l_quantity").cast("double"), lit(0.95)).as("q95"),
        percentile(col("l_extendedprice").cast("double"), lit(0.5)).as("price_p50"))
      .orderBy("l_returnflag")

  private val percentileAggSql =
    """SELECT l_returnflag,
      |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS q50,
      |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.95) AS q95,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS price_p50
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // The 100 TB twin of percentile_agg. The exact `percentile` above
  // buffers EVERY value of a group in one aggregation buffer — on this
  // 3-key grouping that is ~N/3 doubles in a single buffer, an OOM at
  // scale; it stays in the catalog as the oracle anchor only.
  // `percentile_approx` keeps a fixed-size Greenwald–Khanna quantile
  // summary per group (rank error ≤ 1/accuracy) merged associatively —
  // constant memory per group at any data size. DuckDB's approx_quantile
  // is a t-digest (different sketch, different answers), so this entry is
  // rows-only; QueriesSpec bounds its error against the exact aggregate.
  private val PctAccuracy = 10000

  private def approxPercentileAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        percentile_approx(col("l_quantity").cast("double"), lit(0.5),
          lit(PctAccuracy)).as("q50"),
        percentile_approx(col("l_quantity").cast("double"), lit(0.95),
          lit(PctAccuracy)).as("q95"),
        percentile_approx(col("l_extendedprice").cast("double"), lit(0.5),
          lit(PctAccuracy)).as("price_p50"))
      .orderBy("l_returnflag")

  // String function battery (1-based substr semantics match).
  private def stringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("up"),
        lower(col("p_type")).as("lo"),
        substring(col("p_name"), 1, 8).as("sub"),
        length(col("p_name")).cast("long").as("nlen"),
        trim(lit("  pad  ")).as("trimmed"),
        lpad(col("p_brand"), 12, "*").as("padded"),
        regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"))
      .orderBy("p_partkey")

  private val stringFuncsSql =
    """SELECT p_partkey,
      |  upper(p_brand) AS up,
      |  lower(p_type) AS lo,
      |  substr(p_name, 1, 8) AS sub,
      |  CAST(length(p_name) AS BIGINT) AS nlen,
      |  trim('  pad  ') AS trimmed,
      |  lpad(p_brand, 12, '*') AS padded,
      |  regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
      |  concat_ws('|', p_brand, p_type) AS joined
      |FROM part ORDER BY p_partkey""".stripMargin

  // Null handling: coalesce / nullif / null-aware counts over an outer join.
  private def nullHandling(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left") // 25 nations
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_rows"),
        count(nullif(col("c_mktsegment"), lit("BUILDING"))).as("n_nonbuilding"),
        sum(coalesce(when(col("c_acctbal") > 0,
          round(col("c_acctbal") * 100).cast("long")), lit(0L)))
          .as("pos_bal_cents"))
      .orderBy(col("n_name").asc_nulls_first)
  }

  private val nullHandlingSql =
    """SELECT n_name, count(*) AS n_rows,
      |  count(nullif(c_mktsegment, 'BUILDING')) AS n_nonbuilding,
      |  CAST(sum(coalesce(CASE WHEN c_acctbal > 0
      |    THEN CAST(round(c_acctbal * 100) AS BIGINT) END, 0)) AS BIGINT)
      |    AS pos_bal_cents
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name NULLS FIRST""".stripMargin

  // Skew mitigation: two-phase salted aggregation over hot keys.
  // `event_type` has only 5 values — an unsalted groupBy at 100 TB funnels
  // everything through 5 reducers; the salt fans each hot key across 8
  // partial groups (map-side), then the tiny (key, salt) partials combine.
  // DECIMAL sums are associative, so the result is bit-identical to the
  // direct aggregation the oracle states.
  private val Salts = 8

  private def skewSaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val partials = t(s, dir, "events")
      .groupBy(col("event_type"), (col("event_id") % Salts).as("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("ps"))
    partials.groupBy("event_type")
      .agg(sum(col("pn")).as("n"),
        sum(col("ps")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  private val skewSaltedAggSql =
    s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // D3 at scale: range-bucketed as-of join. The plain as-of join's
  // inequality conjunct fans out to ALL orders of a customer at or before
  // the event — unbounded per key. Month-bucketing both sides bounds it:
  //  (1) same-bucket candidates come from a (cust, bucket) equi-join with
  //      the date≤ts predicate as a post-filter (fan-out ≤ orders per
  //      customer-month);
  //  (2) earlier buckets are pre-folded into a per-(cust, bucket) running
  //      best ("carry") — one row per bucket on a densified grid, joined
  //      by exact bucket id (the event's previous bucket, clamped to the
  //      customer's last order bucket).
  // max(struct(date, key)) over (1)∪(2) equals the inequality join's
  // row_number pick exactly, so this reuses asof_join's oracle verbatim.
  // Grid size is O(customers × months-of-history) — linear, broadcast-able
  // bounds table, no unbounded fan-out anywhere.
  private def monthBucket(c: Column): Column = year(c) * 12 + month(c) - 1

  private def asofJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    def ordersBuckets() = t(s, dir, "orders").select(
      col("o_custkey").as("cust"), monthBucket(col("o_orderdate")).as("b"),
      col("o_orderdate"), col("o_orderkey"))
    // fresh scan per use: the carry chain and the same-bucket join would
    // otherwise share lineage and trip the ambiguous-self-join detector
    val ob = ordersBuckets()
    val perBucketBest = ordersBuckets().groupBy("cust", "b")
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
    val bounds = perBucketBest.groupBy("cust")
      .agg(min("b").as("b0"), max("b").as("b1"))
    val grid = bounds.select(col("cust"),
      explode(sequence(col("b0"), col("b1"))).as("b"))
    val wRun = Window.partitionBy("cust").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = grid.join(perBucketBest, Seq("cust", "b"), "left")
      .withColumn("cbest", max(col("best")).over(wRun))
      .select(col("cust"), col("b").as("carry_b"), col("cbest"))
    val e = t(s, dir, "events").select(
      col("event_id"), col("user_id").as("cust"), col("ts"),
      monthBucket(col("ts")).as("eb"))
      .join(bounds, "cust")
      .withColumn("carry_b", least(col("eb") - 1, col("b1")))
    val sameBucket = e.join(ob,
        e("cust") === ob("cust") && e("eb") === ob("b") &&
          ob("o_orderdate") <= e("ts"))
      .select(e("event_id"), e("cust"),
        struct(ob("o_orderdate"), ob("o_orderkey")).as("cand"))
    val carried = e.join(carry, Seq("cust", "carry_b"))
      .select(col("event_id"), col("cust"), col("cbest").as("cand"))
    sameBucket.union(carried)
      .groupBy("event_id", "cust")
      .agg(max(col("cand")).as("best"))
      .select(col("event_id"), col("cust").as("user_id"),
        col("best.o_orderkey").as("o_orderkey"),
        date_format(col("best.o_orderdate"), "yyyy-MM-dd").as("asof_date"))
      .orderBy("event_id")
  }

  // ---- mergeable sketch tables (HLL rollup) ----
  // THE 100 TB distinct-count pattern: persist small per-(type, day) HLL
  // sketches once, then answer any time-range / rollup distinct question
  // by UNIONing sketches — the second pass touches bytes ∝ days × types,
  // never the fact again, and sketch union is exactly mergeable (order-
  // and partition-independent by construction). Uses Spark's DataSketches
  // HLL (hll_sketch_agg / hll_union_agg / hll_sketch_estimate). DuckDB
  // has no binary-compatible mirror → rows-only; QueriesSpec pins the
  // estimates within 2 % of exact per-type distincts.
  private def sketchRollup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      expr("unix_micros(ts) DIV 86400000000").as("day"), col("user_id"))
    val daily = e.groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_rollup" -> (sketchRollup _),
    "asof_join_bucketed" -> (asofJoinBucketed _),
    "events_sessionize" -> (sessionize _),
    "pivot_agg" -> (pivotAgg _),
    "percentile_agg" -> (percentileAgg _),
    "approx_percentile" -> (approxPercentileAgg _),
    "interval_join" -> (intervalJoin _),
    "skew_salted_agg" -> (skewSaltedAgg _),
    "join_semi_anti" -> (semiAnti _),
    "join_outer" -> (outerJoin _),
    "set_ops" -> (setOps _),
    "rollup_agg" -> (rollupAgg _),
    "cube_agg" -> (cubeAgg _),
    "distinct_agg" -> (distinctAgg _),
    "window_funcs" -> (windowFuncs _),
    "window_rank_funcs" -> (windowRankFuncs _),
    "string_funcs" -> (stringFuncs _),
    "null_handling" -> (nullHandling _))

  val oracle: Map[String, String] = Map(
    "asof_join_bucketed" -> Relational.asofJoinSql,
    "events_sessionize" -> sessionizeSql,
    "pivot_agg" -> pivotAggSql,
    "percentile_agg" -> percentileAggSql,
    "interval_join" -> intervalJoinSql,
    "skew_salted_agg" -> skewSaltedAggSql,
    "join_semi_anti" -> semiAntiSql,
    "join_outer" -> outerJoinSql,
    "set_ops" -> setOpsSql,
    "rollup_agg" -> rollupAggSql,
    "cube_agg" -> cubeAggSql,
    "distinct_agg" -> distinctAggSql,
    "window_funcs" -> windowFuncsSql,
    "window_rank_funcs" -> windowRankFuncsSql,
    "string_funcs" -> stringFuncsSql,
    "null_handling" -> nullHandlingSql)
}
