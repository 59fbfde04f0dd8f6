package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational parity catalog — one named query per SQL-expressible operator
  * row of SURVEY.md §2, each paired with byte-equivalent DuckDB oracle SQL.
  *
  * Conventions (oracle parity):
  *  - monetary aggregates via exact DECIMAL sums (see [[Num]]);
  *  - no double→integer CASTs in mirrored logic (DuckDB rounds, Spark
  *    truncates) — `floor`/`round` made explicit on both sides;
  *  - every result deterministically ordered, so the compare is stable
  *    regardless of how the driver hashes rows.
  */
object Relational {
  import Num._

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // E1: multi-measure hash aggregation (reference: GROUP BY stop →
  // COUNT/AVG/STDDEV, schedule_deviation.ipynb cell 63902a57).
  private def aggStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        dstddev(col("l_discount")).as("std_disc"))
      .orderBy("l_returnflag", "l_linestatus")

  private val aggStatsSql =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${davgSql("l_extendedprice")} AS avg_price,
       |  ${dstddevSql("l_discount")} AS std_disc
       |FROM lineitem GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // D1: star-schema equi-join chain (reference: routes⋈trips⋈stop_times⋈stops)
  // — the constant dims broadcast; supplier grows with the scale factor,
  // so the planner decides its join from its size estimate.
  private def joinChain(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey")) // 25 nations
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey")) // 5 regions
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"),
        davg(col("l_quantity")).as("avg_qty"))
      .orderBy("r_name", "n_name")
  }

  private val joinChainSql =
    s"""SELECT r_name, n_name, count(*) AS n_items,
       |  ${dsumSql("l_extendedprice")} AS revenue,
       |  ${davgSql("l_quantity")} AS avg_qty
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // E2: ranked dedup — top-1 per key via ROW_NUMBER (reference window dedup,
  // cell 63902a57). The tiebreak must be a TOTAL order: this synthetic
  // lineitem (unlike real TPC-H) repeats (orderkey, shipdate, linenumber),
  // and any residual tie lets each engine pick a different row — caught at
  // sf0.1, where 84 such combos exist. l_partkey completes the order.
  private def windowDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_shipdate"), col("l_linenumber"), col("l_partkey"))
    t(s, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("first_ship"))
      .orderBy("l_orderkey")
  }

  private val windowDedupSql =
    """SELECT l_orderkey, l_partkey, l_linenumber,
      |  strftime(l_shipdate, '%Y-%m-%d') AS first_ship
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY l_orderkey
      |    ORDER BY l_shipdate, l_linenumber, l_partkey) AS rn
      |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin

  // Skew mitigation at the WINDOW (E2's shape, the twin of Relational2's
  // skew_salted_agg): in the plain rn=1 window a hot l_orderkey still
  // lands every surviving row on ONE reducer task (WindowGroupLimit cuts
  // row volume, not key placement). The salted twin runs the same
  // total-order top-1 in two levels — per (key, salt) candidates fan a
  // hot key across WSalts partitions, then the global top-1 picks among
  // the ≤ WSalts survivors per key. Because the ordering is a TOTAL
  // order, min-of-mins equals the global min and the oracle (the plain
  // window's SQL) hashes identically.
  private val WSalts = 8

  private def windowDedupSalted(s: SparkSession, dir: String): DataFrame = {
    val ord = Seq(col("l_shipdate"), col("l_linenumber"), col("l_partkey"))
    val w1 = Window.partitionBy(col("l_orderkey"), col("salt")).orderBy(ord: _*)
    val w2 = Window.partitionBy("l_orderkey").orderBy(ord: _*)
    t(s, dir, "lineitem")
      .withColumn("salt", col("l_linenumber") % WSalts)
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1).drop("rn", "salt")
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("first_ship"))
      .orderBy("l_orderkey")
  }

  // C5: negated, case-sensitive regexp predicate (reference: arrival_time
  // NOT regexp '^(2[4-9]|3[0-5]):').
  private def filterRegexp(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(!col("o_orderpriority").rlike("^[45]-"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  private val filterRegexpSql =
    """SELECT o_orderpriority, count(*) AS n_orders FROM orders
      |WHERE NOT regexp_matches(o_orderpriority, '^[45]-')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // C6 + C7: IN-list and BETWEEN range predicates (reference: route_type IN
  // (700,3); diff BETWEEN -600 AND 600). Pushed to the parquet scan.
  private def filterIsinBetween(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_size").isin(5, 10, 15, 20)
        && col("p_retailprice").between(900.0, 1500.0))
      .select("p_partkey", "p_size", "p_retailprice")
      .orderBy("p_partkey")

  private val filterIsinBetweenSql =
    """SELECT p_partkey, p_size, p_retailprice FROM part
      |WHERE p_size IN (5, 10, 15, 20)
      |  AND p_retailprice BETWEEN 900.0 AND 1500.0
      |ORDER BY p_partkey""".stripMargin

  // E3: global count (reference: SELECT count(*) FROM locations).
  private def globalCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(count(lit(1)).as("n"))

  private val globalCountSql = "SELECT count(*) AS n FROM lineitem"

  // C1/C4/F10: projection + derived columns. Exact integer (cents) math:
  // mirrored double→int conversion uses explicit round() on both sides.
  private def projDerive(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long"))
          * (lit(100L) + round(col("l_tax") * 100).cast("long")))
          .as("charge_e6"),
        abs(round(col("l_discount") * 100).cast("long") - 5L).as("disc_dist"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")

  private val projDeriveSql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |    * (100 + CAST(round(l_tax * 100) AS BIGINT)) AS charge_e6,
      |  abs(CAST(round(l_discount * 100) AS BIGINT) - 5) AS disc_dist,
      |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // F1/F2/F8: epoch→timestamp fields, time-of-day seconds, date formatting.
  private def timeExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        unix_timestamp(col("ts")).as("unix_sec"),
        hour(col("ts")).as("h"),
        minute(col("ts")).as("m"),
        second(col("ts")).as("sec"),
        (hour(col("ts")) * 3600 + minute(col("ts")) * 60 + second(col("ts")))
          .as("tod_sec"),
        date_format(col("ts"), "yyyy-MM-dd").as("day_str"))
      .orderBy("event_id")

  private val timeExtractSql =
    """SELECT event_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS unix_sec,
      |  CAST(date_part('hour', ts) AS INT) AS h,
      |  CAST(date_part('minute', ts) AS INT) AS m,
      |  CAST(date_part('second', ts) AS INT) AS sec,
      |  CAST(date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
      |    + date_part('second', ts) AS INT) AS tod_sec,
      |  strftime(ts, '%Y-%m-%d') AS day_str
      |FROM events ORDER BY event_id""".stripMargin

  // C8/A4: date-partition-shaped predicate — on a hive-partitioned lake this
  // compiles to partition pruning (PruneFileSourcePartitions).
  private def partitionFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(year(col("ts")) === 2024 && month(col("ts")) === 1
        && dayofmonth(col("ts")).between(10, 15))
      .groupBy(dayofmonth(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("day")

  private val partitionFilterSql =
    s"""SELECT CAST(date_part('day', ts) AS INT) AS day, count(*) AS n,
       |  ${dsumSql("value")} AS sum_value
       |FROM events
       |WHERE date_part('year', ts) = 2024 AND date_part('month', ts) = 1
       |  AND date_part('day', ts) BETWEEN 10 AND 15
       |GROUP BY 1 ORDER BY day""".stripMargin

  // D3 extension: as-of join — for each event, the most recent order of the
  // same customer at event time. Implemented as inequality join + ranked
  // dedup; at 100 TB the same logic runs per time-bucket (range-bucketed
  // co-partitioning) to bound the join fan-out.
  private def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val o = t(s, dir, "orders")
    // Window formulation kept after an r12 A/B: the max(struct(date, key))
    // hash-agg rewrite (the asofJoinBucketed equivalence) measured 1.35 →
    // 1.70 s — a struct aggregation buffer is not hash-agg-able, so the
    // "aggregate" plans as a sort-based/object aggregate and pays the sort
    // twice, while the rn=1 window already folds map-side via
    // WindowGroupLimit.
    val w = Window.partitionBy("event_id")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    e.join(o, e("user_id") === o("o_custkey") && o("o_orderdate") <= e("ts"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("asof_date"))
      .orderBy("event_id")
  }

  private[ops] val asofJoinSql =
    """SELECT event_id, user_id, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS asof_date
      |FROM (
      |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM events e JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
      |WHERE rn = 1 ORDER BY event_id""".stripMargin

  // G5 (batch shape): tumbling 5-minute event-time window aggregation. The
  // streaming form (withWatermark + window) lives in streaming/; this floor
  // arithmetic is its oracle-checkable batch equivalent.
  private def eventsWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        (floor(unix_timestamp(col("ts")) / 300) * 300).as("w_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("w_start", "event_type")

  private val eventsWindowSql =
    s"""SELECT CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 300) AS BIGINT) * 300 AS w_start,
       |  event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  // F9: date-range generation (reference: relativedelta loop over n days,
  // compaction/runtime/handler.py:150-167) — sequence + explode.
  private def dateRange(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .select(col("n_nationkey"),
        explode(sequence(
          lit(java.sql.Date.valueOf("1995-01-01")),
          lit(java.sql.Date.valueOf("1995-01-10")))).as("d"))
      .select(col("n_nationkey"), date_format(col("d"), "yyyy-MM-dd").as("day"))
      .orderBy("n_nationkey", "day")

  private val dateRangeSql =
    """SELECT n_nationkey, strftime(d, '%Y-%m-%d') AS day
      |FROM nation, generate_series(DATE '1995-01-01', DATE '1995-01-10',
      |  INTERVAL 1 DAY) g(d)
      |ORDER BY n_nationkey, day""".stripMargin

  // E4: HLL approximate distinct count — rows-only driver check (Spark's
  // HLL++ and DuckDB's HLL differ by design); exactness is bounded by the
  // relative-error parameter and cross-checked against countDistinct in
  // ScalaTest.
  // The approx and exact legs are SEPARATE aggregates joined on the
  // 3-row group key: fused in one agg, Spark's single-distinct rewrite
  // groups the first partial pass by (l_returnflag, l_partkey) and the
  // HLL++ sketch (410 longs at rsd 0.02, ~3.3 KB) rides EVERY distinct
  // (flag, partkey) group through the exchange — ~650 MB of shuffle for
  // a 6-value answer at sf0.1, growing with |distinct parts| at scale.
  // Split, the approx leg exchanges one sketch per (flag, partition) and
  // the exact leg its usual 16-byte (flag, partkey) pairs. HLL union is
  // a per-register max — associative and grouping-path-independent — so
  // the estimate (and the exact count) is unchanged.
  private def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    approx.join(broadcast(exact), "l_returnflag") // 3 return flags
      .select(col("l_returnflag"), col("approx_parts"), col("exact_parts"))
      .orderBy("l_returnflag")
  }

  // Bottom-k (KMV) distinct-count estimator — the exact-oracle twin of
  // `approx_distinct`. HLL sketch buffers are engine-private, so that
  // entry is rows-only; a bottom-k sketch is not: md5 keys sort
  // identically in both engines (the `source_overlap` precedent), so the
  // k smallest hashes per group — and therefore the estimate — are
  // exactly mirrorable. Estimator (Bar-Yossef/Beyer KMV): with D ≥ k
  // distinct values hashed uniformly into [0,1), the k-th smallest hash
  // h(k) ≈ k/D, so D̂ = (k-1)/h(k) (unbiased); with D < k the sketch IS
  // the distinct set and the count is exact. The hash fraction comes
  // from the first 15 hex chars (60 bits) — bigint in both engines, one
  // double division, round(·,6) absorbing the last ulp.
  //
  // 100 TB shape: one (group, hash) distinct — same map-side-combining
  // exchange countDistinct needs — then a per-group top-k window over
  // distinct hashes only. The sketch is |groups|·k rows: mergeable,
  // broadcastable, and the thing a production profiler persists.
  // (`exact_parts` is joined in here only because the entry doubles as
  // its own error-bound witness.)
  private val BottomK = 256
  private val Pow60 = 1152921504606846976L // 2^60, exact in a double

  private def distinctBottomK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct FIRST, md5 after (round 12): hashing before the distinct
    // ran md5 once per ROW and keyed the distinct's hash tables and
    // exchange on ~40-byte hash strings; distincting the 16-byte
    // (flag, partkey) pair and hashing the survivors runs md5 once per
    // DISTINCT value and shuffles 2.5× fewer bytes (guide §2.3). md5 is
    // deterministic and injective on these keys, so the distinct-hash
    // multiset — and every downstream rank — is unchanged (oracle
    // re-verified hash-exact).
    val hs = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .select(col("l_returnflag"),
        md5(col("l_partkey").cast("string")).as("h"))
    val sk = hs
      .withColumn("rk",
        row_number().over(Window.partitionBy("l_returnflag").orderBy("h")))
      .filter(col("rk") <= BottomK)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_sample"), max(col("h")).as("hk"))
      .withColumn("hv",
        conv(substring(col("hk"), 1, 15), 16, 10).cast("long"))
      .select(col("l_returnflag"), col("n_sample"),
        when(col("n_sample") < BottomK, col("n_sample").cast("double"))
          .otherwise(round(
            lit((BottomK - 1).toDouble) * Pow60 / col("hv").cast("double"),
            6))
          .as("est_parts"))
    val exact = t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    sk.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("n_sample"), col("est_parts"),
        col("exact_parts"))
      .orderBy("l_returnflag")
  }

  private val distinctBottomKSql =
    s"""WITH hs AS (
       |  SELECT DISTINCT l_returnflag,
       |    md5(CAST(l_partkey AS VARCHAR)) AS h
       |  FROM lineitem),
       |sk AS (
       |  SELECT l_returnflag, count(*) AS n_sample, max(h) AS hk
       |  FROM (
       |    SELECT l_returnflag, h,
       |      row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk
       |    FROM hs)
       |  WHERE rk <= $BottomK GROUP BY l_returnflag),
       |est AS (
       |  SELECT l_returnflag, n_sample,
       |    CASE WHEN n_sample < $BottomK THEN CAST(n_sample AS DOUBLE)
       |    ELSE round(CAST(${BottomK - 1} AS DOUBLE) * $Pow60
       |      / CAST(('0x' || substr(hk, 1, 15))::BIGINT AS DOUBLE), 6)
       |    END AS est_parts
       |  FROM sk),
       |ex AS (
       |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT est.l_returnflag, n_sample, est_parts, exact_parts
       |FROM est JOIN ex USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin

  // ---- TPC-H q3-shaped top revenue query (shipping priority) ----
  // The classic "top open orders by potential revenue" shape: segment
  // filter on the customer dim, date window split across orders (placed
  // before the cut) and lineitems (shipped after it), revenue =
  // Σ price·(1−discount) in EXACT decimal arithmetic (the Num rule —
  // decimal products and sums are engine-identical; only the final
  // surfaced value is a double), top-10 via orderBy+limit, which plans
  // as TakeOrdered (per-partition top-K, no global sort). Date filters
  // reach the parquet scans as pushed predicates; the (orderkey) group
  // keys are high-cardinality/low-skew, the q3 scale shape.
  private val Q3Cut = "1998-07-01"

  private def topUnshipped(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit(Q3Cut).cast("timestamp"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit(Q3Cut).cast("timestamp"))
    val d = Num.D
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(li("l_orderkey"),
        date_format(o("o_orderdate"), "yyyy-MM-dd").as("order_day"),
        o("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(d) *
        (lit(1).cast(d) - col("l_discount").cast(d)))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private val topUnshippedSql =
    s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
       |  o_orderpriority,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       |    AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '$Q3Cut'
       |  AND l_shipdate > TIMESTAMP '$Q3Cut'
       |GROUP BY 1, 2, 3
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "top_unshipped" -> (topUnshipped _),
    "date_range" -> (dateRange _),
    "approx_distinct" -> (approxDistinct _),
    "distinct_bottomk" -> (distinctBottomK _),
    "agg_stats" -> (aggStats _),
    "join_chain" -> (joinChain _),
    "window_dedup" -> (windowDedup _),
    "window_dedup_salted" -> (windowDedupSalted _),
    "filter_regexp" -> (filterRegexp _),
    "filter_isin_between" -> (filterIsinBetween _),
    "global_count" -> (globalCount _),
    "proj_derive" -> (projDerive _),
    "time_extract" -> (timeExtract _),
    "partition_filter" -> (partitionFilter _),
    "asof_join" -> (asofJoin _),
    "events_window" -> (eventsWindow _))

  val oracle: Map[String, String] = Map(
    "top_unshipped" -> topUnshippedSql,
    "date_range" -> dateRangeSql,
    "distinct_bottomk" -> distinctBottomKSql,
    "agg_stats" -> aggStatsSql,
    "join_chain" -> joinChainSql,
    "window_dedup" -> windowDedupSql,
    // the salted path must produce the byte-identical plain-window result
    "window_dedup_salted" -> windowDedupSql,
    "filter_regexp" -> filterRegexpSql,
    "filter_isin_between" -> filterIsinBetweenSql,
    "global_count" -> globalCountSql,
    "proj_derive" -> projDeriveSql,
    "time_extract" -> timeExtractSql,
    "partition_filter" -> partitionFilterSql,
    "asof_join" -> asofJoinSql,
    "events_window" -> eventsWindowSql)
}
