package graft.ops

import graft.Tables
import graft.expr.{functions => gf}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's flagship analytics program — per-stop schedule deviation
  * and reliability (notebooks/schedule_deviation.ipynb cell 63902a57 +
  * f208d562) — mapped onto the driver testdata per FIXTURES.md §1:
  * customer→routes (C6 IN filter), orders→trips (C5 regexp filter),
  * lineitem→stop_times (scheduled time-of-day synthesized from exact integer
  * arithmetic), events→realtime positions (F2 time-of-day), part→stops.
  *
  * Pipeline: dim join chain (D1) → time-of-day diff (F2) → ±600 s clamp (C7)
  * → closest-ping-per-stop-event window dedup (E2) → COUNT/AVG/STDDEV agg
  * (E1) → normal-CDF reliability in-engine (F11; the reference does this
  * client-side in scipy).
  *
  * Scale shape: `customer` is broadcast; the events⋈orders⋈lineitem chain
  * shuffles on its join keys and the window partitions on the dedup key —
  * no driver-side collection anywhere.
  */
object Flagship {
  import Num._

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** Pre-dedup candidate deviations from an EXPLICIT events frame — the
    * single definition of the join/filter/diff pipeline, shared by the
    * batch query and the streaming MV twin
    * ([[graft.streaming.FlagshipStream]]) so the two planes cannot
    * drift. Emits (stop_id, l_orderkey, l_linenumber, event_id, diff).
    * The dims are plain parquet scans (see the round-12 negative result in
    * [[graft.streaming.FlagshipStream]] for why they are not persisted). */
  private[graft] def deviationCandidates(s: SparkSession, dir: String,
      events: DataFrame): DataFrame = {
    val c = t(s, dir, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")) // C6
    val o = t(s, dir, "orders")
      .filter(!col("o_orderpriority").rlike("^[45]-")) // C5
    val l = t(s, dir, "lineitem").withColumn("sched_sec",
      (col("l_partkey") * 37 + col("l_linenumber") * 601) % 86400)
    val e = events.select(
      col("event_id"), col("user_id"),
      (hour(col("ts")) * 3600 + minute(col("ts")) * 60 + second(col("ts")))
        .cast("long").as("tod")) // F2

    e.join(o, e("user_id") === o("o_custkey")) // D1
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("stop_id"), col("l_orderkey"),
        col("l_linenumber"), col("event_id"),
        (col("tod") - col("sched_sec")).as("diff"))
      .filter(col("diff").between(-600, 600)) // C7
  }

  /** E2: keep the closest ping per (trip, stop, stop-event) — rn=1 under
    * the total-order tie key (abs diff, event_id), which is also what
    * makes the streaming incremental merge exact (running min under a
    * total order is associative + commutative). */
  private[graft] def closestPerStopEvent(cands: DataFrame): DataFrame = {
    val w = Window.partitionBy("l_orderkey", "stop_id", "l_linenumber")
      .orderBy(abs(col("diff")), col("event_id")) // E2 (F10 in ORDER BY)
    cands.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Deduped per-(stop-event) deviations, pre-aggregation. */
  private def deviations(s: SparkSession, dir: String): DataFrame =
    closestPerStopEvent(deviationCandidates(s, dir, t(s, dir, "events")))

  /** E1 over the deduped rows — shared with the streaming MV's
    * end-of-stream readout. */
  private[graft] def aggregateDeviations(deduped: DataFrame): DataFrame =
    deduped
      .groupBy("stop_id")
      .agg(
        count(lit(1)).as("n_obs"),
        (sum(col("diff")).cast("double") / count(lit(1))).as("avg_diff"),
        stddevFromSums(count(lit(1)), sum(col("diff")),
          sum(col("diff") * col("diff"))).as("std_diff"))

  private def aggregated(s: SparkSession, dir: String): DataFrame =
    aggregateDeviations(deviations(s, dir))

  def scheduleDeviation(s: SparkSession, dir: String): DataFrame =
    aggregated(s, dir).orderBy("stop_id")

  /** F11: reliability = P(deviation ∈ [−60 s, +300 s]) under N(μ, σ).
    * Single-observation groups have NULL σ and are dropped (C9), exactly as
    * the reference's client-side `dropna`. */
  def reliability(s: SparkSession, dir: String): DataFrame =
    aggregated(s, dir)
      .filter(col("std_diff").isNotNull && col("std_diff") > 0) // C9
      .select(col("stop_id"), col("n_obs"),
        round(gf.reliability(col("avg_diff"), col("std_diff"),
          lit(-60.0), lit(300.0)), 7).as("rel"))
      .orderBy("stop_id")

  // ---- oracle SQL ----

  private val devCte =
    """WITH ev AS (
      |  SELECT event_id, user_id,
      |    CAST(date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
      |      + date_part('second', ts) AS BIGINT) AS tod
      |  FROM events),
      |dev AS (
      |  SELECT l.l_partkey AS stop_id, l.l_orderkey, l.l_linenumber,
      |    ev.event_id,
      |    ev.tod - ((l.l_partkey * 37 + l.l_linenumber * 601) % 86400) AS diff
      |  FROM ev
      |  JOIN orders o ON ev.user_id = o.o_custkey
      |    AND NOT regexp_matches(o.o_orderpriority, '^[45]-')
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |    AND c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  WHERE ev.tod - ((l.l_partkey * 37 + l.l_linenumber * 601) % 86400)
      |    BETWEEN -600 AND 600),
      |dedup AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY l_orderkey, stop_id, l_linenumber
      |    ORDER BY abs(diff), event_id) AS rn
      |  FROM dev),
      |agg AS (
      |  SELECT stop_id, count(*) AS n_obs,
      |    CAST(sum(diff) AS DOUBLE) / count(*) AS avg_diff,
      |""".stripMargin +
      s"    ${stddevSql("count(*)", "sum(diff)", "sum(diff * diff)")} AS std_diff\n" +
      """  FROM dedup WHERE rn = 1 GROUP BY stop_id)
      |""".stripMargin

  val scheduleDeviationSql: String =
    devCte + "SELECT stop_id, n_obs, avg_diff, std_diff FROM agg ORDER BY stop_id"

  /** DuckDB mirror of StatsOps.erf — SAME operation order (A&S 7.1.26), so
    * both engines produce identical doubles up to the exp() ulp. */
  private def erfPosSql(x: String): String = {
    val tt = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"(1.0 - (((((1.061405429 * $tt - 1.453152027) * $tt + 1.421413741) * $tt - 0.284496736) * $tt + 0.254829592) * $tt) * exp(-($x) * ($x)))"
  }
  private def erfSql(x: String): String =
    s"(CASE WHEN $x >= 0 THEN ${erfPosSql(x)} ELSE -${erfPosSql(s"(-$x)")} END)"
  private def cdfSql(z: String): String =
    s"(0.5 * (1.0 + ${erfSql(s"(($z) * (1.0 / sqrt(2.0)))")}))"

  val reliabilitySql: String =
    devCte +
      s"""SELECT stop_id, n_obs,
         |  round(${cdfSql("(300.0 - avg_diff) / std_diff")}
         |    - ${cdfSql("(-60.0 - avg_diff) / std_diff")}, 7) AS rel
         |FROM agg
         |WHERE std_diff IS NOT NULL AND std_diff > 0
         |ORDER BY stop_id""".stripMargin

  // ---- D2: hybrid equi + spatial-theta join (ST_DWithin) ----
  // Point sets derived from exact integer arithmetic (both engines produce
  // identical doubles); Spark side goes through real WKB geometry columns
  // (F4) and the planar st_dwithin expression (F5); the oracle states the
  // same semantics in plain SQL. Equi conjunct carries the hash join, the
  // spatial predicate runs as a post-join filter — same physical shape
  // Catalyst gives the reference query's trip_id + ST_DWithin condition.
  private def lonOf(key: Column): Column = (key % 3600) / 10.0 - 180.0
  private def latOf(key: Column): Column = (key % 1700) / 10.0 - 85.0

  def spatialJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      col("c_custkey"),
      (col("c_custkey") % 50).as("grp"),
      gf.st_point(lonOf(col("c_custkey")), latOf(col("c_custkey"))).as("cgeom"))
    val p = t(s, dir, "part").select(
      col("p_partkey"),
      (col("p_partkey") % 50).as("pgrp"),
      gf.st_point(lonOf(col("p_partkey")), latOf(col("p_partkey"))).as("pgeom"))
    c.join(p, col("grp") === col("pgrp")
        && gf.st_dwithin(col("cgeom"), col("pgeom"), lit(0.15)))
      .select(col("c_custkey"), col("p_partkey"),
        gf.st_distance(col("cgeom"), col("pgeom")).as("dist"))
      .orderBy("c_custkey", "p_partkey")
  }

  val spatialJoinSql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_custkey % 50 AS grp,
      |    (c_custkey % 3600) / 10.0 - 180.0 AS lon,
      |    (c_custkey % 1700) / 10.0 - 85.0 AS lat
      |  FROM customer),
      |p AS (
      |  SELECT p_partkey, p_partkey % 50 AS grp,
      |    (p_partkey % 3600) / 10.0 - 180.0 AS lon,
      |    (p_partkey % 1700) / 10.0 - 85.0 AS lat
      |  FROM part)
      |SELECT c.c_custkey, p.p_partkey,
      |  sqrt((c.lon - p.lon) * (c.lon - p.lon)
      |    + (c.lat - p.lat) * (c.lat - p.lat)) AS dist
      |FROM c JOIN p ON c.grp = p.grp
      |WHERE sqrt((c.lon - p.lon) * (c.lon - p.lon)
      |    + (c.lat - p.lat) * (c.lat - p.lat)) <= 0.15
      |ORDER BY c_custkey, p_partkey""".stripMargin

  // D2 at scale (SURVEY.md §7.5): the same spatial join WITHOUT an equi
  // crutch — pure "all pairs within 0.15°" — made scalable by geohash
  // bucketing: one side explodes to the 3×3 neighborhood of its
  // precision-4 cell (cell ≥ 0.17° ≥ d in both axes, so the neighborhood
  // provably covers the disk), the other side keeps its single cell, and
  // the join is an equi-join on the cell key. Each candidate pair meets
  // exactly once (the probe's own cell appears once in the neighborhood),
  // so no dedup pass is needed. Result set is byte-identical to the
  // brute-force oracle.
  private val GhPrec = 4 // cell 0.35° × 0.176° ≥ d = 0.15°

  def spatialJoinGeohash(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      col("c_custkey"),
      gf.st_point(lonOf(col("c_custkey")), latOf(col("c_custkey"))).as("cgeom"),
      explode(gf.geohash_neighbors(latOf(col("c_custkey")),
        lonOf(col("c_custkey")), lit(GhPrec))).as("cell"))
    val p = t(s, dir, "part").select(
      col("p_partkey"),
      gf.st_point(lonOf(col("p_partkey")), latOf(col("p_partkey"))).as("pgeom"),
      gf.geohash(latOf(col("p_partkey")), lonOf(col("p_partkey")), lit(GhPrec))
        .as("cell"))
    c.join(p, Seq("cell"))
      .filter(gf.st_dwithin(col("cgeom"), col("pgeom"), lit(0.15)))
      .select(col("c_custkey"), col("p_partkey"),
        gf.st_distance(col("cgeom"), col("pgeom")).as("dist"))
      .orderBy("c_custkey", "p_partkey")
  }

  val spatialJoinGeohashSql: String =
    """WITH c AS (
      |  SELECT c_custkey,
      |    (c_custkey % 3600) / 10.0 - 180.0 AS lon,
      |    (c_custkey % 1700) / 10.0 - 85.0 AS lat
      |  FROM customer),
      |p AS (
      |  SELECT p_partkey,
      |    (p_partkey % 3600) / 10.0 - 180.0 AS lon,
      |    (p_partkey % 1700) / 10.0 - 85.0 AS lat
      |  FROM part)
      |SELECT c.c_custkey, p.p_partkey,
      |  sqrt((c.lon - p.lon) * (c.lon - p.lon)
      |    + (c.lat - p.lat) * (c.lat - p.lat)) AS dist
      |FROM c, p
      |WHERE sqrt((c.lon - p.lon) * (c.lon - p.lon)
      |    + (c.lat - p.lat) * (c.lat - p.lat)) <= 0.15
      |ORDER BY c_custkey, p_partkey""".stripMargin

  // ---- spatial k-nearest-neighbor join ----
  // The other canonical transit query next to the radius join: each
  // query point's K nearest candidates ("which stops serve this
  // vehicle"). Candidates come from a 3×3 neighborhood of a coarse grid
  // cell — but unlike the geohash variant the cell key derives from the
  // INTEGER tenth-degree coordinates directly ((key % 3600) div 50 ≈ 5°
  // cells), so no float ever enters the join key and the candidate set
  // is bit-reproducible in any engine. Coverage contract: every
  // candidate within one cell width (5°) of the query is found, so the
  // top-K is exact whenever the true K-th neighbor is closer than 5° —
  // the spec measures that recall against brute instead of assuming it;
  // a sparser corpus returns fewer than K (data-driven, like
  // simsearch_range). Each (query, part) pair meets exactly once (one
  // (dx, dy) per pair), so no dedup pass. Scale shape: candidates grow
  // with per-cell occupancy; the per-query rank window runs on the ≤3×3
  // cells' members only, partitioned by query — never global. At real
  // scale the cell width follows density, the same tuning axis as the
  // IVF probe count.
  private val SpatialKnnK = 3
  /** Cell width in tenth-degrees (50 ≈ 5°) — the density tuning axis;
    * interpolated into BOTH engines' cell keys so a retune cannot
    * desync the candidate sets (the CusumK/H discipline). */
  private val SpatialKnnCell = 50

  def spatialKnn(s: SparkSession, dir: String): DataFrame = {
    val q = t(s, dir, "customer").filter(col("c_custkey") < 200)
      .select(col("c_custkey"),
        lonOf(col("c_custkey")).as("qlon"), latOf(col("c_custkey")).as("qlat"),
        expr(s"(c_custkey % 3600) div $SpatialKnnCell").as("cx0"),
        expr(s"(c_custkey % 1700) div $SpatialKnnCell").as("cy0"))
      .withColumn("dx", explode(typedLit(Seq(-1L, 0L, 1L))))
      .withColumn("dy", explode(typedLit(Seq(-1L, 0L, 1L))))
      .select(col("c_custkey"), col("qlon"), col("qlat"),
        (col("cx0") + col("dx")).as("cx"), (col("cy0") + col("dy")).as("cy"))
    val p = t(s, dir, "part").select(col("p_partkey"),
      lonOf(col("p_partkey")).as("plon"), latOf(col("p_partkey")).as("plat"),
      expr(s"(p_partkey % 3600) div $SpatialKnnCell").as("cx"),
      expr(s"(p_partkey % 1700) div $SpatialKnnCell").as("cy"))
    val w = Window.partitionBy("c_custkey")
      .orderBy(col("dist"), col("p_partkey"))
    q.join(p, Seq("cx", "cy"))
      .select(col("c_custkey"), col("p_partkey"),
        sqrt((col("qlon") - col("plon")) * (col("qlon") - col("plon"))
          + (col("qlat") - col("plat")) * (col("qlat") - col("plat")))
          .as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= SpatialKnnK)
      .orderBy("c_custkey", "rank")
  }

  val spatialKnnSql: String =
    s"""WITH q AS (
      |  SELECT c_custkey,
      |    (c_custkey % 3600) / 10.0 - 180.0 AS qlon,
      |    (c_custkey % 1700) / 10.0 - 85.0 AS qlat,
      |    (c_custkey % 3600) // $SpatialKnnCell AS cx0,
      |    (c_custkey % 1700) // $SpatialKnnCell AS cy0
      |  FROM customer WHERE c_custkey < 200),
      |qx AS (
      |  SELECT q.c_custkey, q.qlon, q.qlat,
      |    q.cx0 + dx.d AS cx, q.cy0 + dy.d AS cy
      |  FROM q, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)),
      |p AS (
      |  SELECT p_partkey,
      |    (p_partkey % 3600) / 10.0 - 180.0 AS plon,
      |    (p_partkey % 1700) / 10.0 - 85.0 AS plat,
      |    (p_partkey % 3600) // $SpatialKnnCell AS cx,
      |    (p_partkey % 1700) // $SpatialKnnCell AS cy
      |  FROM part),
      |cand AS (
      |  SELECT qx.c_custkey, p.p_partkey,
      |    sqrt((qlon - plon) * (qlon - plon)
      |      + (qlat - plat) * (qlat - plat)) AS dist
      |  FROM qx JOIN p USING (cx, cy)),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |    ORDER BY dist, p_partkey) AS rank
      |  FROM cand)
      |SELECT c_custkey, p_partkey, dist, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= $SpatialKnnK
      |ORDER BY c_custkey, rank""".stripMargin

  // F3/F4/F6: ingest-shaped geo enrichment — geohash + WKB hex. Exact
  // oracle (upgraded from rows-only): the geohash mirror replays the
  // kernel's 35-step lat/lon bisection in a recursive CTE — every
  // midpoint `(lo+hi)/2` is the identical IEEE op on identical doubles,
  // so the bit path matches bit-for-bit (GeohashOps.encode); the WKB hex
  // mirror reconstructs the IEEE754 little-endian bytes arithmetically
  // (exponent by guarded floor(log2), significand by the exact
  // `a * 2^(52-e)` scaling — exact because that product IS the 53-bit
  // significand), matching hex(binary) of the 21-byte point buffer
  // (GeoOps.pointWkb). Unit tests still pin published geohash vectors
  // and the byte layout.
  def geoEnrich(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      gf.geohash(latOf(col("p_partkey")), lonOf(col("p_partkey")), lit(7))
        .as("geohash"),
      gf.st_ashexwkb(gf.st_point(lonOf(col("p_partkey")), latOf(col("p_partkey"))))
        .as("wkb_hex"))
      .orderBy("p_partkey")

  // D2, planner-automatic: the NAIVE dwithin join a user would write — no
  // equi conjunct, no manual bucketing. `plans.SpatialDWithinRewrite`
  // (registered by functions.register) turns it into the geohash-bucketed
  // equi-join at optimization time; PlanSpec asserts it never plans as a
  // cartesian/nested-loop. Same oracle as the hand-bucketed variant.
  def spatialJoinAuto(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      col("c_custkey"),
      gf.st_point(lonOf(col("c_custkey")), latOf(col("c_custkey"))).as("cgeom"))
    val p = t(s, dir, "part").select(
      col("p_partkey"),
      gf.st_point(lonOf(col("p_partkey")), latOf(col("p_partkey"))).as("pgeom"))
    c.join(p, gf.st_dwithin(col("cgeom"), col("pgeom"), lit(0.15)))
      .select(col("c_custkey"), col("p_partkey"),
        gf.st_distance(col("cgeom"), col("pgeom")).as("dist"))
      .orderBy("c_custkey", "p_partkey")
  }

  /** Exact mirror of [[geoEnrich]] — the shared [[GeoSqlMirror]] CTEs
    * (35-step bisection replay + arithmetic IEEE754 byte extraction)
    * over the part-key coordinate formulas. */
  private val geoEnrichSql: String =
    GeoSqlMirror.ctes(
      """SELECT p_partkey,
        |    (p_partkey % 3600) / 10.0 - 180.0 AS lon,
        |    (p_partkey % 1700) / 10.0 - 85.0 AS lat
        |  FROM part""".stripMargin, "p_partkey") +
    s"""
       |SELECT g.p_partkey, g.geohash, wkb.wkb_hex
       |FROM ghs g JOIN wkb USING (p_partkey)
       |ORDER BY p_partkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "schedule_deviation" -> (scheduleDeviation _),
    "reliability" -> (reliability _),
    "spatial_join" -> (spatialJoin _),
    "spatial_join_geohash" -> (spatialJoinGeohash _),
    "spatial_knn" -> (spatialKnn _),
    "spatial_join_auto" -> (spatialJoinAuto _),
    "geo_enrich" -> (geoEnrich _))

  val oracle: Map[String, String] = Map(
    "schedule_deviation" -> scheduleDeviationSql,
    "reliability" -> reliabilitySql,
    "spatial_join" -> spatialJoinSql,
    "spatial_join_geohash" -> spatialJoinGeohashSql,
    "spatial_knn" -> spatialKnnSql,
    "spatial_join_auto" -> spatialJoinGeohashSql,
    "geo_enrich" -> geoEnrichSql)
}
