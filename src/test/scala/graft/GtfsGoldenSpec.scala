package graft

import java.nio.file.Files
import graft.expr.StatsOps
import graft.ops.Gtfs
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Golden pipeline test (SURVEY.md §5 item 4 / FIXTURES.md §2): a tiny
  * hand-computed GTFS fixture through the real-schema flagship query.
  *
  * Fixture design (all at stop coordinates within 0.0002°):
  *  - route R1 (type 3, kept) with trip T1; route R2 (type 1, DROPPED by C6)
  *    with trip T2;
  *  - T1 stops: S1 @ 08:00:00 (seq 1), S2 @ 08:10:00 (seq 2),
  *    S2 @ 25:10:00 (seq 9, DROPPED by the C5 regexp);
  *  - pings for T1 near S1: 07:59:30 (diff −30) and 08:01:30 (diff +90)
  *    → same scheduled stop event gets TWO qualifying pings only if both
  *    are within 0.0002° — we place both at S1, so E2 dedup keeps the
  *    closest (|−30| < |90| → −30)... to exercise a real aggregate we add
  *    a second scheduled visit via arrival 08:02:00 at S1 (seq 3);
  *  - a far ping (0.01° away, DROPPED by F5) and an out-of-clamp ping
  *    (diff 1200 s, DROPPED by C7);
  *  - S2 gets exactly one ping → stddev NULL → dropped by C9 in
  *    reliability but present in the deviation output.
  */
class GtfsGoldenSpec extends SparkSpec {
  import spark.implicits._

  private def ts(hms: String) =
    java.sql.Timestamp.valueOf(s"2024-03-05 $hms")

  /** (routes, trips, stop_times, stops, positions) */
  private lazy val fixture = {
    val routes = Seq(("R1", "10", 3), ("R2", "20", 1))
      .toDF("route_id", "route_short_name", "route_type")
    val trips = Seq(("T1", "R1"), ("T2", "R2")).toDF("trip_id", "route_id")
    val stopTimes = Seq(
      ("T1", "S1", 1, "08:00:00"),
      ("T1", "S1", 3, "08:02:00"),
      ("T1", "S2", 2, "08:10:00"),
      ("T1", "S2", 9, "25:10:00"), // C5: dropped
      ("T2", "S1", 1, "08:00:00")) // route_type 1: dropped
      .toDF("trip_id", "stop_id", "stop_sequence", "arrival_time")
    val stops = Seq(
      ("S1", 43.65000, -79.38000),
      ("S2", 43.66000, -79.39000))
      .toDF("stop_id", "stop_lat", "stop_lon")
    val positions = Seq(
      ("T1", ts("07:59:30"), -79.38000, 43.65000), // S1 diff −30 (seq1) / −150 (seq3)
      ("T1", ts("08:01:30"), -79.38005, 43.65005), // S1 diff +90 (seq1) / −30 (seq3)
      ("T1", ts("08:20:00"), -79.38000, 43.65000), // S1 diff 1200: C7 dropped
      ("T1", ts("08:09:00"), -79.39000, 43.66000), // S2 diff −60
      ("T1", ts("08:00:00"), -79.39000, 43.64000), // far from both stops: F5 dropped
      ("T2", ts("08:00:00"), -79.38000, 43.65000)) // dropped route type
      .toDF("trip_id", "ts", "lon", "lat")
      .select(col("trip_id"), col("ts").as("timestamp"),
        graft.expr.functions.st_point(col("lon"), col("lat")).as("geometry"))
    (routes, trips, stopTimes, stops, positions)
  }

  private lazy val result = {
    val (routes, trips, stopTimes, stops, positions) = fixture
    Gtfs.scheduleDeviation(routes, trips, stopTimes, stops, positions)
  }

  test("golden: per-stop aggregates match hand computation") {
    val rows = result.collect().map(r => r.getAs[String]("stop_id") -> r).toMap
    assert(rows.keySet == Set("S1", "S2"))

    // S1: stop events (T1,S1,08:00:00,1) → pings diff {−30, +90} → keep −30;
    //     (T1,S1,08:02:00,3) → pings diff {−150, −30} → keep −30.
    // count 2, avg −30, stddev_samp of {−30, −30} = 0.
    val s1 = rows("S1")
    assert(s1.getAs[Long]("count") == 2)
    assert(s1.getAs[Double]("avg_diff") == -30.0)
    assert(s1.getAs[Double]("stddev_diff") == 0.0)

    // S2: single event (T1,S2,08:10:00,2) with one in-clamp ping (−60);
    // the 25:10:00 event is excluded by C5. 1 sample → stddev NULL.
    val s2 = rows("S2")
    assert(s2.getAs[Long]("count") == 1)
    assert(s2.getAs[Double]("avg_diff") == -60.0)
    assert(s2.isNullAt(s2.fieldIndex("stddev_diff")))
  }

  test("golden: geometry hex is the stop's 21-byte WKB point") {
    val s1 = result.filter(col("stop_id") === "S1").collect().head
    val hex = s1.getAs[String]("geom_hex")
    assert(hex.length == 42 && hex.startsWith("0101000000"))
    val b = hex.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(graft.expr.GeoOps.wkbX(b) == -79.38 && graft.expr.GeoOps.wkbY(b) == 43.65)
  }

  test("golden: reliability keeps only multi-sample stops with σ > 0") {
    // S1 has σ = 0 → dropped; S2 has NULL σ → dropped ⇒ empty here.
    assert(Gtfs.reliability(result).count() == 0)

    // Widen the window by hand to get a nonzero-σ group and check Φ math:
    val two = Seq(("X", 30.0, 84.85281374238571)) // σ of {−30, 90}
      .toDF("stop_id", "avg_diff", "stddev_diff")
    val rel = Gtfs.reliability(
      two.withColumn("count", lit(2L))
        .withColumn("stop_loc", graft.expr.functions.st_point(lit(0.0), lit(0.0)))
        .withColumn("geom_hex", lit("")))
      .collect().head.getAs[Double]("reliability")
    val expect = StatsOps.normalCdf((300.0 - 30.0) / 84.85281374238571) -
      StatsOps.normalCdf((-60.0 - 30.0) / 84.85281374238571)
    assert(rel == expect)
    assert(rel > 0.84 && rel < 0.86) // sanity: Φ(3.18) − Φ(−1.06)
  }

  test("golden: agency timezone reproduces the notebook's local-time semantics") {
    // Same fixture, but position instants are true UTC epochs: 2024-03-05
    // is EST (UTC-5), so 07:59:30 America/Toronto = 12:59:30Z. With
    // timezone="America/Toronto" the deviation output must be identical to
    // the session-UTC golden run.
    val routes = Seq(("R1", "10", 3)).toDF("route_id", "route_short_name", "route_type")
    val trips = Seq(("T1", "R1")).toDF("trip_id", "route_id")
    val stopTimes = Seq(
      ("T1", "S1", 1, "08:00:00"),
      ("T1", "S1", 3, "08:02:00"),
      ("T1", "S2", 2, "08:10:00"))
      .toDF("trip_id", "stop_id", "stop_sequence", "arrival_time")
    val stops = Seq(
      ("S1", 43.65000, -79.38000),
      ("S2", 43.66000, -79.39000))
      .toDF("stop_id", "stop_lat", "stop_lon")
    val positions = Seq(
      ("T1", ts("12:59:30"), -79.38000, 43.65000), // 07:59:30 Toronto
      ("T1", ts("13:01:30"), -79.38005, 43.65005), // 08:01:30 Toronto
      ("T1", ts("13:09:00"), -79.39000, 43.66000)) // 08:09:00 Toronto
      .toDF("trip_id", "ts", "lon", "lat")
      .select(col("trip_id"), col("ts").as("timestamp"),
        graft.expr.functions.st_point(col("lon"), col("lat")).as("geometry"))
    val rows = Gtfs.scheduleDeviation(routes, trips, stopTimes, stops,
      positions, timezone = "America/Toronto")
      .collect().map(r => r.getAs[String]("stop_id") -> r).toMap
    assert(rows.keySet == Set("S1", "S2"))
    assert(rows("S1").getAs[Long]("count") == 2)
    assert(rows("S1").getAs[Double]("avg_diff") == -30.0)
    assert(rows("S2").getAs[Double]("avg_diff") == -60.0)
  }

  test("A3: CSV load keeps numeric-looking stop_id a string") {
    val dir = Files.createTempDirectory("graft-gtfs").toString
    Seq(("10280", 43.6, -79.3), ("00042", 43.7, -79.4))
      .toDF("stop_id", "stop_lat", "stop_lon")
      .coalesce(1).write.option("header", "true").csv(s"$dir/stops")
    val back = Gtfs.readGtfsCsv(spark, s"$dir/stops")
    assert(back.schema("stop_id").dataType.typeName == "string")
    // leading zeros survive: the id is never read as a number
    assert(back.filter(col("stop_id") === "00042").count() == 1)
    assert(back.filter(col("stop_id") === "42").count() == 0)
    assert(back.schema("stop_lat").dataType.typeName == "double")
  }

  /** Every node of an executed plan, looking through adaptive wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("join layout: positions stream against broadcast dims, no broadcast when disabled") {
    // the fixture as files: dims through readGtfsCsv, positions a parquet scan
    val dir = Files.createTempDirectory("graft-gtfs-plan").toString
    val (routes, trips, stopTimes, stops, positions) = fixture
    Seq("routes" -> routes, "trips" -> trips, "stop_times" -> stopTimes, "stops" -> stops)
      .foreach { case (n, df) =>
        df.coalesce(1).write.option("header", "true").csv(s"$dir/$n")
      }
    positions.write.parquet(s"$dir/positions")
    def run(): (Seq[String], Seq[SparkPlan]) = {
      def dim(n: String) = Gtfs.readGtfsCsv(spark, s"$dir/$n")
      val dev = Gtfs.scheduleDeviation(dim("routes"), dim("trips"), dim("stop_times"),
        dim("stops"), spark.read.parquet(s"$dir/positions"))
      val rows = dev.collect().map(_.toString).toSeq.sorted
      (rows, nodes(dev.queryExecution.executedPlan))
    }
    def isPositionsScan(p: SparkPlan) = p match {
      case f: FileSourceScanExec => f.relation.fileFormat.isInstanceOf[ParquetFileFormat]
      case _ => false
    }
    val golden = result.collect().map(_.toString).toSeq.sorted

    // default threshold: the st_dwithin join builds the broadcast dims
    val (rows, plan) = run()
    assert(rows == golden)
    val dwithin = plan.collect {
      case j: BroadcastHashJoinExec if j.condition.exists(_.toString.contains("dwithin")) => j
    }
    assert(dwithin.size == 1, plan.mkString("\n"))
    val (build, stream) = dwithin.head.buildSide match {
      case BuildLeft => (dwithin.head.left, dwithin.head.right)
      case BuildRight => (dwithin.head.right, dwithin.head.left)
    }
    assert(nodes(build).exists(_.isInstanceOf[FileSourceScanExec]) &&
      !nodes(build).exists(isPositionsScan))
    assert(nodes(stream).exists(isPositionsScan))
    val broadcastScans = plan.collect { case b: BroadcastExchangeLike => nodes(b) }.flatten
    assert(!broadcastScans.exists(isPositionsScan))

    // a disabled threshold: no broadcast anywhere, same rows
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val (off, offPlan) = run()
      assert(off == golden)
      assert(!offPlan.exists(_.isInstanceOf[BroadcastExchangeLike]), offPlan.mkString("\n"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
