package graft

import java.nio.file.Files
import java.time.{LocalDate, ZoneId}
import graft.expr.StatsOps
import graft.expr.{functions => gf}
import graft.ops.{Gtfs, IngestOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

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

  test("the st_dwithin join condition computes no time of day") {
    val (routes, trips, stopTimes, stops, positions) = fixture
    val dev = Gtfs.scheduleDeviation(routes, trips, stopTimes, stops, positions,
      timezone = "America/Toronto")
    // the physical plan before adaptive execution, which may fold this
    // fixture's empty Toronto-time join away
    val plan = dev.queryExecution.sparkPlan
    val conds = nodes(plan).collect {
      case j: BaseJoinExec if j.condition.exists(_.toString.contains("dwithin")) =>
        j.condition.get.toString
    }
    assert(conds.size == 1, plan)
    for (f <- Seq("split(", "hour(", "from_utc_timestamp("))
      assert(!conds.head.contains(f), s"$f in the join condition: ${conds.head}")
    assert(dev.columns.toSeq == Seq("stop_id", "count", "avg_diff", "stddev_diff", "geom_hex"))
  }

  /** [[Gtfs.scheduleDeviation]] with both time-of-day terms computed per
    * joined pair, in `diff` and so in the ±600 s condition pushed into the
    * join: the form the per-row helper columns replace. */
  private def perPair(routes: DataFrame, trips: DataFrame, stopTimes: DataFrame,
      stops: DataFrame, positions: DataFrame, timezone: String): DataFrame = {
    val dims = routes.filter(col("route_type").isin(700, 3))
      .join(trips, "route_id")
      .join(stopTimes.filter(!col("arrival_time").rlike("^(2[4-9]|3[0-5]):")), "trip_id")
      .join(stops.withColumn("stop_loc", gf.st_point(col("stop_lon"), col("stop_lat"))),
        "stop_id")
    val joined = dims.join(positions, dims("trip_id") === positions("trip_id") &&
      gf.st_dwithin(positions("geometry"), dims("stop_loc"), lit(0.0002)))
    val w = Window.partitionBy(dims("trip_id"), col("stop_id"), col("arrival_time"),
      col("stop_sequence")).orderBy(abs(col("diff")), col("diff"), positions("timestamp"))
    joined
      .withColumn("diff", (Gtfs.todSecondsTs(from_utc_timestamp(positions("timestamp"),
        timezone)) - Gtfs.todSecondsStr(col("arrival_time"))).cast("long"))
      .filter(col("diff").between(-600, 600))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("stop_id"), col("stop_loc"))
      .agg(count(col("diff")).as("count"), avg(col("diff")).as("avg_diff"),
        stddev_samp(col("diff")).as("stddev_diff"))
      .withColumn("geom_hex", gf.st_ashexwkb(col("stop_loc")))
      .drop("stop_loc")
  }

  /** Stop coordinates of the generated fixtures. */
  private val stopsAt = Map("S1" -> (43.65, -79.38), "S2" -> (43.66, -79.39),
    "S3" -> (43.67, -79.40))

  /** (trip_id, stop_id, stop_sequence, arrival_time) rows in every
    * generated fixture: a one-digit hour with pings exactly ±600 s off (a
    * tie on |diff|), a ±45 s tie plus a 601 s ping, a NULL and two
    * malformed arrival times, and a next-day time. */
  private val edgeStopTimes = Seq[(String, String, Int, String)](
    ("T1", "S1", 1, "8:00:00"), ("T1", "S2", 2, "08:30:00"), ("T1", "S3", 3, null),
    ("T1", "S3", 4, "08:4x:00"), ("T2", "S3", 5, "0845"), ("T2", "S1", 6, "9:05:30"),
    ("T2", "S2", 7, "25:10:00"))

  /** (stop_time index, offset s, near the stop) of the edge pings. */
  private val edgePings = Seq((0, -600, true), (0, 600, true), (1, 45, true),
    (1, -45, true), (1, 601, true), (2, 0, true), (3, 10, true), (4, 5, true),
    (5, -600, true), (5, 30, false), (6, 0, true))

  private val arrival: Gen[String] = Gen.frequency(
    6 -> (for { h <- Gen.choose(0, 23); m <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
                wide <- Gen.oneOf(true, false) }
      yield (if (wide) f"$h%02d" else h.toString) + f":$m%02d:$s%02d"),
    1 -> Gen.oneOf("24:00:00", "7:6:5", "08:00", "", "ab:cd:ef"),
    1 -> Gen.const(null: String))

  /** (stop_times, pings as (stop_time index, offset s, near)) */
  private val fixtureGen = for {
    nSt <- Gen.choose(1, 12)
    st <- Gen.listOfN(nSt, for {
      trip <- Gen.oneOf("T1", "T2", "T3")
      stop <- Gen.oneOf(stopsAt.keys.toSeq.sorted)
      seq <- Gen.choose(10, 40)
      a <- arrival
    } yield (trip, stop, seq, a))
    nP <- Gen.choose(0, 30)
    pings <- Gen.listOfN(nP, for {
      i <- Gen.choose(0, edgeStopTimes.size + nSt - 1)
      d <- Gen.oneOf(Gen.choose(-700, 700), Gen.oneOf(-601, -600, 600, 601))
      near <- Gen.frequency(5 -> true, 1 -> false)
    } yield (i, d, near))
  } yield (edgeStopTimes ++ st, edgePings ++ pings)

  /** Seconds of day of a well-formed arrival time; any other time gets a
    * fixed one, so its pings still land somewhere. */
  private def arrivalSeconds(a: String): Int =
    Option(a).map(_.split(":", -1)).filter(_.length == 3)
      .flatMap(p => scala.util.Try(p(0).toInt * 3600 + p(1).toInt * 60 + p(2).toInt).toOption)
      .getOrElse(8 * 3600)

  test("time of day once per row equals the per-pair form (property)") {
    import spark.implicits._
    val routes = Seq(("R1", 3), ("R2", 700), ("R3", 1)).toDF("route_id", "route_type")
    val trips = Seq(("T1", "R1"), ("T2", "R2"), ("T3", "R3")).toDF("trip_id", "route_id")
    val stops = stopsAt.toSeq.map { case (id, (la, lo)) => (id, la, lo) }
      .toDF("stop_id", "stop_lat", "stop_lon")
    val day = LocalDate.of(2024, 3, 5)
    var matched = 0L
    for (tz <- Seq("America/Toronto", "Asia/Kolkata", "UTC")) {
      val prop = Prop.forAllNoShrink(fixtureGen) { case (st, pings) =>
        val stopTimes = st.toDF("trip_id", "stop_id", "stop_sequence", "arrival_time")
        val positions = pings.map { case (i, d, near) =>
          val (trip, stop, _, a) = st(i)
          val (la, lo) = stopsAt(stop)
          // the ping's instant: its wall-clock time of day in `tz`
          val epoch = day.atStartOfDay(ZoneId.of(tz)).plusSeconds(arrivalSeconds(a) + d)
            .toEpochSecond
          (trip, epoch, lo + (if (near) 0.0001 else 0.01), la)
        }.toDF("trip_id", "epoch", "lon", "lat")
          .select(col("trip_id"), timestamp_seconds(col("epoch")).as("timestamp"),
            gf.st_point(col("lon"), col("lat")).as("geometry"))
        def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.getString(0))
        val got = rows(Gtfs.scheduleDeviation(routes, trips, stopTimes, stops, positions,
          timezone = tz))
        val want = rows(perPair(routes, trips, stopTimes, stops, positions, tz))
        matched += got.map(_.getLong(1)).sum
        got.size == want.size && got.zip(want).forall { case (g, w) =>
          g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1) &&
            g.getDouble(2) == w.getDouble(2) && g.getString(4) == w.getString(4) &&
            (g.isNullAt(3) && w.isNullAt(3) ||
              !g.isNullAt(3) && !w.isNullAt(3) && math.abs(g.getDouble(3) - w.getDouble(3)) <= 1e-9)
        }
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(3)
        .withInitialSeed(Seed(tz.hashCode.toLong)), prop)
      assert(res.passed, s"$tz: ${res.status}")
    }
    assert(matched > 0, "no generated ping matched a stop; the property shows nothing")
  }

  test("flagship over a lake ingested in an agency timezone takes the default timezone") {
    import spark.implicits._
    // 07:59:30, 08:01:30 and 08:09:00 America/Toronto (EST, UTC-5), the
    // golden fixture's pings, as the epochs a feed carries
    val tor = ZoneId.of("America/Toronto")
    def epoch(hms: String) =
      java.time.LocalDateTime.parse(s"2024-03-05T$hms").atZone(tor).toEpochSecond
    val decoded = Seq(("T1", epoch("07:59:30"), -79.38000, 43.65000),
      ("T1", epoch("08:01:30"), -79.38005, 43.65005),
      ("T1", epoch("08:09:00"), -79.39000, 43.66000))
      .toDF("trip_id", "timestamp", "longitude", "latitude")
    val lake = Files.createTempDirectory("graft-gtfs-tz-lake").toString
    IngestOps.writeHive(IngestOps.enrich(decoded, timezone = "America/Toronto"), lake)
    // the notebook's `locations` view over the lake, as lake_day reads it
    val positions = spark.read.parquet(lake)
      .select(col("trip_id"), col("event_ts").as("timestamp"), col("geometry"))
    val (routes, trips, stopTimes, stops, _) = fixture
    def run(tz: String) = Gtfs.scheduleDeviation(routes, trips, stopTimes, stops,
      positions, timezone = tz).collect().map(r => r.getAs[String]("stop_id") -> r).toMap

    // event_ts is already Toronto wall clock: the default timezone gives
    // the golden deviations
    val rows = run("UTC")
    assert(rows.keySet == Set("S1", "S2"))
    assert(rows("S1").getAs[Long]("count") == 2)
    assert(rows("S1").getAs[Double]("avg_diff") == -30.0)
    assert(rows("S2").getAs[Double]("avg_diff") == -60.0)
    // the agency zone a second time shifts every ping 5 h back: nothing
    // stays within ±600 s of its stop time
    assert(run("America/Toronto").isEmpty)
  }
}
