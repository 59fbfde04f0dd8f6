package perfbench

import java.io.{File, PrintWriter}
import graft.streaming.FeedGen.W
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input the program sees is a pure
  * function of the seed passed here; nothing is read from outside the
  * run directory. */
object Gen {

  /** splitmix64: a stateless hash that turns (seed, stream, index) into
    * an independent uniform 64-bit value. */
  def mix(seed: Long, a: Long, b: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(seed: Long, a: Long, b: Long = 0L): Double =
    (mix(seed, a, b) >>> 11).toDouble / (1L << 53).toDouble

  // ---- GTFS-rt fleet -------------------------------------------------

  /** A fleet of vehicles moving on straight lines through Toronto. Each
    * path is driven by `tripsPerPath` vehicles (the trips of one line);
    * tick `k` puts a path's vehicles at `start + k * step`. One path in
    * ten dwells (zero step), so its pings pile up on the same stops. */
  final case class Fleet(seed: Long, vehicles: Int, routes: Int = 40,
      tripsPerPath: Int = 4) {
    def path(v: Int): Int = v / tripsPerPath
    def paths: Int = (vehicles + tripsPerPath - 1) / tripsPerPath
    private def u(v: Int, stream: Int) = unit(seed, v.toLong, stream.toLong)
    private def pu(v: Int, stream: Int) = u(path(v), stream)
    def dwells(v: Int): Boolean = path(v) % 10 == 7
    def lat(v: Int, k: Int): Float =
      (43.62 + 0.16 * pu(v, 1) + (if (dwells(v)) 0.0 else k * (pu(v, 3) - 0.5) * 0.002)).toFloat
    def lon(v: Int, k: Int): Float =
      (-79.55 + 0.30 * pu(v, 2) + (if (dwells(v)) 0.0 else k * (pu(v, 4) - 0.5) * 0.003)).toFloat
    def tripId(v: Int): String = s"trip_$v"
    def routeId(v: Int): String = s"route_${path(v) % routes}"
    def vehicleId(v: Int): String = s"veh_$v"

    /** One FeedMessage: every vehicle at position index `k`, each with its
      * own epoch-second timestamp `ts(v)`. */
    def feed(k: Int, headerTs: Long, ts: Int => Long): Array[Byte] = {
      val msg = new W().msg(1, new W().str(1, "2.0").uint(3, headerTs))
      var v = 0
      while (v < vehicles) {
        val trip = new W().str(1, tripId(v)).str(5, routeId(v)).uint(6, v % 2)
        val pos = new W().float32(1, lat(v, k)).float32(2, lon(v, k))
          .float32(3, (360 * u(v, 5)).toFloat).float32(5, (25 * u(v, 6)).toFloat)
        val vp = new W().msg(1, trip).msg(2, pos).uint(5, ts(v))
          .msg(8, new W().str(1, vehicleId(v)))
        msg.msg(2, new W().str(1, s"e$v").msg(4, vp))
        v += 1
      }
      msg.bytes
    }
  }

  // ---- GTFS static dims matching a fleet -----------------------------

  /** Route types: 3 (bus) and 700 (bus service) are kept by the flagship,
    * the rest (tram, subway, rail, ferry) are filtered out. */
  private val RouteTypes = Seq(3, 700, 3, 0, 700, 1, 3, 2, 700, 4)

  /** Writes routes/trips/stops/stop_times CSVs whose stops sit on the
    * fleet's paths at position indices `0, stride, 2*stride, ...` (below
    * `ticksPerDay`), each stop served by every trip of its path and
    * scheduled near the time the trip passes.
    * `passTod(v, k)` is the vehicle's nominal time of day at index k.
    * Mixed in so every flagship filter does work: route types outside
    * (3, 700); next-day "25:10:00"-style times; off-schedule stop events
    * beyond the ±600 s clamp; and dwelling vehicles whose repeated pings
    * produce duplicate candidates per stop event. */
  def writeGtfsDims(dir: File, fleet: Fleet, ticksPerDay: Int, stride: Int,
      passTod: (Int, Int) => Int): Unit = {
    dir.mkdirs()
    def csv(name: String, header: String)(rows: PrintWriter => Unit): Unit = {
      val p = new PrintWriter(new File(dir, name), "UTF-8")
      try { p.println(header); rows(p) } finally p.close()
    }
    val seed = fleet.seed
    csv("routes.txt", "route_id,route_short_name,route_type") { p =>
      (0 until fleet.routes).foreach { r =>
        p.println(s"route_$r,${100 + r},${RouteTypes(r % RouteTypes.length)}")
      }
    }
    csv("trips.txt", "trip_id,route_id") { p =>
      (0 until fleet.vehicles).foreach(v => p.println(s"${fleet.tripId(v)},${fleet.routeId(v)}"))
    }
    def stopId(v: Int, k: Int): String = f"${fleet.path(v) * 1000 + k}%07d" // numeric-looking
    val ks = 0 until ticksPerDay by stride
    csv("stops.txt", "stop_id,stop_lat,stop_lon") { p =>
      for (v <- 0 until fleet.vehicles by fleet.tripsPerPath; k <- ks) {
        // within 0.0002° of the ping (planar), never exactly on it
        val dLat = (unit(seed, v, 1000 + k) - 0.5) * 0.0001
        val dLon = (unit(seed, v, 2000 + k) - 0.5) * 0.0001
        p.println(s"${stopId(v, k)},${fleet.lat(v, k).toDouble + dLat},${fleet.lon(v, k).toDouble + dLon}")
      }
    }
    def hms(s: Int): String = f"${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
    csv("stop_times.txt", "trip_id,stop_id,stop_sequence,arrival_time") { p =>
      for (v <- 0 until fleet.vehicles; k <- ks) {
        val r = unit(seed, v, 3000 + k)
        val offset =
          if (r < 0.05) 900 + (unit(seed, v, 4000 + k) * 3000).toInt // off-schedule
          else ((unit(seed, v, 5000 + k) - 0.5) * 480).toInt
        val tod = passTod(v, k) + offset
        val arrival =
          if (r > 0.97) hms(86400 + math.floorMod(tod, 86400) % 43200) // 24:00-35:59
          else hms(math.floorMod(tod, 86400))
        p.println(s"${fleet.tripId(v)},${stopId(v, k)},${k + 1},$arrival")
      }
    }
  }

  // ---- the catalog's star schema -------------------------------------

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(Long.MaxValue))
  private def pick(seed: Long, salt: Int, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(h(seed, salt, id), lit(xs.length)) + 1).cast("int"))
  private def frac(seed: Long, salt: Int, id: Column): Column =
    pmod(h(seed, salt, id), lit(1000000L)) / 1e6

  private val Words = Seq("a", "the", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "key", "data", "column", "join", "small", "big",
    "customer", "query", "order", "stream", "group", "filter", "vector")

  /** The catalog tables the benchmark's queries and the MV read
    * (`customer`, `orders`, `lineitem`, `events`, `documents`), in the
    * layout and value ranges of the catalog's test tables, at `scale`
    * (1.0 ≙ 6 M lineitem rows). One parquet directory per table. */
  def writeStarSchema(spark: SparkSession, dir: String, scale: Double, seed: Long): Unit = {
    val nCust = math.max(150, (150000 * scale).toLong)
    val nOrd = nCust * 10
    val nPart = math.max(200, (200000 * scale).toLong)
    val nSupp = math.max(10, (10000 * scale).toLong)
    val nEvents = math.max(1000, (1000000 * scale).toLong)
    val nDocs = math.max(50, (50000 * scale).toLong)
    val id = col("id")
    def save(df: DataFrame, name: String, parts: Int = 1): Unit =
      df.coalesce(parts).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(h(seed, 2, id), lit(25)).cast("int").as("c_nationkey"),
      round(frac(seed, 3, id) * 10999 - 999, 2).as("c_acctbal"),
      pick(seed, 4, id, Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING",
        "HOUSEHOLD")).as("c_mktsegment")), "customer")
    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400L
    save(spark.range(nOrd).select(id.as("o_orderkey"),
      pmod(h(seed, 12, id), lit(nCust)).as("o_custkey"),
      pick(seed, 13, id, Seq("F", "O", "P")).as("o_orderstatus"),
      round(frac(seed, 14, id) * 400000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(lit(day0) + pmod(h(seed, 15, id), lit(2404L)) * 86400)
        .as("o_orderdate"),
      pick(seed, 16, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), "orders", 2)
    val li = spark.range(nOrd * 4).select(
      (id / 4).as("l_orderkey"), (id % 4 + 1).cast("int").as("l_linenumber"), id.as("k"))
    save(li.select(col("l_orderkey"),
      pmod(h(seed, 17, col("k")), lit(nPart)).as("l_partkey"),
      pmod(h(seed, 18, col("k")), lit(nSupp)).as("l_suppkey"),
      col("l_linenumber"),
      (pmod(h(seed, 19, col("k")), lit(50)) + 1).cast("double").as("l_quantity"),
      round(frac(seed, 20, col("k")) * 90000 + 900, 2).as("l_extendedprice"),
      (pmod(h(seed, 21, col("k")), lit(11)) / 100.0).as("l_discount"),
      (pmod(h(seed, 22, col("k")), lit(9)) / 100.0).as("l_tax"),
      pick(seed, 23, col("k"), Seq("R", "A", "N")).as("l_returnflag"),
      pick(seed, 24, col("k"), Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(day0 + 86400) + pmod(h(seed, 25, col("k")), lit(2499L)) * 86400)
        .as("l_shipdate")), "lineitem", 4)
    save(events(spark, 0L, nEvents, nCust, seed), "events", 2)
    val nWords = (lit(8) + pmod(h(seed, 30, id), lit(80))).cast("int")
    save(spark.range(nDocs).select(id.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), nWords), i =>
        element_at(array(Words.map(lit): _*),
          (pmod(xxhash64(lit(seed), lit(31), id, i), lit(Words.length)) + 1).cast("int"))))
        .as("text"),
      pick(seed, 32, id, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), pmod(h(seed, 33, id), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")
  }

  /** `events` rows with ids in [from, until): a month of timestamps,
    * users drawn from the customer key range. */
  def events(spark: SparkSession, from: Long, until: Long, nUsers: Long,
      seed: Long): DataFrame = {
    val id = col("id")
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
    spark.range(from, until).select(id.as("event_id"),
      timestamp_micros(lit(t0) + pmod(h(seed, 26, id), lit(30L * 86400L * 1000000L))).as("ts"),
      pmod(h(seed, 27, id), lit(nUsers)).as("user_id"),
      pick(seed, 28, id, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      round(frac(seed, 29, id) * 490 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", pmod(h(seed, 36, id), lit(100))).as("props"))
  }
}
