package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.ops.{CompactOps, IngestOps}
import org.apache.spark.graftspec.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Cost pins: the number of Spark jobs one call runs. A pin is the value
  * measured when it was set; lower it only when a change removes work. */
class BudgetSpec extends SparkSpec {

  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    Bus.drain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; Bus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  /** 400 decoded pings on 2024-03-05 (UTC), in 4 input partitions. */
  private def oneDay = IngestOps.enrich(spark.range(0, 400, 1, 4).select(
    concat(lit("trip_"), (col("id") % 7).cast("string")).as("trip_id"),
    lit("route_1").as("route_id"), lit("0").as("direction_id"),
    concat(lit("veh_"), col("id").cast("string")).as("vehicle_id"),
    (lit(43.0) + col("id") / 1000.0).as("latitude"),
    (lit(-79.7) + col("id") / 1000.0).as("longitude"),
    lit(0.0).as("bearing"), lit(0.0).as("speed"),
    (lit(1709650000L) + col("id")).as("timestamp")))

  test("job budget: one writeHive of a 4-partition frame into one day, one compact") {
    val hot = Files.createTempDirectory("graft-budget-hot").toString
    val day = s"$hot/year=2024/month=3/day=5"
    val write = jobs(IngestOps.writeHive(oneDay, hot))
    assert(new java.io.File(day).listFiles().count(_.getName.endsWith(".parquet")) == 4)
    assert(write == 1, s"writeHive ran $write jobs")

    val cold = Files.createTempDirectory("graft-budget-cold").toString
    val compact = jobs(CompactOps.compact(spark, day, cold))
    // the write, whose one task also scans and z-sorts the day (no
    // shuffle); the input schema comes from a footer read on the driver,
    // not an inference job
    assert(compact == 1, s"compact ran $compact jobs")
  }

  test("job budget: one GTFS CSV read") {
    val dir = Files.createTempDirectory("graft-budget-gtfs").toFile
    val f = new java.io.File(dir, "stop_times.txt")
    Files.write(f.toPath, ("trip_id,stop_id,stop_sequence,arrival_time\n" +
      "T1,00042,1,08:00:00\nT1,10280,2,08:10:00\n").getBytes("UTF-8"))
    val read = jobs(graft.ops.Gtfs.readGtfsCsv(spark, f.getPath))
    // the header comes from the first line on the driver, and there is
    // no schema-inference scan
    assert(read == 0, s"readGtfsCsv ran $read jobs")
  }

  test("job budget: one Gtfs.scheduleDeviation collect") {
    val dir = Files.createTempDirectory("graft-budget-flagship").toFile
    def csv(name: String, lines: String*): String = {
      val f = new java.io.File(dir, s"$name.txt")
      Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      f.getPath
    }
    // stops at the pings of ids 0, 100 and 200 (trip_0, trip_2, trip_4),
    // scheduled 10 s after them
    val paths = Seq(
      csv("routes", "route_id,route_type", "route_1,3"),
      csv("trips", "route_id,trip_id" +: (0 until 7).map(t => s"route_1,trip_$t"): _*),
      csv("stop_times", "trip_id,stop_id,stop_sequence,arrival_time",
        "trip_0,S0,1,14:46:50", "trip_2,S1,1,14:48:30", "trip_4,S2,1,14:50:10"),
      csv("stops", "stop_id,stop_lat,stop_lon", "S0,43.0,-79.7", "S1,43.1,-79.6",
        "S2,43.2,-79.5"))
    val lake = Files.createTempDirectory("graft-budget-flagship-lake").toString
    IngestOps.writeHive(oneDay, lake)
    val Seq(routes, trips, stopTimes, stops) =
      paths.map(graft.ops.Gtfs.readGtfsCsv(spark, _))
    // the notebook's `locations` view over the lake, as lake_day reads it
    val positions = spark.read.parquet(lake)
      .select(col("trip_id"), col("event_ts").as("timestamp"), col("geometry"))
    var matched = 0L
    val run = jobs {
      matched = graft.ops.Gtfs.scheduleDeviation(routes, trips, stopTimes, stops, positions)
        .collect().map(_.getAs[Long]("count")).sum
    }
    assert(matched == 3)
    // four one-task jobs build the dims chain's broadcasts (its three
    // joins' small sides and the chain itself); three run over the
    // positions' 4 partitions, through the window's and the per-stop
    // aggregate's shuffles to the result
    assert(run == 7, s"one scheduleDeviation collect ran $run jobs")
  }

  test("job budget: one FlagshipStream.applyBatch trigger") {
    import graft.streaming.FlagshipStream
    val stateDir = Files.createTempDirectory("graft-budget-mv").toString
    val events = Tables(spark, sf0001, "events")
    // batch 0 publishes the first version; batch 1 is a steady-state
    // trigger: read the base, fold the batch's candidates, publish
    FlagshipStream.applyBatch(events.filter(col("event_id") % 2 === 0), 0, sf0001, stateDir)
    val trigger = jobs(FlagshipStream.applyBatch(
      events.filter(col("event_id") % 2 === 1), 1, sf0001, stateDir))
    assert(trigger == 9, s"one applyBatch trigger ran $trigger jobs")
  }

  test("job budget: one poll trigger") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.streaming.{FeedGen, HttpFeedSource}
    import org.apache.spark.sql.streaming.Trigger
    val feed = FeedGen.vehicleFeed(50, 1709650000L) // 2024-03-05 UTC
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/feed", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        x.sendResponseHeaders(200, feed.length)
        try x.getResponseBody.write(feed) finally x.close()
      }
    })
    server.start()
    val lake = Files.createTempDirectory("graft-budget-poll").toString
    val ckpt = Files.createTempDirectory("graft-budget-poll-ckpt").toString
    try {
      // AvailableNow: one poll, one batch, then the query stops
      val poll = jobs(HttpFeedSource.pollQueryV2(spark,
        s"http://127.0.0.1:${server.getAddress.getPort}/feed", lake, ckpt,
        trigger = Trigger.AvailableNow()).awaitTermination())
      assert(spark.read.parquet(lake).count() == 50)
      // the lake write, and nothing else
      assert(poll == 1, s"one poll trigger ran $poll jobs")
    } finally server.stop(0)
  }
}
