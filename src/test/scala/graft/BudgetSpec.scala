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
