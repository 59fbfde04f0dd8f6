package graft

import java.nio.file.Files
import graft.streaming.IngestStream
import org.apache.spark.sql.functions._

/** Structured Streaming ingest: file source → decode∘enrich → sinks
  * (SURVEY.md §2 G1/G5). Memory sink + processAllAvailable gives a
  * synchronous drain for deterministic tests. */
class StreamingSpec extends SparkSpec {

  /** Committed .parquet part files under `f`, recursively — null-safe
    * against concurrently-deleted dirs and skipping hidden/staging dirs
    * (`_temporary`, `_spark_metadata`, dot-prefixed), so it is safe to
    * poll while a stream is actively writing. The single walker for
    * every output-directory assertion in this spec. */
  private def parquetFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      Option(f.listFiles()).toSeq.flatten.flatMap(parquetFiles)
    else if (f.isFile && f.getName.endsWith(".parquet")) Seq(f) else Nil

  private lazy val feedDir: String = {
    val dir = Files.createTempDirectory("graft-feed").toString
    // ts already micro-converted by Tables; stream source needs a plain schema
    Tables(spark, sf0001, "events").write.parquet(s"$dir/batch1")
    dir
  }

  test("streaming ingest enriches and drains to a memory sink") {
    val batch = spark.read.parquet(s"$feedDir/batch1")
    val feed = IngestStream.readFeed(spark, batch.schema, s"$feedDir/*")
    val q = IngestStream.drainToMemory(
      IngestStream.transform(feed), "ingest_out", "append")
    try {
      val out = spark.table("ingest_out")
      assert(out.count() == 1000)
      assert(out.filter(length(col("geohash")) =!= 7).count() == 0)
      assert(out.schema.fieldNames.contains("geometry"))
    } finally q.stop()
  }

  test("windowed live aggregate with watermark emits per-route stats") {
    val batch = spark.read.parquet(s"$feedDir/batch1")
    val feed = IngestStream.readFeed(spark, batch.schema, s"$feedDir/*")
    val q = IngestStream.drainToMemory(
      IngestStream.liveRouteStats(IngestStream.transform(feed)),
      "live_stats", "append")
    try {
      // append mode only emits windows closed by the watermark; a single
      // static batch closes all but the last window.
      val out = spark.table("live_stats")
      assert(out.count() > 0)
      assert(out.filter(col("n_pings") <= 0).count() == 0)
      assert(out.schema.fieldNames.toSet
        .intersect(Set("route_id", "n_vehicles", "avg_speed")).size == 3)
    } finally q.stop()
  }

  test("HTTP poller: stub server → fetch → decode → enriched hive parquet") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.streaming.HttpFeedSource
    val feed = TestProto.singleVehicleFeed(1709650000L) // 2024-03-05 UTC
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val seenKey = new java.util.concurrent.atomic.AtomicReference[String]("")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/positions", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        hits.incrementAndGet()
        seenKey.set(Option(x.getRequestHeaders.getFirst("x-api-key")).getOrElse(""))
        x.sendResponseHeaders(200, feed.length)
        x.getResponseBody.write(feed)
        x.close()
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/positions"
    val out = Files.createTempDirectory("graft-http-out").toString
    val ckpt = Files.createTempDirectory("graft-http-ckpt").toString
    try {
      // direct fetch honors the api-key header and returns the feed bytes
      val bytes = HttpFeedSource.fetchFeed(url, Some("x-api-key" -> "sekret"))
      assert(bytes.sameElements(feed) && seenKey.get() == "sekret")
      seenKey.set("") // from here on, every request is a poll

      val q = HttpFeedSource.pollQueryV2(spark, url, out, ckpt,
        apiKey = Some("x-api-key" -> "sekret"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      try {
        // 180 s: generous because this test shares the JVM with the rest
        // of the suite — under full-suite load (GC + codegen of a
        // 127-query catalog) the first trigger's planning alone has been
        // observed to eat most of a 60 s budget; in isolation it finishes
        // in seconds, so the slack never slows a green run.
        // Wait for a fully-landed batch, not a whole-directory Spark read:
        // under full-suite load a list-then-read spans multiple triggers,
        // each adding files. A committed part file (not _temporary
        // staging) carrying the geo footer means a batch's write finished
        // (the write gives each file its footer), so stop() cannot kill an
        // in-flight batch before any data is durable. Row-level
        // assertions happen post-stop on the settled directory.
        def landed(): Boolean =
          parquetFiles(new java.io.File(out)).exists(f =>
            scala.util.Try(
              graft.ops.GeoParquetMeta.keyValueMeta(spark, f.toString))
              .getOrElse(Map.empty).contains("geo")) // file may be mid-write
        val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
        while (!landed() && System.nanoTime() < deadline) Thread.sleep(200)
        assert(landed(), "poller landed no geo-stamped parquet within 180s")
      } finally q.stop()

      assert(hits.get() >= 2) // the direct fetch + at least one poll
      assert(seenKey.get() == "sekret", "the source's poll did not send the api key")
      // post-stop the directory is settled; one retry covers a commit
      // that landed exactly at stop time
      val r = (1 to 3).iterator
        .map(_ => scala.util.Try(
          spark.read.parquet(out).filter(col("trip_id") === "T77").collect()))
        .collectFirst { case scala.util.Success(rs) if rs.nonEmpty => rs.head }
        .getOrElse(fail("no T77 row readable after query stop"))
      assert(r.getAs[String]("vehicle_id") == "V123")
      assert(r.getAs[String]("geohash").length == 7)
      assert(r.getAs[Int]("year") == 2024 && r.getAs[Int]("month") == 3)
      // GeoParquet footer is written on the polled output too
      assert(parquetFiles(new java.io.File(out)).exists(f =>
        graft.ops.GeoParquetMeta.keyValueMeta(spark, f.toString).contains("geo")))
    } finally server.stop(0)

    // raise_for_status: non-200 → IOException
    val err = intercept[java.io.IOException] {
      HttpFeedSource.fetchFeed(url) // server stopped
    }
    assert(err != null)
  }

  test("HTTP poller DLQ: each failed poll leaves one record, the query keeps running") {
    import graft.streaming.{FeedV2, HttpFeedSource}
    import scala.jdk.CollectionConverters._
    // a dead endpoint: a loopback port nothing listens on any more
    val url = {
      val sock = new java.net.ServerSocket(0, 1,
        java.net.InetAddress.getByName("127.0.0.1"))
      try s"http://127.0.0.1:${sock.getLocalPort}/positions" finally sock.close()
    }

    // reference parity: a dead letter per failed invocation, and the
    // stream keeps running
    val dlq = Files.createTempDirectory("graft-dlq").toString
    val out = Files.createTempDirectory("graft-http-out").toString
    val ckpt = Files.createTempDirectory("graft-http-ckpt").toString
    val q = HttpFeedSource.pollQueryV2(spark, url, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"),
      dlqPath = Some(dlq))
    try {
      // two records: triggers run one at a time, so the first trigger —
      // and any batch it started — has finished when the second polls
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def dlqRecords(): Long =
        scala.util.Try(spark.read.json(dlq).filter(col("url") === url).count())
          .getOrElse(0L)
      while (dlqRecords() < 2 && System.nanoTime() < deadline) Thread.sleep(200)
      assert(dlqRecords() >= 2, "fewer than two DLQ records within 60s")
      assert(q.isActive, "stream died despite DLQ mode")
      val rec = spark.read.json(dlq).collect().head
      assert(rec.getAs[String]("url") == url)
      // a refused connection has no message: the record names the class
      val error = rec.getAs[String]("error")
      assert(error.contains("ConnectException") && error != "null", error)
      // a poll that never succeeded yields no offset, so no batch ran:
      // nothing committed, nothing appended (not even a _SUCCESS)
      assert(!new java.io.File(ckpt, "commits/0").exists(), "an empty batch committed")
      assert(new java.io.File(out).list().isEmpty,
        s"an empty batch wrote ${new java.io.File(out).list().mkString(", ")}")
    } finally q.stop()

    def source(dir: java.io.File, dlqPath: Option[String]) = new FeedV2.FeedStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        (Map("url" -> url) ++ dlqPath.map("dlqPath" -> _)).asJava), dir.toString)
    // two failed polls of the same index: two records, neither overwritten
    val dlq2 = Files.createTempDirectory("graft-dlq2").toFile
    val withDlq = source(Files.createTempDirectory("graft-http-ckpt2").toFile,
      Some(dlq2.toString))
    assert(withDlq.latestOffset() == null && withDlq.latestOffset() == null)
    val polls = spark.read.json(dlq2.toString).select("poll_id").collect().map(_.getLong(0))
    assert(polls.toSeq == Seq(0L, 0L), s"expected one record per failed poll, got $polls")
    // without dlqPath a failed poll writes nothing: no DLQ dir, no payload
    val bare = Files.createTempDirectory("graft-http-ckpt3").toFile
    assert(source(bare, None).latestOffset() == null)
    assert(bare.list().isEmpty, s"failed poll wrote ${bare.list().mkString(", ")}")
  }

  test("graft-feed V2 source: offsets advance only past durable WAL payloads") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.streaming.FeedV2
    import scala.jdk.CollectionConverters._
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/feed", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        // distinct payload per poll so replay-vs-refetch is detectable
        val body = TestProto.singleVehicleFeed(1709650000L + hits.getAndIncrement())
        x.sendResponseHeaders(200, body.length)
        try x.getResponseBody.write(body) finally x.close()
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/feed"
    val ckpt = Files.createTempDirectory("graft-v2-ckpt").toString
    def stream() = new FeedV2.FeedStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("url" -> url).asJava), ckpt)
    try {
      val s1 = stream()
      assert(s1.initialOffset().json() == "0")
      val o1 = s1.latestOffset()
      val o2 = s1.latestOffset()
      assert(o1.json() == "1" && o2.json() == "2", "one poll per latestOffset call")
      def readAll(s: FeedV2.FeedStream, from: String, to: String): Seq[(Long, Array[Byte])] =
        s.planInputPartitions(s.deserializeOffset(from), s.deserializeOffset(to)).toSeq
          .map { p =>
            val r = s.createReaderFactory().createReader(p)
            assert(r.next())
            val row = r.get()
            val out = (row.getLong(0), row.getBinary(2))
            assert(!r.next(), "feed partition must emit exactly one row")
            out
          }
      val batch = readAll(s1, "0", "2")
      assert(batch.map(_._1) == Seq(0L, 1L))
      val fetchesSoFar = hits.get()
      // REPLAY: a fresh stream over the same checkpoint (the crashed-JVM
      // story) serves byte-identical payloads WITHOUT touching the server
      val s2 = stream()
      val replay = readAll(s2, "0", "2")
      assert(replay.zip(batch).forall { case ((i, a), (j, b)) =>
        i == j && a.sameElements(b) }, "replayed batch differs from original")
      assert(hits.get() == fetchesSoFar, "replay re-polled instead of reading the WAL")
      // restart-safe counter: the fresh stream keeps numbering after the WAL
      assert(s2.latestOffset().json() == "3")
      // commit prunes only below the committed offset
      s2.commit(s2.deserializeOffset("2"))
      assert(readAll(s2, "2", "3").map(_._1) == Seq(2L), "uncommitted payload pruned")
      assert(readAll(s2, "0", "2").isEmpty, "committed payloads not pruned")
      // failed poll: offset stays put instead of failing or skipping ahead
      server.stop(0)
      assert(s2.latestOffset().json() == "3", "offset advanced past a failed poll")
      // the WAL is local-only: a non-local checkpoint is refused up front
      val nonLocal = intercept[IllegalArgumentException] {
        new FeedV2.FeedStream(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            Map("url" -> url).asJava), "hdfs://nn:8020/ckpt")
      }
      assert(nonLocal.getMessage.contains("hdfs://nn:8020/ckpt"))
    } finally scala.util.Try(server.stop(0))
  }

  test("mapGroupsWithState accumulates per-vehicle totals across micro-batches") {
    val dir = Files.createTempDirectory("graft-state-feed").toString
    val batch = Tables(spark, sf0001, "events")
    batch.limit(400).write.parquet(s"$dir/b1")
    val feed = IngestStream.readFeed(spark,
      spark.read.parquet(s"$dir/b1").schema, s"$dir/*")
    val q = IngestStream.vehicleTotals(IngestStream.transform(feed))
      .writeStream.format("memory").queryName("veh_totals")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val after1 = spark.table("veh_totals").groupBy("vehicle_id")
        .agg(max("n_pings").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after1.values.sum == 400)

      // second batch arrives later; state must carry the first batch's counts
      batch.limit(400).write.mode("append").parquet(s"$dir/b2")
      q.processAllAvailable()
      val after2 = spark.table("veh_totals").groupBy("vehicle_id")
        .agg(max("n_pings").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after2.values.sum == 800, s"state lost: ${after2.values.sum}")
      assert(after1.keySet.forall(k => after2(k) >= after1(k)))
    } finally q.stop()
  }

  test("watermarked stream-stream join pairs clicks with in-window purchases") {
    val batch = spark.read.parquet(s"$feedDir/batch1")
    def stream() = IngestStream.readFeed(spark, batch.schema, s"$feedDir/*")
    val clicks = stream().filter(col("event_type") === "click")
    val purchases = stream().filter(col("event_type") === "purchase")
    val q = IngestStream.clickToPurchase(clicks, purchases)
      .writeStream.format("memory").queryName("cp_join")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("cp_join").collect()
      assert(out.nonEmpty, "no click→purchase pairs found")
      out.foreach { r =>
        val c = r.getAs[java.sql.Timestamp]("click_ts").getTime
        val p = r.getAs[java.sql.Timestamp]("purchase_ts").getTime
        assert(p >= c && p <= c + 30 * 60 * 1000, s"pair outside window: $r")
      }
      // streaming pair set equals the same join run statically on raw ts
      // (the interval_join catalog query floors to seconds for its oracle,
      // so it is not boundary-comparable with the ms-precision stream)
      val cs = batch.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"))
      val ps = batch.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
      val expected = cs.join(ps, col("user_id") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES")).count()
      assert(out.length == expected,
        s"stream join ${out.length} pairs vs static $expected")
    } finally q.stop()
  }

  test("transformWithState detects dwelling vehicles across micro-batches") {
    import graft.streaming.DwellDetector
    import spark.implicits._
    // decode() derives vehicle/coords from event_id: a repeated event_id is
    // a stationary vehicle (same cell), stepping event_ids (same %100) is a
    // moving one. Threshold 300s; pings at t0, +200, +400.
    val t0 = java.time.Instant.parse("2024-03-05T10:00:00Z")
    def ts(plus: Long) = java.sql.Timestamp.from(t0.plusSeconds(plus))
    val dir = Files.createTempDirectory("graft-dwell").toString
    def rows(plus: Long, still: Long, moving: Long) = Seq(
      (still, 1L, ts(plus), 1.0), (moving, 2L, ts(plus), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    rows(0, 5L, 6L).union(rows(200, 5L, 106L)).write.parquet(s"$dir/b1")

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = IngestStream.readFeed(spark,
        spark.read.parquet(s"$dir/b1").schema, s"$dir/*")
      val q = DwellDetector.dwellEvents(IngestStream.transform(feed), 300L)
        .writeStream.format("memory").queryName("dwell").outputMode("append")
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table("dwell").isEmpty) // 200s < threshold so far

        rows(400, 5L, 206L).write.parquet(s"$dir/b2") // second batch
        q.processAllAvailable()
        val out = spark.table("dwell").collect()
          .map(r => (r.getAs[String]("vehicle_id"), r.getAs[Long]("dwell_sec")))
        assert(out.toSeq == Seq(("veh_5", 400L)),
          s"expected one dwell for the stationary vehicle, got ${out.toSeq}")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("dwell state ignores late cross-batch pings older than the current stay") {
    import graft.streaming.DwellDetector
    import spark.implicits._
    // veh_7 leaves cell(7) at +50 for cell(307) (0.3° away — a different
    // precision-5 cell) and stays. A straggler cell(7) ping at +20 arrives
    // one batch late; without the ts < sinceTs guard it would reset the
    // ongoing stay and suppress the dwell event.
    val t0 = java.time.Instant.parse("2024-03-05T10:00:00Z")
    def ts(plus: Long) = java.sql.Timestamp.from(t0.plusSeconds(plus))
    val dir = Files.createTempDirectory("graft-dwell-late").toString
    Seq((7L, 1L, ts(0), 1.0), (307L, 1L, ts(50), 1.0))
      .toDF("event_id", "user_id", "ts", "value").write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = IngestStream.readFeed(spark,
        spark.read.parquet(s"$dir/b1").schema, s"$dir/*")
      val q = DwellDetector.dwellEvents(IngestStream.transform(feed), 300L)
        .writeStream.format("memory").queryName("dwell_late")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // late old-cell ping + the ping that crosses the threshold
        Seq((7L, 1L, ts(20), 1.0), (307L, 1L, ts(400), 1.0))
          .toDF("event_id", "user_id", "ts", "value").write.parquet(s"$dir/b2")
        q.processAllAvailable()
        val out = spark.table("dwell_late").collect()
          .map(r => (r.getAs[String]("vehicle_id"), r.getAs[Long]("dwell_sec")))
        assert(out.toSeq == Seq(("veh_7", 350L)),
          s"expected the stay to survive the late ping, got ${out.toSeq}")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming z-score monitor flags outliers against cross-batch moments") {
    import graft.streaming.AnomalyMonitor
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-anom").toString
    // warmup batch: 40 values alternating 9.5/10.5 (sd ≈ 0.5) for key "a";
    // only 5 values for key "b" — below the minSamples gate
    val warm = (0 until 40).map(i => ("a", i.toLong, 10.0 + (i % 2) - 0.5)) ++
      (0 until 5).map(i => ("b", i.toLong, 10.0 + (i % 2) - 0.5))
    warm.toDF("k", "ts", "v").write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = AnomalyMonitor.anomalies(feed, "k", "ts", "v")
        .writeStream.format("memory").queryName("anom").outputMode("append")
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table("anom").isEmpty,
          "warmup values within 1 sigma must not be flagged")
        // outliers score against the moments carried over from batch 1;
        // "b" never reached minSamples, so its spike must stay silent
        Seq(("a", 100L, 100.0), ("a", 101L, 10.0), ("b", 100L, 100.0))
          .toDF("k", "ts", "v").write.parquet(s"$dir/b2")
        q.processAllAvailable()
        val out = spark.table("anom").collect()
          .map(r => (r.getAs[String]("key"), r.getAs[Long]("ts"),
            r.getAs[Double]("zscore")))
        assert(out.map(x => (x._1, x._2)).toSeq == Seq(("a", 100L)),
          s"expected exactly the key-a spike, got ${out.toSeq}")
        assert(out.head._3 > 50, s"spike z-score implausibly low: ${out.head._3}")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming quality scores equal the batch classifier doc-for-doc") {
    import graft.streaming.QualityMonitor
    val dir = Files.createTempDirectory("graft-qscore").toString
    // model trained offline on the batch side; the stream only scores
    val (w, bias) = graft.ops.CorpusOps.qcFit(spark, sf0001)
    assert(w.nonEmpty, "fit produced no weights")
    val docs = Tables(spark, sf0001, "documents")
    docs.filter(col("doc_id") < 250).write.parquet(s"$dir/b1")
    val feed = spark.readStream
      .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
    val q = QualityMonitor.scores(feed, w, bias)
      .writeStream.format("memory").queryName("qscores")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= 250).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val streamed = spark.table("qscores").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(2), r.getInt(3)))).toMap
      val batch = SparkEntry.queries("quality_classifier")(spark, sf0001)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("prob"), r.getAs[Int]("pred")))).toMap
      assert(streamed.keySet == batch.keySet,
        s"doc sets differ: ${streamed.size} vs ${batch.size}")
      // EXACT equality, not tolerance: same integer logit, same double
      // ops, same round-6 sigmoid — batching cannot change a score
      streamed.foreach { case (d, (p, pr)) =>
        assert(p == batch(d)._1 && pr == batch(d)._2,
          s"doc $d: streamed ($p,$pr) != batch ${batch(d)}")
      }
    } finally q.stop()
  }

  test("streaming Holt state is bit-identical to the batch events_holt fold") {
    import graft.streaming.HoltMonitor
    val dir = Files.createTempDirectory("graft-holt-s").toString
    // Feed the RAW timestamp column (not pre-converted micros): holts must
    // normalize TimestampType to unix_micros itself, or two same-second
    // events would fold in seconds order and break bit-identity vs the
    // batch fold's unix_micros order.
    val ev = Tables(spark, sf0001, "events")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
    val split = ev.agg(expr("percentile_approx(us, 0.5)")).collect()(0).getLong(0)
    ev.filter(col("us") <= split).drop("us").write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = HoltMonitor.holts(feed, "user_id", "ts", "event_id", "value")
        .writeStream.format("memory").queryName("sholt").outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        ev.filter(col("us") > split).drop("us")
          .coalesce(1).write.parquet(s"$dir/b2")
        q.processAllAvailable()
        val streamed = spark.table("sholt").collect()
          .map(r => (r.getString(0),
            (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
          .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
        val batch = SparkEntry.queries("events_holt")(spark, sf0001).collect()
          .map(r => r.getLong(0).toString ->
            ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
        assert(streamed.keySet == batch.keySet)
        streamed.foreach { case (k, (n, l, b, f)) =>
          val (bn, bl, bb, bf) = batch(k)
          assert(n == bn, s"key $k: count $n vs $bn")
          def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
          assert(bits(l) == bits(bl) && bits(b) == bits(bb) && bits(f) == bits(bf),
            s"key $k: streaming ($l,$b,$f) != batch ($bl,$bb,$bf)")
        }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming heavy hitters in exact mode reproduce the batch vocab_topk counts") {
    import graft.streaming.TopkMonitor
    val dir = Files.createTempDirectory("graft-ss").toString
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text")
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      // capacity far above per-shard distinct: the exact mode
      val q = TopkMonitor.heavyHitters(feed, "text", shards = 8,
          capacity = 1 << 14)
        .writeStream.format("memory").queryName("sss").outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        docs.filter(col("doc_id") % 2 === 1)
          .coalesce(1).write.parquet(s"$dir/b2")
        q.processAllAvailable()
        val merged = TopkMonitor.latest(spark.table("sss")).collect()
          .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
        assert(merged.forall(_._3 == 0L), "exact mode must carry err = 0")
        val streamTop = merged.sortBy { case (t, e, _) => (-e, t) }.take(25)
          .map { case (t, e, _) => (t, e) }.toSeq
        val batchTop = SparkEntry.queries("vocab_topk")(spark, sf0001)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(streamTop == batchTop,
          s"stream top-25 $streamTop\n!= batch $batchTop")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("space-saving under eviction keeps its error bounds and every true heavy hitter") {
    import graft.streaming.TopkMonitor
    val dir = Files.createTempDirectory("graft-ssb").toString
    import spark.implicits._
    // skewed single-shard stream: one dominant token, a mid token, and a
    // long singleton tail that forces constant eviction at capacity 4
    val words = Seq.fill(50)("heavy") ++ Seq.fill(9)("mid") ++
      (0 until 30).map(i => f"rare$i%02d")
    val truth = words.groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
      .write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = TopkMonitor.heavyHitters(feed, "text", shards = 1, capacity = 4)
        .writeStream.format("memory").queryName("ssb").outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        val sum = TopkMonitor.latest(spark.table("ssb")).collect()
          .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        assert(sum.length <= 4, s"summary overflowed: ${sum.length}")
        val n = sum.head._4
        assert(n == words.length.toLong)
        sum.foreach { case (t, est, err, _) =>
          val tru = truth.getOrElse(t, 0L)
          assert(est >= tru && est - err <= tru,
            s"$t: est $est err $err vs true $tru")
        }
        // SpaceSaving guarantee: anything above n/capacity is retained
        truth.filter(_._2 > n / 4).keys.foreach { hh =>
          assert(sum.exists(_._1 == hh), s"lost heavy hitter $hh") }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming CUSUM with batch-moment baselines is bit-identical to events_cusum") {
    import graft.streaming.CusumMonitor
    val dir = Files.createTempDirectory("graft-cusum-s").toString
    val ev = Tables(spark, sf0001, "events")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
    // frozen baselines = each key's own moments via the batch op's exact
    // fold order (ordered sum, ordered sum of squares) — under this
    // baseline the streaming fold must reproduce the batch op verbatim
    val baseline = ev.collect()
      .map(r => (r.getLong(0).toString, r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .groupBy(_._1).map { case (k, rows) =>
        val vs = rows.sortBy(r => (r._2, r._3)).map(_._4)
        val mu = vs.foldLeft(0.0)(_ + _) / vs.length
        val m2 = vs.foldLeft(0.0)((a, x) => a + x * x) / vs.length
        k -> ((mu, math.sqrt(math.max(0.0, m2 - mu * mu))))
      }
    // one key is withheld from the baseline map: the monitor must COUNT
    // its events but never score them (a frozen-baseline monitor cannot
    // standardize an unseen key — the naive mu = sd = 0 default would
    // alarm on every nonzero arrival)
    val unbaselined = baseline.keys.min
    val served = baseline - unbaselined
    val split = ev.agg(expr("percentile_approx(us, 0.5)")).collect()(0).getLong(0)
    ev.filter(col("us") <= split).drop("us").write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = CusumMonitor.cusum(feed, "user_id", "ts", "event_id", "value",
          served)
        .writeStream.format("memory").queryName("scusum").outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        ev.filter(col("us") > split).drop("us")
          .coalesce(1).write.parquet(s"$dir/b2")
        q.processAllAvailable()
        val streamed = spark.table("scusum").collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4))))
          .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
        val batch = SparkEntry.queries("events_cusum")(spark, sf0001).collect()
          .map(r => r.getLong(0).toString -> ((r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4)))).toMap
        assert(streamed.keySet == batch.keySet)
        def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
        streamed.foreach { case (k, (n, al, sp, sm)) =>
          val (bn, bal, bsp, bsm) = batch(k)
          assert(n == bn, s"key $k: count $n vs $bn")
          if (k == unbaselined) {
            // counted, never scored
            assert(al == 0L && sp == 0.0 && sm == 0.0,
              s"unbaselined key scored: ($al,$sp,$sm)")
          } else {
            assert(al == bal, s"key $k: alarms $al vs $bal")
            assert(bits(sp) == bits(bsp) && bits(sm) == bits(bsm),
              s"key $k: streaming ($sp,$sm) != batch ($bsp,$bsm)")
          }
        }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming Holt-Winters state is bit-identical to the batch events_hw fold") {
    import graft.streaming.HwMonitor
    val dir = Files.createTempDirectory("graft-hw-s").toString
    val ev = Tables(spark, sf0001, "events")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
    // split INSIDE most keys' first season (25th percentile) so the
    // cross-batch seed re-derivation path is genuinely exercised
    val split = ev.agg(expr("percentile_approx(us, 0.25)")).collect()(0).getLong(0)
    ev.filter(col("us") <= split).drop("us").write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = HwMonitor.hw(feed, "user_id", "ts", "event_id", "value")
        .writeStream.format("memory").queryName("shw").outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        ev.filter(col("us") > split).drop("us")
          .coalesce(1).write.parquet(s"$dir/b2")
        q.processAllAvailable()
        val streamed = spark.table("shw").collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5))))
          .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
        val batch = SparkEntry.queries("events_hw")(spark, sf0001).collect()
          .map(r => r.getLong(0).toString -> ((r.getLong(1), r.getDouble(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
        assert(streamed.keySet == batch.keySet)
        streamed.foreach { case (k, (n, l, b, sn, f)) =>
          val (bn, bl, bb, bsn, bf) = batch(k)
          assert(n == bn, s"key $k: count $n vs $bn")
          def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
          assert(bits(l) == bits(bl) && bits(b) == bits(bb) &&
            bits(sn) == bits(bsn) && bits(f) == bits(bf),
            s"key $k: streaming ($l,$b,$sn,$f) != batch ($bl,$bb,$bsn,$bf)")
        }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming EMA state is bit-identical to the batch events_ema fold") {
    import graft.streaming.EmaMonitor
    val dir = Files.createTempDirectory("graft-ema").toString
    // real corpus, streamed as two event-time-ordered micro-batches (the
    // exactness contract: batches partition each key's series in order)
    val ev = Tables(spark, sf0001, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
    val split = ev.agg(expr("percentile_approx(us, 0.5)")).collect()(0).getLong(0)
    ev.filter(col("us") <= split).write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = EmaMonitor.emas(feed, "user_id", "us", "event_id", "value")
        .writeStream.format("memory").queryName("ema").outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        ev.filter(col("us") > split).coalesce(1).write.parquet(s"$dir/b2")
        q.processAllAvailable()
        // per key, the latest state row is the one with the max n_events
        // (n grows monotonically across batches)
        val streamed = spark.table("ema").collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
          .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
        val batch = SparkEntry.queries("events_ema")(spark, sf0001).collect()
          .map(r => r.getLong(0).toString ->
            (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
        assert(streamed.keySet == batch.keySet,
          s"key sets differ: ${streamed.keySet.size} vs ${batch.keySet.size}")
        streamed.foreach { case (k, (n, lastUs, ema)) =>
          val (bn, bLast, bEma) = batch(k)
          assert(n == bn && lastUs == bLast,
            s"key $k: counts/last diverged ($n,$lastUs) vs ($bn,$bLast)")
          // BIT-identical: same doubles through the same fold sequence
          assert(java.lang.Double.doubleToRawLongBits(ema) ==
            java.lang.Double.doubleToRawLongBits(bEma),
            s"key $k: streaming ema $ema != batch $bEma")
        }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming dedup-on-arrival state equals the batch dedup_exact") {
    import graft.streaming.DedupMonitor
    val dir = Files.createTempDirectory("graft-sdedup").toString
    // corpus = the real table plus exact copies of every 7th document at
    // shifted ids (sf0.001 plants only NEAR-dups, no byte-exact ones), so
    // the later micro-batch re-delivers content batch 1 already ingested.
    // Streamed as two doc_id-ordered micro-batches — the exactness
    // contract's replay case, under which first-arrival keep == global-min
    // keep
    val aug = Files.createTempDirectory("graft-sdedup-corpus").toString
    val base = Tables(spark, sf0001, "documents")
    base.unionByName(base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(100000L)))
      .coalesce(1).write.parquet(s"$aug/documents.parquet")
    val docs = spark.read.parquet(s"$aug/documents.parquet")
      .select("doc_id", "text")
    val split = docs.agg(expr("percentile_approx(doc_id, 0.5)"))
      .collect()(0).getLong(0)
    docs.filter(col("doc_id") <= split).write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = DedupMonitor.dedup(feed, "doc_id", "text")
        .writeStream.format("memory").queryName("sdedup").outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        docs.filter(col("doc_id") > split).coalesce(1).write.parquet(s"$dir/b2")
        q.processAllAvailable()
        // latest state per key = the row with max n_copies (monotone)
        val streamed = spark.table("sdedup").collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
        val batch = SparkEntry.queries("dedup_exact")(spark, aug).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(streamed == batch,
          s"streaming dedup state diverged: ${streamed.size} keys vs ${batch.size}")
        // the corpus must actually exercise the cross-batch path: at least
        // one hash with copies on both sides of the split
        val crossBatch = docs.groupBy(md5(col("text"))).agg(
            min("doc_id").as("lo"), max("doc_id").as("hi"))
          .filter(col("lo") <= split && col("hi") > split).count()
        assert(crossBatch > 0, "fixture lost its cross-batch duplicate")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming digest equals batch dataset_digest under SHUFFLED arrival") {
    import graft.streaming.DigestMonitor
    // XOR commutativity means the contract holds under ANY arrival
    // order — so stream the corpus deliberately INTERLEAVED (odd ids
    // first, then even), the case the ordered-replay monitors exclude
    val dir = Files.createTempDirectory("graft-sdigest").toString
    val docs = Tables(spark, sf0001, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = DigestMonitor.digest(feed)
        .writeStream.format("memory").queryName("sdigest").outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/b2")
        q.processAllAvailable()
        // latest state per source = max n_rows (monotone)
        val streamed = spark.table("sdigest").collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
          .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
        val batch = SparkEntry.queries("dataset_digest")(spark, sf0001)
          .collect()
          .map(r => r.getAs[String]("source") ->
            ((r.getAs[Long]("n_rows"), r.getAs[Long]("digest"),
              r.getAs[Long]("digest_sum")))).toMap
        assert(streamed == batch,
          s"streaming digest diverged (${streamed.size} vs ${batch.size} sources)")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming paragraph dedup decisions equal the batch dedup_paragraph") {
    import graft.streaming.ParagraphMonitor
    val W = graft.ops.DedupOps.ParaW.toInt
    // corpus = the real table plus, for every 5th doc, a later doc whose
    // FIRST block is a verbatim copy of the original's first block and
    // whose tail is a fresh unique token — so batch 2 re-delivers block
    // content batch 1 ingested (the cross-batch claim path) while its
    // second block stays unique (the kept path).
    val aug = Files.createTempDirectory("graft-spara-corpus").toString
    val base = Tables(spark, sf0001, "documents")
      .select("doc_id", "text", "lang", "source")
    val planted = base.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + lit(100000L))
      .withColumn("text", concat(
        array_join(slice(filter(split(col("text"), " "),
          x => x =!= lit("")), 1, W), " "),
        lit(" fresh"), col("doc_id").cast("string")))
    base.unionByName(planted)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$aug/documents.parquet")
    val docs = spark.read.parquet(s"$aug/documents.parquet")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-spara").toString
    docs.filter(col("doc_id") < 100000L).write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = ParagraphMonitor.dedupBlocks(feed, "doc_id", "text")
        .writeStream.format("memory").queryName("spara").outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        docs.filter(col("doc_id") >= 100000L).coalesce(1).write.parquet(s"$dir/b2")
        q.processAllAvailable()
        // each block decided exactly once; per-doc aggregates must equal
        // the batch operator on the union corpus
        val streamed = spark.table("spara").collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
        val perDoc = streamed.groupBy(_._1).map { case (d, rs) =>
          d -> ((rs.length.toLong, rs.count(_._3).toLong))
        }
        val batch = SparkEntry.queries("dedup_paragraph")(spark, aug)
          .collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Long]("n_blocks"), r.getAs[Long]("n_kept")))).toMap
        assert(perDoc == batch,
          s"streaming paragraph decisions diverged (${perDoc.size} vs ${batch.size} docs)")
        // the cross-batch path must actually fire: a planted doc whose
        // ORIGINAL had >= W tokens carries 2 blocks — block 0 a verbatim
        // copy claimed in batch 1 (dropped), block 1 the fresh token
        // (kept) — so exactly 1 of 2 survives; originals shorter than W
        // produce a single genuinely-new block, kept
        val plantedDocs = perDoc.filter(_._1 >= 100000L)
        val twoBlock = plantedDocs.filter(_._2._1 == 2L)
        assert(twoBlock.nonEmpty, "fixture lost its cross-batch duplicates")
        assert(twoBlock.forall(_._2._2 == 1L),
          "a re-delivered first block was not dropped")
        assert(plantedDocs.filter(_._2._1 == 1L).forall(_._2._2 == 1L),
          "a genuinely-new short block was dropped")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("dedup state TTL: expired claims re-open, equality becomes horizon-scoped") {
    import java.time.Duration
    import graft.streaming.{DedupMonitor, ParagraphMonitor}
    import org.apache.spark.sql.streaming.{TTLConfig, Trigger}
    // TTL bounds the claim store for unbounded streams: a content hash
    // not re-seen within the TTL is forgotten, so its next arrival gets
    // a FRESH keep slot and the streaming/batch equality contract narrows
    // to the retention horizon - state after a batch equals the batch
    // twin over ONLY the arrivals inside the window. TTL puts the
    // operator in processing-time mode, where `shouldRunAnotherBatch` is
    // unconditionally true: the engine keeps scheduling batches to
    // advance expiry, so the query NEVER quiesces - neither
    // `processAllAvailable` nor an AvailableNow run returns (both
    // verified hanging here). The drive pattern for a TTL stream is a
    // throttled trigger + polling the sink for the expected emission.
    val W = graft.ops.DedupOps.ParaW.toInt
    val blockTxt = (0 until W).map(i => s"ttl$i").mkString(" ")
    val dir = Files.createTempDirectory("graft-sttl").toString
    import spark.implicits._
    // b1: two copies of X (same-batch dedup), one copy of the block doc
    Seq((1L, "xcontent"), (2L, "xcontent"), (10L, blockTxt))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ttl = TTLConfig(Duration.ofMillis(500))
      val schema = spark.read.parquet(s"$dir/b1").schema
      def await(table: String)(p: Array[org.apache.spark.sql.Row] => Boolean)
          : Boolean = {
        val end = System.currentTimeMillis + 120000
        while (System.currentTimeMillis < end) {
          if (p(spark.table(table).collect())) return true
          Thread.sleep(250)
        }
        false
      }
      val q = DedupMonitor.dedup(
          spark.readStream.schema(schema).parquet(s"$dir/*"),
          "doc_id", "text", ttl)
        .writeStream.format("memory").queryName("sttl").outputMode("update")
        .trigger(Trigger.ProcessingTime("500 milliseconds")).start()
      val qp = ParagraphMonitor.dedupBlocks(
          spark.readStream.schema(schema).parquet(s"$dir/*"),
          "doc_id", "text", ttl)
        .writeStream.format("memory").queryName("sttlp").outputMode("update")
        .trigger(Trigger.ProcessingTime("500 milliseconds")).start()
      try {
        // within one batch the TTL never splits: both copies fold, min id
        assert(await("sttl")(_.exists(r =>
          r.getLong(1) == 2L && r.getLong(2) == 1L)),
          s"same-batch dedup broken under TTL: " +
            spark.table("sttl").collect().toSeq.toString)
        assert(await("sttlp")(_.exists(r =>
          r.getLong(1) == 10L && r.getBoolean(3))),
          "batch-1 block not kept")
        Thread.sleep(3000) // strictly past the 500 ms TTL
        // b2 re-delivers BOTH contents (two copies of X again at 3,4)
        Seq((3L, "xcontent"), (4L, "xcontent"), (11L, blockTxt))
          .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/b2")
        // expired claim re-opens: batch-2 emission = batch twin over b2
        // alone (fresh keep slot 3, count restarted at 2)
        assert(await("sttl")(_.exists(r =>
          r.getLong(1) == 2L && r.getLong(2) == 3L)),
          s"expired dedup claim did not re-open (expected n=2 keep=3): " +
            spark.table("sttl").collect().toSeq.toString)
        // paragraph claim bit likewise: doc 11's block re-claims (kept)
        assert(await("sttlp")(_.exists(r =>
          r.getLong(1) == 11L && r.getBoolean(3))),
          s"expired block claim did not re-open: " +
            spark.table("sttlp").collect().toSeq.toString)
      } finally { q.stop(); qp.stop() }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming MinHash dedup over micro-batches equals batch dedup_incremental") {
    import graft.streaming.MinhashMonitor
    // Corpus: the real table plus two planted copy sets chosen by residue
    // so every path is exercised. dedup_incremental splits doc_id%10 into
    // base (<8, the seeded index) and delta (>=8, the stream):
    //  * +100008 copies of %10∈{0,1} docs land in the delta and match a
    //    BASE original → the seeded-index join path;
    //  * +200009 copies of %10=9 docs land in the delta at ids above every
    //    batch-1 id and match a batch-1 DELTA original → the cross-batch
    //    index-append path.
    val aug = Files.createTempDirectory("graft-mhdedup-corpus").toString
    val docs0 = Tables(spark, sf0001, "documents")
    // the fresh-pair docs (ids 200258/400258, both %10=8 → delta) share a
    // unique text that exists NOWHERE else: 200258 streams in batch 2 and
    // 400258 in batch 3, so resolving that pair REQUIRES the live
    // post-watermark append — the adoption branch a compacted generation
    // alone cannot cover
    import spark.implicits._
    val freshPair = Seq(200258L, 400258L)
      .toDF("doc_id")
      .withColumn("text", lit(("zqxjkv " * 40).trim))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs0.unionByName(docs0.filter(col("doc_id") % 10 <= 1)
        .withColumn("doc_id", col("doc_id") + lit(100008L)))
      .unionByName(docs0.filter(col("doc_id") % 10 === 9)
        .withColumn("doc_id", col("doc_id") + lit(200009L)))
      .unionByName(freshPair.select(docs0.columns.map(col): _*))
      .coalesce(1).write.parquet(s"$aug/documents.parquet")
    val docs = spark.read.parquet(s"$aug/documents.parquet")
      .select("doc_id", "text")
    val mod = graft.ops.DedupOps.IncrBaseMod
    val delta = docs.filter(col("doc_id") % 10 >= mod)
    val dir = Files.createTempDirectory("graft-mhdedup-feed").toString
    val idx = Files.createTempDirectory("graft-mhdedup-idx").toString
    val out = Files.createTempDirectory("graft-mhdedup-out").toString
    // seed = the batch op's base side; stream = its delta in three
    // ascending-id micro-batches (the DedupMonitor replay contract).
    // Two monitors share the feed: A is compacted mid-stream, B never —
    // their verdicts must be identical (and equal the batch op), proving
    // a verdict batch reads a compacted generation transparently.
    val idxB = Files.createTempDirectory("graft-mhdedup-idxB").toString
    val outB = Files.createTempDirectory("graft-mhdedup-outB").toString
    for (i <- Seq(idx, idxB))
      MinhashMonitor.seed(docs.filter(col("doc_id") % 10 < mod),
        "doc_id", "text", i)
    val split = 200000L  // batch 1: original delta ids; 2 and 3: +200009 copies
    val split2 = 200300L
    delta.filter(col("doc_id") <= split).write.parquet(s"$dir/b1")
    val feed = spark.readStream
      .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
    val q = MinhashMonitor.attach(feed, "doc_id", "text", idx, out).start()
    val qB = MinhashMonitor.attach(feed, "doc_id", "text", idxB, outB).start()
    try {
      q.processAllAvailable(); qB.processAllAvailable()
      delta.filter(col("doc_id") > split && col("doc_id") <= split2)
        .coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable(); qB.processAllAvailable()
      // compact A between batches: absorbs seed + b0 (strictly below the
      // highest committed append), so batch 2's verdict join reads the
      // compacted c0 generation plus the live b1 append
      assert(MinhashMonitor.compact(spark, idx) == 2, "seed + b0 absorbed")
      delta.filter(col("doc_id") > split2).coalesce(1).write.parquet(s"$dir/b3")
      q.processAllAvailable(); qB.processAllAvailable()
    } finally { q.stop(); qB.stop() }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("est_sim"))).toSet
    val streamed = rows(spark.read.parquet(s"$out/b*"))
    val batch = rows(SparkEntry.queries("dedup_incremental")(spark, aug))
    assert(streamed == batch,
      s"stream-over-batches diverged: ${streamed.size} vs ${batch.size} verdicts")
    assert(rows(spark.read.parquet(s"$outB/b*")) == streamed,
      "compacted-index verdicts diverged from the uncompacted twin")
    // both planted paths actually fired
    val baseIds = docs.filter(col("doc_id") % 10 < mod)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.exists(v => baseIds(v._2)),
      "no verdict resolved against the seeded base index")
    val lastB = rows(spark.read.parquet(f"$out/b${2}%08d"))
    assert(lastB.exists(v => !baseIds(v._2) && v._2 <= split),
      "batch-3 verdicts must match batch-1 delta docs THROUGH the " +
        "compacted generation")
    // the fresh pair's only match lives in the LIVE post-watermark
    // append (batch-2's 200258 is in neither the seed nor c0): dropping
    // the appends-above-watermark adoption branch would lose exactly
    // this verdict
    assert(lastB.exists(v => v._1 == 400258L && v._2 == 200258L),
      "batch-3 verdict must resolve against the live post-watermark append")
    // A: seed+b0 absorbed but on disk until vacuum; B grew by its batches
    assert(MinhashMonitor.vacuum(spark, idx) == 2, "absorbed dirs reclaimed")
    assert(new java.io.File(idx).listFiles().count(_.isDirectory) == 3,
      "compacted index must hold c0 + the two live appends")
    assert(new java.io.File(idxB).listFiles().count(_.isDirectory) == 4,
      "uncompacted index must hold seed + one directory per micro-batch")
  }

  test("streaming IVF index maintenance equals the batch assignment") {
    import graft.streaming.IvfMonitor
    val emb = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val idx = Files.createTempDirectory("graft-ivfm-idx").toString
    val dir = Files.createTempDirectory("graft-ivfm-feed").toString
    // seed = the batch op's 80% residue base; stream = its delta in two
    // ascending-id micro-batches under the same frozen quantizer
    IvfMonitor.seed(spark, sf0001, emb.filter(col("vec_id") % 5 =!= 4), idx)
    val delta = emb.filter(col("vec_id") % 5 === 4)
    delta.filter(col("vec_id") < 250).coalesce(1).write.parquet(s"$dir/b1")
    val feed = spark.readStream
      .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
    val q = IvfMonitor.attach(feed, sf0001, idx).start()
    try {
      q.processAllAvailable()
      delta.filter(col("vec_id") >= 250).coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      df.collect().map(r =>
        (r.getAs[Long]("c_id"), r.getAs[Int]("cell"))).toSeq.sorted
    val streamed = rows(IvfMonitor.index(spark, idx))
    val batch = rows(graft.ops.SimilarityOps.indexAssign(spark, sf0001, emb))
    assert(streamed == batch,
      s"stream-maintained index diverged: ${streamed.size} vs ${batch.size}")
    // the index grew by exactly the two streamed batches
    assert(new java.io.File(idx).listFiles().count(_.isDirectory) == 3,
      "index must hold seed + one directory per micro-batch")
    // compaction absorbs only batches STRICTLY BELOW the highest
    // committed append (b<max> may still replay; everything below it is
    // checkpoint-committed): seed + b0 merge, b1 stays live. Absorbed
    // dirs survive until vacuum (in-flight readers may be scanning them)
    def dirNames() = IvfMonitor.committedDirs(spark, idx).map(d =>
      new java.io.File(d).getName)
    assert(IvfMonitor.compact(spark, idx) == 2, "seed + b0 absorbed")
    assert(dirNames() == Seq("b00000001", "c00000000"))
    assert(rows(IvfMonitor.index(spark, idx)) == batch,
      "compaction changed the index content")
    assert(IvfMonitor.compact(spark, idx) == 0, "re-compaction is a no-op")
    assert(IvfMonitor.vacuum(spark, idx) == 2, "absorbed dirs reclaimed")
    assert(IvfMonitor.vacuum(spark, idx) == 0, "vacuum is idempotent")
    assert(rows(IvfMonitor.index(spark, idx)) == batch)
    // a replayed absorbed batch re-materializing its directory is
    // structurally excluded by the watermark rule, not double-counted —
    // and vacuum reclaims it
    val replayDir = new java.io.File(idx, "b00000000")
    replayDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(replayDir, "_SUCCESS").toPath, Array.empty[Byte])
    assert(dirNames() == Seq("b00000001", "c00000000"),
      "absorbed batch id below the watermark must stay excluded")
    assert(rows(IvfMonitor.index(spark, idx)) == batch)
    assert(IvfMonitor.vacuum(spark, idx) == 1, "replay stub reclaimed")
    // gap safety: a committed append with a missing predecessor (a batch
    // mid-replay-rewrite) BLOCKS the watermark from advancing past it —
    // compact absorbs up to the gap but never stamps out rows it
    // never read
    def append(id: Long, lo: Int, hi: Int): Seq[(Long, Int)] = {
      val part = graft.ops.SimilarityOps.indexAssign(spark, sf0001,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
      part.coalesce(1).write.mode("overwrite")
        .parquet(f"$idx/b$id%08d")
      part.collect().map(r =>
        (r.getAs[Long]("c_id"), r.getAs[Int]("cell"))).toSeq
    }
    val b3 = append(3L, 0, 50) // b2 "in flight": gap at id 2
    assert(IvfMonitor.compact(spark, idx) == 2,
      "c0 + b1 absorb below the gap; b3 must stay out")
    assert(dirNames() == Seq("b00000003", "c00000001"))
    val b2 = append(2L, 50, 100) // the replay lands; gap closed
    // a torn destination (old-version crash at exactly this id) must be
    // cleared before the publish rename — otherwise Hadoop rename moves
    // the staging dir INSIDE it and reports success while publishing
    // nothing adoptable
    new java.io.File(idx, "c00000002").mkdirs()
    assert(IvfMonitor.compact(spark, idx) == 2,
      "c1 + b2 absorbed; b3 is the replayable latest and stays live")
    assert(dirNames() == Seq("b00000003", "c00000002"))
    assert(rows(IvfMonitor.index(spark, idx)) ==
      (batch ++ b2 ++ b3).sorted, "post-gap compact lost rows")
    assert(IvfMonitor.vacuum(spark, idx) == 4) // c0, b1, c1, b2
    // every uncommitted c dir (old-version crash / partial rename) and
    // crashed staging is reclaimed — under the staged-rename protocol
    // no uncommitted c dir is ever live (compact clears its own torn
    // destination, so this is hygiene, not wedge prevention)
    val torn = new java.io.File(idx, "c00000004"); torn.mkdirs()
    val torn2 = new java.io.File(idx, "c00000009"); torn2.mkdirs()
    val staging = new java.io.File(idx, "t00000005"); staging.mkdirs()
    assert(IvfMonitor.vacuum(spark, idx) == 3,
      "torn compacts + crashed staging reclaimed")
    assert(!torn.exists && !torn2.exists && !staging.exists)
    assert(rows(IvfMonitor.index(spark, idx)) == (batch ++ b2 ++ b3).sorted)
  }

  test("IVF ingest restart from checkpoint is exactly-once, replayed batch included") {
    import graft.streaming.IvfMonitor
    // kill-and-resume at spec scale (the soak proves it at 500 triggers):
    // run one batch under a checkpoint, stop, delete the batch's COMMIT
    // marker — the exact crash window where foreachBatch published its
    // b<j> dir but the checkpoint never committed — then restart with new
    // input. The replayed batch must overwrite b<j> idempotently, the new
    // batch must number AFTER it, and the final index must equal the
    // batch assignment of all input: nothing lost, nothing doubled.
    val emb = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val idx = Files.createTempDirectory("graft-ivfr-idx").toString
    val dir = Files.createTempDirectory("graft-ivfr-feed").toString
    val ckpt = Files.createTempDirectory("graft-ivfr-ckpt").toString
    IvfMonitor.seed(spark, sf0001, emb.filter(col("vec_id") % 5 =!= 4), idx)
    val delta = emb.filter(col("vec_id") % 5 === 4)
    delta.filter(col("vec_id") < 250).coalesce(1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b1").schema
    def start() = IvfMonitor.attach(
      spark.readStream.schema(schema).parquet(s"$dir/*"), sf0001, idx)
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "first run committed no batch")
    assert(commits.last.delete(), "could not simulate the torn commit")
    // the local FS is a ChecksumFileSystem: the marker's .crc sibling must
    // go too, or the replay's atomic rename trips FileAlreadyExists on it
    new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc").delete()
    delta.filter(col("vec_id") >= 250).coalesce(1).write.parquet(s"$dir/b2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      df.collect().map(r =>
        (r.getAs[Long]("c_id"), r.getAs[Int]("cell"))).toSeq.sorted
    assert(rows(IvfMonitor.index(spark, idx)) ==
      rows(graft.ops.SimilarityOps.indexAssign(spark, sf0001, emb)),
      "restarted index diverged from the batch assignment")
    // replay rewrote b0 in place; the post-restart batch took the next id
    val names = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(names == Seq("b00000000", "b00000001", "seed"),
      s"replay must rewrite its own dir, not append a new one: $names")
  }

  test("streaming session windows merge by gap and close at the watermark") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-03-05T10:00:00Z")
    def ts(plus: Long) = java.sql.Timestamp.from(t0.plusSeconds(plus))
    val dir = Files.createTempDirectory("graft-sess").toString
    // u1: two events 60 s apart (one session); u2: one event
    Seq((1L, ts(0)), (1L, ts(60)), (2L, ts(0)))
      .toDF("user_id", "ts").write.parquet(s"$dir/b1")
    val feed = spark.readStream
      .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
    val q = IngestStream.liveSessions(feed)
      .writeStream.format("memory").queryName("sess").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("sess").isEmpty, "no session may close before the watermark")
      // u1 reappears 2 h later: the watermark passes both open sessions'
      // end+gap, closing them; the new event opens a fresh session
      Seq((1L, ts(7200))).toDF("user_id", "ts").write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val out = spark.table("sess").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("span_sec"),
          r.getAs[Long]("n_events"))).sortBy(x => (x._1, x._2))
      // span = (last event − first) + gap: 60+1800 for u1, 0+1800 for u2
      assert(out.toSeq == Seq((1L, 1860L, 2L), (2L, 1800L, 1L)),
        s"unexpected closed sessions: ${out.toSeq}")
    } finally q.stop()
  }

  test("event-time timers flag keys that went silent; re-armed keys stay quiet") {
    import graft.streaming.GapMonitor
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-03-05T10:00:00Z")
    def ts(plus: Long) = java.sql.Timestamp.from(t0.plusSeconds(plus))
    val dir = Files.createTempDirectory("graft-gap").toString
    // b1: both keys alive at t0 — timers armed at t0+300
    Seq(("A", ts(0)), ("B", ts(0))).toDF("k", "ts").write.parquet(s"$dir/b1")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = spark.readStream
        .schema(spark.read.parquet(s"$dir/b1").schema).parquet(s"$dir/*")
      val q = GapMonitor.gaps(feed, "k", "ts", thresholdSec = 300L)
        .writeStream.format("memory").queryName("gaps").outputMode("append")
        .start()
      try {
        q.processAllAvailable()
        // b2: A reports again at +600 (re-arms A, advances max event time);
        // B stays silent. The watermark still trails b1's max, so no timer
        // fires within this batch.
        Seq(("A", ts(600))).toDF("k", "ts").write.parquet(s"$dir/b2")
        q.processAllAvailable()
        // b3: one more A ping pushes the watermark past +300: B's t0 timer
        // fires (silent since t0); A's t0 timer is stale (re-armed at +600)
        Seq(("A", ts(610))).toDF("k", "ts").write.parquet(s"$dir/b3")
        q.processAllAvailable()
        val out = spark.table("gaps").collect()
          .map(r => (r.getAs[String]("key"), r.getAs[Long]("last_seen_ts"),
            r.getAs[Long]("silent_sec")))
        assert(out.toSeq == Seq(("B", t0.getEpochSecond, 300L)),
          s"expected exactly B's silence alert, got ${out.toSeq}")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-03-05T10:00:00Z")
    def ts(plus: Long) = java.sql.Timestamp.from(t0.plusSeconds(plus))
    val dir = Files.createTempDirectory("graft-streamdedup").toString
    // batch 1: two distinct pings; batch 2: an exact duplicate of the
    // first (at-least-once redelivery) plus one new ping
    Seq((5L, 1L, ts(0), 1.0), (6L, 1L, ts(10), 1.0))
      .toDF("event_id", "user_id", "ts", "value").write.parquet(s"$dir/b1")
    val feed = IngestStream.readFeed(spark,
      spark.read.parquet(s"$dir/b1").schema, s"$dir/*")
    val q = IngestStream.dedupedFeed(IngestStream.transform(feed))
      .select("vehicle_id", "event_ts")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Seq((5L, 1L, ts(0), 1.0), (7L, 1L, ts(20), 1.0))
        .toDF("event_id", "user_id", "ts", "value").write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val out = spark.table("stream_dedup").collect()
      assert(out.length == 3,
        s"expected 3 deduped pings, got ${out.length}: ${out.toSeq}")
    } finally q.stop()
  }

  test("streaming CDC maintainer keeps an exactly-once latest-state snapshot") {
    import spark.implicits._
    import graft.streaming.StateMaintainer
    val dir = Files.createTempDirectory("graft-cdc").toString
    val stateDir = s"$dir/state"
    // batch 1: initial state for keys (1,a) (2,a)
    Seq((1L, "a", 100L, 1L, 1.0), (2L, "a", 100L, 2L, 2.0))
      .toDF("user_id", "event_type", "us", "event_id", "value")
      .write.parquet(s"$dir/feed/b1")
    val feed = spark.readStream
      .schema(spark.read.parquet(s"$dir/feed/b1").schema)
      .parquet(s"$dir/feed/*")
    val q = StateMaintainer.start(feed, stateDir, s"$dir/ckpt")
    try {
      q.processAllAvailable()
      val s1 = StateMaintainer.readState(spark, stateDir)
        .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
      assert(s1 == Map(1L -> 1.0, 2L -> 2.0), s"initial state wrong: $s1")

      // batch 2: update key 1 (newer ts), add key 3; key 2 untouched
      Seq((1L, "a", 200L, 3L, 9.0), (3L, "a", 150L, 4L, 3.0))
        .toDF("user_id", "event_type", "us", "event_id", "value")
        .write.mode("append").parquet(s"$dir/feed/b2")
      q.processAllAvailable()
      val s2 = StateMaintainer.readState(spark, stateDir)
        .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
      assert(s2 == Map(1L -> 9.0, 2L -> 2.0, 3L -> 3.0),
        s"merged state wrong: $s2")

      // snapshot versions are pruned to the retained window
      val versions = new java.io.File(stateDir).listFiles()
        .map(_.getName).filter(_.startsWith("v=")).sorted
      assert(versions.length <= 2, s"unpruned versions: ${versions.toSeq}")

      // the maintained snapshot equals a from-scratch batch replay
      val replay = graft.ops.CdcOps.applyChanges(
        StateMaintainer.readState(spark, stateDir).limit(0),
        spark.read.parquet(s"$dir/feed/*"))
        .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
      assert(replay == s2, "incremental state diverged from replay")

      // crash-replay idempotence: re-applying the LAST batch (the sink
      // wrote, the checkpoint commit was lost) must reproduce the same
      // snapshot — the versioned layout rebuilds v=N from the same
      // strictly-older base. Replay the ACTUAL max committed version with
      // the b2 feed file's rows, not a hardcoded guess at how the file
      // source assigned batch ids (and if the engine appended a trailing
      // empty batch, merging b2 into a state already containing it is a
      // same-keys upsert — still s2)
      val lastId = new java.io.File(stateDir).listFiles()
        .map(_.getName).filter(_.startsWith("v="))
        .map(_.drop(2).toLong).max
      StateMaintainer.applyBatch(
        spark.read.parquet(s"$dir/feed/b2"), lastId, stateDir)
      val s3 = StateMaintainer.readState(spark, stateDir)
        .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
      assert(s3 == s2, s"replayed batch diverged: $s3 vs $s2")

      // torn publications are invisible: a v= dir without the _SUCCESS
      // marker (crash mid-write) and an abandoned .tmp staging dir must
      // both be ignored by readState and never picked as a replay base
      val torn = new java.io.File(stateDir, s"v=${lastId + 5}")
      assert(torn.mkdir())
      java.nio.file.Files.write(torn.toPath.resolve("part-junk.parquet"),
        Array[Byte](1, 2, 3))
      val stale = new java.io.File(stateDir, s".tmp-v=${lastId + 6}")
      assert(stale.mkdir())
      val s4 = StateMaintainer.readState(spark, stateDir)
        .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
      assert(s4 == s2, s"torn version dir was served to readers: $s4")
    } finally q.stop()
  }

  test("streaming flagship MV equals the batch schedule_deviation at end-of-stream") {
    import graft.streaming.FlagshipStream
    val dir = Files.createTempDirectory("graft-flagship-stream").toString
    val stateDir = s"$dir/mv"
    // the fact arrives in three chunks, DESCENDING event order — the
    // running-min merge must be arrival-order independent
    val events = Tables(spark, sf0001, "events").orderBy(desc("event_id"))
    val n = events.count()
    val chunk = (n / 3 + 1).toInt
    events.limit(chunk).write.parquet(s"$dir/feed/c1")
    val feed = spark.readStream
      .schema(spark.read.parquet(s"$dir/feed/c1").schema)
      .parquet(s"$dir/feed/*")
    val q = FlagshipStream.start(feed, sf0001, stateDir, s"$dir/ckpt")
    try {
      q.processAllAvailable()
      // mid-stream: the MV answers with the prefix's aggregate (shape
      // sanity only; exactness is the end-of-stream assertion)
      assert(FlagshipStream.result(spark, stateDir).count() >= 0)
      events.offset(chunk).limit(chunk).write.mode("append")
        .parquet(s"$dir/feed/c2")
      q.processAllAvailable()
      events.offset(2 * chunk).write.mode("append").parquet(s"$dir/feed/c3")
      q.processAllAvailable()

      // bit-pattern doubles: tuple == on NaN is always false, and the
      // equality here is BITWISE by construction (same code, same rows)
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
        (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)),
          if (r.isNullAt(3)) -1L
          else java.lang.Double.doubleToLongBits(r.getDouble(3)))
      }.sortBy(_._1)
      val streamed = canon(FlagshipStream.result(spark, stateDir))
      val batch = canon(SparkEntry.queries("schedule_deviation")(spark, sf0001))
      assert(streamed.nonEmpty, "streamed MV is empty")
      assert(streamed.sameElements(batch),
        s"streamed MV diverged from batch: ${streamed.take(3).toSeq} vs ${batch.take(3).toSeq}")

      // crash-replay idempotence: re-folding the LAST chunk into the MV
      // (sink wrote, checkpoint commit lost) must not change the answer —
      // the versioned layout rebuilds from the strictly-older base, and
      // re-merging already-minimal rows is a no-op under the total order
      val lastId = new java.io.File(stateDir).listFiles()
        .map(_.getName).filter(_.startsWith("v=")).map(_.drop(2).toLong).max
      FlagshipStream.applyBatch(
        spark.read.parquet(s"$dir/feed/c3"), lastId, sf0001, stateDir)
      assert(canon(FlagshipStream.result(spark, stateDir)).sameElements(batch),
        "replayed chunk changed the MV")
    } finally q.stop()
  }
}
