package graft

import java.nio.file.Files
import graft.ops.{CompactOps, IngestOps}
import org.apache.spark.sql.functions._

/** Ingest decode/enrich schema + hive write, and compaction invariants
  * (SURVEY.md §2 B1-B3, §5 item 5). */
class IngestCompactSpec extends SparkSpec {

  private lazy val enriched =
    IngestOps.enrich(IngestOps.decode(Tables(spark, sf0001, "events")))

  test("enrich produces the reference positions schema") {
    val f = enriched.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(f("trip_id") == "string" && f("direction_id") == "string")
    assert(f("geohash") == "string" && f("geometry") == "binary")
    assert(f("bbox") == "struct")
    assert(f("year") == "integer" && f("month") == "integer" && f("day") == "integer")
    assert(!f.contains("latitude") && !f.contains("longitude")) // dropped (C4)
  }

  test("bbox covering equals the point coords (GeoParquet covering)") {
    val bad = enriched.filter(
      col("bbox.xmin") =!= col("bbox.xmax") ||
        col("bbox.ymin") =!= col("bbox.ymax")).count()
    assert(bad == 0)
  }

  test("hive write partitions by year/month/day; compaction preserves rows") {
    val hot = Files.createTempDirectory("graft-hot").toString
    val cold = Files.createTempDirectory("graft-cold").toString
    IngestOps.writeHive(enriched, hot)

    val partDirs = new java.io.File(hot).listFiles().filter(_.isDirectory)
    assert(partDirs.nonEmpty && partDirs.forall(_.getName.startsWith("year=")))

    val n = enriched.count()
    CompactOps.compact(spark, hot, cold)
    val files = new java.io.File(cold).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"expected 1 compacted file, got ${files.length}")

    val back = spark.read.parquet(cold)
    assert(back.count() == n)
    // content preserved (multiset compare over a stable projection)
    val a = enriched.select(col("trip_id"), col("vehicle_id"), col("event_ts"))
      .groupBy("trip_id", "vehicle_id", "event_ts").count()
    val b = back.select(col("trip_id"), col("vehicle_id"), col("event_ts"))
      .groupBy("trip_id", "vehicle_id", "event_ts").count()
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("GeoParquet `geo` footer metadata: written by writeHive, preserved by compaction") {
    import graft.ops.GeoParquetMeta
    val hot = Files.createTempDirectory("graft-geo-hot").toString
    val cold = Files.createTempDirectory("graft-geo-cold").toString
    IngestOps.writeHive(enriched, hot)

    def geoOf(dir: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      val files = walk(new java.io.File(dir))
      assert(files.nonEmpty)
      files.map { f =>
        val kv = GeoParquetMeta.keyValueMeta(spark, f.toString)
        assert(kv.contains(GeoParquetMeta.GeoKey), s"no geo key on $f")
        kv(GeoParquetMeta.GeoKey)
      }
    }
    for (json <- geoOf(hot)) {
      assert(json.contains(""""version":"1.1.0""""))
      assert(json.contains(""""primary_column":"geometry""""))
      assert(json.contains(""""encoding":"WKB""""))
      assert(json.contains(""""covering""""))
      assert(json.contains(""""bbox":["""), s"no file bbox in $json")
    }
    // per-file bbox must cover the data (Toronto-ish synthetic box)
    val bboxRe = """"bbox":\[([-0-9.eE]+),([-0-9.eE]+),([-0-9.eE]+),([-0-9.eE]+)\]""".r
    val boxes = geoOf(hot).flatMap(j => bboxRe.findFirstMatchIn(j))
      .map(m => (m.group(1).toDouble, m.group(2).toDouble,
        m.group(3).toDouble, m.group(4).toDouble))
    assert(boxes.nonEmpty)
    assert(boxes.forall { case (x0, y0, x1, y1) =>
      x0 <= x1 && y0 <= y1 && x0 >= -80 && x1 <= -78 && y0 >= 42 && y1 <= 45
    }, s"implausible bboxes: $boxes")

    // rows unchanged by the geo write
    assert(spark.read.parquet(hot).count() == enriched.count())

    // compaction writes the geo footer on its outputs
    CompactOps.compact(spark, hot, cold)
    geoOf(cold)

    // read side: geoInfo parses version / primary column / bbox back out
    def firstParquet(dir: String): String = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).head.toString
    }
    val info = GeoParquetMeta.geoInfo(spark, firstParquet(hot))
    assert(info.isDefined)
    val (ver, primary, bb) = info.get
    assert(ver == GeoParquetMeta.Version && primary == "geometry")
    assert(bb.isDefined && bb.get._1 <= bb.get._3 && bb.get._2 <= bb.get._4)
    // a plain (unstamped) parquet file yields None
    val plainDir = Files.createTempDirectory("graft-plain").toString
    enriched.select("trip_id").limit(5).coalesce(1)
      .write.mode("overwrite").parquet(plainDir)
    assert(GeoParquetMeta.geoInfo(spark, firstParquet(plainDir)).isEmpty)

    // geo-aware table scan finds the primary column from the footer alone
    val (geoDf, primaryCol) = Tables.readGeo(spark, hot)
    assert(primaryCol.contains("geometry"))
    assert(geoDf.count() == enriched.count())
    assert(Tables.readGeo(spark, plainDir)._2.isEmpty)
  }

  test("geo compaction writes one file in z-key order of the bbox corner") {
    // the z key per row, in file order: reading one parquet file with
    // one split keeps its row order
    def zKeys(dir: String): Seq[Long] = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"expected 1 file in $dir, got ${files.length}")
      spark.read.parquet(files.head.toString).coalesce(1)
        .select(CompactOps.zKey.cast("long")).collect().map(_.getLong(0)).toSeq
    }
    def sorted(ks: Seq[Long]) = ks.zip(ks.drop(1)).forall { case (a, b) => a <= b }
    val in = Files.createTempDirectory("graft-zgeo-in").toString
    val out = Files.createTempDirectory("graft-zgeo-out").toString
    enriched.coalesce(1).write.mode("overwrite").parquet(in)
    val before = zKeys(in)
    assert(before.distinct.size > 1 && !sorted(before),
      "the input is already in z order; the test would show nothing")
    CompactOps.compact(spark, in, out)
    val after = zKeys(out)
    assert(after.size == before.size)
    assert(sorted(after), "compacted rows are not in z-key order")
    assert(graft.ops.GeoParquetMeta.keyValueMeta(spark,
      new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head.toString)
      .contains(graft.ops.GeoParquetMeta.GeoKey), "z output lost the geo footer")
  }

  test("compacted footers: zstd codec, row groups within the reference bound") {
    val hot = Files.createTempDirectory("graft-hot2").toString
    val cold = Files.createTempDirectory("graft-cold2").toString
    enriched.drop("year", "month", "day").write.mode("overwrite").parquet(hot)
    CompactOps.compact(spark, hot, cold)
    val groups = CompactOps.rowGroupStats(spark, cold)
    assert(groups.nonEmpty)
    assert(groups.forall(_._3 == "ZSTD"), s"codec: ${groups.map(_._3).distinct}")
    assert(groups.forall(_._1 <= CompactOps.MaxRowsPerGroup))
    assert(groups.map(_._1).sum == enriched.count())
  }

  test("compaction date-window math mirrors the reference handler") {
    import java.time.{Instant, LocalDate}
    // now = 2026-08-12T02:00Z; in America/Toronto (UTC-4) it is still Aug 11
    val now = Instant.parse("2026-08-12T02:00:00Z")
    def d(s: String) = LocalDate.parse(s)

    assert(CompactOps.datesInRange(1, "UTC", "days", compactToNow = false, now)
      == Seq(d("2026-08-11")))
    assert(CompactOps.datesInRange(2, "UTC", "days", compactToNow = true, now)
      == Seq(d("2026-08-10"), d("2026-08-11"), d("2026-08-12")))
    assert(CompactOps.datesInRange(1, "America/Toronto", "days",
      compactToNow = false, now) == Seq(d("2026-08-10"))) // tz shifts "today"
    assert(CompactOps.datesInRange(1, "UTC", "months", compactToNow = false, now)
      == Seq(d("2026-07-12")))
    assert(CompactOps.datesInRange(2, "UTC", "months", compactToNow = true, now)
      == Seq(d("2026-06-12"), d("2026-07-12"), d("2026-08-12")))
    intercept[IllegalArgumentException] {
      CompactOps.compactWindow(spark, "/x", "/y") // neither window given
    }
  }

  test("compactWindow compacts each day of a hive tree, skipping empty dates") {
    import java.time.Instant
    val raw = Files.createTempDirectory("graft-win-raw").toString
    val cold = Files.createTempDirectory("graft-win-cold").toString
    import spark.implicits._
    // three days of data, several small files each
    val df = (0 until 3000).map { i =>
      (i.toLong, s"trip_$i", 2024, 3, 1 + i % 3)
    }.toDF("id", "trip_id", "year", "month", "day").repartition(6)
    df.write.mode("overwrite").partitionBy("year", "month", "day").parquet(raw)

    val now = Instant.parse("2024-03-03T12:00:00Z")
    // previous_days=2 + compact_to_now → Mar 1, 2, 3 (all present)
    val done = CompactOps.compactWindow(spark, raw, cold,
      previousDays = Some(2), compactToNow = true, now = now)
    assert(done.length == 3, s"expected 3 compacted days, got $done")
    for ((_, out) <- done) {
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$out not compacted to one file")
    }
    val back = spark.read.parquet(cold)
    assert(back.count() == 3000)
    assert(back.select("day").distinct().collect().map(_.getInt(0)).toSet
      == Set(1, 2, 3))

    // a window reaching before the data → only the present dates compact
    val cold2 = Files.createTempDirectory("graft-win-cold2").toString
    val done2 = CompactOps.compactWindow(spark, raw, cold2,
      previousDays = Some(5), compactToNow = false, now = now)
    assert(done2.length == 2) // Feb 27..29 absent; Mar 1, 2 present
  }

  /** 3,000 enriched pings over 2024-03-05..07 (UTC), in 6 input partitions. */
  private def threeDays = IngestOps.enrich(spark.range(0, 3000, 1, 6).select(
    concat(lit("trip_"), (col("id") % 7).cast("string")).as("trip_id"),
    lit("route_1").as("route_id"), lit("0").as("direction_id"),
    concat(lit("veh_"), col("id").cast("string")).as("vehicle_id"),
    (lit(43.0) + col("id") / 10000.0).as("latitude"),
    (lit(-79.7) + col("id") / 10000.0).as("longitude"),
    lit(0.0).as("bearing"), lit(0.0).as("speed"),
    (lit(1709650000L) + col("id") % 3 * 86400 + col("id")).as("timestamp")))

  private val threeDayRels = (5 to 7).map(d => s"year=2024/month=3/day=$d")
  private val threeDayNow = java.time.Instant.parse("2024-03-07T12:00:00Z")

  /** (rows, sum of row hashes): a multiset digest of a table. */
  private def digest(path: String) = {
    val df = spark.read.parquet(path)
    df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head().toSeq
  }

  test("compactWindow: concurrent days come back in date order, each as a sequential compact") {
    val hot = Files.createTempDirectory("graft-conc-hot").toString
    val cold = Files.createTempDirectory("graft-conc-cold").toString
    IngestOps.writeHive(threeDays, hot)
    val done = CompactOps.compactWindow(spark, hot, cold,
      previousDays = Some(2), compactToNow = true, now = threeDayNow)
    assert(done == threeDayRels.map(r => s"$hot/$r" -> s"$cold/$r"))
    for (r <- threeDayRels) {
      val seq = Files.createTempDirectory("graft-conc-seq").toString
      CompactOps.compact(spark, s"$hot/$r", seq)
      assert(digest(s"$cold/$r") == digest(seq), r)
      assert(CompactOps.rowGroupStats(spark, s"$cold/$r").map(_._1) ==
        CompactOps.rowGroupStats(spark, seq).map(_._1), r)
    }
  }

  test("compactWindow: a failed day is rethrown after the other days finish, no job left") {
    val hot = Files.createTempDirectory("graft-fail-hot").toString
    val cold = Files.createTempDirectory("graft-fail-cold").toString
    IngestOps.writeHive(threeDays, hot)
    // the first day gets a corrupt data file; its footer schema still
    // comes from a good file, so the failure is the scan job's
    val bad = new java.io.File(s"$hot/${threeDayRels.head}/zz-corrupt.parquet")
    Files.write(bad.toPath, "not parquet".getBytes("UTF-8"))
    val err = intercept[Exception] {
      CompactOps.compactWindow(spark, hot, cold,
        previousDays = Some(2), compactToNow = true, now = threeDayNow)
    }
    // the scan's own error, not the pool's ExecutionException around it
    assert(err.isInstanceOf[org.apache.spark.SparkException], err)
    assert(err.getMessage.contains(bad.getName), err)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    for (r <- threeDayRels.tail) {
      assert(new java.io.File(s"$cold/$r/_SUCCESS").exists(), r)
      assert(digest(s"$cold/$r") == digest(s"$hot/$r"), r)
    }
  }

  test("compactWindow monthly path folds day partitions into month files") {
    import java.time.Instant
    val daily = Files.createTempDirectory("graft-mon-daily").toString
    val monthly = Files.createTempDirectory("graft-mon-cold").toString
    import spark.implicits._
    // the daily-compacted zone: year=2024/month={2,3}/day=... trees
    val df = (0 until 1200).map { i =>
      (i.toLong, 2024, 2 + i % 2, 1 + i % 3)
    }.toDF("id", "year", "month", "day").repartition(4)
    df.write.mode("overwrite").partitionBy("year", "month", "day").parquet(daily)

    // previous_months=1 + compact_to_now from mid-March → Feb and Mar
    val done = CompactOps.compactWindow(spark, daily, monthly,
      previousMonths = Some(1), compactToNow = true,
      now = Instant.parse("2024-03-15T00:00:00Z"))
    assert(done.map(_._2).toSet ==
      Set(s"$monthly/year=2024/month=2", s"$monthly/year=2024/month=3"),
      s"unexpected month targets: $done")
    for ((_, out) <- done) {
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$out not compacted to one file")
    }
    val back = spark.read.parquet(monthly)
    assert(back.count() == 1200)
    // partition discovery folded `day` back in as a data column, so the
    // month-level files keep day granularity (unlike the reference)
    assert(back.select("day").distinct().count() == 3)
    assert(back.select("month").distinct().collect().map(_.getInt(0)).toSet
      == Set(2, 3))
  }

  test("agency timezone drives event_ts and the hive partition date") {
    import spark.implicits._
    // 2024-03-05T02:30:00Z = 2024-03-04 21:30 America/Toronto (EST, UTC-5)
    val epoch = java.time.Instant.parse("2024-03-05T02:30:00Z").getEpochSecond
    val decoded = Seq(("t1", 43.65, -79.38, epoch))
      .toDF("trip_id", "latitude", "longitude", "timestamp")
    val utc = IngestOps.enrich(decoded).select("year", "month", "day")
      .collect().head
    assert((utc.getInt(0), utc.getInt(1), utc.getInt(2)) == ((2024, 3, 5)))
    val tor = IngestOps.enrich(decoded, timezone = "America/Toronto")
      .select("year", "month", "day", "event_ts").collect().head
    assert((tor.getInt(0), tor.getInt(1), tor.getInt(2)) == ((2024, 3, 4)))
    assert(tor.getAs[java.sql.Timestamp]("event_ts").toString
      .startsWith("2024-03-04 21:30"))
  }

  test("decode populates direction_id from the direction field (bug fix vs reference)") {
    val vals = IngestOps.decode(Tables(spark, sf0001, "events"))
      .select("direction_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(vals == Set("0", "1")) // reference wrote route_id here (handler.py:65)
  }
}
