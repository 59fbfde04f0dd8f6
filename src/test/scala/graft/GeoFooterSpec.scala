package graft

import java.nio.file.Files
import graft.ops.{CompactOps, GeoParquetMeta, IngestOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The GeoParquet `geo` footer written by the write itself: each file's
  * bbox is the min/max of that file's own covering leaves, on every geo
  * write path, and bad coordinates never reach the JSON. */
class GeoFooterSpec extends SparkSpec {

  private lazy val enriched =
    IngestOps.enrich(IngestOps.decode(Tables(spark, sf0001, "events")))

  private def parquetUnder(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory && !f.getName.startsWith("_"))
        Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir)).map(_.toString)
  }

  /** The footer bbox equals the min/max of the file's bbox leaves, read
    * back with Spark from that one file. */
  private def assertFooterMatchesData(file: String): Unit = {
    val info = GeoParquetMeta.geoInfo(spark, file)
    assert(info.isDefined, s"no geo footer on $file")
    val r = spark.read.parquet(file)
      .agg(min("bbox.xmin"), min("bbox.ymin"), max("bbox.xmax"), max("bbox.ymax"))
      .head()
    val data = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(info.get._3.contains(data), s"footer ${info.get._3} vs data $data in $file")
  }

  test("footer bbox matches each file's data: writeHive, compactWindow") {
    val hot = Files.createTempDirectory("graft-geofoot-hot").toString
    IngestOps.writeHive(enriched.repartition(3), hot)
    val hotFiles = parquetUnder(hot)
    assert(hotFiles.size > 1)
    hotFiles.foreach(assertFooterMatchesData)

    // compact the day of the first hot partition into the cold zone
    val day = """year=(\d+)/month=(\d+)/day=(\d+)""".r
      .findFirstMatchIn(hotFiles.head).get
    val now = java.time.LocalDate.of(day.group(1).toInt, day.group(2).toInt,
      day.group(3).toInt).atTime(12, 0).toInstant(java.time.ZoneOffset.UTC)
    val cold = Files.createTempDirectory("graft-geofoot-cold").toString
    val done = CompactOps.compactWindow(spark, hot, cold, previousDays = Some(0),
      compactToNow = true, now = now)
    assert(done.size == 1)
    val coldFiles = parquetUnder(done.head._2)
    assert(coldFiles.nonEmpty)
    coldFiles.foreach(assertFooterMatchesData)
  }

  test("the format writes no geo key without a geometry column, and no covering without bbox") {
    val plain = Files.createTempDirectory("graft-geofoot-plain").toString
    enriched.select("trip_id").coalesce(1)
      .write.format(GeoParquetMeta.Format).mode("overwrite").save(plain)
    val f = parquetUnder(plain)
    assert(f.nonEmpty)
    f.foreach(p => assert(!GeoParquetMeta.keyValueMeta(spark, p).contains(GeoParquetMeta.GeoKey)))

    val noBbox = Files.createTempDirectory("graft-geofoot-nobbox").toString
    enriched.select("trip_id", "geometry").coalesce(1)
      .write.format(GeoParquetMeta.Format).mode("overwrite").save(noBbox)
    parquetUnder(noBbox).foreach { p =>
      val json = GeoParquetMeta.keyValueMeta(spark, p)(GeoParquetMeta.GeoKey)
      assert(!json.contains("covering") && !json.contains("bbox"), json)
      assert(GeoParquetMeta.geoInfo(spark, p).map(_._2).contains("geometry"))
    }
  }

  /** One enriched file from decoded rows with the given coordinates. */
  private def writeOne(coords: Seq[(Option[Double], Option[Double])]): String = {
    val s = spark
    import s.implicits._
    val decoded = coords.zipWithIndex.map { case ((lon, lat), i) =>
      (s"t$i", "r", "0", s"v$i", lat, lon, 0.0, 0.0, 1709650000L + i)
    }.toDF("trip_id", "route_id", "direction_id", "vehicle_id", "latitude",
      "longitude", "bearing", "speed", "timestamp")
    val dir = Files.createTempDirectory("graft-geofoot-bad").toString
    IngestOps.writeHive(IngestOps.enrich(decoded).coalesce(1), dir)
    val files = parquetUnder(dir)
    assert(files.size == 1)
    files.head
  }

  test("the bbox fold skips null and NaN coordinates; none left means no bbox") {
    val f = writeOne(Seq(Some(-79.5) -> Some(43.5), Some(Double.NaN) -> Some(43.9),
      None -> Some(43.1), Some(-79.1) -> Some(43.3)))
    val json = GeoParquetMeta.keyValueMeta(spark, f)(GeoParquetMeta.GeoKey)
    assert(GeoParquetMeta.parseGeo(json).isDefined, s"footer is not JSON: $json")
    // x over the two finite longitudes; y over every latitude
    assert(GeoParquetMeta.geoInfo(spark, f).get._3.contains((-79.5, 43.1, -79.1, 43.9)))

    for (lon <- Seq(None, Some(Double.NaN))) {
      val g = writeOne(Seq(lon -> Some(43.5), lon -> Some(43.6)))
      val info = GeoParquetMeta.geoInfo(spark, g)
      assert(info.exists(_._2 == "geometry") && info.get._3.isEmpty, s"$lon: $info")
    }
  }

  test("parseGeo reads a valid footer and rejects truncated or non-object JSON") {
    val valid = """{"version":"1.1.0","primary_column":"geometry","columns":""" +
      """{"geometry":{"encoding":"WKB","geometry_types":["Point"],""" +
      """"bbox":[-79.7,43.0,-79.001,43.999],"covering":{"bbox":""" +
      """{"xmin":["bbox","xmin"],"ymin":["bbox","ymin"],"xmax":["bbox","xmax"],""" +
      """"ymax":["bbox","ymax"]}}}}}"""
    assert(GeoParquetMeta.parseGeo(valid) ==
      Some(("1.1.0", "geometry", Some((-79.7, 43.0, -79.001, 43.999)))))
    assert(GeoParquetMeta.parseGeo(valid.dropRight(3)).isEmpty)
    assert(GeoParquetMeta.parseGeo("""["geometry"]""").isEmpty)
  }
}
