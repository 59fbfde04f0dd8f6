package graft

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.Files
import graft.ops.{CompactOps, GeoParquetMeta, GeoParquetWriteSupport, IngestOps}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetOutputFormat}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Spark's stock parquet writer with the geo write support: the writer
  * [[GeoParquetMeta.Format]] replaces, kept here as the reference its
  * files are compared with. */
class StockGeoParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    job.getConfiguration.setClass(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[GeoParquetWriteSupport], classOf[WriteSupport[_]])
    factory
  }
}

/** The geo format's own file writer (direct codec factory, one zstd
  * context per file) writes what Spark's stock writer writes. */
class GeoWriterSpec extends SparkSpec {

  /** 20,000 enriched pings on 2024-03-05 (UTC), in 4 input partitions. */
  private def pings = IngestOps.enrich(spark.range(0, 20000, 1, 4).select(
    concat(lit("trip_"), (col("id") % 97).cast("string")).as("trip_id"),
    concat(lit("route_"), (col("id") % 13).cast("string")).as("route_id"),
    (col("id") % 2).cast("string").as("direction_id"),
    concat(lit("veh_"), (col("id") % 500).cast("string")).as("vehicle_id"),
    (lit(43.6) + (col("id") * 7919 % 1000) / 10000.0).as("latitude"),
    (lit(-79.5) + (col("id") * 104729 % 1000) / 10000.0).as("longitude"),
    (col("id") % 360).cast("double").as("bearing"),
    (col("id") % 40).cast("double").as("speed"),
    (lit(1709625600L) + col("id") * 4).as("timestamp")))

  private def parquetUnder(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir)).map(_.toString)
  }

  private def footer(file: String): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  private def only(dir: String): String = {
    val files = parquetUnder(dir)
    assert(files.size == 1, s"expected one file in $dir, got $files")
    files.head
  }

  /** `df` in one file through `format`, with compaction's options. */
  private def writeOne(df: DataFrame, format: String, blockSize: Long): String = {
    val dir = Files.createTempDirectory("graft-writer").toString
    df.coalesce(1).write.format(format)
      .option("compression", "zstd")
      .option("parquet.compression.codec.zstd.level", CompactOps.ZstdLevel.toString)
      .option("parquet.block.size", blockSize.toString)
      .mode("overwrite").save(dir)
    only(dir)
  }

  private def groupRows(file: String): Seq[Long] =
    footer(file).getBlocks.asScala.map(_.getRowCount).toSeq

  test("a compacted file has the stock writer's rows, row groups, codec, indexes and geo footer") {
    val hot = Files.createTempDirectory("graft-writer-hot").toString
    val cold = Files.createTempDirectory("graft-writer-cold").toString
    pings.write.mode("overwrite").parquet(hot)
    CompactOps.compact(spark, hot, cold)
    val ours = only(cold)
    // the compacted rows in their file order, through the stock writer
    val stock = writeOne(spark.read.parquet(ours), classOf[StockGeoParquetFormat].getName,
      CompactOps.RowGroupBytes)

    val (a, b) = (spark.read.parquet(ours), spark.read.parquet(stock))
    assert(a.count() == 20000)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(groupRows(ours) == groupRows(stock))
    val chunks = (f: String) => footer(f).getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
    assert(chunks(ours).size == chunks(stock).size)
    for ((chunk, ref) <- chunks(ours).zip(chunks(stock))) {
      val name = chunk.getPath.toDotString
      assert(chunk.getCodec.name == "ZSTD", name)
      assert(chunk.getStatistics != null && !chunk.getStatistics.isEmpty, name)
      assert(chunk.getStatistics == ref.getStatistics, name)
      assert(chunk.getOffsetIndexReference != null, name)
      // parquet writes no column index for INT96 (Spark's default
      // timestamp type), which has no sort order
      assert((chunk.getColumnIndexReference != null) ==
        (chunk.getPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.INT96), name)
      assert((ref.getColumnIndexReference != null) == (chunk.getColumnIndexReference != null), name)
    }
    val geo = (f: String) => GeoParquetMeta.keyValueMeta(spark, f).get(GeoParquetMeta.GeoKey)
    assert(geo(ours).isDefined && geo(ours) == geo(stock))
  }

  test("a small parquet.block.size gives several row groups, as on the stock writer") {
    val small = 256L * 1024
    val ours = writeOne(pings, GeoParquetMeta.Format, small)
    val stock = writeOne(pings, classOf[StockGeoParquetFormat].getName, small)
    assert(groupRows(ours).size > 1, groupRows(ours))
    assert(groupRows(ours).sum == 20000)
    assert(groupRows(ours) == groupRows(stock))
  }

  test("a write that throws mid-task leaves no visible file and no direct memory") {
    val pool = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .find(_.getName == "direct").get
    /** Direct memory in use after collections, polled for up to 20 s
      * until it is at most `atMost`. Parquet's direct allocator frees a
      * buffer only when it is collected. */
    def settled(atMost: Long): Long = {
      val end = System.nanoTime() + 20L * 1000 * 1000 * 1000
      var used = Long.MaxValue
      while (used > atMost && System.nanoTime() < end) {
        System.gc()
        Thread.sleep(200)
        used = pool.getMemoryUsed
      }
      used
    }
    // a good write first, so every buffer the session keeps is allocated
    writeOne(pings, GeoParquetMeta.Format, 256L * 1024)
    settled(Long.MaxValue)
    val baseline = settled(Long.MaxValue)

    val out = Files.createTempDirectory("graft-writer-fail").toString
    // the last row throws, after the writer has compressed row groups
    val failing = pings.withColumn("speed",
      when(col("event_ts") === timestamp_seconds(lit(1709625600L + 19999L * 4)),
        raise_error(lit("mid-task failure"))).otherwise(col("speed")))
    val err = intercept[Exception] {
      failing.coalesce(1).write.format(GeoParquetMeta.Format)
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", CompactOps.ZstdLevel.toString)
        .option("parquet.block.size", (256L * 1024).toString)
        .mode("overwrite").save(out)
    }
    assert(err.toString.contains("mid-task failure") ||
      Option(err.getCause).exists(_.toString.contains("mid-task failure")), err)
    val visible = Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    assert(visible.isEmpty, visible)
    assert(parquetUnder(out).isEmpty, parquetUnder(out))
    val after = settled(baseline)
    assert(after <= baseline, s"direct memory $after B after the failed write, $baseline B before")
  }
}
