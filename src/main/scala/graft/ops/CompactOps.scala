package graft.ops

import java.util.concurrent.{ExecutionException, Executors}
import scala.util.{Failure, Try}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's compaction plane (compaction/runtime/handler.py): rewrite
  * a day's (or month's) many small snappy files into one large zstd-15
  * file with tuned row groups (:104-127) — in Spark, a ~20-line batch job:
  * schema-pinned scan → `coalesce(1)` → z-order sort within the partition
  * (geo tables only) → GeoParquet write with codec + block-size options,
  * the file's `geo` footer written by that same write
  * ([[GeoParquetMeta.Format]]).
  *
  * At 100 TB this is the small-file fix that keeps scan parallelism sane:
  * row groups of 61,440–122,880 rows (the reference's tuning, from the
  * DuckDB perf guide) so readers get locality, and one output file per
  * partition so the file index stays small. A window's partitions are
  * compacted concurrently ([[compactWindow]]), one task each.
  *
  * Most of a compaction task is zstd-15 work, so the write goes through
  * the geo format's own file writer, which compresses each page in one
  * call on one zstd context per file, as the reference's pyarrow writer
  * does. Spark's stock writer opens a new zstd stream for every page: on
  * a 64,000-row day at level 15 that write took 3.2 s against 0.5 s, for
  * a file 2.3 % larger (see `GeoParquetOutputWriter`).
  */
object CompactOps {

  /** Zstd level the reference uses for the cold zone (:110-112). */
  val ZstdLevel = 15

  /** Reference row-group bounds (compaction/runtime/handler.py:104-106). */
  val MinRowsPerGroup = 61440
  val MaxRowsPerGroup = 122880

  /** `parquet.block.size` of a compacted file: ~122,880 rows × ~100 B/row
    * keeps row groups inside the reference's 61,440–122,880-row band for
    * the positions schema. */
  val RowGroupBytes: Long = 12L * 1024 * 1024

  /** A6: parquet footer introspection — (rows, compressed bytes, codec)
    * per row group across all files of `path`. Mirrors the reference's
    * pq.read_metadata schema/footer pin (compaction handler :86-95). */
  def rowGroupStats(spark: SparkSession,
      path: String): Seq[(Long, Long, String)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(f => f.getPath.getName.endsWith(".parquet"))
    files.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try {
        reader.getFooter.getBlocks.asScala.map { rg =>
          val codec = rg.getColumns.asScala.headOption
            .map(_.getCodec.toString).getOrElse("NONE")
          (rg.getRowCount, rg.getCompressedSize, codec)
        }.toSeq
      } finally reader.close()
    }
  }

  /** Quantization width of the geo z-layout key (10 bits per axis ≈
    * 0.35°×0.18° cells — far finer than a row group at any real density). */
  private val ZBits = 10

  /** Z-order key over the GeoParquet bbox corner: quantize lon/lat onto a
    * 2^ZBits grid and Morton-interleave. Uses the covering struct the
    * enrich step already wrote, so it works on any geo table. */
  private[graft] def zKey: org.apache.spark.sql.Column = {
    def q(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      least(greatest(
        floor((c - lit(lo)) / lit(hi - lo) * lit((1 << ZBits) - 1)), lit(0.0)),
        lit(((1 << ZBits) - 1).toDouble)).cast("int")
    graft.expr.functions.zorder(q(col("bbox.xmin"), -180.0, 180.0),
      q(col("bbox.ymin"), -90.0, 90.0), lit(ZBits))
  }

  /** `inPath`'s data schema from one data file's footer, read on the
    * driver: the file Spark's non-merging inference would read, without
    * the inference job. Partition discovery still runs on the read, so a
    * month's `day=` level stays a column. */
  private def footerSchema(spark: SparkSession, inPath: String): StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(inPath)
    val fs = root.getFileSystem(conf)
    val top = fs.makeQualified(root).toUri.getPath
    // Spark skips `_`- and `.`-prefixed names (markers, checksums, staging)
    def visible(p: Path): Boolean = p.toUri.getPath.stripPrefix(top).split('/')
      .forall(n => !n.startsWith("_") && !n.startsWith("."))
    val it = fs.listFiles(root, true)
    val file = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(visible).minByOption(_.toString)
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $inPath"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Compact `inPath` into one zstd file at `outPath`. A geo table (one
    * carrying the `bbox` covering struct) is written in z-order of its
    * bbox corner, so each row group covers a tight lat×lon cell and its
    * footer stats prune 2-D scans; any other table is written in scan
    * order. The scan, the sort and the write run in one task: a day is
    * one output file, and a shuffle would only move it to one reducer. */
  def compact(spark: SparkSession, inPath: String, outPath: String): Unit = {
    val df = spark.read.schema(footerSchema(spark, inPath)).parquet(inPath)
    // the z key reads bbox.xmin/ymin — use it only when they exist and
    // are numeric, so an unrelated table that happens to carry a `bbox`
    // struct of its own still compacts instead of failing
    val isGeo = df.schema.fields.exists(f => f.name == "bbox" &&
      (f.dataType match {
        case st: StructType =>
          Seq("xmin", "ymin").forall(n => st.fields.exists(sf =>
            sf.name == n &&
              sf.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
        case _ => false
      }))
    val one = df.coalesce(1)
    val arranged = if (isGeo) one.sortWithinPartitions(zKey) else one
    // the geo format writes the GeoParquet footer on each output file like
    // the reference (compaction/runtime/handler.py:86-95); a table without
    // the geometry column gets plain parquet
    arranged.write
      .format(GeoParquetMeta.Format)
      .option("compression", "zstd")
      .option("parquet.compression.codec.zstd.level", ZstdLevel.toString)
      .option("parquet.block.size", RowGroupBytes.toString)
      .mode("overwrite")
      .save(outPath)
  }

  // ---- G4: cron-compaction date-window orchestration ----
  // Mirrors compaction/runtime/handler.py:150-189: the payload names a
  // window (previous_days XOR previous_months + timezone + compact_to_now),
  // the window expands to a date list, and each date's hive partition is
  // compacted independently. `now` is an explicit parameter (the reference
  // reads the wall clock) so tests and replays are deterministic.

  /** handler.py:150-167 — `duration` periods back from now-in-`tz`, one
    * date per period, plus the current period when `compactToNow`. */
  def datesInRange(duration: Int, tz: String, period: String,
      compactToNow: Boolean, now: java.time.Instant): Seq[java.time.LocalDate] = {
    require(period == "days" || period == "months", s"bad period: $period")
    val zNow = now.atZone(java.time.ZoneId.of(tz))
    val start =
      if (period == "days") zNow.minusDays(duration) else zNow.minusMonths(duration)
    val n = if (compactToNow) duration + 1 else duration
    (0 until n).map { i =>
      (if (period == "days") start.plusDays(i) else start.plusMonths(i)).toLocalDate
    }
  }

  /** handler.py:170-195 — expand the payload window and compact each
    * date's partition from `inRoot` into the same relative path under
    * `outRoot` (raw hot zone → compacted cold zone). Daily windows target
    * `year=Y/month=M/day=D`; monthly windows target `year=Y/month=M`
    * (recursive read — Spark partition discovery folds the `day=` level
    * back in as a data column, so month files keep day granularity, unlike
    * the reference whose month merge drops it from the schema). Dates with
    * no data are skipped like the reference's "No objects found" path.
    * Returns the (in, out) partition paths actually compacted, in date
    * order.
    *
    * The partitions are compacted concurrently, on a pool of
    * min(partitions, defaultParallelism) threads made for this call: a
    * partition's write is one task, so one at a time would leave the
    * other cores idle. Every compaction runs to its end before the call
    * returns or throws, so no job of the window outlives it; if any
    * failed, the first failure in date order is rethrown as `compact`
    * threw it. */
  def compactWindow(spark: SparkSession, inRoot: String, outRoot: String,
      previousDays: Option[Int] = None, previousMonths: Option[Int] = None,
      timezone: String = "UTC", compactToNow: Boolean = false,
      now: java.time.Instant = java.time.Instant.now()): Seq[(String, String)] = {
    val (duration, period) = (previousDays, previousMonths) match {
      case (Some(d), None) => (d, "days")
      case (None, Some(m)) => (m, "months")
      case _ => throw new IllegalArgumentException(
        "exactly one of previousDays / previousMonths required")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val pairs = datesInRange(duration, timezone, period, compactToNow, now).flatMap { d =>
      val rel =
        if (period == "days")
          s"year=${d.getYear}/month=${d.getMonthValue}/day=${d.getDayOfMonth}"
        else s"year=${d.getYear}/month=${d.getMonthValue}"
      val in = new org.apache.hadoop.fs.Path(s"$inRoot/$rel")
      if (!in.getFileSystem(conf).exists(in)) None
      else Some(in.toString -> s"$outRoot/$rel")
    }
    if (pairs.isEmpty) pairs
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(pairs.size, spark.sparkContext.defaultParallelism))
      try {
        val runs = pairs.map { case (in, out) =>
          pool.submit[Unit](() => compact(spark, in, out))
        }
        // every run ends before any outcome is looked at
        val outcomes = runs.map(r => Try(r.get()))
        outcomes.collectFirst { case Failure(e: ExecutionException) => throw e.getCause }
        pairs
      } finally pool.shutdownNow()
    }
  }
}
