package graft.ops

import com.fasterxml.jackson.databind.DeserializationFeature
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.parquet.bytes.DirectByteBufferAllocator
import org.apache.parquet.hadoop.{CodecFactory, ParquetFileReader, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._
import scala.util.Try

/** GeoParquet file-level metadata (B1). The reference writes the `geo`
  * footer key-value in the same pyarrow write that produces each file
  * (etl/runtime/handler.py:144-156, `write_geoparquet(...,
  * generate_covering=True)`) and compaction writes it again on its outputs
  * (compaction/runtime/handler.py:86-95); without it a GeoParquet-aware
  * reader (geopandas, DuckDB-spatial) won't recognize the output as geo.
  *
  * Here too the footer is written by the write itself: every geo write
  * goes through [[Format]], Spark's parquet format with its own file
  * writer ([[GeoParquetOutputWriter]]: one zstd context per file, not per
  * page), whose write support folds each file's bbox while writing rows
  * and adds `geo` to the footer when the file closes. A file therefore
  * never changes after its commit. This object keeps the JSON codec and
  * the footer readers.
  */
object GeoParquetMeta {

  val GeoKey = "geo"
  val Version = "1.1.0"

  /** `.format(GeoParquetMeta.Format)` writes parquet plus the `geo`
    * footer; call `.save(path)`, since `.parquet(path)` resets the format
    * to plain parquet. */
  val Format: String = classOf[GeoParquetFormat].getName

  /** The WKB point column and its GeoParquet bbox covering struct, as
    * [[IngestOps.enrich]] writes them. */
  private[ops] val Primary = "geometry"
  private[ops] val BboxCol = "bbox"
  private[ops] val Leaves = Seq("xmin", "ymin", "xmax", "ymax")

  /** GeoParquet `geo` JSON for the WKB point column, with the bbox
    * covering when the file has the `bbox` struct and the file bbox when
    * one is known. `crs` omitted ⇒ OGC:CRS84 per the GeoParquet 1.1 spec —
    * the reference's CRS (handler.py:150). */
  private[ops] def geoJson(covering: Boolean,
      bbox: Option[(Double, Double, Double, Double)]): String = {
    val box = bbox.toList.map { case (x0, y0, x1, y1) =>
      "bbox" -> JArray(List(x0, y0, x1, y1).map(JDouble(_)))
    }
    val cover = if (!covering) Nil else List("covering" -> JObject(
      "bbox" -> JObject(Leaves.map(l =>
        l -> JArray(List(JString(BboxCol), JString(l)))): _*)))
    val column = JObject(List(
      "encoding" -> JString("WKB"),
      "geometry_types" -> JArray(List(JString("Point")))) ++ box ++ cover)
    JsonMethods.compact(JObject(
      "version" -> JString(Version),
      "primary_column" -> JString(Primary),
      "columns" -> JObject(Primary -> column)))
  }

  /** Parse a `geo` footer value into (version, primary geometry column,
    * file bbox of that column). None for anything but one JSON object;
    * a missing field reads as "" (or no bbox), as files written by older
    * versions of this engine are read. */
  def parseGeo(json: String):
      Option[(String, String, Option[(Double, Double, Double, Double)])] =
    Try(JsonMethods.mapper.readerFor(classOf[JValue])
      .`with`(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .readValue[JValue](json)).toOption.collect { case o: JObject =>
      def str(v: JValue) = v match { case JString(s) => s; case _ => "" }
      val primary = str(o \ "primary_column")
      val bbox = o \ "columns" \ primary \ "bbox" match {
        case JArray(vs) =>
          vs.collect { case JDouble(d) => d; case JInt(i) => i.toDouble } match {
            case List(x0, y0, x1, y1) => Some((x0, y0, x1, y1))
            case _ => None
          }
        case _ => None
      }
      (str(o \ "version"), primary, bbox)
    }

  /** Read the footer key-value metadata of one parquet file. */
  def keyValueMeta(spark: SparkSession, file: String): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
    finally reader.close()
  }

  /** Read side of the round-trip: a file's parsed `geo` footer (see
    * [[parseGeo]]) — what a GeoParquet-aware reader needs to locate the
    * geometry and prune by bbox. None without a well-formed `geo` key. */
  def geoInfo(spark: SparkSession, file: String):
      Option[(String, String, Option[(Double, Double, Double, Double)])] =
    keyValueMeta(spark, file).get(GeoKey).flatMap(parseGeo)

  /** All `.parquet` files under `path`, recursing through hive partitions
    * (empty when `path` does not exist). */
  def listParquet(spark: SparkSession, path: String): Set[Path] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Set.newBuilder[Path]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) out += f.getPath
      }
    }
    out.result()
  }
}

/** Spark's parquet file format with the GeoParquet `geo` footer, written
  * by its own [[GeoParquetOutputWriter]]. Used by name through
  * [[GeoParquetMeta.Format]] by the hot-zone append (`IngestOps.writeHive`)
  * and by compaction. Spark's `prepareWrite` still sets up the job conf
  * (row schema, codec, the write's options) and names the files. */
class GeoParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val stock = super.prepareWrite(sparkSession, job, options, dataSchema)
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String =
        stock.getFileExtension(context)
      override def newInstance(path: String, dataSchema: StructType,
          context: TaskAttemptContext): OutputWriter =
        new GeoParquetOutputWriter(path, context.getConfiguration)
    }
  }
}

/** One parquet file written with [[GeoParquetWriteSupport]] and parquet's
  * direct codec factory. Spark's own `ParquetOutputWriter` writes the same
  * file through parquet's heap codecs, whose zstd codec opens a new
  * streaming zstd context for every page; the direct factory compresses
  * each page in one call with one `ZstdCompressCtx` for the file, as
  * pyarrow does. On 64,000 rows at zstd-15 that is 3.2 s → 0.5 s and a
  * file 2.3 % smaller; at snappy or zstd-3 both paths cost the same.
  *
  * Codec, row-group size, page sizes, dictionary, writer version,
  * validation and page checksums come from the job conf through
  * `ParquetOutputFormat`'s getters, as Spark's writer reads them. Other
  * parquet settings (row-count limits, bloom filters, per-column options,
  * statistics truncation) keep parquet's defaults; no write in this
  * project sets them. Parquet's `MemoryManager`, which shrinks every open
  * writer's row group once their sum passes 95 % of the heap, is not
  * kept: `ParquetWriter` has no way to join it. Spark keeps one open
  * writer per task, so at most one 128 MB row group per core is
  * buffered, and compaction's row band needs the row-group size it asks
  * for. */
private[ops] class GeoParquetOutputWriter(file: String, conf: Configuration)
    extends OutputWriter {
  private val writer: ParquetWriter[InternalRow] = {
    val pageSize = ParquetOutputFormat.getPageSize(conf)
    val codecs = CodecFactory.createDirectCodecFactory(conf,
      new DirectByteBufferAllocator, pageSize)
    try new GeoParquetOutputWriter.Builder(new Path(file))
      .withConf(conf)
      .withCodecFactory(codecs)
      .withCompressionCodec(ParquetOutputFormat.getCompression(conf))
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
      .withPageSize(pageSize)
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
      .withValidation(ParquetOutputFormat.getValidation(conf))
      .withPageWriteChecksumEnabled(ParquetOutputFormat.getPageWriteChecksumEnabled(conf))
      .build()
    catch { case e: Throwable => codecs.release(); throw e }
  }

  override def path(): String = file
  override def write(row: InternalRow): Unit = writer.write(row)
  /** Spark calls this on commit and on abort; `ParquetWriter.close`
    * releases the codec factory even when flushing the last row group
    * throws. */
  override def close(): Unit = writer.close()
}

private[ops] object GeoParquetOutputWriter {
  private class Builder(file: Path)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new GeoParquetWriteSupport
  }
}

/** Spark's parquet write support plus a per-file bbox fold. One instance
  * writes one file: `write` folds min x/y and max x/y over the `bbox`
  * leaves (skipping nulls and non-finite values, which have no JSON form),
  * and `finalizeWrite` adds `geo` to the footer when the schema has the
  * geometry column. A file with no finite coordinate gets `geo` without a
  * bbox; a schema with no `bbox` struct of doubles gets no fold, and no
  * covering unless a `bbox` column exists. */
class GeoParquetWriteSupport extends ParquetWriteSupport {
  import GeoParquetMeta._

  private var geo = false
  private var covering = false
  private var bboxOrd = -1
  private var bboxFields = 0
  private var leafOrds = Array.empty[Int]
  private val acc = Array(Double.PositiveInfinity, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.NegativeInfinity)

  override def init(conf: Configuration): WriteSupport.WriteContext = {
    val ctx = super.init(conf)
    val schema = DataType.fromJson(conf.get(ParquetWriteSupport.SPARK_ROW_SCHEMA))
      .asInstanceOf[StructType]
    geo = schema.fieldNames.contains(Primary)
    covering = schema.fieldNames.contains(BboxCol)
    if (geo && covering) schema(BboxCol).dataType match {
      case st: StructType if Leaves.forall(l =>
          st.fields.exists(f => f.name == l && f.dataType == DoubleType)) =>
        bboxOrd = schema.fieldIndex(BboxCol)
        bboxFields = st.length
        leafOrds = Leaves.map(st.fieldIndex).toArray
      case _ =>
    }
    ctx
  }

  override def write(row: InternalRow): Unit = {
    if (bboxOrd >= 0 && !row.isNullAt(bboxOrd)) {
      val b = row.getStruct(bboxOrd, bboxFields)
      var i = 0
      while (i < 4) {
        val o = leafOrds(i)
        if (!b.isNullAt(o)) {
          val v = b.getDouble(o)
          if (v.isFinite)
            acc(i) = if (i < 2) math.min(acc(i), v) else math.max(acc(i), v)
        }
        i += 1
      }
    }
    super.write(row)
  }

  override def finalizeWrite(): WriteSupport.FinalizedWriteContext = {
    val meta = new java.util.HashMap(super.finalizeWrite().getExtraMetaData)
    if (geo) {
      val bbox =
        if (acc.exists(_.isInfinite)) None
        else Some((acc(0), acc(1), acc(2), acc(3)))
      meta.put(GeoKey, geoJson(covering, bbox))
    }
    new WriteSupport.FinalizedWriteContext(meta)
  }
}
