package graft.streaming

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** `graft-feed`: a DataSourceV2 micro-batch SOURCE for the polled HTTP
  * feed, and the engine's only poller. One GET per trigger, like the
  * reference's EventBridge rate → Lambda contract
  * (etl/infrastructure/construct.py:202-221), but with GENUINE
  * exactly-once offsets:
  *
  *  - `latestOffset()` (one call per trigger) performs the poll and
  *    persists the payload into a write-ahead dir under the query
  *    checkpoint (`<ckpt>/payloads/`, temp-file + atomic rename) BEFORE
  *    advancing the offset — an offset never references bytes that are
  *    not durable;
  *  - a batch replayed after a crash re-reads the SAME bytes from the
  *    WAL (an HTTP GET is not replayable — re-fetching on replay would
  *    silently substitute different data);
  *  - `commit(end)` prunes WAL entries below the committed offset, so
  *    the dir holds only the uncommitted horizon (bounded by trigger
  *    backlog, not stream lifetime);
  *  - a FAILED poll simply does not advance the offset (before the
  *    first durable payload there is no offset at all): the trigger
  *    finds no new data and the next one retries — no data loss,
  *    no spurious failure of the whole query on one network blip. With
  *    `dlqPath` set, each failed poll also leaves one dead-letter record
  *    there, the reference's DLQ for failed invocations.
  *
  * Offsets count polls; batch (start, end] reads WAL indices
  * start..end-1. Payload rows are small (one feed snapshot per trigger),
  * so partitions ship the bytes with the task rather than requiring
  * executor-side filesystem access; durability comes from the WAL, and
  * the decode/enrich/write work downstream is fully distributed.
  *
  * Options: `url` (required), `apiKeyHeader`/`apiKeyValue`, `dlqPath`.
  * Schema: (poll_id LONG, fetch_ts_ms LONG, feed BINARY). The checkpoint and `dlqPath` must be local paths.
  */
class FeedV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-feed"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = FeedV2.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new FeedV2.FeedTable(properties)
}

object FeedV2 {

  val Schema: StructType = StructType(Seq(
    StructField("poll_id", LongType, nullable = false),
    StructField("fetch_ts_ms", LongType, nullable = false),
    StructField("feed", BinaryType, nullable = false)))

  private[streaming] class FeedTable(props: JMap[String, String])
      extends Table with SupportsRead {
    override def name(): String = s"graft-feed(${props.get("url")})"
    override def schema(): StructType = Schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new Scan {
        override def readSchema(): StructType = Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FeedStream(options, checkpointLocation)
      }
  }

  private def localDir(path: org.apache.hadoop.fs.Path, error: => String): java.io.File = {
    val uri = path.toUri
    require(uri.getScheme == null || uri.getScheme == "file", error)
    new java.io.File(uri.getPath)
  }

  /** `bytes` as `dir/name`, whole or not at all: a hidden temp file, then
    * an atomic rename (readers skip dot-files and `.tmp`). */
  private def writeAtomic(dir: java.io.File, name: String, bytes: Array[Byte]): Unit = {
    dir.mkdirs()
    val tmp = new java.io.File(dir, s".$name.tmp")
    java.nio.file.Files.write(tmp.toPath, bytes)
    java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** A failure as its class and message, then each cause's (at most 8
    * levels: a cause chain can loop). A refused connection's
    * `ConnectException` has no message, so the class is what says what
    * failed. */
  private def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).fold(t.getClass.getName)(m => s"${t.getClass.getName}: $m"))
      .mkString("; caused by ")

  private[graft] case class FeedOffset(polls: Long) extends Offset {
    override def json(): String = polls.toString
  }

  /** One durable payload per poll: `<ckpt>/payloads/%020d_<fetchTsMs>`. */
  private[graft] class FeedStream(options: CaseInsensitiveStringMap,
      checkpointLocation: String) extends MicroBatchStream
      with org.apache.spark.internal.Logging {

    private val url = {
      val u = options.get("url")
      require(u != null && u.nonEmpty, "graft-feed requires a 'url' option")
      u
    }
    private val apiKey: Option[(String, String)] =
      Option(options.get("apiKeyHeader"))
        .map(h => h -> String.valueOf(options.get("apiKeyValue")))

    private val walDir = localDir(
      new org.apache.hadoop.fs.Path(checkpointLocation, "payloads"),
      s"graft-feed WAL supports local checkpoints in this build, got $checkpointLocation")
    /** One JSON record per failed poll: (poll_id, ts, url, error). */
    private val dlqDir: Option[java.io.File] = Option(options.get("dlqPath")).map(p =>
      localDir(new org.apache.hadoop.fs.Path(p),
        s"graft-feed dlqPath must be a local path in this build, got $p"))

    private def walFiles(): Array[java.io.File] =
      Option(walDir.listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.endsWith(".tmp"))
        .sortBy(_.getName)

    private def indexOf(f: java.io.File): Long = f.getName.takeWhile(_ != '_').toLong

    /** Count of durable polls (restart-safe: derived from the WAL). */
    private def walCount(): Long =
      walFiles().lastOption.map(indexOf(_) + 1).getOrElse(0L)

    override def initialOffset(): Offset = FeedOffset(0L)

    override def deserializeOffset(json: String): Offset =
      FeedOffset(json.trim.toLong)

    override def latestOffset(): Offset = {
      val next = walCount()
      try {
        val bytes = HttpFeedSource.fetchFeed(url, apiKey)
        writeAtomic(walDir, f"$next%020d" + s"_${System.currentTimeMillis()}", bytes)
        FeedOffset(next + 1)
      } catch {
        case e: java.io.IOException =>
          // poll failure → no new offset, retry next trigger (the offset
          // only ever advances past durable payloads). One line, no stack
          // trace: a dead feed fails on every trigger.
          val error = describe(e)
          logWarning(s"graft-feed poll of $url failed ($error); retrying next trigger")
          dlqDir.foreach { dir =>
            val ms = System.currentTimeMillis()
            val rec = ("poll_id" -> next) ~ ("ts" -> ms / 1000L) ~ ("url" -> url) ~
              ("error" -> error)
            // the same poll index fails on every retry: the file name
            // keeps each attempt's record
            writeAtomic(dir, f"$next%020d" + s"_${ms}_${java.util.UUID.randomUUID()}.json",
              compact(render(rec)).getBytes("UTF-8"))
          }
          // no offset at all before the first durable payload: Spark reads
          // null as "no new data", where FeedOffset(0) would run a fresh
          // query's batch 0 over an empty range
          if (next == 0L) null else FeedOffset(next)
      }
    }

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val (s, e) = (start.asInstanceOf[FeedOffset].polls,
        end.asInstanceOf[FeedOffset].polls)
      walFiles().filter(f => indexOf(f) >= s && indexOf(f) < e).map { f =>
        val ts = f.getName.dropWhile(_ != '_').drop(1).toLong
        FeedPartition(indexOf(f), ts,
          java.nio.file.Files.readAllBytes(f.toPath)): InputPartition
      }
    }

    override def createReaderFactory(): PartitionReaderFactory = new FeedReaderFactory

    override def commit(end: Offset): Unit = {
      val e = end.asInstanceOf[FeedOffset].polls
      walFiles().filter(indexOf(_) < e).foreach(_.delete())
    }

    override def stop(): Unit = ()
  }

  private case class FeedPartition(pollId: Long, fetchTsMs: Long,
      bytes: Array[Byte]) extends InputPartition

  private class FeedReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val fp = p.asInstanceOf[FeedPartition]
        private var emitted = false
        override def next(): Boolean = !emitted && { emitted = true; true }
        override def get(): InternalRow =
          new GenericInternalRow(Array[Any](fp.pollId, fp.fetchTsMs, fp.bytes))
        override def close(): Unit = ()
      }
  }
}
