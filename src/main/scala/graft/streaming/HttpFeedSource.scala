package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import graft.ops.IngestOps
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A1: the reference's real feed source — an HTTP GET poll of a GTFS-rt
  * endpoint with an optional API-key header and a 5 s timeout
  * (etl/runtime/handler.py:43-52), re-expressed as Structured Streaming:
  * the [[FeedV2]] source polls once per trigger and the fetched
  * FeedMessage goes through the same `decodeProtobuf ∘ enrich` transform
  * as the batch path, appended hive-partitioned.
  *
  * The fetch happens once per trigger on the driver (a feed snapshot is
  * one small binary — the reference's Lambda does exactly one GET per
  * invocation); all decode/enrich/write work is distributed. A non-200 or
  * timeout is the reference's raise_for_status: an IOException.
  */
object HttpFeedSource {

  /** The reference's fixed 5 s timeout, for connect and for the request. */
  private val Timeout = Duration.ofSeconds(5)

  /** One client for every fetch: each HttpClient owns a selector thread
    * and connection pool that live until GC, so building one per poll
    * leaks threads over a long-running stream. */
  private lazy val client = HttpClient.newBuilder().connectTimeout(Timeout).build()

  /** One feed fetch: GET `url`, optional `(header, key)` pair, reference
    * timeout 5 s. Non-2xx → IOException (raise_for_status). */
  def fetchFeed(url: String, apiKey: Option[(String, String)] = None): Array[Byte] = {
    val b = HttpRequest.newBuilder(URI.create(url)).timeout(Timeout).GET()
    apiKey.foreach { case (h, v) => b.header(h, v) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} from $url")
    resp.body()
  }

  /** Start the polling ingest query: each trigger fires one fetch →
    * decode → enrich(timezone) → hive-partitioned parquet append. The
    * poll happens inside the [[FeedV2]] DataSourceV2 source (one GET per
    * trigger, payload WAL-persisted under the checkpoint before the offset
    * advances), so a replayed batch re-processes the SAME fetched bytes
    * instead of re-polling. The sink side keeps the foreachBatch shape so
    * the lake stays a plain hive tree with no sink log (`_spark_metadata`),
    * written and read like the batch lake — and foreachBatch is
    * at-least-once: a crash between a batch's append and its `commits/N`
    * entry replays the batch and appends its rows a second time. Polled
    * bytes are never lost or substituted; lake rows may be duplicated.
    *
    * A failed poll advances no offset and the next trigger retries. With
    * `dlqPath` set, each failure also appends one (poll_id, ts, url, error)
    * JSON record there and the stream keeps running — the reference's
    * dead-letter queue (etl/infrastructure/construct.py). `checkpoint` and
    * `dlqPath` must be local paths. */
  def pollQueryV2(spark: SparkSession, url: String, outPath: String,
      checkpoint: String, apiKey: Option[(String, String)] = None,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      timezone: String = "UTC", dlqPath: Option[String] = None): StreamingQuery = {
    val reader = spark.readStream.format("graft-feed").option("url", url)
    apiKey.foreach { case (h, v) =>
      reader.option("apiKeyHeader", h).option("apiKeyValue", v)
    }
    dlqPath.foreach(reader.option("dlqPath", _))
    // the offset advances only past a durable payload, so every batch
    // holds a feed: no emptiness check (a job) needed
    val onBatch: (Dataset[Row], Long) => Unit = (batch, _) =>
      IngestOps.writeHive(IngestOps.enrich(
        IngestOps.decodeProtobuf(batch.select("feed")), timezone), outPath)
    reader.load()
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(onBatch)
      .start()
  }
}
