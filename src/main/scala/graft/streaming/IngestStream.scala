package graft.streaming

import graft.ops.IngestOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Structured Streaming over the ingest transform: a file source over an
  * events-shaped directory stands in for the Kafka/Kinesis feed
  * (BASELINE.json north star), the transform body is the exact same
  * `decode ∘ enrich` used in batch, and the live aggregates, state, dedup
  * and joins below run on its output.
  *
  * The lake's hot zone is not written from here: its one writer is
  * `IngestOps.writeHive`, driven per poll by
  * [[HttpFeedSource.pollQueryV2]] — the reference's ingest loop
  * (EventBridge rate → Lambda poll → parquet put,
  * etl/infrastructure/construct.py:202-221).
  */
object IngestStream {

  /** File-based streaming source of feed batches. */
  def readFeed(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** The full ingest transform on a streaming frame. */
  def transform(feed: DataFrame): DataFrame =
    IngestOps.enrich(IngestOps.decode(feed))

  /** G5 extension: event-time windowed live aggregate with a watermark —
    * per-route vehicle counts and mean speed over tumbling 5-minute
    * windows, tolerating 10 minutes of late data. */
  def liveRouteStats(enriched: DataFrame): DataFrame =
    enriched
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "5 minutes"), col("route_id"))
      .agg(
        approx_count_distinct("vehicle_id").as("n_vehicles"),
        count(lit(1)).as("n_pings"),
        avg(col("speed")).as("avg_speed"))

  /** Per-vehicle tracking state for [[vehicleTotals]]. */
  case class VehState(nPings: Long, lastTs: Long)

  /** G5 extension (custom state): per-vehicle running totals via
    * `mapGroupsWithState` — the KeyValueGroupedDataset API for state the
    * built-in windowed aggregates can't express (the reference has no
    * cross-poll state at all; its Lambda is stateless per invocation).
    * State is the fixed-size (count, last-seen) pair per vehicle, stored in
    * the state store — at 100 TB this is bounded by |fleet|, not |pings|. */
  def vehicleTotals(enriched: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val s = enriched.sparkSession
    import s.implicits._
    enriched
      .select(col("vehicle_id"),
        unix_timestamp(col("event_ts")).as("ts"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[VehState, (String, Long, Long)](
        GroupStateTimeout.NoTimeout) { (veh, it, state) =>
        val prev = state.getOption.getOrElse(VehState(0L, 0L))
        var n = prev.nPings
        var last = prev.lastTs
        it.foreach { case (_, ts) => n += 1; if (ts > last) last = ts }
        val next = VehState(n, last)
        state.update(next)
        (veh, next.nPings, next.lastTs)
      }
      .toDF("vehicle_id", "n_pings", "last_ts")
  }

  /** G5 extension: streaming sessionization — the streaming twin of the
    * batch `events_sessionize` catalog query, on the built-in
    * `session_window` (gap-merged event-time sessions). A session closes —
    * and its single aggregate row is emitted (append mode) — once the
    * watermark passes its end + gap; open-session state is bounded by the
    * watermark horizon per key, so it never grows with stream length. */
  def liveSessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        (unix_timestamp(col("session_window.end"))
          - unix_timestamp(col("session_window.start"))).as("span_sec"),
        col("n_events"))

  /** G5 extension: streaming dedup — the streaming form of E2's ranked
    * dedup for at-least-once upstream delivery (the reference's Lambda can
    * re-fire on retry): duplicate pings (same vehicle, same event time)
    * are dropped exactly once per key, and `WithinWatermark` bounds the
    * dedup state by the watermark horizon instead of the stream's
    * lifetime — the property that keeps state finite at any scale. */
  def dedupedFeed(enriched: DataFrame, watermark: String = "10 minutes"): DataFrame =
    enriched
      .withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark("vehicle_id", "event_ts")

  /** G5 extension: watermarked stream-stream inner join — each click event
    * joined to the same user's purchases in the following 30 minutes. The
    * event-time range condition plus watermarks on BOTH sides is what lets
    * Spark expire join state, so state is bounded by the watermark horizon
    * (not stream length) at any scale. Batch-shape oracle: the
    * `interval_join` catalog query. */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
      col("ts").as("click_ts")).withWatermark("click_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .drop("p_user")
  }

  /** Run one synchronous drain of a memory-sink query (test/local smoke). */
  def drainToMemory(df: DataFrame, name: String, outputMode: String): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    q.processAllAvailable()
    q
  }
}
