package graft

import java.nio.file.Files
import graft.streaming.{DwellDetector, IngestStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** State-store benchmark (SCALE.md "known future work"): drives the
  * stateful streaming operators — `mapGroupsWithState` running totals,
  * watermarked windowed aggregation, and the `transformWithState` dwell
  * detector — over deterministic synthetic micro-batches under the
  * HDFS-backed and RocksDB state-store providers, and prints one JSON line
  * of seconds per (operator, provider). Streaming state throughput is a
  * different axis than the query-plan bench, so this is a separate main,
  * not a `graft.Bench` catalog entry.
  *
  * Each run replays the same files (one file = one micro-batch via
  * maxFilesPerTrigger) from a fresh checkpoint, so providers see identical
  * state workloads: ~`vehicles` live keys updated every batch.
  */
object StreamBench {

  private val Providers = Map(
    "hdfs" -> ("org.apache.spark.sql.execution.streaming" +
      ".state.HDFSBackedStateStoreProvider"),
    "rocksdb" -> ("org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider"))

  def main(args: Array[String]): Unit = {
    val rowsPerBatch =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "100000").toInt
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt
    val vehicles = sys.env.getOrElse("SPARK_GRAFT_STREAM_KEYS", "20000").toInt
    val spark = LocalSession()

    // one file per micro-batch: `vehicles` keys, ~rows/vehicles pings each,
    // event time advancing 10 min per batch so dwells cross their threshold
    val root = Files.createTempDirectory("graft-streambench").toString
    val data = s"$root/data"
    for (b <- 0 until batches)
      spark.range(rowsPerBatch).select(
        concat(lit("veh_"), col("id") % vehicles).as("vehicle_id"),
        concat(lit("cell_"), (col("id") % vehicles) % 50).as("geohash"),
        timestamp_seconds(lit(1700000000L + b * 600L) + (col("id") % 600))
          .as("event_ts"))
        .coalesce(1).write.mode("append").parquet(data)

    val schema = spark.read.parquet(data).schema
    def feed(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(data)

    def run(op: String, provider: String, mk: DataFrame => DataFrame): Double = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        Providers(provider))
      try {
        val t0 = System.nanoTime()
        val q = mk(feed()).writeStream.format("noop")
          .option("checkpointLocation",
            Files.createTempDirectory(s"graft-sb-$op-$provider").toString)
          .outputMode("update")
          .start()
        try { q.processAllAvailable() } finally q.stop()
        (System.nanoTime() - t0) / 1e9
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    val ops: Seq[(String, String, DataFrame => DataFrame)] = Seq(
      ("vehicle_totals", "hdfs", IngestStream.vehicleTotals),
      ("vehicle_totals", "rocksdb", IngestStream.vehicleTotals),
      ("route_window", "hdfs", IngestStream.liveRouteStats _ compose addRoute),
      ("route_window", "rocksdb", IngestStream.liveRouteStats _ compose addRoute),
      // transformWithState (state API v2) requires the RocksDB provider
      ("dwell_detect", "rocksdb", df => DwellDetector.dwellEvents(df, 300L)))

    // two runs per combination (first pays codegen + provider init), min
    val results = ops.map { case (op, provider, mk) =>
      val a = run(op, provider, mk)
      val b = run(op, provider, mk)
      val key = s"$op.$provider"
      System.err.println(f"[streambench] $key ${math.min(a, b)}%.2fs (runs $a%.2f / $b%.2f)")
      key -> math.min(a, b)
    }
    val js = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"stream_state","rows_per_batch":$rowsPerBatch,""" +
      s""""batches":$batches,"keys":$vehicles,"results":$js}""")
    spark.stop()
  }

  /** liveRouteStats groups by route_id + speed: derive both from the key. */
  private val addRoute: DataFrame => DataFrame = df =>
    df.withColumn("route_id",
        concat(lit("route_"), substring(col("vehicle_id"), 5, 1)))
      .withColumn("speed",
        (length(col("vehicle_id")) % 40).cast("double"))
}
