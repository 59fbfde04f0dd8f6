package graft

import graft.streaming.FlagshipStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Scale driver for the streamed flagship pipeline (round-11 verdict ask
  * #4): stages the `events` fact of a scale dir into N arrival chunks,
  * streams them through [[FlagshipStream]]'s incremental
  * schedule-deviation MV (one chunk per trigger via maxFilesPerTrigger),
  * and asserts the final MV equals the batch `schedule_deviation` over
  * the same dir — the reference's ingest→lake→notebook lifecycle as one
  * exactly-once pipeline, measured at reference scale. Prints ONE JSON
  * line (Bench contract): trigger count, per-trigger p50/p95, rows, and
  * the final-state equality verdict.
  *
  * Usage: FlagshipStreamScale <dir-with-events-and-dims> <chunks> [workdir]
  */
object FlagshipStreamScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val chunks = args(1).toInt
    val work = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("flagship-scale").toString
    val spark = LocalSession()

    // stage: the fact rewritten into `chunks` round-robin files (arrival
    // order deliberately unrelated to event order — the fold is
    // order-independent); Tables normalizes the timestamp physical type
    // so the plain-schema stream source sees TimestampType
    val feedDir = s"$work/feed"
    val t0 = System.nanoTime()
    Tables(spark, dir, "events").repartition(chunks)
      .write.mode("overwrite").parquet(feedDir)
    val stageSec = (System.nanoTime() - t0) / 1e9

    val durations = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val rowsIn = new java.util.concurrent.atomic.AtomicLong()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) {
          durations.add(e.progress.durationMs.get("triggerExecution").toDouble / 1000.0)
          rowsIn.addAndGet(e.progress.numInputRows)
        }
    })

    val schema = spark.read.parquet(feedDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(feedDir)
    val stateDir = s"$work/mv"
    val t1 = System.nanoTime()
    val q = FlagshipStream.start(feed, dir, stateDir, s"$work/ckpt",
      Some(Trigger.AvailableNow()))
    q.awaitTermination()
    val streamSec = (System.nanoTime() - t1) / 1e9

    // end-of-stream oracle: the maintained MV vs the batch flagship —
    // identical aggregation code over identical final rows, so equality
    // is exact (except-based, both directions)
    val streamed = FlagshipStream.result(spark, stateDir)
    val batch = SparkEntry.queries("schedule_deviation")(spark, dir)
    val nStream = streamed.count()
    val nBatch = batch.count()
    val diff = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
    val ds = durations.toArray(Array.empty[java.lang.Double]).map(_.toDouble).sorted
    def pct(p: Double): Double =
      if (ds.isEmpty) -1 else ds(math.min(ds.length - 1, (p * ds.length).toInt))
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"chunks":$chunks,"triggers":${ds.length},"rows_in":${rowsIn.get()},""" +
      s""""trigger_p50":${num(pct(0.5))},"trigger_p95":${num(pct(0.95))},""" +
      s""""stage_sec":${num(stageSec)},"stream_sec":${num(streamSec)},""" +
      s""""mv_rows":$nStream,"batch_rows":$nBatch,"diff_rows":$diff,""" +
      s""""equal":${diff == 0 && nStream == nBatch},"dir":"$dir"}""")
    spark.stop()
    if (diff != 0) sys.exit(1)
  }
}
