package graft.streaming

import graft.ops.Flagship
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The reference's WHOLE lifecycle as one exactly-once streaming
  * pipeline: positions arrive (file-transport micro-batches standing in
  * for the poll feed, the [[IngestStream]] contract), each batch is
  * pushed through the flagship join/filter/diff
  * ([[Flagship.deviationCandidates]] — the literal batch code, not a
  * re-implementation) and folded into a continuously-maintained
  * closest-ping-per-stop-event materialized view; reading the MV at any
  * trigger gives the schedule-deviation aggregate over everything
  * ingested so far (reference analogue: handler.py:31-169 ingests,
  * notebooks/schedule_deviation.ipynb recomputes from scratch per run —
  * here the notebook's answer is maintained INCREMENTALLY and is ready
  * at every instant).
  *
  * Exactness: the E2 dedup keeps the minimum under the TOTAL order
  * (abs diff, event_id) per (trip, stop, stop-event) key; a running min
  * under a total order is associative and commutative, so folding
  * batch-by-batch — in any arrival order — reaches exactly the rows the
  * batch window computes over the union (StreamingSpec asserts equality,
  * SCALE.md records it at the 21.3 M-row flagship scale). State is the
  * versioned-snapshot discipline ([[VersionedSnapshot]]): rewrite cost
  * per trigger is O(|stop-event keys| + |batch|), never stream length,
  * and crash-replay rebuilds the same version from the same base.
  */
object FlagshipStream {

  private[graft] val StateCols =
    Seq("stop_id", "l_orderkey", "l_linenumber", "event_id", "diff")

  // NEGATIVE RESULT (round 12, adjudicating the round-11 ask-#6 commit
  // that persisted the three dim tables across triggers): persisting the
  // dims, narrowed to the columns the pipeline reads (MEMORY_AND_DISK,
  // materialized at stream start), DOUBLED the trigger p50 at the 21.3M
  // flagship scale (6.86 s → 14.77 s, alternated legs on
  // testdata-flagship). Cause, from the per-trigger plan
  // (plans/r12/flagship_stream_trigger_*.txt, now in git history only): a
  // persisted dim's size estimate is its in-memory stats, which for
  // lineitem exceed the 10 MB auto-broadcast threshold that its pruned
  // PARQUET estimate stayed under — the l join flips
  // BroadcastHashJoin → SortMergeJoin, adding an exchange + sort of the
  // whole candidate side EVERY trigger. The parquet re-scan the cache
  // was meant to save is served from the OS page cache and was never
  // the floor. Forcing broadcast(l) instead would pin a strategy the
  // planner must stay free to drop at real scale, so plain parquet scans
  // via Tables stand.

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("stop_id", LongType), StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("event_id", LongType), StructField("diff", LongType))))

  /** One micro-batch fold — exposed so replay idempotence is directly
    * testable. Base (strictly-older committed MV) ∪ this batch's
    * candidates, re-deduped by the SAME rn=1 window as the batch
    * pipeline: the base rows are themselves per-key minima, so the
    * union's minima equal the minima over all raw rows seen so far. */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
      dir: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val base = VersionedSnapshot.readLatest(spark, stateDir,
      emptyState(spark), batchId)
    val cand = Flagship.deviationCandidates(spark, dir, batch)
      .select(StateCols.map(col): _*)
    val merged = Flagship.closestPerStopEvent(
      base.select(StateCols.map(col): _*).unionByName(cand))
    VersionedSnapshot.publish(merged, stateDir, batchId)
  }

  /** Start the MV maintenance over a streaming events frame (same
    * columns as the events table; `dir` supplies the dimension tables). */
  def start(events: DataFrame, dir: String, stateDir: String,
      checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None): StreamingQuery = {
    val w = events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, dir, stateDir)
      }
    trigger.foreach(w.trigger)
    w.start()
  }

  /** The live answer: the flagship aggregate read from the maintained
    * MV — the identical E1 aggregation the batch `schedule_deviation`
    * runs, over state instead of a full rescan. */
  def result(spark: SparkSession, stateDir: String): DataFrame =
    Flagship.aggregateDeviations(
      VersionedSnapshot.readLatest(spark, stateDir, emptyState(spark)))
      .orderBy("stop_id")
}
