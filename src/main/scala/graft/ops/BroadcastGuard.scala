package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.broadcast

/** The one rule for a hand-placed broadcast of a side that grows with the
  * data: broadcast it when a size bound the caller can justify fits under
  * the session's `spark.sql.autoBroadcastJoinThreshold`, the same knob
  * that decides every join without a hint (a negative threshold disables
  * it). Above the threshold the side is hinted `shuffle_hash`: the
  * shuffled twin of the same equi-join, with no sort of either side, so
  * the plan degrades instead of collecting an unbounded side on the
  * driver. A side bounded by a constant keeps a bare `broadcast` hint
  * whose comment names the bound; a data-sized side with no bound in hand
  * carries no hint, and the planner decides from its own estimates.
  */
private[graft] object BroadcastGuard {

  /** `df` as the broadcast side if `bytes`, an upper bound on its size,
    * fits under the threshold; else as the build side of a shuffled hash
    * join. */
  def apply(df: DataFrame, bytes: BigInt): DataFrame = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold >= 0 && bytes <= threshold) broadcast(df) else df.hint("shuffle_hash")
  }

  /** [[apply]] with the bound `rows` × Spark's per-row size estimate of
    * `df`'s output (a row header plus each column's default size), for
    * callers that hold a row count bound rather than a byte size. */
  def rows(df: DataFrame, rows: Long): DataFrame =
    apply(df, BigInt(rows) * EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output))
}
