package graft.ops

import org.apache.spark.sql.SparkSession
import graft.Tables

/** Refusal guard for the brute-force exact oracle anchors.
  *
  * `dedup_embedding_exact` (all-pairs cosine) and `simsearch_topk`
  * (query-batch × full corpus) exist to anchor their bucketed production
  * twins' recall — they are correctness baselines, deliberately quadratic
  * (resp. unbucketed), and legitimate only at oracle/bench scale. Nothing
  * used to stop a 100×-scale caller from executing them; this guard is a
  * row-count check against a session conf. It is safety code, not a join
  * strategy ([[BroadcastGuard]] decides broadcasts): above the threshold
  * the anchor REFUSES loudly — it does NOT silently delegate to its
  * approximate twin, because a caller asking for the exact anchor is
  * asking for exact output, and swapping in approximate results behind
  * the same name would corrupt any recall measurement built on it.
  *
  * The count itself is one column-less scan per call, negligible next to
  * the O(n²) work it gates.
  */
private[graft] object ExactAnchorGuard {

  /** Session conf: max rows of the anchored table before refusal. */
  private[graft] val MaxRowsKey = "graft.anchor.maxRows"

  /** 100k embeddings → 5·10⁹ candidate pairs for the all-pairs anchor —
    * the outer edge of a deliberate single-dataset exact pass; any real
    * corpus is orders of magnitude past it and belongs on the twins. */
  private[graft] val DefaultMaxRows = 100L * 1000

  def check(s: SparkSession, dir: String, table: String,
      op: String, twin: String): Unit = {
    val limit = s.conf.getOption(MaxRowsKey).map(_.toLong)
      .getOrElse(DefaultMaxRows)
    val rows = Tables(s, dir, table).count()
    if (rows > limit)
      throw new IllegalStateException(
        s"$op is an exact correctness anchor with an unbucketed plan; " +
          s"refusing to run it over $rows $table rows " +
          s"($MaxRowsKey=$limit). Use the bucketed production twin " +
          s"($twin), or raise the conf if an exact pass at this size is " +
          s"intentional.")
  }
}
