package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** Narrow, stable bridge to the `private[sql]` Expression↔Column converters
  * (Spark 4.x moved `Column` to a connect-agnostic ColumnNode model; classic
  * sessions convert via `org.apache.spark.sql.classic.ExpressionUtils`).
  * This is the supported in-JVM path for exposing custom Catalyst
  * expressions as `Column`s without going through SQL string parsing.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `c` as a Catalyst literal when it is a bare `lit(...)`. [[expression]]
    * cannot tell: it wraps the column node unconverted until analysis. */
  def literal(c: Column): Option[Literal] = c.node match {
    case internal.Literal(v, Some(dt), _) => Some(Literal.create(v, dt))
    case internal.Literal(v, None, _) => Some(Literal(v))
    case _ => None
  }

  /** RDD-level release of a `localCheckpoint()`ed frame's blocks.
    * `Dataset.unpersist` routes to `CacheManager.uncacheQuery`, which
    * only drops `persist()` cache entries — a localCheckpoint pins its
    * partitions at the RDD layer, where nothing short of
    * `RDD.unpersist` (or GC of the internal RDD + ContextCleaner)
    * frees them. The checkpointed Dataset's logical plan IS the
    * `LogicalRDD` holding that internal RDD, so this reaches through
    * and unpersists it directly (non-blocking). No-op for any other
    * plan shape.
    *
    * OWNERSHIP CONTRACT: the checkpoint truncated the lineage, so a
    * freed frame cannot be recomputed — any later job over it fails
    * with missing blocks. Call only on frames the caller provably owns
    * exclusively (a superseded loop round, an LRU-evicted entry whose
    * consumers run sequentially). */
  def freeLocalCheckpoint(df: Dataset[_]): Unit = df match {
    case d: classic.Dataset[_] =>
      // collect, not root-match: cached frames are typically projections
      // over the checkpoint, so free EVERY LogicalRDD leaf in the plan —
      // the ownership contract extends to all of them
      d.queryExecution.logical.foreach {
        case l: execution.LogicalRDD =>
          squelchUnpersistWarn(l.rdd.getClass)
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    case _ => ()
  }

  /** Non-blocking read of an [[Observation]]'s metrics (`getOrEmpty` is
    * `private[sql]`; the public `get` blocks forever if the observed
    * action never routes through the QueryExecutionListener — callers
    * poll this and fall back to a real count instead). */
  def observationGetOrEmpty(o: Observation): Map[String, Any] = o.getOrEmpty

  // RDD.unpersist WARNs "lineage ... truncated and cannot be recomputed"
  // on every locally-checkpointed RDD it releases. Here that is the
  // ownership contract working as designed, and a Verify/Bench run emits
  // dozens of them — burying real warnings (round-9 verdict). Raise the
  // emitting class's logger (Spark logs under the concrete RDD class,
  // e.g. org.apache.spark.rdd.MapPartitionsRDD) to ERROR, once per class.
  // Scoped to exactly the loggers this free path triggers; everything
  // else in org.apache.spark.rdd keeps its level.
  private val squelched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def squelchUnpersistWarn(cls: Class[_]): Unit = {
    val name = cls.getName.stripSuffix("$")
    if (squelched.add(name))
      org.apache.logging.log4j.core.config.Configurator
        .setLevel(name, org.apache.logging.log4j.Level.ERROR)
  }
}
