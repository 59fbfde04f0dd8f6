package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `\$dir/<name>.parquet`. At
  * production scale the same call reads a hive-partitioned directory tree
  * instead — Spark's file index handles both transparently (SURVEY.md §2 A4).
  *
  * Timestamp normalization: the generator has shipped `events.ts` both as
  * parquet TIMESTAMP(NANOS) (read as nanos-since-epoch via the legacy conf,
  * floored to micros — how pre-4.0 Spark truncated nanos) and, since the
  * round-6 regeneration, as native TIMESTAMP(MICROS) with
  * isAdjustedToUTC=false. Every downstream operator (and `unix_micros`)
  * expects the session-zoned `TimestampType`, so NTZ inference is disabled:
  * the scan then surfaces stored micros as `TimestampType` directly — no
  * cast layer, so timestamp predicates still push down to the parquet
  * footer. The session time zone is pinned to UTC by every entrypoint,
  * matching DuckDB's `epoch_us` on the same file micro-for-micro.
  *
  * Conf scoping: neither conf has a per-read parquet option, so both are
  * set only around the EAGER schema inference of the one table with a
  * timestamp column (`events`) and restored immediately after. That is
  * sufficient AND safe for the NTZ conf because execution-time conversion
  * follows the relation's requested schema, not the conf: a MICROS column
  * inferred as `TimestampType` reads as micros-since-epoch regardless of
  * the conf's action-time value (verified empirically: a pinned-LTZ read
  * of an NTZ file under default confs returns identical micros and keeps
  * footer predicate pushdown). The NANOS branch is the one case that
  * genuinely needs the conf live at action time (the vectorized reader
  * consults it before reading INT64(NANOS) as long), so only when a
  * legacy NANOS regeneration is actually detected does the conf stay set
  * — a documented, loudly-logged residual; unrelated reads in a
  * driver-provided session are otherwise untouched.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"
  private val NtzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** Set `key`, run `body` (whose schema inference is eager), restore the
    * caller's previous value — unset keys go back to unset/default. */
  private def withConf[T](spark: SparkSession, key: String, v: String)(
      body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body
    finally prev match {
      case Some(old) => spark.conf.set(key, old)
      case None => spark.conf.unset(key)
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name != "events") spark.read.parquet(s"$dir/$name.parquet")
    else withConf(spark, NtzConf, "false") {
      val df = withConf(spark, NanosConf, "true") {
        spark.read.parquet(s"$dir/$name.parquet")
      }
      if (df.schema("ts").dataType == LongType) {
        // Legacy TIMESTAMP(NANOS) regeneration: the reader needs the conf
        // at action time to surface nanos as long, so re-set it for the
        // session lifetime (the documented global side effect — only on
        // this data shape) rather than hand out a frame that fails later.
        spark.conf.set(NanosConf, "true")
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      } else df
    }
  }

  /** Geo-aware scan of a lake this engine wrote: reads the parquet tree
    * and reports the GeoParquet primary geometry column found in the
    * first footer carrying `geo` (None for a non-geo table). What a
    * consumer needs to locate the WKB column without out-of-band schema
    * knowledge. */
  def readGeo(spark: SparkSession, path: String): (DataFrame, Option[String]) = {
    val df = spark.read.parquet(path)
    val primary = graft.ops.GeoParquetMeta.listParquet(spark, path)
      .toSeq.sortBy(_.toString).iterator
      .map(f => graft.ops.GeoParquetMeta.geoInfo(spark, f.toString))
      .collectFirst { case Some((_, col, _)) => col }
    (df, primary)
  }
}
