package graft.ops

import graft.Tables
import graft.expr.{functions => gf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's ingest plane re-expressed as a composable DataFrame
  * transform (reference: etl/runtime/handler.py — protobuf decode :54-78,
  * schema :86-100, enrichment :104-142, GeoParquet write :144-169).
  *
  * `decode` maps a raw feed batch to the typed positions schema (C1/C2);
  * `enrich` adds the tz timestamp (F1), precision-7 geohash (F3), WKB point
  * geometry (F4), GeoParquet `bbox` covering struct, drops lat/lon, and adds
  * ingest-date partition columns (B2 — the reference partitions by
  * wall-clock ingest date; we parameterize on a clock column for
  * determinism). `writeHive` appends snappy GeoParquet partitioned by
  * year/month/day, each file's `geo` footer written by the same write.
  * The same `decode ∘ enrich` function is the body of the
  * streaming query in [[graft.streaming.IngestStream]].
  *
  * One deliberate divergence, documented in README: the reference populates
  * `direction_id` from `route_id` (handler.py:65, a bug); we keep the
  * column (schema parity) but populate it from the actual direction field.
  */
object IngestOps {

  /** Decode a feed-shaped batch into the pre-enrichment positions schema.
    * The testdata `events` table stands in for decoded protobuf entities
    * (TESTDATA.md); a GTFS-rt `FeedMessage` source would map
    * entity.vehicle.{trip,vehicle,position} to the same columns. */
  def decode(feed: DataFrame): DataFrame =
    feed.select(
      concat(lit("trip_"), col("user_id").cast("string")).as("trip_id"),
      concat(lit("route_"), (col("user_id") % 10).cast("string")).as("route_id"),
      (col("user_id") % 2).cast("string").as("direction_id"),
      concat(lit("veh_"), col("event_id") % 100).as("vehicle_id"),
      // synthetic but deterministic coordinates (Toronto-ish bounding box)
      (lit(43.0) + (col("event_id") % 1000) / 1000.0).as("latitude"),
      (lit(-79.7) + (col("event_id") % 700) / 1000.0).as("longitude"),
      (col("value") % 360.0).as("bearing"),
      (col("value") % 40.0).as("speed"),
      unix_timestamp(col("ts")).as("timestamp"))

  /** A2 on real feeds: decode a binary GTFS-rt `FeedMessage` column into
    * the same pre-enrichment schema `decode` produces from the stand-in —
    * one row per vehicle entity, nulls for absent optional fields. Feed
    * this to [[enrich]] exactly like the stand-in path. */
  def decodeProtobuf(feeds: DataFrame, feedCol: String = "feed"): DataFrame =
    feeds
      .select(explode(gf.gtfsrt_decode(col(feedCol))).as("v"))
      .select(col("v.trip_id"), col("v.route_id"), col("v.direction_id"),
        col("v.vehicle_id"), col("v.latitude"), col("v.longitude"),
        col("v.bearing"), col("v.speed"), col("v.timestamp"))

  /** Enrichment: epoch→timestamp, geohash, WKB geometry + bbox covering,
    * drop transient lat/lon, derive hive partition columns.
    *
    * `timezone` is the agency timezone (etl/infrastructure/config.py:21-24):
    * `event_ts` becomes agency wall-clock and the year/month/day hive
    * partitions follow the agency-local date, matching the reference's
    * per-agency TIMEZONE env. A parameter, not ambient session tz, so one
    * job can ingest many agencies. */
  def enrich(decoded: DataFrame, timezone: String = "UTC"): DataFrame =
    decoded
      .withColumn("event_ts",
        from_utc_timestamp(timestamp_seconds(col("timestamp")), timezone))
      .withColumn("geohash",
        gf.geohash(col("latitude"), col("longitude"), lit(7)))
      .withColumn("geometry",
        gf.st_point(col("longitude"), col("latitude")))
      .withColumn("bbox", struct(
        col("longitude").as("xmin"), col("latitude").as("ymin"),
        col("longitude").as("xmax"), col("latitude").as("ymax")))
      .withColumn("year", year(col("event_ts")))
      .withColumn("month", month(col("event_ts")))
      .withColumn("day", dayofmonth(col("event_ts")))
      .drop("latitude", "longitude", "timestamp")

  /** B1/B2: hive-partitioned snappy append (hot zone) in one write that
    * also gives every file its GeoParquet `geo` footer, as the reference
    * writes it on every file (handler.py:144-156). See
    * [[GeoParquetMeta.Format]]. */
  def writeHive(df: DataFrame, path: String): Unit =
    df.write
      .format(GeoParquetMeta.Format)
      .partitionBy("year", "month", "day")
      .option("compression", "snappy")
      .mode("append")
      .save(path)

  // Oracle-checkable slice of the ingest pipeline (everything except the
  // binary geometry / geohash, which have no DuckDB-expressible encoding).
  private def ingestSchema(s: SparkSession, dir: String): DataFrame =
    decode(Tables(s, dir, "events"))
      .select(
        col("trip_id"), col("route_id"), col("direction_id"),
        col("vehicle_id"), col("latitude"), col("longitude"),
        col("bearing"), col("speed"), col("timestamp"))
      .orderBy("trip_id", "timestamp", "vehicle_id", "bearing", "latitude",
        "longitude")

  private val ingestSchemaSql =
    """SELECT 'trip_' || CAST(user_id AS VARCHAR) AS trip_id,
      |  'route_' || CAST(user_id % 10 AS VARCHAR) AS route_id,
      |  CAST(user_id % 2 AS VARCHAR) AS direction_id,
      |  'veh_' || CAST(event_id % 100 AS VARCHAR) AS vehicle_id,
      |  43.0 + (event_id % 1000) / 1000.0 AS latitude,
      |  -79.7 + (event_id % 700) / 1000.0 AS longitude,
      |  fmod(value, 360.0) AS bearing,
      |  fmod(value, 40.0) AS speed,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS timestamp
      |FROM events
      |ORDER BY trip_id, timestamp, vehicle_id, bearing, latitude, longitude""".stripMargin

  // Full enrichment including geometry/geohash — exact oracle via the
  // shared [[GeoSqlMirror]] CTEs (bisection replay + IEEE754 byte
  // extraction) over the decode coordinate formulas; event time is
  // published as epoch seconds per the catalog's timestamp convention.
  private def ingestEnrich(s: SparkSession, dir: String): DataFrame =
    enrich(decode(Tables(s, dir, "events")))
      .select(col("trip_id"), col("vehicle_id"),
        unix_timestamp(col("event_ts")).as("unix_sec"),
        col("geohash"), gf.st_ashexwkb(col("geometry")).as("wkb_hex"),
        col("bbox.xmin").as("xmin"), col("bbox.ymin").as("ymin"),
        col("year"), col("month"), col("day"))
      .orderBy("trip_id", "unix_sec", "vehicle_id", "wkb_hex")

  /** Exact mirror of [[ingestEnrich]]: the geo CTEs keyed by the unique
    * `event_id`, joined back to the arithmetically-mirrored decode
    * columns (same formulas `ingest_schema` already proves exact). */
  private val ingestEnrichSql: String =
    GeoSqlMirror.ctes(
      """SELECT event_id,
        |    -79.7 + (event_id % 700) / 1000.0 AS lon,
        |    43.0 + (event_id % 1000) / 1000.0 AS lat
        |  FROM events""".stripMargin, "event_id") +
    s""",
       |e AS (
       |  SELECT event_id,
       |    'trip_' || CAST(user_id AS VARCHAR) AS trip_id,
       |    'veh_' || CAST(event_id % 100 AS VARCHAR) AS vehicle_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS unix_sec,
       |    CAST(date_part('year', ts) AS INT) AS year,
       |    CAST(date_part('month', ts) AS INT) AS month,
       |    CAST(date_part('day', ts) AS INT) AS day
       |  FROM events)
       |SELECT e.trip_id, e.vehicle_id, e.unix_sec, g.geohash, w.wkb_hex,
       |  p0.lon AS xmin, p0.lat AS ymin, e.year, e.month, e.day
       |FROM e JOIN ghs g USING (event_id) JOIN wkb w USING (event_id)
       |  JOIN p0 USING (event_id)
       |ORDER BY trip_id, unix_sec, vehicle_id, wkb_hex""".stripMargin

  // B1 covering payoff: a bbox predicate that reaches the parquet scan as
  // PushedFilters on the covering struct's leaves, so parquet min/max
  // statistics skip whole row groups (the reason the reference writes the
  // covering: handler.py:151 `generate_covering=True`). The enriched geo
  // lake is materialized once per sf-dir (sorted by bbox.xmin so the
  // row-group stats are selective), then the query proper is a
  // pruned-scan → aggregate. The oracle computes the identical filter
  // from the raw events arithmetic, so the match is exact.
  private[ops] def geoLake(s: SparkSession, dir: String): String =
    ContentKey.derivedDir(s, "geolake", dir, Seq(s"$dir/events.parquet")) { root =>
      enrich(decode(Tables(s, dir, "events")))
        .sortWithinPartitions(col("bbox.xmin"))
        .write.mode("overwrite").parquet(root)
    }

  private def bboxPrune(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(geoLake(s, dir))
      .filter(col("bbox.xmin") >= -79.5 && col("bbox.xmax") <= -79.2 &&
        col("bbox.ymin") >= 43.2 && col("bbox.ymax") <= 43.6)
      .groupBy("route_id")
      .agg(count(lit(1)).as("n"))
      .orderBy("route_id")

  private val bboxPruneSql =
    """WITH pos AS (
      |  SELECT 'route_' || CAST(user_id % 10 AS VARCHAR) AS route_id,
      |    43.0 + (event_id % 1000) / 1000.0 AS lat,
      |    -79.7 + (event_id % 700) / 1000.0 AS lon
      |  FROM events)
      |SELECT route_id, count(*) AS n FROM pos
      |WHERE lon >= -79.5 AND lon <= -79.2 AND lat >= 43.2 AND lat <= 43.6
      |GROUP BY route_id ORDER BY route_id""".stripMargin

  // Vehicle headway per route — the transit "how regular is service"
  // measure over the decoded positions stream (the domain form of
  // TimeSeriesOps' events_headway): per (route, vehicle) inter-ping gaps
  // via a lag window, aggregated per route. Second-granularity ties make
  // the same multiset of gaps under any tie order, so the lag needs no
  // tiebreak column to stay deterministic. Window partitioned by
  // (route, vehicle); one shuffle then local sorts at any scale.
  private def vehicleHeadway(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = decode(Tables(s, dir, "events"))
      .select(col("route_id"), col("vehicle_id"), col("timestamp").as("t"))
    val w = Window.partitionBy("route_id", "vehicle_id").orderBy("t")
    pos.withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .groupBy("route_id")
      .agg(count(col("gap")).as("n_gaps"),
        (sum(col("gap")).cast("double") / count(col("gap"))).as("avg_gap_s"),
        max(col("gap")).as("max_gap_s"))
      .orderBy("route_id")
  }

  private val vehicleHeadwaySql =
    """WITH pos AS (
      |  SELECT 'route_' || CAST(user_id % 10 AS VARCHAR) AS route_id,
      |    'veh_' || CAST(event_id % 100 AS VARCHAR) AS vehicle_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS t
      |  FROM events),
      |g AS (
      |  SELECT route_id,
      |    t - lag(t) OVER (PARTITION BY route_id, vehicle_id ORDER BY t) AS gap
      |  FROM pos)
      |SELECT route_id, count(gap) AS n_gaps,
      |  CAST(sum(gap) AS DOUBLE) / count(gap) AS avg_gap_s, max(gap) AS max_gap_s
      |FROM g GROUP BY 1 ORDER BY route_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_schema" -> (ingestSchema _),
    "ingest_enrich" -> (ingestEnrich _),
    "vehicle_headway" -> (vehicleHeadway _),
    "bbox_prune" -> (bboxPrune _))

  val oracle: Map[String, String] = Map(
    "ingest_schema" -> ingestSchemaSql,
    "ingest_enrich" -> ingestEnrichSql,
    "vehicle_headway" -> vehicleHeadwaySql,
    "bbox_prune" -> bboxPruneSql)
}
