package graft.ops

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import graft.expr.{functions => gf}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's flagship program on its REAL schemas — GTFS static CSVs
  * + realtime positions — reproducing notebooks/schedule_deviation.ipynb
  * cell 63902a57 (SQL) and cell f208d562 (reliability) semantics exactly:
  *
  *  - dims: routes ⋈ trips ⋈ stop_times ⋈ stops (D1), `stop_id` forced to
  *    string on load (cell 6f866b02's `types={'stop_id':'VARCHAR'}` — the
  *    numeric-looking-ID trap);
  *  - bus modes only: route_type IN (700, 3)  (C6);
  *  - GTFS next-day times 24:00–35:59 EXCLUDED via the reference's exact
  *    regexp, not normalized (C5; SURVEY.md §7.4);
  *  - positions matched to stops of their own trip within 0.0002 planar
  *    degrees (D2: equi conjunct on trip_id carries the hash join,
  *    ST_DWithin runs as post-join filter);
  *  - deviation = time-of-day(position) − time-of-day(arrival) in seconds
  *    (F2; wraps at midnight exactly like the reference — not fixed);
  *  - clamp ±600 s (C7), closest-ping dedup per scheduled stop event (E2),
  *  - COUNT/AVG/STDDEV per stop + hex stop geometry (E1, F6),
  *  - reliability = Φ((300−μ)/σ) − Φ((−60−μ)/σ), NULL-σ groups dropped
  *    (F11, C9 — the reference does this client-side in scipy/pandas).
  */
object Gtfs {

  /** FIXTURES.md §2.2's typed GTFS columns; every other column keeps the
    * string it is in the file. */
  private val CsvTypes = Map("route_type" -> "int", "stop_sequence" -> "int",
    "stop_lat" -> "double", "stop_lon" -> "double")

  /** A3: GTFS CSV scan with the reference's fixed column types, matched by
    * header name (cell 6f866b02's `types={'stop_id':'VARCHAR'}` map). No
    * schema inference and no header job: the header comes from the
    * file's first line on the driver, every column is read as a string,
    * so ids stay the strings they are in the file — `"00042"` keeps its
    * zeros and never collides with a stop `"42"`. */
  def readGtfsCsv(spark: SparkSession, path: String): DataFrame = {
    val header = csvHeader(spark, path)
    spark.read.option("header", "true")
      .schema(StructType(header.map(StructField(_, StringType))))
      .csv(path)
      .select(header.toSeq.map(c =>
        CsvTypes.get(c).fold(col(c))(t => col(c).cast(t).as(c))): _*)
  }

  /** Column names of the plain-text CSV at `path` — a file, or a dir whose
    * first data file is read — parsed from its first line as Spark's CSV
    * reader would (BOM dropped, quotes honoured, whitespace kept, a blank
    * name → `_c<i>`). */
  private def csvHeader(spark: SparkSession, path: String): Array[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file =
      if (!fs.getFileStatus(p).isDirectory) p
      else fs.listStatus(p).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .minBy(_.getName)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(file), "UTF-8"))
    val line = try in.readLine() finally in.close()
    val settings = new CsvParserSettings
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    new CsvParser(settings).parseLine(line.stripPrefix("\uFEFF")).zipWithIndex
      .map { case (h, i) => Option(h).getOrElse(s"_c$i") }
  }

  /** Helper columns of [[scheduleDeviation]]: each side's time of day in
    * seconds. Neither reaches its output. */
  private val StopTod = "stop_tod_s"
  private val PingTod = "ping_tod_s"

  /** Seconds-since-midnight of a GTFS "HH:MM:SS" string (may exceed 24 h),
    * as a long. NULL when the string is NULL or any of its three parts is
    * missing or not an int, with or without ANSI mode: a malformed stop
    * time drops out of the ±600 s window instead of failing the query. */
  def todSecondsStr(c: Column): Column = {
    def part(i: Int) = try_element_at(split(c, ":"), lit(i)).try_cast("int").cast("long")
    part(1) * 3600 + part(2) * 60 + part(3)
  }

  /** Seconds-since-midnight of a timestamp (session-tz local time). */
  def todSecondsTs(c: Column): Column =
    hour(c) * 3600 + minute(c) * 60 + second(c)

  /** Per-stop deviation stats — cell 63902a57's query. `positions` needs
    * (trip_id, timestamp, geometry WKB); dims are raw GTFS frames.
    *
    * `timezone` converts `positions.timestamp` to agency wall clock before
    * the time-of-day diff against the schedule's local "HH:MM:SS" strings
    * (etl/infrastructure/config.py:21-24; the notebook sets it as session
    * tz in cell ede684f3). Times of day are read in the session timezone,
    * which is UTC here (`LocalSession`). Pass the agency zone when
    * `timestamp` holds the feed's instants (`timestamp_seconds` of its
    * epochs). The lake's `event_ts` is already agency wall clock, since
    * `IngestOps.enrich` shifted it by the zone the poller was given: a run
    * over the lake takes the default "UTC", and the agency zone a second
    * time would shift every ping by the zone's offset again. Threaded as a
    * parameter rather than ambient session state so one job can process
    * many agencies.
    *
    * Join layout: the positions (the fact side) stream across all tasks
    * and the dims chain is broadcast to them, but only when `stopTimes`'
    * size estimate is within the session's `autoBroadcastJoinThreshold`
    * (a negative threshold disables it). The chain has at most as many
    * rows as stop_times, since route, trip and stop ids are GTFS primary
    * keys; the planner's own estimate of the joined chain multiplies its
    * inputs and cannot serve as the guard. Above the threshold the plan
    * is left to the planner. */
  def scheduleDeviation(routes: DataFrame, trips: DataFrame,
      stopTimes: DataFrame, stops: DataFrame, positions: DataFrame,
      timezone: String = "UTC"): DataFrame = {
    // F2's two time-of-day terms are computed once per row on each side
    // (the stop time's inside the dims chain, before any broadcast), so the
    // ±600 s condition the optimizer pushes into the join, and `diff`,
    // only subtract them per candidate pair
    val chain = routes
      .filter(col("route_type").isin(700, 3)) // C6
      .join(trips, "route_id") // D1
      .join(stopTimes
        .filter(!col("arrival_time").rlike("^(2[4-9]|3[0-5]):")) // C5, 'c'ase-sensitive
        .withColumn(StopTod, todSecondsStr(col("arrival_time"))),
        "trip_id")
      .join(stops.withColumn("stop_loc",
        gf.st_point(col("stop_lon"), col("stop_lat"))), "stop_id") // F4
    val threshold = stopTimes.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val dimsFit = threshold >= 0 &&
      stopTimes.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    val dims = if (dimsFit) broadcast(chain) else chain
    val pings = positions.withColumn(PingTod,
      todSecondsTs(from_utc_timestamp(col("timestamp"), timezone)))
    val joined = dims.join(pings,
      dims("trip_id") === pings("trip_id") &&
        gf.st_dwithin(pings("geometry"), dims("stop_loc"), lit(0.0002)), // D2/F5
      "inner")
    val withDiff = joined
      .withColumn("diff", (pings(PingTod) - dims(StopTod)).cast("long")) // F2
      .filter(col("diff").between(-600, 600)) // C7
    // E2 (F10 in ORDER BY). The tiebreak must reach a total order: two
    // pings at +d and −d tie on abs(diff) alone, and an arbitrary pick
    // would flip avg_diff's sign contribution between runs/engines —
    // the same latent class the sf0.1 sweep caught in window_dedup.
    // signed diff then the ping's instant complete it (two pings with the
    // same instant and signed diff are interchangeable duplicates).
    val w = Window
      .partitionBy(dims("trip_id"), col("stop_id"), col("arrival_time"),
        col("stop_sequence"))
      .orderBy(abs(col("diff")), col("diff"), pings("timestamp"))
    withDiff
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("stop_id"), col("stop_loc"))
      .agg(
        count(col("diff")).as("count"),
        avg(col("diff")).as("avg_diff"),
        stddev_samp(col("diff")).as("stddev_diff")) // E1
      .withColumn("geom_hex", gf.st_ashexwkb(col("stop_loc"))) // F6
      .drop("stop_loc")
  }

  /** Reliability post-process — cell f208d562, in-engine. */
  def reliability(deviation: DataFrame): DataFrame =
    deviation
      .na.drop(Seq("stddev_diff")) // C9: 1-sample groups have NULL stddev
      .filter(col("stddev_diff") > 0)
      .withColumn("reliability",
        gf.reliability(col("avg_diff"), col("stddev_diff"),
          lit(-60.0), lit(300.0))) // F11
}
