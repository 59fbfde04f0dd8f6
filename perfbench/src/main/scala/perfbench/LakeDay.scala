package perfbench

import java.io.File
import java.time.{LocalDate, ZoneOffset}
import graft.ops.{CompactOps, Gtfs, IngestOps}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** Closed loop, one client, three phases over a multi-day lake:
  *  1. write: tick after tick of seeded feeds through
  *     decode → enrich → writeHive (the hot zone of small snappy files);
  *  2. compact: `compactWindow` rewrites every day into the cold zone;
  *  3. query: the flagship (schedule deviation + reliability) on the hot
  *     zone and on the cold zone, against GTFS static dims built to match
  *     the trajectories.
  * The whole cycle first runs once, untimed, on a scratch lake of the
  * leading ticks of each day, so each phase is timed with its plans
  * compiled. */
object LakeDay extends Workload {
  /** A large city's fleet per tick, so that one day of ticks fills a
    * compacted row group inside CompactOps' row band. */
  val Vehicles = 8000
  val Days = 2
  val StepSec = 1200 // 20 min between a vehicle's pings
  /** A stop at every other ping position: half the pings fall between
    * stops, as in a feed that reports more often than a bus stops. */
  val StopStride = 2
  /** Leading ticks of each day ingested in the untimed warm-up. */
  val WarmupTicksPerDay = 2
  val ServiceStartSec = 7 * 3600
  private val Day0 = LocalDate.of(2024, 6, 10)

  /** Ticks per day scale with the run length, so a run's work is fixed
    * by `--seconds` alone. At least eight, so a compacted day (8 × 8,000
    * rows) fills a row group inside CompactOps' 61,440–122,880-row band,
    * and the tick median is taken over at least sixteen ticks. */
  def ticksPerDay(seconds: Int): Int = math.max(8, seconds * 4 / 5)

  private def dayStart(d: Int): Long = Day0.plusDays(d).atStartOfDay(ZoneOffset.UTC).toEpochSecond
  private def jitter(seed: Long, v: Int, d: Int): Int =
    ((Gen.unit(seed, v, 9000 + d) - 0.5) * 240).toInt

  def prepare(ctx: Ctx, dir: File): Unit = {
    val fleet = Gen.Fleet(ctx.seed, Vehicles)
    val tpd = ticksPerDay(ctx.seconds)
    val feeds = new File(dir, "feeds")
    feeds.mkdirs()
    for (d <- 0 until Days; k <- 0 until tpd) {
      val ts = (v: Int) => dayStart(d) + ServiceStartSec + k * StepSec + jitter(ctx.seed, v, d)
      java.nio.file.Files.write(new File(feeds, f"tick-$d%02d-$k%03d.pb").toPath,
        fleet.feed(k, dayStart(d) + ServiceStartSec + k * StepSec, ts))
    }
    Gen.writeGtfsDims(new File(dir, "gtfs"), fleet, tpd, StopStride,
      (_, k) => ServiceStartSec + k * StepSec)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Every node of an executed plan, looking through adaptive wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private final case class FlagshipRun(deviation: Seq[Row], reliability: Seq[Row],
      planS: Double, execS: Double, plan: SparkPlan)

  private def flagship(spark: SparkSession, zone: String, gtfs: File): FlagshipRun = {
    def dim(n: String) = Gtfs.readGtfsCsv(spark, new File(gtfs, s"$n.txt").getPath)
    // the notebook's `locations` view over the enriched lake
    val positions = spark.read.parquet(zone)
      .select(col("trip_id"), col("event_ts").as("timestamp"), col("geometry"))
    val t0 = System.nanoTime()
    val dev = Gtfs.scheduleDeviation(dim("routes"), dim("trips"), dim("stop_times"),
      dim("stops"), positions)
    dev.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val devRows = dev.collect().toSeq
    val relRows = Gtfs.reliability(dev).collect().toSeq
    FlagshipRun(devRows, relRows, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9,
      dev.queryExecution.executedPlan)
  }

  def run(ctx: Ctx, inputs: File, out: Outcome): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val hot = ctx.path("lake/hot")
    val cold = ctx.path("lake/cold")
    val gtfs = new File(inputs, "gtfs")
    val ticks = Option(new File(inputs, "feeds").listFiles()).getOrElse(Array.empty)
      .sortBy(_.getName).toSeq
    def ingest(f: File, zone: String): Unit = {
      val feed = Seq(Tuple1(java.nio.file.Files.readAllBytes(f.toPath))).toDF("feed")
      IngestOps.writeHive(IngestOps.enrich(IngestOps.decodeProtobuf(feed)), zone)
    }
    val lastNoon = Day0.plusDays(Days - 1).atTime(12, 0).toInstant(ZoneOffset.UTC)
    val compactAll = (from: String, to: String) =>
      CompactOps.compactWindow(spark, from, to, previousDays = Some(Days - 1),
        compactToNow = true, now = lastNoon)

    // warm-up, untimed: the whole cycle once on a scratch lake of the
    // leading ticks of each day, so every phase below is timed with its
    // plans compiled
    val (wHot, wCold) = (ctx.path("warmup/hot"), ctx.path("warmup/cold"))
    val leading = (0 until WarmupTicksPerDay).map(k => f"-$k%03d.pb")
    val warmupTicks = ticks.filter(f => leading.exists(f.getName.endsWith))
    val warmupS = Map(
      "write" -> timed(warmupTicks.foreach(ingest(_, wHot)))._2,
      "compact" -> timed(compactAll(wHot, wCold))._2,
      "query" -> timed(flagship(spark, wCold, gtfs))._2)

    val tStart = System.nanoTime()
    // 1. write
    val stages = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val tickS = ticks.map { f =>
      tr.span("ingest.tick") {
        if (tr.enabled) {
          // stage self times: each prefix of the chain written to noop
          val feed = Seq(Tuple1(java.nio.file.Files.readAllBytes(f.toPath))).toDF("feed")
          def noop(df: org.apache.spark.sql.DataFrame) =
            timed(df.write.format("noop").mode("overwrite").save())._2
          val d = noop(IngestOps.decodeProtobuf(feed))
          val e = noop(IngestOps.enrich(IngestOps.decodeProtobuf(feed)))
          stages += Map("decode_s" -> d, "enrich_s" -> (e - d))
        }
        timed(ingest(f, hot))._2
      }
    }
    val writeS = (System.nanoTime() - tStart) / 1e9
    out.samples ++= tickS
    val hotFiles = Files.filesUnder(new File(hot), Files.isData)
    val rows = spark.read.parquet(hot).count()

    // 2. compact every day
    val ((compacted, compactS), shuffle) = withShuffleBytes(ctx) {
      timed(tr.span("compact.window")(compactAll(hot, cold)))
    }
    val coldBytes = Files.bytesUnder(new File(cold), Files.isData)

    // 3. query the hot zone, then the cold zone
    val (hotQ, hotS) = timed(tr.span("flagship.hot")(flagship(spark, hot, gtfs)))
    val (coldQ, coldS) = timed(tr.span("flagship.cold")(flagship(spark, cold, gtfs)))
    out.totalS = (System.nanoTime() - tStart) / 1e9

    out.attempted = ticks.size + Days + 2
    out.failed = (Days - compacted.size).toLong
    out.rowsPerS = rows / writeS
    out.named("lake_ingest_rows_per_s") = Metric(rows / writeS, "rows/s")
    out.named("lake_compact_rows_per_s") = Metric(rows / compactS, "rows/s")
    out.named("lake_bytes_per_row") = Metric(coldBytes.toDouble / rows, "bytes")
    out.named("lake_query_hot_s") = Metric(hotS, "s")
    out.named("lake_query_s") = Metric(coldS, "s")
    val hotBytes = hotFiles.map(_.length).sum
    out.record ++= Seq("rows" -> rows, "ticks" -> ticks.size, "days" -> Days, "tick_s" -> tickS,
      "hot_files" -> hotFiles.size, "hot_bytes_per_row" -> hotBytes.toDouble / rows,
      "deviation_rows" -> hotQ.deviation.size, "reliability_rows" -> hotQ.reliability.size)

    if (tr.enabled) {
      val dec = math.max(1, ticks.size / 10)
      out.record("ingest_ticks") = stages.zip(tickS).map { case (m, w) => m + ("write_s" -> w) }
      out.layers ++= Seq(
        "ingest.decode_s" -> Stats.median(stages.map(_("decode_s")).toSeq),
        "ingest.enrich_s" -> Stats.median(stages.map(_("enrich_s")).toSeq),
        "ingest.write_s" -> Stats.median(tickS),
        "ingest.write_first_decile_s" -> tickS.take(dec).sum / dec,
        "ingest.write_last_decile_s" -> tickS.takeRight(dec).sum / dec,
        "ingest.rows" -> rows.toDouble,
        "ingest.files_written" -> hotFiles.size.toDouble,
        "ingest.bytes_written" -> hotBytes.toDouble)
      val coldFiles = Files.filesUnder(new File(cold), Files.isData)
      val groups = compacted.flatMap { case (_, o) => CompactOps.rowGroupStats(spark, o) }
      val inBand = groups.count { case (r, _, _) =>
        r >= CompactOps.MinRowsPerGroup && r <= CompactOps.MaxRowsPerGroup }
      out.layers ++= Seq(
        "compact.s_per_partition" -> compactS / math.max(1, compacted.size),
        "compact.files_in" -> hotFiles.size.toDouble,
        "compact.files_out" -> coldFiles.size.toDouble,
        "compact.bytes_in" -> hotBytes.toDouble,
        "compact.bytes_out" -> coldBytes.toDouble,
        "compact.row_groups" -> groups.size.toDouble,
        "compact.row_groups_in_band_ratio" -> inBand.toDouble / math.max(1, groups.size),
        "compact.shuffle_bytes" -> shuffle)
      out.record("compact.row_group_rows") = groups.map(_._1)
      val plan = nodes(coldQ.plan)
      val scans = plan.collect {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] => s
      }
      def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      val dwithin = plan.collect {
        case j: BaseJoinExec if j.condition.exists(_.toString.contains("dwithin")) => j
      }
      val matches = dwithin.map(metric(_, "numOutputRows")).sum
      val pairsIn = dwithin.map(keyPairs).sum
      out.layers ++= Seq(
        "flagship.plan_s" -> coldQ.planS,
        "flagship.exec_s" -> coldQ.execS,
        "flagship.scan_files" -> scans.map(metric(_, "numFiles")).sum,
        "flagship.scan_bytes" -> scans.map(metric(_, "filesSize")).sum,
        "flagship.dwithin_pairs_in" -> pairsIn,
        "flagship.matches_out" -> matches)
      out.record("flagship.hot") = Map("plan_s" -> hotQ.planS, "exec_s" -> hotQ.execS)
    }

    // gates
    val (_, gatesS) = timed {
      out.gates += Gates.sameMultiset(Gates.digest(spark.read.parquet(hot)),
        Gates.digest(spark.read.parquet(cold)))
      out.gates += Gates.sameResult("flagship_hot_equals_cold", hotQ.deviation, coldQ.deviation)
      out.gates += Gates.inUnitInterval("reliability_in_unit_interval",
        coldQ.reliability.map(_.getAs[Double]("reliability")))
    }
    out.record ++= Seq("warmup_s" -> warmupS, "gates_s" -> gatesS, "write_s" -> writeS,
      "compact_s" -> compactS)
  }

  /** Rows of a physical subtree, recomputed. A broadcast stage has no
    * row path of its own, so its child is run instead. */
  private def rows(p: SparkPlan): RDD[InternalRow] = p match {
    case i: InputAdapter => rows(i.child)
    case s: BroadcastQueryStageExec => rows(s.plan)
    case b: BroadcastExchangeLike => b.child.execute()
    case ReusedExchangeExec(_, b: BroadcastExchangeLike) => b.child.execute()
    case other => other.execute()
  }

  /** The pairs an equi-join hands to its residual condition: for every
    * join key present on both sides, left rows × right rows. The sides
    * and keys are the join's own in the executed plan, so the count
    * follows whatever pruning the program does below the join. */
  private def keyPairs(j: BaseJoinExec): Double = {
    def counts(side: SparkPlan, keys: Seq[Expression]): Map[Seq[Byte], Long] =
      rows(side).mapPartitions { it =>
        val proj = UnsafeProjection.create(keys, side.output)
        it.map(proj(_)).filterNot(_.anyNull).map(k => (k.getBytes.toSeq, 1L))
      }.reduceByKey(_ + _).collect().toMap
    val (l, r) = (counts(j.left, j.leftKeys), counts(j.right, j.rightKeys))
    l.iterator.map { case (k, n) => n.toDouble * r.getOrElse(k, 0L) }.sum
  }

  /** Shuffle bytes written while `body` runs (traced runs only). */
  private def withShuffleBytes[T](ctx: Ctx)(body: => T): (T, Double) = {
    if (!ctx.tracer.enabled) (body, 0.0)
    else {
      val sc = ctx.spark.sparkContext
      val bytes = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      sc.addSparkListener(l)
      val r = body
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(l)
      (r, bytes.get.toDouble)
    }
  }
}
