package perfbench

import java.io.File
import graft.SparkEntry
import graft.ops.{CompactOps, Flagship}
import graft.streaming.FlagshipStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** Closed loop, one client, two phases over one generated star schema:
  *  1. catalog: a cold pass and then warm passes over a fixed query list
  *     from the catalog, in seed-shuffled order; the first warm pass
  *     settles the JIT and is not timed. The cold pass computes
  *     each query's order-free result digest (the correctness gate); the
  *     warm passes write each query to `noop`.
  *  2. MV drain: the schema's `events` table, split into seeded arrival
  *     chunks, is folded by `FlagshipStream` into its materialized view
  *     under `AvailableNow`, one chunk per trigger. The view must equal
  *     the catalog's batch `schedule_deviation` over the same tables.
  * The tables come from a fixed data seed, so the digests recorded in
  * `catalog_digests.json` hold for every run; `--seed` sets the query
  * order and the split of the events into chunks.
  *
  * `p50_s` is the median MV trigger, `total_s` the median timed warm
  * catalog pass and `rows_per_s` the events folded per second of drain. */
object CatalogMv extends Workload {
  val DataSeed = 42L
  val Scale = 0.01 // 10 k events, 1.5 k customers, 60 k lineitem

  val Queries: Seq[String] = Seq(
    // paper and geo core
    "schedule_deviation", "reliability",
    // ROADMAP targets
    "text_lm_score",
    // kernels and caches
    "winnow_spans")

  /** Where the recorded digests live, relative to the checkout root. */
  val DigestFile = "perfbench/catalog_digests.json"

  /** MV triggers left out of the timings: they compile the fold's plans. */
  val WarmupTriggers = 2
  /** Timed chunks scale with the run length, after the warm-up. */
  def chunks(seconds: Int): Int = WarmupTriggers + math.max(8, seconds * 4 / 5)

  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def prepare(ctx: Ctx, dir: File): Unit = {
    val spark = ctx.spark
    val base = dir.getAbsolutePath
    Gen.writeStarSchema(spark, base, Scale, DataSeed)
    // the events again, one file per arrival chunk; the seed picks each
    // event's chunk
    val n = chunks(ctx.seconds)
    val staged = new File(dir, "chunks-staged")
    spark.read.parquet(s"$base/events.parquet")
      .withColumn("chunk", pmod(xxhash64(lit(ctx.seed), col("event_id")), lit(n)))
      .repartition(1).write.partitionBy("chunk").parquet(staged.getPath)
    val chunkDir = new File(dir, "chunks")
    chunkDir.mkdirs()
    (0 until n).foreach { i =>
      Files.filesUnder(new File(staged, s"chunk=$i"), Files.isData).foreach { f =>
        java.nio.file.Files.move(f.toPath, new File(chunkDir, f"chunk-$i%04d.parquet").toPath)
      }
    }
    Files.rm(staged)
  }

  private def shuffled(seed: Long, pass: Int): Seq[String] =
    Queries.sortBy(q => Gen.mix(seed, pass.toLong, q.hashCode.toLong))

  private def dirsUnder(f: File): Int =
    Option(f.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
      .map(d => 1 + dirsUnder(d)).sum

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)

  def run(ctx: Ctx, inputs: File, out: Outcome): Unit = {
    catalog(ctx, inputs, out)
    mv(ctx, inputs, out)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def catalog(ctx: Ctx, inputs: File, out: Outcome): Unit = {
    val spark = ctx.spark
    val dir = inputs.getAbsolutePath
    val fns = SparkEntry.queries
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val dirsBefore = dirsUnder(tmp)

    val cold = shuffled(ctx.seed, 0).map { q =>
      val (d, s) = timed(ctx.tracer.span(s"catalog.$q.cold") {
        Gates.digestString(Gates.digest(fns(q)(spark, dir), roundDoubles = Some(6)))
      })
      (q, d, s)
    }
    def warmPass(i: Int): Seq[(String, Double)] = shuffled(ctx.seed, i).map { q =>
      q -> timed(ctx.tracer.span(s"catalog.$q.warm") {
        fns(q)(spark, dir).write.mode("overwrite").format("noop").save()
      })._2
    }
    // warm passes for half the run length, at least two; the first one
    // still compiles and is left out of the timings
    val warm = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val until = System.nanoTime() + ctx.seconds * 500000000L
    while (warm.size < 2 || System.nanoTime() < until) warm += warmPass(warm.size + 1)

    val coldS = cold.map(_._3).sum
    val warmTotals = warm.map(_.map(_._2).sum).toSeq
    out.totalS = Stats.median(warmTotals.drop(1))
    out.attempted += Queries.size * (1 + warm.size)
    out.named("catalog_cold_s") = Metric(coldS, "s")
    out.named("catalog_warm_s") = Metric(out.totalS, "s")
    out.record ++= Seq("warm_passes" -> warm.size, "warm_pass_s" -> warmTotals,
      "order" -> cold.map(_._1))
    if (ctx.tracer.enabled) {
      cold.foreach { case (q, _, s) => out.layers(s"catalog.$q.cold_s") = s }
      warm.drop(1).flatten.groupBy(_._1).foreach { case (q, xs) =>
        out.layers(s"catalog.$q.warm_s") = Stats.median(xs.map(_._2).toSeq)
      }
      out.layers("catalog.cache_dirs_built") = (dirsUnder(tmp) - dirsBefore).toDouble
    }

    // every query's order-free result digest against the recorded one
    val observed = cold.map { case (q, d, _) => q -> d }.toMap
    out.record("digests") = observed
    out.gates += Gates.digestsMatch(observed, readDigests(new File(DigestFile)))
  }

  private def mv(ctx: Ctx, inputs: File, out: Outcome): Unit = {
    val spark = ctx.spark
    val dir = inputs.getAbsolutePath
    val stateDir = ctx.path("mv-state")
    val nChunks = Files.filesUnder(new File(inputs, "chunks"), Files.isData).size
    // per-trigger state size, read when each trigger's progress arrives
    val stateGrowth = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val v = s"$stateDir/v=${e.progress.batchId}"
        if (new File(v).isDirectory) try {
          val groups = CompactOps.rowGroupStats(spark, v)
          stateGrowth.synchronized {
            stateGrowth += Map("trigger" -> e.progress.batchId.toDouble,
              "rows_in" -> e.progress.numInputRows.toDouble,
              "state_rows" -> groups.map(_._1).sum.toDouble,
              "state_bytes" -> Files.bytesUnder(new File(v), Files.isData).toDouble,
              "add_batch_s" -> dur(e.progress, "addBatch"),
              "query_planning_s" -> dur(e.progress, "queryPlanning"))
          }
        } catch { case _: java.io.IOException => () } // pruned by a later trigger
      }
    }
    if (ctx.tracer.enabled) spark.streams.addListener(listener)
    val events = spark.readStream.schema(EventsSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/chunks")
    val t0 = System.nanoTime()
    val q = FlagshipStream.start(events, dir, stateDir, ctx.path("mv-checkpoint"),
      Some(Trigger.AvailableNow()))
    q.awaitTermination(170000)
    val drainS = (System.nanoTime() - t0) / 1e9
    if (q.isActive) q.stop()
    q.exception.foreach(e => throw e)
    if (ctx.tracer.enabled) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
    }

    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val trig = progress.map(dur(_, "triggerExecution"))
    val timed = trig.drop(WarmupTriggers)
    out.samples ++= timed
    out.rowsPerS = progress.map(_.numInputRows).sum / drainS
    out.attempted += nChunks
    out.failed += nChunks - progress.size
    out.named("mv_trigger_p50_s") = Metric(Stats.median(timed), "s")
    val (pct, tail) = Stats.tail(timed)
    out.named("mv_trigger_tail_s") = Metric(tail, "s")
    out.record ++= Seq("mv_trigger_tail_percentile" -> pct, "chunks" -> nChunks,
      "trigger_s" -> trig, "drain_s" -> drainS)

    if (ctx.tracer.enabled) {
      val g = stateGrowth.synchronized(stateGrowth.toList).sortBy(_("trigger"))
      def med(k: String) = if (g.isEmpty) 0.0 else Stats.median(g.map(_(k)))
      out.layers ++= Seq(
        "mv.add_batch_s" -> med("add_batch_s"),
        "mv.query_planning_s" -> med("query_planning_s"),
        "mv.rows_in" -> progress.map(_.numInputRows).sum.toDouble,
        "mv.state_rows" -> g.lastOption.map(_("state_rows")).getOrElse(0.0),
        "mv.state_bytes" -> g.lastOption.map(_("state_bytes")).getOrElse(0.0))
      out.record("mv_per_trigger") = g
    }

    out.gates += Gates.exceptAllBoth("mv_equals_batch_schedule_deviation",
      FlagshipStream.result(spark, stateDir).localCheckpoint(),
      Flagship.scheduleDeviation(spark, dir).localCheckpoint())
  }

  def readDigests(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else {
      implicit val formats: org.json4s.DefaultFormats.type = org.json4s.DefaultFormats
      org.json4s.jackson.JsonMethods.parse(scala.io.Source.fromFile(f).mkString)
        .extract[Map[String, String]]
    }
}
