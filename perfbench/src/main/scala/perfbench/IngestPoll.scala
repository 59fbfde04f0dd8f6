package perfbench

import java.io.File
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import com.sun.net.httpserver.HttpServer
import graft.ops.GeoParquetMeta
import graft.streaming.HttpFeedSource
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** Open loop: a loopback GTFS-rt endpoint builds a fresh seeded
  * FeedMessage of a TTC-sized fleet on every GET and stamps its creation
  * time; `HttpFeedSource.pollQueryV2` polls it on a fixed ProcessingTime
  * period. A snapshot's latency runs from its creation to the commit of
  * the trigger that wrote it. The run times a fixed count of snapshots,
  * so `total_s` (the busy time of the triggers that wrote them) and
  * `rows_per_s` (their rows per second of that busy time) measure the
  * program's work, not the trigger period. */
object IngestPoll extends Workload {
  val Vehicles = 2000
  val PeriodMs = 800
  /** Triggers of a separate, unthrottled stream run before the measured
    * one, so the JIT has compiled the poll path when timing starts. */
  val WarmupStreamTriggers = 8
  /** Triggers of the measured stream left out of the timings. */
  val WarmupTriggers = 2
  /** Snapshots timed per run: one per second of run length, at least 10. */
  def measuredSnapshots(seconds: Int): Int = math.max(10, seconds)
  private val FeedEpoch = 1718000000L // 2024-06-10, mid-day UTC

  private def fleet(seed: Long) = Gen.Fleet(seed, Vehicles)

  /** The feed endpoint: snapshot k carries every vehicle at tick k, 15 s
    * of feed time after snapshot k-1. After `close()` it answers 503, so
    * the stream sees no new polls and can be drained. */
  final class FeedServer(f: Gen.Fleet) {
    val served = new AtomicInteger(0)
    val created = new ConcurrentHashMap[Int, java.lang.Long]()
    private val closed = new AtomicBoolean(false)
    private val pool = Executors.newSingleThreadExecutor()
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/feed", ex => {
      try {
        if (closed.get()) ex.sendResponseHeaders(503, -1)
        else {
          val k = served.getAndIncrement()
          val t = System.currentTimeMillis()
          created.put(k, t)
          val ts = FeedEpoch + 15L * k
          val body = f.feed(k, t / 1000, _ => ts)
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body)
        }
      } finally ex.close()
    })
    server.setExecutor(pool)
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/feed"
    def close(): Unit = closed.set(true)
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }

  def prepare(ctx: Ctx, dir: File): Unit = {
    // the inputs are generated on each GET; set-up encodes one snapshot
    Files.write(new File(dir, "snapshot-0.pb.len"),
      fleet(ctx.seed).feed(0, FeedEpoch, _ => FeedEpoch).length.toString)
  }

  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(0L)
  private def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).map(_.trim.toLong).getOrElse(0L)
  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)

  private def committed(q: StreamingQuery): Long =
    Option(q.lastProgress).map(endOffset).getOrElse(0L)

  private def awaitCommitted(q: StreamingQuery, n: => Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committed(q) < n && q.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  /** Runs the same poll path unthrottled against its own endpoint, lake
    * and checkpoint, then stops it. */
  private def warmUp(ctx: Ctx): Unit = {
    val server = new FeedServer(fleet(ctx.seed + 1))
    val q = HttpFeedSource.pollQueryV2(ctx.spark, server.url, ctx.path("warmup-lake"),
      ctx.path("warmup-checkpoint"), trigger = Trigger.ProcessingTime(0L))
    try awaitCommitted(q, WarmupStreamTriggers, 120000)
    finally { q.stop(); server.stop() }
  }

  def run(ctx: Ctx, inputs: File, out: Outcome): Unit = {
    val spark = ctx.spark
    warmUp(ctx)
    val server = new FeedServer(fleet(ctx.seed))
    val lake = ctx.path("lake")
    val q = HttpFeedSource.pollQueryV2(spark, server.url, lake, ctx.path("checkpoint"),
      trigger = Trigger.ProcessingTime(PeriodMs.toLong))
    try {
      awaitCommitted(q, WarmupTriggers, 120000)
      // the measured window: a fixed count of snapshots, one per period
      val firstMeasured = server.served.get()
      val lastMeasured = firstMeasured + measuredSnapshots(ctx.seconds)
      awaitCommitted(q, lastMeasured, 120000)
      server.close()
      awaitCommitted(q, server.served.get(), 60000)
      val drainBy = System.currentTimeMillis() + 60000
      while (q.status.isTriggerActive && System.currentTimeMillis() < drainBy) Thread.sleep(5)
      q.stop()
      q.exception.foreach(e => throw e)

      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val servedTotal = server.served.get()
      val committedPolls = progress.map(endOffset).foldLeft(0L)(math.max)
      // snapshot k was written by the trigger whose offsets cover k
      val commitOf: Int => Option[Long] = k => progress
        .find(p => startOffset(p) <= k && k < endOffset(p))
        .map(p => startMs(p) + p.durationMs.get("triggerExecution").longValue)
      val window = firstMeasured until lastMeasured
      val commits = window.flatMap(k => commitOf(k).map(k -> _))
      val lat = commits.map { case (k, c) => (c - server.created.get(k)) / 1e3 }
      out.samples ++= lat
      // busy time of the triggers that wrote the window, and the rows they
      // committed per second of it
      val inWindow = progress.filter(p => startOffset(p) >= firstMeasured && startOffset(p) < lastMeasured)
      out.totalS = inWindow.map(dur(_, "triggerExecution")).sum
      out.rowsPerS = inWindow.map(p => endOffset(p) - startOffset(p)).sum * Vehicles / out.totalS
      out.attempted = servedTotal.toLong
      out.failed = servedTotal - committedPolls
      out.named("poll_latency_p50_s") = Metric(Stats.median(lat), "s")
      val (pct, tail) = Stats.tail(lat)
      out.named("poll_latency_tail_s") = Metric(tail, "s")
      // the wall-clock rate: the window's rows from the first
      // snapshot's creation to the last one's commit. The trigger period
      // sets it until a trigger takes longer than the period.
      out.named("poll_rows_per_s") = Metric(commits.size.toDouble * Vehicles /
        ((commits.map(_._2).max - server.created.get(firstMeasured)) / 1e3), "rows/s")
      out.record("poll_latency_tail_percentile") = pct
      out.record("period_ms") = PeriodMs
      out.record("vehicles") = Vehicles

      // schedule lag: a ProcessingTime trigger is due at the first multiple
      // of the period after the previous trigger started
      val starts = progress.map(startMs)
      val lags = starts.zip(starts.drop(1)).map { case (prev, cur) =>
        math.max(0L, cur - ((prev / PeriodMs) + 1) * PeriodMs) / 1e3
      }
      if (ctx.tracer.enabled) {
        def med(k: String) = Stats.median(inWindow.map(dur(_, k)))
        out.layers ++= Seq(
          "stream.latest_offset_s" -> med("latestOffset"),
          "stream.query_planning_s" -> med("queryPlanning"),
          "stream.add_batch_s" -> med("addBatch"),
          "stream.wal_commit_s" -> med("walCommit"),
          "stream.commit_offsets_s" -> med("commitOffsets"),
          "stream.triggers" -> q.recentProgress.length.toDouble,
          "stream.empty_triggers" -> q.recentProgress.count(_.numInputRows == 0).toDouble,
          "stream.schedule_lag_s" -> (if (lags.isEmpty) 0.0 else Stats.median(lags)),
          "stream.polls_served" -> servedTotal.toDouble,
          "stream.committed_per_served" -> committedPolls.toDouble / math.max(1, servedTotal))
        out.record("stream.committed_per_served_base") = servedTotal
      }
      out.record("triggers") = progress.map(p => Map("batch" -> p.batchId,
        "start_ms" -> startMs(p), "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.toString))

      // gates: every committed poll is in the lake exactly once, stamped
      val df = spark.read.parquet(lake)
      val lakeRows = df.count()
      out.gates += Gates.lakeRowsMatch(lakeRows, committedPolls * Vehicles)
      out.gates += Gates.noDuplicateKeys(df)
      out.gates += Gates.geoFooters(Files.filesUnder(new File(lake), Files.isData).map { f =>
        f.getPath -> GeoParquetMeta.keyValueMeta(spark, f.getPath).contains("geo")
      })
    } finally {
      if (q.isActive) q.stop()
      server.stop()
    }
  }
}
