package graft

import java.nio.file.Files
import graft.streaming.{DedupMonitor, DirIndex, IvfMonitor}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger, TTLConfig}

/** Long-run streaming soak (round-9 verdict ask #6): per-trigger
  * throughput was proven by the Bench load sweep; nothing proved LONG-RUN
  * stability — state-store growth, latency drift, and the DirIndex
  * compact/vacuum protocol cycling underneath a live ingest for hundreds
  * of triggers. This main drives two streams concurrently to a trigger
  * budget (default 500 each):
  *
  *   - an [[IvfMonitor]] ingest: rate-sourced (vec_id, embedding) rows
  *     assigned under the frozen sf0.01 quantizer, one committed `b<j>`
  *     append per trigger, with [[DirIndex.compact]] + vacuum cycled
  *     every `SOAK_COMPACT_EVERY` completed triggers from a maintenance
  *     thread — the mid-stream exactly-once stress the protocol documents;
  *   - a TTL-active [[DedupMonitor]] (transformWithState state API v2,
  *     RocksDB provider): content-hash claim store under a TTL chosen so
  *     the soak crosses several retention horizons — state must PLATEAU,
  *     not grow with stream length. A TTL stream in ProcessingTime mode
  *     never quiesces (shouldRunAnotherBatch is unconditionally true), so
  *     both streams run throttled ProcessingTime triggers and the driver
  *     polls listener counts against a deadline — the StreamingSpec
  *     drive discipline.
  *
  * Per-100-trigger windows record p50/p95 trigger latency per stream,
  * dedup state rows + bytes (stateOperators), committed index dirs, and
  * cumulative compact absorptions / vacuum removals. Printed as ONE JSON
  * line (the Bench contract) — the pass criteria are flat p95 across
  * windows and bounded state, judged from the published windows.
  *
  * KILL-AND-RESUME (round-9 verdict ask #5): the 500-trigger run proves
  * steady state; recovery needs a real crash, so the soak also runs as a
  * two-invocation protocol sharing a persistent `SOAK_ROOT`:
  *
  *   - phase A (`SOAK_KILL_AFTER=n`): once n ivf triggers completed, run
  *     ONE compact — deliberately skipping the paired vacuum, so the
  *     crash lands in the compact-published/not-yet-vacuumed window the
  *     verdict named — then `Runtime.halt()` while both streams are
  *     mid-trigger: no stop(), no finally, no checkpoint flush beyond
  *     what the WAL already committed. The TTL dedup stream dies with
  *     RocksDB state at whatever version last committed.
  *   - phase B (same `SOAK_ROOT`, `SOAK_RESUME=1`): seeds are detected
  *     and reused, both streams restart from their checkpoints, run to
  *     the (fresh) trigger budget, and the final JSON gains a
  *     `"recovery"` section asserting exactly-once END STATE: the rate
  *     source's values are a gapless sequence and every appended vec_id
  *     (offset by [[StreamIdBase]] to stay disjoint from the seed) must
  *     appear EXACTLY once across the adopted index — count ==
  *     distinct count == max−min+1 proves no batch was lost (gap) and
  *     no batch double-appended (dup) across the crash, the replayed
  *     trigger, and the compact/vacuum cycles on both sides of it. The
  *     pre-vacuum crash leaves absorbed dirs on disk; phase B also
  *     records that adoption excluded them structurally before its
  *     first vacuum reclaims them.
  */
object StreamSoak {

  private case class Prog(sec: Double, stateRows: Long, stateBytes: Long)

  /** Streamed vec_ids live at seed-disjoint ids: recovery's exactly-once
    * arithmetic (count == max−min+1) needs the appended id space clean of
    * seed collisions, and 1e9 clears every shipped corpus by 5 orders. */
  private[graft] val StreamIdBase = 1000000000L

  def main(args: Array[String]): Unit = {
    val triggers = sys.env.getOrElse("SOAK_TRIGGERS", "500").toInt
    val window = 100
    val compactEvery = sys.env.getOrElse("SOAK_COMPACT_EVERY", "25").toInt
    val rowsPerSec = sys.env.getOrElse("SOAK_ROWS_PER_SEC", "2000").toInt
    val quantDir = sys.env.getOrElse("SOAK_QUANT_DIR", "/root/testdata/sf0.01")
    val deadlineSec = sys.env.getOrElse("SOAK_DEADLINE_SEC", "1200").toInt
    val killAfter = sys.env.get("SOAK_KILL_AFTER").map(_.toInt)
    val resume = sys.env.contains("SOAK_RESUME")
    // transformWithState (state API v2) requires the RocksDB provider
    val spark = LocalSession("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // SOAK_ROOT persists the checkpoints + index across invocations (the
    // kill-and-resume protocol); unset = the classic one-shot temp run
    val root = sys.env.get("SOAK_ROOT")
      .getOrElse(Files.createTempDirectory("graft-soak").toString)
    val indexDir = s"$root/ivf_index"
    // seed the index from the reference corpus — the offline base load.
    // A resume phase MUST reuse the existing seed: the index dir is bound
    // to one checkpoint lineage (IvfMonitor.attach contract) and a
    // re-seed would be an overwrite mid-lineage. Local-FS existence check
    // (the soak is a local harness; DirIndex itself stays FS-agnostic).
    val seeded = new java.io.File(s"$indexDir/seed/_SUCCESS").exists
    if (!seeded)
      IvfMonitor.seed(spark, quantDir, Tables(spark, quantDir, "embeddings")
        .select(col("vec_id"), col("embedding")), indexDir)

    // deterministic rate-derived embedding stream: 64 pseudo-random floats
    // per row from splitmix-style hashing — enough spread that cell
    // assignment exercises the whole quantizer
    val dim = 64
    val emb = transform(sequence(lit(0), lit(dim - 1)),
      i => (pmod(xxhash64(col("value") * dim + i), lit(2000)) / 1000.0 - 1.0)
        .cast("float"))
    // vec_id rides above StreamIdBase: appended ids stay disjoint from the
    // seed corpus's, so the recovery phase's exactly-once arithmetic has a
    // clean id space (the embedding hash stays keyed on the raw value)
    val ivfIn = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSec).load()
      .select((col("value") + StreamIdBase).as("vec_id"), emb.as("embedding"))

    // dedup stream with TTL: key space cycles every 50k ids so hashes
    // recur within the horizon (exercising the claim path) while the TTL
    // forgets cold hashes (exercising expiry — the bounded-state claim)
    val dedupIn = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSec).load()
      .select(col("value").as("doc_id"),
        concat(lit("doc "), (col("value") % 50000).cast("string")).as("text"))
    val dedupOut = DedupMonitor.dedup(dedupIn, "doc_id", "text",
      TTLConfig(java.time.Duration.ofSeconds(60)))

    // resume phase: phase A crashed between a compact publish and its
    // vacuum, so absorbed dirs are still on disk — record that adoption
    // excludes them STRUCTURALLY (the protocol's crash-safety claim)
    // before any maintenance reclaims them
    val (preOnDisk, preAdopted) =
      if (resume) {
        val onDisk = Option(new java.io.File(indexDir).listFiles())
          .map(_.count(f => f.isDirectory && (f.getName == "seed" ||
            f.getName.head == 'b' || f.getName.head == 'c'))).getOrElse(0)
        (onDisk, IvfMonitor.committedDirs(spark, indexDir).size)
      } else (0, 0)

    val ivfProg = new java.util.concurrent.CopyOnWriteArrayList[Prog]()
    val dedupProg = new java.util.concurrent.CopyOnWriteArrayList[Prog]()
    @volatile var ivfId: java.util.UUID = null
    @volatile var dedupId: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val sec = Option(p.durationMs.get("triggerExecution"))
            .map(_.toDouble / 1000.0).getOrElse(0.0)
          val (rows, bytes) = p.stateOperators.headOption
            .map(so => (so.numRowsTotal, so.memoryUsedBytes)).getOrElse((0L, 0L))
          if (p.id == ivfId) ivfProg.add(Prog(sec, rows, bytes))
          else if (p.id == dedupId) dedupProg.add(Prog(sec, rows, bytes))
        }
      }
    }
    spark.streams.addListener(listener)

    val ivfQ = IvfMonitor.attach(ivfIn, quantDir, indexDir)
      .option("checkpointLocation", s"$root/ivf_ckpt")
      .trigger(Trigger.ProcessingTime("400 milliseconds"))
      .start()
    ivfId = ivfQ.id
    val dedupQ = dedupOut.writeStream.format("noop")
      .option("checkpointLocation", s"$root/dedup_ckpt")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("400 milliseconds"))
      .start()
    dedupId = dedupQ.id

    // maintenance loop: cycle compact + vacuum against the LIVE ingest
    // every `compactEvery` completed ivf triggers (serialized, as the
    // DirIndex contract requires — only the ingest runs concurrently)
    var absorbed = 0L
    var vacuumed = 0L
    var lastMaint = 0
    val deadline = System.nanoTime() + deadlineSec * 1e9.toLong
    try {
      while ((ivfProg.size < triggers || dedupProg.size < triggers) &&
          System.nanoTime() < deadline) {
        Thread.sleep(200)
        val done = ivfProg.size
        if (killAfter.exists(done >= _)) {
          // the designed crash: compact PUBLISHES (absorbed dirs now
          // structurally excluded but still on disk — no vacuum), then
          // the JVM halts with both streams mid-trigger. halt() skips
          // every finally/stop/shutdown hook: the checkpoint and RocksDB
          // state are exactly what their last commits made durable.
          IvfMonitor.compact(spark, indexDir)
          println(s"""{"metric":"stream_soak","phase":"killed",""" +
            s""""triggers_ivf":${ivfProg.size},""" +
            s""""triggers_dedup":${dedupProg.size}}""")
          Console.flush()
          Runtime.getRuntime.halt(42)
        }
        if (done - lastMaint >= compactEvery) {
          lastMaint = done
          absorbed += IvfMonitor.compact(spark, indexDir)
          vacuumed += IvfMonitor.vacuum(spark, indexDir)
        }
      }
    } finally { ivfQ.stop(); dedupQ.stop() }
    spark.streams.removeListener(listener)

    // final maintenance pass with the ingest stopped, then verify the
    // adopted index is readable end-to-end (a torn protocol would fail
    // loudly here, not pass silently)
    absorbed += IvfMonitor.compact(spark, indexDir)
    vacuumed += IvfMonitor.vacuum(spark, indexDir)
    val dirs = IvfMonitor.committedDirs(spark, indexDir)
    val indexRows = IvfMonitor.index(spark, indexDir).count()

    // exactly-once END-STATE proof across the phase-A crash: the rate
    // source's values are a gapless sequence, so the appended id space
    // must be (a) gapless — a lost batch leaves a hole — and (b) of
    // UNIFORM per-id multiplicity — a double-appended batch doubles its
    // ids' cell rows (each vector carries the same fixed assignment
    // count). require(), not report: a violated invariant must fail the
    // harness loudly, not publish a plausible-looking JSON.
    val recovery =
      if (!resume) ""
      else {
        val st = IvfMonitor.index(spark, indexDir)
          .filter(col("c_id") >= StreamIdBase)
        val a = st.agg(count(lit(1)).as("n"),
          countDistinct(col("c_id")).as("nd"),
          min(col("c_id")).as("mn"), max(col("c_id")).as("mx")).head()
        val (n, nd) = (a.getLong(0), a.getLong(1))
        require(nd > 0, "recovery phase appended no rows")
        val (mn, mx) = (a.getLong(2), a.getLong(3))
        val mults = st.groupBy("c_id").count()
          .select(countDistinct(col("count"))).head().getLong(0)
        require(mn == StreamIdBase && nd == mx - mn + 1,
          s"gap in appended ids: $nd distinct over [$mn,$mx] — a batch was lost")
        require(mults == 1,
          s"non-uniform id multiplicity ($mults distinct counts) — a batch " +
            "was double-appended")
        s""","recovery":{"appended_vectors":$nd,"cell_rows":$n,""" +
          s""""gapless":true,"uniform_multiplicity":true,""" +
          s""""pre_dirs_on_disk":$preOnDisk,"pre_adopted":$preAdopted}"""
      }

    import scala.jdk.CollectionConverters._
    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) -1.0
      else xs.sorted.apply(
        math.min(xs.size - 1, math.ceil(p * xs.size).toInt - 1).max(0))
    def windows(ps: Seq[Prog]): Seq[String] =
      ps.grouped(window).zipWithIndex.filter(_._1.size >= window / 2)
        .map { case (w, i) =>
          val secs = w.map(_.sec)
          f"""{"w":$i,"n":${w.size},"p50":${pct(secs, 0.5)}%.3f,""" +
            f""""p95":${pct(secs, 0.95)}%.3f,""" +
            s""""state_rows":${w.last.stateRows},""" +
            s""""state_bytes":${w.last.stateBytes}}"""
        }.toSeq
    val ivfW = windows(ivfProg.asScala.toSeq)
    val dedupW = windows(dedupProg.asScala.toSeq)
    ivfW.zipWithIndex.foreach { case (w, i) => println(s"[soak] ivf $w") }
    dedupW.zipWithIndex.foreach { case (w, i) => println(s"[soak] dedup $w") }
    println(
      s"""{"metric":"stream_soak","triggers_ivf":${ivfProg.size},""" +
        s""""triggers_dedup":${dedupProg.size},""" +
        s""""compact_absorbed":$absorbed,"vacuumed":$vacuumed,""" +
        s""""committed_dirs":${dirs.size},"index_rows":$indexRows,""" +
        s""""ivf_windows":[${ivfW.mkString(",")}],""" +
        s""""dedup_windows":[${dedupW.mkString(",")}]$recovery}""")
    spark.stop()
  }
}
