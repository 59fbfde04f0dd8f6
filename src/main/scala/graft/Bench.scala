package graft

import com.fasterxml.jackson.databind.DeserializationFeature
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JObject, JValue}
import org.json4s.jackson.JsonMethods

/** Benchmark main: runs the query catalog on SPARK_GRAFT_SF_DIR and prints
  * ONE JSON line. Each query is fully materialized through the `noop` sink
  * (executes the whole plan — joins, windows, sorts — without collect()
  * driver pressure or disk writes). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession()

    // Informational lines go to STDOUT: under sbt, stderr renders as
    // [error] and a clean bench tail full of [error] reads as a failed
    // run at a glance (round-8 verdict). Real failures stay on stderr.
    // The contractual JSON line is still the LAST stdout line.
    def info(msg: String): Unit = println(msg)

    // per-query progress so a hung/slow scale run identifies its culprit
    // from outside (jstack shows the stage, this names it)
    val progress = sys.env.contains("SPARK_GRAFT_BENCH_PROGRESS")
    def runOne(name: String, fn: (SparkSession, String) => DataFrame,
        dir: String): Double = {
      val t0 = System.nanoTime()
      if (progress) info(s"[bench] start $name")
      try {
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (progress) info(f"[bench] done $name $sec%.2fs")
        sec
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed on $dir: ${e.getMessage}")
        -1.0
      }
    }

    // SPARK_GRAFT_BENCH_ONLY: comma-separated query allowlist for targeted
    // runs (the sf1 scale-proof passes run the heavy family only);
    // SPARK_GRAFT_BENCH_NO_STREAM skips the streaming latency block (it
    // measures the poll path, which has no scale-factor dimension).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(c => only.forall(_.contains(c._1)))

    // Locale.ROOT formatting everywhere a number reaches JSON: the f
    // interpolator honors the default locale, and a decimal-comma locale
    // (de_DE, fr_FR) would render "1,234" — invalid JSON that kills the
    // driver's parse and scale_table.py alike.
    def num(v: Double, dec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))

    // Streaming end-to-end latency FIRST, in a quiet JVM: round 5
    // measured it after a 107-query catalog had filled the same session
    // (codegen cache, GC, listener backlog) and p95 doubled for reasons
    // that had nothing to do with the poll path. Order of operations:
    // one discarded warmup run per path pays source + ingest codegen,
    // then the legacy rate-tick poller and the offset-tracked V2 source
    // are measured back to back — p50/p95 side by side, so the V2 WAL's
    // durability cost per trigger is quantified rather than confounded.
    // Failure degrades to an empty object, not a dead bench.
    val stream =
      if (sys.env.contains("SPARK_GRAFT_BENCH_NO_STREAM")) "{}"
      else try {
        graft.streaming.StreamLatency.measure(spark, triggers = 2, useV2 = false)
        graft.streaming.StreamLatency.measure(spark, triggers = 2)
        val (l50, l95, ln) = graft.streaming.StreamLatency
          .measure(spark, triggers = 12, useV2 = false)
        val (p50, p95, n) = graft.streaming.StreamLatency
          .measure(spark, triggers = 12)
        info(
          f"[bench] stream e2e (isolated) v2 p50=$p50%.3fs p95=$p95%.3fs over $n; " +
            f"legacy p50=$l50%.3fs p95=$l95%.3fs over $ln")
        // Load-scaled throughput: 1x/10x/100x events per trigger for both
        // paths — the published proof that the V2 WAL's per-trigger
        // durability cost does not grow superlinearly with batch size
        // (the fixed-tiny-batch latency block above cannot show that).
        // Its OWN try: a throughput failure (e.g. a noisy box blowing the
        // 180 s deadline) must degrade to a missing "throughput" field,
        // not discard the latency numbers already measured above.
        val throughput =
          try {
            val pts = Seq(200, 2000, 20000).flatMap { vehicles =>
              Seq(("v2", true), ("legacy", false)).map { case (path, v2) =>
                val (t50, t95, tn) = graft.streaming.StreamLatency
                  .measure(spark, triggers = 8, vehicles = vehicles,
                    deadlineSec = 180, useV2 = v2)
                val rps = vehicles / t50
                info(
                  f"[bench] stream throughput $path vehicles=$vehicles " +
                    f"p50=$t50%.3fs p95=$t95%.3fs rows/s=$rps%.0f over $tn")
                s"""{"path":"$path","vehicles":$vehicles,"p50":${num(t50, 3)},""" +
                  s""""p95":${num(t95, 3)},"rows_per_sec":${num(rps, 0)},""" +
                  s""""triggers":$tn}"""
              }
            }.mkString("[", ",", "]")
            s""""throughput":$pts,"""
          } catch { case e: Throwable =>
            System.err.println(s"[bench] stream throughput failed: ${e.getMessage}")
            ""
          }
        s"""{"e2e_p50":$p50,"e2e_p95":$p95,"triggers":$n,""" +
          s""""legacy_p50":$l50,"legacy_p95":$l95,"legacy_triggers":$ln,""" +
          throughput + s""""isolated":true}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream e2e failed: ${e.getMessage}")
        "{}"
      }

    // Warmup pass on the smallest SF: same plan shapes → compiles every
    // wholestage-codegen class and lets the JIT finish before timing, so
    // the timed pass measures the plans rather than compilation lag.
    // Concurrent: codegen/JIT compilation is the bottleneck, not cores.
    val warmDir = "/root/testdata/sf0.001"
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      catalog.map { case (name, fn) =>
        pool.submit(new Runnable { def run(): Unit = runOne(name, fn, warmDir) })
      }.foreach(_.get())
    } finally pool.shutdown()
    // Idle settle: the parallel warmup saturates the C2 compile queue;
    // timing immediately would charge the drain to the first (alphabetical)
    // queries. An idle pause lets the compiler threads finish.
    Thread.sleep(20000)
    info(f"[bench] warmup done ${(System.nanoTime() - t0) / 1e9}%.1fs")

    // Timed: two full passes over the catalog, then outlier-retry passes.
    // Host-level noise arrives in windows of tens of seconds; consecutive
    // reruns share a window, but the same query in well-separated passes
    // almost never does. Noise only ever inflates a sample (a run can't
    // beat its plan), so min is the estimator; a query is SUSPECT until
    // its two best samples agree within 1.3x and its min is under an
    // absolute ceiling. The ceiling catches CORRELATED noise (both passes
    // inflated by a shared window, so they agree at a wrong value): no
    // catalog query legitimately exceeds ~5s warm at sf0.1, so anything
    // above 6s is worth re-measuring — a legit slow query just costs a
    // few bounded retries, never wrong data. Up to 3 extra passes re-run
    // only the suspect queries, each preceded by a sleep long enough to
    // escape the noise window.
    val suspectCeiling =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CEILING_SEC", "6").toDouble
    def pass(names: Seq[String]): Map[String, Double] =
      catalog.filter(c => names.contains(c._1))
        .map { case (name, fn) => name -> runOne(name, fn, sfDir) }.toMap
    def suspect(samples: Seq[Double]): Boolean = {
      val ok = samples.filter(_ >= 0).sorted
      if (ok.isEmpty) false
      else if (ok.size == 1) true
      // sub-second jitter between the two best samples is not noise worth
      // a retry pass — require both a ratio and an absolute gap
      else (ok(1) / ok(0) > 1.3 && ok(1) - ok(0) > 0.5) || ok(0) > suspectCeiling
    }
    val all = catalog.map(_._1)
    var samples: Map[String, Seq[Double]] =
      all.map(n => n -> Seq.empty[Double]).toMap
    def addPass(names: Seq[String]): Unit =
      pass(names).foreach { case (n, s) => samples += n -> (samples(n) :+ s) }
    addPass(all)
    addPass(all)
    var retry = all.filter(n => suspect(samples(n)))
    var extra = 0
    while (retry.nonEmpty && extra < 3) {
      info(s"[bench] retry pass ${extra + 1} for: ${retry.mkString(", ")}")
      // escape the current noise window; the explicit GC also lets the
      // ContextCleaner release broadcast/checkpoint blocks pinned by the
      // earlier passes' plans — observed as monotonically inflating retry
      // samples (10-90 s on a 10 s query) that reset after a pause
      System.gc()
      Thread.sleep(30000)
      addPass(retry)
      retry = retry.filter(n => suspect(samples(n)))
      extra += 1
    }
    val results = catalog.map { case (name, _) =>
      val ss = samples(name)
      val ok = ss.filter(_ >= 0)
      val sec = if (ok.isEmpty) -1.0 else ok.min
      info(
        s"[bench] $name ${num(sec, 2)}s (passes ${ss.map(s => num(s, 2)).mkString(" / ")})")
      name -> sec
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    // Cold-first-pass record (round-12 verdict transparency ask): pass 1 is
    // the first TIMED run on sfDir — the content caches (winnow/knn/labels)
    // are keyed by dataset content, so the sf0.001 warmup does not warm
    // them and pass 1 carries every first-build cost the min estimator
    // hides. Reported alongside, never replacing, the min numbers.
    val pass1 = catalog.map { case (name, _) =>
      name -> samples(name).headOption.filter(_ >= 0).getOrElse(-1.0)
    }
    val pass1Total = pass1.map(_._2).filter(_ >= 0).sum

    // Plan-generation fingerprint: md5 of the committed PLANS.md (the
    // graft.Plans artifact), so each bench archive records which plan
    // shapes produced its numbers — a changed hash round over round says
    // "diff PLANS.md before comparing timings".
    val plansMd5 = {
      val f = java.nio.file.Paths.get("PLANS.md")
      if (java.nio.file.Files.exists(f))
        "\"" + graft.ops.ContentKey.md5(
          new String(java.nio.file.Files.readAllBytes(f), "UTF-8"), 32) + "\""
      else "null"
    }

    // Paired-A/B section (round-11): tools/paired_bench.sh runs the
    // rounds-8/10 drift protocol — baseline sha built in a gitignored
    // worktree, alternated full legs on one box — and writes
    // paired_baseline.json. Embedding it here puts the paired ratio
    // table in the SAME archive the driver reads, self-describing
    // (shas + timestamp), so stale pairings are visible rather than
    // implied fresh. Absent file → absent section, never a dead bench.
    val paired = {
      val f = java.nio.file.Paths.get("paired_baseline.json")
      if (!java.nio.file.Files.exists(f)) ""
      else try {
        val txt = jsonObject(
          new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
        s""""paired":$txt,"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] paired section skipped: ${e.getMessage}")
        ""
      }
    }

    // estimator documented in-band: per-query min over 2 full passes plus
    // up to 3 suspect-retry passes (see the noise model above) — so a
    // round-over-round delta on an unchanged query is a real plan change,
    // not a shared-noise-window artifact.
    //
    // Two records: the COMPLETE per-query map goes to bench_full.json in
    // the repo root (the durable, never-truncated record the driver
    // commits with the round), while STDOUT gets a compact line — the
    // summary scalars plus only the slowest 20 queries — sized well under
    // the driver's 2000-char stdout tail, so the per-round BENCH_r{N}.json
    // archive is parseable end-to-end instead of a truncated 151-query
    // map (the round-7 lossy-archive finding). A TARGETED run
    // (SPARK_GRAFT_BENCH_ONLY) must not clobber the full record with a
    // 3-query line: it writes to bench_targeted.json unless the caller
    // named a path explicitly.
    def queriesJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) =>
        "\"" + k + "\":" + (if (v < 0) "-1" else num(v, 3))
      }.mkString("{", ",", "}")
    val summary = s""""metric":"total","value":${num(total, 3)},"unit":"sec","n_queries":${results.size},"estimator":"min_of_2_passes_plus_suspect_retries","pass1_total":${num(pass1Total, 3)},"stream":$stream,$paired"plans_md5":$plansMd5,"sf":"$sfDir""""
    val fullLine =
      s"""{"queries":${queriesJson(results)},"queries_pass1":${queriesJson(pass1)},$summary}"""
    // stdout keeps the contractual "queries" key, just restricted to the
    // slowest 20 (the interesting ones); "queries_full" names the file
    // with the complete map.
    val slowest = results.sortBy(-_._2).take(20)
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (only.isDefined) "bench_targeted.json" else "bench_full.json")
    val tailLine =
      s"""{"queries":${queriesJson(slowest)},"queries_full":"$fullPath",$summary}"""
    def writeLine(path: String, line: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $path write failed: ${e.getMessage}")
      }
    writeLine(fullPath, fullLine)
    // A targeted run writes nothing but its own record: the two files
    // below describe a full-catalog run.
    if (only.isEmpty) {
      // Per-(cpus, sf) copy of the full record, so a lower-core scaling
      // leg never clobbers the main map. The canonical name stays
      // (last-writer) for existing consumers; this copy survives.
      val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
      writeLine(s"bench_full_c${cpus}_$sfName.json", fullLine)
      // The contract line verbatim as a fixed artifact: even if a wrapper
      // (sbt chrome, tee, CI prefixing) mangles stdout, the identical JSON
      // is readable here.
      writeLine("BENCH_LINE.json", tailLine)
    }
    println(tailLine)
    spark.stop()
  }

  /** `txt`, trimmed, when it is exactly one JSON object — safe to splice
    * verbatim into the bench line; throws with the reason otherwise (a
    * truncated file that still ends in '}' would corrupt the whole line). */
  private[graft] def jsonObject(txt: String): String =
    JsonMethods.mapper.readerFor(classOf[JValue])
      .`with`(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .readValue[JValue](txt) match {
      case _: JObject => txt.trim
      case _ => sys.error("not a JSON object")
    }
}
