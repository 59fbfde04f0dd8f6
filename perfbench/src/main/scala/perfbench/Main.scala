package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** What one run hands to a workload. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    tracer: Tracer, runDir: File) {
  def dir(name: String): File = { val f = new File(runDir, name); f.mkdirs(); f }
  def path(name: String): String = new File(runDir, name).getAbsolutePath
}

/** A workload's measurements. `samples` are the latencies of its unit
  * operation, `totalS` the wall time of its measured work and `rowsPerS`
  * the rows it moved per second; `named` holds the workload's own
  * end-to-end metrics and `layers` its per-layer metrics (filled in
  * traced runs). */
final class Outcome {
  val samples = mutable.ArrayBuffer.empty[Double]
  var totalS: Double = 0.0
  var rowsPerS: Double = 0.0
  val named = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val gates = mutable.ArrayBuffer.empty[Gate]
  val record = mutable.LinkedHashMap.empty[String, Any]
  var attempted: Long = 0
  var failed: Long = 0
}

trait Workload {
  /** Build the run's inputs under `dir` from the seed. Called several
    * times per run (set-up time is the median); the last call's inputs
    * are the ones measured. */
  def prepare(ctx: Ctx, dir: File): Unit
  def run(ctx: Ctx, inputs: File, out: Outcome): Unit
}

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --run-dir D --record F [--cpus C]`. Prints the workload's metrics
  * line by line and, as the last line, the result object. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "ingest_poll" -> IngestPoll, "lake_day" -> LakeDay, "catalog_mv" -> CatalogMv)

  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val workload = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name (${Workloads.keys.mkString(", ")})"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val runDir = new File(a("run-dir")).getAbsoluteFile
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

    val spark = Session.build(cpus, runDir)
    val layer = if (traced) Some(SparkLayer.attach(spark)) else None
    val tracer = new Tracer(traced, s"$name-$seed-${System.currentTimeMillis()}")
    val ctx = Ctx(spark, seed, seconds, tracer, runDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val prepS = (1 to SetupRepeats).map { i =>
      val dir = ctx.dir(s"inputs-$i")
      val t0 = System.nanoTime()
      workload.prepare(ctx, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val inputs = new File(runDir, s"inputs-$SetupRepeats")
    (1 until SetupRepeats).foreach(i => Files.rm(new File(runDir, s"inputs-$i")))

    val out = new Outcome
    val runStart = System.nanoTime()
    workload.run(ctx, inputs, out)
    val runS = (System.nanoTime() - runStart) / 1e9
    val peakRssMb = Files.peakRssMb()

    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    metrics("setup_s") = Metric(sessionS + Stats.median(prepS), "s")
    metrics("p50_s") = Metric(Stats.median(out.samples.toSeq), "s")
    metrics("total_s") = Metric(out.totalS, "s")
    if (out.rowsPerS > 0) metrics("rows_per_s") = Metric(out.rowsPerS, "rows/s")
    out.named("peak_rss_mb") = Metric(peakRssMb, "MB")
    val (pct, tail) = Stats.tail(out.samples.toSeq)
    out.record ++= Seq("samples" -> out.samples.size, "tail_s" -> tail, "tail_percentile" -> pct)

    val layers = mutable.LinkedHashMap.empty[String, Metric]
    layer.foreach { l =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val snap = l.snapshot
      SparkLayer.Names.foreach(n => layers(n) = Metric(snap.getOrElse(n, 0.0), unitOf(n)))
      Layers.Names.foreach(n => layers(n) = Metric(out.layers.getOrElse(n, 0.0), unitOf(n)))
    }
    spark.stop()

    val correct = out.gates.nonEmpty && out.gates.forall(_.ok)
    val env = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cpus" -> cpus, "mem_total_mb" -> Files.memTotalMb(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"))
    def mj(m: collection.Map[String, Metric]) =
      m.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) }.toMap
    val full = Map(
      "env" -> env,
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "gates" -> out.gates.map(g => Map("name" -> g.name, "ok" -> g.ok, "detail" -> g.detail)),
      "end_to_end" -> mj(metrics), "workload_metrics" -> mj(out.named),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS),
      "run_s" -> runS,
      "per_layer" -> mj(layers), "record" -> out.record.toMap,
      "spans" -> tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> s.runId)),
      "self_s" -> tracer.selfSeconds)
    a.get("record").foreach(p => Files.write(new File(p), Json.write(full)))

    println(s"env ${Json.write(env)}")
    out.gates.foreach(g => println(s"gate ${if (g.ok) "ok  " else "FAIL"} ${g.name}: ${g.detail}"))
    (metrics ++ out.named ++ layers).foreach { case (k, v) =>
      println(f"metric $k%-40s ${v.value}%.6f ${v.unit}")
    }
    val shown = if (traced) layers else metrics
    println(Json.write(Map("correct" -> correct, "attempted" -> math.max(out.attempted, 1L),
      "failed" -> out.failed, "metrics" -> mj(shown))))
  }

  def unitOf(n: String): String =
    if (n.contains("bytes")) "bytes"
    else if (n.endsWith("_s") || n.contains(".s_per_")) "s"
    else if (n.endsWith("_ratio") || n.endsWith("_per_served")) "ratio"
    else "count"
}
