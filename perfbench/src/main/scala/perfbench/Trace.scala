package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: a timed call into a layer, made by the benchmark. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. When `enabled` is false, `span` runs its body
  * without recording anything and no listener is attached, so untraced
  * runs measure the program alone. Spans are written out once, at the end
  * of the run. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans.synchronized {
          spans += Span(id, parent, name, t0, System.nanoTime(), runId)
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time of every span: its duration minus the time its children
    * cover, summed per span name. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childTime = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum
    }
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Catalyst and scheduler counters, read through the two public listener
  * interfaces: planning phases per query from `QueryExecution.tracker`,
  * and job/stage/task counts with task metrics from the listener bus. */
final class SparkLayer extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit =
    c.synchronized { c(k) = c.getOrElse(k, 0.0) + v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("spark.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task.run_s", m.executorRunTime / 1e3)
      add("spark.task.cpu_s", m.executorCpuTime / 1e9)
      add("spark.task.gc_s", m.jvmGCTime / 1e3)
      add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, summary) =>
      if (Set("analysis", "optimization", "planning")(phase))
        add(s"spark.plan.${phase}_s", summary.durationMs / 1e3)
    }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  def snapshot: Map[String, Double] = c.synchronized(c.toMap)
}

object SparkLayer {
  val Names: Seq[String] = Seq(
    "spark.plan.analysis_s", "spark.plan.optimization_s", "spark.plan.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task.run_s", "spark.task.cpu_s", "spark.task.gc_s",
    "spark.input_bytes", "spark.output_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes")

  def attach(spark: SparkSession): SparkLayer = {
    val l = new SparkLayer
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}
