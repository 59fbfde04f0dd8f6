package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Run catalog queries to the `noop` sink and print each one's final
  * adaptive plan (`isFinalPlan=true`, formatted, with the run's SQL
  * metrics), the plan the bench times:
  * `tools/jrun.sh graft.ExplainMain <sfDir> <query>...`. */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    // the noop write's own execution; actions a query runs while it is
    // built (counts, checkpoints) are not V2 writes and are skipped
    val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.isInstanceOf[V2WriteCommand]) writes.put(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    args.drop(1).foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, args(0))
        .write.mode("overwrite").format("noop").save()
      val qe = writes.poll(60, TimeUnit.SECONDS)
      require(qe != null, s"$name: no noop write reached the listener")
      println(qe.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
