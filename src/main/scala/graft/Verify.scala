package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 restricts the dump
    // (the driver never sets it, so its run covers the full catalog).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    // storage-accrual observable: after a full catalog pass this must be
    // bounded by the fit-once Lru capacities (cached checkpointed frames
    // + the streaming-free loop discipline), not grow with query count —
    // the round-8 freeLocalCheckpoint contract made it so
    System.err.println("[verify] persistent RDDs at exit: " +
      spark.sparkContext.getPersistentRDDs.size)
    spark.stop()
  }

  /** `oracle_sql.json`: query name → DuckDB SQL as one JSON object. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    compact(render(JObject(sql.toList.map { case (k, v) => k -> JString(v) })))
}
