package graft

import org.apache.spark.sql.SparkSession

/** Plan-regression artifact: dumps every catalog query's physical plan,
  * normalized for diff-stability, to `PLANS.md`. Committed each round so
  * a lost broadcast, a new Exchange, or a codegen fallback shows up as a
  * one-hunk git diff instead of a silent perf regression.
  *
  * Normalization strips the run-dependent noise: expression IDs (`#123`),
  * `plan_id`s, absolute data/derived paths, and content-addressed
  * artifact keys. Plans are captured at sf0.001 (plan SHAPE is the
  * artifact; sizes are Bench's job).
  *
  * Usage: `tools/jrun.sh graft.Plans <sfDir> [outFile]`.
  */
object Plans {

  /** Diff-stable form of one executed-plan string. */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("@[0-9a-f]+", "@")                   // object identity hashes
    .replaceAll("_[0-9a-f]{16}", "_<key>")          // content-addressed names
    .replaceAll("file:[^\\s,\\]\\)]+", "<path>")
    .replaceAll("/[^\\s,\\]\\)]*(testdata|tmp|graft_)[^\\s,\\]\\)]*", "<path>")
    .replaceAll("\\[\\d+ paths\\]", "[n paths]")
    .replaceAll(", \\d+\\)", ", P)")                 // partition counts in Exchange
    .split("\n").map { ln =>
      // Spark's multi-distinct rewrite assigns gid groups in identity-hash
      // order, which flaps run to run: keep the operator (the tree shape
      // IS the artifact) but drop the permuted payload on those lines
      if (ln.contains("gid#")) {
        val cut = ln.indexWhere(c => c == '(' || c == '[')
        (if (cut < 0) ln else ln.take(cut)) +
          "(multi-distinct rewrite: gid details normalized)"
      } else ln
    }.mkString("\n")
    .trim

  def render(spark: SparkSession, dir: String): String = {
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      val plan =
        try normalize(q(spark, dir).queryExecution.executedPlan.toString)
        catch { case scala.util.control.NonFatal(e) =>
          s"PLAN FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      s"## $name\n\n```\n$plan\n```"
    }
    s"""# Physical plans (sf0.001, normalized)
       |
       |Generated by `graft.Plans` — regenerate with
       |`tools/jrun.sh graft.Plans /root/testdata/sf0.001 PLANS.md` after
       |plan-affecting changes. Expression IDs, plan ids, paths, partition
       |counts, and content keys are normalized so this file diffs cleanly
       |round over round; review any hunk here like a code change (a new
       |Exchange or lost broadcast is a perf regression).
       |
       |${entries.mkString("\n\n")}
       |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = LocalSession()
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      render(spark, dir).getBytes("UTF-8"))
    println(s"[plans] wrote $out (${SparkEntry.queries.size} queries)")
    spark.stop()
  }
}
