package graft

/** Print the formatted plan of catalog queries:
  * `tools/jrun.sh graft.ExplainMain <sfDir> <query>...`. */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    args.drop(1).foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, args(0)).explain("formatted")
    }
    spark.stop()
  }
}
