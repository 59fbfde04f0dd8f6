package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs on: `local[cpus]` with shuffle
  * partitions = cpus, AQE on, a UTC session clock, a codegen cache large
  * enough for the catalog's >100 codegen stages (the default 100 would
  * evict and recompile mid-run), no UI, WARN logging, and the graft
  * function surface registered. Idempotent: `getOrCreate` returns the
  * running session and `functions.register` checks before it adds.
  *
  * Knobs, all from the environment:
  *  - `SPARK_GRAFT_CPUS`: local cores, default the machine's core count;
  *  - `SPARK_GRAFT_CONF="k=v,k=v"`: extra session confs for deliberate
  *    off-default runs (see [[confEntries]]), applied last so they win.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, or every core of this machine. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Build (or return) the session; `extra` confs are a main's own
    * requirements, e.g. the RocksDB state store for transformWithState. */
  def apply(extra: (String, String)*): SparkSession = {
    val n = cpus
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
    (extra ++ confEntries(sys.env.get("SPARK_GRAFT_CONF")))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.functions.register(spark)
    spark
  }

  /** Parse `SPARK_GRAFT_CONF` — e.g. raising graft.anchor.maxRows for an
    * INTENTIONAL exact-anchor pass at a scale the guard would refuse.
    * Non-spark.* keys can't arrive via system properties, so the harness
    * needs its own door. Comma is the entry separator, so values cannot
    * contain commas. A token without '=' is a typo — fail loudly rather
    * than silently dropping the conf. */
  private[graft] def confEntries(spec: Option[String]): Seq[(String, String)] =
    spec.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => sys.error(s"SPARK_GRAFT_CONF entry '$kv' has no '=' " +
          "(expected k=v[,k=v...]; values cannot contain commas)")
      }
    }
}
