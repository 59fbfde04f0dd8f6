package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic dataset scaler for the sf1 (10×) scale-proof runs.
  *
  * The driver ships sf0.001/0.01/0.1 only; the 100 TB argument needs at
  * least one measured decade of scaling, so this main synthesizes
  * `sfN = R × sf0.1` from the shipped data — replication with key
  * offsets, NOT naive row copying:
  *
  *   - Every surrogate key (orderkey, partkey, custkey, doc_id, vec_id,
  *     user_id …) is offset per replica by `max(key)+1`, so the R
  *     replicas are disjoint key shards whose JOIN/GROUP cardinalities
  *     scale exactly linearly — the shape a real 10× dataset has (more
  *     keys, same per-key density), with every FK relationship preserved
  *     shard-locally (lineitem.l_partkey still hits part.p_partkey in
  *     the same replica).
  *   - `documents.text` is perturbed per replica (every whitespace token
  *     gets a replica suffix for r>0): replicas are DISTINCT in
  *     shingle/token space, so the duplicate structure per shard matches
  *     the original corpus instead of turning every doc into an R-way
  *     near-dup cluster (which would quadratically inflate every LSH
  *     band join and make the scale measurement dishonest).
  *   - `embeddings.embedding` is cyclically rotated by r dimensions:
  *     norms and intra-replica pairwise geometry are preserved (each
  *     shard is an isometric copy of the original cloud), while
  *     cross-replica vectors decorrelate — again the honest "same
  *     density, more points" shape.
  *   - Dimension tables that do not scale in a star schema (region,
  *     nation) are copied once; their FKs (nationkey) are left alone.
  *
  * Replica 0 is byte-identical to the source rows, so literal anchors in
  * the catalog (simsearch's `vec_id < 8` query set, flagship date
  * windows) keep their selectivity: query sets stay fixed while the
  * corpus grows — the scan/probe side scales, the driver side does not.
  *
  * Everything is a pure column expression over (row, replica): no RNG,
  * no timestamps — rerunning produces identical bytes, so content-keyed
  * caches behave.
  */
object ScaleGen {

  /** key' = key + r * (max(key)+1) — offsets computed once per table. */
  private def offsetCol(c: String, r: Column, base: Long): Column =
    (col(c) + r * lit(base)).as(c)

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1L

  /** Deterministic hot-key remap for the skew variant: in replicas r>0,
    * rows whose xxhash64(original key, r) lands in the skew fraction are
    * reassigned to replica 0's MINIMUM key — one global hot key that
    * absorbs ~`skewPct`% of ALL rows while every other key keeps its
    * original density (the power-law head a real event/fact table has).
    * FK-valid (the hot key exists in replica 0 of the parent table) and
    * RNG-free; non-skewed rows take the usual per-replica offset. */
  private def skewOrOffset(c: String, rc: Column, hot: Long, skewPct: Int,
      base: Long): Column =
    if (skewPct == 0) offsetCol(c, rc, base)
    else when(rc > 0 && pmod(xxhash64(col(c), rc), lit(100)) < skewPct,
      lit(hot)).otherwise(col(c) + rc * lit(base)).as(c)

  def scaleTable(spark: SparkSession, dir: String, name: String,
      replicas: Int, skewPct: Int = 0, flagship: Boolean = false): DataFrame = {
    val src0 = Tables(spark, dir, name)
    // The driver ships ONE parquet file per table, i.e. one input split —
    // without an explicit repartition the R× explode below runs as a
    // single task (observed: 20+ min single-threaded for lineitem at
    // R=100 while 31 cores idled). Fan the source out first; the explode
    // then parallelizes across the session's cores. Key-base scans
    // (maxOf/min below) deliberately read `src0`, the raw single-split
    // table — a footer-cheap agg with no shuffle; running them on the
    // fanned-out `src` would execute the whole-table repartition exchange
    // once per key base (round-9 advice).
    val fanout = spark.sparkContext.defaultParallelism
    val src = if (replicas > 1) src0.repartition(fanout) else src0
    // replicate via explode of a literal range: one scan, R output rows
    // per input row, no join
    val r = explode(typedLit((0 until replicas).map(_.toLong))).as("_r")
    def rep(cols: Column*): DataFrame =
      src.select((src.columns.map(col) :+ r): _*)
        .select(cols :+ col("_r"): _*).drop("_r")
    val rc = col("_r")
    name match {
      case "region" | "nation" => src
      case "customer" =>
        val ck = maxOf(src0, "c_custkey")
        rep(offsetCol("c_custkey", rc, ck) +:
          src.columns.filterNot(_ == "c_custkey").map(col): _*)
      case "supplier" =>
        val sk = maxOf(src0, "s_suppkey")
        rep(offsetCol("s_suppkey", rc, sk) +:
          src.columns.filterNot(_ == "s_suppkey").map(col): _*)
      case "part" =>
        val pk = maxOf(src0, "p_partkey")
        rep(offsetCol("p_partkey", rc, pk) +:
          src.columns.filterNot(_ == "p_partkey").map(col): _*)
      case "orders" =>
        val ok = maxOf(src0, "o_orderkey")
        val ck = maxOf(Tables(spark, dir, "customer"), "c_custkey")
        rep(src.columns.map {
          case "o_orderkey" => offsetCol("o_orderkey", rc, ok)
          case "o_custkey" => offsetCol("o_custkey", rc, ck)
          case c => col(c)
        }: _*)
      case "lineitem" =>
        val orders = Tables(spark, dir, "orders")
        val ok = maxOf(orders, "o_orderkey")
        val okMin = orders.agg(min(col("o_orderkey"))).head().getLong(0)
        val pk = maxOf(Tables(spark, dir, "part"), "p_partkey")
        val sk = maxOf(Tables(spark, dir, "supplier"), "s_suppkey")
        rep(src.columns.map {
          case "l_orderkey" =>
            skewOrOffset("l_orderkey", rc, okMin, skewPct, ok)
          case "l_partkey" => offsetCol("l_partkey", rc, pk)
          case "l_suppkey" => offsetCol("l_suppkey", rc, sk)
          case c => col(c)
        }: _*)
      case "events" if flagship =>
        // flagship-at-reference-scale shape: the positions FACT grows R×
        // while every dim (orders/customer/lineitem) stays fixed — a feed
        // polled R× longer over the SAME schedule. user_id is left alone
        // (replicas must still hit the same o_custkey dims), event_id is
        // offset for uniqueness, and ts is jittered +r seconds so the
        // replicated pings are distinct observations the closest-ping
        // window actually has to compare (identical ts would make the R
        // copies tie-break trivia instead of work).
        val ek = maxOf(src0, "event_id")
        rep(src.columns.map {
          case "event_id" => offsetCol("event_id", rc, ek)
          case "ts" => (col("ts") + make_dt_interval(
            lit(0), lit(0), lit(0), rc.cast("double"))).as("ts")
          case c => col(c)
        }: _*)
      case "events" =>
        val ek = maxOf(src0, "event_id")
        val uk = maxOf(src0, "user_id")
        val ukMin = src0.agg(min(col("user_id"))).head().getLong(0)
        rep(src.columns.map {
          case "event_id" => offsetCol("event_id", rc, ek)
          case "user_id" => skewOrOffset("user_id", rc, ukMin, skewPct, uk)
          case c => col(c)
        }: _*)
      case "documents" =>
        val dk = maxOf(src0, "doc_id")
        // r>0: suffix every whitespace token with "q<r>" — pure-letter
        // tokens stay pure-letter (langid/tokenizers unaffected), every
        // word n-gram shingle becomes replica-unique
        val text0 = when(rc === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            t => when(t === "", t)
              .otherwise(concat(t, lit("q"), rc.cast("string")))), " "))
        rep(offsetCol("doc_id", rc, dk), text0.as("text"), col("lang"),
          col("source"), length(text0).cast("long").as("n_chars"))
      case "embeddings" =>
        val vk = maxOf(src0, "vec_id")
        // cyclic dimension rotation by r mod d: norm-preserving,
        // intra-replica isometric, cross-replica decorrelated. Once R
        // exceeds the dimension count the rotation wraps, which would
        // make replica r an exact copy of replica r-d (fake cross-shard
        // exact-dup clusters); the second cycle is negated instead —
        // still an isometry, and cos(x, -x) = -1 keeps the wrapped twin
        // out of every similarity threshold. Covers R up to 2d shards.
        val d = size(col("embedding"))
        val rm = (rc.cast("int") % d)
        // floor-div: Column./ on integers is DOUBLE division
        val sign = when(floor(rc.cast("int") / d).cast("int") % 2 === 1,
          lit(-1.0f)).otherwise(lit(1.0f))
        val rot = transform(concat(
          slice(col("embedding"), rm + 1, d - rm),
          slice(col("embedding"), lit(1), rm)), x => x * sign)
        rep(offsetCol("vec_id", rc, vk),
          when(rc === 0, col("embedding")).otherwise(rot).as("embedding"),
          col("label"))
      case other =>
        throw new IllegalArgumentException(s"no scale rule for $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "testdata-sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: percent of lineitem.l_orderkey / events.user_id
    // rows remapped to one global hot key (skew-robustness benches)
    val skewPct = if (args.length > 3) args(3).toInt else 0
    // optional 5th arg: comma-separated table subset — e.g. the flagship-
    // at-reference-scale dir needs events at R=213, past the embeddings
    // rotation cap (2d replicas) and with no use for a 213× document
    // corpus; generating only the flagship's star keeps that run honest
    // and cheap. Default: every table.
    val only = if (args.length > 4) args(4).split(",").toSet
      else Tables.all.toSet
    // optional 6th arg "flagship": events scale fact-only (dims fixed,
    // user_id preserved, ts jittered) — see the events-flagship case.
    // Only meaningful with only=events: the flag changes no other table's
    // rule, so a wider table list would silently replicate the dims R×
    // and break the fixed-dims flagship contract (round-9 advice).
    val flagship = args.length > 5 && args(5) == "flagship"
    require(!flagship || only == Set("events"),
      "flagship mode requires the table subset arg to be exactly 'events'")
    val spark = LocalSession()
    Tables.all.filter(only).foreach { name =>
      val t0 = System.nanoTime()
      val df = scaleTable(spark, srcDir, name, replicas, skewPct, flagship)
      // R part files per table, not one: the driver's single-file-per-table
      // convention would make every narrow pre-scan stage single-threaded
      // at R× the work (observed: a 475 s one-task partial aggregate). A
      // real R× lake carries ~R× the files; writing R files restores the
      // scan parallelism such a lake gets for free.
      val out = if (Seq("region", "nation").contains(name)) df
        else df.repartition(replicas)
      out.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(f"[scalegen] $name done in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    spark.stop()
  }
}
