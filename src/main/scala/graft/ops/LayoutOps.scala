package graft.ops

import graft.Tables
import graft.expr.{functions => gf}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Data-layout operators: the z-order (Morton) clustering key. Sorting a
  * write by z keeps 2-D-near rows in the same parquet row group, so the
  * footer's min/max statistics prune two-dimensional range predicates —
  * the same payoff the reference buys with its GeoParquet bbox covering
  * (etl/runtime/handler.py:151), generalized to any pair of quantized
  * axes and usable as a `sortWithinPartitions`/`repartitionByRange` key
  * at compaction time (CompactOps takes sort columns for exactly this).
  *
  * The catalog query derives the two 10-bit axes from `event_id` with the
  * same integer arithmetic the ingest stand-in uses for lat/lon, computes
  * the interleaved key with the codegen'd kernel, and aggregates per
  * coarse z-tile — all exact integer math, mirrored bit-for-bit in the
  * DuckDB oracle.
  */
object LayoutOps {

  private val Bits = 10

  /** DuckDB mirror of GeohashOps.zorder: explicit bit-interleave terms. */
  private def zorderSql(x: String, y: String): String =
    (0 until Bits).map { i =>
      s"(((($x) >> $i) & 1) << ${2 * i}) + (((($y) >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  private def zorderLayout(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(
        gf.zorder(col("event_id") % 700, col("event_id") % 1000, lit(Bits))
          .as("z"))
      .groupBy(shiftright(col("z"), 12).as("z_tile"))
      .agg(count(lit(1)).as("n"), min("z").as("z_min"), max("z").as("z_max"))
      .orderBy("z_tile")

  private val zorderLayoutSql =
    s"""WITH z AS (
       |  SELECT ${zorderSql("event_id % 700", "event_id % 1000")} AS z
       |  FROM events)
       |SELECT z >> 12 AS z_tile, count(*) AS n,
       |  min(z) AS z_min, max(z) AS z_max
       |FROM z GROUP BY 1 ORDER BY z_tile""".stripMargin

  // ---- Hilbert clustering key ----
  // The locality upgrade of the z-tile layout: consecutive Hilbert
  // indices are ALWAYS grid-adjacent (Morton order jumps across the
  // plane at every power-of-two boundary), so a 2-D range scan over a
  // Hilbert-sorted write touches strictly fewer row groups — the curve
  // production lakehouse clustering engines favor at scale. Same shape
  // as `zorder_layout` (one codegen'd integer kernel, per-tile stats) so
  // the two keys are directly comparable on the same axes. The mirror
  // transcribes the kernel's masked-rotation walk level by level: the
  // per-level state (x_k, y_k, d_k) is all non-negative integers, so
  // each of the `Bits` unrolled CTE stages is plain CASE arithmetic —
  // bit-for-bit the Spark kernel's op sequence.
  private def hilbertSqlCtes(x0: String, y0: String): String = {
    val init =
      s"""h0 AS (
         |  SELECT event_id, CAST($x0 AS BIGINT) AS x0, CAST($y0 AS BIGINT) AS y0,
         |    CAST(0 AS BIGINT) AS d0
         |  FROM events)""".stripMargin
    // stage k consumes bit i = Bits-1-k; distinct column names per stage —
    // DuckDB resolves lateral aliases, so reusing `x` would be ambiguous
    val stages = (0 until Bits).map { k =>
      val i = Bits - 1 - k
      val m = (1L << i) - 1
      val rx = s"((x$k >> $i) & 1)"
      val ry = s"((y$k >> $i) & 1)"
      s"""h${k + 1} AS (
         |  SELECT event_id,
         |    CASE WHEN $ry = 1 THEN x$k & $m
         |         WHEN $rx = 1 THEN $m - (y$k & $m)
         |         ELSE y$k & $m END AS x${k + 1},
         |    CASE WHEN $ry = 1 THEN y$k & $m
         |         WHEN $rx = 1 THEN $m - (x$k & $m)
         |         ELSE x$k & $m END AS y${k + 1},
         |    d$k + ${1L << (2 * i)} * xor(3 * $rx, $ry) AS d${k + 1}
         |  FROM h$k)""".stripMargin
    }
    (init +: stages).mkString(",\n")
  }

  private def hilbertLayout(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(
        gf.hilbert(col("event_id") % 700, col("event_id") % 1000, lit(Bits))
          .as("h"))
      .groupBy(shiftright(col("h"), 12).as("h_tile"))
      .agg(count(lit(1)).as("n"), min("h").as("h_min"), max("h").as("h_max"))
      .orderBy("h_tile")

  private val hilbertLayoutSql =
    s"""WITH ${hilbertSqlCtes("event_id % 700", "event_id % 1000")}
       |SELECT d$Bits >> 12 AS h_tile, count(*) AS n,
       |  min(d$Bits) AS h_min, max(d$Bits) AS h_max
       |FROM h$Bits GROUP BY 1 ORDER BY h_tile""".stripMargin

  // ---- layout pruning statistics: the payoff, quantified in-engine ----
  // Simulates the write each clustering key would produce (global sort by
  // key, fixed-size row groups) and counts how many groups a 2-D box
  // predicate TOUCHES under real min/max-stat pruning — the number a
  // lakehouse reader actually pays. This is the experiment behind "prefer
  // Hilbert": its unit-step curve gives groups tighter bounding boxes
  // than Morton's power-of-two jumps, so fewer groups intersect the box.
  // Scale shape: the global rank is computed WITHOUT a single-task global
  // window — a VALUE-split bucket (k >> 12, engine- and partitioning-
  // independent) gets a per-bucket local window, offset by a running sum
  // over the ≤2^8-row bucket-count frame (bounded, broadcast back). At
  // 100 TB that is one range-shuffle plus bucket-local sorts — the same
  // cost as performing the clustered write itself.
  /** Simulated rows per row group = 2^PruneShift; the shift is the one
    * source of truth — the Spark plan, the SQL mirror, and the spec's
    * floor arithmetic all derive from it. */
  private[graft] val PruneShift = 7

  // The experiment needs cell occupancy at the CURVE's resolution: on the
  // %700/%1000 axes a 10× corpus packs >G rows into every cell, groups
  // collapse inside single cells (min=max), and pruning saturates for
  // both curves (measured: 180 vs 181 touched at sf1). An LCG-mixed
  // spread over the full 1024×1024 grid keeps each group spanning ~its
  // d-range of cells at every scale, so the curves' bounding-box quality
  // stays the thing being measured. Plain int64 arithmetic, exact in
  // both engines (values stay ≪ 2^63 — DuckDB errors on overflow rather
  // than wrapping, so that bound is load-bearing).
  private def pruneAxes(e: Column): (Column, Column) = (
    (e * lit(1103515245L) + lit(12345L)).bitwiseAND(lit(1023L)),
    shiftright(e * lit(69069L) + lit(1L), 10).bitwiseAND(lit(1023L)))

  private val pruneAxesSql: (String, String) = (
    "(event_id * 1103515245 + 12345) & 1023",
    "((event_id * 69069 + 1) >> 10) & 1023")

  private def pruneStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (axX, axY) = pruneAxes(col("event_id"))
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), axX.as("px"), axY.as("py"))
    def ranked(name: String, key: Column): DataFrame = {
      val keyed = ev
        .select(lit(name).as("layout"), key.as("k"),
          col("event_id").as("tie"), col("px"), col("py"))
        .withColumn("b", shiftright(col("k"), 12))
      val offs = keyed.groupBy("b").agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(
          Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("b", "off")
      keyed.join(broadcast(offs), "b") // ≤ 256 buckets: a 2×Bits key >> 12
        .withColumn("rn", row_number().over(
          Window.partitionBy("b").orderBy("k", "tie")).cast("long")
          + col("off") - 1L)
        .withColumn("g", shiftright(col("rn"), PruneShift))
    }
    val both = ranked("hilbert",
        gf.hilbert(col("px"), col("py"), lit(Bits)))
      .unionAll(ranked("zorder",
        gf.zorder(col("px"), col("py"), lit(Bits))))
    val inBox = col("px").between(100, 200) && col("py").between(300, 450)
    both.groupBy("layout", "g")
      .agg(min("px").as("x1"), max("px").as("x2"),
        min("py").as("y1"), max("py").as("y2"),
        sum(when(inBox, 1L).otherwise(0L)).as("inbox"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("x2") >= 100 && col("x1") <= 200 &&
                 col("y2") >= 300 && col("y1") <= 450, 1L).otherwise(0L))
          .as("touched_groups"),
        sum(col("inbox")).as("rows_in_box"))
      .orderBy("layout")
  }

  private val pruneStatsSql =
    s"""WITH ${hilbertSqlCtes(pruneAxesSql._1, pruneAxesSql._2)},
       |keyed AS (
       |  SELECT 'hilbert' AS layout, d$Bits AS k, event_id AS tie FROM h$Bits
       |  UNION ALL
       |  SELECT 'zorder' AS layout,
       |    ${zorderSql(pruneAxesSql._1, pruneAxesSql._2)} AS k,
       |    event_id AS tie
       |  FROM events),
       |ax AS (
       |  SELECT event_id AS tie, ${pruneAxesSql._1} AS px,
       |    ${pruneAxesSql._2} AS py
       |  FROM events),
       |ranked AS (
       |  SELECT layout, px, py,
       |    row_number() OVER (PARTITION BY layout ORDER BY k, tie) - 1 AS rn
       |  FROM keyed JOIN ax USING (tie)),
       |grps AS (
       |  SELECT layout, rn >> $PruneShift AS g,
       |    min(px) AS x1, max(px) AS x2, min(py) AS y1, max(py) AS y2,
       |    sum(CASE WHEN px BETWEEN 100 AND 200 AND py BETWEEN 300 AND 450
       |             THEN 1 ELSE 0 END) AS inbox
       |  FROM ranked GROUP BY 1, 2)
       |SELECT layout, count(*) AS n_groups,
       |  CAST(sum(CASE WHEN x2 >= 100 AND x1 <= 200
       |                 AND y2 >= 300 AND y1 <= 450
       |            THEN 1 ELSE 0 END) AS BIGINT) AS touched_groups,
       |  CAST(sum(inbox) AS BIGINT) AS rows_in_box
       |FROM grps GROUP BY layout ORDER BY layout""".stripMargin

  // ---- bucketed co-located join ----
  // The other half of the layout story: pre-bucketing both sides of a
  // recurring fact⋈dim join on the join key makes the join shuffle-FREE —
  // at 100 TB the nightly orders⋈customer never re-shuffles either
  // table; each task merge-joins co-located buckets. PlanSpec asserts the
  // physical plan has no Exchange above either scan. The oracle is the
  // plain (unbucketed) join — bucketing must never change results.

  private val BucketN = 8
  private val bucketLock = new Object

  /** Register content-addressed bucketed copies of orders/customer for
    * `dir` (once per dataset per JVM), external data in tmp. The key
    * covers BOTH source tables (a customer-only regen must invalidate)
    * and stale key-dirs for the same source are evicted before a write.
    *
    * Each table reconciles catalog vs disk independently (a crash
    * between the two writes must not leave a half-registered pair):
    *  - catalog entry + backing `_SUCCESS` present → reuse as-is;
    *  - catalog entry but data gone (tmp cleaner, or evictStale after a
    *    source regen) → drop the stale entry and rebuild, instead of
    *    failing until JVM restart;
    *  - data present but no catalog entry (fresh session/JVM over a
    *    warm tmp — the nightly-job story) → adopt the existing buckets
    *    via `CREATE TABLE … CLUSTERED BY … LOCATION` without rewriting
    *    a single file. The bucket spec lives in the catalog entry, so
    *    re-declaring it with the same (count, column, sort) the files
    *    were written with restores the shuffle-free join. */
  /** Content key of the bucketed copies for `dir`. Covers the DERIVATION
    * (bucket count, key columns, projected schema) as well as the source
    * content: adopting on-disk buckets re-declares CLUSTERED BY from
    * these constants, so a build with a different bucket spec must land
    * in a different key-dir — adopting old-layout files under a new spec
    * would silently mis-join. */
  private[graft] def bucketKey(s: SparkSession, dir: String): String =
    ContentKey.md5(
      ContentKey.of(s, Seq(s"$dir/orders.parquet", s"$dir/customer.parquet")) +
        s"|spec=$BucketN:o_custkey,o_orderkey,o_totalprice:c_custkey,c_mktsegment")

  private[ops] def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val key = bucketKey(s, dir)
    val (ordT, custT) = (s"graft_bkt_ord_$key", s"graft_bkt_cust_$key")
    bucketLock.synchronized {
      val parent = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_buckets/${ContentKey.md5(dir)}")
      val base = new java.io.File(parent, key)

      def ensure(table: String, sub: String, bucketCol: String)(
          write: String => Unit): Unit = {
        val path = new java.io.File(base, sub)
        // manifest-validated adoption (ContentKey.manifestOk): _SUCCESS
        // alone would adopt a partially-deleted dir and silently drop rows
        if (s.catalog.tableExists(table)) {
          if (ContentKey.manifestOk(path)) return
          s.sql(s"DROP TABLE `$table`") // entry outlived its tmp data
        }
        if (ContentKey.manifestOk(path)) {
          val ddl = s.read.parquet(path.toString).schema.toDDL
          s.sql(
            s"""CREATE TABLE `$table` ($ddl) USING parquet
               |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
               |INTO $BucketN BUCKETS
               |LOCATION '${path.toURI}'""".stripMargin)
        } else {
          ContentKey.evictStale(parent, key)
          write(path.toString)
          ContentKey.writeManifest(path)
        }
      }

      // cross-process lock around both ensures: two JVMs sharing this
      // tmp path serialize here — one writes, the other adopts after
      // the in-lock manifest re-check (the catalog side is per-session,
      // so each JVM still registers its own table entries)
      ContentKey.withDirLock(parent, key) {
        ensure(ordT, "orders", "o_custkey") { p =>
          Tables(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.format("parquet")
            .bucketBy(BucketN, "o_custkey").sortBy("o_custkey")
            .option("path", p).mode("overwrite")
            .saveAsTable(ordT)
        }
        ensure(custT, "customer", "c_custkey") { p =>
          Tables(s, dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .write.format("parquet")
            .bucketBy(BucketN, "c_custkey").sortBy("c_custkey")
            .option("path", p).mode("overwrite")
            .saveAsTable(custT)
        }
      }
    }
    (ordT, custT)
  }

  private def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ordT, custT) = bucketedTables(s, dir)
    s.table(ordT)
      .join(s.table(custT), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(Num.dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  private val bucketedJoinSql =
    s"""SELECT c_mktsegment, ${Num.dsumSql("o_totalprice")} AS revenue,
       |  count(*) AS n_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // Runtime bloom-filter (semi-join reduction) join: the selective dim
  // filter's surviving keys are folded into a bloom filter (public
  // `stat.bloomFilter`, one pass over the already-filtered dim), and the
  // fact side is pre-filtered by `mightContain` BEFORE its shuffle — so at
  // 100 TB the exchange carries ~selectivity·N rows plus the bloom's false
  // positives instead of all of N. The join itself re-checks equality, so
  // false positives cost I/O, never correctness — which is why this stays
  // exactly oracle-checkable. The merge-join hint models the regime where
  // the filtered dim is still too big to broadcast (the case where a bloom
  // matters; with a broadcastable dim you'd just broadcast). Spark's own
  // InjectRuntimeFilter does this automatically when stats clear its
  // size thresholds; the explicit form is planner-independent and keeps
  // the bloom parameters (1% fpp ≈ 1.2 MB/M keys) in the program.
  private val BloomPriceFloor = 480000.0

  /** Build-once bounded cache (same ContentKey discipline as the ANN
    * model caches): the bloom build is a full dim-side pass, and repeated
    * invocations on unchanged data should not re-pay it; the LRU bound
    * keeps regenerated datasets from accumulating ~1.2 MB filters for the
    * JVM lifetime. */
  private val bloomCache =
    new ContentKey.Lru[org.apache.spark.util.sketch.BloomFilter](8)

  private def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").filter(col("o_totalprice") > BloomPriceFloor)
    val bf = bloomCache.get(ContentKey.of(s, Seq(s"$dir/orders.parquet"))) {
      o.stat.bloomFilter("o_orderkey", expectedNumItems = 1000000L, fpp = 0.01)
    }
    // codegen StaticInvoke probe over the serialized filter (binary
    // literal, per-thread deserialization memo) — keeps the fact scan's
    // hot filter inside whole-stage codegen; see graft.expr.BloomProbe
    val bytes = { val o = new java.io.ByteArrayOutputStream(); bf.writeTo(o); o.toByteArray }
    val l = Tables(s, dir, "lineitem")
      .filter(gf.bloom_might_contain(lit(bytes), col("l_orderkey")))
    l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        Num.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val bloomJoinSql =
    s"""SELECT o_orderpriority, count(*) AS n_lines,
       |  ${Num.dsumSql("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_totalprice > $BloomPriceFloor
       |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // ---- dynamic partition pruning ----
  // The fact side lives in a hive-partitioned (day=) lake; joining it to a
  // selective dim on the partition column lets Spark inject a runtime
  // subquery into the SCAN's PartitionFilters — at 100 TB only the joined
  // days' directories are read at all, without any static predicate in
  // the query text. The lake is a content-addressed derived artifact
  // (same discipline as geoLake/bucketedTables); the dim is the top-3
  // busiest days, small and broadcast. PlanSpec asserts the
  // dynamicpruning filter actually reaches the scan. The oracle computes
  // the identical semantics from the raw events.

  private[ops] def dayLake(s: SparkSession, dir: String): String =
    ContentKey.derivedDir(s, "daylake", dir, Seq(s"$dir/events.parquet")) { root =>
      Tables(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("day").parquet(root)
    }

  private def dppJoin(s: SparkSession, dir: String): DataFrame = {
    val lake = s.read.parquet(dayLake(s, dir))
    // "audit days" dim: a generated date spine filtered by a literal
    // comparison. Two DPP preconditions live here: the filter must be
    // "likely selective" (a comparison — an aggregate+limit dim never
    // triggers the rule), and the dim subtree must be CHEAP relative to
    // the partitioned scan (a dim that re-aggregates the fact table fails
    // the rule's cost check at any scale where the test runs) — which is
    // also why real lakes join calendar/dimension tables, not self-aggs.
    val busy = Tables(s, dir, "nation").limit(1)
      .select(explode(sequence(
        lit(java.sql.Date.valueOf("2024-01-01")),
        lit(java.sql.Date.valueOf("2024-01-30")))).as("d"))
      .filter(dayofmonth(col("d")) % 7 === 5) // days 5, 12, 19, 26
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"))
    lake.join(broadcast(busy), "day") // 4 audit days
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        Num.dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  private val dppJoinSql =
    s"""WITH busy AS (
       |  SELECT strftime(d, '%Y-%m-%d') AS day
       |  FROM generate_series(DATE '2024-01-01', DATE '2024-01-30',
       |    INTERVAL 1 DAY) g(d)
       |  WHERE dayofmonth(d) % 7 = 5)
       |SELECT e.event_type, count(*) AS n_events,
       |  ${Num.dsumSql("e.value")} AS sum_value
       |FROM events e
       |JOIN busy b ON strftime(CAST(e.ts AS DATE), '%Y-%m-%d') = b.day
       |GROUP BY 1 ORDER BY e.event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zorder_layout" -> (zorderLayout _),
    "hilbert_layout" -> (hilbertLayout _),
    "layout_prune_stats" -> (pruneStats _),
    "bucketed_join" -> (bucketedJoin _),
    "bloom_join" -> (bloomJoin _),
    "dpp_join" -> (dppJoin _))

  val oracle: Map[String, String] = Map(
    "zorder_layout" -> zorderLayoutSql,
    "hilbert_layout" -> hilbertLayoutSql,
    "layout_prune_stats" -> pruneStatsSql,
    "bucketed_join" -> bucketedJoinSql,
    "bloom_join" -> bloomJoinSql,
    "dpp_join" -> dppJoinSql)
}
