package graft

/** Physical-plan audits (the "is this the plan you'd want at 100 TB" check):
  * filters/projections must reach the parquet scan, small dims must
  * broadcast, and no LSH/bucketed operator may degenerate into a cartesian
  * product. The brute-force baselines are asserted to BE nested-loop joins
  * — that's their documented role.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.sparkPlan.toString

  test("predicate and projection pushdown reach the parquet scan") {
    val p = plan("filter_isin_between")
    assert(p.contains("PushedFilters:"), "no pushdown section in scan")
    assert(p.contains("In(p_size"), s"p_size IN not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(p_retailprice"),
      "retailprice range not pushed")
  }

  test("bbox covering predicate pushes down to the geo-lake parquet scan") {
    val p = plan("bbox_prune")
    assert(p.contains("PushedFilters:"), "no pushdown section in scan")
    assert(p.contains("bbox.xmin") && p.contains("bbox.ymax"),
      s"bbox leaf predicates not pushed to the scan:\n$p")
  }

  test("column pruning: geo_enrich reads only p_partkey") {
    val p = plan("geo_enrich")
    assert(p.contains("ReadSchema: struct<p_partkey:bigint>"),
      s"scan reads more than the projected column:\n$p")
  }

  test("dimension joins broadcast, not shuffle") {
    val p = plan("join_chain")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3
      || "BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected 3 broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("flagship broadcasts the customer dim") {
    val p = plan("schedule_deviation")
    assert(p.contains("BroadcastHashJoin"), "customer dim not broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("LSH/bucketed operators never degenerate into cross products") {
    for (q <- Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
        "simsearch_lsh", "simsearch_ivf", "simsearch_ivfpq", "dedup_embedding",
        "spatial_join_geohash", "asof_join_bucketed")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop")
    }
  }

  test("round-2 relational operators keep equi-join / hash-agg shapes") {
    for (q <- Seq("interval_join", "events_sessionize", "pivot_agg",
        "percentile_agg", "dedup_resolve")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated into a cross/nested-loop join:\n$p")
    }
    assert(plan("pivot_agg").contains("HashAggregate"))
    assert(plan("percentile_agg").contains("Aggregate"), "no aggregate in percentile plan")
  }

  test("approx_percentile aggregates a fixed-size sketch, not raw values") {
    // the scale contract of the sketch twin: the aggregation must carry
    // percentile_approx's constant-size quantile summary (an
    // ObjectHashAggregate buffer) with NO exact percentile anywhere —
    // that one buffers every group value and is the thing being replaced
    val p = plan("approx_percentile")
    assert(p.contains("ObjectHashAggregate"),
      s"expected an object hash aggregate over the sketch buffer:\n$p")
    assert(p.contains("percentile_approx") || p.contains("approx_percentile"),
      s"approx function missing from plan:\n$p")
    assert(!"\\bpercentile\\(".r.findFirstIn(p).isDefined,
      s"exact percentile leaked into the sketch-path plan:\n$p")
  }

  test("catalog-wide: no query degenerates into an unplanned cross product") {
    // BroadcastNestedLoopJoin is legitimate ONLY for the documented brute
    // anchors and for 1-row bounds/totals cross joins (sequence spines,
    // histogram bounds, mixture totals, PQ/IVF model-free brute ranking) —
    // every other catalog entry must keep an equi-join shape. A new
    // operator accidentally joining without keys fails here by default.
    val bruteAnchors = Set("simsearch_topk", "dedup_embedding_exact",
      "ann_recall_report") // embeds the guarded brute anchor + 1-row total
    val oneRowBounds = Set("resample_locf", "sample_stratified",
      "mixture_weights", "value_histogram", "date_range",
      "text_collocations", "tfidf_topk", "pagerank", "triangle_count",
      "text_lm_score", // 1-row vocab-size side
      "source_overlap", // tiny-dim source-catalog pair enumeration
      "importance_weights", // 1-row corpus-total (nt, ns) side
      "curriculum_order", // 1-row corpus-size + 1-row quantile-cutoff sides
      "embed_pca", // P-row broadcast whitening-model side
      "domain_reweight", // 1-row vocab/totals/normalizer sides
      "sampling_plan", // wraps domain_reweight's 1-row sides
      "bm25_search", // 1-row (nd, avgdl) corpus side
      "bm25_chunks", // same 1-row corpus side, chunk-keyed
      "search_hybrid_rrf", // lexical leg wraps bm25's 1-row corpus side
      "split_drift", // 1-row train-total side
      "quality_calibration") // 1-row observed-max bounds side
    for ((name, _) <- SparkEntry.queries.toSeq.sortBy(_._1)
        if !bruteAnchors(name) && !oneRowBounds(name)) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name: unplanned cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name: unplanned nested-loop join")
    }
    // the allowlisted 1-row joins must really be 1-row (nested loop over a
    // single-row side is a broadcast of one tuple, not a blowup)
    for (name <- oneRowBounds) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian product")
    }
  }

  test("graph ops: probe-side joins broadcast; edge build is a hash join") {
    // the co-purchase self-join must be the hinted shuffled-hash join,
    // not a sort-merge (asserted on the builder — the catalog queries
    // execute it eagerly inside their localCheckpoint)
    val e = graft.ops.LinkOps.coPurchaseEdges(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(e.contains("ShuffledHashJoin"),
      s"edge self-join lost the shuffle_hash hint:\n$e")
    assert(!e.contains("SortMergeJoin"),
      s"unexpected sort-merge in the edge build:\n$e")
    // triangle closure must probe broadcast adjacency — the Σ outdeg²
    // wedge stream must never hit an exchange
    val p = plan("triangle_count")
    assert(p.contains("BroadcastHashJoin"),
      s"adjacency sides not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"unexpected sort-merge in the triangle probe:\n$p")
    // kcore's final restriction keeps its semi-joins in the plan: below
    // the size guard the alive-set sides must broadcast
    val k = plan("kcore")
    assert(k.contains("BroadcastHashJoin"),
      s"kcore alive-set semi-joins not broadcast below the guard:\n$k")
  }

  test("graph broadcasts degrade to shuffled hash joins above the size guard") {
    // pagerank's iteration joins are checkpointed out of the final plan,
    // so its regime is pinned on the factored-out step probe
    def prPlan = graft.ops.LinkOps.pagerankStepProbe(spark, sf0001)
      .queryExecution.sparkPlan.toString
    // below the guard (default): the rank probe broadcasts
    val below = prPlan
    assert(below.contains("BroadcastHashJoin"),
      s"pagerank step lost its below-guard broadcast:\n$below")
    // the 100 TB regime: |V| beyond the broadcast budget. Model it by
    // disabling Spark's auto-broadcast threshold, the guard's only bound
    // (even an empty frame must not broadcast — kcore's alive set
    // genuinely peels to 0 rows at sf0.001), which also stops Catalyst
    // re-broadcasting the tiny test frames on size estimates —
    // every |V|-row probe must keep its equi-join shape as a shuffled
    // hash join, with no broadcast hash exchange and no degeneration
    // into a cartesian product. (The 1-row bounds/totals broadcast cross
    // joins in triangle_count are exempt — they are the documented
    // oneRowBounds anchors, not |V|-row probes.)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val above = prPlan
      assert(!above.contains("BroadcastHashJoin"),
        s"pagerank step still broadcasts above the size guard:\n$above")
      assert(above.contains("ShuffledHashJoin"),
        s"pagerank fallback lost the hash-join shape:\n$above")
      for (q <- Seq("triangle_count", "kcore")) {
        val p = plan(q)
        assert(!p.contains("BroadcastHashJoin"),
          s"$q still broadcasts above the size guard:\n$p")
        assert(p.contains("ShuffledHashJoin"),
          s"$q fallback lost the hash-join shape:\n$p")
        assert(!p.contains("CartesianProduct"),
          s"$q degenerated above the size guard:\n$p")
      }
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("catalog-wide: a hinted broadcast side does not grow with the scale factor") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    // With both thresholds at -1 only hand-placed hints broadcast. Each
    // BroadcastExchange of a query's final plan is keyed by its columns
    // and read for the rows it collected, at sf0.001 and at sf0.01 (10×
    // the TPC-H tables and events; the corpus tables are the same size).
    // A side that has more rows at sf0.01 is data-sized and fails, unless
    // it is listed here with the constant bound its hint names.
    val bounded = Map(
      // offsets per 4096-key bucket of a 20-bit curve key
      ("layout_prune_stats", "b,off") -> 256L)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _: ReusedExchangeExec => Nil // counted where it first ran
      case o => (o +: o.children.flatMap(nodes)) ++ o.subqueries.flatMap(nodes)
    }
    def broadcasts(df: org.apache.spark.sql.DataFrame) =
      nodes(df.queryExecution.executedPlan).collect { case b: BroadcastExchangeExec => b }
    // (side's columns -> rows) over the final plan, once the query ran
    def sides(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      df.queryExecution.toRdd.foreach(_ => ())
      broadcasts(df).map(b => b.output.map(_.name).mkString(",") ->
        b.metrics("numOutputRows").value).groupMapReduce(_._1)(_._2)(math.max)
    }
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try {
      val sf001 = "/root/testdata/sf0.01"
      val grown = for {
        (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
        small = fn(spark, sf0001)
        if broadcasts(small).nonEmpty
        atSmall = sides(small)
        (side, rows) <- sides(fn(spark, sf001))
        before = atSmall.getOrElse(side, 0L)
        bound = bounded.get((name, side))
        if bound.fold(rows > before)(b => (rows max before) > b)
      } yield s"$name [$side]: $before -> $rows rows" +
        bound.fold("")(b => s" (bound $b)")
      assert(grown.isEmpty, grown.mkString("data-sized broadcast sides:\n", "\n", ""))
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("dpp join: the lake scan carries a dynamic-pruning partition filter") {
    val p = SparkEntry.queries("dpp_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"no runtime partition-pruning subquery injected into the scan:\n$p")
    // only the audit days' directories may be listed at execution time
    assert(p.contains("PartitionFilters"), s"scan has no partition filters:\n$p")
  }

  test("bloom join: fact side is bloom-filtered below its shuffle") {
    val p = SparkEntry.queries("bloom_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"),
      s"merge hint not honored (dim modeled as unbroadcastable):\n$p")
    // the semi-join reduction must happen BELOW the fact side's shuffle:
    // in tree-printed order that is Exchange(l_orderkey) above a
    // Filter containing the mightContainLong kernel above the lineitem
    // scan. A plan that applies the probe above the exchange (no
    // reduction of shuffled rows) breaks this ordering and must fail.
    val re = ("(?s)Exchange hashpartitioning\\(l_orderkey.*?" +
      "Filter .*?mightContainLong.*?l_orderkey.*?Scan parquet").r
    assert(re.findFirstIn(p).isDefined,
      s"mightContain filter is not between the fact scan and its exchange:\n$p")
  }

  test("bucketed join is shuffle-free: no Exchange between scans and join") {
    // at sf0.001 Catalyst rightly broadcasts the tiny dim (also
    // shuffle-free); the 100 TB case is two unbroadcastable sides — model
    // it by disabling broadcast and assert the bucketed SMJ needs no
    // exchange on either input
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // must inspect executedPlan: sparkPlan precedes EnsureRequirements,
      // which is the phase that inserts shuffle Exchanges — an assertion
      // on sparkPlan would pass even for unbucketed inputs
      val p = SparkEntry.queries("bucketed_join")(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      val joinPart = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"),
        s"bucketed join re-shuffled its inputs:\n$p")
      assert(p.contains("Bucketed: true") && p.contains("SelectedBucketsCount"),
        s"scan did not read bucket metadata:\n$p")
      // sanity that the probe can see a shuffle at all: the same join on
      // the raw (unbucketed) tables must show an Exchange below the join
      val raw = Tables(spark, sf0001, "orders")
        .join(Tables(spark, sf0001, "customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
        .queryExecution.executedPlan.toString
      val rawJoin = raw.substring(raw.indexOf("SortMergeJoin"))
      assert(rawJoin.contains("Exchange"),
        s"probe can't detect shuffles — unbucketed join shows none:\n$raw")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a fresh catalog adopts on-disk buckets without rewriting a file") {
    // the nightly-job story: the bucketed copies outlive the JVM in tmp,
    // and the next session must re-register them from disk, not rebuild.
    // Dropping the catalog entries is the in-process equivalent of a new
    // JVM's empty in-memory catalog over a warm tmp dir (a second
    // SparkContext can't coexist in one test JVM).
    val before = SparkEntry.queries("bucketed_join")(spark, sf0001).collect()
    val key = graft.ops.LayoutOps.bucketKey(spark, sf0001)
    val base = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_buckets/" +
        s"${graft.ops.ContentKey.md5(sf0001)}/$key")
    def dataFiles(sub: String): Map[String, Long] =
      new java.io.File(base, sub).listFiles()
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified()).toMap
    val filesBefore = (dataFiles("orders"), dataFiles("customer"))
    assert(filesBefore._1.nonEmpty && filesBefore._2.nonEmpty)
    spark.sql(s"DROP TABLE `graft_bkt_ord_$key`")
    spark.sql(s"DROP TABLE `graft_bkt_cust_$key`")
    val after = SparkEntry.queries("bucketed_join")(spark, sf0001).collect()
    assert(after.toSeq == before.toSeq, "adopted buckets changed the result")
    assert((dataFiles("orders"), dataFiles("customer")) == filesBefore,
      "adoption rewrote bucket files (names or mtimes changed)")
    // the adopted registration must still carry the bucket spec: the
    // shuffle-free SMJ property is what the catalog entry exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = SparkEntry.queries("bucketed_join")(spark, sf0001)
        .queryExecution.executedPlan.toString
      val joinPart = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"),
        s"adopted buckets lost the shuffle-free join:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("two sessions racing bucketedTables serialize to one coherent build") {
    // start cold: no derived dir, no catalog entries
    val key = graft.ops.LayoutOps.bucketKey(spark, sf0001)
    val base = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_buckets/" +
        s"${graft.ops.ContentKey.md5(sf0001)}/$key")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(base)
    spark.sql(s"DROP TABLE IF EXISTS `graft_bkt_ord_$key`")
    spark.sql(s"DROP TABLE IF EXISTS `graft_bkt_cust_$key`")
    val racers = Seq(spark.newSession(), spark.newSession()).map { s =>
      val t = new java.util.concurrent.FutureTask(() =>
        SparkEntry.queries("bucketed_join")(s, sf0001).collect().map(_.toString).sorted.toSeq)
      new Thread(t).start(); t
    }
    val Seq(a, b) = racers.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(a == b && a.nonEmpty, "racing sessions disagree on the join result")
    // one coherent build: manifest valid and it lists exactly the files on disk
    for (sub <- Seq("orders", "customer")) {
      val d = new java.io.File(base, sub)
      assert(graft.ops.ContentKey.manifestOk(d), s"$sub: no coherent build")
    }
  }

  test("withDirLock blocks while another PROCESS holds the lock") {
    // the cross-JVM story the in-memory monitor can't cover: a bare-JDK
    // child process (java source-file mode, no Spark) takes the same OS
    // file lock, and withDirLock must block until the child exits. A
    // crashed child releases the lock automatically — the reason this is
    // an OS lock and not an atomic-create sentinel file.
    val parent = java.nio.file.Files.createTempDirectory("graft_locktest").toFile
    val src = new java.io.File(parent, "Hold.java")
    java.nio.file.Files.write(src.toPath,
      """import java.nio.channels.FileChannel;
        |import java.nio.file.*;
        |public class Hold {
        |  public static void main(String[] a) throws Exception {
        |    FileChannel ch = FileChannel.open(Paths.get(a[0]),
        |      StandardOpenOption.CREATE, StandardOpenOption.WRITE);
        |    ch.lock();
        |    System.out.println("READY");
        |    Thread.sleep(1500);
        |    System.exit(0);
        |  }
        |}""".stripMargin.getBytes("UTF-8"))
    val lockPath = new java.io.File(parent, ".k1.lock").getAbsolutePath
    val proc = new ProcessBuilder(
        System.getProperty("java.home") + "/bin/java",
        src.getAbsolutePath, lockPath)
      .redirectErrorStream(true).start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    assert(out.readLine() == "READY", "child failed to take the lock")
    val t0 = System.nanoTime()
    graft.ops.ContentKey.withDirLock(parent, "k1") { () }
    val waitedMs = (System.nanoTime() - t0) / 1000000
    proc.waitFor()
    assert(waitedMs >= 1000,
      s"acquired after ${waitedMs}ms while the child process held the lock")
  }

  test("a catalog entry whose tmp data was deleted is dropped and rebuilt") {
    SparkEntry.queries("bucketed_join")(spark, sf0001).collect()
    val key = graft.ops.LayoutOps.bucketKey(spark, sf0001)
    val base = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_buckets/" +
        s"${graft.ops.ContentKey.md5(sf0001)}/$key")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(base) // tmp cleaner strikes; catalog entries now dangle
    assert(spark.catalog.tableExists(s"graft_bkt_ord_$key"))
    val rows = SparkEntry.queries("bucketed_join")(spark, sf0001).collect()
    assert(rows.nonEmpty, "rebuild after tmp loss returned nothing")
    assert(new java.io.File(base, "orders/_SUCCESS").exists(),
      "bucketed data not rebuilt on disk")
  }

  test("partially-deleted bucket dir (marker intact) is rebuilt, not adopted") {
    val expected = SparkEntry.queries("bucketed_join")(spark, sf0001).collect()
      .map(_.toString).sorted
    val key = graft.ops.LayoutOps.bucketKey(spark, sf0001)
    val ordDir = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_buckets/" +
        s"${graft.ops.ContentKey.md5(sf0001)}/$key/orders")
    // a tmp cleaner removes one bucket file but leaves _SUCCESS — without
    // a manifest check this dir would be adopted and silently drop rows
    val part = ordDir.listFiles().filter(_.getName.startsWith("part-")).head
    assert(part.delete())
    spark.sql(s"DROP TABLE IF EXISTS `graft_bkt_ord_$key`")
    spark.sql(s"DROP TABLE IF EXISTS `graft_bkt_cust_$key`")
    val rows = SparkEntry.queries("bucketed_join")(spark, sf0001).collect()
      .map(_.toString).sorted
    assert(rows.toSeq == expected.toSeq,
      "join over a partially-deleted bucket dir lost rows instead of rebuilding")
  }

  test("a derived dir missing a manifest-listed file is rebuilt; an intact one is adopted") {
    // the builder behind the geo and day lakes: a dir that passes the
    // manifest check is served as it is on disk, one that lost a part file
    // (a tmp cleaner that left _SUCCESS) is written again
    val src = java.nio.file.Files.createTempDirectory("graft-derived-src").toString
    spark.range(0, 100, 1, 2).write.parquet(s"$src/events.parquet")
    val writes = new java.util.concurrent.atomic.AtomicInteger
    def build(): String = graft.ops.ContentKey.derivedDir(spark, "derivedspec", src,
        Seq(s"$src/events.parquet")) { root =>
      writes.incrementAndGet()
      spark.read.parquet(s"$src/events.parquet").write.mode("overwrite").parquet(root)
    }
    def parts(root: String): Map[String, Long] =
      new java.io.File(root).listFiles().filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified()).toMap
    val root = build()
    val before = parts(root)
    assert(writes.get == 1 && before.size == 2)
    assert(build() == root)
    assert(writes.get == 1 && parts(root) == before, "an intact dir was rewritten")
    assert(new java.io.File(root, before.keys.min).delete())
    assert(build() == root)
    assert(writes.get == 2, "a dir missing a part file was adopted")
    assert(spark.read.parquet(root).count() == 100)
  }

  test("naive st_dwithin join is rewritten to a geohash equi-join by the rule") {
    val p = plan("spatial_join_auto")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"SpatialDWithinRewrite did not fire:\n$p")
    assert(p.contains("graft_cell"), s"no geohash bucketing in plan:\n$p")
    assert(p.contains("Generate") || p.contains("explode"),
      s"no neighborhood explode in plan:\n$p")
  }

  test("brute-force baselines are (intentionally) nested-loop joins") {
    // simsearch_topk's catalog entry serves the shared ANN-leg cache (a
    // checkpoint scan), so its brute shape is pinned on the builder —
    // the same builder-probe move as the co-purchase edge test
    val probes = Seq(
      "simsearch_topk" ->
        graft.ops.SimilarityOps.bruteTopK(spark, sf0001),
      "dedup_embedding_exact" ->
        SparkEntry.queries("dedup_embedding_exact")(spark, sf0001))
    for ((q, df) <- probes) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
        s"$q no longer brute-force — update SCALE.md if intentional")
    }
  }

  test("whole-stage codegen is active on the hot paths") {
    val p = plan("agg_stats")
    assert(p.contains("HashAggregate"), "no hash aggregation")
    // custom StaticInvoke kernels must not force the plan out of codegen
    val g = plan("geo_enrich")
    assert(!g.contains("CodegenFallback"), "geo kernels fell back")
    // the bloom probe is a StaticInvoke kernel, not a boxed Scala UDF:
    // the fact-side filter must stay inside whole-stage codegen
    val b = plan("bloom_join")
    assert(!b.contains("CodegenFallback"), "bloom probe fell back")
    assert(!b.contains("UDF"), "bloom probe regressed to a Scala UDF")
  }

  test("full-fact windows shuffle on the chunked (type, day) composite key") {
    // events_headway / window_range must NOT cap parallelism at
    // |event_type|: their fact-sized window exchange has to carry the
    // day-bucket chunk key so task count scales with data volume. The
    // tiny level-2 per-type window (chunk summaries / spine rows) may
    // still partition on event_type alone.
    for (q <- Seq("events_headway", "window_range")) {
      val p = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert("hashpartitioning\\(event_type#\\d+, day#\\d+".r
               .findFirstIn(p).isDefined,
        s"$q window exchange lost the (event_type, day) chunk key:\n$p")
    }
  }

  test("window dedup shuffles once on the key plus the presentation sort") {
    // exchanges are inserted by EnsureRequirements → inspect executedPlan
    val p = SparkEntry.queries("window_dedup")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val hash = "hashpartitioning".r.findAllIn(p).size
    val range = "rangepartitioning".r.findAllIn(p).size
    assert(hash == 1, s"expected exactly one hash exchange, got $hash:\n$p")
    assert(range == 1, s"expected exactly one range (orderBy) exchange, got $range")
    // rank(1) pushes through WindowGroupLimit: partial top-1 before the shuffle
    assert(p.contains("WindowGroupLimit"), "missing partial window group limit")
  }

  test("salted window dedup fans hot keys over a (key, salt) exchange first") {
    val p = SparkEntry.queries("window_dedup_salted")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(l_orderkey#\\d+L, salt#\\d+".r
             .findFirstIn(p).isDefined,
      s"salted window lost its (l_orderkey, salt) level-1 exchange:\n$p")
    // and the level-2 top-1 still exists on the key alone
    assert("hashpartitioning\\(l_orderkey#\\d+L, 8\\)".r.findFirstIn(p).isDefined
             || "hashpartitioning\\(l_orderkey#\\d+L\\)".r.findFirstIn(p).isDefined,
      s"salted window missing the level-2 per-key exchange:\n$p")
  }
}
