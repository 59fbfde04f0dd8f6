package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Dedup operators against a planted-duplicate fixture: synthetic documents
  * with exact copies and near-duplicates, written as a testdata-shaped dir
  * so the production queries run on it unchanged. */
class DedupSpec extends SparkSpec {

  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft-dedup").toString
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (0L, base, "en", "src0"),
      (1L, base, "en", "src0"), // exact dup of 0
      (2L, base.replace("upsilon", "omega"), "en", "src1"), // near-dup of 0
      (3L, "completely different text with other words entirely here now " +
        "and nothing shared with the first group at all", "en", "src1"),
      (4L, "short", "en", "src2"),
      (5L, base + " extra tail tokens appended here", "en", "src2")) // near-dup
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_exact groups the exact copies") {
    val r = SparkEntry.queries("dedup_exact")(spark, fixtureDir).collect()
    val dupGroup = r.filter(_.getAs[Long]("n_copies") == 2)
    assert(dupGroup.length == 1)
    assert(dupGroup.head.getAs[Long]("keep_id") == 0L)
    assert(r.map(_.getAs[Long]("n_copies")).sum == 6)
  }

  test("dedup_substring marks maximal repeated runs, not unique text") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val r = SparkEntry.queries("dedup_substring")(spark, fixtureDir)
      .collect().map(x => (x.getAs[Long]("doc_id"),
        x.getAs[Int]("span_start"), x.getAs[Int]("span_end"),
        x.getAs[Int]("span_len")))
    // unique doc 3 and sub-window doc 4 must be untouched
    assert(!r.exists(s => s._1 == 3L || s._1 == 4L),
      s"unique/short docs gained spans: ${r.mkString(",")}")
    // exact dup pair: one maximal span covering the whole document
    assert(r.filter(_._1 == 0L).toSeq == Seq((0L, 0, base.length, base.length)))
    assert(r.filter(_._1 == 1L).toSeq == Seq((1L, 0, base.length, base.length)))
    // shared-prefix doc 5 (base + unique tail): span stops exactly where
    // the last fully-shared window ends — the appended tail survives
    assert(r.filter(_._1 == 5L).toSeq == Seq((5L, 0, base.length, base.length)))
    // near-dup doc 2 (one word substituted near the end): prefix marked,
    // the substituted region survives
    val d2 = r.filter(_._1 == 2L).toSeq
    assert(d2.nonEmpty && d2.head._2 == 0 && d2.forall(_._3 < base.length),
      s"doc 2 spans wrong: $d2")
    assert(r.forall(_._4 >= 40), "span shorter than the window length")
  }

  test("dedup_substring_rewrite cuts exactly the marked spans and no more") {
    val spans = SparkEntry.queries("dedup_substring")(spark, fixtureDir)
      .collect().map(x => (x.getAs[Long]("doc_id"),
        x.getAs[Int]("span_start"), x.getAs[Int]("span_end"))).toSeq
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("text"))
      .toMap
    val r = SparkEntry.queries("dedup_substring_rewrite")(spark, fixtureDir)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[String]("clean_text"), x.getAs[Long]("n_cut"),
          x.getAs[Int]("clean_len"))).toMap
    // every document appears exactly once
    assert(r.keySet == docs.keySet)
    docs.foreach { case (id, text) =>
      val cuts = spans.filter(_._1 == id).map(s => (s._2, s._3)).sorted
      // independent reference rewrite: drop every cut char position
      val expect = text.zipWithIndex.collect {
        case (c, i) if !cuts.exists(s => i >= s._1 && i < s._2) => c
      }.mkString
      val (clean, nCut, cleanLen) = r(id)
      assert(clean == expect, s"doc $id rewrite mismatch")
      assert(nCut == cuts.map(s => s._2 - s._1).sum.toLong)
      assert(cleanLen == expect.length)
    }
    // the fully-duplicated docs must collapse to empty
    assert(r(0L)._1 == "" && r(1L)._1 == "")
    // untouched docs pass through verbatim
    assert(r(3L)._1 == docs(3L) && r(4L)._1 == docs(4L))
  }

  test("source_overlap: identical sources score 1, disjoint sources 0") {
    val dir = Files.createTempDirectory("graft-overlap").toString
    import spark.implicits._
    val tA = Seq("alpha beta gamma delta epsilon zeta",
      "eta theta iota kappa lambda mu", "nu xi omicron pi rho sigma")
    val tC = Seq("one two three four five six",
      "seven eight nine ten eleven twelve")
    val docs =
      tA.zipWithIndex.map { case (t, i) => (i.toLong, t, "srcA") } ++
      tA.zipWithIndex.map { case (t, i) => (100L + i, t, "srcB") } ++ // copy
      tC.zipWithIndex.map { case (t, i) => (200L + i, t, "srcC") }
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("source_overlap")(spark, dir).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getAs[Double]("est_jaccard"))
      .toMap
    assert(r(("srcA", "srcB")) == 1.0, s"identical sources: $r")
    assert(r(("srcA", "srcC")) == 0.0 && r(("srcB", "srcC")) == 0.0,
      s"disjoint sources: $r")
  }

  test("persisted oracle frames rebuild when the source regenerates") {
    // the write-once persistForOracle cache must key on CONTENT: after the
    // dataset is rewritten in place, a rerun has to re-derive the
    // signature frame, not serve the previous corpus's rows
    val dir = Files.createTempDirectory("graft-rebuild").toString
    import spark.implicits._
    def write(texts: Seq[(Long, String)]): Unit =
      texts.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    write(Seq((0L, a), (1L, a))) // identical pair -> hamming-0 simhash pair
    val r1 = SparkEntry.queries("dedup_simhash")(spark, dir).collect()
    assert(r1.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((0L, 1L)))
    // regenerate: doc 1 becomes unrelated -> the pair must disappear,
    // which can only happen if the persisted (doc_id, sh) frame rebuilt
    write(Seq((0L, a), (1L, "totally different words nothing shared here")))
    val r2 = SparkEntry.queries("dedup_simhash")(spark, dir).collect()
    assert(r2.isEmpty, s"stale persisted frame served: ${r2.mkString(",")}")
  }

  test("concurrent same-key persistForOracle calls serialize to one write") {
    // Bench's parallel warmup runs catalog queries from an 8-thread pool;
    // two queries sharing a persisted frame (hard_negatives / knn_graph
    // both building hn_idx) used to race mode("overwrite") jobs onto one
    // path, each deleting the other's _temporary staging dir mid-commit.
    // The per-key monitor must serialize same-key callers: every thread
    // reads the full frame back, with no commit-protocol failures.
    val dir = Files.createTempDirectory("graft-persistrace").toString
    import spark.implicits._
    (0L until 50L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val ref = new java.util.concurrent.atomic.AtomicReference[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = graft.ops.ContentKey.persistForOracle(
            spark, dir, "race_frame", ref,
            spark.read.parquet(s"$dir/documents.parquet")).count()
        })
      }
      tasks.foreach(t =>
        assert(t.get(120, java.util.concurrent.TimeUnit.SECONDS) == 50L))
    } finally pool.shutdownNow()
  }

  test("dedup_ngram_jaccard finds the near-duplicates with high scores") {
    val r = SparkEntry.queries("dedup_ngram_jaccard")(spark, fixtureDir)
      .collect().map(x => (x.getAs[Long]("a_id"), x.getAs[Long]("b_id"),
        x.getAs[Double]("jaccard"))).toSeq
    val pairs = r.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((0L, 1L))) // exact dup: jaccard 1.0
    assert(r.find(p => p._1 == 0L && p._2 == 1L).get._3 == 1.0)
    assert(pairs.contains((0L, 2L))) // near dup
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L)) // unrelated doc
  }

  test("ngram-Jaccard df-cap bounds a hot shingle's candidate fan-out") {
    // 1000 docs share one boilerplate shingle; uncapped, the self-join
    // would emit ~1000²/2 candidate rows from it. With the df-cap the hot
    // shingle is dropped before the join and genuine near-dup pairs (which
    // share only low-df shingles) still surface.
    val dir = Files.createTempDirectory("graft-hotshingle").toString
    import spark.implicits._
    val hot = (0 until 1000).map(i =>
      (i.toLong, s"hot boiler plate unique$i token$i word$i", "en", "src"))
    val nearDup = Seq(
      (2000L, "genuine pair alpha beta gamma delta epsilon zeta", "en", "src"),
      (2001L, "genuine pair alpha beta gamma delta epsilon omega", "en", "src"))
    (hot ++ nearDup).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
      .collect().map(x => (x.getAs[Long]("a_id"), x.getAs[Long]("b_id")))
    assert(r.toSet == Set((2000L, 2001L)),
      s"expected only the genuine pair, got ${r.length} pairs")
  }

  test("dedup_minhash_lsh surfaces exact and near duplicates") {
    val r = SparkEntry.queries("dedup_minhash_lsh")(spark, fixtureDir)
      .collect().map(x => (x.getAs[Long]("a_id"), x.getAs[Long]("b_id"),
        x.getAs[Double]("est_sim"))).toSeq
    val exact = r.find(p => p._1 == 0L && p._2 == 1L)
    assert(exact.isDefined && exact.get._3 == 1.0)
    assert(r.exists(p => p._1 == 0L && p._2 == 2L && p._3 >= 0.5))
  }

  test("dedup_resolve assigns one keep_id per connected dup cluster") {
    val r = SparkEntry.queries("dedup_resolve")(spark, fixtureDir)
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("keep_id"))
      .toMap
    // {0 exact 1, 0 near 2, 0 near 5} is one component kept at 0;
    // 3 and 4 are singletons
    assert(r == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L, 5L -> 0L))
  }

  test("dedup_keep_best keeps the argmax-quality member of each resolve cluster") {
    val clusters = SparkEntry.queries("dedup_resolve")(spark, fixtureDir)
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("keep_id"))
      .toMap
    val quality = Tables(spark, fixtureDir, "documents")
      .select(col("doc_id"),
        size(array_distinct(filter(split(col("text"), " "),
          x => x =!= lit("")))).as("u"), col("n_chars"))
      .collect().map(x => x.getLong(0) -> ((x.getInt(1), x.getLong(2)))).toMap
    val r = SparkEntry.queries("dedup_keep_best")(spark, fixtureDir)
      .collect().map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("cluster"),
        x.getAs[Long]("keep_id"), x.getAs[Int]("is_keeper")))
    // same components as dedup_resolve (cluster id = component min)
    assert(r.map(x => x._1 -> x._2).toMap == clusters)
    // exactly one keeper per cluster, and it is the (uniq, n_chars, -id)
    // argmax of its members — not necessarily the min id
    for ((cl, members) <- r.groupBy(_._2)) {
      val keepers = members.filter(_._4 == 1)
      assert(keepers.length == 1, s"cluster $cl keepers: $keepers")
      val best = members.map(_._1).minBy(d =>
        (-quality(d)._1, -quality(d)._2, d))
      assert(members.forall(_._3 == best),
        s"cluster $cl keep_id ${members.head._3} != argmax $best")
    }
  }

  test("dedup_resolve on an all-unique corpus keeps every doc (no pairs edge case)") {
    val dir = Files.createTempDirectory("graft-unique").toString
    import spark.implicits._
    (0 until 20).map(i =>
      (i.toLong, s"totally distinct$i content$i nothing$i shared$i here$i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("dedup_resolve")(spark, dir)
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("keep_id"))
    assert(r.length == 20 && r.forall { case (d, k) => d == k })
  }

  test("pointer jumping converges a 1000-doc chain in O(log n) rounds") {
    // the pathological shape for plain min-label propagation: one chain
    // A-B-C-… of diameter 1000 needs 1000 edge-propagation rounds; with
    // label(label(d)) folded into each round the distance squares per
    // iteration, so ceil(log2(1000)) + fixpoint-detection ≈ 11 suffice
    import spark.implicits._
    val chain = (0L until 999L).map(i => (i, i + 1))
    val edges = (chain ++ chain.map(_.swap)).toDF("u", "v")
    val (labels, rounds) = graft.ops.DedupOps.propagateMin(edges)
    assert(rounds <= 12, s"chain took $rounds rounds — pointer jumping broken")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 1000 && got.forall(_._2 == 0L),
      "chain did not collapse to the component minimum")
  }

  test("dedup_simhash pairs the near-duplicates, not the unrelated doc") {
    val r = SparkEntry.queries("dedup_simhash")(spark, fixtureDir)
      .collect().map(x => (x.getAs[Long]("a_id"), x.getAs[Long]("b_id"),
        x.getAs[Int]("hamming"))).toSeq
    val exact = r.find(p => p._1 == 0L && p._2 == 1L)
    assert(exact.isDefined && exact.get._3 == 0)
  }

  test("decontaminate flags only non-eval docs and broadcasts the eval set") {
    val df = SparkEntry.queries("decontaminate")(spark, sf0001)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty, "generator corpus should contain 4-gram collisions")
    rows.foreach { case (id, n) =>
      assert(id % 53 != 0, s"eval doc $id flagged as contaminated training doc")
      assert(n >= 1)
    }
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingle set must broadcast — the corpus side never shuffles:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("corpus_pipeline output reconciles with its component operators") {
    val docs = Tables(spark, sf0001, "documents")
    val total = docs.count()
    val nKept = SparkEntry.queries("dedup_exact")(spark, sf0001).count()
    val nContam = SparkEntry.queries("decontaminate")(spark, sf0001).count()
    val nEvalKept = SparkEntry.queries("dedup_exact")(spark, sf0001)
      .filter(col("keep_id") % 53 === 0).count()
    val rows = SparkEntry.queries("corpus_pipeline")(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    val out = rows.map(_.getLong(2)).sum
    // the pipeline keeps: canonical copies − eval canonicals − contaminated
    // canonicals. Contaminated docs are all canonical in this corpus, so
    // the identity is exact; assert both the identity and the bound.
    assert(out <= nKept - nEvalKept, "pipeline kept more than dedup allows")
    assert(out >= nKept - nEvalKept - nContam,
      s"pipeline dropped more than eval+contaminated can explain ($out of $total)")
  }

  test("incremental dedup agrees with a from-scratch dedup of the same corpus") {
    // the correctness claim of the incremental path: deduping the delta
    // against the persisted base index finds EXACTLY the duplicates a
    // full-corpus LSH pass would report for those docs (same banding,
    // same threshold), with the smallest matching id as keeper
    val full = SparkEntry.queries("dedup_minhash_lsh")(spark, sf0001)
      .collect()
      .map(x => (x.getAs[Long]("a_id"), x.getAs[Long]("b_id"),
        x.getAs[Double]("est_sim")))
      .filter(_._3 >= 0.5) // incremental's dup threshold
    val expected = full
      .filter { case (_, b, _) => b % 10 >= 8 } // delta docs (larger id side)
      .groupBy(_._2)
      .map { case (d, ps) => d -> ps.map(_._1).min }
    val incr = SparkEntry.queries("dedup_incremental")(spark, sf0001)
      .collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("dup_of")).toMap
    assert(incr == expected,
      s"incremental $incr differs from from-scratch-restricted $expected")
  }

  test("dedup_paragraph drops a repeated block but keeps the host documents") {
    import spark.implicits._
    import graft.ops.DedupOps.ParaW
    val w = ParaW.toInt
    // doc0 = X ++ Y, doc1 = X ++ Z (X is a shared 32-token block: the
    // boilerplate paragraph); doc2 is all-fresh. Paragraph dedup must
    // drop doc1's copy of X (first occurrence is doc0's), keep Y and Z
    // intact, and leave doc2 untouched — sub-document granularity that
    // doc-level dedup cannot express (doc0 != doc1 as whole texts).
    val X = (0 until w).map(i => s"x$i").mkString(" ")
    val Y = (0 until w).map(i => s"y$i").mkString(" ")
    val Z = (0 until w).map(i => s"z$i").mkString(" ")
    val dir = Files.createTempDirectory("graft-para").toString
    Seq((0L, s"$X $Y", "en", "s0"), (1L, s"$X $Z", "en", "s1"),
        (2L, (0 until w).map(i => s"w$i").mkString(" "), "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("dedup_paragraph")(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_blocks"), x.getAs[Long]("n_kept"),
          x.getAs[String]("kept_fp")))).toMap
    assert(r(0L) == ((2L, 2L, md5Hex(s"$X $Y"))))
    assert(r(1L) == ((2L, 1L, md5Hex(Z)))) // X dropped, Z survives
    assert(r(2L)._1 == 1L && r(2L)._2 == 1L)
  }

  test("dedup_paragraph: a fully-duplicated doc reduces to the empty fingerprint") {
    import spark.implicits._
    import graft.ops.DedupOps.ParaW
    val w = ParaW.toInt
    val X = (0 until w).map(i => s"x$i").mkString(" ")
    val dir = Files.createTempDirectory("graft-para2").toString
    Seq((0L, X, "en", "s0"), (1L, X, "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("dedup_paragraph")(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_kept"), x.getAs[String]("kept_fp")))).toMap
    assert(r(0L) == ((1L, md5Hex(X))))
    assert(r(1L) == ((0L, md5Hex("")))) // survives as a row, fp of ""
  }

  test("boilerplate_strip drops EVERY occurrence of a repeated block") {
    import spark.implicits._
    import graft.ops.DedupOps.ParaW
    val w = ParaW.toInt
    // Same geometry as the dedup_paragraph fixture, but the keep rule
    // differs: the shared block X must vanish from doc0 AND doc1 (the
    // RefinedWeb drop-all rule), where dedup_paragraph kept doc0's copy.
    val X = (0 until w).map(i => s"x$i").mkString(" ")
    val Y = (0 until w).map(i => s"y$i").mkString(" ")
    val Z = (0 until w).map(i => s"z$i").mkString(" ")
    val dir = Files.createTempDirectory("graft-boiler").toString
    Seq((0L, s"$X $Y", "en", "s0"), (1L, s"$X $Z", "en", "s1"),
        (2L, (0 until w).map(i => s"w$i").mkString(" "), "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("boilerplate_strip")(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_blocks"), x.getAs[Long]("n_boiler"),
          x.getAs[String]("kept_fp")))).toMap
    assert(r(0L) == ((2L, 1L, md5Hex(Y)))) // X gone here too
    assert(r(1L) == ((2L, 1L, md5Hex(Z))))
    assert(r(2L) == ((1L, 0L, md5Hex((0 until w).map(i => s"w$i")
      .mkString(" ")))))
  }

  test("boilerplate_strip: intra-doc repetition alone is NOT boilerplate") {
    import spark.implicits._
    import graft.ops.DedupOps.ParaW
    val w = ParaW.toInt
    // Block df counts DISTINCT documents: a block repeated twice INSIDE
    // one doc (refrain, chorus) must survive — only cross-document
    // repetition is chrome. doc1 shares nothing.
    val X = (0 until w).map(i => s"x$i").mkString(" ")
    val F = (0 until w).map(i => s"f$i").mkString(" ")
    val dir = Files.createTempDirectory("graft-boiler2").toString
    Seq((0L, s"$X $X", "en", "s0"), (1L, F, "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("boilerplate_strip")(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_boiler"), x.getAs[String]("kept_fp")))).toMap
    assert(r(0L) == ((0L, md5Hex(s"$X $X"))))
    assert(r(1L) == ((0L, md5Hex(F))))
  }

  test("dedup_census matrix matches the flagged sets rebuilt from its own legs") {
    import org.apache.spark.sql.functions._
    def pairMembers(name: String, thresh: Option[(String, Double)] = None): Set[Long] = {
      val df0 = SparkEntry.queries(name)(spark, sf0001)
      val df = thresh.map { case (c, v) => df0.filter(col(c) >= v) }.getOrElse(df0)
      df.select("a_id", "b_id").collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    }
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dupH = docs.groupBy(_._2).filter(_._2.length >= 2).keySet
    val sets = Map(
      "embedding" -> pairMembers("dedup_embedding"),
      "exact" -> docs.filter(d => dupH(d._2)).map(_._1).toSet,
      "minhash" -> pairMembers("dedup_minhash_lsh"),
      "ngram" -> pairMembers("dedup_ngram_jaccard",
        Some(("jaccard", graft.ops.DedupOps.ResolveJaccard))),
      "simhash" -> pairMembers("dedup_simhash"))
    val got = SparkEntry.queries("dedup_census")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val nonEmpty = sets.filter(_._2.nonEmpty).keys.toSeq.sorted
    // every non-empty method pair appears with the exact set arithmetic
    for (i <- nonEmpty.indices; j <- i until nonEmpty.length) {
      val (m1, m2) = (nonEmpty(i), nonEmpty(j))
      val inter = (sets(m1) & sets(m2)).size.toLong
      if (inter > 0) {
        val (n1, n2, both, jac) = got((m1, m2))
        assert((n1, n2, both) ==
          ((sets(m1).size.toLong, sets(m2).size.toLong, inter)),
          s"($m1,$m2): got ($n1,$n2,$both)")
        assert(jac == math.floor(inter.toDouble * 1e6 / (n1 + n2 - inter)).toLong)
      } else assert(!got.contains((m1, m2)), s"spurious row ($m1,$m2)")
    }
    // diagonals are the totals
    nonEmpty.foreach { m =>
      val (n1, n2, both, jac) = got((m, m))
      assert(n1 == n2 && both == n1 && jac == 1000000L, s"diagonal $m broken")
    }
  }

  test("freeLocalCheckpoint releases RDD-layer blocks Dataset.unpersist cannot") {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.functions.col
    // the propagateMin/kcore loops and the DataFrame-valued Lru hooks
    // rely on this: Dataset.unpersist only drops CacheManager entries,
    // while a localCheckpoint pins its partitions at the RDD layer
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val df = spark.range(1000).toDF("x").localCheckpoint()
    val mine = spark.sparkContext.getPersistentRDDs.keySet -- pre
    assert(mine.nonEmpty, "localCheckpoint pinned no RDD")
    df.unpersist()
    assert((spark.sparkContext.getPersistentRDDs.keySet & mine) == mine,
      "Dataset.unpersist unexpectedly freed checkpoint blocks — " +
        "the bridge helper may be obsolete")
    // free through a PROJECTION over the checkpoint — the shape the Lru
    // caches actually hold (collect-based leaf walk, not a root match)
    GraftSqlBridge.freeLocalCheckpoint(df.select((col("x") * 2).as("y")))
    assert((spark.sparkContext.getPersistentRDDs.keySet & mine).isEmpty,
      "freeLocalCheckpoint left checkpoint blocks pinned")
  }

  // r12: dedup_substring's hot stage derives (pos, h) via the
  // window_hashes kernel; this pins the kernel bit-equal to the
  // explode + substr + xxhash64 formulation it replaced, per position,
  // including multibyte (2/3/4-byte UTF-8) text and the len < runL /
  // len == runL boundaries.
  test("window_hashes is bit-equal to xxhash64(substr) per position") {
    import spark.implicits._
    val runL = 7
    val strs = Seq(
      "", "short", "exactly", "abcdefgh",
      "déjà vu naïve Σigma Δδ ünïcode",
      "日本語のテキストです、" +
        "これは長い文字列",
      "mixed 𝕌𝕟𝕚 supplementary 🚀🚀 tail",
      "aaaaaaaaaaaaaaaaaaaaaaa",
      ("repeat " * 20).trim)
    val df = strs.toDF("text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("text", "pos", "h").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val old = df.select(
      explode(when(length(col("text")) >= runL,
          sequence(lit(0), length(col("text")) - runL))
        .otherwise(array().cast("array<int>"))).as("pos"), col("text"))
      .select(col("text"), col("pos"),
        xxhash64(substr(col("text"), col("pos") + 1, lit(runL))).as("h"))
    val neu = df.select(col("text"),
      posexplode(graft.expr.functions.window_hashes(col("text"), lit(runL)))
        .as(Seq("pos", "h")))
    assert(old.count() == neu.count())
    assert(rows(old) == rows(neu))
  }

  // r12: text_repetition's gram statistics ride the gramStats kernel;
  // this pins the kernel's [distinct, max multiplicity] per doc equal to
  // the original explode → groupBy(doc, gram) → count formulation for
  // unigrams AND bigrams on text with repeats, multibyte tokens, empty
  // and single-token docs.
  test("gram_stats equals the explode/groupBy gram counts per doc") {
    import spark.implicits._
    val docs = Seq(
      "", "solo", "a a", "a b a b a", "x x x x",
      "déjà vu déjà vu naïve", "日本 語 日本 語 日本",
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      ("spam ham " * 30).trim).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= lit("")).as("toks"))
    def oldStats(n: Int) = {
      val grams =
        if (n == 1) docs.select(col("doc_id"), explode(col("toks")).as("g"))
        else docs.select(col("doc_id"), explode(when(size(col("toks")) >= 2,
            expr("transform(slice(toks, 1, size(toks) - 1), " +
              "(x, i) -> concat_ws(' ', x, element_at(toks, i + 2)))"))
          .otherwise(array())).as("g"))
      grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("distinct"), max(col("c")).as("top"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    for (n <- Seq(1, 2)) {
      val old = oldStats(n)
      val neu = docs.select(col("doc_id"),
        graft.expr.functions.gram_stats(col("toks"), lit(n)).as("s"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getSeq[Long](1).head, r.getSeq[Long](1).last)).toMap
      for ((id, s) <- neu)
        assert(s == old.getOrElse(id, (0L, 0L)), s"doc $id n=$n")
    }
  }

  test("gram_stats checks a literal n after its int cast") {
    import spark.implicits._
    import graft.expr.functions.gram_stats
    intercept[IllegalArgumentException](gram_stats(col("toks"), lit(3)))
    val docs = Seq(Seq("a", "b", "a", "b", "a")).toDF("toks")
    def stats(n: org.apache.spark.sql.Column) =
      docs.select(gram_stats(col("toks"), n)).head().getSeq[Long](0)
    assert(stats(lit("2")) == stats(lit(2)))
    assert(stats(lit(2L)) == stats(lit(2)))
    assert(stats(lit("1")) == stats(lit(1)))
  }

  // r12: text_entropy rides the entropyStats kernel; pin its
  // [n_tok, n_uniq, entropy_fp] per doc equal to the explode →
  // (doc, tok) count → doc window → re-agg formulation it replaced,
  // across a corpus wide enough to exercise many (c, n) rounding
  // combinations (deterministic LCG), plus degenerate docs.
  test("entropy_stats equals the explode/window entropy formulation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val vocab = Vector("alpha", "beta", "gamma", "déjà", "日本", "z")
    var seed = 12345L
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound) + bound).toInt % bound
    }
    val gen = (0 until 200).map { i =>
      val len = nextInt(40) + 1
      (i.toLong, (0 until len).map(_ => vocab(nextInt(vocab.size))).mkString(" "))
    }
    val docs = (gen ++ Seq((900L, "solo"), (901L, "x x x x x"), (902L, "")))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= lit("")).as("toks"))
    val w = Window.partitionBy("doc_id")
    val old = docs
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(w))
      .withColumn("lp", round(log(col("c").cast("double") /
        col("n").cast("double")) * graft.ops.CorpusOps.LmScale).cast("bigint"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_tok"), count(lit(1)).as("n_uniq"),
        expr("(-sum(c * lp)) DIV max(n)").as("entropy_fp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val neu = docs.filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.expr.functions.entropy_stats(col("toks"),
          lit(graft.ops.CorpusOps.LmScale)).as("e"))
      .collect().map { r =>
        val e = r.getSeq[Long](1); r.getLong(0) -> (e(0), e(1), e(2))
      }.toMap
    assert(neu == old) // the empty doc is absent from BOTH maps
  }

  // r13: text_lm_score derives its bigram count stream from the
  // gramCounts2 kernel; pin the kernel's exploded rows, re-aggregated,
  // equal to the original explode → groupBy chain — global bigram
  // counts AND per-doc bigram-occurrence totals — on raw
  // split(text, ' ') tokens (empties INCLUDED, the lmScore tokenization).
  test("gram_counts2 equals the explode bigram chain") {
    import spark.implicits._
    val docs = Seq(
      "", "solo", "a a", "a b a b a", "x  x", " lead", "trail ",
      "déjà vu déjà vu naïve", "日本 語 日本 語 日本",
      ("spam ham " * 30).trim).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    val oldBi = docs.select(col("doc_id"),
      explode(expr("transform(slice(ts, 1, size(ts) - 1)," +
        " (x, i) -> struct(x AS w1, element_at(ts, i + 2) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val oldLm = oldBi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val oldDoc = oldBi.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g = docs.select(col("doc_id"),
      explode(graft.expr.functions.gram_counts2(col("ts"))).as("g"))
      .select(col("doc_id"), col("g.w1"), col("g.w2"), col("g.cnt"))
    val neuLm = g.groupBy("w1", "w2")
      .agg(sum("cnt").as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val neuDoc = g.groupBy("doc_id")
      .agg(sum("cnt").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(neuLm == oldLm)
    assert(neuDoc == oldDoc)
  }

  // r13: importance_weights buckets features via the md5BucketCounts
  // kernel (first md5 byte as int); pin per-doc bucket counts equal to
  // the substring(md5(concat_ws gram), 1, 2) hex formulation under the
  // hex-pair ↔ byte bijection, on filtered tokens with multibyte text
  // and the size < 2 guard.
  test("md5_bucket_counts equals the md5-hex-substring bucket counts") {
    import spark.implicits._
    val docs = Seq(
      "", "solo", "a b", "a b c d e f g h", "déjà vu naïve Σigma",
      "日本 語 テキスト です", ("the same bigram " * 25).trim)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= lit("")).as("toks"))
    val old = docs.select(col("doc_id"),
      explode(when(size(col("toks")) >= 2,
        expr("transform(slice(toks, 1, size(toks) - 1)," +
          " (x, i) -> concat_ws(' ', x, element_at(toks, i + 2)))"))
        .otherwise(array().cast("array<string>"))).as("g"))
      .select(col("doc_id"), substring(md5(col("g")), 1, 2).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getLong(0), Integer.parseInt(r.getString(1), 16)) -> r.getLong(2))
      .toMap
    val neu = docs.select(col("doc_id"),
      explode(graft.expr.functions.md5_bucket_counts(col("toks"))).as("g"))
      .select(col("doc_id"), col("g.b"), col("g.cnt"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(neu == old)
  }

  // r13: the winnowing family derives prints and occurrences from the
  // winnowSel kernel; pin both frames bit-equal to the relational chain
  // they replaced (posexplode k-grams → fingerprint → doc windows →
  // valid-start filter → distinct / grams×starts occurrence join),
  // including short docs (0..k+w tokens), hash ties from repeated text,
  // and multibyte tokens.
  test("winnow_sel equals the relational winnowing selection") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val K = graft.ops.TextOps.WinnowK
    val W = graft.ops.TextOps.WinnowW
    val base = Seq(
      "", "a", "a b", "a b c", "a b c d", "a b c d e", "a b c d e f g",
      "a b c a b c a b c a b c", ("tie tie tie " * 10).trim,
      "déjà vu naïve Σigma Δδ ünïcode text goes here",
      "日本 語 の テキスト です これ は 長い 文字 列",
      "the quick brown fox jumps over the lazy dog again and again")
    var seed = 777L
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound) + bound).toInt % bound
    }
    val vocab = Vector("w0", "w1", "w2", "w3", "w4", "w5", "w6", "w7")
    val gen = (0 until 100).map { _ =>
      val len = nextInt(30)
      (0 until len).map(_ => vocab(nextInt(vocab.size))).mkString(" ")
    }
    val docs = (base ++ gen).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val grams = docs
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= lit("")).as("toks"))
      .select(col("doc_id"), posexplode(when(size(col("toks")) >= K,
        expr(s"transform(slice(toks, 1, size(toks) - ${K - 1})," +
          " (x, i) -> concat_ws(' ', x, element_at(toks, i + 2)," +
          " element_at(toks, i + 3)))"))
        .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), col("pos"),
        graft.expr.functions.fingerprint(col("col")).as("h"))
    val wmin = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, W - 1)
    val wcnt = Window.partitionBy("doc_id")
    val starts = grams
      .withColumn("m", count(lit(1)).over(wcnt))
      .withColumn("wm", min(col("h")).over(wmin))
      .filter(col("pos") <= greatest(lit(0), col("m") - W))
    val oldPrints = starts
      .select(col("doc_id"), col("m"), col("wm")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val s2 = starts.select(col("doc_id").as("s_doc"),
      col("pos").as("spos"), col("wm"))
    val oldOcc = grams.join(s2,
        grams("doc_id") === s2("s_doc") && grams("h") === s2("wm") &&
          grams("pos").between(s2("spos"), s2("spos") + W - 1))
      .select(grams("doc_id"), grams("pos"), grams("h")).distinct()
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ws = docs.select(col("doc_id"),
      graft.expr.functions.winnow_sel(col("text"), lit(K), lit(W)).as("ws"))
    val neuPrints = ws
      .select(col("doc_id"), col("ws.n_grams").as("m"),
        explode(col("ws.prints")).as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val neuOcc = ws
      .select(col("doc_id"), explode(col("ws.occ")).as("o"))
      .select(col("doc_id"), col("o.pos"), col("o.print"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(neuPrints == oldPrints)
    assert(neuOcc == oldOcc)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}
