package graft.ops

import graft.Tables
import graft.expr.{functions => gf}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity search over the embedding column: brute-force cosine top-k
  * (the exactness baseline, oracle-checked) and LSH / IVF / IVF-PQ
  * bucketed variants (the 100 TB paths: bucket equi-joins instead of a
  * cross product; recall measured against brute force in ScalaTest).
  *
  * Oracle discipline for the approximate family: the quantizer/bucketing
  * KERNELS (k-means cells, hyperplane buckets, PQ codes) are not
  * DuckDB-expressible, but everything after them is relational. Each
  * production query therefore persists its kernel outputs — cell/bucket
  * assignments, codes, codebooks, the OPQ rotation — to content-keyed tmp
  * tables, reads them back (so the plan provably consumes the rows the
  * oracle sees), and the DuckDB mirror replays the entire candidate-join +
  * ADC + rank pipeline in SQL over those tables. Every float in the
  * mirror follows the [[DedupOps.vdotSql]] ordered-fold discipline, so the
  * comparison is exact-hash, not rows-only. This doubles as the honest
  * 100 TB index shape: the persisted index carries ids + codes only, never
  * raw vectors; candidate ids re-join the vector table by key.
  */
object SimilarityOps {
  import DedupOps.{normed, normedSql, vdot, vdotSql}

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  private val TopK = 5
  private[ops] val NQueries = 8 // query set: vec_id < 8

  /** Persisted-frame registry for the oracle mirrors: sub-table name →
    * parquet path recorded when the owning query last ran ([[oracle]] is a
    * `def`; Verify dumps oracle SQL after the queries, so the embedded
    * paths always describe the compared run). */
  private val oraclePaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def persistO(s: SparkSession, dir: String, sub: String,
      df: DataFrame): DataFrame = {
    val ref = new java.util.concurrent.atomic.AtomicReference[String]()
    val out = ContentKey.persistForOracle(s, dir, sub, ref, df)
    oraclePaths.put(sub, ref.get)
    out
  }

  private def pth(sub: String): String =
    Option(oraclePaths.get(sub)).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_oracle/unset/$sub")

  /** A content-cache HIT skips the compute path's [[persistO]] calls, but
    * the oracle dump must still embed THIS run's persisted-frame paths —
    * the registry otherwise keeps describing whichever dir ran LAST, and a
    * multi-dir session (dirA → dirB → dirA-hit) would dump dirA's mirrors
    * pointing at dirB's frames. Re-point at the deterministic per-dir
    * locations; idempotent, so callers run it on hit and miss alike. */
  private def reRegisterO(dir: String, subs: String*): Unit =
    subs.foreach(sub => oraclePaths.put(sub, ContentKey.oraclePath(dir, sub)))

  /** Exact cosine over a distinct (q_id, c_id) candidate frame — the
    * shared tail of both ANN query types (top-k rank and radius range):
    * candidate generation carries ids only; raw vectors stream through
    * exactly one hash join each, and the tiny query side broadcasts. */
  private def simPairs(e: DataFrame, pairs: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"))
    pairs.join(broadcast(q), "q_id")
      .join(c, "c_id")
      .select(col("q_id"), col("c_id"),
        (vdot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
          .as("cos_sim"))
  }

  private def rankPairs(e: DataFrame, pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("c_id"))
    simPairs(e, pairs)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy("q_id", "rank")
  }

  /** SQL twin of [[simPairs]] up through the `sims` CTE: caller supplies
    * the WITH-clause CTEs producing a distinct `cand(q_id, c_id)`
    * relation; the tail computes the bit-exact ordered-fold cosine. */
  private def simPairsCtes(candCtes: String): String =
    s"""n AS MATERIALIZED ($normedSql),
       |$candCtes,
       |sims AS (
       |  SELECT cand.q_id, cand.c_id,
       |    ${vdotSql("qe.embedding", "ce.embedding")} / (qe.norm * ce.norm)
       |      AS cos_sim
       |  FROM cand
       |  JOIN n qe ON qe.vec_id = cand.q_id
       |  JOIN n ce ON ce.vec_id = cand.c_id)""".stripMargin

  private def rankPairsSql(candCtes: String): String =
    s"""WITH ${simPairsCtes(candCtes)},
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, c_id) AS rank
       |  FROM sims)
       |SELECT q_id, c_id, cos_sim, CAST(rank AS INT) AS rank FROM ranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  // Brute-force cosine top-k: queries × all candidates, ranked per query.
  // private[graft]: PlanSpec pins the intentional nested-loop shape on
  // this builder — the catalog entry serves the shared-leg cache.
  private[graft] def bruteTopK(s: SparkSession, dir: String): DataFrame = {
    ExactAnchorGuard.check(s, dir, "embeddings",
      "simsearch_topk", "simsearch_lsh/simsearch_ivf")
    val e = normed(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("c_id"))
    q.crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (vdot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy("q_id", "rank")
  }

  private val bruteTopKSql =
    s"""WITH n AS ($normedSql),
       |sims AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    ${vdotSql("q.embedding", "c.embedding")} / (q.norm * c.norm)
       |      AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < $NQueries
       |    AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, c_id) AS rank
       |  FROM sims)
       |SELECT q_id, c_id, cos_sim, CAST(rank AS INT) AS rank FROM ranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  // LSH-bucketed ANN: multi-table random-hyperplane hashing. Each vector
  // gets L independent `Bits`-bit signatures (disjoint hyperplane sets);
  // candidates share a bucket in ANY table — the join is an equi-join on
  // (table, bucket), never a cross product, which is what survives 100 TB.
  // With per-bit agreement p = 1 − θ/π and Hamming-1 multi-probe on the
  // query side, per-table hit prob is p^B + B·p^(B-1)(1−p) and recall ≈
  // 1 − (1 − that)^L. Approximate vs brute force (recall asserted in
  // ScalaTest), but exactly oracled: the persisted bucket frames feed a
  // full SQL mirror of the (tab, bucket) join and cosine rank.
  private val NTables = 16
  private val Bits = 6

  /** (table, bucket) pairs: table t uses hyperplanes [t*Bits, (t+1)*Bits). */
  private def buckets(vec: Column): Column =
    posexplode(array((0 until NTables).map(t =>
      graft.expr.functions.lsh_bucket_offset(vec, lit(Bits), lit(t * Bits))): _*))

  /** Multi-probe (query side only): each table's base bucket plus its
    * `Bits` Hamming-distance-1 neighbors. A true neighbor that disagrees
    * with the query on exactly one hyperplane of a table still collides
    * there, lifting per-table hit probability from p^B to
    * p^B + B·p^(B-1)(1-p) — the standard multi-probe LSH trick (Lv et al.,
    * VLDB'07). Cost is probe-side fan-out (×(Bits+1)) on the tiny query
    * set; the indexed/candidate side stays one bucket per table, so the
    * index size and the equi-join shape are unchanged at 100 TB. */
  private def queryProbes(vec: Column): Column =
    explode(array((0 until NTables).flatMap { t =>
      val base = graft.expr.functions.lsh_bucket_offset(
        vec, lit(Bits), lit(t * Bits))
      struct(lit(t).as("tab"), base.as("bucket")) +:
        (0 until Bits).map(i =>
          struct(lit(t).as("tab"),
            base.bitwiseXOR(lit(1 << i)).as("bucket")))
    }: _*))

  private def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
    // ids-only index (c_id, tab, bucket) — NTables entries per vector of
    // a few ints each, vs NTables embedding copies if vectors rode along
    val idx = persistO(s, dir, "lsh_idx",
      e.select(col("vec_id").as("c_id"), buckets(col("embedding")))
        .withColumnRenamed("pos", "tab")
        .withColumnRenamed("col", "bucket"))
    val pr = persistO(s, dir, "lsh_probe",
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"),
          queryProbes(col("embedding")).as("probe"))
        .select(col("q_id"), col("probe.tab").as("tab"),
          col("probe.bucket").as("bucket")))
    rankPairs(e, pr.join(idx, Seq("tab", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id").distinct()) // candidate set = union over tables
  }

  private def lshSql: String = rankPairsSql(
    s"""idx AS (SELECT * FROM read_parquet('${pth("lsh_idx")}/*.parquet')),
       |pr AS (SELECT * FROM read_parquet('${pth("lsh_probe")}/*.parquet')),
       |cand AS (
       |  SELECT DISTINCT pr.q_id, idx.c_id
       |  FROM pr JOIN idx USING (tab, bucket)
       |  WHERE pr.q_id <> idx.c_id)""".stripMargin)

  // IVF (inverted-file) ANN: k-means-lite coarse quantizer fit on a
  // deterministic hash-ordered sample (the model is K×dim ≈ a few KB —
  // like FAISS's sample-trained quantizer; fitting never scans full data),
  // then candidate generation is a pure cell-id equi-join: each vector is
  // indexed under its top [[assignFor]] cells, each query probes its top
  // `probe` cells (assign, probe and K all scale with corpus size — see
  // [[ivfParams]]). On these near-uniform embeddings (mean cos to own
  // cluster centroid ≈ 0.14) single-probe hyperplane LSH tops out at
  // recall ≈ 0.3 (multi-probe recovers it — see [[queryProbes]]);
  // IVF with multi-assignment measures recall@5 ≈ 0.9 at ~45% candidate
  // fraction (asserted in SimilaritySpec). Exactly oracled: the quantizer
  // itself is not DuckDB-expressible, but the persisted (id, cell) frames
  // feed a full SQL mirror of the cell join and cosine rank.
  private val IvfIters = 5

  /** Index-side multi-assignment derived from the cell count, like probe:
    * finer quantizers (more cells) put more vectors near cell boundaries,
    * so each vector indexes under ~15% of √-scaled cells, clamped to
    * [2, 8] because index size grows linearly with assign. At the test
    * corpus (K≈22) this derives 3 — the value the recall assertions were
    * measured at; SimilaritySpec measures the full assign∈{1,3,6} curve. */
  private[graft] def assignFor(k: Int): Int =
    math.max(2, math.min(8, math.round(k * 0.15f)))

  /** Pair-join (symmetric) multi-assignment for the dedup path
    * (`dedup_embedding`): capture needs BOTH vectors of a near-dup pair
    * to co-occur in a cell — there is no query-side probe widening the
    * net — so it assigns wider than the mining path's 2. Fixed (not
    * K-derived) because the pair path runs on the constant-occupancy
    * mining quantizer: candidate pairs ≈ K·(occ·assign)²/2 =
    * N·MineCell·assign²/2 — linear in N with assign held constant,
    * whereas the original √N-cell rule made the same join Θ(N^1.5)
    * (measured 11× at 10× data, 31 s at sf1, before the switch). */
  private[graft] val PairAssign = 4

  /** IVF parameters scaled by corpus size (the FAISS K ≈ √N guidance): a
    * fixed K tuned for one SF over-partitions tiny corpora and
    * under-partitions big ones. Probe count tracks K so the probed-cell
    * fraction (recall lever) stays roughly constant; the training sample
    * targets ~40 points per centroid, capped so the driver-side fit stays
    * a few MB at any scale. */
  private[graft] def ivfParams(n: Long): (Int, Int, Int) = {
    val k = math.max(16, math.min(4096,
      math.round(math.sqrt(n.toDouble)).toInt))
    val probe = math.max(8, math.round(k * 0.1875f))
    // the sample serves BOTH quantizer fits; the mining fit's K grows
    // linearly (K ≈ N/MineCell), so at large N it is the binding target
    val sample = math.max(1024, math.min(16384,
      40 * math.max(k, (n / MineCell).toInt)))
    (k, probe, sample)
  }

  /** Mining-path IVF parameters (`hard_negatives`): the search path's
    * "probe a constant cell FRACTION" rule (probe ∝ K ∝ √N) keeps recall
    * flat for a FIXED query set, but mining anchors the whole corpus —
    * candidate pairs ≈ N·probe·(N·assign/K) = 0.1875·assign·N² under
    * that rule (the √N in probe cancels the √N in K), measured as a
    * 100× single-stage blowup at 10× data. Mining instead holds cell
    * OCCUPANCY constant (K ≈ N/MineCell) and probes a constant cell
    * COUNT: per-anchor candidates ≈ MineProbe·MineCell·MineAssign stay
    * flat and total mining work is O(N). K is deliberately UNCAPPED
    * (see [[miningK]]): past the sample-supported bound the FIT
    * strategy switches to [[fitMiningDistributed]] (per-block sub-fits
    * in executors), so occupancy stays constant at any N instead of
    * degrading once a driver sample can no longer learn K cells. */
  private[graft] val MineCell = 128
  private[graft] val MineProbe = 4
  private[graft] val MineAssign = 2

  /** Constant-occupancy mining K: linear in N, floored so tiny corpora
    * still partition. No sample cap — since the round-8 distributed fit,
    * K past the sample-supported bound switches the FIT STRATEGY
    * (hierarchical, per-block sub-fits in executors), not the cell
    * count; capping K here would let occupancy grow linearly again. */
  private[graft] def miningK(n: Long): Int = {
    val k = n / MineCell
    // cell ids are Ints throughout the ivf_cells kernels; a silent toInt
    // wrap here would hand back K=16 and re-create the exact occupancy
    // cliff uncapping removed. Refuse loudly at the hard representational
    // frontier (N > ~2.7e11 vectors) — past it the cell-id space itself
    // must widen, not just the fit strategy.
    require(k <= Int.MaxValue,
      s"mining K = N/$MineCell = $k exceeds Int cell-id space (N = $n); " +
        "widening the cell-id type is the next frontier, not built here")
    math.max(16, k.toInt)
  }

  /** Mining quantizer model. Constant-occupancy cells (K ∝ N) make the
    * FLAT assignment kernel itself quadratic — N·K·dim total work, which
    * the sf10 (100×) decade measured as a 694 s stage. Below
    * [[MineFlatMax]] cells flat scoring is cheapest and the model stays
    * byte-identical to the small-scale fits; above it the model goes
    * two-level (k1 ≈ k2 ≈ √K): assignment scores k1 level-1 rows, spills
    * into [[MineSpill]] blocks, and scores only their k2 cells each —
    * (k1 + spill·k2)·dim per vector, ~Θ(N^1.5) total with a tiny
    * constant. More levels generalize the same trade beyond the measured
    * range; two suffice through the single-array model frontier
    * (k1·k2·dim ≤ Int.MaxValue doubles — guarded loudly in the fits;
    * K itself is deliberately UNCAPPED, see [[miningK]]). */
  private[graft] sealed trait MiningModel { def dim: Int }
  private[graft] final case class MiningFlat(dim: Int, cmat: Array[Double])
    extends MiningModel
  private[graft] final case class MiningTree(dim: Int, c1: Array[Double],
    c2: Array[Double], k2: Int) extends MiningModel

  private[graft] val MineFlatMax = 256
  private[graft] val MineSpill = 2

  /** Capacity of the broadcast-holding model cache. Shared with
    * [[graft.expr.IvfCellsBc]], which sizes its per-executor matrix-wrap
    * memo from it: at full model-cache occupancy every live model may
    * hold two matrix broadcasts, and a wrap cache smaller than that
    * churns the up-to-~51 MB copies under one global lock. */
  private[graft] val ModelCacheMax = 8

  private val miningCache =
    new ContentKey.Lru[MiningModel](ModelCacheMax, m => dropModelBroadcasts(m))

  /** Session conf: max cells a DRIVER-SAMPLE fit may target. Above it the
    * fit goes hierarchical-distributed ([[fitMiningDistributed]]); the
    * default is the training-sample bound itself, so the conf exists to
    * let tests force the distributed path at toy scale. */
  private[graft] val SampleFitCapKey = "graft.mining.sampleFitCap"

  /** Fit-once mining quantizer — same deterministic sample and Lloyd
    * loop as [[fitCentroids]], K from [[miningK]]. Past the
    * sample-supported K (the round-7 documented frontier) the fit goes
    * hierarchical-distributed instead of silently capping K (which would
    * let cell occupancy — and therefore per-anchor candidate work — grow
    * linearly again past N ≈ sample·MineCell ≈ 2M vectors). */
  private[graft] def fitMiningModel(s: SparkSession, dir: String): MiningModel = {
    val fitCap = s.conf.getOption(SampleFitCapKey).map(_.toInt)
      .getOrElse(Int.MaxValue)
    // the conf participates in the key: a test flipping the cap on the
    // same dataset must refit, not adopt the cached other-shape model
    val key = s"${ContentKey.of(s, Seq(s"$dir/embeddings.parquet"))}/cap=$fitCap"
    miningCache.get(key) {
      val (n, sample) = trainingSample(s, dir)
      val kWant = miningK(n)
      if (kWant > math.min(fitCap, sample.length))
        fitMiningDistributed(s, dir, sample, kWant,
          math.min(fitCap, sample.length))
      else if (kWant <= MineFlatMax) {
        val (dim, flat) = lloydFit(sample, kWant)
        MiningFlat(dim, flat)
      } else {
        val k = kWant
        val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
        val k2 = k1
        val (dim, c1) = lloydFit(sample, k1)
        // deterministic sample partition by best (lowest-id-tie) block
        val byBlock = Array.fill(k1)(Vector.newBuilder[Array[Float]])
        for (v <- sample) {
          var best = 0
          var bv = Double.NegativeInfinity
          var b = 0
          while (b < k1) {
            var acc = 0.0
            var i = 0
            val base = b * dim
            while (i < dim) { acc += v(i) * c1(base + i); i += 1 }
            if (acc > bv) { bv = acc; best = b }
            b += 1
          }
          byBlock(best) += v
        }
        val c2 = new Array[Double](k1 * k2 * dim)
        var b = 0
        while (b < k1) {
          val block = byBlock(b).result()
          val kb = math.min(k2, block.length)
          val sub = if (kb > 0) lloydFit(block.toArray, kb)._2
            else Array.emptyDoubleArray
          // short blocks pad with the block's own (normalized) level-1
          // row: duplicate centroids tie, and ties already break to the
          // lowest id, so padding never changes an assignment outcome
          var sc = 0
          while (sc < k2) {
            val dst = (b * k2 + sc) * dim
            if (sc < kb) System.arraycopy(sub, sc * dim, c2, dst, dim)
            else System.arraycopy(c1, b * dim, c2, dst, dim)
            sc += 1
          }
          b += 1
        }
        MiningTree(dim, c1, c2, k2)
      }
    }
  }

  /** Hierarchical-distributed quantizer fit for K past what a driver
    * sample can support (each centroid needs training points, so a 16k
    * sample cannot learn 100k+ distinct cells — the frontier round 7
    * documented). Two levels:
    *   1. the driver sample fits k1 ≈ √K coarse blocks (classic Lloyd);
    *   2. every corpus vector is assigned its top-1 block IN EXECUTORS,
    *      each block keeps a bounded deterministic per-block sample
    *      (window row_number over the xxhash order — one shuffle keyed by
    *      block), and the k2-cell sub-fit runs PER BLOCK inside
    *      mapGroups — embarrassingly parallel, and only the k1·k2·dim
    *      centroid matrix returns to the driver (the model itself), never
    *      the samples.
    * Output is a [[MiningTree]] in the same cell-id space the flat k1·k2
    * matrix would use, so the assignment kernel, spill descent, and every
    * consumer are unchanged. Deterministic end to end: the level-1 fit is
    * the shared seeded Lloyd, block assignment is the same kernel the
    * query path uses, per-block samples are ordered by (xxhash, vec_id)
    * and re-sorted inside the group before the (deterministic) sub-fit.
    * Driver memory stays O(K·dim) — the returned model — independent of
    * N; at the K where even the model outgrows a broadcast literal
    * (~100k cells) the assignment itself must become a cell-centroid
    * JOIN, which is the documented next frontier, not built here. */
  private def fitMiningDistributed(s: SparkSession, dir: String,
      sample: Array[Array[Float]], kWant: Int, k1Cap: Int): MiningModel = {
    val k1 = math.min(k1Cap, math.ceil(math.sqrt(kWant.toDouble)).toInt)
    val k2 = math.ceil(kWant.toDouble / k1).toInt
    val (dim, c1) = lloydFit(sample, k1)
    // the level-2 matrix is one JVM array: k1·k2·dim doubles caps at
    // Int.MaxValue (a hard allocation limit, ~N > 2e9 at dim 128 —
    // and multi-GB driver heap well before it). Refuse loudly rather
    // than throw NegativeArraySizeException or silently balloon; past
    // this the model must shard (cell-centroid JOIN assignment), the
    // documented next frontier.
    require(k1.toLong * k2 * dim <= Int.MaxValue,
      s"mining model k1=$k1 × k2=$k2 × dim=$dim doubles exceeds the " +
        "single-array frontier; shard the model (cell-centroid join " +
        "assignment) before fitting at this scale")
    val s2cap = math.max(64, 8 * k2) // points per sub-fit, bounded per block
    import s.implicits._
    val c1Lit = typedLit(c1.toSeq)
    val w = Window.partitionBy("blk").orderBy("h", "vec_id")
    val perBlock = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        element_at(gf.ivf_cells(col("embedding"), c1Lit, lit(dim), lit(1)), 1)
          .as("blk"),
        xxhash64(col("vec_id")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= s2cap)
      .select(col("blk"), col("h"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Long, Seq[Float])]
      .groupByKey(_._1)
      .mapGroups { (blk, it) =>
        val pts = it.toArray.sortBy(r => (r._2, r._3)).map(_._4.toArray)
        val kb = math.min(k2, pts.length)
        (blk, lloydFit(pts, kb)._2)
      }
      .collect()
    val c2 = new Array[Double](k1 * k2 * dim)
    // pre-pad every slot with its block's own (normalized) level-1 row:
    // empty blocks and short sub-fits degrade to the coarse centroid, and
    // duplicate centroids tie to the lowest id, so padding never changes
    // an assignment outcome (the sample-tree discipline)
    var b = 0
    while (b < k1) {
      var sc = 0
      while (sc < k2) {
        System.arraycopy(c1, b * dim, c2, (b * k2 + sc) * dim, dim)
        sc += 1
      }
      b += 1
    }
    for ((blk, sub) <- perBlock) {
      System.arraycopy(sub, 0, c2, blk * k2 * dim, sub.length)
    }
    MiningTree(dim, c1, c2, k2)
  }

  /** Session conf: max total centroid-matrix doubles a mining model may
    * inline as plan LITERALS. A literal matrix serializes into every
    * task's expression tree; past this bound (default 2M doubles ≈
    * 16 MB) the assignment switches to [[graft.expr.IvfCellsBc]] —
    * torrent-broadcast handles, shipped once per executor, feeding the
    * unchanged kernels (bit-identical cell ids). This closes the
    * documented >100k-cell frontier: at 100k cells × 64 dims the model
    * is ~51 MB of doubles, far past any sane literal. Tests force the
    * broadcast path at toy scale by setting the conf to 0. */
  private[graft] val MaxLitDoublesKey = "graft.mining.maxLitDoubles"
  private[graft] val MaxLitDoublesDefault = 2L * 1000 * 1000

  /** One broadcast per cached model instance (identity-keyed: model
    * instances are themselves cached/deduped by [[miningCache]]);
    * unpersisted when the owning model falls out of the LRU. */
  private val bcCache =
    new java.util.IdentityHashMap[MiningModel, Array[Broadcast[Array[Double]]]]

  private def modelBroadcasts(s: SparkSession, m: MiningModel)
      : Array[Broadcast[Array[Double]]] = bcCache.synchronized {
    val hit = bcCache.get(m)
    if (hit != null) hit
    else {
      val bcs = (m match {
        case MiningFlat(_, c)         => Array(c)
        case MiningTree(_, c1, c2, _) => Array(c1, c2)
      }).map(s.sparkContext.broadcast(_))
      bcCache.put(m, bcs)
      bcs
    }
  }

  private def dropModelBroadcasts(m: MiningModel): Unit = bcCache.synchronized {
    val bcs = bcCache.remove(m)
    if (bcs != null) bcs.foreach(_.unpersist(false))
  }

  /** The assignment column for a fitted mining model: flat single-kernel
    * scoring or the two-level spill descent — callers are agnostic. The
    * matrices ride as plan literals while small and as executor
    * broadcasts past [[MaxLitDoublesKey]]; both paths run the same
    * kernels and emit the same cell ids. */
  private[graft] def miningCells(s: SparkSession, m: MiningModel, vec: Column,
      top: Int): Column = {
    val maxLit = s.conf.getOption(MaxLitDoublesKey).map(_.toLong)
      .getOrElse(MaxLitDoublesDefault)
    m match {
      case MiningFlat(dim, cmat) =>
        if (cmat.length <= maxLit)
          gf.ivf_cells(vec, typedLit(cmat.toSeq), lit(dim), lit(top))
        else
          gf.ivf_cells_bc(vec, modelBroadcasts(s, m)(0), dim, top)
      case MiningTree(dim, c1, c2, _) =>
        if (c1.length.toLong + c2.length <= maxLit)
          gf.ivf_cells2(vec, typedLit(c1.toSeq), typedLit(c2.toSeq),
            lit(dim), lit(MineSpill), lit(top))
        else {
          val bcs = modelBroadcasts(s, m)
          gf.ivf_cells2_bc(vec, bcs(0), bcs(1), dim, MineSpill, top)
        }
    }
  }

  /** Fit-once bounded caches: the quantizers are deterministic per
    * dataset, so repeated invocations (both ANN queries, repeated bench
    * passes) reuse one model instead of re-collecting the sample; the LRU
    * bound keeps regenerated datasets from accumulating multi-MB samples
    * and codebooks for the JVM lifetime. */
  private val centroidCache = new ContentKey.Lru[(Int, Array[Double], Int)](8)

  private val sampleCache = new ContentKey.Lru[(Long, Array[Array[Float]])](8)

  /** (corpus size, bounded deterministic training sample) — the ONE
    * count+scan both quantizer fits (IVF coarse cells and PQ codebooks)
    * draw from. */
  private def trainingSample(s: SparkSession, dir: String): (Long, Array[Array[Float]]) = {
    val key = ContentKey.of(s, Seq(s"$dir/embeddings.parquet"))
    sampleCache.get(key) {
      val n = t(s, dir, "embeddings").count()
      val (_, _, sampleN) = ivfParams(n)
      val sample = t(s, dir, "embeddings")
        .orderBy(xxhash64(col("vec_id")))
        .limit(sampleN)
        .select("embedding")
        .collect()
        .map(_.getSeq[Float](0).toArray)
      (n, sample)
    }
  }

  /** Returns (dim, flattened K×dim centroid matrix, probe count). */
  private[graft] def fitCentroids(s: SparkSession, dir: String): (Int, Array[Double], Int) = {
    // content-addressed (ContentKey recurses into partitioned layouts) so
    // regenerated data in the same JVM refits the quantizer instead of
    // silently reusing a stale model
    val key = ContentKey.of(s, Seq(s"$dir/embeddings.parquet"))
    centroidCache.get(key)(fitCentroidsUncached(s, dir))
  }

  /** Driver-side Lloyd iterations on a bounded deterministic sample.
    * Returns (dim, flattened row-major K×dim matrix, rows L2-normalized so
    * a dot product ranks cells by cosine). */
  private def fitCentroidsUncached(s: SparkSession, dir: String): (Int, Array[Double], Int) = {
    val (n, sample) = trainingSample(s, dir)
    val (cells, _, _) = ivfParams(n)
    val k = math.min(cells, sample.length)
    // probe derives from the FINAL k: if the sample capped k below the
    // ivfParams cell count, a probe computed from the uncapped value
    // would silently degrade IVF to a near-full scan
    val probe = math.max(8, math.round(k * 0.1875f))
    val (dim, flat) = lloydFit(sample, k)
    (dim, flat, probe)
  }

  /** The shared Lloyd loop: deterministic (first-k seed, fixed iteration
    * count, scalar fold order) per (sample, k). */
  private def lloydFit(sample: Array[Array[Float]], k: Int): (Int, Array[Double]) = {
    val dim = sample.head.length
    var cents = Array.tabulate(k, dim)((c, i) => sample(c)(i).toDouble)
    for (_ <- 0 until IvfIters) {
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Int](k)
      val norms = cents.map { r =>
        val n = math.sqrt(r.map(x => x * x).sum); if (n == 0) 1.0 else n
      }
      for (v <- sample) {
        var best = 0
        var bv = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var acc = 0.0
          var i = 0
          while (i < dim) { acc += v(i) * cents(c)(i); i += 1 }
          acc /= norms(c)
          if (acc > bv) { bv = acc; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k, dim)((c, i) =>
        if (counts(c) > 0) sums(c)(i) / counts(c) else cents(c)(i))
    }
    val flat = cents.flatMap { r =>
      val rn = math.sqrt(r.map(x => x * x).sum)
      r.map(x => if (rn == 0) x else x / rn)
    }
    (dim, flat)
  }

  /** Query-side probed cells (q_id, cell) — identical for every IVF
    * variant (same fitted coarse quantizer), persisted under one shared
    * sub-table so each variant's mirror reads the same frame; repeated
    * writes are overwrite-idempotent with identical content. */
  private def probedCells(s: SparkSession, dir: String): DataFrame = {
    val (dim, cmat, probe) = fitCentroids(s, dir)
    val cLit = typedLit(cmat.toSeq)
    persistO(s, dir, "ivf_probe",
      normed(s, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"),
          explode(gf.ivf_cells(col("embedding"), cLit, lit(dim), lit(probe)))
            .as("cell")))
  }

  /** Index-side cell assignment (c_id, cell) for any (vec_id, embedding)
    * frame under `dir`'s fitted (frozen) coarse quantizer — the one
    * kernel behind the full index build, the incremental delta append
    * ([[ivfDeltaTopK]]), and the streaming index maintainer
    * ([[graft.streaming.IvfMonitor]]); sharing it is what makes their
    * equality contracts structural rather than coincidental. */
  private[graft] def indexAssign(s: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    val (dim, cmat, _) = fitCentroids(s, dir)
    val assign = assignFor(cmat.length / dim)
    val cLit = typedLit(cmat.toSeq)
    df.select(col("vec_id").as("c_id"),
      explode(gf.ivf_cells(col("embedding"), cLit, lit(dim), lit(assign)))
        .as("cell"))
  }

  /** Index-side cell assignment (c_id, cell) — the shared IVF index frame;
    * persisted under one sub-table so every consumer's mirror (plain IVF,
    * MMR) reads the same frame. */
  private def ivfIndex(s: SparkSession, dir: String): DataFrame =
    persistO(s, dir, "ivf_idx", indexAssign(s, dir, normed(s, dir)))

  /** Probe ⋈ index candidate pairs (q_id, c_id) over an arbitrary index
    * frame — the union-over-probed-cells IVF candidate semantics (self
    * pairs dropped, distinct over probed cells) every IVF consumer
    * (plain top-k, MMR, the delta-maintained index) shares;
    * [[ivfCandSqlFrom]] is its mirror CTE block. Candidate-semantics
    * changes belong HERE, in both engines at once. */
  private def candidatesFrom(s: SparkSession, dir: String,
      idx: DataFrame): DataFrame =
    probedCells(s, dir).join(idx, "cell")
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id").distinct()

  // private[ops]: `search_hybrid_rrf` (RetrievalOps) consumes the same
  // candidate frame as its vector leg — ONE candidate semantics across
  // every IVF consumer, retrieval included.
  private[ops] def ivfCandidates(s: SparkSession, dir: String): DataFrame =
    candidatesFrom(s, dir, ivfIndex(s, dir))

  private def ivfCandSqlFrom(idxCte: String, name: String = "cand"): String =
    s"""idx AS ($idxCte),
       |pr AS (SELECT * FROM read_parquet('${pth("ivf_probe")}/*.parquet')),
       |$name AS (
       |  SELECT DISTINCT pr.q_id, idx.c_id
       |  FROM pr JOIN idx USING (cell)
       |  WHERE pr.q_id <> idx.c_id)""".stripMargin

  private[ops] def ivfCandSql: String = ivfCandSqlFrom(
    s"SELECT * FROM read_parquet('${pth("ivf_idx")}/*.parquet')")

  private def ivfTopK(s: SparkSession, dir: String): DataFrame =
    rankPairs(normed(s, dir), ivfCandidates(s, dir))

  private def ivfSql: String = rankPairsSql(ivfCandSql)

  // ---- radius (range) search: ALL neighbors within a similarity bound ----
  // FAISS range_search parity — the OTHER fundamental ANN query type next
  // to top-k: near-duplicate audits and "everything semantically this
  // close" retrieval want the full disc, not a fixed k (a hub query may
  // hold dozens above the bound, a sparse one none). Same shared IVF
  // candidate frame, same exact-cosine tail; the bound replaces the rank
  // window — so the plan carries NO window exchange at all, just the two
  // id joins and a filter, and output size is data-driven. The recall
  // caveat is IVF's: the disc is exact over PROBED cells; SimilaritySpec
  // measures disc recall vs the brute disc rather than assuming it.
  private[graft] val RangeTau = 0.30

  private def ivfRange(s: SparkSession, dir: String): DataFrame =
    simPairs(normed(s, dir), ivfCandidates(s, dir))
      .filter(col("cos_sim") >= RangeTau)
      .orderBy(col("q_id"), col("cos_sim").desc, col("c_id"))

  private def ivfRangeSql: String =
    s"""WITH ${simPairsCtes(ivfCandSql)}
       |SELECT q_id, c_id, cos_sim FROM sims
       |WHERE cos_sim >= $RangeTau
       |ORDER BY q_id, cos_sim DESC, c_id""".stripMargin

  // ---- filtered ANN: top-k within an attribute predicate ----
  // The production filtered-vector-search shape ("similar items in MY
  // category"): each query keeps only candidates sharing its `label`,
  // then ranks exact cosine top-k. This is POST-filtering over the
  // shared IVF candidate frame — the label predicate rides the existing
  // candidate equi-join as one more broadcast dim join, nothing rescans
  // the corpus. The documented trade: with selectivity s, probed cells
  // yield ~s·|cand| survivors, so a highly selective filter wants
  // over-probing or a per-label partitioned index (the same upgrade
  // axis as the IVF probe count); recall vs the brute-filtered baseline
  // is measured in SimilaritySpec rather than assumed.
  private def ivfFilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val lab = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val qlab = lab.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val clab = lab.select(col("vec_id").as("c_id"), col("label").as("c_label"))
    val cand = ivfCandidates(s, dir)
      .join(broadcast(qlab), "q_id")
      .join(clab, "c_id")
      .filter(col("c_label") === col("q_label"))
      .select("q_id", "c_id")
    rankPairs(normed(s, dir), cand)
  }

  private def ivfFilteredSql: String = rankPairsSql(
    s"""${ivfCandSqlFrom(
        s"SELECT * FROM read_parquet('${pth("ivf_idx")}/*.parquet')",
        "cand0")},
       |cand AS (
       |  SELECT cand0.q_id, cand0.c_id
       |  FROM cand0
       |  JOIN embeddings ql ON ql.vec_id = cand0.q_id
       |  JOIN embeddings cl ON cl.vec_id = cand0.c_id
       |  WHERE cl.label = ql.label)""".stripMargin)

  // ---- Incremental IVF: append-only index under a frozen quantizer ----
  // The production vector-store maintenance shape (FAISS `add()`; the
  // `dedup_incremental` discipline applied to ANN): arriving vectors are
  // assigned in ONE pushed-filter pass over the delta only and appended
  // to the persisted base index — the base corpus is never re-scanned and
  // the quantizer is not refit (refit drift is the operator's documented
  // trade until an offline rebuild). A deterministic 20% residue split
  // (vec_id % 5 = 4) stands in for the arrival set. Because assignment is
  // per-vector under a frozen model, union-of-assignments over a
  // partition of the vectors IS the full assignment — so this query must
  // return exactly `simsearch_ivf`'s rows, and that equality is the
  // maintenance contract (pinned in SimilaritySpec; the streaming form is
  // [[graft.streaming.IvfMonitor]]).
  private def ivfDeltaTopK(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
    val base = persistO(s, dir, "ivf_idx_base",
      indexAssign(s, dir, e.filter(col("vec_id") % 5 =!= 4)))
    val delta = persistO(s, dir, "ivf_idx_delta",
      indexAssign(s, dir, e.filter(col("vec_id") % 5 === 4)))
    rankPairs(e, candidatesFrom(s, dir, base.unionByName(delta)))
  }

  private def ivfDeltaSql: String = rankPairsSql(ivfCandSqlFrom(
    s"""SELECT * FROM read_parquet('${pth("ivf_idx_base")}/*.parquet')
       |  UNION ALL
       |  SELECT * FROM read_parquet('${pth("ivf_idx_delta")}/*.parquet')"""
      .stripMargin))

  // ---- MMR: diversity-aware re-rank of the IVF shortlist ----
  // Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98): select
  // k results greedily, each step maximizing λ·rel(q,c) − (1−λ)·max sim
  // to the already-selected set — the standard RAG retrieval re-rank that
  // trades a little relevance for coverage when the top of the ranking is
  // one tight near-duplicate cluster. Pure top-k (`simsearch_topk`/`_ivf`)
  // cannot express it: the rank of a candidate depends on WHICH candidates
  // were already picked.
  //
  // Shape for scale: candidate generation is the shared IVF equi-join;
  // the exact-cosine shortlist cut (top-[[MmrC]] per query) bounds
  // everything downstream to C rows and C·(C−1)/2 pairwise sims PER
  // QUERY — both constants — so the greedy unroll's [[TopK]] static
  // rounds run over persisted frames of |Q|·C and |Q|·C²/2 rows and
  // never rescan the embeddings. All selection math is deterministic double arithmetic
  // with (score DESC, c_id) ties, so the DuckDB mirror — which recomputes
  // relevance, the cut, AND the pairwise sims from the raw vectors rather
  // than trusting the persisted frames — must agree bit-for-bit.
  //
  // λ = 0.7 / (1−λ) = 0.3 are spelled as SEPARATE literals in both
  // engines: computing 1.0 − 0.7 in doubles yields 0.30000000000000004,
  // which would diverge from a parsed 0.3 on the SQL side.
  private val MmrC = 16
  private val MmrL = "0.7"
  private val MmrD = "0.3"

  private def mmrSelect(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
    val cand = ivfCandidates(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"))
    val wRel = Window.partitionBy("q_id").orderBy(col("rel").desc, col("c_id"))
    // exact-cosine shortlist; persisted so the greedy rounds replay a tiny
    // frame instead of the candidate join (one embeddings pass, like every
    // IVF variant's rankPairs tail)
    val rel = persistO(s, dir, "mmr_rel",
      cand.join(broadcast(q), "q_id").join(c, "c_id")
        .select(col("q_id"), col("c_id"),
          (vdot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
            .as("rel"))
        .withColumn("rr", row_number().over(wRel))
        .filter(col("rr") <= MmrC)
        .select("q_id", "c_id", "rel"))
    // pairwise sims among the shortlist: cosine is symmetric, so only the
    // a<b half-matrix (C·(C−1)/2 per query) is vdot-folded and persisted;
    // the full orientation set is recovered at read time by a swapped
    // union — zero extra folds, identical doubles (per-element products
    // commute). Two id→vector hash joins (the compressed-index
    // discipline — ids shuffle, not vectors).
    val ca = c.select(col("c_id").as("a"), col("c_emb").as("a_emb"),
      col("c_norm").as("a_norm"))
    val cb = c.select(col("c_id").as("b"), col("c_emb").as("b_emb"),
      col("c_norm").as("b_norm"))
    val psimHalf = persistO(s, dir, "mmr_psim",
      rel.select(col("q_id"), col("c_id").as("a"))
        .join(rel.select(col("q_id"), col("c_id").as("b")), "q_id")
        .filter(col("a") < col("b"))
        .join(ca, "a").join(cb, "b")
        .select(col("q_id"), col("a"), col("b"),
          (vdot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
            .as("sim")))
    val psim = psimHalf.unionByName(psimHalf.select(col("q_id"),
      col("b").as("a"), col("a").as("b"), col("sim")))
    // Greedy unroll: step 1 is pure relevance; each later step maximizes
    // λ·rel − (1−λ)·(max sim to the selected set) over the remainder.
    //
    // Each round's selected set is EAGERLY checkpointed. Joining round r
    // directly against the union-lineage `sel` (whose branches share the
    // persisted relation's attribute ids) trips a DeduplicateRelations
    // mis-rewrite in Spark 4.1.2: the selected-set join + max aggregate
    // came back as one row PER UNION BRANCH per candidate (two `mx`
    // values per (q_id, c_id)), so every rank-1 filter passed one row
    // per branch — output rows doubled each round. The checkpoint gives
    // every round a fresh LogicalRDD lineage (no shared ids to rewrite)
    // and keeps the plan tree linear in rounds instead of 3^r. Frames
    // are |Q|·step rows; superseded checkpoints are freed via the bridge
    // (the iterative-closure discipline).
    var sel = rel.withColumn("sr", row_number().over(wRel))
      .filter(col("sr") === 1)
      .select(col("q_id"), col("c_id"), col("rel"), lit(1).as("step"))
      .localCheckpoint()
    var r = 2
    while (r <= TopK) {
      val mxF = psim
        .join(sel.select(col("q_id"), col("c_id").as("b")), Seq("q_id", "b"))
        .groupBy("q_id", "a").agg(max("sim").as("mx"))
        .withColumnRenamed("a", "c_id")
      val wSc = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("c_id"))
      val pick = rel
        .join(sel.select("q_id", "c_id"), Seq("q_id", "c_id"), "left_anti")
        .join(mxF, Seq("q_id", "c_id"))
        .withColumn("score",
          lit(MmrL.toDouble) * col("rel") - lit(MmrD.toDouble) * col("mx"))
        .withColumn("sr", row_number().over(wSc))
        .filter(col("sr") === 1)
        .select(col("q_id"), col("c_id"), col("rel"), lit(r).as("step"))
      val next = sel.unionByName(pick).localCheckpoint()
      GraftSqlBridge.freeLocalCheckpoint(sel)
      sel = next
      r += 1
    }
    // the final round's checkpoint is returned UNFREED and UNORDERED: it
    // becomes the shared-leg cache's value (freed on eviction — closing
    // the round-8 advice about this frame); [[queries]] applies the
    // presentation sort per read
    sel
  }

  /** DuckDB mirror: rebuilds relevance, the top-C cut, and the pairwise
    * sims from the raw vectors (trusting only the shared IVF index frames,
    * like [[ivfSql]]) and unrolls the same [[TopK]] greedy rounds. Every
    * multiply-referenced CTE is MATERIALIZED (DuckDB inlines plain CTEs
    * once per reference). */
  private def mmrSql: String = {
    def round(r: Int): String =
      s"""s$r AS MATERIALIZED (
         |  SELECT q_id, c_id, rel, $r AS step FROM (
         |    SELECT rl.q_id, rl.c_id, rl.rel,
         |      row_number() OVER (PARTITION BY rl.q_id ORDER BY
         |        CAST($MmrL AS DOUBLE) * rl.rel -
         |          CAST($MmrD AS DOUBLE) * mx.mx DESC, rl.c_id) AS sr
         |    FROM rel rl
         |    JOIN (SELECT p.q_id, p.a AS c_id, max(p.sim) AS mx
         |          FROM psim p
         |          JOIN sel${r - 1} s ON s.q_id = p.q_id AND s.c_id = p.b
         |          GROUP BY p.q_id, p.a) mx
         |      ON mx.q_id = rl.q_id AND mx.c_id = rl.c_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
         |      WHERE s.q_id = rl.q_id AND s.c_id = rl.c_id))
         |  WHERE sr = 1),
         |sel$r AS MATERIALIZED (
         |  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    s"""WITH n AS ($normedSql),
       |$ivfCandSql,
       |rel0 AS (
       |  SELECT cand.q_id, cand.c_id,
       |    ${vdotSql("qe.embedding", "ce.embedding")} / (qe.norm * ce.norm)
       |      AS rel
       |  FROM cand
       |  JOIN n qe ON qe.vec_id = cand.q_id
       |  JOIN n ce ON ce.vec_id = cand.c_id),
       |rel AS MATERIALIZED (
       |  SELECT q_id, c_id, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, c_id) AS rr FROM rel0)
       |  WHERE rr <= $MmrC),
       |psh AS MATERIALIZED (
       |  SELECT a.q_id, a.c_id AS a, b.c_id AS b,
       |    ${vdotSql("ae.embedding", "be.embedding")} / (ae.norm * be.norm)
       |      AS sim
       |  FROM rel a
       |  JOIN rel b ON a.q_id = b.q_id AND a.c_id < b.c_id
       |  JOIN n ae ON ae.vec_id = a.c_id
       |  JOIN n be ON be.vec_id = b.c_id),
       |psim AS MATERIALIZED (
       |  SELECT q_id, a, b, sim FROM psh
       |  UNION ALL SELECT q_id, b AS a, a AS b, sim FROM psh),
       |sel1 AS MATERIALIZED (
       |  SELECT q_id, c_id, rel, 1 AS step FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, c_id) AS sr FROM rel)
       |  WHERE sr = 1),
       |${(2 to TopK).map(round).mkString(",\n")}
       |SELECT q_id, c_id, rel, step FROM sel$TopK
       |ORDER BY q_id, step""".stripMargin
  }

  /** IVF top-k with an explicit index-side assignment count — the recall/
    * cost knob SimilaritySpec sweeps; production (`simsearch_ivf`) derives
    * it from the cell count via [[assignFor]]. */
  private[graft] def ivfTopKAssign(s: SparkSession, dir: String,
      assignOverride: Option[Int]): DataFrame = {
    val (dim, cmat, probe) = fitCentroids(s, dir)
    val assign = assignOverride.getOrElse(assignFor(cmat.length / dim))
    val cLit = typedLit(cmat.toSeq)
    val e = normed(s, dir)
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"),
      explode(gf.ivf_cells(col("embedding"), cLit, lit(dim), lit(assign)))
        .as("cell"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"),
        explode(gf.ivf_cells(col("embedding"), cLit, lit(dim), lit(probe)))
          .as("cell"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("c_id"))
    // same in-bucket cosine trick as lshTopK: shuffle ids+cos, not vectors
    q.join(cand, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (vdot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
          .as("cos_sim"))
      .dropDuplicates("q_id", "c_id") // candidate set = union over cells
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy("q_id", "rank")
  }

  // IVF-PQ: the same coarse-cell candidate generation as `simsearch_ivf`,
  // but the indexed side carries product-quantization codes (M small ints)
  // instead of the raw `dim`-float embedding — at 100 TB that shrinks the
  // resident index and the cell-join shuffle ~32×, which is the difference
  // between an in-memory index and a disk-bound one. Ranking is two-stage:
  // asymmetric-distance cosine (query floats vs per-subspace centroid
  // reconstructions) keeps the top `RerankC` per query, then those few ids
  // re-join the embeddings table for exact-cosine re-ranking of the final
  // top-k — so reported similarities are exact, and PQ error only risks
  // dropping a true neighbor from the shortlist (recall measured in
  // SimilaritySpec). Exactly oracled: codes, cells and the codebook
  // persist as tables; the mirror reconstructs each candidate
  // (flatten(list(subvec ORDER BY sub)) — the kernel's traversal order)
  // and replays ADC, shortlist and exact re-rank with ordered folds.
  private[graft] val PqM = 8 // subspaces → one code (≤ 1 byte at Ks ≤ 256) each
  // Ks=32 (5-bit codes) and a 10×k re-rank shortlist: these embeddings are
  // near-uniform (no cluster structure — PQ's worst case, mean self-cosine
  // ≈ 0.7), so ADC ranking is noisy and the shortlist must be generous.
  // On real text/image embeddings (anisotropic, low intrinsic dimension)
  // the standard 16-entry books and shorter shortlists suffice. Shortlist
  // size only scales the re-rank join (|queries|·RerankC rows) — cheap.
  private[graft] val PqKs = 32
  private val PqIters = 5
  private val RerankC = 10 * TopK

  private val pqCache = new ContentKey.Lru[(Int, Array[Double])](8)

  /** Returns (dim, flattened [(sub·Ks + code)·subDim + i] codebook). */
  private[graft] def fitPq(s: SparkSession, dir: String): (Int, Array[Double]) = {
    val key = ContentKey.of(s, Seq(s"$dir/embeddings.parquet"))
    pqCache.get(key)(fitPqUncached(s, dir))
  }

  /** Per-subspace Lloyd iterations over an in-memory (double) sample —
    * shared by the raw-vector and residual codebook fits. */
  private def lloydSubspaces(sample: Array[Array[Double]], dim: Int): Array[Double] = {
    require(dim % PqM == 0, s"dim $dim not divisible into $PqM subspaces")
    val subDim = dim / PqM
    val book = new Array[Double](PqM * PqKs * subDim)
    for (sub <- 0 until PqM) {
      // seed codes with the first Ks sample subvectors (possibly
      // duplicated — the empty-cluster respawn below re-separates any
      // codebook entries that collapse onto the same seed)
      var cents = Array.tabulate(PqKs, subDim)((c, i) =>
        sample(c % sample.length)(sub * subDim + i))
      for (_ <- 0 until PqIters) {
        val sums = Array.ofDim[Double](PqKs, subDim)
        val counts = new Array[Int](PqKs)
        for (v <- sample) {
          var best = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < PqKs) {
            var d = 0.0
            var i = 0
            while (i < subDim) {
              val diff = v(sub * subDim + i) - cents(c)(i)
              d += diff * diff
              i += 1
            }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < subDim) { sums(best)(i) += v(sub * subDim + i); i += 1 }
        }
        cents = Array.tabulate(PqKs, subDim)((c, i) =>
          if (counts(c) > 0) sums(c)(i) / counts(c) else cents(c)(i))
      }
      for (c <- 0 until PqKs; i <- 0 until subDim)
        book((sub * PqKs + c) * subDim + i) = cents(c)(i)
    }
    book
  }

  /** Per-subspace Lloyd iterations on the same bounded deterministic
    * sample discipline as [[fitCentroidsUncached]] — the codebook is
    * M×Ks×subDim doubles (≈4 KB), fit on the driver, shipped as a literal. */
  private def fitPqUncached(s: SparkSession, dir: String): (Int, Array[Double]) = {
    val (_, sample) = trainingSample(s, dir)
    val dim = sample.head.length
    (dim, lloydSubspaces(sample.map(_.map(_.toDouble)), dim))
  }

  /** Driver-side top-1 cell of a vector — same ranking and tie order as
    * the `ivf_cells` kernel (dot vs L2-normalized centroid rows, first
    * max wins ⇒ lowest cell id on ties). */
  private def top1Cell(v: Array[Float], cmat: Array[Double], dim: Int): Int = {
    val k = cmat.length / dim
    var best = 0
    var bv = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += v(i).toDouble * cmat(c * dim + i); i += 1 }
      if (acc > bv) { bv = acc; best = c }
      c += 1
    }
    best
  }

  // ---- driver-side dense matrix helpers (dim×dim, row-major) ----
  // Small fixed-size linear algebra for the OPQ Procrustes step — dim is
  // the embedding width (≤ a few hundred), all on the bounded training
  // sample, never distributed.

  private def matMul(a: Array[Double], b: Array[Double], n: Int): Array[Double] = {
    val out = new Array[Double](n * n)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < n) {
        val aik = a(i * n + k)
        if (aik != 0.0) {
          var j = 0
          while (j < n) { out(i * n + j) += aik * b(k * n + j); j += 1 }
        }
        k += 1
      }
      i += 1
    }
    out
  }

  private def matT(a: Array[Double], n: Int): Array[Double] = {
    val out = new Array[Double](n * n)
    for (i <- 0 until n; j <- 0 until n) out(j * n + i) = a(i * n + j)
    out
  }

  /** Gauss–Jordan inverse with partial pivoting. */
  private def matInv(a0: Array[Double], n: Int): Array[Double] = {
    val a = a0.clone()
    val inv = Array.tabulate(n * n)(i => if (i / n == i % n) 1.0 else 0.0)
    for (col <- 0 until n) {
      var p = col
      for (r <- col + 1 until n)
        if (math.abs(a(r * n + col)) > math.abs(a(p * n + col))) p = r
      require(math.abs(a(p * n + col)) > 1e-12, "singular Procrustes matrix")
      if (p != col) for (j <- 0 until n) {
        val t = a(col * n + j); a(col * n + j) = a(p * n + j); a(p * n + j) = t
        val t2 = inv(col * n + j); inv(col * n + j) = inv(p * n + j); inv(p * n + j) = t2
      }
      val piv = a(col * n + col)
      for (j <- 0 until n) { a(col * n + j) /= piv; inv(col * n + j) /= piv }
      for (r <- 0 until n) if (r != col) {
        val f = a(r * n + col)
        if (f != 0.0) for (j <- 0 until n) {
          a(r * n + j) -= f * a(col * n + j)
          inv(r * n + j) -= f * inv(col * n + j)
        }
      }
    }
    inv
  }

  /** Orthogonal polar factor of a nonsingular matrix via the Newton
    * iteration Q ← (Q + Q^-T)/2 — for M = UΣVᵀ this converges
    * quadratically to UVᵀ, exactly the Procrustes-optimal rotation. */
  private def polarOrtho(m0: Array[Double], n: Int): Array[Double] = {
    var q = m0.clone()
    var it = 0
    var delta = Double.MaxValue
    while (it < 60 && delta > 1e-13) {
      val next = new Array[Double](n * n)
      val qit = matT(matInv(q, n), n)
      delta = 0.0
      for (i <- 0 until n * n) {
        next(i) = 0.5 * (q(i) + qit(i))
        delta = math.max(delta, math.abs(next(i) - q(i)))
      }
      q = next
      it += 1
    }
    // loud orthonormality witness — a botched inverse shows up here, not
    // as silently bad recall
    val qtq = matMul(matT(q, n), q, n)
    for (i <- 0 until n; j <- 0 until n) {
      val expect = if (i == j) 1.0 else 0.0
      require(math.abs(qtq(i * n + j) - expect) < 1e-8,
        s"polar factor not orthonormal at ($i,$j): ${qtq(i * n + j)}")
    }
    q
  }

  private val rqCache = new ContentKey.Lru[(Int, Array[Double])](8)

  /** Residual codebook: PQ fit on (sample vector − its top-1 cell
    * centroid). The cells explain the coarse geometry, so the codebook's
    * fixed bit budget models only the (much smaller) residual — the
    * standard IVF-PQ training recipe (Jégou et al., TPAMI'11). */
  private[graft] def fitRq(s: SparkSession, dir: String): (Int, Array[Double]) = {
    val key = ContentKey.of(s, Seq(s"$dir/embeddings.parquet"))
    rqCache.get(key) {
      val (dim, cmat, _) = fitCentroids(s, dir)
      val (_, sample) = trainingSample(s, dir)
      val residuals = sample.map { v =>
        val cell = top1Cell(v, cmat, dim)
        Array.tabulate(dim)(i => v(i).toDouble - cmat(cell * dim + i))
      }
      (dim, lloydSubspaces(residuals, dim))
    }
  }

  /** Persist a driver-fit PQ codebook as (sub, code, subvec) rows — the
    * identical doubles the kernel literal carries (parquet round-trips
    * doubles exactly), so the mirror reconstructs identical vectors. */
  private def persistBook(s: SparkSession, dir: String, sub: String,
      book: Array[Double], dim: Int): Unit = {
    import s.implicits._
    val subDim = dim / PqM
    persistO(s, dir, sub,
      (for (sb <- 0 until PqM; code <- 0 until PqKs) yield {
        val base = (sb * PqKs + code) * subDim
        (sb, code, book.slice(base, base + subDim).toSeq)
      }).toDF("sub", "code", "subvec"))
  }

  /** Tiny query-side frame the ADC stages broadcast. */
  private def queryVecs(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val (dim, cmat, _) = fitCentroids(s, dir)
    val (pdim, book) = fitPq(s, dir)
    require(pdim == dim)
    val assign = assignFor(cmat.length / dim)
    val cLit = typedLit(cmat.toSeq)
    val bLit = typedLit(book.toSeq)
    persistBook(s, dir, "pq_book", book, dim)
    val e = normed(s, dir)
    // compressed index: (cell, c_id, codes) — no embedding column
    val idx = persistO(s, dir, "pq_idx",
      e.select(col("vec_id").as("c_id"),
        gf.pq_encode(col("embedding"), bLit, lit(dim), lit(PqM), lit(PqKs))
          .as("codes"),
        explode(gf.ivf_cells(col("embedding"), cLit, lit(dim), lit(assign)))
          .as("cell")))
    val wAdc = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("c_id"))
    val shortlist = probedCells(s, dir).join(idx, "cell")
      .filter(col("q_id") =!= col("c_id"))
      // raw-PQ codes are cell-independent, so distinct pairs keep codes
      .select("q_id", "c_id", "codes").distinct()
      .join(broadcast(queryVecs(e)), "q_id")
      .select(col("q_id"), col("c_id"),
        gf.pq_adc_cos(col("q_emb"), col("codes"), bLit,
          lit(dim), lit(PqM), lit(PqKs)).as("adc"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= RerankC)
    // exact re-rank: only |queries|·RerankC ids revisit the raw embeddings
    rankPairs(e, shortlist.select("q_id", "c_id"))
  }

  private def ivfPqSql: String = rankPairsSql(
    s"""idx AS (SELECT * FROM read_parquet('${pth("pq_idx")}/*.parquet')),
       |pr AS (SELECT * FROM read_parquet('${pth("ivf_probe")}/*.parquet')),
       |book AS (SELECT * FROM read_parquet('${pth("pq_book")}/*.parquet')),
       |cp AS (
       |  SELECT DISTINCT pr.q_id, idx.c_id, idx.codes
       |  FROM pr JOIN idx USING (cell) WHERE pr.q_id <> idx.c_id),
       |recon AS (
       |  SELECT c.c_id, flatten(list(b.subvec ORDER BY b.sub)) AS rv
       |  FROM (SELECT DISTINCT c_id, codes FROM cp) c
       |  JOIN book b ON b.code = c.codes[b.sub + 1]
       |  GROUP BY c.c_id),
       |adc AS (
       |  SELECT cp.q_id, cp.c_id,
       |    ${vdotSql("qe.embedding", "r.rv")} /
       |      (qe.norm * sqrt(${vdotSql("r.rv", "r.rv")})) AS adc
       |  FROM cp JOIN n qe ON qe.vec_id = cp.q_id
       |    JOIN recon r ON r.c_id = cp.c_id),
       |cand AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, c_id) AS arank FROM adc) a
       |  WHERE arank <= $RerankC)""".stripMargin)

  // ---- OPQ: learned rotation ahead of PQ ----
  // The other VERDICT-flagged quantization upgrade: learn an orthogonal R
  // minimizing ||XR − PQ(XR)||² by alternating (a) codebook refit on the
  // rotated sample and (b) the Procrustes step R = polar(Xᵀ·PQ(XR)) —
  // the OPQ-NP algorithm (Ge et al., CVPR'13). Rotation spreads variance
  // evenly across subspaces, which is where plain PQ bleeds error when
  // embeddings are anisotropic (real text/image embeddings are; the
  // shipped corpus is near-isotropic, so SimilaritySpec additionally
  // plants an anisotropic corpus and asserts the MSE win there).
  // All training is driver-side on the bounded deterministic sample;
  // queries ship R (dim² doubles ≈ 8 KB) and the codebook as literals.

  private val OpqIters = 6
  private val opqCache = new ContentKey.Lru[(Int, Array[Double], Array[Double])](8)

  /** Deterministic random orthogonal matrix: Gram–Schmidt over a
    * splitmix64-seeded standard-normal matrix (Box–Muller). */
  private def randomOrthogonal(dim: Int): Array[Double] = {
    val g = new Array[Double](dim * dim)
    var i = 0
    while (i < dim * dim) {
      // two uniforms from the mixer → one Gaussian (Box–Muller, cos arm)
      val u1 = (graft.expr.TextHashOps.mix64(i.toLong * 2 + 1) >>> 11).toDouble / (1L << 53).toDouble
      val u2 = (graft.expr.TextHashOps.mix64(i.toLong * 2 + 2) >>> 11).toDouble / (1L << 53).toDouble
      g(i) = math.sqrt(-2.0 * math.log(u1 + 1e-300)) * math.cos(2.0 * math.Pi * u2)
      i += 1
    }
    // modified Gram–Schmidt on rows
    for (row <- 0 until dim) {
      for (prev <- 0 until row) {
        var dot = 0.0
        for (j <- 0 until dim) dot += g(row * dim + j) * g(prev * dim + j)
        for (j <- 0 until dim) g(row * dim + j) -= dot * g(prev * dim + j)
      }
      var nrm = 0.0
      for (j <- 0 until dim) nrm += g(row * dim + j) * g(row * dim + j)
      nrm = math.sqrt(nrm)
      require(nrm > 1e-9, "degenerate Gram-Schmidt row")
      for (j <- 0 until dim) g(row * dim + j) /= nrm
    }
    g
  }

  private def rotVec(v: Array[Double], r: Array[Double], dim: Int): Array[Double] = {
    val z = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += v(i) * r(i * dim + j); i += 1 }
      z(j) = acc
      j += 1
    }
    z
  }

  private def pqReconstruct(z: Array[Double], book: Array[Double], dim: Int): Array[Double] = {
    val subDim = dim / PqM
    val out = new Array[Double](dim)
    var sub = 0
    while (sub < PqM) {
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < PqKs) {
        val base = (sub * PqKs + c) * subDim
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val diff = z(sub * subDim + i) - book(base + i)
          d += diff * diff
          i += 1
        }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      val base = (sub * PqKs + best) * subDim
      var i = 0
      while (i < subDim) { out(sub * subDim + i) = book(base + i); i += 1 }
      sub += 1
    }
    out
  }

  /** Returns (dim, row-major dim×dim rotation R, codebook for XR). */
  private[graft] def fitOpq(s: SparkSession, dir: String): (Int, Array[Double], Array[Double]) = {
    val key = ContentKey.of(s, Seq(s"$dir/embeddings.parquet"))
    opqCache.get(key) {
      val (_, sampleF) = trainingSample(s, dir)
      val dim = sampleF.head.length
      val x = sampleF.map(_.map(_.toDouble))
      // random-orthogonal init (deterministic: Gram–Schmidt over splitmix
      // Gaussians) — identity init is a LOCAL OPTIMUM on axis-aligned
      // data (M = XᵀY comes out near-symmetric-positive, whose polar
      // factor is ≈ I), so the alternation would never leave it; the OPQ
      // paper inits random for exactly this reason
      var r = randomOrthogonal(dim)
      var book: Array[Double] = null
      for (_ <- 0 until OpqIters) {
        val z = x.map(rotVec(_, r, dim))
        book = lloydSubspaces(z, dim)
        val y = z.map(pqReconstruct(_, book, dim))
        // M = Xᵀ Y, then the Procrustes-optimal R is its polar factor
        val m = new Array[Double](dim * dim)
        for (n <- x.indices; i <- 0 until dim; j <- 0 until dim)
          m(i * dim + j) += x(n)(i) * y(n)(j)
        r = polarOrtho(m, dim)
      }
      (dim, r, book)
    }
  }

  private def ivfOpqTopK(s: SparkSession, dir: String): DataFrame = {
    val (dim, cmat, _) = fitCentroids(s, dir)
    val (odim, rot, book) = fitOpq(s, dir)
    require(odim == dim)
    val assign = assignFor(cmat.length / dim)
    val cLit = typedLit(cmat.toSeq)
    val rLit = typedLit(rot.toSeq)
    val bLit = typedLit(book.toSeq)
    persistBook(s, dir, "opq_book", book, dim)
    // R's COLUMNS as i-ordered lists: the rotate kernel's z[j] is the
    // i-ordered fold Σ q[i]·R[i·dim+j], so the mirror's z[j] is exactly
    // vdot(q, rcol_j) over this table
    locally {
      import s.implicits._
      persistO(s, dir, "opq_rot",
        (0 until dim).map(j =>
            (j, (0 until dim).map(i => rot(i * dim + j))))
          .toDF("j", "rcol"))
    }
    val e = normed(s, dir)
    // cells on the RAW vectors (rotation is inside the codes only)
    val idx = persistO(s, dir, "opq_idx",
      e.select(col("vec_id").as("c_id"),
        gf.pq_encode_rot(col("embedding"), rLit, bLit,
          lit(dim), lit(PqM), lit(PqKs)).as("codes"),
        explode(gf.ivf_cells(col("embedding"), cLit, lit(dim), lit(assign)))
          .as("cell")))
    val wAdc = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("c_id"))
    val shortlist = probedCells(s, dir).join(idx, "cell")
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id", "codes").distinct() // codes cell-independent
      .join(broadcast(queryVecs(e)), "q_id")
      .select(col("q_id"), col("c_id"),
        gf.pq_adc_cos_rot(col("q_emb"), col("codes"), rLit, bLit,
          lit(dim), lit(PqM), lit(PqKs)).as("adc"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= RerankC)
    rankPairs(e, shortlist.select("q_id", "c_id"))
  }

  private def ivfOpqSql: String = rankPairsSql(
    s"""idx AS (SELECT * FROM read_parquet('${pth("opq_idx")}/*.parquet')),
       |pr AS (SELECT * FROM read_parquet('${pth("ivf_probe")}/*.parquet')),
       |book AS (SELECT * FROM read_parquet('${pth("opq_book")}/*.parquet')),
       |rot AS (SELECT * FROM read_parquet('${pth("opq_rot")}/*.parquet')),
       |zq AS (
       |  SELECT qe.vec_id AS q_id,
       |    list(${vdotSql("qe.embedding", "r.rcol")} ORDER BY r.j) AS z
       |  FROM n qe, rot r WHERE qe.vec_id < $NQueries
       |  GROUP BY qe.vec_id),
       |cp AS (
       |  SELECT DISTINCT pr.q_id, idx.c_id, idx.codes
       |  FROM pr JOIN idx USING (cell) WHERE pr.q_id <> idx.c_id),
       |recon AS (
       |  SELECT c.c_id, flatten(list(b.subvec ORDER BY b.sub)) AS rv
       |  FROM (SELECT DISTINCT c_id, codes FROM cp) c
       |  JOIN book b ON b.code = c.codes[b.sub + 1]
       |  GROUP BY c.c_id),
       |adc AS (
       |  SELECT cp.q_id, cp.c_id,
       |    ${vdotSql("z.z", "r.rv")} /
       |      (sqrt(${vdotSql("z.z", "z.z")}) * sqrt(${vdotSql("r.rv", "r.rv")}))
       |      AS adc
       |  FROM cp JOIN zq z ON z.q_id = cp.q_id
       |    JOIN recon r ON r.c_id = cp.c_id),
       |cand AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, c_id) AS arank FROM adc) a
       |  WHERE arank <= $RerankC)""".stripMargin)

  // IVF + RESIDUAL PQ — the VERDICT-flagged upgrade over plain IVF-PQ:
  // candidates are coded as PQ(vec − cell centroid) instead of PQ(vec),
  // so the fixed 8×5-bit budget models only the fine structure the cell
  // doesn't explain. Index shape, join shape, shortlist and exact
  // re-rank are identical to `simsearch_ivfpq`; only the encode/ADC
  // kernels change. Honesty note: the synthetic corpus is RQ's worst
  // case — it has no cluster structure (mean cos to own centroid ≈ 0.14),
  // so here the cell explains little variance and residual coding only
  // matches plain PQ (recall ≥ 0.8 still asserted). The MSE advantage
  // residuals exist for appears exactly when data IS clustered —
  // SimilaritySpec plants a clustered corpus and asserts the
  // reconstruction error drops there.
  private def ivfRqTopK(s: SparkSession, dir: String): DataFrame = {
    val (dim, cmat, _) = fitCentroids(s, dir)
    val (rdim, book) = fitRq(s, dir)
    require(rdim == dim)
    val assign = assignFor(cmat.length / dim)
    val cLit = typedLit(cmat.toSeq)
    val bLit = typedLit(book.toSeq)
    persistBook(s, dir, "rq_book", book, dim)
    // the coarse centroids anchor each reconstruction — persist as rows
    locally {
      import s.implicits._
      persistO(s, dir, "rq_cmat",
        (0 until cmat.length / dim).map(c =>
            (c, cmat.slice(c * dim, c * dim + dim).toSeq))
          .toDF("cell", "cent"))
    }
    val e = normed(s, dir)
    // compressed index: (cell, c_id, codes-under-that-cell)
    val idx = persistO(s, dir, "rq_idx",
      e.select(col("vec_id").as("c_id"), col("embedding"),
          explode(gf.ivf_cells(col("embedding"), cLit, lit(dim), lit(assign)))
            .as("cell"))
        .select(col("c_id"), col("cell"),
          gf.pq_encode_res(col("embedding"), col("cell"), cLit, bLit,
            lit(dim), lit(PqM), lit(PqKs)).as("codes")))
    val wAdc = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("c_id"))
    val shortlist = probedCells(s, dir).join(idx, "cell")
      .filter(col("q_id") =!= col("c_id"))
      .join(broadcast(queryVecs(e)), "q_id")
      .select(col("q_id"), col("c_id"),
        gf.pq_adc_cos_res(col("q_emb"), col("cell"), col("codes"), cLit, bLit,
          lit(dim), lit(PqM), lit(PqKs)).as("adc"))
      // a candidate met through several probed cells carries per-cell ADC
      // scores: keep the best (max over reconstructions), deterministic
      .groupBy("q_id", "c_id")
      .agg(max(col("adc")).as("adc"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= RerankC)
    rankPairs(e, shortlist.select("q_id", "c_id"))
  }

  private def ivfRqSql: String = rankPairsSql(
    s"""idx AS (SELECT * FROM read_parquet('${pth("rq_idx")}/*.parquet')),
       |pr AS (SELECT * FROM read_parquet('${pth("ivf_probe")}/*.parquet')),
       |book AS (SELECT * FROM read_parquet('${pth("rq_book")}/*.parquet')),
       |cm AS (SELECT * FROM read_parquet('${pth("rq_cmat")}/*.parquet')),
       |res AS (
       |  SELECT i.c_id, i.cell, flatten(list(b.subvec ORDER BY b.sub)) AS resv
       |  FROM idx i JOIN book b ON b.code = i.codes[b.sub + 1]
       |  GROUP BY i.c_id, i.cell),
       |recon AS (
       |  SELECT r.c_id, r.cell,
       |    list_transform(list_zip(cm.cent, r.resv), p -> p[1] + p[2]) AS rv
       |  FROM res r JOIN cm USING (cell)),
       |adcs AS (
       |  SELECT pr.q_id, r.c_id,
       |    ${vdotSql("qe.embedding", "r.rv")} /
       |      (qe.norm * sqrt(${vdotSql("r.rv", "r.rv")})) AS adc
       |  FROM pr JOIN recon r ON pr.cell = r.cell AND pr.q_id <> r.c_id
       |    JOIN n qe ON qe.vec_id = pr.q_id),
       |madc AS (
       |  SELECT q_id, c_id, max(adc) AS adc FROM adcs GROUP BY 1, 2),
       |cand AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, c_id) AS arank FROM madc) a
       |  WHERE arank <= $RerankC)""".stripMargin)

  // Per-label centroid diagnostics — the "is this cluster/label coherent"
  // check a curation pipeline runs over an embedded corpus: element-wise
  // mean vector per label, then each member's cosine against its own
  // centroid. Plan shape: posexplode → (label, dim) hash agg (shuffle keyed
  // by the composite, parallelism scales with |corpus|·dim), centroids
  // rebuilt as |labels| rows and BROADCAST back onto the members — the
  // fact-side scan never shuffles. Float discipline: centroid components
  // are rounded to 9 decimals in both engines (cross-row sums are
  // partition-order-dependent), then each member cosine is an ordered
  // deterministic fold against that rounded centroid; the published
  // aggregates round to 6.
  /** Round-9-parity centroid (and its L2 norm) per key over an
    * (key, embedding) frame: posexplode → per-(key, pos) rounded avg →
    * struct-sort reassembly. ONE body shared by embed_centroids and
    * knn_keep_best — the parity discipline must not fork by copy. */
  private def centroidOf(m: DataFrame, key: String): DataFrame =
    m.select(col(key), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(key, "pos")
      .agg(round(avg(col("x").cast("double")), 9).as("c"))
      .groupBy(key)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        p => p.getField("c")).as("centroid"))
      .withColumn("cnorm",
        sqrt(gf.vec_dot_d(col("centroid"), col("centroid"))))

  /** SQL twin of [[centroidOf]]: the d/cd/cent/cn CTE chain over `src`
    * keyed by `key`. */
  private def centroidCtes(src: String, key: String): String =
    s"""d AS (
       |  SELECT $key,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x,
       |    unnest(range(1, len(embedding) + 1)) AS i
       |  FROM $src),
       |cd AS (SELECT $key, i, round(avg(x), 9) AS c FROM d GROUP BY 1, 2),
       |cent AS (
       |  SELECT $key, list(c ORDER BY i) AS centroid FROM cd GROUP BY 1),
       |cn AS (
       |  SELECT $key, centroid,
       |    sqrt(${vdotSql("centroid", "centroid")}) AS cnorm
       |  FROM cent)""".stripMargin

  private def embedCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cent = centroidOf(e, "label")
    val members = e.select(col("label"), col("vec_id"), col("embedding"),
      sqrt(vdot(col("embedding"), col("embedding"))).as("norm"))
    members.join(broadcast(cent), "label")
      .select(col("label"), col("cnorm"),
        (gf.vec_dot_fd(col("embedding"), col("centroid")) /
          (col("norm") * col("cnorm"))).as("cos"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(first(col("cnorm")), 6).as("centroid_norm"),
        round(avg(col("cos")), 6).as("avg_cos_to_centroid"),
        round(min(col("cos")), 6).as("min_cos_to_centroid"))
      .orderBy("label")
  }

  private def embedCentroidsSql =
    s"""WITH ${centroidCtes("embeddings", "label")},
       |m AS (
       |  SELECT e.label, e.vec_id, cn.cnorm,
       |    ${vdotSql("e.embedding", "cn.centroid")} /
       |      (sqrt(${vdotSql("e.embedding", "e.embedding")}) * cn.cnorm) AS cos
       |  FROM embeddings e JOIN cn ON e.label = cn.label)
       |SELECT label, count(*) AS n_vecs,
       |  round(any_value(cnorm), 6) AS centroid_norm,
       |  round(avg(cos), 6) AS avg_cos_to_centroid,
       |  round(min(cos), 6) AS min_cos_to_centroid
       |FROM m GROUP BY label ORDER BY label""".stripMargin

  // ---- contrastive hard-negative mining ----
  // Every vector is an anchor (mining feeds training, so the "query set"
  // is the whole corpus, unlike the benchmark simsearch_* family): for
  // each anchor return the HnK most-cosine-similar vectors carrying a
  // DIFFERENT label — the semi-hard negatives a contrastive loss wants.
  // Candidate generation is the fitted IVF coarse quantizer (anchor
  // probes `probe` cells, index side holds `assign` cells), so the
  // candidate join is a cell equi-join carrying (id, label) only — at
  // 100 TB the shuffle is ids+labels, never embeddings, and no pair of
  // vectors outside shared cells is ever scored. Raw vectors stream
  // through exactly two id-keyed hash joins for the exact-cosine rank;
  // the per-anchor top-K runs as a WindowGroupLimit (partial rank cap
  // before the anchor-keyed exchange). Exactly oracled: both cell
  // frames persist, and the mirror replays the label-filtered cell
  // join + ordered-fold cosine + (desc cos, asc id) rank.
  private[graft] val HnK = 4

  /** The shared mined-candidate top-K builder behind `hard_negatives`
    * and `knn_graph` — ONE body (the review rule: the two queries share
    * the persisted hn_idx/hn_probe frames write-once, so their index
    * construction must be definitionally identical, not copy-identical).
    * The exclusion predicate is the only variation point: cross-label
    * for negative mining (same id ⇒ same label ⇒ excluded), cross-id
    * for the neighbor graph. Output: (a_id, c_id, cos_sim, rank ≤ k). */
  private def minedTopK(s: SparkSession, dir: String,
      exclude: Column, k: Int): DataFrame = {
    val model = fitMiningModel(s, dir)
    val emb = t(s, dir, "embeddings")
    val idx = persistO(s, dir, "hn_idx",
      emb.select(col("vec_id").as("c_id"), col("label").as("c_label"),
        explode(miningCells(s, model, col("embedding"), MineAssign))
          .as("cell")))
    val pr = persistO(s, dir, "hn_probe",
      emb.select(col("vec_id").as("a_id"), col("label").as("a_label"),
        explode(miningCells(s, model, col("embedding"), MineProbe))
          .as("cell")))
    val e = normed(s, dir)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("norm").as("a_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"))
    val w = Window.partitionBy("a_id")
      .orderBy(col("cos_sim").desc, col("c_id"))
    // Cell-LOCAL scoring — the sf10 decade finding. Candidate count is
    // exactly linear (92 distinct pairs/anchor at sf1 AND sf10, measured
    // by a one-off stage probe), but the old plan deduped first and then joined
    // both embedding sides onto the O(candidates) stream: at sf10 that
    // second join shuffled 184M rows × ~300 B of attached embedding —
    // ~55 GB for one exchange, and hard_negatives measured 25.7× at 10×
    // data on shuffle bytes alone. Embeddings must ride the O(N) cell
    // frames instead (one id-equi-join each, ∝ corpus size), so the
    // candidate stream carries only (a_id, c_id, cos_sim) scalars —
    // 24 B/row, ~4.5 GB where 55 GB stood. Multi-cell duplicate pairs
    // (~1.5 %) are now scored then max-merged; identical inputs give the
    // identical double, so the result — and the DuckDB mirror, which
    // still reads the UNCHANGED persisted 3-column hn_idx/hn_probe
    // frames — is byte-identical to the dedup-first plan.
    val idxE = idx.join(c, "c_id")
    val prE = pr.join(a, "a_id")
    // Explicit pre-join spread of the probe side: when the index side
    // broadcasts, the join would inherit the probe scan's partitioning —
    // a handful of narrow input splits fanning out to millions of
    // candidate rows inside too few tasks; the explicit partition count
    // keeps AQE from coalescing the small pre-fanout bytes into one
    // task. Keyed on `cell` ALONE (round 12): hashing on (cell, a_id)
    // does NOT satisfy the cell-join's clustering requirement, so in the
    // sort-merge regime (index side over the broadcast threshold once
    // embeddings ride it — the regime this sf0.1+ shape actually plans)
    // EnsureRequirements stacked a SECOND full exchange of the
    // embedding-laden probe side right on top (plan nodes (9)+(10) in
    // plans/r12/hard_negatives_before.txt) — O(corpus)·~300 B of pure
    // waste at every scale. hash(cell) is reused by the join directly,
    // and intra-cell spread is not lost: cells are constant-occupancy by
    // construction, so #cells >> #partitions spreads evenly. The
    // post-score exchange hashes on a_id ALONE: hash(a_id) satisfies the
    // (a_id, c_id) dedup-agg's clustering requirement AND the top-k
    // window's, so one 24-byte-row shuffle serves both.
    prE.repartition(s.sessionState.conf.numShufflePartitions, col("cell"))
      .join(idxE, "cell")
      .filter(exclude)
      .select(col("a_id"), col("c_id"),
        (vdot(col("a_emb"), col("c_emb")) / (col("a_norm") * col("c_norm")))
          .as("cos_sim"))
      .repartition(s.sessionState.conf.numShufflePartitions, col("a_id"))
      .groupBy("a_id", "c_id").agg(max(col("cos_sim")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** SQL twin of [[minedTopK]] up through the rank CTE; the exclusion
    * predicate mirrors the Spark variation point. */
  private def minedCtes(excludePred: String): String =
    s"""n AS MATERIALIZED ($normedSql),
       |idx AS (SELECT * FROM read_parquet('${pth("hn_idx")}/*.parquet')),
       |pr AS (SELECT * FROM read_parquet('${pth("hn_probe")}/*.parquet')),
       |cand AS (
       |  SELECT DISTINCT pr.a_id, idx.c_id
       |  FROM pr JOIN idx USING (cell)
       |  WHERE $excludePred),
       |sims AS (
       |  SELECT cand.a_id, cand.c_id,
       |    ${vdotSql("ae.embedding", "ce.embedding")} / (ae.norm * ce.norm)
       |      AS cos_sim
       |  FROM cand
       |  JOIN n ae ON ae.vec_id = cand.a_id
       |  JOIN n ce ON ce.vec_id = cand.c_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY a_id
       |    ORDER BY cos_sim DESC, c_id) AS rank
       |  FROM sims)""".stripMargin

  private def hardNegatives(s: SparkSession, dir: String): DataFrame =
    minedTopK(s, dir, col("a_label") =!= col("c_label"), HnK)
      .select(col("a_id"), col("c_id").as("neg_id"), col("cos_sim"), col("rank"))
      .orderBy("a_id", "rank")

  private def hardNegativesSql: String =
    s"""WITH ${minedCtes("pr.a_label <> idx.c_label")}
       |SELECT a_id, c_id AS neg_id, cos_sim, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $HnK ORDER BY a_id, rank""".stripMargin

  // ---- corpus-wide k-NN graph ----
  // The neighbor graph SemDeDup-style semantic curation, graph-based
  // cluster refinement, and label propagation all start from: for EVERY
  // vector, its KnnK nearest neighbors by cosine. Structurally
  // hard_negatives without the label exclusion (self excluded by id) —
  // and it REUSES hard_negatives' persisted cell frames verbatim
  // (persistForOracle is write-once per dataset content, so whichever of
  // the two queries runs first pays the index build; the production
  // amortization of sharing one coarse quantizer across consumers).
  // Scale shape is identical: constant-occupancy cells keep total work
  // O(N); the candidate join moves (id, cell) pairs only; vectors enter
  // through two id-keyed joins at the exact-cosine rank.
  private[graft] val KnnK = 4

  // The ranked k·N neighbor frame is the shared input of FIVE catalog
  // queries (graph, mutual, components, label_prop, keep_best via
  // components); content-cache its materialization so a consumer that
  // reads it twice (knn_mutual's self-join: 2 full core builds without
  // this, measured 10.2 s vs knn_graph's 3.8 s at sf1) — or two
  // consumers in one session — pay the cells + candidate join + exact
  // rank ONCE. Same Lru + eviction-unpersist discipline as [[compCache]];
  // the checkpointed frame is N·K narrow rows, the op family's own
  // output scale.
  // Capacity 4 = the compCache precedent; the eviction-safety invariant
  // is labelsCache's (DedupOps): an evicted checkpoint is UNRECOVERABLE,
  // and safety rests on evictions needing >capacity DISTINCT dataset
  // contents while every harness runs one dir at a time. A consumer
  // holding a LAZY frame over the core must execute it before that many
  // other datasets build cores.
  private val coreCache =
    new ContentKey.Lru[DataFrame](4, ContentKey.freeOnEvict("coreCache"))

  private def knnCore(s: SparkSession, dir: String): DataFrame = {
    val key = ContentKey.ofScoped(s, Seq(dir))
    val core = coreCache.get(key) {
      minedTopK(s, dir, col("a_id") =!= col("c_id"), KnnK)
        .select(col("a_id").as("vec_id"), col("c_id").as("nbr_id"),
          col("cos_sim"), col("rank"))
        .localCheckpoint()
    }
    reRegisterO(dir, "hn_idx", "hn_probe") // mirrors read these on hit too
    core
  }

  private def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnCore(s, dir).orderBy("vec_id", "rank")

  /** Shared CTE chain of the k-NN graph mirror, extended by the
    * label-propagation mirror below. */
  private def knnCtes: String = minedCtes("pr.a_id <> idx.c_id")

  private def knnGraphSql: String =
    s"""WITH $knnCtes
       |SELECT a_id AS vec_id, c_id AS nbr_id, cos_sim, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $KnnK ORDER BY vec_id, rank""".stripMargin

  // ---- mutual k-NN edges ----
  // The symmetric core of the neighbor graph: an edge survives only if
  // BOTH endpoints rank each other inside their top-[[KnnK]] (Brito et
  // al. 1997's mutual-kNN graph — the standard robustness filter before
  // density clustering: hub vectors collect thousands of one-way
  // in-edges; requiring reciprocity strips exactly those). One equi
  // self-join of the k·N edge frame on the reversed key pair — the
  // heavy work (cells, candidate join, exact rank) is the SHARED knn
  // core both orientations read; the join itself moves (id, id, rank)
  // triples only.
  private def knnMutual(s: SparkSession, dir: String): DataFrame = {
    val g = knnCore(s, dir)
    val rev = g.select(col("nbr_id").as("vec_id"),
      col("vec_id").as("nbr_id"), col("rank").as("rank_back"))
    g.join(rev, Seq("vec_id", "nbr_id"))
      .filter(col("vec_id") < col("nbr_id"))
      .select(col("vec_id").as("u"), col("nbr_id").as("v"),
        col("cos_sim"), col("rank"), col("rank_back"))
      .orderBy("u", "v")
  }

  private def knnMutualSql: String =
    s"""WITH $knnCtes,
       |-- MATERIALIZED: joined against itself reversed
       |k AS MATERIALIZED (
       |  SELECT a_id AS vec_id, c_id AS nbr_id, cos_sim, rank
       |  FROM ranked WHERE rank <= $KnnK)
       |SELECT k.vec_id AS u, k.nbr_id AS v, k.cos_sim,
       |  CAST(k.rank AS INT) AS rank, CAST(r.rank AS INT) AS rank_back
       |FROM k JOIN k r ON r.vec_id = k.nbr_id AND r.nbr_id = k.vec_id
       |WHERE k.vec_id < k.nbr_id ORDER BY u, v""".stripMargin

  // ---- semantic components over the k-NN graph ----
  // Cluster ids from the neighbor graph: keep edges with cosine ≥
  // [[KnnTau]], take connected components — the grouping SemDeDup-style
  // curation, near-dup audit sampling, and per-cluster quota enforcement
  // all consume. Reuses [[DedupOps.propagateMin]] (pointer-jumping,
  // O(log diameter) rounds) over the shared knn core; the threshold
  // compare is on cosines both engines compute as the identical ordered
  // fold, so edge sets — and therefore components — agree exactly.
  // Isolated vectors become their own singleton cluster.
  private[graft] val KnnTau = 0.35

  // Components are consumed by TWO catalog queries (knn_components,
  // knn_keep_best): the ~seconds-scale closure build (knn core +
  // pointer-jump rounds) is cached per dataset content — the
  // resolvedLabels discipline. ofScoped, not of: the cached frame holds
  // localCheckpoint blocks bound to the live SparkContext.
  // onEvict unpersists: localCheckpoint blocks survive the reference drop
  // otherwise, pinning executor storage for the context lifetime.
  private val compCache =
    new ContentKey.Lru[DataFrame](4, ContentKey.freeOnEvict("compCache"))

  /** Mirror unroll depth for the knn-component closure: pointer jumping
    * covers diameter 2^n, so 12 rounds reach any component the data can
    * realistically hold; the Spark side fails LOUDLY (kcore's unroll
    * discipline) if its measured round count ever exceeds this. */
  private[graft] val KnnWalkUnroll = 12

  private def knnComponentsCore(s: SparkSession, dir: String): DataFrame = {
    val key = ContentKey.ofScoped(s, Seq(dir))
    val comp = compCache.get(key) {
      val g = knnCore(s, dir).filter(col("cos_sim") >= KnnTau)
        .select(col("vec_id").as("u"), col("nbr_id").as("v"))
      val edges = g.union(g.select(col("v").as("u"), col("u").as("v")))
      val (labels, rounds) = DedupOps.propagateMin(edges)
      // the oracle unrolls exactly KnnWalkUnroll rounds: a slower-
      // converging graph must fail loudly here, not hash-mismatch there
      require(rounds <= KnnWalkUnroll,
        s"knn components needed $rounds > $KnnWalkUnroll propagation " +
          "rounds; widen the SQL unroll")
      val out = t(s, dir, "embeddings").select(col("vec_id"))
        .join(labels.withColumnRenamed("doc_id", "vec_id"),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("label"), col("vec_id")).as("cluster"))
        .localCheckpoint()
      // the eager checkpoint above supersedes propagateMin's final
      // frame; labels is loop-local here (unlike resolvedLabels, which
      // caches it), so free its blocks instead of leaving them to GC
      GraftSqlBridge.freeLocalCheckpoint(labels)
      out
    }
    // a compCache hit skips knnCore entirely — the components mirrors
    // still read the mined frames, so re-point the registry here too
    reRegisterO(dir, "hn_idx", "hn_probe")
    comp
  }

  private def knnComponents(s: SparkSession, dir: String): DataFrame =
    knnComponentsCore(s, dir).orderBy("vec_id")

  /** Unrolled min-label propagation rounds over the `edges` CTE (the
    * kcore unroll discipline): each round materializes the per-id min
    * over {self, edge-propagated, pointer-jumped} candidate labels — the
    * exact update [[DedupOps.propagateMin]] folds, so the last round is
    * the same fixpoint provided the engine converged within the unroll
    * (guarded loudly above). O(rounds·|E|) replay: the recursive-walk
    * formulation this replaces is O(Σ component²) — the round-8 sf1
    * oracle sweep measured it at >900 s / >35 GB on sf1's giant knn
    * component, while the unroll replays in seconds. Ends at `comp` =
    * (vec_id, cluster). */
  private def compCtes: String = {
    val rounds = (1 to KnnWalkUnroll).map { r =>
      s"""w$r AS MATERIALIZED (
         |  SELECT id, min(cand) AS label FROM (
         |    SELECT id, label AS cand FROM w${r - 1}
         |    UNION ALL
         |    SELECT e.v AS id, w.label AS cand
         |    FROM w${r - 1} w JOIN edges e ON e.u = w.id
         |    UNION ALL
         |    SELECT a.id, b.label AS cand
         |    FROM w${r - 1} a JOIN w${r - 1} b ON a.label = b.id)
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""g AS MATERIALIZED (
       |  SELECT a_id, c_id FROM ranked
       |  WHERE rank <= $KnnK AND cos_sim >= $KnnTau),
       |edges AS MATERIALIZED (
       |  -- MATERIALIZED is load-bearing: w1..w$KnnWalkUnroll each
       |  -- reference edges, and DuckDB inlines plain CTEs per reference —
       |  -- 12 re-evaluations of the candidate ranking spilled the disk at
       |  -- sf1 before these two hints
       |  SELECT a_id AS u, c_id AS v FROM g
       |  UNION SELECT c_id, a_id FROM g),
       |w0 AS MATERIALIZED (
       |  SELECT vec_id AS id, vec_id AS label FROM embeddings),
       |$rounds,
       |comp AS (
       |  SELECT id AS vec_id, label AS cluster FROM w$KnnWalkUnroll)""".stripMargin
  }

  private def knnComponentsSql: String =
    s"""WITH $knnCtes,
       |$compCtes
       |SELECT vec_id, cluster FROM comp ORDER BY vec_id""".stripMargin

  // ---- per-cluster keeper selection (SemDeDup keep rule) ----
  // The embedding-space analog of dedup_keep_best: inside each semantic
  // cluster keep the most REPRESENTATIVE member — argmax cosine to the
  // cluster centroid (SemDeDup's keep-closest-to-centroid rule), ties
  // to the smaller id. Centroids use the embed_centroids round-9 parity
  // discipline; the argmax compares round(cos, 6) values, so the pick
  // is engine-identical. The centroid frame is |clusters|·D rows —
  // potentially O(N) with singletons — so it joins by cluster key,
  // NEVER broadcast (unlike the |labels|-bounded embed_centroids).
  private def knnKeepBest(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .join(knnComponentsCore(s, dir), "vec_id")
    val cent = centroidOf(m, "cluster")
    val w = Window.partitionBy("cluster")
      .orderBy(col("cos_r").desc, col("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    m.withColumn("norm", sqrt(vdot(col("embedding"), col("embedding"))))
      .join(cent, "cluster")
      .select(col("vec_id"), col("cluster"),
        round(gf.vec_dot_fd(col("embedding"), col("centroid")) /
          (col("norm") * col("cnorm")), 6).as("cos_r"))
      .withColumn("keep_id", first(col("vec_id")).over(w))
      .select(col("vec_id"), col("cluster"), col("cos_r"), col("keep_id"),
        (col("vec_id") === col("keep_id")).as("is_keeper"))
      .orderBy("vec_id")
  }

  private def knnKeepBestSql: String =
    s"""WITH $knnCtes,
       |$compCtes,
       |mx AS (
       |  SELECT e.vec_id, comp.cluster, e.embedding
       |  FROM embeddings e JOIN comp USING (vec_id)),
       |${centroidCtes("mx", "cluster")},
       |sc AS (
       |  SELECT mx.vec_id, mx.cluster,
       |    round(${DedupOps.vdotSql("mx.embedding", "cn.centroid")} /
       |      (sqrt(${DedupOps.vdotSql("mx.embedding", "mx.embedding")})
       |        * cn.cnorm), 6) AS cos_r
       |  FROM mx JOIN cn USING (cluster))
       |SELECT vec_id, cluster, cos_r,
       |  first_value(vec_id) OVER (PARTITION BY cluster
       |    ORDER BY cos_r DESC, vec_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |    AS keep_id,
       |  first_value(vec_id) OVER (PARTITION BY cluster
       |    ORDER BY cos_r DESC, vec_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |    = vec_id AS is_keeper
       |FROM sc ORDER BY vec_id""".stripMargin

  // ---- k-NN label propagation ----
  // The pseudo-labeling step over the neighbor graph: each vector's
  // predicted label is the majority vote of its KnnK nearest neighbors
  // (ties broken by smaller label — a total order, so both engines pick
  // identically). The agreement flag against the vector's own label is
  // the confusion signal semi-supervised pipelines threshold on.
  // Incremental cost over knn_graph: one |edges| groupBy and two
  // broadcast-scale joins of the (id, label) table — the graph build
  // (shared persisted frames) dominates.
  private def knnLabelProp(s: SparkSession, dir: String): DataFrame = {
    val lbl = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val votes = knnCore(s, dir)
      .join(lbl.select(col("vec_id").as("nbr_id"),
        col("label").as("nbr_label")), "nbr_id")
      .groupBy("vec_id", "nbr_label").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("votes").desc, col("nbr_label"))
    votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(lbl, "vec_id")
      .select(col("vec_id"), col("label"),
        col("nbr_label").as("pred_label"), col("votes"),
        (col("label") === col("nbr_label")).as("agree"))
      .orderBy("vec_id")
  }

  private def knnLabelPropSql: String =
    s"""WITH $knnCtes,
       |g AS (SELECT a_id, c_id FROM ranked WHERE rank <= $KnnK),
       |votes AS (
       |  SELECT g.a_id, e.label AS nbr_label, count(*) AS votes
       |  FROM g JOIN embeddings e ON e.vec_id = g.c_id
       |  GROUP BY 1, 2),
       |pick AS (
       |  SELECT *, row_number() OVER (PARTITION BY a_id
       |    ORDER BY votes DESC, nbr_label) AS rn
       |  FROM votes)
       |SELECT p.a_id AS vec_id, e.label, p.nbr_label AS pred_label,
       |  p.votes, e.label = p.nbr_label AS agree
       |FROM pick p JOIN embeddings e ON e.vec_id = p.a_id
       |WHERE p.rn = 1 ORDER BY vec_id""".stripMargin

  // ---- PCA whitening ----
  // Distributed fit, driver eigensolve, distributed apply — the standard
  // embedding-preprocessing pass (whitening before cosine/ANN, e.g.
  // DiskANN/SPANN pipelines). Fit is two narrow passes over the corpus:
  // (1) per-position mean — a d-key aggregate, d doubles to the driver;
  // (2) centered outer products aggregated by (i, j) — the explode is
  // in-executor and partial aggregation collapses each partition to ≤ d²
  // rows before the only shuffle (d² keys total, independent of corpus
  // size), so the covariance pass scales to 100 TB with a shuffle the
  // size of a floppy disk. The d×d eigensolve is driver-side cyclic
  // Jacobi (fixed sweep order + count ⇒ deterministic given the rounded
  // covariance; d = embedding dim, so cost is microscopic next to the
  // scan). Apply is a broadcast of the P whitening rows against the
  // corpus — no shuffle until the presentation sort. Float discipline:
  // mean and covariance round to 9 (cross-row sums are partition-order
  // dependent — the embed_centroids rule); projections are ordered
  // vec_dot folds against the PERSISTED model frame, so the mirror
  // replays them bit-for-bit and the output rounds to 6.
  private[graft] val PcaP = 8 // whitened components kept
  private val PcaSweeps = 24 // cyclic Jacobi sweeps (machine-precision at d=64)

  /** Cyclic Jacobi eigensolve of a symmetric n×n (row-major). Returns
    * (eigenvalues, eigenvector-columns); deterministic: fixed (p,q) sweep
    * order, fixed sweep count, no data-dependent thresholds. */
  private def jacobiEig(a0: Array[Double], n: Int): (Array[Double], Array[Double]) = {
    val a = a0.clone()
    val v = Array.tabulate(n * n)(k => if (k / n == k % n) 1.0 else 0.0)
    for (_ <- 0 until PcaSweeps; p <- 0 until n - 1; q <- p + 1 until n) {
      val apq = a(p * n + q)
      if (apq != 0.0) {
        val theta = (a(q * n + q) - a(p * n + p)) / (2.0 * apq)
        val t = (if (theta >= 0.0) 1.0 else -1.0) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val sn = t * c
        var k = 0
        while (k < n) { // column rotation
          val akp = a(k * n + p); val akq = a(k * n + q)
          a(k * n + p) = c * akp - sn * akq
          a(k * n + q) = sn * akp + c * akq
          k += 1
        }
        k = 0
        while (k < n) { // row rotation
          val apk = a(p * n + k); val aqk = a(q * n + k)
          a(p * n + k) = c * apk - sn * aqk
          a(q * n + k) = sn * apk + c * aqk
          k += 1
        }
        k = 0
        while (k < n) { // accumulate eigenvectors
          val vkp = v(k * n + p); val vkq = v(k * n + q)
          v(k * n + p) = c * vkp - sn * vkq
          v(k * n + q) = sn * vkp + c * vkq
          k += 1
        }
      }
    }
    (Array.tabulate(n)(i => a(i * n + i)), v)
  }

  /** Fit + persist the whitening model: rows (comp, lambda, w, b) where
    * projection_p(x) = dot(x, w_p) − b_p (the mean-offset folded into a
    * scalar so the apply side never joins the mean). */
  private def fitPcaModel(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val mu = emb.select(posexplode(col("embedding")).as(Seq("i", "xi")))
      .groupBy("i").agg(round(avg(col("xi").cast("double")), 9).as("mu"))
      .orderBy("i").collect().map(_.getDouble(1))
    val dim = mu.length
    val muLit = typedLit(mu.toSeq)
    val cov = emb
      .select(zip_with(col("embedding"), muLit,
        (x, m) => x.cast("double") - m).as("cv"))
      .select(posexplode(col("cv")).as(Seq("i", "ci")), col("cv"))
      .select(col("i"), col("ci"), posexplode(col("cv")).as(Seq("j", "cj")))
      .groupBy("i", "j").agg(round(avg(col("ci") * col("cj")), 9).as("c"))
      .collect()
    val covM = Array.ofDim[Double](dim * dim)
    cov.foreach(r => covM(r.getInt(0) * dim + r.getInt(1)) = r.getDouble(2))
    val (ev, vecs) = jacobiEig(covM, dim)
    val rows = (0 until dim).sortBy(i => (-ev(i), i)).take(PcaP)
      .zipWithIndex.map { case (ei, p) =>
        var w = Array.tabulate(dim)(k => vecs(k * dim + ei))
        // sign convention: first largest-|component| is positive
        val mx = w.indices.maxBy(k => (math.abs(w(k)), -k))
        if (w(mx) < 0.0) w = w.map(x => -x)
        val scaled = {
          val sc = 1.0 / math.sqrt(math.max(ev(ei), 0.0) + 1e-9)
          w.map(_ * sc)
        }
        var b = 0.0
        var k = 0
        while (k < dim) { b += scaled(k) * mu(k); k += 1 }
        (p, ev(ei), scaled.toSeq, b)
      }
    import s.implicits._
    persistO(s, dir, "pca_model", rows.toDF("comp", "lambda", "w", "b"))
  }

  private def embedPca(s: SparkSession, dir: String): DataFrame = {
    val model = fitPcaModel(s, dir)
    t(s, dir, "embeddings")
      .crossJoin(broadcast(model)) // P-row whitening model side
      .select(col("vec_id"), col("comp"),
        round(gf.vec_dot_fd(col("embedding"), col("w")) - col("b"), 6)
          .as("value"))
      .orderBy("vec_id", "comp")
  }

  private def embedPcaSql: String =
    s"""WITH m AS (SELECT * FROM read_parquet('${pth("pca_model")}/*.parquet'))
       |SELECT e.vec_id, m.comp,
       |  round(${vdotSql("e.embedding", "m.w")} - m.b, 6) AS value
       |FROM embeddings e, m
       |ORDER BY vec_id, comp""".stripMargin

  // ---- shared ANN-leg result cache ----
  // `ann_recall_report` composes SIX of the catalog's ANN queries (the
  // brute anchor + five index families); without sharing, every report
  // call re-runs every index build (3.18 s at sf0.1 — the round-8
  // verdict's top cache candidate) and every leg's own catalog entry
  // pays its build again per call. Cache each leg's RESULT frame —
  // |Q|·[[TopK]] ≈ 40 rows, the cheapest frame in the family; the
  // builds are the cost — keyed by (context, dataset content, leg):
  // the knn-core economics one level up. Contract: `compute` returns an
  // ALREADY localCheckpoint()ed frame — the cache owns it and frees it
  // on eviction (the labelsCache invariant); capacity covers two
  // datasets' worth of the whole family plus slack.
  private val legCache =
    new ContentKey.Lru[DataFrame](24, ContentKey.freeOnEvict("legCache"))

  private def cachedLeg(s: SparkSession, dir: String, leg: String,
      subs: Seq[String])(compute: => DataFrame): DataFrame = {
    val df = legCache.get(
      s"${ContentKey.ofScoped(s, Seq(dir))}/$leg")(compute)
    // a HIT skips the compute path's persistO calls; the mirrors still
    // read the persisted frames, so re-point the registry on every get
    reRegisterO(dir, subs: _*)
    df
  }

  private val IvfSubs = Seq("ivf_idx", "ivf_probe")

  private def bruteTopKC(s: SparkSession, dir: String): DataFrame = {
    // the anchor guard fires per ACCESS, not per build: refusing the
    // brute anchor above the row guard (naming the scale twin) is
    // policy, and a cache hit must not bypass policy
    ExactAnchorGuard.check(s, dir, "embeddings",
      "simsearch_topk", "simsearch_lsh/simsearch_ivf")
    cachedLeg(s, dir, "brute", Nil)(bruteTopK(s, dir).localCheckpoint())
  }
  private def lshTopKC(s: SparkSession, dir: String): DataFrame =
    cachedLeg(s, dir, "lsh", Seq("lsh_idx", "lsh_probe"))(
      lshTopK(s, dir).localCheckpoint())
  private def ivfTopKC(s: SparkSession, dir: String): DataFrame =
    cachedLeg(s, dir, "ivf", IvfSubs)(ivfTopK(s, dir).localCheckpoint())
  private def ivfPqTopKC(s: SparkSession, dir: String): DataFrame =
    cachedLeg(s, dir, "ivfpq", Seq("pq_idx", "pq_book") ++ IvfSubs)(
      ivfPqTopK(s, dir).localCheckpoint())
  private def ivfRqTopKC(s: SparkSession, dir: String): DataFrame =
    cachedLeg(s, dir, "ivfrq", Seq("rq_idx", "rq_book", "rq_cmat") ++ IvfSubs)(
      ivfRqTopK(s, dir).localCheckpoint())
  private def ivfOpqTopKC(s: SparkSession, dir: String): DataFrame =
    cachedLeg(s, dir, "ivfopq", Seq("opq_idx", "opq_book", "opq_rot") ++ IvfSubs)(
      ivfOpqTopK(s, dir).localCheckpoint())
  private def mmrTopKC(s: SparkSession, dir: String): DataFrame =
    cachedLeg(s, dir, "mmr", Seq("mmr_rel", "mmr_psim") ++ IvfSubs)(
      mmrSelect(s, dir)) // final greedy round is already checkpointed

  // ---- index-quality report: recall of every ANN variant vs the anchor ----
  // The vector-store QA dashboard, computed in-engine: for each index
  // family, what fraction of the true top-K does it return? Production
  // stores publish exactly this (FAISS's recall@k tables) before
  // switching index types or retuning probe counts. Each leg IS the
  // corresponding catalog query — one definition, composed — joined
  // against the guarded brute anchor; recall is integer-discretized
  // (hits·1e6 div possible) so the report hash-matches cross-engine.
  // The anchor keeps its ExactAnchorGuard: past the guard this report is
  // exactly the operation you run on a SAMPLE, never the full corpus.
  private def annRecallReport(s: SparkSession, dir: String): DataFrame = {
    // anchor and legs come from the shared leg cache: one build per
    // (context, dataset), shared with the legs' own catalog entries.
    // The checkpointed anchor feeds BOTH the hit join and the
    // denominator without re-running the corpus-wide exact scan (the
    // mirror's `brute AS MATERIALIZED` is the same move); the cache
    // owns the checkpoints and frees them on eviction
    val brute = bruteTopKC(s, dir).select(col("q_id"), col("c_id"))
    val legs = Seq(
      "ivf" -> ivfTopKC(s, dir), "ivfopq" -> ivfOpqTopKC(s, dir),
      "ivfpq" -> ivfPqTopKC(s, dir), "ivfrq" -> ivfRqTopKC(s, dir),
      "lsh" -> lshTopKC(s, dir))
      .map { case (n, df) =>
        df.select(lit(n).as("index_type"), col("q_id"), col("c_id")) }
      .reduce(_ unionAll _)
    // 1-row denominator side (the documented bounds/totals broadcast)
    val possible = brute.groupBy().agg(count(lit(1)).as("possible"))
    legs.join(brute.withColumn("hit", lit(1L)), Seq("q_id", "c_id"), "left")
      .groupBy("index_type")
      .agg(count(lit(1)).as("returned"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .crossJoin(broadcast(possible))
      .select(col("index_type"), col("returned"), col("hits"),
        col("possible"),
        expr("(hits * 1000000) div possible").as("recall_ppm"))
      .orderBy("index_type")
  }

  private def annRecallReportSql: String = {
    val legsSel = Seq("ivf" -> ivfSql, "ivfopq" -> ivfOpqSql,
      "ivfpq" -> ivfPqSql, "ivfrq" -> ivfRqSql, "lsh" -> lshSql)
      .map { case (n, q) =>
        s"SELECT '$n' AS index_type, q_id, c_id FROM (\n$q\n)" }
      .mkString("\nUNION ALL\n")
    s"""WITH legs AS MATERIALIZED ($legsSel),
       |brute AS MATERIALIZED (
       |  SELECT q_id, c_id FROM (
       |$bruteTopKSql
       |)),
       |tot AS (SELECT count(*) AS possible FROM brute)
       |SELECT l.index_type,
       |  CAST(count(*) AS BIGINT) AS returned,
       |  CAST(sum(CASE WHEN b.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS hits,
       |  CAST(any_value(tot.possible) AS BIGINT) AS possible,
       |  CAST(sum(CASE WHEN b.q_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // any_value(tot.possible) AS BIGINT) AS recall_ppm
       |FROM legs l
       |LEFT JOIN brute b ON b.q_id = l.q_id AND b.c_id = l.c_id
       |CROSS JOIN tot
       |GROUP BY l.index_type ORDER BY l.index_type""".stripMargin
  }

  // the cached legs re-apply their presentation sort per read: a
  // checkpointed frame replays stored partitions, and the contract on
  // these queries' output is the explicit ORDER BY of their mirrors
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simsearch_topk" -> ((s, d) => bruteTopKC(s, d).orderBy("q_id", "rank")),
    "simsearch_lsh" -> ((s, d) => lshTopKC(s, d).orderBy("q_id", "rank")),
    "simsearch_ivf" -> ((s, d) => ivfTopKC(s, d).orderBy("q_id", "rank")),
    "simsearch_range" -> (ivfRange _),
    "simsearch_ivf_filtered" -> (ivfFilteredTopK _),
    "simsearch_ivf_delta" -> (ivfDeltaTopK _),
    "simsearch_mmr" -> ((s, d) => mmrTopKC(s, d).orderBy("q_id", "step")),
    "simsearch_ivfpq" -> ((s, d) => ivfPqTopKC(s, d).orderBy("q_id", "rank")),
    "simsearch_ivfrq" -> ((s, d) => ivfRqTopKC(s, d).orderBy("q_id", "rank")),
    "simsearch_ivfopq" -> ((s, d) => ivfOpqTopKC(s, d).orderBy("q_id", "rank")),
    "hard_negatives" -> (hardNegatives _),
    "knn_graph" -> (knnGraph _),
    "knn_mutual" -> (knnMutual _),
    "knn_label_prop" -> (knnLabelProp _),
    "knn_components" -> (knnComponents _),
    "knn_keep_best" -> (knnKeepBest _),
    "embed_pca" -> (embedPca _),
    "embed_centroids" -> (embedCentroids _),
    "ann_recall_report" -> (annRecallReport _))

  // def, not val: the approximate-family mirrors embed the persisted-frame
  // paths recorded when the queries last ran (Verify dumps oracle SQL
  // afterwards, so the paths always describe the compared run)
  def oracle: Map[String, String] = Map(
    "simsearch_topk" -> bruteTopKSql,
    "simsearch_lsh" -> lshSql,
    "simsearch_ivf" -> ivfSql,
    "simsearch_range" -> ivfRangeSql,
    "simsearch_ivf_filtered" -> ivfFilteredSql,
    "simsearch_ivf_delta" -> ivfDeltaSql,
    "simsearch_mmr" -> mmrSql,
    "simsearch_ivfpq" -> ivfPqSql,
    "simsearch_ivfrq" -> ivfRqSql,
    "simsearch_ivfopq" -> ivfOpqSql,
    "hard_negatives" -> hardNegativesSql,
    "knn_graph" -> knnGraphSql,
    "knn_mutual" -> knnMutualSql,
    "knn_label_prop" -> knnLabelPropSql,
    "knn_components" -> knnComponentsSql,
    "knn_keep_best" -> knnKeepBestSql,
    "embed_pca" -> embedPcaSql,
    "embed_centroids" -> embedCentroidsSql,
    "ann_recall_report" -> annRecallReportSql)
}
