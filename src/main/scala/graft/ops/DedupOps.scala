package graft.ops

import graft.Tables
import graft.expr.{functions => gf}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge
import ContentKey.oracleFrame

/** Deduplication operators for the training-data pipeline: exact (hash
  * groupBy), MinHash+LSH (shingle → signature → band → bucket equi-join),
  * SimHash (band-keyed hamming pairs), and n-gram Jaccard. All pair
  * generation goes through equi-join keys (hash buckets / bands), never a
  * cross join — the property that keeps these runnable at 100 TB.
  */
object DedupOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // Exact dedup: group documents by content hash; keep canonical min id.
  private def exact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy("text_hash")

  private val exactSql =
    """SELECT md5(text) AS text_hash, count(*) AS n_copies,
      |  min(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin

  // n-gram (word 3-shingle) Jaccard similarity over candidate pairs that
  // share at least one shingle — the shingle equi-join is the candidate
  // generator (no cross product). Exact integer ratio → exact oracle match.
  //
  // Document-frequency cap: a shingle present in k documents contributes
  // k² candidate rows to the self-join, so one boilerplate shingle in 10⁵
  // docs would emit 10¹⁰ rows. Shingles with df > DfCap are dropped BEFORE
  // the join (bounding any shingle's fan-out at DfCap²), and the Jaccard is
  // computed over the df-capped shingle space (n_sh recounted post-cap) —
  // the standard posting-list cap of production dedup pipelines. The oracle
  // SQL mirrors the cap, so the match stays exact.
  private[ops] val DfCap = 128

  private def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = t(s, dir, "documents")
      .select(col("doc_id"), explode(gf.shingles(col("text"), lit(3))).as("shingle"))
    val capped = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("df") <= DfCap)
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy("doc_id")))
    val a = capped.select(col("doc_id").as("a_id"), col("n_sh").as("a_n"),
      col("shingle"))
    val b = capped.select(col("doc_id").as("b_id"), col("n_sh").as("b_n"),
      col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "a_n", "b_n")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("a_n") + col("b_n") - col("inter")))
      .filter(col("inter") >= 2)
      .select("a_id", "b_id", "inter", "jaccard")
  }

  private val ngramJaccardSql =
    s"""WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(toks) - 1),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |    ELSE [] END AS shs
      |  FROM tk),
      |ex0 AS (
      |  SELECT doc_id, unnest(shs) AS shingle FROM sh),
      |capped AS (
      |  SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle,
      |      count(*) OVER (PARTITION BY shingle) AS df
      |    FROM ex0)
      |  WHERE df <= $DfCap),
      |ex AS (
      |  SELECT doc_id, shingle,
      |    count(*) OVER (PARTITION BY doc_id) AS n_sh
      |  FROM capped)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
      |  CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) AS jaccard
      |FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
      |HAVING count(*) >= 2
      |ORDER BY a_id, b_id""".stripMargin

  // MinHash + LSH: k=32 signature over word 2-shingles, 8 bands × 4 rows.
  // Documents sharing any band hash become candidates (equi-join on
  // (band, hash)); candidate similarity estimated from full-signature
  // agreement. The signature kernel is not DuckDB-expressible, but the
  // banding/join/estimate pipeline is: the (doc_id, sig) frame persists
  // for the oracle, whose mirror bands on the raw 4-row signature SLICE
  // (a DuckDB list join key) — equivalent to Spark's xxhash64 band
  // compaction except under a 64-bit hash collision, which the compare
  // would surface rather than hide. est_sim = agreeing positions / 32,
  // an exact dyadic rational in both engines.
  private val K = 32
  private val Bands = 8
  private val Rows = K / Bands

  private def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = ContentKey.persistForOracle(s, dir, "minhash",
      t(s, dir, "documents")
        .select(col("doc_id"), gf.minhash(col("text"), lit(K), lit(2)).as("sig")))
    val bands = docs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until Bands).map(i =>
        xxhash64(slice(col("sig"), i * Rows + 1, Rows))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bhash")
    val a = bands.select(col("doc_id").as("a_id"), col("sig").as("a_sig"),
      col("band"), col("bhash"))
    val b = bands.select(col("doc_id").as("b_id"), col("sig").as("b_sig"),
      col("band"), col("bhash"))
    a.join(b, Seq("band", "bhash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (gf.sig_agree(col("a_sig"), col("b_sig")).cast("double") / K)
          .as("est_sim"))
      .distinct()
      .filter(col("est_sim") >= 0.2)
  }

  private def minhashLshSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, sig FROM read_parquet('${oracleFrame("minhash")}/*.parquet')),
       |bands AS (
       |  SELECT doc_id, sig,
       |    b.band, sig[b.band * $Rows + 1 : b.band * $Rows + $Rows] AS bkey
       |  FROM h, (SELECT unnest(range(0, $Bands)) AS band) b),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.sig AS a_sig, b.sig AS b_sig
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT a_id, b_id,
       |    CAST(len(list_filter(list_zip(a_sig, b_sig),
       |      p -> p[1] = p[2])) AS DOUBLE) / $K AS est_sim
       |  FROM cand)
       |SELECT a_id, b_id, est_sim FROM est
       |WHERE est_sim >= 0.2 ORDER BY a_id, b_id""".stripMargin

  // SimHash near-dup pairs: 64-bit simhash, banded into 4×16-bit keys
  // (pigeonhole: hamming ≤ 3 ⇒ at least one band identical); candidates
  // from the band equi-join, verified with bit_count(xor). The simhash
  // kernel itself is not DuckDB-expressible, but everything after it is
  // relational: the computed (doc_id, sh) frame persists to a
  // content-keyed tmp table and the whole band pipeline is mirrored in
  // SQL over it (the media-dedup pattern) — exact, not rows-only.
  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = ContentKey.persistForOracle(s, dir, "simhash",
      t(s, dir, "documents")
        .select(col("doc_id"), gf.simhash(col("text"), lit(2)).as("sh")))
    val bands = docs.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
    val a = bands.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
      col("band"), col("bkey"))
    val b = bands.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
      col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 16)
  }

  private def simhashSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, sh FROM read_parquet('${oracleFrame("simhash")}/*.parquet')),
       |bands AS (
       |  SELECT doc_id, sh, b.band, (sh >> (b.band * 16)) & 65535 AS bkey
       |  FROM h, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.sh AS a_sh, b.sh AS b_sh
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(a_sh, b_sh)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(a_sh, b_sh)) <= 16
       |ORDER BY a_id, b_id""".stripMargin

  // Embedding cosine near-dup, exact: full pairwise over the embeddings
  // table — the oracle anchor (`dedup_embedding_exact`) that the
  // production-named IVF-bucketed `dedup_embedding` is measured against.
  // Norms are computed once per vector; dot product is an element-ordered
  // fold — identical doubles in both engines, so the threshold filter and
  // output values match the oracle exactly with no rounding.
  private[ops] def vdot(x: Column, y: Column): Column = gf.vec_dot(x, y)

  private[ops] def vdotSql(x: String, y: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(" +
      s"list_zip(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[])), " +
      s"p -> p[1] * p[2])), (acc, v) -> acc + v)"

  /** (vec_id, embedding, norm) projection shared by the cosine operators. */
  private[ops] def normed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      sqrt(vdot(col("embedding"), col("embedding"))).as("norm"))

  private[ops] val normedSql: String =
    s"SELECT vec_id, embedding, sqrt(${vdotSql("embedding", "embedding")}) AS norm FROM embeddings"

  private def embeddingCosine(s: SparkSession, dir: String): DataFrame = {
    ExactAnchorGuard.check(s, dir, "embeddings",
      "dedup_embedding_exact", "dedup_embedding")
    val e = normed(s, dir)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("norm").as("a_norm"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("norm").as("b_norm"))
    a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (vdot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
      .orderBy("a_id", "b_id")
  }

  private val embeddingCosineSql =
    s"""WITH n AS ($normedSql)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${vdotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cos_sim
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE ${vdotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) >= 0.35
       |ORDER BY a_id, b_id""".stripMargin

  // IVF-bucketed embedding near-dup — the production-named scale path
  // (`dedup_embedding`), measured against the brute-force
  // `dedup_embedding_exact` oracle anchor: vectors indexed in their top
  // cells of the CONSTANT-OCCUPANCY mining quantizer (K ≈ N/MineCell,
  // SimilarityOps.fitMiningCentroids — the same all-vs-all scale shape
  // as hard-negative mining, so the same parameterization applies, NOT
  // the search path's √N-cell rule whose symmetric pair join is
  // Θ(N^1.5)); the symmetric join has no query-side probe, so it
  // indexes wider (PairAssign = 4) than the mining path's 2. Candidate
  // pairs ≈ K·(occ·assign)²/2 = N·MineCell·assign²/2 — linear in N.
  // Pair-recall vs brute at the 0.35 threshold is asserted in
  // SimilaritySpec; real near-dups at cos ≥ 0.9 bucket together
  // essentially always.
  private def embeddingCosineAnn(s: SparkSession, dir: String): DataFrame = {
    val model = SimilarityOps.fitMiningModel(s, dir)
    // ids-only cell index (the 100 TB shape: assignment entries carry an
    // id + a cell int, not `assign` copies of the embedding); persisted so
    // the DuckDB mirror replays the identical pair join — this query is
    // exact-oracled, only the quantizer kernel stays Spark-side
    val cells = ContentKey.persistForOracle(s, dir, "dedup_cells",
      normed(s, dir).select(col("vec_id"),
        explode(SimilarityOps.miningCells(s, model, col("embedding"),
          SimilarityOps.PairAssign)).as("cell")))
    // left side spread by (cell, id) before the fanout — same rule as
    // the mining join: when the right side broadcasts, the join would
    // otherwise inherit the scan's few input splits and funnel the
    // pair fanout + partial distinct through too few tasks
    val pairs = cells
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("cell"), col("vec_id"))
      .as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct() // candidate set = union over cells
    val e = normed(s, dir)
    pairs
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm")), "b_id")
      .select(col("a_id"), col("b_id"),
        (vdot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
  }

  private def embeddingAnnSql: String =
    s"""WITH n AS ($normedSql),
       |cells AS (
       |  SELECT * FROM read_parquet('${oracleFrame("dedup_cells")}/*.parquet')),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM cells a JOIN cells b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT cand.a_id, cand.b_id,
       |  ${vdotSql("na.embedding", "nb.embedding")} / (na.norm * nb.norm)
       |    AS cos_sim
       |FROM cand JOIN n na ON na.vec_id = cand.a_id
       |  JOIN n nb ON nb.vec_id = cand.b_id
       |WHERE ${vdotSql("na.embedding", "nb.embedding")} / (na.norm * nb.norm)
       |  >= 0.35
       |ORDER BY a_id, b_id""".stripMargin

  // ---- shared pair-detector result cache ----
  // `dedup_census` composes FIVE of the catalog's dedup legs per call
  // (3.56 s at sf0.1 — round 8's slowest catalog query), and
  // `dedup_resolve`/`dedup_keep_best` rebuild the ngram leg inside
  // [[pairSources]]. Cache each heavy detector's RESULT frame —
  // O(candidate pairs), the family's own output scale — keyed by
  // (context, source-table content, leg); the legs' own catalog entries
  // and every composer read ONE build. Same ownership contract as
  // labelsCache: values are checkpointed and freed on eviction.
  private val pairCache =
    new ContentKey.Lru[DataFrame](16, ContentKey.freeOnEvict("pairCache"))

  private def cachedPairs(s: SparkSession, dir: String, table: String,
      leg: String, subs: Seq[String])(compute: => DataFrame): DataFrame = {
    val df = pairCache.get(
      s"${ContentKey.ofScoped(s, Seq(s"$dir/$table.parquet"))}/$leg")(
      compute.localCheckpoint())
    // a HIT skips the compute path's persistForOracle call, but the leg's
    // mirror still reads the persisted frame: re-point it on every get
    ContentKey.pointOracleFrames(dir, subs)
    df
  }

  private def ngramJaccardC(s: SparkSession, dir: String): DataFrame =
    cachedPairs(s, dir, "documents", "ngram", Nil)(ngramJaccard(s, dir))
  private def minhashLshC(s: SparkSession, dir: String): DataFrame =
    cachedPairs(s, dir, "documents", "minhash", Seq("minhash"))(
      minhashLsh(s, dir))
  private def simhashPairsC(s: SparkSession, dir: String): DataFrame =
    cachedPairs(s, dir, "documents", "simhash", Seq("simhash"))(
      simhashPairs(s, dir))
  private def embeddingCosineAnnC(s: SparkSession, dir: String): DataFrame =
    cachedPairs(s, dir, "embeddings", "emb_ann", Seq("dedup_cells"))(
      embeddingCosineAnn(s, dir))

  // End-to-end dedup keep-set: the pair generators above emit candidate
  // PAIRS; a training pipeline needs the canonical keep-set. Union the
  // exact-hash pairs with the high-Jaccard pairs, then resolve connected
  // components by iterative min-label propagation (labels only decrease,
  // so Σlabel is a monotone convergence witness — when it stops falling,
  // the fixpoint is reached). Dup clusters have tiny diameter, so this
  // converges in O(diameter) ≈ 2-4 shuffle rounds at any scale; lineage is
  // truncated per round with localCheckpoint, the standard Spark iterative-
  // algorithm pattern. The fixpoint (component-min label) is unique, so
  // the DuckDB recursive-CTE oracle matches exactly.
  private[graft] val ResolveJaccard = 0.5

  private def pairSources(s: SparkSession, dir: String): DataFrame = {
    val jac = ngramJaccardC(s, dir)
      .filter(col("jaccard") >= ResolveJaccard)
      .select(col("a_id"), col("b_id"))
    // separate scans → no ambiguous-self-join misfire (Spark 4.1 gotcha)
    val x = t(s, dir, "documents").select(col("doc_id").as("a_id"),
      md5(col("text")).as("h"))
    val y = t(s, dir, "documents").select(col("doc_id").as("b_id"),
      md5(col("text")).as("h"))
    val exactPairs = x.join(y, "h").filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    jac.union(exactPairs).distinct()
  }

  /** Min-label propagation to the connected-component fixpoint over a
    * directed edge list (`u`,`v` — both directions present). Returns the
    * per-doc component-min labels and the number of rounds taken.
    *
    * Semi-naive (frontier/delta) evaluation of the same fixpoint the
    * full-frame version computed: each round combines two steps before
    * taking the per-doc min —
    *  - edge propagation: label(v) ← label(u), but ONLY for u whose label
    *    improved last round (an unchanged u contributed the same value
    *    last round; re-sending it cannot lower any min);
    *  - pointer jumping:  label(d) ← label(label(d)), but ONLY for d whose
    *    pointer label(d) improved last round — exactly the rounds where
    *    composition carries new information, so the distance-squaring
    *    behavior (O(log D) rounds; DedupSpec pins a 1000-doc chain ≤ 12)
    *    is preserved round for round.
    * Both only ever assign ids of docs in the same component, so the min
    * converges to the component minimum exactly — same fixpoint as the
    * full recomputation, identical to the oracle's recursive closure.
    *
    * Scale shape: round 1's frontier is everything (the initial
    * self-labels), so it costs the classic |edges|+|labels| shuffle — but
    * real dup/overlap subgraphs are dominated by tiny-diameter clusters,
    * so from round 2 the frontier collapses to the few docs still
    * improving and the joins run against a frame small enough for AQE to
    * broadcast: the late rounds that used to re-shuffle the full label
    * frame become near-free. Each round still localCheckpoints the new
    * label frame (truncating lineage so round k never replays rounds
    * 1..k-1), but the superseded round's blocks are explicitly
    * unpersisted — block accrual across many catalog queries was the
    * executor-storage symptom the bench's GC pauses worked around.
    * Convergence is witnessed by an empty frontier: no improvement
    * anywhere, the exact fixpoint test. No silent cap — a partial
    * propagation would split clusters — and the 64-round guard only
    * trips on a cycle bug, failing loudly instead of returning wrong
    * labels. */
  private[graft] def propagateMin(edges0: DataFrame): (DataFrame, Int) = {
    val edges = edges0.localCheckpoint()
    val init = edges.select(col("u").as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    var labels = init
    var frontier = init // every doc just received its self-label
    var prevCk: DataFrame = null // superseded round, unpersisted lazily
    var it = 0
    val maxIters = 64
    while (!frontier.isEmpty) {
      if (it >= maxIters)
        throw new IllegalStateException(
          s"dedup_resolve failed to converge in $maxIters rounds")
      val f = frontier.select(col("doc_id").as("f_doc"), col("label").as("f_lab"))
      val prop = edges.join(f, edges("u") === col("f_doc"))
        .select(col("v").as("doc_id"), col("f_lab").as("cand"))
      // jump case (a): d's pointer label(d) improved last round — compose
      // through the pointer's NEW label
      val jump = labels.join(f, labels("label") === col("f_doc"))
        .select(labels("doc_id"), col("f_lab").as("cand"))
      // jump case (b): d itself improved last round — re-compose through
      // its NEW pointer (whose label may be long-settled). Without this
      // half the composition only fires when pointers move again, and the
      // chain degrades toward linear rounds.
      val ptr = labels.select(col("doc_id").as("p_doc"), col("label").as("p_lab"))
      val jumpNew = f.join(ptr, col("f_lab") === col("p_doc"))
        .select(col("f_doc").as("doc_id"), col("p_lab").as("cand"))
      val cand = prop.union(jump).union(jumpNew)
        .groupBy("doc_id").agg(min("cand").as("cand"))
      val next = labels.join(cand, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("cand"), col("label"))).as("label"),
          (col("cand") < col("label")).as("improved"))
        .localCheckpoint() // eager: materialized before its input is freed
      if (prevCk != null) GraftSqlBridge.freeLocalCheckpoint(prevCk)
      if (it == 0) GraftSqlBridge.freeLocalCheckpoint(init)
      prevCk = next
      labels = next.select("doc_id", "label")
      frontier = next.filter(col("improved")).select("doc_id", "label")
      it += 1
    }
    GraftSqlBridge.freeLocalCheckpoint(edges)
    (labels, it)
  }

  /** Component labels of the dup subgraph, built once per dataset content
    * (the kmFit fit-once rule): `dedup_resolve` and `dedup_keep_best` share
    * the same pair generation + propagation, and a production engine
    * resolves the closure once and serves both views from it. The cached
    * frame is localCheckpointed (by [[propagateMin]]), so reuse replays
    * stored blocks, not the iterative lineage; a regenerated corpus
    * changes the content key and rebuilds. Key is context-scoped
    * ([[ContentKey.ofScoped]]) because the cached value is a
    * session-bound checkpointed frame — a restarted context must rebuild,
    * not replay dead block ids. */
  // onEvict frees the checkpoint's RDD-layer blocks (Dataset.unpersist
  // cannot — it only drops CacheManager entries). The freed frame is
  // UNRECOVERABLE (truncated lineage), so the real safety invariant is:
  // no eviction can fire while another query is mid-job on the evictee.
  // That holds because evictions require >capacity DISTINCT dataset
  // contents, and the only concurrent executor of this catalog —
  // Bench's warmup pool — runs a single dataset dir (Verify and the
  // driver run queries sequentially). A future concurrent multi-dataset
  // harness must either widen the capacity or defer eviction.
  private val labelsCache =
    new ContentKey.Lru[DataFrame](8, ContentKey.freeOnEvict("labelsCache"))

  private def resolvedLabels(s: SparkSession, dir: String): DataFrame = {
    val key = ContentKey.ofScoped(s, Seq(s"$dir/documents.parquet"))
    labelsCache.get(key) {
      val pairs = pairSources(s, dir)
      val edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
        .union(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      // propagate only over docs that appear in some pair — the dup
      // subgraph is sparse at any scale, so each iteration shuffles
      // |paired docs| rows, not |corpus|; singletons rejoin via the
      // callers' final left joins.
      propagateMin(edges)._1
    }
  }

  private def resolve(s: SparkSession, dir: String): DataFrame = {
    val labels = resolvedLabels(s, dir)
    t(s, dir, "documents")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("keep_id"))
      .orderBy("doc_id")
  }

  /** Shared recursive-closure prefix of the resolve-family oracles:
    * shingle Jaccard ∪ exact-hash pairs → symmetric edges → `walk`, whose
    * per-doc min(label) is the connected-component id. */
  private val resolveClosureSql =
    s"""WITH RECURSIVE tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(toks) - 1),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |    ELSE [] END AS shs
      |  FROM tk),
      |ex0 AS (
      |  SELECT doc_id, unnest(shs) AS shingle FROM sh),
      |capped AS (
      |  SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle,
      |      count(*) OVER (PARTITION BY shingle) AS df
      |    FROM ex0)
      |  WHERE df <= $DfCap),
      |ex AS (
      |  SELECT doc_id, shingle,
      |    count(*) OVER (PARTITION BY doc_id) AS n_sh
      |  FROM capped),
      |jac AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
      |  HAVING count(*) >= 2 AND
      |    CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*))
      |      >= $ResolveJaccard),
      |exact_p AS (
      |  SELECT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM documents x JOIN documents y
      |    ON md5(x.text) = md5(y.text) AND x.doc_id < y.doc_id),
      |pairs AS (SELECT * FROM jac UNION SELECT * FROM exact_p),
      |edges AS (
      |  SELECT a_id AS u, b_id AS v FROM pairs
      |  UNION SELECT b_id, a_id FROM pairs),
      |walk(id, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.id)""".stripMargin

  private val resolveSql =
    s"""$resolveClosureSql
      |SELECT id AS doc_id, min(label) AS keep_id FROM walk
      |GROUP BY id ORDER BY doc_id""".stripMargin

  // Quality-aware keeper selection: real curation pipelines don't keep the
  // min-id of a duplicate cluster, they keep its best member. Same
  // connected components as `dedup_resolve` (so the two entries are
  // directly comparable), keeper = argmax over (distinct-token count,
  // n_chars, doc_id) — a total order, so the choice is deterministic in
  // both engines. Plan shape: the propagation is shared with resolve (the
  // dup subgraph only); the keeper pick is one cluster-keyed window over
  // |corpus| rows — partitioned by cluster, never a single-partition
  // funnel. At 100 TB the window's exchange is the only extra shuffle.
  private def keepBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = resolvedLabels(s, dir)
    // empty tokens filtered before the distinct count — the repo-wide
    // tokenizer convention (runs of spaces must not credit '' as a token)
    val toks = filter(split(col("text"), " "), x => x =!= lit(""))
    val scored = t(s, dir, "documents")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster"),
        size(array_distinct(toks)).as("uniq_cnt"), col("n_chars"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("uniq_cnt").desc, col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored
      .withColumn("keep_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster"), col("keep_id"),
        when(col("keep_id") === col("doc_id"), 1).otherwise(0).as("is_keeper"))
      .orderBy("doc_id")
  }

  private val keepBestSql =
    s"""$resolveClosureSql,
      |lab AS (
      |  SELECT id AS doc_id, min(label) AS cluster FROM walk GROUP BY id),
      |q AS (
      |  SELECT d.doc_id, lab.cluster,
      |    CAST(len(list_distinct(list_filter(string_split(d.text, ' '),
      |      t -> t <> ''))) AS INT)
      |      AS uniq_cnt,
      |    d.n_chars
      |  FROM documents d JOIN lab USING (doc_id))
      |SELECT doc_id, cluster,
      |  first_value(doc_id) OVER (PARTITION BY cluster
      |    ORDER BY uniq_cnt DESC, n_chars DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS keep_id,
      |  CASE WHEN first_value(doc_id) OVER (PARTITION BY cluster
      |    ORDER BY uniq_cnt DESC, n_chars DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) = doc_id
      |    THEN 1 ELSE 0 END AS is_keeper
      |FROM q ORDER BY doc_id""".stripMargin

  // Benchmark decontamination: flag training documents that share any
  // word 4-gram with the held-out eval set (doc_id % EvalMod stands in
  // for a benchmark membership list). The eval side's DISTINCT shingle
  // set is small — |benchmarks| × |grams per doc| — so it BROADCASTS:
  // at 100 TB the corpus is never shuffled, each task streams its
  // partition against the in-memory contaminated-shingle set. Exact
  // integer counts → exact oracle. 4-grams are the locality/precision
  // trade: 3-grams over-flag boilerplate, ≥5-grams miss paraphrase
  // overlap on short documents.
  private val EvalMod = 53
  private val ContamN = 4

  /** (train doc_id, shared shingle) rows: each non-eval document's
    * 4-grams that collide with the broadcast eval-shingle set — the ONE
    * definition of "contaminated" both `decontaminate` and
    * `corpus_pipeline` build on (a semantics change here reaches both). */
  private def contamRows(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(gf.shingles(col("text"), lit(ContamN))).as("shingle"))
    val ev = sh.filter(col("doc_id") % EvalMod === 0)
      .select("shingle").distinct()
    sh.filter(col("doc_id") % EvalMod =!= 0)
      .join(ev, "shingle")
  }

  /** The matching DuckDB CTE chain (tk/sh/ex/ev/contam_rows), the single
    * SQL mirror of [[contamRows]]. */
  private val contamRowsCtes = {
    val gram = (0 until ContamN).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""tk AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) >= $ContamN THEN
       |      list_distinct(list_transform(range(1, len(toks) - ${ContamN - 2}),
       |        i -> $gram))
       |    ELSE [] END AS shs
       |  FROM tk),
       |ex AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
       |ev AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % $EvalMod = 0),
       |contam_rows AS (
       |  SELECT e.doc_id, e.shingle FROM ex e JOIN ev ON e.shingle = ev.shingle
       |  WHERE e.doc_id % $EvalMod <> 0)""".stripMargin
  }

  private def decontaminate(s: SparkSession, dir: String): DataFrame =
    contamRows(s, dir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared")) // shingles are per-doc distinct
      .orderBy("doc_id")

  private val decontaminateSql =
    s"""WITH $contamRowsCtes
       |SELECT doc_id, count(*) AS n_shared
       |FROM contam_rows
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  // End-to-end corpus preparation — the composed pipeline a training run
  // actually executes, as ONE declarative plan Catalyst optimizes whole:
  // exact dedup (keep the canonical copy) → drop the eval set and every
  // document contaminated by it (4-gram collision, broadcast shingle set)
  // → content-addressed train/val/test split → per-split token accounting.
  // Every stage is an already-oracled operator; composing them in one
  // query is the integration check (and mirrors how the stages share
  // scans: the planner reuses the documents relation rather than
  // re-reading it per stage). Exact end-to-end oracle.

  private def corpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val contaminated = contamRows(s, dir).select("doc_id").distinct()
    docs.join(keep, "doc_id")
      .filter(col("doc_id") % EvalMod =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("lang"),
        (gf.fingerprint(col("text")) % 100).as("bucket"),
        size(split(col("text"), " ")).as("n_tok"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("split", "lang")
  }

  private val corpusPipelineSql =
    s"""WITH keep AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |$contamRowsCtes,
       |contaminated AS (SELECT DISTINCT doc_id FROM contam_rows),
       |clean AS (
       |  SELECT d.doc_id, d.lang, d.text FROM documents d
       |  JOIN keep k ON d.doc_id = k.doc_id
       |  WHERE d.doc_id % $EvalMod <> 0
       |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |b AS (
       |  SELECT lang, (${TextOps.fingerprintFoldSql("text")}) % 100 AS bucket,
       |    len(string_split(text, ' ')) AS n_tok
       |  FROM clean)
       |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |  lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM b GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  // Exact repeated-substring removal spans — the sub-document dedup of
  // Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
  // Better", arXiv:2107.06499): any RunL-char window whose text occurs
  // more than once ANYWHERE in the corpus (other documents or elsewhere in
  // the same one) marks its [pos, pos+RunL) interval for removal;
  // overlapping/touching marks merge into maximal per-document spans —
  // the cut list a training pipeline feeds to the text rewriter. The
  // paper's suffix array is a single-machine structure; the
  // Spark-distributive equivalent is windows → one exchange keyed by the
  // window text for the global multiplicity, then a per-document
  // gaps-and-islands merge (one more exchange on doc_id). Integer-only
  // arithmetic end to end, so the DuckDB mirror is exact.
  //
  // Shuffle discipline: the corpus-sized multiplicity exchange carries
  // (doc_id, pos, xxhash64(window)) — 24 bytes/row — never the RunL-char
  // window text. The hash pass yields a candidate SUPERSET (collisions
  // only add rows); the survivors re-derive their window text via one
  // doc_id equi-join and are recounted on the text itself. All
  // occurrences of a truly-repeated window share its hash, so they all
  // reach stage 2 and the stage-2 per-text count equals the global count
  // — the final marked set is exactly the direct computation's, which is
  // why the DuckDB mirror can stay the simple single-pass SQL.
  private val RunL = 40

  private def substringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpansCore(s, dir)
      .orderBy("doc_id", "span_start")

  private def substringSpansCore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    // One window_hashes kernel pass per document replaces the
    // explode(sequence) + per-position substr + xxhash64 chain: identical
    // (doc_id, pos, h) rows (the kernel is bit-equal to
    // xxhash64(substr(text, pos+1, RunL)) per position — ExprSpec pins
    // it), but the corpus-sized hot stage stops allocating a RunL-char
    // UTF8String copy per position (r12: the window-stream derivation,
    // not the multiplicity exchange, is this operator's measured wall).
    val hashed = docs
      .select(col("doc_id"),
        posexplode(gf.window_hashes(col("text"), lit(RunL)))
          .as(Seq("pos", "h")))
    val cand = hashed
      .withColumn("hm", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("hm") > 1)
      .select("doc_id", "pos")
    val marked = cand
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("pos"),
        substr(col("text"), col("pos") + 1, lit(RunL)).as("sub"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("sub")))
      .filter(col("m") > 1)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = marked
      .withColumn("prev_end", max(col("pos") + RunL)
        .over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("flag",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1)
          .otherwise(0))
      .withColumn("island", sum(col("flag"))
        .over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + RunL).as("span_end"))
    spans.select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }

  // The consumer of the cut list: rewrite each document with its marked
  // spans removed — what Lee et al.'s pipeline actually feeds the next
  // training stage. Keep-segments are the gaps between consecutive spans
  // (lag over the per-doc span sequence) plus the tail after the last
  // span; each segment extracts its substring via ONE doc_id equi-join
  // against the text (segments exist only for the small survivor set, so
  // the join probe side is tiny) and the per-doc concat is an
  // order-keyed fold (array_sort on (seg_start, piece) structs — a total
  // key, replay-stable). Untouched documents bypass the whole span
  // machinery with an anti-join and pass through verbatim. Integer
  // positions and plain substrings end to end → exact DuckDB mirror
  // (string_agg ORDER BY seg_start = the same total-keyed concat).
  private def substringRewrite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val spans = substringSpansCore(s, dir).localCheckpoint()
    val wD = Window.partitionBy("doc_id").orderBy("span_start")
    val headMid = spans
      .withColumn("seg_start",
        coalesce(lag(col("span_end"), 1).over(wD), lit(0)))
      .select(col("doc_id"), col("seg_start"), col("span_start").as("seg_end"))
    val tail = spans.groupBy("doc_id")
      .agg(max(col("span_end")).as("seg_start"))
      .withColumn("seg_end", lit(Int.MaxValue))
    val pieces = headMid.unionByName(tail)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .withColumn("seg_stop", least(col("seg_end"), length(col("text"))))
      .filter(col("seg_stop") > col("seg_start"))
      .select(col("doc_id"), col("seg_start"),
        substr(col("text"), col("seg_start") + 1,
          col("seg_stop") - col("seg_start")).as("piece"))
    val rebuilt = pieces.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("seg_start"), col("piece")))),
        x => x("piece")), "").as("clean_text"))
    val cutAgg = spans.groupBy("doc_id").agg(sum(col("span_len")).as("n_cut"))
    val cut = docs.select("doc_id").join(cutAgg, "doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"), col("n_cut"))
    val untouched = docs.join(cutAgg, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text").as("clean_text"),
        lit(0L).as("n_cut"))
    cut.unionByName(untouched)
      .withColumn("clean_len", length(col("clean_text")))
      .orderBy("doc_id")
  }

  /** Shared WITH-clause body producing the `spans` relation — the spans
    * query and the rewrite query mirror the same cut-list computation. */
  private val substringSpansCtes =
    s"""w AS (
       |  SELECT doc_id,
       |    CAST(unnest(range(0, greatest(len(text) - $RunL + 1, 0))) AS INT)
       |      AS pos,
       |    text
       |  FROM documents),
       |sb AS (
       |  SELECT doc_id, pos, substr(text, pos + 1, $RunL) AS sub FROM w),
       |marked AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY sub) AS m FROM sb) x
       |  WHERE m > 1),
       |isl AS (
       |  SELECT doc_id, pos,
       |    max(pos + $RunL) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM marked),
       |fl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END
       |      AS flag
       |  FROM isl),
       |grp AS (
       |  SELECT doc_id, pos,
       |    sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM fl),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start,
       |    max(pos) + $RunL AS span_end,
       |    max(pos) + $RunL - min(pos) AS span_len
       |  FROM grp GROUP BY doc_id, island)""".stripMargin

  private val substringSpansSql =
    s"""WITH $substringSpansCtes
       |SELECT doc_id, span_start, span_end, span_len FROM spans
       |ORDER BY doc_id, span_start""".stripMargin

  private val substringRewriteSql =
    s"""WITH $substringSpansCtes,
       |hm AS (
       |  SELECT doc_id,
       |    coalesce(lag(span_end) OVER (PARTITION BY doc_id
       |      ORDER BY span_start), 0) AS seg_start,
       |    span_start AS seg_end
       |  FROM spans),
       |segs AS (
       |  SELECT doc_id, seg_start, seg_end FROM hm
       |  UNION ALL
       |  SELECT doc_id, max(span_end) AS seg_start, 2147483647 AS seg_end
       |  FROM spans GROUP BY doc_id),
       |pieces AS (
       |  SELECT s.doc_id, s.seg_start,
       |    substr(d.text, s.seg_start + 1,
       |      least(s.seg_end, len(d.text)) - s.seg_start) AS piece
       |  FROM segs s JOIN documents d USING (doc_id)
       |  WHERE least(s.seg_end, len(d.text)) > s.seg_start),
       |rebuilt AS (
       |  SELECT doc_id, string_agg(piece, '' ORDER BY seg_start) AS clean_text
       |  FROM pieces GROUP BY doc_id),
       |cut_agg AS (
       |  SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS n_cut
       |  FROM spans GROUP BY doc_id),
       |outp AS (
       |  SELECT a.doc_id, coalesce(r.clean_text, '') AS clean_text, a.n_cut
       |  FROM cut_agg a LEFT JOIN rebuilt r USING (doc_id)
       |  UNION ALL
       |  SELECT d.doc_id, d.text AS clean_text, CAST(0 AS BIGINT) AS n_cut
       |  FROM documents d
       |  WHERE d.doc_id NOT IN (SELECT doc_id FROM cut_agg))
       |SELECT doc_id, clean_text, n_cut,
       |  CAST(len(clean_text) AS INT) AS clean_len
       |FROM outp ORDER BY doc_id""".stripMargin

  // Cross-source dataset overlap audit — "how much of source A is in
  // source B" for a corpus catalog, the question a curation team asks
  // before mixing feeds. Each source gets a bottom-k sketch (the k
  // lexicographically-smallest md5 keys of its distinct word 3-shingles —
  // md5 because both engines compute it identically, so the sketch and
  // the estimate are exactly mirrorable); a pair's Jaccard is estimated
  // as |{keys in the k smallest of A∪B} ∩ A ∩ B| / |that union sample| —
  // the classic bottom-k estimator (Broder's sketches). Everything after
  // the shingle scan operates on |sources|·k rows: at 100 TB the big
  // work is one distinct over (source, shingle-hash) and one per-source
  // top-k exchange; the pairwise stage is a tiny-dim enumeration
  // (source catalogs are dozens of rows) over broadcast sketches.
  private val OverlapK = 128

  private def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sk is consumed five times below (srcs, both union legs, both nb
    // joins), but an r12 A/B showed explicit localCheckpoints here are
    // neutral-to-worse (1.14 → 1.20 s): AQE stage reuse already dedupes
    // the identical distinct/window exchanges, and the eager checkpoint
    // only adds a job barrier plus a block-manager write.
    val sk = t(s, dir, "documents")
      .select(col("source"), explode(gf.shingles(col("text"), lit(3)))
        .as("shingle"))
      .select(col("source"), md5(col("shingle")).as("h"))
      .distinct()
      .withColumn("rk",
        row_number().over(Window.partitionBy("source").orderBy("h")))
      .filter(col("rk") <= OverlapK)
      .select("source", "h")
    val srcs = sk.select("source").distinct()
    val pairs = srcs.select(col("source").as("a_src"))
      .crossJoin(broadcast(srcs.select(col("source").as("b_src")))) // 20 sources
      .filter(col("a_src") < col("b_src"))
    val u = pairs.join(sk.withColumnRenamed("source", "a_src"), "a_src")
      .select("a_src", "b_src", "h")
      .unionByName(pairs.join(sk.withColumnRenamed("source", "b_src"), "b_src")
        .select("a_src", "b_src", "h"))
      .distinct()
    val x = u.withColumn("rk", row_number().over(
        Window.partitionBy("a_src", "b_src").orderBy("h")))
      .filter(col("rk") <= OverlapK)
    val nx = x.groupBy("a_src", "b_src").agg(count(lit(1)).as("n_union"))
    val nb = x
      .join(sk.select(col("source").as("a_src"), col("h")), Seq("a_src", "h"))
      .join(sk.select(col("source").as("b_src"), col("h")), Seq("b_src", "h"))
      .groupBy("a_src", "b_src").agg(count(lit(1)).as("n_both"))
    nx.join(nb, Seq("a_src", "b_src"), "left")
      .select(col("a_src"), col("b_src"),
        coalesce(col("n_both"), lit(0L)).as("n_both"), col("n_union"),
        (coalesce(col("n_both"), lit(0L)).cast("double") / col("n_union"))
          .as("est_jaccard"))
      .orderBy("a_src", "b_src")
  }

  private val sourceOverlapSql =
    s"""WITH tk AS (
       |  SELECT source,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |shl AS (
       |  SELECT source,
       |    CASE WHEN len(toks) >= 3 THEN
       |      list_distinct(list_transform(range(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |    ELSE [] END AS shs
       |  FROM tk),
       |ex0 AS (SELECT source, unnest(shs) AS shingle FROM shl),
       |hs AS (SELECT DISTINCT source, md5(shingle) AS h FROM ex0),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |      row_number() OVER (PARTITION BY source ORDER BY h) AS rk
       |    FROM hs)
       |  WHERE rk <= $OverlapK),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |pairs AS (
       |  SELECT a.source AS a_src, b.source AS b_src
       |  FROM srcs a, srcs b WHERE a.source < b.source),
       |u AS (
       |  SELECT p.a_src, p.b_src, s.h FROM pairs p JOIN sk s
       |    ON s.source = p.a_src
       |  UNION
       |  SELECT p.a_src, p.b_src, s.h FROM pairs p JOIN sk s
       |    ON s.source = p.b_src),
       |x AS (
       |  SELECT a_src, b_src, h FROM (
       |    SELECT a_src, b_src, h,
       |      row_number() OVER (PARTITION BY a_src, b_src ORDER BY h) AS rk
       |    FROM u)
       |  WHERE rk <= $OverlapK),
       |nx AS (
       |  SELECT a_src, b_src, count(*) AS n_union FROM x GROUP BY 1, 2),
       |nb AS (
       |  SELECT x.a_src, x.b_src, count(*) AS n_both
       |  FROM x
       |  JOIN sk sa ON sa.source = x.a_src AND sa.h = x.h
       |  JOIN sk sb ON sb.source = x.b_src AND sb.h = x.h
       |  GROUP BY 1, 2)
       |SELECT nx.a_src, nx.b_src,
       |  coalesce(nb.n_both, 0) AS n_both, nx.n_union,
       |  CAST(coalesce(nb.n_both, 0) AS DOUBLE) / nx.n_union AS est_jaccard
       |FROM nx LEFT JOIN nb
       |  ON nb.a_src = nx.a_src AND nb.b_src = nx.b_src
       |ORDER BY nx.a_src, nx.b_src""".stripMargin

  // ---- incremental dedup (arriving batch vs persisted index) ----
  // The 100 TB ingestion shape: the corpus' MinHash signatures live in a
  // PERSISTED index that each arriving batch appends to — deduping a
  // delta never re-scans or re-hashes the base corpus. Here the split is
  // simulated deterministically (doc_id mod 10: 8/10 base, 2/10 delta);
  // the delta batch computes its own signatures, band-joins against the
  // base index plus its earlier-id self-pairs (first-seen-wins inside
  // the batch), and each duplicate reports its smallest matching doc as
  // keeper. Cost at scale = |delta| hashing + a band equi-join whose
  // base side is an indexed read — the base-corpus scan that a
  // from-scratch dedup would pay is exactly what this op avoids. Both
  // signature frames persist, so the mirror replays banding, the
  // candidate join, the 0.5 threshold, and the min-keeper rank.
  private[graft] val IncrBaseMod = 8 // doc_id % 10 < 8 → base, else delta
  private[graft] val IncrTheta = 0.5

  /** (doc_id, sig) MinHash signature frame — the ONE hashing definition
    * both the batch incremental dedup and its streaming twin
    * ([[graft.streaming.MinhashMonitor]]) use, so their signatures are
    * bit-identical by construction. */
  private[graft] def minhashSigs(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      gf.minhash(col(textCol), lit(K), lit(2)).as("sig"))

  /** Banded view (doc_id, sig, band, bhash) of a signature frame. */
  private[graft] def bandSigs(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("sig"),
        posexplode(array((0 until Bands).map(i =>
          xxhash64(slice(col("sig"), i * Rows + 1, Rows))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bhash")

  /** Dup verdicts of `delta` against `index` ∪ `delta`'s own earlier ids
    * (first-seen-wins inside the delta): the LSH band equi-join, the
    * exact-signature agreement estimate, the θ threshold, and the
    * min-keeper rank. Shared verbatim by `dedup_incremental` and the
    * streaming twin — both frames are (doc_id, sig). */
  private[graft] def incrVerdicts(delta: DataFrame, index: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = bandSigs(delta).select(col("doc_id"), col("sig"),
      col("band"), col("bhash"))
    val idx = bandSigs(index).select(col("doc_id").as("m_id"),
      col("sig").as("m_sig"), col("band"), col("bhash"))
      .unionByName(bandSigs(delta).select(col("doc_id").as("m_id"),
        col("sig").as("m_sig"), col("band"), col("bhash")))
    val w = Window.partitionBy("doc_id").orderBy("m_id")
    q.join(idx, Seq("band", "bhash"))
      .filter(col("m_id") < col("doc_id")) // index ids or earlier delta ids
      .select(col("doc_id"), col("m_id"),
        (gf.sig_agree(col("sig"), col("m_sig")).cast("double") / K)
          .as("est_sim"))
      .distinct() // candidate set = union over bands
      .filter(col("est_sim") >= IncrTheta)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("m_id").as("dup_of"), col("est_sim"))
  }

  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSigs(t(s, dir, "documents"), "doc_id", "text")
    val base = ContentKey.persistForOracle(s, dir, "incr_base",
      sigs.filter(col("doc_id") % 10 < IncrBaseMod))
    val delta = ContentKey.persistForOracle(s, dir, "incr_delta",
      sigs.filter(col("doc_id") % 10 >= IncrBaseMod))
    incrVerdicts(delta, base).orderBy("doc_id")
  }

  private def dedupIncrementalSql: String =
    s"""WITH b0 AS (
       |  SELECT doc_id, sig FROM read_parquet('${oracleFrame("incr_base")}/*.parquet')),
       |d0 AS (
       |  SELECT doc_id, sig FROM read_parquet('${oracleFrame("incr_delta")}/*.parquet')),
       |ix AS (SELECT * FROM b0 UNION ALL SELECT * FROM d0),
       |qb AS (
       |  SELECT doc_id, sig,
       |    b.band, sig[b.band * $Rows + 1 : b.band * $Rows + $Rows] AS bkey
       |  FROM d0, (SELECT unnest(range(0, $Bands)) AS band) b),
       |ib AS (
       |  SELECT doc_id AS m_id, sig AS m_sig,
       |    b.band, sig[b.band * $Rows + 1 : b.band * $Rows + $Rows] AS bkey
       |  FROM ix, (SELECT unnest(range(0, $Bands)) AS band) b),
       |cand AS (
       |  SELECT DISTINCT qb.doc_id, ib.m_id, qb.sig, ib.m_sig
       |  FROM qb JOIN ib ON qb.band = ib.band AND qb.bkey = ib.bkey
       |  WHERE ib.m_id < qb.doc_id),
       |est AS (
       |  SELECT doc_id, m_id,
       |    CAST(len(list_filter(list_zip(sig, m_sig),
       |      p -> p[1] = p[2])) AS DOUBLE) / $K AS est_sim
       |  FROM cand
       |  ),
       |kept AS (
       |  SELECT doc_id, m_id, est_sim,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY m_id) AS rn
       |  FROM est WHERE est_sim >= $IncrTheta)
       |SELECT doc_id, m_id AS dup_of, est_sim
       |FROM kept WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---- paragraph-level dedup (CCNet-style, blocks as paragraphs) ----
  // CCNet-style sub-document dedup: a boilerplate paragraph shared by
  // thousands of pages is dropped everywhere but its first occurrence
  // while the surrounding documents survive — the granularity exact
  // doc-level dedup cannot reach. The synthetic corpus carries no newline
  // structure, so the paragraph analog is the fixed NON-overlapping
  // [[ParaW]]-token block (doc_chunk's window with stride = window); the
  // block definition is a tokenizer detail, the pipeline — hash every
  // unit, keep the global first occurrence, reassemble documents from
  // their surviving units — is the real one.
  //
  // Plan shape: a narrow per-row generate explodes blocks (linear in
  // corpus tokens), ONE md5-keyed window picks each block's first
  // occurrence under the total order (doc_id, block_id) — deterministic
  // across engines and retries — and ONE doc_id-keyed re-agg rebuilds
  // each document from its kept blocks in block order. Two linear
  // exchanges, no joins, nothing driver-side: the 100 TB shape. A doc
  // reduced to nothing (every block seen earlier) survives as the md5 of
  // the empty string — the caller's drop filter, not silent loss.
  private[graft] val ParaW = 32L

  /** The block derivation, ONE definition shared with the streaming
    * [[graft.streaming.ParagraphMonitor]] twin so the batch/stream
    * equality contract cannot drift by copy-edit: tokens → fixed
    * non-overlapping [[ParaW]]-token blocks with 0-based block ids. */
  private[graft] def paragraphBlocks(docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        filter(split(col(textCol), " "), x => x =!= lit("")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_blk",
        greatest(lit(1L), expr(s"(n_tok + ${ParaW - 1}) DIV $ParaW")))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0L, n_blk - 1)")).as("blk_id"))
      .withColumn("blk", array_join(
        slice(col("toks"), (col("blk_id") * ParaW + 1).cast("int"),
          lit(ParaW.toInt)), " "))
      .select(col("doc_id"), col("blk_id"), col("blk"))

  private def paragraphDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = paragraphBlocks(t(s, dir, "documents"), "doc_id", "text")
    val w = Window.partitionBy(md5(col("blk")))
      .orderBy(col("doc_id"), col("blk_id"))
    blocks
      .withColumn("keep", row_number().over(w) === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        md5(array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN keep THEN struct(blk_id, blk) END)), x -> x.blk)"),
          " ")).as("kept_fp"))
      .orderBy("doc_id")
  }

  /** SQL mirror of [[paragraphBlocks]] — the d/b/block CTE chain, ONE
    * definition shared by every block-geometry mirror (paragraph dedup,
    * boilerplate strip, TextOps.doc_lang_segments) so an engine-version
    * guard or a ParaW change cannot be applied to one copy and silently
    * diverge the others. Emits CTEs `d`, `b` and a final block CTE
    * named `name` (doc_id, blk_id, blk); pass `materialized = true` when
    * the consumer references it more than once (DuckDB inlines plain
    * CTEs once PER REFERENCE). */
  private[ops] def paragraphBlocksSql(name: String,
      materialized: Boolean): String = {
    val mat = if (materialized) "MATERIALIZED " else ""
    s"""d AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS toks,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS BIGINT) AS n_tok
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, toks,
      |    unnest(range(0, greatest(1, (n_tok + ${ParaW - 1}) // $ParaW)))
      |      AS blk_id
      |  FROM d),
      |$name AS $mat(
      |  SELECT doc_id, blk_id,
      |    -- COALESCE: an empty doc's single block slices an empty list,
      |    -- which DuckDB v1.0.0 stringifies to NULL, Spark to ''
      |    COALESCE(array_to_string(list_slice(toks,
      |      blk_id * $ParaW + 1, blk_id * $ParaW + $ParaW), ' '), '') AS blk
      |  FROM b)""".stripMargin
  }

  private val paragraphDedupSql =
    s"""WITH ${paragraphBlocksSql("h", materialized = false)},
      |k AS (
      |  SELECT doc_id, blk_id, blk,
      |    row_number() OVER (PARTITION BY md5(blk)
      |      ORDER BY doc_id, blk_id) = 1 AS keep
      |  FROM h)
      |SELECT doc_id, count(*) AS n_blocks,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  -- COALESCE the STRING, not the list: DuckDB v1.0.0's
      |  -- array_to_string returns NULL for an EMPTY list too (not just a
      |  -- NULL one), so an all-dropped doc — which first appears at sf1,
      |  -- caught by the round-8 sf1 oracle sweep — hashed NULL while
      |  -- Spark's array_join of the empty collect_list hashes ''
      |  md5(COALESCE(array_to_string(list(blk ORDER BY blk_id)
      |    FILTER (WHERE keep), ' '), '')) AS kept_fp
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- boilerplate strip (RefinedWeb-style repeated-block removal) ----
  // The OTHER repeated-block keep rule: `dedup_paragraph` keeps each
  // repeated block's FIRST occurrence (CCNet), this drops EVERY
  // occurrence of a block seen in >= [[BoilerMinDf]] DISTINCT documents
  // (RefinedWeb / Dolma line-wise filtering: navigation chrome, license
  // headers, cookie banners repeat verbatim across pages and carry no
  // training signal even once). Block geometry is the shared
  // [[paragraphBlocks]] kernel, so the two rules stay comparable
  // block-for-block on the same corpus.
  //
  // Plan shape: linear explode; ONE distinct-doc count per block hash
  // (partial-distinct combines map-side); the flagged-hash side is
  // FILTERED to df >= BoilerMinDf BEFORE the back-join, so the join's
  // build side carries repeated hashes only — the corpus-frequency skew
  // lives on the small side, not on the block stream — and a left join
  // marks survivors; one doc-keyed re-agg rebuilds each document. A doc
  // whose every block is boilerplate survives as md5('') — the caller's
  // drop filter, not silent loss.
  private[graft] val BoilerMinDf = 2L

  private def boilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    val blocks = paragraphBlocks(t(s, dir, "documents"), "doc_id", "text")
      .withColumn("bh", md5(col("blk")))
    val boiler = blocks.groupBy("bh")
      .agg(countDistinct(col("doc_id")).as("dfd"))
      .filter(col("dfd") >= BoilerMinDf)
      .select("bh")
    blocks.join(boiler.withColumn("flag", lit(true)), Seq("bh"), "left")
      .withColumn("keep", col("flag").isNull)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), lit(0L)).otherwise(lit(1L))).as("n_boiler"),
        md5(array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN keep THEN struct(blk_id, blk) END)), x -> x.blk)"),
          " ")).as("kept_fp"))
      .orderBy("doc_id")
  }

  private val boilerplateStripSql =
    s"""WITH ${paragraphBlocksSql("u", materialized = true)},
      |f AS (
      |  SELECT bh FROM (
      |    SELECT md5(blk) AS bh, count(DISTINCT doc_id) AS dfd
      |    FROM u GROUP BY 1)
      |  WHERE dfd >= $BoilerMinDf),
      |k AS (
      |  SELECT u.doc_id, u.blk_id, u.blk, f.bh IS NULL AS keep
      |  FROM u LEFT JOIN f ON md5(u.blk) = f.bh)
      |SELECT doc_id, count(*) AS n_blocks,
      |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_boiler,
      |  md5(COALESCE(array_to_string(list(blk ORDER BY blk_id)
      |    FILTER (WHERE keep), ' '), '')) AS kept_fp
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- dedup method census ----
  // The method-selection analysis run before committing a dedup budget:
  // which detectors flag which documents, and how much they agree. A doc
  // is FLAGGED by a method when it appears in that method's duplicate
  // output (pair membership for the pair detectors at their own
  // thresholds; membership in a ≥2-copy hash group for exact). The
  // census emits the per-method-pair overlap matrix (sizes, |∩|,
  // Jaccard ppm — diagonal rows double as the per-method totals).
  // Composition discipline: each leg IS the corresponding catalog query
  // (one definition); flagged ids come via explode so every leg
  // evaluates ONCE, and the pair matrix comes from per-doc method SETS
  // (one shuffle on doc_id, pairs exploded from the ≤5-element sorted
  // set) — no self-join on shared union lineage (the round-8
  // DeduplicateRelations lesson). `embedding` covers the embedded
  // subset of the id space by construction.
  private def dedupCensus(s: SparkSession, dir: String): DataFrame = {
    def members(df: DataFrame): DataFrame =
      df.select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct()
    // the ONE md5 grouping definition — the same aggregate `exact`
    // publishes, consumed here for group membership: hashes with ≥2
    // copies join back to docs on the hash key (plain equi-join; the
    // dup-hash side is O(duplicate docs) and must NOT be force-broadcast)
    val dupHashes = exact(s, dir).filter(col("n_copies") >= 2)
      .select(col("text_hash"))
    val exactF = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .join(dupHashes, "text_hash").select("doc_id")
    val sets: Seq[(String, DataFrame)] = Seq(
      "embedding" -> members(embeddingCosineAnnC(s, dir)),
      "exact" -> exactF,
      "minhash" -> members(minhashLshC(s, dir)),
      "ngram" -> members(ngramJaccardC(s, dir)
        .filter(col("jaccard") >= ResolveJaccard)),
      "simhash" -> members(simhashPairsC(s, dir)))
    val flagged = sets.map { case (m, df) =>
      df.select(lit(m).as("method"), col("doc_id")) }.reduce(_ unionAll _)
    // flagged is consumed exactly ONCE: the diagonal rows (m, m) of the
    // pair matrix ARE the per-method totals, so sizes come from the
    // ≤25-row matrix itself instead of a second pass over the legs
    val pairCounts = flagged.groupBy("doc_id")
      .agg(array_sort(collect_set(col("method"))).as("ms"))
      .select(explode(expr(
        """flatten(transform(ms, (x, i) ->
             transform(slice(ms, i + 1, size(ms) - i),
               y -> struct(x AS m1, y AS m2))))""")).as("p"))
      .groupBy(col("p.m1").as("m1"), col("p.m2").as("m2"))
      .agg(count(lit(1)).as("both"))
      .localCheckpoint()
    val diag = pairCounts.filter(col("m1") === col("m2"))
      .select(col("m1").as("method"), col("both").as("nm"))
    pairCounts
      .join(broadcast(diag.select(col("method").as("m1"), // 5 methods
        col("nm").as("n1"))), "m1")
      .join(broadcast(diag.select(col("method").as("m2"), // 5 methods
        col("nm").as("n2"))), "m2")
      .select(col("m1"), col("m2"), col("n1"), col("n2"), col("both"),
        expr("""CAST(floor(CAST(both AS DOUBLE) * 1000000.0
                / (n1 + n2 - both)) AS BIGINT)""").as("jaccard_ppm"))
      .orderBy("m1", "m2")
  }

  private def dedupCensusSql: String = {
    val legs = Seq(
      "embedding" -> embeddingAnnSql,
      "minhash" -> minhashLshSql,
      "simhash" -> simhashSql).map { case (m, q) =>
        s"""SELECT '$m' AS method, unnest([a_id, b_id]) AS doc_id FROM (
           |$q
           |)""".stripMargin
      } ++ Seq(
      s"""SELECT 'ngram' AS method, unnest([a_id, b_id]) AS doc_id FROM (
         |$ngramJaccardSql
         |) WHERE jaccard >= $ResolveJaccard""".stripMargin,
      s"""SELECT 'exact' AS method, d.doc_id
         |FROM documents d JOIN (
         |$exactSql
         |) e ON md5(d.text) = e.text_hash
         |WHERE e.n_copies >= 2""".stripMargin)
    s"""WITH fl AS MATERIALIZED (
       |  SELECT DISTINCT method, doc_id FROM (
       |${legs.mkString("\nUNION ALL\n")}
       |)),
       |sz AS (SELECT method, CAST(count(*) AS BIGINT) AS nm
       |       FROM fl GROUP BY method),
       |pr AS (
       |  SELECT f1.method AS m1, f2.method AS m2,
       |    CAST(count(*) AS BIGINT) AS both
       |  FROM fl f1 JOIN fl f2
       |    ON f1.doc_id = f2.doc_id AND f1.method <= f2.method
       |  GROUP BY 1, 2)
       |SELECT pr.m1, pr.m2, s1.nm AS n1, s2.nm AS n2, pr.both,
       |  CAST(floor(CAST(pr.both AS DOUBLE) * 1000000.0
       |    / (s1.nm + s2.nm - pr.both)) AS BIGINT) AS jaccard_ppm
       |FROM pr
       |JOIN sz s1 ON s1.method = pr.m1
       |JOIN sz s2 ON s2.method = pr.m2
       |ORDER BY m1, m2""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_paragraph" -> (paragraphDedup _),
    "boilerplate_strip" -> (boilerplateStrip _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_exact" -> (exact _),
    "dedup_substring" -> (substringSpans _),
    "dedup_substring_rewrite" -> (substringRewrite _),
    "source_overlap" -> (sourceOverlap _),
    // the cached legs re-apply their presentation sort per read: a
    // checkpointed frame replays stored partitions, and the contract on
    // these queries' output is the explicit ORDER BY of their mirrors
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccardC(s, d).orderBy("a_id", "b_id")),
    "dedup_minhash_lsh" -> ((s, d) => minhashLshC(s, d).orderBy("a_id", "b_id")),
    "dedup_simhash" -> ((s, d) => simhashPairsC(s, d).orderBy("a_id", "b_id")),
    "dedup_embedding_exact" -> (embeddingCosine _),
    "dedup_embedding" -> ((s, d) => embeddingCosineAnnC(s, d).orderBy("a_id", "b_id")),
    "dedup_resolve" -> (resolve _),
    "dedup_keep_best" -> (keepBest _),
    "decontaminate" -> (decontaminate _),
    "dedup_census" -> (dedupCensus _),
    "corpus_pipeline" -> (corpusPipeline _))

  // def, not val: the simhash/minhash mirrors embed the persisted-frame
  // paths recorded when the queries last ran (Verify dumps afterwards)
  def oracle: Map[String, String] = Map(
    "dedup_paragraph" -> paragraphDedupSql,
    "boilerplate_strip" -> boilerplateStripSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_exact" -> exactSql,
    "dedup_substring" -> substringSpansSql,
    "dedup_substring_rewrite" -> substringRewriteSql,
    "source_overlap" -> sourceOverlapSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_simhash" -> simhashSql,
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_embedding_exact" -> embeddingCosineSql,
    "dedup_embedding" -> embeddingAnnSql,
    "dedup_resolve" -> resolveSql,
    "dedup_keep_best" -> keepBestSql,
    "decontaminate" -> decontaminateSql,
    "dedup_census" -> dedupCensusSql,
    "corpus_pipeline" -> corpusPipelineSql)
}
