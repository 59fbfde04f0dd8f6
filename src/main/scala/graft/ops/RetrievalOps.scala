package graft.ops

import graft.Tables
import graft.expr.{functions => gf}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Retrieval-side corpus preparation: RAG chunking, inverted-index
  * construction, and curriculum ordering — the three passes that turn a
  * cleaned corpus into something a retrieval or training stack consumes.
  *
  * Scale notes: `doc_chunk` is a narrow per-row generate (no shuffle
  * until the presentation sort) — chunking 100 TB is embarrassingly
  * parallel, and the per-chunk fingerprint feeds chunk-level dedup
  * downstream. `inverted_index` bounds per-term state with a rank cap
  * BEFORE collecting postings (a head term's posting list is top-K by
  * doc_id, never an unbounded collect) and bounds output with a
  * TakeOrdered top-K on document frequency. `curriculum_order` computes
  * per-document difficulty with one shuffle on term and one on doc_id,
  * then assigns phases by comparing against a broadcast 1-row exact
  * quantile frame — no global window anywhere, so the assignment scales
  * (the classic ntile() formulation would funnel every row through one
  * partition).
  *
  * Determinism: token order is positional, posting lists sort by doc_id,
  * difficulty ties don't matter (phase is threshold-based), and the
  * ln-based IDF uses the ×10⁴ fixed-point rounding discipline
  * (TextOps.collocations) so engine ulp drift cannot leak into output.
  */
object RetrievalOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // Whitespace tokens, positional: split on single space in BOTH engines
  // so slice offsets agree exactly (PackOps token parity discipline).
  private def toks(c: String) = split(col(c), " ")
  private def toksSql(c: String) = s"string_split($c, ' ')"

  // ---- RAG chunking (fixed window, overlapping stride) ----
  // Chunk k of a doc covers tokens [k·S, k·S + W); chunks are emitted
  // while k·S < n_tok with the standard "one chunk past the last full
  // window" count n_chunks = ceil(max(n_tok − W, 0) / S) + 1, so every
  // token lands in ≥1 chunk and consecutive chunks overlap by W − S.

  private val ChunkW = 32L // window (tokens)
  private val ChunkS = 24L // stride → 8-token overlap

  private def docChunk(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      col("doc_id"), toks("text").as("toks"),
      size(toks("text")).cast("long").as("n_tok"))
    d.withColumn("n_chunks",
        expr(s"(greatest(n_tok - $ChunkW, 0L) + ${ChunkS - 1}) DIV $ChunkS + 1"))
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * ChunkS)
      .withColumn("n_tok_chunk", least(lit(ChunkW), col("n_tok") - col("start_tok")))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        col("start_tok"), col("n_tok_chunk"),
        gf.fingerprint(array_join(
          slice(col("toks"), col("start_tok") + 1, col("n_tok_chunk")), " "))
          .as("chunk_fp"))
      .orderBy("doc_id", "chunk_id")
  }

  private val docChunkSql =
    s"""WITH d AS (
       |  SELECT doc_id, ${toksSql("text")} AS toks,
       |    CAST(len(${toksSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks, n_tok,
       |    unnest(range(0, (greatest(n_tok - $ChunkW, 0) + ${ChunkS - 1})
       |      // $ChunkS + 1)) AS chunk_id
       |  FROM d)
       |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |  chunk_id * $ChunkS AS start_tok,
       |  least($ChunkW, n_tok - chunk_id * $ChunkS) AS n_tok_chunk,
       |  ${TextOps.fingerprintFoldSql(
             // COALESCE: an empty doc's single chunk slices an empty list,
             // which DuckDB v1.0.0 stringifies to NULL, Spark to ''
             s"COALESCE(array_to_string(list_slice(toks, chunk_id * $ChunkS + 1, " +
             s"chunk_id * $ChunkS + least($ChunkW, n_tok - chunk_id * $ChunkS)), ' '), '')")}
       |    AS chunk_fp
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ---- inverted index (bounded posting lists) ----
  // term → document frequency, total term frequency, and the first
  // PostK postings by doc_id as a CSV string (strings, not arrays: the
  // driver compare is scalar-exact). The rank cap bounds per-term state
  // BEFORE the collect; the df-ordered top-K bounds total output.

  private val PostK = 16
  private val TermK = 100

  private def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(toks("text")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
      .orderBy(col("df").desc, col("term")).limit(TermK)
    val rn = Window.partitionBy("term").orderBy("doc_id")
    val postings = tf
      .withColumn("rn", row_number().over(rn))
      .filter(col("rn") <= PostK)
      .groupBy("term")
      .agg(array_join(transform(array_sort(collect_list(col("doc_id"))),
        _.cast("string")), ",").as("postings"))
    stats.join(postings, "term")
      .select(col("term"), col("df"), col("tf_total"), col("postings"))
      .orderBy(col("df").desc, col("term"))
  }

  private val invertedIndexSql =
    s"""WITH tf AS (
       |  SELECT term, doc_id, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents)
       |  WHERE term <> '' GROUP BY 1, 2),
       |st AS (
       |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
       |  FROM tf GROUP BY 1
       |  ORDER BY df DESC, term LIMIT $TermK),
       |post AS (
       |  SELECT term,
       |    array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',')
       |      AS postings
       |  FROM (SELECT term, doc_id,
       |          row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
       |        FROM tf)
       |  WHERE rn <= $PostK GROUP BY 1)
       |SELECT st.term, st.df, st.tf_total, post.postings
       |FROM st JOIN post USING (term)
       |ORDER BY df DESC, term""".stripMargin

  // ---- curriculum ordering (rarity-difficulty phases) ----
  // difficulty(doc) = mean fixed-point IDF of its tokens — a cheap,
  // model-free proxy for "hard" (rare-vocabulary) documents. Phase
  // boundaries are EXACT discrete quartiles of the difficulty
  // distribution (percentile_disc picks actual values, so both engines
  // agree bit-for-bit), broadcast as one row; phase = 1 + #(cutoffs
  // strictly below the doc).

  private def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = docs
      .select(col("doc_id"), explode(toks("text")).as("term"))
      .filter(col("term") =!= "")
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val idf = pairs.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs)) // 1-row corpus size
      .select(col("term"),
        round(log(col("n_docs") / col("df")) * 1e4, 0).cast("long").as("idf_fp"))
    val diff = pairs.join(idf, "term")
      .groupBy("doc_id")
      .agg(round(sum(col("idf_fp")).cast("double") / count(lit(1)), 4)
        .as("difficulty"))
    val cuts = diff.agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY difficulty)").as("q1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY difficulty)").as("q2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY difficulty)").as("q3"))
    diff.crossJoin(broadcast(cuts)) // 1-row quantile frame
      .select(col("doc_id"), col("difficulty"),
        (lit(1) + (col("difficulty") > col("q1")).cast("int")
          + (col("difficulty") > col("q2")).cast("int")
          + (col("difficulty") > col("q3")).cast("int")).as("phase"))
      .orderBy("doc_id")
  }

  private val curriculumOrderSql =
    s"""WITH pairs AS (
       |  SELECT doc_id, term
       |  FROM (SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents)
       |  WHERE term <> ''),
       |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       |idf AS (
       |  SELECT term,
       |    CAST(round(ln(nd.n_docs / df) * 10000, 0) AS BIGINT) AS idf_fp
       |  FROM (SELECT term, count(*) AS df
       |        FROM (SELECT DISTINCT term, doc_id FROM pairs) GROUP BY 1), nd),
       |diff AS (
       |  SELECT doc_id,
       |    round(CAST(sum(idf_fp) AS DOUBLE) / count(*), 4) AS difficulty
       |  FROM pairs JOIN idf USING (term) GROUP BY 1),
       |cuts AS (
       |  SELECT quantile_disc(difficulty, 0.25) AS q1,
       |    quantile_disc(difficulty, 0.5) AS q2,
       |    quantile_disc(difficulty, 0.75) AS q3
       |  FROM diff)
       |SELECT doc_id, difficulty,
       |  1 + CAST(difficulty > q1 AS INT) + CAST(difficulty > q2 AS INT)
       |    + CAST(difficulty > q3 AS INT) AS phase
       |FROM diff, cuts ORDER BY doc_id""".stripMargin

  // ---- BM25 ranked retrieval ----
  // The query half of the index/query retrieval pair (Robertson &
  // Zaragoza 2009, "The Probabilistic Relevance Framework: BM25 and
  // Beyond" — public): score(d) = Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b +
  // b·dl/avgdl)), k1 = 1.2, b = 0.75, idf = ln((N−df+0.5)/(df+0.5)+1)
  // (the +1 keeps high-df terms nonnegative). The query is a pinned
  // 3-term literal — the retrieval shape is what's under test, any term
  // set exercises it.
  //
  // Float discipline: idf is discretized ONCE per term (round(·1e6),
  // ≤|query| ln calls) and each per-(doc, term) contribution is
  // re-discretized to BIGINT before the per-doc sum — so the only
  // order-sensitive reduction is an exact integer add, and the double
  // ops before it (the dl/avgdl saturation denominator) are the same
  // IEEE sequence in both engines.
  //
  // Scale shape: the exploded token stream is filtered to the query
  // terms BEFORE any aggregation (an IN-3 predicate directly above the
  // Generate — at 100 TB an index serves this as a posting-list read
  // instead of a scan; the relational pipeline after that point is
  // identical), so tf/df and the score join touch only matching docs.
  // dl/avgdl come from one doc-length aggregate; avgdl rides a 1-row
  // broadcast. Top-K is orderBy+limit — TakeOrdered, per-partition heads
  // + a K-row merge; the rank window runs on the 20 survivors only.
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private[graft] val Bm25Query = Seq("spark", "window", "merge")
  private val Bm25K = 20
  private val IdfScale = 1000000L

  /** The BM25 fixed-point discretization — ONE definition for all three
    * consumers (bm25_search, bm25_chunks, search_hybrid_rrf) so the IEEE
    * sequence before each BIGINT re-discretization cannot drift by
    * copy-edit. Expects columns nd, df, tf, dl, avgdl; adds idf_fp and
    * contrib_fp. [[bm25ContribSql]] is its mirror (both engines run the
    * same double ops in the same order; the only order-sensitive
    * reduction downstream is the exact integer sum). */
  private def withBm25Contrib(in: DataFrame): DataFrame = in
    .withColumn("idf_fp",
      round(log((col("nd") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) + lit(1.0)) * IdfScale).cast("long"))
    .withColumn("contrib_fp",
      round(col("idf_fp") * (col("tf") * lit(Bm25K1 + 1)) /
        (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) +
          lit(Bm25B) * (col("dl").cast("double") / col("avgdl")))))
        .cast("long"))

  private val bm25ContribSql: String =
    s"""CAST(round(
       |      CAST(round(ln((nd - df + 0.5) / (df + 0.5) + 1.0) * $IdfScale)
       |        AS BIGINT)
       |      * (tf * ${Bm25K1 + 1}) /
       |      (tf + $Bm25K1 * (${1 - Bm25B} +
       |        $Bm25B * (CAST(dl.dl AS DOUBLE) / avgdl)))) AS BIGINT)""".stripMargin

  private def bm25Search(s: SparkSession, dir: String): DataFrame = {
    val tokens = t(s, dir, "documents")
      .select(col("doc_id"), explode(toks("text")).as("term"))
      .filter(col("term") =!= "")
    val dl = tokens.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tot"))
      .withColumn("avgdl", col("tot").cast("double") / col("nd"))
    val tf = tokens.filter(col("term").isin(Bm25Query: _*))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = withBm25Contrib(tf
      .join(broadcast(df), "term") // ≤ |Bm25Query| (3) term rows
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))) // 1-row (nd, avgdl) side
    val w = Window.orderBy(col("score_fp").desc, col("doc_id"))
    contrib.groupBy("doc_id")
      .agg(sum(col("contrib_fp")).as("score_fp"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(Bm25K)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("score_fp"), col("n_terms"))
      .orderBy("rank")
  }

  private val bm25SearchSql = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH tokens AS (
       |  SELECT doc_id, term
       |  FROM (SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents)
       |  WHERE term <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY 1),
       |corpus AS (
       |  SELECT nd, CAST(tot AS DOUBLE) / nd AS avgdl
       |  FROM (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tot FROM dl)),
       |tf AS (
       |  SELECT term, doc_id, count(*) AS tf FROM tokens
       |  WHERE term IN ($terms) GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    $bm25ContribSql
       |      AS contrib_fp
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
       |  CROSS JOIN corpus),
       |scored AS (
       |  SELECT doc_id, CAST(sum(contrib_fp) AS BIGINT) AS score_fp,
       |    count(*) AS n_terms
       |  FROM contrib GROUP BY 1
       |  ORDER BY score_fp DESC, doc_id LIMIT $Bm25K)
       |SELECT CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS INT)
       |    AS rank,
       |  doc_id, score_fp, n_terms
       |FROM scored ORDER BY rank""".stripMargin
  }

  // ---- BM25 over chunks (the composed retrieval pair) ----
  // A RAG user retrieves CHUNKS, not whole documents: `doc_chunk` defines
  // the geometry, `bm25_search` the ranking — this entry composes them.
  // The unit of retrieval is the (doc_id, chunk_id) window: dl is the
  // chunk's non-empty token count, avgdl the mean over all chunks, df the
  // number of CHUNKS containing the term, and the returned span
  // (start_tok, n_tok_chunk) locates the hit inside its document — what
  // the retriever actually pastes into a prompt.
  //
  // Same float discipline as `bm25_search` (idf discretized once per
  // term, contributions re-discretized to BIGINT before the only
  // order-sensitive sum) and the same scale shape: one Generate feeds the
  // chunk-length aggregate and the IN-3-filtered tf branch (at 100 TB the
  // tf side is a posting-list read over a chunk-keyed index — built by
  // `inverted_index` on the same chunk stream), avgdl rides a 1-row
  // broadcast, and top-K is TakeOrdered with the rank window on the K
  // survivors only. Chunking adds no shuffle: the slice explode is a
  // narrow per-row generate, and every aggregation after it is keyed by
  // (doc_id, chunk_id) — same exchange count as the doc-level query.
  private def bm25Chunks(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      col("doc_id"), toks("text").as("toks"),
      size(toks("text")).cast("long").as("n_tok"))
    val ch = d.withColumn("n_chunks",
        expr(s"(greatest(n_tok - $ChunkW, 0L) + ${ChunkS - 1}) DIV $ChunkS + 1"))
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * ChunkS)
      .withColumn("n_tok_chunk",
        least(lit(ChunkW), col("n_tok") - col("start_tok")))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        col("start_tok"), col("n_tok_chunk"),
        slice(col("toks"), col("start_tok") + 1, col("n_tok_chunk"))
          .as("ctoks"))
    val tokens = ch.select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("n_tok_chunk"), explode(col("ctoks")).as("term"))
      .filter(col("term") =!= "")
    val dl = tokens
      .groupBy("doc_id", "chunk_id", "start_tok", "n_tok_chunk")
      .agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tot"))
      .withColumn("avgdl", col("tot").cast("double") / col("nd"))
    val tf = tokens.filter(col("term").isin(Bm25Query: _*))
      .groupBy("term", "doc_id", "chunk_id").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = withBm25Contrib(tf
      .join(broadcast(df), "term") // ≤ |Bm25Query| (3) term rows
      .join(dl, Seq("doc_id", "chunk_id"))
      .crossJoin(broadcast(corpus))) // 1-row (nd, avgdl) side
    val w = Window.orderBy(col("score_fp").desc, col("doc_id"),
      col("chunk_id"))
    contrib.groupBy("doc_id", "chunk_id", "start_tok", "n_tok_chunk")
      .agg(sum(col("contrib_fp")).as("score_fp"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_fp").desc, col("doc_id"), col("chunk_id"))
      .limit(Bm25K)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("chunk_id"), col("start_tok"),
        col("n_tok_chunk"), col("score_fp"), col("n_terms"))
      .orderBy("rank")
  }

  private val bm25ChunksSql = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, ${toksSql("text")} AS toks,
       |    CAST(len(${toksSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks, n_tok,
       |    unnest(range(0, (greatest(n_tok - $ChunkW, 0) + ${ChunkS - 1})
       |      // $ChunkS + 1)) AS chunk_id
       |  FROM d),
       |ch AS (
       |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |    chunk_id * $ChunkS AS start_tok,
       |    least($ChunkW, n_tok - chunk_id * $ChunkS) AS n_tok_chunk,
       |    list_slice(toks, chunk_id * $ChunkS + 1,
       |      chunk_id * $ChunkS
       |        + least($ChunkW, n_tok - chunk_id * $ChunkS)) AS ctoks
       |  FROM c),
       |tokens AS (
       |  SELECT doc_id, chunk_id, start_tok, n_tok_chunk, term
       |  FROM (SELECT doc_id, chunk_id, start_tok, n_tok_chunk,
       |          unnest(ctoks) AS term FROM ch)
       |  WHERE term <> ''),
       |dl AS (
       |  SELECT doc_id, chunk_id, start_tok, n_tok_chunk, count(*) AS dl
       |  FROM tokens GROUP BY 1, 2, 3, 4),
       |corpus AS (
       |  SELECT nd, CAST(tot AS DOUBLE) / nd AS avgdl
       |  FROM (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tot FROM dl)),
       |tf AS (
       |  SELECT term, doc_id, chunk_id, count(*) AS tf FROM tokens
       |  WHERE term IN ($terms) GROUP BY 1, 2, 3),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |contrib AS (
       |  SELECT tf.doc_id, tf.chunk_id, dl.start_tok, dl.n_tok_chunk,
       |    $bm25ContribSql
       |      AS contrib_fp
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id, chunk_id)
       |  CROSS JOIN corpus),
       |scored AS (
       |  SELECT doc_id, chunk_id, start_tok, n_tok_chunk,
       |    CAST(sum(contrib_fp) AS BIGINT) AS score_fp,
       |    count(*) AS n_terms
       |  FROM contrib GROUP BY 1, 2, 3, 4
       |  ORDER BY score_fp DESC, doc_id, chunk_id LIMIT $Bm25K)
       |SELECT CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id,
       |    chunk_id) AS INT) AS rank,
       |  doc_id, chunk_id, start_tok, n_tok_chunk, score_fp, n_terms
       |FROM scored ORDER BY rank""".stripMargin
  }

  // ---- hybrid retrieval: BM25 ⊕ vector shortlist via RRF ----
  // The production RAG retrieval shape (Cormack, Clarke & Buettcher 2009,
  // "Reciprocal Rank Fusion outperforms Condorcet and individual rank
  // learning methods", public): two independent rankers — a lexical BM25
  // list and an ANN vector shortlist — fused by rank only, score(d) =
  // Σ_lists 1/(k + rank_list(d)), k = 60. Rank-space fusion needs no
  // score calibration between rankers, which is exactly why it is the
  // default hybrid in production search stacks.
  //
  // Query model is more-like-this: query q is a document id < NQueries;
  // its lexical query is its own top-[[HybridQTerms]] TF terms
  // (tf desc, term asc — deterministic), its vector query is its
  // embedding. The vector leg consumes [[SimilarityOps.ivfCandidates]] —
  // the SAME persisted-index candidate frame every IVF consumer shares —
  // so hybrid inherits the index's scale shape (bucket equi-join, never
  // a scan). The lexical leg is bm25_search's pipeline with the term
  // filter a broadcast semi-join on the ≤ NQueries·HybridQTerms union
  // term set (a posting-list read at 100 TB).
  //
  // Float discipline: ranks are the ONLY thing fused. Both legs rank by
  // (score desc, id asc) with the bm25/vdot fixed-point disciplines, so
  // ranks are engine-exact; the RRF contribution discretizes as
  // round(1e9/(60+rank)) — an exact IEEE divide of small ints, identical
  // in both engines — and the fusion sum is integer. Full-outer rank
  // join: a doc on one list only scores that list's term (standard RRF).
  private[graft] val HybridQTerms = 3
  private val HybridLexK = 20
  private val HybridVecK = 20
  private val HybridK = 10
  private val RrfK = 60
  private val RrfScale = 1000000000L

  private def rrfContrib(rank: Column): Column =
    when(rank.isNotNull,
      round(lit(RrfScale.toDouble) / (lit(RrfK) + rank)).cast("long"))
      .otherwise(lit(0L))

  private def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import SimilarityOps.NQueries
    val tokens = t(s, dir, "documents")
      .select(col("doc_id"), explode(toks("text")).as("term"))
      .filter(col("term") =!= "")
    // per-query lexical terms: the query doc's top TF terms
    val wq = Window.partitionBy("q_id")
      .orderBy(col("tf").desc, col("term"))
    val qt = tokens.filter(col("doc_id") < NQueries)
      .groupBy(col("doc_id").as("q_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= HybridQTerms)
      .select("q_id", "term")
    // per-doc length WITHOUT re-exploding the corpus: dl equals the count
    // of non-empty tokens, a per-row scalar over the document scan. The
    // exploded formulation only produced rows for docs with ≥1 non-empty
    // token, so the >0 filter keeps the frame (and `corpus`'s nd)
    // identical. Saves one full explode+exchange of the token stream.
    val dl = t(s, dir, "documents")
      .select(col("doc_id"),
        size(filter(toks("text"), x => x =!= lit(""))).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val corpus = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tot"))
      .withColumn("avgdl", col("tot").cast("double") / col("nd"))
    // tf is consumed twice (df and the scoring join); a localCheckpoint
    // here measured WORSE in the r12 A/B (its job barrier + block write
    // outweigh AQE's stage reuse of the identical exchanges) — left lazy.
    val tf = tokens
      // qt: ≤ NQueries × HybridQTerms rows, and so are tf's terms and df
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wl = Window.partitionBy("q_id")
      .orderBy(col("score_fp").desc, col("id"))
    val lex = withBm25Contrib(tf
      .join(broadcast(qt), "term") // ≤ NQueries × HybridQTerms rows
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(df), "term") // ≤ |Bm25Query| (3) term rows
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))) // 1-row (nd, avgdl) side
      .groupBy(col("q_id"), col("doc_id").as("id"))
      .agg(sum(col("contrib_fp")).as("score_fp"))
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= HybridLexK)
      .select("q_id", "id", "lex_rank")
    // vector leg: shared IVF candidate frame, exact cosine re-rank
    import DedupOps.{normed, vdot}
    val e = normed(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"))
    val wv = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("c_id"))
    val vec = SimilarityOps.ivfCandidates(s, dir)
      .join(broadcast(q), "q_id") // ≤ NQueries (8) query rows
      .join(c, "c_id")
      .select(col("q_id"), col("c_id"),
        (vdot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
          .as("cos_sim"))
      .withColumn("vec_rank", row_number().over(wv))
      .filter(col("vec_rank") <= HybridVecK)
      .select(col("q_id"), col("c_id").as("id"), col("vec_rank"))
    val wf = Window.partitionBy("q_id")
      .orderBy(col("rrf_fp").desc, col("id"))
    lex.join(vec, Seq("q_id", "id"), "full_outer")
      .withColumn("rrf_fp",
        rrfContrib(col("lex_rank")) + rrfContrib(col("vec_rank")))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= HybridK)
      .select(col("q_id"), col("rank"), col("id"), col("rrf_fp"),
        col("lex_rank"), col("vec_rank"))
      .orderBy("q_id", "rank")
  }

  private def hybridRrfSql: String = {
    import SimilarityOps.NQueries
    import DedupOps.{normedSql, vdotSql}
    val rrf = (r: String) =>
      s"COALESCE(CAST(round(CAST($RrfScale AS DOUBLE) / ($RrfK + $r)) AS BIGINT), 0)"
    s"""WITH tokens AS MATERIALIZED (
       |  SELECT doc_id, term
       |  FROM (SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents)
       |  WHERE term <> ''),
       |qt AS MATERIALIZED (
       |  SELECT q_id, term FROM (
       |    SELECT q_id, term, row_number() OVER (PARTITION BY q_id
       |      ORDER BY tf DESC, term) AS rn
       |    FROM (SELECT doc_id AS q_id, term, count(*) AS tf FROM tokens
       |      WHERE doc_id < $NQueries GROUP BY 1, 2))
       |  WHERE rn <= $HybridQTerms),
       |dl AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS dl FROM tokens GROUP BY 1),
       |corpus AS (
       |  SELECT nd, CAST(tot AS DOUBLE) / nd AS avgdl
       |  FROM (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tot FROM dl)),
       |tf AS MATERIALIZED (
       |  SELECT term, doc_id, count(*) AS tf FROM tokens
       |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |contrib AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    $bm25ContribSql
       |      AS contrib_fp
       |  FROM qt JOIN tf USING (term) JOIN dft USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN corpus
       |  WHERE tf.doc_id <> qt.q_id),
       |lex AS (
       |  SELECT q_id, id, lex_rank FROM (
       |    SELECT q_id, doc_id AS id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY score_fp DESC, doc_id) AS lex_rank
       |    FROM (SELECT q_id, doc_id, CAST(sum(contrib_fp) AS BIGINT)
       |        AS score_fp
       |      FROM contrib GROUP BY 1, 2))
       |  WHERE lex_rank <= $HybridLexK),
       |-- MATERIALIZED: joined as both qe and ce in vsims
       |n AS MATERIALIZED ($normedSql),
       |${SimilarityOps.ivfCandSql},
       |vsims AS (
       |  SELECT cand.q_id, cand.c_id,
       |    ${vdotSql("qe.embedding", "ce.embedding")} / (qe.norm * ce.norm)
       |      AS cos_sim
       |  FROM cand
       |  JOIN n qe ON qe.vec_id = cand.q_id
       |  JOIN n ce ON ce.vec_id = cand.c_id),
       |vec AS (
       |  SELECT q_id, id, vec_rank FROM (
       |    SELECT q_id, c_id AS id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos_sim DESC, c_id) AS vec_rank
       |    FROM vsims)
       |  WHERE vec_rank <= $HybridVecK),
       |fused AS (
       |  SELECT q_id, id,
       |    ${rrf("lex_rank")} + ${rrf("vec_rank")} AS rrf_fp,
       |    lex_rank, vec_rank
       |  FROM lex FULL JOIN vec USING (q_id, id))
       |SELECT q_id, CAST(rank AS INT) AS rank, id, rrf_fp,
       |  CAST(lex_rank AS INT) AS lex_rank, CAST(vec_rank AS INT) AS vec_rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf_fp DESC, id) AS rank FROM fused)
       |WHERE rank <= $HybridK ORDER BY q_id, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_search" -> (bm25Search _),
    "bm25_chunks" -> (bm25Chunks _),
    "doc_chunk" -> (docChunk _),
    "inverted_index" -> (invertedIndex _),
    "curriculum_order" -> (curriculumOrder _),
    "search_hybrid_rrf" -> (hybridRrf _))

  // def, not val: the hybrid mirror embeds the persisted IVF index/probe
  // paths recorded when the vector leg last ran (Verify dumps afterwards)
  def oracle: Map[String, String] = Map(
    "bm25_search" -> bm25SearchSql,
    "bm25_chunks" -> bm25ChunksSql,
    "doc_chunk" -> docChunkSql,
    "inverted_index" -> invertedIndexSql,
    "curriculum_order" -> curriculumOrderSql,
    "search_hybrid_rrf" -> hybridRrfSql)
}
