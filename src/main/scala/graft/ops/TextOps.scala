package graft.ops

import graft.Tables
import graft.expr.{functions => gf}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline extension
  * (driver north star): quality scoring, language ID, token statistics,
  * document fingerprinting — all over the `documents` table. Ratios are
  * exact integer divisions (identical doubles in both engines).
  */
object TextOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")
  private val stopArr: Column = array(Stopwords.map(lit): _*)
  private val stopSql = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  // Quality scoring: length / token stats / stopword ratio per document.
  private def quality(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    t(s, dir, "documents").select(
      col("doc_id"),
      col("lang"),
      col("n_chars"),
      length(col("text")).as("len"),
      size(toks).as("tok_cnt"),
      size(array_distinct(toks)).as("uniq_cnt"),
      size(filter(toks, x => array_contains(stopArr, x))).as("stop_cnt"))
      .withColumn("stop_ratio",
        col("stop_cnt").cast("double") / col("tok_cnt"))
      .withColumn("avg_tok_len",
        (col("len") - (col("tok_cnt") - 1)).cast("double") / col("tok_cnt"))
      .orderBy("doc_id")
  }

  private val qualitySql =
    s"""WITH q AS (
       |  SELECT doc_id, lang, n_chars, CAST(length(text) AS INT) AS len,
       |    CAST(len(string_split(text, ' ')) AS INT) AS tok_cnt,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS uniq_cnt,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> list_contains($stopSql, x))) AS INT) AS stop_cnt
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, len, tok_cnt, uniq_cnt, stop_cnt,
       |  CAST(stop_cnt AS DOUBLE) / tok_cnt AS stop_ratio,
       |  CAST(len - (tok_cnt - 1) AS DOUBLE) / tok_cnt AS avg_tok_len
       |FROM q ORDER BY doc_id""".stripMargin

  // Readability: Flesch–Kincaid grade + Flesch reading ease (Kincaid et
  // al., 1975) from the classic counts, with the standard cheap proxies —
  // words = space-split tokens, sentences = terminal-punctuation runs
  // (floored at 1 so fragment documents stay defined), syllables =
  // vowel-group runs. Three codegen'd regexp/split scans, O(total chars),
  // no shuffle; the grade arithmetic runs in identical doubles in both
  // engines (integer counts cast once, literals spelled the same).
  private def readability(s: SparkSession, dir: String): DataFrame = {
    val words = size(split(col("text"), " "))
    val sents = greatest(lit(1), regexp_count(col("text"), lit("[.!?]+")))
    val sylls = regexp_count(lower(col("text")), lit("[aeiouy]+"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        words.as("words"), sents.as("sents"), sylls.as("sylls"))
      .withColumn("wps", col("words").cast("double") / col("sents"))
      .withColumn("spw", col("sylls").cast("double") / col("words"))
      .withColumn("fk_grade",
        lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59))
      .withColumn("reading_ease",
        lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"))
      .orderBy("doc_id")
  }

  private val readabilitySql =
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS INT) AS words,
       |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS INT)
       |      AS sents,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT)
       |      AS sylls
       |  FROM documents),
       |d AS (
       |  SELECT *, CAST(words AS DOUBLE) / sents AS wps,
       |    CAST(sylls AS DOUBLE) / words AS spw
       |  FROM r)
       |SELECT doc_id, lang, words, sents, sylls, wps, spw,
       |  0.39 * wps + 11.8 * spw - 15.59 AS fk_grade,
       |  206.835 - 1.015 * wps - 84.6 * spw AS reading_ease
       |FROM d ORDER BY doc_id""".stripMargin

  // Language ID: n-gram/stopword heuristic. The synthetic corpus is the
  // same vocabulary across langs, so the heuristic is exercised for
  // determinism, not linguistic accuracy.
  private def langid(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        (size(filter(toks, x => array_contains(stopArr, x))).cast("double")
          / size(toks)).as("ratio"))
      .withColumn("pred",
        when(col("ratio") >= 0.10, "en")
          .when(col("ratio") >= 0.04, "mixed")
          .otherwise("other"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  private val langidSql =
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> list_contains($stopSql, x))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS ratio
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN ratio >= 0.10 THEN 'en'
       |       WHEN ratio >= 0.04 THEN 'mixed'
       |       ELSE 'other' END AS pred,
       |  count(*) AS n
       |FROM r GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin

  // Corpus token statistics: explode tokens, per-language totals/distinct.
  private def tokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        explode(split(col("text"), "\\s+")).as("tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"))
      .orderBy("lang")

  private val tokensSql =
    """SELECT lang, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
      |FROM (SELECT lang, unnest(regexp_split_to_array(text, '\s+')) AS tok
      |      FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // BPE-ish tokenization: the GPT-2-style pre-tokenizer shape — runs of
  // letters, runs of digits, runs of other symbols, each optionally
  // space-prefixed. Kept to char classes + alternation so Java regex
  // (Spark) and RE2 (DuckDB) agree byte-for-byte; per-document counts are
  // the unit a token-budget pipeline actually bills by.
  private val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  private def tokensBpe(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_ws"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("n_bpe"))
      .orderBy("doc_id")

  private val tokensBpeSql =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
       |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS INT) AS n_bpe
       |FROM documents ORDER BY doc_id""".stripMargin

  // Document fingerprint: rolling polynomial hash — custom codegen'd
  // expression on the Spark side, mirrored in DuckDB by an identical
  // integer fold over characters (exact arithmetic → exact match).
  private def fingerprintQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), gf.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** DuckDB mirror of `TextHashOps.fingerprint` — the ONE copy of the
    * fold; every oracle that hashes text (here and in CorpusOps's
    * sample_split) must build on it so a kernel change cannot silently
    * desync one of them. */
  private[ops] def fingerprintFoldSql(col: String): String =
    s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($col, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  private val fingerprintSql =
    s"""SELECT doc_id,
       |  ${fingerprintFoldSql("text")} AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // Collocation mining: top word bigrams by a PMI-style association score
  // over raw (non-distinct) occurrence counts — the phrase-discovery pass
  // a tokenizer-training pipeline runs before merging frequent pairs.
  // score = round(ln(N·c(xy) / (c(x)·c(y))) · 10⁴) in fixed point (the
  // tfidf determinism trick: the ×10⁴ rounding absorbs any ulp drift
  // between the engines' ln). The c(xy) ≥ MinPairCount support filter
  // kills one-off flukes, and top-K goes through orderBy+limit
  // (TakeOrderedAndProject — per-partition top-K, no global window).
  private val CollocK = 25
  private val MinPairCount = 5

  private def collocations(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val n = toks.agg(count(lit(1)).as("n_tok"))
    // adjacent pairs, NON-distinct (occurrence counts, unlike shingles)
    val pairs = t(s, dir, "documents")
      .select(split(col("text"), " ").as("ts"))
      .select(explode(expr(
        "transform(slice(ts, 1, size(ts) - 1), (x, i) -> struct(x AS w1, element_at(ts, i + 2) AS w2))"))
        .as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= MinPairCount)
    val a = uni.select(col("tok").as("w1"), col("c1").as("c_w1"))
    val b = uni.select(col("tok").as("w2"), col("c1").as("c_w2"))
    pairs.join(a, "w1").join(b, "w2")
      .crossJoin(broadcast(n)) // 1-row token total
      .withColumn("pmi_fp",
        round(log(col("c12").cast("double") * col("n_tok") /
          (col("c_w1") * col("c_w2"))) * 10000).cast("bigint"))
      .select("w1", "w2", "c12", "c_w1", "c_w2", "pmi_fp")
      .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
      .limit(CollocK)
  }

  private val collocationsSql =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |uni AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY 1),
       |n AS (SELECT count(*) AS n_tok FROM toks),
       |pr AS (
       |  SELECT p.w1, p.w2, count(*) AS c12 FROM (
       |    SELECT unnest(list_transform(range(1, len(ts)),
       |      i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS p
       |    FROM (SELECT string_split(text, ' ') AS ts FROM documents)) q
       |  GROUP BY 1, 2 HAVING count(*) >= $MinPairCount)
       |SELECT pr.w1, pr.w2, pr.c12, a.c1 AS c_w1, b.c1 AS c_w2,
       |  CAST(round(ln(CAST(pr.c12 AS DOUBLE) * n.n_tok /
       |    (a.c1 * b.c1)) * 10000) AS BIGINT) AS pmi_fp
       |FROM pr JOIN uni a ON pr.w1 = a.tok JOIN uni b ON pr.w2 = b.tok
       |CROSS JOIN n
       |ORDER BY pmi_fp DESC, w1, w2 LIMIT $CollocK""".stripMargin

  // Repetition-based quality metrics (the Gopher-rule family, word-level
  // because this corpus has no line structure): unique-token fraction,
  // most-frequent-token fraction, most-frequent-bigram fraction. A doc
  // dominated by one token or one bigram is boilerplate / generator junk.
  // Shape: explode → two (doc_id, gram) hash aggs → per-doc max — every
  // shuffle keyed by the high-cardinality doc_id, so the plan scales with
  // corpus size. Ratios are int/int divisions rounded to 6 in both engines.
  // Per-row formulation history (round 12, guide §1.2/§2.4): the original
  // explode → two (doc_id, gram) hash aggs → join-back chain was replaced
  // by a per-row array_sort + run fold (zero shuffles), but a three-scale
  // paired A/B (sf0.1/sf1/sf10: 1.16×/1.05×/1.02×) showed the per-row
  // sort + struct fold never actually beat the explode — the removed
  // exchanges were cheaper than the added per-task CPU at every measured
  // scale. The gramStats kernel keeps the zero-shuffle shape and removes
  // the CPU: one hash pass per row for [distinct count, max multiplicity]
  // (no sort, no per-element struct, no bigram strings, no distinct-array
  // copy — array_distinct built a whole array for what was only a size).
  // Identical integers to both prior forms; ratios are int/int divisions
  // rounded to 6 in both engines.
  private def repetition(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= lit("")).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("u", gf.gram_stats(col("toks"), lit(1)))
      .withColumn("topb", element_at(gf.gram_stats(col("toks"), lit(2)), 2))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0,
          round(element_at(col("u"), 1).cast("double") / col("n_tokens"), 6))
          .as("uniq_frac"),
        when(col("n_tokens") > 0,
          round(coalesce(element_at(col("u"), 2), lit(0L)).cast("double")
            / col("n_tokens"), 6))
          .as("top_token_frac"),
        when(col("n_tokens") > 1,
          round(coalesce(col("topb"), lit(0L)).cast("double") / (col("n_tokens") - 1), 6))
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  private val repetitionSql =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS INT) AS n_uniq
      |  FROM tk),
      |tu AS (
      |  SELECT doc_id, max(c) AS topu FROM (
      |    SELECT doc_id, g, count(*) AS c FROM (
      |      SELECT doc_id, unnest(toks) AS g FROM tk)
      |    GROUP BY doc_id, g)
      |  GROUP BY 1),
      |tb AS (
      |  SELECT doc_id, max(c) AS topb FROM (
      |    SELECT doc_id, g, count(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |        i -> toks[i] || ' ' || toks[i+1])) AS g
      |      FROM tk)
      |    GROUP BY doc_id, g)
      |  GROUP BY 1)
      |SELECT b.doc_id, n_tokens,
      |  CASE WHEN n_tokens > 0 THEN
      |    round(CAST(n_uniq AS DOUBLE) / n_tokens, 6) END AS uniq_frac,
      |  CASE WHEN n_tokens > 0 THEN
      |    round(CAST(coalesce(topu, 0) AS DOUBLE) / n_tokens, 6) END AS top_token_frac,
      |  CASE WHEN n_tokens > 1 THEN
      |    round(CAST(coalesce(topb, 0) AS DOUBLE) / (n_tokens - 1), 6) END AS top_bigram_frac
      |FROM base b LEFT JOIN tu USING (doc_id) LEFT JOIN tb USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // C4/Gopher-style quality gate: the length, diversity, repetition, and
  // stopword filters composed into ONE decision per document with the
  // first failing rule as the drop reason — the single-scan filter pass a
  // curation pipeline runs before anything expensive touches the corpus.
  // Thresholds are set to split the synthetic corpus (each rule fires on
  // a real fraction of docs); all inputs are exact integer ratios rounded
  // to 6 in BOTH engines, so the threshold comparisons are engine-equal.
  private val GateMinToks = 20
  private val GateMinUniq = 0.35
  private val GateMaxBigram = 0.08
  private val GateMinStop = 0.02

  private def qualityGate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= lit("")).as("toks"))
    // All gram statistics per ROW via the gramStats kernel (round 12) —
    // the former bigram branch exploded the corpus into (doc, g) rows,
    // aggregated twice and joined back (2 exchanges + a join) for a
    // per-doc scalar; the kernel's hash pass yields the same exact
    // integers with zero shuffles. greatest(·, 1) reproduces the old
    // `otherwise(array(lit("")))` padding: a < 2-token doc exploded one
    // '' gram and scored topb = 1, and the kernel returns 0 there.
    // /n_tokens ratios are NULL-guarded in BOTH engines: unguarded, an
    // empty-token doc would be NULL here (Spark Divide) but ±inf/NaN in
    // DuckDB's IEEE float division — a latent hash-parity break. The
    // bigram denominator is greatest(·,1), never zero, so only the two
    // direct ratios need the guard ('too_short' fires first regardless).
    val stats = docs
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        element_at(gf.gram_stats(col("toks"), lit(1)), 1).as("n_uniq"),
        size(filter(col("toks"), x => array_contains(stopArr, x)))
          .as("stop_cnt"),
        greatest(element_at(gf.gram_stats(col("toks"), lit(2)), 2), lit(1L))
          .as("topb"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0,
          round(col("n_uniq").cast("double") / col("n_tokens"), 6))
          .as("uniq_frac"),
        round(col("topb").cast("double") /
          greatest(col("n_tokens") - 1, lit(1)), 6).as("top_bigram_frac"),
        when(col("n_tokens") > 0,
          round(col("stop_cnt").cast("double") / col("n_tokens"), 6))
          .as("stop_ratio"))
    stats
      .withColumn("reason",
        when(col("n_tokens") < GateMinToks, lit("too_short"))
          .when(col("uniq_frac") < GateMinUniq, lit("low_diversity"))
          .when(col("top_bigram_frac") >= GateMaxBigram, lit("repetitive"))
          .when(col("stop_ratio") < GateMinStop, lit("low_stopwords")))
      .withColumn("keep", col("reason").isNull)
      .orderBy("doc_id")
  }

  private val qualityGateSql =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS INT) AS n_uniq,
       |    CAST(len(list_filter(toks,
       |      x -> list_contains($stopSql, x))) AS INT) AS stop_cnt
       |  FROM tk),
       |tb AS (
       |  SELECT doc_id, max(c) AS topb FROM (
       |    SELECT doc_id, g, count(*) AS c FROM (
       |      SELECT doc_id,
       |        CASE WHEN len(toks) >= 2 THEN
       |          unnest(list_transform(range(1, len(toks)),
       |            i -> toks[i] || ' ' || toks[i+1]))
       |        ELSE unnest(['']) END AS g
       |      FROM tk)
       |    GROUP BY doc_id, g)
       |  GROUP BY 1),
       |stats AS (
       |  SELECT b.doc_id, n_tokens,
       |    CASE WHEN n_tokens > 0 THEN
       |      round(CAST(n_uniq AS DOUBLE) / n_tokens, 6) END AS uniq_frac,
       |    round(CAST(coalesce(topb, 1) AS DOUBLE) /
       |      greatest(n_tokens - 1, 1), 6) AS top_bigram_frac,
       |    CASE WHEN n_tokens > 0 THEN
       |      round(CAST(stop_cnt AS DOUBLE) / n_tokens, 6) END AS stop_ratio
       |  FROM base b LEFT JOIN tb USING (doc_id)),
       |gated AS (
       |  SELECT *,
       |    CASE WHEN n_tokens < $GateMinToks THEN 'too_short'
       |         WHEN uniq_frac < $GateMinUniq THEN 'low_diversity'
       |         WHEN top_bigram_frac >= $GateMaxBigram THEN 'repetitive'
       |         WHEN stop_ratio < $GateMinStop THEN 'low_stopwords'
       |    END AS reason
       |  FROM stats)
       |SELECT doc_id, n_tokens, uniq_frac, top_bigram_frac, stop_ratio,
       |  reason, reason IS NULL AS keep
       |FROM gated ORDER BY doc_id""".stripMargin

  // ---- token-distribution entropy ----
  // Shannon entropy of each document's token distribution — the
  // diversity signal between `text_quality`'s crude uniq_frac and a full
  // LM score: word salad maximizes it, boilerplate repetition minimizes
  // it, so curation pipelines cut both tails. Fixed-point discipline
  // (the text_lm_score rule): each distinct token's log-probability is
  // discretized ONCE — round(ln(c/n)·1e6) AS BIGINT — then the per-doc
  // sum/divide runs in exact integer arithmetic in both engines, so
  // engine ulp drift cannot reach the output. entropy_fp is the entropy
  // in nats ×10⁶.
  //
  // Plan shape (round 12): all three statistics are per-document
  // functions of the document's own tokens, so they ride the
  // entropyStats kernel — one hash pass per row, zero exchanges before
  // the output sort. The former explode → (doc_id, tok) count →
  // doc-keyed window → doc re-agg chain shuffled O(corpus tokens) rows
  // three times for per-row scalars; the kernel reproduces its integers
  // bit-exactly (same BigDecimal HALF_UP rounding of ln(c/n)·1e6, same
  // truncating DIV on the nonnegative negated sum — see
  // TextHashOps.entropyStats), and the empty-token filter reproduces the
  // explode formulation's absent rows. EntropySpec-style pin lives in
  // DedupSpec ("entropy_stats equals the explode/window formulation").
  private def entropy(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= lit("")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        gf.entropy_stats(col("toks"), lit(CorpusOps.LmScale)).as("e"))
      .select(col("doc_id"),
        element_at(col("e"), 1).as("n_tok"),
        element_at(col("e"), 2).as("n_uniq"),
        element_at(col("e"), 3).as("entropy_fp"))
      .orderBy("doc_id")
  }

  private val entropySql =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
       |  FROM documents),
       |cnt AS (
       |  SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
       |p AS (
       |  SELECT doc_id, tok, c,
       |    sum(c) OVER (PARTITION BY doc_id) AS n
       |  FROM cnt),
       |lp AS (
       |  SELECT doc_id, c, n,
       |    CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ${CorpusOps.LmScale}) AS BIGINT) AS lp
       |  FROM p)
       |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tok,
       |  count(*) AS n_uniq,
       |  (-CAST(sum(c * lp) AS BIGINT)) // CAST(max(n) AS BIGINT)
       |    AS entropy_fp
       |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- winnowing fingerprints (Schleimer et al. 2003, MOSS) ----
  // The local-similarity dedup primitive the shingle/MinHash family
  // lacks: selecting the MINIMUM k-gram hash in every sliding window
  // guarantees any shared run of ≥ w+k−1 tokens contributes at least one
  // IDENTICAL selected print to both documents — so overlap detection
  // needs only an equi-join on prints, with a density bound of ~2/(w+1)
  // selected per gram. Position hashes reuse the mirrored fingerprint
  // fold; window minima and dedup are codegen'd array lambdas — one
  // stateless projection per document, no shuffle until the pair join.
  private[graft] val WinnowK = 3 // k-gram (words)
  private[graft] val WinnowW = 4 // window (grams)

  /** Per-doc selected winnowing prints, RELATIONAL: one posexplode emits
    * each k-gram hash exactly once (the fingerprint kernel runs once per
    * gram — the first formulation nested the gram array inside a
    * per-window lambda, re-evaluating the whole array per window in
    * interpreted higher-order functions: 60+ s on 500 docs), then ONE
    * doc-keyed sliding-frame window takes each window's minimum —
    * codegen'd, O(m·w) per doc, and the exact shape a 100 TB corpus
    * needs (the only exchange is the doc_id window key). The frame
    * clamps at the partition end, which also yields the correct
    * global-min selection for docs with fewer grams than the window. */
  /** Per-doc winnowing selection via the ONE-PASS kernel
    * ([[graft.expr.TextHashOps.winnowSel]], round 13): `ws` =
    * `(n_grams, prints, occ)` computed per row — gram fingerprints,
    * clamped sliding-window minima, tie-complete occurrence marking and
    * per-doc dedup all inside one stateless projection. The relational
    * chain this replaces (posexplode grams → doc-keyed count+min windows
    * → filter → distinct, plus a grams×starts equi-join for occurrences)
    * cost three corpus-sized exchanges and three corpus scans before any
    * consumer did its own work; the kernel's consumers start from zero
    * exchanges (guide §2.4). Bit-equality vs the relational chain is
    * pinned in DedupSpec; `coalesce('')` preserves the no-rows behavior
    * of null text exactly (m = 0, empty selections). */
  private def winnowSelected(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        gf.winnow_sel(coalesce(col("text"), lit("")),
          lit(WinnowK), lit(WinnowW)).as("ws"))

  private def winnowPrints(s: SparkSession, dir: String): DataFrame =
    winnowSelected(s, dir)
      .select(col("doc_id"), col("ws.n_grams").as("n_grams"),
        explode(col("ws.prints")).as("print"))

  // ---- shared winnowing frame cache ----
  // The prints frame feeds FOUR catalog queries (text_winnow,
  // winnow_pairs, winnow_resolve, winnow_spans), the pair frame three;
  // round 8 measured winnow_resolve as the one closure-family member
  // whose steady state never improved (sf1 min 10.4 s) precisely
  // because every call rebuilt prints + pairs from the raw corpus.
  // Cache both (and the spans' selected-occurrence frame) keyed by
  // (context, documents content) — checkpointed, freed on eviction,
  // the labelsCache ownership contract. Sizes are the family's own
  // working set: prints ≈ 2/(W+1) of grams, pairs/occ smaller.
  private val winnowCache =
    new ContentKey.Lru[DataFrame](8, ContentKey.freeOnEvict("winnowCache"))

  private def winnowKey(s: SparkSession, dir: String, leg: String): String =
    s"${ContentKey.ofScoped(s, Seq(s"$dir/documents.parquet"))}/$leg"

  private def winnowPrintsC(s: SparkSession, dir: String): DataFrame =
    winnowCache.get(winnowKey(s, dir, "prints"))(
      winnowPrints(s, dir).localCheckpoint())

  private def winnowPairsCoreC(s: SparkSession, dir: String): DataFrame =
    winnowCache.get(winnowKey(s, dir, "pairs"))(
      winnowPairsCore(s, dir).localCheckpoint())

  private def winnowSelOccC(s: SparkSession, dir: String): DataFrame =
    winnowCache.get(winnowKey(s, dir, "occ"))(
      winnowSelOcc(s, dir).localCheckpoint())

  private def winnowCte: String = {
    val sh = "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
    s"""wt AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |wg AS (
       |  SELECT doc_id, i - 1 AS pos, ${fingerprintFoldSql(sh)} AS h
       |  FROM wt, unnest(range(1, len(toks) - ${WinnowK - 2})) u(i)
       |  WHERE len(toks) >= $WinnowK),
       |ww AS (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY doc_id) AS m,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wm
       |  FROM wg),
       |ws AS (
       |  SELECT DISTINCT doc_id, m AS n_grams, wm AS print
       |  FROM ww WHERE pos <= greatest(0, m - $WinnowW))""".stripMargin
  }

  private def winnow(s: SparkSession, dir: String): DataFrame =
    // Round 13: with the per-row selection kernel the whole report is a
    // stateless projection — the prints-frame groupBy (collect_list +
    // exchange) and the documents left join (every doc already yields
    // exactly one kernel row; short docs have empty selections) both
    // disappear. md5 over the same sorted-prints join string: the
    // kernel's prints multiset equals the old frame's per-doc print set,
    // so array_sort fixes the same order collect_list+sort produced.
    winnowSelected(s, dir)
      .select(col("doc_id"),
        col("ws.n_grams").as("n_grams"),
        size(col("ws.prints")).cast("long").as("n_sel"),
        when(size(col("ws.prints")) === 0, lit(md5Empty))
          .otherwise(md5(array_join(transform(array_sort(col("ws.prints")),
            _.cast("string")), ","))).as("sel_fp"))
      .orderBy("doc_id")

  // md5("") — the fingerprint of an empty selection, kept literal so the
  // gram-less branch needs no md5 evaluation at all
  private val md5Empty = "d41d8cd98f00b204e9800998ecf8427e"

  private val winnowSql =
    s"""WITH ${winnowCte},
       |agg AS (
       |  SELECT doc_id, CAST(max(n_grams) AS BIGINT) AS n_grams,
       |    count(*) AS n_sel,
       |    md5(array_to_string(list_transform(list_sort(list(print)),
       |      x -> CAST(x AS VARCHAR)), ',')) AS sel_fp
       |  FROM ws GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_grams, 0) AS n_grams,
       |  COALESCE(agg.n_sel, 0) AS n_sel,
       |  COALESCE(agg.sel_fp, '$md5Empty') AS sel_fp
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // Candidate pairs sharing >= 2 selected prints — the winnowing overlap
  // join. The per-print document-frequency cap bounds a boilerplate
  // print's fan-out exactly as dedup_ngram_jaccard's DfCap does.
  private[ops] val WinnowDfCap = 128

  // core without the presentation sort: winnow_resolve feeds these pairs
  // straight into the closure, where a global orderBy would be a
  // materialized-then-discarded range exchange (the knnComponentsCore
  // split discipline)
  private def winnowPairsCore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capped = winnowPrintsC(s, dir)
      .select(col("doc_id"), col("print"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("print")))
      .filter(col("df") <= WinnowDfCap)
    val a = capped.select(col("doc_id").as("a_id"), col("print"))
    val b = capped.select(col("doc_id").as("b_id"), col("print"))
    a.join(b, Seq("print"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  private def winnowPairs(s: SparkSession, dir: String): DataFrame =
    winnowPairsCoreC(s, dir).orderBy("a_id", "b_id")

  private val winnowPairsSql =
    s"""WITH ${winnowCte},
       |capped AS (
       |  SELECT doc_id, print FROM (
       |    SELECT doc_id, print,
       |      count(*) OVER (PARTITION BY print) AS df
       |    FROM ws) WHERE df <= $WinnowDfCap)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
       |FROM capped a JOIN capped b
       |  ON a.print = b.print AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY a_id, b_id""".stripMargin

  // Winnowing-family resolve: connected components over the overlap
  // pairs (the shingle family's dedup_resolve, with winnowing prints as
  // the candidate generator — catches LOCAL overlaps that whole-doc
  // MinHash misses). Same pointer-jumping closure; keeper = min id;
  // docs without overlaps stay their own keepers.
  private def winnowResolve(s: SparkSession, dir: String): DataFrame = {
    // the closure output is cached like DedupOps.resolvedLabels (the
    // in-tree precedent for this family): components of the winnow pair
    // graph are resolved once per dataset content, and a later call
    // replays checkpoint blocks through the presentation join instead of
    // re-running the propagation rounds
    val labels = winnowCache.get(winnowKey(s, dir, "labels")) {
      val p = winnowPairsCoreC(s, dir).select(col("a_id"), col("b_id"))
      val edges = p.select(col("a_id").as("u"), col("b_id").as("v"))
        .union(p.select(col("b_id").as("u"), col("a_id").as("v")))
      DedupOps.propagateMin(edges)._1
    }
    t(s, dir, "documents").select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("keep_id"))
      .orderBy("doc_id")
  }

  private val winnowResolveSql =
    s"""WITH RECURSIVE ${winnowCte},
       |capped AS (
       |  SELECT doc_id, print FROM (
       |    SELECT doc_id, print,
       |      count(*) OVER (PARTITION BY print) AS df
       |    FROM ws) WHERE df <= $WinnowDfCap),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM capped a JOIN capped b
       |    ON a.print = b.print AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |edges AS (
       |  SELECT a_id AS u, b_id AS v FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |walk(id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.id)
       |SELECT id AS doc_id, min(label) AS keep_id FROM walk
       |GROUP BY id ORDER BY doc_id""".stripMargin

  // ---- winnowing positional spans (MOSS-style localization) ----
  // winnow_pairs says WHICH docs overlap; winnow_spans says WHERE: the
  // selected-print OCCURRENCES (position retained, not distinct-ed away)
  // of each pair's shared prints, merged per side into token islands.
  // Two consecutive selected grams inside one shared run are at most W
  // apart (every W-window holds a selection), so a gap tolerance of
  // W + K - 1 grams bridges intra-run selection gaps plus the gram
  // width while splitting genuinely separate shared runs.
  private[ops] val WinnowGap = WinnowW + WinnowK - 1

  /** Selected print occurrences with gram positions: a gram (doc_id,
    * pos, h) is selected iff it realizes the minimum of at least one
    * valid window containing it. Round 13: read straight off the
    * kernel's `occ` array (tie-complete, per-doc distinct) — the old
    * grams×starts equi-join and its distinct are gone. */
  private def winnowSelOcc(s: SparkSession, dir: String): DataFrame =
    winnowSelected(s, dir)
      .select(col("doc_id"), explode(col("ws.occ")).as("o"))
      .select(col("doc_id"), col("o.pos").as("pos"), col("o.print").as("print"))

  private def winnowSpans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capped = winnowPrintsC(s, dir)
      .select(col("doc_id"), col("print"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("print")))
      .filter(col("df") <= WinnowDfCap)
    val a = capped.select(col("doc_id").as("a_id"), col("print"))
    val b = capped.select(col("doc_id").as("b_id"), col("print"))
    // shared prints per qualifying pair, pair gate (>= 2 shared) via a
    // pair-keyed window on the SAME join — no second a×b pass
    val shared = a.join(b, Seq("print"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("n_shared",
        count(lit(1)).over(Window.partitionBy("a_id", "b_id")))
      .filter(col("n_shared") >= 2)
      .select(col("a_id"), col("b_id"), col("print"))
    val occ = winnowSelOccC(s, dir)
    // positions of the pair's shared prints on each side; (pair, side,
    // pos) is already unique — one hash per gram position
    val pts = shared
      .join(occ.withColumnRenamed("doc_id", "a_id"), Seq("a_id", "print"))
      .select(col("a_id"), col("b_id"), lit("a").as("side"), col("pos"))
      .union(shared
        .join(occ.withColumnRenamed("doc_id", "b_id"), Seq("b_id", "print"))
        .select(col("a_id"), col("b_id"), lit("b").as("side"), col("pos")))
    val wOrd = Window.partitionBy("a_id", "b_id", "side").orderBy("pos")
    pts
      .withColumn("prev", lag(col("pos"), 1).over(wOrd))
      .withColumn("flag", when(col("prev").isNull ||
        col("pos") - col("prev") > WinnowGap, 1).otherwise(0))
      .withColumn("island", sum(col("flag")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("a_id"), col("b_id"), col("side"), col("island"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + WinnowK - 1).cast("long").as("end_tok"),
        count(lit(1)).as("n_prints"))
      .select(col("a_id"), col("b_id"), col("side"),
        col("start_tok"), col("end_tok"), col("n_prints"))
      .orderBy("a_id", "b_id", "side", "start_tok")
  }

  // The spans mirror re-derives the window chain from MATERIALIZED
  // local copies instead of referencing winnowCte's ww/ws: DuckDB
  // inlines plain CTEs once PER REFERENCE (the mirror-gotcha that
  // filled the disk at sf1), and this query needs the gram frame and
  // the window frame twice each — wgm/wwm pin both to one evaluation
  // (winnowCte's wt/wg/ww/ws become unreferenced and are never run).
  // wwm's window text restates winnowCte.ww verbatim over wgm.
  private val winnowSpansSql =
    s"""WITH ${winnowCte},
       |wgm AS MATERIALIZED (SELECT * FROM wg),
       |wwm AS MATERIALIZED (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY doc_id) AS m,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wm
       |  FROM wgm),
       |wsv AS (
       |  SELECT doc_id, pos AS spos, wm FROM wwm
       |  WHERE pos <= greatest(0, m - $WinnowW)),
       |wocc AS MATERIALIZED (
       |  SELECT DISTINCT g.doc_id, g.pos, g.h AS print
       |  FROM wgm g JOIN wsv s2 ON s2.doc_id = g.doc_id AND g.h = s2.wm
       |    AND g.pos BETWEEN s2.spos AND s2.spos + ${WinnowW - 1}),
       |capped AS MATERIALIZED (
       |  SELECT doc_id, print FROM (
       |    SELECT doc_id, print,
       |      count(*) OVER (PARTITION BY print) AS df
       |    FROM (SELECT DISTINCT doc_id, wm AS print FROM wwm
       |          WHERE pos <= greatest(0, m - $WinnowW)))
       |  WHERE df <= $WinnowDfCap),
       |shared AS MATERIALIZED (
       |  SELECT a_id, b_id, print FROM (
       |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.print,
       |      count(*) OVER (PARTITION BY a.doc_id, b.doc_id) AS n_shared
       |    FROM capped a JOIN capped b
       |      ON a.print = b.print AND a.doc_id < b.doc_id)
       |  WHERE n_shared >= 2),
       |pts AS (
       |  SELECT s.a_id, s.b_id, 'a' AS side, o.pos
       |  FROM shared s JOIN wocc o
       |    ON o.doc_id = s.a_id AND o.print = s.print
       |  UNION ALL
       |  SELECT s.a_id, s.b_id, 'b' AS side, o.pos
       |  FROM shared s JOIN wocc o
       |    ON o.doc_id = s.b_id AND o.print = s.print),
       |grp AS (
       |  SELECT a_id, b_id, side, pos,
       |    CASE WHEN lag(pos) OVER w IS NULL
       |      OR pos - lag(pos) OVER w > $WinnowGap THEN 1 ELSE 0 END AS flag
       |  FROM pts
       |  WINDOW w AS (PARTITION BY a_id, b_id, side ORDER BY pos)),
       |isl AS (
       |  SELECT a_id, b_id, side, pos,
       |    sum(flag) OVER (PARTITION BY a_id, b_id, side ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM grp)
       |SELECT a_id, b_id, side,
       |  CAST(min(pos) AS BIGINT) AS start_tok,
       |  CAST(max(pos) + ${WinnowK - 1} AS BIGINT) AS end_tok,
       |  count(*) AS n_prints
       |FROM isl GROUP BY a_id, b_id, side, island
       |ORDER BY a_id, b_id, side, start_tok""".stripMargin

  // ---- per-block language segmentation (CCNet-style) ----
  // CCNet runs language ID per PARAGRAPH and splits documents into
  // monolingual spans — a mixed-language page contributes its English
  // paragraphs to the English corpus instead of being dropped whole.
  // Block geometry is the shared [[DedupOps.paragraphBlocks]] kernel
  // (the same unit dedup_paragraph/boilerplate_strip use), the per-block
  // classifier is `text_langid`'s stopword-ratio heuristic verbatim —
  // so block-level and doc-level predictions stay comparable. Output per
  // document: block count, the number of contiguous same-prediction
  // SEGMENTS (the spans a splitter would cut), the majority prediction
  // (ties break to the lexicographically smallest label) and its mass.
  //
  // Plan shape: linear explode; one doc_id window (segment-change flags
  // via null-safe lag compare) and two doc-keyed aggs — all on the same
  // doc_id partitioning, no joins wider than doc_id. Determinism: the
  // ratio is one small-int divide (identical IEEE in both engines, the
  // langid discipline) and everything downstream is integer/string.
  private def langSegments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = DedupOps.paragraphBlocks(
      t(s, dir, "documents"), "doc_id", "text")
    val toksB = split(col("blk"), " ")
    val p = blocks
      .withColumn("ratio",
        size(filter(toksB, x => array_contains(stopArr, x))).cast("double")
          / size(toksB))
      .withColumn("pred",
        when(col("ratio") >= 0.10, "en")
          .when(col("ratio") >= 0.04, "mixed")
          .otherwise("other"))
    val wd = Window.partitionBy("doc_id").orderBy("blk_id")
    val segs = p
      .withColumn("chg",
        when(col("pred") <=> lag(col("pred"), 1).over(wd), lit(0L))
          .otherwise(lit(1L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"), sum(col("chg")).as("n_segments"))
    val wm = Window.partitionBy("doc_id")
      .orderBy(col("n").desc, col("pred"))
    val major = p.groupBy("doc_id", "pred")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wm))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("pred").as("major_pred"),
        col("n").as("n_major"))
    segs.join(major, "doc_id")
      .select("doc_id", "n_blocks", "n_segments", "major_pred", "n_major")
      .orderBy("doc_id")
  }

  private val langSegmentsSql = {
    s"""WITH ${DedupOps.paragraphBlocksSql("u", materialized = false)},
       |-- MATERIALIZED: referenced by both segs and major
       |p AS MATERIALIZED (
       |  SELECT doc_id, blk_id,
       |    CASE WHEN ratio >= 0.10 THEN 'en'
       |         WHEN ratio >= 0.04 THEN 'mixed'
       |         ELSE 'other' END AS pred
       |  FROM (
       |    SELECT doc_id, blk_id,
       |      CAST(len(list_filter(string_split(blk, ' '),
       |        x -> list_contains($stopSql, x))) AS DOUBLE)
       |        / len(string_split(blk, ' ')) AS ratio
       |    FROM u)),
       |segs AS (
       |  SELECT doc_id, count(*) AS n_blocks,
       |    CAST(sum(chg) AS BIGINT) AS n_segments
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN pred IS NOT DISTINCT FROM
       |        lag(pred) OVER (PARTITION BY doc_id ORDER BY blk_id)
       |      THEN 0 ELSE 1 END AS chg
       |    FROM p)
       |  GROUP BY 1),
       |major AS (
       |  SELECT doc_id, pred AS major_pred, n AS n_major FROM (
       |    SELECT doc_id, pred, count(*) AS n,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY count(*) DESC, pred) AS rn
       |    FROM p GROUP BY 1, 2)
       |  WHERE rn = 1)
       |SELECT doc_id, n_blocks, n_segments, major_pred, n_major
       |FROM segs JOIN major USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_lang_segments" -> (langSegments _),
    "text_winnow" -> (winnow _),
    "winnow_pairs" -> (winnowPairs _),
    "winnow_resolve" -> (winnowResolve _),
    "winnow_spans" -> (winnowSpans _),
    "text_entropy" -> (entropy _),
    "text_quality" -> (quality _),
    "text_readability" -> (readability _),
    "text_langid" -> (langid _),
    "text_tokens" -> (tokens _),
    "text_tokens_bpe" -> (tokensBpe _),
    "text_fingerprint" -> (fingerprintQ _),
    "text_collocations" -> (collocations _),
    "text_repetition" -> (repetition _),
    "quality_gate" -> (qualityGate _))

  val oracle: Map[String, String] = Map(
    "doc_lang_segments" -> langSegmentsSql,
    "text_winnow" -> winnowSql,
    "winnow_pairs" -> winnowPairsSql,
    "winnow_resolve" -> winnowResolveSql,
    "winnow_spans" -> winnowSpansSql,
    "text_entropy" -> entropySql,
    "text_quality" -> qualitySql,
    "text_readability" -> readabilitySql,
    "text_langid" -> langidSql,
    "text_tokens" -> tokensSql,
    "text_tokens_bpe" -> tokensBpeSql,
    "text_fingerprint" -> fingerprintSql,
    "text_collocations" -> collocationsSql,
    "text_repetition" -> repetitionSql,
    "quality_gate" -> qualityGateSql)
}
