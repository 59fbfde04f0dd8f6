package graft.ops

import graft.Tables
import graft.expr.{functions => gf}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Corpus-preparation operators for the training-data pipeline extension:
  * text normalization, PII redaction, deterministic train/val/test splits,
  * vocabulary building, tf-idf term scoring, and int8 embedding
  * quantization. All stateless row/agg transforms — stateless ones scale
  * embarrassingly; the vocabulary/tf-idf aggregations shuffle once on the
  * (tiny) token space after map-side partial aggregation.
  *
  * Every query here carries an exact DuckDB oracle. Non-ASCII and regexp
  * behavior is pinned to constructs where Java regex (Spark) and RE2
  * (DuckDB) agree: character classes, bounded repetition, \b, \s — no
  * lookaround, no backreferences.
  */
object CorpusOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ---- text normalization (NFC + case + whitespace) ----
  // A deterministic "messy" wrapper (leading/trailing space, upper case, a
  // tab, doubled spaces, a combining-accent sequence) is added on BOTH
  // sides so the pipeline has real work even on the clean synthetic
  // corpus; the combining sequence "e"+U+0301 proves NFC composes it.

  private val MessySuffix = "\tThe  Café RESULT  "

  private def normalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("  "), upper(col("text")), lit(MessySuffix)).as("messy"))
      .select(col("doc_id"),
        gf.nfc(lower(trim(regexp_replace(col("messy"), "\\s+", " "))))
          .as("norm"))
      .select(col("doc_id"), length(col("norm")).as("n_norm"), col("norm"))
      .orderBy("doc_id")

  private val normalizeSql =
    """WITH m AS (
      |  SELECT doc_id,
      |    '  ' || upper(text) || chr(9) || 'The  Café RESULT  ' AS messy
      |  FROM documents),
      |n AS (
      |  SELECT doc_id,
      |    nfc_normalize(lower(trim(regexp_replace(messy, '\s+', ' ', 'g'))))
      |      AS norm
      |  FROM m)
      |SELECT doc_id, CAST(length(norm) AS INT) AS n_norm, norm
      |FROM n ORDER BY doc_id""".stripMargin

  // ---- PII redaction ----
  // The synthetic corpus carries no PII, so both sides append an identical
  // deterministic trailer (email, IP, phone) derived from doc_id, then
  // redact. Patterns are RE2-safe; redaction order (email → ip → phone) is
  // mirrored. Output keeps only the trailer region so rows stay small.

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"

  private def piiRedact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).as("n_text"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 10.0."),
          (col("doc_id") % 256).cast("string"),
          lit(".1 phone 555-0142 end")).as("seeded"))
      .select(col("doc_id"),
        regexp_count(col("seeded"), lit(EmailRe)).as("n_email"),
        regexp_count(col("seeded"), lit(IpRe)).as("n_ip"),
        regexp_count(col("seeded"), lit(PhoneRe)).as("n_phone"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("seeded"), EmailRe, "<EMAIL>"),
            IpRe, "<IP>"),
          PhoneRe, "<PHONE>")
          .substr(col("n_text") + 1, lit(1000)).as("redacted_tail"))
      .orderBy("doc_id")

  private val piiRedactSql =
    s"""WITH se AS (
       |  SELECT doc_id, CAST(length(text) AS INT) AS n_text,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |    '@mail.example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
       |    '.1 phone 555-0142 end' AS seeded
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(seeded, '$EmailRe')) AS INT) AS n_email,
       |  CAST(len(regexp_extract_all(seeded, '$IpRe')) AS INT) AS n_ip,
       |  CAST(len(regexp_extract_all(seeded, '$PhoneRe')) AS INT) AS n_phone,
       |  substring(
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(seeded, '$EmailRe', '<EMAIL>', 'g'),
       |        '$IpRe', '<IP>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g'),
       |    n_text + 1, 1000) AS redacted_tail
       |FROM se ORDER BY doc_id""".stripMargin

  // ---- deterministic train/val/test split ----
  // Content-addressed (fingerprint of the text, not the id): re-ingesting
  // the same document anywhere in the corpus lands in the same split —
  // the property that prevents train/test leakage across dedup runs.
  // 80/10/10 by fingerprint mod 100; the fold is the same mirrored
  // integer arithmetic as `text_fingerprint`.

  private def sampleSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), (gf.fingerprint(col("text")) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("split", "lang")

  // ---- split drift check ----
  // The audit run right after the content-addressed split: does each
  // heldout split's (source, lang) composition match train's? A skewed
  // val set silently mis-ranks checkpoints, so pipelines gate on exactly
  // this. Per non-train split: a G-test statistic (2·Σ O·ln(O/E), E
  // scaled from train's shares) in the LmScale fixed-point discipline —
  // ln differs by ulps across engines, so each stratum's contribution
  // rounds to an integer ×1e4 and the SUM is exact BIGINT arithmetic;
  // plus the counts G cannot see: novel strata (present here, absent in
  // train) AND missing strata (present in train, absent here — a val
  // split that silently dropped a whole train stratum is the worst
  // drift, and an O = 0 row contributes nothing to G). The stratum
  // universe is therefore split-strata ∪ train-strata; max share
  // deviation covers both directions. Scale shape: ONE corpus scan into
  // a schema-bounded strata frame (≤ splits·sources·langs rows — the
  // bounded driver-side allowance, like the kmeans centroid fit); all
  // tail arithmetic runs on that literal frame in-engine, so the
  // fixed-point ln stays the engines' own. Like the other bounded fits
  // (kmFit, pcaModel, bpeFit) the collected scan runs at build time and
  // sits OUTSIDE the query's plan — `graft.ExplainMain` prints the tail
  // over a LocalTableScan; the scan's own shape is the plain sample_split
  // aggregate.
  private def splitDrift(s: SparkSession, dir: String): DataFrame = {
    val strataRows = t(s, dir, "documents")
      .select(col("source"), col("lang"),
        (gf.fingerprint(col("text")) % 100).as("bucket"))
      .withColumn("split", when(col("bucket") < 80, "train")
        .when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy("split", "source", "lang").agg(count(lit(1)).as("o"))
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    import s.implicits._
    val strata = strataRows.toSeq.toDF("split", "source", "lang", "o")
    val train = strata.filter(col("split") === "train")
      .select(col("source"), col("lang"), col("o").as("t"))
    val totals = strata.groupBy("split").agg(sum(col("o")).as("n_split"))
    val ntr = totals.filter(col("split") === "train")
      .select(col("n_split").as("n_train"))
    val obs = strata.filter(col("split") =!= "train")
      .select(col("split"), col("source"), col("lang"), col("o"))
    // universe = observed strata ∪ (each split × train strata): a train
    // stratum with no rows in the split must surface as o = 0. The join
    // is NULL-SAFE (<=>): a NULL source/lang stratum must match itself
    // across the two sides or it double-counts as novel AND missing
    val trainExp = obs.select(col("split").as("tsplit")).distinct()
      // the train strata: ≤ 20 sources × 5 langs, collected above
      .crossJoin(broadcast(train.withColumnRenamed("source", "tsource")
        .withColumnRenamed("lang", "tlang")))
    obs.join(trainExp,
        col("split") <=> col("tsplit") && col("source") <=> col("tsource")
          && col("lang") <=> col("tlang"), "full_outer")
      .select(coalesce(col("split"), col("tsplit")).as("split"),
        coalesce(col("o"), lit(0L)).as("o"), col("t"))
      .join(broadcast(totals), "split") // 3 splits
      .crossJoin(broadcast(ntr)) // 1-row train total
      .withColumn("contrib_fp", when(col("t").isNotNull && col("o") > 0, expr(
        """CAST(round(20000.0 * o * ln((CAST(o AS DOUBLE) * n_train)
             / (CAST(n_split AS DOUBLE) * t))) AS BIGINT)"""))
        .otherwise(lit(0L)))
      .withColumn("dev_ppm", expr(
        """CAST(floor(abs(CAST(o AS DOUBLE) / n_split
             - CAST(coalesce(t, 0) AS DOUBLE) / n_train) * 1000000.0)
           AS BIGINT)"""))
      .groupBy("split")
      .agg(max(col("n_split")).as("n_split"),
        count(lit(1)).as("n_strata"),
        sum(when(col("t").isNull, 1L).otherwise(0L)).as("novel_strata"),
        sum(when(col("o") === 0L, 1L).otherwise(0L)).as("missing_strata"),
        sum(col("contrib_fp")).as("g_fp"),
        max(col("dev_ppm")).as("max_dev_ppm"))
      .orderBy("split")
  }

  private val splitDriftSql =
    s"""WITH b AS (
       |  SELECT source, lang,
       |    ${TextOps.fingerprintFoldSql("text")} % 100 AS bucket
       |  FROM documents),
       |-- MATERIALIZED: referenced by tr, tot, obs
       |st AS MATERIALIZED (
       |  SELECT CASE WHEN bucket < 80 THEN 'train'
       |              WHEN bucket < 90 THEN 'val'
       |              ELSE 'test' END AS split,
       |    source, lang, count(*) AS o
       |  FROM b GROUP BY 1, 2, 3),
       |tr AS MATERIALIZED (
       |  SELECT source, lang, o AS t FROM st WHERE split = 'train'),
       |tot AS MATERIALIZED (
       |  SELECT split, CAST(sum(o) AS BIGINT) AS n_split
       |  FROM st GROUP BY split),
       |ntr AS (SELECT n_split AS n_train FROM tot WHERE split = 'train'),
       |obs AS (SELECT split, source, lang, o FROM st WHERE split <> 'train'),
       |-- universe = observed strata FULL OUTER (each split x train strata):
       |-- a train stratum with no rows in the split must surface as o = 0
       |texp AS (
       |  SELECT sp.split, tr.source, tr.lang, tr.t
       |  FROM (SELECT DISTINCT split FROM obs) sp CROSS JOIN tr),
       |u AS (
       |  SELECT COALESCE(obs.split, texp.split) AS split,
       |    COALESCE(obs.o, 0) AS o, texp.t
       |  FROM obs FULL OUTER JOIN texp
       |    ON obs.split IS NOT DISTINCT FROM texp.split
       |    AND obs.source IS NOT DISTINCT FROM texp.source
       |    AND obs.lang IS NOT DISTINCT FROM texp.lang),
       |j AS (
       |  SELECT u.split, u.o, u.t, tot.n_split, ntr.n_train,
       |    CASE WHEN u.t IS NOT NULL AND u.o > 0 THEN
       |      CAST(round(20000.0 * u.o * ln((CAST(u.o AS DOUBLE) * ntr.n_train)
       |        / (CAST(tot.n_split AS DOUBLE) * u.t))) AS BIGINT)
       |    ELSE 0 END AS contrib_fp,
       |    CAST(floor(abs(CAST(u.o AS DOUBLE) / tot.n_split
       |      - CAST(COALESCE(u.t, 0) AS DOUBLE) / ntr.n_train) * 1000000.0)
       |      AS BIGINT) AS dev_ppm
       |  FROM u
       |  JOIN tot USING (split)
       |  CROSS JOIN ntr)
       |SELECT split, max(n_split) AS n_split,
       |  CAST(count(*) AS BIGINT) AS n_strata,
       |  CAST(sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS novel_strata,
       |  CAST(sum(CASE WHEN o = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS missing_strata,
       |  CAST(sum(contrib_fp) AS BIGINT) AS g_fp,
       |  max(dev_ppm) AS max_dev_ppm
       |FROM j GROUP BY split ORDER BY split""".stripMargin

  private val sampleSplitSql =
    s"""WITH b AS (
       |  SELECT lang, ${TextOps.fingerprintFoldSql("text")} % 100 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket < 80 THEN 'train'
       |            WHEN bucket < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |  lang, count(*) AS n
       |FROM b GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  // ---- deterministic global shuffle + shard layout ----
  // The pre-training export step every data pipeline ends with: assign
  // each document a pseudo-random but fully deterministic position so
  // the training order is (a) decorrelated from ingest/source order,
  // (b) reproducible run-to-run, and (c) re-derivable per document
  // (content-addressed key — the sample_split property, salted so the
  // shuffle permutation is independent of the split buckets). Shard =
  // key mod NShards, position = rank of (key, doc_id) within the shard
  // — at scale this is exactly `repartition(N, shard)` + a
  // within-partition sort (one exchange, no global ordering), and the
  // per-shard sequence files it describes are what a data loader maps.
  // The (key, doc_id) order key is total, so the layout is
  // engine-independent and replay-stable; integer fold arithmetic → the
  // mirror is exact.

  private val ShuffleSalt = "shuf1"
  private val NShards = 8

  private def shuffleExport(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    t(s, dir, "documents")
      .select(col("doc_id"),
        gf.fingerprint(concat(lit(ShuffleSalt), col("text"))).as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(NShards.toLong)))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"), col("skey"))
      .orderBy("shard", "pos")
  }

  private val shuffleExportSql =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    ${TextOps.fingerprintFoldSql(s"('$ShuffleSalt' || text)")} AS skey
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, skey,
       |    ((skey % $NShards) + $NShards) % $NShards AS shard
       |  FROM k)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
       |    AS INT) AS pos,
       |  skey
       |FROM sh ORDER BY shard, pos""".stripMargin

  // ---- vocabulary building (top-K by term frequency) ----

  private val VocabK = 25

  private def vocabTopK(s: SparkSession, dir: String): DataFrame = {
    // top-K via sort+limit, NOT a global row_number window: Spark compiles
    // orderBy+limit to TakeOrderedAndProject (per-partition top-K, then a
    // K-row merge on one task) — at 100 TB the full vocabulary never
    // funnels through a single window partition. The rank window runs on
    // the K survivors only.
    val w = Window.orderBy(col("tf").desc, col("tok"))
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(VocabK)
      .withColumn("rnk", row_number().over(w))
      .orderBy("rnk")
  }

  private val vocabTopKSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |ag AS (
       |  SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
       |  FROM tok GROUP BY tok),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY tf DESC, tok) AS INT)
       |    AS rnk
       |  FROM ag)
       |SELECT tok, tf, df, rnk FROM r WHERE rnk <= $VocabK ORDER BY rnk""".stripMargin

  // ---- tf-idf top terms per document ----
  // score = tf · idf with idf = round(ln(N/df)·1e4) — fixed-point: Java's
  // Math.log and DuckDB's libm ln disagree by 1 ulp on some inputs (they
  // did on this corpus), so the raw double is not oracle-stable. The 1e-4
  // discretization happens on the (few, distinct) idf values, then the
  // score is exact integer arithmetic end-to-end — deterministic ranking
  // in both engines and at any partition count.

  private val TfidfK = 3

  private def tfidfTopK(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df DERIVED FROM tf, not recomputed from the token stream: tf's rows
    // are already the distinct (doc_id, tok) pairs, so count-per-tok over
    // tf IS count(DISTINCT doc_id) per tok. The tautological tf >= 1
    // filter (counts are always >= 1) pins tf's full schema in this
    // branch: without it, column pruning rewrites the branch to a
    // count-less aggregate, the two subplans stop being identical, and
    // Catalyst re-runs the scan + explode + shuffle instead of reusing
    // tf's exchange (ReusedExchange) — the second full corpus pass this
    // formulation exists to delete. (The reuse happens at runtime under
    // AQE's canonical-stage cache; the static explain still prints the
    // subtree twice.) Measured at the sf1 decade: 4.1 s → 1.7 s, taking
    // the op's sf0.1→sf1 ratio from 4.9x to ~1.5x.
    val df = tf.filter(col("tf") >= 1)
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val nd = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok"))
    tf.join(df, "tok")
      .crossJoin(broadcast(nd)) // 1-row doc count
      .withColumn("score",
        col("tf") *
          round(log(col("n_docs").cast("double") / col("df")) * 10000)
            .cast("bigint"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TfidfK)
      .select("doc_id", "tok", "tf", "df", "score", "rnk")
      .orderBy("doc_id", "rnk")
  }

  private val tfidfTopKSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |sc AS (
       |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       |    tf.tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df.df) * 10000)
       |      AS BIGINT) AS score
       |  FROM tf JOIN df USING (tok) CROSS JOIN nd),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, tok) AS INT) AS rnk
       |  FROM sc)
       |SELECT doc_id, tok, tf, df, score, rnk FROM r
       |WHERE rnk <= $TfidfK ORDER BY doc_id, rnk""".stripMargin

  // ---- int8 embedding quantization ----
  // Symmetric per-vector quantization: scale = 127/max|x|, q = round(x·s).
  // Exact oracle: float→double widening, the division, and half-away-from-
  // zero rounding are identical in both engines; the output checksums the
  // quantized vector with exact integers (sum/min/max) instead of hauling
  // arrays through the compare. At 100 TB this is the 4× shrink before
  // ANN indexing; higher-order functions here — a StaticInvoke kernel is
  // the upgrade if quantization ever dominates a profile.

  private def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    // zero-vector guard: max|x| = 0 would give scale = Inf and q = NaN
    // (Spark's non-ANSI cast silently zeroes it, DuckDB errors) — define
    // scale = 0 for the zero vector on BOTH sides so it quantizes to zeros
    val maxAbs =
      array_max(transform(col("embedding"), x => abs(x))).cast("double")
    val scale = when(maxAbs === 0.0, 0.0).otherwise(lit(127.0) / maxAbs)
    t(s, dir, "embeddings")
      .select(col("vec_id"), scale.as("scale"),
        transform(col("embedding"),
          x => round(x.cast("double") * scale).cast("int")).as("qa"))
      .select(col("vec_id"), col("scale"),
        aggregate(col("qa"), lit(0), (a, b) => a + b).cast("bigint")
          .as("q_sum"),
        array_min(col("qa")).as("q_min"),
        array_max(col("qa")).as("q_max"))
      .orderBy("vec_id")
  }

  private val embedQuantizeSql =
    """WITH m AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_aggregate(
      |      list_transform(embedding, x -> abs(x)), 'max') AS DOUBLE)
      |      AS max_abs
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, embedding,
      |    CASE WHEN max_abs = 0 THEN CAST(0 AS DOUBLE)
      |         ELSE CAST(127 AS DOUBLE) / max_abs END AS scale
      |  FROM m),
      |qq AS (
      |  SELECT vec_id, scale,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INT)) AS qa
      |  FROM q)
      |SELECT vec_id, scale,
      |  CAST(list_aggregate(qa, 'sum') AS BIGINT) AS q_sum,
      |  list_aggregate(qa, 'min') AS q_min,
      |  list_aggregate(qa, 'max') AS q_max
      |FROM qq ORDER BY vec_id""".stripMargin

  // ---- count-min frequency sketch (UDAF showcase) ----
  // Token frequencies via the CmsAggregator UDAF instead of an exact
  // groupBy: one fixed-size buffer per partition, merged by addition — at
  // 100 TB the sketch never shuffles the distinct-token space. Probe
  // estimates are exact when no all-rows collision occurs (asserted
  // against the exact counts in CorpusSpec); rows-only driver check — the
  // sketch layout is not DuckDB-expressible.

  private[graft] val CmsWidth = 2048
  private[graft] val CmsDepth = 4

  private def freqSketch(s: SparkSession, dir: String): DataFrame = {
    val probes = Seq("data", "query", "spark", "the", "window")
    val sketch = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(gf.cms_agg(CmsWidth, CmsDepth)(col("tok")).as("sk"))
    sketch
      .select(explode(array(probes.map(lit): _*)).as("tok"), col("sk"))
      .select(col("tok"),
        gf.cms_est(col("sk"), col("tok"), lit(CmsWidth), lit(CmsDepth))
          .as("est"))
      .orderBy("tok")
  }

  // ---- higher-order array function surface ----
  // The lambda-function family (transform / filter / aggregate / zip_with
  // / exists) over the embedding column, with exact DuckDB list-function
  // mirrors. Both engines fold left-to-right, so even the double
  // accumulations match bit-for-bit (the vdot convention). These are the
  // codegen'd building blocks the similarity/quantization operators
  // compose; this query pins their cross-engine semantics directly.

  private def arrayFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        size(filter(col("embedding"), x => x > lit(0f))).cast("long").as("n_pos"),
        aggregate(transform(col("embedding"), x => x.cast("double") * 2),
          lit(0.0), (acc, x) => acc + x).as("sum2x"),
        aggregate(
          zip_with(col("embedding"), col("embedding"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x).as("norm2"),
        when(exists(col("embedding"), x => x > lit(0.25f)), lit(1L))
          .otherwise(lit(0L)).as("has_big"))
      .orderBy("vec_id")

  private val arrayFuncsSql =
    """SELECT vec_id,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * 2)),
      |    (a, b) -> a + b) AS sum2x,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |    (a, b) -> a + b) AS norm2,
      |  CASE WHEN len(list_filter(embedding, x -> x > CAST(0.25 AS FLOAT))) > 0
      |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS has_big
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---- BPE merge-pair training ----
  // Learn the first `BpeMerges` byte-pair-encoding merges over the word
  // corpus (word-level symbols: the corpus has no sub-word structure, but
  // the algorithm is the real one — count adjacent symbol pairs, merge
  // the argmax, repeat on the rewritten corpus). Per round the heavy part
  // is distributed: an explode → (l, r) hash agg with map-side combine;
  // only the single argmax row comes to the driver (TakeOrdered top-1
  // with a total-order (count desc, l, r) tiebreak — deterministic across
  // engines and cluster sizes), and the rewrite is a codegen'd per-row
  // kernel (`bpe_merge`) applied under a localCheckpoint so rounds don't
  // nest. Exactly oracled: the whole train loop unrolls as MATERIALIZED
  // CTEs with a list_reduce rewrite fold ([[bpeTrainSql]]); CorpusSpec
  // additionally pins the learned sequence against an in-memory
  // reference implementation at sf0.001.
  private[graft] val BpeMerges = 8

  // The fit is cached content-keyed (plain values — rank/pair tuples, no
  // session-bound frames) so bpe_train and bpe_encode share one training
  // pass per dataset: exactly how a production tokenizer is used (train
  // once, encode many).
  private val bpeFitCache =
    new ContentKey.Lru[Seq[(Int, String, String, Long)]](8)

  private[graft] def bpeFit(
      s: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    val key = ContentKey.of(s, Seq(dir))
    bpeFitCache.get(key) {
      var toks = t(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => x =!= lit("")).as("toks"))
        .localCheckpoint()
      val learned = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      for (rank <- 1 to BpeMerges) {
        val top = toks
          .select(explode(expr(
            "transform(slice(toks, 1, size(toks) - 1), (x, i) -> struct(x AS l, element_at(toks, i + 2) AS r))"))
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.nonEmpty) {
          val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          learned += ((rank, l, r, c))
          toks = toks.select(col("doc_id"),
            gf.bpe_merge(col("toks"), lit(l), lit(r)).as("toks"))
            .localCheckpoint()
        }
      }
      learned.toSeq
    }
  }

  private def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeFit(s, dir).toDF("rank", "left", "right", "pair_count")
      .orderBy("rank")
  }

  // ---- BPE encoding (apply the trained merges) ----
  // The other half of the tokenizer loop: encode every document with the
  // learned merge table. The merges ride into the plan as literals (the
  // model is O(BpeMerges) driver-side values, nothing broadcast-joined),
  // and the encode itself is [[BpeMerges]] nested `bpe_merge` kernel
  // applications — a stateless, shuffle-free projection over the corpus,
  // the shape that scales to 100 TB trivially (scan → codegen fold →
  // scan-local output). Output carries the pre/post token counts (the
  // compression a tokenizer buys) and an md5 fingerprint of the encoded
  // sequence, so the oracle compares the full encoding exactly without
  // shipping the sequences through the driver compare.
  /** The ONE definition of the encode projection: empty-filtered space
    * split folded through the learned merges (mirrors the t0 CTE +
    * rewrite chain). Every op that consumes encoded tokens builds on
    * this pair so a tokenization change cannot silently diverge one. */
  private def bpeEncodedCols(s: SparkSession, dir: String)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val merges = bpeFit(s, dir)
    val toks0 = filter(split(col("text"), " "), x => x =!= lit(""))
    val encoded = merges.foldLeft(toks0) { case (c, (_, l, r, _)) =>
      gf.bpe_merge(c, lit(l), lit(r))
    }
    (toks0, encoded)
  }

  private def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (toks0, encoded) = bpeEncodedCols(s, dir)
    t(s, dir, "documents")
      .select(col("doc_id"), toks0.as("toks0"), encoded.as("enc"))
      .select(col("doc_id"),
        size(col("toks0")).cast("long").as("n_tok"),
        size(col("enc")).cast("long").as("n_bpe"),
        md5(array_join(col("enc"), " ")).as("enc_fp"))
      .orderBy("doc_id")
  }

  // ---- tokenizer fertility report ----
  // The tokenizer-QA table every training org keeps: per (source, lang),
  // how many TRAINED-BPE tokens a word costs (fertility) and how many
  // chars a token carries — the numbers that decide whether a tokenizer
  // is retrained before a run and which corpora inflate the token bill.
  // Uses the REAL post-merge counts (the shared content-cached fit +
  // shuffle-free kernel fold, same as bpe_encode/tokenize_pack), not the
  // regex pre-token proxy. Ratios are integer-ppm, computed as
  // floor(double ratio) of the exact BIGINT sums: the sums stay four
  // orders below int64 at 100 TB, but the naive ×1e6 PRODUCT would not
  // (2.5e13 tokens × 1e6 > 2^63, where Spark wraps and DuckDB widens —
  // an engine divergence), so the scale-up happens in DOUBLE with the
  // identical IEEE op sequence on both sides. Null on an empty
  // denominator. Scale shape: one stateless encode projection + one
  // low-cardinality agg.
  private def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val (toks0, encoded) = bpeEncodedCols(s, dir)
    t(s, dir, "documents")
      .select(col("source"), col("lang"),
        size(toks0).cast("long").as("w"),
        size(encoded).cast("long").as("bp"), col("n_chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("bp")).as("n_bpe"), sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe"), col("n_chars"),
        expr("""CAST(floor(CAST(n_bpe AS DOUBLE) * 1000000.0
                 / nullif(CAST(n_words AS DOUBLE), 0.0)) AS BIGINT)""")
          .as("tok_per_word_ppm"),
        expr("""CAST(floor(CAST(n_chars AS DOUBLE) * 1000000.0
                 / nullif(CAST(n_bpe AS DOUBLE), 0.0)) AS BIGINT)""")
          .as("chars_per_tok_ppm"))
      .orderBy("source", "lang")
  }

  private val tokenizerFertilitySql: String =
    s"""WITH ${bpeCtes(finalRewrite = true)},
       |fert AS (
       |  SELECT d.source, d.lang, len(t0.toks) AS w, len(te.toks) AS bp,
       |    d.n_chars AS ch
       |  FROM t0 JOIN t$BpeMerges te USING (doc_id)
       |  JOIN documents d USING (doc_id))
       |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(w) AS BIGINT) AS n_words,
       |  CAST(sum(bp) AS BIGINT) AS n_bpe,
       |  CAST(sum(ch) AS BIGINT) AS n_chars,
       |  CAST(floor(CAST(CAST(sum(bp) AS BIGINT) AS DOUBLE) * 1000000.0
       |    / nullif(CAST(CAST(sum(w) AS BIGINT) AS DOUBLE), 0.0))
       |    AS BIGINT) AS tok_per_word_ppm,
       |  CAST(floor(CAST(CAST(sum(ch) AS BIGINT) AS DOUBLE) * 1000000.0
       |    / nullif(CAST(CAST(sum(bp) AS BIGINT) AS DOUBLE), 0.0))
       |    AS BIGINT) AS chars_per_tok_ppm
       |FROM fert GROUP BY source, lang ORDER BY source, lang""".stripMargin

  // ---- bigram language-model quality score ----
  // The curation signal a pipeline runs before anything neural: train an
  // add-one-smoothed word-bigram LM on the corpus itself, score each doc
  // by its mean log P(w_i | w_{i-1}) — boilerplate and word salad both
  // sit in the tails. Distributed shape: one pass builds bigram counts
  // (shuffle keyed by the bigram) and unigram counts (keyed by token,
  // both map-side combined); scoring joins each doc's bigrams to the two
  // count tables — high-cardinality equi-joins — then one groupBy(doc).
  // At 100 TB the LM tables are |vocab|- and |vocab²|-bounded (far below
  // the fact) and Catalyst broadcasts them when small enough; nothing is
  // ever driver-side.
  //
  // Float discipline (the tfidf lesson): Java's Math.log and DuckDB's ln
  // disagree by 1 ulp on some inputs, and per-doc SUMS amplify that into
  // hash mismatches. So each bigram's log-prob is discretized ONCE —
  // round(ln((c12+1)/(c1+V))·1e6) as BIGINT — then summed and averaged
  // in exact integer arithmetic (DIV) in both engines.

  private[graft] val LmScale = 1000000L

  private def lmScore(s: SparkSession, dir: String): DataFrame = {
    // Round-13 fusion (guide §2.3/§2.4): the bigram side rides ONE
    // kernel pass emitting per-doc DISTINCT (w1, w2, cnt) counts
    // (TextHashOps.gramCounts2), repartitioned on (w1, w2) for the
    // lm-build aggregate and the probe join. The final adaptive plan
    // (ExplainMain, sf0.01) shows NO ReusedExchange: the lm branch prunes
    // doc_id, so its subtree differs from the probe's and the kernel runs
    // twice, once per branch; AQE then broadcasts the probe side g (a
    // corpus-sized frame, under the threshold at sf0.01). The explode formulation ran the bigram explode
    // TWICE (lm build + probe), shuffled the per-OCCURRENCE probe stream
    // by (w1, w2), and re-shuffled the joined occurrence stream by w1
    // for the uni join; here lp is resolved per DISTINCT bigram on the
    // |lm|-sized table and joined back once. (A first cut emitted
    // unigram rows from the same kernel behind isNull/isNotNull filters:
    // the optimizer pushes those below the repartition, splitting the
    // shared subtree — no ReusedExchange, kernel re-run per consumer,
    // measured 1.17× WORSE. Unigrams stay on the plain explode + partial
    // agg, which was never the expensive side.) Exactness: lp is one
    // integer per (w1, w2) — identical c12/c1/vocab, identical
    // round(log·scale) expression — so Σ_occurrences lp == Σ_distinct
    // lp·cnt and count(*) == Σ cnt in exact BIGINT arithmetic; pinned
    // DataFrame-level against the explode formulation in DedupSpec and
    // hash-exact vs the unchanged DuckDB mirror.
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    val uni = toks.select(explode(col("ts")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = uni.agg(count(lit(1)).as("vocab"))
    val g = toks
      .select(col("doc_id"), explode(gf.gram_counts2(col("ts"))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.cnt").as("cnt"))
      .repartition(col("w1"), col("w2")) // no explicit N: AQE-coalescible
    val lm = g.groupBy("w1", "w2").agg(sum("cnt").as("c12"))
    val lp = lm.join(uni, Seq("w1"))
      .crossJoin(broadcast(v)) // 1-row vocab size
      .select(col("w1"), col("w2"),
        round(log((col("c12") + lit(1)).cast("double") /
          (col("c1") + col("vocab")).cast("double")) * LmScale)
          .cast("bigint").as("lp"))
    g.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("lp") * col("cnt")).as("lp_sum"))
      // integer mean via -((-sum) DIV n): the sum is negative, and Spark
      // DIV truncates toward zero while DuckDB // floors — negating
      // first makes the dividend nonnegative, where the two agree
      .select(col("doc_id"), col("n_bigrams"),
        expr("-((-lp_sum) DIV n_bigrams)").as("lm_score_fp"))
      .orderBy("doc_id")
  }

  private val lmScoreSql =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |bi AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
       |    i -> {'w1': ts[i], 'w2': ts[i+1]})) AS b
       |  FROM tk),
       |bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
       |uni AS (
       |  SELECT ts_u AS w1, count(*) AS c1 FROM (
       |    SELECT unnest(ts) AS ts_u FROM tk) GROUP BY 1),
       |v AS (SELECT count(*) AS vocab FROM uni),
       |lm AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  -((-CAST(sum(CAST(round(ln(CAST(c12 + 1 AS DOUBLE) /
       |      CAST(c1 + vocab AS DOUBLE)) * $LmScale) AS BIGINT)) AS BIGINT))
       |    // count(*)) AS lm_score_fp
       |FROM bg JOIN lm USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** SQL twin of [[bpeTrain]]: the full 8-round train loop unrolled as
    * MATERIALIZED CTEs (the pagerank discipline). Per round: pair counts
    * (struct unnest + group), the argmax under the identical
    * (cnt DESC, l, r) total order, and the corpus rewrite. The rewrite
    * mirrors the greedy left-to-right `bpe_merge` kernel as a
    * `list_reduce` fold — equivalent because a token merged this round
    * (a||b, with b non-empty) can never equal the left symbol `a`, so the
    * fold can never re-merge its own output, exactly like the kernel's
    * index skip. DuckDB traps mirrored here: list slices are 1-based and
    * END-INCLUSIVE (`acc[:-2]` drops the last element; `[:-1]` is the
    * whole list), and 2-arg `list_reduce` seeds from the FIRST element —
    * wrapping each token as a single-element list makes that seed the
    * initial accumulator. The last round's rewrite is omitted: only the
    * m-CTEs reach the output. */
  /** The unrolled train-loop CTE chain, shared by the train and encode
    * mirrors. `finalRewrite = true` additionally materializes the LAST
    * round's corpus rewrite (t[[BpeMerges]]) — the train mirror only
    * needs the m-CTEs, the encode mirror needs the fully-rewritten
    * corpus. */
  private def bpeCtes(finalRewrite: Boolean): String = {
    val ctes = Seq.newBuilder[String]
    ctes += s"""t0 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents)""".stripMargin
    for (r <- 1 to BpeMerges) {
      ctes += s"""p$r AS (
         |  SELECT u.l, u.r, count(*) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(toks)),
         |      i -> struct_pack(l := toks[i], r := toks[i + 1]))) AS u
         |    FROM t${r - 1} WHERE len(toks) >= 2) q
         |  GROUP BY u.l, u.r)""".stripMargin
      ctes += s"""m$r AS MATERIALIZED (
         |  SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin
      // LEFT JOIN ON TRUE, not a cross join: a degenerate corpus with fewer
      // than BpeMerges distinct adjacent pairs leaves m_r EMPTY, and a cross
      // join would empty t_r and every downstream CTE. The left join keeps
      // every t-row with m.l/m.r NULL, the CASE predicate evaluates NULL →
      // ELSE, and the fold degrades to `acc || x` — a no-op rewrite, exactly
      // matching the Spark fold's skipped empty round in bpeFit.
      if (r < BpeMerges || finalRewrite)
        ctes += s"""t$r AS MATERIALIZED (
           |  SELECT doc_id, CASE WHEN len(toks) <= 1 THEN toks ELSE
           |    list_reduce(list_transform(toks, t -> [t]),
           |      (acc, x) -> CASE WHEN acc[-1] = m.l AND x[1] = m.r
           |        THEN acc[:-2] || [m.l || m.r] ELSE acc || x END) END AS toks
           |  FROM t${r - 1} LEFT JOIN m$r m ON TRUE)""".stripMargin
    }
    ctes.result().mkString(",\n")
  }

  private val bpeTrainSql: String = {
    val finals = (1 to BpeMerges).map(r =>
      s"""SELECT $r AS rank, l AS "left", r AS "right", cnt AS pair_count
         |  FROM m$r""".stripMargin).mkString(" UNION ALL ")
    s"""WITH ${bpeCtes(finalRewrite = false)}
       |SELECT CAST(rank AS INT) AS rank, "left", "right", pair_count
       |FROM ($finals) ORDER BY rank""".stripMargin
  }

  /** SQL twin of [[bpeEncode]]: replays the whole train loop (so the
    * mirror's merge table is derived, not copied) INCLUDING the final
    * rewrite, then reads the per-doc encoding off t[[BpeMerges]]. */
  private val bpeEncodeSql: String =
    s"""WITH ${bpeCtes(finalRewrite = true)}
       |SELECT t0.doc_id,
       |  CAST(len(t0.toks) AS BIGINT) AS n_tok,
       |  CAST(len(te.toks) AS BIGINT) AS n_bpe,
       |  -- COALESCE: DuckDB v1.0.0 stringifies an EMPTY token list to
       |  -- NULL; Spark's array_join hashes '' (whitespace-only docs)
       |  md5(COALESCE(array_to_string(te.toks, ' '), '')) AS enc_fp
       |FROM t0 JOIN t$BpeMerges te USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- DSIR-style importance weighting (Xie et al. 2023, public) ----
  // Data selection for a TARGET domain: score every document by how much
  // more likely its hashed-bigram features are under the target
  // distribution than under the rest of the corpus. Features are hashed
  // into 256 buckets by md5 prefix (both engines compute md5 identically —
  // the source_overlap discipline); bucket weights are Laplace-smoothed
  // log-ratios in the [[LmScale]] fixed point (ln differs by ulps between
  // engines; one in-engine ln per bucket then round-to-integer restores
  // parity, and the per-doc score is an exact BIGINT sum of those
  // integers). Smoothed ratio products are computed in DOUBLE (identical
  // IEEE ops both sides) so a 100 TB corpus can't overflow an integer
  // product.
  //
  // Plan shape: the exploded feature stream aggregates once on the 256
  // buckets (map-side partials collapse each partition to ≤256 rows); the
  // weight table is 256 rows + a 1-row totals frame (both broadcast), so
  // scoring is scan → explode → broadcast join → one doc_id-keyed
  // aggregate. Two streaming passes over the corpus, nothing driver-side.
  private[graft] val TargetSrc = "src0"
  private val NBuckets = 256

  private def importanceWeights(s: SparkSession, dir: String): DataFrame = {
    // Round-13 kernelization (guide §2.3, §1.2 step 2): the per-occurrence
    // gram pipeline — concat_ws gram string, 32-char md5 hex, 2-char
    // substring, one row per bigram occurrence, evaluated TWICE (count
    // build + scoring probe) — collapses to TextHashOps.md5BucketCounts:
    // one pass per doc emitting ≤256 (bucket, cnt) rows, md5 computed
    // over the gram's UTF-8 bytes with no gram/hex/substring
    // materialization. The bucket is the first md5 byte as an int — the
    // bijective reading of the old hex pair — so grouping/joining on it
    // partitions rows identically, and occurrence sums become exact
    // integer Σ cnt / Σ w·cnt. Output columns and values unchanged
    // (pinned DataFrame-level in CorpusSpec; oracle mirror untouched).
    val docs = t(s, dir, "documents")
    val g = docs
      .select(col("doc_id"), col("source"),
        gf.md5_bucket_counts(
          filter(split(col("text"), " "), x => x =!= lit(""))).as("bc"))
      .select(col("doc_id"), col("source"), explode(col("bc")).as("g"))
      .select(col("doc_id"), col("source"),
        col("g.b").as("b"), col("g.cnt").as("cnt"))
    val cnt = g.groupBy("b").agg(
      sum(when(col("source") === TargetSrc, col("cnt")).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= TargetSrc, col("cnt")).otherwise(0L)).as("cs"))
    val tot = cnt.agg(sum("ct").as("nt"), sum("cs").as("ns"))
    val w = cnt.crossJoin(broadcast(tot)) // 1-row feature totals
      .select(col("b"),
        round(log(
          ((col("ct") + 1).cast("double") *
            (col("ns") + NBuckets).cast("double")) /
          ((col("cs") + 1).cast("double") *
            (col("nt") + NBuckets).cast("double"))) * LmScale)
          .cast("bigint").as("w"))
    val ds = g.join(broadcast(w), "b") // ≤ NBuckets (256) weight rows
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_feats"),
        sum(col("w") * col("cnt")).as("imp_fixed"))
    docs.select(col("doc_id"), col("source"))
      .join(ds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("imp_fixed"), lit(0L)).as("imp_fixed"))
      .orderBy("doc_id")
  }

  private val importanceWeightsSql =
    s"""WITH tk AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, source, substring(md5(g), 1, 2) AS b FROM (
       |    SELECT doc_id, source,
       |      unnest(CASE WHEN len(toks) >= 2 THEN
       |        list_transform(range(1, len(toks)),
       |          i -> toks[i] || ' ' || toks[i+1])
       |      ELSE [] END) AS g
       |    FROM tk)),
       |cnt AS (
       |  SELECT b,
       |    sum(CASE WHEN source = '$TargetSrc' THEN 1 ELSE 0 END) AS ct,
       |    sum(CASE WHEN source <> '$TargetSrc' THEN 1 ELSE 0 END) AS cs
       |  FROM bg GROUP BY 1),
       |tot AS (SELECT sum(ct) AS nt, sum(cs) AS ns FROM cnt),
       |w AS (
       |  SELECT b, CAST(round(ln(
       |      (CAST(ct + 1 AS DOUBLE) * CAST(ns + $NBuckets AS DOUBLE)) /
       |      (CAST(cs + 1 AS DOUBLE) * CAST(nt + $NBuckets AS DOUBLE)))
       |    * $LmScale) AS BIGINT) AS w
       |  FROM cnt CROSS JOIN tot),
       |ds AS (
       |  SELECT bg.doc_id, count(*) AS n_feats, sum(w.w) AS imp_fixed
       |  FROM bg JOIN w USING (b) GROUP BY 1)
       |SELECT d.doc_id, d.source,
       |  CAST(coalesce(ds.n_feats, 0) AS BIGINT) AS n_feats,
       |  CAST(coalesce(ds.imp_fixed, 0) AS BIGINT) AS imp_fixed
       |FROM documents d LEFT JOIN ds USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- DoReMi-style domain reweighting ----
  // Per-domain training-mixture weights from excess loss (Xie et al.
  // 2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
  // Pretraining", arXiv:2305.10429, single-shot variant): domains whose
  // documents score WORSE than the easiest domain under the corpus
  // bigram LM get upweighted by exp(η·excess), starting from the
  // baseline token share. The per-doc loss is [[lmScore]]'s fixed-point
  // frame (already a distributed bigram aggregate); everything after is
  // one source-keyed aggregate (|domains| rows) plus three 1-row
  // broadcast scalars (total tokens, min domain loss, normalizer), so
  // the reweighting adds NO data-sized shuffle beyond the loss pass.
  // Parity: losses stay in the [[LmScale]] BIGINT fixed point until the
  // final exp/divide, whose one IEEE exp ulp is absorbed by round(·,6).
  private val ReweightEta = 1.0

  private def domainReweight(s: SparkSession, dir: String): DataFrame = {
    val loss = lmScore(s, dir) // (doc_id, n_bigrams, lm_score_fp)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    // |domains|-row frame cut from its corpus-sized lineage: `dom` feeds
    // tot AND scored (and scored feeds z AND the output), so leaving it
    // lazy re-inlines the whole lmScore subtree at every use — a 94-
    // Exchange plan whose planning/codegen cost dwarfs the data (guide
    // §3.3: materialise to truncate). localCheckpoint runs the loss pass
    // exactly once; everything downstream is arithmetic on ≤|domains| rows.
    val dom = docs.join(loss, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        // positive fixed-point mean loss: per-doc lm_score_fp is a
        // negative log-prob mean, so the domain mean negates first and
        // uses the same nonnegative-DIV discipline as lmScore
        expr("(-sum(lm_score_fp)) DIV count(1)").as("loss_fp"))
      .localCheckpoint()
    val tot = dom.agg(sum(col("n_tokens")).as("tok_total"),
      min(col("loss_fp")).as("loss_min"))
    val scored = dom.crossJoin(broadcast(tot)) // 1-row totals side
      .withColumn("token_share",
        col("n_tokens").cast("double") / col("tok_total"))
      .withColumn("excess_loss",
        (col("loss_fp") - col("loss_min")).cast("double") / LmScale)
      .withColumn("a_hat",
        col("token_share") * exp(lit(ReweightEta) * col("excess_loss")))
    val z = scored.agg(sum(col("a_hat")).as("z"))
    scored.crossJoin(broadcast(z)) // 1-row normalizer side
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("token_share"), 6).as("token_share"),
        round(col("excess_loss"), 6).as("excess_loss"),
        round(col("a_hat") / col("z"), 6).as("weight"))
      .orderBy("source")
  }

  private def domainReweightSql: String =
    s"""WITH loss AS ($lmScoreSql),
       |docs AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |dom AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    (-CAST(sum(lm_score_fp) AS BIGINT)) // count(*) AS loss_fp
       |  FROM docs JOIN loss USING (doc_id) GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_total,
       |    min(loss_fp) AS loss_min FROM dom),
       |scored AS (
       |  SELECT source, n_docs, n_tokens,
       |    CAST(n_tokens AS DOUBLE) / tok_total AS token_share,
       |    CAST(loss_fp - loss_min AS DOUBLE) / $LmScale AS excess_loss
       |  FROM dom CROSS JOIN tot),
       |ah AS (
       |  SELECT *, token_share * exp($ReweightEta * excess_loss) AS a_hat
       |  FROM scored),
       |z AS (SELECT sum(a_hat) AS z FROM ah)
       |SELECT source, n_docs, n_tokens,
       |  round(token_share, 6) AS token_share,
       |  round(excess_loss, 6) AS excess_loss,
       |  round(a_hat / z.z, 6) AS weight
       |FROM ah CROSS JOIN z ORDER BY source""".stripMargin

  // ---- materialized sampling plan ----
  // Turns [[domainReweight]]'s mixture into something an epoch loader
  // executes: per document, how many times it appears in one
  // corpus-sized pass. Source rate r_d = weight_d · T / tokens_d; every
  // doc repeats floor(r_d) times and earns one extra by the
  // fingerprint-mod residual (content-addressed like sample_stratified,
  // so the plan is reproducible run-to-run and machine-to-machine —
  // floor, not round, keeps the threshold compare integer-exact in both
  // engines). Plan cost at scale: the weights are |domains| rows
  // broadcast onto one corpus scan — no shuffle until the presentation
  // sort. Downweighted sources get r < 1 and subsample; upweighted ones
  // repeat — summed per source, planned tokens land within one doc of
  // weight_d · T (asserted in CorpusSpec).
  private def samplingPlan(s: SparkSession, dir: String): DataFrame = {
    // |domains| rows; checkpointing here truncates the reweight lineage so
    // its loss pass cannot be re-inlined by the two uses below (tot, rates)
    val w = domainReweight(s, dir).select(col("source"), col("n_tokens"),
      col("weight")).localCheckpoint()
    val tot = w.agg(sum(col("n_tokens")).as("tok_total"))
    val rates = w.crossJoin(broadcast(tot)) // 1-row corpus-total side
      .select(col("source"),
        (col("weight") * col("tok_total") / col("n_tokens")).as("r"))
    t(s, dir, "documents").join(broadcast(rates), "source") // one row per source (20)
      .select(col("doc_id"), col("source"),
        (floor(col("r")).cast("long") +
          when(gf.fingerprint(col("text")) % 1000000L <
            floor((col("r") - floor(col("r"))) * 1e6).cast("long"), 1L)
            .otherwise(0L)).as("n_repeats"))
      .orderBy("doc_id")
  }

  private def samplingPlanSql: String =
    s"""WITH dw AS ($domainReweightSql),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_total FROM dw),
       |rates AS (
       |  SELECT source, weight * tot.tok_total / n_tokens AS r
       |  FROM dw, tot)
       |SELECT d.doc_id, d.source,
       |  CAST(floor(r) AS BIGINT) +
       |    CASE WHEN (${TextOps.fingerprintFoldSql("text")}) % 1000000 <
       |      CAST(floor((r - floor(r)) * 1000000) AS BIGINT)
       |    THEN 1 ELSE 0 END AS n_repeats
       |FROM documents d JOIN rates USING (source)
       |ORDER BY doc_id""".stripMargin

  // ---- fastText-style quality classifier ----
  // Model-based curation (Joulin et al. 2016, "Bag of Tricks for Efficient
  // Text Classification", arXiv:1607.01759 — the FineWeb-Edu/DataComp
  // filtering step): a linear classifier over hashed bag-of-words features
  // scores every document for target-domain-ness, trained IN the engine
  // with [[QcIters]] unrolled full-batch logistic-regression GD rounds.
  // Labels need no human curation: y = 1 iff source = [[TargetSrc]] (the
  // DSIR proxy-label trick, same target as importance_weights — but where
  // DSIR scores by a generative likelihood ratio, this is its
  // discriminative twin, and the learned per-bucket weights transfer to
  // scoring any OTHER corpus).
  //
  // Float discipline (the kmFit/lmScore rules): weights are fixed-point
  // BIGINTs at scale [[QcScale]], so every cross-row sum — the per-doc
  // logit numerator Σ w_b·cnt_b and the per-bucket gradient Σ r_d·cnt_b —
  // is an EXACT integer aggregate immune to partition order. The only
  // transcendental, sigmoid's exp, runs once per doc per round on a
  // deterministic double; its one IEEE ulp is absorbed by round(·,6) (the
  // domain_reweight precedent), and residuals are re-discretized to BIGINT
  // before entering any sum. The driver carries only the ≤256-bucket
  // weight vector + bias between rounds (the kmFit shape — bounded by
  // feature dim, never by |corpus|) and applies updates with the same
  // half-away-from-zero rounding both engines' round() uses ([[rndHalfAway]],
  // NOT math.round, which rounds negative midpoints up).
  //
  // Plan shape at 100 TB: the feature frame (doc × ≤[[NBuckets]] bucket
  // counts) is built once and checkpointed; each round is two scans of it
  // — a doc-keyed logit aggregate against a broadcast map literal (no
  // join, no extra shuffle) and a bucket-keyed gradient aggregate
  // (map-side partials collapse each partition to ≤256 rows) — plus a
  // 256-row collect. Scoring is one more scan.
  // η = 64 looks large but is conservative for this geometry: features are
  // L1-normalized bucket shares (‖x‖₁ = 1 spread over ~10² buckets), so the
  // logistic Hessian's λmax ≈ E[‖x‖²]/4 ≈ 3e-3 and full-batch GD is stable
  // for η < 2/λmax ≈ 6e2. At fractions of that, 3 rounds barely move the
  // logits off 0 (measured: ±1e-3 at η = 0.5 — under the between-source
  // noise floor).
  private[graft] val QcIters = 3
  private[graft] val QcLr = 64.0
  private[graft] val QcLrBias = 2.0
  private[graft] val QcScale = 1000000000L

  /** Spark/DuckDB round(): half AWAY from zero on doubles — math.round
    * floors x+0.5 instead, which disagrees on negative midpoints. */
  private def rndHalfAway(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  /** Checkpointed feature frame, built once per (context, corpus content):
    * `qcFit`'s 3 GD rounds and `qualityClassifier`'s scoring pass all read
    * the SAME stored blocks — a cache miss here used to mean a second full
    * tokenize/explode/groupBy plus a second set of pinned checkpoint
    * blocks per scoring call. Context-scoped key for the same reason as
    * `labelsCache`: the value is a session-bound checkpointed frame. */
  // onEvict frees the checkpoint's RDD-layer blocks (see labelsCache's
  // note in DedupOps — Dataset.unpersist is a no-op for checkpoints).
  private val qcFeatsCache =
    new ContentKey.Lru[DataFrame](8, ContentKey.freeOnEvict("qcFeatsCache"))

  /** Per-doc hashed-bucket counts: (doc_id, y, n_toks, b, cnt). */
  private def qcFeatures(s: SparkSession, dir: String): DataFrame = {
    val key = ContentKey.ofScoped(s, Seq(s"$dir/documents.parquet"))
    qcFeatsCache.get(key) {
      t(s, dir, "documents").select(col("doc_id"),
          when(col("source") === TargetSrc, 1).otherwise(0).as("y"),
          filter(split(col("text"), " "), x => x =!= lit("")).as("toks"))
        .select(col("doc_id"), col("y"),
          size(col("toks")).cast("long").as("n_toks"),
          explode(col("toks")).as("tok"))
        .select(col("doc_id"), col("y"), col("n_toks"),
          substring(md5(col("tok")), 1, 2).as("b"))
        .groupBy("doc_id", "y", "n_toks", "b").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
    }
  }

  // logit + round-6 sigmoid against the given weights; every double op
  // mirrors the SQL textually (same IEEE order), zs is an exact BIGINT
  private def qcScored(feats: DataFrame, w: Map[String, Long],
      bias: Long): DataFrame = feats
    .withColumn("wf",
      if (w.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(w), col("b")), lit(0L)))
    .groupBy("doc_id", "y", "n_toks")
    .agg(sum(col("wf") * col("cnt")).as("zs"))
    .withColumn("z",
      col("zs").cast("double") / (col("n_toks").cast("double") * QcScale)
        + lit(bias).cast("double") / QcScale)
    .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))

  /** Fit-once cache keyed by dataset content (the kmFit rule). */
  private val qcCache = new ContentKey.Lru[(Map[String, Long], Long)](8)

  /** The trained model: (bucket → fixed-point weight, fixed-point bias) —
    * what a production pipeline persists after the offline fit and
    * broadcasts to every scoring site (batch rescans and the streaming
    * ingest gate, [[graft.streaming.QualityMonitor]]). */
  private[graft] def qcFit(s: SparkSession, dir: String): (Map[String, Long], Long) = {
    val key = ContentKey.of(s, Seq(s"$dir/documents.parquet"))
    qcCache.get(key) {
      val nDocs = t(s, dir, "documents").count()
      val feats = qcFeatures(s, dir)
      var w = Map.empty[String, Long]
      var bias = 0L
      for (_ <- 1 to QcIters) {
        val sc = qcScored(feats, w, bias)
          .withColumn("r",
            round((col("p") - col("y")) * QcScale / col("n_toks")).cast("long"))
          .withColumn("r0", round((col("p") - col("y")) * QcScale).cast("long"))
        val g = feats.join(sc.select("doc_id", "r"), "doc_id")
          .groupBy("b").agg(sum(col("r") * col("cnt")).as("g")).collect()
        val g0 = sc.agg(sum("r0").as("g0")).collect()(0).getLong(0)
        // g covers exactly feats' distinct buckets (the join keeps every
        // feature row), so the carried key set matches the mirror's w0
        w = g.map { row =>
          val b = row.getString(0)
          b -> (w.getOrElse(b, 0L) -
            rndHalfAway(QcLr * row.getLong(1).toDouble / nDocs))
        }.toMap
        bias = bias - rndHalfAway(QcLrBias * g0.toDouble / nDocs)
      }
      (w, bias)
    }
  }

  private def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val (w, bias) = qcFit(s, dir)
    t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(qcScored(qcFeatures(s, dir), w, bias), "doc_id")
      .select(col("doc_id"), col("source"), col("y"),
        round(col("z"), 6).as("score"), col("p").as("prob"),
        when(col("p") > 0.5, 1).otherwise(0).as("pred"))
      .orderBy("doc_id")
  }

  /** One unrolled GD round of the mirror: score with w{t-1}/b{t-1},
    * discretize residuals, fold the exact integer gradients into w{t}/b{t}. */
  private def qcRoundSql(i: Int): String = {
    val (wp, bp) = (s"w${i - 1}", s"b${i - 1}")
    s"""s$i AS MATERIALIZED (
       |  SELECT doc_id, y, n_toks,
       |    round(1 / (1 + exp(-(CAST(zs AS DOUBLE)
       |      / (CAST(n_toks AS DOUBLE) * $QcScale)
       |      + CAST(bw AS DOUBLE) / $QcScale))), 6) AS p
       |  FROM (SELECT f.doc_id, y, n_toks,
       |          CAST(sum(w.w * f.cnt) AS BIGINT) AS zs
       |        FROM f JOIN $wp w USING (b) GROUP BY 1, 2, 3)
       |  CROSS JOIN $bp),
       |r$i AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(round((p - y) * $QcScale / n_toks) AS BIGINT) AS r,
       |    CAST(round((p - y) * $QcScale) AS BIGINT) AS r0
       |  FROM s$i),
       |w$i AS MATERIALIZED (
       |  SELECT $wp.b,
       |    $wp.w - CAST(round($QcLr * CAST(g.g AS DOUBLE) / nd) AS BIGINT) AS w
       |  FROM $wp
       |  JOIN (SELECT b, CAST(sum(r.r * f.cnt) AS BIGINT) AS g
       |        FROM f JOIN r$i r USING (doc_id) GROUP BY 1) g USING (b)
       |  CROSS JOIN nn),
       |b$i AS (
       |  SELECT bw - CAST(round($QcLrBias * CAST(r0s AS DOUBLE) / nd) AS BIGINT) AS bw
       |  FROM $bp, (SELECT CAST(sum(r0) AS BIGINT) AS r0s FROM r$i), nn),""".stripMargin
  }

  /** Shared mirror chain of the classifier fit + final scoring (tk → f →
    * unrolled GD rounds → fin(doc_id, y, n_toks, z)) — the ONE replay of
    * the training loop; the classifier output and the calibration audit
    * both build on it. */
  private def qcCtes: String = {
    val rounds = (1 to QcIters).map(qcRoundSql).mkString("\n")
    s"""tk AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN source = '$TargetSrc' THEN 1 ELSE 0 END AS y,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |f AS MATERIALIZED (
       |  SELECT doc_id, y, n_toks, substring(md5(tok), 1, 2) AS b,
       |    count(*) AS cnt
       |  FROM (SELECT doc_id, y, CAST(len(toks) AS BIGINT) AS n_toks,
       |          unnest(toks) AS tok FROM tk)
       |  GROUP BY 1, 2, 3, 4),
       |nn AS (SELECT count(*) AS nd FROM documents),
       |w0 AS MATERIALIZED (SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM f),
       |b0 AS (SELECT CAST(0 AS BIGINT) AS bw),
       |$rounds
       |fin AS (
       |  SELECT doc_id, y, n_toks,
       |    CAST(zs AS DOUBLE) / (CAST(n_toks AS DOUBLE) * $QcScale)
       |      + CAST(bw AS DOUBLE) / $QcScale AS z
       |  FROM (SELECT f.doc_id, y, n_toks,
       |          CAST(sum(w.w * f.cnt) AS BIGINT) AS zs
       |        FROM f JOIN w$QcIters w USING (b) GROUP BY 1, 2, 3)
       |  CROSS JOIN b$QcIters)""".stripMargin
  }

  private def qualityClassifierSql: String =
    s"""WITH $qcCtes
       |SELECT d.doc_id, d.source, fin.y, round(z, 6) AS score,
       |  round(1 / (1 + exp(-z)), 6) AS prob,
       |  CASE WHEN round(1 / (1 + exp(-z)), 6) > 0.5 THEN 1 ELSE 0 END AS pred
       |FROM documents d JOIN fin USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- classifier calibration audit (reliability diagram) ----
  // The MLOps gate on the quality classifier before its scores steer
  // curation: per equal-width confidence bin, predicted-probability mass
  // vs realized label rate — a mis-calibrated classifier silently skews
  // every downstream quota/threshold. Determinism: probabilities become
  // exact micro-integers FIRST (they are already round-6, so ×1e6 +
  // round is lossless), making the per-bin sums exact BIGINT arithmetic;
  // the acc/conf ppm ratios then scale in DOUBLE with identical IEEE ops
  // (the tokenizer_fertility overflow rule). Bins are RANGE-ADAPTIVE —
  // ten equal slices of [0, max observed probability] — because a
  // low-base-rate classifier concentrates all mass in a narrow band and
  // fixed [0,1) deciles would collapse to one bin (measured: 1 bin on
  // this corpus); ten equal slices of the OBSERVED [min, max] via exact
  // integer arithmetic off a 1-row broadcast spread the diagram across
  // the band the classifier actually uses. Scale shape: one scoring
  // pass + a ≤10-key aggregate.
  private def qualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val (w, bias) = qcFit(s, dir)
    val scored = qcScored(qcFeatures(s, dir), w, bias)
      .select(col("y"),
        expr("CAST(round(p * 1000000.0) AS BIGINT)").as("p_micro"))
    val bounds = scored.groupBy().agg(max(col("p_micro")).as("mx"),
      min(col("p_micro")).as("mn"))
    scored.crossJoin(broadcast(bounds)) // 1-row bounds side
      .withColumn("bin",
        expr("CAST(least(((p_micro - mn) * 10) div (mx - mn + 1), 9) AS INT)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"),
        sum(col("p_micro")).as("conf_sum"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("CAST(floor(CAST(n_pos AS DOUBLE) * 1000000.0 / n) AS BIGINT)")
          .as("acc_ppm"),
        expr("CAST(floor(CAST(conf_sum AS DOUBLE) / n) AS BIGINT)")
          .as("conf_ppm"))
      .withColumn("gap_ppm", abs(col("acc_ppm") - col("conf_ppm")))
      .orderBy("bin")
  }

  private def qualityCalibrationSql: String =
    s"""WITH $qcCtes,
       |-- MATERIALIZED: referenced by mxx and bins — a plain CTE would
       |-- inline the whole fin scoring join per reference
       |cal AS MATERIALIZED (
       |  SELECT y, CAST(round(round(1 / (1 + exp(-z)), 6) * 1000000.0)
       |    AS BIGINT) AS p_micro
       |  FROM fin),
       |mxx AS (SELECT CAST(max(p_micro) AS BIGINT) AS mx,
       |               CAST(min(p_micro) AS BIGINT) AS mn FROM cal),
       |bins AS (
       |  SELECT CAST(least(((p_micro - mn) * 10) // (mx - mn + 1), 9) AS INT)
       |    AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    CAST(sum(p_micro) AS BIGINT) AS conf_sum
       |  FROM cal CROSS JOIN mxx GROUP BY 1)
       |SELECT bin, n, n_pos,
       |  CAST(floor(CAST(n_pos AS DOUBLE) * 1000000.0 / n) AS BIGINT)
       |    AS acc_ppm,
       |  CAST(floor(CAST(conf_sum AS DOUBLE) / n) AS BIGINT) AS conf_ppm,
       |  abs(CAST(floor(CAST(n_pos AS DOUBLE) * 1000000.0 / n) AS BIGINT)
       |    - CAST(floor(CAST(conf_sum AS DOUBLE) / n) AS BIGINT)) AS gap_ppm
       |FROM bins ORDER BY bin""".stripMargin

  // ---- BPE vocabulary (post-merge symbol frequencies) ----
  // The artifact shipped with a trained tokenizer: the symbol vocabulary
  // of the ENCODED corpus with frequencies and document coverage. Merged
  // symbols surface alongside surviving atoms, ranked by total count —
  // the sanity table every tokenizer-training run prints. Same scale
  // shape as vocab_topk (explode → two-level agg → TakeOrdered top-K),
  // with the encode fold fused into the scan projection.
  private[graft] val BpeVocabK = 50

  private def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    val (_, encoded) = bpeEncodedCols(s, dir)
    t(s, dir, "documents")
      .select(col("doc_id"), explode(encoded).as("sym"))
      .groupBy("sym")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("cnt").desc, col("sym"))
      .limit(BpeVocabK)
  }

  private val bpeVocabSql =
    s"""WITH ${bpeCtes(finalRewrite = true)},
       |ex AS (
       |  SELECT doc_id, unnest(toks) AS sym FROM t$BpeMerges)
       |SELECT sym, count(*) AS cnt, count(DISTINCT doc_id) AS df
       |FROM ex GROUP BY sym
       |ORDER BY cnt DESC, sym LIMIT $BpeVocabK""".stripMargin

  // ---- BPE tokenize-and-pack (the pretraining exporter end to end) ----
  // Composes the tokenizer loop with sequence packing: documents are
  // BPE-encoded with the trained merges (fit shared content-keyed with
  // bpe_train/bpe_encode) and packed concatenate-then-chunk into
  // [[PackBudget]]-token bins — by the REAL post-merge token counts, not
  // the whitespace proxy seq_pack bins on. Same scale shape as seq_pack:
  // the encode is a stateless codegen fold, sharding is content-addressed
  // (fingerprint mod [[PackShards]]), and each shard's prefix sum is an
  // independent window — no global ORDER BY anywhere, so 100 TB packs as
  // |shards| independent linear passes.
  private val PackShards = 8L
  private val PackBudget = 2048L

  private def tokenizePack(s: SparkSession, dir: String): DataFrame = {
    val (_, encoded) = bpeEncodedCols(s, dir)
    val d = t(s, dir, "documents").select(col("doc_id"),
      gf.fingerprint(col("text")).as("fp"),
      size(encoded).cast("long").as("n_bpe"))
    val w = Window.partitionBy("shard").orderBy("fp", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // fingerprint is the fold (acc·31 + cp) mod 1e9+7 from a nonnegative
    // seed, so fp ∈ [0, 1e9+7) ALWAYS — a plain % here equals pmod.
    // pmod is kept as belt-and-braces for any future signed shard key,
    // but the mirror can (and does) use the plain remainder.
    d.withColumn("shard", pmod(col("fp"), lit(PackShards)))
      .withColumn("start_off", sum(col("n_bpe")).over(w) - col("n_bpe"))
      .groupBy(col("shard"),
        expr(s"start_off DIV $PackBudget").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("n_tokens"))
      .orderBy("shard", "bin")
  }

  private val tokenizePackSql =
    s"""WITH ${bpeCtes(finalRewrite = true)},
       |dd AS (
       |  SELECT d.doc_id, ${TextOps.fingerprintFoldSql("d.text")} AS fp,
       |    CAST(len(te.toks) AS BIGINT) AS n_bpe
       |  FROM documents d JOIN t$BpeMerges te USING (doc_id)),
       |p AS (
       |  SELECT doc_id, fp % $PackShards AS shard, n_bpe,
       |    sum(n_bpe) OVER (PARTITION BY fp % $PackShards
       |      ORDER BY fp, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bpe
       |      AS start_off
       |  FROM dd)
       |SELECT shard, CAST(start_off AS BIGINT) // $PackBudget AS bin,
       |  count(*) AS n_docs, CAST(sum(n_bpe) AS BIGINT) AS n_tokens
       |FROM p GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin

  // ---- URL canonicalization ----
  // The prerequisite of URL-level dedup in web-crawl curation: two
  // spellings of one page must canonicalize identically before the hash
  // groupBy. The synthetic corpus carries no URLs, so (the pii_redact
  // convention) both engines seed an identical deterministic messy URL
  // per doc — upper-cased host, sometimes an explicit default port,
  // tracking params, a fragment — then canonicalize: drop the fragment,
  // lowercase scheme+host, strip :443, drop utm_* params, sort the rest.
  // Every step is a stateless string kernel (RE2-safe regexes, split/
  // sort/join on codegen'd builtins) — embarrassingly parallel, and the
  // downstream dedup is an ordinary hash groupBy on canon_url.
  /** Deterministic messy-URL seeding (the pii_redact convention): page
    * identity drives the canonical parts, doc identity drives only the
    * spelling noise the canonicalizer must strip (port, utm param,
    * fragment). `url_canon` seeds page = doc_id (unique canon per doc);
    * `dedup_url` seeds colliding pages so the dedup has real work. */
  private def urlSeed(page: Column): Column = concat(
    lit("https://WWW.Site"), (page % 50).cast("string"),
    lit(".Example.COM"),
    when(col("doc_id") % 2 === 0, ":443").otherwise(""),
    lit("/Path/"), page.cast("string"),
    lit("?b=2&a="), (page % 7).cast("string"),
    when(col("doc_id") % 3 === 0, "&utm_source=feed").otherwise(""),
    lit("#sec"), (col("doc_id") % 5).cast("string"))

  /** The canonicalization chain over a (doc_id, url) frame: drop the
    * fragment, lowercase scheme+host, strip :443, drop utm_* params, sort
    * the rest. Emits (doc_id, url, host, canon_url). */
  private def canonicalized(seeded: DataFrame): DataFrame =
    seeded
      .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("head", regexp_replace(lower(
        concat_ws("/", slice(split(col("nofrag"), "/"), 1, 3))), ":443$", ""))
      // size-derived length, NOT Int.MaxValue: Slice's INTERPRETED eval
      // computes start + length as a raw int (verified in the installed
      // spark-catalyst jar), so 4 + MaxValue wraps negative and returns
      // an empty array whenever codegen falls back — a silent,
      // execution-mode-dependent divergence from the mirror
      .withColumn("rest",
        array_join(slice(split(col("nofrag"), "/"), lit(4),
          greatest(size(split(col("nofrag"), "/")) - 3, lit(0))), "/"))
      .withColumn("path", element_at(split(col("rest"), "\\?"), 1))
      .withColumn("qp", when(size(split(col("rest"), "\\?")) > 1,
        element_at(split(col("rest"), "\\?"), 2)).otherwise(""))
      .withColumn("params", array_join(array_sort(filter(split(col("qp"), "&"),
        x => x =!= lit("") && !x.startsWith("utm_"))), "&"))
      .select(col("doc_id"), col("url"),
        element_at(split(col("head"), "/"), 3).as("host"),
        concat(col("head"), lit("/"), col("path"),
          when(col("params") =!= "", concat(lit("?"), col("params")))
            .otherwise("")).as("canon_url"))

  private def urlCanon(s: SparkSession, dir: String): DataFrame =
    canonicalized(t(s, dir, "documents")
      .select(col("doc_id"), urlSeed(col("doc_id")).as("url")))
      .select(col("doc_id"), col("url"), col("canon_url"))
      .orderBy("doc_id")

  // ---- URL-level dedup (the CCNet pre-step) ----
  // Runs BEFORE any content dedup: two crawls of one page are byte-
  // different (timestamps, ads) but URL-identical after canonicalization,
  // so dropping them here is free compared to MinHash. Collisions are
  // planted: ~3/4 of docs share a page slot (doc_id % 200) with 1-2
  // other docs, the rest are singletons — spelling noise still varies
  // per DOC, so the dedup must go through the canonicalizer to find
  // them. Exact-dedup keeper discipline on the canonical key: keeper =
  // min(doc_id) per canon_url, a single hash-window (or groupBy at the
  // host rollup) — embarrassingly scalable, no candidate generation.
  private def dedupUrlBase(s: SparkSession, dir: String): DataFrame = {
    val page = when(col("doc_id") % 4 === 3, col("doc_id"))
      .otherwise(col("doc_id") % 200)
    canonicalized(t(s, dir, "documents")
      .select(col("doc_id"), urlSeed(page).as("url")))
  }

  private def dedupUrl(s: SparkSession, dir: String): DataFrame =
    dedupUrlBase(s, dir)
      .withColumn("keep_id", min(col("doc_id"))
        .over(Window.partitionBy(col("canon_url"))))
      .select(col("doc_id"), col("host"), col("canon_url"), col("keep_id"))
      .orderBy("doc_id")

  /** Per-host dup-rate rollup (ppm, integer-exact): the crawl-governance
    * view that decides which hosts need recrawl throttling. */
  private def dedupUrlHosts(s: SparkSession, dir: String): DataFrame =
    dedupUrlBase(s, dir)
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon_url")).as("n_canon"))
      // both operands nonnegative, so Spark's truncating DIV and DuckDB's
      // flooring // agree
      .withColumn("dup_ppm", expr("((n_docs - n_canon) * 1000000) DIV n_docs"))
      .orderBy("host")

  /** Shared canonicalization CTE chain, parameterized by the page-identity
    * SQL expression (the twin of [[urlSeed]]'s `page` column). Ends at
    * `cn` = (doc_id, url, host, canon_url). */
  private def urlCtes(pageExpr: String): String =
    s"""se AS (
      |  SELECT doc_id,
      |    'https://WWW.Site' || CAST(($pageExpr) % 50 AS VARCHAR) ||
      |    '.Example.COM' ||
      |    CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
      |    '/Path/' || CAST(($pageExpr) AS VARCHAR) ||
      |    '?b=2&a=' || CAST(($pageExpr) % 7 AS VARCHAR) ||
      |    CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END ||
      |    '#sec' || CAST(doc_id % 5 AS VARCHAR) AS url
      |  FROM documents),
      |nf AS (
      |  SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nofrag
      |  FROM se),
      |sp AS (
      |  SELECT doc_id, url,
      |    regexp_replace(lower(array_to_string(
      |      string_split(nofrag, '/')[1:3], '/')), ':443$$', '') AS head,
      |    array_to_string(string_split(nofrag, '/')[4:], '/') AS rest
      |  FROM nf),
      |pq AS (
      |  SELECT doc_id, url, head,
      |    string_split(rest, '?')[1] AS path,
      |    CASE WHEN len(string_split(rest, '?')) > 1
      |         THEN string_split(rest, '?')[2] ELSE '' END AS qp
      |  FROM sp),
      |pr AS (
      |  SELECT doc_id, url, head, path,
      |    array_to_string(list_sort(list_filter(string_split(qp, '&'),
      |      t -> t <> '' AND NOT starts_with(t, 'utm_'))), '&') AS params
      |  FROM pq),
      |cn AS (
      |  SELECT doc_id, url, string_split(head, '/')[3] AS host,
      |    head || '/' || path ||
      |      CASE WHEN params <> '' THEN '?' || params ELSE '' END AS canon_url
      |  FROM pr)""".stripMargin

  private val urlCanonSql =
    s"""WITH ${urlCtes("doc_id")}
      |SELECT doc_id, url, canon_url FROM cn ORDER BY doc_id""".stripMargin

  private val DedupUrlPage =
    "CASE WHEN doc_id % 4 = 3 THEN doc_id ELSE doc_id % 200 END"

  private val dedupUrlSql =
    s"""WITH ${urlCtes(DedupUrlPage)}
      |SELECT doc_id, host, canon_url,
      |  min(doc_id) OVER (PARTITION BY canon_url) AS keep_id
      |FROM cn ORDER BY doc_id""".stripMargin

  private val dedupUrlHostsSql =
    s"""WITH ${urlCtes(DedupUrlPage)}
      |SELECT host, count(*) AS n_docs,
      |  count(DISTINCT canon_url) AS n_canon,
      |  ((count(*) - count(DISTINCT canon_url)) * 1000000) // count(*)
      |    AS dup_ppm
      |FROM cn GROUP BY host ORDER BY host""".stripMargin

  // ---- corpus datasheet (per-source × lang report) ----
  // The "data card" table a dataset release ships: per (source, lang) —
  // document and exact-duplicate counts, token mass, vocabulary size,
  // and the GROUP-level token entropy (corpus diversity, the
  // text_entropy signal lifted from document to slice granularity). All
  // measures are integers or fixed-point (dup rate in ppm, entropy in
  // nats ×10⁶ via the once-discretized-ln rule), so the oracle is exact.
  //
  // Plan shape: one (source, lang) agg with an embedded distinct on the
  // content hash; one (source, lang, token) agg — the big shuffle,
  // map-side combined to per-partition vocab — then a group window over
  // vocab-bounded rows and a re-agg. |groups| = |sources|·|langs|, so
  // everything after the token agg is tiny at any corpus size.
  private def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = docs.groupBy("source", "lang").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_distinct"))
    val cnt = docs.select(col("source"), col("lang"),
        explode(filter(split(col("text"), " "), x => x =!= lit("")))
          .as("tok"))
      .groupBy("source", "lang", "tok").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source", "lang")
    val ent = cnt
      .withColumn("n", sum(col("c")).over(w))
      .withColumn("lp", round(log(col("c").cast("double") /
        col("n").cast("double")) * LmScale).cast("bigint"))
      .groupBy("source", "lang")
      .agg(max(col("n")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        expr("(-sum(c * lp)) DIV max(n)").as("entropy_fp"))
    base.join(ent, Seq("source", "lang"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_distinct"),
        expr("((n_docs - n_distinct) * 1000000) DIV n_docs").as("dup_ppm"),
        col("n_tokens"), expr("n_tokens DIV n_docs").as("avg_tok"),
        col("vocab"), col("entropy_fp"))
      .orderBy("source", "lang")
  }

  private val corpusReportSql =
    s"""WITH base AS (
       |  SELECT source, lang, count(*) AS n_docs,
       |    count(DISTINCT md5(text)) AS n_distinct
       |  FROM documents GROUP BY 1, 2),
       |tk AS (
       |  SELECT source, lang,
       |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
       |  FROM documents),
       |cnt AS (
       |  SELECT source, lang, tok, count(*) AS c FROM tk GROUP BY 1, 2, 3),
       |p AS (
       |  SELECT source, lang, c,
       |    sum(c) OVER (PARTITION BY source, lang) AS n
       |  FROM cnt),
       |ent AS (
       |  SELECT source, lang, CAST(max(n) AS BIGINT) AS n_tokens,
       |    count(*) AS vocab,
       |    (-CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE) /
       |        CAST(n AS DOUBLE)) * $LmScale) AS BIGINT)) AS BIGINT))
       |      // CAST(max(n) AS BIGINT) AS entropy_fp
       |  FROM p GROUP BY 1, 2)
       |SELECT source, lang, n_docs, n_distinct,
       |  ((n_docs - n_distinct) * 1000000) // n_docs AS dup_ppm,
       |  n_tokens, n_tokens // n_docs AS avg_tok, vocab, entropy_fp
       |FROM base JOIN ent USING (source, lang)
       |ORDER BY source, lang""".stripMargin

  // ---- per-source document quota (domain cap) ----
  // The C4/Common-Crawl-style guard against any one domain dominating the
  // mixture: cap each source at [[QuotaCap]] documents, keeping a
  // deterministic, content-addressed sample — rank by (md5(text), doc_id)
  // within the source, keep rank ≤ cap. The md5-first order makes the
  // kept set a uniform content sample (not "first N crawled", which
  // over-represents whatever the crawler hit first) and reproducible
  // across engines and runs; doc_id breaks exact-duplicate-text ties so
  // the rank is total (the determinism discipline in SCALE.md).
  //
  // Plan shape: ONE window keyed by source — the same shape as
  // window_dedup, and the same hot-key escape applies: a skewed source
  // uses the salted two-stage variant (per-salt top-cap, then global
  // top-cap over |salts|·cap survivors), exactly window_dedup_salted's
  // construction. At 100 TB the output set is |sources|·cap rows.
  private[graft] val QuotaCap = 16

  private def sourceQuota(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("text")), col("doc_id"))
    t(s, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("source"), col("rk").cast("int").as("rk"),
        when(col("rk") <= QuotaCap, 1).otherwise(0).as("kept"))
      .orderBy("doc_id")
  }

  private val sourceQuotaSql =
    s"""SELECT doc_id, source, CAST(rk AS INT) AS rk,
       |  CASE WHEN rk <= $QuotaCap THEN 1 ELSE 0 END AS kept
       |FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY md5(text), doc_id) AS rk
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_classifier" -> (qualityClassifier _),
    "quality_calibration" -> (qualityCalibration _),
    "domain_reweight" -> (domainReweight _),
    "sampling_plan" -> (samplingPlan _),
    "importance_weights" -> (importanceWeights _),
    "text_lm_score" -> (lmScore _),
    "array_funcs" -> (arrayFuncs _),
    "text_normalize" -> (normalize _),
    "pii_redact" -> (piiRedact _),
    "sample_split" -> (sampleSplit _),
    "split_drift" -> (splitDrift _),
    "shuffle_export" -> (shuffleExport _),
    "vocab_topk" -> (vocabTopK _),
    "tfidf_topk" -> (tfidfTopK _),
    "embed_quantize" -> (embedQuantize _),
    "freq_sketch" -> (freqSketch _),
    "bpe_train" -> (bpeTrain _),
    "bpe_encode" -> (bpeEncode _),
    "bpe_vocab" -> (bpeVocab _),
    "tokenize_pack" -> (tokenizePack _),
    "tokenizer_fertility" -> (tokenizerFertility _),
    "source_quota" -> (sourceQuota _),
    "url_canon" -> (urlCanon _),
    "dedup_url" -> (dedupUrl _),
    "dedup_url_hosts" -> (dedupUrlHosts _),
    "corpus_report" -> (corpusReport _))

  val oracle: Map[String, String] = Map(
    "quality_classifier" -> qualityClassifierSql,
    "quality_calibration" -> qualityCalibrationSql,
    "domain_reweight" -> domainReweightSql,
    "sampling_plan" -> samplingPlanSql,
    "importance_weights" -> importanceWeightsSql,
    "text_lm_score" -> lmScoreSql,
    "array_funcs" -> arrayFuncsSql,
    "text_normalize" -> normalizeSql,
    "pii_redact" -> piiRedactSql,
    "sample_split" -> sampleSplitSql,
    "split_drift" -> splitDriftSql,
    "shuffle_export" -> shuffleExportSql,
    "vocab_topk" -> vocabTopKSql,
    "tfidf_topk" -> tfidfTopKSql,
    "embed_quantize" -> embedQuantizeSql,
    "bpe_train" -> bpeTrainSql,
    "bpe_encode" -> bpeEncodeSql,
    "bpe_vocab" -> bpeVocabSql,
    "tokenize_pack" -> tokenizePackSql,
    "tokenizer_fertility" -> tokenizerFertilitySql,
    "source_quota" -> sourceQuotaSql,
    "url_canon" -> urlCanonSql,
    "dedup_url" -> dedupUrlSql,
    "dedup_url_hosts" -> dedupUrlHostsSql,
    "corpus_report" -> corpusReportSql)
}
