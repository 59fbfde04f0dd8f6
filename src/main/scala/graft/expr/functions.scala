package graft.expr

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

/** Column-level facade over the static kernels. Each function builds a
  * Catalyst `StaticInvoke` expression — codegen-compatible (whole-stage
  * codegen emits a direct static call; no UDF boxing / serialization) and
  * null-propagating (`propagateNull = true`: any null argument → null
  * result), mirroring the null-safety of builtin functions.
  */
object functions {
  private def inv(clazz: Class[_], dt: DataType, name: String, args: Column*): Column =
    GraftSqlBridge.column(invExpr(clazz, dt, name, args.map(GraftSqlBridge.expression)))

  private def invExpr(clazz: Class[_], dt: DataType, name: String, args: Seq[Expression]): Expression =
    StaticInvoke(clazz, dt, name, args)

  // ---- geo (SURVEY.md §2 F3-F6) ----

  /** Geohash of (lat, lon) at `precision` chars (reference precision: 7). */
  def geohash(lat: Column, lon: Column, precision: Column): Column =
    inv(GeohashOps.getClass, StringType, "encode", lat.cast("double"), lon.cast("double"), precision.cast("int"))

  /** 21-byte little-endian WKB point from (lon, lat). */
  def st_point(lon: Column, lat: Column): Column =
    inv(GeoOps.getClass, BinaryType, "pointWkb", lon.cast("double"), lat.cast("double"))

  /** 3×3 geohash cell neighborhood of a point (spatial-join bucketing). */
  def geohash_neighbors(lat: Column, lon: Column, precision: Column): Column =
    inv(GeohashOps.getClass, ArrayType(StringType, containsNull = false),
      "neighborCells", lat.cast("double"), lon.cast("double"),
      precision.cast("int"))

  def st_x(geom: Column): Column = inv(GeoOps.getClass, DoubleType, "wkbX", geom)
  def st_y(geom: Column): Column = inv(GeoOps.getClass, DoubleType, "wkbY", geom)

  /** Planar euclidean distance between two WKB points (degree units). */
  def st_distance(a: Column, b: Column): Column =
    inv(GeoOps.getClass, DoubleType, "distance", a, b)

  /** Planar `ST_DWithin` — matches DuckDB-spatial on unprojected coords. */
  def st_dwithin(a: Column, b: Column, d: Column): Column =
    inv(GeoOps.getClass, BooleanType, "dwithin", a, b, d.cast("double"))

  /** Uppercase hex WKB (reference: ST_AsHEXWKB) — pure builtin compose. */
  def st_ashexwkb(geom: Column): Column =
    org.apache.spark.sql.functions.upper(org.apache.spark.sql.functions.hex(geom))

  // ---- sketch probes ----

  /** Codegen bloom-filter membership probe: `filter` is the serialized
    * `spark.util.sketch.BloomFilter` as a binary literal, `key` a long.
    * Deserialization is memoized per task thread (see [[BloomProbe]]). */
  def bloom_might_contain(filter: Column, key: Column): Column =
    inv(BloomProbe.getClass, BooleanType, "mightContainLong",
      filter, key.cast("long"))

  // ---- graph ----

  /** |a ∩ b| of two ascending-sorted long arrays (allocation-free merge —
    * see [[GraphOps.sortedIntersectCount]]). */
  def sorted_intersect_count(a: Column, b: Column): Column =
    inv(GraphOps.getClass, LongType, "sortedIntersectCount", a, b)

  // ---- stats (F11) ----

  def erf(x: Column): Column =
    inv(StatsOps.getClass, DoubleType, "erf", x.cast("double"))

  def normal_cdf(z: Column): Column =
    inv(StatsOps.getClass, DoubleType, "normalCdf", z.cast("double"))

  /** P(N(mu, sigma) ∈ [lo, hi]) — the reference's reliability score. */
  def reliability(mu: Column, sigma: Column, lo: Column, hi: Column): Column =
    inv(StatsOps.getClass, DoubleType, "reliability",
      mu.cast("double"), sigma.cast("double"), lo.cast("double"), hi.cast("double"))

  // ---- text hashing (dedup / fingerprint extensions) ----

  /** MinHash signature: array<long> of length k over word-`shingle`-grams. */
  def minhash(text: Column, k: Column, shingle: Column): Column =
    inv(TextHashOps.getClass, ArrayType(LongType, containsNull = false),
      "minhash", text, k.cast("int"), shingle.cast("int"))

  /** 64-bit SimHash over word-`shingle`-gram hashes. */
  def simhash(text: Column, shingle: Column): Column =
    inv(TextHashOps.getClass, LongType, "simhash64", text, shingle.cast("int"))

  /** Rolling polynomial fingerprint (mod 1e9+7) over Unicode code points
    * (NOT UTF-8 bytes — the DuckDB oracle mirror folds `ascii(c)` per
    * character, and a byte fold desyncs on non-ASCII text). */
  def fingerprint(text: Column): Column =
    inv(TextHashOps.getClass, LongType, "fingerprint", text)

  /** One greedy left-to-right BPE merge of adjacent (a, b) into a+b. */
  def bpe_merge(toks: Column, a: Column, b: Column): Column =
    inv(TextHashOps.getClass, ArrayType(StringType, containsNull = false),
      "bpeMergeStep", toks, a, b)

  /** All `runL`-char sliding-window xxhash64 values of `text` (seed 42):
    * element p == `xxhash64(substr(text, p+1, runL))` bit-for-bit, with no
    * per-window UTF8String allocation (see [[TextHashOps.winHashes]]). */
  def window_hashes(text: Column, runL: Column): Column =
    inv(TextHashOps.getClass, ArrayType(LongType, containsNull = false),
      "winHashes", text, runL.cast("int"))

  /** `[distinct n-gram count, max n-gram multiplicity]` over a token
    * array in one hash pass (word n-grams, n = 1 or 2) — see
    * [[TextHashOps.gramStats]] for the exactness argument. */
  def gram_stats(toks: Column, n: Column): Column = {
    // fail at plan construction, not task runtime, when n is a literal
    // outside the kernel's supported arity — judged after the int cast the
    // kernel sees, so lit("2") and lit(2L) pass as lit(2) does (a
    // non-literal n still meets the kernel's per-row require)
    GraftSqlBridge.literal(n).foreach { l =>
      val v = Cast(l, IntegerType).eval()
      require(v == 1 || v == 2, s"gram_stats supports n=1|2, got ${l.value}")
    }
    inv(TextHashOps.getClass, ArrayType(LongType, containsNull = false),
      "gramStats", toks, n.cast("int"))
  }

  /** `[n_tokens, distinct tokens, entropy_fp]` over a token array in one
    * hash pass — see [[TextHashOps.entropyStats]] for the bit-exactness
    * argument vs the explode/window formulation. */
  def entropy_stats(toks: Column, scale: Column): Column =
    inv(TextHashOps.getClass, ArrayType(LongType, containsNull = false),
      "entropyStats", toks, scale.cast("long"))

  /** Distinct word n-gram shingles (single-pass kernel). */
  def shingles(text: Column, n: Column): Column =
    inv(TextHashOps.getClass, ArrayType(StringType, containsNull = false),
      "shingleStrings", text, n.cast("int"))

  /** Per-doc DISTINCT bigram counts `(w1, w2, cnt)` in one hash pass —
    * see [[TextHashOps.gramCounts2]] for the exactness argument vs the
    * explode→groupBy bigram chain (and why it is bigram-only). */
  def gram_counts2(toks: Column): Column =
    inv(TextHashOps.getClass, ArrayType(StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false),
      "gramCounts2", toks)

  /** Per-doc DSIR md5-bucket counts `(b, cnt)` (b = first md5 byte of
    * "w1 w2", 0..255 — the int reading of the hex bucket
    * `substring(md5(gram), 1, 2)`); ≤256 rows per doc. */
  def md5_bucket_counts(toks: Column): Column =
    inv(TextHashOps.getClass, ArrayType(StructType(Seq(
      StructField("b", IntegerType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false),
      "md5BucketCounts", toks)

  /** Winnowing selection per row: `(n_grams, prints, occ)` — distinct
    * selected window-minimum k-gram fingerprints and their positional
    * occurrences (see [[TextHashOps.winnowSel]]). */
  def winnow_sel(text: Column, k: Column, w: Column): Column =
    inv(TextHashOps.getClass, StructType(Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("prints", ArrayType(LongType, containsNull = false),
        nullable = false),
      StructField("occ", ArrayType(StructType(Seq(
        StructField("pos", IntegerType, nullable = false),
        StructField("print", LongType, nullable = false))),
        containsNull = false), nullable = false))),
      "winnowSel", text, k.cast("int"), w.cast("int"))

  /** Unicode NFC normalization (canonical composition). */
  def nfc(text: Column): Column =
    inv(TextHashOps.getClass, StringType, "nfc", text)

  /** Z-order (Morton) interleave of two pre-quantized `bits`-bit coords. */
  def zorder(x: Column, y: Column, bits: Column): Column =
    inv(GeohashOps.getClass, LongType, "zorder",
      x.cast("int"), y.cast("int"), bits.cast("int"))

  /** Hilbert-curve index of two pre-quantized `bits`-bit coords — the
    * jump-free locality key (see GeohashOps.hilbert). */
  def hilbert(x: Column, y: Column, bits: Column): Column =
    inv(GeohashOps.getClass, LongType, "hilbert",
      x.cast("int"), y.cast("int"), bits.cast("int"))

  /** 3-D Morton interleave — (lat, lon, time-bucket)-style clustering. */
  def zorder3(x: Column, y: Column, z: Column, bits: Column): Column =
    inv(GeohashOps.getClass, LongType, "zorder3",
      x.cast("int"), y.cast("int"), z.cast("int"), bits.cast("int"))

  /** Count-min point estimate over a flattened depth×width sketch (built
    * by the `CmsAggregator` UDAF — see cms_agg). */
  def cms_est(sketch: Column, tok: Column, width: Column, depth: Column): Column =
    inv(CmsSketch.getClass, LongType, "estimate",
      sketch, tok, width.cast("int"), depth.cast("int"))

  /** The count-min UDAF as an untyped aggregate function. */
  def cms_agg(width: Int, depth: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new CmsAggregator(width, depth),
      org.apache.spark.sql.Encoders.STRING)

  /** Float-vector dot product, left-to-right double accumulation. */
  def vec_dot(a: Column, b: Column): Column =
    inv(EmbedOps.getClass, DoubleType, "dotF", a, b)

  /** Float-vector × double-vector dot product (embedding vs centroid). */
  def vec_dot_fd(a: Column, b: Column): Column =
    inv(EmbedOps.getClass, DoubleType, "dotFD", a, b)

  /** Double-vector dot product (centroid self-norm). */
  def vec_dot_d(a: Column, b: Column): Column =
    inv(EmbedOps.getClass, DoubleType, "dotD", a, b)

  /** Count of agreeing positions between two long signatures. */
  def sig_agree(a: Column, b: Column): Column =
    inv(EmbedOps.getClass, IntegerType, "sigAgree", a, b)

  /** Random-hyperplane LSH bucket of a float vector. */
  def lsh_bucket(vec: Column, bits: Column): Column =
    inv(EmbedOps.getClass, IntegerType, "lshBucket", vec, bits.cast("int"))

  /** Ordered top-`top` IVF cell ids of a float vector against a flattened
    * row-major centroid-matrix literal (rows pre-normalized). */
  def ivf_cells(vec: Column, centroids: Column, dim: Column, top: Column): Column =
    inv(EmbedOps.getClass, ArrayType(IntegerType, containsNull = false),
      "topCells", vec, centroids, dim.cast("int"), top.cast("int"))

  /** Two-level hierarchical top-cell assignment: level-1 matrix `c1`
    * picks `spill` blocks, level-2 matrix `c2` (k1 consecutive k2-row
    * blocks) scores only those blocks' cells. Same output id space as a
    * flat k1·k2 matrix at (k1 + spill·k2)/K of the flat scoring cost. */
  def ivf_cells2(vec: Column, c1: Column, c2: Column, dim: Column,
      spill: Column, top: Column): Column =
    inv(EmbedOps.getClass, ArrayType(IntegerType, containsNull = false),
      "topCells2", vec, c1, c2, dim.cast("int"), spill.cast("int"),
      top.cast("int"))

  /** Broadcast-backed [[ivf_cells]]: for centroid matrices too large to
    * inline as plan literals (the >100k-cell frontier) — same kernel,
    * same ids, shipped once per executor instead of per task. */
  def ivf_cells_bc(vec: Column, bc: org.apache.spark.broadcast.Broadcast[Array[Double]],
      dim: Int, top: Int): Column =
    GraftSqlBridge.column(IvfCellsBc(GraftSqlBridge.expression(vec), bc, None,
      dim, 1, top))

  /** Broadcast-backed [[ivf_cells2]] (two-level spill descent). */
  def ivf_cells2_bc(vec: Column,
      bc1: org.apache.spark.broadcast.Broadcast[Array[Double]],
      bc2: org.apache.spark.broadcast.Broadcast[Array[Double]],
      dim: Int, spill: Int, top: Int): Column =
    GraftSqlBridge.column(IvfCellsBc(GraftSqlBridge.expression(vec), bc1,
      Some(bc2), dim, spill, top))

  /** Multi-table LSH bucket: hyperplanes [offset, offset+bits). */
  def lsh_bucket_offset(vec: Column, bits: Column, offset: Column): Column =
    inv(EmbedOps.getClass, IntegerType, "lshBucketOffset", vec,
      bits.cast("int"), offset.cast("int"))

  /** Product-quantization codes (m small ints) of a float vector against a
    * flattened m×ks×(dim/m) codebook literal. */
  def pq_encode(vec: Column, codebook: Column, dim: Column, m: Column, ks: Column): Column =
    inv(EmbedOps.getClass, ArrayType(IntegerType, containsNull = false),
      "pqEncode", vec, codebook, dim.cast("int"), m.cast("int"), ks.cast("int"))

  /** Asymmetric-distance cosine: raw query vector vs a PQ-coded candidate. */
  def pq_adc_cos(q: Column, codes: Column, codebook: Column, dim: Column, m: Column, ks: Column): Column =
    inv(EmbedOps.getClass, DoubleType,
      "pqAdcCos", q, codes, codebook, dim.cast("int"), m.cast("int"), ks.cast("int"))

  /** Residual-quantization codes: PQ of (vec − cell centroid). */
  def pq_encode_res(vec: Column, cell: Column, cmat: Column, codebook: Column,
      dim: Column, m: Column, ks: Column): Column =
    inv(EmbedOps.getClass, ArrayType(IntegerType, containsNull = false),
      "pqEncodeRes", vec, cell.cast("int"), cmat, codebook,
      dim.cast("int"), m.cast("int"), ks.cast("int"))

  /** ADC cosine vs a residual-quantized candidate (centroid + residual). */
  def pq_adc_cos_res(q: Column, cell: Column, codes: Column, cmat: Column,
      codebook: Column, dim: Column, m: Column, ks: Column): Column =
    inv(EmbedOps.getClass, DoubleType,
      "pqAdcCosRes", q, cell.cast("int"), codes, cmat, codebook,
      dim.cast("int"), m.cast("int"), ks.cast("int"))

  /** OPQ codes: rotate by the learned R, then PQ-code the rotation. */
  def pq_encode_rot(vec: Column, rot: Column, codebook: Column,
      dim: Column, m: Column, ks: Column): Column =
    inv(EmbedOps.getClass, ArrayType(IntegerType, containsNull = false),
      "pqEncodeRot", vec, rot, codebook,
      dim.cast("int"), m.cast("int"), ks.cast("int"))

  /** ADC cosine vs an OPQ-coded candidate (rotated space). */
  def pq_adc_cos_rot(q: Column, codes: Column, rot: Column, codebook: Column,
      dim: Column, m: Column, ks: Column): Column =
    inv(EmbedOps.getClass, DoubleType,
      "pqAdcCosRot", q, codes, rot, codebook,
      dim.cast("int"), m.cast("int"), ks.cast("int"))

  /** A2: GTFS-Realtime FeedMessage decode — binary → array of vehicle
    * rows; `explode` it to get one row per vehicle entity. */
  def gtfsrt_decode(feed: Column): Column =
    inv(GtfsRtOps.getClass, ArrayType(GtfsRtOps.vehicleSchema), "decodeFeed", feed)

  // ---- SQL registration ----

  private[graft] val sqlFunctions: Seq[(String, DataType, Class[_], String, Int)] = Seq(
    ("graft_geohash", StringType, GeohashOps.getClass, "encode", 3),
    ("st_point", BinaryType, GeoOps.getClass, "pointWkb", 2),
    ("st_x", DoubleType, GeoOps.getClass, "wkbX", 1),
    ("st_y", DoubleType, GeoOps.getClass, "wkbY", 1),
    ("st_distance", DoubleType, GeoOps.getClass, "distance", 2),
    ("st_dwithin", BooleanType, GeoOps.getClass, "dwithin", 3),
    ("graft_erf", DoubleType, StatsOps.getClass, "erf", 1),
    ("graft_normal_cdf", DoubleType, StatsOps.getClass, "normalCdf", 1),
    ("graft_reliability", DoubleType, StatsOps.getClass, "reliability", 4),
    ("graft_minhash", ArrayType(LongType, containsNull = false), TextHashOps.getClass, "minhash", 3),
    ("graft_simhash", LongType, TextHashOps.getClass, "simhash64", 2),
    ("graft_fingerprint", LongType, TextHashOps.getClass, "fingerprint", 1),
    ("graft_nfc", StringType, TextHashOps.getClass, "nfc", 1),
    ("graft_zorder", LongType, GeohashOps.getClass, "zorder", 3),
    ("graft_zorder3", LongType, GeohashOps.getClass, "zorder3", 4),
    ("graft_hilbert", LongType, GeohashOps.getClass, "hilbert", 3))

  private def builder(dt: DataType, clazz: Class[_], method: String, arity: Int)(
      args: Seq[Expression]): Expression = {
    require(args.length == arity, s"expected $arity args, got ${args.length}")
    invExpr(clazz, dt, method, args)
  }

  /** Register the SQL-callable names and the engine's planning rules on an
    * existing session (tests, REPL, the Verify/Bench mains). */
  def register(spark: SparkSession): Unit = {
    sqlFunctions.foreach { case (name, dt, clazz, method, arity) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder(dt, clazz, method, arity), "scala_udf")
    }
    val rule = graft.plans.SpatialDWithinRewrite
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
  }
}

/** Session extension wiring the function surface into SQL at session build
  * time: `withExtensions(new GraftExtensions)` on the session builder, or
  * `spark.sql.extensions=graft.expr.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    functions.sqlFunctions.foreach { case (name, dt, clazz, method, arity) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (args: Seq[Expression]) =>
          StaticInvoke(clazz, dt, method, args)))
    }
    e.injectOptimizerRule(_ => graft.plans.SpatialDWithinRewrite)
  }
}
