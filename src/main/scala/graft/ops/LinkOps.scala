package graft.ops

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Record-linkage and link-analysis operators — the graph layer of the
  * training-data extension. The reference has no graph plane; these are
  * the shapes a corpus pipeline adds on top of dedup (reference analogue:
  * nothing — extension mandated by the driver brief):
  *
  *   - `fuzzy_join`: blocked edit-distance similarity self-join on part
  *     names — candidate pairs come from token-block equi-joins, never a
  *     cross product; `levenshtein` only runs inside blocks.
  *   - `pagerank`: five-iteration PageRank over the part co-purchase
  *     graph (parts sharing an order) — iterative join+aggregate, the
  *     same distributed shape as [[DedupOps]] pointer-jumping resolve.
  *   - `triangle_count`: degree-ordered-orientation triangle counting
  *     with sorted-adjacency intersection.
  *   - `kcore`: iterative degree peeling to the k-core fixpoint.
  *
  * Scale notes: fuzzy_join's blocking keys (first + last name token) are
  * equi-join keys, so candidate generation is a hash join whose fan-out is
  * the block-size distribution, not |names|²; PlanSpec's catalog-wide sweep
  * asserts no cartesian product. Missed pairs differing in BOTH blocking
  * tokens are the documented recall trade — the production upgrade is more
  * passes (q-gram blocks), each still an equi-join. The shared co-purchase
  * graph is built by a shuffle-hash self-join on the high-cardinality
  * order key and materialized ONCE per query (localCheckpoint) — as an
  * adjacency table (|V| rows, outdeg + neighbor array) for PageRank and
  * the triangle probe, as an edge list for peeling. PageRank iterations
  * are adjacency ⋈ ranks → explode → map-side-combined sum with a
  * per-iteration rank checkpoint (plans must not nest); ranks and
  * degrees are |V|-row frames — nothing driver-side but the |V| scalar
  * and the k-core/BPE-style convergence witnesses, no global sort. All
  * |V|-row probe sides go through [[BroadcastGuard.rows]] with the row
  * count each site already holds (a loop witness or a checkpoint count,
  * no extra action): broadcast while rows × the per-row size estimate
  * fits Spark's autoBroadcastJoinThreshold, the shuffled hash-join twin
  * beyond it — the plan degrades instead of OOMing at extreme |V|.
  *
  * Float discipline (pagerank): contributions are summed in whatever
  * partition order the shuffle lands, so both engines round each
  * iteration's rank to 9 decimals (and the published rank to 6) — the
  * noise floor of a ~hundred-term double sum is ~1e-15, far below the
  * 5e-10 rounding step, so per-iteration rounding makes the iteration
  * deterministic across engines and cluster sizes. Triangle and k-core
  * outputs are pure integers — no float parity surface at all.
  */
object LinkOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ---- fuzzy similarity join ----

  private[graft] val MaxDist = 4

  /** Blocked candidate pairs within edit distance over any one-column
    * (`p_name`) frame — exposed so CdcLinkSpec can plant the ER
    * chain-merge counter-example directly. */
  private[graft] def fuzzyPairsOf(names: DataFrame): DataFrame = {
    // two blocking passes: first token and last token of the name; a pair
    // is a candidate if it agrees on either block (array_distinct keeps
    // one-token names from double-counting themselves)
    val toks = split(col("p_name"), " ")
    val blocked = names.select(col("p_name"),
      explode(array_distinct(array(
        element_at(toks, 1), element_at(toks, -1)))).as("blk"))
    val a = blocked.select(col("blk"), col("p_name").as("a_name"))
    val b = blocked.select(col("blk"), col("p_name").as("b_name"))
    a.join(b, "blk")
      .filter(col("a_name") < col("b_name"))
      .select("a_name", "b_name").distinct()
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= MaxDist)
  }

  /** Blocked candidate pairs within edit distance (unordered frame —
    * shared by the join query and the golden-record resolves). */
  private def fuzzyPairs(s: SparkSession, dir: String): DataFrame =
    fuzzyPairsOf(t(s, dir, "part").select(col("p_name")).distinct())

  // ---- q-gram blocking (the recall pass) ----
  // Token blocking misses pairs that differ in BOTH the first and last
  // token — the documented recall trade above. The production fix is a
  // second blocking pass on character q-grams: a pair within edit
  // distance k shares plenty of 3-grams (each edit destroys at most q
  // grams), so candidates come from an equi-join on shared grams. The
  // scale discipline is STOP-GRAM pruning: a gram's block costs df²
  // pairs, so grams with df > QgramMaxDf are dropped before the join —
  // bounding the fan-out exactly like the LSH band joins; near-pairs
  // whose every shared gram is a stop-gram are the (rare, measured)
  // recall cost. All still equi-joins — no cross product at any |names|.

  private[graft] val QgramN = 3
  private[graft] val QgramMaxDf = 25

  private[graft] def qgramPairsOf(names: DataFrame): DataFrame = {
    val grams = names.select(col("p_name"),
      explode(when(length(col("p_name")) >= QgramN,
        array_distinct(expr(
          s"transform(sequence(1, length(p_name) - ${QgramN - 1})," +
            s" i -> substring(p_name, i, $QgramN))")))
        .otherwise(array().cast("array<string>"))).as("gram"))
    val rare = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= QgramMaxDf)
      .select("gram")
    val blocked = grams.join(rare, "gram")
    val a = blocked.select(col("gram"), col("p_name").as("a_name"))
    val b = blocked.select(col("gram"), col("p_name").as("b_name"))
    a.join(b, "gram")
      .filter(col("a_name") < col("b_name"))
      .select("a_name", "b_name").distinct()
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= MaxDist)
  }

  private def fuzzyJoinQgram(s: SparkSession, dir: String): DataFrame =
    qgramPairsOf(t(s, dir, "part").select(col("p_name")).distinct())
      .orderBy("a_name", "b_name")

  private val fuzzyJoinQgramSql =
    s"""WITH nm AS (SELECT DISTINCT p_name FROM part),
       |g AS (
       |  SELECT p_name, unnest(
       |    CASE WHEN len(p_name) >= $QgramN THEN
       |      list_distinct(list_transform(
       |        range(1, len(p_name) - ${QgramN - 2}),
       |        i -> substr(p_name, i, $QgramN)))
       |    ELSE [] END) AS gram
       |  FROM nm),
       |rare AS (
       |  SELECT gram FROM g GROUP BY gram HAVING count(*) <= $QgramMaxDf),
       |bl AS (SELECT g.gram, g.p_name FROM g JOIN rare USING (gram)),
       |cand AS (
       |  SELECT DISTINCT a.p_name AS a_name, b.p_name AS b_name
       |  FROM bl a JOIN bl b ON a.gram = b.gram AND a.p_name < b.p_name)
       |SELECT a_name, b_name,
       |  CAST(levenshtein(a_name, b_name) AS INT) AS dist
       |FROM cand
       |WHERE levenshtein(a_name, b_name) <= $MaxDist
       |ORDER BY a_name, b_name""".stripMargin

  private def fuzzyJoin(s: SparkSession, dir: String): DataFrame =
    fuzzyPairs(s, dir).orderBy("a_name", "b_name")

  // ---- confidence gate before closure ----
  // Transitive closure CHAINS near-matches: with the raw `dist <= 4`
  // pair set, "red mud"–"red wood"–"red woods" collapse into one
  // cluster even though mud–wood is barely a match (the classic ER
  // over-merge, documented on fuzzyResolve below). The gate admits an
  // edge into the closure only when the NORMALIZED distance is small —
  // dist ≤ max(len)/4, written all-integer (4·dist ≤ max(len)) so both
  // engines compare exact BIGINTs and there is no float surface. A short
  // name pair needs to be near-identical to merge; long names tolerate
  // proportionally more edits. Chains still require every LINK to be a
  // high-confidence match, which is what kills the counter-example:
  // "red mud"→"red wood" is 3 edits over 8 chars (0.375 > 0.25, edge
  // dropped) while a true variant like "red wood"→"red woods" is 1 edit
  // over 9 (admitted).
  private[graft] val GateInvNorm = 4 // admit iff GateInvNorm * dist <= max(len)

  private[graft] def gateNorm(pairs: DataFrame): DataFrame =
    pairs.filter(col("dist") * GateInvNorm <=
      greatest(length(col("a_name")), length(col("b_name"))))

  private def gateNormPred(a: String, b: String): String =
    s"$GateInvNorm * levenshtein($a, $b) <= greatest(len($a), len($b))"

  /** Golden-record resolve: connected components over the fuzzy pair
    * graph (the [[DedupOps.propagateMin]] pointer-jumping machinery,
    * reused verbatim — names keyed by their min part id), every name
    * labeled with its cluster's canonical id. The entity-resolution
    * completion of `fuzzy_join`: pairs say "these look alike", the
    * resolve says "these are the same thing, file them under one key".
    * Expect aggressive merging on a small vocabulary: transitive closure
    * CHAINS near-matches ("red mud"–"red wood"–"red woods"), the
    * classic ER over-merge — `fuzzy_resolve_gated` below is the deployed
    * fix (normalized-distance confidence gate before closure); this
    * ungated anchor stays as the closure-semantics reference, and the
    * algorithmic shape (pairs → components → canonical key) is exactly
    * the same either way. */
  private def resolveOver(s: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val nameKey = t(s, dir, "part").groupBy(col("p_name"))
      .agg(min(col("p_partkey")).as("nid"))
    val a = nameKey.select(col("p_name").as("a_name"), col("nid").as("ua"))
    val b = nameKey.select(col("p_name").as("b_name"), col("nid").as("ub"))
    val keyed = pairs.join(a, "a_name").join(b, "b_name")
    val edges = keyed.select(col("ua").as("u"), col("ub").as("v"))
      .union(keyed.select(col("ub").as("u"), col("ua").as("v")))
    val (labels, _) = DedupOps.propagateMin(edges)
    nameKey.join(labels, nameKey("nid") === labels("doc_id"), "left")
      .select(col("p_name"),
        coalesce(col("label"), col("nid")).as("cluster_id"))
      .orderBy("p_name")
  }

  private def fuzzyResolve(s: SparkSession, dir: String): DataFrame =
    resolveOver(s, dir, fuzzyPairs(s, dir))

  /** The production fix for the over-merge above: identical closure, but
    * only confidence-gated pairs ([[gateNorm]]) become edges. The anchor
    * `fuzzy_resolve` stays as-is — it IS the closure semantics; this twin
    * is what a curation run deploys on a large vocabulary. */
  private def fuzzyResolveGated(s: SparkSession, dir: String): DataFrame =
    resolveOver(s, dir, gateNorm(fuzzyPairs(s, dir)))

  private def resolveSqlWith(fpPred: String): String =
    s"""WITH RECURSIVE nm AS (
       |  SELECT p_name, min(p_partkey) AS nid FROM part GROUP BY 1),
       |bl AS (
       |  SELECT p_name, unnest(list_distinct(
       |    [string_split(p_name, ' ')[1], string_split(p_name, ' ')[-1]])) AS blk
       |  FROM nm),
       |cand AS (
       |  SELECT DISTINCT a.p_name AS a_name, b.p_name AS b_name
       |  FROM bl a JOIN bl b ON a.blk = b.blk AND a.p_name < b.p_name),
       |fp AS (
       |  SELECT a_name, b_name FROM cand
       |  WHERE $fpPred),
       |e AS (
       |  SELECT a.nid AS u, b.nid AS v
       |  FROM fp JOIN nm a ON fp.a_name = a.p_name
       |    JOIN nm b ON fp.b_name = b.p_name
       |  UNION
       |  SELECT b.nid, a.nid
       |  FROM fp JOIN nm a ON fp.a_name = a.p_name
       |    JOIN nm b ON fp.b_name = b.p_name),
       |walk(id, label) AS (
       |  SELECT nid, nid FROM nm
       |  UNION
       |  SELECT e.v, w.label FROM walk w JOIN e ON e.u = w.id)
       |SELECT nm.p_name, min(w.label) AS cluster_id
       |FROM nm JOIN walk w ON w.id = nm.nid
       |GROUP BY nm.p_name ORDER BY p_name""".stripMargin

  private val fuzzyResolveSql =
    resolveSqlWith(s"levenshtein(a_name, b_name) <= $MaxDist")

  private val fuzzyResolveGatedSql = resolveSqlWith(
    s"levenshtein(a_name, b_name) <= $MaxDist AND " +
      gateNormPred("a_name", "b_name"))

  private val fuzzyJoinSql =
    s"""WITH nm AS (SELECT DISTINCT p_name FROM part),
       |bl AS (
       |  SELECT p_name, unnest(list_distinct(
       |    [string_split(p_name, ' ')[1], string_split(p_name, ' ')[-1]])) AS blk
       |  FROM nm),
       |cand AS (
       |  SELECT DISTINCT a.p_name AS a_name, b.p_name AS b_name
       |  FROM bl a JOIN bl b ON a.blk = b.blk AND a.p_name < b.p_name)
       |SELECT a_name, b_name,
       |  CAST(levenshtein(a_name, b_name) AS INT) AS dist
       |FROM cand
       |WHERE levenshtein(a_name, b_name) <= $MaxDist
       |ORDER BY a_name, b_name""".stripMargin

  // ---- PageRank over the co-purchase graph ----

  private[ops] val Damp = 0.85
  private[ops] val Base = 0.15 // 1 - Damp, written as the same literal in both engines
  private[ops] val Iters = 5
  private val IterScale = 9 // per-iteration rounding (see float discipline)

  /** Directed edge list: src part → dst part whenever both appear in the
    * same order (both directions, deduplicated). Self-join on the
    * high-cardinality order key — scales as Σ lines²/order, not |fact|². */
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
    val a = li.select(col("ok"), col("l_partkey").as("src"))
    val b = li.select(col("ok"), col("l_partkey").as("dst"))
    // shuffle-hash, not sort-merge: both sides are the same fact keyed by
    // a high-cardinality key with tiny per-key groups — hashing one side
    // skips two full sorts (measured 3.4× on this join); AQE still
    // overrides per-partition on skew
    a.hint("shuffle_hash").join(b, "ok").filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
  }

  // ---- shared co-purchase graph cache ----
  // kcore, triangle_count and pagerank all start from the SAME lineitem
  // self-join — the round-8 verdict named it kcore's remaining floor and
  // the family's shared pre-work. Cache the distinct directed edge list
  // once per (context, lineitem content), plus the undirected (u < v)
  // half-frame kcore's static peel and triangle's orientation both
  // consume (kcore previously re-checkpointed it per call and never
  // freed it — the cache now owns that copy). labelsCache ownership
  // contract: checkpointed values, freed on eviction. The round-9 sf1
  // A/B then showed the edge cache alone left pagerank's steady state
  // unmoved (9.5 s: its per-call cost is the ADJACENCY build, not the
  // edge build) and triangle still re-orienting per call, so the
  // per-operator derived frames joined the cache: 5 legs per dataset
  // (edges, und, adj, oriented, tri_adj), capacity sized for two live
  // datasets.
  private val graphCache =
    new ContentKey.Lru[DataFrame](10, ContentKey.freeOnEvict("graphCache"))

  private def graphKey(s: SparkSession, dir: String, leg: String): String =
    s"${ContentKey.ofScoped(s, Seq(s"$dir/lineitem.parquet"))}/$leg"

  private def coPurchaseEdgesC(s: SparkSession, dir: String): DataFrame =
    graphCache.get(graphKey(s, dir, "edges"))(
      coPurchaseEdges(s, dir).localCheckpoint())

  /** Undirected (u < v) half-frame over the cached directed edges. */
  private def coPurchaseUndC(s: SparkSession, dir: String): DataFrame =
    graphCache.get(graphKey(s, dir, "und"))(
      coPurchaseEdgesC(s, dir).filter(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v")).localCheckpoint())

  /** Adjacency over an explicit edge frame: [[pagerank]] passes the
    * cached edges; [[pagerankStepProbe]] passes the raw builder so
    * PlanSpec pins the full un-checkpointed join regime. */
  private def prAdjacencyFrom(edges: DataFrame): DataFrame =
    edges.groupBy("src")
      .agg(count(lit(1)).as("outdeg"), collect_list(col("dst")).as("dsts"))

  /** One PageRank iteration: contributions from adjacency ⋈ ranks (the
    * size-guarded probe), map-side-combined sum, teleport + damping.
    * Factored out so PlanSpec can pin the join regime on both sides of
    * the broadcast guard — the catalog loop checkpoints each update, so
    * the iteration joins never survive into the final query plan. */
  private[graft] def prUpdate(s: SparkSession, adj: DataFrame,
      parts: DataFrame, pr: DataFrame, nV: Long): DataFrame = {
    val nn = nV.toDouble
    val contrib = adj.join(BroadcastGuard.rows(pr, nV), adj("src") === pr("id"))
      .select(explode(col("dsts")).as("id"),
        (col("pr") / col("outdeg")).as("c"))
      .groupBy("id").agg(sum(col("c")).as("c"))
    parts.join(contrib, Seq("id"), "left")
      .select(col("id"),
        round(lit(Base) / lit(nn) + lit(Damp) * coalesce(col("c"), lit(0.0)),
          IterScale).as("pr"))
  }

  /** The un-checkpointed first iteration — a plan probe for PlanSpec. */
  private[graft] def pagerankStepProbe(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part").select(col("p_partkey").as("id"))
    val nV = parts.count()
    prUpdate(s, prAdjacencyFrom(coPurchaseEdges(s, dir)), parts,
      parts.select(col("id"), (lit(1.0) / lit(nV.toDouble)).as("pr")), nV)
  }

  private def pagerank(s: SparkSession, dir: String): DataFrame = {
    // materialize the graph ONCE as an adjacency table (localCheckpoint,
    // the dedup_resolve discipline): |V| rows carrying outdeg + neighbor
    // array instead of |E| edge rows — ~100× fewer stored rows, and every
    // iteration re-reads these blocks instead of replaying the lineitem
    // self-join + distinct (which itself comes from the shared graph
    // cache, so the family builds it once per dataset)
    val adj = graphCache.get(graphKey(s, dir, "adj"))(
      prAdjacencyFrom(coPurchaseEdgesC(s, dir)).localCheckpoint())
    val parts = t(s, dir, "part").select(col("p_partkey").as("id"))
      .localCheckpoint()
    // |V| as a loop constant (a scalar count action, the dedup_resolve
    // convergence-witness precedent) — both engines then evaluate the
    // identical `0.15 / nn` double division; the same count feeds the
    // broadcast guard (rank frame is exactly |V| rows every iteration)
    val nV = parts.count()
    var pr = parts.select(col("id"), (lit(1.0) / lit(nV.toDouble)).as("pr"))
    for (_ <- 1 to Iters) {
      // checkpoint each rank frame (|V| rows): without it the iterations
      // nest into one plan and every broadcast of pr_i re-executes the
      // whole pr_{i-1} chain
      pr = prUpdate(s, adj, parts, pr, nV).localCheckpoint()
    }
    pr.select(col("id").as("p_partkey"), round(col("pr"), 6).as("rank"))
      .orderBy("p_partkey")
  }

  private val pagerankSql: String = {
    val iters = (1 to Iters).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT pt.p_partkey AS id,
         |    round($Base / (SELECT n FROM nn) + $Damp * coalesce(c.c, 0), $IterScale) AS pr
         |  FROM part pt LEFT JOIN (
         |    SELECT ed.dst AS id, sum(p.pr / ed.outdeg) AS c
         |    FROM ed JOIN p${i - 1} p ON p.id = ed.src GROUP BY 1) c
         |  ON c.id = pt.p_partkey)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |d AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg FROM e JOIN d USING (src)),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM part),
       |p0 AS (SELECT p_partkey AS id, 1.0 / (SELECT n FROM nn) AS pr FROM part),
       |$iters
       |SELECT id AS p_partkey, round(pr, 6) AS rank FROM p$Iters
       |ORDER BY p_partkey""".stripMargin
  }

  // ---- triangle counting / transitivity ----
  // Global clustering structure of the co-purchase graph. The scale-safe
  // formulation is degree-ordered orientation (each undirected edge points
  // from the (degree, id)-smaller endpoint): the oriented graph is a DAG
  // whose out-degrees are bounded by O(√|E|), so the wedge join
  // (e1.t = e2.s) enumerates each triangle exactly once and its fan-out is
  // Σ outdeg² — the arboricity-bounded count from Chiba–Nishizeki, not the
  // Σ deg² blowup a naive orientation gives on skewed graphs. All counts
  // are integers: zero float-parity risk; transitivity is one final
  // division of two exact BIGINTs, identical in both engines.
  /** Degree-ordered orientation of the cached undirected graph — the
    * deterministic DAG every triangle-probe call consumes. Built once per
    * dataset (graph cache leg "oriented"): the deg branches reuse und's
    * exchange inside the one build job, and every later call reads the
    * checkpointed blocks instead of re-joining degrees per invocation. */
  private def orientedDagC(s: SparkSession, dir: String): DataFrame =
    graphCache.get(graphKey(s, dir, "oriented")) {
      val und = coPurchaseUndC(s, dir)
      val deg = und.select(col("u").as("id"))
        .unionAll(und.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val du = deg.select(col("id").as("u"), col("d").as("d_u"))
      val dv = deg.select(col("id").as("v"), col("d").as("d_v"))
      val fwd = col("d_u") < col("d_v") ||
        (col("d_u") === col("d_v") && col("u") < col("v"))
      und.join(du, "u").join(dv, "v")
        .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
          when(fwd, col("v")).otherwise(col("u")).as("t"))
        .localCheckpoint()
    }

  /** Sorted out-adjacency of the oriented DAG — one (s, nbrs) row per
    * source, neighbor lists ascending. A cache leg of its own: the probe
    * consumes it TWICE per triangle query (exploded as the edge stream,
    * keyed as the lookup side) and the two consumers' filter pushdowns
    * differ, so exchange reuse cannot dedupe the aggregation — without
    * the leg every call paid the |E| exchange + collect_list twice. */
  private def triAdjC(s: SparkSession, dir: String): DataFrame =
    graphCache.get(graphKey(s, dir, "tri_adj"))(
      orientedDagC(s, dir).groupBy("s")
        .agg(sort_array(collect_list(col("t"))).as("nbrs"))
        .localCheckpoint())

  private def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val o = orientedDagC(s, dir)
    // edge-iterator with sorted adjacency (the merge-intersection form of
    // Chiba–Nishizeki): per oriented edge (s,t), every common out-neighbor
    // closes one triangle, and the DAG orientation counts it exactly once.
    // The probe is |E| rows × an O(outdeg) merge-count — the Σ outdeg²
    // wedge stream (49M rows at sf0.1, 40× the edge list) is never
    // materialized as rows. ONE adjacency join, not two: the oriented
    // edge list with its source adjacency attached IS the adjacency
    // exploded (adj holds exactly the distinct out-neighbors per source),
    // so the old o ⋈ adjS equi-join — a second |E| exchange of o plus a
    // hash join rebuilding rows the aggregate already held — is replaced
    // by a Generate over adj. What remains is the one unavoidable
    // movement of this algorithm: the n1-carrying probe meeting N(t).
    // Below the size guard adjT broadcasts and the probe never hits an
    // exchange at all; beyond it the probe shuffles ONCE by t (bytes
    // ∝ Σ outdeg², the arboricity-bounded wedge volume) into a shuffled
    // hash join — measured at sf10 in SCALE.md §round-10.
    // guard witness: adjacency has at most one row per oriented source and
    // one array element per edge, so the metadata-cheap checkpointed EDGE
    // count × adjT's per-row estimate (row header + jt + one element)
    // bounds it from above — conservative in the safe direction; beyond
    // it the identical plan runs as a shuffled hash join. Keeping the witness
    // free matters: a second localCheckpoint of the |V|-row array table
    // just to make its count cheap cost ~30% of the whole query.
    val eCount = o.count() // metadata read over the checkpointed blocks
    val adj = triAdjC(s, dir)
    val probe = adj.select(col("nbrs").as("n1"), explode(col("nbrs")).as("jt"))
    val adjT = adj.select(col("s").as("jt"), col("nbrs").as("n2"))
    // allocation-free merge-count over the two sorted neighbor lists —
    // size(array_intersect(...)) built the intersection array + dedup set
    // per probed edge, the hot allocation at Σ outdeg² volume
    val tri = probe.join(BroadcastGuard.rows(adjT, eCount), "jt")
      .select(graft.expr.functions
        .sorted_intersect_count(col("n1"), col("n2")).as("k"))
      .agg(sum(col("k")).as("n_triangles"))
    // orientation preserves incidence, so undirected degrees (for the
    // wedge denominator) come from the checkpointed o, not a second build
    val degO = o.select(col("s").as("id")).unionAll(o.select(col("t").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val nodes = degO.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) DIV 2")).as("n_wedges"))
    val edges = o.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(broadcast(edges)).crossJoin(broadcast(tri)) // 1-row totals
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("transitivity"))
  }

  private val triangleCountSql =
    """WITH e AS MATERIALIZED (
      |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
      |    greatest(a.l_partkey, b.l_partkey) AS v
      |  FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS d FROM (
      |    SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
      |  GROUP BY 1),
      |o AS MATERIALIZED (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |           THEN e.u ELSE e.v END AS s,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |           THEN e.v ELSE e.u END AS t
      |  FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM o e1 JOIN o e2 ON e1.t = e2.s
      |    JOIN o e3 ON e3.s = e1.s AND e3.t = e2.t),
      |nodes AS (
      |  SELECT count(*) AS n_nodes,
      |    CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      |  FROM deg),
      |edges AS (SELECT count(*) AS n_edges FROM e)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  round(3.0 * n_triangles / n_wedges, 6) AS transitivity
      |FROM nodes, edges, tri""".stripMargin

  // ---- k-core decomposition ----
  // Iterative peeling: repeatedly delete nodes of degree < k until the
  // fixpoint; what survives is the k-core (the "dense backbone" — for a
  // corpus-similarity graph, the over-connected boilerplate cluster a
  // curation pass inspects first). Driver-controlled loop exactly like
  // dedup_resolve: each round is one degree agg + two semi-joins, the
  // edge frame re-materialized per round (localCheckpoint) so rounds
  // don't nest; convergence is witnessed by the edge count (a dropped
  // node always drops edges — every node in the frame has degree ≥ 1).
  // The SQL mirror unrolls KcoreRounds rounds; peeling at the shipped k
  // measured ≤ 5 rounds at sf0.001/0.01/0.1 (CdcLinkSpec pins sf0.001;
  // the loud require below guards every other dataset), so fixpoint ==
  // 8-round unroll wherever the catalog entry runs.

  private[graft] val KcoreK = 80
  private[graft] val KcoreRounds = 8
  private val KcoreGuard = 32
  // ---- driver-local endgame (round-11) ----
  // After the first distributed round(s) the frontier collapses to a
  // handful of ids, yet every remaining round still pays a fixed
  // multi-stage job latency (measured: 5 rounds × ~0.4 s at sf0.1 for
  // frontiers of 846/197/64/24/6). The endgame: once the AT-RISK MARGIN
  // M = {survivors with degree < k + Δ} is small, collect M's degrees
  // and every edge incident to M once, and run the remaining synchronous
  // peel on the driver. Exactness certificate: any node outside M has
  // degree ≥ k+Δ and all removals are ⊆ M, so it can only ever reach the
  // frontier by losing ≥ Δ+1 edges to removed nodes — the sim counts
  // every decrement it would apply to an out-of-M endpoint (it holds ALL
  // edges incident to removed nodes, removals being ⊆ M) and aborts to
  // the distributed loop if any exceeds Δ. Certified sim rounds are
  // bit-identical to distributed rounds (same sync-peel rule over exact
  // degrees), so the round count, the ≤ KcoreRounds contract and the SQL
  // unroll parity are preserved. Size guards keep the driver safe at any
  // scale: the margin-id cap and a collected-edge bound Σ_{m∈M} deg(m)
  // (an upper bound on edges incident to M, both observed during the
  // degree checkpoint's own job) must pass or the peel stays distributed.
  // the margin-id cap is a session conf so tests pin BOTH regimes — the
  // endgame and the distributed peel it replaces
  private[graft] val KcoreLocalDelta = 64
  private[graft] val KcoreLocalMaxIdsKey = "graft.link.kcoreLocalMaxIds"
  private[graft] val KcoreLocalMaxIds = 20000L
  private[graft] val KcoreLocalMaxEdges = 3L * 1000 * 1000

  private[graft] def kcoreEdges(s: SparkSession, dir: String, k: Int,
      maxRounds: Int = KcoreGuard): (DataFrame, Int) = {
    // Incremental peel (the propagateMin frontier discipline): the edge
    // list is static — checkpointed ONCE — and each round touches only
    // the JUST-REMOVED nodes instead of re-filtering the full edge frame
    // and recomputing all degrees. Per round: (1) survivors incident to a
    // just-removed node lose that many degrees — two semi-joins of the
    // static edges against the (small) removal delta, anti-joined against
    // the cumulative removed set so nodes falling together don't update
    // each other; (2) the |V|-row degree frame is decremented via a left
    // join against the (small) per-survivor loss counts. Removal sets are
    // size-guarded broadcasts. Synchronous-peel semantics are preserved
    // exactly — round r removes every node whose degree in the round-r
    // subgraph is < k (nodes isolated by a removal reach d = 0 and leave
    // the NEXT round, which is also when the full recomputation dropped
    // them from the degree agg) — so round counts, the final subgraph,
    // and the 8-round SQL unroll contract are unchanged; only the
    // per-round cost drops from O(|E|) joins + a 2|E| degree shuffle to
    // O(|E|) semi-join scans with tiny broadcast sides and a |V| update.
    // the static peel input comes from the shared graph cache (already
    // checkpointed, cache-owned — do NOT free here; the returned `sub`
    // reads these blocks lazily)
    val und = coPurchaseUndC(s, dir)
    def degrees(edges: DataFrame): DataFrame = edges
      .select(col("u").as("id")).unionAll(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // ONE Spark job per round (round-10 verdict: the peel's cost at toy
    // scale is per-round fixed job latency, not data volume — the old
    // shape paid 3 jobs/round: removedAll checkpoint + nextDeg checkpoint
    // + frontier count). The fusion: the frontier count rides the degree
    // checkpoint's own materialization job as an observed metric, and the
    // cumulative removed set stays a LAZY union of `d < k` filters over
    // the retained per-round degree checkpoints (cheap local block scans
    // when a join broadcast evaluates it) — checkpointed exactly once at
    // loop exit, after which every degree checkpoint is freed.
    val kMargin = (k + KcoreLocalDelta).toLong
    // returns (checkpoint, frontier |d<k|, margin |d<k+Δ|, Σ d over margin)
    def ckWithFrontier(df: DataFrame): (DataFrame, Long, Long, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = df.observe(obs,
        sum(when(col("d") < lit(k.toLong), 1L).otherwise(0L)).as("f"),
        sum(when(col("d") < lit(kMargin), 1L).otherwise(0L)).as("m"),
        sum(when(col("d") < lit(kMargin), col("d")).otherwise(0L)).as("ms"))
        .localCheckpoint() // eager: materializing fires the observation
      // getOrEmpty-poll instead of the blocking get: if a Spark version
      // ever stopped routing checkpoint actions through the listener this
      // degrades to one extra count job rather than a hang
      var waitedMs = 0L
      var metrics = GraftSqlBridge.observationGetOrEmpty(obs)
      while (metrics.isEmpty && waitedMs < 5000) {
        Thread.sleep(5); waitedMs += 5
        metrics = GraftSqlBridge.observationGetOrEmpty(obs)
      }
      if (metrics.isEmpty) {
        // listener fallback: pay one count job, disable the local endgame
        (ck, ck.filter(col("d") < k).count(), Long.MaxValue, Long.MaxValue)
      } else {
        def metric(key: String): Long = metrics(key) match {
          case null => 0L // empty frame → null sum
          case v: Number => v.longValue()
        }
        (ck, metric("f"), metric("m"), metric("ms"))
      }
    }
    val dbg = sys.env.contains("GRAFT_KCORE_DEBUG")
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime; val r = f
      if (dbg) println(f"[kcore] $tag ${(System.nanoTime - t0) / 1e6}%.0f ms")
      r
    }
    import s.implicits._
    val degCks = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var (deg, nRemNow, nMargin, marginDegSum) =
      timed("deg0")(ckWithFrontier(degrees(und)))
    degCks += deg
    var remNow = deg.filter(col("d") < k).select("id") // lazy over the ck
    val remFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var nRemovedAll = 0L
    var rounds = 0
    var anyDistributedRounds = false
    var endgameDone = false
    var endgameTried = false

    // Driver-local endgame (see the constants' comment for the exactness
    // certificate). Returns None — leaving all distributed state
    // untouched — if the certificate fails; Some(removedIds, finalRounds)
    // on success. Two collect jobs: the margin's (id, degree) pairs and
    // every edge incident to a margin id (u-side semi ∪ v-side semi minus
    // the u-side overlap, so an in-margin/in-margin edge lands once).
    def localEndgame(): Option[(Array[Long], Int)] = {
      val margin = deg.filter(col("d") < kMargin)
        .select("id", "d").as[(Long, Long)].collect()
      val degLoc = scala.collection.mutable.HashMap.from(margin)
      // the margin passed the id cap: ≤ graft.link.kcoreLocalMaxIds rows each
      val muDF = broadcast(margin.map(_._1).toSeq.toDF("u")) // margin ids
      val mvDF = broadcast(margin.map(_._1).toSeq.toDF("v")) // margin ids
      val incidentStatic = und.join(muDF, Seq("u"), "left_semi")
        .unionAll(und.join(mvDF, Seq("v"), "left_semi")
          .join(muDF, Seq("u"), "left_anti").select("u", "v"))
      // Restrict to the CURRENT subgraph before collecting: the static
      // `und` still carries edges to nodes removed in earlier distributed
      // rounds, while the marginDegSum guard sums CURRENT (decremented)
      // degrees that exclude exactly those edges — without this anti-join
      // the collect could exceed the guard by the margin's removed-
      // neighbor edge count (unbounded driver risk), and every such edge
      // would inflate cOut toward a spurious certificate abort.
      val incident =
        if (remFrames.isEmpty) incidentStatic
        else {
          val removedSoFar = remFrames.reduce(_ unionAll _)
          incidentStatic
            .join(BroadcastGuard.rows(
              removedSoFar.select(col("id").as("u")), nRemovedAll),
              Seq("u"), "left_anti")
            .join(BroadcastGuard.rows(
              removedSoFar.select(col("id").as("v")), nRemovedAll),
              Seq("v"), "left_anti")
            .select("u", "v")
        }
      val edges = incident.as[(Long, Long)].collect()
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      for ((u, v) <- edges) {
        if (degLoc.contains(u))
          adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty) += v
        if (degLoc.contains(v))
          adj.getOrElseUpdate(v, scala.collection.mutable.ArrayBuffer.empty) += u
      }
      val removed = scala.collection.mutable.HashSet.empty[Long]
      val cOut = scala.collection.mutable.HashMap.empty[Long, Long]
      var frontier: Seq[Long] =
        degLoc.iterator.collect { case (id, d) if d < k => id }.toVector
      var r = rounds
      while (frontier.nonEmpty && r < maxRounds) {
        r += 1
        removed ++= frontier
        val loss = scala.collection.mutable.HashMap.empty[Long, Long]
        for (f <- frontier; x <- adj.getOrElse(f, Nil))
          if (!removed.contains(x)) {
            if (degLoc.contains(x)) loss(x) = loss.getOrElse(x, 0L) + 1L
            else {
              val c = cOut.getOrElse(x, 0L) + 1L
              // an out-of-margin node has lost > Δ edges: it COULD reach
              // the true frontier, the sim's view is no longer certified
              if (c > KcoreLocalDelta) return None
              cOut(x) = c
            }
          }
        frontier = loss.iterator.flatMap { case (x, l) =>
          val nd = degLoc(x) - l
          degLoc(x) = nd
          if (nd < k) Some(x) else None
        }.toVector
      }
      Some((removed.toArray, r))
    }

    while (nRemNow > 0 && rounds < maxRounds && !endgameDone) {
      val localMaxIds = s.conf.getOption(KcoreLocalMaxIdsKey)
        .map(_.toLong).getOrElse(KcoreLocalMaxIds)
      if (!endgameTried && nMargin <= localMaxIds &&
          marginDegSum <= KcoreLocalMaxEdges) {
        endgameTried = true
        timed(s"endgame (margin $nMargin)")(localEndgame()) match {
          case Some((removedIds, finalRounds)) =>
            rounds = finalRounds
            if (removedIds.nonEmpty) {
              remFrames += removedIds.toSeq.toDF("id")
              nRemovedAll += removedIds.length
            }
            endgameDone = true
          case None => () // certificate failed: continue distributed
        }
      }
      if (!endgameDone) {
        rounds += 1
        anyDistributedRounds = true
        remFrames += remNow
        nRemovedAll += nRemNow
        val removedAll = remFrames.reduce(_ unionAll _)
        // per-survivor degree loss from edges whose OTHER endpoint just left
        val remU = BroadcastGuard.rows(remNow.select(col("id").as("u")), nRemNow)
        val remV = BroadcastGuard.rows(remNow.select(col("id").as("v")), nRemNow)
        val touched = und.join(remU, Seq("u"), "left_semi").select(col("v").as("id"))
          .unionAll(und.join(remV, Seq("v"), "left_semi").select(col("u").as("id")))
        val delta = touched
          .join(BroadcastGuard.rows(removedAll, nRemovedAll), Seq("id"), "left_anti")
          .groupBy("id").agg(count(lit(1)).as("dl"))
        val (nextDeg, nNext, nM, mds) = timed(s"round $rounds (frontier $nRemNow)")(
          ckWithFrontier(
            deg.join(remNow, Seq("id"), "left_anti")
              .join(delta, Seq("id"), "left")
              .select(col("id"), (col("d") - coalesce(col("dl"), lit(0L))).as("d"))))
        degCks += nextDeg
        deg = nextDeg
        remNow = deg.filter(col("d") < k).select("id")
        nRemNow = nNext; nMargin = nM; marginDegSum = mds
      }
    }
    // one final restriction of the static edges by the cumulative removed
    // set; checkpointing it here self-contains the result, so ALL degree
    // checkpoints (the only thing the lazy removal filters referenced)
    // are released before returning. A pure-endgame removal set is a
    // LocalRelation already — nothing to checkpoint.
    val sub =
      if (remFrames.isEmpty) und
      else {
        val unionAllRem = remFrames.reduce(_ unionAll _)
        val removedAll =
          if (anyDistributedRounds) unionAllRem.localCheckpoint()
          else unionAllRem
        val remAllU = BroadcastGuard.rows(
          removedAll.select(col("id").as("u")), nRemovedAll)
        val remAllV = BroadcastGuard.rows(
          removedAll.select(col("id").as("v")), nRemovedAll)
        und.join(remAllU, Seq("u"), "left_anti")
          .join(remAllV, Seq("v"), "left_anti")
          .select("u", "v") // USING-joins move the key first; restore (u, v)
      }
    degCks.foreach(GraftSqlBridge.freeLocalCheckpoint)
    (sub, rounds)
  }

  private def kcore(s: SparkSession, dir: String): DataFrame = {
    val (edges, rounds) = kcoreEdges(s, dir, KcoreK)
    // the oracle unrolls exactly KcoreRounds rounds: a slower-converging
    // graph must fail loudly here, not hash-mismatch mysteriously there
    require(rounds <= KcoreRounds,
      s"k-core needed $rounds > $KcoreRounds peel rounds; widen the SQL unroll")
    edges.select(col("u").as("id")).unionAll(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_degree"))
      .select(col("id").as("p_partkey"), col("core_degree"))
      .orderBy("p_partkey")
  }

  private val kcoreSql: String = {
    val rounds = (1 to KcoreRounds).map { i =>
      s"""d${i - 1} AS MATERIALIZED (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT u AS id FROM e${i - 1} UNION ALL SELECT v AS id FROM e${i - 1})
         |  GROUP BY 1),
         |e$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN d${i - 1} a ON a.id = e.u JOIN d${i - 1} b ON b.id = e.v
         |  WHERE a.d >= $KcoreK AND b.d >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
       |    greatest(a.l_partkey, b.l_partkey) AS v
       |  FROM lineitem a JOIN lineitem b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |$rounds
       |SELECT id AS p_partkey, count(*) AS core_degree FROM (
       |  SELECT u AS id FROM e$KcoreRounds
       |  UNION ALL SELECT v AS id FROM e$KcoreRounds)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fuzzy_join" -> ((s, dir) => fuzzyJoin(s, dir)),
    "fuzzy_join_qgram" -> ((s, dir) => fuzzyJoinQgram(s, dir)),
    "fuzzy_resolve" -> ((s, dir) => fuzzyResolve(s, dir)),
    "fuzzy_resolve_gated" -> ((s, dir) => fuzzyResolveGated(s, dir)),
    "pagerank" -> ((s, dir) => pagerank(s, dir)),
    "triangle_count" -> ((s, dir) => triangleCount(s, dir)),
    "kcore" -> ((s, dir) => kcore(s, dir)))

  val oracle: Map[String, String] = Map(
    "fuzzy_join" -> fuzzyJoinSql,
    "fuzzy_join_qgram" -> fuzzyJoinQgramSql,
    "fuzzy_resolve" -> fuzzyResolveSql,
    "fuzzy_resolve_gated" -> fuzzyResolveGatedSql,
    "pagerank" -> pagerankSql,
    "triangle_count" -> triangleCountSql,
    "kcore" -> kcoreSql)
}
