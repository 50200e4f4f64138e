package graft

import graft.graphs.Graphs
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-analytics gates (q154–q156): PageRank, triangle counting, and
  * frontier BFS over edge relations derived from the TPC-H-ish tables.
  *
  * The graphs are built from `lineitem`:
  *  - the SUPPLIER TRANSITION digraph — within each order, an edge from the
  *    supplier of line `i` to the supplier of line `i+1` (by
  *    `l_linenumber`); a stand-in for the navigation/link graphs a
  *    source-quality ranker scores;
  *  - the PART CO-ORDER graph — an undirected edge between two parts that
  *    appear in the same order; a stand-in for co-occurrence graphs.
  *
  * The DuckDB oracles replay the algorithms exactly — PageRank as five
  * unrolled iteration CTEs on the same 10^-7 rank grid, BFS as four
  * frontier CTEs, triangles as the same degree-oriented wedge join — so
  * the gates hash-compare full result sets, not summaries.
  */
object GraphGates {

  private val PrIters = 5
  private val PrScale = 7
  private[graft] val KhopQty = 48
  private[graft] val KhopSeeds = 5
  private val KhopMax = 3
  private val LpaRounds = 4
  // k chosen against the sf0.01 co-order degree profile (median ~115):
  // the 80-core peels 143 parts over SIX cascading rounds — a real
  // peel, where a small k keeps everything and k ≥ 95 cascades to empty
  private[graft] val CoreK = 80
  private val CoreRounds = 8

  /** Supplier transition edges (src, dst); `minQty` filters lines first so
    * the k-hop gate runs on a sparse graph with real hop diversity.
    *
    * `(l_orderkey, l_linenumber)` is NOT unique in the driver data, so the
    * window orders by `(l_linenumber, l_suppkey)`: rows tying on both keys
    * carry the SAME suppkey, which makes the per-order supplier SEQUENCE —
    * and therefore the edge set — deterministic and engine-independent
    * even though the row order among ties is not.
    */
  private[graft] def transitions(s: SparkSession, d: String, minQty: Option[Int]): DataFrame = {
    val li0 = Tables.lineitem(s, d)
    val li = minQty.fold(li0)(q => li0.where(col("l_quantity") >= q))
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("l_suppkey"))
    li.select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .where(col("dst").isNotNull && col("dst") =!= col("src"))
  }

  /** q154 — PageRank over the supplier transition digraph, 5 iterations,
    * d=0.85, ranks on the 10^-7 grid. One broadcast join + one aggregate
    * per iteration, the dangling mass observed on the round's checkpoint
    * job ([[Graphs.pageRank]]).
    */
  private def q154PageRank(s: SparkSession, d: String): DataFrame =
    Graphs.pageRank(
      Tables.supplier(s, d), col("s_suppkey"),
      transitions(s, d, None), col("src"), col("dst"),
      iters = PrIters, damping = 0.85, scale = PrScale)

  /** q155 — per-part triangle counts on the part co-order graph via the
    * degree-oriented wedge join ([[Graphs.triangleCounts]]): out-degrees
    * bounded ≤ O(√E) under the orientation, so hub parts cannot generate
    * quadratic wedges.
    */
  private def q155Triangles(s: SparkSession, d: String): DataFrame =
    Graphs.triangleCounts(coOrderPairs(s, d), col("pa"), col("pb"))

  /** Part co-order pairs, generated MAP-SIDE after one per-order
    * aggregate: `collect_set` the parts of each order (bounded by lines
    * per order), then emit the C(n,2) combinations with a fused
    * transform/slice HOF — one exchange, where a self-join on the order
    * key would pay three. Equivalent to
    * `lp JOIN lp ON same order AND pa < pb` (sorted set ⇒ pa < pb).
    */
  private[graft] def coOrderPairs(s: SparkSession, d: String): DataFrame = {
    // NOTE (round 17, two measured counter-examples — kept as-is):
    // (a) a pinned repartition(N, l_orderkey) ahead of the groupBy
    // regressed 8× in task time (lineitem arrives sorted by orderkey,
    // so the scan-side partial collect_set builds each order's complete
    // set map-side and ships one compact row; the pin shuffled raw rows
    // and moved the set-build past the exchange: 24.6 s vs 3.0 s task
    // time in the q155 canon build); (b) a gated round-robin pin AFTER
    // the aggregate widened the explode to 32 tasks but cost 5× task
    // time (14.7 s vs 3.0 s) — sort-before-repartition comparing the
    // set ARRAYS per row — for no wall win. The ~0.7 s 4-task explode
    // is this stage's honest local floor.
    val sets = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    sets
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), greatest(size(col("ps")) - i - 1, lit(0))),
          y => struct(x.as("pa"), y.as("pb"))))))
        .as("e"))
      .select(col("e.pa").as("pa"), col("e.pb").as("pb"))
  }

  /** q156 — minimum hop distance (≤ 3) from suppliers 0–5 over the SPARSE
    * transition graph (lines with `l_quantity ≥ 48` only). Frontier-only
    * expansion: each round joins just the newly-reached vertices
    * ([[Graphs.kHopMinDist]]).
    */
  private def q156KHop(s: SparkSession, d: String): DataFrame =
    Graphs.kHopMinDist(
      transitions(s, d, Some(KhopQty)), col("src"), col("dst"),
      Tables.supplier(s, d).where(col("s_suppkey") <= KhopSeeds), col("s_suppkey"),
      maxHops = KhopMax)

  /** q160 — TrustRank: personalized PageRank with teleport concentrated on
    * the "trusted" seed suppliers (suppkey ≡ 0 mod 10) over the same
    * transition digraph as q154 ([[Graphs.personalizedPageRank]]) — the
    * seed-propagated quality score a web-corpus ranker assigns from a
    * hand-audited whitelist.
    */
  private def q160TrustRank(s: SparkSession, d: String): DataFrame =
    Graphs.personalizedPageRank(
      Tables.supplier(s, d), col("s_suppkey"),
      transitions(s, d, None), col("src"), col("dst"),
      Tables.supplier(s, d).where(col("s_suppkey") % 10 === 0), col("s_suppkey"),
      iters = PrIters, damping = 0.85, scale = PrScale)

  /** q161 — per-edge structural similarity (common neighbors + Jaccard)
    * on the part co-order graph ([[Graphs.edgeJaccard]]) — the
    * sparsification signal: an edge whose endpoints share no context is
    * incidental co-occurrence, not structure.
    */
  private def q161EdgeJaccard(s: SparkSession, d: String): DataFrame =
    Graphs.edgeJaccard(coOrderPairs(s, d), col("pa"), col("pb"))

  /** q173 — synchronous label-propagation communities (4 rounds,
    * min-label tiebreak) over the UNDIRECTED view of the sparse supplier
    * transition graph ([[Graphs.labelPropagation]]): the deterministic
    * LPA whose per-round argmax is one struct-max aggregate, no window.
    */
  private def q173Communities(s: SparkSession, d: String): DataFrame =
    Graphs.labelPropagation(
      transitions(s, d, Some(KhopQty)), col("src"), col("dst"), rounds = LpaRounds)

  /** q174 — the k-core of the part co-order graph ([[Graphs.kCore]]),
    * k = 80 (a six-round cascading peel at sf0.01 — see [[CoreK]]),
    * capped at 8 rounds (the oracle unrolls the same cap; peeling is
    * monotone so the capped prefix is engine-exact at ANY sf).
    */
  private def q174KCore(s: SparkSession, d: String): DataFrame =
    Graphs.kCore(coOrderPairs(s, d), col("pa"), col("pb"), k = CoreK, maxRounds = CoreRounds)

  /** q179 — connected components of the sparse supplier transition graph
    * ([[Graphs.connectedComponents]]): min-member component labels, the
    * public graph face of the CC engine every dedup cluster gate already
    * exercises at corpus shape.
    */
  private def q179Components(s: SparkSession, d: String): DataFrame =
    Graphs.connectedComponents(transitions(s, d, Some(KhopQty)), col("src"), col("dst"))

  /** The NATION-ORDERED transition digraph for the SCC gate: transition
    * edges kept only when `nation(src) ≤ nation(dst)` — cycles survive
    * WITHIN a nation, cross-nation edges point one way, so the graph is
    * weakly connected (q179 would call it one component) but decomposes
    * into ~25 genuine SCCs plus tendrils: the structure that separates an
    * SCC engine from a CC engine.
    */
  private def nationOrderedTransitions(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    transitions(s, d, None)
      .join(broadcast(sup.select(col("s_suppkey").as("src"), col("s_nationkey").as("na"))),
        Seq("src"))
      .join(broadcast(sup.select(col("s_suppkey").as("dst"), col("s_nationkey").as("nb"))),
        Seq("dst"))
      .where(col("na") <= col("nb"))
      .select(col("src"), col("dst"))
  }

  /** q180 — strongly connected components of the nation-ordered supplier
    * transition digraph ([[Graphs.stronglyConnectedComponents]]):
    * trim + forward-coloring + color-local backward sweep to the EXACT
    * fixpoint (min-member labels are canonical, so the recursive-CTE
    * mutual-reachability oracle agrees with any converged engine).
    */
  private def q180Scc(s: SparkSession, d: String): DataFrame =
    Graphs.stronglyConnectedComponents(
      nationOrderedTransitions(s, d), col("src"), col("dst"))

  private[graft] val SsspHops = 4

  /** WEIGHTED transition edges: like [[transitions]] but each edge carries
    * the quantity of its DESTINATION line, parallel edges collapsed to
    * the CHEAPEST (min) — exact integer weights for the min-plus gate.
    * The window adds `l_quantity` to the tie order so the lead pair is
    * fully deterministic; tied (linenumber, suppkey) rows share a suppkey,
    * so the edge SET matches [[transitions]] and only the weight needs
    * the extra key.
    */
  private[graft] def weightedTransitions(s: SparkSession, d: String, minQty: Int): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_quantity") >= minQty)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"), col("l_quantity"))
    li.select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"),
        lead(col("l_quantity"), 1).over(w).as("nq"))
      .where(col("dst").isNotNull && col("dst") =!= col("src"))
      .groupBy(col("src"), col("dst")).agg(min(col("nq")).cast("long").as("w"))
  }

  /** q183 — hop-capped weighted shortest paths ([[Graphs.shortestPaths]]):
    * min total weight over ≤ 4 directed hops from suppliers 0–5 on the
    * sparse weighted transition graph — frontier Bellman–Ford, exact
    * integer min-plus. The oracle unrolls the same relaxation rounds.
    */
  private def q183Sssp(s: SparkSession, d: String): DataFrame =
    Graphs.shortestPaths(
      weightedTransitions(s, d, KhopQty), col("src"), col("dst"), col("w"),
      Tables.supplier(s, d).where(col("s_suppkey") <= KhopSeeds), col("s_suppkey"),
      maxHops = SsspHops)

  /** Transition edges weighted by MULTIPLICITY: how many times supplier
    * `src` hands off to `dst` across all orders — the natural link
    * strength for the weighted ranker (tie order deterministic as in
    * [[transitions]]; tied rows share a suppkey, so the pair multiset is
    * engine-independent).
    */
  private def countTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("l_suppkey"))
    Tables.lineitem(s, d)
      .select(col("l_suppkey").as("src"), lead(col("l_suppkey"), 1).over(w).as("dst"))
      .where(col("dst").isNotNull && col("dst") =!= col("src"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** q184 — WEIGHTED PageRank over the multiplicity-weighted supplier
    * transition digraph ([[Graphs.weightedPageRank]]): rank flows in
    * proportion to hand-off volume, same grid/iteration discipline as
    * q154 — the oracle unrolls the same five weighted rounds.
    */
  private def q184WeightedPagerank(s: SparkSession, d: String): DataFrame =
    Graphs.weightedPageRank(
      Tables.supplier(s, d), col("s_suppkey"),
      countTransitions(s, d), col("src"), col("dst"), col("w"),
      iters = PrIters, damping = 0.85, scale = PrScale)

  /** q188 — hop-capped harmonic closeness over the sparse transition
    * graph ([[Graphs.harmonicCloseness]], ≤ 3 hops): multi-source
    * frontier BFS, per-distance counts, ordered harmonic fold — the
    * centrality complement of the rank family (q154/q160/q184 measure
    * inflow importance, this measures OUTREACH efficiency).
    */
  private def q188Closeness(s: SparkSession, d: String): DataFrame =
    Graphs.harmonicCloseness(
      transitions(s, d, Some(KhopQty)), col("src"), col("dst"), maxHops = KhopMax)

  private val BwHops = 4
  // truss gate shape probed against all three SFs (DuckDB, round 13):
  // qty ≥ 46 + support ≥ 2 cascades 5/4/1 rounds to fixpoint with a
  // non-empty survivor set — 8 unrolled oracle rounds leave margin
  private[graft] val TrussQty = 46
  private[graft] val TrussK = 4
  private val TrussRounds = 8

  /** q198 — 4-truss membership on the undirected supplier transition
    * graph ([[Graphs.kTruss]]): iterative support peel through the
    * degree-oriented wedge machinery — the cohesion screen between
    * k-core and clique (a hub whose neighbors don't interlink survives
    * q174's degree peel and dies here). The oracle unrolls the peel
    * rounds and recomputes the fixpoint support.
    */
  private def q198KTruss(s: SparkSession, d: String): DataFrame =
    Graphs.kTruss(
      transitions(s, d, Some(TrussQty)), col("src"), col("dst"),
      k = TrussK, maxRounds = TrussRounds)

  /** q195 — hop-capped k-source Brandes betweenness over the sparse
    * transition digraph ([[Graphs.betweennessKSources]]): the q183 seed
    * set (suppkey ≤ 5) as sampled sources, 4 hops — forward σ counting
    * in exact LONG sums, backward dependency accumulation as ordered
    * grid-rounded folds. The oracle unrolls both sweeps level by level.
    */
  private def q195Betweenness(s: SparkSession, d: String): DataFrame =
    Graphs.betweennessKSources(
      transitions(s, d, Some(KhopQty)), col("src"), col("dst"),
      Tables.supplier(s, d).where(col("s_suppkey") <= KhopSeeds), col("s_suppkey"),
      maxHops = BwHops)

  /** NATION-level undirected transition edges, multiplicity-weighted: the
    * supplier hand-off multiset of [[transitions]] mapped to nation pairs
    * (≤ C(25,2) = 300 edges — complete at sf ≥ 0.01) — small enough that
    * the MSF oracle can afford a sequential Prim replay, real enough that
    * the engine runs the full distributed Borůvka machinery.
    */
  private[graft] def nationEdges(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    transitions(s, d, None)
      .join(broadcast(sup.select(col("s_suppkey").as("src"), col("s_nationkey").as("na"))),
        Seq("src"))
      .join(broadcast(sup.select(col("s_suppkey").as("dst"), col("s_nationkey").as("nb"))),
        Seq("dst"))
      .where(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("u"), greatest(col("na"), col("nb")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
  }

  /** q216 — minimum spanning forest of the weighted nation transition
    * graph ([[Graphs.minimumSpanningForest]], distributed Borůvka). The
    * strict (w, u, v) edge order makes the MSF unique, so the oracle's
    * sequential Prim (24 unrolled cut-min rounds; rounds after the tree
    * completes pick nothing) lands on the identical edge set.
    */
  private def q216Msf(s: SparkSession, d: String): DataFrame = {
    val e = graft.Materialize(nationEdges(s, d))
    val forest = Graphs.minimumSpanningForest(e, col("u"), col("v"), col("w"))
    // the oracle's single-seed Prim spans ONE component; the engine spans
    // them all — enforce the (probed) connectivity assumption loudly so a
    // future testdata regeneration false-fails with an explanation, not a
    // silent hash mismatch
    val nNodes = e.select(col("u")).unionAll(e.select(col("v"))).distinct().count()
    val nForest = forest.count()
    require(nForest == nNodes - 1,
      s"q216 oracle assumes a CONNECTED nation graph (single-seed Prim); engine forest " +
        s"has $nForest edges over $nNodes nodes — regenerate the oracle as a per-component " +
        "replay if the testdata changed")
    forest.select(col("u").as("nation_a"), col("v").as("nation_b"), col("w"))
  }

  /** q218 — single-linkage clusters of the weighted nation graph at the
    * type-1 MEDIAN edge weight ([[Graphs.singleLinkageClusters]]): the
    * engine cuts the Borůvka MSF; the oracle exploits the classic
    * equivalence and takes components of the original graph thresholded
    * directly — an algebraic-identity gate, not a replay. The threshold
    * itself comes from [[graft.curation.Quantiles.exactQuantiles]] over
    * the bounded edge-summary relation.
    */
  private def q218SingleLinkage(s: SparkSession, d: String): DataFrame = {
    // pay the lineitem-window edge derivation ONCE: the threshold
    // quantile and the clustering both consume it (construction is eager
    // on both — collect inside exactQuantiles, driver Kruskal/CC inside
    // singleLinkageClusters — so the gate's scope frees the block when
    // the gate returns)
    val e = graft.Materialize(nationEdges(s, d))
    val t = graft.curation.Quantiles.exactQuantiles(e, lit(0L), col("w"), Seq(0.5))
      .head().getDouble(2).toLong
    val out = Graphs.singleLinkageClusters(e, col("u"), col("v"), col("w"), t)
      .select(col("node").as("nationkey"), col("cluster"))
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q216_msf" -> (q216Msf _),
    "q218_single_linkage" -> (q218SingleLinkage _),
    "q195_betweenness" -> (q195Betweenness _),
    "q198_ktruss" -> (q198KTruss _),
    "q154_pagerank" -> (q154PageRank _),
    "q155_triangles" -> (q155Triangles _),
    "q156_khop" -> (q156KHop _),
    "q160_trustrank" -> (q160TrustRank _),
    "q161_edge_jaccard" -> (q161EdgeJaccard _),
    "q173_communities" -> (q173Communities _),
    "q174_kcore" -> (q174KCore _),
    "q179_components" -> (q179Components _),
    "q180_scc" -> (q180Scc _),
    "q183_sssp" -> (q183Sssp _),
    "q184_weighted_pagerank" -> (q184WeightedPagerank _),
    "q188_closeness" -> (q188Closeness _)
  )

  // --- oracles ----------------------------------------------------------

  /** The transition-edge CTEs shared by q154/q156. */
  private def duckTransitions(filter: String): String =
    s"""seq AS (SELECT l_orderkey, l_suppkey,
       |  lead(l_suppkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_suppkey) AS nxt
       |  FROM lineitem $filter),
       |e AS (SELECT DISTINCT l_suppkey::BIGINT AS src, nxt::BIGINT AS dst
       |  FROM seq WHERE nxt IS NOT NULL AND nxt != l_suppkey)""".stripMargin

  /** From-scratch GLOBAL triangle count on the canonical sparse
    * transition graph — the q231 streaming maintainer must land on it
    * exactly. Triples enumerated once each as x < y < z.
    */
  private def streamTrianglesSql: String =
    s"""WITH ${duckTransitions(s"WHERE l_quantity >= $KhopQty")},
       |c AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM e WHERE src != dst)
       |SELECT count(*)::BIGINT AS n_triangles
       |FROM c e1
       |JOIN c e2 ON e2.u = e1.u AND e2.v > e1.v
       |JOIN c e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin

  /** From-scratch triple count over the FINAL edge set of the q232 CDC
    * feed: all canonical edges minus the u%5==0 slice of the
    * first-batch ((u·31+v)%3 != 2) partition.
    */
  private def cdcTrianglesSql: String =
    s"""WITH ${duckTransitions(s"WHERE l_quantity >= $KhopQty")},
       |c0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM e WHERE src != dst),
       |c AS (SELECT u, v FROM c0
       |  WHERE NOT ((u * 31 + v) % 3 != 2 AND u % 5 = 0))
       |SELECT count(*)::BIGINT AS n_triangles
       |FROM c e1
       |JOIN c e2 ON e2.u = e1.u AND e2.v > e1.v
       |JOIN c e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin

  /** Five unrolled PageRank iterations on the same grid the engine uses:
    * per iteration a dangling-mass scalar, an inflow aggregate, and the
    * damped update rounded to 10^-7.
    */
  private def pagerankSql: String = {
    val prelude =
      s"""WITH nodes AS (SELECT s_suppkey::BIGINT AS node FROM supplier),
         |${duckTransitions("")},
         |od AS (SELECT src AS node, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |r0 AS (SELECT node, round(1.0/(SELECT n FROM nn), $PrScale) AS rank FROM nodes)""".stripMargin
    val iterations = (1 to PrIters).map { i =>
      val p = s"r${i - 1}"
      s"""d$i AS (SELECT coalesce(sum(r.rank), 0.0) AS dang FROM $p r
         |  LEFT JOIN od ON r.node = od.node WHERE od.node IS NULL),
         |inf$i AS (SELECT e.dst AS node, sum(r.rank/od.outdeg) AS inflow
         |  FROM e JOIN $p r ON e.src = r.node JOIN od ON od.node = e.src GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |  round((1.0-0.85)/(SELECT n FROM nn)
         |        + 0.85*(coalesce(i.inflow, 0.0) + (SELECT dang FROM d$i)/(SELECT n FROM nn)),
         |        $PrScale) AS rank
         |  FROM nodes n LEFT JOIN inf$i i ON n.node = i.node)""".stripMargin
    }
    prelude + ",\n" + iterations.mkString(",\n") + s"\nSELECT node, rank FROM r$PrIters"
  }

  /** Five unrolled personalized-PageRank iterations: teleport vector `t`
    * concentrated on the mod-10 seed suppliers, dangling mass returned
    * t-weighted, same 10^-7 grid as the engine.
    */
  private def trustrankSql: String = {
    val prelude =
      s"""WITH nodes AS (SELECT s_suppkey::BIGINT AS node FROM supplier),
         |${duckTransitions("")},
         |od AS (SELECT src AS node, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
         |ns AS (SELECT count(*)::DOUBLE AS n FROM nodes WHERE node % 10 = 0),
         |tt AS (SELECT node, CASE WHEN node % 10 = 0
         |  THEN 1.0/(SELECT n FROM ns) ELSE 0.0 END AS t FROM nodes),
         |r0 AS (SELECT node, round(t, $PrScale) AS rank FROM tt)""".stripMargin
    val iterations = (1 to PrIters).map { i =>
      val p = s"r${i - 1}"
      s"""d$i AS (SELECT coalesce(sum(r.rank), 0.0) AS dang FROM $p r
         |  LEFT JOIN od ON r.node = od.node WHERE od.node IS NULL),
         |inf$i AS (SELECT e.dst AS node, sum(r.rank/od.outdeg) AS inflow
         |  FROM e JOIN $p r ON e.src = r.node JOIN od ON od.node = e.src GROUP BY e.dst),
         |r$i AS (SELECT tt.node,
         |  round((1.0-0.85)*tt.t
         |        + 0.85*(coalesce(i.inflow, 0.0) + tt.t*(SELECT dang FROM d$i)),
         |        $PrScale) AS rank
         |  FROM tt LEFT JOIN inf$i i ON tt.node = i.node)""".stripMargin
    }
    prelude + ",\n" + iterations.mkString(",\n") + s"\nSELECT node, rank FROM r$PrIters"
  }

  /** The degree-oriented CTE chain shared by the triangle/edge-similarity
    * oracles, through the once-per-triangle `tri` relation.
    */
  private val triangleCtes: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |canon AS (SELECT DISTINCT a.l_partkey::BIGINT AS lo, b.l_partkey::BIGINT AS hi
      |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT node, count(*)::BIGINT AS deg
      |  FROM (SELECT lo AS node FROM canon UNION ALL SELECT hi FROM canon) GROUP BY node),
      |o AS (SELECT CASE WHEN (dl.deg, lo) < (dh.deg, hi) THEN lo ELSE hi END AS u,
      |             CASE WHEN (dl.deg, lo) < (dh.deg, hi) THEN hi ELSE lo END AS v,
      |             CASE WHEN (dl.deg, lo) < (dh.deg, hi) THEN dh.deg ELSE dl.deg END AS dv
      |  FROM canon JOIN deg dl ON dl.node = lo JOIN deg dh ON dh.node = hi),
      |tri AS (SELECT e1.u, e1.v AS v1, e2.v AS v2 FROM o e1 JOIN o e2 ON e1.u = e2.u
      |  AND ((e1.dv, e1.v) < (e2.dv, e2.v))
      |  WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = e1.v AND c.v = e2.v))""".stripMargin

  /** Per-node counts: every triangle counted at all three corners. */
  private def trianglesSql: String =
    triangleCtes + "\n" +
      """SELECT node, count(*)::BIGINT AS triangles
        |FROM (SELECT unnest([u, v1, v2]) AS node FROM tri) GROUP BY node""".stripMargin

  /** Per-edge common-neighbor count + neighborhood Jaccard, zero-common
    * edges included with jaccard 0 (and the degenerate 0/0 edge as 0).
    */
  private def edgeJaccardSql: String =
    triangleCtes + ",\n" +
      """tri3 AS (
        |  SELECT least(u, v1) AS lo, greatest(u, v1) AS hi FROM tri
        |  UNION ALL SELECT least(u, v2), greatest(u, v2) FROM tri
        |  UNION ALL SELECT least(v1, v2), greatest(v1, v2) FROM tri),
        |pe AS (SELECT lo, hi, count(*)::BIGINT AS common FROM tri3 GROUP BY lo, hi)
        |SELECT c.lo, c.hi, coalesce(pe.common, 0)::BIGINT AS common,
        |  CASE WHEN (dl.deg - 1) + (dh.deg - 1) - coalesce(pe.common, 0) > 0
        |    THEN round(coalesce(pe.common, 0)
        |               / ((dl.deg - 1) + (dh.deg - 1) - coalesce(pe.common, 0)), 4)
        |    ELSE 0.0 END AS jaccard
        |FROM canon c
        |LEFT JOIN pe ON pe.lo = c.lo AND pe.hi = c.hi
        |JOIN deg dl ON dl.node = c.lo
        |JOIN deg dh ON dh.node = c.hi""".stripMargin

  /** Four frontier CTEs with min-hop semantics (a node joins at its first
    * reachable hop only).
    */
  private def khopSql: String =
    s"""WITH ${duckTransitions(s"WHERE l_quantity >= $KhopQty")},
       |h0 AS (SELECT s_suppkey::BIGINT AS node FROM supplier WHERE s_suppkey <= $KhopSeeds),
       |h1 AS (SELECT DISTINCT dst AS node FROM e JOIN h0 ON e.src = h0.node
       |  WHERE dst NOT IN (SELECT node FROM h0)),
       |h2 AS (SELECT DISTINCT dst AS node FROM e JOIN h1 ON e.src = h1.node
       |  WHERE dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1)),
       |h3 AS (SELECT DISTINCT dst AS node FROM e JOIN h2 ON e.src = h2.node
       |  WHERE dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1
       |                    UNION ALL SELECT node FROM h2))
       |SELECT node, 0::INT AS hops FROM h0
       |UNION ALL SELECT node, 1::INT FROM h1
       |UNION ALL SELECT node, 2::INT FROM h2
       |UNION ALL SELECT node, 3::INT FROM h3""".stripMargin

  /** `LpaRounds` unrolled synchronous LPA rounds: per round a neighbor
    * label count and the (count desc, label asc) argmax, exactly the
    * engine's update rule.
    */
  private def communitiesSql: String = {
    // MATERIALIZED throughout — DuckDB inlines plain CTEs, and a chained
    // round structure re-evaluates the whole prefix per reference (see
    // kcoreSql, where the inlined form exhausted file handles)
    val prelude =
      s"""WITH ${duckTransitions(s"WHERE l_quantity >= $KhopQty")},
         |canon AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi FROM e),
         |adj AS MATERIALIZED (SELECT lo AS node, hi AS nbr FROM canon UNION ALL SELECT hi, lo FROM canon),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM adj),
         |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""".stripMargin
    val rounds = (1 to LpaRounds).map { i =>
      val p = s"l${i - 1}"
      s"""c$i AS MATERIALIZED (SELECT a.node, l.label, count(*)::BIGINT AS cnt
         |  FROM adj a JOIN $p l ON a.nbr = l.node GROUP BY 1, 2),
         |w$i AS MATERIALIZED (SELECT node, label FROM (SELECT node, label,
         |    row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
         |  FROM c$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT n.node, coalesce(w.label, n.node) AS label
         |  FROM nodes n LEFT JOIN w$i w ON n.node = w.node)""".stripMargin
    }
    prelude + ",\n" + rounds.mkString(",\n") +
      s"\nSELECT node, label FROM l$LpaRounds"
  }

  /** `CoreRounds` unrolled peeling rounds on the part co-order graph:
    * each round keeps edges whose BOTH endpoints currently have degree
    * ≥ `CoreK`; the final degree readout is over the surviving edges.
    */
  /** Every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs, and an
    * 8-round chain of inlined self-references re-evaluates (and re-opens)
    * the lineitem scan exponentially — the un-materialized form dies with
    * "Too many open files" before it dies of the blow-up.
    */
  private def kcoreSql: String = {
    val prelude =
      """WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey::BIGINT AS lo, b.l_partkey::BIGINT AS hi
        |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin
    val rounds = (1 to CoreRounds).map { i =>
      val p = s"e${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT node, count(*)::BIGINT AS deg
         |  FROM (SELECT lo AS node FROM $p UNION ALL SELECT hi FROM $p) GROUP BY node),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $CoreK),
         |e$i AS MATERIALIZED (SELECT e.lo, e.hi FROM $p e
         |  JOIN k$i ka ON e.lo = ka.node JOIN k$i kb ON e.hi = kb.node)""".stripMargin
    }
    prelude + ",\n" + rounds.mkString(",\n") +
      s"""\nSELECT node, count(*)::BIGINT AS deg
         |FROM (SELECT lo AS node FROM e$CoreRounds UNION ALL SELECT hi FROM e$CoreRounds)
         |GROUP BY node""".stripMargin
  }

  /** Transitive closure by recursive CTE over the undirected edge set,
    * component = min reachable node — the q36 oracle convention on the
    * transition graph.
    */
  private def componentsSql: String =
    s"""WITH RECURSIVE ${duckTransitions(s"WHERE l_quantity >= $KhopQty")},
       |ed AS (SELECT src AS s, dst AS t FROM e UNION SELECT dst, src FROM e),
       |nodes AS (SELECT DISTINCT s AS node FROM ed),
       |reach(a, b) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT r.a, ed.t FROM reach r JOIN ed ON r.b = ed.s)
       |SELECT a AS node, min(b) AS component FROM reach GROUP BY a""".stripMargin

  /** SCC by definition: transitive closure (recursive CTE) over the
    * nation-ordered digraph, SCC(v) = min of the mutually-reachable set —
    * the canonical label the engine's decomposition must converge to.
    */
  private def sccSql: String =
    s"""WITH RECURSIVE ${duckTransitions("")},
       |sup AS (SELECT s_suppkey::BIGINT AS k, s_nationkey::BIGINT AS n FROM supplier),
       |eo AS (SELECT e.src, e.dst FROM e
       |  JOIN sup sa ON sa.k = e.src JOIN sup sb ON sb.k = e.dst
       |  WHERE sa.n <= sb.n),
       |nodes AS (SELECT src AS node FROM eo UNION SELECT dst FROM eo),
       |reach(a, b) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT r.a, eo.dst FROM reach r JOIN eo ON r.b = eo.src)
       |SELECT r1.a AS node, min(r1.b)::BIGINT AS scc
       |FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
       |GROUP BY r1.a""".stripMargin

  /** `SsspHops` unrolled Bellman–Ford relaxation rounds over the weighted
    * sparse transition graph: d_i(n) = min cost over paths of ≤ i edges
    * (exact BIGINT min-plus), seeds at 0.
    */
  private def ssspSql: String = {
    val prelude =
      s"""WITH seq AS (SELECT l_orderkey, l_suppkey, l_quantity,
         |  lead(l_suppkey) OVER w AS nxt, lead(l_quantity) OVER w AS nq
         |  FROM lineitem WHERE l_quantity >= $KhopQty
         |  WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_suppkey, l_quantity)),
         |e AS MATERIALIZED (SELECT l_suppkey::BIGINT AS src, nxt::BIGINT AS dst,
         |  min(nq)::BIGINT AS w
         |  FROM seq WHERE nxt IS NOT NULL AND nxt != l_suppkey GROUP BY 1, 2),
         |d0 AS (SELECT s_suppkey::BIGINT AS node, 0::BIGINT AS dist
         |  FROM supplier WHERE s_suppkey <= $KhopSeeds)""".stripMargin
    val rounds = (1 to SsspHops).map { i =>
      val p = s"d${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT node, min(dist)::BIGINT AS dist FROM (
         |  SELECT node, dist FROM $p
         |  UNION ALL
         |  SELECT e.dst, p.dist + e.w FROM $p p JOIN e ON e.src = p.node)
         |  GROUP BY node)""".stripMargin
    }
    prelude + ",\n" + rounds.mkString(",\n") +
      s"\nSELECT node, dist FROM d$SsspHops"
  }

  /** Five unrolled WEIGHTED PageRank iterations: per-edge share fraction
    * `w/outw` staged once (the engine's edge prep, verbatim), inflow =
    * Σ rank·fr, dangling = nodes with no positive out-edge.
    */
  private def weightedPagerankSql: String = {
    val prelude =
      s"""WITH nodes AS (SELECT s_suppkey::BIGINT AS node FROM supplier),
         |seq AS (SELECT l_orderkey, l_suppkey,
         |  lead(l_suppkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_suppkey) AS nxt
         |  FROM lineitem),
         |e AS (SELECT l_suppkey::BIGINT AS src, nxt::BIGINT AS dst, count(*)::DOUBLE AS w
         |  FROM seq WHERE nxt IS NOT NULL AND nxt != l_suppkey GROUP BY 1, 2),
         |ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY src),
         |ef AS (SELECT e.src, e.dst, e.w / ow.outw AS fr FROM e JOIN ow ON ow.src = e.src),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |r0 AS (SELECT node, round(1.0/(SELECT n FROM nn), $PrScale) AS rank FROM nodes)""".stripMargin
    val iterations = (1 to PrIters).map { i =>
      val p = s"r${i - 1}"
      s"""d$i AS (SELECT coalesce(sum(r.rank), 0.0) AS dang FROM $p r
         |  LEFT JOIN ow ON r.node = ow.src WHERE ow.src IS NULL),
         |inf$i AS (SELECT ef.dst AS node, sum(r.rank * ef.fr) AS inflow
         |  FROM ef JOIN $p r ON ef.src = r.node GROUP BY ef.dst),
         |r$i AS (SELECT n.node,
         |  round((1.0-0.85)/(SELECT n FROM nn)
         |        + 0.85*(coalesce(i.inflow, 0.0) + (SELECT dang FROM d$i)/(SELECT n FROM nn)),
         |        $PrScale) AS rank
         |  FROM nodes n LEFT JOIN inf$i i ON n.node = i.node)""".stripMargin
    }
    prelude + ",\n" + iterations.mkString(",\n") + s"\nSELECT node, rank FROM r$PrIters"
  }

  /** All-roots min-hop distances ≤ `KhopMax` by unrolled (root, node)
    * rounds, per-distance counts, and the same ascending-distance ordered
    * harmonic fold the engine uses (`list_sum(list(cnt/dist ORDER BY
    * dist))` — fp addition order is part of the contract).
    */
  private def closenessSql: String = {
    val rounds = (1 to KhopMax).map { i =>
      val p = s"r${i - 1}"
      s"""r$i AS MATERIALIZED (SELECT root, node, min(dist)::INT AS dist FROM (
         |  SELECT root, node, dist FROM $p
         |  UNION ALL
         |  SELECT p.root, e.dst AS node, $i AS dist
         |  FROM $p p JOIN e ON e.src = p.node WHERE p.dist = ${i - 1})
         |  GROUP BY root, node)""".stripMargin
    }
    s"""WITH ${duckTransitions(s"WHERE l_quantity >= $KhopQty")},
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node AS root, node, 0::INT AS dist FROM nodes),
       |${rounds.mkString(",\n")},
       |cd AS (SELECT root, dist, count(*)::BIGINT AS cnt FROM r$KhopMax
       |  WHERE dist > 0 GROUP BY root, dist),
       |hc AS (SELECT root, sum(cnt)::BIGINT AS n_reached,
       |    round(list_sum(list(cnt / dist ORDER BY dist)), 6) AS harmonic
       |  FROM cd GROUP BY root)
       |SELECT n.node, coalesce(hc.n_reached, 0)::BIGINT AS n_reached,
       |  coalesce(hc.harmonic, 0.0) AS harmonic
       |FROM nodes n LEFT JOIN hc ON hc.root = n.node""".stripMargin
  }

  /** Both Brandes sweeps unrolled: forward σ rounds (exact BIGINT path
    * counts, NOT-EXISTS against the accumulated reach), backward δ
    * rounds as the same ordered successor fold the engine evaluates
    * (`list_sum(list(x ORDER BY w.node))`, grid-rounded per level), and
    * the final per-node fold over roots.
    */
  private def betweennessSql: String = {
    val forward = (1 to BwHops).map { i =>
      s"""l$i AS MATERIALIZED (SELECT p.root, e.dst AS node, sum(p.sigma)::BIGINT AS sigma
         |  FROM l${i - 1} p JOIN e ON e.src = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM reach${i - 1} r
         |    WHERE r.root = p.root AND r.node = e.dst)
         |  GROUP BY p.root, e.dst),
         |reach$i AS (SELECT root, node FROM reach${i - 1}
         |  UNION ALL SELECT root, node FROM l$i)""".stripMargin
    }
    val backward = (BwHops - 1 to 1 by -1).map { hh =>
      s"""t$hh AS (SELECT v.root, v.node,
         |    floor(list_sum(list((v.sigma::DOUBLE / w.sigma::DOUBLE) * (1 + w.delta)
         |      ORDER BY w.node)) * 1000000.0 + 0.5) / 1000000.0 AS delta
         |  FROM l$hh v JOIN e ON e.src = v.node
         |  JOIN d${hh + 1} w ON w.root = v.root AND w.node = e.dst
         |  GROUP BY v.root, v.node),
         |d$hh AS (SELECT v.root, v.node, v.sigma, coalesce(t.delta, 0.0) AS delta
         |  FROM l$hh v LEFT JOIN t$hh t ON t.root = v.root AND t.node = v.node)""".stripMargin
    }
    val unionD = (1 until BwHops).map(i => s"SELECT root, node, delta FROM d$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${duckTransitions(s"WHERE l_quantity >= $KhopQty")},
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |l0 AS (SELECT s_suppkey::BIGINT AS root, s_suppkey::BIGINT AS node, 1::BIGINT AS sigma
       |  FROM supplier s WHERE s_suppkey <= $KhopSeeds
       |    AND EXISTS (SELECT 1 FROM nodes n WHERE n.node = s.s_suppkey)),
       |reach0 AS (SELECT root, node FROM l0),
       |${forward.mkString(",\n")},
       |d$BwHops AS (SELECT root, node, sigma, 0.0 AS delta FROM l$BwHops),
       |${backward.mkString(",\n")},
       |alldelta AS ($unionD),
       |bw AS (SELECT node,
       |    floor(list_sum(list(delta ORDER BY root)) * 1000000.0 + 0.5) / 1000000.0
       |      AS betweenness
       |  FROM alldelta GROUP BY node)
       |SELECT n.node, coalesce(bw.betweenness, 0.0) AS betweenness
       |FROM nodes n LEFT JOIN bw ON bw.node = n.node""".stripMargin
  }

  /** The peel unrolled: per round a triangle enumeration on the current
    * canonical edge set (a < b < c via two ordered joins), per-edge
    * support over the three corner pairs, and the `support ≥ k−2`
    * filter; extra rounds past the fixpoint are no-ops, and the final
    * support readout recomputes on the surviving set exactly like the
    * engine.
    */
  private def ktrussSql: String = {
    val triOf = (src: String, tag: String) =>
      s"""tr$tag AS MATERIALIZED (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
         |  FROM $src e1 JOIN $src e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
         |  JOIN $src e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
         |sup$tag AS (SELECT lo, hi, count(*)::BIGINT AS c FROM (
         |  SELECT a AS lo, b AS hi FROM tr$tag
         |  UNION ALL SELECT a, c FROM tr$tag
         |  UNION ALL SELECT b, c FROM tr$tag) GROUP BY lo, hi)""".stripMargin
    val rounds = (1 to TrussRounds).map { i =>
      s"""${triOf(s"t${i - 1}", s"$i")},
         |t$i AS MATERIALIZED (SELECT t.lo, t.hi FROM t${i - 1} t
         |  JOIN sup$i s ON s.lo = t.lo AND s.hi = t.hi
         |  WHERE s.c >= ${TrussK - 2})""".stripMargin
    }
    s"""WITH ${duckTransitions(s"WHERE l_quantity >= $TrussQty")},
       |t0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS lo,
       |  greatest(src, dst) AS hi FROM e),
       |${rounds.mkString(",\n")},
       |${triOf(s"t$TrussRounds", "F")}
       |SELECT t.lo, t.hi, s.c AS support
       |FROM t$TrussRounds t JOIN supF s ON s.lo = t.lo AND s.hi = t.hi""".stripMargin
  }

  /** Sequential Prim replay for q216: 24 unrolled rounds, each picking the
    * minimum (w, u, v) edge crossing the current tree cut; the XOR
    * membership test keeps exactly the crossing edges.
    */
  /** The weighted nation-graph CTEs shared by the q216/q218 oracles. */
  private def nationEdgeCtes: String =
    """t AS (SELECT l_orderkey, l_suppkey,
      |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, l_suppkey) AS nxt
      |  FROM lineitem),
      |pr AS (SELECT l_suppkey AS src, nxt AS dst FROM t
      |  WHERE nxt IS NOT NULL AND nxt != l_suppkey),
      |e0 AS (SELECT s1.s_nationkey AS na, s2.s_nationkey AS nb FROM pr
      |  JOIN supplier s1 ON s1.s_suppkey = pr.src
      |  JOIN supplier s2 ON s2.s_suppkey = pr.dst
      |  WHERE s1.s_nationkey != s2.s_nationkey),
      |e AS MATERIALIZED (SELECT least(na, nb) AS u, greatest(na, nb) AS v,
      |    count(*)::BIGINT AS w FROM e0 GROUP BY 1, 2)""".stripMargin

  private def msfSql: String = {
    val prelude =
      s"""WITH $nationEdgeCtes,
         |t0 AS MATERIALIZED (SELECT min(u) AS x FROM e),
         |f0 AS (SELECT u, v, w FROM e WHERE false)""".stripMargin
    // every round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and a
    // 24-round chain whose p_i references t_{i-1} twice would otherwise
    // expand exponentially (observed as "too many open files" from
    // thousands of inlined parquet scans)
    val rounds = (1 to 24).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (SELECT u, v, w FROM e
         |  WHERE (u IN (SELECT x FROM t$p)) <> (v IN (SELECT x FROM t$p))
         |  ORDER BY w, u, v LIMIT 1),
         |t$i AS MATERIALIZED (SELECT x FROM t$p UNION SELECT u FROM p$i UNION SELECT v FROM p$i),
         |f$i AS MATERIALIZED (SELECT * FROM f$p UNION ALL SELECT * FROM p$i)""".stripMargin
    }
    prelude + ",\n" + rounds.mkString(",\n") +
      "\nSELECT u AS nation_a, v AS nation_b, w FROM f24"
  }

  /** Single-linkage oracle via the threshold-graph equivalence: type-1
    * median weight (the q103 rank walk), then min-reachable components of
    * the DIRECTLY thresholded graph (the q179 convention) — an
    * independent derivation, not an MSF replay.
    */
  private def singleLinkageSql: String =
    s"""WITH RECURSIVE $nationEdgeCtes,
       |nn AS (SELECT count(*) AS n FROM e),
       |rk AS (SELECT least(n, greatest(1, ceil(0.5 * n)::BIGINT)) AS rk FROM nn),
       |ow AS (SELECT w, row_number() OVER (ORDER BY w) AS rn FROM e),
       |thr AS (SELECT w AS t FROM ow JOIN rk ON ow.rn = rk.rk),
       |kept AS (SELECT u, v FROM e WHERE w <= (SELECT t FROM thr)),
       |ed AS (SELECT u AS s, v AS d2 FROM kept UNION SELECT v, u FROM kept),
       |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
       |reach(a, b) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT r.a, ed.d2 FROM reach r JOIN ed ON r.b = ed.s)
       |SELECT a AS nationkey, min(b) AS cluster FROM reach GROUP BY a""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q216_msf" -> msfSql,
    "q231_triangles_stream" -> streamTrianglesSql,
    "q232_triangles_cdc_stream" -> cdcTrianglesSql,
    "q218_single_linkage" -> singleLinkageSql,
    "q195_betweenness" -> betweennessSql,
    "q198_ktruss" -> ktrussSql,
    "q154_pagerank" -> pagerankSql,
    "q155_triangles" -> trianglesSql,
    "q156_khop" -> khopSql,
    "q160_trustrank" -> trustrankSql,
    "q161_edge_jaccard" -> edgeJaccardSql,
    "q173_communities" -> communitiesSql,
    "q174_kcore" -> kcoreSql,
    "q179_components" -> componentsSql,
    "q180_scc" -> sccSql,
    "q183_sssp" -> ssspSql,
    "q184_weighted_pagerank" -> weightedPagerankSql,
    "q188_closeness" -> closenessSql
  )
}
