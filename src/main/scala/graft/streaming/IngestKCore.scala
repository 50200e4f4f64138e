package graft.streaming

import graft.Materialize
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Shared machinery for the fixed-k core maintainers ([[IngestKCore]],
  * insert-only; [[IngestKCoreCdc]], inserts + deletes). The view is
  * q174's readout: (node, deg) for every member of the k-core, deg =
  * degree INSIDE the core.
  *
  * Monotonicity splits the problem: inserts can only GROW the core,
  * deletes can only SHRINK it. Each direction is an affected-region
  * cascade:
  *
  *  - '''Promotion''' ([[promoted]]): any maximal newly-feasible set Y
  *    decomposes into components connected through Y-internal edges,
  *    each containing an inserted edge's endpoint (a component with no
  *    Δ-incident member was feasible before the batch, contradicting
  *    the old core's maximality), and every member is non-core with
  *    post-batch full degree ≥ k. So the candidate region X expands
  *    from the batch's non-core endpoints through such nodes, and the
  *    exact promoted set is the PEEL of X with FROZEN CORE CREDIT:
  *    credit(x) = |neighbors in the core| (constant — computed once) +
  *    |surviving neighbors in X| (per round); peel below k to the
  *    fixpoint.
  *  - '''Demotion''' ([[demoted]]): a core node's in-core degree only
  *    changes when an incident edge is deleted or a neighbor is
  *    removed, so the cascade starts at the deleted edges' core
  *    endpoints and each round re-evaluates only the core neighbors of
  *    the newly-removed — the classic decremental cascade, frontier-
  *    bounded.
  *
  * Both directions touch the edge store through column-pruned scans +
  * broadcast semi-joins (the store never shuffles on a batch's
  * account); round counts are bounded by the affected region's
  * diameter/peel depth.
  */
object IngestKCore {
  /** Directed adjacency rows (x, w) of `post` restricted to x ∈ nodes
    * — two broadcast semi-joins, one store scan each.
    */
  private[graft] def adjOf(post: DataFrame, nodes: DataFrame): DataFrame = {
    val n = broadcast(nodes)
    post.join(n.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
      .select(col("u").as("x"), col("v").as("w"))
      .unionByName(post.join(n.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select(col("v").as("x"), col("u").as("w")))
  }

  /** `nodes` minus its intersection with `from` — both joins build on
    * the SMALL side (the candidate set), never on the big relation.
    */
  private[streaming] def minusBig(nodes: DataFrame, from: DataFrame): DataFrame =
    nodes.join(broadcast(from.join(broadcast(nodes), Seq("node"), "left_semi")),
      Seq("node"), "left_anti")

  /** `big` restricted to its intersection with the SMALL `probe` set —
    * builds on the probe.
    */
  private[streaming] def interBig(big: DataFrame, probe: DataFrame): DataFrame =
    big.join(broadcast(probe), Seq("node"), "left_semi")

  /** The exact promoted set: candidate expansion from `seedEndpoints`
    * (the inserted edges' endpoints) through non-core post-degree-≥-k
    * nodes, then the frozen-core-credit peel. `core` is the CURRENT
    * core's node set (single column `node`).
    */
  private[streaming] def promoted(
      post: DataFrame,
      core: DataFrame,
      seedEndpoints: DataFrame,
      k: Int,
      maxRounds: Int): DataFrame = {
    def degEnough(nodes: DataFrame): DataFrame =
      adjOf(post, nodes).groupBy(col("x")).agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select(col("x").as("node"))

    var x = Materialize(degEnough(minusBig(seedEndpoints, core)))
    var frontier = x
    var round = 0
    while (Materialize.rows(frontier) > 0) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"IngestKCore: candidate expansion exceeded $maxRounds rounds — the batch's " +
          s"affected region keeps growing; raise maxRounds or recompute from scratch")
      val nbrs = adjOf(post, frontier).select(col("w").as("node")).distinct()
        .join(broadcast(x), Seq("node"), "left_anti")
      val (prevFrontier, prevX) = (frontier, x)
      frontier = Materialize(degEnough(minusBig(nbrs, core)))
      x = Materialize(x.unionByName(frontier))
      Materialize.release(prevFrontier)
      Materialize.release(prevX)
    }
    if (Materialize.rows(x) == 0) x
    else {
      val adjX = Materialize(adjOf(post, x))
      val adjW = adjX.select(col("w").as("node")).distinct()
      val sCredit = Materialize(adjX
        .join(broadcast(interBig(core, adjW).withColumnRenamed("node", "w")),
          Seq("w"), "left_semi")
        .groupBy(col("x")).agg(count(lit(1)).as("sc")))
      var live = x
      var liveCount = Materialize.rows(live)
      var stable = false
      while (!stable) {
        val xCredit = adjX
          .join(broadcast(live.withColumnRenamed("node", "w")), Seq("w"), "left_semi")
          .groupBy(col("x")).agg(count(lit(1)).as("xc"))
        val credit = live.withColumnRenamed("node", "x")
          .join(sCredit, Seq("x"), "left").join(xCredit, Seq("x"), "left")
          .select(col("x").as("node"),
            (coalesce(col("sc"), lit(0L)) + coalesce(col("xc"), lit(0L))).as("c"))
        val next = Materialize(credit.where(col("c") >= k).select(col("node")))
        val nextCount = Materialize.rows(next)
        stable = nextCount == liveCount
        liveCount = nextCount
        Materialize.release(live)
        live = next
      }
      live
    }
  }

  /** The exact demoted set under deletions: frontier cascade from the
    * deleted edges' CORE endpoints; each round drops frontier nodes
    * whose in-core degree (w.r.t. core minus removed-so-far, over the
    * post-delete edges) fell below k, and re-evaluates only the core
    * neighbors of the newly-dropped.
    */
  private[streaming] def demoted(
      post: DataFrame,
      core: DataFrame,
      delEndpoints: DataFrame,
      k: Int): DataFrame = {
    var removed = Materialize(delEndpoints.where(lit(false)))
    var frontier = Materialize(interBig(core, delEndpoints))
    while (Materialize.rows(frontier) > 0) {
      val adjF = adjOf(post, frontier)
      val adjW = adjF.select(col("w").as("node")).distinct()
      val memberW = interBig(core, adjW)
        .join(broadcast(removed), Seq("node"), "left_anti")
      val degs = adjF
        .join(broadcast(memberW.withColumnRenamed("node", "w")), Seq("w"), "left_semi")
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val drop = Materialize(frontier.withColumnRenamed("node", "x")
        .join(degs, Seq("x"), "left")
        .where(coalesce(col("d"), lit(0L)) < k)
        .select(col("x").as("node")))
      val (prevFrontier, prevRemoved) = (frontier, removed)
      if (Materialize.rows(drop) == 0) frontier = Materialize(drop)
      else {
        removed = Materialize(removed.unionByName(drop))
        frontier = Materialize(
          interBig(core, adjOf(post, drop).select(col("w").as("node")).distinct())
          .join(broadcast(removed), Seq("node"), "left_anti"))
        Materialize.release(prevRemoved)
      }
      Materialize.release(prevFrontier)
      Materialize.release(drop)
    }
    removed
  }

  /** In-core degrees for the `touched` nodes over `post`, membership =
    * `member` (the FINAL core's node set, probed only on the touched
    * adjacency's bounded neighbor set).
    */
  private[streaming] def touchedDegs(
      post: DataFrame,
      member: DataFrame,
      touched: DataFrame): DataFrame = {
    val adjT = adjOf(post, touched)
    val memberW = interBig(member, adjT.select(col("w").as("node")).distinct())
    adjT.join(broadcast(memberW.withColumnRenamed("node", "w")), Seq("w"), "left_semi")
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .select(col("x").as("node"), col("deg"))
  }
}

/** Cross-batch streaming maintenance of FIXED-k CORE membership under a
  * stream of edge INSERTS — the incremental face of
  * [[graft.graphs.Graphs.kCore]], run as a `foreachBatch` body over
  * batches of undirected edges (`u`, `v`). See [[IngestKCore$]] for the
  * promotion machinery and its exactness argument.
  *
  * Exactly-once WITHOUT a replay guard: membership and in-core degree
  * are pure functions of the edge-set union (idempotent), computed from
  * the logical post-state (store ∪ new edges) BEFORE the store append —
  * a crash between view and append replays with the same net edges and
  * re-derives the identical view. Edge DELETES: use [[IngestKCoreCdc]].
  *
  * Bootstrap: the edge table (u, v) canonical u < v (unbucketed — the
  * store is append-only, the [[IngestTriangles]] shape), and the core
  * table (node, deg, bkt = pmod(hash(node), buckets)) — empty (the
  * first batch then degenerates to a from-scratch peel, as it must) or
  * an existing consistent pair.
  *
  * Reference semantics: the fixed-k membership + in-core degree readout
  * matches `Graphs.kCore`'s converged fixpoint (q174's oracle).
  */
final class IngestKCore(
    edgeTable: String,
    coreTable: String,
    k: Int,
    buckets: Int,
    maxRounds: Int = 100
) extends ((DataFrame, Long) => Unit) with Serializable {
  require(k >= 1, s"k must be >= 1, got $k")

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(coreTable),
      s"IngestKCore: '$edgeTable' and '$coreTable' must be initialized first")
    val canon = Materialize.persist(batch
      .select(least(col("u"), col("v")).cast("long").as("u"),
        greatest(col("u"), col("v")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct())
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("u"), col("v"))
    val newEdges = Materialize.persist(canon.join(old, Seq("u", "v"), "left_anti"))
    if (newEdges.isEmpty) return

    spark.sql(s"REFRESH TABLE $coreTable")
    val prev = spark.table(coreTable)
    val core = prev.select(col("node"))
    val post = old.unionByName(newEdges)
    val endpoints = newEdges.select(col("u").as("node"))
      .unionByName(newEdges.select(col("v").as("node"))).distinct()

    val promoted = IngestKCore.promoted(post, core, endpoints, k, maxRounds)

    val member = core.unionByName(promoted)
    val inCoreEndpoints = IngestKCore.interBig(member, endpoints)
    val coreNbrsOfPromoted =
      if (Materialize.rows(promoted) == 0) promoted
      else {
        val adjP = Materialize(IngestKCore.adjOf(post, promoted)
          .select(col("w").as("node")).distinct())
        IngestKCore.interBig(core, adjP)
      }
    val touched = Materialize(promoted.unionByName(inCoreEndpoints)
      .unionByName(coreNbrsOfPromoted).distinct())
    if (Materialize.rows(touched) > 0) {
      val degs = IngestKCore.touchedDegs(post, member, touched)
      IvmMaintenance.rebuildTouchedBuckets(
        spark, coreTable, prev, degs, touched,
        Seq("node"), "node", buckets)
    }

    // idempotent append AFTER the view update (view-first discipline)
    val full = spark.table(edgeTable)
    newEdges.select(full.columns.map(col).toIndexedSeq: _*)
      .write.mode(SaveMode.Append).format("parquet").insertInto(edgeTable)
    spark.sql(s"REFRESH TABLE $edgeTable")
  }
}

/** Cross-batch streaming maintenance of FIXED-k CORE membership under
  * edge INSERTS AND DELETES in one batch — the decremental face of
  * [[IngestKCore]], run as a `foreachBatch` body over rows
  * (`u`, `v`, `op` ∈ insert|delete).
  *
  * Order within the batch: deletes first, inserts second — exact on the
  * final edge set because each phase is exact on its intermediate set:
  * the demotion cascade lands on `core(E \ del)` (deletes only shrink),
  * the promotion then lands on `core((E \ del) ∪ ins)` (inserts only
  * grow, and the maximality argument for the intermediate core makes
  * the insert-seeded expansion complete). The shared machinery lives in
  * [[IngestKCore$]]; a node demoted by the deletes and re-promoted by
  * the inserts nets to a degree update. In-core degrees recompute for
  * the touched set only: demoted nodes' core neighbors, promoted nodes
  * and their core neighbors, and the changed edges' surviving-core
  * endpoints.
  *
  * Exactly-once WITHOUT a replay guard (the [[IngestComponentsCdc]]
  * argument): net changes vs the store make redelivery a no-op, the
  * view is a pure function of the live edge set, view-before-store
  * ordering converges from every crash point. Same-edge insert+delete
  * in one batch is refused loudly (the unordered-set contract).
  *
  * Bootstrap: the edge table (u, v, bkt = pmod(hash(u), buckets))
  * canonical u < v — bucketed, deletes rebuild touched buckets — and
  * the core table (node, deg, bkt = pmod(hash(node), buckets)).
  */
final class IngestKCoreCdc(
    edgeTable: String,
    coreTable: String,
    k: Int,
    buckets: Int,
    maxRounds: Int = 100
) extends ((DataFrame, Long) => Unit) with Serializable {
  require(k >= 1, s"k must be >= 1, got $k")

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(coreTable),
      s"IngestKCoreCdc: '$edgeTable' and '$coreTable' must be initialized first")
    val (ins0, del0) = IngestComponentsCdc.parseCdcBatch("IngestKCoreCdc", batch)
    val ins = Materialize.persist(ins0.select(col("u"), col("v")))
    val del = Materialize.persist(del0)
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("u"), col("v"))
    val newEdges = Materialize.persist(ins.join(old, Seq("u", "v"), "left_anti"))
    val delEdges = Materialize.persist(del.join(old, Seq("u", "v"), "left_semi"))
    if (newEdges.isEmpty && delEdges.isEmpty) return

    spark.sql(s"REFRESH TABLE $coreTable")
    val prev = spark.table(coreTable)
    val core = prev.select(col("node"))
    val afterDel = old.join(delEdges, Seq("u", "v"), "left_anti")
    val post = afterDel.unionByName(newEdges)

    // phase 1: demotion on E \ del
    val delEndpoints = delEdges.select(col("u").as("node"))
      .unionByName(delEdges.select(col("v").as("node"))).distinct()
    val removed = IngestKCore.demoted(afterDel, core, delEndpoints, k)
    val core1 = core.join(broadcast(removed), Seq("node"), "left_anti")

    // phase 2: promotion on (E \ del) ∪ ins against the shrunk core
    val insEndpoints = newEdges.select(col("u").as("node"))
      .unionByName(newEdges.select(col("v").as("node"))).distinct()
    val promoted = IngestKCore.promoted(post, core1, insEndpoints, k, maxRounds)

    val member = core1.unionByName(promoted)
    val changedEndpoints = insEndpoints.unionByName(delEndpoints).distinct()
    val inCoreEndpoints = IngestKCore.interBig(member, changedEndpoints)
    def coreNbrsOf(nodes: DataFrame): DataFrame =
      if (Materialize.rows(nodes) == 0) nodes
      else IngestKCore.interBig(member,
        Materialize(IngestKCore.adjOf(post, nodes).select(col("w").as("node")).distinct()))
    val touched = Materialize(promoted.unionByName(inCoreEndpoints)
      .unionByName(coreNbrsOf(promoted)).unionByName(coreNbrsOf(removed)).distinct())
    if (Materialize.rows(touched) > 0 || Materialize.rows(removed) > 0) {
      // both delta-sized; materializing severs the deeply-shared
      // union/anti-join lineage (core1/member/promoted/removed all
      // reference the same scans), which Catalyst's Union constraint
      // rewrite otherwise chokes on (key-not-found on a child attr)
      val degs = Materialize(IngestKCore.touchedDegs(post, member, touched))
      val dropIds = Materialize(touched.unionByName(removed).distinct())
      IvmMaintenance.rebuildTouchedBuckets(
        spark, coreTable, prev, degs, dropIds,
        Seq("node"), "node", buckets)
    }

    IvmMaintenance.rebuildTouchedBuckets(
      spark, edgeTable, spark.table(edgeTable), newEdges, delEdges,
      Seq("u", "v"), "u", buckets,
      touchedFromChanges =
        Some(newEdges.select(col("u")).unionByName(delEdges.select(col("u")))))
  }
}
