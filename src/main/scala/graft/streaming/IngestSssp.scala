package graft.streaming

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of HOP-CAPPED weighted shortest
  * paths under a stream of edge INSERTS — the incremental face of
  * [[graft.graphs.Graphs.shortestPaths]] (q183's readout: every node
  * reachable within `maxHops` hops with its capped distance), run as a
  * `foreachBatch` body over directed weighted edges (`src`, `dst`, `w`).
  *
  * The hop cap changes the state shape: capped distances are NOT a
  * fixpoint you can relax into (a cheaper 5-hop path must not beat a
  * 4-hop cap), so the maintained state is the HOP-RESOLVED Bellman–Ford
  * table — (node, h, dist) = the minimum weight over walks of EXACTLY
  * h hops from the seeds, for h ∈ [1, maxHops], seeds at (seed, 0, 0).
  * The serve is `min(dist) GROUP BY node`: with non-negative weights
  * the group-min over exact-hop walk minima equals the cumulative
  * ≤-maxHops relaxation (a walk is never cheaper than the path inside
  * it, and that path uses no more hops), which is q183's readout.
  *
  * Under INSERTS (new pairs, or a cheaper weight REPLACING a stored
  * pair — the batch operator's groupBy-min collapse) every m_h is
  * non-increasing, and a level-h value can only change at
  *
  *  - targets of the batch's new edges whose source carries an m_{h−1}
  *    row, or
  *  - targets of out-edges of nodes whose m_{h−1} CHANGED this batch —
  *
  * so each of the `maxHops` levels recomputes its candidate set
  * ABSOLUTELY (min over ALL in-edges of m_{h−1}+w, the in-edges read
  * with a broadcast semi-join) and passes its changed rows to the next
  * level. Absolute recompute ⇒ idempotent ⇒ no replay guard; all
  * levels' changed rows land in ONE
  * [[IvmMaintenance.rebuildTouchedBuckets]] write (idCols = (node, h),
  * bucket key = node), then the directed edge store rebuilds on the
  * composite (src, dst) identity (bucket key = src). Edge DELETES are
  * out of scope by design (a delete can lengthen arbitrary paths;
  * recompute from scratch when edges retract — the
  * [[IngestComponents]] stance).
  *
  * Bootstrap: edge table (src, dst, w, bkt = pmod(hash(src), buckets))
  * — one row per (src, dst), min weight; dist table (node, h, dist,
  * bkt = pmod(hash(node), buckets)) seeded with (seed, 0, 0) rows.
  */
/** Cross-batch streaming maintenance of HOP-CAPPED weighted shortest
  * paths under edge INSERTS, DELETES, and weight UPDATES — the
  * decremental face of [[IngestSssp]], run as a `foreachBatch` body over
  * rows (`src`, `dst`, `w`, `op` ∈ insert|delete).
  *
  * Contract differences from the insert-only maintainer: `insert` of a
  * (src, dst) pair already in the store is an UPSERT — the new weight
  * REPLACES the stored one in either direction (the CDC reading: the
  * feed states the edge's current weight; a decrease is a relaxation, an
  * increase a demotion, both handled below); `delete` removes the pair
  * (the batch's `w` ignored, deleting an absent pair a no-op);
  * within-batch duplicate inserts of a pair collapse by min; same-pair
  * insert+delete in one batch is refused loudly (the unordered-set
  * contract shared with [[IngestComponentsCdc]]).
  *
  * Why deletes are tractable HERE when the general decremental-SSSP
  * problem is not: the maintained state is hop-RESOLVED — (node, h,
  * dist) = the min weight over walks of EXACTLY h hops — and each level
  * is a pure function of the level below and the edge set:
  * m_h(v) = min over in-edges (u, v, w) of m_{h−1}(u) + w, with m_0 the
  * fixed seeds. So when an in-edge of v is deleted (or re-weighted, or
  * inserted), or an in-neighbor's m_{h−1} changed in ANY direction
  * (including vanishing), m_h(v) re-derives ABSOLUTELY from the level
  * below; a node whose recompute finds no reachable in-neighbor drops
  * its level-h row entirely. The candidate set at level h — targets of
  * the batch's changed edges ∪ out-edge targets of nodes whose m_{h−1}
  * changed or vanished — is complete because m_h(v) depends on nothing
  * else; it is delta-bounded (|changes| + changed-nodes × out-degree),
  * and the cascade runs exactly `maxHops` levels. Absolute recompute ⇒
  * idempotent ⇒ no replay guard; every level's changed/removed rows are
  * materialized before the next level reads them (the round-15 stacked-
  * levels livelock lesson), and all land in ONE
  * [[IvmMaintenance.rebuildTouchedBuckets]] write (idCols = (node, h)),
  * then the edge store rebuilds on the composite (src, dst) identity —
  * a re-weighted pair rides the inserts feed (the id anti-join replaces
  * the old-weight row).
  *
  * Crash ordering (dist view first, then edge store): a replay against
  * the already-updated view recomputes every candidate to its stored
  * value — empty change set at every level — then heals the store; both
  * orders converge. Serve and bootstrap are [[IngestSssp]]'s verbatim.
  */
final class IngestSsspCdc(
    edgeTable: String,
    distTable: String,
    maxHops: Int,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {
  require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(distTable),
      s"IngestSsspCdc: '$edgeTable' and '$distTable' must be initialized first")
    def canon(df: DataFrame): DataFrame = df
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
        col("w").cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val ins = Materialize.persist(canon(batch.where(col("op") === "insert").drop("op"))
      .where(col("w").isNotNull)
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    val del = Materialize.persist(canon(batch.where(col("op") === "delete").drop("op"))
      .select(col("src"), col("dst")).distinct())
    if (!ins.join(del, Seq("src", "dst"), "left_semi").isEmpty) throw new IllegalStateException(
      "IngestSsspCdc: a batch inserts AND deletes the same edge — order within " +
        "a batch is undefined (unordered-set contract); split the operations across batches")
    val negW = ins.where(col("w") < 0).limit(1).collect()
    if (negW.nonEmpty) throw new IllegalStateException(
      s"IngestSsspCdc: batch carries a negative weight ${negW.head.mkString("(", ",", ")")} — " +
        "the hop-resolved state's serve is only exact for w >= 0")

    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("src"), col("dst"), col("w"))
    // net changes: upserts that actually change a weight (or are new),
    // deletes of pairs actually present — redelivery nets to empty
    val newEdges = Materialize.persist(ins
      .join(old.select(col("src"), col("dst"), col("w").as("__old_w")),
        Seq("src", "dst"), "left")
      .where(col("__old_w").isNull || col("w") =!= col("__old_w"))
      .select(col("src"), col("dst"), col("w")))
    val delEdges = Materialize.persist(del.join(old, Seq("src", "dst"), "left_semi"))
    if (newEdges.isEmpty && delEdges.isEmpty) return

    val changedPairs = newEdges.select(col("src"), col("dst"))
      .unionByName(delEdges)
    val post = old.join(changedPairs, Seq("src", "dst"), "left_anti")
      .unionByName(newEdges)
    spark.sql(s"REFRESH TABLE $distTable")
    val state = spark.table(distTable)

    val allUpserts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val allRemoved = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val emptyVals = Materialize(state.select(col("node"), col("dist")).where(lit(false)))
    val emptyNodes = Materialize(state.select(col("node")).where(lit(false)))
    // the changed-edge targets re-candidate at EVERY level: a changed
    // in-edge (u, v) moves m_h(v) for each h where u carries m_{h−1}
    val candEdge = Materialize(changedPairs.select(col("dst").as("node")).distinct())
    var chVals: DataFrame = emptyVals  // m_{h−1} values that changed
    var rmNodes: DataFrame = emptyNodes // m_{h−1} rows that vanished
    for (h <- 1 to maxHops) {
      val stored = state.where(col("h") === (h - 1)).select(col("node"), col("dist"))
      val prevEff =
        if (chVals.isEmpty && rmNodes.isEmpty) stored
        else stored.join(broadcast(chVals.select(col("node")).unionByName(rmNodes)),
            Seq("node"), "left_anti")
          .unionByName(chVals)
      val candProp =
        if (chVals.isEmpty && rmNodes.isEmpty) emptyNodes
        else post.join(broadcast(chVals.select(col("node").as("src"))
            .unionByName(rmNodes.withColumnRenamed("node", "src"))),
            Seq("src"), "left_semi")
          .select(col("dst").as("node"))
      val cands = Materialize(candEdge.unionByName(candProp).distinct())
      if (cands.isEmpty) { chVals = emptyVals; rmNodes = emptyNodes }
      else {
        // absolute recompute: min over ALL surviving in-edges of m_{h−1}+w
        val inEdges = post
          .join(broadcast(cands.withColumnRenamed("node", "dst")), Seq("dst"), "left_semi")
        val recomputed = Materialize(inEdges
          .join(prevEff.select(col("node").as("src"), col("dist").as("__pd")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(min(col("__pd") + col("w")).as("dist")))
        val storedH = Materialize(state.where(col("h") === h)
          .select(col("node"), col("dist").as("__sd"))
          .join(broadcast(cands), Seq("node"), "left_semi"))
        chVals = Materialize(recomputed
          .join(storedH, Seq("node"), "left")
          .where(col("__sd").isNull || col("dist") =!= col("__sd"))
          .select(col("node"), col("dist")))
        rmNodes = Materialize(storedH.select(col("node"))
          .join(recomputed.select(col("node")), Seq("node"), "left_anti"))
      }
      if (!chVals.isEmpty) allUpserts += chVals.withColumn("h", lit(h))
      if (!rmNodes.isEmpty) allRemoved += rmNodes.withColumn("h", lit(h))
    }

    if (allUpserts.nonEmpty || allRemoved.nonEmpty) {
      val emptyUpserts = state.select(col("node"), col("h"), col("dist")).where(lit(false))
      val upserts = Materialize(allUpserts.foldLeft(emptyUpserts)(
        (a, b) => a.unionByName(b.select(col("node"), col("h"), col("dist")))))
      val removed = Materialize(allRemoved.foldLeft(state.select(col("node"), col("h"))
        .where(lit(false)))((a, b) => a.unionByName(b.select(col("node"), col("h")))))
      IvmMaintenance.rebuildTouchedBuckets(
        spark, distTable, state, upserts, removed,
        Seq("node", "h"), "node", buckets)
    }

    IvmMaintenance.rebuildTouchedBuckets(
      spark, edgeTable, spark.table(edgeTable), newEdges,
      delEdges, Seq("src", "dst"), "src", buckets,
      touchedFromChanges =
        Some(newEdges.select(col("src")).unionByName(delEdges.select(col("src")))))
  }
}

final class IngestSssp(
    edgeTable: String,
    distTable: String,
    maxHops: Int,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {
  require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(distTable),
      s"IngestSssp: '$edgeTable' and '$distTable' must be initialized first")
    val canon = Materialize.persist(batch
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
        col("w").cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst") && col("w").isNotNull)
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    // the serve equivalence (min over exact-hop walk minima == hop-capped
    // relaxation) requires non-negative weights; fail loudly rather than
    // silently serving wrong distances (the parseCdcBatch discipline)
    val negW = canon.where(col("w") < 0).limit(1).collect()
    if (negW.nonEmpty) throw new IllegalStateException(
      s"IngestSssp: batch carries a negative weight ${negW.head.mkString("(", ",", ")")} — " +
        "the hop-resolved state's serve is only exact for w >= 0")
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("src"), col("dst"), col("w"))
    val newEdges = Materialize.persist(canon
      .join(old.select(col("src"), col("dst"), col("w").as("__old_w")),
        Seq("src", "dst"), "left")
      .where(col("__old_w").isNull || col("w") < col("__old_w"))
      .select(col("src"), col("dst"), col("w")))
    if (newEdges.isEmpty) return

    val post = old
      .join(newEdges.select(col("src"), col("dst")), Seq("src", "dst"), "left_anti")
      .unionByName(newEdges)
    spark.sql(s"REFRESH TABLE $distTable")
    val state = spark.table(distTable)

    val allChanged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var changedPrev: DataFrame =
      Materialize(state.select(col("node"), col("dist")).where(lit(false)))
    for (h <- 1 to maxHops) {
      val stored = state.where(col("h") === (h - 1)).select(col("node"), col("dist"))
      val prevEff =
        if (changedPrev.isEmpty) stored
        else stored.join(broadcast(changedPrev.select(col("node"))), Seq("node"), "left_anti")
          .unionByName(changedPrev)
      // candidates: new-edge targets whose source is h−1 reachable, and
      // out-edge targets of nodes whose m_{h−1} changed
      val candNew = newEdges
        .join(prevEff.select(col("node").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("node"))
      val candProp =
        if (changedPrev.isEmpty) candNew.where(lit(false))
        else post
          .join(broadcast(changedPrev.select(col("node").as("src"))), Seq("src"), "left_semi")
          .select(col("dst").as("node"))
      val cands = Materialize(candNew.unionByName(candProp).distinct())
      changedPrev =
        if (cands.isEmpty) Materialize(cands.withColumn("dist", lit(0L)).where(lit(false)))
        else {
          // absolute recompute: min over ALL in-edges of m_{h−1} + w
          val inEdges = post
            .join(broadcast(cands.withColumnRenamed("node", "dst")), Seq("dst"), "left_semi")
          val recomputed = inEdges
            .join(prevEff.select(col("node").as("src"), col("dist").as("__pd")), Seq("src"))
            .groupBy(col("dst").as("node")).agg(min(col("__pd") + col("w")).as("dist"))
          val storedH = state.where(col("h") === h).select(col("node"), col("dist").as("__sd"))
          Materialize(recomputed.join(storedH, Seq("node"), "left")
            .where(col("__sd").isNull || col("dist") < col("__sd"))
            .select(col("node"), col("dist")))
        }
      if (!changedPrev.isEmpty) allChanged += changedPrev.withColumn("h", lit(h))
    }

    if (allChanged.nonEmpty) {
      val inserts = Materialize(allChanged.reduce(_ unionByName _)
        .select(col("node"), col("h"), col("dist")))
      IvmMaintenance.rebuildTouchedBuckets(
        spark, distTable, state, inserts, inserts.select(col("node"), col("h")),
        Seq("node", "h"), "node", buckets)
    }

    IvmMaintenance.rebuildTouchedBuckets(
      spark, edgeTable, spark.table(edgeTable), newEdges,
      newEdges.select(col("src"), col("dst")).where(lit(false)),
      Seq("src", "dst"), "src", buckets,
      touchedFromChanges = Some(newEdges.select(col("src"))))
  }
}
