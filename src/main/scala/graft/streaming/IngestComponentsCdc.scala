package graft.streaming

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of CONNECTED-COMPONENT labels under
  * edge INSERTS AND DELETES in one batch — the decremental face of
  * [[IngestComponents]], run as a `foreachBatch` body over rows
  * (`u`, `v`, `op` ∈ insert|delete).
  *
  * Deletes need more than the insert-only maintainer's star edges: an
  * intra-forest delete splits a component, and deciding whether the two
  * fragments re-join requires the component's SURVIVING edges — a
  * spanning forest alone cannot answer it (the replacement edge is by
  * definition a non-forest edge). So this maintainer retains the live
  * edge set itself (the sparsest certificate that is closed under
  * arbitrary deletes), hash-bucket partitioned on `u` exactly like
  * [[IngestTrianglesCdc]]'s store, and re-solves ONLY the affected
  * components per batch:
  *
  *  1. net changes vs the store (`newEdges` = inserts absent from it,
  *     `delEdges` = deletes present in it — redelivery nets to empty);
  *  2. affected components = current labels of the changed edges'
  *     endpoints (broadcast semi-join, driver-bounded root list);
  *  3. the affected subgraph = the post-batch live edges with an
  *     endpoint in those components' label rows (partition-pruned to
  *     the components' buckets on the label side) ∪ the changed edges'
  *     endpoints themselves (covers brand-new nodes);
  *  4. from-scratch min-label CC over that subgraph ONLY — per-batch
  *     cost scales with the touched components' size, never the graph;
  *  5. label store rebuild via [[IvmMaintenance.rebuildTouchedBuckets]]
  *     (bucket key = component: relabeled nodes move buckets, both old
  *     and new buckets are touched by construction; affected nodes that
  *     lost their last edge are dropped — labels carry exactly the
  *     edge-induced vertex set, the [[graft.graphs.Graphs
  *     .connectedComponents]] convention), then the edge store rebuild
  *     on the composite (u, v) identity.
  *
  * Exactly-once WITHOUT a replay guard: labels are a pure function of
  * the live edge SET, and the net-change computation makes every step
  * idempotent. Crash ordering (labels BEFORE store): a crash after the
  * label rebuild replays with non-empty net changes against the
  * unhealed store and re-derives the identical labels; a crash after
  * both replays as a no-op.
  *
  * Bootstrap both tables before the stream starts: edges
  * (`u`, `v`, `bkt = pmod(hash(u), buckets)`) canonical u < v, labels
  * (`node`, `component`, `bkt = pmod(hash(component), buckets)`) — empty
  * or consistent with an existing edge set. Deleting an absent edge and
  * re-inserting a present one are no-ops (edge sets, not multisets);
  * insert+delete of the SAME edge in one batch is refused loudly (the
  * unordered-batch contract shared with [[IngestTrianglesCdc]]).
  */
object IngestComponentsCdc {
  /** Canonical (u, v) CDC batch parse shared by the graph CDC
    * maintainers: least/greatest, self-loops dropped, distinct, split by
    * `op`, the same-edge insert+delete refusal (unordered-set contract).
    * Extra payload columns (e.g. an MSF weight) ride along through
    * `payload`; within-batch duplicate pairs collapse by `collapse`
    * (min-weight for MSF, plain distinct otherwise).
    */
  private[streaming] def parseCdcBatch(
      ctx: String,
      batch: DataFrame,
      payload: DataFrame => DataFrame = _.distinct()): (DataFrame, DataFrame) = {
    def canon(df: DataFrame): DataFrame = payload(df
      .withColumn("__cu", least(col("u"), col("v")).cast("long"))
      .withColumn("__cv", greatest(col("u"), col("v")).cast("long"))
      .drop("u", "v")
      .withColumnRenamed("__cu", "u").withColumnRenamed("__cv", "v")
      .where(col("u") =!= col("v")))
    val ins = canon(batch.where(col("op") === "insert").drop("op"))
    val del = canon(batch.where(col("op") === "delete").drop("op"))
      .select(col("u"), col("v")).distinct()
    if (!ins.join(del, Seq("u", "v"), "left_semi").isEmpty) throw new IllegalStateException(
      s"$ctx: a batch inserts AND deletes the same edge — order within " +
        "a batch is undefined (unordered-set contract); split the operations across batches")
    (ins, del)
  }

  /** The affected-subgraph derivation shared by [[IngestComponentsCdc]]
    * and [[IngestMsfCdc]]: from the label store and the batch's changed
    * edges, the set of every potentially-relabeled node (`touchNodes` —
    * the touched components' member rows, partition-pruned to those
    * components' buckets, plus the changed edges' endpoints) and the
    * post-batch live edges restricted to it (`subEdges`, payload columns
    * riding along). Per-batch cost scales with the touched components'
    * size, never the graph.
    */
  /** Above this many touched component roots, [[affectedSubgraph]] swaps
    * its driver `isin` lists (literal IN filters — they partition-prune
    * the label store, ideal for CDC-sized batches) for a broadcast
    * semi-join on the roots relation: a BULK batch (backfill replay, a
    * large compaction) would otherwise inline thousands of literals into
    * the plan — driver-side plan bloat with no broadcast-join fallback.
    */
  private[streaming] val IsinRootLimit = 1000

  /** The touched components' label rows: literal IN filters under the
    * limit (they partition-prune the label store's `bkt` partitions),
    * broadcast semi-joins above it (no plan bloat on a bulk batch).
    */
  private[graft] def affectedMembers(
      prev: DataFrame,
      rootsDf: DataFrame,
      nRoots: Long,
      isinRootLimit: Int): DataFrame =
    if (nRoots == 0) prev.where(lit(false)).select(col("node"))
    else if (nRoots <= isinRootLimit) {
      val rootRows = rootsDf.collect()
      val roots = rootRows.map(_.getLong(0)).toSeq
      val rootBkts = rootRows.map(_.getInt(1)).distinct.toSeq
      prev.where(col("bkt").isin(rootBkts: _*))
        .where(col("component").isin(roots: _*))
        .select(col("node"))
    } else {
      // bulk path: the bkt semi-join keeps the scan bucket-restricted,
      // the component semi-join selects the touched components — both
      // broadcast (roots are batch-derived; Catalyst has no estimate)
      prev.join(broadcast(rootsDf.select(col("bkt")).distinct()), Seq("bkt"), "left_semi")
        .join(broadcast(rootsDf.select(col("component"))), Seq("component"), "left_semi")
        .select(col("node"))
    }

  private[graft] def affectedSubgraph(
      spark: org.apache.spark.sql.SparkSession,
      labelsTable: String,
      postEdges: DataFrame,
      newEdges: DataFrame,
      delEdges: DataFrame,
      isinRootLimit: Int = IsinRootLimit): (DataFrame, DataFrame) = {
    spark.sql(s"REFRESH TABLE $labelsTable")
    val prev = spark.table(labelsTable)
    val endpoints = newEdges.select(col("u").as("node"))
      .unionByName(newEdges.select(col("v").as("node")))
      .unionByName(delEdges.select(col("u").as("node")))
      .unionByName(delEdges.select(col("v").as("node"))).distinct()
    // the components this batch can touch (bounded by 2·|changes|);
    // bucket ids read off the TABLE rows, one hash definition, the
    // table's. Casts pin the Long/Int row accessors below against a
    // store bootstrapped with narrower column types.
    val rootsDf = Materialize.persist(prev.join(broadcast(endpoints), Seq("node"), "left_semi")
      .select(col("component").cast("long").as("component"),
        col("bkt").cast("int").as("bkt"))
      .distinct())
    val nRoots = rootsDf.count()
    val affected = affectedMembers(prev, rootsDf, nRoots, isinRootLimit)
    val touchNodes = Materialize.persist(affected.unionByName(endpoints).distinct())
    touchNodes.count() // materialize while the roots cache is live
    Materialize.release(rootsDf)
    // an edge of an affected component has BOTH endpoints affected (live
    // edges never span components), but filter both sides anyway — it
    // costs one more delta-bounded semi-join and drops the
    // labels-ahead-of-store invariant from the soundness argument
    val subEdges = postEdges.join(broadcast(touchNodes
        .select(col("node").as("u"))), Seq("u"), "left_semi")
      .unionByName(postEdges.join(broadcast(touchNodes
        .select(col("node").as("v"))), Seq("v"), "left_semi")
        .select(postEdges.columns.map(col).toIndexedSeq: _*))
      .dropDuplicates("u", "v")
    (touchNodes, subEdges)
  }
}

final class IngestComponentsCdc(
    edgeTable: String,
    labelsTable: String,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(labelsTable),
      s"IngestComponentsCdc: '$edgeTable' and '$labelsTable' must be initialized first")
    val (ins0, del0) = IngestComponentsCdc.parseCdcBatch("IngestComponentsCdc", batch)
    val ins = Materialize.persist(ins0.select(col("u"), col("v")))
    val del = Materialize.persist(del0)
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("u"), col("v"))
    val newEdges = Materialize.persist(ins.join(old, Seq("u", "v"), "left_anti"))
    val delEdges = Materialize.persist(del.join(old, Seq("u", "v"), "left_semi"))
    if (newEdges.isEmpty && delEdges.isEmpty) return

    val postEdges = old.join(delEdges, Seq("u", "v"), "left_anti")
      .unionByName(newEdges)
    val (touchNodes, subEdges) = IngestComponentsCdc.affectedSubgraph(
      spark, labelsTable, postEdges, newEdges, delEdges)
    val cc = graft.graphs.Graphs.connectedComponents(subEdges, col("u"), col("v"))
    IvmMaintenance.rebuildTouchedBuckets(
      spark, labelsTable, spark.table(labelsTable), cc, touchNodes,
      Seq("node"), "component", buckets)

    IvmMaintenance.rebuildTouchedBuckets(
      spark, edgeTable, spark.table(edgeTable), newEdges, delEdges,
      Seq("u", "v"), "u", buckets,
      touchedFromChanges =
        Some(newEdges.select(col("u")).unionByName(delEdges.select(col("u")))))
  }
}
