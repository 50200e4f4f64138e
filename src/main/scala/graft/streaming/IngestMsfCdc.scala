package graft.streaming

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of a MINIMUM SPANNING FOREST under
  * edge INSERTS AND DELETES in one batch — the decremental face of
  * [[IngestMsf]], run as a `foreachBatch` body over rows
  * (`u`, `v`, `w`, `op` ∈ insert|delete).
  *
  * The sparsification identity that powers the insert-only maintainer
  * (`MSF(G ∪ E′) = MSF(MSF(G) ∪ E′)`) is one-directional: an edge
  * rejected from the forest can never re-enter under INSERTS, but a
  * DELETED forest edge needs a replacement — the cheapest surviving
  * edge crossing the cut, which is by definition a non-forest edge the
  * forest threw away. So this maintainer retains the live weighted edge
  * set (hash-bucket partitioned on `u`, the [[IngestTrianglesCdc]]
  * store shape) plus the component label store, and re-solves ONLY the
  * affected components per batch:
  *
  *  1. net changes vs the store — an insert of a pair already stored
  *     REPLACES it iff cheaper (the batch operator's groupBy-min
  *     collapse, [[graft.graphs.Graphs.minimumSpanningForest]]'s
  *     parallel-edge contract) and is a no-op otherwise; a delete
  *     removes the pair; redelivery nets to empty;
  *  2. the affected subgraph comes from the shared
  *     [[IngestComponentsCdc.affectedSubgraph]] derivation (touched
  *     components' label rows partition-pruned by component shard, plus
  *     the changed edges' endpoints), with the weight column riding
  *     along;
  *  3. a from-scratch MSF over that subgraph ONLY — per-batch cost
  *     scales with the touched components' size; the strict total order
  *     `(w, u, v)` makes each component's forest unique, so splicing
  *     the re-solved local forest in place of the affected components'
  *     old forest rows yields EXACTLY the global from-scratch forest
  *     (forests decompose per component);
  *  4. label store rebuild (CC over the LOCAL FOREST's edges — same
  *     components as the subgraph, `nodes − c` edges), then the forest
  *     splice (drop affected forest rows by the touched-node semi-join,
  *     insert the local forest), then the edge store rebuild — all
  *     three through [[IvmMaintenance.rebuildTouchedBuckets]].
  *
  * Exactly-once WITHOUT a replay guard: forest and labels are pure
  * functions of the live edge set; the view-before-store ordering plus
  * net-change computation make every crash point converge (the
  * [[IngestComponentsCdc]] analysis — a replay after a partial apply
  * re-derives the same touched set from the healed labels because every
  * pre-batch affected component's members are reachable from the
  * changed edges' endpoints' post-components).
  *
  * Bootstrap all three tables before the stream starts: edges
  * (`u`, `v`, `w`, `bkt = pmod(hash(u), buckets)`) canonical u < v,
  * forest (same schema), labels (`node`, `component`,
  * `bkt = pmod(hash(component), buckets)`) — empty or consistent.
  * Single-linkage clustering under deletes follows for free: serve the
  * [[graft.graphs.Graphs]] MSF-cut equivalence from this maintained
  * forest exactly as q233 does from the insert-only one.
  */
final class IngestMsfCdc(
    edgeTable: String,
    forestTable: String,
    labelsTable: String,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(forestTable) &&
      spark.catalog.tableExists(labelsTable),
      s"IngestMsfCdc: '$edgeTable', '$forestTable' and '$labelsTable' must be initialized first")
    val (ins0, del0) = IngestComponentsCdc.parseCdcBatch("IngestMsfCdc", batch,
      payload = _.groupBy(col("u"), col("v")).agg(min(col("w").cast("long")).as("w")))
    val ins = Materialize.persist(ins0.select(col("u"), col("v"), col("w")))
    val del = Materialize.persist(del0)
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("u"), col("v"), col("w"))
    // net inserts: absent pairs enter; present pairs REPLACE iff cheaper
    val newEdges = Materialize.persist(ins
      .join(old.select(col("u"), col("v"), col("w").as("__old_w")), Seq("u", "v"), "left")
      .where(col("__old_w").isNull || col("w") < col("__old_w"))
      .select(col("u"), col("v"), col("w")))
    val delEdges = Materialize.persist(del.join(old, Seq("u", "v"), "left_semi"))
    if (newEdges.isEmpty && delEdges.isEmpty) return

    val postEdges = old
      .join(delEdges, Seq("u", "v"), "left_anti")
      .join(newEdges.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
      .unionByName(newEdges)
    val (touchNodes, subEdges) = IngestComponentsCdc.affectedSubgraph(
      spark, labelsTable, postEdges, newEdges.select(col("u"), col("v")), delEdges)
    val localForest = graft.graphs.Graphs.minimumSpanningForest(
      subEdges, col("u"), col("v"), col("w"))

    // labels over the local forest's edges — same components, nodes − c rows
    val cc = graft.graphs.Graphs.connectedComponents(localForest, col("u"), col("v"))
    IvmMaintenance.rebuildTouchedBuckets(
      spark, labelsTable, spark.table(labelsTable), cc, touchNodes,
      Seq("node"), "component", buckets)

    // forest splice: drop the affected components' forest rows (u-side
    // semi-join on the touched nodes — forest edges live within
    // components), insert the re-solved local forest
    spark.sql(s"REFRESH TABLE $forestTable")
    val forest = spark.table(forestTable)
    val drops = forest
      .join(broadcast(touchNodes.select(col("node").as("u"))), Seq("u"), "left_semi")
      .select(col("u"), col("v"))
    IvmMaintenance.rebuildTouchedBuckets(
      spark, forestTable, forest, localForest, drops,
      Seq("u", "v"), "u", buckets)

    IvmMaintenance.rebuildTouchedBuckets(
      spark, edgeTable, spark.table(edgeTable), newEdges, delEdges,
      Seq("u", "v"), "u", buckets,
      touchedFromChanges =
        Some(newEdges.select(col("u")).unionByName(delEdges.select(col("u")))))
  }
}
