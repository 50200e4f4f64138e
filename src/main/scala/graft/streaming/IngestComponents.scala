package graft.streaming

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of CONNECTED-COMPONENT labels under
  * a stream of edge INSERTS — the streaming face of
  * [[graft.graphs.Graphs.connectedComponents]], run as a `foreachBatch`
  * body: each micro-batch of new undirected edges (`src`, `dst`) folds
  * into the label table by the [[graft.dedup.Dedup.mergeClusters]]
  * algebra — prior labels re-enter as STAR edges (node → its component
  * root, a graph with exactly the components of everything seen so far),
  * so the min-label loop's iterative cost scales with how much the NEW
  * edges restructure, not with history's edge count.
  *
  * The label table is hash-bucket partitioned ON THE COMPONENT
  * (`bkt = pmod(hash(component), buckets)`), and a batch touches ONLY
  * the components its edges connect: the affected set is the union of
  * the edge endpoints' current components (a broadcast semi-join on the
  * bounded root list, partition-pruned to those components' buckets),
  * the CC re-label runs over the affected nodes' star edges plus the
  * batch, and the store update is the
  * [[IvmMaintenance.rebuildTouchedBuckets]] machinery with the
  * COMPONENT as the bucket key — a relabeled node moves from its old
  * component's bucket to the new one, and both are in the touched set
  * by construction (old from the delete side, new from the insert
  * side). Per-batch write cost is therefore proportional to the merged
  * components' size, never the vertex count — the difference between
  * rewriting a 10⁹-row label table per batch and rewriting the
  * neighborhoods the batch actually merged.
  *
  * Exactly-once WITHOUT a replay guard, unlike the delta-arithmetic
  * maintainers ([[IngestAggView]] et al.): component labels are a pure
  * function of the edge-set UNION, and unions are idempotent — a
  * redelivered batch finds its endpoints already sharing the merged
  * root, re-derives the identical labels for that component, and the
  * anti-joined rebuild converges byte-identically. Edge DELETES are out
  * of scope by design (decremental connectivity needs spanning
  * structures the reference has no counterpart for); recompute from
  * scratch when edges retract.
  *
  * Bootstrap the label table (node, component, bkt) partitioned by
  * `bkt` before the stream starts — empty (zero rows, schema from the
  * catalog) or with an existing labeling.
  */
final class IngestComponents(
    labelsTable: String,
    buckets: Int = 32
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(labelsTable),
      s"IngestComponents: '$labelsTable' must be initialized before the stream starts")
    val edges = Materialize.persist(batch
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst")))
    spark.sql(s"REFRESH TABLE $labelsTable")
    val prev = spark.table(labelsTable)
    val endpoints = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    // the components this batch can touch: the endpoints' current roots
    // (bounded by 2·|batch| — a driver list, the touched-bucket
    // discipline). Their bucket ids are read off the TABLE rows, never
    // re-derived driver-side — one hash definition, the table's.
    val rootRows = prev.join(broadcast(endpoints), Seq("node"), "left_semi")
      .select(col("component"), col("bkt")).distinct().collect()
    val roots = rootRows.map(_.getLong(0)).toSeq
    val rootBkts = rootRows.map(_.getInt(1)).distinct.toSeq
    val affected =
      if (roots.isEmpty) prev.where(lit(false))
      else prev.where(col("bkt").isin(rootBkts: _*))
        .where(col("component").isin(roots: _*))
        .select(col("node"), col("component"))
    // re-label ONLY the affected neighborhood: its stars + the batch
    val stars = affected.where(col("node") =!= col("component"))
      .select(col("node").as("src"), col("component").as("dst"))
    val cc = graft.graphs.Graphs.connectedComponents(
      stars.unionByName(edges), col("src"), col("dst"))
    IvmMaintenance.rebuildTouchedBuckets(
      spark, labelsTable, prev, cc, affected.select(col("node")),
      Seq("node"), "component", buckets)
  }
}
