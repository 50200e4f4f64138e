package graft.streaming

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of the PER-EDGE structural
  * similarity view (common-neighbor count + neighborhood Jaccard, the
  * q161 readout of [[graft.graphs.Graphs.edgeJaccard]]) under edge
  * INSERTS AND DELETES — a `foreachBatch` body over rows
  * (`u`, `v`, `op` ∈ insert|delete).
  *
  * Which rows can change? Edge e = (a, b) carries
  * `jaccard = common / ((deg a − 1) + (deg b − 1) − common)`:
  *
  *  - a DEGREE changes only at the changed edges' endpoints N₁ — and it
  *    moves the DENOMINATOR of every edge incident to them, even edges
  *    whose common count is untouched (the propagation case a naive
  *    triangles-only delta would miss);
  *  - a COMMON count changes only when a triangle through e appears or
  *    disappears, and that triangle contains a changed edge — so e
  *    shares an endpoint with it: again incident to N₁.
  *
  * So the touched rows are exactly the post-batch edges incident to N₁,
  * and they recompute ABSOLUTELY (idempotent — no replay guard, the
  * [[IngestTriangleCountsCdc]] discipline) by running the BATCH
  * operator over the 2-hop edge neighborhood: subgraph = post edges
  * incident to N₂ = N₁ ∪ neighbors(N₁). Inside it, every touched edge's
  * endpoint has its FULL adjacency present (their neighbors are in N₂),
  * so degrees and common counts computed within the subgraph equal the
  * global ones for the touched rows — output restricted to them, spliced
  * through [[IvmMaintenance.rebuildTouchedBuckets]] (bucket key = lo;
  * pre-batch rows incident to N₁ dropped, which also removes deleted
  * edges' rows).
  *
  * Per-batch cost: the 2-hop neighborhood's wedge machinery — bounded
  * by the changed endpoints' degree mass, never a full re-enumeration.
  * Bootstrap: edge table (u, v, bkt = pmod(hash(u), buckets)) canonical
  * u < v; view table (lo, hi, common, jaccard,
  * bkt = pmod(hash(lo), buckets)) — empty or consistent. Same-edge
  * insert+delete in one batch is refused loudly.
  */
final class IngestEdgeJaccardCdc(
    edgeTable: String,
    viewTable: String,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(viewTable),
      s"IngestEdgeJaccardCdc: '$edgeTable' and '$viewTable' must be initialized first")
    val (ins0, del0) = IngestComponentsCdc.parseCdcBatch("IngestEdgeJaccardCdc", batch)
    val ins = Materialize.persist(ins0.select(col("u"), col("v")))
    val del = Materialize.persist(del0)
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("u"), col("v"))
    val newEdges = Materialize.persist(ins.join(old, Seq("u", "v"), "left_anti"))
    val delEdges = Materialize.persist(del.join(old, Seq("u", "v"), "left_semi"))
    if (newEdges.isEmpty && delEdges.isEmpty) return

    val post = old.join(delEdges, Seq("u", "v"), "left_anti").unionByName(newEdges)
    def incident(edges: DataFrame, nodes: DataFrame): DataFrame = edges
      .join(broadcast(nodes.withColumnRenamed("node", "u")), Seq("u"), "left_semi")
      .unionByName(edges
        .join(broadcast(nodes.withColumnRenamed("node", "v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
      .distinct()
    val n1 = Materialize(newEdges.select(col("u").as("node"))
      .unionByName(newEdges.select(col("v").as("node")))
      .unionByName(delEdges.select(col("u").as("node")))
      .unionByName(delEdges.select(col("v").as("node"))).distinct())
    val touchedEdges = Materialize(incident(post, n1))
    val n2 = Materialize(n1
      .unionByName(touchedEdges.select(col("u").as("node")))
      .unionByName(touchedEdges.select(col("v").as("node"))).distinct())
    val subEdges = Materialize(incident(post, n2))
    val inserts = Materialize(
      graft.graphs.Graphs.edgeJaccard(subEdges, col("u"), col("v"))
        .join(broadcast(touchedEdges
          .select(col("u").as("lo"), col("v").as("hi"))), Seq("lo", "hi"), "left_semi"))

    spark.sql(s"REFRESH TABLE $viewTable")
    val prev = spark.table(viewTable)
    val drops = Materialize(prev
      .join(broadcast(n1.withColumnRenamed("node", "lo")), Seq("lo"), "left_semi")
      .select(col("lo"), col("hi"))
      .unionByName(prev
        .join(broadcast(n1.withColumnRenamed("node", "hi")), Seq("hi"), "left_semi")
        .select(col("lo"), col("hi")))
      .distinct())
    IvmMaintenance.rebuildTouchedBuckets(
      spark, viewTable, prev, inserts, drops,
      Seq("lo", "hi"), "lo", buckets)

    IvmMaintenance.rebuildTouchedBuckets(
      spark, edgeTable, spark.table(edgeTable), newEdges, delEdges,
      Seq("u", "v"), "u", buckets,
      touchedFromChanges =
        Some(newEdges.select(col("u")).unionByName(delEdges.select(col("u")))))
  }
}
