package graft.streaming

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of PER-VERTEX triangle counts under
  * edge INSERTS AND DELETES in one batch — the CDC face of the q155
  * readout ([[graft.graphs.Graphs.triangleCounts]]), run as a
  * `foreachBatch` body over rows (`u`, `v`, `op` ∈ insert|delete).
  *
  * Where the GLOBAL count ([[IngestTrianglesCdc]]) applies the two-probe
  * identity as ±arithmetic under a replay guard, the per-vertex view
  * uses the probes only to find WHO changed and then recomputes those
  * vertices ABSOLUTELY — which makes the whole batch idempotent and
  * drops the watermark machinery (a per-vertex view is |V|-sized, so
  * the scalar maintainer's full sentinel swap would rewrite the world
  * each batch; the touched-bucket rebuild needs every input to be a
  * pure function of the live edge set):
  *
  *  1. net changes vs the store (redelivery nets to empty);
  *  2. touched vertices = vertices of the triples GAINED
  *     (`closedTriples(newEdges, E′)`) ∪ LOST
  *     (`closedTriples(delEdges, E)`) — a vertex's count changes iff
  *     some triangle through it appears or disappears;
  *  3. absolute recompute: every triangle through a touched vertex
  *     contains an edge incident to it, so ONE degree-oriented probe
  *     (`closedTriples(post edges incident to touched, E′)`) finds them
  *     all; explode the triple vertices, keep the touched, count.
  *     A vertex gaining and losing triangles same-batch nets correctly
  *     by construction;
  *  4. view rebuild through [[IvmMaintenance.rebuildTouchedBuckets]]
  *     (bucket key = node; vertices whose count dropped to zero are
  *     dropped — the batch readout carries only triangle members), then
  *     the edge store rebuild on the composite (u, v) identity.
  *
  * Per-batch cost: two delta-probe wedge passes + one probe over the
  * touched vertices' incident edges (Σ deg over touched) — never a full
  * triangle re-enumeration. Bootstrap: edge table
  * (u, v, bkt = pmod(hash(u), buckets)) canonical u < v, count table
  * (node, triangles, bkt = pmod(hash(node), buckets)) — empty or
  * consistent. Same-edge insert+delete in one batch is refused loudly.
  */
final class IngestTriangleCountsCdc(
    edgeTable: String,
    countTable: String,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(countTable),
      s"IngestTriangleCountsCdc: '$edgeTable' and '$countTable' must be initialized first")
    val (ins0, del0) = IngestComponentsCdc.parseCdcBatch("IngestTriangleCountsCdc", batch)
    val ins = Materialize.persist(ins0.select(col("u"), col("v")))
    val del = Materialize.persist(del0)
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("u"), col("v"))
    val newEdges = Materialize.persist(ins.join(old, Seq("u", "v"), "left_anti"))
    val delEdges = Materialize.persist(del.join(old, Seq("u", "v"), "left_semi"))
    if (newEdges.isEmpty && delEdges.isEmpty) return

    val post = old.join(delEdges, Seq("u", "v"), "left_anti").unionByName(newEdges)
    def tripleVertices(t: DataFrame): DataFrame =
      t.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
    val gained = IngestTriangles.closedTriples(newEdges, post)
    val lost = IngestTriangles.closedTriples(delEdges, old)
    val touched = Materialize(tripleVertices(gained).unionByName(tripleVertices(lost)).distinct())

    if (!touched.isEmpty) {
      val probeEdges = Materialize(post
        .join(broadcast(touched.withColumnRenamed("node", "u")), Seq("u"), "left_semi")
        .unionByName(post
          .join(broadcast(touched.withColumnRenamed("node", "v")), Seq("v"), "left_semi")
          .select(col("u"), col("v")))
        .distinct())
      val counts = Materialize(
        tripleVertices(IngestTriangles.closedTriples(probeEdges, post))
          .join(broadcast(touched), Seq("node"), "left_semi")
          .groupBy(col("node")).agg(count(lit(1)).as("triangles")))
      spark.sql(s"REFRESH TABLE $countTable")
      IvmMaintenance.rebuildTouchedBuckets(
        spark, countTable, spark.table(countTable), counts, touched,
        Seq("node"), "node", buckets)
    }

    IvmMaintenance.rebuildTouchedBuckets(
      spark, edgeTable, spark.table(edgeTable), newEdges, delEdges,
      Seq("u", "v"), "u", buckets,
      touchedFromChanges =
        Some(newEdges.select(col("u")).unionByName(delEdges.select(col("u")))))
  }
}
