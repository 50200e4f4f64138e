package graft.streaming

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of the GLOBAL TRIANGLE COUNT under
  * edge INSERTS AND DELETES in one batch — the CDC face of
  * [[IngestTriangles]], run as a `foreachBatch` body over rows
  * (`u`, `v`, `op` ∈ insert|delete). The delta uses the symmetric
  * two-probe identity: with `C` = the batch's changed edges (inserts
  * present in the post-batch graph ∪ deletes present in the pre-batch
  * graph),
  *
  * {{{ ΔT = |triples(E′) ∋ some C-edge| − |triples(E) ∋ some C-edge| }}}
  *
  * — a triple with NO changed edge exists in both graphs or neither, so
  * it cancels; each side is one |C|·degree-bounded wedge probe
  * ([[IngestTriangles.closedTriples]]) with sorted-triple dedup. This
  * handles every cross case in one shot: a triple that loses one edge
  * and gains another same-batch counts in both probes and nets zero,
  * a triple closed by two inserts counts once, a triple destroyed by
  * two deletes subtracts once.
  *
  * State: the count carries `__batch` with the [[IvmMaintenance]]
  * replay guard + sentinel (count arithmetic is not idempotent); the
  * edge store is hash-bucket partitioned on `u` and rebuilt touched
  * buckets only via [[IvmMaintenance.rebuildTouchedBuckets]] with the
  * composite identity `idCols = (u, v)`. The rebuild's insert/delete
  * feeds are the NET changes (`newEdges` = inserts absent from the
  * store, `delEdges` = deletes present in it), per that method's
  * contract: anti-joining survivors on the raw insert feed while
  * unioning only the novel subset would drop a re-inserted
  * already-present edge whose u-bucket another change touches.
  * Idempotent: a redelivered batch's net changes recompute as empty
  * against the healed store (no-op rebuild).
  *
  * Bootstrap: the edge table (u, v, bkt) canonical, partitioned by
  * `bkt = pmod(hash(u), buckets)`; the count table
  * (n_triangles, __batch) seeded with the matching count (0, -1 for
  * empty). Deleting an absent edge is a no-op; inserting a present
  * edge is a no-op (edge sets, not multisets).
  */
final class IngestTrianglesCdc(
    edgeTable: String,
    countTable: String,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(countTable),
      s"IngestTrianglesCdc: '$edgeTable' and '$countTable' must be initialized first")
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val ins = Materialize.persist(canon(batch.where(col("op") === "insert")))
    val del = Materialize.persist(canon(batch.where(col("op") === "delete")))
    if (!ins.join(del, Seq("u", "v"), "left_semi").isEmpty) throw new IllegalStateException(
      "IngestTrianglesCdc: a batch inserts AND deletes the same edge — order within " +
        "a batch is undefined (unordered-set contract, the mergeAggDelta discipline); " +
        "split the operations across batches")
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("u"), col("v"))
    val newEdges = Materialize.persist(ins.join(old, Seq("u", "v"), "left_anti"))
    val delEdges = Materialize.persist(del.join(old, Seq("u", "v"), "left_semi"))

    spark.sql(s"REFRESH TABLE $countTable")
    val cnt = spark.table(countTable)
    if (batchId > IvmMaintenance.lastApplied(spark, countTable)) {
      val after = old.join(delEdges, Seq("u", "v"), "left_anti").unionByName(newEdges)
      val changedAfter = newEdges // deletes are absent from E′ by construction
      val changedBefore = delEdges // inserts are absent from E by construction
      val gained = IngestTriangles.closedTriples(changedAfter, after).count()
      val lost = IngestTriangles.closedTriples(changedBefore, old).count()
      val prevRow = cnt.where(col("n_triangles").isNotNull)
        .agg(coalesce(max(col("n_triangles")), lit(0L))).head().getLong(0)
      val merged = spark.range(1).select(
        lit(prevRow + gained - lost).as("n_triangles"), lit(batchId).as("__batch"))
      IvmMaintenance.swapViewWithSentinel(spark, countTable, merged, batchId)
    }

    // touched-bucket edge-store rebuild on the composite (u, v) identity;
    // NET feeds (newEdges/delEdges), per rebuildTouchedBuckets' contract
    IvmMaintenance.rebuildTouchedBuckets(
      spark, edgeTable, spark.table(edgeTable), newEdges, delEdges,
      Seq("u", "v"), "u", buckets,
      touchedFromChanges =
        Some(newEdges.select(col("u")).unionByName(delEdges.select(col("u")))))
  }
}
