package graft.streaming

import graft.Materialize
import graft.sources.Storage
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of a per-group TOP-K view — the
  * streaming face of [[graft.sources.Storage.mergeTopKDelta]], run as a
  * `foreachBatch` body: each micro-batch of row-level changes
  * (`row_id`, `grp`, `score`, `op` ∈ insert|delete) updates
  *
  *  1. the view (`grp`, rank, row_id, score) by the delta split — kept
  *     rows compete with the batch's inserts state-side; only groups
  *     whose KEPT rows were deleted or replaced recompute from surviving
  *     base rows, semi-restricted;
  *  2. the BASE row store, hash-bucket partitioned ON THE GROUP (the
  *     dirty-group recompute is a group-sliced read, so the bucket key
  *     follows it), touched buckets only — the [[IngestAggView]] rebuild
  *     machinery (idempotent, dynamic-partition-overwrite through a
  *     staging hop, emptied buckets dropped).
  *
  * Replay safety and the watermark sentinel follow [[IngestJoinView]]
  * verbatim: the view carries `__batch`, a redelivered batch skips the
  * view update, every view version carries one all-null sentinel row
  * (`rank IS NULL`) so a drained view keeps its watermark; readers
  * filter `rank IS NOT NULL`.
  *
  * Row-id contract (first delivery only, inside the replay guard):
  * duplicate insert row_ids within a batch throw loudly — the base
  * rebuild keeps one row per id while the view pool competes both. An
  * insert REUSING a live base id is legal here (a REPLACE —
  * `mergeTopKDelta` dirties the group when the id is a view member and
  * the base rebuild replaces the row either way).
  *
  * Bootstrap both tables before the stream starts: the base partitioned
  * by `bkt = pmod(hash(grp), buckets)`, the view with `__batch = -1`.
  */
final class IngestTopKView(
    baseTable: String,
    viewTable: String,
    k: Int,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(baseTable) && spark.catalog.tableExists(viewTable),
      s"IngestTopKView: '$baseTable' and '$viewTable' must be initialized first")

    val changes = Materialize.persist(batch)
    val inserts = changes.where(col("op") === "insert")
      .select(col("row_id"), col("grp"), col("score"))
    val deleteIds = changes.where(col("op") === "delete").select(col("row_id"))
    spark.sql(s"REFRESH TABLE $baseTable")
    val base = spark.table(baseTable)

    // 1) view update, guarded for replay ([[IvmMaintenance]] pieces 1+2);
    //    no live-id-reuse probe here — reuse is a REPLACE by contract
    spark.sql(s"REFRESH TABLE $viewTable")
    val view = spark.table(viewTable)
    if (batchId > IvmMaintenance.lastApplied(spark, viewTable)) {
      IvmMaintenance.assertRowIdContract(
        Seq(IvmMaintenance.RowIds("IngestTopKView", base, inserts, deleteIds)), "row_id",
        "the base rebuild keeps one row per id while the view pool competes " +
          "both; mint unique ids upstream",
        reuseConsequence = None)
      val merged = Storage.mergeTopKDelta(
          view.where(col("rank").isNotNull).drop("__batch"),
          base.select(col("row_id"), col("grp"), col("score")),
          inserts, deleteIds, "row_id", "grp", "score", k)
        .withColumn("__batch", lit(batchId))
      IvmMaintenance.swapViewWithSentinel(spark, viewTable, merged, batchId)
    }

    // 2) base rebuild, touched buckets only, idempotent ([[IvmMaintenance]]
    //    piece 4 — the GROUP is the bucket key)
    IvmMaintenance.rebuildTouchedBuckets(
      spark, baseTable, base, inserts, deleteIds, Seq("row_id"), "grp", buckets)
  }
}
