package graft.streaming

import graft.Materialize
import graft.sources.Storage
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of a per-group COUNT-DISTINCT view
  * — the streaming face of [[graft.sources.Storage.mergeDistinctDelta]],
  * run as a `foreachBatch` body: each micro-batch of row-level changes
  * (`row_id`, `grp`, `value`, `op` ∈ insert|delete) updates
  *
  *  1. the (grp, value, rc) REFCOUNT relation by pure delta arithmetic —
  *     distinct-count is fully self-maintainable (no dirty recompute
  *     exists in this shape); the base is read only to recover deleted
  *     rows' values by id;
  *  2. the BASE row store, hash-bucket partitioned on the group — the
  *     [[IngestAggView]] rebuild machinery (idempotent, touched buckets
  *     only, dynamic overwrite through a staging hop, emptied buckets
  *     dropped).
  *
  * Replay safety, the drained-view watermark sentinel (`rc IS NULL`),
  * and the duplicate-insert-id loud contract follow [[IngestTopKView]]
  * verbatim; an insert reusing a live base id is REJECTED here (unlike
  * top-k, the refcount arithmetic has no replace semantics — it would
  * count the value twice while the base keeps one row; send
  * delete+insert).
  *
  * Bootstrap both tables before the stream starts: the base partitioned
  * by `bkt = pmod(hash(grp), buckets)`, the refcount relation with
  * `__batch = -1`.
  */
final class IngestDistinctView(
    baseTable: String,
    refTable: String,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(baseTable) && spark.catalog.tableExists(refTable),
      s"IngestDistinctView: '$baseTable' and '$refTable' must be initialized first")

    val changes = Materialize.persist(batch)
    val inserts = changes.where(col("op") === "insert")
      .select(col("row_id"), col("grp"), col("value"))
    val deleteIds = changes.where(col("op") === "delete").select(col("row_id"))
    spark.sql(s"REFRESH TABLE $baseTable")
    val base = spark.table(baseTable)

    spark.sql(s"REFRESH TABLE $refTable")
    val ref = spark.table(refTable)
    if (batchId > IvmMaintenance.lastApplied(spark, refTable)) {
      IvmMaintenance.assertRowIdContract(
        Seq(IvmMaintenance.RowIds("IngestDistinctView", base, inserts, deleteIds)), "row_id",
        "refcounts would double-count while the base keeps one row",
        Some("refcount arithmetic has no replace semantics"))
      val merged = Storage.mergeDistinctDelta(
          ref.where(col("rc").isNotNull).drop("__batch"),
          base.select(col("row_id"), col("grp"), col("value")),
          inserts, deleteIds, "row_id", "grp", "value")
        .withColumn("__batch", lit(batchId))
      IvmMaintenance.swapViewWithSentinel(spark, refTable, merged, batchId)
    }

    // base rebuild, touched buckets only, idempotent ([[IvmMaintenance]]
    // piece 4 — the GROUP is the bucket key)
    IvmMaintenance.rebuildTouchedBuckets(
      spark, baseTable, base, inserts, deleteIds, Seq("row_id"), "grp", buckets)
  }
}
