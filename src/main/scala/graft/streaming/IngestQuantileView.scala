package graft.streaming

import graft.Materialize
import graft.sources.Storage
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of a per-group QUANTILE view — the
  * streaming face of [[graft.sources.Storage.mergeQuantileCellsDelta]],
  * run as a `foreachBatch` body: each micro-batch of row-level changes
  * (`row_id`, `grp`, `value`, `op` ∈ insert|delete) updates
  *
  *  1. the (grp, cell, rc) DYADIC-CELL refcount relation by pure delta
  *     arithmetic — the bounded bracketing structure from which
  *     [[graft.sources.Storage.quantilesFromCells]] serves exact type-1
  *     quantiles; fully self-maintainable (no dirty recompute exists in
  *     this shape — the refcount algebra is the count-distinct one, one
  *     level up), the base read only to recover deleted rows' values;
  *  2. the BASE row store, hash-bucket partitioned on the group — the
  *     [[IngestAggView]] rebuild machinery (idempotent, touched buckets
  *     only, dynamic overwrite through a staging hop, emptied buckets
  *     dropped). Serving reads candidate-cell rows from this store.
  *
  * Replay safety, the drained-view watermark sentinel (`rc IS NULL`),
  * and the duplicate-insert-id loud contract follow [[IngestDistinctView]]
  * verbatim; an insert reusing a live base id is REJECTED for the same
  * reason (refcount arithmetic has no replace semantics — the cell would
  * count the value twice while the base keeps one row; send
  * delete+insert).
  *
  * Bootstrap both tables before the stream starts: the base partitioned
  * by `bkt = pmod(hash(grp), buckets)`, the cell relation
  * (grp, cell, rc) with `__batch = -1`.
  *
  * `weight = Some(col)` switches the state to WEIGHTED mass
  * ([[graft.sources.Storage.mergeWeightedQuantileCellsDelta]] — rc is
  * Σ weight per cell, the q197 LONG ≥ 1 contract): the batch and the
  * base then carry that column, and serving goes through
  * [[graft.sources.Storage.weightedQuantilesFromCells]].
  */
object IngestQuantileView {
  /** The TWO-STORE pattern's refresh step: re-lay the read-optimized
    * serve store from the maintained base. The maintainer's hash-bucket
    * layout is write-optimized (touched-bucket rebuilds); the Z-ordered
    * layout ([[Storage.writeQuantileServeLayout]]) is read-optimized
    * (candidate (bucket, cell) IN-filters prune row groups at serve
    * time). They are two physical organizations of the SAME base, so
    * re-laying periodically — after every batch, every N batches, or on
    * a timer — trades relay write cost against serve scan cost; serving
    * through either is value-identical (the layout is a superset
    * restriction, [[Storage.quantilesFromCellsLayout]]'s contract).
    * Serve from the relay with [[Storage.quantilesFromCellsLayout]]
    * (or the weighted form) over the maintained cell relation.
    */
  def relayServeLayout(
      spark: SparkSession,
      baseTable: String,
      grp: String,
      value: String,
      scale: Int,
      grpBuckets: Int,
      bits: Int,
      files: Int,
      path: String): Unit = {
    spark.sql(s"REFRESH TABLE $baseTable")
    Storage.writeQuantileServeLayout(
      spark.table(baseTable).drop("bkt"), grp, value, scale, grpBuckets, bits, files, path)
  }
}

final class IngestQuantileView(
    baseTable: String,
    cellTable: String,
    buckets: Int,
    scale: Int,
    weight: Option[String] = None
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(baseTable) && spark.catalog.tableExists(cellTable),
      s"IngestQuantileView: '$baseTable' and '$cellTable' must be initialized first")

    val changes = Materialize.persist(batch)
    val payload = Seq("row_id", "grp", "value") ++ weight
    val inserts = changes.where(col("op") === "insert")
      .select(payload.map(col): _*)
    val deleteIds = changes.where(col("op") === "delete").select(col("row_id"))
    spark.sql(s"REFRESH TABLE $baseTable")
    val base = spark.table(baseTable)

    spark.sql(s"REFRESH TABLE $cellTable")
    val cells = spark.table(cellTable)
    if (batchId > IvmMaintenance.lastApplied(spark, cellTable)) {
      IvmMaintenance.assertRowIdContract(
        Seq(IvmMaintenance.RowIds("IngestQuantileView", base, inserts, deleteIds)), "row_id",
        "cell refcounts would double-count while the base keeps one row",
        Some("refcount arithmetic has no replace semantics"))
      val liveCells = cells.where(col("rc").isNotNull).drop("__batch")
      val basePayload = base.select(payload.map(col): _*)
      val merged = (weight match {
        case Some(w) => Storage.mergeWeightedQuantileCellsDelta(
          liveCells, basePayload, inserts, deleteIds, "row_id", "grp", "value", w, scale)
        case None => Storage.mergeQuantileCellsDelta(
          liveCells, basePayload, inserts, deleteIds, "row_id", "grp", "value", scale)
      }).withColumn("__batch", lit(batchId))
      IvmMaintenance.swapViewWithSentinel(spark, cellTable, merged, batchId)
    }

    // base rebuild, touched buckets only, idempotent ([[IvmMaintenance]]
    // piece 4 — the GROUP is the bucket key)
    IvmMaintenance.rebuildTouchedBuckets(
      spark, baseTable, base, inserts, deleteIds, Seq("row_id"), "grp", buckets)
  }
}
