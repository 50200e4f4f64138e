package graft.streaming

import graft.Materialize
import graft.sources.Storage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of a per-key aggregate VIEW — the
  * streaming face of [[graft.sources.Storage.mergeAggDelta]], run as a
  * `foreachBatch` body: each micro-batch of row-level changes
  * (`rowId`, `key`, `value`, `op` ∈ insert|delete) updates
  *
  *  1. the aggregate view (`key`, n, total, mx) by IVM delta arithmetic —
  *     the base is touched only through `mergeAggDelta`'s semi-restricted
  *     dirty-key max recompute, never re-aggregated;
  *  2. the BASE row store itself, a parquet table partitioned by a hash
  *     bucket of the key: only the buckets containing this batch's keys
  *     are rebuilt (partition-pruned read, dynamic-partition-overwrite
  *     write through a staging hop) — per-batch base write cost is
  *     proportional to touched buckets, not base size. Touched buckets
  *     the batch's deletes fully EMPTIED are explicitly dropped: dynamic
  *     overwrite only replaces partitions present in the staging data,
  *     so without the drop an emptied bucket's stale rows would survive.
  *
  * Replay safety (foreachBatch is at-least-once): the view carries the
  * last applied `__batch` id; a redelivered batch with
  * `batchId <= max(__batch)` SKIPS the view update — IVM arithmetic is
  * not idempotent, so the guard, not the merge, provides exactly-once.
  * The watermark is persisted independently of the view's data rows:
  * every view write appends one all-null SENTINEL row (`n IS NULL`)
  * carrying `__batch`, so a batch that legitimately drains the view to
  * zero data rows does not reset `max(__batch)` to -1 and let a
  * redelivery re-apply the delta arithmetic ([[IngestJoinView]] is
  * hardened identically). Readers of the maintained view filter
  * `n IS NOT NULL`.
  * The base rebuild IS idempotent (inserts are anti-joined on `rowId`
  * before the union; deleting an absent row is a no-op), so it re-runs
  * unconditionally. Crash analysis: view-first ordering means a crash
  * before the view swap replays everything; a crash between view swap
  * and base rebuild replays with the view skipped and the base healed;
  * both converge (spec-proven at either hop).
  *
  * Bootstrap both tables before the stream starts: the base partitioned
  * by `bkt = pmod(hash(key), buckets)`, the view with `__batch = -1`.
  */
final class IngestAggView(
    rowId: String,
    key: String,
    value: String,
    baseTable: String,
    viewTable: String,
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(baseTable) && spark.catalog.tableExists(viewTable),
      s"IngestAggView: '$baseTable' and '$viewTable' must be initialized before the stream starts")

    val changes = Materialize.persist(batch)
    val inserts = changes.where(col("op") === "insert")
      .select(col(rowId), col(key), col(value))
    val deleteIds = changes.where(col("op") === "delete").select(col(rowId))
    // Catalog-backed reads throughout (never raw path scans): both the
    // base and the view may legitimately reach ZERO rows (every row /
    // every key deleted), and a bare parquet directory with no data
    // files cannot infer a schema — the catalog always knows it.
    spark.sql(s"REFRESH TABLE $baseTable")
    val base = spark.table(baseTable)

    // 1) view update, guarded for replay ([[IvmMaintenance]] pieces 1+2)
    spark.sql(s"REFRESH TABLE $viewTable")
    val view = spark.table(viewTable)
    if (batchId > IvmMaintenance.lastApplied(spark, viewTable)) {
      val merged = Storage.mergeAggDelta(
          view.where(col("n").isNotNull).drop("__batch"),
          base, inserts, deleteIds, rowId, key, value)
        .withColumn("__batch", lit(batchId))
      IvmMaintenance.swapViewWithSentinel(spark, viewTable, merged, batchId)
    }

    // 2) base rebuild, touched buckets only, idempotent ([[IvmMaintenance]]
    //    piece 4). This feed carries the key on DELETE rows too, so
    //    touched buckets derive from the changes relation directly.
    IvmMaintenance.rebuildTouchedBuckets(
      spark, baseTable, base, inserts, deleteIds, Seq(rowId), key, buckets,
      touchedFromChanges = Some(changes.select(col(key))))
  }
}
