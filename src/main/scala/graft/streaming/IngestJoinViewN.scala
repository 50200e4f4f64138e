package graft.streaming

import graft.Materialize
import graft.sources.Storage
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Cross-batch streaming maintenance of an N-WAY join-chain view — the
  * streaming face of [[graft.sources.Storage.mergeJoinViewNDelta]], and
  * the recursive generalization that retires the per-arity maintainer
  * series at [[IngestJoinView3]]: each micro-batch carries row-level
  * changes to ANY of the n side tables (`side` = the side's 0-based
  * index as a string, `row_id`, the union of all sides' payload columns
  * with don't-care zeros elsewhere, `op` ∈ insert|delete) and updates
  *
  *  1. the view (`grp`, n, total) by the recursive signed delta fold
  *     (`2^n − 1` delta-restricted terms, every delta-derived relation
  *     broadcast);
  *  2. every side's BASE row store, hash-bucket partitioned on its LEFT
  *     link key (side 0 on `keys(0)`; side i on `keys(i−1)` — the
  *     [[IngestJoinView3]] convention generalized), touched buckets only
  *     via [[IvmMaintenance.rebuildBuckets]].
  *
  * A batch's latency is its job count, so the batch is read onto the
  * driver once and everything derived from it stays there: one job
  * gathers every side's signed delta (inserts at +1, the base rows the
  * deletes recover at −1, each tagged with its bucket), which then feeds
  * the delta fold as local relations and names every side's touched
  * buckets without another job. The row-id contract probes all sides'
  * bases in one job. A 3-side first-delivery batch runs at most 38 jobs
  * (see the budget in [[IvmMaintenance]], pinned by `JoinViewLawSpec`).
  *
  * Replay safety (the view's `_v<batchId>` watermark + drained-view
  * sentinel `n IS NULL`) and the per-side loud row-id contract
  * (full-base probe) are the [[IvmMaintenance]] pieces, shared verbatim
  * with every maintainer.
  *
  * Side schemas follow [[graft.sources.Storage.mergeJoinViewNDelta]]:
  * side 0 `(row_id, keys(0), grp)`, middle side i
  * `(row_id, keys(i−1), keys(i))`, last side `(row_id, keys(n−2),
  * value)`. Bootstrap all n+1 tables before the stream starts: bases
  * partitioned by `bkt = pmod(hash(<left link key>), buckets)`, the
  * view with `__batch = -1`.
  */
final class IngestJoinViewN(
    tables: Seq[String],
    viewTable: String,
    keys: Seq[String],
    buckets: Int
) extends ((DataFrame, Long) => Unit) with Serializable {

  private val n = tables.size
  require(n >= 2, s"IngestJoinViewN: need at least 2 sides, got $n")
  require(keys.size == n - 1, s"IngestJoinViewN: ${keys.size} keys for $n sides")

  /** Side i's payload columns (without row_id). */
  private def payload(i: Int): Seq[String] =
    if (i == 0) Seq(keys(0), "grp")
    else if (i == n - 1) Seq(keys(n - 2), "value")
    else Seq(keys(i - 1), keys(i))

  private def bucketKey(i: Int): String = if (i == 0) keys(0) else keys(i - 1)

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require((tables :+ viewTable).forall(spark.catalog.tableExists),
      s"IngestJoinViewN: ${(tables :+ viewTable).mkString(", ")} must be initialized first")
    def local(rows: Array[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)

    // The batch, read once onto the driver. The delta algebra broadcasts
    // every delta-derived relation, so the changes fit there, and every
    // later read of a filter or projection of them is a local relation
    // with no job of its own.
    val changes = local(batch.collect(), batch.schema)
    tables.foreach(t => spark.sql(s"REFRESH TABLE $t"))
    val olds = tables.map(spark.table)
    val ins = (0 until n).map { i =>
      changes.where(col("side") === i.toString && col("op") === "insert")
        .select(("row_id" +: payload(i)).map(col): _*)
    }
    val del = (0 until n).map { i =>
      changes.where(col("side") === i.toString && col("op") === "delete")
        .select(col("row_id"))
    }
    // Every side's signed delta from ONE job: its inserts at +1 and the
    // base rows its deletes recover at −1, each with the bucket it lives
    // in. Held on the driver, it feeds the delta algebra as local
    // relations and names the touched buckets without another job.
    val signed = (0 until n).map { i =>
      val cols = (lit(i).as("__side") +: payload(i).map(col)) :+ col("bkt")
      ins(i).withColumn("bkt", IvmMaintenance.bucketOf(bucketKey(i), buckets))
        .select(cols :+ lit(1).as("sign"): _*)
        .unionByName(olds(i)
          .where(col("row_id").isin(del(i).collect().map(_.get(0)).toIndexedSeq: _*))
          .select(cols :+ lit(-1).as("sign"): _*))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val signedRows = signed.collect()
    val signedLocal = local(signedRows, signed.schema)
    val deltas = (0 until n).map { i =>
      signedLocal.where(col("__side") === i).select((payload(i) :+ "sign").map(col): _*)
    }
    val touched = (0 until n).map { i =>
      signedRows.filter(_.getInt(0) == i).map(r => r.getInt(r.fieldIndex("bkt"))).distinct.toSeq
    }

    if (batchId > IvmMaintenance.lastApplied(spark, viewTable)) {
      IvmMaintenance.assertRowIdContract(
        (0 until n).map(i => IvmMaintenance.RowIds(s"IngestJoinViewN side $i", olds(i), ins(i), del(i))),
        "row_id",
        "the delta algebra counts each insert while the bucket rebuild keeps one row per id",
        Some("the base rebuild drops the old row while the view delta never subtracted it"))
      spark.sql(s"REFRESH TABLE $viewTable")
      val merged = Storage.mergeJoinViewNDelta(
          spark.table(viewTable).where(col("n").isNotNull).drop("__batch"),
          (0 until n).map(i => olds(i).select(payload(i).map(col): _*)),
          deltas, keys)
        .withColumn("__batch", lit(batchId))
      IvmMaintenance.swapViewWithSentinel(spark, viewTable, merged, batchId)
    }

    (0 until n).foreach { i =>
      IvmMaintenance.rebuildBuckets(spark, tables(i), olds(i), ins(i), del(i), Seq("row_id"),
        bucketKey(i), buckets, touched(i))
    }
  }
}
