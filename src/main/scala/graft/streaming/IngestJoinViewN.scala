package graft.streaming

import graft.Materialize
import graft.sources.Storage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  *     via [[IvmMaintenance.rebuildTouchedBuckets]].
  *
  * Replay safety (view `__batch` + drained-view sentinel `n IS NULL`)
  * and the per-side loud row-id contract (full-base probe) are the
  * [[IvmMaintenance]] pieces, shared verbatim with every maintainer.
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

    val changes = Materialize.persist(batch)
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
    val deltas = (0 until n).map { i =>
      val cols = payload(i).map(col)
      ins(i).select(cols :+ lit(1).as("sign"): _*)
        .unionByName(olds(i).join(del(i), Seq("row_id"), "left_semi")
          .select(cols :+ lit(-1).as("sign"): _*))
    }

    spark.sql(s"REFRESH TABLE $viewTable")
    val view = spark.table(viewTable)
    if (batchId > IvmMaintenance.lastApplied(view)) {
      (0 until n).foreach { i =>
        IvmMaintenance.assertUniqueInsertIds(s"IngestJoinViewN side $i", ins(i), "row_id",
          "the delta algebra counts each insert while the bucket rebuild keeps " +
            "one row per id")
        IvmMaintenance.assertNoLiveIdReuse(s"IngestJoinViewN side $i", olds(i), ins(i),
          del(i), "row_id",
          "the base rebuild drops the old row while the view delta never subtracted it")
      }
      val merged = Storage.mergeJoinViewNDelta(
          view.where(col("n").isNotNull).drop("__batch"),
          (0 until n).map(i => olds(i).select(payload(i).map(col): _*)),
          deltas, keys)
        .withColumn("__batch", lit(batchId))
      IvmMaintenance.swapViewWithSentinel(spark, viewTable, merged, batchId)
    }

    (0 until n).foreach { i =>
      IvmMaintenance.rebuildTouchedBuckets(
        spark, tables(i), olds(i), ins(i), del(i), Seq("row_id"), bucketKey(i), buckets)
    }
  }
}
