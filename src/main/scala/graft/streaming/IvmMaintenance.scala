package graft.streaming

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogTablePartition, CatalogTableType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The ONE copy of the exactly-once machinery shared by every streaming
  * IVM maintainer ([[IngestAggView]], [[IngestJoinView]],
  * [[IngestJoinView3]], [[IngestTopKView]], [[IngestDistinctView]],
  * [[IngestQuantileView]], [[IngestJoinViewN]]) — previously six
  * near-identical inline blocks, which made "a fix applied to five of
  * six" the likeliest path to a silent IVM bug. A micro-batch's latency
  * is set by how many Spark jobs it runs, not by how many rows it
  * carries, so every piece is built to add as few jobs as it can. Four
  * pieces:
  *
  *  1. '''Versioned view swap''' ([[swapViewWithSentinel]]): each view
  *     version is written ONCE, to `_v<batchId>` under the table's root
  *     directory, and the table is repointed there by one catalog update
  *     (location and schema together, so a reader sees the old version or
  *     the new one, never a mix). Every other entry under the root — the
  *     bootstrap files, superseded versions, a crashed attempt's version
  *     — is deleted after the repoint, so on-disk state does not grow.
  *     The leading `_` hides versions from Spark's listing of the root.
  *     Each version also carries exactly one all-null SENTINEL row with
  *     the new `__batch`, so a batch that drains the view to zero data
  *     rows still records its watermark in the data. Readers filter the
  *     first data column `IS NOT NULL`.
  *  2. '''Replay watermark''' ([[lastApplied]]): IVM delta arithmetic is
  *     not idempotent, so a redelivered batch with `batchId <= last
  *     applied` must skip the view update. The last applied batch is the
  *     `_v<batchId>` name of the table's location — catalog metadata, no
  *     job. Only a view never swapped yet (the bootstrap table) is
  *     scanned for `max(__batch)`.
  *  3. '''Loud row-id contract''' ([[assertRowIdContract]]): duplicate
  *     insert ids within a batch, or an insert reusing a row id still
  *     live in the pre-batch base without a same-batch delete, would
  *     silently desynchronize the delta algebra (which counts every
  *     insert) from the bucket rebuild (which keeps one row per id) —
  *     both throw. The batch's ids are counted on the driver, and one
  *     job probes the bases of every side of a multi-table maintainer at
  *     once. The probe filters the id column across the WHOLE base, not
  *     just the buckets the inserts' keys hash to, so a cross-key reuse
  *     of a live row id (different key → different bucket) is caught
  *     too; the scan shape (column-pruned id read, the ids as a literal
  *     set, no shuffle) is the one every maintainer already pays to
  *     recover deleted rows by id.
  *  4. '''Touched-bucket base rebuild''' ([[rebuildTouchedBuckets]],
  *     [[rebuildBuckets]]): the base row store is hash-bucket partitioned
  *     on a key (`bkt`); only buckets containing this batch's changed keys
  *     are rebuilt — partition-pruned read, survivors anti-joined against
  *     one relation of the deleted and inserted ids (idempotent: re-runs
  *     converge, deleting an absent row is a no-op), inserts unioned —
  *     and written ONCE, one file per bucket, partitioned by `bkt`, to a
  *     fresh `_b<nonce>` directory under the table's root. Each touched
  *     bucket is then repointed in the catalog: a bucket the write
  *     produced moves to its new directory (or is added), a bucket it did
  *     not produce — one the batch fully EMPTIED — is dropped, so its
  *     stale rows cannot survive and be resurrected by later dirty-key
  *     recomputes. Which buckets the write produced is read from the
  *     output directory's listing, not from a second job. Superseded
  *     bucket directories, and any directory under the root no bucket
  *     points into, are deleted.
  *
  * Crash analysis: view-first ordering means a crash before the view's
  * repoint replays everything (the unreferenced `_v` directory is
  * rewritten); a crash after it replays with the view skipped and the
  * bases healed. Every bucket points either at its old directory or at
  * its rebuilt one, never at a partial write, and the rebuild is
  * idempotent per bucket, so a replay over any mix converges. A crashed
  * rebuild's own directory is never reused (the nonce), so a replay never
  * overwrites a directory a bucket already points into.
  *
  * Job budget: a first-delivery 3-side [[IngestJoinViewN]] batch with
  * inserts and deletes on every side runs at most 38 Spark jobs (25 when
  * this was written, 74–76 before the pieces above were cut down).
  * `JoinViewLawSpec` pins it, beside the batch-split, redelivery and
  * crash law every change here must keep.
  */
private[streaming] object IvmMaintenance {

  private def ident(spark: SparkSession, table: String): TableIdentifier =
    spark.sessionState.sqlParser.parseTableIdentifier(table)

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private val ViewVersion = """_v(\d+)""".r
  private val BucketDir = """bkt=(\d+)""".r

  /** The last batch applied to `viewTable`: the `_v<batchId>` its
    * location names, or, before the first swap, `max(__batch)` over the
    * view including its sentinel row (-1 for an all-null watermark).
    */
  def lastApplied(spark: SparkSession, viewTable: String): Long =
    new Path(spark.sessionState.catalog.getTableMetadata(ident(spark, viewTable)).location)
      .getName match {
      case ViewVersion(b) => b.toLong
      case _ =>
        val lastRow = spark.table(viewTable).agg(max(col("__batch"))).head()
        if (lastRow.isNullAt(0)) -1L else lastRow.getLong(0)
    }

  /** Writes `merged` (already carrying `__batch = batchId` on data rows)
    * plus exactly one all-null sentinel row as version `_v<batchId>` of
    * `viewTable` and repoints the table to it (class doc piece 1). The
    * caller filtered the PREVIOUS sentinel out of the merge input, so
    * each view version carries exactly one.
    */
  def swapViewWithSentinel(
      spark: SparkSession,
      viewTable: String,
      merged: DataFrame,
      batchId: Long): Unit = {
    val sentinel = spark.range(1).select(
      merged.schema.fields.map { f =>
        if (f.name == "__batch") lit(batchId).as("__batch")
        else lit(null).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
    val next = merged.unionByName(sentinel)
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(ident(spark, viewTable))
    require(meta.tableType == CatalogTableType.MANAGED,
      s"$viewTable: a maintained view must be a managed table, since each swap sweeps its directory")
    require(meta.partitionColumnNames.isEmpty,
      s"$viewTable: a maintained view is swapped whole and must not be partitioned")
    val current = new Path(meta.location)
    val root = if (ViewVersion.matches(current.getName)) current.getParent else current
    val version = new Path(root, s"_v$batchId")
    next.write.mode(SaveMode.Overwrite).format("parquet").save(version.toString)
    catalog.alterTable(meta.copy(
      schema = StructType(next.schema.map(_.copy(nullable = true))),
      storage = meta.storage.copy(locationUri = Some(version.toUri))))
    spark.sql(s"REFRESH TABLE $viewTable")
    val rootFs = fs(spark, root)
    rootFs.listStatus(root).map(_.getPath)
      .filterNot(_.getName == version.getName)
      .foreach(rootFs.delete(_, true))
  }

  /** One table's share of a batch for the row-id contract: its pre-batch
    * `base`, the batch's `inserts` and its `deleteIds`. `ctx` prefixes
    * the messages.
    */
  final case class RowIds(ctx: String, base: DataFrame, inserts: DataFrame, deleteIds: DataFrame)

  /** Throws if any side's batch carries duplicate insert ids, or — with
    * `reuseConsequence` given — an insert reusing an id still live in
    * that side's pre-batch base without a same-batch delete (class doc
    * piece 3). The batch's ids are read onto the driver (no job when the
    * batch already lives there) and every side's base is probed in ONE
    * job; the counting runs on the driver. The consequences name what the
    * caller's algebra would silently do wrong. Call only on FIRST delivery
    * (inside the replay guard): a redelivered batch's inserts already
    * live in the healed base by design, which is exactly what the
    * idempotent rebuild expects.
    */
  def assertRowIdContract(
      sides: Seq[RowIds],
      idCol: String,
      dupConsequence: String,
      reuseConsequence: Option[String]): Unit = {
    def ids(df: DataFrame): Seq[Any] = df.select(col(idCol)).collect().map(_.get(0)).toSeq
    val insIds = sides.map(s => ids(s.inserts))
    val reused: Seq[Long] = reuseConsequence.fold(sides.map(_ => 0L)) { _ =>
      val delIds = sides.map(s => ids(s.deleteIds).toSet)
      val live = sides.indices.filter(insIds(_).nonEmpty).map { i =>
        sides(i).base.where(col(idCol).isin(insIds(i).distinct: _*))
          .select(lit(i).as("__side"), col(idCol))
      }.reduceOption(_ unionByName _).fold(Array.empty[Row])(_.collect())
      sides.indices.map(i => live.count(r => r.getInt(0) == i && !delIds(i)(r.get(1))).toLong)
    }
    sides.indices.foreach { i =>
      val dups = insIds(i).groupBy(identity).count(_._2.size > 1)
      if (dups > 0) throw new IllegalStateException(
        s"${sides(i).ctx}: batch carries $dups duplicate insert $idCol(s) — $dupConsequence")
      reuseConsequence.foreach { c =>
        if (reused(i) > 0) throw new IllegalStateException(
          s"${sides(i).ctx}: batch inserts ${reused(i)} $idCol(s) already live in the pre-batch " +
            s"base without a same-batch delete — $c; send delete+insert for updates")
      }
    }
  }

  /** `bkt` of a row whose bucket key is `bucketKey`. */
  def bucketOf(bucketKey: String, buckets: Int): org.apache.spark.sql.Column =
    pmod(hash(col(bucketKey)), lit(buckets))

  /** The touched-bucket idempotent base rebuild (class doc piece 4),
    * touched buckets taken from one collect.
    *
    * @param idCols    the row identity — a single surrogate (`row_id`)
    *                  for most maintainers, a COMPOSITE (e.g. the
    *                  canonical `(u, v)` edge pair in
    *                  [[IngestTrianglesCdc]]) where the domain key IS
    *                  the identity. Survivor anti-joins and the delete
    *                  recovery semi-join run on the full tuple.
    *                  CONTRACT: `inserts` must be the batch's inserts
    *                  MINUS rows already live in the base under the same
    *                  identity (the maintainers compute exactly this to
    *                  drive their delta algebra) — anti-joining
    *                  survivors on a raw insert feed while unioning only
    *                  the novel subset would silently drop a re-inserted
    *                  already-present row whose bucket another change
    *                  touches.
    * @param bucketKey column whose hash partitions the base (`bkt =
    *                  pmod(hash(bucketKey), buckets)`); inserts must
    *                  carry it plus `idCols` plus the table's other
    *                  payload columns (any order — the union is by name)
    * @param touchedFromChanges when the CDC feed carries `bucketKey` on
    *                  delete rows too, the caller may pass the changes
    *                  relation to derive touched buckets without the
    *                  base lookup; None recovers delete keys from the
    *                  base by id (the general form)
    */
  def rebuildTouchedBuckets(
      spark: SparkSession,
      table: String,
      base: DataFrame,
      inserts: DataFrame,
      deleteIds: DataFrame,
      idCols: Seq[String],
      bucketKey: String,
      buckets: Int,
      touchedFromChanges: Option[DataFrame] = None): Unit = {
    val changedKeys = touchedFromChanges.getOrElse(
      inserts.select(col(bucketKey)).unionByName(
        base.join(deleteIds, idCols, "left_semi").select(col(bucketKey))))
    val touched = changedKeys.select(bucketOf(bucketKey, buckets))
      .distinct().collect().map(_.getInt(0)).toSeq
    rebuildBuckets(spark, table, base, inserts, deleteIds, idCols, bucketKey, buckets, touched)
  }

  /** [[rebuildTouchedBuckets]] with the touched buckets already known —
    * for a caller that took them, with other tables', from one collect.
    */
  def rebuildBuckets(
      spark: SparkSession,
      table: String,
      base: DataFrame,
      inserts: DataFrame,
      deleteIds: DataFrame,
      idCols: Seq[String],
      bucketKey: String,
      buckets: Int,
      touched: Seq[Int]): Unit = {
    if (touched.isEmpty) return
    val cols = base.columns.map(col).toIndexedSeq
    val replaced = deleteIds.select(idCols.map(col): _*)
      .unionByName(inserts.select(idCols.map(col): _*))
    // the union widens to the inserts' types; the files must keep the table's
    val rebuilt = base.where(col("bkt").isin(touched: _*))
      .join(replaced, idCols, "left_anti")
      .unionByName(inserts.withColumn("bkt", bucketOf(bucketKey, buckets)).select(cols: _*))
      .select(base.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

    val catalog = spark.sessionState.catalog
    val id = ident(spark, table)
    val meta = catalog.getTableMetadata(id)
    require(meta.partitionColumnNames == Seq("bkt") && meta.tracksPartitionsInCatalog,
      s"$table: a rebuilt base must be partitioned by bkt alone, with its partitions in the " +
        s"catalog; got ${meta.partitionColumnNames.mkString("(", ", ", ")")}")
    val root = new Path(meta.location)
    val out = new Path(root, s"_b${UUID.randomUUID().toString.replace("-", "")}")
    // one writer per bucket: each rebuilt bucket is one file, however
    // many files and insert partitions fed it
    rebuilt.repartition(col("bkt"))
      .write.partitionBy("bkt").mode(SaveMode.Overwrite).format("parquet").save(out.toString)

    val outFs = fs(spark, out)
    val written =
      if (!outFs.exists(out)) Set.empty[Int]
      else outFs.listStatus(out).map(_.getPath.getName).collect { case BucketDir(b) => b.toInt }.toSet
    val existing = catalog.listPartitions(id).map(p => p.spec("bkt").toInt -> p).toMap
    def at(b: Int) = Some(new Path(out, s"bkt=$b").toUri)
    val (moved, added) = touched.filter(written).partition(existing.contains)
    val emptied = touched.filterNot(written).filter(existing.contains)
    if (moved.nonEmpty) catalog.alterPartitions(id, moved.map { b =>
      existing(b).copy(storage = existing(b).storage.copy(locationUri = at(b)))
    })
    if (added.nonEmpty) catalog.createPartitions(id, added.map { b =>
      CatalogTablePartition(Map("bkt" -> b.toString), meta.storage.copy(locationUri = at(b)))
    }, ignoreIfExists = false)
    if (emptied.nonEmpty) catalog.dropPartitions(id, emptied.map(b => Map("bkt" -> b.toString)),
      ignoreIfNotExists = true, purge = false, retainData = false)
    spark.sql(s"REFRESH TABLE $table")

    // superseded bucket directories, then directories under the root no
    // bucket points into (this rebuild's when every touched bucket
    // emptied, or what a crashed attempt left)
    (moved ++ emptied).foreach(b => outFs.delete(new Path(existing(b).location), true))
    val live = catalog.listPartitions(id).map(p => outFs.makeQualified(new Path(p.location)).toString)
    outFs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filterNot { d =>
        val dir = outFs.makeQualified(d).toString
        live.exists(p => p == dir || p.startsWith(dir + "/"))
      }
      .foreach(outFs.delete(_, true))
  }
}
