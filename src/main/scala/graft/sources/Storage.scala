package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage-layout helpers — the parts of the 100 TB design that live in
  * how data is WRITTEN rather than how a query is planned.
  */
object Storage {

  /** Write a bucketed + in-bucket-sorted managed parquet table. Two tables
    * bucketed by the same key into the same bucket count join/aggregate on
    * that key with NO shuffle Exchange (and no sort, thanks to `sortBy`) —
    * the pre-shuffle is paid once at write time instead of on every query.
    * This is the standing answer for fact tables that are repeatedly
    * joined on one key (orders ⋈ lineitem on orderkey, documents ⋈
    * signatures on doc_id): at 100 TB the avoided exchange IS the query
    * cost. Verified by ScaleTechniquesSpec (the executed plan literally
    * contains no Exchange).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Morton / Z-ORDER value: interleave the low `bits` bits of two
    * non-negative integer columns — `a`'s bits land at even positions,
    * `b`'s at odd. Nearby (a, b) points get nearby z-values, which is the
    * whole trick: sort a table by z and every parquet file's min/max
    * stats become tight on BOTH columns at once, so a 2-D range predicate
    * prunes row groups that a single-column sort can only prune on its
    * one leading column. Pure arithmetic on disjoint bits (shift/and/
    * shift — whole-stage codegen, no UDF). Inputs must already be
    * normalized into [0, 2^bits) (quantize/`pmod` upstream); higher bits
    * are ignored, which keeps the map deterministic but destroys
    * locality, so normalize, don't truncate.
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
  }

  /** Write `df` Z-ORDER clustered on two integer columns ([[zValue]]):
    * range-partition by the z-value into `files` output files, sort
    * within each, drop the helper column — the 2-D analogue of a sorted
    * write. Readers filtering `a BETWEEN … AND b BETWEEN …` then skip
    * most row groups on parquet min/max stats alone (verified by
    * ScaleTechniquesSpec: per-file bounding areas shrink by the file
    * count, where a round-robin write leaves every file spanning the
    * whole plane). The range partitioner SAMPLES to place split points —
    * fine for layout (file boundaries move a little between runs; file
    * CONTENTS stay z-local either way).
    */
  def writeZOrdered(
      df: DataFrame,
      a: Column,
      b: Column,
      bits: Int,
      files: Int,
      path: String
  ): Unit = {
    require(files >= 1, s"files must be positive: $files")
    df.withColumn("__z", zValue(a, b, bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file row-count profile of a table — the "do I need to compact"
    * readout, computed DISTRIBUTED via `input_file_name()` (one
    * map-combined aggregation whose exchange carries distinct file
    * names, never a driver-side listing): `(n_files, min_rows,
    * avg_rows, max_rows, n_rows)`. A million 600-row files after a
    * high-parallelism streaming ingest is the classic silent 100 TB
    * tax — every scan pays open/footer costs per file and the driver
    * pays the listing; this is the monitor that catches it.
    */
  def fileStats(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame = {
    spark.table(table)
      .groupBy(input_file_name().as("file")).agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_files"),
        min(col("n")).as("min_rows"),
        round(avg(col("n")), 1).as("avg_rows"),
        max(col("n")).as("max_rows"),
        sum(col("n")).as("n_rows"))
  }

  /** What one [[compact]] run did: how many under-target files were
    * merged, how many rows they held, and how many files replaced them.
    * All-zero = no-op (nothing worth merging).
    */
  final case class CompactResult(
      filesCompacted: Long, rowsCompacted: Long, filesWritten: Long)

  /** INCREMENTAL small-files compaction, the maintenance sibling of
    * [[fileStats]]: merge ONLY the files holding fewer than
    * `targetRowsPerFile` rows into `ceil(smallRows / targetRowsPerFile)`
    * replacements; right-sized files are never read, never rewritten.
    * Bytes written ≈ small-file bytes — at 100 TB with a healthy table
    * that is the fragmented tail, not 2× the table (the round-8
    * full-rewrite write-amplification finding). Round-robin repartition
    * (no key: compaction must not skew on data).
    *
    * Write path: ONE data write to a hidden staging directory beside the
    * table, then a metadata-only swap — staged files rename into the
    * table directory and the merged originals are deleted. A
    * `_GRAFT_MANIFEST` written AFTER the staged write certifies it is
    * complete, which makes the swap resumable: a later [[compact]] call
    * finding staging WITH a manifest finishes the swap (renames and
    * deletes are idempotent); staging WITHOUT a manifest is a dead
    * partial write and is discarded untouched — the table never loses a
    * row either way.
    *
    * Crash-safety contract (plain parquet has no transaction log): a
    * crash mid-swap can leave BOTH a merged replacement and some of its
    * originals visible — transient DUPLICATES, healed by the next
    * [[compact]] call — never data loss. Run compaction in a maintenance
    * window, or on a snapshot path, if readers cannot tolerate that
    * window.
    *
    * Bucketed tables ([[writeBucketed]]) are REFUSED: merging files
    * ignores bucket boundaries, and a rewrite that drops `bucketBy` would
    * silently discard the exchange-elision layout this same file
    * advertises. Re-write those with [[writeBucketed]] at a larger
    * bucket size instead. Catalog-PARTITIONED tables are refused for the
    * same class of reason: partition values are directory-encoded, so the
    * merged replacements (renamed into the table root) would carry null
    * partition columns while their originals vanish from partition
    * directories — silent row loss to partition-aware readers. Point
    * compaction at one partition's path instead.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      targetRowsPerFile: Long
  ): CompactResult = {
    import org.apache.hadoop.fs.Path
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be positive: $targetRowsPerFile")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    require(meta.bucketSpec.isEmpty,
      s"refusing to compact bucketed table '$table' (${meta.bucketSpec.get}): a plain " +
        "rewrite would discard the bucket layout; re-write with writeBucketed instead")
    require(meta.partitionColumnNames.isEmpty,
      s"refusing to compact partitioned table '$table' " +
        s"(partitioned by ${meta.partitionColumnNames.mkString(", ")}): the merged " +
        "replacements would land in the table root with null partition values while the " +
        "originals are deleted inside partition directories — partition-aware readers " +
        "would silently lose those rows; compact each partition's path directly instead")
    spark.sql(s"REFRESH TABLE $table") // tolerate a prior rewrite in another session
    val loc = new Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new Path(loc.getParent, s".${loc.getName}__graft_compact")
    val manifest = new Path(staging, "_GRAFT_MANIFEST")
    if (fs.exists(staging)) {
      // finish a crashed swap (manifest present = staged data is complete)
      // or discard a dead partial write (no manifest = nothing swapped yet)
      if (fs.exists(manifest)) finishSwap(fs, staging, manifest, loc)
      else fs.delete(staging, true)
      spark.sql(s"REFRESH TABLE $table")
    }
    // the work list is the SMALL-file set (name, rows) — driver memory is
    // bounded by the fragmented tail being repaired, not by table rows
    val small = spark.table(table)
      .groupBy(input_file_name().as("file")).agg(count(lit(1)).as("n"))
      .where(col("n") < targetRowsPerFile)
      .collect()
    val smallRows = small.map(_.getAs[Long]("n")).sum
    val k = math.max(1L, (smallRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    if (small.length <= 1 || k >= small.length)
      return CompactResult(0L, 0L, 0L) // merging cannot reduce the file count
    val smallFiles = small.map(_.getAs[String]("file"))
    spark.read.schema(spark.table(table).schema).parquet(smallFiles.toIndexedSeq: _*)
      .repartition(k)
      .write.mode("overwrite").parquet(staging.toString)
    val out = fs.create(manifest, true)
    out.write(smallFiles.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    finishSwap(fs, staging, manifest, loc)
    spark.sql(s"REFRESH TABLE $table")
    CompactResult(small.length.toLong, smallRows, k.toLong)
  }

  /** Complete a staged compaction: move staged data files into the table
    * directory, delete the manifest's originals, drop staging. Every step
    * is idempotent, so this can resume after a crash at any point.
    */
  private def finishSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      manifest: org.apache.hadoop.fs.Path,
      loc: org.apache.hadoop.fs.Path
  ): Unit = {
    import org.apache.hadoop.fs.Path
    fs.listStatus(staging)
      .filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .foreach(s => fs.rename(s.getPath, new Path(loc, s.getPath.getName)))
    val in = fs.open(manifest)
    val originals =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
      finally in.close()
    originals.filter(_.nonEmpty).foreach { uri =>
      val p = new Path(new java.net.URI(uri))
      if (fs.exists(p)) fs.delete(p, false)
    }
    fs.delete(staging, true)
  }

  /** Apply a CDC change batch to a snapshot — the merge/upsert step that
    * maintains a table from a change stream (the batch half of the
    * [[Polling]] CDC source's contract) without a transactional table
    * format: latest-wins per key by `(version, change-precedence)`,
    * deletes drop the key.
    *
    * Contract: `snapshot` and `changes` share the payload schema;
    * `changes` adds an `op` column (`"upsert"` | `"delete"`); `version`
    * names a monotone column present in both (ingest timestamp or LSN).
    * On a (key, version) TIE between a snapshot row and a change row,
    * the CHANGE wins (re-applying a batch converges — idempotent
    * replay); ties between two change rows are a malformed feed and
    * break deterministically by op precedence (delete > upsert).
    *
    * Scale shape: union → one hash exchange on the key → rank-1 filter,
    * which Catalyst rewrites to WindowGroupLimit, so map tasks pre-prune
    * to one candidate row per key before the shuffle. Snapshot-over-
    * snapshot like [[graft.dedup.Dedup.dropSeen]]: the output IS the new
    * snapshot — write it bucketed by the key and the next apply's
    * exchange disappears too.
    */
  /** SCD2 historization — the VALIDITY-INTERVAL complement of
    * [[applyChanges]]'s latest-wins snapshot: turn a change feed into one
    * row per version with `[valid_from, valid_to)` bounds (`valid_to`
    * null = still current) and an `is_current` flag — the "what did this
    * dimension row look like when that training example was sampled"
    * lineage artifact. A `delete` change CLOSES the prior version's
    * interval and emits no row of its own: the key simply has no current
    * version after it.
    *
    * Contract mirrors [[applyChanges]]: rows carry the payload plus an
    * `op` column (`"upsert"` | `"delete"`) and a monotone `version`;
    * (key, version) pairs must be unique — two changes at the same
    * instant have no defined order, and unlike the snapshot merge there
    * is no precedence rule that can hide that (the feed is malformed).
    *
    * Scale shape: ONE hash exchange on the key + in-partition sort
    * (`lead` over the key window); Catalyst plans a single WindowExec.
    * Write the output partitioned by `is_current` and current-state
    * readers scan one partition.
    */
  def historize(
      changes: DataFrame,
      key: Column,
      version: Column
  ): DataFrame = {
    val w = Window.partitionBy(key).orderBy(version.asc)
    changes
      .withColumn("valid_from", version)
      .withColumn("valid_to", lead(version, 1).over(w))
      .where(col("op") =!= "delete")
      .drop("op")
      .withColumn("is_current", col("valid_to").isNull)
  }

  def applyChanges(
      snapshot: DataFrame,
      changes: DataFrame,
      key: Column,
      version: Column
  ): DataFrame = {
    val snap = snapshot
      .withColumn("__op", lit("upsert"))
      .withColumn("__pri", lit(0))
    val chg = changes
      .withColumn("__op", col("op"))
      .withColumn("__pri", when(col("op") === "delete", 2).otherwise(1))
      .drop("op")
    val w = Window.partitionBy(key)
      .orderBy(version.desc, col("__pri").desc)
    snap.unionByName(chg)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col("__op") =!= "delete")
      .drop("__rn", "__op", "__pri")
  }

  /** Snapshot DIFF — the change report between two corpus versions ("what
    * did the new crawl / the re-run pipeline actually change?"): one row
    * per key that differs, tagged `added` (only in `b`), `removed` (only
    * in `a`) or `changed` (present in both, some compared column differs),
    * with the sorted list of differing columns in `changed_cols`
    * (comma-joined; null-safe comparison, so null→value and value→null
    * both count as a change). Unchanged keys are dropped — at 100 TB the
    * interesting output is the delta, which is typically orders of
    * magnitude smaller than either snapshot.
    *
    * Scale shape: ONE full-outer hash join on the key (both sides shuffle
    * once on `keyCol`; snapshots bucket-written by the key via
    * [[writeBucketed]] diff with NO exchange at all), then pure per-row
    * expressions — no window, no second pass. `keyCol` must be unique per
    * snapshot (it is a snapshot key); duplicate keys would cross-multiply
    * in the join.
    */
  def diffSnapshots(
      a: DataFrame,
      b: DataFrame,
      keyCol: String,
      compareCols: Seq[String]
  ): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val al = a.select((keyCol +: compareCols).map(col): _*).as("a")
    val bl = b.select((keyCol +: compareCols).map(col): _*).as("b")
    val joined = al.join(bl, col(s"a.$keyCol") === col(s"b.$keyCol"), "full_outer")
    val inA = col(s"a.$keyCol").isNotNull
    val inB = col(s"b.$keyCol").isNotNull
    val diffs = compareCols.sorted.map { c =>
      when(!(col(s"a.$c") <=> col(s"b.$c")), lit(c))
    }
    joined.select(
      coalesce(col(s"a.$keyCol"), col(s"b.$keyCol")).as(keyCol),
      when(inA && !inB, lit("removed"))
        .when(!inA && inB, lit("added"))
        .when(compareCols.map(c => !(col(s"a.$c") <=> col(s"b.$c"))).reduce(_ || _), lit("changed"))
        .otherwise(lit("unchanged")).as("change"),
      when(inA && inB, array_join(array(diffs: _*), ",")).otherwise(lit("")).as("changed_cols"))
      .where(col("change") =!= "unchanged")
  }

  /** Incremental maintenance of a per-key aggregate view — update
    * `(key, n, total, mx)` for a batch of row inserts and deletes WITHOUT
    * re-aggregating the base table.
    *
    * The production IVM pattern for a 100-TB base: `count` and `sum` are
    * self-maintainable (pure delta arithmetic — the base is never
    * touched); `max` is self-maintainable under inserts
    * (`greatest(mx, max(inserted))`) but NOT under deletes — if the
    * deleted row WAS the max, the new max is unknowable from the state.
    * For exactly the keys with a delete (the "dirty" keys), the new max
    * is recomputed from surviving base rows — and that recompute scan is
    * SEMI-JOIN-restricted to dirty keys, so its cost is proportional to
    * the dirty keys' row share, not the base size (with the base
    * partitioned/bucketed by key, partition pruning makes it near-free).
    * Keys whose rows are all deleted leave the view.
    *
    * Batch collision contract: within one batch `inserts` and `deleteIds`
    * are UNORDERED sets, not a sequenced CDC log. A `rowId` appearing in
    * BOTH is a REPLACE — the delete applies to the pre-batch base row (if
    * any) and the insert always lands, so the view counts the inserted
    * value. [[graft.streaming.IngestAggView]]'s base rebuild implements
    * the same rule (base rows anti-joined on both id sets, inserts
    * unioned in), so view and base stay consistent under every collision:
    * insert-then-delete of a never-stored row keeps the row in both;
    * delete-then-reinsert replaces it in both. Producers needing
    * sequenced same-batch semantics must collapse ops per rowId upstream
    * (emit only the net op) before calling this.
    *
    * @param state   the maintained view: (`key`, n, total, mx)
    * @param base    the base row store BEFORE this batch: (`rowId`, `key`,
    *                `value`); `rowId` unique
    * @param inserts new rows (`rowId`, `key`, `value`)
    * @param deleteIds row ids to remove (single column `rowId`)
    * @return the updated view, same schema as `state`
    */
  def mergeAggDelta(
      state: DataFrame,
      base: DataFrame,
      inserts: DataFrame,
      deleteIds: DataFrame,
      rowId: String,
      key: String,
      value: String
  ): DataFrame = {
    val insAgg = inserts.groupBy(col(key))
      .agg(count(lit(1)).as("__ni"), sum(col(value)).as("__ti"), max(col(value)).as("__mi"))
    // Deleted rows' (key, value): the delete-id relation is the small side
    // — a semi join the optimizer can broadcast, keeping the base scan
    // filter-pruned rather than shuffled.
    val delRows = base.join(deleteIds.select(col(rowId)), Seq(rowId), "left_semi")
    val delAgg = delRows.groupBy(col(key))
      .agg(count(lit(1)).as("__nd"), sum(col(value)).as("__td"))
    val dirty = delAgg.select(col(key))

    // Surviving rows of dirty keys only: base ∖ deletes ∪ inserts, each
    // side semi-restricted BEFORE any aggregation.
    val survivors = base
      .join(dirty, Seq(key), "left_semi")
      .join(deleteIds.select(col(rowId)), Seq(rowId), "left_anti")
      .select(col(key), col(value))
      .unionByName(inserts.join(dirty, Seq(key), "left_semi").select(col(key), col(value)))
    val dirtyMax = survivors.groupBy(col(key)).agg(max(col(value)).as("__mx_re"))

    state
      .join(insAgg, Seq(key), "full_outer")
      .join(delAgg, Seq(key), "full_outer")
      .join(dirtyMax, Seq(key), "left")
      .select(
        col(key),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__ni"), lit(0L))
          - coalesce(col("__nd"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0.0)) + coalesce(col("__ti"), lit(0.0))
          - coalesce(col("__td"), lit(0.0))).as("total"),
        when(col("__nd").isNotNull, col("__mx_re"))
          .otherwise(greatest(coalesce(col("mx"), col("__mi")), coalesce(col("__mi"), col("mx"))))
          .as("mx"))
      .where(col("n") > 0)
  }

  /** Incremental maintenance of a JOIN view — the classic IVM step past
    * the single-table aggregate ([[mergeAggDelta]]): maintain
    *
    * {{{ V = SELECT a.grp, count(*) AS n, sum(b.value) AS total
    *     FROM a JOIN b ON a.key = b.key GROUP BY a.grp }}}
    *
    * through SIGNED deltas on BOTH base tables, without re-joining them:
    * with `A' = A + ΔA` (insert = +1, delete = −1),
    *
    * {{{ Δ(A ⋈ B) = ΔA ⋈ B  +  A ⋈ ΔB  +  ΔA ⋈ ΔB }}}
    *
    * — each term a delta-side join (the optimizer broadcasts the small
    * delta; the base scan is join-pruned, never re-aggregated), signs
    * multiplying through the cross term, and the view updated by pure
    * delta arithmetic (`n += Σ sign`, `total += Σ sign·value`; groups
    * reaching n = 0 leave the view — the q157 emptied-bucket contract).
    * COUNT/SUM only by design: a MAX through deletes needs the dirty-key
    * recompute [[mergeAggDelta]] already implements.
    *
    * At 100 TB this is the difference between touching |Δ|·fanout rows
    * and re-joining two base tables: the three delta joins are all keyed
    * on the join key, partial-aggregated map-side, and the view merge is
    * one full-outer join on the group key.
    *
    * @param view   current view (grp, n LONG, total DOUBLE)
    * @param aOld   pre-batch A rows (key, grp)
    * @param bOld   pre-batch B rows (key, value)
    * @param aDelta signed A changes (key, grp, sign ∈ {+1, −1})
    * @param bDelta signed B changes (key, value, sign ∈ {+1, −1})
    * @return the maintained view (grp, n, total), n > 0 rows only
    */
  def mergeJoinViewDelta(
      view: DataFrame,
      aOld: DataFrame,
      bOld: DataFrame,
      aDelta: DataFrame,
      bDelta: DataFrame
  ): DataFrame = {
    // the three delta terms, each (grp, sign, value)
    val dAxB = aDelta.select(col("key"), col("grp"), col("sign").as("__s"))
      .join(bOld.select(col("key"), col("value")), Seq("key"))
      .select(col("grp"), col("__s").as("sign"), col("value"))
    val AxdB = bDelta.select(col("key"), col("value"), col("sign"))
      .join(aOld.select(col("key"), col("grp")), Seq("key"))
      .select(col("grp"), col("sign"), col("value"))
    val dAxdB = aDelta.select(col("key"), col("grp"), col("sign").as("__sa"))
      .join(bDelta.select(col("key"), col("value"), col("sign").as("__sb")), Seq("key"))
      .select(col("grp"), (col("__sa") * col("__sb")).as("sign"), col("value"))

    val delta = dAxB.unionByName(AxdB).unionByName(dAxdB)
      .groupBy(col("grp"))
      .agg(sum(col("sign")).cast("long").as("__dn"),
        sum(col("sign") * col("value")).as("__dt"))

    view.join(delta, Seq("grp"), "full_outer")
      .select(
        col("grp"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0.0)) + coalesce(col("__dt"), lit(0.0))).as("total"))
      .where(col("n") > 0)
  }

  /** Incremental maintenance of a THREE-WAY join view — the delta algebra
    * of [[mergeJoinViewDelta]] COMPOSES: maintain
    *
    * {{{ V = SELECT a.grp, count(*) AS n, sum(c.value) AS total
    *     FROM a JOIN b ON a.ka = b.ka JOIN c ON b.kb = c.kb
    *     GROUP BY a.grp }}}
    *
    * through signed deltas on ALL THREE base tables at once, by nesting
    * the two-way expansion on X = A ⋈ B:
    *
    * {{{ Δ(X ⋈ C) = ΔX ⋈ C  +  X ⋈ ΔC  +  ΔX ⋈ ΔC
    *     ΔX       = ΔA ⋈ B  +  A ⋈ ΔB  +  ΔA ⋈ ΔB }}}
    *
    * — seven terms total, every one carrying at least one delta relation,
    * so every term is delta-sized: the ΔX terms are built from the small
    * deltas joined against ONE base table each, and the one term touching
    * both base tables (X ⋈ ΔC) SEMI-RESTRICTS b to ΔC's keys BEFORE
    * joining a, so its cost is ∝ |ΔC|·fanout, never |A ⋈ B|. Signs
    * multiply through every cross term (a customer deleted in the same
    * batch as its orders and their lines must not double-remove).
    * COUNT/SUM only, the [[mergeJoinViewDelta]] design; groups reaching
    * n = 0 leave the view.
    *
    * At 100 TB this is the star-schema maintenance shape: fact and two dimension
    * levels all changing in one CDC batch, the view updated by joins that
    * touch |Δ|-proportional rows on every path.
    *
    * Broadcast contract: the deltas (and everything derived from them —
    * ΔX, the ΔC-pruned bridge) are BATCH-sized by the IVM premise, so
    * every term joins them to a base table as an explicit broadcast: the
    * base side STREAMS past a hash map instead of shuffling (measured
    * 3.4 → 1.4 s per batch on the 50k × 5M × 20M profile — without the
    * hints, Catalyst has no size estimate for a union-of-joins delta and
    * shuffles the 20M-row fact table under two terms). A "delta" that is
    * a large fraction of the base breaks the premise — refresh from
    * scratch instead; that cutover is the caller's policy knob.
    *
    * @param view   current view (grp, n LONG, total DOUBLE)
    * @param aOld   pre-batch A rows (ka, grp)
    * @param bOld   pre-batch B rows (ka, kb)
    * @param cOld   pre-batch C rows (kb, value)
    * @param aDelta signed A changes (ka, grp, sign ∈ {+1, −1})
    * @param bDelta signed B changes (ka, kb, sign)
    * @param cDelta signed C changes (kb, value, sign)
    * @return the maintained view (grp, n, total), n > 0 rows only
    */
  def mergeJoinView3Delta(
      view: DataFrame,
      aOld: DataFrame,
      bOld: DataFrame,
      cOld: DataFrame,
      aDelta: DataFrame,
      bDelta: DataFrame,
      cDelta: DataFrame
  ): DataFrame = {
    // ΔX = Δ(A ⋈ B) as (kb, grp, sign) — the q186 three-term expansion;
    // deltas broadcast, base tables stream
    val dAxB = broadcast(aDelta.select(col("ka"), col("grp"), col("sign").as("__s")))
      .join(bOld.select(col("ka"), col("kb")), Seq("ka"))
      .select(col("kb"), col("grp"), col("__s").as("sign"))
    val AxdB = broadcast(bDelta.select(col("ka"), col("kb"), col("sign")))
      .join(aOld.select(col("ka"), col("grp")), Seq("ka"))
      .select(col("kb"), col("grp"), col("sign"))
    val dAxdB = aDelta.select(col("ka"), col("grp"), col("sign").as("__sa"))
      .join(broadcast(bDelta.select(col("ka"), col("kb"), col("sign").as("__sb"))), Seq("ka"))
      .select(col("kb"), col("grp"), (col("__sa") * col("__sb")).as("sign"))
    // ΔX feeds TWO terms below; un-materialized, each would re-run the
    // three delta-vs-base joins that dominate the batch — pay them once
    // (batch-sized by the same premise that justifies the broadcasts)
    val dX = graft.Materialize(dAxB.unionByName(AxdB).unionByName(dAxdB))

    // X ⋈ ΔC with X = Aold ⋈ Bold restricted to ΔC's keys FIRST: the only
    // term touching both base tables never materializes their join, and
    // the pruned bridge (∝ |ΔC|) broadcasts onto the dimension
    val bPruned = bOld.join(broadcast(cDelta.select(col("kb")).distinct()),
      Seq("kb"), "left_semi")
    val Xpruned = broadcast(bPruned).join(aOld.select(col("ka"), col("grp")), Seq("ka"))
      .select(col("kb"), col("grp"))
    val XxdC = Xpruned
      .join(broadcast(cDelta.select(col("kb"), col("value"), col("sign"))), Seq("kb"))
      .select(col("grp"), col("sign"), col("value"))

    // ΔX ⋈ (Cold + ΔC), signs multiplying on the delta-delta term
    val dXxC = broadcast(dX).join(cOld.select(col("kb"), col("value")), Seq("kb"))
      .select(col("grp"), col("sign"), col("value"))
    val dXxdC = dX.select(col("kb"), col("grp"), col("sign").as("__sx"))
      .join(broadcast(cDelta.select(col("kb"), col("value"), col("sign").as("__sc"))), Seq("kb"))
      .select(col("grp"), (col("__sx") * col("__sc")).as("sign"), col("value"))

    val delta = dXxC.unionByName(XxdC).unionByName(dXxdC)
      .groupBy(col("grp"))
      .agg(sum(col("sign")).cast("long").as("__dn"),
        sum(col("sign") * col("value")).as("__dt"))

    view.join(delta, Seq("grp"), "full_outer")
      .select(
        col("grp"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0.0)) + coalesce(col("__dt"), lit(0.0))).as("total"))
      .where(col("n") > 0)
  }

  /** Incremental maintenance of an N-WAY join-chain view — the recursive
    * generalization that stops the per-arity code duplication at three
    * ([[mergeJoinViewDelta]] and [[mergeJoinView3Delta]] are its n = 2 /
    * n = 3 hand-specialized instances, kept verbatim for their gates):
    * maintain
    *
    * {{{ V = SELECT t0.grp, count(*) AS n, sum(t_{n-1}.value) AS total
    *     FROM t0 JOIN t1 ON t0.k0 = t1.k0 … JOIN t_{n-1} ON … = t_{n-1}.k_{n-2}
    *     GROUP BY t0.grp }}}
    *
    * through signed deltas on ALL n tables at once, by folding the
    * two-way expansion left to right — with `X_k = t0 ⋈ … ⋈ t_k`,
    *
    * {{{ Δ(X_k) = ΔX_{k-1} ⋈ t_k  +  X_{k-1}|Δt_k ⋈ Δt_k  +  ΔX_{k-1} ⋈ Δt_k }}}
    *
    * — `2^n − 1` terms when fully expanded, every one delta-restricted.
    * The only term at each level touching base tables beyond t_k is
    * `X_{k-1} ⋈ Δt_k`, and it SEMI-RESTRICTS the chain to Δt_k's join
    * keys at the far end FIRST, then walks the prefix back down to t0
    * with the (delta-sized) restricted relation broadcast at every hop
    * — cost ∝ |Δt_k|·fanout, never |X_{k-1}|. Signs multiply through
    * every cross term. Each ΔX_k is sign-compacted (one row per
    * (link key, grp)) and MATERIALIZED before feeding the next level:
    * un-materialized it would re-run all lower levels once per
    * consuming term.
    *
    * Broadcast contract (the [[mergeJoinView3Delta]] premise): deltas
    * and everything derived from them are batch-sized, so every
    * delta-vs-base join broadcasts the delta side — the base streams
    * past a hash map instead of shuffling. A "delta" that is a large
    * fraction of the base breaks the premise; refresh from scratch
    * instead.
    *
    * Side schemas (0-indexed): side 0 `(keys(0), grp)`, middle side i
    * `(keys(i−1), keys(i))`, last side `(keys(n−2), value)`; each delta
    * carries its side's columns plus `sign ∈ {+1, −1}`. Key names must
    * be pairwise distinct (they name chain positions).
    *
    * @param view   current view (grp, n LONG, total DOUBLE)
    * @param olds   pre-batch rows per side, chain order
    * @param deltas signed changes per side, chain order
    * @param keys   join keys; keys(i) links side i to side i+1
    * @return the maintained view (grp, n, total), n > 0 rows only
    */
  def mergeJoinViewNDelta(
      view: DataFrame,
      olds: Seq[DataFrame],
      deltas: Seq[DataFrame],
      keys: Seq[String]
  ): DataFrame = {
    val n = olds.size
    require(n >= 2, s"mergeJoinViewNDelta: need at least 2 sides, got $n")
    require(deltas.size == n, s"mergeJoinViewNDelta: ${deltas.size} deltas for $n sides")
    require(keys.size == n - 1, s"mergeJoinViewNDelta: ${keys.size} keys for $n sides")
    require(keys.distinct.size == keys.size,
      s"mergeJoinViewNDelta: key names must be pairwise distinct: ${keys.mkString(", ")}")
    // beyond this method's own grp/value/sign, IngestJoinViewN materializes
    // side/op/row_id/bkt on the CDC parse and the bucketed rebuild, and the
    // view carries n/total/__batch — a key shadowing any of them would
    // silently corrupt the parse or the rebuild rather than throw here
    val reserved = Set("grp", "value", "sign", "side", "op", "row_id", "bkt",
      "n", "total", "__batch")
    require(keys.forall(k => !reserved(k)),
      s"mergeJoinViewNDelta: key names collide with the reserved " +
        s"${reserved.toSeq.sorted.mkString("/")} columns: ${keys.mkString(", ")}")

    // X_i rows (grp, keys(i)) restricted so keys(i) ∈ filterKeys: prune
    // side i at the far end, then fold the prefix back to side 0 — the
    // restricted relation is delta-sized throughout and broadcasts onto
    // each base table
    def restrictedPrefix(i: Int, filterKeys: DataFrame): DataFrame = {
      var cur = olds(i).join(broadcast(filterKeys), Seq(keys(i)), "left_semi")
      var j = i - 1
      while (j >= 0) {
        val keep = if (j == 0) col("grp") else col(keys(j - 1))
        cur = olds(j)
          .join(broadcast(cur.select(col(keys(j)), col(keys(i)))), Seq(keys(j)))
          .select(keep, col(keys(i)))
        j -= 1
      }
      cur.select(col("grp"), col(keys(i)))
    }

    // ΔX_0 = Δt0
    var dX: DataFrame = deltas(0).select(col(keys(0)), col("grp"), col("sign"))
    for (k <- 1 until n) {
      val link = keys(k - 1)
      val carry = if (k == n - 1) "value" else keys(k)
      val t1 = broadcast(dX).join(olds(k), Seq(link))
        .select(col("grp"), col(carry), col("sign"))
      // a semi join's filter side needs no distinct, and without one a
      // local delta's key list broadcasts with no job of its own
      val t2 = restrictedPrefix(k - 1, deltas(k).select(col(link)))
        .join(broadcast(deltas(k).select(col(link), col(carry), col("sign"))), Seq(link))
        .select(col("grp"), col(carry), col("sign"))
      val t3 = dX.select(col(link), col("grp"), col("sign").as("__sx"))
        .join(broadcast(deltas(k).select(col(link), col(carry), col("sign").as("__st"))),
          Seq(link))
        .select(col("grp"), col(carry), (col("__sx") * col("__st")).as("sign"))
      val next = t1.unionByName(t2).unionByName(t3)
      dX =
        if (k < n - 1)
          // sign-compact + materialize: ΔX_k feeds two terms at level k+1
          // (un-materialized, each consumer would re-run this level's three
          // delta-vs-base joins; uncompacted, opposite-sign rows for one
          // (key, grp) would ride — and fan out through — every remaining
          // level instead of cancelling here, and the broadcast each next
          // level ships would grow with raw term volume instead of being
          // bounded by live (key, grp) pairs. The two delta-sized shuffles
          // this costs measured ~8% of the q222 batch at sf0.1 — the right
          // trade at cluster scale, where the broadcast bound is the
          // constraint that keeps the whole algebra shuffle-free.)
          graft.Materialize(next.groupBy(col(keys(k)), col("grp"))
            .agg(sum(col("sign")).cast("long").as("sign")))
        else next
    }

    val delta = dX.groupBy(col("grp"))
      .agg(sum(col("sign")).cast("long").as("__dn"),
        sum(col("sign") * col("value")).as("__dt"))
    view.join(delta, Seq("grp"), "full_outer")
      .select(
        col("grp"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0.0)) + coalesce(col("__dt"), lit(0.0))).as("total"))
      .where(col("n") > 0)
  }

  /** Incremental maintenance of a per-group TOP-K view — the third IVM
    * shape after the aggregate ([[mergeAggDelta]]) and the join
    * ([[mergeJoinViewDelta]]): maintain the k best rows per group by
    * `(score DESC, rowId ASC)` under inserts and deletes, touching the
    * base only for groups where the state genuinely cannot answer.
    *
    * The self-maintainability split (the `max`-under-deletes argument of
    * [[mergeAggDelta]], row-set-valued):
    *
    *  - INSERTS into a group are self-maintaining: the new top-k is
    *    `topk(kept ∪ inserts)` — at most k + |group inserts| rows, no
    *    base touch.
    *  - a delete of a NON-member row cannot change the view: the row was
    *    already beaten by the k kept rows, and removing a loser promotes
    *    nobody. At 100 TB this is the payoff — the typical delete never
    *    reads the base.
    *  - a delete of a VIEW MEMBER — or an insert REUSING a member's
    *    rowId (a replace: the new score may be lower, and who gets
    *    promoted is unknowable from k rows) — makes the group DIRTY: its
    *    top-k is recomputed from surviving base rows ∪ its inserts,
    *    SEMI-JOIN-restricted to dirty groups (cost ∝ dirty groups' row
    *    share, partition-pruned on a bucketed base).
    *
    * Batch collision contract: as [[mergeAggDelta]] — unordered sets,
    * delete applies to the pre-batch base, a rowId in both is a REPLACE
    * (base rows anti-joined on both id sets, inserts always land).
    * Groups whose rows all disappear leave the view.
    *
    * @param view    current view (grp, rank, rowId, score) — ≤ k rows
    *                per group, the topKByGroup shape
    * @param base    pre-batch base rows (rowId, grp, score); rowId unique
    * @param inserts new rows (rowId, grp, score)
    * @param deleteIds row ids to remove (single column rowId)
    * @return the maintained view (grp, rank, rowId, score)
    */
  def mergeTopKDelta(
      view: DataFrame,
      base: DataFrame,
      inserts: DataFrame,
      deleteIds: DataFrame,
      rowId: String,
      grp: String,
      score: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val touchedIds = deleteIds.select(col(rowId))
      .unionByName(inserts.select(col(rowId))).distinct()
    // dirty = groups where a kept row is deleted or replaced
    val dirty = view.join(touchedIds, Seq(rowId), "left_semi")
      .select(col(grp)).distinct()

    // clean groups: kept rows (minus any replaced id — covered by dirty,
    // the anti-join is belt-and-braces) compete with their inserts only
    val fromView = view.select(col(grp), col(rowId), col(score))
      .join(dirty, Seq(grp), "left_anti")
    // dirty groups: survivors of the pre-batch base, semi-restricted
    val fromBase = base.select(col(grp), col(rowId), col(score))
      .join(dirty, Seq(grp), "left_semi")
      .join(deleteIds.select(col(rowId)), Seq(rowId), "left_anti")
      .join(inserts.select(col(rowId)), Seq(rowId), "left_anti")
    val pool = fromView
      .unionByName(fromBase)
      .unionByName(inserts.select(col(grp), col(rowId), col(score)))
    graft.operators.TopK.topKByGroup(
        pool, Seq(col(grp)),
        struct(col(score), (-col(rowId)).as("__nid"), col(rowId)), k)
      .select(col(grp), col("rank"), col(rowId), col(score))
  }

  /** Incremental maintenance of a per-group COUNT-DISTINCT view through
    * (group, value) REFCOUNTS — the fourth IVM shape, and the easiest
    * one: where `max` (q157) and top-k (q200) need a dirty-key recompute
    * under deletes, distinct-count is FULLY self-maintainable once the
    * refcount relation is carried as state —
    *
    * {{{ rc(g, v) += #inserts(g, v) − #deletes(g, v) }}}
    *
    * with values leaving the relation at rc = 0 and n_distinct(g) just
    * the group's surviving row count. The base is touched only to
    * recover deleted rows' (g, v) by rowId (the CDC-without-before-image
    * convention of [[mergeAggDelta]]) — a broadcast-semi-pruned read, no
    * recompute ever. State size is Σ distinct (g, v) pairs — the
    * distinct structure itself, not the base; a 100-TB base with a
    * bounded value domain carries a tiny refcount relation.
    *
    * Batch collision contract: as [[mergeAggDelta]] — unordered sets,
    * delete applies to the pre-batch base, a rowId in both is a REPLACE.
    *
    * @param refcounts current state (grp, value, rc LONG ≥ 1)
    * @param base      pre-batch base rows (rowId, grp, value); rowId unique
    * @param inserts   new rows (rowId, grp, value)
    * @param deleteIds row ids to remove (single column rowId)
    * @return the maintained refcount relation (grp, value, rc > 0)
    */
  def mergeDistinctDelta(
      refcounts: DataFrame,
      base: DataFrame,
      inserts: DataFrame,
      deleteIds: DataFrame,
      rowId: String,
      grp: String,
      value: String
  ): DataFrame = {
    val delRows = base.join(deleteIds.select(col(rowId)), Seq(rowId), "left_semi")
      .select(col(grp), col(value))
    val delta = inserts.select(col(grp), col(value)).withColumn("__d", lit(1L))
      .unionByName(delRows.withColumn("__d", lit(-1L)))
      .groupBy(col(grp), col(value)).agg(sum(col("__d")).as("__d"))
    refcounts.join(delta, Seq(grp, value), "full_outer")
      .select(col(grp), col(value),
        (coalesce(col("rc"), lit(0L)) + coalesce(col("__d"), lit(0L))).as("rc"))
      .where(col("rc") > 0)
  }

  /** Deterministic fixed-width dyadic cell of a double value:
    * `floor(v · 2^(−scale))` — cells of width `2^scale` aligned at
    * multiples of the width. The power-of-two scaling is an exponent
    * shift (exact for normal doubles), and correctness of the quantile
    * bracketing below needs only what floor-of-a-monotone-map guarantees
    * unconditionally: the mapping is DETERMINISTIC and MONOTONE in `v`,
    * so cell order is value order and equal values always share a cell.
    * Nulls stay null (callers filter).
    */
  def dyadicCell(v: Column, scale: Int): Column =
    floor(v.cast("double") * lit(math.pow(2.0, -scale))).cast("long")

  /** Incremental maintenance of a per-group QUANTILE view — the FIFTH IVM
    * shape. The state is not the answer itself (a quantile of a 100-TB
    * group cannot be carried as one number under deletes) but the BOUNDED
    * SUFFICIENT BRACKETING STRUCTURE: per-group refcounts of fixed-width
    * dyadic value cells ([[dyadicCell]]),
    *
    * {{{ rc(g, cell) += #inserts(g, cell) − #deletes(g, cell) }}}
    *
    * — which is [[mergeDistinctDelta]]'s refcount algebra one level up
    * (the refcounted "value" is the value's cell), and therefore FULLY
    * self-maintainable under deletes: no dirty recompute exists, the base
    * is read only to recover deleted rows' values by id. State size is
    * Σ distinct (g, cell) ≤ |groups| · (value range / 2^scale), chosen by
    * the `scale` parameter — a billion-row group is a few hundred cells.
    *
    * Serving splits WHERE from WHAT ([[quantilesFromCells]]): the state
    * alone brackets every rank into its cell (exact integer walk); only
    * the candidate cells' base rows — ~1/|cells| of the base, never the
    * group — are read to resolve the exact value.
    *
    * Batch collision contract: as [[mergeAggDelta]] — unordered sets,
    * delete applies to the pre-batch base, a rowId in both is a REPLACE.
    *
    * @param cells     current state (grp, cell LONG, rc LONG ≥ 1)
    * @param base      pre-batch base rows (rowId, grp, value); rowId unique
    * @param inserts   new rows (rowId, grp, value)
    * @param deleteIds row ids to remove (single column rowId)
    * @param scale     cell width exponent: cells are `2^scale` wide
    * @return the maintained cell relation (grp, cell, rc > 0)
    */
  def mergeQuantileCellsDelta(
      cells: DataFrame,
      base: DataFrame,
      inserts: DataFrame,
      deleteIds: DataFrame,
      rowId: String,
      grp: String,
      value: String,
      scale: Int
  ): DataFrame = {
    def toCells(df: DataFrame): DataFrame = df
      .where(col(value).isNotNull)
      .select(col(rowId), col(grp), dyadicCell(col(value), scale).as("cell"))
    mergeDistinctDelta(
      cells, toCells(base), toCells(inserts), deleteIds, rowId, grp, "cell")
  }

  /** Serve EXACT type-1 per-group quantiles from a maintained cell-refcount
    * view ([[mergeQuantileCellsDelta]]) plus the base it summarizes — the
    * read side of the quantile IVM shape, fully declarative (no driver
    * refinement loop: the maintained state IS the refinement):
    *
    *   1. rank bracketing over the STATE only: per group, cumulative rc in
    *      cell order (cells per group are bounded by construction, so the
    *      per-group window is over state rows, never data), target rank
    *      `clamp(ceil(q·n), 1, n)` per q — the
    *      [[graft.curation.Quantiles]] type-1 definition — re-based into
    *      its containing cell;
    *   2. value resolution over the BASE restricted to candidate cells: a
    *      broadcast join on (group, cell) — |groups|·|qs| candidate rows —
    *      keeps ~1/|cells| of the base, and the cumulative-weight walk
    *      over DISTINCT values inside one cell picks the bracketing value
    *      (deterministic under ties: equal values are one row there).
    *
    * `base` must be the CURRENT row store — the same rows the cell state
    * summarizes (the IVM maintainer updates both in one batch); a stale
    * base under-fills a bracketed cell and the rank walk would come up
    * empty rather than wrong. Rows with a null `value` carry no cell and
    * are ignored on both sides.
    *
    * @return (g, q, value) — one row per (group, q), the
    *         [[graft.curation.Quantiles.exactQuantiles]] output shape
    */
  def quantilesFromCells(
      cells: DataFrame,
      base: DataFrame,
      grp: String,
      value: String,
      scale: Int,
      qs: Seq[Double]
  ): DataFrame =
    quantileServe(cells, base, grp, value, lit(1L), scale, qs)

  /** Z-ORDER-clustered serving LAYOUT for the quantile-view base: stores
    * each row with its group hash-bucket and dyadic cell MATERIALIZED as
    * columns (`__gb`, `cell`) and writes the file set [[writeZOrdered]]
    * on that pair. The serve path ([[quantilesFromCellsLayout]]) then
    * turns the bracketing state's candidate (group, cell) pairs into
    * IN-predicates on those STORED columns — pushed into the parquet
    * scan, where row groups whose min/max stats exclude every candidate
    * never decompress. Without the layout, [[quantilesFromCells]] scans
    * the whole base once per serve; with it, the scan touches ~the
    * candidate cells' row share (measured in ScaleTechniquesSpec: the
    * candidate-restricted read intersects a small fraction of the
    * z-ordered files where a round-robin write leaves every file a
    * candidate).
    *
    * The z-key clamps negative cells to 0 (zValue interleaves low bits
    * of non-negative ints) — negative-value rows cluster in one tile;
    * LAYOUT only, serving stays exact under any layout. `df` may carry
    * extra columns (e.g. a weight); they ride along stored.
    */
  def writeQuantileServeLayout(
      df: DataFrame,
      grp: String,
      value: String,
      scale: Int,
      grpBuckets: Int,
      bits: Int,
      files: Int,
      path: String
  ): Unit = {
    val enriched = df
      .withColumn("__gb", pmod(hash(col(grp)), lit(grpBuckets)))
      .withColumn("cell", dyadicCell(col(value), scale))
    writeZOrdered(enriched, col("__gb"),
      greatest(col("cell"), lit(0L)), bits, files, path)
  }

  /** Candidate-pruned base read over a [[writeQuantileServeLayout]] file
    * set: brackets every rank from the STATE alone (the bounded
    * |groups|·|qs| readout), collects the candidate (bucket, cell) pairs
    * driver-side, and scans the layout with both as pushed IN-filters.
    * The result is a SUPERSET restriction of what serving joins anyway
    * (the broadcast bracket join re-restricts on exact (group, cell)),
    * so [[quantilesFromCells]] over it is value-identical to the
    * full-base serve — row for row, spec-proven.
    */
  def quantilesFromCellsLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cells: DataFrame,
      grp: String,
      value: String,
      scale: Int,
      qs: Seq[Double],
      grpBuckets: Int
  ): DataFrame =
    quantilesFromCells(cells,
      prunedServeBase(spark, path, cells, grp, qs, grpBuckets), grp, value, scale, qs)

  /** See [[quantilesFromCellsLayout]] — the weighted serve over the same
    * layout (the layout writer already carried the weight column).
    */
  def weightedQuantilesFromCellsLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cells: DataFrame,
      grp: String,
      value: String,
      weight: String,
      scale: Int,
      qs: Seq[Double],
      grpBuckets: Int
  ): DataFrame =
    weightedQuantilesFromCells(cells,
      prunedServeBase(spark, path, cells, grp, qs, grpBuckets),
      grp, value, weight, scale, qs)

  /** The serve path's candidate (group-bucket, cell) pairs — the bounded
    * driver readout (≤ |groups|·|qs| rows, the refinement-state
    * discipline of [[graft.curation.Quantiles]]) behind
    * [[quantilesFromCellsLayout]]'s pushed filters; public so layout
    * diagnostics (ScaleTechniquesSpec's file-skippability measurement)
    * share the exact candidate set the serve uses.
    */
  def quantileBracketPairs(
      cells: DataFrame,
      grp: String,
      qs: Seq[Double],
      grpBuckets: Int
  ): Seq[(Int, Long)] =
    bracketsOf(cells, grp, qs)
      .select(col("__g"), col("cell")).distinct()
      .select(pmod(hash(col("__g")), lit(grpBuckets)).as("__gb"), col("cell"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq

  private def prunedServeBase(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cells: DataFrame,
      grp: String,
      qs: Seq[Double],
      grpBuckets: Int
  ): DataFrame = {
    val cand = quantileBracketPairs(cells, grp, qs, grpBuckets)
    val gbs = cand.map(_._1).distinct
    val cellIds = cand.map(_._2).distinct
    spark.read.parquet(path)
      .where(col("__gb").isin(gbs: _*) && col("cell").isin(cellIds: _*))
      .drop("__gb", "cell")
  }

  /** WEIGHTED-mass variants of the quantile IVM pair: the cell state
    * carries Σ weight per (group, cell) instead of a row count, and
    * serving lands on the value at weighted rank `clamp(ceil(q·W), 1, W)`
    * — [[graft.curation.Quantiles.exactWeightedQuantiles]]'s definition
    * (token-weighted percentiles maintained continuously: "the floor
    * below which q of the corpus TOKENS sit", kept fresh under CDC).
    * Weights must be LONGs ≥ 1 (the q197 exact-integer-mass contract;
    * scale fp weights to a grid upstream); with all weights 1 these ARE
    * [[mergeQuantileCellsDelta]] / [[quantilesFromCells]] row for row.
    * The delta algebra is unchanged — signed mass instead of signed
    * counts, still fully self-maintainable under deletes (the base read
    * only recovers deleted rows' (value, weight) by id).
    */
  def mergeWeightedQuantileCellsDelta(
      cells: DataFrame,
      base: DataFrame,
      inserts: DataFrame,
      deleteIds: DataFrame,
      rowId: String,
      grp: String,
      value: String,
      weight: String,
      scale: Int
  ): DataFrame = {
    // the LONG ≥ 1 contract is ASSERTED, not just documented: a null,
    // zero, negative, or fractional weight (silently truncated by the
    // long cast) would corrupt the cell mass bookkeeping with no error —
    // the check rides the same scan, costing nothing extra (the double
    // round-trip compare flags fractions exactly up to 2^53, the same
    // envelope the q197 contract already assumes)
    def toCells(df: DataFrame): DataFrame = {
      val wLong = col(weight).cast("long")
      val ok = col(weight).isNotNull && wLong >= 1 &&
        col(weight).cast("double") === wLong.cast("double")
      df.where(col(value).isNotNull)
        .select(col(rowId), col(grp), dyadicCell(col(value), scale).as("cell"),
          when(ok, wLong).otherwise(raise_error(concat(
            lit(s"mergeWeightedQuantileCellsDelta: weight '$weight' must be a LONG >= 1 " +
              "(the q197 exact-integer-mass contract; scale fp weights to a grid " +
              "upstream), got "),
            coalesce(col(weight).cast("string"), lit("null"))))
            .cast("long")).as("__w"))
    }
    val delRows = toCells(base)
      .join(deleteIds.select(col(rowId)), Seq(rowId), "left_semi")
      .select(col(grp), col("cell"), (-col("__w")).as("__d"))
    val delta = toCells(inserts).select(col(grp), col("cell"), col("__w").as("__d"))
      .unionByName(delRows)
      .groupBy(col(grp), col("cell")).agg(sum(col("__d")).as("__d"))
    cells.join(delta, Seq(grp, "cell"), "full_outer")
      .select(col(grp), col("cell"),
        (coalesce(col("rc"), lit(0L)) + coalesce(col("__d"), lit(0L))).as("rc"))
      .where(col("rc") > 0)
  }

  /** See [[mergeWeightedQuantileCellsDelta]]. */
  def weightedQuantilesFromCells(
      cells: DataFrame,
      base: DataFrame,
      grp: String,
      value: String,
      weight: String,
      scale: Int,
      qs: Seq[Double]
  ): DataFrame =
    quantileServe(cells, base, grp, value, col(weight).cast("long"), scale, qs)

  /** Rank bracketing over the STATE only: per (group, q), the cell
    * containing the type-1 rank, the rank re-based into it (`__rk`).
    * Shared by the exact serves and the state-only bounds readout.
    */
  private def bracketsOf(cells: DataFrame, grp: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0,1]: $qs")
    val wCum = Window.partitionBy(col("__g")).orderBy(col("cell"))
    val wN = Window.partitionBy(col("__g"))
    cells
      .select(col(grp).as("__g"), col("cell"), col("rc"))
      .withColumn("__cum", sum(col("rc")).over(wCum))
      .withColumn("__n", sum(col("rc")).over(wN))
      .select(col("__g"), col("cell"), col("rc"), col("__cum"), col("__n"),
        explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("__rank",
        least(col("__n"), greatest(lit(1L), ceil(col("q") * col("__n")).cast("long"))))
      .where(col("__cum") >= col("__rank") && col("__cum") - col("rc") < col("__rank"))
      .select(col("__g"), col("cell"), col("q"),
        (col("__rank") - (col("__cum") - col("rc"))).as("__rk"))
  }

  /** Quantile BOUNDS from the maintained cell state ALONE — no base read
    * at all: the bracketing cell's exact boundaries `[cell·2^scale,
    * (cell+1)·2^scale)` contain the type-1 quantile by construction, so a
    * monitoring read that tolerates ± one cell width costs O(state) and
    * ZERO base I/O — the 100-TB fast path; [[quantilesFromCells]] is the
    * exact-value read when it matters. Output: (g, q, lo, hi).
    */
  def quantileBoundsFromCells(
      cells: DataFrame,
      grp: String,
      scale: Int,
      qs: Seq[Double]
  ): DataFrame = {
    val width = math.pow(2.0, scale) // exponent shift — exact
    bracketsOf(cells, grp, qs)
      .select(col("__g").as("g"), col("q"),
        (col("cell").cast("double") * lit(width)).as("lo"),
        ((col("cell") + 1).cast("double") * lit(width)).as("hi"))
  }

  /** Shared serve engine: `w` is the per-row mass (lit(1) = unweighted).
    * The resolution's cumulative walk aggregates Σw per distinct value, so
    * sum(1) degenerates to the row count exactly.
    */
  private def quantileServe(
      cells: DataFrame,
      base: DataFrame,
      grp: String,
      value: String,
      w: Column,
      scale: Int,
      qs: Seq[Double]
  ): DataFrame = {
    val brackets = bracketsOf(cells, grp, qs)
    val rows = base
      .select(col(grp).as("__g"), col(value).cast("double").as("__v"), w.as("__w"))
      .where(col("__v").isNotNull)
      .withColumn("cell", dyadicCell(col("__v"), scale))
    rows
      .join(broadcast(brackets), Seq("__g", "cell"))
      .groupBy(col("__g"), col("q"), col("__rk"), col("__v"))
      .agg(sum(col("__w")).as("__c"))
      .withColumn("__cumv",
        sum(col("__c")).over(Window.partitionBy(col("__g"), col("q")).orderBy(col("__v"))))
      .where(col("__cumv") >= col("__rk") && col("__cumv") - col("__c") < col("__rk"))
      .select(col("__g").as("g"), col("q"), col("__v").as("value"))
  }
}
