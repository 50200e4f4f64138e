package graft.streaming

import graft.Materialize
import graft.dedup.Dedup
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Cross-batch streaming ingest dedup — the streaming face of
  * [[graft.dedup.Dedup.dropSeenFast]]/[[graft.dedup.Dedup.saveSeen]].
  *
  * [[StreamingFlows.dedupExact]] bounds its state by watermark: it can only
  * drop duplicates that arrive within the lateness window. A crawl ingest
  * needs the other contract — "never emit a document we have EVER ingested"
  * — whose state is the full history. Holding 10⁹ hashes in the streaming
  * state store is the wrong tool; the persisted bucketed seen-index plus a
  * Bloom prefilter is the scale path, and this class runs that loop as a
  * `foreachBatch` body:
  *
  *  1. within-batch exact dedup (first occurrence per content hash);
  *  2. [[graft.dedup.Dedup.dropSeenFast]] against the index — the broadcast
  *     Bloom filter routes the almost-entirely-new batch around the
  *     anti-join; only "possibly seen" rows confirm against the bucketed
  *     index (no index-side exchange);
  *  3. the novelty goes to `sink`, is appended to the index
  *     ([[graft.dedup.Dedup.saveSeen]]), and the filter is maintained by
  *     batch size: a micro-batch's hashes are collected to the driver
  *     (one long per novel row) and `putLong` into the filter — building
  *     a delta FILTER instead would cost full index geometry per batch
  *     (merge compatibility forces the delta to the same bit width). A
  *     backfill-sized batch (over `collectThreshold` novel rows) flips to
  *     the other side of that trade: executor-side partial filters at the
  *     standing geometry, tree-merged and OR-ed into the driver copy —
  *     one geometry-sized allocation per partition instead of an
  *     O(batch)-byte driver transfer (a 10⁸-row replay batch would
  *     otherwise push ~1 GB of hashes through the driver). Either way the
  *     merged filter is re-broadcast for the next batch.
  *
  * Bootstrap: before the first [[graft.dedup.Dedup.saveSeen]] the index
  * table does not exist — the filter starts EMPTY and the whole first batch
  * passes through (the case the round-7 null-filter bug silently dropped).
  * On restart the filter is rebuilt from the full index once (one
  * O(index) scan, amortized over the run).
  *
  * Delivery contract: `sink` runs BEFORE the index append, so a failure
  * between the two re-delivers the batch's novelty on retry
  * (at-least-once sink); once the append lands, a replayed batch finds all
  * its rows in the index and contributes nothing twice (the INDEX is
  * effectively exactly-once). Appending first would invert that into
  * silent sink loss on retry. Any failure after the sink resets the
  * driver filter to null, forcing a rebuild from the index on the next
  * batch — without the reset, a crash between `saveSeen` and the filter
  * merge would leave filter ⊉ index on a same-instance restart, and later
  * duplicates of that batch would leak through the fast path (the stale-
  * filter hazard `Dedup.seenFilter` documents).
  *
  * Reference semantics: the reference has no persistent-index dedup — this
  * is part of the LLM-pipeline surface (SURVEY.md §2 extension), composing
  * its Filter (flow/filter.go:17-35) contract with durable state.
  */
final class IngestDedup private (
    content: Column,
    table: String,
    expectedItems: Long,
    fpp: Double,
    buckets: Int,
    collectThreshold: Long,
    sink: (DataFrame, Long) => Unit
) extends ((DataFrame, Long) => Unit) {

  // driver-side only: foreachBatch bodies execute on the driver, one batch
  // at a time — no synchronization or serialization concerns
  @transient private var filter: BloomFilter = _
  @transient private var bcast: Broadcast[BloomFilter] = _

  /** Which maintenance path the last batch took ("collect" |
    * "treeReduce" | "" before any batch) — test observability for the
    * bounded-driver contract.
    */
  @transient private[graft] var lastFilterMaintenance: String = ""

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    val indexExists = spark.catalog.tableExists(table)
    if (filter == null) {
      filter =
        if (indexExists)
          BloomFilter.readFrom(Dedup.seenFilter(spark, table, expectedItems, fpp))
        else BloomFilter.create(expectedItems, fpp)
      bcast = spark.sparkContext.broadcast(filter)
    }
    val hashCol = "__graft_content_hash"
    val deduped = batch
      .withColumn(hashCol, md5(content))
      .dropDuplicates(hashCol)
      .drop(hashCol)
    val fresh = Materialize.persist(
      if (indexExists) Dedup.dropSeenFast(deduped, content, spark.table(table), bcast)
      else deduped)
    sink(fresh, batchId)
    try {
      Dedup.saveSeen(fresh, content, table, buckets)
      // filter maintenance, sized to the batch (`fresh` is persisted, so
      // the count and the hash scan both read the cache): micro-batches
      // collect bare longs (xxhash64 of the stored md5 — the same key
      // the filter indexes) into the driver copy; a backfill batch
      // over the threshold builds executor-side partial filters at the
      // standing geometry and tree-merges them — O(geometry) driver
      // bytes instead of O(batch)
      val hashes = fresh.select(xxhash64(md5(content)).as("h"))
      if (fresh.count() <= collectThreshold) {
        lastFilterMaintenance = "collect"
        hashes.collect().foreach(r => filter.putLong(r.getLong(0)))
      } else {
        lastFilterMaintenance = "treeReduce"
        val items = expectedItems
        val p = fpp
        // Each non-empty partition allocates a FULL-geometry filter
        // (≈ 1.1 GB at 1e9 items / 1% fpp): a many-partition backfill
        // batch would otherwise hold several concurrent geometry-sized
        // filters per executor and OOM exactly on the replay batches
        // this path exists for. Coalesce (no shuffle — partitions merge
        // locally) to ~2 per executor slot-group so at most a couple of
        // partial filters are live per executor at once.
        val raw = hashes.queryExecution.toRdd.map(_.getLong(0))
        val execs = math.max(1, spark.sparkContext.getExecutorMemoryStatus.size - 1)
        val bound = math.max(2, 2 * execs)
        val parts = if (raw.getNumPartitions > bound) raw.coalesce(bound) else raw
        val delta = parts
          .mapPartitions { it =>
            if (it.isEmpty) Iterator.empty
            else {
              val bf = BloomFilter.create(items, p)
              it.foreach(bf.putLong)
              Iterator.single(bf)
            }
          }
          .treeReduce((a, b) => a.mergeInPlace(b), depth = 2)
        filter.mergeInPlace(delta)
      }
      val old = bcast
      bcast = spark.sparkContext.broadcast(filter)
      old.destroy()
    } catch {
      case t: Throwable =>
        // the index may now be ahead of the filter — drop the driver
        // state so the next batch rebuilds from the index (stale-filter
        // leak prevention; see the delivery-contract scaladoc)
        filter = null
        bcast = null
        throw t
    }
  }
}

object IngestDedup {

  /** Build the `foreachBatch` body:
    * {{{
    * stream.writeStream
    *   .foreachBatch(IngestDedup(col("text"), "seen_idx", expectedItems = 1000000000L) {
    *     (novel, batchId) => novel.write.mode("append").parquet(out)
    *   })
    *   .start()
    * }}}
    * Size `expectedItems` for the FINAL index cardinality: the filter and
    * every per-batch delta share that geometry so they can OR-merge.
    * `collectThreshold` is the novel-row count above which filter
    * maintenance switches from a driver-side hash collect (8 B/row) to
    * executor-side partial filters tree-merged at the standing geometry —
    * the default keeps the driver transfer under ~16 MB.
    */
  def apply(
      content: Column,
      table: String,
      expectedItems: Long,
      fpp: Double = 0.01,
      buckets: Int = 64,
      collectThreshold: Long = 2L * 1000 * 1000
  )(sink: (DataFrame, Long) => Unit): IngestDedup = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"need expectedItems > 0 and fpp in (0,1): $expectedItems, $fpp")
    require(collectThreshold >= 0, s"collectThreshold must be >= 0: $collectThreshold")
    new IngestDedup(content, table, expectedItems, fpp, buckets, collectThreshold, sink)
  }
}
