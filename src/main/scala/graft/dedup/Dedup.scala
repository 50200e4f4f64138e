package graft.dedup

import graft.functions.{Hashing, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Five tiers, cheapest first. All candidate generation is *blocked* (hash
  * bucket, LSH band, label partition): the all-pairs join that a naive
  * implementation would do is O(n²) and is exactly what cannot run at
  * 100 TB. Every join here is an equijoin on a bucket key → one shuffle
  * each side, AQE-skew-splittable.
  */
object Dedup {

  /** One CC-serialization lock per SparkSession ([[nearDupClusters]]) —
    * deliberately NOT the session's own monitor, which unrelated code
    * (lazy-val init of sessionState/sharedState, other
    * `session.synchronized` users) also takes: a CC run holds its lock
    * for the full multi-iteration loop, potentially hours at 100 TB.
    * Weak keys so a discarded session's entry is collectable; the
    * synchronized wrapper makes `computeIfAbsent` atomic.
    */
  private val ccLocks: java.util.Map[org.apache.spark.sql.SparkSession, Object] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Object]())

  /** Exact dedup: group on content hash, keep the minimum id. One shuffle on
    * a 128-bit key; partial aggregation map-side. Output: one row per
    * distinct content with its keeper and duplicate count.
    */
  def exact(df: DataFrame, content: Column, id: Column): DataFrame =
    df.groupBy(md5(content).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental (snapshot-over-snapshot) dedup: persist each ingested
    * batch's content hashes into a bucketed index table ([[saveSeen]]),
    * and anti-join the next batch against it ([[dropSeen]]) — the
    * production shape where yesterday's 100 TB never gets re-deduped,
    * only today's increment does.
    *
    * The index is bucketed on `content_hash`
    * ([[graft.sources.Storage.writeBucketed]]), so the anti-join plans NO
    * exchange on the index side, however large it grows — only the new
    * batch shuffles (spec-asserted: exactly one Exchange in the whole
    * plan). `saveSeen` appends WITHOUT a cross-snapshot distinct: an
    * anti-join is insensitive to duplicate index rows, and a global
    * distinct against the full index would be exactly the re-shuffle
    * this layout exists to avoid.
    */
  def saveSeen(df: DataFrame, content: Column, table: String, buckets: Int = 64): Unit =
    graft.sources.Storage.writeBucketed(
      df.select(md5(content).as("content_hash")).distinct(),
      table, "content_hash", buckets, mode = "append")

  /** Rows of `df` whose content hash is NOT in the persisted index. */
  def dropSeen(df: DataFrame, content: Column, table: String): DataFrame =
    dropSeen(df, content, df.sparkSession.table(table))

  /** [[dropSeen]] against an in-memory index relation (a `content_hash`
    * column) instead of a saved table — the not-yet-persisted mirror of
    * [[pairsAgainstIndex]]'s relation-input form.
    */
  def dropSeen(df: DataFrame, content: Column, index: DataFrame): DataFrame = {
    // qualify the index's column: an incoming batch may itself carry a
    // content_hash column, and a bare col() would be ambiguous
    df.join(index, md5(content) === index("content_hash"), "left_anti")
  }

  /** Serialized Bloom filter over the [[saveSeen]] index — the prefilter
    * that lets [[dropSeenFast]] route the (typical) almost-entirely-new
    * batch around the exact anti-join. One narrow pass over the index:
    * per-PARTITION `sketch.BloomFilter`s built by `mapPartitions` over
    * `xxhash64` of the stored hash, OR-merged up a 2-level `treeReduce`.
    *
    * NOT built with Catalyst's `BloomFilterAggregate`: that expression
    * silently clamps to `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems`/`maxNumBits` (4M items / ~8 MB by default), which
    * destroys the advertised fpp at exactly the index scale the prefilter
    * exists for (realized fpp → 1 ⇒ every row pays the anti-join again).
    * `sketch.BloomFilter.create` honors the request bit-for-bit.
    *
    * An EMPTY index returns a valid empty filter — [[mightBeSeen]] is
    * `false` for every row and [[dropSeenFast]] passes the whole batch,
    * matching [[dropSeen]] (the bootstrap first-batch case; previously the
    * aggregate returned null here and the null predicate silently dropped
    * EVERYTHING).
    *
    * Sizing is the caller's contract: the returned blob is
    * ~`1.2 · n · |ln fpp|` bits (≈ 120 MB at n = 10⁸, fpp = 1% — driver
    * and executor-broadcast resident, so size `expectedItems` for the INDEX
    * cardinality, not the corpus).
    *
    * FRESHNESS CONTRACT: the filter must cover every hash in the index —
    * rebuild it (or [[org.apache.spark.util.sketch.BloomFilter.mergeInPlace
    * OR-merge]] a filter of the appended batch) after each [[saveSeen]].
    * A STALE filter is not merely less selective: an index hash appended
    * after the filter's build is unknown to it, so a duplicate of that
    * row takes [[dropSeenFast]]'s fast path and LEAKS past the exact
    * join. `dropSeenFast == dropSeen` holds exactly when
    * filter ⊇ index; with a stale filter it dedups against the index as
    * of the filter's build.
    */
  def seenFilter(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      expectedItems: Long,
      fpp: Double = 0.01
  ): Array[Byte] =
    seenFilter(spark.table(table), expectedItems, fpp)

  /** [[seenFilter]] over an in-memory index relation (a `content_hash`
    * column) — pairs with the relation-input [[dropSeen]]/[[dropSeenFast]].
    */
  def seenFilter(index: DataFrame, expectedItems: Long, fpp: Double): Array[Byte] = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"need expectedItems > 0 and fpp in (0,1): $expectedItems, $fpp")
    import org.apache.spark.util.sketch.BloomFilter
    // project to the 8-byte hash BEFORE leaving SQL: the scan stays
    // column-pruned and only longs cross into the RDD
    val hashesDf = index.select(xxhash64(col("content_hash")).as("h"))
    // emptiness is probed SQL-side (limit-1, short-circuits the scan) —
    // probing the partial-filter RDD instead would run take(1) through
    // mapPartitions, building and shipping one full-geometry filter
    // (~1.2 GB at the advertised 10⁹ sizing, over driver.maxResultSize)
    // just to discard it
    val merged =
      if (hashesDf.isEmpty) BloomFilter.create(expectedItems, fpp) // empty index → empty filter
      else hashesDf.queryExecution.toRdd.map(_.getLong(0))
        .mapPartitions { it =>
          if (it.isEmpty) Iterator.empty
          else {
            val bf = BloomFilter.create(expectedItems, fpp)
            it.foreach(bf.putLong)
            Iterator.single(bf)
          }
        }
        .treeReduce((a, b) => a.mergeInPlace(b), depth = 2)
    val out = new java.io.ByteArrayOutputStream()
    merged.writeTo(out)
    out.toByteArray
  }

  /** OR-merge two [[seenFilter]] blobs built with the SAME
    * `(expectedItems, fpp)` geometry — the freshness-maintenance path at
    * JOB granularity: a daily append job builds one filter over its own
    * increment (one full-geometry allocation per job run, amortized over
    * the day) and merges it into the standing filter instead of
    * rescanning the whole index. For per-micro-batch maintenance use
    * [[graft.streaming.IngestDedup]], which feeds the batch's hashes into
    * the driver copy directly — a full-geometry delta per micro-batch
    * would cost index-sized allocations at batch frequency.
    *
    * Throws `IncompatibleMergeException` if the two blobs' geometries
    * differ (a merged filter with mismatched bit width would silently
    * lose the no-false-negative guarantee).
    */
  def mergeSeenFilters(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val fa = BloomFilter.readFrom(a)
    fa.mergeInPlace(BloomFilter.readFrom(b))
    val out = new java.io.ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }

  /** Deserialize a [[seenFilter]] blob ONCE on the driver and register it as
    * a broadcast: tasks fetch it from the executor block manager instead of
    * receiving it inside every serialized task binary. Build this once per
    * filter and reuse it across batches.
    */
  def broadcastSeenFilter(
      spark: org.apache.spark.sql.SparkSession,
      filter: Array[Byte]
  ): org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter] =
    spark.sparkContext.broadcast(
      org.apache.spark.util.sketch.BloomFilter.readFrom(filter))

  /** "Possibly seen" predicate against a BROADCAST [[seenFilter]] — a pure
    * codegen'd row expression ([[graft.plans.BloomMightContainB]] resolves
    * the broadcast once per generated-class instance). False positives at
    * the filter's fpp; NO false negatives for any hash the filter was built
    * over. Prefer this form: the plan carries only a broadcast handle, not
    * the blob (which is ~1.2 GB at a 10⁹-row index).
    */
  def mightBeSeen(
      content: Column,
      bf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]
  ): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.BloomMightContainB(
      bf, GraftBridge.expression(xxhash64(md5(content)))))
  }

  /** [[mightBeSeen]] from the serialized blob directly — convenience for
    * small filters, tests, and demos ONLY: it registers a NEW broadcast on
    * EVERY call (reclaimed only by the ContextCleaner) and binds it to the
    * thread's `SparkSession.active` rather than the session that will
    * evaluate the column. Any loop — and any multi-session app — should
    * [[broadcastSeenFilter]] once per filter build and pass the broadcast
    * (as the `Broadcast`-typed [[dropSeenFast]] overload does).
    */
  def mightBeSeen(content: Column, filter: Array[Byte]): Column =
    mightBeSeen(content,
      broadcastSeenFilter(org.apache.spark.sql.SparkSession.active, filter))

  /** [[dropSeen]] with a Bloom prefilter: rows the filter has never seen
    * (a fresh crawl's vast majority) pass through as a SCAN-SIDE FILTER —
    * no shuffle, no join — and only the "possibly seen" sliver (true
    * duplicates + fpp false positives) pays the exact anti-join against
    * the index. Result set is EXACTLY [[dropSeen]]'s (spec-asserted): the
    * filter has no false negatives, so nothing seen can take the fast
    * path, and false positives are cleared by the confirm join. At 100 TB
    * against a 10⁹-hash index this turns the every-batch anti-join into
    * one that touches ~1% of the batch.
    */
  def dropSeenFast(
      df: DataFrame, content: Column, table: String, filter: Array[Byte]): DataFrame =
    dropSeenFast(df, content, df.sparkSession.table(table), filter)

  /** [[dropSeenFast]] against an in-memory index relation. The blob is
    * deserialized once and broadcast; the plan never carries it as a
    * `Literal`.
    */
  def dropSeenFast(
      df: DataFrame, content: Column, index: DataFrame, filter: Array[Byte]): DataFrame =
    dropSeenFast(df, content, index, broadcastSeenFilter(df.sparkSession, filter))

  /** [[dropSeenFast]] with a pre-registered broadcast filter — the form a
    * multi-batch ingest loop should use (one broadcast per filter build,
    * reused across every batch until the next [[saveSeen]]).
    */
  def dropSeenFast(
      df: DataFrame, content: Column, index: DataFrame,
      bf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]
  ): DataFrame = {
    val maybeSeen = mightBeSeen(content, bf)
    df.where(!maybeSeen)
      .unionByName(dropSeen(df.where(maybeSeen), content, index))
  }

  /** Near-dup keeper selection by score: per cluster, keep the member
    * with the HIGHEST `score` (ties by min id) — production pipelines
    * keep the best document of a duplicate group, not the first-seen
    * ([[dropNearDuplicates]] is the min-id form). Pass a score that is
    * already rounded to its meaningful precision: the rank must not flip
    * on a last-ulp floating-point difference between engines or runs.
    *
    * Plan shape: the CC labels join the scored docs on doc_id, then a
    * top-1-per-cluster window — Spark's WindowGroupLimit prunes every map
    * task to one candidate row per cluster BEFORE the exchange.
    */
  def keepBestPerCluster(
      docs: DataFrame,
      id: Column,
      pairs: DataFrame,
      score: Column
  ): DataFrame =
    keepBestByClusters(docs, id, nearDupClusters(docs, id, pairs), score)

  /** [[keepBestPerCluster]] against PRECOMPUTED cluster labels — the form a
    * pipeline that needs both the keeper set and the cluster map (keep +
    * audit, the normal case) should use: run [[nearDupClusters]] ONCE and
    * hand its output to this and [[dropByClusters]], instead of paying the
    * iterative CC (hours at 100 TB) once per consumer. `clusters` must be
    * a (doc_id, cluster_id) relation covering the docs universe —
    * [[nearDupClusters]]' output contract.
    */
  def keepBestByClusters(
      docs: DataFrame,
      id: Column,
      clusters: DataFrame,
      score: Column
  ): DataFrame = {
    val scored = docs.select(id.as("doc_id"), score.as("score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    clusters.join(scored, Seq("doc_id"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("doc_id").as("keep_id"), col("cluster_id"), col("score"))
  }

  /** MinHash-LSH near-dup candidate pairs over word shingles.
    *
    * shingle → minhash(k) → band keys(b bands × r rows) → explode bands →
    * self-equijoin on (band, key) → distinct pairs. Pair probability of
    * surfacing ≈ 1-(1-s^r)^b for Jaccard s (MMDS ch.3). The heavy md5 work
    * is one pass per shingle (universal re-hash derives the k functions);
    * the join is on 48-bit band keys — a skewed band bucket (e.g. many empty
    * docs) splits under AQE.
    */
  def minhashLshPairs(
      df: DataFrame,
      text: Column,
      id: Column,
      shingleWidth: Int = 3,
      k: Int = 12,
      bands: Int = 4,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // Signatures come from the per-document MinhashSigF kernel (see
    // bandedKeys): the whole tokenize→shingle→md5→k-min fold runs inside
    // the row projection, so the ONLY shuffle in this pipeline is the
    // (band, key) bucket groupBy below — the 100 TB shape. (Round-2
    // history, kept for the record: the array-lambda form ran interpreted
    // at 37 ms/row; the relational explode+lead+k-min rewrite fixed that
    // but still shuffled token rows; the kernel removes that exchange
    // too.) Docs with < shingleWidth tokens have no shingles and are
    // excluded — an empty document is not a near-dup candidate.
    val banded = bandedKeys(df, text, id, shingleWidth, k, bands)
    // Bucket-and-expand instead of a self-join: one shuffle on (band, key),
    // no recomputation of the hashing pipeline for a second join side, and
    // pair generation is a per-bucket array expansion. `maxBucket` is the
    // knob that bounds worst-case pair count at 100 TB: a degenerate
    // bucket (boilerplate-heavy corpora — license headers, templated
    // pages) would expand quadratically, so buckets above the cap are
    // dropped before expansion ([[minhashOversizedBuckets]] reports them).
    val buckets = banded
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
    buckets
      .select(explode(flatten(transform(
        col("ids"),
        (x, i) => transform(
          slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("doc_a"), y.as("doc_b"))
        )
      ))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** (doc_id, band, band_key) rows for the MinHash-LSH banding — the shared
    * front half of [[minhashLshPairs]] and [[minhashOversizedBuckets]].
    *
    * The signature is ONE per-row expression
    * ([[graft.functions.Hashing.minhashSigDoc]]: tokenize → shingle →
    * md5 → k universal-hash minima fused per document) — the former
    * token explode + lead() windows + k-min groupBy routed per-token rows
    * through a shuffle to compute what is per-document math (value
    * -identical; measured 2× at sf0.1, and one less exchange at 100 TB).
    * Band keys then hash the signature slices; the only remaining
    * shuffle in the pair pipeline is the (band, key) bucket groupBy.
    */
  private def bandedKeys(
      df: DataFrame, text: Column, id: Column,
      shingleWidth: Int, k: Int, bands: Int
  ): DataFrame = {
    val r = k / bands
    val sigs = df
      .select(id.as("doc_id"), Hashing.minhashSigDoc(text, shingleWidth, k).as("sig"))
      .where(size(col("sig")) > 0) // docs with < shingleWidth tokens are excluded
    val bandKeys = (0 until bands).map { b =>
      val joined = concat_ws(",",
        (0 until r).map(j => element_at(col("sig"), b * r + j + 1).cast("string")): _*)
      Hashing.hash48(joined)
    }
    sigs.select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
  }

  /** (doc_id, bkey) MinHash band-index entries with a composite long key
    * (band index in the bits above 48, the 48-bit band key below) — the
    * persistable unit of INCREMENTAL near-dup detection. Persist with
    * [[saveBandIndex]]; pair a new batch against history with
    * [[pairsAgainstIndex]]. Same kernel, parameters, and exclusions as
    * [[minhashLshPairs]] (docs with < shingleWidth tokens produce no
    * entries), so index-based and batch pair generation agree exactly.
    */
  def bandIndexEntries(
      df: DataFrame,
      text: Column,
      id: Column,
      shingleWidth: Int = 3,
      k: Int = 12,
      bands: Int = 4
  ): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    bandedKeys(df, text, id, shingleWidth, k, bands)
      .select(col("doc_id"),
        (col("band").cast("long") * lit(1L << 48) + col("band_key")).as("bkey"))
  }

  /** Persist a batch's band entries into a bucketed index table — the
    * incremental-dedup production shape ([[saveSeen]]'s pattern at the
    * NEAR-dup tier): yesterday's 100 TB is never re-signatured, only
    * today's increment is, and the anti-recompute lives in the table
    * layout. Bucketed on `bkey`, so [[pairsAgainstIndex]] plans NO
    * exchange on the index side however large history grows. Appends
    * without a cross-snapshot distinct — pair generation distincts its
    * output, so duplicate index rows only cost join width, and a global
    * distinct against the full index would be exactly the re-shuffle the
    * layout avoids. `maxBucket` (off by default) drops this batch's
    * oversized band buckets at WRITE time — boilerplate keys excluded
    * from the index once, not re-filtered per query
    * ([[minhashOversizedBuckets]] reports them; note the cap is
    * per-batch: a key can still grow past it across appends).
    */
  def saveBandIndex(
      df: DataFrame,
      text: Column,
      id: Column,
      table: String,
      buckets: Int = 64,
      shingleWidth: Int = 3,
      k: Int = 12,
      bands: Int = 4,
      maxBucket: Int = Int.MaxValue
  ): Unit = {
    val spark = df.sparkSession
    val (ident, tmpIdent) = bandIndexIdents(spark, table)
    // fail fast on a half-finished compaction (main table dropped, tmp
    // table holding the only copy): an append here would RECREATE the
    // main table with just this batch, the recovery branch in
    // [[compactBandIndex]] (which requires the table to be missing)
    // would never fire, and the full index history would be silently
    // stranded in the tmp table — excluded from all pair generation.
    // SCOPE: this closes the CRASHED-compaction window (the dangerous
    // state is persistent, so the check always sees it). It is
    // check-then-act, so a compaction running CONCURRENTLY with this
    // append can still interleave its DROP between the check and the
    // write — that case remains excluded only by the documented
    // "quiesce appends while compacting" contract; with a
    // non-transactional catalog there is no atomic guard to take.
    if (!spark.catalog.tableExists(ident.quotedString) &&
        spark.catalog.tableExists(tmpIdent.quotedString))
      throw new IllegalStateException(
        s"band index $table is mid-compaction recovery: the main table is missing and " +
          s"${tmpIdent.quotedString} holds the only copy. Run compactBandIndex to finish " +
          "the swap before appending — appending now would recreate the table with only " +
          "this batch and strand the index history.")
    val entries = bandIndexEntries(df, text, id, shingleWidth, k, bands)
    val capped =
      if (maxBucket == Int.MaxValue) entries
      else entries
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("bkey"))))
        .where(col("__n") <= maxBucket)
        .drop("__n")
    graft.sources.Storage.writeBucketed(capped, table, "bkey", buckets, mode = "append")
  }

  /** Candidate near-dup pairs of `newDocs` against an EXISTING band index
    * ([[bandIndexEntries]] output — a freshly computed DataFrame or
    * `spark.table` over a [[saveBandIndex]] table): one equijoin on the
    * composite band key, output distinct (doc_id, indexed_id). With a
    * bucketed index table the join plans no exchange on the history side
    * — only the new batch shuffles, which is what makes daily increments
    * against years of corpus affordable. `maxBucket` caps the INDEX-side
    * bucket fan-out at query time (an unordered window count — on a
    * bucketed table it needs no exchange either); buckets above it are
    * excluded like [[minhashLshPairs]]' cap.
    */
  def pairsAgainstIndex(
      newDocs: DataFrame,
      text: Column,
      id: Column,
      index: DataFrame,
      shingleWidth: Int = 3,
      k: Int = 12,
      bands: Int = 4,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    val idx = index.select(col("doc_id").as("indexed_id"), col("bkey"))
    // the cap counts DISTINCT indexed docs per bucket (the lag first-seen
    // flag summed over the same-key window — [[dropSharedSegments]]'
    // pattern, one exchange), NOT rows: [[saveBandIndex]]'s append is
    // deliberately non-idempotent, so a retried ingest landing twice must
    // inflate join width only — a row count would double apparent bucket
    // sizes and silently exclude legitimate buckets from pair generation
    val capped =
      if (maxBucket == Int.MaxValue) idx
      else {
        val wOrd = Window.partitionBy(col("bkey")).orderBy(col("indexed_id"))
        val firstSeen = lag(col("indexed_id"), 1).over(wOrd)
        idx
          .withColumn("__new",
            when(firstSeen.isNull || firstSeen =!= col("indexed_id"), 1L).otherwise(0L))
          .withColumn("__n", sum(col("__new")).over(Window.partitionBy(col("bkey"))))
          .where(col("__n") <= maxBucket)
          .drop("__new", "__n")
      }
    bandIndexEntries(newDocs, text, id, shingleWidth, k, bands)
      .join(capped, Seq("bkey"))
      .where(col("doc_id") =!= col("indexed_id"))
      .select(col("doc_id"), col("indexed_id"))
      .distinct()
  }

  /** The distinct plan [[compactBandIndex]] writes — separate so the spec
    * asserts the REAL compaction plan (not a proxy) has no exchange:
    * hash partitioning on the bucket key satisfies the (bkey, doc_id)
    * grouping's clustering requirement (partitioning ⊆ grouping keys).
    */
  private[graft] def compactionPlan(
      spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    spark.table(table).groupBy(col("bkey"), col("doc_id")).agg(lit(1))
      .select(col("doc_id"), col("bkey"))

  /** Compact a [[saveBandIndex]] table in place: collapse the duplicate
    * rows that retried (non-idempotent) appends accumulate. The
    * registered maintenance op for the append-only layout — run it
    * BETWEEN ingest windows, on whatever schedule duplicates warrant:
    * with a non-transactional catalog the table swap cannot be atomic,
    * so an append committing during the swap would be lost — quiesce
    * [[saveBandIndex]] while this runs ([[saveBandIndex]] enforces the
    * crashed-compaction half of this contract: it refuses to append
    * while the tmp table holds the only copy, because recreating the
    * main table would strand the whole history). Correctness never requires
    * compaction ([[pairsAgainstIndex]] distincts its output and its cap
    * counts distinct docs); it reclaims storage and join width.
    *
    * Crash safety: the rewrite goes through a temp table (Spark cannot
    * overwrite a table from a plan reading it), and a run that died
    * between the DROP and the RENAME leaves the temp table as the ONLY
    * copy — a retry detects that state and finishes the swap instead of
    * starting over (which would otherwise destroy the index).
    *
    * Scale shape: no exchange anywhere — a bucketed read, an
    * in-partition distinct ([[compactionPlan]], spec-asserted on the
    * real plan), and a bucketed write. `buckets = 0` (the default)
    * preserves the table's existing bucket count.
    */
  def compactBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      buckets: Int = 0
  ): Unit = {
    require(buckets >= 0, "buckets must be >= 0 (0 = preserve existing)")
    val catalog = spark.catalog
    val (ident, tmpIdent) = bandIndexIdents(spark, table)
    val (tbl, tmp) = (ident.quotedString, tmpIdent.quotedString)
    if (!catalog.tableExists(tbl) && catalog.tableExists(tmp)) {
      // a previous compaction crashed between DROP and RENAME — the tmp
      // table holds the only copy; finish its swap, never drop it
      spark.sql(s"ALTER TABLE $tmp RENAME TO $tbl")
      return
    }
    val nb =
      if (buckets > 0) buckets
      else spark.sessionState.catalog
        .getTableMetadata(ident)
        .bucketSpec.map(_.numBuckets).getOrElse(64)
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    graft.sources.Storage.writeBucketed(compactionPlan(spark, tbl), tmp, "bkey", nb)
    spark.sql(s"DROP TABLE $tbl")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $tbl")
  }

  /** The band-index table's parsed identifier and its `__compact` sibling.
    * Parsed through the session's SQL parser so a QUALIFIED name
    * (`db.tbl`) resolves the same way everywhere — raw interpolation
    * into `TableIdentifier(...)` would treat the whole dotted string as
    * one table name in the current database while `spark.table`/SQL
    * parse the dot, and the two views can disagree (wrong bucket-spec
    * lookup, or a rename targeting a different table). `quotedString`
    * backtick-quotes each part for the SQL statements.
    */
  private def bandIndexIdents(
      spark: org.apache.spark.sql.SparkSession, table: String
  ): (org.apache.spark.sql.catalyst.TableIdentifier,
      org.apache.spark.sql.catalyst.TableIdentifier) = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    (ident, ident.copy(table = ident.table + "__compact"))
  }

  /** Bucket-size distribution of a band index — the sizing surface for
    * [[pairsAgainstIndex]]' `maxBucket` cap: the per-bucket DISTINCT doc
    * counts as a cumulative histogram
    * ([[graft.curation.Corpus.quantileFromBins]] reads the threshold off
    * the result) — pick the cap where the tail starts. One aggregate
    * over the bucketed table (no exchange on the index — same subset
    * rule as [[compactBandIndex]]) plus a histogram over the ≤ #buckets
    * relation.
    */
  def bandIndexStats(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      binWidth: Long = 10L
  ): DataFrame =
    graft.curation.Corpus.histogram(
      spark.table(table).groupBy(col("bkey"))
        .agg(count_distinct(col("doc_id")).as("n_docs_in_bucket")),
      col("n_docs_in_bucket"), binWidth)

  /** The (band, band_key) buckets a `maxBucket` cap would drop, with their
    * member counts — the observability half of the cap: at 100 TB you run
    * this (cheap: the same one-shuffle groupBy, no pair expansion) to size
    * the cap and quantify what boilerplate content is being excluded.
    */
  def minhashOversizedBuckets(
      df: DataFrame,
      text: Column,
      id: Column,
      maxBucket: Int,
      shingleWidth: Int = 3,
      k: Int = 12,
      bands: Int = 4
  ): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands") // same contract as minhashLshPairs
    bandedKeys(df, text, id, shingleWidth, k, bands)
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucket)
  }

  /** SimHash near-dup: 48-bit signature per doc; near-dups are signatures
    * within `maxHamming` bits. Candidate blocking: split the signature into
    * `maxHamming+1` chunks — any pair within the radius shares at least one
    * exact chunk (pigeonhole), so the join is again an equijoin on
    * (chunk_index, chunk_value).
    *
    * The signature is ONE per-row expression
    * ([[graft.functions.Hashing.simhashDoc]]: tokenize → md5 per token →
    * 48 bit-votes fused per document; empty docs → 0) — bit votes are
    * per-document sums, so the former explode + 48-sum-aggregate groupBy
    * only existed to route token rows through a shuffle (value-identical;
    * that relational form was itself 30× over the interpreted array-lambda
    * [[graft.functions.Hashing.simhash48]], and this removes its last
    * exchange: measured 1.2 s → 0.1 s at sf0.1). NULL-text docs coalesce
    * to signature 0, the contract the explode_outer form established (and
    * what makes null-text duplicates still pair up in [[simhashPairs]]).
    */
  def simhashSignatures(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(id.as("doc_id"), coalesce(Hashing.simhashDoc(text), lit(0L)).as("simhash"))

  def simhashPairs(df: DataFrame, text: Column, id: Column, maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashSignatures(df, text, id), col("doc_id"), col("simhash"),
      Hashing.HashBits, maxHamming)

  /** Hamming-radius candidate pairs over ANY precomputed bit signature —
    * the pigeonhole chunk blocking behind [[simhashPairs]], factored out
    * so other signature families (perceptual frame hashes, feature
    * sketches) reuse it: split the `bits`-wide signature into
    * `maxHamming + 1` chunks; any pair within the radius must agree on at
    * least one whole chunk, so a bucket join on (chunk, value) finds
    * EXACTLY the pairs an all-pairs scan would.
    *
    * Scale shape: bucket-and-expand — ONE shuffle on the chunk key, the
    * signature relation evaluated once, pair generation a per-bucket
    * array expansion. `maxBucket` bounds the worst case (a degenerate
    * chunk value shared corpus-wide would otherwise expand
    * quadratically): larger buckets are dropped BEFORE expansion, and
    * [[hammingOversizedBuckets]] reports what was excluded — the
    * [[minhashLshPairs]] discipline.
    */
  def hammingPairs(
      sigRel: DataFrame,
      id: Column,
      sig: Column,
      bits: Int,
      maxHamming: Int,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    val chunked = hammingChunks(sigRel, id, sig, bits, maxHamming)
    val buckets = chunked
      .groupBy(col("chunk"), col("chunk_val"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ms"))
      .where(size(col("ms")) > 1 && size(col("ms")) <= maxBucket)
    buckets
      .select(explode(flatten(transform(
        col("ms"),
        (x, i) => transform(
          slice(col("ms"), i + 2, size(col("ms"))),
          y => struct(
            x.getField("doc_id").as("doc_a"),
            y.getField("doc_id").as("doc_b"),
            Hashing.hammingDistance(x.getField("simhash"), y.getField("simhash")).as("hamming")
          )
        )
      ))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Buckets [[hammingPairs]] dropped at `maxBucket` — the observability
    * half of the cap (cf. [[minhashOversizedBuckets]]).
    */
  def hammingOversizedBuckets(
      sigRel: DataFrame,
      id: Column,
      sig: Column,
      bits: Int,
      maxHamming: Int,
      maxBucket: Int
  ): DataFrame =
    hammingChunks(sigRel, id, sig, bits, maxHamming)
      .groupBy(col("chunk"), col("chunk_val"))
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucket)

  private def hammingChunks(
      sigRel: DataFrame,
      id: Column,
      sig: Column,
      bits: Int,
      maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    // floor division: any remainder bits go unchecked, which only COARSENS
    // buckets (more candidates, same exactness) — the pigeonhole argument
    // needs agreement on one chunk, not full coverage
    val bitsPerChunk = bits / chunks
    require(bitsPerChunk > 0, s"maxHamming $maxHamming too large for a $bits-bit signature")
    sigRel.select(id.as("doc_id"), sig.as("simhash")).select(
      col("doc_id"),
      col("simhash"),
      posexplode(
        array((0 until chunks).map { c =>
          shiftright(col("simhash"), c * bitsPerChunk)
            .bitwiseAND(lit((1L << bitsPerChunk) - 1))
        }: _*)
      ).as(Seq("chunk", "chunk_val"))
    )
  }

  /** Document fingerprints: minimum ROLLING n-byte-gram hash per doc
    * ([[graft.plans.RollingHash48]] — Karp–Rabin, one O(len) pass; empty
    * docs get the Prime sentinel). Value-identical to the column form
    * [[graft.functions.Hashing.fingerprint]].
    *
    * Scale shape: a pure per-row expression — NO explode, NO aggregation,
    * ZERO shuffles (the previous explode-gram→md5-per-row→min-aggregate
    * pipeline paid one digest per gram plus a full shuffle of the doc
    * stream; measured 2.3 s → 0.15 s at sf0.1).
    */
  def fingerprints(df: DataFrame, text: Column, id: Column, n: Int = 8): DataFrame =
    df.select(
      id.as("doc_id"),
      coalesce(array_min(Hashing.gramHashes(text, n)), lit(Hashing.Prime)).as("fingerprint"))

  /** Near-dup CLUSTERS from candidate pairs: connected components by
    * min-label propagation — the step that turns a pair list
    * ([[minhashLshPairs]], [[simhashPairs]], [[embeddingNearDups]]) into
    * dedup groups (`cluster_id` = smallest doc id in the component; keep
    * one row per cluster downstream). Every doc in `vertices` appears;
    * docs in no pair are their own singleton cluster.
    *
    * Scale shape: the distributed CC loop — per iteration one equijoin of
    * edges against current labels + a min-aggregate, then a POINTER
    * DOUBLING step (label(x) ← label(label(x)), one self-join) that
    * collapses chains O(log diameter) instead of O(diameter) — the
    * Hash-to-Min shape (cf. Rastogi et al., "Finding Connected Components
    * in Map-Reduce", ICDE'13; Kiveris et al. SoCC'14 for the star
    * variants). The pair plan is materialized once ([[graft.Materialize]]
    * — localCheckpoint by default, executor-loss-safe reliable checkpoint
    * when the `graft.checkpointDir` conf is set, which any real-cluster
    * run should do) rather than re-executed per iteration; label
    * checkpoints truncate the growing lineage, as GraphX/GraphFrames do;
    * the convergence check is
    * an `observe()` metric folded into the label-update plan itself, so
    * each iteration is ONE job (the update join materialization), not an
    * update job plus a separate changed-count job. The loop iterates only
    * EDGE-TOUCHED vertices (≤ 2·|pairs| rows — the duplicate closure, not
    * the corpus); untouched vertices are provably self-labeled singletons
    * and re-enter through one post-convergence anti-join.
    *
    * Small-graph fast path: when |pairs| ≤ `localPairs` (default 2M —
    * the same bounded-driver-aggregate budget as
    * [[graft.streaming.IngestDedup]]'s collectThreshold) and the id type
    * has a driver ordering matching Spark's (integral/string), the
    * components are solved by one driver union-find over the collected
    * pair list instead of the iterative loop: the loop costs a full Spark
    * job PER iteration (scheduling + shuffles + label checkpoint), which
    * for a graph this size is two orders of magnitude more wall time than
    * the milliseconds of driver CPU the union-find needs — and a 14-round
    * convergence becomes one collect. Label semantics are identical
    * (cluster_id = component minimum under Spark's own ordering for the
    * type; union-by-min roots + path compression). Above the threshold —
    * the only regime a 100 TB corpus's pair stage lands in — the
    * distributed loop runs exactly as documented. `localPairs = 0`
    * forces the distributed path (the equivalence spec does).
    */
  def nearDupClusters(
      vertices: DataFrame,
      id: Column,
      pairs: DataFrame,
      maxIter: Int = 25,
      localPairs: Long = 2000000L
  ): DataFrame = {
    // Constraint propagation is OFF for the duration of the loop: the
    // materialized labels' LogicalRDD snapshots alias-equality
    // constraints whose references are not in its output, and chaining
    // those snapshots through iterations makes Spark 4.1's
    // Union.rewriteConstraints throw NoSuchElementException at analysis
    // time (surfaced by [[mergeClusters]]' star-edge union; reproduced
    // bisecting the loop). Constraints buy nothing here — every join is
    // a hash equijoin on non-null longs — and snapshots taken with the
    // conf off carry no constraints at all, so the RETURNED labels stay
    // union-safe for callers after the conf is restored.
    //
    // The conf is SESSION-scoped, so concurrent CC runs on one session
    // are serialized — otherwise the first finisher's restore would
    // re-enable propagation under the second run mid-loop. The lock is a
    // DEDICATED per-session object (from `ccLocks`), NOT the
    // SparkSession's own monitor: a multi-iteration CC run holds its
    // lock for potentially hours, and synchronizing on the session
    // itself would block every unrelated thread that touches the
    // session's monitor (Scala lazy-val initialization of
    // sessionState/sharedState, any other session.synchronized) for the
    // whole run. Unrelated queries analyzed on the same session during a
    // run still lose constraint-derived filter inference for that
    // window; use a separate session (`spark.newSession()`) for
    // concurrent workloads that need it.
    val session = vertices.sparkSession
    ccLocks.computeIfAbsent(session, _ => new Object).synchronized {
      val cpKey = "spark.sql.constraintPropagation.enabled"
      val cpPrev = session.conf.getOption(cpKey)
      session.conf.set(cpKey, "false")
      try graft.Materialize.scope(nearDupClustersImpl(vertices, id, pairs, maxIter, localPairs))
      finally cpPrev match {
        case Some(v) => session.conf.set(cpKey, v)
        case None    => session.conf.unset(cpKey)
      }
    }
  }

  /** A driver ordering that matches Spark's own min-aggregate ordering for
    * the id type, or None if the type has no such guarantee here (the
    * distributed loop then runs regardless of pair count). Strings compare
    * as UTF8 binary — Spark's StringType ordering — NOT Java's UTF-16
    * `compareTo`, which diverges on supplementary-plane code points.
    */
  private def idOrdering(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType    => Some(Ordering.by((a: Any) => a.asInstanceOf[Byte]))
      case ShortType   => Some(Ordering.by((a: Any) => a.asInstanceOf[Short]))
      case IntegerType => Some(Ordering.by((a: Any) => a.asInstanceOf[Int]))
      case LongType    => Some(Ordering.by((a: Any) => a.asInstanceOf[Long]))
      case StringType  => Some(new Ordering[Any] {
        override def compare(x: Any, y: Any): Int =
          org.apache.spark.unsafe.types.UTF8String.fromString(x.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y.asInstanceOf[String]))
      })
      case _ => None
    }
  }

  /** Driver union-find over a collected pair list: union-by-min roots (the
    * component minimum is ALWAYS the root, so no second min pass) + path
    * compression. Returns the touched-vertex labeling `(doc_id,
    * cluster_id)` as a DataFrame of the original id type — bit-identical
    * to what the distributed min-label loop converges to.
    */
  private def localUnionFind(
      spark: org.apache.spark.sql.SparkSession,
      pairRows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType,
      ord: Ordering[Any]
  ): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.get(x)
      while (p != null && p != x) { x = p; p = parent.get(x) }
      val root = x
      // path compression
      x = x0
      p = parent.get(x)
      while (p != null && p != root) { parent.put(x, root); x = p; p = parent.get(x) }
      root
    }
    pairRows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // the smaller root stays root — the component min is the root
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val v = it.next()
      out.add(org.apache.spark.sql.Row(v, find(v)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id", idType, nullable = false)))
    spark.createDataFrame(out, schema)
  }

  private def nearDupClustersImpl(
      vertices: DataFrame,
      id: Column,
      pairs: DataFrame,
      maxIter: Int,
      localPairs: Long
  ): DataFrame = {
    val vertexIds = vertices.select(id.as("doc_id"))
    // Edges are restricted to the vertex universe FIRST: a pair citing an
    // id outside `vertices` (pairs computed over a superset corpus) would
    // otherwise inject a foreign label, crown it cluster root, and — in
    // dropNearDuplicates — delete the whole cluster because its root is
    // not a keepable row. Then materialize the (usually expensive) pair
    // plan ONCE — the loop would otherwise re-execute the full
    // candidate-generation pipeline per iteration through the edges join.
    // materialize BEFORE the union — each union branch would otherwise
    // re-execute the whole pair plan. Materialization is localCheckpoint
    // by default and a reliable checkpoint when graft.checkpointDir is set
    // ([[graft.Materialize]]) — on a real cluster the label/edge blocks of
    // an hours-long CC run must survive executor loss.
    val inUniverse = graft.Materialize(pairs
      .join(vertexIds.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(vertexIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi"))
    // Small-graph fast path (see the public scaladoc): one bounded collect
    // + driver union-find replaces a jobs-per-iteration loop. The pair
    // count comes from the checkpoint's statistics, with no job.
    val ord = idOrdering(inUniverse.schema("doc_a").dataType)
    if (ord.isDefined && localPairs > 0 && graft.Materialize.rows(inUniverse) <= localPairs) {
      val labels = localUnionFind(
        vertices.sparkSession,
        inUniverse.select(col("doc_a"), col("doc_b")).collect(),
        inUniverse.schema("doc_a").dataType, ord.get)
      return labels.unionByName(
        vertexIds.join(labels, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("doc_id").as("cluster_id")))
    }
    val edges = graft.Materialize(
      inUniverse.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(inUniverse.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    graft.Materialize.release(inUniverse)
    // The loop runs over EDGE-TOUCHED vertices only: a vertex in no pair
    // has no incoming propagation, so its label is provably self forever —
    // iterating it just reshuffles it maxIter times. Touched vertices are
    // bounded by 2·|pairs| (the duplicate closure), which at 100 TB is
    // orders of magnitude below |corpus|: every per-iteration exchange
    // (neighborhood min, pointer-doubling self-join) now carries the
    // near-dup candidates, not the corpus. Untouched vertices re-enter
    // with self-labels AFTER convergence via one anti-join (below) — the
    // returned relation still labels every vertex, exactly as before.
    // (src covers both endpoints because `edges` holds both directions.)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    var changed = 1L
    var i = 0
    val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    while (changed > 0 && i < maxIter) {
      val tIter0 = System.nanoTime()
      // Each label row is tagged __own=true before the union, so the SAME
      // min-aggregate that computes the neighborhood minimum also carries
      // each doc's previous label out (min over the one tagged row) — the
      // convergence comparison needs no separate join against `labels`.
      val viaEdges = edges
        .join(labels.select(col("doc_id").as("src"), col("cluster_id")), Seq("src"))
        .select(col("dst").as("doc_id"), col("cluster_id"), lit(false).as("__own"))
      val neighborMin = labels.select(col("doc_id"), col("cluster_id"), lit(true).as("__own"))
        .unionByName(viaEdges)
        .groupBy(col("doc_id"))
        .agg(
          min(col("cluster_id")).as("cluster_id"),
          min(when(col("__own"), col("cluster_id"))).as("__old"))
      // pointer doubling: label(x) <- label(label(x)). Labels only ever
      // point at other doc ids (they start as self and move down by min),
      // so the self-join is total; each round halves the remaining chain
      // depth -> O(log diameter) rounds instead of O(diameter), which is
      // what makes long boilerplate chains converge in a handful of jobs.
      // The changed-count is observed on the materialization's own job
      // ([[graft.Materialize.observed]]): ONE job per iteration carries
      // the edge propagation, the doubling, and the convergence check.
      val (updated, m) = graft.Materialize.observed(
        neighborMin
          .join(
            neighborMin.select(col("doc_id").as("__cid"), col("cluster_id").as("__cid2")),
            col("cluster_id") === col("__cid"))
          .select(col("doc_id"), col("__cid2").as("cluster_id"),
            (col("__cid2") =!= col("__old")).as("__moved")),
        count(when(col("__moved"), 1)).as("changed"))
      changed = m.getAs[Long]("changed")
      if (dbg) println(f"cc iter $i: ${(System.nanoTime() - tIter0) / 1e9}%.3f s, changed=$changed")
      graft.Materialize.release(labels) // drop the superseded checkpoint's blocks
      labels = updated
      i += 1
    }
    require(changed == 0, s"nearDupClusters did not converge in $maxIter iterations")
    // Untouched vertices (no pair) are singleton clusters labeled self.
    // One anti-join against the converged (materialized, lineage-free)
    // labels — paid once, not per iteration. `labels` covers exactly the
    // touched set, so the union is a disjoint, total labeling.
    val out = labels.select(col("doc_id"), col("cluster_id")).unionByName(
      vertexIds.join(labels, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("cluster_id")))
    out
  }

  /** Benchmark-contamination screen: which corpus documents share at least
    * `minShared` distinct byte n-gram hashes with which benchmark items —
    * the decontamination step a training corpus runs against eval sets
    * before training. The benchmark side is SMALL by construction (eval
    * sets are thousands of items) and is broadcast; the corpus side is an
    * n-gram explode joined on the 48-bit gram hash — one broadcast
    * equijoin, no corpus shuffle, which is the 100 TB shape. Gram hashing
    * uses the portable rolling hash ([[graft.plans.RollingHash48]]), so
    * the result is oracle-reproducible and gram hashing is one O(len)
    * pass per document.
    */
  def contamination(
      docs: DataFrame,
      text: Column,
      id: Column,
      benchmark: DataFrame,
      benchText: Column,
      benchId: Column,
      n: Int = 8,
      minShared: Int = 3
  ): DataFrame = {
    val benchGrams = gramHashRows(benchmark, benchText, benchId, "bench_id", n)
      .select(col("bench_id"), col("h")).distinct()
    // Filter corpus gram rows against the (small, broadcast) benchmark
    // hash set BEFORE the distinct: distinct-ing the full corpus gram
    // stream first shuffles |corpus|·|grams/doc| rows — measured 2.5×
    // slower at sf0.1, and at 100 TB it's the difference between shuffling
    // matches and shuffling everything. A broadcast left-semi join (not a
    // driver-collected In-list) keeps the eval set off the driver and out
    // of the plan's expression tree at real eval-set sizes.
    gramHashRows(docs, text, id, "doc_id", n)
      .select(col("doc_id"), col("h"))
      .join(broadcast(benchGrams.select(col("h")).distinct()), Seq("h"), "left_semi")
      .distinct()
      .join(broadcast(benchGrams), Seq("h"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Span-level contamination report — [[contamination]] with POSITIONS:
    * for every (document, benchmark item) pair sharing at least
    * `minShared` byte-gram HIT POSITIONS, one row PER COLLISION RUN —
    * hit positions clustered so that a gap larger than `runGap` bytes
    * between consecutive hits starts a new span. This is the surgical
    * decontamination readout: [[contamination]] says WHICH documents to
    * drop; this says WHERE each overlap sits, so a pipeline can excise
    * the spans (the GPT-3 appendix-C practice of removing a window
    * around EACH collision) instead of discarding a whole book for one
    * quoted benchmark line. Per-run emission matters on long documents:
    * two 8-byte collisions at bytes 10 and 4,000 are two small spans,
    * not one 4,000-byte hull — the min/max ENVELOPE form (one row per
    * pair) destroyed the clean text between distant collisions (the
    * round-9 weak finding) and remains available as
    * `runGap = Long.MaxValue`.
    *
    * Position semantics: offsets are 0-based BYTE indexes of the n-gram
    * start ([[graft.plans.RollingHash48]] grams are byte grams);
    * `n_hits` counts document POSITIONS within the run (a doc repeating
    * a contaminated gram k times scores k — repetition widens the
    * excision window), while the benchmark side is distinct-gram as in
    * [[contamination]]. `minShared` screens on the PAIR total (the
    * "is this pair contaminated" threshold), not per run — a pair
    * passing the screen emits all of its runs. `runGap < 0` (default)
    * means `n` — adjacent/overlapping grams chain, anything further
    * apart splits.
    *
    * Scale shape: identical to [[contamination]] — benchmark grams
    * broadcast, corpus gram stream prefiltered map-side by a broadcast
    * left-semi BEFORE anything shuffles, ONE (doc, bench) exchange
    * carrying only matching positions; the run-clustering window and
    * both aggregates reuse that one partitioning (HashPartitioning on
    * (doc, bench) satisfies the (doc, bench, run) clustering — no
    * second exchange).
    */
  def contaminationSpans(
      docs: DataFrame,
      text: Column,
      id: Column,
      benchmark: DataFrame,
      benchText: Column,
      benchId: Column,
      n: Int = 8,
      minShared: Int = 1,
      runGap: Long = -1L
  ): DataFrame = {
    val effGap = if (runGap < 0) n.toLong else runGap
    val benchGrams = gramHashRows(benchmark, benchText, benchId, "bench_id", n)
      .select(col("bench_id"), col("h")).distinct()
    val hits = docs.select(id.as("doc_id"),
        posexplode(graft.functions.Hashing.gramHashes(text, n)).as(Seq("pos", "h")))
      .join(broadcast(benchGrams.select(col("h")).distinct()), Seq("h"), "left_semi")
      .join(broadcast(benchGrams), Seq("h"))
    val wOrd = Window.partitionBy(col("doc_id"), col("bench_id")).orderBy(col("pos"))
    val wPair = Window.partitionBy(col("doc_id"), col("bench_id"))
    hits
      .withColumn("__prev", lag(col("pos"), 1).over(wOrd))
      .withColumn("__nw",
        when(col("__prev").isNull || (col("pos") - col("__prev")) > effGap, 1).otherwise(0))
      .withColumn("__run", sum(col("__nw")).over(wOrd))
      .withColumn("__pair_hits", count(lit(1)).over(wPair))
      .where(col("__pair_hits") >= minShared)
      .groupBy(col("doc_id"), col("bench_id"), col("__run"))
      .agg(
        count(lit(1)).as("n_hits"),
        min(col("pos")).cast("long").as("first_byte"),
        max(col("pos")).cast("long").as("last_byte"))
      .select(col("doc_id"), col("bench_id"), col("n_hits"),
        col("first_byte"), col("last_byte"))
  }

  /** Corpus-INTERNAL repeated-span detection — the "exact substring
    * duplication" signal (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22: repeated spans are memorization
    * fuel even when whole documents differ): every byte position whose
    * n-gram occurs in at least `minDf` DISTINCT documents, emitted as
    * `(doc_id, s, e = pos + n)` spans ready for [[exciseSpans]] (which
    * merges runs of adjacent hit positions into one island and cuts it).
    * [[contaminationSpans]] screens against an external benchmark; this
    * screens the corpus against itself.
    *
    * Scale shape: the gram stream never shuffles raw — a Count–Min
    * sketch built in one scan screens candidates MAP-SIDE first (an
    * n-gram in ≥ minDf docs has ≥ minDf occurrences, so
    * `CMS(h) >= minDf` has no false negatives; the
    * [[graft.functions.Sketches.heavyHitters]] discipline), and only
    * survivors pay the exact distinct-doc count and the hot-gram join.
    * On a boilerplate-heavy corpus most positions genuinely are
    * repeated — then the volume is the data's truth, and the excision
    * downstream is exactly the point.
    */
  def repeatedSpans(
      docs: DataFrame,
      text: Column,
      id: Column,
      n: Int = 8,
      minDf: Long = 2L,
      depth: Int = 5,
      width: Int = 1 << 18,
      seed: Int = 42
  ): DataFrame = {
    require(minDf >= 2, s"minDf below 2 would flag every position: $minDf")
    val spark = docs.sparkSession
    // The gram explode fans each document out ~|text| ways, so the scan's
    // partition count — not its bytes — bounds the whole sketch/candidate
    // pipeline's parallelism (a single small parquet file reads as ONE
    // task, and that task then pays the full corpus's gram hashing:
    // measured 2×~1 s single-task stages at sf0.1/local[32]).
    // REGIME-GATED ([[graft.Fanout]]): the pin applies only when the
    // docs scan collapsed below the session target — at cluster scale
    // the scan is already wide and an unconditional pin would shuffle
    // every document's raw TEXT for nothing (round-16 verdict).
    val grams = graft.Fanout.repartitionSelfIfNarrow(docs, id)
      .select(id.as("doc_id"),
        posexplode(graft.functions.Hashing.gramHashes(text, n)).as(Seq("pos", "h")))
    val bc = spark.sparkContext.broadcast(
      graft.functions.Sketches.cmsSketch(grams, col("h"), depth, width, seed))
    val candidate = org.apache.spark.sql.GraftBridge.column(
      graft.plans.CmsCountGteB(
        bc, minDf, org.apache.spark.sql.GraftBridge.expression(xxhash64(col("h")))))
    // cand is recomputed by both consumers (the exact-df aggregate and
    // the final semi-join) — deliberately: a round-17 experiment
    // checkpointed it and the survivor relation's checkpoint write cost
    // MORE than the two map-side CMS-screened gram re-passes it saved
    // (q139 profile: a 15.6 s-task-time materialize vs ~5.5 s per
    // re-pass at sf0.1/local[32]; bench 3.75 → 4.84 s). Kept
    // un-materialized, the counter-example discipline.
    val cand = grams.where(candidate)
    val hot = cand.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("h"))
    cand.join(hot, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + n).cast("long").as("e"))
  }

  /** Surgical span EXCISION — the action side of [[contaminationSpans]]:
    * cut the given byte ranges (± `pad` bytes) out of each document's
    * text instead of dropping the document. Overlapping/adjacent spans
    * are merged into islands first, so the output is the document with
    * each contaminated island removed once —
    * `(doc_id, clean_text, n_spans, n_cut_bytes)`; a document with no
    * spans passes through untouched with zero counts.
    *
    * Byte semantics: spans address BYTES (`[start, end)`, matching
    * [[contaminationSpans]]'s offsets — pass `last_byte + n` as the end),
    * and the surgery runs on the UTF-8 bytes, so offsets never drift on
    * multi-byte text; a span boundary that splits a codepoint yields
    * replacement characters on decode — pad generously or align spans to
    * codepoint boundaries if that matters downstream.
    *
    * Scale shape: island-merging is two windows + one aggregate over the
    * SPANS relation (tiny — contamination hits, not the corpus), the
    * span lists ride a (doc_id) join back onto the corpus, and the cut
    * itself is a pure per-row fold over the sorted island array — the
    * corpus is never exploded or shuffled beyond the one id join.
    */
  def exciseSpans(
      docs: DataFrame,
      text: Column,
      id: Column,
      spans: DataFrame,
      spanDocId: Column,
      spanStart: Column,
      spanEnd: Column,
      pad: Int = 0
  ): DataFrame = {
    require(pad >= 0, s"pad must be non-negative: $pad")
    import org.apache.spark.sql.expressions.Window
    // DISTINCT before island detection: several benchmark items often
    // yield the IDENTICAL padded span, and duplicate (s, e) rows make the
    // two window passes tie-ambiguous — an engine is free to order exact
    // ties differently in the island-flag pass and the cumulative-sum
    // pass, splitting one island into two nondeterministically (observed
    // in the q137 oracle). With duplicates removed, (s, e) is unique per
    // doc and the ordering is total.
    val sp = spans.select(
        spanDocId.as("doc_id"),
        greatest(spanStart.cast("long") - pad, lit(0L)).as("s"),
        (spanEnd.cast("long") + pad).as("e"))
      .where(col("e") > col("s"))
      .distinct()
    // island merge: a span opens a new island iff it starts past every
    // prior span's end (runs per doc over the SPAN relation only)
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val runMax = max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val islands = sp
      .withColumn("__new",
        when(col("s") > coalesce(runMax, lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("__isl",
        sum(col("__new")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val lists = islands.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__ivs"))
    val withBin = docs.select(id.as("doc_id"), text.as("__text"))
      .join(lists, Seq("doc_id"), "left")
      .withColumn("__bin", encode(col("__text"), "UTF-8"))
    // fold over the sorted islands: carry (cut position p, kept bytes acc);
    // each island appends the gap [p, s) and advances p to its end
    val cleanBin = aggregate(
      col("__ivs"),
      struct(lit(0L).as("p"), lit(Array.emptyByteArray).as("acc")),
      (st, iv) => struct(
        iv.getField("e").as("p"),
        concat(st.getField("acc"),
          col("__bin").substr(
            (st.getField("p") + 1).cast("int"),
            greatest(iv.getField("s") - st.getField("p"), lit(0L)).cast("int")))
          .as("acc")),
      st => concat(st.getField("acc"),
        col("__bin").substr(
          (st.getField("p") + 1).cast("int"),
          greatest(octet_length(col("__bin")) - st.getField("p"), lit(0L)).cast("int"))))
    withBin
      .withColumn("__clean", when(col("__ivs").isNull, col("__bin")).otherwise(cleanBin))
      .select(
        col("doc_id"),
        decode(col("__clean"), "UTF-8").as("clean_text"),
        // size(null) is -1 under the default legacy conf — branch explicitly
        when(col("__ivs").isNull, lit(0L))
          .otherwise(size(col("__ivs")).cast("long")).as("n_spans"),
        (octet_length(col("__bin")) - octet_length(col("__clean")))
          .cast("long").as("n_cut_bytes"))
  }

  /** Embedding-space contamination screen — the SEMANTIC complement of
    * the n-gram [[contamination]] screen: which corpus vectors sit within
    * `minCosine` of which benchmark vectors. Paraphrased or re-formatted
    * eval items share no byte n-grams with their source but land next to
    * it in embedding space; decontamination pipelines (GPT-3 appendix C →
    * Llama-era practice) run BOTH screens and drop the union.
    *
    * Scale shape: the benchmark side is eval-set-sized (thousands) and is
    * BROADCAST with norms staged once per vector; the corpus side streams
    * map-side through the dot products — zero corpus exchange, recall 1
    * by construction (every (corpus, bench) pair is scored). At 100 TB
    * the per-row cost is |bench|·dim multiply-adds, the honest price of
    * exact recall; when the eval set outgrows the broadcast budget, cell-
    * probe it via [[graft.similarity.IVF]] and accept the probe recall.
    */
  def semanticContamination(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      benchmark: DataFrame,
      benchId: Column,
      benchVec: Column,
      minCosine: Double
  ): DataFrame = {
    import graft.functions.VectorFunctions
    val c = corpus.select(id.as("doc_id"), vec.as("c_vec"),
      VectorFunctions.norm2(vec).as("c_nrm"))
    val b = benchmark.select(benchId.as("bench_id"), benchVec.as("b_vec"),
      VectorFunctions.norm2(benchVec).as("b_nrm"))
    // the division is when-guarded, not join-filtered: ANSI mode evaluates
    // a pushed-down divide eagerly, and a zero-norm row must drop, not throw
    val nn = col("c_nrm") * col("b_nrm")
    c.join(broadcast(b), nn > 0)
      .select(col("doc_id"), col("bench_id"),
        round(when(nn > 0, VectorFunctions.dot(col("c_vec"), col("b_vec")) / nn)
          .otherwise(lit(0.0)), 4).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** The shared n-byte-gram hash explode: one row per (doc, gram) with the
    * 48-bit rolling gram hash. The hashes materialize as ONE primitive
    * long-array expression per document ([[graft.functions.Hashing
    * .gramHashes]]) and explode from there — no per-gram substring, no
    * per-gram digest ([[fingerprints]], [[winnowingFingerprints]] and
    * [[contamination]] share the [[graft.plans.RollingHash48]] kernel;
    * changing gram semantics there changes all three and their oracles
    * together).
    */
  private def gramHashRows(
      df: DataFrame, text: Column, id: Column, idName: String, n: Int
  ): DataFrame =
    df.select(id.as(idName), explode(Hashing.gramHashes(text, n)).as("h"))

  /** The terminal dedup step: keep exactly one document per near-dup
    * cluster (the smallest id — deterministic and stable under re-runs),
    * preserving all original columns. Composes [[nearDupClusters]] with a
    * semi-join back onto the corpus: the kept set is
    * `{doc : cluster_id(doc) == doc_id}`, i.e. cluster roots.
    */
  def dropNearDuplicates(
      docs: DataFrame,
      id: Column,
      pairs: DataFrame
  ): DataFrame =
    dropByClusters(docs, id, nearDupClusters(docs, id, pairs))

  /** [[dropNearDuplicates]] against PRECOMPUTED cluster labels (see
    * [[keepBestByClusters]] for why): the kept set is the cluster roots,
    * `{doc : cluster_id(doc) == doc_id}`, semi-joined back onto the corpus
    * so all original columns survive.
    */
  def dropByClusters(
      docs: DataFrame,
      id: Column,
      clusters: DataFrame
  ): DataFrame = {
    val keepers = clusters
      .where(col("doc_id") === col("cluster_id"))
      .select(col("doc_id").as("__keep_id"))
    docs.join(keepers, id === col("__keep_id"), "left_semi")
  }

  /** Full winnowing fingerprint SETS (Schleimer et al., SIGMOD'03) — the
    * multi-fingerprint upgrade of [[fingerprints]]' 1-element sketch: hash
    * every char n-gram, slide a window of `w` consecutive gram hashes, keep
    * the minimum of each window, emit the distinct minima per document.
    * Guarantee: any shared substring of length ≥ n + w - 1 between two
    * documents yields at least one shared fingerprint.
    *
    * Tie-breaking (which POSITION is selected) does not affect the output:
    * only distinct VALUES are kept, and the window minimum value is
    * position-independent — which is also what makes the DuckDB oracle
    * reproduction exact. Docs shorter than n + w - 1 bytes have no full
    * window and produce no rows.
    *
    * Scale shape: the ENTIRE per-document computation (rolling gram
    * hashes → monotone-deque sliding minimum → per-doc distinct) runs as
    * one map-side expression ([[graft.functions.Hashing.winnowSet]]) and
    * explodes its primitive array — ZERO exchanges (the previous
    * relational form paid a window sort plus a distinct shuffle, and one
    * md5 per gram; measured 2.9 s → 0.2 s at sf0.1). Winnowing is
    * per-document math, so map-side is its natural scale shape.
    */
  def winnowingFingerprints(
      df: DataFrame, text: Column, id: Column, n: Int = 8, w: Int = 4
  ): DataFrame =
    df.select(id.as("doc_id"), explode(Hashing.winnowSet(text, n, w)).as("fingerprint"))

  /** Cross-document repeated spans: winnowing fingerprints that occur in
    * at least `minDocs` distinct documents, with how many and the smallest
    * carrier id. By the winnowing guarantee, any substring of length
    * ≥ n + w − 1 shared verbatim between `minDocs` documents surfaces
    * here — the detection half of exact-substring deduplication (cf. Lee
    * et al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22, which dedups repeated spans rather than whole documents).
    *
    * Scale shape: [[winnowingFingerprints]] is map-side-only, so the whole
    * operator is ONE fingerprint-key shuffle with map-side partial
    * aggregation; output is fingerprint-universe-sized and pre-filtered by
    * `minDocs` before anything downstream touches it.
    */
  def sharedSpans(
      docs: DataFrame,
      text: Column,
      id: Column,
      n: Int = 8,
      w: Int = 4,
      minDocs: Int = 2
  ): DataFrame = {
    require(minDocs >= 2, "minDocs below 2 would report every fingerprint")
    // winnowSet is distinct per document, so count(*) counts documents
    winnowingFingerprints(docs, text, id, n, w)
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= minDocs)
  }

  /** Per-document boilerplate score: the fraction of the doc's winnowing
    * fingerprints that are carried by at least `minDocs` documents — how
    * much of this document is made of spans that exist elsewhere in the
    * corpus. Near 1.0 = templated/boilerplate (headers, license blocks,
    * mirrored content); near 0.0 = original text. The per-document action
    * side of [[sharedSpans]]' corpus-wide detection. Docs too short for a
    * single window (< n + w − 1 bytes) report 0 fingerprints, score 0.
    *
    * Scale shape: ONE pass over the corpus — carrier counts come from an
    * unordered window aggregate over the fingerprint partition (one
    * exchange), not a self-join that would re-scan and re-winnow the
    * corpus; then one doc-key aggregate. Two exchanges total, both over
    * the fingerprint rows, never the texts.
    */
  def boilerplateScore(
      docs: DataFrame,
      text: Column,
      id: Column,
      n: Int = 8,
      w: Int = 4,
      minDocs: Int = 2
  ): DataFrame = {
    require(minDocs >= 2, "minDocs below 2 would score every span as shared")
    val fp = winnowingFingerprints(docs, text, id, n, w)
    val carriers = org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))
    val perDoc = fp
      .withColumn("__carriers", count(lit(1)).over(carriers))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_fp"),
        sum(when(col("__carriers") >= minDocs, 1L).otherwise(0L)).as("n_shared"))
    docs.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)) /
          greatest(coalesce(col("n_fp"), lit(0L)), lit(1L)), 4).as("shared_frac"))
  }

  /** Segment-level shared-content removal — the per-SEGMENT action side
    * of boilerplate dedup (CCNet's line-level dedup, generalized to any
    * delimiter): split each document on `delimiter`, count how many
    * DISTINCT documents carry each segment, drop every occurrence of the
    * segments carried by at least `minDocs` documents, and reassemble
    * the survivors in original order. `delimiter = "\n"` is classic line
    * dedup (license headers, navigation chrome, templated footers);
    * `" "` is corpus-adaptive stopword stripping (drop tokens present in
    * ≥ minDocs documents). The detection-only relatives are
    * [[sharedSpans]] (substring granularity) and [[boilerplateScore]]
    * (per-doc fraction); this one edits the text.
    *
    * Output: (doc_id, text_deduped, n_segments, n_kept). A document
    * whose every segment is shared keeps an empty string; null text
    * stays null.
    *
    * Scale shape: ONE explode of the corpus and ONE exchange on the
    * 48-bit segment key — the distinct-document carrier count is
    * computed INLINE over that single partition (a `lag` first-seen flag
    * under the ordered window, summed by the unordered window on the
    * same key, so both windows share the exchange), and the drop is a
    * filter on the resulting count, not a join against a materialized
    * shared-key set (which a naive distinct→groupBy→anti-join plan
    * re-explodes the corpus to build — measured plan had 3 scans and 3
    * exchanges; this has 1 scan of the segment stream and 1 key
    * exchange). Reassembly is one doc_id shuffle; the final left join
    * restores zero-survivor and null-text docs. The ~2^-48-per-pair
    * hash collision that could drop an innocent segment is the same
    * trade every gram/fingerprint stage here makes.
    */
  def dropSharedSegments(
      docs: DataFrame,
      text: Column,
      id: Column,
      delimiter: String = "\n",
      minDocs: Int = 2
  ): DataFrame = {
    require(minDocs >= 2, "minDocs below 2 would drop every segment")
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val qd = java.util.regex.Pattern.quote(delimiter)
    val segs = docs
      .select(id.as("doc_id"), posexplode(split(text, qd)).as(Seq("pos", "seg")))
      .withColumn("__sk", Hashing.hash48(col("seg")))
    // distinct-doc carrier count inline over ONE key exchange: rows of a
    // segment key sort by doc_id, the lag flag marks each doc's first
    // row, and the unordered sum over the same partition totals the
    // flags — count(DISTINCT doc) without a second aggregation pass or
    // a join back
    val wOrd = Window.partitionBy(col("__sk")).orderBy(col("doc_id"))
    val wAll = Window.partitionBy(col("__sk"))
    val firstSeen = lag(col("doc_id"), 1).over(wOrd)
    val rebuilt = segs
      .withColumn("__new",
        when(firstSeen.isNull || firstSeen =!= col("doc_id"), 1L).otherwise(0L))
      .withColumn("__nd", sum(col("__new")).over(wAll))
      .where(col("__nd") < minDocs)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")),
          delimiter).as("__text"))
    docs
      .select(
        id.as("doc_id"),
        text.as("__orig"),
        size(split(text, qd)).cast("long").as("n_segments"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("__orig").isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__text"), lit(""))).as("text_deduped"),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** MinHash Jaccard ESTIMATE for explicit (doc_a, doc_b) pairs from
    * signature agreement: `est = |{j : sig_a[j] = sig_b[j]}| / k` — the
    * per-component match probability of a MinHash signature equals the
    * Jaccard similarity (MMDS ch.3), so the agreement fraction is the
    * unbiased estimator with std-error ~ sqrt(J(1-J)/k).
    *
    * The sketch-tier verify stage: where [[ngramJaccard]] computes the
    * EXACT similarity from len(text)-sized gram arrays, this one runs on
    * k longs per document — constant state per doc, so at 100 TB the
    * verification join carries kilobytes per row instead of documents.
    * Use it to rank/threshold LSH candidates cheaply and reserve the
    * exact form for the survivors. Same kernel and parameters as
    * [[minhashLshPairs]]; pairs citing a doc with no signature (fewer
    * than `shingleWidth` tokens — such docs never surface from LSH)
    * are dropped by the inner joins.
    */
  def minhashEstimate(
      pairs: DataFrame,
      docs: DataFrame,
      id: Column,
      text: Column,
      shingleWidth: Int = 3,
      k: Int = 12
  ): DataFrame = {
    val sigs = docs
      .select(id.as("_mid"), Hashing.minhashSigDoc(text, shingleWidth, k).as("_sig"))
      .where(size(col("_sig")) > 0)
    val agree = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    pairs
      .join(sigs.withColumnRenamed("_mid", "doc_a").withColumnRenamed("_sig", "sig_a"), Seq("doc_a"))
      .join(sigs.withColumnRenamed("_mid", "doc_b").withColumnRenamed("_sig", "sig_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(agree.cast("double") / k, 4).as("est_jaccard"))
  }

  /** Per-document n-gram coverage of `target` against `reference`: for
    * each target doc, how many of its DISTINCT word-`shingleWidth`-grams
    * appear anywhere in the reference corpus — the decontamination /
    * novelty metric training-data papers report ("X% of test n-grams
    * occur in train"), and the quantitative form of the screen
    * [[contamination]] applies as a filter. Shingles are the
    * MinHash kernel's (space-joined w-token windows; docs with fewer
    * than `shingleWidth` tokens have none and report `n_grams = 0`,
    * `seen_frac = 0`), so coverage, LSH, and the estimate tier all
    * measure the same unit.
    *
    * Scale shape: both sides reduce to DISTINCT 48-bit gram hashes
    * before anything joins — the per-DOC distinct runs inside the
    * [[graft.plans.ShingleSetF]] kernel (one md5 per shingle, sort+dedup
    * in-row: the target side pays NO distinct exchange at all), the
    * reference side adds one map-side-combined global distinct, then ONE
    * equijoin on the hash. The reference set is distinct-gram-sized
    * (vocabulary-driven, sublinear in corpus bytes); nothing is
    * broadcast, collected, or ordered. (The first cut explode+md5'd
    * through interpreted array lambdas — 4.2 s at sf0.1 vs 1.0 s for
    * this kernel form, the round-3 kernel lesson re-learned.)
    */
  def ngramCoverage(
      target: DataFrame,
      reference: DataFrame,
      text: Column,
      id: Column,
      shingleWidth: Int = 3
  ): DataFrame = {
    require(shingleWidth >= 1, "shingleWidth must be positive")
    def gramRows(df: DataFrame): DataFrame = df.select(
      id.as("doc_id"),
      explode(Hashing.shingleHashSet(text, shingleWidth)).as("g"))
    val targetGrams = gramRows(target) // per-doc distinct: kernel contract
    val referenceGrams = gramRows(reference).select(col("g")).distinct()
      .withColumn("__hit", lit(1L))
    val covered = targetGrams
      .join(referenceGrams, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_seen"))
    target.select(id.as("doc_id"))
      .join(covered, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        round(
          coalesce(col("n_seen"), lit(0L)) /
            greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 4).as("seen_frac"))
  }

  /** Cross-source near-duplication matrix: [[minhashLshPairs]] rolled up
    * by the UNORDERED source pair — which sources mirror each other's
    * content. The curation diagnostic behind source-level dedup
    * decisions (mirror crawls, syndication networks, re-hosted dumps):
    * a heavy off-diagonal cell means two sources should dedup against
    * each other BEFORE per-doc near-dup runs corpus-wide.
    *
    * Scale shape: the pair relation is LSH-candidate-sized (≪ corpus);
    * each side's source label arrives by an equijoin against the slim
    * (id, source) projection — the corpus never shuffles more than two
    * columns, and the label join is exactly the lookup
    * [[minhashEstimate]] already plans for signatures. The matrix
    * rollup is at most #sources² rows.
    */
  def sourceOverlap(
      docs: DataFrame,
      text: Column,
      id: Column,
      source: Column,
      shingleWidth: Int = 3,
      k: Int = 12,
      bands: Int = 4
  ): DataFrame = {
    val pairs = minhashLshPairs(docs, text, id, shingleWidth, k, bands)
    val labels = docs.select(id.as("_sid"), source.as("_src"))
    pairs
      .join(labels.withColumnRenamed("_sid", "doc_a").withColumnRenamed("_src", "src_a"), Seq("doc_a"))
      .join(labels.withColumnRenamed("_sid", "doc_b").withColumnRenamed("_src", "src_b"), Seq("doc_b"))
      .select(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Incremental clustering: fold NEW candidate pairs into EXISTING
    * cluster labels without re-running CC over history's pair set. Old
    * labels re-enter as STAR edges (doc → its cluster root) — a graph
    * with exactly the same connected components as the original pairs —
    * and because stars are depth-1, the pointer-doubling loop collapses
    * unchanged regions in its first round: the iterative cost scales
    * with how much the NEW pairs restructure, not with history's size.
    * The daily pipeline composes [[saveBandIndex]] →
    * [[pairsAgainstIndex]] → this → [[dropByClusters]] /
    * [[keepBestByClusters]].
    *
    * `vertices` must cover every doc to label (history + increment);
    * `oldClusters` is [[nearDupClusters]]/this function's own output.
    * Spec asserts exact equivalence with a full recompute over the
    * union of old and new pairs.
    */
  def mergeClusters(
      vertices: DataFrame,
      id: Column,
      oldClusters: DataFrame,
      newPairs: DataFrame,
      maxIter: Int = 25
  ): DataFrame = {
    val starEdges = oldClusters
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
      .where(col("doc_a") =!= col("doc_b")) // self-labels add no edge
    nearDupClusters(vertices, id,
      starEdges.unionByName(newPairs.select(col("doc_a"), col("doc_b"))), maxIter)
  }

  /** n-gram Jaccard similarity between explicit (docA, docB) pairs — the
    * verification stage that LSH candidates feed at scale. `pairs` must
    * expose doc_a/doc_b id columns; `docs` maps id → text.
    *
    * Deliberately the ARRAY form: per-doc gram arrays are bounded
    * (≈ len(text) entries), so they scale with document size, not corpus
    * size, and `array_intersect`/`array_union` are hash-set codegen'd
    * collection ops — a measured 2× faster at sf0.1 than the fully
    * relational explode-distinct-join formulation, whose three extra gram
    * shuffles dominate (tried and reverted; the join-per-pair shape is
    * already bounded by |pairs|, which LSH keeps small).
    *
    * Grams are 48-bit ROLLING hashes ([[graft.plans.RollingHash48]]), not
    * strings: the set ops run over primitive longs (measured 5× over the
    * string-gram form at sf0.1), at the cost of a ~2^-48-per-pair hash
    * collision making the similarity infinitesimally optimistic — the
    * right trade for a dedup verification stage.
    */
  def ngramJaccard(
      pairs: DataFrame,
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3
  ): DataFrame = {
    val grams = docs.select(id.as("_id"), array_distinct(Hashing.gramHashes(text, n)).as("_grams"))
    pairs
      .join(grams.withColumnRenamed("_id", "doc_a").withColumnRenamed("_grams", "grams_a"), Seq("doc_a"))
      .join(grams.withColumnRenamed("_id", "doc_b").withColumnRenamed("_grams", "grams_b"), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("grams_a"), col("grams_b"))).cast("double"))
      .withColumn("n_union", size(array_union(col("grams_a"), col("grams_b"))).cast("double"))
      .withColumn("jaccard", round(when(col("n_union") > 0, col("n_inter") / col("n_union")).otherwise(0.0), 4))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric n-gram containment for candidate pairs: `|A∩B| / |A|`
    * and `|A∩B| / |B|` over the DISTINCT word-shingle sets — the
    * SUBSET-duplication signal symmetric Jaccard under-scores: a
    * 50-token article fully quoted inside a 5000-token digest has
    * Jaccard ≈ 0.01 but containment_a = 1.0, and it is containment, not
    * Jaccard, that decides "is this document's content already in the
    * corpus". Composes with [[minhashLshPairs]] candidates exactly like
    * [[ngramJaccard]] (same pair-sized join plan); gram sets come from
    * the [[graft.plans.ShingleSetF]] kernel (sorted distinct in-row —
    * docs-side cost is one md5 per shingle, no exchange beyond the two
    * pair joins). Docs with fewer than `shingleWidth` tokens have empty
    * sets and score 0 (LSH never surfaces them as candidates anyway).
    */
  def containment(
      pairs: DataFrame,
      docs: DataFrame,
      id: Column,
      text: Column,
      shingleWidth: Int = 3
  ): DataFrame = {
    val grams = docs.select(id.as("_cid"), Hashing.shingleHashSet(text, shingleWidth).as("_grams"))
    pairs
      .join(grams.withColumnRenamed("_cid", "doc_a").withColumnRenamed("_grams", "grams_a"), Seq("doc_a"))
      .join(grams.withColumnRenamed("_cid", "doc_b").withColumnRenamed("_grams", "grams_b"), Seq("doc_b"))
      .withColumn("n_common",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("long"))
      .select(
        col("doc_a"), col("doc_b"), col("n_common"),
        round(when(size(col("grams_a")) > 0,
          col("n_common") / size(col("grams_a"))).otherwise(0.0), 4).as("containment_a"),
        round(when(size(col("grams_b")) > 0,
          col("n_common") / size(col("grams_b"))).otherwise(0.0), 4).as("containment_b"))
  }

  /** Embedding-cosine near-dup within blocking buckets. `bucket` is the
    * blocking key (a label, an LSH sign-projection bucket, an IVF centroid
    * id …). Pairs above `threshold` survive. The cosine itself is a
    * per-pair codegen'd fold ([[VectorFunctions.cosine]]); the bucket
    * equijoin bounds the pair count.
    *
    * `maxBucket` bounds the worst-case pair count, exactly like
    * [[minhashLshPairs]]' cap: the blocking key here is often
    * USER-SUPPLIED (a label, a cluster id), which makes it the most
    * skew-prone bucket key of all — one degenerate value (an "unlabeled"
    * catch-all) expands quadratically at 100 TB. Buckets above the cap are
    * excluded from the pair join entirely;
    * [[embeddingOversizedBuckets]] reports what a given cap drops so it
    * can be sized from data. The default cap is off (`Int.MaxValue`) and
    * adds nothing to the plan.
    */
  def embeddingNearDups(
      df: DataFrame,
      id: Column,
      vec: Column,
      bucket: Column,
      threshold: Double,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    // Norms are staged below the join: computed once per vector instead of
    // once per pair (the join node blocks CollapseProject from re-inlining
    // the fold). Only the dot product remains per-pair work.
    val t0 = df.select(id.as("vid"), vec.as("v"), bucket.as("bk"),
      VectorFunctions.norm2(vec).as("nrm"))
    // The cap is a window count over bk — the same hash partitioning the
    // pair join needs, so the exchange is shared, not added. Unlike the
    // MinHash bucket-and-expand, the rows here carry the full embedding
    // vectors; collect_list-ing them would build per-bucket arrays of
    // cap × dim floats, so the join form is kept and capped by filter.
    val t =
      if (maxBucket == Int.MaxValue) t0
      else t0
        .withColumn("__bksz", count(lit(1)).over(Window.partitionBy(col("bk"))))
        .where(col("__bksz") <= maxBucket)
        .drop("__bksz")
    val a = t.as("a")
    val b = t.as("b")
    val n = col("a.nrm") * col("b.nrm")
    a.join(b, col("a.bk") === col("b.bk") && col("a.vid") < col("b.vid"))
      .select(
        col("a.vid").as("id_a"),
        col("b.vid").as("id_b"),
        round(when(n > 0, VectorFunctions.dot(col("a.v"), col("b.v")) / n).otherwise(lit(0.0)), 4)
          .as("cosine")
      )
      .where(col("cosine") >= threshold)
  }

  /** The blocking buckets a given `maxBucket` would drop from
    * [[embeddingNearDups]], with member counts — the observability half of
    * the cap (parity with [[minhashOversizedBuckets]]): one cheap
    * one-shuffle aggregate, no pair expansion, run it to size the cap and
    * quantify what the skewed bucket values contain.
    */
  def embeddingOversizedBuckets(
      df: DataFrame,
      id: Column,
      bucket: Column,
      maxBucket: Int
  ): DataFrame =
    df.select(id.as("vid"), bucket.as("bk"))
      .groupBy(col("bk"))
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucket)

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): embedding-space
    * near-duplicate removal blocked by k-means cells. Each vector is
    * assigned to its nearest IVF centroid, pairwise cosine runs WITHIN
    * cells only, pairs ≥ `threshold` form clusters (connected
    * components), and one keeper survives per cluster — by the paper's
    * rule the member with the LOWEST cosine to its cell centroid (keep
    * the least-typical example; duplicates cluster near the centroid,
    * outliers carry the diversity). `keepFarthest = false` flips to
    * keep-most-typical.
    *
    * Returns the full audit relation `(vec_id, cell, cluster_id,
    * cos_centroid, keep)` — filter `keep` for the dedup, aggregate the
    * rest for the dataset card.
    *
    * Scale shape: cell assignment is a per-row literal-centroid
    * expression (no fit, no shuffle); the pair join shuffles once on
    * `cell` with the [[embeddingNearDups]] `maxCell` cap + the
    * [[embeddingOversizedBuckets]] observability escape; the CC is
    * [[nearDupClusters]] (pointer doubling, checkpointed rounds); the
    * keeper is one `row_number` window that Spark's WindowGroupLimit
    * prunes map-side. With `nCells` sized so cells fit an executor
    * (|corpus|/nCells rows), the all-pairs work is |corpus|²/nCells —
    * the paper's exact trick for running this at web scale.
    */
  def semanticDedup(
      emb: DataFrame,
      id: Column,
      vec: Column,
      centroids: Array[Array[Float]],
      threshold: Double,
      maxCell: Int = Int.MaxValue,
      keepFarthest: Boolean = true
  ): DataFrame = {
    import graft.similarity.IVF
    // materialized ONCE: the assignment projection feeds both sides of
    // the pair self-join, the CC vertex set, and the final audit join —
    // without it each consumer re-scans the corpus and re-runs the
    // nCells×dim assignment dots (3+ full passes at 100 TB). Reliable
    // checkpoint under graft.checkpointDir, like the CC loop itself.
    val assigned = graft.Materialize(emb.select(
      id.as("vec_id"), vec.as("v"),
      IVF.literalCell(vec, centroids).as("cell"),
      round(IVF.literalCellCosine(vec, centroids), 4).as("cos_centroid")))
    val pairs = embeddingNearDups(
      assigned, col("vec_id"), col("v"), col("cell"), threshold, maxCell)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val clusters = nearDupClusters(assigned, col("vec_id"), pairs)
      .withColumnRenamed("doc_id", "vec_id")
    // keeper rank over the ROUNDED centroid cosine (4 dp) with vec_id
    // tiebreak: reproducible cross-engine, same contract as every
    // rounded-rank assembly stage
    val ord = if (keepFarthest) col("cos_centroid").asc else col("cos_centroid").desc
    val w = Window.partitionBy(col("cluster_id")).orderBy(ord, col("vec_id").asc)
    assigned.select(col("vec_id"), col("cell"), col("cos_centroid"))
      .join(clusters, Seq("vec_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("vec_id"), col("cell"), col("cluster_id"),
        col("cos_centroid"), col("keep"))
  }

  /** Cluster-size profile over a `(doc_id, cluster_id)` relation (the
    * [[nearDupClusters]] output contract): how many clusters have each
    * size — the observability readout every dedup run reads first. A
    * fat tail (10⁴-member clusters) means template/boilerplate families
    * and drives the `maxBucket`/winnowing tuning; a profile of all-1s
    * means the pair stage found nothing and the thresholds are too
    * tight. Two map-combined aggregations (cluster → size → histogram);
    * the second exchange carries ≤ |distinct sizes| rows.
    */
  def clusterSizeProfile(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Blocked FUZZY pair matching — edit-distance record linkage, the
    * last dedup family the engine lacked: MinHash/SimHash find documents
    * sharing CONTENT, `fuzzyPairs` finds strings that are a few
    * keystrokes apart (typo'd titles, OCR'd names, URL variants), where
    * set-similarity is blind because a one-character edit changes every
    * shingle crossing it.
    *
    * Scale discipline is the LSH one: pairs are generated ONLY inside a
    * user-supplied blocking key (a band/prefix/phonetic key — anything
    * coarse that a true match cannot escape), the self-join is an
    * equi-join on that key (hash-partitioned, never a cartesian), and
    * `maxBlock` drops degenerate blocks rather than letting one hot key
    * go quadratic. `levenshtein` runs on `prefixLen` characters of the
    * string, not the document: edit distance is O(len²) PER PAIR, and a
    * capped prefix keeps the per-pair cost constant at any corpus size.
    * Recall contract: a pair is found iff both rows share a block — the
    * same explicit block-or-miss trade every blocked dedup here
    * documents.
    */
  def fuzzyPairs(
      df: DataFrame,
      id: Column,
      str: Column,
      block: Column,
      maxDist: Int,
      prefixLen: Int = 48,
      maxBlock: Int = 1000
  ): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    require(prefixLen > 0 && maxBlock > 1, s"bad prefixLen/maxBlock: $prefixLen/$maxBlock")
    val rows = df.select(id.as("id"), substring(str, 1, prefixLen).as("p"), block.as("b"))
    val sized = rows
      .join(rows.groupBy(col("b")).agg(count(lit(1)).as("__n")), Seq("b"))
      .where(col("__n") <= maxBlock)
      .drop("__n")
    val a = sized.select(col("b"), col("id").as("id_a"), col("p").as("p_a"))
    val bb = sized.select(col("b"), col("id").as("id_b"), col("p").as("p_b"))
    a.join(bb, Seq("b"))
      .where(col("id_a") < col("id_b"))
      // thresholded levenshtein early-exits once the running distance
      // exceeds maxDist (returns -1): O(maxDist·len) per pair instead of
      // O(len²) — measured 7.63 s → 1.55 s on the q106 gate at sf0.1.
      // The kept distances are identical to the unthresholded form.
      .withColumn("dist", levenshtein(col("p_a"), col("p_b"), math.max(maxDist, 1)))
      .where(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** EXACT token-set Jaccard join above `threshold`, by prefix filtering —
    * the PPJoin/AllPairs family (Bayardo et al., "Scaling up all pairs
    * similarity search"; Xiao et al., PPJoin): where MinHash-LSH
    * ([[minhashLshPairs]]) trades exactness for bounded candidates, this
    * keeps the result EXACT and bounds candidates by a theorem instead of
    * a sketch.
    *
    * Principle: order the vocabulary globally by document frequency
    * ascending (rarest first, term as tiebreak). If two token sets of
    * sizes sa, sb have Jaccard ≥ t, they must overlap in at least
    * ⌈t·max(sa,sb)⌉ tokens, so each set's PREFIX — its first
    * `s − ⌈t·s⌉ + 1` tokens in global order — must share at least one
    * token with the other's. Candidate pairs therefore come from an
    * equi-join on PREFIX tokens only, and prefixes are built from the
    * RAREST tokens, so join buckets are small by construction (the
    * frequent tokens that would blow up a posting-list join never enter
    * a prefix unless a set is nearly all-frequent). Exact verification
    * (one intersection count per candidate) then clears false positives
    * — no false negatives, so the output is the true Jaccard-join.
    *
    * Scale shape: one token-key aggregate for df, one window for the
    * global rank (vocabulary-sized relation, not corpus-sized), one
    * per-doc window for prefix selection, ONE equi-join on the prefix
    * token, one (pair)-key count for the intersection, one broadcast-able
    * join back to set sizes. Everything is blocked; nothing is all-pairs.
    *
    * @return (doc_a, doc_b, inter, n_union, jaccard) for every unordered
    *         pair with jaccard ≥ threshold, jaccard on the 10^-4 grid
    */
  def jaccardJoin(
      docs: DataFrame,
      text: Column,
      id: Column,
      threshold: Double): DataFrame =
    jaccardJoinSets(docs, graft.functions.TextFunctions.wsTokens(text), id, threshold)

  /** [[jaccardJoin]] over an ARBITRARY per-row item array (token hashes,
    * shingle hashes, feature ids …) — the set-similarity join proper.
    * Prefix filtering pays exactly when item frequencies are skewed
    * (Zipf vocabularies, shingle spaces): the prefix is built from each
    * set's RAREST items, so candidates collapse to near-output size. On
    * a degenerate all-frequent vocabulary the candidate set approaches
    * all-pairs — as it must, because the true RESULT is near-quadratic
    * there too; pick the item granularity (e.g. width-3 shingles rather
    * than unigrams) so that similar-means-something.
    *
    * CONTRACT: `id` must be UNIQUE per input row (the blocked-pair
    * convention of the whole dedup family). A duplicate id would inflate
    * that document's set size through the per-doc count and silently
    * shift both the prefix length and the Jaccard denominator — callers
    * holding possibly-duplicated keys must `.dropDuplicates` on the id
    * first; this join does not pay a corpus-wide distinct to re-check it.
    */
  def jaccardJoinSets(
      docs: DataFrame,
      items: Column,
      id: Column,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    // the threshold as an exact rational m/10000: ceil(t·s) and the final
    // cut are INTEGER arithmetic on both engines — a double `0.1·30 =
    // 3.0000000000000004` must never shorten a prefix (false negative) or
    // flip a boundary pair
    val m = math.round(threshold * 10000).toInt
    require(math.abs(m / 10000.0 - threshold) < 1e-12,
      s"threshold must be expressible in 4 decimals, got $threshold")

    val (dt, sizes, order) = setJoinStaging(docs, items, id)

    // per-doc prefix: first (sz - ceil(t·sz) + 1) tokens in global order;
    // ceil(t·sz) = (sz·m + 9999) div 10000, exact
    val prefix = prefixOf(dt, sizes, order, expr(s"sz - (sz * $m + 9999) div 10000 + 1"))

    // candidates: pairs sharing a prefix token, pruned by the AllPairs
    // size-ratio LENGTH FILTER before the dedup and the verification
    // join: J ≥ t ⇒ J ≤ min(sa,sb)/max(sa,sb) forces t ≤ sa/sb ≤ 1/t, so
    // `sb·m ≤ sa·10000 ∧ sa·m ≤ sb·10000` (same exact integer rational)
    // drops size-mismatched pairs for free with zero false negatives —
    // measured at sf0.1/q175 config: see SCALING.md round 12
    val cand = candidatesOf(prefix,
      col("sb") * m <= col("sa") * 10000 && col("sa") * m <= col("sb") * 10000)
    val inter = intersectionsOf(cand, dt)

    val unionSz = col("sa") + col("sb") - col("inter")
    inter
      .withColumn("n_union", unionSz)
      .withColumn("jaccard", round(col("inter") / unionSz, 4))
      // the cut is the integer form of inter/union >= m/10000 — exact on
      // both engines; the rounded ratio is only the reported value
      .where(col("inter") * 10000 >= unionSz * m)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_union"), col("jaccard"))
  }

  /** SET-COSINE join above `threshold` — the PPJoin family's cosine
    * variant ([[jaccardJoinSets]] shares all of this machinery):
    * `cos(A,B) = |A∩B| / √(|A|·|B|)`, the normalized-overlap measure
    * retrieval stacks use where Jaccard over-punishes size asymmetry.
    *
    * Prefix lemma (Xiao et al.): cos ≥ t ⇒ α ≥ t·√(sa·sb) ≥ t²·sa
    * (since sb ≥ α), so the prefix is the first `s − ⌈t²·s⌉ + 1` tokens;
    * length filter: cos ≤ √(min/max) forces t² ≤ sa/sb ≤ 1/t². Both —
    * and the final cut `α²·10^8 ≥ m²·sa·sb` — are exact INTEGER
    * arithmetic on the rational t = m/10^4; the rounded cosine is only
    * the reported value. The integer forms bound set sizes at ~3·10^5
    * items (α²·10^8 must fit a long) — enforced loudly, chunk
    * book-length documents first.
    *
    * Same unique-id contract as [[jaccardJoinSets]].
    *
    * @return (doc_a, doc_b, inter, cosine) for every unordered pair with
    *         cosine ≥ threshold, cosine on the 10^-4 grid
    */
  def cosineJoinSets(
      docs: DataFrame,
      items: Column,
      id: Column,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val m = math.round(threshold * 10000).toInt
    require(math.abs(m / 10000.0 - threshold) < 1e-12,
      s"threshold must be expressible in 4 decimals, got $threshold")
    val m2 = m.toLong * m // t² as m2 / 10^8
    val T = 100000000L

    val (dt, sizes, order) = setJoinStaging(docs, items, id)
    val maxSz = sizes.agg(max(col("sz"))).head().getLong(0)
    require(maxSz <= 300000,
      s"cosineJoinSets: a $maxSz-item set overflows the exact integer cut " +
        "(inter^2 * 10^8 must fit a long) — chunk oversized documents first")

    // prefix: first (sz - ceil(t²·sz) + 1); ceil(t²·s) = (s·m² + 10^8−1) div 10^8
    val prefix = prefixOf(dt, sizes, order, expr(s"sz - (sz * $m2 + ${T - 1}) div $T + 1"))
    val cand = candidatesOf(prefix,
      col("sb") * m2 <= col("sa") * T && col("sa") * m2 <= col("sb") * T)
    intersectionsOf(cand, dt)
      .withColumn("cosine", round(col("inter") / sqrt(col("sa") * col("sb")), 4))
      .where(col("inter") * col("inter") * T >= col("sa") * col("sb") * m2)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("cosine"))
  }

  /** Shared staging of the prefix-filtered set joins: distinct
    * (doc, term) pairs (ONE explode, materialized — every later stage
    * aggregates from the checkpointed partials), per-doc set sizes, and
    * the global term order (df asc, term asc). The ORDER itself is what
    * the prefix lemma needs — never a dense global rank (a row_number
    * over an unpartitioned window is a single-partition exchange, the
    * one shape banned repo-wide).
    */
  private def setJoinStaging(
      docs: DataFrame, items: Column, id: Column): (DataFrame, DataFrame, DataFrame) = {
    val dt = graft.Materialize(
      docs.select(id.as("doc_id"), explode(array_distinct(items)).as("term")))
    val sizes = dt.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val order = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    (dt, sizes, order)
  }

  /** Per-doc prefix: the first `keepLen` tokens in global (df, term)
    * order, carried with the doc's set size — MATERIALIZED, because the
    * candidate self-join references it twice and the two sides do not
    * canonicalize to one reusable exchange (round-17 q175/q185 plans:
    * the full df-join + size-join + window pipeline appeared twice,
    * once streamed and once under the broadcast build). The prefix is
    * a bounded sub-relation of dt (≤ one row per (doc, prefix token),
    * 24-byte rows), so the checkpoint is cheap at any scale and both
    * candidate sides read it.
    *
    * The window's doc exchange is PINNED at the session width
    * (replacing the ENSURE_REQUIREMENTS exchange the window plans
    * anyway — same key, same bytes): AQE's byte-based coalescing
    * otherwise folded the post-shuffle side to 2 partitions at
    * sf0.1/local[32], and the entire downstream (window, self-join
    * probe, verification) fused into that 2-task stage — 9 s of task
    * time on 2 cores (round-17 profile).
    */
  private def prefixOf(
      dt: DataFrame, sizes: DataFrame, order: DataFrame, keepLen: Column): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("term").asc)
    graft.Materialize(
      dt.join(order, Seq("term"))
        .join(sizes, Seq("doc_id"))
        .repartition(dt.sparkSession.sessionState.conf.numShufflePartitions,
          col("doc_id"))
        .withColumn("pos", row_number().over(byDoc))
        .where(col("pos") <= keepLen)
        .select(col("term"), col("doc_id"), col("sz")))
  }

  /** Candidate pairs sharing a prefix token, pruned by `lengthPred`
    * BEFORE the dedup and the verification join.
    */
  private def candidatesOf(prefix: DataFrame, lengthPred: Column): DataFrame =
    prefix.select(col("term"), col("doc_id").as("doc_a"), col("sz").as("sa"))
      .join(prefix.select(col("term"), col("doc_id").as("doc_b"), col("sz").as("sb")),
        Seq("term"))
      .where(col("doc_a") < col("doc_b") && lengthPred)
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .distinct()

  /** Exact intersection sizes for the candidates, by SET-ARRAY
    * INTERSECTION (the round-16 triangle discipline applied to the
    * verification join): pack each doc's distinct terms into one sorted
    * array (one |dt|-row map-side-combined aggregate), attach both
    * docs' arrays to each candidate pair with two |cand|-row keyed
    * joins, and count `array_intersect` inside one codegen stage.
    *
    * This replaces the round-12..16 posting-list shape — `dt ⋈ cand`
    * fanned every candidate out to |terms(doc_a)| rows, shuffled that
    * fan-out relation on (doc_b, term), and paid a pair-keyed aggregate
    * over the matches (measured at sf0.1/local[32]: the fan-out join +
    * aggregate dominated q175/q185 at ~5 s each; plan before/after in
    * plans/r17/). The comparisons are the same O(Σ per-pair set sizes)
    * either way; intersection does them as primitive array ops and
    * never materializes or shuffles a fan-out row (guide §2.3: shuffle
    * fewer bytes). Every candidate pair shares its prefix token, so
    * `inter ≥ 1` and the `inter > 0` restriction keeps row-parity with
    * the old aggregate shape (which emitted only matched pairs).
    *
    * Scale: the packed-array relation is |docs| rows of the same bytes
    * dt held; per-row size is bounded by the max set size, which
    * [[cosineJoinSets]] already caps (~3·10^5) and jaccard callers
    * bound by construction (tokenized documents). The candidate side
    * stays broadcast-eligible; at cluster scale both attach joins
    * degrade to |cand|-row keyed shuffles — strictly fewer bytes than
    * the fan-out relation those replaced.
    */
  private def intersectionsOf(cand: DataFrame, dt: DataFrame): DataFrame = {
    // sets is MATERIALIZED: both attach joins reference it and the two
    // collect_list aggregates did not canonicalize to one reusable
    // exchange (round-17 q175/q185 plans: two full |dt| shuffles + array
    // builds). Same bytes as the dt checkpoint, packed.
    val sets = graft.Materialize(dt.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("term"))).as("__ts")))
    // The candidate relation is repartitioned at the session width: the
    // intersection stage's work is Σ per-pair set sizes — compute per
    // ROW, not bytes — and the candidate distinct's output is small
    // enough that AQE coalesces it to a couple of partitions (measured:
    // q185's verification ran 2 tasks × 3.5 s at sf0.1/local[32]). The
    // exchange carries 32-byte pair metadata (never arrays/text), keyed
    // on doc_a so the shuffle regime's attach join reuses it — the
    // cheap-proxy-side spread the guide's §8 rule prescribes, safe
    // unconditioned at any scale (candidates are output-bounded).
    cand
      .repartition(cand.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_a"))
      .join(sets.select(col("doc_id").as("doc_a"), col("__ts").as("__ta")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("__ts").as("__tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"),
        size(array_intersect(col("__ta"), col("__tb"))).cast("long").as("inter"))
      .where(col("inter") > 0)
  }
}
