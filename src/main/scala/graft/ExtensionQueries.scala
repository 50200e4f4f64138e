package graft

import graft.curation.Corpus
import graft.dedup.Dedup
import graft.functions.{Hashing, TextFunctions}
import graft.multimodal.Multimodal
import graft.similarity.KNN
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline queries (dedup, similarity search, text analysis,
  * multimodal) with DuckDB oracles. The oracle SQL reproduces graft's
  * portable 48-bit hashing ([[Hashing.hash48]]) character-by-character, so
  * even the MinHash-LSH candidate pairs hash-match across engines.
  */
object ExtensionQueries {

  /** DuckDB rendition of [[Hashing.hash48]]: fold the first 12 hex chars of
    * md5 into a BIGINT.
    */
  private def duckHash48(e: String): String =
    s"list_sum([ (strpos('0123456789abcdef', substr(md5($e), i, 1)) - 1)::BIGINT << (4*(12-i)) for i in range(1,13)])"

  /** DuckDB rendition of [[graft.plans.RollingHash48]]'s n-byte-gram hash
    * at 1-based byte position `p`: the direct weighted byte sum (exact in
    * BIGINT — max 8·255·2^48 < 2^63) masked to 48 bits, over a CTE
    * providing `hx` = hex(encode(text)). The engine computes the identical
    * value by rolling recurrence; the weighted form IS the definition.
    */
  private def duckByteAt(q: String): String =
    s"((strpos('0123456789ABCDEF', substr(hx, (2*($q) - 1)::INT, 1)) - 1) * 16" +
      s" + (strpos('0123456789ABCDEF', substr(hx, (2*($q))::INT, 1)) - 1))"

  private def duckGramHash(p: String, n: Int): String = {
    val terms = (0 until n).map { j =>
      s"${duckByteAt(s"($p) + $j")} * ${graft.plans.RollingHash48.Pow(n - 1 - j)}"
    }
    s"((${terms.mkString(" + ")}) & ${graft.plans.RollingHash48.Mask})"
  }

  /** The `hx`/`nb` byte-view CTE the rolling-gram oracles share. */
  private val duckByteView =
    "SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text))::BIGINT AS nb FROM documents"

  private val duckToks =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)"""

  // --- dedup ------------------------------------------------------------

  private def q20DedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), col("text"), col("doc_id"))

  private def q21MinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, d), col("text"), col("doc_id"))

  private def q22Simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashSignatures(Tables.documents(s, d), col("text"), col("doc_id"))

  /** Perceptual frame dedup — the multimodal near-dup pipeline end to end:
    * payload → frame sampling → 48-bit aHash per frame
    * ([[graft.multimodal.Multimodal.frameAHash]]: locality-preserving, so
    * lightly-edited frames land within a small hamming radius) → blocked
    * hamming pairs ([[Dedup.hammingPairs]], bucket cap 64 with the
    * oversized buckets reportable). The video-frame dedup shape: repeated
    * intro/boilerplate frames across media surface as pairs.
    */
  private def q165FrameDedup(s: SparkSession, d: String): DataFrame = {
    val frames = Multimodal.frameAHash(
      Multimodal.fromDocuments(Tables.documents(s, d)), frameBytes = 256, everyK = 2)
    Dedup.hammingPairs(frames, col("fid"), col("ahash48"),
        bits = 48, maxHamming = 3, maxBucket = 64)
      .select(col("doc_a").as("fid_a"), col("doc_b").as("fid_b"), col("hamming"))
  }

  /** q199 — shot-boundary detection over sampled frames
    * ([[Multimodal.shotBoundaries]]): adjacent perceptual hashes ≥ 26
    * bits apart mark a cut — the segmentation pass a video pipeline runs
    * before per-shot keyframe selection (threshold probed: ~11% of
    * adjacent pairs at all three SFs).
    */
  private def q199ShotBoundaries(s: SparkSession, d: String): DataFrame =
    Multimodal.shotBoundaries(
      Multimodal.fromDocuments(Tables.documents(s, d)),
      frameBytes = 128, everyK = 1, minHamming = 26)

  /** Sharded export manifest: deterministic hash sharding (64 shards) with
    * per-shard row count, byte size, and an ORDER-INDEPENDENT content
    * checksum — the MODULAR sum of the rows' 48-bit hashes,
    * `Σ h mod 2^48`, computed overflow-free by splitting each hash into
    * 24-bit halves and summing the halves separately:
    *
    * {{{ (Σ lo24(h) + 2^24 · (Σ hi24(h) mod 2^24)) mod 2^48 }}}
    *
    * Each half-sum is ≤ 2^24·n, so every intermediate stays exact in
    * BIGINT up to n ≈ 2^38 (~275 billion) rows per shard — far past any
    * 100-TB shard — with no reliance on silent Long wraparound (which
    * ANSI mode turns into an error, and which DuckDB's HUGEINT `sum`
    * never performs, so a raw `sum(h)::BIGINT` oracle would error at
    * ~2^16 rows/shard). The export-validation primitive: a re-run, a
    * different cluster, or a resharded copy must reproduce the manifest
    * bit-for-bit, and any dropped/duplicated/corrupted row moves exactly
    * one (shard, checksum) cell (a single-row change shifts the mod-2^48
    * sum unless the hash delta is ≡ 0, probability 2^-48). One grouped
    * aggregate — nothing wide.
    */
  private def q167ShardManifest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        pmod(Hashing.hash48(concat(col("doc_id").cast("string"), lit(":shard-v1"))), lit(64L))
          .as("shard"),
        length(encode(col("text"), "UTF-8")).cast("long").as("nb"),
        Hashing.hash48(col("text")).as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("n_bytes"),
        pmod(
          sum(col("h").bitwiseAND(lit((1L << 24) - 1))) +
            shiftleft(pmod(sum(shiftright(col("h"), 24)), lit(1L << 24)), 24),
          lit(1L << 48)).as("checksum"))

  /** Per-language Pearson correlation between quality signals (here:
    * characters vs whitespace tokens) — the signal-redundancy check run
    * before blending filters ([[graft.curation.Quantiles.cdfBlend]]-style
    * ensembles): two signals correlating at ~1 add no information, and
    * the algebraic `corr` aggregate answers it in ONE grouped pass
    * (map-combined partial moments; nothing wide).
    */
  private def q169SignalCorr(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars").cast("double").as("x"),
        TextFunctions.wsTokenCount(col("text")).cast("double").as("y"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), round(corr(col("x"), col("y")), 6).as("chars_tokens_corr"))

  /** Exact-quota deterministic sampling: the `n`-PER-STRATUM complement
    * of q44's rate-based form — each language keeps exactly
    * min(n, |stratum|) docs, chosen by salted-hash order (re-running
    * over a grown corpus keeps an existing doc in the sample unless a
    * smaller-hash newcomer displaces it — bounded churn, vs the full
    * reshuffle a random_split would cause). One keyed exchange; Spark
    * plans WindowGroupLimit, so each partition holds back all but its
    * top-n before the shuffle.
    */
  private def q170QuotaSample(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(col("__t").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        Hashing.hash48(concat(col("doc_id").cast("string"), lit(":quota-v1"))).as("__t"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= 50)
      .select(col("doc_id"), col("lang"))
  }

  /** BM25 top-20 retrieval for a fixed 3-term query
    * ([[graft.curation.Corpus.bm25]]) — the corpus-search / example-mining
    * readout. The explode is pruned to the query's posting lists BEFORE
    * any aggregation; ranking is on the 4-dp rounded score so the cut is
    * engine-independent.
    */
  private def q171Bm25(s: SparkSession, d: String): DataFrame =
    graft.curation.Corpus.bm25(
      Tables.documents(s, d), col("text"), col("doc_id"),
      queryTerms = Seq("spark", "join", "window"), topK = 20)

  /** Exact per-source Kolmogorov–Smirnov drift of the document-length
    * distribution vs the rest of the corpus
    * ([[graft.curation.Corpus.ksDrift]]) — the shape-sensitive
    * complement of the PSI gate (q119): KS catches a drifted mode PSI's
    * fixed bins smear out.
    */
  private def q172KsDrift(s: SparkSession, d: String): DataFrame =
    graft.curation.Corpus.ksDrift(
      Tables.documents(s, d), col("source"), col("n_chars"))

  /** EXACT shingle-set Jaccard join at t = 0.5 via prefix filtering
    * ([[Dedup.jaccardJoinSets]], the PPJoin/AllPairs family): candidates
    * come from an equi-join on each set's RAREST-item prefix,
    * verification is an exact intersection count — no false negatives,
    * blocked by theorem rather than sketch. Items are the width-3
    * shingle hashes (the near-dup granularity, and a diverse item space
    * where prefix filtering actually prunes — unigram items on this
    * synthetic ~50-word vocabulary make the TRUE result near-quadratic,
    * measured 131 s at sf0.1). The oracle is the brute-force all-pairs
    * scan, proving the recall guarantee at sf scale.
    */
  private def q175JaccardJoin(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardJoinSets(
      Tables.documents(s, d),
      Hashing.shingleHashSet(col("text"), 3), col("doc_id"), threshold = 0.5)

  /** EXACT shingle-set COSINE join at t = 0.6 ([[Dedup.cosineJoinSets]]
    * — the PPJoin family's cosine variant, sharing q175's staging): the
    * t²-prefix lemma, the t² length filter, and the α²·10^8 ≥ m²·sa·sb
    * cut are all exact integer arithmetic. Same brute-force oracle shape
    * as q175, proving the recall guarantee at sf scale.
    */
  private def q185CosineJoin(s: SparkSession, d: String): DataFrame =
    Dedup.cosineJoinSets(
      Tables.documents(s, d),
      Hashing.shingleHashSet(col("text"), 3), col("doc_id"), threshold = 0.6)

  /** Last-touch attribution: every purchase credited to the user's latest
    * view/click at-or-before it within 24 h
    * ([[graft.operators.Sequences.lastTouchAttribution]]) — one running
    * `last(_, ignoreNulls)` carry per user, no self-join. Organic
    * purchases (no in-window touch) report null attribution.
    */
  /** Frequent co-ordered part pairs with support ≥ 2 and lift
    * ([[graft.operators.Baskets.frequentPairs]]) — pair-level
    * association mining over orders as baskets: one per-basket
    * aggregate, map-side C(n,2) fan-out, support filter BEFORE the
    * item-count joins.
    */
  private def q178FrequentPairs(s: SparkSession, d: String): DataFrame =
    graft.operators.Baskets.frequentPairs(
      Tables.lineitem(s, d), col("l_orderkey"), col("l_partkey"), minSupport = 2L)

  private def q176Attribution(s: SparkSession, d: String): DataFrame =
    graft.operators.Sequences.lastTouchAttribution(
      Tables.events(s, d), col("user_id"), col("ts"), col("event_type"),
      col("event_id"), conversion = "purchase", touches = Seq("view", "click"),
      windowSeconds = 86400L)
      .select(col("key").as("user_id"), col("conversion_id"),
        col("touch_id"), col("touch_state"), col("delay_seconds"))

  /** Cross-split leakage audit — the eval-hygiene composition of the two
    * primitives: q21's MinHash-LSH candidate pairs × q43's deterministic
    * split labels, keeping pairs whose members landed in DIFFERENT
    * train/val/test splits. Every such pair is a potential answer leak
    * (a near-duplicate of a test document sitting in train). The split
    * label is a pure row expression ([[graft.curation.Assembly.splitLabel]]),
    * so the audit adds ZERO exchanges on top of the pair pipeline.
    */
  private def q163SplitLeakage(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, d), col("text"), col("doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.curation.Assembly.splitLabel(col("doc_a")).as("split_a"),
        graft.curation.Assembly.splitLabel(col("doc_b")).as("split_b"))
      .where(col("split_a") =!= col("split_b"))

  /** SimHash candidate-pair join (hamming ≤ 3) — the pigeonhole chunk
    * blocking makes it an equijoin on (chunk, chunk_val); any pair within
    * the radius shares at least one exact chunk, so the blocked join finds
    * EXACTLY the pairs an all-pairs scan would (the oracle does the
    * all-pairs scan, proving the recall guarantee at sf scale).
    */
  private def q33SimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), col("text"), col("doc_id"), maxHamming = 3)

  /** Consecutive-id pairs scored by exact char-3-gram Jaccard — the
    * verification stage an LSH candidate feed composes with at scale.
    */
  private def q23NgramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = docs.select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      .join(docs.select(col("doc_id").as("doc_b")), Seq("doc_b"))
    Dedup.ngramJaccard(pairs, docs, col("doc_id"), col("text"))
  }

  private def q24EmbedNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDups(
      Tables.embeddings(s, d), col("vec_id"), col("embedding"), col("label"), 0.3
    )

  // --- similarity search ------------------------------------------------

  private def q25AnnTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    KNN.bruteForceTopK(emb, emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), 10)
  }

  /** LSH-bucketed ANN — the 100 TB scale path. The oracle reproduces the
    * sign-random-projection buckets arithmetically (the hyperplane signs
    * come from the same universal-hash stream as [[Hashing.rehash]]).
    */
  private def q31AnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    KNN.lshTopK(emb, emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), 10, 4, 64)
  }

  /** IVF (k-means cell) ANN — centroid-bucketed scale path. The index is
    * the PRETRAINED one ([[graft.similarity.IVF.PretrainedCentroidNumerators]]:
    * fit once offline, quantized to exact 1024ths), so cell assignment and
    * probe selection are pure arithmetic the DuckDB oracle replays
    * bit-identically — and no k-means fit runs inside the gated/timed query.
    */
  private def q32AnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.similarity.IVF.literalTopK(
      emb, emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 10, nProbe = 2, centroids = graft.similarity.IVF.pretrainedCentroids)
  }

  /** q191 — IVF+PQ composite ([[graft.similarity.IVFPQ]], the FAISS IVFPQ
    * shape): coarse cells from the pretrained centroids, PQ codebooks
    * trained on the RESIDUALS (v − cell centroid), serving = probe 2
    * cells per query and ADC over only those cells' code lists — cell
    * partition prunes the scan, codes shrink it, the tables ride one
    * broadcast bank. The oracle composes the q32 assignment CTEs with the
    * q182 training/encoding chain over the residual relation.
    */
  private def q191IvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = graft.similarity.IVF.pretrainedCentroids
    val res = graft.similarity.IVFPQ.residuals(emb, col("vec_id"), col("embedding"), cents)
    // training input materialized (the q193 rotTrain discipline): Lloyd's
    // iters+2 passes would each re-run the cell-assignment kernel and the
    // residual subtraction; at 100 TB training runs on a sample and the
    // bounded materialize stands in for that. Encoding stays LAZY — the
    // serving plan keeps the one fused residual+encode corpus scan.
    val resTrain = graft.Materialize(res)
    val cb = graft.similarity.IVFPQ.trainCodebooks(
      resTrain, AnalyticsGates.PqM, AnalyticsGates.PqK, AnalyticsGates.PqIters)
    graft.Materialize.release(resTrain)
    val codes = graft.similarity.IVFPQ.encode(res, cb)
    graft.similarity.IVFPQ.adcTopK(
      codes, emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
      cents, cb, topK = AnalyticsGates.PqTopK, nProbe = 2)
  }

  // --- text analysis ----------------------------------------------------

  private def q26LangId(s: SparkSession, d: String): DataFrame =
    TextFunctions.langIdTable(Tables.documents(s, d), col("text"), col("doc_id"))

  private def q27Quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.wsTokenCount(col("text")).cast("long").as("n_tokens"),
      TextFunctions.qualityScore(col("text")).as("quality")
    )

  private def q28Tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
      TextFunctions.regexTokenCount(col("text")).cast("long").as("bpe_tokens")
    )

  private def q29Fingerprint(s: SparkSession, d: String): DataFrame =
    Dedup.fingerprints(Tables.documents(s, d), col("text"), col("doc_id"), n = 8)

  /** Full winnowing fingerprint sets (window-min over gram hashes). */
  private def q34Winnowing(s: SparkSession, d: String): DataFrame =
    Dedup.winnowingFingerprints(Tables.documents(s, d), col("text"), col("doc_id"), n = 8, w = 4)

  /** Repetition quality stats (Gopher-style), exact integer counts. */
  private def q35Repetition(s: SparkSession, d: String): DataFrame =
    TextFunctions.repetitionStats(Tables.documents(s, d), col("text"), col("doc_id"))

  /** Near-dup clusters: connected components over the MinHash-LSH pairs —
    * the pairs→groups step of a dedup pipeline (cluster_id = min doc in
    * component; singletons cluster with themselves).
    */
  private def q36NearDupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, col("text"), col("doc_id"))
    Dedup.nearDupClusters(docs, col("doc_id"), pairs)
  }

  /** Deduplicated corpus: one keeper (min id) per near-dup cluster. */
  private def q37DropNearDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, col("text"), col("doc_id"))
    Dedup.dropNearDuplicates(docs, col("doc_id"), pairs)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  // --- multimodal -------------------------------------------------------

  private def q30Multimodal(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.fromDocuments(Tables.documents(s, d))
    Multimodal.fakeDecodeFeatures(media)
      .select(
        col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("features")).as(Seq("feat_idx", "feat_val"))
      )
      .withColumn("feat_idx", col("feat_idx").cast("long"))
  }

  /** Video-shaped frame sampling over the media payloads: 64-byte frames,
    * every 2nd kept; per frame the index, byte length, and 48-bit content
    * hash (exact integers — no binary-blob compare needed). The oracle
    * slices the text (documents are ASCII, so char slices == byte slices —
    * verified across all SFs) and replays the hash.
    */
  private def q38Frames(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.fromDocuments(Tables.documents(s, d)), frameBytes = 64, everyK = 2)

  /** Benchmark contamination: corpus docs sharing >= 3 distinct 8-gram
    * hashes with a (here: 3-document) benchmark set — the decontamination
    * screen, with the benchmark side broadcast.
    */
  private def q39Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.contamination(
      docs, col("text"), col("doc_id"),
      docs.where(col("doc_id") < 3), col("text"), col("doc_id"),
      n = 8, minShared = 3)
  }

  /** Redaction pass — also a deliberate cross-engine regex-parity gate:
    * the same patterns must behave identically under Java regex (Spark)
    * and RE2 (DuckDB) on the whole corpus.
    */
  private def q40Redact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.redact(col("text")).as("clean_text"))

  /** Fixed-window chunking: 256-char windows, stride 192 (64 overlap). */
  private def q41Chunks(s: SparkSession, d: String): DataFrame =
    TextFunctions.chunkFixed(Tables.documents(s, d), col("text"), col("doc_id"),
      size = 256, stride = 192)

  /** Budgeted packing: per-source shards, 4096-char pack capacity. */
  private def q42Packing(s: SparkSession, d: String): DataFrame =
    TextFunctions.packByBudget(Tables.documents(s, d), col("doc_id"), col("n_chars"),
      col("source"), capacity = 4096L)
      .withColumnRenamed("shard", "source")

  // --- dataset assembly ---------------------------------------------------

  /** Deterministic 5/5/90 train/val/test split — membership is a pure
    * salted-hash expression, stable under corpus growth.
    */
  private def q43Split(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.splitAssign(Tables.documents(s, d), col("doc_id"))

  /** Stratified deterministic sampling: per-language permille keep rates
    * (down-weight the `en` head, keep all `fr`), one filter expression.
    */
  private def q44Stratified(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.stratifiedSample(
      Tables.documents(s, d), col("doc_id"), col("lang"),
      permilleByStratum = StratRates, defaultPermille = 50)
      .select(col("doc_id"), col("lang"), col("source"))

  private val StratRates: Map[String, Int] =
    Map("en" -> 100, "zh" -> 250, "es" -> 500, "de" -> 750, "fr" -> 1000)

  /** Diversity sampling: at most 20 vectors per IVF cell (the q32
    * pretrained centroids double as the diversity index), deterministic
    * salted-hash pick order.
    */
  private def q45Diversity(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.diversityByCell(
      Tables.embeddings(s, d), col("vec_id"), col("embedding"),
      graft.similarity.IVF.pretrainedCentroids, quota = 20)

  /** Reproducible global shuffle order via range-bucketed two-pass rank —
    * the scale-safe form of `row_number() OVER (ORDER BY hash)`.
    */
  private def q46ShuffleOrder(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.shuffleOrder(Tables.documents(s, d), col("doc_id"))

  // --- corpus statistics --------------------------------------------------

  /** Corpus vocabulary: top-100 terms by total count with doc frequency —
    * the tokenizer-training / stopword-discovery pass.
    */
  private def q47Vocab(s: SparkSession, d: String): DataFrame =
    graft.curation.Corpus.vocabulary(Tables.documents(s, d), col("text"), col("doc_id"), topN = 100)

  /** Per-document top-3 salient terms by smoothed TF-IDF, ranked on the
    * rounded score so the cut is engine-independent.
    */
  private def q48TfIdf(s: SparkSession, d: String): DataFrame =
    graft.curation.Corpus.tfIdf(Tables.documents(s, d), col("text"), col("doc_id"), k = 3)

  /** Symmetric absmax int8 quantization of the embedding table, gated via
    * exact integer summaries of the code vector (sum, L1, max) plus the
    * rounded scale.
    */
  private def q49Quantize(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions
    // scale and codes staged as columns: each is computed once per row;
    // the summary aggregates then read the codes attribute three times
    Tables.embeddings(s, d)
      .withColumn("__scale", VectorFunctions.int8Scale(col("embedding")))
      .withColumn("__q", VectorFunctions.quantizeInt8Scaled(col("embedding"), col("__scale")))
      .select(
        col("vec_id"),
        round(col("__scale"), 6).as("scale"),
        aggregate(col("__q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
        aggregate(col("__q"), lit(0L), (acc, v) => acc + abs(v)).as("q_l1"),
        array_max(transform(col("__q"), abs(_))).as("q_max"))
  }

  /** Unigram-LM surprisal (bits/token) per document — the perplexity-filter
    * axis with the corpus as its own language model.
    */
  private def q50Surprisal(s: SparkSession, d: String): DataFrame =
    graft.curation.Corpus.unigramSurprisal(Tables.documents(s, d), col("text"), col("doc_id"))

  /** Cross-document repeated spans: winnowing fingerprints carried by ≥ 2
    * documents — the detection half of exact-substring dedup.
    */
  private def q51SharedSpans(s: SparkSession, d: String): DataFrame =
    Dedup.sharedSpans(Tables.documents(s, d), col("text"), col("doc_id"))

  /** ANN over the int8-quantized embedding table: the scales cancel out of
    * the dequantized cosine, so the score is exact integer dot products
    * plus one rounded division — the post-quantization serving path.
    */
  private def q52QuantizedAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    KNN.quantizedTopK(emb, emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 10)
  }

  /** Boilerplate score: fraction of each doc's winnow fingerprints carried
    * by ≥ 2 documents — the per-document action side of q51's detection.
    */
  private def q53Boilerplate(s: SparkSession, d: String): DataFrame =
    Dedup.boilerplateScore(Tables.documents(s, d), col("text"), col("doc_id"))

  /** Weighted epoch mix: per-language up/down-sampling factors
    * materialized as deterministic (doc, copy) rows — the data-recipe step.
    */
  private def q54EpochMix(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.epochMix(
      Tables.documents(s, d), col("doc_id"), col("lang"),
      weightByStratum = MixWeights, defaultWeight = 0.5)

  private val MixWeights: Map[String, Double] =
    Map("en" -> 0.25, "zh" -> 1.5, "es" -> 1.0, "de" -> 2.0, "fr" -> 3.25)

  /** As-of join: each click matched to the user's most recent purchase
    * at-or-before it (null when none). The right side pre-aggregates to
    * one row per (user, ts) so "the most recent row" is well-defined in
    * every engine. Union-and-carry form: one key exchange, no range
    * explosion — see [[graft.operators.Joins.asOf]].
    */
  private def q55Asof(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value"))
    // -1 sentinels for the no-prior-purchase case keep the gate away from
    // engine-specific null/dtype coercion (same convention as the oracle)
    graft.operators.Joins.asOf(
        clicks, purchases, "user_id", "p_user", "ts", "p_ts", Seq("p_value"))
      .select(
        col("event_id"),
        col("user_id"),
        round(coalesce(col("p_value"), lit(-1.0)), 4).as("prior_value"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("asof_ts")), lit(-1L))
          .as("gap_us"))
  }

  /** Point-in-interval join: clicks inside the 2-hour attribution window
    * of any same-user purchase. Bucketed-range-join form: intervals
    * explode to 2-hour time buckets, the match is an equi-join on
    * (user, bucket) plus an exact residual — see
    * [[graft.operators.Joins.interval]].
    */
  private def q56Interval(s: SparkSession, d: String): DataFrame = {
    val twoHoursUs = 2L * 3600 * 1000000
    val ev = Tables.events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val windows = ev.where(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id").as("p_user"),
        col("ts").as("w_start"),
        timestamp_micros(unix_micros(col("ts")) + twoHoursUs).as("w_end"))
    graft.operators.Joins.interval(
        clicks, windows, "user_id", "p_user", "ts", "w_start", "w_end",
        bucketMicros = twoHoursUs)
      .select(
        col("click_id"),
        col("purchase_id"),
        col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("w_start"))).as("gap_us"))
  }

  /** KMV distinct-count sketch of the corpus's (doc, term) pairs — the
    * engine-portable cardinality estimate (exact integer estimator,
    * reproducible bit-for-bit by any engine with md5). Pairs, not bare
    * terms: the synthetic corpus's term vocabulary is smaller than k, and
    * the estimator branch only engages when the population exceeds k —
    * see [[graft.functions.Sketches.kmvDistinct]].
    */
  private def q57KmvSketch(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFunctions.wsTokens(col("text"))).as("term"))
    graft.functions.Sketches.kmvDistinct(
      pairs, concat(col("doc_id").cast("string"), lit(":"), col("term")), k = 256)
  }

  /** Token-budget sampling: per-language token budgets consumed in
    * deterministic salted-hash walk order; the oracle computes the same
    * walk with one plain window (value-identical to the bucketed
    * two-pass, since the bucket is the sort key's top bits) — see
    * [[graft.curation.Assembly.tokenBudgetSample]].
    */
  private def q58TokenBudget(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.tokenBudgetSample(
      Tables.documents(s, d), col("doc_id"), col("lang"),
      TextFunctions.wsTokenCount(col("text")),
      budgetByStratum = TokenBudgets, defaultBudget = 2500L)

  private val TokenBudgets: Map[String, Long] =
    Map("en" -> 6000L, "de" -> 2000L, "fr" -> 1500L, "es" -> 10000L)

  /** Forward as-of: each signup matched to the user's EARLIEST purchase
    * at-or-after it — time-to-conversion, the mirror of q55's direction.
    * Oracle: DuckDB ASOF with the inequality flipped (`l.ts <= r.ts`
    * picks the nearest following row).
    */
  private def q60AsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val signups = ev.where(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value"))
    graft.operators.Joins.asOf(
        signups, purchases, "user_id", "p_user", "ts", "p_ts", Seq("p_value"),
        direction = "forward")
      .select(
        col("event_id"),
        col("user_id"),
        round(coalesce(col("p_value"), lit(-1.0)), 4).as("next_value"),
        coalesce(unix_micros(col("asof_ts")) - unix_micros(col("ts")), lit(-1L))
          .as("wait_us"))
  }

  /** Canonical normalization gate: per-doc normalized length and md5 —
    * proves the Java↔RE2 regex subset AND the byte-level result agree
    * across engines (an md5 of the normalized text catches any
    * single-character divergence) — see [[TextFunctions.normalize]].
    */
  private def q61Normalize(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(TextFunctions.normalize(col("text"))).cast("long").as("norm_len"),
      md5(TextFunctions.normalize(col("text"))).as("norm_hash"))

  /** Quality-based near-dup keeper: per LSH cluster keep the member with
    * the highest (rounded) quality score — the production keeper rule,
    * vs q37's min-id — see [[graft.dedup.Dedup.keepBestPerCluster]].
    */
  private def q62KeepBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, col("text"), col("doc_id"))
    Dedup.keepBestPerCluster(docs, col("doc_id"), pairs,
        round(TextFunctions.qualityScore(col("text")), 5))
      .withColumnRenamed("score", "quality")
  }

  /** Token-length histogram with cumulative fractions — the one-pass
    * quantile surface filter thresholds are calibrated from — see
    * [[graft.curation.Corpus.histogram]].
    */
  private def q59LengthHistogram(s: SparkSession, d: String): DataFrame =
    graft.curation.Corpus.histogram(
      Tables.documents(s, d), TextFunctions.wsTokenCount(col("text")), binWidth = 10L)

  /** Segment-level shared-content removal, gated at the WORD level (this
    * corpus has no newline structure, so `" "` is the delimiter with real
    * signal): drop tokens carried by ≥ 300 distinct documents —
    * corpus-adaptive stopword stripping, the same machinery as CCNet
    * line dedup at `"\n"` — see [[graft.dedup.Dedup.dropSharedSegments]].
    * The oracle reproduces the hash keys, the distinct-carrier counts,
    * and the order-preserving reassembly byte-for-byte.
    */
  private def q65SegDedup(s: SparkSession, d: String): DataFrame =
    Dedup.dropSharedSegments(
      Tables.documents(s, d), col("text"), col("doc_id"),
      delimiter = " ", minDocs = 300)

  /** Incremental LSH: docs with id < 250 are "yesterday's corpus" (its
    * band index), the rest are today's increment — candidate pairs come
    * from ONE equijoin of the new batch's band keys against the index,
    * never from re-signaturing history — see
    * [[graft.dedup.Dedup.pairsAgainstIndex]] /
    * [[graft.dedup.Dedup.saveBandIndex]] (the persisted bucketed form,
    * plan-asserted in spec).
    */
  private def q66IncrementalPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val index = Dedup.bandIndexEntries(
      docs.where(col("doc_id") < 250), col("text"), col("doc_id"))
    Dedup.pairsAgainstIndex(
      docs.where(col("doc_id") >= 250), col("text"), col("doc_id"), index)
  }

  /** Final training order for the data recipe: [[q54EpochMix]]'s weighted
    * mix ranked into a reproducible global order over the (doc, copy)
    * universe — epoch copies interleave through the whole order instead
    * of repeating the corpus back to back — see
    * [[graft.curation.Assembly.epochOrder]]. The oracle reproduces the
    * mix, the composite-key hash, and the global rank.
    */
  private def q68EpochOrder(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.epochOrder(
      Tables.documents(s, d), col("doc_id"), col("lang"),
      weightByStratum = MixWeights, defaultWeight = 0.5)

  /** Context-aware quality axis: per-doc surprisal under the corpus's own
    * bigram LM — word salad scores high even when its unigrams are
    * common; boilerplate scores low — see
    * [[graft.curation.Corpus.bigramSurprisal]].
    */
  private def q69BigramSurprisal(s: SparkSession, d: String): DataFrame =
    graft.curation.Corpus.bigramSurprisal(
      Tables.documents(s, d), col("text"), col("doc_id"))

  /** Sketch-tier similarity verify: the LSH candidates ranked by MinHash
    * signature agreement — constant per-doc state (k longs) instead of
    * the gram arrays the exact [[graft.dedup.Dedup.ngramJaccard]] carries
    * — see [[graft.dedup.Dedup.minhashEstimate]]. The oracle recomputes
    * the signatures and the agreement fraction exactly.
    */
  private def q67MinhashEstimate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.minhashEstimate(
      Dedup.minhashLshPairs(docs, col("text"), col("doc_id")),
      docs, col("doc_id"), col("text"))
  }

  /** Collocation mining: top bigrams by PMI over the whole corpus — the
    * multiword-expression discovery pass before tokenizer/vocab merges —
    * see [[graft.curation.Corpus.pmiCollocations]]. The oracle reproduces
    * the bigram stream, positional marginals, the log-sum PMI, and the
    * round-then-rank top-N cut.
    */
  private def q70PmiCollocations(s: SparkSession, d: String): DataFrame =
    graft.curation.Corpus.pmiCollocations(
      Tables.documents(s, d), col("text"), minCount = 5, topN = 50)

  /** Decontamination metric: per held-out (test-split) doc, the fraction
    * of its distinct word-3-grams that occur anywhere in the train split
    * — the "X% of test n-grams appear in train" number data papers
    * report — see [[graft.dedup.Dedup.ngramCoverage]]. Splits come from
    * the same salted-hash [[graft.curation.Assembly.splitAssign]] as
    * q43, so membership is reproduced exactly cross-engine.
    */
  private def q71NgramNovelty(s: SparkSession, d: String): DataFrame = {
    // the split label is a pure expression over doc_id (splitLabel), so
    // each coverage branch filters its own scan — joining splitAssign's
    // relation back would re-scan documents once more per branch
    val withSplit = Tables.documents(s, d)
      .withColumn("split", graft.curation.Assembly.splitLabel(col("doc_id")))
    Dedup.ngramCoverage(
      withSplit.where(col("split") === "test"),
      withSplit.where(col("split") === "train"),
      col("text"), col("doc_id"))
  }

  /** Cross-source duplication matrix: LSH candidate pairs rolled up by
    * unordered source pair — which sources mirror each other — see
    * [[graft.dedup.Dedup.sourceOverlap]]. The oracle reuses the q21
    * banded-pairs SQL and rolls it up the same way.
    */
  private def q72SourceOverlap(s: SparkSession, d: String): DataFrame =
    Dedup.sourceOverlap(
      Tables.documents(s, d), col("text"), col("doc_id"), col("source"))

  /** Normalize-then-dedup — the composition every real ingest runs
    * ([[graft.functions.TextFunctions.normalize]] canonicalizes case /
    * control chars / whitespace, [[graft.dedup.Dedup.exact]] groups on
    * the canonical hash): trivially-reformatted copies collapse where
    * byte-exact q20 keeps them apart. Same one-shuffle plan as q20 —
    * normalization is a pure row expression feeding the hash.
    */
  private def q73NormalizedDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exact(
      Tables.documents(s, d),
      TextFunctions.normalize(col("text")), col("doc_id"))

  /** Asymmetric containment over the LSH candidates — subset-duplication
    * scoring (quotes, digests, re-posts) — see
    * [[graft.dedup.Dedup.containment]]. The oracle recomputes the
    * distinct shingle sets and both ratios exactly.
    */
  private def q74Containment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.containment(
      Dedup.minhashLshPairs(docs, col("text"), col("doc_id")),
      docs, col("doc_id"), col("text"))
  }

  /** Corpus diversity by nearest IVF centroid — see
    * [[graft.similarity.IVF.cellProfile]]. The oracle replays the exact
    * pretrained-centroid assignment the q32 IVF search uses and the same
    * rollup windows.
    */
  private def q76ClusterProfile(s: SparkSession, d: String): DataFrame =
    graft.similarity.IVF.cellProfile(
      Tables.embeddings(s, d), col("embedding"), col("label"),
      graft.similarity.IVF.pretrainedCentroids)

  /** Gopher-style quality-rule funnel — see
    * [[graft.curation.Corpus.qualityFunnel]] (defaults tuned to the
    * synthetic documents so every rule is non-degenerate at sf0.01+).
    */
  private def q77QualityFunnel(s: SparkSession, d: String): DataFrame =
    Corpus.qualityFunnel(Tables.documents(s, d), col("text"))

  /** Leakage-safe train/val/test split keyed on near-dup clusters — see
    * [[graft.curation.Assembly.clusterSplitAssign]]. The oracle replays
    * q36's transitive closure and q43's salted-hash split expression, on
    * the cluster id.
    */
  private def q79ClusterSplit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, col("text"), col("doc_id"))
    val clusters = Dedup.nearDupClusters(docs, col("doc_id"), pairs)
    graft.curation.Assembly.clusterSplitAssign(
      clusters, col("doc_id"), col("cluster_id"))
  }

  /** Snapshot diff between two derived corpus versions — see
    * [[graft.curation.Corpus.versionDiff]]. The versions are
    * deterministic derivations of the documents table (old drops
    * doc_id % 7 == 3; new drops % 11 == 5 and revises % 5 == 0), so the
    * gate exercises all four statuses from one input.
    */
  private def q81VersionDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val oldV = docs.where(pmod(col("doc_id"), lit(7)) =!= 3)
    val newV = docs.where(pmod(col("doc_id"), lit(11)) =!= 5)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
    Corpus.versionDiff(oldV, newV, col("doc_id"), md5(col("text")))
  }

  /** Token-share mixture plan against a 50/20/30 en/zh/fr target — see
    * [[graft.curation.Assembly.mixPlan]].
    */
  private def q82MixPlan(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.mixPlan(
      Tables.documents(s, d), col("lang"),
      TextFunctions.wsTokenCount(col("text")),
      Map("en" -> 0.5, "zh" -> 0.2, "fr" -> 0.3))

  /** Mixture-health diagnostic: each source's token-distribution KL
    * divergence from the corpus blend — see
    * [[graft.curation.Corpus.sourceDivergence]].
    */
  private def q84SourceDivergence(s: SparkSession, d: String): DataFrame =
    Corpus.sourceDivergence(Tables.documents(s, d), col("text"), col("source"))

  /** Exact-100 length-weighted document sample (Efraimidis–Spirakis order
    * sampling over salted-hash uniforms) — see
    * [[graft.curation.Assembly.weightedSample]].
    */
  private def q88WeightedSample(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.weightedSample(
      Tables.documents(s, d), col("doc_id"), col("n_chars") + 1, k = 100, salt = "ws-v1")

  /** Per-language exact-20 length-weighted sample — see
    * [[graft.curation.Assembly.weightedSamplePerStratum]].
    */
  private def q89StratifiedWeighted(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.weightedSamplePerStratum(
      Tables.documents(s, d), col("doc_id"), col("lang"), col("n_chars") + 1,
      kPerStratum = 20, salt = "ws-v1")

  /** DSIR importance resampling with English documents as the target
    * distribution — see [[graft.curation.Corpus.importanceResample]].
    */
  private def q90Importance(s: SparkSession, d: String): DataFrame =
    Corpus.importanceResample(
      Tables.documents(s, d), col("text"), col("doc_id"),
      col("lang") === "en", k = 120)

  /** SemDeDup over the pretrained IVF cells — see
    * [[graft.dedup.Dedup.semanticDedup]].
    */
  /** BPE round-0 pair statistics — see [[graft.curation.Bpe.pairCounts]];
    * the iterative trainer ([[graft.curation.Bpe.train]]) is spec-gated
    * against a quadratic reference (the loop is driver-side over the
    * bounded word-count aggregate and has no single-relation SQL form).
    */
  private def q92BpePairs(s: SparkSession, d: String): DataFrame =
    graft.curation.Bpe.pairCounts(Tables.documents(s, d), col("text"), topN = 50)

  /** Per-document byte-entropy noise signal — see
    * [[graft.functions.TextFunctions.byteEntropy]] / the
    * [[graft.plans.ByteEntropyF]] kernel (zero-exchange projection).
    */
  private def q93ByteEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      (round(TextFunctions.byteEntropy(col("text")), 4) + lit(0.0)).as("entropy_bits"))

  /** Zipf-law corpus-health fit — see [[graft.curation.Corpus.zipfFit]]. */
  private def q94Zipf(s: SparkSession, d: String): DataFrame =
    Corpus.zipfFit(Tables.documents(s, d), col("text"), col("doc_id"), topN = 200)

  /** Per-source quality funnel — see
    * [[graft.curation.Corpus.qualityFunnelBySource]].
    */
  private def q95FunnelBySource(s: SparkSession, d: String): DataFrame =
    Corpus.qualityFunnelBySource(Tables.documents(s, d), col("text"), col("source"))

  /** Curriculum training order with length-band difficulty levels — see
    * [[graft.curation.Assembly.curriculumOrder]].
    */
  private def q96Curriculum(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.curriculumOrder(
      Tables.documents(s, d), col("doc_id"),
      least(expr("n_chars div 200"), lit(5)))

  /** Temperature-scaled (α = 0.3, the XLM-R value) language-mixture
    * weights over document characters — see
    * [[graft.curation.Assembly.temperatureWeights]].
    */
  private def q98Temperature(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.temperatureWeights(
      Tables.documents(s, d), col("lang"), col("n_chars"), alpha = 0.3)

  /** Within-document repeated-segment removal at word granularity (the
    * Gopher/C4 in-document dedup rule) — see
    * [[graft.functions.TextFunctions.dedupSegments]].
    */
  private def q101WithinDocDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.dedupSegments(col("text"), " ").as("text_deduped"))

  // --- round 8b: sketch selection, time series, linkage, diagnostics ----

  /** φ-heavy hitters over the token stream — EXACT output via the CMS
    * candidate prefilter + exact recount two-pass
    * ([[graft.functions.Sketches.heavyHitters]]).
    */
  private def q102HeavyHitters(s: SparkSession, d: String): DataFrame =
    graft.functions.Sketches.heavyHittersByShare(
      Tables.documents(s, d)
        .select(explode(TextFunctions.wsTokens(col("text"))).as("term")),
      col("term"), share = 0.03)
      .select(col("item").as("term"), col("cnt"))

  /** Exact per-group quantiles by distributed histogram refinement —
    * never a whole-group sort ([[graft.curation.Quantiles]]).
    */
  private def q103Quantiles(s: SparkSession, d: String): DataFrame =
    graft.curation.Quantiles.exactQuantiles(
      Tables.load(s, d, "lineitem"),
      col("l_returnflag"), col("l_extendedprice"), Seq(0.5, 0.9, 0.99))
      .select(col("g").as("l_returnflag"), col("q"), col("value"))

  /** q223 — q103 with `maxFinal` forced tiny (64), so every cell mass at
    * gate scale exceeds it and the REFINEMENT loop — the only branch of
    * the 100-TB quantile path the standard gates never reach (the dyadic
    * seed resolves gate-scale data in one pass) — must subdivide cells
    * until each candidate's bracket is final-sortable. Shares q103's
    * oracle verbatim: the answer is maxFinal-independent by construction.
    */
  private def q223QuantileRefine(s: SparkSession, d: String): DataFrame =
    graft.curation.Quantiles.exactQuantiles(
      Tables.load(s, d, "lineitem"),
      col("l_returnflag"), col("l_extendedprice"), Seq(0.5, 0.9, 0.99),
      maxFinal = 64L, maxRounds = 64)
      .select(col("g").as("l_returnflag"), col("q"), col("value"))

  /** q197 — WEIGHTED exact per-group quantiles
    * ([[graft.curation.Quantiles.exactWeightedQuantiles]]): the value at
    * weighted rank ceil(q·W) with quantity as the integer mass — the
    * token-weighted percentile shape ("the price below which 25% of the
    * UNITS sit", not 25% of the line items). Same dyadic-seed machinery
    * as q103 with exact LONG mass end-to-end.
    */
  private def q197WeightedQuantiles(s: SparkSession, d: String): DataFrame =
    graft.curation.Quantiles.exactWeightedQuantiles(
      Tables.load(s, d, "lineitem"),
      col("l_returnflag"), col("l_extendedprice"), col("l_quantity"),
      Seq(0.25, 0.5, 0.9))
      .select(col("g").as("l_returnflag"), col("q"), col("value"))

  /** LOCF gap-fill report on an hourly per-user grid
    * ([[graft.operators.TimeSeries.gapFillReport]]).
    */
  private def q104GapFill(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.gapFillReport(
      Tables.events(s, d), col("user_id"), col("ts"), col("value"),
      stepSeconds = 3600, probe = "2024-01-15 00:00:00")
      .select(col("key").as("user_id"), col("n_slots"), col("n_obs"),
        col("n_filled"), col("v_probe"), col("v_last"))

  /** Per-source PII incidence over the redaction patterns
    * ([[TextFunctions.piiReport]]).
    */
  private def q105PiiReport(s: SparkSession, d: String): DataFrame =
    TextFunctions.piiReport(Tables.documents(s, d), col("text"), col("source"))
      .withColumnRenamed("group", "source")

  /** Blocked edit-distance linkage on (lang, length band) blocks over a
    * 48-char prefix ([[Dedup.fuzzyPairs]]).
    */
  private def q106FuzzyPairs(s: SparkSession, d: String): DataFrame =
    Dedup.fuzzyPairs(
      Tables.documents(s, d), col("doc_id"), col("text"),
      concat_ws("|", col("lang"), expr("n_chars div 64")),
      maxDist = 8, prefixLen = 48, maxBlock = 1000)

  /** Join-key skew diagnostics on the event stream's user key
    * ([[graft.operators.Joins.skewReport]]).
    */
  private def q107SkewReport(s: SparkSession, d: String): DataFrame =
    graft.operators.Joins.skewReport(
      Tables.events(s, d), col("user_id"), topK = 20, targetRowsPerTask = 50)
      .withColumnRenamed("key", "user_id")

  /** Embedding-table QA report — see
    * [[graft.functions.TextFunctions]]'s vector sibling
    * [[graft.functions.VectorFunctions.embeddingStats]].
    */
  private def q99EmbeddingQa(s: SparkSession, d: String): DataFrame =
    graft.functions.VectorFunctions.embeddingStats(
      Tables.embeddings(s, d), col("embedding"), expectedDim = 64)

  /** Frozen-vocabulary OOV coverage: the top-100 vocabulary of
    * yesterday's corpus (doc_id < 250) scores today's batch — see
    * [[graft.curation.Corpus.vocabCoverage]].
    */
  private def q100VocabCoverage(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Corpus.vocabCoverage(
      docs.where(col("doc_id") >= 250), col("text"), col("doc_id"),
      Corpus.vocabulary(docs.where(col("doc_id") < 250), col("text"), col("doc_id"), topN = 100))
  }

  /** Frozen-reference-LM perplexity filter: yesterday's corpus
    * (doc_id < 250) is the LM, today's batch scores against it — see
    * [[graft.curation.Corpus.surprisalAgainst]] (the persisted-table
    * path is spec-gated).
    */
  private def q97FrozenLm(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Corpus.surprisalAgainst(
      docs.where(col("doc_id") >= 250), col("text"), col("doc_id"),
      Corpus.termCounts(docs.where(col("doc_id") < 250), col("text")))
  }

  private def q91SemanticDedup(s: SparkSession, d: String): DataFrame =
    Dedup.semanticDedup(
      Tables.embeddings(s, d), col("vec_id"), col("embedding"),
      graft.similarity.IVF.pretrainedCentroids, threshold = 0.35)
      // int-typed flag for the cross-engine hash compare; the library
      // relation keeps the natural boolean
      .withColumn("keep", col("keep").cast("int"))

  /** Bloom-prefiltered incremental dedup, oracle-gated end to end: the
    * seen index is yesterday's corpus (doc_id < 250), the batch is the
    * rest, and [[graft.dedup.Dedup.dropSeenFast]] must reproduce the
    * plain anti-join EXACTLY — never-seen rows take the scan-predicate
    * fast path, Bloom false positives are cleared by the confirm join,
    * and false negatives cannot exist for a filter covering the index.
    */
  private def q85DropSeen(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val index = docs.where(col("doc_id") < 250)
      .select(md5(col("text")).as("content_hash")).distinct()
    val filter = Dedup.seenFilter(index, expectedItems = 300L, fpp = 0.01)
    Dedup.dropSeenFast(docs.where(col("doc_id") >= 250), col("text"), index, filter)
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** Per-source document cap, n_chars-best-first — the RefinedWeb "at
    * most N pages per domain" over-representation counter
    * ([[graft.curation.Assembly.capPerGroup]]).
    */
  private def q108DomainCap(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.capPerGroup(
      Tables.documents(s, d), col("source"),
      Seq(col("n_chars").desc, col("doc_id").asc), n = 10)
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** Robust median/MAD outlier screen on line-item prices
    * ([[graft.curation.Quantiles.madOutlierReport]]).
    */
  private def q109MadOutliers(s: SparkSession, d: String): DataFrame =
    graft.curation.Quantiles.madOutlierReport(
      Tables.load(s, d, "lineitem"),
      col("l_returnflag"), col("l_extendedprice"), k = 2.0)
      .select(col("g").as("l_returnflag"), col("n"), col("med"),
        col("mad"), col("n_outliers"))

  /** Embedding-space contamination screen: benchmark = vec_id < 20,
    * corpus = the rest ([[Dedup.semanticContamination]]).
    */
  private def q110SemContamination(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Dedup.semanticContamination(
      emb.where(col("vec_id") >= 20), col("vec_id"), col("embedding"),
      emb.where(col("vec_id") < 20), col("vec_id"), col("embedding"),
      minCosine = 0.3)
  }

  /** Session-bounded event-type transition counts over the event stream
    * ([[graft.operators.Sequences.transitionCounts]]).
    */
  private def q111Transitions(s: SparkSession, d: String): DataFrame =
    graft.operators.Sequences.transitionCounts(
      Tables.events(s, d), col("user_id"), col("ts"), col("event_type"),
      gapSeconds = 1800, tiebreak = Seq(col("event_id")))

  /** Inverted index: per-term df + top-3 postings by tf over terms with
    * df ≥ 5 ([[Corpus.invertedIndex]]).
    */
  private def q112InvertedIndex(s: SparkSession, d: String): DataFrame =
    Corpus.invertedIndex(
      Tables.documents(s, d), col("text"), col("doc_id"), topK = 3, minDf = 5)

  /** Hour-of-day volume anomaly screen per event type
    * ([[graft.operators.TimeSeries.seasonalAnomaly]]).
    */
  private def q113RateAnomaly(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.seasonalAnomaly(
      Tables.events(s, d), col("event_type"), col("ts"))
      .withColumnRenamed("g", "event_type")

  /** q228 — CUSUM changepoint scores ([[graft.operators.TimeSeries
    * .cusum]]): Page's one-sided drift statistic per event type over the
    * (ts, event_id)-ordered value sequence, fixed target 50 / slack 10,
    * alarms where the score tops 150 — the drift LOCALIZER beside the
    * q172/q119 distribution-level detectors. Computed through the
    * prefix-minimum identity (two keyed window passes, no recursion);
    * the oracle replays the identical windows. The values enter as
    * integer CENTS (`round(value·100)`), so every prefix sum is an
    * exact integer-valued double and the >threshold comparison is
    * engine-independent — a raw-double cumsum differed from DuckDB by
    * one ulp at exactly one of 25793 alarms at sf0.1 (window summation
    * trees associate differently), which this representation eliminates
    * rather than papers over.
    */
  private def q228Cusum(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.cusum(
      Tables.events(s, d).withColumn("cents", round(col("value") * 100).cast("long")),
      col("event_type"), col("ts"), col("event_id"),
      col("cents"), slack = 1000.0, target = Some(5000.0))
      .where(col("score") > 15000)
      .select(col("key").as("event_type"), col("tie").as("event_id"),
        (col("score") / 100.0).as("score"))

  /** Blocklist screen with the English marker words standing in as the
    * dictionary relation ([[TextFunctions.blocklistScreen]]).
    */
  private def q115Blocklist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dict = TextFunctions.LangMarkers.toMap.apply("en").toSeq.toDF("term")
    TextFunctions.blocklistScreen(Tables.documents(s, d), col("text"), col("doc_id"), dict)
  }

  /** Winsorization readout at p05/p95 on line-item prices
    * ([[graft.curation.Quantiles.winsorizeReport]]).
    */
  private def q116Winsorize(s: SparkSession, d: String): DataFrame =
    graft.curation.Quantiles.winsorizeReport(
      Tables.load(s, d, "lineitem"),
      col("l_returnflag"), col("l_extendedprice"), pLo = 0.05, pHi = 0.95)
      .select(col("g").as("l_returnflag"), col("n"), col("lo_cut"),
        col("hi_cut"), col("n_lo"), col("n_hi"))

  /** view→click→purchase funnel within 7 days of entry
    * ([[graft.operators.Sequences.funnelReport]]).
    */
  private def q117Funnel(s: SparkSession, d: String): DataFrame =
    graft.operators.Sequences.funnelReport(
      Tables.events(s, d), col("user_id"), col("ts"), col("event_type"),
      steps = Seq("view", "click", "purchase"), windowSeconds = Some(604800L))

  /** Weekly retention cohorts over the event stream
    * ([[graft.operators.Sequences.retention]]); cohort shipped as epoch
    * seconds for the cross-engine hash compare.
    */
  private def q118Retention(s: SparkSession, d: String): DataFrame =
    graft.operators.Sequences.retention(
      Tables.events(s, d), col("user_id"), col("ts"))
      .select(unix_timestamp(col("cohort")).as("cohort_week"),
        col("week_offset"), col("n_users"))

  /** PSI length-distribution drift: yesterday's corpus (doc_id < 250)
    * is the frozen reference, the rest is the current batch
    * ([[Corpus.psiDrift]]).
    */
  private def q119Psi(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Corpus.psiDrift(
      docs.where(col("doc_id") < 250), col("n_chars"),
      docs.where(col("doc_id") >= 250), col("n_chars"),
      bins = 10, lo = 0.0, hi = 600.0)
  }

  /** Cluster-size profile over the q36 near-dup clustering
    * ([[Dedup.clusterSizeProfile]]).
    */
  private def q120ClusterSizes(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, col("text"), col("doc_id"))
    Dedup.clusterSizeProfile(Dedup.nearDupClusters(docs, col("doc_id"), pairs))
  }

  /** Vocabulary coverage curve: yesterday's corpus (doc_id < 250) ranks
    * the candidate vocab, today's batch sweeps the size cuts
    * ([[Corpus.coverageCurve]]).
    */
  private def q121CoverageCurve(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Corpus.coverageCurve(
      docs.where(col("doc_id") >= 250), col("text"), col("doc_id"),
      Corpus.vocabulary(docs.where(col("doc_id") < 250), col("text"), col("doc_id"), topN = 200),
      cuts = Seq(25, 50, 100, 200))
  }

  /** ANN quality observability as a GATE: recall@10 of the q31 LSH
    * probe against the q25 brute-force truth, per query
    * ([[KNN.recallAtK]]; the macro-average row is excluded — its
    * `avg(double)` is float-summation-order sensitive, while the
    * per-query rows are exact integer ratios).
    */
  private def q122AnnRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < 5)
    val truth = KNN.bruteForceTopK(emb, queries, col("vec_id"), col("embedding"), 10)
    val approx = KNN.lshTopK(emb, queries, col("vec_id"), col("embedding"), 10, 4, 64)
    KNN.recallAtK(truth, approx).where(col("q_id") >= 0)
  }

  /** CDC apply-changes maintenance over the orders snapshot: every 3rd
    * key gets a later-versioned change (every 9th a delete)
    * ([[graft.sources.Storage.applyChanges]]). Prices stay unrounded —
    * doubling is IEEE-exact, so the hash compare needs no rounding.
    */
  private def q123ApplyChanges(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate").as("ver"))
    val changes = orders.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
        (col("ver") + expr("INTERVAL 1 DAY")).as("ver"),
        when(col("o_orderkey") % 9 === 0, "delete").otherwise("upsert").as("op"))
    graft.sources.Storage.applyChanges(orders, changes, col("o_orderkey"), col("ver"))
      .select(col("o_orderkey"), col("o_totalprice"),
        unix_timestamp(col("ver")).as("ver_s"))
  }

  /** Corpus-internal exact-substring dedup, end to end
    * ([[graft.dedup.Dedup.repeatedSpans]] → [[graft.dedup.Dedup.exciseSpans]]):
    * every byte span whose 8-gram appears in ≥ 2 distinct documents is
    * cut out — the Lee et al. repeated-substring removal, gated on the
    * full cleaned text per document.
    */
  private def q139RepeatedExcise(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val spans = graft.dedup.Dedup.repeatedSpans(
      docs, col("text"), col("doc_id"), n = 8, minDf = 2L)
    graft.dedup.Dedup.exciseSpans(
      docs, col("text"), col("doc_id"),
      spans, col("doc_id"), col("s"), col("e"), pad = 0)
  }

  /** SCD2 historization over the q123 change feed
    * ([[graft.sources.Storage.historize]]): validity intervals per order
    * version; deletes close intervals without emitting.
    */
  private def q138Historize(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate").as("ver"))
    val feed = orders.withColumn("op", lit("upsert"))
      .unionByName(orders.where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
          (col("ver") + expr("INTERVAL 1 DAY")).as("ver"),
          when(col("o_orderkey") % 9 === 0, "delete").otherwise("upsert").as("op")))
    graft.sources.Storage.historize(feed, col("o_orderkey"), col("ver"))
      .select(col("o_orderkey"), col("o_totalprice"),
        unix_timestamp(col("valid_from")).as("valid_from_s"),
        unix_timestamp(col("valid_to")).as("valid_to_s"),
        col("is_current"))
  }

  /** Per-event session labeling over the event stream
    * ([[graft.operators.Windows.sessionize]]).
    */
  private def q124Sessionize(s: SparkSession, d: String): DataFrame =
    graft.operators.Windows.sessionize(
      Tables.events(s, d), col("user_id"), col("ts"),
      gapSeconds = 1800, tiebreak = Seq(col("event_id")))
      .select(col("event_id"), col("user_id"), col("session_seq"))

  /** As-of with a 1-hour match window — pandas `merge_asof(tolerance=)`
    * parity over the q55 inputs ([[graft.operators.Joins.asOfTolerance]]).
    */
  private def q127AsofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value"))
    graft.operators.Joins.asOfTolerance(
        clicks, purchases, "user_id", "p_user", "ts", "p_ts", Seq("p_value"),
        toleranceMicros = 3600L * 1000000L)
      .select(
        col("event_id"), col("user_id"),
        round(coalesce(col("p_value"), lit(-1.0)), 4).as("prior_value"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("asof_ts")), lit(-1L))
          .as("gap_us"))
  }

  /** Linear-interpolation gap fill report on the hourly per-user grid
    * ([[graft.operators.TimeSeries.gapFillLinearReport]]).
    */
  private def q128GapLinear(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.gapFillLinearReport(
      Tables.events(s, d), col("user_id"), col("ts"), col("value"),
      stepSeconds = 3600, probe = "2024-01-15 00:00:00")
      .select(col("key").as("user_id"), col("n_slots"), col("n_obs"),
        col("n_interp"), col("v_probe"))

  /** Overlapping audio analysis windows over the audio-modality media
    * rows: 64-byte windows, 32-byte hop
    * ([[Multimodal.audioWindows]]; energy spec-covered, the gate
    * compares the window identities and hashes).
    */
  private def q129AudioWindows(s: SparkSession, d: String): DataFrame =
    Multimodal.audioWindows(
      Multimodal.fromDocuments(Tables.documents(s, d)),
      sampleRate = 8000, bytesPerSample = 1, winMs = 8, hopMs = 4)
      .select(col("media_id"), col("window_idx"), col("start_byte"), col("window_hash"))

  /** Interval ANTI join over the q56 inputs: clicks NOT inside any
    * 2-hour post-purchase window of their user
    * ([[graft.operators.Joins.intervalAnti]]).
    */
  private def q130IntervalAnti(s: SparkSession, d: String): DataFrame = {
    val twoHoursUs = 2L * 3600 * 1000000
    val ev = Tables.events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val windows = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("w_start"),
        timestamp_micros(unix_micros(col("ts")) + twoHoursUs).as("w_end"))
    graft.operators.Joins.intervalAnti(
        clicks, windows, "click_id", "user_id", "p_user", "ts",
        "w_start", "w_end", bucketMicros = twoHoursUs)
      .select(col("click_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
  }

  /** Equi-depth deciles of line-item prices per return flag
    * ([[graft.curation.Quantiles.equiDepthBuckets]]).
    */
  private def q131EquiDepth(s: SparkSession, d: String): DataFrame =
    graft.curation.Quantiles.equiDepthBuckets(
      Tables.load(s, d, "lineitem"),
      col("l_returnflag"), col("l_extendedprice"), nBuckets = 10)
      .select(col("g").as("l_returnflag"), col("bucket"), col("n"))

  /** The distinct-count cube: KMV per-day distinct active users over
    * the event stream ([[graft.functions.Sketches.kmvDistinctByGroup]]).
    */
  private def q132KmvByDay(s: SparkSession, d: String): DataFrame =
    graft.functions.Sketches.kmvDistinctByGroup(
      Tables.events(s, d),
      date_format(col("ts"), "yyyy-MM-dd"), col("user_id").cast("string"), k = 64)
      .withColumnRenamed("g", "day")

  /** Daily-volume trend per event type
    * ([[graft.operators.TimeSeries.volumeTrend]]).
    */
  private def q133VolumeTrend(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.volumeTrend(
      Tables.events(s, d), col("event_type"), col("ts"))
      .withColumnRenamed("g", "event_type")

  /** End-to-end incremental-compaction gate
    * ([[graft.sources.Storage.fileStats]]/[[graft.sources.Storage.compact]]):
    * supplier lands as ONE right-sized file (the lower-key half — exactly
    * `target` rows, so it is NOT under-target) plus a fragmented tail of
    * small files; compact merges ONLY the tail. The gate returns the full
    * table content (the hash-match proves no row was lost or duplicated
    * through the file surgery) plus the post-compaction file count, which
    * is 2 at every SF: the untouched large file + one merged replacement.
    */
  private def q134Compact(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Storage
    val sup = Tables.load(s, d, "supplier")
    val half = sup.count() / 2 // suppkeys are contiguous 0..n-1, n even
    val table = "graft_q134_compact"
    s.sql(s"DROP TABLE IF EXISTS $table")
    // a previous session's run leaves the location on disk without a
    // catalog entry (in-memory metastore) — clear it, plus any staging
    locally {
      import org.apache.hadoop.fs.Path
      val loc = new Path(s.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
      val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(loc, true)
      fs.delete(new Path(loc.getParent, s".${loc.getName}__graft_compact"), true)
    }
    sup.where(col("s_suppkey") < half).repartition(1)
      .write.mode("overwrite").format("parquet").saveAsTable(table)
    sup.where(col("s_suppkey") >= half).repartition(8)
      .write.mode("append").format("parquet").saveAsTable(table)
    val res = Storage.compact(s, table, targetRowsPerFile = half)
    require(res.filesWritten == 1L && res.rowsCompacted == half,
      s"q134: expected the $half-row fragmented tail to merge into 1 file, got $res")
    s.table(table).crossJoin(
      broadcast(Storage.fileStats(s, table).select(col("n_files"))))
  }

  /** Span-level n-gram contamination report
    * ([[graft.dedup.Dedup.contaminationSpans]]) over the q39 inputs:
    * where in each document the benchmark overlap sits.
    */
  private def q136ContaminationSpans(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.dedup.Dedup.contaminationSpans(
      docs, col("text"), col("doc_id"),
      docs.where(col("doc_id") < 3), col("text"), col("doc_id"),
      n = 8, minShared = 3)
  }

  /** Surgical decontamination ([[graft.dedup.Dedup.exciseSpans]]): cut the
    * q136 overlap spans (gram start → last gram start + 8, ± 2 bytes pad)
    * out of each document instead of dropping it.
    *
    * The oracle replays the surgery on VARCHAR, which equals the Spark
    * side's byte surgery ONLY on single-byte text — guarded here with a
    * loud failure so a testdata regeneration introducing multi-byte docs
    * surfaces as an error, not a silent hash drift (the round-7 lesson).
    */
  private def q137Excise(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nonAscii = docs.where(octet_length(col("text")) =!= length(col("text"))).count()
    require(nonAscii == 0L,
      s"q137: $nonAscii multi-byte documents — the VARCHAR oracle no longer matches byte surgery")
    val spans = graft.dedup.Dedup.contaminationSpans(
      docs, col("text"), col("doc_id"),
      docs.where(col("doc_id") < 3), col("text"), col("doc_id"),
      n = 8, minShared = 3)
    graft.dedup.Dedup.exciseSpans(
      docs, col("text"), col("doc_id"),
      spans, col("doc_id"), col("first_byte"), col("last_byte") + 8L, pad = 2)
  }

  /** Concat-and-chunk sequence packing ([[graft.curation.Assembly.packChunks]]):
    * the GPT-style fixed-length training-sequence manifest over the
    * whitespace token counts, 512-token sequences.
    */
  private def q142PackChunks(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.packChunks(
      Tables.documents(s, d), col("doc_id"),
      TextFunctions.wsTokenCount(col("text")), seqLen = 512L)

  /** Document-preserving first-fit packing
    * ([[graft.curation.Assembly.packGreedy]]): per-source greedy bins of
    * 512 tokens, 4 shard-parallel walks per source.
    */
  private def q143PackGreedy(s: SparkSession, d: String): DataFrame =
    graft.curation.Assembly.packGreedy(
      Tables.documents(s, d), col("doc_id"), col("source"),
      TextFunctions.wsTokenCount(col("text")), binCapacity = 512L, subShards = 4)

  /** Both-sides-large kNN JOIN ([[graft.similarity.IVF.joinTopK]]): every
    * vector gets its top-5 neighbours from the whole corpus with NEITHER
    * side broadcast — the corpus-vs-corpus scale path [[q32AnnIvf]]'s
    * broadcast probe set cannot take.
    */
  private def q144KnnJoin(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.similarity.IVF.joinTopK(
      emb, emb, col("vec_id"), col("embedding"),
      k = 5, nProbe = 2, centroids = graft.similarity.IVF.pretrainedCentroids)
  }

  /** Adaptive per-domain floor
    * ([[graft.curation.Quantiles.adaptiveThresholdFilter]]): drop each
    * source's shortest quartile — the per-domain form of a length screen.
    */
  private def q145AdaptiveFilter(s: SparkSession, d: String): DataFrame =
    graft.curation.Quantiles.adaptiveThresholdFilter(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
      col("source"), col("n_chars"), q = 0.25)

  /** Snapshot diff ([[graft.sources.Storage.diffSnapshots]]): the change
    * report between two deterministic derived corpus versions (removals,
    * additions, and in-place text edits).
    */
  private def q146SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val a = docs.where(col("doc_id") % 11 =!= 3)
    val b = docs.where(col("doc_id") % 13 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, upper(col("text"))).otherwise(col("text")))
    graft.sources.Storage.diffSnapshots(a, b, "doc_id", Seq("text", "lang", "source"))
  }

  /** kNN label propagation ([[graft.similarity.NeighborOps.labelPropagate]]):
    * the seed set (vec_id < 400) auto-labels the rest by 5-NN majority
    * vote; majorities under 60% abstain (null label_pred).
    */
  private def q147LabelPropagate(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.similarity.NeighborOps.labelPropagate(
      emb.where(col("vec_id") < 400), emb.where(col("vec_id") >= 400),
      col("vec_id"), col("embedding"), col("label"),
      k = 5, nProbe = 2, centroids = graft.similarity.IVF.pretrainedCentroids,
      minAgreement = 0.6)
  }

  /** Hard-negative mining ([[graft.similarity.NeighborOps.hardNegatives]]):
    * every vector's top-3 nearest OTHER-label neighbours — the
    * contrastive-training manifest.
    */
  private def q148HardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.similarity.NeighborOps.hardNegatives(
      emb, col("vec_id"), col("embedding"), col("label"),
      k = 3, nProbe = 2, centroids = graft.similarity.IVF.pretrainedCentroids)
  }

  /** Quality-signal rank ensemble ([[graft.curation.Quantiles.cdfBlend]]):
    * length and whitespace-token count rank-normalized onto [0,1] via
    * 256-bin exact-quantile CDFs and blended 0.75/0.25 into one
    * composite. The gate weights are deliberately DYADIC: cdfs are k/256,
    * so the composite (3k₀+k₁)/1024 is exactly representable and the
    * 4-dp round has no FP-dependent ties for the DuckDB replay to
    * disagree on (0.6/0.4 failed on exactly such a boundary).
    */
  private def q149CdfBlend(s: SparkSession, d: String): DataFrame =
    graft.curation.Quantiles.cdfBlend(
      Tables.documents(s, d), col("doc_id"),
      Seq(col("n_chars") -> 0.75, TextFunctions.wsTokenCount(col("text")) -> 0.25),
      bins = 256)

  /** Reciprocal-rank fusion ([[graft.similarity.Ranking.rrfFuse]]): the
    * IVF-ANN ranking fused with a 16-dim-truncated brute-force ranking
    * (standing in for any second retriever) for a 5-query panel.
    */
  private def q150RrfFuse(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") < 5)
    val ann = graft.similarity.IVF.joinTopK(
      emb, q, col("vec_id"), col("embedding"),
      k = 10, nProbe = 2, centroids = graft.similarity.IVF.pretrainedCentroids)
    val truncated = graft.similarity.KNN.bruteForceTopK(
      emb, q, col("vec_id"), slice(col("embedding"), 1, 16), 10)
    graft.similarity.Ranking.rrfFuse(Seq(ann, truncated), k = 10)
  }

  /** Dimension-ablation recall curve
    * ([[graft.similarity.Ranking.dimAblationRecall]]): micro recall@10 of
    * first-d-dims brute force vs full-width truth, d ∈ {8, 16, 32, 64}
    * (64 = full width — its row is the recall-1.0 sanity anchor).
    */
  private def q151DimAblation(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.similarity.Ranking.dimAblationRecall(
      emb, emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
      dims = Seq(8, 16, 32, 64), k = 10)
  }

  /** MMR diversity re-rank ([[graft.similarity.Ranking.mmrRerank]]): the
    * 5-query panel's brute-force top-20 re-ordered greedily at λ = 0.75,
    * k = 5 — relevance traded against redundancy with prior picks. The
    * oracle replays the greedy exactly (unrolled k steps over the same
    * 4-dp score grid), so rank AND score hash-match.
    */
  private def q152MmrRerank(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") < 5)
    val cand = graft.similarity.KNN.bruteForceTopK(
      emb, q, col("vec_id"), col("embedding"), 20)
    // fetch each candidate's vector: ≤ |panel|·20 rows broadcast against
    // the corpus scan — the corpus is never shuffled
    val withVec = emb
      .select(col("vec_id").as("n_id"), col("embedding").as("vec"))
      .join(broadcast(cand.select(col("q_id"), col("n_id"), col("cosine").as("rel"))), Seq("n_id"))
    graft.similarity.Ranking.mmrRerank(
      withVec.select(col("q_id"), col("n_id"), col("rel"), col("vec")),
      k = 5, lambda = 0.75)
  }

  // --- registry ---------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact" -> (q20DedupExact _),
    "q21_dedup_minhash" -> (q21MinhashLsh _),
    "q163_split_leakage" -> (q163SplitLeakage _),
    "q165_frame_dedup" -> (q165FrameDedup _),
    "q199_shot_boundaries" -> (q199ShotBoundaries _),
    "q167_shard_manifest" -> (q167ShardManifest _),
    "q169_signal_corr" -> (q169SignalCorr _),
    "q170_quota_sample" -> (q170QuotaSample _),
    "q171_bm25" -> (q171Bm25 _),
    "q172_ks_drift" -> (q172KsDrift _),
    "q175_jaccard_join" -> (q175JaccardJoin _),
    "q185_cosine_join" -> (q185CosineJoin _),
    "q176_attribution" -> (q176Attribution _),
    "q178_frequent_pairs" -> (q178FrequentPairs _),
    "q22_dedup_simhash" -> (q22Simhash _),
    "q23_ngram_jaccard" -> (q23NgramJaccard _),
    "q24_embed_neardup" -> (q24EmbedNearDup _),
    "q25_ann_topk" -> (q25AnnTopK _),
    "q26_langid" -> (q26LangId _),
    "q27_quality" -> (q27Quality _),
    "q28_tokens" -> (q28Tokens _),
    "q29_fingerprint" -> (q29Fingerprint _),
    "q30_multimodal" -> (q30Multimodal _),
    "q31_ann_lsh" -> (q31AnnLsh _),
    "q32_ann_ivf" -> (q32AnnIvf _),
    "q191_ivfpq" -> (q191IvfPq _),
    "q33_simhash_pairs" -> (q33SimhashPairs _),
    "q34_winnowing" -> (q34Winnowing _),
    "q35_repetition" -> (q35Repetition _),
    "q36_neardup_clusters" -> (q36NearDupClusters _),
    "q37_drop_neardups" -> (q37DropNearDups _),
    "q38_media_frames" -> (q38Frames _),
    "q39_contamination" -> (q39Contamination _),
    "q40_redact" -> (q40Redact _),
    "q41_chunks" -> (q41Chunks _),
    "q42_packing" -> (q42Packing _),
    "q43_split" -> (q43Split _),
    "q44_stratified" -> (q44Stratified _),
    "q45_diversity" -> (q45Diversity _),
    "q46_shuffle_order" -> (q46ShuffleOrder _),
    "q47_vocab" -> (q47Vocab _),
    "q48_tfidf" -> (q48TfIdf _),
    "q49_quantize" -> (q49Quantize _),
    "q50_surprisal" -> (q50Surprisal _),
    "q51_shared_spans" -> (q51SharedSpans _),
    "q52_quantized_ann" -> (q52QuantizedAnn _),
    "q53_boilerplate" -> (q53Boilerplate _),
    "q54_epoch_mix" -> (q54EpochMix _),
    "q55_asof" -> (q55Asof _),
    "q56_interval" -> (q56Interval _),
    "q57_kmv_sketch" -> (q57KmvSketch _),
    "q58_token_budget" -> (q58TokenBudget _),
    "q59_length_histogram" -> (q59LengthHistogram _),
    "q60_asof_forward" -> (q60AsofForward _),
    "q61_normalize" -> (q61Normalize _),
    "q62_keep_best" -> (q62KeepBest _),
    "q65_seg_dedup" -> (q65SegDedup _),
    "q66_incremental_pairs" -> (q66IncrementalPairs _),
    "q67_minhash_estimate" -> (q67MinhashEstimate _),
    "q68_epoch_order" -> (q68EpochOrder _),
    "q69_bigram_surprisal" -> (q69BigramSurprisal _),
    "q70_pmi_collocations" -> (q70PmiCollocations _),
    "q71_ngram_novelty" -> (q71NgramNovelty _),
    "q72_source_overlap" -> (q72SourceOverlap _),
    "q73_normalized_dedup" -> (q73NormalizedDedup _),
    "q74_containment" -> (q74Containment _),
    "q76_cluster_profile" -> (q76ClusterProfile _),
    "q77_quality_funnel" -> (q77QualityFunnel _),
    "q79_cluster_split" -> (q79ClusterSplit _),
    "q81_version_diff" -> (q81VersionDiff _),
    "q82_mix_plan" -> (q82MixPlan _),
    "q84_source_divergence" -> (q84SourceDivergence _),
    "q88_weighted_sample" -> (q88WeightedSample _),
    "q89_stratified_weighted" -> (q89StratifiedWeighted _),
    "q90_importance" -> (q90Importance _),
    "q91_semantic_dedup" -> (q91SemanticDedup _),
    "q92_bpe_pairs" -> (q92BpePairs _),
    "q93_byte_entropy" -> (q93ByteEntropy _),
    "q94_zipf" -> (q94Zipf _),
    "q95_funnel_by_source" -> (q95FunnelBySource _),
    "q96_curriculum" -> (q96Curriculum _),
    "q97_frozen_lm" -> (q97FrozenLm _),
    "q98_temperature" -> (q98Temperature _),
    "q99_embedding_qa" -> (q99EmbeddingQa _),
    "q100_vocab_coverage" -> (q100VocabCoverage _),
    "q101_within_doc_dedup" -> (q101WithinDocDedup _),
    "q102_heavy_hitters" -> (q102HeavyHitters _),
    "q103_quantiles" -> (q103Quantiles _),
    "q223_quantile_refine" -> (q223QuantileRefine _),
    "q228_cusum" -> (q228Cusum _),
    "q197_weighted_quantiles" -> (q197WeightedQuantiles _),
    "q104_gap_fill" -> (q104GapFill _),
    "q105_pii_report" -> (q105PiiReport _),
    "q106_fuzzy_pairs" -> (q106FuzzyPairs _),
    "q107_skew_report" -> (q107SkewReport _),
    "q108_domain_cap" -> (q108DomainCap _),
    "q109_mad_outliers" -> (q109MadOutliers _),
    "q110_sem_contamination" -> (q110SemContamination _),
    "q111_transitions" -> (q111Transitions _),
    "q112_inverted_index" -> (q112InvertedIndex _),
    "q113_rate_anomaly" -> (q113RateAnomaly _),
    "q115_blocklist" -> (q115Blocklist _),
    "q116_winsorize" -> (q116Winsorize _),
    "q117_funnel" -> (q117Funnel _),
    "q118_retention" -> (q118Retention _),
    "q119_psi" -> (q119Psi _),
    "q120_cluster_sizes" -> (q120ClusterSizes _),
    "q121_coverage_curve" -> (q121CoverageCurve _),
    "q122_ann_recall" -> (q122AnnRecall _),
    "q123_apply_changes" -> (q123ApplyChanges _),
    "q124_sessionize" -> (q124Sessionize _),
    "q127_asof_tolerance" -> (q127AsofTolerance _),
    "q128_gap_linear" -> (q128GapLinear _),
    "q129_audio_windows" -> (q129AudioWindows _),
    "q130_interval_anti" -> (q130IntervalAnti _),
    "q131_equi_depth" -> (q131EquiDepth _),
    "q132_kmv_by_day" -> (q132KmvByDay _),
    "q133_volume_trend" -> (q133VolumeTrend _),
    "q134_compact" -> (q134Compact _),
    "q136_contamination_spans" -> (q136ContaminationSpans _),
    "q137_excise" -> (q137Excise _),
    "q138_historize" -> (q138Historize _),
    "q139_repeated_excise" -> (q139RepeatedExcise _),
    "q142_pack_chunks" -> (q142PackChunks _),
    "q143_pack_greedy" -> (q143PackGreedy _),
    "q144_knn_join" -> (q144KnnJoin _),
    "q145_adaptive_filter" -> (q145AdaptiveFilter _),
    "q146_snapshot_diff" -> (q146SnapshotDiff _),
    "q147_label_propagate" -> (q147LabelPropagate _),
    "q148_hard_negatives" -> (q148HardNegatives _),
    "q149_cdf_blend" -> (q149CdfBlend _),
    "q150_rrf_fuse" -> (q150RrfFuse _),
    "q151_dim_ablation" -> (q151DimAblation _),
    "q152_mmr_rerank" -> (q152MmrRerank _),
    "q85_drop_seen" -> (q85DropSeen _)
  )

  // DuckDB oracle fragments ------------------------------------------------

  private def minhashSigExpr: String = {
    val terms = (0 until 12).map { j =>
      val (a, b) = Hashing.hashParams(j)
      s"coalesce(list_min(list_transform(base, h -> ($a*h + $b) % ${Hashing.Prime})), ${Hashing.Prime})"
    }
    terms.mkString("[", ", ", "]")
  }

  private def minhashBandArms: String =
    (0 until 4).map { b =>
      val i0 = 3 * b + 1
      val joined = s"sig[$i0]::VARCHAR || ',' || sig[${i0 + 1}]::VARCHAR || ',' || sig[${i0 + 2}]::VARCHAR"
      s"SELECT doc_id, $b AS band, ${duckHash48(s"($joined)")} AS band_key FROM sigs"
    }.mkString(" UNION ALL ")

  private val duckDot =
    "list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"
  private val duckNormA = "sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))"
  private val duckNormB = "sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))"
  private val duckCos = s"round($duckDot / ($duckNormA * $duckNormB), 4)"

  private def markers(lang: String): String =
    TextFunctions.LangMarkers.toMap.apply(lang).map(m => s"'$m'").mkString("[", ",", "]")

  /** DuckDB rendition of [[graft.functions.VectorFunctions.signRandomProjection]]
    * for nBits=4, dim=64: per bit b, the projection folds ±embedding[i] by
    * the parity of rehash((i-1) + 1000003·(b+1), b).
    */
  private def duckLshBucket: String = {
    def proj(b: Int): String = {
      val (a, bb) = Hashing.hashParams(b)
      s"list_sum([CASE WHEN ((($a*((i-1) + ${1000003L * (b + 1)}) + $bb) % ${Hashing.Prime}) % 2) = 0 " +
        s"THEN embedding[i]::DOUBLE ELSE -embedding[i]::DOUBLE END for i in range(1, 65)])"
    }
    (0 until 4).map(b => s"(CASE WHEN ${proj(b)} > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
  }

  /** The pretrained IVF centroids as DuckDB VALUES rows — the same exact
    * 1024ths the Spark literals carry, so scores are bit-identical.
    */
  private def duckIvfCents: String =
    graft.similarity.IVF.PretrainedCentroidNumerators.zipWithIndex.map { case (c, i) =>
      c.mkString(s"($i, [", "/1024.0, ", "/1024.0])")
    }.mkString(", ")

  /** The WITH-chain producing `banded(doc_id, band, band_key)` — the
    * cross-engine MinHash banding shared by [[duckMinhashPairsSql]] and
    * the incremental-index oracle (q66).
    */
  private def duckBandedCte: String =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3
       |  THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
       |  ELSE [] END AS shingles FROM toks),
       |hb AS (SELECT doc_id, list_transform(shingles, s -> ${duckHash48("s")}) AS base
       |       FROM sh WHERE len(shingles) > 0),
       |sigs AS (SELECT doc_id, $minhashSigExpr AS sig FROM hb),
       |banded AS ($minhashBandArms)""".stripMargin

  /** Shared by q21 (pairs) and q36 (clusters): the MinHash-LSH candidate
    * pairs with band keys reproduced cross-engine.
    */
  private def duckMinhashPairsSql: String =
    s"""$duckBandedCte
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin

  /** Shared by q22 (signatures) and q33 (pairs): the engine's 48-bit
    * simhash replayed over DuckDB BIGINTs.
    */
  private def duckSimhashSql: String =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(toks, t -> ${duckHash48("t")}) AS hs FROM toks)
       |SELECT doc_id, list_sum([CASE WHEN coalesce(list_sum(list_transform(hs,
       |  v -> CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
       |  THEN 1::BIGINT << b ELSE 0::BIGINT END for b in range(0, 48)])::BIGINT AS simhash
       |FROM h""".stripMargin

  /** Shared by q32 (IVF ANN) and q45 (diversity sampling): cell assignment
    * against the pretrained centroids — `assigned(vec_id, embedding, cell)`
    * with first-max (lowest cell) tie behavior, matching
    * [[graft.similarity.IVF.literalCell]].
    */
  private def duckIvfAssignedCtes: String =
    s"""cents(cell, cv) AS (SELECT * FROM (VALUES $duckIvfCents) t(cell, cv)),
       |cn AS (SELECT cell, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm FROM cents),
       |sc AS (SELECT e.vec_id, e.embedding, c.cell,
       |  list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * c.cv[i])) / c.cnrm AS score
       |  FROM embeddings e CROSS JOIN cn c),
       |assigned AS (SELECT vec_id, embedding, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM sc)
       |  WHERE rn = 1)""".stripMargin

  private val duckCosPA =
    "round(list_sum(list_transform(range(1, 65), i -> p.q_vec[i]::DOUBLE * a.embedding[i]::DOUBLE))" +
      " / (sqrt(list_sum(list_transform(p.q_vec, x -> x::DOUBLE * x::DOUBLE)))" +
      " * sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4)"

  /** Unrolled MMR greedy for the q152 oracle: step i picks, per query, the
    * argmax of `0.75·rel − (1−0.75)·maxsim-to-picked` among unpicked
    * candidates (ties → lowest n_id) — k plain CTE hops, no recursion, on
    * the same 4-dp rel/sim grid the Spark greedy walks.
    */
  private def duckMmrSql(k: Int): String = {
    val steps = (2 to k).map { i =>
      s"""c$i AS (
         |  SELECT c.q_id, c.n_id, max(c.rel) AS rel, max(s.sim) AS ms
         |  FROM cands c
         |  JOIN sel${i - 1} sp ON sp.q_id = c.q_id
         |  JOIN psim s ON s.q_id = c.q_id AND s.ai = c.n_id AND s.bi = sp.n_id
         |  LEFT JOIN sel${i - 1} ex ON ex.q_id = c.q_id AND ex.n_id = c.n_id
         |  WHERE ex.n_id IS NULL
         |  GROUP BY 1, 2),
         |p$i AS (
         |  SELECT q_id, n_id, round(0.75 * rel - (1 - 0.75) * ms, 4) AS mmr_score, $i AS rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY 0.75 * rel - (1 - 0.75) * ms DESC, n_id) AS rn
         |    FROM c$i)
         |  WHERE rn = 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT q_id, n_id FROM p$i)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")
    s"""WITH ts AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, b.embedding AS n_vec, $duckCos AS rel
       |  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
       |  WHERE a.vec_id < 5),
       |cands AS (
       |  SELECT q_id, n_id, n_vec, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rk FROM ts)
       |  WHERE rk <= 20),
       |psim AS (
       |  SELECT x.q_id, x.n_id AS ai, y.n_id AS bi,
       |    round(list_sum(list_transform(range(1, 65), i -> x.n_vec[i]::DOUBLE * y.n_vec[i]::DOUBLE))
       |      / (sqrt(list_sum(list_transform(x.n_vec, v -> v::DOUBLE * v::DOUBLE)))
       |       * sqrt(list_sum(list_transform(y.n_vec, v -> v::DOUBLE * v::DOUBLE)))), 4) AS sim
       |  FROM cands x JOIN cands y ON y.q_id = x.q_id AND y.n_id != x.n_id),
       |p1 AS (
       |  SELECT q_id, n_id, round(0.75 * rel, 4) AS mmr_score, 1 AS rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rn FROM cands)
       |  WHERE rn = 1),
       |sel1 AS (SELECT q_id, n_id FROM p1),
       |$steps
       |SELECT q_id, n_id, mmr_score, rank::INT AS rank FROM ($union)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q20_dedup_exact" ->
      "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups FROM documents GROUP BY 1",
    "q21_dedup_minhash" -> duckMinhashPairsSql,
    "q163_split_leakage" ->
      s"""WITH labels AS (
         |  SELECT doc_id,
         |    CASE WHEN b < 5 THEN 'test' WHEN b < 10 THEN 'val' ELSE 'train' END AS split
         |  FROM (SELECT doc_id,
         |    ((${duckHash48("(doc_id::VARCHAR || ':split-v1')")}) % 100)::BIGINT AS b
         |    FROM documents)),
         |pairs AS ($duckMinhashPairsSql)
         |SELECT p.doc_a, p.doc_b, la.split AS split_a, lb.split AS split_b
         |FROM pairs p
         |JOIN labels la ON la.doc_id = p.doc_a
         |JOIN labels lb ON lb.doc_id = p.doc_b
         |WHERE la.split != lb.split""".stripMargin,
    "q165_frame_dedup" ->
      s"""WITH m AS ($duckByteView),
         |f AS (SELECT doc_id AS media_id, hx, nb,
         |  unnest(range(0, (nb + 255) // 256)) AS fi FROM m),
         |px AS (SELECT media_id, fi,
         |  list_transform(range(0, 48), j -> CASE WHEN fi*256 + j + 1 <= nb
         |    THEN ${duckByteAt("fi*256 + j + 1")} ELSE 0 END) AS px
         |  FROM f WHERE fi % 2 = 0),
         |mn AS (SELECT media_id, fi, px, list_sum(px) // 48 AS mean FROM px),
         |sig AS (SELECT media_id*1048576 + fi AS fid,
         |  list_sum(list_transform(range(0, 48),
         |    j -> CASE WHEN px[(j+1)::INT] > mean THEN (1::BIGINT << j::INT) ELSE 0 END)) AS ahash
         |  FROM mn),
         |ch AS (SELECT fid, ahash, c, (ahash >> (c*12)::INT) & 4095 AS cv
         |  FROM sig, lateral unnest(range(0, 4)) t(c)),
         |big AS (SELECT c, cv FROM ch GROUP BY c, cv HAVING count(*) > 64),
         |cand AS (SELECT DISTINCT a.fid AS fid_a, a.ahash AS ha, b.fid AS fid_b, b.ahash AS hb
         |  FROM ch a JOIN ch b ON a.c = b.c AND a.cv = b.cv AND a.fid < b.fid
         |  WHERE NOT EXISTS (SELECT 1 FROM big WHERE big.c = a.c AND big.cv = a.cv))
         |SELECT fid_a, fid_b, bit_count(xor(ha, hb))::BIGINT AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin,
    "q199_shot_boundaries" ->
      // the q165 aHash replay at frameBytes=128 everyK=1, then lag +
      // hamming per media in frame order — the boundary predicate
      s"""WITH m AS ($duckByteView),
         |f AS (SELECT doc_id AS media_id, hx, nb,
         |  unnest(range(0, (nb + 127) // 128)) AS fi FROM m),
         |px AS (SELECT media_id, fi,
         |  list_transform(range(0, 48), j -> CASE WHEN fi*128 + j + 1 <= nb
         |    THEN ${duckByteAt("fi*128 + j + 1")} ELSE 0 END) AS px
         |  FROM f),
         |mn AS (SELECT media_id, fi, px, list_sum(px) // 48 AS mean FROM px),
         |sig AS (SELECT media_id, fi,
         |  list_sum(list_transform(range(0, 48),
         |    j -> CASE WHEN px[(j+1)::INT] > mean THEN (1::BIGINT << j::INT) ELSE 0 END)) AS ahash
         |  FROM mn),
         |lg AS (SELECT media_id, fi, ahash,
         |    lag(fi) OVER w AS from_idx, lag(ahash) OVER w AS ph
         |  FROM sig WINDOW w AS (PARTITION BY media_id ORDER BY fi))
         |SELECT media_id, from_idx, fi AS to_idx,
         |  bit_count(xor(ahash, ph))::BIGINT AS hamming
         |FROM lg WHERE ph IS NOT NULL AND bit_count(xor(ahash, ph)) >= 26""".stripMargin,
    "q169_signal_corr" ->
      s"""SELECT lang, count(*)::BIGINT AS n_docs,
         |  round(corr(len($duckToks)::DOUBLE, n_chars::DOUBLE), 6) AS chars_tokens_corr
         |FROM documents GROUP BY lang""".stripMargin,
    "q170_quota_sample" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  (${duckHash48("(doc_id::VARCHAR || ':quota-v1')")}) AS tk FROM documents),
         |r AS (SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang ORDER BY tk, doc_id) AS rn FROM t)
         |SELECT doc_id, lang FROM r WHERE rn <= 50""".stripMargin,
    "q171_bm25" ->
      s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |dt AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
         |  WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
         |dfr AS (SELECT term, count(*)::BIGINT AS df FROM dt GROUP BY 1),
         |dl AS (SELECT doc_id, len($duckToks)::DOUBLE AS dl FROM documents),
         |sc AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
         |s AS (SELECT dt.doc_id,
         |    round(sum(ln(1 + (sc.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
         |      * dt.tf * 2.2 / (dt.tf + 1.2 * (0.25 + 0.75 * dl.dl / sc.avgdl))), 4) AS score,
         |    count(*)::BIGINT AS n_terms_hit
         |  FROM dt JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN sc
         |  GROUP BY dt.doc_id),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank FROM s)
         |SELECT doc_id, score, n_terms_hit, rank::INT AS rank FROM r WHERE rank <= 20""".stripMargin,
    "q172_ks_drift" ->
      """WITH gv AS (SELECT source AS grp, n_chars::DOUBLE AS v, count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1, 2),
        |g AS (SELECT grp, sum(c)::BIGINT AS n_in FROM gv GROUP BY 1),
        |vals AS (SELECT v, sum(c)::BIGINT AS cv FROM gv GROUP BY 1),
        |t AS (SELECT sum(n_in)::BIGINT AS n_all FROM g),
        |grid AS (SELECT g.grp, g.n_in, t.n_all, vals.v, vals.cv, coalesce(gv.c, 0)::BIGINT AS c
        |  FROM vals CROSS JOIN g CROSS JOIN t
        |  LEFT JOIN gv ON gv.grp = g.grp AND gv.v = vals.v),
        |cum AS (SELECT grp, n_in, (n_all - n_in)::BIGINT AS n_rest,
        |    sum(c) OVER w AS ci, sum(cv) OVER w AS ca
        |  FROM grid WINDOW w AS (PARTITION BY grp ORDER BY v ROWS UNBOUNDED PRECEDING))
        |SELECT grp AS "group", n_in, n_rest,
        |  CASE WHEN n_rest > 0
        |    THEN round(max(abs(ci / n_in - (ca - ci) / n_rest)), 6) END AS ks
        |FROM cum GROUP BY grp, n_in, n_rest""".stripMargin,
    "q175_jaccard_join" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         |  THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
         |  ELSE [] END AS shingles FROM toks),
         |s AS (SELECT doc_id,
         |    list_distinct(list_transform(shingles, s -> ${duckHash48("s")})) AS st
         |  FROM sh WHERE len(shingles) > 0),
         |s2 AS (SELECT doc_id, st, len(st)::BIGINT AS sz FROM s),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sa, b.sz AS sb,
         |    len(list_filter(a.st, x -> list_contains(b.st, x)))::BIGINT AS inter
         |  FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, inter, (sa + sb - inter)::BIGINT AS n_union,
         |  round(inter / (sa + sb - inter), 4) AS jaccard
         |FROM p WHERE inter * 10000 >= (sa + sb - inter) * 5000""".stripMargin,
    "q185_cosine_join" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         |  THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
         |  ELSE [] END AS shingles FROM toks),
         |s AS (SELECT doc_id,
         |    list_distinct(list_transform(shingles, s -> ${duckHash48("s")})) AS st
         |  FROM sh WHERE len(shingles) > 0),
         |s2 AS (SELECT doc_id, st, len(st)::BIGINT AS sz FROM s),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sa, b.sz AS sb,
         |    len(list_filter(a.st, x -> list_contains(b.st, x)))::BIGINT AS inter
         |  FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, inter, round(inter / sqrt(sa * sb), 4) AS cosine
         |FROM p WHERE inter * inter * 100000000 >= sa * sb * 36000000""".stripMargin,
    "q178_frequent_pairs" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS b, l_partkey::BIGINT AS i FROM lineitem),
        |nb AS (SELECT count(DISTINCT b)::DOUBLE AS n_baskets FROM lp),
        |ic AS (SELECT i, count(*)::BIGINT AS c FROM lp GROUP BY i),
        |pc AS (SELECT a.i AS item_a, b.i AS item_b, count(*)::BIGINT AS c_ab
        |  FROM lp a JOIN lp b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, c_ab, ca.c AS c_a, cb.c AS c_b,
        |  round(nb.n_baskets * c_ab / (ca.c * cb.c), 4) AS lift
        |FROM pc JOIN ic ca ON ca.i = item_a JOIN ic cb ON cb.i = item_b CROSS JOIN nb""".stripMargin,
    "q176_attribution" ->
      """WITH w AS (SELECT user_id, ts, event_type, event_id,
        |    last_value(CASE WHEN event_type IN ('view', 'click') THEN ts END IGNORE NULLS)
        |      OVER win AS tt,
        |    last_value(CASE WHEN event_type IN ('view', 'click') THEN event_id END IGNORE NULLS)
        |      OVER win AS tid,
        |    last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END IGNORE NULLS)
        |      OVER win AS tstate
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |c AS (SELECT user_id, event_id, tid, tstate,
        |    epoch_ns(ts) // 1000000000 - epoch_ns(tt) // 1000000000 AS d
        |  FROM w WHERE event_type = 'purchase')
        |SELECT user_id, event_id AS conversion_id,
        |  CASE WHEN d <= 86400 THEN tid END AS touch_id,
        |  CASE WHEN d <= 86400 THEN tstate END AS touch_state,
        |  CASE WHEN d <= 86400 THEN d END AS delay_seconds
        |FROM c""".stripMargin,
    "q167_shard_manifest" ->
      s"""WITH h AS (SELECT ((${duckHash48("(doc_id::VARCHAR || ':shard-v1')")}) % 64)::BIGINT AS shard,
         |  octet_length(encode(text))::BIGINT AS nb,
         |  (${duckHash48("text")}) AS h FROM documents)
         |SELECT shard, count(*)::BIGINT AS n_docs, sum(nb)::BIGINT AS n_bytes,
         |  ((sum(h % 16777216) + ((sum(h // 16777216) % 16777216) * 16777216)) % 281474976710656)::BIGINT AS checksum
         |FROM h GROUP BY shard""".stripMargin,
    "q36_neardup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($duckMinhashPairsSql),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.t FROM reach r JOIN edges e ON r.b = e.s)
         |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a""".stripMargin,
    "q37_drop_neardups" ->
      s"""WITH RECURSIVE pairs AS ($duckMinhashPairsSql),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.t FROM reach r JOIN edges e ON r.b = e.s),
         |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN cl ON d.doc_id = cl.doc_id
         |WHERE cl.doc_id = cl.cluster_id""".stripMargin,
    "q38_media_frames" ->
      s"""WITH m AS (SELECT doc_id AS media_id, text,
         |           octet_length(encode(text))::BIGINT AS n FROM documents),
         |f AS (SELECT media_id, text, n, unnest(range(0, (n + 63) // 64)) AS fi FROM m),
         |s AS (SELECT media_id, fi, n, substr(text, (fi*64 + 1)::INT, least(64, n - fi*64)::INT) AS fr
         |      FROM f WHERE fi % 2 = 0)
         |SELECT media_id, fi::BIGINT AS frame_idx,
         |       least(64, n - fi*64)::BIGINT AS frame_len,
         |       (${duckHash48("fr")})::BIGINT AS frame_hash
         |FROM s""".stripMargin,
    "q39_contamination" ->
      s"""WITH m AS ($duckByteView),
         |dg AS (
         |  SELECT DISTINCT doc_id, ${duckGramHash("p", 8)} AS h
         |  FROM m, lateral unnest(range(1, greatest(nb - 6, 1))) t(p)),
         |bg AS (
         |  SELECT DISTINCT doc_id AS bench_id, ${duckGramHash("p", 8)} AS h
         |  FROM m, lateral unnest(range(1, greatest(nb - 6, 1))) t(p)
         |  WHERE doc_id < 3)
         |SELECT dg.doc_id, bg.bench_id, count(*)::BIGINT AS n_shared
         |FROM dg JOIN bg ON dg.h = bg.h
         |GROUP BY dg.doc_id, bg.bench_id
         |HAVING count(*) >= 3""".stripMargin,
    "q40_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '${TextFunctions.EmailPattern}', '<EMAIL>', 'g'),
         |      '${TextFunctions.UrlPattern}', '<URL>', 'g'),
         |    '${TextFunctions.LongNumberPattern}', '<NUM>', 'g') AS clean_text
         |FROM documents""".stripMargin,
    "q41_chunks" ->
      // last start = greatest(len - (size - stride), 1): no tail chunk that
      // is a pure suffix of the previous window
      """SELECT doc_id, ((st - 1) // 192)::BIGINT AS chunk_idx,
        |       substr(text, st::INT, 256) AS chunk_text
        |FROM documents, lateral unnest(range(1, greatest(len(text) - 64, 1) + 1, 192)) t(st)
        |WHERE len(text) > 0""".stripMargin,
    "q42_packing" ->
      """SELECT doc_id, source,
        |  ((sum(n_chars) OVER w - n_chars) // 4096)::BIGINT AS pack_id,
        |  (sum(n_chars) OVER w)::BIGINT AS cum_weight
        |FROM documents
        |WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "q22_dedup_simhash" -> duckSimhashSql,
    "q33_simhash_pairs" ->
      s"""WITH sigs AS ($duckSimhashSql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "q23_ngram_jaccard" ->
      s"""WITH m AS ($duckByteView),
         |g AS (SELECT doc_id,
         |  list_distinct([${duckGramHash("p", 3)} for p in range(1, greatest(nb - 1, 1))]) AS grams
         |  FROM m)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(coalesce(len(list_intersect(a.grams, b.grams))::DOUBLE
         |    / nullif(len(list_distinct(a.grams || b.grams)), 0), 0.0), 4) AS jaccard
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "q24_embed_neardup" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, $duckCos AS cosine
         |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE $duckCos >= 0.3""".stripMargin,
    "q25_ann_topk" ->
      s"""WITH s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $duckCos AS cosine
         |  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < 5),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM s)
         |SELECT q_id, n_id, cosine, rank::INT AS rank FROM r WHERE rank <= 10""".stripMargin,
    "q26_langid" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
         |s AS (SELECT doc_id, text,
         |  len(list_filter(toks, x -> list_contains(${markers("en")}, x))) AS s_en,
         |  len(list_filter(toks, x -> list_contains(${markers("fr")}, x))) AS s_fr,
         |  len(list_filter(toks, x -> list_contains(${markers("es")}, x))) AS s_es,
         |  len(list_filter(toks, x -> list_contains(${markers("de")}, x))) AS s_de
         | FROM t)
         |SELECT doc_id, CASE
         | WHEN len(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) * 5 > len(text) THEN 'zh'
         | WHEN s_en = 0 AND s_fr = 0 AND s_es = 0 AND s_de = 0 THEN 'und'
         | WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
         | WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
         | WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS lang_pred FROM s""".stripMargin,
    "q27_quality" ->
      s"""WITH t AS (SELECT doc_id, len(text)::DOUBLE AS n_chars,
         |  len($duckToks)::DOUBLE AS n_toks,
         |  len(list_filter($duckToks, x -> list_contains(${markers("en")}, x)))::DOUBLE AS n_stop,
         |  len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE AS n_punct
         | FROM documents)
         |SELECT doc_id, n_toks::BIGINT AS n_tokens,
         | round(
         |   least(n_chars / 400.0, 1.0) * 0.3
         |   + (CASE WHEN n_toks > 0 AND (n_chars - (n_toks - 1)) / n_toks BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) * 0.2
         |   + greatest(1.0 - (n_punct / greatest(n_chars, 1.0)) * 5, 0.0) * 0.25
         |   + (CASE WHEN n_stop / greatest(n_toks, 1.0) > 0.01 AND n_stop / greatest(n_toks, 1.0) < 0.5 THEN 1.0 ELSE 0.5 END) * 0.25
         | , 5) AS quality FROM t""".stripMargin,
    "q28_tokens" ->
      s"""SELECT doc_id,
         | len($duckToks)::BIGINT AS ws_tokens,
         | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
         |FROM documents""".stripMargin,
    "q29_fingerprint" ->
      s"""WITH m AS ($duckByteView)
         |SELECT doc_id,
         | coalesce(list_min([ ${duckGramHash("oi", 8)} for oi in range(1, greatest(nb - 6, 1))]),
         |          ${Hashing.Prime})::BIGINT AS fingerprint
         |FROM m""".stripMargin,
    "q30_multimodal" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  ['image','audio','video'][(doc_id % 3)::INT + 1] AS kind,
        |  octet_length(encode(text))::BIGINT AS n_bytes, hex(encode(text)) AS hx FROM documents),
        |j AS (SELECT unnest(range(0, 8)) AS feat_idx)
        |SELECT media_id, kind, n_bytes, feat_idx,
        | (CASE WHEN n_bytes = 0 THEN 0 ELSE
        |   coalesce(list_sum([
        |     (strpos('0123456789ABCDEF', substr(hx, 2*p::INT - 1, 1)) - 1) * 16
        |     + (strpos('0123456789ABCDEF', substr(hx, 2*p::INT, 1)) - 1) for p in
        |   range((feat_idx * n_bytes) // 8 + 1,
        |         greatest((feat_idx * n_bytes) // 8 + 2,
        |                  least(((feat_idx + 1) * n_bytes) // 8, n_bytes) + 1))]), 0) END)::DOUBLE AS feat_val
        |FROM m CROSS JOIN j""".stripMargin,
    "q31_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding, $duckLshBucket AS bucket FROM embeddings),
         |s AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, $duckCos AS cosine
         |      FROM e a JOIN e b ON a.bucket = b.bucket AND b.vec_id != a.vec_id
         |      WHERE a.vec_id < 5),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM s)
         |SELECT q_id, n_id, cosine, rank::INT AS rank FROM r WHERE rank <= 10""".stripMargin,
    "q32_ann_ivf" ->
      s"""WITH $duckIvfAssignedCtes,
         |probes AS (SELECT vec_id AS q_id, embedding AS q_vec, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM sc
         |   WHERE vec_id < 5)
         |  WHERE rn <= 2),
         |s AS (SELECT p.q_id, a.vec_id AS n_id, $duckCosPA AS cosine
         |      FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM s)
         |SELECT q_id, n_id, cosine, rank::INT AS rank FROM r WHERE rank <= 10""".stripMargin,
    "q191_ivfpq" -> {
      val sd = 16
      val sqd = AnalyticsGates.pqSqd(sd) _
      val cf = s"c${AnalyticsGates.PqIters}"
      s"""WITH $duckIvfAssignedCtes,
         |v AS (SELECT a.vec_id,
         |    list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE - c.cv[i]) AS v
         |  FROM assigned a JOIN cents c ON c.cell = a.cell),
         |${AnalyticsGates.pqTrainCtes(
              AnalyticsGates.PqM, AnalyticsGates.PqK, AnalyticsGates.PqIters, sd)},
         |probes AS (SELECT vec_id AS q_id, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
         |   FROM sc WHERE vec_id < 5)
         |  WHERE rn <= 2),
         |qres AS (SELECT p.q_id, p.cell,
         |    list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE - c.cv[i]) AS rv
         |  FROM probes p JOIN embeddings e ON e.vec_id = p.q_id
         |  JOIN cents c ON c.cell = p.cell),
         |qsub2 AS (SELECT q_id, cell, j, rv[j*$sd + 1 : j*$sd + $sd] AS vj
         |  FROM qres CROSS JOIN js),
         |tqd AS (SELECT q.q_id, q.cell, q.j, cf.c, ${sqd("q.vj", "cf.cv")} AS td
         |  FROM qsub2 q JOIN $cf cf ON cf.j = q.j),
         |adc AS (SELECT t.q_id, cd.vec_id AS n_id,
         |    round(list_sum(list(t.td ORDER BY t.j)), 6) AS dist
         |  FROM code cd JOIN assigned a ON a.vec_id = cd.vec_id
         |  JOIN tqd t ON t.j = cd.j AND t.c = cd.c AND t.cell = a.cell
         |  WHERE cd.vec_id != t.q_id
         |  GROUP BY t.q_id, cd.vec_id),
         |rk AS (SELECT q_id, n_id, dist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, n_id) AS rnk FROM adc)
         |SELECT q_id, n_id, rnk::INT AS rank, dist FROM rk
         |WHERE rnk <= ${AnalyticsGates.PqTopK}""".stripMargin
    },
    "q34_winnowing" ->
      s"""WITH m AS ($duckByteView),
         |pos AS (
         |  SELECT doc_id, p, ${duckGramHash("p", 8)} AS h
         |  FROM m, lateral unnest(range(1, greatest(nb - 6, 1))) t(p)),
         |w AS (
         |  SELECT doc_id,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
         |    count(h) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
         |  FROM pos)
         |SELECT DISTINCT doc_id, fingerprint::BIGINT AS fingerprint FROM w WHERE cnt = 4""".stripMargin,
    "q43_split" ->
      s"""WITH b AS (SELECT doc_id,
         |  ((${duckHash48("(doc_id::VARCHAR || ':split-v1')")}) % 100)::BIGINT AS bucket
         |  FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 5 THEN 'test' WHEN bucket < 10 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM b""".stripMargin,
    "q44_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ((${duckHash48("(doc_id::VARCHAR || ':strat-v1')")}) % 1000) <
         |  CASE lang ${StratRates.toSeq.sortBy(_._1).map { case (l, p) => s"WHEN '$l' THEN $p" }.mkString(" ")}
         |       ELSE 50 END""".stripMargin,
    "q45_diversity" ->
      s"""WITH $duckIvfAssignedCtes,
         |tk AS (SELECT vec_id, cell,
         |  ${duckHash48("(vec_id::VARCHAR || ':div-v1')")} AS tkt FROM assigned),
         |r AS (SELECT vec_id, cell,
         |  row_number() OVER (PARTITION BY cell ORDER BY tkt, vec_id) AS pick_rank FROM tk)
         |SELECT vec_id, cell::INT AS cell, pick_rank::INT AS pick_rank
         |FROM r WHERE pick_rank <= 20""".stripMargin,
    "q46_shuffle_order" ->
      s"""WITH h AS (SELECT doc_id,
         |  (${duckHash48("(doc_id::VARCHAR || ':order-v1')")})::BIGINT AS sort_key
         |  FROM documents)
         |SELECT doc_id, sort_key,
         |  row_number() OVER (ORDER BY sort_key, doc_id) AS global_pos
         |FROM h""".stripMargin,
    "q96_curriculum" ->
      // the engine's (level, hash-bucket) two-pass ranking is ORDER BY
      // (level, sort_key, doc_id): the bucket is the hash's top bits, a
      // monotone prefix of sort_key
      s"""WITH h AS (SELECT doc_id, least(n_chars // 200, 5)::INT AS level,
         |  (${duckHash48("(doc_id::VARCHAR || ':curriculum-v1')")})::BIGINT AS sort_key
         |  FROM documents)
         |SELECT doc_id, level, sort_key,
         |  row_number() OVER (ORDER BY level, sort_key, doc_id)::BIGINT AS global_pos
         |FROM h""".stripMargin,
    "q97_frozen_lm" ->
      s"""WITH t AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |lm AS (SELECT term, count(*)::BIGINT AS cnt FROM t WHERE doc_id < 250 GROUP BY 1),
         |tot AS (SELECT sum(cnt)::BIGINT AS t_lm, count(*)::BIGINT AS v_lm FROM lm),
         |dt AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t WHERE doc_id >= 250 GROUP BY 1, 2),
         |pd AS (SELECT dt.doc_id, sum(dt.tf)::BIGINT AS n_tokens,
         |  round(-sum(dt.tf * log2((coalesce(lm.cnt, 0) + 1.0)
         |      / ((SELECT t_lm FROM tot) + (SELECT v_lm FROM tot)))) / sum(dt.tf), 4) + 0.0
         |    AS bits_per_token
         |  FROM dt LEFT JOIN lm USING (term) GROUP BY dt.doc_id)
         |SELECT d.doc_id, coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
         |  coalesce(pd.bits_per_token, 0.0) AS bits_per_token
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |WHERE d.doc_id >= 250""".stripMargin,
    "q101_within_doc_dedup" ->
      // DuckDB lambda index i is 1-based; Spark's filter index is 0-based
      // (the engine compares against i + 1) — both keep first occurrences
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |SELECT doc_id, array_to_string(
        |  list_filter(l, (x, i) -> list_position(l, x) = i), ' ') AS text_deduped
        |FROM t""".stripMargin,
    "q102_heavy_hitters" ->
      // the engine's CMS prefilter + exact recount is EXACTLY the plain
      // GROUP BY / HAVING — that identity IS the oracle check. The ::DOUBLE
      // cast forces DuckDB onto the same IEEE product Spark computes
      // (DuckDB's bare 0.03 literal is DECIMAL, whose exact ceil could
      // differ by 1 at integer boundaries).
      s"""WITH toks AS (SELECT unnest($duckToks) AS term FROM documents),
         |n AS (SELECT count(*) AS t FROM toks)
         |SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY 1
         |HAVING count(*) >= greatest(1, ceil(0.03::DOUBLE * (SELECT t FROM n)))""".stripMargin,
    "q197_weighted_quantiles" ->
      // weighted type-1: the smallest value whose CUMULATIVE WEIGHT
      // reaches clamp(ceil(q·W), 1, W) — cum walked over distinct
      // values, the same walk the engine's weighted refinement equals
      """WITH t AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |    l_quantity::BIGINT AS w
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT g, sum(w)::BIGINT AS tw FROM t GROUP BY 1),
        |qs AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.9::DOUBLE]) AS q),
        |r AS (SELECT g, q, least(tw, greatest(1, ceil(q * tw)::BIGINT)) AS rk
        |  FROM n CROSS JOIN qs),
        |o AS (SELECT g, v, sum(w)::BIGINT AS wv FROM t GROUP BY g, v),
        |c AS (SELECT g, v, wv,
        |    sum(wv) OVER (PARTITION BY g ORDER BY v)::BIGINT AS cum FROM o)
        |SELECT r.g AS l_returnflag, r.q, c.v AS value
        |FROM r JOIN c ON c.g = r.g AND c.cum >= r.rk AND c.cum - c.wv < r.rk""".stripMargin,
    "q228_cusum" ->
      // the same prefix-minimum unroll of Page's recurrence, window for
      // window; ROWS frames spelled out (event_id is unique, so RANGE
      // would agree — explicit is safer)
      """WITH r AS (
        |  SELECT event_type AS g, ts, event_id,
        |    sum(round(value * 100) - 6000.0) OVER
        |      (PARTITION BY event_type ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS r
        |  FROM events),
        |sc AS (
        |  SELECT g, event_id,
        |    r - least(0.0, min(r) OVER
        |      (PARTITION BY g ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING)) AS score
        |  FROM r)
        |SELECT g AS event_type, event_id, score / 100.0 AS score
        |FROM sc WHERE score > 15000""".stripMargin,
    "q223_quantile_refine" ->
      // q103's oracle verbatim: the refinement loop must land on the
      // same type-1 rank walk regardless of maxFinal
      """WITH t AS (SELECT l_returnflag AS g, l_extendedprice AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT g, count(*) AS n FROM t GROUP BY 1),
        |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q),
        |r AS (SELECT g, q, least(n, greatest(1, ceil(q * n)::BIGINT)) AS rk
        |  FROM n CROSS JOIN qs),
        |o AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM t)
        |SELECT r.g AS l_returnflag, r.q, o.v AS value
        |FROM r JOIN o ON o.g = r.g AND o.rn = r.rk""".stripMargin,
    "q103_quantiles" ->
      // type-1 (discrete) quantile: the value AT rank
      // clamp(ceil(q·n), 1, n) — expressed here as the direct rank walk
      // the engine's histogram refinement provably equals
      """WITH t AS (SELECT l_returnflag AS g, l_extendedprice AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT g, count(*) AS n FROM t GROUP BY 1),
        |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q),
        |r AS (SELECT g, q, least(n, greatest(1, ceil(q * n)::BIGINT)) AS rk
        |  FROM n CROSS JOIN qs),
        |o AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM t)
        |SELECT r.g AS l_returnflag, r.q, o.v AS value
        |FROM r JOIN o ON o.g = r.g AND o.rn = r.rk""".stripMargin,
    "q104_gap_fill" ->
      """WITH obs AS (SELECT user_id, date_trunc('hour', ts) AS slot,
        |    max(value) AS v_obs FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot FROM b),
        |f AS (SELECT g.user_id, g.slot, o.v_obs,
        |    last_value(o.v_obs IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.slot
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |  FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.slot = g.slot)
        |SELECT user_id, count(*)::BIGINT AS n_slots, count(v_obs)::BIGINT AS n_obs,
        |  sum(CASE WHEN v_obs IS NULL AND v_filled IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_filled,
        |  max(CASE WHEN slot = TIMESTAMP '2024-01-15 00:00:00' THEN round(v_filled, 4) END) AS v_probe,
        |  arg_max(round(v_filled, 4), slot) AS v_last
        |FROM f GROUP BY 1""".stripMargin,
    "q105_pii_report" -> {
      def stats(pat: String, tag: String) =
        s"""sum(CASE WHEN len(regexp_extract_all(text, '$pat')) > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_$tag,
           |  sum(len(regexp_extract_all(text, '$pat')))::BIGINT AS n_$tag""".stripMargin
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  ${stats(TextFunctions.EmailPattern, "email")},
         |  ${stats(TextFunctions.UrlPattern, "url")},
         |  ${stats(TextFunctions.LongNumberPattern, "num")}
         |FROM documents GROUP BY 1""".stripMargin
    },
    "q106_fuzzy_pairs" ->
      """WITH d AS (SELECT doc_id, lang || '|' || (n_chars // 64)::VARCHAR AS b,
        |    substr(text, 1, 48) AS p FROM documents),
        |ok AS (SELECT b FROM d GROUP BY 1 HAVING count(*) <= 1000)
        |SELECT a.doc_id AS id_a, x.doc_id AS id_b,
        |  levenshtein(a.p, x.p)::INT AS dist
        |FROM d a JOIN d x ON a.b = x.b AND a.doc_id < x.doc_id
        |JOIN ok ON ok.b = a.b
        |WHERE levenshtein(a.p, x.p) <= 8""".stripMargin,
    "q107_skew_report" ->
      """WITH c AS (SELECT user_id AS key, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
        |t AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS n_keys FROM c)
        |SELECT key AS user_id, cnt,
        |  round(cnt / total, 6) AS share,
        |  round(cnt * n_keys / total, 4) AS skew_factor,
        |  ceil(cnt / 50.0)::BIGINT AS salt_buckets
        |FROM c CROSS JOIN t ORDER BY cnt DESC, key ASC LIMIT 20""".stripMargin,
    "q108_domain_cap" ->
      """SELECT doc_id, source, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY n_chars DESC, doc_id ASC) <= 10""".stripMargin,
    "q109_mad_outliers" ->
      // both medians are the same type-1 rank walk as q103's oracle; the
      // outlier predicate is pure double arithmetic on both engines
      """WITH t AS (SELECT l_returnflag AS g, l_extendedprice AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n1 AS (SELECT g, count(*) AS n FROM t GROUP BY 1),
        |r1 AS (SELECT g, least(n, greatest(1, ceil(0.5::DOUBLE * n)::BIGINT)) AS rk FROM n1),
        |o1 AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM t),
        |med AS (SELECT r1.g, o1.v AS med FROM r1 JOIN o1 ON o1.g = r1.g AND o1.rn = r1.rk),
        |d AS (SELECT t.g, abs(t.v - med.med) AS dv FROM t JOIN med ON med.g = t.g),
        |n2 AS (SELECT g, count(*) AS n FROM d GROUP BY 1),
        |r2 AS (SELECT g, least(n, greatest(1, ceil(0.5::DOUBLE * n)::BIGINT)) AS rk FROM n2),
        |o2 AS (SELECT g, dv, row_number() OVER (PARTITION BY g ORDER BY dv) AS rn FROM d),
        |mad AS (SELECT r2.g, o2.dv AS mad FROM r2 JOIN o2 ON o2.g = r2.g AND o2.rn = r2.rk)
        |SELECT t.g AS l_returnflag, count(*)::BIGINT AS n, max(med.med) AS med,
        |  max(mad.mad) AS mad,
        |  sum(CASE WHEN abs(t.v - med.med) > 2.0::DOUBLE * mad.mad
        |    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM t JOIN med ON med.g = t.g JOIN mad ON mad.g = t.g
        |GROUP BY 1""".stripMargin,
    "q110_sem_contamination" ->
      s"""SELECT a.vec_id AS doc_id, b.vec_id AS bench_id, $duckCos AS cosine
         |FROM embeddings a JOIN embeddings b
         |  ON a.vec_id >= 20 AND b.vec_id < 20
         |WHERE $duckNormA * $duckNormB > 0 AND $duckCos >= 0.3""".stripMargin,
    "q111_transitions" ->
      // gap predicate in floored epoch SECONDS on both engines
      // (unix_timestamp semantics; see the verify-skill parity rules)
      """WITH o AS (SELECT user_id, ts, event_type,
        |    lag(event_type) OVER w AS prev_s, lag(ts) OVER w AS prev_t
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT prev_s AS from_state, event_type AS to_state, count(*)::BIGINT AS n
        |FROM o WHERE prev_s IS NOT NULL
        |  AND epoch_ns(ts) // 1000000000 - epoch_ns(prev_t) // 1000000000 <= 1800
        |GROUP BY 1, 2""".stripMargin,
    "q112_inverted_index" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS term FROM documents)
         |  GROUP BY 1, 2),
         |w AS (SELECT term, doc_id, tf,
         |    count(*) OVER (PARTITION BY term) AS df,
         |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rank
         |  FROM tf)
         |SELECT term, df::BIGINT AS df, doc_id, tf, rank::INT AS rank
         |FROM w WHERE rank <= 3 AND df >= 5""".stripMargin,
    "q113_rate_anomaly" ->
      // exact integer sums (HUGEINT mirrors Spark's DECIMAL(38,0)) feed a
      // fixed double expression — no streaming stddev on either engine
      """WITH c AS (SELECT event_type AS g, hour(ts)::INT AS bucket,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |grid AS (SELECT g, b.bucket FROM (SELECT DISTINCT g FROM c)
        |  CROSS JOIN (SELECT unnest(range(24))::INT AS bucket) b),
        |f AS (SELECT grid.g, grid.bucket, coalesce(c.cnt, 0)::BIGINT AS cnt
        |  FROM grid LEFT JOIN c ON c.g = grid.g AND c.bucket = grid.bucket),
        |st AS (SELECT g, count(*)::BIGINT AS nb, sum(cnt)::BIGINT AS s1,
        |    sum(cnt::HUGEINT * cnt) AS s2 FROM f GROUP BY 1),
        |v AS (SELECT g, s1::DOUBLE / nb AS mean,
        |    (s2::DOUBLE - s1::DOUBLE * s1 / nb) / nb AS variance FROM st)
        |SELECT f.g AS event_type, f.bucket, f.cnt, round(v.mean, 4) AS mean,
        |  round(CASE WHEN v.variance > 0
        |    THEN (f.cnt - v.mean) / sqrt(v.variance) ELSE 0.0 END, 4) + 0.0 AS z
        |FROM f JOIN v ON v.g = f.g""".stripMargin,
    "q115_blocklist" ->
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS term FROM documents)
         |SELECT doc_id, count(*)::BIGINT AS n_hits,
         |  count(DISTINCT term)::BIGINT AS n_terms
         |FROM toks WHERE list_contains(${markers("en")}, term)
         |GROUP BY 1""".stripMargin,
    "q116_winsorize" ->
      // both cuts are the q103 type-1 rank walk
      """WITH t AS (SELECT l_returnflag AS g, l_extendedprice AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT g, count(*) AS n FROM t GROUP BY 1),
        |r AS (SELECT g, n, least(n, greatest(1, ceil(0.05::DOUBLE * n)::BIGINT)) AS rk_lo,
        |    least(n, greatest(1, ceil(0.95::DOUBLE * n)::BIGINT)) AS rk_hi FROM n),
        |o AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM t),
        |c AS (SELECT r.g, r.n, lo.v AS lo_cut, hi.v AS hi_cut FROM r
        |  JOIN o lo ON lo.g = r.g AND lo.rn = r.rk_lo
        |  JOIN o hi ON hi.g = r.g AND hi.rn = r.rk_hi)
        |SELECT t.g AS l_returnflag, c.n::BIGINT AS n, c.lo_cut, c.hi_cut,
        |  sum(CASE WHEN t.v < c.lo_cut THEN 1 ELSE 0 END)::BIGINT AS n_lo,
        |  sum(CASE WHEN t.v > c.hi_cut THEN 1 ELSE 0 END)::BIGINT AS n_hi
        |FROM t JOIN c ON c.g = t.g
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    "q117_funnel" ->
      // step i = earliest event of its type strictly after step i-1,
      // whole funnel within 7 floored-second days of t1 (engine parity:
      // epoch_ns // 1e9 matches Spark's unix_timestamp floor)
      """WITH b AS (SELECT user_id AS k, ts AS t, event_type AS s FROM events),
        |s1 AS (SELECT k, min(t) AS t1 FROM b WHERE s = 'view' GROUP BY 1),
        |s2 AS (SELECT b.k, min(b.t) AS t2 FROM b JOIN s1 ON s1.k = b.k
        |  WHERE b.s = 'click' AND b.t > s1.t1
        |    AND epoch_ns(b.t) // 1000000000 - epoch_ns(s1.t1) // 1000000000 <= 604800
        |  GROUP BY 1),
        |s3 AS (SELECT b.k, min(b.t) AS t3 FROM b JOIN s2 ON s2.k = b.k
        |  JOIN s1 ON s1.k = b.k
        |  WHERE b.s = 'purchase' AND b.t > s2.t2
        |    AND epoch_ns(b.t) // 1000000000 - epoch_ns(s1.t1) // 1000000000 <= 604800
        |  GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1)::BIGINT AS n_step1,
        |  (SELECT count(*) FROM s2)::BIGINT AS n_step2,
        |  (SELECT count(*) FROM s3)::BIGINT AS n_step3""".stripMargin,
    "q118_retention" ->
      """WITH f AS (SELECT user_id AS k, date_trunc('week', min(ts)) AS cohort
        |  FROM events GROUP BY 1),
        |e AS (SELECT b.user_id AS k, f.cohort,
        |    (epoch_ns(date_trunc('week', b.ts)) // 1000000000
        |      - epoch_ns(f.cohort) // 1000000000) // 604800 AS week_offset
        |  FROM events b JOIN f ON f.k = b.user_id)
        |SELECT epoch_ns(cohort) // 1000000000 AS cohort_week, week_offset,
        |  count(DISTINCT k)::BIGINT AS n_users
        |FROM e GROUP BY 1, 2""".stripMargin,
    "q119_psi" ->
      // every float input is forced ::DOUBLE (bare 0.5 is DECIMAL in
      // DuckDB, whose exact arithmetic would diverge from Spark's IEEE);
      // the term uses the UNROUNDED shares, like the Spark side
      """WITH r AS (SELECT least(9, greatest(0,
        |    floor((n_chars::DOUBLE - 0.0::DOUBLE) / 60.0::DOUBLE)::INT)) AS bin
        |  FROM documents WHERE doc_id < 250 AND n_chars IS NOT NULL),
        |rc AS (SELECT bin, count(*)::BIGINT AS n_ref FROM r GROUP BY 1),
        |c AS (SELECT least(9, greatest(0,
        |    floor((n_chars::DOUBLE - 0.0::DOUBLE) / 60.0::DOUBLE)::INT)) AS bin
        |  FROM documents WHERE doc_id >= 250 AND n_chars IS NOT NULL),
        |cc AS (SELECT bin, count(*)::BIGINT AS n_cur FROM c GROUP BY 1),
        |spine AS (SELECT unnest(range(10))::INT AS bin),
        |j AS (SELECT s.bin, coalesce(rc.n_ref, 0)::BIGINT AS n_ref,
        |    coalesce(cc.n_cur, 0)::BIGINT AS n_cur
        |  FROM spine s LEFT JOIN rc ON rc.bin = s.bin LEFT JOIN cc ON cc.bin = s.bin),
        |t AS (SELECT sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur FROM j),
        |e AS (SELECT bin, n_ref, n_cur,
        |    (n_ref::DOUBLE + 0.5::DOUBLE) / (t_ref::DOUBLE + 5.0::DOUBLE) AS p,
        |    (n_cur::DOUBLE + 0.5::DOUBLE) / (t_cur::DOUBLE + 5.0::DOUBLE) AS q
        |  FROM j CROSS JOIN t)
        |SELECT bin, n_ref, n_cur,
        |  round(p, 6) + 0.0 AS p_ref, round(q, 6) + 0.0 AS p_cur,
        |  round((q - p) * ln(q / p), 6) + 0.0 AS term
        |FROM e""".stripMargin,
    "q120_cluster_sizes" ->
      s"""WITH RECURSIVE pairs AS ($duckMinhashPairsSql),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.t FROM reach r JOIN edges e ON r.b = e.s),
         |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |sz AS (SELECT cluster_id, count(*)::BIGINT AS size FROM cl GROUP BY 1)
         |SELECT size, count(*)::BIGINT AS n_clusters FROM sz GROUP BY 1""".stripMargin,
    "q121_coverage_curve" ->
      s"""WITH t AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |vc AS (SELECT term, count(*)::BIGINT AS tf FROM t WHERE doc_id < 250 GROUP BY 1),
         |vr AS (SELECT term, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM vc),
         |v AS (SELECT term, rank FROM vr WHERE rank <= 200),
         |bt AS (SELECT term, count(*)::BIGINT AS tf FROM t WHERE doc_id >= 250 GROUP BY 1),
         |j AS (SELECT bt.term, bt.tf, v.rank FROM bt LEFT JOIN v ON v.term = bt.term),
         |cuts AS (SELECT unnest([25, 50, 100, 200]) AS cut)
         |SELECT cut, sum(tf)::BIGINT AS n_tokens,
         |  sum(CASE WHEN rank IS NULL OR rank > cut THEN tf ELSE 0 END)::BIGINT AS n_oov,
         |  CASE WHEN sum(tf) > 0 THEN round(
         |    sum(CASE WHEN rank IS NULL OR rank > cut THEN tf ELSE 0 END) / sum(tf), 4)
         |    ELSE 0.0 END AS oov_rate
         |FROM j CROSS JOIN cuts GROUP BY cut""".stripMargin,
    "q122_ann_recall" ->
      // truth = the q25 brute-force CTE, approx = the q31 bucket CTE;
      // recall is an exact integer ratio per query
      s"""WITH e AS (SELECT vec_id, embedding, $duckLshBucket AS bucket FROM embeddings),
         |ts AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, $duckCos AS cosine
         |       FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
         |       WHERE a.vec_id < 5),
         |tr AS (SELECT q_id, n_id,
         |       row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk FROM ts),
         |truth AS (SELECT DISTINCT q_id, n_id FROM tr WHERE rk <= 10),
         |aps AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, $duckCos AS cosine
         |       FROM e a JOIN e b ON a.bucket = b.bucket AND b.vec_id != a.vec_id
         |       WHERE a.vec_id < 5),
         |apr AS (SELECT q_id, n_id,
         |       row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk FROM aps),
         |appr AS (SELECT DISTINCT q_id, n_id FROM apr WHERE rk <= 10),
         |g AS (SELECT t.q_id, count(*)::BIGINT AS n_truth,
         |    sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
         |  FROM truth t LEFT JOIN appr a ON a.q_id = t.q_id AND a.n_id = t.n_id
         |  GROUP BY 1)
         |SELECT q_id, n_truth, n_hit, round(n_hit / n_truth, 4) AS recall
         |FROM g""".stripMargin,
    "q123_apply_changes" ->
      """WITH snap AS (SELECT o_orderkey, o_totalprice, o_orderdate AS ver,
        |    'upsert' AS op, 0 AS pri FROM orders),
        |chg AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
        |    o_orderdate + INTERVAL 1 DAY AS ver,
        |    CASE WHEN o_orderkey % 9 = 0 THEN 'delete' ELSE 'upsert' END AS op,
        |    CASE WHEN o_orderkey % 9 = 0 THEN 2 ELSE 1 END AS pri
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |u AS (SELECT * FROM snap UNION ALL SELECT * FROM chg),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY ver DESC, pri DESC) AS rn FROM u)
        |SELECT o_orderkey, o_totalprice,
        |  epoch_ns(ver) // 1000000000 AS ver_s
        |FROM r WHERE rn = 1 AND op != 'delete'""".stripMargin,
    "q138_historize" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_totalprice, o_orderdate AS ver, 'upsert' AS op FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2, o_orderdate + INTERVAL 1 DAY,
        |    CASE WHEN o_orderkey % 9 = 0 THEN 'delete' ELSE 'upsert' END
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |r AS (SELECT *, lead(ver) OVER (PARTITION BY o_orderkey ORDER BY ver) AS vto FROM u)
        |SELECT o_orderkey, o_totalprice,
        |  epoch_ns(ver) // 1000000000 AS valid_from_s,
        |  epoch_ns(vto) // 1000000000 AS valid_to_s,
        |  (vto IS NULL) AS is_current
        |FROM r WHERE op != 'delete'""".stripMargin,
    "q124_sessionize" ->
      """WITH o AS (SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ns(ts) // 1000000000 - epoch_ns(lag(ts) OVER w) // 1000000000 > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
        |FROM o""".stripMargin,
    "q127_asof_tolerance" ->
      // nearest-prior match nulled when older than the 1-hour window —
      // pandas merge_asof(tolerance) semantics
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id AS p_user, ts AS p_ts, max(value) AS p_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |j AS (SELECT l.event_id, l.user_id, l.ts, r.p_ts, r.p_value,
        |        (epoch_ns(l.ts) - epoch_ns(r.p_ts)) // 1000 AS gap
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.p_user AND l.ts >= r.p_ts)
        |SELECT event_id, user_id,
        |  round(coalesce(CASE WHEN p_ts IS NOT NULL AND gap <= 3600000000
        |    THEN p_value END, -1), 4) AS prior_value,
        |  coalesce(CASE WHEN p_ts IS NOT NULL AND gap <= 3600000000
        |    THEN gap END, -1)::BIGINT AS gap_us
        |FROM j""".stripMargin,
    "q128_gap_linear" ->
      """WITH obs AS (SELECT user_id, date_trunc('hour', ts) AS slot,
        |    max(value) AS v_obs FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot FROM b),
        |f AS (SELECT g.user_id, g.slot, o.v_obs
        |  FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.slot = g.slot),
        |w AS (SELECT user_id, slot, v_obs,
        |    last_value(CASE WHEN v_obs IS NOT NULL THEN struct_pack(
        |        t := epoch_ns(slot) // 1000000000, v := v_obs) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY slot
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |    first_value(CASE WHEN v_obs IS NOT NULL THEN struct_pack(
        |        t := epoch_ns(slot) // 1000000000, v := v_obs) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY slot
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
        |  FROM f),
        |i AS (SELECT user_id, slot, v_obs,
        |    CASE WHEN v_obs IS NOT NULL THEN v_obs
        |         WHEN p IS NOT NULL AND n IS NOT NULL THEN
        |           p.v + (n.v - p.v) *
        |             ((epoch_ns(slot) // 1000000000 - p.t)::DOUBLE / (n.t - p.t)::DOUBLE) + 0.0
        |    END AS v_interp
        |  FROM w)
        |SELECT user_id, count(*)::BIGINT AS n_slots, count(v_obs)::BIGINT AS n_obs,
        |  sum(CASE WHEN v_obs IS NULL AND v_interp IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_interp,
        |  max(CASE WHEN slot = TIMESTAMP '2024-01-15 00:00:00' THEN v_interp END) AS v_probe
        |FROM i GROUP BY 1""".stripMargin,
    "q129_audio_windows" ->
      // ASCII payloads: char slicing == byte slicing (same contract the
      // q38 frame oracle relies on); 64-byte windows, 32-byte hop, full
      // windows only, audio modality = doc_id % 3 == 1
      s"""WITH m AS (SELECT doc_id AS media_id, text,
         |    octet_length(encode(text))::BIGINT AS n FROM documents
         |  WHERE doc_id % 3 = 1),
         |w AS (SELECT media_id, text, n,
         |    unnest(range(0, (n - 64) // 32 + 1)) AS wi FROM m WHERE n >= 64)
         |SELECT media_id, wi::BIGINT AS window_idx, (wi * 32)::BIGINT AS start_byte,
         |  (${duckHash48("substr(text, (wi*32 + 1)::INT, 64)")})::BIGINT AS window_hash
         |FROM w""".stripMargin,
    "q130_interval_anti" ->
      // clicks with NO purchase window of the same user covering them —
      // [w_start, w_start + 2h) half-open, mirroring the q56 bounds
      """WITH l AS (SELECT event_id AS click_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |r AS (SELECT user_id AS p_user, ts AS p_ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT click_id, user_id, epoch_ns(ts) // 1000 AS ts_us
        |FROM l WHERE NOT EXISTS (
        |  SELECT 1 FROM r WHERE r.p_user = l.user_id
        |    AND l.ts >= r.p_ts
        |    AND epoch_ns(l.ts) // 1000 < epoch_ns(r.p_ts) // 1000 + 7200000000)""".stripMargin,
    "q131_equi_depth" ->
      // cuts are the q103 type-1 rank walk at k/10; bucket = 1 + |cuts < v|
      """WITH t AS (SELECT l_returnflag AS g, l_extendedprice AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT g, count(*) AS n FROM t GROUP BY 1),
        |qs AS (SELECT unnest([0.1::DOUBLE, 0.2::DOUBLE, 0.3::DOUBLE, 0.4::DOUBLE,
        |    0.5::DOUBLE, 0.6::DOUBLE, 0.7::DOUBLE, 0.8::DOUBLE, 0.9::DOUBLE]) AS q),
        |r AS (SELECT g, q, least(n, greatest(1, ceil(q * n)::BIGINT)) AS rk
        |  FROM n CROSS JOIN qs),
        |o AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM t),
        |cuts AS (SELECT r.g, o.v AS cut FROM r JOIN o ON o.g = r.g AND o.rn = r.rk),
        |tv AS (SELECT g, v, count(*)::BIGINT AS nrows FROM t GROUP BY 1, 2),
        |lbl AS (SELECT tv.g, tv.v, tv.nrows,
        |    1 + sum(CASE WHEN c.cut < tv.v THEN 1 ELSE 0 END) AS bucket
        |  FROM tv JOIN cuts c ON c.g = tv.g GROUP BY tv.g, tv.v, tv.nrows)
        |SELECT g AS l_returnflag, bucket::INT AS bucket, sum(nrows)::BIGINT AS n
        |FROM lbl GROUP BY 1, 2""".stripMargin,
    "q132_kmv_by_day" ->
      s"""WITH h AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
         |    (${duckHash48("user_id::VARCHAR")})::BIGINT AS hv FROM events),
         |r AS (SELECT day, hv,
         |    row_number() OVER (PARTITION BY day ORDER BY hv) AS rn FROM h),
         |top AS (SELECT day, hv FROM r WHERE rn <= 64)
         |SELECT day, count(*)::BIGINT AS k_used, max(hv)::BIGINT AS kth_hash,
         |  (CASE WHEN count(*) < 64 THEN count(*)::BIGINT
         |        ELSE (63::BIGINT << 48) // max(hv) END)::BIGINT AS est_distinct
         |FROM top GROUP BY 1""".stripMargin,
    "q133_volume_trend" ->
      // OLS over exact integer sums; empty days are zero-count rows
      """WITH c AS (SELECT event_type AS g, ts::DATE AS d, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(d) AS d0, max(d) AS d1 FROM c),
        |spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM b),
        |grid AS (SELECT g, s.d FROM (SELECT DISTINCT g FROM c) CROSS JOIN spine s),
        |f AS (SELECT grid.g, (grid.d - b.d0)::BIGINT AS x,
        |    coalesce(c.cnt, 0)::BIGINT AS y
        |  FROM grid LEFT JOIN c ON c.g = grid.g AND c.d = grid.d CROSS JOIN b),
        |s AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sx2 FROM f GROUP BY 1)
        |SELECT g AS event_type, n, sy AS n_events,
        |  round(CASE WHEN n * sx2 - sx * sx > 0 THEN
        |    (n * sxy - sx * sy)::DOUBLE / (n * sx2 - sx * sx)::DOUBLE END, 6) + 0.0
        |    AS slope_per_day
        |FROM s""".stripMargin,
    "q134_compact" ->
      // content must survive the file surgery row-for-row; n_files = 2 =
      // the untouched right-sized file + the one merged replacement (the
      // Spark side measures it with fileStats after compact)
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 2::BIGINT AS n_files
        |FROM supplier""".stripMargin,
    "q136_contamination_spans" ->
      // q39's gram replay, keeping 1-based positions p: n_hits counts doc
      // POSITIONS (no DISTINCT on the doc side), offsets back to 0-based.
      // PER-RUN spans: a gap > 8 bytes between consecutive hit positions
      // starts a new row; minShared=3 screens on the PAIR total.
      s"""WITH m AS ($duckByteView),
         |dg AS (
         |  SELECT doc_id, p, ${duckGramHash("p", 8)} AS h
         |  FROM m, lateral unnest(range(1, greatest(nb - 6, 1))) t(p)),
         |bg AS (
         |  SELECT DISTINCT doc_id AS bench_id, h FROM dg WHERE doc_id < 3),
         |hit AS (SELECT dg.doc_id, bg.bench_id, dg.p FROM dg JOIN bg ON dg.h = bg.h),
         |r0 AS (SELECT doc_id, bench_id, p,
         |    CASE WHEN p - coalesce(lag(p) OVER (PARTITION BY doc_id, bench_id
         |      ORDER BY p), p - 9) > 8 THEN 1 ELSE 0 END AS nw,
         |    count(*) OVER (PARTITION BY doc_id, bench_id) AS pair_hits
         |  FROM hit),
         |r1 AS (SELECT doc_id, bench_id, p, pair_hits,
         |    sum(nw) OVER (PARTITION BY doc_id, bench_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM r0)
         |SELECT doc_id, bench_id, count(*)::BIGINT AS n_hits,
         |  (min(p) - 1)::BIGINT AS first_byte,
         |  (max(p) - 1)::BIGINT AS last_byte
         |FROM r1 WHERE pair_hits >= 3
         |GROUP BY doc_id, bench_id, run""".stripMargin,
    "q137_excise" ->
      // q136's spans (end = last gram start + 8, pad 2) → island merge via
      // the running-max window → rebuild the kept text from the gaps.
      // VARCHAR surgery == the Spark side's byte surgery because the
      // corpus is single-byte (gate-guarded).
      s"""WITH m AS ($duckByteView),
         |dg AS (
         |  SELECT doc_id, p, ${duckGramHash("p", 8)} AS h
         |  FROM m, lateral unnest(range(1, greatest(nb - 6, 1))) t(p)),
         |bg AS (
         |  SELECT DISTINCT doc_id AS bench_id, h FROM dg WHERE doc_id < 3),
         |hit AS (SELECT dg.doc_id, bg.bench_id, dg.p FROM dg JOIN bg ON dg.h = bg.h),
         |r0 AS (SELECT doc_id, bench_id, p,
         |    CASE WHEN p - coalesce(lag(p) OVER (PARTITION BY doc_id, bench_id
         |      ORDER BY p), p - 9) > 8 THEN 1 ELSE 0 END AS nw,
         |    count(*) OVER (PARTITION BY doc_id, bench_id) AS pair_hits
         |  FROM hit),
         |r1 AS (SELECT doc_id, bench_id, p, pair_hits,
         |    sum(nw) OVER (PARTITION BY doc_id, bench_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM r0),
         |sp0 AS (
         |  SELECT doc_id, (min(p) - 1)::BIGINT AS fb, (max(p) - 1)::BIGINT AS lb
         |  FROM r1 WHERE pair_hits >= 3
         |  GROUP BY doc_id, bench_id, run),
         |sp AS (SELECT DISTINCT doc_id, greatest(fb - 2, 0) AS s, lb + 8 + 2 AS e FROM sp0),
         |i0 AS (SELECT doc_id, s, e,
         |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
         |  FROM sp),
         |i1 AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM i0),
         |isl AS (SELECT doc_id, isl, min(s) AS s, max(e) AS e FROM i1 GROUP BY 1, 2),
         |seg AS (SELECT doc_id, s, e,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
         |  FROM isl),
         |cut AS (SELECT seg.doc_id,
         |    string_agg(substr(d.text, (pe + 1)::INT, greatest(s - pe, 0)::INT), ''
         |      ORDER BY s) || substr(any_value(d.text), (max(e) + 1)::INT) AS clean_text,
         |    count(*)::BIGINT AS n_spans
         |  FROM seg JOIN documents d USING (doc_id) GROUP BY seg.doc_id)
         |SELECT d.doc_id,
         |  coalesce(c.clean_text, d.text) AS clean_text,
         |  coalesce(c.n_spans, 0)::BIGINT AS n_spans,
         |  (length(d.text) - length(coalesce(c.clean_text, d.text)))::BIGINT AS n_cut_bytes
         |FROM documents d LEFT JOIN cut c USING (doc_id)""".stripMargin,
    "q139_repeated_excise" ->
      // hot grams = in >= 2 distinct docs; each hit position is an
      // [p-1, p-1+8) span (pad 0), islands merged, text rebuilt from gaps
      s"""WITH m AS ($duckByteView),
         |dg AS (
         |  SELECT doc_id, p, ${duckGramHash("p", 8)} AS h
         |  FROM m, lateral unnest(range(1, greatest(nb - 6, 1))) t(p)),
         |hot AS (SELECT h FROM (
         |  SELECT h, count(DISTINCT doc_id) AS df FROM dg GROUP BY h) WHERE df >= 2),
         |sp AS (SELECT DISTINCT doc_id, (p - 1)::BIGINT AS s, (p - 1 + 8)::BIGINT AS e
         |  FROM dg JOIN hot USING (h)),
         |i0 AS (SELECT doc_id, s, e,
         |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
         |  FROM sp),
         |i1 AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM i0),
         |isl AS (SELECT doc_id, isl, min(s) AS s, max(e) AS e FROM i1 GROUP BY 1, 2),
         |seg AS (SELECT doc_id, s, e,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
         |  FROM isl),
         |cut AS (SELECT seg.doc_id,
         |    string_agg(substr(d.text, (pe + 1)::INT, greatest(s - pe, 0)::INT), ''
         |      ORDER BY s) || substr(any_value(d.text), (max(e) + 1)::INT) AS clean_text,
         |    count(*)::BIGINT AS n_spans
         |  FROM seg JOIN documents d USING (doc_id) GROUP BY seg.doc_id)
         |SELECT d.doc_id,
         |  coalesce(c.clean_text, d.text) AS clean_text,
         |  coalesce(c.n_spans, 0)::BIGINT AS n_spans,
         |  (length(d.text) - length(coalesce(c.clean_text, d.text)))::BIGINT AS n_cut_bytes
         |FROM documents d LEFT JOIN cut c USING (doc_id)""".stripMargin,
    "q98_temperature" ->
      s"""WITH c AS (SELECT lang AS stratum, sum(n_chars)::BIGINT AS n_tokens
         |  FROM documents GROUP BY 1),
         |p AS (SELECT *, pow(n_tokens::DOUBLE, 0.3) AS pw FROM c),
         |t AS (SELECT sum(n_tokens)::BIGINT AS tot, sum(pw) AS totp FROM p)
         |SELECT stratum, n_tokens,
         |  round(n_tokens / tot, 4) AS p_raw,
         |  round(pw / totp, 4) AS p_alpha,
         |  round((pw / totp) / (n_tokens / tot), 4) AS rate
         |FROM p CROSS JOIN t""".stripMargin,
    "q99_embedding_qa" ->
      """WITH m AS (SELECT embedding,
        |  embedding IS NULL AS is_null,
        |  CASE WHEN embedding IS NULL THEN NULL ELSE len(embedding) END AS dim,
        |  CASE WHEN embedding IS NULL THEN NULL
        |       ELSE len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) > 0 END AS bad,
        |  CASE WHEN embedding IS NULL THEN NULL
        |       ELSE sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) END AS nrm
        |  FROM embeddings)
        |SELECT count(*)::BIGINT AS n_vectors,
        |  sum(CASE WHEN is_null THEN 1 ELSE 0 END)::BIGINT AS n_null,
        |  sum(CASE WHEN NOT is_null AND dim != 64 THEN 1 ELSE 0 END)::BIGINT AS n_wrong_dim,
        |  sum(CASE WHEN NOT is_null AND bad THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite,
        |  sum(CASE WHEN NOT is_null AND dim = 64 AND NOT bad AND nrm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
        |  round(min(CASE WHEN NOT is_null AND dim = 64 AND NOT bad THEN nrm END), 4) AS norm_min,
        |  round(avg(CASE WHEN NOT is_null AND dim = 64 AND NOT bad THEN nrm END), 4) AS norm_avg,
        |  round(max(CASE WHEN NOT is_null AND dim = 64 AND NOT bad THEN nrm END), 4) AS norm_max
        |FROM m""".stripMargin,
    "q100_vocab_coverage" ->
      s"""WITH t AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |vc AS (SELECT term, count(*)::BIGINT AS tf FROM t WHERE doc_id < 250 GROUP BY 1),
         |vr AS (SELECT term, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM vc),
         |v AS (SELECT DISTINCT term FROM vr WHERE rank <= 100),
         |dt AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t WHERE doc_id >= 250 GROUP BY 1, 2),
         |pd AS (SELECT dt.doc_id, sum(dt.tf)::BIGINT AS n_tokens,
         |  sum(CASE WHEN v.term IS NULL THEN dt.tf ELSE 0 END)::BIGINT AS n_oov
         |  FROM dt LEFT JOIN v ON dt.term = v.term GROUP BY dt.doc_id)
         |SELECT d.doc_id, coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
         |  coalesce(pd.n_oov, 0)::BIGINT AS n_oov,
         |  CASE WHEN coalesce(pd.n_tokens, 0) > 0
         |       THEN round(pd.n_oov / pd.n_tokens, 4) ELSE 0.0 END AS oov_rate
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |WHERE d.doc_id >= 250""".stripMargin,
    "q47_vocab" ->
      s"""WITH t AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |s AS (SELECT term, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df
         |      FROM t GROUP BY term),
         |r AS (SELECT *, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM s)
         |SELECT term, tf, df, rank::INT AS rank FROM r WHERE rank <= 100""".stripMargin,
    "q48_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |dt AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
         |dfr AS (SELECT term, count(*)::BIGINT AS df FROM dt GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |sc AS (SELECT dt.doc_id, dt.term, dt.tf, dfr.df,
         |  round(dt.tf * ln((n.n_docs + 1.0) / (dfr.df + 1.0)), 4) AS tfidf
         |  FROM dt JOIN dfr USING (term) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf DESC, term) AS rank FROM sc)
         |SELECT doc_id, term, tf, df, tfidf, rank::INT AS rank FROM r WHERE rank <= 3""".stripMargin,
    "q49_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |q AS (SELECT vec_id, mx / 127.0 AS scale,
        |  CASE WHEN mx > 0 THEN list_transform(v, x -> round(x / (mx / 127.0))::BIGINT)
        |       ELSE list_transform(v, x -> 0::BIGINT) END AS qs FROM m)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  list_sum(qs)::BIGINT AS q_sum,
        |  list_sum(list_transform(qs, x -> abs(x)))::BIGINT AS q_l1,
        |  list_max(list_transform(qs, x -> abs(x)))::BIGINT AS q_max
        |FROM q""".stripMargin,
    "q50_surprisal" ->
      s"""WITH t AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |dt AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
         |tc AS (SELECT term, sum(tf)::BIGINT AS cnt FROM dt GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS total FROM tc),
         |pd AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
         |  round(log2((SELECT total FROM tot)) - sum(tf * log2(cnt)) / sum(tf), 4) AS bits_per_token
         |  FROM dt JOIN tc USING (term) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
         |  coalesce(pd.bits_per_token, 0.0) AS bits_per_token
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin,
    "q51_shared_spans" ->
      s"""WITH m AS ($duckByteView),
         |pos AS (
         |  SELECT doc_id, p, ${duckGramHash("p", 8)} AS h
         |  FROM m, lateral unnest(range(1, greatest(nb - 6, 1))) t(p)),
         |w AS (
         |  SELECT doc_id,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
         |    count(h) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
         |  FROM pos),
         |fp AS (SELECT DISTINCT doc_id, fingerprint::BIGINT AS fingerprint FROM w WHERE cnt = 4)
         |SELECT fingerprint, count(*)::BIGINT AS n_docs, min(doc_id) AS first_doc
         |FROM fp GROUP BY fingerprint HAVING count(*) >= 2""".stripMargin,
    "q52_quantized_ann" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx > 0 THEN list_transform(v, x -> round(x / (mx / 127.0))::BIGINT)
        |       ELSE list_transform(v, x -> 0::BIGINT) END AS qs FROM m),
        |n AS (SELECT vec_id, qs,
        |  sqrt(list_sum(list_transform(qs, x -> x * x))::DOUBLE) AS nrm FROM q),
        |s AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |  round(CASE WHEN a.nrm * b.nrm > 0 THEN
        |    list_sum(list_transform(range(1, 65), i -> a.qs[i] * b.qs[i]))::DOUBLE / (a.nrm * b.nrm)
        |    ELSE 0.0 END, 4) AS cosine
        |  FROM n a JOIN n b ON b.vec_id != a.vec_id WHERE a.vec_id < 5),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM s)
        |SELECT q_id, n_id, cosine, rank::INT AS rank FROM r WHERE rank <= 10""".stripMargin,
    "q53_boilerplate" ->
      s"""WITH m AS ($duckByteView),
         |pos AS (
         |  SELECT doc_id, p, ${duckGramHash("p", 8)} AS h
         |  FROM m, lateral unnest(range(1, greatest(nb - 6, 1))) t(p)),
         |w AS (
         |  SELECT doc_id,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
         |    count(h) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
         |  FROM pos),
         |fp AS (SELECT DISTINCT doc_id, fingerprint::BIGINT AS fingerprint FROM w WHERE cnt = 4),
         |c AS (SELECT fingerprint, count(*) AS n_carriers FROM fp GROUP BY 1),
         |pd AS (SELECT doc_id, count(*)::BIGINT AS n_fp,
         |       sum(CASE WHEN n_carriers >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
         |       FROM fp JOIN c USING (fingerprint) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_fp, 0)::BIGINT AS n_fp,
         |  coalesce(n_shared, 0)::BIGINT AS n_shared,
         |  round(coalesce(n_shared, 0)::DOUBLE / greatest(coalesce(n_fp, 0), 1), 4) AS shared_frac
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin,
    "q54_epoch_mix" -> {
      def parts(w: Double): (Int, Int) = {
        val f = math.floor(w).toInt
        val p = math.round((w - f) * 1000).toInt
        if (p == 1000) (f + 1, 0) else (f, p)
      }
      val fl = MixWeights.toSeq.sortBy(_._1)
        .map { case (l, w) => s"WHEN '$l' THEN ${parts(w)._1}" }.mkString(" ")
      val pm = MixWeights.toSeq.sortBy(_._1)
        .map { case (l, w) => s"WHEN '$l' THEN ${parts(w)._2}" }.mkString(" ")
      val (df0, dp0) = parts(0.5)
      s"""WITH b AS (SELECT doc_id, lang,
         |  (CASE lang $fl ELSE $df0 END) +
         |  (CASE WHEN ((${duckHash48("(doc_id::VARCHAR || ':mix-v1')")}) % 1000) <
         |        (CASE lang $pm ELSE $dp0 END) THEN 1 ELSE 0 END) AS copies
         |  FROM documents)
         |SELECT doc_id, lang AS stratum, unnest(range(0, copies))::INT AS copy_idx
         |FROM b WHERE copies > 0""".stripMargin
    },
    "q69_bigram_surprisal" ->
      // counts partition on the SAME 48-bit hash of the bigram/prefix
      // strings the engine uses (narrow window keys) — identical values,
      // including under a (vanishingly rare) shared hash collision
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |bg AS (SELECT doc_id, toks[i] AS pre, toks[i] || ' ' || toks[i + 1] AS b
         |       FROM t, lateral unnest(range(1, greatest(len(toks), 1))) u(i)
         |       WHERE i < len(toks)),
         |hbg AS (SELECT doc_id, ${duckHash48("pre")} AS hp, ${duckHash48("b")} AS hb FROM bg),
         |c AS (SELECT doc_id,
         |             count(*) OVER (PARTITION BY hb) AS cb,
         |             count(*) OVER (PARTITION BY hp) AS cp FROM hbg),
         |p AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |             round(sum(log2(cp) - log2(cb)) / count(*), 4) AS bits_per_bigram
         |      FROM c GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
         |  coalesce(p.bits_per_bigram, 0.0) AS bits_per_bigram
         |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id""".stripMargin,
    "q70_pmi_collocations" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
         |       FROM t, lateral unnest(range(1, greatest(len(toks), 1))) u(i)
         |       WHERE i < len(toks)),
         |c AS (SELECT w1, w2, count(*)::BIGINT AS n_pair FROM bg GROUP BY 1, 2),
         |m AS (SELECT *, sum(n_pair) OVER (PARTITION BY w1) AS n_left,
         |               sum(n_pair) OVER (PARTITION BY w2) AS n_right,
         |               sum(n_pair) OVER () AS n_total FROM c)
         |SELECT w1 || ' ' || w2 AS bigram, n_pair,
         |  round(log2(n_pair::DOUBLE) + log2(n_total::DOUBLE)
         |        - log2(n_left::DOUBLE) - log2(n_right::DOUBLE), 4) AS pmi
         |FROM m WHERE n_pair >= 5
         |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,
    "q71_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         |  THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
         |  ELSE [] END AS shingles FROM t),
         |g AS (SELECT DISTINCT doc_id, ${duckHash48("s")} AS g
         |      FROM sh, lateral unnest(shingles) u(s)),
         |sp AS (SELECT doc_id,
         |  ((${duckHash48("(doc_id::VARCHAR || ':split-v1')")}) % 100)::BIGINT AS bucket
         |  FROM documents),
         |ref AS (SELECT DISTINCT g.g FROM g JOIN sp USING (doc_id) WHERE sp.bucket >= 10),
         |tg AS (SELECT g.doc_id, g.g FROM g JOIN sp USING (doc_id) WHERE sp.bucket < 5),
         |cov AS (SELECT tg.doc_id, count(*)::BIGINT AS n_grams, count(ref.g)::BIGINT AS n_seen
         |        FROM tg LEFT JOIN ref ON tg.g = ref.g GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(cov.n_grams, 0)::BIGINT AS n_grams,
         |  coalesce(cov.n_seen, 0)::BIGINT AS n_seen,
         |  round(coalesce(cov.n_seen, 0)::DOUBLE / greatest(coalesce(cov.n_grams, 0), 1), 4) AS seen_frac
         |FROM documents d JOIN sp ON d.doc_id = sp.doc_id AND sp.bucket < 5
         |LEFT JOIN cov ON d.doc_id = cov.doc_id""".stripMargin,
    "q72_source_overlap" ->
      s"""WITH pairs AS ($duckMinhashPairsSql),
         |s AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS source_a,
         |       greatest(a.source, b.source) AS source_b,
         |       count(*)::BIGINT AS n_pairs
         |FROM pairs JOIN s a ON pairs.doc_a = a.doc_id
         |           JOIN s b ON pairs.doc_b = b.doc_id
         |GROUP BY 1, 2""".stripMargin,
    "q73_normalized_dedup" ->
      """SELECT md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[\x00-\x08\x0e-\x1f\x7f]', '', 'g'),
        |    '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS content_hash,
        |  min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "q74_containment" ->
      s"""WITH pairs AS ($duckMinhashPairsSql),
         |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         |  THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
         |  ELSE [] END AS shingles FROM t),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(shingles, s -> ${duckHash48("s")})) AS grams FROM sh)
         |SELECT p.doc_a, p.doc_b,
         |  len(list_intersect(a.grams, b.grams))::BIGINT AS n_common,
         |  round(CASE WHEN len(a.grams) > 0
         |    THEN len(list_intersect(a.grams, b.grams))::DOUBLE / len(a.grams) ELSE 0.0 END, 4)
         |    AS containment_a,
         |  round(CASE WHEN len(b.grams) > 0
         |    THEN len(list_intersect(a.grams, b.grams))::DOUBLE / len(b.grams) ELSE 0.0 END, 4)
         |    AS containment_b
         |FROM pairs p JOIN g a ON p.doc_a = a.doc_id
         |             JOIN g b ON p.doc_b = b.doc_id""".stripMargin,
    "q76_cluster_profile" ->
      s"""WITH $duckIvfAssignedCtes,
         |best AS (SELECT vec_id, embedding, cell, score FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM sc)
         |  WHERE rn = 1),
         |r AS (SELECT b.cell, e.label,
         |  CASE WHEN sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))) > 0
         |    THEN b.score / sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))
         |    ELSE 0.0 END AS cos
         |  FROM best b JOIN embeddings e ON e.vec_id = b.vec_id),
         |g AS (SELECT cell, label, count(*)::BIGINT AS n, sum(cos) AS sc2 FROM r GROUP BY 1, 2),
         |w1 AS (SELECT cell, label, n, sc2,
         |  sum(n) OVER (PARTITION BY cell) AS n_vecs,
         |  sum(sc2) OVER (PARTITION BY cell) AS sum_cos,
         |  row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rn,
         |  sum(n) OVER () AS total FROM g),
         |w2 AS (SELECT *,
         |  sum(-(n::DOUBLE / n_vecs) * ln(n::DOUBLE / n_vecs)) OVER (PARTITION BY cell) AS ent
         |  FROM w1)
         |SELECT cell, n_vecs::BIGINT AS n_vecs,
         |  round(n_vecs::DOUBLE / total, 4) AS share,
         |  round(sum_cos / n_vecs, 4) AS avg_cos,
         |  label AS top_label,
         |  round(n::DOUBLE / n_vecs, 4) AS top_share,
         |  round(ent + 0.0, 4) AS label_entropy
         |FROM w2 WHERE rn = 1""".stripMargin,
    "q77_quality_funnel" ->
      s"""WITH t AS (SELECT text, len(text)::DOUBLE AS n_chars, $duckToks AS toks FROM documents),
         |s AS (SELECT text, n_chars, len(toks)::DOUBLE AS n_toks,
         |  len(list_distinct(toks))::DOUBLE AS n_distinct,
         |  len(list_filter(toks, x -> list_contains(${markers("en")}, x)))::DOUBLE AS s_en,
         |  len(list_filter(toks, x -> list_contains(${markers("fr")}, x)))::DOUBLE AS s_fr,
         |  len(list_filter(toks, x -> list_contains(${markers("es")}, x)))::DOUBLE AS s_es,
         |  len(list_filter(toks, x -> list_contains(${markers("de")}, x)))::DOUBLE AS s_de
         | FROM t),
         |l AS (SELECT *, CASE
         |  WHEN len(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) * 5 > len(text) THEN 'zh'
         |  WHEN s_en = 0 AND s_fr = 0 AND s_es = 0 AND s_de = 0 THEN 'und'
         |  WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
         |  WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
         |  WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS lang_pred FROM s),
         |f AS (SELECT
         |  CASE WHEN n_toks < 30 THEN 1 ELSE 0 END AS too_short,
         |  CASE WHEN n_toks > 90 THEN 1 ELSE 0 END AS too_long,
         |  CASE WHEN (CASE WHEN n_toks > 0 THEN (n_chars - (n_toks - 1)) / n_toks ELSE 0.0 END) < 4.2
         |         OR (CASE WHEN n_toks > 0 THEN (n_chars - (n_toks - 1)) / n_toks ELSE 0.0 END) > 4.8
         |       THEN 1 ELSE 0 END AS word_length,
         |  CASE WHEN lang_pred != 'en' THEN 1 ELSE 0 END AS non_english,
         |  CASE WHEN (CASE WHEN n_toks > 0 THEN s_en / n_toks ELSE 0.0 END) < 0.02 THEN 1 ELSE 0 END AS low_stopword,
         |  CASE WHEN (CASE WHEN n_toks > 0 THEN 1.0 - n_distinct / n_toks ELSE 0.0 END) > 0.6 THEN 1 ELSE 0 END AS repetitive
         | FROM l),
         |a AS (SELECT count(*)::DOUBLE AS total,
         |  sum(too_short)::BIGINT AS too_short, sum(too_long)::BIGINT AS too_long,
         |  sum(word_length)::BIGINT AS word_length, sum(non_english)::BIGINT AS non_english,
         |  sum(low_stopword)::BIGINT AS low_stopword, sum(repetitive)::BIGINT AS repetitive,
         |  sum(greatest(too_short, too_long, word_length, non_english, low_stopword, repetitive))::BIGINT AS any_rule
         | FROM f)
         |SELECT 'too_short' AS rule, too_short AS n_docs, round(too_short / total, 4) AS share FROM a
         |UNION ALL SELECT 'too_long', too_long, round(too_long / total, 4) FROM a
         |UNION ALL SELECT 'word_length', word_length, round(word_length / total, 4) FROM a
         |UNION ALL SELECT 'non_english', non_english, round(non_english / total, 4) FROM a
         |UNION ALL SELECT 'low_stopword', low_stopword, round(low_stopword / total, 4) FROM a
         |UNION ALL SELECT 'repetitive', repetitive, round(repetitive / total, 4) FROM a
         |UNION ALL SELECT 'any_rule', any_rule, round(any_rule / total, 4) FROM a
         |UNION ALL SELECT 'pass_all', total::BIGINT - any_rule, round((total - any_rule) / total, 4) FROM a""".stripMargin,
    "q95_funnel_by_source" ->
      s"""WITH t AS (SELECT source, text, len(text)::DOUBLE AS n_chars, $duckToks AS toks FROM documents),
         |s AS (SELECT source, text, n_chars, len(toks)::DOUBLE AS n_toks,
         |  len(list_distinct(toks))::DOUBLE AS n_distinct,
         |  len(list_filter(toks, x -> list_contains(${markers("en")}, x)))::DOUBLE AS s_en,
         |  len(list_filter(toks, x -> list_contains(${markers("fr")}, x)))::DOUBLE AS s_fr,
         |  len(list_filter(toks, x -> list_contains(${markers("es")}, x)))::DOUBLE AS s_es,
         |  len(list_filter(toks, x -> list_contains(${markers("de")}, x)))::DOUBLE AS s_de
         | FROM t),
         |l AS (SELECT *, CASE
         |  WHEN len(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) * 5 > len(text) THEN 'zh'
         |  WHEN s_en = 0 AND s_fr = 0 AND s_es = 0 AND s_de = 0 THEN 'und'
         |  WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
         |  WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
         |  WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS lang_pred FROM s),
         |f AS (SELECT source,
         |  CASE WHEN n_toks < 30 THEN 1 ELSE 0 END AS too_short,
         |  CASE WHEN n_toks > 90 THEN 1 ELSE 0 END AS too_long,
         |  CASE WHEN (CASE WHEN n_toks > 0 THEN (n_chars - (n_toks - 1)) / n_toks ELSE 0.0 END) < 4.2
         |         OR (CASE WHEN n_toks > 0 THEN (n_chars - (n_toks - 1)) / n_toks ELSE 0.0 END) > 4.8
         |       THEN 1 ELSE 0 END AS word_length,
         |  CASE WHEN lang_pred != 'en' THEN 1 ELSE 0 END AS non_english,
         |  CASE WHEN (CASE WHEN n_toks > 0 THEN s_en / n_toks ELSE 0.0 END) < 0.02 THEN 1 ELSE 0 END AS low_stopword,
         |  CASE WHEN (CASE WHEN n_toks > 0 THEN 1.0 - n_distinct / n_toks ELSE 0.0 END) > 0.6 THEN 1 ELSE 0 END AS repetitive
         | FROM l),
         |a AS (SELECT source, count(*)::DOUBLE AS total,
         |  sum(too_short)::BIGINT AS too_short, sum(too_long)::BIGINT AS too_long,
         |  sum(word_length)::BIGINT AS word_length, sum(non_english)::BIGINT AS non_english,
         |  sum(low_stopword)::BIGINT AS low_stopword, sum(repetitive)::BIGINT AS repetitive,
         |  sum(greatest(too_short, too_long, word_length, non_english, low_stopword, repetitive))::BIGINT AS any_rule
         | FROM f GROUP BY source)
         |SELECT source, 'too_short' AS rule, too_short AS n_docs, round(too_short / total, 4) AS share FROM a
         |UNION ALL SELECT source, 'too_long', too_long, round(too_long / total, 4) FROM a
         |UNION ALL SELECT source, 'word_length', word_length, round(word_length / total, 4) FROM a
         |UNION ALL SELECT source, 'non_english', non_english, round(non_english / total, 4) FROM a
         |UNION ALL SELECT source, 'low_stopword', low_stopword, round(low_stopword / total, 4) FROM a
         |UNION ALL SELECT source, 'repetitive', repetitive, round(repetitive / total, 4) FROM a
         |UNION ALL SELECT source, 'any_rule', any_rule, round(any_rule / total, 4) FROM a
         |UNION ALL SELECT source, 'pass_all', total::BIGINT - any_rule, round((total - any_rule) / total, 4) FROM a""".stripMargin,
    "q79_cluster_split" ->
      s"""WITH RECURSIVE pairs AS ($duckMinhashPairsSql),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.t FROM reach r JOIN edges e ON r.b = e.s),
         |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |b AS (SELECT doc_id, cluster_id,
         |  ((${duckHash48("(cluster_id::VARCHAR || ':cluster-split-v1')")}) % 100)::BIGINT AS bucket
         |  FROM cl)
         |SELECT doc_id, cluster_id, bucket,
         |  CASE WHEN bucket < 5 THEN 'test' WHEN bucket < 10 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM b""".stripMargin,
    "q81_version_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS oh FROM documents
        |           WHERE doc_id % 7 != 3),
        |n AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN md5(text || ' [rev2]')
        |       ELSE md5(text) END AS nh
        |  FROM documents WHERE doc_id % 11 != 5)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN oh != nh THEN 'modified' ELSE 'unchanged' END AS status
        |FROM o FULL JOIN n ON o.doc_id = n.doc_id""".stripMargin,
    "q82_mix_plan" ->
      s"""WITH t AS (SELECT lang, len($duckToks)::BIGINT AS toks FROM documents),
         |g AS (SELECT lang AS stratum, count(*)::BIGINT AS n_docs,
         |  sum(toks)::BIGINT AS n_tokens FROM t GROUP BY 1),
         |k AS (SELECT * FROM (VALUES ('en'), ('zh'), ('fr')) AS v(stratum)),
         |a AS (SELECT coalesce(g.stratum, k.stratum) AS stratum,
         |  coalesce(n_docs, 0)::BIGINT AS n_docs,
         |  coalesce(n_tokens, 0)::BIGINT AS n_tokens
         |  FROM g FULL JOIN k ON g.stratum = k.stratum),
         |w AS (SELECT a.*,
         |  (CASE stratum WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2
         |                WHEN 'fr' THEN 0.3 ELSE 0.0 END)::DOUBLE AS tgt_share
         |  FROM a),
         |tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens,
         |  coalesce(min(CASE WHEN tgt_share > 0 THEN n_tokens / tgt_share END), 0.0)
         |    AS t_max FROM w)
         |SELECT stratum, n_docs, n_tokens,
         |  round(CASE WHEN total_tokens > 0 THEN n_tokens / total_tokens
         |        ELSE 0.0 END, 6) AS cur_share,
         |  round(tgt_share, 6) AS tgt_share,
         |  round(CASE WHEN tgt_share > 0 AND n_tokens > 0
         |        THEN tgt_share * t_max / n_tokens ELSE 0.0 END, 6) AS keep_rate,
         |  round(CASE WHEN tgt_share > 0 THEN tgt_share * t_max ELSE 0.0 END, 4)
         |    AS kept_tokens
         |FROM w CROSS JOIN tot""".stripMargin,
    "q84_source_divergence" ->
      s"""WITH t AS (SELECT source, $duckToks AS toks FROM documents),
         |u AS (SELECT source, term FROM t, lateral unnest(toks) AS z(term)),
         |c AS (SELECT source, term, count(*)::BIGINT AS n_st FROM u GROUP BY 1, 2),
         |m AS (SELECT *, sum(n_st) OVER (PARTITION BY term) AS n_t,
         |               sum(n_st) OVER (PARTITION BY source) AS n_s,
         |               sum(n_st) OVER () AS n_total FROM c)
         |SELECT source, max(n_s)::BIGINT AS n_tokens,
         |  round(sum(n_st::DOUBLE / n_s::DOUBLE *
         |    (log2(n_st::DOUBLE) + log2(n_total::DOUBLE)
         |     - log2(n_s::DOUBLE) - log2(n_t::DOUBLE))), 4) AS kl_bits
         |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q88_weighted_sample" ->
      s"""WITH b AS (SELECT doc_id, (n_chars + 1)::BIGINT AS weight,
         |  ((${duckHash48("(doc_id::VARCHAR || ':ws-v1')")}) + 1)::DOUBLE
         |    / 281474976710656.0 AS u
         |  FROM documents)
         |SELECT doc_id, weight, round(-ln(u) / weight::DOUBLE, 10) AS key
         |FROM b WHERE weight > 0
         |ORDER BY key, doc_id LIMIT 100""".stripMargin,
    "q89_stratified_weighted" ->
      s"""WITH b AS (SELECT doc_id, lang AS stratum, (n_chars + 1)::BIGINT AS weight,
         |  ((${duckHash48("(doc_id::VARCHAR || ':ws-v1')")}) + 1)::DOUBLE
         |    / 281474976710656.0 AS u
         |  FROM documents),
         |r AS (SELECT doc_id, stratum, weight,
         |  round(-ln(u) / weight::DOUBLE, 10) AS key,
         |  row_number() OVER (PARTITION BY stratum
         |    ORDER BY round(-ln(u) / weight::DOUBLE, 10), doc_id) AS rank
         |  FROM b WHERE weight > 0)
         |SELECT doc_id, stratum, weight, key, rank::INT AS rank
         |FROM r WHERE rank <= 20""".stripMargin,
    "q90_importance" ->
      s"""WITH t AS (SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS tgt,
         |  unnest($duckToks) AS term FROM documents),
         |dt AS (SELECT doc_id, tgt, term, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2, 3),
         |w AS (SELECT *, sum(tf) OVER (PARTITION BY term) AS cnt_raw,
         |  sum(tf * tgt) OVER (PARTITION BY term) AS cnt_tgt FROM dt),
         |tot AS (SELECT sum(tf)::BIGINT AS t_raw, sum(tf * tgt)::BIGINT AS t_tgt FROM dt),
         |pd AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
         |  round(sum(tf * (CASE WHEN (SELECT t_tgt FROM tot) > 0 THEN
         |    log2((1.0 - 0.9) + 0.9 * (cnt_tgt::DOUBLE * (SELECT t_raw FROM tot)::DOUBLE)
         |      / (cnt_raw::DOUBLE * (SELECT t_tgt FROM tot)::DOUBLE))
         |    ELSE 0.0 END)) / sum(tf), 4) + 0.0 AS log_ratio
         |  FROM w GROUP BY doc_id),
         |b AS (SELECT d.doc_id, coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
         |  coalesce(pd.log_ratio, 0.0) AS log_ratio,
         |  ((${duckHash48("(d.doc_id::VARCHAR || ':dsir-v1')")}) + 1)::DOUBLE
         |    / 281474976710656.0 AS u
         |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id)
         |SELECT doc_id, n_tokens, log_ratio,
         |  round(ln(-ln(u)) - log_ratio * 0.6931471805599453, 8) AS key
         |FROM b ORDER BY key, doc_id LIMIT 120""".stripMargin,
    "q91_semantic_dedup" ->
      s"""WITH RECURSIVE $duckIvfAssignedCtes,
         |nr AS (SELECT vec_id, cell, embedding,
         |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |  FROM assigned),
         |bs AS (SELECT vec_id, max(score) AS best FROM sc GROUP BY vec_id),
         |p AS (SELECT a.vec_id AS s, b.vec_id AS t FROM nr a JOIN nr b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(CASE WHEN a.nrm * b.nrm > 0 THEN
         |    list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         |    / (a.nrm * b.nrm) ELSE 0.0 END, 4) >= 0.35),
         |edges AS (SELECT s, t FROM p UNION ALL SELECT t, s FROM p),
         |reach(a, b) AS (
         |  SELECT vec_id, vec_id FROM assigned
         |  UNION
         |  SELECT r.a, e.t FROM reach r JOIN edges e ON r.b = e.s),
         |cl AS (SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |sr AS (SELECT nr.vec_id, nr.cell, cl.cluster_id,
         |  round(CASE WHEN nr.nrm > 0 THEN bs.best / nr.nrm ELSE 0.0 END, 4) AS cos_centroid
         |  FROM nr JOIN cl USING (vec_id) JOIN bs USING (vec_id)),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |  ORDER BY cos_centroid ASC, vec_id) AS rn FROM sr)
         |SELECT vec_id, cell, cluster_id, cos_centroid, (rn = 1)::INT AS keep
         |FROM rk""".stripMargin,
    "q92_bpe_pairs" ->
      s"""WITH t AS (SELECT unnest($duckToks) AS word FROM documents),
         |w AS (SELECT word, count(*)::BIGINT AS freq FROM t GROUP BY 1),
         |p AS (SELECT substr(word, i::INT, 1) AS lhs, substr(word, (i + 1)::INT, 1) AS rhs, freq
         |  FROM w, lateral unnest(range(1, len(word))) u(i) WHERE len(word) >= 2),
         |g AS (SELECT lhs, rhs, sum(freq)::BIGINT AS cnt FROM p GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, lhs, rhs) AS rank FROM g)
         |SELECT lhs, rhs, cnt, rank::INT AS rank FROM r WHERE rank <= 50""".stripMargin,
    "q93_byte_entropy" ->
      s"""WITH m AS ($duckByteView),
         |b AS (SELECT doc_id, nb, ${duckByteAt("i")} AS bv
         |  FROM m, lateral unnest(range(1, nb + 1)) t(i)),
         |c AS (SELECT doc_id, nb, bv, count(*)::BIGINT AS c FROM b GROUP BY 1, 2, 3),
         |e AS (SELECT doc_id, max(nb) AS n_bytes,
         |  round(log2(max(nb)::DOUBLE) - sum(c::DOUBLE * log2(c::DOUBLE)) / max(nb), 4) + 0.0
         |    AS entropy_bits
         |  FROM c GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(e.n_bytes, 0)::BIGINT AS n_bytes,
         |  coalesce(e.entropy_bits, 0.0) AS entropy_bits
         |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id""".stripMargin,
    "q94_zipf" ->
      s"""WITH t AS (SELECT unnest($duckToks) AS term FROM documents),
         |s AS (SELECT term, count(*)::BIGINT AS tf FROM t GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM s),
         |p AS (SELECT log2(rank::DOUBLE) AS x, log2(tf::DOUBLE) AS y FROM r WHERE rank <= 200),
         |a AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
         |  sum(x * y) AS sxy, sum(x * x) AS sx2 FROM p)
         |SELECT n AS n_terms,
         |  CASE WHEN n * sx2 - sx * sx > 0 THEN
         |    round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 4) + 0.0 END AS slope,
         |  CASE WHEN n * sx2 - sx * sx > 0 THEN
         |    round((sy - ((n * sxy - sx * sy) / (n * sx2 - sx * sx)) * sx) / n, 4) + 0.0
         |  END AS intercept
         |FROM a""".stripMargin,
    "q85_drop_seen" ->
      """WITH idx AS (SELECT DISTINCT md5(text) AS h
        |             FROM documents WHERE doc_id < 250)
        |SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id >= 250
        |  AND md5(d.text) NOT IN (SELECT h FROM idx)""".stripMargin,
    "q68_epoch_order" -> {
      def parts(w: Double): (Int, Int) = {
        val f = math.floor(w).toInt
        val p = math.round((w - f) * 1000).toInt
        if (p == 1000) (f + 1, 0) else (f, p)
      }
      val fl = MixWeights.toSeq.sortBy(_._1)
        .map { case (l, w) => s"WHEN '$l' THEN ${parts(w)._1}" }.mkString(" ")
      val pm = MixWeights.toSeq.sortBy(_._1)
        .map { case (l, w) => s"WHEN '$l' THEN ${parts(w)._2}" }.mkString(" ")
      val (df0, dp0) = parts(0.5)
      s"""WITH b AS (SELECT doc_id, lang,
         |  (CASE lang $fl ELSE $df0 END) +
         |  (CASE WHEN ((${duckHash48("(doc_id::VARCHAR || ':mix-v1')")}) % 1000) <
         |        (CASE lang $pm ELSE $dp0 END) THEN 1 ELSE 0 END) AS copies
         |  FROM documents),
         |m AS (SELECT doc_id, lang AS stratum, unnest(range(0, copies))::INT AS copy_idx
         |      FROM b WHERE copies > 0),
         |k AS (SELECT *,
         |  doc_id::VARCHAR || '#' || copy_idx::VARCHAR AS ck,
         |  (${duckHash48("(doc_id::VARCHAR || '#' || copy_idx::VARCHAR || ':order-v1')")}) AS sort_key
         |  FROM m)
         |SELECT doc_id, stratum, copy_idx,
         |  row_number() OVER (ORDER BY sort_key, ck) AS global_pos
         |FROM k""".stripMargin
    },
    // DuckDB's native ASOF JOIN is the oracle for the union-and-carry form;
    // -1 sentinels stand in for the no-prior-purchase nulls so the compare
    // never depends on engine null/dtype coercion
    "q55_asof" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id AS p_user, ts AS p_ts, max(value) AS p_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |  round(coalesce(r.p_value, -1), 4) AS prior_value,
        |  coalesce((epoch_ns(l.ts) - epoch_ns(r.p_ts)) // 1000, -1)::BIGINT AS gap_us
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.p_user AND l.ts >= r.p_ts""".stripMargin,
    "q56_interval" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS w_start
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id, c.user_id,
        |  ((epoch_ns(c.ts) - epoch_ns(p.w_start)) // 1000)::BIGINT AS gap_us
        |FROM c JOIN p ON c.user_id = p.p_user
        |  AND c.ts >= p.w_start AND c.ts < p.w_start + INTERVAL 2 HOUR""".stripMargin,
    "q57_kmv_sketch" ->
      s"""WITH t AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |h AS (SELECT DISTINCT (${duckHash48("(doc_id::VARCHAR || ':' || term)")})::BIGINT AS hv FROM t),
         |top AS (SELECT hv FROM h ORDER BY hv LIMIT 256)
         |SELECT count(*)::BIGINT AS k_used, max(hv)::BIGINT AS kth_hash,
         |  (CASE WHEN count(*) < 256 THEN count(*)::BIGINT
         |        ELSE (255::BIGINT << 48) // max(hv) END)::BIGINT AS est_distinct
         |FROM top""".stripMargin,
    "q58_token_budget" -> {
      val budgetCase = TokenBudgets.toSeq.sortBy(_._1)
        .map { case (l, b) => s"WHEN '$l' THEN $b" }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, len($duckToks)::BIGINT AS n_tokens,
         |  ${duckHash48("(doc_id::VARCHAR || ':budget-v1')")} AS sort_key FROM documents),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
         |        ORDER BY sort_key, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         |SELECT doc_id, lang AS stratum, n_tokens, cum::BIGINT AS cum_tokens
         |FROM c WHERE cum <= (CASE lang $budgetCase ELSE 2500 END)""".stripMargin
    },
    "q62_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($duckMinhashPairsSql),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.t FROM reach r JOIN edges e ON r.b = e.s),
         |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |t AS (SELECT doc_id, len(text)::DOUBLE AS n_chars,
         |  len($duckToks)::DOUBLE AS n_toks,
         |  len(list_filter($duckToks, x -> list_contains(${markers("en")}, x)))::DOUBLE AS n_stop,
         |  len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE AS n_punct
         | FROM documents),
         |q AS (SELECT doc_id, round(
         |   least(n_chars / 400.0, 1.0) * 0.3
         |   + (CASE WHEN n_toks > 0 AND (n_chars - (n_toks - 1)) / n_toks BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) * 0.2
         |   + greatest(1.0 - (n_punct / greatest(n_chars, 1.0)) * 5, 0.0) * 0.25
         |   + (CASE WHEN n_stop / greatest(n_toks, 1.0) > 0.01 AND n_stop / greatest(n_toks, 1.0) < 0.5 THEN 1.0 ELSE 0.5 END) * 0.25
         | , 5) AS quality FROM t),
         |ranked AS (SELECT cl.doc_id, cl.cluster_id, q.quality,
         |  row_number() OVER (PARTITION BY cl.cluster_id ORDER BY q.quality DESC, cl.doc_id) AS rn
         |  FROM cl JOIN q ON cl.doc_id = q.doc_id)
         |SELECT doc_id AS keep_id, cluster_id, quality FROM ranked WHERE rn = 1""".stripMargin,
    "q61_normalize" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x08\x0e-\x1f\x7f]', '', 'g'),
        |       '[ \t\n\x0b\f\r]+', ' ', 'g')) AS norm FROM documents)
        |SELECT doc_id, length(norm)::BIGINT AS norm_len, md5(norm) AS norm_hash FROM n""".stripMargin,
    "q60_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
        |r AS (SELECT user_id AS p_user, ts AS p_ts, max(value) AS p_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |  round(coalesce(r.p_value, -1), 4) AS next_value,
        |  coalesce((epoch_ns(r.p_ts) - epoch_ns(l.ts)) // 1000, -1)::BIGINT AS wait_us
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.p_user AND l.ts <= r.p_ts""".stripMargin,
    "q59_length_histogram" ->
      s"""WITH m AS (SELECT (len($duckToks) // 10) * 10 AS bin_lo FROM documents),
         |b AS (SELECT bin_lo::BIGINT AS bin_lo, count(*)::BIGINT AS n_docs FROM m
         |      WHERE bin_lo IS NOT NULL GROUP BY 1)
         |SELECT bin_lo, n_docs,
         |  round(sum(n_docs) OVER (ORDER BY bin_lo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        / (SELECT sum(n_docs) FROM b), 6) AS cum_frac
         |FROM b""".stripMargin,
    "q66_incremental_pairs" ->
      s"""$duckBandedCte
         |SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS indexed_id
         |FROM banded n JOIN banded o
         |  ON n.band = o.band AND n.band_key = o.band_key
         |WHERE n.doc_id >= 250 AND o.doc_id < 250""".stripMargin,
    "q67_minhash_estimate" ->
      s"""$duckBandedCte,
         |pairsq AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
         |SELECT p.doc_a, p.doc_b,
         |  round(list_sum([CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END
         |                  for j in range(1, 13)]) / 12.0, 4) AS est_jaccard
         |FROM pairsq p
         |JOIN sigs sa ON sa.doc_id = p.doc_a
         |JOIN sigs sb ON sb.doc_id = p.doc_b""".stripMargin,
    "q65_seg_dedup" -> {
      val h = duckHash48("seg")
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS segs FROM documents),
         |s AS (SELECT doc_id, i AS pos, segs[i] AS seg
         |      FROM t, lateral unnest(range(1, len(segs) + 1)) u(i)),
         |keys AS (SELECT doc_id, ($h) AS sk FROM s),
         |shared AS (SELECT sk FROM (
         |    SELECT sk, count(DISTINCT doc_id) AS nd FROM keys GROUP BY 1) WHERE nd >= 300),
         |kept AS (SELECT s.doc_id, s.pos, s.seg FROM s
         |         WHERE ($h) NOT IN (SELECT sk FROM shared)),
         |r AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |             string_agg(seg, ' ' ORDER BY pos) AS text_deduped
         |      FROM kept GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE coalesce(r.text_deduped, '') END AS text_deduped,
         |  len(string_split(d.text, ' '))::BIGINT AS n_segments,
         |  coalesce(r.n_kept, 0)::BIGINT AS n_kept
         |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id""".stripMargin
    },
    "q35_repetition" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |base AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |                len(list_distinct(toks))::BIGINT AS n_distinct, toks FROM t),
         |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS b
         |       FROM t, lateral unnest(range(1, greatest(len(toks), 1))) u(i)
         |       WHERE i < len(toks)),
         |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
         |mx AS (SELECT doc_id, max(c)::BIGINT AS top_bigram_count FROM bc GROUP BY 1)
         |SELECT base.doc_id, n_tokens, n_distinct,
         |       coalesce(top_bigram_count, 0)::BIGINT AS top_bigram_count
         |FROM base LEFT JOIN mx ON base.doc_id = mx.doc_id""".stripMargin,
    "q142_pack_chunks" ->
      // the packing prefix sum replayed as one global ordered window (the
      // oracle may serialize; the engine range-buckets) + per-doc span math
      s"""WITH t AS (SELECT doc_id, len($duckToks)::BIGINT AS n,
         |    (${duckHash48("(doc_id::VARCHAR || ':pack-v1')")})::BIGINT AS sk
         |  FROM documents),
         |c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY sk, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
         |  FROM t WHERE n > 0),
         |sp AS (SELECT doc_id, n, e::BIGINT AS e, (e - n)::BIGINT AS st FROM c)
         |SELECT k::BIGINT AS seq_id, doc_id,
         |  (greatest(st, k*512) - st)::BIGINT AS tok_from,
         |  (least(e, (k+1)*512) - st)::BIGINT AS tok_to,
         |  (greatest(st, k*512) - k*512)::BIGINT AS pos
         |FROM sp, lateral unnest(generate_series(st // 512, (e - 1) // 512)) u(k)""".stripMargin,
    "q143_pack_greedy" ->
      // the sequential first-fit walk replayed as a recursive CTE: all
      // (stratum, shard) walks advance in lockstep, one row per step
      s"""WITH RECURSIVE t0 AS (SELECT doc_id, source AS stratum,
         |    len($duckToks)::BIGINT AS n,
         |    (${duckHash48("(doc_id::VARCHAR || ':pack-v1')")})::BIGINT AS sk
         |  FROM documents),
         |t AS (SELECT doc_id, stratum, n, (sk % 4)::INT AS shard,
         |    row_number() OVER (PARTITION BY stratum, sk % 4 ORDER BY sk, doc_id) AS rn
         |  FROM t0 WHERE n > 0),
         |r AS (
         |  SELECT stratum, shard, doc_id, n, rn, 0::BIGINT AS bin, n AS fill
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.stratum, t.shard, t.doc_id, t.n, t.rn,
         |    CASE WHEN r.fill + t.n <= 512 THEN r.bin ELSE r.bin + 1 END,
         |    CASE WHEN r.fill + t.n <= 512 THEN r.fill + t.n ELSE t.n END
         |  FROM r JOIN t ON t.stratum = r.stratum AND t.shard = r.shard AND t.rn = r.rn + 1)
         |SELECT stratum, shard, doc_id, n AS n_tokens, bin, fill AS bin_fill FROM r""".stripMargin,
    "q144_knn_join" ->
      // q32's IVF arithmetic with EVERY vector as a query and no
      // vec_id < 5 probe restriction
      s"""WITH $duckIvfAssignedCtes,
         |probes AS (SELECT vec_id AS q_id, embedding AS q_vec, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM sc)
         |  WHERE rn <= 2),
         |s AS (SELECT p.q_id, a.vec_id AS n_id, $duckCosPA AS cosine
         |      FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM s)
         |SELECT q_id, n_id, cosine, rank::INT AS rank FROM r WHERE rank <= 5""".stripMargin,
    "q147_label_propagate" ->
      // q144's kNN restricted to labeled corpus (< 400) vs unlabeled
      // queries (>= 400), then majority vote with pair-total agreement:
      // ties to the LOWEST label; < 60% majority abstains (null)
      s"""WITH $duckIvfAssignedCtes,
         |probes AS (SELECT vec_id AS q_id, embedding AS q_vec, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM sc)
         |  WHERE rn <= 2 AND vec_id >= 400),
         |s AS (SELECT p.q_id, a.vec_id AS n_id, $duckCosPA AS cosine
         |      FROM probes p JOIN assigned a
         |        ON a.cell = p.cell AND a.vec_id != p.q_id AND a.vec_id < 400),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM s),
         |nn AS (SELECT q_id, n_id FROM r WHERE rank <= 5),
         |v AS (SELECT nn.q_id, e.label AS n_label, count(*)::BIGINT AS votes
         |      FROM nn JOIN embeddings e ON e.vec_id = nn.n_id GROUP BY 1, 2),
         |t AS (SELECT *, sum(votes) OVER (PARTITION BY q_id)::BIGINT AS n_neighbors,
         |        row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, n_label) AS rn FROM v)
         |SELECT q_id AS vec_id,
         |  CASE WHEN votes >= n_neighbors * 0.6 THEN n_label END AS label_pred,
         |  votes, n_neighbors,
         |  round(votes / n_neighbors, 4) AS confidence
         |FROM t WHERE rn = 1""".stripMargin,
    "q148_hard_negatives" ->
      // q144's arithmetic with the SAME-label candidates excluded BEFORE
      // the per-query top-k rank
      s"""WITH $duckIvfAssignedCtes,
         |probes AS (SELECT t.vec_id AS q_id, t.embedding AS q_vec, e.label AS q_label, t.cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM sc) t
         |  JOIN embeddings e ON e.vec_id = t.vec_id
         |  WHERE t.rn <= 2),
         |s AS (SELECT p.q_id, p.q_label, a.vec_id AS n_id, e2.label AS n_label, $duckCosPA AS cosine
         |      FROM probes p
         |      JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.q_id
         |      JOIN embeddings e2 ON e2.vec_id = a.vec_id
         |      WHERE e2.label != p.q_label),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM s)
         |SELECT q_id, q_label, n_id, n_label, cosine, rank::INT AS rank
         |FROM r WHERE rank <= 3""".stripMargin,
    "q150_rrf_fuse" ->
      // list A: q144's IVF arithmetic with probes restricted to the
      // 5-query panel; list B: brute-force cosine over the FIRST 16 dims;
      // fuse: 1/(60+rank) per list, fixed-order sum, top-10 per query.
      // rrf_score ships UNROUNDED — both engines compute the identical
      // doubles, and rounding identical doubles is where they disagree
      s"""WITH $duckIvfAssignedCtes,
         |probes AS (SELECT vec_id AS q_id, embedding AS q_vec, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn FROM sc)
         |  WHERE rn <= 2 AND vec_id < 5),
         |sA AS (SELECT p.q_id, a.vec_id AS n_id, $duckCosPA AS cosine
         |      FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.q_id),
         |rA AS (SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk FROM sA),
         |sB AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |      round(list_sum(list_transform(range(1, 17), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         |        / (sqrt(list_sum(list_transform(range(1, 17), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
         |         * sqrt(list_sum(list_transform(range(1, 17), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))), 4) AS cosine
         |      FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
         |      WHERE a.vec_id < 5),
         |rB AS (SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk FROM sB),
         |u AS (SELECT q_id, n_id,
         |      max(CASE WHEN lst = 0 THEN 1.0 / (60 + rk) END) AS s0,
         |      max(CASE WHEN lst = 1 THEN 1.0 / (60 + rk) END) AS s1
         |  FROM (SELECT q_id, n_id, rk, 0 AS lst FROM rA WHERE rk <= 10
         |        UNION ALL SELECT q_id, n_id, rk, 1 FROM rB WHERE rk <= 10)
         |  GROUP BY 1, 2),
         |f AS (SELECT q_id, n_id, coalesce(s0, 0.0) + coalesce(s1, 0.0) AS rrf_score FROM u),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf_score DESC, n_id) AS rank FROM f)
         |SELECT q_id, n_id, rrf_score, rank::INT AS rank FROM r WHERE rank <= 10""".stripMargin,
    "q151_dim_ablation" ->
      // truth = full-width brute force top-10 (the q25 CTE); per d: the
      // same ranking over the first d dims; micro recall = exact hit
      // totals over truth totals
      s"""WITH ds(d) AS (SELECT unnest([8, 16, 32, 64])),
         |ts AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, $duckCos AS cosine
         |       FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
         |       WHERE a.vec_id < 5),
         |truth AS (SELECT q_id, n_id FROM
         |  (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk FROM ts)
         |  WHERE rk <= 10),
         |aps AS (SELECT ds.d, a.vec_id AS q_id, b.vec_id AS n_id,
         |      round(list_sum(list_transform(range(1, ds.d + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         |        / (sqrt(list_sum(list_transform(range(1, ds.d + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
         |         * sqrt(list_sum(list_transform(range(1, ds.d + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))), 4) AS cosine
         |      FROM ds CROSS JOIN embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
         |      WHERE a.vec_id < 5),
         |appr AS (SELECT d, q_id, n_id FROM
         |  (SELECT d, q_id, n_id, row_number() OVER (PARTITION BY d, q_id ORDER BY cosine DESC, n_id) AS rk FROM aps)
         |  WHERE rk <= 10)
         |SELECT ds.d AS n_dims, count(*)::BIGINT AS n_truth,
         |  sum(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         |  round(sum(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4) AS recall
         |FROM ds CROSS JOIN truth t
         |LEFT JOIN appr ap ON ap.d = ds.d AND ap.q_id = t.q_id AND ap.n_id = t.n_id
         |GROUP BY 1""".stripMargin,
    "q152_mmr_rerank" -> duckMmrSql(5),
    "q149_cdf_blend" ->
      // per signal: 255 type-1 cut points at j/256 (the q103 rank walk),
      // cdf = |{cuts <= v}| / 256 (multiset count), composite =
      // cdf_0*0.75 + cdf_1*0.25 in that order (unrounded cdfs; dyadic
      // weights so the value is exact — see the q149 gate scaladoc)
      s"""WITH t AS (SELECT doc_id, n_chars::DOUBLE AS v0,
         |    len($duckToks)::DOUBLE AS v1 FROM documents),
         |n AS (SELECT count(*) AS n FROM t),
         |qj AS (SELECT unnest(range(1, 256)) AS j),
         |rk AS (SELECT j, least(n, greatest(1, ceil(j / 256.0 * n)::BIGINT)) AS rk
         |  FROM n CROSS JOIN qj),
         |o0 AS (SELECT v0 AS v, row_number() OVER (ORDER BY v0) AS rn FROM t),
         |o1 AS (SELECT v1 AS v, row_number() OVER (ORDER BY v1) AS rn FROM t),
         |c0 AS (SELECT rk.j, o0.v FROM rk JOIN o0 ON o0.rn = rk.rk),
         |c1 AS (SELECT rk.j, o1.v FROM rk JOIN o1 ON o1.rn = rk.rk),
         |f AS (SELECT doc_id,
         |    (SELECT count(*) FROM c0 WHERE c0.v <= t.v0) / 256.0 AS cdf_0,
         |    (SELECT count(*) FROM c1 WHERE c1.v <= t.v1) / 256.0 AS cdf_1
         |  FROM t)
         |SELECT doc_id, round(cdf_0, 4) AS cdf_0, round(cdf_1, 4) AS cdf_1,
         |  round(cdf_0 * 0.75 + cdf_1 * 0.25, 4) AS composite
         |FROM f""".stripMargin,
    "q145_adaptive_filter" ->
      // per-source type-1 p25 (the q103 rank walk) as the keep floor
      s"""WITH t AS (SELECT source AS g, n_chars::DOUBLE AS v FROM documents
         |  WHERE n_chars IS NOT NULL),
         |n AS (SELECT g, count(*) AS n FROM t GROUP BY 1),
         |r AS (SELECT g, least(n, greatest(1, ceil(0.25 * n)::BIGINT)) AS rk FROM n),
         |o AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM t),
         |thr AS (SELECT r.g, o.v AS threshold FROM r JOIN o ON o.g = r.g AND o.rn = r.rk)
         |SELECT d.doc_id, d.source, d.n_chars, thr.threshold
         |FROM documents d JOIN thr ON thr.g = d.source
         |WHERE d.n_chars >= thr.threshold""".stripMargin,
    "q146_snapshot_diff" ->
      s"""WITH a AS (SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 11 != 3),
         |b AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text, lang, source
         |  FROM documents WHERE doc_id % 13 != 5),
         |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NULL THEN 'removed'
         |       WHEN a.doc_id IS NULL THEN 'added'
         |       WHEN (a.text IS DISTINCT FROM b.text) OR (a.lang IS DISTINCT FROM b.lang)
         |            OR (a.source IS DISTINCT FROM b.source) THEN 'changed'
         |       ELSE 'unchanged' END AS change,
         |  CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL THEN concat_ws(',',
         |    CASE WHEN a.lang IS DISTINCT FROM b.lang THEN 'lang' END,
         |    CASE WHEN a.source IS DISTINCT FROM b.source THEN 'source' END,
         |    CASE WHEN a.text IS DISTINCT FROM b.text THEN 'text' END) ELSE '' END AS changed_cols
         |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         |SELECT doc_id, change, changed_cols FROM j WHERE change != 'unchanged'""".stripMargin
  )
}
