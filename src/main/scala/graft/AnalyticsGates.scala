package graft

import graft.similarity.{Clustering, PQ}
import graft.sources.{Storage, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 analytics gates: incremental aggregate-view maintenance
  * (q157) and deterministic distributed k-means (q158).
  */
object AnalyticsGates {

  // q226/q227 serve-layout scratch: one fresh directory per JVM so two
  // concurrent runs over the same data dir never share a path (a shared
  // path let one run's writeZOrdered overwrite race another's pruned
  // read mid-gate); per-SF reuse WITHIN the run still holds via the
  // masked-hash suffix (masking, not math.abs — abs(Int.MinValue) < 0)
  private lazy val LayoutScratchRoot: String =
    GraftSession.tempDirCleanedOnExit("graft_layout_")
  private def layoutScratchDir(gate: String, d: String): String =
    s"$LayoutScratchRoot/${gate}_${d.hashCode & 0x7fffffff}"

  // shared with q159's streaming equivalence gate (StreamingGates)
  private[graft] val Cutoff = "2000-01-01 00:00:00"
  private[graft] val DeleteMod = 97
  private val KmK = 8
  private val KmIters = 3

  /** q157 — maintain the per-customer order view (n, total, max) through a
    * batch of inserts (orders on/after the cutoff) and deletes (orderkey ≡
    * 0 mod 97 among the base) WITHOUT re-aggregating the base: count/sum by
    * delta arithmetic, max recomputed only for delete-dirty keys over a
    * semi-join-restricted scan ([[Storage.mergeAggDelta]]). The oracle
    * re-aggregates the final row set from scratch — the gate proves the
    * incremental path lands on the exact same view.
    */
  private def q157DeltaAgg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderkey").as("row_id"), col("o_custkey").as("key"),
      col("o_totalprice").as("value"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < to_timestamp(lit(Cutoff))).drop("o_orderdate")
    val inserts = o.where(col("o_orderdate") >= to_timestamp(lit(Cutoff))).drop("o_orderdate")
    val deleteIds = base.where(col("row_id") % DeleteMod === 0).select(col("row_id"))
    val state = base.groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"), max(col("value")).as("mx"))
    Storage.mergeAggDelta(state, base, inserts, deleteIds, "row_id", "key", "value")
      .select(col("key").as("o_custkey"), col("n").as("n_orders"),
        round(col("total"), 2).as("total_r"), col("mx").as("max_price"))
  }

  /** q158 — k-means assignment after 3 deterministic Lloyd rounds over the
    * embeddings (k = 8, seeds = the 8 smallest vec_ids, distances and
    * centroids grid-rounded — [[Clustering.lloyd]]). The oracle unrolls
    * all three assign/update rounds in SQL on the same grids.
    */
  private def q158Kmeans(s: SparkSession, d: String): DataFrame =
    Clustering.lloyd(Tables.embeddings(s, d), col("vec_id"), col("embedding"),
        k = KmK, iters = KmIters)
      .select(col("id").as("vec_id"), col("cluster"), col("dist"))

  /** q162 — leave-one-out source ablation on document length
    * ([[graft.curation.Corpus.leaveOneOutAblation]]): per source, the
    * corpus mean with and without it, algebraically from one grouped
    * aggregate + broadcast totals — never an N× re-aggregation.
    */
  private def q162SourceAblation(s: SparkSession, d: String): DataFrame =
    graft.curation.Corpus.leaveOneOutAblation(
        Tables.documents(s, d), col("source"), col("n_chars"))
      .select(col("group").as("source"), col("n"), col("mean_in"),
        col("mean_rest"), col("delta"))

  /** q164 — greedy k-center coreset over the embeddings
    * ([[Clustering.kCenter]]): 8 farthest-point selections, each round a
    * pure map + TakeOrdered(1) argmax on the 10^-6 distance grid. The
    * oracle unrolls the same 8 selections.
    */
  private def q164Coreset(s: SparkSession, d: String): DataFrame =
    Clustering.kCenter(Tables.embeddings(s, d), col("vec_id"), col("embedding"), k = KcK)
      .select(col("sel_rank"), col("id").as("vec_id"), col("dist"))

  private val KcK = 8

  /** q166 — autoregressive sequence-dataset construction
    * ([[graft.operators.Sequences.nextEventPairs]]): per user, each event
    * with ≥ 3 predecessors becomes one (h1,h2,h3 → label) training
    * example; one keyed exchange, three lags over one window.
    */
  private def q166NextEvent(s: SparkSession, d: String): DataFrame =
    graft.operators.Sequences.nextEventPairs(
        Tables.events(s, d).where(col("user_id").isNotNull),
        col("user_id"), col("ts"), col("event_type"), col("event_id"), history = 3)
      .select(col("key").as("user_id"), col("seq_id").as("event_id"),
        col("h1"), col("h2"), col("h3"), col("label"))

  /** q168 — salted skew join ([[graft.operators.Joins.saltedEquiJoin]]):
    * lineitem scattered over 8 sub-keys, orders replicated ×8, joined on
    * (key, salt) — row-identical to the plain join (the oracle IS the
    * plain join), with hot keys spread over 8 tasks.
    */
  private def q168SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
      col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
    graft.operators.Joins.saltedEquiJoin(li, o, "o_orderkey", saltBuckets = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  // PQ gate shape: 4 subspaces of width 16 over the 64-dim embeddings,
  // 4 codewords each, 2 Lloyd rounds, the 5 smallest vec_ids as queries
  private[graft] val PqM = 4
  private[graft] val PqK = 4
  private[graft] val PqIters = 2
  private[graft] val PqQ = 5
  private[graft] val PqTopK = 10

  /** q182 — product-quantization ANN ([[graft.similarity.PQ]]): train one
    * deterministic codebook per subspace, ENCODE the corpus as
    * nearest-codeword indices, and serve top-k by ASYMMETRIC distance —
    * per query a broadcast m·k lookup table, per code row m table reads
    * in one codegen kernel ([[graft.plans.AdcDistsB]]). The oracle
    * replays training, encoding, and the j-ordered ADC sums in SQL.
    */
  private def q182PqAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cb = PQ.trainCodebooks(emb, col("vec_id"), col("embedding"),
      m = PqM, k = PqK, iters = PqIters)
    val codes = PQ.encode(emb, col("vec_id"), col("embedding"), cb)
    val queries = emb.orderBy(col("vec_id")).limit(PqQ)
    PQ.adcTopK(codes, queries, col("vec_id"), col("embedding"), cb, topK = PqTopK)
  }

  /** q193 — OPQ-rotated PQ ANN ([[graft.similarity.OPQ]]): Walsh–Hadamard
    * rotate (a fixed orthonormal ±1/√d matrix — the deterministic OPQ
    * stand-in), then the q182 chain verbatim over the ROTATED relation:
    * train per-subspace codebooks, encode, serve top-k by asymmetric
    * distance. Rotation fuses into the encode scan (one corpus pass).
    */
  private def q193OpqAnn(s: SparkSession, d: String): DataFrame = {
    val rotLazy = graft.similarity.OPQ.rotate(
      Tables.embeddings(s, d), col("vec_id"), col("embedding"), dim = 64)
    // training input MATERIALIZED once: Lloyd makes many passes per
    // subspace, and a lazy rotation re-evaluates its d dot kernels under
    // every one (measured 22 s vs ~3 s at sf0.1 — and the 64-kernel
    // projection nested in every training stage also bloats codegen for
    // the rest of the session). At 100 TB training runs on a SAMPLE; the
    // bounded materialize stands in for that. Serving stays LAZY: the
    // returned plan is the one fused rotate+encode+score corpus scan.
    val rotTrain = graft.Materialize(rotLazy)
    val cb = PQ.trainCodebooks(rotTrain, col("vec_id"), col("embedding"),
      m = PqM, k = PqK, iters = PqIters)
    val queries = rotTrain.orderBy(col("vec_id")).limit(PqQ)
    val codes = PQ.encode(rotLazy, col("vec_id"), col("embedding"), cb)
    // adcTopK collects the query vectors at build time, so the serving
    // plan does not read rotTrain and the gate's scope frees its blocks
    PQ.adcTopK(codes, queries, col("vec_id"), col("embedding"), cb, topK = PqTopK)
  }

  private[graft] val BDeleteMod = 89

  /** q186 — incremental JOIN-view maintenance
    * ([[Storage.mergeJoinViewDelta]]): the per-customer line-revenue view
    * over orders ⋈ lineitem maintained through signed inserts AND deletes
    * on BOTH base tables at once — Δ(A⋈B) = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB, signs
    * multiplying through the cross term (an order deleted in the same
    * batch as its lines must not double-remove). The oracle re-joins the
    * final row sets from scratch; the gate proves the delta path lands on
    * the identical view.
    */
  private def q186JoinView(s: SparkSession, d: String): DataFrame = {
    val cut = to_timestamp(lit(Cutoff))
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    // an exact INTEGER measure: the gate tests the delta-join ALGEBRA,
    // and fp revenue sums grouped differently (base + delta vs scratch)
    // can land a half-cent apart at the rounding boundary — quantity
    // sums are associative-exact on both engines
    val value = col("l_quantity").cast("long").as("value")
    val aOld = o.where(col("o_orderdate") < cut)
      .select(col("o_orderkey").as("key"), col("o_custkey").as("grp"))
    val bOld = li.where(col("l_linenumber") <= 4)
      .select(col("l_orderkey").as("key"), value)
    val aDelta = o.where(col("o_orderdate") >= cut)
      .select(col("o_orderkey").as("key"), col("o_custkey").as("grp"), lit(1).as("sign"))
      .unionByName(aOld.where(col("key") % DeleteMod === 0).withColumn("sign", lit(-1)))
    val bDelta = li.where(col("l_linenumber") > 4)
      .select(col("l_orderkey").as("key"), value, lit(1).as("sign"))
      .unionByName(bOld.where(col("key") % BDeleteMod === 0).withColumn("sign", lit(-1)))
    val view = aOld.join(bOld, Seq("key"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    Storage.mergeJoinViewDelta(view, aOld, bOld, aDelta, bDelta)
      .select(col("grp").as("o_custkey"), col("n").as("n_lines"),
        col("total").cast("long").as("qty_sum"))
  }

  /** q194 — the q186 join-view delta algebra on a MONEY measure carried
    * as exact BIGINT cents: `round(price·100)::BIGINT` end-to-end, so
    * the sum is associative-exact under ANY grouping and the base+delta
    * path lands bit-identically on the from-scratch oracle — the fix the
    * q186 gate documents for fp revenue (sums grouped differently land a
    * half-cent apart at the 2-dp boundary; integers cannot).
    */
  private def q194JoinViewCents(s: SparkSession, d: String): DataFrame = {
    val cut = to_timestamp(lit(Cutoff))
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    // round BEFORE the long cast: the fp product of a 2-dp price sits
    // within 1e-9 of an integer on either side, and a bare cast
    // TRUNCATES on Spark while ::BIGINT ROUNDS on DuckDB
    val value = round(col("l_extendedprice") * 100).cast("long").as("value")
    val aOld = o.where(col("o_orderdate") < cut)
      .select(col("o_orderkey").as("key"), col("o_custkey").as("grp"))
    val bOld = li.where(col("l_linenumber") <= 4)
      .select(col("l_orderkey").as("key"), value)
    val aDelta = o.where(col("o_orderdate") >= cut)
      .select(col("o_orderkey").as("key"), col("o_custkey").as("grp"), lit(1).as("sign"))
      .unionByName(aOld.where(col("key") % DeleteMod === 0).withColumn("sign", lit(-1)))
    val bDelta = li.where(col("l_linenumber") > 4)
      .select(col("l_orderkey").as("key"), value, lit(1).as("sign"))
      .unionByName(bOld.where(col("key") % BDeleteMod === 0).withColumn("sign", lit(-1)))
    val view = aOld.join(bOld, Seq("key"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    Storage.mergeJoinViewDelta(view, aOld, bOld, aDelta, bDelta)
      .select(col("grp").as("o_custkey"), col("n").as("n_lines"),
        col("total").cast("long").as("cents_sum"))
  }

  /** q200 — incremental TOP-K VIEW maintenance
    * ([[Storage.mergeTopKDelta]], the third IVM shape after q157's
    * aggregate and q186's join): the per-customer top-3 orders view
    * maintained through the q157 change set — inserts compete with kept
    * rows without touching the base; only groups whose KEPT rows are
    * deleted (or replaced) recompute from surviving base rows,
    * semi-restricted. The oracle re-ranks the final row set from
    * scratch; the delta path must land on it exactly.
    */
  private def q200TopkView(s: SparkSession, d: String): DataFrame = {
    val cut = to_timestamp(lit(Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_custkey").as("grp"), col("o_totalprice").as("score"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val view = graft.operators.TopK.topKByGroup(base, Seq(col("grp")),
        struct(col("score"), (-col("row_id")).as("__nid"), col("row_id")), k = 3)
      .select(col("grp"), col("rank"), col("row_id"), col("score"))
    val inserts = o.where(col("o_orderdate") >= cut).drop("o_orderdate")
    val deleteIds = base.where(col("row_id") % DeleteMod === 0).select(col("row_id"))
    Storage.mergeTopKDelta(view, base, inserts, deleteIds,
        "row_id", "grp", "score", k = 3)
      .select(col("grp").as("o_custkey"), col("rank"),
        col("row_id").as("o_orderkey"), round(col("score"), 2).as("price"))
  }

  /** q202 — incremental COUNT-DISTINCT view
    * ([[Storage.mergeDistinctDelta]], the fourth IVM shape): distinct
    * order priorities per customer maintained through the q157 change
    * set as (grp, value) refcounts — fully self-maintainable under
    * deletes (no dirty recompute exists), the base read only to recover
    * deleted rows' values. The oracle counts DISTINCT from the final
    * row set from scratch.
    */
  private def q202DistinctView(s: SparkSession, d: String): DataFrame = {
    val cut = to_timestamp(lit(Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_custkey").as("grp"), col("o_orderpriority").as("value"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val refcounts = base.groupBy(col("grp"), col("value"))
      .agg(count(lit(1)).as("rc"))
    val inserts = o.where(col("o_orderdate") >= cut).drop("o_orderdate")
    val deleteIds = base.where(col("row_id") % DeleteMod === 0).select(col("row_id"))
    Storage.mergeDistinctDelta(refcounts, base, inserts, deleteIds,
        "row_id", "grp", "value")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("rc")).cast("long").as("n_rows"))
      .select(col("grp").as("o_custkey"), col("n_distinct"), col("n_rows"))
  }

  // quantile-view shape: cells 2^12 = 4096 price units wide (o_totalprice
  // spans ~850–600k → ≤ ~150 cells per customer), median + p90 served
  private[graft] val QvScale = 12
  private[graft] val QvQs = Seq(0.5, 0.9)

  /** q204 — incremental QUANTILE view
    * ([[Storage.mergeQuantileCellsDelta]] +
    * [[Storage.quantilesFromCells]], the fifth IVM shape): per-customer
    * price quantiles maintained through the q157 change set as
    * (grp, dyadic-cell, rc) refcounts — the count-distinct algebra one
    * level up, fully self-maintainable under deletes. Serving brackets
    * each rank from the STATE alone (exact integer walk over bounded
    * cells) and reads only candidate-cell base rows for the exact value.
    * The oracle computes the type-1 quantiles from the final row set
    * from scratch.
    */
  /** The q204/q219 shared construction: the per-customer price cell state
    * maintained through the q157 change set, plus the final row set.
    */
  private def q204MaintainedCells(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cut = to_timestamp(lit(Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_custkey").as("grp"), col("o_totalprice").as("value"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val cells = base.groupBy(col("grp"),
        Storage.dyadicCell(col("value"), QvScale).as("cell"))
      .agg(count(lit(1)).as("rc"))
    val inserts = o.where(col("o_orderdate") >= cut).drop("o_orderdate")
    val deleteIds = base.where(col("row_id") % DeleteMod === 0).select(col("row_id"))
    val maintained = Storage.mergeQuantileCellsDelta(
      cells, base, inserts, deleteIds, "row_id", "grp", "value", QvScale)
    val finalBase = base.join(deleteIds, Seq("row_id"), "left_anti")
      .unionByName(inserts)
    (maintained, finalBase)
  }

  private def q204QuantileView(s: SparkSession, d: String): DataFrame = {
    val (maintained, finalBase) = q204MaintainedCells(s, d)
    Storage.quantilesFromCells(maintained, finalBase, "grp", "value", QvScale, QvQs)
      .select(col("g").as("o_custkey"), col("q"), col("value"))
  }

  /** q226 — the q204 serve THROUGH the Z-ordered layout
    * ([[Storage.writeQuantileServeLayout]] +
    * [[Storage.quantilesFromCellsLayout]]): the maintained base written
    * Z-order clustered on (group-bucket, value-cell), the serve's
    * candidate pairs pushed into the scan as IN-filters so non-candidate
    * row groups never decompress. Shares q204's oracle verbatim — the
    * layout is a read-cost optimization, value-identical by the superset
    * restriction argument on the class doc.
    */
  private def q226QuantileLayout(s: SparkSession, d: String): DataFrame = {
    val (maintained0, finalBase0) = q204MaintainedCells(s, d)
    // MATERIALIZE both maintenance outputs before the layout round-trip
    // (round-17 profile): the layout write evaluates finalBase TWICE
    // (repartitionByRange's range-boundary sample pass + the write pass
    // — 8.9 s + 13.8 s of task time at sf0.1/local[32]), and the serve
    // evaluates the cells state twice (driver-side bracket-pair collect
    // + the broadcast bracket join). Per-run checkpoints inside the
    // timed query; finalBase's is dropped right after the write. At
    // scale the layout write is a full copy of the base anyway, so one
    // transient checkpoint of the same bytes halves the maintenance
    // joins paid, and the cells state is bounded (|groups|·|cells|).
    val maintained = graft.Materialize(maintained0)
    val finalBase = graft.Materialize(finalBase0)
    // deterministic per-SF scratch path WITHIN this JVM: writeZOrdered
    // overwrites, so repeated invocations (bench reps) reuse one
    // directory instead of littering a fresh temp dir each run
    val dir = layoutScratchDir("q226", d)
    Storage.writeQuantileServeLayout(finalBase, "grp", "value", QvScale,
      grpBuckets = 64, bits = 16, files = 32, path = s"$dir/base")
    graft.Materialize.release(finalBase)
    Storage.quantilesFromCellsLayout(s, s"$dir/base", maintained,
        "grp", "value", QvScale, QvQs, grpBuckets = 64)
      .select(col("g").as("o_custkey"), col("q"), col("value"))
  }

  /** q206 — per-column table profile ([[graft.curation.Audit
    * .columnProfile]]): row/null/exact-distinct counts, numeric min/max,
    * string length min/max for every documents column in ONE melted
    * pass. The oracle unrolls one aggregate per column and unions them.
    */
  private def q206ColumnProfile(s: SparkSession, d: String): DataFrame =
    graft.curation.Audit.columnProfile(
      Tables.documents(s, d), Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** q207 — hierarchical ROLLUP aggregate: lineitem volumes at
    * (returnflag, linestatus), per returnflag, and grand-total levels in
    * one pass — Catalyst's Expand feeds every level map-side partials, so
    * the multi-level report costs one exchange, not three jobs. The
    * grouping level is surfaced as `gid` (grouping-flag arithmetic shared
    * with the oracle) since rollup NULLs are not data NULLs.
    */
  private def q207Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"), col("n"), col("qty"))

  /** q208 — referential-integrity audit ([[graft.curation.Audit
    * .fkOrphans]]): how many lineitem rows point at an order outside the
    * pre-cutoff snapshot — the orphan screen after a selective delete /
    * partial re-crawl. One anti join + one aggregate.
    */
  private def q208FkOrphans(s: SparkSession, d: String): DataFrame =
    graft.curation.Audit.fkOrphans(
      Tables.lineitem(s, d),
      Tables.orders(s, d).where(col("o_orderdate") < to_timestamp(lit(Cutoff))),
      col("l_orderkey"), col("o_orderkey"))

  /** q209 — key-uniqueness audit ([[graft.curation.Audit.keyUniqueness]]):
    * is o_custkey a key of orders? (No — the multiplicity profile says by
    * how much.) The contract check every IVM maintainer here relies on.
    */
  private def q209KeyUniqueness(s: SparkSession, d: String): DataFrame =
    graft.curation.Audit.keyUniqueness(Tables.orders(s, d), Seq(col("o_custkey")))

  // weighted quantile-view shape: same cells as q204, order-priority
  // groups, weight = o_orderkey % 7 + 1 (a deterministic integer mass)
  private[graft] val WqvQs = Seq(0.25, 0.5, 0.9)

  /** q210 — incremental WEIGHTED quantile view
    * ([[Storage.mergeWeightedQuantileCellsDelta]] +
    * [[Storage.weightedQuantilesFromCells]]): the q204 cell state carrying
    * Σ weight instead of row counts, maintained through the q157 change
    * set — token-weighted percentiles kept fresh under CDC. The oracle
    * walks cumulative weight over distinct values from scratch
    * (the q197 weighted type-1 definition).
    */
  private def q210MaintainedCells(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cut = to_timestamp(lit(Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_orderpriority").as("grp"), col("o_totalprice").as("value"),
      (col("o_orderkey") % 7 + 1).as("w"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val cells = base.groupBy(col("grp"),
        Storage.dyadicCell(col("value"), QvScale).as("cell"))
      .agg(sum(col("w")).cast("long").as("rc"))
    val inserts = o.where(col("o_orderdate") >= cut).drop("o_orderdate")
    val deleteIds = base.where(col("row_id") % DeleteMod === 0).select(col("row_id"))
    val maintained = Storage.mergeWeightedQuantileCellsDelta(
      cells, base, inserts, deleteIds, "row_id", "grp", "value", "w", QvScale)
    val finalBase = base.join(deleteIds, Seq("row_id"), "left_anti")
      .unionByName(inserts)
    (maintained, finalBase)
  }

  private def q210WeightedQuantileView(s: SparkSession, d: String): DataFrame = {
    val (maintained, finalBase) = q210MaintainedCells(s, d)
    Storage.weightedQuantilesFromCells(
        maintained, finalBase, "grp", "value", "w", QvScale, WqvQs)
      .select(col("g").as("o_orderpriority"), col("q"), col("value"))
  }

  /** q227 — the q210 WEIGHTED serve through the Z-ordered layout (the
    * q226 machinery; the layout writer carries the weight column along
    * stored). Shares q210's oracle verbatim.
    */
  private def q227WqLayout(s: SparkSession, d: String): DataFrame = {
    val (maintained0, finalBase0) = q210MaintainedCells(s, d)
    // same double-evaluation fix as q226 (sample + write passes over
    // finalBase; collect + broadcast passes over the cells state)
    val maintained = graft.Materialize(maintained0)
    val finalBase = graft.Materialize(finalBase0)
    val dir = layoutScratchDir("q227", d)
    Storage.writeQuantileServeLayout(finalBase, "grp", "value", QvScale,
      grpBuckets = 8, bits = 16, files = 32, path = s"$dir/base")
    graft.Materialize.release(finalBase)
    Storage.weightedQuantilesFromCellsLayout(s, s"$dir/base", maintained,
        "grp", "value", "w", QvScale, WqvQs, grpBuckets = 8)
      .select(col("g").as("o_orderpriority"), col("q"), col("value"))
  }

  private[graft] val CDeleteMod = 11

  /** q212 — THREE-WAY join-view maintenance
    * ([[Storage.mergeJoinView3Delta]]): the per-nation line-quantity view
    * over customer ⋈ orders ⋈ lineitem maintained through signed inserts
    * AND deletes on ALL THREE base tables in one batch — the q186 delta
    * algebra composed, Δ(A⋈B⋈C) in seven delta-restricted terms. Change
    * sets: customers split on custkey mod 3 (inserts) / mod 11 (deletes),
    * orders on the q157 cutoff/mod-97, lineitem on the q186
    * linenumber/mod-89. The oracle re-joins the final row sets from
    * scratch.
    */
  private def q212JoinView3(s: SparkSession, d: String): DataFrame = {
    val cut = to_timestamp(lit(Cutoff))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("ka"), col("c_nationkey").as("grp"))
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val value = col("l_quantity").cast("long").as("value")

    val aOld = cust.where(col("ka") % 3 =!= 0)
    val aDelta = cust.where(col("ka") % 3 === 0).withColumn("sign", lit(1))
      .unionByName(aOld.where(col("ka") % CDeleteMod === 0).withColumn("sign", lit(-1)))
    val bOld = o.where(col("o_orderdate") < cut)
      .select(col("o_custkey").as("ka"), col("o_orderkey").as("kb"))
    val bDelta = o.where(col("o_orderdate") >= cut)
      .select(col("o_custkey").as("ka"), col("o_orderkey").as("kb"), lit(1).as("sign"))
      .unionByName(bOld.where(col("kb") % DeleteMod === 0).withColumn("sign", lit(-1)))
    val cOld = li.where(col("l_linenumber") <= 4)
      .select(col("l_orderkey").as("kb"), value)
    val cDelta = li.where(col("l_linenumber") > 4)
      .select(col("l_orderkey").as("kb"), value, lit(1).as("sign"))
      .unionByName(cOld.where(col("kb") % BDeleteMod === 0).withColumn("sign", lit(-1)))

    val view = aOld.join(bOld, Seq("ka")).join(cOld, Seq("kb"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    Storage.mergeJoinView3Delta(view, aOld, bOld, cOld, aDelta, bDelta, cDelta)
      .select(col("grp").as("c_nationkey"), col("n").as("n_lines"),
        col("total").cast("long").as("qty_sum"))
  }

  private[graft] val PDeleteMod = 13

  /** q222 — FOUR-WAY join-chain view maintenance
    * ([[Storage.mergeJoinViewNDelta]], the recursive Δ expansion that
    * stops the per-arity duplication at three): the per-nation part-size
    * view over customer ⋈ orders ⋈ lineitem ⋈ part maintained through
    * signed inserts AND deletes on ALL FOUR base tables in one batch —
    * fifteen delta-restricted terms when fully expanded, every
    * delta-derived relation broadcast. Change sets: the q212 splits on
    * the first three sides; part splits on partkey mod 4 (inserts) /
    * mod 13 (deletes). The oracle re-joins the final row sets from
    * scratch.
    */
  private def q222JoinView4(s: SparkSession, d: String): DataFrame = {
    val cut = to_timestamp(lit(Cutoff))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("ka"), col("c_nationkey").as("grp"))
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)

    val aOld = cust.where(col("ka") % 3 =!= 0)
    val aDelta = cust.where(col("ka") % 3 === 0).withColumn("sign", lit(1))
      .unionByName(aOld.where(col("ka") % CDeleteMod === 0).withColumn("sign", lit(-1)))
    val bOld = o.where(col("o_orderdate") < cut)
      .select(col("o_custkey").as("ka"), col("o_orderkey").as("kb"))
    val bDelta = o.where(col("o_orderdate") >= cut)
      .select(col("o_custkey").as("ka"), col("o_orderkey").as("kb"), lit(1).as("sign"))
      .unionByName(bOld.where(col("kb") % DeleteMod === 0).withColumn("sign", lit(-1)))
    val cOld = li.where(col("l_linenumber") <= 4)
      .select(col("l_orderkey").as("kb"), col("l_partkey").as("kc"))
    val cDelta = li.where(col("l_linenumber") > 4)
      .select(col("l_orderkey").as("kb"), col("l_partkey").as("kc"), lit(1).as("sign"))
      .unionByName(cOld.where(col("kb") % BDeleteMod === 0).withColumn("sign", lit(-1)))
    val dOld = p.where(col("p_partkey") % 4 =!= 1)
      .select(col("p_partkey").as("kc"), col("p_size").cast("long").as("value"))
    val dDelta = p.where(col("p_partkey") % 4 === 1)
      .select(col("p_partkey").as("kc"), col("p_size").cast("long").as("value"),
        lit(1).as("sign"))
      .unionByName(dOld.where(col("kc") % PDeleteMod === 0).withColumn("sign", lit(-1)))

    val view = aOld.join(bOld, Seq("ka")).join(cOld, Seq("kb")).join(dOld, Seq("kc"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    Storage.mergeJoinViewNDelta(view,
        Seq(aOld, bOld, cOld, dOld), Seq(aDelta, bDelta, cDelta, dDelta),
        Seq("ka", "kb", "kc"))
      .select(col("grp").as("c_nationkey"), col("n").as("n_rows"),
        col("total").cast("long").as("size_sum"))
  }

  private[graft] val ZBits = 10

  /** q213 — Z-order (Morton) value ([[Storage.zValue]]): the bit
    * interleave behind [[Storage.writeZOrdered]]'s 2-D-local layout,
    * computed over (doc_id mod 1024, n_chars mod 1024). The oracle
    * replays the interleave as unrolled shift/mask arithmetic — exact
    * integers, no fp anywhere.
    */
  private def q213Zorder(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      Storage.zValue(pmod(col("doc_id"), lit(1024L)),
        pmod(col("n_chars"), lit(1024L)), ZBits).as("z"))

  /** q215 — Bloom-pruned equi join ([[graft.operators.Joins
    * .bloomPrunedJoin]]): lineitem filtered IN-SCAN by a broadcast Bloom
    * over the selective orders subset's keys before the shuffle — the
    * join regime between broadcast and plain shuffle. Row-identical to
    * the plain join (no false negatives); the oracle IS the plain join.
    */
  private def q215BloomJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
      col("l_extendedprice"), col("l_discount"))
    val hot = Tables.orders(s, d).where(col("o_totalprice") > 400000)
      .select(col("o_orderkey"), col("o_orderpriority"))
    graft.operators.Joins.bloomPrunedJoin(li, hot, "o_orderkey",
        expectedKeys = 1000000L)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  private[graft] val FreshAsOf = "2000-02-01 00:00:00"

  /** q217 — freshness audit ([[graft.curation.Audit.freshness]]): per
    * event type, the latest event time and staleness against an explicit
    * reference instant — the feed-stall monitor, deterministic because
    * the reference instant is a parameter, never the wall clock.
    */
  private def q217Freshness(s: SparkSession, d: String): DataFrame =
    graft.curation.Audit.freshness(
        Tables.events(s, d), col("event_type"), col("ts"),
        java.sql.Timestamp.valueOf(FreshAsOf))
      .select(col("g").as("event_type"), col("n"), col("last_seen"), col("lag_s"))

  /** q219 — quantile BOUNDS from the maintained cell state alone
    * ([[Storage.quantileBoundsFromCells]]): the q204 view's zero-base-I/O
    * read — the bracketing cell's exact dyadic boundaries contain each
    * type-1 quantile. The oracle rebuilds the cell histogram from the
    * final rows and walks the same ranks.
    */
  private def q219QuantileBounds(s: SparkSession, d: String): DataFrame = {
    val (maintained, _) = q204MaintainedCells(s, d)
    Storage.quantileBoundsFromCells(maintained, "grp", QvScale, QvQs)
      .select(col("g").as("o_custkey"), col("q"), col("lo"), col("hi"))
  }

  /** q220 — PIVOT: per-returnflag quantity totals spread across explicit
    * linestatus columns. With the pivot values DECLARED (`Seq("F","O")`)
    * Catalyst plans ONE pass of conditional aggregates — no
    * distinct-values pre-scan, no Expand; the oracle is the equivalent
    * conditional aggregation.
    */
  private def q220Pivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity").cast("long")))

  /** q221 — UNPIVOT (melt): part's numeric measures to (metric, value)
    * rows via the built-in `unpivot` — the relational melt the q206
    * profiler hand-rolls with explode, here as the first-class operator.
    */
  private def q221Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").cast("double").as("retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
        "metric", "value")

  /** q189 — top-3 orders per customer by (price desc, orderkey asc)
    * through the BOUNDED top-k aggregate ([[graft.operators.TopK]]):
    * O(k) state per group, map-side partials, no window sort anywhere —
    * the oracle is the row_number idiom this replaces.
    */
  private def q189TopkGroup(s: SparkSession, d: String): DataFrame =
    graft.operators.TopK.topKByGroup(
      Tables.orders(s, d),
      Seq(col("o_custkey")),
      struct(col("o_totalprice").as("p"), (-col("o_orderkey")).as("nk"),
        col("o_orderkey")),
      k = 3)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"),
        round(col("p"), 2).as("price"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q168_salted_join" -> (q168SaltedJoin _),
    "q186_join_view" -> (q186JoinView _),
    "q189_topk_group" -> (q189TopkGroup _),
    "q157_delta_agg" -> (q157DeltaAgg _),
    "q158_kmeans" -> (q158Kmeans _),
    "q162_source_ablation" -> (q162SourceAblation _),
    "q164_coreset" -> (q164Coreset _),
    "q166_next_event" -> (q166NextEvent _),
    "q182_pq_ann" -> (q182PqAnn _),
    "q193_opq_ann" -> (q193OpqAnn _),
    "q194_join_view_cents" -> (q194JoinViewCents _),
    "q200_topk_view" -> (q200TopkView _),
    "q202_distinct_view" -> (q202DistinctView _),
    "q204_quantile_view" -> (q204QuantileView _),
    "q206_column_profile" -> (q206ColumnProfile _),
    "q207_rollup" -> (q207Rollup _),
    "q208_fk_orphans" -> (q208FkOrphans _),
    "q209_key_uniqueness" -> (q209KeyUniqueness _),
    "q210_weighted_quantile_view" -> (q210WeightedQuantileView _),
    "q212_join_view3" -> (q212JoinView3 _),
    "q213_zorder" -> (q213Zorder _),
    "q215_bloom_join" -> (q215BloomJoin _),
    "q217_freshness" -> (q217Freshness _),
    "q219_quantile_bounds" -> (q219QuantileBounds _),
    "q220_pivot" -> (q220Pivot _),
    "q221_unpivot" -> (q221Unpivot _),
    "q222_join_view4" -> (q222JoinView4 _),
    "q226_quantile_layout" -> (q226QuantileLayout _),
    "q227_wq_layout" -> (q227WqLayout _)
  )

  // --- oracles ----------------------------------------------------------

  private def deltaAggSql: String =
    s"""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       |  WHERE o_orderdate < TIMESTAMP '$Cutoff'),
       |final AS (
       |  SELECT * FROM base WHERE o_orderkey % $DeleteMod != 0
       |  UNION ALL
       |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '$Cutoff')
       |SELECT o_custkey, count(*)::BIGINT AS n_orders,
       |  round(sum(o_totalprice), 2) AS total_r, max(o_totalprice) AS max_price
       |FROM final GROUP BY o_custkey""".stripMargin

  /** Three unrolled Lloyd rounds: assignment = rounded squared-L2 argmin
    * with ties to the lowest cluster; update = per-dimension mean on the
    * centroid grid; empty clusters keep their previous centroid.
    */
  private def kmeansSql: String = {
    val prelude =
      s"""WITH dims AS (SELECT max(len(embedding))::INT AS dm FROM embeddings),
         |pos AS (SELECT unnest(range(1, (SELECT dm FROM dims) + 1))::INT AS p),
         |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
         |              list_transform(v, x -> round(x, 6)) AS cv
         |       FROM (SELECT * FROM v ORDER BY vec_id LIMIT $KmK))""".stripMargin
    val rounds = (1 to KmIters).map { i =>
      val p = s"c${i - 1}"
      s"""a$i AS (
         |  SELECT vec_id, c, round(list_sum(list_transform(range(1, len(v.v)+1),
         |      j -> (v.v[j] - $p.cv[j]) * (v.v[j] - $p.cv[j]))), 6) AS dist
         |  FROM v CROSS JOIN $p),
         |b$i AS (SELECT vec_id, c, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM a$i),
         |m$i AS (SELECT vec_id, c FROM b$i WHERE rn = 1),
         |u$i AS (
         |  SELECT m.c, pos.p, round(avg(v.v[pos.p]), 6) AS val
         |  FROM m$i m JOIN v ON v.vec_id = m.vec_id CROSS JOIN pos
         |  GROUP BY m.c, pos.p),
         |c$i AS (
         |  SELECT pc.c,
         |    coalesce(list(u.val ORDER BY u.p) FILTER (u.val IS NOT NULL), pc.cv) AS cv
         |  FROM $p pc LEFT JOIN u$i u ON u.c = pc.c GROUP BY pc.c, pc.cv)""".stripMargin
    }
    val epilogue =
      s"""fa AS (
         |  SELECT vec_id, c, round(list_sum(list_transform(range(1, len(v.v)+1),
         |      j -> (v.v[j] - cf.cv[j]) * (v.v[j] - cf.cv[j]))), 6) AS dist
         |  FROM v CROSS JOIN c$KmIters cf),
         |fb AS (SELECT vec_id, c, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM fa)
         |SELECT vec_id, c::INT AS cluster, dist FROM fb WHERE rn = 1""".stripMargin
    prelude + ",\n" + rounds.mkString(",\n") + ",\n" + epilogue
  }

  /** Same algebra as the engine: per-group partials, totals from the
    * partials, rest mean = (T−S)/(N−n); delta from the RAW ratios (not
    * the rounded reports).
    */
  private def sourceAblationSql: String =
    """WITH g AS (SELECT source, count(*)::BIGINT AS n, sum(n_chars::DOUBLE) AS s
      |  FROM documents GROUP BY source),
      |t AS (SELECT sum(n)::BIGINT AS tn, sum(s) AS ts FROM g)
      |SELECT g.source, g.n, round(g.s/g.n, 6) AS mean_in,
      |  CASE WHEN t.tn > g.n THEN round((t.ts - g.s)/(t.tn - g.n), 6) END AS mean_rest,
      |  CASE WHEN t.tn > g.n
      |    THEN round(g.s/g.n - (t.ts - g.s)/(t.tn - g.n), 6) END AS delta
      |FROM g CROSS JOIN t""".stripMargin

  /** Eight unrolled farthest-point selections: round r takes the argmax
    * of the running min distance (grid-rounded, ties to the lowest id)
    * and folds its distance column in with `least`.
    */
  private def coresetSql: String = {
    val prelude =
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |s0 AS (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 1),
        |m0 AS (SELECT v.vec_id, v.v,
        |  round(list_sum(list_transform(range(1, len(v.v)+1),
        |    j -> (v.v[j] - s0.v[j]) * (v.v[j] - s0.v[j]))), 6) AS d
        |  FROM v CROSS JOIN s0)""".stripMargin
    val rounds = (1 until KcK).map { i =>
      val p = s"m${i - 1}"
      s"""s$i AS (SELECT vec_id, v, d FROM $p ORDER BY d DESC, vec_id LIMIT 1),
         |m$i AS (SELECT $p.vec_id, $p.v,
         |  least($p.d, round(list_sum(list_transform(range(1, len($p.v)+1),
         |    j -> ($p.v[j] - s$i.v[j]) * ($p.v[j] - s$i.v[j]))), 6)) AS d
         |  FROM $p CROSS JOIN s$i)""".stripMargin
    }
    val epilogue =
      ("SELECT 0::INT AS sel_rank, vec_id, 0.0 AS dist FROM s0" +:
        (1 until KcK).map(i => s"SELECT $i::INT, vec_id, d FROM s$i")).mkString("\nUNION ALL ")
    prelude + ",\n" + rounds.mkString(",\n") + "\n" + epilogue
  }

  /** The full PQ pipeline replayed in SQL with a subspace axis `j`:
    * per-subspace Lloyd training (same seeds/grids/tiebreaks as the
    * engine — the kmeansSql rounds with `j` carried through), encoding
    * by per-subspace argmin, per-query lookup tables off the final
    * codebooks, and the ADC total as `list_sum(list(d ORDER BY j))` —
    * the j-ASCENDING order the kernel's accumulation loop uses (fp
    * addition is not associative; the order is part of the contract).
    */
  /** The per-subspace sq-dist expression shared by the PQ oracle CTEs. */
  private[graft] def pqSqd(sd: Int)(vecExpr: String, cvExpr: String): String =
    s"round(list_sum(list_transform(range(1, $sd + 1), " +
      s"t -> ($vecExpr[t] - $cvExpr[t]) * ($vecExpr[t] - $cvExpr[t]))), 6)"

  /** PQ TRAINING + ENCODING as a reusable CTE chain over a caller-provided
    * `v(vec_id, v)` relation: subspace axis `js`/`sub`, smallest-id seeds,
    * `iters` Lloyd rounds (argmin ties to the lowest codeword, per-position
    * means on the centroid grid, empty codewords kept), final codebooks in
    * `c$iters(j, c, cv)` and the encoding in `code(vec_id, j, c)` — shared
    * verbatim by the flat-PQ (q182) and IVFPQ-residual (q191) oracles.
    */
  private[graft] def pqTrainCtes(m: Int, k: Int, iters: Int, sd: Int): String = {
    val sqd = pqSqd(sd) _
    val prelude =
      s"""js AS (SELECT unnest(range(0, $m))::INT AS j),
         |sub AS (SELECT vec_id, j, v[j*$sd + 1 : j*$sd + $sd] AS vj FROM v CROSS JOIN js),
         |pos AS (SELECT unnest(range(1, $sd + 1))::INT AS p),
         |seedids AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT $k),
         |c0 AS (SELECT j, row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS c,
         |    list_transform(vj, x -> round(x, 6)) AS cv
         |  FROM sub WHERE vec_id IN (SELECT vec_id FROM seedids))""".stripMargin
    val rounds = (1 to iters).map { i =>
      val p = s"c${i - 1}"
      s"""a$i AS (SELECT s.vec_id, s.j, p.c, ${sqd("s.vj", "p.cv")} AS dist
         |  FROM sub s JOIN $p p ON p.j = s.j),
         |b$i AS (SELECT vec_id, j, c,
         |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn FROM a$i),
         |m$i AS (SELECT vec_id, j, c FROM b$i WHERE rn = 1),
         |u$i AS (SELECT m.j, m.c, pos.p, round(avg(s.vj[pos.p]), 6) AS val
         |  FROM m$i m JOIN sub s ON s.vec_id = m.vec_id AND s.j = m.j CROSS JOIN pos
         |  GROUP BY m.j, m.c, pos.p),
         |c$i AS (SELECT pc.j, pc.c,
         |    coalesce(list(u.val ORDER BY u.p) FILTER (u.val IS NOT NULL), pc.cv) AS cv
         |  FROM $p pc LEFT JOIN u$i u ON u.j = pc.j AND u.c = pc.c
         |  GROUP BY pc.j, pc.c, pc.cv)""".stripMargin
    }
    val cf = s"c$iters"
    val encode =
      s"""ea AS (SELECT s.vec_id, s.j, cf.c, ${sqd("s.vj", "cf.cv")} AS dist
         |  FROM sub s JOIN $cf cf ON cf.j = s.j),
         |eb AS (SELECT vec_id, j, c,
         |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn FROM ea),
         |code AS (SELECT vec_id, j, c FROM eb WHERE rn = 1)""".stripMargin
    prelude + ",\n" + rounds.mkString(",\n") + ",\n" + encode
  }

  /** Train + encode + ADC-serve replay over a caller-provided CTE block
    * that must END by defining `v(vec_id, v)` — shared verbatim by the
    * flat-PQ (q182) and OPQ-rotated (q193) oracles.
    */
  private def pqServeSql(vCtes: String): String = {
    val sd = 16 // 64-dim embeddings split into PqM=4 subspaces
    val sqd = pqSqd(sd) _
    val cf = s"c$PqIters"
    val epilogue =
      s"""qids AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT $PqQ),
         |qsub AS (SELECT vec_id AS q_id, j, vj FROM sub
         |  WHERE vec_id IN (SELECT vec_id FROM qids)),
         |tqd AS (SELECT q.q_id, q.j, cf.c, ${sqd("q.vj", "cf.cv")} AS td
         |  FROM qsub q JOIN $cf cf ON cf.j = q.j),
         |adc AS (SELECT t.q_id, cd.vec_id AS n_id,
         |    round(list_sum(list(t.td ORDER BY t.j)), 6) AS dist
         |  FROM code cd JOIN tqd t ON t.j = cd.j AND t.c = cd.c
         |  WHERE cd.vec_id != t.q_id
         |  GROUP BY t.q_id, cd.vec_id),
         |rk AS (SELECT q_id, n_id, dist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, n_id) AS rnk FROM adc)
         |SELECT q_id, n_id, rnk::INT AS rank, dist FROM rk WHERE rnk <= $PqTopK""".stripMargin
    s"""WITH $vCtes,
       |${pqTrainCtes(PqM, PqK, PqIters, sd)},
       |$epilogue""".stripMargin
  }

  private def pqAnnSql: String = pqServeSql(
    """v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings)""".stripMargin)

  /** The Walsh–Hadamard rotation replayed row-by-row: the ±1 matrix as a
    * VALUES literal, each rotated component the same t-ascending
    * `list_sum` / √d / round(…, 6) chain [[graft.similarity.OPQ.rotate]]
    * evaluates, then the q182 train/encode/serve replay verbatim.
    */
  private def opqAnnSql: String = {
    val dim = 64
    val rows = graft.similarity.OPQ.hadamardRows(dim).zipWithIndex.map { case (r, i) =>
      s"(${i + 1}, [${r.map(_.toInt).mkString(", ")}])"
    }.mkString(",\n    ")
    pqServeSql(
      s"""v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |hrows AS (SELECT * FROM (VALUES
         |    $rows) AS t(i, hr)),
         |v AS (SELECT v0.vec_id,
         |    list(round(list_sum(list_transform(range(1, ${dim + 1}),
         |      t -> v0.v[t] * hr[t])) / 8.0, 6) ORDER BY hrows.i) AS v
         |  FROM v0 CROSS JOIN hrows GROUP BY v0.vec_id)""".stripMargin)
  }

  /** From-scratch re-join of the FINAL row sets — what the delta path
    * must land on exactly.
    */
  private def joinViewSql: String =
    s"""WITH a AS (
       |  SELECT o_orderkey AS key, o_custkey AS grp FROM orders
       |  WHERE (o_orderdate < TIMESTAMP '$Cutoff' AND o_orderkey % $DeleteMod != 0)
       |     OR o_orderdate >= TIMESTAMP '$Cutoff'),
       |b AS (
       |  SELECT l_orderkey AS key, l_quantity::BIGINT AS value
       |  FROM lineitem
       |  WHERE (l_linenumber <= 4 AND l_orderkey % $BDeleteMod != 0) OR l_linenumber > 4)
       |SELECT a.grp AS o_custkey, count(*)::BIGINT AS n_lines,
       |  sum(b.value)::BIGINT AS qty_sum
       |FROM a JOIN b ON a.key = b.key GROUP BY a.grp""".stripMargin

  def oracleSql: Map[String, String] = baseOracleSql +
    // q226 serves the q204 view through the Z-ordered layout — same
    // answer by construction, same oracle verbatim
    ("q226_quantile_layout" -> baseOracleSql("q204_quantile_view")) +
    // q227 serves the q210 weighted view through the same layout
    ("q227_wq_layout" -> baseOracleSql("q210_weighted_quantile_view"))

  private def baseOracleSql: Map[String, String] = Map(
    "q168_salted_join" ->
      """SELECT o.o_orderpriority, count(*)::BIGINT AS n_lines,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority""".stripMargin,
    "q157_delta_agg" -> deltaAggSql,
    "q158_kmeans" -> kmeansSql,
    "q162_source_ablation" -> sourceAblationSql,
    "q164_coreset" -> coresetSql,
    "q182_pq_ann" -> pqAnnSql,
    "q193_opq_ann" -> opqAnnSql,
    "q186_join_view" -> joinViewSql,
    "q194_join_view_cents" ->
      s"""WITH a AS (
         |  SELECT o_orderkey AS key, o_custkey AS grp FROM orders
         |  WHERE (o_orderdate < TIMESTAMP '$Cutoff' AND o_orderkey % $DeleteMod != 0)
         |     OR o_orderdate >= TIMESTAMP '$Cutoff'),
         |b AS (
         |  SELECT l_orderkey AS key, round(l_extendedprice * 100)::BIGINT AS value
         |  FROM lineitem
         |  WHERE (l_linenumber <= 4 AND l_orderkey % $BDeleteMod != 0) OR l_linenumber > 4)
         |SELECT a.grp AS o_custkey, count(*)::BIGINT AS n_lines,
         |  sum(b.value)::BIGINT AS cents_sum
         |FROM a JOIN b ON a.key = b.key GROUP BY a.grp""".stripMargin,
    "q189_topk_group" ->
      """SELECT o_custkey, rank, o_orderkey, price FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC)::INT AS rank
        |  FROM orders) WHERE rank <= 3""".stripMargin,
    "q202_distinct_view" ->
      // from-scratch DISTINCT count over the final row set
      s"""WITH base AS (SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
         |  WHERE o_orderdate < TIMESTAMP '$Cutoff'),
         |final AS (
         |  SELECT * FROM base WHERE o_orderkey % $DeleteMod != 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$Cutoff')
         |SELECT o_custkey, count(DISTINCT o_orderpriority)::BIGINT AS n_distinct,
         |  count(*)::BIGINT AS n_rows
         |FROM final GROUP BY o_custkey""".stripMargin,
    "q200_topk_view" ->
      // from-scratch re-rank of the FINAL row set (the q157 change set)
      s"""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderdate < TIMESTAMP '$Cutoff'),
         |final AS (
         |  SELECT * FROM base WHERE o_orderkey % $DeleteMod != 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$Cutoff')
         |SELECT o_custkey, rank, o_orderkey, price FROM (
         |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, o_orderkey ASC)::INT AS rank
         |  FROM final) WHERE rank <= 3""".stripMargin,
    "q204_quantile_view" ->
      // from-scratch type-1 quantiles over the final row set: the value AT
      // rank clamp(ceil(q·n), 1, n) — the q103 rank walk over the q157
      // change set; the maintained cell state must land on it exactly
      s"""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderdate < TIMESTAMP '$Cutoff'),
         |final AS (
         |  SELECT * FROM base WHERE o_orderkey % $DeleteMod != 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$Cutoff'),
         |t AS (SELECT o_custkey AS g, o_totalprice AS v FROM final),
         |n AS (SELECT g, count(*) AS n FROM t GROUP BY 1),
         |qs AS (SELECT unnest([${QvQs.map(q => s"$q::DOUBLE").mkString(", ")}]) AS q),
         |r AS (SELECT g, q, least(n, greatest(1, ceil(q * n)::BIGINT)) AS rk
         |  FROM n CROSS JOIN qs),
         |o AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM t)
         |SELECT r.g AS o_custkey, r.q, o.v AS value
         |FROM r JOIN o ON o.g = r.g AND o.rn = r.rk""".stripMargin,
    "q206_column_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS "column", count(*)::BIGINT AS n,
           |  (count(*) - count($c))::BIGINT AS n_null,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::DOUBLE AS min_num, max($c)::DOUBLE AS max_num,
           |  NULL::BIGINT AS min_len, NULL::BIGINT AS max_len
           |FROM documents""".stripMargin
      def str(c: String) =
        s"""SELECT '$c', count(*)::BIGINT, (count(*) - count($c))::BIGINT,
           |  count(DISTINCT $c)::BIGINT, NULL::DOUBLE, NULL::DOUBLE,
           |  min(len($c))::BIGINT, max(len($c))::BIGINT
           |FROM documents""".stripMargin
      Seq(num("doc_id"), str("text"), str("lang"), str("source"), num("n_chars"))
        .mkString("\nUNION ALL\n")
    },
    "q207_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  (grouping(l_returnflag) * 2 + grouping(l_linestatus))::INT AS gid,
        |  count(*)::BIGINT AS n, sum(l_quantity::BIGINT)::BIGINT AS qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q208_fk_orphans" ->
      s"""WITH p AS (SELECT DISTINCT o_orderkey FROM orders
         |  WHERE o_orderdate < TIMESTAMP '$Cutoff'),
         |c AS (SELECT l_orderkey FROM lineitem),
         |o AS (SELECT l_orderkey FROM c
         |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.o_orderkey = c.l_orderkey))
         |SELECT (SELECT count(*) FROM c)::BIGINT AS n_child,
         |  count(*)::BIGINT AS n_orphans,
         |  count(DISTINCT l_orderkey)::BIGINT AS n_orphan_keys
         |FROM o""".stripMargin,
    "q209_key_uniqueness" ->
      """WITH m AS (SELECT o_custkey, count(*) AS m FROM orders GROUP BY 1)
        |SELECT sum(m)::BIGINT AS n, count(*)::BIGINT AS n_keys,
        |  count(*) FILTER (m > 1)::BIGINT AS n_dup_keys,
        |  max(m)::BIGINT AS max_multiplicity
        |FROM m""".stripMargin,
    "q220_pivot" ->
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity::BIGINT END)::BIGINT AS "F",
        |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity::BIGINT END)::BIGINT AS "O"
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q221_unpivot" ->
      """SELECT p_partkey, 'size' AS metric, p_size::DOUBLE AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'retailprice', p_retailprice::DOUBLE FROM part""".stripMargin,
    "q219_quantile_bounds" ->
      // rebuild the dyadic cell histogram from the final rows, walk the
      // same type-1 ranks, emit the bracketing cell's exact boundaries
      s"""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderdate < TIMESTAMP '$Cutoff'),
         |final AS (
         |  SELECT * FROM base WHERE o_orderkey % $DeleteMod != 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$Cutoff'),
         |t AS (SELECT o_custkey AS g,
         |  floor(o_totalprice / ${1 << QvScale}.0)::BIGINT AS cell FROM final),
         |h AS (SELECT g, cell, count(*)::BIGINT AS rc FROM t GROUP BY 1, 2),
         |n AS (SELECT g, sum(rc)::BIGINT AS n FROM h GROUP BY 1),
         |qs AS (SELECT unnest([${QvQs.map(q => s"$q::DOUBLE").mkString(", ")}]) AS q),
         |r AS (SELECT g, q, least(n, greatest(1, ceil(q * n)::BIGINT)) AS rk
         |  FROM n CROSS JOIN qs),
         |c AS (SELECT g, cell, rc,
         |  sum(rc) OVER (PARTITION BY g ORDER BY cell) AS cum FROM h)
         |SELECT r.g AS o_custkey, r.q,
         |  (c.cell * ${1 << QvScale})::DOUBLE AS lo,
         |  ((c.cell + 1) * ${1 << QvScale})::DOUBLE AS hi
         |FROM r JOIN c ON c.g = r.g AND c.cum >= r.rk AND c.cum - c.rc < r.rk""".stripMargin,
    "q217_freshness" ->
      // epoch arithmetic via epoch_ns // 1e9 (the repo-wide timestamp
      // parity rule: ::BIGINT on a double ROUNDS in DuckDB)
      s"""SELECT event_type, count(*)::BIGINT AS n,
         |  (epoch_ns(max(ts)) // 1000000000)::BIGINT AS last_seen,
         |  (epoch_ns(TIMESTAMP '$FreshAsOf') // 1000000000
         |    - epoch_ns(max(ts)) // 1000000000)::BIGINT AS lag_s
         |FROM events GROUP BY event_type""".stripMargin,
    "q215_bloom_join" ->
      // the plain join IS the oracle: Bloom pruning must be row-invisible
      """SELECT o.o_orderpriority, count(*)::BIGINT AS n_lines,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 400000
        |GROUP BY o.o_orderpriority""".stripMargin,
    "q213_zorder" -> {
      val terms = (0 until ZBits).flatMap { i =>
        Seq(
          s"(((doc_id % 1024) >> $i) & 1) * ${1L << (2 * i)}",
          s"(((n_chars % 1024) >> $i) & 1) * ${1L << (2 * i + 1)}")
      }
      s"""SELECT doc_id, (${terms.mkString(" + ")})::BIGINT AS z
         |FROM documents""".stripMargin
    },
    "q212_join_view3" ->
      // from-scratch re-join of the THREE final row sets — what the
      // seven-term composed delta path must land on exactly
      s"""WITH a AS (
         |  SELECT c_custkey AS ka, c_nationkey AS grp FROM customer
         |  WHERE (c_custkey % 3 != 0 AND c_custkey % $CDeleteMod != 0)
         |     OR c_custkey % 3 = 0),
         |b AS (
         |  SELECT o_custkey AS ka, o_orderkey AS kb FROM orders
         |  WHERE (o_orderdate < TIMESTAMP '$Cutoff' AND o_orderkey % $DeleteMod != 0)
         |     OR o_orderdate >= TIMESTAMP '$Cutoff'),
         |c AS (
         |  SELECT l_orderkey AS kb, l_quantity::BIGINT AS value FROM lineitem
         |  WHERE (l_linenumber <= 4 AND l_orderkey % $BDeleteMod != 0) OR l_linenumber > 4)
         |SELECT a.grp AS c_nationkey, count(*)::BIGINT AS n_lines,
         |  sum(c.value)::BIGINT AS qty_sum
         |FROM a JOIN b ON a.ka = b.ka JOIN c ON b.kb = c.kb
         |GROUP BY a.grp""".stripMargin,
    "q222_join_view4" ->
      // from-scratch re-join of the FOUR final row sets — what the
      // fifteen-term recursive delta path must land on exactly
      s"""WITH a AS (
         |  SELECT c_custkey AS ka, c_nationkey AS grp FROM customer
         |  WHERE (c_custkey % 3 != 0 AND c_custkey % $CDeleteMod != 0)
         |     OR c_custkey % 3 = 0),
         |b AS (
         |  SELECT o_custkey AS ka, o_orderkey AS kb FROM orders
         |  WHERE (o_orderdate < TIMESTAMP '$Cutoff' AND o_orderkey % $DeleteMod != 0)
         |     OR o_orderdate >= TIMESTAMP '$Cutoff'),
         |c AS (
         |  SELECT l_orderkey AS kb, l_partkey AS kc FROM lineitem
         |  WHERE (l_linenumber <= 4 AND l_orderkey % $BDeleteMod != 0) OR l_linenumber > 4),
         |d AS (
         |  SELECT p_partkey AS kc, p_size::BIGINT AS value FROM part
         |  WHERE (p_partkey % 4 != 1 AND p_partkey % $PDeleteMod != 0)
         |     OR p_partkey % 4 = 1)
         |SELECT a.grp AS c_nationkey, count(*)::BIGINT AS n_rows,
         |  sum(d.value)::BIGINT AS size_sum
         |FROM a JOIN b ON a.ka = b.ka JOIN c ON b.kb = c.kb JOIN d ON c.kc = d.kc
         |GROUP BY a.grp""".stripMargin,
    "q210_weighted_quantile_view" ->
      // weighted type-1 rank walk over the final row set: the value whose
      // cumulative weight first reaches clamp(ceil(q·W), 1, W) — the q197
      // definition over the q157 change set with mass o_orderkey % 7 + 1
      s"""WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         |  WHERE o_orderdate < TIMESTAMP '$Cutoff'),
         |final AS (
         |  SELECT * FROM base WHERE o_orderkey % $DeleteMod != 0
         |  UNION ALL
         |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$Cutoff'),
         |t AS (SELECT o_orderpriority AS g, o_totalprice AS v,
         |  (o_orderkey % 7 + 1)::BIGINT AS w FROM final),
         |n AS (SELECT g, sum(w)::BIGINT AS wtot FROM t GROUP BY 1),
         |qs AS (SELECT unnest([${WqvQs.map(q => s"$q::DOUBLE").mkString(", ")}]) AS q),
         |r AS (SELECT g, q, least(wtot, greatest(1, ceil(q * wtot)::BIGINT)) AS rk
         |  FROM n CROSS JOIN qs),
         |dv AS (SELECT g, v, sum(w) AS wv FROM t GROUP BY g, v),
         |c AS (SELECT g, v, wv,
         |  sum(wv) OVER (PARTITION BY g ORDER BY v) AS cum FROM dv)
         |SELECT r.g AS o_orderpriority, r.q, c.v AS value
         |FROM r JOIN c ON c.g = r.g AND c.cum >= r.rk AND c.cum - c.wv < r.rk""".stripMargin,
    "q166_next_event" ->
      """WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE user_id IS NOT NULL),
        |l AS (SELECT user_id, event_id, event_type AS label,
        |  lag(event_type, 3) OVER w AS h1,
        |  lag(event_type, 2) OVER w AS h2,
        |  lag(event_type, 1) OVER w AS h3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, h1, h2, h3, label FROM l WHERE h1 IS NOT NULL""".stripMargin
  )
}
