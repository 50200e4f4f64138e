package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Plan-shape regression gates — the scale properties PlanAudit checks by
  * hand, asserted in the suite so a refactor can't silently regress them:
  * filters pushed to the parquet scan, pruned read schemas, broadcasts
  * where intended, and never a CartesianProduct or single-partition
  * Exchange in a gated query.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(FormattedMode)
  }

  /** Simple-mode plan: operator arguments stay INLINE ("Exchange
    * SinglePartition"), where FormattedMode moves them to a detail section
    * the substring checks never see.
    */
  private def simplePlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** Both ALL-query sweeps (the cartesian/single-partition gate and the
    * large-Literal gate) pay the query CONSTRUCTION cost for every gated
    * query — and construction is where the iterative/stream gates run
    * real jobs (stream replays, peel rounds): ~8 min per sweep at round
    * 16, the bulk of this suite's wall-clock and a driver-budget breaker
    * (round-16 verdict item 1). Construct each query ONCE here and let
    * both sweeps read the cache; tests that re-plan under a modified
    * session conf (the broadcast-threshold toggles) stay on the direct
    * path, since a cached plan would not see the conf change.
    *
    * The cache is pinned to the suite's default plan conf, read when the
    * suite is constructed and before any test can toggle it: the cache is
    * built only under those values (checked), and every query is planned
    * as it is cached, so a later toggle cannot reach a cached plan.
    */
  private val planConfKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
  private def planConf = planConfKeys.map(k => k -> spark.conf.getOption(k))
  private val suitePlanConf = planConf

  private lazy val allQueryExecutions
      : Map[String, org.apache.spark.sql.execution.QueryExecution] = {
    assert(planConf == suitePlanConf,
      s"the sweep cache would be built under $planConf, not the suite's $suitePlanConf")
    SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
      qe.executedPlan // planned now, under the conf just checked
      n -> qe
    }.toMap
  }

  test("q02 filter is pushed to the parquet scan and the schema is pruned") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("l_quantity"), p)
    // only the 3 projected+filter columns are read, not all of lineitem
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("no gated query plans a CartesianProduct or a single-partition Exchange") {
    // q25 intentionally uses BroadcastNestedLoopJoin (query side broadcast).
    // A SinglePartition exchange is allowed ONLY under a scalar aggregate
    // (keys=[] — partial rows in, one row out: q48's doc count, q50's
    // token total); anywhere else it means corpus-sized data serializing
    // through one task. NOTE: this must read the SIMPLE-mode plan — the
    // round-3 FormattedMode form never matched, because formatted output
    // prints "Exchange" and puts "SinglePartition" in a detail line.
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val p = allQueryExecutions(name).executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
      val lines = p.linesIterator.toVector
      for (i <- lines.indices if lines(i).contains("Exchange SinglePartition")) {
        val parent = lines.take(i).reverseIterator.find(_.exists(c => c.isLetter))
        assert(
          parent.exists(l =>
            (l.contains("HashAggregate") || l.contains("SortAggregate")) && l.contains("keys=[]")),
          s"$name plans a single-partition Exchange not under a scalar aggregate:\n$p")
      }
    }
  }

  test("ANN probes broadcast the small side; corpus is never broadcast") {
    val p25 = plan("q25_ann_topk")
    assert(p25.contains("BroadcastNestedLoopJoin") || p25.contains("BroadcastExchange"), p25)
    val p32 = plan("q32_ann_ivf")
    assert(p32.contains("BroadcastHashJoin"), p32)
    // partial top-k before the shuffle: the WindowGroupLimit pushdown
    assert(p32.contains("WindowGroupLimit"), p32)
  }

  test("per-document kernel queries plan ZERO exchanges (pure map-side)") {
    // fingerprint, winnowing, simhash signatures, repetition stats, and
    // langid are per-document math fused into row expressions — any
    // Exchange appearing here means a refactor reintroduced a shuffle
    for (name <- Seq("q29_fingerprint", "q34_winnowing", "q22_dedup_simhash",
      "q35_repetition", "q26_langid")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name plans an Exchange:\n$p")
    }
  }

  test("assembly: split/sample are pure map-side; diversity prunes before its one exchange; order never re-scans") {
    // split assignment and stratified sampling are salted-hash expressions:
    // any Exchange here means the filter stopped fusing into the scan
    for (name <- Seq("q43_split", "q44_stratified")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name plans an Exchange:\n$p")
    }
    // diversity: per-partition top-quota (WindowGroupLimit) BEFORE the one
    // cell exchange — each map task ships at most quota rows per cell
    val p45 = plan("q45_diversity")
    assert(p45.contains("WindowGroupLimit"), p45)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p45).size == 1, p45)
    // global order: ONE parquet scan in the final plan (bucket counts were
    // materialized once, not re-aggregated per join side) and only the
    // bucket-window exchange plus the tiny offsets aggregate
    val p46 = plan("q46_shuffle_order")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p46).size == 1, p46)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p46).size <= 2, p46)
    // token budget: same two-pass shape as q46 — one scan (partial sums
    // checkpointed, not re-aggregated) and the bucket window + tiny
    // offsets exchanges
    val p58 = plan("q58_token_budget")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p58).size == 1, p58)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p58).size <= 2, p58)
    // histogram: cumulative sums via the broadcast bin self-join — the
    // corpus is scanned/aggregated ONCE (checkpoint), and nothing plans a
    // single-partition exchange (the global gate above also asserts this)
    val p59 = plan("q59_length_histogram")
    assert(!p59.contains("Scan parquet"), p59) // bins come from the checkpoint
  }

  test("pair pipelines: exchange counts bounded (bucket shuffle + pair distinct only)") {
    // signatures/band keys are per-row kernels, so the ONLY exchanges a
    // pair pipeline may plan are its bucket groupBy and the pair distinct;
    // exact dedup is its single content-hash groupBy. A third exchange
    // appearing here means signature work regressed into a shuffle.
    def exchanges(name: String): Int =
      "\\(\\d+\\) Exchange".r.findAllIn(plan(name)).size
    assert(exchanges("q20_dedup_exact") == 1)
    assert(exchanges("q21_dedup_minhash") <= 2)
    assert(exchanges("q33_simhash_pairs") <= 2)
  }

  test("corpus-statistics queries explode the corpus exactly once") {
    // vocabulary/tfidf/surprisal derive df/term-count relations via
    // unordered windows over the one exploded relation — a groupBy-join
    // formulation embeds a SECOND copy of the explode subplan (exchange
    // reuse cannot match it once join null-filters specialize a branch),
    // which at 100 TB is a second full pass over the corpus
    for (name <- Seq("q47_vocab", "q48_tfidf", "q50_surprisal")) {
      val p = plan(name)
      val explodes = "\\(\\d+\\) Generate".r.findAllIn(p).size
      assert(explodes == 1, s"$name plans $explodes explodes (want 1):\n$p")
    }
    // boilerplate: carrier counts via the fingerprint window — the text
    // is winnowed once (one Generate), plus only the id-projection scan
    val p53 = plan("q53_boilerplate")
    assert("\\(\\d+\\) Generate".r.findAllIn(p53).size == 1, p53)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p53).size <= 2, p53)
    // DSIR weights follow the same law (both corpus-count columns come
    // from windows over the ONE exploded relation), and the resample is
    // a TakeOrdered top-k — never a global sort of the corpus
    val p90 = plan("q90_importance")
    assert("\\(\\d+\\) Generate".r.findAllIn(p90).size == 1, p90)
    assert(p90.contains("TakeOrderedAndProject"), p90)
    assert(!simplePlan("q90_importance").matches("(?s).*\\bSort \\[key.*global=true.*"), p90)
  }

  test("round-6 shapes: PMI reads materialized counts; coverage and overlap scan-bounded") {
    // q70: the scalar-N branch and the marginal windows both read the
    // MATERIALIZED counts relation — no parquet scan, no Generate in the
    // final plan at all (the one explode ran inside the materialization
    // job; a regression re-embeds scan+explode once per branch)
    val p70 = plan("q70_pmi_collocations")
    assert(!p70.contains("Scan parquet"), p70)
    assert("\\(\\d+\\) Generate".r.findAllIn(p70).size == 0, p70)
    // q71: the split label is a pure id expression, so each coverage
    // branch filters its own scan — 3 scans total (test grams, train
    // grams, the join-back of gram-less test docs), one explode per
    // gram side; a regression to the splitAssign join doubles the scans
    val p71 = plan("q71_ngram_novelty")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p71).size <= 3, p71)
    assert("\\(\\d+\\) Generate".r.findAllIn(p71).size == 2, p71)
    // q72: the pair pipeline's one bucket explode plus its pair-expand —
    // the source-label joins must NOT re-signature the corpus
    val p72 = plan("q72_source_overlap")
    assert("\\(\\d+\\) Generate".r.findAllIn(p72).size <= 3, p72)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p72).size <= 3, p72)
  }

  test("round-5 dedup shapes: one-exchange carrier counts, no index-side re-signaturing") {
    // q65 segment dedup: ONE corpus explode; both carrier windows share
    // the segment-key exchange, reassembly is the second — a regression
    // to the distinct->groupBy->anti-join form shows 3 scans/3 exchanges
    val p65 = plan("q65_seg_dedup")
    assert("\\(\\d+\\) Generate".r.findAllIn(p65).size == 1, p65)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p65).size <= 2, p65)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p65).size <= 2, p65)
    // q66 incremental pairs: band kernels per-row on both sides — the only
    // blocking exchange is the join/distinct; one band explode per side
    val p66 = plan("q66_incremental_pairs")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p66).size <= 2, p66)
    assert("\\(\\d+\\) Generate".r.findAllIn(p66).size == 2, p66)
    // q67 estimate: signature agreement is a per-pair expression — no
    // extra explode beyond the LSH pair pipeline's own two
    val p67 = plan("q67_minhash_estimate")
    assert("\\(\\d+\\) Generate".r.findAllIn(p67).size == 2, p67)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p67).size <= 3, p67)
  }

  test("q21/q33 candidate generation is bucket-grouped, not a self-join re-scan") {
    // bucket-and-expand: exactly one parquet scan in the whole plan
    // (documents is the only input of both queries — a self-join
    // formulation would show two)
    for (name <- Seq("q21_dedup_minhash", "q33_simhash_pairs")) {
      val p = plan(name)
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$name has $scans parquet scans:\n$p")
    }
  }

  test("q77 funnel: one pruned scan into a scalar aggregate; q76 profile windows the tiny agg only") {
    // funnel: the rules fuse into ONE projection over ONE scan reading
    // only `text`, feeding a partial-aggregated global sum — adding a
    // rule must never add a scan, an exchange, or a wider read schema
    val p77 = plan("q77_quality_funnel")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p77).size == 1, p77)
    assert(p77.contains("graft_rep_stats"), p77)
    val readSchema = p77.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("source"), readSchema)
    assert(!simplePlan("q77_quality_funnel").contains("Exchange hashpartitioning"),
      "funnel shuffled rows beyond the scalar-aggregate merge")
    // profile: the corpus is folded into the materialized (cell, label)
    // aggregate — the final plan reads that tiny relation (never parquet),
    // windows on cell ONCE (rn=1 limited map-side), broadcasts the total
    val s76 = simplePlan("q76_cluster_profile")
    assert(!s76.contains("parquet"), s76)
    assert(s76.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, s76)
    assert(s76.contains("WindowGroupLimit"), s76)
    assert(s76.contains("BroadcastExchange"), s76)
  }

  test("round-8 shapes: per-source funnel one scan; curriculum/zipf never sort globally; entropy zero-exchange") {
    // q95: grouping the funnel by source must not add a scan or widen the
    // kernel pass — one scan reading (text, source), one group exchange
    val p95 = plan("q95_funnel_by_source")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p95).size == 1, p95)
    assert(p95.contains("graft_rep_stats"), p95)
    // q96: the two-pass rank plans window + broadcast offsets — a global
    // Sort of the corpus would be the single-partition anti-pattern
    val s96 = simplePlan("q96_curriculum")
    assert(!s96.matches("(?s).*Sort .*global=true.*"), s96)
    assert(s96.contains("BroadcastExchange"), s96)
    // q93: the entropy kernel is a pure projection — ZERO exchanges
    val s93 = simplePlan("q93_byte_entropy")
    assert(!s93.contains("Exchange"), s93)
    assert(s93.contains("graft_byte_entropy"), s93)
    // q94: the regression never sorts the vocab globally — the top-N cut
    // is TakeOrdered, the sums a scalar aggregate
    val p94 = plan("q94_zipf")
    assert(p94.contains("TakeOrderedAndProject"), p94)
    // q97: the LM relation is materialized once (its explode never
    // appears in the scoring plan — the totals and the join would
    // otherwise each re-run it); the batch explodes exactly once
    val p97 = plan("q97_frozen_lm")
    assert("\\(\\d+\\) Generate".r.findAllIn(p97).size == 1, p97)
  }

  test("round-8c shapes: domain cap prunes map-side; MAD never sorts a group; contamination broadcasts the bench") {
    // q108: the rank<=n filter must rewrite to WindowGroupLimit — each map
    // task pre-prunes to its local top-n per domain BEFORE the exchange
    val p108 = plan("q108_domain_cap")
    assert(p108.contains("WindowGroupLimit"), p108)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p108).size == 1, p108)
    // q109: the median/MAD refinement never plans a whole-group Sort — the
    // only sorts allowed are under SortAggregate/Window over the bounded
    // final-candidate relations; a global sort would be the scale-killer
    // the operator exists to avoid
    val s109 = simplePlan("q109_mad_outliers")
    assert(!s109.matches("(?s).*Sort .*global=true.*"), s109)
    // q110: the bench side is broadcast; the corpus side never exchanges
    val s110 = simplePlan("q110_sem_contamination")
    assert(s110.contains("BroadcastNestedLoopJoin"), s110)
    assert(!s110.contains("Exchange hashpartitioning"), s110)
    // q111: the key window exchange plus the tiny (from,to) count — and
    // nothing else; a third exchange would mean the lag pairing re-shuffled
    val s111 = simplePlan("q111_transitions")
    assert(s111.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2, s111)
    // q112: the df window and the rank window share ONE term exchange
    // (2 exchanges total: the (doc,term) combine + the term sort), and the
    // rank<=topK filter still plans a WindowGroupLimit between them —
    // postings beyond topK are pruned before the rank window materializes
    val s112 = simplePlan("q112_inverted_index")
    assert(s112.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2, s112)
    assert(s112.linesIterator.count(_.contains("Window [")) == 2, s112)
    assert(s112.contains("WindowGroupLimit"), s112)
    // q113: profile stats come back as a broadcast, never a re-shuffle of
    // the grid; no global sort anywhere
    val s113 = simplePlan("q113_rate_anomaly")
    assert(s113.contains("BroadcastExchange"), s113)
    assert(!s113.matches("(?s).*Sort .*global=true.*"), s113)
    // q115: the dictionary meets the token explode in a BROADCAST hash
    // join BEFORE any exchange — only matching tokens cross the wire
    val s115 = simplePlan("q115_blocklist")
    assert(s115.contains("BroadcastHashJoin"), s115)
    // q116: same no-global-sort law as q109 (shared quantile machinery)
    val s116 = simplePlan("q116_winsorize")
    assert(!s116.matches("(?s).*Sort .*global=true.*"), s116)
    // q117: every exchange hashes on the funnel key — per-step min-aggs
    // and joins reuse one partitioning; no window, no sort anywhere
    val s117 = simplePlan("q117_funnel")
    assert(!s117.contains("Window"), s117)
    assert(!s117.matches("(?s).*Sort .*global=true.*"), s117)
    for (l <- s117.linesIterator if l.contains("Exchange hashpartitioning"))
      assert(l.contains("k#"), s"funnel exchange not on the key: $l")
    // q118: the (cohort, offset) distinct-count is the only non-key
    // exchange; no global sort
    val s118 = simplePlan("q118_retention")
    assert(!s118.matches("(?s).*Sort .*global=true.*"), s118)
    // q123: the rank-1 merge prunes map-side (WindowGroupLimit) before
    // the one key exchange
    val s123 = simplePlan("q123_apply_changes")
    assert(s123.contains("WindowGroupLimit"), s123)
    assert(s123.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, s123)
    // q124: lag + running sum share ONE key exchange and one sort
    val s124 = simplePlan("q124_sessionize")
    assert(s124.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, s124)
    // q132: the per-group k-smallest prunes map-side (WindowGroupLimit —
    // each task ships at most k hashes per group into the exchange)
    val s132 = simplePlan("q132_kmv_by_day")
    assert(s132.contains("WindowGroupLimit"), s132)
    // q133: never a global sort; the spine and bounds come back broadcast
    val s133 = simplePlan("q133_volume_trend")
    assert(!s133.matches("(?s).*Sort .*global=true.*"), s133)
    assert(s133.contains("BroadcastExchange"), s133)
  }

  test("round-9 gates: q134 broadcasts the file-count scalar; q136 broadcasts bench grams and shuffles once") {
    // q134: table content cross-joined with the 1-row fileStats aggregate —
    // the scalar comes back broadcast, never a wide-side shuffle
    val s134 = simplePlan("q134_compact")
    assert(s134.contains("BroadcastNestedLoopJoin") || s134.contains("BroadcastExchange"), s134)
    assert(!s134.contains("CartesianProduct"), s134)
    // q136: bench grams broadcast (semi prefilter + id join); exactly ONE
    // exchange carries CORPUS rows — the (doc, bench) aggregate — while
    // the remaining exchanges are the eval-set-sized bench distincts
    val s136 = simplePlan("q136_contamination_spans")
    assert(s136.contains("BroadcastHashJoin"), s136)
    val exchanges136 = s136.linesIterator.filter(_.contains("Exchange hashpartitioning")).toVector
    assert(exchanges136.count(_.contains("doc_id")) == 1, s136)
    assert(exchanges136.forall(l => l.contains("doc_id") || l.contains("h#") || l.contains("bench_id")), s136)
    assert(!s136.matches("(?s).*Sort .*global=true.*"), s136)
    // q137: the surgery is a per-row fold — the CORPUS is never exploded
    // or globally sorted; islands ride a doc_id join back
    val s137 = simplePlan("q137_excise")
    assert(!s137.matches("(?s).*Sort .*global=true.*"), s137)
    assert(!s137.contains("CartesianProduct"), s137)
    // q138: historization is ONE key exchange + in-partition sort (lead)
    val s138 = simplePlan("q138_historize")
    assert(s138.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, s138)
    assert(!s138.matches("(?s).*Sort .*global=true.*"), s138)
    // q139: the CMS candidate screen runs at the SCAN side (a Filter over
    // the generate, before any exchange), and no global sort anywhere
    val s139 = simplePlan("q139_repeated_excise")
    assert(s139.contains("graft_cms_count_gte"), s139)
    assert(!s139.matches("(?s).*Sort .*global=true.*"), s139)
    assert(!s139.contains("CartesianProduct"), s139)
  }

  test("round-9b shapes: packing scans once and buckets; knn join degrades to a shuffled join; diff is one full-outer join") {
    // q142: ONE corpus scan (the bucket token totals come from the
    // materialized counts relation), ONE bucket exchange for the
    // in-bucket running sum, offsets broadcast back
    val p142 = plan("q142_pack_chunks")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p142).size == 1, p142)
    // corpus bucket exchange + the ≤nBuckets-row offset aggregate's own
    // shuffle (constant-size relation, then broadcast back)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p142).size <= 2, p142)
    assert(!simplePlan("q142_pack_chunks").matches("(?s).*Sort .*global=true.*"))
    // q143: the greedy walk is ONE (stratum, shard) exchange into the
    // sorted-group fold — never a global sort
    val s143 = simplePlan("q143_pack_greedy")
    assert(s143.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, s143)
    assert(!s143.matches("(?s).*Sort .*global=true.*"), s143)
    // q144: with broadcast disabled (the 100 TB situation — neither side
    // fits), the cell join MUST plan as a shuffled join, not fall back to
    // a nested-loop/cartesian
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val s144 = simplePlan("q144_knn_join")
      assert(s144.contains("SortMergeJoin") || s144.contains("ShuffledHashJoin"), s144)
      assert(!s144.contains("CartesianProduct") && !s144.contains("BroadcastNestedLoopJoin"), s144)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // q145: corpus filtered via the broadcast ≤#groups threshold relation
    val s145 = simplePlan("q145_adaptive_filter")
    assert(s145.contains("BroadcastHashJoin"), s145)
    assert(!s145.matches("(?s).*Sort .*global=true.*"), s145)
    // q146: one full-outer key join, pure projections after
    val s146 = simplePlan("q146_snapshot_diff")
    assert(s146.contains("FullOuter"), s146)
    assert(!s146.contains("CartesianProduct"), s146)
  }

  test("round-10 shapes: q147/q148 ride the shuffled cell join with broadcast disabled; " +
      "q149's blend is a pure per-row projection") {
    // q147/q148 inherit q144's both-sides-large contract: no broadcast
    // available → keyed shuffled join, never a nested-loop fallback
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (name <- Seq("q147_label_propagate", "q148_hard_negatives")) {
        val s = simplePlan(name)
        assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"), s"$name: $s")
        assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
          s"$name: $s")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // q149: the quantile refinement runs eagerly at build time (bounded
    // driver cut points); the RESULT plan is one scan + per-row CDF
    // expressions — zero exchanges, zero sorts, nothing wide
    val s149 = simplePlan("q149_cdf_blend")
    assert(!s149.contains("Exchange"), s149)
    assert(!s149.contains("Sort"), s149)
    assert("Scan parquet".r.findAllIn(s149).size == 1, s149)
    // q149's CDF kernel is the codegen'd binary-search expression
    // (evaluates the signal ONCE per row), not a HOF filter over the cut
    // array (which re-evaluates the signal per cut — the 15 s regression
    // this expression replaced; the signal itself may still contain HOFs)
    assert(s149.contains("graft_search_sorted_count"), s149)
  }

  test("round-10 shapes: q150's fusion is one aggregate over top-k lists with a " +
      "group-limited rank; q151 joins the corpus only against the broadcast probe panel") {
    // q150: inputs are top-k LISTS (≈ queries·k rows each), so the fuse
    // itself must be one hash aggregate + WindowGroupLimit — the heavy
    // lifting stays inside the upstream retrievers
    val s150 = simplePlan("q150_rrf_fuse")
    assert(s150.contains("WindowGroupLimit"), s150)
    assert(!s150.contains("CartesianProduct"), s150)
    assert(!s150.matches("(?s).*Sort .*global=true.*"), s150)
    // q151: every ablation width scans the corpus against the ≤|panel|-row
    // broadcast query side (q25's contract) — never a corpus-vs-corpus join
    val s151 = simplePlan("q151_dim_ablation")
    assert(!s151.contains("CartesianProduct"), s151)
    assert(!s151.contains("SortMergeJoin"), s151)
    assert(s151.contains("BroadcastNestedLoopJoin") || s151.contains("BroadcastHashJoin"), s151)
    // q152: the candidate-fetch join rides a broadcast of the ≤ panel·n
    // top-k list (the corpus scan is never shuffled); the greedy itself
    // exchanges only the candidate rows on q_id into MapGroups
    val s152 = simplePlan("q152_mmr_rerank")
    assert(s152.contains("BroadcastHashJoin"), s152)
    assert(!s152.contains("CartesianProduct"), s152)
    assert(s152.contains("MapGroups"), s152)
  }

  test("no gated query plan inlines a large Literal; IVF gates carry no centroid Literals") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import org.apache.spark.unsafe.types.UTF8String

    def literals(name: String): Seq[Literal] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Literal]
      allQueryExecutions(name).optimizedPlan.foreach { node =>
        node.expressions.foreach(_.foreach { case l: Literal => buf += l; case _ => () })
      }
      buf.toSeq
    }
    def approxBytes(l: Literal): Long = l.value match {
      case a: ArrayData => a.numElements().toLong * 8L
      case s: UTF8String => s.numBytes().toLong
      case b: Array[Byte] => b.length.toLong
      case _ => 8L
    }
    // the round-8 finding: centroid matrices (and any filter/sketch blob)
    // must ride broadcasts, never the serialized plan. A >1 MB Literal is
    // re-shipped inside EVERY task binary that evaluates it.
    for (name <- SparkEntry.queries.keys.toSeq.sorted; l <- literals(name))
      assert(approxBytes(l) < (1L << 20),
        s"$name inlines a ${approxBytes(l)}-byte Literal into the plan: ${l.dataType}")
    // the six IVF gates specifically: no float-array Literal of embedding
    // width anywhere (a reintroduced `lit(centroid)` re-creates the 6 MiB
    // task binaries even though each single literal is small)
    for (name <- Seq("q25_ann_topk", "q31_ann_lsh", "q32_ann_ivf",
        "q52_quantized_ann", "q91_semantic_dedup", "q122_ann_recall",
        "q144_knn_join", "q147_label_propagate", "q148_hard_negatives")) {
      val centroidish = literals(name).filter { l =>
        l.dataType match {
          case ArrayType(FloatType, _) =>
            l.value.asInstanceOf[ArrayData].numElements() >= 64
          case _ => false
        }
      }
      assert(centroidish.isEmpty,
        s"$name inlines ${centroidish.size} embedding-width float-array Literal(s) " +
          "— centroids/hyperplanes must ride a broadcast bank (CellScoresB)")
    }
  }

  test("round-10 graph shapes: iterative state is materialized (lineage cut); " +
      "the triangle wedge join is keyed, never nested-loop") {
    // q154/q156 return ITERATED state: the result plan must scan the
    // materialized (checkpointed) rank/reached relation, not replay a
    // 5-iteration join lineage — a replayed lineage would re-execute every
    // round on each downstream action, exactly the scale bug Materialize
    // exists to prevent.
    for (name <- Seq("q154_pagerank", "q156_khop")) {
      val s = simplePlan(name)
      assert(s.contains("ExistingRDD") || s.contains("LocalTableScan"), s"$name: $s")
      assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin"),
        s"$name result plan should read materialized state, not replay the loop: $s")
    }
    // q155 (round-16 shape): triangles come from the degree-oriented
    // ADJACENCY-INTERSECTION — two keyed equi-joins of the edge relation
    // against the √E-bounded out-neighbor arrays plus a per-edge
    // array_intersect explode, never a nested loop and never a
    // materialized wedge relation (the round-10/11 wedge join + Bloom
    // prefilter paid per-wedge join/exchange machinery for ~48M mostly
    // non-closing candidates at sf0.1; the intersection does the same
    // comparisons as primitive array ops in one codegen stage).
    val s155 = simplePlan("q155_triangles")
    assert(!s155.contains("BroadcastNestedLoopJoin") && !s155.contains("CartesianProduct"), s155)
    assert(s155.contains("SortMergeJoin") || s155.contains("ShuffledHashJoin") ||
      s155.contains("BroadcastHashJoin"), s155)
    assert(s155.contains("array_intersect"),
      s"q155 must enumerate triangles by adjacency intersection:\n$s155")
    assert(!s155.contains("graft_bloom_might_contain"),
      s"the wedge Bloom prefilter is retired — no wedge rows cross an exchange:\n$s155")
    // q160 follows q154's contract (materialized iterated state); q161
    // follows q155's (keyed joins + adjacency intersection)
    val s160 = simplePlan("q160_trustrank")
    assert(s160.contains("ExistingRDD") || s160.contains("LocalTableScan"), s160)
    assert(!s160.contains("SortMergeJoin") && !s160.contains("BroadcastHashJoin"), s160)
    val s161 = simplePlan("q161_edge_jaccard")
    assert(!s161.contains("BroadcastNestedLoopJoin") && !s161.contains("CartesianProduct"), s161)
    assert(s161.contains("array_intersect"),
      s"q161 must enumerate triangles by adjacency intersection:\n$s161")
  }

  test("round-10 maintenance shapes: q157's max recompute is dirty-key-restricted; " +
      "q158's assignment is a single pure-map scan") {
    // q157: the IVM contract — deletes reach the base only through
    // semi/anti joins (dirty-restricted recompute), never a second full
    // re-aggregate of every key.
    val s157 = simplePlan("q157_delta_agg")
    assert(s157.contains("LeftSemi"), s157)
    assert(s157.contains("LeftAnti"), s157)
    assert(!s157.contains("CartesianProduct") && !s157.contains("BroadcastNestedLoopJoin"), s157)
    // q158: after the Lloyd rounds run (driver-held k·dim state), the
    // RETURNED assignment is one parquet scan + per-row distance
    // expressions — no join, no exchange, no window.
    val s158 = simplePlan("q158_kmeans")
    assert("Scan parquet".r.findAllIn(s158).size == 1, s158)
    assert(!s158.contains("Exchange"), s158)
    assert(!s158.contains("Join"), s158)
    // q162: the totals ride a broadcast 1-row cross join over the
    // MATERIALIZED per-group partials — one corpus scan total, never two
    val s162 = simplePlan("q162_source_ablation")
    assert(!s162.contains("Scan parquet"), s162) // partials are checkpointed
    assert(s162.contains("BroadcastNestedLoopJoin") || s162.contains("BroadcastHashJoin"), s162)
    // q163 = q21's pair pipeline + pure row expressions: the split labels
    // must add ZERO exchanges over the q21 plan
    val ex163 = "Exchange".r.findAllIn(simplePlan("q163_split_leakage")).size
    val ex21 = "Exchange".r.findAllIn(simplePlan("q21_dedup_minhash")).size
    assert(ex163 == ex21, s"q163 adds exchanges over q21: $ex163 vs $ex21")
    // q164: the selection ran at build time (k·dim driver state); the
    // result is a driver-local k-row relation
    val s164 = simplePlan("q164_coreset")
    assert(s164.contains("LocalTableScan") || s164.contains("LocalRelation"), s164)
    // q165: the frame fan-out and the aHash are DECLARATIVE since round 11
    // (sequence+explode + the graft_ahash48 codegen kernel — no .rdd hop,
    // so the parquet scan stays in the pipeline); pairs off the ONE bucket
    // shuffle — never a frame self-join
    val s165 = simplePlan("q165_frame_dedup")
    assert(!s165.contains("ExistingRDD"), s"q165 regressed to an RDD scan:\n$s165")
    assert(s165.contains("graft_ahash48") && s165.contains("Scan parquet"), s165)
    assert(!s165.contains("CartesianProduct") && !s165.contains("BroadcastNestedLoopJoin")
      && !s165.contains("SortMergeJoin"), s165)
    // q166: one keyed exchange feeding one Window — no join, no second sort
    val s166 = simplePlan("q166_next_event")
    assert("Exchange".r.findAllIn(s166).size == 1, s166)
    assert(!s166.contains("Join"), s166)
    assert("Window".r.findAllIn(s166).size >= 1, s166)
    // q167: one pruned scan into one grouped aggregate
    val s167 = simplePlan("q167_shard_manifest")
    assert("Scan parquet".r.findAllIn(s167).size == 1, s167)
    assert(!s167.contains("Join") && !s167.contains("Window"), s167)
    // q168: the small side replicates via Generate (explode), the join
    // keys carry the salt — never a nested-loop
    val s168 = simplePlan("q168_salted_join")
    assert(s168.contains("Generate"), s168)
    assert(s168.contains("__salt"), s168)
    assert(!s168.contains("CartesianProduct") && !s168.contains("BroadcastNestedLoopJoin"), s168)
    // q169: one scan into one grouped aggregate (algebraic corr moments)
    val s169 = simplePlan("q169_signal_corr")
    assert("Scan parquet".r.findAllIn(s169).size == 1, s169)
    assert(!s169.contains("Join") && !s169.contains("Window"), s169)
    // q170: the per-stratum top-n holds back rows BEFORE the exchange
    val s170 = simplePlan("q170_quota_sample")
    assert(s170.contains("WindowGroupLimit"), s170)
    assert(!s170.contains("Join"), s170)
  }

  test("round-11 shapes: bm25's top-k never global-sorts; ks/jaccard ride checkpointed " +
      "partials; the graph loops return checkpointed state; attribution is one exchange, no join") {
    // q171: the final cut is TakeOrderedAndProject (each task ships ≤ topK
    // rows) — a row_number over the full scored relation would be the
    // banned single-partition exchange
    val s171 = simplePlan("q171_bm25")
    assert(s171.contains("TakeOrderedAndProject"), s171)
    assert(!s171.contains("CartesianProduct"), s171)
    // q172: the (group, value) partials are checkpointed — the KS grid,
    // cumulative window, and max aggregate never rescan the corpus
    val s172 = simplePlan("q172_ks_drift")
    assert(!s172.contains("Scan parquet"), s172)
    assert(s172.contains("Window"), s172)
    // q173/q174: the iterative loops ran at build time; the returned state
    // is checkpointed (LPA) / a bounded aggregate over checkpointed edges
    // (k-core) — no parquet rescan in either final plan
    val s173 = simplePlan("q173_communities")
    assert(s173.contains("ExistingRDD") || s173.contains("LocalTableScan"), s173)
    val s174 = simplePlan("q174_kcore")
    assert(!s174.contains("Scan parquet"), s174)
    assert(s174.contains("HashAggregate"), s174)
    // q175: candidates come from the prefix equi-join over checkpointed
    // token partials — never a cartesian, never a corpus-side broadcast
    // nested loop; the per-doc prefix window is doc-partitioned.
    // Verification (round 17) counts shared terms by packed-array
    // intersection — the posting-list fan-out join/aggregate is gone
    val s175 = simplePlan("q175_jaccard_join")
    assert(!s175.contains("Scan parquet"), s175)
    assert(!s175.contains("CartesianProduct") && !s175.contains("BroadcastNestedLoopJoin"), s175)
    assert(s175.contains("array_intersect"),
      s"q175 must verify candidates by packed-array intersection:\n$s175")
    // q176: ONE keyed exchange for the running-carry window; the
    // attribution is a filter over the carry — no self-join
    val s176 = simplePlan("q176_attribution")
    assert(!s176.contains("Join"), s176)
    assert("Exchange".r.findAllIn(s176).size == 1, s176)
    assert(s176.contains("Window"), s176)
    // q178: the pair fan-out is MAP-SIDE off the MATERIALIZED per-basket
    // sets (a Generate over the collected set — a basket-key self-join
    // would pay three exchanges; un-checkpointed, each consumer would
    // re-scan the input); no cartesian anywhere
    val s178 = simplePlan("q178_frequent_pairs")
    assert(s178.contains("Generate"), s178)
    assert(!s178.contains("Scan parquet"), s178)
    assert(!s178.contains("CartesianProduct"), s178)
    // q179: the CC engine returns driver-resolved labels at gate scale
    // (bounded union-find below localPairs) — a local relation, no scan
    val s179 = simplePlan("q179_components")
    assert(s179.contains("LocalTableScan") || s179.contains("ExistingRDD")
      || s179.contains("LocalRelation"), s179)
  }

  test("round-12 shapes: scc returns checkpointed assignments + a bounded anti-join " +
      "sweep — no parquet rescan, no cartesian, no single-partition exchange") {
    val s180 = simplePlan("q180_scc")
    assert(!s180.contains("Scan parquet"), s180)
    assert(!s180.contains("CartesianProduct") && !s180.contains("BroadcastNestedLoopJoin"), s180)
    assert(!s180.contains("Exchange SinglePartition"), s180)
    assert(s180.contains("ExistingRDD") || s180.contains("LocalTableScan"), s180)
    // q183: the Bellman–Ford loop ran at build time; the returned distance
    // state is checkpointed — no parquet rescan, no cartesian
    val s183 = simplePlan("q183_sssp")
    assert(!s183.contains("Scan parquet"), s183)
    assert(!s183.contains("CartesianProduct"), s183)
    assert(s183.contains("ExistingRDD") || s183.contains("LocalTableScan"), s183)
    // q184: the weighted rank loop's returned state is checkpointed like
    // q154's — no rescan, no cartesian (the dangling scalar is a literal)
    val s184 = simplePlan("q184_weighted_pagerank")
    assert(!s184.contains("Scan parquet"), s184)
    assert(!s184.contains("CartesianProduct"), s184)
    // q185: the cosine join rides the same checkpointed prefix machinery
    // as q175 — no corpus rescan, no cartesian, no broadcast nested loop;
    // round-17 packed-array intersection verification, like q175
    val s185 = simplePlan("q185_cosine_join")
    assert(!s185.contains("Scan parquet"), s185)
    assert(!s185.contains("CartesianProduct") && !s185.contains("BroadcastNestedLoopJoin"), s185)
    assert(s185.contains("array_intersect"),
      s"q185 must verify candidates by packed-array intersection:\n$s185")
    // q186: the delta-join view merge is keyed joins + one full-outer on
    // the group key — never a cartesian, never a single-partition exchange
    val s186 = simplePlan("q186_join_view")
    assert(!s186.contains("CartesianProduct") && !s186.contains("BroadcastNestedLoopJoin"), s186)
    assert(!s186.contains("Exchange SinglePartition"), s186)
    // q188: the BFS loop ran at build time; the readout aggregates the
    // checkpointed pair relation — no parquet rescan, no cartesian
    val s188 = simplePlan("q188_closeness")
    assert(!s188.contains("Scan parquet"), s188)
    assert(!s188.contains("CartesianProduct"), s188)
    // q189: the bounded top-k AGGREGATE — ObjectHashAggregate with O(k)
    // state, never a Window (whose per-task full-group sort is the idiom
    // this replaces)
    val s189 = simplePlan("q189_topk_group")
    assert(s189.contains("ObjectHashAggregate"), s189)
    assert(!s189.contains("Window"), s189)
    // q191: the IVFPQ serving plan — ONE corpus scan (residual + encode +
    // score fused), the ADC bank kernel in-plan, the bounded top-k cut,
    // no window, no cartesian
    val s191 = simplePlan("q191_ivfpq")
    assert("Scan parquet".r.findAllIn(s191).size == 1, s191)
    assert(s191.contains("graft_adc_dists"), s191)
    assert(s191.contains("ObjectHashAggregate") && !s191.contains("Window"), s191)
    assert(!s191.contains("CartesianProduct"), s191)
  }

  test("round-12 shapes: sampleFrames keeps the parquet scan in the pipeline — " +
      "sequence+explode fan-out, no RDD boundary") {
    val s38 = simplePlan("q38_media_frames")
    assert(s38.contains("Scan parquet"), s38)
    assert(s38.contains("Generate"), s38)
    assert(!s38.contains("ExistingRDD"), s38)
  }

  test("round-12 shapes: pq ann scores CODES through the broadcast ADC bank — one " +
      "corpus scan, the kernel in-plan (no Q·m·k literal), no cartesian") {
    val s182 = simplePlan("q182_pq_ann")
    // the serving scan: the corpus is read once for the encode+score pass
    assert("Scan parquet".r.findAllIn(s182).size == 1, s182)
    // distances come from the broadcast-bank kernel, not a shipped literal
    assert(s182.contains("graft_adc_dists"), s182)
    assert(!s182.contains("CartesianProduct") && !s182.contains("BroadcastNestedLoopJoin"), s182)
    // per-query top-k is the BOUNDED aggregate — never a window (whose
    // per-task sort would materialize corpus × Q scores), never a global sort
    assert(!s182.contains("Exchange SinglePartition"), s182)
    assert(s182.contains("ObjectHashAggregate") && !s182.contains("Window"), s182)
  }

  test("round-13 shapes: the quantile seed is ONE ObjectHashAggregate scan over the " +
      "data (the dyadic histogram), and the q103 readout is a local relation") {
    import org.apache.spark.sql.functions.col
    // the seeding aggregation exactQuantiles issues: map-side partial +
    // final ObjectHashAggregate around one exchange, the kernel in-plan,
    // one parquet scan, never a Window or a single-partition exchange
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_extendedprice").cast("double").as("v"))
      .where(col("v").isNotNull)
    val seed = li.groupBy(col("g"))
      .agg(graft.plans.DyadicHistAgg.column(col("v"), 1024).as("h"))
    val p = seed.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(p).size == 2, p) // partial + final
    assert(p.contains("graft_dyadic_hist"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Window") && !p.contains("Exchange SinglePartition"), p)
    // the gate's returned relation: refinement ran at build time, the
    // |groups|·|qs| readout is local — no parquet rescan at read time
    val s103 = simplePlan("q103_quantiles")
    assert(!s103.contains("Scan parquet"), s103)
    assert(s103.contains("ExistingRDD") || s103.contains("LocalTableScan"), s103)
  }

  test("round-13 shapes: OPQ rotation FUSES into the encode+serve scan — one corpus " +
      "scan with the dot kernels in-plan, bounded top-k, no window, no cartesian") {
    val s193 = simplePlan("q193_opq_ann")
    // rotate → encode → ADC-score is one pass of the corpus (queries were
    // collected at build time, the q182 convention)
    assert("Scan parquet".r.findAllIn(s193).size == 1, s193)
    assert(s193.contains("graft_dot"), s193)    // the rotation kernels
    assert(s193.contains("graft_adc_dists"), s193)
    assert(s193.contains("ObjectHashAggregate") && !s193.contains("Window"), s193)
    assert(!s193.contains("CartesianProduct") && !s193.contains("BroadcastNestedLoopJoin"), s193)
    assert(!s193.contains("Exchange SinglePartition"), s193)
    // q195: both Brandes sweeps ran at build time over materialized
    // levels; the readout folds the checkpointed delta relations — no
    // parquet rescan, no cartesian (the q188/q183 convention)
    val s195 = simplePlan("q195_betweenness")
    assert(!s195.contains("Scan parquet"), s195)
    assert(!s195.contains("CartesianProduct"), s195)
    assert(s195.contains("ExistingRDD") || s195.contains("LocalTableScan"), s195)
    // q200: the top-k VIEW merge resolves its pool through the bounded
    // aggregate — ObjectHashAggregate, never a Window (whose full-group
    // sort is exactly what the view maintenance exists to avoid), no
    // cartesian, no single-partition exchange
    val s200 = simplePlan("q200_topk_view")
    assert(s200.contains("ObjectHashAggregate"), s200)
    assert(!s200.contains("Window"), s200)
    assert(!s200.contains("CartesianProduct"), s200)
    assert(!s200.contains("Exchange SinglePartition"), s200)
    // q194: the money-typed join-view delta — keyed joins only, like q186
    val s194 = simplePlan("q194_join_view_cents")
    assert(!s194.contains("CartesianProduct") && !s194.contains("BroadcastNestedLoopJoin"), s194)
    assert(!s194.contains("Exchange SinglePartition"), s194)
    // q198: the truss readout joins the fixpoint edge set (checkpointed)
    // with one support recompute — no parquet rescan, no cartesian
    val s198 = simplePlan("q198_ktruss")
    assert(!s198.contains("Scan parquet"), s198)
    assert(!s198.contains("CartesianProduct"), s198)
    // q204: the quantile-view serve — rank bracketing over the BOUNDED
    // state, candidates BROADCAST back onto the base (an equi hash join,
    // never a nested loop), windows always keyed (group / group+q
    // partitions over state-sized relations, never a global sort)
    val s204 = simplePlan("q204_quantile_view")
    assert(s204.contains("BroadcastHashJoin"), s204)
    assert(!s204.contains("CartesianProduct") && !s204.contains("BroadcastNestedLoopJoin"), s204)
    assert(!s204.contains("Exchange SinglePartition"), s204)
    // q206: the column profile melts ONCE (one Generate over one scan) and
    // aggregates by column name — never one job per column, never a
    // single-partition exchange
    val s206 = simplePlan("q206_column_profile")
    assert(s206.contains("Generate"), s206)
    assert("Scan parquet".r.findAllIn(s206).size == 1, s206)
    assert(!s206.contains("Exchange SinglePartition"), s206)
    // q207: all rollup levels ride ONE Expand + map-side partials — one
    // scan, no per-level re-aggregation jobs
    val s207 = simplePlan("q207_rollup")
    assert(s207.contains("Expand"), s207)
    assert("Scan parquet".r.findAllIn(s207).size == 1, s207)
    assert(!s207.contains("Exchange SinglePartition"), s207)
    // q208: the orphan screen is ONE keyed existence join feeding one
    // aggregate — never a nested loop, never a second child pass for the
    // total (the scalar readout reduces AFTER map-combined partials)
    val s208 = simplePlan("q208_fk_orphans")
    assert(s208.contains("LeftOuter"), s208)
    assert(!s208.contains("CartesianProduct") && !s208.contains("BroadcastNestedLoopJoin"), s208)
    // q210: the weighted serve shares q204's shape — broadcast candidates
    // onto the base, keyed windows only over state-sized relations
    val s210 = simplePlan("q210_weighted_quantile_view")
    assert(s210.contains("BroadcastHashJoin"), s210)
    assert(!s210.contains("CartesianProduct") && !s210.contains("BroadcastNestedLoopJoin"), s210)
    assert(!s210.contains("Exchange SinglePartition"), s210)
    // q212: the composed three-way delta — keyed equi joins only (seven
    // delta-restricted terms), never a cartesian, never a global sort
    val s212 = simplePlan("q212_join_view3")
    assert(!s212.contains("CartesianProduct") && !s212.contains("BroadcastNestedLoopJoin"), s212)
    assert(!s212.contains("Exchange SinglePartition"), s212)
    // q215: the Bloom prune sits ON the large-side scan pipeline — the
    // kernel in-plan, filtering BEFORE any exchange the join needs
    val s215 = simplePlan("q215_bloom_join")
    assert(s215.contains("graft_bloom_might_contain"), s215)
    assert(!s215.contains("CartesianProduct") && !s215.contains("BroadcastNestedLoopJoin"), s215)
    // q216: the Borůvka rounds ran at build time over materialized state;
    // the returned forest is checkpointed — no parquet rescan, no
    // cartesian (the q180/q195 loop convention)
    val s216 = simplePlan("q216_msf")
    assert(!s216.contains("Scan parquet"), s216)
    assert(!s216.contains("CartesianProduct"), s216)
    // q218: node labeling joins the (lazy) edge relation with the
    // checkpointed cluster labels — keyed joins only
    val s218 = simplePlan("q218_single_linkage")
    assert(!s218.contains("CartesianProduct") && !s218.contains("BroadcastNestedLoopJoin"), s218)
    assert(!s218.contains("Exchange SinglePartition"), s218)
    // q220: DECLARED pivot values — one conditional-aggregate pass, no
    // distinct-values pre-scan, no Expand
    val s220 = simplePlan("q220_pivot")
    assert("Scan parquet".r.findAllIn(s220).size == 1, s220)
    assert(!s220.contains("Expand"), s220)
    // q221: the built-in unpivot melts through ONE Expand over one scan
    val s221 = simplePlan("q221_unpivot")
    assert(s221.contains("Expand"), s221)
    assert("Scan parquet".r.findAllIn(s221).size == 1, s221)
    // q222: the recursive four-way delta — keyed equi joins only
    // (fifteen delta-restricted terms), delta sides broadcast (the
    // mergeJoinView3Delta contract generalized), never a cartesian,
    // never a global sort
    val s222 = simplePlan("q222_join_view4")
    assert(s222.contains("BroadcastHashJoin"), s222)
    assert(!s222.contains("CartesianProduct") && !s222.contains("BroadcastNestedLoopJoin"), s222)
    assert(!s222.contains("Exchange SinglePartition"), s222)
    // q223: the forced-refinement variant still serves from a local
    // relation — every refinement round ran at build time as bounded
    // broadcast-state aggregations, never a read-time parquet rescan
    val s223 = simplePlan("q223_quantile_refine")
    assert(!s223.contains("Scan parquet"), s223)
    assert(s223.contains("ExistingRDD") || s223.contains("LocalTableScan"), s223)
    // q226: the layout serve's candidate restriction reaches the parquet
    // scan as pushed IN-filters (row-group pruning on the stored (bucket,
    // cell) columns); the bracket join stays broadcast, never a loop join
    // formatted mode: the simple string truncates scan metadata at
    // maxMetadataStringLength, hiding the PushedFilters list
    val f226 = plan("q226_quantile_layout")
    assert(f226.contains("PushedFilters") && f226.contains("In(cell"), f226)
    val s226 = simplePlan("q226_quantile_layout")
    assert(s226.contains("BroadcastHashJoin"), s226)
    assert(!s226.contains("CartesianProduct") && !s226.contains("BroadcastNestedLoopJoin"), s226)
    // q227: the weighted layout serve shares the shape
    val f227 = plan("q227_wq_layout")
    assert(f227.contains("PushedFilters") && f227.contains("In(cell"), f227)
    // q228: CUSUM is ONE keyed exchange + one sort feeding the whole
    // window chain (cumsum + running min collapse onto the same frame) —
    // never a global sort, never a second shuffle of the data
    val s228 = simplePlan("q228_cusum")
    assert("Exchange hashpartitioning".r.findAllIn(s228).size == 1, s228)
    assert(s228.contains("Window"), s228)
    assert("Scan parquet".r.findAllIn(s228).size == 1, s228)
    assert(!s228.contains("Exchange SinglePartition"), s228)
  }

  test("round-15 shapes: the streaming wedge probe broadcasts every probe-derived " +
      "relation — the adjacency never shuffles on a probe's account") {
    // range-backed inputs (Seq-backed relations constant-fold at plan
    // time); a 3-regular-ish synthetic graph with a delta-sized probe
    val g = spark.range(0, 2000).selectExpr("id as u", "((id * 7 + 3) % 2000) as v")
      .where("u < v")
    val p = spark.range(0, 20).selectExpr("id as u", "((id * 7 + 3) % 2000) as v")
      .where("u < v")
    val s = graft.streaming.IngestTriangles.orientedWedges(p, g)
      .queryExecution.executedPlan.toString
    // the probe side broadcasts into the wedge expansion AND into the
    // endpoint-degree semi-join; the adjacency side is scan → filter →
    // hash probe, no shuffle of the big side for the join itself
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"adjacency must never shuffle on the probe's account:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // closedTriples keeps the closing check a SEMI probe
    val sc = graft.streaming.IngestTriangles.closedTriples(p, g)
      .queryExecution.executedPlan.toString
    assert(sc.contains("LeftSemi"), sc)
    assert(!sc.contains("CartesianProduct") && !sc.contains("BroadcastNestedLoopJoin"), sc)
    // the k-core maintainers' adjacency lookup: the store side is scan →
    // broadcast-semi probe, never shuffled on a candidate set's account
    val nodes = spark.range(0, 20).selectExpr("id as node")
    val sa = graft.streaming.IngestKCore.adjOf(g, nodes)
      .queryExecution.executedPlan.toString
    assert(sa.contains("BroadcastHashJoin") && sa.contains("LeftSemi"), sa)
    assert(!sa.contains("SortMergeJoin") && !sa.contains("ShuffledHashJoin"),
      s"the edge store must never shuffle for an adjacency probe:\n$sa")
  }

  test("round-16 shapes: affectedSubgraph's bulk path broadcasts the roots relation " +
      "(label store never shuffles); the isin fast path partition-prunes the scan") {
    val t = "psr16_labels"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      spark.range(0, 2000).selectExpr("id as node", "(id % 50) as component")
        .withColumn("bkt", pmod(hash(col("component")), lit(8)))
        .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(t)
      val prev = spark.table(t)
      // range-backed roots (Seq-backed relations constant-fold at plan time)
      val roots = spark.range(0, 10).select(col("id").as("component"),
        pmod(hash(col("id")), lit(8)).as("bkt"))
      val bulk = graft.streaming.IngestComponentsCdc
        .affectedMembers(prev, roots, nRoots = 10L, isinRootLimit = 0)
        .queryExecution.executedPlan.toString
      assert(bulk.contains("BroadcastHashJoin") && bulk.contains("LeftSemi"), bulk)
      assert(!bulk.contains("SortMergeJoin") && !bulk.contains("ShuffledHashJoin"),
        s"the label store must never shuffle on the roots' account:\n$bulk")
      val isin = graft.streaming.IngestComponentsCdc
        .affectedMembers(prev, roots, nRoots = 10L, isinRootLimit = 1000)
        .queryExecution.executedPlan.toString
      val scanLine = isin.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(scanLine.contains("bkt"), s"isin path must partition-prune on bkt:\n$isin")
      assert(!isin.contains("BroadcastHashJoin") && !isin.contains("SortMergeJoin"), isin)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
