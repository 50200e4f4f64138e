package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * A warmup pass at sf0.001 runs first (not timed): the first query in a
  * fresh JVM otherwise pays Catalyst/codegen/JIT startup (~8s) that says
  * nothing about operator cost. Timed runs then execute per query with a
  * noop-format write — unlike `count()`, which lets Catalyst prune
  * deterministic projections down to a bare scan, the noop sink evaluates
  * every output column, so projection-only queries (map, the text-analysis
  * family) are charged their real expression cost.
  *
  * Each query runs SPARK_GRAFT_REPS times (default 3) and the MEDIAN is
  * reported (minimum alongside, in `queries_min`): a single contended run
  * on a noisy machine otherwise distorts the record by an order of
  * magnitude without saying anything about the plans. Repetitions
  * interleave round-robin (all queries once, then all again) so a
  * transient load spike hits each query at most once, not all reps of one.
  * Queries whose reps still spread more than 2× (min > 0.5 s) are
  * re-measured twice more and named in the summary's `unstable` list, so
  * a contended outlier reads as "re-repped noise", not a regression.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // contention telemetry, sampled BEFORE Spark spins up so it measures
    // load from OTHER processes: rounds 6/7 showed up to 2× same-code
    // swing between contended and idle machines, and a totals-only record
    // can't distinguish that from a regression. -1.0 = unavailable.
    val preLoad = {
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      val la = os.getSystemLoadAverage
      if (la < 0) -1.0 else la / math.max(1, os.getAvailableProcessors)
    }
    val contended = preLoad > 0.5
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)

    def runFull(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // the `_stream` batch-equivalence gates run a full MemoryStream-fed
    // streaming query per invocation — their wall time measures the gate
    // harness feeding rows, not an operator plan, so the bench skips them
    // (the correctness gate still runs them)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benchable = SparkEntry.queries.filterNot(_._1.endsWith("_stream"))
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // warmup: exercise codegen/JIT on the smallest SF; ignore result + errors
    val warmDir = "/root/testdata/sf0.001"
    benchable.foreach { case (_, fn) =>
      try runFull(fn(spark, warmDir)) catch { case _: Throwable => () }
    }

    val names = benchable.keys.toSeq.sorted
    val timings = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val failures = scala.collection.mutable.SortedSet.empty[String]
    for (_ <- 1 to reps; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // a crashed rep is a FAILURE, not a timing: recording its elapsed
      // time would report a fast-but-wrong median with no trace in the JSON
      try {
        runFull(fn(spark, sfDir))
        timings(name) = timings(name) :+ (System.nanoTime() - t0) / 1e9
      } catch {
        case t: Throwable =>
          failures += name
          System.err.println(s"bench: $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
      }
    }
    // contention re-rep: a query whose reps spread more than 2× was hit
    // by a load spike mid-run (rounds 6–13 saw q155/q161 swing ~2× with
    // box load; round-13's record caught exactly one such outlier) — give
    // it two extra measurements so the median reflects the quiet state,
    // and NAME it in the summary so a reader can tell "re-repped noise"
    // from "regression". The 0.5 s floor keeps sub-second queries out:
    // their max/min ratio is dominated by scheduler jitter, not load.
    val unstable = scala.collection.mutable.SortedSet.empty[String]
    // a failed RE-rep is tracked apart from `failures`: the original reps
    // succeeded and a median still prints for the query, so adding it to
    // `failures` would make failed_count and queries_min/median disagree
    val unstableFailed = scala.collection.mutable.SortedSet.empty[String]
    for (name <- names if timings(name).nonEmpty) {
      val xs = timings(name)
      if (xs.min > 0.5 && xs.max / xs.min > 2.0) {
        unstable += name
        val fn = SparkEntry.queries(name)
        for (_ <- 1 to 2) {
          val t0 = System.nanoTime()
          try {
            runFull(fn(spark, sfDir))
            timings(name) = timings(name) :+ (System.nanoTime() - t0) / 1e9
          } catch {
            case t: Throwable =>
              unstableFailed += name
              System.err.println(s"bench: $name FAILED on re-rep: ${t.getClass.getName}: ${t.getMessage}")
          }
        }
      }
    }
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // 0.1 ms resolution: full double precision made the summary line ~5 KB,
    // which overflowed the harness's output tail and lost the whole record
    def r4(v: Double): String = "%.4f".format(v)
    val timed = names.filter(timings(_).nonEmpty)
    val med = timed.map(n => n -> median(timings(n)))
    val mins = timed.map(n => n -> timings(n).min)
    // numeric query order, NEWEST (highest-numbered) last: a bounded tail
    // capture that truncates the map loses the oldest entries, never the
    // queries added this round
    def qNum(name: String): Int = name.drop(1).takeWhile(_.isDigit) match {
      case "" => Int.MaxValue
      case ds => ds.toInt
    }
    def jsonMap(kvs: Seq[(String, Double)]): String =
      kvs.sortBy { case (k, _) => (qNum(k), k) }
        .map { case (k, v) => "\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    val total = med.map(_._2).sum
    val failedJson = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Per-query detail lines first (NEWEST queries last within each map so
    // a truncating tail drops the oldest entries), then the compact
    // totals-only line LAST: the driver captures a bounded TAIL of stdout,
    // so the final ~200-byte total line always survives intact alongside
    // the newest per-query entries (the round-12 verdict's housekeeping
    // ask — when the total printed first, a 2000-char tail kept the map's
    // end but dropped the total).
    println(s"""{"detail":"per-query min of $reps reps","queries_min":${jsonMap(mins)}}""")
    val unstableJson = unstable.map("\"" + _ + "\"").mkString("[", ",", "]")
    val unstableFailedJson = unstableFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // record_unreliable: round 16 closed on a bench whose unstable count
    // TRIPLED under box contention and the contaminated totals became the
    // round's number — flag the record in the summary line itself when
    // more than 20% of benched queries needed a contention re-rep (23/199
    // on an idle box historically; 67/199 on the contended one), so a
    // noisy run can never silently pass for a regression or a win.
    val unreliable = timed.nonEmpty && unstable.size * 5 > timed.size
    // FILE artifact (round-16 verdict item 2): the ~6 KB per-query detail
    // line overflows a bounded stdout-tail capture at 199 queries — the
    // full record also goes to a file, by default one per (cpus, sf) under
    // target/bench/ so a run never rewrites a tracked file.
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString.stripPrefix("sf")
    val detailPath = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      s"target/bench/detail_c${cpus}_sf$sfName.json"))
    val medLine = s"""{"detail":"per-query median of $reps reps","queries":${jsonMap(med)},"failed":$failedJson,"unstable":$unstableJson,"unstable_failed":$unstableFailedJson}"""
    val totalLine = s"""{"metric":"total","value":${r4(total)},"unit":"sec","reps":$reps,"benched":${timed.size},"failed_count":${failures.size},"unstable_count":${unstable.size},"unstable_failed_count":${unstableFailed.size},"record_unreliable":$unreliable,"contended":$contended,"pre_load":${r4(preLoad)},"sf":"$sfDir","detail_file":"$detailPath"}"""
    println(medLine)
    println(totalLine)
    try {
      Option(detailPath.toAbsolutePath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(detailPath,
        (s"""{"detail":"per-query min of $reps reps","queries_min":${jsonMap(mins)}}""" +
          "\n" + medLine + "\n" + totalLine + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case t: Throwable =>
      System.err.println(s"bench: detail file write failed (record still on stdout): $t")
    }
    spark.stop()
  }
}
