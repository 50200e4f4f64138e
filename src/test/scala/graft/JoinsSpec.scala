package graft

import graft.functions.Sketches
import graft.operators.Joins
import org.apache.spark.sql.functions._

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  private def leftDf = Seq(
    (1L, 10L, ts("2024-01-01 10:00:00")),
    (2L, 10L, ts("2024-01-01 12:00:00")),
    (3L, 10L, ts("2024-01-01 09:00:00")), // before any right row
    (4L, 20L, ts("2024-01-01 11:00:00")),
    (5L, 30L, ts("2024-01-01 11:00:00"))  // key with no right rows at all
  ).toDF("id", "k", "t")

  private def rightDf = Seq(
    (10L, ts("2024-01-01 09:30:00"), 1.0),
    (10L, ts("2024-01-01 11:30:00"), 2.0),
    (20L, ts("2024-01-01 11:00:00"), 7.0) // exactly at left #4's ts
  ).toDF("rk", "rt", "v")

  test("asOf picks the most recent right row at-or-before each left row") {
    val out = Joins.asOf(leftDf, rightDf, "k", "rk", "t", "rt", Seq("v"))
      .select($"id", $"v", $"asof_ts").collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(1) == 1.0)           // 10:00 sees the 09:30 row
    assert(out(2L).getDouble(1) == 2.0)           // 12:00 sees the 11:30 row
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2)) // nothing before 09:00
    assert(out(4L).getDouble(1) == 7.0)           // equal ts is visible
    assert(out(5L).isNullAt(1))                   // key 30 never matches
    assert(out(2L).getTimestamp(2) == ts("2024-01-01 11:30:00"))
  }

  test("asOf strict mode excludes the same-instant right row") {
    val out = Joins.asOf(leftDf, rightDf, "k", "rk", "t", "rt", Seq("v"), strict = true)
      .select($"id", $"v").collect().map(r => r.getLong(0) -> r).toMap
    assert(out(4L).isNullAt(1)) // the 11:00 right row is no longer visible
    assert(out(1L).getDouble(1) == 1.0) // strictly-before matches unaffected
  }

  test("asOf carries a null payload FIELD without skipping to an older row") {
    val r = Seq((10L, ts("2024-01-01 09:30:00"), Some(1.0)),
                (10L, ts("2024-01-01 11:30:00"), None))
      .toDF("rk", "rt", "v")
    val out = Joins.asOf(leftDf, r, "k", "rk", "t", "rt", Seq("v"))
      .select($"id", $"v", $"asof_ts").collect().map(x => x.getLong(0) -> x).toMap
    // left #2 (12:00) must match the 11:30 row even though its v is null —
    // a last(v, ignoreNulls) over bare fields would wrongly fall back to 1.0
    assert(out(2L).isNullAt(1))
    assert(out(2L).getTimestamp(2) == ts("2024-01-01 11:30:00"))
  }

  test("asOf: null keys never match each other (SQL join semantics)") {
    val l = Seq((1L, Option.empty[Long], ts("2024-01-01 12:00:00")),
                (2L, Option(10L), ts("2024-01-01 12:00:00")))
      .toDF("id", "k", "t")
    val r = Seq((Option.empty[Long], ts("2024-01-01 09:00:00"), 9.0),
                (Option(10L), ts("2024-01-01 09:00:00"), 1.0))
      .toDF("rk", "rt", "v")
    val out = Joins.asOf(l, r, "k", "rk", "t", "rt", Seq("v"))
      .select($"id", $"v").collect().map(x => x.getLong(0) -> x).toMap
    assert(out(1L).isNullAt(1)) // null key: NO match, not the null-key right
    assert(out(2L).getDouble(1) == 1.0)
  }

  test("asOf rejects output-column collisions and preserves left columns") {
    val e = intercept[IllegalArgumentException] {
      Joins.asOf(leftDf.withColumnRenamed("id", "v"), rightDf, "k", "rk", "t", "rt", Seq("v"))
    }
    assert(e.getMessage.contains("collide"))
    val cols = Joins.asOf(leftDf, rightDf, "k", "rk", "t", "rt", Seq("v")).columns.toSeq
    assert(cols == Seq("id", "k", "t", "asof_ts", "v"))
  }

  test("asOf hot-key cap law: hot keys route around the window unmatched, cold keys untouched") {
    // key 10 is the degenerate hot key: 4 left + 3 right = 7 combined rows
    val l = ((1L to 4L).map(i => (i, 10L, ts(s"2024-01-01 1$i:00:00"))) ++
      Seq((9L, 20L, ts("2024-01-01 11:00:00")))).toDF("id", "k", "t")
    val r = Seq(
      (10L, ts("2024-01-01 10:30:00"), 1.0),
      (10L, ts("2024-01-01 12:30:00"), 2.0),
      (10L, ts("2024-01-01 13:30:00"), 3.0),
      (20L, ts("2024-01-01 10:00:00"), 7.0)).toDF("rk", "rt", "v")
    val capped = Joins.asOf(l, r, "k", "rk", "t", "rt", Seq("v"), maxKeyRows = 5)
      .select($"id", $"v").collect().map(x => x.getLong(0) -> x).toMap
    assert(capped.size == 5) // every left row survives, hot or not
    (1L to 4L).foreach(i => assert(capped(i).isNullAt(1), s"hot-key left $i must pass unmatched"))
    assert(capped(9L).getDouble(1) == 7.0) // cold key matches exactly as uncapped
    // a cap nothing exceeds: results identical to the uncapped run
    val wide = Joins.asOf(l, r, "k", "rk", "t", "rt", Seq("v"), maxKeyRows = 100)
      .select($"id", $"v", $"asof_ts").collect().toSet
    val uncapped = Joins.asOf(l, r, "k", "rk", "t", "rt", Seq("v"))
      .select($"id", $"v", $"asof_ts").collect().toSet
    assert(wide == uncapped)
    // observability names exactly the keys the cap routes, with counts
    val report = Joins.asOfHotKeys(l, r, "k", "rk", maxKeyRows = 5)
      .as[(Long, Long)].collect().toSeq
    assert(report == Seq((10L, 7L)))
  }

  test("asOf hot-key cap routes a degenerate NULL-key left partition too") {
    // a million null-key lefts would all hash to ONE window partition —
    // the cap must be able to route them even though they never match
    val l = ((1L to 3L).map(i => (i, Option.empty[Long], ts(s"2024-01-01 0$i:00:00"))) ++
      Seq((9L, Option(10L), ts("2024-01-01 11:00:00")))).toDF("id", "k", "t")
    val r = Seq((Option(10L), ts("2024-01-01 09:30:00"), 1.0)).toDF("rk", "rt", "v")
    val out = Joins.asOf(l, r, "k", "rk", "t", "rt", Seq("v"), maxKeyRows = 2)
      .select($"id", $"v").collect().map(x => x.getLong(0) -> x).toMap
    assert(out.size == 4)
    (1L to 3L).foreach(i => assert(out(i).isNullAt(1)))
    assert(out(9L).getDouble(1) == 1.0)
  }

  test("asOf plans exactly one exchange — the key hash, shared by both sides") {
    val plan = Joins.asOf(leftDf, rightDf, "k", "rk", "t", "rt", Seq("v"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  private def pointsDf = Seq(
    (1L, 10L, ts("2024-01-01 10:00:00")),
    (2L, 10L, ts("2024-01-01 11:59:59")),
    (3L, 10L, ts("2024-01-01 12:00:00")), // exactly at an interval end
    (4L, 20L, ts("2024-01-01 10:30:00"))  // right instant, wrong key
  ).toDF("pid", "k", "t")

  test("interval join honors [start, end) and the key, across bucket splits") {
    // 2h interval with a 30min bucket: spans 4 buckets; each matching
    // point must appear exactly once
    val iv = Seq((100L, 10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")))
      .toDF("iid", "ik", "s", "e")
    val out = Joins.interval(pointsDf, iv, "k", "ik", "t", "s", "e",
        bucketMicros = 30L * 60 * 1000000)
      .select($"pid").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L)) // 3 excluded (end), 4 excluded (key); no dups
  }

  test("interval join emits one row per overlapping interval; empty intervals drop") {
    val iv = Seq(
      (100L, 10L, ts("2024-01-01 09:00:00"), ts("2024-01-01 11:00:00")),
      (101L, 10L, ts("2024-01-01 09:30:00"), ts("2024-01-01 10:30:00")),
      (102L, 10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:00")) // empty
    ).toDF("iid", "ik", "s", "e")
    val out = Joins.interval(pointsDf, iv, "k", "ik", "t", "s", "e",
        bucketMicros = 3600L * 1000000)
      .select($"pid", $"iid").as[(Long, Long)].collect().sorted
    assert(out.toSeq == Seq((1L, 100L), (1L, 101L)))
  }

  test("interval cap law: oversized intervals drop, the report names exactly them") {
    val iv = Seq(
      (100L, 10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")),   // 2 buckets
      (101L, 10L, ts("2024-01-01 00:00:00"), ts("2024-01-07 00:00:00")))   // 288 buckets
      .toDF("iid", "ik", "s", "e")
    val halfHourUs = 30L * 60 * 1000000
    val out = Joins.interval(pointsDf, iv, "k", "ik", "t", "s", "e",
        bucketMicros = halfHourUs, maxBuckets = 16)
      .select($"pid", $"iid").as[(Long, Long)].collect().sorted
    assert(out.forall(_._2 == 100L)) // the week-long interval was dropped
    val report = Joins.oversizedIntervals(iv, "s", "e", halfHourUs, maxBuckets = 16)
      .select($"iid", $"n_buckets").as[(Long, Long)].collect()
    assert(report.toSeq == Seq((101L, 288L))) // end-exclusive: 6d / 30min
    // default cap (4096) keeps both: results identical to uncapped
    val full = Joins.interval(pointsDf, iv, "k", "ik", "t", "s", "e", halfHourUs)
      .select($"pid", $"iid").as[(Long, Long)].collect().sorted
    assert(full.count(_._2 == 101L) > 0)
  }

  test("interval join plans an equi-join, never a nested-loop product") {
    val iv = Seq((100L, 10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")))
      .toDF("iid", "ik", "s", "e")
    val plan = Joins.interval(pointsDf, iv, "k", "ik", "t", "s", "e", 3600L * 1000000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("intervalStream joins two live streams with watermark-bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val iIn = MemoryStream[(Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
    val points = pIn.toDF().toDF("pid", "k", "t").withWatermark("t", "10 minutes")
    val intervals = iIn.toDF().toDF("iid", "ik", "s", "e").withWatermark("s", "10 minutes")
    // the query STARTING proves Spark accepted the state bound (an
    // unconstrained stream-stream join fails at analysis)
    val joined = Joins.intervalStream(points, intervals, "k", "ik", "t", "s", "e", "2 hours")
    val q = joined.writeStream.format("memory").queryName("ivs_out").outputMode("append").start()
    try {
      pIn.addData(
        (1L, 10L, ts("2024-01-01 10:30:00")),
        (2L, 10L, ts("2024-01-01 13:00:00")), // past the interval end
        (3L, 20L, ts("2024-01-01 10:30:00"))) // wrong key
      iIn.addData((100L, 10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val got = spark.table("ivs_out").select($"pid", $"iid").as[(Long, Long)].collect()
      assert(got.toSeq == Seq((1L, 100L)))
    } finally q.stop()
  }

  test("streaming asOf matches each left to the latest finalized right, exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, java.sql.Timestamp)]          // (id, key, ts)
    val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]        // (key, ts, value)
    val joined = graft.streaming.StreamingFlows.asOf[Long,
        (Long, Long, java.sql.Timestamp), (Long, java.sql.Timestamp, Double),
        (Long, Double)](
      lIn.toDS(), rIn.toDS(),
      _._2, _._1, _._3, _._2,
      delay = "10 minutes",
      (l, r) => (l._1, r.map(_._3).getOrElse(-1.0)))
    // batch 1: rights at 09:30 (v=1.0) and 11:30 (v=2.0); lefts at 10:00,
    // 12:00, 09:00 — nothing final yet (watermark still at epoch).
    // Queued BEFORE start(): the first micro-batch reads every source's
    // latest offset, so all five rows share it. Added to a running query,
    // the trigger could take the rights alone, move the watermark to 11:20
    // and make lefts 1 and 3 late (dropped, as the operator documents).
    rIn.addData((10L, ts("2024-01-01 09:30:00"), 1.0), (10L, ts("2024-01-01 11:30:00"), 2.0))
    lIn.addData((1L, 10L, ts("2024-01-01 10:00:00")),
                (2L, 10L, ts("2024-01-01 12:00:00")),
                (3L, 10L, ts("2024-01-01 09:00:00")))
    val q = joined.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: advance the watermark past every left (13:00 - 10min)
      rIn.addData((99L, ts("2024-01-01 13:00:00"), 0.0))
      q.processAllAvailable()
      // one more batch so the event-time timer fires for key 10
      rIn.addData((99L, ts("2024-01-01 13:01:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_out").as[(Long, Double)].collect().toMap
      assert(got == Map(1L -> 1.0, 2L -> 2.0, 3L -> -1.0))
    } finally q.stop()
  }

  test("streaming asOf reaches back past the watermark via the retained right") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.streaming.StreamingFlows.asOf[Long,
        (Long, Long, java.sql.Timestamp), (Long, java.sql.Timestamp, Double),
        (Long, Double)](
      lIn.toDS(), rIn.toDS(),
      _._2, _._1, _._3, _._2,
      delay = "1 minute",
      (l, r) => (l._1, r.map(_._3).getOrElse(-1.0)))
    val q = joined.writeStream.format("memory").queryName("asof_back")
      .outputMode("append").start()
    try {
      // the right at 09:00 finalizes long before the left at 12:00 arrives;
      // only the retained-latest-right row can still serve it
      rIn.addData((10L, ts("2024-01-01 09:00:00"), 7.0))
      q.processAllAvailable()
      rIn.addData((10L, ts("2024-01-01 11:00:00"), 8.0)) // watermark → 10:59
      q.processAllAvailable()
      lIn.addData((1L, 10L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      rIn.addData((99L, ts("2024-01-01 12:30:00"), 0.0)) // advance + timer
      q.processAllAvailable()
      rIn.addData((99L, ts("2024-01-01 12:31:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_back").as[(Long, Double)].collect().toMap
      assert(got == Map(1L -> 8.0)) // the RETAINED 11:00 right, not the evicted 09:00
    } finally q.stop()
  }

  test("streaming asOf lateness contract at the boundary: AT-watermark drops (engine bound), above emits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.streaming.StreamingFlows.asOf[Long,
        (Long, Long, java.sql.Timestamp), (Long, java.sql.Timestamp, Double),
        (Long, Double)](
      lIn.toDS(), rIn.toDS(),
      _._2, _._1, _._3, _._2,
      delay = "10 minutes",
      (l, r) => (l._1, r.map(_._3).getOrElse(-1.0)))
    val q = joined.writeStream.format("memory").queryName("asof_boundary")
      .outputMode("append").start()
    try {
      // batch 1: a right for key 10 plus a watermark driver at 13:00 —
      // after this batch the watermark is exactly 12:50:00.000
      rIn.addData((10L, ts("2024-01-01 09:00:00"), 5.0),
                  (99L, ts("2024-01-01 13:00:00"), 0.0))
      q.processAllAvailable()
      // batch 2: left 1 EXACTLY at the watermark, left 2 one ms above it.
      // FlatMapGroupsWithStateExec's own late-event filter (event time
      // <= watermark, applied under event-time timeout BEFORE the state
      // function runs) drops left 1 — that drop is ENGINE behavior the
      // state function cannot override, so it is the operator's
      // documented lateness bound, not an admit-bound choice here. Left 2
      // is on time and must flush via the event-time timer.
      lIn.addData((1L, 10L, ts("2024-01-01 12:50:00")),
                  (2L, 10L, java.sql.Timestamp.valueOf("2024-01-01 12:50:00.001")))
      q.processAllAvailable()
      rIn.addData((99L, ts("2024-01-01 13:30:00"), 0.0)) // advance watermark
      q.processAllAvailable()
      rIn.addData((99L, ts("2024-01-01 13:31:00"), 0.0)) // fire the timer
      q.processAllAvailable()
      val got = spark.table("asof_boundary").as[(Long, Double)].collect().toMap
      assert(got == Map(2L -> 5.0), s"got $got")
    } finally q.stop()
  }

  test("KMV sketch: exact below k, deterministic, estimator within bounds above k") {
    val small = (1 to 50).map(i => s"item-$i").toDF("x")
    val exact = Sketches.kmvDistinct(small, $"x", k = 256).collect()(0)
    assert(exact.getLong(0) == 50 && exact.getLong(2) == 50) // exact path

    val big = (1 to 20000).map(i => s"item-${i % 5000}").toDF("x")
    val est1 = Sketches.kmvDistinct(big, $"x", k = 256).collect()(0)
    val est2 = Sketches.kmvDistinct(big.repartition(7), $"x", k = 256).collect()(0)
    assert(est1 == est2, "sketch must not depend on partitioning")
    assert(est1.getLong(0) == 256)
    // 5000 distinct, k=256 => expected rel. error ~6%; 25% is a safe law
    assert(math.abs(est1.getLong(2) - 5000L) < 1250, s"estimate ${est1.getLong(2)}")
    intercept[IllegalArgumentException] { Sketches.kmvDistinct(small, $"x", k = 2) }
  }

  test("bloomPrunedJoin is row-identical to the plain equi join and actually prunes " +
      "the large side before the shuffle") {
    import graft.operators.Joins
    // range-backed inputs: local Seq relations would let
    // ConvertToLocalRelation evaluate the Bloom predicate at PLAN time and
    // erase it from the physical plan (q215's parquet pin covers the scan
    // shape; this spec covers semantics over a surviving Filter)
    val large = spark.range(50000)
      .select(($"id" % 5000).as("k"), concat(lit("p"), $"id").as("payload"))
    val small = spark.range(100)
      .select(($"id" * 37 % 5000).as("k"), concat(lit("d"), $"id").as("label"))
    val got = Joins.bloomPrunedJoin(large, small, "k", expectedKeys = 1000)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = large.join(small, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == want, s"${got.size} vs ${want.size} rows")
    val plan = Joins.bloomPrunedJoin(large, small, "k", expectedKeys = 1000)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"), plan)
    // an EMPTY selective side yields the plain (empty) join, not a
    // treeReduce crash
    val emptySmall = small.where($"k" < 0)
    assert(Joins.bloomPrunedJoin(large, emptySmall, "k", expectedKeys = 1000).isEmpty)
    // mismatched key types would silently kill every match through the
    // type-sensitive hash — refused loudly
    val intKeyed = spark.range(10).select($"id".cast("int").as("k"), lit("x").as("label2"))
    val e = intercept[IllegalArgumentException](
      Joins.bloomPrunedJoin(large, intKeyed, "k", expectedKeys = 10))
    assert(e.getMessage.contains("types differ"), e.getMessage)
  }

  test("KMV merge law: union of shard states == sketch of the concatenated data") {
    val shardA = (1 to 8000).map(i => s"item-${i % 3000}").toDF("x")
    val shardB = (2000 to 12000).map(i => s"item-${i % 4000}").toDF("x")
    val merged = Sketches.kmvUnion(
      Sketches.kmvState(shardA, $"x", k = 128)
        .unionAll(Sketches.kmvState(shardB, $"x", k = 128)), k = 128)
    val direct = Sketches.kmvDistinct(shardA.unionAll(shardB), $"x", k = 128)
    assert(merged.collect()(0) == direct.collect()(0)) // bit-identical, not approximately
  }
}
