package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one query per implemented operator from SURVEY.md §2,
  * plus the training-data pipeline extensions. Every query has a DuckDB
  * oracle in [[oracleSql]] with matching column names and types (sums cast
  * to BIGINT where DuckDB would widen to HUGEINT; doubles rounded at a fixed
  * decimal so fp accumulation order cannot flip the hash compare; timestamps
  * surfaced as epoch seconds to dodge µs/ns precision skew).
  */
object SparkEntry {

  /** Flagship: the reference's canonical pipeline shape
    * (examples/file/main.go:8-18 + flow/flow_test.go:92-124):
    * source → filter → map → flatMap → keyed tumbling window, on events.
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark) // idempotent; entry must work on a bare session
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val filtered = CoreFlows.filter(col("event_type") =!= "error")(ev)
    val mapped = CoreFlows.map(
      col("ts"), upper(col("event_type")).as("etype"), col("value"), col("user_id")
    )(filtered)
    Windows.tumbling(
      col("ts"), "1 hour", Seq(col("etype")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    )(mapped)
  }

  // --- helpers ---------------------------------------------------------

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** epoch-seconds of a timestamp column (whole-second window bounds). */
  private def epochS(c: Column): Column = c.cast("long")

  // --- §2.1 core transformation flows ----------------------------------

  /** #1 Map — select of codegen'd expressions (flow/map.go:38-54). */
  private def q01Map(s: SparkSession, d: String): DataFrame =
    CoreFlows.map(
      col("l_orderkey"),
      col("l_linenumber"),
      upper(col("l_returnflag")).as("ret_flag"),
      round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue")
    )(li(s, d))

  /** #3 Filter — pushed to the parquet scan (flow/filter.go:42-58). */
  private def q02Filter(s: SparkSession, d: String): DataFrame =
    CoreFlows.filter(col("l_quantity") > 25 && col("l_returnflag") === "R")(li(s, d))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** #2 FlatMap — 1→N via explode (flow/flat_map.go:38-54). */
  private def q03FlatMap(s: SparkSession, d: String): DataFrame =
    CoreFlows.flatMap(split(col("p_type"), " "), "word", col("p_partkey"))(
      Tables.part(s, d)
    )

  /** #4 Fold (associative form) — keyed running sum; emits the accumulator
    * per element like flow/fold.go:83-90, scaled by partitioning on the key.
    */
  private def q04Fold(s: SparkSession, d: String): DataFrame =
    CoreFlows.foldRunningAgg(
      sum, col("o_totalprice"), Seq(col("o_custkey")), Seq(col("o_orderkey")), "running_total"
    )(ord(s, d))
      .select(col("o_custkey"), col("o_orderkey"), round(col("running_total"), 2).as("running_total"))

  /** #5 Reduce — unseeded running aggregate: first element emitted as-is
    * (flow/reduce.go:80-91); running max has exactly that semantics.
    */
  private def q05Reduce(s: SparkSession, d: String): DataFrame =
    CoreFlows.reduceRunning(
      max, col("o_totalprice"), Seq(col("o_custkey")), Seq(col("o_orderkey")), "running_max"
    )(ord(s, d)).select(col("o_custkey"), col("o_orderkey"), col("running_max"))

  /** #6 PassThrough — identity plan (flow/pass_through.go:21-31). */
  private def q06PassThrough(s: SparkSession, d: String): DataFrame =
    CoreFlows.passThrough(Tables.region(s, d))

  /** #4b Fold, non-associative seeded form — running string concat proves
    * the sequential-order contract of flow/fold.go:78-82.
    */
  private def q19FoldConcat(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      array_join(collect_list(col("l_linenumber").cast("string")).over(w), "").as("running_concat")
    )
  }

  // --- §2.1 batching / throttling / windows / keyed ---------------------

  /** #7 Batch — count-based chunks per key (flow/batch.go:31-47); the
    * count-or-time hybrid lives on the streaming profile.
    */
  private def q07Batch(s: SparkSession, d: String): DataFrame =
    Batching.batchIds(5, Seq(col("o_custkey")), Seq(col("o_orderkey")))(ord(s, d))
      .groupBy(col("o_custkey"), col("batch_id"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("batch_total"),
        min(col("o_orderkey")).as("first_key"),
        max(col("o_orderkey")).as("last_key")
      )

  /** #8 Throttler, Discard mode — ≤10 events per hour, earliest win
    * (flow/throttler.go:58-82).
    */
  private def q08Throttle(s: SparkSession, d: String): DataFrame =
    Batching.throttleDiscard(
      col("ts"), "1 hour", 10, Seq(col("ts"), col("event_id"))
    )(ev(s, d)).select(col("event_id"), col("event_type"))

  /** #9 TumblingWindow (flow/tumbling_window.go:30-44), event-time flavor. */
  private def q09Tumbling(s: SparkSession, d: String): DataFrame =
    Windows.tumbling(
      col("ts"), "1 hour", Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    )(ev(s, d))
      .select(epochS(col("window.start")).as("window_start"), col("event_type"), col("n"), col("total"))

  /** #10 SlidingWindow — 1h size / 30m slide, epoch-aligned starts exactly
    * like flow/sliding_window.go:309-326.
    */
  private def q10Sliding(s: SparkSession, d: String): DataFrame =
    Windows.sliding(
      col("ts"), "1 hour", "30 minutes", Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    )(ev(s, d))
      .select(epochS(col("window.start")).as("window_start"), col("event_type"), col("n"), col("total"))

  /** #11 SessionWindow — 30m inactivity gap per user
    * (flow/session_window.go:31-46; keyed flavor per flow/keyed.go:36-50).
    */
  private def q11Session(s: SparkSession, d: String): DataFrame =
    Windows.session(
      col("ts"), "30 minutes", Seq(col("user_id")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    )(ev(s, d))
      .select(
        col("user_id"),
        epochS(col("session_window.start")).as("session_start"),
        col("n"), col("total")
      )

  /** #12 Keyed — per-key aggregation chain (flow/keyed.go:53-72). */
  private def q12Keyed(s: SparkSession, d: String): DataFrame =
    Keyed.aggregate(
      Seq(col("user_id")),
      Seq(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"),
        countDistinct(col("event_type")).as("n_types"),
        epochS(max(col("ts"))).as("last_seen")
      )
    )(ev(s, d))

  // --- §2.2 topology ----------------------------------------------------

  /** #14 Split — predicate → two labeled branches (flow/util.go:23-41),
    * re-merged for one deterministic result set.
    */
  private def q13Split(s: SparkSession, d: String): DataFrame = {
    val (hi, lo) = Topology.split(ord(s, d), col("o_totalprice") > 250000)
    Topology.merge(Seq(
      hi.select(lit("high").as("branch"), col("o_orderkey"), col("o_totalprice")),
      lo.select(lit("low").as("branch"), col("o_orderkey"), col("o_totalprice"))
    ))
  }

  /** #15 FanOut — one plan consumed twice (flow/util.go:45-63). */
  private def q14FanOut(s: SparkSession, d: String): DataFrame = {
    val agg = ord(s, d).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
    val copies = Topology.fanOut(agg, 2).zipWithIndex.map { case (df, i) =>
      df.withColumn("copy", lit(i))
    }
    Topology.merge(copies)
  }

  /** #16 RoundRobin — explicit round-robin Exchange, then a
    * partition-insensitive aggregate proving element conservation
    * (flow/util.go:67-80).
    */
  private def q15RoundRobin(s: SparkSession, d: String): DataFrame =
    Topology.roundRobin(ev(s, d), 32)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))

  /** #17 Merge — N→1 bag union (flow/util.go:84-105). */
  private def q16Merge(s: SparkSession, d: String): DataFrame =
    Topology.merge(Seq(
      ord(s, d).select(col("o_orderkey").as("key"), col("o_totalprice").as("amount"), lit("orders").as("src")),
      li(s, d).select(col("l_orderkey").as("key"), col("l_extendedprice").as("amount"), lit("lineitem").as("src"))
    ))

  /** #18 ZipWith — positional zip with zero-fill (flow/util.go:107-171;
    * behavior matrix flow/flow_test.go:296-369). orders (1500/sf) zipped
    * against customer (150/sf) exercises the zero-fill tail.
    */
  private def q17ZipWith(s: SparkSession, d: String): DataFrame =
    Topology.zipWith(
      s,
      Seq(
        (ord(s, d).select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")), Map("o_orderkey" -> lit(0L), "o_totalprice" -> lit(0.0))),
        (Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
          Seq(col("c_custkey")), Map("c_custkey" -> lit(0L), "c_acctbal" -> lit(0.0)))
      )
    ).select(
      col("__idx").as("idx"),
      col("o_orderkey"), col("c_custkey"),
      round(col("o_totalprice") + col("c_acctbal"), 2).as("pair_sum")
    )

  /** #19 Flatten — []T→T; collect_list∘explode is the identity on the
    * multiset (flow/util.go:175-179).
    */
  private def q18Flatten(s: SparkSession, d: String): DataFrame = {
    val nested = li(s, d).groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_linenumber")).as("lines"))
    CoreFlows.flatten(col("lines"), "l_linenumber", col("l_orderkey"))(nested)
  }

  // --- registry ---------------------------------------------------------

  /** Every gate, each run in its own [[Materialize.scope]]: a gate returns
    * holding only the intermediate state its result reads.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (coreQueries ++ ExtensionQueries.queries ++ StreamingGates.queries ++
      GraphGates.queries ++ AnalyticsGates.queries).map { case (name, gate) =>
      name -> ((s: SparkSession, d: String) => Materialize.scope(gate(s, d)))
    }

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_map" -> (q01Map _),
    "q02_filter" -> (q02Filter _),
    "q03_flatmap" -> (q03FlatMap _),
    "q04_fold" -> (q04Fold _),
    "q05_reduce" -> (q05Reduce _),
    "q06_passthrough" -> (q06PassThrough _),
    "q07_batch" -> (q07Batch _),
    "q08_throttle" -> (q08Throttle _),
    "q09_tumbling" -> (q09Tumbling _),
    "q10_sliding" -> (q10Sliding _),
    "q11_session" -> (q11Session _),
    "q12_keyed" -> (q12Keyed _),
    "q13_split" -> (q13Split _),
    "q14_fanout" -> (q14FanOut _),
    "q15_roundrobin" -> (q15RoundRobin _),
    "q16_merge" -> (q16Merge _),
    "q17_zipwith" -> (q17ZipWith _),
    "q18_flatten" -> (q18Flatten _),
    "q19_fold_concat" -> (q19FoldConcat _)
  )

  def oracleSql: Map[String, String] =
    coreOracleSql ++ ExtensionQueries.oracleSql ++ StreamingGates.oracleSql ++
      GraphGates.oracleSql ++ AnalyticsGates.oracleSql

  // private[graft]: StreamingGates shares q09's oracle verbatim (q78)
  private[graft] def coreOracleSql: Map[String, String] = Map(
    "q01_map" ->
      """SELECT l_orderkey, l_linenumber, upper(l_returnflag) AS ret_flag,
        | round(l_extendedprice * (1 - l_discount), 4) AS revenue FROM lineitem""".stripMargin,
    "q02_filter" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 25 AND l_returnflag = 'R'",
    "q03_flatmap" ->
      "SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word FROM part",
    "q04_fold" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        | FROM orders""".stripMargin,
    "q05_reduce" ->
      """SELECT o_custkey, o_orderkey,
        | max(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_max
        | FROM orders""".stripMargin,
    "q06_passthrough" -> "SELECT r_regionkey, r_name FROM region",
    "q07_batch" ->
      """WITH b AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    (row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1) // 5 AS batch_id
        |  FROM orders)
        |SELECT o_custkey, batch_id, count(*)::BIGINT AS n,
        |  round(sum(o_totalprice), 2) AS batch_total,
        |  min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
        |FROM b GROUP BY o_custkey, batch_id""".stripMargin,
    "q08_throttle" ->
      """WITH b AS (
        |  SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY date_trunc('hour', ts) ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_id, event_type FROM b WHERE rn <= 10""".stripMargin,
    "q09_tumbling" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start, event_type,
        | count(*)::BIGINT AS n, round(sum(value), 4) AS total
        | FROM events GROUP BY 1, 2""".stripMargin,
    "q10_sliding" ->
      """WITH x AS (
        |  SELECT event_type, value,
        |    (epoch_ns(ts) // 1800000000000) * 1800 AS ws FROM events
        |  UNION ALL
        |  SELECT event_type, value,
        |    (epoch_ns(ts) // 1800000000000) * 1800 - 1800 AS ws FROM events)
        |SELECT ws AS window_start, event_type, count(*)::BIGINT AS n,
        |  round(sum(value), 4) AS total
        |FROM x GROUP BY 1, 2""".stripMargin,
    "q11_session" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, epoch_ns(min(ts)) // 1000000000 AS session_start,
        |  count(*)::BIGINT AS n, round(sum(value), 4) AS total
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "q12_keyed" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
        | round(sum(value), 4) AS total_value,
        | count(DISTINCT event_type)::BIGINT AS n_types,
        | epoch_ns(max(ts)) // 1000000000 AS last_seen
        | FROM events GROUP BY user_id""".stripMargin,
    "q13_split" ->
      """SELECT 'high' AS branch, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 250000
        |UNION ALL
        |SELECT 'low' AS branch, o_orderkey, o_totalprice FROM orders WHERE NOT (o_totalprice > 250000)""".stripMargin,
    "q14_fanout" ->
      """WITH agg AS (
        |  SELECT o_orderstatus, count(*)::BIGINT AS n, round(sum(o_totalprice), 2) AS total
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, n, total, 0 AS copy FROM agg
        |UNION ALL
        |SELECT o_orderstatus, n, total, 1 AS copy FROM agg""".stripMargin,
    "q15_roundrobin" ->
      """SELECT event_type, count(*)::BIGINT AS n, round(sum(value), 4) AS total
        | FROM events GROUP BY event_type""".stripMargin,
    "q16_merge" ->
      """SELECT o_orderkey AS key, o_totalprice AS amount, 'orders' AS src FROM orders
        |UNION ALL
        |SELECT l_orderkey AS key, l_extendedprice AS amount, 'lineitem' AS src FROM lineitem""".stripMargin,
    "q17_zipwith" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS idx FROM orders),
        |b AS (
        |  SELECT c_custkey, c_acctbal,
        |    row_number() OVER (ORDER BY c_custkey) - 1 AS idx FROM customer)
        |SELECT coalesce(a.idx, b.idx) AS idx,
        |  coalesce(o_orderkey, 0) AS o_orderkey,
        |  coalesce(c_custkey, 0) AS c_custkey,
        |  round(coalesce(o_totalprice, 0) + coalesce(c_acctbal, 0), 2) AS pair_sum
        |FROM a FULL OUTER JOIN b ON a.idx = b.idx""".stripMargin,
    "q18_flatten" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem",
    "q19_fold_concat" ->
      """SELECT l_orderkey, l_linenumber,
        | string_agg(l_linenumber::VARCHAR, '') OVER (PARTITION BY l_orderkey
        |   ORDER BY l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_concat
        | FROM lineitem""".stripMargin
  )
}
