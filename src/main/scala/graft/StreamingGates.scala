package graft

import graft.functions.TextFunctions
import graft.sources.Tables
import graft.streaming.StreamingFlows
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch-equivalence gates for the STREAMING time-join forms: each query
  * feeds the same sf events that q55/q56 read into the streaming operator
  * via MemoryStream, drains the query, and returns the sink contents in
  * the batch query's exact output shape — so the driver's DuckDB oracle
  * (shared verbatim with q55/q56) checks that the streaming form computes
  * the SAME answer as the batch form, row for row and hash for hash.
  *
  * The driver-side collect + MemoryStream here is GATE PLUMBING, not an
  * operator shape: MemoryStream is driver-fed by definition (the test
  * fixture Spark itself uses), while the operator under gate runs through
  * the real engine — state store, watermarks, event-time timers. The
  * queries are excluded from Bench (suffix `_stream`): their wall time
  * measures this harness feeding rows, not a plan.
  */
object StreamingGates {

  // NOT private: Catalyst's generated safe projections access the case
  // class constructor from outside this object — a private member fails
  // janino compilation at runtime
  final case class RawClick(event_id: Long, user_id: Option[Long], ts: java.sql.Timestamp)
  final case class Click(event_id: Long, user_id: Long, ts: java.sql.Timestamp)
  final case class Purchase(p_user: Long, p_ts: java.sql.Timestamp, p_value: Double)
  final case class AsofHit(
      event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      p_value: Option[Double], asof_ts: Option[java.sql.Timestamp])
  final case class Point(click_id: Long, user_id: Long, ts: java.sql.Timestamp)
  final case class Iv(
      purchase_id: Long, p_user: Long,
      w_start: java.sql.Timestamp, w_end: java.sql.Timestamp)
  final case class Ev(event_type: String, ts: java.sql.Timestamp, value: Double)
  final case class Sv(user_id: Option[Long], ts: java.sql.Timestamp, value: Double)
  final case class Kv(
      user_id: Option[Long], event_type: String,
      ts: java.sql.Timestamp, value: Double)
  final case class TEv(
      event_id: Long, user_id: Option[Long],
      ts: java.sql.Timestamp, event_type: String)
  final case class TPair(from_state: String, to_state: String)
  final case class COrd(
      o_orderkey: Long, o_totalprice: Double,
      ver: java.sql.Timestamp, op: String)
  final case class Chg(row_id: Long, key: Long, value: Double, op: String)
  final case class ChgT(row_id: Long, grp: Long, score: Double, op: String)
  final case class ChgD(row_id: Long, grp: Long, value: String, op: String)
  final case class ChgQ(row_id: Long, grp: Long, value: Double, op: String)
  final case class ChgW(row_id: Long, grp: String, value: Double, w: Long, op: String)
  final case class ChgJ(side: String, row_id: Long, key: Long, grp: Long, value: Long, op: String)
  final case class ChgJ3(side: String, row_id: Long, ka: Long, kb: Long, grp: Long, value: Long, op: String)
  final case class ChgJ4(side: String, row_id: Long, ka: Long, kb: Long, kc: Long, grp: Long, value: Long, op: String)

  private def sinkName(tag: String): String =
    s"graft_${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  // per-JVM scratch root for relaid serve layouts (the AnalyticsGates
  // q226/q227 discipline: fresh per JVM so concurrent runs never share a
  // path, reused across reps within the run via the per-SF suffix)
  private lazy val scratchRoot: String =
    GraftSession.tempDirCleanedOnExit("graft_stream_layout_")

  /** Streaming as-of over the q55 inputs ([[StreamingFlows.asOf]]):
    * clicks and pre-aggregated purchases arrive as one micro-batch, two
    * sentinel rights on a key outside the data then advance the watermark
    * past every real left and trigger the event-time timers that flush
    * them — every click is emitted exactly once, matched µs-exactly.
    */
  private def q63AsofStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = Tables.events(s, d)
    // null-key parity with the batch form: null-user clicks pass through
    // UNMATCHED (they never meet a right row — routed around the stream
    // below, since grouping them would wrongly match null against null),
    // and null-key purchases are dropped like Joins.asOf's right filter
    val rawClicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts")).as[RawClick].collect()
    val (keyedClicks, nullClicks) = rawClicks.partition(_.user_id.isDefined)
    val clicks = keyedClicks.map(c => Click(c.event_id, c.user_id.get, c.ts))
    val purchases = ev.where(col("event_type") === "purchase" && col("user_id").isNotNull)
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value")).as[Purchase].collect()
    val unmatchedNulls = s.createDataset(
        nullClicks.toSeq.map(c => (c.event_id, Option.empty[Long], -1.0, -1L)))
      .toDF("event_id", "user_id", "prior_value", "gap_us")
    if (clicks.isEmpty && purchases.isEmpty) return unmatchedNulls
    val lIn = MemoryStream[Click]
    val rIn = MemoryStream[Purchase]
    val joined = StreamingFlows.asOf[Long, Click, Purchase, AsofHit](
      lIn.toDS(), rIn.toDS(),
      _.user_id, _.p_user, _.ts, _.p_ts,
      delay = "1 hour",
      (l, r) => AsofHit(l.event_id, l.user_id, l.ts, r.map(_.p_value), r.map(_.p_ts)))
    // buffer BOTH inputs before start(): the first trigger then carries
    // every real row in one batch with the watermark still at epoch. If
    // the query started first, a trigger could race between the two
    // addData calls, advance the watermark off one side alone, and
    // late-drop the other side's older rows (observed at sf0.1)
    lIn.addData(clicks.toIndexedSeq)
    rIn.addData(purchases.toIndexedSeq)
    val sink = sinkName("q63")
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val maxMs = (clicks.iterator.map(_.ts.getTime) ++
        purchases.iterator.map(_.p_ts.getTime)).max
      val s1 = new java.sql.Timestamp(maxMs + 30L * 24 * 3600 * 1000)
      rIn.addData(Purchase(-1L, s1, 0.0))
      q.processAllAvailable() // watermark passes every real left
      rIn.addData(Purchase(-1L, new java.sql.Timestamp(s1.getTime + 60000L), 0.0))
      q.processAllAvailable() // the batch in which the timers fire
    } finally q.stop()
    // q55's exact output shape and sentinels — the oracle is shared verbatim
    s.table(sink).select(
        col("event_id"),
        col("user_id"),
        round(coalesce(col("p_value"), lit(-1.0)), 4).as("prior_value"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("asof_ts")), lit(-1L))
          .as("gap_us"))
      .unionByName(unmatchedNulls)
  }

  /** Streaming point-in-interval over the q56 inputs
    * ([[graft.operators.Joins.intervalStream]]): the attribution windows
    * are exactly 2 hours, so `maxLength = "2 hours"` makes the state
    * bound a no-op truncation and the result set identical to the batch
    * bucketed form. Inner-join matches emit within the arrival batch —
    * no sentinel flush needed.
    */
  private def q64IntervalStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val twoHoursUs = 2L * 3600 * 1000000
    val ev = Tables.events(s, d)
    // inner equijoin: null-key rows can never match in either engine, so
    // filtering them before the (non-null encoder) collect is sound
    val clicks = ev.where(col("event_type") === "click" && col("user_id").isNotNull)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      .as[Point].collect()
    val windows = ev.where(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id").as("p_user"),
        col("ts").as("w_start"),
        timestamp_micros(unix_micros(col("ts")) + twoHoursUs).as("w_end"))
      .as[Iv].collect()
    val pIn = MemoryStream[Point]
    val iIn = MemoryStream[Iv]
    val joined = graft.operators.Joins.intervalStream(
      pIn.toDF().withWatermark("ts", "1 hour"),
      iIn.toDF().withWatermark("w_start", "1 hour"),
      "user_id", "p_user", "ts", "w_start", "w_end", maxLength = "2 hours")
    // buffer before start() — same single-first-batch guarantee as q63
    pIn.addData(clicks.toIndexedSeq)
    iIn.addData(windows.toIndexedSeq)
    val sink = sinkName("q64")
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink).select(
      col("click_id"),
      col("purchase_id"),
      col("user_id"),
      (unix_micros(col("ts")) - unix_micros(col("w_start"))).as("gap_us"))
  }

  /** Streaming interval ANTI over the q130 inputs
    * ([[graft.operators.Joins.intervalAntiStream]]): clicks with NO
    * purchase window of the same user covering them, decided exactly
    * once per click when the watermark proves no window can still
    * arrive. Real rows arrive as one micro-batch; sentinel rows far in
    * the future on BOTH inputs (negative ids, filtered from the result)
    * advance the joint watermark past every real click so the
    * null-augmented anti rows flush. Compared against q130's batch
    * oracle verbatim.
    */
  private def q140IntervalAntiStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val twoHoursUs = 2L * 3600 * 1000000
    val ev = Tables.events(s, d)
    // null-key clicks survive the anti join trivially in both engines
    // (an equi-join never matches a null key) — route them around the
    // non-null encoder like q63 does and union them back at the end
    val nullClicks = ev
      .where(col("event_type") === "click" && col("user_id").isNull)
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    val clicks = ev.where(col("event_type") === "click" && col("user_id").isNotNull)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      .as[Point].collect()
    val windows = ev.where(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id").as("p_user"),
        col("ts").as("w_start"),
        timestamp_micros(unix_micros(col("ts")) + twoHoursUs).as("w_end"))
      .as[Iv].collect()
    val pIn = MemoryStream[Point]
    val iIn = MemoryStream[Iv]
    val anti = graft.operators.Joins.intervalAntiStream(
      pIn.toDF().withWatermark("ts", "1 hour"),
      iIn.toDF().withWatermark("w_start", "1 hour"),
      "user_id", "p_user", "ts", "w_start", "w_end", maxLength = "2 hours")
    pIn.addData(clicks.toIndexedSeq)
    iIn.addData(windows.toIndexedSeq)
    val sink = sinkName("q140")
    val q = anti.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val maxMs = (clicks.iterator.map(_.ts.getTime) ++
        windows.iterator.map(_.w_start.getTime)).max
      val s1 = new java.sql.Timestamp(maxMs + 30L * 24 * 3600 * 1000)
      pIn.addData(Point(-1L, -1L, s1))
      iIn.addData(Iv(-1L, -1L, s1, new java.sql.Timestamp(s1.getTime + 1000L)))
      q.processAllAvailable() // watermark passes every real click
      val s2 = new java.sql.Timestamp(s1.getTime + 60000L)
      pIn.addData(Point(-2L, -1L, s2))
      iIn.addData(Iv(-2L, -1L, s2, new java.sql.Timestamp(s2.getTime + 1000L)))
      q.processAllAvailable() // the batch that emits the remainder
    } finally q.stop()
    s.table(sink).where(col("click_id") >= 0)
      .select(col("click_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      .unionByName(nullClicks)
  }

  /** Streaming exact dedup over the q20 corpus
    * ([[StreamingFlows.dedupBySignature]] on the content hash): all
    * documents arrive as one micro-batch with a synthetic event time,
    * the watermark-bounded `dropDuplicatesWithinWatermark` state keeps
    * exactly one row per content hash, and the drained sink's hash SET
    * is compared against DuckDB's `SELECT DISTINCT md5(text)` — the
    * representative-per-key streaming guarantee, engine-checked.
    * (WHICH duplicate survives is first-arrival and not part of the
    * contract, so the gate projects the hash only.)
    */
  private def q75DedupStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    in.addData(docs.map(r => (r._1, r._2, t0)).toIndexedSeq)
    val deduped = StreamingFlows.dedupBySignature("ts", "1 hour", md5(col("text")))(
      in.toDF().toDF("doc_id", "text", "ts"))
    val sink = sinkName("q75")
    val q = deduped.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    s.table(sink).select(md5(col("text")).as("content_hash"))
  }

  /** Cross-batch ingest dedup over the q75 inputs
    * ([[graft.streaming.IngestDedup]]): documents arrive in TWO
    * micro-batches (split by doc_id parity, so duplicate texts straddle
    * the boundary), against a cold index — exercising the empty-index
    * bootstrap, the within-batch dedup, the Bloom-prefiltered cross-batch
    * drop, and the per-batch index append + filter merge. The union of
    * sink deliveries must be each distinct content hash EXACTLY once —
    * compared against DuckDB's `SELECT DISTINCT md5(text)` (same
    * representative-projection rationale as q75).
    */
  private def q87IngestStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val table = sinkName("q87idx")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val ingest = graft.streaming.IngestDedup(
      col("text"), table, expectedItems = math.max(docs.length.toLong, 16L)) {
      (novel, _) => got ++= novel.select(md5(col("text"))).as[String].collect()
    }
    val in = MemoryStream[(Long, String)]
    val q = in.toDS().toDF("doc_id", "text").writeStream.foreachBatch(ingest).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      s.sql(s"DROP TABLE IF EXISTS $table")
    }
    got.toSeq.toDF("content_hash")
  }

  /** Streaming tumbling-window aggregation over the q09 events
    * ([[graft.operators.Windows.tumbling]]'s streaming form: watermark +
    * windowed groupBy in append mode): all events arrive as one
    * micro-batch, then two sentinel batches on a marker event type far in
    * the future advance the watermark past every real window's end so
    * append mode finalizes and emits them all. The sentinels' own window
    * never finalizes (the second sentinel is only 1 minute after the
    * first, far inside the 1-hour delay), so the sink holds exactly the
    * real windows — compared against q09's batch oracle verbatim.
    */
  private def q78WindowStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val events = Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("value")).as[Ev].collect()
    val in = MemoryStream[Ev]
    // buffer before start() — same single-first-batch guarantee as q63
    in.addData(events.toIndexedSeq)
    val agg = in.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    val sink = sinkName("q78")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val maxMs = events.iterator.map(_.ts.getTime).max
      val s1 = new java.sql.Timestamp(maxMs + 30L * 24 * 3600 * 1000)
      in.addData(Ev("__sentinel", s1, 0.0))
      q.processAllAvailable() // watermark passes most real windows
      in.addData(Ev("__sentinel", new java.sql.Timestamp(s1.getTime + 60000L), 0.0))
      q.processAllAvailable() // the batch that emits the remainder
    } finally q.stop()
    s.table(sink).where(col("event_type") =!= "__sentinel")
      .select(col("window.start").cast("long").as("window_start"),
        col("event_type"), col("n"), col("total"))
  }

  /** Streaming session-window aggregation over the q11 events
    * ([[graft.operators.Windows.session]]'s streaming form:
    * `session_window` + watermark in append mode — Spark's native
    * merging-session state, the semantics the reference's
    * `flow/session_window.go` inactivity timer implements): all events
    * arrive as one micro-batch so sessions merge in-state, then two
    * sentinel batches on a user id outside the data advance the watermark
    * past every real session's close and append mode emits them all. The
    * sentinels' own session never closes (1 minute apart, inside the
    * 1-hour delay); null-user events are real groups in both engines and
    * flow through — the sentinel filter is null-safe. Compared against
    * q11's batch oracle verbatim.
    */
  private def q80SessionStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val events = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("value")).as[Sv].collect()
    val in = MemoryStream[Sv]
    // buffer before start() — same single-first-batch guarantee as q63
    in.addData(events.toIndexedSeq)
    val agg = in.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    val sink = sinkName("q80")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val maxMs = events.iterator.map(_.ts.getTime).max
      val s1 = new java.sql.Timestamp(maxMs + 30L * 24 * 3600 * 1000)
      in.addData(Sv(Some(-1L), s1, 0.0))
      q.processAllAvailable() // watermark passes every real session close
      in.addData(Sv(Some(-1L), new java.sql.Timestamp(s1.getTime + 60000L), 0.0))
      q.processAllAvailable() // the batch that emits the remainder
    } finally q.stop()
    s.table(sink).where(!(col("user_id") <=> lit(-1L)))
      .select(col("user_id"),
        col("session_window.start").cast("long").as("session_start"),
        col("n"), col("total"))
  }

  /** Streaming sliding-window aggregation over the q10 events
    * ([[graft.operators.Windows.sliding]]'s streaming form: watermark +
    * overlapping windowed groupBy in append mode — each event enters
    * size/slide = 2 windows, exactly as the batch `window(ts, size,
    * slide)` fan-out): all events arrive as one micro-batch, then the
    * q78 sentinel dance advances the watermark past every real window's
    * end. The overlap changes nothing about finalization — append mode
    * emits each (window, key) pane once the watermark passes THAT
    * window's end — and BOTH of the sentinel's own overlapping windows
    * end within the 1-hour delay of the second sentinel, so neither
    * ever finalizes. Compared against q10's batch oracle verbatim.
    */
  private def q86SlidingStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val events = Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("value")).as[Ev].collect()
    val in = MemoryStream[Ev]
    // buffer before start() — same single-first-batch guarantee as q63
    in.addData(events.toIndexedSeq)
    val agg = in.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    val sink = sinkName("q86")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val maxMs = events.iterator.map(_.ts.getTime).max
      val s1 = new java.sql.Timestamp(maxMs + 30L * 24 * 3600 * 1000)
      in.addData(Ev("__sentinel", s1, 0.0))
      q.processAllAvailable() // watermark passes most real windows
      in.addData(Ev("__sentinel", new java.sql.Timestamp(s1.getTime + 60000L), 0.0))
      q.processAllAvailable() // the batch that emits the remainder
    } finally q.stop()
    s.table(sink).where(col("event_type") =!= "__sentinel")
      .select(col("window.start").cast("long").as("window_start"),
        col("event_type"), col("n"), col("total"))
  }

  /** Streaming keyed aggregation over the q12 events, on Spark 4's
    * `transformWithState` ([[StreamingFlows.keyedFoldEmitTWS]] — the
    * SURVEY-designated target for the reference's forever-running per-key
    * chains, flow/keyed.go:131-158): every event folds into a typed
    * per-key accumulator (count, sum, distinct-type set, max ts) in the
    * RocksDB state store; one micro-batch means one APPEND emission per
    * key carrying its final aggregate — no COMPLETE-mode sink holding
    * the result set. The distinct-type set skips nulls like
    * `countDistinct`. Compared against q12's batch oracle verbatim.
    */
  private def q83KeyedStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // RocksDB is required by transformWithState; scoped with restore so
    // later gates on the shared session keep their own provider (the
    // round-9 cross-gate-interference finding)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val events = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("value"))
      .as[Kv].collect()
    val in = MemoryStream[Kv]
    in.addData(events.toIndexedSeq)
    implicit val accEnc: org.apache.spark.sql.Encoder[(Long, Double, Set[String], Long)] =
      org.apache.spark.sql.Encoders.kryo[(Long, Double, Set[String], Long)]
    val out = StreamingFlows.keyedFoldEmitTWS[
        Option[Long], Kv, (Long, Double, Set[String], Long),
        (Option[Long], Long, Double, Long, Long)](
      keyFn = _.user_id,
      init = (0L, 0.0, Set.empty[String], Long.MinValue),
      step = (st, v) => (
        st._1 + 1L,
        st._2 + v.value,
        if (v.event_type == null) st._3 else st._3 + v.event_type,
        math.max(st._4, v.ts.getTime)),
      finish = (k, st) => (k, st._1, st._2, st._3.size.toLong,
        java.lang.Math.floorDiv(st._4, 1000L))
    ).apply(in.toDS())
    val sink = sinkName("q83")
    val q = out.toDF("user_id", "n_events", "total_raw", "n_types", "last_seen")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    s.table(sink).select(
      col("user_id"), col("n_events"),
      round(col("total_raw"), 4).as("total_value"),
      col("n_types"), col("last_seen"))
    } finally prevProvider match {
      case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None    => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  final case class BOrd(o_custkey: Long, o_orderkey: Long, o_totalprice: Double)

  /** q07's streaming twin: the count-OR-time Batch trigger on
    * `transformWithState` ([[StreamingFlows.batchCountOrTimeTWS]] — real
    * per-key timers). Orders arrive as TWO micro-batches pre-sorted by
    * (custkey, orderkey) from a single-partition source, so each key's
    * iterator preserves orderkey order and the count trigger (5) flushes
    * exactly the oracle's chunks — the key spanning the batch boundary
    * proves the cross-batch partial-buffer append; each key's partial
    * tail stays buffered until its 5 s timer fires, which sentinel
    * micro-batches on fresh NEGATIVE keys nudge the engine into
    * evaluating (the poll-with-deadline pattern — `processAllAvailable`
    * makes no timer promises).
    * Sentinels never reach the result: distinct keys keep them under the
    * count trigger and the final select filters custkey < 0. batch_id is
    * reconstructed per key by first-orderkey order — chunks of an ordered
    * stream are contiguous, so rank(min orderkey) IS the chunk index.
    * Compared against q07's batch oracle verbatim.
    */
  private def q135BatchStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // RocksDB scoped-with-restore, as in q83 (no provider leakage into
    // later gates on the shared session)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val orders = Tables.load(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[BOrd].collect().sortBy(o => (o.o_custkey, o.o_orderkey))
    val expected = orders.groupBy(_.o_custkey).valuesIterator
      .map(g => (g.size + 4) / 5).sum.toLong
    val in = MemoryStream[BOrd]
    // TWO micro-batches, split mid-stream (and, for the boundary key,
    // mid-key): the second half lands on top of first-half partial
    // buffers, exercising the processor's cross-batch buffer append —
    // and halving the driver rows any one task serializes (the round-9
    // 7 MiB task-binary note). maxLatencyMs = 5 s keeps the boundary
    // key's timer from firing in the gap between the two feeds (the
    // second feed follows ~0.3 s after the first batch processes), so
    // chunk boundaries equal the contiguous chunking the oracle replays.
    val (firstHalf, secondHalf) = orders.toIndexedSeq.splitAt(orders.length / 2)
    in.addData(firstHalf)
    val chunks = StreamingFlows.batchCountOrTimeTWS[Long, BOrd](
      _.o_custkey, maxBatchSize = 5, maxLatencyMs = 5000L).apply(in.toDS())
    val flat = chunks.map { case (k, vs) =>
      (k, vs.size.toLong, vs.map(_.o_totalprice).sum,
        vs.map(_.o_orderkey).min, vs.map(_.o_orderkey).max)
    }
    val sink = sinkName("q135")
    val q = flat.toDF("o_custkey", "n", "total_raw", "first_key", "last_key")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      // NEVER processAllAvailable here: with ProcessingTime timers the
      // engine self-schedules batches and PAV may not settle (the SKILL
      // gotcha) — poll the sink with a deadline instead
      def landed() = s.table(sink).where(col("o_custkey") >= 0).count()
      val deadline = System.currentTimeMillis() + 180000L
      var nudge = 0L
      var fedSecond = false
      while (landed() < expected && System.currentTimeMillis() < deadline) {
        Thread.sleep(300L)
        if (!fedSecond) { in.addData(secondHalf); fedSecond = true }
        nudge += 1
        in.addData(BOrd(-nudge, 0L, 0.0)) // force a batch → due timers fire
      }
      assert(landed() == expected, s"q135: ${landed()} of $expected chunks after deadline")
    } finally q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("first_key"))
    s.table(sink).where(col("o_custkey") >= 0)
      .withColumn("batch_id", row_number().over(w).cast("long") - 1L)
      .select(col("o_custkey"), col("batch_id"), col("n"),
        round(col("total_raw"), 2).as("batch_total"),
        col("first_key"), col("last_key"))
    } finally prevProvider match {
      case Some(v) => s.conf.set(providerKey, v)
      case None    => s.conf.unset(providerKey)
    }
  }

  /** Streaming session-transition mining over the q111 inputs
    * ([[StreamingFlows.transitions]]): all events arrive as one
    * micro-batch, two far-future sentinels on an unused key advance the
    * watermark past every real event and fire the flush timers — every
    * consecutive pair is emitted exactly once, then counted at the sink
    * into q111's exact output shape (shared oracle). The two sentinels
    * are 30 days apart, so they never pair with each other.
    */
  private def q114TransitionsStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val events = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[TEv].collect()
    if (events.isEmpty)
      return s.createDataset(Seq.empty[(String, String, Long)])
        .toDF("from_state", "to_state", "n")
    val in = MemoryStream[TEv]
    val pairs = StreamingFlows.transitions[Option[Long], TEv, TPair](
      in.toDS(), _.user_id, _.ts,
      delay = "1 hour", gapSeconds = 1800, ord = _.event_id,
      (a, b) => TPair(a.event_type, b.event_type))
    in.addData(events.toIndexedSeq)
    val sink = sinkName("q114")
    val q = pairs.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val maxMs = events.iterator.map(_.ts.getTime).max
      val s1 = new java.sql.Timestamp(maxMs + 30L * 24 * 3600 * 1000)
      in.addData(TEv(-1L, Some(-1L), s1, "___sentinel"))
      q.processAllAvailable() // watermark passes every real event
      in.addData(TEv(-2L, Some(-1L),
        new java.sql.Timestamp(s1.getTime + 30L * 24 * 3600 * 1000), "___sentinel"))
      q.processAllAvailable() // the batch in which the timers fire
    } finally q.stop()
    s.table(sink)
      .where(col("from_state") =!= "___sentinel" && col("to_state") =!= "___sentinel")
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
  }

  /** Streaming per-event sessionization over the q124 inputs
    * ([[StreamingFlows.sessionize]]): same sentinel plumbing as q114;
    * sentinel rows (negative event ids on an unused key) are dropped
    * from the readout, and the exact per-event session numbers must
    * hash-match the batch q124 oracle.
    */
  private def q125SessionizeStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val events = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[TEv].collect()
    if (events.isEmpty)
      return s.createDataset(Seq.empty[(Long, Option[Long], Long)])
        .toDF("event_id", "user_id", "session_seq")
    val in = MemoryStream[TEv]
    val labeled = StreamingFlows.sessionize[Option[Long], TEv, (Long, Option[Long], Long)](
      in.toDS(), _.user_id, _.ts,
      delay = "1 hour", gapSeconds = 1800, ord = _.event_id,
      (e, seq) => (e.event_id, e.user_id, seq))
    in.addData(events.toIndexedSeq)
    val sink = sinkName("q125")
    val q = labeled.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val maxMs = events.iterator.map(_.ts.getTime).max
      val s1 = new java.sql.Timestamp(maxMs + 30L * 24 * 3600 * 1000)
      in.addData(TEv(-1L, Some(-1L), s1, "___sentinel"))
      q.processAllAvailable()
      in.addData(TEv(-2L, Some(-1L),
        new java.sql.Timestamp(s1.getTime + 30L * 24 * 3600 * 1000), "___sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink).toDF("event_id", "user_id", "session_seq")
      .where(col("event_id") >= 0)
  }

  /** Streaming last-touch attribution over the q176 inputs
    * ([[StreamingFlows.lastTouchAttribution]]): same sentinel plumbing
    * as q125 (the sentinels' event_type is neither touch nor conversion,
    * so they only advance the watermark); every finalized purchase is
    * emitted exactly once with its in-window view/click attribution —
    * and the result must hash-match the BATCH q176 oracle verbatim.
    */
  private def q177AttributionStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val events = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[TEv].collect()
    if (events.isEmpty)
      return s.createDataset(
          Seq.empty[(Option[Long], Long, Option[Long], Option[String], Option[Long])])
        .toDF("user_id", "conversion_id", "touch_id", "touch_state", "delay_seconds")
    val in = MemoryStream[TEv]
    val attributed = StreamingFlows.lastTouchAttribution[
        Option[Long], TEv, (Option[Long], Long, Option[Long], Option[String], Option[Long])](
      in.toDS(), _.user_id, _.ts,
      delay = "1 hour", ord = _.event_id,
      isTouch = e => e.event_type == "view" || e.event_type == "click",
      isConversion = _.event_type == "purchase",
      windowSeconds = 86400L,
      (c, t) => (c.user_id, c.event_id,
        t.map(_.event_id), t.map(_.event_type),
        t.map(x => c.ts.getTime / 1000L - x.ts.getTime / 1000L)))
    in.addData(events.toIndexedSeq)
    val sink = sinkName("q177")
    val q = attributed.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val maxMs = events.iterator.map(_.ts.getTime).max
      val s1 = new java.sql.Timestamp(maxMs + 30L * 24 * 3600 * 1000)
      in.addData(TEv(-1L, Some(-1L), s1, "___sentinel"))
      q.processAllAvailable()
      in.addData(TEv(-2L, Some(-1L),
        new java.sql.Timestamp(s1.getTime + 30L * 24 * 3600 * 1000), "___sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink)
      .toDF("user_id", "conversion_id", "touch_id", "touch_state", "delay_seconds")
  }

  /** Streaming CDC maintenance over the q123 inputs
    * ([[graft.streaming.IngestUpsert]]): the snapshot table is
    * bootstrapped from orders, the q123 change set arrives split across
    * TWO micro-batches, and the maintained table must hash-match the
    * one-shot batch merge (q123's oracle verbatim) — the cross-batch
    * convergence law, proven at data scale. Timestamps are cast to the
    * session-TZ type so the MemoryStream batch unions with the parquet
    * snapshot (NTZ) cleanly; the readout compares floored epoch seconds
    * either way.
    */
  private def q126UpsertStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val orders = Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("timestamp").as("ver"))
    val table = sinkName("q126snap")
    orders.write.mode("overwrite").format("parquet").saveAsTable(table)
    val changes = orders.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
        (col("ver") + expr("INTERVAL 1 DAY")).as("ver"),
        when(col("o_orderkey") % 9 === 0, "delete").otherwise("upsert").as("op"))
      .as[COrd].collect()
    val (b1, b2) = changes.partition(_.o_orderkey % 2 == 0)
    val in = MemoryStream[COrd]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestUpsert("o_orderkey", "ver", table))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(table).select(col("o_orderkey"), col("o_totalprice"),
      unix_timestamp(col("ver")).as("ver_s"))
  }

  /** Streaming SCD2 maintenance over the q138 change feed
    * ([[graft.streaming.IngestHistorize]]): the base orders bootstrap the
    * change log as upserts; the q138 changes stream in TWO micro-batches
    * (split by key parity) and the derived validity-interval view must
    * hash-match the one-shot q138 historization — the log-then-derive
    * equivalence, engine-checked.
    */
  private def q141HistorizeStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val orders = Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("timestamp").as("ver"))
    val log = sinkName("q141log")
    val table = sinkName("q141hist")
    orders.withColumn("op", lit("upsert"))
      .write.mode("overwrite").format("parquet").saveAsTable(log)
    val changes = orders.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
        (col("ver") + expr("INTERVAL 1 DAY")).as("ver"),
        when(col("o_orderkey") % 9 === 0, "delete").otherwise("upsert").as("op"))
      .as[COrd].collect()
    val (b1, b2) = changes.partition(_.o_orderkey % 2 == 0)
    val in = MemoryStream[COrd]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestHistorize("o_orderkey", "ver", log, table))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(table).select(col("o_orderkey"), col("o_totalprice"),
      unix_timestamp(col("valid_from")).as("valid_from_s"),
      unix_timestamp(col("valid_to")).as("valid_to_s"),
      col("is_current"))
  }

  /** Streaming φ-heavy hitters over the q102 token stream
    * ([[StreamingFlows.heavyHittersTWS]] — Misra–Gries, bounded state):
    * document texts arrive as FOUR micro-batches, tokenized INSIDE the
    * stream with the exact q102 tokenizer column, and each shard's
    * bounded summary re-emits per touching batch. The readout takes the
    * union of emitted items as the candidate set (a superset of every
    * final summary) and recounts them EXACTLY over the same corpus at
    * q102's threshold: capacity 34 > 1/0.03 − 1, so MG's one-sided
    * error guarantees no heavy term is missed and the HAVING removes
    * every light candidate — the result must hash-match q102's batch
    * oracle verbatim. TimeMode.None (no timers), so
    * `processAllAvailable` is safe.
    */
  private def q153HeavyStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // transformWithState requires RocksDB (column families); scoped with
    // restore as in q83/q135 — no provider leakage into later gates
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val texts = Tables.documents(s, d).select(col("text")).as[String].collect()
    val in = MemoryStream[String]
    val terms = in.toDF()
      .select(explode(TextFunctions.wsTokens(col("value"))).as("term")).as[String]
    val summaries = StreamingFlows
      .heavyHittersTWS[String](identity, capacity = 34, shards = 32)
      .apply(terms)
    val sink = sinkName("q153")
    val q = summaries.toDF("shard", "item", "mg_cnt")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      texts.grouped(math.max(1, texts.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val candidates = s.table(sink).select(col("item").as("term")).distinct()
    val toks = Tables.documents(s, d)
      .select(explode(TextFunctions.wsTokens(col("text"))).as("term"))
    val n = toks.count()
    val thr = math.max(1L, math.ceil(0.03 * n).toLong) // q102's exact arithmetic
    toks.join(candidates, Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= thr)
    } finally prevProvider match {
      case Some(v) => s.conf.set(providerKey, v)
      case None    => s.conf.unset(providerKey)
    }
  }

  /** q181 — STREAMING exact KS drift: the documents' (source, n_chars)
    * rows arrive in two micro-batches; [[StreamingFlows.histogramTWS]]
    * holds each source's value histogram in the state store (the
    * sufficient statistic — state is bounded by distinct values, not
    * stream length) and emits the touched (group, v, c) entries per
    * batch; `max(c)` per pair replays the exact final histogram (counts
    * are monotone), which feeds
    * [[graft.curation.Corpus.ksDriftFromCounts]] — the same statistic
    * engine q172 uses, fed from the state store instead of the corpus.
    * Must hash-match q172's one-shot batch oracle verbatim.
    */
  private def q181KsStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // transformWithState requires RocksDB; scoped with restore (q153 idiom)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long"))
        .as[(String, Long)].collect()
      val in = MemoryStream[(String, Long)]
      val hist = StreamingFlows
        .histogramTWS[(String, Long), String](_._1, _._2.toDouble)
        .apply(in.toDS())
      val sink = sinkName("q181")
      val q = hist.toDF("group", "v", "c").writeStream.format("memory")
        .queryName(sink).outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 2 + 1)).foreach { chunk =>
          in.addData(chunk.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val counts = s.table(sink)
        .groupBy(col("group"), col("v")).agg(max(col("c")).as("c"))
      graft.curation.Corpus.ksDriftFromCounts(counts)
    } finally prevProvider match {
      case Some(v) => s.conf.set(providerKey, v)
      case None    => s.conf.unset(providerKey)
    }
  }

  /** q190 — STREAMING PQ serving: the encoded corpus and the trained
    * codebooks are static (the q182 model, built once and checkpointed);
    * QUERIES arrive as a stream in two micro-batches, each served by one
    * [[graft.similarity.PQ.adcTopK]] pass (per-batch lookup tables
    * broadcast, results appended to a parquet sink). Per-query results
    * are independent, so the union across batches must hash-match q182's
    * one-shot batch oracle verbatim — the serve-as-they-arrive face of
    * the PQ index.
    */
  private def q190PqStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val emb = Tables.embeddings(s, d)
    val cb = graft.similarity.PQ.trainCodebooks(emb, col("vec_id"), col("embedding"),
      m = AnalyticsGates.PqM, k = AnalyticsGates.PqK, iters = AnalyticsGates.PqIters)
    // the index: encoded ONCE, checkpointed — every batch serves off it
    val codes = graft.Materialize(
      graft.similarity.PQ.encode(emb, col("vec_id"), col("embedding"), cb))
    val qs: Array[(Long, Seq[Double])] = emb.orderBy(col("vec_id")).limit(AnalyticsGates.PqQ)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val sink = sinkName("q190")
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDS().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.similarity.PQ.adcTopK(codes, batch, col("vec_id"), col("embedding"),
              cb, topK = AnalyticsGates.PqTopK)
            .write.mode("append").format("parquet").saveAsTable(sink)
          ()
        }
      }
      .start()
    try {
      val (b1, b2) = qs.partition(_._1 % 2 == 0)
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink).select(col("q_id"), col("n_id"), col("rank"), col("dist"))
  }

  /** q192 — STREAMING per-group top-k ([[StreamingFlows.topKTWS]], the
    * streaming face of the q189 bounded aggregate): orders arrive in two
    * micro-batches; each group's state is the k-element heap (never the
    * history), each touched group re-emits its complete current top-k
    * with a monotone emitSeq, and the highest-emitSeq emission per group
    * reconstructs the exact batch answer — hash-matched against q189's
    * row_number oracle verbatim.
    */
  private def q192TopkStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Tables.orders(s, d)
        .select(col("o_custkey").cast("long"), col("o_totalprice").cast("double"),
          col("o_orderkey").cast("long"))
        .as[(Long, Double, Long)].collect()
      val in = MemoryStream[(Long, Double, Long)]
      val out = StreamingFlows.topKTWS[(Long, Double, Long), Long](
        _._1, _._2, _._3, k = 3).apply(in.toDS())
      val sink = sinkName("q192")
      val q = out.toDF("grp", "emit_seq", "rank", "price", "okey")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        val (b1, b2) = rows.partition(_._3 % 2 == 0)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      // the latest side re-projects under fresh names: a self-join of the
      // memory-sink view on its own attributes trips reference dedup
      val t = s.table(sink)
      val latest = s.table(sink)
        .select(col("grp").as("g2"), col("emit_seq").as("e2"))
        .groupBy(col("g2")).agg(max(col("e2")).as("e2"))
      t.join(latest, col("grp") === col("g2") && col("emit_seq") === col("e2"))
        .select(col("grp").as("o_custkey"), col("rank"),
          col("okey").as("o_orderkey"), round(col("price"), 2).as("price"))
    } finally prevProvider match {
      case Some(v) => s.conf.set(providerKey, v)
      case None    => s.conf.unset(providerKey)
    }
  }

  /** q196 — streaming exact quantiles ([[StreamingFlows.dyadicHistTWS]]):
    * lineitem prices stream per returnflag in TWO micro-batches with the
    * bounded per-group dyadic histogram as the TWS state (1024 cells,
    * exact counts + per-cell min/max — O(maxCells) over the unbounded
    * price domain, where a value→count map would grow with distinct
    * prices). Each batch emits the touched group's whole snapshot under
    * a monotone emit_seq (the q192 replay convention); the LAST snapshot
    * seeds the same rank walk + bounded final in-cell resolution the
    * batch operator uses ([[graft.curation.Quantiles.walkCells]] +
    * `refineAndResolve`) — the streamed bounded state must land on
    * q103's oracle verbatim.
    */
  private def q196QuantileStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Tables.load(s, d, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").cast("double").as("v"),
          lit(1L).as("w"))
        .where(col("v").isNotNull)
      val rows = base.select(col("g"), col("v")).as[(String, Double)].collect()
      val in = MemoryStream[(String, Double)]
      val out = StreamingFlows.dyadicHistTWS[(String, Double), String](
        _._1, _._2, maxCells = 1024).apply(in.toDS())
      val sink = sinkName("q196")
      val q = out.toDF("g", "emit_seq", "cell", "cnt", "cmin", "cmax")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        // split by the price's raw bits parity — group-blind, so both
        // batches touch every group and the snapshots genuinely merge
        val (b1, b2) = rows.partition(r =>
          (java.lang.Double.doubleToLongBits(r._2) & 1L) == 0L)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      val t = s.table(sink)
      val latest = s.table(sink)
        .select(col("g").as("g2"), col("emit_seq").as("e2"))
        .groupBy(col("g2")).agg(max(col("e2")).as("e2"))
      val snapshot = t.join(latest, col("g") === col("g2") && col("emit_seq") === col("e2"))
        .select(col("g"), col("cell"), col("cnt"), col("cmin"), col("cmax"))
        .collect()
      val qs = Seq(0.5, 0.9, 0.99)
      val seedState = snapshot.groupBy(_.getString(0)).toArray.flatMap { case (g, rs) =>
        val cells = rs.sortBy(_.getLong(1))
          .map(r => (r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
        graft.curation.Quantiles.walkCells(cells, qs).map {
          case (qq, rank, lo, hi, cnt) =>
            org.apache.spark.sql.Row(g, qq, rank, lo, hi, cnt)
        }
      }
      graft.curation.Quantiles.refineAndResolve(
          base, seedState, qs, buckets = 8192, maxFinal = 1L << 20, maxRounds = 8)
        .select(col("g").as("l_returnflag"), col("q"), col("value"))
    } finally prevProvider match {
      case Some(v) => s.conf.set(providerKey, v)
      case None    => s.conf.unset(providerKey)
    }
  }

  /** q201 — streaming TOP-K-VIEW maintenance
    * ([[graft.streaming.IngestTopKView]]): the q200 change set streams in
    * TWO micro-batches; each batch competes its inserts against the kept
    * rows state-side and recomputes only the groups whose kept rows were
    * deleted, from the touched base buckets. The final view must
    * hash-match q200's from-scratch re-rank — oracle shared verbatim.
    */
  private def q201TopkViewStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_custkey").as("grp"), col("o_totalprice").as("score"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val baseTable = sinkName("q201base")
    val viewTable = sinkName("q201view")
    base.withColumn("bkt", pmod(hash(col("grp")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(baseTable)
    graft.operators.TopK.topKByGroup(base, Seq(col("grp")),
        struct(col("score"), (-col("row_id")).as("__nid"), col("row_id")), k = 3)
      .select(col("grp"), col("rank"), col("row_id"), col("score"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(viewTable)

    val changes =
      o.where(col("o_orderdate") >= cut).drop("o_orderdate").withColumn("op", lit("insert"))
        .unionByName(base.where(col("row_id") % AnalyticsGates.DeleteMod === 0)
          .withColumn("op", lit("delete")))
        .as[ChgT].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[ChgT]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestTopKView(baseTable, viewTable, k = 3, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // rank IS NOT NULL drops the maintainer's watermark sentinel row
    s.table(viewTable).where(col("rank").isNotNull)
      .select(col("grp").as("o_custkey"), col("rank"),
        col("row_id").as("o_orderkey"), round(col("score"), 2).as("price"))
  }

  /** q203 — streaming COUNT-DISTINCT-view maintenance
    * ([[graft.streaming.IngestDistinctView]]): the q202 change set
    * streams in TWO micro-batches; each batch updates the (grp, value)
    * refcount relation by pure delta arithmetic (no recompute exists in
    * this IVM shape) and rebuilds only the touched base buckets. The
    * final readout must hash-match q202's from-scratch DISTINCT count —
    * oracle shared verbatim.
    */
  private def q203DistinctViewStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_custkey").as("grp"), col("o_orderpriority").as("value"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val baseTable = sinkName("q203base")
    val refTable = sinkName("q203ref")
    base.withColumn("bkt", pmod(hash(col("grp")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(baseTable)
    base.groupBy(col("grp"), col("value")).agg(count(lit(1)).as("rc"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(refTable)

    val changes =
      o.where(col("o_orderdate") >= cut).drop("o_orderdate").withColumn("op", lit("insert"))
        .unionByName(base.where(col("row_id") % AnalyticsGates.DeleteMod === 0)
          .withColumn("op", lit("delete")))
        .as[ChgD].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[ChgD]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestDistinctView(baseTable, refTable, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // rc IS NOT NULL drops the maintainer's watermark sentinel row
    s.table(refTable).where(col("rc").isNotNull)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("rc")).cast("long").as("n_rows"))
      .select(col("grp").as("o_custkey"), col("n_distinct"), col("n_rows"))
  }

  /** q205 — streaming QUANTILE-view maintenance
    * ([[graft.streaming.IngestQuantileView]]): the q204 change set
    * streams in TWO micro-batches; each batch updates the (grp, cell)
    * dyadic refcount relation by pure delta arithmetic (the fifth IVM
    * shape is fully self-maintainable — no recompute exists) and rebuilds
    * only the touched base buckets. The final readout serves exact type-1
    * quantiles from the maintained cells + the healed base
    * ([[graft.sources.Storage.quantilesFromCells]]) and must hash-match
    * q204's from-scratch rank walk — oracle shared verbatim.
    */
  private def q205QuantileViewStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_custkey").as("grp"), col("o_totalprice").as("value"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val baseTable = sinkName("q205base")
    val cellTable = sinkName("q205cells")
    base.withColumn("bkt", pmod(hash(col("grp")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(baseTable)
    base.groupBy(col("grp"),
        graft.sources.Storage.dyadicCell(col("value"), AnalyticsGates.QvScale).as("cell"))
      .agg(count(lit(1)).as("rc"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(cellTable)

    val changes =
      o.where(col("o_orderdate") >= cut).drop("o_orderdate").withColumn("op", lit("insert"))
        .unionByName(base.where(col("row_id") % AnalyticsGates.DeleteMod === 0)
          .withColumn("op", lit("delete")))
        .as[ChgQ].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[ChgQ]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestQuantileView(
        baseTable, cellTable, buckets = 8, scale = AnalyticsGates.QvScale))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // rc IS NOT NULL drops the maintainer's watermark sentinel row
    graft.sources.Storage.quantilesFromCells(
        s.table(cellTable).where(col("rc").isNotNull).drop("__batch"),
        s.table(baseTable),
        "grp", "value", AnalyticsGates.QvScale, AnalyticsGates.QvQs)
      .select(col("g").as("o_custkey"), col("q"), col("value"))
  }

  /** q235 — the q205 maintenance SERVED THROUGH the two-store pattern
    * ([[graft.streaming.IngestQuantileView.relayServeLayout]]): the
    * stream maintains the write-optimized hash-bucket base + cell
    * relation exactly as q205, then the read-optimized Z-ordered serve
    * store is re-laid from the maintained base and the serve goes
    * through [[graft.sources.Storage.quantilesFromCellsLayout]] —
    * candidate (bucket, cell) pairs pushed into the relay's scan as
    * IN-filters. Shares q204's oracle verbatim (the layout is a
    * superset restriction; value-identical by contract).
    */
  private def q235QuantileLayoutStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_custkey").as("grp"), col("o_totalprice").as("value"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val baseTable = sinkName("q235base")
    val cellTable = sinkName("q235cells")
    base.withColumn("bkt", pmod(hash(col("grp")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(baseTable)
    base.groupBy(col("grp"),
        graft.sources.Storage.dyadicCell(col("value"), AnalyticsGates.QvScale).as("cell"))
      .agg(count(lit(1)).as("rc"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(cellTable)

    val changes =
      o.where(col("o_orderdate") >= cut).drop("o_orderdate").withColumn("op", lit("insert"))
        .unionByName(base.where(col("row_id") % AnalyticsGates.DeleteMod === 0)
          .withColumn("op", lit("delete")))
        .as[ChgQ].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[ChgQ]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestQuantileView(
        baseTable, cellTable, buckets = 8, scale = AnalyticsGates.QvScale))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val relay = s"$scratchRoot/q235_${d.hashCode & 0x7fffffff}"
    graft.streaming.IngestQuantileView.relayServeLayout(
      s, baseTable, "grp", "value", AnalyticsGates.QvScale,
      grpBuckets = 64, bits = 16, files = 32, path = relay)
    graft.sources.Storage.quantilesFromCellsLayout(s, relay,
        s.table(cellTable).where(col("rc").isNotNull).drop("__batch"),
        "grp", "value", AnalyticsGates.QvScale, AnalyticsGates.QvQs, grpBuckets = 64)
      .select(col("g").as("o_custkey"), col("q"), col("value"))
  }

  /** q211 — streaming WEIGHTED quantile-view maintenance: the q210 change
    * set (order-priority groups, mass `o_orderkey % 7 + 1`) streams in TWO
    * micro-batches through [[graft.streaming.IngestQuantileView]] in its
    * weighted mode; the cell relation carries Σ weight, and the final
    * readout serves the weighted type-1 quantiles from the maintained
    * cells + the healed base — oracle shared verbatim with q210.
    */
  private def q211WeightedQuantileViewStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_orderpriority").as("grp"), col("o_totalprice").as("value"),
      (col("o_orderkey") % 7 + 1).as("w"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val baseTable = sinkName("q211base")
    val cellTable = sinkName("q211cells")
    base.withColumn("bkt", pmod(hash(col("grp")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(baseTable)
    base.groupBy(col("grp"),
        graft.sources.Storage.dyadicCell(col("value"), AnalyticsGates.QvScale).as("cell"))
      .agg(sum(col("w")).cast("long").as("rc"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(cellTable)

    val changes =
      o.where(col("o_orderdate") >= cut).drop("o_orderdate").withColumn("op", lit("insert"))
        .unionByName(base.where(col("row_id") % AnalyticsGates.DeleteMod === 0)
          .withColumn("op", lit("delete")))
        .as[ChgW].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[ChgW]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestQuantileView(
        baseTable, cellTable, buckets = 8, scale = AnalyticsGates.QvScale,
        weight = Some("w")))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    graft.sources.Storage.weightedQuantilesFromCells(
        s.table(cellTable).where(col("rc").isNotNull).drop("__batch"),
        s.table(baseTable),
        "grp", "value", "w", AnalyticsGates.QvScale, AnalyticsGates.WqvQs)
      .select(col("g").as("o_orderpriority"), col("q"), col("value"))
  }

  /** q241 — the q211 WEIGHTED maintenance served through the two-store
    * pattern (the q235 machinery; the relay carries the weight column
    * along stored, [[graft.sources.Storage.writeQuantileServeLayout]]'s
    * ride-along contract). Shares q210's oracle verbatim.
    */
  private def q241WqLayoutStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_orderpriority").as("grp"), col("o_totalprice").as("value"),
      (col("o_orderkey") % 7 + 1).as("w"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val baseTable = sinkName("q241base")
    val cellTable = sinkName("q241cells")
    base.withColumn("bkt", pmod(hash(col("grp")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(baseTable)
    base.groupBy(col("grp"),
        graft.sources.Storage.dyadicCell(col("value"), AnalyticsGates.QvScale).as("cell"))
      .agg(sum(col("w")).cast("long").as("rc"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(cellTable)

    val changes =
      o.where(col("o_orderdate") >= cut).drop("o_orderdate").withColumn("op", lit("insert"))
        .unionByName(base.where(col("row_id") % AnalyticsGates.DeleteMod === 0)
          .withColumn("op", lit("delete")))
        .as[ChgW].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[ChgW]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestQuantileView(
        baseTable, cellTable, buckets = 8, scale = AnalyticsGates.QvScale,
        weight = Some("w")))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val relay = s"$scratchRoot/q241_${d.hashCode & 0x7fffffff}"
    graft.streaming.IngestQuantileView.relayServeLayout(
      s, baseTable, "grp", "value", AnalyticsGates.QvScale,
      grpBuckets = 8, bits = 16, files = 32, path = relay)
    graft.sources.Storage.weightedQuantilesFromCellsLayout(s, relay,
        s.table(cellTable).where(col("rc").isNotNull).drop("__batch"),
        "grp", "value", "w", AnalyticsGates.QvScale, AnalyticsGates.WqvQs, grpBuckets = 8)
      .select(col("g").as("o_orderpriority"), col("q"), col("value"))
  }

  /** q214 — streaming THREE-WAY join-view maintenance
    * ([[graft.streaming.IngestJoinView3]]): the q212 change set — inserts
    * and deletes on customer AND orders AND lineitem — streams in TWO
    * micro-batches; each batch updates the per-nation view through the
    * seven-term composed delta algebra and rebuilds only the touched base
    * buckets on all three tables. The final view must hash-match q212's
    * from-scratch three-way re-join — oracle shared verbatim.
    */
  private def q214JoinView3Stream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val aAll = Tables.customer(s, d)
      .select(col("c_custkey").as("ka"), col("c_nationkey").as("grp"))
      .withColumn("row_id", col("ka"))
    val aOld = aAll.where(col("ka") % 3 =!= 0)
    val bAll = Tables.orders(s, d).select(col("o_custkey").as("ka"),
      col("o_orderkey").as("kb"), col("o_orderdate"))
      .withColumn("row_id", col("kb"))
    val bOld = bAll.where(col("o_orderdate") < cut).drop("o_orderdate")
    // lineitem row ids minted with a per-(orderkey, linenumber) occurrence
    // index — the q187 duplicate-pair finding; occurrence assignment only
    // affects the batch split, never the view the oracle hashes
    val occW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("kb"), col("l_linenumber")).orderBy(col("value"))
    val cAll = Tables.lineitem(s, d).select(col("l_orderkey").as("kb"),
      col("l_quantity").cast("long").as("value"), col("l_linenumber"))
      .withColumn("row_id",
        (col("kb").cast("long") * 16 + col("l_linenumber")) * 8 + row_number().over(occW))
    val cOld = cAll.where(col("l_linenumber") <= 4).drop("l_linenumber")

    val aTable = sinkName("q214a")
    val bTable = sinkName("q214b")
    val cTable = sinkName("q214c")
    val viewTable = sinkName("q214view")
    aOld.withColumn("bkt", pmod(hash(col("ka")), lit(8)))
      .select(col("row_id"), col("ka"), col("grp"), col("bkt"))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(aTable)
    bOld.withColumn("bkt", pmod(hash(col("ka")), lit(8)))
      .select(col("row_id"), col("ka"), col("kb"), col("bkt"))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(bTable)
    cOld.withColumn("bkt", pmod(hash(col("kb")), lit(8)))
      .select(col("row_id"), col("kb"), col("value"), col("bkt"))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(cTable)
    aOld.select(col("ka"), col("grp"))
      .join(bOld.select(col("ka"), col("kb")), Seq("ka"))
      .join(cOld.select(col("kb"), col("value")), Seq("kb"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("double")).as("total"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(viewTable)

    val changes: Array[ChgJ3] =
      (aAll.where(col("ka") % 3 === 0)
        .select(lit("a").as("side"), col("row_id"), col("ka"), lit(0L).as("kb"),
          col("grp"), lit(0L).as("value"), lit("insert").as("op"))
      .unionByName(aOld.where(col("ka") % AnalyticsGates.CDeleteMod === 0)
        .select(lit("a").as("side"), col("row_id"), lit(0L).as("ka"), lit(0L).as("kb"),
          lit(0L).as("grp"), lit(0L).as("value"), lit("delete").as("op")))
      .unionByName(bAll.where(col("o_orderdate") >= cut)
        .select(lit("b").as("side"), col("row_id"), col("ka"), col("kb"),
          lit(0L).as("grp"), lit(0L).as("value"), lit("insert").as("op")))
      .unionByName(bOld.where(col("kb") % AnalyticsGates.DeleteMod === 0)
        .select(lit("b").as("side"), col("row_id"), lit(0L).as("ka"), lit(0L).as("kb"),
          lit(0L).as("grp"), lit(0L).as("value"), lit("delete").as("op")))
      .unionByName(cAll.where(col("l_linenumber") > 4)
        .select(lit("c").as("side"), col("row_id"), lit(0L).as("ka"), col("kb"),
          lit(0L).as("grp"), col("value"), lit("insert").as("op")))
      .unionByName(cOld.where(col("kb") % AnalyticsGates.BDeleteMod === 0)
        .select(lit("c").as("side"), col("row_id"), lit(0L).as("ka"), lit(0L).as("kb"),
          lit(0L).as("grp"), lit(0L).as("value"), lit("delete").as("op"))))
      .as[ChgJ3].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[ChgJ3]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestJoinView3(
        aTable, bTable, cTable, viewTable, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // n IS NOT NULL drops the maintainer's watermark sentinel row
    s.table(viewTable).where(col("n").isNotNull)
      .select(col("grp").as("c_nationkey"), col("n").as("n_lines"),
        col("total").cast("long").as("qty_sum"))
  }

  /** Streaming FOUR-WAY join-chain view maintenance
    * ([[graft.streaming.IngestJoinViewN]] over
    * [[graft.sources.Storage.mergeJoinViewNDelta]]): the q222 change set
    * — inserts AND deletes on customer, orders, lineitem, AND part —
    * streams in two batches; view and all four bucketed bases maintained
    * per batch. Must land on q222's from-scratch oracle exactly.
    */
  private def q225JoinView4Stream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val aAll = Tables.customer(s, d)
      .select(col("c_custkey").as("ka"), col("c_nationkey").as("grp"))
      .withColumn("row_id", col("ka"))
    val aOld = aAll.where(col("ka") % 3 =!= 0)
    val bAll = Tables.orders(s, d).select(col("o_custkey").as("ka"),
      col("o_orderkey").as("kb"), col("o_orderdate"))
      .withColumn("row_id", col("kb"))
    val bOld = bAll.where(col("o_orderdate") < cut).drop("o_orderdate")
    // lineitem row ids minted with a per-(orderkey, linenumber) occurrence
    // index — the q187/q214 duplicate-pair discipline
    val occW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("kb"), col("l_linenumber")).orderBy(col("kc"))
    val cAll = Tables.lineitem(s, d).select(col("l_orderkey").as("kb"),
      col("l_partkey").as("kc"), col("l_linenumber"))
      .withColumn("row_id",
        (col("kb").cast("long") * 16 + col("l_linenumber")) * 8 + row_number().over(occW))
    val cOld = cAll.where(col("l_linenumber") <= 4).drop("l_linenumber")
    val dAll = Tables.part(s, d)
      .select(col("p_partkey").as("kc"), col("p_size").cast("long").as("value"))
      .withColumn("row_id", col("kc"))
    val dOld = dAll.where(col("kc") % 4 =!= 1)

    val tA = sinkName("q225a"); val tB = sinkName("q225b")
    val tC = sinkName("q225c"); val tD = sinkName("q225d")
    val viewTable = sinkName("q225view")
    def boot(df: DataFrame, table: String, key: String): Unit =
      df.withColumn("bkt", pmod(hash(col(key)), lit(8)))
        .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(table)
    boot(aOld.select(col("row_id"), col("ka"), col("grp")), tA, "ka")
    boot(bOld.select(col("row_id"), col("ka"), col("kb")), tB, "ka")
    boot(cOld.select(col("row_id"), col("kb"), col("kc")), tC, "kb")
    boot(dOld.select(col("row_id"), col("kc"), col("value")), tD, "kc")
    aOld.join(bOld, Seq("ka")).join(cOld, Seq("kb")).join(dOld, Seq("kc"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("value")).cast("double").as("total"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(viewTable)

    val z = lit(0L)
    def chg(side: String, rows: DataFrame, ka: org.apache.spark.sql.Column,
        kb: org.apache.spark.sql.Column, kc: org.apache.spark.sql.Column,
        grp: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column,
        op: String): DataFrame =
      rows.select(lit(side).as("side"), col("row_id"), ka.as("ka"), kb.as("kb"),
        kc.as("kc"), grp.as("grp"), value.as("value"), lit(op).as("op"))
    val changes = (
      chg("0", aAll.where(col("ka") % 3 === 0), col("ka"), z, z, col("grp"), z, "insert")
        .unionByName(chg("0", aOld.where(col("ka") % AnalyticsGates.CDeleteMod === 0),
          z, z, z, z, z, "delete"))
        .unionByName(chg("1", bAll.where(col("o_orderdate") >= cut),
          col("ka"), col("kb"), z, z, z, "insert"))
        .unionByName(chg("1", bOld.where(col("kb") % AnalyticsGates.DeleteMod === 0),
          z, z, z, z, z, "delete"))
        .unionByName(chg("2", cAll.where(col("l_linenumber") > 4),
          z, col("kb"), col("kc"), z, z, "insert"))
        .unionByName(chg("2", cOld.where(col("kb") % AnalyticsGates.BDeleteMod === 0),
          z, z, z, z, z, "delete"))
        .unionByName(chg("3", dAll.where(col("kc") % 4 === 1),
          z, z, col("kc"), z, col("value"), "insert"))
        .unionByName(chg("3", dOld.where(col("kc") % AnalyticsGates.PDeleteMod === 0),
          z, z, z, z, z, "delete")))
      .as[ChgJ4].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[ChgJ4]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestJoinViewN(
        Seq(tA, tB, tC, tD), viewTable, Seq("ka", "kb", "kc"), buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // n IS NOT NULL drops the maintainer's watermark sentinel row
    s.table(viewTable).where(col("n").isNotNull)
      .select(col("grp").as("c_nationkey"), col("n").as("n_rows"),
        col("total").cast("long").as("size_sum"))
  }

  /** Streaming CUSUM ([[StreamingFlows.cusumTWS]]): the q228 drift
    * localizer with the recurrence carried as live per-key state — one
    * running double per event type. Events stream in two TIME-SPLIT
    * batches (the operator's in-order contract); every emitted score must
    * land on q228's window-unrolled oracle exactly (integer-cents
    * arithmetic, so the sequential fold and the window form agree
    * bitwise).
    */
  private def q229CusumStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        .as[(String, Long, Long, Long)].collect()
      val cut = rows.map(_._2).sorted.apply(rows.length / 2)
      val (b1, b2) = rows.partition(_._2 < cut)
      val in = MemoryStream[(String, Long, Long, Long)]
      val out = StreamingFlows.cusumTWS[(String, Long, Long, Long), String](
        _._1, r => (r._2, r._3), _._4.toDouble, target = 5000.0, slack = 1000.0)
        .apply(in.toDS())
      val sink = sinkName("q229")
      val q = out.toDF("event_type", "event_id", "score")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink).where(col("score") > 15000)
        .select(col("event_type"), col("event_id"), (col("score") / 100.0).as("score"))
    } finally prevProvider match {
      case Some(v) => s.conf.set(providerKey, v)
      case None    => s.conf.unset(providerKey)
    }
  }

  /** Streaming MSF over an edge feed ([[graft.streaming.IngestMsf]]):
    * the q216 nation graph's weighted edges arrive in two batches; each
    * batch recomputes the forest over retained-forest ∪ batch edges —
    * the sparsification identity MSF(G ∪ E′) = MSF(MSF(G) ∪ E′), exact
    * because the strict (w, u, v) total order makes the forest unique.
    * The final table must equal q216's from-scratch oracle verbatim.
    */
  private def q230MsfStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = GraphGates.nationEdges(s, d)
      .select(col("u").cast("long"), col("v").cast("long"), col("w").cast("long"))
      .as[(Long, Long, Long)].collect()
    val forestTable = sinkName("q230forest")
    Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
      .write.mode("overwrite").format("parquet").saveAsTable(forestTable)
    val (b1, b2) = edges.partition { case (u, v, _) => (u * 31 + v) % 2 == 0 }
    val in = MemoryStream[(Long, Long, Long)]
    val q = in.toDS().toDF("u", "v", "w").writeStream
      .foreachBatch(new graft.streaming.IngestMsf(forestTable))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(forestTable)
      .select(col("u").as("nation_a"), col("v").as("nation_b"), col("w"))
  }

  /** Streaming global triangle count over an edge feed
    * ([[graft.streaming.IngestTriangles]]): the q179 sparse transition
    * graph's canonical edges arrive in two batches; each batch counts
    * only the distinct triples its genuinely-new edges close (wedge
    * probe against the accumulated adjacency) and adds them to the
    * running count under the [[graft.streaming.IvmMaintenance]] replay
    * guard. Must equal the from-scratch triple enumeration.
    */
  private def q231TrianglesStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = GraphGates.transitions(s, d, Some(GraphGates.KhopQty))
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .as[(Long, Long)].collect()
    val edgeTable = sinkName("q231edges")
    val countTable = sinkName("q231count")
    Seq.empty[(Long, Long)].toDF("u", "v")
      .write.mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Seq((0L, -1L)).toDF("n_triangles", "__batch")
      .write.mode("overwrite").format("parquet").saveAsTable(countTable)
    val (b1, b2) = edges.partition { case (u, v) => (u * 31 + v) % 2 == 0 }
    val in = MemoryStream[(Long, Long)]
    val q = in.toDS().toDF("u", "v").writeStream
      .foreachBatch(new graft.streaming.IngestTriangles(edgeTable, countTable))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(countTable).where(col("n_triangles").isNotNull)
      .select(col("n_triangles"))
  }

  /** Streaming triangle count under INSERTS AND DELETES
    * ([[graft.streaming.IngestTrianglesCdc]]): batch 1 inserts ~2/3 of
    * the canonical sparse-graph edges; batch 2 inserts the rest AND
    * deletes the u%5==0 slice of batch 1 — the symmetric two-probe
    * identity (triples of E′ with a changed edge minus triples of E
    * with one) must land on the from-scratch triple count over the
    * final edge set.
    */
  private def q232TrianglesCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = GraphGates.transitions(s, d, Some(GraphGates.KhopQty))
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .as[(Long, Long)].collect()
    val edgeTable = sinkName("q232edges")
    val countTable = sinkName("q232count")
    Seq.empty[(Long, Long)].toDF("u", "v")
      .withColumn("bkt", pmod(hash(col("u")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Seq((0L, -1L)).toDF("n_triangles", "__batch")
      .write.mode("overwrite").format("parquet").saveAsTable(countTable)
    val (e1, e2) = edges.partition { case (u, v) => (u * 31 + v) % 3 != 2 }
    val b1 = e1.map { case (u, v) => (u, v, "insert") }
    val b2 = e2.map { case (u, v) => (u, v, "insert") } ++
      e1.filter(_._1 % 5 == 0).map { case (u, v) => (u, v, "delete") }
    val in = MemoryStream[(Long, Long, String)]
    val q = in.toDS().toDF("u", "v", "op").writeStream
      .foreachBatch(new graft.streaming.IngestTrianglesCdc(edgeTable, countTable, 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(countTable).where(col("n_triangles").isNotNull)
      .select(col("n_triangles"))
  }

  /** Streaming fixed-k core maintenance ([[graft.streaming.IngestKCore]]):
    * the part co-order edges stream in TWO micro-batches; each batch
    * promotes only the affected region (candidate expansion from the new
    * edges' non-core endpoints + the frozen-core-credit peel) and
    * recomputes in-core degrees for touched nodes only. The final
    * (node, deg) view must hash-match q174's from-scratch peel — oracle
    * shared verbatim.
    */
  private def q236KCoreStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = graft.Materialize(GraphGates.coOrderPairs(s, d)
      .select(least(col("pa"), col("pb")).cast("long").as("u"),
        greatest(col("pa"), col("pb")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct())
    val rows = edges.as[(Long, Long)].collect()
    graft.Materialize.release(edges)
    val edgeTable = sinkName("q236edges")
    val coreTable = sinkName("q236core")
    Seq.empty[(Long, Long)].toDF("u", "v")
      .write.mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Seq.empty[(Long, Long)].toDF("node", "deg")
      .withColumn("bkt", pmod(hash(col("node")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(coreTable)
    val (b1, b2) = rows.partition { case (u, v) => (u * 31 + v) % 3 != 2 }
    val in = MemoryStream[(Long, Long)]
    val q = in.toDS().toDF("u", "v").writeStream
      .foreachBatch(new graft.streaming.IngestKCore(
        edgeTable, coreTable, k = GraphGates.CoreK, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(coreTable).select(col("node"), col("deg"))
  }

  /** Streaming PER-VERTEX triangle counts under INSERTS AND DELETES
    * ([[graft.streaming.IngestTriangleCountsCdc]]): the two delta probes
    * find the touched vertices, which then recompute ABSOLUTELY (no
    * replay guard — the whole batch is idempotent). Final view must
    * hash-match q155's from-scratch per-corner readout — oracle shared
    * verbatim over the 3-batch insert/delete/re-insert co-order feed.
    */
  private def q240TriangleCountsCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = graft.Materialize(GraphGates.coOrderPairs(s, d)
      .select(least(col("pa"), col("pb")).cast("long").as("u"),
        greatest(col("pa"), col("pb")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct())
    val rows = edges.as[(Long, Long)].collect()
    graft.Materialize.release(edges)
    val edgeTable = sinkName("q240edges")
    val countTable = sinkName("q240counts")
    Seq.empty[(Long, Long)].toDF("u", "v")
      .withColumn("bkt", pmod(hash(col("u")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Seq.empty[(Long, Long)].toDF("node", "triangles")
      .withColumn("bkt", pmod(hash(col("node")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(countTable)
    val (e1, e2) = rows.partition { case (u, v) => (u * 31 + v) % 3 != 2 }
    val slice = e1.filter(_._1 % 5 == 0)
    val b1 = e1.map { case (u, v) => (u, v, "insert") }
    val b2 = e2.map { case (u, v) => (u, v, "insert") } ++
      slice.map { case (u, v) => (u, v, "delete") }
    val b3 = slice.map { case (u, v) => (u, v, "insert") }
    val in = MemoryStream[(Long, Long, String)]
    val q = in.toDS().toDF("u", "v", "op").writeStream
      .foreachBatch(new graft.streaming.IngestTriangleCountsCdc(edgeTable, countTable, 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b3.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(countTable).select(col("node"), col("triangles"))
  }

  /** Streaming k-truss membership + fixpoint support under INSERTS AND
    * DELETES ([[graft.streaming.IngestKTrussCdc]]): the truss-dense
    * transition edges stream in three batches (2/3 inserted, the rest
    * plus a deleted slice — support-drop cascades fire — then the slice
    * re-inserted). The maintained (lo, hi, support) view must hash-match
    * q198's from-scratch peel verbatim.
    */
  private def q244KTrussCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = graft.Materialize(
      GraphGates.transitions(s, d, Some(GraphGates.TrussQty))
        .select(least(col("src"), col("dst")).cast("long").as("u"),
          greatest(col("src"), col("dst")).cast("long").as("v"))
        .where(col("u") =!= col("v")).distinct())
    val rows = edges.as[(Long, Long)].collect()
    graft.Materialize.release(edges)
    val edgeTable = sinkName("q244edges")
    val trussTable = sinkName("q244truss")
    Seq.empty[(Long, Long)].toDF("u", "v")
      .withColumn("bkt", pmod(hash(col("u")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Seq.empty[(Long, Long, Long)].toDF("lo", "hi", "support")
      .withColumn("bkt", pmod(hash(col("lo")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(trussTable)
    val (e1, e2) = rows.partition { case (u, v) => (u * 31 + v) % 3 != 2 }
    val slice = e1.filter(_._1 % 5 == 0)
    val b1 = e1.map { case (u, v) => (u, v, "insert") }
    val b2 = e2.map { case (u, v) => (u, v, "insert") } ++
      slice.map { case (u, v) => (u, v, "delete") }
    val b3 = slice.map { case (u, v) => (u, v, "insert") }
    val in = MemoryStream[(Long, Long, String)]
    val q = in.toDS().toDF("u", "v", "op").writeStream
      .foreachBatch(new graft.streaming.IngestKTrussCdc(
        edgeTable, trussTable, k = GraphGates.TrussK, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b3.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(trussTable).select(col("lo"), col("hi"), col("support"))
  }

  /** Streaming hop-capped SSSP under edge INSERTS
    * ([[graft.streaming.IngestSssp]]): the weighted transition edges
    * arrive in two batches; each batch relaxes only the affected
    * candidates level-by-level through the hop-resolved Bellman–Ford
    * state. The `min(dist) GROUP BY node` serve must hash-match q183's
    * 4-round unrolled relaxation — oracle shared verbatim.
    */
  private def q243SsspStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = graft.Materialize(GraphGates.weightedTransitions(s, d, GraphGates.KhopQty))
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"), col("w"))
      .as[(Long, Long, Long)].collect()
    graft.Materialize.release(edges)
    val edgeTable = sinkName("q243edges")
    val distTable = sinkName("q243dist")
    Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
      .withColumn("bkt", pmod(hash(col("src")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Tables.supplier(s, d).where(col("s_suppkey") <= GraphGates.KhopSeeds)
      .select(col("s_suppkey").cast("long").as("node"))
      .distinct()
      .withColumn("h", lit(0)).withColumn("dist", lit(0L))
      .withColumn("bkt", pmod(hash(col("node")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(distTable)
    val (b1, b2) = rows.partition { case (u, v, _) => (u * 31 + v) % 2 == 0 }
    val in = MemoryStream[(Long, Long, Long)]
    val q = in.toDS().toDF("src", "dst", "w").writeStream
      .foreachBatch(new graft.streaming.IngestSssp(
        edgeTable, distTable, maxHops = GraphGates.SsspHops, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(distTable).groupBy(col("node")).agg(min(col("dist")).as("dist"))
  }

  /** Streaming hop-capped SSSP under INSERTS, DELETES, and weight
    * UPDATES ([[graft.streaming.IngestSsspCdc]]): the weighted
    * transition edges arrive in three batches — 2/3 inserted; the rest
    * inserted plus one slice DELETED and a disjoint slice re-weighted
    * +100 (both demotions — level-h values re-derive from the level
    * below and cascade up); then both slices restored to their true
    * weights (relaxations). Final edge set = q183's graph, so the
    * hop-resolved serve must hash-match its 4-round unrolled relaxation
    * — oracle shared verbatim.
    */
  private def q245SsspCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = graft.Materialize(GraphGates.weightedTransitions(s, d, GraphGates.KhopQty))
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"), col("w"))
      .as[(Long, Long, Long)].collect()
    graft.Materialize.release(edges)
    val edgeTable = sinkName("q245edges")
    val distTable = sinkName("q245dist")
    Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
      .withColumn("bkt", pmod(hash(col("src")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Tables.supplier(s, d).where(col("s_suppkey") <= GraphGates.KhopSeeds)
      .select(col("s_suppkey").cast("long").as("node"))
      .distinct()
      .withColumn("h", lit(0)).withColumn("dist", lit(0L))
      .withColumn("bkt", pmod(hash(col("node")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(distTable)
    val (e1, e2) = rows.partition { case (u, v, _) => (u * 31 + v) % 3 != 2 }
    val slice = e1.filter(_._1 % 5 == 0)
    val slice2 = e1.filter(_._1 % 5 == 1)
    val b1 = e1.map { case (u, v, w) => (u, v, w, "insert") }
    val b2 = e2.map { case (u, v, w) => (u, v, w, "insert") } ++
      slice.map { case (u, v, w) => (u, v, w, "delete") } ++
      slice2.map { case (u, v, w) => (u, v, w + 100L, "insert") }
    val b3 = slice.map { case (u, v, w) => (u, v, w, "insert") } ++
      slice2.map { case (u, v, w) => (u, v, w, "insert") }
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = in.toDS().toDF("src", "dst", "w", "op").writeStream
      .foreachBatch(new graft.streaming.IngestSsspCdc(
        edgeTable, distTable, maxHops = GraphGates.SsspHops, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b3.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(distTable).groupBy(col("node")).agg(min(col("dist")).as("dist"))
  }

  /** Streaming per-edge structural similarity under INSERTS AND DELETES
    * ([[graft.streaming.IngestEdgeJaccardCdc]]): touched rows = post
    * edges incident to the changed endpoints (degree moves every
    * incident denominator; common counts only change through triangles
    * containing a changed edge), recomputed ABSOLUTELY from the 2-hop
    * neighborhood via the batch operator. Must hash-match q161's
    * from-scratch readout over the 3-batch co-order feed.
    */
  private def q242EdgeJaccardCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = graft.Materialize(GraphGates.coOrderPairs(s, d)
      .select(least(col("pa"), col("pb")).cast("long").as("u"),
        greatest(col("pa"), col("pb")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct())
    val rows = edges.as[(Long, Long)].collect()
    graft.Materialize.release(edges)
    val edgeTable = sinkName("q242edges")
    val viewTable = sinkName("q242view")
    Seq.empty[(Long, Long)].toDF("u", "v")
      .withColumn("bkt", pmod(hash(col("u")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Seq.empty[(Long, Long, Long, Double)].toDF("lo", "hi", "common", "jaccard")
      .withColumn("bkt", pmod(hash(col("lo")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(viewTable)
    val (e1, e2) = rows.partition { case (u, v) => (u * 31 + v) % 3 != 2 }
    val slice = e1.filter(_._1 % 5 == 0)
    val b1 = e1.map { case (u, v) => (u, v, "insert") }
    val b2 = e2.map { case (u, v) => (u, v, "insert") } ++
      slice.map { case (u, v) => (u, v, "delete") }
    val b3 = slice.map { case (u, v) => (u, v, "insert") }
    val in = MemoryStream[(Long, Long, String)]
    val q = in.toDS().toDF("u", "v", "op").writeStream
      .foreachBatch(new graft.streaming.IngestEdgeJaccardCdc(edgeTable, viewTable, 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b3.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(viewTable).select(col("lo"), col("hi"), col("common"), col("jaccard"))
  }

  /** Streaming fixed-k core under INSERTS AND DELETES
    * ([[graft.streaming.IngestKCoreCdc]]): the co-order edges stream in
    * THREE batches — 2/3 inserted, the rest inserted plus a slice of
    * batch 1 deleted (the demotion cascade fires), the slice re-inserted
    * (re-promotion) — final edge set = q174's graph, so the maintained
    * (node, deg) view must hash-match its from-scratch peel verbatim.
    */
  private def q239KCoreCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = graft.Materialize(GraphGates.coOrderPairs(s, d)
      .select(least(col("pa"), col("pb")).cast("long").as("u"),
        greatest(col("pa"), col("pb")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct())
    val rows = edges.as[(Long, Long)].collect()
    graft.Materialize.release(edges)
    val edgeTable = sinkName("q239edges")
    val coreTable = sinkName("q239core")
    Seq.empty[(Long, Long)].toDF("u", "v")
      .withColumn("bkt", pmod(hash(col("u")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Seq.empty[(Long, Long)].toDF("node", "deg")
      .withColumn("bkt", pmod(hash(col("node")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(coreTable)
    val (e1, e2) = rows.partition { case (u, v) => (u * 31 + v) % 3 != 2 }
    val slice = e1.filter(_._1 % 5 == 0)
    val b1 = e1.map { case (u, v) => (u, v, "insert") }
    val b2 = e2.map { case (u, v) => (u, v, "insert") } ++
      slice.map { case (u, v) => (u, v, "delete") }
    val b3 = slice.map { case (u, v) => (u, v, "insert") }
    val in = MemoryStream[(Long, Long, String)]
    val q = in.toDS().toDF("u", "v", "op").writeStream
      .foreachBatch(new graft.streaming.IngestKCoreCdc(
        edgeTable, coreTable, k = GraphGates.CoreK, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b3.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(coreTable).select(col("node"), col("deg"))
  }

  /** Streaming connected components under INSERTS AND DELETES
    * ([[graft.streaming.IngestComponentsCdc]]): batch 1 inserts ~2/3 of
    * the transition edges, batch 2 inserts the rest AND deletes the
    * u%5==0 slice of batch 1 (splits where those edges were bridges),
    * batch 3 re-inserts the deleted slice (re-joins the fragments) — the
    * final edge set is exactly q179's graph, so the affected-component
    * re-solve must land on q179's from-scratch labels verbatim.
    */
  private def q234ComponentsCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = GraphGates.transitions(s, d, Some(GraphGates.KhopQty))
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .as[(Long, Long)].collect()
    val edgeTable = sinkName("q234edges")
    val labelsTable = sinkName("q234labels")
    Seq.empty[(Long, Long)].toDF("u", "v")
      .withColumn("bkt", pmod(hash(col("u")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Seq.empty[(Long, Long)].toDF("node", "component")
      .withColumn("bkt", pmod(hash(col("component")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(labelsTable)
    val (e1, e2) = edges.partition { case (u, v) => (u * 31 + v) % 3 != 2 }
    val slice = e1.filter(_._1 % 5 == 0)
    val b1 = e1.map { case (u, v) => (u, v, "insert") }
    val b2 = e2.map { case (u, v) => (u, v, "insert") } ++
      slice.map { case (u, v) => (u, v, "delete") }
    val b3 = slice.map { case (u, v) => (u, v, "insert") }
    val in = MemoryStream[(Long, Long, String)]
    val q = in.toDS().toDF("u", "v", "op").writeStream
      .foreachBatch(new graft.streaming.IngestComponentsCdc(edgeTable, labelsTable, 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b3.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(labelsTable).select(col("node"), col("component"))
  }

  /** Streaming single-linkage clustering SERVED FROM the maintained MSF
    * ([[graft.streaming.IngestMsf]] + the q218 MSF-cut equivalence:
    * threshold components of the original graph == components of the
    * forest cut at the threshold, because an MSF path is the minimax
    * path). The forest is maintained over two edge batches; the serve is
    * a cut + CC + singleton fill over `nodes − c` forest edges — no edge
    * history touched. Must equal q218's from-scratch oracle verbatim.
    */
  private def q233SingleLinkageStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val e = graft.Materialize(GraphGates.nationEdges(s, d))
    val t = graft.curation.Quantiles.exactQuantiles(e, lit(0L), col("w"), Seq(0.5))
      .head().getDouble(2).toLong
    val edges = e.select(col("u").cast("long"), col("v").cast("long"),
      col("w").cast("long")).as[(Long, Long, Long)].collect()
    graft.Materialize.release(e)
    val forestTable = sinkName("q233forest")
    Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
      .write.mode("overwrite").format("parquet").saveAsTable(forestTable)
    val (b1, b2) = edges.partition { case (u, v, _) => (u * 31 + v) % 2 == 0 }
    val in = MemoryStream[(Long, Long, Long)]
    val q = in.toDS().toDF("u", "v", "w").writeStream
      .foreachBatch(new graft.streaming.IngestMsf(forestTable))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val forest = s.table(forestTable)
    val nodes = forest.select(col("u").as("node"))
      .unionByName(forest.select(col("v").as("node"))).distinct()
    val cc = graft.graphs.Graphs.connectedComponents(
      forest.where(col("w") <= t), col("u"), col("v"))
    nodes.join(cc, Seq("node"), "left")
      .select(col("node").as("nationkey"),
        coalesce(col("component"), col("node")).as("cluster"))
  }

  /** Runs the 3-batch MSF CDC feed (inserts 2/3, then the rest + a delete
    * slice, then the slice re-inserted — final edge set = the full nation
    * graph) through [[graft.streaming.IngestMsfCdc]] and returns the
    * maintained forest table. Shared by q237 (forest readout) and q238
    * (single-linkage served from the forest).
    */
  private def runMsfCdc(s: SparkSession, d: String, tag: String): String = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val e = graft.Materialize(GraphGates.nationEdges(s, d))
    val edges = e.select(col("u").cast("long"), col("v").cast("long"),
      col("w").cast("long")).as[(Long, Long, Long)].collect()
    graft.Materialize.release(e)
    val edgeTable = sinkName(s"${tag}edges")
    val forestTable = sinkName(s"${tag}forest")
    val labelsTable = sinkName(s"${tag}labels")
    Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
      .withColumn("bkt", pmod(hash(col("u")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(edgeTable)
    Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
      .withColumn("bkt", pmod(hash(col("u")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(forestTable)
    Seq.empty[(Long, Long)].toDF("node", "component")
      .withColumn("bkt", pmod(hash(col("component")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(labelsTable)
    val (e1, e2) = edges.partition { case (u, v, _) => (u * 31 + v) % 3 != 2 }
    val slice = e1.filter(_._1 % 5 == 0)
    val b1 = e1.map { case (u, v, w) => (u, v, w, "insert") }
    val b2 = e2.map { case (u, v, w) => (u, v, w, "insert") } ++
      slice.map { case (u, v, w) => (u, v, w, "delete") }
    val b3 = slice.map { case (u, v, w) => (u, v, w, "insert") }
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = in.toDS().toDF("u", "v", "w", "op").writeStream
      .foreachBatch(new graft.streaming.IngestMsfCdc(
        edgeTable, forestTable, labelsTable, 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b3.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    forestTable
  }

  /** Streaming MSF under INSERTS AND DELETES
    * ([[graft.streaming.IngestMsfCdc]]): a deleted forest edge's
    * replacement is found by re-solving ONLY the affected components
    * over the retained live edge set; the strict total order makes the
    * spliced forest row-identical to q216's from-scratch build on the
    * final edge set — oracle shared verbatim.
    */
  // q237 and q238 read the SAME maintained forest (identical 3-batch CDC
  // feed); replaying the stream once per gate doubled the most expensive
  // streaming-gate wall-clock in Verify, so the run is cached per
  // (data dir, session) — the q226 layout-scratch reuse discipline. The
  // maintained tables live for the JVM; a second JVM re-runs.
  private val msfCdcRuns = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def runMsfCdcCached(s: SparkSession, d: String): String =
    msfCdcRuns.computeIfAbsent(d, _ => runMsfCdc(s, d, "q237q238"))

  private def q237MsfCdc(s: SparkSession, d: String): DataFrame =
    s.table(runMsfCdcCached(s, d))
      .select(col("u").as("nation_a"), col("v").as("nation_b"), col("w"))

  /** Streaming single-linkage clustering under INSERTS AND DELETES —
    * served from the [[graft.streaming.IngestMsfCdc]]-maintained forest
    * by the MSF-cut equivalence (q233's serve, now delete-capable: the
    * cut + CC + singleton fill read `nodes − c` forest rows, never the
    * edge history). Must equal q218's from-scratch oracle verbatim.
    */
  private def q238SingleLinkageCdc(s: SparkSession, d: String): DataFrame = {
    val e = graft.Materialize(GraphGates.nationEdges(s, d))
    val t = graft.curation.Quantiles.exactQuantiles(e, lit(0L), col("w"), Seq(0.5))
      .head().getDouble(2).toLong
    graft.Materialize.release(e)
    val forest = s.table(runMsfCdcCached(s, d))
    val nodes = forest.select(col("u").as("node"))
      .unionByName(forest.select(col("v").as("node"))).distinct()
    val cc = graft.graphs.Graphs.connectedComponents(
      forest.where(col("w") <= t), col("u"), col("v"))
    nodes.join(cc, Seq("node"), "left")
      .select(col("node").as("nationkey"),
        coalesce(col("component"), col("node")).as("cluster"))
  }

  /** Streaming connected components over an EDGE feed
    * ([[graft.streaming.IngestComponents]]): the q179 supplier transition
    * graph arrives in two batches; labels fold incrementally — prior
    * labels re-enter as star edges, so batch cost tracks restructuring,
    * not history. The final label table must equal q179's from-scratch
    * oracle verbatim.
    */
  private def q224ComponentsStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val edges = GraphGates.transitions(s, d, Some(GraphGates.KhopQty))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val labels = sinkName("q224labels")
    Seq.empty[(Long, Long)].toDF("node", "component")
      .withColumn("bkt", pmod(hash(col("component")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(labels)
    val (b1, b2) = edges.partition { case (a, b) => (a + b) % 2 == 0 }
    val in = MemoryStream[(Long, Long)]
    val q = in.toDS().toDF("src", "dst").writeStream
      .foreachBatch(new graft.streaming.IngestComponents(labels, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.table(labels).select(col("node"), col("component"))
  }

  /** Streaming IVM over the q157 change set
    * ([[graft.streaming.IngestAggView]]): the pre-cutoff orders bootstrap
    * the bucketed base table and the aggregate view; the inserts + deletes
    * stream in TWO micro-batches (split by row-id parity), each updating
    * the view by delta arithmetic (dirty-key max recompute) and rebuilding
    * only the base buckets its keys touch. The final view must hash-match
    * q157's one-shot merge — oracle shared verbatim.
    */
  private def q159DeltaAggStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val o = Tables.orders(s, d).select(col("o_orderkey").as("row_id"),
      col("o_custkey").as("key"), col("o_totalprice").as("value"), col("o_orderdate"))
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val base = o.where(col("o_orderdate") < cut).drop("o_orderdate")
    val baseTable = sinkName("q159base")
    val viewTable = sinkName("q159view")
    base.withColumn("bkt", pmod(hash(col("key")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(baseTable)
    base.groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"), max(col("value")).as("mx"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(viewTable)

    val changes =
      o.where(col("o_orderdate") >= cut).drop("o_orderdate").withColumn("op", lit("insert"))
        .unionByName(base.where(col("row_id") % AnalyticsGates.DeleteMod === 0)
          .withColumn("op", lit("delete")))
        .as[Chg].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[Chg]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestAggView(
        "row_id", "key", "value", baseTable, viewTable, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // n IS NOT NULL drops the maintainer's watermark sentinel row
    s.table(viewTable).where(col("n").isNotNull)
      .select(col("key").as("o_custkey"), col("n").as("n_orders"),
        round(col("total"), 2).as("total_r"), col("mx").as("max_price"))
  }

  /** q187 — streaming JOIN-view maintenance
    * ([[graft.streaming.IngestJoinView]]): the q186 change set — inserts
    * and deletes on BOTH orders and lineitem — streams in TWO
    * micro-batches (split by row-id parity, so an order and its lines can
    * land in different batches, exercising every delta-term pairing); each
    * batch updates the view by the signed delta-join algebra against the
    * pre-batch bases and rebuilds only the touched base buckets. The
    * final view must hash-match q186's from-scratch oracle — shared
    * verbatim.
    */
  private def q187JoinViewStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cut = to_timestamp(lit(AnalyticsGates.Cutoff))
    val aAll = Tables.orders(s, d).select(col("o_orderkey").as("key"),
      col("o_custkey").as("grp"), col("o_orderdate"))
    val aOld = aAll.where(col("o_orderdate") < cut).drop("o_orderdate")
      .withColumn("row_id", col("key"))
    // the synthetic data CONTAINS duplicate (orderkey, linenumber) rows
    // (11785 pairs at sf0.01, multiplicity ≤ 6) — exactly the colliding
    // CDC feed the maintainer's row-id contract now rejects loudly. A real
    // feed must mint unique ids; the gate does the same: an occurrence
    // index per (orderkey, linenumber) pair folds into the id. Occurrence
    // assignment among duplicate rows only affects the batch SPLIT below,
    // never the final view the oracle hashes.
    val occW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"), col("l_linenumber")).orderBy(col("value"))
    val bAll = Tables.lineitem(s, d).select(col("l_orderkey").as("key"),
      col("l_quantity").cast("long").as("value"), col("l_linenumber"))
      .withColumn("row_id",
        (col("key").cast("long") * 16 + col("l_linenumber")) * 8 + row_number().over(occW))
    val bOld = bAll.where(col("l_linenumber") <= 4).drop("l_linenumber")

    val aTable = sinkName("q187a")
    val bTable = sinkName("q187b")
    val viewTable = sinkName("q187view")
    aOld.withColumn("bkt", pmod(hash(col("key")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(aTable)
    bOld.withColumn("bkt", pmod(hash(col("key")), lit(8)))
      .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(bTable)
    aOld.join(bOld.select(col("key"), col("value")), Seq("key"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .withColumn("__batch", lit(-1L))
      .write.mode("overwrite").format("parquet").saveAsTable(viewTable)

    val changes: Array[ChgJ] =
      (aAll.where(col("o_orderdate") >= cut)
        .select(lit("a").as("side"), col("key").as("row_id"), col("key"), col("grp"),
          lit(0L).as("value"), lit("insert").as("op"))
      .unionByName(aOld.where(col("key") % AnalyticsGates.DeleteMod === 0)
        .select(lit("a").as("side"), col("row_id"), lit(0L).as("key"), lit(0L).as("grp"),
          lit(0L).as("value"), lit("delete").as("op")))
      .unionByName(bAll.where(col("l_linenumber") > 4)
        .select(lit("b").as("side"), col("row_id"), col("key"), lit(0L).as("grp"),
          col("value"), lit("insert").as("op")))
      .unionByName(bOld.where(col("key") % AnalyticsGates.BDeleteMod === 0)
        .select(lit("b").as("side"), col("row_id"), lit(0L).as("key"), lit(0L).as("grp"),
          lit(0L).as("value"), lit("delete").as("op"))))
      .as[ChgJ].collect()
    val (b1, b2) = changes.partition(_.row_id % 2 == 0)
    val in = MemoryStream[ChgJ]
    val q = in.toDS().toDF().writeStream
      .foreachBatch(new graft.streaming.IngestJoinView(aTable, bTable, viewTable, buckets = 8))
      .start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // n IS NOT NULL drops the maintainer's watermark sentinel row
    s.table(viewTable).where(col("n").isNotNull)
      .select(col("grp").as("o_custkey"), col("n").as("n_lines"),
        col("total").cast("long").as("qty_sum"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q196_quantile_stream" -> (q196QuantileStream _),
    "q201_topk_view_stream" -> (q201TopkViewStream _),
    "q203_distinct_view_stream" -> (q203DistinctViewStream _),
    "q205_quantile_view_stream" -> (q205QuantileViewStream _),
    "q235_quantile_layout_stream" -> (q235QuantileLayoutStream _),
    "q211_weighted_qview_stream" -> (q211WeightedQuantileViewStream _),
    "q241_wq_layout_stream" -> (q241WqLayoutStream _),
    "q214_join_view3_stream" -> (q214JoinView3Stream _),
    "q225_join_view4_stream" -> (q225JoinView4Stream _),
    "q229_cusum_stream" -> (q229CusumStream _),
    "q230_msf_stream" -> (q230MsfStream _),
    "q231_triangles_stream" -> (q231TrianglesStream _),
    "q232_triangles_cdc_stream" -> (q232TrianglesCdc _),
    "q233_single_linkage_stream" -> (q233SingleLinkageStream _),
    "q234_components_cdc_stream" -> (q234ComponentsCdc _),
    "q236_kcore_stream" -> (q236KCoreStream _),
    "q237_msf_cdc_stream" -> (q237MsfCdc _),
    "q238_single_linkage_cdc_stream" -> (q238SingleLinkageCdc _),
    "q239_kcore_cdc_stream" -> (q239KCoreCdc _),
    "q240_triangle_counts_cdc_stream" -> (q240TriangleCountsCdc _),
    "q242_edge_jaccard_cdc_stream" -> (q242EdgeJaccardCdc _),
    "q243_sssp_stream" -> (q243SsspStream _),
    "q245_sssp_cdc_stream" -> (q245SsspCdc _),
    "q244_ktruss_cdc_stream" -> (q244KTrussCdc _),
    "q224_components_stream" -> (q224ComponentsStream _),
    "q187_join_view_stream" -> (q187JoinViewStream _),
    "q190_pq_stream" -> (q190PqStream _),
    "q192_topk_stream" -> (q192TopkStream _),
    "q159_delta_agg_stream" -> (q159DeltaAggStream _),
    "q181_ks_stream" -> (q181KsStream _),
    "q153_heavy_stream" -> (q153HeavyStream _),
    "q141_historize_stream" -> (q141HistorizeStream _),
    "q126_upsert_stream" -> (q126UpsertStream _),
    "q125_sessionize_stream" -> (q125SessionizeStream _),
    "q114_transitions_stream" -> (q114TransitionsStream _),
    "q177_attribution_stream" -> (q177AttributionStream _),
    "q63_asof_stream" -> (q63AsofStream _),
    "q64_interval_stream" -> (q64IntervalStream _),
    "q75_dedup_stream" -> (q75DedupStream _),
    "q87_ingest_stream" -> (q87IngestStream _),
    "q78_window_stream" -> (q78WindowStream _),
    "q80_session_stream" -> (q80SessionStream _),
    "q83_keyed_stream" -> (q83KeyedStream _),
    "q86_sliding_stream" -> (q86SlidingStream _),
    "q135_batch_stream" -> (q135BatchStream _),
    "q140_interval_anti_stream" -> (q140IntervalAntiStream _)
  )

  /** The batch queries' oracles, verbatim: equivalence means "same rows,
    * same hash, same SQL".
    */
  def oracleSql: Map[String, String] = Map(
    "q196_quantile_stream" -> ExtensionQueries.oracleSql("q103_quantiles"),
    "q201_topk_view_stream" -> AnalyticsGates.oracleSql("q200_topk_view"),
    "q203_distinct_view_stream" -> AnalyticsGates.oracleSql("q202_distinct_view"),
    "q205_quantile_view_stream" -> AnalyticsGates.oracleSql("q204_quantile_view"),
    "q235_quantile_layout_stream" -> AnalyticsGates.oracleSql("q204_quantile_view"),
    "q211_weighted_qview_stream" -> AnalyticsGates.oracleSql("q210_weighted_quantile_view"),
    "q241_wq_layout_stream" -> AnalyticsGates.oracleSql("q210_weighted_quantile_view"),
    "q214_join_view3_stream" -> AnalyticsGates.oracleSql("q212_join_view3"),
    "q225_join_view4_stream" -> AnalyticsGates.oracleSql("q222_join_view4"),
    "q229_cusum_stream" -> ExtensionQueries.oracleSql("q228_cusum"),
    "q230_msf_stream" -> GraphGates.oracleSql("q216_msf"),
    "q231_triangles_stream" -> GraphGates.oracleSql("q231_triangles_stream"),
    "q232_triangles_cdc_stream" -> GraphGates.oracleSql("q232_triangles_cdc_stream"),
    "q233_single_linkage_stream" -> GraphGates.oracleSql("q218_single_linkage"),
    "q234_components_cdc_stream" -> GraphGates.oracleSql("q179_components"),
    "q236_kcore_stream" -> GraphGates.oracleSql("q174_kcore"),
    "q237_msf_cdc_stream" -> GraphGates.oracleSql("q216_msf"),
    "q238_single_linkage_cdc_stream" -> GraphGates.oracleSql("q218_single_linkage"),
    "q239_kcore_cdc_stream" -> GraphGates.oracleSql("q174_kcore"),
    "q240_triangle_counts_cdc_stream" -> GraphGates.oracleSql("q155_triangles"),
    "q242_edge_jaccard_cdc_stream" -> GraphGates.oracleSql("q161_edge_jaccard"),
    "q243_sssp_stream" -> GraphGates.oracleSql("q183_sssp"),
    "q245_sssp_cdc_stream" -> GraphGates.oracleSql("q183_sssp"),
    "q244_ktruss_cdc_stream" -> GraphGates.oracleSql("q198_ktruss"),
    "q224_components_stream" -> GraphGates.oracleSql("q179_components"),
    "q159_delta_agg_stream" -> AnalyticsGates.oracleSql("q157_delta_agg"),
    "q187_join_view_stream" -> AnalyticsGates.oracleSql("q186_join_view"),
    "q190_pq_stream" -> AnalyticsGates.oracleSql("q182_pq_ann"),
    "q192_topk_stream" -> AnalyticsGates.oracleSql("q189_topk_group"),
    "q181_ks_stream" -> ExtensionQueries.oracleSql("q172_ks_drift"),
    "q153_heavy_stream" -> ExtensionQueries.oracleSql("q102_heavy_hitters"),
    "q126_upsert_stream" -> ExtensionQueries.oracleSql("q123_apply_changes"),
    "q125_sessionize_stream" -> ExtensionQueries.oracleSql("q124_sessionize"),
    "q114_transitions_stream" -> ExtensionQueries.oracleSql("q111_transitions"),
    "q177_attribution_stream" -> ExtensionQueries.oracleSql("q176_attribution"),
    "q63_asof_stream" -> ExtensionQueries.oracleSql("q55_asof"),
    "q64_interval_stream" -> ExtensionQueries.oracleSql("q56_interval"),
    "q75_dedup_stream" ->
      "SELECT DISTINCT md5(text) AS content_hash FROM documents",
    "q87_ingest_stream" ->
      "SELECT DISTINCT md5(text) AS content_hash FROM documents",
    "q78_window_stream" -> SparkEntry.coreOracleSql("q09_tumbling"),
    "q80_session_stream" -> SparkEntry.coreOracleSql("q11_session"),
    "q83_keyed_stream" -> SparkEntry.coreOracleSql("q12_keyed"),
    "q86_sliding_stream" -> SparkEntry.coreOracleSql("q10_sliding"),
    "q135_batch_stream" -> SparkEntry.coreOracleSql("q07_batch"),
    "q140_interval_anti_stream" -> ExtensionQueries.oracleSql("q130_interval_anti"),
    "q141_historize_stream" -> ExtensionQueries.oracleSql("q138_historize")
  )
}
