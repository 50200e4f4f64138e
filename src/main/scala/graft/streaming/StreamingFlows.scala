package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming profile of the graft operators (Structured Streaming).
  *
  * The reference is a push-based stream processor; its batch-profile
  * analogues live in [[graft.operators]]. This module carries the semantics
  * that only exist on an unbounded stream:
  *
  *  - event-time windows with watermark-driven lateness
  *    (`flow/sliding_window.go:25-31` AllowedLateness ↔ `withWatermark`);
  *  - Batch's count-OR-time trigger (`flow/batch.go:83-113`) via
  *    per-key state + processing-time timeout;
  *  - Throttler Backpressure (`flow/throttler.go:12-26`) as source-side
  *    rate limiting — the Spark-native place for backpressure;
  *  - Keyed per-key chains (`flow/keyed.go:131-158`) with state-store-backed
  *    state instead of the reference's unbounded in-memory map.
  *
  * Scale: all state lives in the state store (RocksDB on a real cluster),
  * partitioned by key; nothing accumulates on the driver. Event-time
  * operators (windows, dedup) are watermark-bounded automatically; the
  * arbitrary-state operators ([[keyedState]], [[foldRunning]],
  * [[throttleDiscard]]) bound per-key state only when their `stateTtlMs`
  * is set (or via [[keyedTransformWithState]]'s TTLConfig) — set it on any
  * high-cardinality key space.
  */
object StreamingFlows {

  /** Map/FlatMap/Filter/Flatten work unchanged on streaming DataFrames —
    * the same [[graft.operators.CoreFlows]] plan constructors apply. Only
    * the stateful operators need streaming-specific forms below.
    */

  /** Streaming as-of join — the unbounded form of
    * [[graft.operators.Joins.asOf]]: each left element matches the most
    * recent right element at-or-before its event time with the same key,
    * EXACTLY — results are emitted only once the watermark passes the
    * left element's timestamp, at which point every right element at or
    * before it has arrived (or was late beyond `delay` and was DROPPED —
    * see below). The state function also discards any arriving element
    * whose event time is at or below the current watermark: a late
    * left would otherwise emit immediately against the already-pruned
    * right state (a wrong best-effort match, not an exclusion), and a
    * late right could displace the retained latest-finalized right. With
    * the explicit drop, lateness behaves exactly like Spark's built-in
    * event-time operators: late rows are excluded, on-time results are
    * exact. The watermark is the latest event time seen across BOTH inputs
    * in earlier micro-batches, minus `delay`, so a left that arrives a
    * micro-batch after a right more than `delay` newer is late and is
    * dropped: which rows count as late depends on how the two inputs fall
    * into micro-batches.
    *
    * Lateness contract AT the boundary: an element whose event time
    * equals the current watermark IS dropped — that bound is the
    * ENGINE's, not this function's: `FlatMapGroupsWithStateExec` under
    * event-time timeout filters late input (event time <= watermark)
    * before the state function runs, so an at-watermark admit here would
    * be unreachable code (spec-pinned: the at-watermark row never
    * arrives; the row 1 ms above does). This is the one divergence from
    * the batch [[graft.operators.Joins.asOf]], which has no lateness and
    * emits every left row.
    *
    * Neither native stream-stream join covers this: an interval join
    * emits ALL rights in a range, not the latest one, and can't reach
    * arbitrarily far back. So this is the `flatMapGroupsWithState` case:
    * per key, buffer lefts until they're watermark-final, keep rights
    * still inside the watermark window PLUS the single latest finalized
    * right — the one row that may match arbitrarily far-future lefts.
    * Per-key state is therefore bounded by the delay window + 1 row,
    * and it is the +1 that makes the reach-back exact without retaining
    * history.
    *
    * Contract: right elements are unique per (key, timestamp) — same as
    * the batch form. Emission: on the micro-batch after the watermark
    * passes the left's timestamp (an event-time timer flushes keys that
    * receive no further input). Append mode only.
    *
    * Internal event-time bookkeeping is in MICROSECONDS (Spark's
    * timestamp precision, reconstructed from the Timestamp's nanos
    * field): matching, right-row ordering, AND every watermark
    * comparison (against the engine's ms watermark scaled to µs) are
    * µs-exact, so the result agrees with the batch
    * [[graft.operators.Joins.asOf]] even when rows differ only below
    * the millisecond — including rows inside the watermark's current
    * millisecond, which an ms-floored comparison would prematurely
    * finalize or drop.
    */
  def asOf[K: Encoder, L: Encoder, R: Encoder, O: Encoder](
      left: Dataset[L],
      right: Dataset[R],
      leftKey: L => K,
      rightKey: R => K,
      leftTs: L => java.sql.Timestamp,
      rightTs: R => java.sql.Timestamp,
      delay: String,
      combine: (L, Option[R]) => O
  ): Dataset[O] = {
    import org.apache.spark.sql.Encoders
    type Env = (K, java.sql.Timestamp, Int, L, R)
    implicit val envEnc: Encoder[Env] = Encoders.tuple(
      implicitly[Encoder[K]], Encoders.TIMESTAMP, Encoders.scalaInt,
      implicitly[Encoder[L]], implicitly[Encoder[R]])
    // (pending lefts, buffered rights) as (eventTimeMicros, element)
    // lists; kryo because the state never crosses engines — it lives and
    // dies in the state store
    type S = (List[(Long, L)], List[(Long, R)])
    implicit val stateEnc: Encoder[S] = Encoders.kryo[S]
    // full µs epoch time: getTime already carries the ms floor of the
    // nanos field, so only the sub-ms µs remainder is added back
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    val lEnv = left.map(l => (leftKey(l), leftTs(l), 1, l, null.asInstanceOf[R]))
    val rEnv = right.map(r => (rightKey(r), rightTs(r), 0, null.asInstanceOf[L], r))
    lEnv.union(rEnv)
      .withWatermark("_2", delay)
      .groupByKey(_._1)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()
      ) { (_: K, values: Iterator[Env], state: GroupState[S]) =>
        var (pending, rights) = state.getOption.getOrElse((Nil, Nil): S)
        // every comparison runs in MICROSECONDS against wm·1000 — flooring
        // the event time to ms instead would prematurely finalize a left
        // (or drop a right) whose µs timestamp lies inside the watermark's
        // current millisecond, diverging from the batch form
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        values.foreach { env =>
          // drop LATE arrivals (event time at or below the watermark):
          // admitting them would emit wrong best-effort matches against
          // pruned right state — see the operator Scaladoc. The bound
          // MIRRORS the engine's own late-event filter (fMGWS under
          // event-time timeout drops input with event time <= watermark
          // before this function runs — spec-pinned), so an at-watermark
          // row never actually reaches this guard; keeping the same
          // strict bound here means the function's contract does not
          // silently depend on that engine pre-filter. State rows are
          // never re-filtered: the retained latest-finalized right is
          // below the watermark by design.
          if (micros(env._2) > wmUs) {
            if (env._3 == 1) pending = (micros(env._2), env._4) :: pending
            else rights = (micros(env._2), env._5) :: rights
          }
        }
        val (ready, stillPending) = pending.partition(_._1 <= wmUs)
        val rightsDesc = rights.sortBy(-_._1)
        val out = ready.sortBy(_._1).map { case (lts, l) =>
          combine(l, rightsDesc.find(_._1 <= lts).map(_._2))
        }
        // evict finalized rights, retaining only the latest — the one row
        // future lefts can still reach back to
        val (live, done) = rightsDesc.partition(_._1 > wmUs)
        val kept = live ++ done.take(1)
        if (stillPending.isEmpty && kept.isEmpty) state.remove()
        else {
          state.update((stillPending, kept))
          // flush pending lefts even if this key never sees input again.
          // Timer is in ms: ceil(µs/1000) is the first whole-ms watermark
          // that finalizes the earliest pending left, and it is > wm by
          // construction (pending ⇒ µs > wm·1000), as the API requires
          if (stillPending.nonEmpty)
            state.setTimeoutTimestamp((stillPending.map(_._1).min + 999L) / 1000L)
        }
        out.iterator
      }
  }

  /** Streaming session-bounded transition pairs — the unbounded form of
    * [[graft.operators.Sequences.transitionCounts]]'s pair formation:
    * for each key, every pair of CONSECUTIVE events (in event time)
    * closer than `gapSeconds` apart emits `combine(prev, cur)` exactly
    * once, once the watermark finalizes the later event. Count the pairs
    * downstream (streaming agg or at the sink) to get the batch
    * operator's output.
    *
    * Same exactness machinery as [[asOf]]: events buffer per key until
    * watermark-final (µs bookkeeping, event-time timers flush keys with
    * no further input, late arrivals at-or-below the watermark are
    * dropped by the engine's own pre-filter). Pair formation then runs
    * over the finalized prefix in (timestamp, `ord`) order — `ord` is
    * the same mandatory tiebreak as the batch form; without it
    * same-timestamp pairs would be nondeterministic. The gap predicate
    * is floored epoch SECONDS, integer-exact, matching the batch form.
    *
    * Per-key state is the delay window's buffer PLUS one row: the last
    * finalized event, retained only while the watermark is within
    * `gapSeconds` of it (beyond that no future finalized event can pair
    * with it — future admits have event time above the watermark — so it
    * is evicted and an idle key's state is removed entirely by its
    * cleanup timer, never leaked).
    */
  def transitions[K: Encoder, E: Encoder, O: Encoder](
      events: Dataset[E],
      key: E => K,
      ts: E => java.sql.Timestamp,
      delay: String,
      gapSeconds: Long,
      ord: E => Long,
      combine: (E, E) => O
  ): Dataset[O] = {
    require(gapSeconds > 0, s"gapSeconds must be positive: $gapSeconds")
    import org.apache.spark.sql.Encoders
    type Env = (K, java.sql.Timestamp, E)
    implicit val envEnc: Encoder[Env] = Encoders.tuple(
      implicitly[Encoder[K]], Encoders.TIMESTAMP, implicitly[Encoder[E]])
    // (pending events, last finalized) — state-store-local, kryo is fine
    type S = (List[(Long, Long, E)], Option[(Long, Long, E)])
    implicit val stateEnc: Encoder[S] = Encoders.kryo[S]
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    events.map(e => (key(e), ts(e), e))
      .withWatermark("_2", delay)
      .groupByKey(_._1)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()
      ) { (_: K, values: Iterator[Env], state: GroupState[S]) =>
        var (pending, lastFinal) = state.getOption.getOrElse((Nil, None): S)
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        values.foreach { env =>
          val us = micros(env._2)
          // late arrivals (<= watermark) are unreachable here — the
          // engine pre-filters them (see asOf) — the guard keeps the
          // contract explicit
          if (us > wmUs) pending = (us, ord(env._3), env._3) :: pending
        }
        val (ready, stillPending) = pending.partition(_._1 <= wmUs)
        val out = Seq.newBuilder[O]
        ready.sortBy(r => (r._1, r._2)).foreach { case (us, o, e) =>
          lastFinal.foreach { case (pus, _, pe) =>
            if (us / 1000000L - pus / 1000000L <= gapSeconds) out += combine(pe, e)
          }
          lastFinal = Some((us, o, e))
        }
        // evict the carried row once no future finalized event can reach
        // it: future admits have us > wm, so their floored-second gap to
        // it already exceeds gapSeconds
        lastFinal = lastFinal.filter { case (pus, _, _) =>
          wmUs / 1000000L - pus / 1000000L <= gapSeconds
        }
        if (stillPending.isEmpty && lastFinal.isEmpty) state.remove()
        else {
          state.update((stillPending, lastFinal))
          // flush pending even if the key sees no further input; an
          // idle key with only the carried row wakes once to clean up
          val wakeUs = stillPending.map(_._1).minOption
            .getOrElse(lastFinal.map(_._1 + (gapSeconds + 1) * 1000000L).get)
          if (wakeUs > wmUs) state.setTimeoutTimestamp((wakeUs + 999L) / 1000L)
          else state.setTimeoutTimestamp(wmUs / 1000L + 1L)
        }
        out.result().iterator
      }
  }

  /** Streaming per-event sessionization — the unbounded form of
    * [[graft.operators.Windows.sessionize]]: each event is emitted once,
    * labeled with its key's 1-based session sequence number, once the
    * watermark finalizes it. Session numbering follows the batch form
    * exactly (new session when the floored-second gap to the previous
    * finalized event STRICTLY exceeds `gapSeconds`).
    *
    * Same finalization machinery as [[transitions]]/[[asOf]] (µs
    * bookkeeping, event-time flush timers, engine late-drop). State per
    * key = the delay-window buffer PLUS one `(ts, seq)` pair that is
    * retained for the key's LIFETIME — unlike [[transitions]]' carried
    * row it cannot be evicted, because the sequence number must keep
    * incrementing across arbitrarily long idle gaps to match the batch
    * numbering. That is O(1) per key and O(|keys|) overall — bounded by
    * the entity population, not the stream — the honest cost of exact
    * lifetime session numbering; cap it with a key-TTL upstream if the
    * key space is unbounded and renumbering after long idleness is
    * acceptable.
    */
  def sessionize[K: Encoder, E: Encoder, O: Encoder](
      events: Dataset[E],
      key: E => K,
      ts: E => java.sql.Timestamp,
      delay: String,
      gapSeconds: Long,
      ord: E => Long,
      label: (E, Long) => O
  ): Dataset[O] = {
    require(gapSeconds > 0, s"gapSeconds must be positive: $gapSeconds")
    import org.apache.spark.sql.Encoders
    type Env = (K, java.sql.Timestamp, E)
    implicit val envEnc: Encoder[Env] = Encoders.tuple(
      implicitly[Encoder[K]], Encoders.TIMESTAMP, implicitly[Encoder[E]])
    type S = (List[(Long, Long, E)], Option[(Long, Long)]) // (pending, (lastUs, lastSeq))
    implicit val stateEnc: Encoder[S] = Encoders.kryo[S]
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    events.map(e => (key(e), ts(e), e))
      .withWatermark("_2", delay)
      .groupByKey(_._1)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()
      ) { (_: K, values: Iterator[Env], state: GroupState[S]) =>
        var (pending, last) = state.getOption.getOrElse((Nil, None): S)
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        values.foreach { env =>
          val us = micros(env._2)
          if (us > wmUs) pending = (us, ord(env._3), env._3) :: pending
        }
        val (ready, stillPending) = pending.partition(_._1 <= wmUs)
        val out = Seq.newBuilder[O]
        ready.sortBy(r => (r._1, r._2)).foreach { case (us, _, e) =>
          val seq = last match {
            case Some((pus, pseq)) if us / 1000000L - pus / 1000000L <= gapSeconds => pseq
            case Some((_, pseq)) => pseq + 1
            case None => 1L
          }
          out += label(e, seq)
          last = Some((us, seq))
        }
        if (stillPending.isEmpty && last.isEmpty) state.remove()
        else {
          state.update((stillPending, last))
          // only pending events need a flush timer; the (ts, seq) pair
          // is lifetime state and needs no wake-up of its own
          stillPending.map(_._1).minOption.foreach { earliest =>
            state.setTimeoutTimestamp((earliest + 999L) / 1000L)
          }
        }
        out.result().iterator
      }
  }

  /** Streaming last-touch attribution — the unbounded form of
    * [[graft.operators.Sequences.lastTouchAttribution]]: every
    * finalized `isConversion` event is emitted once, attributed to the
    * key's latest `isTouch` event at-or-before it (in (ts, ord) order)
    * within `windowSeconds`, or to None. Finalization machinery as
    * [[sessionize]] (µs bookkeeping, event-time flush timers, engine
    * late-drop).
    *
    * State per key = the delay-window buffer PLUS at most ONE carried
    * touch — and unlike [[sessionize]]'s lifetime (ts, seq) pair the
    * carry is EVICTABLE: once the watermark passes `touch ts +
    * windowSeconds`, no future finalized conversion can be within the
    * window of that touch (a conversion finalizes only at ts ≤ wm), so
    * the carry is dropped and idle keys leave the store entirely.
    * Bounded by in-flight keys, not the entity population.
    */
  def lastTouchAttribution[K: Encoder, E: Encoder, O: Encoder](
      events: Dataset[E],
      key: E => K,
      ts: E => java.sql.Timestamp,
      delay: String,
      ord: E => Long,
      isTouch: E => Boolean,
      isConversion: E => Boolean,
      windowSeconds: Long,
      attribute: (E, Option[E]) => O
  ): Dataset[O] = {
    require(windowSeconds > 0, s"windowSeconds must be positive: $windowSeconds")
    import org.apache.spark.sql.Encoders
    type Env = (K, java.sql.Timestamp, E)
    implicit val envEnc: Encoder[Env] = Encoders.tuple(
      implicitly[Encoder[K]], Encoders.TIMESTAMP, implicitly[Encoder[E]])
    type S = (List[(Long, Long, E)], Option[(Long, E)]) // (pending, (touchUs, touch))
    implicit val stateEnc: Encoder[S] = Encoders.kryo[S]
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    events.map(e => (key(e), ts(e), e))
      .withWatermark("_2", delay)
      .groupByKey(_._1)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()
      ) { (_: K, values: Iterator[Env], state: GroupState[S]) =>
        var (pending, carry) = state.getOption.getOrElse((Nil, None): S)
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        values.foreach { env =>
          val us = micros(env._2)
          if (us > wmUs) pending = (us, ord(env._3), env._3) :: pending
        }
        val (ready, stillPending) = pending.partition(_._1 <= wmUs)
        val out = Seq.newBuilder[O]
        ready.sortBy(r => (r._1, r._2)).foreach { case (us, _, e) =>
          if (isConversion(e)) {
            // the window test is in floored epoch SECONDS, the batch
            // form's gap convention, so both forms pair identically
            val inWindow = carry.collect {
              case (tus, t) if us / 1000000L - tus / 1000000L <= windowSeconds => t
            }
            out += attribute(e, inWindow)
          }
          if (isTouch(e)) carry = Some((us, e))
        }
        // carry eviction: a touch the watermark has outrun by more than
        // the window can never attribute a future finalized conversion
        carry = carry.filter { case (tus, _) =>
          wmUs / 1000000L - tus / 1000000L <= windowSeconds
        }
        if (stillPending.isEmpty && carry.isEmpty) state.remove()
        else {
          state.update((stillPending, carry))
          // A timer must cover BOTH reasons to wake this key up again:
          // the earliest pending event finalizing, and — crucially — the
          // carry aging out. Without the carry timer an idle key (pending
          // drained, one touch carried) is never re-invoked, the eviction
          // branch above never runs, and the carry pins state forever.
          // The carry expires when floor(wm_s) reaches floor(touch_s)+W+1
          // (the floored-second window test above), which is strictly
          // AFTER the current watermark while the carry survives — so the
          // timestamp is always legal to set.
          val pendingAt = stillPending.map(_._1).minOption.map(us => (us + 999L) / 1000L)
          val carryAt = carry.map { case (tus, _) =>
            (tus / 1000000L + windowSeconds + 1L) * 1000L
          }
          (pendingAt.toSeq ++ carryAt.toSeq).minOption.foreach(state.setTimeoutTimestamp)
        }
        out.result().iterator
      }
  }

  /** Event-time tumbling window with lateness bound. */
  def tumbling(
      tsName: String,
      size: String,
      lateness: String,
      keys: Seq[Column],
      aggs: Seq[Column]
  ): DataFrame => DataFrame = { df =>
    df.withWatermark(tsName, lateness)
      .groupBy(window(col(tsName), size) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Event-time sliding window — the closest 1:1 mapping of the reference's
    * SlidingWindow (epoch-aligned starts, AllowedLateness ↔ watermark,
    * drop-too-late ↔ watermark filter; flow/sliding_window.go:87-109).
    *
    * The reference's remaining options map as follows:
    *  - `AllowedLateness ≤ slide` (flow/sliding_window.go:92-94) is
    *    validated here with the same rule — a watermark delay beyond the
    *    slide would hold EVERY in-flight window open, ballooning state;
    *  - `EmitPartialWindow` (flow/sliding_window.go:22-24, 214-230): Spark
    *    append mode already emits a window only once the watermark passes
    *    its END (no mid-window partial emissions); the ramp-up windows that
    *    start before the stream's first event are suppressed on the batch
    *    profile by [[graft.operators.Windows.slidingComplete]] (streaming
    *    has no bounded "first event" to anchor on).
    */
  def sliding(
      tsName: String,
      size: String,
      slide: String,
      lateness: String,
      keys: Seq[Column],
      aggs: Seq[Column]
  ): DataFrame => DataFrame = { df =>
    requireLatenessAtMostSlide(lateness, slide)
    df.withWatermark(tsName, lateness)
      .groupBy(window(col(tsName), size, slide) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The reference's `AllowedLateness ≤ slidingInterval` validation
    * (flow/sliding_window.go:92-94), on interval strings. Month-bearing
    * intervals are not comparable in fixed microseconds and are left to
    * Spark's own analysis.
    */
  private[graft] def requireLatenessAtMostSlide(lateness: String, slide: String): Unit = {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.IntervalUtils
    val l = IntervalUtils.stringToInterval(UTF8String.fromString(lateness))
    val s = IntervalUtils.stringToInterval(UTF8String.fromString(slide))
    if (l.months == 0 && s.months == 0) {
      val lUs = l.days * 86400000000L + l.microseconds
      val sUs = s.days * 86400000000L + s.microseconds
      require(lUs <= sUs,
        s"allowed lateness ($lateness) must be <= slide ($slide) — flow/sliding_window.go:92-94")
    }
  }

  /** Event-time session window (inactivity gap; flow/session_window.go). */
  def session(
      tsName: String,
      gap: String,
      lateness: String,
      keys: Seq[Column],
      aggs: Seq[Column]
  ): DataFrame => DataFrame = { df =>
    df.withWatermark(tsName, lateness)
      .groupBy(keys :+ session_window(col(tsName), gap): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Batch (flow/batch.go:31-47): emit accumulated elements when either
    * `maxBatchSize` arrive OR `maxLatencyMs` elapse since the batch opened.
    * Per-key state + processing-time timeout — the exact count-or-time
    * hybrid the reference implements with a ticker, here backed by the
    * state store. Output: (key, batch) arrays.
    */
  def batchCountOrTime[K: Encoder, V: Encoder](
      keyFn: V => K,
      maxBatchSize: Int,
      maxLatencyMs: Long
  )(implicit pairEnc: Encoder[(K, Seq[V])]): Dataset[V] => Dataset[(K, Seq[V])] = { ds =>
    require(maxBatchSize > 0, "batch size must be positive") // flow/batch.go:34-36
    implicit val bufEnc: Encoder[Seq[V]] = org.apache.spark.sql.Encoders.kryo[Seq[V]]
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState[Seq[V], (K, Seq[V])](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()
      ) { (key: K, values: Iterator[V], state: GroupState[Seq[V]]) =>
        if (state.hasTimedOut) {
          // time trigger: flush whatever accumulated (flow/batch.go:89-96)
          val buf = state.getOption.getOrElse(Vector.empty[V])
          state.remove()
          if (buf.nonEmpty) Iterator((key, buf)) else Iterator.empty
        } else {
          // Vector, not List: `:+` append per element must stay O(1) —
          // a List here is O(n) per append, O(n²) per large batch
          var buf: Seq[V] = state.getOption.getOrElse(Vector.empty[V]).toVector
          val out = Seq.newBuilder[(K, Seq[V])]
          values.foreach { v =>
            buf = buf :+ v
            if (buf.size >= maxBatchSize) { // count trigger (flow/batch.go:86-88)
              out += ((key, buf))
              buf = Vector.empty[V]
            }
          }
          if (buf.nonEmpty) {
            state.update(buf)
            state.setTimeoutDuration(maxLatencyMs)
          } else {
            state.remove()
          }
          out.result().iterator
        }
      }
  }

  /** Throttler (flow/throttler.go:58-82).
    *
    * Backpressure mode: rate-limit at the source — `rowsPerSecond` for the
    * rate source, `maxOffsetsPerTrigger` for Kafka, `maxFilesPerTrigger`
    * for files. This is where Spark applies backpressure natively; an
    * operator-level blocking throttle inside a micro-batch engine would
    * only stall the whole batch.
    */
  def throttledRateSource(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond.toString).load()

  def kafkaSourceOptions(maxOffsetsPerTrigger: Long): Map[String, String] =
    Map("maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString)

  /** Throttler Discard mode: ≤ quota elements per key per processing-time
    * period; excess silently dropped (flow/throttler.go:21-25, 119-124).
    * Per-key counter with a period-aligned reset, in the state store.
    */
  def throttleDiscard[K: Encoder, V: Encoder](
      keyFn: V => K,
      quota: Int,
      periodMs: Long,
      stateTtlMs: Long = -1L
  ): Dataset[V] => Dataset[V] = { ds =>
    require(quota > 0, "throttler elements must be positive")
    // a TTL shorter than the period would evict a live counter mid-period
    // and hand the key a fresh quota — eviction must only ever drop state
    // that the period rollover would reset anyway
    require(stateTtlMs <= 0 || stateTtlMs >= periodMs,
      s"stateTtlMs ($stateTtlMs) must be >= periodMs ($periodMs) — a shorter TTL refreshes quotas mid-period")
    implicit val stEnc: Encoder[(Long, Int)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaInt)
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState[(Long, Int), V](
        OutputMode.Append(), ttlTimeout(stateTtlMs)
      ) { (_: K, values: Iterator[V], state: GroupState[(Long, Int)]) =>
        if (state.hasTimedOut) {
          // idle key: drop the counter — it would reset at the next period
          // boundary anyway, so eviction never changes admitted elements
          state.remove()
          Iterator.empty
        } else {
          val now = state.getCurrentProcessingTimeMs()
          val period = now / periodMs
          var (curPeriod, used) = state.getOption.getOrElse((period, 0))
          if (curPeriod != period) { curPeriod = period; used = 0 } // ticker reset
          val out = Seq.newBuilder[V]
          values.foreach { v =>
            if (used < quota) { out += v; used += 1 }
            // else: discard (flow/throttler.go:119-124)
          }
          state.update((curPeriod, used))
          if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
          out.result().iterator
        }
      }
  }

  /** ProcessingTimeTimeout when a TTL is set, NoTimeout otherwise. */
  private def ttlTimeout(ttlMs: Long): GroupStateTimeout =
    if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  /** Keyed (flow/keyed.go:53-72): an arbitrary stateful chain per key.
    * The chain's state is an accumulator of type S in the state store —
    * fresh per key like the reference's lazily-instantiated per-key
    * operator chains, but fault-tolerant and, with `stateTtlMs` set,
    * evicted after that much processing-time idleness (a key seen again
    * after eviction restarts from `init`). Leave the TTL unset only for
    * bounded key spaces — on a high-cardinality stream, unbounded per-key
    * state is the scale bug.
    */
  def keyedState[K: Encoder, V: Encoder, S: Encoder, O: Encoder](
      keyFn: V => K,
      init: S,
      step: (S, V) => (S, IterableOnce[O]),
      stateTtlMs: Long = -1L
  ): Dataset[V] => Dataset[O] = { ds =>
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), ttlTimeout(stateTtlMs)
      ) { (_: K, values: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var s = state.getOption.getOrElse(init)
          val out = Seq.newBuilder[O]
          values.foreach { v =>
            val (s2, os) = step(s, v)
            s = s2
            out ++= os
          }
          state.update(s)
          if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
          out.result().iterator
        }
      }
  }

  /** Fold/Reduce running emission on a stream (flow/fold.go:83-90): emit
    * the accumulator after every element, per key. `stateTtlMs` evicts
    * idle keys' accumulators (restart from `init` if seen again).
    */
  def foldRunning[K: Encoder, V: Encoder, R: Encoder](
      keyFn: V => K,
      init: R,
      merge: (R, V) => R,
      stateTtlMs: Long = -1L
  )(implicit outEnc: Encoder[(K, R)]): Dataset[V] => Dataset[(K, R)] = { ds =>
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState[R, (K, R)](
        OutputMode.Append(), ttlTimeout(stateTtlMs)
      ) { (key: K, values: Iterator[V], state: GroupState[R]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var acc = state.getOption.getOrElse(init)
          val out = Seq.newBuilder[(K, R)]
          values.foreach { v =>
            acc = merge(acc, v)
            out += ((key, acc)) // emit after EVERY element (flow/fold.go:83-90)
          }
          state.update(acc)
          if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
          out.result().iterator
        }
      }
  }

  /** Streaming exact dedup — the unbounded form of
    * [[graft.dedup.Dedup.exact]]: the first row per key set is kept,
    * subsequent duplicates arriving within the watermark delay are
    * dropped, and key state older than the watermark is evicted
    * (`dropDuplicatesWithinWatermark`) — dedup state stays bounded by
    * the delay window instead of growing with the corpus.
    */
  def dedupExact(tsName: String, delay: String, keyCols: Seq[String]): DataFrame => DataFrame = { df =>
    df.withWatermark(tsName, delay).dropDuplicatesWithinWatermark(keyCols)
  }

  /** Streaming signature dedup: dedup on a computed signature column —
    * a content hash for exact dedup, a simhash or a MinHash band key
    * ([[graft.functions.Hashing]]) for near-dup dropping — with the same
    * watermark-bounded state as [[dedupExact]].
    */
  def dedupBySignature(
      tsName: String, delay: String, signature: Column
  ): DataFrame => DataFrame = { df =>
    df.withColumn("__graft_sig", signature)
      .withWatermark(tsName, delay)
      .dropDuplicatesWithinWatermark(Seq("__graft_sig"))
      .drop("__graft_sig")
  }

  /** Merge (flow/util.go:84-105) works on streams via union — unchanged. */
  def merge(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  /** Keyed via Spark 4's `transformWithState` — the modern arbitrary-state
    * operator (SPARK-46815) and the preferred long-term mapping for the
    * reference's per-key chains (flow/keyed.go:131-158): typed per-key
    * ValueState with optional TTL, RocksDB-backed, timer support.
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass=...RocksDBStateStoreProvider`).
    */
  def keyedTransformWithState[K: Encoder, V: Encoder, S: Encoder, O: Encoder](
      keyFn: V => K,
      init: S,
      step: (S, V) => (S, IterableOnce[O]),
      ttl: java.time.Duration = null
  ): Dataset[V] => Dataset[O] = { ds =>
    val sEnc = implicitly[Encoder[S]]
    val initialState = init // avoid shadowing by StatefulProcessor.init(...)
    val ttlConfig = Option(ttl).map(TTLConfig.apply).getOrElse(TTLConfig.NONE)
    val processor = new StatefulProcessor[K, V, O] {
      @transient private var state: ValueState[S] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[S]("graft_keyed_state", sEnc, ttlConfig)
      override def handleInputRows(key: K, rows: Iterator[V], tv: TimerValues): Iterator[O] = {
        var s = if (state.exists()) state.get() else initialState
        val out = Seq.newBuilder[O]
        rows.foreach { v =>
          val (s2, os) = step(s, v)
          s = s2
          out ++= os
        }
        state.update(s)
        out.result().iterator
      }
    }
    // TTLConfig requires ProcessingTime time mode — TimeMode.None with a
    // TTL set is rejected by the state API at runtime
    val timeMode = if (ttl != null) TimeMode.ProcessingTime() else TimeMode.None()
    ds.groupByKey(keyFn)
      .transformWithState(processor, timeMode, OutputMode.Append())
  }

  /** Keyed fold with BATCH-granular emission on `transformWithState`: fold
    * every arriving row into per-key state, emit `finish(key, state)` once
    * per key per micro-batch that touched it — the "current aggregate per
    * key" shape (the reference's forever-running keyed aggregation,
    * flow/keyed.go:131-158, read at its natural batch cadence) without a
    * COMPLETE-mode sink holding the whole result. With `ttl` set the
    * per-key state is evicted after that much processing-time idleness
    * (TTLConfig — the high-cardinality guard [[keyedTransformWithState]]
    * documents).
    */
  def keyedFoldEmitTWS[K: Encoder, V: Encoder, S: Encoder, O: Encoder](
      keyFn: V => K,
      init: S,
      step: (S, V) => S,
      finish: (K, S) => O,
      ttl: java.time.Duration = null
  ): Dataset[V] => Dataset[O] = { ds =>
    val sEnc = implicitly[Encoder[S]]
    val initialState = init
    val ttlConfig = Option(ttl).map(TTLConfig.apply).getOrElse(TTLConfig.NONE)
    val processor = new StatefulProcessor[K, V, O] {
      @transient private var state: ValueState[S] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[S]("graft_keyed_fold", sEnc, ttlConfig)
      override def handleInputRows(key: K, rows: Iterator[V], tv: TimerValues): Iterator[O] = {
        var s = if (state.exists()) state.get() else initialState
        rows.foreach(v => s = step(s, v))
        state.update(s)
        Iterator.single(finish(key, s))
      }
    }
    val timeMode = if (ttl != null) TimeMode.ProcessingTime() else TimeMode.None()
    ds.groupByKey(keyFn)
      .transformWithState(processor, timeMode, OutputMode.Append())
  }

  /** Streaming CUSUM ([[graft.operators.TimeSeries.cusum]]'s recurrence
    * carried as live per-key state): Page's one-sided drift statistic
    * `S ← max(0, S + (x − target − slack))` over a keyed event stream,
    * one emitted `(key, tie, score)` row per input row. The batch
    * operator unrolls the recurrence into windows because it can see the
    * whole prefix; the stream CANNOT (one running scalar is the whole
    * state — exactly why CUSUM suits streaming), so this is the rare
    * genuinely-sequential fold: rows are sorted by `(order, tie)` WITHIN
    * each batch inside the processor (`transformWithState` makes no
    * intra-key order promise), and batches must arrive in non-decreasing
    * order-time per key (the q229 gate convention; a late row would need
    * the full prefix re-walked, which the scalar state cannot do —
    * re-run the batch operator for corrections).
    *
    * State: ONE double per key in RocksDB-backed ValueState — bounded by
    * key cardinality, not stream length.
    */
  def cusumTWS[V: Encoder, K: Encoder](
      keyFn: V => K,
      orderFn: V => (Long, Long),
      valueFn: V => Double,
      target: Double,
      slack: Double
  )(implicit outEnc: Encoder[(K, Long, Double)]): Dataset[V] => Dataset[(K, Long, Double)] = { ds =>
    val processor = new StatefulProcessor[K, V, (K, Long, Double)] {
      @transient private var state: ValueState[Double] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[Double](
          "graft_cusum", org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
      override def handleInputRows(
          key: K, rows: Iterator[V], tv: TimerValues): Iterator[(K, Long, Double)] = {
        var s = if (state.exists()) state.get() else 0.0
        val out = rows.toVector.sortBy(orderFn).map { v =>
          s = math.max(0.0, s + (valueFn(v) - target - slack))
          (key, orderFn(v)._2, s)
        }
        state.update(s)
        out.iterator
      }
    }
    ds.groupByKey(keyFn)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())
  }

  /** Throttler Discard (flow/throttler.go:21-25, 119-124) on
    * `transformWithState` — completes the stateful-operator trio on the
    * Spark 4 state API (Batch: [[batchCountOrTimeTWS]], Keyed:
    * [[keyedTransformWithState]]/[[keyedFoldEmitTWS]]): ≤ `quota`
    * elements per key per processing-time period, excess silently
    * dropped, the per-key `(period, used)` counter in RocksDB-backed
    * ValueState with an optional TTL instead of
    * [[throttleDiscard]]'s ProcessingTimeTimeout. The TTL must cover the
    * period: eviction may only drop counters the period rollover would
    * reset anyway, never refresh a live quota mid-period.
    */
  def throttleDiscardTWS[K: Encoder, V: Encoder](
      keyFn: V => K,
      quota: Int,
      periodMs: Long,
      stateTtl: java.time.Duration = null
  ): Dataset[V] => Dataset[V] = {
    require(quota > 0, "throttler elements must be positive")
    require(periodMs > 0, s"periodMs must be positive: $periodMs")
    require(stateTtl == null || stateTtl.toMillis >= periodMs,
      s"stateTtl ($stateTtl) must be >= periodMs ($periodMs) — a shorter TTL refreshes " +
        "quotas mid-period")
    ds =>
    val stEnc: Encoder[(Long, Int)] = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaInt)
    val ttlConfig = Option(stateTtl).map(TTLConfig.apply).getOrElse(TTLConfig.NONE)
    val processor = new StatefulProcessor[K, V, V] {
      @transient private var state: ValueState[(Long, Int)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[(Long, Int)]("graft_throttle", stEnc, ttlConfig)
      override def handleInputRows(key: K, rows: Iterator[V], tv: TimerValues): Iterator[V] = {
        val period = tv.getCurrentProcessingTimeInMs() / periodMs
        var (curPeriod, used) =
          if (state.exists()) state.get() else (period, 0)
        if (curPeriod != period) { curPeriod = period; used = 0 } // ticker reset
        val out = Seq.newBuilder[V]
        rows.foreach { v =>
          if (used < quota) { out += v; used += 1 }
          // else: discard (flow/throttler.go:119-124)
        }
        state.update((curPeriod, used))
        out.result().iterator
      }
    }
    ds.groupByKey(keyFn)
      .transformWithState(processor, TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Batch's count-OR-time trigger (flow/batch.go:83-113) on
    * `transformWithState` — the SURVEY-designated target for the hybrid
    * trigger (real per-key TIMERS instead of [[batchCountOrTime]]'s
    * whole-group ProcessingTimeTimeout): a batch opens when its first
    * element lands, a processing-time timer is registered for
    * `maxLatencyMs` later, and the batch flushes on whichever fires
    * first — the count threshold (emitted inline, timer deleted) or the
    * timer ([[StatefulProcessor.handleExpiredTimer]]). With `stateTtl`
    * set, an idle key's leftover buffer is evicted after the TTL — which
    * is why the TTL must be >= the latency: the timer flushes the buffer
    * long before a sane TTL could evict it, so eviction only ever
    * touches state a crash left behind.
    *
    * Timer discipline: ONE live timer per key, tracked in state. A flush
    * (count- or timer-triggered) deletes/clears it; the NEXT leftover
    * re-registers from its own arrival time — deadline is
    * batch-open + latency, never sliding with each row.
    */
  def batchCountOrTimeTWS[K: Encoder, V: Encoder](
      keyFn: V => K,
      maxBatchSize: Int,
      maxLatencyMs: Long,
      stateTtl: java.time.Duration = null
  )(implicit pairEnc: Encoder[(K, Seq[V])]): Dataset[V] => Dataset[(K, Seq[V])] = {
    require(maxBatchSize > 0, "batch size must be positive") // flow/batch.go:34-36
    require(stateTtl == null || stateTtl.toMillis >= maxLatencyMs,
      s"stateTtl ($stateTtl) must be >= maxLatencyMs ($maxLatencyMs): a shorter TTL would " +
        "evict a live batch before its time trigger fires")
    ds =>
    val bufEnc: Encoder[Seq[V]] = org.apache.spark.sql.Encoders.kryo[Seq[V]]
    val longEnc: Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
    val ttlConfig = Option(stateTtl).map(TTLConfig.apply).getOrElse(TTLConfig.NONE)
    val processor = new StatefulProcessor[K, V, (K, Seq[V])] {
      @transient private var buf: ValueState[Seq[V]] = _
      @transient private var timerAt: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        buf = getHandle.getValueState[Seq[V]]("graft_batch_buf", bufEnc, ttlConfig)
        timerAt = getHandle.getValueState[Long]("graft_batch_timer", longEnc, ttlConfig)
      }
      private def dropTimer(): Unit = if (timerAt.exists()) {
        getHandle.deleteTimer(timerAt.get())
        timerAt.clear()
      }
      override def handleInputRows(
          key: K, rows: Iterator[V], tv: TimerValues): Iterator[(K, Seq[V])] = {
        // Vector: `:+` must stay O(1) — a List would be O(n²) per batch
        var b: Vector[V] = if (buf.exists()) buf.get().toVector else Vector.empty
        var flushed = false
        val out = Seq.newBuilder[(K, Seq[V])]
        rows.foreach { v =>
          b = b :+ v
          if (b.size >= maxBatchSize) { // count trigger (flow/batch.go:86-88)
            out += ((key, b))
            b = Vector.empty
            flushed = true
          }
        }
        if (b.nonEmpty) {
          buf.update(b)
          if (flushed) dropTimer() // the leftover opened a NEW batch
          if (!timerAt.exists()) {
            val at = tv.getCurrentProcessingTimeInMs() + maxLatencyMs
            getHandle.registerTimer(at)
            timerAt.update(at)
          }
        } else {
          buf.clear()
          dropTimer()
        }
        out.result().iterator
      }
      override def handleExpiredTimer(
          key: K, tv: TimerValues, info: ExpiredTimerInfo): Iterator[(K, Seq[V])] = {
        // time trigger: flush whatever accumulated (flow/batch.go:89-96)
        val b = if (buf.exists()) buf.get() else null
        buf.clear()
        timerAt.clear()
        if (b != null && b.nonEmpty) Iterator((key, b)) else Iterator.empty
      }
    }
    ds.groupByKey(keyFn)
      .transformWithState(processor, TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** MISRA–GRIES heavy-hitter summary on `transformWithState` — the
    * STREAMING side of the two-pass heavy-hitter discipline
    * ([[graft.functions.Sketches.heavyHitters]] is the batch side, CMS +
    * exact recount): per-key state is a BOUNDED map of `capacity`
    * counters, never the full term dictionary, so state size is
    * O(shards · capacity) regardless of stream cardinality — the only
    * shape that survives an unbounded vocabulary.
    *
    * Sharding: items hash to `shards` keys, so EVERY occurrence of a term
    * lands in one shard and the term's in-shard frequency equals its
    * global count. The Misra–Gries invariant (any item with in-shard
    * frequency > N_shard/(capacity+1) is in that shard's summary, and
    * N_shard ≤ N) then gives the NO-FALSE-NEGATIVE guarantee: every term
    * with global count ≥ N/(capacity+1) is in some emitted summary. Pick
    * `capacity ≥ 1/φ − 1` for φ-heavy hitters and recount the candidates
    * exactly — identical one-sided-error contract as the CMS prefilter.
    *
    * Emission: each micro-batch that touches a shard re-emits that
    * shard's CURRENT summary `(shard, item, cnt)` (`cnt` is the MG lower
    * bound, an undercount by ≤ N_shard/(capacity+1) — a candidate
    * screen, not a count). The union of emissions across batches is a
    * superset of every final summary, so `SELECT DISTINCT item` over the
    * sink is the candidate set. Volume: ≤ shards·capacity rows per
    * batch.
    */
  def heavyHittersTWS[V: Encoder](
      itemFn: V => String,
      capacity: Int,
      shards: Int = 32
  )(implicit outEnc: Encoder[(Int, String, Long)]): Dataset[V] => Dataset[(Int, String, Long)] = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(shards > 0, s"shards must be positive: $shards")
    ds =>
    // native Catalyst map encoder (kryo trips Java-17 module access on
    // the immutable-Map internals; a MapType state row needs neither),
    // resolved+bound up front — the state API consumes it as-is
    val mapEnc: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
        .resolveAndBind()
    val processor = new StatefulProcessor[Int, V, (Int, String, Long)] {
      @transient private var state: ValueState[Map[String, Long]] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[Map[String, Long]](
          "graft_mg_summary", mapEnc, TTLConfig.NONE)
      override def handleInputRows(
          key: Int, rows: Iterator[V], tv: TimerValues): Iterator[(Int, String, Long)] = {
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        if (state.exists()) m ++= state.get()
        rows.foreach { v =>
          val t = itemFn(v)
          m.get(t) match {
            case Some(c) => m.update(t, c + 1)
            case None if m.size < capacity => m.update(t, 1L)
            case None =>
              // the MG step: a miss with a full table decrements EVERY
              // counter — one stream element cancels against `capacity`
              // others, which is where the N/(capacity+1) bound comes from
              val dead = List.newBuilder[String]
              m.keysIterator.foreach { k =>
                val c = m(k) - 1
                if (c == 0) dead += k else m.update(k, c)
              }
              dead.result().foreach(m.remove)
          }
        }
        state.update(m.toMap)
        // deterministic emission order (map order is not)
        m.toSeq.sortBy(_._1).iterator.map { case (t, c) => (key, t, c) }
      }
    }
    ds.groupByKey(v => math.floorMod(itemFn(v).hashCode, shards))(
        org.apache.spark.sql.Encoders.scalaInt)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())
  }

  /** Per-group TOP-K on `transformWithState` — the streaming face of the
    * bounded top-k aggregate ([[graft.operators.TopK]] is the batch
    * side): state per group is the k-element min-heap of the GREATEST
    * sort keys seen so far, exactly the batch aggregate's buffer — never
    * the group's history. Each micro-batch that touches a group re-emits
    * that group's COMPLETE current top-k as `(group, emitSeq, rank,
    * sortKey, payload)` rows, `emitSeq` a per-group monotone counter: the
    * group's final top-k is its HIGHEST-emitSeq emission (an untouched
    * group keeps its last one), so `max(emitSeq) per group` over the sink
    * reconstructs the exact batch answer — the q181 replay convention
    * with whole-snapshot rather than monotone-count emissions.
    *
    * Ordering: (sortKey desc, payload asc) — supply a UNIQUE payload (or
    * encode a tiebreak into the key) for a total, cross-engine-stable
    * order, the [[graft.plans.TopKStructs]] contract.
    */
  def topKTWS[V: Encoder, G: Encoder](
      groupFn: V => G,
      sortKeyFn: V => Double,
      payloadFn: V => Long,
      k: Int
  )(implicit outEnc: Encoder[(G, Long, Int, Double, Long)])
      : Dataset[V] => Dataset[(G, Long, Int, Double, Long)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    ds =>
    val stateEnc: Encoder[(Long, Seq[(Double, Long)])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Seq[(Double, Long)])]()
        .resolveAndBind()
    val processor = new StatefulProcessor[G, V, (G, Long, Int, Double, Long)] {
      @transient private var state: ValueState[(Long, Seq[(Double, Long)])] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[(Long, Seq[(Double, Long)])](
          "graft_topk", stateEnc, TTLConfig.NONE)
      override def handleInputRows(
          key: G, rows: Iterator[V], tv: TimerValues): Iterator[(G, Long, Int, Double, Long)] = {
        val (seq0, kept0) =
          if (state.exists()) state.get() else (0L, Seq.empty[(Double, Long)])
        // (sortKey desc, payload asc): kept sorted best-first, ≤ k entries
        val ord = Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])
        var kept: Seq[(Double, Long)] = kept0
        rows.foreach { v =>
          val e = (sortKeyFn(v), payloadFn(v))
          if (kept.size < k || ord.lt(e, kept.last)) {
            kept = (kept :+ e).sorted(ord).take(k)
          }
        }
        val seq = seq0 + 1
        state.update((seq, kept))
        kept.iterator.zipWithIndex.map { case ((s, p), i) => (key, seq, i + 1, s, p) }
      }
    }
    ds.groupByKey(groupFn)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())
  }

  /** Per-group VALUE HISTOGRAM on `transformWithState` — the streaming
    * side of the exact KS drift
    * ([[graft.curation.Corpus.ksDriftFromCounts]] is the shared statistic
    * engine; [[graft.curation.Corpus.ksDrift]] feeds it one batch
    * aggregate, this feeds it incrementally): state per group is the
    * `Map(value → count)` histogram — the sufficient statistic for any
    * CDF-based test, so nothing else about the stream needs retaining.
    *
    * Emission per micro-batch: the `(group, v, c)` entries TOUCHED by
    * that batch, in deterministic value order. Counts are monotone, so
    * `max(c)` per `(group, v)` over the sink reconstructs the exact final
    * histogram — the q159-over-q157 replay convention.
    *
    * State bound: distinct values per group (the histogram itself), NOT
    * the stream length. Over an unbounded continuous domain, quantize
    * the value first (`round(v, k)` / bucket id) — the same resolution
    * decision any histogram at 100 TB makes.
    */
  def histogramTWS[V: Encoder, G: Encoder](
      groupFn: V => G,
      valueFn: V => Double
  )(implicit outEnc: Encoder[(G, Double, Long)]): Dataset[V] => Dataset[(G, Double, Long)] = {
    ds =>
    // the state-store Avro encoder accepts only STRING map keys: the
    // double bin rides as its canonical Double.toString, an exact
    // round-trip (toString emits enough digits to reparse bit-identically)
    val mapEnc: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
        .resolveAndBind()
    val processor = new StatefulProcessor[G, V, (G, Double, Long)] {
      @transient private var state: ValueState[Map[String, Long]] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[Map[String, Long]](
          "graft_histogram", mapEnc, TTLConfig.NONE)
      override def handleInputRows(
          key: G, rows: Iterator[V], tv: TimerValues): Iterator[(G, Double, Long)] = {
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        if (state.exists()) m ++= state.get()
        val touched = scala.collection.mutable.SortedSet.empty[Double]
        rows.foreach { v =>
          val x0 = valueFn(v)
          // -0.0 and 0.0 are ONE bin: batch-side groupBy (Spark and the
          // DuckDB oracle) normalizes negative zero, but Double.toString
          // distinguishes them ("-0.0" vs "0.0") — without this an input
          // stream containing -0.0 would split the bin and break the
          // documented hash-equivalence with Corpus.ksDriftFromCounts.
          // NaN stays a single bin (toString is the stable "NaN").
          val x = if (x0 == 0.0) 0.0 else x0
          val k = java.lang.Double.toString(x)
          m.update(k, m.getOrElse(k, 0L) + 1L)
          touched += x
        }
        state.update(m.toMap)
        touched.iterator.map(x => (key, x, m(java.lang.Double.toString(x))))
      }
    }
    ds.groupByKey(groupFn)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())
  }

  /** Per-group BOUNDED dyadic histogram on `transformWithState` — the
    * streaming face of the quantile seed aggregate
    * ([[graft.plans.DyadicHistAgg]]): state per group is ONE
    * [[graft.plans.DyadicHist]] (≤ `maxCells` cells of power-of-two
    * width, EXACT counts and exact per-cell min/max — see its scaladoc
    * for why every operation is lossless), which is a sufficient
    * statistic for exact rank selection. Where [[histogramTWS]]'s
    * value→count map grows with DISTINCT VALUES (right for drift tests
    * over bounded domains), this state is O(maxCells) over any domain —
    * the shape a quantile monitor over an unbounded continuous stream
    * needs at 100 TB.
    *
    * Emission per micro-batch: the touched group's WHOLE current
    * histogram (≤ maxCells rows, ascending cell order) stamped with a
    * monotone `emit_seq` — the q192 snapshot-replay convention:
    * `max(emit_seq)` per group over the sink IS the exact final state.
    * [[graft.curation.Quantiles.walkCells]] +
    * [[graft.curation.Quantiles.refineAndResolve]] turn that snapshot
    * into exact type-1 quantiles (the q196 gate shares q103's oracle
    * verbatim).
    *
    * Output: `(group, emit_seq, cell, cnt, cmin, cmax)`.
    */
  def dyadicHistTWS[V: Encoder, G: Encoder](
      groupFn: V => G,
      valueFn: V => Double,
      maxCells: Int
  )(implicit outEnc: Encoder[(G, Long, Long, Long, Double, Double)])
      : Dataset[V] => Dataset[(G, Long, Long, Long, Double, Double)] = {
    ds =>
    // Avro state-store encoding: STRING map keys (the histogramTWS
    // contract) — the Long cell index rides as its decimal string
    val stateEnc: Encoder[(Long, Int, Map[String, (Long, Double, Double)])] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Int, Map[String, (Long, Double, Double)])]()
        .resolveAndBind()
    val processor = new StatefulProcessor[G, V, (G, Long, Long, Long, Double, Double)] {
      @transient private var state: ValueState[(Long, Int, Map[String, (Long, Double, Double)])] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[(Long, Int, Map[String, (Long, Double, Double)])](
          "graft_dyadic_hist", stateEnc, TTLConfig.NONE)
      override def handleInputRows(
          key: G, rows: Iterator[V], tv: TimerValues)
          : Iterator[(G, Long, Long, Long, Double, Double)] = {
        val h = new graft.plans.DyadicHist(maxCells)
        val seq0 =
          if (state.exists()) {
            val (seq, scale, cells) = state.get()
            if (cells.nonEmpty)
              h.adopt(scale, cells.iterator.map { case (k, (cnt, lo, hi)) =>
                (k.toLong, new graft.plans.DyadicHist.Cell(cnt, lo, hi))
              }.toArray)
            seq
          } else 0L
        rows.foreach(v => h.insert(valueFn(v)))
        val snapshot = h.sortedCells()
        val seq = seq0 + 1
        state.update((seq, h.scale,
          snapshot.iterator.map { case (idx, c) =>
            idx.toString -> ((c.cnt, c.cmin, c.cmax))
          }.toMap))
        snapshot.iterator.map { case (idx, c) => (key, seq, idx, c.cnt, c.cmin, c.cmax) }
      }
    }
    ds.groupByKey(groupFn)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())
  }
}
