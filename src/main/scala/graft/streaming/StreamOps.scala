package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders,
  KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference is pure batch (SURVEY
  * §2.7) — its closest analogue is the page-resume ledger, which IS the
  * file-source checkpoint pattern — but the rebuilt engine exposes the
  * streaming forms of its aggregations as first-class operators. Every
  * transform here works identically on a batch DataFrame (Spark's
  * unified API), which is how the batch oracle queries q28/q29 validate
  * the same plans the stream runs.
  *
  * Scale notes: state stores are per-key; watermarks bound state size
  * (no watermark = unbounded state = eventual OOM at 100 TB/day). Keys
  * are hash-partitioned across executors — the same salting rules apply
  * to skewed keys as in batch.
  *
  * Keyed state has two lifecycles, one per time domain, each owned by
  * one private driver; an operator supplies only its fold:
  *   - [[idleFold]] (arrival time; state expires after a processing-time
  *     idle timeout): [[runningTotals]], [[debounceStream]],
  *     [[funnelStream]], [[hllDistinctStream]], [[bloomDedupStream]],
  *     [[countMinStream]], [[zscoreStream]], [[ewmaStream]],
  *     [[topKStream]];
  *   - [[dayFold]] (event time; state per (group, UTC day), sealed once
  *     the watermark passes the day's end): [[zscoreStreamByDay]],
  *     [[countMinStreamByDay]], [[topKStreamByDay]],
  *     [[hllDistinctStreamByDay]].
  * [[ewmaStreamByDay]], [[debounceStreamEventTime]] and
  * [[funnelStreamEventTime]] buffer pending rows and arm their own
  * event-time wake-ups.
  */
object StreamOps {

  /** Tumbling-window counts+sums with a watermark bounding late data. */
  def tumblingAgg(events: DataFrame, tsCol: String, watermark: String,
      windowDur: String, keyCol: String, valueCol: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col(keyCol), col("n"), col("total"))

  /** Session windows with a fixed inactivity gap. */
  def sessionAgg(events: DataFrame, tsCol: String, watermark: String,
      gap: String, keyCol: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming dedup: exactly-once per key within the watermark horizon
    * (the streaming form of Dedup.exact — state = one entry per key,
    * expired by the watermark). */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  // --- the two keyed-state lifecycles (flatMapGroupsWithState) ---
  //
  // Spark clears a group's registered timeout on EVERY invocation of the
  // state function, so an invocation that does not set it again cancels
  // the timer and the group's state never expires. Both drivers therefore
  // re-arm on every path that leaves state in place — including a batch
  // with no observation (only null values), where an early return that
  // skipped the re-arm once pinned state forever. The other half of the
  // rule bounds key cardinality: a batch with no observation for a key
  // WITHOUT state writes no state and arms no timer, so a junk-key
  // firehose allocates nothing (unbounded key cardinality with untimed
  // state is an eventual OOM).

  /** An operator's fold: given the key, the batch's rows and the prior
    * state, return Some((new state, rows to emit)), or None when the
    * batch holds no observation (no state is written, nothing is
    * emitted). The fold must consume `rows` before it returns; the
    * emitted iterator may be lazy. */
  private[streaming] type Fold[K, V, S, U] =
    (K, Iterator[V], Option[S]) => Option[(S, Iterator[U])]

  /** Arrival-time lifecycle: ProcessingTimeTimeout when `idleTimeout` is
    * set, NoTimeout otherwise; see [[idleFoldStep]]. */
  private def idleFold[K, V, S: Encoder, U: Encoder](
      grouped: KeyValueGroupedDataset[K, V], idleTimeout: Option[String])(
      fold: Fold[K, V, S, U]): Dataset[U] = {
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    grouped.flatMapGroupsWithState[S, U](OutputMode.Append, timeoutConf)(
      idleFoldStep(idleTimeout, fold))
  }

  /** [[idleFold]]'s per-invocation function: a timed-out group is
    * removed and emits nothing; Some updates the state and arms
    * now + idleTimeout; None re-arms only a group that already holds
    * state. */
  private[streaming] def idleFoldStep[K, V, S, U](idleTimeout: Option[String],
      fold: Fold[K, V, S, U]): (K, Iterator[V], GroupState[S]) => Iterator[U] =
    (key, rows, state) =>
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else fold(key, rows, state.getOption) match {
        case Some((next, out)) =>
          state.update(next)
          idleTimeout.foreach(state.setTimeoutDuration)
          out
        case None =>
          if (state.exists) idleTimeout.foreach(state.setTimeoutDuration)
          Iterator.empty
      }

  /** Event-time lifecycle, keyed on (group, UTC day of `ts`): rows with
    * a null `ts` are dropped, the input is watermarked by `lateness`
    * (it must carry a `ts` timestamp column), and each (group, day) is
    * sealed by an EventTimeTimeout; see [[dayFoldStep]]. The fold's key
    * is (group, ISO day string). */
  private def dayFold[V, S: Encoder, U: Encoder](rows: Dataset[V],
      lateness: String)(groupAndTs: V => (String, java.sql.Timestamp))(
      fold: Fold[(String, String), V, S, U]): Dataset[U] = {
    implicit val dayKey: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    rows
      .where(col("ts").isNotNull)
      .withWatermark("ts", lateness)
      .groupByKey { v => val (g, ts) = groupAndTs(v); (g, utcDayIdx(ts)) }
      .flatMapGroupsWithState[S, U](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(dayFoldStep(fold))
  }

  /** [[dayFold]]'s per-invocation function. A timed-out day is removed.
    * Sealed-day guard: flatMapGroupsWithState does NOT pre-filter late
    * input the way windowed aggregations do, so an over-late row (day
    * end already behind the watermark) arriving after the timeout
    * removed the day's state would seed FRESH state for a sealed day
    * and emit nonsense — a day with no state and a watermark at or past
    * its end drops its rows unfolded. Some updates the state and arms
    * the seal at the day's end ([[armDaySeal]]: the watermark already
    * encodes the lateness allowance); None re-arms only a day that
    * already holds state. */
  private[streaming] def dayFoldStep[V, S, U](fold: Fold[(String, String), V, S, U])
      : ((String, Long), Iterator[V], GroupState[S]) => Iterator[U] =
    (key, rows, state) => {
      val (group, dayIdx) = key
      val dayEndMs = (dayIdx + 1) * 86400000L
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else if (!state.exists && state.getCurrentWatermarkMs() >= dayEndMs) {
        Iterator.empty
      } else fold((group, utcDayString(dayIdx)), rows, state.getOption) match {
        case Some((next, out)) =>
          state.update(next)
          armDaySeal(state, dayEndMs)
          out
        case None =>
          if (state.exists) armDaySeal(state, dayEndMs)
          Iterator.empty
      }
    }

  private def utcDayIdx(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 86400000L)
  private def utcDayString(dayIdx: Long): String =
    java.time.LocalDate.ofEpochDay(dayIdx).toString

  /** Re-arm a (group, day) seal. The day's end is the natural seal
    * time, but the clamp is load-bearing: flatMapGroupsWithState
    * admits late rows against the PREVIOUS batch's watermark while
    * setTimeoutTimestamp validates against the CURRENT one. A late
    * row for a still-open day, arriving in the very batch where the
    * watermark jumps past that day's end (the backfill scenario these
    * operators exist for), passes the filter and folds — then a bare
    * setTimeoutTimestamp(dayEndMs) throws IllegalArgumentException
    * and kills the query, deterministically again on restart. Clamped
    * just past the current watermark, the seal instead fires on the
    * next watermark advance. */
  private[streaming] def armDaySeal(state: GroupState[_], dayEndMs: Long): Unit =
    state.setTimeoutTimestamp(
      math.max(dayEndMs, state.getCurrentWatermarkMs() + 1L))

  // --- custom state: running per-key aggregate via flatMapGroupsWithState ---

  final case class KeyedEvent(user_id: Long, value: Double)
  final case class RunningTotal(user_id: Long, n: Long, total: Double)

  /** Custom stateful op: emits the updated running (count, sum) per key
    * on every batch — the mapGroupsWithState pattern the reference's
    * "recompute everything" silver stage would become on a stream.
    * State for keys idle longer than `idleTimeout` is dropped. */
  def runningTotals(spark: SparkSession, events: Dataset[KeyedEvent],
      idleTimeout: Option[String] = Some("1 hour")): Dataset[RunningTotal] = {
    import spark.implicits._
    idleFold(events.groupByKey(_.user_id), idleTimeout) {
      (key: Long, rows: Iterator[KeyedEvent], prior: Option[RunningTotal]) =>
        val p = prior.getOrElse(RunningTotal(key, 0L, 0.0))
        var n = p.n
        var total = p.total
        rows.foreach { e => n += 1; total += e.value }
        val updated = RunningTotal(key, n, total)
        Some((updated, Iterator(updated)))
    }
  }

  final case class TypedEvent(event_id: Long, user_id: Long,
      event_type: String, ts_us: Long)
  final case class DebounceVerdict(event_id: Long, user_id: Long,
      event_type: String, gap_us: Long, kept: Boolean)

  /** Streaming twin of EventAnalytics.debounce: per-(user, type)
    * adjacent-gap repeat suppression with the last-seen timestamp as the
    * only state (one long per live key; idle keys expire). Within a
    * micro-batch, rows are walked in ts order (then id), so a single
    * ordered replay emits exactly the batch verdicts — asserted
    * stream==batch in StreamOpsSpec. Caveat shared with every
    * non-watermarked stateful op: ACROSS micro-batches the walk follows
    * arrival order; out-of-order arrivals need a watermark + reorder
    * stage upstream.
    *
    * `idleTimeout` is a ProcessingTimeTimeout — WALL-CLOCK time, while
    * `windowSeconds` is EVENT time, so no timeout value can strictly
    * bound an event-time gap: a key whose arrivals lag far behind event
    * time can expire between two events that are within the window, and
    * the repeat is then reported kept (gap −1) where batch suppresses
    * it. Batch-equivalent verdicts therefore require BOTH an idle
    * timeout that exceeds the window AND arrival keeping pace with
    * event time (the near-real-time case the operator targets). The
    * no-timeout-argument overload derives the timeout from the window
    * (2×, floor 1 h) — that removes the obvious misconfiguration
    * (timeout ≪ window), not the time-domain caveat; pass None for no
    * expiry at all when key cardinality is bounded and strict
    * equivalence matters more than state size. */
  def debounceStream(spark: SparkSession, events: Dataset[TypedEvent],
      windowSeconds: Long): Dataset[DebounceVerdict] =
    debounceStream(spark, events, windowSeconds,
      Some(s"${math.max(2 * windowSeconds, 3600L)} seconds"))

  /** See the derived-timeout overload above for the idleTimeout contract. */
  def debounceStream(spark: SparkSession, events: Dataset[TypedEvent],
      windowSeconds: Long,
      idleTimeout: Option[String]): Dataset[DebounceVerdict] = {
    import spark.implicits._
    idleFold(events.groupByKey(e => (e.user_id, e.event_type)), idleTimeout) {
      (key: (Long, String), rows: Iterator[TypedEvent], prior: Option[Long]) =>
        var prev = prior.getOrElse(Long.MinValue)
        val out = rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
          val gap = if (prev == Long.MinValue) -1L else e.ts_us - prev
          prev = e.ts_us
          DebounceVerdict(e.event_id, key._1, key._2, gap,
            gap == -1L || gap >= windowSeconds * 1000000L)
        }
        Some((prev, out.iterator))
    }
  }

  final case class FunnelState(stage: Int, lastTs: Long, deadline: Long)
  final case class FunnelProgress(user_id: Long, stage: Long, step: String,
      ts_us: Long)

  /** Streaming twin of EventAnalytics.funnel: a per-user state machine —
    * state is (highest stage reached, its event time, the funnel
    * deadline), three numbers per live user. An event advances the
    * machine when it matches the NEXT step at-or-after the current stage
    * time and inside the deadline; each advancement emits a
    * FunnelProgress row, so counting distinct users per stage downstream
    * reproduces the batch stage counts (asserted stream==batch in
    * StreamOpsSpec — the ordered greedy walk takes the first qualifying
    * event, which IS the batch min). A user whose events never include
    * the first step holds no state. Same ordering caveat as
    * [[debounceStream]]: within a micro-batch rows are walked in
    * (ts, id) order; cross-batch reordering needs an upstream
    * watermark+sort stage. Timeout contract also as in
    * [[debounceStream]], including the time-domain caveat (the timeout
    * is wall-clock, the horizon event-time): state expiring inside the
    * conversion horizon lets a user re-enter the funnel with a fresh
    * deadline, so the no-timeout-argument overload derives idleTimeout
    * from the horizon (2×, floor 1 h); None disables expiry
    * entirely. */
  def funnelStream(spark: SparkSession, events: Dataset[TypedEvent],
      steps: Seq[String], horizonHours: Int): Dataset[FunnelProgress] =
    funnelStream(spark, events, steps, horizonHours,
      Some(s"${math.max(2L * horizonHours * 3600L, 3600L)} seconds"))

  /** See the derived-timeout overload above for the idleTimeout contract. */
  def funnelStream(spark: SparkSession, events: Dataset[TypedEvent],
      steps: Seq[String], horizonHours: Int,
      idleTimeout: Option[String]): Dataset[FunnelProgress] = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    import spark.implicits._
    val horizonUs = horizonHours * 3600L * 1000000L
    idleFold(events.groupByKey(_.user_id), idleTimeout) {
      (user: Long, rows: Iterator[TypedEvent], prior: Option[FunnelState]) =>
        var st = prior.orNull
        val out = Seq.newBuilder[FunnelProgress]
        rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
          if (st == null) {
            if (e.event_type == steps.head) {
              st = FunnelState(0, e.ts_us, e.ts_us + horizonUs)
              out += FunnelProgress(user, 0L, steps.head, e.ts_us)
            }
          } else if (st.stage < steps.size - 1 &&
              e.event_type == steps(st.stage + 1) &&
              e.ts_us >= st.lastTs && e.ts_us <= st.deadline) {
            st = FunnelState(st.stage + 1, e.ts_us, st.deadline)
            out += FunnelProgress(user, st.stage.toLong, e.event_type, e.ts_us)
          }
        }
        Option(st).map(s => (s, out.result().iterator))
    }
  }

  // --- event-time twins of the walk operators (debounce, funnel) ---

  final case class StampedEvent(event_id: Long, user_id: Long,
      event_type: String, ts_us: Long, ts: java.sql.Timestamp)
  final case class DebounceEtState(lastTs: Long, releasedUs: Long,
      pending: Seq[TypedEvent])
  final case class FunnelEtState(stage: Int, stageTs: Long, deadline: Long,
      started: Boolean, releasedUs: Long, pending: Seq[TypedEvent])

  /** The ONE pending-release law shared by the event-time walk twins
    * ([[debounceStreamEventTime]], [[funnelStreamEventTime]]), so the
    * two forms cannot drift. Unlike the day-bucketed monitors (order-
    * free, day-scoped aggregates), debounce and funnel are ORDER-
    * SENSITIVE walks over a continuous series — suppression windows
    * and conversion deadlines cross day boundaries — so their event-
    * time form releases individual events in watermark order instead
    * of day buckets: admitted events buffer in state, and once the
    * watermark strictly passes an event's time (no admissible arrival
    * can precede it any more) it is released through the exact batch
    * machine in (ts, id) order. Returns (ripe-sorted, still-pending).
    * An event at EXACTLY the watermark holds — an equal-ts tie could
    * still arrive and tie-break by id. */
  private def splitRipe(prior: Seq[TypedEvent], arrivals: Seq[TypedEvent],
      wmUs: Long): (Seq[TypedEvent], Seq[TypedEvent]) = {
    val (ripe, hold) = (prior ++ arrivals).partition(_.ts_us < wmUs)
    (ripe.sortBy(e => (e.ts_us, e.event_id)), hold)
  }

  /** Arm the event-time wake for the earliest pending event: it ripens
    * when the watermark strictly passes its time. Pending events sit
    * at-or-after the current watermark by construction, but the +1
    * clamps survive the armDaySeal boundary case (an event at exactly
    * the watermark after integer ms truncation). */
  private def armEventWake(state: GroupState[_], minPendingUs: Long): Unit =
    state.setTimeoutTimestamp(math.max(minPendingUs / 1000L + 1L,
      state.getCurrentWatermarkMs() + 1L))

  private def stampEvents(spark: SparkSession, events: Dataset[TypedEvent],
      lateness: String): Dataset[StampedEvent] = {
    import spark.implicits._
    events
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .as[StampedEvent]
      .withWatermark("ts", lateness)
  }

  /** EVENT-TIME twin of [[debounceStream]]: verdicts are computed over
    * the series in EVENT order regardless of arrival order — under
    * backfill or ingestion skew the arrival-time form's suppression
    * windows smear (a late repeat can be judged against the wrong
    * predecessor); this form buffers events until the watermark passes
    * them and walks the released prefix through the identical gap
    * arithmetic, so the emitted verdicts after any batch split
    * bit-equal the batch debounce over every admitted row
    * (spec-asserted, late arrivals included). State per (user, type):
    * the last released event time plus the pending buffer — bounded by
    * the lateness horizon, NOT by history. Sealed-prefix guard (the
    * zscoreStreamByDay contract transposed from days to the released
    * prefix): an over-late event whose time the release watermark has
    * already passed would have to be inserted BEHIND verdicts already
    * emitted — it is dropped, never re-walked. The one-long lastTs
    * survives per key with no expiry (the ewmaStreamByDay retention
    * rule: bounded-cardinality keys, or recreate the query
    * periodically). */
  def debounceStreamEventTime(spark: SparkSession, events: Dataset[TypedEvent],
      windowSeconds: Long, lateness: String): Dataset[DebounceVerdict] = {
    import spark.implicits._
    val winUs = windowSeconds * 1000000L
    stampEvents(spark, events, lateness)
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebounceEtState, DebounceVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, String), rows: Iterator[StampedEvent],
            state: GroupState[DebounceEtState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption
            .getOrElse(DebounceEtState(Long.MinValue, Long.MinValue, Nil))
          val arrivals =
            rows.filter(_.ts_us >= prior.releasedUs) // sealed prefix
              .map(e => TypedEvent(e.event_id, e.user_id, e.event_type, e.ts_us))
              .toList
          val (ripe, hold) = splitRipe(prior.pending, arrivals, wmUs)
          var prev = prior.lastTs
          val out = ripe.map { e =>
            val gap = if (prev == Long.MinValue) -1L else e.ts_us - prev
            prev = e.ts_us
            DebounceVerdict(e.event_id, key._1, key._2, gap,
              gap == -1L || gap >= winUs)
          }
          state.update(DebounceEtState(prev,
            math.max(prior.releasedUs, wmUs), hold))
          if (hold.nonEmpty) armEventWake(state, hold.map(_.ts_us).min)
          out.iterator
      }
  }

  /** EVENT-TIME twin of [[funnelStream]]: the per-user stage machine
    * advances in EVENT order via the shared [[splitRipe]] release law
    * (see [[debounceStreamEventTime]] — same buffering, same sealed-
    * prefix guard, same retention rule; conversion deadlines are
    * event-time facts, so arrival skew cannot stretch or shrink a
    * funnel's horizon here). Emitted FunnelProgress rows after any
    * batch split bit-equal the batch funnel over every admitted row
    * (spec-asserted). State per user: the machine (three longs + a
    * flag) plus the horizon-bounded pending buffer. */
  def funnelStreamEventTime(spark: SparkSession, events: Dataset[TypedEvent],
      steps: Seq[String], horizonHours: Int,
      lateness: String): Dataset[FunnelProgress] = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    import spark.implicits._
    val horizonUs = horizonHours * 3600L * 1000000L
    stampEvents(spark, events, lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelEtState, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[StampedEvent],
            state: GroupState[FunnelEtState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption.getOrElse(
            FunnelEtState(0, 0L, 0L, started = false, Long.MinValue, Nil))
          val arrivals =
            rows.filter(_.ts_us >= prior.releasedUs) // sealed prefix
              .map(e => TypedEvent(e.event_id, e.user_id, e.event_type, e.ts_us))
              .toList
          val (ripe, hold) = splitRipe(prior.pending, arrivals, wmUs)
          var st = prior
          val out = Seq.newBuilder[FunnelProgress]
          ripe.foreach { e =>
            if (!st.started) {
              if (e.event_type == steps.head) {
                st = st.copy(stage = 0, stageTs = e.ts_us,
                  deadline = e.ts_us + horizonUs, started = true)
                out += FunnelProgress(user, 0L, steps.head, e.ts_us)
              }
            } else if (st.stage < steps.size - 1 &&
                e.event_type == steps(st.stage + 1) &&
                e.ts_us >= st.stageTs && e.ts_us <= st.deadline) {
              st = st.copy(stage = st.stage + 1, stageTs = e.ts_us)
              out += FunnelProgress(user, st.stage.toLong, e.event_type, e.ts_us)
            }
          }
          state.update(st.copy(releasedUs = math.max(prior.releasedUs, wmUs),
            pending = hold))
          if (hold.nonEmpty) armEventWake(state, hold.map(_.ts_us).min)
          out.result().iterator
      }
  }

  /** Stream-stream inner join with bounded state: both sides are
    * watermarked and the join condition carries a time range, so the
    * state store holds only rows inside the watermark horizon (an
    * unconstrained stream-stream join would buffer both streams
    * forever). Classic enrichment shape: match right-side events to
    * left-side events of the same key within `within` AFTER the left
    * event's timestamp. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      keyCol: String, leftTs: String, rightTs: String,
      watermark: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $within"))
  }

  /** Stream-static enrichment join: a streaming fact against a batch
    * dimension. Stateless on the stream side (no watermark needed — each
    * micro-batch joins the dim as-of execution), and the dim should be
    * broadcast-sized: Spark re-plans the join per micro-batch, so a
    * broadcast dim keeps every batch shuffle-free on the stream side —
    * the streaming twin of the q10 broadcast-dim plan. */
  def enrich(stream: DataFrame, dim: DataFrame, keyCol: String,
      joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), Seq(keyCol), joinType)

  // --- streaming approximate distinct: incremental HLL register state ---

  final case class KeyedItem(group: String, item: String)
  final case class HllState(n: Long, regs: Array[Byte])
  final case class HllGroupEstimate(group: String, n_items: Long, hll_est: Double)

  /** The ONE HLL register fold, shared by [[hllDistinctStream]] and
    * [[hllDistinctStreamByDay]] (the cmCells rule): identical arithmetic
    * to the batch hllRegisters — hp = low 52 bits of the first
    * little-endian md5 half, register = low p bits, rho = (53−p) minus
    * the bit length of the remaining bits — so the stream estimates
    * stay bit-identical to the Catalyst sketch. Null items are not
    * values (the batch hllRegisters filter, replicated: they would NPE
    * the hash and skew n_items); None when the batch holds none. */
  private def hllFold(prior: Option[HllState], items: Iterator[String],
      p: Int): Option[HllState] = {
    val batch = items.filter(_ != null).toArray
    if (batch.isEmpty) None
    else {
      val m = 1 << p
      val rhoMax = 53 - p
      val regs = prior.map(_.regs.clone()).getOrElse(new Array[Byte](m))
      batch.foreach { item =>
        val hp = graft.functions.Md5Mix.halves(
          org.apache.spark.unsafe.types.UTF8String.fromString(item))(0) &
          ((1L << 52) - 1)
        val reg = (hp & (m - 1)).toInt
        val w = hp >>> p
        val rho =
          if (w == 0L) rhoMax
          else rhoMax - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > regs(reg)) regs(reg) = rho.toByte
      }
      Some(HllState(prior.fold(0L)(_.n) + batch.length, regs))
    }
  }

  /** Streaming per-group approximate distinct — the incremental form of
    * ops/Sketches.hllRegisters: each group keeps a DENSE m-byte register
    * array in state (constant size regardless of stream length — the
    * reason sketches exist) and folds every arriving item's
    * (register, rho) in with max(). Because the fold IS the register
    * merge law (max is associative/commutative/idempotent), the
    * estimate emitted after ANY prefix of batches is bit-identical to
    * the batch [[graft.ops.Sketches.hllDistinct]] over the same rows —
    * asserted in StreamOpsSpec, which is what pins this JVM-side
    * replication of the hash/estimate arithmetic to the Catalyst one.
    * Emits the updated (group, n_items, estimate) each batch; a
    * null-only batch emits nothing. */
  def hllDistinctStream(spark: SparkSession, items: Dataset[KeyedItem],
      p: Int = 9,
      idleTimeout: Option[String] = Some("1 hour")): Dataset[HllGroupEstimate] = {
    import spark.implicits._
    idleFold(items.groupByKey(_.group), idleTimeout) {
      (group: String, rows: Iterator[KeyedItem], prior: Option[HllState]) =>
        hllFold(prior, rows.map(_.item), p).map { st =>
          (st, Iterator(HllGroupEstimate(group, st.n, estimateFromRegs(st.regs, p))))
        }
    }
  }

  final case class BloomState(words: Array[Long])
  final case class DedupVerdict(group: String, item: String, kept: Boolean)

  /** Streaming dedup with CONSTANT state — the approximate counterpart
    * of [[dedupStream]], whose exact state grows with distinct keys
    * (watermark-bounded, but a key universe that never repeats within
    * the watermark still accumulates until expiry). Here each group
    * keeps a fixed numBits-bit Bloom bitmap: an arriving item is kept
    * iff not all of its k positions are set, then its positions are
    * set. One-sided like the batch filter: a kept row is GENUINELY
    * first-seen within the group (no false drops of duplicates —
    * duplicates always hit their own bits); a novel row can be
    * spuriously dropped at the filter's false-positive rate as the
    * bitmap fills — the knob is numBits, state is numBits/8 bytes per
    * group until it idles out. Hash positions replicate
    * ops/Sketches.bloomBits' Kirsch–Mitzenmacher construction (same
    * md5 halves), so a batch-built filter and the stream agree on
    * membership bit for bit. Null items are not observations. */
  def bloomDedupStream(spark: SparkSession, items: Dataset[KeyedItem],
      numHashes: Int = 4, numBits: Int = 1 << 16,
      idleTimeout: Option[String] = Some("1 hour")): Dataset[DedupVerdict] = {
    import spark.implicits._
    require(numHashes >= 1 && numHashes <= 8,
      s"numHashes must be in [1,8], got $numHashes")
    require(numBits >= 64 && numBits <= (1 << 22) && (numBits & (numBits - 1)) == 0,
      s"numBits must be a power of two in [64, 2^22], got $numBits")
    idleFold(items.groupByKey(_.group), idleTimeout) {
      (group: String, rows: Iterator[KeyedItem], prior: Option[BloomState]) =>
        val batch = rows.map(_.item).filter(_ != null).toVector
        if (batch.isEmpty) None
        else {
          val words = prior.map(_.words.clone()).getOrElse(new Array[Long](numBits / 64))
          val mask26 = (1L << 26) - 1
          val out = batch.map { item =>
            // Sketches.kmHalves / cmCell, replicated: position_r =
            // (a + r·b) & (numBits−1) from one md5 per item
            val h = graft.functions.Md5Mix.halves(
              org.apache.spark.unsafe.types.UTF8String.fromString(item))(0)
            val a = h & mask26
            val b = (h >>> 26) & mask26
            var r = 0
            var allSet = true
            while (r < numHashes) {
              val pos = (a + r * b) & (numBits - 1)
              val w = (pos >> 6).toInt
              val bit = 1L << (pos & 63)
              if ((words(w) & bit) == 0L) { allSet = false; words(w) |= bit }
              r += 1
            }
            DedupVerdict(group, item, kept = !allSet)
          }
          Some((BloomState(words), out.iterator))
        }
    }
  }

  final case class CmState(n: Long, counters: Array[Long])
  final case class CmKeyEstimate(group: String, item: String,
      n_items: Long, est_n: Long)

  /** The ONE count-min cell derivation, shared by every CMS form here
    * (arrival-time fold, probe, and the event-time day variant) — a
    * drifted copy would silently break the batch bit-compat law. Same
    * math as Sketches.kmHalves / cmCell, flattened to counter indices. */
  private def cmCells(item: String, depth: Int, width: Int): Array[Int] = {
    val mask26 = (1L << 26) - 1
    val h = graft.functions.Md5Mix.halves(
      org.apache.spark.unsafe.types.UTF8String.fromString(item))(0)
    val a = h & mask26
    val b = (h >>> 26) & mask26
    Array.tabulate(depth)(r =>
      r * width + ((a + r * b) & (width - 1)).toInt)
  }

  /** The ONE count-min fold, shared by [[countMinStream]] and
    * [[countMinStreamByDay]]: every non-null item adds one to its
    * [[cmCells]]; null items are not observations (None when the batch
    * holds none). Returns the new state and, for each distinct item of
    * the batch in arrival order (deterministic emission order), its
    * estimate over the counters AFTER the whole batch folds — every
    * emission reflects the full prefix. */
  private def cmFold(prior: Option[CmState], items: Iterator[String],
      depth: Int, width: Int): Option[(CmState, Iterator[(String, Long)])] = {
    val batch = items.filter(_ != null).toArray
    if (batch.isEmpty) None
    else {
      val counters = prior.map(_.counters.clone()).getOrElse(new Array[Long](depth * width))
      batch.foreach(item => cmCells(item, depth, width).foreach(counters(_) += 1))
      Some((CmState(prior.fold(0L)(_.n) + batch.length, counters),
        batch.distinct.iterator.map(item =>
          item -> cmCells(item, depth, width).map(counters).min)))
    }
  }

  /** Streaming count-min: live per-group heavy-hitter frequency
    * tracking with CONSTANT state — the streaming twin of the batch
    * q62/q72 sketches (ops/Sketches.countMinCounters), folding each
    * arriving item into a fixed depth×width counter table per group
    * (depth·width·8 bytes, 32 KB at the defaults, regardless of key
    * cardinality). After folding a batch it emits the CURRENT
    * estimate for each distinct item seen in that batch — one-sided
    * (est ≥ true count, collisions only inflate), exactly the batch
    * guarantee running live.
    *
    * Cell positions replicate Sketches' Kirsch–Mitzenmacher
    * construction from the same md5 halves (a + r·b over the first
    * little-endian half), so after any batch prefix the stream's
    * estimate for a key equals ops/Sketches.countMinEstimate probed
    * against a batch sketch of the same rows, bit for bit — the
    * merge-law bridge between the live and offline forms, asserted in
    * StreamOpsSpec. */
  def countMinStream(spark: SparkSession, items: Dataset[KeyedItem],
      depth: Int = 4, width: Int = 1024,
      idleTimeout: Option[String] = Some("1 hour")): Dataset[CmKeyEstimate] = {
    import spark.implicits._
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8], got $depth")
    require(width >= 2 && width <= (1 << 26) && (width & (width - 1)) == 0,
      s"width must be a power of two in [2, 2^26], got $width")
    idleFold(items.groupByKey(_.group), idleTimeout) {
      (group: String, rows: Iterator[KeyedItem], prior: Option[CmState]) =>
        cmFold(prior, rows.map(_.item), depth, width).map { case (st, ests) =>
          (st, ests.map { case (item, est) => CmKeyEstimate(group, item, st.n, est) })
        }
    }
  }

  final case class ZscoreState(n: Long, s: Long, ss: Long)
  final case class ZscoreBatch(group: String, n: Long, sum: Long,
      sumsq: Long, n_anomalies: Long)

  /** The ONE z-score fold, shared by [[zscoreStream]] and
    * [[zscoreStreamByDay]]: the batch's non-null values fold into the
    * moments first, then each is tested against the post-fold moments
    * with the exact integer inequality (v·n − s)² > k²·(n·ss − s²).
    * Returns the new moments and the flagged count; None when the batch
    * holds no value. */
  private def zscoreFold(prior: Option[ZscoreState],
      values: Iterator[java.lang.Long], k2: Long): Option[(ZscoreState, Long)] = {
    val batch = values.filter(_ != null).map(_.longValue()).toArray
    if (batch.isEmpty) None
    else {
      val st = prior.getOrElse(ZscoreState(0L, 0L, 0L))
      var n = st.n; var s = st.s; var ss = st.ss
      batch.foreach { v => n += 1; s += v; ss += v * v }
      val rhs = k2 * (n * ss - s * s)
      val flagged = batch.count { v =>
        val dev = v * n - s
        dev * dev > rhs
      }
      Some((ZscoreState(n, s, ss), flagged.toLong))
    }
  }

  /** Streaming σ-anomaly monitor — the live twin of
    * EventAnalytics.anomalousDays, same exact integer inequality
    * (v·n − s)² > k²·(n·ss − s²), with (n, s, ss) the running moments
    * of the group's WHOLE prefix (state law: after any batch prefix
    * the moments bit-equal the batch aggregate over the same rows —
    * asserted in spec). Values fold first, then every value of the
    * incoming batch is tested against the post-fold moments, exactly
    * how the batch op scores a day against statistics that include it.
    * Constant state: three longs per group. Emits one summary row per
    * (group, batch with a value): the moments plus how many of the
    * batch's values broke k·σ. Overflow bound: Σv² < 2⁶³ per group (the
    * anomalousDays bucket rule — pre-scale coarse values). */
  def zscoreStream(spark: SparkSession, values: Dataset[KeyedValue],
      sigmas: Int = 2,
      idleTimeout: Option[String] = Some("1 hour")): Dataset[ZscoreBatch] = {
    import spark.implicits._
    require(sigmas >= 1, s"sigmas must be >= 1, got $sigmas")
    val k2 = sigmas.toLong * sigmas
    idleFold(values.groupByKey(_.group), idleTimeout) {
      (group: String, rows: Iterator[KeyedValue], prior: Option[ZscoreState]) =>
        zscoreFold(prior, rows.map(_.value), k2).map { case (st, flagged) =>
          (st, Iterator(ZscoreBatch(group, st.n, st.s, st.ss, flagged)))
        }
    }
  }
  final case class KeyedValue(group: String, value: java.lang.Long)

  final case class EwmaState(t: Long, recent: Array[Long])
  final case class EwmaPoint(group: String, t: Long, value: Long, ewma: Long)

  /** Push one value onto the ≤16-long recency window (recent(0) is the
    * newest) and return the new window with its smoothed value: the
    * batch op's lag(value, j) · 2^(15−j) ladder, floored by >> 16 — j
    * indexes recency directly. Shared by [[ewmaStream]] and
    * [[ewmaStreamByDay]]. */
  private def ewmaPush(recent: Array[Long], v: Long): (Array[Long], Long) = {
    val next = (v +: recent).take(16)
    var acc = 0L
    var j = 0
    while (j < next.length) {
      acc += next(j) * (1L << (15 - j)); j += 1
    }
    (next, acc >> 16)
  }

  /** Streaming exact EWMA (α = 1/2, window 16) — the live twin of
    * EventAnalytics.ewmaSmooth: same power-of-two weight ladder, same
    * arithmetic >> 16 floor, so feeding a key's series through any
    * batch split yields BIT-IDENTICAL smoothed points to the batch
    * window over the completed series (spec-asserted). Values smooth in
    * ARRIVAL order within each batch (the op's order contract — q88's
    * batch twin orders by day; feed the stream the same order).
    * Constant state: at most 16 longs per group (the trailing window);
    * null values are not observations. */
  def ewmaStream(spark: SparkSession, values: Dataset[KeyedValue],
      idleTimeout: Option[String] = Some("1 hour")): Dataset[EwmaPoint] = {
    import spark.implicits._
    idleFold(values.groupByKey(_.group), idleTimeout) {
      (group: String, rows: Iterator[KeyedValue], prior: Option[EwmaState]) =>
        val batch = rows.filter(_.value != null).map(_.value.longValue()).toArray
        if (batch.isEmpty) None
        else {
          val st = prior.getOrElse(EwmaState(0L, Array.empty[Long]))
          var recent = st.recent
          var t = st.t
          val out = batch.map { v =>
            val (next, ewma) = ewmaPush(recent, v)
            recent = next
            t += 1
            EwmaPoint(group, t, v, ewma)
          }
          Some((EwmaState(t, recent), out.iterator))
        }
    }
  }

  final case class TimedValue(group: String, ts: java.sql.Timestamp,
      value: java.lang.Long)
  final case class ZscoreDayBatch(group: String, day: String, n: Long,
      sum: Long, sumsq: Long, n_anomalies: Long)

  /** EVENT-TIME twin of [[zscoreStream]]: moments keyed on
    * (group, event-time UTC day) with a watermark, so a late event
    * folds into the day it HAPPENED in — not the day it arrived in,
    * which is what the processing-time form would charge at real
    * ingestion skew. State: three longs per (group, open day), sealed
    * once the watermark passes the day's end (bounded by groups × days
    * inside the lateness horizon, not by history). Emits the day's
    * post-fold moments each batch the day receives data — the monotone
    * n is the marker for selecting a day's current moments from an
    * Append sink (the ZscoreBatch convention), and the final emission
    * for a day bit-equals the batch aggregate over every row the
    * watermark admitted (spec-asserted, late arrivals included).
    * Over-late rows for a sealed day are dropped; within the horizon,
    * late rows fold normally. */
  def zscoreStreamByDay(spark: SparkSession, values: Dataset[TimedValue],
      lateness: String, sigmas: Int = 2): Dataset[ZscoreDayBatch] = {
    import spark.implicits._
    require(sigmas >= 1, s"sigmas must be >= 1, got $sigmas")
    val k2 = sigmas.toLong * sigmas
    dayFold(values, lateness)(v => (v.group, v.ts)) {
      (key: (String, String), rows: Iterator[TimedValue], prior: Option[ZscoreState]) =>
        zscoreFold(prior, rows.map(_.value), k2).map { case (st, flagged) =>
          (st, Iterator(ZscoreDayBatch(key._1, key._2, st.n, st.s, st.ss, flagged)))
        }
    }
  }

  final case class EwmaDayState(t: Long, recent: Array[Long],
      pending: Map[Long, Long])
  final case class EwmaDayPoint(group: String, day: String, t: Long,
      value: Long, ewma: Long)

  /** EVENT-TIME twin of [[ewmaStream]]: per-group DAILY totals smoothed
    * in event-time day order. EWMA is order-sensitive, so unlike the
    * z-score (an order-free sum) the stream cannot fold a value the
    * moment it arrives: a day's total is complete — and its position in
    * the series known — only once the watermark passes the day's end.
    * State per group: the open days' running totals (pending, bounded
    * by the lateness horizon) plus the ≤16-long trailing ladder over
    * CLOSED days. Each invocation folds the batch into pending, then
    * closes every pending day the watermark has passed IN DAY ORDER,
    * pushing its total through the q88 power-of-two ladder and emitting
    * the smoothed point. Days with no events are absent, exactly like
    * the batch twin's daily pre-aggregate (gap days are not zero
    * slots). The emitted series after any batch split bit-equals
    * ewmaSmooth over the same (group, day) totals (spec-asserted with
    * late arrivals). Over-late rows for an already-closed day are
    * dropped (the [[dayFoldStep]] sealed-day guard — folding them
    * would change history the ladder already consumed).
    *
    * The group's state has no idle timeout: after all pending days
    * close it is the 16-long ladder, constant per group. Callers with
    * unbounded group churn should recreate the query periodically or
    * add an explicit retention sweep. */
  def ewmaStreamByDay(spark: SparkSession, values: Dataset[TimedValue],
      lateness: String): Dataset[EwmaDayPoint] = {
    import spark.implicits._
    values
      .where(col("ts").isNotNull)
      .withWatermark("ts", lateness)
      .groupByKey(_.group)
      .flatMapGroupsWithState[EwmaDayState, EwmaDayPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (group: String, rows: Iterator[TimedValue],
            state: GroupState[EwmaDayState]) =>
          val prior = state.getOption
            .getOrElse(EwmaDayState(0L, Array.empty[Long], Map.empty))
          val wm = state.getCurrentWatermarkMs()
          // fold the batch into pending day totals; a day whose end the
          // watermark already passed is sealed (its point may already
          // be emitted) — drop, never reopen
          var pending = prior.pending
          if (!state.hasTimedOut) {
            rows.filter(_.value != null).foreach { v =>
              val d = utcDayIdx(v.ts)
              if ((d + 1) * 86400000L > wm)
                pending = pending.updated(d, pending.getOrElse(d, 0L) + v.value.longValue())
            }
          }
          // close ripe days in day order through the ladder
          val (ripe, open) = pending.partition { case (d, _) =>
            (d + 1) * 86400000L <= wm
          }
          var recent = prior.recent
          var t = prior.t
          val out = ripe.toSeq.sortBy(_._1).map { case (d, total) =>
            val (next, ewma) = ewmaPush(recent, total)
            recent = next
            t += 1
            EwmaDayPoint(group, utcDayString(d), t, total, ewma)
          }
          state.update(EwmaDayState(t, recent, open))
          // wake when the earliest open day becomes ripe; with no open
          // days the ladder rests (constant 16 longs) until new data.
          // No armDaySeal clamp needed: `open` holds only days whose
          // end is strictly past the CURRENT watermark (the partition
          // above uses this batch's wm, not the admission filter's)
          if (open.nonEmpty)
            state.setTimeoutTimestamp((open.keys.min + 1) * 86400000L)
          out.iterator
      }
  }

  final case class KeyedScore(group: String, item: String, score: java.lang.Long)
  final case class TopKState(n: Long, entries: Array[(String, Long)])

  /** The ONE leaderboard ordering (score desc, item asc), shared by the
    * arrival-time and event-time top-k forms so tie-breaks can never
    * drift. Score desc via Ordering.Long.reverse, NOT negation: -score
    * overflows at Long.MinValue (-MinValue == MinValue) and would sort
    * the worst score to rank 1. */
  private val leaderboardOrdering: Ordering[(String, Long)] =
    Ordering.by[(String, Long), (Long, String)] {
      case (item, score) => (score, item)
    }(Ordering.Tuple2(Ordering.Long.reverse, Ordering.String))
  final case class TopKEntry(group: String, n: Long, rank: Long, item: String,
      score: Long)

  /** The ONE top-k fold, shared by [[topKStream]] and
    * [[topKStreamByDay]]: per-item max across the prior entries and the
    * batch's (item, score) pairs, re-trimmed to k under
    * [[leaderboardOrdering]]; n counts the observations. Rows with a
    * null item or score are not observations (None when the batch
    * holds none). */
  private def topKFold(prior: Option[TopKState],
      scores: Iterator[(String, java.lang.Long)], k: Int): Option[TopKState] = {
    val batch = scores.collect {
      case (item, score) if item != null && score != null => item -> score.longValue()
    }.toArray
    if (batch.isEmpty) None
    else {
      val st = prior.getOrElse(TopKState(0L, Array.empty))
      val merged = (st.entries ++ batch)
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toArray
        .sorted(leaderboardOrdering).take(k)
      Some(TopKState(st.n + batch.length, merged))
    }
  }

  /** Streaming exact top-k leaderboard per group: constant state of at
    * most k (item, score) entries, ordered (score desc, item asc).
    * After any prefix the emission equals the batch top-k over the
    * same observations PROVIDED each item carries at most one score
    * per key (the leaderboard contract — final scores, not deltas); a
    * re-observed item updates to max(old, new) while it remains in
    * the kept set, but a score evicted earlier is gone — constant
    * state cannot resurrect it (documented; feed per-item maxima for
    * exactness under duplicates). Emits the FULL current leaderboard
    * each batch a group receives data (≤ k rows, Append-safe), each
    * row carrying the monotone observation count `n` so an Append
    * sink's consumers can select the CURRENT leaderboard
    * (WHERE n = max(n) per group) — the ZscoreBatch/EwmaPoint marker
    * convention. Null items/scores are not observations. */
  def topKStream(spark: SparkSession, scores: Dataset[KeyedScore], k: Int,
      idleTimeout: Option[String] = Some("1 hour")): Dataset[TopKEntry] = {
    import spark.implicits._
    require(k >= 1 && k <= 10000, s"k must be in [1, 10000], got $k")
    idleFold(scores.groupByKey(_.group), idleTimeout) {
      (group: String, rows: Iterator[KeyedScore], prior: Option[TopKState]) =>
        topKFold(prior, rows.map(r => (r.item, r.score)), k).map { st =>
          (st, st.entries.iterator.zipWithIndex.map { case ((item, score), i) =>
            TopKEntry(group, st.n, (i + 1).toLong, item, score)
          })
        }
    }
  }

  final case class TimedItem(group: String, ts: java.sql.Timestamp,
      item: String)
  final case class CmDayEstimate(group: String, day: String, item: String,
      n: Long, estimate: Long)

  /** EVENT-TIME twin of [[countMinStream]]: one count-min sketch per
    * (group, event-time UTC day), watermarked, so a late event's count
    * lands in the day it HAPPENED in — the form a daily traffic /
    * abuse counter actually wants, where the arrival-time sketch would
    * smear a backfill across the wrong days. State: depth×width longs
    * per (group, open day), sealed once the watermark passes the day's
    * end — bounded by groups × days inside the lateness horizon, NOT by
    * history (the arrival-time form's state is bounded only by its idle
    * timeout). Emits (day, item, post-fold estimate) for each distinct
    * item of the batch, with the day's monotone n as the currency marker
    * (the ZscoreDayBatch convention: a day's CURRENT estimates are its
    * max-n emission). Bit-compat law, spec-asserted: a day's final
    * emission equals the batch count-min over every row the watermark
    * admitted for that day — same cells ([[cmCells]]), same counters,
    * late arrivals included. Over-late rows for a sealed day are
    * dropped; null items are not observations. */
  def countMinStreamByDay(spark: SparkSession, items: Dataset[TimedItem],
      lateness: String, depth: Int = 4,
      width: Int = 1024): Dataset[CmDayEstimate] = {
    import spark.implicits._
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8], got $depth")
    require(width >= 2 && width <= (1 << 26) && (width & (width - 1)) == 0,
      s"width must be a power of two in [2, 2^26], got $width")
    dayFold(items, lateness)(it => (it.group, it.ts)) {
      (key: (String, String), rows: Iterator[TimedItem], prior: Option[CmState]) =>
        cmFold(prior, rows.map(_.item), depth, width).map { case (st, ests) =>
          (st, ests.map { case (item, est) =>
            CmDayEstimate(key._1, key._2, item, st.n, est)
          })
        }
    }
  }

  final case class TimedScore(group: String, ts: java.sql.Timestamp,
      item: String, score: java.lang.Long)
  final case class TopKDayEntry(group: String, day: String, n: Long,
      rank: Long, item: String, score: Long)

  /** EVENT-TIME twin of [[topKStream]]: one exact top-k leaderboard per
    * (group, event-time UTC day), watermarked — the daily-leaderboard
    * shape (top items of THE day, late data landing in its own day)
    * rather than the all-time arrival-order board. Same leaderboard
    * contract as the arrival-time form: per-item max on re-observation
    * while the item remains kept, constant ≤k-entry state per open day,
    * full current board emitted each batch the day receives data, the
    * monotone n selecting the day's current board from an Append sink.
    * Bit-compat law, spec-asserted: a day's final board equals the
    * batch top-k (score desc, item asc) over its watermark-admitted
    * per-item maxima. Over-late rows for a sealed day are dropped. */
  def topKStreamByDay(spark: SparkSession, scores: Dataset[TimedScore],
      k: Int, lateness: String): Dataset[TopKDayEntry] = {
    import spark.implicits._
    require(k >= 1 && k <= 10000, s"k must be in [1, 10000], got $k")
    dayFold(scores, lateness)(s => (s.group, s.ts)) {
      (key: (String, String), rows: Iterator[TimedScore], prior: Option[TopKState]) =>
        topKFold(prior, rows.map(r => (r.item, r.score)), k).map { st =>
          (st, st.entries.iterator.zipWithIndex.map { case ((item, score), i) =>
            TopKDayEntry(key._1, key._2, st.n, (i + 1).toLong, item, score)
          })
        }
    }
  }

  final case class HllDayEstimate(group: String, day: String,
      n_items: Long, hll_est: Double)

  /** EVENT-TIME twin of [[hllDistinctStream]]: one HLL register array
    * per (group, event-time UTC day), watermarked — live DAILY distinct
    * users (the q98 sliding-distinct building block running as a
    * stream), where the arrival-time form counts a backfill into the
    * wrong day. Same register fold as every HLL in the repo
    * ([[hllFold]] — the batch bit-compat law holds per day: a day's
    * final estimate equals [[graft.ops.Sketches.hllDistinct]] over its
    * watermark-admitted rows, spec-asserted with late arrivals). State:
    * m bytes per (group, open day), sealed once the watermark passes
    * the day's end — bounded by groups × days inside the lateness
    * horizon. Over-late rows for a sealed day are dropped; the day's
    * monotone n_items is the currency marker for Append-sink
    * consumers. */
  def hllDistinctStreamByDay(spark: SparkSession, items: Dataset[TimedItem],
      lateness: String, p: Int = 9): Dataset[HllDayEstimate] = {
    import spark.implicits._
    dayFold(items, lateness)(it => (it.group, it.ts)) {
      (key: (String, String), rows: Iterator[TimedItem], prior: Option[HllState]) =>
        hllFold(prior, rows.map(_.item), p).map { st =>
          (st, Iterator(HllDayEstimate(key._1, key._2, st.n,
            estimateFromRegs(st.regs, p))))
        }
    }
  }

  /** hllEstimate's exact-integer arithmetic on a dense register array —
    * register value 0 means "never touched" (present registers always
    * carry rho >= 1, the hllRegisters invariant), the Σ2^−M sum is an
    * exact long, one IEEE division at the end, same small-range
    * correction and round-6 as the Catalyst form. */
  private def estimateFromRegs(regs: Array[Byte], p: Int): Double = {
    val m = 1 << p
    val rhoMax = 53 - p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    var s = 0L
    var zeros = 0L
    var i = 0
    while (i < m) {
      if (regs(i) == 0) { zeros += 1; s += 1L << rhoMax }
      else s += 1L << (rhoMax - regs(i))
      i += 1
    }
    val raw = alpha * m * m * math.pow(2.0, rhoMax) / s
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Convenience: run a streaming DataFrame to completion against a
    * memory sink and return the result table (test/e2e harness). */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
      outputMode: String = "append"): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Switch the session's streaming state store to RocksDB (with
    * changelog checkpointing) — the 100 TB state backend. The default
    * HDFS-backed provider keeps every store's working set as JVM-heap
    * maps: fine for the constant-state ops here (HLL registers, Bloom
    * bitmaps), lethal once keyed state approaches executor heap (large
    * key universes, long watermarks). RocksDB keeps state off-heap with
    * spill-to-disk, and changelog checkpointing uploads per-batch deltas
    * instead of full snapshots. Provider choice is a SESSION conf read
    * at query START and pinned into the checkpoint after that — call
    * this before `.start()`; an existing checkpoint keeps whichever
    * provider created it. Everything else (state schema, recovery
    * semantics, the ops' outputs) is provider-independent — asserted by
    * the StreamOpsSpec restart test running against this backend. */
  def withRocksDBStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    spark
  }

  /** Restore the default HDFS-backed state store provider (test
    * hygiene: provider is session-global, so suites flip it back). */
  def withDefaultStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark
  }
}
