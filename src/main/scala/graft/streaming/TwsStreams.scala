package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Keyed-state streaming operators (SURVEY.md §2.6) on Spark 4's
  * `transformWithState` (SPARK-46815), the engine's one stateful-operator
  * API and the Spark analogue of the reference's keyed `ValueState` plus
  * event-time timers: named state variables with per-state TTL,
  * first-class event-time timers (register/delete/list, fired through
  * `handleExpiredTimer`), and state schema evolution, all bound to the
  * RocksDB state-store provider ([[StreamRunner]] sets it for every run
  * whose plan holds one of these operators).
  *
  * Event order: within one micro-batch a key's rows arrive unordered, so
  * every processor sorts its batch slice by (ts, event_id) before applying
  * its state machine. Across micro-batches, Kafka per-partition order plus
  * the event-time timers give the same guarantees the reference gets from
  * Flink's keyed streams + watermarks.
  *
  * Processors without a timer (`newOldFlag`, `uvDedup`) run in
  * `TimeMode.None()`: they need no upstream watermark and never drop a row
  * as late. Timer processors run in `TimeMode.EventTime()` and need
  * `withWatermark` on ts upstream. A timer fires at the end of the batch
  * whose eviction watermark reaches it; a key whose last event is still
  * inside its window at the final watermark stays pending (exactly Flink's
  * unfinished-window behavior on a live stream), and the gates' oracles
  * apply the same final-watermark cutoff to the batch truth.
  *
  * Scale: state is O(1) per key (a flag, a date, one pending event) — the
  * shapes that survive hundreds of millions of keys under RocksDB state
  * stores. The shuffle is the groupByKey hash exchange, identical to the
  * reference's keyBy.
  */
object TwsStreams {

  case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  case class FlaggedEvent(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String, is_new: Int)

  case class DatedEvent(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String, dt: String)

  private[streaming] def toEvents(df: DataFrame): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("event_id", "ts", "user_id", "event_type", "value", "props").as[Event]
  }

  /** Microsecond event time (Timestamp.getTime floors to ms — comparing in
    * ms would disagree with the µs-exact batch oracle on sub-ms gaps). */
  private[streaming] def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private[streaming] def sorted(it: Iterator[Event]): Seq[Event] =
    it.toSeq.sortBy(e => (micros(e.ts), e.event_id))

  /** The one way a keyed-state operator runs: `events` as typed [[Event]]s,
    * grouped by `keyOf` (the user by default; the groupByKey exchange is
    * the reference's keyBy), through `processor` in append mode. */
  private[streaming] def keyed[O <: Product : TypeTag](events: DataFrame,
      processor: StatefulProcessor[Long, Event, O], timeMode: TimeMode,
      keyOf: Event => Long = _.user_id): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    toEvents(events)
      .groupByKey(keyOf)
      .transformWithState(processor, timeMode, OutputMode.Append())
      .toDF()
  }

  /** T1 (dwd/BaseLogApp.java:66-95): the first-ever event per key is
    * flagged is_new=1; every later event is rewritten to 0. State: one
    * boolean ("seen"). */
  private class NewOldFlagProcessor
      extends StatefulProcessor[Long, Event, FlaggedEvent] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[FlaggedEvent] = {
      val firstEver = !seen.exists()
      val out = sorted(rows).zipWithIndex.map { case (e, i) =>
        FlaggedEvent(e.event_id, e.ts, e.user_id, e.event_type, e.value,
          e.props, if (firstEver && i == 0) 1 else 0)
      }
      seen.update(true)
      out.iterator
    }
  }

  def newOldFlag(events: DataFrame): DataFrame =
    keyed(events, new NewOldFlagProcessor, TimeMode.None())

  /** T2 (dwm/UniqueVisitApp.java:50-92): emit the first event per key per
    * calendar day. One named ValueState[String] ("lastDt") holding the
    * last emitted date, exactly the reference's ValueState<String>.
    *
    * Why the state carries NO TTLConfig here even though the reference
    * attaches a 24h TTL (dwm/UniqueVisitApp.java:58-66): Spark only
    * allows TTL under TimeMode.ProcessingTime, and in that mode
    * `TransformWithStateExec.shouldRunAnotherBatch` always answers yes
    * (wall clock advances ⇒ TTL state may newly be evictable), so a
    * bounded `Trigger.AvailableNow` run never terminates — measured: 101
    * no-data micro-batches and climbing on the 4-chunk gate source. TTL
    * is a live-deployment knob, structurally unusable in a bounded
    * harness; TwsSpec's `TtlProbe` fixture proves the expiry semantics
    * themselves under an explicitly-stopped query instead.
    * Correctness never depended on it: a new day always differs from the
    * stored date, so the calendar-day compare subsumes the 24h TTL. */
  private class UvDedupProcessor
      extends StatefulProcessor[Long, Event, DatedEvent] {
    @transient private var lastDt: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastDt = getHandle.getValueState[String]("lastDt", Encoders.STRING,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[DatedEvent] = {
      var last = if (lastDt.exists()) lastDt.get() else ""
      val out = scala.collection.mutable.ArrayBuffer.empty[DatedEvent]
      sorted(rows).foreach { e =>
        val dt = e.ts.toInstant.atZone(java.time.ZoneOffset.UTC)
          .toLocalDate.toString
        if (dt != last) {
          out += DatedEvent(e.event_id, e.ts, e.user_id, e.event_type,
            e.value, e.props, dt)
          last = dt
        }
      }
      if (last.nonEmpty) lastDt.update(last)
      out.iterator
    }
  }

  def uvDedup(events: DataFrame): DataFrame =
    keyed(events, new UvDedupProcessor, TimeMode.None())

  /** T3 (dwm/UserJumpDetailApp.java:56-96): bounce = entry event with no
    * successor within `gapUs` — the CEP "entry page followed by another
    * entry within N seconds, or timeout" pattern as one pending event plus
    * an event-time timer. It is decided either by the next event arriving
    * too late (data path, the CEP *matched* branch) or by the EVENT-TIME
    * TIMER at pending+gap firing first (`handleExpiredTimer` — the CEP
    * *timed-out* side output, unioned at :96). Exactly one timer is live
    * per key, the one of the stored pending event: it is deleted before
    * the new pending's is registered (tws timers accumulate — a stale
    * timer would fire a pending that data already resolved). */
  private class BounceProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Event, Event] {
    @transient private var pending: ValueState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getValueState[Event]("pending",
        Encoders.product[Event], TTLConfig.NONE)

    // ms-floor of the deadline, +1 because tws timers expire INCLUSIVELY
    // (TimerStateImpl's expiry iterator, decompiled: timers with ts <=
    // eviction watermark fire) while a bounce is STRICT (the watermark
    // must pass the deadline: the oracle's strict <). Registering
    // floor(deadline_ms)+1 makes "fires iff wmMs > floor(deadline_ms)"
    // hold exactly, even if an event ever lands on the ms boundary
    // (µs-random testdata never does, but the result shouldn't hang on it).
    private def timerOf(p: Event): Long = (micros(p.ts) + gapUs) / 1000L + 1L

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Event] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Event]
      val prev = if (pending.exists()) Some(pending.get()) else None
      var p = prev
      sorted(rows).foreach { e =>
        p.foreach { pp =>
          if (micros(e.ts) - micros(pp.ts) > gapUs) out += pp
        }
        p = Some(e)
      }
      p.foreach { pp =>
        pending.update(pp)
        prev.foreach(pv => getHandle.deleteTimer(timerOf(pv)))
        getHandle.registerTimer(timerOf(pp))
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Event] = {
      if (pending.exists()) {
        val pp = pending.get()
        pending.clear()
        Iterator.single(pp)
      } else Iterator.empty
    }
  }

  def bounces(events: DataFrame, gapSec: Long): DataFrame =
    keyed(events, new BounceProcessor(gapSec * 1000000L), TimeMode.EventTime())

  /** T6's session variant via transformWithState: one open session per
    * key — (start_us, last_us, n_events) in a ValueState — merged on
    * arrival while gaps stay within `gapUs`, emitted when the session
    * closes. Twin of `WindowedStreams.sessionStats` (the session_window
    * operator) against the SAME oracle: a session's window is
    * [first_ts, last_ts + gap) and Append mode emits it once the
    * watermark reaches its end, so the timer here registers the ms-floor
    * of the end WITHOUT the bounce's +1 — session_window's cutoff is
    * INCLUSIVE (oracle: end_ms <= watermark_ms), exactly the tws timer's
    * own expiry comparison. Data-path closes (a new event opens a later
    * session) emit the old session immediately; those sessions' ends are
    * always behind the final watermark, so the emitted SET matches
    * session_window's whatever the emission batch. State is O(1) per key;
    * trailing open sessions stay pending — the live-stream contract. */
  case class OpenSession(sttUs: Long, lastUs: Long, n: Long)

  private class SessionProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Event, (Long, Long, Long)] {
    @transient private var open: ValueState[OpenSession] = _
    @transient private var timerTs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)
      timerTs = getHandle.getValueState[Long]("timerTs",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val evs = sorted(rows)
      if (evs.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var cur = if (open.exists()) Some(open.get()) else None
      evs.foreach { e =>
        val us = micros(e.ts)
        cur match {
          case Some(s) if us - s.lastUs <= gapUs =>
            cur = Some(OpenSession(s.sttUs, math.max(s.lastUs, us), s.n + 1))
          case Some(s) =>
            out += ((key, s.sttUs, s.n)) // data-path close
            cur = Some(OpenSession(us, us, 1L))
          case None =>
            cur = Some(OpenSession(us, us, 1L))
        }
      }
      cur.foreach { s =>
        open.update(s)
        if (timerTs.exists()) getHandle.deleteTimer(timerTs.get())
        val t = (s.lastUs + gapUs) / 1000L // inclusive fire == oracle's <=
        getHandle.registerTimer(t)
        timerTs.update(t)
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
      if (open.exists()) {
        val s = open.get()
        open.clear()
        timerTs.clear()
        Iterator.single((key, s.sttUs, s.n))
      } else Iterator.empty
    }
  }

  def sessionStats(events: DataFrame, gapSec: Long): DataFrame =
    keyed(events, new SessionProcessor(gapSec * 1000000L), TimeMode.EventTime())
      .toDF("user_id", "stt_us", "n_events")

  case class TokState(tok: Long, lastTick: Long)
  case class Admit(k: Long, event_id: Long, accepted: Boolean)

  /** T5 streaming twin of [[graft.operators.Quota.tokenBucket]]: the same
    * integer token-bucket recurrence with ONE (tok, lastTick) pair per
    * key in the state store — the unbounded-per-key path the batch fold's
    * scaledoc points to. Within a batch each key's rows fold in
    * (event-time µs, event_id) order; across batches the ts-contiguous
    * split source guarantees strictly later timestamps, so the composite
    * order equals the batch operator's total order and the SAME
    * recursive-CTE oracle applies verbatim. */
  private class RateLimitProcessor(capacity: Long, refillPerTick: Long,
      tickSeconds: Long) extends StatefulProcessor[Long, Event, Admit] {
    @transient private var st: ValueState[TokState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TokState]("bucket",
        Encoders.product[TokState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Admit] = {
      val evs = sorted(rows)
      if (evs.isEmpty) Iterator.empty
      else {
        // floorDiv at BOTH levels: plain `/` truncates toward zero and
        // would disagree with the batch twin's floor() (and the oracle's
        // `//`) on pre-epoch event times
        def tickOf(e: Event): Long =
          math.floorDiv(math.floorDiv(micros(e.ts), 1000000L), tickSeconds)
        var (tok, last) =
          if (st.exists()) { val s0 = st.get(); (s0.tok, s0.lastTick) }
          else (capacity, tickOf(evs.head))
        val out = evs.map { e =>
          val t = tickOf(e)
          tok = math.min(capacity, tok + (t - last) * refillPerTick)
          last = t
          val ok = tok >= 1
          if (ok) tok -= 1
          Admit(key, e.event_id, ok)
        }
        st.update(TokState(tok, last))
        out.iterator
      }
    }
  }

  case class EmaState(acc: Double, n: Long)
  case class EmaSnap(k: Long, n: Long, ema: Double)

  /** A25 streaming twin of the per-key EMA: ONE (acc, n) pair per key in
    * the state store — the unbounded-per-key path (same contract family
    * as [[rateLimit]] vs the batch fold). Within a batch each key's rows
    * fold in (event-time µs, event_id) order; the ts-contiguous split
    * source makes the cross-batch composite equal the batch total order,
    * so the recurrence sees the IDENTICAL IEEE op sequence and the batch
    * oracle applies to the final snapshot verbatim (bitwise doubles).
    * Emits one running (k, n, ema) snapshot per key per batch; the final
    * snapshot per key is the series EMA. */
  private class EmaProcessor(alpha: Double)
      extends StatefulProcessor[Long, Event, EmaSnap] {
    @transient private var st: ValueState[EmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EmaState]("ema",
        Encoders.product[EmaState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[EmaSnap] = {
      val evs = sorted(rows)
      if (evs.isEmpty) Iterator.empty
      else {
        val beta = 1.0 - alpha
        var (acc, n) =
          if (st.exists()) { val s0 = st.get(); (s0.acc, s0.n) }
          else (0.0, 0L)
        var rest = evs
        if (n == 0L) { acc = evs.head.value; n = 1L; rest = evs.tail }
        rest.foreach { e => acc = alpha * e.value + beta * acc; n += 1L }
        st.update(EmaState(acc, n))
        Iterator.single(EmaSnap(key, n, acc))
      }
    }
  }

  def ema(events: DataFrame, keyOf: Event => Long,
      alpha: Double): DataFrame =
    keyed(events, new EmaProcessor(alpha), TimeMode.EventTime(), keyOf)

  def rateLimit(events: DataFrame, keyOf: Event => Long,
      capacity: Int, refillPerTick: Int, tickSeconds: Long): DataFrame =
    keyed(events,
      new RateLimitProcessor(capacity.toLong, refillPerTick.toLong,
        tickSeconds),
      TimeMode.EventTime(), keyOf)
}
