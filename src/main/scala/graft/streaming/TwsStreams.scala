package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Twins of the [[StatefulStreams]] operators on Spark 4's
  * `transformWithState` — the arbitrary-state API that replaces
  * `flatMapGroupsWithState` (SPARK-46815): named state variables with
  * per-state TTL, first-class event-time timers (register/delete/list,
  * fired through `handleExpiredTimer`), and state schema evolution, all
  * bound to the RocksDB state-store provider.
  *
  * Why twins exist: the FMGWS originals stay the portable default (they
  * run under either provider), while these prove the SAME semantics —
  * against the SAME DuckDB oracles — through the modern API the
  * reference's keyed `ValueState` + timer machinery actually maps to:
  *
  *  - the reference's 24h state TTL on the UV dedup value state
  *    (dwm/UniqueVisitApp.java:58-66, StateTtlConfig) is FMGWS-
  *    inexpressible (the calendar-day compare subsumes it there) but is a
  *    first-class `TTLConfig` here;
  *  - the reference's registered event-time timer for the bounce timeout
  *    (dwm/UserJumpDetailApp.java:56-96, CEP within()) maps to
  *    `registerTimer`/`handleExpiredTimer` instead of FMGWS's single
  *    implicit `GroupStateTimeout`.
  *
  * Equivalence with the FMGWS originals over the ts-contiguous split
  * source (why the same oracle applies): state transitions are identical;
  * the only API-level difference is WHEN a timer may fire. A tws timer
  * registered in batch k fires at the END of batch k if the eviction
  * watermark already passed it, where FMGWS would fire it in batch k+1
  * (timed-out groups are only those with no new data). But any later
  * non-late event e for that key then has ts ≥ watermark > pending+gap,
  * so the FMGWS data path emits the same pending row on arrival — the
  * appended output SETS are equal; ordering is normalized by the gates'
  * final sort. State is O(1) per key in both.
  *
  * Scale: transformWithState requires RocksDB state stores (the 10⁸-key
  * posture SCALE.md argues); the gates set the provider around the run
  * exactly like `stream_t2_uv_rocksdb`.
  */
object TwsStreams {

  import StatefulStreams.{DatedEvent, Event, micros, sorted, toEvents}

  /** T2 via transformWithState: first event per key per calendar day.
    * One named ValueState[String] ("lastDt") holding the last emitted
    * date.
    *
    * Why the state carries NO TTLConfig here even though the reference
    * attaches a 24h TTL (dwm/UniqueVisitApp.java:58-66): Spark only
    * allows TTL under TimeMode.ProcessingTime, and in that mode
    * `TransformWithStateExec.shouldRunAnotherBatch` always answers yes
    * (wall clock advances ⇒ TTL state may newly be evictable), so a
    * bounded `Trigger.AvailableNow` run never terminates — measured: 101
    * no-data micro-batches and climbing on the 4-chunk gate source. TTL
    * is a live-deployment knob, structurally unusable in a bounded
    * harness; `ttlExpiry` below (and TwsSpec) proves the expiry
    * semantics themselves under an explicitly-stopped query instead.
    * Correctness never depended on it: a new day always differs from the
    * stored date, the same argument StatefulStreams.uvDedup makes. */
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

  def uvDedup(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    toEvents(events)
      .groupByKey(_.user_id)
      .transformWithState(new UvDedupProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** T3 via transformWithState: bounce = entry event with no successor
    * within `gapUs`, decided either by the next event arriving too late
    * (data path) or by an EVENT-TIME TIMER at pending+gap firing first
    * (`handleExpiredTimer` — the reference's CEP timeout side-output).
    * Exactly one timer is live per key: the previous one is deleted
    * before the new pending's is registered (tws timers accumulate,
    * unlike FMGWS's single implicit timeout — a stale timer would fire a
    * pending that data already resolved). */
  private class BounceProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Event, Event] {
    @transient private var pending: ValueState[Event] = _
    @transient private var timerTs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getValueState[Event]("pending",
        Encoders.product[Event], TTLConfig.NONE)
      timerTs = getHandle.getValueState[Long]("timerTs",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Event] = {
      val evs = sorted(rows)
      if (evs.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[Event]
      var p = if (pending.exists()) Some(pending.get()) else None
      evs.foreach { e =>
        p.foreach { pp =>
          if (micros(e.ts) - micros(pp.ts) > gapUs) out += pp
        }
        p = Some(e)
      }
      p.foreach { pp =>
        pending.update(pp)
        if (timerTs.exists()) getHandle.deleteTimer(timerTs.get())
        // ms-floor like the FMGWS original (StatefulStreams.bounces), +1
        // because tws timers expire INCLUSIVELY (TimerStateImpl's expiry
        // iterator, decompiled: timers with ts <= eviction watermark
        // fire) while FMGWS event-time timeouts are STRICT (ts <
        // watermark). Registering floor(deadline_ms)+1 makes
        // "fires iff wmMs > floor(deadline_ms)" hold exactly — bit-equal
        // to the FMGWS arm and the strict-< oracle even if an event ever
        // lands on the ms boundary (µs-random testdata never does, but
        // parity shouldn't hang on that).
        val t = (micros(pp.ts) + gapUs) / 1000L + 1L
        getHandle.registerTimer(t)
        timerTs.update(t)
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Event] = {
      if (pending.exists()) {
        val pp = pending.get()
        pending.clear()
        timerTs.clear()
        Iterator.single(pp)
      } else Iterator.empty
    }
  }

  def bounces(events: DataFrame, gapSec: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    toEvents(events)
      .groupByKey(_.user_id)
      .transformWithState(new BounceProcessor(gapSec * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

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

  def sessionStats(events: DataFrame, gapSec: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    toEvents(events)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapSec * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "stt_us", "n_events")
  }

  /** TTL probe for the spec: per input row, report whether the keyed
    * ValueState (TTL-bound) still existed when the row arrived, then
    * refresh it. ProcessingTime mode — the only mode TTL is assignable
    * in — which is exactly why this lives behind an explicitly-stopped
    * MemoryStream spec and NOT a gate (see UvDedupProcessor's note: in
    * this mode a bounded AvailableNow run never terminates). */
  private class TtlProbeProcessor(ttl: Duration)
      extends StatefulProcessor[Long, Event, (Long, Long, Boolean)] {
    @transient private var v: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      v = getHandle.getValueState[String]("v", Encoders.STRING,
        TTLConfig(ttl))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long, Boolean)] = {
      val out = sorted(rows).map { e =>
        val had = v.exists()
        v.update("seen")
        (key, e.event_id, had)
      }
      out.iterator
    }
  }

  def ttlProbe(events: DataFrame, ttl: Duration): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    toEvents(events)
      .groupByKey(_.user_id)
      .transformWithState(new TtlProbeProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
      .toDF("user_id", "event_id", "had_state")
  }

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

  def ema(events: DataFrame, keyOf: StatefulStreams.Event => Long,
      alpha: Double): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    toEvents(events)
      .groupByKey(keyOf)
      .transformWithState(new EmaProcessor(alpha),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  def rateLimit(events: DataFrame, keyOf: StatefulStreams.Event => Long,
      capacity: Int, refillPerTick: Int, tickSeconds: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    toEvents(events)
      .groupByKey(keyOf)
      .transformWithState(
        new RateLimitProcessor(capacity.toLong, refillPerTick.toLong,
          tickSeconds),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }
}
