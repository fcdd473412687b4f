package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Generalized CEP — the Flink CEP surface the reference programs against
  * (`Pattern.begin(..).next(..).within(..)` + timed-out-partials side
  * output, dwm/UserJumpDetailApp.java:65-96) as one keyed NFA over
  * `transformWithState`, so a user with a pattern the reference never
  * shipped (different steps, more of them, relaxed contiguity,
  * quantifiers) doesn't have to hand-write a new state machine.
  *
  * Semantics (matching Flink CEP):
  *  - `next` = strict contiguity: the immediately-following event must
  *    match the step or the partial dies silently.
  *  - `followedBy` = relaxed contiguity: non-matching events are skipped.
  *  - `within` = the last step must land within `withinSec` of the first
  *    event; a partial that can no longer complete is emitted on the
  *    timed-out side (`matched = false`, like Flink's timeout output).
  *  - Quantifiers on the last-added step: `times(n)` (exactly n),
  *    `timesOrMore(n)`, `oneOrMore` (unbounded), `optional` (may be
  *    skipped; the FINAL step may not be optional). Repeats loop under the
  *    step's own contiguity — a `next`/`begin` step repeats consecutively
  *    (Flink `consecutive()`), a `followedBy` step repeats gap-tolerantly
  *    (Flink's relaxed default). Unbounded quantifiers are RELUCTANT
  *    (Flink's non-greedy default): a match is emitted as soon as the
  *    minimum count lands, and again at each further extension, so `a+`
  *    over `a1 a2` emits [a1], [a1 a2] — and [a2] via noSkip.
  *  - After-match skip: default noSkip (every event may start a new
  *    partial). `.skipPastLastEvent` = Flink's SKIP_PAST_LAST_EVENT:
  *    once a match completes, every live partial (all started at or
  *    before the match's last event) is discarded silently and the
  *    completing event cannot seed a new partial. Flink's SKIP_TO_FIRST
  *    and SKIP_TO_LAST have no method here: they differ from these two
  *    only when the engine forks epsilon branches, which this NFA does
  *    not (next bullet), so any approximation would return wrong match
  *    sets.
  *  - Deliberate divergence from Flink: the optional chain is
  *    DETERMINISTIC first-match — when an event satisfies an optional
  *    step, the branch takes it and does not also fork a skipped-it
  *    twin (Flink's epsilon edges would emit both [v,c,p] and [v,p]
  *    from v c p). Epsilon forking is the branch-explosion failure mode
  *    that kills CEP state on hot keys; the skip path still exists
  *    whenever a later step's event arrives first (see SCALE.md).
  *    Patterns may START inside a leading optional chain (an optional
  *    first step means a match can begin at the step after it).
  *
  * Scale: state per key is the list of live partial branches. Strict
  * steps bound that list at O(pattern length); relaxed patterns and
  * unbounded quantifiers are bounded by `maxPartials` (oldest partials
  * force-expire onto the timeout side — the state-blowup guard for hot
  * keys). One shuffle (the groupByKey), one event-time timer per key
  * prunes state by watermark — the same cost model as the hand-written
  * bounce machine.
  *
  * Batch/stream parity: both [[run]] and [[runBatch]] drive the SAME
  * [[advance]] NFA, so the batch path is the oracle for the streaming
  * path by construction (CepSpec pins it; the bounce pattern reproduces
  * TwsStreams.bounces exactly).
  */
object Cep {
  import TwsStreams.{micros, sorted, toEvents, Event}

  sealed trait Contiguity extends Serializable
  case object Strict extends Contiguity
  case object Relaxed extends Contiguity

  /** One pattern position. `minReps`/`maxReps` quantify how many events
    * the step consumes (1/1 = plain step, 0/1 = optional, n/∞ =
    * timesOrMore); repeats beyond the first loop under `contiguity`. */
  case class Step(name: String, pred: Event => Boolean, contiguity: Contiguity,
      minReps: Int = 1, maxReps: Int = 1)

  case class Pattern(steps: Vector[Step], withinSec: Long = 0L,
      maxPartials: Int = 128, skipPast: Boolean = false) {
    def next(name: String)(pred: Event => Boolean): Pattern =
      copy(steps = steps :+ Step(name, pred, Strict))
    def followedBy(name: String)(pred: Event => Boolean): Pattern =
      copy(steps = steps :+ Step(name, pred, Relaxed))
    private def mutateLast(f: Step => Step): Pattern = {
      require(steps.nonEmpty, "quantifier needs a preceding step")
      copy(steps = steps.init :+ f(steps.last))
    }
    /** Flink's `times(n)`: the last step must occur exactly n times. */
    def times(n: Int): Pattern = {
      require(n >= 1, "times(n) needs n >= 1")
      mutateLast(_.copy(minReps = n, maxReps = n))
    }
    /** Flink's `timesOrMore(n)`: at least n occurrences, reluctant. */
    def timesOrMore(n: Int): Pattern = {
      require(n >= 1, "timesOrMore(n) needs n >= 1")
      mutateLast(_.copy(minReps = n, maxReps = Int.MaxValue))
    }
    /** Flink's `oneOrMore`: at least one occurrence, reluctant. */
    def oneOrMore: Pattern = timesOrMore(1)
    /** Flink's `optional`: the last-added step may be skipped entirely.
      * The pattern's FINAL step must not be optional (run/runBatch
      * enforce it) — a trailing maybe-step makes completion ambiguous. */
    def optional: Pattern = mutateLast(_.copy(minReps = 0))
    /** Flink's AfterMatchSkipStrategy.skipPastLastEvent. */
    def skipPastLastEvent: Pattern = copy(skipPast = true)
    def within(sec: Long): Pattern = copy(withinSec = sec)
    private[Cep] def withinUs: Long = withinSec * 1000000L
  }

  object Pattern {
    def begin(name: String)(pred: Event => Boolean): Pattern =
      Pattern(Vector(Step(name, pred, Strict)))
  }

  /** One emission: a completed match (`matched = true`) or a timed-out
    * partial (`matched = false` — Flink's timeout side output).
    * `steps_matched` counts EVENTS consumed (= steps for unquantified
    * patterns; includes every loop repetition for quantified ones). */
  case class CepMatch(user_id: Long, first_event_id: Long, last_event_id: Long,
      start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp,
      steps_matched: Int, matched: Boolean)

  /** A live partial branch (the keyed state element). `stepIdx`/`reps` =
    * position in the pattern and repetitions consumed there; `closed` =
    * the current step's loop may not extend further (the Flink proceed
    * branch); `gap` = an event was skipped since the last consume (strict
    * transitions require !gap); `emitted` = this branch already produced
    * a match (a reluctant-loop continuation) so it must never surface on
    * the timeout side. */
  case class Partial(firstId: Long, startUs: Long, startTs: java.sql.Timestamp,
      lastId: Long, lastTs: java.sql.Timestamp, nMatched: Int,
      stepIdx: Int = 0, reps: Int = 1, closed: Boolean = false,
      gap: Boolean = false, emitted: Boolean = false)

  private def timeoutOf(p: Partial, uid: Long): CepMatch =
    CepMatch(uid, p.firstId, p.lastId, p.startTs, p.lastTs, p.nMatched, matched = false)

  private def matchOf(p: Partial, uid: Long): CepMatch =
    CepMatch(uid, p.firstId, p.lastId, p.startTs, p.lastTs, p.nMatched, matched = true)

  private def requireValid(pattern: Pattern): Unit = {
    require(pattern.withinSec > 0, "pattern needs .within(sec)")
    require(pattern.steps.nonEmpty)
    require(pattern.steps.last.minReps >= 1,
      "the final step may not be optional (trailing maybe-step is ambiguous)")
  }

  /** Advance the NFA over one SORTED slice of a key's events. A partial
    * whose window has closed times out (silently if it already matched);
    * otherwise the event may extend the current step's loop, advance
    * across the optional chain to a later step (branching where both
    * apply), be skipped (relaxed), or kill the branch (strict). Every
    * event may then open a new partial (noSkip), unless a completion
    * plus `skipPastLastEvent` wiped the slate. Returns (emissions,
    * surviving partials). */
  private[streaming] def advance(pattern: Pattern, partials0: List[Partial],
      evs: Seq[Event]): (List[CepMatch], List[Partial]) = {
    val withinUs = pattern.withinUs
    val steps = pattern.steps
    val k = steps.length
    val out = scala.collection.mutable.ListBuffer.empty[CepMatch]
    var partials = partials0
    evs.foreach { e =>
      val us = micros(e.ts)
      val (expired, alive) = partials.partition(p => us - p.startUs > withinUs)
      expired.filterNot(_.emitted).foreach(p => out += timeoutOf(p, e.user_id))
      var matchedHere = false
      val next = scala.collection.mutable.ListBuffer.empty[Partial]
      // p just consumed e: emit if the pattern completed (reluctant — the
      // branch survives to extend an unbounded final loop), else keep.
      def land(p: Partial): Unit = {
        val s = steps(p.stepIdx)
        if (p.stepIdx == k - 1 && p.reps >= s.minReps) {
          out += matchOf(p, e.user_id); matchedHere = true
          if (p.reps < s.maxReps) next += p.copy(emitted = true)
        } else next += p
      }
      alive.foreach { p =>
        val s = steps(p.stepIdx)
        var consumedExtend = false
        var consumedAdvance = false
        // extend the current step's loop (entry and repeats both run
        // under the step's own contiguity; strict requires no gap)
        if (!p.closed && p.reps < s.maxReps &&
            (s.contiguity == Relaxed || !p.gap) && s.pred(e)) {
          consumedExtend = true
          land(p.copy(lastId = e.event_id, lastTs = e.ts,
            nMatched = p.nMatched + 1, reps = p.reps + 1, gap = false))
        }
        // advance to a later step: reachable = the next step, plus any
        // further steps whose predecessors are all optional (minReps 0)
        var advanceRelaxedViable = false
        if (p.reps >= s.minReps) {
          var j = p.stepIdx + 1
          var reachable = true
          while (reachable && j < k) {
            val sj = steps(j)
            if (sj.contiguity == Relaxed) advanceRelaxedViable = true
            if ((sj.contiguity == Relaxed || !p.gap) && sj.pred(e)) {
              consumedAdvance = true
              land(p.copy(lastId = e.event_id, lastTs = e.ts,
                nMatched = p.nMatched + 1, stepIdx = j, reps = 1,
                closed = false, gap = false))
            }
            reachable = sj.minReps == 0
            j += 1
          }
        }
        if (consumedExtend || consumedAdvance) {
          // Flink's proceed branch: the loop also may stop here and await
          // the next step relaxed-ly (only viable when some reachable
          // step tolerates gaps; a strict-only proceed dies on the spot)
          if (consumedExtend && !consumedAdvance && advanceRelaxedViable)
            next += p.copy(closed = true, gap = true)
        } else {
          // nothing consumed: survive iff some awaited position is
          // relaxed (loop extension or a reachable later step)
          val extendRelaxedViable = !p.closed && p.reps < s.maxReps &&
            s.contiguity == Relaxed
          if (extendRelaxedViable || advanceRelaxedViable)
            next += p.copy(gap = true)
          // else: strict violation — the branch dies silently
        }
      }
      // noSkip: every event may seed a new partial — unless a completed
      // match with skipPastLastEvent claims this event. Seeds may enter at
      // any step reachable through a LEADING optional chain (an optional
      // first step means the pattern can start at the step after it).
      if (!(pattern.skipPast && matchedHere)) {
        var j = 0
        var reachable = true
        while (reachable && j < k) {
          if (steps(j).pred(e))
            land(Partial(e.event_id, us, e.ts, e.event_id, e.ts, 1, stepIdx = j))
          reachable = steps(j).minReps == 0
          j += 1
        }
      }
      var res =
        if (pattern.skipPast && matchedHere) Nil  // skip past the match's end
        else next.toList.distinct
      if (res.length > pattern.maxPartials) {
        val drop = res.length - pattern.maxPartials
        res.take(drop).filterNot(_.emitted)
          .foreach(p => out += timeoutOf(p, e.user_id))
        res = res.drop(drop)
      }
      partials = res
    }
    (out.toList, partials)
  }

  /** The keyed state of [[run]]: the live partial branches in one
    * ValueState, and one event-time timer at the earliest partial's
    * deadline. The timer registers that deadline's ms-floor +1, like
    * TwsStreams' bounce timer: tws timers fire once the watermark REACHES
    * them, while a partial times out only once the watermark PASSES its
    * deadline (the strict < of [[runBatch]]'s cutoff). A fired timer times
    * out every partial the watermark passed and re-arms at the survivors'
    * earliest deadline; the engine deletes the fired timer itself. */
  private class CepProcessor(pattern: Pattern,
      partialsEnc: Encoder[List[Partial]])
      extends StatefulProcessor[Long, Event, CepMatch] {
    @transient private var live: ValueState[List[Partial]] = _
    private val withinUs = pattern.withinUs

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      live = getHandle.getValueState[List[Partial]]("partials", partialsEnc,
        TTLConfig.NONE)

    private def deadlineMs(p: Partial): Long = (p.startUs + withinUs) / 1000L

    private def timerOf(ps: List[Partial]): Option[Long] =
      if (ps.isEmpty) None else Some(ps.map(deadlineMs).min + 1L)

    /** Store `ps` and move the key's one live timer from `armed` to the
      * earliest deadline of `ps`. */
    private def keep(ps: List[Partial], armed: Option[Long]): Unit = {
      val next = timerOf(ps)
      if (next != armed) {
        armed.foreach(getHandle.deleteTimer)
        next.foreach(getHandle.registerTimer)
      }
      if (ps.isEmpty) live.clear() else live.update(ps)
    }

    private def stored: List[Partial] = if (live.exists()) live.get() else Nil

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[CepMatch] = {
      val prev = stored
      val (out, partials) = advance(pattern, prev, sorted(rows))
      keep(partials, timerOf(prev))
      out.iterator
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[CepMatch] = {
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val (expired, alive) = stored.partition(deadlineMs(_) < wmMs)
      keep(alive, None)
      expired.filterNot(_.emitted).map(timeoutOf(_, uid)).iterator
    }
  }

  /** Streaming CEP: requires `withWatermark` on ts upstream (the timeout
    * side fires off the event-time watermark, exactly like
    * TwsStreams.bounces). Keys whose partials' windows are still
    * open at the final watermark stay pending — live-stream semantics. */
  def run(events: DataFrame, pattern: Pattern): DataFrame = {
    requireValid(pattern)
    val spark = events.sparkSession
    import spark.implicits._
    TwsStreams.keyed(events,
      new CepProcessor(pattern, implicitly[Encoder[List[Partial]]]),
      TimeMode.EventTime())
  }

  /** Batch path: the same NFA over each key's full history. End-of-data
    * handling for still-open partials: with `cutoffMs = None` (batch
    * truth) every unfinished partial times out; with `Some(wm)` (stream
    * parity) only partials whose deadline the final watermark passed —
    * the same rule every stream_* gate oracle applies. Branches that
    * already emitted a match never surface as timeouts. */
  def runBatch(events: DataFrame, pattern: Pattern,
      cutoffMs: Option[Long] = None): DataFrame = {
    requireValid(pattern)
    val spark = events.sparkSession
    import spark.implicits._
    val withinUs = pattern.withinUs
    toEvents(events)
      .groupByKey(_.user_id)
      .flatMapGroups { (uid: Long, it: Iterator[Event]) =>
        val (out, partials) = advance(pattern, Nil, sorted(it))
        val tails = partials
          .filterNot(_.emitted)
          .filter(p => cutoffMs.forall(wm => (p.startUs + withinUs) / 1000L < wm))
          .map(timeoutOf(_, uid))
        (out ++ tails).iterator
      }
      .toDF()
  }
}
