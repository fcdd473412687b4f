package graft.streaming

import graft.streaming.TwsStreams.Event
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Pure-JVM differential fuzz of the CEP NFA core. The streaming path's
  * correctness rests on one algebraic property: processing a key's events
  * in ANY micro-batch split, threading state across the boundary, must
  * equal processing them in one shot. `advance` is the unit under test —
  * no Spark session needed, so hundreds of random (pattern, events,
  * split) cases run in milliseconds.
  */
class CepAdvanceSpec extends AnyFunSuite {

  private def gen[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).getOrElse(fail(s"gen failed @ $seed"))

  private val types = Vector("a", "b", "c")

  /** Random 1-3 step pattern; the final step always keeps minReps >= 1
    * (the same constraint requireValid enforces). */
  private def buildPattern(seed: Long): Cep.Pattern = {
    val n = gen(Gen.choose(1, 3), seed)
    val preds = (0 until n).map(i => types(gen(Gen.choose(0, 2), seed + 31 * i)))
    val strict = (0 until n).map(i => gen(Gen.oneOf(true, false), seed + 97 * i))
    val quant = (0 until n).map(i => gen(Gen.choose(0, 3), seed + 131 * i))
    val within = gen(Gen.choose(50L, 200L), seed + 7)
    val maxP = gen(Gen.choose(4, 64), seed + 11)
    var p = Cep.Pattern.begin("s0") { e => e.event_type == preds(0) }
    for (i <- 1 until n) {
      val t = preds(i)
      p = if (strict(i)) p.next(s"s$i")(_.event_type == t)
          else p.followedBy(s"s$i")(_.event_type == t)
      p = quant(i) match {
        case 1 => p.times(2)
        case 2 => p.timesOrMore(1)
        case 3 if i < n - 1 => p.optional // final step must stay mandatory
        case _ => p
      }
    }
    // quantifier on the first step too (begin is strict-contiguity)
    p = quant(0) match {
      case 1 => p.copy(steps = p.steps.updated(0,
        p.steps(0).copy(minReps = 2, maxReps = 2)))
      case 2 => p.copy(steps = p.steps.updated(0,
        p.steps(0).copy(minReps = 1, maxReps = Int.MaxValue)))
      case 3 if n > 1 => p.copy(steps = p.steps.updated(0,
        p.steps(0).copy(minReps = 0)))
      case _ => p
    }
    val skip = gen(Gen.oneOf(true, false), seed + 19)
    val done = p.within(within).copy(maxPartials = maxP)
    if (skip) done.skipPastLastEvent else done
  }

  private def buildEvents(seed: Long): Vector[Event] = {
    val n = gen(Gen.choose(0, 30), seed)
    var t = 0L
    (1 to n).map { i =>
      t += gen(Gen.choose(0L, 80L), seed + 17 * i)
      Event(i.toLong, new java.sql.Timestamp(t * 1000L), 1L,
        types(gen(Gen.choose(0, 2), seed + 13 * i)), 0.0, "{}")
    }.toVector
  }

  test("advance is state-carry associative: any micro-batch split, threaded " +
    "through state, equals one-shot processing (500 random cases)") {
    var nonTrivial = 0
    for (seed <- 1L to 500L) {
      val p = buildPattern(seed)
      val evs = buildEvents(seed * 1009L)
      val (outWhole, endWhole) = Cep.advance(p, Nil, evs)
      if (outWhole.nonEmpty) nonTrivial += 1
      for (k <- 0 to evs.length) {
        val (lo, hi) = evs.splitAt(k)
        val (o1, s1) = Cep.advance(p, Nil, lo)
        val (o2, s2) = Cep.advance(p, s1, hi)
        assert((o1 ++ o2) === outWhole,
          s"seed=$seed split=$k pattern=${p.steps.map(s =>
            (s.name, s.contiguity, s.minReps, s.maxReps))} within=${p.withinSec}")
        assert(s2 === endWhole, s"state diverged: seed=$seed split=$k")
      }
      // bounded state, always
      assert(endWhole.length <= p.maxPartials, s"seed=$seed state overflow")
      // a completed match consumed at least the mandatory step minimum
      val minEvents = p.steps.map(_.minReps).sum
      outWhole.filter(_.matched).foreach(m =>
        assert(m.steps_matched >= math.max(minEvents, 1), s"seed=$seed"))
    }
    // the generator must actually exercise emissions, not vacuous passes
    assert(nonTrivial > 200, s"only $nonTrivial/500 cases emitted anything")
  }
}
