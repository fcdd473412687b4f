package graft

import graft.streaming.{Cep, Sources, StreamRunner, TwsStreams}
import org.apache.spark.sql.functions._

class CepSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def funnel = Cep.Pattern.begin("view")(_.event_type == "view")
    .next("click")(_.event_type == "click")
    .next("purchase")(_.event_type == "purchase")
    .within(7200L)

  // The fixture's median inter-event gap is hours, so a strict
  // (immediately-adjacent) 2h funnel never completes on it — DuckDB
  // lead()-adjacency finds ZERO view→click→purchase runs at sf0.001 and
  // sf0.01. The strict test therefore asserts parity + timeouts only; the
  // relaxed 24h funnel below is the pattern the fixture CAN complete and
  // carries the positive-match assertions.
  test("strict funnel: streaming CEP == batch CEP under the final-watermark cutoff") {
    val events = Tables.events(spark, dir)
    val wmMs = events.agg(max(unix_micros(col("ts")))).as[Long].head() / 1000L
    val stream = StreamRunner.collect(
        Cep.run(Sources.eventsStream(spark, dir).withWatermark("ts", "0 seconds"),
          funnel))
      .select("user_id", "first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Long, Int, Boolean)].collect().sorted
    val batch = Cep.runBatch(events, funnel, cutoffMs = Some(wmMs))
      .select("user_id", "first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Long, Int, Boolean)].collect().sorted
    assert(stream.nonEmpty)
    assert(stream === batch)
    assert(stream.exists(!_._5), "expected at least one timed-out partial")
  }

  test("relaxed 24h funnel completes on the fixture: parity + positive matches") {
    val relaxed = Cep.Pattern.begin("view")(_.event_type == "view")
      .followedBy("click")(_.event_type == "click")
      .followedBy("purchase")(_.event_type == "purchase")
      .within(86400L)
    val events = Tables.events(spark, dir)
    val wmMs = events.agg(max(unix_micros(col("ts")))).as[Long].head() / 1000L
    val stream = StreamRunner.collect(
        Cep.run(Sources.eventsStream(spark, dir).withWatermark("ts", "0 seconds"),
          relaxed))
      .select("user_id", "first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Long, Int, Boolean)].collect().sorted
    val batch = Cep.runBatch(events, relaxed, cutoffMs = Some(wmMs))
      .select("user_id", "first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Long, Int, Boolean)].collect().sorted
    assert(stream === batch)
    assert(stream.exists(_._5), "expected at least one full match")
    assert(stream.exists(!_._5), "expected at least one timed-out partial")
    // the completion arm emits all three steps with the purchase as last
    assert(stream.filter(_._5).forall(_._4 == 3))
  }

  test("the bounce pattern reproduces TwsStreams.bounces exactly") {
    // begin(any).next(any).within(gap): a 1-matched partial that times out
    // IS a bounce (no successor within gap) — the generalized machine must
    // reproduce the hand-written one event for event
    val anyEvent = (_: TwsStreams.Event) => true
    val p = Cep.Pattern.begin("first")(anyEvent).next("second")(anyEvent).within(1800L)
    val viaCep = StreamRunner.collect(
        Cep.run(Sources.eventsStream(spark, dir).withWatermark("ts", "0 seconds"), p))
      .filter(!col("matched"))
      .select(col("user_id"), col("first_event_id").as("event_id"))
      .as[(Long, Long)].collect().sorted
    val viaBounces = StreamRunner.collect(
        TwsStreams.bounces(
          Sources.eventsStream(spark, dir).withWatermark("ts", "0 seconds"),
          gapSec = 1800L))
      .select("user_id", "event_id").as[(Long, Long)].collect().sorted
    assert(viaCep === viaBounces)
    assert(viaCep.nonEmpty)
  }

  test("relaxed contiguity (followedBy) skips non-matching events; strict dies") {
    def ev(id: Long, sec: Long, t: String) = TwsStreams.Event(
      id, new java.sql.Timestamp(sec * 1000L), 1L, t, 0.0, "{}")
    val evs = Seq(ev(1, 0, "a"), ev(2, 10, "x"), ev(3, 20, "b")).toDS().toDF()
    val strict = Cep.Pattern.begin("a")(_.event_type == "a")
      .next("b")(_.event_type == "b").within(100L)
    val relaxed = Cep.Pattern.begin("a")(_.event_type == "a")
      .followedBy("b")(_.event_type == "b").within(100L)
    // strict: the x at t=10 kills the partial — no match, no timeout
    assert(Cep.runBatch(evs, strict).count() === 0L)
    // relaxed: x is skipped, a→b matches
    val r = Cep.runBatch(evs, relaxed)
      .select("first_event_id", "last_event_id", "matched")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(r === Seq((1L, 3L, true)))
  }

  test("streaming hot key: maxPartials bounds state through the real stream path") {
    // 5000 never-completing partials on ONE key (plus organic keys) driven
    // through the actual transformWithState streaming path. within is
    // far beyond the fixture's span, so NO watermark timeout ever fires:
    // without the cap the output would be empty (everything pending).
    // With maxPartials=10 each arrival force-expires the oldest partial
    // beyond 10 — so the stream must emit exactly the 4990 OLDEST starts,
    // in watermark (start-time) order, and the batch twin must agree.
    import java.nio.file.{Files, Paths}
    val root = testDir("graft-cep-hot")
    val rawDir = testDir("graft-cep-hot-raw")
    val hot = (1L to 5000L).map(i => (i, i * 1000000000L, 777L, "a", 0.0, "{}"))
    val organic = (1L to 50L).map(i =>
      (5000L + i, i * 97L * 1000000000L, i, "x", 0.0, "{}"))
    (hot ++ organic).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$rawDir/raw")
    val part = Files.list(Paths.get(s"$rawDir/raw")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(s"$root/events.parquet"))

    val p = Cep.Pattern.begin("a")(_.event_type == "a")
      .followedBy("never")(_.event_type == "zzz").within(1000000L)
      .copy(maxPartials = 10)
    val stream = StreamRunner.collect(
        Cep.run(Sources.eventsStream(spark, root).withWatermark("ts", "0 seconds"), p))
      .select("user_id", "first_event_id", "matched")
      .as[(Long, Long, Boolean)].collect()
    assert(stream.length === 4990)
    assert(stream.forall(!_._3))
    assert(stream.map(_._2).sorted === (1L to 4990L).toArray)
    val batch = Cep.runBatch(Tables.events(spark, root), p,
        cutoffMs = Some(5000L * 1000L))
      .select("user_id", "first_event_id", "matched")
      .as[(Long, Long, Boolean)].collect()
    assert(stream.sorted === batch.sorted)
  }

  test("CEP state carries across micro-batches: partial opened in batch 1 " +
    "completes in batch 3; watermark timeout fires between batches") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    def ev(id: Long, user: Long, sec: Long, t: String) = TwsStreams.Event(
      id, new java.sql.Timestamp(sec * 1000L), user, t, 0.0, "{}")
    def runBatches(batches: Seq[Seq[TwsStreams.Event]])(
        f: DataFrame => DataFrame): DataFrame = {
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[TwsStreams.Event]
      val name = s"cep_mb_${System.nanoTime()}"
      val q = f(ms.toDF().withWatermark("ts", "0 seconds"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation",
          testCheckpoint(name))
        .trigger(Trigger.ProcessingTime(0))
        .start()
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name)
    }
    val relaxed = Cep.Pattern.begin("view")(_.event_type == "view")
      .followedBy("click")(_.event_type == "click")
      .followedBy("purchase")(_.event_type == "purchase")
      .within(1000L)
    // user 1: view@10 (batch 1) ... click@50 (batch 2) ... purchase@90
    // (batch 3) -> the partial must survive TWO batch boundaries and
    // complete. user 2: view@20, never followed up; the watermark
    // reaching 20+1000 < 2000 (batch 4's event time) must time it out.
    val out = withRocksDb(runBatches(Seq(
      Seq(ev(1, 1, 10, "view"), ev(2, 2, 20, "view")),
      Seq(ev(3, 1, 50, "click")),
      Seq(ev(4, 1, 90, "purchase")),
      Seq(ev(5, 3, 2000, "view"))))(df => Cep.run(df, relaxed)))
      .select("user_id", "first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Long, Int, Boolean)].collect().sortBy(_._2).toSeq
    assert(out.contains((1L, 1L, 4L, 3, true)),
      s"cross-batch completion missing: $out")
    assert(out.contains((2L, 2L, 2L, 1, false)),
      s"watermark timeout missing: $out")
    // user 3's view is still inside its window at the final watermark:
    // pending, not emitted
    assert(!out.exists(_._1 == 3L), s"pending partial leaked: $out")
  }

  test("times(n) quantifier: n strict repeats, noSkip overlapping starts") {
    def ev(id: Long, sec: Long, t: String) = TwsStreams.Event(
      id, new java.sql.Timestamp(sec * 1000L), 1L, t, 0.0, "{}")
    val evs = Seq(ev(1, 0, "a"), ev(2, 10, "a"), ev(3, 20, "a"), ev(4, 30, "b"))
      .toDS().toDF()
    val p = Cep.Pattern.begin("a")(_.event_type == "a").times(3).within(100L)
    val r = Cep.runBatch(evs, p)
      .select("first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Int, Boolean)].collect().sortBy(_._1).toSeq
    // noSkip: the run of three a's completes from event 1; the partials
    // opened at events 2 and 3 die on the strict-mismatching b
    assert(r === Seq((1L, 3L, 3, true)))
    // relaxed repeats skip the interloper: a x a a completes
    val evs2 = Seq(ev(1, 0, "a"), ev(2, 10, "x"), ev(3, 20, "a"), ev(4, 30, "a"))
      .toDS().toDF()
    val p2 = Cep.Pattern.begin("first")(_.event_type == "a")
      .followedBy("more")(_.event_type == "a").times(2).within(100L)
    val r2 = Cep.runBatch(evs2, p2).filter(col("matched"))
      .select("first_event_id", "last_event_id")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    // begin at 1: skips x, consumes a@3, a@4 -> match 1..4
    // begin at 3: consumes a@4, then times out (1 more 'a' needed)
    assert(r2 === Seq((1L, 4L)))
  }

  test("oneOrMore is reluctant: every sub-run of a consecutive run emits; no timeouts") {
    def ev(id: Long, sec: Long, t: String) = TwsStreams.Event(
      id, new java.sql.Timestamp(sec * 1000L), 1L, t, 0.0, "{}")
    val evs = Seq(ev(1, 0, "a"), ev(2, 10, "a"), ev(3, 20, "x"), ev(4, 30, "a"))
      .toDS().toDF()
    val p = Cep.Pattern.begin("a")(_.event_type == "a").oneOrMore.within(100L)
    val r = Cep.runBatch(evs, p)
      .select("first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Int, Boolean)].collect().sorted.toSeq
    // reluctant: [1], [1 2], and (noSkip) [2]; the x breaks the strict run
    // silently (the broken branches had already emitted); [4] restarts
    assert(r === Seq((1L, 1L, 1, true), (1L, 2L, 2, true), (2L, 2L, 1, true),
      (4L, 4L, 1, true)))
  }

  test("timesOrMore(2): emits at the minimum then each extension; strict break " +
    "is silent, trailing lone start times out") {
    def ev(id: Long, sec: Long, t: String) = TwsStreams.Event(
      id, new java.sql.Timestamp(sec * 1000L), 1L, t, 0.0, "{}")
    val evs = Seq(ev(1, 0, "a"), ev(2, 10, "a"), ev(3, 20, "b"), ev(4, 30, "a"))
      .toDS().toDF()
    val p = Cep.Pattern.begin("a")(_.event_type == "a").timesOrMore(2).within(100L)
    val r = Cep.runBatch(evs, p)
      .select("first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Int, Boolean)].collect().sorted.toSeq
    // [1 2] reaches the minimum; the partial seeded at 2 (reps=1) dies
    // SILENTLY on the strict-mismatching b (contiguity violation, not a
    // window expiry); the trailing lone a at 4 times out at end-of-data
    assert(r === Seq((1L, 2L, 2, true), (4L, 4L, 1, false)))
  }

  test("optional middle step: skipped when a later step's event arrives first; " +
    "a trailing optional step is rejected") {
    def ev(id: Long, user: Long, sec: Long, t: String) = TwsStreams.Event(
      id, new java.sql.Timestamp(sec * 1000L), user, t, 0.0, "{}")
    val evs = Seq(
      ev(1, 1, 0, "v"), ev(2, 1, 10, "c"), ev(3, 1, 20, "p"),   // v c p
      ev(11, 2, 0, "v"), ev(12, 2, 10, "x"), ev(13, 2, 20, "p"), // v x p
      ev(21, 3, 0, "v"), ev(22, 3, 10, "c"),                     // v c .
      ev(31, 4, 0, "v"),                                         // v . .
      ev(41, 5, 0, "v"), ev(42, 5, 10, "p"), ev(43, 5, 20, "c")  // v p c
    ).toDS().toDF()
    val p = Cep.Pattern.begin("v")(_.event_type == "v")
      .followedBy("c")(_.event_type == "c").optional
      .followedBy("p")(_.event_type == "p").within(100L)
    val r = Cep.runBatch(evs, p)
      .select("user_id", "first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Long, Int, Boolean)].collect().sortBy(_._2).toSeq
    assert(r === Seq(
      (1L, 1L, 3L, 3, true),    // optional step taken
      (2L, 11L, 13L, 2, true),  // optional step skipped (x ignored, relaxed)
      (3L, 21L, 22L, 2, false), // v+c but no p: times out with both consumed
      (4L, 31L, 31L, 1, false), // bare v times out
      (5L, 41L, 42L, 2, true))) // p first: completes past the optional c
    val trailing = Cep.Pattern.begin("v")(_.event_type == "v")
      .followedBy("c")(_.event_type == "c").optional.within(100L)
    assertThrows[IllegalArgumentException] { Cep.runBatch(evs, trailing) }
  }

  test("optional FIRST step: the pattern may start at the step after it") {
    def ev(id: Long, sec: Long, t: String) = TwsStreams.Event(
      id, new java.sql.Timestamp(sec * 1000L), 1L, t, 0.0, "{}")
    val p = Cep.Pattern.begin("a")(_.event_type == "a").optional
      .followedBy("b")(_.event_type == "b").within(100L)
    // a lone b matches with just the non-optional step
    val r1 = Cep.runBatch(Seq(ev(1, 0, "b")).toDS().toDF(), p)
      .select("first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Int, Boolean)].collect().toSeq
    assert(r1 === Seq((1L, 1L, 1, true)))
    // a b -> both the 2-step [a b] and (noSkip seed at b) the 1-step [b]
    val r2 = Cep.runBatch(Seq(ev(1, 0, "a"), ev(2, 10, "b")).toDS().toDF(), p)
      .select("first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Int, Boolean)].collect().sorted.toSeq
    assert(r2 === Seq((1L, 2L, 2, true), (2L, 2L, 1, true)))
  }

  test("skipPastLastEvent discards live partials when a match completes") {
    def ev(id: Long, sec: Long, t: String) = TwsStreams.Event(
      id, new java.sql.Timestamp(sec * 1000L), 1L, t, 0.0, "{}")
    val evs = Seq(ev(1, 0, "a"), ev(2, 5, "a"), ev(3, 10, "a")).toDS().toDF()
    val base = Cep.Pattern.begin("a")(_.event_type == "a").timesOrMore(2).within(100L)
    def outOf(p: Cep.Pattern) = Cep.runBatch(evs, p)
      .select("first_event_id", "last_event_id", "steps_matched", "matched")
      .as[(Long, Long, Int, Boolean)].collect().sorted.toSeq
    // noSkip: [1 2] matches, then extends to [1 2 3]; the overlapping seed
    // at 2 reaches [2 3]; the seed at 3 is left partial -> timeout
    assert(outOf(base) === Seq((1L, 2L, 2, true), (1L, 3L, 3, true),
      (2L, 3L, 2, true), (3L, 3L, 1, false)))
    // skipPast: the [1 2] completion wipes the slate (including the seed
    // at 2 and the completing event's own re-seed); 3 starts fresh
    assert(outOf(base.skipPastLastEvent) ===
      Seq((1L, 2L, 2, true), (3L, 3L, 1, false)))
  }

  test("quantified patterns: streaming == batch under the final-watermark cutoff") {
    val events = Tables.events(spark, dir)
    val wmMs = events.agg(max(unix_micros(col("ts")))).as[Long].head() / 1000L
    val burst = Cep.Pattern.begin("click")(_.event_type == "click")
      .oneOrMore.within(86400L)
    val optFunnel = Cep.Pattern.begin("view")(_.event_type == "view")
      .followedBy("click")(_.event_type == "click").optional
      .followedBy("purchase")(_.event_type == "purchase").within(86400L)
    for (p <- Seq(burst, optFunnel)) {
      val stream = StreamRunner.collect(
          Cep.run(Sources.eventsStream(spark, dir).withWatermark("ts", "0 seconds"), p))
        .select("user_id", "first_event_id", "last_event_id", "steps_matched", "matched")
        .as[(Long, Long, Long, Int, Boolean)].collect().sorted
      val batch = Cep.runBatch(events, p, cutoffMs = Some(wmMs))
        .select("user_id", "first_event_id", "last_event_id", "steps_matched", "matched")
        .as[(Long, Long, Long, Int, Boolean)].collect().sorted
      assert(stream.nonEmpty)
      assert(stream === batch)
      assert(stream.exists(_._5), "expected at least one match")
    }
  }

  test("maxPartials force-expires the oldest partials (hot-key state bound)") {
    // begin(any) with relaxed step that never fires: every event opens a
    // partial that lives until the window closes — unbounded without a cap
    def ev(id: Long) = TwsStreams.Event(
      id, new java.sql.Timestamp(id * 1000L), 1L, "a", 0.0, "{}")
    val evs = (1L to 50L).map(ev).toDS().toDF()
    val p = Cep.Pattern.begin("a")(_.event_type == "a")
      .followedBy("never")(_.event_type == "zzz").within(100000L)
      .copy(maxPartials = 10)
    val out = Cep.runBatch(evs, p).select("first_event_id", "matched")
      .as[(Long, Boolean)].collect()
    assert(out.forall(!_._2))
    assert(out.length === 50) // 40 force-expired + 10 end-of-data tails
    // the force-expired ones are the OLDEST starts
    assert(out.map(_._1).sorted === (1L to 50L).toArray)
  }
}
