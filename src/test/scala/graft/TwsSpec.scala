package graft

import java.time.Duration

import scala.jdk.CollectionConverters._

import graft.operators.Sessionize
import graft.streaming.TwsStreams
import graft.streaming.TwsStreams.Event
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, unix_seconds}
import org.apache.spark.sql.streaming.Trigger

/** The transformWithState operators (TwsStreams) across micro-batch
  * boundaries: each must agree with its batch oracle in
  * [[graft.operators.Sessionize]] (under the final-watermark cutoff where
  * a timer decides), its state and timers must survive a query restart,
  * its state must be readable offline through the `statestore` source,
  * and per-state TTL must actually expire state. All queries here run
  * under the RocksDB provider (transformWithState requires it) with
  * explicit stops (TTL's ProcessingTime mode never self-terminates under
  * AvailableNow — see TwsStreams' scaladoc). */
class TwsSpec extends SparkSpec {

  private def ts(sec: Long): java.sql.Timestamp =
    new java.sql.Timestamp(sec * 1000L)

  private def ev(id: Long, user: Long, sec: Long, typ: String = "view"): Event =
    Event(id, ts(sec), user, typ, 1.0, "{}")

  /** Feed `batches` through a MemoryStream one micro-batch each, with an
    * optional wall-clock pause between them (the TTL test's knob).
    *
    * `awaitCounts` (cumulative output rows per batch) switches the
    * per-batch barrier from `processAllAvailable()` to polling the memory
    * sink. REQUIRED for ProcessingTime-mode tws: there
    * `shouldRunAnotherBatch` is unconditionally true (decompiled
    * TransformWithStateExecBase — TTL state may newly be evictable
    * whenever the wall clock advances), so `noNewData` never latches and
    * `processAllAvailable()` blocks forever while the trigger spins
    * no-data micro-batches. EventTime-mode queries keep the exact
    * `processAllAvailable` barrier. */
  private def runBatches(batches: Seq[Seq[Event]], pauseMs: Long = 0L,
      awaitCounts: Seq[Long] = Nil, triggerMs: Long = 0L,
      ckpt: Option[String] = None)(
      f: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val name = s"tws_${System.nanoTime()}"
    val q = f(ms.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt.getOrElse(testCheckpoint(name)))
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
    val barriers: Seq[Long] =
      if (awaitCounts.isEmpty) batches.map(_ => -1L) else awaitCounts
    try batches.zip(barriers).foreach { case (b, c) =>
      if (pauseMs > 0) Thread.sleep(pauseMs)
      ms.addData(b)
      if (c < 0) q.processAllAvailable()
      else {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (spark.table(name).count() < c) {
          if (System.nanoTime() > deadline)
            fail(s"timed out waiting for $c rows in $name")
          Thread.sleep(50L)
        }
      }
    } finally q.stop()
    spark.table(name)
  }

  /** Two query lifecycles over one MemoryStream and ONE checkpoint: the
    * first feeds `first` and stops, a fresh query resumes from the
    * checkpoint and feeds `second`. Returns the rows of both lifecycles
    * (through foreachBatch: the memory sink refuses checkpoint recovery).
    * A lost offset re-emits the first lifecycle's rows; lost state or
    * timers change what the second one emits. */
  private def runResumed(first: Seq[Seq[Event]], second: Seq[Seq[Event]])(
      f: DataFrame => DataFrame): Seq[Row] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val ckpt = testCheckpoint(s"tws_resume_${System.nanoTime()}")
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def lifecycle(batches: Seq[Seq[Event]]): Unit = {
      val q = f(ms.toDF()).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(acc.add)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    try withRocksDb { lifecycle(first); lifecycle(second) }
    finally TmpDirs.rmTree(ckpt)
    acc.asScala.toSeq
  }

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  private def batchOf(batches: Seq[Seq[Event]]): DataFrame = {
    import spark.implicits._
    batches.flatten.toDF()
  }

  // a key that revisits across days and batches, plus a single-visit key
  private val day = 86400L
  private val fixture: Seq[Seq[Event]] = Seq(
    Seq(ev(1, 10, 100), ev(2, 10, 200), ev(3, 20, 150)),
    Seq(ev(4, 10, day + 50), ev(5, 20, 300)),
    Seq(ev(6, 10, day + 90), ev(7, 30, 2 * day)))

  test("tws newOldFlag == batch Sessionize.newOldFlag across batch boundaries") {
    val cols = Seq("user_id", "event_id", "is_new")
    val t = rows(withRocksDb(runBatches(fixture)(TwsStreams.newOldFlag)), cols: _*)
    assert(t == rows(Sessionize.newOldFlag(batchOf(fixture)), cols: _*))
    // only each user's first-ever event is new, whichever batch carries it
    assert(t.filter(_(2) == 1).map(_(1)) == Set(1L, 3L, 7L))
  }

  test("tws uvDedup == batch Sessionize.uvDedup across batch boundaries") {
    val cols = Seq("user_id", "dt", "event_id")
    val t = rows(withRocksDb(runBatches(fixture)(TwsStreams.uvDedup)), cols: _*)
    assert(t == rows(Sessionize.uvDedup(batchOf(fixture)), cols: _*))
    // first event per (user, day): 10@d0, 20@d0 (batch-2 revisit dropped),
    // 10@d1 (batch-3 revisit dropped), 30@d2
    assert(t == Set(Seq(10L, "1970-01-01", 1L), Seq(20L, "1970-01-01", 3L),
      Seq(10L, "1970-01-02", 4L), Seq(30L, "1970-01-03", 7L)))
  }

  test("tws bounces == batch Sessionize.bounces past the watermark: data AND timer arms") {
    // gap 60s; key 40: id1→id3 100s apart (data-path bounce on id1), then
    // id3's deadline (260) is crossed by the watermark mid-stream (timer
    // path); key 50: one event, deadline 170 crossed by batch 2's
    // watermark advance (timer path); key 60 and the sentinel: deadlines
    // 460/519 never crossed — pending, so the batch truth keeps only the
    // bounces whose deadline the last data batch's watermark (400) passed.
    //
    // The sentinel batch (key 99 @ 459s) makes the timer firings
    // DETERMINISTIC: timeouts/timers are evaluated during data batches
    // against the previous batch's watermark (id3's deadline 260 < 400 ⇒
    // fires inside batch 4), whereas the post-final-batch no-data flush
    // that a bare 3-batch run would need is racy under
    // processAllAvailable+stop — the flush batch is scheduled by
    // shouldRunAnotherBatch AFTER noNewData may have latched. 459 is
    // chosen so the final watermark crosses NO remaining deadline, making
    // the race unobservable.
    val b: Seq[Seq[Event]] = Seq(
      Seq(ev(1, 40, 100), ev(2, 50, 110)),
      Seq(ev(3, 40, 200)),
      Seq(ev(4, 60, 400)),
      Seq(ev(99, 99, 459)))
    val t = rows(withRocksDb(runBatches(b)(d => TwsStreams.bounces(
      d.withWatermark("ts", "0 seconds"), gapSec = 60L))), "event_id", "user_id")
    val batch = Sessionize.bounces(batchOf(b), gapSec = 60L)
      .filter(unix_seconds(col("ts")) + 60L < 400L)
    assert(t == rows(batch, "event_id", "user_id"))
    assert(t == Set(Seq(1L, 40L), Seq(2L, 50L), Seq(3L, 40L)))
  }

  test("tws sessionStats == session_window sessionStats across batches") {
    // gap 60s; key 10: two events 30s apart (one session, n=2), then a
    // revisit 120s later (second session, n=1); key 20: one event; the
    // two sentinel batches (99@700, 98@705) stage the watermark so every
    // closed session's timer fires inside a DATA batch (end 190/310 <
    // wm 500 by batch 3, end 560 < wm 700 by batch 4) while no sentinel's
    // own deadline (760/765) is ever crossed — the same determinism
    // argument as the bounce test. The tws side runs CODEGEN_ONLY: a
    // state encoder Janino cannot compile (e.g. a private case class)
    // then fails here instead of silently falling back to interpreted
    // evaluation.
    val b: Seq[Seq[Event]] = Seq(
      Seq(ev(1, 10, 100), ev(2, 10, 130)),
      Seq(ev(3, 10, 250), ev(4, 20, 500)),
      Seq(ev(5, 99, 700)),
      Seq(ev(6, 98, 705)))
    withRocksDb {
      def wm(df: DataFrame) = df.withWatermark("ts", "0 seconds")
      val tws = Sessions.withConf(spark,
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        runBatches(b)(d => TwsStreams.sessionStats(wm(d), gapSec = 60L))
          .select("user_id", "stt_us", "n_events")
      }
      val sw = runBatches(b)(
          d => graft.streaming.WindowedStreams.sessionStats(d, gapSec = 60L))
        .select("user_id", "stt_us", "n_events")
      val t = tws.collect().map(_.toSeq).toSet
      val s = sw.collect().map(_.toSeq).toSet
      assert(t == s)
      assert(t == Set(Seq(10L, 100000000L, 2L), Seq(10L, 250000000L, 1L),
        Seq(20L, 500000000L, 1L)))
    }
  }

  test("TTL state actually expires (the FMGWS-inexpressible capability)") {
    withRocksDb {
      // same key in 3 batches; 300ms TTL, ~1s pause between batches —
      // state set in batch k is expired by batch k+1, so no row ever
      // sees prior state. Then the control: no pause, wide TTL — later
      // batches DO see it. (Within one batch the 2nd row sees the 1st
      // row's fresh update either way.)
      val batches = Seq(Seq(ev(1, 70, 100)), Seq(ev(2, 70, 200)),
        Seq(ev(3, 70, 300), ev(4, 70, 400)))
      // ProcessingTime mode: count-barriers, not processAllAvailable
      // (see runBatches' scaladoc), and a throttled trigger so the
      // unavoidable always-another-batch spin doesn't burn RocksDB
      // commits at full speed during the TTL pauses.
      val expired = runBatches(batches, pauseMs = 1000L,
          awaitCounts = Seq(1L, 2L, 4L), triggerMs = 100L)(
          d => graft.streaming.TtlProbe(d, Duration.ofMillis(300)))
        .collect().map(r => r.getLong(1) -> r.getBoolean(2)).toMap
      assert(expired == Map(1L -> false, 2L -> false, 3L -> false,
        4L -> true))
      val kept = runBatches(batches,
          awaitCounts = Seq(1L, 2L, 4L), triggerMs = 100L)(
          d => graft.streaming.TtlProbe(d, Duration.ofHours(1)))
        .collect().map(r => r.getLong(1) -> r.getBoolean(2)).toMap
      assert(kept == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
    }
  }

  test("checkpoint resume: tws state and a pending timer survive a restart") {
    // uvDedup: user 10's day-0 visit lands before the restart, so its
    // day-0 revisit after it must stay deduped (lost state re-emits id 3)
    // and no first-lifecycle row may repeat (a lost offset re-emits 1, 2)
    val uv = runResumed(Seq(Seq(ev(1, 10, 100), ev(2, 20, 150))),
        Seq(Seq(ev(3, 10, 200), ev(4, 10, day + 50), ev(5, 30, 300))))(
        TwsStreams.uvDedup)
      .map(_.getAs[Long]("event_id")).sorted
    assert(uv == Seq(1L, 2L, 4L, 5L))
    // bounces (gap 60s): id 1's timer (deadline 160) is registered before
    // the restart and fires after it, once the second lifecycle's last
    // batch sees the watermark at 300; id 2's deadline 360 stays pending
    val bounced = runResumed(Seq(Seq(ev(1, 40, 100))),
        Seq(Seq(ev(2, 50, 300)), Seq(ev(3, 60, 310))))(d =>
        TwsStreams.bounces(d.withWatermark("ts", "0 seconds"), gapSec = 60L))
      .map(_.getAs[Long]("event_id"))
    assert(bounced == Seq(1L))
  }

  test("the statestore source reads a tws ValueState by stateVarName") {
    val ckpt = testCheckpoint(s"tws_state_${System.nanoTime()}")
    val lastDt = try withRocksDb {
      runBatches(fixture, ckpt = Some(ckpt))(TwsStreams.uvDedup).count()
      spark.read.format("statestore").option("stateVarName", "lastDt")
        .load(ckpt)
        .select(col("key.value"), col("value.value"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    } finally TmpDirs.rmTree(ckpt)
    // the LAST emitted date per user, across all three batches
    assert(lastDt == Map(10L -> "1970-01-02", 20L -> "1970-01-01",
      30L -> "1970-01-03"))
  }
}
