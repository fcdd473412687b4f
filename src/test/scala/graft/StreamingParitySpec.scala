package graft

import graft.gmall.OrderWide
import graft.operators.{Joins, Sessionize}
import graft.streaming.TwsStreams
import graft.streaming.TwsStreams.Event
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, LogicalPlan}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The property the correctness gate cannot check: stateful operators must
  * give the same answer when events arrive split across micro-batches —
  * state carries across batch boundaries exactly like the reference's
  * Flink keyed state across checkpoints.
  */
class StreamingParitySpec extends SparkSpec {

  private def ts(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(sec * 1000L)

  private def ev(id: Long, user: Long, sec: Long, typ: String = "view"): Event =
    Event(id, ts(sec), user, typ, 1.0, "{}")

  /** Run a stateful transform over a MemoryStream fed in `batches`,
    * one micro-batch each, returning the accumulated sink. */
  private def runBatches(
      batches: Seq[Seq[Event]])(f: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val name = s"parity_${System.nanoTime()}"
    val q = f(ms.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation",
        testCheckpoint(name))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name)
  }

  test("foldBatches SCD2 maintenance: exact under OUT-OF-ORDER batches — " +
    "the case dim-compacted state would corrupt") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ms = MemoryStream[Event]
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val q = ms.toDF()
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        state.set(Option(state.get)
          .map(_.unionByName(b)).getOrElse(b).localCheckpoint(true))
        ()
      }
      .option("checkpointLocation",
        testCheckpoint(s"scd2-${System.nanoTime()}"))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // batch 1: A@10, A@30 (the A@30 row is "unchanged" — compaction
    // would drop it). batch 2: a LATE B@20 lands between them, making
    // A@30 open a version again. Raw accumulation gets A,B,A; state
    // compacted to the dim after batch 1 would emit A,B only.
    Seq(
      Seq(ev(1, 100, 10, "A"), ev(2, 100, 30, "A")),
      Seq(ev(3, 100, 20, "B"))
    ).foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    val hist = graft.operators.Scd.scd2(state.get,
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        attrCols = Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("is_current"))
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(hist.toSeq === Seq((1L, "A", 0), (2L, "A", 1), (3L, "B", 0)))
  }

  test("T1 new/old flag: only the first-ever event is new, across batches") {
    val out = withRocksDb(runBatches(Seq(
      Seq(ev(1, 100, 10), ev(2, 100, 20)),
      Seq(ev(3, 100, 30), ev(4, 200, 40))))(TwsStreams.newOldFlag))
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Int]("is_new"))).toMap
    assert(out === Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 1))
  }

  test("T2 uv dedup: first event per user-day survives, state spans batches") {
    val day = 86400L
    val out = withRocksDb(runBatches(Seq(
      Seq(ev(1, 100, 10), ev(2, 100, 20)),            // day 0: keep 1
      Seq(ev(3, 100, 30)),                            // day 0 again: drop
      Seq(ev(4, 100, day + 5), ev(5, 200, day + 6)))  // day 1: keep both
    )(TwsStreams.uvDedup))
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(out === Set(1L, 4L, 5L))
  }

  test("T3 bounce: successor-gap match emits; watermark timeout emits; pending stays") {
    val out = withRocksDb(runBatches(Seq(
      Seq(ev(1, 100, 0), ev(2, 100, 10)),   // gap 10s < 60: ev1 not a bounce
      Seq(ev(3, 100, 200)),                 // gap 190s > 60: ev2 bounces on arrival
      Seq(ev(4, 200, 500)),                 // watermark -> 500: ev3 times out (200+60<500)
      Seq(ev(5, 300, 501))))(df =>
      TwsStreams.bounces(df.withWatermark("ts", "0 seconds"), gapSec = 60L)))
      .collect().map(_.getAs[Long]("event_id")).toSet
    // ev4 (ts 500) + 60 > watermark 501 and ev5 is trailing: both stay pending
    assert(out === Set(2L, 3L))
  }

  test("stream-stream LEFT OUTER interval join: matches emit on arrival, " +
    "unmatched lefts emit null-padded once the watermark passes their window") {
    import org.apache.spark.sql.functions._
    def split(df: DataFrame): (DataFrame, DataFrame) = (
      df.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("v_id")),
      df.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts")))
    // the global watermark is the MIN across both branch watermarks
    // (multipleWatermarkPolicy=min), so the click branch must also see
    // late events or it pins the watermark and no null row ever emits
    val out = runBatches(Seq(
      Seq(ev(1, 100, 10), ev(2, 200, 15)),          // two views open
      Seq(ev(3, 100, 50, "click")),                 // match for view 1 (gap 40 <= 60)
      Seq(ev(4, 300, 500), ev(5, 999, 500, "click")),
      Seq(ev(6, 300, 600), ev(7, 999, 600, "click"))))(df => {
      val (v, c) = split(df)
      Joins.intervalJoin(
        v, c, "v_user", "c_user", "v_ts", "c_ts",
        lowerSec = 0L, upperSec = 60L, joinType = "leftOuter")
    }).select(col("v_id"), col("c_ts").isNull.as("unmatched"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    // view 1 matched; view 2's window [15, 75] closed once both branch
    // watermarks passed it -> null-padded; view 4's [500, 560] closed by
    // watermark 600; view 6 still open -> pending
    assert(out === Set((1L, false), (2L, true), (4L, true)))
  }

  private def viewsClicks(df: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    (df.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts")),
     df.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts")))
  }

  private def hasWatermark(plan: LogicalPlan): Boolean =
    plan.collectFirst { case w: EventTimeWatermark => w }.nonEmpty

  test("intervalJoin on batch inputs: the optimizer drops every watermark") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def join(df: DataFrame) = {
      val (v, c) = viewsClicks(df)
      Joins.intervalJoin(v, c, "v_user", "c_user", "v_ts", "c_ts",
        0L, 60L, watermark = "5 seconds")
    }
    // the body watermarks both sides: a stream keeps the node ...
    implicit val sqlCtx = spark.sqlContext
    assert(hasWatermark(join(MemoryStream[Event].toDF()).queryExecution.analyzed))
    // ... and a batch plan never does
    val j = join(Seq(ev(1, 1, 10), ev(2, 1, 20, "click")).toDF())
    assert(!hasWatermark(j.queryExecution.optimizedPlan))
    assert(j.count() === 1L)
    def t(sec: Int) = f"2021-01-01 10:00:$sec%02d"
    val orderInfo = Seq((100L, 1L, t(10))).toDF("id", "user_id", "create_time")
    val orderDetail = Seq((1000L, 100L, 7L, t(12)))
      .toDF("id", "order_id", "sku_id", "create_time")
      .withColumn("order_price", lit(new java.math.BigDecimal("9.99")))
      .withColumn("sku_num", lit(1L))
      .withColumn("sku_name", lit("sku"))
      .withColumn("split_total_amount", lit(new java.math.BigDecimal("9.99")))
    val payment = Seq((5000L, 100L, "alipay", t(20)))
      .toDF("id", "order_id", "payment_type", "create_time")
      .withColumn("total_amount", lit(new java.math.BigDecimal("9.99")))
    val wide = OrderWide.join(orderInfo, orderDetail)
    val paid = OrderWide.paymentWide(payment, wide)
    Seq(wide, paid).foreach(df =>
      assert(!hasWatermark(df.queryExecution.optimizedPlan)))
    assert(paid.select("payment_id", "order_id", "sku_id")
      .as[(Long, Long, Long)].collect().toSeq === Seq((5000L, 100L, 7L)))
  }

  test("intervalJoin on a DATE band runs as a batch plan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // j1's shape: DATE event times, a band in days given in seconds
    val d = java.sql.Date.valueOf(_: String)
    val orders = Seq((1L, d("1995-01-01")), (2L, d("1995-06-01")))
      .toDF("o_key", "o_date")
    val items = Seq((1L, d("1995-01-20")), (1L, d("1995-03-01")),
      (2L, d("1995-06-01")), (3L, d("1995-01-01")))
      .toDF("l_key", "l_date")
    val out = Joins.intervalJoin(orders, items, "o_key", "l_key",
      "o_date", "l_date", lowerSec = 0L, upperSec = 30L * 86400L)
      .select(col("o_key"), col("l_date").cast("string"))
      .as[(Long, String)].collect().toSet
    assert(out === Set((1L, "1995-01-20"), (2L, "1995-06-01")))
  }

  test("intervalJoin: batch == stream to the final watermark (inner, left)") {
    import spark.implicits._
    val batches = Seq(
      Seq(ev(1, 1, 10), ev(2, 2, 15), ev(3, 1, 20, "click")),
      Seq(ev(4, 1, 50, "click"), ev(5, 3, 100)),
      Seq(ev(6, 3, 200, "click"), ev(7, 2, 300, "click")),
      // both branch watermarks pass every band: all pending rows close
      Seq(ev(8, 9, 10000), ev(9, 9, 10000, "click")))
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    Seq("inner", "leftOuter").foreach { joinType =>
      def join(df: DataFrame) = {
        val (v, c) = viewsClicks(df)
        Joins.intervalJoin(v, c, "v_user", "c_user", "v_ts", "c_ts",
          0L, 60L, joinType = joinType)
      }
      val batch = sorted(join(batches.flatten.toDF()))
      val streamed = sorted(runBatches(batches)(join))
      assert(streamed === batch, joinType)
      // user 1's view pairs with both clicks and user 9's pair matches;
      // the views of users 2 and 3 only null-pad
      val expected = if (joinType == "inner") 3 else 5
      assert(batch.length === expected, joinType)
    }
  }

  test("T4 session_window: sessions merge across batches, close on watermark") {
    import org.apache.spark.sql.functions._
    val out = runBatches(Seq(
      Seq(ev(1, 100, 0), ev(2, 100, 50)),      // open session [0, 50+60)
      Seq(ev(3, 100, 80)),                      // extends it: [0, 140)
      Seq(ev(4, 200, 1000)),                    // watermark -> 1000 closes it
      Seq(ev(5, 300, 5000))))(df =>             // closes user 200's session
      graft.streaming.WindowedStreams.sessionStats(df, gapSec = 60L))
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // user 100: one 3-event session (the cross-batch merge); user 200's
    // single-event session closed at watermark 5000; user 300 pending
    assert(out === Map(100L -> 3L, 200L -> 1L))
  }

  test("T4 parity: streaming session boundaries == batch sessionize") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events = Seq(
      ev(1, 1, 0), ev(2, 1, 30), ev(3, 1, 200), // gap 170 > 60: two sessions
      ev(4, 2, 10), ev(5, 2, 70),               // gap exactly 60: MERGES
      ev(6, 3, 40),
      ev(7, 9, 100000))                         // watermark pusher
    // batches are roughly time-ordered; the 1000s watermark delay keeps
    // slightly-out-of-order arrivals from being dropped as late
    val batches = Seq(
      Seq(events(0), events(1), events(3)),
      Seq(events(4), events(5), events(2)),
      Seq(events(6)))
    val streamed = runBatches(batches)(df =>
      graft.streaming.WindowedStreams.sessionStats(df, gapSec = 60L,
        watermark = "1000 seconds"))
      .filter(col("user_id") =!= 9L)
      .select(col("user_id"), col("stt_us"), col("n_events"))
      .collect().map(_.toString).sorted
    val batch2 = Sessionize.sessionize(events.toDF(), gapSec = 60L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(unix_micros(min(col("ts"))).as("stt_us"), count(lit(1)).as("n_events"))
      .filter(col("user_id") =!= 9L)
      .select(col("user_id"), col("stt_us"), col("n_events"))
      .collect().map(_.toString).sorted
    assert(streamed === batch2)
  }

  test("T7 late data: an event behind the watermark is dropped from the window agg") {
    import org.apache.spark.sql.functions._
    val out = runBatches(Seq(
      Seq(ev(1, 100, 5), ev(2, 100, 8)),   // window [0,10): 2 events
      Seq(ev(3, 200, 1000)),               // watermark -> 1000, closes [0,10)
      Seq(ev(4, 100, 3)),                  // LATE: behind watermark -> dropped
      Seq(ev(5, 300, 2000))))(df =>        // close everything else
      graft.streaming.WindowedStreams.productStats(df, windowSec = 10,
        watermark = "0 seconds"))
      .filter(col("stt") === "1970-01-01 00:00:00")
      .select(col("ct")).collect().map(_.getLong(0))
    // the [0,10) window emitted once, with 2 events — the late 3rd never counted
    assert(out.toSeq === Seq(2L))
  }

  test("T2 parity: streaming over shuffled batches == batch operator") {
    import spark.implicits._
    val events = Seq(
      ev(1, 1, 100), ev(2, 1, 200), ev(3, 1, 86400 + 100),
      ev(4, 2, 50), ev(5, 2, 60), ev(6, 3, 999))
    val streamed = withRocksDb(
        runBatches(events.grouped(2).toSeq)(TwsStreams.uvDedup))
      .select("event_id").as[Long].collect().toSet
    val batch = Sessionize.uvDedup(events.toDF())
      .select("event_id").as[Long].collect().toSet
    assert(streamed === batch)
  }

  test("interval join -> windowed agg: the aggregation's close is DELAYED " +
    "by the join bound (end <= wm - upper), not the raw watermark") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ms = MemoryStream[Event]
    val ev2 = ms.toDF()
    val views = ev2.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val clicks = ev2.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val name = s"parity_joinagg_${System.nanoTime()}"
    val q = Joins.intervalJoin(
        views, clicks, "v_user", "c_user", "v_ts", "c_ts", 0L, 600L)
      .groupBy(window(col("v_ts"), "3600 seconds"))
      .agg(count(lit(1)).as("pair_ct"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation",
        testCheckpoint(name))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def feed(evs: Event*): Long = {
      ms.addData(evs); q.processAllAvailable(); spark.table(name).count()
    }
    // pair (view@100, click@150) lands in window [0,3600)
    assert(feed(ev(1, 1, 100), ev(2, 1, 150, "click")) === 0L)
    // wm -> 4000 on BOTH branches: end 3600 <= 4000 but NOT <= 4000-600,
    // so the window must stay OPEN (a further click@4100 could still pair
    // with a view@3599 inside it)
    assert(feed(ev(3, 9, 4000), ev(4, 9, 4000, "click")) === 0L)
    // wm -> 4300: 3600 <= 4300-600 closes it
    assert(feed(ev(5, 9, 4300), ev(6, 9, 4300, "click")) === 1L)
    q.stop()
  }

  test("chainedStats: TWO stateful aggregations in one query, cross-batch, " +
    "closed coarse windows equal the direct aggregate") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ms = MemoryStream[Event]
    val name = s"parity_chain_${System.nanoTime()}"
    val q = graft.streaming.WindowedStreams.chainedStats(
        ms.toDF(), fineSec = 10, coarseSec = 60)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation",
        testCheckpoint(name))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // coarse window [0,60): events at 5,15,25 across two batches; the
    // sentinel at 10000 advances the watermark past its end
    Seq(Seq(ev(1, 1, 5), ev(2, 1, 15)),
        Seq(ev(3, 2, 25), ev(4, 2, 70)),
        Seq(ev(5, 3, 10000)))
      .foreach { b => ms.addData(b); q.processAllAvailable() }
    // the progress log proves this really ran as TWO stateful operators
    // (chained windowed aggs), not one collapsed agg
    val nStateful = q.recentProgress.map(_.stateOperators.length).max
    q.stop()
    assert(nStateful === 2)
    val rows = spark.table(name)
      .select(col("stt"), col("ct"), col("amount"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    // [0,60): 3 events x value 1.0; [60,120): 1 event; sentinel pending
    assert(rows.toSeq === Seq(
      ("1970-01-01 00:00:00", 3L, 3.0),
      ("1970-01-01 00:01:00", 1L, 1.0)))
  }
}
