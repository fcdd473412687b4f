package graft

import graft.functions.TimeFns._
import graft.functions.TextFns._
import graft.functions.VectorFns
import graft.multimodal.Multimodal
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming twins: real micro-batch execution of the
  * stateful/windowed/join operators, checkpoint-resume, state introspection.
  *
  * Gate registry family split out of SparkEntry (round 13, registry
  * hygiene); SparkEntry.queries/oracleSql union the six families.
  */
private[graft] object GatesStreaming {
  import GateSupport._

  /** The interval-join gates' (j1, j7, j7b, chained join -> agg) join
    * of an event stream: each view (v_user, v_ts) with its user's clicks
    * (c_user, c_ts) in [v_ts, v_ts + 600 s]. */
  private[graft] def viewClickJoin(ev: DataFrame,
      joinType: String = "inner"): DataFrame =
    Joins.intervalJoin(
      ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts")),
      ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts")),
      "v_user", "c_user", "v_ts", "c_ts", lowerSec = 0L, upperSec = 600L,
      joinType = joinType)

  /** The skew gates' staged input: the canonical event chunks with
    * column `c` set to `hot` on even event ids and to `cold` on the rest. */
  private def skewedChunks(s: SparkSession, dir: String, c: String,
      hot: Column, cold: Column): Seq[DataFrame] =
    graft.streaming.Sources.eventsSplitChunks(s, dir).map { f =>
      s.read.parquet(f.getPath).withColumn(c,
        when(pmod(col("event_id"), lit(2L)) === 0, hot).otherwise(cold))
    }

  /** T2 streaming: per-key last-date ValueState dedup. Also the body of
    * the provider variant `stream_t2_uv_rocksdb` and the API variant
    * `stream_t2_uv_tws`: transformWithState is the one keyed-state API and
    * runs on the RocksDB provider, so both are this plan. Their names stay
    * so per-gate timings remain comparable across bench artifacts. */
  private val uvDedupGate: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.streaming.StreamRunner.collect(
      graft.streaming.TwsStreams.uvDedup(
        graft.streaming.Sources.eventsStreamSplit(s, dir)),
      // RocksDB pays a per-store-instance open/commit premium; the
      // 1.5k-row state wants width 2, not 8 (tws_uv_sp2 2.41 s vs sp8
      // 2.60 s: BASELINE.md "r11 driver-run drift attribution")
      statePartitions = 2)
      .select(col("user_id"), col("dt"), col("event_id"))
      .orderBy(col("user_id"), col("dt"))

  private val uvDedupOracleSql =
    """WITH f AS (SELECT user_id,
      |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS dt, event_id,
      |    row_number() OVER (PARTITION BY user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')
      |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events)
      |SELECT user_id, dt, event_id FROM f WHERE rn = 1 ORDER BY user_id, dt""".stripMargin

  /** T3 streaming: CEP bounce via an event-time timer. Keys whose final
    * event is within gapSec of the final watermark stay pending (live-
    * stream semantics); the oracle applies the same watermark cutoff.
    * Also the body of the API variant `stream_t3_bounce_tws`, kept under
    * its name like the T2 variants. Both decision
    * arms fire across the 4-batch split source: data-path bounces
    * (successor too late) and timer-path bounces (watermark passes
    * pending+gap mid-stream or at the flush). */
  private val bounceGate: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.streaming.StreamRunner.collect(
      graft.streaming.TwsStreams.bounces(
        graft.streaming.Sources.eventsStreamSplit(s, dir)
          .withWatermark("ts", "0 seconds"),
        gapSec = 1800L),
      statePartitions = 2)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("bounce_ct"))
      .orderBy(col("user_id"))

  // (b) event-time timeout: watermark (ms, = floor(max_us/1000) with 0s
  // delay) passed ts + gap. Trailing events inside the horizon stay
  // pending — mirrored here by the mu cutoff.
  private val bounceOracleSql =
    """WITH f AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |mx AS (SELECT max(us) AS mu FROM f),
      |g AS (SELECT user_id, us,
      |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
      |  FROM f)
      |SELECT user_id, COUNT(*) AS bounce_ct FROM g, mx
      |WHERE (nxt IS NOT NULL AND nxt - us > 1800000000)
      |   OR (nxt IS NULL AND (us + 1800000000)//1000 < mu//1000)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Seed a change-feed consumer's serving state at `out`: per-bucket
    * row count and price sum of `store`'s v1. */
  private def cdfSeed(s: SparkSession, store: String, out: String): Unit =
    Versioned.read(s, store, 1L)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("price")).cast("decimal(30,2)").as("ps"))
      .write.parquet(out)

  /** Fold one change-feed interval into the serving state: the state at
    * `prev` plus `cdf`'s signed per-bucket delta (+1 for I/U_post, -1
    * for D/U_pre: updates cancel in the count and move the sum by
    * exactly new-old), written to `out`. */
  private def cdfFold(s: SparkSession, cdf: DataFrame, prev: String,
      out: String): Unit = {
    val sign = when(col("op").isin("I", "U_post"), 1L).otherwise(-1L)
    val delta = cdf.groupBy(col("bucket"))
      .agg(sum(sign).as("dc"),
        sum(sign * col("price")).cast("decimal(30,2)").as("dps"))
    s.read.parquet(prev)
      .join(delta, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("cnt"),
        (coalesce(col("ps"), lit(0).cast("decimal(30,2)")) +
          coalesce(col("dps"), lit(0).cast("decimal(30,2)")))
          .cast("decimal(30,2)").as("ps"))
      .write.parquet(out)
  }

  /** A change-feed gate's result: the serving state at `path` with its
    * fold count. */
  private def cdfResult(s: SparkSession, path: String, nTicks: Long,
      extra: Column*): DataFrame =
    s.read.parquet(path)
      .select(Seq(col("bucket"), col("cnt"),
        col("ps").cast("double").as("price_sum"),
        lit(nTicks).as("n_ticks")) ++ extra: _*)
      .orderBy(col("bucket"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── J14 streaming twin: temporal enrich as a STREAM-STATIC join —
    // the reference's production shape (OrderWide's dim lookups) done
    // time-correctly: each arriving fact joins the SCD2 version valid at
    // ITS event time, not the dim's latest value. Stream-static inner
    // joins are stateless on the stream side (no watermark, no join
    // state — the static side is just a build relation per micro-batch),
    // so this costs what the batch join costs, re-planned per batch.
    // Same oracle as j14 — the execution mode must not change the answer.
    "stream_j14_temporal" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val v1 = c.select(col("c_custkey"),
        lit("1992-01-01 00:00:00").cast("timestamp").as("ts"),
        lit(1L).as("seq"), col("c_acctbal").as("bal"))
      val v2 = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"),
          lit("1998-01-01 00:00:00").cast("timestamp").as("ts"),
          lit(2L).as("seq"), (col("c_acctbal") + 100.0).as("bal"))
      val hist = graft.operators.Scd.scd2(
        v1.unionByName(v2), "c_custkey", "ts", "seq", Seq("bal"))
      val facts = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").cast("timestamp").as("ft"))
      def part(i: Int) = facts.filter(pmod(col("o_custkey"), lit(3L)) === i)
      withScratch("stream_j14_temporal") { stage =>
        val stream = graft.streaming.Sources.stagedChunkStream(s,
          Seq(part(0), part(1), part(2)), stage)
        graft.streaming.StreamRunner.collect(
          stream.join(hist,
            stream("o_custkey") === hist("c_custkey") &&
              col("ft") >= col("effective_from") &&
              (col("effective_to").isNull ||
                col("ft") < col("effective_to")))
            .select(col("seq").as("version"), col("o_totalprice"),
              col("bal")),
          statePartitions = 2)
          .groupBy(col("version"))
          .agg(count(lit(1)).as("ct"),
            sum(dec("o_totalprice")).cast("double").as("price_sum"),
            sum(col("bal").cast("decimal(18,2)")).cast("double")
              .as("bal_sum"))
          .orderBy(col("version"))
      }
    }),


    // ── K12 streaming twin: the SAME Incremental.merge fold, fed by real
    // Structured Streaming micro-batches through foreachBatch — each
    // batch's partials fold into the parquet state store, so the batch
    // refresh (k12) and the live pipeline maintain ONE interchangeable
    // state table (the lambda-architecture unification: no separate
    // "speed layer" aggregate to reconcile). Three ts-contiguous
    // micro-batches; associativity (MergeIncrementalSpec) is what makes
    // the fold order irrelevant — the oracle is the same full
    // recompute, equality at every batch split.
    // ── K21 streaming twin: an INCREMENTAL CHANGE-FEED CONSUMER (the
    // Delta-CDF-reader shape, r14 verdict task 3). The versioned store
    // commits three merges; a downstream serving aggregate then follows
    // the history WITHOUT recompute: each micro-batch carries one
    // version tick, reads that interval's CDF WITH pre-images
    // (Versioned.changesWithPreImages — churned-partition files only),
    // reduces it to a signed per-bucket delta and folds it into the
    // parquet state store ([[cdfFold]]). Addition commutes, so batch
    // order is irrelevant — the at-scale posture where CDF intervals
    // arrive from a queue. Oracle = full recompute of the final
    // snapshot: equality proves incremental == recompute.
    "stream_k21_cdf" -> ((s, dir) => withScratch("stream_k21_cdf") { root =>
      val (store, ticks, state) =
        (s"$root/store", s"$root/ticks", s"$root/state")
      val base = storeBase(s, dir)
      Versioned.init(s, store, "bucket", base)
      storeMerges(base).foreach(Versioned.merge(s, store, "bucket", "k", _))
      // serving state seeded from v1 (the one-time build, k12 pattern)
      import s.implicits._
      cdfSeed(s, store, s"$state/s0")
      // one tick file per CDF interval -> one micro-batch each
      Seq(2L, 3L, 4L).foreach(v =>
        Seq(v).toDF("tick").coalesce(1).write.mode("append").parquet(ticks))
      val cur = new java.util.concurrent.atomic.AtomicReference(s"$state/s0")
      val nTicks = new java.util.concurrent.atomic.AtomicLong(0L)
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tick",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1").parquet(ticks)
      graft.streaming.StreamRunner.runForeachBatch(stream) { (b, _) =>
        b.select(col("tick")).collect().map(_.getLong(0)).foreach { v =>
          val n = nTicks.incrementAndGet()
          cdfFold(s, Versioned.changesWithPreImages(s, store, v - 1, v, "k"),
            cur.get(), s"$state/s$n")
          cur.set(s"$state/s$n")
        }
      }
      cdfResult(s, cur.get(), nTicks.get())
    }),


    // ── K22 streaming twin: the TRANSACTION LOG ITSELF as the stream —
    // stream_k21_cdf stages version ticks; here the consumer TAILS the
    // store's commit pointers through ChangeFeed.run
    // (maxFilesPerTrigger=1 ⇒ one commit per micro-batch), which maps
    // each batch's arriving pointer to its version and hands over that
    // interval's pre-image CDF, folded into the serving store. This is
    // the Delta-CDF-reader discovery shape end-to-end: no side channel,
    // the committed log is the streamable source, and a consumer
    // attaching later replays history in commit order. Same
    // signed-delta fold and the same full-recompute oracle as the tick
    // twin (shared val).
    "stream_k22_cdf_tail" -> ((s, dir) =>
        withScratch("stream_k22_cdf_tail") { root =>
      val (store, state, ckpt) =
        (s"$root/store", s"$root/state", s"$root/ckpt")
      val base = storeBase(s, dir)
      Versioned.init(s, store, "bucket", base)
      storeMerges(base).foreach(Versioned.merge(s, store, "bucket", "k", _))
      // consumer attaches AFTER v1 (its state is seeded from v1, the
      // one-time build) and tails the log for everything later
      cdfSeed(s, store, s"$state/v1")
      val n = new java.util.concurrent.atomic.AtomicLong(0L)
      graft.streaming.ChangeFeed.run(s, store, "k", ckpt,
          startingVersion = 1L, maxFilesPerTrigger = 1) {
        (cdf, fromV, toV, _) =>
          n.incrementAndGet()
          cdfFold(s, cdf, s"$state/v$fromV", s"$state/v$toV")
      }
      cdfResult(s, s"$state/v${Versioned.latest(store)}", n.get())
    }),


    // ── K25 streaming twin: KILL-AND-RESUME over the reusable
    // change-feed source (r15 verdict task 2). stream_k21 hand-rolls
    // tick staging with an AtomicReference state pointer, which does
    // not survive a restart. streaming.ChangeFeed is the extracted
    // first-class entry point: version-as-offset via the file source's
    // own checkpointed offsets, one contiguous CDF interval per
    // micro-batch. The gate runs TWO lifecycles over ONE durable
    // checkpoint: lifecycle 1 applies v2, then CRASHES mid-log — after
    // folding v3's delta into the state store but before the batch
    // commits (the worst-ordered crash: state applied, offset not).
    // Lifecycle 2 resumes from the checkpoint, gets v3 REDELIVERED
    // under the same batch id, skips it idempotently (the state dir for
    // its toV already exists — the foreachBatch contract), and applies
    // v4. Exactly-once is the ORACLE's verdict, not a flag: a dropped
    // redelivery or a double-apply moves cnt/price_sum off the full
    // recompute and hash-mismatches. State is re-anchored from the
    // store listing each fold — no in-memory pointer survives, exactly
    // like a restarted consumer.
    "stream_k25_cdf_resume" -> ((s, dir) =>
        withScratch("stream_k25_cdf_resume") { root =>
      val (store, state, ckpt) =
        (s"$root/store", s"$root/state", s"$root/ckpt")
      val base = storeBase(s, dir)
      Versioned.init(s, store, "bucket", base)
      storeMerges(base).foreach(Versioned.merge(s, store, "bucket", "k", _))
      // serving state seeded from v1; state dir per applied interval's
      // toV — the restart-safe anchor a resumed consumer re-derives
      cdfSeed(s, store, s"$state/v1")
      def applied(): Seq[Long] =
        Option(new java.io.File(state).listFiles())
          .getOrElse(Array.empty).filter(_.isDirectory)
          .map(_.getName.stripPrefix("v").toLong).sorted.toIndexedSeq
      val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
      val sawRedelivery = new java.util.concurrent.atomic.AtomicBoolean(false)
      def fold(cdf: org.apache.spark.sql.DataFrame, fromV: Long,
          toV: Long, batchId: Long): Unit = {
        if (new java.io.File(s"$state/v$toV").exists()) {
          // redelivery of an applied-but-uncommitted interval: the
          // idempotence arm — skip, let the batch commit this time
          sawRedelivery.set(true)
        } else {
          cdfFold(s, cdf, s"$state/v$fromV", s"$state/v$toV")
          // the worst-ordered crash: state written, offsets not
          if (toV == 3L && crashArmed.getAndSet(false))
            throw new RuntimeException(
              "stream_k25_cdf_resume: injected mid-log crash")
        }
      }
      // lifecycle 1: dies mid-log on the injected crash
      val crashed =
        try {
          graft.streaming.ChangeFeed.run(s, store, "k", ckpt)(fold)
          false
        } catch { case _: org.apache.spark.sql.streaming
            .StreamingQueryException => true }
      require(crashed,
        "stream_k25_cdf_resume: the injected crash must kill lifecycle 1")
      require(applied() == Seq(1L, 2L, 3L),
        s"lifecycle 1 must die having applied v2 and v3: ${applied()}")
      // lifecycle 2: a FRESH run over the same durable checkpoint
      graft.streaming.ChangeFeed.run(s, store, "k", ckpt)(fold)
      require(sawRedelivery.get(),
        "the uncommitted v3 batch must be redelivered on resume")
      require(applied() == Seq(1L, 2L, 3L, 4L),
        s"resume must complete the log exactly once: ${applied()}")
      cdfResult(s, s"$state/v${applied().max}", applied().size - 1L)
    }),


    // ── K27: change feed ACROSS A COMPACTION (r16 verdict tasks 5+6).
    // v3 is a compact: every packed file is rewritten with ZERO logical
    // changes, and the consumer's v3 interval must emit ZERO rows
    // (changesImpl's key-diff drops rewritten-but-unchanged rows) — a
    // phantom row would both bump phantom_rows and move the final
    // aggregate off the full recompute. An explicit straddle probe pins
    // that an interval SPANNING the compact (v2→v4) equals the v3→v4
    // one.
    "stream_k27_cdf_compact" -> ((s, dir) =>
        withScratch("stream_k27_cdf_compact") { root =>
      val (store, state, ckpt) =
        (s"$root/store", s"$root/state", s"$root/ckpt")
      val base = storeBase(s, dir)
      val merges = storeMerges(base)
      Versioned.init(s, store, "bucket", base)
      Versioned.merge(s, store, "bucket", "k", merges(0))
      val total = Versioned.read(s, store, 2L).count()
      // v3: the logical no-op — bins sized so multiple files pack
      val v3 = Versioned.compact(s, store, "bucket",
        maxGroupRows = math.max(1L, total / 4))
      require(v3 == 3L, s"compact must commit v3, got $v3")
      def mFiles(v: Long) = s.read.parquet(
          Versioned.manifestDir(store, v))
        .select(col("file")).distinct().collect()
        .map(_.getString(0)).toSet
      require((mFiles(2L) -- mFiles(3L)).nonEmpty &&
        (mFiles(3L) -- mFiles(2L)).nonEmpty,
        "the compact must actually rewrite files or the boundary is fake")
      Versioned.merge(s, store, "bucket", "k", merges(1))
      // straddle probe: an interval SPANNING the compact equals the
      // post-compact one — the rewrite contributes nothing
      val straddle = Versioned.changes(s, store, 2L, 4L, "k").count()
      val postOnly = Versioned.changes(s, store, 3L, 4L, "k").count()
      require(straddle == postOnly,
        s"compact must be CDF-invisible: straddle=$straddle post=$postOnly")
      cdfSeed(s, store, s"$state/v1")
      val phantom = new java.util.concurrent.atomic.AtomicLong(0L)
      graft.streaming.ChangeFeed.run(s, store, "k", ckpt) {
        (cdf, fromV, toV, _) =>
          if (toV == 3L) phantom.addAndGet(cdf.count())
          cdfFold(s, cdf, s"$state/v$fromV", s"$state/v$toV")
      }
      cdfResult(s, s"$state/v4", 3L,
        lit(phantom.get()).as("phantom_rows"))
    }),


    // ── K31: EXACTLY-ONCE STREAMING INGEST into the versioned store —
    // foreachBatch + Versioned.upsertSink (the Delta txnAppId/txnVersion
    // contract, re-expressed). Lifecycle 1 crashes at the WORST ordering:
    // after batch 1's store commit, before its offset commit — the
    // window where a naive sink double-applies on restart. Lifecycle 2
    // resumes from the durable checkpoint, REDELIVERS batch 1, and the
    // committed txn fact turns it into a no-op: the log ends at exactly
    // init + 3 batch versions (a double-apply would mint a 5th — loud in
    // n_versions AND in the aggregate), and the final snapshot equals
    // the batch recompute. A direct same-batchId replay after the run
    // pins the no-op once more (replay_noop).
    "stream_k31_idempotent_sink" -> ((s, dir) =>
        withScratch("stream_k31_idempotent_sink") { root =>
      val (store, stage, ckpt) =
        (s"$root/store", s"$root/stage", s"$root/ckpt")
      val base = storeBase(s, dir)
      Versioned.init(s, store, "bucket", base)
      val c0 = base.filter(col("k") % 3 === 0)
        .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
        .withColumn("op", lit("U"))
      val c1 = base.filter(col("k") % 3 === 1).withColumn("op", lit("D"))
      val c2 = base.filter(col("k") % 5 === 2)
        .withColumn("price", (col("price") * 5).cast("decimal(18,2)"))
        .withColumn("op", lit("U"))
        .unionByName(base.filter(col("k") % 7 === 3)
          .withColumn("k", col("k") + 80000000L)
          .withColumn("bucket", pmod(col("k"), lit(8L)))
          .withColumn("price", (col("price") * 3).cast("decimal(18,2)"))
          .withColumn("op", lit("I")))
      val sink = Versioned.upsertSink(s, store, "bucket", "k", "ingest")
      val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
      def lifecycle(stream: DataFrame): Boolean = {
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            sink(b, id)
            // store committed, offsets NOT — the replay window
            if (id == 1L && crashArmed.getAndSet(false))
              throw new RuntimeException("stream_k31: injected crash")
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try { q.awaitTermination(); false }
        catch { case _: org.apache.spark.sql.streaming
          .StreamingQueryException => true }
      }
      val crashed = lifecycle(graft.streaming.Sources.stagedChunkStream(
        s, Seq(c0, c1, c2), stage))
      require(crashed,
        "stream_k31: the injected crash must kill lifecycle 1")
      require(Versioned.latest(store) == 3L,
        s"lifecycle 1 must die having committed batches 0 and 1 " +
          s"(init+2): ${Versioned.latest(store)}")
      val crashed2 = lifecycle(s.readStream.schema(c0.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage))
      require(!crashed2, "lifecycle 2 must complete")
      require(Versioned.latest(store) == 4L,
        "resume must skip the redelivered batch 1 and commit batch 2 " +
          s"exactly once: latest=${Versioned.latest(store)}")
      require(Versioned.txnVersion(store, "ingest").contains(2L),
        s"txn chain must end at batch 2: " +
          s"${Versioned.txnVersion(store, "ingest")}")
      // direct replay of the LAST batch under its batchId: no-op
      sink(c2, 2L)
      val replayNoop = Versioned.latest(store) == 4L
      Versioned.read(s, store)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("price")).cast("double").as("price_sum"),
          count(when(col("k") > 80000000L, 1)).as("inserted_ct"))
        .withColumn("n_versions", lit(Versioned.latest(store)))
        .withColumn("replay_noop", flag(replayNoop))
        .orderBy(col("bucket"))
    }),


    "stream_k12_incremental" -> ((s, dir) =>
        withScratch("stream_k12_incremental") { root =>
      val path = s"$root/state"
      val stream = graft.streaming.Sources.eventsStreamSplit(s, dir, parts = 3)
      graft.streaming.StreamRunner.runForeachBatch(stream) { (b, _) =>
        val bs = Incremental.state(
          b.select(col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd").as("d")),
          Seq("event_type"), sumCols = Seq("value"), minMaxCols = Seq("d"))
        val merged =
          if (new java.io.File(path).exists())
            Incremental.merge(Seq(s.read.parquet(path), bs), Seq("event_type"))
              .localCheckpoint(true) // materialize before self-overwrite
          else bs
        merged.write.mode("overwrite").parquet(path)
      }
      Incremental.finalizeState(s.read.parquet(path))
        .select(col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("value_sum"),
          col("avg_value").as("value_avg"),
          col("min_d").as("dt_min"), col("max_d").as("dt_max"))
        .orderBy(col("event_type"))
    }),


    // ── J17 streaming: stream-static LEFT ANTI join — the deny-list /
    // dim-missing filter (fraud screens, bot exclusion, orphan alerts)
    // through the real streaming path. The static side builds once per
    // micro-batch plan and broadcasts; the join is STATELESS (no
    // watermark, no store — the anti condition needs only the static
    // side), so it composes before any stateful stage at zero state
    // cost. Oracle: the same exclusion as a batch predicate.
    "stream_j17_anti" -> ((s, dir) => {
      val deny = Tables.events(s, dir).select(col("user_id")).distinct()
        .filter(col("user_id") % 7 === 0)
      graft.streaming.StreamRunner.collect(
        graft.streaming.Sources.eventsStreamSplit(s, dir)
          .join(deny, Seq("user_id"), "left_anti"),
        statePartitions = 2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ct"),
          countDistinct(col("user_id")).as("users"))
        .orderBy(col("event_type"))
    }),


    // ── A9 streaming twin: the a9 operator itself through real
    // Structured Streaming state (complete mode — every window emits)
    "stream_a9_sliding_window" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        Stats.slidingVisitorStats(
          graft.streaming.Sources.eventsStream(s, dir)),
        outputMode = "complete")
        .orderBy(col("stt"), col("event_type"))),


    // ── CEP streaming: the same pattern through transformWithState with
    // one event-time timer per key; open windows at the final watermark
    // stay pending (same cutoff rule as every stream_* gate)
    "stream_cep_funnel" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.Cep.run(
          graft.streaming.Sources.eventsStreamSplit(s, dir)
            .withWatermark("ts", "0 seconds"),
          cepFunnelPattern),
        // <=600 pattern-state rows: commit I/O dominates at width 8
        statePartitions = 2)
        .select(col("user_id"), col("first_event_id"), col("last_event_id"),
          col("steps_matched"), col("matched").cast("int").as("matched_i"))
        .orderBy(col("user_id"), col("first_event_id"))),


    // ── CEP relaxed, streaming twin: completions emit on arrival of the
    // completing event; timeouts emit on in-advance expiry (a same-key
    // event past the deadline) or the final-watermark cutoff
    "stream_cep_funnel_relaxed" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.Cep.run(
          graft.streaming.Sources.eventsStreamSplit(s, dir)
            .withWatermark("ts", "0 seconds"),
          cepRelaxedPattern),
        statePartitions = 2)
        .select(col("user_id"), col("first_event_id"), col("last_event_id"),
          col("steps_matched"), col("matched").cast("int").as("matched_i"))
        .orderBy(col("user_id"), col("first_event_id"))),


    // ── CEP quantifier, streaming twin: every emission is a completion at
    // event arrival (no timeout side at all), so the stream output equals
    // the batch output with NO watermark-cutoff clause in the oracle
    "stream_cep_clicks_burst" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.Cep.run(
          graft.streaming.Sources.eventsStreamSplit(s, dir)
            .withWatermark("ts", "0 seconds"),
          cepBurstPattern),
        statePartitions = 2)
        .select(col("user_id"), col("first_event_id"), col("last_event_id"),
          col("steps_matched"), col("matched").cast("int").as("matched_i"))
        .orderBy(col("user_id"), col("first_event_id"), col("last_event_id"))),


    // ── CEP optional step, streaming twin: completions emit on arrival;
    // timeouts on in-advance expiry or the final-watermark cutoff
    "stream_cep_optional_funnel" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.Cep.run(
          graft.streaming.Sources.eventsStreamSplit(s, dir)
            .withWatermark("ts", "0 seconds"),
          cepOptionalPattern),
        statePartitions = 2)
        .select(col("user_id"), col("first_event_id"), col("last_event_id"),
          col("steps_matched"), col("matched").cast("int").as("matched_i"))
        .orderBy(col("user_id"), col("first_event_id"))),


    // ── Dedup: incremental ingestion through REAL Structured Streaming —
    // the incoming slice arrives as a stream and probes the static history
    // index with stream-static joins only (text rides the probe, so no
    // stream-stream join is needed); same operator and oracle as
    // dedup_incremental since every emission happens at arrival
    "stream_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val history = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      graft.streaming.StreamRunner.collect(
        Dedup.incrementalNearDups(
          graft.streaming.Sources.documentsStream(s, dir)
            .filter(pmod(col("doc_id"), lit(5L)) === 0L),
          history, Dedup.minhashBandIndex(history)))
        .orderBy(col("doc_a"), col("doc_b"))
    }),


    // ── Pipeline streaming: ingestion-time decontamination — every
    // arriving corpus batch is scrubbed against the (static, broadcast)
    // eval gram set via foreachBatch; decontamination is per-doc pure, so
    // batch-local application is exact under any batch boundaries. Clean
    // survivors reported per language.
    "stream_pipe_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalSet = docs.filter(pmod(col("doc_id"), lit(97L)) === 0 ||
        pmod(col("doc_id"), lit(101L)) === 0)
      val incoming = graft.streaming.Sources.documentsStream(s, dir)
        .filter(pmod(col("doc_id"), lit(97L)) =!= 0)
      graft.streaming.StreamRunner.collectBatches(incoming)(b =>
          Pretrain.decontaminate(b, evalSet))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_clean"), sum(col("n_chars")).as("chars_clean"))
        .orderBy(col("lang"))
    }),


    // ── Streaming gate: the SAME operators through real Structured
    // Streaming execution (state stores, watermarks, event-time timeouts)
    // over a bounded file source with Trigger.AvailableNow. Proves the
    // streaming path — not just the batch twin — in the correctness gate.
    // Stateful gates read eventsStreamSplit (4 ts-contiguous chunk files,
    // maxFilesPerTrigger=1 ⇒ ≥4 micro-batches), so watermark advance,
    // state reload and timeout firing are exercised ACROSS batch
    // boundaries; the split preserves the single-batch result by
    // construction (see Sources.eventsStreamSplit), so each gate keeps
    // its oracle.

    // ── T1 streaming: transformWithState first-visit flag
    "stream_t1_new_old" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.TwsStreams.newOldFlag(
          graft.streaming.Sources.eventsStreamSplit(s, dir)),
        // 1.5k per-user flags: tiny state, width 2
        statePartitions = 2)
        .groupBy(col("is_new"))
        .agg(count(lit(1)).as("ct"), count_distinct(col("user_id")).as("user_ct"))
        .orderBy(col("is_new"))),


    "stream_t2_uv_dedup" -> uvDedupGate,


    // ── T2 streaming under PATHOLOGICAL KEY SKEW (r13 verdict task 6):
    // the same ValueState dedup with 50% of all events remapped onto ONE
    // user key (event_id parity — deterministic, oracle-replayable), the
    // rest offset into a disjoint key range. The stateful operator must
    // answer exactly the uniform-twin rule — first event per (key, day)
    // in (ts, event_id) arrival order — with the hot key's whole volume
    // draining through one group iterator per micro-batch. Chunks reuse
    // the canonical ts-contiguous split (remapped per chunk), so state
    // carry-over across batch boundaries is exercised under the skew.
    // SCALE.md "Round-14: streaming hot-key skew" banks the cost vs the
    // uniform twin; this gate pins the ANSWER doesn't move.
    "stream_skew_hotkey" -> ((s, dir) =>
      withScratch("stream_skew_hotkey") { stage =>
        graft.streaming.StreamRunner.collect(
          graft.streaming.TwsStreams.uvDedup(
            graft.streaming.Sources.stagedChunkStream(s, skewedChunks(s, dir,
              "user_id", lit(77777L), col("user_id") + 100000L),
              stage)),
          statePartitions = 2)
          .select(col("user_id"), col("dt"), col("event_id"))
          .orderBy(col("user_id"), col("dt"))
      }),


    // ── Streaming exact dedup under at-least-once REPLAY: the staged
    // chunks re-deliver the ENTIRE previous chunk (chunk i = Eᵢ ∪ Eᵢ₋₁,
    // event_id mod 3 split — a transport redelivering a whole segment),
    // so cross-batch replays (state hit) and the first-arrival-wins rule
    // are exercised. Complements stream_dedup_wwm (same operator, natural
    // in-stream dup keys): here the duplicates are TRANSPORT artifacts —
    // every row is redelivered once — the failure mode exactly-once
    // pipelines actually face.
    // Delay 35d covers the 30-day fixture, so no key expires and the
    // result is EXACTLY one copy of every event — the oracle is the plain
    // per-type profile of the original table; a missed replay inflates
    // ct, an over-drop deflates it. In production the delay is sized to
    // the transport's max redelivery horizon, which is what bounds state
    // (see Dedup.streamExactDedup).
    "stream_dedup_replay" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def part(i: Int) = ev.filter(pmod(col("event_id"), lit(3L)) === i)
      withScratch("stream_dedup_replay") { stage =>
        val stream = graft.streaming.Sources.stagedChunkStream(s,
          Seq(part(0), part(1).unionByName(part(0)),
            part(2).unionByName(part(1))),
          stage)
        graft.streaming.StreamRunner.collect(
          graft.operators.Dedup.streamExactDedup(
            stream, Seq("event_id"), "ts", "35 days"),
          // state is one tiny row per event_id: narrow width (BASELINE.md
          // "r11 driver-run drift attribution")
          statePartitions = 2)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("ct"),
            count_distinct(col("event_id")).as("ids"),
            count_distinct(col("user_id")).as("users"))
          .orderBy(col("event_type"))
      }
    }),


    // ── Offline state-store introspection (Spark 4's `statestore` data
    // source): read a stopped stream's STATE — not its output — straight
    // from the checkpoint. The ops surface a production deployment needs
    // (debug a wedged key, audit state before a migration, verify a TTL
    // policy actually evicted) without replaying the stream. The gate
    // runs T2's uvDedup to completion, then reads its per-user
    // "lastDt" ValueState back (`stateVarName` picks one of a
    // transformWithState operator's named variables): state holds the
    // LAST deduped date per user, which is exactly max(date) per user —
    // an offline SQL truth, so the oracle checks the state CONTENT, not
    // just its shape.
    "stream_state_reader" -> ((s, dir) =>
        withScratch("stream_state_reader") { ckpt =>
      val sink = scratchName(ckpt)
      val stream = graft.streaming.TwsStreams.uvDedup(
        graft.streaming.Sources.eventsStreamSplit(s, dir))
      try Sessions.withConf(s, ("spark.sql.shuffle.partitions" -> "2") +:
          graft.streaming.StreamRunner.stateConf(stream): _*) {
        val q = stream
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.format("statestore").option("stateVarName", "lastDt").load(ckpt)
          .select(col("key.value").as("user_id"),
            col("value.value").as("last_dt"))
          .orderBy(col("user_id"))
          .localCheckpoint(true) // read the state inside the conf scope
      } finally s.catalog.dropTempView(sink)
    }),


    "stream_t2_uv_rocksdb" -> uvDedupGate,
    "stream_t2_uv_tws" -> uvDedupGate,


    // ── T5 streaming: the token-bucket rate limiter through the REAL
    // stateful path — one (tok, lastTick) pair per key in RocksDB state,
    // folded per batch in event-time order; the ts-contiguous source
    // makes the cross-batch order equal the batch operator's, so the
    // SAME recursive-CTE oracle pins the admitted/rejected sets.
    // ── A25 streaming: per-key EMA through transformWithState — one
    // (acc, n) pair per key; the final per-key snapshot must equal the
    // batch fold BITWISE (same IEEE sequence via the ts-contiguous
    // composite order), so the array tier's oracle applies verbatim.
    "stream_a25_ema" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.TwsStreams.ema(
          graft.streaming.Sources.eventsStreamSplit(s, dir)
            .withWatermark("ts", "0 seconds"),
          e => e.user_id, alpha = 0.2),
        statePartitions = 2)
        .groupBy(col("k"))
        .agg(max(col("n")).as("n_events"),
          expr("max_by(ema, n)").as("ema"))
        .select(col("k").as("user_id"), col("n_events"), col("ema"))
        .orderBy(col("user_id"))),


    "stream_t5_rate_limit" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.TwsStreams.rateLimit(
          graft.streaming.Sources.eventsStreamSplit(s, dir)
            .filter(col("event_id") % 37 === 0)
            .withWatermark("ts", "0 seconds"),
          e => e.user_id % 2,
          capacity = 5, refillPerTick = 1, tickSeconds = 86400L),
        statePartitions = 2)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("accepted"), 1L).otherwise(0L)).as("n_acc"),
          sum(when(col("accepted"), 0L).otherwise(1L)).as("n_rej"),
          sum(when(col("accepted"), col("event_id")).otherwise(0L))
            .as("acc_sum"),
          sum(when(col("accepted"), 0L).otherwise(col("event_id")))
            .as("rej_sum"))
        .orderBy(col("k"))),


    "stream_t3_bounce_tws" -> bounceGate,


    // ── T6's session variant through transformWithState: merge-on-arrival
    // open-session state + an event-time timer at the session end — the
    // tws twin of the session_window operator gate (stream_t4_session),
    // vs the SAME oracle. The timer registers the end's ms-floor WITHOUT
    // the bounce twin's +1: session_window's emission cutoff is inclusive
    // (end_ms <= watermark_ms), exactly tws timers' own expiry compare.
    "stream_t4_session_tws" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.TwsStreams.sessionStats(
          graft.streaming.Sources.eventsStreamSplit(s, dir)
            .withWatermark("ts", "0 seconds"),
          gapSec = 1800L),
        statePartitions = 2)
        .orderBy(col("user_id"), col("stt_us"))),


    // ── T8 as an ORACLE gate (spec-only until r10): checkpoint resume
    // across a process "restart". uvDedup runs over the first 2 chunk
    // files, STOPS, then a fresh query resumes from the same checkpoint
    // with chunks 3-4 staged. The result is the union of both
    // lifecycles' appended output vs the SINGLE-RUN oracle (same as
    // stream_t2_uv_dedup): failed offset recovery re-emits lifecycle 1's
    // rows, failed state reload re-emits already-seen users — both are
    // hash mismatches, so equality proves exactly-once resume itself.
    "stream_t8_checkpoint_resume" -> ((s, dir) =>
      graft.streaming.StreamRunner.collectResumed(
        graft.streaming.Sources.eventsSplitChunks(s, dir, parts = 4),
        splitAt = 2, statePartitions = 2)(stageDir =>
        graft.streaming.TwsStreams.uvDedup(
          graft.streaming.Sources.eventsStreamStaged(s, stageDir)))
        .select(col("user_id"), col("dt"), col("event_id"))
        .orderBy(col("user_id"), col("dt"))),


    // ── J3 streaming twin: stream-static broadcast enrichment — the
    // live shape of the reference's dim lookup (each micro-batch joins
    // the static dims as a broadcast hash lookup; no state, no
    // watermark needed on the static side). Orders arrive as a bounded
    // stream; customer/nation are static tables.
    "stream_j3_enrich" -> ((s, dir) => {
      val sch = s.read.option("pathGlobFilter", "orders.parquet")
        .parquet(dir).schema
      val oStream = s.readStream.schema(sch)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
      val enriched = oStream
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("order_ct"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("amount"))
      graft.streaming.StreamRunner.collect(enriched, outputMode = "complete")
        .orderBy(col("n_name"))
    }),


    // ── J6 streaming twin: as-of enrichment per micro-batch — each batch
    // of arriving facts joins the FULL dimension history (time-correct
    // version pick), the semantics a point-lookup dim cache (the
    // reference's Redis path) silently gets wrong for late or replayed
    // events. Per-row pure against the static history, so batch-local
    // application is exact under any batching; oracle = the batch ASOF
    // truth, same as j6.
    "stream_j6_asof" -> ((s, dir) => {
      val sch = s.read.option("pathGlobFilter", "orders.parquet")
        .parquet(dir).schema
      val oStream = s.readStream.schema(sch)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val history = Tables.orders(s, dir)
        .select(col("o_custkey").as("ck"), col("o_orderdate").as("od"))
      graft.streaming.StreamRunner.collectBatches(oStream)(b =>
        Joins.asOfJoin(b, history, "o_custkey", "ck", "o_orderdate", "od",
          payload = Seq("od"), strict = true)
          .select(col("o_orderkey"), col("asof.od").as("prev_date")))
        .orderBy(col("o_orderkey"))
    }),


    // ── K7 streaming: SCD2 dim maintenance from a CDC-style stream.
    // Each micro-batch merges into an accumulating changelog store
    // (StreamRunner.foldBatches — the foreachBatch dim-sink shape); the
    // SCD2 history derives from the final store, so the result is exact
    // at ANY batch boundary or arrival order. Deliberately NOT compacted
    // to the dim itself between batches: scd2(changed(prefix) ∪ batch)
    // drops rows a LATE out-of-order row can make significant again
    // (an unchanged row after a late insert re-opens a version), so the
    // maintained store is the raw changelog — dims are small by the K4
    // contract, and the per-batch recompute is the price of exactness
    // under out-of-order CDC.
    "stream_k7_scd2" -> ((s, dir) => {
      val stream = graft.streaming.Sources.eventsStreamSplit(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val changelog = graft.streaming.StreamRunner.foldBatches(stream)(
        (st, b) => st.map(_.unionByName(b)).getOrElse(b))
      graft.operators.Scd.scd2(changelog,
          keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
          attrCols = Seq("event_type"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("effective_from")).as("from_us"),
          unix_micros(col("effective_to")).as("to_us"),
          col("is_current"))
        .orderBy(col("user_id"), col("from_us"), col("event_id"))
    }),


    // ── Engine-native streaming dedup: dropDuplicates runs as the
    // dedicated StreamingDeduplicate physical operator (state = seen
    // keys), distinct from the transformWithState path stream_t2
    // exercises. Emitting
    // only the key columns makes "first arrival wins" deterministic;
    // unbounded key state is the documented cost (the watermarked
    // variant evicts, but its drop guarantee is then time-bounded —
    // wrong for an exact-result gate).
    "stream_dedup_ids" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.Sources.eventsStream(s, dir)
          .dropDuplicates("user_id", "event_type")
          .select(col("user_id"), col("event_type")))
        .orderBy(col("user_id"), col("event_type"))),


    // ── Engine-native WATERMARKED streaming dedup: the production
    // posture stream_dedup_ids' comment calls for — state is evicted
    // once the watermark passes first-arrival + delay, so memory is
    // bounded by the key-arrival rate × delay instead of all history.
    // Runs as the dedicated StreamingDeduplicateWithinWatermark
    // operator over the multi-batch split source (real watermark
    // advance between batches). The fixture spans 30 days and the
    // delay is 35 days, so ZERO evictions occur in-window and the
    // exact oracle is DISTINCT — while the eviction/re-admission
    // semantics (which no offline SQL oracle can express without
    // replaying batch boundaries) are pinned by WwmDedupSpec on a
    // staged 3-batch fixture.
    "stream_dedup_wwm" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.Sources.eventsStreamSplit(s, dir)
          .withWatermark("ts", "35 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type")))
        .orderBy(col("user_id"), col("event_type"))),


    "stream_t3_bounce" -> bounceGate,


    // ── T7 streaming: LATE-DATA DROP as an oracle gate (spec-only until
    // r10). The round-robin split (chunk = event_id mod 4) makes every
    // batch after the first carry rows behind the advanced watermark, so
    // Spark's drop rule actually fires; the oracle REPLAYS that rule
    // explicitly: wm before batch k = max event-time ms over batches < k
    // minus the 600 s delay (ms floor, exactly EventTimeStats); a row is
    // dropped when its window END (µs) <= wm*1000; a window emits (append
    // mode) when its end <= the FINAL wm. Hash equality therefore proves
    // the drop semantics themselves, batch vs stream.
    "stream_t7_late_drop" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.Sources.eventsStreamShuffled(s, dir)
          .withWatermark("ts", "600 seconds")
          .groupBy(window(col("ts"), "3600 seconds"), col("event_type"))
          .agg(count(lit(1)).as("ct")),
        // single tiny windowed-agg store; commit I/O dominates at width 8
        statePartitions = 2)
        .select(unix_micros(col("window.start")).as("stt_us"),
          col("event_type"), col("ct"))
        .orderBy(col("stt_us"), col("event_type"))),


    // ── A1 streaming: watermarked tumbling window agg, complete mode
    "stream_a1_product_stats" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.WindowedStreams.productStats(
          graft.streaming.Sources.eventsStreamSplit(s, dir)),
        outputMode = "complete")
        .orderBy(col("stt"), col("event_type"))),


    // ── A1 streaming under HOT-GROUP SKEW (the windowed-agg half of
    // r13 verdict task 6; stream_skew_hotkey covers the keyed-state half):
    // 50% of events remap onto ONE event_type, so a single (window,
    // type) group carries half of every micro-batch INCLUDING its
    // collect_set(user_id) state — unlike the dedup's one-row-per-key
    // state, a hot windowed group's state GROWS with the hot share.
    // Complete-mode answer must equal the uniform replay of the remap.
    "stream_skew_hotagg" -> ((s, dir) =>
      withScratch("stream_skew_hotagg") { stage =>
        graft.streaming.StreamRunner.collect(
          graft.streaming.WindowedStreams.productStats(
            graft.streaming.Sources.stagedChunkStream(s, skewedChunks(s, dir,
              "event_type", lit("hot_type"), col("event_type")), stage)),
          outputMode = "complete")
          .orderBy(col("stt"), col("event_type"))
      }),


    // ── The MITIGATION for the hot windowed group: the same hot-type
    // remap through a two-level SALTED rollup (chained stateful aggs in
    // one query) — the hot group's rows and its distinct-user state
    // split across 8 salt sub-groups before a re-agg folds the closed
    // partials. user_ct stays exact (salt is a function of user_id, so
    // per-salt sets are disjoint). Append mode: the oracle applies the
    // watermark cutoff (windows with end <= final wm), same as
    // stream_chained_agg.
    "stream_skew_salted" -> ((s, dir) =>
      withScratch("stream_skew_salted") { stage =>
        graft.streaming.StreamRunner.collect(
          graft.streaming.WindowedStreams.productStatsSalted(
            graft.streaming.Sources.stagedChunkStream(s, skewedChunks(s, dir,
              "event_type", lit("hot_type"), col("event_type")), stage)),
          statePartitions = 1)
          .orderBy(col("stt"), col("event_type"))
      }),


    // ── Chained stateful aggregation (Spark 4 multiple stateful
    // operators): 60s pre-agg feeds a 600s re-agg in ONE streaming query —
    // the cascaded-rollup shape that cuts the coarse level's shuffle and
    // state to one row per (fine window, key). Append mode over 4 staged
    // micro-batches; the oracle is the direct 600s aggregate restricted to
    // windows the final watermark (max event-time ms, 0s delay) closed.
    "stream_chained_agg" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.WindowedStreams.chainedStats(
          graft.streaming.Sources.eventsStreamSplit(s, dir)),
        // two tiny windowed-agg stores; run narrow (commit I/O dominates;
        // sp1 3.37 s vs sp2 3.60 s vs RocksDB+changelog 4.25 s median —
        // single store per operator wins for agg chains; BASELINE.md "r13
        // chained-stream commit attribution")
        statePartitions = 1)
        .orderBy(col("stt"), col("event_type"))),


    // ── Chained dedup -> aggregation (the third multiple-stateful-operator
    // shape): the source is unioned with ITSELF — every event arrives
    // twice — and dropDuplicatesWithinWatermark collapses the copies
    // before a windowed count. The oracle is the plain single-copy
    // windowed count: the gate only passes if the dedup state caught
    // every duplicate across micro-batches (dedup passes the watermark
    // through undelayed, so the append cutoff is the raw end <= wm).
    "stream_dedup_agg_chain" -> ((s, dir) => {
      val a = graft.streaming.Sources.eventsStreamSplit(s, dir)
      val b = graft.streaming.Sources.eventsStreamSplit(s, dir)
      graft.streaming.StreamRunner.collect(
        a.unionByName(b)
          .withWatermark("ts", "0 seconds")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(window(col("ts"), "3600 seconds"), col("event_type"))
          .agg(count(lit(1)).as("ct")),
        // agg-chain verdict: sp1 beats sp2 beats RocksDB (BASELINE.md
        // "r13 chained-stream commit attribution")
        statePartitions = 1)
        .select(unix_micros(col("window.start")).as("stt_us"),
          col("event_type"), col("ct"))
        .orderBy(col("stt_us"), col("event_type"))
    }),


    // ── Chained agg -> argmax-agg: per-600s-window counts per event_type
    // feed a per-window top-1 pick (max_by on a count||type string key,
    // deterministic under ties) in the same query — streaming "trending
    // item per window" without a rank, which streaming disallows. The
    // identity re-window keeps the event-time column for the second
    // stateful aggregation.
    "stream_window_argmax" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.Sources.eventsStreamSplit(s, dir)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "600 seconds"), col("event_type"))
          .agg(count(lit(1)).as("ct"))
          .groupBy(window(col("window"), "600 seconds").as("w"))
          .agg(max(col("ct")).as("top_ct"),
            max_by(col("event_type"),
              concat(lpad(col("ct").cast("string"), 12, "0"),
                col("event_type"))).as("top_type")),
        // agg-chain verdict: sp1 beats sp2 beats RocksDB (BASELINE.md
        // "r13 chained-stream commit attribution")
        statePartitions = 1)
        .select(unix_micros(col("w.start")).as("stt_us"),
          col("top_type"), col("top_ct"))
        .orderBy(col("stt_us"))),


    // ── Chained join -> aggregation (the second multiple-stateful-operator
    // shape): the J1 interval join's matched pairs feed a 3600s tumbling
    // count per event-hour INSIDE the same streaming query. Spark delays
    // the aggregation's watermark by the join's time-interval bound, so a
    // window only closes once no further pair can land in it — probed
    // empirically this round: with wm=4000s a [0,3600) window does NOT
    // emit, at wm=4300s it does, pinning cutoff = end <= wm - 600s where
    // wm is the MIN across the two branch watermarks. The oracle applies
    // exactly that delayed cutoff.
    "stream_chained_join_agg" -> ((s, dir) => {
      graft.streaming.StreamRunner.collect(
        viewClickJoin(graft.streaming.Sources.eventsStreamSplit(s, dir))
          .groupBy(window(col("v_ts"), "3600 seconds"))
          .agg(count(lit(1)).as("pair_ct")),
        statePartitions = 2)
        .select(unix_micros(col("window.start")).as("stt_us"),
          col("pair_ct"))
        .orderBy(col("stt_us"))
    }),


    // ── J1 streaming: stream-stream interval join (view -> click within
    // 600s per user), watermark-bounded state
    "stream_j1_interval_join" -> ((s, dir) => {
      graft.streaming.StreamRunner.collect(
        viewClickJoin(graft.streaming.Sources.eventsStream(s, dir)),
        // 4 state stores x partitions x batches of pure commit I/O for
        // ~10 state rows: run narrow (j1_sp2 2.17 s < j1_sp8 2.40 s:
        // BASELINE.md "r11 driver-run drift attribution")
        statePartitions = 2)
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("pair_ct"))
        .orderBy(col("user_id"))
    }),


    // ── J7 streaming: stream-stream LEFT OUTER interval join — matched
    // pairs emit on arrival; a view with no click in [v_ts, v_ts+600s]
    // emits null-padded once the watermark passes its window. The global
    // watermark is the MIN across the two branch watermarks (view max vs
    // click max event time), which the oracle's cutoff mirrors.
    "stream_j7_interval_left" -> ((s, dir) => {
      graft.streaming.StreamRunner.collect(
        viewClickJoin(graft.streaming.Sources.eventsStream(s, dir), "leftOuter"),
        statePartitions = 2)
        .groupBy(col("v_user").as("user_id"))
        .agg(count(col("c_ts")).as("pair_ct"),
          sum(when(col("c_ts").isNull, 1L).otherwise(0L)).as("unmatched_ct"))
        .orderBy(col("user_id"))
    }),


    // ── J7b streaming: stream-stream FULL OUTER interval join — the
    // remaining outer-join family member (j1 inner, j7 left). Matched
    // pairs emit on arrival; unmatched VIEWS null-pad once the watermark
    // passes v_ts + 600 s (the j7 rule); unmatched CLICKS null-pad once
    // the watermark passes c_ts itself (a click's last possible match is
    // a view at v_ts = c_ts, so its state closes at the symmetric
    // boundary — 0-second lower bound makes the two cutoffs asymmetric
    // by exactly the join band). The oracle mirrors both cutoffs at ms
    // precision (EventTimeStats floors µs→ms).
    "stream_j7b_interval_full" -> ((s, dir) => {
      graft.streaming.StreamRunner.collect(
        viewClickJoin(graft.streaming.Sources.eventsStream(s, dir), "fullOuter"),
        statePartitions = 2)
        .groupBy(coalesce(col("v_user"), col("c_user")).as("user_id"))
        .agg(
          sum(when(col("v_ts").isNotNull && col("c_ts").isNotNull, 1L)
            .otherwise(0L)).as("pair_ct"),
          sum(when(col("c_ts").isNull, 1L).otherwise(0L))
            .as("unmatched_view_ct"),
          sum(when(col("v_ts").isNull, 1L).otherwise(0L))
            .as("unmatched_click_ct"))
        .orderBy(col("user_id"))
    }),


    // ── T4 streaming: session_window agg. Sessions still open at the final
    // watermark stay pending (live-stream semantics; oracle mirrors the
    // cutoff).
    "stream_t4_session" -> ((s, dir) =>
      graft.streaming.StreamRunner.collect(
        graft.streaming.WindowedStreams.sessionStats(
          graft.streaming.Sources.eventsStream(s, dir), gapSec = 1800L),
        statePartitions = 2)
        .orderBy(col("user_id"), col("stt_us"))),


    // ── A4 streaming via the SQL path: spark.sql over a streaming temp
    // view (the Flink SQL job shape, SURVEY §3.2 — one Catalyst pipeline,
    // no Table/DataStream bridge). Exact distinct via collect_set
    // (COUNT(DISTINCT) is unsupported in streaming).
    "stream_a4_sql" -> ((s, dir) => {
      val view = s"ev_sql_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      graft.streaming.Sources.eventsStream(s, dir)
        .withWatermark("ts", "2 seconds")
        .createOrReplaceTempView(view)
      val out = graft.streaming.StreamRunner.collect(
        s.sql(
          s"""SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
             |       event_type, pmod(user_id, 4) AS cohort, count(*) AS pv,
             |       size(collect_set(user_id)) AS uv,
             |       cast(sum(cast(value AS decimal(18,2))) AS double) AS dur_sum
             |FROM $view
             |GROUP BY window(ts, '60 seconds'), event_type, pmod(user_id, 4)""".stripMargin),
        outputMode = "complete")
        .orderBy(col("stt"), col("event_type"), col("cohort"))
      // the bounded run is complete, so the streaming view is dead weight —
      // drop it to keep the catalog flat across repeated invocations
      s.catalog.dropTempView(view)
      out
    })
  )

  /** Session truth, shared by the session_window gate and its
    * transformWithState twin: a session emits once the final watermark
    * (ms, 0s delay → floor(max_us/1000)) is at or past its end (last +
    * 30 min gap). */
  private val sessionOracleSql =
    """WITH f AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |mx AS (SELECT max(us) AS mu FROM f),
      |g AS (SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS nw
      |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |h AS (SELECT user_id, us,
      |    SUM(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                  ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g),
      |sess AS (SELECT user_id, sid, MIN(us) AS stt_us, MAX(us) AS last_us,
      |         COUNT(*) AS n_events
      |  FROM h GROUP BY user_id, sid)
      |SELECT user_id, stt_us, n_events FROM sess, mx
      |WHERE (last_us + 1800000000)//1000 <= mu//1000
      |ORDER BY user_id, stt_us""".stripMargin

  /** Full recompute of the final versioned snapshot (three merge
    * batches replayed over the raw table) — the shared oracle of both
    * CDF consumers. */
  private val cdfRecomputeSql: String =
    s"""${storeBaseSql(8)},
      |$storeV2Sql,
      |${storeV3Sql("v3")},
      |v4 AS (
      |  SELECT k, price, bucket FROM v3
      |    WHERE NOT (bucket = 1 AND k % 4 = 0)
      |      AND NOT (bucket = 3 AND k % 7 = 2)
      |  UNION ALL
      |  SELECT k, CAST(price * 7 AS DECIMAL(18,2)), bucket FROM base
      |    WHERE bucket = 1 AND k % 4 = 0)
      |SELECT bucket, COUNT(*) AS cnt,
      |  CAST(SUM(price) AS DOUBLE) AS price_sum,
      |  CAST(3 AS BIGINT) AS n_ticks
      |FROM v4 GROUP BY bucket ORDER BY bucket""".stripMargin

  /** DuckDB oracle SQL, column-name-aligned with `queries`. */
  def oracleSql: Map[String, String] = Map(

    // same truth as j14: execution mode must not change the answer
    "stream_j14_temporal" ->
      """SELECT CAST(CASE WHEN CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1998-01-01'
        |            AND c_custkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version,
        |  COUNT(*) AS ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(CAST(CASE WHEN CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1998-01-01'
        |            AND c_custkey % 3 = 0 THEN c_acctbal + 100.0
        |            ELSE c_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY version""".stripMargin,


    // same truth as a batch refresh would have: the micro-batch fold
    // must reproduce the from-scratch aggregate exactly
    // full recompute of the final snapshot (three merge batches replayed
    // over the raw table) — equality proves the incremental CDF consumer
    // maintained the serving aggregate exactly; tick count pinned.
    // SHARED by the tick-staged consumer (stream_k21_cdf) and the
    // log-tailing one (stream_k22_cdf_tail): discovery mechanism must
    // not change the answer.
    "stream_k21_cdf" -> cdfRecomputeSql,
    "stream_k22_cdf_tail" -> cdfRecomputeSql,
    // the kill-and-resume consumer (streaming.ChangeFeed) must land on
    // the SAME final aggregate: a dropped redelivery or a double-apply
    // moves cnt/price_sum off this recompute; crash/redelivery facts
    // are loud in-gate requires
    "stream_k25_cdf_resume" -> cdfRecomputeSql,
    // mid-log compact (v3) is a logical no-op: the recompute skips it
    // entirely — phantom rows from the rewrite would break BOTH the
    // phantom_rows column and the aggregate
    "stream_k27_cdf_compact" ->
      s"""${storeBaseSql(8)},
        |$storeV2Sql,
        |${storeV3Sql("v4")}
        |SELECT bucket, COUNT(*) AS cnt,
        |  CAST(SUM(price) AS DOUBLE) AS price_sum,
        |  CAST(3 AS BIGINT) AS n_ticks, CAST(0 AS BIGINT) AS phantom_rows
        |FROM v4 GROUP BY bucket ORDER BY bucket""".stripMargin,

    // the three micro-batches replayed IN ORDER over the raw table
    // (later batch wins per key; a delete followed by a later upsert
    // revives the key): crash, redelivery and the direct replay must
    // all be invisible — n_versions pins the log length (init + one
    // version per DISTINCT batch), the aggregate pins the content
    "stream_k31_idempotent_sink" ->
      s"""${storeBaseSql(8)},
        |fin AS (
        |  SELECT k, bucket,
        |    CASE WHEN k % 5 = 2 THEN CAST(price*5 AS DECIMAL(18,2))
        |         WHEN k % 3 = 0 THEN CAST(price*2 AS DECIMAL(18,2))
        |         ELSE price END AS price
        |  FROM base WHERE k % 3 <> 1 OR k % 5 = 2
        |  UNION ALL
        |  SELECT k + 80000000, (k + 80000000) % 8,
        |    CAST(price*3 AS DECIMAL(18,2))
        |  FROM base WHERE k % 7 = 3)
        |SELECT bucket, COUNT(*) AS cnt,
        |  CAST(SUM(price) AS DOUBLE) AS price_sum,
        |  COUNT(*) FILTER (WHERE k > 80000000) AS inserted_ct,
        |  CAST(4 AS BIGINT) AS n_versions,
        |  CAST(1 AS BIGINT) AS replay_noop
        |FROM fin GROUP BY bucket ORDER BY bucket""".stripMargin,



    "stream_k12_incremental" ->
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
        |    AS value_avg,
        |  MIN(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS dt_min,
        |  MAX(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS dt_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    // the deny-list exclusion replayed as a plain predicate — execution
    // mode (streaming anti join) must not change the answer
    "stream_j17_anti" ->
      """SELECT event_type, COUNT(*) AS ct, COUNT(DISTINCT user_id) AS users
        |FROM events WHERE user_id % 7 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,


    "stream_a9_sliding_window" ->
      """WITH k AS (SELECT unnest(range(0, 2)) AS k),
        |w AS (SELECT ((epoch_us(CAST(ts AS TIMESTAMP))//30000000) - k.k)*30000000 AS us,
        |             event_type, user_id, value
        |      FROM events, k)
        |SELECT strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(make_timestamp(us + 60000000), '%Y-%m-%d %H:%M:%S') AS edt,
        |       event_type, COUNT(*) AS pv, COUNT(DISTINCT user_id) AS uv,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
        |FROM w GROUP BY us, event_type ORDER BY us, event_type""".stripMargin,


    // Streaming twin: identical except the no-successor timeouts only emit
    // once the final watermark (floor(max_us/1000), 0s delay) passes the
    // partial's deadline; beyond-window successors emit unconditionally
    // (their arrival already advanced the watermark past the deadline).
    "stream_cep_funnel" ->
      """WITH f AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |mx AS (SELECT max(us) AS mu FROM f),
        |g AS (SELECT user_id, event_id, us, event_type,
        |    lead(event_type,1) OVER w AS t1, lead(event_id,1) OVER w AS id1,
        |    lead(us,1) OVER w AS us1,
        |    lead(event_type,2) OVER w AS t2, lead(event_id,2) OVER w AS id2,
        |    lead(us,2) OVER w AS us2
        |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |m AS (
        |  SELECT user_id, event_id AS first_event_id, id2 AS last_event_id,
        |         3 AS steps_matched, 1 AS matched_i
        |  FROM g WHERE event_type='view' AND t1='click' AND us1-us <= 7200000000
        |          AND t2='purchase' AND us2-us <= 7200000000
        |  UNION ALL
        |  SELECT g.user_id, event_id, event_id, 1, 0
        |  FROM g, mx WHERE event_type='view'
        |   AND ((us1 IS NULL AND (us + 7200000000)//1000 < mu//1000)
        |     OR (us1 IS NOT NULL AND us1-us > 7200000000))
        |  UNION ALL
        |  SELECT g.user_id, event_id, id1, 2, 0
        |  FROM g, mx WHERE event_type='view' AND t1='click' AND us1-us <= 7200000000
        |   AND ((us2 IS NULL AND (us + 7200000000)//1000 < mu//1000)
        |     OR (us2 IS NOT NULL AND us2-us > 7200000000)))
        |SELECT user_id, first_event_id, last_event_id, steps_matched, matched_i
        |FROM m ORDER BY user_id, first_event_id""".stripMargin,


    // Streaming twin: completions always emit (on arrival); a timed-out
    // partial emits iff some same-key event lands past its deadline
    // (in-advance expiry inside Cep.advance) OR the final watermark
    // (floor(max_us/1000) ms, 0s delay) passed the deadline.
    "stream_cep_funnel_relaxed" ->
      """WITH f AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |mx AS (SELECT max(us) AS mu FROM f),
        |v AS (SELECT * FROM f WHERE event_type='view'),
        |m AS (
        |  SELECT v.user_id, v.event_id AS first_event_id, v.us AS vus,
        |         c.cid, p.pid
        |  FROM v
        |  LEFT JOIN LATERAL (
        |    SELECT c.event_id AS cid, c.us AS cus FROM f c
        |    WHERE c.user_id = v.user_id AND c.event_type = 'click'
        |      AND (c.us > v.us OR (c.us = v.us AND c.event_id > v.event_id))
        |      AND c.us - v.us <= 86400000000
        |    ORDER BY c.us, c.event_id LIMIT 1) c ON true
        |  LEFT JOIN LATERAL (
        |    SELECT p.event_id AS pid FROM f p
        |    WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
        |      AND (p.us > c.cus OR (p.us = c.cus AND p.event_id > c.cid))
        |      AND p.us - v.us <= 86400000000
        |    ORDER BY p.us, p.event_id LIMIT 1) p ON true)
        |SELECT m.user_id, m.first_event_id,
        |  CASE WHEN pid IS NOT NULL THEN pid
        |       WHEN cid IS NOT NULL THEN cid ELSE first_event_id END AS last_event_id,
        |  CASE WHEN pid IS NOT NULL THEN 3
        |       WHEN cid IS NOT NULL THEN 2 ELSE 1 END AS steps_matched,
        |  CASE WHEN pid IS NOT NULL THEN 1 ELSE 0 END AS matched_i
        |FROM m, mx
        |WHERE pid IS NOT NULL
        |   OR EXISTS (SELECT 1 FROM f e WHERE e.user_id = m.user_id
        |              AND e.us > m.vus + 86400000000)
        |   OR (m.vus + 86400000000)//1000 < mu//1000
        |ORDER BY m.user_id, m.first_event_id""".stripMargin,


    "stream_cep_clicks_burst" ->
      """WITH f AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events),
        |c AS (SELECT user_id, event_id, us, rn,
        |    rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS isl
        |  FROM f WHERE event_type = 'click')
        |SELECT a.user_id, a.event_id AS first_event_id, b.event_id AS last_event_id,
        |       CAST(b.rn - a.rn + 1 AS INT) AS steps_matched,
        |       CAST(1 AS INT) AS matched_i
        |FROM c a JOIN c b
        |  ON a.user_id = b.user_id AND a.isl = b.isl AND b.rn >= a.rn
        |  AND b.us - a.us <= 86400000000
        |ORDER BY a.user_id, first_event_id, last_event_id""".stripMargin,


    // streaming twin: completions always emit; a timed-out partial emits
    // iff some same-key event lands past its deadline (in-advance expiry
    // inside Cep.advance) OR the final watermark passed the deadline
    "stream_cep_optional_funnel" ->
      """WITH f AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |mx AS (SELECT max(us) AS mu FROM f),
        |v AS (SELECT * FROM f WHERE event_type='view'),
        |m AS (
        |  SELECT v.user_id, v.event_id AS first_event_id, v.us AS vus,
        |         e1.e1id, e1.e1type, e1.e1us, p2.pid
        |  FROM v
        |  LEFT JOIN LATERAL (
        |    SELECT e.event_id AS e1id, e.event_type AS e1type, e.us AS e1us
        |    FROM f e
        |    WHERE e.user_id = v.user_id AND e.event_type IN ('click','purchase')
        |      AND (e.us > v.us OR (e.us = v.us AND e.event_id > v.event_id))
        |      AND e.us - v.us <= 86400000000
        |    ORDER BY e.us, e.event_id LIMIT 1) e1 ON true
        |  LEFT JOIN LATERAL (
        |    SELECT p.event_id AS pid FROM f p
        |    WHERE p.user_id = v.user_id AND e1.e1type = 'click'
        |      AND p.event_type = 'purchase'
        |      AND (p.us > e1.e1us OR (p.us = e1.e1us AND p.event_id > e1.e1id))
        |      AND p.us - v.us <= 86400000000
        |    ORDER BY p.us, p.event_id LIMIT 1) p2 ON true)
        |SELECT m.user_id, m.first_event_id,
        |  CASE WHEN e1type = 'purchase' THEN e1id
        |       WHEN pid IS NOT NULL THEN pid
        |       WHEN e1id IS NOT NULL THEN e1id ELSE first_event_id END AS last_event_id,
        |  CASE WHEN e1type = 'purchase' THEN 2
        |       WHEN pid IS NOT NULL THEN 3
        |       WHEN e1id IS NOT NULL THEN 2 ELSE 1 END AS steps_matched,
        |  CASE WHEN e1type = 'purchase' OR pid IS NOT NULL THEN 1 ELSE 0 END AS matched_i
        |FROM m, mx
        |WHERE e1type = 'purchase' OR pid IS NOT NULL
        |   OR EXISTS (SELECT 1 FROM f e WHERE e.user_id = m.user_id
        |              AND e.us > m.vus + 86400000000)
        |   OR (m.vus + 86400000000)//1000 < mu//1000
        |ORDER BY m.user_id, m.first_event_id""".stripMargin,


    // same portable sketch family; candidates restricted to incoming
    // (doc_id%5=0) × history (doc_id%5<>0) band collisions. The streaming
    // twin emits everything at arrival (stream-static inner joins only),
    // so it shares this oracle verbatim.
    "stream_dedup_incremental" ->
      s"""WITH perms(i, a, b) AS (VALUES ${permValuesSql(64)}),
        |${shingleSql(3)},
        |hv AS (SELECT doc_id, CAST(md5_number_lower(sv) % 2147483647 AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(s) AS sv FROM sh)),
        |mh AS (SELECT doc_id, p.i AS i,
        |    MIN((CAST(p.a AS BIGINT) * hv.h + p.b) % 2147483647) AS m
        |  FROM hv CROSS JOIN perms p GROUP BY doc_id, p.i),
        |bk AS (SELECT doc_id, i // 4 AS band,
        |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS key
        |  FROM mh GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
        |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
        |p2 AS (SELECT c.doc_a, c.doc_b, len(list_intersect(sa.s, sb.s)) AS i2,
        |    len(sa.s) AS la, len(sb.s) AS lb
        |  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
        |    JOIN sh sb ON sb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, CAST(i2 AS DOUBLE)/(la + lb - i2) AS jaccard
        |FROM p2 WHERE CAST(i2 AS DOUBLE)/(la + lb - i2) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,


    // The streaming run is batch-local foreachBatch decontamination —
    // per-doc pure, so it shares the batch formulation's truth: same
    // eval set, clean-side survivors per language.
    "stream_pipe_decontaminate" ->
      """WITH toks AS (SELECT doc_id, lang, n_chars,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, lang, n_chars,
        |    list_distinct(CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |      ELSE [array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)] END) AS s
        |  FROM toks),
        |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh
        |  WHERE doc_id % 97 = 0 OR doc_id % 101 = 0),
        |tr AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
        |trg AS (SELECT doc_id, unnest(s) AS g FROM tr),
        |bad AS (SELECT DISTINCT trg.doc_id FROM trg JOIN ev USING (g))
        |SELECT tr.lang, COUNT(*) AS docs_clean,
        |       CAST(SUM(tr.n_chars) AS BIGINT) AS chars_clean
        |FROM tr LEFT JOIN bad ON tr.doc_id = bad.doc_id
        |WHERE bad.doc_id IS NULL
        |GROUP BY tr.lang ORDER BY tr.lang""".stripMargin,


    "stream_t1_new_old" ->
      """WITH f AS (SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events)
        |SELECT CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_new, COUNT(*) AS ct,
        |       COUNT(DISTINCT user_id) AS user_ct
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,


    "stream_t2_uv_dedup" -> uvDedupOracleSql,


    // the uniform-twin rule under the deterministic hot-key remap: skew
    // must not move the answer
    "stream_skew_hotkey" ->
      """WITH e AS (SELECT event_id, ts,
        |    CASE WHEN event_id % 2 = 0 THEN 77777
        |         ELSE user_id + 100000 END AS user_id
        |  FROM events),
        |f AS (SELECT user_id,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS dt, event_id,
        |    row_number() OVER (PARTITION BY user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')
        |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM e)
        |SELECT user_id, dt, event_id FROM f WHERE rn = 1 ORDER BY user_id, dt""".stripMargin,


    // replays collapse to exactly one copy of every event (35d delay
    // covers the 30-day fixture, so no dedup key expires mid-run)
    "stream_dedup_replay" ->
      """SELECT event_type, COUNT(*) AS ct,
        |  COUNT(DISTINCT event_id) AS ids,
        |  COUNT(DISTINCT user_id) AS users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    // the state CONTENT is an offline truth: last deduped date per user
    // = max(date) per user
    "stream_state_reader" ->
      """SELECT user_id,
        |  max(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS last_dt
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,


    "stream_t2_uv_rocksdb" -> uvDedupOracleSql,
    "stream_t2_uv_tws" -> uvDedupOracleSql,


    // execution mode must not change admission: the streaming run (keyed
    // RocksDB state, per-batch event-time folds) answers to the same
    // recursive-CTE truth
    "stream_t5_rate_limit" -> rateLimitOracleSql,
    "stream_a25_ema" -> emaOracleSql,


    "stream_t3_bounce_tws" -> bounceOracleSql,


    // same oracle again: the tws session twin changes the state API
    // (ValueState + timer vs the session_window operator), not the answer
    "stream_t4_session_tws" ->
      sessionOracleSql,


    // Checkpoint resume re-derives the SINGLE-RUN dedup truth: the union
    // of the two lifecycles must equal it exactly (see the gate comment).
    "stream_t8_checkpoint_resume" ->
      uvDedupOracleSql,


    "stream_j3_enrich" ->
      """SELECT n_name, COUNT(*) AS order_ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,


    "stream_j6_asof" ->
      """SELECT o1.o_orderkey, o2.o_orderdate AS prev_date
        |FROM orders o1 ASOF LEFT JOIN orders o2
        |  ON o1.o_custkey = o2.o_custkey AND o1.o_orderdate > o2.o_orderdate
        |ORDER BY o1.o_orderkey""".stripMargin,


    // change-compact then interval: only rows whose tracked attribute
    // moved survive; lead() over the survivors closes each version
    // identical truth to k7: the streaming path only changes HOW the
    // changelog accumulates, never the derived history
    "stream_k7_scd2" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events),
        |v AS (SELECT * FROM o WHERE prev IS NULL OR prev <> event_type),
        |f AS (SELECT user_id, event_id, event_type, us AS from_us,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_us
        |  FROM v)
        |SELECT user_id, event_id, event_type, from_us, to_us,
        |  CASE WHEN to_us IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM f ORDER BY user_id, from_us, event_id""".stripMargin,


    "stream_dedup_ids" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,


    "stream_dedup_wwm" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,


    // Bounce emission = (a) successor observed with gap > 1800s, or
    "stream_t3_bounce" -> bounceOracleSql,


    // T7 late-data drop, replayed explicitly: chunk = event_id mod 4 (the
    // round-robin split). Spark runs TWO watermarks per trigger
    // (SPARK-24588 lineage): late-row DROPS use the PREVIOUS trigger's
    // watermark (eventTimeWatermarkForLateEvents — verified empirically:
    // batch 1 drops 0 rows despite an advanced current wm), while state
    // EVICTION / append emission uses the current one. So the drop wm for
    // batch k is max event-time ms over chunks <= k-2 minus 600000
    // (EventTimeStats floors µs→ms; batches 0 and 1 drop nothing); a row
    // is dropped when its hour-window END (µs) <= dropWm*1000; a window
    // emits when its end <= the FINAL wm. The lag also guarantees no
    // evicted window is ever re-created (eviction wm of batch k == drop
    // wm of batch k+1), so append never duplicates. Integer math end to
    // end.
    "stream_t7_late_drop" ->
      """WITH f AS (SELECT event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id % 4 AS chunk FROM events),
        |cm AS (SELECT chunk, MAX(us // 1000) AS mx_ms FROM f GROUP BY chunk),
        |wm AS (SELECT chunk,
        |    MAX(mx_ms) OVER (ORDER BY chunk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) - 600000
        |      AS wm_ms
        |  FROM cm),
        |kept AS (
        |  SELECT (f.us // 3600000000) * 3600000000 AS stt_us, f.event_type
        |  FROM f JOIN wm ON f.chunk = wm.chunk
        |  WHERE wm.wm_ms IS NULL
        |     OR ((f.us // 3600000000) * 3600000000 + 3600000000)
        |        > wm.wm_ms * 1000),
        |fin AS (SELECT (MAX(us // 1000) - 600000) * 1000 AS fwm_us FROM f)
        |SELECT stt_us, event_type, COUNT(*) AS ct
        |FROM kept, fin
        |WHERE stt_us + 3600000000 <= fwm_us
        |GROUP BY stt_us, event_type
        |ORDER BY stt_us, event_type""".stripMargin,


    "stream_a1_product_stats" ->
      """WITH w AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP))//10000000)*10000000 AS us,
        |                  event_type, value, user_id FROM events)
        |SELECT strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(make_timestamp(us + 10000000), '%Y-%m-%d %H:%M:%S') AS edt,
        |       event_type, COUNT(*) AS ct,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS amount,
        |       COUNT(DISTINCT user_id) AS user_ct
        |FROM w GROUP BY us, event_type ORDER BY us, event_type""".stripMargin,


    // the uniform replay of the hot-type remap: one group holding 50%
    // of events (and its whole distinct-user set) must not move the answer
    "stream_skew_hotagg" ->
      """WITH e AS (SELECT ts, value, user_id,
        |    CASE WHEN event_id % 2 = 0 THEN 'hot_type'
        |         ELSE event_type END AS event_type
        |  FROM events),
        |w AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP))//10000000)*10000000 AS us,
        |             event_type, value, user_id FROM e)
        |SELECT strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(make_timestamp(us + 10000000), '%Y-%m-%d %H:%M:%S') AS edt,
        |       event_type, COUNT(*) AS ct,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS amount,
        |       COUNT(DISTINCT user_id) AS user_ct
        |FROM w GROUP BY us, event_type ORDER BY us, event_type""".stripMargin,


    // the uniform replay of the hot remap under the append cutoff —
    // salting must not move any window's answer
    "stream_skew_salted" ->
      """WITH e AS (SELECT ts, value, user_id,
        |    CASE WHEN event_id % 2 = 0 THEN 'hot_type'
        |         ELSE event_type END AS event_type
        |  FROM events),
        |w AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP))//10000000)*10000000 AS us,
        |             event_type, value, user_id FROM e),
        |fin AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))//1000)*1000 AS wm_us
        |        FROM events)
        |SELECT strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(make_timestamp(us + 10000000), '%Y-%m-%d %H:%M:%S') AS edt,
        |       event_type, COUNT(*) AS ct,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS amount,
        |       COUNT(DISTINCT user_id) AS user_ct
        |FROM w, fin WHERE us + 10000000 <= wm_us
        |GROUP BY us, event_type ORDER BY us, event_type""".stripMargin,


    "stream_chained_agg" ->
      """WITH w AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP))//600000000)*600000000 AS us,
        |                  event_type, value FROM events),
        |fin AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))//1000)*1000 AS wm_us
        |        FROM events)
        |SELECT strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS stt,
        |       event_type, COUNT(*) AS ct,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS amount
        |FROM w, fin
        |WHERE us + 600000000 <= wm_us
        |GROUP BY us, event_type ORDER BY us, event_type""".stripMargin,


    "stream_dedup_agg_chain" ->
      """WITH w AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP))//3600000000)*3600000000 AS us,
        |                  event_type FROM events),
        |fin AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))//1000)*1000 AS wm_us
        |        FROM events)
        |SELECT us AS stt_us, event_type, COUNT(*) AS ct
        |FROM w, fin WHERE us + 3600000000 <= wm_us
        |GROUP BY us, event_type ORDER BY us, event_type""".stripMargin,


    "stream_window_argmax" ->
      """WITH w AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP))//600000000)*600000000 AS us,
        |                  event_type FROM events),
        |fin AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))//1000)*1000 AS wm_us
        |        FROM events),
        |cts AS (SELECT us, event_type, COUNT(*) AS ct FROM w
        |        GROUP BY us, event_type)
        |SELECT us AS stt_us,
        |  arg_max(event_type, lpad(CAST(ct AS VARCHAR), 12, '0') || event_type)
        |    AS top_type,
        |  MAX(ct) AS top_ct
        |FROM cts, fin WHERE us + 600000000 <= wm_us
        |GROUP BY us ORDER BY us""".stripMargin,


    "stream_chained_join_agg" ->
      """WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS v_ts
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |fin AS (SELECT LEAST(
        |    (SELECT MAX(epoch_us(v_ts) // 1000) FROM v),
        |    (SELECT MAX(epoch_us(c_ts) // 1000) FROM c)) * 1000 AS wm_us),
        |p AS (SELECT epoch_us(v.v_ts) AS v_us
        |  FROM v JOIN c ON v.user_id = c.user_id
        |   AND c.c_ts >= v.v_ts AND c.c_ts <= v.v_ts + INTERVAL 600 SECOND)
        |SELECT (v_us // 3600000000) * 3600000000 AS stt_us,
        |       COUNT(*) AS pair_ct
        |FROM p, fin
        |WHERE (v_us // 3600000000) * 3600000000 + 3600000000
        |      <= wm_us - 600000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "stream_j1_interval_join" ->
      """SELECT v.user_id, COUNT(*) AS pair_ct
        |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS v_ts FROM events WHERE event_type = 'view') v
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id
        | AND c.c_ts >= v.v_ts AND c.c_ts <= v.v_ts + INTERVAL 600 SECOND
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,


    // matched pairs always emit; a null-padded row requires the view's
    // window end to be strictly behind the final MIN-of-branches watermark
    "stream_j7_interval_left" ->
      """WITH v AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS vus
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS cus
        |      FROM events WHERE event_type = 'click'),
        |mx AS (SELECT LEAST((SELECT max(vus) FROM v), (SELECT max(cus) FROM c)) AS mu),
        |j AS (SELECT v.user_id, v.vus, c.cus
        |      FROM v LEFT JOIN c ON v.user_id = c.user_id
        |        AND c.cus >= v.vus AND c.cus <= v.vus + 600000000),
        |e AS (SELECT user_id,
        |        CASE WHEN cus IS NOT NULL THEN 1 ELSE 0 END AS m,
        |        CASE WHEN cus IS NULL
        |          AND (vus + 600000000)//1000 < (SELECT mu//1000 FROM mx)
        |          THEN 1 ELSE 0 END AS u
        |      FROM j)
        |SELECT user_id, CAST(SUM(m) AS BIGINT) AS pair_ct,
        |       CAST(SUM(u) AS BIGINT) AS unmatched_ct
        |FROM e GROUP BY user_id HAVING SUM(m) > 0 OR SUM(u) > 0
        |ORDER BY user_id""".stripMargin,


    // Full-outer twin of j7: both null-pad cutoffs replayed — views
    // close at vus+600s (their last possible click), clicks at cus (their
    // last possible view, 0-second lower bound); ms-floored like Spark's
    // EventTimeStats. Groups whose every row is unclosed never emit.
    "stream_j7b_interval_full" ->
      """WITH v AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS vus
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS cus
        |      FROM events WHERE event_type = 'click'),
        |mx AS (SELECT LEAST((SELECT max(vus) FROM v), (SELECT max(cus) FROM c)) AS mu),
        |j AS (SELECT COALESCE(v.user_id, c.user_id) AS user_id, v.vus, c.cus
        |      FROM v FULL OUTER JOIN c ON v.user_id = c.user_id
        |        AND c.cus >= v.vus AND c.cus <= v.vus + 600000000),
        |e AS (SELECT user_id,
        |        CASE WHEN vus IS NOT NULL AND cus IS NOT NULL THEN 1 ELSE 0 END AS m,
        |        CASE WHEN cus IS NULL
        |          AND (vus + 600000000)//1000 < (SELECT mu//1000 FROM mx)
        |          THEN 1 ELSE 0 END AS uv,
        |        CASE WHEN vus IS NULL
        |          AND cus//1000 < (SELECT mu//1000 FROM mx)
        |          THEN 1 ELSE 0 END AS uc
        |      FROM j)
        |SELECT user_id, CAST(SUM(m) AS BIGINT) AS pair_ct,
        |       CAST(SUM(uv) AS BIGINT) AS unmatched_view_ct,
        |       CAST(SUM(uc) AS BIGINT) AS unmatched_click_ct
        |FROM e GROUP BY user_id
        |HAVING SUM(m) > 0 OR SUM(uv) > 0 OR SUM(uc) > 0
        |ORDER BY user_id""".stripMargin,


    // session_window cutoff: a session emits once the final watermark (ms,
    // 0s delay → floor(max_us/1000)) is at or past its end (last + gap)
    "stream_t4_session" ->
      sessionOracleSql,


    "stream_a4_sql" ->
      """WITH w AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP))//60000000)*60000000 AS us,
        |                  event_type, value, user_id FROM events)
        |SELECT strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS stt,
        |       event_type, user_id % 4 AS cohort, COUNT(*) AS pv,
        |       COUNT(DISTINCT user_id) AS uv,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
        |FROM w GROUP BY us, event_type, cohort ORDER BY us, event_type, cohort""".stripMargin
  )
}
