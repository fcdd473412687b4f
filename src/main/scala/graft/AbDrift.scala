package graft

import org.apache.spark.sql.functions._

/** In-JVM interleaved A/B harness for bench-drift attribution (VERDICT r9
  * task 1). Sequential same-JVM runs lie about perf deltas (JIT, cache,
  * page-cache state drift between the two arms — the r8 persist_tf
  * mis-read); interleaving A and B trials in ONE JVM exposes both arms to
  * the same environment, so the median delta is attributable to the plan,
  * not the machine.
  *
  * Round-12 fourth-session arms (sf0.1 unless SPARK_GRAFT_SF_DIR
  * overrides): the session's final bench (195 gates, 180.8 s) ran 15%
  * over the morning 178-gate run (146.7 s) on UNCHANGED gates —
  * `dedup_clusters` 3.07→3.91, `sim_topk_pq` 3.18→3.84 are the headline
  * movers. Interleave both gate bodies (byte-identical via
  * SparkEntry.queries): medians back in the morning family exonerate
  * ambient load; reproduced 3.9 s means something real moved.
  * (The earlier r12 arms — semantic_train/full, simhash, j1_sp*,
  * tws_uv_* — are retired with their verdicts banked in BASELINE.md's
  * "r11 driver-run drift attribution" section.)
  *
  * Prints one line per trial plus per-arm median/min; Bench-style hygiene
  * (unpersist, clearCache, GC) runs between trials so one arm's residue
  * never taxes the next.
  */
object AbDrift {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val trials = sys.env.getOrElse("SPARK_GRAFT_AB_TRIALS", "5").toInt
    val spark = Sessions.tuned("local[32]", "32")

    // SPARK_GRAFT_AB_STAGES=1: print per-stage wall times — attribute an
    // arm's cost to its stages instead of guessing from plan shape.
    if (sys.env.get("SPARK_GRAFT_AB_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val ms = (for (s <- si.submissionTime; c <- si.completionTime)
              yield c - s).getOrElse(-1L)
            println(f"[stage] id=${si.stageId}%-4d tasks=${si.numTasks}%-3d " +
              f"ms=$ms%-6d ${si.name.linesIterator.next().take(80)}")
          }
        })

    def reset(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      System.gc()
    }

    // session-6 arms: the 217-gate bench put text_bpe_encode at 10.12 s
    // (3.0-3.1 in every earlier artifact) and sim_topk_pq at 6.38 (band
    // 3.7-4.4); interleave both against the stable dedup_clusters
    // reference to attribute ambient-vs-real.
    // SPARK_GRAFT_AB_ARMS=name,name narrows the arm set (any
    // SparkEntry.queries key is an arm) — e.g. re-measuring one mover
    // with the exact arm composition of an earlier banked run.
    // r13 arms: the chained multiple-stateful-operator gates carry two
    // state stores × partitions × batches of pure commit I/O for tiny
    // state. Lever candidates: state partition count (sp1 halves commits
    // vs the banked sp2), RocksDB+changelog (the r12 tws verdict), and
    // the single-stateful peer at identical source/batching for the
    // "within 1.5×" target. All arms share eventsStreamSplit => equal
    // micro-batch counts by construction.
    def chainedAgg(sp: Int): Long =
      graft.streaming.StreamRunner.collect(
        graft.streaming.WindowedStreams.chainedStats(
          graft.streaming.Sources.eventsStreamSplit(spark, sfDir)),
        statePartitions = sp).count()
    def singleAgg(sp: Int): Long =
      graft.streaming.StreamRunner.collect(
        graft.streaming.Sources.eventsStreamSplit(spark, sfDir)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "60 seconds"), col("event_type"))
          .agg(count(lit(1)).as("ct")),
        statePartitions = sp).count()
    def rocksCl(body: => Long): Long =
      Sessions.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled" -> "true")(body)
    // r13 as-of tier arms: the SAME as-of result (each lineitem → its
    // supplier's latest distinct ship date at-or-before the row's own
    // shipdate) computed by the composed union+window operator vs the
    // engine-native AsOfJoinExec. Both arms pay the right-side (key, ts)
    // dedup; the delta is the operator itself (widened union + running
    // window vs co-partitioned merge with O(1) state).
    def asofLineitem(exec: Boolean): Long = {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("l_shipdate"))
      val right = Tables.lineitem(spark, sfDir)
        .select(col("l_suppkey").as("rk"), col("l_shipdate").as("rt"))
        .filter(col("rk").isNotNull && col("rt").isNotNull)
        .distinct() // both arms pay the identical dedup
      val out =
        if (exec)
          graft.operators.Joins.asOfJoinExec(
            li, right, Seq("l_suppkey" -> "rk"), "l_shipdate", "rt")
            .select(col("l_orderkey"), col("rt"))
        else
          graft.operators.Joins.asOfJoin(
            li, right, "l_suppkey", "rk", "l_shipdate", "rt",
            payload = Seq("rt"))
            .select(col("l_orderkey"), col("asof.rt").as("rt"))
      // checksum agg, NOT count(): count() lets the optimizer prune the
      // whole window (and with it the union shuffle and the distinct) out
      // of the composed arm — the r13 first-cut A/B measured a no-op.
      out.agg(sum(pmod(xxhash64(col("l_orderkey"), col("rt")),
        lit(1000000007L)))).head().getLong(0)
    }

    // isolation arm: the exec tier's EXACT input machinery (two key
    // shuffles + (key, time) sorts) with a trivial zip instead of the
    // merge — attributes the composed-vs-exec delta to Spark plumbing vs
    // the merge loop itself.
    def asofInputsOnly(): Long = {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("l_shipdate"))
        .repartition(32, col("l_suppkey"))
        .sortWithinPartitions(col("l_suppkey"), col("l_shipdate"))
      val right = Tables.lineitem(spark, sfDir)
        .select(col("l_suppkey").as("rk"), col("l_shipdate").as("rt"))
        .filter(col("rk").isNotNull && col("rt").isNotNull)
        .distinct()
        .repartition(32, col("rk"))
        .sortWithinPartitions(col("rk"), col("rt"))
      li.queryExecution.toRdd.zipPartitions(right.queryExecution.toRdd) {
        (a, b) => Iterator.single(a.size.toLong + b.size.toLong)
      }.sum().toLong
    }

    // r14: the zero-exchange payoff — the SAME as-of join over
    // PRE-BUCKETED tables (the j20 path): AsOfJoinExec's required
    // distribution is satisfied by the bucketed layout, so the timed
    // region pays only the per-partition sorts + the merge, no
    // exchange. The one-time bucketBy write happens OUTSIDE the timed
    // thunks (lazy, first use), like any at-rest layout; tables are
    // dropped before spark.stop().
    lazy val asofBucketedTables: (String, String, String, String) = {
      val uniq = System.nanoTime()
      val (lt, rt) = (s"graft_ab_asof_l_$uniq", s"graft_ab_asof_r_$uniq")
      val (lp, rp) = (s"${TmpDirs.shmRoot}/$lt", s"${TmpDirs.shmRoot}/$rt")
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("l_shipdate"))
      val right = Tables.lineitem(spark, sfDir)
        .select(col("l_suppkey").as("rk"), col("l_shipdate").as("rt"))
        .filter(col("rk").isNotNull && col("rt").isNotNull)
        .distinct()
      graft.operators.Bucketing.writeBucketed(li, lt, lp, "l_suppkey", 32)
      graft.operators.Bucketing.writeBucketed(right, rt, rp, "rk", 32)
      (lt, rt, lp, rp)
    }
    def asofBucketedArm(): Long = {
      val (lt, rt, _, _) = asofBucketedTables
      val out = graft.operators.Joins.asOfJoinExec(
          spark.table(lt), spark.table(rt),
          Seq("l_suppkey" -> "rk"), "l_shipdate", "rt")
        .select(col("l_orderkey"), col("rt"))
      out.agg(sum(pmod(xxhash64(col("l_orderkey"), col("rt")),
        lit(1000000007L)))).head().getLong(0)
    }

    // r14: price the at-rest dedup index — incremental ingest with the
    // history band index computed INLINE (re-shingles all history text
    // every run) vs probed from its persisted layout (reads O(bands ×
    // docs) index rows, zero history re-shingling). Write is one-time,
    // outside the timed region.
    lazy val bandIndexPath: String = {
      val p = s"${TmpDirs.shmRoot}/graft_ab_bandidx_${System.nanoTime()}"
      val docs = Tables.documents(spark, sfDir)
      graft.operators.Dedup.minhashBandIndex(
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L))
        .write.partitionBy("band").mode("overwrite").parquet(p)
      p
    }
    def dedupIncArm(atRest: Boolean): Long = {
      val docs = Tables.documents(spark, sfDir)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val history = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      val idx =
        if (atRest) spark.read.parquet(bandIndexPath)
          .select(col("doc_id"), col("band").cast("int").as("band"),
            col("key"))
        else graft.operators.Dedup.minhashBandIndex(history)
      val out = graft.operators.Dedup
        .incrementalNearDups(incoming, history, idx)
      out.agg(sum(pmod(xxhash64(col("doc_a"), col("doc_b"),
        col("jaccard")), lit(1000000007L)))).head().getLong(0)
    }

    // r15: what does versioned-store FILE SKIPPING buy — the same 40
    // point lookups against one stats-carrying store (orders, 64
    // range-correlated buckets, min/max + Bloom manifests), planned
    // through the manifest (vskip) vs filtered over the full snapshot
    // scan (vscan). The store builds once, outside the timed thunks;
    // per-arm cost is the 40 probes only, checksum-forced.
    lazy val vskipStore: String = {
      val path = s"${TmpDirs.shmRoot}/graft-ab-vskip-${System.nanoTime()}"
      val raw = Tables.orders(spark, sfDir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      val mx = raw.agg(max(col("k"))).head().getLong(0)
      val base = raw.withColumn("bucket",
        least(floor(col("k") * 64.0 / (mx + 1)).cast("long"), lit(63L)))
      graft.operators.Versioned.init(spark, path, "bucket", base,
        statsCol = Some("k"))
      path
    }
    def vskipProbes(): Seq[Long] = {
      val raw = Tables.orders(spark, sfDir).select(col("o_orderkey").as("k"))
      val mx = raw.agg(max(col("k"))).head().getLong(0)
      (1 to 40).map(i => raw.filter(col("k") >= (mx.toDouble * i / 41).toLong)
        .agg(min(col("k"))).head().getLong(0))
    }
    lazy val vskipKeys: Seq[Long] = vskipProbes()
    def vskipArm(skip: Boolean): Long =
      vskipKeys.map { key =>
        val df =
          if (skip) graft.operators.Versioned.readPoint(
            spark, vskipStore, "k", key)
          else graft.operators.Versioned.read(spark, vskipStore)
            .filter(col("k").cast("long") === key)
        df.agg(coalesce(sum(pmod(xxhash64(col("k"), col("price")),
          lit(1000000007L))), lit(0L))).head().getLong(0)
      }.sum

    // r17: price the r16 multi-column-stats WRITE tax (verdict task 1) —
    // the SAME init + two-merge churn (k17/k22 shape, orders at sfDir),
    // manifests collected with no stats / single-column (r15 shape) /
    // multi-column (r16 shape), plus the knob arm: stats-less writes
    // followed by ONE backfillStats commit (stats-on-maintenance-only —
    // what a write-heavy store would schedule instead of per-merge
    // collection). Interleaved in one JVM so the deltas are the plan's.
    def vWriteArm(mode: String): Long = {
      import graft.operators.Versioned
      val path = s"${TmpDirs.shmRoot}/graft-ab-vwrite-${System.nanoTime()}"
      try {
        val raw = Tables.orders(spark, sfDir)
          .select(col("o_orderkey").as("k"),
            col("o_totalprice").cast("decimal(18,2)").as("price"),
            col("o_custkey").as("c"))
        val base = raw.withColumn("bucket", pmod(col("k"), lit(16L)))
        val (s1, sN) = mode match {
          case "single" => (Some("k"), Nil)
          case "multi" => (None, Seq("k", "c", "price"))
          case _ => (None, Nil) // none | backfill
        }
        Versioned.init(spark, path, "bucket", base,
          statsCol = s1, statsCols = sN)
        val b1 =
          base.filter(col("bucket") === 2 && col("k") % 3 === 0)
            .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
            .withColumn("op", lit("U"))
          .unionByName(base.filter(col("bucket") === 5 && col("k") % 3 === 1)
            .withColumn("op", lit("D")))
          .unionByName(base.filter(col("bucket") === 2 && col("k") % 3 === 2)
            .withColumn("k", col("k") + 80000000L)
            .withColumn("op", lit("I")))
        Versioned.merge(spark, path, "bucket", "k", b1,
          statsCol = s1, statsCols = sN)
        val b2 =
          base.filter(col("bucket") === 7 && col("k") % 5 === 1)
            .withColumn("price", (col("price") * 3).cast("decimal(18,2)"))
            .withColumn("op", lit("U"))
          .unionByName(base.filter(col("bucket") === 7 && col("k") % 5 === 2)
            .withColumn("k", col("k") + 90000000L)
            .withColumn("op", lit("I")))
        Versioned.merge(spark, path, "bucket", "k", b2,
          statsCol = s1, statsCols = sN)
        if (mode == "backfill")
          Versioned.backfillStats(spark, path, "bucket",
            Seq("k", "c", "price"))
        Versioned.latest(path)
      } finally TmpDirs.rmTree(path)
    }

    // r17: price the DELETION-VECTOR tier against the COW rewrite on the
    // SAME targeted delete (~0.1% of keys, spread across all partitions —
    // the worst case for COW, which must rewrite every partition, and the
    // design case for DV, which writes one tombstone file). Both arms pay
    // the identical init; the delta is the delete mechanism + the
    // post-delete read (correctness anchor: both arms return the same
    // surviving count).
    // r18 third arm (verdict task 1): materialize=true pays the DV delete
    // PLUS the threshold-0 materializeDvs sweep, then reads — the banked
    // fact is the post-materialize read landing back in the COW arm's
    // read family (the ~2× DV read tax has a lifecycle answer now, priced
    // separately from the delete itself in the [ab-detail] lines).
    def vDeleteArm(dv: Boolean, materialize: Boolean = false): Long = {
      import graft.operators.Versioned
      val path = s"${TmpDirs.shmRoot}/graft-ab-vdel-${System.nanoTime()}"
      try {
        // a realistic row: ~1 KB payload. COW must read AND rewrite it
        // for every surviving row of every touched partition; the DV
        // attribution scan never touches it (Catalyst prunes to the key
        // column — the backfill-prune spec's argument, live here)
        val base = Tables.orders(spark, sfDir)
          .select(col("o_orderkey").as("k"),
            col("o_totalprice").cast("decimal(18,2)").as("price"),
            concat_ws("-", (0 until 8).map(i =>
              sha2(concat(col("o_orderkey").cast("string"), lit(i)), 256))
              : _*).as("payload"))
          .withColumn("bucket", pmod(col("k"), lit(16L)))
        Versioned.init(spark, path, "bucket", base)
        val doomed = base.filter(col("k") % 997 === 0)
        // the init is identical ballast in both arms — print the delete
        // step's own wall so the banked delta is the MECHANISM's, and
        // the post-delete read's (the DV read pays its anti-join)
        val t0 = System.nanoTime()
        if (dv)
          Versioned.deleteKeysDv(spark, path, "bucket", "k",
            doomed.select(col("k"), col("bucket")))
        else
          Versioned.merge(spark, path, "bucket", "k",
            doomed.withColumn("op", lit("D")))
        val tDel = (System.nanoTime() - t0) / 1e9
        val tm0 = System.nanoTime()
        if (materialize)
          Versioned.materializeDvs(spark, path, "bucket")
        val tMat = (System.nanoTime() - tm0) / 1e9
        val t1 = System.nanoTime()
        val n = Versioned.read(spark, path).count()
        val tRead = (System.nanoTime() - t1) / 1e9
        val tag = if (!dv) "cow    " else if (materialize) "dv+mat " else "dv     "
        println(f"[ab-detail] $tag delete=$tDel%6.3f s mat=$tMat%6.3f s " +
          f"read=$tRead%6.3f s rows=$n")
        n
      } finally TmpDirs.rmTree(path)
    }

    // r17 layout-quality arms: the SAME store, probes and stats under the
    // two clustering keys — the metric is FILES PROBED (deterministic for
    // a given layout, printed per trial), wall time is secondary. Hilbert
    // tiles have tighter bounding boxes than Morton tiles (unit-step
    // locality, ZOrderSpec proves the curve property), so the probe set
    // should open fewer files; this arm MEASURES by how much on the real
    // table — layout quality is a measurement, not an oracle fact.
    def layoutArm(hilb: Boolean): Long = {
      import graft.operators.Versioned
      import graft.functions.LayoutFns
      val path = s"${TmpDirs.shmRoot}/graft-ab-layout-${System.nanoTime()}"
      try {
        val base = Tables.orders(spark, sfDir)
          .select(col("o_orderkey").as("k"),
            pmod(col("o_orderkey"), lit(1024L)).as("x"),
            pmod(expr("o_orderkey div 7"), lit(1024L)).as("y"),
            col("o_totalprice").cast("decimal(18,2)").as("price"))
        val idx = if (hilb) LayoutFns.hilbert(10, col("x"), col("y"))
          else LayoutFns.zvalue(10, col("x"), col("y"))
        Versioned.init(spark, path, "tile",
          base.withColumn("tile", shiftright(idx, 15)),
          statsCols = Seq("x", "y"))
        val probes = Seq(
          ("x", 777L, 777L), ("x", 128L, 159L), ("x", 300L, 363L),
          ("y", 333L, 333L), ("y", 512L, 543L), ("y", 64L, 127L))
        var probed = 0L
        var rows = 0L
        probes.foreach { case (c, lo, hi) =>
          val df = if (lo == hi) Versioned.readPoint(spark, path, c, lo)
            else Versioned.readRange(spark, path, c, lo, hi)
          probed += df.inputFiles.length
          rows += df.count()
        }
        println(f"[ab-detail] ${if (hilb) "hilbert" else "zorder "} " +
          f"files_probed=$probed rows=$rows")
        probed
      } finally TmpDirs.rmTree(path)
    }

    val customArms: Map[String, () => Long] = Map(
      "layout_hilbert" -> (() => layoutArm(hilb = true)),
      "layout_zorder" -> (() => layoutArm(hilb = false)),
      "vdel_dv" -> (() => vDeleteArm(dv = true)),
      "vdel_cow" -> (() => vDeleteArm(dv = false)),
      "vdel_dv_mat" -> (() => vDeleteArm(dv = true, materialize = true)),
      "vwrite_none" -> (() => vWriteArm("none")),
      "vwrite_single" -> (() => vWriteArm("single")),
      "vwrite_multi" -> (() => vWriteArm("multi")),
      "vwrite_backfill" -> (() => vWriteArm("backfill")),
      "vskip_point" -> (() => vskipArm(skip = true)),
      "vscan_point" -> (() => vskipArm(skip = false)),
      "dedup_inc_inline" -> (() => dedupIncArm(atRest = false)),
      "dedup_inc_atrest" -> (() => dedupIncArm(atRest = true)),
      "asof_composed" -> (() => asofLineitem(exec = false)),
      "asof_exec" -> (() => asofLineitem(exec = true)),
      "asof_inputs" -> (() => asofInputsOnly()),
      "asof_bucketed" -> (() => asofBucketedArm()),
      "ch_agg_sp1" -> (() => chainedAgg(1)),
      "ch_agg_sp2" -> (() => chainedAgg(2)),
      "ch_agg_rocks" -> (() => rocksCl(chainedAgg(2))),
      "single_agg_sp2" -> (() => singleAgg(2)),
      "ch_join_sp1" -> (() => {
        val (views, clicks) = GatesStreaming.viewsClicks(
          graft.streaming.Sources.eventsStreamSplit(spark, sfDir))
        graft.streaming.StreamRunner.collect(
          graft.operators.Joins.intervalJoin(
              views, clicks, "v_user", "c_user", "v_ts", "c_ts",
              lowerSec = 0L, upperSec = 600L)
            .groupBy(window(col("v_ts"), "3600 seconds"))
            .agg(count(lit(1)).as("pair_ct")),
          statePartitions = 1).count()
      }),
      "ch_join_sp2" -> (() => SparkEntry.queries("stream_chained_join_agg")(spark, sfDir).count()),
      "ch_join_rocks" -> (() => rocksCl(
        SparkEntry.queries("stream_chained_join_agg")(spark, sfDir).count())),
      // r14 commit-floor levers (verdict task 5). Async progress
      // tracking is NOT an arm: AsyncProgressTrackingMicroBatchExecution
      // .checkNotStatefulStreamingQuery rejects stateful queries outright
      // in Spark 4.1, so the lever is ineligible for this gate by the
      // engine's own contract — recorded as a verdict line, not measured.
      // ch_join_maint: defer the state-store maintenance thread past the
      // run (no mid-run snapshot/cleanup work competes with commits).
      // ch_join_unload: unloadOnCommit=true — the opposite direction
      // (drop each store after commit, reload next batch); bounds how
      // much provider-cache retention is WORTH.
      "ch_join_maint" -> (() =>
        Sessions.withConf(spark,
            "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s") {
          SparkEntry.queries("stream_chained_join_agg")(spark, sfDir).count()
        }),
      "ch_join_unload" -> (() =>
        Sessions.withConf(spark,
            "spark.sql.streaming.stateStore.unloadOnCommit" -> "true") {
          SparkEntry.queries("stream_chained_join_agg")(spark, sfDir).count()
        }),
      // r14 rate-limit tiers: array (collect_list + HOF fold) vs sorted
      // (secondary-sorted mapPartitions, O(1) per-key state) on the SAME
      // t5 inputs — the absolute numbers size what the bounded-state
      // posture costs/saves at tenant-grained keys. Checksum-forced.
      "t5_array" -> (() => {
        Sessions.force(SparkEntry.queries("t5_rate_limit")(spark, sfDir)); 0L
      }),
      "t5_sorted" -> (() => {
        Sessions.force(
          SparkEntry.queries("t5_rate_limit_sorted")(spark, sfDir)); 0L
      }),
      "ch_agg_maint" -> (() =>
        Sessions.withConf(spark,
            "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s") {
          chainedAgg(2)
        }),
      "ch_agg_unload" -> (() =>
        Sessions.withConf(spark,
            "spark.sql.streaming.stateStore.unloadOnCommit" -> "true") {
          chainedAgg(2)
        }))

    val defaultArms = Seq("dedup_clusters", "text_bpe_encode", "sim_topk_pq")
    val armNames = sys.env.get("SPARK_GRAFT_AB_ARMS")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(defaultArms)
    val arms: Seq[(String, () => Long)] = armNames.map(n =>
      n -> customArms.getOrElse(n,
        () => { Sessions.force(SparkEntry.queries(n)(spark, sfDir)); 0L }))

    // untimed warmup: compile every arm's plan once so trial 1 isn't
    // charged first-touch JIT (the exact artifact this harness de-noises)
    arms.foreach { case (_, f) => try { f(); () } catch { case _: Throwable => () }; reset() }

    val timings = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (t <- 1 to trials; (name, f) <- arms) {
      reset()
      val t0 = System.nanoTime()
      f()
      val sec = (System.nanoTime() - t0) / 1e9
      timings(name) = timings(name) :+ sec
      println(f"[ab] trial $t $name%-18s $sec%7.3f s")
    }
    println("[ab] ---- per-arm summary ----")
    arms.foreach { case (name, _) =>
      val v = timings(name).sorted
      val med = v(v.size / 2)
      println(f"[ab] $name%-18s median $med%7.3f  min ${v.head}%7.3f  max ${v.last}%7.3f  n=${v.size}")
    }
    if (armNames.contains("dedup_inc_atrest"))
      TmpDirs.rmTree(bandIndexPath)
    if (armNames.exists(_.startsWith("vskip")) ||
        armNames.exists(_.startsWith("vscan")))
      TmpDirs.rmTree(vskipStore)
    if (armNames.contains("asof_bucketed")) {
      val (lt, rt, lp, rp) = asofBucketedTables
      graft.operators.Bucketing.drop(spark, lt)
      graft.operators.Bucketing.drop(spark, rt)
      TmpDirs.rmTree(lp); TmpDirs.rmTree(rp)
    }
    spark.stop()
  }
}
