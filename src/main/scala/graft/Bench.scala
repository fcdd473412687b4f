package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

object Bench {

  /** Per-gate Spark-job accounting (r19, verdict task: make scaling
    * legible): how many driver-scheduled jobs a gate ran and their
    * summed in-job wall time. A gate whose c8/c32 ratio is ≈1 with a
    * HIGH job count is driver-round-bound (scheduling latency doesn't
    * scale with cores); one with few jobs and ratio ≈1 deserves a
    * closer look. Artifact-only (bench_full_r*.json) — the stdout
    * metric line is the driver contract and stays unchanged. */
  private final case class JobAgg(jobs: Long, jobMs: Long)

  /** Per-gate Janino accounting, summed over the gate's timed trials:
    * generated classes compiled (`CodegenMetrics`) and the time spent
    * compiling them (`CodeGenerator.compileTime`). After the warm-up a
    * timed run should compile nothing; a nonzero count names a gate whose
    * timing carries first-touch compile (and the JIT work that follows
    * each new class). Artifact-only, like `JobAgg`. */
  private final class CodegenAgg {
    var compiles = 0L
    var compileNs = 0L
  }

  /** Per-stream-gate micro-batch accounting, summed over every progress
    * event the gate's (bounded) run emitted. Splits the streaming
    * lifecycle cost — state-store commit, WAL/offset commits, planning —
    * from the data cost (addBatch), so a round-over-round drift in a
    * stream gate is attributable instead of argued (stream timings swing
    * with machine load precisely in these components). */
  private final class StreamAgg {
    var batches = 0L
    var triggerMs = 0L
    var addBatchMs = 0L
    var walCommitMs = 0L
    var commitOffsetsMs = 0L
    var queryPlanningMs = 0L
    var stateCommitMs = 0L
    var stateRowsTotal = 0L // last observed total state rows
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.tuned(s"local[$cpus]", cpus)
    // local-iteration knob (unset for the driver): restrict to named queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // absorb session/JIT/codegen warmup so the first measured query isn't
    // charged for it
    try Sessions.force(SparkEntry.queries("q1_agg")(spark, sfDir))
    catch { case _: Throwable => () }
    // Per-PLAN warmup at the smallest sf: whichever query first touches a
    // codegen/JIT path pays its compile cost — measured 1.6s of first-
    // touch on a 0.3s query — and WHICH query pays moved whenever the
    // iteration order changed (the r7 a3_keyword_stats 0.38→2.03 swing).
    // Running every batch query once on sf0.001 (tiny, untimed) compiles
    // its plan shapes, and `Sessions.tuned`'s generated-class cache is
    // sized to keep all of them (Spark's default 100-class cache evicted
    // them long before the timed pass over ~280 queries reached them).
    // A shape that differs between sf0.001 and the timed sf — a literal
    // baked from the data, a different join strategy — still compiles in
    // its timed run; the artifact's `codegen` block shows where. stream_*
    // gates are excluded: each timed run re-executes its full micro-batch
    // + checkpoint lifecycle regardless, and running 15 streaming queries
    // here would double bench wall-clock for paths the batch twins
    // already compile.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (!name.startsWith("stream_") && only.forall(_.contains(name)))
          try Sessions.force(fn(spark, warmDir)) catch { case _: Throwable => () }
      }
    else
      // a silently-skipped warmup reintroduces the exact first-touch
      // attribution nondeterminism the pass exists to remove — say so
      println(s"[bench] WARM DIR ABSENT ($warmDir): per-plan warmup " +
        "skipped; first-touch JIT cost lands on the first timed query")
    // Inter-query hygiene (untimed): drop leftover memory-sink tables,
    // unpersist localCheckpoint blocks, and GC — one query's residue must
    // not tax the next query's timing (measured: the last bench query ran
    // 5-20x slower than in isolation before this).
    def reset(): Unit = {
      spark.catalog.listTables().collect()
        .filter(t => t.name.startsWith("graft_stream_") ||
          t.name.startsWith("docs_") || t.name.startsWith("ev_sql_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      System.gc()
    }
    // Streaming lifecycle listener: progress events are attributed to the
    // gate being timed via `current` (gates run strictly sequentially).
    val streamAgg = new java.util.concurrent.ConcurrentHashMap[String, StreamAgg]()
    @volatile var current: String = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val gate = current
        if (gate != null) {
          val a = streamAgg.computeIfAbsent(gate, _ => new StreamAgg)
          val d = e.progress.durationMs
          def ms(k: String): Long =
            Option(d.get(k)).map(_.longValue()).getOrElse(0L)
          a.synchronized {
            a.batches += 1
            a.triggerMs += ms("triggerExecution")
            a.addBatchMs += ms("addBatch")
            a.walCommitMs += ms("walCommit")
            a.commitOffsetsMs += ms("commitOffsets")
            a.queryPlanningMs += ms("queryPlanning")
            val ops = e.progress.stateOperators
            if (ops != null && ops.nonEmpty) {
              a.stateCommitMs += ops.map(_.commitTimeMs).sum
              a.stateRowsTotal = ops.map(_.numRowsTotal).sum
            }
          }
        }
      }
    }
    spark.streams.addListener(listener)
    // per-gate job accounting (see JobAgg): jobs are attributed to the
    // gate current at job START; the bus is drained before attribution
    // moves on, so counts are exact per gate
    val jobAgg = scala.collection.mutable.Map.empty[String, JobAgg]
    val jobListener = new JobListener
    spark.sparkContext.addSparkListener(jobListener)
    // (sec, succeeded) per query — a throwing query must NOT masquerade as
    // a healthy timing
    // sorted execution order: Map iteration order shifts when gates are
    // added, which silently moves shared-cost attribution (e.g. which
    // dedup gate warms the shared pair memo) between rounds — sorting
    // pins it
    val codegenAgg = scala.collection.mutable.Map.empty[String, CodegenAgg]
    def timeGate(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      reset()
      current = name
      jobListener.tag = name
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      // Sessions.force, NOT count(): a bare count lets the optimizer prune
      // unused aggregates/windows/projections/sorts out of the timed plan —
      // the bench then under-measures exactly the gates with the most
      // compute (see BASELINE.md "r13 bench methodology fix").
      val ok = try { Sessions.force(fn(spark, sfDir)); true } catch { case _: Throwable => false }
      // progress events ride the async listener bus; drain it (untimed
      // would be wrong — the events ARE part of the gate's lifecycle, but
      // dispatch latency is micro) before handing attribution to the next
      // gate, or an in-flight event is dropped / mis-credited
      if (name.startsWith("stream_"))
        org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      val sec = (System.nanoTime() - t0) / 1e9
      // drain once more OUTSIDE the timed window so the job accounting
      // (JobAgg) sees in-flight job-end events before `current` moves
      // on — attribution hygiene, not lifecycle cost. A retried gate's
      // second trial replaces the first: the artifact keeps the LAST
      // trial's job accounting, and a job-free run gets no entry.
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      current = null
      jobListener.tag = null
      val ended = jobListener.jobs.filter(_.ended)
      jobListener.clear()
      if (ended.isEmpty) jobAgg.remove(name)
      else jobAgg(name) = JobAgg(ended.size.toLong, ended.map(_.ms).sum)
      val cg = codegenAgg.getOrElseUpdate(name, new CodegenAgg)
      cg.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      cg.compileNs += CodeGenerator.compileTime - cNs0
      (sec, ok)
    }
    val gateList0 = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Self-contained attribution for the shared n-gram pair memo (r16
    // verdict task 2): the cold pair scan (~5-6 s at sf0.1) used to be
    // charged to whichever consumer ran first — an 11x swing between
    // full-run and subset-run numbers that was pure measurement topology.
    // A dedicated synthetic gate now owns the cold scan and runs BEFORE
    // any consumer (injected whenever the selection contains one), so
    // every consumer measures its own documented downstream shape with
    // the memo warm — full-run == subset-run by construction. The gate is
    // bench-only: correctness still rides the consumers' own oracles.
    val ngramConsumers = Set("dedup_ngram_jaccard", "dedup_clusters",
      "dedup_keep_best", "pipe_dedup_survivors", "pipe_split_leakage")
    val pairScanGate: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (gateList0.exists(g => ngramConsumers(g._1)))
        Seq("dedup_pair_scan" -> ((s: SparkSession, d: String) => {
          GateSupport.clearNgramPairsMemo()
          GateSupport.sharedNgramPairs(s, d)
        }))
      else Seq.empty
    val gateList = pairScanGate ++ gateList0
    // Self-calibrating artifact (r16 verdict task 3): a fixed pure-CPU
    // kernel — 192M xxhash64 rows across 64 partitions, no shuffle, no
    // I/O — whose idle-machine cost is banked as a constant. Its reading
    // at bench time stamps the run's ambient load factor INTO the
    // artifact, so BASELINE.md reads drift off the calibration row
    // instead of re-running gates to adjudicate. Taken before AND after
    // the gate loop (load can arrive mid-run); each reading is min-of-2
    // (load only ever ADDS time).
    def calibrate(): Double = {
      def once(): Double = {
        reset()
        val t0 = System.nanoTime()
        spark.range(0L, 192L << 20, 1L, 64)
          .selectExpr( // pmod keeps the ANSI sum inside long range
            "sum(pmod(xxhash64(id, id * 2654435761, id + 40503), 1000000007)) AS h")
          .head().getLong(0)
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    val calPre = calibrate()
    val firstPass = gateList.map { case (name, fn) =>
      name -> timeGate(name, fn)
    }
    // Second-trial MIN for the slowest gates (r15 verdict task 7): two
    // consecutive rounds burned adjudication cycles on family-correlated
    // AMBIENT drift concentrated in the most expensive gates (sim_ivf*
    // r14, pipe_rag_topk r15 — same commit, 2.8x apart across runs).
    // min-of-2 on exactly those gates collapses the one-sided noise
    // (load can only ADD time) at ~15% extra bench wall. The retried
    // gate's stream accounting keeps the LAST trial (reset per trial);
    // SPARK_GRAFT_MIN_TRIALS_TOP=0 disables for throwaway local runs.
    val retryTop = sys.env.get("SPARK_GRAFT_MIN_TRIALS_TOP")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(20)
    // r17 (verdict task 3b): min-of-2 extends from the top-20 to EVERY
    // gate at or above the floor (default 1 s — where driver-run ambient
    // noise started swallowing same-code deltas). TOP=0 still disables
    // all retries for throwaway local runs.
    val retryFloor = sys.env.get("SPARK_GRAFT_MIN_TRIALS_FLOOR")
      .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(1.0)
    val slowest =
      if (retryTop == 0) Set.empty[String]
      else (firstPass.filter(_._2._2).sortBy { case (_, (v, _)) => -v }
        .take(retryTop).map(_._1) ++
        firstPass.collect { case (n, (v, true)) if v >= retryFloor => n }).toSet
    val trialPairs = scala.collection.mutable.Map.empty[String, (Double, Double)]
    val results = firstPass.map { case (name, (t1, ok1)) =>
      if (!slowest.contains(name)) name -> ((t1, ok1))
      else {
        streamAgg.remove(name)
        val (t2, ok2) = timeGate(name,
          gateList.find(_._1 == name).get._2)
        trialPairs(name) = (t1, t2)
        // a second-trial failure is real (the code ran once already) —
        // surface it rather than hiding behind trial 1's success
        name -> ((math.min(t1, t2), ok1 && ok2))
      }
    }
    val calPost = calibrate()
    spark.streams.removeListener(listener)
    spark.sparkContext.removeSparkListener(jobListener)
    // Full-precision per-query lines for humans/logs (the driver ignores
    // these; they scroll off its 2000-char stdout tail window)
    results.foreach { case (k, (v, ok)) =>
      println(f"[bench] $k%-28s ${if (ok) f"$v%9.3f" else "FAILED"}")
    }
    val failed = results.collect { case (k, (_, false)) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2._1).sum
    def r2(v: Double): String = (math.rint(v * 100) / 100).toString
    val sfShort = sfDir.split('/').last
    val ambient = (calPre + calPost) / 2 / CalibrationRefSec
    println(f"[bench] calibration pre=$calPre%.3f post=$calPost%.3f " +
      f"ref=$CalibrationRefSec%.3f ambient_factor=$ambient%.2f")
    writeFullArtifact(results, streamAgg, jobAgg.toMap, codegenAgg.toMap, failed, total, sfShort,
      calPre, calPost, ambient, trialPairs.toMap)
    // The driver records only the LAST ~2000 chars of stdout, and sbt
    // appends ~70 chars of its own after us — so the ONE metric line must
    // stay well under that or its head is truncated and the driver's JSON
    // parse nulls out (every round r1-r6 lost its bench numbers this way).
    // 2-decimal values + short sf; if the query set ever outgrows the
    // budget, drop the FASTEST queries from the map (their timings are the
    // least informative) and say how many were omitted.
    def line(qmap: Seq[(String, String)], omitted: Int): String = {
      val qs = qmap.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qs$om,"failed":$failed,"ambient":${r2(ambient)},"sf":"$sfShort"}"""
    }
    val bySlowest = results.toSeq.sortBy { case (_, (v, _)) => -v }
      .map { case (k, (v, ok)) => k -> (if (ok) r2(v) else "-1") }
    var keep = bySlowest.length
    while (keep > 1 && line(bySlowest.take(keep), bySlowest.length - keep).length > 1800)
      keep -= 1
    println(line(bySlowest.take(keep), bySlowest.length - keep))
    spark.stop()
  }

  /** The COMPLETE per-query artifact the 1800-char metric line cannot
    * carry: every timing at full precision, plus the per-stream-gate
    * micro-batch duration breakdown. Written to `bench_full_r<N>.json`
    * in the working directory (N = 1 + the highest committed BENCH_r
    * round, so the artifact lands next to the round's driver files) and
    * committed with the round — all 114+ timings stay diffable between
    * rounds. `SPARK_GRAFT_BENCH_FULL` overrides the path (set it to
    * /dev/null for throwaway local runs). */
  /** Idle-machine cost of the calibration kernel on the round-17
    * builder (repeated min-of-2 readings banded 0.34-0.40 s at load <2,
    * floor 0.336 — the ref rounds the floor up a hair). The stamped
    * `ambient_factor` is a run's calibration reading over this constant:
    * ~1.0 on an idle machine, and a load-inflated run reads as roughly
    * the factor its gate timings are inflated by — the adjudication that
    * burned three consecutive verdict cycles now rides in the artifact. */
  private val CalibrationRefSec = 0.35

  private def writeFullArtifact(
      results: Seq[(String, (Double, Boolean))],
      streamAgg: java.util.concurrent.ConcurrentHashMap[String, StreamAgg],
      jobAgg: Map[String, JobAgg],
      codegenAgg: Map[String, CodegenAgg],
      failed: String, total: Double, sfShort: String,
      calPre: Double, calPost: Double, ambient: Double,
      trialPairs: Map[String, (Double, Double)]): Unit = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", {
      val round = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .map(_.getName)
        .collect { case n if n.startsWith("BENCH_r") && n.endsWith(".json") =>
          n.stripPrefix("BENCH_r").stripSuffix(".json") }
        .flatMap(s => scala.util.Try(s.toInt).toOption)
        .foldLeft(0)(math.max) + 1
      f"bench_full_r$round%02d.json"
    })
    if (path == "/dev/null") return
    def q3(v: Double): String = f"$v%.3f"
    val queries = results.map { case (k, (v, ok)) =>
      s""""$k":${if (ok) q3(v) else "-1"}""" }.mkString("{", ",", "}")
    val streams = {
      import scala.jdk.CollectionConverters._
      streamAgg.asScala.toSeq.sortBy(_._1).map { case (k, a) =>
        s""""$k":{"batches":${a.batches},"trigger_ms":${a.triggerMs},""" +
          s""""add_batch_ms":${a.addBatchMs},"state_commit_ms":${a.stateCommitMs},""" +
          s""""wal_commit_ms":${a.walCommitMs},"commit_offsets_ms":${a.commitOffsetsMs},""" +
          s""""query_planning_ms":${a.queryPlanningMs},"state_rows":${a.stateRowsTotal}}"""
      }.mkString("{", ",", "}")
    }
    val trials = trialPairs.toSeq.sortBy(_._1).map { case (k, (a, b)) =>
      s""""$k":[${q3(a)},${q3(b)}]""" }.mkString("{", ",", "}")
    val jobs = jobAgg.toSeq.sortBy(_._1).map { case (k, a) =>
      s""""$k":{"n":${a.jobs},"job_ms":${a.jobMs}}"""
    }.mkString("{", ",", "}")
    val codegen = codegenAgg.toSeq.sortBy(_._1).map { case (k, a) =>
      s""""$k":{"compiles":${a.compiles},"compile_ms":${a.compileNs / 1000000L}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"sf":"$sfShort","total_sec":${q3(total)},"failed":$failed,
         |"calibration_pre_sec":${q3(calPre)},"calibration_post_sec":${q3(calPost)},
         |"calibration_ref_sec":${q3(CalibrationRefSec)},"ambient_factor":${q3(ambient)},
         |"queries":$queries,
         |"trials":$trials,
         |"jobs":$jobs,
         |"codegen":$codegen,
         |"streams":$streams}
         |""".stripMargin
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
      println(s"[bench] full artifact: $path")
    } catch { case e: Throwable =>
      println(s"[bench] full artifact write failed ($path): $e")
    }
  }
}
