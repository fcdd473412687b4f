package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-gate inspector (a developer tool; Bench and Verify never call
  * it): the gate's plan, its Spark job timeline with DRIVER GAPS (wall
  * time between consecutive jobs — planning, file listing, schema
  * inference, FS ops) made explicit, and the runtime SQL metrics of
  * every plan node — the passes and shuffle bytes a gate costs,
  * attributed to a plan node instead of guessed from the DataFrame
  * code.
  * Usage: runMain graft.ProfGate <gate> [sfDir] [reps]. */
object ProfGate {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfGate <gate> [sfDir] [reps]")
    val gate = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.tuned("local[32]", "32")
    try print(report(spark, gate, dir, reps))
    finally spark.stop()
  }

  /** Warm the gate `reps - 1` times (JIT + codegen + page cache, as
    * Bench's warm-up does), then build it once more, print its formatted
    * plan, execute the df's OWN QueryExecution (a `.write` would wrap the
    * plan in a fresh QueryExecution and leave this one's metrics empty)
    * and report the jobs it ran — including any the gate's construction
    * runs, such as the BPE induction rounds — and its per-node metrics. */
  def report(spark: SparkSession, gate: String, dir: String,
      reps: Int = 2): String = {
    val out = new StringBuilder
    def say(s: String): Unit = { out ++= "[profgate] " ++= s += '\n'; () }
    val fn = SparkEntry.queries(gate)
    for (_ <- 1 until reps)
      try Sessions.force(fn(spark, dir)) catch { case e: Throwable =>
        say(s"warmup failed: $e") }
    val jobs = new JobListener
    jobs.tag = gate
    spark.sparkContext.addSparkListener(jobs)
    val t0 = System.nanoTime()
    var t1 = t0
    val df = try {
      val df = fn(spark, dir)
      say(s"===== $gate formatted plan =====")
      out ++= df.queryExecution.explainString(FormattedMode) += '\n'
      df.queryExecution.toRdd.foreachPartition { it =>
        while (it.hasNext) { it.next(); () }
      }
      t1 = System.nanoTime()
      df
    } finally {
      jobs.tag = null
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
    }

    val tl = jobs.jobs
    say(f"===== $gate job timeline: total ${(t1 - t0) / 1e9}%.3f s, ${tl.size} jobs =====")
    var prevEnd = t0
    var gapSum = 0L
    var jobSum = 0L
    for (j <- tl) {
      val gap = j.startNs - prevEnd
      if (gap > 20000000L) say(f"  --- driver gap ${gap / 1e9}%7.3f s")
      gapSum += math.max(gap, 0L)
      if (j.ended) jobSum += j.endNs - j.startNs
      say(f"  job ${j.id}%4d ${(j.endNs - j.startNs) / 1e9}%7.3f s  ${j.site.take(95)}")
      prevEnd = math.max(prevEnd, if (j.ended) j.endNs else j.startNs)
    }
    say(f"job time ${jobSum / 1e9}%.3f s, driver gaps ${gapSum / 1e9}%.3f s")

    say(s"===== $gate per-node runtime metrics =====")
    def walk(p: SparkPlan, depth: Int): Unit = {
      val interesting = p.metrics.collect {
        case (k, m) if m.value > 0 &&
            (k.contains("time") || k.contains("Time") || k == "numOutputRows"
              || k.contains("size") || k.contains("Bytes")
              || k.contains("spill")) =>
          s"$k=${m.value}"
      }
      say(s"${"  " * depth}${p.nodeName}  ${interesting.toSeq.sorted.mkString(" ")}")
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      kids.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    out.result()
  }
}
