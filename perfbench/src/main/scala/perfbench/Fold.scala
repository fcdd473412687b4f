package perfbench

import scala.collection.mutable

/** Spark task/job totals over a set of jobs. */
final class SparkTot {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuMs = 0.0; var gcMs = 0L; var schedMs = 0L
  var inBytes = 0L; var shufW = 0L; var shufR = 0L; var spill = 0L
  var outBytes = 0L; var outRecords = 0L
  val skews = mutable.ArrayBuffer.empty[Double]

  def add(j: JobRec, st: collection.Map[Int, StageAgg]): Unit = {
    jobs += 1
    j.stages.flatMap(st.get).foreach { a =>
      stages += 1; tasks += a.tasks; runMs += a.runMs; cpuMs += a.cpuNs / 1e6
      gcMs += a.gcMs; schedMs += a.schedDelayMs; inBytes += a.inBytes
      shufW += a.shufW; shufR += a.shufR; spill += a.spill
      outBytes += a.outBytes; outRecords += a.outRecords
      if (a.durations.length > 1) {
        val d = a.durations.sorted
        val med = d(d.length / 2).toDouble
        if (med > 0) skews += d.last / med
      }
    }
  }
}

/** Per-op breakdown folded from a [[Trace]]: layer span times, the Spark
  * work under each layer, driver gaps and planning time. */
final case class OpFold(ms: Double,
    layerMs: Map[String, Double], layerSpark: Map[String, SparkTot],
    spark: SparkTot, jobUnionMs: Double, planningMs: Double,
    attributedMs: Double)

object Fold {

  /** Fold every traced op. Layer spans are the op's direct children, and
    * their summed time is the op's attributed time; deeper spans (named
    * `Layer:part`) split a layer call for counting. Jobs
    * and planning phases are attributed by time to the innermost span
    * open when they started (ops run one at a time on the driver). */
  def apply(t: Trace): Seq[OpFold] = {
    t.waitForListeners()
    val spans = t.spans.toVector
    val children = spans.groupBy(_.parent)
    def wall(s: Span) = (t.toWallMs(s.startNs), t.toWallMs(s.endNs))
    spans.filter(s => s.parent < 0 && s.endNs > 0).map { op =>
      val (o0, o1) = wall(op)
      def innermost(ms: Double): Span = {
        var cur = op
        var next = children.getOrElse(cur.id, Vector.empty).find { c =>
          val (a, b) = wall(c); ms >= a && ms <= b }
        while (next.isDefined) {
          cur = next.get
          next = children.getOrElse(cur.id, Vector.empty).find { c =>
            val (a, b) = wall(c); ms >= a && ms <= b }
        }
        cur
      }
      val opJobs = t.jobs.filter(j => j.startMs >= o0 - 1 && j.startMs <= o1 + 1)
      val total = new SparkTot
      val perSpan = mutable.HashMap.empty[String, SparkTot]
      opJobs.foreach { j =>
        total.add(j, t.stages)
        // a job counts for its innermost span and every enclosing layer
        var s = innermost(j.startMs.toDouble)
        while (s.parent >= 0) {
          perSpan.getOrElseUpdate(s.name, new SparkTot).add(j, t.stages)
          s = spans(s.parent)
        }
      }
      val layerMs = mutable.HashMap.empty[String, Double]
      def walk(s: Span): Unit = children.getOrElse(s.id, Vector.empty).foreach { c =>
        layerMs(c.name) = layerMs.getOrElse(c.name, 0.0) + c.ms
        walk(c)
      }
      walk(op)
      OpFold(op.ms, layerMs.toMap, perSpan.toMap, total,
        unionMs(opJobs.map(j => (j.startMs.toDouble,
          if (j.endMs >= j.startMs) j.endMs.toDouble else o1)).toSeq),
        unionMs(t.plans.filter(p => p.startMs >= o0 - 1 && p.startMs <= o1 + 1)
          .map(p => (p.startMs.toDouble, p.endMs.toDouble)).toSeq),
        children.getOrElse(op.id, Vector.empty).map(_.ms).sum)
    }
  }

  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** The per-op Spark-runtime metrics, averaged over the traced ops.
    * `rawBytes` is the op's raw input size, for input amplification. */
  def sparkMetrics(ops: Seq[OpFold], rawBytes: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, ops.size).toDouble
    def avg(f: OpFold => Double) = ops.map(f).sum / n
    val skews = ops.flatMap(_.spark.skews)
    val inB = avg(_.spark.inBytes.toDouble)
    Seq(
      ("spark.jobs", avg(_.spark.jobs.toDouble), "count"),
      ("spark.job_ms", avg(_.jobUnionMs), "ms"),
      ("spark.driver_gap_ms", avg(o => math.max(0.0, o.ms - o.jobUnionMs)), "ms"),
      ("spark.planning_ms", avg(_.planningMs), "ms"),
      ("spark.stages", avg(_.spark.stages.toDouble), "count"),
      ("spark.tasks", avg(_.spark.tasks.toDouble), "count"),
      ("spark.task_run_ms", avg(_.spark.runMs.toDouble), "ms"),
      ("spark.task_cpu_ms", avg(_.spark.cpuMs), "ms"),
      ("spark.gc_ms", avg(_.spark.gcMs.toDouble), "ms"),
      ("spark.scheduler_delay_ms", avg(_.spark.schedMs.toDouble), "ms"),
      ("spark.task_skew", if (skews.isEmpty) 0.0 else Stats.median(skews), "ratio"),
      ("spark.input_bytes", inB, "B"),
      ("spark.input_bytes_per_raw_byte", if (rawBytes > 0) inB / rawBytes else 0.0, "ratio"),
      ("spark.shuffle_write_bytes", avg(_.spark.shufW.toDouble), "B"),
      ("spark.shuffle_read_bytes", avg(_.spark.shufR.toDouble), "B"),
      ("spark.spill_bytes", avg(_.spark.spill.toDouble), "B"),
      ("spark.output_bytes", avg(_.spark.outBytes.toDouble), "B"))
  }

  /** Mean per traced op of a layer span's time (0 when never called). */
  def layerMs(ops: Seq[OpFold], span: String): Double =
    if (ops.isEmpty) 0.0 else ops.map(_.layerMs.getOrElse(span, 0.0)).sum / ops.size

  /** Mean per traced op of a Spark total under a span. */
  def layerSpark(ops: Seq[OpFold], span: String)(f: SparkTot => Double): Double =
    if (ops.isEmpty) 0.0
    else ops.map(o => o.layerSpark.get(span).map(f).getOrElse(0.0)).sum / ops.size
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); NaN without samples. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
