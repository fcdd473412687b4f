package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** One measured value: end-to-end (with its sample count) or per-layer. */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 0)

/** A workload drives the engine through its public functions only. It
  * generates its inputs from `ctx.seed`, calls `ctx.setupDone()` before
  * its first timed op, and reports metrics into `ctx`. */
trait Workload {
  def run(ctx: Ctx): Unit
}

/** One op sample: wall time, and the CPU time of the whole JVM process over
  * the same span (every thread: driver, tasks, and the JVM's own compiler
  * and GC threads), with the GC and JIT-compile time inside it. `traced`
  * ops run with the tracer's listeners attached. */
final case class Sample(kind: String, ms: Double, cpuMs: Double, gcMs: Double,
    jitMs: Double, ok: Boolean, traced: Boolean)

final class Ctx(val spark: SparkSession, val root: File, val seed: Long,
    val seconds: Int, val traceRun: Boolean, val trace: Trace, jvmStartMs: Long) {
  val samples = ArrayBuffer.empty[Sample]
  val e2e = ArrayBuffer.empty[Metric]
  val layer = ArrayBuffer.empty[Metric]
  /** Measured but not gated: printed and kept in the run record only. */
  val info = ArrayBuffer.empty[Metric]
  val notes = ArrayBuffer.empty[String]
  var setupS: Double = Double.NaN

  /** Setup ends here: from JVM start through session build, input
    * generation, the untimed warm-up ops, and the wait for the JIT
    * compiler to drain the backlog they left. */
  def setupDone(): Unit = {
    val jit = Machine.settleJit()
    phase(f"JIT settled ($jit%.0f ms of compiling after the warm-up)")
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    phase("setup done")
  }

  /** Log a setup phase boundary (seconds since JVM start) to stderr. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s: $name")

  def dir(name: String): File = { val d = new File(root, name); d.mkdirs(); d }

  /** Closed loop, one client: run `body(i)` back to back until `seconds`
    * have passed, at least once. `body` does the timed work and returns
    * the untimed check; an op that throws or fails its check counts as
    * failed and contributes no timing. A traced run instead runs exactly
    * two ops on the same input, traced then untraced, for the tracing
    * overhead. */
  def closedLoop(kind: String)(body: Int => (() => Boolean)): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (if (traceRun) i < 2 else i == 0 || System.nanoTime() < deadline) {
      samples += timedOp(kind, traceRun && i == 0)(body(i))
      i += 1
    }
    trace.setOn(false)
  }

  /** Time one op; an exception or a failed check makes it a failed op. */
  def timedOp(kind: String, traced: Boolean)(op: => (() => Boolean)): Sample = {
    trace.setOn(traced)
    val t = System.nanoTime()
    val c = Machine.cpuMs()
    val gc = Machine.gcMs()
    val jit = Machine.jitMs()
    def sample(ok: Boolean) = Sample(kind, (System.nanoTime() - t) / 1e6, Machine.cpuMs() - c,
      Machine.gcMs() - gc, Machine.jitMs() - jit, ok, traced)
    try {
      val check = trace.op(kind)(op)
      val s = sample(ok = true)
      val ok = try check() catch { case e: Exception => note(kind, e); false }
      s.copy(ok = ok)
    } catch {
      case e: Exception =>
        note(kind, e)
        sample(ok = false)
    }
  }

  def note(kind: String, e: Throwable): Unit = {
    val msg = s"$kind failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
    if (notes.size < 20) notes += msg.take(500)
    System.err.println(s"[perfbench] $msg")
  }

  /** The untraced, successful samples of one op kind. */
  def ok(kind: String): Seq[Sample] = samples.filter(s => s.kind == kind && s.ok && !s.traced).toSeq

  /** The end-to-end figures of a closed loop: the median process CPU time
    * per op (gated), and the wall time and the GC and JIT time per op
    * (recorded). */
  def closedLoopMetrics(kind: String): Unit = {
    val s = ok(kind)
    e2e += Metric("cpu_ms_per_op", Stats.median(s.map(_.cpuMs)), "ms", s.size)
    info += Metric("wall_ms_per_op", Stats.median(s.map(_.ms)), "ms", s.size)
    info += Metric("gc_ms_per_op", Stats.median(s.map(_.gcMs)), "ms", s.size)
    info += Metric("jit_ms_per_op", Stats.median(s.map(_.jitMs)), "ms", s.size)
  }

  /** In a traced run: the traced op's figure over the untraced op's, -1.
    * The untraced op runs second, on a JVM that has compiled more, so this
    * is an upper bound on the tracing overhead. */
  def overhead(kind: String, f: Sample => Double): Double = {
    val tr = samples.filter(s => s.kind == kind && s.ok && s.traced).map(f)
    val un = ok(kind).map(f)
    if (tr.isEmpty || un.isEmpty) 0.0 else Stats.median(tr.toSeq) / Stats.median(un) - 1.0
  }
}

object Main {
  private val workloads: Map[String, Workload] = Map(
    "gmall_chain" -> ChainWorkload,
    "store_corpus" -> StoreWorkload)

  /** Spark leaves non-daemon threads behind, so the JVM exits explicitly:
    * 0 after a printed result, 1 when the run could not produce one. */
  def main(args: Array[String]): Unit = {
    val code = try { runOnce(args); 0 } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def runOnce(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = kv("workload")
    val wl = workloads.getOrElse(name,
      sys.error(s"unknown workload $name (known: ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toInt
    val traceRun = kv("trace") == "1"
    val root = new File(kv("tmp"))
    val outDir = new File(kv("out"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val before = Machine.snapshot()

    val spark = graft.Sessions.tuned("local[4]", "4")
    val ctx = new Ctx(spark, root, seed, seconds, traceRun, new Trace(spark), jvmStart)
    ctx.phase("session ready")
    wl.run(ctx)
    ctx.phase("measured")
    val after = Machine.snapshot()
    val rssMb = Machine.peakRssMb()

    val attempted = ctx.samples.size
    val failed = ctx.samples.count(!_.ok)
    val metrics =
      if (traceRun) Layers.complete(ctx.layer.toSeq)
      else Seq(Metric("setup_s", ctx.setupS, "s", 1),
        Metric("peak_rss_mb", rssMb, "MB", 1)) ++ ctx.e2e
    metrics.foreach { m =>
      val n = if (traceRun) "" else s" (n=${m.samples})"
      println(f"metric ${m.name} = ${m.value}%.4f ${m.unit}$n")
    }
    ctx.info.foreach(m => println(f"info ${m.name} = ${m.value}%.4f ${m.unit} (n=${m.samples})"))
    ctx.notes.foreach(n => println(s"note $n"))
    val stealShare = (after.steal - before.steal).toDouble / math.max(1L, after.total - before.total)
    val machine = s"""{"nproc": ${Runtime.getRuntime.availableProcessors}, """ +
      s""""load_before": ${before.load}, "load_after": ${after.load}, """ +
      s""""steal_share": ${Json.num(stealShare)}, """ +
      s""""cpu_kernel_s": ${before.kernelS}, "cpu_kernel_s_after": ${after.kernelS}}"""
    println(s"machine $machine")

    outDir.mkdirs()
    val artifact = new File(outDir, s"$name-seed$seed-trace${if (traceRun) 1 else 0}.json")
    Files.write(artifact.toPath, Json.obj(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> traceRun.toString,
      "machine" -> machine, "setup_s" -> Json.num(ctx.setupS),
      "peak_rss_mb" -> Json.num(rssMb),
      "metrics" -> Json.metrics(metrics, withSamples = true),
      "info" -> Json.metrics(ctx.info.toSeq, withSamples = true),
      "samples" -> ctx.samples.map(s =>
        Json.obj("kind" -> Json.str(s.kind), "ms" -> Json.num(s.ms), "cpu_ms" -> Json.num(s.cpuMs),
          "gc_ms" -> Json.num(s.gcMs), "jit_ms" -> Json.num(s.jitMs),
          "ok" -> s.ok.toString, "traced" -> s.traced.toString)).mkString("[", ",", "]"),
      "spans" -> spanSummary(ctx.trace),
      "notes" -> ctx.notes.map(Json.str).mkString("[", ",", "]")).getBytes(UTF_8))

    val correct = failed == 0 && attempted > 0 && metrics.forall(m => !m.value.isNaN)
    println(Json.obj("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.metrics(metrics, withSamples = false)))
    System.out.flush()
    spark.stop()
  }

  /** Per span name: calls, total and self time (span minus its children). */
  private def spanSummary(t: Trace): String = {
    val spans = t.spans.toVector.filter(_.endNs > 0)
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val total = ss.map(_.ms).sum
      val self = ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
      Json.str(n) + s""": {"calls": ${ss.size}, "total_ms": ${Json.num(total)}, "self_ms": ${Json.num(self)}}"""
    }.mkString("{", ",", "}")
  }
}

/** Machine context recorded per run instead of a ratio to a constant:
  * load averages, the host's steal and total CPU jiffies, and the raw
  * seconds of a fixed kernel. */
final case class MachineSnap(load: String, steal: Long, total: Long, kernelS: Double)

object Machine {
  def snapshot(): MachineSnap = {
    def read(f: String) = try new String(Files.readAllBytes(new File(f).toPath), UTF_8)
      catch { case _: java.io.IOException => "" }
    val load = read("/proc/loadavg").trim.split("\\s+").take(3).mkString("[", ", ", "]")
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).toSeq
      .flatMap(_.trim.split("\\s+").drop(1).map(_.toLong))
    MachineSnap(load, cpu.lift(7).getOrElse(0L), cpu.sum, kernelSeconds())
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads, in ms. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  /** Time the JVM's collectors have spent, summed, in ms. */
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** Time the JIT compiler has spent, in ms. */
  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Wait, up to `maxMs`, until the JIT compiler has been idle for a
    * quarter second, so compiles queued by earlier work do not spill into
    * the next timed op. Returns the compile time spent while waiting. */
  def settleJit(maxMs: Long = 20000L): Double = {
    val t0 = System.currentTimeMillis()
    val j0 = jitMs()
    var last = j0
    var quiet = false
    while (!quiet && System.currentTimeMillis() - t0 < maxMs) {
      Thread.sleep(250L)
      val j = jitMs()
      quiet = j - last < 1.0
      last = j
    }
    last - j0
  }


  @volatile private var sink = 0L

  /** Raw seconds of a fixed single-threaded integer kernel. */
  def kernelSeconds(): Double = {
    val t = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    sink = acc
    (System.nanoTime() - t) / 1e9
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    catch { case _: java.io.IOException => Double.NaN }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[Metric], withSamples: Boolean): String =
    obj(ms.map { m =>
      val base = Seq("value" -> num(m.value), "unit" -> str(m.unit))
      m.name -> obj((if (withSamples) base :+ ("samples" -> m.samples.toString) else base): _*)
    }: _*)
}
