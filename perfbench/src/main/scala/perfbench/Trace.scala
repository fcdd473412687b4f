package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One span: a call into a layer, or a whole op (parent = -1). */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task-metric totals of one stage, folded as task-end events arrive. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var schedDelayMs = 0L; var inBytes = 0L; var shufW = 0L; var shufR = 0L
  var spill = 0L; var outBytes = 0L; var outRecords = 0L
  val durations = ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
final case class PlanRec(startMs: Long, endMs: Long)
/** One micro-batch's progress: its phase durations, input rows, and the
  * state store's rows, memory and commit time. */
final case class BatchRec(batchId: Long, startMs: Long, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateMem: Long, stateCommitMs: Long)

/** The benchmark's tracer: spans recorded from the benchmark's own code
  * around every call into an engine layer, plus Spark's public listeners
  * (jobs/stages/tasks, query planning and streaming progress). Everything
  * is kept in memory and folded once at exit. While tracing is off no span
  * is recorded and every listener is detached, so untraced ops pay
  * nothing. */
final class Trace(spark: SparkSession) {
  @volatile private var enabled = false
  private val lock = new Object
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.HashMap.empty[Int, StageAgg]
  val plans = ArrayBuffer.empty[PlanRec]
  val batches = ArrayBuffer.empty[BatchRec]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private var opCounter = 0

  // wall-clock <-> monotonic mapping: Spark events carry epoch millis
  private val nanoBase = System.nanoTime()
  private val wallBase = System.currentTimeMillis()
  def toWallMs(ns: Long): Double = wallBase + (ns - nanoBase) / 1e6

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs += JobRec(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      lock.synchronized {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        val info = e.taskInfo
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.inBytes += m.inputMetrics.bytesRead
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
        a.durations += info.duration
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) lock.synchronized {
        plans += PlanRec(ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val keys = d.keySet().toArray(Array.empty[String])
      val ops = p.stateOperators
      lock.synchronized {
        batches += BatchRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          keys.map(k => k -> d.get(k).longValue()).toMap, p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
      }
    }
  }

  /** Attach or detach the job/task, planning and streaming listeners. */
  def setOn(v: Boolean): Unit = if (v != enabled) {
    if (v) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      waitForListeners()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    enabled = v
  }

  /** Spark delivers listener events asynchronously; wait until the
    * queues have drained so folding sees every event. The bus is not
    * public API, so it is reached reflectively, with a fixed wait as the
    * fallback. */
  def waitForListeners(): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(30000L))
    } catch { case _: ReflectiveOperationException => Thread.sleep(500) }
  }

  /** Run one op: the root span its layer spans nest under. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = lock.synchronized { opCounter += 1; opCounter }
      val s = open(name, id)
      try body finally close(s)
    }

  /** A call into layer `name`, nested under the calling thread's open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || stack.get.isEmpty) body
    else {
      val s = open(name, stack.get.head.op)
      try body finally close(s)
    }

  private def open(name: String, op: Int): Span = {
    val parent = stack.get.headOption.map(_.id).getOrElse(-1)
    val s = lock.synchronized {
      val sp = Span(spans.length, parent, name, op, System.nanoTime())
      spans += sp
      sp
    }
    stack.set(s :: stack.get)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack.set(stack.get.tail)
  }
}
