package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Driver-side Spark job recorder shared by [[Bench]] (per-gate job
  * counts and in-job wall time) and [[ProfGate]] (per-job timeline with
  * driver gaps). A job is recorded only if it starts while `tag` is set,
  * and is credited to the tag current at its START. Job-end events ride
  * the async listener bus: drain it
  * (`org.apache.spark.GraftListenerBridge.drainListenerBus`) before
  * reading [[jobs]], or an in-flight end is missing. */
final class JobListener extends SparkListener {
  import JobListener.Job

  @volatile var tag: String = null
  private val recs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = tag
    if (t != null) {
      // the last stage is the result stage: its name is the job's call site
      val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
      recs.put(e.jobId, Job(e.jobId, System.nanoTime(), 0L, site, t)); ()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val now = System.nanoTime()
    recs.computeIfPresent(e.jobId, (_, j) => j.copy(endNs = now)); ()
  }

  /** Every recorded job, in start order. */
  def jobs: Seq[Job] = {
    import scala.jdk.CollectionConverters._
    recs.values.asScala.toSeq.sortBy(_.startNs)
  }

  def clear(): Unit = recs.clear()
}

object JobListener {
  /** One Spark job; `endNs` is 0 until its end event lands. */
  final case class Job(id: Int, startNs: Long, endNs: Long, site: String,
      tag: String) {
    def ended: Boolean = endNs > 0L
    def ms: Long = (endNs - startNs) / 1000000L
  }
}
