package perfbench

import graft.gmall.BaseLog
import graft.streaming.WindowedStreams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The streaming half of a gmall op: the day's raw log, in event-time
  * order and cut into `Parts` parts, replayed through the micro-batch path
  * as `GmallStreamingSpec` composes it: BaseLog.parse -> split into the
  * WindowedStreams keyword window aggregation, one file per micro-batch
  * (an AvailableNow trigger), committing through foreachBatch. Event-time
  * order keeps every row inside the watermark, so the final window counts
  * are exactly the generator's. */
object StreamReplay {
  val Parts = 4
  val WindowSec = 10

  /** A replay input: its directory, its raw bytes, and the expected count
    * per (window start, keyword). */
  final case class Feed(dir: File, bytes: Long, counts: Map[(String, String), Long])

  private def fmt(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))

  private val tsRe = "\"ts\":(\\d+)".r

  /** Re-cut the day's log under `logDir` into `out` in event-time order
    * (lines without `ts` first), and count its search keywords per window:
    * the generator writes a keyword item exactly on pages whose last page
    * was `search`. */
  def feed(logDir: File, out: File): Feed = {
    val lines = logDir.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName)
      .flatMap(f => new String(Files.readAllBytes(f.toPath), UTF_8).linesIterator)
    val ts = lines.map(l => tsRe.findAllMatchIn(l).toSeq.lastOption.map(_.group(1).toLong).getOrElse(0L))
    val sorted = lines.zip(ts).sortBy(_._2)
    val per = (sorted.length + Parts - 1) / Parts
    // the file source orders files by modification time: make it the
    // event-time order (files written within one clock tick tie)
    val mtime0 = System.currentTimeMillis() / 1000 * 1000 - Parts * 1000L
    val bytes = sorted.grouped(per).zipWithIndex.map { case (part, i) =>
      val f = new File(out, f"part-$i%05d.json")
      val n = GmallGen.writeLines(f, part.map(_._1))
      f.setLastModified(mtime0 + i * 1000L)
      n
    }.sum
    val counts = sorted.iterator.collect {
      case (l, t) if l.contains("\"last_page_id\":\"search\"") && l.contains("\"item_type\":\"keyword\"") =>
        val item = l.substring(l.indexOf("\"item\":\"") + 8).takeWhile(_ != '"')
        item.split("\\s+").filter(_.nonEmpty).map(k => (fmt(t / 1000 / WindowSec * WindowSec * 1000), k))
    }.flatten.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    Feed(out, bytes, counts)
  }

  /** Run one replay to completion; the last emitted count per window. */
  def run(spark: SparkSession, in: Feed, work: File): Map[(String, String), Long] = {
    val sink = new ConcurrentHashMap[(String, String), java.lang.Long]()
    val raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(in.dir.getPath)
    val (clean, _) = BaseLog.parse(raw)
    val (_, pages, _) = BaseLog.split(clean)
    val search = pages
      .filter(col("page.last_page_id") === "search" && col("page.item").isNotNull)
      .select(timestamp_millis(col("ts")).as("ts"), col("page.item").as("item"))
    val q = WindowedStreams.keywordStats(search, "item", WindowSec).writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", new File(work, "ckpt").getPath)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach { r: Row => sink.put((r.getString(0), r.getString(1)), r.getLong(2)) }
      }
      .start()
    q.awaitTermination()
    sink.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }

  /** The micro-batch lifecycle of the traced op's replay, per batch, from
    * the streaming-progress listener; `stream.outside_trigger_ms` is the
    * replay's span time that no trigger covers (query start and stop). */
  def layerMetrics(t: Trace, folds: Seq[OpFold], in: Feed): Seq[Metric] = {
    t.waitForListeners()
    val bs = t.batches.toVector
    val n = math.max(1, bs.size).toDouble
    def avg(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum / n
    val trig = bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble
    val events = bs.map(_.inputRows).sum.toDouble
    val spanMs = Fold.layerMs(folds, "stream.replay")
    Seq(
      Metric("stream.ms", spanMs, "ms"),
      Metric("stream.batches", bs.size / math.max(1, folds.size).toDouble, "count"),
      Metric("stream.trigger_ms", avg("triggerExecution"), "ms"),
      Metric("stream.add_batch_ms", avg("addBatch"), "ms"),
      Metric("stream.query_planning_ms", avg("queryPlanning"), "ms"),
      Metric("stream.latest_offset_ms", avg("latestOffset"), "ms"),
      Metric("stream.wal_commit_ms", avg("walCommit"), "ms"),
      Metric("stream.commit_offsets_ms", avg("commitOffsets"), "ms"),
      Metric("stream.state_commit_ms", bs.map(_.stateCommitMs).sum / n, "ms"),
      Metric("stream.state_rows", bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
      Metric("stream.state_mem_bytes", bs.lastOption.map(_.stateMem.toDouble).getOrElse(0.0), "B"),
      Metric("stream.add_batch_us_per_event",
        if (events > 0) bs.map(_.durations.getOrElse("addBatch", 0L)).sum * 1000.0 / events else 0.0, "us"),
      Metric("stream.outside_trigger_ms",
        if (folds.isEmpty) 0.0 else math.max(0.0, spanMs - trig / folds.size), "ms"),
      Metric("stream.input_bytes_per_raw_byte",
        if (in.bytes > 0) Fold.layerSpark(folds, "stream.replay")(_.inBytes.toDouble) / in.bytes else 0.0,
        "ratio"))
  }
}
