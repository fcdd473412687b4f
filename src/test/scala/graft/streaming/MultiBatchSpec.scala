package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The multi-batch gate contract (VERDICT r9 task 2): eventsStreamSplit
  * must (a) deliver the SAME rows as eventsStream, (b) in ≥3 micro-batches,
  * (c) with every stateful operator's final result identical to the
  * single-batch run — i.e. watermark advance, state reload and timeout
  * firing across batch boundaries change WHEN things happen, never WHAT
  * is emitted.
  */
class MultiBatchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("split source: 4 ts-contiguous chunks, union == events, ranges disjoint") {
    // force (re)build through the public entry, then inspect the chunks
    StreamRunner.collect(
      Sources.eventsStreamSplit(spark, dir).select(col("event_id"))).count()
    val split = Sources.eventsStreamSplit(spark, dir)
    assert(split.isStreaming)
    val raw = spark.read.option("pathGlobFilter", "events.parquet").parquet(dir)
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    // the root Sources.ensureEventsSplit caches under
    val root = graft.TmpDirs.shmRoot
    // cache dir name ends in a source-file fingerprint (size-mtime); the
    // ts-contiguous variant has no "-rr" mode segment
    val candidates = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.matches(s"graft-events-split-$key-4-\\d+-\\d+"))
    assert(candidates.nonEmpty, s"no split cache dir under $root")
    val splitDir = candidates.maxBy(_.lastModified())
    val chunks = splitDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(chunks.length == 4)
    // modification times strictly increase in name order (batch order pin)
    assert(chunks.map(_.lastModified()).sliding(2).forall(p => p(0) < p(1)))
    val ranges = chunks.map { f =>
      // chunk files carry the canonical TimestampType ts; compare on micros
      val r = spark.read.parquet(f.getPath)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
          count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(ranges.map(_._3).sum == raw.count())
    // contiguous and disjoint: each chunk's min ts is strictly above the
    // previous chunk's max ts (ties kept in the earlier chunk)
    ranges.sliding(2).foreach { case Array((_, hi1, _), (lo2, _, _)) =>
      assert(lo2 > hi1, s"chunk overlap: $hi1 >= $lo2")
    }
  }

  test("stateful operators: split-source result == single-source result, " +
    "and the split run executes >= 3 micro-batches") {
    val batches = new java.util.concurrent.atomic.AtomicLong()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        if (e.progress.numInputRows > 0) batches.incrementAndGet()
        ()
      }
    }
    spark.streams.addListener(listener)
    try {
      def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.collect().map(_.toString).toSet
      // T2 dedup — keyed ValueState across batches
      val uvSingle = rows(StreamRunner.collect(
        TwsStreams.uvDedup(Sources.eventsStream(spark, dir)))
        .select("user_id", "dt", "event_id"))
      val uvSplit = rows(StreamRunner.collect(
        TwsStreams.uvDedup(Sources.eventsStreamSplit(spark, dir)))
        .select("user_id", "dt", "event_id"))
      assert(uvSplit == uvSingle)
      // T3 bounces — event-time timeouts now fire MID-stream
      val bSingle = rows(StreamRunner.collect(
        TwsStreams.bounces(Sources.eventsStream(spark, dir)
          .withWatermark("ts", "0 seconds"), gapSec = 1800L))
        .select("user_id", "event_id"))
      val bSplit = rows(StreamRunner.collect(
        TwsStreams.bounces(Sources.eventsStreamSplit(spark, dir)
          .withWatermark("ts", "0 seconds"), gapSec = 1800L))
        .select("user_id", "event_id"))
      assert(bSplit == bSingle)
      // the split runs executed >= 3 data micro-batches each; the single
      // runs execute exactly 1 — so across the four runs above, data
      // batches must exceed 2 + 2*3
      assert(batches.get() >= 8, s"expected >=8 data batches, saw ${batches.get()}")
    } finally spark.streams.removeListener(listener)
  }
}
