package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Eviction semantics of `dropDuplicatesWithinWatermark` — the part of
  * the stream_dedup_wwm gate no offline SQL oracle can express: a key's
  * state lives until the watermark passes first-arrival + delay; a
  * duplicate inside that horizon drops, a re-arrival after eviction is
  * re-emitted (time-bounded dedup, bounded state — the production
  * posture for unbounded key spaces). */
class WwmDedupSpec extends SparkSpec {
  import spark.implicits._

  private def chunk(rows: (String, String)*): DataFrame =
    rows.toSeq.toDF("k", "tss")
      .select(col("k"), to_timestamp(col("tss")).as("ts"))

  test("duplicate within delay drops; state evicted by watermark advance " +
      "re-admits the key; live state keeps dropping") {
    val chunks = Seq(
      // A twice in-batch (dup drops), B once
      chunk(("A", "2024-01-01 10:00:00"), ("A", "2024-01-01 10:00:02"),
        ("B", "2024-01-01 10:00:01")),
      // C pushes the NEXT batch's watermark to 10:04:50 (delay 10 s)
      chunk(("C", "2024-01-01 10:05:00")),
      // batch 3 runs with wm 10:04:50 > A/B expiry (≈10:00:10): expired
      // state purges at this batch's commit — D just advances time, and
      // a C duplicate while C's state is live is dropped
      chunk(("D", "2024-01-01 10:05:30"), ("C", "2024-01-01 10:05:01")),
      // A re-arrives after the purge (≥ wm, not late) → re-emitted
      chunk(("A", "2024-01-01 10:05:31")))
    val out = StreamRunner.collect(
      Sources.stagedChunkStream(spark, chunks, testDir("graft-wwm"))
        .withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark("k")
        .select(col("k")),
      statePartitions = 2)
    val counts = out.groupBy(col("k")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts === Map("A" -> 2L, "B" -> 1L, "C" -> 1L, "D" -> 1L),
      counts.toString)
  }

  test("with a delay wider than the data span, wwm dedup equals plain " +
      "streaming dropDuplicates (the gate's oracle premise)") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(300)(
      (s"k${rnd.nextInt(40)}", s"2024-01-01 10:${10 + rnd.nextInt(40)}:00"))
    val frames = rows.grouped(100).map(g => chunk(g: _*)).toSeq
    def run(f: DataFrame => DataFrame): Set[String] = {
      // fresh stage per run
      StreamRunner.collect(
        f(Sources.stagedChunkStream(spark, frames, testDir("graft-wwm"))
          .withWatermark("ts", "2 hours")),
        statePartitions = 2)
        .select(col("k")).as[String].collect().toSeq.sorted.toSet
    }
    val wwm = run(_.dropDuplicatesWithinWatermark("k").select(col("k")))
    val plain = run(_.dropDuplicates("k").select(col("k")))
    assert(wwm === plain)
    assert(wwm === rows.map(_._1).toSet)
  }
}
