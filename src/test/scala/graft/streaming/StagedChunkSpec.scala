package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Contract of [[Sources.stagedChunkStream]] (the CDC gate's binlog
  * stand-in): each input frame becomes exactly ONE micro-batch, delivered
  * in sequence order — so a versioned upsert pipeline driven by it really
  * exercises cross-batch merge ordering, not one big batch.
  */
class StagedChunkSpec extends SparkSpec {

  test("each chunk frame is one micro-batch, in order, union-complete") {
    import spark.implicits._
    val chunks = Seq(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq((3L, "c")).toDF("id", "v"),
      Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("id", "v"))

    val batchSizes = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        if (e.progress.numInputRows > 0) { batchSizes.add(e.progress.numInputRows); () }
      }
    }
    spark.streams.addListener(listener)
    try {
      val out = StreamRunner.collect(
        Sources.stagedChunkStream(spark, chunks, testDir("graft-envchunks")))
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      // union-complete
      assert(out.orderBy(col("id")).as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (6L, "f")))
      // one micro-batch per chunk, in staging order (sizes are distinct by
      // construction, so order is observable)
      assert(batchSizes.toArray.toSeq == Seq(2L, 1L, 3L))
    } finally spark.streams.removeListener(listener)
  }

  test("empty chunk list is rejected") {
    intercept[IllegalArgumentException](
      Sources.stagedChunkStream(spark, Seq.empty, testDir("graft-envchunks")))
  }
}
