package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The [[Sessions.withConf]] contract: every key comes back as it was
  * (value or unset) on normal exit and on a throw, nested scopes restore
  * level by level, two threads' scopes on one key cannot interleave their
  * save/restore windows, and StreamRunner's per-query width reaches the
  * query without leaking into its caller's session.
  */
class SessionsSpec extends SparkSpec {

  private val setKey = "spark.sql.autoBroadcastJoinThreshold"
  // a registered conf nobody sets: `getOption` would report its default
  private val unsetKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  test("withConf restores a set key and unsets an unset key, on normal " +
    "exit and on a throw") {
    assert(!spark.conf.getAll.contains(unsetKey))
    val before = spark.conf.get(setKey)
    val got = Sessions.withConf(spark, setKey -> "-1", unsetKey -> "true") {
      (spark.conf.get(setKey), spark.conf.get(unsetKey))
    }
    assert(got === ("-1", "true"))
    assert(spark.conf.get(setKey) === before)
    assert(!spark.conf.getAll.contains(unsetKey))
    val e = intercept[IllegalStateException] {
      Sessions.withConf(spark, setKey -> "-1", unsetKey -> "true") {
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(spark.conf.get(setKey) === before)
    assert(!spark.conf.getAll.contains(unsetKey))
  }

  test("nested scopes on one thread restore level by level") {
    val before = spark.conf.get(setKey)
    Sessions.withConf(spark, setKey -> "1") {
      assert(spark.conf.get(setKey) === "1")
      Sessions.withConf(spark, setKey -> "2", unsetKey -> "true") {
        assert(spark.conf.get(setKey) === "2")
        assert(spark.conf.get(unsetKey) === "true")
      }
      assert(spark.conf.get(setKey) === "1")
      assert(!spark.conf.getAll.contains(unsetKey))
    }
    assert(spark.conf.get(setKey) === before)
  }

  test("two threads' overlapping scopes on one key leave the original value") {
    // The latches ask for the interleaving a lock-free save/restore gets
    // wrong: A sets 1; B saves A's 1 and sets 2; A restores the original;
    // B restores A's 1, which then sticks. Under the monitor B cannot
    // enter before A leaves, so A's wait for B times out and the scopes
    // run one after the other.
    val before = spark.conf.get(setKey)
    val aIn = new CountDownLatch(1)
    val bIn = new CountDownLatch(1)
    val aOut = new CountDownLatch(1)
    @volatile var seenA, seenB = ""
    val a = new Thread(() => {
      Sessions.withConf(spark, setKey -> "1") {
        aIn.countDown()
        bIn.await(2, TimeUnit.SECONDS)
        seenA = spark.conf.get(setKey)
      }
      aOut.countDown()
    })
    val b = new Thread(() => {
      aIn.await()
      Sessions.withConf(spark, setKey -> "2") {
        bIn.countDown()
        aOut.await(30, TimeUnit.SECONDS)
        seenB = spark.conf.get(setKey)
      }
    })
    a.start(); b.start(); a.join(60000); b.join(60000)
    assert(!a.isAlive && !b.isAlive)
    assert(spark.conf.get(setKey) === before)
    assert(seenA === "1")
    assert(seenB === "2")
  }

  test("StreamRunner.collect runs its state operator at the requested " +
    "width and leaves the caller's shuffle width alone") {
    import spark.implicits._
    val widths = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => widths.add(op.numShufflePartitions.toInt))
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before != "2")
    spark.streams.addListener(listener)
    try {
      val out = streaming.StreamRunner.collect(
        streaming.Sources.stagedChunkStream(spark, Seq(
          Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
          Seq((3L, "a")).toDF("id", "v")), testDir("graft-envchunks"))
          .groupBy(col("v")).count(),
        outputMode = "complete", statePartitions = 2)
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      assert(out.orderBy(col("v")).as[(String, Long)].collect().toSeq ===
        Seq(("a", 2L), ("b", 1L)))
      assert(!widths.isEmpty)
      assert(widths.toArray.toSet === Set(2))
    } finally spark.streams.removeListener(listener)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }
}
