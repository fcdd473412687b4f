package graft

import graft.operators.Versioned
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The gate kit in [[GateSupport]]: the scratch scope every gate with
  * on-disk fixtures runs in, and the one-job probe summary of the store
  * gates. */
class GateKitSpec extends SparkSpec {
  import GateSupport._

  private def shmDirs(name: String): Set[String] =
    Option(new java.io.File(TmpDirs.shmRoot).list()).getOrElse(Array.empty)
      .filter(_.startsWith(s"graft-$name-")).toSet

  test("withScratch sweeps its dir when the body returns or throws, and " +
    "the returned frame still collects after the sweep") {
    import spark.implicits._
    var seen = ""
    val out = withScratch("kit_returns") { dir =>
      seen = dir
      assert(new java.io.File(dir).isDirectory)
      assert(new java.io.File(dir).getName.startsWith("graft-kit_returns-"))
      Seq(1L, 2L, 3L).toDF("x").write.parquet(s"$dir/t")
      spark.read.parquet(s"$dir/t").agg(sum(col("x")).as("s"))
    }
    assert(!new java.io.File(seen).exists(), s"$seen survived the scope")
    assert(out.collect().map(_.getLong(0)).toSeq === Seq(6L))

    val e = intercept[IllegalStateException] {
      withScratch("kit_throws") { dir =>
        seen = dir
        Seq(1L).toDF("x").write.parquet(s"$dir/t")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(!new java.io.File(seen).exists(), s"$seen survived the throw")
    assert(shmDirs("kit_returns").isEmpty && shmDirs("kit_throws").isEmpty)
  }

  test("withScratch runs no job for a frame that is already materialized") {
    import spark.implicits._
    val ckpt = Seq(2L, 1L).toDF("x").localCheckpoint(true)
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    try {
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      jobs.tag = "scope"
      val outs = Seq(
        withScratch("kit_local") { _ => Seq(2L, 1L).toDF("x") },
        withScratch("kit_ckpt") { _ => ckpt.orderBy(col("x")) })
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      jobs.tag = null
      assert(jobs.jobs.isEmpty, jobs.jobs.map(_.site).mkString("; "))
      outs.foreach(df =>
        assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L)))
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  /** A 2-version store of 400 keys in 8 buckets with stats on `k`. */
  private def withStore(body: String => Unit): Unit = {
    val dir = testDir("graft-kit-store")
    val base = spark.range(1, 401).select(col("id").as("k"),
      (col("id") * 1.25).cast("decimal(18,2)").as("price"),
      pmod(col("id"), lit(8L)).as("bucket"))
    Versioned.init(spark, s"$dir/s", "bucket", base, statsCol = Some("k"))
    Versioned.merge(spark, s"$dir/s", "bucket", "k",
      base.filter(col("k") % 5 === 0).withColumn("op", lit("D")),
      statsCol = Some("k"))
    body(s"$dir/s")
  }

  private def probes(path: String): Seq[(String, DataFrame)] =
    Seq(1L, 2L).flatMap { v => Seq(
      s"$v/hit" -> Versioned.readPoint(spark, path, "k", 35L, v),
      s"$v/miss" -> Versioned.readPoint(spark, path, "k", 9999L, v),
      s"$v/range" -> Versioned.readRange(spark, path, "k", 100L, 180L, v),
      s"$v/full" -> Versioned.read(spark, path, v)
        .filter(col("k") >= 100L && col("k") <= 180L)) }

  test("probeSums: a miss probe answers n = 0, and every probe equals " +
    "its own head() summary") {
    withStore { path =>
      val frames = probes(path)
      val got = probeSums(frames)
      assert(got.keySet === frames.map(_._1).toSet)
      assert(got("1/miss") === ((0L, 0.0, 0L)))
      assert(got("1/hit")._1 === 1L && got("2/hit")._1 === 0L)
      frames.foreach { case (tag, df) =>
        val r = df.agg(count(lit(1)),
          coalesce(sum(col("price")), lit(0).cast("decimal(18,2)"))
            .cast("double"),
          coalesce(sum(col("k")), lit(0L))).head()
        assert(got(tag) === ((r.getLong(0), r.getDouble(1), r.getLong(2))),
          tag)
      }
    }
  }

  test("probeSums answers every probe in one Spark job") {
    withStore { path =>
      val frames = probes(path)
      val jobs = new JobListener
      spark.sparkContext.addSparkListener(jobs)
      try {
        org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
        jobs.tag = "probes"
        probeSums(frames)
        org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
        jobs.tag = null
        assert(jobs.jobs.size === 1, jobs.jobs.map(_.site).mkString("; "))
      } finally spark.sparkContext.removeSparkListener(jobs)
    }
  }
}
