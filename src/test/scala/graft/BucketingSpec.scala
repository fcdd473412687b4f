package graft

import org.apache.spark.sql.functions._

/** Bucketing = the at-rest co-location strategy for repeated big-big
  * joins: both sides pre-hashed into the same bucket layout on the join
  * key means the join needs NO shuffle exchange at read time. At 100 TB
  * this converts every recurring fact-fact join from a full network
  * shuffle into a local zip of bucket files.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables co-locate the join: no shuffle exchange on either side") {
    val root = testDir("graft-bucket")
    val left = (1 to 10000).map(i => (i.toLong % 500, i.toLong)).toDF("k", "lv")
    val right = (1 to 5000).map(i => (i.toLong % 500, s"r$i")).toDF("k", "rv")
    spark.sql("DROP TABLE IF EXISTS graft_bl")
    spark.sql("DROP TABLE IF EXISTS graft_br")
    left.write.bucketBy(8, "k").sortBy("k")
      .option("path", s"$root/bl").saveAsTable("graft_bl")
    right.write.bucketBy(8, "k").sortBy("k")
      .option("path", s"$root/br").saveAsTable("graft_br")

    try Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("graft_bl").join(spark.table("graft_br"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(1500))
      assert(j.count() === left.join(right, "k").count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bl")
      spark.sql("DROP TABLE IF EXISTS graft_br")
    }
  }

  test("Bucketing.writeBucketed + bucketedJoin: exchange-free merge join, " +
      "result equals the plain join, catalog + files swept") {
    val root = testDir("graft-bucket-op")
    val left = (1 to 8000).map(i => (i.toLong % 300, i.toLong)).toDF("lk", "lv")
    val right = (1 to 4000).map(i => (i.toLong % 300, i * 2L)).toDF("rk", "rv")
    try {
      operators.Bucketing.writeBucketed(left, "graft_op_bl", s"$root/bl", "lk", 8)
      operators.Bucketing.writeBucketed(right, "graft_op_br", s"$root/br", "rk", 8)
      val j = operators.Bucketing.bucketedJoin(spark, "graft_op_bl",
        "graft_op_br", "lk", "rk")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange"), plan.take(1500))
      val got = j.select(col("lk"), col("lv"), col("rv"))
        .collect().map(_.toString).sorted
      val want = left.join(right, col("lk") === col("rk"))
        .select(col("lk"), col("lv"), col("rv"))
        .collect().map(_.toString).sorted
      assert(got === want)
    } finally {
      operators.Bucketing.drop(spark, "graft_op_bl")
      operators.Bucketing.drop(spark, "graft_op_br")
    }
    assert(!spark.catalog.tableExists("graft_op_bl"))
  }

  test("bucket pruning: an equality filter on the bucket key reads 1/N buckets") {
    val root = testDir("graft-bucket2")
    spark.sql("DROP TABLE IF EXISTS graft_bp")
    (1 to 10000).map(i => (i.toLong, i.toString)).toDF("k", "v")
      .write.bucketBy(8, "k").option("path", s"$root/bp").saveAsTable("graft_bp")
    // the planner auto-disables bucketed scans when the query shape gains
    // nothing from the distribution (filter-only) — force it to observe
    // the pruning a join/agg query would get
    try Sessions.withConf(spark,
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val q = spark.table("graft_bp").filter(col("k") === 42L)
      val scan = q.queryExecution.executedPlan.toString
      // file-source scan reports the selected-bucket count
      assert(scan.contains("SelectedBucketsCount: 1 out of 8"), scan.take(1500))
      assert(q.count() === 1L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bp")
    }
  }
}
