package graft

import graft.operators.Joins
import org.apache.spark.sql.functions._

/** Skew-stress fixtures: every skew guard in the engine proven on a
  * deliberately hot-keyed dataset, not just organic (unskewed) test data.
  * Complements DedupSpec's bucketPairs star-fallback test and the
  * ngram-jaccard capped-bucket tests (the dedup-side skew guards).
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // 100k rows, 10% of them on one hot key — the "one mass key dwarfs the
  // rest" shape that makes an unsalted shuffle join straggle
  private def hotLeft = spark.range(100000).select(
    when(col("id") % 10 === 0, lit(777L)).otherwise(col("id")).as("k"),
    col("id").as("v"))

  private def right = spark.range(1000).select(
    col("id").as("k"), (col("id") * 2).as("w"))

  test("spanDupStats: a boilerplate span in EVERY doc stays one agg cell") {
    // worst case for span profiling: one 8-gram shared by the whole
    // corpus. Pair-wise formulations go quadratic here (2000^2); the
    // hash-agg formulation must return exact counts — each doc has the
    // boilerplate span (dup) plus its unique tail span (clean).
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (1L to 2000L).map(i => (i, s"$boiler tail$i"))
      .toDF("doc_id", "text")
    val r = graft.operators.Dedup.spanDupStats(docs)
    // spans per doc: 9 tokens → 2 distinct 8-gram spans; exactly 1 is the
    // shared boilerplate prefix
    val bad = r.filter(col("n_spans") =!= 2 || col("dup_spans") =!= 1).count()
    assert(bad === 0L)
    assert(r.count() === 2000L)
  }

  test("saltedJoin matches the plain join bit-for-bit on a hot-key fixture") {
    val t0 = System.nanoTime()
    val plain = hotLeft.join(right, "k")
      .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      .as[(Long, Long)].head()
    val salted = Joins.saltedJoin(hotLeft, right, "k", buckets = 8)
      .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      .as[(Long, Long)].head()
    assert(salted === plain)
    assert(plain._1 === 10900L) // 10001 hot-key rows + 899 organic matches
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(elapsedSec < 60.0, f"skew fixture took $elapsedSec%.1fs")
  }

  test("saltedJoin actually spreads the hot key over multiple reducers") {
    // AQE's partition coalescing would legitimately merge these small test
    // partitions back together; disable it to observe the raw spread
    Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val parts = Joins.saltedJoin(hotLeft, right, "k", buckets = 8)
        .filter(col("k") === 777L)
        .select(spark_partition_id().as("p"))
        .distinct().count()
      // 8 salts hash into 32 shuffle partitions; a straggler-free spread
      // puts the hot key in several distinct reducers instead of one
      assert(parts >= 4, s"hot key landed in only $parts partition(s)")
    }
  }

  test("j8b fixture: AQE skew-join fires on a plain shuffle join but NOT " +
    "when the build side's partitioning comes from an aggregate — the " +
    "decision rule SCALE.md §Skew records") {
    val dir = "/root/testdata/sf0.001"
    // the j8b derivation: 6 of 10 l_orderkey residues folded onto key 0
    // (~60% of the fact on one key)
    // repartition(8): AQE splits a skewed reduce partition along its
    // MAP-output blocks — the sf0.001 single-file scan is one mapper, so
    // without this the hot partition is one unsplittable block (a real
    // 100 TB scan has thousands of mappers and never hits this)
    val li = Tables.lineitem(spark, dir).select(
      when(pmod(col("l_orderkey"), lit(10L)) < 6, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(10L))).as("skew_k"),
      col("l_extendedprice")).repartition(8)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    Sessions.withConf(spark, confs: _*) {
      // (a) both children are PLAIN shuffle reads → OptimizeSkewedJoin
      // splits the hot partition (skew=true in the final adaptive plan)
      val dimPlain = spark.range(10).select(col("id").as("skew_k"),
        (col("id") * 7).as("w"))
      val qPlain = li.join(dimPlain, "skew_k")
      val nPlain = qPlain.collect().length
      val pPlain = qPlain.queryExecution.executedPlan.toString
      assert(pPlain.contains("skew=true"), pPlain.take(1200))
      // (b) the build side is an AGGREGATE over the same key: its output
      // partitioning is produced by the agg, not a shuffle read AQE can
      // re-arrange, so OptimizeSkewedJoin canNOT fire — the case where
      // manual salting (which re-keys BEFORE the shuffle) still earns
      // its keep in batch plans
      val dimAgg = li.groupBy(col("skew_k")).agg(count(lit(1)).as("k_rows"))
      val qAgg = li.join(dimAgg, "skew_k")
      val nAgg = qAgg.collect().length
      val pAgg = qAgg.queryExecution.executedPlan.toString
      assert(!pAgg.contains("skew=true"), pAgg.take(1200))
      assert(nAgg === nPlain) // same fact rows survive either join
      // (c) saltedJoinTargeted agrees with the plain AQE-split join
      val salted = Joins.saltedJoinTargeted(li, dimAgg, "skew_k", buckets = 8,
        sampleFraction = 0.05, hotMinSampleCount = 10, maxHotKeys = 16)
      assert(salted.count().toInt === nPlain)
    }
  }

  test("AQE splits the skewed partition in an unsalted sort-merge join") {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // enough reducers that the hot key's partition stands out against
      // the organic median, and no coalescing to blur it
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    Sessions.withConf(spark, confs: _*) {
      val q = hotLeft.join(right, "k")
      // materialize THIS DataFrame so its adaptive plan is final (count()
      // would plan a separate, aggregated query)
      assert(q.collect().length === 10900)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(1200))
    }
  }

  test("sim_knn_hotcell: a hot IVF cell (~50% of the corpus under one " +
    "centroid) is split by AQE skew-join inside knnJoinIvf, and the " +
    "split plan's answer matches the unsplit twin row-for-row") {
    import graft.operators.Similarity
    // 8000 vectors, dim 4: every even id lands in the hot region around
    // (10,0,0,0); odd ids spread over 7 cold regions at x=100..700. The
    // jitter keeps vectors distinct without moving any off its centroid.
    val corpus = spark.range(8000).select(col("id").as("vec_id"),
      array(
        when(col("id") % 2 === 0, lit(10.0))
          .otherwise((col("id") % 7 + 1) * 100.0),
        (col("id") % 17).cast("double") / 1000.0,
        (col("id") % 13).cast("double") / 1000.0,
        lit(0.0)).as("embedding"))
    val centroids = (Seq((0L, Seq(10.0, 0.0, 0.0, 0.0))) ++
      (1 to 7).map(r => (r.toLong, Seq(r * 100.0, 0.0, 0.0, 0.0))))
      .toDF("cluster_id", "centroid")
    val queries = corpus.filter(col("vec_id") % 10 === 0)
    def run(skewOn: Boolean): (Seq[(Long, Long, Double, Int)], String) = {
      val confs = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
        "spark.sql.adaptive.skewJoin.enabled" -> skewOn.toString,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      Sessions.withConf(spark, confs: _*) {
        val q = Similarity.knnJoinIvf(queries, corpus, k = 3,
          centroids = centroids, nProbe = 1)
        val rows = q.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getInt(3))).toSeq.sorted
        (rows, q.queryExecution.executedPlan.toString)
      }
    }
    val (split, splitPlan) = run(skewOn = true)
    // the claim under test (Similarity.knnJoinIvf doc): a residually hot
    // cell IS AQE skew-join territory — the executed SMJ must carry the
    // skew=true split, not just tolerate the straggler
    assert(splitPlan.contains("skew=true"), splitPlan.take(1500))
    val (unsplit, unsplitPlan) = run(skewOn = false)
    assert(!unsplitPlan.contains("skew=true"))
    assert(split === unsplit,
      "AQE skew split changed the kNN answer")
    assert(split.nonEmpty && split.size === unsplit.size)
  }
}
