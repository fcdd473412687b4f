package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("persisted IVF index returns the same neighbors as the in-memory path") {
    val path = testDir("graft-ivf") + "/index"
    val centroids = Similarity.trainCentroids(emb, k = 8, iters = 1)
      .localCheckpoint(true) // pin: both paths must use identical centroids
    val queries = emb.filter(col("vec_id") < 3)
    Similarity.buildIvfIndex(emb, centroids, path)
    val indexed = Similarity.ivfTopKIndexed(spark, path, queries, k = 5,
      centroids, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted
    val inMem = Similarity.ivfTopK(emb, queries, k = 5, centroids, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted
    assert(indexed === inMem)
    assert(indexed.nonEmpty)
  }

  test("appendIvfIndex writes ONLY the delta (base files untouched) and " +
    "search equals a one-shot rebuild") {
    val path = testDir("graft-ivf-app") + "/index"
    val centroids = Similarity.trainCentroids(
      emb.filter(pmod(col("vec_id"), lit(3L)) =!= 0), k = 8, iters = 1)
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 3)
    Similarity.buildIvfIndex(
      emb.filter(pmod(col("vec_id"), lit(3L)) =!= 0), centroids, path)
    def files() = {
      val root = new java.io.File(path)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
            .toIndexedSeq.flatMap(walk)
        else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    Similarity.appendIvfIndex(
      emb.filter(pmod(col("vec_id"), lit(3L)) === 0), centroids, path)
    val after = files()
    // every base file survives byte-identical (path + mtime), delta adds
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"base file rewritten: $p")
    }
    assert(after.size > before.size)
    val inc = Similarity.ivfTopKIndexed(spark, path, queries, k = 5,
      centroids, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted
    val one = Similarity.ivfTopK(emb, queries, k = 5, centroids, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted
    assert(inc === one)
    assert(inc.nonEmpty)
  }

  test("IVF-PQ: indexed search == in-memory composition; the at-rest index " +
    "stores m-byte codes per cell, never raw vectors") {
    val path = testDir("graft-ivfpq") + "/index"
    val centroids = Similarity.trainCentroids(emb, k = 8, iters = 1)
      .localCheckpoint(true) // pin: both paths must see identical quantizers
    val cb = Similarity.trainPqCodebooks(emb, m = 8, k = 16, iters = 1,
      sampleRate = 1.0).localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 3)
    Similarity.buildIvfPqIndex(emb, centroids, cb, path)
    val indexed = Similarity.ivfPqTopKIndexed(spark, path, emb, queries,
      k = 5, centroids, cb, nProbe = 2, shortlist = 20)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted
    val inMem = Similarity.ivfPqTopK(emb, queries, k = 5, centroids, cb,
      nProbe = 2, shortlist = 20)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted
    assert(indexed === inMem)
    assert(indexed.nonEmpty)
    // the compression contract: cells hold (vec_id, codes) only — raw
    // embeddings never land in the index; codes are exactly m entries
    val idx = spark.read.parquet(path)
    assert(!idx.columns.contains("embedding"), idx.columns.mkString(","))
    assert(idx.select(min(size(col("codes"))), max(size(col("codes"))))
      .as[(Int, Int)].head() === ((8, 8)))
    // partitioned by cell: probing prunes directories before any row reads
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("cluster_id=")).map(_.getName)
    assert(dirs.length === 8)
  }

  test("rebuildIvfIndex retrains on the index's own rows and relays out; " +
    "search over the rebuild == one-shot with the returned centroids") {
    val p1 = testDir("graft-ivf-rb") + "/index"
    val p2 = testDir("graft-ivf-rb") + "/index2"
    val base = emb.filter(pmod(col("vec_id"), lit(3L)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(3L)) === 0)
    val c1 = Similarity.trainCentroids(base, k = 8, iters = 1)
      .localCheckpoint(true)
    Similarity.buildIvfIndex(base, c1, p1)
    Similarity.appendIvfIndex(delta, c1, p1)
    // rebuild with a DIFFERENT k — proves a genuine re-layout, not a copy
    val c2 = Similarity.rebuildIvfIndex(spark, p1, p2, k = 4, iters = 1,
      sampleRate = 1.0)
    val dirs = new java.io.File(p2).listFiles()
      .filter(_.getName.startsWith("cluster_id=")).map(_.getName)
    assert(dirs.length === 4)
    // row conservation: every vector survives the rewrite exactly once
    assert(spark.read.parquet(p2).select("vec_id").distinct().count() ===
      emb.count())
    val queries = emb.filter(col("vec_id") < 3)
    val rebuilt = Similarity.ivfTopKIndexed(spark, p2, queries, k = 5,
      c2, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted
    val one = Similarity.ivfTopK(emb, queries, k = 5, c2, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().sorted
    assert(rebuilt === one)
    assert(rebuilt.nonEmpty)
  }

  test("TopK aggregator == window row_number top-k (same rows, same order)") {
    val queries = emb.filter(col("vec_id") < 5)
    // the reference: score every (query, corpus) pair, self-matches
    // excluded, and rank per query with a sorted window
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val win = emb.join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.VectorFns.cosine(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().sorted
    val agg = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().sorted
    assert(agg === win)
  }

  test("all top-k paths rank via ObjectHashAggregate, not a per-group sort") {
    val queries = emb.filter(col("vec_id") < 5)
    val centroids = Similarity.trainCentroids(emb, k = 8, iters = 1)
      .localCheckpoint(true)
    val plans = Map(
      "brute" -> Similarity.bruteForceTopK(emb, queries, k = 5),
      "lsh" -> Similarity.lshTopK(emb, queries, k = 5,
        graft.functions.VectorFns.randomPlanes(8, 64)),
      "ivf" -> Similarity.ivfTopK(emb, queries, k = 5, centroids, nProbe = 2)
    ).view.mapValues(_.queryExecution.executedPlan.toString)
    plans.foreach { case (name, plan) =>
      assert(plan.contains("ObjectHashAggregate"), s"$name: ${plan.take(600)}")
      assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window "),
        s"$name still ranks via a window: ${plan.take(600)}")
    }
  }

  test("sampled quantizer training yields a full, well-formed centroid set " +
    "and a valid IVF search") {
    val dims = emb.select(size(col("embedding"))).as[Int].head()
    val centroids = Similarity.trainCentroids(emb, k = 8, iters = 1,
      sampleRate = 0.5).localCheckpoint(true)
    val rows = centroids.select(col("cluster_id"), size(col("centroid")))
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to 8L)) // k centroids, dense ids
    assert(rows.forall(_._2 == dims)) // full embedding dimensionality
    // deterministic: the hash sample is seed-free/content-addressed
    val again = Similarity.trainCentroids(emb, k = 8, iters = 1,
      sampleRate = 0.5)
    assert(again.collect().map(_.toString).sorted
      === centroids.collect().map(_.toString).sorted)
    // the search contract holds on sample-trained centroids
    val queries = emb.filter(col("vec_id") < 3)
    val out = Similarity.ivfTopK(emb, queries, k = 5, centroids, nProbe = 4)
      .select("query_id", "rank").as[(Long, Int)].collect()
    assert(out.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5) })
  }

  test("a too-thin sample falls back to full-corpus training (never fewer " +
    "vectors than 4k)") {
    // 500 vecs * 0.01 = ~5 sampled < 4*8: fallback must reproduce the
    // full-corpus quantizer exactly
    val sampled = Similarity.trainCentroids(emb, k = 8, iters = 1,
      sampleRate = 0.01)
    val full = Similarity.trainCentroids(emb, k = 8, iters = 1)
    assert(sampled.collect().map(_.toString).sorted
      === full.collect().map(_.toString).sorted)
  }

  test("index scan is pruned to the probed cluster partitions") {
    val path = testDir("graft-ivf2") + "/index"
    val centroids = Similarity.trainCentroids(emb, k = 8, iters = 1)
      .localCheckpoint(true)
    Similarity.buildIvfIndex(emb, centroids, path)
    // the partition layout is one directory per cluster
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("cluster_id=")).map(_.getName).sorted
    assert(dirs.length === 8)
    // a pruned read of 2 clusters touches 2 partition values
    val two = spark.read.parquet(path).filter(col("cluster_id").isin(1L, 2L))
    val plan = two.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("cluster_id"), plan.take(600))
    val vals = two.select(col("cluster_id")).distinct().as[Long].collect().toSet
    assert(vals.subsetOf(Set(1L, 2L)))
  }

  // PQ fixture: 4-dim vectors, m=2 subspaces of 2 dims; each subvector
  // sits EXACTLY on one of two well-separated prototypes per subspace, so
  // Lloyd converges to the prototypes and ADC distances equal true
  // squared distances — keep/drop expectations are deterministic.
  private def pqFixture = Seq(
    (1L, Array(0.0f, 0.0f, 10.0f, 10.0f)),
    (2L, Array(0.0f, 0.0f, 10.0f, 10.0f)),   // identical to 1
    (3L, Array(8.0f, 8.0f, 10.0f, 10.0f)),   // differs in subspace 0 only
    (4L, Array(0.0f, 0.0f, -4.0f, -4.0f)),   // differs in subspace 1 only
    (5L, Array(8.0f, 8.0f, -4.0f, -4.0f))    // differs in both
  ).toDF("vec_id", "embedding")

  test("PQ: codebooks converge to the subspace prototypes; codes compress " +
    "exactly; ADC distance equals true distance on on-centroid data") {
    // init is the two lowest vec_ids — IDENTICAL vectors, so iteration 1
    // collapses to one populated cell per subspace and the empty-cell
    // rule must retain the other; iteration 2+ separates them onto the
    // planted prototypes (k never silently shrinks)
    val cb = Similarity.trainPqCodebooks(pqFixture, m = 2, k = 2, iters = 3,
      sampleRate = 1.0).localCheckpoint(true)
    // 2 subspaces × 2 codes, each centroid one of the planted prototypes
    assert(cb.count() === 4L)
    val cents = cb.select(col("subspace"), col("centroid"))
      .as[(Int, Seq[Double])].collect().toSet
    assert(cents === Set((0, Seq(0.0, 0.0)), (0, Seq(8.0, 8.0)),
      (1, Seq(10.0, 10.0)), (1, Seq(-4.0, -4.0))))
    val codes = Similarity.pqEncode(pqFixture, cb).localCheckpoint(true)
    // identical vectors encode identically; m=2 codes per vector
    val byId = codes.as[(Long, Seq[Int])].collect().toMap
    assert(byId(1L) === byId(2L))
    assert(byId.values.forall(_.length == 2))
    assert(byId(1L) !== byId(5L))
    // ADC from query 1 (all subvectors sit ON centroids, so approximate
    // distance IS true distance): vec2 = 0, vec3 = 8²×2 = 128,
    // vec4 = 14²×2 = 392, vec5 = 128+392 = 520
    val top = Similarity.pqTopK(codes, pqFixture.filter(col("vec_id") === 1L),
        k = 4, cb)
      .select("neighbor_id", "d2a", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(top.map(_._1).toSeq === Seq(2L, 3L, 4L, 5L))
    assert(top.map(_._2).toSeq === Seq(0.0, 128.0, 392.0, 520.0))
  }

  test("PQ on the fixture corpus: full coverage, dense ranks, and the " +
    "re-ranked tier recovers most of the exact neighborhood") {
    val cb = Similarity.trainPqCodebooks(emb, m = 8, k = 64, iters = 2,
      sampleRate = 0.5).localCheckpoint(true)
    // k never shrinks: 8 subspaces × 64 retained cells
    assert(cb.count() === 8L * 64)
    val codes = Similarity.pqEncode(emb, cb).localCheckpoint(true)
    assert(codes.count() === emb.count()) // every vector encoded once
    val queries = emb.filter(col("vec_id") < 5)
    val pq = Similarity.pqTopKReranked(emb, codes, queries, k = 5, cb,
      shortlist = 50).localCheckpoint(true)
    assert(pq.count() === 25L)
    // recall@5 vs exact — the re-rank emits exact cosines, so recall is
    // the shortlist's coverage (measured 0.6-0.8 here); the floor is
    // loose on purpose (training is deterministic, but the spec
    // documents intent, not a knife edge)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = pq.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall@5 = $recall")
  }

  test("knnJoinExact == window-ranked cross-product truth") {
    val left = emb.filter(col("vec_id") % 10 === 3)
    val right = emb.filter(col("vec_id") % 10 =!= 3)
    val got = Similarity.knnJoinExact(left, right, k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val truth = left.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(right.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorFns.cosine(col("qe"), col("ne")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().sorted
    assert(got === truth)
    assert(got.length === left.count() * 3)
  }

  test("knnJoinIvf with every cell probed == knnJoinExact (containment " +
    "becomes equality at full probe)") {
    val left = emb.filter(col("vec_id") % 10 === 3)
    val right = emb.filter(col("vec_id") % 10 =!= 3)
    val k = 8
    val centroids = Similarity.trainCentroids(right, k = k, iters = 1)
      .localCheckpoint(true)
    val ivf = Similarity.knnJoinIvf(left, right, k = 3, centroids, nProbe = k)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().sorted
    val exact = Similarity.knnJoinExact(left, right, k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().sorted
    assert(ivf === exact)
  }

  test("over-budget centroid tables degrade to the broadcast-join shape " +
    "with identical assignments, clusters, and probes (r19 guard)") {
    // force the fallback on a small table: budget below this k x d
    val centroids = Similarity.trainCentroids(emb, k = 8, iters = 1)
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 6)
    def runAll() = {
      val a = Similarity.assign(emb, centroids)
        .as[(Long, Long)].collect().sorted.toSeq
      val w = Similarity.withCluster(emb, centroids)
        .select(col("vec_id"), col("cluster_id"))
        .as[(Long, Long)].collect().sorted.toSeq
      val t = Similarity.ivfTopK(emb, queries, k = 4, centroids, nProbe = 3)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Int, Long)].collect().sorted.toSeq
      (a, w, t)
    }
    val planBaked = runAll()
    assert(planBaked._1.nonEmpty)
    def shape() = Similarity.assign(emb, centroids)
      .queryExecution.optimizedPlan.toString
    def broadcastShape(plan: String) =
      plan.contains("Join") || plan.toLowerCase.contains("broadcast")
    assert(!broadcastShape(shape()))
    // k x d doubles is the table's size: the fallback takes it strictly
    // above the budget, so k·d−1 degrades and k·d, k·d+1 stay baked
    val kd = centroids.select(size(col("centroid")).cast("long")).as[Long]
      .collect().sum
    for (budget <- Seq(1L, kd - 1, kd, kd + 1)) {
      val (rows, plan) = withBudget(budget)((runAll(), shape()))
      assert(rows._1 === planBaked._1, s"assign at budget $budget")
      assert(rows._2 === planBaked._2, s"withCluster at budget $budget")
      assert(rows._3 === planBaked._3, s"ivfTopK at budget $budget")
      assert(broadcastShape(plan) === (budget < kd), s"plan at budget $budget: $plan")
    }
  }

  /** Runs `body` with the plan-literal budget system property at `v`. */
  private def withBudget[T](v: Long)(body: => T): T = {
    sys.props("graft.plan.literal.budget") = v.toString
    try body
    finally { sys.props.remove("graft.plan.literal.budget"); () }
  }

  test("codebookRows rejects non-uniform and non-contiguous codebooks " +
    "(ADVICE: subspace-major indexing must fail loud)") {
    val bad = Seq((0, 1L, Seq(0.0, 0.0)), (0, 2L, Seq(1.0, 1.0)),
      (0, 3L, Seq(2.0, 2.0)), (1, 1L, Seq(3.0, 3.0)))
      .toDF("subspace", "cluster_id", "centroid")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqEncode(emb, bad).collect()
    }
    assert(e.getMessage.contains("not uniform"))
    val gap = Seq((0, 1L, Seq(0.0, 0.0)), (2, 1L, Seq(1.0, 1.0)))
      .toDF("subspace", "cluster_id", "centroid")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqEncode(emb, gap).collect()
    }
    assert(e2.getMessage.contains("contiguous"))
    // the budget bounds m·k·subDim doubles: one below fails naming it,
    // exactly at it the codebook bakes and encodes
    val cb = Similarity.trainPqCodebooks(emb, m = 2, k = 4, iters = 1,
      sampleRate = 1.0).localCheckpoint(true)
    val mkSub = cb.select(size(col("centroid")).cast("long")).as[Long]
      .collect().sum
    val e3 = intercept[IllegalArgumentException] {
      withBudget(mkSub - 1)(Similarity.pqEncode(emb, cb).collect())
    }
    assert(e3.getMessage.contains("plan-literal budget"))
    val codes = withBudget(mkSub)(Similarity.pqEncode(emb, cb).collect())
    assert(codes.length.toLong === emb.count())
  }
}
