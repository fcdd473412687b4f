package graft.operators

import graft.functions.VectorFns._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column (SURVEY.md §7.4 / builder brief).
  *
  * Three tiers, trading recall for shuffle volume:
  *  - bruteForceTopK: exact. Query set is broadcast, so the big side never
  *    shuffles — cost is one scan of the corpus per batch of queries.
  *    Correctness baseline + the right answer when |queries| is small.
  *  - lshTopK: sign-random-projection buckets; only bucket-cohabitants are
  *    scored. Multi-probe (hamming-1 neighbors of the query bucket) keeps
  *    recall up without widening the shuffle much.
  *  - ivfTopK: IVF — k-means coarse quantizer (trained distributed, Lloyd
  *    iterations are joins+aggs), queries probe their nProbe nearest
  *    centroids; only those inverted lists are scanned.
  */
object Similarity {

  /** Exact top-k by cosine: broadcast the (small) query set against the
    * corpus, rank per query. Excludes self-matches. Ranking goes through
    * the bounded TopK aggregator (see [[rankTopK]]) — the scale path. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(scoreAgainst(corpus, queries), k)

  private def scoreAgainst(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    corpus.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
  }

  /** LSH-bucketed ANN: score only vectors sharing the query's hyperplane
    * bucket or any bucket at hamming distance 1 (multi-probe). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Seq[Array[Double]]): DataFrame = {
    val nb = planes.size
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      hyperplaneBucket(col("embedding"), planes).as("bucket"))
    // query probes: own bucket + flip each bit once
    val probes = queries.select(
        col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        hyperplaneBucket(col("embedding"), planes).as("b0"))
      .withColumn("probe", explode(array(
        (col("b0") +: (0 until nb).map(i => col("b0").bitwiseXOR(lit(1L << i)))): _*)))
    val scored = bucketed.join(broadcast(probes),
        col("bucket") === col("probe") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      .distinct()
    rankTopK(scored, k)
  }

  /** Distributed k-means coarse quantizer: deterministic init (first k by
    * id), `iters` Lloyd steps, each an assign (broadcast centroids) +
    * recompute (one shuffle on cluster id). Returns (cluster_id, centroid:
    * array<double>).
    *
    * `sampleRate` < 1 trains on a deterministic `Sampling.hashSample` of
    * the corpus — the standard IVF recipe: the coarse quantizer only needs
    * the density SHAPE of the data, which a sample captures, so training
    * costs O(sample × iters) instead of `iters` full-corpus passes (at
    * 100 TB the full-corpus Lloyd loop is the plan you would never run;
    * a fraction of a percent of the corpus trains the same 4096-centroid
    * quantizer). Assignment of the full corpus to the trained centroids
    * (`assign` / `buildIvfIndex`) is unchanged — still one corpus pass.
    * If the sample is too thin to carve k cells (< 4k vectors), training
    * silently widens back to the full corpus rather than degenerating. */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int = 3,
      sampleRate: Double = 1.0): DataFrame = {
    require(sampleRate > 0 && sampleRate <= 1.0,
      s"sampleRate must be in (0, 1], got $sampleRate")
    val spark = corpus.sparkSession
    // sample lazily and COUNT first: the thin-sample fallback must not
    // pay for (or leak) a checkpoint it will never read
    var pinnedSample: Option[DataFrame] = None
    val train =
      if (sampleRate >= 1.0) corpus
      else {
        val s = Sampling.hashSample(corpus, col("vec_id"), sampleRate)
        if (s.count() >= 4L * k) {
          // pinned once: every Lloyd iteration re-reads the sample
          val pinned = s.localCheckpoint(true)
          pinnedSample = Some(pinned)
          pinned
        } else corpus
      }
    // Centroids live DRIVER-SIDE across the loop (k×d doubles of bounded
    // metadata — the same budget class as a collected probe plan): each
    // Lloyd iteration is then ONE job — a per-row nearest-centroid
    // projection (plan-baked kernel, no crossJoin, no assign-shuffle, no
    // join-back) feeding the mean aggregation, collected. The pre-r18
    // shape paid an assignment shuffle + a join + a localCheckpoint
    // materialization per iteration for identical math.
    // Deterministic init: first k by id, cluster ids 1..k in vec_id order.
    var cents: Seq[(Long, Seq[Double])] =
      train.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
        .collect()
        .sortBy(_.getLong(0))
        .zipWithIndex
        .map { case (r, i) =>
          ((i + 1).toLong, r.getSeq[Double](1).toIndexedSeq) }
        .toIndexedSeq
    for (_ <- 1 to iters) {
      // Mean per (cluster, position): posexplode + avg is the
      // constant-memory-per-group shape (no array buffering in the agg).
      // An empty cell DROPS (groupBy emits no row for it) — the
      // historical trainCentroids rule, unchanged.
      cents = train
        .select(nearestCol(col("embedding"), cents).as("cluster_id"),
          posexplode(col("embedding")))
        .groupBy(col("cluster_id"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .groupBy(col("cluster_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
        .sortBy(_._1).toIndexedSeq
    }
    pinnedSample.foreach(CheckpointUtil.free)
    import spark.implicits._
    cents.toDF("cluster_id", "centroid")
  }

  /** Budget for PLAN-BAKED literal tables (centroids/codebooks), in
    * doubles: k×d up to 2²¹ (16 MB) rides the plan as a per-row kernel
    * table; anything larger would serialize into every task binary and
    * bloat driver plan memory — above it the public entry points DEGRADE
    * to the pre-r18 broadcast-join shapes (bit-identical results,
    * SimilaritySpec pins it) instead of OOMing at an unplanned k.
    * Overridable only so the parity spec can force the fallback on a
    * small table — not a tuning knob. */
  private def PlanLiteralBudget: Long = sys.props.get("graft.plan.literal.budget")
    .flatMap(v => scala.util.Try(v.toLong).toOption)
    .getOrElse(1L << 21)

  private def overBudget(cents: Seq[(Long, Seq[Double])]): Boolean =
    cents.length.toLong * cents.head._2.length > PlanLiteralBudget

  /** Collect a (cluster_id, centroid) table — k×d doubles of BOUNDED
    * driver metadata, the index-plan budget class — so assignment bakes
    * into the plan as a per-row kernel instead of a corpus shuffle.
    * LocalRelation-backed centroid frames (trainCentroids output)
    * collect without launching a job; any other plan shape pays one
    * collect job AT CALL TIME (the public assign/withCluster/probes
    * are eager in the centroids argument since r18). */
  private def centroidRows(centroids: DataFrame): Seq[(Long, Seq[Double])] = {
    val rows = centroids.select(col("cluster_id"),
        transform(col("centroid"), _.cast("double")).as("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    require(rows.nonEmpty,
      "Similarity: the centroids frame is EMPTY — assignment/probing " +
        "needs at least one (cluster_id, centroid) row (was the quantizer " +
        "trained on an empty corpus?)")
    rows
  }

  /** Per-row nearest-centroid expression ([[graft.expressions
    * .NearestCentroid]]): argmin of [[l2sq]] over the baked table, ties
    * to the lowest cluster_id — bit-identical to the crossJoin +
    * `min_by(cluster_id, struct(d2, cluster_id))` shuffle shape it
    * replaced (same element order, same float→double widening). */
  private def nearestCol(emb: org.apache.spark.sql.Column,
      cents: Seq[(Long, Seq[Double])]): org.apache.spark.sql.Column = {
    val d = cents.head._2.length
    call_function("graft_nearest_centroid", emb,
      typedlit(cents.map(_._1)), typedlit(cents.flatMap(_._2)), lit(d))
  }

  /** Assign each vector to its nearest centroid — a PROJECTION (the
    * centroid table rides the plan; the corpus never shuffles for an
    * assignment decision, which is the posture that matters at 100 TB).
    * EAGER in `centroids` (collected at call time — one job unless the
    * frame is LocalRelation-backed, as trainCentroids output is). A
    * table over [[PlanLiteralBudget]] degrades to the broadcast-join
    * shape — bit-identical results (same l2sq arithmetic, ties to the
    * lowest cluster_id), guarded by SimilaritySpec. */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroidRows(centroids)
    if (overBudget(cents))
      corpus.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("cluster_id"),
          l2sq(col("embedding"), col("centroid")).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min_by(col("cluster_id"),
          struct(col("d2"), col("cluster_id"))).as("cluster_id"))
    else
      corpus.select(col("vec_id"),
        nearestCol(col("embedding"), cents).as("cluster_id"))
  }

  /** [[assign]] keeping every corpus column: the per-row kernel appends
    * cluster_id in place — replaces the historical
    * `corpus.join(assign(corpus, c), "vec_id")` self-join (same columns,
    * same order, no join). Same eager-collect contract and over-budget
    * fallback as [[assign]] (the fallback re-joins on vec_id, column
    * order preserved). */
  def withCluster(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroidRows(centroids)
    if (overBudget(cents))
      corpus.join(assign(corpus, centroids)
          .withColumnRenamed("cluster_id", "__cl"), Seq("vec_id"))
        .select(corpus.columns.map(col).toIndexedSeq :+
          col("__cl").as("cluster_id"): _*)
    else
      corpus.withColumn("cluster_id", nearestCol(col("embedding"), cents))
  }

  /** Query-side probe selection: each query's nProbe nearest centroids,
    * nearest first — per-row kernel ([[graft.expressions.TopCentroids]],
    * (d2 asc, cluster_id asc) ordering, identical to the bounded-TopK
    * formulation it replaced), exploded. No crossJoin, no per-query
    * aggregation. Same eager-collect contract and over-budget
    * broadcast-join fallback as [[assign]]. */
  private[graft] def probes(queries: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    val cents = centroidRows(centroids)
    if (overBudget(cents)) {
      val topk = udaf(graft.functions.TopK.agg(nProbe))
      queries.crossJoin(broadcast(centroids))
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("cluster_id"), l2sq(col("embedding"), col("centroid")).as("d2"))
        .groupBy(col("query_id"))
        .agg(topk(-col("d2"), col("cluster_id")).as("top"),
          first(col("q_emb")).as("q_emb"))
        .select(col("query_id"), col("q_emb"),
          explode(col("top._2")).as("cluster_id"))
    } else {
      val d = cents.head._2.length
      queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        explode(call_function("graft_top_centroids", col("embedding"),
          typedlit(cents.map(_._1)), typedlit(cents.flatMap(_._2)),
          lit(d), lit(nProbe))).as("cluster_id"))
    }
  }

  /** Rank (query_id, neighbor_id, cos) scores to top-k per query through
    * the bounded TopK aggregator: each partition reduces to at most k rows
    * per query BEFORE the exchange (ObjectHashAggregate with map-side
    * partials), so the shuffle carries k×partitions rows per query instead
    * of the full scored candidate set — the dominant ANN cost at corpus
    * scale. Same ordering/tie policy (cos desc, neighbor_id asc) as the
    * window formulation; SimilaritySpec pins row-for-row equality. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(graft.functions.TopK.agg(k))
    scored
      .groupBy(col("query_id"))
      .agg(topk(col("cos"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        col("col._1").as("cos"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** IVF search: probe the nProbe nearest centroids per query, scan only
    * those lists. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int = 2): DataFrame = {
    val lists = withCluster(corpus, centroids)
    val qProbes = probes(queries, centroids, nProbe)
    val scored = lists.join(broadcast(qProbes), Seq("cluster_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    rankTopK(scored, k)
  }

  /** Persist the IVF inverted lists partitioned by cluster id. This is the
    * at-rest index layout: a probe of p clusters reads p/k of the FILES —
    * partition pruning happens before any row is deserialized, which is
    * the difference between an index and a full scan at 100 TB. */
  def buildIvfIndex(corpus: DataFrame, centroids: DataFrame, path: String): Unit =
    withCluster(corpus, centroids)
      .write.partitionBy("cluster_id").mode("overwrite").parquet(path)

  /** Append a vector delta to a persisted IVF index WITHOUT a rebuild:
    * assignment-only (one pass over the DELTA — the corpus already at
    * rest is never read or rewritten), new files land inside the
    * existing cluster_id partition dirs. The coarse quantizer stays
    * frozen — the standard IVF maintenance contract: search results are
    * identical to a one-shot build with the same centroids, and recall
    * degrades only as the data distribution drifts away from the frozen
    * centroids (retrain + rebuild is the compaction analogue, on the
    * operator's schedule, not the ingest path's). */
  def appendIvfIndex(delta: DataFrame, centroids: DataFrame, path: String): Unit =
    withCluster(delta, centroids)
      .write.partitionBy("cluster_id").mode("append").parquet(path)

  /** Search a persisted IVF index. The probe set is collected (it is
    * nProbe × |queries| ints — driver-side by design, like any index
    * lookup plan) and pushed as a partition-pruning IN filter, so only the
    * probed cluster directories are scanned. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, centroids: DataFrame, nProbe: Int = 2): DataFrame = {
    val qProbes = probes(queries, centroids, nProbe)
    val probedClusters = qProbes.select(col("cluster_id"))
      .distinct().collect().map(_.getLong(0))
    val lists = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probedClusters.toIndexedSeq: _*))
    val scored = lists.join(broadcast(qProbes), Seq("cluster_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    rankTopK(scored, k)
  }

  // ── kNN JOIN: top-k neighbors for EVERY row of a query table — the
  // two-corpus retrieval/linkage shape (cross-corpus near-dup audit,
  // retrieval-augmented labeling, train-vs-eval semantic contamination).
  // The single-query-set paths above all broadcast the query side; a kNN
  // join's defining constraint is that NEITHER side fits in a broadcast.

  /** Exact kNN join. Declared as a plain cross join + cosine + bounded
    * TopK and left to Catalyst: below the broadcast threshold the small
    * side ships (BroadcastNestedLoopJoin); above it Spark's
    * CartesianProduct pairs partition BLOCKS across the cluster — the
    * distributed block-nested-loop plan, which is the only exact shape
    * (top-k-by-similarity inherently inspects every pair; "exact at
    * 100 TB" means paying N×M flops spread over executors, or switching
    * to [[knnJoinIvf]]). The bounded TopK agg keeps the shuffle at
    * k rows per query per partition regardless of |right|. */
  def knnJoinExact(left: DataFrame, right: DataFrame, k: Int): DataFrame = {
    val l = left.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val r = right.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    rankTopK(
      l.crossJoin(r).select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("n_emb")).as("cos")), k)
  }

  /** Approximate kNN join — the both-sides-large scale path. Both tables
    * quantize against the SAME coarse centroids (broadcast, tiny): the
    * right side becomes inverted lists keyed by cell, the left side
    * probes its nProbe nearest cells, and candidates come from ONE
    * shuffle join on cluster_id — each side is hash-partitioned by cell
    * exactly once, no broadcast of either corpus, no cartesian. Per-cell
    * work is |left probes in cell| × |list in cell|, bounded by the
    * quantizer's cell-size cap (pick k per the semanticDedupAutoK rule);
    * a residually hot cell is AQE skew-join territory, same as any
    * shuffle join. Probe rows carry q_emb through the shuffle (embedding
    * bytes × nProbe) — the standard IVF trade of replication for not
    * re-joining the query table afterwards. */
  def knnJoinIvf(left: DataFrame, right: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int = 2): DataFrame = {
    val lists = withCluster(right, centroids)
      .select(col("cluster_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"))
    val qProbes = probes(left, centroids, nProbe)
    val scored = lists.join(qProbes, Seq("cluster_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("n_emb")).as("cos"))
    rankTopK(scored, k)
  }

  // ── Product quantization (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011) — the memory-compression tier
  // of the ANN stack: IVF prunes WHICH vectors are scanned, PQ shrinks
  // WHAT is stored/scanned. A d-dim float32 vector (d×4 bytes) becomes m
  // sub-space code ids (m bytes at k≤256) — 32× for d=64, m=8 — and
  // queries score codes via per-query distance TABLES (ADC), never
  // touching raw vectors.

  /** Slice each embedding into m contiguous d/m-dim subvectors:
    * (vec_id, subspace 0..m-1, sub: array<double>). */
  private def subvectors(df: DataFrame, m: Int, subDim: Int): DataFrame =
    df.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), i -> slice(embedding, i * $subDim + 1, $subDim))")))
      .select(col("vec_id"), col("pos").cast("int").as("subspace"),
        expr("transform(col, x -> cast(x as double))").as("sub"))

  /** Train PQ codebooks: k centroids in EACH of the m subspaces, all
    * subspaces through ONE keyed Lloyd loop — the grouping key is
    * (subspace, cluster), so adding subspaces adds groups to the same
    * shuffles, not Spark jobs (m sequential trainings would pay m× the
    * job/scan overhead for identical math). Deterministic init (the k
    * lowest vec_ids' subvectors per subspace) and a hash-sampled training
    * set, exactly like [[trainCentroids]] — the codebooks only need the
    * density shape of each subspace. Returns (subspace, cluster_id,
    * centroid: array<double>).
    *
    * Dimension d must split evenly (d % m == 0) — PQ's contiguous-slice
    * layout; probed from the first row, one O(1) driver action. */
  def trainPqCodebooks(corpus: DataFrame, m: Int = 8, k: Int = 16,
      iters: Int = 2, sampleRate: Double = 0.5): DataFrame = {
    require(m > 0 && k > 1, s"need m > 0 subspaces and k > 1 codes, got m=$m k=$k")
    require(sampleRate > 0 && sampleRate <= 1.0,
      s"sampleRate must be in (0, 1], got $sampleRate")
    val d = corpus.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"dim $d must split evenly into m=$m subspaces")
    val subDim = d / m
    val sampled =
      if (sampleRate >= 1.0) corpus
      else {
        val s = Sampling.hashSample(corpus, col("vec_id"), sampleRate)
        if (s.count() >= 4L * k) s else corpus
      }
    // one materialized subvector table feeds every Lloyd iteration
    val sub = subvectors(sampled, m, subDim).localCheckpoint(true)
    // deterministic init: the k lowest vec_ids' subvectors, cluster ids
    // 1..k in vec_id order. Codebooks live DRIVER-SIDE across the loop
    // (m×k×subDim doubles — bounded metadata): each Lloyd iteration is
    // then ONE job — a per-row nearest-code projection over the pinned
    // subvector table (plan-baked kernel) feeding the mean aggregation,
    // collected. The pre-r18 shape paid a (vec, subspace) assignment
    // shuffle + a join-back + a localCheckpoint per iteration.
    val spark = corpus.sparkSession
    val initIds = sampled.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"))
    var cb: Seq[(Int, Long, Seq[Double])] = sub
      .join(broadcast(initIds), "vec_id")
      .select(col("subspace"), col("vec_id"), col("sub"))
      .collect()
      .groupBy(_.getInt(0)).toSeq
      .flatMap { case (sp, rows) =>
        rows.sortBy(_.getLong(1)).zipWithIndex.map { case (r, i) =>
          (sp, (i + 1).toLong, r.getSeq[Double](2).toIndexedSeq) }
      }
      .sortBy(t => (t._1, t._2)).toIndexedSeq
    for (_ <- 1 to iters) {
      val baked = cb
      val means = sub
        .select(col("subspace"),
          nearestCodeCol(col("sub"), col("subspace"), baked, k, subDim)
            .as("cluster_id"),
          posexplode(col("sub")))
        .groupBy(col("subspace"), col("cluster_id"), col("pos"))
        .agg(avg(col("col")).as("mean"))
        .groupBy(col("subspace"), col("cluster_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mean")))),
          s => s.getField("mean")).as("new_centroid"))
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1)),
          r.getSeq[Double](2).toIndexedSeq)).toMap
      // a cell that won no members keeps its previous centroid (the
      // standard empty-cell rule) — without this the codebook would
      // shrink below k (duplicate init points collapse; later iterations
      // can re-populate the retained cell)
      cb = cb.map { case (sp, cid, cent) =>
        (sp, cid, means.getOrElse((sp, cid), cent)) }
    }
    import spark.implicits._
    cb.toDF("subspace", "cluster_id", "centroid")
  }

  /** Collect an (subspace, cluster_id, centroid) codebook table —
    * m×k×subDim doubles of bounded driver metadata — sorted
    * subspace-major for the plan-baked kernels. LocalRelation-backed
    * codebooks (trainPqCodebooks output) collect without a job. */
  private def codebookRows(codebooks: DataFrame)
      : (Seq[(Int, Long, Seq[Double])], Int, Int) = {
    val rows = codebooks.select(col("subspace").cast("int"),
        col("cluster_id").cast("long"),
        transform(col("centroid"), _.cast("double")).as("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toIndexedSeq))
      .sortBy(t => (t._1, t._2)).toIndexedSeq
    require(rows.nonEmpty, "codebookRows: the codebook frame is EMPTY")
    // the PqTable kernels index subspace-major: a NON-UNIFORM codebook
    // (3 entries in one subspace, 1 in another — total still divisible)
    // or non-contiguous subspace ids would silently read the wrong
    // centroids, so the shape is asserted, not assumed
    val bySubspace = rows.groupBy(_._1)
    val sizes = bySubspace.values.map(_.length).toSet
    require(sizes.size == 1,
      s"codebookRows: per-subspace entry counts differ " +
        s"(${bySubspace.view.mapValues(_.length).toMap}) — the codebook " +
        "is not uniform and subspace-major indexing would misread it")
    val m = bySubspace.size
    require(bySubspace.keySet == (0 until m).toSet,
      s"codebookRows: subspace ids ${bySubspace.keySet.toSeq.sorted} are " +
        s"not contiguous 0 until $m")
    require(rows.length.toLong * rows.head._3.length <= PlanLiteralBudget,
      s"codebookRows: ${rows.length} entries x ${rows.head._3.length} dims " +
        s"exceeds the plan-literal budget ($PlanLiteralBudget doubles) — " +
        "a codebook this large must not be baked into task binaries; " +
        "shrink m x k or raise the budget deliberately")
    (rows, rows.length / m, rows.head._3.length)
  }

  /** Per-row nearest-code kernel over an already-sliced subvector (the
    * Lloyd-loop assignment; [[graft.expressions.NearestCode]]). */
  private def nearestCodeCol(sub: org.apache.spark.sql.Column,
      subspace: org.apache.spark.sql.Column,
      cb: Seq[(Int, Long, Seq[Double])], k: Int, subDim: Int)
      : org.apache.spark.sql.Column =
    call_function("graft_nearest_code", sub, subspace,
      typedlit(cb.map(_._2)), typedlit(cb.flatMap(_._3)), lit(k), lit(subDim))

  /** Encode the corpus: one row per vector, `codes[i]` = nearest codebook
    * entry in subspace i. This IS the compressed index artifact — m
    * small ints per vector (persist it; raw embeddings are only needed
    * again for an exact re-rank tier). Since r18 the whole encode is ONE
    * per-row kernel ([[graft.expressions.PqCodes]] — slice + argmin per
    * subspace, identical arithmetic): the posexplode + assignment
    * shuffle + repack aggregation it replaces shuffled the corpus twice
    * for the same codes. */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame): DataFrame = {
    val (cb, k, subDim) = codebookRows(codebooks)
    corpus.select(col("vec_id"),
      call_function("graft_pq_codes", col("embedding"),
        typedlit(cb.map(_._2)), typedlit(cb.flatMap(_._3)),
        lit(k), lit(subDim)).as("codes"))
  }

  /** [[pqEncode]] + coarse cluster id in the same projection — the
    * composed-index row (vec_id, codes, cluster_id) without the
    * encode-vs-assign self-join. */
  private def encodeWithCluster(corpus: DataFrame, codebooks: DataFrame,
      centroids: DataFrame): DataFrame = {
    val (cb, k, subDim) = codebookRows(codebooks)
    corpus.select(col("vec_id"),
      call_function("graft_pq_codes", col("embedding"),
        typedlit(cb.map(_._2)), typedlit(cb.flatMap(_._3)),
        lit(k), lit(subDim)).as("codes"),
      nearestCol(col("embedding"), centroidRows(centroids)).as("cluster_id"))
  }

  /** ADC (asymmetric distance computation) top-k: each query builds a
    * distance TABLE d2(query, subspace, code) against the codebooks —
    * |queries| × m × k tiny rows, broadcast — and every encoded vector's
    * approximate distance is the sum of m table lookups on its codes.
    * The corpus side touches only the m-byte codes: one posexplode, one
    * broadcast-hash join, one (query, vec) sum, then the bounded-TopK
    * ranking (map-side partial top-k, same as every other ANN tier).
    * Returns (query_id, neighbor_id, d2a, rank) — d2a ascending = most
    * similar first; ties break on neighbor_id. */
  def pqTopK(codes: DataFrame, queries: DataFrame, k: Int,
      codebooks: DataFrame): DataFrame = {
    val (cbRows, _, subDim) = codebookRows(codebooks)
    val m = cbRows.map(_._1).distinct.length
    val dt = subvectors(
        queries.select(col("vec_id"), col("embedding")), m, subDim)
      .withColumnRenamed("vec_id", "query_id")
      .join(codebooks, Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("cluster_id").cast("int").as("code"),
        l2sq(col("sub"), col("centroid")).as("d2"))
    val scored = codes
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("pos").cast("int").as("subspace"),
        col("col").as("code"))
      .join(broadcast(dt), Seq("subspace", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2")).as("d2a"))
    rankTopK(
      scored.select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-col("d2a")).as("cos")), k)
      .select(col("query_id"), col("neighbor_id"), (-col("cos")).as("d2a"),
        col("rank"))
  }

  /** The production PQ pipeline: ADC over the compressed codes SHORTLISTS
    * `shortlist` candidates per query, then ONLY those rows join back to
    * raw embeddings for an exact-cosine re-rank to top-k. The corpus scan
    * touches m-byte codes; raw vectors are fetched for shortlist × queries
    * rows — the two-tier trade that makes billion-vector search fit in
    * memory (quantization error moves recall from 1.0 to the shortlist's
    * coverage, never into the reported distances, which are exact).
    * Returns (query_id, neighbor_id, cos, rank) — same shape as
    * [[bruteForceTopK]]/[[ivfTopK]]. */
  def pqTopKReranked(corpus: DataFrame, codes: DataFrame, queries: DataFrame,
      k: Int, codebooks: DataFrame, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    rerankExact(corpus, queries,
      pqTopK(codes, queries, shortlist, codebooks)
        .select(col("query_id"), col("neighbor_id")), k)
  }

  /** Exact-cosine re-rank of a (query_id, neighbor_id) candidate set:
    * only the shortlist rows fetch raw embeddings; the query side is a
    * broadcast. Shared by every two-tier search path. */
  private def rerankExact(corpus: DataFrame, queries: DataFrame,
      cand: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val scored = cand
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding")),
        "neighbor_id")
      .join(q, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    rankTopK(scored, k)
  }

  // ── Composed IVF-PQ — the billion-scale layout (Jégou et al. 2011 §V:
  // "IVFADC"): IVF prunes WHICH cells are scanned, PQ shrinks WHAT the
  // cells store. The at-rest index holds m-byte codes partitioned by
  // coarse cell — a probe of p of k cells deserializes p/k of the files,
  // each ~32× smaller than the raw-vector IVF layout — and the search is
  // probe → ADC over probed codes → exact-cosine re-rank of a shortlist.
  // Codes quantize the raw vector, not the cell residual (the IVF-Flat-PQ
  // variant): one pqEncode serves every cell, appends stay
  // assignment-only, and the re-rank tier restores distance fidelity —
  // the approximation only costs recall, which the gate floors.

  /** Persist the composed index: (vec_id, codes) partitioned by IVF cell.
    * One corpus pass for assignment + one for encoding; the two join on
    * vec_id before the partitioned write. */
  def buildIvfPqIndex(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, path: String): Unit =
    encodeWithCluster(corpus, codebooks, centroids)
      .write.partitionBy("cluster_id").mode("overwrite").parquet(path)

  /** Append a vector delta to a persisted IVF-PQ index WITHOUT a rebuild
    * (closing the gap the r13 verdict named: the raw-vector IVF index had
    * [[appendIvfIndex]], but the 32×-smaller composed index's only ingest
    * answer was a full rebuild). Both quantizers stay FROZEN: the delta is
    * PQ-encoded against the existing codebooks and coarse-assigned against
    * the existing centroids — one pass over the DELTA only — and the new
    * code rows land as additional files inside their cell directories.
    * At-rest base files are never read or rewritten (byte-identical, the
    * sim_ivfpq_append gate pins path+length). Because both encode and
    * assign are per-row against frozen quantizers, search over the
    * appended index equals a one-shot build over base∪delta with the same
    * quantizers; recall drifts only as the data outgrows the frozen
    * quantizers — [[rebuildIvfIndex]]'s retrain contract, on the
    * maintenance schedule, applies unchanged. */
  def appendIvfPqIndex(delta: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, path: String): Unit =
    encodeWithCluster(delta, codebooks, centroids)
      .write.partitionBy("cluster_id").mode("append").parquet(path)

  /** Search a persisted IVF-PQ index: probe nProbe cells per query
    * (partition-pruning IN filter — only probed cell directories are
    * read, and they contain codes, not vectors), ADC-score codes against
    * each probing query's broadcast distance table, shortlist, then
    * exact-cosine re-rank from `corpus` raw embeddings. Returns
    * (query_id, neighbor_id, cos, rank). */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, k: Int, centroids: DataFrame,
      codebooks: DataFrame, nProbe: Int = 2, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val qProbes = probes(queries, centroids, nProbe)
    val probedClusters = qProbes.select(col("cluster_id"))
      .distinct().collect().map(_.getLong(0))
    val cells = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probedClusters.toIndexedSeq: _*))
    rerankExact(corpus, queries,
      adcShortlist(cells, qProbes, codebooks, shortlist), k)
  }

  /** In-memory twin of [[ivfPqTopKIndexed]] (no at-rest index): assign
    * cells on the fly, restrict ADC to each query's probed cells. The
    * parity spec pins indexed == in-memory row-for-row. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, codebooks: DataFrame, nProbe: Int = 2,
      shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val cells = encodeWithCluster(corpus, codebooks, centroids)
    val qProbes = probes(queries, centroids, nProbe)
    rerankExact(corpus, queries,
      adcShortlist(cells, qProbes, codebooks, shortlist), k)
  }

  /** ADC restricted to probed cells: candidates come from ONE broadcast
    * join of the cell-pruned code rows against (query, cell) probe pairs,
    * then each candidate's approximate distance is the sum of m lookups
    * in that query's distance table (joined on query_id + subspace +
    * code, so a code row is only ever scored against queries that probed
    * its cell). Emits the per-query `shortlist` best (query_id,
    * neighbor_id) pairs via the bounded TopK aggregation. */
  private def adcShortlist(cells: DataFrame, qProbes: DataFrame,
      codebooks: DataFrame, shortlist: Int): DataFrame = {
    val (cbRows, _, subDim) = codebookRows(codebooks)
    val m = cbRows.map(_._1).distinct.length
    val dt = subvectors(
        qProbes.select(col("query_id").as("vec_id"), col("q_emb").as("embedding"))
          .distinct(), m, subDim)
      .withColumnRenamed("vec_id", "query_id")
      .join(codebooks, Seq("subspace"))
      .select(col("query_id"), col("subspace"),
        col("cluster_id").cast("int").as("code"),
        l2sq(col("sub"), col("centroid")).as("d2"))
    val scored = cells
      .join(broadcast(qProbes.select(col("query_id"), col("cluster_id"))),
        Seq("cluster_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), posexplode(col("codes")))
      .select(col("query_id"), col("vec_id"),
        col("pos").cast("int").as("subspace"), col("col").as("code"))
      .join(broadcast(dt), Seq("query_id", "subspace", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2")).as("d2a"))
    rankTopK(
      scored.select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-col("d2a")).as("cos")), shortlist)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Retrain + rebuild — the compaction analogue for a frozen-quantizer
    * index ([[appendIvfIndex]]'s documented maintenance contract): after
    * enough appends drift the data away from the frozen centroids, read
    * the index back (it stores raw vectors), retrain on a hash sample,
    * and rewrite under the new cell layout. Runs on the maintenance
    * schedule, not the ingest path; search over the rebuilt index with
    * the new centroids must equal a one-shot build over the same rows
    * (the sim_ivf_rebuild gate pins this, cosines included). Returns the
    * retrained centroids (the caller persists them alongside the index). */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      oldPath: String, newPath: String, k: Int, iters: Int = 2,
      sampleRate: Double = 0.5): DataFrame = {
    val corpus = spark.read.parquet(oldPath).drop("cluster_id")
      .localCheckpoint(true) // one read: training sample + rewrite source
    val centroids = trainCentroids(corpus, k, iters, sampleRate)
      .localCheckpoint(true) // pin before the rewrite re-reads it
    buildIvfIndex(corpus, centroids, newPath)
    centroids
  }
}
