package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions for the headline queries: the plan IS
  * the product at 100 TB, so regressions in join strategy, pushdown or
  * aggregation mode are test failures, not perf mysteries.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("a27_frequent_pairs: equi-join, no cartesian; at scale (broadcast off) " +
      "the identical self-join sides collapse to ReusedExchange") {
    val p = plan("a27_frequent_pairs")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = SparkEntry.queries("a27_frequent_pairs")(spark, dir)
      df.collect() // AQE inserts exchange reuse at runtime — run, then read
      val big = df.queryExecution.executedPlan.toString
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"), big.take(800))
      assert(big.contains("ReusedExchange"), big.take(2000))
    }
  }

  test("a28_gapfill_locf: the spine is generated, not scanned — one Generate, " +
      "no third events scan") {
    val p = plan("a28_gapfill_locf")
    assert(p.contains("Generate"), p.take(800)) // explode(sequence(..))
    // events is read for bounds + daily agg only
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("events"))
    assert(scans <= 2, s"expected <=2 events scans, got $scans\n$p")
  }

  test("q1_agg: column pruning reaches the parquet scan") {
    val p = plan("q1_agg")
    // only the 4 needed lineitem columns are read
    assert(p.contains("ReadSchema"), p.take(500))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"))
  }

  test("j3_dim_enrich: dims broadcast, fact side never shuffles before join") {
    val p = plan("j3_dim_enrich")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("a4_province_stats: both dims broadcast (two BHJs)") {
    val p = plan("a4_province_stats")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("q3/q5: multi-way joins stay equi-keyed — no cartesian anywhere, " +
    "and both date filters are pushed to the scans") {
    val p3 = plan("q3_order_revenue")
    assert(!p3.contains("CartesianProduct") && !p3.contains("BroadcastNestedLoopJoin"),
      p3.take(800))
    // the o_orderdate / l_shipdate predicates must reach the parquet scans
    assert(p3.contains("PushedFilters") &&
      p3.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("o_orderdate")))
    assert(p3.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("l_shipdate")))
    val p5 = plan("q5_region_volume")
    assert(!p5.contains("CartesianProduct") && !p5.contains("BroadcastNestedLoopJoin"),
      p5.take(800))
    // the O(25)-row nation⨝region side is broadcast
    assert(p5.contains("BroadcastHashJoin"), p5.take(800))
    // Q4's EXISTS compiles to a real semi join (order rows emitted at most
    // once, no distinct pass) with the date filter at the orders scan
    val p4 = plan("q4_priority_semi")
    assert(p4.contains("LeftSemi"), p4.take(800))
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"))
    assert(p4.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")), p4.take(800))
    // ... and NOT EXISTS to a real anti join, same discipline
    val p6 = plan("q6_priority_anti")
    assert(p6.contains("LeftAnti"), p6.take(800))
    assert(!p6.contains("CartesianProduct") && !p6.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_span_frac: pure hash-agg + key join — no pair enumeration, " +
    "no cartesian") {
    val p = plan("dedup_span_frac")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      p.take(800))
  }

  test("pipe_split_leakage: the labels side broadcasts — the corpus is " +
    "never shuffled for split assignment") {
    val p = plan("pipe_split_leakage")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("sim_topk_pq: codebook/distance-table joins broadcast; the code " +
    "scan never cartesians") {
    val p = plan("sim_topk_pq")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("p5_config_prune: the config route is a broadcast join — the " +
    "envelope stream never shuffles for routing") {
    val p = plan("p5_config_prune")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(800))
  }

  test("decontaminateBloom: the corpus side is a pure scan-side predicate " +
    "— zero Exchange, zero Join (the sketch rides the task binary)") {
    val docs = Tables.documents(spark, dir)
    val clean = graft.operators.Pretrain.decontaminateBloom(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), shingleLen = 8)
    val p = clean.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1200))
    assert(!p.toLowerCase.contains("join"), p.take(1200))
  }

  test("knnJoinIvf: candidates come from an equi join on cluster_id — " +
    "neither corpus broadcasts, no cartesian, even with broadcast off") {
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val emb = Tables.embeddings(spark, dir)
      val centroids = graft.operators.Similarity
        .trainCentroids(emb, k = 4, iters = 1).localCheckpoint(true)
      val p = graft.operators.Similarity
        .knnJoinIvf(emb.filter(col("vec_id") % 10 === 3),
          emb.filter(col("vec_id") % 10 =!= 3), k = 3, centroids, nProbe = 2)
        .queryExecution.executedPlan.toString
      // centroid assignment legitimately broadcast-NLs the tiny centroid
      // set; the CANDIDATE join must be a shuffle equi-join on cluster_id
      assert(!p.contains("CartesianProduct"), p.take(1200))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(1200))
    }
  }

  test("j1_interval_join: equi key drives a real join, band is residual " +
    "(no nested-loop cartesian)") {
    val p = plan("j1_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
  }

  test("a1_product_stats: partial (map-side) aggregation before the exchange") {
    val p = plan("a1_product_stats")
    // two HashAggregate levels around one Exchange = partial+final
    val aggs = "HashAggregate".r.findAllIn(p).size + "ObjectHashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, p.take(800))
    assert(p.contains("Exchange"))
  }

  test("s6_dim_lookup: point-range predicate pushed to the parquet scan") {
    val p = plan("s6_dim_lookup")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual") || pushed.contains("c_custkey"),
      pushed)
  }

  test("dedup_exact: single shuffle (groupBy hash), no join") {
    val p = plan("dedup_exact")
    assert(!p.contains("Join"), p.take(800))
    assert("Exchange".r.findAllIn(p).size <= 2) // agg exchange + AQE read
  }

  test("sim_topk_brute: query side broadcast — corpus never shuffles for the join") {
    val p = plan("sim_topk_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("j6_asof_join: union+window — NO join operator, one key exchange") {
    val p = plan("j6_asof_join")
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("Window"))
  }

  test("sample_stratified: pure scan-side filter — no shuffle, no join") {
    val p = plan("sample_stratified")
    assert(!p.contains("Join"), p.take(800))
    // only the output sort may exchange; the filter itself is narrow
    assert(!p.linesIterator.takeWhile(!_.contains("Sort")).exists(_.contains("Exchange")),
      p.take(1200))
  }

  test("a6_topn_per_group: dims broadcast; rank window is partitioned (no " +
    "single-partition global window)") {
    val p = plan("a6_topn_per_group")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SinglePartition") ||
      !p.linesIterator.exists(l => l.contains("Window") && l.contains("SinglePartition")),
      p.take(1200))
  }

  test("a7_rollup: rollup stays one Expand + one aggregation exchange") {
    val p = plan("a7_rollup")
    assert(p.contains("Expand"), p.take(800))
  }

  test("chunk: pure scan-side expression — zero Exchange, zero Join") {
    val p = graft.operators.Chunking
      .chunk(Tables.documents(spark, dir), window = 32, stride = 16)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("packSequences: exactly one exchange (the per-shard window)") {
    val p = graft.operators.Chunking
      .packSequences(Tables.documents(spark, dir), budget = 256, shards = 8)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size === 1, p.take(1500))
    assert(p.contains("Window"))
    // partitioned by shard, never a single-partition global window
    assert(!p.linesIterator.exists(l => l.contains("Window") && l.contains("SinglePartition")),
      p.take(1500))
  }

  test("decontaminate: contaminated ids broadcast below the cap (anti-join " +
    "side is the materialized sliver, not a shingle re-scan), shuffle above") {
    val docs = Tables.documents(spark, dir)
    val out = graft.operators.Pretrain
      .decontaminate(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), shingleLen = 8)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // the anti side reads the checkpointed sliver, not the shingle scan
    assert(p.contains("Scan ExistingRDD"), p.take(1500))
    // above the cap the hint is withheld: no broadcast anti-join
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val tiered = graft.operators.Pretrain
        .decontaminate(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0), shingleLen = 8,
          broadcastMaxIds = 0L)
      val p2 = tiered.queryExecution.executedPlan.toString
      assert(!p2.contains("BroadcastHashJoin"), p2.take(1500))
      assert(tiered.select("doc_id").collect().map(_.getLong(0)).sorted
        === out.select("doc_id").collect().map(_.getLong(0)).sorted)
    }
  }

  test("dedup_incremental: equi-joins only — the index probe and both " +
    "verify joins are keyed, never cartesian") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    // candidate distinct is a real pre-verify dedup (one aggregate on the
    // pair keys) so a hot (band,key) bucket can't multiply verify work
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      p.take(1500))
    // each side shingles once: history in its shingle-set projection,
    // incoming below the band explode
    assert("graft_shingles".r.findAllIn(p).size <= 2, p)
  }

  test("k7_scd2_history: change-detect lag and interval lead share ONE " +
    "exchange (same window partitioning, no join)") {
    val p = plan("k7_scd2_history")
    assert(!p.contains("Join"), p.take(1200))
    // the two Window ops + the output sort: at most 2 exchanges total
    // (key window + global orderBy), never 3
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(1500))
  }

  test("q6f_filter_agg: predicates push into the parquet scan; no exchange beyond the one-row merge") {
    val p = plan("q6f_filter_agg")
    val scan = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    // all three predicate columns reach the scan as pushed filters
    assert(scan.contains("l_shipdate") && scan.contains("l_discount") &&
      scan.contains("l_quantity"), scan)
    // global agg = partial per partition + SinglePartition merge — no
    // hash exchange at all
    assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
    // only the needed columns are read
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_orderkey"), read)
  }

  test("q7_nation_volume: both nation legs broadcast; no cartesian") {
    val p = plan("q7_nation_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q8_market_share: nation/region legs broadcast; no cartesian; " +
    "part filter prunes before the fact join") {
    val p = plan("q8_market_share")
    // nSupp + nCust + region are explicit broadcasts (3 BHJs minimum;
    // AQE may promote part/supplier too)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the p_type filter reaches the part scan (pushed, not post-join)
    val partScan = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("p_type"))
    assert(partScan.isDefined, p.take(2000))
  }

  test("j8b_salted_hot: the hot leg joins on (key, salt); the cold leg " +
    "joins unsalted — both legs union") {
    val p = plan("j8b_salted_hot")
    assert(p.contains("Union"), p.take(1500))
    assert(p.contains("__salt"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("a10_cube: grouping sets expand map-side — one shuffle, partial agg before it") {
    val p = plan("a10_cube")
    assert(p.contains("Expand"), p.take(1200))
    // partial HashAggregate below the exchange, final above — the
    // map-side-combine shape that keeps a 100 TB cube to one shuffle
    // (the sort for the final ORDER BY is a separate range exchange)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(1500))
  }

  test("sample_fixed_k: top-k is TakeOrdered, not a global sort") {
    val p = plan("sample_fixed_k")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("Exchange rangepartitioning"), p.take(1200))
  }

  test("sample_cap_per_source: rn<=k runs as WindowGroupLimit (partial " +
    "top-k per partition before the exchange) and the selection is " +
    "partition-independent") {
    val p = plan("sample_cap_per_source")
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    // deterministic: repartitioning the input must not change the capped set
    import graft.operators.Sampling
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val a = Sampling.capPerGroup(docs, col("source"), col("doc_id"), 10)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    val b = Sampling.capPerGroup(docs.repartition(7), col("source"),
        col("doc_id"), 10)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    assert(a === b)
    assert(a.length === 200) // 20 sources x 10
  }

  test("q10_returned_customers: bounded ORDER BY+LIMIT runs as " +
    "TakeOrdered, never a global sort") {
    val p = plan("q10_returned_customers")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q14_promo_share: the ship-date month prunes the fact scan before " +
    "the join") {
    val p = plan("q14_promo_share")
    val scan = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("l_shipdate"))
    assert(scan.isDefined, p.take(2000))
  }

  test("q13_order_dist: customers survive as LEFT OUTER; no cartesian") {
    val p = plan("q13_order_dist")
    assert(p.contains("LeftOuter"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("q18_big_orders: the HAVING subquery prunes via a broadcast semi " +
    "join BEFORE the wide joins; top-100 is TakeOrdered") {
    val p = plan("q18_big_orders")
    // the sum(l_quantity)>300 survivor list joins orders as LeftSemi and
    // is broadcast (it is tiny by construction)
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q21_wait_suppliers: EXISTS/NOT EXISTS plan as semi/anti hash-family " +
    "joins on the order key — never cartesian") {
    val p = plan("q21_wait_suppliers")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q22_no_urgent: the scalar aggregate is a ONE-ROW broadcast " +
    "(BroadcastNestedLoopJoin is exactly the scalar-subquery plan here); " +
    "NOT EXISTS is a real anti join") {
    val p = plan("q22_no_urgent")
    // exactly one BNLJ — the deliberate one-row scalar cross join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("a13_rank_suite: all four rank functions fuse into ONE Window operator") {
    val p = plan("a13_rank_suite")
    // same window spec → Spark computes rank/dense_rank/percent_rank/ntile
    // in a single per-group sort pass; a second Window op would mean a
    // redundant sort (the final ORDER BY is a separate range exchange)
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.size === 1, winLines.map(_.trim.take(120)).mkString("\n"))
  }

  test("keepCanonical: dropped set broadcasts; corpus side never shuffles") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val labels = Seq((2L, 1L), (3L, 1L), (5L, 5L)).toDF("doc_id", "cluster_id")
    val p = graft.operators.Dedup
      .keepCanonical(Tables.documents(spark, dir), labels)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q9_profit: all three dims broadcast — the fact shuffles exactly " +
    "once, for the group-by") {
    val p = plan("q9_profit")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("q11_important_parts: the global aggregate is a ONE-ROW broadcast " +
    "(the scalar-subquery plan) over the grouped parts") {
    val p = plan("q11_important_parts")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q12_priority_lines: both CASE sums compute in ONE aggregate pass " +
    "— no twin scans; no cartesian") {
    val p = plan("q12_priority_lines")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    // one scan of orders, one of lineitem — conditional agg never re-scans
    assert(p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("orders")) == 1, p.take(2500))
  }

  test("q15_top_revenue_supplier: the MAX over the revenue view is a " +
    "one-row broadcast; Catalyst folds the equality filter INTO the " +
    "cross join (hash join keyed on the exact decimal)") {
    val p = plan("q15_top_revenue_supplier")
    // the = max filter over crossJoin(broadcast(mx)) plans as an
    // equality-keyed BroadcastHashJoin (Cross build) — strictly better
    // than the BNLJ scalar-subquery shape; either way, never cartesian
    assert(p.linesIterator.exists(l => l.contains("Broadcast") &&
      (l.contains("total_rev") || l.contains("NestedLoop"))), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q16_supplier_cnt: NOT IN plans as a broadcast LEFT ANTI; the " +
    "p_size IN list pushes to the part scan") {
    val p = plan("q16_supplier_cnt")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val partScan = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("p_size"))
    assert(partScan.isDefined, p.take(2500))
  }

  test("q17_small_qty_revenue: the per-part threshold joins broadcast — " +
    "the decorrelated subquery never re-scans per row") {
    val p = plan("q17_small_qty_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      p.take(2000))
  }

  test("q20_dominant_suppliers: the qualifying-supplier list semi-joins " +
    "broadcast — the supplier table never shuffles") {
    val p = plan("q20_dominant_suppliers")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("semanticDedup: per-cell pairing is an equi join on cluster_id — " +
    "never a cartesian; only the k-centroid assign is nested-loop") {
    import graft.operators.{Dedup, Similarity}
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.trainCentroids(emb, k = 4, iters = 1)
    val p = Dedup.semanticDedup(emb, cents, tau = 0.4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the pair stage is a real keyed join (hash family or SMJ), not the
    // broadcast nested loop that assign's k-row centroid cross uses
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("bm25TopK: the query-vocab probe BROADCASTS into the postings (an " +
    "inverted-index probe, not a corpus shuffle); no cartesian beyond the " +
    "one-row stats broadcast") {
    import graft.operators.TfIdf
    val docs = Tables.documents(spark, dir)
    val p = TfIdf.bm25TopK(
      docs.filter(col("doc_id") >= 3),
      docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text")),
      k = 5).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the (query term, df) probe is a broadcast hash join against TF
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the only nested-loop is the single-row corpus-stats broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("j15_lateral_topn: the correlated LATERAL decorrelates to a " +
    "window rank over ONE hash join — not a per-outer-row rescan") {
    val p = plan("j15_lateral_topn")
    assert(p.contains("Window"), p.take(1200))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("j14_temporal_join: equi key drives a hash join, the validity " +
    "interval is residual — no nested loop") {
    val p = plan("j14_temporal_join")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("a30_histogram: the bounds table broadcasts back — the fact never " +
    "shuffles for the join, and both aggs are partial+final") {
    val p = plan("a30_histogram")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(1200))
  }

  test("a33_welch_ttest: ONE aggregation pass — no join, no pivot; " +
    "exactly one data exchange") {
    val p = plan("a33_welch_ttest")
    assert(!p.contains("Join"), p.take(1200))
    // partial+final agg around one exchange (+ at most AQE artifacts)
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(1500))
  }

  test("a34_mutual_info: margins/total re-aggregate the cell table and " +
    "broadcast back — no second wide shuffle of the data, no cartesian " +
    "on anything data-sized") {
    val p = plan("a34_mutual_info")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("dq_skew_report: two-level aggregation — the hot key travels as a " +
    "count, never as rows; no join anywhere") {
    val p = plan("dq_skew_report")
    assert(!p.contains("Join"), p.take(1200))
  }
}
