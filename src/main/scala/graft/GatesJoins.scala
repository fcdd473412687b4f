package graft

import graft.functions.TimeFns._
import graft.functions.TextFns._
import graft.functions.VectorFns
import graft.multimodal.Multimodal
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-join techniques (salting, bloom pre-join, range/bucketed/
  * temporal/fuzzy/spatial joins, DPP, CBO ordering) and graph analytics.
  *
  * Gate registry family split out of SparkEntry (round 13, registry
  * hygiene); SparkEntry.queries/oracleSql union the six families.
  */
private[graft] object GatesJoins {
  import GateSupport._

  /** The join gates' answer: row count and revenue per order priority. */
  private def priorityRevenue(joined: DataFrame): DataFrame =
    joined.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("ct"),
        sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))

  /** The graph gates' bounded co-occurrence graph: lineitem's
    * (orderkey, partkey) mod 300 as canonical edges. */
  private def modGraph(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.canonicalEdges(
      Tables.lineitem(s, dir).select(
        pmod(col("l_orderkey"), lit(300L)).as("s"),
        pmod(col("l_partkey"), lit(300L)).as("d")),
      "s", "d")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── J8: salted equi-join — the targeted skew recipe as a direct gate.
    // The salt only changes DISTRIBUTION (hot l_orderkey spread over 8
    // reducers; orders replicated ×8), so the joined/aggregated result is
    // identical to the plain join the oracle runs — that identity IS the
    // correctness claim. SkewSpec pins that the physical join key actually
    // includes the salt and spreads the hot key.
    "j8_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      priorityRevenue(Joins.saltedJoin(li, ord, "l_orderkey", buckets = 8))
    }),


    // ── J8b: TARGETED hot-key salting — the 100 TB refinement of j8.
    // Only keys above a sampled frequency threshold are salted; the cold
    // tail joins unsalted, so the right side replicates ×buckets for the
    // hot slice only (JoinsSpec counts the salted legs). The testdata's
    // categorical columns are all uniform, so the fixture DERIVES a
    // skewed key from l_orderkey (key 0 carries ~60% of rows, keys 6-9
    // ~10% each); the 1%-of-rows sample threshold flags exactly key 0 at
    // every sf, so the gate exercises BOTH legs. The oracle is the plain
    // join: equality is the claim whatever the sampled hot set, exactly
    // as with j8.
    "j8b_salted_hot" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        when(pmod(col("l_orderkey"), lit(10L)) < 6, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(10L))).as("skew_k"),
        col("l_extendedprice"), col("l_tax"))
      val dim = li.groupBy(col("skew_k"))
        .agg(min(col("l_tax").cast("decimal(12,2)")).cast("double")
          .as("k_min_tax"))
      val thresh = math.max(1L, li.count() / 100L)
      Joins.saltedJoinTargeted(li.drop("l_tax"), dim, "skew_k", buckets = 8,
          sampleFraction = 0.05, hotMinSampleCount = thresh, maxHotKeys = 16)
        .groupBy(col("skew_k"))
        .agg(count(lit(1)).as("ct"),
          sum(col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double").as("revenue"),
          min(col("k_min_tax")).as("k_min_tax"))
        .orderBy(col("skew_k"))
    }),


    // ── J9: bloom-filter pre-join — the build side (urgent 1997 H1
    // orders, ~4% of orders) is selective, so ~96% of lineitem rows
    // cannot match; the bloom drops them BEFORE the join shuffle. False
    // positives are removed by the exact join, so the oracle is the
    // plain join — equality IS the claim (same contract as j8).
    "j9_bloom_join" -> ((s, dir) => {
      val build = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderpriority"))
      priorityRevenue(Joins.bloomPreFilteredJoin(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice")),
          build, "l_orderkey", "o_orderkey"))
    }),


    // ── J10: binned range join — point-in-interval containment with NO
    // equi key (j1/j2 carry their band on an equi key; this shape has
    // none, which naively forces BroadcastNestedLoop). Points are
    // lineitem prices in cents; ranges are 500-cent windows derived
    // from order totals (lo = total-cents mod 1e7 — width sized so the
    // sf0.1 candidate volume stresses the join without dominating the
    // bench). binWidth equals the range span, so each range covers ≤2
    // bins and the ranges side at most doubles; the plan is an ordinary
    // bin-key hash join (PlanSpec pins no nested-loop/cartesian). The
    // oracle is DuckDB's native inequality join — equality is the claim.
    "j10_range_join" -> ((s, dir) => {
      val pts = Tables.lineitem(s, dir).select(
        (col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("long").as("p"))
      val rng = Tables.orders(s, dir).select(
        col("o_orderkey").as("range_id"),
        pmod((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"),
          lit(10000000L)).as("lo"))
        .withColumn("hi", col("lo") + lit(500L))
      Joins.rangeJoinBinned(pts, rng, "p", "lo", "hi", binWidth = 500L)
        .groupBy(col("range_id"))
        .agg(count(lit(1)).as("ct"),
          sum(col("p")).cast("double").as("psum"))
        .orderBy(col("range_id"))
    }),


    // ── J11: bucketed co-located join — both sides written bucketBy(8)
    // on their join keys (one-off layout cost), then joined with ZERO
    // exchanges (PlanSpec pins no shuffle before the SortMergeJoin; the
    // merge hint keeps the broadcast path from hiding the claim). This
    // is SCALE.md's "pre-partitioned inputs skip the exchange" made
    // runnable: at 100 TB the fact table shuffles once at ingest, never
    // per query. Result materialized (localCheckpoint) so the throwaway
    // tables + files can be swept in finally. Oracle: the plain join —
    // layout must not change the answer.
    "j11_bucketed_join" -> ((s, dir) => withScratch("j11_bucketed_join") { root =>
      val (ltab, rtab) = (s"${scratchName(root)}_li", s"${scratchName(root)}_ord")
      val (lpath, rpath) = (s"$root/li", s"$root/ord")
      try {
        graft.operators.Bucketing.writeBucketed(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice")),
          ltab, lpath, "l_orderkey", numBuckets = 8)
        graft.operators.Bucketing.writeBucketed(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
          rtab, rpath, "o_orderkey", numBuckets = 8)
        priorityRevenue(graft.operators.Bucketing.bucketedJoin(s, ltab, rtab,
            "l_orderkey", "o_orderkey"))
          .localCheckpoint(true) // read the tables before they drop
      } finally {
        graft.operators.Bucketing.drop(s, ltab)
        graft.operators.Bucketing.drop(s, rtab)
      }
    }),


    // ── J13: null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the
    // dirty-dimension reality: keys go null (unparsed, unknown) and a
    // plain equi-join silently DROPS those rows, while `<=>` matches
    // null-to-null as one more key value. Still a hash join (null is
    // hashable under null-safe equality — PlanSpec-class claim: no
    // nested loop); the null bucket is ordinary join skew if nulls
    // dominate (then: filter-split the null keys, union back — the
    // salting family). Both sides derive a sparse nullable key from
    // orders/customer so the null×null arm carries real volume.
    "j13_nullsafe_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        when(col("o_custkey") % 49 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey") % 1000).as("k"),
        col("o_totalprice"))
      val c = Tables.customer(s, dir).select(
        when(col("c_custkey") % 25 === 0, lit(null).cast("long"))
          .otherwise(col("c_custkey") % 1000).as("k"),
        col("c_acctbal"))
      o.join(c, o("k") <=> c("k"))
        .groupBy(coalesce(o("k").cast("string"), lit("NULLKEY")).as("k"))
        .agg(count(lit(1)).as("pairs"),
          sum(dec("o_totalprice")).cast("double").as("price_sum"))
        .orderBy(col("k"))
    }),


    // ── J15: LATERAL correlated subquery (top-N per outer row in SQL) —
    // the per-row-subquery surface Catalyst decorrelates into a window
    // rank under the hood (DecorrelateInnerQuery; q2 does the rewrite by
    // hand, this gate hands the ENGINE the correlated form). Output is
    // the top-2 price SUM per order, which depends only on the top-2
    // price multiset — ties in price cannot change it, so no synthetic
    // tie-break column is needed.
    "j15_lateral_topn" -> ((s, dir) =>
      s.sql(s"""SELECT o.o_orderkey,
        |  CAST(SUM(CAST(l.price AS DECIMAL(18,2))) AS DOUBLE) AS top2_sum,
        |  COUNT(*) AS ct
        |FROM parquet.`$dir/orders.parquet` o,
        |LATERAL (SELECT l_extendedprice AS price
        |         FROM parquet.`$dir/lineitem.parquet`
        |         WHERE l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC LIMIT 2) l
        |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin)),


    // ── J16: fuzzy (edit-distance-1) self-join via FastSS deletion
    // neighborhoods (operators/Fuzzy.scala) — the approximate-string
    // join a spell-correcting entity resolver needs, where the naive
    // shape is |W|² levenshtein calls. Blocking: each word expands to
    // itself + its 1-deletions (linear, scan-side), candidates come
    // from ONE equi-shuffle on the shared variant, and an exact
    // levenshtein verifies (sharing is necessary, not sufficient:
    // "ab"/"ba" share "a" at distance 2 and must be rejected). Keys =
    // every-7th orderkey as strings — digit substitutions and
    // length-changing edits both occur at every scale (234/3266/41857
    // pairs). The oracle is the brute-force length-banded cross join.
    "j16_fuzzy_join" -> ((s, dir) => {
      val keys = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").cast("string").as("w")).distinct()
      Fuzzy.editDistance1Pairs(keys, "w").orderBy(col("w1"), col("w2"))
    }),


    // ── J14: temporal table join (Flink's FOR SYSTEM_TIME AS OF — the
    // reference's versioned-dim lookup semantics, `OrderWide`'s dims
    // done time-correctly): each fact joins the dim VERSION whose
    // [effective_from, effective_to) interval contains the fact's event
    // time — never today's value for yesterday's fact. Composes Scd.scd2
    // (builds the intervals from a changelog) with an equi-key hash join
    // + interval residual (the j6 as-of family; no nested loop — the key
    // drives the join, the interval only filters). Two-version fixture:
    // every customer has a v1; every third customer re-versions at
    // 1998-01-01, so both the version-split and the never-changed arms
    // carry volume.
    "j14_temporal_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val v1 = c.select(col("c_custkey"),
        lit("1992-01-01 00:00:00").cast("timestamp").as("ts"),
        lit(1L).as("seq"), col("c_acctbal").as("bal"))
      val v2 = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"),
          lit("1998-01-01 00:00:00").cast("timestamp").as("ts"),
          lit(2L).as("seq"), (col("c_acctbal") + 100.0).as("bal"))
      val hist = graft.operators.Scd.scd2(
        v1.unionByName(v2), "c_custkey", "ts", "seq", Seq("bal"))
      val facts = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").cast("timestamp").as("ft"))
      facts.join(hist,
          facts("o_custkey") === hist("c_custkey") &&
            col("ft") >= col("effective_from") &&
            (col("effective_to").isNull ||
              col("ft") < col("effective_to")))
        .groupBy(col("seq").as("version"))
        .agg(count(lit(1)).as("ct"),
          sum(dec("o_totalprice")).cast("double").as("price_sum"),
          sum(col("bal").cast("decimal(18,2)")).cast("double").as("bal_sum"))
        .orderBy(col("version"))
    }),


    // ── J12: dynamic partition pruning — the star-schema runtime
    // pruning that makes dimension-filtered fact scans cheap at 100 TB:
    // the dim filter's key set is computed at runtime and injected as a
    // PARTITION filter on the fact scan, so 25 of 30 day-partitions are
    // never read (static pruning can't see through a join).
    // Fact = events partitioned by day on disk; dim = a calendar frame
    // whose filter keeps 5 days. FileMaintenanceSpec pins the
    // dynamicpruning subquery in the fact scan's partition filters;
    // the oracle pins the answer.
    "j12_dpp" -> ((s, dir) => withScratch("j12_dpp") { path =>
      Tables.events(s, dir)
        .withColumn("dt", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("dt").parquet(path)
      val fact = s.read.parquet(path)
      val dim = s.range(0, 30)
        .select(date_add(lit("2024-01-01").cast("date"),
          col("id").cast("int")).as("dt"),
          (col("id") + 1).as("day_no"))
        .filter(col("day_no") <= 5)
      fact.join(dim, "dt")
        .groupBy(date_format(col("dt"), "yyyy-MM-dd").as("dt"),
          col("event_type"))
        .agg(count(lit(1)).as("ct"),
          countDistinct(col("user_id")).as("users"))
        .orderBy(col("dt"), col("event_type"))
    }),


    // ── CBO-lite: stats-driven join ordering — Profile.keyStats
    // (row count + sketch NDV, one agg per table, no exact arm: an
    // order-of-magnitude decision doesn't buy the exact-NDV Expand)
    // feeds the Selinger estimate |A⋈B| ≈ |A||B|/max(ndv), greedy
    // left-deep smallest-first. The planner starts this 4-way chain
    // from nation (25 rows) and builds dimension-out, never fact-first;
    // JoinPlannerSpec pins the chosen order, and since inner equi-joins
    // commute, the oracle is the plain join — equality is the claim.
    "cbo_join_order" -> ((s, dir) => {
      import graft.operators.{JoinPlanner, Profile}
      import JoinPlanner.{Edge, Rel}
      def rel(name: String, df: org.apache.spark.sql.DataFrame,
          keys: Seq[String]): Rel = {
        val (rows, ndv) = Profile.keyStats(df, keys)
        Rel(name, df, rows, ndv)
      }
      val plan = JoinPlanner.plan(
        Seq(
          rel("lineitem", Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_extendedprice")), Seq("l_orderkey")),
          rel("orders", Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_custkey")),
            Seq("o_orderkey", "o_custkey")),
          rel("customer", Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_nationkey")),
            Seq("c_custkey", "c_nationkey")),
          rel("nation", Tables.nation(s, dir)
            .select(col("n_nationkey"), col("n_name")), Seq("n_nationkey"))),
        Seq(
          Edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
          Edge("orders", "o_custkey", "customer", "c_custkey"),
          Edge("customer", "c_nationkey", "nation", "n_nationkey")))
      plan.groupBy(col("n_name"))
        .agg(count(lit(1)).as("ct"),
          sum(dec("l_extendedprice")).cast("double").as("revenue"))
        .orderBy(col("n_name"))
    }),


    // ── PageRank (3 iterations) in exact integer micro-units: the
    // iterative driver-loop family (Lloyd's twin) with the text_lm_score
    // fixed-point contract — contribution = rank div outdeg, update =
    // base + 85·Σ div 100, all longs, so the oracle replays the SAME
    // arithmetic through three unrolled CTE rounds and summation order
    // cannot matter. Same bounded mod-300 graph as graph_triangles.
    "graph_pagerank" -> ((s, dir) =>
      graft.operators.Graph.pageRank(modGraph(s, dir), iters = 3)
        .orderBy(col("node"))),


    // ── Graph analytics: exact triangle + wedge counts over a derived
    // co-occurrence graph (lineitem (orderkey, partkey) mod 300 —
    // distinct canonical edges cap at C(300,2)=44,850, so cost is
    // bounded by the node space at every sf while the graph stays
    // triangle-rich even at sf0.001 —
    // multi-edges and loops exercised by construction, canonicalized
    // away). Degree orientation bounds the wedge fan-out at O(E^1.5)
    // where the naive 3-way self-join pays Σ deg² — the hub guard IS
    // the operator (GraphSpec pins orientation == naive on random
    // graphs and the K4/star/path shapes). Oracle: DuckDB's literal
    // a<b<c 3-way join plus the closed-form wedge sum.
    "graph_triangles" -> ((s, dir) =>
      graft.operators.Graph.triangleStats(modGraph(s, dir))),


    // ── J18: spatial proximity self-join — all point pairs within ε via
    // grid-cell bucketing (probe cell ⋈ build side exploded to its 3×3
    // neighborhood; ONE equi-join, never n²); exact all-integer
    // dx²+dy² ≤ ε² filter. Points are a formula fixture over user ids so
    // the oracle replays the exhaustive pairwise truth.
    "j18_spatial_join" -> ((s, dir) => {
      import graft.functions.HashFns
      val pts = Tables.events(s, dir)
        .filter(pmod(col("event_id"), lit(3L)) === 0)
        .select(col("event_id").as("id"))
        .select(col("id"),
          HashFns.md5Lower64Mod(
            concat(lit("x:"), col("id").cast("string")), 10000L).as("x"),
          HashFns.md5Lower64Mod(
            concat(lit("y:"), col("id").cast("string")), 10000L).as("y"))
      graft.operators.Spatial.proximityJoin(pts, "id", "x", "y", eps = 60L)
        .orderBy(col("id_a"), col("id_b"))
    }),


    // ── J19: engine-native as-of join (custom Catalyst physical operator,
    // graft.plans.AsOfJoinExec) — j6's semantics as a first-class plan
    // node instead of the union+window composition: SMJ-style required
    // distribution/ordering, one merge pass with O(1) candidate state.
    // Each order looks up the customer's most recent PRIOR order day
    // (strict <, within a 90-day tolerance) and that day's max price.
    // The right side is struct-max-deduped to unique (custkey, day) so
    // the as-of match is deterministic (see AsOfOn scaladoc); the oracle
    // is DuckDB's native ASOF LEFT JOIN with the tolerance replayed as a
    // post-join CASE (exact: the as-of match is the LATEST at-or-before,
    // so it is out of tolerance iff every candidate is).
    // AsOfJoinPlanSpec pins the plan shape (AsOfJoinExec node, no generic
    // join fallback, <=2 key shuffles, zero exchanges when pre-partitioned).
    "j19_asof_exec" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val right = o.groupBy(
          col("o_custkey").as("ck"), col("o_orderdate").as("od"))
        .agg(max(col("o_totalprice")).as("day_max_price"))
      val left = o.select(
        col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      Joins.asOfJoinExec(left, right, Seq("o_custkey" -> "ck"),
          "o_orderdate", "od",
          strict = true, tolerance = Some(90L * 86400L * 1000000L))
        .select(col("o_orderkey"), col("od").as("prev_date"),
          col("day_max_price").as("prev_price"))
        .orderBy(col("o_orderkey"))
    }),


    // ── J20: ZERO-EXCHANGE bucketed as-of join — the payoff the exec
    // tier was built for (r13 verdict task 2). Both sides written
    // bucketBy(8) on the key (j11's one-off layout cost), then the SAME
    // as-of join as j19 runs against the bucketed tables: AsOfJoinExec's
    // ClusteredDistribution is already satisfied by the bucketed scans,
    // so EnsureRequirements inserts only per-partition sorts — the gate
    // REQUIREs the executed join plan to contain the AsOfJoin node and
    // ZERO Exchange of any kind before returning rows. Oracle: identical
    // SQL to j19_asof_exec — the layout must not change the answer, so
    // this gate also hash-pins j20 == j19 transitively.
    "j20_asof_bucketed" -> ((s, dir) => withScratch("j20_asof_bucketed") { root =>
      val (ltab, rtab) = (s"${scratchName(root)}_l", s"${scratchName(root)}_r")
      val (lpath, rpath) = (s"$root/l", s"$root/r")
      try {
        val o = Tables.orders(s, dir)
        graft.operators.Bucketing.writeBucketed(
          o.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          ltab, lpath, "o_custkey", numBuckets = 8)
        graft.operators.Bucketing.writeBucketed(
          o.groupBy(col("o_custkey").as("ck"), col("o_orderdate").as("od"))
            .agg(max(col("o_totalprice")).as("day_max_price")),
          rtab, rpath, "ck", numBuckets = 8)
        val out = Joins.asOfJoinExec(s.table(ltab), s.table(rtab),
            Seq("o_custkey" -> "ck"), "o_orderdate", "od",
            strict = true, tolerance = Some(90L * 86400L * 1000000L))
          .select(col("o_orderkey"), col("od").as("prev_date"),
            col("day_max_price").as("prev_price"))
        val qe = out.queryExecution
        val ck = out.localCheckpoint(true) // materialize, then pin the plan
        val p = qe.executedPlan.toString.split("== Initial Plan ==").head
        require(p.contains("AsOfJoin"),
          s"bucketed as-of did not plan the native exec:\n${p.take(2000)}")
        require(!p.contains("Exchange"),
          s"bucketed as-of join must be exchange-free:\n${p.take(2000)}")
        ck.orderBy(col("o_orderkey"))
      } finally {
        graft.operators.Bucketing.drop(s, ltab)
        graft.operators.Bucketing.drop(s, rtab)
      }
    })
  )

  /** DuckDB's native ASOF LEFT JOIN; the 90-day tolerance is replayed as
    * a post-join CASE (exact — see the j19 gate comment). */
  private val asOfOracleSql =
    """WITH r AS (
      |  SELECT o_custkey AS ck, o_orderdate AS od,
      |    MAX(o_totalprice) AS p
      |  FROM orders GROUP BY 1, 2)
      |SELECT o1.o_orderkey,
      |  CASE WHEN epoch_us(o1.o_orderdate) - epoch_us(r.od)
      |         <= 7776000000000 THEN r.od END AS prev_date,
      |  CASE WHEN epoch_us(o1.o_orderdate) - epoch_us(r.od)
      |         <= 7776000000000 THEN r.p END AS prev_price
      |FROM orders o1 ASOF LEFT JOIN r
      |  ON o1.o_custkey = r.ck AND o1.o_orderdate > r.od
      |ORDER BY o1.o_orderkey""".stripMargin

  /** DuckDB oracle SQL, column-name-aligned with `queries`. */
  def oracleSql: Map[String, String] = Map(

    "j8_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS ct,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    "j8b_salted_hot" ->
      """WITH l AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 6 THEN 0
        |              ELSE l_orderkey % 10 END AS skew_k,
        |    l_extendedprice, l_tax
        |  FROM lineitem),
        |dim AS (
        |  SELECT skew_k,
        |    CAST(MIN(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS k_min_tax
        |  FROM l GROUP BY skew_k)
        |SELECT l.skew_k, COUNT(*) AS ct,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  MIN(d.k_min_tax) AS k_min_tax
        |FROM l JOIN dim d ON l.skew_k = d.skew_k
        |GROUP BY l.skew_k ORDER BY l.skew_k""".stripMargin,


    "j9_bloom_join" ->
      """SELECT o_orderpriority, COUNT(*) AS ct,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    "j10_range_join" ->
      """WITH pts AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p
        |  FROM lineitem),
        |rng AS (
        |  SELECT o_orderkey AS range_id,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) % 10000000 AS lo
        |  FROM orders)
        |SELECT range_id, COUNT(*) AS ct, CAST(SUM(p) AS DOUBLE) AS psum
        |FROM pts JOIN rng ON p >= lo AND p < lo + 500
        |GROUP BY range_id ORDER BY range_id""".stripMargin,


    "j11_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS ct,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    // null-to-null must MATCH (one more key value), not drop
    "j13_nullsafe_join" ->
      """WITH o AS (SELECT CASE WHEN o_custkey % 49 = 0 THEN NULL
        |    ELSE o_custkey % 1000 END AS k, o_totalprice FROM orders),
        |  c AS (SELECT CASE WHEN c_custkey % 25 = 0 THEN NULL
        |    ELSE c_custkey % 1000 END AS k, c_acctbal FROM customer)
        |SELECT COALESCE(CAST(o.k AS VARCHAR), 'NULLKEY') AS k,
        |  COUNT(*) AS pairs,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
        |GROUP BY 1 ORDER BY k""".stripMargin,


    // DuckDB runs the SAME correlated form — engine-vs-engine on the
    // decorrelation itself
    "j15_lateral_topn" ->
      """SELECT o.o_orderkey,
        |  CAST(SUM(CAST(l.price AS DECIMAL(18,2))) AS DOUBLE) AS top2_sum,
        |  COUNT(*) AS ct
        |FROM orders o,
        |LATERAL (SELECT l_extendedprice AS price FROM lineitem
        |         WHERE l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC LIMIT 2) l
        |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin,


    // brute-force truth: length-banded cross join + exact levenshtein —
    // the blocking must lose nothing against the unblocked answer
    "j16_fuzzy_join" ->
      """WITH k AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS w
        |    FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT a.w AS w1, b.w AS w2 FROM k a JOIN k b
        |  ON a.w < b.w AND abs(length(a.w) - length(b.w)) <= 1
        |  AND levenshtein(a.w, b.w) = 1
        |ORDER BY w1, w2""".stripMargin,


    // time-correct version pick replayed as a CASE on the version rule
    "j14_temporal_join" ->
      """SELECT CAST(CASE WHEN CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1998-01-01'
        |            AND c_custkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version,
        |  COUNT(*) AS ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(CAST(CASE WHEN CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1998-01-01'
        |            AND c_custkey % 3 = 0 THEN c_acctbal + 100.0
        |            ELSE c_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY version""".stripMargin,


    // pruning must not change the answer: truth = the plain date filter
    "j12_dpp" ->
      """SELECT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS dt,
        |  event_type, COUNT(*) AS ct, COUNT(DISTINCT user_id) AS users
        |FROM events
        |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-05'
        |GROUP BY 1, 2 ORDER BY dt, event_type""".stripMargin,


    "cbo_join_order" ->
      """SELECT n_name, COUNT(*) AS ct,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,


    "graph_pagerank" -> {
      // three unrolled rounds of the SAME integer arithmetic the
      // operator runs: contribution = rank div outdeg, update =
      // base + 85·Σ div 100 (DuckDB // is floor division; all values
      // are positive, so it matches Spark's div exactly)
      val rounds = (1 to 3).map { k =>
        s"""c$k AS (
           |  SELECT dir.dst AS node, SUM(r${k - 1}.rank_u6 // od.outdeg) AS s
           |  FROM dir JOIN r${k - 1} ON dir.src = r${k - 1}.node
           |       JOIN od ON od.src = dir.src
           |  GROUP BY dir.dst),
           |r$k AS (
           |  SELECT nodes.node,
           |    150000 // (SELECT n FROM nn)
           |      + (85 * COALESCE(c$k.s, 0)) // 100 AS rank_u6
           |  FROM nodes LEFT JOIN c$k ON c$k.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT l_orderkey % 300 AS s0, l_partkey % 300 AS d0 FROM lineitem),
         |e AS (
         |  SELECT DISTINCT LEAST(s0, d0) AS a, GREATEST(s0, d0) AS b
         |  FROM raw WHERE s0 <> d0),
         |dir AS (SELECT a AS src, b AS dst FROM e
         |        UNION ALL SELECT b AS src, a AS dst FROM e),
         |od AS (SELECT src, COUNT(*) AS outdeg FROM dir GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM dir),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS (SELECT node, 1000000 // (SELECT n FROM nn) AS rank_u6
         |       FROM nodes),
         |$rounds
         |SELECT node, CAST(rank_u6 AS BIGINT) AS rank_u6 FROM r3
         |ORDER BY node""".stripMargin
    },


    "graph_triangles" ->
      """WITH raw AS (
        |  SELECT l_orderkey % 300 AS s, l_partkey % 300 AS d FROM lineitem),
        |e AS (
        |  SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
        |  FROM raw WHERE s <> d),
        |tri AS (
        |  SELECT COUNT(*) AS triangles
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |deg AS (
        |  SELECT node, COUNT(*) AS degree FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        |  GROUP BY node),
        |w AS (
        |  SELECT CAST(SUM(degree * (degree - 1) // 2) AS BIGINT) AS wedges,
        |    COUNT(*) AS nodes FROM deg),
        |ec AS (SELECT COUNT(*) AS edges FROM e)
        |SELECT triangles, wedges, nodes, edges FROM tri, w, ec""".stripMargin,


    // exhaustive pairwise truth over the same formula points — the grid
    // join must find exactly the all-pairs-within-ε set
    "j18_spatial_join" ->
      """WITH p AS (SELECT event_id AS id,
        |    CAST(md5_number_lower(CONCAT('x:', CAST(event_id AS VARCHAR)))
        |      % 10000 AS BIGINT) AS x,
        |    CAST(md5_number_lower(CONCAT('y:', CAST(event_id AS VARCHAR)))
        |      % 10000 AS BIGINT) AS y
        |  FROM events WHERE event_id % 3 = 0)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 3600
        |ORDER BY id_a, id_b""".stripMargin,


    "j19_asof_exec" -> asOfOracleSql,


    // Same oracle as j19_asof_exec: the bucketed layout must not change
    // the answer (and matching both gates to one oracle pins j20 == j19
    // transitively).
    "j20_asof_bucketed" -> asOfOracleSql
  )
}
