package graft

import graft.functions.TimeFns._
import graft.functions.TextFns._
import graft.functions.VectorFns
import graft.multimodal.Multimodal
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H analytic shapes, window/agg suites, scalar-function packs,
  * set operations, data-quality reports, and sketch analytics.
  *
  * Gate registry family split out of SparkEntry (round 13, registry
  * hygiene); SparkEntry.queries/oracleSql union the six families.
  */
private[graft] object GatesBatch {
  import GateSupport._

  /** Orders dated in [lo, hi). */
  private def ordersIn(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
        col("o_orderdate") < lit(hi).cast("timestamp"))

  /** The set gates' inputs: the customer of each 1997 H1 order and of
    * each 1997 H2 order. */
  private def halfYearCustomers(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    (ordersIn(s, dir, "1997-01-01", "1997-07-01").select(col("o_custkey")),
      ordersIn(s, dir, "1997-07-01", "1998-01-01").select(col("o_custkey")))

  /** Order revenue per (nation, customer). */
  private def customerRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("o_custkey"))
      .agg(sum(dec("o_totalprice")).cast("double").as("revenue"))
  }

  /** [[customerRevenue]]'s ranking window: by revenue within a nation,
    * ties to the customer key. */
  private def byNationRevenue =
    org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_name")).orderBy(col("revenue").desc, col("o_custkey"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── Flagship: TPC-H Q1 pricing summary (A-class agg, full scan shape)
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast("decimal(12,2)")).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(col("l_discount").cast("decimal(3,2)")).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),


    // ── TPC-H Q3 shape: selective dim filter → 3-way join → grouped
    // revenue → top-N. The filtered customer side is small at sf scales —
    // left to AQE's dynamic broadcast rather than forced (at 100 TB
    // customer is fact-sized; forcing a broadcast would be wrong there).
    // Top-N is fully tie-broken (revenue, date, orderkey) so LIMIT is
    // deterministic across engines.
    "q3_order_revenue" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_date"), col("l_orderkey"))
        .limit(10)
    }),


    // ── TPC-H Q5 shape: 6-way join down the region→nation→supplier spine
    // with a customer-nation co-location constraint. nation⨝region is
    // O(25) rows — broadcast unconditionally (correct at any scale); the
    // fact-side joins shuffle on their keys and AQE handles the rest.
    "q5_region_volume" -> ((s, dir) => {
      val nat = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      Tables.lineitem(s, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),


    // ── TPC-H Q4 shape: EXISTS → left-semi join (equi key + date
    // residual). The semi join emits each order at most once regardless
    // of how many lineitems qualify — the dedup the EXISTS contract
    // requires, with no distinct pass.
    "q4_priority_semi" -> ((s, dir) => {
      ordersIn(s, dir, "1997-01-01", "1997-07-01").join(Tables.lineitem(s, dir),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '90' DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),


    // ── NOT EXISTS → left-anti join: orders none of whose lineitems
    // shipped within 30 days. Completes the semi (q4) / anti join-shape
    // pair as a direct gate (left_anti otherwise appears only inside the
    // decontaminate / keepCanonical pipelines).
    "q6_priority_anti" -> ((s, dir) => {
      ordersIn(s, dir, "1997-01-01", "1997-07-01").join(Tables.lineitem(s, dir),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL '30' DAY"),
          "left_anti")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),


    // ── TPC-H Q6 shape: pure filter + global aggregate — zero joins,
    // zero groupBy shuffle (partial agg per partition → one-row merge).
    // The three predicates push into the parquet scan (PlanSpec pins
    // PushedFilters), so at 100 TB row groups outside the date year are
    // never decompressed — the plan IS the I/O budget.
    "q6f_filter_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            col("l_discount").cast("decimal(3,2)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("ct"))),


    // ── TPC-H Q7 shape: two-nation volume shipping — the supplier-nation
    // × customer-nation cross-filter join. nation is O(25) rows →
    // broadcast both legs unconditionally (correct at any scale); the
    // lineitem⨝orders⨝customer/supplier spine shuffles on its keys.
    "q7_nation_volume" -> ((s, dir) => {
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_natkey"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_natkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_natkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_natkey"))
        .filter((col("supp_nation") === "FRANCE" && col("cust_nation") === "GERMANY") ||
          (col("supp_nation") === "GERMANY" && col("cust_nation") === "FRANCE"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),


    // ── TPC-H Q8 shape: national market share — a 7-table star join
    // (fact + two filtered dims + customer/supplier legs + two nation
    // roles + region) feeding a conditional-fraction aggregate. Dims
    // broadcast (nation/region always; part/supplier by AQE size rule);
    // the fact shuffles once per non-broadcast equi key. The share is
    // exact-decimal numerator/denominator, ONE double division at the
    // end — engine-portable (BASELINE.md parity idiom).
    "q8_market_share" -> ((s, dir) => {
      val nSupp = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_natkey"), col("n_name").as("supp_nation"))
      val nCust = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_natkey"),
          col("n_regionkey").as("c_regionkey"))
      val rEur = Tables.region(s, dir)
        .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))
      val pMed = Tables.part(s, dir)
        .filter(col("p_type") === "MEDIUM").select(col("p_partkey"))
      val vol = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))
      Tables.lineitem(s, dir)
        .join(pMed, col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nCust), col("c_nationkey") === col("c_natkey"))
        .join(broadcast(rEur), col("c_regionkey") === col("r_regionkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nSupp), col("s_nationkey") === col("s_natkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_1", vol)).cast("double")
            .as("nation_volume"),
          sum(vol).cast("double").as("total_volume"))
        .select(col("o_year"),
          coalesce(col("nation_volume"), lit(0.0)).as("nation_volume"),
          col("total_volume"),
          (coalesce(col("nation_volume"), lit(0.0)) / col("total_volume"))
            .as("mkt_share"))
        .orderBy(col("o_year"))
    }),


    // ── TPC-H Q10 shape: returned-item revenue, top-20 customers — a
    // selective fact filter, three-way join, grouped revenue, and a
    // bounded ORDER BY ... LIMIT (TakeOrdered: k rows per partition →
    // driver merge, never a global sort). Tie-break on c_custkey keeps
    // the limit boundary deterministic across engines.
    "q10_returned_customers" -> ((s, dir) => {
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-04-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),


    // ── TPC-H Q14 shape: promo revenue share — one month of the fact,
    // part joined for its type, a conditional-fraction aggregate. Exact
    // decimal numerator/denominator, ONE double division (the portable
    // idiom); the filter prunes the fact scan before the join.
    "q14_promo_share" -> ((s, dir) => {
      val vol = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", vol)).cast("double")
            .as("promo_revenue"),
          sum(vol).cast("double").as("total_revenue"))
        .select(
          coalesce(col("promo_revenue"), lit(0.0)).as("promo_revenue"),
          col("total_revenue"),
          (lit(100.0) * coalesce(col("promo_revenue"), lit(0.0)) /
            col("total_revenue")).as("promo_share"))
    }),


    // ── TPC-H Q19 shape: disjunction of (brand × size × quantity)
    // brackets as the JOIN condition — the classic OR-of-ANDs plan
    // challenge. The equi key still drives a hash join; the brackets
    // evaluate as a residual, and the single-side conjuncts
    // (brand/size on part, quantity on lineitem) are pushable.
    "q19_or_brackets" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val pt = Tables.part(s, dir)
      val bracket =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      li.join(pt, col("l_partkey") === col("p_partkey") && bracket)
        .agg(count(lit(1)).as("ct"),
          coalesce(sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
            .cast("double"), lit(0.0)).as("revenue"))
    }),


    // ── TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    // join (customers with no qualifying orders must survive as count 0)
    // into a two-level aggregate. The orders-side predicate (stand-in for
    // Q13's o_comment NOT LIKE; this fixture has no comment column) is
    // applied BEFORE the join — for a left-outer join that is equivalent
    // to a join-condition predicate and prunes the shuffle. All-integer
    // result: engine-exact.
    "q13_order_dist" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),


    // ── TPC-H Q18 shape: large-volume orders — a HAVING-filtered
    // aggregate subquery (sum(l_quantity) > 300 keeps ~0.3% of orders)
    // semi-joins the fact BEFORE the customer/lineitem joins, so the
    // expensive joins see only the pruned order set; the tiny survivor
    // list is broadcast (plan-pinned). Top-100 is TakeOrdered, never a
    // global sort. l_quantity is integral, so the double sum is exact.
    "q18_big_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
        .select(col("l_orderkey").as("big_okey"))
      Tables.orders(s, dir)
        .join(broadcast(big), col("o_orderkey") === col("big_okey"), "left_semi")
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_totalprice"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),


    // ── TPC-H Q21 shape: suppliers who alone "failed" a multi-supplier
    // order — EXISTS (another supplier in the order) as a LEFT SEMI join
    // and NOT EXISTS (another FAILING supplier in the order) as a LEFT
    // ANTI join, both equi-keyed on l_orderkey with the <> residual, so
    // they plan as hash/merge joins, never cartesian (plan-pinned). The
    // fixture has no receipt/commit dates; l_returnflag = 'R' stands in
    // for Q21's "late" predicate — the join topology is identical.
    "q21_wait_suppliers" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      val l1 = li.filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
      val others = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val otherFails = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      l1.join(others,
          col("ok2") === col("l_orderkey") && col("sk2") =!= col("l_suppkey"),
          "left_semi")
        .join(otherFails,
          col("ok3") === col("l_orderkey") && col("sk3") =!= col("l_suppkey"),
          "left_anti")
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),


    // ── TPC-H Q22 shape: scalar subquery in the filter + NOT EXISTS.
    // The positive-balance aggregate is ONE row cross-joined as a
    // broadcast (plan-pinned BroadcastNestedLoopJoin — the scalar-
    // subquery plan); the threshold compare multiplies by the count
    // instead of dividing (c_acctbal × cnt > sum: exact decimal×int on
    // both engines — an avg would put a reassociated double on the
    // knife edge). NOT EXISTS (an urgent order; this fixture gives every
    // customer orders, so Q22's "no orders at all" would be empty) is a
    // LEFT ANTI join.
    "q22_no_urgent" -> ((s, dir) => {
      val nations = Seq(1L, 3L, 5L, 7L, 9L)
      val cust = Tables.customer(s, dir)
        .filter(col("c_nationkey").isin(nations: _*))
      val pos = cust.filter(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast("decimal(12,2)")).as("tot"),
          count(lit(1)).as("cnt"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(pos))
        .filter(col("c_acctbal").cast("decimal(12,2)") * col("cnt") > col("tot"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast("decimal(12,2)")).cast("double")
            .as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),


    // ── Exact heavy hitters WITHOUT a full-key shuffle: per-partition
    // Misra-Gries candidates (one scan, zero shuffle, provable superset
    // of every key above N/(k+1)) + a candidate-or-other recount whose
    // aggregation key space is ≤ candidates+1. Fixture derives a skewed
    // key from l_orderkey (key 0 ≈ 50%, key 1 ≈ 25%, keys 2–5 ≈ 6.25%
    // each); capacity 7 → threshold N/8, so exactly {0, 1} qualify with
    // wide margins at every sf. Oracle is the plain GROUP BY + HAVING —
    // the two-pass shape must return EXACTLY the true answer, whatever
    // the sampled candidate set.
    "freq_heavy_hitters" -> ((s, dir) => {
      val keyed = Tables.lineitem(s, dir).select(
        when(pmod(col("l_orderkey"), lit(16L)) < 8, lit(0L))
          .when(pmod(col("l_orderkey"), lit(16L)) < 12, lit(1L))
          .otherwise(pmod(col("l_orderkey"), lit(16L)) - 10L).as("k"))
      graft.operators.Frequency.heavyHitters(keyed, "k", capacity = 7)
        .orderBy(col("k"))
    }),


    // ── TPC-H Q2 shape: correlated "best row per group" subquery,
    // decorrelated into a window max + equality filter — ONE shuffle on
    // the group key instead of a per-row rescan. Ties all kept (the
    // EXISTS/= MAX contract), deterministic output.
    "q2_top_supplier" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("n_nationkey"))
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .withColumn("max_bal", max(col("s_acctbal")).over(w))
        .filter(col("s_acctbal") === col("max_bal"))
        .select(col("n_name"), col("s_name"),
          col("s_acctbal").cast("double").as("s_acctbal"))
        .orderBy(col("n_name"), col("s_name"))
    }),


    // ── TPC-H Q9 shape: profit by (nation, year) through a 4-table join
    // chain. The fact (lineitem) drives; part (name-filtered), supplier
    // and nation are all vocabulary-sized → broadcast, so the fact
    // shuffles ONCE, for the final group-by. `p_name LIKE '%widget%'` is
    // a contains-match (no prefix) — it evaluates scan-side but cannot
    // prune row groups; the plan pin checks the join order, not pushdown.
    "q9_profit" -> ((s, dir) => {
      val vol = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_name").contains("widget")).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(sum(vol).cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),


    // ── TPC-H Q11 shape: group aggregate HAVING-compared against a
    // GLOBAL scalar subquery (Q11's "important stock" fraction). The
    // one-row global aggregate broadcasts (scalar-subquery plan); the
    // compare multiplies by the group count instead of dividing — exact
    // decimal×int on both engines (the q22 idiom). partsupp is absent
    // from the fixture, so per-part lineitem value stands in for stock
    // value; the HAVING-vs-scalar topology is identical.
    "q11_important_parts" -> ((s, dir) => {
      val vol = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey")).agg(sum(vol).as("value_dec"))
      val global = perPart.agg(sum(col("value_dec")).as("tot"),
        count(lit(1)).as("nparts"))
      perPart.crossJoin(broadcast(global))
        .filter(col("value_dec") * col("nparts") > col("tot"))
        .select(col("l_partkey"), col("value_dec").cast("double").as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),


    // ── TPC-H Q12 shape: join + CONDITIONAL aggregation (CASE WHEN
    // inside the sums) — one pass computes both priority counts; naive
    // twin filtered aggregates would scan and join twice. All-integer
    // output: engine-exact. l_linestatus stands in for l_shipmode
    // (absent from the fixture); the shape is identical.
    "q12_priority_lines" -> ((s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "N" &&
            col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_linestatus")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_linestatus").as("shipmode"))
        .agg(sum(when(high, 1).otherwise(0)).cast("long").as("high_line_count"),
          sum(when(!high, 1).otherwise(0)).cast("long").as("low_line_count"))
        .orderBy(col("shipmode"))
    }),


    // ── TPC-H Q15 shape: aggregated view + `= (SELECT MAX(...) FROM
    // view)` scalar subquery. The revenue view computes ONCE feeding
    // both consumers; its one-row max broadcasts and the equality filter
    // runs on the EXACT decimal sum (never the double cast — a double
    // max-equality would be a cross-engine knife edge). Ties all kept.
    "q15_top_revenue_supplier" -> ((s, dir) => {
      val vol = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))
      val revenue = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey")).agg(sum(vol).as("total_rev"))
      val mx = revenue.agg(max(col("total_rev")).as("mx"))
      Tables.supplier(s, dir)
        .join(revenue, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(mx))
        .filter(col("total_rev") === col("mx"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),


    // ── TPC-H Q16 shape: NOT IN (subquery) → LEFT ANTI join + COUNT
    // DISTINCT per attribute group. The distinct (part, supplier) pairs
    // from lineitem stand in for partsupp (absent from the fixture).
    // The excluded-supplier list is tiny → broadcast anti join; p_size
    // IN (...) pushes to the part scan.
    "q16_supplier_cnt" -> ((s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val excluded = Tables.supplier(s, dir)
        .filter(col("s_name").endsWith("5")).select(col("s_suppkey"))
      ps.join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(excluded),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),


    // ── TPC-H Q17 shape: correlated per-group AVG scalar subquery
    // ("quantity below 20% of this part's average"), decorrelated into a
    // per-part aggregate + broadcast join — the per-row rescan Q17
    // literally writes would be O(n²). The compare is all-integer-
    // valued: qty < 0.2·(sum/cnt) ⟺ 5·qty·cnt < sum (l_quantity is
    // integral; zero doubles on the knife edge). Output divides the
    // exact decimal sum by 7.0 once — a single IEEE division, portable.
    "q17_small_qty_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("l_quantity"), col("l_extendedprice"))
      val th = li.groupBy(col("p_partkey").as("pk2"))
        .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cq"))
      li.join(broadcast(th), col("p_partkey") === col("pk2"))
        .filter(col("l_quantity") * 5 * col("cq") < col("sq"))
        .agg((coalesce(sum(col("l_extendedprice").cast("decimal(12,2)")), lit(0))
            .cast("double") / lit(7.0)).as("avg_yearly"),
          count(lit(1)).as("ct"))
    }),


    // ── TPC-H Q20 shape: nested semi-join chain with a correlated
    // aggregate subquery — suppliers (in a nation band) who are the
    // DOMINANT supplier of some name-filtered part (sp_qty = per-part
    // MAX, the correlated aggregate; integer-exact equality). Two
    // aggregates over the same filtered join feed a broadcast semi
    // chain; the supplier table itself never shuffles.
    "q20_dominant_suppliers" -> ((s, dir) => {
      val lp = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_name").contains("bolt")).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("l_suppkey"), col("l_quantity"))
      val spq = lp.groupBy(col("p_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("sp_qty"))
      val mx = spq.groupBy(col("p_partkey").as("pk2"))
        .agg(max(col("sp_qty")).as("mx_qty"))
      val dominant = spq.join(broadcast(mx),
          col("p_partkey") === col("pk2") && col("sp_qty") === col("mx_qty"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_nationkey") < 13).select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(dominant),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_name"))
    }),


    // ── A12: PIVOT — wide per-category columns in one pass. The value
    // list is EXPLICIT (the 5 TPC-H priorities): pivot without values
    // costs an extra distinct scan and makes the output schema
    // data-dependent — both wrong at 100 TB. One shuffle on the group
    // key; per-category sums partial-agg map-side.
    "a12_pivot" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
        .withColumnsRenamed(Map(
          "1-URGENT" -> "p1_urgent", "2-HIGH" -> "p2_high",
          "3-MEDIUM" -> "p3_medium", "4-NOT SPECIFIED" -> "p4_notspec",
          "5-LOW" -> "p5_low"))
        .orderBy(col("o_year"))),


    // ── A12b: UNPIVOT (melt) — the inverse reshape of a12's pivot: wide
    // per-priority columns back to (year, priority, total) rows. Pure
    // per-row expansion (Expand node) — zero additional shuffle beyond
    // the pivot's own aggregate.
    "a12b_unpivot" -> ((s, dir) => {
      val wide = queries("a12_pivot")(s, dir)
      wide.unpivot(
          Array(col("o_year")),
          Array(col("p1_urgent"), col("p2_high"), col("p3_medium"),
            col("p4_notspec"), col("p5_low")),
          "priority", "total")
        .filter(col("total").isNotNull)
        .orderBy(col("o_year"), col("priority"))
    }),


    // ── A16: higher statistical moments — stddev/variance (sample) +
    // skewness/kurtosis per group. Merge-order float drift across
    // engines is ~1e-12 relative; both sides truncate at 1e-6 (the
    // established truncate6 idiom — floor, never round) so the compare
    // is stable. DuckDB kurtosis is excess-kurtosis like Spark's.
    "a16_moments" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          truncate6(stddev_samp(col("l_quantity"))).as("sd_qty"),
          truncate6(var_samp(col("l_quantity"))).as("var_qty"),
          truncate6(skewness(col("l_quantity"))).as("skew_qty"),
          truncate6(kurtosis(col("l_quantity"))).as("kurt_qty"),
          truncate6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
          truncate6(covar_samp(col("l_quantity"), col("l_extendedprice")))
            .as("covar_qp"),
          count(lit(1)).as("ct"))
        .orderBy(col("l_returnflag"))),


    // ── A21: linear-regression aggregates (regr_*) — the one-pass
    // distributed OLS fit price ~ quantity per flag (slope/intercept/R²
    // from the same co-moment accumulators corr/covar ride; no second
    // scan, no driver fit). truncate6 on every double (a16 idiom) so the
    // hash compare is reassociation-proof; regr_count is integer-exact.
    "a21_regression" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          truncate6(regr_slope(col("l_extendedprice"), col("l_quantity")))
            .as("slope_pq"),
          truncate6(regr_intercept(col("l_extendedprice"), col("l_quantity")))
            .as("icept_pq"),
          truncate6(regr_r2(col("l_extendedprice"), col("l_quantity")))
            .as("r2_pq"),
          truncate6(regr_avgx(col("l_extendedprice"), col("l_quantity")))
            .as("avgx_q"),
          truncate6(regr_avgy(col("l_extendedprice"), col("l_quantity")))
            .as("avgy_p"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
        .orderBy(col("l_returnflag"))),


    // ── A18: ordered string aggregation — sort_array(collect_list) +
    // concat_ws is Spark's deterministic LISTAGG (collect_list alone is
    // arrival-ordered = nondeterministic; the sort is the contract).
    "a18_stringagg" -> ((s, dir) =>
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", sort_array(collect_list(col("n_name"))))
          .as("nations"), count(lit(1)).as("ct"))
        .orderBy(col("r_name"))),


    // ── A17: re-aggregatable HLL sketches (DataSketches binary) — the
    // serving-layer pattern at 100 TB: store per-fine-grain SKETCHES, not
    // distinct sets, and answer coarser rollups by hll_union_agg with NO
    // fact re-scan (exact distincts cannot re-aggregate: distinct-of-
    // union ≠ sum-of-distincts). Estimates are engine-specific, so the
    // gate emits a checked error-bound verdict next to the exact count
    // (a1_approx convention): lgK=12 ⇒ rsd ≈ 1.6%, bound 5·rsd.
    "a17_hll_reagg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      val fine = o.groupBy(col("n_name"), col("o_orderpriority"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val coarse = fine.groupBy(col("n_name"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = o.groupBy(col("n_name"))
        .agg(count_distinct(col("o_custkey")).as("exact_ct"))
      coarse.join(exact, "n_name")
        .select(col("n_name"), col("exact_ct"),
          (abs(col("est") - col("exact_ct")) <=
            greatest(lit(3.0), lit(0.08) * col("exact_ct")))
            .cast("long").as("ok"))
        .orderBy(col("n_name"))
    }),


    // ── A22: re-aggregatable EXACT distinct via bitmaps — the other end
    // of a17's trade: where HLL re-aggregates approximately, RLE bitmaps
    // re-aggregate exactly (bitmap_or is lossless; sum-of-distincts is
    // not). Store per-(fine-grain, bucket) bitmaps of the key's bit
    // position; a coarser rollup is bitmap_or_agg per bucket + a
    // bitmap_count sum — no fact re-scan ever. Cost is memory ∝ key
    // range/density (why HLL still wins for ultra-high-cardinality keys);
    // for bounded ID spaces this is the serving-layer answer at 100 TB.
    "a22_bitmap_reagg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
      val fine = o.groupBy(col("n_name"), col("o_orderpriority"),
          expr("bitmap_bucket_number(o_custkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))")
          .as("bm"))
      fine.groupBy(col("n_name"), col("bkt"))
        .agg(expr("bitmap_or_agg(bm)").as("bmu"))
        .groupBy(col("n_name"))
        .agg(sum(expr("bitmap_count(bmu)")).as("exact_distinct"))
        .orderBy(col("n_name"))
    }),


    // ── A10: CUBE — all grouping-set combinations of (priority, year)
    // in one pass (partial-agg friendly: Spark expands grouping sets
    // map-side, one shuffle). Subtotal rows surface as 'ALL' via
    // coalesce so the oracle compare never hashes a grouping-null.
    "a10_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(count(lit(1)).as("ct"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_year").cast("string"), lit("ALL")).as("o_year"),
          col("ct"), col("total"))
        .orderBy(col("priority"), col("o_year"))),


    // ── A23: explicit GROUPING SETS — the irregular-rollup API cube and
    // rollup can't express: (priority, status), (priority), (status) but
    // NOT the grand total. Same Expand → partial agg → one shuffle
    // plan as a10_cube, with Expand emitting exactly the 3 listed sets
    // (cube would emit 4). grouping() disambiguates real NULLs from
    // set-placeholder NULLs in the output contract.
    "a23_grouping_sets" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("ct"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"),
          grouping(col("o_orderpriority")).cast("long").as("g_pri"),
          grouping(col("o_orderstatus")).cast("long").as("g_st"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("ct"), col("total"), col("g_pri"), col("g_st"))
        .orderBy(col("priority"), col("status"))),


    // ── Recursive CTE (Spark 4's WITH RECURSIVE) — iterative graph/
    // hierarchy traversal INSIDE one SQL query: walk the implicit binary
    // tree parent(k) = (k-1) div 2 over contiguous custkeys from root 0
    // and profile each depth level (~log2 n rounds; each round is one
    // join against the anchor-accumulated frontier — the engine runs the
    // same loop Graph.pageRank hand-rolls, planner-managed). Integer
    // keys and decimal balance sums keep every engine's arithmetic
    // exact; DuckDB replays the identical recursion.
    "sql_recursive_cte" -> ((s, dir) =>
      s.sql(s"""WITH RECURSIVE d(k, depth, bal) AS (
        |  SELECT c_custkey, 0, CAST(c_acctbal AS DECIMAL(18,2))
        |  FROM parquet.`$dir/customer.parquet` WHERE c_custkey = 0
        |  UNION ALL
        |  SELECT c.c_custkey, d.depth + 1, CAST(c.c_acctbal AS DECIMAL(18,2))
        |  FROM parquet.`$dir/customer.parquet` c
        |  JOIN d ON (c.c_custkey - 1) div 2 = d.k
        |  WHERE c.c_custkey >= 1)
        |SELECT depth, COUNT(*) AS ct, SUM(k) AS key_sum,
        |  CAST(SUM(bal) AS DOUBLE) AS bal_sum
        |FROM d GROUP BY depth ORDER BY depth""".stripMargin)),


    // ── A24: window navigation with IGNORE NULLS — first/last/nth
    // non-null observation per user over a sparse column (the
    // fill-forward family: a sensor that only sometimes reports). The
    // full-frame spec makes every row of a user agree, so one distinct
    // collapses to per-user rows; (ts, event_id) total order makes the
    // picks deterministic. Nulls are injected on a derived column so the
    // ignore-nulls arm demonstrably skips real rows.
    "a24_window_nav" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_id") % 7 === 0, lit(null).cast("long"))
            .otherwise(get_json_object(col("props"), "$.k").cast("long"))
            .as("k"))
        .select(col("user_id"),
          first(col("k"), ignoreNulls = true).over(w).as("first_k"),
          last(col("k"), ignoreNulls = true).over(w).as("last_k"),
          nth_value(col("k"), 2, ignoreNulls = true).over(w).as("second_k"),
          count(col("k")).over(w).as("nonnull_ct"))
        .distinct()
        .orderBy(col("user_id"))
    }),


    // ── A25: exponential moving average per user — the order-sensitive
    // per-key fold analytics engines expose as an EMA/decay primitive.
    // A window-function closed form ((1-a)^(-j) weights) overflows doubles
    // on long series, so both engines run the SAME sequential fold over
    // the (ts, event_id)-sorted value list (Spark `aggregate` HOF, DuckDB
    // `list_reduce`, seed = first element): identical IEEE op sequence,
    // bitwise-equal doubles, no tolerance needed. Per-key arrays are
    // bounded by events-per-user; unbounded keys take the streaming
    // stateful path instead.
    "a25_ema" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("sort_array(collect_list(struct(ts, event_id, value)))")
            .as("seq"))
        .select(col("user_id"), col("n_events"),
          expr("aggregate(slice(transform(seq, s -> s.value), 2, " +
            "greatest(size(seq) - 1, 0)), transform(seq, s -> s.value)[0], " +
            "(acc, x) -> 0.2D * x + 0.8D * acc)").as("ema"))
        .orderBy(col("user_id"))),


    // ── A25, bounded-state tier: the SAME EMA recurrence folded lazily
    // over a (user, ts, event_id)-secondary-sorted partition — O(1)
    // per-key state instead of collect_list (the t5_rate_limit_sorted
    // pattern); identical IEEE op sequence, so it shares the array
    // tier's oracle verbatim.
    "a25_ema_sorted" -> ((s, dir) =>
      graft.operators.Stats.emaSorted(Tables.events(s, dir),
          col("user_id"), "ts", "event_id", "value", alpha = 0.2)
        .select(col("k").as("user_id"), col("n").as("n_events"), col("ema"))
        .orderBy(col("user_id"))),


    // ── A11: LAG window — per-user inter-event gaps (the session-gap
    // primitive as an analytic function). Exact integer microsecond sums
    // + ONE final division keep the double bit-identical across engines;
    // (user, ts, event_id) ordering makes LAG deterministic under ties.
    // ── Array higher-order functions over per-order line arrays:
    // aggregate (fold), filter+size, exists, transform — the lambda
    // surface a user reshaping nested data needs, each reduced to a
    // scalar/string so the DuckDB comparison is representation-safe
    // (list-valued outputs render differently across engines). Arrays
    // are built deterministically (sort_array over collect_list).
    "f_array_hofs" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(
          sort_array(collect_list(col("l_linenumber").cast("long"))).as("ls"),
          sort_array(collect_list(
            (col("l_quantity").cast("decimal(12,2)") * 100).cast("long")))
            .as("qs"))
        .select(col("l_orderkey"),
          expr("aggregate(qs, 0L, (a, x) -> a + x)").as("q_sum"),
          expr("size(filter(qs, x -> x >= 2500))").cast("long").as("n_big"),
          expr("exists(qs, x -> x = 100)").cast("int").as("has_one"),
          expr("concat_ws(',', transform(ls, x -> cast(x * 2 as string)))")
            .as("ls2_csv"))
        .orderBy(col("l_orderkey"))
    }),


    // ── Map higher-order functions (transform_values / map_filter /
    // entries reshaping) — the map-typed twin of f_array_hofs. The map is
    // built from the same sorted parallel arrays the oracle keeps as
    // lists, so DuckDB replays the lambdas over lists without needing a
    // map type; output is a canonical sorted entries string (map iteration
    // order is not a contract — the sort is).
    "f_map_hofs" -> ((s, dir) => {
      // key = 1-based rank of the sorted quantity (l_linenumber repeats
      // within an order in this data, so it cannot key a map)
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(
          sort_array(collect_list(
            (col("l_quantity").cast("decimal(12,2)") * 100).cast("long")))
            .as("qs"))
        .select(col("l_orderkey"),
          expr("""concat_ws(',', transform(
            sort_array(map_entries(map_filter(
              transform_values(
                map_from_arrays(sequence(1L, cast(size(qs) as long)), qs),
                (k, v) -> v * 2),
              (k, v) -> v >= 5000))),
            e -> concat(cast(e.key as string), ':', cast(e.value as string))))""")
            .as("big_entries"),
          expr("""cast(size(map_from_arrays(
            sequence(1L, cast(size(qs) as long)), qs)) as long)""")
            .as("n_entries"))
        .orderBy(col("l_orderkey"))
    }),


    // ── Count-Min sketch point queries (Frequency.cmsBuild/cmsEstimate)
    // — the mergeable FREQUENCY summary completing the sketch family
    // (a17 HLL ≈ distinct, a22 bitmap = distinct, a26 KMV = set ops,
    // freq_heavy_hitters = exact head): any key's count from d×w=3×1024
    // counters, estimate ≥ truth always (collisions only inflate),
    // cell-wise ADD merges shards. Hash rows are portable md5 over
    // "r:key", so the ORACLE REPLAYS the entire sketch and every
    // estimate bit-exactly — full equality on est, with the ≥-truth
    // verdict pinned alongside. Queried keys: every 37th partkey
    // (present arm) and the same +1e9 (absent arm — estimates may still
    // be >0 via collision, which is the sketch's documented error side).
    "freq_cms_point" -> ((s, dir) => {
      val (w, d) = (1024, 3)
      val li = Tables.lineitem(s, dir)
      val cms = Frequency.cmsBuild(li, col("l_partkey"), w, d)
      val present = li.select(col("l_partkey").as("key"))
        .filter(pmod(col("key"), lit(37L)) === 0).distinct()
      val queries = present.unionByName(
        present.select((col("key") + 1000000000L).as("key")))
      val exact = li.groupBy(col("l_partkey").as("key"))
        .agg(count(lit(1)).as("exact"))
      Frequency.cmsEstimate(cms, queries, col("key"), w, d)
        .join(exact, Seq("key"), "left")
        .select(col("key"), coalesce(col("exact"), lit(0L)).as("exact"),
          col("cms_est"),
          (col("cms_est") >= coalesce(col("exact"), lit(0L)))
            .cast("long").as("ge_ok"))
        .orderBy(col("key"))
    }),


    // ── A26: KMV bottom-k distinct sketch (functions/Kmv.scala) — set
    // OPERATIONS over sketches (union AND intersection estimates), the
    // axis HLL (a17) cannot serve and exact bitmaps (a22) pay the full
    // key universe for. Bounded typed Aggregator: O(k) state per
    // partition, associative merges, ≤k values shuffled per partition.
    // The hash is the portable md5-lower-64 family folded into 2^40, so
    // the ORACLE REPLAYS the whole estimator — sketch content, θ,
    // (k-1)/θ, the union sketch, the Jaccard-scaled intersection —
    // bit-exactly in SQL: full equality, not a tolerance verdict. Two
    // set pairs: customer keys of URGENT vs HIGH orders (below k at
    // sf0.001 — the exact branch: the sketch IS the hashed set) and
    // lineitem orderkeys with returnflag R vs A (above k at every
    // scale — the order-statistic branch).
    "a26_kmv_setops" -> ((s, dir) => {
      import graft.functions.Kmv
      val k = 256
      val kmv = udaf(Kmv.agg(k), org.apache.spark.sql.Encoders.scalaLong)
      def one(pair: String, a: DataFrame, b: DataFrame): DataFrame = {
        // inputs arrive keyed as one column "kx"
        val sa = a.agg(
          kmv(Kmv.hashKey(col("kx").cast("string"))).as("ska"),
          count_distinct(col("kx")).as("exact_a"))
        val sb = b.agg(
          kmv(Kmv.hashKey(col("kx").cast("string"))).as("skb"),
          count_distinct(col("kx")).as("exact_b"))
        val eu = a.union(b).agg(count_distinct(col("kx")).as("exact_union"))
        val ei = a.intersect(b).agg(count(lit(1)).as("exact_inter"))
        sa.crossJoin(sb).crossJoin(eu).crossJoin(ei).select(
          lit(pair).as("pair"),
          col("exact_a"), col("exact_b"), col("exact_union"),
          col("exact_inter"),
          truncate6(Kmv.estimate(col("ska"), k)).as("est_a_t"),
          truncate6(Kmv.estimate(col("skb"), k)).as("est_b_t"),
          truncate6(Kmv.estimate(
            Kmv.unionSketch(col("ska"), col("skb"), k), k)).as("est_union_t"),
          truncate6(Kmv.intersectEstimate(col("ska"), col("skb"), k))
            .as("est_inter_t"))
      }
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      one("cust_priority",
        o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("kx")),
        o.filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_custkey").as("kx")))
        .unionByName(one("flag_orders",
          li.filter(col("l_returnflag") === "R")
            .select(col("l_orderkey").as("kx")),
          li.filter(col("l_returnflag") === "A")
            .select(col("l_orderkey").as("kx"))))
        .orderBy(col("pair"))
    }),


    // ── Retention cohorts: the canonical product-analytics matrix the
    // reference's DWS visitor stats feed (cohort = first active day;
    // cell = distinct users active offset days later). Plan: one
    // distinct on (user, day), a min per user, a user-keyed join (both
    // sides already hashed on user_id — AQE broadcasts the cohort side
    // when small), and a tiny (cohort × offset) agg. The fact table is
    // scanned once.
    "a19_retention_cohorts" -> ((s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val cohorts = days.groupBy(col("user_id"))
        .agg(min(col("d")).as("cohort_d"))
      days.join(cohorts, "user_id")
        .groupBy(date_format(col("cohort_d"), "yyyy-MM-dd").as("cohort_dt"),
          datediff(col("d"), col("cohort_d")).cast("long").as("offset_d"))
        .agg(countDistinct(col("user_id")).as("users"))
        .orderBy(col("cohort_dt"), col("offset_d"))
    }),


    // ── Event-transition matrix (Markov counts): per-user next-event
    // bigrams via ONE window pass (lag over (ts, event_id) — the a11
    // tie-break), aggregated to (prev, next) cells. Path analysis /
    // "what do users do after X" — the per-user shuffle is the only
    // wide exchange; the matrix itself is vocabulary-sized.
    "a20_event_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("ct"),
          countDistinct(col("user_id")).as("users"))
        .orderBy(col("prev_type"), col("event_type"))
    }),


    "a11_event_deltas" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("gap_ct"),
          sum(col("gap_us")).as("gap_sum_us"),
          max(col("gap_us")).as("gap_max_us"))
        .withColumn("avg_gap_sec",
          col("gap_sum_us").cast("double") / (lit(1000000.0) * col("gap_ct")))
        .orderBy(col("user_id"))
    }),


    // ── A27: frequent-pairs co-occurrence mining (the A-priori support
    // step of market-basket analysis) — parts that ship together in one
    // order, support = DISTINCT co-containing orders. Scale shape: the
    // per-order distinct projection first (so multiplicities never
    // inflate the fan-out), then a self-equi-join on the order key —
    // ONE shuffle both sides share (Catalyst reuses the exchange) —
    // with pair fan-out bounded by order size squared (≤C(7,2)=21 for
    // TPC-H-shaped orders), then a keyed count. The p1<p2 canonical
    // order halves the pair space and makes the output a set.
    "a27_frequent_pairs" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy(col("p1"), col("p2"))
    }),


    // ── A28: date-spine gap fill + LOCF — time-series densification
    // (the serving-layer contract that a day with no events is a ZERO
    // row, not a missing row, and a dashboard's "current value" carries
    // the last observation forward). The spine is GENERATED (groups ×
    // sequence(min,max day) — never scanned), the fact table is
    // aggregated once, the left join fills, and last(IGNORE NULLS) over
    // the per-group date order is the carry-forward. The %97 event
    // filter keeps real gaps at every scale (289/300 cells empty at
    // sf0.001, ~10 at sf0.1); locf=-1 marks cells before a group's
    // first observation.
    "a28_gapfill_locf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val daily = ev.filter(col("event_id") % 97 === 0)
        .groupBy(pmod(col("user_id"), lit(10L)).as("grp"),
          to_date(col("ts")).as("dt"))
        .agg(count(lit(1)).as("ct"))
      val spine = ev
        .agg(min(to_date(col("ts"))).as("mn"), max(to_date(col("ts"))).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"))).as("dt"))
        .crossJoin(s.range(0, 10).select(col("id").as("grp")))
      val w = Window.partitionBy(col("grp")).orderBy(col("dt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("grp", "dt"), "left")
        .withColumn("ct0", coalesce(col("ct"), lit(0L)))
        .withColumn("locf",
          coalesce(last(col("ct"), ignoreNulls = true).over(w), lit(-1L)))
        .select(col("grp"), date_format(col("dt"), "yyyy-MM-dd").as("dt"),
          col("ct0"), col("locf"))
        .orderBy(col("grp"), col("dt"))
    }),


    // ── A29: rolling percentiles — exact p50/p95 over a bounded ROWS
    // frame (last 100 points per series), the monitoring primitive
    // ("rolling p95 latency") a15's sum frames don't cover. Exact
    // `percentile` runs as a window AGGREGATE over the frame: state is
    // the 100-row frame, never the series; (ts, event_id) makes the
    // order total so the frame content is deterministic. truncate6 on
    // the interpolated value (the a8 cross-engine contract).
    "a29_rolling_pctl" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-99, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("event_id") % 11 === 0)
        // one percentile(value, array(...)) frame buffer per row, not
        // two (the a8 single-buffer form, r18) — identical interpolation
        .select(col("event_id"), col("event_type"),
          expr("percentile(value, array(0.5, 0.95))").over(w).as("ps"))
        .select(col("event_id"), col("event_type"),
          truncate6(element_at(col("ps"), 1)).as("p50_t"),
          truncate6(element_at(col("ps"), 2)).as("p95_t"))
        .orderBy(col("event_id"))
    }),


    // ── A30: equi-width histogram per group — bounds agg broadcast back,
    // one bucket-count agg; the bucket index is a single fixed IEEE
    // expression both engines replay bit-identically (see Stats.histogram).
    "a30_histogram" -> ((s, dir) =>
      Stats.histogram(Tables.events(s, dir), Seq("event_type"), "value", 10)
        .orderBy(col("event_type"), col("bucket"))),


    // ── A31: time-weighted average — irregular-series mean where each
    // sample holds until the next (telemetry gauges, position marks).
    // Exact integer weighted sums; the oracle replays lead() + the same
    // fixed-point arithmetic.
    "a31_twa" -> ((s, dir) =>
      Stats.timeWeightedAvg(Tables.events(s, dir), Seq("event_type"),
        "ts", "event_id", "value")
        .orderBy(col("event_type"))),


    // ── A34: mutual information + entropies between two categoricals —
    // the feature-relevance readout; one (x,y) cell shuffle, margins
    // re-agg the cell table. Each p·ln term floor-truncates before the
    // exact long sum (the lm-score recipe), so libm ulp drift cannot
    // reach the compare.
    "a34_mutual_info" -> ((s, dir) =>
      Stats.mutualInfo(
        Tables.events(s, dir)
          .withColumn("ub", pmod(col("user_id"), lit(5L))),
        "event_type", "ub")),


    // ── DQ: k-anonymity audit — quasi-identifier group sizes vs the
    // re-identification floor; two-level agg, one keyed shuffle.
    "dq_k_anonymity" -> ((s, dir) =>
      graft.operators.Quality.kAnonymity(Tables.customer(s, dir),
        Seq("c_mktsegment", "c_nationkey"), k = 10L)),


    // ── A35: chi-square independence + Cramér's V — MI's frequentist
    // sibling over the same cell table; exact integer/decimal products,
    // one floor-truncated IEEE division per cell (sqrt is IEEE-exact).
    "a35_chi2" -> ((s, dir) =>
      Stats.chiSquare(
        Tables.events(s, dir)
          .withColumn("ub", pmod(col("user_id"), lit(5L))),
        "event_type", "ub")),


    // ── A33: Welch's t per group — the A/B readout from one
    // conditional-aggregation pass (no pivot, no second shuffle); exact
    // arm sums make t and the Welch–Satterthwaite df engine-exact.
    "a33_welch_ttest" -> ((s, dir) =>
      Stats.welchTTest(
        Tables.events(s, dir)
          .withColumn("variant", pmod(col("user_id"), lit(2L)).cast("int")),
        Seq("event_type"), "variant", "value")
        .orderBy(col("event_type"))),


    // ── DQ: key-skew diagnostic — hottest-key ratio per group, the
    // pre-flight report the j8 salting family consumes. Two-level agg;
    // the hot key travels as a count, never as rows.
    "dq_skew_report" -> ((s, dir) =>
      graft.operators.Quality.keySkewReport(
        Tables.events(s, dir), Seq("event_type"), "user_id")
        .orderBy(col("event_type"))),


    // ── A6: top-N per group (serving-layer ranking)
    "a6_topn_per_group" -> ((s, dir) => {
      customerRevenue(s, dir)
        .withColumn("rnk", row_number().over(byNationRevenue))
        .filter(col("rnk") <= 3)
        .orderBy(col("n_name"), col("rnk"))
    }),


    // ── Data-quality constraint report (Quality.violations): row-local
    // rules fold into ONE full scan (conditional sums — adding a rule
    // adds an expression, not a pass); unique = one key shuffle;
    // referential = tiered anti-probe. The two non-zero rows
    // (unique(l_orderkey) counts multi-line orders as duplicates) prove
    // the counting, the zero rows prove the fixture's invariants.
    "dq_violations" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      Quality.violations(li, Seq(
        Quality.NotNull("l_shipdate"),
        Quality.Range("l_quantity", 1, 50),
        Quality.Range("l_discount", 0.0, 0.1),
        Quality.Matches("l_returnflag", "^[ANR]$"),
        Quality.Unique(Seq("l_orderkey", "l_linenumber")),
        Quality.Unique(Seq("l_orderkey")),
        Quality.RefIntegrity("l_orderkey", Tables.orders(s, dir), "o_orderkey")))
        .orderBy(col("rule"))
    }),


    // ── DQ in-flight metrics via `Observation`: pre-filter row counts /
    // violation tallies / extrema ride the SAME action as the pipeline
    // (AggregatingAccumulator piggybacked on the scan) — at 100 TB the
    // alternative is a second full pass per metric set. The pipeline's
    // own output (kept-row count after the price filter) lands in the
    // same row, so the oracle cross-checks BOTH the observed metrics and
    // the downstream result against one parquet truth. Extrema and
    // integer tallies only — no double sums ride the compare.
    // ── DQ: robust outlier report — median/MAD (the 3σ rule that
    // doesn't break when the outliers ARE the contamination: mean/stddev
    // move with the tail, the median doesn't). Knife-edge-free across
    // engines by construction: prices → integer cents, medians doubled
    // into integers ((a+b)/2·2 = a+b exact in IEEE for ≤2^52 ints), the
    // flag compare 2·d > 3·mad2x2 all-integer — no float threshold can
    // disagree. Three keyed aggs + two broadcast joins back; the fact
    // table is scanned once per agg, never shuffled on a wide key.
    "dq_outliers_mad" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderpriority").as("g"),
        (dec("o_totalprice") * 100).cast("long").as("c"))
      val med = o.groupBy(col("g")).agg(
        (expr("percentile(c, 0.5)") * 2).cast("long").as("med2"))
      val d = o.join(broadcast(med), Seq("g"))
        .withColumn("d", abs(col("c") * 2 - col("med2")))
      val mad = d.groupBy(col("g")).agg(
        (expr("percentile(d, 0.5)") * 2).cast("long").as("mad2x2"))
      d.join(broadcast(mad), Seq("g"))
        .groupBy(col("g"), col("med2"), col("mad2x2"))
        .agg(count(lit(1)).as("n"),
          count(when(col("d") * 2 > col("mad2x2") * 3, 1)).as("outlier_ct"))
        .select(col("g"), col("n"), col("outlier_ct"), col("med2"),
          col("mad2x2"))
        .orderBy(col("g"))
    }),


    "dq_observe" -> ((s, dir) => {
      val obs = org.apache.spark.sql.Observation()
      val kept = Tables.orders(s, dir)
        .observe(obs,
          count(lit(1)).as("rows_seen"),
          sum(when(col("o_totalprice") <= lit(0.0), 1L).otherwise(0L))
            .as("nonpos_price"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L))
            .as("null_date"),
          truncate6(max(col("o_totalprice"))).as("max_price"),
          min(col("o_orderkey")).as("min_key"))
        .filter(col("o_totalprice") > lit(100000.0))
        .count() // the action that both answers the pipeline and fires the metrics
      val m = obs.get
      import s.implicits._
      Seq((m("rows_seen").asInstanceOf[Long],
        m("nonpos_price").asInstanceOf[Long],
        m("null_date").asInstanceOf[Long],
        m("max_price").asInstanceOf[Double],
        m("min_key").asInstanceOf[Long],
        kept))
        .toDF("rows_seen", "nonpos_price", "null_date", "max_price",
          "min_key", "kept_expensive")
    }),


    // ── F1 extension: JSON path extraction on the raw props string —
    // get_json_object is Spark's scan-side JSON accessor (no full parse,
    // no schema needed); the agg proves numeric round-trip parity.
    "f_json_path" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ct"), sum(col("k")).as("k_sum"),
          sum(when(col("k") > 50, 1L).otherwise(0L)).as("k_hi"))
        .orderBy(col("event_type"))),


    // ── F-extension: VARIANT (Spark 4's open semi-structured type) —
    // the engine path for JSON whose schema drifts: parse ONCE to a
    // binary-encoded variant, extract typed fields lazily (no per-query
    // re-tokenization, shredded access at scan time). A nested document
    // is composed per row so path extraction, type coercion (long /
    // double / string arms) and a missing-path null all fire; the oracle
    // recomputes from the raw columns directly — the round-trip through
    // variant must be semantically invisible.
    "f_variant_json" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value"),
          col("props"),
          parse_json(to_json(struct(
            struct(col("user_id").as("id"), col("value").as("v"))
              .as("user"),
            col("props").as("raw"), col("event_type").as("t")))).as("doc"))
        .select(col("event_type"),
          expr("variant_get(doc, '$.user.id', 'long')").as("uid"),
          expr("variant_get(doc, '$.user.v', 'double')").as("v"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
          expr("variant_get(doc, '$.missing.path', 'long')").as("mp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ct"),
          count_distinct(col("uid")).as("users"),
          // decimal sum: v round-trips the variant encoding exactly
          // (shortest-repr JSON doubles), and the decimal makes the SUM
          // reassociation-proof
          sum(col("v").cast("decimal(18,2)")).cast("double").as("v_sum"),
          sum(col("k")).as("k_sum"),
          sum(when(col("mp").isNull, 1L).otherwise(0L)).as("mp_nulls"))
        .orderBy(col("event_type"))),


    // ── F-extension: error-safe arithmetic (try_divide / try_cast /
    // try_to_timestamp) — NULL instead of job-killing exceptions: the
    // posture for dirty data at 100 TB, where one malformed row must not
    // fail a 1000-executor stage. Each arm fires on real rows (qty==50 ⇒
    // divide-by-zero; a non-numeric prefix ⇒ cast failure; a malformed
    // date string ⇒ timestamp failure).
    "f_try_arith" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          try_divide(col("l_extendedprice"),
            col("l_quantity") - lit(50.0)).as("d"),
          expr("""try_cast(
            CASE WHEN l_orderkey % 3 = 0
                 THEN concat('x', cast(l_linenumber as string))
                 ELSE cast(l_linenumber as string) END AS bigint)""").as("n"),
          try_to_timestamp(
            when(col("l_orderkey") % 2 === 0, lit("not-a-date"))
              .otherwise(lit("2024-03-01 12:00:00"))).as("t"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("ct"),
          sum(col("d").isNull.cast("long")).as("div_nulls"),
          // per-term floor to millionths BEFORE the sum (the bm25/lm
          // fixed-point contract): the quotient is one IEEE division,
          // identical in both engines; the long sum cannot reassociate
          sum(when(col("d").isNotNull,
            floor(col("d") * lit(1000000.0)).cast("long")).otherwise(0L))
            .as("d_sum_us"),
          sum(col("n").isNull.cast("long")).as("num_nulls"),
          sum(col("n")).cast("long").as("n_sum"),
          sum(col("t").isNull.cast("long")).as("ts_nulls"))
        .orderBy(col("l_returnflag"))),


    // ── F-extension: calendar arithmetic (date_trunc / add_months /
    // last_day / datediff) — the ETL date surface beyond the reference's
    // toYMDhms family. add_months end-of-month clamping is the semantic
    // trap (Jan 31 + 1 month = Feb 29); both engines clamp, and the
    // oracle's INTERVAL arithmetic replays it. Everything reduces to
    // epoch-day/µs integers so the compare is representation-safe.
    "f_date_arith" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          col("o_orderdate").cast("timestamp").as("d"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("ct"),
          count_distinct(date_trunc("month", col("d"))).as("months"),
          count_distinct(date_trunc("week", col("d"))).as("weeks"),
          min(unix_micros(date_trunc("quarter", col("d")))).as("min_q_us"),
          max(unix_micros(add_months(col("d"), 1).cast("timestamp")))
            .as("max_plus1m_us"),
          max(unix_micros(last_day(col("d")).cast("timestamp")))
            .as("max_eom_us"),
          sum(datediff(lit("2024-12-31").cast("date"), col("d").cast("date"))
            .cast("long")).as("days_to_eoy"))
        .orderBy(col("o_orderpriority"))),


    // ── F-extension: regexp_extract — first digit-run per document
    // (simple character-class pattern, identical semantics in Java regex
    // and RE2; both engines return '' on no-match).
    "f_regex_extract" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_extract(col("text"), "([0-9]+)", 1).as("first_num"))
        .orderBy(col("doc_id"))),


    // ── URL parsing for web corpora: host / path / query-param / fragment
    // via the codegen'd parse_url, plus the apex (registrable-ish) domain
    // — the provenance keys a crawl pipeline groups, filters and
    // mixes sources by. URLs are synthesized deterministically from the
    // documents table; the oracle re-extracts every part with regexes.
    "f_url_parse" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.org/"), col("lang"), lit("/doc/"),
          col("doc_id").cast("string"), lit("?ref=r"),
          pmod(col("doc_id"), lit(7L)).cast("string"), lit("&lang="),
          col("lang"), lit("#sec"),
          pmod(col("doc_id"), lit(3L)).cast("string")))
        .select(col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref"),
          parse_url(col("url"), lit("REF")).as("frag"),
          substring_index(parse_url(col("url"), lit("HOST")), ".", -2)
            .as("apex"))
        .orderBy(col("doc_id"))),


    // ── A15: RANGE window frame — events within the trailing hour of
    // each event (peers by VALUE, not row position: ties in ts all join
    // the frame, so the result is deterministic under any tie order).
    // Output compacted to the per-user PEAK 1-hour burst. Scale shape:
    // one hash exchange on user_id + per-partition sort — same budget as
    // any analytic; the frame scan is linear per partition.
    "a15_range_frame" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("cnt_1h", count(lit(1)).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("cnt_1h")).as("peak_1h"))
        .orderBy(col("user_id"))
    }),


    // ── A14: best-row-per-group as a one-pass AGGREGATE — max_by with a
    // composite bigint sort key (acctbal exact cents, suppkey tiebreak)
    // instead of q2's window+filter: one partial-aggregating shuffle, no
    // sort at all — the cheapest "top supplier per nation" plan at any
    // scale. The bigint key makes tie-breaks identical across engines
    // (DuckDB arg_max accepts scalar keys only).
    "a14_argmax" -> ((s, dir) =>
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          max_by(col("s_name"),
            (col("s_acctbal").cast("decimal(15,2)") * 100).cast("long") * 1000000L
              - col("s_suppkey")).as("top_supplier"),
          max(col("s_acctbal")).cast("double").as("max_bal"))
        .orderBy(col("n_name"))),


    // ── A13: the full analytic-rank suite over one window — rank,
    // dense_rank, percent_rank, ntile in a single per-group sort pass
    // (Spark fuses same-window functions into ONE Window operator: one
    // key shuffle + one sort, however many functions ride it).
    // Fully tie-broken ordering keeps every function deterministic;
    // percent_rank is a single division of small exact ints →
    // bit-identical across engines.
    "a13_rank_suite" -> ((s, dir) => {
      val w = byNationRevenue
      customerRevenue(s, dir)
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("prnk", percent_rank().over(w))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .filter(col("rnk") <= 8)
        .orderBy(col("n_name"), col("rnk"), col("o_custkey"))
    }),


    // ── Set operations: INTERSECT / EXCEPT (distinct semantics) — both
    // compile to one aggregate + semi/anti join on the full row, one
    // shuffle each. Customers active in both halves of 1997 / only H1.
    "set_intersect" -> ((s, dir) => {
      val (h1, h2) = halfYearCustomers(s, dir)
      h1.intersect(h2).orderBy(col("o_custkey"))
    }),


    "set_except" -> ((s, dir) => {
      val (h1, h2) = halfYearCustomers(s, dir)
      h1.except(h2).orderBy(col("o_custkey"))
    }),


    // ── A7: rollup (region -> nation -> grand total in one pass)
    "a7_rollup" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(sum(dec("o_totalprice")).cast("double").as("revenue"),
          count(lit(1)).as("order_ct"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),


    // ── A8: exact percentiles (interpolated) per group; percentile_approx
    // (t-digest, one pass, mergeable) is the 100 TB path for the same call
    "a8_percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        // ONE percentile(col, array(...)) buffer per group, not three:
        // each separate percentile(...) call is its own aggregate
        // holding the full value set (r18 — 3× the aggregation memory
        // and merge traffic for identical interpolations)
        .agg(
          expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
            .as("ps"),
          count(lit(1)).as("ct"))
        .select(col("l_returnflag"),
          truncate6(element_at(col("ps"), 1)).as("p25"),
          truncate6(element_at(col("ps"), 2)).as("p50"),
          truncate6(element_at(col("ps"), 3)).as("p75"),
          col("ct"))
        .orderBy(col("l_returnflag"))),


    // ── A9: sliding (hopping) 60s/30s window — each event lands in two
    // overlapping windows; the oracle expands events with a k∈{0,1}
    // offset join and must agree window for window
    "a9_sliding_window" -> ((s, dir) =>
      Stats.slidingVisitorStats(Tables.events(s, dir))
        .orderBy(col("stt"), col("event_type"))),


    // ── A8 at 100 TB: approx_percentile (mergeable one-pass sketch) with
    // a CHECKED rank-error bound — each estimate must land inside the
    // exact quantile bracket at p ± 3/accuracy; the oracle pins the
    // verdict to 1 next to recomputed exact columns (same shape as the
    // HLL gate a1_product_stats_approx)
    "a8_percentiles_approx" -> ((s, dir) =>
      Stats.percentilesApproxChecked(Tables.lineitem(s, dir))
        .orderBy(col("l_returnflag")))
  )

  /** DuckDB oracle SQL, column-name-aligned with `queries`. */
  def oracleSql: Map[String, String] = Map(

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,


    "q3_order_revenue" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_date, o_orderpriority
        |ORDER BY revenue DESC, o_date, l_orderkey LIMIT 10""".stripMargin,


    "q5_region_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,


    "q4_priority_semi" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    "q6_priority_anti" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey
        |                    AND l_shipdate <= o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    "q6f_filter_agg" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS ct
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,


    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY') OR
        |       (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,


    "q8_market_share" ->
      """WITH j AS (
        |  SELECT year(o_orderdate) AS o_year, n1.n_name AS supp_nation,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(3,2))) AS vol
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'MEDIUM'
        |  JOIN orders ON l_orderkey = o_orderkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey)
        |SELECT o_year,
        |  COALESCE(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol END)
        |    AS DOUBLE), 0) AS nation_volume,
        |  CAST(SUM(vol) AS DOUBLE) AS total_volume,
        |  COALESCE(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol END)
        |    AS DOUBLE), 0) / CAST(SUM(vol) AS DOUBLE) AS mkt_share
        |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin,


    "q10_returned_customers" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,


    "q14_promo_share" ->
      """WITH j AS (
        |  SELECT p_type, CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(3,2))) AS vol
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT
        |  COALESCE(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vol END)
        |    AS DOUBLE), 0) AS promo_revenue,
        |  CAST(SUM(vol) AS DOUBLE) AS total_revenue,
        |  100.0 * COALESCE(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vol END)
        |    AS DOUBLE), 0) / CAST(SUM(vol) AS DOUBLE) AS promo_share
        |FROM j""".stripMargin,


    "q19_or_brackets" ->
      """SELECT COUNT(*) AS ct,
        |  COALESCE(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE), 0) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |          AND l_quantity BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |          AND l_quantity BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
        |          AND l_quantity BETWEEN 20 AND 30))""".stripMargin,


    "q13_order_dist" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN (
        |    SELECT o_orderkey, o_custkey FROM orders
        |    WHERE o_orderpriority <> '1-URGENT') o
        |  ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,


    "q18_big_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
        |  CAST(SUM(l_quantity) AS BIGINT) AS total_qty
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_date, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,


    "q21_wait_suppliers" ->
      """SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,


    "q22_no_urgent" ->
      """SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_nationkey IN (1, 3, 5, 7, 9)
        |  AND CAST(c_acctbal AS DECIMAL(12,2)) * (
        |    SELECT COUNT(*) FROM customer
        |    WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7, 9))
        |  > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer
        |    WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7, 9))
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,


    "freq_heavy_hitters" ->
      """WITH l AS (
        |  SELECT CASE WHEN l_orderkey % 16 < 8 THEN 0
        |              WHEN l_orderkey % 16 < 12 THEN 1
        |              ELSE l_orderkey % 16 - 10 END AS k
        |  FROM lineitem)
        |SELECT k, COUNT(*) AS cnt FROM l
        |GROUP BY k HAVING COUNT(*) * 8 > (SELECT COUNT(*) FROM l)
        |ORDER BY k""".stripMargin,


    "q2_top_supplier" ->
      """SELECT n_name, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
        |                   WHERE s2.s_nationkey = supplier.s_nationkey)
        |ORDER BY n_name, s_name""".stripMargin,


    "q9_profit" ->
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,


    "q11_important_parts" ->
      """WITH pp AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(3,2)))) AS value_dec
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value FROM pp
        |WHERE value_dec * (SELECT COUNT(*) FROM pp)
        |      > (SELECT SUM(value_dec) FROM pp)
        |ORDER BY value DESC, l_partkey""".stripMargin,


    "q12_priority_lines" ->
      """SELECT l_linestatus AS shipmode,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'N'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY shipmode ORDER BY shipmode""".stripMargin,


    "q15_top_revenue_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(3,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,


    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%5')
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,


    "q17_small_qty_revenue" ->
      """SELECT CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 0)
        |    AS DOUBLE) / 7.0 AS avg_yearly,
        |  CAST(COUNT(*) AS BIGINT) AS ct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  AND p_brand = 'Brand#23'
        |WHERE l_quantity * 5 *
        |    (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
        |  < (SELECT SUM(l_quantity) FROM lineitem l2
        |     WHERE l2.l_partkey = part.p_partkey)""".stripMargin,


    "q20_dominant_suppliers" ->
      """WITH lp AS (
        |  SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
        |  JOIN part ON l_partkey = p_partkey WHERE p_name LIKE '%bolt%'),
        |spq AS (
        |  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS sp_qty
        |  FROM lp GROUP BY l_partkey, l_suppkey)
        |SELECT s_suppkey, s_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey AND n_nationkey < 13
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM spq s1
        |  WHERE sp_qty = (SELECT MAX(s2.sp_qty) FROM spq s2
        |                  WHERE s2.l_partkey = s1.l_partkey))
        |ORDER BY s_name""".stripMargin,


    "a12_pivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p1_urgent,
        |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p2_high,
        |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p3_medium,
        |  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p4_notspec,
        |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p5_low
        |FROM orders GROUP BY o_year ORDER BY o_year""".stripMargin,


    "a12b_unpivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CASE o_orderpriority
        |    WHEN '1-URGENT' THEN 'p1_urgent' WHEN '2-HIGH' THEN 'p2_high'
        |    WHEN '3-MEDIUM' THEN 'p3_medium'
        |    WHEN '4-NOT SPECIFIED' THEN 'p4_notspec'
        |    WHEN '5-LOW' THEN 'p5_low' END AS priority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_year, priority
        |ORDER BY o_year, priority""".stripMargin,


    // Spark's skewness/kurtosis are POPULATION moments; DuckDB's skewness
    // is bias-corrected (×√(n(n−1))/(n−2)) and its kurtosis_pop is the
    // population excess — the oracle inverts the skew correction
    // algebraically and uses kurtosis_pop directly.
    "a16_moments" ->
      """SELECT l_returnflag,
        |  floor(stddev_samp(l_quantity)*1000000)/1000000 AS sd_qty,
        |  floor(var_samp(l_quantity)*1000000)/1000000 AS var_qty,
        |  floor((skewness(l_quantity) * (COUNT(*)-2) / sqrt(COUNT(*)*(COUNT(*)-1.0)))*1000000)/1000000 AS skew_qty,
        |  floor(kurtosis_pop(l_quantity)*1000000)/1000000 AS kurt_qty,
        |  floor(corr(l_quantity, l_extendedprice)*1000000)/1000000 AS corr_qp,
        |  floor(covar_samp(l_quantity, l_extendedprice)*1000000)/1000000 AS covar_qp,
        |  COUNT(*) AS ct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "a21_regression" ->
      """SELECT l_returnflag,
        |  floor(regr_slope(l_extendedprice, l_quantity)*1000000)/1000000 AS slope_pq,
        |  floor(regr_intercept(l_extendedprice, l_quantity)*1000000)/1000000 AS icept_pq,
        |  floor(regr_r2(l_extendedprice, l_quantity)*1000000)/1000000 AS r2_pq,
        |  floor(regr_avgx(l_extendedprice, l_quantity)*1000000)/1000000 AS avgx_q,
        |  floor(regr_avgy(l_extendedprice, l_quantity)*1000000)/1000000 AS avgy_p,
        |  regr_count(l_extendedprice, l_quantity) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "a18_stringagg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  COUNT(*) AS ct
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,


    "a17_hll_reagg" ->
      """SELECT n_name, COUNT(DISTINCT o_custkey) AS exact_ct, 1 AS ok
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,


    // bitmap re-agg must return EXACTLY the distinct count — no sketch
    // tolerance anywhere
    "a22_bitmap_reagg" ->
      """SELECT n_name, COUNT(DISTINCT o_custkey) AS exact_distinct
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,


    "a10_cube" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS o_year,
        |  COUNT(*) AS ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderpriority, year(o_orderdate))
        |ORDER BY priority, o_year""".stripMargin,


    "a23_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |                        (o_orderpriority), (o_orderstatus))
        |ORDER BY priority, status""".stripMargin,


    // identical recursion replayed (// is DuckDB's integer division)
    "sql_recursive_cte" ->
      """WITH RECURSIVE d(k, depth, bal) AS (
        |  SELECT c_custkey, 0, CAST(c_acctbal AS DECIMAL(18,2))
        |  FROM customer WHERE c_custkey = 0
        |  UNION ALL
        |  SELECT c.c_custkey, d.depth + 1, CAST(c.c_acctbal AS DECIMAL(18,2))
        |  FROM customer c JOIN d ON (c.c_custkey - 1) // 2 = d.k
        |  WHERE c.c_custkey >= 1)
        |SELECT depth, CAST(COUNT(*) AS BIGINT) AS ct,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  CAST(SUM(bal) AS DOUBLE) AS bal_sum
        |FROM d GROUP BY depth ORDER BY depth""".stripMargin,


    // DuckDB's IGNORE NULLS rides inside the function call; same
    // full-frame spec, same (ts, event_id) total order
    "a24_window_nav" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |         ELSE CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    END AS k
        |  FROM events)
        |SELECT DISTINCT user_id,
        |  first_value(k IGNORE NULLS) OVER w AS first_k,
        |  last_value(k IGNORE NULLS) OVER w AS last_k,
        |  nth_value(k, 2 IGNORE NULLS) OVER w AS second_k,
        |  CAST(COUNT(k) OVER w AS BIGINT) AS nonnull_ct
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id""".stripMargin,


    // Same sequential fold, same (ts, event_id) order: list_reduce's
    // first lambda arg is the accumulator, seeded with the first element
    // exactly like the Spark side's aggregate(slice(...), seq[0], ...)
    "a25_ema" -> emaOracleSql,
    "a25_ema_sorted" -> emaOracleSql,


    "f_array_hofs" ->
      """WITH arr AS (
        |  SELECT l_orderkey,
        |    list_sort(list(CAST(l_linenumber AS BIGINT))) AS ls,
        |    list_sort(list(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT))) AS qs
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |  length(list_filter(qs, x -> x >= 2500)) AS n_big,
        |  CAST(list_contains(qs, 100) AS INT) AS has_one,
        |  array_to_string(list_transform(ls, x -> CAST(x * 2 AS VARCHAR)), ',') AS ls2_csv
        |FROM arr ORDER BY l_orderkey""".stripMargin,


    // the map is built from the same two sorted lists, so the lambdas
    // replay over parallel lists via an index range — no map type needed
    "f_map_hofs" ->
      """WITH arr AS (
        |  SELECT l_orderkey,
        |    list_sort(list(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT))) AS qs
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  -- DuckDB's array_to_string returns NULL on an empty list where
        |  -- Spark's concat_ws returns '' — coalesce to the Spark contract
        |  COALESCE(array_to_string(
        |    list_transform(
        |      list_filter(range(1, length(qs) + 1), i -> qs[i] * 2 >= 5000),
        |      i -> CAST(i AS VARCHAR) || ':' || CAST(qs[i] * 2 AS VARCHAR)),
        |    ','), '') AS big_entries,
        |  CAST(length(qs) AS BIGINT) AS n_entries
        |FROM arr ORDER BY l_orderkey""".stripMargin,


    // replays the whole CMS: same d×w table, same md5("r:key") buckets,
    // same min-over-rows estimate — full equality plus the ≥-truth pin
    "freq_cms_point" ->
      """WITH q AS (SELECT DISTINCT l_partkey AS key FROM lineitem
        |    WHERE l_partkey % 37 = 0
        |  UNION ALL
        |  SELECT DISTINCT l_partkey + 1000000000 FROM lineitem
        |    WHERE l_partkey % 37 = 0),
        |rb AS (SELECT r, CAST(md5_number_lower(CONCAT(CAST(r AS VARCHAR), ':',
        |      CAST(l_partkey AS VARCHAR))) % 1024 AS BIGINT) AS b
        |  FROM lineitem CROSS JOIN (SELECT unnest(range(3)) AS r)),
        |cms AS (SELECT r, b, COUNT(*) AS c FROM rb GROUP BY 1, 2),
        |qrb AS (SELECT key, r, CAST(md5_number_lower(CONCAT(CAST(r AS VARCHAR),
        |      ':', CAST(key AS VARCHAR))) % 1024 AS BIGINT) AS b
        |  FROM q CROSS JOIN (SELECT unnest(range(3)) AS r)),
        |est AS (SELECT key, MIN(COALESCE(c, 0)) AS cms_est
        |  FROM qrb LEFT JOIN cms USING (r, b) GROUP BY key),
        |ex AS (SELECT l_partkey AS key, COUNT(*) AS exact FROM lineitem
        |  GROUP BY 1)
        |SELECT est.key, COALESCE(ex.exact, 0) AS exact, est.cms_est,
        |  CAST(est.cms_est >= COALESCE(ex.exact, 0) AS BIGINT) AS ge_ok
        |FROM est LEFT JOIN ex ON est.key = ex.key
        |ORDER BY est.key""".stripMargin,


    // replays the KMV estimator end to end per set pair: md5-lower-64
    // hashes folded into 2^40, bottom-256 distinct, θ from the k-th order
    // statistic, (k-1)/θ (exact size below k), union sketch = bottom-k of
    // the merged samples, intersection = Jaccard over the union sketch ×
    // the union estimate — identical arithmetic, so equality is bit-exact
    "a26_kmv_setops" -> {
      def pairSql(pair: String, aFrom: String, bFrom: String): String =
        s"""WITH a_keys AS (SELECT DISTINCT kx FROM (SELECT $aFrom)),
           |b_keys AS (SELECT DISTINCT kx FROM (SELECT $bFrom)),
           |ha AS (SELECT DISTINCT CAST(md5_number_lower(CAST(kx AS VARCHAR))
           |    % 1099511627776 AS BIGINT) AS hk FROM a_keys),
           |hb AS (SELECT DISTINCT CAST(md5_number_lower(CAST(kx AS VARCHAR))
           |    % 1099511627776 AS BIGINT) AS hk FROM b_keys),
           |ska AS (SELECT hk FROM ha ORDER BY hk LIMIT 256),
           |skb AS (SELECT hk FROM hb ORDER BY hk LIMIT 256),
           |sku AS (SELECT hk FROM (SELECT hk FROM ska UNION SELECT hk FROM skb)
           |  ORDER BY hk LIMIT 256),
           |stats AS (SELECT
           |    (SELECT COUNT(*) FROM ska) AS na, (SELECT MAX(hk) FROM ska) AS ma,
           |    (SELECT COUNT(*) FROM skb) AS nb, (SELECT MAX(hk) FROM skb) AS mb,
           |    (SELECT COUNT(*) FROM sku) AS nu, (SELECT MAX(hk) FROM sku) AS mu,
           |    (SELECT COUNT(*) FROM sku
           |      WHERE hk IN (SELECT hk FROM ska)
           |        AND hk IN (SELECT hk FROM skb)) AS nmatch),
           |ests AS (SELECT nmatch, nu,
           |    CASE WHEN na < 256 THEN CAST(na AS DOUBLE)
           |      ELSE 255.0 * 1099511627776 / (ma + 1) END AS est_a,
           |    CASE WHEN nb < 256 THEN CAST(nb AS DOUBLE)
           |      ELSE 255.0 * 1099511627776 / (mb + 1) END AS est_b,
           |    CASE WHEN nu < 256 THEN CAST(nu AS DOUBLE)
           |      ELSE 255.0 * 1099511627776 / (mu + 1) END AS est_u
           |  FROM stats)
           |SELECT '$pair' AS pair,
           |  (SELECT COUNT(*) FROM a_keys) AS exact_a,
           |  (SELECT COUNT(*) FROM b_keys) AS exact_b,
           |  (SELECT COUNT(*) FROM (SELECT kx FROM a_keys UNION SELECT kx FROM b_keys)) AS exact_union,
           |  (SELECT COUNT(*) FROM (SELECT kx FROM a_keys INTERSECT SELECT kx FROM b_keys)) AS exact_inter,
           |  floor(est_a*1000000)/1000000 AS est_a_t,
           |  floor(est_b*1000000)/1000000 AS est_b_t,
           |  floor(est_u*1000000)/1000000 AS est_union_t,
           |  floor(CAST(nmatch AS DOUBLE)/CAST(nu AS DOUBLE)*est_u*1000000)/1000000 AS est_inter_t
           |FROM ests""".stripMargin
      val cust = pairSql("cust_priority",
        "o_custkey AS kx FROM orders WHERE o_orderpriority = '1-URGENT'",
        "o_custkey AS kx FROM orders WHERE o_orderpriority = '2-HIGH'")
      val flag = pairSql("flag_orders",
        "l_orderkey AS kx FROM lineitem WHERE l_returnflag = 'R'",
        "l_orderkey AS kx FROM lineitem WHERE l_returnflag = 'A'")
      s"SELECT * FROM ($cust) UNION ALL SELECT * FROM ($flag) ORDER BY pair"
    },


    "a19_retention_cohorts" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |c AS (SELECT user_id, MIN(d) AS cohort_d FROM days GROUP BY user_id)
        |SELECT strftime(c.cohort_d, '%Y-%m-%d') AS cohort_dt,
        |  date_diff('day', c.cohort_d, days.d) AS offset_d,
        |  COUNT(DISTINCT days.user_id) AS users
        |FROM days JOIN c ON days.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    "a20_event_transitions" ->
      """WITH f AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY us, event_id) AS prev_type
        |  FROM f)
        |SELECT prev_type, event_type, COUNT(*) AS ct,
        |  COUNT(DISTINCT user_id) AS users
        |FROM g WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, event_type""".stripMargin,


    "a11_event_deltas" ->
      """WITH f AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT user_id,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
        |  FROM f)
        |SELECT user_id, COUNT(*) AS gap_ct,
        |  CAST(SUM(gap_us) AS BIGINT) AS gap_sum_us,
        |  MAX(gap_us) AS gap_max_us,
        |  CAST(CAST(SUM(gap_us) AS BIGINT) AS DOUBLE) / (1000000.0 * COUNT(*)) AS avg_gap_sec
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,


    "a27_frequent_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
        |FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY p1, p2""".stripMargin,


    "a28_gapfill_locf" ->
      """WITH b AS (SELECT CAST(min(ts) AS DATE) AS mn, CAST(max(ts) AS DATE) AS mx
        |  FROM events),
        |days AS (SELECT CAST(unnest(generate_series(mn::TIMESTAMP, mx::TIMESTAMP,
        |  INTERVAL 1 DAY)) AS DATE) AS dt FROM b),
        |spine AS (SELECT g.grp, d.dt
        |  FROM (SELECT unnest(range(0,10)) AS grp) g CROSS JOIN days d),
        |daily AS (SELECT user_id % 10 AS grp, CAST(ts AS DATE) AS dt,
        |    COUNT(*) AS ct
        |  FROM events WHERE event_id % 97 = 0 GROUP BY 1, 2),
        |f AS (SELECT s.grp, s.dt, d.ct
        |  FROM spine s LEFT JOIN daily d ON s.grp = d.grp AND s.dt = d.dt)
        |SELECT CAST(grp AS BIGINT) AS grp, strftime(dt, '%Y-%m-%d') AS dt,
        |  COALESCE(ct, 0) AS ct0,
        |  COALESCE(last_value(ct IGNORE NULLS) OVER (PARTITION BY grp
        |    ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
        |    AS locf
        |FROM f ORDER BY grp, dt""".stripMargin,


    "a29_rolling_pctl" ->
      """SELECT event_id, event_type,
        |  floor(quantile_cont(value, 0.5) OVER w * 1000000)/1000000 AS p50_t,
        |  floor(quantile_cont(value, 0.95) OVER w * 1000000)/1000000 AS p95_t
        |FROM events WHERE event_id % 11 = 0
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |  ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,


    // two-pass histogram replayed: per-group bounds join back, the same
    // IEEE bucket expression, sparse emission (GROUP BY drops empties)
    "a30_histogram" ->
      """WITH b AS (SELECT event_type, min(value) AS mn, max(value) AS mx
        |  FROM events GROUP BY event_type),
        |x AS (SELECT e.event_type,
        |    CASE WHEN mx = mn THEN 0
        |      ELSE least(CAST(floor((value - mn) * 10 / (mx - mn)) AS BIGINT), 9)
        |    END AS bucket, value
        |  FROM events e JOIN b ON e.event_type = b.event_type)
        |SELECT event_type, bucket, COUNT(*) AS ct,
        |  floor(min(value) * 1000000.0)/1000000.0 AS lo_t,
        |  floor(max(value) * 1000000.0)/1000000.0 AS hi_t
        |FROM x GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,


    // identical fixed-point weighted-sum arithmetic: values in integer
    // millionths, holding interval from lead(), HUGEINT product sum
    "a31_twa" ->
      """WITH s AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP))//1000000 AS sec, event_id,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS vu FROM events),
        |d AS (SELECT event_type, vu,
        |    lead(sec) OVER (PARTITION BY event_type ORDER BY sec, event_id)
        |      - sec AS dt
        |  FROM s)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(dt) AS BIGINT) AS held_s,
        |  CASE WHEN SUM(dt) > 0 THEN
        |    floor((CAST(SUM(CAST(vu AS HUGEINT) * dt) AS DOUBLE)
        |      / (CAST(SUM(dt) AS BIGINT) * 1000000.0)) * 1000000.0)/1000000.0
        |  END AS twa_t
        |FROM d WHERE dt IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,


    // identical fixed-point p·ln-term arithmetic (floor to millionths
    // pre-sum), margins re-aggregated from the same cell table
    "a34_mutual_info" ->
      """WITH c AS (SELECT event_type AS x, user_id % 5 AS y, COUNT(*) AS nxy
        |  FROM events GROUP BY 1, 2),
        |nx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM c GROUP BY 1),
        |ny AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM c),
        |mi AS (SELECT CAST(SUM(CAST(floor(
        |      (CAST(nxy AS DOUBLE) / n) *
        |      ln(CAST(n AS DOUBLE) * nxy / (CAST(nx.nx AS DOUBLE) * ny.ny)) *
        |      1000000.0) AS BIGINT)) AS BIGINT) AS mi_fp
        |  FROM c JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN t),
        |hx AS (SELECT CAST(SUM(CAST(floor(
        |      (-(CAST(nx AS DOUBLE) / n)) * ln(CAST(nx AS DOUBLE) / n) *
        |      1000000.0) AS BIGINT)) AS BIGINT) AS hx_fp
        |  FROM nx CROSS JOIN t),
        |hy AS (SELECT CAST(SUM(CAST(floor(
        |      (-(CAST(ny AS DOUBLE) / n)) * ln(CAST(ny AS DOUBLE) / n) *
        |      1000000.0) AS BIGINT)) AS BIGINT) AS hy_fp
        |  FROM ny CROSS JOIN t)
        |SELECT n, CAST(mi_fp AS DOUBLE)/1000000.0 AS mi_t,
        |  CAST(hx_fp AS DOUBLE)/1000000.0 AS hx_t,
        |  CAST(hy_fp AS DOUBLE)/1000000.0 AS hy_t,
        |  CASE WHEN least(hx_fp, hy_fp) > 0 THEN
        |    floor((CAST(mi_fp AS DOUBLE) / CAST(least(hx_fp, hy_fp) AS DOUBLE))
        |      * 1000000.0)/1000000.0
        |  END AS nmi_t
        |FROM t CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy""".stripMargin,


    "dq_k_anonymity" ->
      """WITH g AS (SELECT c_mktsegment, c_nationkey, COUNT(*) AS sz
        |  FROM customer GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_groups,
        |  CAST(COALESCE(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS groups_below_k,
        |  CAST(COALESCE(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END), 0)
        |    AS BIGINT) AS rows_at_risk,
        |  MIN(sz) AS min_group, MAX(sz) AS max_group
        |FROM g""".stripMargin,


    // identical arithmetic: exact HUGEINT cell products, the same single
    // division per cell floor-truncated pre-sum, IEEE sqrt for V
    "a35_chi2" ->
      """WITH c AS (SELECT event_type AS x, user_id % 5 AS y, COUNT(*) AS nxy
        |  FROM events GROUP BY 1, 2),
        |nx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM c GROUP BY 1),
        |ny AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n,
        |    COUNT(DISTINCT x) AS cx, COUNT(DISTINCT y) AS cy FROM c),
        |g AS (SELECT nx.x, ny.y, nx.nx, ny.ny, COALESCE(c.nxy, 0) AS nxy0
        |  FROM nx CROSS JOIN ny LEFT JOIN c ON c.x = nx.x AND c.y = ny.y),
        |chi AS (SELECT CAST(SUM(CAST(floor(
        |      CAST(CAST(nxy0 AS HUGEINT) * n - CAST(nx AS HUGEINT) * ny
        |        AS DOUBLE)
        |      * (CAST(CAST(nxy0 AS HUGEINT) * n - CAST(nx AS HUGEINT) * ny
        |          AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * nx * ny AS DOUBLE))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS chi_fp
        |  FROM g CROSS JOIN t)
        |SELECT n, CAST(chi_fp AS DOUBLE)/1000000.0 AS chi2_t,
        |  CAST((cx - 1) * (cy - 1) AS BIGINT) AS dof,
        |  CASE WHEN (least(cx, cy) - 1) * n > 0 THEN
        |    floor(sqrt(CAST(chi_fp AS DOUBLE)/1000000.0
        |      / CAST((least(cx, cy) - 1) * n AS DOUBLE)) * 1000000.0)/1000000.0
        |  END AS cramers_v_t
        |FROM t CROSS JOIN chi""".stripMargin,


    // Welch from exact arm sums: the same (Σv² − n·mean²)/(n−1) and
    // Welch–Satterthwaite formulas over identical operands, same op order
    "a33_welch_ttest" ->
      """WITH v AS (SELECT event_type, user_id % 2 AS variant,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS vu FROM events),
        |a AS (SELECT event_type,
        |    COUNT(*) FILTER (WHERE variant = 0) AS n_a,
        |    COUNT(*) FILTER (WHERE variant = 1) AS n_b,
        |    CAST(SUM(vu) FILTER (WHERE variant = 0) AS BIGINT) AS s_a,
        |    CAST(SUM(vu) FILTER (WHERE variant = 1) AS BIGINT) AS s_b,
        |    SUM(CAST(vu AS HUGEINT) * vu) FILTER (WHERE variant = 0) AS s2_a,
        |    SUM(CAST(vu AS HUGEINT) * vu) FILTER (WHERE variant = 1) AS s2_b
        |  FROM v GROUP BY event_type),
        |m AS (SELECT *,
        |    CAST(s_a AS DOUBLE) / n_a / 1000000.0 AS ma,
        |    CAST(s_b AS DOUBLE) / n_b / 1000000.0 AS mb,
        |    ((CAST(s2_a AS DOUBLE) / 1000000000000.0
        |      - n_a * (CAST(s_a AS DOUBLE) / n_a / 1000000.0)
        |            * (CAST(s_a AS DOUBLE) / n_a / 1000000.0)) / (n_a - 1))
        |      / n_a AS sea,
        |    ((CAST(s2_b AS DOUBLE) / 1000000000000.0
        |      - n_b * (CAST(s_b AS DOUBLE) / n_b / 1000000.0)
        |            * (CAST(s_b AS DOUBLE) / n_b / 1000000.0)) / (n_b - 1))
        |      / n_b AS seb
        |  FROM a)
        |SELECT event_type, n_a, n_b,
        |  floor(ma * 1000000.0)/1000000.0 AS mean_a_t,
        |  floor(mb * 1000000.0)/1000000.0 AS mean_b_t,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0 THEN
        |    floor(((ma - mb) / sqrt(sea + seb)) * 1000000.0)/1000000.0
        |  END AS t_t,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0 THEN
        |    floor(((sea + seb) * (sea + seb)
        |      / (sea * sea / (n_a - 1) + seb * seb / (n_b - 1)))
        |      * 1000000.0)/1000000.0
        |  END AS df_t
        |FROM m ORDER BY event_type""".stripMargin,


    // two-level skew rollup; hot key via the same composite arg_max key
    "dq_skew_report" ->
      """WITH c AS (SELECT event_type, user_id, COUNT(*) AS ct
        |  FROM events GROUP BY event_type, user_id)
        |SELECT event_type, CAST(SUM(ct) AS BIGINT) AS total,
        |  COUNT(*) AS n_keys, MAX(ct) AS max_ct,
        |  arg_max(user_id, ct * 100000000000 - user_id) AS hot_key,
        |  floor((MAX(ct) * COUNT(*) / CAST(SUM(ct) AS DOUBLE)) * 1000000.0)
        |    /1000000.0 AS skew_t
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,


    "a6_topn_per_group" ->
      """WITH rev AS (
        |  SELECT n_name, o_custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, o_custkey),
        |r AS (SELECT *, row_number() OVER (PARTITION BY n_name
        |        ORDER BY revenue DESC, o_custkey) AS rnk FROM rev)
        |SELECT n_name, o_custkey, revenue, rnk FROM r WHERE rnk <= 3
        |ORDER BY n_name, rnk""".stripMargin,


    "dq_violations" ->
      """SELECT 'not_null(l_shipdate)' AS rule,
        |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM lineitem
        |UNION ALL SELECT 'range(l_quantity,1.0,50.0)',
        |  CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'range(l_discount,0.0,0.1)',
        |  CAST(SUM(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'matches(l_returnflag,^[ANR]$)',
        |  CAST(SUM(CASE WHEN l_returnflag IS NOT NULL AND NOT regexp_matches(l_returnflag, '^[ANR]$') THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
        |  CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'unique(l_orderkey)',
        |  CAST(COUNT(*) - COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'ref(l_orderkey)',
        |  CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  WHERE l_orderkey IS NOT NULL
        |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |ORDER BY rule""".stripMargin,


    // identical doubled-integer median/MAD arithmetic: quantile_cont's
    // interpolation of adjacent ints is (a+b)/2 — exact, so ·2 is a+b
    "dq_outliers_mad" ->
      """WITH o AS (SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders),
        |m AS (SELECT g, CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) AS med2
        |  FROM o GROUP BY g),
        |d AS (SELECT o.g, abs(c * 2 - med2) AS d, med2
        |  FROM o JOIN m ON o.g = m.g),
        |md AS (SELECT g, CAST(quantile_cont(d, 0.5) * 2 AS BIGINT) AS mad2x2
        |  FROM d GROUP BY g)
        |SELECT d.g, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE d * 2 > mad2x2 * 3) AS outlier_ct,
        |  d.med2, md.mad2x2
        |FROM d JOIN md ON d.g = md.g
        |GROUP BY d.g, d.med2, md.mad2x2 ORDER BY d.g""".stripMargin,


    // observed in-flight metrics AND the downstream filter's answer,
    // cross-checked against one parquet truth
    "dq_observe" ->
      """SELECT COUNT(*) AS rows_seen,
        |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price,
        |  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_date,
        |  floor(MAX(o_totalprice)*1000000)/1000000 AS max_price,
        |  MIN(o_orderkey) AS min_key,
        |  (SELECT COUNT(*) FROM orders WHERE o_totalprice > 100000.0)
        |    AS kept_expensive
        |FROM orders""".stripMargin,


    "f_json_path" ->
      """SELECT event_type, COUNT(*) AS ct,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS k_hi
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    // the variant round-trip must be semantically invisible: the oracle
    // recomputes every extracted field from the raw columns
    "f_variant_json" ->
      """SELECT event_type, COUNT(*) AS ct,
        |  COUNT(DISTINCT user_id) AS users,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v_sum,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  COUNT(*) AS mp_nulls
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    // every try_* arm recomputed via CASE — the quotient is one IEEE
    // division on identical operands, floored to millionths per term
    "f_try_arith" ->
      """SELECT l_returnflag, COUNT(*) AS ct,
        |  CAST(SUM(CASE WHEN l_quantity = 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS div_nulls,
        |  CAST(SUM(CASE WHEN l_quantity = 50 THEN 0
        |    ELSE CAST(FLOOR(l_extendedprice / (l_quantity - 50.0) * 1000000)
        |      AS BIGINT) END) AS BIGINT) AS d_sum_us,
        |  CAST(SUM(CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS num_nulls,
        |  CAST(SUM(CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE l_linenumber END)
        |    AS BIGINT) AS n_sum,
        |  CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ts_nulls
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    // calendar arms replayed in DuckDB interval arithmetic (both engines
    // clamp add-month at end-of-month; week truncation is Monday-start
    // in both)
    "f_date_arith" ->
      """SELECT o_orderpriority, COUNT(*) AS ct,
        |  COUNT(DISTINCT date_trunc('month', CAST(o_orderdate AS TIMESTAMP))) AS months,
        |  COUNT(DISTINCT date_trunc('week', CAST(o_orderdate AS TIMESTAMP))) AS weeks,
        |  MIN(epoch_us(date_trunc('quarter', CAST(o_orderdate AS TIMESTAMP)))) AS min_q_us,
        |  MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 1 MONTH)) AS max_plus1m_us,
        |  MAX(epoch_us(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP))) AS max_eom_us,
        |  CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE), DATE '2024-12-31')) AS BIGINT) AS days_to_eoy
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    "f_regex_extract" ->
      """SELECT doc_id, regexp_extract(text, '([0-9]+)', 1) AS first_num
        |FROM documents ORDER BY doc_id""".stripMargin,


    "f_url_parse" ->
      """WITH d AS (SELECT doc_id,
        |  'https://' || source || '.example.org/' || lang || '/doc/' || doc_id ||
        |  '?ref=r' || (doc_id % 7) || '&lang=' || lang || '#sec' || (doc_id % 3) AS url
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_extract(url, '^https://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1) AS path,
        |  regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref,
        |  regexp_extract(url, '#(.*)$', 1) AS frag,
        |  array_to_string((string_split(
        |    regexp_extract(url, '^https://([^/?#]+)', 1), '.'))[-2:], '.') AS apex
        |FROM d ORDER BY doc_id""".stripMargin,


    "a15_range_frame" ->
      """WITH f AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT user_id,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY us
        |                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS cnt_1h
        |  FROM f)
        |SELECT user_id, MAX(cnt_1h) AS peak_1h
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,


    "a14_argmax" ->
      """SELECT n_name,
        |  arg_max(s_name, CAST(CAST(s_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT) * 1000000 - s_suppkey) AS top_supplier,
        |  CAST(MAX(s_acctbal) AS DOUBLE) AS max_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,


    "a13_rank_suite" ->
      """WITH rev AS (
        |  SELECT n_name, o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, o_custkey),
        |r AS (
        |  SELECT n_name, o_custkey, revenue,
        |    rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |    percent_rank() OVER w AS prnk, ntile(4) OVER w AS quartile
        |  FROM rev WINDOW w AS (PARTITION BY n_name ORDER BY revenue DESC, o_custkey))
        |SELECT * FROM r WHERE rnk <= 8
        |ORDER BY n_name, rnk, o_custkey""".stripMargin,


    "set_intersect" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_custkey""".stripMargin,


    "set_except" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_custkey""".stripMargin,


    "a7_rollup" ->
      """SELECT r_name, n_name,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS order_ct
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,


    "a8_percentiles" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_extendedprice, 0.25)*1000000)/1000000 AS p25,
        |  floor(quantile_cont(l_extendedprice, 0.5)*1000000)/1000000 AS p50,
        |  floor(quantile_cont(l_extendedprice, 0.75)*1000000)/1000000 AS p75,
        |  COUNT(*) AS ct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    // hopping-window expansion: every event belongs to the two 30s-aligned
    // 60s windows covering it — floor(t/30s)*30s and the one before
    "a9_sliding_window" ->
      """WITH k AS (SELECT unnest(range(0, 2)) AS k),
        |w AS (SELECT ((epoch_us(CAST(ts AS TIMESTAMP))//30000000) - k.k)*30000000 AS us,
        |             event_type, user_id, value
        |      FROM events, k)
        |SELECT strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(make_timestamp(us + 60000000), '%Y-%m-%d %H:%M:%S') AS edt,
        |       event_type, COUNT(*) AS pv, COUNT(DISTINCT user_id) AS uv,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
        |FROM w GROUP BY us, event_type ORDER BY us, event_type""".stripMargin,


    // the sketch twin's checked bound: exact columns recomputed, verdict
    // pinned to 1 — if any approx_percentile estimate leaves its exact
    // p ± 3/accuracy rank bracket the engine emits 0 and the hash fails
    "a8_percentiles_approx" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_extendedprice, 0.25)*1000000)/1000000 AS p25,
        |  floor(quantile_cont(l_extendedprice, 0.5)*1000000)/1000000 AS p50,
        |  floor(quantile_cont(l_extendedprice, 0.75)*1000000)/1000000 AS p75,
        |  COUNT(*) AS ct, CAST(1 AS INT) AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
