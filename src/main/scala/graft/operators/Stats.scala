package graft.operators

import graft.functions.TimeFns._
import graft.functions.TextFns._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWS-layer aggregations, re-expressed over the harness star schema.
  *
  * Reference semantics (SURVEY.md §2.5):
  *  - A1 ProductStats (dws/ProductStatsApp.java:202-241): 10s tumbling
  *    event-time window keyed by entity, summed counters + exact distinct
  *    id counts (HashSet in the reference → count_distinct/collect_set here;
  *    approx_count_distinct is the documented 100 TB path).
  *  - A2 VisitorStats (dws/VisitorStatsApp.java:108-141): 10s window over a
  *    multi-key cube cell.
  *  - A3 KeywordStats (dws/KeywordStatsApp.java:56-61): tokenize + count.
  *  - A4 ProvinceStats (dws/ProvinceStatsSqlApp.java:44-52): geo rollup with
  *    distinct order count + money sum.
  *  - A5 GMV serving query (gmall-publisher mapper/ProductStatsMapper.java:10).
  *
  * All are single hash-aggregations: partial (map-side) + final agg, one
  * shuffle on the group keys — the minimal plan shape; survives any scale
  * by growing shuffle partitions.
  */
object Stats {

  /** A1: 10s tumbling window per event_type — counters, exact money sum
    * (decimal; double sums are not reproducible across partitionings),
    * exact distinct users. */
  def productStats(events: DataFrame, windowSec: Int = 10): DataFrame =
    events
      .groupBy(
        stt(col("ts"), windowSec).as("stt"),
        edt(col("ts"), windowSec).as("edt"),
        col("event_type"))
      .agg(
        count(lit(1)).as("ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("amount"),
        count_distinct(col("user_id")).as("user_ct"))

  /** A1 at 100 TB: identical shape with HLL distinct — one pass, merges
    * associatively across executors, constant memory per group. */
  def productStatsApprox(events: DataFrame, windowSec: Int = 10): DataFrame =
    events
      .groupBy(stt(col("ts"), windowSec).as("stt"), col("event_type"))
      .agg(
        count(lit(1)).as("ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("amount"),
        approx_count_distinct(col("user_id")).as("user_ct_approx"))

  /** The HLL twin's correctness gate: computes the exact distinct
    * ALONGSIDE the sketch (exact is the in-gate anchor; the deployed 100 TB
    * operator is [[productStatsApprox]], which never pays for exact) and
    * emits a per-group error-bound verdict. The DuckDB oracle recomputes
    * the exact columns and asserts `within_bound = 1`, so a silent HLL
    * regression (wrong hash, lost sketch merge, rsd drift) hash-fails the
    * gate instead of hiding behind a rows-only check. Bound: 3x the
    * configured standard error (rsd), floored at 2 absolute for tiny
    * groups where the sparse encoding is exact. */
  def productStatsApproxChecked(events: DataFrame, windowSec: Int = 10,
      rsd: Double = 0.05): DataFrame =
    events
      .groupBy(stt(col("ts"), windowSec).as("stt"), col("event_type"))
      .agg(
        count(lit(1)).as("ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("amount"),
        count_distinct(col("user_id")).as("user_ct"),
        approx_count_distinct(col("user_id"), rsd).as("__approx"))
      .select(col("stt"), col("event_type"), col("ct"), col("amount"),
        col("user_ct"),
        (abs(col("__approx") - col("user_ct")).cast("double") <=
          greatest(lit(2.0), lit(3 * rsd) * col("user_ct").cast("double")))
          .cast("int").as("within_bound"))

  /** A8's 100 TB path with a CHECKED bound: `approx_percentile` (one-pass
    * mergeable quantile sketch, constant memory per group) next to the
    * exact interpolated percentiles. The sketch guarantees rank error
    * ≤ n/accuracy, so each estimate must land inside the exact quantile
    * bracket at p ± 3/accuracy — the 3x slack absorbs the ≤1-rank wiggle
    * between interpolation conventions at the bracket edges, mirroring
    * the HLL twin's 3·rsd rule. The gate oracle recomputes the exact
    * columns and pins within_bound = 1 everywhere. */
  def percentilesApproxChecked(lineitem: DataFrame,
      accuracy: Int = 1000): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.75)
    val eps = 3.0 / accuracy
    def arr(qs: Seq[Double]) = qs.mkString("array(", ",", ")")
    // ONE exact-percentile aggregate evaluating all 9 quantiles
    // (lo 1-3, exact 4-6, hi 7-9) over a single shared value buffer —
    // three separate percentile() aggs each built their own
    // ObjectHashAggregate histogram of every group value (the r13
    // force-bench found the triplicate at 3x the gate's cost). Array
    // evaluation interpolates each prob identically, so values are
    // unchanged.
    val probs = ps.map(_ - eps) ++ ps ++ ps.map(_ + eps)
    val checked = ps.indices.map { i =>
      element_at(col("__ap"), i + 1) >= element_at(col("__pcts"), i + 1) &&
        element_at(col("__ap"), i + 1) <= element_at(col("__pcts"), i + 7)
    }.reduce(_ && _)
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        expr(s"percentile(l_extendedprice, ${arr(probs)})").as("__pcts"),
        expr(s"approx_percentile(l_extendedprice, ${arr(ps)}, $accuracy)").as("__ap"),
        count(lit(1)).as("ct"))
      .select(col("l_returnflag"),
        graft.functions.TextFns.truncate6(element_at(col("__pcts"), 4)).as("p25"),
        graft.functions.TextFns.truncate6(element_at(col("__pcts"), 5)).as("p50"),
        graft.functions.TextFns.truncate6(element_at(col("__pcts"), 6)).as("p75"),
        col("ct"), checked.cast("int").as("within_bound"))
  }

  /** Sliding (hopping) windows: each event lands in window/slide
    * overlapping windows — Spark's `window(ts, win, slide)` expands rows
    * BEFORE the aggregation, so shuffle volume (and, on a stream, state)
    * multiplies by the overlap factor. At 100 TB keep slide ≥ window/4 (or
    * aggregate per-slide tumbling panes first and roll panes up into
    * windows — the pane trick — when a fine slide over a wide window is
    * genuinely needed).
    *
    * One body for batch and streaming: the watermark is dropped from batch
    * plans, and on a stream it closes a window once it passes the window
    * END. `uv` is `size(collect_set)` because streaming rejects
    * COUNT(DISTINCT); both are the exact bigint distinct count. */
  def slidingVisitorStats(events: DataFrame, windowSec: Int = 60,
      slideSec: Int = 30, watermark: String = "2 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$windowSec seconds", s"$slideSec seconds"),
        col("event_type"))
      .agg(
        count(lit(1)).as("pv"),
        size(collect_set(col("user_id"))).cast("long").as("uv"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("dur_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type"), col("pv"), col("uv"), col("dur_sum"))

  /** A2: multi-key visitor cube cell (window x type x user bucket). */
  def visitorStats(events: DataFrame, windowSec: Int = 60): DataFrame =
    events
      .groupBy(
        stt(col("ts"), windowSec).as("stt"),
        col("event_type"),
        pmod(col("user_id"), lit(4L)).as("cohort"))
      .agg(
        count(lit(1)).as("pv"),
        count_distinct(col("user_id")).as("uv"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("dur_sum"))

  /** A3: keyword stats — tokenize, explode, count. The filter-before-
    * tokenize order is kept from the reference (KeywordStatsApp.java:40-45);
    * the tokenizer is a deterministic builtin composition so Catalyst may
    * still push the outer filter into the scan. */
  def keywordStats(documents: DataFrame): DataFrame =
    documents
      // same tokens as TextFns.tokensWs, but the empty-token drop is a ROW
      // filter after the explode rather than an array-lambda filter:
      // higher-order functions are interpreted in Spark, so this keeps the
      // whole explode→filter→partial-agg pipeline inside one
      // WholeStageCodegen span (measured 1.4× faster, cold and warm)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("keyword"))
      .filter(col("keyword") =!= "")
      .groupBy(col("keyword"))
      .agg(count(lit(1)).as("ct"))

  /** A4: province-stats analogue — orders rolled up to nation/region with
    * distinct order count and exact money sum. Dims (customer/nation) are
    * broadcast: orders is the only large input, so the plan is
    * scan(orders) -> BHJ -> BHJ -> partial agg -> exchange -> final agg. */
  def provinceStats(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count_distinct(col("o_orderkey")).as("order_ct"),
        count_distinct(col("o_custkey")).as("cust_ct"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("order_amount"))

  /** A5: GMV serving query — daily sum over the stats table. */
  def gmv(orders: DataFrame): DataFrame =
    orders
      .groupBy(toYyyymmdd(col("o_orderdate")).as("dt"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("gmv"),
        count(lit(1)).as("order_ct"))

  /** Equi-width histogram per group — the distribution-profiling
    * primitive (drift monitors, feature binning). Two passes over the
    * fact: a per-group bounds agg (group-cardinality-sized, broadcast
    * back) and one bucket-count agg — no sort, no wide shuffle beyond
    * the keyed aggs, so the plan is scale-flat. The bucket index is one
    * fixed IEEE expression, floor((v-mn)*nb/(mx-mn)) clamped to nb-1,
    * so any engine replaying the same binary64 ops bins identically;
    * a degenerate group (mx == mn) collapses to bucket 0. Empty buckets
    * are not emitted (the report is sparse by design — at 100 TB a
    * dense bucket spine would be groups × nb rows of mostly zeros). */
  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val gs = groupCols.map(col)
    val bounds = df.groupBy(gs: _*)
      .agg(min(col(valueCol)).as("_mn"), max(col(valueCol)).as("_mx"))
    df.join(broadcast(bounds), groupCols)
      .withColumn("bucket",
        when(col("_mx") === col("_mn"), lit(0L)).otherwise(
          least(floor((col(valueCol) - col("_mn")) * buckets /
            (col("_mx") - col("_mn"))).cast("long"), lit(buckets - 1L))))
      .groupBy(gs :+ col("bucket"): _*)
      .agg(count(lit(1)).as("ct"),
        truncate6(min(col(valueCol))).as("lo_t"),
        truncate6(max(col(valueCol))).as("hi_t"))
  }

  /** Time-weighted average over irregularly sampled series — the
    * telemetry/finance mean where each sample holds until the next one
    * (a 5-minute-stale reading must weigh 300× a burst of per-second
    * ones). Weight = seconds until the next sample in the (group, order)
    * series, so the last sample of each group carries no weight (its
    * holding interval is unobserved). Arithmetic is engine-exact: values
    * floor-truncate to integer millionths BEFORE the weighted sum, the
    * term v_u·dt is summed as decimal (a long would overflow at ~1e20),
    * and the final division is one IEEE op on exact operands. One window
    * (the lead) + one keyed agg; the window partitions by the group. At
    * 100 TB the group key must be SERIES-grained (device×metric, user) —
    * millions of modest partitions; a handful of giant groups would
    * funnel each into one sort task (the gate's event_type grouping is
    * for a compact oracle, not the scale shape). */
  def timeWeightedAvg(df: DataFrame, groupCols: Seq[String], tsCol: String,
      tieCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gs = groupCols.map(col)
    val w = Window.partitionBy(gs: _*).orderBy(col("_s"), col(tieCol))
    df.select(gs :+ unix_seconds(col(tsCol).cast("timestamp")).as("_s") :+
        col(tieCol) :+ floor(col(valueCol) * 1e6).cast("long").as("_vu"): _*)
      .withColumn("_dt", lead(col("_s"), 1).over(w) - col("_s"))
      .filter(col("_dt").isNotNull)
      .groupBy(gs: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_dt")).as("held_s"),
        sum(col("_vu").cast("decimal(28,0)") * col("_dt"))
          .cast("decimal(38,0)").as("_num"))
      .withColumn("twa_t",
        when(col("held_s") > 0, truncate6(
          col("_num").cast("double") / (col("held_s") * 1e6))))
      .drop("_num")
  }

  /** Mutual information + marginal entropies between two categorical
    * columns — the feature-relevance / redundancy readout (nats). ONE
    * wide shuffle (the (x, y) cell count); margins and the total are
    * re-aggregations of the CELL table (|X|·|Y| rows, not data) that
    * broadcast back. Engine-exact by the lm-score recipe: each cell's
    * p·ln term floor-truncates to integer millionths BEFORE the exact
    * long sum, so the one place engines could drift (libm ln ulps) is
    * quantized away; MI/H/NMI are then single IEEE divisions of exact
    * longs. NMI = MI/min(H_x, H_y); a zero-entropy margin yields NULL. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("nxy"))
    val nx = cells.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val ny = cells.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).as("n"))
    val mi = cells.join(broadcast(nx), "x").join(broadcast(ny), "y")
      .crossJoin(broadcast(tot))
      .select(floor(
        (col("nxy").cast("double") / col("n")) *
          log(col("n").cast("double") * col("nxy") /
            (col("nx").cast("double") * col("ny"))) *
          lit(1000000.0)).cast("long").as("fp"))
      .agg(sum(col("fp")).as("mi_fp"))
    def entropy(margin: DataFrame, c: String, out: String) =
      margin.crossJoin(broadcast(tot))
        .select(floor(
          (-(col(c).cast("double") / col("n"))) *
            log(col(c).cast("double") / col("n")) *
            lit(1000000.0)).cast("long").as("fp"))
        .agg(sum(col("fp")).as(out))
    tot.crossJoin(mi)
      .crossJoin(entropy(nx, "nx", "hx_fp"))
      .crossJoin(entropy(ny, "ny", "hy_fp"))
      .select(col("n"),
        (col("mi_fp").cast("double") / lit(1000000.0)).as("mi_t"),
        (col("hx_fp").cast("double") / lit(1000000.0)).as("hx_t"),
        (col("hy_fp").cast("double") / lit(1000000.0)).as("hy_t"),
        when(least(col("hx_fp"), col("hy_fp")) > 0, truncate6(
          col("mi_fp").cast("double") /
            least(col("hx_fp"), col("hy_fp")).cast("double"))).as("nmi_t"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns — MI's frequentist sibling (same ONE (x, y) cell shuffle,
    * margins re-aggregate the cell table). chi2 = Σ (n_xy·N − n_x·n_y)² /
    * (N·n_x·n_y): numerator and denominator are exact integer products
    * (decimal — N·n_x·n_y can reach ~1e18·cells), each cell's quotient is
    * ONE IEEE division floor-truncated to millionths before the exact
    * long sum — engine-exact without trusting any libm. Emits chi2, the
    * degrees of freedom (|X|−1)(|Y|−1), and Cramér's V =
    * sqrt(chi2 / (N·min(|X|,|Y|)−N)) for an effect size that doesn't
    * grow with N. */
  def chiSquare(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("nxy"))
    val nx = cells.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val ny = cells.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).as("n"),
      count_distinct(col("x")).as("cx"), count_distinct(col("y")).as("cy"))
    // the statistic runs over the FULL |X|·|Y| grid — an absent cell
    // contributes (0·N − n_x·n_y)²/(N·n_x·n_y); the grid is margin-table-
    // sized (categorical cardinalities), never data-sized
    val chi = nx.crossJoin(broadcast(ny))
      .join(cells, Seq("x", "y"), "left")
      .withColumn("nxy0", coalesce(col("nxy"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(floor(
        (col("nxy0").cast("decimal(20,0)") * col("n") -
          col("nx").cast("decimal(20,0)") * col("ny"))
          .cast("decimal(38,0)").cast("double") *
          ((col("nxy0").cast("decimal(20,0)") * col("n") -
            col("nx").cast("decimal(20,0)") * col("ny"))
            .cast("decimal(38,0)").cast("double") /
            (col("n").cast("decimal(20,0)") * col("nx") * col("ny"))
              .cast("decimal(38,0)").cast("double")) *
          lit(1000000.0)).cast("long").as("fp"))
      .agg(sum(col("fp")).as("chi_fp"))
    tot.crossJoin(chi)
      .select(col("n"),
        (col("chi_fp").cast("double") / lit(1000000.0)).as("chi2_t"),
        ((col("cx") - 1) * (col("cy") - 1)).as("dof"),
        when((least(col("cx"), col("cy")) - 1) * col("n") > 0, truncate6(
          sqrt(col("chi_fp").cast("double") / lit(1000000.0) /
            ((least(col("cx"), col("cy")) - 1) * col("n")).cast("double"))))
          .as("cramers_v_t"))
  }

  /** Welch's unequal-variance t statistic per group — the A/B-test
    * readout (treatment vs control on a metric, per experiment cell).
    * ONE conditional-aggregation pass: n/Σv/Σv² per arm ride the same
    * scan as filtered sums, no pivot, no second shuffle. Sums are exact
    * (values in integer millionths; the square sum in decimal — 1e6 rows
    * of (1e9)² overflow a long), so mean/variance/t/df come out of a
    * fixed IEEE formula over exact operands: bit-identical on any
    * engine. Emits t and the Welch–Satterthwaite df; arms with n<2 or
    * zero pooled variance yield NULL rather than ±Inf. `variantCol`
    * must be 0/1 (control/treatment). */
  def welchTTest(df: DataFrame, groupCols: Seq[String], variantCol: String,
      valueCol: String): DataFrame = {
    val gs = groupCols.map(col)
    val vu = floor(col(valueCol) * 1e6).cast("long")
    def arm(v: Int, tag: String) = Seq(
      count(when(col(variantCol) === v, 1)).as(s"n_$tag"),
      sum(when(col(variantCol) === v, vu)).as(s"_s_$tag"),
      sum(when(col(variantCol) === v, vu.cast("decimal(28,0)") * vu))
        .cast("decimal(38,0)").as(s"_s2_$tag"))
    val aggs = arm(0, "a") ++ arm(1, "b")
    def m(t: String) = col(s"_s_$t").cast("double") / col(s"n_$t") / 1e6
    // var_samp from exact sums: (Σv² − n·mean²)/(n−1), v in units
    def va(t: String) =
      (col(s"_s2_$t").cast("double") / 1e12 -
        col(s"n_$t") * m(t) * m(t)) / (col(s"n_$t") - 1)
    def se2(t: String) = va(t) / col(s"n_$t")
    val pooled = se2("a") + se2("b")
    df.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
      .withColumn("mean_a_t", truncate6(m("a")))
      .withColumn("mean_b_t", truncate6(m("b")))
      .withColumn("t_t",
        when(col("n_a") > 1 && col("n_b") > 1 && pooled > 0,
          truncate6((m("a") - m("b")) / sqrt(pooled))))
      .withColumn("df_t",
        when(col("n_a") > 1 && col("n_b") > 1 && pooled > 0,
          truncate6(pooled * pooled / (
            se2("a") * se2("a") / (col("n_a") - 1) +
            se2("b") * se2("b") / (col("n_b") - 1)))))
      .select(gs ++ Seq(col("n_a"), col("n_b"), col("mean_a_t"),
        col("mean_b_t"), col("t_t"), col("df_t")): _*)
  }

  /** Bounded-state tier of the per-key EMA (the a25 fold): identical
    * recurrence (seed = first value in (ts, tie) order; acc' = α·x +
    * (1−α)·acc, the exact IEEE op sequence of the array tier's HOF and
    * the oracle's list_reduce) folded in ONE lazy pass over a
    * (key, ts, tie)-secondary-sorted partition — per-key state is one
    * (acc, n) pair instead of the array tier's collect_list, so a key
    * with 10⁹ events streams through a task (the
    * [[Quota.tokenBucketSorted]] pattern). Returns (k, n, ema). */
  def emaSorted(df: DataFrame, keyCol: org.apache.spark.sql.Column,
      tsCol: String, tieCol: String, valueCol: String,
      alpha: Double): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    val beta = 1.0 - alpha
    val evs = df.select(keyCol.as("k"), col(tsCol).as("ts"),
      col(tieCol).as("tie"), col(valueCol).cast("double").as("v"))
    val keyType = evs.schema("k").dataType
    val outSchema = StructType(Seq(
      StructField("k", keyType),
      StructField("n", LongType, nullable = false),
      StructField("ema", DoubleType, nullable = false)))
    evs.repartition(col("k"))
      .sortWithinPartitions(col("k"), col("ts"), col("tie"))
      .mapPartitions { it =>
        new Iterator[Row] {
          private var pending: Row = null
          private var cur: Row = null
          private def summarize(): Unit = {
            val key = cur.get(0)
            var acc = cur.getDouble(3)
            var n = 1L
            var row: Row = if (it.hasNext) it.next() else null
            while (row != null &&
                java.util.Objects.equals(row.get(0), key)) {
              acc = alpha * row.getDouble(3) + beta * acc
              n += 1L
              row = if (it.hasNext) it.next() else null
            }
            cur = row
            pending = Row(key, n, acc)
          }
          override def hasNext: Boolean = {
            if (pending == null && cur != null) summarize()
            if (pending == null && it.hasNext) { cur = it.next(); summarize() }
            pending != null
          }
          override def next(): Row = {
            if (!hasNext) throw new NoSuchElementException
            val r = pending; pending = null; r
          }
        }
      }(Encoders.row(outSchema))
  }
}
