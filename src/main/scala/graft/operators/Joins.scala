package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface of the reference (SURVEY.md §2.4).
  *
  *  - J1/J2 interval joins (dwm/OrderWideApp.java:87-97,
  *    dwm/PaymentWideApp.java:86-96): equi key + event-time band, one body
  *    for both execution modes. In batch the band is a residual predicate
  *    on a hash join (equi key carries the shuffle); on streaming inputs
  *    the same plan runs as a watermarked stream-stream join.
  *  - J3 dimension enrichment (func/DimAsyncFunction.java + call sites):
  *    the reference's per-record async Phoenix/Redis lookups collapse into
  *    broadcast hash joins — no network round-trips, no cache, and the fact
  *    table never shuffles.
  *  - J4 union (dws/ProductStatsApp.java:188-191): unionByName.
  *  - J5 config-driven routing (dwd/BaseDBApp.java:75-84,
  *    func/TableProcessFunction.java:48-69): broadcast join against a tiny
  *    config table; sinkColumns pruning applied per route.
  */
object Joins {

  /** J1: equi key + time band — right.ts in [left.ts - lowerSec,
    * left.ts + upperSec]. Both sides are watermarked by `watermark`: on a
    * batch plan the optimizer drops `EventTimeWatermark`, so batch callers
    * get the plain band join; on streams an inner join emits as soon as
    * both sides arrive and the watermark only bounds join state retention
    * (Flink's interval-join cleanup), while outer joins null-pad an
    * unmatched row once the watermark passes its band. */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      lowerSec: Long, upperSec: Long,
      watermark: String = "0 seconds",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $lowerSec SECONDS") &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $upperSec SECONDS"),
      joinType)
  }

  /** J3: broadcast-enrich a fact with several small dims (left joins —
    * the reference's lookup-failure drop is a bug, not a spec). */
  def enrich(fact: DataFrame, dims: Seq[(DataFrame, Seq[String])]): DataFrame =
    dims.foldLeft(fact) { case (df, (dim, keys)) =>
      df.join(broadcast(dim), keys, "left")
    }

  /** J5: route rows by a config table (sourceTable/operateType →
    * sinkTable); unmatched rows are dropped exactly like the reference's
    * "no config" branch (TableProcessFunction.java:64-68). */
  def configRoute(facts: DataFrame, config: DataFrame,
      factTable: String, factType: String): DataFrame =
    facts.join(
      broadcast(config),
      facts(factTable) === config("source_table") && facts(factType) === config("operate_type"))

  /** As-of join (left): attach to each left row the payload of the LATEST
    * right row at-or-before (`strict=false`) / strictly-before
    * (`strict=true`) the left row's time, per key. Lefts without a match
    * keep a null payload.
    *
    * Spark has no built-in ASOF join. The equi-join-then-max_by shape
    * multiplies the fact side by the per-key version count before pruning;
    * a theta-join is a cartesian band. This is the union trick instead: tag
    * both sides, sort within key by (ts, side), and carry the last-seen
    * right payload forward with a running window — ONE shuffle on the key,
    * O(|left|+|right|) rows, no join operator at all. The same recipe backs
    * point-in-time feature lookups (train-data joins) at any scale; skew =
    * hot keys, same guards as any keyed shuffle.
    *
    * Rights that tie on (key, ts) are first reduced to their struct-max
    * payload so the result is deterministic under any partitioning (the
    * same tie policy an engine-native ASOF leaves unspecified). */
  def asOfJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      payload: Seq[String],
      asCol: String = "asof",
      strict: Boolean = false): DataFrame = {
    // dedup rights per (key, ts): lexicographic struct max — deterministic.
    // Null-key/null-ts rights are dropped: SQL join semantics (null never
    // matches), where a window partition would lump nulls together.
    val r0 = right
      .filter(col(rightKey).isNotNull && col(rightTs).isNotNull)
      .groupBy(col(rightKey).as("__k"), col(rightTs).as("__ts"))
      .agg(max(struct(payload.map(col): _*)).as("__p"))
    // at equal ts: side 0 sorts before the left row (inclusive semantics),
    // side 2 after it (strict excludes equal-ts rights from the frame)
    val rSide = if (strict) 2 else 0
    val r = r0.withColumn("__side", lit(rSide))
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn(asCol, last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__k", "__ts", "__side", "__p")
  }

  /** Salted equi-join for skewed keys, when the small side is too big to
    * broadcast and AQE's skew splitting isn't enough: the skewed (left)
    * side gets a random salt in [0, buckets), the right side is replicated
    * once per salt value, and the join key becomes (key, salt) — a hot key
    * spreads over `buckets` reducers instead of one straggler.
    *
    * Replication cost is |right| × buckets, so use a modest bucket count
    * and reserve this for the handful of keys AQE can't split (the classic
    * targeted-salting recipe; at 100 TB you'd salt only rows whose key is
    * in a precomputed hot-key set and union the rest unsalted). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      buckets: Int): DataFrame = {
    require(buckets > 0)
    val salted = left.withColumn("__salt", pmod(spark_partition_id()
      + monotonically_increasing_id(), lit(buckets)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Hot keys of `left` by sampled histogram: keys whose row count in a
    * `sampleFraction` row sample reaches `hotMinSampleCount`. Collected to
    * the driver (bounded — this is a handful of keys by construction);
    * more than `maxHotKeys` survivors means the threshold is mis-set for
    * the distribution and salting "only" the hot keys would replicate the
    * right side for most of it, so that throws rather than degrades.
    *
    * The seed is fixed but `df.sample` membership is evaluated per
    * PARTITION, so the sampled histogram — and therefore WHICH keys are
    * flagged hot near the threshold — is only stable while the input's
    * file layout / split planning is (the j8b gate's "flags exactly key 0
    * at every sf" is an empirical property of the committed fixtures, not
    * a guarantee). Correctness never depends on the hot set: the
    * salted/cold union equals the plain join for ANY partition of the
    * keys. A layout-independent selection would need a content-addressed
    * row identity to hash (the HashFns idiom), which a generic join key
    * cannot assume — keys hash whole-key, and hash-sampling BY KEY keeps
    * or drops all of a key's rows, which is useless for a frequency
    * estimate. */
  private[graft] def hotKeys(left: DataFrame, key: String,
      sampleFraction: Double, hotMinSampleCount: Long,
      maxHotKeys: Int): Array[Any] = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val sampled =
      if (sampleFraction >= 1.0) left.select(col(key))
      else left.select(col(key)).sample(withReplacement = false,
        sampleFraction, seed = 42L)
    val hot = sampled.filter(col(key).isNotNull)
      .groupBy(col(key)).count()
      .filter(col("count") >= hotMinSampleCount)
      .orderBy(col("count").desc, col(key))
      .limit(maxHotKeys + 1)
      .collect().map(_.get(0))
    require(hot.length <= maxHotKeys,
      s"more than $maxHotKeys keys exceed the hot threshold " +
        s"$hotMinSampleCount at fraction $sampleFraction — that is not a " +
        "skew tail; raise the threshold or use saltedJoin (salt everything)")
    hot
  }

  /** The two salted legs for a known hot-key set: hot left rows get a
    * uniform salt in [0, buckets); ONLY the right rows whose key is hot
    * are replicated ×buckets. Exposed for the spec that pins the
    * replication is confined to hot keys. */
  private[graft] def saltedLegs(left: DataFrame, right: DataFrame,
      key: String, buckets: Int, hot: Array[Any]): (DataFrame, DataFrame) = {
    val isHot = col(key).isin(hot.toIndexedSeq: _*)
    val hotLeft = left.filter(isHot).withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(buckets)).cast("int"))
    val hotRight = right.filter(isHot).withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    (hotLeft, hotRight)
  }

  /** Targeted hot-key salting — the 100 TB form of [[saltedJoin]]: sample
    * the left side's key histogram, salt ONLY keys above the frequency
    * threshold, and union the unsalted rest. [[saltedJoin]] replicates the
    * ENTIRE right side ×buckets to fix a handful of stragglers; here the
    * replication cost is |right ∩ hot| × buckets — for the typical skew
    * profile (~1% of keys carry the straggler mass) that is a ~100×
    * smaller penalty for the same straggler fix.
    *
    * Inner-join semantics, bit-identical to `left.join(right, key)`
    * whatever the sampled hot set turns out to be: membership in the hot
    * set only moves a key between the salted and plain legs, never changes
    * its matches (null keys match nothing in both formulations). The
    * histogram pass scans the key column only (map-side partial agg), and
    * the hot set ships as an `isin` literal — codegen'd to a hash-set
    * probe on both branch filters. */
  def saltedJoinTargeted(left: DataFrame, right: DataFrame, key: String,
      buckets: Int, sampleFraction: Double = 0.05,
      hotMinSampleCount: Long = 1000L, maxHotKeys: Int = 10000): DataFrame = {
    require(buckets > 0)
    val hot = hotKeys(left, key, sampleFraction, hotMinSampleCount, maxHotKeys)
    if (hot.isEmpty) left.join(right, Seq(key))
    else {
      val isHot = col(key).isin(hot.toIndexedSeq: _*)
      val (hotLeft, hotRight) = saltedLegs(left, right, key, buckets, hot)
      val hotJoined = hotLeft.join(hotRight, Seq(key, "__salt")).drop("__salt")
      // NOT(isHot) is null for null keys, so the filter drops them — which
      // inner join semantics already guarantee contribute nothing.
      val coldJoined = left.filter(!isHot).join(right.filter(!isHot), Seq(key))
      hotJoined.unionByName(coldJoined)
    }
  }

  /** Binned range join: inner-join `points` to `ranges` on containment
    * `lo <= p < hi` — NO equi key on either side. The naive plan for a
    * pure inequality join is BroadcastNestedLoop (or a cartesian), which
    * is |points|×|ranges| comparisons — a non-starter when both sides are
    * large. Binning turns it into an equi join: each range explodes to
    * the `binWidth`-sized bins it overlaps, each point computes its one
    * bin, and the join runs on the bin key with the containment predicate
    * as a residual. This is the classic interval-binning recipe behind
    * IP→location and point-in-window lookups at scale.
    *
    * Cost model: the ranges side replicates ×(span/binWidth + 1), the
    * points side never replicates, and the only shuffle is the bin-key
    * hash exchange — so pick `binWidth` near the median range span (each
    * range then covers ≤2 bins). A range wider than `maxBinsPerRange`
    * bins raises in-plan (`raise_error` inside the explode argument)
    * instead of silently materializing a huge bin array — the fix is a
    * wider `binWidth`, not a degraded answer. Dense bins are ordinary
    * join skew; AQE's skew split applies, same as any hash join.
    *
    * Correctness: all three columns are cast to BIGINT; bin =
    * `x div binWidth` (truncating division) is monotone non-decreasing in
    * x for binWidth > 0, so for any p in [lo, hi), bin(p) lies in the
    * integer interval [bin(lo), bin(hi-1)] that `sequence` enumerates —
    * the cover is exact for negatives too, no floor adjustment needed. A
    * (point, range) candidate arises from exactly one bin (the point's),
    * so matches are emitted exactly once. Empty ranges (hi <= lo) match
    * nothing and are pruned before the explode. */
  def rangeJoinBinned(points: DataFrame, ranges: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      binWidth: Long, maxBinsPerRange: Int = 4096): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val lo = col(loCol).cast("bigint")
    val hi = col(hiCol).cast("bigint")
    val bLo = expr(s"CAST(`$loCol` AS BIGINT) div $binWidth")
    val bHi = expr(s"(CAST(`$hiCol` AS BIGINT) - 1) div $binWidth")
    val expanded = ranges
      .filter(hi > lo)
      .withColumn("__bin", explode(
        when(bHi - bLo >= lit(maxBinsPerRange.toLong), raise_error(concat(
            lit("rangeJoinBinned: range ["), lo, lit(", "), hi,
            lit(s") spans more than maxBinsPerRange=$maxBinsPerRange bins " +
              s"of width $binWidth — widen binWidth"))))
          .otherwise(sequence(bLo, bHi))))
    val pts = points.withColumn("__bin",
      expr(s"CAST(`$pointCol` AS BIGINT) div $binWidth"))
    pts.join(expanded,
        pts("__bin") === expanded("__bin") &&
          pts(pointCol).cast("bigint") >= expanded(loCol).cast("bigint") &&
          pts(pointCol).cast("bigint") < expanded(hiCol).cast("bigint"))
      .drop("__bin")
  }

  /** Bloom-filter pre-join: build a Bloom filter over the build side's
    * join keys (one aggregated pass), ship the few-MB sketch to every
    * fact-scan task, and drop fact rows that cannot match BEFORE the join
    * shuffle. At 100 TB the dominant join cost is shuffling rows that a
    * selective build side will discard anyway; with fpp=1% the filter
    * removes ~99% of them for megabytes of broadcast. False positives
    * pass the filter and are eliminated by the EXACT join that follows,
    * so the result is bit-identical to the plain join — the filter is
    * pure shuffle-volume reduction, never a correctness dependency.
    *
    * This is the explicit form of Spark's own runtime bloom filter
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, which injects
    * the same shape when a selective build side is detected); the
    * explicit operator is for pipelines that KNOW the build side is
    * selective — no reliance on optimizer heuristics, and the filter
    * survives plan shapes the injection rule declines.
    *
    * `expectedKeys` sizes the filter (bits ∝ keys·ln(1/fpp)); oversizing
    * is a few MB of slack, undersizing degrades fpp, never correctness.
    *
    * Key types: any integral pair (both sides cast to bigint, so an int
    * fact key probes the same long-hash space the builder inserted into),
    * or string/string. Anything else throws — a silent class mismatch
    * would make the filter reject every true match, turning "pure
    * shuffle reduction" into an empty join. The probe itself is a native
    * codegen'd expression ([[graft.expressions.BloomMightContain]]), so
    * the pre-filter stays inside the scan's whole-stage-codegen span
    * rather than breaking it the way a Scala UDF would.
    *
    * The build side is computed twice (sketch pass + join); persist it
    * first when its lineage is expensive — for the intended use (a
    * selective dim) both passes are cheap relative to the fact scan
    * they save. */
  def bloomPreFilteredJoin(fact: DataFrame, build: DataFrame,
      factKey: String, buildKey: String,
      expectedKeys: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.{GraftColumnBridge => ExpressionUtils}
    import org.apache.spark.sql.types._
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val fkt = fact.schema(factKey).dataType
    val bkt = build.schema(buildKey).dataType
    val probe: Column = (fkt, bkt) match {
      case (f, b) if integral(f) && integral(b) =>
        // build and probe both as bigint: stat.bloomFilter hashes integral
        // keys as longs, so the explicit cast pins both sides to the same
        // hash space whatever the narrower storage types are
        val bf = build.select(col(buildKey).cast(LongType).as("__bk"))
          .stat.bloomFilter("__bk", expectedKeys, fpp)
        ExpressionUtils.column(graft.expressions.BloomMightContain(
          ExpressionUtils.expression(col(factKey).cast(LongType)), bf))
      case (StringType, StringType) =>
        val bf = build.stat.bloomFilter(buildKey, expectedKeys, fpp)
        ExpressionUtils.column(graft.expressions.BloomMightContain(
          ExpressionUtils.expression(col(factKey)), bf))
      case (f, b) => throw new IllegalArgumentException(
        "bloomPreFilteredJoin needs integral keys on both sides or string " +
          s"keys on both sides; got fact.$factKey: ${f.catalogString}, " +
          s"build.$buildKey: ${b.catalogString}")
    }
    val filtered = fact.filter(probe)
    filtered.join(build, filtered(factKey) === build(buildKey))
  }

  /** Engine-native as-of join via the custom physical operator
    * ([[graft.plans.AsOfJoinExec]]): for each left row, the latest right
    * row with rightTs <= leftTs (strict: <) per key, optionally within
    * `tolerance` (in the time column's internal unit — days for DATE,
    * microseconds for TIMESTAMP, the raw value for integer epochs).
    *
    * The join is declared as a regular `left.join(right, cond, type)`
    * whose condition carries the `graft_asof_on` marker; the injected
    * AsOfJoinStrategy plans it into the single-pass merge exec with
    * SMJ-style required distribution/ordering (so EnsureRequirements
    * co-partitions the sides and a bucketed layout skips the shuffle
    * entirely). Compare `asOfJoin` above: same semantics on a unique
    * (key, ts) right side, but no union widening and O(1) merge state
    * instead of a running window. Right rows that tie on (key, ts) make
    * the match nondeterministic (as in any engine-native ASOF) — dedup
    * them first (see the j19 gate's struct-max recipe).
    *
    * `joinType`: "left" (non-matching left rows survive with nulls) or
    * "inner" (they drop). */
  def asOfJoinExec(
      left: DataFrame, right: DataFrame,
      keys: Seq[(String, String)],
      leftTs: String, rightTs: String,
      strict: Boolean = false,
      tolerance: Option[Long] = None,
      joinType: String = "left"): DataFrame = {
    require(keys.nonEmpty, "as-of join needs at least one equi-key pair")
    graft.expressions.GraftExtensions.ensureRegistered(left.sparkSession)
    val eq = keys.map { case (lk, rk) => left.col(lk) === right.col(rk) }
    val marker = call_function("graft_asof_on",
      left.col(leftTs), right.col(rightTs), lit(strict),
      tolerance.map(lit(_)).getOrElse(lit(null)))
    left.join(right, (eq :+ marker).reduce(_ && _), joinType)
  }
}
