package graft

import graft.functions.TimeFns._
import graft.functions.TextFns._
import graft.functions.VectorFns
import graft.multimodal.Multimodal
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the Gates* registry families: numeric casts,
  * memoized pair scans, CEP pattern definitions, and reusable oracle-SQL
  * fragments.
  */
private[graft] object GateSupport {

  private[graft] def dec(c: String): Column =
    col(c).cast("decimal(18,2)")

  /** A driver-side check as a 1/0 verdict column. */
  private[graft] def flag(b: Boolean): Column = lit(if (b) 1L else 0L)

  /** A gate's scratch scope: a fresh directory under `shmRoot` named for
    * the gate is handed to `body`, the body's frame is materialized
    * unless it already reads only driver-local rows or checkpoints, and
    * the directory is swept whether the body returned or threw. One
    * directory per call, so gates running at once never share one. */
  private[graft] def withScratch(name: String)(
      body: String => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(TmpDirs.shmRoot), s"graft-$name-").toString
    try {
      val out = body(root)
      if (materialized(out)) out else out.localCheckpoint(true)
    } finally TmpDirs.rmTree(root)
  }

  /** True when every leaf of `df`'s plan is a LocalRelation or a
    * materialized checkpoint: nothing it reads can be swept away. */
  private def materialized(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }

  /** A catalog name unique to the scratch dir `root`, for the tables and
    * views a gate registers beside it. */
  private[graft] def scratchName(root: String): String =
    new java.io.File(root).getName.replaceAll("\\W", "_")

  /** Every parquet file under `root`, canonical path -> length. */
  private[graft] def dataFiles(root: String): Map[String, Long] =
    TmpDirs.leafFiles(root).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getCanonicalPath -> f.length()).toMap

  /** The store gates' rows: `orders` keyed by `k` with its price, in
    * `buckets` buckets of `k`. */
  private[graft] def storeBase(s: SparkSession, dir: String,
      buckets: Long = 8L): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), dec("o_totalprice").as("price"),
        pmod(col("o_orderkey"), lit(buckets)).as("bucket"))

  /** The store gates' three merge sources over [[storeBase]]: each
    * updates and deletes in its own buckets, the first two also insert
    * fresh keys. */
  private[graft] def storeMerges(base: DataFrame): Seq[DataFrame] = Seq(
    base.filter(col("bucket") === 2 && col("k") % 3 === 0)
      .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
      .withColumn("op", lit("U"))
      .unionByName(base.filter(col("bucket") === 5 && col("k") % 3 === 1)
        .withColumn("op", lit("D")))
      .unionByName(base.filter(col("bucket") === 2 && col("k") % 3 === 2)
        .withColumn("k", col("k") + 80000000L)
        .withColumn("op", lit("I"))),
    base.filter(col("bucket") === 2 && col("k") % 3 === 0)
      .withColumn("op", lit("D"))
      .unionByName(base.filter(col("bucket") === 7 && col("k") % 5 === 1)
        .withColumn("price", (col("price") * 3).cast("decimal(18,2)"))
        .withColumn("op", lit("U")))
      .unionByName(base.filter(col("bucket") === 7 && col("k") % 5 === 2)
        .withColumn("k", col("k") + 90000000L)
        .withColumn("op", lit("I"))),
    base.filter(col("bucket") === 1 && col("k") % 4 === 0)
      .withColumn("price", (col("price") * 7).cast("decimal(18,2)"))
      .withColumn("op", lit("U"))
      .unionByName(base.filter(col("bucket") === 3 && col("k") % 7 === 2)
        .withColumn("op", lit("D"))))

  /** The skipping gates' store at `path`: `raw` (keyed by `k`) in 16
    * range buckets of `k` as v1, then v2 churns the low-key zone
    * `k <= max/8` (update %3=0, delete %3=1, insert %3=2 at k+80M into
    * bucket 99). Manifests carry `statsCols`. Returns the max key. */
  private[graft] def rangeStore(s: SparkSession, path: String,
      raw: DataFrame, statsCols: Seq[String]): Long = {
    val mx = raw.agg(max(col("k"))).head().getLong(0)
    val low = col("k") <= mx / 8
    val base = raw.withColumn("bucket",
      least(floor(col("k") * 16.0 / (mx + 1)).cast("long"), lit(15L)))
    Versioned.init(s, path, "bucket", base, statsCols = statsCols)
    val b1 =
      base.filter(low && col("k") % 3 === 0)
        .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
        .withColumn("op", lit("U"))
      .unionByName(base.filter(low && col("k") % 3 === 1)
        .withColumn("op", lit("D")))
      .unionByName(base.filter(low && col("k") % 3 === 2)
        .withColumn("k", col("k") + 80000000L)
        .withColumn("bucket", lit(99L))
        .withColumn("op", lit("I")))
    Versioned.merge(s, path, "bucket", "k", b1, statsCols = statsCols)
    mx
  }

  /** A store snapshot per bucket: row count (named `ct`), price sum and
    * key sum. */
  private[graft] def bucketSums(df: DataFrame, ct: String): DataFrame =
    df.groupBy(col("bucket"))
      .agg(count(lit(1)).as(ct),
        sum(col("price")).cast("double").as("price_sum"),
        sum(col("k")).as("key_sum"))

  /** Each tagged frame's (row count, price sum, key sum) in ONE Spark
    * job: the frames run as one tagged union, folded per partition and
    * merged on the driver (a grouped aggregate adds a shuffle stage, a
    * second job under AQE). Tags are seeded from the list, so a frame
    * with no rows answers (0, 0.0, 0) like a per-frame aggregate. */
  private[graft] def probeSums(frames: Seq[(String, DataFrame)])
      : Map[String, (Long, Double, Long)] = {
    type Acc = Map[String, (Long, java.math.BigDecimal, Long)]
    def add(a: (Long, java.math.BigDecimal, Long),
        b: (Long, java.math.BigDecimal, Long)) =
      (a._1 + b._1, a._2.add(b._2), a._3 + b._3)
    val zero = (0L, java.math.BigDecimal.ZERO, 0L)
    val sums = frames
      .map { case (tag, df) => df.select(lit(tag), col("price"), col("k")) }
      .reduce(_ union _).rdd
      .aggregate(Map.empty: Acc)(
        (m, r) => m.updated(r.getString(0), add(m.getOrElse(r.getString(0),
          zero), (1L, r.getDecimal(1), r.getLong(2)))),
        (a, b) => b.foldLeft(a) { case (m, (t, v)) =>
          m.updated(t, add(m.getOrElse(t, zero), v)) })
    frames.map { case (tag, _) =>
      val (n, ps, ks) = sums.getOrElse(tag, zero)
      tag -> ((n, ps.doubleValue, ks))
    }.toMap
  }

  /** The skipping gates' probe verdict over the store at `path`: per
    * (version, probe) the pruned read's (n, price_sum, key_sum), with
    * pruned_ok (planned files a strict subset of the snapshot's) and
    * equal_ok (the pruned answer equals the full-scan filter's). Every
    * summary comes from one [[probeSums]] job. A probe is
    * (label, column, lo, hi); lo == hi reads a point. */
  private[graft] def probeVerdicts(s: SparkSession, path: String,
      versions: Seq[Long], probes: Seq[(String, String, Long, Long)])
      : DataFrame = {
    val runs = for (v <- versions) yield {
      val full = Versioned.read(s, path, v)
      val allFiles = full.inputFiles.length
      probes.map { case (label, c, lo, hi) =>
        val pruned =
          if (lo == hi) Versioned.readPoint(s, path, c, lo, v)
          else Versioned.readRange(s, path, c, lo, hi, v)
        (v, label, pruned, full.filter(col(c) >= lo && col(c) <= hi),
          pruned.inputFiles.length < allFiles)
      }
    }
    val sums = probeSums(runs.flatten.flatMap { case (v, l, got, want, _) =>
      Seq(s"$v/$l/got" -> got, s"$v/$l/want" -> want) })
    import s.implicits._
    runs.flatten.map { case (v, l, _, _, prunedOk) =>
      val got = sums(s"$v/$l/got")
      (v, l, got._1, got._2, got._3, if (prunedOk) 1L else 0L,
        if (got == sums(s"$v/$l/want")) 1L else 0L)
    }.toDF("version", "probe", "n", "price_sum", "key_sum",
      "pruned_ok", "equal_ok")
  }

  /** Oracle replay of [[storeBase]]: the `base` CTE opening a WITH. */
  private[graft] def storeBaseSql(buckets: Int): String =
    s"""WITH base AS (SELECT o_orderkey AS k,
       |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
       |    o_orderkey % $buckets AS bucket FROM orders)""".stripMargin

  /** Oracle replay of the first [[storeMerges]] source over `base`: the
    * `v2` CTE. */
  private[graft] val storeV2Sql: String =
    """v2 AS (
      |  SELECT k, price, bucket FROM base
      |    WHERE NOT (bucket = 5 AND k % 3 = 1)
      |      AND NOT (bucket = 2 AND k % 3 = 0)
      |  UNION ALL
      |  SELECT k, CAST(price * 2 AS DECIMAL(18,2)), bucket FROM base
      |    WHERE bucket = 2 AND k % 3 = 0
      |  UNION ALL
      |  SELECT k + 80000000, price, bucket FROM base
      |    WHERE bucket = 2 AND k % 3 = 2)""".stripMargin

  /** Oracle replay of the second [[storeMerges]] source over `v2`, as the
    * CTE `name`. */
  private[graft] def storeV3Sql(name: String): String =
    s"""$name AS (
       |  SELECT k, price, bucket FROM v2
       |    WHERE NOT (bucket = 2 AND k % 3 = 0)
       |      AND NOT (bucket = 7 AND k % 5 = 1)
       |  UNION ALL
       |  SELECT k, CAST(price * 3 AS DECIMAL(18,2)), bucket FROM base
       |    WHERE bucket = 7 AND k % 5 = 1
       |  UNION ALL
       |  SELECT k + 90000000, price, bucket FROM base
       |    WHERE bucket = 7 AND k % 5 = 2)""".stripMargin

  /** The dedup_semantic* gates' shared verdict block: materializes the
    * dedup result once (three aggregations read it) and reduces it to the
    * oracle-pinned invariants — conservation (n_total), every drop
    * witnessed by an earlier same-cell member above tau, per-cell minima
    * kept, and non-vacuity. Exact keep/drop/witness semantics are pinned
    * by DedupSpec on a constructed fixture; the oracle cannot re-learn
    * centroids in SQL (the sim_topk_ivf pattern). */
  private[graft] def semanticVerdicts(result: org.apache.spark.sql.DataFrame,
      tau: Double): org.apache.spark.sql.DataFrame = {
    val r = result.localCheckpoint(true)
    val minima = r.groupBy(col("cluster_id")).agg(min(col("vec_id")).as("min_id"))
    val minKept = r.join(minima, r("vec_id") === minima("min_id"))
      .agg(coalesce(min(when(col("keep"), 1L).otherwise(0L)), lit(1L))
        .as("minima_kept_ok"))
    val agg = r.agg(
      count(lit(1)).as("n_total"),
      coalesce(min(when(!col("keep"),
          when(col("witness_cos") > tau && col("witness_id") < col("vec_id"), 1L)
            .otherwise(0L))), lit(1L)).as("drops_witnessed_ok"),
      (sum(when(!col("keep"), 1L).otherwise(0L)) > 0).cast("long")
        .as("some_dropped"))
    agg.crossJoin(minKept)
      .select(col("n_total"), col("drops_witnessed_ok"),
        col("minima_kept_ok"), col("some_dropped"))
  }

  /** Bench hook (its `dedup_pair_scan` row): drop the memo so the timed
    * scan pays the full pair scan instead of reading an earlier run's rows. */
  private[graft] def clearNgramPairsMemo(): Unit = ngramPairsMemo.clear()

  private[graft] val MemoMaxPairs = 1 << 22
  private[graft] val ngramPairsMemo =
    new java.util.concurrent.ConcurrentHashMap[
      String, (org.apache.spark.sql.types.StructType,
               Array[org.apache.spark.sql.Row])]()

  /** Per-(application, input-dir) memo of the n-gram near-dup pair set.
    * `dedup_ngram_jaccard`, `dedup_clusters` and `pipe_dedup_survivors`
    * consume the SAME pair set; a real pipeline computes it once and
    * persists it, so re-running the shingle scan per gate triples the
    * measured cost of one logical scan. The pair graph is orders of
    * magnitude smaller than its corpus (near-duplicates only — the same
    * boundedness argument as `Dedup.clusters`' driver fast path), so the
    * memo holds the collected rows and rebuilds a LocalRelation per call:
    * immune to inter-query cache hygiene (unpersist/clearCache) and to
    * the lost-block failure a cross-query localCheckpoint would risk.
    * Graphs above `MemoMaxPairs` are never memoized — and, crucially,
    * never fully materialized on the driver either: the probe collects at
    * most cap+1 rows (`head(cap+1)`), so an above-cap pair graph costs one
    * bounded scan and the caller gets the lazy DataFrame back — the
    * at-scale posture (persist to storage, not driver memory). Values are
    * exact Rows, so oracle hashes are unchanged. */
  private[graft] def sharedNgramPairs(s: SparkSession, dir: String): DataFrame = {
    val key = s.sparkContext.applicationId + "|" + dir
    val cached = Option(ngramPairsMemo.get(key))
    cached match {
      case Some((schema, rows)) =>
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case None =>
        val df = Dedup.ngramJaccardPairs(Tables.documents(s, dir))
        // head(cap+1) bounds driver memory: Spark stops fetching once it
        // has cap+1 rows, so an above-cap graph never lands on the driver
        val rows = df.head(MemoMaxPairs + 1)
        if (rows.length <= MemoMaxPairs) {
          ngramPairsMemo.put(key, (df.schema, rows))
          s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        } else df
    }
  }

  /** The oracles' `toks` CTE (each document's whitespace tokens, the
    * tokensWs replay) and `sh` CTE (its distinct `n`-token shingles, the
    * whole token list when shorter); `hint` is "" or " MATERIALIZED". */
  private[graft] def shingleSql(n: Int, hint: String = ""): String =
    s"""toks AS$hint (SELECT doc_id,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |sh AS$hint (SELECT doc_id,
       |    list_distinct(CASE WHEN len(t) < $n THEN [array_to_string(t, ' ')]
       |      ELSE [array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})] END) AS s
       |  FROM toks)""".stripMargin

  /** Exhaustive pairwise-Jaccard truth, shared by the inverted-index gate
    * and the prefix-filtered gate: both candidate-generation strategies
    * must land on the identical J >= 0.5 pair set. */
  private[graft] val ngramJaccardOracleSql =
    s"""WITH ${shingleSql(3)},
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.s, b.s)) AS i, len(a.s) AS la, len(b.s) AS lb
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(la + lb - i) AS jaccard
      |FROM p WHERE CAST(i AS DOUBLE)/(la + lb - i) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-key EMA truth (seed = first value in (ts, event_id) order,
    * acc' = 0.2x + 0.8acc — one exact IEEE op sequence), shared by the
    * a25 array-tier gate, the r14 sorted bounded-state tier, and the
    * transformWithState streaming twin. */
  private[graft] val emaOracleSql =
    """WITH seq AS (SELECT user_id, COUNT(*) AS n_events,
      |    list(value ORDER BY CAST(ts AS TIMESTAMP), event_id) AS vals
      |  FROM events GROUP BY user_id)
      |SELECT user_id, n_events,
      |  list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc) AS ema
      |FROM seq ORDER BY user_id""".stripMargin

  /** Token-bucket admission truth, shared by the batch fold gate and its
    * transformWithState streaming twin: the identical integer recurrence
    * replayed row-by-row through a recursive CTE. */
  private[graft] val rateLimitOracleSql =
    """WITH RECURSIVE e AS (SELECT user_id % 2 AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP))//1000000//86400 AS tick,
      |    event_id AS vid,
      |    row_number() OVER (PARTITION BY user_id % 2
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
      |  FROM events WHERE event_id % 37 = 0),
      |rec AS (
      |  SELECT k, rn, tick, CAST(4 AS BIGINT) AS tok, TRUE AS acc, vid
      |    FROM e WHERE rn = 1
      |  UNION ALL
      |  SELECT e.k, e.rn, e.tick,
      |      CASE WHEN least(5, r.tok + (e.tick - r.tick)) >= 1
      |        THEN least(5, r.tok + (e.tick - r.tick)) - 1
      |        ELSE least(5, r.tok + (e.tick - r.tick)) END,
      |      least(5, r.tok + (e.tick - r.tick)) >= 1,
      |      e.vid
      |    FROM rec r JOIN e ON e.k = r.k AND e.rn = r.rn + 1)
      |SELECT k, COUNT(*) AS n,
      |  CAST(COUNT(*) FILTER (WHERE acc) AS BIGINT) AS n_acc,
      |  CAST(COUNT(*) FILTER (WHERE NOT acc) AS BIGINT) AS n_rej,
      |  CAST(COALESCE(SUM(vid) FILTER (WHERE acc), 0) AS BIGINT) AS acc_sum,
      |  CAST(COALESCE(SUM(vid) FILTER (WHERE NOT acc), 0) AS BIGINT) AS rej_sum
      |FROM rec GROUP BY k ORDER BY k""".stripMargin



  /** The gate CEP pattern: a strict 3-step conversion funnel. */
  private[graft] def cepFunnelPattern: graft.streaming.Cep.Pattern =
    graft.streaming.Cep.Pattern.begin("view")(_.event_type == "view")
      .next("click")(_.event_type == "click")
      .next("purchase")(_.event_type == "purchase")
      .within(7200L)

  /** Relaxed-contiguity funnel (Flink `followedBy`): each partial consumes
    * the FIRST in-window matching event per step and skips the rest. 24h
    * window because the fixture's median inter-event gap is hours — this
    * is the pattern the data can complete, making matched=true rows
    * oracle-checkable (the strict 2h funnel never completes on it). */
  private[graft] def cepRelaxedPattern: graft.streaming.Cep.Pattern =
    graft.streaming.Cep.Pattern.begin("view")(_.event_type == "view")
      .followedBy("click")(_.event_type == "click")
      .followedBy("purchase")(_.event_type == "purchase")
      .within(86400L)
      // the DuckDB oracle models UNBOUNDED concurrent partials; lift the
      // hot-key force-expiry guard far above any per-user view count so the
      // oracle's assumption is pinned by construction, not by fixture luck
      .copy(maxPartials = 1 << 20)

  /** Quantifier gate: reluctant unbounded loop (Flink `oneOrMore`) over a
    * strictly-consecutive click run — every time-bounded sub-run emits. */
  private[graft] def cepBurstPattern: graft.streaming.Cep.Pattern =
    graft.streaming.Cep.Pattern.begin("click")(_.event_type == "click")
      .oneOrMore.within(86400L)
      .copy(maxPartials = 1 << 20)

  /** Optional-step gate: view → click? → purchase (Flink `optional`) —
    * the purchase may complete straight from the view, skipping the
    * optional click position. */
  private[graft] def cepOptionalPattern: graft.streaming.Cep.Pattern =
    graft.streaming.Cep.Pattern.begin("view")(_.event_type == "view")
      .followedBy("click")(_.event_type == "click").optional
      .followedBy("purchase")(_.event_type == "purchase")
      .within(86400L)
      .copy(maxPartials = 1 << 20)

  /** The affine MinHash permutation family as a DuckDB VALUES list —
    * the SAME constants graft_minhash_bands_p bakes into its signatures
    * (HashFns.permutations), so the oracle recomputes identical sketches. */
  private[graft] def permValuesSql(numPerms: Int): String =
    graft.functions.HashFns.permutations(numPerms).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }
      .mkString(", ")

  /** Hyperplane-bucket SQL with the plane coordinates baked in as double
    * literals (Double.toString round-trips exactly; DuckDB's parser is
    * correctly rounded). The dot product is UNROLLED left-to-right so the
    * float accumulation order matches graft_dot's sequential loop. */
  private[graft] def bucketSql(planes: Seq[Array[Double]], emb: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = p.zipWithIndex
        .map { case (v, d) => s"CAST($emb[${d + 1}] AS DOUBLE)*($v)" }
        .mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** One UNION-ALL branch per plane, via DuckDB's `list_dot_product`
    * kernel — sequential double accumulation, bit-identical to
    * `graft_dot` (the same kernel family the sim_topk cosine oracles
    * pin). An explicit `a+b+c+...` SQL chain is NOT equivalent: DuckDB
    * reassociates long addition chains and drifts a ulp. */
  private[graft] def projSql(planes: Seq[Array[Double]], emb: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(_.toString).mkString("[", ", ", "]")
      s"SELECT vec_id, CAST($i AS BIGINT) AS plane, " +
        s"floor(list_dot_product(CAST($emb AS DOUBLE[]), CAST($arr AS DOUBLE[])) " +
        "* 1e6) / 1e6 AS proj FROM embeddings"
    }.mkString("\nUNION ALL\n")
}
