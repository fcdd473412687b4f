package graft

import graft.functions.TimeFns._
import graft.functions.TextFns._
import graft.functions.VectorFns
import graft.multimodal.Multimodal
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the Gates* registry families: numeric casts,
  * memoized pair scans, CEP pattern definitions, and reusable oracle-SQL
  * fragments.
  */
private[graft] object GateSupport {

  private[graft] def dec(c: String): org.apache.spark.sql.Column =
    col(c).cast("decimal(18,2)")

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
  /** Harness hook (CurveSf1): drop the memo so a re-timed dedup gate pays
    * its full pair scan again instead of reading the first trial's rows. */
  private[graft] def clearNgramPairsMemo(): Unit = ngramPairsMemo.clear()

  private[graft] val MemoMaxPairs = 1 << 22
  private[graft] val ngramPairsMemo =
    new java.util.concurrent.ConcurrentHashMap[
      String, (org.apache.spark.sql.types.StructType,
               Array[org.apache.spark.sql.Row])]()

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

  /** Exhaustive pairwise-Jaccard truth, shared by the inverted-index gate
    * and the prefix-filtered gate: both candidate-generation strategies
    * must land on the identical J >= 0.5 pair set. */
  private[graft] val ngramJaccardOracleSql =
    """WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |      ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] END) AS s
      |  FROM toks),
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
