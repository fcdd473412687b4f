package graft.operators

import graft.functions.TextFns._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF machinery over the document corpus: term frequencies, document
  * frequencies, and per-document distinctive-term ranking.
  *
  * Plan shape: tokenize+explode is narrow (scan-side); TF is one shuffle
  * on (doc, term); DF reuses the TF table with one shuffle on term; the
  * ranking join shuffles on term and ranks within doc. At 100 TB the DF
  * table is vocabulary-sized (≪ corpus) — AQE converts the join to a
  * broadcast when it fits, and the high-DF head can be broadcast
  * separately from the long tail if the vocabulary itself is huge.
  *
  * Ranking is by integers only (tf desc, df asc, term asc) — "most
  * frequent, most distinctive" — so results are engine-exact without any
  * floating-point idf convention; a float idf (log(N/df)) drops in as one
  * extra column when a score is wanted.
  */
object TfIdf {

  /** Input size above which [[topTerms]] pins the TF table by default.
    * Below it the recompute is cheaper than the cache write (measured at
    * sf0.1, ~9 MB of documents: recompute wins by ~0.8 s); above it a
    * second full tokenize+explode+aggregate pass over the corpus costs
    * more than spilling the (much smaller) TF table once. 1 GiB is
    * deliberately conservative — the crossover is well below it, but a
    * wrong "persist" above 1 GiB costs a bounded cache write while a
    * wrong "recompute" at corpus scale costs a full second scan. */
  val PersistTfThresholdBytes: Long = 1L << 30

  /** Term frequency per (doc_id, term). */
  def termFreq(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokensWs(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Document frequency per term (from the TF table — rows there are
    * already distinct per (doc, term)). */
  def docFreq(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Top-k distinctive terms per document: highest tf, ties to the rarest
    * (lowest df), then lexicographic.
    *
    * The TF table feeds BOTH join inputs (rows + the df aggregate), and
    * Catalyst does not reuse the exchange across the two consumers — so
    * without intervention the tokenize+explode+aggregate lineage executes
    * TWICE (measured: ~40% of the gate's cost). `tf.persist()` pins one
    * materialization for both reads — the standard multi-consumer move,
    * and at corpus scale a disk-spillable cache beats a second full
    * tokenization scan. (A window-count df over `partitionBy(term)` would
    * be single-lineage with no cache, but shuffles the whole TF table
    * into per-term partitions — a stopword straggler at scale. The df
    * AGGREGATE keeps map-side combine; skew never concentrates.)
    *
    * RESOURCE NOTE: the cached TF blocks must outlive the returned lazy
    * result, so they are not unpersisted here; long-lived sessions issue
    * `spark.catalog.clearCache()` (or unpersist via getPersistentRDDs)
    * once the result is drained, as Bench's hygiene pass does.
    *
    * `persistTf` defaults to SIZE-GATED because the cache write is not
    * free: an in-JVM interleaved A/B (r10, 7 trials; BASELINE.md "r8→r9
    * drift attribution") measured persist at sf0.1 as a consistent
    * LOSS — median 2.59 s vs 1.75 s without (every trial slower) —
    * confirming the r9 driver-bench regression (1.63→2.16 s) was the
    * persist, not load. At small input
    * the cache write + block-manager bookkeeping cost more than the
    * second tokenization scan they avoid; at corpus scale the second
    * full scan dominates and the cache wins. `None` picks per input via
    * Catalyst's file-size stats (no extra scan); `Some(b)` forces. */
  def topTerms(documents: DataFrame, k: Int,
      persistTf: Option[Boolean] = None): DataFrame = {
    val doPersist = persistTf.getOrElse(
      documents.queryExecution.optimizedPlan.stats.sizeInBytes
        >= PersistTfThresholdBytes)
    val tfRaw = termFreq(documents)
    val tf = if (doPersist)
      tfRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else tfRaw
    val df = docFreq(tf)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(df, "term")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk"))
  }

  /** BM25 sparse retrieval: top-k corpus documents per query (Robertson
    * BM25 with the always-positive `ln(1 + (N-df+0.5)/(df+0.5))` idf —
    * the Lucene convention).
    *
    * `corpus` needs (doc_id, text); `queries` needs (query_id, text).
    * Returns (query_id, doc_id, rank, score_fp) where `score_fp` is the
    * score in fixed-point millionths: each per-term contribution is
    * floor-truncated to a long BEFORE the per-(query, doc) sum, so the
    * sum is exact integer arithmetic — order-independent across
    * partitions and bit-identical across engines. (A double sum over a
    * shuffled term set is non-associative; ranking on it would be a
    * cross-engine knife edge.)
    *
    * Plan shape — the inverted-index join, all narrow until the end:
    *   1. TF/DF/doc-length come from ONE tokenize pass (termFreq), one
    *      shuffle on (doc, term).
    *   2. Query terms ⋈ DF on term: both are tiny (queries × query
    *      vocab; vocab ≪ corpus), and the result broadcasts.
    *   3. That broadcast probes the TF table — a scan-side semi-join
    *      that keeps only postings of query terms (the classic inverted
    *      index probe; no corpus shuffle).
    *   4. Surviving postings join doc lengths on doc_id (one shuffle of
    *      the POSTINGS, not the corpus), then aggregate per (query, doc)
    *      with map-side combine and rank per query.
    * At 100 TB the only corpus-sized work is the single tokenize pass;
    * everything after step 3 is proportional to the matched postings. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = corpus
      .select(col("doc_id"), explode(tokensWs(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df = docFreq(tf)
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).cast("double").as("sum_dl"))
    val qterms = queries
      .select(col("query_id"), explode(tokensWs(col("text"))).as("term"))
      .distinct()
    // (query term, df) is queries-sized — broadcast it into the postings
    val probe = broadcast(qterms.join(df, "term"))
    val contrib = tf.join(probe, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
      .withColumn("tfn",
        (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0) - lit(b)
              + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .select(col("query_id"), col("doc_id"),
        floor(col("idf") * col("tfn") * lit(1000000.0)).as("c_fp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c_fp")).as("score_fp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank").cast("long").as("rank"),
        col("score_fp"))
  }
}
