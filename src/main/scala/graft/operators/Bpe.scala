package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge induction (Sennrich et al. 2016,
  * arXiv:1508.07909) — the tokenizer-vocabulary learning step of a
  * training-data pipeline, distributed Spark-first.
  *
  * Shape: the corpus is scanned ONCE to build the word-count vocabulary
  * (one shuffle on word); every merge round after that runs on the
  * VOCABULARY table — vocabulary-sized (≪ corpus), cached, linear
  * lineage. Per round: adjacent symbol pairs explode scan-side over the
  * cached vocab, one weighted-count aggregate picks the argmax pair
  * (ties: count desc, then lexicographic), and the merge applies as a
  * pure per-row fold. The only driver reads are one row per round (the
  * winning pair) — the bounded-metadata pattern, same as k-means
  * centroids.
  *
  * Merge application is a left-to-right greedy fold over the symbol
  * array, tracking the accumulated TAIL symbol: if the tail equals
  * `lhs` and the next symbol equals `rhs`, the tail grows by `rhs`
  * (the merge); otherwise the tail is emitted and restarts at the next
  * symbol. A newly formed merge can never re-match as `lhs` in the
  * same round (its text is lhs+rhs ≠ lhs since rhs is non-empty), so
  * the fold is exactly the sequential greedy scan — and it is
  * replayable operand-for-operand in the DuckDB oracle via list_reduce
  * (which '|'-joins its accumulator, hence the oracle-side no-'|'
  * corpus precondition below).
  *
  * The merge-application tiers ([[applyMerge]], [[applyMergeSet]], hence
  * [[merges]]/[[mergesBatched]]/[[encode]]/[[encodeBatches]]) run the
  * native [[graft.expressions.MergeFold]] kernel since r18 — it compares
  * WHOLE symbols (like [[encodeTable]]), so a literal '|' in a token no
  * longer corrupts the engine side (BpeSpec pins kernel/encodeTable
  * agreement on a constructed pipe word). The no-'|' corpus PRECONDITION
  * survives only as an ORACLE-REPLAY contract: the DuckDB fold oracles
  * still encode the accumulator as a '|'-joined string, so a pipe-bearing
  * corpus would diverge engine-vs-oracle — asserted loudly gate-side.
  *
  * Durability: generations roll forward via `localCheckpoint` (blocks in
  * executor storage, NOT on reliable storage) — an executor loss during
  * induction fails the job and induction restarts from the corpus. The
  * trade is deliberate: induction is minutes-scale and restartable, and
  * reliable checkpointing would pay a distributed-FS write per round.
  */
object Bpe {

  /** Free a prior generation's `localCheckpoint` storage — without
    * this, peak executor storage grows one vocabulary copy per round
    * until the ContextCleaner happens to collect the dropped references.
    * Precise (frees exactly the wrapped RDD): see [[CheckpointUtil]]. */
  private def freeCheckpoint(df: DataFrame): Unit = CheckpointUtil.free(df)

  /** Adjacent symbol pairs of a symbol array, as (a, b) structs. */
  private def adjPairs(syms: Column): Column =
    when(size(syms) < 2, array().cast("array<struct<a:string,b:string>>"))
      .otherwise(transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("a"),
          element_at(syms, i + 1).as("b"))))

  /** Greedy left-to-right application of a SET of merge rules in one
    * pass. Exact equivalent of applying the rules one-by-one when
    * the rules are pairwise TRIPLE-DISJOINT ({lhs, rhs, lhs+rhs} sets
    * share no symbol, the [[mergesBatched]] selection invariant): a
    * merge's output symbol is then never an operand of another rule, so
    * merges cannot cascade within the batch, and each adjacent pair in
    * the pre-batch stream merges iff its rule is in the set — the same
    * decision the per-rule sequential scans make.
    *
    * Since r18 this is the native [[graft.expressions.MergeFold]]
    * kernel (one JVM walk per row, rules hashed once per task), not the
    * Catalyst `aggregate` HOF fold: HOFs evaluate interpreted per
    * element, and the fold's `batchSize` OR-terms of
    * `endswith(concat("|", acc), …)` copied the whole accumulated
    * string per element — O(batch × |unit|²) character traffic per row
    * against the kernel's one hash probe per adjacent pair (measured
    * 6.5× on text_bpe_merges_xl's 64-rule batches over 128-char units).
    * The kernel compares whole symbols, so the '|'-in-symbol corruption
    * of the string fold is gone; the no-'|' PRECONDITION remains for
    * ORACLE REPLAY parity only (the DuckDB fold oracles still
    * '|'-encode — BpeSpec pins the kernel/encodeTable agreement). */
  private[graft] def applyMergeSet(syms: Column,
      rules: Seq[(String, String)]): Column =
    if (rules.isEmpty) syms
    else call_function("graft_merge_fold", syms,
      array(rules.flatMap { case (l, r) => Seq(lit(l), lit(r)) }: _*))

  /** Greedy left-to-right application of one merge rule to a symbol
    * array (the singleton [[applyMergeSet]]). */
  private[graft] def applyMerge(syms: Column, lhs: String, rhs: String): Column =
    applyMergeSet(syms, Seq((lhs, rhs)))

  /** Learn `rounds` BPE merges over the corpus. Returns one row per
    * round: (round, lhs, rhs, ct, syms_after) where `ct` is the
    * corpus-weighted frequency of the merged pair and `syms_after` the
    * corpus-weighted total symbol count after applying it (strictly
    * decreasing by `ct` each round — the compression ledger).
    *
    * Eager (like trainCentroids): each round materializes the argmax
    * pair — one driver row per round. Each generation is
    * `localCheckpoint`ed (vocabulary-sized, eager): rolling the vocab
    * forward under plain `persist` keeps the whole applyMerge lineage in
    * the logical plan, and re-canonicalizing that growing tree for cache
    * substitution every round made induction QUADRATIC in rounds
    * (measured at sf0.1: 8 rounds 4 s, 16 rounds 55 s); the checkpoint
    * truncates the plan to a constant-depth scan per round. */
  def merges(documents: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = documents.sparkSession
    import spark.implicits._

    var vocab = documents
      .select(explode(TextFns.tokensWs(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wct"))
      .select(col("word"), col("wct"),
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"))
      .localCheckpoint(true)

    val ledger = Seq.newBuilder[(Long, String, String, Long, Long)]
    for (r <- 1 to rounds) {
      val top = vocab
        .select(col("wct"), explode(adjPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wct")).as("ct"))
        .orderBy(col("ct").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (lhs, rhs, ct) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val prev = vocab
        vocab = vocab
          .select(col("word"), col("wct"),
            applyMerge(col("syms"), lhs, rhs).as("syms"))
          .localCheckpoint(true)
        freeCheckpoint(prev) // next generation is materialized; hold 2, not O(rounds)
        val symsAfter = vocab
          .agg(sum(col("wct") * size(col("syms"))).cast("long")).as[Long].head()
        ledger += ((r.toLong, lhs, rhs, ct, symsAfter))
      }
    }
    freeCheckpoint(vocab)
    ledger.result().toDF("round", "lhs", "rhs", "ct", "syms_after")
  }

  /** Batched BPE merge induction — the rounds-dimension scale path.
    *
    * [[merges]] runs one driver-coordinated round per merge; real
    * tokenizers need 10³–10⁵ merges, where per-round job-scheduling
    * latency (~1 s on a busy cluster) dominates the vocabulary-sized
    * work. This variant learns up to `batchSize` merges per round:
    *
    *   1. count every adjacent pair of the current vocabulary;
    *   2. take the top-`window` candidate pairs ordered by
    *      (ct DESC, a, b) — bounded driver metadata, `window` rows;
    *   3. greedily select candidates whose TRIPLE sets {lhs, rhs,
    *      lhs+rhs} are pairwise disjoint, stopping at `batchSize`.
    *      Disjointness makes the snapshot counts exact at application
    *      time (merging one selected pair can neither create nor
    *      destroy occurrences of another) and merges non-cascading, so
    *      the batch applies in ONE fold pass ([[applyMergeSet]]) in any
    *      order. SELF-PAIRS (lhs == rhs) select with RUN-AWARE
    *      attribution (r16): their naive snapshot count includes
    *      overlapping occurrences while the greedy fold merges exactly
    *      ⌊run/2⌋ per run (word "aaa" under (a,a): naive ct = 2 but
    *      symbols drop by 1), so the pair scan counts runs, not just
    *      adjacencies, and each candidate carries BOTH its naive count
    *      (the ranking key — sequential BPE's argmax order) and its
    *      greedy-mergeable count `mct` (= Σ wct·⌊run/2⌋ for self-pairs,
    *      = ct for distinct pairs, whose occurrences cannot
    *      self-overlap). The ledger and the conservation `require`
    *      subtract `mct` — the symbols the fold actually removes. A
    *      corpus whose dominant pair is a character run (whitespace
    *      runs under byte-level chunk units — exactly the large-tier
    *      feed) now learns run merges instead of silently diverging
    *      from sequential BPE, which always could;
    *   4. apply + materialize once per round, not once per merge.
    *
    * The first merge of every round is exactly sequential BPE's argmax;
    * later in-batch picks are the standard batched approximation (a
    * sequential learner could prefer a pair the batch's earlier merges
    * just created). `batchSize = 1` reduces to [[merges]] exactly.
    *
    * Ledger: one row per LEARNED MERGE — (merge_idx, batch, lhs, rhs,
    * ct, syms_after), `syms_after` the running corpus symbol total
    * (strictly decreasing by each merge's ct; disjointness makes the
    * per-merge attribution exact, and the measured post-batch total is
    * asserted equal to the derived one every round).
    *
    * The loop itself is [[PairLedger.induce]] (shared with
    * [[WordPiece.learnVocabBatched]]) under the frequency ranking: the
    * candidate window is ranked from a driver-maintained pair table and
    * each round is one fused apply-and-delta scan (a per-round full
    * rescan when the table is over budget). */
  def mergesBatched(documents: DataFrame, batches: Int, batchSize: Int,
      window: Int = 0): DataFrame =
    mergesBatchedUnits(
      documents.select(explode(TextFns.tokensWs(col("text"))).as("unit")),
      batches, batchSize, window)

  /** [[mergesBatched]] over CALLER-CHOSEN symbol sequences — one row per
    * `unit` string (duplicates weight the counts), symbols = the unit's
    * characters. Whitespace words hit a vocabulary-richness ceiling on
    * small-alphabet corpora (every word collapses to one symbol and
    * induction runs dry); the byte/char-level tokenizers that need
    * 10²–10⁵ merges feed SEQUENCE units instead (fixed-size document
    * chunks — spaces are just symbols), which is what this entry point
    * is for (see text_bpe_merges_large). Unit strings must not contain
    * '|' (object-doc precondition). */
  def mergesBatchedUnits(units: DataFrame, batches: Int, batchSize: Int,
      window: Int = 0): DataFrame = {
    require(batches >= 1 && batches <= 4096,
      s"batches must be in [1, 4096], got $batches")
    require(batchSize >= 1 && batchSize <= 256,
      s"batchSize must be in [1, 256], got $batchSize")
    val win = if (window > 0) window else math.max(4 * batchSize, 16)
    require(win >= batchSize, s"window $win must be >= batchSize $batchSize")
    val spark = units.sparkSession
    import spark.implicits._
    PairLedger.induce(units, "Bpe.mergesBatched", PairLedger.Frequency,
      batches, batchSize, win).merges
      .map(m => (m.idx, m.batch, m.lhs, m.rhs, m.ct, m.symsAfter))
      .toDF("merge_idx", "batch", "lhs", "rhs", "ct", "syms_after")
  }

  /** Segment the corpus with an ordered merge list (the output of
    * [[merges]]): every document becomes its BPE symbol sequence, words
    * in document order, symbols in word order.
    *
    * Scale shape: the merge chain applies once per DISTINCT word (a
    * vocabulary-sized projection, each merge one per-row fold — no
    * shuffle between rounds), then the segmented vocab joins back to
    * the corpus words (AQE broadcasts it when it fits; hash join
    * otherwise). Reassembly is a per-doc sort+flatten of that doc's own
    * words — row-bounded, never wider than the document itself. */
  def encode(documents: DataFrame, mergeList: Seq[(String, String)]): DataFrame =
    encodeWith(documents, chars =>
      mergeList.foldLeft(chars) { case (c, (l, r)) => applyMerge(c, l, r) })

  /** Segment the corpus with BATCHED merges (the output of
    * [[mergesBatched]], grouped by its `batch` column, batches in order,
    * merges within a batch in learned order): each batch applies as ONE
    * fold pass ([[applyMergeSet]] — exact under the selection's
    * triple-disjointness), so a 32-merge 4-batch chain is 4 nested
    * folds, not 32. Same join-back/reassembly shape as [[encode]]. */
  def encodeBatches(documents: DataFrame,
      batchedMerges: Seq[Seq[(String, String)]]): DataFrame =
    encodeWith(documents, chars =>
      batchedMerges.foldLeft(chars)((c, batch) => applyMergeSet(c, batch)))

  private def encodeWith(documents: DataFrame,
      foldSyms: Column => Column): DataFrame = {
    val words = documents.select(col("doc_id"),
      posexplode(TextFns.tokensWs(col("text"))))
      .toDF("doc_id", "pos", "word")
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    val vocab = words.select(col("word")).distinct()
      .select(col("word"), foldSyms(chars).as("syms"))
    reassemble(documents, words, vocab)
  }

  /** Join the segmented vocabulary back to the corpus words and
    * reassemble per-doc symbol sequences (see [[encode]] scale shape). */
  private def reassemble(documents: DataFrame, words: DataFrame,
      vocab: DataFrame): DataFrame = {
    val agg = words.join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        s => s.getField("syms"))).as("bpe"))
    documents.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bpe"), array().cast("array<string>")).as("bpe"))
  }

  /** Segment the corpus with a LARGE ordered merge table — the
    * 10³–10⁵-merge encode tier real tokenizers need, where
    * [[encode]]/[[encodeBatches]] can't go: each nested fold level
    * re-references its input expression several times, so the expression
    * TREE grows ~4× per merge (resp. per batch) — exponential, with a
    * practical analyzer ceiling around 6 levels (measured: 8 nested
    * applyMerge folds never leave analysis). This tier
    * keeps the identical distributed shape (distinct-word projection →
    * segment → join back → per-doc reassembly) but segments each word in
    * ONE `mapPartitions` JVM pass with the rule table broadcast once per
    * executor.
    *
    * Semantics are EXACTLY [[encode]]'s: rules apply in learned order,
    * each as a greedy left-to-right non-overlapping scan — including the
    * order-sensitive corner where a later rule materializes a symbol an
    * earlier rule wanted (the earlier rule stays un-applied, same as the
    * fold chain). A per-word symbol-set prefilter skips rules whose
    * operands aren't both present, so a table of M rules costs ~O(M)
    * hash probes per distinct word plus O(word) per APPLIED rule —
    * independent of Catalyst plan depth, flat per merge as M scales. */
  def encodeTable(documents: DataFrame,
      mergeList: Seq[(String, String)]): DataFrame = {
    val spark = documents.sparkSession
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val rulesB = spark.sparkContext.broadcast(mergeList.toArray)
    val words = documents.select(col("doc_id"),
      posexplode(TextFns.tokensWs(col("text"))))
      .toDF("doc_id", "pos", "word")
    val outSchema = StructType(Seq(
      StructField("word", StringType),
      StructField("syms", ArrayType(StringType, containsNull = false))))
    val vocab = words.select(col("word")).distinct()
      .mapPartitions { it =>
        val rules = rulesB.value
        it.map { r =>
          val w = r.getString(0)
          var syms = Array.tabulate(w.length)(i => w.substring(i, i + 1))
          if (syms.length >= 2) {
            val present = scala.collection.mutable.HashSet.empty[String]
            syms.foreach(present += _)
            var k = 0
            while (k < rules.length && syms.length >= 2) {
              val (lhs, rhs) = rules(k)
              if (present.contains(lhs) && present.contains(rhs)) {
                // greedy left-to-right non-overlapping scan for THIS rule
                var applied = false
                val out = Array.newBuilder[String]
                var j = 0
                while (j < syms.length) {
                  if (j < syms.length - 1 && syms(j) == lhs &&
                      syms(j + 1) == rhs) {
                    out += lhs + rhs; applied = true; j += 2
                  } else { out += syms(j); j += 1 }
                }
                if (applied) {
                  syms = out.result()
                  present.clear(); syms.foreach(present += _)
                }
              }
              k += 1
            }
          }
          Row(w, syms.toSeq)
        }
      }(Encoders.row(outSchema))
    reassemble(documents, words, vocab.toDF())
  }

  /** The greedy sequential rule chain of [[encodeTable]], factored for
    * the fallback tier: rules in learned order, each a left-to-right
    * non-overlapping scan, with the symbol-set prefilter. */
  private def applyRuleTable(init: Array[String],
      rules: Array[(String, String)]): Array[String] = {
    var syms = init
    if (syms.length >= 2) {
      val present = scala.collection.mutable.HashSet.empty[String]
      syms.foreach(present += _)
      var k = 0
      while (k < rules.length && syms.length >= 2) {
        val (lhs, rhs) = rules(k)
        if (present.contains(lhs) && present.contains(rhs)) {
          var applied = false
          val out = Array.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == lhs &&
                syms(j + 1) == rhs) {
              out += lhs + rhs; applied = true; j += 2
            } else { out += syms(j); j += 1 }
          }
          if (applied) {
            syms = out.result()
            present.clear(); syms.foreach(present += _)
          }
        }
        k += 1
      }
    }
    syms
  }

  /** [[encodeTable]] with BYTE-LEVEL OOV FALLBACK and SPECIAL TOKENS —
    * the two pieces a real tokenizer needs around the merge table
    * (reference analogue: the keyword splitter's whole-token fallback
    * for unsegmentable input, app/.../SplitFunction.java:22-24, done at
    * byte granularity so NOTHING is unrepresentable):
    *
    *   - a word in `specials` bypasses segmentation entirely and emits
    *     itself as ONE symbol (the `<|endoftext|>` contract — specials
    *     are whitespace-delimited words under this tokenizer's
    *     splitter);
    *   - every CODE POINT outside `alphabet` expands to its UTF-8 bytes
    *     as `<0xAB>` pseudo-symbols (uppercase hex, the GPT-2/LLaMA
    *     byte-token convention) BEFORE the merge chain runs, so learned
    *     rules over byte tokens compose exactly like any others and no
    *     input can fail to encode. Iteration is by code point (astral
    *     plane safe — a surrogate pair is ONE code point, four UTF-8
    *     bytes).
    *
    * Same distributed shape as [[encodeTable]]: distinct-word projection
    * → one mapPartitions pass with the rule table broadcast → join back
    * → per-doc reassembly. */
  def encodeTableBytes(documents: DataFrame,
      mergeList: Seq[(String, String)], alphabet: Set[String],
      specials: Set[String] = Set.empty): DataFrame = {
    val spark = documents.sparkSession
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val rulesB = spark.sparkContext.broadcast(mergeList.toArray)
    val alphaB = spark.sparkContext.broadcast(alphabet)
    val specialB = spark.sparkContext.broadcast(specials)
    val words = documents.select(col("doc_id"),
      posexplode(TextFns.tokensWs(col("text"))))
      .toDF("doc_id", "pos", "word")
    val outSchema = StructType(Seq(
      StructField("word", StringType),
      StructField("syms", ArrayType(StringType, containsNull = false))))
    val vocab = words.select(col("word")).distinct()
      .mapPartitions { it =>
        val rules = rulesB.value
        val alpha = alphaB.value
        val special = specialB.value
        it.map { r =>
          val w = r.getString(0)
          val syms =
            if (special.contains(w)) Array(w)
            else {
              val init = Array.newBuilder[String]
              var i = 0
              while (i < w.length) {
                val cp = w.codePointAt(i)
                val s = new String(Character.toChars(cp))
                if (alpha.contains(s)) init += s
                else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                  .foreach(b => init += f"<0x${b & 0xff}%02X>")
                i += Character.charCount(cp)
              }
              applyRuleTable(init.result(), rules)
            }
          Row(w, syms.toSeq)
        }
      }(Encoders.row(outSchema))
    reassemble(documents, words, vocab.toDF())
  }
}
