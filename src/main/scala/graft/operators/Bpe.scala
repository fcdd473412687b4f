package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge induction (Sennrich et al. 2016,
  * arXiv:1508.07909) — the tokenizer-vocabulary learning step of a
  * training-data pipeline, distributed Spark-first.
  *
  * Shape: every induction entry point runs [[PairLedger.induce]]. The
  * corpus is scanned ONCE to build the word-count vocabulary (one
  * shuffle on word) and its adjacent-pair table; every merge round after
  * that runs on the VOCABULARY table — vocabulary-sized (≪ corpus),
  * checkpointed, linear lineage. The argmax pair (ties: count desc, then
  * lexicographic) is ranked driver-side from the maintained pair table,
  * and each round is one fused apply-and-delta scan — bounded driver
  * metadata, the same pattern as k-means centroids.
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
  * Every merge application — induction rounds, the deferred-fold stack
  * of [[PairLedger]] and all four encoders — is ONE
  * [[graft.expressions.MergeFold]] node ([[applyMerges]]) holding a
  * stack of rule layers, applied in order by one native greedy walk. It
  * compares WHOLE symbols, so a literal '|' in a token is just a symbol
  * on the engine side (BpeSpec pins it on a constructed pipe word). The
  * no-'|' corpus PRECONDITION survives only as an ORACLE-REPLAY
  * contract: the DuckDB fold oracles still encode the accumulator as a
  * '|'-joined string, so a pipe-bearing corpus would diverge
  * engine-vs-oracle — asserted loudly gate-side.
  *
  * Durability: generations roll forward via `localCheckpoint` (blocks in
  * executor storage, NOT on reliable storage) — an executor loss during
  * induction fails the job and induction restarts from the corpus. The
  * trade is deliberate: induction is minutes-scale and restartable, and
  * reliable checkpointing would pay a distributed-FS write per round.
  */
object Bpe {

  /** Apply a stack of merge-rule layers to a symbol array: layers in
    * order, each one greedy left-to-right pass, all inside ONE
    * [[graft.expressions.MergeFold]] node — one hash probe per adjacent
    * pair per layer, whatever the depth of the stack. A one-rule layer is
    * the sequential per-rule scan; a layer of pairwise TRIPLE-DISJOINT
    * rules ({lhs, rhs, lhs+rhs} sets share no symbol, the
    * [[mergesBatched]] selection invariant) equals applying its rules
    * one by one in any order: a merge's output symbol is then never an
    * operand of another rule of the layer, so merges cannot cascade
    * within it. Empty layers are dropped; no layers at all is the
    * identity. The node is built directly, with the rules as a field
    * (not literal children), so a stack of thousands of layers plans
    * like one. */
  private[graft] def applyMerges(syms: Column,
      layers: Seq[Seq[(String, String)]]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    val stack = layers.filter(_.nonEmpty)
    if (stack.isEmpty) syms
    else GraftColumnBridge.column(graft.expressions.MergeFold(
      GraftColumnBridge.expression(syms), stack))
  }

  /** Learn `rounds` BPE merges over the corpus, one per round: each
    * round merges the adjacent pair with the highest corpus-weighted
    * count (ties: a, then b, binary string order). Returns one row per
    * learned merge: (round, lhs, rhs, ct, syms_after), where `ct` is the
    * pair's naive adjacent count (a run "aaa" holds two (a,a) pairs) and
    * `syms_after` the corpus-weighted symbol total after the greedy fold
    * applies it. `ct` and the fall in `syms_after` differ only on
    * self-pair runs, where the fold merges ⌊run/2⌋ per run.
    *
    * This is [[PairLedger.induce]] at one merge per batch: the
    * [[mergesBatched]] loop whose every batch is its argmax alone. */
  def merges(documents: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = documents.sparkSession
    import spark.implicits._
    PairLedger.induce(words(documents), "Bpe.merges", PairLedger.Frequency,
      batches = rounds, batchSize = 1).merges
      .map(m => (m.batch, m.lhs, m.rhs, m.ct, m.symsAfter))
      .toDF("round", "lhs", "rhs", "ct", "syms_after")
  }

  /** Batched BPE merge induction — the rounds-dimension scale path.
    *
    * Real tokenizers need 10³–10⁵ merges, where per-round job-scheduling
    * latency (~1 s on a busy cluster) dominates the vocabulary-sized
    * work. This variant learns up to `batchSize` merges per round:
    *
    *   1. rank the adjacent pairs of the current vocabulary by
    *      (ct DESC, a, b) and take the top `window` — bounded driver
    *      metadata, `window` rows;
    *   2. greedily select candidates whose TRIPLE sets {lhs, rhs,
    *      lhs+rhs} are pairwise disjoint, stopping at `batchSize`.
    *      Disjointness makes the snapshot counts exact at application
    *      time (merging one selected pair can neither create nor
    *      destroy occurrences of another) and merges non-cascading, so
    *      the batch applies as ONE layer ([[applyMerges]]) in any
    *      order. SELF-PAIRS (lhs == rhs) select with RUN-AWARE
    *      attribution: their naive count includes overlapping
    *      occurrences while the greedy fold merges exactly ⌊run/2⌋ per
    *      run (word "aaa" under (a,a): naive ct = 2 but symbols drop by
    *      1), so each candidate carries BOTH its naive count (the
    *      ranking key) and its greedy-mergeable count `mct`
    *      (= Σ wct·⌊run/2⌋ for self-pairs, = ct for distinct pairs,
    *      whose occurrences cannot self-overlap);
    *   3. apply the batch in one fused apply-and-delta scan.
    *
    * The first merge of every round is exactly the sequential argmax;
    * later in-batch picks are the standard batched approximation (a
    * sequential learner could prefer a pair the batch's earlier merges
    * just created).
    *
    * Ledger: one row per LEARNED MERGE — (merge_idx, batch, lhs, rhs,
    * ct, syms_after), `ct` the greedy-mergeable count `mct` and
    * `syms_after` the running corpus symbol total (strictly decreasing
    * by each merge's ct; disjointness makes the per-merge attribution
    * exact, and the measured post-batch total is asserted equal to the
    * derived one every round).
    *
    * The loop is [[PairLedger.induce]] under the frequency ranking. */
  def mergesBatched(documents: DataFrame, batches: Int, batchSize: Int,
      window: Int = 0): DataFrame =
    mergesBatchedUnits(words(documents), batches, batchSize, window)

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
    val spark = units.sparkSession
    import spark.implicits._
    PairLedger.induce(units, "Bpe.mergesBatched", PairLedger.Frequency,
      batches, batchSize, window).merges
      .map(m => (m.idx, m.batch, m.lhs, m.rhs, m.mct, m.symsAfter))
      .toDF("merge_idx", "batch", "lhs", "rhs", "ct", "syms_after")
  }

  /** The whitespace-lowered words of `documents.text`, one `unit` row
    * per occurrence. */
  private def words(documents: DataFrame): DataFrame =
    documents.select(explode(TextFns.tokensWs(col("text"))).as("unit"))

  /** Segment the corpus with an ordered merge list (the output of
    * [[merges]]): every document becomes its BPE symbol sequence, words
    * in document order, symbols in word order. Rules apply in learned
    * order, one layer each — including the order-sensitive corner where
    * a later rule materializes a symbol an earlier rule wanted (the
    * earlier rule stays un-applied).
    *
    * Scale shape (shared by all four encoders, see [[encodeLayers]]):
    * the layered merge walk applies once per DISTINCT word (a
    * vocabulary-sized projection, one [[graft.expressions.MergeFold]]
    * node whatever the merge count — no shuffle between rules), then the
    * segmented vocab joins back to the corpus words (AQE broadcasts it
    * when it fits; hash join otherwise). Reassembly is a per-doc
    * sort+flatten of that doc's own words — row-bounded, never wider than
    * the document itself. Per distinct word the cost is one hash probe
    * per adjacent symbol pair per rule. */
  def encode(documents: DataFrame, mergeList: Seq[(String, String)]): DataFrame =
    encodeLayers(documents, mergeList.map(Seq(_)), codePoints)

  /** Segment the corpus with BATCHED merges (the output of
    * [[mergesBatched]], grouped by its `batch` column, batches in order,
    * merges within a batch in learned order): each batch applies as ONE
    * layer — exact under the selection's triple-disjointness, so the
    * result equals [[encode]] over the flattened list at one walk per
    * batch instead of one per merge. */
  def encodeBatches(documents: DataFrame,
      batchedMerges: Seq[Seq[(String, String)]]): DataFrame =
    encodeLayers(documents, batchedMerges, codePoints)

  /** Segment the corpus with a LARGE ordered merge table — the
    * 10³–10⁵-merge encode tier real tokenizers need. Exactly [[encode]]:
    * rules apply in learned order, one layer each, in one
    * [[graft.expressions.MergeFold]] node, so plan size is constant in
    * the merge count and a table of M rules costs O(M) hash probes per
    * adjacent pair of each distinct word. */
  def encodeTable(documents: DataFrame,
      mergeList: Seq[(String, String)]): DataFrame =
    encode(documents, mergeList)

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
    * Only the symbol initialisation is its own; the merge walk, join back
    * and reassembly are [[encodeTable]]'s. */
  def encodeTableBytes(documents: DataFrame,
      mergeList: Seq[(String, String)], alphabet: Set[String],
      specials: Set[String] = Set.empty): DataFrame = {
    // one code point's UTF-8 bytes as <0xAB> tokens (hex() of a string
    // is the uppercase hex of its UTF-8 bytes)
    def byteTokens(cp: Column): Column =
      transform(sequence(lit(1), octet_length(cp)),
        j => concat(lit("<0x"), hex(cp).substr(j * 2 - 1, lit(2)), lit(">")))
    encodeLayers(documents, mergeList.map(Seq(_)), word =>
      when(word.isin(specials.toSeq: _*), array(word)).otherwise(flatten(
        transform(codePoints(word), cp =>
          when(cp.isin(alphabet.toSeq: _*), array(cp)).otherwise(byteTokens(cp))))))
  }

  /** A word's initial symbols, shared by induction and encoding: its
    * code points (astral-plane safe — Spark's `length`/`substr` count
    * code points, not UTF-16 units). */
  private[graft] def codePoints(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** The one encode path: distinct words → initial `symbols` → the
    * layered merge walk ([[applyMerges]]) → join back to the corpus
    * words → per-doc reassembly in word order. */
  private def encodeLayers(documents: DataFrame,
      layers: Seq[Seq[(String, String)]],
      symbols: Column => Column): DataFrame = {
    val words = documents.select(col("doc_id"),
      posexplode(TextFns.tokensWs(col("text"))))
      .toDF("doc_id", "pos", "word")
    val vocab = words.select(col("word")).distinct()
      .select(col("word"), applyMerges(symbols(col("word")), layers).as("syms"))
    val agg = words.join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        s => s.getField("syms"))).as("bpe"))
    documents.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bpe"), array().cast("array<string>")).as("bpe"))
  }
}
