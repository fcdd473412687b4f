package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece-family subword tokenization (the BERT tokenizer shape:
  * greedy longest-match-first inference over a fixed vocabulary with
  * `##` continuation pieces — Devlin et al. 2019 §A.2), complementing
  * the BPE family in [[Bpe]]: BPE learns MERGES and encodes by replaying
  * them; WordPiece owns a VOCABULARY and encodes by maximal munch. For a
  * training-data pipeline this is the serving-side tokenizer — token
  * counting, sequence-length budgeting and cost estimation against a
  * fixed published vocab, without replaying a merge history.
  *
  * Scale shape (100 TB): both the vocabulary derivation and the encode
  * run over DISTINCT units (a corpus has billions of token occurrences
  * but a bounded unit set), so the heavy path is one hash-aggregate; the
  * vocabulary itself is top-k (plan-sized) and bakes into the encode
  * plan as a literal — no broadcast, no shuffle on the encode side, and
  * the per-unit greedy walk is a native codegen'd kernel
  * ([[graft.expressions.WordPieceEncode]]), not a UDF.
  *
  * Vocabulary derivation here is the CLOSED-FORM variant: top-k pieces
  * by corpus frequency over all n-grams (n ≤ maxPieceLen) of the units,
  * `##`-prefixed when interior — deterministic (ct DESC, piece ASC), one
  * aggregate, and exactly replayable in SQL (the oracle derives the same
  * vocab from the same corpus, so gate equality pins derivation AND
  * encode). Likelihood-scored iterative training (true WordPiece
  * induction, [[learnVocab]] and [[learnVocabBatched]]) is the
  * [[Bpe.mergesBatched]] loop — [[PairLedger.induce]] — with a different
  * argmax; the closed-form vocab is the scale-honest default — a single
  * pass where iterative training costs a driver round per batch. */
object WordPiece {

  private def distinctUnits(units: DataFrame): DataFrame =
    units.groupBy(col("unit")).agg(count(lit(1)).as("wct"))

  /** `##`-convention piece of `unit` at 1-based position `p`, length
    * `n`: raw at the word start, `##`-prefixed when interior. */
  private def pieceAt(unit: Column, p: Column, n: Column): Column =
    when(p === 1, unit.substr(p, n))
      .otherwise(concat(lit("##"), unit.substr(p, n)))

  /** Top-`k` vocabulary over ALL n-grams (1..maxPieceLen) of the unit
    * column, weighted by unit corpus frequency, `##` convention applied
    * by position. Deterministic order (ct DESC, piece ASC). Returns
    * (piece, ct) — k rows, bounded driver metadata when collected. */
  def vocabUnits(units: DataFrame, k: Int, maxPieceLen: Int = 4): DataFrame = {
    require(k >= 1, s"WordPiece.vocabUnits: k must be >= 1, got $k")
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"WordPiece.vocabUnits: maxPieceLen in [1,16], got $maxPieceLen")
    distinctUnits(units)
      .select(col("unit"), col("wct"),
        explode(sequence(lit(1), length(col("unit")))).as("p"))
      .select(col("unit"), col("wct"), col("p"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("unit")) - col("p") + lit(1))))
          .as("n"))
      .select(col("wct"),
        pieceAt(col("unit"), col("p"), col("n")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wct")).as("ct"))
      .orderBy(col("ct").desc, col("piece").asc)
      .limit(k)
  }

  /** [[vocabUnits]] over whitespace-lowered words of `documents.text`. */
  def vocab(documents: DataFrame, k: Int, maxPieceLen: Int = 4): DataFrame =
    vocabUnits(documents
      .select(explode(TextFns.tokensWs(col("text"))).as("unit")),
      k, maxPieceLen)

  /** Greedy longest-match encode of each DISTINCT unit against the
    * literal vocabulary: (unit, wct, toks array<string>). Unknown
    * positions emit `[UNK]` and advance one character (see
    * [[graft.expressions.WordPieceEncode]] for the policy note). */
  def encodeUnits(units: DataFrame, pieces: Seq[String]): DataFrame = {
    require(pieces.nonEmpty, "WordPiece.encodeUnits: empty vocabulary")
    distinctUnits(units)
      .withColumn("toks", call_function("graft_wordpiece", col("unit"),
        array(pieces.map(lit): _*)))
  }

  /** LIKELIHOOD-SCORED merge induction — true WordPiece TRAINING (Schuster
    * & Nakajima 2012; the BPE loop with a different argmax): each round
    * merges the adjacent pair maximizing `ct / (ct_a · ct_b)` — the pair
    * whose fusion most raises a unigram LM's corpus likelihood — instead
    * of raw frequency. Frequency BPE happily glues two individually-
    * common symbols; likelihood scoring prefers pairs that co-occur MORE
    * than their parts predict, which is why WordPiece vocabularies pick
    * up morpheme-like units earlier.
    *
    * Engine-portable exact argmax: `ct`, `ct_a`, `ct_b` are exact longs
    * below 2^53, so casting EACH to double exactly and then one IEEE
    * multiply + one IEEE divide — both correctly rounded — is
    * bit-identical in any engine; ties break on (a, b) ascending. (The
    * denominator is multiplied IN DOUBLE, never as a long product: a
    * 100 TB corpus has per-symbol counts above ~3e9 whose long product
    * would silently wrap.)
    *
    * This is [[PairLedger.induce]] at one merge per batch under
    * [[PairLedger.Likelihood]]: the [[learnVocabBatched]] loop whose
    * every batch is its argmax alone. Ledger: (round, lhs, rhs, ct,
    * score, syms_after) — `ct` the naive adjacent count the score was
    * computed from, `score` truncate6'd (the repo's portable-double
    * convention), `syms_after` the corpus symbol total after the greedy
    * fold applies the merge. */
  def learnVocab(units: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"WordPiece.learnVocab: rounds in [1, 64], got $rounds")
    val spark = units.sparkSession
    import spark.implicits._
    PairLedger.induce(units, "WordPiece.learnVocab",
      new PairLedger.Likelihood, batches = rounds, batchSize = 1).merges
      .map(m => (m.batch, m.lhs, m.rhs, m.ct,
        math.floor(m.score * 1e6) / 1e6, m.symsAfter))
      .toDF("round", "lhs", "rhs", "ct", "score", "syms_after")
  }

  /** BATCHED likelihood-scored WordPiece training — the rounds-dimension
    * scale path: [[PairLedger.induce]], the [[Bpe.mergesBatched]] loop,
    * ranked by [[PairLedger.Likelihood]] instead of frequency. Real
    * vocabularies need 10³–10⁵ pieces, where per-round scheduling
    * latency dominates. Per round, the top-`window` candidates by
    * (`ct / (ct_a · ct_b)` DESC, a, b) are greedily selected whose
    * TRIPLE sets {lhs, rhs, lhs+rhs} are pairwise disjoint, up to
    * `batchSize`, and applied as ONE layer ([[Bpe.applyMerges]]).
    * Disjointness keeps the snapshot scores exact at application time:
    * no selected merge changes another's pair count (occurrences are
    * disjoint) OR its denominator (no shared symbol, so ct_a/ct_b of the
    * others never move). The ranking numerator is the naive adjacent
    * count `ct` (sequential training's view); the ledger telescopes by
    * the greedy-mergeable count `mct` (= Σ wct·⌊run/2⌋ for self-pairs,
    * = ct for distinct pairs) — the symbols the fold actually removes.
    *
    * The first pick of every round is exactly the sequential argmax;
    * later in-batch picks are the standard batched approximation.
    *
    * Ledger: one row per LEARNED MERGE — (merge_idx, batch, lhs, rhs,
    * ct, score, syms_after): `ct` the greedy-mergeable count the fold
    * removes, `score` the selection-time likelihood score truncate6'd,
    * `syms_after` the running corpus symbol total. */
  def learnVocabBatched(units: DataFrame, batches: Int, batchSize: Int,
      window: Int = 0): DataFrame = {
    val spark = units.sparkSession
    import spark.implicits._
    PairLedger.induce(units, "WordPiece.learnVocabBatched",
      new PairLedger.Likelihood, batches, batchSize, window).merges
      .map(m => (m.idx, m.batch, m.lhs, m.rhs, m.mct,
        math.floor(m.score * 1e6) / 1e6, m.symsAfter))
      .toDF("merge_idx", "batch", "lhs", "rhs", "ct", "score", "syms_after")
  }
}
