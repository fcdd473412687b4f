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
  * induction, [[learnVocabBatched]]) is the [[Bpe.mergesBatched]] loop —
  * [[PairLedger.induce]] — with a different argmax; the closed-form
  * vocab is the scale-honest default — a single pass where iterative
  * training costs a driver round per merge. */
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

  /** [[encodeUnits]] over whitespace-lowered words of `documents.text`. */
  def encodeWords(documents: DataFrame, pieces: Seq[String]): DataFrame =
    encodeUnits(documents
      .select(explode(TextFns.tokensWs(col("text"))).as("unit")), pieces)

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
    * would silently wrap.) The returned `score` is truncate6'd (the
    * repo's portable-double convention).
    *
    * Per round: one pair scan (native run-pairs kernel), one symbol
    * count, one broadcast-joined argmax — driver-coordinated like
    * [[Bpe.merges]]; [[learnVocabBatched]] is the rounds-dimension scale
    * path ([[PairLedger.induce]] with the likelihood argmax). Ledger:
    * (round, lhs, rhs, ct, score, syms_after). */
  def learnVocab(units: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"WordPiece.learnVocab: rounds in [1, 64], got $rounds")
    val spark = units.sparkSession
    import spark.implicits._
    var vocab = units
      .filter(length(col("unit")) > 0)
      .groupBy(col("unit").as("word")).agg(count(lit(1)).as("wct"))
      .select(col("word"), col("wct"), Bpe.codePoints(col("word")).as("syms"))
      .localCheckpoint(true)
    val ledger = Seq.newBuilder[(Long, String, String, Long, Double, Long)]
    for (r <- 1 to rounds) {
      val symCt = vocab
        .select(col("wct"), explode(col("syms")).as("sym"))
        .groupBy(col("sym")).agg(sum(col("wct")).as("c"))
      val top = vocab
        .select(col("wct"),
          explode(call_function("graft_run_pairs", col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wct") * col("p.ct")).as("ct"))
        .join(broadcast(symCt.withColumnRenamed("sym", "a")
          .withColumnRenamed("c", "ca")), Seq("a"))
        .join(broadcast(symCt.withColumnRenamed("sym", "b")
          .withColumnRenamed("c", "cb")), Seq("b"))
        .withColumn("score",
          col("ct").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double")))
        .orderBy(col("score").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val row = top(0)
        val (lhs, rhs, ct, score) = (row.getAs[String]("a"),
          row.getAs[String]("b"), row.getAs[Long]("ct"),
          row.getAs[Double]("score"))
        val prev = vocab
        vocab = vocab
          .select(col("word"), col("wct"),
            Bpe.applyMerges(col("syms"), Seq(Seq((lhs, rhs)))).as("syms"))
          .localCheckpoint(true)
        CheckpointUtil.free(prev)
        val symsAfter = vocab
          .agg(sum(col("wct") * size(col("syms"))).cast("long")).as[Long].head()
        ledger += ((r.toLong, lhs, rhs, ct,
          math.floor(score * 1e6) / 1e6, symsAfter))
      }
    }
    CheckpointUtil.free(vocab)
    ledger.result()
      .toDF("round", "lhs", "rhs", "ct", "score", "syms_after")
  }

  /** BATCHED likelihood-scored WordPiece training — the rounds-dimension
    * scale path: [[PairLedger.induce]], the [[Bpe.mergesBatched]] loop,
    * ranked by [[PairLedger.Likelihood]] instead of frequency.
    * [[learnVocab]] runs one driver-coordinated round per merge; real
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
    * The first pick of every round is exactly sequential WordPiece's
    * argmax; later in-batch picks are the standard batched approximation.
    * `batchSize = 1` reduces to [[learnVocab]] exactly (modulo the
    * derived-vs-measured syms_after, asserted equal by the conservation
    * checks).
    *
    * Ledger: one row per LEARNED MERGE — (merge_idx, batch, lhs, rhs,
    * ct, score, syms_after): `ct` the greedy-mergeable count the fold
    * removes, `score` the selection-time likelihood score truncate6'd
    * (the repo's portable-double convention), `syms_after` the running
    * corpus symbol total. */
  def learnVocabBatched(units: DataFrame, batches: Int, batchSize: Int,
      window: Int = 0): DataFrame = {
    require(batches >= 1 && batches <= 4096,
      s"WordPiece.learnVocabBatched: batches in [1, 4096], got $batches")
    require(batchSize >= 1 && batchSize <= 256,
      s"WordPiece.learnVocabBatched: batchSize in [1, 256], got $batchSize")
    val win = if (window > 0) window else math.max(4 * batchSize, 16)
    require(win >= batchSize,
      s"WordPiece.learnVocabBatched: window $win must be >= batchSize $batchSize")
    val spark = units.sparkSession
    import spark.implicits._
    PairLedger.induce(units, "WordPiece.learnVocabBatched",
      new PairLedger.Likelihood, batches, batchSize, win).merges
      .map(m => (m.idx, m.batch, m.lhs, m.rhs, m.ct,
        math.floor(m.score * 1e6) / 1e6, m.symsAfter))
      .toDF("merge_idx", "batch", "lhs", "rhs", "ct", "score", "syms_after")
  }
}
