package graft

import graft.functions.TextFns
import graft.operators.{Bpe, CheckpointUtil, PairLedger, WordPiece}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r19 incremental-pair-count induction machinery: the
  * MergePairDeltas kernel must equal a run-pairs diff exactly, the
  * driver-side candidate ranking must replicate the engine's orderBy,
  * and the maintained-table path of `PairLedger.induce` must produce
  * ledgers IDENTICAL to its full-rescan fallback, on both sides of the
  * pair budget. */
class PairLedgerSpec extends SparkSpec {
  import spark.implicits._

  /** `PairLedger.induce` at budget 0 and at n − 1, n and n + 1, n the
    * distinct-pair count the init scan reports: the per-round rescan must
    * supply the candidates below n and the maintained table from n up,
    * with one identical, non-empty ledger. Returns the budget-0 ledger
    * (the full-rescan fallback). */
  private def atBudgets(units: DataFrame, caller: String,
      ranking: () => PairLedger.Ranking, batches: Int, batchSize: Int,
      window: Int): Seq[PairLedger.Merge] = {
    val vocab = PairLedger.unitVocab(units)
    val n = try PairLedger.initScan(vocab)._1.length
      finally CheckpointUtil.free(vocab)
    val runs = Seq(0, n - 1, n, n + 1).map(budget => budget ->
      PairLedger.induce(units, caller, ranking(), batches, batchSize,
        window, budget))
    assert(runs.map(_._2.rescanned) === Seq(true, true, false, false))
    val fb = runs.head._2.merges
    assert(fb.nonEmpty)
    runs.foreach { case (budget, r) =>
      assert(r.merges === fb, s"budget $budget of $n distinct pairs") }
    fb
  }

  /** Split a MergePairDeltas result array into (pre_n, post_n, deltas):
    * the FIRST entry is always the ("", "") sentinel carrying the row's
    * pre/post symbol counts, the rest are the pair deltas. */
  private def splitSentinel(d: Seq[org.apache.spark.sql.Row])
      : (Long, Long, Map[(String, String), (Long, Long)]) = {
    assert(d.nonEmpty && d.head.getString(0).isEmpty &&
      d.head.getString(1).isEmpty, "sentinel must be first")
    val deltas = d.tail
      .map(p => (p.getString(0), p.getString(1)) ->
        ((p.getLong(2), p.getLong(3)))).toMap
    assert(deltas.size === d.tail.size, "duplicate delta keys")
    assert(!deltas.valuesIterator.contains((0L, 0L)), "zero delta emitted")
    (d.head.getLong(2), d.head.getLong(3), deltas)
  }

  test("MergePairDeltas == runPairs(post) - runPairs(pre), struct totals " +
    "are the pre/post symbol counts") {
    val rows = Seq(
      Seq("a", "b", "c", "a", "b"),       // two (a,b) merges
      Seq("a", "a", "a", "a"),            // self-run under (a,b): untouched
      Seq("b", "b", "a", "b", "b"),       // runs around a merge site
      Seq("x", "y", "z"),                 // no rule applies
      Seq("a"),                           // singleton
      Seq.empty[String]                   // empty
    ).toDF("syms")
    val rules = array(lit("a"), lit("b"))
    val noLayers = array().cast("array<string>")
    val noLens = array().cast("array<bigint>")
    val d = rows.select(
      call_function("graft_merge_pair_deltas", col("syms"),
        noLayers, noLens, rules).as("d"),
      call_function("graft_run_pairs", col("syms")).as("pre"),
      call_function("graft_run_pairs",
        call_function("graft_merge_fold", col("syms"), rules)).as("post"),
      size(col("syms")).as("n"),
      size(call_function("graft_merge_fold", col("syms"), rules)).as("m"))
      .collect()
    d.foreach { r =>
      val (preN, postN, got) =
        splitSentinel(r.getSeq[org.apache.spark.sql.Row](0))
      assert(preN === r.getInt(3).toLong, "pre_n")
      assert(postN === r.getInt(4).toLong, "post_n")
      def toMap(i: Int): Map[(String, String), (Long, Long)] =
        r.getSeq[org.apache.spark.sql.Row](i)
          .groupBy(p => (p.getString(0), p.getString(1)))
          .map { case (k, ps) =>
            k -> ((ps.map(_.getLong(2)).sum, ps.map(_.getLong(3)).sum)) }
      val pre = toMap(1)
      val post = toMap(2)
      val want = (pre.keySet ++ post.keySet).flatMap { k =>
        val (c0, m0) = pre.getOrElse(k, (0L, 0L))
        val (c1, m1) = post.getOrElse(k, (0L, 0L))
        if (c1 - c0 == 0L && m1 - m0 == 0L) None
        else Some(k -> ((c1 - c0, m1 - m0)))
      }.toMap
      assert(got === want)
    }
  }

  test("MergePairDeltas with a deferred-layer stack == merge_fold layers " +
    "then diff — layer order matters and is preserved") {
    val rows = Seq(
      Seq("a", "b", "c", "a", "b", "c"),
      Seq("a", "b", "b", "c", "x"),
      Seq("c", "a", "b", "c", "c"),
      Seq("q")).toDF("syms")
    // layer 1: (a,b) -> ab; layer 2: (ab,c) -> abc; batch: (c,a)
    val l1 = array(lit("a"), lit("b"))
    val l2 = array(lit("ab"), lit("c"))
    val layersFlat = array(lit("a"), lit("b"), lit("ab"), lit("c"))
    val lens = array(lit(1L), lit(1L))
    val batch = array(lit("c"), lit("a"))
    val folded = call_function("graft_merge_fold",
      call_function("graft_merge_fold", col("syms"), l1), l2)
    val d = rows.select(
      call_function("graft_merge_pair_deltas", col("syms"),
        layersFlat, lens, batch).as("d"),
      call_function("graft_run_pairs", folded).as("pre"),
      call_function("graft_run_pairs",
        call_function("graft_merge_fold", folded, batch)).as("post"),
      size(folded).as("n"),
      size(call_function("graft_merge_fold", folded, batch)).as("m"))
      .collect()
    d.foreach { r =>
      val (preN, postN, got) =
        splitSentinel(r.getSeq[org.apache.spark.sql.Row](0))
      assert(preN === r.getInt(3).toLong, "pre_n")
      assert(postN === r.getInt(4).toLong, "post_n")
      def toMap(i: Int): Map[(String, String), (Long, Long)] =
        r.getSeq[org.apache.spark.sql.Row](i)
          .groupBy(p => (p.getString(0), p.getString(1)))
          .map { case (k, ps) =>
            k -> ((ps.map(_.getLong(2)).sum, ps.map(_.getLong(3)).sum)) }
      val pre = toMap(1)
      val post = toMap(2)
      val want = (pre.keySet ++ post.keySet).flatMap { k =>
        val (c0, m0) = pre.getOrElse(k, (0L, 0L))
        val (c1, m1) = post.getOrElse(k, (0L, 0L))
        if (c1 - c0 == 0L && m1 - m0 == 0L) None
        else Some(k -> ((c1 - c0, m1 - m0)))
      }.toMap
      assert(got === want)
    }
  }

  test("MergePairDeltas windowed diff == brute-force runPairs diff on " +
    "randomized run-heavy rows (fuzz over the window/extension corners)") {
    // tiny alphabet + run-inducing rules: merge outputs collide with
    // neighbors ("ab" next to literal ab runs), self-pairs (a,a) shrink
    // runs, adjacent sites force window merging, and rules touch row
    // edges. Deterministic seed: failures must reproduce.
    val rnd = new scala.util.Random(421901L)
    val alpha = Vector("a", "b", "c", "ab", "aa")
    val rows = Seq.fill(400) {
      Seq.fill(1 + rnd.nextInt(24))(alpha(rnd.nextInt(alpha.length)))
    }.toDF("syms")
    val ruleSets = Seq(
      Seq("a" -> "b"),
      Seq("a" -> "a"),
      Seq("a" -> "b", "c" -> "a", "b" -> "c"),
      Seq("ab" -> "ab"),
      Seq("a" -> "a", "b" -> "b", "c" -> "c"),
      Seq("aa" -> "b", "a" -> "ab"))
    for (rules <- ruleSets) {
      val flat = array(rules.flatMap { case (l, r) => Seq(lit(l), lit(r)) }: _*)
      val noLayers = array().cast("array<string>")
      val noLens = array().cast("array<bigint>")
      val d = rows.select(
        call_function("graft_merge_pair_deltas", col("syms"),
          noLayers, noLens, flat).as("d"),
        call_function("graft_run_pairs", col("syms")).as("pre"),
        call_function("graft_run_pairs",
          call_function("graft_merge_fold", col("syms"), flat)).as("post"),
        col("syms"))
        .collect()
      d.foreach { r =>
        def toMap(i: Int): Map[(String, String), (Long, Long)] =
          r.getSeq[org.apache.spark.sql.Row](i)
            .groupBy(p => (p.getString(0), p.getString(1)))
            .map { case (k, ps) =>
              k -> ((ps.map(_.getLong(2)).sum, ps.map(_.getLong(3)).sum)) }
        val pre = toMap(1)
        val post = toMap(2)
        val want = (pre.keySet ++ post.keySet).flatMap { k =>
          val (c0, m0) = pre.getOrElse(k, (0L, 0L))
          val (c1, m1) = post.getOrElse(k, (0L, 0L))
          if (c1 - c0 == 0L && m1 - m0 == 0L) None
          else Some(k -> ((c1 - c0, m1 - m0)))
        }.toMap
        val (_, _, got) = splitSentinel(r.getSeq[org.apache.spark.sql.Row](0))
        assert(got === want, s"rules=$rules syms=${r.getSeq[String](3)}")
      }
    }
  }

  test("utf8Compare matches Spark's binary string order, including the " +
    "supplementary-vs-BMP corner UTF-16 order gets wrong") {
    // U+10000 (surrogate pair, UTF-16 units d800 dc00) vs U+FFFD: UTF-16
    // code-unit order says the supplementary char sorts FIRST; code-point
    // (= UTF-8 binary) order says it sorts LAST.
    val tricky = Seq("𐀀", "�", "a", "", "ab", "é", "z")
    val sparkOrder = tricky.toDF("s").orderBy(col("s")).as[String]
      .collect().toSeq
    val driverOrder = tricky.sortWith((a, b) => PairLedger.utf8Compare(a, b) < 0)
    assert(driverOrder === sparkOrder)
    assert("𐀀".compareTo("�") < 0, // the JVM-order trap exists
      "String.compareTo no longer disagrees — comment stale, not wrong")
  }

  test("Table.top replicates orderBy(ct.desc, a, b).limit(win)") {
    val t = new PairLedger.Table
    val entries = Seq(
      ("b", "a", 5L), ("a", "b", 5L), ("a", "a", 9L), ("c", "c", 5L),
      ("aa", "b", 2L), ("z", "z", 7L), ("a", "c", 5L))
    entries.foreach { case (a, b, ct) => t.add(a, b, ct, ct) }
    val got = t.top(4, PairLedger.byCount).map(e => (e.a, e.b))
    assert(got === Seq(("a", "a"), ("z", "z"), ("a", "b"), ("a", "c")))
  }

  test("BPE: incremental loop == full-rescan fallback, ledger-identical") {
    val docs = Seq(
      (1L, "abab banana abracadabra"),
      (2L, "aaaa  bbbb abab cdcd"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "mississippi mississippi banana")).toDF("doc_id", "text")
    val inc = Bpe.mergesBatched(docs, batches = 5, batchSize = 4, window = 24)
      .orderBy("merge_idx").collect().toSeq.map(_.toSeq)
    val fb = atBudgets(
      docs.select(explode(TextFns.tokensWs(col("text"))).as("unit")),
      "Bpe.mergesBatched", () => PairLedger.Frequency, 5, 4, 24)
      .map(m => Seq(m.idx, m.batch, m.lhs, m.rhs, m.mct, m.symsAfter))
    assert(inc.nonEmpty && inc === fb)
  }

  test("BPE: incremental loop == fallback on chunk units with runs " +
    "(self-pair attribution crosses the delta path)") {
    val text = "aaaaaa bb aaa cc aaaa " * 40 + "xyxyxyxy zzzz"
    val units = Seq(text).toDF("text")
      .select(explode(transform(
        sequence(lit(1), length(col("text")), lit(16)),
        i => col("text").substr(i, lit(16)))).as("unit"))
    val inc = Bpe.mergesBatchedUnits(units, batches = 6, batchSize = 3,
      window = 16).orderBy("merge_idx").collect().toSeq.map(_.toSeq)
    val fb = atBudgets(units, "Bpe.mergesBatched",
      () => PairLedger.Frequency, 6, 3, 16)
      .map(m => Seq(m.idx, m.batch, m.lhs, m.rhs, m.mct, m.symsAfter))
    assert(inc.nonEmpty && inc === fb)
  }

  test("WordPiece: incremental loop == full-rescan fallback, " +
    "ledger-identical (scores bit-equal)") {
    val units = Seq(
      "unhappiness", "unhappiness", "happiness", "unkind", "kindness",
      "banana", "bananas", "ananas", "aaaa", "aaa", "kindest", "unkindest")
      .toDF("unit")
    val inc = WordPiece.learnVocabBatched(units, batches = 5, batchSize = 3,
      window = 16).orderBy("merge_idx").collect().toSeq.map(_.toSeq)
    val fb = atBudgets(units, "WordPiece.learnVocabBatched",
      () => new PairLedger.Likelihood, 5, 3, 16)
      .map(m => Seq(m.idx, m.batch, m.lhs, m.rhs, m.mct,
        math.floor(m.score * 1e6) / 1e6, m.symsAfter))
    assert(inc.nonEmpty && inc === fb)
  }

  test("induce owns the batched argument checks, caller-prefixed") {
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    def msg(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(msg(Bpe.mergesBatched(docs, batches = 0, batchSize = 1)) ===
      "requirement failed: Bpe.mergesBatched: batches must be in " +
        "[1, 4096], got 0")
    assert(msg(WordPiece.learnVocabBatched(docs.select(col("text")
      .as("unit")), batches = 1, batchSize = 300)) ===
      "requirement failed: WordPiece.learnVocabBatched: batchSize must " +
        "be in [1, 256], got 300")
    assert(msg(Bpe.mergesBatched(docs, batches = 1, batchSize = 8,
      window = 4)) === "requirement failed: Bpe.mergesBatched: window 4 " +
        "must be >= batchSize 8")
  }
}
