package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** BPE merge induction and encoding (Bpe.merges / applyMerges / encode*). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Per-rule reference: rules in order, each one greedy left-to-right
    * non-overlapping scan over the whole symbol array. */
  private def refWalk(syms: Seq[String],
      rules: Seq[(String, String)]): Seq[String] =
    rules.foldLeft(syms) { case (s, (l, r)) =>
      val out = Seq.newBuilder[String]
      var j = 0
      while (j < s.length) {
        if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
          out += l + r; j += 2
        } else { out += s(j); j += 1 }
      }
      out.result()
    }

  /** [[refWalk]] over whitespace words (lower-cased, split by code
    * point), concatenated per document in word order. */
  private def refEncode(docs: Seq[(Long, String)],
      rules: Seq[(String, String)]): Seq[(Long, Seq[String])] =
    docs.map { case (id, text) =>
      id -> text.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
        .flatMap(w => refWalk(
          w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp))),
          rules))
    }.sortBy(_._1)

  private def cps(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  private def wordsOf(docs: Seq[String]): Seq[String] =
    docs.flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)

  /** Sequential reference induction over `units`, on the driver: word
    * counts, naive adjacent-pair counts, the argmax pair by
    * (ct DESC, a, b) — or, `likelihood`, by the IEEE score
    * ct / (ct_a · ct_b) DESC, then (a, b) — and the greedy fold
    * ([[refWalk]]). One row per learned merge: (round, lhs, rhs, naive
    * ct, score truncate6'd, syms_after). ASCII fixtures only: ties
    * compare strings in JVM order. */
  private def refInduce(units: Seq[String], rounds: Int,
      likelihood: Boolean): Seq[(Long, String, String, Long, Double, Long)] = {
    var words = units.filter(_.nonEmpty).groupBy(identity).toSeq
      .map { case (w, ws) => (cps(w), ws.size.toLong) }
    val out = Seq.newBuilder[(Long, String, String, Long, Double, Long)]
    for (r <- 1 to rounds) {
      val pairs = words.flatMap { case (s, c) =>
        s.sliding(2).collect { case Seq(a, b) => ((a, b), c) } }
        .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      val symCt = words.flatMap { case (s, c) => s.map(_ -> c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      def score(p: ((String, String), Long)): Double =
        if (likelihood) p._2.toDouble /
          (symCt(p._1._1).toDouble * symCt(p._1._2).toDouble)
        else p._2.toDouble
      val ranked = pairs.sortWith { (x, y) =>
        val d = java.lang.Double.compare(score(y), score(x))
        if (d != 0) d < 0
        else if (x._1._1 != y._1._1) x._1._1 < y._1._1
        else x._1._2 < y._1._2
      }
      ranked.headOption.foreach { case p @ ((a, b), ct) =>
        words = words.map { case (s, c) => (refWalk(s, Seq((a, b))), c) }
        out += ((r.toLong, a, b, ct, math.floor(score(p) * 1e6) / 1e6,
          words.map { case (s, c) => s.size * c }.sum))
      }
    }
    out.result()
  }

  private def encoded(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[String])] =
    df.orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq

  test("applyMerge: greedy left-to-right, overlapping pairs don't chain") {
    val df = Seq(
      Seq("a", "a", "a"),            // (a,a) -> [aa, a], NOT [aaa]
      Seq("a", "a", "a", "a"),       // -> [aa, aa]
      Seq("b", "a", "a"),            // -> [b, aa]
      Seq("a", "b"),                 // no (a,a) pair: unchanged
      Seq("x")                       // singleton: unchanged
    ).toDF("syms")
    val r = df.select(Bpe.applyMerges(col("syms"), Seq(Seq(("a", "a")))).as("m"))
      .as[Seq[String]].collect().toSeq
    assert(r === Seq(
      Seq("aa", "a"), Seq("aa", "aa"), Seq("b", "aa"),
      Seq("a", "b"), Seq("x")))
  }

  test("applyMerge: boundary-exact — a symbol merely ENDING in lhs " +
    "does not match") {
    val df = Seq(Seq("xa", "b"), Seq("a", "b")).toDF("syms")
    val r = df.select(Bpe.applyMerges(col("syms"), Seq(Seq(("a", "b")))).as("m"))
      .as[Seq[String]].collect().toSeq
    assert(r === Seq(Seq("xa", "b"), Seq("ab")))
  }

  test("merges: ledger is consistent — syms_after falls by exactly ct " +
    "each round; ties break lexicographically") {
    // "ab" x3, "ba" x3: pair (a,b) ct=3 ties (b,a) ct=3 -> (a,b) wins
    val docs = Seq((1L, "ab ab ab ba ba ba")).toDF("doc_id", "text")
    val m = Bpe.merges(docs, rounds = 2)
      .orderBy("round")
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(m.head === ((1L, "a", "b", 3L, 9L)))  // 12 chars - 3 merges
    // round 2: remaining pairs are (b,a) x3 -> merge, 9 - 3 = 6 symbols
    assert(m(1) === ((2L, "b", "a", 3L, 6L)))
  }

  test("encode: segments with merges in order, reassembles in doc order, " +
    "empty docs yield empty arrays") {
    val docs = Seq((1L, "abab ab"), (2L, ""), (3L, "ba")).toDF("doc_id", "text")
    val r = Bpe.encode(docs, Seq(("a", "b"), ("ab", "ab")))
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
    // "abab": chars -> (a,b) merge -> [ab, ab] -> (ab,ab) merge -> [abab]
    assert(r === Seq(
      (1L, Seq("abab", "ab")), (2L, Seq.empty[String]), (3L, Seq("b", "a"))))
  }

  test("merges: result is partition-layout invariant") {
    val docs = Seq(
      (1L, "spark spark shark"), (2L, "spar spars park"),
      (3L, "a bb ccc dddd")).toDF("doc_id", "text")
    val a = Bpe.merges(docs, rounds = 3).collect().toSeq
    val b = Bpe.merges(docs.repartition(7), rounds = 3).collect().toSeq
    assert(a === b)
  }

  test("mergesBatched with batchSize=1 is exactly sequential merges") {
    val texts = Seq("spark spark shark park", "spar spars park hark",
      "lower flower tower power")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val ref = refInduce(wordsOf(texts), rounds = 6, likelihood = false)
      .map(r => (r._1, r._2, r._3, r._4, r._6))
    assert(ref.size === 6)
    val seq = Bpe.merges(docs, rounds = 6).orderBy("round")
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(seq === ref)
    val bat = Bpe.mergesBatched(docs, batches = 6, batchSize = 1)
      .orderBy("merge_idx")
      .as[(Long, Long, String, String, Long, Long)].collect().toSeq
    // no self-pair runs in this corpus: the batched ledger's
    // greedy-mergeable count equals the naive count
    assert(bat.map(r => (r._1, r._3, r._4, r._5, r._6)) === ref)
    assert(bat.map(_._2) === (1L to 6L))  // one merge per batch
  }

  test("self-pair runs: merges records the naive count, mergesBatched the " +
    "fold's") {
    import graft.operators.WordPiece
    // "aaaa"×2 + "aaa" + "baab": (a,a) naive ct = 2·3 + 2 + 1 = 9, the
    // fold merges ⌊run/2⌋ per run = 2·2 + 1 + 1 = 6 of 15 symbols
    val text = "aaaa aaaa aaa baab"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val seq = Bpe.merges(docs, rounds = 4).orderBy("round")
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(seq.head === ((1L, "a", "a", 9L, 9L)))
    val ref = refInduce(wordsOf(Seq(text)), rounds = 4, likelihood = false)
    assert(seq === ref.map(r => (r._1, r._2, r._3, r._4, r._6)))
    val bat = Bpe.mergesBatched(docs, batches = 1, batchSize = 1)
      .as[(Long, Long, String, String, Long, Long)].collect().toSeq
    assert(bat === Seq((1L, 1L, "a", "a", 6L, 9L)))
    val units = wordsOf(Seq(text)).toDF("unit")
    val wp = WordPiece.learnVocab(units, rounds = 4).orderBy("round")
      .as[(Long, String, String, Long, Double, Long)].collect().toSeq
    assert(wp === refInduce(wordsOf(Seq(text)), rounds = 4,
      likelihood = true))
  }

  test("applyMerges: a triple-disjoint layer equals per-rule layers in any order") {
    val rules = Seq(("a", "b"), ("c", "d"), ("x", "y"))
    val df = Seq(
      Seq("a", "b", "c", "d", "a", "b"),
      Seq("c", "a", "b", "d"),          // (a,b) merges, c/d stay apart
      Seq("x", "y", "x", "y", "x"),     // greedy overlap within one rule
      Seq("q"), Seq.empty[String]
    ).toDF("syms")
    val setWise = df.select(Bpe.applyMerges(col("syms"), Seq(rules)).as("m"))
      .as[Seq[String]].collect().toSeq
    val seqWise = df.select(
        Bpe.applyMerges(col("syms"), rules.map(Seq(_))).as("m"))
      .as[Seq[String]].collect().toSeq
    assert(setWise === seqWise)
    val reversed = df.select(
        Bpe.applyMerges(col("syms"), Seq(rules.reverse)).as("m"))
      .as[Seq[String]].collect().toSeq
    assert(setWise === reversed)
    assert(setWise.head === Seq("ab", "cd", "ab"))
  }

  test("mergesBatched: batch selection skips symbol-sharing and " +
    "result-colliding candidates; ledger falls by ct per merge") {
    // pair counts: (a,b)=4 picked first; (b,c)=3 shares b -> skipped;
    // (x,y)=3 disjoint -> picked second within the same batch
    val docs = Seq(
      (1L, "abc abc abc ab xy xy xy")).toDF("doc_id", "text")
    val led = Bpe.mergesBatched(docs, batches = 1, batchSize = 4,
        window = 16).orderBy("merge_idx")
      .as[(Long, Long, String, String, Long, Long)].collect().toSeq
    assert(led.map(r => (r._3, r._4)).contains(("a", "b")))
    assert(led.map(r => (r._3, r._4)).contains(("x", "y")))
    assert(!led.map(r => (r._3, r._4)).contains(("b", "c")),
      s"(b,c) shares b with the already-selected (a,b): $led")
    // every ledger step drops syms_after by exactly its ct
    val docsTotal = 17L  // chars in all words: 3*3 + 2 + 3*2
    led.foldLeft(docsTotal) { case (prev, r) =>
      assert(r._6 === prev - r._5, s"ledger step $r from $prev"); r._6 }
  }

  test("encodeTable equals encode: cascades, empties, singletons") {
    val docs = Seq((1L, "abab ab"), (2L, ""), (3L, "ba"), (4L, "x abab"))
      .toDF("doc_id", "text")
    val rules = Seq(("a", "b"), ("ab", "ab"))
    // "abab": (a,b) -> [ab, ab], then (ab,ab) cascades -> [abab]
    val expected = Seq((1L, Seq("abab", "ab")), (2L, Seq.empty[String]),
      (3L, Seq("b", "a")), (4L, Seq("x", "abab")))
    assert(encoded(Bpe.encodeTable(docs, rules)) === expected)
    assert(encoded(Bpe.encode(docs, rules)) === expected)
  }

  test("encodeTable: rule order is sequential — a later rule cannot " +
    "resurrect an earlier one (exact encode parity on the corner)") {
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    // (ab,c) runs FIRST but symbol "ab" doesn't exist yet -> no-op;
    // then (a,b) -> [ab, c]; the now-present "ab" must NOT re-trigger
    // the earlier (ab,c) rule
    val rules = Seq(("ab", "c"), ("a", "b"))
    val t = Bpe.encodeTable(docs, rules)
      .as[(Long, Seq[String])].head()._2
    val e = Bpe.encode(docs, rules)
      .as[(Long, Seq[String])].head()._2
    assert(t === Seq("ab", "c"))
    assert(e === Seq("ab", "c"))
    // reversed order DOES cascade: (a,b) -> [ab, c], then (ab,c) -> [abc]
    assert(Bpe.encodeTable(docs, rules.reverse)
      .as[(Long, Seq[String])].head()._2 === Seq("abc"))
  }

  test("encodeTable equals encode under LEARNED merges on a real corpus " +
    "slice; partition-invariant") {
    val corpus = Seq(
      (1L, "spark spark shark park lower flower"),
      (2L, "spar spars park hark tower power"),
      (3L, "lower flower tower power spark"))
    val docs = corpus.toDF("doc_id", "text")
    val learned = Bpe.merges(docs, rounds = 5).orderBy("round")
      .select(col("lhs"), col("rhs"))
      .as[(String, String)].collect().toSeq
    val ref = refEncode(corpus, learned)
    assert(encoded(Bpe.encode(docs, learned)) === ref)
    assert(encoded(Bpe.encodeTable(docs, learned)) === ref)
    assert(encoded(Bpe.encodeTable(docs.repartition(7), learned)) === ref)
  }

  test("encodeTable equals encodeBatches on a LARGE learned table") {
    val corpus = Seq(
      (1L, "international internationalization nation nationalize"),
      (2L, "internal internet interstellar station relation"),
      (3L, "the then there these those than that this"),
      (4L, "rational rationale ration national notion motion"))
    val docs = corpus.toDF("doc_id", "text")
    val led = Bpe.mergesBatched(docs, batches = 4, batchSize = 8,
      window = 48).orderBy("merge_idx")
      .as[(Long, Long, String, String, Long, Long)].collect().toSeq
    assert(led.size >= 20, s"fixture learned only ${led.size} merges")
    val batches = led.groupBy(_._2).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._1).map(r => (r._3, r._4)))
    // one layer per batch == the flat list rule by rule
    val ref = refEncode(corpus, batches.flatten)
    assert(encoded(Bpe.encodeBatches(docs, batches)) === ref)
    assert(encoded(Bpe.encodeTable(docs, batches.flatten)) === ref)
  }

  test("encodeBatches equals encode on the flat merge list when batches " +
    "are triple-disjoint") {
    val docs = Seq((1L, "abab cdcd ab"), (2L, ""), (3L, "dcba")).toDF("doc_id", "text")
    val batches = Seq(Seq(("a", "b"), ("c", "d")), Seq(("ab", "ab")))
    val expected = Seq((1L, Seq("abab", "cd", "cd", "ab")),
      (2L, Seq.empty[String]), (3L, Seq("d", "c", "b", "a")))
    assert(encoded(Bpe.encodeBatches(docs, batches)) === expected)
    assert(encoded(Bpe.encode(docs, batches.flatten)) === expected)
  }

  test("every encoder splits words by code point: an astral symbol " +
    "survives whole and merges like any other") {
    // U+1F600 is one code point but two UTF-16 units
    val emoji = new String(Character.toChars(0x1F600))
    val text = s"a${emoji}b a$emoji"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val rules = Seq(("a", emoji))
    val expected = Seq((1L, Seq(s"a$emoji", "b", s"a$emoji")))
    val outs = Seq(
      "encode" -> Bpe.encode(docs, rules),
      "encodeBatches" -> Bpe.encodeBatches(docs, Seq(rules)),
      "encodeTable" -> Bpe.encodeTable(docs, rules),
      "encodeTableBytes" -> Bpe.encodeTableBytes(docs, rules,
        alphabet = Set("a", "b", emoji)))
    outs.foreach { case (name, df) =>
      val got = encoded(df)
      assert(got.head._2.mkString === text.replace(" ", ""),
        s"$name: symbols must spell the words losslessly, got $got")
      assert(got === expected, name)
    }
  }

  test("encode with 1,200 single-rule layers plans as ONE MergeFold and " +
    "matches the per-rule reference walk") {
    val rnd = new scala.util.Random(42)
    val corpus = (1 to 12).map { d =>
      d.toLong -> Seq.fill(6)(
        Seq.fill(1 + rnd.nextInt(10))("abcd"(rnd.nextInt(4))).mkString)
        .mkString(" ")
    }
    // rules alternate between pairs adjacent in the current reference
    // segmentation (they fire, and build cascades) and random pairs over
    // every symbol seen so far (mostly no-ops, some order-sensitive)
    val words = corpus.flatMap(_._2.split(" ")).distinct
    var segs: Seq[Seq[String]] = words.map(w => w.map(_.toString).toSeq)
    val pool = scala.collection.mutable.ArrayBuffer("a", "b", "c", "d")
    val rules = (0 until 1200).map { k =>
      val adj = segs.flatMap(s => s.zip(s.drop(1)))
      val rule =
        if (k % 2 == 0 && adj.nonEmpty) adj(rnd.nextInt(adj.length))
        else (pool(rnd.nextInt(pool.length)), pool(rnd.nextInt(pool.length)))
      segs = segs.map(s => refWalk(s, Seq(rule)))
      pool += rule._1 + rule._2
      rule
    }
    val docs = corpus.toDF("doc_id", "text")
    val enc = Bpe.encode(docs, rules)
    val folds = enc.queryExecution.analyzed.flatMap(_.expressions
      .flatMap(_.collect { case m: graft.expressions.MergeFold => m }))
    assert(folds.size === 1, s"expected one MergeFold node, got ${folds.size}")
    assert(folds.head.layers.size === 1200)
    assert(encoded(enc) === refEncode(corpus, rules))
  }

  test("pipe-containing words: the r18 MergeFold kernel compares whole " +
    "symbols, so the fold tier now agrees with encodeTable on pipes " +
    "(the no-'|' precondition is oracle-replay-only)") {
    // "a|b" tokenizes to symbols [a, |, b]; rule (a,b) must NOT apply
    // (the operands are not adjacent). The pre-r18 Catalyst string fold
    // '|'-joined its accumulator and CORRUPTED this input to
    // [a, "", "", b]; the native kernel has no separator encoding and
    // segments exactly like encodeTable. The DuckDB fold ORACLES still
    // '|'-encode, which is why the no-pipe corpus guard stays asserted
    // gate-side — but it is no longer an engine-correctness issue.
    val docs = Seq((1L, "a|b ab")).toDF("doc_id", "text")
    val rules = Seq(("a", "b"))
    val t = Bpe.encodeTable(docs, rules).orderBy("doc_id")
      .as[(Long, Seq[String])].collect().head._2
    assert(t === Seq("a", "|", "b", "ab"),
      "encodeTable compares whole symbols — a literal '|' is just a symbol")
    val f = Bpe.encode(docs, rules).orderBy("doc_id")
      .as[(Long, Seq[String])].collect().head._2
    assert(f === t,
      "the native kernel segments pipe-bearing words exactly")
  }

  test("MergeFold kernel: rules sharing an rhs all match; tail identity " +
    "is whole-symbol; merged output never re-matches in-pass") {
    // two rules with the same rhs ((a,b) and (x,b)) — the rhs-keyed
    // lookup must scan BOTH lhs candidates; "xab" has (a,b) adjacent
    // after x, "xb" matches (x,b) directly
    val df = Seq(
      Seq("x", "a", "b"),       // (a,b) fires -> [x, ab]
      Seq("x", "b"),            // (x,b) fires -> [xb]
      Seq("a", "b", "b"),       // greedy: ab then b (ab,b) not a rule
      Seq("b", "a")             // rhs-first probe misses: unchanged
    ).toDF("syms")
    val r = df.select(
        Bpe.applyMerges(col("syms"), Seq(Seq(("a", "b"), ("x", "b")))).as("m"))
      .as[Seq[String]].collect().toSeq
    assert(r === Seq(
      Seq("x", "ab"), Seq("xb"), Seq("ab", "b"), Seq("b", "a")))
  }

  test("mergesBatched: self-pairs select with RUN-AWARE attribution — " +
    "the ledger subtracts the fold's exact removals (⌊run/2⌋ per run), " +
    "so 'aaa' under (a,a) keeps conservation exact") {
    // (a,a) naive ct = 2·3 = 6 (overlapping adjacencies rank it first,
    // sequential BPE's argmax order) but the fold merges ⌊3/2⌋ = 1 per
    // "aaa" → attribution 3; (x,y) ct = 2 is triple-disjoint ({a,aa} vs
    // {x,y,xy}) and joins the same batch. Conservation requires fire
    // in-engine on every batch — a naive-ct attribution would break
    // round 2's measured total on this exact corpus.
    val docs = Seq((1L, "aaa aaa aaa xy xy")).toDF("doc_id", "text")
    val led = Bpe.mergesBatched(docs, batches = 2, batchSize = 4, window = 16)
      .orderBy("merge_idx")
      .as[(Long, Long, String, String, Long, Long)].collect().toSeq
    // total symbols: 3·3 + 2·2 = 13
    // batch 1: (a,a) mct 3 → 10; (x,y) mct 2 → 8
    assert(led.take(2).map { case (_, b, l, r, ct, after) =>
      (b, l, r, ct, after) } ===
      Seq((1L, "a", "a", 3L, 10L), (1L, "x", "y", 2L, 8L)))
    // batch 2 continues on the merged corpus: "aa|a" ×3 → (aa,a) ct 3
    assert(led.drop(2).headOption.map { case (_, b, l, r, ct, after) =>
      (b, l, r, ct, after) } === Some((2L, "aa", "a", 3L, 5L)))
    // every ledger step still telescopes exactly
    led.foldLeft(13L) { case (prev, (_, _, _, _, ct, after)) =>
      assert(after === prev - ct); after
    }
  }

  test("mergesBatched: run-aware self-pair counts — even and odd runs, " +
    "runs split across words, weighted by word count") {
    // "aaaa"×2 (⌊4/2⌋=2 each → 4) + "aaa" (1) + "baab" (⌊2/2⌋=1):
    // (a,a) attribution = 2·2 + 1 + 1 = 6, naive ct = 2·3 + 2 + 1 = 9
    val docs = Seq((1L, "aaaa aaaa aaa baab")).toDF("doc_id", "text")
    val led = Bpe.mergesBatched(docs, batches = 1, batchSize = 1, window = 8)
      .orderBy("merge_idx")
      .as[(Long, Long, String, String, Long, Long)].collect().toSeq
    // total symbols 4+4+3+4 = 15; (a,a) wins, removes 6
    assert(led.head._3 === "a" && led.head._4 === "a")
    assert(led.head._5 === 6L, s"run-aware attribution: $led")
    assert(led.head._6 === 9L)
  }

  test("WordPiece.learnVocab: likelihood argmax diverges from frequency " +
    "BPE where parts are individually common; exact score and ledger") {
    import graft.operators.WordPiece
    // (a,b) is the most FREQUENT pair (ct=10) but its parts are inflated
    // by standalone occurrences (ca=cb=30 -> score 10/900); (c,d) with
    // ct=3, cc=cd=3 scores 3/9 — likelihood training must pick (c,d)
    // first while frequency BPE picks (a,b)
    val units = (Seq.fill(10)("ab") ++ Seq.fill(3)("cd") ++
      Seq.fill(20)("a") ++ Seq.fill(20)("b")).toDF("unit")
    val led = WordPiece.learnVocab(units, rounds = 1)
      .as[(Long, String, String, Long, Double, Long)].collect().toSeq
    assert(led.head._2 === "c" && led.head._3 === "d", s"got $led")
    assert(led.head._4 === 3L)
    assert(led.head._5 === math.floor(3.0 / 9.0 * 1e6) / 1e6)
    // symbols: 10*2 + 3*2 + 20 + 20 = 66; merging (c,d) removes 3
    assert(led.head._6 === 63L)
    val freq = Bpe.merges(units.select(col("unit").as("text")), rounds = 1)
      .collect().head
    assert(freq.getString(1) === "a" && freq.getString(2) === "b",
      "sanity: frequency BPE prefers the raw-count winner")
    // ties in score fall to (a, b) ascending — deterministic argmax
    val tied = (Seq.fill(2)("xy") ++ Seq.fill(2)("uv")).toDF("unit")
    val t = WordPiece.learnVocab(tied, rounds = 1)
      .as[(Long, String, String, Long, Double, Long)].collect().head
    assert(t._2 === "u" && t._3 === "v", s"tie-break must pick (u,v): $t")
  }

  test("learnVocabBatched with batchSize=1 is exactly sequential " +
    "learnVocab: same picks, same scores, same symbol ledger") {
    import graft.operators.WordPiece
    val words = Seq("spark", "spark", "shark", "park", "spar", "spars",
      "lower", "flower", "tower", "power", "ab", "ab", "ab", "cd")
    val units = words.toDF("unit")
    val ref = refInduce(words, rounds = 6, likelihood = true)
    assert(ref.size === 6)
    val seqLed = WordPiece.learnVocab(units, rounds = 6).orderBy("round")
      .as[(Long, String, String, Long, Double, Long)].collect().toSeq
    assert(seqLed === ref)
    val bat = WordPiece.learnVocabBatched(units, batches = 6, batchSize = 1)
      .orderBy("merge_idx")
      .as[(Long, Long, String, String, Long, Double, Long)].collect().toSeq
    // sequential records the naive pair count, batched the greedy-
    // mergeable count — identical off self-pairs (none in this corpus)
    assert(bat.map(r => (r._1, r._3, r._4, r._5, r._6, r._7)) === ref)
    assert(bat.map(_._2) === (1L to 6L)) // one merge per batch
  }

  test("learnVocabBatched: triple-disjoint selection under the LIKELIHOOD " +
    "ranking — an overlapping candidate is skipped even when it outscores " +
    "the rest, and the conservation ledger holds") {
    import graft.operators.WordPiece
    // scores: (c,d): 3/(3*3)=0.333 picked first; (d,e): shares 'd' with
    // the first pick's triple -> skipped in-batch despite score
    // 3/(3*23)≈0.043 > (a,b)'s 10/(30*30)≈0.011; (b,f) disjoint -> picked
    val units = (Seq.fill(10)("ab") ++ Seq.fill(3)("cde") ++
      Seq.fill(20)("a") ++ Seq.fill(20)("bf")).toDF("unit")
    val led = WordPiece.learnVocabBatched(units, batches = 1,
        batchSize = 3, window = 16)
      .orderBy("merge_idx")
      .as[(Long, Long, String, String, Long, Double, Long)].collect().toSeq
    val picks = led.map(r => (r._3, r._4))
    assert(picks.contains(("c", "d")) && !picks.contains(("d", "e")),
      s"(d,e) shares a symbol with (c,d)'s triple and must be skipped: $led")
    // ledger telescopes by ct against the true corpus symbol total
    // (10*2 + 3*3 + 20*1 + 20*2 = 89)
    var running = 89L
    led.foreach { r => running -= r._5; assert(r._7 === running, s"$led") }
  }
}
