package graft

import graft.functions.VectorFns
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // the pure-builtin formulations: the reference the native expressions
  // must match bit for bit (same accumulation order, double precision)
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  private def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (norm(a) * norm(b))

  private def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, x) => acc + x)

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.5f, -0.5f, 2.5f), Array(-1.0f, 0.0f, 1.0f))
  ).toDF("id", "a", "b")

  test("native cosine/dot/l2sq are bit-identical to the HOF formulations") {
    val r = vecs.select(
      VectorFns.cosine(col("a"), col("b")).as("cn"),
      cosineHof(col("a"), col("b")).as("ch"),
      VectorFns.dot(col("a"), col("b")).as("dn"),
      dotHof(col("a"), col("b")).as("dh"),
      VectorFns.l2sq(col("a"), col("b")).as("ln"),
      l2sqHof(col("a"), col("b")).as("lh")).collect()
    r.foreach { row =>
      def d(i: Int) = java.lang.Double.doubleToLongBits(row.getDouble(i))
      assert(d(0) === d(1), "cosine")
      assert(d(2) === d(3), "dot")
      assert(d(4) === d(5), "l2sq")
    }
  }

  test("native cosine survives whole-stage codegen (no fallback)") {
    // non-foldable codegen-friendly input: array() of column exprs (the
    // transform/sequence HOFs would themselves be CodegenFallback and
    // break the span)
    val df = spark.range(10).select(
      array((0 to 7).map(j => (col("id") + j).cast("float")): _*).as("a"),
      array((0 to 7).map(j => (col("id") * j).cast("float")): _*).as("b"))
    val planned = df.select(VectorFns.cosine(col("a"), col("b")))
    val plan = planned.queryExecution.executedPlan.toString
    // the '*' prefix marks operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project"), plan)
  }

  test("native cosine of a zero vector is NaN (no ANSI divide-by-zero)") {
    val df = spark.range(1).select(
      transform(sequence(lit(0), lit(3)), _ => lit(0.0f)).as("a"),
      transform(sequence(lit(0), lit(3)), _ => lit(1.0f)).as("b"))
    assert(df.select(VectorFns.cosine(col("a"), col("b"))).as[Double].head().isNaN)
  }

  test("graft_tokenize works as SQL LATERAL VIEW (U1 parity)") {
    Seq((1L, "  Hello  WORLD  "), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("id", "text").createOrReplaceTempView("kw")
    val r = spark.sql(
      "SELECT id, word FROM kw LATERAL VIEW graft_tokenize(text) t AS word")
      .as[(Long, String)].collect().toSet
    assert(r === Set((1L, "hello"), (1L, "world")))
  }

  test("sketch kernels equal a builtin-md5 reference bit-for-bit") {
    // the reference is the oracle's formula built from Spark builtins:
    // TextFns shingles, HashFns.md5Lower64 (builtin md5 -> unsigned
    // decimal), the same affine family, folded driver-side on BigInts
    import graft.functions.{HashFns, TextFns}
    val texts = Seq("", "   ", "one two", "a b a b a b a b",
      "  The QUICK\tbrown  fox\nJumps over THE quick brown fox ")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for (n <- Seq(1, 3)) {
      val hashes: Map[Long, Seq[BigInt]] = docs
        .select(col("id"),
          posexplode(TextFns.shingles(TextFns.tokensWs(col("text")), n)))
        .toDF("id", "pos", "sh")
        .select(col("id"), col("pos"), HashFns.md5Lower64(col("sh")).as("h"))
        .as[(Long, Int, java.math.BigDecimal)].collect().toSeq
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(r => BigInt(r._3.toBigIntegerExact)))
        .toMap
      assert(hashes.keySet === texts.indices.map(_.toLong).toSet)

      val (numPerms, bands) = (16, 4)
      val perms = HashFns.permutations(numPerms)
      val refBands = hashes.view.mapValues { hs =>
        val sig = perms.map { case (a, b) =>
          hs.map(h => (a * (h % HashFns.P).toLong + b) % HashFns.P).min }
        sig.grouped(numPerms / bands).map(_.mkString(",")).zipWithIndex
          .map { case (k, b) => (b, k) }.toSeq
      }.toMap
      val kernelBands = docs
        .select(col("id"), explode(call_function("graft_minhash_bands_p",
          col("text"), lit(n), lit(numPerms), lit(bands))).as("b"))
        .select(col("id"), col("b.band"), col("b.key"))
        .as[(Long, Int, String)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1))
        .toMap
      assert(kernelBands === refBands, s"minhash bands, n=$n")

      val refSim = hashes.view.mapValues { hs =>
        val votes = (0 until 64).map(b => hs.map(h => if (h.testBit(b)) 1 else -1).sum)
        def half(from: Int) = (0 until 32)
          .map(b => if (votes(from + b) > 0) 1L << b else 0L).sum
        (half(0), half(32))
      }.toMap
      val kernelSim = docs
        .select(col("id"),
          call_function("graft_simhash_p", col("text"), lit(n)).as("s"))
        .select(col("id"), col("s.lo"), col("s.hi"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(kernelSim === refSim, s"simhash, n=$n")
    }
  }

  test("sketch kernels reject a non-positive shingleLen, numPerms or bands by name") {
    val docs = Seq("a b c d").toDF("text")
    def fn(name: String, args: Int*) =
      call_function(name, (col("text") +: args.map(lit(_))): _*)
    Seq(
      "shingleLen" -> fn("graft_shingles", 0),
      "shingleLen" -> fn("graft_minhash_bands_p", 0, 64, 16),
      "bands" -> fn("graft_minhash_bands_p", 3, 64, 0),
      "numPerms" -> fn("graft_minhash_bands_p", 3, 0, 16),
      "shingleLen" -> fn("graft_simhash_p", 0)
    ).foreach { case (arg, c) =>
      val e = intercept[Exception](docs.select(c).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => (t.isInstanceOf[IllegalArgumentException] ||
          t.isInstanceOf[org.apache.spark.sql.AnalysisException]) &&
        String.valueOf(t.getMessage).contains(s"$arg must be >= 1")),
        s"$c: ${chain.map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" <- ")}")
    }
  }

  test("native langid matches the HOF langId including tie-breaks") {
    import graft.functions.TextFns
    val docs = Seq(
      "the cat and the dog is with you",
      "el gato que los perros con una casa",
      "le chat est dans la maison pour une nuit",
      "der hund und die katze ist nicht ein",
      "的 是 不 我 了",
      "la la la",            // es/fr tie on 'la'
      "zzz qqq", "").toDF("text")
    val native = docs.select(call_function("graft_langid", col("text")))
      .as[String].collect()
    val hof = docs.select(TextFns.langId(col("text"))).as[String].collect()
    assert(native === hof)
  }

  test("native shingles match the HOF shingles on edge cases") {
    import graft.functions.TextFns
    val docs = Seq("the quick brown fox", "one two", "solo", "", "  a  b  ")
      .toDF("text")
    val native = docs.select(
      call_function("graft_shingles", col("text"), lit(3))).as[Seq[String]].collect()
    val hof = docs.select(
      TextFns.shingles(TextFns.tokensWs(col("text")), 3)).as[Seq[String]].collect()
    assert(native === hof)
  }

  test("graft_nfc normalizes decomposed text, is null-safe, and stays in codegen") {
    val composed = "\u00e9t\u00e9"          // été, precomposed
    val decomposed = "e\u0301te\u0301"  // same text, combining acutes
    val df = Seq(
      (decomposed, 1L),
      (composed, 2L),
      ("plain ascii", 3L),
      (null.asInstanceOf[String], 4L)).toDF("t", "id")
    val out = df.select(col("id"),
      call_function("graft_nfc", col("t")).as("n")).orderBy(col("id"))
      .collect()
    assert(out(0).getString(1) === composed)
    assert(out(1).getString(1) === composed)
    assert(out(2).getString(1) === "plain ascii")
    assert(out(3).isNullAt(1))
    // composed and decomposed collapse to one group after normalization
    val groups = df.filter(col("t").isNotNull)
      .groupBy(call_function("graft_nfc", col("t"))).count().count()
    assert(groups === 2)
    // real doGenCode: a non-foldable input keeps the projection inside a
    // WholeStageCodegen span (a local Seq would constant-fold away)
    val plan = spark.range(10)
      .select(call_function("graft_nfc", concat(lit("x"), col("id"))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(600))
  }

  test("ensureRegistered makes queries work on a session without extensions") {
    val reg = spark.sessionState.functionRegistry
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    graft.expressions.GraftExtensions.functions.map(_._1).foreach { n =>
      reg.dropFunction(FunctionIdentifier(n))
    }
    // any Tables.read path re-registers
    val r = SparkEntry.queries("text_quality")(spark, "/root/testdata/sf0.001")
    assert(r.limit(1).count() === 1)
  }

  test("graft_run_pairs: cross pairs per run boundary, self pairs with " +
    "naive + greedy counts per run; edge shapes") {
    import org.apache.spark.sql.functions._
    def pairs(s: Seq[String]): Seq[(String, String, Long, Long)] = {
      Seq(Tuple1(s)).toDF("syms")
        .select(explode(call_function("graft_run_pairs", col("syms"))).as("p"))
        .select(col("p.a"), col("p.b"), col("p.ct"), col("p.mct"))
        .as[(String, String, Long, Long)].collect().toSeq
    }
    // "aab|b|a": runs aa(2) bb(2)... spell it: a a b b a ->
    // runs [a,2][b,2][a,1]; cross (a,b,1,1),(b,a,1,1); self (a,a,1,1),(b,b,1,1)
    assert(pairs(Seq("a", "a", "b", "b", "a")).sorted ===
      Seq(("a", "a", 1L, 1L), ("a", "b", 1L, 1L),
        ("b", "a", 1L, 1L), ("b", "b", 1L, 1L)).sorted)
    // odd run: aaa -> ct 2 (naive adjacencies), mct 1 (greedy merges)
    assert(pairs(Seq("a", "a", "a")) === Seq(("a", "a", 2L, 1L)))
    // even run of 4: ct 3, mct 2
    assert(pairs(Seq("x", "x", "x", "x")) === Seq(("x", "x", 3L, 2L)))
    // no runs: all cross with ct = mct = 1
    assert(pairs(Seq("p", "q", "r")) ===
      Seq(("p", "q", 1L, 1L), ("q", "r", 1L, 1L)))
    // degenerate shapes
    assert(pairs(Seq("solo")).isEmpty)
    assert(pairs(Seq.empty).isEmpty)
    // multi-char symbols (merged tokens) compare as whole symbols
    assert(pairs(Seq("ab", "b")) === Seq(("ab", "b", 1L, 1L)))
    // conservation identity: sum(ct) + 1 == symbols for any single word
    val w = Seq("t", "h", "e", "e", "e", "t", "t", "h")
    assert(pairs(w).map(_._3).sum + 1 === w.length)
  }

  test("graft_merge_fold: a 3-layer stack gives identical rows under " +
    "CODEGEN_ONLY and NO_CODEGEN") {
    val layers = Seq(
      Seq(("a", "a"), ("x", "b"), ("c", "b")), // rhs "b" shared by two rules
      Seq(("aa", "aa"), ("|", "q")),           // a literal pipe is a symbol
      Seq(("aaaa", "a"), ("xb", "|")))
    val rows = Seq(
      1 -> Seq("a", "a", "a", "a", "a"),      // self-pair run, cascades
      2 -> Seq("x", "b", "c", "b", "|", "q"),
      3 -> Seq("x", "b", "|"),
      4 -> Seq("a", "a", "a"),
      5 -> Seq.empty[String],
      6 -> Seq("|"),
      7 -> Seq("c", "b", "b"))
    val expected = Seq(
      1 -> Seq("aaaaa"), 2 -> Seq("xb", "cb", "|q"), 3 -> Seq("xb|"),
      4 -> Seq("aa", "a"), 5 -> Seq.empty[String], 6 -> Seq("|"),
      7 -> Seq("cb", "b"))
    // repartition: a projection straight over a local relation would be
    // evaluated by the optimizer (interpreted), never by generated code
    def run(kvs: (String, String)*): (Seq[(Int, Seq[String])], String) =
      Sessions.withConf(spark, kvs: _*) {
        val df = rows.toDF("id", "syms").repartition(2)
          .select(col("id"),
            graft.operators.Bpe.applyMerges(col("syms"), layers).as("m"))
        val got = df.collect().toSeq.map(r => (r.getInt(0), r.getSeq[String](1)))
        (got.sortBy(_._1), df.queryExecution.executedPlan.toString)
      }
    val (compiled, compiledPlan) =
      run("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val (interpreted, interpretedPlan) =
      run("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")
    assert(compiledPlan.matches("(?s).*\\*\\(\\d+\\) Project.*"), compiledPlan)
    assert(!interpretedPlan.contains("*("), interpretedPlan)
    assert(compiled === interpreted)
    assert(compiled === expected)
  }

  test("graft_cosine callable from plain SQL with implicit casts") {
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c").as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("graft_wordpiece: greedy longest match with ## continuation, " +
    "[UNK] per unmatched position, hand-checked fixtures") {
    def enc(word: String, vocab: Seq[String]): Seq[String] = {
      val df = Seq(word).toDF("w")
        .select(call_function("graft_wordpiece", col("w"),
          array(vocab.map(lit): _*)).as("toks"))
      df.select(explode(col("toks"))).as[String].collect().toSeq
    }
    val vocab = Seq("un", "##able", "##b", "##le", "u", "##n", "##a",
      "able", "ab", "##x")
    // longest match wins at every position: "unable" -> un + ##able,
    // NOT u + ##n + ##a + ##b + ##le
    assert(enc("unable", vocab) === Seq("un", "##able"))
    // initial vs continuation are distinct keys: "able" starts a word
    // so the RAW piece matches; interior "able" needs ##able
    assert(enc("able", vocab) === Seq("able"))
    assert(enc("unableable", vocab) === Seq("un", "##able", "##able"))
    // drop ##able from the vocab and the interior falls to shorter
    // continuation pieces — the raw "able" must NOT match mid-word
    assert(enc("unableable", vocab.filterNot(_ == "##able")) ===
      Seq("un", "##a", "##b", "##le", "##a", "##b", "##le"))
    // unmatched position: [UNK] consumes ONE char, then continuation
    // forms resume (z has no piece; x only as continuation)
    assert(enc("zx", vocab) === Seq("[UNK]", "##x"))
    assert(enc("xz", vocab) === Seq("[UNK]", "[UNK]"))
    // empty input encodes to no tokens
    assert(enc("", vocab) === Seq.empty)
    // null flows through as null (UnaryExpression null contract)
    val n = Seq[Option[String]](None).toDF("w")
      .select(call_function("graft_wordpiece", col("w"),
        array(vocab.map(lit): _*)).as("toks"))
      .collect().head
    assert(n.isNullAt(0))
    // an empty-raw piece (bare "##") would advance zero chars — the
    // encoder rejects it loudly instead of spinning
    val e = intercept[Exception] { enc("ab", Seq("a", "##")) }
    assert(e.getMessage.contains("empty-raw") ||
      Option(e.getCause).exists(_.getMessage.contains("empty-raw")))
  }

  test("WordPiece.vocabUnits: deterministic top-k by (ct desc, piece), " +
    "## convention by position, counts weighted by unit frequency") {
    import graft.operators.WordPiece
    // units: "aab" x3, "ab" x1 -> initial pieces from position 1 only
    val units = Seq("aab", "aab", "aab", "ab").toDF("unit")
    val v = WordPiece.vocabUnits(units, k = 100, maxPieceLen = 2)
      .as[(String, Long)].collect().toMap
    // "aab" wct=3 contributes: a, aa (init), ##a, ##ab, ##b (interior)
    // "ab" wct=1 contributes: a, ab (init), ##b (interior)
    assert(v("a") === 4L)     // 3 + 1 initial singles
    assert(v("aa") === 3L)
    assert(v("ab") === 1L)    // initial bigram of "ab" only
    assert(v("##ab") === 3L)  // interior of "aab"
    assert(v("##b") === 4L)   // 3 from "aab" + 1 from "ab"
    assert(v("##a") === 3L)
    assert(!v.contains("b"))  // 'b' never starts a unit
    // k truncation is deterministic: ties broken by piece ascending
    val top2 = WordPiece.vocabUnits(units, k = 2, maxPieceLen = 2)
      .as[(String, Long)].collect().toSeq
    assert(top2 === Seq(("##b", 4L), ("a", 4L)))
  }
}
