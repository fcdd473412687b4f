package graft

import graft.operators.{Pretrain, Sampling, Scd, Sessionize}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Long, Long)*) = // (event_id, epoch_sec, user)
    rows.toDF("event_id", "sec", "user_id")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")

  test("sessionize splits on gaps > gapSec and numbers sessions per key") {
    val e = ev((1L, 0L, 1L), (2L, 100L, 1L), (3L, 2000L, 1L), (4L, 2100L, 1L),
      (5L, 50L, 2L))
    val out = Sessionize.sessionize(e, gapSec = 1800L)
      .select(col("event_id"), col("session_id")).as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("sessionStats spans and sizes") {
    val e = ev((1L, 0L, 1L), (2L, 100L, 1L), (3L, 9000L, 1L))
    val out = Sessionize.sessionStats(e, gapSec = 1800L)
      .select(col("session_id"), col("n_events"), col("span_us"))
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 2L, 100000000L), (2L, 1L, 0L)))
  }

  test("A-ES weighted sample: exact k, repartition-stable, weight-biased, TakeOrdered") {
    val df = (1 to 2000).map(i => (i.toLong, if (i <= 1000) 10L else 1L))
      .toDF("id", "w")
    val out = Sampling.weightedSample(df, col("id"), col("w"), k = 200)
    val ids = out.select(col("id")).as[Long].collect().toSeq
    assert(ids.length === 200)
    assert(ids.distinct.length === 200) // without replacement
    val again = Sampling.weightedSample(df.repartition(13), col("id"), col("w"), 200)
      .select(col("id")).as[Long].collect().toSeq
    assert(again.sorted === ids.sorted)
    // weight-10 stratum should dominate the sample ~10:1 per draw
    val heavy = ids.count(_ <= 1000)
    assert(heavy > 150, s"heavy stratum underrepresented: $heavy/200")
    // scale shape: distributed top-k, not a global sort
    assert(out.queryExecution.executedPlan.toString.contains("TakeOrdered"))
  }

  test("hash sampling is a pure function of the key: stable under repartition") {
    val df = (1 to 2000).map(_.toLong).toDF("id")
    val once = Sampling.hashSample(df, col("id"), 0.3).as[Long].collect().sorted
    val again = Sampling.hashSample(df.repartition(13), col("id"), 0.3)
      .as[Long].collect().sorted
    assert(once === again)
    // rate lands near 30% (md5 is uniform)
    assert(math.abs(once.length / 2000.0 - 0.3) < 0.05)
  }

  test("stratified sampling honors per-stratum rates and the default") {
    val df = (1 to 3000).map(i => (i.toLong, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("id", "s")
    val kept = Sampling.stratified(df, col("s"), col("id"),
      Map("a" -> 1.0, "b" -> 0.0), defaultRate = 0.5)
    val byS = kept.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(byS.getOrElse("a", 0L) === 1000L) // rate 1.0 keeps all
    assert(byS.getOrElse("b", 0L) === 0L)    // rate 0.0 keeps none
    assert(math.abs(byS.getOrElse("c", 0L) - 500L) < 100L) // default 0.5
  }

  test("leakageSafeSplits: clusters are split-atomic, unpaired docs hash alone") {
    val docs = (1L to 400L).map(i => (i, s"lang${i % 2}", i * 10))
      .toDF("doc_id", "lang", "n_chars")
    // clusters: {1..5} labeled 1, {10..12} labeled 10; everyone else unpaired
    val labels = ((1L to 5L).map(i => (i, 1L)) ++ (10L to 12L).map(i => (i, 10L)))
      .toDF("doc_id", "cluster_id")
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val out = Sampling.leakageSafeSplits(docs, labels, splits)
    // cluster atomicity: every member of a cluster lands in the same split
    val c1 = out.filter(col("doc_id").between(1L, 5L))
      .select("split").distinct().collect()
    val c10 = out.filter(col("doc_id").between(10L, 12L))
      .select("split").distinct().collect()
    assert(c1.length === 1 && c10.length === 1)
    // weights roughly honored (hash-uniform over ~395 cluster keys)
    val bySplit = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit("train") > 250L && bySplit.size === 3)
    // deterministic under repartition
    val again = Sampling.leakageSafeSplits(docs.repartition(13), labels, splits)
      .select("doc_id", "split").as[(Long, String)].collect().sorted
    assert(again === out.select("doc_id", "split").as[(Long, String)].collect().sorted)
    // degenerate weights rejected
    intercept[IllegalArgumentException](
      Sampling.leakageSafeSplits(docs, labels, Seq("a" -> 0.5)))
  }

  test("leakageSafeSplits: labels join is size-tiered — hint forced below the cap, withheld above") {
    val docs = (1L to 200L).map(i => (i, i * 10)).toDF("doc_id", "n_chars")
    val labels = (1L to 50L).map(i => (i, 1L)).toDF("doc_id", "cluster_id")
    val splits = Seq("train" -> 0.9, "test" -> 0.1)
    // Disable the planner's own size-based broadcast so the plans show
    // OUR decision: below the cap the forced hint still broadcasts; above
    // it the hint is withheld and the join falls back to shuffle — at
    // real scale that is Spark declining an executor-OOM-sized broadcast.
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val below = Sampling.leakageSafeSplits(docs, labels, splits)
      assert(below.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val above = Sampling.leakageSafeSplits(docs, labels, splits,
        broadcastMaxLabels = 10L)
      val p = above.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p.take(800))
      // same assignments on either tier — the cap changes distribution only
      assert(above.select("doc_id", "split").as[(Long, String)].collect().sorted
        === below.select("doc_id", "split").as[(Long, String)].collect().sorted)
    }
  }

  test("temperature mixture: rarest stratum keeps all, rates follow sqrt(n_min/n)") {
    // strata: a=16 rows, b=4 rows → alpha=0.5 rates: a=sqrt(4/16)=0.5, b=1.0
    val df = ((1 to 16).map(i => (i.toLong, "a")) ++ (101 to 104).map(i => (i.toLong, "b")))
      .toDF("id", "s")
    val kept = Sampling.temperatureMixture(df, col("s"), col("id"), alpha = 0.5)
    val thr = kept.select(col("s"), col("__thr")).distinct()
      .as[(String, Long)].collect().toMap
    assert(thr("b") === 10000L) // rarest stratum: rate 1.0
    assert(thr("a") === 5000L)  // sqrt(4/16) * 10000
    // all 4 'b' rows survive; selection is deterministic under repartition
    assert(kept.filter(col("s") === "b").count() === 4L)
    val again = Sampling.temperatureMixture(df.repartition(7), col("s"), col("id"))
    assert(again.select("id").as[Long].collect().sorted ===
      kept.select("id").as[Long].collect().sorted)
    // alpha=1 is the identity mixture: every threshold is 10000
    val all = Sampling.temperatureMixture(df, col("s"), col("id"), alpha = 1.0)
    assert(all.count() === 20L)
  }

  test("tokenBudgetSample: crossing doc kept, quota filled, partition-independent") {
    // one group, equal weights 100: budget 250 keeps docs while the
    // PRECEDING kept weight < 250 → exactly 3 docs (0, 100, 200 before),
    // total 300 >= budget (the crossing doc fills the quota)
    val df = (1 to 10).map(i => (i.toLong, "g", 100L)).toDF("id", "g", "w")
    val kept = Sampling.tokenBudgetSample(df, col("g"), col("id"), col("w"),
      budget = 250L)
    assert(kept.count() === 3L)
    assert(kept.agg(sum(col("w"))).as[Long].head() === 300L)
    // a budget larger than the group keeps everything (never overshoots
    // into a crash or undershoots by skipping)
    assert(Sampling.tokenBudgetSample(df, col("g"), col("id"), col("w"),
      budget = 5000L).count() === 10L)
    // deterministic under repartition: same kept set
    val again = Sampling.tokenBudgetSample(df.repartition(7), col("g"),
      col("id"), col("w"), budget = 250L)
    assert(again.select("id").as[Long].collect().sorted ===
      kept.select("id").as[Long].collect().sorted)
  }

  test("mixture: per-source rates compose deterministic hash sampling") {
    val a = (1 to 1000).map(i => (i.toLong, "a")).toDF("id", "src")
    val b = (1 to 1000).map(i => (i.toLong + 10000, "b")).toDF("id", "src")
    val mixed = Sampling.mixture(Seq((a, 1.0), (b, 0.0)), "id")
    val bySrc = mixed.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(bySrc === Map("a" -> 1000L))
    // rerun with a different partitioning: identical selection
    val again = Sampling.mixture(Seq((a.repartition(7), 1.0), (b, 0.0)), "id")
    assert(again.select("id").as[Long].collect().sorted ===
      mixed.select("id").as[Long].collect().sorted)
  }

  test("multimodal resize keeps every k-th byte and updates metadata") {
    import graft.multimodal.Multimodal
    val docs = Seq((1L, "abcdefghij")).toDF("doc_id", "text")
    val out = Multimodal.resize(Multimodal.attachBinary(docs), factor = 4).head()
    val payload = out.getAs[Array[Byte]]("payload")
    assert(new String(payload, "UTF-8") === "aei") // bytes 0, 4, 8
    assert(out.getAs[org.apache.spark.sql.Row]("meta").getLong(0) === 3L)
  }

  test("resizePng runs a real PNG decode→scale→encode round trip with " +
    "exact nearest-neighbor pixels") {
    import graft.multimodal.Multimodal
    // ids chosen to hit both dims branches: id 0 → 4x3 (→2x1), id 13 →
    // 7x9 (→3x4)
    val ids = Seq(0L, 13L).toDF("doc_id")
    val media = Multimodal.pngMedia(ids)
    // the fixture really is PNG (magic bytes) with the declared dims
    val fix = media.collect().map(r => r.getLong(0) -> r).toMap
    val magic = Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte)
    assert(fix.values.forall(
      _.getAs[Array[Byte]]("payload").take(4).sameElements(magic)))
    val resized = Multimodal.resizePng(media, factor = 2)
    val out = resized.collect().map(r => r.getLong(0) ->
      r.getAs[org.apache.spark.sql.Row]("meta")).toMap
    assert((out(0L).getInt(0), out(0L).getInt(1)) === (2, 1))
    assert((out(13L).getInt(0), out(13L).getInt(1)) === (3, 4))
    // every output pixel equals its formula-recomputed source pixel
    val v = Multimodal.validatePngResize(resized, factor = 2)
      .select("doc_id", "mismatches", "has_payload")
      .as[(Long, Long, Boolean)].collect()
      .map { case (k, m, p) => k -> ((m, p)) }.toMap
    assert(v === Map(0L -> ((0L, true)), 13L -> ((0L, true))))
  }

  test("aHash is deterministic over the codec round trip; the LSB twin " +
    "stays within banding range; hammingPairs64 guards its completeness") {
    import graft.multimodal.Multimodal
    import graft.operators.Dedup
    val ids = Seq(0L, 13L, 27L, 44L).toDF("doc_id")
    val h1 = Multimodal.aHash(Multimodal.pngMedia(ids))
      .as[(Long, Long)].collect().toMap
    val h2 = Multimodal.aHash(Multimodal.pngMedia(ids.repartition(3)))
      .as[(Long, Long)].collect().toMap
    assert(h1 === h2 && h1.size === 4)
    val twins = Multimodal.aHash(Multimodal.pngMediaTwins(ids, 1000L))
      .as[(Long, Long)].collect().toMap
    ids.as[Long].collect().foreach { id =>
      assert(twins(id) === h1(id)) // base image identical
      // a sub-luma-quantum pixel flip moves at most a few bits
      assert(java.lang.Long.bitCount(twins(id) ^ twins(id + 1000L)) <= 3)
    }
    val pairs = Dedup.hammingPairs64(
      Multimodal.aHash(Multimodal.pngMediaTwins(ids, 1000L)),
      "doc_id", "phash", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    ids.as[Long].collect().foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 1000L), s"twin $id")
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs64(h1.toSeq.toDF("doc_id", "phash"),
        "doc_id", "phash", maxHamming = 9)
    }
  }

  test("pretrain filter composes: lang + quality + token bounds + dedup keeper") {
    val en = "the quick brown fox jumps over the lazy dog and that is it " * 5
    val docs = Seq(
      (1L, en, "en"),                            // keeper of the en pair
      (2L, en, "en"),                            // exact dup -> dropped
      (3L, "el la de que los por con una cosa mas grande aqui", "es"), // wrong lang
      (4L, "the of and", "en"),                  // too few tokens
      (5L, en + " unique tail", "en"))           // distinct content survives
      .toDF("doc_id", "text", "lang")
    val out = Pretrain.filterCorpus(docs).select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 5L))
  }

  test("Quality.violations counts each rule class exactly on a dirty fixture") {
    import graft.operators.Quality
    val df = Seq(
      (1L, Some(5.0), "A"),
      (2L, Some(99.0), "X"),   // range violation + matches violation
      (2L, None, "N"),         // null violation + duplicate id
      (9L, Some(1.0), "R")     // dangling ref (dim has 1,2)
    ).toDF("id", "v", "flag")
    val dim = Seq(1L, 2L).toDF("k")
    val out = Quality.violations(df, Seq(
        Quality.NotNull("v"),
        Quality.Range("v", 0.0, 50.0),
        Quality.Matches("flag", "^[ANR]$"),
        Quality.Unique(Seq("id")),
        Quality.RefIntegrity("id", dim, "k")))
      .as[(String, Long)].collect().toMap
    assert(out("not_null(v)") === 1L)
    assert(out("range(v,0.0,50.0)") === 1L)
    assert(out("matches(flag,^[ANR]$)") === 1L)
    assert(out("unique(id)") === 1L)   // one row in excess of distinct
    assert(out("ref(id)") === 1L)      // id=9 dangles
    // row-local rules share ONE aggregate over one scan
    val plan = Quality.violations(df,
        Seq(Quality.NotNull("v"), Quality.Range("v", 0.0, 1.0),
          Quality.Matches("flag", "a")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), plan.take(800))
  }

  test("LangModel.bigramNll: Laplace math exact on a hand-checked fixture; " +
    "unseen bigrams smooth; short docs score 0 with n_bi 0") {
    import graft.operators.LangModel
    val corpus = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // uni: a=3, b=2, c=1 -> V=3; bi: (a,b)=2, (b,a)=1, (a,c)=1
    val docs = Seq((10L, "a b"), (11L, "b c"), (12L, "a"), (13L, "")).toDF("doc_id", "text")
    val r = LangModel.bigramNll(corpus, docs).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    def fp(c12: Long, c1: Long) =
      math.floor(-math.log((c12 + 1.0) / (c1 + 3.0)) * 1e6).toLong
    assert(r(0) === ((10L, 1L, fp(2, 3), math.floor(fp(2, 3) / 1e6 * 1e6) / 1e6)))
    // (b, c) unseen: c12=0, c1(b)=2
    assert(r(1)._3 === fp(0, 2))
    assert(r(2) === ((12L, 0L, 0L, 0.0)))
    assert(r(3) === ((13L, 0L, 0L, 0.0)))
    // partition invariance of exact sums
    val a = LangModel.bigramNll(corpus, corpus).orderBy("doc_id").collect().toSeq
    val b = LangModel.bigramNll(corpus.repartition(5), corpus.repartition(3))
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("Stats.emaSorted: bitwise-equal to the array-tier HOF fold, " +
    "multi-key, partition-invariant, singletons seed-only") {
    val df = (0 until 90).map { i =>
      (i.toLong, (i % 4).toLong, i / 4, 1.0 + (i % 7) * 0.31)
    }.toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    def arr(d: org.apache.spark.sql.DataFrame) = d
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        expr("sort_array(collect_list(struct(ts, event_id, value)))").as("seq"))
      .select(col("user_id"), col("n"),
        expr("aggregate(slice(transform(seq, s -> s.value), 2, " +
          "greatest(size(seq) - 1, 0)), transform(seq, s -> s.value)[0], " +
          "(acc, x) -> 0.2D * x + 0.8D * acc)").as("ema"))
      .orderBy(col("user_id"))
      .as[(Long, Long, Double)].collect().toSeq
    def srt(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Stats.emaSorted(d, col("user_id"), "ts", "event_id",
          "value", alpha = 0.2)
        .orderBy(col("k")).as[(Long, Long, Double)].collect().toSeq
    val a = arr(df)
    assert(srt(df) === a)           // bitwise: no tolerance
    assert(srt(df.repartition(7)) === a)
    val single = Seq((1L, 9L, 0, 42.5)).toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    assert(srt(single) === Seq((9L, 1L, 42.5)))
  }

  test("LangModel.collocations: hand-checked PMI, minCount guard, " +
    "partition invariance") {
    import graft.operators.LangModel
    // "x y" x3 always together; "a" pairs promiscuously
    val corpus = Seq(
      (1L, "x y x y x y"), (2L, "a b a c a b a c")).toDF("doc_id", "text")
    // uni: x=3 y=3 a=4 b=2 c=2 -> N=14; bigrams: (x,y)=3 (y,x)=2
    // (a,b)=2 (b,a)=2 (a,c)=2 (c,a)=1 -> B=12
    val r = LangModel.collocations(corpus, minCount = 2L)
      .orderBy("w1", "w2")
      .as[(String, String, Long, Double)].collect().toSeq
    def pmi(c12: Long, c1: Long, c2: Long) =
      math.floor(math.log((c12.toDouble * 14.0 * 14.0) /
        (12.0 * c1.toDouble * c2.toDouble)) * 1e6) / 1e6
    assert(r.map(t => (t._1, t._2, t._3)) === Seq(
      ("a", "b", 2L), ("a", "c", 2L), ("b", "a", 2L), ("x", "y", 3L),
      ("y", "x", 2L)))
    assert(r.find(t => t._1 == "x" && t._2 == "y").get._4 === pmi(3, 3, 3))
    assert(r.find(t => t._1 == "a" && t._2 == "b").get._4 === pmi(2, 4, 2))
    // (c,a)=1 falls under minCount
    assert(!r.exists(t => t._1 == "c"))
    // the exclusive pair scores strictly above the promiscuous one
    assert(pmi(3, 3, 3) > pmi(2, 4, 2))
    val p = LangModel.collocations(corpus.repartition(5), minCount = 2L)
      .orderBy("w1", "w2")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(p === r)
  }

  test("Quality.topNgramCoverage: argmax gram, lexicographic ties, " +
    "coverage fraction; short and empty docs degrade cleanly") {
    import graft.operators.Quality
    val docs = Seq(
      (1L, "spam spam spam spam"),        // top 2-gram "spam spam" ×3
      (2L, "b b a a b b"),                // "b b"×2 beats "a a"/"a b"/"b a"×1
      (3L, "one"),                        // < n tokens: whole text is the gram
      (4L, "")                            // empty: zero coverage, no NaN
    ).toDF("doc_id", "text")
    val r = Quality.topNgramCoverage(docs, n = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Double)].collect()
    assert(r(0) === ((1L, "spam spam", 3L, math.floor(3.0 * 9 / 19 * 1e6) / 1e6)))
    assert(r(1)._2 === "b b" && r(1)._3 === 2L)
    assert(r(2) === ((3L, "one", 1L, 1.0)))
    assert(r(3) === ((4L, "", 1L, 0.0)))
    // partition-layout invariance
    val b = Quality.topNgramCoverage(docs.repartition(5), n = 2)
      .orderBy("doc_id").as[(Long, String, Long, Double)].collect()
    assert(r.toSeq === b.toSeq)
  }

  test("Quality.violations: duplicate-shaped rules coexist and an empty " +
    "input reports zeros, not nulls") {
    import graft.operators.Quality
    val df = Seq((1L, "ab"), (2L, "zz")).toDF("id", "flag")
    // two regex rules on the SAME column: distinct names (regex included),
    // and even genuinely identical rules must not trip map-key dedup
    val out = Quality.violations(df, Seq(
        Quality.Matches("flag", "^a.$"),
        Quality.Matches("flag", "^z.$"),
        Quality.NotNull("id"),
        Quality.NotNull("id")))
      .as[(String, Long)].collect()
    assert(out.count(_._1.startsWith("matches(")) === 2)
    assert(out.toMap.apply("matches(flag,^a.$)") === 1L)
    assert(out.toMap.apply("matches(flag,^z.$)") === 1L)
    assert(out.count(_._1 == "not_null(id)") === 2) // duplicates both report
    // empty input: every rule class reports 0 violations
    val empty = df.filter(lit(false))
    val zeros = Quality.violations(empty, Seq(
        Quality.NotNull("flag"),
        Quality.Range("id", 0.0, 1.0),
        Quality.Unique(Seq("id")),
        Quality.RefIntegrity("id", Seq(1L).toDF("k"), "k")))
      .as[(String, Long)].collect()
    assert(zeros.length === 4)
    assert(zeros.forall(_._2 == 0L), zeros.mkString(", "))
  }

  test("decontaminateScoped releases the checkpointed sliver blocks after " +
    "the consumer drains the result") {
    val sc = spark.sparkContext
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq((1L, "x alpha beta gamma y z"),
      (2L, "completely unrelated text here")).toDF("doc_id", "text")
    val before = sc.getPersistentRDDs.keySet
    val kept = Pretrain.decontaminateScoped(train, evalSet, shingleLen = 3) {
      clean =>
        // while consuming, the sliver IS materialized (blocks present)
        assert(sc.getPersistentRDDs.keySet.size > before.size)
        clean.select("doc_id").as[Long].collect().sorted
    }
    assert(kept.toSeq === Seq(2L))
    assert(sc.getPersistentRDDs.keySet === before) // nothing retained
  }

  test("decontaminate drops docs sharing an n-gram with the eval set") {
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x alpha beta gamma y z"),        // contains eval 3-gram -> dropped
      (2L, "alpha gamma beta totally other"),// same words, different order -> kept
      (3L, "completely unrelated text here") // kept
    ).toDF("doc_id", "text")
    val clean = Pretrain.decontaminate(train, evalSet, shingleLen = 3)
      .select("doc_id").as[Long].collect().sorted
    assert(clean.toSeq === Seq(2L, 3L))
    // short eval doc (< n tokens) contaminates only exact-text matches
    val evalShort = Seq((101L, "tiny doc")).toDF("doc_id", "text")
    val train2 = Seq((1L, "tiny doc"), (2L, "tiny doc extended further on and on"))
      .toDF("doc_id", "text")
    val clean2 = Pretrain.decontaminate(train2, evalShort, shingleLen = 3)
      .select("doc_id").as[Long].collect().sorted
    assert(clean2.toSeq === Seq(2L))
  }

  test("decontaminateBloom: no false negatives (subset of the exact clean " +
    "set) and, at tiny fpp on a tiny gram set, exact equality") {
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x alpha beta gamma y z"),        // eval 3-gram -> must drop
      (2L, "alpha gamma beta totally other"),// reordered -> clean
      (3L, "completely unrelated text here") // clean
    ).toDF("doc_id", "text")
    val exact = Pretrain.decontaminate(train, evalSet, shingleLen = 3)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Pretrain.decontaminateBloom(train, evalSet, shingleLen = 3,
      fpp = 1e-8).select("doc_id").as[Long].collect().toSet
    assert(bloom.subsetOf(exact)) // bloom can only over-drop
    assert(bloom === Set(2L, 3L)) // fixed seed + tiny set: no collisions
    // empty eval side: nothing drops
    val none = Pretrain.decontaminateBloom(train,
      evalSet.filter(col("doc_id") < 0L), shingleLen = 3)
    assert(none.count() === 3L)
  }

  test("decontaminateSemantic: near-eval vectors drop; the full-probe IVF " +
    "tier equals the exact tier") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val evalE = emb.filter(col("vec_id") % 17 === 0)
    val train = emb.filter(col("vec_id") % 17 =!= 0)
    val exact = graft.operators.Pretrain
      .decontaminateSemantic(train, evalE, tau = 0.42)
      .select("vec_id").as[Long].collect().toSet
    assert(train.count() - exact.size === 3L) // DuckDB-counted drop arm
    val k = 8
    val cents = graft.operators.Similarity
      .trainCentroids(evalE, k, iters = 1).localCheckpoint(true)
    val ivf = graft.operators.Pretrain
      .decontaminateSemantic(train, evalE, tau = 0.42, Some(cents), nProbe = k)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf === exact)
  }

  test("scd2 compacts unchanged versions and chains validity intervals") {
    val log = Seq(
      (1L, 0L, 1L, "a"),    // key 1: a opens
      (2L, 10L, 1L, "a"),   //   unchanged -> compacted away
      (3L, 20L, 1L, "b"),   //   change -> closes v1 at 20, opens v2
      (4L, 30L, 1L, "b"),   //   unchanged -> compacted
      (5L, 40L, 1L, "a"),   //   change back -> v3, current
      (6L, 5L, 2L, "x"))    // key 2: single version, current
      .toDF("event_id", "sec", "user_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val out = Scd.scd2(log, "user_id", "ts", "event_id", Seq("event_type"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("effective_from")).as("f"),
        unix_micros(col("effective_to")).as("t"), col("is_current"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getInt(4)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(out === Seq(
      (1L, 1L, 0L, Some(20000000L), 0),
      (1L, 3L, 20000000L, Some(40000000L), 0),
      (1L, 5L, 40000000L, None, 1),
      (2L, 6L, 5000000L, None, 1)))
    // intervals chain: each version's end == the next version's start
    // (no gap, no overlap), exactly one current version per key
    assert(out.count(_._5 == 1) === 2)
  }

  test("Stats.histogram: equi-width bins, max clamps to the top bucket, " +
    "degenerate group collapses to bucket 0, empties not emitted") {
    val df = Seq(("g", 0.0), ("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 10.0),
      ("flat", 7.0), ("flat", 7.0))
      .toDF("grp", "v")
    val out = graft.operators.Stats.histogram(df, Seq("grp"), "v", 2)
      .select(col("grp"), col("bucket"), col("ct"))
      .as[(String, Long, Long)].collect().toSet
    // width 5: 0,1,2,3 -> bucket 0; 10 -> floor(2) clamped to 1
    assert(out === Set(("g", 0L, 4L), ("g", 1L, 1L), ("flat", 0L, 2L)))
  }

  test("Stats.timeWeightedAvg: each sample holds until the next; the last " +
    "sample carries no weight; partition count does not change the answer") {
    val df = Seq((1L, 0L, 10.0), (2L, 10L, 20.0), (3L, 40L, 0.0))
      .toDF("event_id", "sec", "v")
      .withColumn("grp", lit("s"))
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Stats.timeWeightedAvg(d, Seq("grp"), "ts", "event_id", "v")
        .select(col("n"), col("held_s"), col("twa_t"))
        .as[(Long, Long, Double)].collect().toSeq
    // (10*10 + 20*30)/40 = 17.5
    assert(run(df) === Seq((2L, 40L, 17.5)))
    assert(run(df.repartition(7)) === Seq((2L, 40L, 17.5)))
  }

  test("Stats.welchTTest: hand-checked arms — exact means/variances, t and " +
    "Welch df match the closed form; degenerate arms yield NULL not Inf") {
    val df = (Seq(1.0, 2.0, 3.0).map(v => ("g", 0, v)) ++
      Seq(2.0, 4.0, 6.0).map(v => ("g", 1, v)) ++
      Seq(("one", 0, 5.0), ("one", 1, 5.0))) // n=1 arms -> NULL t
      .toDF("grp", "variant", "v")
    val rows = graft.operators.Stats.welchTTest(df, Seq("grp"), "variant", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = rows("g")
    assert((g.getLong(1), g.getLong(2)) === ((3L, 3L)))
    assert((g.getDouble(3), g.getDouble(4)) === ((2.0, 4.0)))
    // vars are exactly 1 and 4 from the integer-millionth sums
    val pooled = 1.0 / 3 + 4.0 / 3
    assert(g.getDouble(5) ===
      math.floor(((2.0 - 4.0) / math.sqrt(pooled)) * 1e6) / 1e6)
    assert(g.getDouble(6) === math.floor((pooled * pooled /
      ((1.0 / 3) * (1.0 / 3) / 2 + (4.0 / 3) * (4.0 / 3) / 2)) * 1e6) / 1e6)
    assert(rows("one").isNullAt(5) && rows("one").isNullAt(6))
  }

  test("Quota.tokenBucket: hand-checked admits/rejects (cap binds, refill " +
    "min-caps, same-tick burst drains); partition-invariant") {
    val df = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 5L))
      .toDF("event_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withColumn("k", lit("a"))
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Quota.tokenBucket(d, col("k"), "ts", "event_id",
        "event_id", capacity = 2, refillPerTick = 1)
        .select(col("n"), col("n_acc"), col("n_rej"), col("acc_sum"),
          col("rej_sum"))
        .as[(Long, Long, Long, Long, Long)].head()
    // sec0: 1,2 admit (bucket 2), 3 rejected dry; sec1: refill 1 -> 4
    // admits; sec5: refill min-caps at 2 -> 5 admits
    assert(run(df) === ((5L, 4L, 1L, 12L, 3L)))
    assert(run(df.repartition(4)) === ((5L, 4L, 1L, 12L, 3L)))
  }

  test("Quota.tokenBucketSorted: O(1)-state tier matches the array tier " +
    "exactly (multi-key, multi-tick, partition-invariant)") {
    // 3 keys x 40 events with bursts and gaps; tie order matters within
    // a second (event_id breaks ties)
    val df = (0 until 120).map { i =>
      (i.toLong, (i % 3).toString, (i / 3 % 7).toLong * (i % 5))
    }.toDF("event_id", "k", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    def cols(d: org.apache.spark.sql.DataFrame) =
      d.select(col("k"), col("n"), col("n_acc"), col("n_rej"),
        col("acc_sum"), col("rej_sum")).orderBy(col("k"))
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val arr = cols(graft.operators.Quota.tokenBucket(df, col("k"), "ts",
      "event_id", "event_id", capacity = 3, refillPerTick = 2))
    val srt = cols(graft.operators.Quota.tokenBucketSorted(df, col("k"),
      "ts", "event_id", "event_id", capacity = 3, refillPerTick = 2))
    assert(srt === arr)
    assert(arr.map(_._2).sum === 120L)
    val srt4 = cols(graft.operators.Quota.tokenBucketSorted(
      df.repartition(4), col("k"), "ts", "event_id", "event_id",
      capacity = 3, refillPerTick = 2))
    assert(srt4 === arr)
  }

  test("Stats.mutualInfo: identical columns give MI = H (NMI = 1), " +
    "independent uniform columns give MI = 0") {
    val dep = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("x", "y")
    val d = graft.operators.Stats.mutualInfo(dep, "x", "y")
      .select(col("n"), col("mi_t"), col("hx_t"), col("nmi_t"))
      .as[(Long, Double, Double, Double)].head()
    // per-cell fp term floor(0.5*ln2*1e6) = 346573, x2 cells/margins
    assert(d === ((4L, 0.693146, 0.693146, 1.0)))
    val ind = Seq(("a", "0"), ("a", "1"), ("b", "0"), ("b", "1"))
      .toDF("x", "y")
    val i = graft.operators.Stats.mutualInfo(ind, "x", "y")
      .select(col("mi_t"), col("nmi_t")).as[(Double, Double)].head()
    assert(i === ((0.0, 0.0)))
  }

  test("Erasure.pseudonymize: deterministic tokens preserve joins, NULLs " +
    "stay NULL, different salts break linkage") {
    import graft.operators.Erasure
    val a = Seq((1L, "alice"), (2L, "bob"), (3L, null))
      .toDF("id", "name")
    val t1 = Erasure.pseudonymize(a, Seq("name"), "s1")
      .select(col("id"), col("name")).as[(Long, String)].collect().toMap
    val t2 = Erasure.pseudonymize(a, Seq("name"), "s1")
      .select(col("id"), col("name")).as[(Long, String)].collect().toMap
    assert(t1 === t2)                       // deterministic
    assert(t1(3L) == null)                  // NULL passthrough
    assert(t1(1L) != "alice" && t1(1L).forall(_.isDigit))
    val other = Erasure.pseudonymize(a, Seq("name"), "s2")
      .select(col("id"), col("name")).as[(Long, String)].collect().toMap
    assert(other(1L) !== t1(1L))            // salt changes the token space
    // referential integrity: a second table tokenized with the same salt
    // still joins on the token
    val b = Seq(("alice", 100L), ("alice", 101L), ("bob", 102L))
      .toDF("name", "order_id")
    val joined = Erasure.pseudonymize(b, Seq("name"), "s1")
      .join(Erasure.pseudonymize(a, Seq("name"), "s1"), "name")
      .select(col("id"), col("order_id")).as[(Long, Long)].collect().toSet
    assert(joined === Set((1L, 100L), (1L, 101L), (2L, 102L)))
  }

  test("Quality.kAnonymity: group sizes vs the floor, hand-checked") {
    val df = (Seq.fill(12)(("a", 1)) ++ Seq.fill(3)(("a", 2)) ++
      Seq.fill(1)(("b", 1))).toDF("seg", "nat")
    val r = graft.operators.Quality.kAnonymity(df, Seq("seg", "nat"), k = 10L)
      .as[(Long, Long, Long, Long, Long)].head()
    // groups: (a,1)=12 ok, (a,2)=3 risky, (b,1)=1 risky
    assert(r === ((3L, 2L, 4L, 1L, 12L)))
  }

  test("Spatial.proximityJoin: finds cross-cell neighbors, excludes " +
    "just-over-eps, handles co-located points, no duplicate pairs") {
    // eps=10: cells are 10x10. (9,9)-(11,11) straddle a cell corner at
    // dist2=8; (9,9)-(0,11) cross cells at dist2=85; (0,0)-(0,11) are 11
    // apart (>10, adjacent cells — cut by the exact filter); (50,50)
    // duplicated -> dist2=0 pair
    val pts = Seq(
      (1L, 9L, 9L), (2L, 11L, 11L),
      (3L, 0L, 0L), (4L, 0L, 11L),
      (5L, 50L, 50L), (6L, 50L, 50L),
      (7L, 500L, 500L))
      .toDF("id", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Spatial.proximityJoin(d, "id", "x", "y", eps = 10L)
        .select(col("id_a"), col("id_b"), col("dist2"))
        .as[(Long, Long, Long)].collect().toSet
    val expected = Set((1L, 2L, 8L), (1L, 4L, 85L), (5L, 6L, 0L))
    assert(run(pts) === expected)
    assert(run(pts.repartition(5)) === expected)
  }

  test("Stats.chiSquare: perfect 2x2 dependence gives chi2 = N and V = 1 " +
    "(zero cells counted); independence gives 0") {
    val dep = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("x", "y")
    val d = graft.operators.Stats.chiSquare(dep, "x", "y")
      .select(col("n"), col("chi2_t"), col("dof"), col("cramers_v_t"))
      .as[(Long, Double, Long, Double)].head()
    // diagonal cells contribute 1 each AND the two ZERO cells contribute
    // 1 each — chi2 = 4 only if the empty grid cells are counted
    assert(d === ((4L, 4.0, 1L, 1.0)))
    val ind = Seq(("a", "0"), ("a", "1"), ("b", "0"), ("b", "1"))
      .toDF("x", "y")
    val i = graft.operators.Stats.chiSquare(ind, "x", "y")
      .select(col("chi2_t"), col("cramers_v_t")).as[(Double, Double)].head()
    assert(i === ((0.0, 0.0)))
  }

  test("Quality.keySkewReport: hottest-key ratio; count ties break to the " +
    "smallest key") {
    val df = (Seq.fill(3)(("g1", 1L)) ++ Seq(("g1", 2L)) ++
      Seq(("g2", 5L), ("g2", 5L), ("g2", 3L), ("g2", 3L)))
      .toDF("grp", "k")
    val out = graft.operators.Quality.keySkewReport(df, Seq("grp"), "k")
      .select(col("grp"), col("total"), col("n_keys"), col("max_ct"),
        col("hot_key"), col("skew_t"))
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(out === Set(("g1", 4L, 2L, 3L, 1L, 1.5), ("g2", 4L, 2L, 2L, 3L, 1.0)))
  }
}
