package graft

import graft.operators.Dedup
import graft.functions.VectorFns
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup
    (4L, "completely different content about distributed query engines and spark"),
    (5L, "short doc")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts under the min doc_id") {
    val r = Dedup.exact(docs).collect()
      .map(x => (x.getAs[Long]("keeper_id"), x.getAs[Long]("copies"))).toMap
    assert(r(1L) === 2L)   // docs 1+2 collapse
    assert(r.values.sum === 5L)
  }

  test("minhash LSH finds the exact and near duplicate pair, nothing else") {
    val pairs = Dedup.minhashLsh(docs, minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("incremental dedup == the cross-subset of the full batch run") {
    // fixture docs at sf0.001: the incoming slice (doc_id%5==0) probed
    // against the history index must surface exactly the full batch run's
    // cross-set pairs — no incoming×incoming, no history×history
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val incoming = documents.filter(pmod(col("doc_id"), lit(5L)) === 0L)
    val history = documents.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
    val inc = Dedup.incrementalNearDups(incoming, history,
        Dedup.minhashBandIndex(history))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLsh(documents, numPerms = 64, bands = 16,
        maxBucket = 1000000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val crossFromFull = full.collect {
      case (a, b) if a % 5 == 0 && b % 5 != 0 => (a, b)
      case (a, b) if b % 5 == 0 && a % 5 != 0 => (b, a)
    }
    assert(inc === crossFromFull)
    assert(inc.nonEmpty)
    assert(inc.forall { case (a, b) => a % 5 == 0 && b % 5 != 0 })
  }

  test("incremental dedup jaccard == verifyJaccard of the cross pairs") {
    // every (doc_a, doc_b, jaccard) the one incremental body emits equals
    // the exact verification of the full batch run's incoming×history pairs
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val incoming = documents.filter(pmod(col("doc_id"), lit(5L)) === 0L)
    val history = documents.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val inc = collect(Dedup.incrementalNearDups(incoming, history,
      Dedup.minhashBandIndex(history)))
    val cross = Dedup.minhashLsh(documents, numPerms = 64, bands = 16,
        maxBucket = 1000000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq.collect {
        case (a, b) if a % 5 == 0 && b % 5 != 0 => (a, b)
        case (a, b) if b % 5 == 0 && a % 5 != 0 => (b, a)
      }
    val verified = collect(Dedup.verifyJaccard(documents,
      cross.toDF("doc_a", "doc_b"), shingleLen = 3))
    assert(inc === verified)
    assert(inc.nonEmpty)
  }

  test("ngram jaccard scores the exact dup at 1.0") {
    val r = Dedup.ngramJaccardPairs(docs).collect()
      .map(x => ((x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b")), x.getAs[Double]("jaccard")))
      .toMap
    assert(r((1L, 2L)) === 1.0)
  }

  test("ngram jaccard stays exact when the maxDf cap bites") {
    // 12 docs all sharing the same long boilerplate prefix → every prefix
    // shingle has df=12; with maxDf=5 all of them are capped. Pairs must
    // still come back with EXACT jaccard via the re-verify path, matching
    // the uncapped run bit for bit.
    val boiler = "all rights reserved copyright notice terms of service apply to this page"
    val skewed = (1L to 12L).map(i => (i, s"$boiler unique tail number $i"))
      .toDF("doc_id", "text")
    val key = (d: org.apache.spark.sql.Row) =>
      (d.getAs[Long]("doc_a"), d.getAs[Long]("doc_b"))
    val capped = Dedup.ngramJaccardPairs(skewed, minJaccard = 0.5, maxDf = 5L)
      .collect().map(r => key(r) -> r.getAs[Double]("jaccard")).toMap
    val uncapped = Dedup.ngramJaccardPairs(skewed, minJaccard = 0.5, maxDf = 1000L)
      .collect().map(r => key(r) -> r.getAs[Double]("jaccard")).toMap
    assert(uncapped.nonEmpty)
    // star pairing enumerates (1, b) pairs exactly; any extra pair the
    // counting path surfaced must carry the exact jaccard value
    capped.foreach { case (k, j) => assert(uncapped(k) === j, s"pair $k") }
    (2L to 12L).foreach(b => assert(capped.contains((1L, b)), s"star pair (1,$b)"))
  }

  test("prefix-filtered jaccard finds the identical pair set from a " +
    "strictly smaller index") {
    // a corpus with exact dups, a near dup, and unrelated docs — the
    // prefix filter must lose nothing vs the full inverted index
    val corpus = docs.unionByName(Seq(
      (6L, "another page about distributed query engines and spark tuning"),
      (7L, "the quick brown fox jumps over the lazy dog near the creek bank today"))
      .toDF("doc_id", "text"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val full = pairs(Dedup.ngramJaccardPairs(corpus))
    val pref = pairs(Dedup.ngramJaccardPrefix(corpus))
    assert(full.nonEmpty)
    assert(pref === full)
    // the structural claim: at t=0.5 each doc indexes ~half its shingles
    val allPostings = corpus.select(explode(array_distinct(
      call_function("graft_shingles", col("text"), lit(3)))).as("sh")).count()
    val prefixBudget = corpus.select(
      array_distinct(call_function("graft_shingles", col("text"), lit(3)))
        .as("sh"))
      .select((size(col("sh")) - ceil(size(col("sh")) * 0.5) + 1).as("p"))
      .agg(sum(col("p"))).as[Long].head()
    assert(prefixBudget < allPostings)
  }

  test("ngram jaccard re-verifies borderline pairs a capped shingle could flip") {
    // two docs share one low-df shingle AND one capped shingle; counting
    // alone undercounts jaccard below the threshold — the guard must
    // recover the pair with its exact value
    val common = "alpha beta gamma" // low-df shingle shared by docs 1,2 only
    val boiler = "zzz yyy xxx"      // shingle shared by ALL docs → capped at maxDf=5
    val docs = Seq(
      (1L, s"$common $boiler"),
      (2L, s"$common $boiler")
    ) ++ (3L to 9L).map(i => (i, s"$boiler tail$i unrelated$i filler$i"))
    val df = docs.toDF("doc_id", "text")
    val r = Dedup.ngramJaccardPairs(df, minJaccard = 0.9, maxDf = 5L)
      .collect().map(x => ((x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b")),
        x.getAs[Double]("jaccard"))).toMap
    assert(r.get((1L, 2L)).contains(1.0)) // exact dup recovered at jaccard 1.0
  }

  test("clusters fails loudly instead of returning partial labels") {
    // a 6-node chain has diameter 5 > maxIters=2 → must throw, not emit
    // split clusters
    // driverMaxEdges = 0 pins the DISTRIBUTED loop (the driver union-find
    // has no iteration cap to trip)
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](
      Dedup.clusters(chain, maxIters = 2, driverMaxEdges = 0L).collect())
    assert(e.getMessage.contains("did not converge"))
    // and with enough rounds the same chain converges to one cluster
    val ok = Dedup.clusters(chain, maxIters = 10, driverMaxEdges = 0L)
      .select("cluster_id").distinct().collect()
    assert(ok.length === 1)
  }

  test("clusters converges in O(log diameter) rounds on a long chain") {
    // a 200-node chain (diameter 199): plain min-label propagation needs
    // ~199 rounds — pointer doubling must land it well inside 15. Two
    // chains + an isolated pair keep the multi-component bookkeeping
    // honest. driverMaxEdges = 0 pins the distributed loop.
    val chainA = (1L to 199L).map(i => (i, i + 1))
    val chainB = (1001L to 1099L).map(i => (i, i + 1))
    val pairs = (chainA ++ chainB :+ ((5000L, 5001L))).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs, maxIters = 15, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert((1L to 200L).forall(got(_) == 1L))
    assert((1001L to 1100L).forall(got(_) == 1001L))
    assert(got(5000L) === 5000L && got(5001L) === 5000L)
  }

  test("keepCanonical keeps min-id cluster members and unpaired docs") {
    val corpus = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"), (9L, "z"))
      .toDF("doc_id", "text")
    // 1~2~3 one cluster (keep 1); 4 and 9 unpaired (kept)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepCanonical(corpus, Dedup.clusters(pairs))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 4L, 9L))
  }

  test("keepBest keeps the highest-score member per cluster (ties: min " +
    "id) and every unpaired doc") {
    // cluster {1,2,3}: lengths 1, 9, 9 — keep 2 (max length, tie with 3
    // broken by min id); 4 and 9 unpaired (kept)
    val corpus = Seq((1L, "x"), (2L, "xxxxxxxxx"), (3L, "yyyyyyyyy"),
      (4L, "y"), (9L, "z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepBest(corpus, Dedup.clusters(pairs),
        length(col("text")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 4L, 9L))
    // with a score that inverts the order, the keeper flips — the score
    // column really drives selection (not the id fallback)
    val keptInv = Dedup.keepBest(corpus, Dedup.clusters(pairs),
        -length(col("text")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptInv === Seq(1L, 4L, 9L))
  }

  test("keepBest: a NULL score loses to any real score (it must not win " +
    "the argmax through struct NULL-ordering); all-NULL falls back to " +
    "min id") {
    // cluster {1,2,3}: doc 1 has a NULL score — the old struct ordering
    // sorted NULL smallest in the negated field and crowned it; the
    // real-scored max (doc 3) must win
    val corpus = Seq((1L, None: Option[Double]), (2L, Some(5.0)),
      (3L, Some(9.0)), (4L, Some(1.0))).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepBest(corpus, Dedup.clusters(pairs), col("q"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(3L, 4L))
    // every member NULL: deterministic min-id fallback, nothing crashes
    val allNull = Seq((1L, None: Option[Double]), (2L, None: Option[Double]),
      (4L, Some(1.0))).toDF("doc_id", "q")
    val keptNull = Dedup.keepBest(allNull,
        Dedup.clusters(Seq((1L, 2L)).toDF("doc_a", "doc_b")), col("q"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptNull === Seq(1L, 4L))
  }

  test("driver union-find fast path == distributed loop, label for label") {
    // mixed shapes: chain, clique, stars, isolated pair — the two paths
    // must agree exactly (the gate takes the driver path on small pair
    // sets; its correctness rides on this parity)
    val pairs = ((1L to 30L).map(i => (i, i + 1)) ++
      (for (a <- 100L to 105L; b <- a + 1 to 105L) yield (a, b)) ++
      Seq((200L, 201L), (200L, 202L), (200L, 203L), (300L, 301L)))
      .toDF("doc_a", "doc_b")
    val viaDriver = Dedup.clusters(pairs)
      .as[(Long, Long)].collect().sorted
    val viaLoop = Dedup.clusters(pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().sorted
    assert(viaDriver === viaLoop)
    assert(viaDriver.nonEmpty)
  }

  test("edge cap flips driver fast path over to the distributed loop") {
    // the tier decision is edge-count vs driverMaxEdges, through the one
    // public entry: at or under the cap → driver union-find; one edge over
    // → distributed propagation. Same labels either side of the flip.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b") // 5 edges
    val under = Dedup.clusters(pairs, driverMaxEdges = 5L)
      .as[(Long, Long)].collect().sorted
    assert(Dedup.lastClustersPath === "driver")
    val over = Dedup.clusters(pairs, driverMaxEdges = 4L)
      .as[(Long, Long)].collect().sorted
    assert(Dedup.lastClustersPath === "distributed")
    assert(Dedup.lastClusterRounds > 0)
    assert(under === over)
  }

  test("tier diagnostics are thread-local: concurrent clusters() calls don't cross-contaminate") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def run(name: String, cap: Long): Thread = {
      val t = new Thread(() => {
        barrier.await()
        Dedup.clusters(pairs, driverMaxEdges = cap).count()
        results.put(name, Dedup.lastClustersPath)
      })
      t.start(); t
    }
    // one thread takes the driver tier, the other the distributed loop,
    // racing; each must observe ITS OWN path afterwards
    val a = run("driver", 10L)
    val b = run("distributed", 0L)
    a.join(120000); b.join(120000)
    assert(results.get("driver") === "driver")
    assert(results.get("distributed") === "distributed")
  }

  test("paragraphDedup: global first occurrence survives, docs reassemble " +
    "in order, fully-deduped docs come back empty") {
    val pd = Seq(
      (1L, "alpha\nbeta\nalpha"), // alpha repeats WITHIN the doc
      (2L, "beta\ngamma"),        // beta already seen in doc 1
      (3L, "beta\nbeta"),         // every paragraph already taken
      (4L, "")                    // empty text = one empty paragraph
    ).toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(pd).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_paras"), x.getAs[Long]("n_kept"),
          x.getAs[String]("text_dedup")))).toMap
    assert(r(1L) === ((3L, 2L, "alpha\nbeta")))
    assert(r(2L) === ((2L, 1L, "gamma")))
    assert(r(3L) === ((2L, 0L, "")))
    assert(r(4L) === ((1L, 1L, ""))) // the empty paragraph's first home
  }

  test("paragraphDedup is partition-independent") {
    val pd = Seq(
      (10L, "x\ny"), (11L, "y\nz"), (12L, "z\nx"), (13L, "x\ny")
    ).toDF("doc_id", "text")
    val a = Dedup.paragraphDedup(pd).collect().sortBy(_.getAs[Long]("doc_id"))
    val b = Dedup.paragraphDedup(pd.repartition(7)).collect()
      .sortBy(_.getAs[Long]("doc_id"))
    assert(a.map(_.toString) === b.map(_.toString))
  }

  test("spanDupStats counts exactly the spans shared with another doc") {
    val corpus = Seq(
      (1L, "a b c d e f g h x1 y1"), // spans: [a..h], [b..h x1], [c..x1 y1]
      (2L, "a b c d e f g h x2 y2"), // shares only [a..h] with doc 1
      (3L, "p q r s t u v w"),       // exactly one span, unique
      (4L, "tiny doc"),              // <8 words → collapses to whole text
      (5L, "tiny doc")               // exact short dup of 4
    ).toDF("doc_id", "text")
    val r = Dedup.spanDupStats(corpus).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_spans"), x.getAs[Long]("dup_spans"),
          x.getAs[Double]("dup_frac")))).toMap
    assert(r(1L) === ((3L, 1L, 1.0 / 3)))
    assert(r(2L) === ((3L, 1L, 1.0 / 3)))
    assert(r(3L) === ((1L, 0L, 0.0)))
    assert(r(4L) === ((1L, 1L, 1.0)))
    assert(r(5L) === ((1L, 1L, 1.0)))
  }

  test("spanDupStats: empty/whitespace docs collapse to one shared span") {
    // tokenize('') = [] → the <n fallback emits the single '' shingle, so
    // empty docs are mutual duplicates (dup_frac 1.0) — same in the DuckDB
    // oracle (array_to_string of the empty list). A lone nonempty doc
    // stays clean.
    val corpus = Seq((1L, ""), (2L, "   "), (3L, "solo unique words here"))
      .toDF("doc_id", "text")
    val r = Dedup.spanDupStats(corpus).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("dup_frac")).toMap
    assert(r(1L) === 1.0 && r(2L) === 1.0 && r(3L) === 0.0)
  }

  test("simhash: identical docs at hamming 0") {
    val r = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(x => ((x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b")),
        x.getAs[Int]("hamming"))).toMap
    assert(r((1L, 2L)) === 0)
  }

  test("bucketPairs star-fallback keeps min-id connectivity above the cap") {
    val banded = (1L to 10L).map(i => (i, 0, 7L)).toDF("doc_id", "band", "key")
    val capped = Dedup.bucketPairs(banded, Seq("band", "key"), col("doc_id"), maxBucket = 5)
      .as[(Long, Long)].collect().toSet
    assert(capped === (2L to 10L).map(b => (1L, b)).toSet) // star on min id
    val full = Dedup.bucketPairs(banded, Seq("band", "key"), col("doc_id"), maxBucket = 100)
    assert(full.count() === 45L) // 10 choose 2
  }

  test("embedding near-dup pairs identical vectors") {
    val emb = Seq(
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(1.0f)),
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(emb, VectorFns.randomPlanes(2, 8), minCosine = 0.99)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  // SemDeDup fixture: two well-separated direction groups; explicit
  // centroids make the cell assignment exact so keep/drop/witness
  // expectations are deterministic (the gate uses trained centroids and
  // pins only invariants — this spec pins the semantics).
  private def semFixture = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.999f, 0.01f, 0.0f, 0.0f)),  // ~1.0 cos to 1 → drop, witness 1 or 2-chain
    (3L, Array(0.98f, 0.05f, 0.0f, 0.0f)),   // closest to 2 → drop, witness 2
    (4L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (5L, Array(0.01f, 0.999f, 0.0f, 0.0f)),  // ~1.0 cos to 4 → drop, witness 4
    (6L, Array(0.6f, 0.8f, 0.0f, 0.0f))      // cos to 4/5 ≈ 0.80 < tau → keep
  ).toDF("vec_id", "embedding")

  private def semCentroids = Seq(
    (1L, Array(1.0, 0.0, 0.0, 0.0)),
    (2L, Array(0.0, 1.0, 0.0, 0.0))
  ).toDF("cluster_id", "centroid")

  test("semanticDedup: min-id kept per cell, drops witnessed by most-similar earlier member") {
    val r = Dedup.semanticDedup(semFixture, semCentroids, tau = 0.9)
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("keep"), col("witness_id"))
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(r === Seq(
      (1L, true, None),
      (2L, false, Some(1L)),
      (3L, false, Some(2L)), // cos(3,2) > cos(3,1): witness is the most-similar, not just any
      (4L, true, None),
      (5L, false, Some(4L)),
      (6L, true, None)))     // 0.80 cosine is below tau — stays
  }

  test("semanticDedup: an unsplit mega-cell raises instead of going quadratic") {
    val e = intercept[Exception](
      Dedup.semanticDedup(semFixture, semCentroids, tau = 0.9, maxBucket = 2)
        .count())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("maxBucket")))
  }

  test("semanticDedupAutoK: k follows corpus size, result conserves rows") {
    // 6 vectors, targetCell=3 → k = ceil(6/3) = 2: at most 2 distinct
    // cells can appear, and every input vector is classified exactly once
    val r = Dedup.semanticDedupAutoK(semFixture, tau = 0.9, targetCell = 3,
      iters = 3, sampleRate = 1.0).localCheckpoint(true)
    assert(r.count() === 6L)
    assert(r.select(col("vec_id")).distinct().count() === 6L)
    assert(r.select(col("cluster_id")).distinct().count() <= 2L)
    // and the floor: a huge targetCell still trains at least k=2
    val r2 = Dedup.semanticDedupAutoK(semFixture, tau = 0.9,
      targetCell = 1000, iters = 1, sampleRate = 1.0).localCheckpoint(true)
    assert(r2.select(col("cluster_id")).distinct().count() <= 2L)
    assert(r2.count() === 6L)
  }

  // ── spanTrim ≡ suffix-array EXACTSUBSTR semantics ────────────────────
  // The published approach (suffix arrays over the corpus) removes every
  // position inside a cross-doc repeated span of ANY length >= k. The
  // fixed-grain rewrite marks positions via repeated k-token WINDOWS —
  // and that is position-equivalent: a window is itself a length-k
  // repeated span, and any repeated span of length L >= k covers each of
  // its positions with at least one of its k-sub-windows, every one of
  // which also repeats. This test pins the equivalence against a brute
  // reference that enumerates ALL span lengths, so the "arbitrary-length
  // repeats" tier needs no separate suffix-sort implementation.
  test("spanTrim == suffix-array semantics: a position is removed exactly " +
    "when it lies inside a cross-doc repeated token span of length >= k") {
    val fixture: Seq[(Long, String)] = Seq(
      (1L, "a b c d e f g h"),          // shares c..f (len 4) with doc 2
      (2L, "x y c d e f z w"),
      (3L, "p q r s t u v"),            // shares p..s (len 4) with doc 5
      (4L, "a b c d e f g h"),          // exact duplicate of doc 1
      (5L, "m n o p q r s"),
      (6L, "c d e q r s t"),            // two shorter overlaps: c d e / q r s t
      (7L, "k l m n k l m n")           // WITHIN-doc repeat only: never removed
    )
    val toks = fixture.toMap.map { case (id, t) => id -> t.split(" ") }
    def bruteKept(k: Int): Map[Long, Seq[String]] =
      toks.map { case (id, t) =>
        val cov = Array.fill(t.length)(false)
        for {
          i <- t.indices
          j <- (i + k) to t.length        // candidate span [i, j), len >= k
          w = t.slice(i, j).toSeq
          if toks.exists { case (oid, ot) =>
            oid != id && ot.sliding(w.length).map(_.toSeq).contains(w) }
          p <- i until j
        } cov(p) = true
        id -> t.indices.filterNot(cov).map(t)
      }
    val df = fixture.toDF("doc_id", "text")
    for (k <- Seq(3, 4, 5)) {
      val got = Dedup.spanTrim(df, k)
        .select("doc_id", "n_tokens", "kept_tokens", "trimmed_text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val ref = bruteKept(k)
      ref.foreach { case (id, kept) =>
        val (n, nKept, text) = got(id)
        assert(n === toks(id).length.toLong, s"k=$k doc=$id")
        assert(nKept === kept.length.toLong, s"k=$k doc=$id")
        assert(text === kept.mkString(" "), s"k=$k doc=$id")
      }
    }
  }

  test("graft_span_hashes: equal windows collide, sliding matches a " +
    "direct recompute, short docs yield an empty array") {
    val df = Seq(
      (1L, "one two three four five one two three"),
      (2L, "zero one two three nine"),
      (3L, "a b")                        // shorter than k=3: empty
    ).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
        call_function("graft_span_hashes", col("text"), lit(3)).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(rows(3L).isEmpty)
    assert(rows(1L).length === 6 && rows(2L).length === 3)
    // "one two three" occurs at doc1 pos 0 and pos 5, and doc2 pos 1 —
    // all three window hashes identical; neighbors differ
    assert(rows(1L)(0) === rows(1L)(5))
    assert(rows(1L)(0) === rows(2L)(1))
    assert(rows(1L)(0) !== rows(1L)(1))
    assert(rows(2L)(0) !== rows(2L)(1))
  }
}
