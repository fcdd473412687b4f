package graft

import graft.operators.{Dedup, Joins, Sessionize, Stats}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5): semantics that must hold for
  * any input, not just fixtures — the properties that make the operators
  * safe to run distributed (idempotence, associativity, band containment,
  * partitioning invariance).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Drive ScalaCheck generators with fixed seeds (the scalatest bridge
    * artifact is not in the offline cache): deterministic, reproducible. */
  private def forAll[A](g: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(g(Gen.Parameters.default, Seed(i.toLong)).getOrElse(
        fail(s"generator returned no value for seed $i")))
    }

  private val docGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(1, 25)
    texts <- Gen.listOfN(n, Gen.chooseNum(0, 6).flatMap(k =>
      Gen.listOfN(k + 1, Gen.oneOf("alpha", "beta", "gamma", "delta", "the", "x"))
        .map(_.mkString(" "))))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("splits are cluster-atomic for ANY pair graph (no near-dup leakage)") {
    // random pair graphs → clusters → leakageSafeSplits: every connected
    // component must land in exactly one split, whatever the graph shape
    val graphGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(0, 40)
      pairs <- Gen.listOfN(n, for {
        a <- Gen.choose(1L, 60L); b <- Gen.choose(1L, 60L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield pairs.distinct
    forAll(graphGen) { pairs =>
      val docs = (1L to 60L).map(i => (i, s"l${i % 3}", i))
        .toDF("doc_id", "lang", "n_chars")
      val labels =
        if (pairs.isEmpty) Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
        else Dedup.clusters(pairs.toDF("doc_a", "doc_b"))
      val out = graft.operators.Sampling.leakageSafeSplits(docs, labels,
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      val splitOf = out.select("doc_id", "split").as[(Long, String)]
        .collect().toMap
      // union-find over the raw pairs gives component membership to check
      // against — independent of the clusters implementation
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      val byComponent = (1L to 60L).groupBy(find)
      byComponent.values.foreach { members =>
        assert(members.map(splitOf).toSet.size === 1,
          s"component $members straddles splits")
      }
    }
  }

  test("windowed agg is partitioning-invariant (map-side combine correctness)") {
    forAll(Gen.choose(1, 40)) { n =>
      val events = (1 to n).map(i =>
        (i.toLong, new java.sql.Timestamp(1600000000000L + i * 3777L),
          i.toLong % 5, if (i % 2 == 0) "view" else "click", i * 1.5, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      def normalize(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("stt", "event_type").collect().map(_.toString)
      val p1 = normalize(Stats.productStats(events.repartition(1)))
      val p7 = normalize(Stats.productStats(events.repartition(7)))
      assert(p1 === p7)
    }
  }

  test("interval join output satisfies the band for every row") {
    forAll(Gen.zip(Gen.choose(2, 30), Gen.choose(1L, 40L))) { case (n, band) =>
      val left = (1 to n).map(i => (i.toLong % 5,
        new java.sql.Timestamp(1600000000000L + i * 9999L))).toDF("lk", "lts")
      val right = (1 to n).map(i => ((i * 3).toLong % 5,
        new java.sql.Timestamp(1600000000000L + i * 14141L))).toDF("rk", "rts")
      val out = Joins.intervalJoin(left, right, "lk", "rk", "lts", "rts", band, band)
        .select(col("lk"), col("rk"),
          (unix_micros(col("rts")) - unix_micros(col("lts"))).as("delta_us"))
        .collect()
      out.foreach { r =>
        assert(r.getAs[Long]("lk") === r.getAs[Long]("rk"))
        val d = r.getAs[Long]("delta_us")
        assert(d >= -band * 1000000L && d <= band * 1000000L)
      }
    }
  }

  test("uv dedup emits exactly one row per (user, day) present in the input") {
    forAll(Gen.choose(1, 50)) { n =>
      val events = (1 to n).map(i =>
        (i.toLong, new java.sql.Timestamp(1600000000000L + (i % 7) * 86400000L + i),
          i.toLong % 3, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val out = Sessionize.uvDedup(events)
      val expected = events
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct().count()
      assert(out.count() === expected)
      // idempotence: dedup of the survivors changes nothing
      assert(Sessionize.uvDedup(out.drop("dt")).count() === expected)
    }
  }

  test("minhash signature length and band count are stable") {
    forAll(docGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val keys = df.select(call_function("graft_minhash_bands_p",
          col("text"), lit(2), lit(32), lit(16)).as("b"))
      assert(keys.select(size(col("b"))).as[Int].collect().forall(_ === 16))
    }
  }

  test("chunking covers every token; stride==window reconstructs exactly") {
    forAll(docGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val toks = df.select(col("doc_id"),
        graft.functions.TextFns.tokenCount(col("text")).as("n")).as[(Long, Long)]
        .collect().toMap
      // non-overlapping chunks partition the token stream: per-doc n_toks
      // sums to the token count and chunk texts concatenate to the doc
      val parts = graft.operators.Chunking.chunk(df, window = 4, stride = 4)
        .groupBy(col("doc_id"))
        .agg(sum(col("n_toks")).as("s"),
          concat_ws(" ", collect_list(col("chunk_text"))).as("glued"))
        .as[(Long, Long, String)].collect()
      parts.foreach { case (id, s, glued) =>
        assert(s === toks(id))
        val orig = docs.toMap.apply(id).trim.toLowerCase
          .split("\\s+").filter(_.nonEmpty).mkString(" ")
        assert(glued.trim === orig)
      }
    }
  }

  test("packSequences: bins never exceed budget + one doc; ids partition cleanly") {
    forAll(docGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val out = graft.operators.Chunking.packSequences(df, budget = 8, shards = 3)
        .select("doc_id", "shard", "pack_id", "n_toks")
        .as[(Long, Long, Long, Long)].collect()
      assert(out.length === docs.length) // every doc assigned exactly once
      val maxDoc = out.map(_._4).max
      out.groupBy(t => (t._2, t._3)).foreach { case (_, rows) =>
        // a bin holds docs whose STARTS are inside it, so it can spill by
        // at most one doc's tail past the budget
        assert(rows.map(_._4).sum <= 8 + maxDoc)
      }
    }
  }

  test("repetitionRatio stays in [0, 1) and is 0 for all-distinct n-grams") {
    forAll(docGen) { docs =>
      val r = docs.toDF("doc_id", "text")
        .select(graft.functions.TextFns.repetitionRatio(col("text"), 3).as("r"))
        .as[Double].collect()
      assert(r.forall(x => x >= 0.0 && x < 1.0))
    }
    val distinct = Seq((1L, "one two three four five six seven")).toDF("doc_id", "text")
      .select(graft.functions.TextFns.repetitionRatio(col("text"), 3).as("r"))
      .as[Double].head()
    assert(distinct === 0.0)
  }

  test("decontaminate is anti-monotone: a larger eval set never keeps more docs") {
    forAll(docGen, n = 3) { docs =>
      val df = docs.toDF("doc_id", "text")
      val evalSmall = df.filter(col("doc_id") % 5 === 0)
      val evalBig = df.filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
      val keptSmall = graft.operators.Pretrain
        .decontaminate(df, evalSmall, shingleLen = 2).count()
      val keptBig = graft.operators.Pretrain
        .decontaminate(df, evalBig, shingleLen = 2).count()
      assert(keptBig <= keptSmall)
    }
  }

  test("scd2 invariants: intervals per key chain gap-free, exactly one " +
    "current version, and version count == number of attribute changes") {
    val logGen: Gen[List[(Long, Long, String)]] = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, for {
        key <- Gen.choose(1L, 4L)
        attr <- Gen.oneOf("a", "b", "c")
      } yield (key, attr))
    } yield rows.zipWithIndex.map { case ((k, a), i) => (i.toLong, k, a) }
    forAll(logGen) { rows =>
      val log = rows.toDF("event_id", "user_id", "event_type")
        .withColumn("ts", timestamp_seconds(col("event_id") * 10))
      val out = graft.operators.Scd
        .scd2(log, "user_id", "ts", "event_id", Seq("event_type"))
        .select(col("user_id"),
          unix_micros(col("effective_from")).as("f"),
          unix_micros(col("effective_to")).as("t"),
          col("is_current"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]), r.getInt(3)))
      out.groupBy(_._1).foreach { case (_, vs) =>
        val sorted = vs.sortBy(_._2)
        // chain: each interval's end is the next interval's start
        sorted.sliding(2).foreach {
          case Array((_, _, Some(t), _), (_, f2, _, _)) => assert(t === f2)
          case _ => ()
        }
        assert(sorted.count(_._4 == 1) === 1)       // one current version
        assert(sorted.last._3.isEmpty)              // and it is open-ended
      }
      // version count per key == 1 + number of consecutive attr changes
      val expect = rows.groupBy(_._2).map { case (k, rs) =>
        val attrs = rs.sortBy(_._1).map(_._3)
        k -> (1 + attrs.sliding(2).count {
          case List(a, b) => a != b
          case _ => false
        })
      }
      assert(out.groupBy(_._1).view.mapValues(_.length).toMap === expect)
    }
  }

  test("sliding windows conserve mass: total pv == overlap factor x events") {
    forAll(Gen.choose(1, 60)) { n =>
      val events = (1 to n).map(i =>
        (i.toLong, new java.sql.Timestamp(1600000000000L + i * 7321L),
          i.toLong % 5, if (i % 2 == 0) "view" else "click", i * 1.5, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val total = Stats.slidingVisitorStats(events, windowSec = 60, slideSec = 30)
        .agg(sum(col("pv"))).as[Long].head()
      assert(total === 2L * n) // every event lands in exactly 2 windows
    }
  }
}
