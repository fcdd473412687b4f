package graft

import graft.operators.{Dedup, Similarity, Stats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth evidence run: synthesize an R× blow-up of the sf corpus
  * (deterministic — no RNG) and measure how the headline operators' cost
  * grows with data size. Local[32] cannot prove cluster behavior, but it
  * CAN catch hidden super-linear work (an all-pairs join, a driver loop
  * scaling with rows, a propagation loop scaling rounds with size) long
  * before a real cluster does: a healthy operator here grows ~R× in time
  * and its structural counters (pair count, propagation rounds) grow as
  * designed (pairs ~R×, rounds ~O(log diameter) = flat).
  *
  * Blow-up construction (structure-preserving):
  * - documents: R replica families; family i maps text through a Caesar
  *   rotation of the full a-z/A-Z alphabet (`translate`, bijective per
  *   family). Shingle equality is preserved WITHIN a family; across
  *   families any shingle containing a letter differs, so the pair graph
  *   of the R× corpus is R disjoint copies of the 1× graph up to
  *   letter-free (all-digit/punctuation) shingles — possible in
  *   principle, absent in the measured corpus (the pairs = R× counter in
  *   the table is the witness). Pair count scales R×, cluster structure
  *   is preserved, and no artificial mass-duplicate cluster is created.
  * - embeddings/events: id-offset replicas (cost of scan/agg/topk is
  *   data-size-driven, not value-driven).
  *
  * Both scales read from freshly-written parquet (replica-0 only for 1×)
  * so the comparison is parquet-scan vs parquet-scan, not warm-cache vs
  * cold. The op set runs once untimed first (JIT/codegen warmup), then
  * timed at 1×, then timed at R×. Prints a markdown table for SCALE.md.
  */
object ScaleGrowth {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Alphabet = Lower + Lower.toUpperCase
  private val Offset = 1000000000L

  /** Caesar-rotate both cases by i (bijective; rot(0) = identity so
    * replica 0 is the untouched source corpus). */
  private def rot(i: Int): String = {
    val k = i % 26
    Lower.drop(k) + Lower.take(k) +
      Lower.toUpperCase.drop(k) + Lower.toUpperCase.take(k)
  }

  private def replicate(df: DataFrame, r: Int, build: Int => DataFrame): DataFrame =
    (0 until r).map(build).reduce(_ unionByName _)

  def synth(spark: SparkSession, sfDir: String, outDir: String, r: Int): Unit = {
    val docs = Tables.documents(spark, sfDir)
    replicate(docs, r, i => docs.select(
        (col("doc_id") + lit(i * Offset)).as("doc_id"),
        translate(col("text"), Alphabet, rot(i)).as("text"),
        col("lang"), col("source"), col("n_chars")))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = Tables.embeddings(spark, sfDir)
    replicate(emb, r, i => emb.select(
        (col("vec_id") + lit(i * Offset)).as("vec_id"),
        col("embedding"), col("label")))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val ev = Tables.events(spark, sfDir)
    replicate(ev, r, i => ev.select(
        (col("event_id") + lit(i * Offset)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * Offset)).as("user_id"),
        col("event_type"), col("value"), col("props")))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** The measured suite: name -> (dir => (claimedSec, rows, note)). Each
    * op times its OWN claimed computation — for most that is the whole
    * closure, but ops with an untimed prep phase (e.g. the distributed
    * cluster loop, whose pair scan is measured by `ngram_pairs` already)
    * exclude the prep, so the table's time column always matches the
    * row's structural claim. */
  private def ops(spark: SparkSession): Seq[(String, String => (Double, Long, String))] = {
    def whole(f: String => (Long, String)): String => (Double, Long, String) = { dir =>
      val t0 = System.nanoTime()
      val (n, note) = f(dir)
      ((System.nanoTime() - t0) / 1e9, n, note)
    }
    // run an op with the RocksDB state-store provider, restoring the
    // session default (HDFSBackedStateStoreProvider) afterwards
    def rocksDb(f: String => (Double, Long, String)): String => (Double, Long, String) =
      dir => Sessions.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f(dir))
    Seq(
    "ngram_pairs" -> whole { dir =>
      val n = Dedup.ngramJaccardPairs(Tables.documents(spark, dir)).count()
      (n, s"pairs=$n")
    },
    "ngram_prefix" -> whole { dir =>
      // prefix-filtered twin: pair count must EQUAL ngram_pairs at both
      // scales (completeness), while the indexed posting table shrinks to
      // the per-doc prefix budget — the structural reduction claim
      val docs = Tables.documents(spark, dir)
      val n = Dedup.ngramJaccardPrefix(docs).count()
      val sh = docs.select(array_distinct(call_function("graft_shingles",
        col("text"), lit(3))).as("sh"))
      val total = sh.select(explode(col("sh"))).count()
      val pref = sh
        .select((size(col("sh")) - ceil(size(col("sh")) * 0.5).cast("long") + 1)
          .as("p"))
        .agg(sum(col("p"))).head().getLong(0)
      (n, f"pairs=$n (== ngram_pairs); indexed $pref of $total postings " +
        f"(${pref.toDouble / total}%.2f)")
    },
    "clusters_distributed" -> { dir =>
      // pairs pre-materialized OUTSIDE the timed span: this row measures
      // the propagation loop only, whose round count is the structural
      // claim (the scan cost is the ngram_pairs row)
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, dir))
        .localCheckpoint(true)
      val t0 = System.nanoTime()
      val n = Dedup.clusters(pairs, driverMaxEdges = 0L).count()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, n, s"rounds=${Dedup.lastClusterRounds} (time excl. pair scan)")
    },
    "clusters_auto_tier" -> { dir =>
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, dir))
        .localCheckpoint(true)
      val t0 = System.nanoTime()
      val n = Dedup.clusters(pairs).count()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, n, s"path=${Dedup.lastClustersPath} (time excl. pair scan)")
    },
    "minhash_lsh" -> whole { dir =>
      val n = Dedup.minhashLsh(Tables.documents(spark, dir),
        numPerms = 64, bands = 16).count()
      (n, s"pairs=$n")
    },
    "simhash" -> whole { dir =>
      val n = Dedup.simhashPairs(Tables.documents(spark, dir)).count()
      (n, s"pairs=$n")
    },
    "span_dup_profile" -> whole { dir =>
      val r = Dedup.spanDupStats(Tables.documents(spark, dir))
        .agg(sum(col("dup_spans")).as("d"), count(lit(1)).as("n")).collect()(0)
      (r.getAs[Long]("n"), s"dupSpans=${r.getAs[Long]("d")}")
    },
    "ann_brute_top5" -> whole { dir =>
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter(col("vec_id") < 5)
      (Similarity.bruteForceTopK(emb, queries, 5).count(), "")
    },
    "ann_ivf_top5" -> whole { dir =>
      val emb = Tables.embeddings(spark, dir)
      // sampled quantizer training (the recommended path): Lloyd cost
      // tracks the fixed-rate sample, so growth here is probe+scan driven
      val centroids = Similarity.trainCentroids(emb, k = 16, iters = 2,
        sampleRate = 0.5)
      val queries = emb.filter(col("vec_id") < 5)
      (Similarity.ivfTopK(emb, queries, 5, centroids).count(), "")
    },
    "text_profile_scan" -> whole { dir =>
      import graft.functions.TextFns
      val n = Tables.documents(spark, dir)
        .select(TextFns.qualityScore(col("text")).as("q"),
          TextFns.langId(col("text")).as("l"))
        .groupBy(col("l")).agg(avg(col("q"))).count()
      (n, "")
    },
    "window_agg_products" -> whole { dir =>
      // synthesized events carry a real timestamp column (Spark-written),
      // unlike the driver's int64-nanos layout Tables.events adapts — read
      // the synthesized parquet directly
      (Stats.productStats(spark.read.parquet(s"$dir/events.parquet")).count(), "")
    },
    // Streaming rows: the same growth question for the streaming exec
    // path — micro-batch scheduling, watermark advance, and STATE-STORE
    // commit cost. Healthy growth: windowed-agg state is keyed by
    // (window × event_type) — bounded, flat across R — so its time should
    // grow ~R× with input only; keyed dedup state is keyed per USER, so
    // its state rows (= output rows here) are the structural counter and
    // must grow R× while per-row cost stays flat.
    "stream_window_products" -> whole { dir =>
      val n = graft.streaming.StreamRunner.collect(
        graft.streaming.WindowedStreams.productStats(synthEventsStream(spark, dir)),
        outputMode = "complete").count()
      (n, "state keys = window x type (flat across R)")
    },
    "stream_uv_dedup_state" -> whole { dir =>
      val n = graft.streaming.StreamRunner.collect(
        graft.streaming.TwsStreams.uvDedup(synthEventsStream(spark, dir))).count()
      (n, "keyed state rows = distinct users (grows Rx)")
    },
    "stream_uv_hotkey_state" -> whole { dir =>
      // pathological-key twin of stream_uv_dedup_state: 50% of events
      // collapse onto ONE user. Keyed state stays one row per distinct
      // key (the hot key is a single row — state does NOT grow with the
      // hot key's event share); the cost it concentrates is the hot
      // key's per-batch group iterator, which one task drains. The delta
      // vs the uniform twin at each scale QUANTIFIES that cost.
      val src = synthEventsStream(spark, dir)
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(2L)) === 0, lit(77777L))
            .otherwise(col("user_id") + 100000L))
      val out = graft.streaming.StreamRunner.collect(
        graft.streaming.TwsStreams.uvDedup(src))
        .localCheckpoint(true)
      val n = out.count()
      val hotRows = out.filter(col("user_id") === 77777L).count()
      (n, s"hot key emits $hotRows of $n dedup rows (one state row " +
        "holds 50% of events)")
    },
    "stream_agg_hotgroup_state" -> whole { dir =>
      // hot-GROUP twin of stream_window_products: 50% of events collapse
      // onto ONE event_type. Unlike keyed dedup (one state row per key
      // regardless of share), the windowed agg's hot (window, type) group
      // carries half of every batch's rows AND its distinct-user
      // collect_set state — so the hot group's state GROWS with the hot
      // share. Output rows stay bounded by window x type; the delta vs
      // the uniform twin charts what one hot group costs the agg commit.
      val src = synthEventsStream(spark, dir)
        .withColumn("event_type",
          when(pmod(col("event_id"), lit(2L)) === 0, lit("hot_type"))
            .otherwise(col("event_type")))
      val out = graft.streaming.StreamRunner.collect(
        graft.streaming.WindowedStreams.productStats(src),
        outputMode = "complete")
        .localCheckpoint(true)
      val n = out.count()
      val hot = out.filter(col("event_type") === "hot_type")
        .agg(sum(col("ct")), sum(col("user_ct"))).head()
      (n, s"hot group holds ct=${hot.getLong(0)} users=${hot.getLong(1)} " +
        "across its windows (state grows with hot share; rows stay " +
        "window x type)")
    },
    "stream_session_state" -> whole { dir =>
      val n = graft.streaming.StreamRunner.collect(
        graft.streaming.WindowedStreams.sessionStats(
          synthEventsStream(spark, dir), gapSec = 1800L)).count()
      (n, "session-window state rows ~ users x sessions (grows Rx)")
    },
    // RocksDB twin of the session-window row: same computation under
    // RocksDBStateStoreProvider — the provider a real deployment uses
    // once state outgrows the executor heap. Healthy growth is the same
    // shape as the HDFS-backed row (state rows Rx, per-row cost flat);
    // the absolute times chart the provider's commit overhead curve.
    // (stream_uv_dedup_state already runs on RocksDB: transformWithState
    // requires it.)
    "stream_session_rocksdb" -> rocksDb(whole { dir =>
      val n = graft.streaming.StreamRunner.collect(
        graft.streaming.WindowedStreams.sessionStats(
          synthEventsStream(spark, dir), gapSec = 1800L)).count()
      (n, "sessionStats under RocksDB provider (rows grow Rx)")
    }),
    // Auto-k SemDeDup: k = ceil(n/targetCell) is the scale rule, so the
    // structural claim is that k grows R× while the CELL-SIZE distribution
    // stays bounded (~targetCell-scale max, flat across R) — the pairwise
    // stage's Σ|cell|² then grows linearly in n. A max cell growing R×
    // would mean the rule failed and the pair stage is quietly quadratic.
    "semantic_autok_cells" -> whole { dir =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cells = Dedup.semanticDedupAutoK(emb, tau = 0.4, targetCell = 125)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("k"), max(col("n")).as("max_cell"),
          expr("approx_percentile(n, 0.9)").as("p90"))
        .head()
      (cells.getLong(1),
        s"k=${cells.getLong(0)} p90_cell=${cells.getLong(2)} " +
          "(claim: k grows Rx, max/p90 cell flat)")
    },
    // kNN join, IVF tier: with the auto-k rule (k = n/targetCell) the
    // structural claim is the same as semantic_autok_cells — k grows R×,
    // cell sizes stay flat — so per-cell candidate work (|probes∩cell| ×
    // |cell|) is bounded and total candidates grow ~R× with the query
    // side. A flat k would instead grow cells R× and candidates R².
    "knn_join_ivf" -> whole { dir =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val left = emb.filter(pmod(col("vec_id"), lit(10L)) === 3)
      val right = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 3)
      val k = math.max(2L, right.count() / 125).toInt
      val centroids = Similarity.trainCentroids(right, k, iters = 1,
        sampleRate = 0.5)
      val res = Similarity.knnJoinIvf(left, right, 3, centroids, nProbe = 2)
        .count()
      val cs = Similarity.assign(right, centroids)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("kk"), max(col("n")).as("max_cell"),
          expr("approx_percentile(n, 0.9)").as("p90"))
        .head()
      (res, s"k=${cs.getLong(0)} max_cell=${cs.getLong(1)} " +
        s"p90_cell=${cs.getLong(2)} (claim: k grows Rx, cells flat)")
    },
    "dq_rules_scan" -> whole { dir =>
      // row-local rules fold into ONE scan + unique's single shuffle —
      // report rows stay constant (one per rule) at any corpus size
      import graft.operators.Quality
      val r = Quality.violations(Tables.documents(spark, dir), Seq(
          Quality.NotNull("text"), Quality.Range("n_chars", 0, 1e9),
          Quality.Matches("lang", "^[a-z]{2}$"),
          Quality.Unique(Seq("doc_id")))).collect()
      (r.length.toLong, s"rules=${r.length} (rows flat by design)")
    },
    "nfc_scan" -> whole { dir =>
      graft.expressions.GraftExtensions.ensureRegistered(spark)
      val n = Tables.documents(spark, dir)
        .select(length(call_function("graft_nfc", col("text"))).as("l"))
        .agg(sum(col("l"))).count()
      (n, "codegen scan, zero shuffle")
    },
    "range_join_binned" -> whole { dir =>
      // id-offset replicas put each replica's points AND ranges in a
      // disjoint id band — the domain grows with the data (the
      // production profile: prices don't densify 10× because volume
      // grew 10×), so matches must grow ~R×, not R². A fixed-domain
      // blow-up would super-linearize ANY containment join — that is a
      // property of the data model, not the operator.
      import graft.operators.Joins
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val pts = ev.select(col("event_id").as("p"))
      val rng = ev.filter(pmod(col("event_id"), lit(10L)) === 0)
        .select(col("event_id").as("range_id"),
          (col("event_id") - 40L).as("lo"), (col("event_id") + 60L).as("hi"))
      val n = Joins.rangeJoinBinned(pts, rng, "p", "lo", "hi",
        binWidth = 100L).count()
      (n, s"matches=$n (claim: ~Rx — disjoint id bands keep bin density flat)")
    },
    "heavy_hitters_mg" -> whole { dir =>
      // the structural claims: the Misra-Gries candidate bound is
      // per-partition (flat in data volume), and the final answer is the
      // same 2 keys at every scale; time grows ~Rx (two scans)
      import graft.operators.Frequency
      val keyed = spark.read.parquet(s"$dir/events.parquet").select(
        when(pmod(col("event_id"), lit(16L)) < 8, lit(0L))
          .when(pmod(col("event_id"), lit(16L)) < 12, lit(1L))
          .otherwise(pmod(col("event_id"), lit(16L))).as("k"))
      val hh = Frequency.heavyHitters(keyed, "k", capacity = 7).collect()
      (hh.length.toLong,
        s"hitters=${hh.length} (flat by design; candidates ≤ cap×partitions)")
    },
    "snapshot_diff" -> whole { dir =>
      // change volume scales with churn (~Rx here since the mutation
      // rules are id-keyed), through ONE co-keyed full-outer join
      import graft.operators.Snapshot
      val base = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      val mutated = base.filter(pmod(col("event_id"), lit(11L)) =!= 0)
        .withColumn("value",
          when(pmod(col("event_id"), lit(7L)) === 0, col("value") + 1.0)
            .otherwise(col("value")))
      val n = Snapshot.diff(base, mutated, "event_id",
        Seq("user_id", "value")).count()
      (n, s"changes=$n (claim: ~Rx, one key-hash join)")
    },
    "replay_dedup_stream" -> { dir =>
      // at-least-once replay dedup: every chunk redelivers the previous
      // one; output must be exactly one copy per event. State rows =
      // distinct keys inside the delay horizon — exactly Rx here
      // (the delay covers the fixture; production bounds it to the
      // transport's redelivery window, which caps state regardless of R).
      // Staging the 1.67·n-row replay fixture (three coalesce(1) chunk
      // writes) is untimed prep — the timed span is the streaming dedup.
      val ev = spark.read.parquet(s"$dir/events.parquet")
      def part(i: Int) = ev.filter(pmod(col("event_id"), lit(3L)) === i)
      val stage = s"$dir/replay-stage-${System.nanoTime()}"
      try {
        val stream = graft.streaming.Sources.stagedChunkStream(spark,
          Seq(part(0), part(1).unionByName(part(0)),
            part(2).unionByName(part(1))), Some(stage))
        val t0 = System.nanoTime()
        val n = graft.streaming.StreamRunner.collect(
          Dedup.streamExactDedup(stream, Seq("event_id"), "ts", "35 days"),
          statePartitions = 2).count()
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, n, s"deduped=$n (claim: exactly the input rows = Rx; " +
          "state rows = distinct keys; time excl. fixture staging)")
      } finally TmpDirs.rmTree(stage)
    },
    "dpp_prune" -> { dir =>
      // dynamic partition pruning: a 5-day dim filter must read 5 of 30
      // day partitions whatever R is. Timed span = the pruned join; the
      // note carries the DPP-disabled full-scan time at the same scale —
      // the ratio is the pruning win and it widens with fact size
      val ev = spark.read.parquet(s"$dir/events.parquet")
        .withColumn("dt", to_date(col("ts")))
      val path = s"$dir/events_by_day-${System.nanoTime()}"
      try {
        ev.write.mode("overwrite").partitionBy("dt").parquet(path)
        val fact = spark.read.parquet(path)
        val dim = spark.range(0, 30)
          .select(date_add(lit("2024-01-01").cast("date"),
            col("id").cast("int")).as("dt"), (col("id") + 1).as("day_no"))
          .filter(col("day_no") <= 5)
        def run(): Long = fact.join(dim, "dt")
          .groupBy(col("dt")).agg(count(lit(1))).count()
        val t0 = System.nanoTime()
        val n = run()
        val prunedSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val fullSec = Sessions.withConf(spark,
            "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
          run(); (System.nanoTime() - t1) / 1e9
        }
        (prunedSec, n,
          f"days=$n (flat: 5 at any R); dpp=$prunedSec%.2fs vs " +
            f"no-dpp=$fullSec%.2fs same scale")
      } finally TmpDirs.rmTree(path)
    },
    "merge_cow" -> { dir =>
      // copy-on-write MERGE: timed span = the merge; the structural claim
      // is the rewrite touching 2/16 partitions whatever R is (rewritten
      // rows ~Rx WITHIN the slice; untouched partitions never read)
      val ev = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"),
          pmod(col("user_id"), lit(16L)).as("bucket"))
      val path = s"$dir/merge-store-${System.nanoTime()}"
      try {
        ev.write.mode("overwrite").partitionBy("bucket").parquet(path)
        val base = ev.filter(col("bucket").isin(2L, 5L))
        val src = base.filter(col("event_id") % 3 === 0)
            .withColumn("value", col("value") + 1.0).withColumn("op", lit("U"))
          .unionByName(base.filter(col("event_id") % 3 === 1)
            .withColumn("op", lit("D")))
          .unionByName(base.filter(col("event_id") % 3 === 2)
            .withColumn("event_id", col("event_id") + 4000000000L)
            .withColumn("op", lit("I")))
          .localCheckpoint(true) // source staging untimed
        val t0 = System.nanoTime()
        graft.operators.Merge.into(spark, path, "bucket", "event_id", src)
        val sec = (System.nanoTime() - t0) / 1e9
        val n = spark.read.parquet(path)
          .filter(col("bucket").isin(2L, 5L)).count()
        (sec, n, s"slice rows=$n (~Rx); churned 2/16 partitions at any R")
      } finally TmpDirs.rmTree(path)
    },
    "incremental_refresh" -> { dir =>
      // refresh = O(delta + groups): the state table is GROUPS-sized
      // (event_type cardinality — flat in R), the delta scan is the only
      // data-proportional term. Timed span = delta agg + state merge.
      import graft.operators.Incremental
      val ev = spark.read.parquet(s"$dir/events.parquet")
        .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      val statePath = s"$dir/incr-state-${System.nanoTime()}"
      try {
        Incremental.state(ev.filter(col("dt") < "2024-01-25"),
          Seq("event_type"), Seq("value"), Seq("dt"))
          .write.parquet(statePath) // history fold untimed (one-time cost)
        val t0 = System.nanoTime()
        val merged = Incremental.merge(Seq(
          spark.read.parquet(statePath),
          Incremental.state(ev.filter(col("dt") >= "2024-01-25"),
            Seq("event_type"), Seq("value"), Seq("dt"))),
          Seq("event_type")).localCheckpoint(true)
        val sec = (System.nanoTime() - t0) / 1e9
        val n = merged.count()
        (sec, n, s"state rows=$n (flat: groups, not data); " +
          "refresh scans delta only")
      } finally TmpDirs.rmTree(statePath)
    },
    "cms_build_probe" -> whole { dir =>
      // sketch size is <= d*w whatever R is — the counter IS the claim;
      // time ~Rx (one scan, map-side collapse to d*w rows per partition)
      import graft.operators.Frequency
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val cms = Frequency.cmsBuild(ev, col("user_id"), 1024, 3)
        .localCheckpoint(true)
      val cells = cms.count()
      val est = Frequency.cmsEstimate(cms,
        spark.range(0, 50).select(col("id").as("k")), col("k"), 1024, 3)
          .count()
      (cells, s"cells=$cells (<=3072 at any R), probes=$est")
    },
    "kmv_setops" -> whole { dir =>
      // sketch state = k values whatever R is; estimates stay within the
      // 1/sqrt(k-2) band as the true cardinalities grow Rx
      import graft.functions.Kmv
      val k = 256
      val kmv = udaf(Kmv.agg(k), org.apache.spark.sql.Encoders.scalaLong)
      val ev = spark.read.parquet(s"$dir/events.parquet")
      def side(t: String) = ev.filter(col("event_type") === t)
        .agg(kmv(Kmv.hashKey(col("user_id").cast("string"))).as("sk"))
      val row = side("view").crossJoin(
          side("click").withColumnRenamed("sk", "sk2"))
        .select(Kmv.estimate(col("sk"), k),
          Kmv.intersectEstimate(col("sk"), col("sk2"), k),
          size(col("sk"))).collect()(0)
      (row.getInt(2).toLong,
        f"sketch=${row.getInt(2)} vals (flat); est_view=${row.getDouble(0)}%.0f " +
          f"est_inter=${row.getDouble(1)}%.0f")
    },
    "manifest_prune" -> { dir =>
      // timed span = manifest build + plan + pruned read; the structural
      // claim is files_read staying a strict fraction of files_total at
      // any R (the planned subset follows the PREDICATE, not the data)
      import graft.operators.Manifest
      val ev = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      val mxv = ev.agg(max(col("user_id"))).head().getLong(0)
      val path = s"$dir/manifest-store-${System.nanoTime()}"
      try {
        ev.withColumn("rb", least(
            floor(col("user_id") * 16.0 / (mxv + 1)).cast("long"), lit(15L)))
          .repartition(16, col("rb")).drop("rb")
          .write.mode("overwrite").parquet(path) // layout untimed
        val t0 = System.nanoTime()
        val manifest = Manifest.build(spark, path, "user_id")
          .localCheckpoint(true)
        val total = manifest.count()
        val files = Manifest.filesForRange(manifest, 0L, mxv / 4)
        val n = Manifest.prunedRead(spark, path, files, "user_id", 0L, mxv / 4)
          .count()
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, files.size.toLong,
          s"files read=${files.size}/$total (strict subset at any R); " +
            s"rows matched=$n")
      } finally TmpDirs.rmTree(path)
    },
    "spatial_grid_join" -> whole { dir =>
      // grid candidates are density-bounded (9ε² window per point) where
      // brute force is n per point; within-ε pairs grow with density² at
      // fixed area — physics, not plan (the counter separates the two)
      import graft.functions.HashFns
      val pts = spark.read.parquet(s"$dir/events.parquet")
        .filter(pmod(col("event_id"), lit(7L)) === 0)
        .select(col("event_id").as("id"))
        .select(col("id"),
          HashFns.md5Lower64Mod(
            concat(lit("x:"), col("id").cast("string")), 10000L).as("x"),
          HashFns.md5Lower64Mod(
            concat(lit("y:"), col("id").cast("string")), 10000L).as("y"))
      val n = pts.count()
      val pairs = graft.operators.Spatial
        .proximityJoin(pts, "id", "x", "y", eps = 30L).count()
      (pairs, s"pairs=$pairs from n=$n pts (brute = ${n * n / 2} dists; " +
        "candidates/pt = density*9eps^2, flat in n at fixed density)")
    },
    "rate_limit_state" -> whole { dir =>
      // admission state is one (tok, lastTick) pair per KEY — flat in R;
      // only admissions/rejections grow with the data
      val out = graft.operators.Quota.tokenBucket(
        spark.read.parquet(s"$dir/events.parquet")
          .filter(col("event_id") % 37 === 0)
          .withColumn("k", pmod(col("user_id"), lit(16L))),
        col("k"), "ts", "event_id", "event_id",
        capacity = 5, refillPerTick = 1, tickSeconds = 86400L)
        .agg(count(lit(1)).as("keys"), sum(col("n")).as("events"),
          sum(col("n_acc")).as("acc")).head()
      (out.getLong(0), s"state rows(keys)=${out.getLong(0)} (FLAT), " +
        s"events=${out.getLong(1)}, admitted=${out.getLong(2)}")
    },
    "span_trim_threshold" -> { dir =>
      // span-length sensitivity: spanTrim's rolling window hashes
      // (graft_span_hashes) cost O(n + k) per doc, so the EXACTSUBSTR
      // published 50-token threshold should run at ~the 8-token grain's
      // cost (the old shingle-string path hashed n×k characters and
      // grew with k). Timed span = the k=50 run; the note carries the
      // k=8 time for the flat-in-k claim. DedupSpec separately proves
      // the fixed-grain rewrite is position-equivalent to suffix-array
      // semantics at threshold k, so k is a POLICY knob, not a recall
      // approximation.
      import graft.operators.Dedup
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      def run(k: Int): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = Dedup.spanTrim(docs, k)
          .agg(sum(col("n_tokens") - col("kept_tokens"))).head().getLong(0)
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (s8, cut8) = run(8)
      val (s50, cut50) = run(50)
      (s50, cut50,
        f"k=50: $cut50 tokens cut in $s50%.2f s vs k=8: $cut8 in " +
          f"$s8%.2f s (${s50 / s8}%.2fx — flat in k, not ~6x)")
    },
    "ivfpq_probed_bytes" -> { dir =>
      // the IVF-PQ claim: a probe reads p/k of the FILES and the files
      // hold m-byte codes, not d×4-byte vectors — probed bytes are the
      // raw-IVF probed bytes shrunk by the code compression ratio, and
      // both byte counts scale linearly with R (flat ratio). Timed span
      // = the composed search over the at-rest code index.
      import graft.operators.Similarity
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val centroids = Similarity.trainCentroids(emb, k = 16, iters = 2,
        sampleRate = 0.5).localCheckpoint(true)
      val cb = Similarity.trainPqCodebooks(emb, m = 8, k = 64, iters = 2,
        sampleRate = 0.5).localCheckpoint(true)
      val praw = s"$dir/ivf-raw-${System.nanoTime()}"
      val ppq = s"$dir/ivf-pq-${System.nanoTime()}"
      try {
        Similarity.buildIvfIndex(emb, centroids, praw)
        Similarity.buildIvfPqIndex(emb, centroids, cb, ppq)
        val queries = emb.filter(col("vec_id") < 5).localCheckpoint(true)
        val cells = Similarity.probes(queries, centroids, nProbe = 4)
          .select(col("cluster_id")).distinct()
          .collect().map(_.getLong(0)).toSet
        def dirBytes(root: String, cl: Set[Long]): Long =
          Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.startsWith("cluster_id=") &&
              cl(f.getName.stripPrefix("cluster_id=").toLong))
            .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
            .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
        val all = (1L to 16L).toSet
        val (pqProbe, rawProbe) = (dirBytes(ppq, cells), dirBytes(praw, cells))
        val (pqFull, rawFull) = (dirBytes(ppq, all), dirBytes(praw, all))
        val t0 = System.nanoTime()
        val n = Similarity.ivfPqTopKIndexed(spark, ppq, emb, queries, k = 5,
          centroids, cb, nProbe = 4, shortlist = 50).count()
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, pqProbe,
          f"probed ${cells.size}/16 cells: pq=$pqProbe B vs raw=$rawProbe B " +
            f"(${rawProbe.toDouble / pqProbe}%.1fx smaller scan); full index " +
            f"pq=$pqFull B vs raw=$rawFull B (${rawFull.toDouble / pqFull}%.1fx); " +
            s"results=$n")
      } finally { TmpDirs.rmTree(praw); TmpDirs.rmTree(ppq) }
    },
    "asof_merge_join" -> whole { dir =>
      // engine-native as-of exec (j19 tier): each event → its user's
      // latest strictly-prior click. Structural claims: output rows R×
      // (LEFT as-of is row-preserving), matched rows R× (id-offset
      // replicas are user-disjoint, so no cross-family matches), merge
      // state O(1) per partition by construction; the <=2-key-shuffle
      // plan shape is pinned by AsOfJoinPlanSpec, so time must track the
      // sort+shuffle of the inputs — ~R×.
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val left = ev.select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("rk"), col("ts").as("rt"))
        .filter(col("rk").isNotNull && col("rt").isNotNull).distinct()
      val row = graft.operators.Joins.asOfJoinExec(left, right,
          Seq("user_id" -> "rk"), "ts", "rt", strict = true)
        .agg(count(lit(1)).as("n"), count(col("rt")).as("m")).head()
      (row.getLong(0), s"matched=${row.getLong(1)} of ${row.getLong(0)} lefts")
    },
    "bpe_batch_induction" -> whole { dir =>
      // batched BPE induction (4 rounds × ≤8 merges): the per-round work
      // is vocabulary-sized, so time should grow well under data ratio
      // at 10× corpus (vocab grows sub-linearly in tokens); the rounds
      // dimension is banked in SCALE.md §"Round-14: BPE rounds-dimension
      // scaling"
      val led = graft.operators.Bpe.mergesBatched(
        spark.read.parquet(s"$dir/documents.parquet"),
        batches = 4, batchSize = 8, window = 48)
      val n = led.count()
      (n, s"merges=$n in 4 batches")
    },
    "wordpiece_train_batched" -> whole { dir =>
      // r18: batched LIKELIHOOD-scored training (4 rounds × ≤8 merges
      // from 48-wide windows, 128-char chunk units). Same scale shape as
      // bpe_batch_induction — per-round work is DISTINCT-UNIT-sized, the
      // extra symbol-count aggregate included — so time should grow with
      // the distinct-unit set (sub-linear in corpus rows), not the data
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .filter(length(col("text")) > 0)
      val led = graft.operators.WordPiece.learnVocabBatched(
        docs.select(explode(transform(
          sequence(lit(1), length(col("text")), lit(128)),
          i => col("text").substr(i, lit(128)))).as("unit")),
        batches = 4, batchSize = 8, window = 48)
      val n = led.count()
      (n, s"merges=$n in 4 batches (likelihood argmax)")
    },
    "dv_materialize" -> { dir =>
      // r18: the DV lifecycle sweep. Store built + DV-deleted untimed
      // (those costs have their own rows: merge_cow, vdel arms); timed
      // span = materializeDvs(threshold=0.05). Structural claim: the
      // sweep rewrites ONLY the heavy bucket's files at any R (bucket 3
      // at ~33% tombstoned rewrites; 0.2%-tombstoned buckets keep their
      // DVs), so time tracks the rewritten slice ~Rx, never the table
      val ev = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id").as("k"), col("value"),
          pmod(col("event_id"), lit(16L)).as("bucket"))
      val path = s"$dir/dvmat-store-${System.nanoTime()}"
      try {
        graft.operators.Versioned.init(spark, path, "bucket", ev,
          statsCol = Some("k"))
        graft.operators.Versioned.deleteKeysDv(spark, path, "bucket", "k",
          ev.filter(col("bucket") === 3 && col("k") % 3 === 0)
            .select(col("k"), col("bucket")))
        graft.operators.Versioned.deleteKeysDv(spark, path, "bucket", "k",
          ev.filter(col("bucket") =!= 3 && col("k") % 499 === 0)
            .select(col("k"), col("bucket")))
        val t0 = System.nanoTime()
        val v = graft.operators.Versioned.materializeDvs(spark, path,
          "bucket", threshold = 0.05, statsCol = Some("k"))
        val sec = (System.nanoTime() - t0) / 1e9
        val m = spark.read.parquet(
          graft.operators.Versioned.manifestDir(path, v))
        val kept = m.filter(size(col("dv")) > 0).count()
        val heavy = m.filter(col("part") === "3").count()
        (sec, heavy,
          s"rewrote bucket-3 files only ($heavy fresh rows, ~Rx slice); " +
            s"$kept light (file,part) rows kept their DVs at any R")
      } finally TmpDirs.rmTree(path)
    },
    "fuzzy_dist1_blocked" -> whole { dir =>
      // deletion-neighborhood blocking: candidates ~Rx (replicas are
      // id-offset, so pairs stay within replicas) where brute force
      // would be (Rx)^2 — the avoided quadratic is the claim
      val words = spark.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") % 7 === 0)
        .select(col("event_id").cast("string").as("w")).distinct()
      val nw = words.count()
      val pairs = graft.operators.Fuzzy.editDistance1Pairs(words, "w").count()
      (pairs, s"pairs=$pairs from $nw words (brute = ${nw * nw / 2} dists)")
    })
  }

  /** Bounded stream over the SYNTHESIZED events parquet (real timestamp
    * column — schema taken from the parquet footer, not the driver's
    * int64-nanos layout that Sources.eventsStream adapts). */
  private def synthEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val r = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val spark = Sessions.tuned("local[32]", "32")
    val d1 = s"$base/x1"
    val dR = s"$base/x$r"
    synth(spark, sfDir, d1, 1)
    synth(spark, sfDir, dR, r)
    // local-iteration knob: SPARK_GRAFT_SCALE_ONLY=op1,op2 restricts the
    // suite (and skips the above-cap block unless named); unset = full run
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val suite = ops(spark).filter { case (name, _) => only.forall(_(name)) }
    // untimed warmup pass at 1× (JIT + codegen), then timed 1×, timed R×
    suite.foreach { case (_, f) => f(d1) }
    def timed(dir: String) = suite.map { case (name, f) =>
      System.gc()
      val (sec, n, note) = f(dir)
      (name, sec, n, note)
    }
    val at1 = timed(d1)
    val atR = timed(dR)
    // Above-cap tier proof at real pair volume: 5M edges (> the 4M-edge
    // driver cap) through the PUBLIC entry with the DEFAULT cap — segmented
    // chains of 128 (the chain shape is the CC worst case; pointer doubling
    // must finish in ~log2(128) rounds). Asserts the auto tier flips to the
    // distributed loop and labels are correct (each segment collapses to
    // its head).
    if (only.forall(_("clusters_above_cap"))) {
      val edges = spark.range(5L * 1000 * 1000)
        .selectExpr("id AS doc_a", "id + 1 AS doc_b")
        .filter(pmod(col("doc_a"), lit(128L)) =!= 127L)
      val t0 = System.nanoTime()
      val labels = Dedup.clusters(edges, maxIters = 20)
      val wrong = labels.filter(col("cluster_id") =!=
        (col("doc_id") - pmod(col("doc_id"), lit(128L)))).count()
      val capSec = (System.nanoTime() - t0) / 1e9
      require(Dedup.lastClustersPath == "distributed",
        s"expected distributed tier above the cap, got ${Dedup.lastClustersPath}")
      require(wrong == 0L, s"$wrong nodes mislabeled")
      println(f"| clusters_above_cap | n/a | $capSec%.2f | n/a | n/a | 5,000,000-edge " +
        f"128-chains graph (> 4M cap): path=${Dedup.lastClustersPath} " +
        f"rounds=${Dedup.lastClusterRounds}, labels exact | |")
    }
    println(s"| op | 1x sec | ${r}x sec | time ratio | 1x rows | ${r}x rows | notes (${r}x) |")
    println("|---|---|---|---|---|---|---|")
    at1.zip(atR).foreach { case ((name, t1, n1, note1), (_, tR, nR, noteR)) =>
      val n1s = if (note1.isEmpty) "" else s" ($note1)"
      println(f"| $name | $t1%.2f | $tR%.2f | ${tR / t1}%.1fx | $n1$n1s | $nR ($noteR) | |")
    }
    spark.stop()
  }
}
