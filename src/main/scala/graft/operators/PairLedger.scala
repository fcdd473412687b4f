package graft.operators

import java.nio.charset.StandardCharsets

/** The one merge-induction driver, [[induce]], behind every induction
  * entry point — [[Bpe.merges]] and [[Bpe.mergesBatchedUnits]]
  * (frequency ranking), [[WordPiece.learnVocab]] and
  * [[WordPiece.learnVocabBatched]] (likelihood ranking); the sequential
  * two are `induce` at one merge per batch — and its driver-maintained
  * adjacent-pair count table, the r19 incremental-pair-count
  * optimization's bookkeeping half.
  *
  * The table holds one entry per DISTINCT adjacent symbol pair of the
  * current vocabulary generation, with both counting views (naive `ct`,
  * greedy-mergeable `mct` — see [[graft.expressions.RunPairs]]). It is
  * built from ONE full distributed pair scan at round 1 and then
  * advanced per round by the weighted deltas of
  * [[graft.expressions.MergePairDeltas]] — exact integer arithmetic, so
  * after every update the table is entry-for-entry what a fresh full
  * rescan would aggregate to ([[induce]] `require`s exactly that
  * against a final distributed recount, and re-measures the corpus
  * symbol total every round via the delta scan's sentinel sums).
  *
  * BUDGET: one entry per distinct adjacent pair is bounded metadata of
  * the same class as the vocabulary itself — the alphabet (≤ a few
  * hundred symbols for byte/char-level corpora) plus one new symbol per
  * learned merge bounds the SYMBOL set, and real adjacency is far
  * sparser than symbols². Measured: the XL induction tier's corpus
  * (19 M weighted pairs at sf0.1) holds ~10⁴–10⁵ distinct pairs.
  * [[induce]] still guards the collect with its `budget` and, when a
  * corpus exceeds it, takes each round's candidates from a full rescan
  * instead — fail-soft, never driver-OOM (the same guard-with-fallback
  * posture as the centroid plan literals). */
private[graft] object PairLedger {

  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  /** Observe-metric read, robust to the ZERO-INPUT corner: when a
    * scan's observed subtree processes no rows at all, AQE's
    * empty-relation propagation can prune the CollectMetrics node and
    * the Observation completes with an EMPTY map — in which case every
    * (coalesced) sum here is genuinely 0. The scans below guarantee via
    * `explode_outer` that any NON-empty input keeps at least one row
    * flowing through every exchange (so a pruned node always means
    * zero input rows, never merely zero pairs); a present-but-partial
    * metrics map still fails loudly. */
  private def metric(obs: org.apache.spark.sql.Observation,
      name: String): Long = {
    val m = obs.get
    if (m.isEmpty) 0L
    else m.getOrElse(name, sys.error(
      s"PairLedger: observation completed without metric '$name' " +
        s"(got ${m.keys.mkString(", ")})")).asInstanceOf[Long]
  }

  /** The per-round incremental scan both induction loops share: apply
    * the deferred `layers` then `batch` (this round's rules) over the
    * CHECKPOINTED symbols — all inside one kernel evaluation, over raw
    * string views (no per-layer materialization or cloning) — and
    * aggregate the weighted pair-count deltas, re-measuring the corpus
    * symbol totals entering/leaving the batch via the kernel's SENTINEL
    * entry (("", "", pre_n, post_n), always emitted first — see
    * [[graft.expressions.MergePairDeltas]]): the weighted sums of the
    * ("", "") group ARE the corpus symbol totals entering/leaving the
    * batch, riding the same aggregation as the deltas instead of an
    * `observe()` whose Observation completes on the async listener bus
    * (measured tens of ms post-job latency per round). ONE job (AQE
    * off — see below), whose aggregate input is a few delta
    * rows per CHANGED word instead of every adjacent pair of every
    * word; plain `explode` is safe (never drops a row) because every
    * row emits at least the sentinel. The kernel expression is
    * constructed DIRECTLY (not via `call_function` + literal-array
    * flattening): by late rounds the deferred-layer stack carries
    * hundreds of rule strings, and re-parsing/re-binding a
    * thousand-literal array tree per round is measurable per-round
    * planning latency.
    * Returns (delta rows (a, b, dct, dmct), preTotal, postTotal). */
  def deltaScan(vocab: DataFrame, layers: Seq[Seq[(String, String)]],
      batch: Seq[(String, String)])
      : (Array[(String, String, Long, Long)], Long, Long) = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val kernel = GraftColumnBridge.column(graft.expressions.MergePairDeltas(
      UnresolvedAttribute("syms"), layers, batch))
    // AQE off and a single shuffle partition. The per-round delta scans
    // are ONE tiny fixed-shape aggregation each; AQE turns every such query
    // into two driver-scheduled jobs (one per materialized shuffle stage)
    // plus a re-optimization pass, and at 36–40 rounds per induction gate
    // the extra per-job scheduling latency is pure driver-gap overhead
    // (guide §5 action count). One reducer is the right width at ANY
    // scale, not a local[32] tuning: aggregation is partial map-side, so
    // the lone reducer receives at most (distinct pairs touched this
    // round) × (map partitions) pre-aggregated rows — bounded metadata,
    // the same class as the collect that follows.
    val rows = graft.Sessions.withConf(vocab.sparkSession,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "1") {
      vocab
        .select(col("wct"), explode(kernel).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wct") * col("p.dct")).as("dct"),
          sum(col("wct") * col("p.dmct")).as("dmct"))
        .collect()
    }
    var pre = 0L
    var post = 0L
    val out = Array.newBuilder[(String, String, Long, Long)]
    out.sizeHint(math.max(rows.length - 1, 0))
    rows.foreach { r =>
      val a = r.getString(0)
      val b = r.getString(1)
      if (a.isEmpty && b.isEmpty) { pre = r.getLong(2); post = r.getLong(3) }
      else {
        val dct = r.getLong(2)
        val dmct = r.getLong(3)
        if (dct != 0L || dmct != 0L) out += ((a, b, dct, dmct))
      }
    }
    (out.result(), pre, post)
  }

  /** RUN-AWARE pair table of `syms` over the vocabulary (native
    * expressions/RunPairs, one JVM walk per row): every pair carries
    * BOTH counting views — naive adjacent counts `ct` (within-run len-1
    * + one per run boundary — the conservation identity Σct + W =
    * symbols, and the ranking key matching sequential BPE's argmax), and
    * the greedy-mergeable count `mct` (⌊run/2⌋ per run for self-pairs;
    * = naive for distinct pairs, which cannot self-overlap). A custom
    * Expression, not HOFs: the equivalent starts/lengths/zip HOF
    * pipeline evaluates interpreted per element and measured ~3.4× the
    * old adjacent-only scan per round on 128-symbol chunk units.
    * `explode_outer` keeps one (null, null) group flowing for an input
    * without pairs (see [[metric]]); [[pairRows]] drops it. */
  private def pairTable(vocab: DataFrame, syms: Column): DataFrame = vocab
    .select(col("wct"),
      explode_outer(call_function("graft_run_pairs", syms)).as("p"))
    .groupBy(col("p.a").as("a"), col("p.b").as("b"))
    .agg(sum(col("wct") * col("p.ct")).as("ct"),
      sum(col("wct") * col("p.mct")).as("mct"))

  /** Collect (a, b, ct, mct) rows of a [[pairTable]], minus the null group. */
  private def pairRows(pairs: DataFrame): Array[(String, String, Long, Long)] =
    pairs.collect().iterator.filter(r => !r.isNullAt(0))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toArray

  /** The round-1 full scan: the complete aggregated pair table (capped
    * at `budget` + 1 rows — [[induce]] falls back to per-round
    * rescanning when the cap is hit) plus the corpus word/symbol totals
    * riding the same job as observe metrics. */
  def initScan(vocab: DataFrame, budget: Int = DefaultBudget)
      : (Array[(String, String, Long, Long)], Long, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val rows = pairRows(pairTable(vocab
      .observe(obs,
        coalesce(sum(col("wct")), lit(0L)).cast("long").as("word_total"),
        coalesce(sum(col("wct") * size(col("syms"))), lit(0L)).cast("long")
          .as("sym_total")), col("syms"))
      .limit(budget + 2)) // +2: the null group may occupy one slot
    (rows, metric(obs, "word_total"), metric(obs, "sym_total"))
  }

  /** End-of-run recount: the full aggregated pair table over the final
    * generation plus its symbol total — the distributed measurement the
    * maintained [[Table]] must match entry-for-entry. */
  def recountScan(vocab: DataFrame, folded: Column)
      : (Array[(String, String, Long, Long)], Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val rows = pairRows(pairTable(vocab
      .observe(obs,
        coalesce(sum(col("wct") * size(folded)), lit(0L)).cast("long")
          .as("sym_total")), folded))
    (rows, metric(obs, "sym_total"))
  }

  /** Default max distinct-pair entries held driver-side (~100 B/entry ⇒
    * low hundreds of MB at the cap, far under any sane driver heap). A
    * corpus over budget takes its candidates from a per-round rescan. */
  val DefaultBudget: Int = 4 * 1024 * 1024

  /** Deferred-fold bound: how many rounds' merge layers may stack over
    * the last checkpointed vocabulary before materializing. The pending
    * layers ride ONE [[graft.expressions.MergeFold]] node (one hash
    * probe per adjacent pair per layer, re-applied by every scan until
    * the next flush) — 8 keeps that re-application small while
    * amortizing the materialization job 8×. */
  private val FoldCheckpointEvery = 8

  /** Spark's string ordering is BINARY over UTF-8 bytes; JVM
    * `String.compareTo` is UTF-16 code-unit order, which disagrees for
    * supplementary characters vs [U+E000, U+FFFF]. Driver-side candidate
    * ranking must replicate the engine's `orderBy` exactly, so compare
    * the UTF-8 bytes unsigned. */
  def utf8Compare(x: String, y: String): Int =
    cmpBytes(x.getBytes(StandardCharsets.UTF_8),
      y.getBytes(StandardCharsets.UTF_8))

  /** One pair's live counts. The UTF-8 key bytes are cached at entry
    * creation so the hot candidate ranking never re-encodes. */
  final class Entry(val a: String, val b: String) {
    val aKey: Array[Byte] = a.getBytes(StandardCharsets.UTF_8)
    val bKey: Array[Byte] = b.getBytes(StandardCharsets.UTF_8)
    var ct: Long = 0L
    var mct: Long = 0L
  }

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Tie order shared by both rankings: (a ASC, b ASC), binary. */
  private def cmpPair(x: Entry, y: Entry): Int = {
    val d = cmpBytes(x.aKey, y.aKey)
    if (d != 0) d else cmpBytes(x.bKey, y.bKey)
  }

  /** BPE candidate order: ct DESC, a ASC, b ASC — exactly the engine's
    * `orderBy(ct.desc, a, b)`. */
  val byCount: Ordering[Entry] = new Ordering[Entry] {
    override def compare(x: Entry, y: Entry): Int = {
      if (x.ct != y.ct) { if (x.ct > y.ct) -1 else 1 }
      else cmpPair(x, y)
    }
  }

  final class Table {
    private val m = new java.util.HashMap[String, Entry]()
    private var ctTotal: Long = 0L

    private def keyOf(a: String, b: String): String =
      a.length + ":" + a + b // unambiguous composite (length-prefixed)

    def size: Int = m.size()

    /** Σ ct over all entries — must equal (corpus symbols − corpus
      * words) at all times (each word of s symbols carries s−1 adjacent
      * pairs); [[induce]] `require`s it after every update. */
    def totalCt: Long = ctTotal

    def add(a: String, b: String, dct: Long, dmct: Long): Unit = {
      val k = keyOf(a, b)
      var e = m.get(k)
      if (e == null) { e = new Entry(a, b); m.put(k, e); () }
      e.ct += dct
      e.mct += dmct
      ctTotal += dct
      if (e.ct == 0L && e.mct == 0L) { m.remove(k); () }
      else require(e.ct > 0L && e.mct > 0L && e.mct <= e.ct,
        s"PairLedger: pair ('$a','$b') reached invalid counts " +
          s"(ct=${e.ct}, mct=${e.mct}) — the delta arithmetic or the " +
          "triple-disjointness invariant is broken")
    }

    /** Top `win` entries under `ord` — the driver-side replica of the
      * engine's `orderBy(...).limit(win)` (bounded-heap selection; the
      * total order is strict because (a, b) keys are distinct). */
    def top(win: Int, ord: Ordering[Entry]): IndexedSeq[Entry] = {
      // heap keeps the CURRENT worst of the best-win at its head
      val heap = new java.util.PriorityQueue[Entry](
        math.max(win, 1), ord.reverse)
      val it = m.values().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (heap.size < win) { heap.offer(e); () }
        else if (ord.compare(e, heap.peek()) < 0) {
          heap.poll(); heap.offer(e); ()
        }
      }
      val out = new Array[Entry](heap.size)
      var i = out.length - 1
      while (i >= 0) { out(i) = heap.poll(); i -= 1 }
      out.toIndexedSeq
    }

    /** Entry-for-entry equality against a freshly aggregated full pair
      * table — the end-of-run exactness proof. */
    def sameAs(rows: Seq[(String, String, Long, Long)]): Boolean = {
      if (rows.length != m.size()) return false
      rows.forall { case (a, b, ct, mct) =>
        val e = m.get(keyOf(a, b))
        e != null && e.ct == ct && e.mct == mct
      }
    }
  }

  /** How [[induce]] ranks candidate pairs, on the driver (over the
    * maintained [[Table]]) and in the engine (over a rescanned pair
    * table) — the two must agree exactly. A ranking may keep per-run
    * state: [[start]] opens it, [[merged]] advances it per learned
    * merge, [[verify]] checks it against the final generation. */
  sealed trait Ranking {
    /** Driver-side candidate order. */
    def ordering: Ordering[Entry]
    /** The selection-time score a merge records in the ledger. */
    def score(e: Entry): Double
    /** Engine-side: the top `win` rows of a [[pairTable]] under
      * [[ordering]], as its (a, b, ct, mct) columns. */
    def top(pairs: DataFrame, win: Int): DataFrame
    def start(vocab: DataFrame, caller: String): Unit = ()
    def merged(l: String, r: String, mct: Long): Unit = ()
    def verify(vocab: DataFrame, folded: Column): Unit = ()
  }

  /** BPE: rank by naive count `ct` (the score is `ct` too, unrecorded). */
  object Frequency extends Ranking {
    def ordering: Ordering[Entry] = byCount
    def score(e: Entry): Double = e.ct.toDouble
    def top(pairs: DataFrame, win: Int): DataFrame =
      pairs.orderBy(col("ct").desc, col("a").asc, col("b").asc).limit(win)
  }

  /** WordPiece: rank by `ct / (ct_a · ct_b)` — each long cast to double
    * exactly (all < 2^53), one IEEE multiply + one IEEE divide, so the
    * driver-side score is bit-identical to the engine's and ties and the
    * window cutoff replicate `orderBy(score.desc, a, b).limit(win)` with
    * binary string order. One instance per run: it holds that run's
    * symbol counts.
    *
    * The corpus-weighted count per SYMBOL — the likelihood denominator —
    * is maintained DRIVER-SIDE (r18): the alphabet plus one entry per
    * learned merge is bounded metadata, and under triple-disjointness
    * the per-batch updates are exact (each applied merge removes
    * exactly mct occurrences of lhs and of rhs — 2·mct of a self-pair's
    * symbol — and creates mct of lhs+rhs; no selected merge touches
    * another's operands). The pre-r18 shape recomputed this with a full
    * explode+groupBy scan of the vocabulary EVERY round. A final
    * distributed recount asserts the maintained map exactly. */
  final class Likelihood extends Ranking {
    private val symCt = scala.collection.mutable.Map.empty[String, Long]
    private var caller = "PairLedger.Likelihood"

    /** Score DESC (IEEE double), a, b — exactly the engine's
      * `orderBy(score.desc, a, b)` (no NaNs: all counts are >= 1). The
      * score is computed per comparison, not stored in the entry: the
      * denominator counts move between rounds. */
    val ordering: Ordering[Entry] = new Ordering[Entry] {
      override def compare(x: Entry, y: Entry): Int = {
        val d = java.lang.Double.compare(score(y), score(x))
        if (d != 0) d else cmpPair(x, y)
      }
    }

    def score(e: Entry): Double = {
      val ca = symCt.getOrElse(e.a, 0L)
      val cb = symCt.getOrElse(e.b, 0L)
      require(ca > 0L && cb > 0L,
        s"$caller: pair ('${e.a}','${e.b}') references a symbol with no " +
          "maintained count — the exact-update invariant is broken")
      e.ct.toDouble / (ca.toDouble * cb.toDouble)
    }

    def top(pairs: DataFrame, win: Int): DataFrame = {
      val cs = pairs.sparkSession.createDataFrame(symCt.toSeq).toDF("sym", "c")
      pairs
        .join(broadcast(cs.select(col("sym").as("a"), col("c").as("ca"))),
          Seq("a"))
        .join(broadcast(cs.select(col("sym").as("b"), col("c").as("cb"))),
          Seq("b"))
        .withColumn("score",
          col("ct").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double")))
        .orderBy(col("score").desc, col("a").asc, col("b").asc)
        .limit(win)
        .select(col("a"), col("b"), col("ct"), col("mct"))
    }

    private def symbolCounts(vocab: DataFrame, syms: Column): Map[String, Long] =
      vocab.select(col("wct"), explode(syms).as("sym"))
        .groupBy(col("sym")).agg(sum(col("wct")).cast("long").as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    override def start(vocab: DataFrame, caller: String): Unit = {
      this.caller = caller
      symCt.clear()
      symCt ++= symbolCounts(vocab, col("syms"))
    }

    // exact denominator maintenance (see the class doc)
    override def merged(l: String, r: String, mct: Long): Unit = {
      if (l == r) symCt(l) = symCt(l) - 2 * mct
      else {
        symCt(l) = symCt(l) - mct
        symCt(r) = symCt(r) - mct
      }
      symCt(l + r) = symCt.getOrElse(l + r, 0L) + mct
    }

    // the maintained denominator map must recount EXACTLY — any drift
    // here means a selection scored against a wrong ca/cb
    override def verify(vocab: DataFrame, folded: Column): Unit = {
      val recount = symbolCounts(vocab, folded)
      val maintained = symCt.toMap.filter(_._2 != 0L)
      require(recount == maintained,
        s"$caller: driver-maintained symbol counts diverge from the final " +
          s"recount (maintained ${maintained.size} entries, recounted " +
          s"${recount.size}) — the exact-update invariant is broken")
    }
  }

  /** One learned merge: `ct` is the naive adjacent-pair count it was
    * ranked by (the sequential ledgers' count), `mct` the
    * greedy-mergeable count the fold removes (the batched ledgers'
    * count; they differ only on self-pair runs), `score` the
    * selection-time ranking score, `symsAfter` the running corpus symbol
    * total. */
  final case class Merge(idx: Long, batch: Long, lhs: String, rhs: String,
      ct: Long, mct: Long, score: Double, symsAfter: Long)

  /** [[induce]]'s ledger, and whether the pair table was over budget
    * (every round's candidates then came from a full rescan). */
  final case class Induced(merges: Seq[Merge], rescanned: Boolean)

  /** The (wct, syms) vocabulary of a `unit` column: one row per distinct
    * unit, weighted by its count, symbols = the unit's characters. */
  def unitVocab(units: DataFrame): DataFrame = units
    .select(col("unit").as("word"))
    // empty units carry no pairs and would trip sequence(1, 0)'s
    // descending-step inference — drop them (tokensWs never emits any;
    // sequence units may, e.g. chunking an empty document)
    .filter(length(col("word")) > 0)
    .groupBy(col("word")).agg(count(lit(1)).as("wct"))
    // `word` is consumed here and never read again (the ledgers carry
    // only pairs and counts) — carrying it through every per-round
    // checkpoint generation would be dead weight in block storage
    .select(col("wct"), Bpe.codePoints(col("word")).as("syms"))
    // checkpointed so every round plans over a constant-depth scan, not
    // the growing merge lineage; LAZY: the init scan's full-corpus
    // aggregation is the materializing action, so the checkpoint write
    // rides that job instead of owning one
    .localCheckpoint(false)

  /** Batched merge induction over `units` — up to `batchSize` merges
    * per round for `batches` rounds, candidates ranked by `ranking` from
    * a top-`window` window, greedily selected TRIPLE-disjoint (see
    * [[Bpe.mergesBatched]] for why that keeps the batch exact).
    * `window` 0 means max(4 · batchSize, 16). `caller` prefixes every
    * argument and invariant message. At `batchSize` 1 each round learns
    * exactly the ranking's argmax pair: sequential induction.
    *
    * Round shape (r19): while the distinct-pair table fits `budget`,
    * candidates are ranked from the driver-maintained [[Table]] (built
    * by the init scan), and each round's ONE job is a [[deltaScan]] —
    * merge application + pair-count-delta extraction fused into a single
    * native-kernel pass whose aggregate input is a few rows per CHANGED
    * word, not every adjacent pair of every word (a full rescan
    * aggregated ~19 M exploded pair rows per round at sf0.1). Every
    * round's scan re-measures the corpus symbol total both entering and
    * leaving the batch, the table re-proves the Σct + W == symbols
    * identity after every update, and one final distributed recount
    * must match the table ENTRY-FOR-ENTRY.
    *
    * Over budget, each round's candidates come from a full rescan of
    * the current generation instead (the pre-r19 loop's shape); its
    * pair total re-measures the symbol total entering the batch, and the
    * final recount measures the total only. Same semantics, same ledger.
    *
    * DEFERRED-FOLD (r18): a round's merge application rides the NEXT
    * round's scan as extra layers of one native MergeFold over the
    * last checkpointed generation instead of paying a materialization
    * job per round; every [[FoldCheckpointEvery]] rounds the layers
    * materialize once (bounding plan depth; the r13 quadratic-lineage
    * trap needed the per-round checkpoint only because the Catalyst HOF
    * fold made re-applied layers expensive — the native kernel
    * re-applies a layer in O(symbols) hash probes). */
  def induce(units: DataFrame, caller: String, ranking: Ranking,
      batches: Int, batchSize: Int, window: Int = 0,
      budget: Int = DefaultBudget): Induced = {
    require(batches >= 1 && batches <= 4096,
      s"$caller: batches must be in [1, 4096], got $batches")
    require(batchSize >= 1 && batchSize <= 256,
      s"$caller: batchSize must be in [1, 256], got $batchSize")
    val win = if (window > 0) window else math.max(4 * batchSize, 16)
    require(win >= batchSize,
      s"$caller: window $win must be >= batchSize $batchSize")
    var vocab = unitVocab(units)
    // ONE init job: the complete aggregated pair table (driver-side,
    // budget-guarded) plus the corpus word/symbol totals as observe
    // metrics. The word count is constant across rounds — merges change
    // symbols-per-word, never words — and total symbols at any round ==
    // sum of ALL naive pair counts + W (each word of s symbols carries
    // s−1 adjacent pairs): the conservation identity the whole run is
    // checked against.
    val (initPairs, wordTotal, total0) = initScan(vocab, budget)
    ranking.start(vocab, caller)
    // the candidate source: the maintained table, or — over budget —
    // None, and a per-round rescan (fail-soft, never driver-OOM)
    val table =
      if (initPairs.length > budget) None
      else {
        val t = new Table
        initPairs.foreach { case (a, b, ct, mct) => t.add(a, b, ct, mct) }
        require(t.totalCt + wordTotal == total0,
          s"$caller: the init pair table sums to ${t.totalCt} pairs but " +
            s"the corpus measures $total0 symbols over $wordTotal words — " +
            "the Σct + W == symbols identity is broken at round 1")
        Some(t)
      }
    var total = total0
    var idx = 0L
    val merges = Vector.newBuilder[Merge]
    var pending = Vector.empty[Seq[(String, String)]]
    def foldedSyms: Column = Bpe.applyMerges(col("syms"), pending)
    // LAZY flush (r19): the fold of the accumulated layers materializes
    // as part of the NEXT scan's job (every scan — delta scan, rescan,
    // final recount — aggregates over all partitions, so the marked RDD
    // is fully cached by that job) instead of paying a separate
    // driver-scheduled materialization job per flush. The superseded
    // generation can only be freed AFTER that next action has
    // materialized the new one — its blocks are the lineage the lazy
    // checkpoint computes from — hence the free queue.
    var toFree = List.empty[DataFrame]
    def reap(): Unit = { toFree.foreach(CheckpointUtil.free); toFree = Nil }
    def flush(): Unit = if (pending.nonEmpty) {
      toFree ::= vocab
      vocab = vocab
        .select(col("wct"), foldedSyms.as("syms"))
        .localCheckpoint(false)
      pending = Vector.empty
    }
    def entering(b: Int, measured: Long): Unit =
      require(measured == total,
        s"$caller: entering batch $b the corpus symbol total measures " +
          s"$measured but the ledger derived $total — the " +
          "triple-disjointness invariant is broken")
    for (b <- 1 to batches) {
      val cands = table match {
        // driver-side replica of the engine's ranked .limit(win) window
        // (binary string order — see utf8Compare)
        case Some(t) => t.top(win, ranking.ordering)
        case None =>
          val obs = new org.apache.spark.sql.Observation()
          val top = pairRows(ranking.top(pairTable(vocab, foldedSyms)
            .observe(obs, coalesce(sum(col("ct")), lit(0L)).cast("long")
              .as("pair_total")), win))
          reap()
          // this snapshot measures the symbol total AFTER the previous
          // batch applied — it must equal the previous round's derived
          // total
          entering(b, metric(obs, "pair_total") + wordTotal)
          top.toIndexedSeq.map { case (a, bb, ct, mct) =>
            val e = new Entry(a, bb); e.ct = ct; e.mct = mct; e }
      }
      // greedy triple-disjoint selection; self-pairs carry their
      // run-aware mct (the fold's exact symbol removal) and their triple
      // degenerates to {a, aa}, so the same check keeps attribution
      // exact in-batch. Scores are taken at selection, before any
      // ranking state moves.
      val sel = Vector.newBuilder[(String, String, Long, Long, Double)]
      var taken = 0
      var used = Set.empty[String]
      for (e <- cands if taken < batchSize) {
        val triple = Set(e.a, e.b, e.a + e.b)
        if ((triple & used).isEmpty) {
          sel += ((e.a, e.b, e.ct, e.mct, ranking.score(e)))
          used ++= triple; taken += 1
        }
      }
      val chosen = sel.result()
      if (chosen.nonEmpty) {
        val rules = chosen.map(c => (c._1, c._2))
        // the delta scan re-measures the symbol total ENTERING the batch …
        val scanned = table.map { t =>
          val (deltaRows, pre, post) = deltaScan(vocab, pending, rules)
          reap() // the scan materialized any lazily flushed generation
          entering(b, pre)
          (t, deltaRows, post)
        }
        var running = total
        for ((l, r, ct, mct, score) <- chosen) {
          idx += 1
          running -= mct
          ranking.merged(l, r, mct)
          merges += Merge(idx, b.toLong, l, r, ct, mct, score, running)
        }
        // … and LEAVING it: this batch's application, verified now (a
        // rescan verifies it one round later, entering the next batch)
        scanned.foreach { case (t, deltaRows, post) =>
          require(post == running,
            s"$caller: batch $b derived a symbol total of $running but " +
              s"the fold measures $post — the triple-disjointness " +
              "invariant is broken")
          deltaRows.foreach { case (a, bb, dct, dmct) =>
            t.add(a, bb, dct, dmct) }
          require(t.totalCt == post - wordTotal,
            s"$caller: after batch $b the pair table sums to " +
              s"${t.totalCt} but the corpus holds $post symbols over " +
              s"$wordTotal words — the Σct + W == symbols identity is " +
              "broken")
        }
        total = running
        pending = pending :+ rules
        if (pending.size >= FoldCheckpointEvery) flush()
      }
    }
    // end-of-run exactness proof: the last batch's symbol total (and,
    // with a maintained table, the table entry-for-entry) against a
    // full distributed recount of the final generation
    val folded = foldedSyms
    val (finalPairs, finalMeasured) = table match {
      case Some(_) => recountScan(vocab, folded)
      case None => (Array.empty[(String, String, Long, Long)],
        vocab.agg(coalesce(sum(col("wct") * size(folded)), lit(0L))
          .cast("long")).head().getLong(0))
    }
    reap()
    require(finalMeasured == total,
      s"$caller: final corpus symbol total measures $finalMeasured but " +
        s"the ledger derived $total — the triple-disjointness invariant " +
        "is broken")
    table.foreach { t =>
      require(t.sameAs(finalPairs.toIndexedSeq),
        s"$caller: the driver-maintained pair table diverges from the " +
          s"final distributed recount (maintained ${t.size} entries, " +
          s"recounted ${finalPairs.length}) — the delta-update invariant " +
          "is broken")
    }
    ranking.verify(vocab, folded)
    CheckpointUtil.free(vocab)
    Induced(merges.result(), table.isEmpty)
  }
}
