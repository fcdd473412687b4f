package graft.operators

import java.nio.charset.StandardCharsets

/** Driver-maintained adjacent-pair count table for the batched
  * induction loops ([[Bpe.mergesBatchedUnits]],
  * [[WordPiece.learnVocabBatched]]) — the r19 incremental-pair-count
  * optimization's bookkeeping half.
  *
  * The table holds one entry per DISTINCT adjacent symbol pair of the
  * current vocabulary generation, with both counting views (naive `ct`,
  * greedy-mergeable `mct` — see [[graft.expressions.RunPairs]]). It is
  * built from ONE full distributed pair scan at round 1 and then
  * advanced per round by the weighted deltas of
  * [[graft.expressions.MergePairDeltas]] — exact integer arithmetic, so
  * after every update the table is entry-for-entry what a fresh full
  * rescan would aggregate to (the induction loops `require` exactly
  * that against a final distributed recount, and re-measure the corpus
  * symbol total every round via the delta scan's observe metrics).
  *
  * BUDGET: one entry per distinct adjacent pair is bounded metadata of
  * the same class as the vocabulary itself — the alphabet (≤ a few
  * hundred symbols for byte/char-level corpora) plus one new symbol per
  * learned merge bounds the SYMBOL set, and real adjacency is far
  * sparser than symbols². Measured: the XL induction tier's corpus
  * (19 M weighted pairs at sf0.1) holds ~10⁴–10⁵ distinct pairs. The
  * loops still guard the collect with [[PairLedger.Budget]] and fall
  * back to the per-round full-rescan shape when a corpus exceeds it —
  * fail-soft, never driver-OOM (the same guard-with-fallback posture as
  * the centroid plan literals). */
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

  /** The round-1 full scan: the complete aggregated pair table (capped
    * at [[Budget]] + 1 rows — the caller falls back to per-round
    * rescanning when the cap is hit) plus the corpus word/symbol totals
    * riding the same job as observe metrics. */
  def initScan(vocab: DataFrame)
      : (Array[(String, String, Long, Long)], Long, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val rows = vocab
      .observe(obs,
        coalesce(sum(col("wct")), lit(0L)).cast("long").as("word_total"),
        coalesce(sum(col("wct") * size(col("syms"))), lit(0L)).cast("long")
          .as("sym_total"))
      .select(col("wct"),
        explode_outer(call_function("graft_run_pairs", col("syms"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wct") * col("p.ct")).as("ct"),
        sum(col("wct") * col("p.mct")).as("mct"))
      .limit(Budget + 2) // +2: the null group may occupy one slot
      .collect()
      .iterator.filter(r => !r.isNullAt(0)) // see deltaScan on null groups
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toArray
    (rows, metric(obs, "word_total"), metric(obs, "sym_total"))
  }

  /** End-of-run recount: the full aggregated pair table over the final
    * generation plus its symbol total — the distributed measurement the
    * maintained [[Table]] must match entry-for-entry. */
  def recountScan(vocab: DataFrame, folded: Column)
      : (Array[(String, String, Long, Long)], Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val rows = vocab
      .observe(obs,
        coalesce(sum(col("wct") * size(folded)), lit(0L)).cast("long")
          .as("sym_total"))
      .select(col("wct"),
        explode_outer(call_function("graft_run_pairs", folded)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wct") * col("p.ct")).as("ct"),
        sum(col("wct") * col("p.mct")).as("mct"))
      .collect()
      .iterator.filter(r => !r.isNullAt(0)) // see deltaScan on null groups
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toArray
    (rows, metric(obs, "sym_total"))
  }

  /** Max distinct-pair entries held driver-side (~100 B/entry ⇒ low
    * hundreds of MB at the cap, far under any sane driver heap). A
    * corpus over budget runs the pre-r19 full-rescan loop instead.
    * The system property exists for the parity specs (forcing the
    * fallback on a small corpus) — not a tuning knob. */
  def Budget: Int = sys.props.get("graft.pair.budget")
    .flatMap(v => scala.util.Try(v.toInt).toOption)
    .getOrElse(4 * 1024 * 1024)

  /** Spark's string ordering is BINARY over UTF-8 bytes; JVM
    * `String.compareTo` is UTF-16 code-unit order, which disagrees for
    * supplementary characters vs [U+E000, U+FFFF]. Driver-side candidate
    * ranking must replicate the engine's `orderBy` exactly, so compare
    * the UTF-8 bytes unsigned. */
  def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(StandardCharsets.UTF_8)
    val b = y.getBytes(StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

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

  /** WordPiece candidate order: score DESC (IEEE double), a, b —
    * exactly the engine's `orderBy(score.desc, a, b)` (no NaNs: all
    * counts are >= 1). The score is attached per round (the denominator
    * counts move), so it rides alongside the entry, not inside it. */
  def byScore(score: Entry => Double): Ordering[Entry] = new Ordering[Entry] {
    override def compare(x: Entry, y: Entry): Int = {
      val d = java.lang.Double.compare(score(y), score(x))
      if (d != 0) d else cmpPair(x, y)
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
      * pairs); the loops `require` it after every update. */
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
}
