package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deferred-layer merge application + run-aware PAIR-COUNT DELTA
  * extraction in ONE kernel evaluation — the incremental-induction
  * kernel of [[graft.operators.Bpe.mergesBatchedUnits]] /
  * [[graft.operators.WordPiece.learnVocabBatched]] (r19).
  *
  * The batched induction loops used to RESCAN every adjacent pair of
  * every vocabulary row per round ([[RunPairs]] explode + hash
  * aggregate: ~19 M pair rows per round at sf0.1 — measured as the
  * dominant cost of the three heaviest gates after the r18 kernel
  * work), under a stack of up to 8 deferred [[MergeFold]] layers, each
  * of which materialized a boxed array and CLONED every emitted symbol.
  * But a round only MOVES the counts of pairs adjacent to the
  * occurrences its batch actually merges; everything else cancels.
  *
  * This expression takes the CHECKPOINTED symbols plus the deferred
  * layer stack (`layers`, applied in order) plus this round's batch
  * (`batch`), and in one evaluation:
  *   1. folds the layers over raw `UTF8String` views with
  *      [[MergeFoldKernel]]'s walk — the same walk every [[MergeFold]]
  *      runs, no intermediate ArrayData boxing, no per-layer clones
  *      (views never escape the row's evaluation);
  *   2. walks the batch as one more layer, recording each output
  *      symbol's input span, to get the post state;
  *   3. emits the row's pair-count deltas `runPairs(post) − runPairs(pre)`
  *      over both counting views (naive `ct`, greedy-mergeable `mct` —
  *      the [[RunPairs]] attribution walk-for-walk), or an empty array
  *      when the batch left the row untouched.
  * Per row that is one hash probe per adjacent pair per layer (the
  * [[MergeFold]] cost) plus hash-map work bounded by the merged
  * neighbourhoods, not by the row.
  *
  * Returns array<struct<a, b, dct, dmct>> whose FIRST entry is always
  * the SENTINEL ("", "", pre_n, post_n) — the row's symbol counts
  * before/after the BATCH fold, riding the same groupBy aggregation as
  * the deltas (the "" key cannot collide: merge operands are required
  * non-empty, so no real pair has an empty side). Summed (weighted),
  * the sentinel group re-measures the corpus symbol total entering AND
  * leaving the batch, which is how the induction loops' per-round
  * conservation `require` survives the removal of the full pair rescan
  * (the driver-maintained pair table is additionally recounted in
  * full, and compared entry-for-entry, at the end of the run). The
  * sentinel rides the ROWS rather than an `observe()` because the
  * Observation listener completes on the async listener bus — tens of
  * ms of post-job latency per round, per the r19 ProfGate driver-gap
  * breakdown — and because it guarantees every row emits ≥ 1 entry, so
  * plain `explode` keeps the aggregation input non-empty with no
  * AQE empty-relation corner. Rules are plan-baked via direct
  * expression construction (see [[graft.operators.PairLedger]]). */
case class MergePairDeltas(child: Expression,
    layers: Seq[Seq[(String, String)]], batch: Seq[(String, String)])
    extends UnaryExpression {

  require(batch.nonEmpty, "graft_merge_pair_deltas: empty batch rule set")
  require((batch ++ layers.flatten).forall {
    case (l, r) => l.nonEmpty && r.nonEmpty },
    "graft_merge_pair_deltas: empty-string merge operand")
  require(layers.forall(_.nonEmpty),
    "graft_merge_pair_deltas: empty deferred layer")

  override def prettyName: String = "graft_merge_pair_deltas"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${t.sql}")
  }

  override def dataType: DataType = MergePairDeltas.OutType

  @transient private lazy val kernel = new MergePairDeltaKernel(layers, batch)

  override protected def nullSafeEval(input: Any): Any =
    kernel.deltas(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mergePairDeltaKernel",
      new MergePairDeltaKernel(layers, batch),
      classOf[MergePairDeltaKernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.deltas($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MergePairDeltas {
  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("a", StringType, nullable = false),
    StructField("b", StringType, nullable = false),
    StructField("dct", LongType, nullable = false),
    StructField("dmct", LongType, nullable = false))),
    containsNull = false)
}

/** Per-task kernel behind [[MergePairDeltas]]. Merge application is
  * [[MergeFoldKernel]]'s walk — the one copy — over a stack of the
  * deferred layers plus the batch as its LAST layer: the deferred layers
  * fold in place over the scratch views, the batch walks once more with
  * span tracking. Nothing escapes a row's evaluation except the delta
  * keys, cloned on insertion. The pair accumulation mirrors
  * [[RunPairs.pairs]] walk-for-walk, so `Σ weighted deltas` equals
  * exactly what two full [[RunPairs]] scans would aggregate to, minus
  * everything that cancels. */
class MergePairDeltaKernel(layers: Seq[Seq[(String, String)]],
    batch: Seq[(String, String)]) extends Serializable {

  private val merges = new MergeFoldKernel(layers :+ batch)
  private val batchLayer = layers.length

  /** Pair key with a CACHED hash (UTF8String.hashCode re-walks the
    * bytes on every call — the accumulation path probes per adjacent
    * pair, so the hash is computed once per (re)bind instead). Fields
    * are mutable so ONE probe instance per scratch can be re-bound for
    * every lookup; stored keys are fresh instances with cloned strings
    * (views must not outlive the row's evaluation). Only ever compared
    * against other Keys (private map). */
  private final class Key(var a: UTF8String, var b: UTF8String) {
    var h: Int = 0
    def bind(x: UTF8String, y: UTF8String): Unit = {
      a = x; b = y; h = x.hashCode * 31 + y.hashCode
    }
    override def hashCode(): Int = h
    override def equals(o: Any): Boolean = {
      val k = o.asInstanceOf[Key]
      a.equals(k.a) && b.equals(k.b)
    }
  }

  /** Per-thread reusable working state: the fold/diff temp arrays and
    * the delta accumulation map are needed for EVERY row of every
    * round — allocating them per row was measured GC churn at the
    * 150 K-row × 40-round induction tiers (~3 KB × rows × rounds). The
    * arrays grow to the longest row seen and stay; the map is cleared
    * per row (nothing in it escapes except cloned strings, which the
    * output rows own). ThreadLocal, not instance state: expression
    * instances are deserialized per task, but ThreadLocal stays safe if
    * an instance is ever shared. */
  private final class Scratch {
    var cur: Array[UTF8String] = new Array[UTF8String](256)
    var buf: Array[UTF8String] = new Array[UTF8String](256)
    var post: Array[UTF8String] = new Array[UTF8String](256)
    var spans: Array[Int] = new Array[Int](256)
    var preStart: Array[Int] = new Array[Int](257)
    val acc = new java.util.HashMap[Key, Array[Long]](256)
    val probe = new Key(null, null)
    def ensure(n: Int): Unit = if (cur.length < n) {
      var cap = cur.length
      while (cap < n) cap *= 2
      cur = new Array[UTF8String](cap)
      buf = new Array[UTF8String](cap)
      post = new Array[UTF8String](cap)
      spans = new Array[Int](cap)
      preStart = new Array[Int](cap + 1)
    }
  }

  @transient private lazy val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  private def sentinelOnly(preN: Long, postN: Long): GenericArrayData =
    new GenericArrayData(Array[Any](InternalRow(
      UTF8String.EMPTY_UTF8, UTF8String.EMPTY_UTF8, preN, postN)))

  def deltas(syms: ArrayData): ArrayData = {
    val n0 = syms.numElements()
    // folds are identities on 0/1-symbol rows, layered or not
    if (n0 < 2) return sentinelOnly(n0.toLong, n0.toLong)
    val sc = scratch.get()
    sc.ensure(n0)
    val cur = sc.cur
    merges.views(syms, cur, "graft_merge_pair_deltas")
    // the deferred layers fold in place; the pre state is (cur, n)
    val n = merges.walkLayers(cur, sc.buf, n0, batchLayer)
    if (n < 2) return sentinelOnly(n.toLong, n.toLong)
    val post = sc.post
    val spans = sc.spans
    val m = merges.walk(batchLayer, cur, n, post, spans)
    if (m == n) // nothing merged: identical symbol stream, zero deltas
      return sentinelOnly(n.toLong, n.toLong)

    // WINDOWED diff (r19): a merge only moves the counts of pairs in
    // the RUN-CLOSED neighborhood of its site — everything outside
    // cancels between the +post and −pre walks. Full-row map diffs
    // (the first cut of this kernel) paid two hash-map builds over
    // every symbol of every changed row, which in early induction
    // rounds is nearly the whole corpus; the windows bound the map
    // work to the merged neighborhoods instead.
    //
    // A window [L, R] over post positions (pre image [preStart(L),
    // preStart(R+1))) is valid for local diffing iff both cut points
    // sit on a run boundary in BOTH sequences: post(L-1) != post(L),
    // pre(pL-1) != pre(pL), and symmetrically on the right. Then
    //   +walk(post[L-1 .. R+1]) − walk(pre[pL-1 .. pR])
    // (anchors included for the junction pairs, clipped at row edges)
    // is exactly this row's contribution to runPairs(post) −
    // runPairs(pre): outside the window both sequences are the SAME
    // clean copies with the SAME run structure, and the anchor runs
    // are cut at identical offsets on both sides, so their (possibly
    // wrong, but identical) attributions cancel. Runs matter because
    // run attribution (ct = k−1, mct = k/2) is not additive under
    // splitting — hence the run-boundary extension below.
    val preStart = sc.preStart
    var accLen = 0
    var j = 0
    while (j < m) { preStart(j) = accLen; accLen += spans(j); j += 1 }
    preStart(m) = accLen // == n
    val acc = sc.acc
    acc.clear()
    // windows are built left-to-right; adjacent (gap-0) windows must
    // merge or their shared junction pair would be counted twice —
    // gap >= 1 windows are independent (each counts a DISTINCT
    // junction pair against the shared clean gap symbol)
    var wL = -1
    var wR = -1
    j = 0
    while (j < m) {
      if (spans(j) > 1) {
        var l = j
        var r = j
        // extend left to a run boundary in both sequences (the pre
        // condition catches merges that shorten a pre run, e.g.
        // "a a a b" + (a,b): post "a a ab" keeps a run of 2 whose pre
        // run was 3 — the window must swallow the whole run)
        while (l > 0 && (post(l - 1).equals(post(l)) ||
            cur(preStart(l) - 1).equals(cur(preStart(l))))) l -= 1
        // extend right: swallow contiguous merge sites and close runs
        while (r < m - 1 && (spans(r + 1) > 1 || post(r + 1).equals(post(r)) ||
            cur(preStart(r + 1)).equals(cur(preStart(r + 1) - 1)))) r += 1
        if (wR >= 0 && l <= wR + 1) {
          // touches/overlaps the previous window: merge (left edge and
          // its boundary conditions are the previous window's)
          wR = r
        } else {
          if (wR >= 0) diffWindow(cur, n, post, m, preStart, wL, wR, sc)
          wL = l
          wR = r
        }
        j = r + 1
      } else j += 1
    }
    if (wR >= 0) diffWindow(cur, n, post, m, preStart, wL, wR, sc)

    val out = new java.util.ArrayList[Any](acc.size() + 1)
    out.add(InternalRow(UTF8String.EMPTY_UTF8, UTF8String.EMPTY_UTF8,
      n.toLong, m.toLong)) // the sentinel totals entry — see class doc
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      if (v(0) != 0L || v(1) != 0L)
        out.add(InternalRow(e.getKey.a, e.getKey.b, v(0), v(1)))
    }
    new GenericArrayData(out.toArray)
  }

  /** Accumulate one window's ±pair-count contribution: +post over
    * [wL-1, wR+1], −pre over the corresponding pre range (anchors
    * included where they exist — see the window validity argument in
    * [[deltas]]). */
  private def diffWindow(cur: Array[UTF8String], n: Int,
      post: Array[UTF8String], m: Int, preStart: Array[Int],
      wL: Int, wR: Int, sc: Scratch): Unit = {
    val aL = if (wL > 0) wL - 1 else wL
    val aR = if (wR < m - 1) wR + 1 else wR
    accumulate(post, aL, aR + 1, sc, 1L)
    val pL = if (wL > 0) preStart(wL) - 1 else 0
    val pR = if (wR < m - 1) preStart(wR + 1) + 1 else n
    accumulate(cur, pL, pR, sc, -1L)
  }

  /** Add `sign` × the run-aware pair counts of `syms(from until until)`
    * into the scratch map (the [[RunPairs.pairs]] walk, accumulated
    * instead of emitted). Lookups re-bind the scratch's single probe
    * key; keys are CLONED on first insertion — views must not outlive
    * the row's evaluation. */
  private def accumulate(syms: Array[UTF8String], from: Int, until: Int,
      sc: Scratch, sign: Long): Unit = {
    val acc = sc.acc
    val probe = sc.probe
    def add(a: UTF8String, b: UTF8String, dct: Long, dmct: Long): Unit = {
      probe.bind(a, b)
      var v = acc.get(probe)
      if (v == null) {
        v = Array(0L, 0L)
        val stored = new Key(a.clone(), b.clone())
        stored.h = probe.h
        acc.put(stored, v)
      }
      v(0) += sign * dct
      v(1) += sign * dmct
    }
    var runSym = syms(from)
    var runLen = 1
    def closeRun(): Unit =
      if (runLen >= 2) add(runSym, runSym, (runLen - 1).toLong, (runLen / 2).toLong)
    var i = from + 1
    while (i < until) {
      val s = syms(i)
      if (s.equals(runSym)) runLen += 1
      else {
        closeRun()
        add(runSym, s, 1L, 1L)
        runSym = s
        runLen = 1
      }
      i += 1
    }
    closeRun()
  }
}

