package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Greedy left-to-right application of a STACK of BPE merge-rule layers
  * — one evaluation per row applies every layer in order, each as one
  * greedy pass over the symbol array (Sennrich et al. 2016,
  * arXiv:1508.07909). The merge-application kernel behind every
  * [[graft.operators.Bpe]] tier: induction rounds pass one layer, the
  * encoders pass one layer per rule ([[graft.operators.Bpe.encode]],
  * [[graft.operators.Bpe.encodeTable]]) or per learned batch
  * ([[graft.operators.Bpe.encodeBatches]]), and the deferred-fold stack of
  * [[graft.operators.PairLedger]] passes its pending batches.
  *
  * Per layer the walk tracks the accumulated TAIL symbol: when some rule
  * of the layer has lhs == tail and rhs == next, the tail grows by rhs
  * (the merged symbol becomes the new tail); otherwise the tail is
  * emitted and restarts at next. For a single-rule layer that is exactly
  * the sequential greedy non-overlapping scan (lhs+rhs ≠ lhs, so a merge
  * never re-matches as lhs); for a layer of TRIPLE-DISJOINT rules (the
  * [[graft.operators.Bpe.mergesBatchedUnits]] selection invariant) it
  * equals applying the layer's rules one by one, in any order. The
  * kernel compares WHOLE symbols (no separator encoding), so a literal
  * '|' is just a symbol; the DuckDB oracle replays still string-encode
  * with '|', which keeps the no-pipe corpus guard THEIR precondition,
  * asserted gate-side.
  *
  * Cost per row: one rhs-keyed hash probe per adjacent symbol pair per
  * layer — O(layers × symbols), whatever the merge count, in ONE
  * expression node. A stack of any depth is one plan node holding its
  * rules as a field (no literal children, no nesting), so analysis and
  * codegen stay constant in the number of layers. Registered as SQL
  * `graft_merge_fold(syms, array(lhs₁, rhs₁, …))`, which builds a
  * one-layer stack; the multi-layer form is built directly (see
  * [[graft.operators.Bpe.applyMerges]]). Codegen calls straight into
  * the shared kernel — no UDF, no boxing beyond the output array. */
case class MergeFold(child: Expression, layers: Seq[Seq[(String, String)]])
    extends UnaryExpression {

  require(layers.nonEmpty && layers.forall(_.nonEmpty),
    "graft_merge_fold: empty rule set")
  require(layers.forall(_.forall { case (l, r) => l.nonEmpty && r.nonEmpty }),
    "graft_merge_fold: empty-string merge operand")

  override def prettyName: String = "graft_merge_fold"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val kernel = new MergeFoldKernel(layers)

  override protected def nullSafeEval(input: Any): Any =
    kernel.fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mergeFoldKernel",
      new MergeFoldKernel(layers), classOf[MergeFoldKernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.fold($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-task kernel behind [[MergeFold]] and [[MergePairDeltas]]: the
  * one greedy merge walk ([[walk]]) and the one rule map it probes. Each
  * layer's rules are hashed lazily on first row (once per task after
  * deserialization) into an rhs-keyed map — matching probes by the NEXT
  * symbol first (one hash lookup per adjacent pair; most probes miss),
  * then scans that rhs's (typically single) lhs list. The walk runs over
  * plain `UTF8String[]` arrays of views: concat results are fresh, views
  * stay views, and nothing is cloned until [[fold]] emits its output.
  * Null symbols are rejected loudly, mirroring [[RunPairs]] — a silent
  * skip would corrupt the conservation ledger. */
class MergeFoldKernel(layers: Seq[Seq[(String, String)]]) extends Serializable {

  // serialization-friendly: rules as flat string arrays, maps built
  // lazily per task
  private val lhs: Array[Array[String]] = layers.map(_.map(_._1).toArray).toArray
  private val rhs: Array[Array[String]] = layers.map(_.map(_._2).toArray).toArray

  /** Per layer: rhs → all lhs values that merge with it (1 entry in the
    * common, operand-disjoint case; a small array keeps the miss path
    * branchless). */
  @transient private lazy val byRhs
      : Array[java.util.HashMap[UTF8String, Array[UTF8String]]] =
    Array.tabulate(lhs.length) { k =>
      val m = new java.util.HashMap[UTF8String, Array[UTF8String]](
        rhs(k).length * 2)
      var i = 0
      while (i < rhs(k).length) {
        val key = UTF8String.fromString(rhs(k)(i))
        val v = UTF8String.fromString(lhs(k)(i))
        val prev = m.get(key)
        m.put(key, if (prev == null) Array(v) else prev :+ v)
        i += 1
      }
      m
    }

  /** One greedy left-to-right pass of layer `k` over `in(0 until n)`
    * (n >= 1), written to `out` (sized >= n); returns the output length.
    * When `spans` is non-null, `spans(j)` records how many INPUT symbols
    * output symbol `j` consumed (1 = untouched copy, >1 = a merge site). */
  def walk(k: Int, in: Array[UTF8String], n: Int, out: Array[UTF8String],
      spans: Array[Int]): Int = {
    val lookup = byRhs(k)
    var m = 0
    var tail = in(0)
    var span = 1
    var i = 1
    while (i < n) {
      val x = in(i)
      val cands = lookup.get(x)
      var merged = false
      if (cands != null) {
        var j = 0
        while (!merged && j < cands.length) {
          if (cands(j).equals(tail)) merged = true
          j += 1
        }
      }
      if (merged) { tail = UTF8String.concat(tail, x); span += 1 }
      else {
        out(m) = tail
        if (spans != null) spans(m) = span
        m += 1; tail = x; span = 1
      }
      i += 1
    }
    out(m) = tail
    if (spans != null) spans(m) = span
    m + 1
  }

  /** Layers `0 until until`, in order, over `a(0 until n)` through the
    * scratch `b` (both sized >= n); the result is left in `a`, its length
    * returned. Stops early once fewer than 2 symbols remain. */
  def walkLayers(a: Array[UTF8String], b: Array[UTF8String], n: Int,
      until: Int): Int = {
    var src = a
    var dst = b
    var len = n
    var k = 0
    while (k < until && len >= 2) {
      len = walk(k, src, len, dst, null)
      val t = src; src = dst; dst = t
      k += 1
    }
    if (src ne a) System.arraycopy(src, 0, a, 0, len)
    len
  }

  /** Read `syms` into a view array, rejecting nulls by index. */
  def views(syms: ArrayData, into: Array[UTF8String], fn: String): Unit = {
    var i = 0
    while (i < syms.numElements()) {
      val s = syms.getUTF8String(i)
      if (s == null) throw new IllegalArgumentException(
        fn + ": null symbol at index " + i +
          " — symbol arrays must be null-free (substr/split-built)")
      into(i) = s
      i += 1
    }
  }

  /** Every layer over one row's symbols. Emitted strings are CLONED:
    * untouched symbols are views into the input buffer, which must not
    * outlive the row's evaluation. */
  def fold(syms: ArrayData): ArrayData = {
    val n = syms.numElements()
    val cur = new Array[UTF8String](n)
    views(syms, cur, "graft_merge_fold")
    val m = if (n < 2) n
      else walkLayers(cur, new Array[UTF8String](n), n, lhs.length)
    val out = new Array[Any](m)
    var j = 0
    while (j < m) { out(j) = cur(j).clone(); j += 1 }
    new GenericArrayData(out)
  }
}
