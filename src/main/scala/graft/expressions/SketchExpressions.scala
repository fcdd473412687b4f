package graft.expressions

import graft.functions.HashFns
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass sketch expressions for near-dup detection: each one
  * tokenizes, shingles, hashes and folds in one tight JVM loop per row —
  * one virtual call per document, where a higher-order-function
  * composition of the same sketch pays an interpreted lambda call per
  * shingle×permutation.
  *
  * The shingle hash is md5-lower-64 ([[PortableHash]]) and the MinHash
  * permutation family is HashFns.permutations mod HashFns.P, so every
  * signature, band key and fingerprint is recomputable verbatim by
  * another engine (the DuckDB oracle recomputes them).
  */
object Sketches {
  def tokenize(text: String): Array[String] =
    text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** Word n-gram shingle strings, TextFns.shingles parity: docs shorter
    * than n collapse to one joined shingle (possibly ""). */
  def shingles(text: String, n: Int): Array[String] = {
    val toks = tokenize(text)
    if (toks.length < n) Array(toks.mkString(" "))
    else Array.tabulate(toks.length - n + 1) { i =>
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      sb.toString
    }
  }
}

/** Engine-portable hash primitive: little-endian low 8 bytes of md5 as a
  * (bit-pattern) 64-bit value — exactly DuckDB's `md5_number_lower` and
  * Python's `struct.unpack('<Q', md5(x).digest()[8:])[0]`. The native twin
  * of HashFns.md5Lower64; used by the *Portable sketches so signatures and
  * band keys can be recomputed verbatim by any engine. */
object PortableHash {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def lower64(s: String): Long = {
    val d = md.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var x = 0L
    var i = 15
    while (i >= 8) { x = (x << 8) | (bytes(i) & 0xFFL); i -= 1 }
    x
  }

  /** lower64 mod m under UNSIGNED semantics (DuckDB: UBIGINT % m). */
  def lower64Mod(s: String, m: Long): Long =
    java.lang.Long.remainderUnsigned(lower64(s), m)
}

/** Word n-gram shingles in one pass: tokenize + slide, parity with
  * TextFns.shingles (short docs collapse to one joined shingle). SQL:
  * graft_shingles(text, n). */
case class ShingleArray(child: Expression, shingleLen: Int)
    extends UnaryExpression with CodegenFallback {
  require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(Sketches.shingles(
      input.asInstanceOf[UTF8String].toString, shingleLen)
      .map[Any](UTF8String.fromString))

  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

/** Rolling window hashes for the EXACTSUBSTR span-removal rewrite: one
  * 64-bit polynomial hash PER k-token window position, computed by a
  * Karp–Rabin roll over per-token xxhash64 values — O(n + k) work per
  * document instead of the O(n·k) characters the shingle-string path
  * hashes (graft_shingles materializes every window's joined string, so
  * its cost GROWS with the span threshold; this stays flat, which is
  * what makes EXACTSUBSTR's published 50-token threshold affordable).
  * Same collision class as hashing the window string (64-bit); equal
  * windows always collide, so the span-removal semantics are unchanged.
  * Docs shorter than k yield an empty array. SQL: graft_span_hashes
  * (text, k). */
case class SpanHashes(child: Expression, spanLen: Int)
    extends UnaryExpression with CodegenFallback {
  require(spanLen >= 1, s"spanLen must be >= 1, got $spanLen")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_span_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = {
    val toks = Sketches.tokenize(input.asInstanceOf[UTF8String].toString)
    val n = toks.length
    val k = spanLen
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = XxHash64Function.hash(
        UTF8String.fromString(toks(i)), StringType, 42L)
      i += 1
    }
    val B = 1000003L
    var bk = 1L // B^(k-1), wrapping 64-bit
    i = 1
    while (i < k) { bk *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + th(i); i += 1 }
    val out = new Array[Any](n - k + 1)
    out(0) = h
    i = 1
    while (i <= n - k) {
      h = (h - th(i - 1) * bk) * B + th(i + k - 1)
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SpanHashes =
    copy(child = newChild)
}

/** MinHash signature + LSH band keys in one pass, ready to explode into
  * the (band, key) bucket table: element hashes are md5-lower-64 mod P
  * (PortableHash — recomputable as DuckDB `md5_number_lower(s) % P`), and
  * the band key is the comma-joined signature slice ITSELF (a string
  * needs no cross-engine hash contract).
  * Output: array<struct<band:int, key:string>>.
  * SQL: graft_minhash_bands_p(text, n, k, bands). */
case class MinHashBandsPortable(child: Expression, shingleLen: Int,
    numPerms: Int, bands: Int) extends UnaryExpression with CodegenFallback {
  require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")
  require(numPerms >= 1, s"numPerms must be >= 1, got $numPerms")
  require(bands >= 1, s"bands must be >= 1, got $bands")
  require(numPerms % bands == 0,
    s"numPerms ($numPerms) must divide into bands ($bands)")

  private val rows = numPerms / bands
  @transient private lazy val perms = HashFns.permutations(numPerms).toArray

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("key", StringType, nullable = false))))
  override def prettyName: String = "graft_minhash_bands_p"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = {
    val shingles = Sketches.shingles(input.asInstanceOf[UTF8String].toString, shingleLen)
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val h = PortableHash.lower64Mod(shingles(i), HashFns.P)
      var j = 0
      while (j < numPerms) {
        val v = (perms(j)._1 * h + perms(j)._2) % HashFns.P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder()
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append(',')
        sb.append(sig(b * rows + r))
        r += 1
      }
      out(b) = InternalRow(b, UTF8String.fromString(sb.toString))
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandsPortable =
    copy(child = newChild)
}

/** 64-bit SimHash over word shingles in one pass, split into two unsigned
  * 32-bit halves (struct<lo:long, hi:long>, each in [0, 2^32)) so any
  * engine can rebuild it without signed-shift pitfalls. Votes come from
  * the 64 bits of the md5-lower-64 shingle hash (DuckDB:
  * `(md5_number_lower(s) >> b) & 1`); repeated shingles vote again.
  * SQL: graft_simhash_p(text, n). */
case class SimHashPortable(child: Expression, shingleLen: Int)
    extends UnaryExpression with CodegenFallback {
  require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")

  override def dataType: DataType = StructType(Seq(
    StructField("lo", LongType, nullable = false),
    StructField("hi", LongType, nullable = false)))
  override def prettyName: String = "graft_simhash_p"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = {
    val shingles = Sketches.shingles(input.asInstanceOf[UTF8String].toString, shingleLen)
    val votes = new Array[Long](64)
    var i = 0
    while (i < shingles.length) {
      val h = PortableHash.lower64(shingles(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) lo |= (1L << b); b += 1 }
    while (b < 64) { if (votes(b) > 0) hi |= (1L << (b - 32)); b += 1 }
    InternalRow(lo, hi)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashPortable =
    copy(child = newChild)
}
