package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash primitives shared by the near-duplicate sketches and the
  * oracle-checked hash gates: the affine MinHash permutation family over
  * the Mersenne modulus P (the fused kernels in
  * graft.expressions.SketchExpressions fold with it), the 64-bit Hamming
  * distance, and the md5-lower-64 primitive every engine can recompute.
  *
  * Scale note: sketches are computed per-row at scan time (narrow); the
  * only shuffle in the dedup pipelines built on them is the band/bucket
  * groupBy — the minimum any LSH scheme needs.
  */
object HashFns {
  /** Mersenne prime 2^31-1: the universal-hash modulus. 31-bit domain keeps
    * a*h + b < 2^62, so the affine transforms never overflow a long even
    * under Spark 4's ANSI arithmetic. */
  val P: Long = 2147483647L

  /** Deterministic (a,b) pairs for h_i(x) = (a_i*x + b_i) mod P. */
  def permutations(k: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((rnd.nextInt((P - 2).toInt).toLong + 1, rnd.nextInt(P.toInt).toLong))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Little-endian low 64 bits of md5 as an unsigned decimal — the
    * engine-portable hash primitive (DuckDB: `md5_number_lower`, Python:
    * `struct.unpack('<Q', md5(x).digest()[8:])`). Used wherever a hash
    * value itself is part of the contract (fingerprints, deterministic
    * sampling); xxhash64 stays the fast path for engine-internal hashing. */
  def md5Lower64(c: Column): Column = {
    val hx = md5(c.cast("binary"))
    // digest bytes 8..15, byte-reversed, as hex → unsigned 64-bit decimal
    val le = concat(Seq(31, 29, 27, 25, 23, 21, 19, 17)
      .map(i => substring(hx, i, 2)): _*)
    conv(le, 16, 10).cast("decimal(20,0)")
  }

  /** md5Lower64 mod m, as a long (m must fit in a positive long).
    * Evaluated by the native codegen'd [[graft.expressions.Md5Mod]] —
    * bit-identical to `pmod(md5Lower64(c), m)` (and to DuckDB's
    * `md5_number_lower(x) % m`) but ~20× cheaper per call: digest bytes →
    * long → remainderUnsigned, no hex/conv/decimal round-trip. Requires a
    * StringType input (Md5Mod.checkInputDataTypes fails analysis loudly);
    * callers hashing numbers must cast explicitly so the hashed rendering
    * is a visible, deliberate choice — an implicit cast here would make
    * binary vs decimal-text hashing an invisible behavior change. */
  def md5Lower64Mod(c: Column, m: Long): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.Md5Mod(
      GraftColumnBridge.expression(c), m))
  }
}
