package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` columns as pure built-in
  * expressions (`zip_with` + `aggregate` are codegen'd higher-order
  * functions). Accumulation is sequential in element order in double
  * precision — deterministic and bit-stable across partitionings, which
  * keeps results reproducible at any cluster size.
  */
object VectorFns {

  /** Native codegen'd expressions (graft.expressions.*, registered by
    * GraftExtensions — every engine session comes from Sessions.tuned).
    * `ExpressionsSpec` pins them bit-identical to the pure-builtin
    * `aggregate`/`zip_with` formulations (same accumulation order). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def l2sq(a: Column, b: Column): Column = call_function("graft_l2sq", a, b)

  /** Element-wise sum of two double arrays (for centroid accumulation). */
  def add(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  /** Scale a double array by 1/k (centroid mean step). */
  def divide(a: Column, k: Column): Column = transform(a, x => x / k)

  /** Sign-random-projection (SimHash-for-vectors) bucket id: the sequence
    * of signs of dot products against `planes` packed into a long. Planes
    * are literal arrays baked into the plan — broadcast-free. */
  def hyperplaneBucket(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.toIndexedSeq.map(lit): _*)
      when(dot(v, plane) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Random projection: map a vector to `planes.size` dot products — the
    * cheap linear dimensionality reduction (Johnson–Lindenstrauss) that
    * shrinks embeddings before ANN candidate scans or as coarse features.
    * Plane coefficients embed as array literals, so the whole projection
    * is codegen'd arithmetic on the scan — zero shuffle, zero UDF. */
  def project(v: Column, planes: Seq[Array[Double]]): Column =
    array(planes.map(p => dot(v, array(p.toIndexedSeq.map(lit): _*))): _*)

  /** Symmetric int8 quantization: scale = max|x| per vector, elements map
    * to floor(x/scale*127) ∈ [-127, 127] (floor, not round — identical
    * IEEE op order in any engine, so quantized vectors are bit-portable).
    * 4x storage shrink for ANN candidate scans; exact re-scoring keeps the
    * float column. Zero vectors quantize to zeros. */
  def quantizeInt8(a: Column): Column =
    ExprUtil.bind(array_max(transform(a, x => abs(x.cast("double"))))) { scale =>
      when(scale === 0.0, transform(a, _ => lit(0L)))
        .otherwise(transform(a, x => floor(x.cast("double") / scale * 127.0)))
    }

  /** Deterministic pseudo-random unit-ish hyperplanes from a fixed seed. */
  def randomPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }
}
