package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout functions: multi-dimensional clustering for file skipping.
  *
  * Parquet scans prune files/row-groups by min/max footer stats; how much
  * they prune is purely a property of the WRITE-TIME row order. A linear
  * sort serves predicates on its leading column and nothing else; the
  * z-order curve ([[graft.expressions.ZValueInterleave]]) gives every
  * interleaved dimension a bounded envelope per file, so selective
  * predicates on ANY of them skip most of the data. This is the batch
  * analogue of partition pruning, and at 100 TB it is usually the single
  * biggest scan-cost lever after column pruning.
  */
object LayoutFns {

  /** Morton z-value of `dims` (each already normalized into
    * [0, 2^bits)); see [[graft.expressions.ZValueInterleave]]. */
  def zvalue(bits: Int, dims: Column*): Column =
    call_function("graft_zvalue", (lit(bits) +: dims): _*)

  /** Re-cluster `df` for writing: range-partition into `files` output
    * partitions by z-value and sort each partition by it, so each output
    * file covers a compact hyper-rectangle of the dims. The helper drops
    * the scratch z column after the sort (a projection — the established
    * order survives to the writer). The range partitioner samples only
    * the 8-byte z column; the sort is per-partition, no global sort. */
  def zorderLayout(df: DataFrame, files: Int, bits: Int,
      dims: Column*): DataFrame =
    df.withColumn("__z", zvalue(bits, dims: _*))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")

  /** Hilbert-curve index of `dims` (each already normalized into
    * [0, 2^bits)); see [[graft.expressions.HilbertIndex]] — unit-step
    * locality where Morton jumps, so equal-row tiles get tighter
    * per-file envelopes on every dimension. */
  def hilbert(bits: Int, dims: Column*): Column =
    call_function("graft_hilbert", (lit(bits) +: dims): _*)
}
