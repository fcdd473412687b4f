package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** R× replica of a testdata sf dir in the RAW table schemas, so every
  * unmodified `SparkEntry.queries` gate (and `tools/check.py`) runs on it:
  * `graft.Bench` at the replica vs at the source times an operator's
  * cost at a fixed structure as input grows R×.
  *
  *  - documents: R Caesar families. Family i maps text through a rotation
  *    of the full a-z/A-Z alphabet (`translate`, bijective, `rot(0)` the
  *    identity). Shingle equality holds within a family and fails across
  *    families for any shingle holding a letter, so the near-dup pair
  *    graph is R disjoint copies of the source graph (pairs exactly R×,
  *    pinned by `SynthSpec`) and no artificial duplicate cluster appears.
  *  - events, embeddings, orders: id-offset replicas (user state count
  *    R×, same per-user series; window count flat, rows per window R×).
  *  - region, nation, customer, supplier, part, lineitem: byte copies.
  *
  * One file per table, `<table>.parquet` (the gates read with
  * `pathGlobFilter`); every run rewrites the whole output.
  *
  * Usage: `runMain graft.Synth <sfDir> <outDir>` writes the 10× replica.
  */
object Synth {

  private[graft] val Offset = 1000000000L
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private[graft] val Alphabet = Lower + Lower.toUpperCase

  /** Both cases rotated by `k` (0 <= k < 26). */
  private[graft] def rot(k: Int): String =
    Lower.drop(k) + Lower.take(k) +
      Lower.toUpperCase.drop(k) + Lower.toUpperCase.take(k)

  /** The replicated tables and the id columns each replica offsets. */
  private val Shifted = Seq("documents" -> Seq("doc_id"),
    "events" -> Seq("event_id", "user_id"), "embeddings" -> Seq("vec_id"),
    "orders" -> Seq("o_orderkey", "o_custkey"))

  private val Copied =
    Seq("region", "nation", "customer", "supplier", "part", "lineitem")

  def write(spark: SparkSession, sfDir: String, outDir: String,
      r: Int): Unit = {
    // rot repeats after 26: families i and i + 26 would hold identical
    // text, one planted duplicate cluster per source document
    require(r >= 1 && r <= 26, s"r must be in [1, 26], got r=$r")
    new java.io.File(outDir).mkdirs()
    Shifted.foreach { case (t, ids) =>
      val df = spark.read.option("pathGlobFilter", s"$t.parquet").parquet(sfDir)
      val replicas = (0 until r).map { i =>
        val shifted = ids.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * Offset)))
        if (t != "documents") shifted
        else shifted.withColumn("text", translate(col("text"), Alphabet, rot(i)))
      }
      graft.streaming.Sources.writeOneFile(replicas.reduce(_ unionByName _),
        new java.io.File(outDir, s"$t.parquet"), s"$t replica")
    }
    Copied.foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sfDir, s"$t.parquet"),
        java.nio.file.Paths.get(outDir, s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.tuned(s"local[$cpus]", cpus)
    try write(spark, sfDir, outDir, r = 10) finally spark.stop()
  }
}
