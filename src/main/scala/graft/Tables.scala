package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog over the driver-provided parquet star schema (TESTDATA.md).
  *
  * Every accessor is a plain parquet scan so Catalyst keeps full pushdown:
  * filters and column pruning reach the scan (`PushedFilters`/`ReadSchema`
  * in `.explain`). No DATA is ever cached here — at 100 TB the tables
  * don't fit, and the scan-time pruning is what makes queries cheap. The
  * table SCHEMA is memoized per (path, mtime) (r18): schema inference is
  * a footer-reading driver job per open, and a bench session opens each
  * table hundreds of times — pure metadata, the same class of cache a
  * real deployment gets from its catalog instead of re-reading footers.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  /** Memo stamp: a digest of the LISTING (sorted child names + sizes +
    * mtimes), not the top-level mtime alone — content-only rewrites of
    * existing part files (or regeneration within the same mtime tick)
    * don't reliably bump the parent directory's mtime, and a stale
    * schema on a regenerated table would be silent (r19, ADVICE fix).
    * 0 = absent (never memoized). */
  private def stampOf(f: java.io.File): Long = {
    if (!f.exists()) return 0L
    if (f.isFile) {
      val s = f.lastModified() * 31L + f.length()
      if (s == 0L) 1L else s
    } else {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .sortBy(_.getName)
      val s = kids.foldLeft(f.lastModified()) { (h, k) =>
        ((h * 31L + k.getName.hashCode) * 31L + k.lastModified()) * 31L +
          k.length()
      }
      if (s == 0L) 1L else s
    }
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every query path enters through here: make sure the native graft_*
    // functions exist even on sessions not built by Sessions.tuned
    graft.expressions.GraftExtensions.ensureRegistered(spark)
    val path = s"$dir/$name.parquet"
    // listing-digest-keyed: a regenerated table re-infers, a static one
    // infers once (see stampOf)
    val stamp = stampOf(new java.io.File(path))
    val hit = schemaMemo.get(path)
    if (hit != null && hit._1 == stamp && stamp != 0L)
      spark.read.schema(hit._2).parquet(path)
    else {
      val df = spark.read.parquet(path)
      if (stamp != 0L) schemaMemo.put(path, (stamp, df.schema))
      df
    }
  }

  /** `events.parquet`'s physical `ts` type has drifted across driver data
    * generations (INT64 TIMESTAMP(NANOS,false) → INT64 TIMESTAMP_MICROS).
    * A real engine reads what the footer says, so we branch on the observed
    * Spark-visible type instead of hard-coding one generation's contract —
    * see [[normalizeEventTs]]. Relies on `nanosAsLong`, which
    * [[Sessions.tuned]] sets: it only affects NANOS-annotated columns (read
    * as raw longs instead of erroring) and is a no-op for every other
    * physical type.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(read(spark, dir, "events"))

  /** Canonicalize an events frame's `ts` to TimestampType (micros, UTC
    * instant) whatever the file's physical type surfaced as:
    *  - `LongType`: legacy TIMESTAMP(NANOS) read via `nanosAsLong` (or raw
    *    epoch-nanos longs). Integer floor-division to micros — double
    *    division loses precision above 2^53 (epoch-nanos ~1.6e18) and
    *    could shift event times by ±1µs; the integer floor matches the
    *    truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP, so
    *    results stay oracle-comparable.
    *  - `TimestampNTZType`: micros with isAdjustedToUTC=false (pyarrow's
    *    default). The session timezone is pinned UTC (Sessions.tuned), so
    *    the cast reinterprets the wall-clock as the same UTC instant.
    *  - `TimestampType`: already an instant; pass through.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — expected epoch-nanos long, " +
          "timestamp_ntz, or timestamp")
    }
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "documents")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "embeddings")

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
}
