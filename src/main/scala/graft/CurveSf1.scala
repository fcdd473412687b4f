package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scaling-curvature spot check (VERDICT r9 task 3): time the six most
  * expensive bench gates at sf0.1 and at a 10× ("sf1-equivalent")
  * replication of it, and report sec + growth ratio per gate. ScaleGrowth
  * proves 1×→10× structure at tiny scale; this measures the BENCH gates
  * themselves at the next decade so super-linear curvature shows up as a
  * number, not a design argument.
  *
  * The 10× corpus is written with the RAW testdata schemas (events.ts
  * passes through in whatever physical type the fixture carries — the
  * schema-adaptive readers normalize either generation), so the
  * unmodified SparkEntry gate closures run on it: documents replicate
  * through ScaleGrowth's Caesar-family trick (pair graph = 10 disjoint
  * copies, no artificial mega-cluster); events and embeddings are
  * id-offset replicas (user state count ×10, same per-user series;
  * window count flat, rows per window ×10).
  *
  * Per-gate: plan-warmed at sf0.001, Bench-style hygiene between runs,
  * 2 trials per scale, min reported. Markdown table for SCALE.md on
  * stdout.
  */
object CurveSf1 {

  private val DefaultGates = Seq(
    "dedup_clusters", // runs first: carries the shared pair-scan memo
    "stream_a1_product_stats", "stream_a9_sliding_window",
    "stream_j7_interval_left", "stream_j1_interval_join", "stream_a4_sql")

  /** SPARK_GRAFT_CURVE_GATES=g1,g2 overrides the measured set (the
    * ScaleGrowth SCALE_ONLY idiom) — r13 runs the r12/r13 newcomers. */
  private def Gates: Seq[String] =
    sys.env.get("SPARK_GRAFT_CURVE_GATES")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(DefaultGates)

  private val Offset = 1000000000L
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Alphabet = Lower + Lower.toUpperCase
  private def rot(i: Int): String = {
    val k = i % 26
    Lower.drop(k) + Lower.take(k) +
      Lower.toUpperCase.drop(k) + Lower.toUpperCase.take(k)
  }

  /** Raw-schema 10× replication (cf. ScaleGrowth.synth, which writes the
    * CONVERTED events ts and therefore cannot feed the gate closures). */
  private def synthRaw(spark: SparkSession, sfDir: String, outDir: String,
      r: Int): Unit = {
    def raw(t: String): DataFrame =
      spark.read.option("pathGlobFilter", s"$t.parquet").parquet(sfDir)
    def replicate(df: DataFrame, build: Int => DataFrame): DataFrame =
      (0 until r).map(build).reduce(_ unionByName _)
    // the testdata layout is ONE FILE per table named <table>.parquet
    // (the gates read with pathGlobFilter) — write each replica set to a
    // scratch dir and move its single part file into place
    def writeAsFile(df: DataFrame, table: String): Unit = {
      val tmp = new java.io.File(s"$outDir/.build-$table")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(s"$outDir/$table.parquet")
      dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
      ()
    }
    val docs = raw("documents")
    writeAsFile(replicate(docs, i => docs.select(
        (col("doc_id") + lit(i * Offset)).as("doc_id"),
        translate(col("text"), Alphabet, rot(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))), "documents")
    val ev = raw("events")
    writeAsFile(replicate(ev, i => ev.select(
        (col("event_id") + lit(i * Offset)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * Offset)).as("user_id"),
        col("event_type"), col("value"), col("props"))), "events")
    val emb = raw("embeddings")
    writeAsFile(replicate(emb, i => emb.select(
        (col("vec_id") + lit(i * Offset)).as("vec_id"),
        col("embedding"), col("label"))), "embeddings")
    // id-offset orders replicas (k17_time_travel's fixture): payload
    // columns pass through, keys shift so replica buckets interleave
    val ord = raw("orders")
    writeAsFile(replicate(ord, i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * Offset))
        .withColumn("o_custkey", col("o_custkey") + lit(i * Offset))),
      "orders")
  }

  def main(args: Array[String]): Unit = {
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val spark = Sessions.tuned("local[32]", "32")
    // cache keyed on a fingerprint of the SOURCE fixtures: a driver-side
    // data regeneration must invalidate the synthesized corpus, or stale
    // pre-regeneration replicas would silently feed the curve
    val fp = Seq("events", "documents", "embeddings", "orders").map { t =>
      val f = new java.io.File(s"$sf01/$t.parquet")
      s"$t:${f.length()}:${f.lastModified()}"
    }.mkString("\n")
    val marker = new java.io.File(s"$out/.source-fingerprint")
    val fresh = marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == fp
    if (!fresh) {
      println(s"[curve] synthesizing 10x corpus at $out")
      new java.io.File(out).mkdirs()
      synthRaw(spark, sf01, out, r = 10)
      java.nio.file.Files.write(marker.toPath, fp.getBytes)
    }
    def reset(): Unit = {
      spark.catalog.listTables().collect()
        .filter(t => t.name.startsWith("graft_stream_") ||
          t.name.startsWith("docs_") || t.name.startsWith("ev_sql_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      // every trial pays the full pair scan — min() must compare two
      // complete runs, not a cold one against a memo hit
      SparkEntry.clearNgramPairsMemo()
      System.gc()
    }
    // plan warmup (untimed, tiny)
    Gates.foreach { g =>
      try Sessions.force(SparkEntry.queries(g)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
      reset()
    }
    def timeGate(g: String, dir: String): Double =
      (1 to 2).map { _ =>
        reset()
        val t0 = System.nanoTime()
        // force, not count: see Bench — count() times a pruned plan
        Sessions.force(SparkEntry.queries(g)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.min
    println("| gate | sf0.1 s | sf1 s | ratio |")
    println("|---|---|---|---|")
    Gates.foreach { g =>
      val a = timeGate(g, sf01)
      val b = timeGate(g, out)
      println(f"| $g | $a%.2f | $b%.2f | ${b / a}%.1f× |")
    }
    spark.stop()
  }
}
