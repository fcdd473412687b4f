package graft

import graft.operators.Versioned
import org.apache.spark.sql.functions._

/** The versioned store has ONE on-disk format: after every writer
  * operation, the committed manifest's parquet schema and its
  * `_manifest_schema.json` sidecar both equal [[Versioned.ManifestSchema]],
  * the version holds all three required sidecars, and the log holds
  * nothing but `m-*` manifest dirs, `v=N.ptr` commit pointers and
  * `_txns-*` rollups — every version commits by pointer, none as a
  * `v=N` directory. */
class VersionedFormatSpec extends SparkSpec {

  private val sidecars =
    Seq("_schema.json", "_manifest_schema.json", "_commit.json")

  /** The entries of `dir`'s log that are neither an `m-*` manifest dir,
    * a `v=N.ptr` pointer file nor a `_txns-*.tsv` rollup file. */
  private def strayLogEntries(dir: String): Seq[String] =
    Option(new java.io.File(s"$dir/_log").listFiles()).getOrElse(Array.empty)
      .filterNot(f =>
        (f.isDirectory && f.getName.startsWith("m-")) ||
          (f.isFile && f.getName.matches("v=\\d+\\.ptr")) ||
          (f.isFile && f.getName.matches("_txns-.*\\.tsv")))
      .map(_.getName).toSeq

  private def assertPinned(dir: String, v: Long, op: String): Unit = {
    val md = Versioned.manifestDir(dir, v)
    sidecars.foreach(n => assert(new java.io.File(md, n).isFile,
      s"$op: v=$v committed without $n"))
    val side = org.apache.spark.sql.types.DataType.fromJson(new String(
      java.nio.file.Files.readAllBytes(
        new java.io.File(md, "_manifest_schema.json").toPath),
      java.nio.charset.StandardCharsets.UTF_8))
    assert(side === Versioned.ManifestSchema, s"$op: v=$v sidecar schema")
    assert(spark.read.parquet(md).schema === Versioned.ManifestSchema,
      s"$op: v=$v manifest parquet columns")
    assert(new java.io.File(md).getName.startsWith("m-"),
      s"$op: v=$v resolves to $md, not an m-* manifest dir")
    assert(strayLogEntries(dir).isEmpty,
      s"$op: unexpected log entries ${strayLogEntries(dir)}")
  }

  // pointer commits are the compare-and-swap protocol, the store's only one
  test("every writer commits the one manifest schema and all three " +
    "sidecars (cas)") {
    val root = TmpDirs.shmRoot
    val dir = s"$root/graft-format-${System.nanoTime()}"
    val clone = s"$dir-clone"
    try {
      val base = spark.range(0, 240)
        .select(col("id").as("k"), (col("id") * 3).as("x"),
          pmod(col("id"), lit(16L)).as("y"), pmod(col("id"), lit(6L))
            .as("bucket"))
      def pin(op: String)(v: Long): Unit = assertPinned(dir, v, op)
      pin("init")(Versioned.init(spark, dir, "bucket", base,
        statsCol = Some("k")))
      pin("merge")(Versioned.merge(spark, dir, "bucket", "k",
        base.filter(col("bucket") === 1L && col("k") % 4 === 1)
          .withColumn("x", col("x") + 1).withColumn("op", lit("U"))))
      pin("merge (stats)")(Versioned.merge(spark, dir, "bucket", "k",
        base.filter(col("bucket") === 2L && col("k") % 4 === 2)
          .withColumn("x", col("x") + 1).withColumn("op", lit("U")),
        statsCol = Some("k")))
      pin("deleteKeysDv")(Versioned.deleteKeysDv(spark, dir, "bucket",
        "k", base.filter(col("k") % 7 === 0).select("k", "bucket")))
      pin("materializeDvs")(Versioned.materializeDvs(spark, dir, "bucket",
        statsCol = Some("k")))
      pin("compact")(Versioned.compact(spark, dir, "bucket",
        statsCol = Some("k"), maxGroupRows = 100L))
      pin("recluster")(Versioned.recluster(spark, dir, "bucket",
        Seq("k", "y"), bits = 8, tileBits = 2))
      pin("restore")(Versioned.restore(spark, dir, 2L))
      pin("renameColumn")(Versioned.renameColumn(spark, dir, "x", "x2"))
      pin("dropColumn")(Versioned.dropColumn(spark, dir, "y"))
      assert(Versioned.versions(dir) === (1L to 10L))
      assert(Versioned.shallowClone(spark, dir, clone) === 1L)
      assertPinned(clone, 1L, "shallowClone")
      // the clone answers the restored v2 snapshot: every key, once
      assert(Versioned.read(spark, clone)
        .agg(countDistinct("k"), count(lit(1))).head().toSeq ===
        Seq(240L, 240L))
      // the maintenance writers: an idempotent commit's txn fact, then a
      // vacuum that rolls it up into `_txns-*` and drops every manifest
      // below the retained one
      val up = base.filter(col("k") % 5 === 0).select(col("k"),
        (col("x") + 2).as("x2"), col("bucket"), lit("U").as("op"))
      val (v11, _) = Versioned.mergeIdempotent(spark, dir, "bucket", "k",
        up, "format-spec", 1L)
      pin("mergeIdempotent")(v11)
      pin("merge (retained)")(Versioned.merge(spark, dir, "bucket", "k", up))
      Versioned.vacuum(spark, dir, retainFrom = 12L)
      pin("vacuum")(12L)
      assert(Versioned.versions(dir) === Seq(12L))
      assert(new java.io.File(s"$dir/_log").list().count(_.startsWith("m-"))
        === 1, "vacuum must reclaim every dropped version's manifest dir")
      assert(Versioned.txnVersion(dir, "format-spec") === Some(1L))
      Versioned.recover(spark, dir)
      pin("recover")(12L)
    } finally { TmpDirs.rmTree(dir); TmpDirs.rmTree(clone) }
  }
}
