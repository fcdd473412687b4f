package graft

import graft.operators.Versioned
import org.apache.spark.sql.functions._

/** The versioned store has ONE on-disk format: after every writer
  * operation, under both commit protocols, the committed manifest's
  * parquet schema and its `_manifest_schema.json` sidecar both equal
  * [[Versioned.ManifestSchema]], and the version holds all three
  * required sidecars. */
class VersionedFormatSpec extends SparkSpec {

  private val sidecars =
    Seq("_schema.json", "_manifest_schema.json", "_commit.json")

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
  }

  for (protocol <- Seq("rename", "cas"))
    test(s"every writer commits the one manifest schema and all three " +
      s"sidecars ($protocol)") {
      val root = TmpDirs.shmRoot
      val dir = s"$root/graft-format-$protocol-${System.nanoTime()}"
      val clone = s"$dir-clone"
      try {
        val base = spark.range(0, 240)
          .select(col("id").as("k"), (col("id") * 3).as("x"),
            pmod(col("id"), lit(16L)).as("y"), pmod(col("id"), lit(6L))
              .as("bucket"))
        def pin(op: String)(v: Long): Unit = assertPinned(dir, v, op)
        pin("init")(Versioned.init(spark, dir, "bucket", base,
          statsCol = Some("k"), commitProtocol = protocol))
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
        pin("backfillStats")(Versioned.backfillStats(spark, dir, "bucket",
          Seq("k", "x")))
        pin("renameColumn")(Versioned.renameColumn(spark, dir, "x", "x2"))
        pin("dropColumn")(Versioned.dropColumn(spark, dir, "y"))
        assert(Versioned.versions(dir) === (1L to 11L))
        assert(Versioned.shallowClone(spark, dir, clone,
          commitProtocol = protocol) === 1L)
        assertPinned(clone, 1L, "shallowClone")
        assert(Versioned.casMode(dir) === (protocol == "cas"))
        assert(Versioned.casMode(clone) === (protocol == "cas"))
        // the clone answers the restored v2 snapshot: every key, once
        assert(Versioned.read(spark, clone)
          .agg(countDistinct("k"), count(lit(1))).head().toSeq ===
          Seq(240L, 240L))
      } finally { TmpDirs.rmTree(dir); TmpDirs.rmTree(clone) }
    }
}
