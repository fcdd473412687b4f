package graft.streaming

import graft.SparkSpec
import graft.operators.Versioned
import org.apache.spark.sql.functions._

/** The ChangeFeed cross-batch ordering guard (ADVICE r16): the file
  * source delivers commit pointers in modification-time order, which matches
  * commit order — except when two commits land in the same mtime tick
  * (or a clock skew inverts them). The consumer contract is interval
  * contiguity, so an inverted delivery must FAIL LOUDLY instead of
  * folding intervals out of order. This spec forges the inversion
  * directly: a 3-version store whose v=2 pointer is dated NEWER
  * than v=3's, so the tail delivers v3 first — the guard must kill the
  * query, not fold v3's delta before v2's. */
class ChangeFeedGuardSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val root = if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    s"$root/graft-spec-$tag-${System.nanoTime()}"
  }

  private def rm(p: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(go)
      f.delete(); ()
    }
    go(new java.io.File(p))
  }

  private def setMtime(f: java.io.File, t: Long): Unit = {
    java.nio.file.Files.setLastModifiedTime(f.toPath,
      java.nio.file.attribute.FileTime.fromMillis(t))
    ()
  }

  test("mtime-inverted manifest delivery fails loudly instead of " +
    "folding intervals out of order") {
    val dir = tmpDir("cdf-guard")
    val ckpt = tmpDir("cdf-guard-ck")
    try {
      val base = spark.range(0, 40)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      Versioned.merge(spark, dir, "bucket", "k",
        Seq((1L, 9001L, 1L, "U")).toDF("k", "v", "bucket", "op"))
      Versioned.merge(spark, dir, "bucket", "k",
        Seq((2L, 9002L, 2L, "U")).toDF("k", "v", "bucket", "op"))
      // forge the inversion: v=2's commit pointer NEWER than v=3's
      val now = System.currentTimeMillis()
      setMtime(new java.io.File(s"$dir/_log/v=3.ptr"), now - 120000L)
      setMtime(new java.io.File(s"$dir/_log/v=2.ptr"), now - 30000L)
      val folded = scala.collection.mutable.ArrayBuffer.empty[Long]
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        ChangeFeed.run(spark, dir, "k", ckpt, maxFilesPerTrigger = 1) {
          (_, _, toV, _) => folded += toV; ()
        }
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("out-of-order")),
        s"expected the ordering guard to fire: ${messages(e)}")
      // v3 folded first (delivery followed the forged mtimes), and the
      // guard refused v2 — nothing was applied out of order
      assert(folded.toSeq === Seq(3L),
        s"only the first (unchecked) batch may fold: $folded")
      // THE RESTART (the standard response to a streaming failure) must
      // NOT launder the inversion: the guard's mark is durable in the
      // checkpoint, so the redelivered v2 batch — which a fresh-run
      // in-memory guard would wave through as an unchecked first
      // batch — stays fatal until the log is repaired
      val e2 = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] {
        ChangeFeed.run(spark, dir, "k", ckpt, maxFilesPerTrigger = 1) {
          (_, _, toV, _) => folded += toV; ()
        }
      }
      assert(messages(e2).exists(_.contains("out-of-order")),
        s"restart must re-refuse the inverted interval: ${messages(e2)}")
      assert(folded.toSeq === Seq(3L),
        s"the restart must fold NOTHING out of order: $folded")
    } finally { rm(dir); rm(ckpt) }
  }

  test("an exact redelivery of the last folded interval (crash between " +
    "guard write and offset commit) is accepted on restart; the fresh " +
    "next interval then folds") {
    val dir = tmpDir("cdf-redeliver")
    val ckpt = tmpDir("cdf-redeliver-ck")
    try {
      val base = spark.range(0, 40)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      Versioned.merge(spark, dir, "bucket", "k",
        Seq((1L, 9001L, 1L, "U")).toDF("k", "v", "bucket", "op"))
      // lifecycle 1: fold v2, then die AFTER the guard sidecar write
      // but BEFORE the batch's offset commit (throw inside foreachBatch
      // after fold returns — ChangeFeed writes the sidecar right after
      // fold, so killing the query on the NEXT batch boundary is not
      // the window; instead replay the whole lifecycle: run once
      // normally, then forge the offset loss by deleting the commit log
      // entry is brittle — the honest equivalent is a second run whose
      // first batch IS the same interval, which the guard must accept)
      val folded = scala.collection.mutable.ArrayBuffer.empty[Long]
      ChangeFeed.run(spark, dir, "k", ckpt) { (_, _, toV, _) =>
        folded += toV; ()
      }
      assert(folded.toSeq === Seq(2L))
      // simulate the redelivery: a FRESH checkpoint (offsets lost) but
      // the SAME guard sidecar — the first batch re-delivers [2,2],
      // which equals the stored interval exactly and must fold again
      val ckpt2 = tmpDir("cdf-redeliver-ck2")
      java.nio.file.Files.copy(
        new java.io.File(ckpt, "_graft_cdf_hwm").toPath,
        new java.io.File({ new java.io.File(ckpt2).mkdirs(); ckpt2 },
          "_graft_cdf_hwm").toPath)
      ChangeFeed.run(spark, dir, "k", ckpt2) { (_, _, toV, _) =>
        folded += toV; ()
      }
      assert(folded.toSeq === Seq(2L, 2L),
        s"the exact redelivery must fold (caller dedups): $folded")
      // and a fresh commit afterwards folds as the next interval
      Versioned.merge(spark, dir, "bucket", "k",
        Seq((2L, 9002L, 2L, "U")).toDF("k", "v", "bucket", "op"))
      ChangeFeed.run(spark, dir, "k", ckpt2) { (_, _, toV, _) =>
        folded += toV; ()
      }
      assert(folded.toSeq === Seq(2L, 2L, 3L), s"got $folded")
      rm(ckpt2)
    } finally { rm(dir); rm(ckpt) }
  }
}
