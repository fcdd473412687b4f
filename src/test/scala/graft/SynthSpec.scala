package graft

import java.nio.file.{Files, Paths}

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** [[Synth.write]] at r = 3 over sf0.01: every table the gates read is
  * there, the copied ones untouched, the replicated ones exactly 3× in
  * rows and ids, and the document families disjoint, so the near-dup
  * pair graph is exactly 3 copies of the source graph. */
class SynthSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.01"
  private val copied =
    Seq("region", "nation", "customer", "supplier", "part", "lineitem")
  private val replicated = Seq("documents" -> "doc_id",
    "events" -> "event_id", "embeddings" -> "vec_id", "orders" -> "o_orderkey")

  private lazy val out = {
    val dir = testDir("graft-synth")
    Synth.write(spark, src, dir, r = 3)
    dir
  }

  private def read(dir: String, t: String) =
    spark.read.option("pathGlobFilter", s"$t.parquet").parquet(dir)

  test("all ten tables are written; the six copied ones byte for byte") {
    (copied ++ replicated.map(_._1)).foreach { t =>
      assert(Files.isRegularFile(Paths.get(out, s"$t.parquet")), t)
    }
    copied.foreach { t =>
      assert(Files.readAllBytes(Paths.get(out, s"$t.parquet")).sameElements(
        Files.readAllBytes(Paths.get(src, s"$t.parquet"))), t)
    }
  }

  test("documents, events, embeddings and orders hold 3x the rows and " +
      "3x the distinct ids") {
    replicated.foreach { case (t, id) =>
      def counts(dir: String) = read(dir, t)
        .agg(count(lit(1)), countDistinct(col(id))).head()
      val (a, b) = (counts(src), counts(out))
      assert(b.getLong(0) === 3 * a.getLong(0), s"$t rows")
      assert(b.getLong(1) === 3 * a.getLong(1), s"$t ids")
    }
  }

  test("the inverse rotation maps family 2's text back to the source") {
    val fam2 = read(out, "documents")
      .filter(col("doc_id") >= 2 * Synth.Offset &&
        col("doc_id") < 3 * Synth.Offset)
      .select((col("doc_id") - 2 * Synth.Offset).as("doc_id"),
        translate(col("text"), Synth.rot(2), Synth.Alphabet).as("text"))
    val source = read(src, "documents").select("doc_id", "text")
    assert(fam2.count() === source.count())
    assert(fam2.exceptAll(source).isEmpty)
  }

  test("near-dup pairs grow exactly 3x: the families are disjoint") {
    val one = Dedup.ngramJaccardPairs(Tables.documents(spark, src)).count()
    assert(one > 0L)
    assert(Dedup.ngramJaccardPairs(Tables.documents(spark, out)).count() ===
      3 * one)
  }

  test("r outside [1, 26] is rejected, naming r") {
    Seq(0, 27).foreach { r =>
      val e = intercept[IllegalArgumentException](
        Synth.write(spark, src, testDir("graft-synth-bad"), r))
      assert(e.getMessage.contains(s"r=$r"), e.getMessage)
    }
  }
}
