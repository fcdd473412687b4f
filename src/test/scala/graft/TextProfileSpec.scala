package graft

import graft.functions.TextFns
import org.apache.spark.sql.functions._

class TextProfileSpec extends SparkSpec {
  import spark.implicits._

  /** Mean token length in characters: the HOF reference for the
    * profile's `mean_tok_len` field. */
  private def meanTokenLen(c: org.apache.spark.sql.Column) =
    graft.functions.ExprUtil.bind(TextFns.tokensWs(c)) { t =>
      when(size(t) === 0, lit(0.0))
        .otherwise(aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
    }

  test("single-pass profile is bit-identical to the HOF metric chain") {
    val docs = Seq(
      "The quick brown fox, jumps over the lazy dog! It is a good day.",
      "short",
      "",
      "   ",
      "a b c " * 200,
      "!!!???...").toDF("text")
    val both = docs.select(
      call_function("graft_text_profile", col("text")).as("p"),
      TextFns.tokenCount(col("text")).cast("long").as("h_n"),
      meanTokenLen(col("text")).as("h_mean"),
      TextFns.stopwordRatio(TextFns.tokensWs(col("text"))).as("h_sw"),
      TextFns.punctRatio(col("text")).as("h_punct"),
      TextFns.qualityScore(col("text")).as("h_q")).collect()
    both.foreach { r =>
      val p = r.getStruct(0)
      assert(p.getLong(0) === r.getLong(1), "n_tokens")
      def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
      assert(bits(p.getDouble(1)) === bits(r.getDouble(2)), "mean_tok_len")
      assert(bits(p.getDouble(2)) === bits(r.getDouble(3)), "stopword_ratio")
      assert(bits(p.getDouble(3)) === bits(r.getDouble(4)), "punct_ratio")
      assert(bits(p.getDouble(4)) === bits(r.getDouble(5)), "quality")
    }
  }
}
