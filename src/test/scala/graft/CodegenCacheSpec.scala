package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The engine re-plans the same shapes over and over (every gmall pass,
  * every store/corpus round, every gate trial), so a shape compiled once
  * must stay compiled for the life of the JVM. Spark's default generated-
  * class cache holds 100 classes — far below one chain pass — and names
  * each whole-stage class after its stage id; `Sessions.tuned` lifts both.
  * Janino compiles are counted by `CodegenMetrics.METRIC_COMPILATION_TIME`
  * (one update per compile; a cache hit does not compile). */
class CodegenCacheSpec extends SparkSpec {

  /** Janino compiles done by `body`; a running streaming query would
    * compile on its own thread and pollute the count. */
  private def compilesDuring(body: => Unit): Long = {
    assert(spark.streams.active.isEmpty,
      "a streaming query leaked from an earlier suite")
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a working set larger than Spark's default cache compiles only once") {
    // the multiplier is inlined into the generated source, so every i is
    // its own class; 150 shapes overflow a 100-entry cache
    val n = 150
    def pass(): Unit = (1 to n).foreach { i =>
      assert(spark.range(4).selectExpr(s"id * $i AS x").collect()
        .map(_.getLong(0)).toSeq === Seq(0L, i.toLong, 2L * i, 3L * i))
    }
    val first = compilesDuring(pass())
    assert(first >= n, s"shapes were not distinct: $first compiles for $n shapes")
    assert(compilesDuring(pass()) === 0L)
  }

  test("a subtree planned under another whole-stage id reuses its class") {
    def target = spark.range(4).selectExpr("id * 7919 AS x")
    // under the union the target is the second whole-stage subtree, so it
    // is code-generated as stage 2; alone it is stage 1
    val under = spark.range(3).selectExpr("id + 104729 AS x").union(target)
    assert(under.collect().length === 7)
    val again = compilesDuring {
      assert(target.collect().map(_.getLong(0)).toSeq === Seq(0L, 7919L, 15838L, 23757L))
      ()
    }
    assert(again === 0L)
  }
}
