package graft

import org.apache.spark.sql.functions._
import graft.operators.JoinPlanner
import graft.operators.JoinPlanner.{Edge, Rel}

/** Stats-driven join ordering: the chosen order must follow the
  * Selinger estimate (smallest seed, cheapest connected expansion),
  * results must equal the plain join in any order, and a disconnected
  * graph must raise rather than go cartesian. */
class JoinPlannerSpec extends SparkSpec {
  import spark.implicits._

  private def mkRel(name: String, rows: Int, keyNdv: Int,
      cols: (String, String)): Rel = {
    val (k, v) = cols
    val df = (1 to rows).map(i => (i.toLong % keyNdv, s"$name$i")).toDF(k, v)
    Rel(name, df, rows.toLong, Map(k -> keyNdv.toLong))
  }

  test("greedy order: smallest table seeds, dimensions join before the fact") {
    val fact = (1 to 10000).map(i => (i.toLong % 100, i.toLong % 10))
      .toDF("fk1", "fk2")
    val rels = Seq(
      Rel("fact", fact, 10000L, Map("fk1" -> 100L, "fk2" -> 10L)),
      mkRel("dim_big", 100, 100, ("d1", "v1")),
      mkRel("dim_small", 10, 10, ("d2", "v2")))
    val edges = Seq(
      Edge("fact", "fk1", "dim_big", "d1"),
      Edge("fact", "fk2", "dim_small", "d2"))
    val planned = JoinPlanner.plan(rels, edges)
    // dim_small (10 rows) seeds; its only edge reaches the fact; dim_big
    // joins last — never fact-first
    assert(JoinPlanner.order(rels, edges) === Seq("dim_small", "fact", "dim_big"))
    assert(planned.count() === 10000L)
  }

  test("result equals the plain join whatever order was chosen") {
    val a = (1 to 500).map(i => (i.toLong % 40, i.toLong)).toDF("k1", "av")
    val b = (1 to 200).map(i => (i.toLong % 40, i.toLong % 20)).toDF("k1b", "k2")
    val c = (1 to 60).map(i => (i.toLong % 20, s"c$i")).toDF("k2c", "cv")
    val planned = JoinPlanner.plan(
      Seq(Rel("a", a, 500, Map("k1" -> 40L)),
        Rel("b", b, 200, Map("k1b" -> 40L, "k2" -> 20L)),
        Rel("c", c, 60, Map("k2c" -> 20L))),
      Seq(Edge("a", "k1", "b", "k1b"), Edge("b", "k2", "c", "k2c")))
      .select(col("av"), col("cv"))
    val plain = a.join(b, col("k1") === col("k1b"))
      .join(c, col("k2") === col("k2c"))
      .select(col("av"), col("cv"))
    assert(planned.collect().map(_.toString).sorted
      === plain.collect().map(_.toString).sorted)
  }

  test("disconnected join graph raises — a cartesian is never chosen") {
    val a = Seq((1L, "x")).toDF("ka", "va")
    val b = Seq((1L, "y")).toDF("kb", "vb")
    val e = intercept[IllegalArgumentException] {
      JoinPlanner.plan(
        Seq(Rel("a", a, 1, Map("ka" -> 1L)), Rel("b", b, 1, Map("kb" -> 1L))),
        Nil)
    }
    assert(e.getMessage.contains("disconnected"))
  }

  test("missing NDV stats for an edge column raise at plan time") {
    val a = Seq((1L, "x")).toDF("ka", "va")
    val b = Seq((1L, "y")).toDF("kb", "vb")
    intercept[IllegalArgumentException] {
      JoinPlanner.plan(
        Seq(Rel("a", a, 1, Map.empty), Rel("b", b, 1, Map("kb" -> 1L))),
        Seq(Edge("a", "ka", "b", "kb")))
    }
  }
}
