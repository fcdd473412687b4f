package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stats-driven join ordering — the consumer side of [[Profile]]'s
  * statistics, i.e. a cost-based optimizer in miniature.
  *
  * Catalyst reorders joins when it has stats (CBO with ANALYZE data) or
  * at runtime via AQE sizes; a PIPELINE, though, often knows its tables
  * (row counts + join-key NDVs from a nightly [[Profile]] run) before
  * any query executes, and wants the order fixed deterministically from
  * those stats rather than re-discovered per run. This planner does the
  * textbook thing with the textbook estimate:
  *
  *   |A ⋈ B on k| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k))
  *
  * (uniformity + containment assumptions — exactly Selinger's). Greedy
  * left-deep ordering: start from the smallest-cardinality table, then
  * repeatedly join the table whose estimated result is smallest among
  * those connected to the current tree by some join edge. Disconnected
  * tables raise (a cartesian is never chosen silently). Join ORDER
  * changes cost, never results — inner equi-joins commute — so the
  * gate's oracle is the plain join and equality is the claim; the
  * chosen order itself is pinned by JoinPlannerSpec.
  *
  * The estimates ride the driver (a handful of longs from the stats
  * frame); the data-side plan is just the ordered chain of hash joins,
  * each of which Catalyst/AQE still executes with its own broadcast /
  * shuffle decision. At 100 TB this is the difference between starting
  * a 5-way chain from the fact table (every intermediate is fact-sized)
  * and starting from the selective dimension pair.
  */
object JoinPlanner {

  /** One table entering the planner: its frame, row count, and join-key
    * NDVs (from [[Profile.profile]]'s `n_rows`/`ndv` columns or any
    * other stats source). */
  case class Rel(name: String, df: DataFrame, rows: Long, ndv: Map[String, Long])

  /** An equi-join edge: `leftCol` on one table equals `rightCol` on
    * another (using-column join; both sides keep their column name). */
  case class Edge(a: String, aCol: String, b: String, bCol: String)

  private def estimate(rowsA: Long, ndvA: Long, rowsB: Long, ndvB: Long): Double =
    rowsA.toDouble * rowsB.toDouble / math.max(1L, math.max(ndvA, ndvB)).toDouble

  /** The join order [[plan]] builds (table names, build order) — a pure
    * function of the stats, so specs can pin the decision, not just the
    * result. */
  def order(rels: Seq[Rel], edges: Seq[Edge]): Seq[String] = {
    val (seed, steps) = greedy(rels, edges)
    seed.name +: steps.map(_._2.name)
  }

  def plan(rels: Seq[Rel], edges: Seq[Edge]): DataFrame = {
    val (seed, steps) = greedy(rels, edges)
    steps.foldLeft(seed.df) { case (tree, (edge, next)) =>
      tree.join(next.df, tree(edge.aCol) === next.df(edge.bCol))
    }
  }

  /** Greedy left-deep ordering: the seed relation, then each joined
    * relation with the edge that joins it (oriented tree side first). */
  private def greedy(rels: Seq[Rel],
      edges: Seq[Edge]): (Rel, Seq[(Edge, Rel)]) = {
    require(rels.nonEmpty, "plan needs at least one relation")
    val byName = rels.map(r => r.name -> r).toMap
    require(byName.size == rels.size, "duplicate relation names")
    edges.foreach { e =>
      require(byName.contains(e.a) && byName.contains(e.b),
        s"edge $e references an unknown relation")
      require(byName(e.a).ndv.contains(e.aCol) && byName(e.b).ndv.contains(e.bCol),
        s"edge $e needs NDV stats for both key columns")
    }
    // greedy left-deep: seed with the smallest table, grow by the
    // cheapest connected expansion
    val seed = rels.minBy(r => (r.rows, r.name))
    var joined = Set(seed.name)
    var treeRows = seed.rows.toDouble
    // NDVs of the current tree: a join key keeps min(ndv, treeRows)-ish;
    // we keep it simple and carry each base table's NDVs forward — the
    // planner only compares candidates, and the estimate error is shared
    var steps = Vector.empty[(Edge, Rel)]
    while (joined.size < rels.size) {
      val candidates = edges.flatMap { e =>
        if (joined.contains(e.a) && !joined.contains(e.b))
          Some((e, byName(e.b), byName(e.a).ndv(e.aCol), e.bCol))
        else if (joined.contains(e.b) && !joined.contains(e.a))
          Some((Edge(e.b, e.bCol, e.a, e.aCol), byName(e.a), byName(e.b).ndv(e.bCol), e.aCol))
        else None
      }
      require(candidates.nonEmpty,
        s"join graph is disconnected: ${rels.map(_.name).toSet -- joined} " +
          "unreachable — a cartesian is never chosen silently")
      val (edge, next, treeNdv, nextColName) = candidates.minBy {
        case (_, nxt, tNdv, nCol) =>
          (estimate(treeRows.toLong, tNdv, nxt.rows, nxt.ndv(nCol)), nxt.name)
      }
      treeRows = estimate(treeRows.toLong, treeNdv, next.rows, next.ndv(nextColName))
      joined += next.name
      steps :+= ((edge, next))
    }
    (seed, steps)
  }
}
