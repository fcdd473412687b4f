package graft

/** Keeps the one per-gate inspector compiling and working: its report
  * must carry the formatted plan, the job timeline with its driver-gap
  * total, and the per-node runtime metrics of the executed plan. */
class ProfGateSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("ProfGate.report: formatted plan, job timeline with driver gaps, " +
    "per-node metrics") {
    val r = ProfGate.report(spark, "q1_agg", dir, reps = 1)
    val lines = r.linesIterator.toSeq
    assert(r.contains("[profgate] ===== q1_agg formatted plan ====="))
    assert(r.contains("== Physical Plan =="))
    assert(lines.exists(_.matches("""\[profgate\]\s+job\s+\d+\s.*""")), r)
    assert(lines.exists(
      _.matches("""\[profgate\] job time \S+ s, driver gaps \S+ s""")), r)
    val metrics = lines
      .dropWhile(!_.contains("===== q1_agg per-node runtime metrics ====="))
      .drop(1)
    assert(metrics.exists(_.matches("""\[profgate\]\s+\w+.*\s\w+=\d+.*""")), r)
  }
}
