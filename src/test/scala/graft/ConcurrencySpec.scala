package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Concurrent-query correctness (r14 verdict task 8): a production
  * engine runs many queries on ONE SparkSession at once, where
  * shared-state bugs hide — session-conf set/restore windows, temp-view
  * or UDF registration races, block-registry diffs that capture a
  * neighbor's checkpoints, shared memo tables. Every gate runs serially
  * in Verify/Bench, so none of that is exercised there.
  *
  * The first fixture is the most expensive BATCH gates of the current
  * bench (bench_full_r15: the r15 list includes four versioned-store
  * gates, so the atomic-manifest commit protocol runs under concurrency
  * too). The second mixes the three kinds of session-conf user: the BPE
  * induction gate (a `Sessions.withConf` scope per round), a StreamRunner
  * gate (a scoped state width per query) and the concurrently-trained
  * recall report (no scope, plans while the others hold theirs).
  * Each gate runs once serially, then the fixture runs simultaneously on
  * the shared session; every concurrent result must match its serial run
  * row-for-row. This spec is what drove two r15 fixes:
  * Sinks.overwritePartitions' session-conf flip became a per-write
  * option, and trainCentroids/decontaminateScoped's persistent-RDD
  * registry diffs became precise CheckpointUtil releases (the diff
  * would unpersist a CONCURRENT query's lineage-truncated checkpoint —
  * an unrecoverable missing-block failure).
  */
class ConcurrencySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // bench_full_r15's most expensive batch gates, cost-descending
  private val gates = Seq(
    "text_bpe_merges_large", "k23_versioned_compact", "sim_topk_ivfpq",
    "sim_ivfpq_append", "k19_schema_evolution", "k17_time_travel",
    "sim_topk_pq", "sim_ivf_rebuild", "text_bpe_batch_encode",
    "k18_vacuum", "k22_versioned_skipping", "a8_percentiles")

  /** Canonical row multiset: collected, stringified, sorted — gate
    * arithmetic is engine-exact (the oracle-hash contract), so identical
    * inputs must reproduce identical rows under any scheduling. */
  private def canon(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect().map(_.toString).sorted.toSeq
  }

  /** Serial rows of each gate, then the same gates all at once on one
    * session: every concurrent result must equal its serial run. */
  private def serialVsConcurrent(gates: Seq[String]): Unit = {
    assert(gates.forall(SparkEntry.queries.contains),
      s"stale gate list: ${gates.filterNot(SparkEntry.queries.contains)}")
    val serial = gates.map(g => g -> canon(g)).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(gates.size)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val concurrent = Await.result(
        Future.sequence(gates.map(g => Future(g -> canon(g)))),
        15.minutes).toMap
      for (g <- gates) {
        assert(concurrent(g).size === serial(g).size,
          s"gate $g changed row count under concurrency")
        assert(concurrent(g) === serial(g),
          s"gate $g diverged under concurrency")
      }
    } finally { pool.shutdown(); () }
  }

  test("the 12 most expensive batch gates return identical rows run " +
    "concurrently on one session vs serially") {
    serialVsConcurrent(gates)
  }

  test("scoped-conf gates (BPE induction, a StreamRunner gate) and the " +
    "threaded recall report return identical rows run concurrently, and " +
    "the session conf afterwards equals the conf before") {
    val before = spark.conf.getAll
    serialVsConcurrent(Seq("text_bpe_merges_large", "stream_t2_uv_dedup",
      "sim_recall_report"))
    assert(spark.conf.getAll === before)
  }
}
