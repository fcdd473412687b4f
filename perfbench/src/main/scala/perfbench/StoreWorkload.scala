package perfbench

import graft.operators.Versioned
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.util.SplittableRandom

/** `store_corpus`: closed loop, one client. One op is one round of a
  * dim-table client, writes beside reads, followed by one corpus-prep batch
  * ([[CorpusOp]]); the two share a workload only to keep the benchmark's
  * run count down, and their layer spans keep them apart. The round: a
  * seeded changelog (updates, inserts, deletes; the key determines the
  * partition) committed as a `Versioned.merge` plus a
  * `Versioned.deleteKeysDv`, a `compact` of the files those commits left
  * (every round, so every round does the same work), then the reads the
  * reference's DimUtil and serving layer make: a `readPoints` key batch, a
  * `readAsOf` an earlier commit time, and `changes(fromV, toV)`. Every read
  * is checked against an in-memory model of the table at every version.
  * The table grows by 20 rows a round. */
object StoreWorkload extends Workload {
  val Rows0 = 20000
  val Parts = 16L
  val Updates = 60
  val Inserts = 30
  val Deletes = 10
  val LookupKeys = 40

  /** name, score per key; the partition is `id % Parts`. */
  type Model = Map[Long, (String, Long)]

  final class State(seed: Long) {
    val rnd = new SplittableRandom(seed * 31337L)
    var versions: Map[Long, Model] = Map.empty
    var latest = 0L
    var nextId = Rows0.toLong + 1
    def model: Model = versions(latest)
    def commit(v: Long, m: Model): Unit = { versions += v -> m; latest = v }
    def pick(m: Model, n: Int): Seq[Long] = {
      val keys = m.keysIterator.toIndexedSeq
      Seq.fill(n)(keys(rnd.nextInt(keys.size))).distinct
    }
  }

  /** The table's seeded first version. */
  def initial(st: State): Model =
    (1L to Rows0).map(i => i -> (s"user_$i", st.rnd.nextLong(1000000L))).toMap

  private def frame(spark: SparkSession, rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "score").withColumn("part", pmod(col("id"), lit(Parts)))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.dir("dim_user").getPath
    val st = new State(ctx.seed)
    val base = initial(st)
    Versioned.init(spark, dir, "part",
      frame(spark, base.toSeq.sortBy(_._1).map { case (k, (n, s)) => (k, n, s) }),
      statsCol = Some("id"))
    st.commit(1L, base)
    ctx.phase("store initialised")
    val corpus = CorpusOp.prepare(spark, ctx.seed)
    GmallGen.writeLines(new java.io.File(ctx.root, "corpus_truth.json"), Seq(
      corpus.corpus.planted.toSeq.sorted.map { case (a, b) => s"[$a, $b]" }.mkString("""{"planted": [""", ", ", "],"),
      corpus.truth.toSeq.sorted.map { case (q, n) => s"[$q, $n]" }.mkString(""""top_k": [""", ", ", "]}")))
    ctx.phase("corpus prepared")
    var filesScanned = 0L
    var lookups = 0L
    val tr = ctx.trace

    def round(i: Int): () => Boolean = {
      // the changelog, drawn from the model
      val m0 = st.model
      val upd = st.pick(m0, Updates).map(k => (k, s"user_${k}_r$i", st.rnd.nextLong(1000000L)))
      val ins = (0 until Inserts).map { _ =>
        st.nextId += 1; (st.nextId, s"user_${st.nextId}", st.rnd.nextLong(1000000L)) }
      val del = st.pick(m0, Deletes).filterNot(k => upd.exists(_._1 == k))
      val m1 = m0 ++ (upd ++ ins).map { case (k, n, s) => k -> (n, s) }
      val m2 = m1 -- del
      val v1 = tr.span("Versioned.merge") {
        Versioned.merge(spark, dir, "part", "id",
          frame(spark, upd ++ ins).withColumn("op", lit("U")), statsCol = Some("id"))
      }
      st.commit(v1, m1)
      val v2 = tr.span("Versioned.delete") {
        Versioned.deleteKeysDv(spark, dir, "part", "id",
          frame(spark, del.map(k => (k, "", 0L))).select("id", "part"))
      }
      st.commit(v2, m2)
      val v3 = tr.span("Versioned.compact")(Versioned.compact(spark, dir, "part", statsCol = Some("id")))
      st.commit(v3, m2)
      // reads: a DimUtil key batch (present and deleted keys), a time-travel
      // aggregate, and the change feed of the last two versions' span
      val keys = (st.pick(m2, LookupKeys - Deletes) ++ del).distinct
      val points = tr.span("Versioned.read_points") {
        val df = Versioned.readPoints(spark, dir, "id", keys)
        filesScanned += df.inputFiles.length
        lookups += 1
        df.select("id", "name", "score").collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
      }
      val asOfV = 1L + st.rnd.nextLong(st.latest)
      val asOf = tr.span("Versioned.read_as_of") {
        Versioned.readAsOf(spark, dir, Versioned.commitTime(dir, asOfV))
          .agg(count(lit(1)), coalesce(sum("score"), lit(0L))).head()
      }
      val fromV = math.max(1L, st.latest - 3)
      val feed = tr.span("Versioned.changes") {
        Versioned.changes(spark, dir, fromV, st.latest, "id").select("op", "id", "name", "score")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      }
      val latest = st.latest
      () => {
        val want = st.versions(latest)
        val pointsOk = points == keys.flatMap(k => want.get(k).map(k -> _)).toMap
        val am = st.versions(asOfV)
        val asOfOk = asOf.getLong(0) == am.size && asOf.getLong(1) == am.valuesIterator.map(_._2).sum
        val old = st.versions(fromV)
        val expFeed = (old.keySet ++ want.keySet).flatMap { k =>
          (old.get(k), want.get(k)) match {
            case (None, Some((n, s))) => Some(("I", k, n, s))
            case (Some((n, s)), None) => Some(("D", k, n, s))
            case (Some(a), Some(b)) if a != b => Some(("U", k, b._1, b._2))
            case _ => None
          }
        }
        val ok = pointsOk && asOfOk && feed == expFeed
        if (!ok) ctx.note("store_corpus", new IllegalStateException(
          s"round $i: points $pointsOk, asOf v$asOfV $asOfOk, changes v$fromV..v$latest ${feed == expFeed}"))
        ok
      }
    }

    def op(i: Int): () => Boolean = {
      val storeOk = round(i)
      val corpusOk = CorpusOp.op(spark, tr, corpus)
      () => storeOk() && corpusOk()
    }

    // one untimed warm-up op: a second one steadied the timed op's CPU
    // time (IQR over median 0.04 against 0.13, five seeds) but cost 10 s
    // of setup per run, which the benchmark's time budget cannot spare
    if (!ctx.timedOp("warmup", traced = false)(op(-1)).ok) sys.error("store_corpus warm-up failed")
    ctx.setupDone()
    ctx.closedLoop("op")(op)

    // the model's truth beside the table: rows and score sum per version
    GmallGen.writeLines(new File(ctx.root, "dim_user_truth.json"), st.versions.toSeq.sortBy(_._1).map {
      case (v, m) => s"""{"version": $v, "rows": ${m.size}, "score_sum": ${m.valuesIterator.map(_._2).sum}}"""
    })
    if (!ctx.traceRun) ctx.closedLoopMetrics("op")
    else {
      val folds = Fold(ctx.trace)
      val writes = Seq("Versioned.merge", "Versioned.delete", "Versioned.compact")
      val reads = Seq("Versioned.read_points", "Versioned.read_as_of", "Versioned.changes")
      def calls(s: String) = ctx.trace.spans.count(sp => sp.name == s && sp.endNs > 0).toDouble
      def perCall(s: String) = if (calls(s) == 0) 0.0 else Fold.layerMs(folds, s) * folds.size / calls(s)
      def jobsPer(ss: Seq[String]) = {
        val n = ss.map(calls).sum
        if (n == 0) 0.0 else ss.map(s => Fold.layerSpark(folds, s)(_.jobs.toDouble)).sum * folds.size / n
      }
      val live = Versioned.read(spark, dir).inputFiles
      val liveBytes = live.map(f => new File(new java.net.URI(f)).length).sum.toDouble
      val liveRows = st.model.size.toDouble
      val dataFiles = countParquet(new File(dir, "data"))
      val commits = st.versions.size - 1
      val userBytes = (Updates + Inserts + Deletes) * liveBytes / math.max(1.0, liveRows)
      ctx.layer ++= Seq(
        Metric("Versioned.merge_ms", perCall("Versioned.merge"), "ms"),
        Metric("Versioned.delete_ms", perCall("Versioned.delete"), "ms"),
        Metric("Versioned.compact_ms", perCall("Versioned.compact"), "ms"),
        Metric("Versioned.read_points_ms", perCall("Versioned.read_points"), "ms"),
        Metric("Versioned.read_as_of_ms", perCall("Versioned.read_as_of"), "ms"),
        Metric("Versioned.changes_ms", perCall("Versioned.changes"), "ms"),
        Metric("Versioned.jobs_per_write", jobsPer(writes), "count"),
        Metric("Versioned.jobs_per_read", jobsPer(reads), "count"),
        Metric("Versioned.files_scanned_per_lookup", if (lookups == 0) 0.0 else filesScanned.toDouble / lookups, "count"),
        Metric("Versioned.files_live", live.length.toDouble, "count"),
        Metric("Versioned.files_written_per_commit", dataFiles.toDouble / math.max(1, commits), "count"),
        Metric("Versioned.bytes_written_per_user_byte",
          if (folds.isEmpty) 0.0 else writes.map(s => Fold.layerSpark(folds, s)(_.outBytes.toDouble)).sum /
            math.max(1.0, userBytes), "ratio"))
      ctx.layer ++= CorpusOp.layerMetrics(folds)
      ctx.layer ++= Layers.common(ctx, folds, "op", userBytes)
    }
  }

  private def countParquet(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(countParquet).sum).getOrElse(0)
    else if (f.getName.endsWith(".parquet")) 1 else 0
}
