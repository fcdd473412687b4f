package perfbench

import graft.operators.{Bpe, Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.SplittableRandom

/** Corpus preparation, one batch: a seeded corpus with planted exact and
  * near duplicates through `Dedup.minhashLsh`, a batched BPE vocabulary
  * learned over its words (`Bpe.mergesBatchedUnits`) and applied
  * (`Bpe.encodeBatches`, the batched form of `Bpe.encode`), and clustered
  * embeddings through `Similarity.trainCentroids` + `ivfTopK`.
  *
  * Checked per op: every planted duplicate pair is found, the encoding is
  * lossless (each document's symbols spell its words), and the IVF top-k
  * agrees with `bruteForceTopK` (computed once at setup) at recall >= 0.9. */
object CorpusOp {
  val Docs = 400
  val ExactDups = 30
  val NearDups = 30
  val WordsPerDoc = 40
  val Vocab = 1500
  val BpeBatches = 4
  val BpeBatchSize = 8
  val Vectors = 1500
  val Dim = 16
  val Clusters = 15
  val Queries = 30
  val K = 10
  val MinRecall = 0.9

  /** The seeded corpus: documents (doc_id, text), the planted duplicate
    * pairs, and the embeddings and queries (vec_id, embedding). */
  final case class Corpus(docs: Seq[(Long, String)], planted: Set[(Long, Long)],
      vectors: Seq[(Long, Seq[Double])], queries: Seq[(Long, Seq[Double])])

  def generate(seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed * 7919L + 17L)
    // words over a small alphabet, so BPE finds frequent pairs
    val alphabet = "etaoinshrdlucmfw"
    val vocab = Vector.fill(Vocab) {
      Seq.fill(3 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    // Zipf-ish word choice: the square of a uniform draw favours low ranks
    def word() = { val u = rnd.nextDouble(); vocab((u * u * Vocab).toInt) }
    val base = (1 to Docs).map(i => i.toLong -> Seq.fill(WordsPerDoc)(word()).mkString(" "))
    val exact = (1 to ExactDups).map { j =>
      val src = 1L + rnd.nextInt(Docs)
      (Docs + j).toLong -> base(src.toInt - 1)._2 -> src
    }
    // a near duplicate swaps two words: 3-shingle Jaccard stays above 0.7
    val near = (1 to NearDups).map { j =>
      val src = 1L + rnd.nextInt(Docs)
      val ws = base(src.toInt - 1)._2.split(" ")
      (0 until 2).foreach(_ => ws(rnd.nextInt(ws.length)) = word())
      (Docs + ExactDups + j).toLong -> ws.mkString(" ") -> src
    }
    val planted = (exact ++ near).map { case ((id, _), src) => (math.min(id, src), math.max(id, src)) }.toSet
    val centers = Vector.fill(Clusters)(unit(Vector.fill(Dim)(rnd.nextDouble() * 2 - 1)))
    // ids interleave the clusters, so the first `Clusters` ids seed k-means
    // with one vector of each
    def around(c: Int) = unit(centers(c).map(_ + (rnd.nextDouble() - 0.5) * 0.2))
    val vectors = (0 until Vectors).map(i => i.toLong -> around(i % Clusters))
    val queries = (0 until Queries).map(i => (1000000L + i) -> around(rnd.nextInt(Clusters)))
    Corpus(base ++ exact.map(_._1) ++ near.map(_._1), planted, vectors, queries)
  }

  private def unit(v: Vector[Double]): Vector[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** The corpus as frames, and the brute-force top-k truth. */
  final class Prepared(spark: SparkSession, val corpus: Corpus) {
    import spark.implicits._
    val docs: DataFrame = corpus.docs.toDF("doc_id", "text").cache()
    val vectors: DataFrame = corpus.vectors.toDF("vec_id", "embedding").cache()
    val queries: DataFrame = corpus.queries.toDF("vec_id", "embedding").cache()
    val truth: Set[(Long, Long)] = topK(Similarity.bruteForceTopK(vectors, queries, K))
    val text: Map[Long, String] = corpus.docs.toMap
  }

  def prepare(spark: SparkSession, seed: Long): Prepared = new Prepared(spark, generate(seed))

  private def topK(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Recall of the last op's checks, for the traced run. */
  @volatile var lastPlantedRecall = 0.0
  @volatile var lastTopKRecall = 0.0

  /** One corpus batch; returns its check. */
  def op(spark: SparkSession, tr: Trace, p: Prepared): () => Boolean = {
    val pairs = tr.span("Dedup") {
      Dedup.minhashLsh(p.docs).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val ledger = tr.span("Bpe.train") {
      Bpe.mergesBatchedUnits(p.docs.select(explode(split(col("text"), " ")).as("unit")),
        BpeBatches, BpeBatchSize).orderBy("merge_idx")
        .select("batch", "lhs", "rhs").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    }
    val batches = ledger.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.toSeq.map(m => (m._2, m._3)))
    val encoded = tr.span("Bpe.encode") {
      Bpe.encodeBatches(p.docs, batches).collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    }
    // trainCentroids runs its Lloyd steps eagerly and returns a local frame
    val centroids = tr.span("Similarity.train")(Similarity.trainCentroids(p.vectors, Clusters))
    val top = tr.span("Similarity.topk")(topK(Similarity.ivfTopK(p.vectors, p.queries, K, centroids)))
    () => {
      val plantedRecall = (p.corpus.planted intersect pairs).size.toDouble / p.corpus.planted.size
      val lossless = encoded.length == p.text.size &&
        encoded.forall { case (id, syms) => syms.mkString == p.text(id).replace(" ", "") }
      val recall = (top intersect p.truth).size.toDouble / p.truth.size
      lastPlantedRecall = plantedRecall
      lastTopKRecall = recall
      val ok = plantedRecall == 1.0 && lossless && ledger.nonEmpty && recall >= MinRecall
      if (!ok) throw new IllegalStateException(s"corpus: planted recall $plantedRecall, " +
        s"lossless $lossless, ${ledger.length} merges, top-$K recall $recall")
      ok
    }
  }

  /** The corpus layers of the traced ops. */
  def layerMetrics(folds: Seq[OpFold]): Seq[Metric] = Seq(
    Metric("Dedup.ms", Fold.layerMs(folds, "Dedup"), "ms"),
    Metric("Dedup.planted_recall", lastPlantedRecall, "ratio"),
    Metric("Bpe.train_ms", Fold.layerMs(folds, "Bpe.train"), "ms"),
    Metric("Bpe.encode_ms", Fold.layerMs(folds, "Bpe.encode"), "ms"),
    Metric("Bpe.jobs", Fold.layerSpark(folds, "Bpe.train")(_.jobs.toDouble) +
      Fold.layerSpark(folds, "Bpe.encode")(_.jobs.toDouble), "count"),
    Metric("Similarity.train_ms", Fold.layerMs(folds, "Similarity.train"), "ms"),
    Metric("Similarity.topk_ms", Fold.layerMs(folds, "Similarity.topk"), "ms"),
    Metric("Similarity.recall_at_k", lastTopKRecall, "ratio"))
}
