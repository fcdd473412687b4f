package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** The generators are the benchmark's ground truth: the same seed must give
  * byte-identical inputs, and a tiny gmall day run through the whole chain
  * must reproduce the truth the generator computed. */
class GenSpec extends AnyFunSuite {

  private def bytesUnder(d: File): Map[String, Seq[Byte]] =
    Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) bytesUnder(f).map { case (k, v) => s"${f.getName}/$k" -> v }
      else Seq(f.getName -> Files.readAllBytes(f.toPath).toSeq)
    }.toMap

  test("the same seed gives byte-identical inputs; another seed does not") {
    def gen(seed: Long): (Map[String, Seq[Byte]], DayTruth) = {
      val d = Files.createTempDirectory("perfbench-gen").toFile
      val t = GmallGen.writeDay(new File(d, "log"), new File(d, "db"), seed, 1, 800)
      GmallGen.writeDimSnapshot(new File(d, "snapshot.json"), seed)
      (bytesUnder(d), t)
    }
    val (a, ta) = gen(7)
    val (b, tb) = gen(7)
    val (c, _) = gen(8)
    assert(a.nonEmpty && a == b && ta == tb)
    assert(a != c)
    def store(seed: Long) = {
      val st = new StoreWorkload.State(seed)
      val m = StoreWorkload.initial(st)
      (m, st.pick(m, 50))
    }
    assert(store(7) == store(7) && store(7) != store(8))
    val corpus = CorpusOp.generate(7)
    assert(corpus == CorpusOp.generate(7) && corpus != CorpusOp.generate(8))
    assert(corpus.planted.size == CorpusOp.ExactDups + CorpusOp.NearDups)
    assert(ta.dirty > 0 && ta.matchedDetails < ta.details && ta.gmvCents > 0)
  }

  test("a tiny gmall_chain day reproduces its ground truth, batch and streamed") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val d = Files.createTempDirectory("perfbench-chain").toFile
      val truth = GmallGen.writeDay(new File(d, "log"), new File(d, "db"), 11, 0, 600, files = 2)
      GmallGen.writeDimSnapshot(new File(d, "db/snapshot.json"), 11)
      val config = new File(d, "table_process.json")
      GmallGen.writeConfig(config)
      val feed = StreamReplay.feed(new File(d, "log"), new File(d, "stream"))
      val in = ChainWorkload.Inputs(new File(d, "log"), new File(d, "db"), config, truth, feed)
      val out = new File(d, "out")
      val gmv = ChainWorkload.pass(spark, new Trace(spark), in, out, new File(d, "dim"))
      assert(gmv.movePointRight(2).longValueExact() == truth.gmvCents)
      val vs = spark.read.parquet(new File(out, "ads/visitor_stats").getPath)
        .selectExpr("sum(pv_ct)", "sum(uv_ct)").head()
      assert(vs.getLong(0) == truth.pages && vs.getLong(1) == truth.uv)
      assert(feed.counts.nonEmpty)
      assert(StreamReplay.run(spark, feed, new File(d, "replay")) == feed.counts)
    } finally spark.stop()
  }
}
