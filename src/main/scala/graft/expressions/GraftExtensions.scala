package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions. Install with
  * `.withExtensions(new GraftExtensions)` (Sessions.tuned does) or via
  * `spark.sql.extensions=graft.expressions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // Runs ahead of the built-in JoinSelection (extraPlanningStrategies
    // precede the built-ins in SparkPlanner.strategies).
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {

  /** Idempotently register the graft functions on an existing session —
    * the safety net for sessions not built via Sessions.tuned (e.g. a
    * harness that constructs its own SparkSession and calls SparkEntry
    * directly). */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, info, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    // Sessions built via withExtensions already carry the strategy; for a
    // harness-constructed session, experimental.extraStrategies is the
    // public runtime hook (consulted first by the planner).
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
  }
  private def one(name: String, f: Expression => Expression)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => f(args.head))

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))),
    ("graft_l2sq", new ExpressionInfo(classOf[L2Squared].getName, "graft_l2sq"),
      (args: Seq[Expression]) => L2Squared(args(0), args(1))),
    ("graft_dot", new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    one("graft_tokenize", Tokenize.apply),
    one("graft_run_pairs", RunPairs.apply),
    one("graft_nfc", NfcNormalize.apply),
    one("graft_text_profile", TextProfile.apply),
    one("graft_langid", LangId.apply),
    ("graft_minhash_bands_p", new ExpressionInfo(classOf[MinHashBandsPortable].getName, "graft_minhash_bands_p"),
      (args: Seq[Expression]) => MinHashBandsPortable(args(0),
        intArg(args, 1, "shingleLen"), intArg(args, 2, "numPerms"), intArg(args, 3, "bands"))),
    ("graft_simhash_p", new ExpressionInfo(classOf[SimHashPortable].getName, "graft_simhash_p"),
      (args: Seq[Expression]) => SimHashPortable(args(0), intArg(args, 1, "shingleLen"))),
    ("graft_shingles", new ExpressionInfo(classOf[ShingleArray].getName, "graft_shingles"),
      (args: Seq[Expression]) => ShingleArray(args(0), intArg(args, 1, "shingleLen"))),
    ("graft_span_hashes", new ExpressionInfo(classOf[SpanHashes].getName, "graft_span_hashes"),
      (args: Seq[Expression]) => SpanHashes(args(0), intArg(args, 1, "spanLen"))),
    ("graft_zvalue", new ExpressionInfo(classOf[ZValueInterleave].getName, "graft_zvalue"),
      (args: Seq[Expression]) => ZValueInterleave(args.tail, intArg(args, 0, "bits"))),
    ("graft_hilbert", new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert"),
      (args: Seq[Expression]) => HilbertIndex(args.tail, intArg(args, 0, "bits"))),
    ("graft_asof_on", new ExpressionInfo(classOf[graft.plans.AsOfOn].getName, "graft_asof_on"),
      (args: Seq[Expression]) =>
        graft.plans.AsOfOn(args(0), args(1), args(2), args(3))),
    ("graft_md5_mod", new ExpressionInfo(classOf[Md5Mod].getName, "graft_md5_mod"),
      (args: Seq[Expression]) => Md5Mod(args(0), longArg(args, 1, "modulus"))),
    ("graft_sorted_intersect", new ExpressionInfo(
      classOf[SortedLongIntersectCount].getName, "graft_sorted_intersect"),
      (args: Seq[Expression]) => SortedLongIntersectCount(args(0), args(1))),
    ("graft_wordpiece", new ExpressionInfo(
      classOf[WordPieceEncode].getName, "graft_wordpiece"),
      (args: Seq[Expression]) =>
        WordPieceEncode(args(0), stringArrayArg(args, 1, "vocab"))),
    ("graft_unigram", new ExpressionInfo(
      classOf[UnigramEncode].getName, "graft_unigram"),
      (args: Seq[Expression]) =>
        UnigramEncode(args(0), stringArrayArg(args, 1, "pieces"),
          longArrayArg(args, 2, "counts"))),
    ("graft_nearest_centroid", new ExpressionInfo(
      classOf[NearestCentroid].getName, "graft_nearest_centroid"),
      (args: Seq[Expression]) =>
        NearestCentroid(args(0), longArrayArg(args, 1, "ids"),
          doubleArrayArg(args, 2, "flatCents"), intArg(args, 3, "d"))),
    ("graft_top_centroids", new ExpressionInfo(
      classOf[TopCentroids].getName, "graft_top_centroids"),
      (args: Seq[Expression]) =>
        TopCentroids(args(0), longArrayArg(args, 1, "ids"),
          doubleArrayArg(args, 2, "flatCents"), intArg(args, 3, "d"),
          intArg(args, 4, "n"))),
    ("graft_pq_codes", new ExpressionInfo(
      classOf[PqCodes].getName, "graft_pq_codes"),
      (args: Seq[Expression]) =>
        PqCodes(args(0), longArrayArg(args, 1, "perSubIds"),
          doubleArrayArg(args, 2, "flatCodebooks"), intArg(args, 3, "k"),
          intArg(args, 4, "subDim"))),
    ("graft_nearest_code", new ExpressionInfo(
      classOf[NearestCode].getName, "graft_nearest_code"),
      (args: Seq[Expression]) =>
        NearestCode(args(0), args(1), longArrayArg(args, 2, "perSubIds"),
          doubleArrayArg(args, 3, "flatCodebooks"), intArg(args, 4, "k"),
          intArg(args, 5, "subDim"))),
    ("graft_merge_fold", new ExpressionInfo(
      classOf[MergeFold].getName, "graft_merge_fold"),
      (args: Seq[Expression]) => {
        // flat (lhs1, rhs1, lhs2, rhs2, ...) literal — plan-baked rules,
        // one layer
        val flat = stringArrayArg(args, 1, "rules")
        require(flat.length % 2 == 0 && flat.forall(_ != null),
          "graft_merge_fold: rules must be a flat non-null " +
            "(lhs, rhs, lhs, rhs, ...) array")
        MergeFold(args(0), Seq(flat.grouped(2).map(p => (p(0), p(1))).toSeq))
      }),
    ("graft_merge_pair_deltas", new ExpressionInfo(
      classOf[MergePairDeltas].getName, "graft_merge_pair_deltas"),
      (args: Seq[Expression]) => {
        // (syms, layersFlat, layerLens, batchFlat): every rule list is a
        // flat (lhs1, rhs1, lhs2, rhs2, ...) literal; layerLens carries
        // the RULE count of each deferred layer so layersFlat can be
        // resliced into the ordered layer stack
        def pairs(flat: Seq[String], what: String): Seq[(String, String)] = {
          require(flat.length % 2 == 0 && flat.forall(_ != null),
            s"graft_merge_pair_deltas: $what must be a flat non-null " +
              "(lhs, rhs, lhs, rhs, ...) array")
          flat.grouped(2).map(p => (p(0), p(1))).toSeq
        }
        val layersFlat = pairs(stringArrayArg(args, 1, "layersFlat"),
          "layersFlat")
        val lens = longArrayArg(args, 2, "layerLens").map(_.toInt)
        require(lens.sum == layersFlat.length && lens.forall(_ > 0),
          "graft_merge_pair_deltas: layerLens must partition layersFlat")
        val layers = lens.foldLeft((Seq.empty[Seq[(String, String)]], 0)) {
          case ((acc, off), len) =>
            (acc :+ layersFlat.slice(off, off + len), off + len)
        }._1
        MergePairDeltas(args(0), layers,
          pairs(stringArrayArg(args, 3, "batchFlat"), "batchFlat"))
      }))

  /** Extract a literal long parameter (int literals widen). */
  private def longArg(args: Seq[Expression], i: Int, name: String): Long = {
    require(args.length > i && args(i).foldable,
      s"argument $i ($name) must be a literal integer")
    args(i).eval(null) match {
      case n: Int => n.toLong
      case n: Long => n
      case other => throw new IllegalArgumentException(
        s"argument $i ($name) must be an integer literal, got $other")
    }
  }

  /** Extract a literal array<string> parameter (a plan-baked vocabulary):
    * the argument must fold to a constant — vocabularies are learned
    * BEFORE planning and embedded as literals, never a per-row column. */
  private def stringArrayArg(args: Seq[Expression], i: Int,
      name: String): Seq[String] = {
    require(args.length > i && args(i).foldable,
      s"argument $i ($name) must be a literal array<string>")
    args(i).eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType)
          .map(u => if (u == null) null else u.toString).toSeq
      case other => throw new IllegalArgumentException(
        s"argument $i ($name) must be an array<string> literal, got $other")
    }
  }

  /** Extract a literal array<long> parameter (int elements widen) — the
    * counts half of a plan-baked (piece, count) vocabulary. */
  private def longArrayArg(args: Seq[Expression], i: Int,
      name: String): Seq[Long] = {
    require(args.length > i && args(i).foldable,
      s"argument $i ($name) must be a literal array<bigint>")
    args(i).eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        args(i).dataType match {
          case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType, _) =>
            a.toLongArray().toSeq
          case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType, _) =>
            a.toIntArray().map(_.toLong).toSeq
          case other => throw new IllegalArgumentException(
            s"argument $i ($name) must be array<bigint>, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"argument $i ($name) must be an array<bigint> literal, got $other")
    }
  }

  /** Extract a literal array<double> parameter (float elements widen) —
    * a plan-baked centroid/codebook table, flattened. */
  private def doubleArrayArg(args: Seq[Expression], i: Int,
      name: String): Seq[Double] = {
    require(args.length > i && args(i).foldable,
      s"argument $i ($name) must be a literal array<double>")
    args(i).eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        args(i).dataType match {
          case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, _) =>
            a.toDoubleArray().toSeq
          case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType, _) =>
            a.toFloatArray().map(_.toDouble).toSeq
          case other => throw new IllegalArgumentException(
            s"argument $i ($name) must be array<double>, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"argument $i ($name) must be an array<double> literal, got $other")
    }
  }

  /** Extract a literal int parameter from a function call argument. */
  private def intArg(args: Seq[Expression], i: Int, name: String): Int = {
    require(args.length > i && args(i).foldable,
      s"argument $i ($name) must be a literal integer")
    args(i).eval(null) match {
      case n: Int => n
      case n: Long => n.toInt
      case other => throw new IllegalArgumentException(
        s"argument $i ($name) must be an integer literal, got $other")
    }
  }
}
