package graft

import org.apache.spark.sql.functions._
import graft.functions.LayoutFns

/** Z-order clustering: the curve value must be bit-exact (it is a sort
  * key — one wrong bit reorders the table), and the layout it induces
  * must actually deliver the multi-dimensional file-skipping it exists
  * for. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def reference(bits: Int, vs: Seq[Long]): Long = {
    val mask = (1L << bits) - 1
    var z = 0L
    for (j <- vs.indices; i <- 0 until bits)
      z |= (((vs(j) & mask) >> i) & 1L) << (i * vs.length + j)
    z
  }

  test("zvalue matches the bit-interleave reference on random and boundary " +
      "values, inside whole-stage codegen") {
    val rnd = new scala.util.Random(5)
    val rows = Seq((0L, 0L), (1023L, 1023L), (1L, 0L), (0L, 1L), (512L, 256L)) ++
      Seq.fill(300)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    // local-relation values exercise the interpreted path (the optimizer
    // folds a Project over LocalRelation eagerly)
    rows.toDF("x", "y")
      .select(col("x"), col("y"), LayoutFns.zvalue(10, col("x"), col("y")).as("z"))
      .collect().foreach { r =>
        assert(r.getLong(2) === reference(10, Seq(r.getLong(0), r.getLong(1))),
          s"(${r.getLong(0)}, ${r.getLong(1)})")
      }
    // a range-derived frame cannot be folded — this is the codegen path,
    // and the '*' prefix proves the expression stayed inside the span
    val planned = spark.range(2048).select(
      (col("id") % 1024).as("x"), ((col("id") * 37) % 1024).as("y"))
      .select(col("x"), col("y"), LayoutFns.zvalue(10, col("x"), col("y")).as("z"))
    assert(planned.queryExecution.executedPlan.toString.contains("*(1) Project"),
      "zvalue fell out of whole-stage codegen")
    planned.collect().foreach { r =>
      assert(r.getLong(2) === reference(10, Seq(r.getLong(0), r.getLong(1))))
    }
  }

  test("zvalue on non-nullable input (spark.range) and three dims; " +
      "interpreted eval agrees with codegen") {
    val df = spark.range(200).select(
      (col("id") % 16).as("a"), (col("id") % 7).as("b"), (col("id") % 3).as("c"))
    val got = df.select(col("a"), col("b"), col("c"),
      LayoutFns.zvalue(4, col("a"), col("b"), col("c")).as("z")).collect()
    got.foreach { r =>
      assert(r.getLong(3) ===
        reference(4, Seq(r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    // interpreted path (no codegen): eval the expression directly
    val e = graft.expressions.ZValueInterleave(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(13L),
      org.apache.spark.sql.catalyst.expressions.Literal(6L)), 4)
    assert(e.eval(null) === reference(4, Seq(13L, 6L)))
  }

  test("zvalue and hilbert generated code COMPILES with non-nullable " +
      "children (Janino, no interpreted fallback)") {
    // Whole-stage codegen silently falls back to interpreted eval when
    // Janino rejects the generated code, so a DataFrame-level value check
    // cannot catch a broken doGenCode. Compile a projection directly:
    // GenerateMutableProjection has no fallback and throws on any error.
    // Non-nullable BoundReferences are the regression case — ev.isNull is
    // always a fresh variable in Spark 4.x and must be declared even when
    // no child is nullable.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.LongType
    val nn = Seq(
      BoundReference(0, LongType, nullable = false),
      BoundReference(1, LongType, nullable = false))
    val exprs = Seq(
      graft.expressions.ZValueInterleave(nn, 10),
      graft.expressions.HilbertIndex(nn, 10))
    val proj = GenerateMutableProjection.generate(exprs)
    val row = proj(InternalRow(513L, 7L))
    assert(row.getLong(0) === reference(10, Seq(513L, 7L)))
    assert(row.getLong(1) ===
      graft.expressions.HilbertIndex.index(Array(513L, 7L), 10))
    // and the nullable-children variant still compiles + nulls propagate
    val nl = Seq(
      BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true))
    val projN = GenerateMutableProjection.generate(Seq(
      graft.expressions.ZValueInterleave(nl, 10),
      graft.expressions.HilbertIndex(nl, 10)))
    val rowN = projN(InternalRow(null, 7L))
    assert(rowN.isNullAt(0) && rowN.isNullAt(1))
  }

  test("zvalue: null dim → null; masking keeps out-of-range values inside " +
      "the curve; SQL registration works") {
    val df = Seq[(java.lang.Long, java.lang.Long)]((3L, null), (3L, 5L))
      .toDF("x", "y")
    val r = df.select(LayoutFns.zvalue(4, col("x"), col("y"))).collect()
    assert(r(0).isNullAt(0))
    assert(r(1).getLong(0) === reference(4, Seq(3L, 5L)))
    // value 0x1F masked to 4 bits = 0xF
    val m = Seq((31L, 0L)).toDF("x", "y")
      .select(LayoutFns.zvalue(4, col("x"), col("y"))).head().getLong(0)
    assert(m === reference(4, Seq(15L, 0L)))
    Seq((9L, 2L)).toDF("x", "y").createOrReplaceTempView("zv")
    assert(spark.sql("SELECT graft_zvalue(4, x, y) FROM zv").head().getLong(0)
      === reference(4, Seq(9L, 2L)))
  }

  test("zvalue rejects too-wide interleaves and non-integral columns") {
    val df = Seq((1L, "a")).toDF("x", "s")
    intercept[Exception] {
      df.select(LayoutFns.zvalue(40, col("x"), col("x"))).collect()
    }
    intercept[Exception] {
      df.select(LayoutFns.zvalue(8, col("x"), col("s"))).collect()
    }
  }

  test("z-order layout bounds EVERY dim's per-file envelope; a linear sort " +
      "only bounds its leading column") {
    // full 64×64 grid → 16 output files of 256 rows each
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    def envelopes(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val root = new java.io.File(testDir("graft-zorder"))
      try {
        df.write.mode("overwrite").parquet(root.toString)
        val files = root.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length >= 8, s"expected >=8 files, got ${files.length}")
        val spans = files.map { f =>
          val mm = spark.read.parquet(f.toString)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          (mm.getLong(1) - mm.getLong(0), mm.getLong(3) - mm.getLong(2))
        }
        (spans.map(_._1).sum, spans.map(_._2).sum)
      } finally {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
          f.delete(); ()
        }
        rm(root)
      }
    }
    val (linX, linY) = envelopes(
      grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x")))
    val (zX, zY) = envelopes(LayoutFns.zorderLayout(grid, 16, 6, col("x"), col("y")))
    // linear: x tightly bounded, y spans the full 0..63 range in every file
    assert(linY >= 16L * 60, s"linY=$linY")
    // z-order: BOTH dims bounded — total envelope at least 2× tighter on y,
    // and x stays far from the degenerate full-span layout
    assert(zY * 2 <= linY, s"zY=$zY linY=$linY")
    assert(zX <= linY / 2, s"zX=$zX")
  }

  test("hilbert index IS a Hilbert curve: a bijection onto [0, 2^(n*bits)) " +
      "whose consecutive indices are always grid-adjacent (unit steps — " +
      "the property Morton order lacks)") {
    import graft.expressions.HilbertIndex
    def walk(dims: Int, bits: Int): Unit = {
      val side = 1 << bits
      val total = 1L << (dims * bits)
      val cells = Seq.fill(dims)(0 until side)
        .foldLeft(Seq(Seq.empty[Int]))((acc, r) =>
          acc.flatMap(c => r.map(v => c :+ v)))
      val byIdx = cells.map { c =>
        HilbertIndex.index(c.map(_.toLong).toArray, bits) -> c
      }.sortBy(_._1)
      assert(byIdx.map(_._1) === (0L until total), s"d=$dims not a bijection")
      byIdx.sliding(2).foreach { case Seq((_, a), (_, b)) =>
        val dist = a.zip(b).map { case (u, v) => math.abs(u - v) }.sum
        assert(dist === 1, s"d=$dims jump between $a and $b")
      }
    }
    walk(2, 4) // 256 cells
    walk(3, 3) // 512 cells
    // Morton, for contrast, DOES jump: the same 2D walk has non-unit steps
    val mortonSteps = (for (x <- 0 until 16; y <- 0 until 16) yield {
      var z = 0L
      for (i <- 0 until 4) {
        z |= ((x.toLong >> i) & 1L) << (i * 2)
        z |= ((y.toLong >> i) & 1L) << (i * 2 + 1)
      }
      z -> (x, y)
    }).sortBy(_._1).map(_._2)
    val jumps = mortonSteps.sliding(2).count { case Seq((ax, ay), (bx, by)) =>
      math.abs(ax - bx) + math.abs(ay - by) > 1 }
    assert(jumps > 0, "sanity: Morton should jump where Hilbert does not")
  }

  test("graft_hilbert under codegen: matches the JVM reference, masks " +
      "out-of-range values, null dim → null, rejects bad arity/width") {
    import graft.expressions.HilbertIndex
    val rows = (for (x <- 0 until 32; y <- 0 until 32 if (x * 31 + y) % 7 == 0)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val got = rows.select(col("x"), col("y"),
      LayoutFns.hilbert(5, col("x"), col("y")).as("h"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, h) =>
      assert(h === HilbertIndex.index(Array(x, y), 5), s"($x,$y)") }
    // masking: values ≥ 2^bits wrap to their low bits, same as zvalue
    val masked = Seq((33L, 1L)).toDF("x", "y")
      .select(LayoutFns.hilbert(5, col("x"), col("y")).as("h"))
      .as[Long].head()
    assert(masked === HilbertIndex.index(Array(1L, 1L), 5))
    val nul = Seq((Some(1L), Option.empty[Long])).toDF("x", "y")
      .select(LayoutFns.hilbert(5, col("x"), col("y")).as("h"))
      .collect().head
    assert(nul.isNullAt(0))
    intercept[Exception] {
      Seq((1L, 2L)).toDF("x", "y")
        .select(LayoutFns.hilbert(40, col("x"), col("y"))).collect()
    }
    intercept[Exception] {
      Seq(Tuple1(1L)).toDF("x")
        .select(LayoutFns.hilbert(5, col("x"))).collect()
    }
  }

  test("hilbert layout bounds every dim's envelope at least as tightly " +
      "as z-order on the same grid") {
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    def envelopes(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val root = new java.io.File(testDir("graft-hilb"))
      try {
        df.write.mode("overwrite").parquet(root.toString)
        val files = root.listFiles().filter(_.getName.endsWith(".parquet"))
        val spans = files.map { f =>
          val mm = spark.read.parquet(f.toString)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          (mm.getLong(1) - mm.getLong(0), mm.getLong(3) - mm.getLong(2))
        }
        (spans.map(_._1).sum, spans.map(_._2).sum)
      } finally {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
          f.delete(); ()
        }
        rm(root)
      }
    }
    val (zX, zY) = envelopes(
      LayoutFns.zorderLayout(grid, 16, 6, col("x"), col("y")))
    // zorderLayout's tiling with the Hilbert index as the clustering key
    val (hX, hY) = envelopes(grid
      .withColumn("__h", LayoutFns.hilbert(6, col("x"), col("y")))
      .repartitionByRange(16, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h"))
    // unit-step locality: the Hilbert tiles' total envelope must not be
    // worse than Morton's on either dim (typically strictly better on
    // at least one — banked in BASELINE.md rather than over-pinned here)
    assert(hX <= zX, s"hX=$hX zX=$zX")
    assert(hY <= zY, s"hY=$hY zY=$zY")
  }
}
