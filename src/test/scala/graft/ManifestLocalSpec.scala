package graft

import graft.operators.{ManifestLocal, Versioned}
import org.apache.spark.sql.functions._

/** The driver-local manifest reader — the store's only manifest reader
  * — must agree ROW-FOR-ROW with Spark's distributed parquet read of the
  * same manifest directory (the test reference) on plain, stats-carrying
  * (map + Bloom binary), dv-bearing, and post-evolution manifests, and
  * must fail loudly, naming the version, on a manifest it cannot
  * decode. */
class ManifestLocalSpec extends SparkSpec {
  import spark.implicits._

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  /** Canonicalize a Row for comparison (binary -> hex, seqs -> lists). */
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).toList
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => (canon(k), canon(x)) }.toMap
    case other => other
  }

  private def readSidecar(md: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(new String(
      java.nio.file.Files.readAllBytes(
        new java.io.File(md, "_manifest_schema.json").toPath),
      java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def assertAgree(dir: String, v: Long): Unit = {
    val md = Versioned.manifestDir(dir, v)
    val sch = readSidecar(md)
    val local = ManifestLocal.readRows(md, v, sch)
    val dist = spark.read.schema(sch).parquet(md).collect()
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(canon).toString
    assert(local.map(key).sorted === dist.toSeq.map(key).sorted,
      s"local vs distributed manifest rows diverge at v=$v")
    assert(local.length === dist.length)
  }

  test("driver-local manifest decode == distributed read: plain, stats " +
    "(map + bloom binary), dv arrays, schema evolution") {
    val dir = s"/tmp/graft-mlocal-${System.nanoTime()}"
    try {
      val base = spark.range(0, 400)
        .select(col("id").as("k"), (col("id") % 7).as("bucket"),
          (col("id") * 3).cast("long").as("x"))
      // v1: stats-carrying init (stats map on two columns)
      Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"),
        statsCols = Seq("x"))
      // v2: merge (carried rows ride createDataFrame; fresh rows ride
      // the distributed stats agg)
      val src = base.filter(col("k") % 50 === 0)
        .withColumn("x", col("x") + 1000000L).withColumn("op", lit("U"))
      Versioned.merge(spark, dir, "bucket", "k", src,
        statsCol = Some("k"), statsCols = Seq("x"))
      // v3: dv delete (manifest rows gain dv arrays)
      Versioned.deleteKeysDv(spark, dir, "bucket", "k",
        base.filter(col("k") % 97 === 0).select(col("k"), col("bucket")))
      // v4: rename evolution (sidecar schema with physical mapping)
      Versioned.renameColumn(spark, dir, "x", "x_renamed")
      val vs = Versioned.versions(dir)
      assert(vs === Seq(1L, 2L, 3L, 4L))
      vs.foreach(v => assertAgree(dir, v))
      // and the store still answers correctly through the local path
      val got = Versioned.read(spark, dir)
        .agg(count(lit(1)), sum(col("k"))).collect()(0)
      val want = base.filter(col("k") % 97 =!= 0)
        .agg(count(lit(1)), sum(col("k"))).collect()(0)
      assert(got === want)
    } finally rmTree(new java.io.File(dir))
  }

  test("point probe through the local manifest path prunes and answers " +
    "identically to a full-scan filter") {
    val dir = s"/tmp/graft-mlocal2-${System.nanoTime()}"
    try {
      val base = spark.range(0, 1000)
        .select(col("id").as("k"), (col("id") % 8).as("bucket"),
          col("id").cast("double").as("val"))
      Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"))
      val hit = Versioned.readPoint(spark, dir, "k", 321L).collect()
      assert(hit.length === 1 && hit(0).getLong(0) === 321L)
      val miss = Versioned.readPoint(spark, dir, "k", 10321L).collect()
      assert(miss.isEmpty)
    } finally rmTree(new java.io.File(dir))
  }

  private def rowKeys(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(r => r.toSeq.map(canon).toString).sorted

  /** A three-version stats + dv store, and the answers `read`,
    * `readPoint` and `changes` give on it. */
  private def buildStore(dir: String): Unit = {
    val base = spark.range(0, 400)
      .select(col("id").as("k"), (col("id") % 7).as("bucket"),
        (col("id") * 3).cast("long").as("x"))
    Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"))
    Versioned.merge(spark, dir, "bucket", "k",
      base.filter(col("k") % 50 === 0)
        .withColumn("x", col("x") + 1000000L).withColumn("op", lit("U")),
      statsCol = Some("k"))
    Versioned.deleteKeysDv(spark, dir, "bucket", "k",
      base.filter(col("k") % 97 === 0).select(col("k"), col("bucket")))
    ()
  }

  private def answers(dir: String): Map[String, Seq[String]] =
    (Versioned.versions(dir).flatMap { v =>
      Seq(s"read v$v" -> Versioned.read(spark, dir, v)) ++
        Seq(100L, 194L, 10321L).map(k =>
          s"readPoint $k v$v" -> Versioned.readPoint(spark, dir, "k", k, v))
    } ++ Seq((1L, 2L), (2L, 3L), (1L, 3L)).map { case (a, b) =>
      s"changes $a..$b" -> Versioned.changes(spark, dir, a, b, "k")
    }).map { case (label, df) => label -> rowKeys(df) }.toMap

  test("a missing _manifest_schema.json sidecar fails loudly, naming the " +
    "version") {
    val dir = s"/tmp/graft-mlocal3-${System.nanoTime()}"
    try {
      buildStore(dir)
      assert(Versioned.versions(dir) === Seq(1L, 2L, 3L))
      val before = answers(dir)
      // non-trivial answers: probes hit (194 until its v3 dv delete), the
      // feeds churn
      assert(before.size === 15)
      assert(before.filter(_._2.isEmpty).keySet === Set(
        "readPoint 10321 v1", "readPoint 10321 v2", "readPoint 10321 v3",
        "readPoint 194 v3"))
      val f = new java.io.File(Versioned.manifestDir(dir, 2L),
        "_manifest_schema.json")
      assert(f.delete(), "v=2 committed without a sidecar")
      // every reader of v2's manifest refuses, naming the file and v2 —
      // the local decoder never guesses a schema the commit did not pin
      def loud(body: => Any): Unit = {
        val e = intercept[IllegalStateException](body)
        assert(e.getMessage.contains("_manifest_schema.json") &&
          e.getMessage.contains("version 2 "), e.getMessage)
      }
      loud(Versioned.read(spark, dir, 2L))
      loud(Versioned.readPoint(spark, dir, "k", 100L, 2L))
      loud(Versioned.changes(spark, dir, 1L, 2L, "k"))
      loud(Versioned.changes(spark, dir, 2L, 3L, "k"))
      // the versions around it answer exactly as before
      val intact = before.filter { case (label, _) =>
        !label.endsWith(" v2") && !label.startsWith("changes") }
      assert(intact.size === 8)
      intact.foreach { case (label, rows) =>
        val v = label.split(" v").last.toLong
        val got =
          if (label.startsWith("read ")) Versioned.read(spark, dir, v)
          else Versioned.readPoint(spark, dir, "k",
            label.split(" ")(1).toLong, v)
        assert(rowKeys(got) === rows, label)
      }
    } finally rmTree(new java.io.File(dir))
  }

  test("a DateType manifest fails loudly, naming its version") {
    val dir = s"/tmp/graft-mlocal4-${System.nanoTime()}"
    val tmp = s"/tmp/graft-mlocal4-tmp-${System.nanoTime()}"
    try {
      buildStore(dir)
      val before = answers(dir)
      val v = Versioned.latest(dir)
      val md = Versioned.manifestDir(dir, v)
      val sch = readSidecar(md)
      val rows = spark.read.schema(sch).parquet(md)
      val nRows = rows.count()
      assert(nRows > 0)
      // rewrite the latest manifest with an extra DATE column, sidecar
      // included, as a future commit format might
      rows.withColumn("committed_on", lit(java.sql.Date.valueOf("2021-07-26")))
        .coalesce(1).write.parquet(tmp)
      val mdDir = new java.io.File(md)
      mdDir.listFiles().filter(_.getName.contains("part-")).foreach(_.delete())
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          new java.io.File(mdDir, f.getName).toPath))
      val sch2 = sch.add("committed_on",
        org.apache.spark.sql.types.DateType)
      java.nio.file.Files.write(
        new java.io.File(mdDir, "_manifest_schema.json").toPath,
        sch2.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(readSidecar(md) === sch2)
      // the rewritten manifest is valid parquet under its sidecar ...
      val dist = spark.read.schema(sch2).parquet(md)
      assert(dist.count() === nRows)
      assert(dist.filter(col("committed_on").isNull).count() === 0L)
      // ... but not a manifest this store wrote: every open of it
      // refuses, naming the directory and the version
      def loud(body: => Any): Unit = {
        val e = intercept[IllegalStateException](body)
        assert(e.getMessage.contains(md) &&
          e.getMessage.contains(s"version $v "), e.getMessage)
      }
      loud(ManifestLocal.readRows(md, v, sch2))
      loud(Versioned.read(spark, dir, v))
      loud(Versioned.changes(spark, dir, v - 1, v, "k"))
      // the versions below it answer exactly as before
      val intact = before.filter { case (label, _) =>
        !label.endsWith(s" v$v") && !label.startsWith("changes") }
      assert(intact.nonEmpty)
      intact.foreach { case (label, rows) =>
        val at = label.split(" v").last.toLong
        val got =
          if (label.startsWith("read ")) Versioned.read(spark, dir, at)
          else Versioned.readPoint(spark, dir, "k",
            label.split(" ")(1).toLong, at)
        assert(rowKeys(got) === rows, label)
      }
    } finally {
      rmTree(new java.io.File(dir))
      rmTree(new java.io.File(tmp))
    }
  }
}
