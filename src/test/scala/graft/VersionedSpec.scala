package graft

import graft.operators.Versioned
import org.apache.spark.sql.functions._

/** Structural contracts of the snapshot-versioned COW store that the
  * k17_time_travel oracle cannot see: carryover-by-reference (untouched
  * files appear in consecutive manifests as the SAME paths), write
  * amplification bounded to churned partitions, and vacuum deleting
  * exactly the unreferenced files while retained reads stay intact. */
class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val root = if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    s"$root/graft-spec-$tag-${System.nanoTime()}"
  }

  private def rm(p: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(go)
      f.delete(); ()
    }
    go(new java.io.File(p))
  }

  private def manifestFiles(dir: String, v: Long): Set[String] =
    spark.read.parquet(Versioned.manifestDir(dir, v))
      .select(col("file")).distinct().as[String].collect().toSet

  test("merge carries untouched files by reference and writes only the " +
    "churned partitions; every version stays readable and stable") {
    val dir = tmpDir("versioned")
    try {
      val base = spark.range(0, 400)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      assert(Versioned.init(spark, dir, "bucket", base) === 1L)
      // touch ONLY bucket 1: update evens, delete k%4==1 (i.e. all of
      // bucket 1's odd ids are k%4==1 by construction), insert +1000
      val src = base.filter(col("bucket") === 1 && col("k") % 8 === 1)
        .withColumn("v", col("v") + 5).withColumn("op", lit("U"))
        .unionByName(base.filter(col("bucket") === 1 && col("k") % 8 === 5)
          .withColumn("op", lit("D")))
        .unionByName(base.filter(col("bucket") === 1 && col("k") % 8 === 1)
          .withColumn("k", col("k") + 1000L).withColumn("op", lit("I")))
      assert(Versioned.merge(spark, dir, "bucket", "k", src) === 2L)
      val m1 = manifestFiles(dir, 1L)
      val m2 = manifestFiles(dir, 2L)
      // carryover BY REFERENCE: v2 reuses v1's untouched files verbatim
      val shared = m1 intersect m2
      assert(shared.nonEmpty, "no files carried between versions")
      assert((m2 -- m1).forall(_.contains("/data/v=2-")),
        "fresh v2 entries must come from v2's own (token-unique) write")
      // only bucket-1 files were replaced
      val replaced = m1 -- m2
      val partsOfReplaced = spark.read.parquet(Versioned.manifestDir(dir, 1L))
        .filter(col("file").isin(replaced.toSeq: _*))
        .select(col("part")).distinct().as[String].collect().toSet
      assert(partsOfReplaced === Set("1"),
        s"only bucket 1 may be rewritten, got $partsOfReplaced")
      // v1 read is the base, v2 read reflects the merge — both stable
      assert(Versioned.read(spark, dir, 1L).count() === 400L)
      val v2 = Versioned.read(spark, dir, 2L)
      assert(v2.filter(col("k") >= 1000L).count() === 50L) // inserts
      assert(v2.count() === 400L) // 50 deleted, 50 inserted
      // updates really landed: bucket-1 k%8==1 rows carry v = 10k+5
      assert(v2.filter(col("k") % 8 === 1 && col("k") < 1000L &&
        col("v") =!= col("k") * 10 + 5).count() === 0L)
      assert(Versioned.read(spark, dir).count() === v2.count()) // latest
    } finally rm(dir)
  }

  test("checkKeyMoves fails loudly when a source key already lives under " +
    "a different partition value, and passes when keys stay put") {
    val dir = tmpDir("keymove")
    try {
      val base = spark.range(0, 100)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      // k=5 lives under bucket 1; the source claims it under bucket 2 —
      // without the check the stale bucket-1 row would survive the merge
      val moving = Seq((5L, 999L, 2L, "U")).toDF("k", "v", "bucket", "op")
      val ex = intercept[IllegalArgumentException] {
        Versioned.merge(spark, dir, "bucket", "k", moving,
          checkKeyMoves = true)
      }
      assert(ex.getMessage.contains("DIFFERENT partition"), ex.getMessage)
      // and the silent failure mode it guards against is real: without
      // the check the merged snapshot carries k=5 twice
      val silent = Versioned.merge(spark, dir, "bucket", "k", moving)
      assert(Versioned.read(spark, dir, silent)
        .filter(col("k") === 5L).count() === 2L)
      // a partition-stable source passes the check
      val stable = Seq((6L, 999L, 2L, "U")).toDF("k", "v", "bucket", "op")
      val v3 = Versioned.merge(spark, dir, "bucket", "k", stable,
        checkKeyMoves = true)
      assert(Versioned.read(spark, dir, v3)
        .filter(col("k") === 6L).count() === 1L)
    } finally rm(dir)
  }

  test("vacuum deletes exactly the files no retained manifest references; " +
    "retained versions read unchanged, dropped versions are gone") {
    val dir = tmpDir("vacuum")
    try {
      val base = spark.range(0, 200)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      val src = base.filter(col("bucket") === 2)
        .withColumn("v", col("v") + 1).withColumn("op", lit("U"))
      Versioned.merge(spark, dir, "bucket", "k", src)
      val keepCount = Versioned.read(spark, dir, 2L).agg(sum(col("v")))
        .as[Long].head()
      val deleted = Versioned.vacuum(spark, dir, retainFrom = 2L)
      // exactly v1's replaced bucket-2 file(s) were orphaned
      assert(deleted >= 1)
      assert(Versioned.versions(dir) === Seq(2L))
      assert(Versioned.read(spark, dir, 2L).agg(sum(col("v")))
        .as[Long].head() === keepCount)
      intercept[IllegalArgumentException](Versioned.read(spark, dir, 1L))
      // idempotent: nothing left to reclaim
      assert(Versioned.vacuum(spark, dir, retainFrom = 2L) === 0)
    } finally rm(dir)
  }

  test("mergeSchema evolution: old versions keep their narrow schema, " +
    "carried files read NULL for the new column, a prio-less later " +
    "source NULLs it on replace, and no prior file is rewritten") {
    val dir = tmpDir("schevo")
    try {
      val base = spark.range(0, 40)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      def dataFiles(): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
              .toSeq.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(s"$dir/data"))
          .filter(f => f.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.length()).toMap
      }
      val f1 = dataFiles()
      // v2: bucket-1 keys upsert WITH a new string column `tag`
      val src2 = base.filter(col("bucket") === 1)
        .withColumn("tag", concat(lit("t"), col("k")))
        .withColumn("op", lit("U"))
      Versioned.merge(spark, dir, "bucket", "k", src2, mergeSchema = true)
      // v1 read: narrow schema, untouched
      val v1 = Versioned.read(spark, dir, 1L)
      assert(!v1.columns.contains("tag"))
      assert(v1.count() === 40L)
      // v2 read: widened; carried buckets NULL, merged bucket populated
      val v2 = Versioned.read(spark, dir, 2L)
      assert(v2.columns.contains("tag"))
      val tags = v2.groupBy(col("bucket"))
        .agg(count(col("tag")).as("ct")).as[(Long, Long)].collect().toMap
      assert(tags(1L) === 10L)
      assert(tags(0L) === 0L && tags(2L) === 0L && tags(3L) === 0L)
      // v3: a source WITHOUT tag updates two bucket-1 keys -> tag NULLs
      // on replace (its slice mixes nothing here, but the upsert side is
      // the schema-missing direction)
      val src3 = base.filter(col("bucket") === 1 && col("k") < 10)
        .withColumn("v", col("v") + 100).withColumn("op", lit("U"))
      Versioned.merge(spark, dir, "bucket", "k", src3, mergeSchema = true)
      val v3 = Versioned.read(spark, dir, 3L)
      val t3 = v3.filter(col("bucket") === 1)
        .select(col("k"), col("tag")).as[(Long, Option[String])]
        .collect().toMap
      assert(t3.filter(_._1 < 10).forall(_._2.isEmpty))
      assert(t3.filter(_._1 >= 10).forall(kv => kv._2.contains(s"t${kv._1}")))
      // append-only survives evolution
      val f3 = dataFiles()
      assert(f1.forall { case (p, n) => f3.get(p).contains(n) })
      // without the flag, an extra source column is still dropped (the
      // historical projection behavior), and a source MISSING a snapshot
      // column fails loudly instead of silently nulling
      val src4 = base.filter(col("bucket") === 2)
        .withColumn("tag", lit(null).cast("string"))
        .withColumn("extra", lit(1L)).withColumn("op", lit("U"))
      Versioned.merge(spark, dir, "bucket", "k", src4)
      assert(!Versioned.read(spark, dir, 4L).columns.contains("extra"))
      val srcMissing = base.filter(col("bucket") === 2)
        .withColumn("op", lit("U"))
      intercept[org.apache.spark.sql.AnalysisException](
        Versioned.merge(spark, dir, "bucket", "k", srcMissing))
    } finally rm(dir)
  }

  test("changes: I/U/D classification, null-valued updates carry the NEW " +
    "null, unchanged rewrites drop out, shared files are never read") {
    val dir = tmpDir("cdf")
    try {
      val base = spark.range(0, 40)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      // churn ONLY bucket 1: update k=1 (v -> null via evolution-free
      // trick: use a real value change), delete k=5, insert k=101;
      // k=9,13,...37 are rewritten UNCHANGED and must not appear
      val src = Seq((1L, 999L, 1L, "U"), (5L, 0L, 1L, "D"),
        (101L, 303L, 1L, "I")).toDF("k", "v", "bucket", "op")
      Versioned.merge(spark, dir, "bucket", "k", src)
      val d = Versioned.changes(spark, dir, 1L, 2L, "k")
      val rows = d.select(col("op"), col("k"), col("v"))
        .as[(String, Long, Option[Long])].collect().toSeq.sortBy(_._2)
      assert(rows === Seq(("U", 1L, Some(999L)), ("D", 5L, Some(15L)),
        ("I", 101L, Some(303L))))
      // pruning: only bucket-1 files (v1's retired + v2's fresh) are
      // scanned — no untouched bucket's file is an input
      val inputs = d.inputFiles.toSet
      assert(inputs.nonEmpty)
      val shared = manifestFiles(dir, 1L).intersect(manifestFiles(dir, 2L))
      assert(shared.nonEmpty) // 3 of 4 buckets are carried by reference
      assert(inputs.intersect(shared).isEmpty,
        s"changes read shared files: ${inputs.intersect(shared)}")
      // a NULL arriving in an update is the NEW value, not the old one
      val src2 = Seq((2L, Option.empty[Long], 2L, "U"))
        .toDF("k", "v", "bucket", "op")
      Versioned.merge(spark, dir, "bucket", "k", src2)
      val d2 = Versioned.changes(spark, dir, 2L, 3L, "k")
        .select(col("op"), col("k"), col("v"))
        .as[(String, Long, Option[Long])].collect().toSeq
      assert(d2 === Seq(("U", 2L, None)))
    } finally rm(dir)
  }

  test("changes: an all-deletes merge that retires EVERY file still " +
    "answers (empty toV manifest; schema from the committed sidecar)") {
    val dir = tmpDir("cdf-empty")
    try {
      val base = spark.range(0, 10)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          lit(0L).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      Versioned.merge(spark, dir, "bucket", "k",
        base.withColumn("op", lit("D")))
      assert(manifestFiles(dir, 2L).isEmpty, "v2 should reference no files")
      val d = Versioned.changes(spark, dir, 1L, 2L, "k")
        .select(col("op"), col("k")).as[(String, Long)].collect().toSeq
      assert(d.size === 10 && d.forall(_._1 == "D"))
      // and the other direction: resurrecting from empty is all inserts
      Versioned.merge(spark, dir, "bucket", "k",
        base.limit(3).withColumn("op", lit("I")))
      val d2 = Versioned.changes(spark, dir, 2L, 3L, "k")
        .select(col("op")).as[String].collect().toSeq
      assert(d2.size === 3 && d2.forall(_ == "I"))
    } finally rm(dir)
  }

  test("changesWithPreImages: updates fan into U_pre/U_post; signed " +
    "application reproduces the aggregate delta exactly") {
    val dir = tmpDir("cdf-pre")
    try {
      val base = spark.range(0, 40)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      val src = Seq((1L, 999L, 1L, "U"), (5L, 0L, 1L, "D"),
        (101L, 303L, 1L, "I")).toDF("k", "v", "bucket", "op")
      Versioned.merge(spark, dir, "bucket", "k", src)
      val d = Versioned.changesWithPreImages(spark, dir, 1L, 2L, "k")
        .select(col("op"), col("k"), col("v"))
        .as[(String, Long, Long)].collect().toSeq.sortBy(r => (r._2, r._1))
      assert(d === Seq(("U_post", 1L, 999L), ("U_pre", 1L, 3L),
        ("D", 5L, 15L), ("I", 101L, 303L)))
      // signed fold: sum(v) moves by exactly the signed delta
      val delta = d.map { case (op, _, v) =>
        if (op == "I" || op == "U_post") v else -v }.sum
      val s1 = Versioned.read(spark, dir, 1L).agg(sum("v")).as[Long].head()
      val s2 = Versioned.read(spark, dir, 2L).agg(sum("v")).as[Long].head()
      assert(s1 + delta === s2)
    } finally rm(dir)
  }

  test("stats manifests: readRange/readPoint prune files BEFORE the scan " +
    "and answer exactly like the full-scan filter") {
    val dir = tmpDir("skip")
    try {
      // range-correlated partitioning (16 contiguous key buckets) so
      // min/max envelopes are tight for ranges; point probes exercise
      // the Bloom tier regardless of layout
      val base = spark.range(0, 1600)
        .select(col("id").as("k"), (col("id") * 7).as("v"),
          (col("id") / 100).cast("long").as("bucket"))
      Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"))
      // churn two buckets so v2 mixes fresh and carried stats rows
      val src = base.filter(col("bucket").isin(3L, 11L) && col("k") % 5 === 0)
        .withColumn("v", col("v") + 1).withColumn("op", lit("U"))
      Versioned.merge(spark, dir, "bucket", "k", src, statsCol = Some("k"))
      for (v <- Seq(1L, 2L)) {
        val full = Versioned.read(spark, dir, v)
        val all = full.inputFiles.toSet
        val r = Versioned.readRange(spark, dir, "k", 250L, 449L, v)
        val rTruth = full.filter(col("k") >= 250 && col("k") <= 449)
        assert(r.inputFiles.toSet.subsetOf(all))
        assert(r.inputFiles.length === 3, // exactly buckets 2, 3, 4
          s"range read planned ${r.inputFiles.length} files at v=$v")
        assert(r.orderBy("k").collect().toSeq ===
          rTruth.orderBy("k").collect().toSeq)
        val p = Versioned.readPoint(spark, dir, "k", 777L, v)
        assert(p.inputFiles.length <= 2, "point read should prune to ~1 file")
        assert(p.collect().toSeq ===
          full.filter(col("k") === 777).collect().toSeq)
        // absent key: no false negatives required, pruning may even reach
        // zero files; the answer must be empty either way
        val miss = Versioned.readPoint(spark, dir, "k", 999999L, v)
        assert(miss.count() === 0L)
        assert(miss.inputFiles.length <= 1)
      }
      // stats IDENTITY: the manifest records which column its envelopes
      // describe — a probe on a DIFFERENT column must not prune with
      // them (that would silently drop true matches); it reads the full
      // file list and still answers exactly
      val fullV = Versioned.read(spark, dir, 2L)
      val pv = Versioned.readPoint(spark, dir, "v", 770L, 2L)
      assert(pv.inputFiles.length === fullV.inputFiles.length,
        "a probe on a non-stats column must fall back to the full file list")
      assert(pv.collect().toSeq ===
        fullV.filter(col("v") === 770L).collect().toSeq)
      // compaction packs by KEY ADJACENCY when stats exist, so the packed
      // files' envelopes stay contiguous and skipping survives: 16 files
      // of 100 keys pack into 4 bins of contiguous 400-key ranges
      val v3 = Versioned.compact(spark, dir, "bucket",
        statsCol = Some("k"), maxGroupRows = 400L)
      val full3 = Versioned.read(spark, dir, v3)
      val r3 = Versioned.readRange(spark, dir, "k", 250L, 449L, v3)
      assert(r3.inputFiles.length <= 2, // bins [0,399] and [400,799] only
        s"key-adjacent packing should keep range pruning tight, " +
          s"planned ${r3.inputFiles.length} of ${full3.inputFiles.length}")
      assert(r3.orderBy("k").collect().toSeq ===
        full3.filter(col("k") >= 250 && col("k") <= 449)
          .orderBy("k").collect().toSeq)
      val p3 = Versioned.readPoint(spark, dir, "k", 777L, v3)
      assert(p3.inputFiles.length === 1)
      assert(p3.count() === 1L)
    } finally rm(dir)
  }

  test("compact: packs small files into a committed version; prior " +
    "versions read byte-identically, later merges re-split packed files, " +
    "vacuum reclaims the fragments") {
    val dir = tmpDir("compact")
    try {
      val base = spark.range(0, 640)
        .select(col("id").as("k"), (col("id") * 7).as("v"),
          pmod(col("id"), lit(16L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"))
      val preRows = Versioned.read(spark, dir, 1L)
        .orderBy("k").collect().toSeq
      val m1 = manifestFiles(dir, 1L)
      assert(m1.size === 16)
      val v2 = Versioned.compact(spark, dir, "bucket",
        statsCol = Some("k"), maxGroupRows = 200L)
      assert(v2 === 2L)
      val m2 = manifestFiles(dir, 2L)
      assert(m2.size < m1.size, s"file count must drop: ${m2.size}")
      assert(Versioned.read(spark, dir, 2L).orderBy("k").collect().toSeq
        === preRows, "compaction must not change the answer")
      assert(Versioned.read(spark, dir, 1L).orderBy("k").collect().toSeq
        === preRows, "the pre-compact version must still read")
      // packed-file stats still prune point reads
      val p = Versioned.readPoint(spark, dir, "k", 333L, 2L)
      assert(p.count() === 1L && p.inputFiles.length < m2.size)
      // a merge touching a PACKED partition rewrites that whole file and
      // re-attributes every partition it served
      val src = Seq((3L, -1L, 3L, "U")).toDF("k", "v", "bucket", "op")
      val v3 = Versioned.merge(spark, dir, "bucket", "k", src,
        statsCol = Some("k"))
      val r3 = Versioned.read(spark, dir, v3)
      assert(r3.count() === 640)
      assert(r3.filter(col("k") === 3).select(col("v")).as[Long].head() === -1L)
      assert(Versioned.read(spark, dir, 2L).orderBy("k").collect().toSeq
        === preRows, "v2 unchanged after the post-compact merge")
      // vacuum to v2: the fragment files (v1-only) are reclaimed,
      // retained reads intact
      val deleted = Versioned.vacuum(spark, dir, retainFrom = 2L)
      assert(deleted >= 1)
      assert(Versioned.read(spark, dir, 2L).orderBy("k").collect().toSeq
        === preRows)
      intercept[IllegalArgumentException] {
        Versioned.read(spark, dir, 1L)
      }
    } finally rm(dir)
  }

  test("renameColumn/dropColumn: metadata-only commits — zero data files " +
    "move, each version answers in its OWN names, merges after a rename " +
    "keep writing the physical name") {
    val dir = tmpDir("rename")
    def dataFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
            .toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$dir/data"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.length()).toMap
    }
    try {
      val base = spark.range(0, 200)
        .select(col("id").as("k"), (col("id") * 3).as("price"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      val before = dataFiles()
      val v2 = Versioned.renameColumn(spark, dir, "price", "amount")
      assert(v2 === 2L)
      assert(dataFiles() === before, "a rename must move zero data bytes")
      assert(Versioned.read(spark, dir, 1L).columns.toSeq
        === Seq("k", "price", "bucket"))
      assert(Versioned.read(spark, dir, 2L).columns.toSeq
        === Seq("k", "amount", "bucket"))
      assert(Versioned.read(spark, dir, 2L).agg(sum("amount")).as[Long].head()
        === base.agg(sum("price")).as[Long].head())
      // merge AFTER the rename: source speaks the new logical name; the
      // fresh files keep the PHYSICAL name on disk
      val src = Seq((1L, 999L, 1L, "U"), (1001L, 5L, 1L, "I"))
        .toDF("k", "amount", "bucket", "op")
      val v3 = Versioned.merge(spark, dir, "bucket", "k", src)
      val r3 = Versioned.read(spark, dir, v3)
      assert(r3.columns.toSeq === Seq("k", "amount", "bucket"))
      assert(r3.filter(col("k") === 1).select(col("amount"))
        .as[Long].head() === 999L)
      assert(r3.count() === 201)
      val freshFile = (manifestFiles(dir, 3L) -- manifestFiles(dir, 2L)).head
      val raw = spark.read.parquet(
        new org.apache.hadoop.fs.Path(new java.net.URI(freshFile)).toString)
      assert(raw.columns.contains("price") && !raw.columns.contains("amount"),
        s"fresh files must keep the physical name: ${raw.columns.toSeq}")
      // changes across the rename answer in toV's names
      val d = Versioned.changesWithPreImages(spark, dir, 2L, 3L, "k")
      assert(d.columns.contains("amount"))
      assert(d.count() === 3) // U_pre + U_post + I
      // drop: metadata-only; old versions keep the column
      val preDrop = dataFiles()
      val v4 = Versioned.dropColumn(spark, dir, "amount")
      assert(dataFiles() === preDrop)
      assert(Versioned.read(spark, dir, v4).columns.toSeq === Seq("k", "bucket"))
      assert(Versioned.read(spark, dir, 3L).columns.toSeq
        === Seq("k", "amount", "bucket"))
      // a merge after the drop writes files WITHOUT the dropped column
      val src2 = Seq((2L, 2L, "U")).toDF("k", "bucket", "op")
      val v5 = Versioned.merge(spark, dir, "bucket", "k", src2)
      assert(Versioned.read(spark, dir, v5).columns.toSeq === Seq("k", "bucket"))
      assert(Versioned.read(spark, dir, v5).count() === 201)
    } finally rm(dir)
  }

  test("readAsOf: timestamp time travel resolves to the version current " +
    "at the asked instant; pre-history asks fail loudly") {
    val dir = tmpDir("asof-ts")
    try {
      val base = spark.range(0, 50)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      val before = System.currentTimeMillis() - 1
      Versioned.init(spark, dir, "bucket", base)
      Thread.sleep(5)
      val betweenV1V2 = System.currentTimeMillis()
      Thread.sleep(5)
      Versioned.merge(spark, dir, "bucket", "k",
        Seq((1L, 9111L, 1L, "U")).toDF("k", "v", "bucket", "op"))
      val afterV2 = System.currentTimeMillis()
      // between the commits: v1 is what was current
      assert(Versioned.readAsOf(spark, dir, betweenV1V2)
        .filter(col("v") === 9111L).count() === 0L)
      // after the merge: v2
      assert(Versioned.readAsOf(spark, dir, afterV2)
        .filter(col("v") === 9111L).count() === 1L)
      // commit times are monotone and the resolver matches version reads
      assert(Versioned.commitTime(dir, 1L) < Versioned.commitTime(dir, 2L))
      // before history: loud failure, not an empty frame
      intercept[IllegalArgumentException] {
        Versioned.readAsOf(spark, dir, before)
      }
    } finally rm(dir)
  }

  test("mergeRetry: four contended writers all land — every retry " +
    "re-derives against the new latest, no update lost, versions distinct") {
    val dir = tmpDir("occ-retry")
    try {
      val base = spark.range(0, 80)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      import scala.concurrent._
      import scala.concurrent.duration._
      import ExecutionContext.Implicits.global
      val gate = new java.util.concurrent.CountDownLatch(1)
      val writers = (0 until 4).map { i =>
        val src = Seq((i.toLong, 7000L + i, i.toLong, "U"))
          .toDF("k", "v", "bucket", "op")
        Future { gate.await()
          Versioned.mergeRetry(spark, dir, "bucket", "k", src,
            maxAttempts = 12) }
      }
      gate.countDown()
      val versions = Await.result(Future.sequence(writers), 10.minutes)
      assert(versions.sorted === Seq(2L, 3L, 4L, 5L),
        s"4 contended writers must land 4 distinct versions: $versions")
      val latest = Versioned.read(spark, dir)
      assert(latest.count() === 80)
      assert(latest.filter(col("v") >= 7000L).count() === 4L,
        "every contended update must survive the retries")
    } finally rm(dir)
  }

  test("deletion vectors: deleteKeysDv commits tombstones, not rewrites — " +
    "reads exclude the keys, time travel keeps them, rewrites materialize") {
    val dir = tmpDir("dv")
    try {
      val base = spark.range(0, 800)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          (col("id") / 100).cast("long").as("bucket"))
      Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"))
      val files1 = manifestFiles(dir, 1L)
      // DV-delete 3 keys in bucket 2 and 1 in bucket 7
      val v2 = Versioned.deleteKeysDv(spark, dir, "bucket", "k",
        Seq((201L, 2L), (217L, 2L), (233L, 2L), (707L, 7L))
          .toDF("k", "bucket"))
      assert(v2 === 2L)
      // ZERO data movement: v2 references exactly v1's files
      assert(manifestFiles(dir, 2L) === files1,
        "a DV delete must not move or rewrite any data file")
      val r2 = Versioned.read(spark, dir, 2L)
      assert(r2.count() === 796L)
      assert(r2.filter(col("k").isin(201L, 217L, 233L, 707L)).count() === 0L)
      // time travel: v1 still answers WITH the rows
      assert(Versioned.read(spark, dir, 1L).count() === 800L)
      // the Bloom would say "maybe" for a deleted key — the DV must win
      assert(Versioned.readPoint(spark, dir, "k", 217L, 2L).count() === 0L)
      assert(Versioned.readPoint(spark, dir, "k", 217L, 1L).count() === 1L)
      assert(Versioned.readRange(spark, dir, "k", 200L, 240L, 2L)
        .count() === 38L) // 41 keys minus 201/217/233
      // CDF: the DV interval emits EXACTLY the tombstoned keys as D
      val d = Versioned.changes(spark, dir, 1L, 2L, "k")
      assert(d.count() === 4L)
      assert(d.filter(col("op") =!= "D").count() === 0L)
      assert(d.select(col("k")).orderBy(col("k")).collect().map(_.getLong(0))
        .toSeq === Seq(201L, 217L, 233L, 707L))
      // second DV delete on the SAME file: dv arrays append
      val v3 = Versioned.deleteKeysDv(spark, dir, "bucket", "k",
        Seq((255L, 2L)).toDF("k", "bucket"))
      assert(Versioned.read(spark, dir, v3).count() === 795L)
      assert(Versioned.changes(spark, dir, 2L, 3L, "k").count() === 1L)
      // a merge touching bucket 2 MATERIALIZES its DVs: deleted keys stay
      // gone, fresh files carry no dv, untouched bucket 7 keeps its dv
      val v4 = Versioned.merge(spark, dir, "bucket", "k",
        Seq((202L, 99999L, 2L, "U")).toDF("k", "v", "bucket", "op"),
        statsCol = Some("k"))
      val r4 = Versioned.read(spark, dir, v4)
      assert(r4.count() === 795L)
      assert(r4.filter(col("k").isin(201L, 217L, 233L, 255L, 707L))
        .count() === 0L)
      assert(r4.filter(col("v") === 99999L).count() === 1L)
      // compact materializes the rest (bucket 7's dv)
      val v5 = Versioned.compact(spark, dir, "bucket",
        statsCol = Some("k"), maxGroupRows = 400L)
      val r5 = Versioned.read(spark, dir, v5)
      assert(r5.count() === 795L)
      assert(r5.filter(col("k") === 707L).count() === 0L)
      val m5 = spark.read.parquet(Versioned.manifestDir(dir, v5))
      assert(m5.filter(col("dv").isNotNull).count() === 0L,
        "a full compact must materialize every deletion vector away")
      // vacuum to the materialized version: dv dirs are all unreferenced
      // now and must be reclaimed; the retained read is unchanged
      Versioned.vacuum(spark, dir, retainFrom = v5)
      val dvRoot = new java.io.File(s"$dir/dv")
      assert(!dvRoot.exists() ||
        Option(dvRoot.listFiles()).getOrElse(Array.empty).isEmpty,
        "vacuum must reclaim tombstone dirs no retained manifest references")
      assert(Versioned.read(spark, dir, v5).count() === 795L)
    } finally rm(dir)
  }

  test("materializeDvs: threshold-driven rewrite of tombstone-heavy files " +
    "only — light files keep their DVs, dead files vanish, reads are " +
    "identical, re-sweep is a no-op") {
    val dir = tmpDir("dvmat")
    try {
      val base = spark.range(0, 800)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          (col("id") / 100).cast("long").as("bucket"))
      Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"))
      // a store with no dv column at all: structurally a no-op (no commit)
      assert(Versioned.materializeDvs(spark, dir, "bucket",
        statsCol = Some("k")) === 1L)
      // bucket 5 fully tombstoned; bucket 2 at 3%, bucket 7 at 1%
      Versioned.deleteKeysDv(spark, dir, "bucket", "k",
        base.filter(col("bucket") === 5).select(col("k"), col("bucket")))
      val v3 = Versioned.deleteKeysDv(spark, dir, "bucket", "k",
        Seq((201L, 2L), (217L, 2L), (233L, 2L), (707L, 7L))
          .toDF("k", "bucket"))
      val before = Versioned.read(spark, dir, v3)
        .orderBy(col("k")).collect().toSeq
      val files3 = manifestFiles(dir, v3)
      // threshold 0.1: only bucket 5 (fraction 1.0) qualifies
      val v4 = Versioned.materializeDvs(spark, dir, "bucket",
        threshold = 0.1, statsCol = Some("k"))
      assert(v4 === v3 + 1)
      val m4 = spark.read.parquet(Versioned.manifestDir(dir, v4))
      // fully-tombstoned bucket 5 writes no fresh file — it just vanishes
      assert(m4.filter(col("part") === "5").count() === 0L,
        "a fully-tombstoned file must disappear from the new manifest")
      assert(manifestFiles(dir, v4).subsetOf(files3),
        "materializing a fully-dead file must not write any fresh file")
      // light files carried verbatim, still answering through their DVs
      assert(m4.filter(size(col("dv")) > 0).count() >= 2L,
        "files under the threshold must keep their deletion vectors")
      assert(Versioned.read(spark, dir, v4).orderBy(col("k"))
        .collect().toSeq === before,
        "read-after-materialize must equal read-with-DVs")
      // time travel: the pre-materialize version still answers via DVs
      assert(Versioned.read(spark, dir, v3).count() === 696L)
      assert(Versioned.read(spark, dir, 1L).count() === 800L)
      // threshold 0: every remaining DV'd file rewrites 1:1
      val v5 = Versioned.materializeDvs(spark, dir, "bucket",
        statsCol = Some("k"))
      assert(v5 === v4 + 1)
      val m5 = spark.read.parquet(Versioned.manifestDir(dir, v5))
      assert(m5.filter(size(col("dv")) > 0).count() === 0L,
        "threshold 0 must materialize every deletion vector away")
      assert(Versioned.read(spark, dir, v5).orderBy(col("k"))
        .collect().toSeq === before)
      // stats survive the rewrite: a point probe still prunes + answers
      assert(Versioned.readPoint(spark, dir, "k", 217L, v5).count() === 0L)
      assert(Versioned.readPoint(spark, dir, "k", 218L, v5).count() === 1L)
      // nothing DV'd left: the sweep is a NO-OP, not an empty commit
      assert(Versioned.materializeDvs(spark, dir, "bucket",
        statsCol = Some("k")) === v5)
      assert(Versioned.latest(dir) === v5)
      // vacuum to v5: every tombstone dir is unreferenced now
      Versioned.vacuum(spark, dir, retainFrom = v5)
      val dvRoot = new java.io.File(s"$dir/dv")
      assert(!dvRoot.exists() ||
        Option(dvRoot.listFiles()).getOrElse(Array.empty).isEmpty,
        "vacuum after full materialization must reclaim tombstone dirs")
    } finally rm(dir)
  }

  test("txn appId validation guards EVERY txn-writing path at the commit " +
    "choke point — a newline-bearing id fails loudly, never as a " +
    "silently unparseable sidecar") {
    val dir = tmpDir("txnval")
    try {
      val base = spark.range(0, 40)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      val up = Seq((3L, 999L, 3L, "U")).toDF("k", "v", "bucket", "op")
      // the public merge(txn = ...) path — not just mergeIdempotent
      val e = intercept[IllegalArgumentException] {
        Versioned.merge(spark, dir, "bucket", "k", up,
          txn = Some(("bad\nid", 1L)))
      }
      assert(e.getMessage.contains("appId"))
      assert(Versioned.latest(dir) === 1L,
        "a rejected txn id must not commit anything")
      // a valid id on the same path commits and is idempotently visible
      Versioned.merge(spark, dir, "bucket", "k", up,
        txn = Some(("app.ok-1", 7L)))
      assert(Versioned.latest(dir) === 2L)
      val (_, applied) = Versioned.mergeIdempotent(spark, dir, "bucket",
        "k", up, "app.ok-1", 7L)
      assert(!applied, "the txn sidecar written via merge(txn=) must be " +
        "readable by mergeIdempotent's replay check")
    } finally rm(dir)
  }

  test("shallowClone: zero-copy fork — clone reads the source version " +
    "byte-for-byte, divergent merges COW into the clone only, source " +
    "stays untouched") {
    val src = tmpDir("clone-src")
    val dst = tmpDir("clone-dst")
    try {
      val base = spark.range(0, 400)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, src, "bucket", base, statsCol = Some("k"))
      Versioned.merge(spark, src, "bucket", "k",
        Seq((1L, 9001L, 1L, "U")).toDF("k", "v", "bucket", "op"),
        statsCol = Some("k"))
      // fork at v2
      assert(Versioned.shallowClone(spark, src, dst) === 1L)
      // ZERO COPY: the clone owns no data files at fork time
      assert(!new java.io.File(s"$dst/data").exists() ||
        new java.io.File(s"$dst/data").listFiles().isEmpty,
        "a shallow clone must not copy any data file")
      assert(manifestFiles(dst, 1L) === manifestFiles(src, 2L),
        "the clone's manifest must reference the source's files verbatim")
      assert(Versioned.read(spark, dst).orderBy("k").collect().toSeq ===
        Versioned.read(spark, src, 2L).orderBy("k").collect().toSeq)
      // stats ride along: a point probe on the clone prunes
      val p = Versioned.readPoint(spark, dst, "k", 17L)
      assert(p.inputFiles.length <
        Versioned.read(spark, dst).inputFiles.length)
      assert(p.count() === 1L)
      // diverge the clone: only bucket-2 rewrites, INTO THE CLONE
      val v2c = Versioned.merge(spark, dst, "bucket", "k",
        Seq((2L, 7777L, 2L, "U")).toDF("k", "v", "bucket", "op"),
        statsCol = Some("k"))
      val cloneFiles = manifestFiles(dst, v2c)
      val srcFiles = manifestFiles(src, 2L)
      // untouched partitions still reference src; churned ones moved
      assert((cloneFiles intersect srcFiles).nonEmpty,
        "undiverged partitions must stay referenced from the source")
      assert((cloneFiles -- srcFiles).forall(_.contains(dst)),
        "diverged files must live under the CLONE's own data dir")
      assert(Versioned.read(spark, dst)
        .filter(col("v") === 7777L).count() === 1L)
      // the source never saw the clone's write — at ANY version
      assert(Versioned.read(spark, src)
        .filter(col("v") === 7777L).count() === 0L)
      // clone vacuum is safe for the source: orphan walk is dst-rooted
      Versioned.vacuum(spark, dst, retainFrom = v2c)
      assert(Versioned.read(spark, src, 2L).count() === 400L,
        "vacuuming the clone must never delete source files")
      assert(Versioned.read(spark, dst).count() === 400L)
    } finally { rm(src); rm(dst) }
  }

  test("deleteKeysDvRetry: a DV delete racing merges re-derives against " +
    "the winner's snapshot — all writers land, no lost update") {
    val dir = tmpDir("dv-race")
    try {
      val base = spark.range(0, 200)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      import scala.concurrent._
      import scala.concurrent.duration._
      import ExecutionContext.Implicits.global
      val gate = new java.util.concurrent.CountDownLatch(1)
      val merger = Future { gate.await()
        Versioned.mergeRetry(spark, dir, "bucket", "k",
          Seq((1L, 9001L, 1L, "U")).toDF("k", "v", "bucket", "op"),
          maxAttempts = 12) }
      val deleter = Future { gate.await()
        Versioned.deleteKeysDvRetry(spark, dir, "bucket", "k",
          Seq((2L, 2L), (3L, 3L)).toDF("k", "bucket"), maxAttempts = 12) }
      gate.countDown()
      val landed = Await.result(Future.sequence(Seq(merger, deleter)),
        10.minutes)
      assert(landed.sorted === Seq(2L, 3L),
        s"both contended writers must land distinct versions: $landed")
      val r = Versioned.read(spark, dir)
      assert(r.count() === 198L)
      assert(r.filter(col("k").isin(2L, 3L)).count() === 0L,
        "the DV delete must survive the race")
      assert(r.filter(col("v") === 9001L).count() === 1L,
        "the merge must survive the race")
    } finally rm(dir)
  }

  test("shallowClone of a DV'd store: tombstones apply across the fork, " +
    "clone divergence materializes only its own partitions, clone vacuum " +
    "never touches source tombstones") {
    val src = tmpDir("dvclone-src")
    val dst = tmpDir("dvclone-dst")
    try {
      val base = spark.range(0, 400)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, src, "bucket", base)
      Versioned.deleteKeysDv(spark, src, "bucket", "k",
        Seq((5L, 1L), (6L, 2L)).toDF("k", "bucket"))
      Versioned.shallowClone(spark, src, dst)
      // the fork reads through the SOURCE's tombstones
      assert(Versioned.read(spark, dst).count() === 398L)
      assert(Versioned.read(spark, dst)
        .filter(col("k").isin(5L, 6L)).count() === 0L)
      // divergent merge on bucket 1 materializes ITS dv in the clone;
      // bucket 2 still answers through the source tombstone
      Versioned.merge(spark, dst, "bucket", "k",
        Seq((9L, 777L, 1L, "U")).toDF("k", "v", "bucket", "op"))
      val r = Versioned.read(spark, dst)
      assert(r.count() === 398L)
      assert(r.filter(col("k").isin(5L, 6L)).count() === 0L)
      assert(r.filter(col("v") === 777L).count() === 1L)
      // clone vacuum must not reclaim the SOURCE's tombstone dirs (the
      // source still references them; the clone's dv root is its own)
      Versioned.vacuum(spark, dst, retainFrom = Versioned.latest(dst))
      assert(Versioned.read(spark, src).count() === 398L)
      assert(Versioned.read(spark, src)
        .filter(col("k").isin(5L, 6L)).count() === 0L,
        "clone vacuum must never delete source tombstones")
    } finally { rm(src); rm(dst) }
  }

  test("pointer commits race safely: put-if-absent pointers, no rename " +
    "anywhere, racing writers lose no update, full read stack works") {
    val dir = tmpDir("ptr-race")
    try {
      val base = spark.range(0, 80)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      def logEntries(): Seq[String] =
        Option(new java.io.File(s"$dir/_log").listFiles())
          .getOrElse(Array.empty).map(_.getName).toIndexedSeq
      // the commit is a pointer FILE; no v=N directory ever exists, so
      // nothing relies on directory-rename atomicity
      assert(logEntries().contains("v=1.ptr"))
      assert(!new java.io.File(s"$dir/_log/v=1").exists(),
        "a store must never materialize a v=N directory")
      // the retry signal is its own type (so mergeRetry retries nothing
      // else) yet still an ISE for callers that match the race as one
      val cce = new graft.operators.ConcurrentCommitException("x", null)
      assert(cce.isInstanceOf[IllegalStateException])
      assert(!new IllegalStateException("not a race")
        .isInstanceOf[graft.operators.ConcurrentCommitException])
      // four contended writers through the mergeRetry loop
      import scala.concurrent._
      import scala.concurrent.duration._
      import ExecutionContext.Implicits.global
      val gate = new java.util.concurrent.CountDownLatch(1)
      val writers = (0 until 4).map { i =>
        val src = Seq((i.toLong, 7000L + i, i.toLong, "U"))
          .toDF("k", "v", "bucket", "op")
        Future { gate.await()
          Versioned.mergeRetry(spark, dir, "bucket", "k", src,
            maxAttempts = 12) }
      }
      gate.countDown()
      val landed = Await.result(Future.sequence(writers), 10.minutes)
      assert(landed.sorted === Seq(2L, 3L, 4L, 5L),
        s"4 contended writers must land 4 distinct versions: $landed")
      assert(logEntries().count(_.matches("v=\\d+\\.ptr")) === 5)
      assert(!logEntries().exists(_.matches("v=\\d+")),
        "no v=N manifest dir may appear in the log")
      val latest = Versioned.read(spark, dir)
      assert(latest.count() === 80)
      assert(latest.filter(col("v") >= 7000L).count() === 4L,
        "every contended update must survive — no lost update")
      // time travel + AS OF + changes all resolve through the pointers
      assert(Versioned.read(spark, dir, 1L)
        .filter(col("v") >= 7000L).count() === 0L)
      assert(Versioned.commitTime(dir, 1L) <= Versioned.commitTime(dir, 5L))
      assert(Versioned.changes(spark, dir, 1L, 5L, "k")
        .filter(col("op") === "U").count() === 4L)
      // a stranded loser (crashed before its own cleanup): recover
      // reclaims unpointed m-* staged dirs and .ptr-* temp files
      val stray = new java.io.File(s"$dir/_log/m-99-stranded")
      stray.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(stray, "junk.parquet").toPath, Array[Byte](1))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/_log/.ptr-m-99-stranded"),
        "m-99-stranded".getBytes)
      Versioned.recover(spark, dir)
      assert(!stray.exists(), "recover must reclaim unpointed staged dirs")
      assert(!new java.io.File(s"$dir/_log/.ptr-m-99-stranded").exists())
      // vacuum drops pointer + staged dir for expired versions and keeps
      // retained reads intact
      val before = Versioned.read(spark, dir, 5L).orderBy("k").collect().toSeq
      Versioned.vacuum(spark, dir, retainFrom = 4L)
      assert(!logEntries().contains("v=1.ptr"))
      intercept[Exception] { Versioned.read(spark, dir, 1L).count() }
      assert(Versioned.read(spark, dir, 5L).orderBy("k").collect().toSeq
        === before)
    } finally rm(dir)
  }

  test("a commit stranded before its pointer is invisible and " +
    "reclaimable: data dir only, + staged manifest, + pointer temp file") {
    val dir = tmpDir("stranded")
    try {
      val base = spark.range(0, 120)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      def snapshot(): Seq[org.apache.spark.sql.Row] =
        Versioned.read(spark, dir).orderBy("k").collect().toSeq
      def logEntries(): Set[String] =
        Option(new java.io.File(s"$dir/_log").list())
          .getOrElse(Array.empty[String]).toSet
      // each round strands one more step of an attempt at latest + 1,
      // by hand, as a writer killed just before that step leaves it
      for ((steps, round) <- Seq(1, 2, 3).zipWithIndex) {
        val committed = Versioned.versions(dir)
        val latest = Versioned.latest(dir)
        val rows = snapshot()
        val logBefore = logEntries()
        val target = latest + 1
        val token = s"$target-${System.nanoTime()}-stranded"
        // step 1: the attempt's data dir, real parquet the manifest
        // would have named
        val data = s"$dir/data/v=$token"
        base.filter(col("bucket") === 1L)
          .withColumn("v", col("v") + 1000L + round).write.parquet(data)
        // step 2: its staged manifest dir at its final name, sidecars
        // included, naming those data files
        val staged = s"$dir/_log/m-$token"
        if (steps >= 2) {
          TmpDirs.leafFiles(data).filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getCanonicalPath, "1", 1L)).toSeq
            .toDF("file", "part", "rows").write.parquet(staged)
          Seq("_schema.json", "_manifest_schema.json", "_commit.json")
            .foreach(n => java.nio.file.Files.copy(
              new java.io.File(Versioned.manifestDir(dir, latest), n).toPath,
              new java.io.File(staged, n).toPath))
        }
        // step 3: the pointer's temp file, written but never linked
        val ptrTmp = new java.io.File(s"$dir/_log/.ptr-m-$token")
        if (steps >= 3)
          java.nio.file.Files.write(ptrTmp.toPath, s"m-$token".getBytes)
        // (1) the log still commits exactly what it did
        assert(Versioned.versions(dir) === committed, s"steps=$steps")
        assert(Versioned.latest(dir) === latest, s"steps=$steps")
        // (2) reads answer the last committed snapshot, row for row
        assert(snapshot() === rows, s"steps=$steps: read moved")
        // (3) recover reclaims every stranded piece, and only those
        val recovered = Versioned.recover(spark, dir)
        assert(recovered === Seq(s"v=$token"), s"steps=$steps")
        assert(!new java.io.File(data).exists() &&
          !new java.io.File(staged).exists() && !ptrTmp.exists(),
          s"steps=$steps: a stranded piece survived recover")
        assert(logEntries() === logBefore, s"steps=$steps: log changed")
        assert(snapshot() === rows, s"steps=$steps: recover moved a read")
        // (4) the next merge commits latest + 1
        assert(Versioned.merge(spark, dir, "bucket", "k",
          Seq((round.toLong * 4 + 1, 5000L + round, 1L, "U"))
            .toDF("k", "v", "bucket", "op")) === target, s"steps=$steps")
        assert(Versioned.read(spark, dir)
          .filter(col("v") === 5000L + round).count() === 1L)
      }
    } finally rm(dir)
  }

  test("optimistic concurrency: racing merges get exactly one winner, " +
    "the loser fails loudly, the store stays consistent; recover() " +
    "unblocks a crashed commit") {
    val dir = tmpDir("occ")
    try {
      val base = spark.range(0, 100)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      val srcA = Seq((1L, 9111L, 1L, "U")).toDF("k", "v", "bucket", "op")
      val srcB = Seq((2L, 9222L, 2L, "U")).toDF("k", "v", "bucket", "op")
      // race two merges; both read latest=1 and target v=2
      import scala.concurrent._
      import scala.concurrent.duration._
      import ExecutionContext.Implicits.global
      val gate = new java.util.concurrent.CountDownLatch(1)
      def arm(src: org.apache.spark.sql.DataFrame) = Future {
        gate.await()
        try Right(Versioned.merge(spark, dir, "bucket", "k", src))
        catch { case e: Throwable => Left(e) }
      }
      val (fa, fb) = (arm(srcA), arm(srcB))
      gate.countDown()
      val results = Await.result(Future.sequence(Seq(fa, fb)), 5.minutes)
      val winners = results.collect { case Right(v) => v }
      val losers = results.collect { case Left(e) => e }
      // both read latest=1 and target v=2; the put-if-absent pointer
      // admits EXACTLY one — the loser throws the retry-signaling error
      assert(winners === Seq(2L), s"expected one winner, got $results")
      assert(losers.size === 1)
      assert(losers.head.isInstanceOf[IllegalStateException] ||
        losers.head.getMessage.contains("concurrent"),
        s"loser should fail with the concurrency signal: ${losers.head}")
      // the store is consistent: exactly ONE of the updates landed, the
      // loser's data dir is an unreferenced orphan invisible to reads
      val latest = Versioned.read(spark, dir)
      assert(latest.count() === 100)
      val updated = latest.filter(col("v").isin(9111L, 9222L)).count()
      assert(updated === 1L, "exactly one racing update must land")
      // the loser does NOT block: ITS retry takes a fresh token and wins
      val aWon = latest.filter(col("v") === 9111L).count() === 1L
      val v3 = Versioned.merge(spark, dir, "bucket", "k",
        if (aWon) srcB else srcA)
      assert(v3 === 3L)
      assert(Versioned.read(spark, dir)
        .filter(col("v").isin(9111L, 9222L)).count() === 2L)
      // a crashed/lost attempt's data dir is reclaimed by recover():
      // plant one alongside the real orphan the lost race left behind
      val junk = new java.io.File(s"$dir/data/v=9-555/junk")
      junk.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(junk, "part-zzz.parquet").toPath,
        Array[Byte](1, 2, 3))
      val preReads = Versioned.read(spark, dir).orderBy("k").collect().toSeq
      val recovered = Versioned.recover(spark, dir)
      assert(recovered.exists(_.startsWith("v=9-555")),
        s"planted orphan not reclaimed: $recovered")
      assert(recovered.size >= 2, // the lost-race data dir goes too
        s"the losing attempt's data dir should be orphaned: $recovered")
      assert(Versioned.read(spark, dir).orderBy("k").collect().toSeq
        === preReads, "recover must not touch committed data")
      assert(Versioned.read(spark, dir, 1L).count() === 100)
    } finally rm(dir)
  }

  test("mergeRetry retries ONLY the commit race: a permanently-occupied " +
    "target exhausts maxAttempts (one data dir per attempt), budget " +
    "message names the contention, recover() reclaims the attempts; a " +
    "non-race failure propagates on attempt 1") {
    val dir = tmpDir("retry-sel")
    try {
      val base = spark.range(0, 40)
        .select(col("id").as("k"), (col("id") * 3).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      def attemptDirs(): Set[String] =
        Option(new java.io.File(s"$dir/data").listFiles())
          .getOrElse(Array.empty).filter(_.isDirectory)
          .map(_.getName).filter(_.startsWith("v=2-")).toSet
      // occupy v=2's pointer slot with a DIRECTORY: versions() skips it
      // (not a pointer file), so every attempt re-reads latest=1, targets
      // v=2, and loses the "race" — the pointer link onto the taken name
      // fails with FileAlreadyExistsException, the one lost-race signal
      java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(s"$dir/_log/v=2.ptr"))
      val src = Seq((1L, 777L, 1L, "U")).toDF("k", "v", "bucket", "op")
      val e = intercept[IllegalStateException] {
        Versioned.mergeRetry(spark, dir, "bucket", "k", src, maxAttempts = 3)
      }
      assert(e.isInstanceOf[graft.operators.ConcurrentCommitException])
      assert(e.getMessage.contains("contention exceeds the retry budget"))
      assert(e.getCause.isInstanceOf[graft.operators.ConcurrentCommitException])
      // EXACTLY maxAttempts attempts ran: each wrote one token-unique
      // data dir for v=2 before losing its commit
      assert(attemptDirs().size === 3,
        s"expected 3 attempt dirs, got ${attemptDirs()}")
      // a NON-race failure propagates on attempt 1: no retry, no extra
      // attempt dir beyond the three above (the source is missing the
      // store's `v` column, so the merge projection fails eagerly)
      val badSrc = Seq((1L, 1L, "U")).toDF("k", "bucket", "op")
      intercept[Exception] {
        Versioned.mergeRetry(spark, dir, "bucket", "k", badSrc,
          maxAttempts = 5)
      }
      assert(attemptDirs().size === 3,
        "a non-race failure must not spin the retry loop")
      // cleanup path: drop the squatter, recover() reclaims the orphans,
      // and the store is writable again
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/_log/v=2.ptr"))
      val recovered = Versioned.recover(spark, dir)
      assert(recovered.count(_.startsWith("v=2-")) === 3)
      assert(Versioned.mergeRetry(spark, dir, "bucket", "k", src) === 2L)
      assert(Versioned.read(spark, dir)
        .filter(col("v") === 777L).count() === 1L)
    } finally rm(dir)
  }

  test("multi-column stats across a MIXED history: a single-column init " +
    "merged with multi-column stats — probes on the second column prune " +
    "only the files that carry its stats, answers stay exact") {
    val dir = tmpDir("multicol")
    try {
      // k-RANGE-correlated buckets (contiguous — envelopes can prune);
      // c anti-correlated (reversed ranges)
      val base = spark.range(0, 400)
        .select(col("id").as("k"), (lit(399L) - col("id")).as("v"),
          (lit(399L) - col("id")).as("c"),
          floor(col("id") / 100L).as("bucket"))
      // v1: single-column stats manifests (k only)
      Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"))
      // v2: multi-column commit churns bucket 1 — its fresh files carry
      // the {k, c} stats map, every carried file a {k} map only
      val src = base.filter(col("bucket") === 1 && col("k") % 8 === 1)
        .withColumn("v", col("v") + 5).withColumn("op", lit("U"))
      Versioned.merge(spark, dir, "bucket", "k", src,
        statsCols = Seq("k", "c"))
      val full = Versioned.read(spark, dir, 2L)
      // probe on k: EVERY file has k stats — prunes
      val kProbe = Versioned.readRange(spark, dir, "k", 0L, 50L, 2L)
      assert(kProbe.inputFiles.length < full.inputFiles.length)
      assert(kProbe.orderBy("k").collect().toSeq ===
        full.filter(col("k") <= 50).orderBy("k").collect().toSeq)
      // probe on c: carried files have NO c stats (unknown = always
      // read — NEVER wrongly pruned), fresh bucket-1 files prune by
      // their c envelope; a c range covering only carried data must
      // still answer exactly
      val cProbe = Versioned.readPoint(spark, dir, "c", 398L, 2L)
      assert(cProbe.collect().toSeq ===
        full.filter(col("c") === 398L).collect().toSeq)
      // a c-miss prunes the stats-carrying files but reads the
      // stats-less carried ones (correctness over pruning): answer empty
      assert(Versioned.readPoint(spark, dir, "c", 5000L, 2L).count() === 0L)
      // and the fresh files' 2-entry map is really committed
      val freshStats = spark.read.parquet(Versioned.manifestDir(dir, 2L))
        .filter(col("file").contains("/data/v=2-"))
        .select(sort_array(map_keys(col("stats"))).as("ks"))
      assert(freshStats.count() > 0)
      assert(freshStats.filter(col("ks") =!= array(lit("c"), lit("k")))
        .count() === 0L)
    } finally rm(dir)
  }

  test("a version missing a sidecar fails loudly, naming the file and the " +
    "version") {
    val dir = tmpDir("sidecars")
    try {
      val base = spark.range(0, 50)
        .select(col("id").as("k"), (col("id") * 2).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"))
      for (_ <- 1 to 2)
        Versioned.merge(spark, dir, "bucket", "k",
          base.filter(col("k") < 5).withColumn("op", lit("U")),
          statsCol = Some("k"))
      // every commit writes all three sidecars; strip one per version
      def strip(v: Long, name: String): Unit =
        assert(new java.io.File(Versioned.manifestDir(dir, v), name).delete(),
          s"fixture: $name must exist at v=$v")
      def loud(v: Long, name: String)(body: => Any): Unit = {
        val e = intercept[IllegalStateException](body)
        assert(e.getMessage.contains(name) &&
          e.getMessage.contains(s"version $v "), e.getMessage)
      }
      strip(1L, "_schema.json")
      loud(1L, "_schema.json")(Versioned.read(spark, dir, 1L))
      loud(1L, "_schema.json")(
        Versioned.readRange(spark, dir, "k", 900L, 999L, 1L))
      loud(1L, "_schema.json")(Versioned.readPoint(spark, dir, "k", 9L, 1L))
      strip(2L, "_manifest_schema.json")
      loud(2L, "_manifest_schema.json")(Versioned.read(spark, dir, 2L))
      loud(2L, "_manifest_schema.json")(
        Versioned.changes(spark, dir, 2L, 3L, "k"))
      strip(3L, "_commit.json")
      loud(3L, "_commit.json")(Versioned.commitTime(dir, 3L))
      loud(3L, "_commit.json")(Versioned.readAsOf(spark, dir, Long.MaxValue))
      // a version whose own sidecars are intact still answers
      assert(Versioned.read(spark, dir, 3L).count() === 50L)
      assert(Versioned.readPoint(spark, dir, "k", 9L, 3L).count() === 1L)
    } finally rm(dir)
  }

  test("mergeIdempotent: a replayed (appId, txnVersion) commits NOTHING; " +
    "higher txn versions commit; apps have independent chains") {
    val dir = tmpDir("txnmerge")
    try {
      val base = spark.range(0, 200)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      val b0 = base.filter(col("k") % 5 === 0)
        .withColumn("v", col("v") + 1).withColumn("op", lit("U"))
      val (v2, c2) = Versioned.mergeIdempotent(
        spark, dir, "bucket", "k", b0, "ingest", 0L)
      assert(v2 === 2L && c2)
      assert(Versioned.txnVersion(dir, "ingest") === Some(0L))
      val contentAfter = Versioned.read(spark, dir)
        .agg(sum(col("v"))).as[Long].head()
      // the replay shape: same app, same batch — a crash between the
      // store commit and the checkpoint's offset commit lands here
      val (vR, cR) = Versioned.mergeIdempotent(
        spark, dir, "bucket", "k", b0, "ingest", 0L)
      assert(vR === 2L && !cR, "replay must skip, not re-commit")
      assert(Versioned.latest(dir) === 2L, "replay must not mint a version")
      assert(Versioned.read(spark, dir)
        .agg(sum(col("v"))).as[Long].head() === contentAfter)
      // a LOWER-than-recorded txn version is the same replay shape
      val (vLo, cLo) = Versioned.mergeIdempotent(
        spark, dir, "bucket", "k", b0, "ingest", -1L)
      assert(vLo === 2L && !cLo)
      // the next batch commits; an unrelated app's chain is independent
      val (v3, c3) = Versioned.mergeIdempotent(
        spark, dir, "bucket", "k", b0, "ingest", 1L)
      assert(v3 === 3L && c3)
      val (v4, c4) = Versioned.mergeIdempotent(
        spark, dir, "bucket", "k", b0, "backfill", 0L)
      assert(v4 === 4L && c4,
        "a different app at an already-used txn version must commit")
      assert(Versioned.txnVersion(dir, "ingest") === Some(1L))
      assert(Versioned.txnVersion(dir, "backfill") === Some(0L))
      assert(Versioned.txnVersion(dir, "nobody").isEmpty)
    } finally rm(dir)
  }

  test("txn facts survive vacuum (rollup) and are NOT inherited by a " +
    "shallow clone") {
    val dir = tmpDir("txnvac")
    val dst = tmpDir("txnvacclone")
    try {
      val base = spark.range(0, 200)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      val b = base.filter(col("k") % 5 === 0)
        .withColumn("v", col("v") + 1).withColumn("op", lit("U"))
      Versioned.mergeIdempotent(spark, dir, "bucket", "k", b, "ingest", 7L)
      // the app goes idle; other writers churn the log past retention
      Versioned.merge(spark, dir, "bucket", "k",
        b.withColumn("v", col("v") + 2))
      Versioned.merge(spark, dir, "bucket", "k",
        b.withColumn("v", col("v") + 3))
      val txnManifest = Versioned.manifestDir(dir, 2L)
      Versioned.vacuum(spark, dir, retainFrom = 3L)
      assert(!new java.io.File(txnManifest).exists() &&
        !new java.io.File(s"$dir/_log/v=2.ptr").exists(),
        "the txn-bearing manifest must actually be vacuumed")
      assert(Versioned.txnVersion(dir, "ingest") === Some(7L),
        "the rollup must carry the vacuumed txn fact")
      val (_, committed) = Versioned.mergeIdempotent(
        spark, dir, "bucket", "k", b, "ingest", 7L)
      assert(!committed, "a replay after vacuum must still skip")
      // a SECOND vacuum folds the first rollup into the next (no loss)
      Versioned.merge(spark, dir, "bucket", "k",
        b.withColumn("v", col("v") + 4))
      Versioned.vacuum(spark, dir, retainFrom = 5L)
      assert(Versioned.txnVersion(dir, "ingest") === Some(7L))
      // clones start with a FRESH txn history: a stream pointed at the
      // fork must not skip its first batches because the source's app
      // once wrote the same txn versions
      Versioned.shallowClone(spark, dir, dst)
      assert(Versioned.txnVersion(dst, "ingest").isEmpty,
        "clone must not inherit source txn facts")
      val (vC, cC) = Versioned.mergeIdempotent(
        spark, dst, "bucket", "k", b, "ingest", 0L)
      assert(vC === 2L && cC)
    } finally { rm(dir); rm(dst) }
  }

  test("recluster: materializes deletion vectors, keeps old versions in " +
    "their old layout, and a post-recluster merge still attributes by " +
    "the partition column") {
    val dir = tmpDir("recluster")
    try {
      val base = spark.range(0, 4096)
        .select(col("id").as("k"),
          pmod(col("id"), lit(64L)).as("x"),
          pmod(col("id") * 31, lit(64L)).as("y"),
          (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base, statsCols = Seq("x", "y"))
      Versioned.deleteKeysDv(spark, dir, "bucket", "k",
        base.filter(col("k") % 100 === 0).select(col("k"), col("bucket")))
      val v3 = Versioned.recluster(spark, dir, "bucket", Seq("x", "y"),
        bits = 6, tileBits = 3)
      assert(v3 === 3L)
      // tombstones materialized: no dv refs in the fresh manifest, and
      // the deleted keys stay gone without any anti-join
      val m3 = spark.read.parquet(Versioned.manifestDir(dir, 3L))
      if (m3.columns.contains("dv"))
        assert(m3.filter(size(col("dv")) > 0).isEmpty)
      assert(Versioned.read(spark, dir, 3L)
        .filter(col("k") % 100 === 0).isEmpty)
      assert(Versioned.read(spark, dir, 3L).count() ===
        Versioned.read(spark, dir, 2L).count())
      // old versions keep their own layout AND content (v1 pre-delete)
      assert(Versioned.read(spark, dir, 1L).count() === 4096L)
      // range probes at v3 prune to a strict file subset
      val all = Versioned.read(spark, dir, 3L).inputFiles.length
      assert(Versioned.readRange(spark, dir, "x", 8L, 15L)
        .inputFiles.length < all)
      // a post-recluster merge still works through the partition column:
      // manifest part values come from the DATA's bucket column, not the
      // tile directories, so touched-file attribution holds (tiles span
      // buckets — the rewrite set is every tile holding the bucket,
      // which is the documented granularity cost of merging between
      // maintenance reclusters)
      val up = base.filter(col("bucket") === 2 && col("k") % 7 === 0)
        .withColumn("v", col("v") + 1).withColumn("op", lit("U"))
      val v4 = Versioned.merge(spark, dir, "bucket", "k", up)
      assert(v4 === 4L)
      val got = Versioned.read(spark, dir, 4L)
        .filter(col("bucket") === 2 && col("k") % 7 === 0 &&
          col("k") % 100 =!= 0)
        .agg(max(col("v") - col("k") * 10)).as[Long].head()
      assert(got === 1L, "the post-recluster upsert must land exactly once")
    } finally rm(dir)
  }

  test("dropColumn refuses a column live deletion vectors key on; " +
    "deleteKeysDv(checkKeyMoves) catches a mispartitioned erase") {
    val dir = tmpDir("dvguards")
    try {
      val base = spark.range(0, 200)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      Versioned.deleteKeysDv(spark, dir, "bucket", "k",
        base.filter(col("k") % 50 === 0).select(col("k"), col("bucket")))
      // dropping the dv key column would make every read at the new
      // version fail to apply the tombstones — refused loudly
      val e = intercept[IllegalArgumentException] {
        Versioned.dropColumn(spark, dir, "k")
      }
      assert(e.getMessage.contains("deletion vectors key on"))
      // an unrelated column still drops fine
      assert(Versioned.dropColumn(spark, dir, "v") === 3L)
      // a mispartitioned erase: key 7 lives under bucket 3, the keys
      // frame claims bucket 1 — without the check the erase commits a
      // no-op "success"; with it the contract violation is loud
      val wrong = Seq((7L, 1L)).toDF("k", "bucket")
      val e2 = intercept[IllegalArgumentException] {
        Versioned.deleteKeysDv(spark, dir, "bucket", "k", wrong,
          checkKeyMoves = true)
      }
      assert(e2.getMessage.contains("DIFFERENT bucket"))
      // correctly-partitioned keys pass the same check
      val right = Seq((7L, 3L)).toDF("k", "bucket")
      val v4 = Versioned.deleteKeysDv(spark, dir, "bucket", "k", right,
        checkKeyMoves = true)
      assert(Versioned.read(spark, dir, v4).filter(col("k") === 7).isEmpty)
    } finally rm(dir)
  }

  test("merge with a pinned parentVersion collides LOUDLY when the log " +
    "moved — the mechanism that makes mergeIdempotent's check-then-commit " +
    "sound (a stale writer can never silently re-derive against a newer " +
    "latest and double-apply)") {
    val dir = tmpDir("pinparent")
    try {
      val base = spark.range(0, 100)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      val b = base.filter(col("k") % 5 === 0)
        .withColumn("v", col("v") + 1).withColumn("op", lit("U"))
      Versioned.merge(spark, dir, "bucket", "k", b) // v2
      // a writer that pinned parent=1 BEFORE v2 landed must lose the
      // commit race (v2 occupied), never commit v3 from the stale check
      val e = intercept[graft.operators.ConcurrentCommitException] {
        Versioned.merge(spark, dir, "bucket", "k", b,
          parentVersion = Some(1L))
      }
      assert(e.getMessage.contains("committed by a concurrent writer"))
      assert(Versioned.latest(dir) === 2L,
        "the stale-pinned merge must not mint a version")
      // an uncommitted parent pin is rejected up front
      val e2 = intercept[IllegalArgumentException] {
        Versioned.merge(spark, dir, "bucket", "k", b,
          parentVersion = Some(99L))
      }
      assert(e2.getMessage.contains("not a committed version"))
    } finally rm(dir)
  }

  test("mergeIdempotent under a same-batch race: exactly one writer " +
    "commits, the loser resolves to a skip — no double-apply") {
    val dir = tmpDir("txnrace")
    try {
      val base = spark.range(0, 200)
        .select(col("id").as("k"), (col("id") * 10).as("v"),
          pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      val b = base.filter(col("k") % 5 === 0)
        .withColumn("v", col("v") + 1).withColumn("op", lit("U"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = (1 to 2).map { _ =>
        scala.concurrent.Future {
          Versioned.mergeIdempotent(
            spark, dir, "bucket", "k", b, "ingest", 0L)
        }
      }
      val rs = fs.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration(120, "s")))
      pool.shutdown()
      assert(rs.count(_._2) === 1,
        s"exactly one racer must commit, got $rs")
      assert(rs.forall(_._1 === 2L))
      assert(Versioned.latest(dir) === 2L)
      assert(Versioned.read(spark, dir).filter(col("k") % 5 === 0)
        .agg(max(col("v") - col("k") * 10)).as[Long].head() === 1L,
        "the update must be applied exactly once")
    } finally rm(dir)
  }

  test("readPoints: one manifest scan answers a key batch exactly like " +
    "the per-key probes, and its plan is file-for-file their union") {
    val dir = tmpDir("batchprobe")
    try {
      val base = spark.range(0, 1600)
        .select(col("id").as("k"), (col("id") * 7).as("v"),
          (col("id") / 100).cast("long").as("bucket"))
      Versioned.init(spark, dir, "bucket", base, statsCol = Some("k"))
      val src = base.filter(col("bucket").isin(3L, 11L) && col("k") % 5 === 0)
        .withColumn("v", col("v") + 1).withColumn("op", lit("U"))
      Versioned.merge(spark, dir, "bucket", "k", src, statsCol = Some("k"))
      // 4 spread hits (one updated in v2) + a miss; unsorted + a dupe to
      // exercise the normalize step
      val batch = Seq(1105L, 42L, 315L, 777L, 999999L, 42L)
      for (v <- Seq(1L, 2L)) {
        val full = Versioned.read(spark, dir, v)
        val got = Versioned.readPoints(spark, dir, "k", batch, v)
        assert(got.orderBy("k").collect().toSeq ===
          full.filter(col("k").isInCollection(batch))
            .orderBy("k").collect().toSeq)
        val union = batch.distinct.flatMap(k =>
          Versioned.readPoint(spark, dir, "k", k, v).inputFiles).toSet
        assert(got.inputFiles.toSet === union,
          "the batch plan must be exactly the union of the per-key plans")
        assert(got.inputFiles.length < full.inputFiles.length,
          "a 4-bucket batch must not plan the whole snapshot")
      }
      // all-miss batch: zero planned files, empty answer, store schema
      val miss = Versioned.readPoints(spark, dir, "k",
        Seq(777777L, 999999L))
      assert(miss.count() === 0L)
      assert(miss.columns.toSet === Set("k", "v", "bucket"))
      // empty batch fails loudly
      intercept[IllegalArgumentException] {
        Versioned.readPoints(spark, dir, "k", Seq.empty)
      }
    } finally rm(dir)
  }

  test("adaptive Bloom sketches size to each group's distinct count — " +
    "the small-file tail stops paying the fixed-size sketch, overflow " +
    "and cross-partition merge keep the no-false-negative guarantee") {
    import graft.functions.BloomAgg
    val cap = 1L << 13
    val adaptive = udaf(BloomAgg.adaptive(cap, 0.01))
    val fixed = udaf(BloomAgg.agg(cap, 0.01))
    // group 0: 12 keys; group 1: 1,200 keys; group 2: 20,000 keys
    // (spills past the cap); partitioned so partial buffers must merge
    val rows = spark.range(0, 12).select(lit(0L).as("g"), col("id").as("k"))
      .union(spark.range(100000, 101200)
        .select(lit(1L).as("g"), col("id").as("k")))
      .union(spark.range(200000, 220000)
        .select(lit(2L).as("g"), col("id").as("k")))
      .repartition(8)
    val out = rows.groupBy("g")
      .agg(adaptive(col("k")).as("a"), fixed(col("k")).as("f"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))).toMap
    val fixedBytes = out(0)._2.length
    // fixed sketches cost ~9.6 KB regardless of the group; right-sized
    // ones track the group (12 keys ≈ tens of bytes)
    assert(out(0)._1.length < fixedBytes / 20,
      s"tiny group sketch ${out(0)._1.length} B should be far under " +
        s"the fixed $fixedBytes B")
    assert(out(1)._1.length < fixedBytes / 2)
    // the overflowed group falls back to exactly the fixed shape
    assert(out(2)._1.length === fixedBytes)
    // no false negatives, any size, including across the spill + merges
    val probes = Map(0L -> (0L until 12L), 1L -> (100000L until 101200L),
      2L -> (200000L until 220000L))
    probes.foreach { case (g, ks) =>
      val f = BloomAgg.readFrom(out(g)._1)
      ks.foreach(k => assert(f.mightContainLong(k),
        s"group $g lost key $k — a false negative"))
    }
    // right-sizing keeps the fpp budget: absent keys still mostly miss
    val tiny = BloomAgg.readFrom(out(0)._1)
    val falsePos = (5000L until 6000L).count(tiny.mightContainLong)
    assert(falsePos < 50, s"tiny sketch claimed $falsePos/1000 absent keys")
  }

  test("recover on a clean 3-version store runs no Spark job") {
    val dir = tmpDir("recover-jobs")
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    try {
      val base = spark.range(0, 200)
        .select(col("id").as("k"), pmod(col("id"), lit(4L)).as("bucket"))
      Versioned.init(spark, dir, "bucket", base)
      Versioned.merge(spark, dir, "bucket", "k",
        base.filter(col("k") % 9 === 0).withColumn("op", lit("U")))
      Versioned.deleteKeysDv(spark, dir, "bucket", "k",
        base.filter(col("k") % 7 === 0))
      assert(Versioned.versions(dir) === Seq(1L, 2L, 3L))
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      jobs.tag = "recover"
      assert(Versioned.recover(spark, dir).isEmpty)
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      jobs.tag = null
      // every manifest answer is a driver-local LocalRelation collect
      assert(jobs.jobs.isEmpty, jobs.jobs.map(_.site).mkString("; "))
      assert(Versioned.read(spark, dir).count() ===
        base.filter(col("k") % 7 =!= 0).count())
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      rm(dir)
    }
  }
}
