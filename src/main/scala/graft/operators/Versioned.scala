package graft.operators

import graft.TmpDirs
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType,
  LongType, MapType, Metadata, MetadataBuilder, StringType, StructField,
  StructType}

/** The ONE retryable failure of the versioned store: another writer
  * committed the version this attempt targeted. Subclasses
  * IllegalStateException (callers that treated the race as ISE keep
  * working) but is its own type so [[Versioned.mergeRetry]] retries
  * NOTHING else — a stopped SparkContext, a broken invariant, or an
  * environmental filesystem failure must surface on attempt 1, not after
  * five sleeps mislabeled "contention exceeds the retry budget". */
final class ConcurrentCommitException(msg: String, cause: Throwable)
  extends IllegalStateException(msg, cause)

/** Snapshot-versioned copy-on-write table — MERGE with time travel (the
  * lakehouse log idea, reference analogue: the dim store's key-addressed
  * upsert generalized to versioned MERGE; on Delta/Iceberg this slot is
  * the transaction log + `VERSION AS OF`).
  *
  * Layout under `dir`:
  *   - `data/v=N-<token>/…parquet` — files WRITTEN BY an attempt at
  *     version N (append-only: once written, never rewritten or deleted
  *     by later merges). The token is writer-unique, so concurrent
  *     attempts never mix files; manifests reference files by absolute
  *     path, so the dir name carries no read semantics.
  *   - `_log/m-<token>/…parquet` — a manifest, one row per (data file,
  *     partition value) its snapshot serves, in the ONE manifest schema
  *     [[ManifestSchema]]: `file`, `part`, `rows`, `dv` (the file's
  *     tombstone paths; NULL = none) and `stats` (physical column name
  *     -> `struct<mn, mx, bloom>`; NULL = no stats). Beside it, three
  *     sidecars every commit writes and every reader requires:
  *     `_schema.json` (the snapshot's logical schema with its
  *     physical-name mapping), `_manifest_schema.json` (the manifest
  *     rows' schema) and `_commit.json` (version and commit wall-time);
  *     an idempotent writer's commit adds `_txn.json`. A snapshot IS
  *     its manifest's file set; untouched files are carried into the
  *     next manifest BY REFERENCE, so a merge writes only churned
  *     partitions' rows plus one tiny manifest. The token is
  *     writer-unique and the dir is written at this final name, never
  *     renamed.
  *   - `_log/v=N.ptr` — version N's commit: a pointer file whose one
  *     line names its manifest dir, created put-if-absent — the single
  *     commit point ([[commitManifest]]): of N racing writers exactly
  *     one creates version N's pointer, the rest throw and retry
  *     against the new latest (optimistic concurrency, the Delta
  *     log-store contract). The protocol needs no atomic rename, so it
  *     holds unchanged where a rename is a non-atomic copy (S3/GCS
  *     conditional writes).
  *   - `_log/_txns-*.tsv` — the txn facts of vacuumed versions
  *     ([[vacuum]]).
  *
  * `read(dir, v)` plans from the manifest (file-count-sized, like every
  * index probe here) and scans exactly that snapshot's files — old
  * versions stay readable because COW never mutates data files; space is
  * reclaimed by an explicit vacuum of files no retained manifest
  * references, on the maintenance schedule (the k13 TTL-expiry
  * economics), never by the write path.
  *
  * At 100 TB the merge cost is the k11 contract unchanged: churned
  * partitions only — the manifest tells the planner which FILES hold an
  * affected partition, those rows rewrite, every other file is one
  * manifest row copied.
  */
object Versioned {

  private def logRoot(dir: String) = s"$dir/_log"

  /** Version `v`'s commit pointer. */
  private def pointer(dir: String, v: Long) = s"${logRoot(dir)}/v=$v.ptr"

  /** The glob of every commit pointer under `dir`'s log: one file per
    * committed version, the unit a change-feed tail streams
    * ([[graft.streaming.ChangeFeed]]). */
  private[graft] def pointerGlob(dir: String): String =
    s"${logRoot(dir)}/v=*.ptr"

  private val PointerName = """v=(\d+)\.ptr""".r

  /** The version a commit pointer at `path` (a bare name or a full path
    * or URI) commits; None for any other file. Only the basename is
    * parsed, so a store rooted under `.../v=3/...` never resolves to
    * that constant. */
  private[graft] def pointerVersion(path: String): Option[Long] =
    path.substring(path.lastIndexOf('/') + 1) match {
      case PointerName(n) => Some(n.toLong)
      case _ => None
    }

  /** Resolve version `v`'s committed manifest DIRECTORY: the pointer
    * file `_log/v=N.ptr` names the writer-unique staged dir
    * `_log/m-<token>`. Every read path resolves through here. */
  private[graft] def manifestDir(dir: String, v: Long): String = {
    val ptr = new java.io.File(pointer(dir, v))
    require(ptr.isFile,
      s"Versioned: version $v is not committed under $dir (no pointer file)")
    val tok = new String(java.nio.file.Files.readAllBytes(ptr.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim
    require(tok.nonEmpty && !tok.contains("/") && !tok.contains(".."),
      s"Versioned: corrupt pointer for v=$v under $dir: '$tok'")
    s"${logRoot(dir)}/$tok"
  }

  /** WRITER-UNIQUE data dir for an attempted commit of version `v`. The
    * token makes concurrent writers collision-free on the data side
    * (two racing merges never mix files in one dir — manifests reference
    * files by absolute path, so the dir name carries no read semantics);
    * the COMMIT POINT is the pointer create in [[commitManifest]], and a
    * losing attempt's data dir becomes an unreferenced orphan that
    * [[recover]]/[[vacuum]] reclaims. */
  private def newDataDir(dir: String, v: Long) =
    s"$dir/data/v=$v-${System.nanoTime()}"

  /** Commit version `v`: the manifest and its sidecars are written to a
    * writer-unique staged dir `_log/m-<token>` at its FINAL location,
    * then the commit point is the atomic creation of the pointer file
    * `_log/v=N.ptr` (content: the token), which exactly one racing
    * writer wins. The local-FS form of a conditional PUT is a hard-link
    * create — atomic, content fully visible at link time,
    * `FileAlreadyExistsException` when the name is taken; an
    * object-store deployment maps this one call to
    * `PUT if-none-match:*` with identical semantics. A loser reclaims
    * its staging and throws [[ConcurrentCommitException]], to retry
    * against the new latest; its data dir is a token-unique orphan that
    * [[recover]] reclaims. Any other failure (permissions, quota, a link
    * across devices) is environmental: it is rethrown as itself and the
    * staging is kept for diagnosis. */
  private def commitManifest(spark: SparkSession, dir: String, v: Long,
      manifest: DataFrame, schema: StructType,
      txn: Option[(String, Long)] = None): Unit = {
    val stagedName = s"m-$v-${System.nanoTime()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = s"${logRoot(dir)}/$stagedName"
    // every commit writes the ONE manifest schema, whatever produced the
    // rows (a carried manifest, a stats scan, a dv rewrite)
    manifest.select(ManifestSchema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType)): _*)
      .coalesce(1).write.mode("errorifexists").parquet(tmp)
    writeSidecar(tmp, "_schema.json", schema.json)
    // the MANIFEST's own schema rides the commit too: every manifest
    // read then passes an explicit schema and skips the parquet
    // schema-inference job — one fewer driver-coordinated job per
    // manifest open, on a path hit several times per commit and once
    // per probe (the data sidecar above serves the same role for
    // snapshot scans)
    writeSidecar(tmp, "_manifest_schema.json", ManifestSchema.json)
    // commit wall-time rides the pointer commit with everything else —
    // the TIMESTAMP AS OF resolution source ([[readAsOf]])
    writeSidecar(tmp, "_commit.json",
      s"""{"version": $v, "ts_millis": ${System.currentTimeMillis()}}""")
    // application-transaction sidecar (the Delta txnAppId/txnVersion
    // idea): the (app_id, txn_version) fact rides the SAME atomic commit
    // as the manifest, so "did batch N land?" is answerable from the log
    // alone and an idempotent writer ([[mergeIdempotent]]) never
    // double-applies a replayed micro-batch
    txn.foreach { case (app, tv) =>
      // validate HERE — the single choke point every txn-writing path
      // (mergeIdempotent, public merge(txn = Some(...))) funnels through.
      // The id is interpolated into this JSON sidecar (regex-parsed, `.`
      // stops at line terminators) and vacuum's \n-separated TSV rollup;
      // a newline or quote would produce a sidecar the readers silently
      // fail to parse, voiding idempotence with no error.
      require(app.nonEmpty && app.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
        s"Versioned: txn appId must match [A-Za-z0-9._-]+: '$app'")
      writeSidecar(tmp, "_txn.json",
        s"""{"app_id": "$app", "txn_version": $tv}""")
    }
    val ptrTmp = java.nio.file.Paths.get(s"${logRoot(dir)}/.ptr-$stagedName")
    java.nio.file.Files.write(ptrTmp,
      stagedName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(pointer(dir, v)), ptrTmp)
      java.nio.file.Files.delete(ptrTmp)
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        TmpDirs.rmTree(tmp)
        java.nio.file.Files.deleteIfExists(ptrTmp)
        throw new ConcurrentCommitException(
          s"Versioned: version $v was committed by a concurrent writer " +
            "(pointer already present) — re-read latest() and retry", e)
    }
  }

  /** Column-mapping key: a logical column's PHYSICAL (on-disk) name,
    * carried as StructField metadata inside the committed sidecar schema
    * (one sidecar, no second mapping file — schema.json round-trips
    * metadata). Absent key = identity. A RENAME commits a new sidecar
    * whose field keeps the old physical name — zero data files move; a
    * read at any version answers in that version's own logical names. */
  private val PhysKey = "graft.physical"

  private def physName(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name

  /** logical name -> physical name (identity entries included). */
  private def mapping(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name -> physName(f)).toMap

  private def physicalSchema(logical: StructType): StructType =
    StructType(logical.fields.map(f =>
      StructField(physName(f), f.dataType, f.nullable)))

  /** Re-attach physical-name metadata onto a plain (post-projection)
    * logical schema before committing it — `select(... .as(name))` strips
    * field metadata, and losing the mapping would orphan every
    * renamed-column data file. */
  private def withPhysMeta(logical: StructType,
      m: Map[String, String]): StructType =
    StructType(logical.fields.map { f =>
      m.get(f.name).filter(_ != f.name) match {
        case Some(p) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putString(PhysKey, p).build())
        case None => f
      }
    })

  /** The ONE manifest row schema: every commit, whichever operation
    * makes it, writes exactly these columns. `dv` lists the file's
    * tombstone paths (NULL = none, see [[applyDv]]); `stats` maps a
    * PHYSICAL column name to that column's per-(file, part) min/max
    * envelope and Bloom sketch (NULL, or a missing key, = no stats:
    * unknown, always read — see [[pruneFiles]]). */
  private[graft] val ManifestSchema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("part", StringType),
    StructField("rows", LongType),
    StructField("dv", ArrayType(StringType)),
    StructField("stats", MapType(StringType, StructType(Seq(
      StructField("mn", LongType),
      StructField("mx", LongType),
      StructField("bloom", BinaryType)))))))

  /** The schema of every tombstone file [[deleteKeysDv]] writes: the
    * data file, the PHYSICAL key column and the stringified key. Tombstone
    * reads name it, so none of them runs a parquet schema-inference job. */
  private val TombstoneSchema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("key_col", StringType),
    StructField("key", StringType)))

  /** The tombstone rows under `dvPaths`. */
  private def readTombstones(spark: SparkSession,
      dvPaths: Seq[String]): DataFrame =
    spark.read.schema(TombstoneSchema).parquet(dvPaths.map(Manifest.unglob): _*)

  /** Per-file Bloom sizing CEILING for stats-carrying manifests (the
    * k16 file-skipping tier): sketches size to each (file, part)
    * group's ACTUAL distinct count ([[graft.functions.BloomAgg
    * adaptive]]) and only a group past this cap pays the full
    * ~1.2·cap bytes at 1% fpp. In a manifest the sketch bytes are the
    * bulk of every probe's scan, so right-sizing the small-file tail
    * shrinks the per-lookup manifest read, not just storage
    * (curvature banked in SCALE.md §"Round-18: distributed manifest
    * prune"). */
  private val StatsBloomExpected = 1L << 13
  private val StatsBloomFpp = 0.01

  /** Committed versions, ascending (directory listing of the log — one
    * entry per version, no file reads). */
  def versions(dir: String): Seq[Long] =
    Option(new java.io.File(logRoot(dir)).listFiles())
      .getOrElse(Array.empty)
      .flatMap(f => if (f.isFile) pointerVersion(f.getName) else None)
      .sorted.toIndexedSeq

  def latest(dir: String): Long = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"Versioned: no committed versions under $dir")
    vs.last
  }

  /** The committed version a read at `version` means (negative = the
    * latest); an uncommitted one fails loudly. */
  private def resolve(dir: String, version: Long): Long = {
    val vs = versions(dir)
    val v = if (version >= 0) version else {
      require(vs.nonEmpty, s"Versioned: no committed versions under $dir")
      vs.last
    }
    require(vs.contains(v), s"Versioned: version $v not in $vs")
    v
  }

  /** The manifest rows ([[ManifestSchema]]) for every data file under
    * `path` — a freshly-written version's. One narrow scan of the new
    * files only (`partCol` is stored IN the data, so no directory
    * inference is involved). With `statsCols` (PHYSICAL names) the same
    * scan also collects each column's per-(file, part) min/max envelope
    * and Bloom sketch into the `stats` map — the Iceberg/Delta
    * data-file-stats idea committed INTO the snapshot's manifest, so
    * point/range reads at `AS OF` can prune files before planning the
    * scan ([[readPoints]]/[[readRange]]). Stats columns ride as longs
    * (the column must cast); collection cost is the same single narrow
    * scan, widened by the stats columns. */
  // `dataSchema` (when the caller just WROTE the files and knows it)
  // skips the parquet schema-inference job — one fewer driver round per
  // commit; the directory-level PartDir column is appended by partition
  // discovery either way and dropped
  private def fileParts(spark: SparkSession, path: String,
      partCol: String, statsCols: Seq[String],
      dataSchema: Option[StructType] = None): DataFrame = {
    val rd = dataSchema.fold(spark.read)(s0 => spark.read.schema(s0))
    // fresh files carry no dv
    val base = rd.parquet(path).drop(PartDir)
      .groupBy(input_file_name().as("file"),
        col(partCol).cast("string").as("part"))
    val noDv = lit(null).cast(ArrayType(StringType)).as("dv")
    statsCols match {
      case Seq() => base.agg(count(lit(1)).as("rows")).select(col("file"),
        col("part"), col("rows"), noDv,
        lit(null).cast(ManifestSchema("stats").dataType).as("stats"))
      case cols =>
        // one agg per stats column, all riding the SAME single narrow
        // scan; the set lands in the `stats` map, keyed by physical
        // column name, which [[pruneFiles]] probes
        val bloom = udaf(graft.functions.BloomAgg.adaptive(
          StatsBloomExpected, StatsBloomFpp))
        val aggs = cols.zipWithIndex.flatMap { case (c, j) =>
          Seq(min(col(c).cast("long")).as(s"__mn_$j"),
            max(col(c).cast("long")).as(s"__mx_$j"),
            bloom(col(c).cast("long")).as(s"__bloom_$j"))
        }
        val agged = base.agg(count(lit(1)).as("rows"), aggs: _*)
        val mapEntries = cols.zipWithIndex.flatMap { case (c, j) =>
          Seq(lit(c), struct(col(s"__mn_$j").as("mn"),
            col(s"__mx_$j").as("mx"), col(s"__bloom_$j").as("bloom")))
        }
        agged.select(col("file"), col("part"), col("rows"), noDv,
          map(mapEntries: _*).as("stats"))
    }
  }

  /** DELETION-VECTOR application (the Delta/Iceberg DV idea, key-based):
    * a small targeted delete commits TOMBSTONES — (file, key_col, key)
    * rows under `dir/dv/...` — instead of rewriting gigabyte files for a
    * handful of rows; the manifest row of an affected file gains the
    * tombstone path in its `dv` array, and every snapshot read
    * anti-joins the scan against the referenced tombstones. `key_col`
    * is the PHYSICAL column name (stable across renames); `nameOf`
    * translates it into the frame's namespace (identity for physical
    * scans, physical→logical for readFiles output). Tombstones are
    * deletion-sized (broadcast): bulk deletes belong on the COW rewrite
    * path ([[merge]] with op "D"), this tier exists so a 10-row GDPR
    * erase does not rewrite 10 GB. Rewrites MATERIALIZE DVs away: a
    * merge/compact that rewrites a DV'd file applies its tombstones and
    * emits fresh dv-less manifest rows. */
  private def applyDv(spark: SparkSession, rows: DataFrame,
      dvPaths: Seq[String], nameOf: String => String): DataFrame =
    if (dvPaths.isEmpty) rows
    else {
      val tomb = readTombstones(spark, dvPaths)
      val keyCols = tomb.select(col("key_col")).distinct()
        .collect().map(_.getString(0))
      val tagged = rows.withColumn("__f", input_file_name())
      keyCols.foldLeft(tagged) { (df, pk) =>
        val t = broadcast(tomb.filter(col("key_col") === pk)
          .select(col("file").as("__tf"), col("key").as("__tk")))
        df.join(t, df.col("__f") === t.col("__tf") &&
          df.col(nameOf(pk)).cast("string") === t.col("__tk"), "left_anti")
      }.drop("__f")
    }

  /** ONE narrow (file, dv) collect of manifest rows: the distinct files
    * and the distinct dv paths they reference — sketches stay out of
    * the projection. */
  private def filesAndDvs(m: DataFrame): (IndexedSeq[String], Seq[String]) = {
    val fd = m.select(col("file"), col("dv")).collect()
    (fd.map(_.getString(0)).distinct.toIndexedSeq, dvsOf(fd, 1))
  }

  /** The distinct dv paths of collected manifest rows (dv at `dvIdx`). */
  private def dvsOf(rows: Iterable[Row], dvIdx: Int): Seq[String] =
    rows.iterator
      .flatMap(r => Option(r.getSeq[String](dvIdx)).getOrElse(Seq.empty))
      .toSeq.distinct

  /** The dv paths a manifest references for `files` (all files when
    * None) — empty for stores that never took a DV delete. */
  private def dvPathsOf(mDf: DataFrame,
      files: Option[Set[String]] = None): Seq[String] =
    filesAndDvs(files.fold(mDf)(fs =>
      mDf.filter(col("file").isin(fs.toSeq: _*))))._2

  /** The collected manifest rows `mRows` (of `mDf`) minus those of the
    * `dropped` files, as a frame to union with a commit's fresh rows. */
  private def carriedRows(spark: SparkSession, mDf: DataFrame,
      mRows: Array[Row], dropped: Set[String]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      mRows.filter(r => !dropped(r.getAs[String]("file"))).toIndexedSeq: _*),
      mDf.schema)

  /** Whether an attempt wrote any data file under `path` (an all-deletes
    * rewrite writes none). */
  private def hasParquet(path: String): Boolean =
    TmpDirs.leafFiles(path).exists(_.getName.endsWith(".parquet"))

  /** Normalized path form of a manifest file entry. Rewrites key their
    * file → bin maps by BOTH the raw and this form: input_file_name()
    * re-reports the manifest's own recorded string when scanning the
    * same files, so the raw hash hit is the per-row hot path — the URI
    * parse here only runs for a form drift that in practice never
    * happens. */
  private def norm(uri: String): String =
    try new org.apache.hadoop.fs.Path(new java.net.URI(uri)).toString
    catch { case _: java.net.URISyntaxException => uri }

  /** physical→logical translator for [[applyDv]] over readFiles output. */
  private def logicalNameOf(sch: StructType): String => String = {
    val rev = mapping(sch).map(_.swap)
    pk => rev.getOrElse(pk, pk)
  }

  /** Reserved directory-level name for the partition value. The value is
    * ALSO kept as a regular data column, so manifest-listed files can be
    * read directly with no partition-discovery coupling to the layout
    * (directory inference across version levels is exactly the kind of
    * name-collision trap a payload column called "v" would spring). */
  private val PartDir = "__part"

  /** Write `df` as an attempted version's data under `path` (a
    * [[newDataDir]]): one directory per partition value keeps the
    * file↔partition mapping exact BY CONSTRUCTION (a file can only ever
    * serve one partition value, so a merge never drags unaffected rows
    * into a rewrite), independent of task count or AQE partition
    * coalescing. */
  private def writeData(df: DataFrame, path: String, partCol: String): Unit =
    df.withColumn(PartDir, col(partCol)).repartition(col(partCol))
      .write.partitionBy(PartDir).mode("errorifexists")
      .parquet(path)

  /** Create version 1 from `df`. `statsCol` opts the store into
    * stats-carrying manifests: every commit's manifest rows then carry
    * the per-(file, part) min/max envelope + Bloom sketch of that column
    * (cast to long), and [[readPoints]]/[[readRange]] prune files from
    * the manifest BEFORE the scan. `statsCols` extends the same
    * treatment to FURTHER columns (production predicates skip on
    * several — order key AND customer key AND date): every named column
    * gets its own envelope + Bloom in the manifest's `stats` map,
    * collected by the SAME single narrow scan, and a probe on ANY of
    * them prunes. Pass the SAME stats columns to every subsequent
    * [[merge]]/[[compact]] — a commit without them carries NULL stats
    * for its fresh files (correct, unprunable). Version 1 commits by
    * pointer like every later version ([[commitManifest]]). */
  def init(spark: SparkSession, dir: String, partCol: String,
      df: DataFrame, statsCol: Option[String] = None,
      statsCols: Seq[String] = Nil): Long = {
    require(!(partCol +: df.columns).contains(PartDir),
      s"Versioned: column name $PartDir is reserved")
    require(versions(dir).isEmpty, s"Versioned: $dir already initialized")
    val dataPath = newDataDir(dir, 1L)
    writeData(df, dataPath, partCol)
    commitManifest(spark, dir, 1L,
      fileParts(spark, dataPath, partCol,
        (statsCol.toSeq ++ statsCols).distinct, Some(df.schema)),
      df.schema)
    1L
  }

  private def writeSidecar(dir: String, name: String, body: String): Unit = {
    val f = new java.io.File(dir, name)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** A committed sidecar of the version whose manifest dir is `md`.
    * Every commit writes `_schema.json`, `_manifest_schema.json` and
    * `_commit.json`; a missing one means a damaged log, never an older
    * format, and fails loudly naming the file and the version. */
  private def readSidecar(md: String, v: Long, name: String): String = {
    val f = new java.io.File(md, name)
    if (!f.isFile) throw new IllegalStateException(
      s"Versioned: version $v has no committed $name sidecar ($md) — " +
        "the log is damaged")
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  private def readStructSidecar(md: String, v: Long,
      name: String): StructType =
    DataType.fromJson(readSidecar(md, v, name)).asInstanceOf[StructType]

  /** Open version `v`'s manifest under its committed
    * `_manifest_schema.json`: the bounded-metadata rows are decoded
    * DRIVER-LOCALLY ([[ManifestLocal]]) and answered as a LocalRelation
    * — a downstream collect, or a filter/projection then collect, over
    * the manifest runs job-free in the optimizer, deleting one
    * driver-scheduled Spark job from every store open (a path hit
    * hundreds of times per bench). An aggregate (a `distinct`, a
    * `groupBy`) is not folded into the LocalRelation and still runs
    * jobs: collect the rows and aggregate on the driver instead.
    * A manifest that does not decode fails loudly, naming the version
    * (see [[ManifestLocal]]'s trust boundary). */
  private def readManifest(spark: SparkSession, dir: String,
      v: Long): DataFrame = {
    val md = manifestDir(dir, v)
    val sch = readStructSidecar(md, v, "_manifest_schema.json")
    spark.createDataFrame(
      java.util.Arrays.asList(ManifestLocal.readRows(md, v, sch): _*), sch)
  }

  /** The snapshot SCHEMA lives in the log, not in data-file footers —
    * the lakehouse contract: reading a 100 TB snapshot must not open N
    * footers to discover columns (parquet `mergeSchema` inference), and
    * a version's schema is a COMMITTED fact, not whatever the reader
    * infers. Stored as the `_schema.json` sidecar inside the version's
    * manifest directory (Spark's file readers ignore `_` paths, so the
    * manifest parquet scan is unaffected). */
  private def readSchema(dir: String, v: Long): StructType =
    readStructSidecar(manifestDir(dir, v), v, "_schema.json")

  /** Read a set of manifest-listed data files, answering in the
    * committed schema's LOGICAL names: the scan runs under the PHYSICAL
    * schema (renamed columns keep their on-disk name — the column-mapping
    * contract, so renames never rewrite data), then projects physical →
    * logical. */
  private def readFiles(spark: SparkSession, files: Seq[String],
      sch: StructType): DataFrame =
    spark.read.schema(physicalSchema(sch))
      .parquet(files.map(Manifest.unglob): _*)
      .select(sch.fields.map(f => col(physName(f)).as(f.name)).toSeq: _*)

  /** Schema-correct EMPTY frame for a snapshot (logical names). */
  private def emptyFrame(spark: SparkSession, sch: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(sch.fields.map(f => f.copy(metadata = Metadata.empty))))

  /** Scan snapshot `version` (defaults to the latest): exactly the files
    * its manifest lists, nothing newer, nothing vacuumed-in-place —
    * `AS OF` semantics. Under schema evolution the committed sidecar
    * schema drives the scan: files written BEFORE a column existed fill
    * it with NULLs (by-name parquet resolution), and a read at an OLD
    * version answers in that version's own (narrower) schema. */
  def read(spark: SparkSession, dir: String, version: Long = -1L): DataFrame = {
    val v = resolve(dir, version)
    val (files, dvPaths) = filesAndDvs(readManifest(spark, dir, v))
    val sch = readSchema(dir, v)
    applyDv(spark, readFiles(spark, files, sch), dvPaths, logicalNameOf(sch))
  }

  /** Commit wall-time of version `v` in epoch millis, from the
    * `_commit.json` committed atomically with the manifest. */
  def commitTime(dir: String, v: Long): Long = {
    val md = manifestDir(dir, v)
    """"ts_millis"\s*:\s*(\d+)""".r
      .findFirstMatchIn(readSidecar(md, v, "_commit.json"))
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(
        s"Versioned: version $v has an unreadable _commit.json ($md)"))
  }

  /** TIMESTAMP AS OF: scan the snapshot that was CURRENT at `tsMillis` —
    * the greatest committed version whose commit time is <= the ask
    * (Delta's timestamp time travel). Commit times are monotone by
    * construction (a version commits strictly after its predecessor);
    * asking for a time before the first commit fails loudly. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"Versioned: no committed versions under $dir")
    val eligible = vs.filter(v => commitTime(dir, v) <= tsMillis)
    require(eligible.nonEmpty,
      s"Versioned.readAsOf: $tsMillis predates the first commit " +
        s"(${commitTime(dir, vs.head)}) — nothing was current then")
    read(spark, dir, eligible.max)
  }

  /** The files a probe on PHYSICAL column `probeCol` must scan, with
    * their dv paths: every (file, part) row whose `stats(probeCol)`
    * PASSES `keep(mn, mx, bloom)`, plus every row with no stats for
    * that column (stats-less commits, a different stats column) —
    * unknown = always read: pruning without an envelope would drop true
    * matches, a silent wrong answer.
    *
    * The filter runs INSIDE the manifest scan, and only the SURVIVING
    * rows' narrow (file, dv) projection reaches the driver: at 10⁵–10⁶
    * manifest rows, collecting every row's ~10 KB Bloom sketch costs GBs
    * per point lookup (measured: 1.18 GB per probe at 120k manifest
    * rows, SCALE.md §"Round-18: distributed manifest prune"). Post-prune
    * the driver holds file names only, sized by the ANSWER (the probe's
    * true file set + fpp), not the table. One manifest scan answers
    * both the pruning and the dv resolution. */
  private def pruneFiles(m: DataFrame, probeCol: String,
      keep: (Column, Column, Column) => Column)
      : (IndexedSeq[String], Seq[String]) = {
    val s = element_at(col("stats"), lit(probeCol))
    val (mn, mx) = (s.getField("mn"), s.getField("mx"))
    filesAndDvs(m.filter(mn.isNull || mx.isNull ||
      keep(mn, mx, s.getField("bloom"))))
  }

  /** Batched might-contain for [[readPoints]]: ONE sketch
    * deserialization per manifest row answers the whole key batch.
    * `keys` arrives sorted — binary search to the first key inside the
    * row's [mn, mx] envelope, then test only the in-envelope run (the
    * envelope already rejected everything outside). Evaluated where the
    * manifest scan runs, so sketch bytes never travel to the driver. */
  private val bloomAnyContain =
    udf((bloom: Array[Byte], mn: Long, mx: Long,
        keys: scala.collection.Seq[Long]) => {
      val f = graft.functions.BloomAgg.readFrom(bloom)
      // lower bound: first index with keys(i) >= mn
      var lo = 0
      var hi = keys.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid) < mn) lo = mid + 1 else hi = mid
      }
      var hit = false
      while (!hit && lo < keys.length && keys(lo) <= mx) {
        hit = f.mightContainLong(keys(lo))
        lo += 1
      }
      hit
    })

  /** The one probe path behind [[readRange]] and [[readPoints]]: resolve
    * `version`, map `keyCol` to its physical name, prune the manifest
    * with `keep(mn, mx, bloom)` ([[pruneFiles]]), scan the surviving
    * files under their tombstones (a schema-correct empty frame when
    * every file prunes), and apply the exact residual `filter` to the
    * key cast to long. */
  private def probe(spark: SparkSession, dir: String, keyCol: String,
      version: Long, keep: (Column, Column, Column) => Column,
      filter: Column => Column): DataFrame = {
    val v = resolve(dir, version)
    val sch = readSchema(dir, v)
    val probePhys = sch.fields.find(_.name == keyCol)
      .map(physName).getOrElse(keyCol)
    val (files, dvs) = pruneFiles(readManifest(spark, dir, v), probePhys,
      keep)
    val base =
      if (files.isEmpty) emptyFrame(spark, sch)
      else applyDv(spark, readFiles(spark, files, sch), dvs,
        logicalNameOf(sch))
    base.filter(filter(col(keyCol).cast("long")))
  }

  /** Range read `lo <= keyCol <= hi` at snapshot `version`, planning its
    * file list FROM the manifest: a file is scanned only if SOME of its
    * (file, part) envelopes intersects the range (NULL stats = unknown =
    * always read). The answer is exactly `read(v).filter(...)` — the
    * envelope over-approximates and the residual filter is exact — but at
    * 100 TB the plan reads the matching files, not the snapshot. This is
    * the reference's dim point-lookup pattern (util/DimUtil.java:30-32,
    * `select * where id = ?`) done at lakehouse scale, composed with
    * time travel. */
  def readRange(spark: SparkSession, dir: String, keyCol: String,
      lo: Long, hi: Long, version: Long = -1L): DataFrame =
    probe(spark, dir, keyCol, version,
      (mn, mx, _) => mx >= lo && mn <= hi, k => k >= lo && k <= hi)

  /** Point read `keyCol = key` at snapshot `version` — the one-key
    * [[readPoints]]: the envelope check first (free), then each
    * surviving (file, part) row's Bloom sketch, so a file is scanned
    * only if it MIGHT contain the key. No false negatives (the Bloom
    * guarantee), fpp bounds the extra files. Under a partition layout
    * uncorrelated with the key (the common hash-bucket case) every
    * envelope spans the key range and min/max pruning degenerates — the
    * Bloom tier is what keeps a point lookup at `AS OF` from scanning
    * the snapshot. */
  def readPoint(spark: SparkSession, dir: String, keyCol: String,
      key: Long, version: Long = -1L): DataFrame =
    readPoints(spark, dir, keyCol, Seq(key), version)

  /** Batched point probe `keyCol IN keys` at snapshot `version` — N
    * keys amortized over ONE manifest scan and ONE data read of the
    * union file set, where N single-key probes pay N manifest scans (a
    * scan costs seconds per probe at the 10⁵-file tier — 2.8 s at 120k
    * manifest rows, SCALE.md §"Round-18: distributed manifest prune" —
    * so the batch is the difference between a key-list lookup that
    * costs one probe and one that costs N). Plan: per manifest row, the
    * envelope rejects the whole batch span first, then ONE sketch
    * deserialization answers the in-envelope keys ([[bloomAnyContain]]).
    * No false negatives, fpp-bounded extra files, and the planned set is
    * exactly the union of the per-key plans (sketches are
    * deterministic). Keys ship into the scan as a literal array:
    * thousands of keys, not millions — past that the probe stops being
    * a point lookup and belongs to `read(...).join(keys)`. */
  def readPoints(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], version: Long = -1L): DataFrame = {
    require(keys.nonEmpty, "Versioned.readPoints: empty key batch")
    val ks = keys.distinct.sorted
    val kArr = typedlit(ks)
    probe(spark, dir, keyCol, version,
      (mn, mx, bloom) => mn <= ks.last && mx >= ks.head &&
        (bloom.isNull || bloomAnyContain(bloom, mn, mx, kArr)),
      _.isInCollection(ks))
  }

  /** MERGE `source` into the latest snapshot, committing a NEW version
    * (same arms as [[Merge.into]]: op "D" deletes matched keys, anything
    * else upserts). Data files of prior versions are never touched: the
    * affected-partition files' surviving rows and the upserts land under
    * `data/v=next`, every untouched file is carried into the next
    * manifest by reference. Returns the committed version.
    *
    * CONTRACT: `keyCol` must determine `partCol` — a key never moves
    * between partition values across versions. The churned-partitions-only
    * rewrite depends on it: the anti-join that retires stale rows runs
    * only over source-affected partitions, so a key arriving under a NEW
    * partition value would leave its old row alive elsewhere (duplicate
    * key). `checkKeyMoves=true` verifies the contract per merge by
    * semi-joining source keys against the UNTOUCHED files' key column
    * (a key-column-only projected scan — correct but proportional to
    * table keys, so it is an opt-in audit lever, not the default path;
    * at 100 TB run it on the maintenance schedule, not per commit). */
  def merge(spark: SparkSession, dir: String, partCol: String,
      keyCol: String, source: DataFrame, opCol: String = "op",
      checkKeyMoves: Boolean = false, mergeSchema: Boolean = false,
      statsCol: Option[String] = None, statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      parentVersion: Option[Long] = None): Long = {
    // parentVersion PINS the snapshot this merge derives from AND the
    // version it will commit (parent+1): a caller whose correctness
    // depends on what it read BEFORE the merge (mergeIdempotent's txn
    // check) must pin, so any interleaving commit turns into a loud
    // ConcurrentCommitException instead of a silent re-derive against a
    // newer latest. Unpinned callers keep the read-latest behavior.
    val v = parentVersion.getOrElse(latest(dir))
    require(versions(dir).contains(v),
      s"Versioned.merge: parentVersion $v is not a committed version")
    val next = v + 1
    val sch = readSchema(dir, v)
    val mDf = readManifest(spark, dir, v)
    val mSchema = mDf.schema
    val mRows = mDf.collect()
    val (fIdx, pIdx) = (mSchema.fieldIndex("file"), mSchema.fieldIndex("part"))
    val manifest = mRows.map(r => (r.getString(fIdx), r.getString(pIdx)))
    // the manifest rows are already on the driver — resolve dv paths from
    // them instead of re-scanning the manifest per file set (dvPathsOf's
    // collect was one more job per merge on the commit hot path)
    val dvIdx = mSchema.fieldIndex("dv")
    def dvOf(fs: Set[String]): Seq[String] =
      dvsOf(mRows.filter(r => fs(r.getString(fIdx))), dvIdx)
    // ONE distinct-partition collect does double duty: the NULL-partition
    // guard and the affected set (the guard used to be its own full
    // source computation — one extra job per merge; a NULL partition
    // value surfaces here as a NULL in the distinct set)
    val affectedRaw = source.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    require(!affectedRaw.contains(null),
      s"Versioned.merge: source carries NULL $partCol values — fix the " +
        "partition derivation upstream")
    val affected = affectedRaw.toSet
    val touched = manifest.filter { case (_, p) => affected(p) }
      .map(_._1).toSet
    if (checkKeyMoves) {
      val untouched = manifest.filter { case (f, _) => !touched(f) }
        .map(_._1).distinct.toIndexedSeq
      if (untouched.nonEmpty) {
        val moved = applyDv(spark, readFiles(spark, untouched, sch),
            dvOf(untouched.toSet), logicalNameOf(sch))
          .select(col(keyCol))
          .join(source.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
          .limit(5).collect()
        require(moved.isEmpty,
          s"Versioned.merge: source keys ${moved.map(_.get(0)).mkString(", ")}" +
            " already live under a DIFFERENT partition value — a key must " +
            s"determine its $partCol (the merge would otherwise leave the " +
            "old row alive and commit duplicate keys). Fix the partition " +
            "derivation upstream, or route the move as a delete under the " +
            "old partition plus an insert under the new one.")
      }
    }
    // rewrite all rows of touched files. With partitionBy layout a file
    // serves exactly one partition value; after recluster() a tile file
    // can span MANY partition values, so the rewrite granularity is the
    // whole touched file, not just the merged partitions (the file-level
    // touched-set logic below handles both — VersionedSpec documents the
    // granularity cost on reclustered stores)
    // DV'd touched files apply their tombstones here, so the rewrite
    // MATERIALIZES the deletes: tombstoned rows never reach the fresh
    // files, whose manifest rows carry no dv
    val slice =
      if (touched.isEmpty) read(spark, dir, v).filter(lit(false))
      else applyDv(spark, readFiles(spark, touched.toIndexedSeq, sch),
        dvOf(touched), logicalNameOf(sch))
    val kept = slice.join(
      source.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    val upserts = source.filter(col(opCol) =!= "D").drop(opCol)
    // Schema evolution (opt-in, the Delta/Iceberg mergeSchema contract):
    // source columns the snapshot lacks JOIN the schema; prior files are
    // never rewritten for it — they fill the new column with NULLs at
    // read time via the committed sidecar schema. Without the flag, the
    // historical behavior stands: the source is projected onto the
    // snapshot's columns (extra source columns dropped), and a source
    // MISSING a snapshot column fails the projection loudly.
    val out =
      if (!mergeSchema)
        kept.unionByName(upserts.select(kept.columns.map(col): _*))
      else {
        val keptTypes = kept.schema.map(f => f.name -> f.dataType)
        val srcTypes = upserts.schema.map(f => f.name -> f.dataType)
        val added = srcTypes.filterNot(t => keptTypes.exists(_._1 == t._1))
        val missing = keptTypes.filterNot(t => srcTypes.exists(_._1 == t._1))
        val keptW = added.foldLeft(kept) { case (d, (n, t)) =>
          d.withColumn(n, lit(null).cast(t)) }
        val upsW = missing.foldLeft(upserts) { case (d, (n, t)) =>
          d.withColumn(n, lit(null).cast(t)) }
        keptW.unionByName(upsW.select(keptW.columns.map(col): _*))
      }
    // write PHYSICAL column names: `out` is logical (the slice read
    // projected physical -> logical), but data files always carry the
    // physical namespace — the column-mapping contract that lets a rename
    // commit move zero bytes. Columns added by mergeSchema map identity.
    val prevMap = mapping(sch)
    val outPhys = out.select(out.columns.map(n =>
      col(n).as(prevMap.getOrElse(n, n))).toIndexedSeq: _*)
    val physPart = prevMap.getOrElse(partCol, partCol)
    val dataPath = newDataDir(dir, next)
    writeData(outPhys, dataPath, physPart)
    // an all-deletes merge writes no data files at all — the new
    // manifest is then just the carryover
    val fresh =
      if (hasParquet(dataPath))
        fileParts(spark, dataPath, physPart,
          (statsCol.toSeq ++ statsCols).distinct
            .map(c => prevMap.getOrElse(c, c)), Some(outPhys.schema))
      else emptyFrame(spark, ManifestSchema)
    // carry untouched files' manifest rows VERBATIM (stats included —
    // their files are byte-identical, so their envelopes/sketches stay
    // exact forever)
    commitManifest(spark, dir, next,
      carriedRows(spark, mDf, mRows, touched).unionByName(fresh),
      withPhysMeta(out.schema, prevMap), txn)
    next
  }

  /** DELETE by key WITHOUT rewriting data files — the deletion-vector
    * commit (see [[applyDv]]). One scan of the affected partitions'
    * files finds which FILES hold the keys; their (file, key) tombstones
    * land under `dir/dv/` and the new manifest's rows for exactly those
    * files gain the tombstone path in their `dv` array — every other
    * manifest row carries verbatim, zero data files move. Reads at the
    * new version anti-join the tombstones; prior versions still answer
    * with the rows (time travel holds — tombstones are referenced
    * per-version, never applied retroactively); the next [[merge]] or
    * [[compact]] that rewrites a DV'd file materializes the delete and
    * drops the dv. `keys` must carry `keyCol` and `partCol` (the same
    * key-determines-partition contract as [[merge]]).
    *
    * At 100 TB this is the GDPR-erase shape: deleting 1,000 users from
    * a petabyte table costs one partition-pruned scan plus a tombstone
    * file, not a terabyte rewrite. Tombstones are deletion-sized and
    * broadcast at read; BULK deletes (a partition's worth) belong on
    * the COW rewrite path ([[merge]] op "D"). Returns the committed
    * version. */
  def deleteKeysDv(spark: SparkSession, dir: String, partCol: String,
      keyCol: String, keys: DataFrame,
      checkKeyMoves: Boolean = false): Long = {
    val v = latest(dir)
    val next = v + 1
    val sch = readSchema(dir, v)
    val m = mapping(sch)
    val mDf = readManifest(spark, dir, v)
    // the manifest is a LocalRelation: its (file, part) rows reach the
    // driver without a job, where a distinct() over it would run two
    val fileParts = mDf.select(col("file"), col("part")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val affected = keys.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val touched = fileParts.collect { case (f, p) if affected(p) => f }.toSet
    // same contract as merge: keys must live under the partition values
    // the `keys` frame claims, or the pruned scan never sees them and
    // the erase "succeeds" while the rows survive — the silent failure
    // mode a GDPR path cannot afford. `checkKeyMoves=true` is the same
    // opt-in audit lever as merge's: semi-join requested keys against
    // the UNTOUCHED files' live key column (key-column-pruned scan,
    // proportional to table keys — run it on the audit schedule).
    if (checkKeyMoves) {
      val untouched = (fileParts.map(_._1).toSet -- touched).toIndexedSeq
      if (untouched.nonEmpty) {
        val stray = applyDv(spark, readFiles(spark, untouched, sch),
            dvPathsOf(mDf, Some(untouched.toSet)), logicalNameOf(sch))
          .select(col(keyCol))
          .join(keys.select(col(keyCol)).distinct(), Seq(keyCol),
            "left_semi")
          .limit(5).collect()
        require(stray.isEmpty,
          s"Versioned.deleteKeysDv: keys ${stray.map(_.get(0)).mkString(", ")}" +
            s" live under a DIFFERENT $partCol than the keys frame " +
            "claims — the pruned delete would miss them. Fix the " +
            "partition derivation (or delete under the true partitions).")
      }
    }
    if (touched.isEmpty) { // keys hit no live partition: commit a no-op
      commitManifest(spark, dir, next, mDf, sch)
      return next
    }
    // one partition-pruned scan attributes each deleted key to the
    // FILE(s) holding it — tombstones reference physical column names
    // (stable across renames) and stringified key values (both sides
    // cast at apply time)
    val physKey = m.getOrElse(keyCol, keyCol)
    // tag the source file SCAN-SIDE (input_file_name is single-source
    // only), then let prior tombstones apply above it — a re-delete on
    // an already-DV'd file attributes against its LIVE rows
    val tagged = readFiles(spark, touched.toIndexedSeq, sch)
      .withColumn("__srcf", input_file_name())
    val live = applyDv(spark, tagged,
      dvPathsOf(mDf, Some(touched)), logicalNameOf(sch))
    val tomb = live
      .join(broadcast(keys.select(col(keyCol)).distinct()), Seq(keyCol))
      .select(col("__srcf").as("file"), lit(physKey).as("key_col"),
        col(keyCol).cast("string").as("key"))
    val dvPath = s"$dir/dv/v=$next-${System.nanoTime()}"
    tomb.coalesce(1).write.mode("errorifexists").parquet(dvPath)
    val dvFiles = readTombstones(spark, Seq(dvPath))
      .select(col("file")).distinct().collect().map(_.getString(0)).toSet
    if (dvFiles.isEmpty) { // keys absent from the live rows: no-op
      TmpDirs.rmTree(dvPath)
      commitManifest(spark, dir, next, mDf, sch)
      return next
    }
    val updated = mDf.withColumn("dv",
      when(col("file").isin(dvFiles.toSeq: _*),
        array_union(coalesce(col("dv"),
          array().cast("array<string>")), array(lit(dvPath))))
        .otherwise(col("dv")))
    commitManifest(spark, dir, next, updated, sch)
    next
  }

  /** MATERIALIZE deletion vectors — the DV lifecycle's maintenance half
    * (Delta's PURGE / Iceberg's rewrite-position-deletes idea).
    * [[deleteKeysDv]] makes the DELETE cheap by deferring the rewrite;
    * every read after it pays the tombstone anti-join (~2× on a
    * post-delete full read, A/B-banked) until something rewrites the
    * DV'd files. Before this op the only absorption paths were a full
    * [[compact]] or a merge that happened to touch the DV'd partitions;
    * this rewrites ONLY files whose tombstone fraction exceeds
    * `threshold`, as a normal commit.
    *
    * Per qualifying file the rewrite is 1:1 — one source file, one
    * fresh file holding exactly its live rows (the `__bin` = source-file
    * trick, all files in ONE job) — so compact's bin-packing and
    * recluster's tiling survive materialization untouched: the file
    * keeps its row set minus the tombstones. Files at or below the
    * threshold keep answering through their DVs (their manifest rows
    * carry verbatim); fully-tombstoned files simply disappear from the
    * new manifest. Time travel holds: prior versions still reference
    * the old files + tombstones.
    *
    * Costs: the decision reads only the manifest plus the
    * deletion-sized tombstone files (driver-side, O(DV'd files) rows);
    * the rewrite scans only the qualifying files. At 100 TB this is the
    * scheduled sweep that bounds the DV read tax: with threshold t, a
    * read pays at most a t-fraction anti-join per file, and the sweep's
    * write amplification is capped by how much garbage a file may
    * accumulate before it rewrites. `threshold = 0.0` materializes
    * every DV'd file. Returns the committed version, or the CURRENT
    * version unchanged when no file qualifies (a scheduled no-op must
    * not pollute history with empty commits). */
  def materializeDvs(spark: SparkSession, dir: String, partCol: String,
      threshold: Double = 0.0, statsCol: Option[String] = None,
      statsCols: Seq[String] = Nil): Long = {
    require(threshold >= 0.0 && threshold < 1.0,
      s"Versioned.materializeDvs: threshold in [0, 1), got $threshold")
    val v = latest(dir)
    val sch = readSchema(dir, v)
    val prevMap = mapping(sch)
    val mDf = readManifest(spark, dir, v)
    val mSchema = mDf.schema
    val mRows = mDf.collect()
    val fIdx = mSchema.fieldIndex("file")
    val rIdx = mSchema.fieldIndex("rows")
    val dvIdx = mSchema.fieldIndex("dv")
    val dvd: Set[String] = mRows
      .filter(r => !r.isNullAt(dvIdx) && r.getSeq[String](dvIdx).nonEmpty)
      .map(_.getString(fIdx)).toSet
    if (dvd.isEmpty) return v
    // physical (pre-DV) row count per file — a file may map several
    // (file, part) manifest rows after compact/recluster
    val physRows: Map[String, Long] = mRows.groupBy(_.getString(fIdx))
      .view.mapValues(_.map(_.getLong(rIdx)).sum).toMap
    // tombstone count per DV'd file. Structural invariant (deleteKeysDv):
    // a live file's dv array lists EVERY tombstone path carrying rows for
    // it, so grouping the union of the candidates' paths by file
    // attributes exactly. Tombstones are deletion-sized — this read is
    // the cheap half of the decision.
    val dvPaths = dvPathsOf(mDf, Some(dvd))
    val tombCounts: Map[String, Long] =
      readTombstones(spark, dvPaths).distinct()
        .groupBy(col("file")).agg(count(lit(1)).as("n"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rewrite = dvd.filter { f =>
      tombCounts.getOrElse(f, 0L).toDouble >
        threshold * physRows(f).toDouble
    }.toIndexedSeq.sorted
    if (rewrite.isEmpty) return v
    val next = v + 1
    val physSch = physicalSchema(sch)
    require(!physSch.fieldNames.contains("__bin"),
      "Versioned: column name __bin is reserved (materialization bin dirs)")
    val dataPath = newDataDir(dir, next)
    val binOf: Map[String, Int] = rewrite.zipWithIndex
      .flatMap { case (f, i) => Seq(f -> i, norm(f) -> i) }.toMap
    val binUdf = udf((f: String) => binOf.get(f).orElse(binOf.get(norm(f))))
    val reader = spark.read.schema(physSch)
    // physical scan of ONLY the qualifying files; the anti-join rides the
    // same scan (physical key_col — no translation), one output file per
    // source file so the existing layout survives
    val liveScan = applyDv(spark,
      reader.parquet(rewrite.map(Manifest.unglob): _*)
        .withColumn("__bin", coalesce(binUdf(input_file_name()),
          raise_error(concat(
            lit("Versioned.materializeDvs: scanned a file outside the " +
              "rewrite set (file→bin normalization drift): "),
            input_file_name())).cast("int"))),
      dvPathsOf(mDf, Some(rewrite.toSet)), identity)
    liveScan
      .repartition(rewrite.size, col("__bin"))
      .write.partitionBy("__bin").mode("errorifexists").parquet(dataPath)
    val carriedDf = carriedRows(spark, mDf, mRows, rewrite.toSet)
    // a fully-tombstoned rewrite set writes no parquet at all — the new
    // manifest is just the carried rows (the dead files vanish)
    val manifest =
      if (!hasParquet(dataPath)) carriedDf
      else carriedDf.unionByName(fileParts(spark, dataPath,
        prevMap.getOrElse(partCol, partCol),
        (statsCol.toSeq ++ statsCols).distinct
          .map(c => prevMap.getOrElse(c, c)), Some(physSch)))
    commitManifest(spark, dir, next, manifest, sch)
    next
  }

  /** Bin-pack the latest snapshot's SMALL files into fewer, larger
    * files, committed as a NEW version (the lakehouse OPTIMIZE /
    * rewrite-data-files maintenance pass). A long-lived store's merge
    * history leaves each churned partition one file per commit and many
    * tiny partitions one tiny file each; nothing else can retire that
    * tail without breaking `AS OF`. Compaction can, because it commits:
    * the new manifest references the packed files, every PRIOR manifest
    * still references the fragments (old versions read byte-identically
    * until [[vacuum]] reclaims them), and the data files a packed file
    * replaced are never mutated.
    *
    * Packing is greedy by ascending row count into bins of at most
    * `maxGroupRows` rows; only bins holding >= 2 files rewrite (a
    * singleton bin is already compact — carried by reference). A packed
    * file may serve MULTIPLE partition values; the manifest maps
    * (file, part) pairs, and [[merge]] already rewrites whole touched
    * files, so a later merge on any packed partition simply re-splits
    * that file — correctness is unchanged, the rewrite just spans the
    * bin. Pass the store's `statsCol` to keep the packed files'
    * envelopes/sketches prunable.
    *
    * At 100 TB: the plan is driver-side over the manifest (file-count
    * rows); ALL bins rewrite in ONE job — every fragment is scanned
    * once, tagged with its bin from a broadcast file→bin map on
    * `input_file_name()`, and hash-repartitioned on the bin id so each
    * bin's rows land in exactly one task writing exactly one packed
    * file. The pre-r16 shape (one `coalesce(1)` job per bin, submitted
    * serially from the driver) had a wall-clock floor of
    * bins × scheduling-latency — thousands of SEQUENTIAL driver-
    * coordinated jobs at production file counts; the single job's wall
    * is the actual I/O, and parallelism is the executor pool's, not the
    * driver loop's. Returns the committed version. */
  def compact(spark: SparkSession, dir: String, partCol: String,
      statsCol: Option[String] = None, maxGroupRows: Long = 1L << 20,
      statsCols: Seq[String] = Nil): Long = {
    val v = latest(dir)
    val next = v + 1
    val sch = readSchema(dir, v)
    val prevMap = mapping(sch)
    val mDf = readManifest(spark, dir, v)
    val mSchema = mDf.schema
    val mRows = mDf.collect()
    val (fIdx, rIdx, sIdx) = (mSchema.fieldIndex("file"),
      mSchema.fieldIndex("rows"), mSchema.fieldIndex("stats"))
    // Pack order decides post-compact SKIPPING quality: packing by size
    // scrambles key ranges, so a packed file's envelope spans everything
    // and readPoints/readRange degrade to scanning every bin. With a
    // stats column, pack by ascending envelope of the FIRST one instead
    // — bins then hold CONTIGUOUS key ranges and the packed files stay
    // as prunable as the fragments were (files with no stats for it
    // sort last, packed together). Without one, pack by size.
    val packCol = (statsCol.toSeq ++ statsCols).headOption
      .map(c => prevMap.getOrElse(c, c))
    def mnOf(r: Row): Option[Long] = for {
      c <- packCol
      m <- Option(r.getMap[String, Row](sIdx))
      st <- m.get(c) if st != null && !st.isNullAt(0)
    } yield st.getLong(0)
    val fileRows = mRows.groupBy(_.getString(fIdx)).view
      .mapValues(rs => (rs.map(_.getLong(rIdx)).sum, rs.flatMap(mnOf).minOption))
      .toSeq
      .sortBy { case (f, (n, mn)) => (mn.getOrElse(Long.MaxValue), n, f) }
      .map { case (f, (n, _)) => (f, n) }
    val groups = Vector.newBuilder[Vector[String]]
    var cur = Vector.empty[String]
    var curRows = 0L
    for ((f, n) <- fileRows) {
      if (cur.nonEmpty && curRows + n > maxGroupRows) {
        groups += cur; cur = Vector(f); curRows = n
      } else { cur :+= f; curRows += n }
    }
    if (cur.nonEmpty) groups += cur
    val rewrite = groups.result().filter(_.size >= 2)
    require(rewrite.nonEmpty,
      s"Versioned.compact: nothing to compact under $dir — every bin " +
        s"holds a single file at maxGroupRows=$maxGroupRows (raise it, " +
        "or the store is already compact)")
    val physSch = physicalSchema(sch)
    require(!physSch.fieldNames.contains("__bin"),
      "Versioned: column name __bin is reserved (compaction bin dirs)")
    val dataPath = newDataDir(dir, next)
    val binOf: Map[String, Int] = rewrite.zipWithIndex
      .flatMap { case (g, i) => g.flatMap(f => Seq(f -> i, norm(f) -> i)) }
      .toMap
    val binUdf = udf((f: String) => binOf.get(f).orElse(binOf.get(norm(f))))
    // physical read, physical write: compaction moves bytes between
    // files, never through the logical namespace — and reading under
    // the committed physical schema NULL-fills columns the oldest
    // fragments predate (schema evolution), exactly like any read
    val reader = spark.read.schema(physSch)
    // DV'd fragments materialize their tombstones during the pack (the
    // anti-join rides the same scan — __bin and the dv file tag are both
    // computed scan-side, below the join); the packed files' fresh
    // manifest rows carry no dv. The scan is PHYSICAL, so the tombstone
    // key_col (physical by construction) applies with no translation.
    val packedScan = applyDv(spark,
      reader.parquet(rewrite.flatten.map(Manifest.unglob): _*)
        .withColumn("__bin", coalesce(binUdf(input_file_name()),
          raise_error(concat(
            lit("Versioned.compact: scanned a file outside the rewrite " +
              "set (file→bin normalization drift): "),
            input_file_name())).cast("int"))),
      dvPathsOf(mDf, Some(rewrite.flatten.toSet)), identity)
    packedScan
      .repartition(rewrite.size, col("__bin"))
      .write.partitionBy("__bin").mode("errorifexists").parquet(dataPath)
    val fresh = fileParts(spark, dataPath,
      prevMap.getOrElse(partCol, partCol),
      (statsCol.toSeq ++ statsCols).distinct
        .map(c => prevMap.getOrElse(c, c)), Some(physSch))
    commitManifest(spark, dir, next, carriedRows(spark, mDf, mRows,
      rewrite.flatten.toSet).unionByName(fresh), sch)
    next
  }

  /** RE-CLUSTER the latest snapshot along a space-filling curve — the
    * Delta `OPTIMIZE ZORDER BY` lifecycle as a store maintenance commit
    * (init-time layout only helps tables born clustered; real tables
    * accrete under an ingest partitioning and get their layout HERE).
    * One job rewrites every live row into curve-range tiles (top
    * `tileBits` bits of the `bits`-per-dim index over `dims`; rows
    * sorted by the full index inside each tile, so parquet row groups
    * inherit the locality too), commits fresh manifests with multi-dim
    * stats on `dims` — point/range probes on ANY dim then prune files
    * the way [[compact]]'s key-adjacent packing prunes its one key.
    *
    * Everything rides the existing contracts: DV'd files materialize
    * their tombstones during the rewrite; the schema is untouched (the
    * tile is directory layout, not a column — same `__bin` trick as
    * compact); time travel keeps prior versions in their old layout;
    * and the change feed across the recluster emits ZERO rows (the
    * key-diff drops rewritten-but-unchanged rows, exactly the compact
    * argument). `curve` is "hilbert" (default — unit-step locality) or
    * "zorder". At 100 TB this is the scheduled maintenance rewrite; its
    * cost is one full COW pass, amortized over every probe after it. */
  def recluster(spark: SparkSession, dir: String, partCol: String,
      dims: Seq[String], bits: Int, tileBits: Int = 5,
      curve: String = "hilbert", statsCols: Seq[String] = Nil): Long = {
    require(dims.size >= 2,
      s"Versioned.recluster: need >= 2 dims, got $dims")
    require(curve == "hilbert" || curve == "zorder",
      s"Versioned.recluster: unknown curve '$curve'")
    // tiles are partition DIRECTORIES and shuffle partitions: 2^20 is
    // already beyond any sane layout, and the cap keeps `1 << tileBits`
    // safely inside Int (a 31+ shift would wrap the partition count)
    require(tileBits >= 1 && tileBits <= math.min(20, dims.size * bits),
      s"Versioned.recluster: tileBits in [1, " +
        s"${math.min(20, dims.size * bits)}]")
    val v = latest(dir)
    val next = v + 1
    val sch = readSchema(dir, v)
    val prevMap = mapping(sch)
    val mDf = readManifest(spark, dir, v)
    val (files, dvPaths) = filesAndDvs(mDf)
    require(files.nonEmpty,
      s"Versioned.recluster: $dir has no data files at v$v")
    val physSch = physicalSchema(sch)
    require(!physSch.fieldNames.contains("__tile") &&
      !physSch.fieldNames.contains("__cidx"),
      "Versioned: column names __tile/__cidx are reserved (recluster)")
    val physDims = dims.map(d => prevMap.getOrElse(d, d)).map(col)
    val fn = if (curve == "hilbert") "graft_hilbert" else "graft_zvalue"
    val idx = call_function(fn, (lit(bits) +: physDims): _*)
    val scan = applyDv(spark,
      spark.read.schema(physSch).parquet(files.map(Manifest.unglob): _*),
      dvPaths, identity)
    val dataPath = newDataDir(dir, next)
    scan
      .withColumn("__cidx", idx)
      .withColumn("__tile",
        shiftright(col("__cidx"), dims.size * bits - tileBits))
      .repartition(1 << tileBits, col("__tile"))
      .sortWithinPartitions(col("__tile"), col("__cidx"))
      .drop("__cidx") // projection — the established order survives
      .write.partitionBy("__tile").mode("errorifexists").parquet(dataPath)
    val physPart = prevMap.getOrElse(partCol, partCol)
    val fresh = fileParts(spark, dataPath, physPart,
      (dims ++ statsCols).distinct.map(c => prevMap.getOrElse(c, c)),
      Some(physSch))
    commitManifest(spark, dir, next, fresh, sch)
    next
  }

  /** RESTORE: roll the table back to `toVersion` by committing a NEW
    * version whose manifest (and sidecar schema) equal the old one's —
    * the Delta RESTORE contract. History is never rewritten: the bad
    * versions stay readable (audit), the restore is itself a commit
    * (concurrency-safe through the same protocol, visible in the change
    * feed as the inverse of what it undoes — [[changes]] across the
    * restore emits exactly the rows that revert), and zero data files
    * move (COW files of the restored version still exist unless
    * vacuumed past — a vacuumed target fails loudly at read, not
    * silently empty). Returns the committed version. */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = {
    val v = latest(dir)
    require(versions(dir).contains(toVersion),
      s"Versioned.restore: version $toVersion not in ${versions(dir)}")
    require(toVersion < v,
      s"Versioned.restore: $toVersion is not a PRIOR version (latest $v)")
    val next = v + 1
    commitManifest(spark, dir, next,
      readManifest(spark, dir, toVersion),
      readSchema(dir, toVersion))
    next
  }

  /** SHALLOW CLONE: commit `dst`'s version 1 as a ZERO-COPY fork of
    * `src` at `version` (default latest) — the Delta SHALLOW CLONE
    * contract. The manifest is copied BY REFERENCE: every row keeps its
    * absolute path into `src`'s immutable data files (stats included —
    * the files are byte-identical, so their envelopes stay exact), the
    * committed sidecar schema rides along, and zero data bytes move.
    * Later writes to the clone COW into the CLONE's own data dir:
    * [[merge]] rewrites only churned partitions (into `dst/data/...`)
    * and carries untouched `src` files by reference until the clone
    * churns them — the fork pays only for its own divergence, which at
    * 100 TB is the difference between an experiment costing gigabytes
    * and one costing the table.
    *
    * CAVEAT (the same one Delta documents): the clone references
    * `src`'s files but `src`'s [[vacuum]] does not know about clones —
    * vacuuming `src` past the cloned version breaks the clone's
    * un-diverged partitions. Pin `src` retention at (or compact the
    * clone fully after) the fork point. `vacuum(dst)` is always safe:
    * its orphan walk deletes only under `dst/data`, never `src`'s
    * files. Returns the clone's committed version (1). */
  def shallowClone(spark: SparkSession, src: String, dst: String,
      version: Long = -1L): Long = {
    val v = resolve(src, version)
    require(versions(dst).isEmpty, s"Versioned: $dst already initialized")
    commitManifest(spark, dst, 1L,
      readManifest(spark, src, v), readSchema(src, v))
    1L
  }

  /** RENAME a column — a metadata-only commit (the Delta column-mapping
    * contract): the new version's sidecar schema carries the new LOGICAL
    * name while the field keeps its on-disk PHYSICAL name, the manifest
    * is copied by reference, and ZERO data files are touched. A read at
    * any PRIOR version still answers in that version's own names (each
    * sidecar is a committed fact); a later [[merge]]'s fresh files keep
    * writing the physical name, so one physical schema spans the whole
    * history. Returns the committed version. */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String): Long = {
    val v = latest(dir)
    val next = v + 1
    val sch = readSchema(dir, v)
    require(sch.fieldNames.contains(from),
      s"Versioned.renameColumn: no column $from in ${sch.fieldNames.toSeq}")
    require(!sch.fieldNames.contains(to),
      s"Versioned.renameColumn: column $to already exists")
    require(to != PartDir, s"Versioned: column name $PartDir is reserved")
    val newSch = StructType(sch.fields.map { f =>
      if (f.name != from) f
      else {
        val phys = physName(f)
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        val md = (if (phys != to) mb.putString(PhysKey, phys)
                  else mb.remove(PhysKey)).build()
        StructField(to, f.dataType, f.nullable, md)
      }
    })
    commitManifest(spark, dir, next, readManifest(spark, dir, v), newSch)
    next
  }

  /** DROP a column — metadata-only, like [[renameColumn]]: the new
    * sidecar schema simply omits the field; data files keep the bytes
    * (prior versions still read them) until their files churn out of
    * later manifests naturally. Do NOT drop the partition or merge-key
    * column — later merges need both (the store does not record them, so
    * this cannot be validated here). */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long = {
    val v = latest(dir)
    val next = v + 1
    val sch = readSchema(dir, v)
    require(sch.fieldNames.contains(name),
      s"Versioned.dropColumn: no column $name in ${sch.fieldNames.toSeq}")
    require(sch.fields.length >= 2,
      "Versioned.dropColumn: refusing to drop the last column")
    val mDf = readManifest(spark, dir, v)
    // dropping the column live deletion vectors KEY ON would brick the
    // snapshot: every read applies the dvs by that (physical) column,
    // which the post-drop projection no longer carries — refuse loudly
    // (rewrite the dvs away first: any merge/compact of the DV'd files
    // materializes them). The check reads key_col from the handful of
    // referenced tombstone files — deletion-sized, not table-sized.
    val phys = sch.fields.find(_.name == name).map(physName).getOrElse(name)
    val dvs = dvPathsOf(mDf)
    if (dvs.nonEmpty) {
      // unglob like every other DV read (readTombstones): manifest
      // paths are raw strings, and glob metacharacters or spaces in the
      // store path would otherwise make this guard throw path-not-found
      val dvKeyCols = readTombstones(spark, dvs)
        .select(col("key_col")).distinct()
        .collect().map(_.getString(0)).toSet
      require(!dvKeyCols.contains(phys),
        s"Versioned.dropColumn: live deletion vectors key on '$name' " +
          s"(physical '$phys') — every read at the new version would " +
          "fail to apply them. Materialize the tombstones first " +
          "(compact, or merge the affected partitions), then drop.")
    }
    commitManifest(spark, dir, next, mDf,
      StructType(sch.fields.filter(_.name != name)))
    next
  }

  /** Row-level CHANGE FEED between two committed versions (the
    * lakehouse CDF idea): every key inserted ("I"), updated ("U"), or
    * deleted ("D") going `fromV` → `toV`, with the surviving row's
    * values (the retired row's for "D").
    *
    * The COW layout makes this cheap at 100 TB: files shared by both
    * manifests are byte-identical (append-only store), so their rows
    * CANNOT differ — only files unique to either manifest participate.
    * The diff therefore reads ~the churned partitions of the interval,
    * never the table; rewritten-but-unchanged rows (kept rows inside a
    * churned partition) compare equal and are excluded. Under schema
    * evolution both slices read through `toV`'s committed schema, so a
    * column added in the interval shows as NULL-before. */
  def changes(spark: SparkSession, dir: String, fromV: Long, toV: Long,
      keyCol: String): DataFrame = changesImpl(spark, dir, fromV, toV,
        keyCol, withPreImages = false)

  /** [[changes]] with UPDATE PRE-IMAGES (the full Delta-CDF row
    * contract): an updated key emits TWO rows — op "U_pre" carrying the
    * retired values and "U_post" the surviving ones — alongside "I" and
    * "D". This is the shape an incremental consumer needs to maintain a
    * downstream AGGREGATE without recompute: sum the payload with sign
    * +1 for I/U_post and -1 for D/U_pre and the delta applies in one
    * pass, in any order (addition commutes — see the stream_k21_cdf
    * gate). Same churned-partitions-only file pruning as [[changes]]. */
  def changesWithPreImages(spark: SparkSession, dir: String, fromV: Long,
      toV: Long, keyCol: String): DataFrame =
    changesImpl(spark, dir, fromV, toV, keyCol, withPreImages = true)

  private def changesImpl(spark: SparkSession, dir: String, fromV: Long,
      toV: Long, keyCol: String, withPreImages: Boolean): DataFrame = {
    require(fromV < toV, s"Versioned.changes: need fromV < toV, got $fromV >= $toV")
    val vs = versions(dir)
    require(vs.contains(fromV) && vs.contains(toV),
      s"Versioned.changes: versions ($fromV, $toV) must both be in $vs")
    // identity is (file, dv signature): a DV delete changes no file but
    // MUST churn the slice — the file re-reads on both sides, old
    // tombstones vs new, and the key diff emits exactly the newly
    // tombstoned rows as "D" (a compaction-style rewrite stays invisible
    // exactly as before: rewritten-but-unchanged rows drop out)
    def manifestEntries(v: Long): Map[String, Seq[String]] =
      readManifest(spark, dir, v).select(col("file"), col("dv"))
        .collect().map { r =>
          val dv = if (r.isNullAt(1)) Seq.empty[String]
            else r.getSeq[String](1).toIndexedSeq
          r.getString(0) -> dv
        }.groupBy(_._1).view
        .mapValues(_.flatMap(_._2).distinct.sorted.toIndexedSeq)
        .toMap
    val (e1, e2) = (manifestEntries(fromV), manifestEntries(toV))
    val id1 = e1.toSet
    val id2 = e2.toSet
    val schema = readSchema(dir, toV)
    // an empty side is a schema-correct empty frame straight from the
    // committed sidecar — robust even when toV's own manifest is EMPTY
    // (an all-deletes merge that retired every file), where a zero-path
    // parquet read would throw instead of answering with an empty feed
    def slice(files: Set[String]): DataFrame =
      if (files.isEmpty) spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
      else readFiles(spark, files.toIndexedSeq, schema)
    def dvSlice(churned: Set[String], dvs: Map[String, Seq[String]])
        : DataFrame =
      applyDv(spark, slice(churned),
        churned.toSeq.flatMap(f => dvs.getOrElse(f, Seq.empty)).distinct,
        logicalNameOf(schema))
    val oldChurned = (id1 -- id2).map(_._1)
    val newChurned = (id2 -- id1).map(_._1)
    val oldS = dvSlice(oldChurned, e1)
    val newS = dvSlice(newChurned, e2)
    val cols = newS.columns.toSeq
    val payload = cols.filterNot(_ == keyCol)
    val o = oldS.select(col(keyCol),
      struct(payload.map(col): _*).as("__o"))
    val n = newS.select(col(keyCol),
      struct(payload.map(col): _*).as("__n"))
    val diffed = o.join(n, Seq(keyCol), "full_outer")
      .withColumn("op",
        when(col("__o").isNull, "I")
          .when(col("__n").isNull, "D")
          .when(!(col("__o") <=> col("__n")), "U"))
      .filter(col("op").isNotNull) // rewritten-but-unchanged drops out
    if (!withPreImages)
      diffed.select(Seq(col("op"), col(keyCol)) ++ payload.map(c =>
        // U/I carry the NEW row's values (even where the new value is
        // NULL — coalesce would wrongly resurrect the old one); D
        // carries the retired row's
        when(col("op") === "D", col(s"__o.$c"))
          .otherwise(col(s"__n.$c")).as(c)): _*)
    else
      // an update fans out into its pre/post pair scan-side (one
      // explode, no second diff pass)
      diffed.select(col(keyCol), col("__o"), col("__n"),
          explode(when(col("op") === "U",
            array(lit("U_pre"), lit("U_post")))
            .otherwise(array(col("op")))).as("op"))
        .select(Seq(col("op"), col(keyCol)) ++ payload.map(c =>
          when(col("op").isin("D", "U_pre"), col(s"__o.$c"))
            .otherwise(col(s"__n.$c")).as(c)): _*)
  }

  /** [[merge]] with the optimistic-concurrency RETRY LOOP a contended
    * writer needs: on losing a commit race (the
    * [[ConcurrentCommitException]] the pointer create throws), re-run
    * the whole merge against the NEW latest — correct by construction
    * because [[merge]] re-reads `latest(dir)` and re-derives its slice
    * on every attempt, so the retry sees (and preserves) the winner's
    * rows. Source semantics must be retry-safe the way MERGE sources
    * are: the same upsert applied against a newer snapshot (our arms
    * are; a read-modify-write source computed OUTSIDE the merge would
    * need re-derivation by the caller).
    * `maxAttempts` exhaustion rethrows the last loss. */
  def mergeRetry(spark: SparkSession, dir: String, partCol: String,
      keyCol: String, source: DataFrame, opCol: String = "op",
      checkKeyMoves: Boolean = false, mergeSchema: Boolean = false,
      statsCol: Option[String] = None, maxAttempts: Int = 5,
      statsCols: Seq[String] = Nil): Long =
    retryRaces("mergeRetry", dir, maxAttempts)(merge(spark, dir, partCol,
      keyCol, source, opCol, checkKeyMoves, mergeSchema, statsCol, statsCols))

  /** The ONE optimistic-concurrency retry loop: run `attempt` up to
    * `maxAttempts` times, backing off 10 ms × attempt after each lost
    * commit race. Retries ONLY [[ConcurrentCommitException]] — any other
    * failure (broken invariant, stopped context) propagates on attempt
    * 1; exhaustion throws a race naming `op` with the last loss as
    * cause. */
  private def retryRaces[T](op: String, dir: String, maxAttempts: Int)(
      attempt: => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var n = 0
    var last: ConcurrentCommitException = null
    while (n < maxAttempts) {
      n += 1
      try return attempt
      catch {
        case e: ConcurrentCommitException =>
          last = e
          Thread.sleep(10L * n)
      }
    }
    throw new ConcurrentCommitException(
      s"Versioned.$op: lost the commit race $maxAttempts times under " +
        s"$dir — contention exceeds the retry budget", last)
  }

  /** The LAST txn_version application `appId` committed into this
    * store's log, or None if it never wrote one. Scans versions
    * newest-first and stops at the first `_txn.json` naming `appId` —
    * commits are linear, so the first hit IS the app's latest. Cost is
    * O(versions since the app's last write): one tiny sidecar read per
    * version walked, no data or manifest scan. At 100 TB the walk is
    * bounded the way Delta bounds it — an app that writes every batch
    * finds its record within one interleaving window; a log checkpoint
    * would fold these into one file, and the sidecar-per-version layout
    * is exactly the shape such a fold consumes. */
  def txnVersion(dir: String, appId: String): Option[Long] = {
    val live = versions(dir).reverse.iterator.map { v =>
      readTxnSidecar(new java.io.File(manifestDir(dir, v), "_txn.json"))
        .collect { case (app, tv) if app == appId => tv }
    }.collectFirst { case Some(tv) => tv }
    // a live hit is committed at a HIGHER version than anything a vacuum
    // rolled up, and txn versions are monotonic per app — so it wins;
    // the rollup answers only for apps idle past the retention window
    live.orElse(txnRollup(dir).get(appId))
  }

  /** EXACTLY-ONCE writer entry point: [[merge]] that skips — commits
    * NOTHING, not even an empty version — when `(appId, txnVer)` is
    * already recorded in the log at `txnVer` or later. The txn fact
    * rides the same atomic commit as the manifest, so the check-then-
    * commit race resolves itself: two replayed writers of the same
    * batch both pass the check, exactly one wins the version commit,
    * and the loser's retry re-reads the log, finds the txn recorded,
    * and skips. This is what makes a Structured Streaming foreachBatch
    * restart safe ([[upsertSink]]): a crash AFTER the store commit but
    * BEFORE the checkpoint's offset commit redelivers the batch under
    * the same batchId, and the redelivery lands here as a no-op.
    * Returns (version, committed): the store's latest after the call,
    * and whether THIS call committed it. `txnVer` must be monotonic per
    * app (batchIds are); a lower-than-recorded value is treated as the
    * same replay shape and skipped.
    *
    * SOUNDNESS: the txn check and the commit are made effectively
    * atomic by PINNING the parent version — the merge derives from and
    * commits exactly (checked-latest)+1, so ANY commit interleaving
    * between the check and ours (the other replica of this very batch
    * included) collides on the version and surfaces as the commit race,
    * never as a silent re-derive against a newer latest that would
    * double-apply the batch. */
  def mergeIdempotent(spark: SparkSession, dir: String, partCol: String,
      keyCol: String, source: DataFrame, appId: String, txnVer: Long,
      opCol: String = "op", mergeSchema: Boolean = false,
      statsCol: Option[String] = None, statsCols: Seq[String] = Nil,
      maxAttempts: Int = 5): (Long, Boolean) = {
    // the id round-trips through a JSON sidecar (regex-parsed, `.` stops
    // at line terminators) and a \n-separated vacuum rollup — restrict
    // to a token alphabet so a malformed id fails HERE, not as a
    // never-matching sidecar that silently voids idempotence
    require(appId.nonEmpty && appId.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"Versioned.mergeIdempotent: appId must match [A-Za-z0-9._-]+: '$appId'")
    retryRaces("mergeIdempotent", dir, maxAttempts) {
      val parent = latest(dir)
      if (txnVersion(dir, appId).exists(_ >= txnVer)) (latest(dir), false)
      else (merge(spark, dir, partCol, keyCol, source, opCol,
        checkKeyMoves = false, mergeSchema = mergeSchema,
        statsCol = statsCol, statsCols = statsCols,
        txn = Some((appId, txnVer)), parentVersion = Some(parent)), true)
    }
  }

  /** A foreachBatch function that upserts each micro-batch into the
    * store EXACTLY ONCE across query restarts — the streaming-ingest
    * sink (Delta's txnAppId/txnVersion contract, re-expressed): wire it
    * as `stream.writeStream.foreachBatch(Versioned.upsertSink(...))`
    * with a DURABLE checkpoint. Spark's contract makes batch content
    * deterministic per batchId for replayable sources, so `batchId` is
    * the txn version; a post-commit-pre-checkpoint crash redelivers the
    * batch and [[mergeIdempotent]] skips it. The store must already be
    * initialized — batch data cannot init it idempotently (init has no
    * txn seat) and a sink that silently creates tables hides deployment
    * mistakes. */
  def upsertSink(spark: SparkSession, dir: String, partCol: String,
      keyCol: String, appId: String, opCol: String = "op")
      : (DataFrame, Long) => Unit = {
    require(versions(dir).nonEmpty,
      s"Versioned.upsertSink: store $dir must be initialized before " +
        "streaming into it (Versioned.init)")
    (batch: DataFrame, batchId: Long) => {
      mergeIdempotent(spark, dir, partCol, keyCol, batch, appId, batchId,
        opCol)
      ()
    }
  }

  /** [[deleteKeysDv]] with the same optimistic-concurrency retry loop as
    * [[mergeRetry]] — correct for the same reason: every attempt
    * re-reads `latest(dir)` and re-derives its tombstones against the
    * winner's snapshot (a file the winner rewrote no longer holds the
    * key, or holds it in a fresh file the re-derived scan attributes
    * correctly). Retries ONLY the commit race. */
  def deleteKeysDvRetry(spark: SparkSession, dir: String, partCol: String,
      keyCol: String, keys: DataFrame, maxAttempts: Int = 5): Long =
    retryRaces("deleteKeysDvRetry", dir, maxAttempts)(
      deleteKeysDv(spark, dir, partCol, keyCol, keys))

  /** Reclaim CRASHED and LOST-RACE commit attempts: every attempt
    * writes its data under a token-unique dir and only the pointer
    * create commits it, so a writer that died mid-attempt (or lost the
    * race) leaves a data dir no manifest references — invisible to
    * reads, never blocking (the next attempt takes a fresh token), just
    * occupying space. This deletes every data dir with ZERO files
    * referenced by any committed manifest, plus the log's stranded
    * staging (`m-*` manifest dirs no pointer names, `.ptr-*` temp
    * files), and returns the removed data-dir names. Run
    * it like [[vacuum]] — from the maintenance schedule with writers
    * quiesced; an IN-FLIGHT attempt looks exactly like a crash from
    * here. */
  def recover(spark: SparkSession, dir: String): Seq[String] = {
    val referenced = referencedFiles(spark, dir, versions(dir))
    val orphaned = Option(new java.io.File(s"$dir/data").listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        !TmpDirs.leafFiles(d.getPath).exists(f =>
          f.getName.endsWith(".parquet") && referenced(f.getCanonicalPath)))
      .map(_.getName).sorted.toIndexedSeq
    orphaned.foreach(n => TmpDirs.rmTree(s"$dir/data/$n"))
    val pointed = versions(dir)
      .map(v => new java.io.File(manifestDir(dir, v)).getName).toSet
    Option(new java.io.File(logRoot(dir)).listFiles())
      .getOrElse(Array.empty)
      .filter { f =>
        (f.isFile && f.getName.startsWith(".ptr-")) ||
          (f.isDirectory && f.getName.startsWith("m-") && !pointed(f.getName))
      }
      .foreach(f => TmpDirs.rmTree(f.getPath))
    orphaned
  }

  /** Reclaim history: drop manifests BELOW `retainFrom` and delete every
    * data file no retained manifest references. The explicit maintenance
    * pass the scaladoc promises (k13 economics) — never the write path;
    * after it, `read` at any retained version is unchanged (its files
    * were all referenced, hence kept) and older versions are gone.
    * Returns the deleted data-file count. */
  def vacuum(spark: SparkSession, dir: String, retainFrom: Long): Int = {
    val (drop, keep) = versions(dir).partition(_ < retainFrom)
    require(keep.nonEmpty,
      s"Versioned.vacuum: retainFrom=$retainFrom would drop every version")
    val referenced = referencedFiles(spark, dir, keep)
    val orphans = TmpDirs.leafFiles(s"$dir/data")
      .filter(f => f.getName.endsWith(".parquet") &&
        !referenced(f.getCanonicalPath))
    orphans.foreach(_.delete())
    // deletion-vector economics ride the same pass: tombstone dirs no
    // retained manifest's dv array references are reclaimed with their
    // versions (a dv referenced by ANY retained manifest must survive
    // or reads there would resurrect deleted rows)
    val dvRoot = new java.io.File(s"$dir/dv")
    if (dvRoot.isDirectory) {
      val keptDvs = keep.flatMap { v =>
        dvPathsOf(readManifest(spark, dir, v))
      }.map(p => new java.io.File(p).getCanonicalPath).toSet
      Option(dvRoot.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && !keptDvs(d.getCanonicalPath))
        .foreach(d => TmpDirs.rmTree(d.getPath))
    }
    // carry dropped txn facts forward BEFORE any manifest dies: an
    // idempotent app idle longer than the retention window must still
    // find its last txn_version, or a replayed batch double-applies.
    // The max-merge of (existing rollups + dropping manifests' txns) is
    // written as a NEW rollup first, old rollups deleted after — a crash
    // between the two leaves duplicates, which max-merge absorbs.
    // (Single-maintenance-writer assumption, same as vacuum itself.)
    val oldRollups = txnRollupFiles(dir)
    val carried = scala.collection.mutable.Map[String, Long]()
    txnRollup(dir).foreach { case (a, tv) => carried(a) = tv }
    drop.foreach { v =>
      readTxnSidecar(new java.io.File(manifestDir(dir, v), "_txn.json"))
        .foreach { case (a, tv) =>
          if (carried.getOrElse(a, Long.MinValue) < tv) carried(a) = tv }
    }
    if (carried.nonEmpty) {
      val body = carried.toSeq.sortBy(_._1)
        .map { case (a, tv) => s"$a\t$tv" }.mkString("\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          s"${logRoot(dir)}/_txns-$retainFrom-${System.nanoTime()}.tsv"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      oldRollups.foreach(f => { f.delete(); () })
    }
    drop.foreach { v =>
      // resolve, then uncommit (pointer first), then reclaim: a crash in
      // between leaves an unpointed `m-*` dir for [[recover]], never a
      // pointer to a missing manifest
      val md = manifestDir(dir, v)
      java.nio.file.Files.delete(java.nio.file.Paths.get(pointer(dir, v)))
      TmpDirs.rmTree(md)
    }
    orphans.size
  }

  /** Canonical local paths of every data file the manifests of `vs`
    * reference — the live set [[recover]] and [[vacuum]] keep. */
  private def referencedFiles(spark: SparkSession, dir: String,
      vs: Seq[Long]): Set[String] =
    vs.flatMap { v =>
      readManifest(spark, dir, v)
        .select(col("file"))
        .collect().map(r => new java.io.File(
          new org.apache.hadoop.fs.Path(
            new java.net.URI(r.getString(0))).toUri.getPath).getCanonicalPath)
    }.toSet

  private def txnRollupFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(logRoot(dir)).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.startsWith("_txns-") &&
        f.getName.endsWith(".tsv"))

  /** Max-merged txn facts from every vacuum rollup under the log —
    * the VACUUMED history's contribution to [[txnVersion]]. */
  private def txnRollup(dir: String): Map[String, Long] =
    txnRollupFiles(dir).flatMap { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty).map { line =>
          val i = line.lastIndexOf('\t')
          (line.substring(0, i), line.substring(i + 1).toLong)
        }
    }.groupBy(_._1).map { case (a, vs) => a -> vs.map(_._2).max }

  private def readTxnSidecar(f: java.io.File): Option[(String, Long)] =
    if (!f.isFile) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val re = """\{"app_id": "(.*)", "txn_version": (-?\d+)\}""".r
      txt.trim match {
        case re(app, tv) => Some((app, tv.toLong))
        case _ => None
      }
    }
}

