package graft

import graft.functions.TimeFns._
import graft.functions.TextFns._
import graft.functions.VectorFns
import graft.multimodal.Multimodal
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lakehouse table maintenance and ingest-edge sources: compaction,
  * MERGE, manifests, retention, pseudonymization, file-format round-trips.
  *
  * Gate registry family split out of SparkEntry (round 13, registry
  * hygiene); SparkEntry.queries/oracleSql union the six families.
  */
private[graft] object GatesMaintenance {
  import GateSupport._

  /** The layout gates' rows: `orders` keyed by `k` with its price and
    * two 10-bit dims `x` and `y`. */
  private def xyStore(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        pmod(col("o_orderkey"), lit(1024L)).as("x"),
        pmod(expr("o_orderkey div 7"), lit(1024L)).as("y"),
        dec("o_totalprice").as("price"))

  /** The z-order and Hilbert gates' probes: a point and a range on each
    * dim, as (label, dim, lo, hi). */
  private val xyProbes = Seq(
    ("x_point", "x", 777L, 777L), ("x_range", "x", 128L, 159L),
    ("y_point", "y", 333L, 333L), ("y_range", "y", 512L, 543L))

  /** The recluster gate's range probes, as (label, dim, lo, hi). */
  private val reclusterProbes = Seq(
    ("x_lo", "x", 128L, 159L), ("x_hi", "x", 300L, 363L),
    ("y_lo", "y", 64L, 127L), ("y_hi", "y", 512L, 543L))

  /** Oracle of a layout gate: every probe replayed over the plain table
    * (`y` spelled as `yExpr`), with the gate's pinned verdict columns. */
  private def xyProbeSql(yExpr: String,
      probes: Seq[(String, String, Long, Long)], pins: String): String = {
    val rows = probes.zipWithIndex.map {
      case ((l, c, lo, hi), 0) =>
        s"  SELECT '$l' AS probe, '$c' AS pcol, $lo AS lo, $hi AS hi"
      case ((l, c, lo, hi), _) => s"  UNION ALL SELECT '$l', '$c', $lo, $hi"
    }.mkString("\n")
    s"""WITH base AS (SELECT o_orderkey AS k,
       |    o_orderkey % 1024 AS x, $yExpr AS y,
       |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
       |probes AS (
       |$rows)
       |SELECT p.probe, CAST(COUNT(s.k) AS BIGINT) AS n,
       |  CAST(COALESCE(SUM(s.price), 0) AS DOUBLE) AS price_sum,
       |  CAST(COALESCE(SUM(s.k), 0) AS BIGINT) AS key_sum,
       |$pins
       |FROM probes p
       |LEFT JOIN base s ON
       |  ((p.pcol = 'x' AND s.x >= p.lo AND s.x <= p.hi)
       |    OR (p.pcol = 'y' AND s.y >= p.lo AND s.y <= p.hi))
       |GROUP BY p.probe ORDER BY p.probe""".stripMargin
  }

  /** The k22/k35 oracle's replay of [[GateSupport.rangeStore]]: `base`,
    * the max key `mx` and the v2 snapshot. */
  private val rangeStoreSql: String =
    """WITH base AS (SELECT o_orderkey AS k,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
      |mxv AS (SELECT MAX(k) AS mx FROM base),
      |v2 AS (
      |  SELECT k, price FROM base, mxv
      |    WHERE NOT (k <= mx//8 AND k % 3 IN (0, 1))
      |  UNION ALL
      |  SELECT k, CAST(price * 2 AS DECIMAL(18,2)) FROM base, mxv
      |    WHERE k <= mx//8 AND k % 3 = 0
      |  UNION ALL
      |  SELECT k + 80000000, price FROM base, mxv
      |    WHERE k <= mx//8 AND k % 3 = 2)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── Z-order layout key: the native Morton-interleave expression
    // (expressions/ZValue.scala) computed over two part-derived dims.
    // The gate pins the BIT-EXACT curve value against an oracle that
    // spells out the interleave as shifts and ORs — a wrong bit
    // position, mask, or column order lands a different long. The
    // layout PAYOFF (per-file min/max envelopes, file skipping) is
    // measured in ZOrderSpec, where two written layouts are compared;
    // a value gate is the right oracle shape because layout itself
    // never changes query answers.
    "zorder_layout" -> ((s, dir) => {
      import graft.functions.LayoutFns
      Tables.part(s, dir).select(col("p_partkey"),
          pmod(col("p_partkey"), lit(1024L)).as("x"),
          pmod(expr("p_partkey div 7"), lit(1024L)).as("y"))
        .select(col("p_partkey"),
          LayoutFns.zvalue(10, col("x"), col("y")).as("zval"))
        .orderBy(col("p_partkey"))
    }),


    // ── K8: partition backfill — dynamic partitionOverwriteMode scoped
    // to one write. The initial store lands TWO poisoned day partitions
    // (users zeroed on 01-05 and 01-09); the backfill recomputes ONLY
    // 01-05. Final truth: 01-05 corrected, 01-09 still poisoned, every
    // other day intact — which distinguishes dynamic overwrite from
    // both failure modes: a static overwrite would delete the other 28
    // days (row-count mismatch), a no-op backfill leaves 01-05 poisoned
    // (hash mismatch). Counting columns only (ct/users) — no double
    // sums ride the store.
    "k8_partition_backfill" -> ((s, dir) =>
        withScratch("k8_partition_backfill") { path =>
      val (dayX, dayY) = ("2024-01-05", "2024-01-09")
      val truth = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("dt"), col("event_type"))
        .agg(count(lit(1)).as("ct"),
          countDistinct(col("user_id")).as("users"))
      val poisoned = truth.withColumn("users",
        when(col("dt").isin(dayX, dayY), lit(0L)).otherwise(col("users")))
      poisoned.write.mode("overwrite").partitionBy("dt").parquet(path)
      graft.streaming.Sinks.overwritePartitions(
        truth.filter(col("dt") === dayX), path, "dt")
      s.read.parquet(path)
        .select(date_format(col("dt"), "yyyy-MM-dd").as("dt"),
          col("event_type"), col("ct"), col("users"))
        .orderBy(col("dt"), col("event_type"))
    }),


    // ── K10: targeted delete (right-to-be-forgotten) — erase a set of
    // users from an append-only store by rewriting ONLY the partitions
    // their keys hash into; every other partition's files must come
    // through byte-identical. Store = events partitioned by
    // bucket = user_id mod 16; targets all live in bucket 3, so 15/16
    // partitions must not churn. The untouched_ok verdict compares the
    // full (name → size) file map outside bucket 3 before/after and the
    // oracle pins it to 1 — a full-table rewrite (same rows, new files)
    // FAILS this gate even though the row answer matches.
    "k10_targeted_delete" -> ((s, dir) =>
        withScratch("k10_targeted_delete") { path =>
      val ev = Tables.events(s, dir)
        .withColumn("bucket", pmod(col("user_id"), lit(16L)))
      ev.write.mode("overwrite").partitionBy("bucket").parquet(path)
      val before = dataFiles(path)
      val targets = ev
        .filter(col("bucket") === 3 && col("user_id") % 5 === 0)
        .select(col("user_id"), col("bucket")).distinct()
      graft.operators.Erasure.deleteKeys(s, path, "bucket", "user_id",
        targets)
      val after = dataFiles(path)
      def outside(m: Map[String, Long]) =
        m.filter { case (p, _) => !p.contains("bucket=3") }
      s.read.parquet(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ct"),
          countDistinct(col("user_id")).as("users"))
        .withColumn("untouched_ok", flag(outside(before) == outside(after)))
        .orderBy(col("event_type"))
    }),


    // ── K9: small-file compaction — the maintenance pass for fragmented
    // sinks (streaming writers, backfills, CDC upserts all emit many tiny
    // files; at 100 TB file listing, not row throughput, becomes the scan
    // bottleneck). Fixture: orders fractured to 48 files, compacted at a
    // target size chosen to land single-digit outputs; one round-robin
    // shuffle so outputs come out even (coalesce would inherit skew).
    // Rows must survive byte-exactly — the oracle runs on the ORIGINAL
    // parquet, so a dropped/duplicated row in the rewrite is a hash
    // mismatch; CompactionSpec pins the file-count mechanics.
    "k9_compaction" -> ((s, dir) => withScratch("k9_compaction") { root =>
      val (fragPath, compactPath) = (s"$root/frag", s"$root/compact")
      Tables.orders(s, dir).repartition(48)
        .write.mode("overwrite").parquet(fragPath)
      val (bytes, _) =
        graft.operators.Compaction.dataFileStats(s, fragPath)
      // target ≈ an eighth of the input ⇒ ~8 even-sized outputs; the
      // listing above is reused (knownBytes), not repeated
      graft.operators.Compaction.compact(s, fragPath, compactPath,
        targetBytes = math.max(1L, bytes / 8), knownBytes = Some(bytes))
      s.read.parquet(compactPath)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("ct"),
          sum(dec("o_totalprice")).cast("double").as("price_sum"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),


    // ── K11: copy-on-write MERGE INTO — one source batch carrying all
    // three arms (WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN NOT
    // MATCHED INSERT) against a bucket-partitioned parquet store
    // (operators/Merge.scala). The source only names buckets 2 and 5,
    // so 6/8 partitions must come through byte-identical — the
    // untouched_ok verdict compares the full (file → size) map outside
    // the churned buckets before/after and the oracle pins it to 1: a
    // full-table rewrite FAILS this gate even with the right rows (the
    // k10 erasure contract applied to general writes). Updates double
    // the price, deletes take every third key of bucket 5, inserts are
    // fresh keys offset by 80M (≡ 0 mod 8, so the partition derivation
    // is exercised, not bypassed).
    "k11_merge_upsert" -> ((s, dir) =>
        withScratch("k11_merge_upsert") { path =>
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          dec("o_totalprice").as("price"), col("o_orderpriority"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"))
      ord.write.mode("overwrite").partitionBy("bucket").parquet(path)
      val before = dataFiles(path)
      val base = ord.filter(col("bucket").isin(2L, 5L))
      val updates = base
        .filter(col("bucket") === 2 && col("o_orderkey") % 3 === 0)
        .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
        .withColumn("op", lit("U"))
      val deletes = base
        .filter(col("bucket") === 5 && col("o_orderkey") % 3 === 1)
        .withColumn("op", lit("D"))
      val inserts = base
        .filter(col("bucket") === 2 && col("o_orderkey") % 3 === 2)
        .withColumn("o_orderkey", col("o_orderkey") + 80000000L)
        .withColumn("op", lit("I"))
      Merge.into(s, path, "bucket", "o_orderkey",
        updates.unionByName(deletes).unionByName(inserts))
      val after = dataFiles(path)
      def outside(m: Map[String, Long]) = m.filter { case (p, _) =>
        !p.contains("bucket=2") && !p.contains("bucket=5") }
      s.read.parquet(path)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("ct"),
          sum(col("price")).cast("double").as("price_sum"),
          sum(col("o_orderkey")).as("key_sum"),
          count(when(col("o_orderkey") > 80000000L, 1)).as("inserted_ct"))
        .withColumn("untouched_ok", flag(outside(before) == outside(after)))
        .orderBy(col("bucket"))
    }),


    // ── K12: incremental materialized-aggregate refresh — the batch
    // "never rescan history" maintenance pass (operators/Incremental:
    // the k3 serving-re-agg story at rest). History (orders before
    // 1997) collapses ONCE into a tiny table of MERGEABLE partials
    // (count/decimal-sum/min/max per priority — avg is derived at read
    // time, never stored); the refresh scans ONLY the landed delta and
    // the state table, so its cost is O(delta + groups) regardless of
    // history size. The oracle recomputes the aggregate over ALL
    // orders from scratch — equality proves incremental == full
    // recompute; MergeIncrementalSpec pins that the refresh plan's
    // inputFiles never touch the history beyond the one state build.
    "k12_incremental_agg" -> ((s, dir) =>
        withScratch("k12_incremental_agg") { path =>
      val ord = Tables.orders(s, dir).withColumn("o_date",
        date_format(col("o_orderdate"), "yyyy-MM-dd"))
      val cut = "1997-01-01"
      Incremental.state(ord.filter(col("o_date") < cut),
        Seq("o_orderpriority"), sumCols = Seq("o_totalprice"),
        minMaxCols = Seq("o_date"))
        .write.mode("overwrite").parquet(path)
      val refreshed = Incremental.merge(Seq(
        s.read.parquet(path),
        Incremental.state(ord.filter(col("o_date") >= cut),
          Seq("o_orderpriority"), sumCols = Seq("o_totalprice"),
          minMaxCols = Seq("o_date"))),
        Seq("o_orderpriority"))
      Incremental.finalizeState(refreshed)
        .select(col("o_orderpriority"), col("cnt"),
          col("sum_o_totalprice").cast("double").as("price_sum"),
          col("avg_o_totalprice").as("price_avg"),
          col("min_o_date").as("dt_min"), col("max_o_date").as("dt_max"))
        .orderBy(col("o_orderpriority"))
    }),


    // ── Source: binaryFile — the raw-asset ingestion path for the
    // multimodal column family (mm_*): a directory of opaque files
    // becomes (path, length, content) rows with NO decode step, content
    // lands as a binary column ready for the mapPartitions feature
    // extractors. Fixture: every 25th doc's UTF-8 bytes as .bin files
    // (driver-side staging is fixture setup, not the operator); the
    // oracle recomputes byte length and md5 from the raw table — length
    // must be BYTES (strlen), not chars, or the zh docs fail the hash.
    "source_binary_files" -> ((s, dir) =>
        withScratch("source_binary_files") { path =>
      Tables.documents(s, dir)
        .filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text")).collect()
        .foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$path/doc_${r.getLong(0)}.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      s.read.format("binaryFile").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
            .cast("long").as("doc_id"),
          col("length"), md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),


    // ── K13: retention/TTL partition expiry (Erasure.expirePartitions)
    // — age out data older than the retention horizon as a pure LISTING
    // operation: directory names decide, zero data files are opened or
    // rewritten (the defining economics vs k10's key-level rewrite).
    // Store = events by day (30 partitions); days before 2024-01-10
    // expire. Verdicts pin BOTH properties: kept partitions' files are
    // byte-identical (no rewrite happened) and exactly 9 day-values
    // dropped; the oracle recomputes the surviving aggregate from the
    // raw table with the same cutoff.
    "k13_retention_expire" -> ((s, dir) =>
        withScratch("k13_retention_expire") { path =>
      Tables.events(s, dir)
        .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("dt").parquet(path)
      val before = dataFiles(path)
      val dropped = Erasure.expirePartitions(s, path, "dt", "2024-01-10")
      val keptUntouched = dataFiles(path) == before.filter { case (p, _) =>
        !dropped.exists(d => p.contains(s"dt=$d")) }
      s.read.parquet(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ct"),
          min(col("dt").cast("string")).as("dt_min"),
          countDistinct(col("dt")).as("days"))
        .withColumn("kept_untouched", flag(keptUntouched))
        .withColumn("dropped_days", lit(dropped.size.toLong))
        .orderBy(col("event_type"))
    }),


    // ── Manifest-driven file skipping (the Iceberg/Delta data-file-stats
    // idea): per-file min/max collected ONCE into a file-count-sized
    // manifest table; a range scan plans its file list FROM the manifest
    // and reads only intersecting envelopes. The layout writes 16
    // range-correlated buckets so envelopes are tight; pruned_ok pins
    // that planning read a strict subset of files, equal_ok pins that the
    // pruned read's answer equals the full-scan predicate's.
    "k14_manifest_prune" -> ((s, dir) =>
        withScratch("k14_manifest_prune") { path =>
      import graft.operators.Manifest
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
      val mxv = ev.agg(max(col("user_id"))).head().getLong(0)
      ev.withColumn("rb", least(
          floor(col("user_id") * 16.0 / (mxv + 1)).cast("long"), lit(15L)))
        .repartition(16, col("rb")).drop("rb")
        .write.mode("overwrite").parquet(path)
      val manifest = Manifest.build(s, path, "user_id")
        .localCheckpoint(true) // plan + count read one stable snapshot
      val total = manifest.count()
      val hi = mxv / 4
      val files = Manifest.filesForRange(manifest, 0L, hi)
      val pruned = Manifest.prunedRead(s, path, files, "user_id", 0L, hi)
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1e6).cast("long")).as("v_fp")).head()
      val full = ev.filter(col("user_id") >= 0 && col("user_id") <= hi)
        .agg(count(lit(1)),
          sum(floor(col("value") * 1e6).cast("long"))).head()
      import s.implicits._
      Seq((pruned.getLong(0), pruned.getLong(1),
        files.size < total && files.nonEmpty,
        pruned.getLong(0) == full.getLong(0) &&
          pruned.getLong(1) == full.getLong(1)))
        .toDF("n", "v_fp", "pruned_ok", "equal_ok")
    }),


    // ── K17: snapshot TIME TRAVEL over the COW merge store — versioned
    // manifests (the lakehouse log): every MERGE commits a new manifest
    // referencing untouched files unchanged and only churned partitions'
    // rewritten files; `read(dir, v)` scans exactly snapshot v's file
    // set. The gate replays two MERGE batches and pins ALL THREE
    // versions' per-bucket aggregates against a DuckDB replay of the
    // same merge arms — v1 and v2 must answer IDENTICALLY after later
    // merges land (history is immutable), v3 is the current state; the
    // immutable_ok verdict additionally pins that no pre-existing data
    // file was rewritten or removed by either merge (path + length).
    "k17_time_travel" -> ((s, dir) => withScratch("k17_time_travel") { path =>
      val base = storeBase(s, dir)
      Versioned.init(s, path, "bucket", base)
      val f1 = dataFiles(s"$path/data")
      // batch 1: update bucket-2 keys %3=0 (price×2), delete bucket-5
      // keys %3=1, insert bucket-2 keys %3=2 shifted +80M; batch 2:
      // delete the batch-1-updated keys, update bucket-7 keys %5=1
      // (price×3), insert bucket-7 keys %5=2 shifted +90M
      val Seq(b1, b2, _) = storeMerges(base)
      Versioned.merge(s, path, "bucket", "k", b1)
      val f2 = dataFiles(s"$path/data")
      Versioned.merge(s, path, "bucket", "k", b2)
      val f3 = dataFiles(s"$path/data")
      // append-only: every file of an earlier version survives later
      // merges byte-identical (path + length)
      val immutable = f1.forall { case (p, n) => f3.get(p).contains(n) } &&
        f2.forall { case (p, n) => f3.get(p).contains(n) }
      Seq(1L, 2L, 3L).map { v =>
        bucketSums(Versioned.read(s, path, v), "ct")
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .withColumn("immutable_ok", flag(immutable))
        .select(col("version"), col("bucket"), col("ct"),
          col("price_sum"), col("key_sum"), col("immutable_ok"))
        .orderBy(col("version"), col("bucket"))
    }),


    // ── K18: VACUUM of the versioned COW store (r13 verdict task 3) —
    // the reclamation pass k17's append-only economics promise. Same
    // two merge batches as k17, then vacuum(retainFrom=2) and pin the
    // three things users actually need from vacuum: (1) retained reads
    // are bit-identical pre/post (aggregates collected before the
    // vacuum compare equal after), (2) the surviving data files are
    // EXACTLY the union of retained manifests' file sets — a strict
    // subset of the pre-vacuum files with >=1 orphan actually deleted,
    // (3) reading the vacuumed version fails LOUDLY (the silent-empty
    // failure mode is the time-travel bug users hit). Verdicts ride as
    // 1/0 columns; the oracle replays v2/v3 and pins the verdicts true.
    "k18_vacuum" -> ((s, dir) => withScratch("k18_vacuum") { path =>
      val base = storeBase(s, dir)
      Versioned.init(s, path, "bucket", base)
      storeMerges(base).take(2)
        .foreach(b => Versioned.merge(s, path, "bucket", "k", b))
      def snap(v: Long) = bucketSums(Versioned.read(s, path, v), "ct")
        .select(lit(v).as("version"), col("bucket"), col("ct"),
          col("price_sum"), col("key_sum"))
      val pre = Seq(2L, 3L).map(v => snap(v).localCheckpoint(true))
        .reduce(_ unionByName _)
      val preRows = pre.collect().toSet
      val reachable = Seq(2L, 3L).flatMap { v =>
        s.read.parquet(Versioned.manifestDir(path, v))
          .select(col("file")).distinct().collect().map(r =>
            new java.io.File(new org.apache.hadoop.fs.Path(
              new java.net.URI(r.getString(0))).toUri.getPath)
              .getCanonicalPath)
      }.toSet
      val before = dataFiles(s"$path/data").keySet
      val deleted = Versioned.vacuum(s, path, retainFrom = 2L)
      val after = dataFiles(s"$path/data").keySet
      val filesExact = after == reachable && deleted >= 1 &&
        after.subsetOf(before) && after != before
      val readFails =
        try { Versioned.read(s, path, 1L); false }
        catch { case _: IllegalArgumentException => true }
      val post = Seq(2L, 3L).map(snap).reduce(_ unionByName _)
        .localCheckpoint(true)
      post
        .withColumn("files_exact_ok", flag(filesExact))
        .withColumn("read_fails_ok", flag(readFails))
        .withColumn("pre_post_ok", flag(post.collect().toSet == preRows))
        .orderBy(col("version"), col("bucket"))
    }),


    // ── K21: row-level CHANGE FEED between versions (the lakehouse CDF
    // role): every key inserted/updated/deleted over an interval, with
    // U/I carrying the new row and D the retired one. The COW layout
    // prices it at churned-partitions: files shared by both manifests
    // are byte-identical, so only non-shared files are read and
    // rewritten-but-unchanged rows compare equal and drop out. Both a
    // single-merge interval (v2→v3) and a multi-merge one (v1→v3 —
    // update-then-delete must collapse to D, insert-then-keep to I) on
    // the k17 fixture; oracle replays both snapshots and full-outer
    // diffs them (same answer as the file-pruned plan by construction).
    "k21_change_feed" -> ((s, dir) => withScratch("k21_change_feed") { path =>
      val base = storeBase(s, dir)
      Versioned.init(s, path, "bucket", base)
      storeMerges(base).take(2)
        .foreach(b => Versioned.merge(s, path, "bucket", "k", b))
      val d23 = Versioned.changes(s, path, 2L, 3L, "k")
        .withColumn("iv", lit("v2_v3"))
      val d13 = Versioned.changes(s, path, 1L, 3L, "k")
        .withColumn("iv", lit("v1_v3"))
      d23.unionByName(d13)
        .select(col("iv"), col("op"), col("k"),
          col("price").cast("double").as("price"), col("bucket"))
        .orderBy(col("iv"), col("op"), col("k"))
    }),


    // ── K20: ERASURE × VACUUM — right-to-be-forgotten on the COW
    // store. A COW delete only removes rows from the NEW version; the
    // victims' bytes survive in prior versions' files until vacuum
    // reclaims them — the compliance gap auditors actually probe. The
    // gate erases every key %97==0 (coprime to the bucket count, so
    // victims span partitions), pins that BEFORE vacuum a v1 read still
    // shows all victims (pre_vacuum_visible_ok — the documented
    // retention risk, why erasure SLAs are vacuum SLAs), then vacuums
    // and PHYSICALLY scans every surviving data file: zero victim keys
    // anywhere on disk (physical_gone_ok), with the latest read's
    // per-bucket aggregates oracle-matched.
    "k20_erasure_vacuum" -> ((s, dir) =>
        withScratch("k20_erasure_vacuum") { path =>
      val base = storeBase(s, dir)
      Versioned.init(s, path, "bucket", base)
      val victims = base.filter(col("k") % 97 === 0)
      val nVictims = victims.count()
      Versioned.merge(s, path, "bucket", "k",
        victims.withColumn("op", lit("D")))
      val preVisible = Versioned.read(s, path, 1L)
        .join(victims.select(col("k")), Seq("k"), "left_semi")
        .count() == nVictims
      Versioned.vacuum(s, path, retainFrom = 2L)
      val physGone = s.read.parquet(dataFiles(s"$path/data").keys.toSeq: _*)
        .join(victims.select(col("k")), Seq("k"), "left_semi")
        .count() == 0L
      bucketSums(Versioned.read(s, path, 2L), "ct")
        .withColumn("erased_ct", lit(nVictims))
        .withColumn("pre_vacuum_visible_ok", flag(preVisible))
        .withColumn("physical_gone_ok", flag(physGone))
        .select(col("bucket"), col("ct"), col("price_sum"),
          col("key_sum"), col("erased_ct"),
          col("pre_vacuum_visible_ok"), col("physical_gone_ok"))
        .orderBy(col("bucket"))
    }),


    // ── K22: PREDICATE FILE-SKIPPING inside the versioned store (r14
    // verdict task 1) — the manifests committed at init/merge carry
    // per-(file, part) min/max envelopes + Bloom sketches of the key
    // column, and readPoint/readRange plan their file list FROM the
    // manifest before the scan: the reference's dim point lookup
    // (util/DimUtil.java:30-32, `select * where id = ?`) composed with
    // time travel. Layout: 16 range-correlated key buckets (envelopes
    // tight for ranges) + one churned low-key zone, so v2 mixes carried
    // and fresh stats rows. Four probes × two versions; per probe the
    // gate pins pruned_ok (planned files a STRICT subset of the
    // snapshot's) and equal_ok (pruned answer == full-scan filter), and
    // the oracle replays every probe's values over the replayed
    // snapshots. The miss probe lands outside every envelope — zero
    // files planned, empty answer, no exception.
    "k22_versioned_skipping" -> ((s, dir) =>
        withScratch("k22_versioned_skipping") { path =>
      val raw = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), dec("o_totalprice").as("price"))
      val mx = rangeStore(s, path, raw, Seq("k"))
      val (cut, mid) = (mx / 8, mx / 2)
      val pHit = raw.filter(col("k") >= mid).agg(min(col("k")))
        .head().getLong(0)
      val pUpd = raw.filter(col("k") <= cut && col("k") % 3 === 0)
        .agg(min(col("k"))).head().getLong(0)
      val pMiss = mx + 123456789L
      probeVerdicts(s, path, Seq(1L, 2L), Seq(
          ("hit", "k", pHit, pHit), ("miss", "k", pMiss, pMiss),
          ("range", "k", mid, mid + mx / 8), ("upd", "k", pUpd, pUpd)))
        .orderBy(col("version"), col("probe"))
    }),


    // ── K35: BATCHED point probe (r18) — the amortizing lever SCALE.md
    // §"Round-18: distributed manifest prune" flagged: at the 10⁵-file tier
    // ONE distributed manifest scan costs seconds, so a key-LIST lookup
    // through N readPoint calls pays N scans where readPoints pays one (plus
    // one data read of the union file set; per manifest row, one sketch
    // deserialization answers the whole batch). Same k22 fixture — 16 range
    // buckets + a churned low-key zone, two versions — probed with one 7-key
    // batch per version mixing range hits, the updated key, the deleted key
    // (v1-only), an inserted key (v2-only), and two misses. Pins per version:
    // pruned_ok (planned files a strict subset of the snapshot's), equal_ok
    // (batch answer == full-scan IN-filter), union_ok (the batch PLAN is
    // file-for-file the union of the 7 per-key readPoint plans — sketches are
    // deterministic, so amortization changes what a probe costs, never what it
    // reads); the oracle replays both snapshots and aggregates over the batch.
    "k35_multi_point" -> ((s, dir) => withScratch("k35_multi_point") { path =>
      val raw = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), dec("o_totalprice").as("price"))
      val mx = rangeStore(s, path, raw, Seq("k"))
      val cut = mx / 8
      def minWhere(c: Column): Long =
        raw.filter(c).agg(min(col("k"))).head().getLong(0)
      val batch = Seq(
        minWhere(col("k") >= mx / 2),
        minWhere(col("k") >= 3L * mx / 4),
        minWhere(col("k") <= cut && col("k") % 3 === 0),
        minWhere(col("k") <= cut && col("k") % 3 === 1),
        minWhere(col("k") <= cut && col("k") % 3 === 2) + 80000000L,
        mx + 123456789L, mx + 987654321L)
      val runs = Seq(1L, 2L).map { v =>
        val full = Versioned.read(s, path, v)
        val got = Versioned.readPoints(s, path, "k", batch, v)
        val gotFiles = got.inputFiles.toSet
        val perKeyFiles = batch.flatMap(k =>
          Versioned.readPoint(s, path, "k", k, v).inputFiles).toSet
        (v, got, full.filter(col("k").isInCollection(batch)),
          gotFiles.size < full.inputFiles.length, gotFiles == perKeyFiles)
      }
      val sums = probeSums(runs.flatMap { case (v, got, want, _, _) =>
        Seq(s"$v/got" -> got, s"$v/want" -> want) })
      import s.implicits._
      runs.map { case (v, _, _, prunedOk, unionOk) =>
        val g = sums(s"$v/got")
        (v, g._1, g._2, g._3, if (prunedOk) 1L else 0L,
          if (g == sums(s"$v/want")) 1L else 0L, if (unionOk) 1L else 0L)
      }.toDF("version", "n", "price_sum", "key_sum",
        "pruned_ok", "equal_ok", "union_ok")
        .orderBy(col("version"))
    }),


    // ── K23: COMPACTION of the versioned store as a COMMITTED version —
    // the maintenance pass that retires the small-file tail without
    // breaking AS OF (r14 verdict task 2). 64 one-file partitions + one
    // merge; compact bin-packs them into ~8 files committed as v3 whose
    // manifest drops the fragments while v2's still references them.
    // Pins: file count strictly drops, the post-compact latest read
    // equals the pre-compact collected aggregate, the pre-compact
    // version still answers identically (until vacuum), and vacuum then
    // reclaims the fragments leaving EXACTLY v3's reachable set on disk
    // (the k18 pin), with v2 reads failing loudly after.
    // ── K30: RESTORE — roll back a bad write as a NEW COMMIT (the Delta
    // RESTORE contract): v2 is the bad merge, v3 restores v1's manifest
    // by reference (zero data movement, history intact — v2 stays
    // readable for audit), v4 merges on top of the restored state. The
    // change feed across the restore emits exactly the inverse of the
    // bad write (revert_rows, oracle-computed); the final snapshot is
    // base + the good merge, as if v2 never happened.
    "k30_restore" -> ((s, dir) => withScratch("k30_restore") { path =>
      val base = storeBase(s, dir)
      Versioned.init(s, path, "bucket", base)
      Versioned.merge(s, path, "bucket", "k", storeMerges(base).head)
      val v3 = Versioned.restore(s, path, 1L)
      require(v3 == 3L, s"restore must commit v3, got $v3")
      // the restored snapshot IS v1; the bad version stays auditable
      val revert = Versioned.changes(s, path, 2L, 3L, "k").count()
      require(Versioned.read(s, path, 2L)
        .filter(col("k") >= 80000000L).count() > 0,
        "the bad version must stay readable after restore")
      val good = base.filter(col("bucket") === 7 && col("k") % 5 === 1)
        .withColumn("price", (col("price") * 3).cast("decimal(18,2)"))
        .withColumn("op", lit("U"))
      Versioned.merge(s, path, "bucket", "k", good)
      bucketSums(Versioned.read(s, path), "cnt")
        .withColumn("revert_rows", lit(revert))
        .orderBy(col("bucket"))
    }),


    // ── K29: DELETION VECTORS — targeted deletes WITHOUT rewriting data
    // files (the Delta/Iceberg DV idea, key-based): ~1% of keys tombstone
    // in one commit, the manifest's file set is BYTE-IDENTICAL across it
    // (zero_move_ok is structural), reads anti-join the tombstones, the
    // CDF interval emits exactly the tombstoned keys as D rows, and a
    // later merge on one bucket MATERIALIZES that bucket's dv while the
    // others keep answering through theirs. At 100 TB this is the GDPR
    // erase: tombstone file + pruned scan, not a terabyte rewrite.
    "k29_deletion_vectors" -> ((s, dir) =>
        withScratch("k29_deletion_vectors") { path =>
      val base = storeBase(s, dir)
      Versioned.init(s, path, "bucket", base, statsCol = Some("k"))
      val f1 = dataFiles(s"$path/data")
      Versioned.deleteKeysDv(s, path, "bucket", "k",
        base.filter(col("k") % 97 === 0).select(col("k"), col("bucket")))
      val zeroMove = dataFiles(s"$path/data") == f1
      val dRows = Versioned.changes(s, path, 1L, 2L, "k")
      val dOnly = dRows.agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(col("op") === "D", 0L).otherwise(1L)), lit(0L))
          .as("nonD")).head()
      val (nD, nonD) = (dOnly.getLong(0), dOnly.getLong(1))
      // bucket-3 merge materializes its dv; other buckets still answer
      // through theirs
      val b1 = base
        .filter(col("bucket") === 3 && col("k") % 5 === 0 &&
          col("k") % 97 =!= 0)
        .withColumn("price", (col("price") * 3).cast("decimal(18,2)"))
        .withColumn("op", lit("U"))
      Versioned.merge(s, path, "bucket", "k", b1, statsCol = Some("k"))
      bucketSums(Versioned.read(s, path), "cnt")
        .withColumn("zero_move_ok", flag(zeroMove))
        .withColumn("d_rows", lit(nD))
        .withColumn("all_d_ok", flag(nonD == 0L))
        .orderBy(col("bucket"))
    }),


    // ── K34: DV MATERIALIZATION — the deletion-vector lifecycle's
    // maintenance half (r17 verdict task 1; Delta PURGE / Iceberg
    // rewrite-position-deletes). Two DV deletes leave files at very
    // different tombstone fractions (~1/3 of bucket 3; ~1/499
    // elsewhere); materializeDvs(threshold=0.05) must rewrite ONLY the
    // heavy files and leave the light ones answering through their DVs.
    // Pinned facts: read-after-materialize row-set-equals
    // read-with-DVs (mat_equals_dv_ok — collected and compared
    // in-gate); light files still carry DVs (selective_ok); every
    // bucket-3 manifest row is a FRESH dv-less file (heavy_clean_ok);
    // light files carried VERBATIM, same paths (light_carried_ok). The
    // oracle replays base minus both delete sets.
    "k34_dv_materialize" -> ((s, dir) =>
        withScratch("k34_dv_materialize") { path =>
      val base = storeBase(s, dir)
      Versioned.init(s, path, "bucket", base, statsCol = Some("k"))
      Versioned.deleteKeysDv(s, path, "bucket", "k",
        base.filter(col("bucket") === 3 && col("k") % 3 === 0)
          .select(col("k"), col("bucket")))
      Versioned.deleteKeysDv(s, path, "bucket", "k",
        base.filter(col("bucket") =!= 3 && col("k") % 499 === 0)
          .select(col("k"), col("bucket")))
      val vDv = Versioned.latest(path)
      def latestSums() = bucketSums(Versioned.read(s, path), "cnt")
      def byBucket(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2),
          r.getLong(3)))).toMap
      val before = byBucket(latestSums())
      def mRows(v: Long) = s.read.parquet(Versioned.manifestDir(path, v))
        .select(col("file"), col("part"),
          coalesce(size(col("dv")), lit(0)).as("ndv")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      val mBefore = mRows(vDv)
      val lightBefore = mBefore.filter(r => r._2 != "3").toSet
      val vMat = Versioned.materializeDvs(s, path, "bucket",
        threshold = 0.05, statsCol = Some("k"))
      require(vMat == vDv + 1,
        s"k34: expected one materialization commit, got $vDv -> $vMat")
      val mAfter = mRows(vMat)
      // heavy files (bucket 3) all rewrote to fresh dv-less files
      val heavyAfter = mAfter.filter(_._2 == "3")
      val heavyBeforeFiles = mBefore.filter(_._2 == "3").map(_._1).toSet
      val heavyClean = heavyAfter.nonEmpty && heavyAfter.forall(r =>
        r._3 == 0 && !heavyBeforeFiles.contains(r._1))
      // light files carried verbatim: same (file, part, dv-size) rows
      val lightCarried = mAfter.filter(r => r._2 != "3").toSet == lightBefore
      // and some DVs must remain (the threshold really was selective)
      val selective = mAfter.exists(_._3 > 0)
      val after = latestSums()
      val matEqualsDv = byBucket(after) == before
      // a second sweep at the same threshold must be a NO-OP (no
      // empty maintenance commits pollute history)
      val noopOk = Versioned.materializeDvs(s, path, "bucket",
        threshold = 0.05, statsCol = Some("k")) == vMat
      after
        .withColumn("mat_equals_dv_ok", flag(matEqualsDv))
        .withColumn("selective_ok", flag(selective))
        .withColumn("heavy_clean_ok", flag(heavyClean))
        .withColumn("light_carried_ok", flag(lightCarried))
        .withColumn("noop_ok", flag(noopOk))
        .orderBy(col("bucket"))
    }),


    // ── K28: SHALLOW CLONE — zero-copy fork of the versioned store (the
    // Delta SHALLOW CLONE contract): the clone's v1 manifest references
    // the source's immutable files verbatim (zero data bytes move — the
    // structural zero_copy_ok fact), then a divergent merge COWs ONLY
    // the churned partitions into the clone's own data dir while the
    // source never sees the write. At 100 TB this is the experiment/fork
    // primitive: paying for divergence, not for the table. The oracle
    // replays both lineages (src = base + b1; clone = src + b2).
    "k28_shallow_clone" -> ((s, dir) => withScratch("k28_shallow_clone") { root =>
      val (src, dst) = (s"$root/src", s"$root/clone")
      val base = storeBase(s, dir)
      Versioned.init(s, src, "bucket", base)
      val b1 = base.filter(col("bucket") === 3 && col("k") % 2 === 0)
        .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
        .withColumn("op", lit("U"))
      Versioned.merge(s, src, "bucket", "k", b1)
      Versioned.shallowClone(s, src, dst)
      val zeroCopy = dataFiles(s"$dst/data").isEmpty
      val b2 =
        base.filter(col("bucket") === 5 && col("k") % 3 === 0)
          .withColumn("price", (col("price") * 5).cast("decimal(18,2)"))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("bucket") === 1 && col("k") % 4 === 1)
          .withColumn("op", lit("D")))
        .unionByName(base.filter(col("bucket") === 5 && col("k") % 3 === 1)
          .withColumn("k", col("k") + 70000000L)
          .withColumn("op", lit("I")))
      Versioned.merge(s, dst, "bucket", "k", b2)
      def snap(path: String, side: String) =
        bucketSums(Versioned.read(s, path), "cnt").withColumn("side", lit(side))
      snap(src, "src").unionByName(snap(dst, "clone"))
        .withColumn("zero_copy_ok", flag(zeroCopy))
        .select(col("side"), col("bucket"), col("cnt"),
          col("price_sum"), col("key_sum"), col("zero_copy_ok"))
        .orderBy(col("side"), col("bucket"))
    }),


    "k23_versioned_compact" -> ((s, dir) =>
        withScratch("k23_versioned_compact") { path =>
      val base = storeBase(s, dir, 64L)
      Versioned.init(s, path, "bucket", base, statsCol = Some("k"))
      Versioned.merge(s, path, "bucket", "k", storeMerges(base).head,
        statsCol = Some("k"))
      def snap(v: Long) = bucketSums(Versioned.read(s, path, v), "ct")
      def manifestCount(v: Long): Long =
        s.read.parquet(Versioned.manifestDir(path, v))
          .select(col("file")).distinct().count()
      val pre = snap(2L).localCheckpoint(true)
      val preRows = pre.collect().toSet
      val total = Versioned.read(s, path, 2L).count()
      val v3 = Versioned.compact(s, path, "bucket",
        statsCol = Some("k"), maxGroupRows = math.max(1L, total / 8))
      val filesDrop = manifestCount(v3) < manifestCount(2L)
      val latestEqual = snap(v3).collect().toSet == preRows
      val preIntact = snap(2L).collect().toSet == preRows
      val reachable = s.read.parquet(Versioned.manifestDir(path, v3))
        .select(col("file")).distinct().collect().map(r =>
          new java.io.File(new org.apache.hadoop.fs.Path(
            new java.net.URI(r.getString(0))).toUri.getPath)
            .getCanonicalPath).toSet
      val before = dataFiles(s"$path/data").keySet
      val deleted = Versioned.vacuum(s, path, retainFrom = v3)
      val after = dataFiles(s"$path/data").keySet
      val vacuumExact = after == reachable && deleted >= 1 &&
        after.subsetOf(before) && after != before
      val readFails =
        try { Versioned.read(s, path, 2L); false }
        catch { case _: IllegalArgumentException => true }
      val postVacuum = snap(v3).collect().toSet == preRows
      snap(v3)
        .withColumn("files_drop_ok", flag(filesDrop))
        .withColumn("latest_equal_ok", flag(latestEqual))
        .withColumn("pre_intact_ok", flag(preIntact))
        .withColumn("vacuum_exact_ok", flag(vacuumExact))
        .withColumn("read_fails_ok", flag(readFails))
        .withColumn("post_vacuum_ok", flag(postVacuum))
        .orderBy(col("bucket"))
    }),


    // ── K25: MULTI-COLUMN stats manifests (r15 verdict task 5) — the
    // store's manifests carry a per-(file, part) min/max envelope +
    // Bloom sketch for EVERY column in `statsCols` (one `stats` map,
    // collected by the same single narrow scan), so predicates on ANY
    // stats-carrying column prune files before planning. Layout is
    // range-correlated with k (envelopes tight there) and UNCORRELATED
    // with c — the k probes prune by envelope, the c point probes can
    // only prune through c's own Bloom tier, which is exactly what a
    // second stats column buys. Probes × two versions (v2 mixes carried
    // and fresh multi-stats rows); per probe the gate pins pruned_ok
    // (planned files a strict subset) and equal_ok (pruned answer ==
    // full-scan filter); manifest_map_ok pins that the committed
    // manifests really carry both columns' stats keyed physically.
    "k25_multicol_skipping" -> ((s, dir) =>
        withScratch("k25_multicol_skipping") { path =>
      val raw = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          dec("o_totalprice").as("price"))
      val mx = rangeStore(s, path, raw, Seq("k", "c"))
      // the committed manifests carry BOTH columns' stats: every row
      // of both logs has a 2-entry map keyed {c, k} (fresh AND
      // carried — no commit in this history is stats-less)
      val mapOk = Seq(1L, 2L).forall { v =>
        val keyed = s.read.parquet(Versioned.manifestDir(path, v))
          .select(sort_array(map_keys(col("stats"))).as("ks"))
        keyed.count() > 0 &&
          keyed.filter(col("ks") =!= array(lit("c"), lit("k"))).isEmpty
      }
      val mid = mx / 2
      val pHit = raw.filter(col("k") >= mid)
        .agg(min(col("k")).cast("long")).head().getLong(0)
      val c0 = raw.agg(min(col("c")).cast("long")).head().getLong(0)
      val cMx = raw.agg(max(col("c")).cast("long")).head().getLong(0)
      // k probes prune by envelope under the k-correlated layout; c
      // probes by c's Bloom (hit reads only files that might hold c0,
      // miss reads NOTHING)
      probeVerdicts(s, path, Seq(1L, 2L), Seq(
          ("k_range", "k", mid, mid + mx / 8),
          ("k_point", "k", pHit, pHit),
          ("c_hit", "c", c0, c0),
          ("c_miss", "c", cMx + 987654321L, cMx + 987654321L)))
        .withColumn("manifest_map_ok", flag(mapOk))
        .orderBy(col("version"), col("probe"))
    }),


    // ── K26: Z-ORDER LAYOUT × MULTI-COLUMN MANIFEST STATS — the
    // composition the two features exist for: partitioning the
    // versioned store by a Z-VALUE RANGE makes every partition (hence
    // every file) a compact (x, y) hyper-rectangle, so the multi-column
    // manifests' per-file envelopes are TIGHT ON BOTH dims and a range
    // or point probe on EITHER dim prunes files — the Delta
    // OPTIMIZE-ZORDER + data-skipping contract inside our own store.
    // (A single-dim range layout leaves the second dim's envelopes
    // full-span — ZOrderSpec measures that; here the probes pin it at
    // the store level.) Four probes; per probe pruned_ok (strict file
    // subset) + equal_ok (== full-scan filter), values oracle-replayed.
    "k26_zorder_multicol" -> ((s, dir) =>
        withScratch("k26_zorder_multicol") { path =>
      import graft.functions.LayoutFns
      // 10-bit/dim Morton z; top 5 bits partition into ≤32 z-range
      // tiles — the partition value IS the layout
      val zb = xyStore(s, dir).withColumn("zb",
        shiftright(LayoutFns.zvalue(10, col("x"), col("y")), 15))
      Versioned.init(s, path, "zb", zb, statsCols = Seq("x", "y"))
      probeVerdicts(s, path, Seq(1L), xyProbes).drop("version")
        .orderBy(col("probe"))
    }),


    // ── K32: HILBERT LAYOUT × MULTI-COLUMN MANIFEST STATS — k26's
    // composition with the Hilbert index as the clustering key
    // (expressions/HilbertIndex: unit-step locality where Morton jumps,
    // the liquid-clustering layout). Partition value = top 5 bits of the
    // 10-bit/dim Hilbert index (≤32 curve-range tiles); same four
    // point/range probes on either dim, each pinned pruned_ok (strict
    // file subset) + equal_ok (== full-scan filter), values
    // oracle-replayed over the plain table. The hilbert-vs-zorder
    // probed-file ratio (23 vs 26 files) is banked in BASELINE.md "r17:
    // Hilbert vs z-order layout quality" (layout quality is a
    // measurement, not an oracle fact — equal tilings can tie).
    "k32_hilbert_multicol" -> ((s, dir) =>
        withScratch("k32_hilbert_multicol") { path =>
      import graft.functions.LayoutFns
      val hb = xyStore(s, dir).withColumn("hb",
        shiftright(LayoutFns.hilbert(10, col("x"), col("y")), 15))
      Versioned.init(s, path, "hb", hb, statsCols = Seq("x", "y"))
      probeVerdicts(s, path, Seq(1L), xyProbes).drop("version")
        .orderBy(col("probe"))
    }),


    // ── K33: RECLUSTER — the OPTIMIZE-ZORDER lifecycle on an EXISTING
    // store (k26/k32 lay out at init; real tables accrete under an
    // ingest partitioning and get their layout from a maintenance
    // commit). Born bucket-partitioned, every file's x/y envelope is
    // full-span, so RANGE probes cannot prune (pinned pruned_before=0 —
    // ranges are the envelope-decided case; point probes can already
    // win by Bloom, which is why they are not the proof here). One
    // recluster commit later the same probes open a strict file subset
    // (pruned_after=1) with identical answers, and the change feed
    // across the rewrite emits ZERO rows (cdf_rows — the same key-diff
    // argument as the compact gate: a layout change is a logical no-op).
    "k33_recluster" -> ((s, dir) => withScratch("k33_recluster") { path =>
      // y mixes fast ((k*31) % 1024) so every ingest bucket spans the
      // full y range at EVERY scale — the unprunable-before pin must
      // hold at sf0.001's sparse keys too (k div 7 tops out below the
      // probe ranges there)
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(1024L)).as("x"),
          pmod(col("o_orderkey") * 31, lit(1024L)).as("y"),
          dec("o_totalprice").as("price"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"))
      Versioned.init(s, path, "bucket", base, statsCols = Seq("x", "y"))
      val filesBefore = Versioned.read(s, path).inputFiles.length
      reclusterProbes.foreach { case (label, c, lo, hi) =>
        require(Versioned.readRange(s, path, c, lo, hi).inputFiles.length ==
          filesBefore, s"k33_recluster: $label must be UNPRUNABLE " +
            "pre-recluster (full-span envelopes) or the contrast is fake")
      }
      val v2 = Versioned.recluster(s, path, "bucket", Seq("x", "y"),
        bits = 10, tileBits = 5)
      require(v2 == 2L, s"recluster must commit v2, got $v2")
      val cdfRows = Versioned.changes(s, path, 1L, 2L, "k").count()
      require(Versioned.read(s, path).inputFiles.length > 1,
        "k33_recluster: the rewrite must materialize multiple tiles")
      probeVerdicts(s, path, Seq(v2), reclusterProbes)
        .select(col("probe"), col("n"), col("price_sum"), col("key_sum"),
          lit(0L).as("pruned_before"), // pinned by the require above
          col("pruned_ok").as("pruned_after"), col("equal_ok"),
          lit(cdfRows).as("cdf_rows"))
        .orderBy(col("probe"))
    }),


    // ── K24: COLUMN RENAME via logical column mapping (r14 verdict task
    // 7, the other half of the k19 lakehouse schema contract): a rename
    // is a metadata-only commit — the new sidecar schema carries the new
    // logical name, the field keeps its on-disk physical name, the
    // manifest is copied by reference, and ZERO data bytes move (pinned:
    // the full data-file (path -> length) map is IDENTICAL across the
    // rename commit). Reads answer in each version's OWN names (v1/v2:
    // price; v3/v4: amount — the `cols` column pins the names
    // themselves); a post-rename merge speaks the new logical name while
    // its fresh files keep writing the physical one.
    "k24_column_rename" -> ((s, dir) => withScratch("k24_column_rename") { path =>
      val base = storeBase(s, dir)
      Versioned.init(s, path, "bucket", base)
      Versioned.merge(s, path, "bucket", "k", storeMerges(base).head)
      val f2 = dataFiles(s"$path/data")
      val v3 = Versioned.renameColumn(s, path, "price", "amount")
      val zeroIo = dataFiles(s"$path/data") == f2
      // post-rename merge SPEAKS the new logical name
      val renamed = base.withColumnRenamed("price", "amount")
      val b2 =
        renamed.filter(col("bucket") === 7 && col("k") % 5 === 1)
          .withColumn("amount", (col("amount") * 3).cast("decimal(18,2)"))
          .withColumn("op", lit("U"))
        .unionByName(renamed.filter(col("bucket") === 7 && col("k") % 5 === 2)
          .withColumn("k", col("k") + 90000000L)
          .withColumn("op", lit("I")))
      Versioned.merge(s, path, "bucket", "k", b2)
      val f4 = dataFiles(s"$path/data")
      val immutable = f2.forall { case (p, n) => f4.get(p).contains(n) }
      val snaps = Seq(1L, 2L, 3L, 4L).map { v =>
        val r = Versioned.read(s, path, v)
        val valCol = if (r.columns.contains("amount")) "amount" else "price"
        r.groupBy(col("bucket"))
          .agg(count(lit(1)).as("ct"),
            sum(col(valCol)).cast("double").as("val_sum"),
            sum(col("k")).as("key_sum"))
          .withColumn("version", lit(v))
          .withColumn("cols", lit(r.columns.mkString(",")))
      }
      snaps.reduce(_ unionByName _)
        .withColumn("rename_zero_io_ok", flag(zeroIo))
        .withColumn("immutable_ok", flag(immutable))
        .select(col("version"), col("bucket"), col("ct"), col("val_sum"),
          col("key_sum"), col("cols"), col("rename_zero_io_ok"),
          col("immutable_ok"))
        .orderBy(col("version"), col("bucket"))
    }),


    // ── K19: SCHEMA EVOLUTION on the versioned COW store — the other
    // dimension time travel must survive: a merge (mergeSchema=true)
    // introduces a column the snapshot lacks. The committed sidecar
    // schema (in the log, not inferred from N footers) drives each
    // read, so: a read at v1 answers in v1's own NARROWER schema
    // (v1_narrow_ok), carried pre-evolution files fill the new column
    // with NULLs at later versions, a post-evolution merge whose SOURCE
    // lacks the column writes NULL for it (whole-row replace, not
    // coalesce — pinned by the b2 update arm), the v3 rewrite slice
    // mixes pre- and post-evolution files and reconciles, and no prior
    // data file is ever rewritten for any of this (immutable_ok).
    "k19_schema_evolution" -> ((s, dir) =>
        withScratch("k19_schema_evolution") { path =>
      val base = storeBase(s, dir)
      val withPrio = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), dec("o_totalprice").as("price"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          substring(col("o_orderpriority"), 1, 1).as("prio"))
      Versioned.init(s, path, "bucket", base)
      val f1 = dataFiles(s"$path/data")
      // batch 1 INTRODUCES prio: update bucket-3 %2=0 (price×2 + prio),
      // delete bucket-6 %3=0, insert bucket-3 %2=1 shifted +70M
      val b1 =
        withPrio.filter(col("bucket") === 3 && col("k") % 2 === 0)
          .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
          .withColumn("op", lit("U"))
        .unionByName(withPrio.filter(col("bucket") === 6 && col("k") % 3 === 0)
          .withColumn("op", lit("D")))
        .unionByName(withPrio.filter(col("bucket") === 3 && col("k") % 2 === 1)
          .withColumn("k", col("k") + 70000000L)
          .withColumn("op", lit("I")))
      Versioned.merge(s, path, "bucket", "k", b1, mergeSchema = true)
      // batch 2's source LACKS prio: update bucket-3 %4=0 (price×5 —
      // those keys HAD prio at v2; replace semantics must null it),
      // insert bucket-0 %5=0 shifted +90M. Its rewrite slice mixes a
      // post-evolution file (bucket 3, v2) and a pre-evolution carried
      // file (bucket 0, v1).
      val b2 =
        base.filter(col("bucket") === 3 && col("k") % 4 === 0)
          .withColumn("price", (col("price") * 5).cast("decimal(18,2)"))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("bucket") === 0 && col("k") % 5 === 0)
          .withColumn("k", col("k") + 90000000L)
          .withColumn("op", lit("I")))
      Versioned.merge(s, path, "bucket", "k", b2, mergeSchema = true)
      val f3 = dataFiles(s"$path/data")
      val immutable = f1.forall { case (p, n) => f3.get(p).contains(n) }
      val v1Narrow = !Versioned.read(s, path, 1L).columns.contains("prio")
      val snaps = Seq(1L, 2L, 3L).map { v =>
        val r = Versioned.read(s, path, v)
        val withP = if (r.columns.contains("prio")) r
          else r.withColumn("prio", lit(null).cast("string"))
        withP.groupBy(col("bucket"))
          .agg(count(lit(1)).as("ct"),
            sum(col("price")).cast("double").as("price_sum"),
            sum(col("k")).as("key_sum"),
            count(col("prio")).as("prio_ct"))
          .withColumn("version", lit(v))
      }
      snaps.reduce(_ unionByName _)
        .withColumn("v1_narrow_ok", flag(v1Narrow))
        .withColumn("immutable_ok", flag(immutable))
        .select(col("version"), col("bucket"), col("ct"),
          col("price_sum"), col("key_sum"), col("prio_ct"),
          col("v1_narrow_ok"), col("immutable_ok"))
        .orderBy(col("version"), col("bucket"))
    }),


    // ── K16: file-level BLOOM skipping in the manifest — the pruning
    // tier k14's min/max envelopes cannot provide. Layout is hashed by
    // user_id (uncorrelated with event_id), so every file's event_id
    // envelope spans nearly the whole id range and envelope pruning
    // degenerates to reading all 16 files; the per-file Bloom sketch
    // answers each point probe from the manifest and reads only files
    // that might contain the key. Per probe key the gate pins: the
    // pruned read's answer == base-table truth (count + exact value sum
    // — zero false negatives, the Bloom guarantee), the planned file set
    // a STRICT subset of the files (pruned_ok), and Bloom-planned files
    // ⊆ envelope-planned files (subset_ok).
    "k16_manifest_bloom" -> ((s, dir) =>
        withScratch("k16_manifest_bloom") { path =>
      import graft.operators.Manifest
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
      val keys = Seq(3L, 97L, 211L, 499L, 811L)
      ev.repartition(16, col("user_id"))
        .write.mode("overwrite").parquet(path)
      val manifest = Manifest.buildWithBloom(s, path, "event_id",
        expectedPerFile = 1L << 13, fpp = 0.01)
        .localCheckpoint(true) // plan + probes read one stable snapshot
      val total = manifest.count()
      val rows = keys.map { k =>
        val fb = Manifest.filesForPoint(manifest, k)
        val fe = Manifest.filesForRange(manifest, k, k)
        val r = Manifest.prunedRead(s, path, fb, "event_id", k, k)
          .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
            coalesce(sum(floor(col("value") * 1e6).cast("long")), lit(0L))
              .as("v_fp")).head()
        (k, r.getLong(0), r.getLong(1),
          fb.nonEmpty && fb.size < total, fb.toSet.subsetOf(fe.toSet))
      }
      import s.implicits._
      rows.toDF("k", "n", "v_fp", "pruned_ok", "subset_ok")
        .orderBy(col("k"))
    }),


    // ── K15: deterministic pseudonymization — direct identifiers replaced
    // by salted md5 tokens SCAN-SIDE (zero shuffle); the same salt
    // tokenizes the fact's foreign key, and the gate JOINS ON THE TOKENS:
    // referential integrity surviving tokenization IS the tested claim.
    // The oracle replays every token (the portable md5 primitive).
    "k15_pseudonymize" -> ((s, dir) => {
      import graft.operators.Erasure
      val cust = Erasure.pseudonymize(Tables.customer(s, dir),
        Seq("c_custkey", "c_name"), "s3cret")
      val ord = Erasure.pseudonymize(Tables.orders(s, dir),
        Seq("o_custkey"), "s3cret")
      ord.join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("orders"),
          count_distinct(col("c_name")).as("name_tokens"),
          min(col("c_name")).as("min_token"))
        .orderBy(col("c_mktsegment"))
    }),


    // ── CSV source round-trip: the engine's ingest edge is not only
    // parquet — write customer as headered CSV, read it back through the
    // declared schema, and aggregate. Doubles survive because Spark
    // emits shortest-round-trip reprs; the oracle runs on the ORIGINAL
    // parquet, so any quoting/header/type-inference drift in the CSV
    // path is a hash mismatch. Materialized so the tmpfs copy sweeps.
    "source_csv_roundtrip" -> ((s, dir) =>
        withScratch("source_csv_roundtrip") { path =>
      val base = Tables.customer(s, dir)
      base.write.mode("overwrite").option("header", "true").csv(path)
      s.read.schema(base.schema).option("header", "true").csv(path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("ct"),
          sum(dec("c_acctbal")).cast("double").as("bal_sum"),
          countDistinct(col("c_nationkey")).as("nations"))
        .orderBy(col("c_mktsegment"))
    }),


    // ── JSON-lines source round-trip: the reference's native log format
    // (HTTP collector → Kafka carries JSON lines). Timestamps are the
    // round-trip risk — the format is pinned to micros on BOTH write and
    // read, and the oracle (original parquet) compares exact epoch-µs
    // extrema per event type, so a truncated fraction or a timezone
    // shift fails the hash, not just a spot check.
    "source_jsonl_roundtrip" -> ((s, dir) =>
        withScratch("source_jsonl_roundtrip") { path =>
      val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
      val base = Tables.events(s, dir)
      base.write.mode("overwrite").option("timestampFormat", fmt).json(path)
      s.read.schema(base.schema).option("timestampFormat", fmt).json(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ct"),
          countDistinct(col("user_id")).as("users"),
          min(unix_micros(col("ts"))).as("min_us"),
          max(unix_micros(col("ts"))).as("max_us"))
        .orderBy(col("event_type"))
    }),


    // ── ORC source round-trip: the second columnar format a lakehouse
    // ingests (Hive-era estates are ORC). Same contract as the CSV/JSONL
    // twins — write orders as ORC, read back through the declared schema,
    // aggregate; the oracle runs on the ORIGINAL parquet, so any type or
    // timestamp drift through ORC's encoding is a hash mismatch (orders
    // carries int64/double/string/timestamp — the full primitive
    // surface). SourceFormatsSpec pins predicate pushdown reaches the
    // ORC scan, same as parquet.
    "source_orc_roundtrip" -> ((s, dir) =>
        withScratch("source_orc_roundtrip") { path =>
      val base = Tables.orders(s, dir)
      base.write.mode("overwrite").orc(path)
      s.read.schema(base.schema).orc(path)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("ct"),
          sum(dec("o_totalprice")).cast("double").as("price_sum"),
          // o_orderdate surfaces as TIMESTAMP_NTZ (pyarrow default);
          // the session tz is pinned UTC, so the cast reinterprets the
          // wall-clock as the same UTC instant (Tables.normalizeEventTs
          // contract)
          min(unix_micros(col("o_orderdate").cast("timestamp")))
            .as("min_date_us"),
          max(unix_micros(col("o_orderdate").cast("timestamp")))
            .as("max_date_us"))
        .orderBy(col("o_orderpriority"))
    }),


    // ── XML source round-trip (Spark 4's built-in XML datasource — the
    // B2B/legacy-feed ingest edge): write customer as row-tagged XML,
    // read back through the declared schema, aggregate vs the
    // original-parquet oracle. Doubles survive because the writer emits
    // shortest-round-trip reprs (the CSV twin's contract); the string
    // column rides escaping.
    "source_xml_roundtrip" -> ((s, dir) =>
        withScratch("source_xml_roundtrip") { path =>
      val base = Tables.customer(s, dir)
      base.write.mode("overwrite").option("rowTag", "customer").xml(path)
      s.read.schema(base.schema).option("rowTag", "customer").xml(path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("ct"),
          sum(dec("c_acctbal")).cast("double").as("bal_sum"),
          countDistinct(col("c_nationkey")).as("nations"),
          max(length(col("c_name"))).cast("long").as("max_name_len"))
        .orderBy(col("c_mktsegment"))
    }),


    // ── Schema evolution across parquet generations: a long-lived
    // dataset's early files lack columns later files carry. mergeSchema
    // unifies the footers at read time and back-fills nulls — the
    // no-rewrite evolution path (at 100 TB you cannot rewrite history to
    // add a column). Generation 1 = even orderkeys without priority;
    // generation 2 = odd WITH priority; the oracle replays the
    // generation rule, so a wrong null-fill or a dropped generation is a
    // hash mismatch.
    "source_schema_evolution" -> ((s, dir) =>
        withScratch("source_schema_evolution") { base =>
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/g1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$base/g2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$base/g1", s"$base/g2")
        .groupBy(coalesce(col("o_orderpriority"), lit("PRE_SCHEMA"))
          .as("priority"))
        .agg(count(lit(1)).as("ct"),
          sum(dec("o_totalprice")).cast("double").as("price_sum"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("priority"))
    }),


    // ── Hidden file-metadata columns (`_metadata.file_path`) — row-level
    // provenance without a provenance column: which physical file did
    // each row come from. The lakehouse debugging/audit primitive
    // (quarantine a bad file, attribute a corrupt row) and the zero-cost
    // lineage tier at 100 TB — the path rides the scan, no join, no
    // extra storage. Fixture writes two single-file generations with a
    // known key rule; the oracle replays the rule, so a wrong
    // row-to-file attribution is a hash mismatch.
    "source_file_metadata" -> ((s, dir) =>
        withScratch("source_file_metadata") { base =>
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderkey") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/even")
      o.filter(col("o_orderkey") % 2 =!= 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/odd")
      s.read.parquet(s"$base/even", s"$base/odd")
        .select(col("o_orderkey"), col("o_totalprice"),
          regexp_extract(col("_metadata.file_path"),
            "/(even|odd)/", 1).as("gen"))
        .groupBy(col("gen"))
        .agg(count(lit(1)).as("ct"),
          sum(dec("o_totalprice")).cast("double").as("price_sum"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("gen"))
    }),


    // ── ANALYZE-style table profile: per-column counts/nulls/NDV/range
    // in ONE scan (single Aggregate; the unpivot to rows is a free
    // explode). The HLL NDV rides next to the exact NDV with a checked
    // 5·rsd verdict (a17 pattern) — at 100 TB the exact arm drops and
    // the sketch is the answer. Nulls injected on a derived column so
    // the null-counting arm actually fires. These stats are what a CBO
    // eats (join order, broadcast thresholds) — profiling IS an engine
    // feature, not a demo.
    "table_profile" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(
        col("c_custkey"),
        when(pmod(col("c_custkey"), lit(10L)) === 0,
          lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("bal"),
        col("c_name"), col("c_mktsegment"), col("c_nationkey"))
      graft.operators.Profile.profile(c,
          numeric = Seq("c_custkey", "bal", "c_nationkey"),
          strings = Seq("c_name", "c_mktsegment"))
        .orderBy(col("col_name"))
    })
  )

  /** DuckDB oracle SQL, column-name-aligned with `queries`. */
  def oracleSql: Map[String, String] = Map(

    "zorder_layout" -> {
      // the interleave spelled out: bit i of x → bit 2i, bit i of y →
      // bit 2i+1 (generated, so the oracle covers every bit position)
      val interleave = (0 until 10).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH g AS (
         |  SELECT p_partkey, p_partkey % 1024 AS x,
         |    (p_partkey // 7) % 1024 AS y
         |  FROM part)
         |SELECT p_partkey, $interleave AS zval
         |FROM g ORDER BY p_partkey""".stripMargin
    },


    "k8_partition_backfill" ->
      s"""SELECT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS dt,
         |  event_type, COUNT(*) AS ct,
         |  CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-09'
         |       THEN 0 ELSE COUNT(DISTINCT user_id) END AS users
         |FROM events
         |GROUP BY 1, 2, CAST(CAST(ts AS TIMESTAMP) AS DATE)
         |ORDER BY dt, event_type""".stripMargin,


    // survivors = everyone outside the target predicate; untouched_ok is
    // pinned to 1 (15/16 partitions byte-identical)
    "k10_targeted_delete" ->
      """SELECT event_type, COUNT(*) AS ct,
        |  COUNT(DISTINCT user_id) AS users,
        |  CAST(1 AS BIGINT) AS untouched_ok
        |FROM events
        |WHERE NOT (user_id % 16 = 3 AND user_id % 5 = 0)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,


    // compaction must preserve rows byte-exactly: truth is the ORIGINAL
    // parquet, not the fragmented copy
    "k9_compaction" ->
      """SELECT o_orderpriority, COUNT(*) AS ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    // replays all three MERGE arms over the raw table: changed keys leave,
    // updates and inserts come back as the source's version; untouched_ok
    // is the pinned partition-churn verdict
    "k11_merge_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price, o_orderpriority,
        |    o_orderkey % 8 AS bucket FROM orders),
        |u AS (SELECT o_orderkey, o_custkey,
        |    CAST(price*2 AS DECIMAL(18,2)) AS price, o_orderpriority, bucket
        |  FROM t WHERE bucket = 2 AND o_orderkey % 3 = 0),
        |d AS (SELECT o_orderkey FROM t WHERE bucket = 5 AND o_orderkey % 3 = 1),
        |i AS (SELECT o_orderkey + 80000000 AS o_orderkey, o_custkey, price,
        |    o_orderpriority, bucket
        |  FROM t WHERE bucket = 2 AND o_orderkey % 3 = 2),
        |allkeys AS (SELECT o_orderkey FROM u UNION ALL SELECT o_orderkey FROM d
        |  UNION ALL SELECT o_orderkey FROM i),
        |merged AS (
        |  SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM allkeys)
        |  UNION ALL SELECT * FROM u
        |  UNION ALL SELECT * FROM i)
        |SELECT bucket, COUNT(*) AS ct,
        |  CAST(SUM(price) AS DOUBLE) AS price_sum,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  COUNT(*) FILTER (WHERE o_orderkey > 80000000) AS inserted_ct,
        |  CAST(1 AS BIGINT) AS untouched_ok
        |FROM merged GROUP BY bucket ORDER BY bucket""".stripMargin,


    // full recompute over ALL orders — equality proves the incremental
    // state-merge path reproduces the from-scratch aggregate
    "k12_incremental_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
        |    AS price_avg,
        |  MIN(strftime(o_orderdate, '%Y-%m-%d')) AS dt_min,
        |  MAX(strftime(o_orderdate, '%Y-%m-%d')) AS dt_max
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    // byte length and md5 recomputed from the raw table (md5 of the
    // UTF-8 bytes — the portable-hash contract the fingerprint gates pin)
    "source_binary_files" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin,


    // survivors recomputed with the same cutoff; the 9 dropped days and
    // the no-rewrite verdict are pinned constants
    "k13_retention_expire" ->
      """WITH e AS (SELECT event_type,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS dt FROM events)
        |SELECT event_type, COUNT(*) AS ct, MIN(dt) AS dt_min,
        |  COUNT(DISTINCT dt) AS days,
        |  CAST(1 AS BIGINT) AS kept_untouched,
        |  CAST(9 AS BIGINT) AS dropped_days
        |FROM e WHERE dt >= '2024-01-10'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,


    // the pruned read must answer exactly like the predicate over the
    // whole table; the file-skipping booleans are pinned true
    "k14_manifest_prune" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS v_fp,
        |  TRUE AS pruned_ok, TRUE AS equal_ok
        |FROM events
        |WHERE user_id >= 0
        |  AND user_id <= (SELECT MAX(user_id) // 4 FROM events)""".stripMargin,


    // all three snapshots replayed: v1 = base, v2 = after batch 1,
    // v3 = after batch 2 (same MERGE arms in SQL); immutable_ok pinned —
    // time travel answers from the SAME bytes forever
    "k17_time_travel" ->
      s"""${storeBaseSql(8)},
        |$storeV2Sql,
        |${storeV3Sql("v3")},
        |snaps AS (
        |  SELECT 1 AS version, bucket, COUNT(*) AS ct,
        |    CAST(SUM(price) AS DOUBLE) AS price_sum,
        |    CAST(SUM(k) AS BIGINT) AS key_sum FROM base GROUP BY bucket
        |  UNION ALL
        |  SELECT 2, bucket, COUNT(*), CAST(SUM(price) AS DOUBLE),
        |    CAST(SUM(k) AS BIGINT) FROM v2 GROUP BY bucket
        |  UNION ALL
        |  SELECT 3, bucket, COUNT(*), CAST(SUM(price) AS DOUBLE),
        |    CAST(SUM(k) AS BIGINT) FROM v3 GROUP BY bucket)
        |SELECT version, bucket, ct, price_sum, key_sum,
        |  CAST(1 AS BIGINT) AS immutable_ok
        |FROM snaps ORDER BY version, bucket""".stripMargin,


    // k17's v2/v3 replay (v1 is vacuumed away); the reachable-file,
    // loud-failure, and pre/post verdicts are pinned TRUE
    "k18_vacuum" ->
      s"""${storeBaseSql(8)},
        |$storeV2Sql,
        |${storeV3Sql("v3")},
        |snaps AS (
        |  SELECT 2 AS version, bucket, COUNT(*) AS ct,
        |    CAST(SUM(price) AS DOUBLE) AS price_sum,
        |    CAST(SUM(k) AS BIGINT) AS key_sum FROM v2 GROUP BY bucket
        |  UNION ALL
        |  SELECT 3, bucket, COUNT(*), CAST(SUM(price) AS DOUBLE),
        |    CAST(SUM(k) AS BIGINT) FROM v3 GROUP BY bucket)
        |SELECT version, bucket, ct, price_sum, key_sum,
        |  CAST(1 AS BIGINT) AS files_exact_ok,
        |  CAST(1 AS BIGINT) AS read_fails_ok,
        |  CAST(1 AS BIGINT) AS pre_post_ok
        |FROM snaps ORDER BY version, bucket""".stripMargin,


    // both intervals replayed as snapshot full-outer diffs — identical
    // to the file-pruned plan because shared files are byte-identical
    "k21_change_feed" ->
      s"""${storeBaseSql(8)},
        |$storeV2Sql,
        |${storeV3Sql("v3")},
        |d AS (
        |  SELECT 'v2_v3' AS iv,
        |    CASE WHEN o.k IS NULL THEN 'I' WHEN n.k IS NULL THEN 'D'
        |      WHEN o.price IS DISTINCT FROM n.price
        |        OR o.bucket IS DISTINCT FROM n.bucket THEN 'U' END AS op,
        |    COALESCE(n.k, o.k) AS k,
        |    CASE WHEN n.k IS NULL THEN o.price ELSE n.price END AS price,
        |    CASE WHEN n.k IS NULL THEN o.bucket ELSE n.bucket END AS bucket
        |  FROM v2 o FULL OUTER JOIN v3 n ON o.k = n.k
        |  UNION ALL
        |  SELECT 'v1_v3',
        |    CASE WHEN o.k IS NULL THEN 'I' WHEN n.k IS NULL THEN 'D'
        |      WHEN o.price IS DISTINCT FROM n.price
        |        OR o.bucket IS DISTINCT FROM n.bucket THEN 'U' END,
        |    COALESCE(n.k, o.k),
        |    CASE WHEN n.k IS NULL THEN o.price ELSE n.price END,
        |    CASE WHEN n.k IS NULL THEN o.bucket ELSE n.bucket END
        |  FROM base o FULL OUTER JOIN v3 n ON o.k = n.k)
        |SELECT iv, op, k, CAST(price AS DOUBLE) AS price, bucket
        |FROM d WHERE op IS NOT NULL ORDER BY iv, op, k""".stripMargin,


    // post-erasure latest state per bucket; the pre-vacuum visibility
    // and physical-scan verdicts are pinned true
    "k20_erasure_vacuum" ->
      s"""${storeBaseSql(8)},
        |v2 AS (SELECT * FROM base WHERE k % 97 <> 0)
        |SELECT bucket, COUNT(*) AS ct,
        |  CAST(SUM(price) AS DOUBLE) AS price_sum,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM base WHERE k % 97 = 0)
        |    AS erased_ct,
        |  CAST(1 AS BIGINT) AS pre_vacuum_visible_ok,
        |  CAST(1 AS BIGINT) AS physical_gone_ok
        |FROM v2 GROUP BY bucket ORDER BY bucket""".stripMargin,


    // every probe replayed over the replayed snapshots (v1 = base, v2 =
    // after the low-key-zone merge); the pruning verdicts are pinned —
    // the file-skipping mechanics are in-gate requires on inputFiles
    "k22_versioned_skipping" ->
      s"""$rangeStoreSql,
        |probes AS (
        |  SELECT 'hit' AS probe,
        |    (SELECT MIN(k) FROM base, mxv WHERE k >= mx//2) AS lo,
        |    (SELECT MIN(k) FROM base, mxv WHERE k >= mx//2) AS hi
        |  UNION ALL SELECT 'miss', (SELECT mx + 123456789 FROM mxv),
        |    (SELECT mx + 123456789 FROM mxv)
        |  UNION ALL SELECT 'range', (SELECT mx//2 FROM mxv),
        |    (SELECT mx//2 + mx//8 FROM mxv)
        |  UNION ALL SELECT 'upd',
        |    (SELECT MIN(k) FROM base, mxv WHERE k <= mx//8 AND k % 3 = 0),
        |    (SELECT MIN(k) FROM base, mxv WHERE k <= mx//8 AND k % 3 = 0)),
        |snap AS (SELECT 1 AS version, k, price FROM base
        |  UNION ALL SELECT 2, k, price FROM v2),
        |vers AS (SELECT 1 AS version UNION ALL SELECT 2)
        |SELECT CAST(v.version AS BIGINT) AS version, p.probe,
        |  CAST(COUNT(s.k) AS BIGINT) AS n,
        |  CAST(COALESCE(SUM(s.price), 0) AS DOUBLE) AS price_sum,
        |  CAST(COALESCE(SUM(s.k), 0) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS pruned_ok, CAST(1 AS BIGINT) AS equal_ok
        |FROM probes p CROSS JOIN vers v
        |LEFT JOIN snap s ON s.version = v.version
        |  AND s.k >= p.lo AND s.k <= p.hi
        |GROUP BY v.version, p.probe
        |ORDER BY version, probe""".stripMargin,


    // the batch replayed over the replayed snapshots; the planning
    // verdicts (pruned/union-of-per-key-plans) are in-gate requires on
    // inputFiles, replayed as literal 1s
    "k35_multi_point" ->
      s"""$rangeStoreSql,
        |batch AS (
        |  SELECT (SELECT MIN(k) FROM base, mxv WHERE k >= mx//2) AS bk
        |  UNION ALL SELECT
        |    (SELECT MIN(k) FROM base, mxv WHERE k >= 3 * mx//4)
        |  UNION ALL SELECT
        |    (SELECT MIN(k) FROM base, mxv WHERE k <= mx//8 AND k % 3 = 0)
        |  UNION ALL SELECT
        |    (SELECT MIN(k) FROM base, mxv WHERE k <= mx//8 AND k % 3 = 1)
        |  UNION ALL SELECT
        |    (SELECT MIN(k) + 80000000 FROM base, mxv
        |      WHERE k <= mx//8 AND k % 3 = 2)
        |  UNION ALL SELECT mx + 123456789 FROM mxv
        |  UNION ALL SELECT mx + 987654321 FROM mxv),
        |snap AS (SELECT 1 AS version, k, price FROM base
        |  UNION ALL SELECT 2, k, price FROM v2),
        |vers AS (SELECT 1 AS version UNION ALL SELECT 2),
        |hits AS (SELECT s.version AS sv, s.k, s.price
        |  FROM snap s JOIN batch b ON s.k = b.bk)
        |SELECT CAST(v.version AS BIGINT) AS version,
        |  CAST(COUNT(t.k) AS BIGINT) AS n,
        |  CAST(COALESCE(SUM(t.price), 0) AS DOUBLE) AS price_sum,
        |  CAST(COALESCE(SUM(t.k), 0) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS pruned_ok, CAST(1 AS BIGINT) AS equal_ok,
        |  CAST(1 AS BIGINT) AS union_ok
        |FROM vers v LEFT JOIN hits t ON t.sv = v.version
        |GROUP BY v.version
        |ORDER BY version""".stripMargin,


    // z-order × multi-col skipping: layout never changes answers —
    // truth is the plain table probed per dim; pruning is in-gate
    "k26_zorder_multicol" -> xyProbeSql("(o_orderkey // 7) % 1024", xyProbes,
      "  CAST(1 AS BIGINT) AS pruned_ok, CAST(1 AS BIGINT) AS equal_ok"),

    // truth is the plain table filtered per range; pruning verdicts and
    // the layout-is-a-logical-no-op CDF count are in-gate pins replayed
    // as literals
    "k33_recluster" -> xyProbeSql("(o_orderkey * 31) % 1024",
      reclusterProbes,
      """  CAST(0 AS BIGINT) AS pruned_before,
        |  CAST(1 AS BIGINT) AS pruned_after,
        |  CAST(1 AS BIGINT) AS equal_ok,
        |  CAST(0 AS BIGINT) AS cdf_rows""".stripMargin),

    // same probes, same truth: the clustering key (hilbert vs morton)
    // must never change ANSWERS — only which files a probe opens, which
    // the in-gate pruned_ok pins and BASELINE.md "r17: Hilbert vs
    // z-order layout quality" banks
    "k32_hilbert_multicol" -> xyProbeSql("(o_orderkey // 7) % 1024", xyProbes,
      "  CAST(1 AS BIGINT) AS pruned_ok, CAST(1 AS BIGINT) AS equal_ok"),

    // multi-column skipping never changes ANSWERS (envelopes/sketches
    // over-approximate, residual filters are exact): truth is the v2
    // merge replay probed per (version, probe); pruning/manifest
    // verdicts are in-gate pins, replayed as literal 1s
    "k25_multicol_skipping" ->
      """WITH base AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |mxv AS (SELECT MAX(k) AS mx, MIN(c) AS c0, MAX(c) AS cmx
        |  FROM base),
        |v2 AS (
        |  SELECT k, c, price FROM base, mxv
        |    WHERE NOT (k <= mx//8 AND k % 3 IN (0, 1))
        |  UNION ALL
        |  SELECT k, c, CAST(price * 2 AS DECIMAL(18,2)) FROM base, mxv
        |    WHERE k <= mx//8 AND k % 3 = 0
        |  UNION ALL
        |  SELECT k + 80000000, c, price FROM base, mxv
        |    WHERE k <= mx//8 AND k % 3 = 2),
        |probes AS (
        |  SELECT 'k_range' AS probe, 'k' AS pcol,
        |    (SELECT mx//2 FROM mxv) AS lo,
        |    (SELECT mx//2 + mx//8 FROM mxv) AS hi
        |  UNION ALL SELECT 'k_point', 'k',
        |    (SELECT MIN(k) FROM base, mxv WHERE k >= mx//2),
        |    (SELECT MIN(k) FROM base, mxv WHERE k >= mx//2)
        |  UNION ALL SELECT 'c_hit', 'c',
        |    (SELECT c0 FROM mxv), (SELECT c0 FROM mxv)
        |  UNION ALL SELECT 'c_miss', 'c',
        |    (SELECT cmx + 987654321 FROM mxv),
        |    (SELECT cmx + 987654321 FROM mxv)),
        |snap AS (SELECT 1 AS version, k, c, price FROM base
        |  UNION ALL SELECT 2, k, c, price FROM v2),
        |vers AS (SELECT 1 AS version UNION ALL SELECT 2)
        |SELECT CAST(v.version AS BIGINT) AS version, p.probe,
        |  CAST(COUNT(s.k) AS BIGINT) AS n,
        |  CAST(COALESCE(SUM(s.price), 0) AS DOUBLE) AS price_sum,
        |  CAST(COALESCE(SUM(s.k), 0) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS pruned_ok, CAST(1 AS BIGINT) AS equal_ok,
        |  CAST(1 AS BIGINT) AS manifest_map_ok
        |FROM probes p CROSS JOIN vers v
        |LEFT JOIN snap s ON s.version = v.version
        |  AND ((p.pcol = 'k' AND s.k >= p.lo AND s.k <= p.hi)
        |    OR (p.pcol = 'c' AND s.c >= p.lo AND s.c <= p.hi))
        |GROUP BY v.version, p.probe
        |ORDER BY version, probe""".stripMargin,


    // compaction preserves the snapshot bit-for-bit: truth is the v2
    // merge replay; every maintenance verdict is pinned true
    // the final snapshot is base + the GOOD merge only (the bad write
    // reverted); revert_rows = the inverse of the bad write: its updates
    // revert (U), its deletes reappear (I), its inserts disappear (D)
    "k30_restore" ->
      s"""${storeBaseSql(8)},
        |v4 AS (
        |  SELECT k, price, bucket FROM base
        |    WHERE NOT (bucket = 7 AND k % 5 = 1)
        |  UNION ALL
        |  SELECT k, CAST(price * 3 AS DECIMAL(18,2)), bucket FROM base
        |    WHERE bucket = 7 AND k % 5 = 1),
        |rev AS (SELECT
        |    (SELECT COUNT(*) FROM base WHERE bucket = 2 AND k % 3 = 0)
        |  + (SELECT COUNT(*) FROM base WHERE bucket = 5 AND k % 3 = 1)
        |  + (SELECT COUNT(*) FROM base WHERE bucket = 2 AND k % 3 = 2)
        |    AS n)
        |SELECT bucket, COUNT(*) AS cnt,
        |  CAST(SUM(price) AS DOUBLE) AS price_sum,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  CAST(rev.n AS BIGINT) AS revert_rows
        |FROM v4, rev GROUP BY bucket, rev.n ORDER BY bucket""".stripMargin,

    // the final snapshot replayed: base minus the k%97 tombstones, with
    // the bucket-3 update applied; d_rows = the tombstoned key count
    "k29_deletion_vectors" ->
      s"""${storeBaseSql(8)},
        |v2 AS (SELECT k, price, bucket FROM base WHERE k % 97 <> 0),
        |v3 AS (
        |  SELECT k, price, bucket FROM v2
        |    WHERE NOT (bucket = 3 AND k % 5 = 0)
        |  UNION ALL
        |  SELECT k, CAST(price * 3 AS DECIMAL(18,2)), bucket FROM v2
        |    WHERE bucket = 3 AND k % 5 = 0)
        |SELECT bucket, COUNT(*) AS cnt,
        |  CAST(SUM(price) AS DOUBLE) AS price_sum,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS zero_move_ok,
        |  (SELECT COUNT(*) FROM base WHERE k % 97 = 0) AS d_rows,
        |  CAST(1 AS BIGINT) AS all_d_ok
        |FROM v3 GROUP BY bucket ORDER BY bucket""".stripMargin,

    // the materialized read must equal base minus both delete sets —
    // the structural facts (selective rewrite, verbatim carry, no-op
    // re-sweep) are pinned in-gate as literal flags
    "k34_dv_materialize" ->
      s"""${storeBaseSql(8)},
        |live AS (SELECT k, price, bucket FROM base
        |  WHERE NOT (bucket = 3 AND k % 3 = 0)
        |    AND NOT (bucket <> 3 AND k % 499 = 0))
        |SELECT bucket, COUNT(*) AS cnt,
        |  CAST(SUM(price) AS DOUBLE) AS price_sum,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS mat_equals_dv_ok,
        |  CAST(1 AS BIGINT) AS selective_ok,
        |  CAST(1 AS BIGINT) AS heavy_clean_ok,
        |  CAST(1 AS BIGINT) AS light_carried_ok,
        |  CAST(1 AS BIGINT) AS noop_ok
        |FROM live GROUP BY bucket ORDER BY bucket""".stripMargin,

    // both lineages replayed: the fork point is src's v2; the clone's
    // divergence never feeds back
    "k28_shallow_clone" ->
      s"""${storeBaseSql(8)},
        |srcv AS (
        |  SELECT k, price, bucket FROM base
        |    WHERE NOT (bucket = 3 AND k % 2 = 0)
        |  UNION ALL
        |  SELECT k, CAST(price * 2 AS DECIMAL(18,2)), bucket FROM base
        |    WHERE bucket = 3 AND k % 2 = 0),
        |clonev AS (
        |  SELECT k, price, bucket FROM srcv
        |    WHERE NOT (bucket = 5 AND k % 3 = 0)
        |      AND NOT (bucket = 1 AND k % 4 = 1)
        |  UNION ALL
        |  SELECT k, CAST(price * 5 AS DECIMAL(18,2)), bucket FROM base
        |    WHERE bucket = 5 AND k % 3 = 0
        |  UNION ALL
        |  SELECT k + 70000000, price, bucket FROM base
        |    WHERE bucket = 5 AND k % 3 = 1),
        |u AS (
        |  SELECT 'src' AS side, bucket, COUNT(*) AS cnt,
        |    CAST(SUM(price) AS DOUBLE) AS price_sum,
        |    CAST(SUM(k) AS BIGINT) AS key_sum
        |  FROM srcv GROUP BY bucket
        |  UNION ALL
        |  SELECT 'clone', bucket, COUNT(*),
        |    CAST(SUM(price) AS DOUBLE), CAST(SUM(k) AS BIGINT)
        |  FROM clonev GROUP BY bucket)
        |SELECT side, bucket, cnt, price_sum, key_sum,
        |  CAST(1 AS BIGINT) AS zero_copy_ok
        |FROM u ORDER BY side, bucket""".stripMargin,

    "k23_versioned_compact" ->
      s"""${storeBaseSql(64)},
        |$storeV2Sql
        |SELECT bucket, COUNT(*) AS ct,
        |  CAST(SUM(price) AS DOUBLE) AS price_sum,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS files_drop_ok,
        |  CAST(1 AS BIGINT) AS latest_equal_ok,
        |  CAST(1 AS BIGINT) AS pre_intact_ok,
        |  CAST(1 AS BIGINT) AS vacuum_exact_ok,
        |  CAST(1 AS BIGINT) AS read_fails_ok,
        |  CAST(1 AS BIGINT) AS post_vacuum_ok
        |FROM v2 GROUP BY bucket ORDER BY bucket""".stripMargin,


    // four snapshots replayed; v3 answers with v2's VALUES under the new
    // name (a rename moves no data — the cols strings pin the names
    // themselves, the zero-IO verdict pins the bytes)
    "k24_column_rename" ->
      s"""${storeBaseSql(8)},
        |$storeV2Sql,
        |v4 AS (
        |  SELECT k, price, bucket FROM v2
        |    WHERE NOT (bucket = 7 AND k % 5 = 1)
        |  UNION ALL
        |  SELECT k, CAST(price * 3 AS DECIMAL(18,2)), bucket FROM base
        |    WHERE bucket = 7 AND k % 5 = 1
        |  UNION ALL
        |  SELECT k + 90000000, price, bucket FROM base
        |    WHERE bucket = 7 AND k % 5 = 2),
        |snaps AS (
        |  SELECT 1 AS version, 'k,price,bucket' AS cols, bucket,
        |    COUNT(*) AS ct, CAST(SUM(price) AS DOUBLE) AS val_sum,
        |    CAST(SUM(k) AS BIGINT) AS key_sum FROM base GROUP BY bucket
        |  UNION ALL
        |  SELECT 2, 'k,price,bucket', bucket, COUNT(*),
        |    CAST(SUM(price) AS DOUBLE), CAST(SUM(k) AS BIGINT)
        |    FROM v2 GROUP BY bucket
        |  UNION ALL
        |  SELECT 3, 'k,amount,bucket', bucket, COUNT(*),
        |    CAST(SUM(price) AS DOUBLE), CAST(SUM(k) AS BIGINT)
        |    FROM v2 GROUP BY bucket
        |  UNION ALL
        |  SELECT 4, 'k,amount,bucket', bucket, COUNT(*),
        |    CAST(SUM(price) AS DOUBLE), CAST(SUM(k) AS BIGINT)
        |    FROM v4 GROUP BY bucket)
        |SELECT CAST(version AS BIGINT) AS version, bucket, ct, val_sum,
        |  key_sum, cols, CAST(1 AS BIGINT) AS rename_zero_io_ok,
        |  CAST(1 AS BIGINT) AS immutable_ok
        |FROM snaps ORDER BY version, bucket""".stripMargin,


    // replay all three schema-evolution snapshots: v1 pre-evolution
    // (prio NULL everywhere — the Spark side reads v1 in its own narrow
    // schema and widens with NULLs for the comparison), v2 introduces
    // prio on the merged rows only, v3's prio-less source NULLs the
    // column on its updated keys (whole-row replace). The +70M/+90M key
    // offsets are chosen collision-free mod 4/5 so the carried-row
    // filters replay by predicate. Verdict columns pinned true.
    "k19_schema_evolution" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderkey % 8 AS bucket,
        |    substr(o_orderpriority, 1, 1) AS prio0 FROM orders),
        |v1 AS (SELECT k, price, bucket, CAST(NULL AS VARCHAR) AS prio
        |  FROM base),
        |v2 AS (
        |  SELECT k, price, bucket, prio FROM v1
        |    WHERE NOT (bucket = 3 AND k % 2 = 0)
        |      AND NOT (bucket = 6 AND k % 3 = 0)
        |  UNION ALL
        |  SELECT k, CAST(price * 2 AS DECIMAL(18,2)), bucket, prio0
        |    FROM base WHERE bucket = 3 AND k % 2 = 0
        |  UNION ALL
        |  SELECT k + 70000000, price, bucket, prio0 FROM base
        |    WHERE bucket = 3 AND k % 2 = 1),
        |v3 AS (
        |  SELECT k, price, bucket, prio FROM v2
        |    WHERE NOT (bucket = 3 AND k % 4 = 0)
        |  UNION ALL
        |  SELECT k, CAST(price * 5 AS DECIMAL(18,2)), bucket,
        |    CAST(NULL AS VARCHAR) FROM base WHERE bucket = 3 AND k % 4 = 0
        |  UNION ALL
        |  SELECT k + 90000000, price, bucket, CAST(NULL AS VARCHAR)
        |    FROM base WHERE bucket = 0 AND k % 5 = 0),
        |snaps AS (
        |  SELECT 1 AS version, bucket, COUNT(*) AS ct,
        |    CAST(SUM(price) AS DOUBLE) AS price_sum,
        |    CAST(SUM(k) AS BIGINT) AS key_sum,
        |    CAST(COUNT(prio) AS BIGINT) AS prio_ct FROM v1 GROUP BY bucket
        |  UNION ALL
        |  SELECT 2, bucket, COUNT(*), CAST(SUM(price) AS DOUBLE),
        |    CAST(SUM(k) AS BIGINT), CAST(COUNT(prio) AS BIGINT)
        |    FROM v2 GROUP BY bucket
        |  UNION ALL
        |  SELECT 3, bucket, COUNT(*), CAST(SUM(price) AS DOUBLE),
        |    CAST(SUM(k) AS BIGINT), CAST(COUNT(prio) AS BIGINT)
        |    FROM v3 GROUP BY bucket)
        |SELECT version, bucket, ct, price_sum, key_sum, prio_ct,
        |  CAST(1 AS BIGINT) AS v1_narrow_ok,
        |  CAST(1 AS BIGINT) AS immutable_ok
        |FROM snaps ORDER BY version, bucket""".stripMargin,


    // per probe key: the Bloom-planned pruned read must answer exactly
    // the base-table point query (no false negatives); the pruning and
    // subset verdicts are pinned TRUE
    "k16_manifest_bloom" ->
      """SELECT event_id AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS v_fp,
        |  TRUE AS pruned_ok, TRUE AS subset_ok
        |FROM events WHERE event_id IN (3, 97, 211, 499, 811)
        |GROUP BY event_id ORDER BY event_id""".stripMargin,


    // every token replayed via md5_number_lower (HUGEINT digits == the
    // decimal(20,0) string), join re-executed ON the tokens
    "k15_pseudonymize" ->
      """WITH c AS (SELECT
        |    CAST(md5_number_lower('s3cret:' || CAST(c_custkey AS VARCHAR))
        |      AS VARCHAR) AS ck,
        |    CAST(md5_number_lower('s3cret:' || c_name) AS VARCHAR) AS nm,
        |    c_mktsegment
        |  FROM customer),
        |o AS (SELECT
        |    CAST(md5_number_lower('s3cret:' || CAST(o_custkey AS VARCHAR))
        |      AS VARCHAR) AS ok
        |  FROM orders)
        |SELECT c_mktsegment, COUNT(*) AS orders,
        |  COUNT(DISTINCT nm) AS name_tokens, MIN(nm) AS min_token
        |FROM o JOIN c ON ok = ck
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,


    "source_csv_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS ct,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
        |  COUNT(DISTINCT c_nationkey) AS nations
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,


    "source_jsonl_roundtrip" ->
      """SELECT event_type, COUNT(*) AS ct,
        |  COUNT(DISTINCT user_id) AS users,
        |  MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
        |  MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    // round-trip truth is the ORIGINAL parquet — drift through ORC's
    // encoding (types, timestamps) breaks the hash
    "source_orc_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  MIN(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS min_date_us,
        |  MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS max_date_us
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    // XML round-trip truth is the ORIGINAL parquet (csv twin's contract)
    "source_xml_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS ct,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
        |  COUNT(DISTINCT c_nationkey) AS nations,
        |  MAX(length(c_name)) AS max_name_len
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,


    // evolution truth: replay the generation rule over the one table —
    // wrong null-fill or a dropped generation breaks the hash
    "source_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'PRE_SCHEMA'
        |            ELSE o_orderpriority END AS priority,
        |  COUNT(*) AS ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  MIN(o_orderkey) AS min_key
        |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin,


    // provenance truth: replay the even/odd file rule — a row attributed
    // to the wrong file breaks the hash
    "source_file_metadata" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS gen,
        |  COUNT(*) AS ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY gen""".stripMargin,


    "table_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS ndv,
           |  1 AS ndv_approx_ok,
           |  CAST(MIN($c) AS DOUBLE) AS min_d, CAST(MAX($c) AS DOUBLE) AS max_d,
           |  CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s
           |FROM c""".stripMargin
      def str(c: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS ndv,
           |  1 AS ndv_approx_ok,
           |  CAST(NULL AS DOUBLE) AS min_d, CAST(NULL AS DOUBLE) AS max_d,
           |  MIN($c) AS min_s, MAX($c) AS max_s
           |FROM c""".stripMargin
      s"""WITH c AS (SELECT c_custkey,
         |  CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END AS bal,
         |  c_name, c_mktsegment, c_nationkey FROM customer)
         |SELECT * FROM (
         |${Seq(num("c_custkey"), num("bal"), num("c_nationkey"),
                str("c_name"), str("c_mktsegment")).mkString("\n UNION ALL\n")}
         |) ORDER BY col_name""".stripMargin
    }
  )
}
