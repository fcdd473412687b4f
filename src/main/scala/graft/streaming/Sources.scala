package graft.streaming

import graft.TmpDirs.{rmTree, shmRoot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming source surface (SURVEY.md §2.1).
  *
  *  - S1 Kafka string source (util/MyKafkaUtil.java:32-37): subscribe +
  *    value-as-string.
  *  - S2 Kafka JSON DDL source (util/MyKafkaUtil.java:40-48): no entry
  *    point; `from_json` + `withWatermark` over S1's `value` column is the
  *    whole recipe.
  *  - S3/S4 CDC envelope source (ods/Flink_CDCWithCustomerSchema_Ods.java:
  *    50-124): Debezium-style {database, tableName, before, after, type}
  *    records, with the reference's create→insert rename. Spark has no
  *    built-in binlog reader, so the envelope stream arrives over any
  *    byte transport (kafka / files / MemoryStream) and is decoded here.
  *  - File/parquet streams stand in for Kafka in the test harness: the
  *    transforms are source-agnostic DataFrame functions.
  */
object Sources {

  /** The EXACT reader configuration S1 emits — extracted so the Kafka
    * closure spec can pin it without a broker or connector jar on the
    * classpath (KafkaClosureSpec): swapping in `spark-sql-kafka-0-10`
    * must stay configuration-only, with these options byte-identical. */
  private[graft] def kafkaSourceConf(servers: String, topic: String,
      startingOffsets: String): (String, Map[String, String]) =
    ("kafka", Map(
      "kafka.bootstrap.servers" -> servers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets))

  /** S1: Kafka topic as a stream of (key, value) strings. */
  def kafkaStrings(spark: SparkSession, servers: String, topic: String,
      startingOffsets: String = "latest"): DataFrame = {
    val (fmt, opts) = kafkaSourceConf(servers, topic, startingOffsets)
    opts.foldLeft(spark.readStream.format(fmt)) {
        case (r, (k, v)) => r.option(k, v) }
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"), col("partition"), col("offset"), col("timestamp"))
  }

  /** CDC changelog envelope schema (S4). `before`/`after` stay as raw JSON
    * strings because the payload schema differs per source table; per-table
    * decode applies a second from_json with that table's schema. */
  val cdcEnvelopeSchema: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("tableName", StringType),
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("type", StringType)))

  /** S4: decode CDC envelope JSON and normalize op names (create→insert,
    * matching Flink_CDCWithCustomerSchema_Ods.java:110-117). */
  def cdcDecode(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw
      .select(from_json(col(valueCol), cdcEnvelopeSchema).as("e"))
      .select(col("e.*"))
      .withColumn("type",
        when(col("type") === "create", lit("insert")).otherwise(col("type")))

  /** S3 initial mode, phase 1: a snapshot table as insert envelopes —
    * byte-compatible with cdcDecode output, so snapshot rows flow through
    * the exact same decode/route/upsert path as incremental changes
    * (Flink CDC StartupOptions.initial(): full snapshot first, then the
    * binlog — ods/Flink_CDCWithCustomerSchema_Ods.java:50-59). */
  def cdcSnapshotEnvelopes(snapshot: DataFrame, database: String,
      tableName: String): DataFrame =
    snapshot.select(
      lit(database).as("database"),
      lit(tableName).as("tableName"),
      lit(null).cast("string").as("before"),
      to_json(struct(snapshot.columns.toIndexedSeq.map(col): _*)).as("after"),
      lit("insert").as("type"))

  /** Decode the `after` payload of one table's upsert envelopes (inserts +
    * updates; deletes are the delete-filter's job, P3). */
  def cdcAfter(envelopes: DataFrame, tableName: String,
      payloadSchema: StructType): DataFrame =
    envelopes
      .filter(col("tableName") === tableName &&
        col("type").isin("insert", "update"))
      .select(from_json(col("after"), payloadSchema).as("r"))
      .select(col("r.*"))

  /** S3 initial mode, both phases: apply the snapshot to the dim store
    * (through the same envelope decode), then start the incremental
    * envelope stream into the same store. The phase boundary needs no
    * coordination: Sinks.upsertBatch is (key, version)-idempotent, so
    * binlog rows already reflected in the snapshot — or re-delivered on
    * replay — converge instead of regressing. `raw` is the incremental
    * envelope transport (kafka value strings / file stream / MemoryStream).
    */
  def cdcInitialToDim(snapshot: DataFrame, database: String, table: String,
      raw: DataFrame, payloadSchema: StructType, path: String, keyCol: String,
      versionCol: String, checkpoint: String,
      buckets: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    val snapRows = cdcAfter(
      cdcDecode(cdcSnapshotEnvelopes(snapshot, database, table)
        .select(to_json(struct(col("database"), col("tableName"), col("before"),
          col("after"), col("type"))).as("value"))),
      table, payloadSchema)
    Sinks.upsertBatch(snapRows, path, keyCol, Some(versionCol), buckets)
    Sinks.dimUpsert(cdcAfter(cdcDecode(raw), table, payloadSchema),
      path, keyCol, checkpoint, Some(versionCol), buckets = buckets)
  }

  /** Streaming cannot infer a parquet schema, but hard-coding one binds the
    * engine to a single historical physical type of a fixture file (the
    * round-10 break: events regenerated NANOS → TIMESTAMP_MICROS). Instead,
    * probe the Spark-visible schema with a one-footer batch read and declare
    * THAT — the stream then adapts to whatever the driver regenerates, and a
    * genuinely incompatible change fails loudly at the probe instead of
    * silently corrupting values. */
  private[graft] def probedSchema(spark: SparkSession, dir: String,
      glob: String): StructType =
    spark.read.option("pathGlobFilter", glob).parquet(dir).schema

  /** Documents table as a file stream — the ingestion-side stand-in for a
    * new-corpus-batch topic (no event-time column; consumers are
    * stream-static joins that need no watermark). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftExtensions.ensureRegistered(spark)
    spark.readStream
      .schema(probedSchema(spark, dir, "documents.parquet"))
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** Events table as a file stream — the harness stand-in for the
    * ods_base_log Kafka topic. Declared schema comes from a footer probe;
    * `ts` is canonicalized to TimestampType by the same type-driven branch
    * as the batch reader (Tables.normalizeEventTs). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftExtensions.ensureRegistered(spark)
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(probedSchema(spark, dir, "events.parquet"))
        .option("pathGlobFilter", "events.parquet") // file source needs a dir
        .parquet(dir))
  }

  /** The canonical schema of the split-chunk files [[ensureEventsSplit]]
    * writes: chunks are produced from an already-normalized frame, so `ts`
    * is TimestampType regardless of the source file's physical type. */
  private val eventsChunkSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Multi-micro-batch twin of [[eventsStream]]: the same rows, pre-split
    * into `parts` event-time-contiguous chunk files and read with
    * `maxFilesPerTrigger=1`, so a bounded `Trigger.AvailableNow` run
    * executes `parts` data micro-batches (plus the final watermark-flush
    * batch) instead of one. This is what makes the stateful streaming
    * gates exercise cross-batch state evolution — watermark ADVANCE
    * between batches, state reload, event-time timeouts firing mid-stream
    * — which a single-batch run structurally cannot.
    *
    * Result-equivalence argument (why the SAME DuckDB oracle applies):
    * chunks are contiguous, disjoint ts ranges with ties kept in the
    * earlier chunk (`ts > lo && ts <= hi`), and the file source processes
    * them in order (strictly increasing modification times). The
    * watermark after batch k is maxTs(chunk k) − delay, and every later
    * row has ts STRICTLY greater than maxTs(chunk k), so no row is ever
    * late — nothing is dropped mid-stream that the one-batch run kept.
    * Event-time timeouts may fire in an EARLIER batch than before, but
    * whether they fire is decided by the same final watermark, and a
    * timeout firing before key k's next event e implies e was already
    * more than the gap away (watermark ≤ e.ts − delay), so the state
    * machine takes the same branch either way. Per-key event order is
    * preserved (chunks are globally ts-ordered; operators sort each batch
    * slice by (ts, event_id)).
    */
  def eventsStreamSplit(spark: SparkSession, dir: String,
      parts: Int = 4): DataFrame =
    splitStream(spark, dir, parts, tsContiguous = true)

  /** Out-of-order multi-batch twin: chunks are round-robin on event_id
    * (chunk i = event_id mod parts), so every batch after the first
    * carries rows BEHIND the advanced watermark — the fixture for the
    * late-data-drop gate. Unlike [[eventsStreamSplit]] this does NOT
    * preserve single-batch results for watermarked operators; that
    * difference (what exactly gets dropped, per Spark's published
    * watermark rule) is the thing `stream_t7_late_drop`'s oracle
    * recomputes explicitly. */
  def eventsStreamShuffled(spark: SparkSession, dir: String,
      parts: Int = 4): DataFrame =
    splitStream(spark, dir, parts, tsContiguous = false)

  /** The ts-contiguous chunk FILES behind [[eventsStreamSplit]] (building
    * them if needed), in processing order — for harness helpers that
    * stage chunks incrementally, e.g. the checkpoint-resume gate, which
    * needs lifecycle 2's source directory to contain files lifecycle 1
    * never saw. */
  private[graft] def eventsSplitChunks(spark: SparkSession, dir: String,
      parts: Int = 4): Seq[java.io.File] = {
    val splitDir = ensureEventsSplit(spark, dir, parts, tsContiguous = true)
    Option(new java.io.File(splitDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  }

  /** [[eventsStreamSplit]]'s reader over an ARBITRARY staging directory —
    * the caller controls which chunk files are present (and adds more
    * between runs for checkpoint-resume). Same schema, ts conversion and
    * one-file-per-trigger pacing. */
  private[graft] def eventsStreamStaged(spark: SparkSession,
      stageDir: String): DataFrame = {
    graft.expressions.GraftExtensions.ensureRegistered(spark)
    spark.readStream
      .schema(eventsChunkSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)
  }

  /** Stage each bounded frame as ONE parquet chunk file (mtime-pinned in
    * sequence order) in a fresh tmpfs dir, and read them back as a
    * `maxFilesPerTrigger=1` file stream — a deterministic multi-micro-batch
    * bounded stream for envelope/transport fixtures (the CDC gate's binlog
    * stand-in). All frames must share one schema; the file source's
    * mtime ordering makes chunk i exactly micro-batch i. */
  private[graft] def stagedChunkStream(spark: SparkSession,
      chunks: Seq[DataFrame], stageDir: Option[String] = None): DataFrame = {
    require(chunks.nonEmpty, "stagedChunkStream needs at least one chunk")
    val stage = new java.io.File(stageDir.getOrElse(
      s"$shmRoot/graft-envchunks-${System.nanoTime()}"))
    stage.mkdirs()
    writeChunks(stage, chunks, "staged chunk")
    spark.readStream
      .schema(chunks.head.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.getPath)
  }

  /** Write each frame as ONE parquet file `dir/chunk-NN.parquet`
    * (`coalesce(1)`, part file moved out of its temp dir, temp dir
    * dropped), mtime pinned at `base + i·2 s`: the file source processes
    * files in modification-time order, so chunk i is exactly
    * micro-batch i. `what` names a chunk in the no-file error. */
  private def writeChunks(dir: java.io.File, frames: Seq[DataFrame],
      what: String): Unit = {
    val base = (System.currentTimeMillis() / 1000L) * 1000L
    frames.zipWithIndex.foreach { case (df, i) =>
      val tmp = new java.io.File(dir, s"tmp-$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .find(_.getName.endsWith(".parquet")).getOrElse(
          throw new IllegalStateException(s"$what $i produced no file"))
      val dest = new java.io.File(dir, f"chunk-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      rmTree(tmp.getPath)
      dest.setLastModified(base + i * 2000L)
    }
  }

  private def splitStream(spark: SparkSession, dir: String, parts: Int,
      tsContiguous: Boolean): DataFrame = {
    graft.expressions.GraftExtensions.ensureRegistered(spark)
    val splitDir = ensureEventsSplit(spark, dir, parts, tsContiguous)
    spark.readStream
      .schema(eventsChunkSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir)
  }

  private val splitLock = new Object

  /** Build (once per (dir, parts), cached on tmpfs) the ts-contiguous
    * chunk files [[eventsStreamSplit]] streams. Chunk boundaries are
    * EXACT ts quantiles (relativeError 0) mapped through a lossy double
    * cast — lossiness is harmless because the same boundary value is used
    * on both sides of each cut, so chunks stay disjoint and complete; all
    * rows sharing a boundary ts land in the earlier chunk, which is what
    * keeps later chunks strictly above every earlier watermark. Harness
    * fixture prep, not a data path: one file per chunk via coalesce(1) is
    * deliberate (micro-batch granularity IS the point). */
  private def ensureEventsSplit(spark: SparkSession, dir: String,
      parts: Int, tsContiguous: Boolean): String = splitLock.synchronized {
    require(parts >= 2, s"parts must be >= 2, got $parts")
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val mode = if (tsContiguous) "" else "-rr"
    // key the cache on a fingerprint of the SOURCE file too: a driver-side
    // data regeneration (new mtime/size) must invalidate old chunks, or
    // stale pre-regeneration data would silently survive on tmpfs
    val src = new java.io.File(dir, "events.parquet")
    val fp = s"${src.length()}-${src.lastModified()}"
    val out = new java.io.File(s"$shmRoot/graft-events-split-$key-$parts$mode-$fp")
    if (out.isDirectory && Option(out.listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet")) == parts)
      return out.getPath
    // sweep stale-fingerprint siblings: each driver-side regeneration
    // changes fp, and without this the tmpfs would keep a full events
    // copy per generation
    val stalePat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(s"graft-events-split-$key-$parts$mode-") +
        "\\d+-\\d+(\\.build)?")
    Option(new java.io.File(shmRoot).listFiles()).getOrElse(Array.empty)
      .filter(f => stalePat.matcher(f.getName).matches() &&
        f.getName != out.getName && f.getName != out.getName + ".build")
      .foreach(f => rmTree(f.getPath))
    rmTree(out.getPath)
    val build = new java.io.File(out.getPath + ".build")
    rmTree(build.getPath)
    build.mkdirs()
    // normalize ONCE here (type-driven, see Tables.normalizeEventTs), so
    // chunk files always carry the canonical TimestampType schema and the
    // split readers need no per-physical-type branch; cuts compare on
    // unix_micros, which is exact for micros-resolution timestamps
    val raw = graft.Tables.normalizeEventTs(
        spark.read.option("pathGlobFilter", "events.parquet").parquet(dir))
      .select(eventsChunkSchema.fieldNames.toIndexedSeq.map(col): _*)
    val tsUs = unix_micros(col("ts"))
    val chunkPreds: Seq[org.apache.spark.sql.Column] =
      if (tsContiguous) {
        val probs = (1 until parts).map(_.toDouble / parts).toArray
        val bounds = raw.select(tsUs.cast("double").as("tsd"))
          .stat.approxQuantile("tsd", probs, 0.0)
          .map(_.toLong).distinct.sorted
        if (bounds.length != parts - 1)
          throw new IllegalStateException(s"events ts quantiles collapsed " +
            s"(${bounds.length + 1} distinct cuts for $parts chunks) — the " +
            "fixture is too ts-degenerate to split; lower `parts`")
        val cuts = (Long.MinValue +: bounds.toVector) :+ Long.MaxValue
        cuts.sliding(2).collect { case Seq(lo, hi) =>
          tsUs > lo && tsUs <= hi }.toSeq
      } else
        (0 until parts).map(i => pmod(col("event_id"), lit(parts.toLong)) === i)
    writeChunks(build, chunkPreds.map(p => raw.filter(p)), "split chunk")
    if (!build.renameTo(out))
      throw new IllegalStateException(s"could not move $build to $out")
    out.getPath
  }
}
