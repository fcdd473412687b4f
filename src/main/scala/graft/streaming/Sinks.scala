package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Streaming sink surface (SURVEY.md §2.2).
  *
  *  - K1 fixed-topic Kafka producer (util/MyKafkaUtil.java:21-23).
  *  - K2 dynamic-topic producer (util/MyKafkaUtil.java:25-30): Spark's
  *    kafka sink honors a per-row `topic` column natively.
  *  - K3 JDBC/ClickHouse batch sink (util/ClickHouseUtil.java:16-54):
  *    foreachBatch + append; `@TransientSink` column skipping becomes a
  *    drop. The micro-batch IS the batching unit (the reference's
  *    batchSize/interval knobs collapse into the trigger).
  *  - K4/K5 dim upsert with auto-create (func/DimSinkFunction.java:28-72,
  *    TableProcessFunction.java:87-148): merge-by-key overwrite; first
  *    write creates the table (the reference's generated Phoenix DDL —
  *    implemented as intended; the original never executed its statement).
  *  - K6 console (.print()).
  */
object Sinks {

  /** K1: shape rows for a fixed Kafka topic — all columns JSON-packed into
    * `value`. */
  def kafkaValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** The EXACT writer configurations K1/K2 emit — extracted so the Kafka
    * closure spec can pin them without a broker or connector jar
    * (KafkaClosureSpec): a fixed-topic sink names its topic in the
    * options; the dynamic sink names NO topic (each row routes by its
    * own `topic` column — the connector's documented per-row contract). */
  private[graft] def kafkaSinkConf(servers: String, topic: Option[String],
      checkpoint: String): (String, Map[String, String]) =
    ("kafka", Map(
      "kafka.bootstrap.servers" -> servers,
      "checkpointLocation" -> checkpoint) ++
      topic.map("topic" -> _))

  /** K1: write to one Kafka topic. */
  def toKafka(df: DataFrame, servers: String, topic: String,
      checkpoint: String): StreamingQuery = {
    val (fmt, opts) = kafkaSinkConf(servers, Some(topic), checkpoint)
    opts.foldLeft(kafkaValue(df).writeStream.format(fmt)) {
        case (w, (k, v)) => w.option(k, v) }
      .start()
  }

  /** K2 row shaping: per-row topic from `topicCol`, remaining columns
    * JSON-packed into `value` — the KafkaSerializationSchema analogue as a
    * pure function (dwd/BaseDBApp.java:93-98). */
  def dynamicTopicRows(df: DataFrame, topicCol: String): DataFrame =
    df.withColumn("topic", col(topicCol))
      .select(col("topic"),
        to_json(struct(df.columns.toIndexedSeq.filter(_ != topicCol).map(col): _*))
          .as("value"))

  /** K2: dynamic topic — the sink routes each row by its `topic` column. */
  def toKafkaDynamic(df: DataFrame, servers: String, topicCol: String,
      checkpoint: String): StreamingQuery = {
    val (fmt, opts) = kafkaSinkConf(servers, None, checkpoint)
    opts.foldLeft(dynamicTopicRows(df, topicCol).writeStream.format(fmt)) {
        case (w, (k, v)) => w.option(k, v) }
      .start()
  }

  /** K3: append each micro-batch to a parquet table, dropping transient
    * (sink-skipped) columns. Works for any JDBC-style store by swapping the
    * inner writer. */
  def foreachBatchParquet(df: DataFrame, path: String, checkpoint: String,
      transientCols: Seq[String] = Nil,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.drop(transientCols: _*).write.mode(SaveMode.Append).parquet(path)
      }
      .start()

  /** K4/K5: upsert each micro-batch into a keyed dim table stored as
    * parquet: latest row per key wins; table auto-created on first batch.
    * The read-union-overwrite is safe because dim tables are small by
    * contract (they broadcast in joins); a lakehouse MERGE is the drop-in
    * upgrade when the store supports it.
    *
    * `buckets > 0` switches the store to a hash-bucketed layout
    * (partitioned by `__bucket = hash(key) % buckets`): each micro-batch
    * reads and rewrites ONLY the buckets its keys fall in — O(batch)
    * instead of O(table) per upsert, the layout that keeps this sink
    * viable when a "dim" table grows past broadcast size. */
  def dimUpsert(df: DataFrame, path: String, keyCol: String, checkpoint: String,
      versionCol: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      buckets: Int = 0): StreamingQuery =
    df.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, path, keyCol, versionCol, buckets)
      }
      .start()

  /** Merge one micro-batch into the keyed dim table. "Latest per key wins"
    * is decided by `versionCol` (an event-time/version column from the CDC
    * envelope) when one exists; without it the winner WITHIN a batch is
    * arbitrary — partition order is not arrival order, so two same-key
    * updates in one batch have no defined relative order.
    *
    * Replay contract: with a versionCol, the STORED row's version competes
    * too — a re-delivered older change can never regress a newer stored
    * row, so any replay (same batch, reordered segments, the CDC
    * snapshot-then-stream overlap) converges to max-version-per-key; ties
    * go to the incoming row. Without a versionCol there is no cross-batch
    * ordering to appeal to, and incoming beats stored. */
  private[graft] def upsertBatch(batch: DataFrame, path: String, keyCol: String,
      versionCol: Option[String] = None, buckets: Int = 0): Unit = {
    val spark = batch.sparkSession
    val bucketed = buckets > 0
    val incoming0 = versionCol match {
      case Some(v) => batch.withColumn("__v", col(v).cast("long"))
      case None    => batch.withColumn("__v", lit(0L))
    }
    val incoming = (if (bucketed)
        incoming0.withColumn("__bucket", pmod(xxhash64(col(keyCol)), lit(buckets.toLong)))
      else incoming0).withColumn("__src", lit(1))
    val empty =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], incoming.schema)
    // a table not created yet is empty: asked of the filesystem, not
    // learned from a failed read, whose analysis error Spark also hands
    // to the session's query-execution listeners (ObservationManager's
    // logs it as an ERROR)
    val dir = new org.apache.hadoop.fs.Path(path)
    val existing =
      if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir))
        empty
      else try {
        val stored0 = spark.read.parquet(path)
        // partition-column inference yields int; align with the long we write
        val stored = if (bucketed) stored0.withColumn("__bucket", col("__bucket").cast("long"))
          else stored0
        val pruned = if (bucketed) {
          // the probe list is O(buckets) ints — driver-side by design, like
          // any index lookup; it prunes both the read and the rewrite
          val touched = incoming.select(col("__bucket")).distinct()
            .collect().map(_.getLong(0))
          stored.filter(col("__bucket").isin(touched.toIndexedSeq: _*))
        } else stored
        val versioned = versionCol match {
          case Some(v) if pruned.columns.contains(v) =>
            pruned.withColumn("__v", col(v).cast("long"))
          case _ => pruned.withColumn("__v", lit(Long.MinValue))
        }
        versioned.withColumn("__src", lit(0))
      } catch {
        // only a table without data files is empty too: an unreadable one
        // (a corrupt footer) fails the upsert instead of being overwritten
        // with the incoming rows alone
        case e: AnalysisException
            if Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")(e.getCondition) =>
          empty
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__v").desc, col("__src").desc)
    val merged = existing.unionByName(incoming)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__v", "__src")
      .localCheckpoint(true) // break lineage off the files being overwritten
    if (bucketed)
      // dynamic overwrite replaces only the partitions present in `merged`
      // = the touched buckets; untouched bucket files are never rewritten
      merged.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket").parquet(path)
    else
      merged.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** K6: console sink (the reference's .print() debug taps). */
  def console(df: DataFrame, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream.format("console").option("checkpointLocation", checkpoint)

  /** Backfill: overwrite ONLY the partitions present in `df`, leaving
    * every other partition of the store untouched — Spark's dynamic
    * partitionOverwriteMode, scoped to this one write (the session
    * default is restored after). This is the nightly-correction posture
    * for a date-partitioned serving store: recompute the affected days
    * and land them atomically per partition; a static overwrite here
    * would DELETE every other day. At 100 TB the write cost is the
    * churned partitions, never the table. */
  def overwritePartitions(df: DataFrame, path: String,
      partCol: String): Unit =
    // the write OPTION scopes dynamic mode to this one write — unlike a
    // set/restore of the session conf, which races under concurrent
    // queries on one session (another writer in the window would
    // silently pick up dynamic semantics; ConcurrencySpec is the guard)
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
}
