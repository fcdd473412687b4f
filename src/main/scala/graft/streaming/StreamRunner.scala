package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import graft.Sessions.withConf
import graft.TmpDirs.{rmTree, shmRoot}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Drives a streaming DataFrame to completion over its (finite) sources
  * with Trigger.AvailableNow into a memory sink, returning the result as a
  * batch DataFrame.
  *
  * This is how the driver's batch-only correctness gate exercises the real
  * streaming execution path: same operators, same state stores, same
  * watermark machinery as a live run — just over a bounded source. Each run
  * gets a fresh query name + checkpoint dir, so repeated invocations are
  * independent.
  */
object StreamRunner {
  private val n = new AtomicLong()

  /** State partition count for stateful streaming queries. Batch shuffle
    * width (sized to cores) is the wrong unit for streaming state: every
    * micro-batch commits one state-store delta per partition per stateful
    * operator, so partition count multiplies checkpoint file I/O. Sized
    * for the single-host harness (measured: the stream-stream join runs
    * 7.9s at 32 partitions, 2.4s at 4); a real cluster sizes this to
    * state volume / executor count instead. */
  val StatePartitions: Int = 8

  /** The state-store conf a transformWithState query runs under: the API
    * requires the RocksDB provider, and changelog checkpointing makes each
    * commit ship the batch's changelog instead of a full snapshot
    * (snapshots move to background maintenance) — the production posture
    * for frequent small commits, and measured faster here too
    * (tws_uv_changelog 2.33 s vs 2.60 s median without: BASELINE.md "r11
    * driver-run drift attribution"). */
  private[graft] val RocksDbConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** The state-store conf `stream` needs: [[RocksDbConf]] when its plan
    * holds a transformWithState operator, none otherwise (other stateful
    * operators keep the session's provider). */
  private[graft] def stateConf(stream: DataFrame): Seq[(String, String)] =
    if (stream.queryExecution.logical.exists(_.isInstanceOf[TransformWithState]))
      RocksDbConf
    else Nil

  /** A fresh throwaway dir on tmpfs: these are bounded-run checkpoints,
    * and state-store commits are pure file-I/O overhead on them (a durable
    * store is only right for a real long-running deployment, which goes
    * through Sinks.* with an explicit checkpointLocation instead). */
  private def freshDir(kind: String): String =
    s"$shmRoot/graft-$kind-${n.incrementAndGet()}-${System.nanoTime()}"

  /** The one bounded-run loop every entry point shares: `sink` sets up
    * the writer (memory sink or a `foreachBatch` body), the query runs
    * with Trigger.AvailableNow to termination with `statePartitions` as
    * its shuffle/state width and [[stateConf]] as its state-store conf,
    * and a fresh checkpoint is swept on exit,
    * success or failure (unswept, a long bench session leaves thousands
    * of committed-offset dirs on tmpfs). A `sharedCkpt` is left in place
    * for its owner to sweep. */
  private def run(stream: DataFrame, statePartitions: Int = StatePartitions,
      sharedCkpt: Option[String] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val ckpt = sharedCkpt.getOrElse(freshDir("ckpt"))
    try withConf(stream.sparkSession,
        ("spark.sql.shuffle.partitions" -> statePartitions.toString) +:
          stateConf(stream): _*) {
      sink(stream.writeStream)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally if (sharedCkpt.isEmpty) rmTree(ckpt)
  }

  /** Rows a foreachBatch sink accumulated on the driver, as one batch
    * DataFrame (`schema` is null when the stream produced no batch). */
  private def gathered(spark: org.apache.spark.sql.SparkSession,
      acc: java.util.Queue[Array[Row]], schema: StructType,
      who: String): DataFrame = {
    require(schema != null, s"$who: the stream produced no batches")
    val rows = new java.util.ArrayList[Row]()
    acc.forEach(a => a.foreach(rows.add))
    spark.createDataFrame(rows, schema)
  }

  /** @param statePartitions shuffle/state partition count for THIS query.
    *   Stateful commit cost is per-store-per-partition-per-batch file I/O,
    *   independent of state volume — a stream-stream join carries 4 stores
    *   per partition, so a 2-batch 10-row join at 8 partitions pays 64
    *   store commits for 10 rows of state (measured 3.5-4.3 s in r11).
    *   Gates whose state is a handful of rows pass a small count; the
    *   default stays [[StatePartitions]]. Results are identical at any
    *   count (state is key-hashed); on a real cluster this is sized to
    *   state volume / executor count, exactly like shuffle width. */
  def collect(stream: DataFrame, outputMode: String = "append",
      statePartitions: Int = StatePartitions): DataFrame = {
    val name = s"graft_stream_${n.incrementAndGet()}"
    // the memory-sink table outlives the checkpoint
    run(stream, statePartitions)(
      _.format("memory").queryName(name).outputMode(outputMode))
    stream.sparkSession.table(name)
  }

  /** Like [[collect]] but through `foreachBatch`, applying a BATCH
    * transform to each micro-batch — the streaming execution shape for
    * per-row/per-doc-pure pipeline stages (decontamination, filtering)
    * whose logic is a plain `DataFrame => DataFrame`. Batch-local
    * application is exact for such stages whatever the batch boundaries.
    * Results accumulate on the driver like the memory sink [[collect]]
    * uses — a bounded-run harness helper, not a production sink (live
    * deployments write each transformed batch through Sinks.* instead). */
  def collectBatches(stream: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[Array[Row]]()
    @volatile var schema: StructType = null
    run(stream)(_.foreachBatch { (b: DataFrame, _: Long) =>
      val r = f(b)
      schema = r.schema
      acc.add(r.collect())
      ()
    })
    gathered(stream.sparkSession, acc, schema, "collectBatches")
  }

  /** Run a bounded stream through `foreachBatch` purely for its side
    * effects — the harness shape for sinks that FOLD each micro-batch
    * into a store (incremental state upkeep, MERGE-style writes) rather
    * than appending rows. The throwaway checkpoint is swept on exit —
    * a fold sink's durability lives in its own store, not here. */
  def runForeachBatch(stream: DataFrame)(f: (DataFrame, Long) => Unit): Unit =
    run(stream)(_.foreachBatch(f))

  /** T8 as an observable behavior: run the SAME query over TWO
    * lifecycles sharing ONE checkpoint. Lifecycle 1 processes the first
    * `splitAt` chunk files and stops (a planned stop stands in for the
    * crash: the sink-side buffer is discarded state, the checkpoint —
    * committed offsets + state-store snapshots — is what survives);
    * the remaining chunks are then staged and a FRESH query starts from
    * the same checkpoint. Returns the union of both lifecycles' output.
    *
    * Why this proves exactly-once resume: if offset recovery failed,
    * lifecycle 2 would re-read lifecycle 1's files and re-emit its rows;
    * if state reload failed, keys seen in lifecycle 1 would emit again
    * under stateful dedup. Either way the union carries duplicates the
    * single-run oracle does not have — a hash mismatch, not a silent
    * pass. Sink is foreachBatch (the memory sink refuses checkpoint
    * recovery by design); rows accumulate on the driver like
    * [[collectBatches]] — a bounded-run harness helper, not a sink. */
  def collectResumed(chunks: Seq[java.io.File], splitAt: Int,
      statePartitions: Int = StatePartitions)(
      mkStream: String => DataFrame): DataFrame = {
    require(splitAt > 0 && splitAt < chunks.length,
      s"splitAt must split $chunks non-trivially, got $splitAt")
    val stage = new java.io.File(freshDir("stage"))
    stage.mkdirs()
    val ckpt = freshDir("ckpt")
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[Array[Row]]()
    @volatile var schema: StructType = null
    @volatile var sparkRef: org.apache.spark.sql.SparkSession = null
    def stageUp(files: Seq[java.io.File]): Unit = files.foreach { f =>
      val dest = new java.io.File(stage, f.getName)
      java.nio.file.Files.copy(f.toPath, dest.toPath)
      dest.setLastModified(f.lastModified) // preserve processing order
      ()
    }
    def lifecycle(): Unit = {
      val stream = mkStream(stage.getPath)
      sparkRef = stream.sparkSession
      run(stream, statePartitions, Some(ckpt))(
        _.foreachBatch { (b: DataFrame, _: Long) =>
          schema = b.schema
          acc.add(b.collect())
          ()
        })
    }
    try {
      stageUp(chunks.take(splitAt))
      lifecycle()
      stageUp(chunks.drop(splitAt))
      lifecycle() // the SHARED checkpoint must survive between lifecycles
    } finally { rmTree(ckpt); rmTree(stage.getPath) }
    gathered(sparkRef, acc, schema, "collectResumed")
  }

  /** Fold the (finite) stream's micro-batches through `step`, returning
    * the final state — the accumulating-store shape behind foreachBatch
    * dim maintenance: each batch merges into a state DataFrame a
    * downstream view derives from. The state is localCheckpoint'ed per
    * batch so lineage does not stack across batches (the blocks die with
    * the session; Bench's hygiene pass also sweeps them). */
  def foldBatches(stream: DataFrame)(
      step: (Option[DataFrame], DataFrame) => DataFrame): DataFrame = {
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    run(stream)(_.foreachBatch { (b: DataFrame, _: Long) =>
      state.set(step(Option(state.get), b).localCheckpoint(true))
      ()
    })
    require(state.get != null, "foldBatches: the stream produced no batches")
    state.get
  }
}
