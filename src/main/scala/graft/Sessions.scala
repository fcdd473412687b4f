package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Tuned for the driver's local[32] harness but with settings chosen to
  * survive a real multi-executor cluster at 100 TB:
  *   - AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  *     dynamic broadcast conversion),
  *   - shuffle.partitions sized to the parallelism (the driver harness is a
  *     single host; on a 1000-executor cluster this would be set to
  *     2-3x total cores — AQE coalescing makes over-provisioning cheap),
  *   - parquet nanos read as long (the `events` table carries
  *     TIMESTAMP(NANOS) which Spark's reader otherwise rejects),
  *   - UTC session timezone so date arithmetic is stable against the
  *     DuckDB oracle,
  *   - a generated-class cache that holds the engine's whole working set
  *     (`spark.sql.codegen.cache.maxEntries`) and class names free of the
  *     whole-stage id (`spark.sql.codegen.useIdInClassName=false`), so a
  *     plan shape this session has already run is neither recompiled by
  *     Janino nor JIT-compiled again by HotSpot. (Spark keys the cache by
  *     the compiling thread's class loader too, and each streaming query
  *     runs its tasks under a cloned session's loader, so a stream's
  *     task-side classes still compile once per query.)
  *   - 2 MB Tungsten pages (`spark.buffer.pageSize`). Spark's default is
  *     execution memory / cores / 16 rounded up to a power of two: 16 MB in
  *     a 3 GB local[4] JVM, 64 MB in an 8 GB one. A string-keyed broadcast
  *     relation (`UnsafeHashedRelation`) takes one whole page for its hash
  *     map when the driver builds it and again when each task deserializes
  *     it, and the deserialized copy stays in the block manager until the
  *     broadcast is cleaned, so a 15-row config table pinned 16 MB per copy
  *     and young GCs promoted it. Sort and hash-aggregate tasks also take a
  *     whole page each. Records larger than a page still get a page of
  *     their own size. The ceiling: a task addresses 8,192 pages, so
  *     8,192 × 2 MB = 16 GB per task.
  *
  * The codegen settings and the page size are STATIC confs: they take
  * effect only when this call builds the JVM's first session (the page
  * size when it builds the SparkContext), before anything has been
  * code-generated. That holds for every entry point (`SparkSpec`, `Bench`,
  * `Verify`, perfbench); a session created earlier by other code keeps its
  * own values and `getOrCreate` silently returns it.
  */
object Sessions {
  def tuned(master: String, cpus: String): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4.1 writes a .crc companion for EVERY checkpoint file
      // (state deltas/snapshots, offsets, commits) through
      // ChecksumCheckpointFileManager — doubling file-ops on paths whose
      // durability already comes from the store. Worth it on remote object
      // stores; pure overhead for this harness's throwaway tmpfs
      // checkpoints (measured: see BASELINE.md r11 notes). A durable
      // production deployment on HDFS/S3 would re-enable it.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Spark's default generated-class cache keeps 100 classes; one
      // gmall raw-log→GMV chain pass compiles 257-266 and one
      // store+corpus pass 207-224 (counted with CodegenMetrics), so the
      // LRU cycled and every pass recompiled every shape. 4096 holds the
      // largest measured working set fifteen times over.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // The same operator subtree planned under a different whole-stage
      // id then reuses its class: on top of the larger cache, warm-up
      // compiles went 263 → 237-239 on the chain and 187 → 179 on
      // store+corpus.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // one page per broadcast hash map, sort or aggregation buffer: see
      // the scaladoc for the measured cost of the 16-64 MB default
      .config("spark.buffer.pageSize", "2m")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One JVM-wide monitor for every [[withConf]] scope. */
  private val confLock = new Object

  /** Run `body` with each `key -> value` set on `spark`'s session conf,
    * then put every key back as it was: its old value, or unset if it was
    * not set. This is the engine's only way to change session conf; library
    * code assumes the [[tuned]] settings hold everywhere else.
    *
    * Scopes are serialised by one JVM-wide monitor, so two threads never
    * interleave their set/restore windows (a lock-free save/restore run
    * on two threads can restore a neighbour's value and leave it behind).
    * The monitor is reentrant: nested scopes on one thread work and
    * restore level by level. The contract:
    *   - a scope holds only settings that do not change results (widths,
    *     AQE, state-store provider): concurrent UNSCOPED queries on other
    *     threads plan under them while the scope is open;
    *   - `body` materialises what it plans (an action, a
    *     `localCheckpoint(true)`, a streaming query run to termination);
    *     a lazy DataFrame returned from the scope re-plans later under the
    *     restored conf;
    *   - `body` never blocks on another thread that itself enters a scope
    *     (that thread waits for the monitor this one holds: a deadlock). */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T =
    confLock.synchronized {
      // the explicitly set confs, not `getOption`: getOption reports a
      // registered conf's default as a value, and restoring that would pin it
      val set = spark.conf.getAll
      val prev = kvs.map { case (k, _) => k -> set.get(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.reverse.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Force FULL computation of a DataFrame for timing harnesses.
    *
    * `.count()` is the wrong action for measurement: the optimizer prunes
    * everything a bare row count doesn't need — unused aggregate
    * expressions, windows, final projections, sorts — so a count-actioned
    * arm times a row-count-only plan, not the gate's work (the r13 as-of
    * A/B measured its composed arm as a no-op this way; see BASELINE.md
    * "r13 as-of tier attribution"). The noop v2 sink consumes every output
    * row with zero serialization cost, so the timed span is exactly the
    * query as a user would materialize it. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
