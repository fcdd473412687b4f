package perfbench

/** The per-layer metric set. A traced run of any workload prints every
  * name below; a layer the workload never calls reads 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "BaseLog.ms" -> "ms", "BaseLog.dirty_ratio" -> "ratio", "BaseLog.rows_out" -> "count",
    "BaseLog.input_bytes_per_raw_byte" -> "ratio",
    "DbRouter.ms" -> "ms", "DbRouter.routed_ratio" -> "ratio", "DbRouter.rows_out" -> "count",
    "OrderWide.join_ms" -> "ms", "OrderWide.enrich_ms" -> "ms", "OrderWide.payment_ms" -> "ms",
    "OrderWide.match_ratio" -> "ratio", "OrderWide.rows_out" -> "count",
    "DwsStats.visitor_ms" -> "ms", "DwsStats.product_ms" -> "ms", "DwsStats.keyword_ms" -> "ms",
    "DwsStats.province_ms" -> "ms", "DwsStats.rows_out" -> "count",
    "ServingApi.write_ms" -> "ms", "ServingApi.gmv_ms" -> "ms", "ServingApi.rows_out" -> "count",
    "stream.ms" -> "ms", "stream.batches" -> "count", "stream.trigger_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.state_commit_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_mem_bytes" -> "B",
    "stream.add_batch_us_per_event" -> "us", "stream.outside_trigger_ms" -> "ms",
    "stream.input_bytes_per_raw_byte" -> "ratio",
    "Versioned.merge_ms" -> "ms", "Versioned.delete_ms" -> "ms", "Versioned.compact_ms" -> "ms",
    "Versioned.read_points_ms" -> "ms", "Versioned.read_as_of_ms" -> "ms",
    "Versioned.changes_ms" -> "ms", "Versioned.jobs_per_write" -> "count",
    "Versioned.jobs_per_read" -> "count", "Versioned.files_scanned_per_lookup" -> "count",
    "Versioned.files_live" -> "count", "Versioned.files_written_per_commit" -> "count",
    "Versioned.bytes_written_per_user_byte" -> "ratio",
    "Dedup.ms" -> "ms", "Dedup.planted_recall" -> "ratio", "Bpe.train_ms" -> "ms",
    "Bpe.encode_ms" -> "ms", "Bpe.jobs" -> "count", "Similarity.train_ms" -> "ms",
    "Similarity.topk_ms" -> "ms", "Similarity.recall_at_k" -> "ratio",
    "spark.jobs" -> "count", "spark.job_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "spark.task_skew" -> "ratio",
    "spark.input_bytes" -> "B", "spark.input_bytes_per_raw_byte" -> "ratio",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.output_bytes" -> "B",
    "trace.op_ms" -> "ms", "trace.attributed_share" -> "ratio",
    "trace.overhead_cpu_pct" -> "%", "trace.overhead_wall_pct" -> "%",
    "trace.traced_ops" -> "count")

  /** Spark-runtime and tracing metrics of a closed-loop workload's traced
    * ops: attribution is the share of op wall time inside layer spans. */
  def common(ctx: Ctx, folds: Seq[OpFold], kind: String, rawBytes: Double): Seq[Metric] = {
    val opMs = folds.map(_.ms).sum
    Fold.sparkMetrics(folds, rawBytes).map { case (n, v, u) => Metric(n, v, u) } ++ Seq(
      Metric("trace.op_ms", if (folds.isEmpty) 0.0 else opMs / folds.size, "ms"),
      Metric("trace.attributed_share", if (opMs > 0) folds.map(_.attributedMs).sum / opMs else 0.0, "ratio"),
      Metric("trace.overhead_cpu_pct", 100.0 * ctx.overhead(kind, _.cpuMs), "%"),
      Metric("trace.overhead_wall_pct", 100.0 * ctx.overhead(kind, _.ms), "%"),
      Metric("trace.traced_ops", folds.size.toDouble, "count"))
  }

  /** Every declared metric, in declared order; absent ones read 0. */
  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val byName = ms.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: ${unknown.mkString(", ")}")
    all.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }
}
