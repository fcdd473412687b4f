package perfbench

import graft.gmall._
import graft.streaming.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructType}

import java.io.File

/** `gmall_chain`: closed loop, one client. One op is one generated day of
  * raw app-log lines plus CDC envelopes run through the reference's whole
  * layer chain, each layer writing its output at the reference's Kafka-topic
  * boundary as a parquet directory:
  *   DWD  BaseLog.parse -> fixNewFlag -> split; DbRouter.route -> writeBatch
  *   DWM  OrderWide.join -> enrich -> paymentWide
  *   DWS  DwsStats visitor / product / keyword / province
  *   ADS  ServingApi.writeStats -> gmvAt
  * then the same day's log replayed in event-time order through the
  * streaming micro-batch path ([[StreamReplay]]). The day's GMV is the op's
  * answer; it, the pv/uv totals and every streamed window count are checked
  * against the generator's truth. Every op runs the same day into a fresh
  * output directory (the dim upserts are idempotent). */
object ChainWorkload extends Workload {
  val LogLines = 10000
  val WarmLogLines = 1000

  final case class Inputs(logDir: File, dbDir: File, config: File, truth: DayTruth,
      stream: StreamReplay.Feed)

  /** One day's inputs under `base`: its log and CDC parts, and the log
    * again in event-time order for the stream replay. */
  def day(base: File, config: File, seed: Long, d: Int, lines: Int): Inputs = {
    val logDir = new File(base, "ods_base_log")
    val truth = GmallGen.writeDay(logDir, new File(base, "ods_base_db"), seed, d, lines)
    Inputs(logDir, new File(base, "ods_base_db"), config, truth,
      StreamReplay.feed(logDir, new File(base, "ods_stream")))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val config = new File(ctx.root, "table_process.json")
    GmallGen.writeConfig(config)
    val timed = day(ctx.dir("ods/day"), config, ctx.seed, 0, LogLines)
    // the long-lived dim store: the warm-up pass routes its initial
    // snapshot together with a small day of its own, and every timed op
    // upserts the day's dim changes into it
    val dimRoot = ctx.dir("dim")
    val warm = day(ctx.dir("ods/warm"), config, ctx.seed, 1, WarmLogLines)
    GmallGen.writeDimSnapshot(new File(warm.dbDir, "snapshot.json"), ctx.seed)
    def op(in: Inputs, i: Int): () => Boolean = {
      val out = ctx.dir(s"run/op$i")
      val gmv = pass(spark, ctx.trace, in, out, dimRoot)
      val streamed = ctx.trace.span("stream.replay")(StreamReplay.run(spark, in.stream, ctx.dir(s"run/stream$i")))
      () => {
        val t = in.truth
        val vs = spark.read.parquet(new File(out, "ads/visitor_stats").getPath)
          .agg(sum("pv_ct"), sum("uv_ct")).head()
        val batchOk = gmv.movePointRight(2).longValueExact() == t.gmvCents &&
          vs.getLong(0) == t.pages && vs.getLong(1) == t.uv
        if (!batchOk) ctx.note("gmall_chain", new IllegalStateException(
          s"day ${t.day}: gmv $gmv vs ${t.gmvCents}c, pv ${vs.getLong(0)} vs ${t.pages}, " +
            s"uv ${vs.getLong(1)} vs ${t.uv}"))
        val streamOk = streamed == in.stream.counts
        if (!streamOk) ctx.note("gmall_chain", new IllegalStateException(
          s"day ${t.day}: stream window counts differ: " +
            s"${(in.stream.counts.toSet diff streamed.toSet).take(3)} vs ${(streamed.toSet diff in.stream.counts.toSet).take(3)}"))
        rm(out)
        batchOk && streamOk
      }
    }
    ctx.phase("inputs generated")
    // the untimed warm-up pass compiles every plan shape (the days share them)
    if (!ctx.timedOp("warmup", traced = false)(op(warm, -1)).ok) sys.error("gmall_chain warm-up failed")
    ctx.setupDone()
    ctx.closedLoop("chain")(i => op(timed, i))

    if (!ctx.traceRun) ctx.closedLoopMetrics("chain")
    else {
      val folds = Fold(ctx.trace)
      ctx.layer ++= gmallLayerMetrics(folds, timed.truth)
      ctx.layer ++= StreamReplay.layerMetrics(ctx.trace, folds, timed.stream)
      ctx.layer ++= Layers.common(ctx, folds, "chain", timed.truth.logBytes + timed.truth.dbBytes)
    }
  }

  /** The gmall layer metrics; rows are counted from the write tasks'
    * output records under each layer's spans. */
  def gmallLayerMetrics(folds: Seq[OpFold], t: DayTruth): Seq[Metric] = {
    def ms(s: String) = Fold.layerMs(folds, s)
    def rows(s: String) = Fold.layerSpark(folds, s)(_.outRecords.toDouble)
    val dirty = rows("BaseLog:dirty")
    val clean = rows("BaseLog:start") + rows("BaseLog:page")
    val logRaw = t.logBytes.toDouble
    Seq(
      Metric("BaseLog.ms", ms("BaseLog"), "ms"),
      Metric("BaseLog.dirty_ratio", if (dirty + clean > 0) dirty / (dirty + clean) else 0.0, "ratio"),
      Metric("BaseLog.rows_out", rows("BaseLog"), "count"),
      Metric("BaseLog.input_bytes_per_raw_byte",
        if (logRaw > 0) Fold.layerSpark(folds, "BaseLog")(_.inBytes.toDouble) / logRaw else 0.0, "ratio"),
      Metric("DbRouter.ms", ms("DbRouter"), "ms"),
      Metric("DbRouter.routed_ratio", rows("DbRouter:facts") / t.envelopes, "ratio"),
      Metric("DbRouter.rows_out", rows("DbRouter"), "count"),
      Metric("OrderWide.join_ms", ms("OrderWide.join"), "ms"),
      Metric("OrderWide.enrich_ms", ms("OrderWide.enrich"), "ms"),
      Metric("OrderWide.payment_ms", ms("OrderWide.payment"), "ms"),
      Metric("OrderWide.match_ratio", rows("OrderWide.join") / t.details, "ratio"),
      Metric("OrderWide.rows_out", rows("OrderWide.join") + rows("OrderWide.enrich") +
        rows("OrderWide.payment"), "count"),
      Metric("DwsStats.visitor_ms", ms("DwsStats.visitor"), "ms"),
      Metric("DwsStats.product_ms", ms("DwsStats.product"), "ms"),
      Metric("DwsStats.keyword_ms", ms("DwsStats.keyword"), "ms"),
      Metric("DwsStats.province_ms", ms("DwsStats.province"), "ms"),
      Metric("DwsStats.rows_out", Seq("visitor", "product", "keyword", "province")
        .map(s => rows(s"DwsStats.$s")).sum, "count"),
      Metric("ServingApi.write_ms", ms("ServingApi.write"), "ms"),
      Metric("ServingApi.gmv_ms", ms("ServingApi.gmv"), "ms"),
      Metric("ServingApi.rows_out", rows("ServingApi.write"), "count"))
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** Decode `value` JSON strings whose fields arrive as strings (the
    * router's pruned payloads) into `schema`'s types. */
  private def typed(values: DataFrame, schema: StructType): DataFrame = {
    val m = from_json(col("value"), MapType(StringType, StringType))
    values.select(m.as("m")).select(schema.fields.toIndexedSeq.map(f =>
      col("m").getItem(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** One day through every layer. Returns the served GMV. */
  def pass(spark: SparkSession, tr: Trace, in: Inputs, out: File, dimRoot: File): java.math.BigDecimal = {
    def p(name: String) = new File(out, name).getPath
    def w(df: DataFrame, name: String): Unit = df.write.mode("overwrite").parquet(p(name))

    // DWD log: BaseLogApp
    tr.span("BaseLog") {
      val (clean, dirty) = BaseLog.parse(spark.read.text(in.logDir.getPath))
      val (starts, pages, displays) = BaseLog.split(BaseLog.fixNewFlag(clean))
      tr.span("BaseLog:dirty")(w(dirty, "dwd/dirty_log"))
      tr.span("BaseLog:start")(w(starts, "dwd/dwd_start_log"))
      tr.span("BaseLog:page")(w(pages, "dwd/dwd_page_log"))
      tr.span("BaseLog:display")(w(displays, "dwd/dwd_display_log"))
    }
    // DWD db: BaseDBApp
    tr.span("DbRouter") {
      val config = spark.read.schema(Schemas.tableProcess).json(in.config.getPath)
      val routed = DbRouter.route(Sources.cdcDecode(spark.read.text(in.dbDir.getPath)), config)
      val facts = DbRouter.writeBatch(routed, dimRoot.getPath)
      tr.span("DbRouter:facts")(facts.write.mode("overwrite").partitionBy("topic").parquet(p("dwd_db")))
    }
    // a topic no row was routed to this day has no directory: read it empty
    def values(t: String): DataFrame = {
      val dir = new File(p(s"dwd_db/topic=$t"))
      if (dir.isDirectory) spark.read.parquet(dir.getPath)
      else spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(org.apache.spark.sql.types.StructField("value", StringType))))
    }
    def topic(t: String, schema: StructType) = typed(values(t), schema)
    def dim(t: String, schema: StructType) = {
      val df = spark.read.parquet(new File(dimRoot, t).getPath)
      df.select(schema.fields.toIndexedSeq.filter(f => df.columns.contains(f.name))
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    }
    // DWM: OrderWideApp, PaymentWideApp
    tr.span("OrderWide.join") {
      w(OrderWide.join(topic("dwd_order_info", Schemas.orderInfo),
        topic("dwd_order_detail", Schemas.orderDetail)), "dwm/order_wide_joined")
    }
    tr.span("OrderWide.enrich") {
      w(OrderWide.enrich(spark.read.parquet(p("dwm/order_wide_joined")),
        dim("dim_user_info", Schemas.userInfo), dim("dim_base_province", Schemas.baseProvince),
        dim("dim_sku_info", Schemas.skuInfo), dim("dim_spu_info", Schemas.spuInfo),
        dim("dim_base_trademark", Schemas.baseTrademark),
        dim("dim_base_category3", Schemas.baseCategory3),
        asOf = lit("2021-06-01").cast("date")), "dwm/dwm_order_wide")
    }
    tr.span("OrderWide.payment") {
      w(OrderWide.paymentWide(topic("dwd_payment_info", Schemas.paymentInfo),
        spark.read.parquet(p("dwm/dwm_order_wide"))), "dwm/dwm_payment_wide")
    }
    // DWS: the four stats apps
    val pages = () => spark.read.parquet(p("dwd/dwd_page_log"))
    tr.span("DwsStats.visitor") {
      val pg = pages()
      val uniques = graft.operators.Sessionize.uvDedup(
        pg.withColumn("user_id", col("common.mid")).withColumn("event_id", col("ts"))
          .withColumn("ts_raw", col("ts")).withColumn("ts", timestamp_millis(col("ts"))),
        key = "user_id").withColumn("ts", col("ts_raw"))
      w(DwsStats.visitorStats(DwsStats.shapeVisitor(pg, uniques, jumps = pg.limit(0))),
        "dws/visitor_stats")
    }
    tr.span("DwsStats.product") {
      val ms = (c: String) => unix_millis(to_timestamp(col(c), "yyyy-MM-dd HH:mm:ss"))
      val pg = pages()
      val clicks = pg.filter(col("page.page_id") === "good_detail" && col("page.item_type") === "sku_id")
        .select(col("page.item").cast("long").as("sku_id"), col("ts"))
      val displays = spark.read.parquet(p("dwd/dwd_display_log")).filter(col("item_type") === "sku_id")
        .select(col("item").cast("long").as("sku_id"), col("ts"))
      val skuTs = (t: String) => values(t)
        .select(from_json(col("value"), MapType(StringType, StringType)).as("m"))
        .select(col("m.sku_id").cast("long").as("sku_id"), ms("m.create_time").as("ts"),
          col("m.order_id").cast("long").as("order_id"),
          col("m.refund_amount").cast("decimal(16,2)").as("refund_amount"),
          col("m.appraise").as("appraise"))
      val orders = spark.read.parquet(p("dwm/dwm_order_wide"))
        .select(col("sku_id"), unix_millis(col("oi_ts")).as("ts"), col("order_id"),
          col("split_total_amount"))
      val payments = spark.read.parquet(p("dwm/dwm_payment_wide"))
        .select(col("sku_id"), unix_millis(col("pay_ts")).as("ts"), col("order_id"),
          col("split_total_amount"))
      w(DwsStats.productStats(clicks, displays, skuTs("dwd_favor_info"), skuTs("dwd_cart_info"),
        orders, payments, skuTs("dwd_order_refund_info"), skuTs("dwd_comment_info")),
        "dws/product_stats")
    }
    tr.span("DwsStats.keyword")(w(DwsStats.keywordStats(pages()), "dws/keyword_stats"))
    tr.span("DwsStats.province") {
      w(DwsStats.provinceStats(spark.read.parquet(p("dwm/dwm_order_wide"))), "dws/province_stats")
    }
    // ADS: publish the stats tables, then the publisher's GMV query
    tr.span("ServingApi.write") {
      // the publisher serves GMV from product stats; visitor stats carry pv/uv
      Seq("visitor_stats", "product_stats").foreach { t =>
        ServingApi.writeStats(spark.read.parquet(p(s"dws/$t")), p(s"ads/$t"))
      }
    }
    tr.span("ServingApi.gmv") {
      ServingApi.gmvAt(spark, p("ads/product_stats"), in.truth.yyyymmdd).head().getDecimal(0)
    }
  }
}
