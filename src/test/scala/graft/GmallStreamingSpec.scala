package graft

import graft.gmall.{BaseLog, DwsStats}
import graft.streaming.{StreamRunner, WindowedStreams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The DWD→DWS chain running in streaming mode over a MemoryStream of raw
  * JSON log lines — the reference's actual deployment shape (BaseLogApp →
  * Kafka → KeywordStatsApp), collapsed into one process for the harness. */
class GmallStreamingSpec extends SparkSpec {
  import spark.implicits._

  private val lines = Seq(
    """{"common":{"ar":"110000","ch":"app","is_new":"1","mid":"m1","uid":"u1","vc":"v1"},"page":{"during_time":1000,"item":"iphone 12 pro","item_type":"keyword","last_page_id":"search","page_id":"good_list"},"ts":1608000001000}""",
    """{"common":{"ar":"110000","ch":"app","is_new":"1","mid":"m2","uid":"u2","vc":"v1"},"page":{"during_time":2000,"item":"iphone case","item_type":"keyword","last_page_id":"search","page_id":"good_list"},"ts":1608000003000}""",
    """{"common":{"ar":"120000","ch":"web","is_new":"0","mid":"m3","uid":"u3","vc":"v1"},"page":{"during_time":500,"page_id":"home"},"ts":1608000005000}""",
    "garbage line")

  test("DWD parse/split + DWS windowed keyword agg, end-to-end in streaming") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    ms.addData(lines)

    val (clean, _) = BaseLog.parse(ms.toDF().withColumnRenamed("value", "value"))
    val (_, pages, _) = BaseLog.split(clean)
    val searchPages = pages
      .filter(col("page.last_page_id") === "search" && col("page.item").isNotNull)
      .select(timestamp_millis(col("ts")).as("ts"), col("page.item").as("item"))
    val out = StreamRunner.collect(
      WindowedStreams.keywordStats(searchPages, "item"),
      outputMode = "complete")

    val counts = out.groupBy(col("keyword")).agg(sum(col("ct")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(counts === Map("iphone" -> 2L, "12" -> 1L, "pro" -> 1L, "case" -> 1L))
  }

  test("J1->J2 chained streaming through a sink boundary (dwm_order_wide)") {
    import graft.gmall.OrderWide
    import org.apache.spark.sql.streaming.Trigger
        val root = testDir("graft-chain")
    val wideDir = s"$root/dwm_order_wide"

    // raw inputs as parquet (standing in for the dwd_* Kafka topics)
    def t(sec: Int) = f"2021-01-01 10:00:$sec%02d"
    val orderInfo = Seq((100L, 1L, t(10)), (101L, 2L, t(20)))
      .toDF("id", "user_id", "create_time")
    val orderDetail = Seq(
      (1000L, 100L, 7L, t(12)), // within +5s of order 100
      (1001L, 101L, 8L, t(21)), // within band of order 101
      (1002L, 101L, 9L, t(40))) // outside band -> dropped
      .toDF("id", "order_id", "sku_id", "create_time")
      .withColumn("order_price", lit(new java.math.BigDecimal("9.99")))
      .withColumn("sku_num", lit(1L))
      .withColumn("sku_name", lit("sku"))
      .withColumn("split_total_amount", lit(new java.math.BigDecimal("9.99")))
    val payment = Seq(
      (5000L, 100L, "alipay", t(20)),  // order at t10 in [t20-15, t20]
      (5001L, 101L, "union", t(50)))   // order at t20 < t50-15 -> dropped
      .toDF("id", "order_id", "payment_type", "create_time")
      .withColumn("total_amount", lit(new java.math.BigDecimal("9.99")))
    val oiDir = s"$root/oi"; val odDir = s"$root/od"; val payDir = s"$root/pay"
    orderInfo.write.parquet(oiDir)
    orderDetail.write.parquet(odDir)
    payment.write.parquet(payDir)

    // hop 1: stream-stream interval join -> parquet sink boundary
    val oiS = spark.readStream.schema(orderInfo.schema).parquet(oiDir)
    val odS = spark.readStream.schema(orderDetail.schema).parquet(odDir)
    val wide = OrderWide.join(oiS, odS)
    val q1 = wide.writeStream
      .format("parquet").option("path", wideDir)
      .option("checkpointLocation", s"$root/ckpt1")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()

    // hop 2: read the boundary back as a stream, join payments
    val wideBatch = spark.read.parquet(wideDir)
    val wideS = spark.readStream.schema(wideBatch.schema).parquet(wideDir)
    val payS = spark.readStream.schema(payment.schema).parquet(payDir)
    val out = graft.streaming.StreamRunner.collect(
      OrderWide.paymentWide(payS, wideS))
    val got = out.select("payment_id", "order_id", "sku_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((5000L, 100L, 7L)))

    // and the streaming chain equals the batch chain
    val batchChain = OrderWide.paymentWide(
      payment, OrderWide.join(orderInfo, orderDetail))
      .select("payment_id", "order_id", "sku_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === batchChain)
  }

  test("batch DwsStats.productStats: 7-source shaped union sums per metric") {
    // gmall convention: ts is epoch millis (the operator converts)
    def facts(rows: (Long, Long)*) = rows.toSeq
      .map { case (sku, ts) => (sku, 1608000000000L + ts * 1000L) }
      .toDF("sku_id", "ts")
    def orderFacts(rows: (Long, Long, Long, java.math.BigDecimal)*) = rows.toSeq
      .map { case (sku, ts, oid, amt) => (sku, 1608000000000L + ts * 1000L, oid, amt) }
      .toDF("sku_id", "ts", "order_id", "split_total_amount")
    val none = facts()
    def dec(s: String) = new java.math.BigDecimal(s)

    val clicks = facts((3L, 1L), (3L, 2L), (4L, 3L))
    val orders = orderFacts((3L, 4L, 100L, dec("10.00")), (3L, 5L, 100L, dec("5.00")),
      (3L, 6L, 101L, dec("7.00")))
    val comments = facts((3L, 7L)).withColumn("appraise", lit("1201"))

    val refunds = orderFacts()
      .withColumnRenamed("split_total_amount", "refund_amount")
    val out = DwsStats.productStats(
      clicks, none, none, none, orders,
      orderFacts(), refunds, comments)
    val sku3 = out.filter(col("sku_id") === 3L)
      .agg(sum("click_ct"), sum("order_amount"), sum("order_ct"),
        sum("comment_ct"), sum("good_comment_ct")).head()
    assert(sku3.getLong(0) === 2L)
    assert(sku3.getDecimal(1).doubleValue() === 22.0)
    assert(sku3.getLong(2) === 2L) // distinct order ids 100, 101
    assert(sku3.getLong(3) === 1L)
    assert(sku3.getLong(4) === 1L)
  }
}
