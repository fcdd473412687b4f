package graft

import graft.gmall._
import org.apache.spark.sql.functions._

/** End-to-end DWD→DWM→DWS→ADS over hand-written gmall fixtures: raw JSON
  * log lines and CDC envelopes in, GMV out — the full layer chain of the
  * reference run as batch functions. */
class GmallPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val logLines = Seq(
    // mid_1: session entry page (start event), then a page view with displays
    """{"common":{"ar":"110000","ch":"appstore","is_new":"1","mid":"mid_1","uid":"u1","vc":"v2.1"},"start":{"entry":"icon","loading_time":1200,"open_ad_id":1,"open_ad_ms":100,"open_ad_skip_ms":0},"ts":1608000000000}""",
    """{"common":{"ar":"110000","ch":"appstore","is_new":"1","mid":"mid_1","uid":"u1","vc":"v2.1"},"page":{"during_time":5000,"item":"iphone 12","item_type":"keyword","last_page_id":"search","page_id":"good_list"},"displays":[{"display_type":"promo","item":"3","item_type":"sku_id","order":1,"pos_id":2},{"display_type":"query","item":"5","item_type":"sku_id","order":2,"pos_id":3}],"ts":1608000005000}""",
    // mid_2: claims is_new=1 on BOTH events; second must be repaired to 0
    """{"common":{"ar":"310000","ch":"web","is_new":"1","mid":"mid_2","uid":"u2","vc":"v2.0"},"page":{"during_time":3000,"page_id":"home"},"ts":1608000001000}""",
    """{"common":{"ar":"310000","ch":"web","is_new":"1","mid":"mid_2","uid":"u2","vc":"v2.0"},"page":{"during_time":2000,"last_page_id":"home","page_id":"good_detail"},"ts":1608000004000}""",
    "this is not json")

  private val cdcLines = Seq(
    """{"database":"gmall","tableName":"order_info","before":"{}","after":"{\"id\":1001,\"user_id\":7,\"province_id\":11,\"total_amount\":99.50,\"create_time\":\"2020-12-15 02:40:01\"}","type":"create"}""",
    """{"database":"gmall","tableName":"order_detail","before":"{}","after":"{\"id\":2001,\"order_id\":1001,\"sku_id\":3,\"order_price\":49.75,\"sku_num\":2,\"sku_name\":\"widget\",\"split_total_amount\":99.50,\"create_time\":\"2020-12-15 02:40:03\"}","type":"insert"}""",
    """{"database":"gmall","tableName":"user_info","before":"{}","after":"{\"id\":7,\"name\":\"zhang\",\"birthday\":\"1990-06-01\",\"gender\":\"F\"}","type":"create"}""",
    """{"database":"gmall","tableName":"order_info","before":"{\"id\":900}","after":"{}","type":"delete"}""")

  private val config = Seq(
    ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,province_id,total_amount,create_time", "id", ""),
    ("order_detail", "insert", "kafka", "dwd_order_detail", "id,order_id,sku_id,order_price,sku_num,sku_name,split_total_amount,create_time", "id", ""),
    ("user_info", "insert", "hbase", "dim_user_info", "id,name,birthday,gender", "id", ""))
    .toDF("source_table", "operate_type", "sink_type", "sink_table",
      "sink_columns", "sink_pk", "sink_extend")

  test("BaseLog: dirty split, new-flag repair, three-way split with display explode") {
    val (clean, dirty) = BaseLog.parse(logLines.toDF("value"))
    assert(clean.count() === 4 && dirty.count() === 1)

    val fixed = BaseLog.fixNewFlag(clean)
    val mid2Flags = fixed.filter(col("common.mid") === "mid_2")
      .orderBy(col("ts")).select(col("common.is_new")).as[String].collect()
    assert(mid2Flags === Array("1", "0")) // second claim repaired

    val (starts, pages, displays) = BaseLog.split(fixed)
    assert(starts.count() === 1 && pages.count() === 3)
    val d = displays.orderBy(col("order")).collect()
    assert(d.length === 2)
    assert(d(0).getAs[String]("item") === "3")
    assert(d(0).getAs[String]("page_id") === "good_list") // stamped from page
    assert(d(0).getAs[Long]("ts") === 1608000005000L)
  }

  test("DbRouter: delete filter, config routing, column pruning, dim upsert") {
    val dimRoot = testDir("graft-gmall-dim")
    val envelopes = graft.streaming.Sources.cdcDecode(cdcLines.toDF("value"))
    val routed = DbRouter.route(envelopes, config)
    assert(routed.count() === 3) // delete dropped (create→insert applied)

    val kafkaRows = DbRouter.writeBatch(routed, dimRoot)
    val topics = kafkaRows.select("topic").as[String].collect().sorted
    assert(topics === Array("dwd_order_detail", "dwd_order_info"))
    // pruning: payload only carries allowlisted keys
    val oi = kafkaRows.filter(col("topic") === "dwd_order_info").select("value").as[String].head()
    assert(oi.contains("user_id") && !oi.contains("order_status"))

    val dim = spark.read.parquet(s"$dimRoot/dim_user_info")
    assert(dim.count() === 1)
    assert(dim.select("name").as[String].head() === "zhang")
  }

  test("OrderWide: interval join + 6-dim broadcast enrichment + PaymentWide") {
    val orderInfo = spark.read.schema(Schemas.orderInfo).json(Seq(
      """{"id":1001,"user_id":7,"province_id":11,"total_amount":99.50,"create_time":"2020-12-15 02:40:01"}""",
      """{"id":1002,"user_id":8,"province_id":12,"total_amount":10.00,"create_time":"2020-12-15 03:00:00"}""").toDS())
    val orderDetail = spark.read.schema(Schemas.orderDetail).json(Seq(
      """{"id":2001,"order_id":1001,"sku_id":3,"order_price":49.75,"sku_num":2,"sku_name":"widget","split_total_amount":99.50,"create_time":"2020-12-15 02:40:03"}""",
      // outside the ±5s band of order 1002 (03:00:00 vs 03:01:00): dropped
      """{"id":2002,"order_id":1002,"sku_id":4,"order_price":10.00,"sku_num":1,"sku_name":"gadget","split_total_amount":10.00,"create_time":"2020-12-15 03:01:00"}""").toDS())

    val wide = OrderWide.join(orderInfo, orderDetail)
    assert(wide.count() === 1) // band respected
    assert(wide.select("detail_id").as[Long].head() === 2001L)

    val user = Seq((7L, "zhang", java.sql.Date.valueOf("1990-06-01"), "F"))
      .toDF("id", "name", "birthday", "gender")
    val province = Seq((11L, "Beijing", "110000", "CN-11", "CN-BJ"))
      .toDF("id", "name", "area_code", "iso_code", "iso_3166_2")
    val sku = Seq((3L, 30L, 300L, 3000L, "widget"))
      .toDF("id", "spu_id", "tm_id", "category3_id", "sku_name")
    val spu = Seq((30L, "widget family")).toDF("id", "spu_name")
    val tm = Seq((300L, "acme")).toDF("id", "tm_name")
    val c3 = Seq((3000L, "gadgets")).toDF("id", "name")

    val enriched = OrderWide.enrich(wide, user, province, sku, spu, tm, c3,
      asOf = lit("2021-01-01").cast("date"))
    val row = enriched.head()
    assert(row.getAs[Long]("user_age") === 30L) // floor(days/365), ref parity
    assert(row.getAs[String]("province_name") === "Beijing")
    assert(row.getAs[String]("spu_name") === "widget family")
    assert(row.getAs[String]("tm_name") === "acme")
    assert(row.getAs[String]("category3_name") === "gadgets")

    val payment = spark.read.schema(Schemas.paymentInfo).json(Seq(
      """{"id":5001,"order_id":1001,"user_id":7,"payment_type":"alipay","total_amount":99.50,"callback_time":"2020-12-15 02:40:12","create_time":"2020-12-15 02:40:10"}""").toDS())
    val pw = OrderWide.paymentWide(payment, enriched)
    assert(pw.count() === 1) // order 9s before payment, inside [pay-15s, pay]
    assert(pw.select("payment_id").as[Long].head() === 5001L)
  }

  test("DWS stats + ADS gmv over the full chain") {
    val (clean, _) = BaseLog.parse(logLines.toDF("value"))
    val fixed = BaseLog.fixNewFlag(clean)
    val (_, pages, _) = BaseLog.split(fixed)

    // visitor stats: shaped union of pages + uniques + jumps
    val uniques = operators.Sessionize.uvDedup(
      pages.withColumn("user_id", col("common.mid"))
        .withColumn("event_id", col("ts"))
        .withColumn("ts_raw", col("ts"))
        .withColumn("ts", timestamp_millis(col("ts"))), key = "user_id")
      .withColumn("ts", col("ts_raw"))
    val shaped = DwsStats.shapeVisitor(pages, uniques, jumps = pages.limit(0))
    val vs = DwsStats.visitorStats(shaped)
    assert(vs.agg(sum("pv_ct")).as[Long].head() === 3L)
    assert(vs.agg(sum("uv_ct")).as[Long].head() === 2L) // mid_1, mid_2
    assert(vs.agg(sum("sv_ct")).as[Long].head() === 1L) // one session entry page

    // keyword stats from the search page
    val kw = DwsStats.keywordStats(pages)
    val kws = kw.select("keyword").as[String].collect().toSet
    assert(kws === Set("iphone", "12"))

    // province stats + gmv over the wide orders
    val orderInfo = spark.read.schema(Schemas.orderInfo).json(Seq(
      """{"id":1001,"user_id":7,"province_id":11,"total_amount":99.50,"create_time":"2020-12-15 02:40:01"}""").toDS())
    val orderDetail = spark.read.schema(Schemas.orderDetail).json(Seq(
      """{"id":2001,"order_id":1001,"sku_id":3,"order_price":49.75,"sku_num":2,"sku_name":"widget","split_total_amount":99.50,"create_time":"2020-12-15 02:40:03"}""").toDS())
    val province = Seq((11L, "Beijing", "110000", "CN-11", "CN-BJ"))
      .toDF("id", "name", "area_code", "iso_code", "iso_3166_2")
    val user = Seq((7L, "zhang", java.sql.Date.valueOf("1990-06-01"), "F"))
      .toDF("id", "name", "birthday", "gender")
    val sku = Seq((3L, 30L, 300L, 3000L, "widget"))
      .toDF("id", "spu_id", "tm_id", "category3_id", "sku_name")
    val wide = OrderWide.enrich(
      OrderWide.join(orderInfo, orderDetail), user, province, sku,
      Seq((30L, "s")).toDF("id", "spu_name"),
      Seq((300L, "t")).toDF("id", "tm_name"),
      Seq((3000L, "c")).toDF("id", "name"))
    val ps = DwsStats.provinceStats(wide)
    val psRow = ps.head()
    assert(psRow.getAs[String]("province_name") === "Beijing")
    assert(psRow.getAs[Long]("order_count") === 1L)

    // ADS: gmv for the day, through the serving query
    val stats = ps.select(col("stt"), col("order_amount"))
    assert(ServingApi.gmv(stats, 20201215).doubleValue() === 99.50)
    assert(ServingApi.gmv(stats, 20201216).doubleValue() === 0.0)
  }

  test("published serving store partition-prunes the dated gmv query") {
    val path = testDir("graft-serving") + "/product_stats"
    val stats = Seq(
      ("2020-12-15 02:40:00", java.math.BigDecimal.valueOf(99.50)),
      ("2020-12-15 03:00:00", java.math.BigDecimal.valueOf(0.50)),
      ("2020-12-16 01:00:00", java.math.BigDecimal.valueOf(7.25)))
      .toDF("stt", "order_amount")
    ServingApi.writeStats(stats, path)
    // one directory per day materialized
    val dts = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("dt=")).map(_.getName).sorted
    assert(dts === Array("dt=20201215", "dt=20201216"))
    val q = ServingApi.gmvAt(spark, path, 20201215)
    // the filter lands on the partition column: pruning happens at file
    // level, BEFORE any row is deserialized — no full scan at 100 TB
    val scan = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("dt") && !scan.contains("PartitionFilters: []"), scan)
    assert(q.as[java.math.BigDecimal].head().doubleValue() === 100.00)
    assert(ServingApi.gmvAt(spark, path, 20201217).as[java.math.BigDecimal]
      .head().doubleValue() === 0.0)
  }
}
