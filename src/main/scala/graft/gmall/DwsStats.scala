package graft.gmall

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWS layer — the four stats apps, as the reference shapes them
  * (SURVEY.md §2.3 P9, §2.5 A1-A4).
  *
  * The P9 pattern: each input stream is projected into one shared wide
  * schema with its own metric set to 1/amount and everything else 0, the
  * shaped streams union, and a single windowed aggregation sums the lot —
  * one shuffle for N sources (dws/VisitorStatsApp.java:61-98,
  * dws/ProductStatsApp.java:80-191).
  */
object DwsStats {

  /** Log `ts` is epoch millis (Schemas.log); window math needs a timestamp. */
  private def tsT = timestamp_millis(col("ts"))

  /** VisitorStats (dws/VisitorStatsApp.java): shape page-views (pv + sv on
    * session entry + dur_sum), unique visits (uv) and bounces (uj) into the
    * 4-key cube cell, union, 10s window. Shaping is row-local, so it runs
    * unchanged on streaming inputs; [[visitorStats]] aggregates the shaped
    * rows (an epoch-floor group with no watermark, so on a stream only the
    * complete or update output mode applies). */
  def shapeVisitor(pages: DataFrame, uniques: DataFrame, jumps: DataFrame): DataFrame = {
    def keys(df: DataFrame) = df.select(
      col("common.vc").as("vc"), col("common.ch").as("ch"),
      col("common.ar").as("ar"), col("common.is_new").as("is_new"),
      col("ts"), col("pv"), col("uv"), col("sv"), col("uj"), col("dur_sum"))
    val pv = keys(pages
      .withColumn("pv", lit(1L)).withColumn("uv", lit(0L))
      .withColumn("sv", when(col("page.last_page_id").isNull, 1L).otherwise(0L))
      .withColumn("uj", lit(0L))
      .withColumn("dur_sum", col("page.during_time")))
    val uv = keys(uniques
      .withColumn("pv", lit(0L)).withColumn("uv", lit(1L))
      .withColumn("sv", lit(0L)).withColumn("uj", lit(0L))
      .withColumn("dur_sum", lit(0L)))
    val uj = keys(jumps
      .withColumn("pv", lit(0L)).withColumn("uv", lit(0L))
      .withColumn("sv", lit(0L)).withColumn("uj", lit(1L))
      .withColumn("dur_sum", lit(0L)))
    pv.unionByName(uv).unionByName(uj)
  }

  /** A2: the 10s tumbling aggregation over shaped visitor rows (batch
    * shape; epoch-floor window keeps it one hash-agg). */
  def visitorStats(shaped: DataFrame, windowSec: Int = 10): DataFrame =
    shaped
      .groupBy(
        graft.functions.TimeFns.stt(tsT, windowSec).as("stt"),
        graft.functions.TimeFns.edt(tsT, windowSec).as("edt"),
        col("vc"), col("ch"), col("ar"), col("is_new"))
      .agg(sum(col("pv")).as("pv_ct"), sum(col("uv")).as("uv_ct"),
        sum(col("sv")).as("sv_ct"), sum(col("uj")).as("uj_ct"),
        sum(col("dur_sum")).as("dur_sum"))

  /** ProductStats (dws/ProductStatsApp.java:80-241): the 7-source union.
    * Each source contributes one metric column; the reduce sums counters
    * and keeps exact distinct order-id sets (collect_set here, HLL at
    * 100 TB). The comment "good" flag is appraise=1201
    * (common/GmallConstant.java:21). */
  def productStats(clicks: DataFrame, displays: DataFrame, favors: DataFrame,
      carts: DataFrame, orders: DataFrame, payments: DataFrame,
      refunds: DataFrame, comments: DataFrame, windowSec: Int = 10): DataFrame = {
    val zero = lit(0L)
    val zeroD = lit(BigDecimal(0)).cast("decimal(16,2)")
    def shape(df: DataFrame, cols: Map[String, org.apache.spark.sql.Column]) = {
      val all = Seq("click_ct", "display_ct", "favor_ct", "cart_ct",
        "refund_ct", "comment_ct", "good_comment_ct")
        .map(c => cols.getOrElse(c, zero).as(c)) ++
        Seq(cols.getOrElse("order_amount", zeroD).as("order_amount"),
          cols.getOrElse("payment_amount", zeroD).as("payment_amount"),
          cols.getOrElse("refund_amount", zeroD).as("refund_amount"),
          cols.getOrElse("order_id", lit(null).cast("long")).as("order_id"),
          cols.getOrElse("paid_order_id", lit(null).cast("long")).as("paid_order_id"),
          cols.getOrElse("refund_order_id", lit(null).cast("long")).as("refund_order_id"))
      df.select(col("sku_id") +: col("ts") +: all: _*)
    }
    shape(clicks, Map("click_ct" -> lit(1L)))
      .unionByName(shape(displays, Map("display_ct" -> lit(1L))))
      .unionByName(shape(favors, Map("favor_ct" -> lit(1L))))
      .unionByName(shape(carts, Map("cart_ct" -> lit(1L))))
      .unionByName(shape(orders, Map(
        "order_amount" -> col("split_total_amount"), "order_id" -> col("order_id"))))
      .unionByName(shape(payments, Map(
        "payment_amount" -> col("split_total_amount"),
        "paid_order_id" -> col("order_id"))))
      .unionByName(shape(refunds, Map(
        "refund_amount" -> col("refund_amount"),
        "refund_order_id" -> col("order_id"))))
      .unionByName(shape(comments, Map(
        "comment_ct" -> lit(1L),
        "good_comment_ct" -> when(col("appraise") === "1201", 1L).otherwise(0L))))
      .groupBy(
        graft.functions.TimeFns.stt(tsT, windowSec).as("stt"),
        graft.functions.TimeFns.edt(tsT, windowSec).as("edt"),
        col("sku_id"))
      .agg(
        sum(col("click_ct")).as("click_ct"),
        sum(col("display_ct")).as("display_ct"),
        sum(col("favor_ct")).as("favor_ct"),
        sum(col("cart_ct")).as("cart_ct"),
        sum(col("comment_ct")).as("comment_ct"),
        sum(col("good_comment_ct")).as("good_comment_ct"),
        sum(col("order_amount")).as("order_amount"),
        sum(col("payment_amount")).as("payment_amount"),
        sum(col("refund_amount")).as("refund_amount"),
        size(collect_set(col("order_id"))).cast("long").as("order_ct"),
        size(collect_set(col("paid_order_id"))).cast("long").as("paid_order_ct"),
        size(collect_set(col("refund_order_id"))).cast("long").as("refund_order_ct"))
  }

  /** KeywordStats (dws/KeywordStatsApp.java): filter search pages, tokenize
    * (the IK UDTF → TextFns tokenizer, F14/U1), windowed count. */
  def keywordStats(pages: DataFrame, windowSec: Int = 10): DataFrame =
    pages
      .filter(col("page.last_page_id") === "search" && col("page.item").isNotNull)
      .select(col("ts"), explode(TextFns.tokensWs(col("page.item"))).as("keyword"))
      .groupBy(
        graft.functions.TimeFns.stt(tsT, windowSec).as("stt"),
        col("keyword"))
      .agg(count(lit(1)).as("ct"))
      .withColumn("source", lit("SEARCH"))

  /** ProvinceStats (dws/ProvinceStatsSqlApp.java:44-52): the SQL path —
    * register the wide orders and run the reference's tumble aggregation
    * through spark.sql. */
  def provinceStats(orderWide: DataFrame, windowSec: Int = 10): DataFrame = {
    val spark = orderWide.sparkSession
    orderWide.createOrReplaceTempView("order_wide")
    spark.sql(s"""
      SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
             date_format(window.end,   'yyyy-MM-dd HH:mm:ss') AS edt,
             province_id, province_name, province_area_code,
             province_iso_code,
             count(DISTINCT order_id) AS order_count,
             sum(split_total_amount)  AS order_amount
      FROM order_wide
      GROUP BY window(oi_ts, '$windowSec seconds'), province_id,
               province_name, province_area_code, province_iso_code""")
  }
}
