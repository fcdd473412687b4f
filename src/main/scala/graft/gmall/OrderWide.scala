package graft.gmall

import graft.functions.TimeFns
import graft.operators.Joins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWM order-wide layer — OrderWideApp (dwm/OrderWideApp.java) and
  * PaymentWideApp (dwm/PaymentWideApp.java).
  *
  * J1: OrderInfo ⋈ OrderDetail, equi key `info.id = detail.order_id`,
  * event-time band detail.ts ∈ [info.ts - 5s, info.ts + 5s]
  * (OrderWideApp.java:87-97).
  * J2: PaymentInfo ⋈ OrderWide, band ow.ts ∈ [pay.ts - 15s, pay.ts]
  * (PaymentWideApp.java:86-96).
  * J3 ×6: dim enrichment — user (age from birthday), province, sku, spu,
  * trademark, category3 (OrderWideApp.java:100-195). The reference's
  * async Phoenix lookups + Redis cache collapse into broadcast hash joins:
  * the fact stream never shuffles for enrichment, dims ship once per
  * executor. Left joins — the reference drops a record when a lookup
  * throws (DimAsyncFunction.java:47-49), which is its acknowledged
  * liveness bug, not the spec.
  *
  * J1 and J2 are one body each for batch and streaming: both run
  * [[graft.operators.Joins.intervalJoin]], whose watermark is a no-op on
  * batch plans.
  *
  * Chaining note (SURVEY.md §7.3): OrderWide feeds PaymentWide through a
  * sink boundary (the dwm_order_wide topic) in the reference; in streaming
  * the same boundary applies (one stream-stream join per query), which is
  * why J1 and J2 are separate functions, not one plan.
  */
object OrderWide {

  /** P6 (OrderWideApp.java:55-65): derived date parts + event timestamp
    * from the "yyyy-MM-dd HH:mm:ss" create_time. */
  def withCreateTs(df: DataFrame): DataFrame =
    df
      .withColumn("create_date", substring(col("create_time"), 1, 10))
      .withColumn("create_hour", substring(col("create_time"), 12, 2))
      .withColumn("create_ts_t",
        to_timestamp(col("create_time"), "yyyy-MM-dd HH:mm:ss"))

  /** J1: the interval join producing the wide order. On streams the
    * watermark bounds join state (band + watermark, exactly Flink's
    * interval-join retention). */
  def join(orderInfo: DataFrame, orderDetail: DataFrame,
      bandSec: Long = 5L, watermark: String = "5 seconds"): DataFrame = {
    val oi = withCreateTs(orderInfo)
      .withColumnRenamed("id", "order_id")
      .withColumnRenamed("create_time", "order_create_time")
      .withColumnRenamed("create_ts_t", "oi_ts")
    val od = withCreateTs(orderDetail)
      .withColumnRenamed("id", "detail_id")
      .select(col("detail_id"), col("order_id").as("od_order_id"), col("sku_id"),
        col("order_price"), col("sku_num"), col("sku_name"),
        col("split_total_amount"), col("create_ts_t").as("od_ts"))
    Joins.intervalJoin(oi, od, "order_id", "od_order_id", "oi_ts", "od_ts",
      bandSec, bandSec, watermark)
      .drop("od_order_id")
  }

  /** J3 ×6 (OrderWideApp.java:100-195): broadcast dim enrichment. Dims are
    * passed in as DataFrames (from the dim store the DbRouter maintains).
    * Includes the reference's derived attributes: user_age (floor(days/365),
    * :109-114) and the sku→spu/trademark/category3 chain (:140-195, with
    * the DIM_BASE_PROVINCE copy-paste bug at :141 fixed to intent). */
  def enrich(wide: DataFrame, userInfo: DataFrame, province: DataFrame,
      sku: DataFrame, spu: DataFrame, trademark: DataFrame,
      category3: DataFrame, asOf: org.apache.spark.sql.Column = current_date()): DataFrame =
    wide
      .join(broadcast(userInfo.select(
        col("id").as("user_id"),
        TimeFns.ageYears(col("birthday"), asOf).as("user_age"),
        col("gender").as("user_gender"))), Seq("user_id"), "left")
      .join(broadcast(province.select(
        col("id").as("province_id"), col("name").as("province_name"),
        col("area_code").as("province_area_code"),
        col("iso_code").as("province_iso_code"))), Seq("province_id"), "left")
      .join(broadcast(sku.select(
        col("id").as("sku_id"), col("spu_id"), col("tm_id"),
        col("category3_id"))), Seq("sku_id"), "left")
      .join(broadcast(spu.select(
        col("id").as("spu_id"), col("spu_name"))), Seq("spu_id"), "left")
      .join(broadcast(trademark.select(
        col("id").as("tm_id"), col("tm_name"))), Seq("tm_id"), "left")
      .join(broadcast(category3.select(
        col("id").as("category3_id"), col("name").as("category3_name"))),
        Seq("category3_id"), "left")

  /** J2: PaymentInfo ⋈ OrderWide with the asymmetric band
    * ow.ts ∈ [pay.ts - 15s, pay.ts] (payment follows order). In
    * streaming, `orderWide` is the stream READ BACK from the
    * dwm_order_wide sink boundary (Spark allows one stream-stream join
    * per query, the constraint the reference solves with the
    * intermediate Kafka topic). */
  def paymentWide(paymentInfo: DataFrame, orderWide: DataFrame,
      lagSec: Long = 15L, watermark: String = "15 seconds"): DataFrame = {
    val pay = withCreateTs(paymentInfo)
      .withColumnRenamed("id", "payment_id")
      .withColumnRenamed("create_time", "payment_create_time")
      .withColumnRenamed("create_ts_t", "pay_ts")
      .withColumnRenamed("total_amount", "payment_amount")
      .select(col("payment_id"), col("order_id").as("pay_order_id"),
        col("payment_type"), col("payment_amount"),
        col("payment_create_time"), col("pay_ts"))
    Joins.intervalJoin(pay, orderWide, "pay_order_id", "order_id",
      "pay_ts", "oi_ts", lowerSec = lagSec, upperSec = 0L, watermark = watermark)
      .drop("pay_order_id")
  }
}
