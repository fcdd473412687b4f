package graft.gmall

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ADS serving layer — the gmall-publisher REST API re-expressed as
  * engine-native queries (SURVEY.md §3.3). The reference's Spring Boot /
  * MyBatis / ClickHouse JDBC stack collapses to spark.sql over the
  * engine-written stats tables; the HTTP veneer is out of engine scope.
  */
object ServingApi {

  /** Publish a stats table for serving: partitioned by the yyyyMMdd day of
    * the window start, so every dated serving query prunes to one
    * partition's files before a single row is read. This is the serving
    * recipe at 100 TB — [[gmv]] below (filter on a function of stt) scans
    * the whole table and is the ad-hoc fallback only. */
  def writeStats(stats: DataFrame, path: String): Unit =
    stats
      .withColumn("dt", date_format(to_timestamp(col("stt")), "yyyyMMdd"))
      .write.mode("overwrite").partitionBy("dt").parquet(path)

  /** GMV for one yyyyMMdd day against a [[writeStats]] store: the filter
    * lands on the partition column, so only that day's directory is
    * scanned (PartitionFilters, pinned by ServingPlanSpec). */
  def gmvAt(spark: SparkSession, path: String, date: Int): DataFrame =
    spark.read.parquet(path)
      .filter(col("dt") === date.toString)
      .agg(coalesce(sum(col("order_amount")), lit(java.math.BigDecimal.ZERO))
        .as("order_amount"))

  /** GMV for one yyyyMMdd day (mapper/ProductStatsMapper.java:10-11:
    * select sum(order_amount) from product_stats where toYYYYMMDD(stt)=?).
    * Ad-hoc form: the function wrap on stt defeats partition pruning; use
    * [[writeStats]] + [[gmvAt]] for the published serving path. */
  def gmv(productStats: DataFrame, date: Int): java.math.BigDecimal = {
    val r = productStats
      .filter(date_format(to_timestamp(col("stt")), "yyyyMMdd") === date.toString)
      .agg(sum(col("order_amount")).as("gmv"))
      .head()
    Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
  }
}
