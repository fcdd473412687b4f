package graft.operators

import graft.functions.TimeFns._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DWD-layer projections/filters/splits (SURVEY.md §2.3), over the
  * harness `events` table (the analogue of the reference's log stream).
  *
  *  - P1 dirty-record split (dwd/BaseLogApp.java:51-63): from_json yields
  *    null on malformed input; main/dead-letter are two filters of one
  *    parse — Catalyst collapses the common subexpression.
  *  - P3 delete filter (dwd/BaseDBApp.java:55-60).
  *  - P4 multi-way split (dwd/BaseLogApp.java:98-131): N filtered children
  *    of one parent.
  *  - P5 config-driven column pruning (func/TableProcessFunction.java:71-77).
  *  - P6 derived date columns (dwm/OrderWideApp.java:55-65).
  */
object LogPipeline {

  val propsSchema: StructType = StructType(Seq(StructField("k", LongType)))

  /** P1/P2: parse the JSON `props` payload; rows whose payload fails to
    * parse keep a null struct (route with `.filter(col("props_parsed")
    * .isNull)` for the dead-letter branch). */
  def parseProps(events: DataFrame): DataFrame =
    events.withColumn("props_parsed", from_json(col("props"), propsSchema))

  /** P3: drop changelog deletes. */
  def dropDeletes(df: DataFrame, typeCol: String = "event_type"): DataFrame =
    df.filter(col(typeCol) =!= "delete")

  /** P4: split one stream into typed children (start/page/display in the
    * reference; signup/view/other here). Each child is a filter+project of
    * the same parent — no materialization, pushdown reaches the scan. */
  def threeWaySplit(events: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val starts = events.filter(col("event_type") === "signup")
    val pages = events.filter(col("event_type") === "view" || col("event_type") === "click")
    val rest = events.filter(!col("event_type").isin("signup", "view", "click"))
    (starts, pages, rest)
  }

  /** P6: derived calendar columns from the event timestamp. */
  def derivedDates(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df
      .withColumn("create_date", createDate(col(tsCol)))
      .withColumn("create_hour", createHour(col(tsCol)))
      .withColumn("create_ts", unix_timestamp(col(tsCol)) * lit(1000L))
}
