package graft.gmall

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWD log layer — the BaseLogApp job (dwd/BaseLogApp.java) as pure
  * DataFrame functions, identical in batch and streaming.
  *
  * Pipeline: raw JSON line → P1 dirty split → T1 new/old-visitor repair →
  * P4 three-way split (start / page / display, displays exploded and
  * stamped with page_id + ts).
  */
object BaseLog {

  /** P1 (BaseLogApp.java:51-63): parse with dead-letter routing. Returns
    * (clean, dirty): from_json yields null on malformed input, so the two
    * branches are filters over one parse — no double work after CSE. */
  def parse(raw: DataFrame, valueCol: String = "value"): (DataFrame, DataFrame) = {
    val parsed = raw.withColumn("log", from_json(col(valueCol), Schemas.log))
    // a line that parses but has neither common nor ts is dirty too
    val ok = col("log").isNotNull && col("log.ts").isNotNull
    (parsed.filter(ok).select(col("log.*")), parsed.filter(!ok).select(col(valueCol)))
  }

  /** T1 batch shape (BaseLogApp.java:66-95): a device claiming is_new=1 is
    * rewritten to 0 unless this is its first event ever. Streaming twin:
    * graft.streaming.TwsStreams.newOldFlag. */
  def fixNewFlag(logs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("common.mid")).orderBy(col("ts"))
    logs.withColumn(
      "common",
      col("common").withField(
        "is_new",
        when(col("common.is_new") === "1" && row_number().over(w) =!= 1, lit("0"))
          .otherwise(col("common.is_new"))))
  }

  /** P4 (BaseLogApp.java:98-131): split into (start, page, display).
    * Displays are exploded per element and enriched with the page_id and
    * ts of their carrying page event — exactly the reference's loop. */
  def split(logs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val isStart = col("start").isNotNull && col("start.entry").isNotNull
    val starts = logs.filter(isStart)
    val pages = logs.filter(!isStart)
    val displays = pages
      .filter(size(col("displays")) > 0)
      .select(col("page.page_id").as("page_id"), col("ts"),
        explode(col("displays")).as("display"))
      .select(col("display.*"), col("page_id"), col("ts"))
    (starts, pages, displays)
  }
}
