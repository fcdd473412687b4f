package graft.streaming

import graft.functions.TextFns._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWS-layer streaming aggregations (SURVEY.md §2.5-2.6): tumbling
  * event-time windows over watermarked streams — the Flink
  * TumblingEventTimeWindows / SQL TUMBLE analogue (T5, T6, A1-A4).
  *
  * Distinct counts: streaming disallows COUNT(DISTINCT); `size(collect_set)`
  * reproduces the reference's exact HashSet accumulator
  * (dws/ProductStatsApp.java:212-222) with memory bounded per window/key.
  * `approx_count_distinct` (HLL) is the 100 TB path — constant memory,
  * associative merges.
  *
  * Only operators whose streaming plan differs from the batch one live
  * here: `window()` grouping where the batch twin floors epochs, chained
  * and session windows. Operators that differ only by `withWatermark` have
  * ONE body that watermarks unconditionally (the optimizer drops the node
  * from batch plans): the interval join is
  * [[graft.operators.Joins.intervalJoin]] and sliding windows are
  * [[graft.operators.Stats.slidingVisitorStats]].
  */
object WindowedStreams {

  /** A1 streaming: 10s tumbling window per event_type with counters, exact
    * money sum (decimal) and exact distinct users. */
  def productStats(events: DataFrame, windowSec: Int = 10,
      watermark: String = "2 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("event_type"))
      .agg(
        count(lit(1)).as("ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("amount"),
        size(collect_set(col("user_id"))).cast("long").as("user_ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type"), col("ct"), col("amount"), col("user_ct"))

  /** Hot-GROUP mitigation for [[productStats]]: two-level SALTED rollup
    * in ONE streaming query (chained stateful aggregations). Level 1
    * pre-aggregates by (window, type, salt = user_id mod `salts`) — a
    * hot (window, type) group's rows AND its distinct-user state split
    * across `salts` sub-groups, so no single task drains the hot group
    * and no single state row holds its whole user set; level 2
    * re-windows the closed partials and folds them. `user_ct` stays
    * EXACT: salt is a function of user_id, so per-salt user sets are
    * disjoint and their sizes add. Chained aggs require append mode —
    * emits the windows the watermark closed (same contract as
    * [[chainedStats]]). */
  def productStatsSalted(events: DataFrame, windowSec: Int = 10,
      salts: Int = 8, watermark: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$windowSec seconds"),
        col("event_type"),
        pmod(col("user_id"), lit(salts.toLong)).as("salt"))
      .agg(count(lit(1)).as("ct"),
        sum(col("value").cast("decimal(18,2)")).as("amount"),
        size(collect_set(col("user_id"))).cast("long").as("user_ct"))
      .groupBy(window(col("window"), s"$windowSec seconds").as("w"),
        col("event_type"))
      .agg(sum(col("ct")).as("ct"),
        sum(col("amount")).cast("double").as("amount"),
        sum(col("user_ct")).as("user_ct"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type"), col("ct"), col("amount"), col("user_ct"))

  /** A3 streaming (dws/KeywordStatsApp.java): tokenizer UDTF analogue —
    * explode(tokens) is the LATERAL TABLE(SplitFunction) shape — then a
    * windowed count per keyword. */
  def keywordStats(pages: DataFrame, textCol: String, windowSec: Int = 10,
      watermark: String = "2 seconds"): DataFrame =
    pages
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(tokensWs(col(textCol))).as("keyword"))
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("keyword"))
      .agg(count(lit(1)).as("ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        col("keyword"), col("ct"))

  /** Chained stateful aggregation (Spark's multiple-stateful-operator
    * support): a fine tumbling pre-aggregate feeds a coarse re-aggregate
    * INSIDE the same streaming query, by windowing over the upstream
    * `window` struct column. This is the cascade a 100 TB rollup pipeline
    * wants — the second (coarse) shuffle sees one row per (fine window,
    * key) instead of one per event, so its state and exchange volume are
    * already reduced by the fine-window fan-in, and both levels share one
    * watermark pass. Counts and decimal sums are associative, so the
    * result equals the direct coarse aggregate over the raw events (the
    * oracle), restricted — append mode — to coarse windows whose end the
    * final watermark passed. */
  def chainedStats(events: DataFrame, fineSec: Int = 60,
      coarseSec: Int = 600, watermark: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$fineSec seconds"), col("event_type"))
      .agg(count(lit(1)).as("ct"),
        sum(col("value").cast("decimal(18,2)")).as("amount"))
      .groupBy(window(col("window"), s"$coarseSec seconds").as("w"),
        col("event_type"))
      .agg(sum(col("ct")).as("ct"),
        sum(col("amount")).cast("double").as("amount"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        col("event_type"), col("ct"), col("amount"))

  /** Session-window aggregation (T6's session variant): events of one key
    * merge while gaps stay within `gapSec`; a session's window is
    * [first_ts, last_ts + gap). Append mode emits a session once the
    * watermark passes its end — trailing sessions inside the horizon stay
    * pending, exactly the live-stream contract (the bounded-run oracle
    * applies the same cutoff). State per key is one open session — bounded
    * by watermark, merge-on-arrival, no event buffering. */
  def sessionStats(events: DataFrame, gapSec: Long,
      watermark: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), s"$gapSec seconds").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("stt_us"),
        col("n_events"))
}
