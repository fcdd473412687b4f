package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stateful per-key semantics of the reference, batch (oracle) shapes.
  * The streaming operators live in graft.streaming.TwsStreams
  * (transformWithState); these batch shapes are their oracles.
  *
  *  - T1 new/old-visitor flag (dwd/BaseLogApp.java:66-95): first event per
  *    key keeps is_new=1, later events are rewritten to 0.
  *  - T2 UV daily dedup (dwm/UniqueVisitApp.java:50-92): first event per
  *    key per calendar day survives.
  *  - T3 bounce detection (dwm/UserJumpDetailApp.java:56-96): a session
  *    entry with no follow-up within `gapSec` is a bounce (the CEP
  *    matched+timeout union collapses to a `lead` gap test in batch).
  *
  * Scale note: all three are single window functions partitioned by the
  * key — one shuffle on user_id, no driver collection, and skew-bounded
  * because per-user event counts are small relative to partitions.
  */
object Sessionize {

  /** T1: per-key first-event flag. Ties on ts broken by event_id so the
    * result is deterministic under any partitioning. */
  def newOldFlag(events: DataFrame, key: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("ts"), col("event_id"))
    events.withColumn(
      "is_new",
      when(row_number().over(w) === 1, lit(1)).otherwise(lit(0)))
  }

  /** T2: first event per key per day (the reference's 24h-TTL ValueState
    * dedup — calendar-day semantics, UniqueVisitApp.java:70-91). */
  def uvDedup(events: DataFrame, key: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(key), col("dt")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Gap-based sessionization: events of one key belong to the same
    * session while consecutive gaps stay under `gapSec`. Two windows over
    * one shuffle on the key: a lag to flag session starts, a running sum to
    * number them. The batch twin of `session_window` (T6's session
    * variant), with its exact boundary semantics — session_window merges an
    * event arriving exactly gapSec after the previous one (verified in
    * StreamingParitySpec), so only a gap STRICTLY greater than gapSec
    * starts a new session. At any scale this is one hash shuffle + per-key
    * linear scan. */
  def sessionize(events: DataFrame, gapSec: Long, key: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__new",
        when(
          lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >
              gapSec * 1000000L,
          lit(1L)).otherwise(lit(0L)))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new")
  }

  /** Session stats: one row per (key, session) with size, span and bounds. */
  def sessionStats(events: DataFrame, gapSec: Long, key: String = "user_id"): DataFrame =
    sessionize(events, gapSec, key)
      .groupBy(col(key), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("span_us"),
        min(col("event_id")).as("first_event"))

  /** T3: bounce = event with no successor for the same key within gapSec
    * (or no successor at all) — `lead` over the key timeline. */
  def bounces(events: DataFrame, gapSec: Long, key: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(
        col("next_ts").isNull ||
          unix_micros(col("next_ts")) - unix_micros(col("ts")) > gapSec * 1000000L)
      .drop("next_ts")
  }
}
