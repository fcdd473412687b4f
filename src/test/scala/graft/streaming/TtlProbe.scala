package graft.streaming

import java.time.Duration

import graft.streaming.TwsStreams.{Event, keyed, sorted}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** TTL fixture for `TwsSpec`: per input row, report whether the keyed
  * ValueState (TTL-bound) still existed when the row arrived, then
  * refresh it. ProcessingTime mode — the only mode TTL is assignable
  * in — which is exactly why this lives behind an explicitly-stopped
  * MemoryStream spec and NOT a gate (see UvDedupProcessor's note: in
  * this mode a bounded AvailableNow run never terminates). */
object TtlProbe {

  private class TtlProbeProcessor(ttl: Duration)
      extends StatefulProcessor[Long, Event, (Long, Long, Boolean)] {
    @transient private var v: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      v = getHandle.getValueState[String]("v", Encoders.STRING,
        TTLConfig(ttl))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long, Boolean)] = {
      val out = sorted(rows).map { e =>
        val had = v.exists()
        v.update("seen")
        (key, e.event_id, had)
      }
      out.iterator
    }
  }

  def apply(events: DataFrame, ttl: Duration): DataFrame =
    keyed(events, new TtlProbeProcessor(ttl), TimeMode.ProcessingTime())
      .toDF("user_id", "event_id", "had_state")
}
