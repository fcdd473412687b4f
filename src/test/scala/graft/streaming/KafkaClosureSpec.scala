package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Kafka closure, pinned (r16 verdict task 8). This sandbox has no
  * broker and no `spark-sql-kafka-0-10`/`kafka-clients` jar anywhere on
  * the offline classpath (re-probed r17: `/opt/spark/jars` and a full
  * filesystem find are both empty of kafka), so S1/S2/K1/K2 cannot
  * EXECUTE against a connector. What must therefore hold instead:
  *
  *  1. the exact reader/writer configuration each entry point emits is a
  *     pinned contract — dropping the connector jar onto the classpath
  *     must be configuration-only, with zero code changes; and
  *  2. the row shaping each sink performs (the part that IS our logic —
  *     key/value/topic columns the connector consumes) stays the
  *     documented shape, independent of the connector's presence.
  *
  * The oracle-gated payload shaping (`k2_dynamic_topic`) covers values;
  * this spec covers the wiring. */
class KafkaClosureSpec extends SparkSpec {
  import spark.implicits._

  test("kafkaSourceConf: S1 emits format kafka with exactly " +
    "bootstrap.servers/subscribe/startingOffsets") {
    val (fmt, opts) = Sources.kafkaSourceConf(
      "broker1:9092,broker2:9092", "ods_base_log", "earliest")
    assert(fmt === "kafka")
    assert(opts === Map(
      "kafka.bootstrap.servers" -> "broker1:9092,broker2:9092",
      "subscribe" -> "ods_base_log",
      "startingOffsets" -> "earliest"))
  }

  test("sink row shaping: kafkaValue packs ALL columns into one JSON " +
    "value; dynamicTopicRows emits exactly (topic, value)") {
    val df = Seq((1L, "a", "t_x"), (2L, "b", "t_y"))
      .toDF("id", "payload", "sink_topic")
    val fixed = Sinks.kafkaValue(df)
    assert(fixed.columns.toSeq === Seq("value"))
    val v = fixed.orderBy(get_json_object(col("value"), "$.id"))
      .as[String].collect()
    assert(v.head.contains("\"id\":1") && v.head.contains("\"payload\":\"a\"")
      && v.head.contains("\"sink_topic\":\"t_x\""))
    val dyn = Sinks.dynamicTopicRows(df, "sink_topic")
    assert(dyn.columns.toSeq === Seq("topic", "value"))
    val rows = dyn.orderBy(col("topic")).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("t_x", "t_y"))
    // the routing column itself must NOT leak into the payload
    assert(!rows.head.getString(1).contains("sink_topic"))
  }

  test("kafkaStrings reaches the connector lookup: without the jar the " +
    "failure is the missing DATA SOURCE, not our code") {
    val e = intercept[Exception] {
      Sources.kafkaStrings(spark, "b:9092", "t").printSchema()
    }
    val msg = Option(e.getMessage).getOrElse("").toLowerCase
    assert(msg.contains("kafka"),
      s"expected the kafka data-source lookup to be the failure: $msg")
  }
}
