package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Physical-type drift regression (VERDICT r10): the driver regenerated
  * `events.parquet` from TIMESTAMP(NANOS) to INT64 TIMESTAMP_MICROS and the
  * then-hard-coded readers broke 43 gates. This spec writes the SAME tiny
  * events fixture in each physical shape the readers must adapt to —
  * epoch-nanos longs (the legacy nanos-as-long read), timestamp_ntz micros
  * (pyarrow's current output), and adjusted-UTC timestamp — and asserts the
  * batch reader and the streaming reader produce identical rows over all of
  * them. Would have caught the r10 break.
  */
class FormatDriftSpec extends SparkSpec {

  // 5 rows, 2 users, ts spread over 2 hours — micros-resolution instants
  private val baseUs: Long = 1700000000000000L
  private val rows = Seq(
    (1L, baseUs,                11L, "view",  1.0, """{"k":"a"}"""),
    (2L, baseUs + 1000000L,     11L, "click", 2.0, """{"k":"b"}"""),
    (3L, baseUs + 3600000000L,  12L, "view",  3.0, """{"k":"c"}"""),
    (4L, baseUs + 3601000000L,  12L, "buy",   4.0, """{"k":"d"}"""),
    (5L, baseUs + 7200000000L,  11L, "view",  5.0, """{"k":"e"}"""))

  private def writeFixture(tsType: DataType): String = {
    val dir = new java.io.File(testDir("graft-drift-"))
    dir.deleteOnExit()
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val data = rows.map { case (id, us, uid, et, v, p) =>
      val ts: Any = tsType match {
        case LongType => us * 1000L // epoch NANOS as raw long
        case TimestampNTZType =>
          java.time.LocalDateTime.ofEpochSecond(
            us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)
        case TimestampType => java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
        case other => fail(s"unhandled fixture type $other")
      }
      Row(id, ts, uid, et, v, p)
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(data).asJava), schema)
    // a single events.parquet FILE, like the driver fixture layout
    val tmp = new java.io.File(dir, "build")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new java.io.File(dir, "events.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    dir.getPath
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))
      .collect().map(_.toString).toIndexedSeq

  private val shapes: Seq[(String, DataType)] = Seq(
    ("nanos-as-long", LongType),
    ("timestamp_ntz-micros", TimestampNTZType),
    ("timestamp-utc", TimestampType))

  test("Tables.events adapts to every ts physical shape") {
    val results = shapes.map { case (name, t) =>
      name -> canon(Tables.events(spark, writeFixture(t)))
    }
    val (refName, ref) = results.head
    assert(ref.size == rows.size)
    // the normalized ts must be the exact original micros
    assert(ref.head.contains(baseUs.toString))
    results.tail.foreach { case (name, got) =>
      assert(got == ref, s"$name diverged from $refName")
    }
  }

  test("eventsStream adapts to every ts physical shape (probed schema)") {
    val results = shapes.map { case (name, t) =>
      val out = graft.streaming.StreamRunner.collect(
        graft.streaming.Sources.eventsStream(spark, writeFixture(t)))
      name -> canon(out)
    }
    val (refName, ref) = results.head
    assert(ref.size == rows.size)
    results.tail.foreach { case (name, got) =>
      assert(got == ref, s"$name diverged from $refName")
    }
  }

  test("a stateful stream gate (uvDedup) is shape-invariant") {
    val results = shapes.map { case (name, t) =>
      val out = graft.streaming.StreamRunner.collect(
        graft.streaming.TwsStreams.uvDedup(
          graft.streaming.Sources.eventsStream(spark, writeFixture(t))))
      name -> out.select(col("user_id"), col("dt"), col("event_id"))
        .orderBy(col("user_id"), col("dt"))
        .collect().map(_.toString).toIndexedSeq
    }
    val (refName, ref) = results.head
    assert(ref.nonEmpty)
    results.tail.foreach { case (name, got) =>
      assert(got == ref, s"$name diverged from $refName")
    }
  }

  test("normalizeEventTs rejects an incompatible ts type loudly") {
    val bad = spark.range(1).select(col("id").cast("string").as("ts"))
    val e = intercept[IllegalStateException](Tables.normalizeEventTs(bad))
    assert(e.getMessage.contains("unsupported"))
  }
}
