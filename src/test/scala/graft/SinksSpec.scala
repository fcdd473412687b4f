package graft

import graft.streaming.{Sinks, Sources}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("dim upsert: latest row per key wins, table auto-created (K4/K5)") {
    val path = testDir("graft-dim") + "/dim"
    val b1 = Seq((1L, "alice"), (2L, "bob")).toDF("id", "name")
    Sinks.upsertBatch(b1, path, "id")
    val b2 = Seq((2L, "robert"), (3L, "carol")).toDF("id", "name")
    Sinks.upsertBatch(b2, path, "id")
    val r = spark.read.parquet(path).as[(Long, String)].collect().toMap
    assert(r === Map(1L -> "alice", 2L -> "robert", 3L -> "carol"))
  }

  test("dim upsert: versionCol decides the winner within AND across batches (K4)") {
    val path = testDir("graft-dimv") + "/dim"
    // same key twice in one batch, higher version listed first — arrival
    // order must NOT matter, only the version column
    val b = Seq((1L, "newer", 20L), (1L, "older", 10L), (2L, "only", 5L))
      .toDF("id", "name", "ver")
    Sinks.upsertBatch(b, path, "id", Some("ver"))
    // a later batch with a LOWER version must NOT regress the stored row —
    // this is what makes CDC replay (re-delivered old binlog segments)
    // converge instead of flapping
    val stale = Seq((2L, "stale", 1L)).toDF("id", "name", "ver")
    Sinks.upsertBatch(stale, path, "id", Some("ver"))
    // and a higher version does win
    val fresh = Seq((2L, "fresh", 9L)).toDF("id", "name", "ver")
    Sinks.upsertBatch(fresh, path, "id", Some("ver"))
    val r = spark.read.parquet(path).select("id", "name").as[(Long, String)].collect().toMap
    assert(r === Map(1L -> "newer", 2L -> "fresh"))
  }

  test("bucketed dim upsert rewrites only the touched buckets (K4 at scale)") {
    import scala.jdk.CollectionConverters._
    val path = testDir("graft-dimb") + "/dim"
    val b1 = (1L to 64L).map(i => (i, s"v$i", 1L)).toDF("id", "name", "ver")
    Sinks.upsertBatch(b1, path, "id", Some("ver"), buckets = 8)
    def bucketFiles(): Map[String, Map[String, Long]] =
      java.nio.file.Files.list(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("__bucket="))
        .map { d =>
          d.getFileName.toString ->
            java.nio.file.Files.list(d).iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(f => f.getFileName.toString ->
                java.nio.file.Files.getLastModifiedTime(f).toMillis).toMap
        }.toMap
    val before = bucketFiles()
    assert(before.size === 8) // all 8 bucket partitions materialized
    // one-key update: only that key's bucket may change
    val b2 = Seq((7L, "updated", 2L)).toDF("id", "name", "ver")
    Sinks.upsertBatch(b2, path, "id", Some("ver"), buckets = 8)
    val after = bucketFiles()
    val touched = before.keys.filter(k => before(k) != after(k)).toSet
    assert(touched.size === 1, s"expected 1 rewritten bucket, got $touched")
    // untouched buckets keep the exact same files with the same mtimes
    (before.keySet - touched.head).foreach(k => assert(before(k) === after(k), k))
    val r = spark.read.parquet(path).select("id", "name").as[(Long, String)].collect().toMap
    assert(r(7L) === "updated" && r(8L) === "v8" && r.size === 64)
  }

  test("CDC initial mode: snapshot + incremental + replay converges to batch truth (S3)") {
    import graft.streaming.Sources
    import org.apache.spark.sql.types._
    val path = testDir("graft-cdc") + "/dim"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("ver", LongType)))
    // snapshot at version 10
    val snapshot = Seq((1L, "a10", 10L), (2L, "b10", 10L), (3L, "c10", 10L))
      .toDF("id", "name", "ver")
    val snapRows = Sources.cdcAfter(
      Sources.cdcDecode(
        Sources.cdcSnapshotEnvelopes(snapshot, "gmall", "dim")
          .select(to_json(struct(col("database"), col("tableName"), col("before"),
            col("after"), col("type"))).as("value"))),
      "dim", schema)
    Sinks.upsertBatch(snapRows, path, "id", Some("ver"))
    // incremental binlog AFTER the snapshot point — including one change
    // (ver=9) that is OLDER than the snapshot: the initial-mode overlap,
    // which must not regress row 2
    def env(id: Long, name: String, ver: Long, op: String) =
      (s"""{"database":"gmall","tableName":"dim","before":null,""" +
        s""""after":"{\\"id\\":$id,\\"name\\":\\"$name\\",\\"ver\\":$ver}","type":"$op"}""")
    val inc = Seq(env(2L, "b9-late", 9L, "update"), env(3L, "c12", 12L, "update"),
      env(4L, "d11", 11L, "create")).toDF("value")
    val incRows = Sources.cdcAfter(Sources.cdcDecode(inc), "dim", schema)
    Sinks.upsertBatch(incRows, path, "id", Some("ver"))
    // replay the SAME incremental segment (at-least-once transport)
    Sinks.upsertBatch(incRows, path, "id", Some("ver"))
    val truth = Map(1L -> "a10", 2L -> "b10", 3L -> "c12", 4L -> "d11")
    val got = spark.read.parquet(path).select("id", "name").as[(Long, String)].collect().toMap
    assert(got === truth)
  }

  test("kafkaValue packs all columns into a JSON value column (K1)") {
    val v = Sinks.kafkaValue(Seq((1L, "x")).toDF("id", "name"))
    assert(v.columns.toSeq === Seq("value"))
    assert(v.as[String].head().contains("\"name\":\"x\""))
  }

  test("T8 exactly-once: restart from checkpoint processes each input once") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = testDir("graft-eo")
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val schema = StructType(Seq(StructField("id", LongType)))

    def writeInput(ids: Range): Unit =
      ids.map(_.toLong).toDF("id")
        .repartition(1).write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet")
        .option("path", out)
        .start()
      q.awaitTermination()
    }

    writeInput(1 to 100)
    runOnce()
    writeInput(101 to 150)
    runOnce() // second run must resume from the checkpointed offsets
    val got = spark.read.parquet(out).as[Long].collect().sorted
    assert(got === (1L to 150L).toArray) // each row exactly once
  }

  test("dim upsert fails on an unreadable stored table and leaves it as it was") {
    import scala.jdk.CollectionConverters._
    val path = testDir("graft-dimc") + "/dim"
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(path)
    def files(): Seq[java.nio.file.Path] = Files.list(java.nio.file.Paths.get(path))
      .iterator().asScala.toSeq
    val data = files().filter(_.getFileName.toString.endsWith(".parquet"))
    assert(data.size === 1)
    // garbage of the same length, no checksum file: the footer is unreadable
    files().filter(_.getFileName.toString.endsWith(".crc")).foreach(Files.delete)
    val garbage = Array.fill[Byte](Files.size(data.head).toInt)(7)
    Files.write(data.head, garbage)
    intercept[Exception] {
      Sinks.upsertBatch(Seq((2L, "b")).toDF("id", "name"), path, "id")
    }
    assert(files().filter(_.getFileName.toString.endsWith(".parquet")) === data)
    assert(Files.readAllBytes(data.head).sameElements(garbage))
  }

  test("dim upsert treats a path with no data files as an empty table") {
    val path = testDir("graft-dime") + "/dim"
    Files.createDirectories(java.nio.file.Paths.get(path))
    Files.createFile(java.nio.file.Paths.get(path, "_SUCCESS"))
    Sinks.upsertBatch(Seq((1L, "a")).toDF("id", "name"), path, "id")
    val r = spark.read.parquet(path).as[(Long, String)].collect().toMap
    assert(r === Map(1L -> "a"))
  }

  test("dim upsert is idempotent under batch replay (foreachBatch retry)") {
    val path = testDir("graft-dimr") + "/dim"
    val b = Seq((1L, "x"), (2L, "y")).toDF("id", "name")
    Sinks.upsertBatch(b, path, "id")
    Sinks.upsertBatch(b, path, "id") // replay of the same micro-batch
    val r = spark.read.parquet(path).as[(Long, String)].collect().toMap
    assert(r === Map(1L -> "x", 2L -> "y"))
  }

  test("J5 streaming: config changes take effect on the NEXT micro-batch") {
    import graft.gmall.DbRouter
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = testDir("graft-j5")
    val in = s"$root/in"; val cfgDir = s"$root/cfg"; val outDir = s"$root/out"

    def writeCfg(rows: Seq[(String, String, String, String, String, String)]): Unit =
      rows.toDF("source_table", "operate_type", "sink_table", "sink_type",
        "sink_columns", "sink_pk")
        .write.mode("overwrite").parquet(cfgDir)

    def envelope(table: String, id: Long): String =
      s"""{"database":"gmall","tableName":"$table","before":"{}","after":"{\\"id\\":$id}","type":"insert"}"""

    writeCfg(Seq(("order_info", "insert", "dwd_order_info", "kafka", "id", "id")))
    Seq(envelope("order_info", 1L), envelope("user_info", 2L)).toDF("value")
      .write.mode("append").parquet(in)

    val schema = StructType(Seq(StructField("value", StringType)))
    // foreachBatch re-reads the config table every batch — the broadcast
    // config STREAM of the reference collapses to this refresh
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val cfg = spark.read.parquet(cfgDir)
          val routed = DbRouter.route(
            graft.streaming.Sources.cdcDecode(batch), cfg)
          DbRouter.writeBatch(routed, s"$root/dims")
            .write.mode("append").parquet(outDir)
        }
        .start()
      q.awaitTermination()
    }

    runOnce()
    val r1 = spark.read.parquet(outDir).select("topic").as[String].collect()
    assert(r1.toSeq === Seq("dwd_order_info")) // user_info had no route -> dropped

    // config gains the user_info route; new data in the next batch follows it
    writeCfg(Seq(
      ("order_info", "insert", "dwd_order_info", "kafka", "id", "id"),
      ("user_info", "insert", "dwd_user_info", "kafka", "id", "id")))
    Seq(envelope("user_info", 3L)).toDF("value").write.mode("append").parquet(in)
    runOnce()
    val r2 = spark.read.parquet(outDir).select("topic").as[String].collect().sorted
    assert(r2.toSeq === Seq("dwd_order_info", "dwd_user_info"))
  }

  test("CDC envelope decode normalizes create to insert (S4)") {
    val raw = Seq(
      """{"database":"gmall","tableName":"order_info","before":"{}","after":"{\"id\":1}","type":"create"}""",
      """{"database":"gmall","tableName":"order_info","before":"{\"id\":1}","after":"{}","type":"delete"}""",
      "not json").toDF("value")
    val out = Sources.cdcDecode(raw).collect()
    assert(out(0).getAs[String]("type") === "insert")
    assert(out(1).getAs[String]("type") === "delete")
    assert(out(2).getAs[String]("tableName") === null) // dead-letter row, P1 shape
  }

  test("overwritePartitions replaces ONLY the partitions in the frame; " +
      "a static overwrite would have deleted the rest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = testDir("graft-backfill")
    val init = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L),
      ("c", 4L, 40L)).toDF("p", "k", "v")
    init.write.mode("overwrite").partitionBy("p").parquet(root)
    // backfill partition "a" only, with corrected values
    streaming.Sinks.overwritePartitions(
      Seq(("a", 1L, 11L), ("a", 2L, 21L)).toDF("p", "k", "v"), root, "p")
    val got = spark.read.parquet(root)
      .select(col("p"), col("k"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(got === Seq(("a", 1L, 11L), ("a", 2L, 21L), ("b", 3L, 30L),
      ("c", 4L, 40L)))
    // the session default mode is restored (scoped override)
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }
}
