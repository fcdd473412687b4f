package graft

import graft.gmall.DbRouter
import graft.streaming.{Sinks, Sources}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** `DbRouter.writeBatch` routes each envelope once: one decode of the
  * input, dim tables identical to the JSON-inference path it replaced,
  * and a string-keyed broadcast of the config that costs a small page. */
class DbRouterSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def envelope(table: String, typ: String, after: String): String =
    s"""{"database":"gmall","tableName":"$table","before":null,""" +
      s""""after":"${after.replace("\"", "\\\"")}","type":"$typ"}"""

  // three dim tables and one topic; user_info has an insert and an update
  // route; `birthday` is missing from one payload and null in another;
  // base_province routes with an empty sink_pk (the "id" default)
  private val lines = Seq(
    envelope("user_info", "insert", """{"id":1,"name":"ann","birthday":"1990-01-01","secret":"x"}"""),
    envelope("user_info", "update", """{"id":2,"name":"bob","birthday":null}"""),
    envelope("user_info", "insert", """{"id":3,"name":"cy"}"""),
    envelope("user_info", "delete", """{"id":4,"name":"dee"}"""),
    envelope("base_province", "insert", """{"id":11,"name":"north","area_code":"110000"}"""),
    envelope("base_province", "insert", """{"id":12,"name":"south","area_code":"310000"}"""),
    envelope("sku_info", "insert", """{"id":100,"spu_id":30,"sku_name":"widget","price":9.5}"""),
    envelope("sku_info", "update", """{"id":101,"spu_id":31,"sku_name":"gadget","price":3}"""),
    envelope("order_info", "insert", """{"id":1001,"user_id":1,"total_amount":99.5}"""),
    envelope("order_info", "insert", """{"id":1002,"user_id":2,"total_amount":10}"""),
    envelope("payment_info", "insert", """{"id":5001}"""))

  private val config = Seq(
    ("user_info", "insert", "hbase", "dim_user_info", "id,name,birthday", "id"),
    ("user_info", "update", "hbase", "dim_user_info", "id,name,birthday", "id"),
    ("base_province", "insert", "hbase", "dim_base_province", "id,name,area_code", ""),
    ("sku_info", "insert", "hbase", "dim_sku_info", "id,spu_id,sku_name,price", "id"),
    ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,total_amount", "id"))
    .toDF("source_table", "operate_type", "sink_type", "sink_table",
      "sink_columns", "sink_pk")

  private def routed(values: DataFrame): DataFrame =
    DbRouter.route(Sources.cdcDecode(values), config)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("writeBatch writes the dim tables JSON inference would, with the same kafka rows") {
    val root = testDir("graft-dbrouter")
    val kafka = DbRouter.writeBatch(routed(lines.toDF("value")), s"$root/dims")
      .localCheckpoint(true)
    // the reference: each routed table's pruned payloads through
    // spark.read.json, upserted by the same sink
    val pruned = DbRouter.pruneAfter(routed(lines.toDF("value")))
    val dims = pruned.filter(col("sink_type") === "hbase")
    dims.select(col("sink_table"), col("sink_pk")).distinct().collect().foreach {
      case Row(table: String, sinkPk: String) =>
        val payload = dims.filter(col("sink_table") === table)
          .select(col("after")).as[String]
        Sinks.upsertBatch(spark.read.json(payload), s"$root/ref/$table",
          if (sinkPk.isEmpty) "id" else sinkPk)
    }
    val tables = Seq("dim_user_info", "dim_base_province", "dim_sku_info")
    tables.foreach { t =>
      val got = spark.read.parquet(s"$root/dims/$t")
      val want = spark.read.parquet(s"$root/ref/$t")
      assert(got.schema === want.schema, t)
      assert(sortedRows(got) === sortedRows(want), t)
    }
    assert(new java.io.File(s"$root/dims").list().toSet === tables.toSet)
    val user = spark.read.parquet(s"$root/dims/dim_user_info")
    assert(user.columns.toSeq === Seq("birthday", "id", "name"))
    assert(sortedRows(user) === Seq("1990-01-01|1|ann", "null|2|bob", "null|3|cy"))
    assert(sortedRows(kafka) === sortedRows(pruned
      .filter(col("sink_type") === "kafka")
      .select(col("sink_table").as("topic"), col("after").as("value"))))
    assert(kafka.count() === 2)
  }

  test("writeBatch decodes each envelope once, however many dim tables it writes") {
    val root = testDir("graft-dbrouter-once")
    val decodes = spark.sparkContext.longAccumulator("dbrouter-decodes")
    val tap = udf { (v: String) => decodes.add(1L); v }.asNondeterministic()
    val values = lines.toDF("value").select(tap(col("value")).as("value"))
    DbRouter.writeBatch(routed(values), s"$root/dims")
      .write.parquet(s"$root/kafka")
    assert(decodes.value === lines.size.toLong)
  }

  test("a string-keyed broadcast of a 15-row table holds a small page") {
    val config = spark.range(15).select(concat(lit("t"), col("id")).as("k"),
      col("id").as("v"))
    val rows = spark.range(1000).select(concat(lit("t"), col("id") % 20).as("k"))
    val joined = rows.join(broadcast(config), "k")
    assert(joined.collect().length === 750)
    val sizes = collect(joined.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec => b.metrics("dataSize").value
    }
    assert(sizes.nonEmpty, joined.queryExecution.executedPlan.treeString)
    sizes.foreach(s => assert(s > 0L && s <= (4L << 20), s"broadcast dataSize $s"))
  }
}
