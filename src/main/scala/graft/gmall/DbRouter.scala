package graft.gmall

import graft.streaming.Sinks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}

/** DWD db layer — the BaseDBApp job (dwd/BaseDBApp.java): dynamic,
  * config-driven routing of CDC changelogs.
  *
  * The reference connects the data stream with a broadcast config stream
  * (table_process rows) and, per record, looks up `sourceTable-operateType`
  * to decide sink topic/table + column allowlist. Spark has no broadcast
  * *stream*; the equivalent observable behavior — config changes take
  * effect on subsequent records — comes from re-reading the small config
  * table every micro-batch inside foreachBatch and broadcast-joining it.
  */
object DbRouter {

  private val StringMap = MapType(StringType, StringType)

  /** P3 + J5 (BaseDBApp.java:55-84, TableProcessFunction.java:48-69):
    * drop deletes, join the envelope stream against the config table,
    * keep the routing metadata. Unmatched records are dropped exactly like
    * the reference's "no config" branch. */
  def route(envelopes: DataFrame, config: DataFrame): DataFrame =
    envelopes
      .filter(col("type") =!= "delete")
      .join(broadcast(config),
        envelopes("tableName") === config("source_table") &&
          envelopes("type") === config("operate_type"))

  /** P5 (TableProcessFunction.java:71-77): per-route column pruning of the
    * JSON `after` payload down to the configured allowlist. Pure expression
    * — builds a pruned JSON object from the allowed keys. */
  def pruneAfter(routed: DataFrame): DataFrame =
    routed.withColumn(
      "after",
      to_json(map_filter(
        from_json(col("after"), StringMap),
        (k, _) => array_contains(split(col("sink_columns"), ","), k))))

  /** K2/K4 fan-out (BaseDBApp.java:87-98): kafka-typed routes get a per-row
    * `topic` column (the dynamic-topic producer); hbase-typed routes upsert
    * into their dim table. Batch-callable; wrap in foreachBatch for
    * streaming. `dimRoot` is the dim store root path.
    *
    * One pass, like the reference's per-record lookup: the route join,
    * decode and prune run once, materialised by an eager local checkpoint,
    * and every dim upsert and the returned kafka rows read those rows. A
    * dim table's schema comes from one driver collect of the distinct
    * payload keys per route: its key set, sorted, every field a string.
    * That is the schema JSON inference gives on `pruneAfter` output (every
    * value went through `map<string,string>`; inference sorts fields and
    * types all-null fields as strings), without an inference job per
    * table. A hbase-routed envelope whose pruned payload is NULL (no or
    * undecodable `after`) writes no dim row. */
  def writeBatch(routed: DataFrame, dimRoot: String): DataFrame = {
    val pruned = pruneAfter(routed)
      .select(col("sink_type"), col("sink_table"), col("sink_pk"), col("after"))
      .localCheckpoint(eager = true)
    val dimRoutes = pruned.filter(col("sink_type") === "hbase")
    // (table, pk, payload key) triples: the route list and every schema
    val keys = dimRoutes.select(col("sink_table"), col("sink_pk"),
        explode_outer(map_keys(from_json(col("after"), StringMap))))
      .distinct().collect()
    val schemaOf = keys.groupBy(_.getString(0)).view.mapValues(rs =>
      StructType(rs.flatMap(r => Option(r.getString(2))).distinct.sorted
        .map(StructField(_, StringType)).toIndexedSeq)).toMap
    keys.map(r => (r.getString(0), r.getString(1))).distinct.foreach {
      case (table, sinkPk) =>
        val pk = Option(sinkPk).filter(_.nonEmpty).getOrElse("id")
        val rows = dimRoutes
          .filter(col("sink_table") === table && col("after").isNotNull)
          .select(from_json(col("after"), schemaOf(table)).as("r"))
          .select(col("r.*"))
        Sinks.upsertBatch(rows, s"$dimRoot/$table", pk)
    }
    // kafka routes: rows shaped for the dynamic-topic producer
    pruned.filter(col("sink_type") === "kafka")
      .select(col("sink_table").as("topic"), col("after").as("value"))
  }
}
