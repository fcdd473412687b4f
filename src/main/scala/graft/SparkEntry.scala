package graft

import graft.functions.TimeFns._
import graft.functions.TextFns._
import graft.functions.VectorFns
import graft.multimodal.Multimodal
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/** Driver contract — see /root/repo/SURVEY.md §2 for the operator IDs
  * (A=aggregation, J=join, P=projection/split, T=stateful, F=scalar fn,
  * S=source; dedup/sim/text/mm = the LLM-pipeline extensions).
  *
  * Numeric discipline for oracle parity: every money/measure sum runs in
  * DecimalType (exact, associative — reproducible under any partitioning)
  * and is cast to double only at the end; single divisions of exact values
  * are bit-identical across engines. Window starts are computed as
  * epoch-floor (integer math), formatted as strings.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** The full gate registry: six family objects, one map. Keys are
    * disjoint by construction (each gate lives in exactly one family
    * file); RegistrySpec pins disjointness and the query/oracle pairing. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    GatesBatch.queries ++ GatesJoins.queries ++ GatesGmall.queries ++
      GatesPipeline.queries ++ GatesMaintenance.queries ++
      GatesStreaming.queries

  /** DuckDB oracle SQL, column-name-aligned with `queries`. */
  def oracleSql: Map[String, String] =
    GatesBatch.oracleSql ++ GatesJoins.oracleSql ++ GatesGmall.oracleSql ++
      GatesPipeline.oracleSql ++ GatesMaintenance.oracleSql ++
      GatesStreaming.oracleSql
}
