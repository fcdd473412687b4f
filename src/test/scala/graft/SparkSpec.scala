package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (getOrCreate — one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.tuned("local[4]", "4")

  /** Runs `body` under the state-store conf StreamRunner gives a
    * transformWithState query: a spec that starts its own query (a
    * MemoryStream feed) needs it too. */
  def withRocksDb[A](body: => A): A =
    Sessions.withConf(spark, graft.streaming.StreamRunner.RocksDbConf: _*)(body)
}
