package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (getOrCreate — one JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.tuned("local[4]", "4")

  /** Runs `body` under the state-store conf StreamRunner gives a
    * transformWithState query: a spec that starts its own query (a
    * MemoryStream feed) needs it too. */
  def withRocksDb[A](body: => A): A =
    Sessions.withConf(spark, graft.streaming.StreamRunner.RocksDbConf: _*)(body)

  private val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A checkpoint directory `java.io.tmpdir/graft-test-<name>` for a query
    * the spec starts itself; it is deleted when the suite ends. Not right
    * after `stop()`: a stopped query's cancelled tasks may still be
    * writing their state-store changelog there. */
  def testCheckpoint(name: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-test-$name"
    checkpoints.add(dir)
    dir
  }

  /** A fresh directory `java.io.tmpdir/<prefix><random>` for a spec's
    * files, deleted with the checkpoints when the suite ends. */
  def testDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    checkpoints.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally { checkpoints.forEach(d => SparkSpec.ended.add(d)); SparkSpec.sweep() }
}

object SparkSpec {
  /** The checkpoints of every suite that has ended. Each suite end and
    * the JVM's exit delete them all again: a stopped RocksDB store's
    * maintenance thread can still write a snapshot after its suite ends. */
  private val ended = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  sys.addShutdownHook(sweep())

  private def sweep(): Unit = ended.forEach(d => TmpDirs.rmTree(d))
}
