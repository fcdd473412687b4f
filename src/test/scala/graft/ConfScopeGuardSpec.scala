package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Session conf changes go through [[Sessions.withConf]] only: a
  * `conf.set(` / `conf.unset(` anywhere else in the library is a sticky or
  * hand-rolled scoped change that can leak into a caller's session. */
class ConfScopeGuardSpec extends AnyFunSuite {

  test("no library file but Sessions.scala sets or unsets session conf") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val pat = "conf\\.(set|unset)\\(".r
    val walk = Files.walk(root)
    val offenders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Sessions.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pat.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
