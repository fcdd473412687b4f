package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Only [[graft.operators.Versioned]] knows where a version's manifest
  * lives: a rename-protocol store commits `_log/v=N`, a CAS store a
  * pointer to `_log/m-<token>`. Library code that opens a manifest
  * builds no `_log/v=$...` path itself; it resolves the directory
  * through `Versioned.manifestDir`, which serves both protocols. */
class StoreLayoutGuardSpec extends AnyFunSuite {

  test("no library file but Versioned.scala builds a _log/v=$ path") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val walk = Files.walk(root)
    val offenders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Versioned.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("_log/v=$") =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
