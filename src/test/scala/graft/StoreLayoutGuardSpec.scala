package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guards over `src/main/scala`.
  *
  * Only [[graft.operators.Versioned]] knows where a version's manifest
  * lives: a rename-protocol store commits `_log/v=N`, a CAS store a
  * pointer to `_log/m-<token>`. Library code that opens a manifest
  * builds no `_log/v=$...` path itself; it resolves the directory
  * through `Versioned.manifestDir`, which serves both protocols.
  *
  * `transformWithState` is the one keyed-state streaming API: no library
  * file names the older `flatMapGroupsWithState` / `mapGroupsWithState`
  * API or its `GroupState` handle, not even in a comment. */
class StoreLayoutGuardSpec extends AnyFunSuite {

  /** "path:line: text" of every `src/main/scala` line that `hit`s, in
    * files other than `exempt`. */
  private def offenders(exempt: String)(hit: String => Boolean): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != exempt)
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if hit(line) => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
  }

  test("no library file but Versioned.scala builds a _log/v=$ path") {
    val found = offenders("Versioned.scala")(_.contains("_log/v=$"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no library file uses the flatMapGroupsWithState API") {
    val found = offenders("")(line =>
      Seq("flatMapGroupsWithState", "mapGroupsWithState", "GroupState")
        .exists(line.contains))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
