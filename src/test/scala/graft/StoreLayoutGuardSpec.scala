package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guards over `src/main/scala`.
  *
  * Only [[graft.operators.Versioned]] knows the store's log layout: a
  * version commits by the put-if-absent pointer file `_log/v=N.ptr`,
  * which names its manifest dir `_log/m-<token>`, and there is no other
  * commit protocol. Library code that opens a manifest builds no
  * `_log/v=$...` path itself; it resolves the directory through
  * `Versioned.manifestDir`. No other library file names the pointer
  * suffix, the manifest-dir prefix or a commit-protocol option;
  * `ChangeFeed` asks `Versioned` for the pointer glob and for the
  * version of a pointer path.
  *
  * `transformWithState` is the one keyed-state streaming API: no library
  * file names the older `flatMapGroupsWithState` / `mapGroupsWithState`
  * API or its `GroupState` handle, not even in a comment.
  *
  * No library path infers a JSON schema: a `read.json(` without an
  * explicit `.schema(` in its reader chain runs a full extra decode of
  * its input, plus a Spark job, just to find the columns.
  *
  * The gate registry (`Gates*.scala`) keeps one copy of its scratch and
  * probe idioms, in `GateSupport`: a gate takes its scratch dir from
  * `withScratch` (named for the gate, materialized, swept on every exit)
  * and its probe summaries from `probeSums`, so no gate builds a
  * `System.nanoTime()` path, calls `rmTree(` or defines a `summarize`.
  *
  * The library has four mains: `Verify` (the correctness dump), `Bench`
  * (the one timing loop), `ProfGate` (one gate, inspected) and `Synth`
  * (the R× replica Bench runs over). A new measurement is a gate, a
  * Bench run or a spec, not another main with its own timing loop. */
class StoreLayoutGuardSpec extends AnyFunSuite {

  /** Every `src/main/scala` file other than `exempt`, with its lines. */
  private def sources(exempt: String): List[(Path, Seq[String])] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != exempt)
      .map(p => p -> Files.readAllLines(p).asScala.toSeq).toList
    finally walk.close()
  }

  /** "path:line: text" of every `src/main/scala` line that `hit`s, in
    * files other than `exempt`. */
  private def offenders(exempt: String)(hit: String => Boolean): List[String] =
    sources(exempt).flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if hit(line) => s"$p:${i + 1}: ${line.trim}"
      }
    }

  test("no library file but Versioned.scala builds a _log/v=$ path") {
    val found = offenders("Versioned.scala")(_.contains("_log/v=$"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no library file but Versioned.scala names the log layout or a " +
    "commit protocol") {
    val found = offenders("Versioned.scala")(line =>
      Seq(".ptr", "m-<", "\"m-", "commitProtocol").exists(line.contains))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no library file uses the flatMapGroupsWithState API") {
    val found = offenders("")(line =>
      Seq("flatMapGroupsWithState", "mapGroupsWithState", "GroupState")
        .exists(line.contains))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no library file reads JSON without an explicit schema") {
    // `read` then only option/options/format/schema calls (arguments
    // nested at most one level deep, across lines) up to `.json(`
    val arg = """(?:[^()]|\([^()]*\))*"""
    val chain = ("""\bread((?:\s*\.\s*(?:option|options|format|schema)\(""" +
      arg + """\))*)\s*\.\s*json\(""").r
    val found = sources("").flatMap { case (p, lines) =>
      val text = lines.mkString("\n")
      chain.findAllMatchIn(text)
        .filterNot(_.group(1).contains("schema("))
        .map { m =>
          val line = text.substring(0, m.start).count(_ == '\n')
          s"$p:${line + 1}: ${lines(line).trim}"
        }
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no gate builds its own scratch scope or probe summary") {
    val found = offenders("")(line =>
      Seq("System.nanoTime()", "rmTree(").exists(line.contains) ||
        line.matches(""".*\bdef summarize\b.*"""))
      .filter(_.startsWith("src/main/scala/graft/Gates"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no library file but the four harness mains defines a main") {
    val mains = Set("Bench.scala", "Verify.scala", "ProfGate.scala",
      "Synth.scala")
    val found = sources("").collect {
      case (p, lines) if !mains(p.getFileName.toString) &&
          lines.exists(_.contains("def main(")) => p.toString
    }
    assert(found.isEmpty, found.sorted.mkString("\n"))
  }
}
