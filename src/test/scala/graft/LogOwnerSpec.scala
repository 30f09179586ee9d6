package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the commit log's one owner: only `core/TxnLog.scala` names the
  * log directory, the checkpoint prefix or the version-file pattern, so
  * a reader, crawler or stream that needs log state asks `TxnTable`
  * instead of parsing the files itself. Also pins the split of
  * `graft.core` by concern: no file there grows past 1,500 lines. The
  * match covers comments too, like [[FileNameFunctionSpec]]'s.
  */
class LogOwnerSpec extends AnyFunSuite {

  private val Owner = "core/TxnLog.scala"
  private val Patterns = Seq("_graft_" + "log", "ckpt" + "-v", "%0" + "10d")
  private val MaxCoreLines = 1500

  /** `file:line` of every line naming a log-format pattern. */
  private def uses(name: String, lines: Seq[String]): Seq[String] =
    lines.indices.collect {
      case i if Patterns.exists(lines(i).contains) => s"$name:${i + 1}"
    }

  private def sources(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
    finally s.close()
  }

  test("the scanner flags each log-format pattern and nothing else") {
    val src = Seq("val a = 1",
      "  root.resolve(\"_graft_" + "log\")",
      "  f\"ckpt" + "-v$v%0" + "10d.json\"",
      "  // v$v%0" + "10d.json per version",
      "  TxnTable.commitInfo(path, v).op")
    assert(uses("s", src) == Seq("s:2", "s:3", "s:4"))
  }

  test("no main source outside the log module names the log's files") {
    val root = Paths.get("src/main/scala/graft")
    val files = sources(root)
    assert(files.exists(_.toString.endsWith(Owner)), s"no $Owner under $root")
    val found = files.filterNot(_.toString.endsWith(Owner)).flatMap { f =>
      uses(root.relativize(f).toString, Files.readAllLines(f).asScala.toSeq)
    }
    assert(found.isEmpty, s"log format named outside $Owner: $found")
  }

  test(s"no source under graft/core exceeds $MaxCoreLines lines") {
    val root = Paths.get("src/main/scala/graft/core")
    val big = sources(root).map(f => f -> Files.readAllLines(f).size)
      .collect { case (f, n) if n > MaxCoreLines => s"${root.relativize(f)}: $n" }
    assert(big.isEmpty, s"graft/core files over $MaxCoreLines lines: $big")
  }
}
