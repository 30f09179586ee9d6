package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards scaladoc placement in src/main: a `/** … */` block directly
  * followed by another one documents nothing — scaladoc attaches only
  * the LAST block to the member below, so the first one is orphaned
  * (typically a doc left behind when its member moved or was deleted).
  */
class ScaladocPlacementSpec extends AnyFunSuite {

  /** `file:line` of every doc block that starts right after a line
    * closing another comment. */
  private def orphans(name: String, lines: Seq[String]): Seq[String] =
    lines.indices.drop(1).collect {
      case i if lines(i - 1).trim.endsWith("*/") &&
          lines(i).trim.startsWith("/**") => s"$name:${i + 1}"
    }

  test("the scanner flags stacked doc blocks and nothing else") {
    val stacked = Seq("  /** A. */", "  /** B. */", "  def b = 1")
    assert(orphans("s", stacked) == Seq("s:2"))
    val multi = Seq("  /** A", "    * more. */", "  /** B. */", "  val b = 1")
    assert(orphans("m", multi) == Seq("m:3"))
    val fine = Seq("  /** A. */", "  def a = 1", "", "  /** B. */",
      "  def b = 2", "  // note */", "  val c = 3")
    assert(orphans("f", fine).isEmpty)
  }

  test("every scaladoc block in src/main documents the member below it") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no sources under $root")
    val found = files.flatMap { (f: Path) =>
      orphans(root.relativize(f).toString,
        Files.readAllLines(f).asScala.toSeq)
    }
    assert(found.isEmpty,
      s"doc blocks followed directly by another doc block: $found")
  }
}
