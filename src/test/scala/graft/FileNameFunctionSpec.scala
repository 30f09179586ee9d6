package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards predicate pushdown on table reads: `graft.core` must not tag
  * rows with Spark's per-row file-name function. It is nondeterministic,
  * so Catalyst pushes no filter below it, and a point read on a table
  * with deletion vectors would scan every row of every live file. Scans
  * tag rows from the deterministic `_metadata` column instead
  * (`TxnTable.withFilePos`). The match covers comments too, so the name
  * cannot creep back in as advice either.
  */
class FileNameFunctionSpec extends AnyFunSuite {

  private val Banned = "input_file_name" + "("

  /** `file:line` of every line naming the banned call. */
  private def uses(name: String, lines: Seq[String]): Seq[String] =
    lines.indices.collect {
      case i if lines(i).contains(Banned) => s"$name:${i + 1}"
    }

  test("the scanner flags the call and nothing else") {
    val src = Seq("val a = 1",
      s"  df.withColumn(\"f\", $Banned))",
      "  col(\"_metadata.file_path\")",
      s"  // the old $Banned) tag")
    assert(uses("s", src) == Seq("s:2", "s:4"))
  }

  test("no source under graft/core names Spark's file-name function") {
    val root = Paths.get("src/main/scala/graft/core")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no sources under $root")
    val found = files.flatMap { (f: Path) =>
      uses(root.relativize(f).toString, Files.readAllLines(f).asScala.toSeq)
    }
    assert(found.isEmpty, s"file-name function used (blocks pushdown): $found")
  }
}
