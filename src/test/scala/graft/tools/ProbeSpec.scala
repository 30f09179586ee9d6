package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.SparkSpecBase

/** The probe registry's contract: unique names, a loud failure that
  * lists the known probes, and every output file under the absolute
  * `--out` directory. */
class ProbeSpec extends SparkSpecBase {
  private def listing(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("probe names are unique") {
    val names = Probe.probes.map(_._1)
    assert(names.distinct == names)
  }

  test("an unknown probe fails and lists the known names") {
    val out = Files.createTempDirectory("probe_spec")
    val e = intercept[IllegalArgumentException](
      Probe.run(spark, Array("no_such_probe", "--out", out.toString)))
    assert(e.getMessage.contains("no_such_probe"))
    Probe.probes.foreach { case (n, _) => assert(e.getMessage.contains(n)) }
    assert(listing(out).isEmpty)
  }

  test("a relative --out is refused before anything is written") {
    val rel = "probe_spec_relative_out"
    intercept[IllegalArgumentException](
      Probe.run(spark, Array("plans", "--out", rel, sf0001, "q01_")))
    assert(!Files.exists(Paths.get(rel)))
  }

  test("plans writes its JSON line and plan file under --out only") {
    val out = Files.createTempDirectory("probe_spec").resolve("nested")
    val cwd = Paths.get("").toAbsolutePath
    val cwdBefore = listing(cwd)
    val line = Probe.run(spark,
      Array("plans", "--out", out.toString, sf0001, "q01_"))
    assert(listing(out) == Set("probes.jsonl", "plans.txt"))
    assert(listing(cwd) == cwdBefore)
    assert(Files.readAllLines(out.resolve("probes.jsonl")).asScala ==
      Seq(line))
    implicit val fmts: Formats = DefaultFormats
    val j = parse(line)
    assert((j \ "probe").extract[String] == "plans")
    assert((j \ "cpus").extract[Int] > 0)
    assert((j \ "facts" \ "gates").extract[Int] >= 1)
    val gate = graft.SparkEntry.queries.keys.filter(_.startsWith("q01_")).head
    assert((j \ "sections" \ gate \ "wall_s").extract[Double] >= 0)
    assert(Files.readString(out.resolve("plans.txt"))
      .contains(s"==== $gate ===="))
  }
}
