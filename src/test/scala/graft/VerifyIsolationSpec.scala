package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the isolation rule graft.Verify's thread pool relies on: a
  * gate outside its family's `sequential` set must not touch
  * process-wide state (warehouse root, name registry, catalog binding)
  * nor set or unset conf on the session it was passed — every pooled
  * gate shares that session. Scans each gate's definition in
  * src/main/scala/graft/queries, so a new gate in ANY family is
  * checked, whatever its name.
  */
class VerifyIsolationSpec extends AnyFunSuite {

  /** What in `body` would leak out of a gate whose session parameter
    * is named `p`. */
  private def hazards(p: String, body: String): Seq[String] = {
    val q = java.util.regex.Pattern.quote(p)
    Seq(
      """\b(setWarehouse|resetSession|enableCatalog|disableCatalog)\(""",
      s"""\\b$q\\.conf\\.(set|unset)\\(""",
      s"""=\\s*$q\\.conf\\b""",
      s"""\\b$q\\.(sqlContext|sessionState)\\.\\w*\\.?set\\w*\\(""",
      s"""\\b$q\\.sql\\(\\s*s?"\\s*(?i:set|reset)\\b""",
      s"""GraftSql\\.(execute|query)\\(\\s*$q\\s*,\\s*s?"\\s*(?i:set|reset)\\b"""
    ).flatMap(_.r.findAllIn(body).toSeq)
  }

  /** gate name → (session parameter, definition text), from every
    * `"name" -> (fn _)` entry of every queries family. */
  private lazy val gates: Map[String, (String, String)] = {
    val dir = Paths.get("src/main/scala/graft/queries")
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = Files.readString(f)
        """"(\w+)"\s*->\s*\((\w+) _\)""".r.findAllMatchIn(src).map { m =>
          val fn = m.group(2)
          val sig = s"""def $fn\\(\\s*(\\w+)\\s*:\\s*SparkSession""".r
            .findFirstMatchIn(src).getOrElse(
              fail(s"${f.getFileName}: no definition of $fn"))
          // the definition runs to the next member at class indentation
          val end = """\n  \S""".r.findFirstMatchIn(src.substring(sig.end))
            .map(sig.end + _.start + 3).getOrElse(src.length)
          m.group(1) -> (sig.group(1), src.substring(sig.start, end))
        }
      }.toMap
  }

  test("the scan finds every gate Verify runs") {
    val missing = SparkEntry.queries.keySet -- gates.keySet
    assert(missing.isEmpty, s"gates the scan cannot see: $missing")
  }

  test("the scanner flags process-wide and shared-session mutations") {
    assert(hazards("spark", """GraftSql.setWarehouse(d)""").nonEmpty)
    assert(hazards("spark", """GraftSql.resetSession()""").nonEmpty)
    assert(hazards("spark", """spark.conf.set("k", "v")""").nonEmpty)
    assert(hazards("spark", """spark.conf.unset("k")""").nonEmpty)
    assert(hazards("spark", """val conf = spark.conf""").nonEmpty)
    assert(hazards("spark",
      """GraftSql.execute(spark, "SET MATVIEW REWRITE OFF")""").nonEmpty)
    assert(hazards("spark", """spark.sql("SET x = 1")""").nonEmpty)
    // a private session's conf is the gate's own
    assert(hazards("shared",
      """val spark = shared.newSession(); spark.conf.set("k", "v")""")
      .isEmpty)
    assert(hazards("spark", """spark.conf.get("k")""").isEmpty)
    assert(hazards("spark",
      """GraftSql.execute(spark, s"ALTER TABLE $n SET TBLPROPERTIES")""")
      .isEmpty)
  }

  test("only gates in a sequential set touch shared state") {
    val sequential = graft.queries.SqlDmlQueries.sequential
    assert(sequential.subsetOf(gates.keySet),
      s"sequential names match no gate: ${sequential -- gates.keySet}")
    val leaking = gates.collect {
      case (name, (p, body)) if hazards(p, body).nonEmpty =>
        name -> hazards(p, body)
    }
    val pooled = leaking.filter { case (n, _) => !sequential(n) }
    assert(pooled.isEmpty,
      s"pooled gates that touch shared state (move the mutation onto " +
        s"a newSession() or declare the gate sequential): $pooled")
    // the scan is live on real gate text: s55 moves the warehouse
    assert(leaking.contains("s55_catalog_persist"), s"flagged: $leaking")
  }
}
