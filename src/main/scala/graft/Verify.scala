package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Gates run
  * through a small thread pool (SPARK_GRAFT_VERIFY_PAR, default 4;
  * 1 = sequential), streaming gates first because they mostly wait on
  * triggers. The isolation rule that makes this safe: a gate touches
  * only its own createTempDirectory scratch and UUID-named
  * registrations, reads its evidence from its own OpMetrics scope,
  * and changes session conf only on a `newSession()` of its own;
  * fixed-name temp views bind the same Lake content, so re-binding
  * them is idempotent. A gate that must touch process-wide state
  * (warehouse root, name registry, catalog binding) is listed in its
  * family's `sequential` set beside its definition and runs alone
  * after the pool drains. VerifyIsolationSpec enforces the rule.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local iteration only; the driver passes two):
    // comma-separated gate-name prefixes to run a subset.
    val prefixes = if (args.length > 2) args(2).split(",").toSeq else Seq.empty
    def wanted(name: String): Boolean =
      prefixes.isEmpty || prefixes.exists(name.startsWith)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val streamingNames: Set[String] =
      graft.queries.StreamingQueries.all.map(_._1).toSet
    def runGate(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"verify:$name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      System.err.println(f"[verify-sec] $name ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    val gates = SparkEntry.queries.filter(kv => wanted(kv._1)).toSeq
    val (seqGates, poolRest) =
      gates.partition(kv => graft.queries.SqlDmlQueries.sequential(kv._1))
    val poolGates = poolRest.partition(kv => streamingNames(kv._1)) match {
      case (streams, rest) => streams ++ rest
    }
    val tTotal0 = System.nanoTime()
    if (par <= 1 || poolGates.isEmpty)
      poolGates.foreach { case (n, fn) => runGate(n, fn) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val futures = poolGates.map { case (n, fn) =>
          pool.submit(new Runnable { def run(): Unit = runGate(n, fn) })
        }
        futures.foreach(_.get())
      } finally pool.shutdown()
    }
    seqGates.foreach { case (n, fn) => runGate(n, fn) }
    System.err.println(
      f"[verify-total-sec] ${(System.nanoTime() - tTotal0) / 1e9}%.3f")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
