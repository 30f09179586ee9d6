package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Gate scheduling (guide §2.6 "overlap independent jobs"): most gates
  * are pure functions of (session, sfDir) — they read the shared Lake
  * tables and their own createTempDirectory scratch, register nothing
  * by a fixed name, and mutate no session conf. Those run through a
  * small thread pool (SPARK_GRAFT_VERIFY_PAR, default 4; 1 = fully
  * sequential) so the next gate's tasks back-fill cores left idle by
  * the current gate's stragglers and single-threaded driver phases
  * (plan build, file commit, streaming trigger waits). Gates with
  * cross-gate shared state stay STRICTLY sequential and run only after
  * the pool drains:
  *  - SqlDmlQueries, except the audited [[Verify.sqlDmlPoolSafe]]
  *    allowlist: the rest mutate session conf (CBO flags, broadcast
  *    threshold — which would flip plans of in-flight pool gates that
  *    assert on executedPlan), assert on global evidence hooks
  *    (lastAnalyzeScans, lastMvRefreshStats, lastMvRewrite,
  *    lastBloomBuiltFiles) that a concurrent sibling would overwrite,
  *    assert zero-delta footerReads windows, or move the warehouse;
  *  - c13_cbo_bhj (Crawler): mutates the broadcast threshold and
  *    registers fixed-name catalog tables;
  *  - s24/s31/s32/s35 (Source): assert ZERO-delta windows on the
  *    global SkippingIndex.footerReads counter, which any concurrent
  *    footer-reading gate would trip.
  * Everything else is isolated by construction: per-gate
  * createTempDirectory scratch, UUID-named GraftSql registrations,
  * path-keyed TxnTable/StreamChanges state, per-query stream waits
  * (processAllAvailable/awaitTermination on the gate's own handle —
  * no global awaitAnyTermination), and the few fixed-name temp views
  * (Analytic a12, Extra) all bind the SAME Lake table content for the
  * given sfDir, so re-registration is idempotent. Streaming gates are
  * submitted first: they spend most of their wall time waiting on
  * microbatch triggers, so they overlap best. Each gate's own
  * computation is untouched — per-gate results are byte-identical to
  * the sequential order.
  */
object Verify {
  /** SqlDml gates AUDITED free of cross-gate shared state: no session
    * conf mutation, no global evidence-hook reads (footerReads windows,
    * lastMvRefreshStats, lastMvRewrite, lastAnalyzeScans,
    * lastBloomBuiltFiles), no setWarehouse — UUID-named registrations
    * and per-gate temp dirs only. Everything NOT on this list stays
    * sequential, so a newly added SqlDml gate defaults to the safe
    * side. VerifySchedulingSpec pins both lists against renames. */
  private[graft] def sqlDmlPoolSafe: Set[String] = Set(
    "s34_sql_update_delete", "s34b_sql_merge", "s36_sql_select_tt",
    "s37_alter_columns", "s38_rename_column", "s39_table_changes",
    "s41_merge_not_matched_by_source", "s42_sql_maintenance",
    "s44_dml_subquery", "s45_table_changes_ts", "s46_sql_view",
    "s47_update_from", "s50_restore_ts_vacuum_dry", "s51_sql_clone",
    "s52_copy_into", "s54_copy_csv", "s59_repair", "s62_matview",
    "s74_txn_group")

  /** Gates that must NOT run concurrently with anything (see scaladoc).
    * VerifySchedulingSpec pins that every name here still exists — a
    * renamed gate silently joining the pool is the failure mode. */
  private[graft] def sequentialOnly: Set[String] =
    (graft.queries.SqlDmlQueries.all.map(_._1).toSet -- sqlDmlPoolSafe) ++
      Set("c13_cbo_bhj", "s24_log_stats_prune", "s31_mixed_box",
        "s32_string_in_prune", "s35_metadata_agg")

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
    val (seqGates, poolRest) = gates.partition(kv => sequentialOnly(kv._1))
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
