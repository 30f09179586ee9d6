package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.TxnTable.Bound
import graft.crawler.SkippingIndex
import graft.crawler.SkippingIndex.FooterReads

/** The evidence scope: thread-bound, nested, trace-free outside any
  * scope, and counting footer reads on the driver the same way for the
  * driver loop and the distributed build. */
class OpMetricsSpec extends SparkSpecBase {
  import spark.implicits._

  /** A table of `files` adds written WITHOUT stats-in-log, so every
    * pruned read footer-reads each live file. */
  private def statless(files: Int): String = {
    val t = Files.createTempDirectory("graft_opm").toString + "/t"
    TxnTable.collectWriteStats = false
    try TxnTable.create(spark, t,
      (1L to 40L).map(i => (i, i % files)).toDF("id", "g"), files)
    finally TxnTable.collectWriteStats = true
    assert(TxnTable.snapshotFiles(t).size == files)
    t
  }

  private def prunedRead(t: String): Long =
    TxnTable.readPruned(spark, t, Seq(Bound.LongRange("id", 1L, 10L))).count()

  test("concurrent scopes on two threads each see only their own reads") {
    val (a, b) = (statless(3), statless(5))
    val reps = 4
    def run(t: String) = new java.util.concurrent.Callable[Long] {
      def call(): Long = OpMetrics.scope {
        (1 to reps).foreach(_ => assert(prunedRead(t) == 10L))
      }._2.count(FooterReads)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val (fa, fb) = (pool.submit(run(a)), pool.submit(run(b)))
      assert(fa.get() == 3L * reps)
      assert(fb.get() == 5L * reps)
    } finally pool.shutdown()
  }

  test("nested scopes each see the writes made inside them") {
    val (a, b) = (statless(3), statless(5))
    val (inner, outer) = OpMetrics.scope {
      prunedRead(a)
      OpMetrics.scope(prunedRead(b))._2
    }
    assert(inner.count(FooterReads) == 5L)
    assert(outer.count(FooterReads) == 8L)
    assert(outer.count(TxnTable.VersionFileReads) >=
      inner.count(TxnTable.VersionFileReads))
  }

  test("a write outside any scope leaves no trace") {
    val a = statless(3)
    prunedRead(a)
    OpMetrics.add(FooterReads, 7L)
    val (_, rec) = OpMetrics.scope(())
    assert(rec.get(FooterReads).isEmpty && rec.count(FooterReads) == 0L)
    // latest-value keys keep the last write inside the scope
    val k = OpMetrics.Key.latest[String]("probe")
    val (_, last) = OpMetrics.scope {
      OpMetrics.record(k, "first"); OpMetrics.record(k, "second")
    }
    assert(last.get(k).contains("second"))
  }

  test("a distributed footer build counts the same as the driver loop") {
    val n = SkippingIndex.DistributeThreshold + 44
    val dir = Files.createTempDirectory("graft_opm_many").toString + "/p"
    spark.range(0, n, 1, n).write.parquet(dir) // one row per file
    val paths = new java.io.File(dir).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(paths.size == n)
    // one call past the threshold fans out as a Spark job …
    val (dist, distRec) = OpMetrics.scope(
      SkippingIndex.buildForFiles(spark, paths, Seq("id")).collect())
    // … two calls under it run the driver loop
    val (local, localRec) = OpMetrics.scope(
      paths.grouped(n / 2 + 1).flatMap(
        SkippingIndex.buildForFiles(spark, _, Seq("id")).collect()).toSeq)
    assert(distRec.count(FooterReads) == n.toLong)
    assert(localRec.count(FooterReads) == n.toLong)
    assert(dist.map(_.toString).sorted.toSeq ==
      local.map(_.toString).sorted)
    assert(dist.map(_.getLong(1)).sum == n.toLong)
  }
}
