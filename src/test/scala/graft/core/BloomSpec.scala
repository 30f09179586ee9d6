package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Per-file Bloom skipping: build refusals, incremental top-up,
  * typed probe paths, graceful degradation (no index / uncovered
  * files), snapshot reads, and DV composition. The scale-shaped
  * prune-vs-range contrast lives in gate s76. */
class BloomSpec extends SparkSpecBase {
  import spark.implicits._

  test("computeBloom: refusals, typed probes, fallbacks, time travel, " +
    "top-up no-op, DV-aware lookups") {
    val t = Files.createTempDirectory("graft_bloom").toString + "/t"
    TxnTable.create(spark, t,
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "f"))
    TxnTable.append(spark, t,
      Seq((3L, "c", 3.5), (4L, "d", 4.5)).toDF("id", "s", "f"))
    // no index yet: the lookup degrades to an ordinary filtered scan
    assert(TxnTable.readPrunedBloom(spark, t, "id", Seq(3L)).count() == 1L)
    intercept[IllegalArgumentException] {
      TxnTable.computeBloom(spark, t, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      TxnTable.computeBloom(spark, t, Seq("f")) // double: unsupported
    }
    intercept[IllegalArgumentException] {
      TxnTable.computeBloom(spark, t, Seq("id"), fpp = 0.9)
    }
    val (_, build) =
      OpMetrics.scope(TxnTable.computeBloom(spark, t, Seq("id", "s")))
    assert(build.get(TxnTable.BloomBuiltFiles).map(_.size).contains(2))
    // string probe path prunes to the owning file
    val hs = TxnTable.readPrunedBloomString(spark, t, "s", Seq("d"))
    assert(hs.collect().map(_.getString(1)).toSeq == Seq("d"))
    assert(hs.inputFiles.length == 1)
    // long probe path too
    val (h, hit) =
      OpMetrics.scope(TxnTable.readPrunedBloom(spark, t, "id", Seq(1L)))
    assert(h.inputFiles.length == 1 && h.count() == 1L)
    // the probe job returns only names the index can EXCLUDE (here:
    // the one non-matching file), never a verdict per candidate
    assert(hit.get(TxnTable.BloomProbeCollected).contains(1))
    // empty probe list → empty frame; absent value → zero rows
    assert(TxnTable.readPrunedBloom(spark, t, "id", Nil).count() == 0L)
    val (miss, absent) =
      OpMetrics.scope(TxnTable.readPrunedBloom(spark, t, "id", Seq(99L)))
    assert(miss.count() == 0L)
    // an absent value excludes every live file (modulo bloom false
    // positives — two tiny files make those practically impossible)
    assert(absent.get(TxnTable.BloomProbeCollected).contains(2))
    // snapshot read: v0 keeps only the first file's rows
    assert(TxnTable.readPrunedBloom(spark, t, "id", Seq(1L, 3L), asOf = 0L)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // a fully-covered table builds nothing
    val (v, topUp) =
      OpMetrics.scope(TxnTable.computeBloom(spark, t, Seq("id", "s")))
    assert(v >= 0L)
    assert(topUp.get(TxnTable.BloomBuiltFiles).exists(_.isEmpty))
    // merge-on-read delete: the bloom still (rightly) keeps the file,
    // the DV drops the row — never a resurrected value
    TxnTable.deleteWhereMor(spark, t, col("id") === 3L)
    assert(TxnTable.readPrunedBloom(spark, t, "id", Seq(3L)).count() == 0L)
  }

  test("SHOW BLOOM: coverage drops on churn and restores on top-up") {
    import graft.sql.GraftSql
    val t = Files.createTempDirectory("graft_bloom2").toString + "/t"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    TxnTable.append(spark, t, Seq((3L, 30L), (4L, 40L)).toDF("id", "v"))
    GraftSql.register(n, t)
    try {
      // no index yet: empty panel, not an error
      assert(GraftSql.query(spark, s"SHOW BLOOM $n").count() == 0L)
      TxnTable.computeBloom(spark, t, Seq("id"))
      def panel(): (Long, Long) = {
        val r = GraftSql.query(spark, s"SHOW BLOOM $n").collect()
        assert(r.length == 1 && r.head.getString(0) == "id")
        (r.head.getLong(1), r.head.getLong(2))
      }
      assert(panel() == ((2L, 2L)))
      // churn replaces a file: covered drops below live
      GraftSql.execute(spark, s"UPDATE $n SET v = v + 1 WHERE id = 1")
      val (cov, live) = panel()
      assert(cov < live, s"churn must surface as a coverage gap: $cov/$live")
      TxnTable.computeBloom(spark, t, Seq("id"))
      val (cov2, live2) = panel()
      assert(cov2 == live2, s"the top-up must close the gap: $cov2/$live2")
    } finally GraftSql.unregister(n)
  }
}
