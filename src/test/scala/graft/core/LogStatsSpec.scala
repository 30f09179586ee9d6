package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.TxnTable.Bound
import graft.crawler.SkippingIndex

/** Stats-in-log: every write records per-file column min/max in the
  * commit's adds, so pruned reads plan from the LOG alone — zero
  * parquet footer opens (pinned via SkippingIndex.FooterReads). Footer
  * reads survive only as the fallback for pre-stats adds. */
class LogStatsSpec extends SparkSpecBase {
  import spark.implicits._

  private def footers[A](f: => A): (A, Long) = {
    val (out, rec) = OpMetrics.scope(f)
    (out, rec.count(SkippingIndex.FooterReads))
  }

  private def mk(t: String): Unit =
    TxnTable.createClustered(spark, t,
      (for (g <- 0L until 8L; i <- 1L to 50L)
        yield (g * 1000 + i, g, s"k${g * 1000 + i}", (g * 1000 + i) * 3))
        .toDF("id", "g", "name", "v"),
      Seq(col("g")), targetFiles = 8)

  test("adds carry write-time stats; pruned read plans with ZERO " +
    "footer opens and still prunes files") {
    val t = Files.createTempDirectory("graft_ls1").toString + "/t"
    mk(t)
    val adds = TxnTable.commits(t).last.adds
    assert(adds.nonEmpty && adds.forall(_.stats.isDefined),
      "every add must carry stats")
    assert(adds.head.stats.get.contains("\"l\""))
    val (df, reads) = footers(TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("g", 2L, 3L))))
    assert(reads == 0, s"log-stats prune must open no footer, read $reads")
    assert(df.select("id").as[Long].collect().toSet ==
      (for (g <- 2L to 3L; i <- 1L to 50L) yield g * 1000 + i).toSet)
    assert(df.inputFiles.length < TxnTable.snapshotFiles(t).size,
      "the log stats must actually skip files")
    // the IN-set and N-dim box reads ride the same log index
    val (inDf, inReads) = footers(
      TxnTable.readPruned(spark, t, Seq(Bound.LongIn("g", Seq(1L, 6L)))))
    assert(inReads == 0 && inDf.count() == 100)
    val (boxDf, boxReads) = footers(TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("g", 2L, 3L), Bound.LongRange("id", 2000L, 2025L))))
    assert(boxReads == 0 && boxDf.count() == 25)
  }

  test("string bounds in the log: readPrunedString zero-footer; " +
    "oversized bounds degrade to conservative keep") {
    val t = Files.createTempDirectory("graft_ls2").toString + "/t"
    mk(t)
    val (df, reads) = footers(
      TxnTable.readPruned(spark, t,
        Seq(Bound.StringRange("name", "k2000", "k2999"))))
    assert(reads == 0, s"string log prune must open no footer, got $reads")
    // string-lexicographic: g=2's k2001..k2050 (50) plus g=0's
    // k21..k29 (9 — "k21" > "k2000" byte-wise)
    assert(df.count() == 59 &&
      df.inputFiles.length < TxnTable.snapshotFiles(t).size)
    // a column whose bounds exceed MaxLoggedStringBound is dropped from
    // the log stats (never truncated) → files kept, still zero footers
    val t2 = Files.createTempDirectory("graft_ls2b").toString + "/t"
    val longPad = "x" * 200
    TxnTable.create(spark, t2,
      Seq((1L, s"a$longPad"), (2L, s"b$longPad")).toDF("id", "s"))
    val st = TxnTable.commits(t2).last.adds.head.stats.get
    assert(st.contains("\"cols\":") && !st.contains(longPad.take(100)),
      "oversized string bounds must not be logged")
    val (df2, reads2) = footers(
      TxnTable.readPruned(spark, t2, Seq(Bound.StringRange("s", "a", "az"))))
    assert(reads2 == 0)
    assert(df2.select("id").as[Long].collect().toSet == Set(1L),
      "conservative keep + residual predicate must stay exact")
  }

  test("mixed generations: pre-stats adds footer-read, stats adds do " +
    "not; rewrite refreshes stats") {
    val t = Files.createTempDirectory("graft_ls3").toString + "/t"
    TxnTable.collectWriteStats = false
    try {
      TxnTable.createClustered(spark, t,
        (for (g <- 0L until 4L; i <- 1L to 10L)
          yield (g * 100 + i, g)).toDF("id", "g"),
        Seq(col("g")), targetFiles = 4)                             // v0
    } finally TxnTable.collectWriteStats = true
    assert(TxnTable.commits(t).last.adds.forall(_.stats.isEmpty))
    TxnTable.append(spark, t,
      Seq((900L, 9L), (901L, 9L)).toDF("id", "g"))                  // v1
    val statless =
      TxnTable.snapshotFiles(t).size - 1 // v1's single add has stats
    val (df, reads) = footers(TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("g", 9L, 9L))))
    assert(reads == statless.toLong,
      s"exactly the pre-stats files footer-read: $reads vs $statless")
    assert(df.select("id").as[Long].collect().toSet == Set(900L, 901L))
    // compacting rewrites everything through the stats-writing path →
    // the whole table becomes log-prunable
    TxnTable.compact(spark, t, targetFiles = 2)
    val (df2, reads2) = footers(TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("g", 9L, 9L))))
    assert(reads2 == 0, s"post-compact prune must be metadata-only")
    assert(df2.select("id").as[Long].collect().toSet == Set(900L, 901L))
  }

  test("stats survive the checkpoint (allAdds round-trip)") {
    val t = Files.createTempDirectory("graft_ls4").toString + "/t"
    mk(t)
    val n = 2 * TxnTable.CheckpointInterval - 1 // v1..v19, checkpoint v10
    (0 until n).foreach { i =>
      TxnTable.append(spark, t,
        Seq((9000L + i, 9L, s"x$i", 1L)).toDF("id", "g", "name", "v"))
    }
    assert(TxnTable.currentVersion(t) == n.toLong)
    // a version below the memoized head resolves from the checkpoint,
    // so its adds (and their stats) come back through the JSON
    val ((df, reads), window) =
      OpMetrics.scope(footers(TxnTable.readPruned(spark, t,
        Seq(Bound.LongRange("g", 9L, 9L)), asOf = n - 1L)))
    val vreads = window.count(TxnTable.VersionFileReads)
    assert(reads == 0,
      s"checkpointed adds must still carry stats, footer-read $reads")
    // one suffix replay; one replay per field (before the snapshot
    // fold) read 49 here
    assert(vreads <= TxnTable.CheckpointInterval + 2,
      s"prune must resolve near the checkpoint, read $vreads commits")
    assert(df.count() == n - 1L)
  }

  test("mixed string×long box: intersection prune, zero footers, " +
    "DV-aware") {
    val t = Files.createTempDirectory("graft_ls6").toString + "/t"
    mk(t)
    TxnTable.deleteWhereMor(spark, t, col("id") === 3005L)
    val (df, reads) = footers(TxnTable.readPruned(spark, t,
      Seq(Bound.StringRange("name", "k3000", "k3999"),
        Bound.LongRange("id", 3001L, 3010L))))
    assert(reads == 0)
    assert(df.select("id").as[Long].collect().toSet ==
      ((3001L to 3010L).toSet - 3005L),
      "residuals applied on the intersection scan, DV subtracted")
    assert(df.inputFiles.length < TxnTable.snapshotFiles(t).size)
  }

  test("schema evolution: pruning on a column old files never had " +
    "stays correct (conservative keep, old-file footer fallback)") {
    val t = Files.createTempDirectory("graft_ls8").toString + "/t"
    TxnTable.create(spark, t,
      (1L to 20L).map(i => (i, i % 4)).toDF("id", "g"), partitions = 2)
    TxnTable.append(spark, t,
      (21L to 40L).map(i => (i, i % 4, i * 10)).toDF("id", "g", "v"),
      evolveSchema = true)
    // pruning on the EVOLVED column: pre-evolution files carry no "v"
    // anywhere (not in their stats' attempted set, not in their
    // footers) — they must be conservatively kept, never skipped, and
    // their rows surface with v = NULL (excluded by the residual)
    val df = TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("v", 250L, 300L)))
    assert(df.select("id").as[Long].collect().toSet == (25L to 30L).toSet)
    // pruning on the ORIGINAL column stays zero-footer: every file's
    // stats attempted "id"
    val (df2, reads) = footers(TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("id", 5L, 8L))))
    assert(reads == 0, s"id-prune must stay metadata-only, read $reads")
    assert(df2.select("id").as[Long].collect().toSet == (5L to 8L).toSet)
  }

  test("string IN-set prune: zero footers, strict subset, empty set") {
    val t = Files.createTempDirectory("graft_ls7").toString + "/t"
    mk(t)
    val (df, reads) = footers(TxnTable.readPruned(spark, t,
      Seq(Bound.StringIn("name", Seq("k1001", "k5005", "k1001")))))
    assert(reads == 0)
    assert(df.select("id").as[Long].collect().toSet == Set(1001L, 5005L))
    assert(df.inputFiles.length < TxnTable.snapshotFiles(t).size)
    assert(TxnTable.readPruned(spark, t, Seq(Bound.StringIn("name", Nil)))
      .isEmpty)
  }

  test("global string bounds fold in UTF-8 byte order, as Spark compares") {
    val t = Files.createTempDirectory("graft_ls_utf8").toString + "/t"
    // U+E000 sorts after U+1F600's high surrogate in UTF-16 code units,
    // but before U+1F600 in UTF-8 bytes (EE 80 80 < F0 9F 98 80)
    val (bmp, astral) = ("\uE000", "\uD83D\uDE00")
    TxnTable.create(spark, t, Seq((1L, bmp)).toDF("id", "s"))
    TxnTable.append(spark, t, Seq((2L, astral)).toDF("id", "s"))
    val sparkMax = TxnTable.read(spark, t).agg(max("s")).as[String].head()
    val sparkMin = TxnTable.read(spark, t).agg(min("s")).as[String].head()
    assert(sparkMax == astral && sparkMin == bmp)
    val row = TxnTable.columnStats(spark, t).filter(col("column") === "s")
      .select("min_str", "max_str").as[(String, String)].head()
    assert(row == (sparkMin, sparkMax), s"log bounds $row")
  }

  test("DVs and log-stats pruning compose") {
    val t = Files.createTempDirectory("graft_ls5").toString + "/t"
    mk(t)
    TxnTable.deleteWhereMor(spark, t, col("id") === 2001L)
    val (df, reads) = footers(TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("g", 2L, 2L))))
    assert(reads == 0)
    assert(df.select("id").as[Long].collect().toSet ==
      (2L to 50L).map(2000L + _).toSet,
      "the pruned read must subtract the DV with zero footer opens")
  }

  test("countRange: metadata-only when bounds decide, null-exact, " +
    "boundary files scanned") {
    val t = Files.createTempDirectory("graft_cr").toString + "/t"
    mk(t) // 8 files clustered on g ∈ [0, 8), ids g*1000+1..50
    // fully-inside band [g=2, g=5]: all four files metadata-only
    val ((c1, s1, t1), r1) =
      footers(TxnTable.countRange(spark, t, "g", 2L, 5L))
    assert(c1 == 200L && s1 == 0 && t1 == 8 && r1 == 0,
      s"clean full-inside count must be metadata-only, got ($c1,$s1,$t1,$r1)")
    // band starting INSIDE g=2's id range (2001..2050) → that file is
    // a boundary scan; g=3's file stays metadata-only; still exact
    val ((c2, s2, _), r2) =
      footers(TxnTable.countRange(spark, t, "id", 2025L, 3500L))
    assert(c2 == 76L && r2 == 0) // 2025..2050 (26) + 3001..3050 (50)
    assert(s2 == 1, s"expected exactly the straddled file to scan, got $s2")
    // disjoint range: zero everything
    val ((c3, s3, _), _) =
      footers(TxnTable.countRange(spark, t, "g", 100L, 200L))
    assert(c3 == 0L && s3 == 0)
  }

  test("countRange subtracts logged null counts exactly") {
    val t = Files.createTempDirectory("graft_crn").toString + "/t"
    TxnTable.create(spark, t,
      Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"),
        (null, "c"), (null, "d"), (5L, "e")).toDF("v", "s"))
    // bounds [1,5] fully inside [0,10] — but 2 of 5 rows are NULL and
    // must not count; no scan needed because "n" is in the log
    val ((c, s, tt), r) =
      footers(TxnTable.countRange(spark, t, "v", 0L, 10L))
    assert(c == 3L && s == 0 && tt == 1 && r == 0,
      s"null-aware metadata count must be (3,0,1,0), got ($c,$s,$tt,$r)")
    // an ALL-null tranche contributes nothing, still without a scan
    TxnTable.append(spark, t,
      Seq[(java.lang.Long, String)]((null, "x"), (null, "y"))
        .toDF("v", "s"))
    val ((c2, s2, t2), _) =
      footers(TxnTable.countRange(spark, t, "v", 0L, 10L))
    assert(c2 == 3L && s2 == 0 && t2 == 2,
      s"all-null file must be metadata-skipped, got ($c2,$s2,$t2)")
  }

  test("countRange and minMaxOf re-scan ONLY DV-carrying files, exact") {
    val t = Files.createTempDirectory("graft_crdv").toString + "/t"
    mk(t)
    val (mn0, mx0, s0, _) = TxnTable.minMaxOf(spark, t, "id")
    assert(mn0.contains(1L) && mx0.contains(7050L) && s0 == 0,
      "clean min/max must be metadata-only")
    // MOR-delete the global max row: its file must rejoin the scan set
    // and the new max must come from the scan, not stale log bounds
    TxnTable.deleteWhereMor(spark, t, col("id") === 7050L)
    val (mn1, mx1, s1, t1) = TxnTable.minMaxOf(spark, t, "id")
    assert(mn1.contains(1L) && mx1.contains(7049L))
    assert(s1 == 1 && t1 == 8, s"only the DV'd file re-scans, got $s1/$t1")
    val (c, s2, _) = TxnTable.countRange(spark, t, "g", 7L, 7L)
    assert(c == 49L, "post-DV count must see the deletion")
    assert(s2 == 1, s"only the DV'd file re-scans for the count, got $s2")
  }

  test("countRange/minMaxOf answer at ONE snapshot under a concurrent " +
    "commit") {
    // A commit landing between the metadata half (resolved at upTo) and
    // the scan half must not shift the scan to the new head — both
    // halves answer at the snapshot resolved on entry (midReadHook
    // seam fires exactly in the race window).
    val t = Files.createTempDirectory("graft_crrace").toString + "/t"
    mk(t) // 8 g-clustered files; v = id * 3
    // v ∈ [6003, 6100] cuts file g=2 (bounds 6003..6150) mid-file → it
    // scans; the interleaved MOR delete kills 10 of its rows at HEAD
    var fired = false
    TxnTable.midReadHook = () => if (!fired) {
      fired = true
      TxnTable.deleteWhereMor(spark, t, col("id").between(2001L, 2010L))
    }
    val cnt =
      try TxnTable.countRange(spark, t, "v", 6003L, 6100L)._1
      finally TxnTable.midReadHook = () => ()
    assert(fired)
    assert(cnt == 33L,
      s"count must answer at the entry snapshot (33 rows), got $cnt")
    // re-run WITHOUT the hook: the head now sees the deletion
    assert(TxnTable.countRange(spark, t, "v", 6003L, 6100L)._1 == 23L)
    // minMaxOf: give file g=7 a DV so it scans, then interleave a
    // delete of the global max row — the max must come from the ENTRY
    // snapshot, where 7050 is still alive
    TxnTable.deleteWhereMor(spark, t, col("id") === 7001L)
    var fired2 = false
    TxnTable.midReadHook = () => if (!fired2) {
      fired2 = true
      TxnTable.deleteWhereMor(spark, t, col("id") === 7050L)
    }
    val mx =
      try TxnTable.minMaxOf(spark, t, "v")._2
      finally TxnTable.midReadHook = () => ()
    assert(fired2)
    assert(mx.contains(7050L * 3),
      s"max must answer at the entry snapshot, got $mx")
    assert(TxnTable.minMaxOf(spark, t, "v")._2.contains(7049L * 3))
  }

  test("computeHistogram: equi-height bins persisted as a tblprops " +
    "commit, pinned per version; refusals are loud") {
    val t = Files.createTempDirectory("graft_hist").toString + "/t"
    // heavy skew: 900 zeros + 100 spread over [1000, 100000]
    val rows = (1L to 900L).map(i => (i, 0L, s"s$i")) ++
      (1L to 100L).map(i => (900L + i, i * 1000L, s"t$i"))
    TxnTable.create(spark, t, rows.toDF("id", "k", "s"))
    val v = TxnTable.computeHistogram(spark, t, Seq("k"), bins = 10)
    assert(v == 1L &&
      TxnTable.commits(t).last.op.startsWith("tblprops:set:"))
    val json = TxnTable.properties(t)("graft.hist.k")
    // height = nonNullRows / bins; bins cover [min, max]; the skew is
    // visible: most endpoints sit at 0, the tail rides the last bins
    assert(json.contains("\"h\":100.0"), s"height off: $json")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val bins = (JsonMethods.parse(json) \ "bins")
      .extract[Seq[Seq[Double]]]
    assert(bins.length == 10)
    assert(bins.head.head == 0.0 && bins.last(1) == 100000.0,
      s"bins must cover [min, max]: $bins")
    assert(bins.count(b => b.head == 0.0 && b(1) == 0.0) >= 7,
      s"the 90% zero mass must occupy most bins: $bins")
    // the property is version-pinned: v0 has none, the head does
    assert(!TxnTable.propertiesAt(t, 0L).contains("graft.hist.k"))
    assert(TxnTable.propertiesAt(t, v).contains("graft.hist.k"))
    // statement surface + BINS clause
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.sql.GraftSql.register(n, t)
    try {
      val v2 = graft.sql.GraftSql.execute(spark,
        s"ANALYZE TABLE $n COMPUTE HISTOGRAM (id, k) BINS 4")
      assert(v2 == 2L)
      val j2 = TxnTable.properties(t)("graft.hist.id")
      assert((JsonMethods.parse(j2) \ "bins")
        .extract[Seq[Seq[Double]]].length == 4)
      // a STRING column analyzes too since S70 — exact ndv + MCV
      // riding the same commit shape (no equi-height bins for it)
      graft.sql.GraftSql.execute(spark,
        s"ANALYZE TABLE $n COMPUTE HISTOGRAM (s)")
      assert(TxnTable.properties(t).contains("graft.mcv.s"))
      assert(!TxnTable.properties(t).contains("graft.hist.s"))
      // refusal: unknown column
      intercept[IllegalArgumentException] {
        graft.sql.GraftSql.execute(spark,
          s"ANALYZE TABLE $n COMPUTE HISTOGRAM (nope)")
      }
      // SHOW HISTOGRAM: the stored bins as rows, zero scans; an
      // un-analyzed column refuses with the ANALYZE hint
      val shown = graft.sql.GraftSql.query(spark,
        s"SHOW HISTOGRAM $n (id)").collect()
      assert(shown.length == 4 &&
        shown.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
      assert(shown.head.getDouble(1) == 1.0 &&
        shown.last.getDouble(2) == 1000.0,
        s"bins must cover [min,max]: ${shown.mkString(";")}")
      val e = intercept[IllegalArgumentException] {
        graft.sql.GraftSql.query(spark, s"SHOW HISTOGRAM $n (s)")
      }
      assert(e.getMessage.contains("ANALYZE TABLE"))
    } finally graft.sql.GraftSql.unregister(n)
  }
}
