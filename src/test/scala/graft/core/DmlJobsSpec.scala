package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** What one DML statement costs in Spark jobs and input records, and
  * what it leaves on disk. Each writer runs one probe pass, collects the
  * names of the files it hits once, and rewrites (copy-on-write) only
  * those files; a write that turns out empty is dropped after the fact
  * instead of being guarded by an `isEmpty` job. Deletion vectors are a
  * filter on the scan, so a DV'd read keeps predicate pushdown and
  * loads its DVs with no job. Pins:
  *  - an upper bound on the jobs of each CoW and MOR DELETE, UPDATE and
  *    MERGE; exactly one job for a MOR point read and none for the
  *    `maybeCompact` decision;
  *  - a CoW DELETE or UPDATE hitting 1 of N files reads the hit file
  *    twice (probe and rewrite) and nothing else; a MOR point read reads
  *    one file;
  *  - edge cases (every row of the hit files deleted, insert-only and
  *    delete-only MERGE, a statement that fires nothing) commit no
  *    zero-row add and leave no file that no commit references. */
class DmlJobsSpec extends SparkSpecBase {
  import spark.implicits._

  private val Files4 = 4
  private val RowsPerFile = 250

  private case class Cost(jobs: Long, recordsRead: Long)

  /** Runs `body` under a SparkListener that lives only for this call;
    * returns the jobs it started and the input records its tasks read.
    * Marker jobs open and close the window: the listener bus delivers
    * events in order, so once the closing marker's start arrives every
    * event of the body has arrived too. */
  private def measured[T](body: => T): (T, Cost) = {
    val tag = s"dml-jobs-${System.nanoTime()}"
    val (openTag, closeTag) = (s"$tag-open", s"$tag-close")
    val jobs = new AtomicLong
    val records = new AtomicLong
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`openTag`) => opened.countDown()
          case Some(`closeTag`) => closed.countDown()
          case _ => if (opened.getCount == 0) jobs.incrementAndGet()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (opened.getCount == 0 && closed.getCount == 1)
          Option(e.taskMetrics).foreach(m =>
            records.addAndGet(m.inputMetrics.recordsRead))
    }
    val sc = spark.sparkContext
    def marker(t: String, latch: CountDownLatch): Unit = {
      sc.setJobGroup(t, "DmlJobsSpec measuring window")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(latch.await(60, TimeUnit.SECONDS), s"marker $t never arrived")
    }
    sc.addSparkListener(listener)
    try {
      marker(openTag, opened)
      val out = body
      marker(closeTag, closed)
      (out, Cost(jobs.get, records.get))
    } finally sc.removeSparkListener(listener)
  }

  /** `Files4` files of `RowsPerFile` rows with disjoint, contiguous id
    * ranges: file f holds ids [f * RowsPerFile, (f + 1) * RowsPerFile). */
  private def mk(prefix: String): String = {
    val t = Files.createTempDirectory(prefix).toString + "/t"
    (0 until Files4).foreach { f =>
      val df = (f * RowsPerFile until (f + 1) * RowsPerFile)
        .map(i => (i.toLong, (i % 7).toLong, s"r$i")).toDF("id", "g", "s")
      if (f == 0) TxnTable.create(spark, t, df)
      else TxnTable.append(spark, t, df)
    }
    t
  }

  private val TableRows = Files4 * RowsPerFile

  private def count(t: String): Long = TxnTable.read(spark, t).count()

  private def source(rows: Seq[(Long, Long, String)]) =
    rows.toDF("id", "g", "s")

  private val upsert = Seq(
    MatchedUpdate(Map("g" -> TxnTable.srcCol("g"),
      "s" -> TxnTable.srcCol("s"))))
  private val insertAll = Seq(NotMatchedInsert(Map(
    "id" -> TxnTable.srcCol("id"), "g" -> TxnTable.srcCol("g"),
    "s" -> TxnTable.srcCol("s"))))

  /** Bare names of the files physically under `dir` (data/ or dv/). */
  private def onDisk(t: String, dir: String): Set[String] = {
    val d = Paths.get(t, dir)
    if (!Files.exists(d)) Set.empty
    else {
      val s = Files.list(d)
      try {
        val it = s.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result()
      } finally s.close()
    }
  }

  /** Every data and DV file some commit references; no commit may add a
    * zero-row file. */
  private def assertClean(t: String): Unit = {
    val cs = TxnTable.commits(t)
    val empty = cs.flatMap(_.adds).filter(_.rows == 0)
    assert(empty.isEmpty, s"zero-row adds committed: $empty")
    val data = cs.flatMap(_.adds).map(_.path.stripPrefix("data/")).toSet
    val dvs = cs.flatMap(_.dvs).map(_._2.stripPrefix("dv/")).toSet
    assert(onDisk(t, "data") == data,
      s"orphan data files: ${onDisk(t, "data") -- data}")
    assert(onDisk(t, "dv") == dvs, s"orphan DV files: ${onDisk(t, "dv") -- dvs}")
  }

  private def report(kind: String, c: Cost): Unit =
    info(s"$kind: ${c.jobs} jobs, ${c.recordsRead} records read")

  test("CoW DELETE, UPDATE and MERGE stay within their job budgets") {
    val t = mk("graft_jobs_cow")
    val (_, del) = measured(TxnTable.deleteWhere(spark, t,
      col("id").between(10L, 19L)))
    report("CoW DELETE (1 of 4 files hit)", del)
    assert(count(t) == TableRows - 10)
    val (_, upd) = measured(TxnTable.updateWhere(spark, t,
      col("id").between(300L, 319L), Map("s" -> lit("u"))))
    report("CoW UPDATE", upd)
    assert(TxnTable.read(spark, t).filter(col("s") === "u").count() == 20)
    val (_, mrg) = measured(TxnTable.mergeInto(spark, t,
      source(Seq((600L, 1L, "m"), (601L, 1L, "m"), (5000L, 1L, "m"),
        (5001L, 1L, "m"))), Seq("id"), upsert, insertAll))
    report("CoW MERGE", mrg)
    assert(TxnTable.read(spark, t).filter(col("s") === "m").count() == 4)
    // survivors and inserts keep separate files, so the inserted keys
    // never widen the rewritten file's key range
    assert(TxnTable.commits(t).last.adds.size == 2)
    // measured 3, 3 and 12 (9, 7 and 23 with pre-checks and re-scans)
    assert(del.jobs <= 4 && upd.jobs <= 4 && mrg.jobs <= 13,
      s"jobs: delete ${del.jobs}, update ${upd.jobs}, merge ${mrg.jobs}")
    // the probe's predicate pushes into the scan, so the probe reads the
    // hit file only, and the rewrite reads it again: measured 500 and 500
    // (1,250 and 1,240 when a nondeterministic file tag kept the probe
    // from pushing down)
    assert(del.recordsRead <= 2 * RowsPerFile &&
      upd.recordsRead <= 2 * RowsPerFile,
      s"records read: delete ${del.recordsRead}, update ${upd.recordsRead}")
    assertClean(t)
  }

  test("MOR DELETE, UPDATE, MERGE and a point read stay within their job budgets") {
    val t = mk("graft_jobs_mor")
    val (_, del) = measured(TxnTable.deleteWhereMor(spark, t,
      col("id").between(10L, 19L)))
    report("MOR DELETE", del)
    val (_, upd) = measured(TxnTable.updateWhereMor(spark, t,
      col("id").between(300L, 319L), Map("s" -> lit("u"))))
    report("MOR UPDATE", upd)
    val (_, mrg) = measured(TxnTable.mergeIntoMor(spark, t,
      source(Seq((600L, 1L, "m"), (601L, 1L, "m"), (5000L, 1L, "m"),
        (5001L, 1L, "m"))), Seq("id"), upsert, insertAll))
    report("MOR MERGE", mrg)
    val merged = TxnTable.commits(t).last.adds.map(_.rows).sum
    val (hit, read) = measured(TxnTable.read(spark, t)
      .filter(col("id") === 601L).select("s").as[String].collect().toSeq)
    report("MOR point read", read)
    assert(hit == Seq("m"))
    assert(count(t) == TableRows - 10 + 2)
    // measured 3, 5, 10 and 1. With the DVs applied as a broadcast
    // left-anti join over a DV-file scan they were 3, 6, 11 and 2 (5, 9,
    // 18 and 3 before that: pre-checks, a second hit-name collect, and a
    // schema-inference job per DV read)
    assert(del.jobs <= 4 && upd.jobs <= 5 && mrg.jobs <= 10 &&
      read.jobs == 1,
      s"jobs: delete ${del.jobs}, update ${upd.jobs}, merge ${mrg.jobs}, " +
        s"point read ${read.jobs}")
    // the key pushes into the scan: the read opens the file holding id
    // 601 and the MERGE's appended file only. Measured 254; 1,056 (every
    // live row) when a nondeterministic file tag blocked the pushdown
    assert(read.recordsRead <= RowsPerFile + merged,
      s"point read read ${read.recordsRead} records, table $TableRows")
    assertClean(t)
  }

  // Planning and scoped-maintenance budgets on a log-stats table (every
  // add carries stats). Measured on these exact calls before the single
  // log-stats selector: the range read ran 4 jobs to choose its files
  // (persist, count, collect and unpersist over stats already on the
  // driver), the IN, string and mixed string x long reads 0;
  // binPackWhere ran 6 jobs in all, compactClusteredWhere 9 and
  // selectFiles over a local index 4 — 4 of each being that selection.
  test("pruned reads plan with zero jobs for every bound shape") {
    import TxnTable.Bound
    val t = mk("graft_jobs_pruned")
    val shapes = Seq(
      "long range" -> Seq(Bound.LongRange("id", 10L, 19L)),
      "long IN" -> Seq(Bound.LongIn("id", Seq(5L, 600L))),
      "string range" -> Seq(Bound.StringRange("s", "r10", "r19")),
      "string IN" -> Seq(Bound.StringIn("s", Seq("r5", "r600"))),
      "string x long" -> Seq(Bound.StringRange("s", "r1", "r3"),
        Bound.LongRange("id", 100L, 399L)))
    shapes.foreach { case (kind, bounds) =>
      val (df, plan) = measured(TxnTable.readPruned(spark, t, bounds))
      report(s"readPruned planning ($kind)", plan)
      assert(plan.jobs == 0, s"$kind planned with ${plan.jobs} jobs")
      assert(df.inputFiles.length < Files4, s"$kind pruned no file")
    }
  }

  test("scoped compactions and selectFiles stay within their job budgets") {
    val t = mk("graft_jobs_bpw")
    val (_, bpw) = measured(TxnTable.binPackWhere(spark, t, "id", 0L, 499L))
    report("binPackWhere (2 of 4 files)", bpw)
    assert(TxnTable.commits(t).last.removes.size == 2)
    val z = mk("graft_jobs_zw")
    val (_, zw) = measured(TxnTable.compactClusteredWhere(spark, z,
      Seq(col("g"), col("id")), "id", 0L, 499L))
    report("compactClusteredWhere (2 of 4 files)", zw)
    assert(TxnTable.commits(z).last.removes.size == 2)
    assert(count(t) == TableRows && count(z) == TableRows)
    // a driver-loop index (≤ DistributeThreshold files) is a local
    // frame: one collect of (file, keep), counted on the driver
    val live = TxnTable.snapshotFiles(t).map(f => Paths.get(t, f).toString)
    val idx = graft.crawler.SkippingIndex.buildForFiles(spark, live, Seq("id"))
    val (kept, sel) = measured(
      graft.crawler.SkippingIndex.selectFiles(idx, 0, 0L, 10L))
    report("selectFiles over a local index", sel)
    assert(kept.size == 1)
    // measured 2, 5 and 0 (6, 9 and 4 before)
    assert(bpw.jobs <= 2 && zw.jobs <= 5 && sel.jobs == 0,
      s"jobs: binPackWhere ${bpw.jobs}, compactClusteredWhere ${zw.jobs}, " +
        s"selectFiles ${sel.jobs}")
  }

  test("a read of more than 32 files runs only its count's jobs") {
    val t = Files.createTempDirectory("graft_jobs_listing").toString + "/t"
    TxnTable.create(spark, t, spark.range(0, 4000).toDF("id"), partitions = 40)
    assert(TxnTable.snapshotFiles(t).size == 40)
    val built = TxnTable.read(spark, t)
    val (_, bare) = measured(built.count())
    val (n, read) = measured(TxnTable.read(spark, t).count())
    report("count of a read built before the window (40 files)", bare)
    report("read, then count (40 files)", read)
    assert(n == 4000L)
    // past spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    // paths, a scan over Spark's own file index listed the files the
    // log names in one more job: measured 3 against 2 before the
    // log-backed index, 2 and 2 with it
    assert(read.jobs == bare.jobs,
      s"read + count ran ${read.jobs} jobs, the count alone ${bare.jobs}")
  }

  test("the maybeCompact decision on a DV'd table runs no job") {
    val t = mk("graft_jobs_maybe")
    TxnTable.deleteWhereMor(spark, t, col("id") < 30L)
    TxnTable.deleteWhereMor(spark, t, col("id").between(500L, 509L))
    // 40 of 1,000 rows dead: healthy under the default 20% bar
    val (v, decide) = measured(TxnTable.maybeCompact(spark, t))
    report("maybeCompact decision (4% dead)", decide)
    assert(v.isEmpty)
    // measured 0; 3 (a count over a DV-file scan semi-joined to the
    // live mapping) when the dead rows were counted by Spark
    assert(decide.jobs == 0, s"maybeCompact decided with ${decide.jobs} jobs")
    assert(TxnTable.maybeCompact(spark, t, maxDeadFrac = 0.03).nonEmpty)
    assert(count(t) == TableRows - 40)
  }

  test("a DELETE that empties its hit files commits no add and no orphan") {
    val t = mk("graft_jobs_del_all")
    val v = TxnTable.deleteWhere(spark, t, col("id") < RowsPerFile.toLong)
    val c = TxnTable.commits(t).last
    assert(v == Files4.toLong && c.op == "delete")
    assert(c.adds.isEmpty && c.removes.size == 1, c)
    assert(count(t) == TableRows - RowsPerFile)
    assertClean(t)
  }

  for (mor <- Seq(false, true)) {
    val kind = if (mor) "MOR" else "CoW"
    def mergeInto(t: String, src: Seq[(Long, Long, String)],
        matched: Seq[MergeMatched], notMatched: Seq[NotMatchedInsert]) =
      if (mor) TxnTable.mergeIntoMor(spark, t, source(src), Seq("id"),
        matched, notMatched)
      else TxnTable.mergeInto(spark, t, source(src), Seq("id"), matched,
        notMatched)

    test(s"$kind insert-only and delete-only MERGE leave no zero-row add") {
      val t = mk(s"graft_jobs_merge_$kind")
      // insert-only: no key matches, so no file is hit
      mergeInto(t, Seq((9000L, 1L, "n"), (9001L, 1L, "n")), upsert, insertAll)
      val ins = TxnTable.commits(t).last
      assert(ins.adds.map(_.rows).sum == 2 && ins.removes.isEmpty &&
        ins.dvs.isEmpty, ins)
      // delete-only, covering every row of file 0
      mergeInto(t, (0 until RowsPerFile).map(i => (i.toLong, 0L, "d")),
        Seq(MatchedDelete()), Nil)
      val del = TxnTable.commits(t).last
      assert(del.adds.isEmpty, del)
      assert(count(t) == TableRows - RowsPerFile + 2)
      assertClean(t)
    }

    test(s"$kind MERGE and UPDATE that fire nothing return the base version") {
      val t = mk(s"graft_jobs_noop_$kind")
      val base = TxnTable.currentVersion(t)
      // matches, but the only clause's condition is false everywhere
      assert(mergeInto(t, Seq((5L, 1L, "x"), (9999L, 1L, "x")),
        Seq(MatchedUpdate(Map("s" -> lit("x")), Some(lit(false)))),
        Seq(NotMatchedInsert(Map("id" -> TxnTable.srcCol("id")),
          Some(lit(false))))) == base)
      val upd =
        if (mor) TxnTable.updateWhereMor(spark, t, col("id") < 0L,
          Map("s" -> lit("x")))
        else TxnTable.updateWhere(spark, t, col("id") < 0L,
          Map("s" -> lit("x")))
      assert(upd == base && TxnTable.currentVersion(t) == base)
      assertClean(t)
    }
  }
}
