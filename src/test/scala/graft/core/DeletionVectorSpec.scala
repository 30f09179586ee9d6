package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.TxnTable.Bound

/** Merge-on-read deletes (deletion vectors): position-level delete
  * marks instead of file rewrites — the O(deleted rows) delete path.
  * Pins: zero data files touched, cumulative DVs, every read path
  * applying them, rewrites/compaction materializing them, CDF/restore/
  * clone/vacuum integration, and the conflict rules. */
class DeletionVectorSpec extends SparkSpecBase {
  import spark.implicits._

  private def mk(t: String, nFiles: Int = 4): Unit =
    TxnTable.createClustered(spark, t,
      (for (g <- 0L until 4L; i <- 1L to 8L)
        yield (g * 10 + i, g, (g * 10 + i) * 100)).toDF("id", "g", "v"),
      Seq(col("g")), targetFiles = nFiles)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("MOR delete: rows gone, data files untouched, time travel intact") {
    val t = Files.createTempDirectory("graft_dv1").toString + "/t"
    mk(t)
    val filesBefore = TxnTable.snapshotFiles(t).toSet
    val v = TxnTable.deleteWhereMor(spark, t, col("g") === 1L)
    assert(v == 1L)
    assert(TxnTable.snapshotFiles(t).toSet == filesBefore,
      "a MOR delete must not add or remove a single data file")
    assert(TxnTable.commits(t).last.op == "dvdelete")
    assert(TxnTable.snapshotDvs(t).nonEmpty)
    assert(!ids(TxnTable.read(spark, t)).exists(id => id >= 11L && id <= 18L))
    assert(ids(TxnTable.read(spark, t)).size == 24)
    // time travel to v0 still sees everything
    assert(ids(TxnTable.read(spark, t, 0L)).size == 32)
    // no-match predicate: no commit
    assert(TxnTable.deleteWhereMor(spark, t, col("g") === 99L) == 1L)
  }

  test("cumulative DVs: a second MOR delete unions, never resurrects") {
    val t = Files.createTempDirectory("graft_dv2").toString + "/t"
    mk(t)
    TxnTable.deleteWhereMor(spark, t, col("id") === 11L)
    TxnTable.deleteWhereMor(spark, t, col("id") === 12L)
    val got = ids(TxnTable.read(spark, t))
    assert(!got.contains(11L) && !got.contains(12L) && got.size == 30)
    // exactly one DV file current per data file
    assert(TxnTable.snapshotDvs(t).size == 1)
    // deleting an already-MOR-deleted row is a no-op (it is not live)
    val v = TxnTable.currentVersion(t)
    TxnTable.deleteWhereMor(spark, t, col("id") === 11L)
    assert(TxnTable.currentVersion(t) == v)
  }

  test("pruned reads and keyed rewrites apply DVs") {
    val t = Files.createTempDirectory("graft_dv3").toString + "/t"
    mk(t)
    TxnTable.deleteWhereMor(spark, t, col("id") === 21L)
    // footer-pruned range read must not see the deleted row
    val pruned = ids(TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("g", 2L, 2L))))
    assert(pruned == Set(22L, 23L, 24L, 25L, 26L, 27L, 28L))
    // a keyed merge rewriting the DV'd file keeps the row dead and
    // clears the mapping (copy-on-write materializes the DV)
    TxnTable.merge(spark, t, Seq((22L, 2L, 9999L)).toDF("id", "g", "v"),
      Seq("id"), clusterBy = Seq(col("g")))
    assert(TxnTable.snapshotDvs(t).isEmpty,
      "rewriting the DV'd file must clear its deletion vector")
    val got = TxnTable.read(spark, t).as[(Long, Long, Long)].collect().toSet
    assert(!got.exists(_._1 == 21L) && got.contains((22L, 2L, 9999L)))
  }

  test("compact materializes DVs; updateWhere does not resurrect") {
    val t = Files.createTempDirectory("graft_dv4").toString + "/t"
    mk(t)
    TxnTable.deleteWhereMor(spark, t, col("g") === 0L)
    TxnTable.updateWhere(spark, t, col("g") === 3L,
      Map("v" -> (col("v") * 2)))
    val expect = (for (g <- 1L until 4L; i <- 1L to 8L)
      yield (g * 10 + i, g,
        (g * 10 + i) * 100 * (if (g == 3L) 2 else 1))).toSet
    assert(TxnTable.read(spark, t).as[(Long, Long, Long)].collect().toSet
      == expect)
    TxnTable.compact(spark, t, targetFiles = 2)
    assert(TxnTable.snapshotDvs(t).isEmpty,
      "compaction must materialize and clear every DV")
    assert(TxnTable.read(spark, t).as[(Long, Long, Long)].collect().toSet
      == expect)
  }

  test("CDF across a dvdelete emits the deleted rows; restore rolls back") {
    val t = Files.createTempDirectory("graft_dv5").toString + "/t"
    mk(t)
    TxnTable.deleteWhereMor(spark, t, col("id").isin(11L, 23L)) // v1
    val d = TxnTable.diffVersionsImages(spark, t, 0L, 1L, Seq("id"))
      .select(col("op"), col("id")).as[(String, Long)].collect().toSet
    assert(d == Set(("delete", 11L), ("delete", 23L)),
      s"dvdelete must surface as CDF deletes, got $d")
    // restore to v0 revives the rows (DV map rolled back too)
    TxnTable.restore(spark, t, 0L) // v2
    assert(TxnTable.snapshotDvs(t).isEmpty)
    assert(ids(TxnTable.read(spark, t)).size == 32)
    // and restore BACK to the DV'd version re-applies the DV
    TxnTable.restore(spark, t, 1L) // v3
    assert(TxnTable.snapshotDvs(t).nonEmpty)
    assert(ids(TxnTable.read(spark, t)).size == 30)
  }

  test("shallow clone carries the source's DVs") {
    val root = Files.createTempDirectory("graft_dv6").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    mk(src)
    TxnTable.deleteWhereMor(spark, src, col("g") === 2L)
    TxnTable.cloneShallow(spark, src, dst)
    assert(ids(TxnTable.read(spark, dst)) ==
      ids(TxnTable.read(spark, src)))
    assert(!ids(TxnTable.read(spark, dst)).exists(id => id / 10L == 2L))
    TxnTable.releaseClone(src, dst)
  }

  test("vacuum sweeps superseded DV files under grace, keeps current") {
    val t = Files.createTempDirectory("graft_dv7").toString + "/t"
    mk(t)
    TxnTable.deleteWhereMor(spark, t, col("id") === 11L) // dv A
    TxnTable.deleteWhereMor(spark, t, col("id") === 12L) // dv B ⊇ A
    val dvDirP = java.nio.file.Paths.get(t, "dv")
    def dvFiles() = {
      val it = Files.list(dvDirP)
      try it.iterator().asScala.toSeq.map(_.getFileName.toString)
      finally it.close()
    }
    assert(dvFiles().size == 2)
    // retain only the latest version; superseded dv A is reapable,
    // current dv B must survive (grace 0: everything old enough)
    TxnTable.vacuum(spark, t, retainVersions = 1, orphanGraceMs = 0L)
    val left = dvFiles()
    assert(left.size == 1 &&
      TxnTable.snapshotDvs(t).values.toSet ==
        left.map(n => s"dv/$n").toSet,
      s"exactly the current DV must survive, got $left")
    assert(ids(TxnTable.read(spark, t)).size == 30)
  }

  private implicit class JIter[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  test("conflicts: append rebases past a DV commit; rewrite of the " +
    "DV'd file aborts it") {
    val t = Files.createTempDirectory("graft_dv8").toString + "/t"
    mk(t)
    // interleave an append into the dvdelete's race window: commutes
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnTable.append(spark, t, Seq((99L, 9L, 1L)).toDF("id", "g", "v"))
    }
    try TxnTable.deleteWhereMor(spark, t, col("id") === 11L)
    finally TxnTable.preCommitHook = () => ()
    assert(TxnTable.currentVersion(t) == 2L)
    val got = ids(TxnTable.read(spark, t))
    assert(got.contains(99L) && !got.contains(11L),
      "append and MOR delete must both land")
    // interleave a deleteWhere that REWRITES the DV'd file: the DV
    // commit must abort (its union-with-old DV is stale)
    fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnTable.deleteWhere(spark, t, col("id") === 13L) // rewrites g=1 file
    }
    try {
      intercept[TxnTable.TxnConflictException] {
        TxnTable.deleteWhereMor(spark, t, col("id") === 12L)
      }
    } finally TxnTable.preCommitHook = () => ()
    // the aborted dvdelete left content correct and cleaned its DV file
    val after = ids(TxnTable.read(spark, t))
    assert(!after.contains(13L) && after.contains(12L))
  }

  test("MOR update: DV + appended images in one commit, no data file " +
    "rewritten, stacks with MOR delete, compact materializes") {
    val t = Files.createTempDirectory("graft_dvu").toString + "/t"
    mk(t)
    val filesBefore = TxnTable.snapshotFiles(t).toSet
    val v = TxnTable.updateWhereMor(spark, t, col("g") === 1L,
      Map("v" -> (col("v") * 2)))
    assert(v == 1L)
    val c = TxnTable.commits(t).last
    assert(c.op == "dvupdate" && c.adds.nonEmpty && c.dvs.nonEmpty &&
      c.removes.isEmpty, "adds + DVs must ride ONE commit")
    assert(filesBefore.subsetOf(TxnTable.snapshotFiles(t).toSet),
      "a MOR update must not rewrite a single pre-existing data file")
    def content() =
      TxnTable.read(spark, t).as[(Long, Long, Long)].collect().toSet
    val expect1 = (for (g <- 0L until 4L; i <- 1L to 8L)
      yield (g * 10 + i, g,
        (g * 10 + i) * 100 * (if (g == 1L) 2 else 1))).toSet
    assert(content() == expect1)
    // the updated images' types did not drift
    assert(TxnTable.read(spark, t).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // time travel to v0 sees the original values
    assert(TxnTable.read(spark, t, 0L).as[(Long, Long, Long)]
      .collect().toSet.forall(_._3 % 100 == 0))
    // a MOR delete stacks on the update (row 12 is an UPDATED row that
    // now lives in the appended file — its DV must land there)
    TxnTable.deleteWhereMor(spark, t, col("id") === 12L)
    assert(content() == expect1.filterNot(_._1 == 12L))
    // updating an already-MOR-deleted row is a no-op
    val vv = TxnTable.currentVersion(t)
    assert(TxnTable.updateWhereMor(spark, t, col("id") === 12L,
      Map("v" -> lit(0L))) == vv)
    // CDF across the dvupdate shows before/after images as an update
    val d = TxnTable.diffVersionsImages(spark, t, 0L, 1L, Seq("id"))
    assert(d.filter(col("op") === "update").count() == 8L &&
      d.filter(col("op") =!= "update").isEmpty,
      "a MOR update must surface as CDF update images")
    // compact materializes everything back to a plain table
    TxnTable.compact(spark, t, targetFiles = 2)
    assert(TxnTable.snapshotDvs(t).isEmpty)
    assert(content() == expect1.filterNot(_._1 == 12L))
    // unknown SET column rejected
    intercept[IllegalArgumentException] {
      TxnTable.updateWhereMor(spark, t, lit(true), Map("nope" -> lit(1)))
    }
  }

  test("MOR merge: keyed upsert + delete at DV cost, one commit, " +
    "zero pre-existing files rewritten") {
    val t = Files.createTempDirectory("graft_dvm").toString + "/t"
    mk(t)
    val filesBefore = TxnTable.snapshotFiles(t).toSet
    // replace key 11, insert key 99 — one dvmerge commit
    val v = TxnTable.mergeMor(spark, t,
      Seq((11L, 1L, 7777L), (99L, 9L, 9900L)).toDF("id", "g", "v"),
      Seq("id"))
    assert(v == 1L)
    val c = TxnTable.commits(t).last
    assert(c.op == "dvmerge" && c.adds.nonEmpty && c.dvs.nonEmpty &&
      c.removes.isEmpty)
    assert(filesBefore.subsetOf(TxnTable.snapshotFiles(t).toSet))
    val got = TxnTable.read(spark, t).as[(Long, Long, Long)].collect().toSet
    assert(got.contains((11L, 1L, 7777L)) && got.contains((99L, 9L, 9900L))
      && got.size == 33)
    assert(ids(TxnTable.read(spark, t, 0L)).size == 32, "v0 intact")
    // a keyed DELETE batch (keys with no upsert rows) via the same
    // primitive: key marked dead, nothing appended
    TxnTable.applyChangesMor(spark, t, Seq(99L).toDF("id"),
      Seq.empty[(Long, Long, Long)].toDF("id", "g", "v"), Seq("id"))
    assert(TxnTable.commits(t).last.adds.isEmpty)
    assert(!ids(TxnTable.read(spark, t)).contains(99L))
    // no-change batch: version unchanged
    val vv = TxnTable.currentVersion(t)
    assert(TxnTable.applyChangesMor(spark, t, Seq(12345L).toDF("id"),
      Seq.empty[(Long, Long, Long)].toDF("id", "g", "v"), Seq("id")) == vv)
  }

  test("streaming CDC replica in MOR mode: follows the source with " +
    "zero replica file rewrites") {
    import graft.streaming.StreamReplica
    val root = Files.createTempDirectory("graft_dvrep").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    mk(src)
    StreamReplica.replicate(spark, src, dst, Seq("id"), s"$root/ck",
      mor = true)
    val replicaFiles = TxnTable.snapshotFiles(dst).toSet
    // source: update + delete + insert across two commits
    TxnTable.updateWhere(spark, src, col("id") === 11L,
      Map("v" -> lit(42L)))
    TxnTable.deleteWhereMor(spark, src, col("id") === 22L)
    TxnTable.append(spark, src, Seq((99L, 9L, 1L)).toDF("id", "g", "v"))
    StreamReplica.replicate(spark, src, dst, Seq("id"), s"$root/ck",
      mor = true)
    assert(TxnTable.read(spark, dst).as[(Long, Long, Long)].collect().toSet
      == TxnTable.read(spark, src).as[(Long, Long, Long)].collect().toSet)
    assert(replicaFiles.subsetOf(TxnTable.snapshotFiles(dst).toSet),
      "the MOR replica must never rewrite a pre-existing file")
    assert(TxnTable.commits(dst).last.op.startsWith("stream:replica:"),
      "apply+marker must stay one commit in MOR mode")
    // redelivery no-op
    val vStable = TxnTable.currentVersion(dst)
    StreamReplica.replicate(spark, src, dst, Seq("id"), s"$root/ck",
      mor = true)
    assert(TxnTable.currentVersion(dst) == vStable)
  }

  test("MOR deletes flow through the streaming CDC replica and the " +
    "streaming IVM view") {
    import graft.streaming.{StreamIvm, StreamReplica}
    import graft.operators.IncrementalView
    val root = Files.createTempDirectory("graft_dv10").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    val view = s"$root/view"
    mk(src)
    // bootstrap replica + maintained min/max view at v0
    StreamReplica.replicate(spark, src, dst, Seq("id"), s"$root/ck1",
      clusterBy = Seq("g"))
    StreamIvm.maintainMinMaxView(spark, src, view, Seq("id"), "g", "v",
      s"$root/ck2")
    // one whole group MOR-deleted + one scattered row — both change
    // only DELETION VECTORS, zero data files; the CDF they ride on
    // must still surface them as delete images downstream
    TxnTable.deleteWhereMor(spark, src,
      col("g") === 1L || col("id") === 33L)
    StreamReplica.replicate(spark, src, dst, Seq("id"), s"$root/ck1",
      clusterBy = Seq("g"))
    StreamIvm.maintainMinMaxView(spark, src, view, Seq("id"), "g", "v",
      s"$root/ck2")
    assert(ids(TxnTable.read(spark, dst)) == ids(TxnTable.read(spark, src)),
      "replica must drop the MOR-deleted rows")
    assert(!ids(TxnTable.read(spark, dst)).contains(33L))
    val maintained = TxnTable.read(spark, view)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val direct = IncrementalView.materializeMinMax(
      TxnTable.read(spark, src), "g", "v")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(maintained == direct,
      s"maintained view must equal a direct recompute: " +
        s"$maintained vs $direct")
    assert(!maintained.exists(_._1 == 1L),
      "a fully MOR-deleted group must leave the view")
  }

  test("maybeCompact: dead-fraction and file-count triggers, exact " +
    "dead count under cumulative DVs, healthy table untouched") {
    val t = Files.createTempDirectory("graft_dvmc").toString + "/t"
    mk(t) // 32 rows, 4 files
    // healthy: no DVs, few files → no-op
    assert(TxnTable.maybeCompact(spark, t).isEmpty)
    // 4/32 = 12.5% dead: below a 20% bar, above a 10% bar.
    // Two stacked deletes make the current DV for g=0's file carry
    // SUPERSEDED positions for nothing — but delete 11 then 12 makes
    // the second DV cumulative; the mapping join must still count
    // exactly 4 dead positions, not double-count carried ones.
    TxnTable.deleteWhereMor(spark, t, col("id").isin(1L, 2L))
    TxnTable.deleteWhereMor(spark, t, col("id").isin(11L, 12L))
    assert(TxnTable.maybeCompact(spark, t, maxDeadFrac = 0.2).isEmpty,
      "12.5% dead must not trip a 20% bar")
    val v = TxnTable.maybeCompact(spark, t, maxDeadFrac = 0.10,
      targetFiles = 2)
    assert(v.nonEmpty, "12.5% dead must trip a 10% bar")
    assert(TxnTable.snapshotDvs(t).isEmpty)
    assert(ids(TxnTable.read(spark, t)).size == 28)
    // file-count trigger, no DVs involved
    (0 until 6).foreach { i =>
      TxnTable.append(spark, t, Seq((500L + i, 9L, 1L)).toDF("id", "g", "v"))
    }
    assert(TxnTable.maybeCompact(spark, t, maxFiles = 4).nonEmpty)
    assert(TxnTable.snapshotFiles(t).size == 1)
    assert(TxnTable.maybeCompact(spark, t, maxFiles = 4).isEmpty)
  }

  test("concurrent appends + MOR deletes on disjoint files all land " +
    "(rebase under real thread interleaving)") {
    val t = Files.createTempDirectory("graft_dvcc").toString + "/t"
    TxnTable.create(spark, t,
      Seq((0L, -1L, 0L)).toDF("id", "g", "v"))
    // each thread appends its own file then MOR-deletes only ITS rows
    // (hits only its own file) — every commit commutes with every
    // other, so all 3×2 commits must land whatever the interleaving
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 3).map { k =>
      new Thread(() => {
        try {
          TxnTable.append(spark, t,
            (1L to 10L).map(i => (k * 100 + i, k.toLong, i))
              .toDF("id", "g", "v"))
          TxnTable.deleteWhereMor(spark, t,
            col("g") === k.toLong && col("v") <= 3L)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"no commuting commit may abort: ${errs.peek()}")
    assert(TxnTable.currentVersion(t) == 6L, "3 appends + 3 dvdeletes")
    val got = ids(TxnTable.read(spark, t))
    val expect = Set(0L) ++
      (for (k <- 0 until 3; i <- 4L to 10L) yield k * 100 + i)
    assert(got == expect, s"serializable outcome violated: $got")
  }

  test("checkpoint carries the DV map (resolution from ckpt + suffix)") {
    val t = Files.createTempDirectory("graft_dv9").toString + "/t"
    mk(t)
    TxnTable.deleteWhereMor(spark, t, col("id") === 11L) // v1
    // push past a checkpoint boundary (interval 10)
    (0 until 10).foreach { i =>
      TxnTable.append(spark, t, Seq((200L + i, 9L, 1L)).toDF("id", "g", "v"))
    }
    assert(TxnTable.currentVersion(t) == 11L)
    val (dvm, window) = OpMetrics.scope(TxnTable.snapshotDvs(t))
    val reads = window.count(TxnTable.VersionFileReads)
    assert(dvm.size == 1)
    assert(reads <= TxnTable.CheckpointInterval + 2,
      s"snapshotDvs must resolve from the checkpoint, read $reads commits")
    assert(!ids(TxnTable.read(spark, t)).contains(11L))
  }

  test("a MOR delete never rebases past a restore that re-adds its file") {
    val t = Files.createTempDirectory("graft_dv10").toString + "/t"
    mk(t) // v0: 32 rows
    TxnTable.deleteWhereMor(spark, t, col("id") === 11L) // v1: DV {11}
    // the racing delete targets the SAME file: its DV is built as
    // (old cumulative positions ∪ new hits) against the v1 map, i.e.
    // {11, 12}. The interleaved restore(0) RE-ADDS the file and clears
    // its DV — rebasing past it would commit {11, 12} and silently
    // re-delete row 11, which the restore just resurrected.
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnTable.restore(spark, t, 0L) // v2: re-adds all files, dvs = {}
    }
    try intercept[TxnTable.TxnConflictException] {
      TxnTable.deleteWhereMor(spark, t, col("id") === 12L)
    } finally TxnTable.preCommitHook = () => ()
    assert(fired, "hook must have interleaved the restore")
    // the restore won: every row is live again, including 11
    assert(TxnTable.currentVersion(t) == 2L)
    assert(TxnTable.snapshotDvs(t).isEmpty)
    assert(ids(TxnTable.read(spark, t)).contains(11L))
    assert(ids(TxnTable.read(spark, t)).size == 32)
    // re-run after the abort applies against the restored state
    TxnTable.deleteWhereMor(spark, t, col("id") === 12L)
    assert(ids(TxnTable.read(spark, t)) == ((1L to 32L).map(i =>
      (i - 1) / 8 * 10 + ((i - 1) % 8 + 1)).toSet - 12L))
  }
}
