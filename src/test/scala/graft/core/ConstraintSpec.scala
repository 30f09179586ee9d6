package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** CHECK constraints: validated over existing rows at ADD, enforced
  * inside every subsequent write job (single pass, assert_true guard),
  * SQL semantics (NULL satisfies), add/drop as metadata commits,
  * checkpoint-amortized resolution, add-vs-append race re-validates. */
class ConstraintSpec extends SparkSpecBase {
  import spark.implicits._

  private def mk(t: String): Unit =
    TxnTable.create(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, null))
        .toDF("id", "v", "s"))

  private def violates[A](f: => A): Unit = {
    val e = intercept[Exception](f)
    def chain(x: Throwable): Seq[String] =
      if (x == null) Nil else x.getMessage +: chain(x.getCause)
    assert(chain(e).exists(m => m != null && m.contains("CHECK constraint")),
      s"expected a CHECK violation, got $e")
  }

  test("add validates existing rows; writes enforce; null satisfies; " +
    "drop lifts") {
    val t = Files.createTempDirectory("graft_cn1").toString + "/t"
    mk(t)
    // existing row 30L violates v < 25 → rejected, nothing committed
    intercept[TxnTable.ConstraintViolationException] {
      TxnTable.addConstraint(spark, t, "v_small", "v < 25")
    }
    assert(TxnTable.constraints(t).isEmpty &&
      TxnTable.currentVersion(t) == 0L)
    // a satisfiable constraint lands as a metadata commit; NULL s is
    // fine per SQL CHECK (only FALSE violates)
    TxnTable.addConstraint(spark, t, "v_pos", "v > 0")
    TxnTable.addConstraint(spark, t, "s_short", "length(s) <= 3")
    assert(TxnTable.constraints(t).keySet == Set("v_pos", "s_short"))
    // violating append throws inside the write, commits nothing, and
    // leaves no staged debris behind for vacuum to trip on
    val vBefore = TxnTable.currentVersion(t)
    violates(TxnTable.append(spark, t,
      Seq((4L, -5L, "c")).toDF("id", "v", "s")))
    assert(TxnTable.currentVersion(t) == vBefore)
    assert(TxnTable.read(spark, t).count() == 3)
    // valid append (with a NULL in the checked column) lands
    TxnTable.append(spark, t, Seq((4L, 40L, null.asInstanceOf[String]))
      .toDF("id", "v", "s"))
    assert(TxnTable.read(spark, t).count() == 4)
    // overwrite + merge + updateWhere enforce too
    violates(TxnTable.overwrite(spark, t,
      Seq((9L, 0L, "x")).toDF("id", "v", "s")))
    violates(TxnTable.merge(spark, t,
      Seq((1L, 10L, "toolong")).toDF("id", "v", "s"), Seq("id")))
    violates(TxnTable.updateWhere(spark, t, col("id") === 1L,
      Map("v" -> lit(-1L))))
    violates(TxnTable.updateWhereMor(spark, t, col("id") === 1L,
      Map("v" -> lit(-1L))))
    assert(TxnTable.read(spark, t).filter(col("v") <= 0).isEmpty)
    // drop: the same write now lands
    assert(TxnTable.dropConstraint(t, "v_pos"))
    assert(!TxnTable.dropConstraint(t, "v_pos"))
    TxnTable.append(spark, t, Seq((5L, -5L, "e")).toDF("id", "v", "s"))
    assert(TxnTable.read(spark, t).count() == 5)
    // duplicate name rejected
    intercept[IllegalArgumentException] {
      TxnTable.addConstraint(spark, t, "s_short", "true")
    }
  }

  test("add-vs-append race: the interleaved violating append aborts " +
    "the add on re-validation") {
    val t = Files.createTempDirectory("graft_cn2").toString + "/t"
    mk(t)
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnTable.append(spark, t, Seq((9L, -9L, "z")).toDF("id", "v", "s"))
    }
    try {
      intercept[TxnTable.ConstraintViolationException] {
        TxnTable.addConstraint(spark, t, "v_pos", "v > 0")
      }
    } finally TxnTable.preCommitHook = () => ()
    assert(TxnTable.constraints(t).isEmpty,
      "the add must abort — committing would leave a violated constraint")
    // and the reverse interleaving: a VALID append commutes
    fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnTable.append(spark, t, Seq((10L, 100L, "y")).toDF("id", "v", "s"))
    }
    try TxnTable.addConstraint(spark, t, "v_nn", "v IS NOT NULL")
    finally TxnTable.preCommitHook = () => ()
    assert(TxnTable.constraints(t).contains("v_nn"))
  }

  test("constraints survive the checkpoint and streaming writes enforce") {
    val t = Files.createTempDirectory("graft_cn3").toString + "/t"
    mk(t)
    TxnTable.addConstraint(spark, t, "v_pos", "v > 0") // v1
    // v2..v19: a checkpoint at v10 and a 9-commit suffix
    (0 until 2 * TxnTable.CheckpointInterval - 2).foreach { i =>
      TxnTable.append(spark, t,
        Seq((100L + i, 1L + i, "k")).toDF("id", "v", "s"))
    }
    val (_, window) = OpMetrics.scope {
      assert(TxnTable.constraints(t) == Map("v_pos" -> "v > 0"))
      violates(TxnTable.appendStreamBatch(spark, t,
        Seq((999L, -1L, "q")).toDF("id", "v", "s"), "st", 0L))
    }
    // the whole rejected write resolves the snapshot once; one
    // replay per field (before the snapshot fold) read 45 here
    val reads = window.count(TxnTable.VersionFileReads)
    assert(reads <= TxnTable.CheckpointInterval + 2,
      s"constraint resolution must be checkpoint-amortized, read $reads")
    assert(TxnTable.streamHighWater(t, "st").isEmpty,
      "a violating stream batch must not record its marker")
  }

  private def dataFiles(t: String): Long = {
    val d = java.nio.file.Paths.get(t).resolve("data")
    if (!Files.isDirectory(d)) 0L
    else {
      val s = Files.list(d)
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  test("an append losing its race to addConstraint re-validates the " +
    "staged rows against the fresh CHECK") {
    val t = Files.createTempDirectory("graft_cn4").toString + "/t"
    mk(t) // v0: rows v = 10, 20, 30 — all satisfy v < 100
    // interleave the constraint INSIDE the append's race window: the
    // append staged v=500 under the EMPTY constraint set, so only the
    // retry's re-validation stands between it and committing a
    // violation past enforcement
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnTable.addConstraint(spark, t, "v_cap", "v < 100")
    }
    try violates(TxnTable.append(spark, t,
      Seq((4L, 500L, "x")).toDF("id", "v", "s")))
    finally TxnTable.preCommitHook = () => ()
    assert(fired, "hook must have interleaved the addConstraint")
    // the constraint's commit won the race; the append committed nothing
    // and left no staged debris behind
    assert(TxnTable.constraints(t).contains("v_cap"))
    assert(TxnTable.read(spark, t).count() == 3)
    assert(dataFiles(t) == TxnTable.snapshotFiles(t).size,
      "aborted append must clean its staged files")
    // a racing append whose rows SATISFY the fresh constraint retries
    // through the same window and commits
    fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnTable.addConstraint(spark, t, "v_pos", "v > 0")
    }
    val v = try TxnTable.append(spark, t,
      Seq((5L, 50L, "y")).toDF("id", "v", "s"))
      finally TxnTable.preCommitHook = () => ()
    assert(fired && v == TxnTable.currentVersion(t))
    assert(TxnTable.read(spark, t).count() == 4)
  }

  test("a rewrite never rebases past an interleaved constraint change") {
    val t = Files.createTempDirectory("graft_cn5").toString + "/t"
    mk(t)
    // a deleteWhere's survivor files were validated (withChecks) against
    // the constraint set at ITS base — rebasing past a fresh CHECK would
    // commit rows the new rule never saw, so the rewrite must abort
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnTable.addConstraint(spark, t, "v_cap", "v < 100")
    }
    try intercept[TxnTable.TxnConflictException] {
      TxnTable.deleteWhere(spark, t, col("id") === 1L)
    } finally TxnTable.preCommitHook = () => ()
    assert(fired)
    // the constraint landed; the aborted delete changed nothing and
    // cleaned its staged rewrite
    assert(TxnTable.constraints(t).contains("v_cap"))
    assert(TxnTable.read(spark, t).count() == 3)
    assert(dataFiles(t) == TxnTable.snapshotFiles(t).size)
    // the delete re-run after the abort applies cleanly
    TxnTable.deleteWhere(spark, t, col("id") === 1L)
    assert(TxnTable.read(spark, t).count() == 2)
  }

  test("an overwrite never rebases past an interleaved constraint or " +
    "ALTER commit") {
    // overwrite's CommuteMetadataOnly rebase must treat constraint:add
    // and schema-recording commits like CommuteNonOverlapping does:
    // its staged rows were validated against the PRE-change rules, so
    // rebasing past them would commit rows the fresh CHECK (or the
    // fresh shape) never saw.
    val t = Files.createTempDirectory("graft_cn6").toString + "/t"
    mk(t)
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnTable.addConstraint(spark, t, "v_cap", "v < 100")
    }
    try intercept[TxnTable.TxnConflictException] {
      TxnTable.overwrite(spark, t,
        Seq((9L, 500L, "x")).toDF("id", "v", "s"))
    } finally TxnTable.preCommitHook = () => ()
    assert(fired && TxnTable.constraints(t).contains("v_cap"))
    assert(TxnTable.read(spark, t).count() == 3,
      "the aborted overwrite must change nothing")
    assert(dataFiles(t) == TxnTable.snapshotFiles(t).size,
      "the aborted overwrite must clean its staged files")
    // the re-run validates against the fresh CHECK: 500 violates …
    violates(TxnTable.overwrite(spark, t,
      Seq((9L, 500L, "x")).toDF("id", "v", "s")))
    // … and a compliant overwrite lands
    TxnTable.overwrite(spark, t, Seq((9L, 50L, "x")).toDF("id", "v", "s"))
    assert(TxnTable.read(spark, t).count() == 1)
    // an interleaved ALTER (schema-recording commit) aborts the same way
    var fired2 = false
    TxnTable.preCommitHook = () => if (!fired2) {
      fired2 = true
      TxnTable.addColumns(spark, t,
        Seq("w" -> org.apache.spark.sql.types.LongType))
    }
    try intercept[TxnTable.TxnConflictException] {
      TxnTable.overwrite(spark, t, Seq((7L, 70L, "y")).toDF("id", "v", "s"))
    } finally TxnTable.preCommitHook = () => ()
    assert(fired2)
    assert(TxnTable.read(spark, t).columns.contains("w"),
      "the interleaved ALTER must stand")
  }
}
