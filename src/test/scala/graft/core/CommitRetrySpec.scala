package graft.core

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Retry budgets of the retrying writers, pinned: a writer whose every
  * attempt loses its version race (the hook steals the version it read)
  * gives up after exactly `maxAttempts + 1` attempts (the default
  * budget of 20 retries) and leaves nothing staged behind under `data/`
  * or `dv/`. */
class CommitRetrySpec extends SparkSpecBase {
  import TxnTable._

  private def freshTable(): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_retry").toString + "/t"
    create(spark, t, (0 until 20).map(i => (i.toLong, s"row$i")).toDF("id", "s"))
    t
  }

  private def listed(t: String, dir: String): Set[String] = {
    val d = Paths.get(t, dir)
    if (!Files.isDirectory(d)) Set.empty
    else {
      val s = Files.list(d)
      try {
        val it = s.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result()
      } finally s.close()
    }
  }

  /** Run `body` with a hook that commits a marker at the version every
    * attempt read, so each attempt loses; returns the outcome and the
    * attempt count, and checks that `data/` and `dv/` are unchanged. */
  private def losingEveryRace[T](t: String)(body: => T): (Try[T], Int) = {
    val before = (listed(t, "data"), listed(t, "dv"))
    var attempts = 0
    preCommitHook = () => {
      attempts += 1
      tryCommit(t, TxnCommit(currentVersion(t) + 1, "steal", Nil, Nil))
    }
    val out = try Try(body) finally preCommitHook = () => ()
    assert((listed(t, "data"), listed(t, "dv")) == before,
      "a writer that lost every race must leave no staged file behind")
    (out, attempts)
  }

  private def assertConflict(out: Try[_]): Unit =
    assert(out.failed.toOption.exists(_.isInstanceOf[TxnConflictException]),
      s"expected the last lost race to surface, got $out")

  test("append gives up after 21 attempts") {
    import spark.implicits._
    val t = freshTable()
    val (out, n) = losingEveryRace(t) {
      append(spark, t, Seq((100L, "x")).toDF("id", "s"))
    }
    assertConflict(out)
    assert(n == 21)
  }

  test("appendStreamBatch gives up after 21 attempts") {
    import spark.implicits._
    val t = freshTable()
    val (out, n) = losingEveryRace(t) {
      appendStreamBatch(spark, t, Seq((100L, "x")).toDF("id", "s"), "s1", 0L)
    }
    assert(out.failed.toOption.exists(
      _.getMessage.contains("lost 20 version races")), out.toString)
    assert(n == 21)
  }

  test("copy-on-write deleteWhere gives up after 21 rebases") {
    val t = freshTable()
    val (out, n) = losingEveryRace(t)(deleteWhere(spark, t, col("id") < 5))
    assertConflict(out)
    assert(n == 21)
    assert(read(spark, t).count() == 20)
  }

  test("deleteWhereMor gives up after 21 rebases") {
    val t = freshTable()
    val (out, n) = losingEveryRace(t)(deleteWhereMor(spark, t, col("id") < 5))
    assertConflict(out)
    assert(n == 21)
    assert(read(spark, t).count() == 20)
  }

  test("addConstraint gives up after 21 attempts") {
    val t = freshTable()
    val (out, n) = losingEveryRace(t)(addConstraint(spark, t, "pos", "id >= 0"))
    assertConflict(out)
    assert(n == 21)
    assert(constraints(t).isEmpty)
  }

  test("vacuum gives up after 21 attempts") {
    val t = freshTable()
    val (out, n) = losingEveryRace(t)(vacuum(spark, t, retainVersions = 1))
    assertConflict(out)
    assert(n == 21)
    assert(earliestVersion(t) == 0L)
  }
}
