package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.TxnTable.Bound

/** The ACID properties of TxnTable, pinned:
  *  - optimistic concurrency: exactly one writer wins a version
  *    (createLink is create-exclusive), appends retry and never lose rows;
  *  - snapshot isolation: a version's content is immutable across later
  *    deletes/compaction (files are never physically deleted);
  *  - time travel replays any prefix of the log;
  *  - deleteWhere rewrites only the files containing matches.
  */
class TxnTableSpec extends SparkSpecBase {
  import TxnTable._

  private def freshTable(): String =
    Files.createTempDirectory("graft_txn").toString + "/t"

  private def rangeDf(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"row$i")).toDF("id", "s")
  }

  test("create + append + read round-trip, history versions in order") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 100))
    append(spark, t, rangeDf(100, 150))
    assert(currentVersion(t) == 1L)
    assert(read(spark, t).count() == 150)
    val hist = history(spark, t).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.toSeq == Seq((0L, "create"), (1L, "append")))
  }

  test("exactly one writer wins a contended version") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    val commit = TxnCommit(1L, "append", Nil, Nil)
    tryCommit(t, commit)
    intercept[TxnConflictException] { tryCommit(t, commit) }
  }

  test("concurrent appends all land, no lost updates, distinct versions") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    val threads = (0 until 4).map { k =>
      new Thread(() => {
        append(spark, t, rangeDf(100 + k * 10, 110 + k * 10))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(currentVersion(t) == 4L) // v0 create + v1..v4 appends
    assert(read(spark, t).count() == 50)
    assert(read(spark, t).agg(countDistinct(col("id"))).head().getLong(0) == 50)
  }

  test("time travel: every version replays its exact prefix") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 20))
    append(spark, t, rangeDf(20, 50))
    deleteWhere(spark, t, col("id") % 2 === 0)
    assert(read(spark, t, asOf = 0).count() == 20)
    assert(read(spark, t, asOf = 1).count() == 50)
    assert(read(spark, t, asOf = 2).count() == 25)
    assert(read(spark, t).count() == 25)
  }

  test("time travel past the head fails with the version check, not a " +
    "missing commit file") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    (1 to 3).foreach(k => append(spark, t, rangeDf(k * 10, k * 10 + 10)))
    for (k <- Seq(1L, 96L)) {
      val e = intercept[IllegalArgumentException] {
        read(spark, t, asOf = 3 + k)
      }
      assert(e.getMessage.contains(s"version ${3 + k} does not exist " +
        "(latest 3)"), e.getMessage)
    }
    assert(read(spark, t, asOf = 3).count() == 40)
  }

  test("snapshot isolation: old versions survive delete + compaction") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 30))
    append(spark, t, rangeDf(30, 60))
    val before = read(spark, t, asOf = 1).orderBy(col("id"))
      .collect().map(_.toString).toSeq
    deleteWhere(spark, t, col("id") < 10)
    compact(spark, t)
    val after = read(spark, t, asOf = 1).orderBy(col("id"))
      .collect().map(_.toString).toSeq
    assert(after == before, "compaction/delete mutated an old snapshot")
    assert(read(spark, t).count() == 50)
    assert(snapshotFiles(t).size == 1, "compaction should fold to one file")
  }

  test("deleteWhere rewrites only files containing matches") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 50)) // file A: ids 0-49
    append(spark, t, rangeDf(50, 100)) // file B: ids 50-99
    val filesBefore = snapshotFiles(t)
    deleteWhere(spark, t, col("id") >= 90)
    val filesAfter = snapshotFiles(t)
    assert(filesAfter.contains(filesBefore.head),
      "untouched file A must be carried by reference, not rewritten")
    assert(!filesAfter.contains(filesBefore(1)), "file B must be rewritten")
    assert(read(spark, t).count() == 90)
  }

  test("checkpoints: written every interval, resolution matches full replay") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    (1 to 24).foreach(k => append(spark, t, rangeDf(k * 10, k * 10 + 10)))
    assert(currentVersion(t) == 24L)
    val ld = java.nio.file.Paths.get(t, "_graft_log")
    for (v <- Seq(10, 20))
      assert(java.nio.file.Files.exists(ld.resolve(f"ckpt-v$v%010d.json")),
        s"missing checkpoint at v$v")
    // resolution through a checkpoint (v15 → ckpt10 + 5 commits) and
    // at/before checkpoints must all equal the logical prefix
    for ((v, expect) <- Seq(9 -> 100, 10 -> 110, 15 -> 160, 24 -> 250))
      assert(read(spark, t, asOf = v).count() == expect, s"asOf=$v")
  }

  test("corrupt checkpoint falls back to full replay") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    (1 to 12).foreach(k => append(spark, t, rangeDf(k * 10, k * 10 + 10)))
    val ck = java.nio.file.Paths.get(t, "_graft_log")
      .resolve(f"ckpt-v${10}%010d.json")
    java.nio.file.Files.write(ck, "{not json".getBytes)
    assert(read(spark, t, asOf = 12).count() == 130)
    // v11 sits below the memoized head, so it resolves through the
    // checkpoint: the corrupt one is skipped, counted, and the replay
    // starts from v0 with the same answer
    val (n11, window) = OpMetrics.scope(read(spark, t, asOf = 11).count())
    assert(n11 == 120)
    assert(window.count(CheckpointFallbacks) == 1)
    assert(read(spark, t, asOf = 10).count() == 110)
    // the sneakier corruption: a VALID json object missing the files
    // array, with trailing garbage jackson would silently ignore — it
    // must be treated as corrupt (full replay), never as "0 files"
    java.nio.file.Files.write(ck,
      """{"version":10,"horizon":0,"streams":{}}garbage]}""".getBytes)
    assert(read(spark, t, asOf = 12).count() == 130)
    assert(snapshotFiles(t, 10).nonEmpty)
  }

  test("streaming sink: a real stream lands exactly-once, replays are no-ops") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val t = freshTable()
    create(spark, t, rangeDf(0, 10).withColumn("part", lit(-1)))
    // a real Structured Streaming query committing via foreachBatch
    val staging = Files.createTempDirectory("graft_txn_stage_in").toString
    val ckpt = Files.createTempDirectory("graft_txn_ck").toString
    (0 until 3).foreach { i =>
      rangeDf(100 + i * 10, 110 + i * 10).withColumn("part", lit(i))
        .coalesce(1).write.mode("append").parquet(staging)
    }
    val sch = spark.read.parquet(staging).schema
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(staging)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        TxnTable.appendStreamBatch(spark, t, batch, "s1", id); ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(read(spark, t).count() == 40)
    // redelivery of an already-committed batch must be a no-op
    val vBefore = currentVersion(t)
    val res = appendStreamBatch(spark, t,
      rangeDf(100, 110).withColumn("part", lit(0)), "s1", 0L)
    assert(res.isEmpty && currentVersion(t) == vBefore)
    assert(read(spark, t).count() == 40)
    // a NEW batch id still commits
    assert(appendStreamBatch(spark, t,
      rangeDf(200, 205).withColumn("part", lit(9)), "s1", 99L).nonEmpty)
    assert(read(spark, t).count() == 45)
    assert(read(spark, t).agg(count(lit(1)), sum(col("id"))).head().getLong(0) == 45)
  }

  test("vacuum deletes only log-dead files and fences time travel") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 30)) // v0
    append(spark, t, rangeDf(30, 60)) // v1
    deleteWhere(spark, t, col("id") < 10) // v2: v0's file rewritten
    compact(spark, t) // v3: everything rewritten
    def dataFiles(): Set[String] = {
      val dd = java.nio.file.Paths.get(t, "data")
      val s = java.nio.file.Files.list(dd)
      try {
        val it = s.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result()
      } finally s.close()
    }
    val before = dataFiles().size
    val (v, deleted) = vacuum(spark, t, retainVersions = 2)
    assert(v == 4L)
    assert(deleted > 0 && dataFiles().size == before - deleted)
    // retained versions fully readable
    assert(read(spark, t).count() == 50)
    assert(read(spark, t, asOf = 3).count() == 50)
    assert(read(spark, t, asOf = 2).count() == 50)
    // pre-horizon time travel fails with the fence, not missing files
    val e = intercept[IllegalArgumentException] { read(spark, t, asOf = 1) }
    assert(e.getMessage.contains("vacuumed"))
    assert(earliestVersion(t) == 2L)
    // idempotent: nothing left to delete at the same horizon
    val (_, deleted2) = vacuum(spark, t, retainVersions = 3)
    assert(deleted2 == 0)
    // the table remains writable and consistent after vacuum
    append(spark, t, rangeDf(100, 110))
    assert(read(spark, t).count() == 60)
    // horizon survives across a checkpoint boundary (v10+): the fence
    // must come from the checkpoint's recorded horizon, not a full scan
    (0 until 8).foreach(k => append(spark, t, rangeDf(200 + k, 201 + k)))
    assert(currentVersion(t) >= 11L)
    assert(earliestVersion(t) == 2L)
    intercept[IllegalArgumentException] { read(spark, t, asOf = 1) }
  }

  test("schema enforcement: drifted append fails loudly, evolution is explicit") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    // silent drift rejected
    intercept[SchemaMismatchException] {
      append(spark, t, rangeDf(10, 20).withColumn("extra", lit(1)))
    }
    intercept[SchemaMismatchException] {
      append(spark, t, rangeDf(10, 20)
        .withColumn("id", col("id").cast("int")))
    }
    assert(currentVersion(t) == 0L, "rejected appends must not commit")
    // explicit evolution records the new schema; reads merge generations
    append(spark, t, rangeDf(10, 20).withColumn("extra", lit(7)),
      evolveSchema = true)
    val merged = read(spark, t)
    assert(merged.columns.toSet == Set("id", "s", "extra"))
    assert(merged.count() == 20)
    assert(merged.filter(col("extra").isNull).count() == 10)
    // post-evolution appends are held to the NEW schema
    intercept[SchemaMismatchException] { append(spark, t, rangeDf(20, 30)) }
    append(spark, t, rangeDf(20, 30).withColumn("extra", lit(9)))
    assert(read(spark, t).count() == 30)
    // pre-evolution snapshots read with the old shape
    assert(read(spark, t, asOf = 0).columns.toSet == Set("id", "s"))
  }

  test("restore rolls content AND schema back as a new commit") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = freshTable()
    create(spark, t, rangeDf(0, 20)) // v0
    deleteWhere(spark, t, col("id") < 5) // v1: 15 rows
    append(spark, t, rangeDf(20, 30).withColumn("extra", lit(1)),
      evolveSchema = true) // v2: 25 rows, evolved
    val v = restore(spark, t, 0L) // v3
    assert(v == 3L)
    assert(read(spark, t).count() == 20)
    assert(read(spark, t).columns.toSet == Set("id", "s"),
      "restore must roll the schema back with the content")
    // history intact: the evolved version still reads as it was
    assert(read(spark, t, asOf = 2).count() == 25)
    // post-restore appends are held to the ROLLED-BACK schema
    append(spark, t, rangeDf(50, 55))
    assert(read(spark, t).count() == 25)
    intercept[SchemaMismatchException] {
      append(spark, t, rangeDf(60, 65).withColumn("extra", lit(2)))
    }
    // restoring to a vacuumed version is refused
    (0 until 3).foreach(k => append(spark, t, rangeDf(70 + k, 71 + k)))
    vacuum(spark, t, retainVersions = 2)
    val e = intercept[IllegalArgumentException] { restore(spark, t, 0L) }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("empty create round-trips schema-only") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 5).filter(org.apache.spark.sql.functions
      .col("id") > 100))
    assert(read(spark, t).count() == 0)
    assert(read(spark, t).columns.toSeq == Seq("id", "s"))
    append(spark, t, rangeDf(0, 3))
    assert(read(spark, t).count() == 3)
  }

  test("delete with no matches is a no-op version-wise") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    val v = deleteWhere(spark, t, col("id") > 1000)
    assert(v == 0L && currentVersion(t) == 0L)
  }

  test("compactClustered: z-ordered rewrite is prunable, content-preserving") {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 4096)
      .map(i => (i.toLong, (i % 64).toLong, (i / 64).toLong))
      .toDF("id", "a", "b")
    create(spark, t, df, partitions = 4)
    val vBefore = currentVersion(t)
    val v = compactClustered(spark, t, Seq(col("a"), col("b")),
      targetFiles = 16)
    assert(v == vBefore + 1)
    assert(snapshotFiles(t).size == 16)
    // logical content unchanged; pre-compact snapshot stays readable
    val agg = read(spark, t).agg(count(lit(1)), sum(col("id"))).head()
    assert(agg.getLong(0) == 4096L && agg.getLong(1) == 4096L * 4095 / 2)
    assert(read(spark, t, asOf = vBefore).count() == 4096)
    // the clustered footers prune: a 16×16 box of the 64×64 (a, b) grid
    // intersects FEW of the 16 z-range files, where the pre-compact
    // row-order layout intersects all of them on dimension a
    val liveNames = snapshotFiles(t).map(_.stripPrefix("data/"))
    val idx = graft.crawler.SkippingIndex.build(spark,
      java.nio.file.Paths.get(t, "data").toString, Seq("a", "b"))
      .filter(element_at(split(col("file"), "/"), -1).isin(liveNames: _*))
    val keptA = graft.crawler.SkippingIndex.selectFiles(idx, 0, 0L, 15L)
    val keptB = graft.crawler.SkippingIndex.selectFiles(idx, 1, 0L, 15L)
    assert(keptA.size <= 8, s"a-pruning kept ${keptA.size}/16 files")
    assert(keptB.size <= 8, s"b-pruning kept ${keptB.size}/16 files")
    // pruned read is still correct: the kept files contain every row
    // of the box
    val boxRows = spark.read.parquet(keptA: _*)
      .filter(col("a") <= 15).count()
    assert(boxRows == 4096L / 4, s"box scan saw $boxRows rows")
    // readPruned = the same result as the full read + filter, from a
    // strict subset of the files
    val pruned = readPruned(spark, t, Seq(Bound.LongRange("a", 0L, 15L)))
    assert(pruned.inputFiles.length <= 8,
      s"readPruned scanned ${pruned.inputFiles.length}/16 files")
    val full = read(spark, t).filter(col("a").between(0, 15))
    assert(pruned.orderBy(col("id")).collect().toSeq ===
      full.orderBy(col("id")).collect().toSeq)
    // out-of-range → empty frame, schema intact
    val none = readPruned(spark, t, Seq(Bound.LongRange("a", 1000L, 2000L)))
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "a", "b"))
  }

  /** Version-file reads consumed by `body`. */
  private def logReads(body: => Unit): Long =
    OpMetrics.scope(body)._2.count(TxnTable.VersionFileReads)

  test("hot paths replay O(CheckpointInterval), not O(versions)") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10)) // v0, schema generation 1
    (1 to 24).foreach(k => appendStreamBatch(spark, t,
      rangeDf(k * 10, k * 10 + 10), "s1", k.toLong)) // v1..v24, ckpts v10/v20
    assert(currentVersion(t) == 24L)
    // With 24 commits past v0 and a checkpoint at v20, each call may
    // replay the ≤4-commit suffix (plus the top-version listing); a
    // regression to full replay costs ≥25 reads per call.
    val budget = CheckpointInterval + 2L
    assert(logReads(assert(read(spark, t).count() == 250)) <= budget,
      "read() must not replay the whole log for its mergeSchema probe")
    assert(logReads(assert(currentSchema(t).get.fieldNames.sameElements(
      Array("id", "s")))) <= budget,
      "currentSchema must come from the checkpoint, not a walk to v0")
    // idempotence check of a redelivered batch: high-water mark from the
    // checkpoint's streams field + suffix — and batches BEFORE the
    // checkpoint are still recognized through the high-water semantics
    assert(logReads {
      assert(appendStreamBatch(spark, t, rangeDf(30, 40), "s1", 3L).isEmpty)
    } <= budget, "stream idempotence check must be checkpoint-amortized")
    // a genuinely new batch still lands
    assert(appendStreamBatch(spark, t, rangeDf(300, 305), "s1", 99L).nonEmpty)
    assert(read(spark, t).count() == 255)

    // One snapshot per version: v0..v19, a checkpoint at v10 and a
    // 9-commit suffix. A copy of the table directory is a path no
    // memo has seen, so its first head read is the cold cost.
    val src = freshTable()
    create(spark, src, rangeDf(0, 10))
    (1 to 19).foreach(k => append(spark, src, rangeDf(k * 10, k * 10 + 10)))
    val u = freshTable()
    copyTree(java.nio.file.Paths.get(src), java.nio.file.Paths.get(u))
    // One replay per field (before the snapshot fold) read 27, 18, 45,
    // 54 and 108 commit files for these five calls: three suffix
    // replays for the first read, a schema memo saving one on the
    // second.
    val first = logReads(assert(read(spark, u).count() == 200))
    assert(first <= CheckpointInterval, s"first head read: $first reads")
    val second = logReads(assert(read(spark, u).count() == 200))
    assert(second == 0, s"second head read: $second reads")
    val pruned = logReads(assert(readPruned(spark, u,
      Seq(Bound.LongRange("id", 5L, 15L))).count() == 11))
    assert(pruned == 0, s"readPruned after a head read: $pruned reads")
    val det = logReads(assert(detail(spark, u).head().getLong(1) == 19L))
    assert(det == 0, s"detail after a head read: $det reads")
    val ck = logReads(append(spark, u, rangeDf(200, 210)))
    assert(ck <= CheckpointInterval, s"checkpoint-writing append: $ck reads")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(u, "_graft_log", "ckpt-v0000000020.json")))
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().forEachRemaining { p =>
      val d = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d)
    } finally s.close()
  }

  private def deleteTree(root: java.nio.file.Path): Unit = {
    val s = Files.walk(root)
    val all = Seq.newBuilder[java.nio.file.Path]
    try s.iterator().forEachRemaining(p => all += p) finally s.close()
    all.result().reverse.foreach(p => Files.delete(p))
  }

  test("the snapshot memo serves no table that was deleted and recreated " +
      "at the same path") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    append(spark, t, rangeDf(10, 20))
    append(spark, t, rangeDf(20, 30)) // head 2, memoized by the read
    assert(read(spark, t).count() == 30)
    // another table, another schema, more versions than the memoized head
    val other = freshTable()
    create(spark, other, Seq((1L, 1.5, "a")).toDF("k", "x", "tag"))
    (2 to 4).foreach(i => append(spark, other,
      Seq((i.toLong, i * 1.5, "b")).toDF("k", "x", "tag"))) // head 3
    // another process deletes the table and recreates it: plain file
    // copies of the other table's log and data
    deleteTree(java.nio.file.Paths.get(t))
    Seq("_graft_log", "data").foreach(d => copyTree(
      java.nio.file.Paths.get(other, d), java.nio.file.Paths.get(t, d)))
    val back = read(spark, t)
    assert(back.schema.fieldNames.toSeq == Seq("k", "x", "tag"))
    assert(back.as[(Long, Double, String)].collect().toSet ==
      read(spark, other).as[(Long, Double, String)].collect().toSet)
    assert(snapshotFiles(t) == snapshotFiles(other))
    // recreated once more, younger than the memoized head 3: the dead
    // entry is dropped, so the new head is memoized in its place
    val young = freshTable()
    create(spark, young, Seq((9L, 9.5, "c")).toDF("k", "x", "tag"))
    deleteTree(java.nio.file.Paths.get(t))
    Seq("_graft_log", "data").foreach(d => copyTree(
      java.nio.file.Paths.get(young, d), java.nio.file.Paths.get(t, d)))
    assert(read(spark, t).as[(Long, Double, String)].collect().toSeq ==
      Seq((9L, 9.5, "c")))
    val again = logReads(snapshotFiles(t))
    assert(again == 0, s"the recreated head was not memoized: $again reads")
  }

  test("footer pruning on a multi-hundred-file table: distributed index, " +
      "names-only collect") {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 3000).map(i => (i.toLong, i.toLong / 10))
      .toDF("id", "grp")
    createClustered(spark, t, df, Seq(col("id")), targetFiles = 300)
    val liveAbs = snapshotFiles(t)
      .map(f => java.nio.file.Paths.get(t).resolve(f).toString)
    assert(liveAbs.size == 300)
    // past the threshold the footer index is a DISTRIBUTED job, not a
    // driver loop materialized as a LocalRelation — consumers filter it
    // as a DataFrame and only kept names ever reach the driver
    val idx = graft.crawler.SkippingIndex.buildForFiles(spark, liveAbs,
      Seq("id"))
    assert(!idx.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
      "300-file footer index must not be a driver-materialized relation")
    assert(idx.count() == 300)
    // all three pruned-read shapes stay correct AND strictly pruned
    val pr = readPruned(spark, t, Seq(Bound.LongRange("id", 100L, 199L)))
    assert(pr.inputFiles.length < 30,
      s"range prune kept ${pr.inputFiles.length}/300 files")
    assert(pr.count() == 100)
    val vals = Seq(5L, 1500L, 2995L)
    val pin = readPruned(spark, t, Seq(Bound.LongIn("id", vals)))
    assert(pin.inputFiles.length <= 3 * 2,
      s"point prune kept ${pin.inputFiles.length}/300 files")
    assert(pin.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
      == vals.sorted)
    val box = readPruned(spark, t,
      Seq(Bound.LongRange("id", 0L, 99L),
        Bound.LongRange("grp", 0L, 9L)))
    assert(box.inputFiles.length < 30 && box.count() == 100)
  }

  test("shallow clone: zero-copy branch, divergent writes, vacuums never cross") {
    val root = Files.createTempDirectory("graft_clone").toString
    val src = s"$root/src"
    val dst = s"$root/clone"
    create(spark, src, rangeDf(0, 100))
    append(spark, src, rangeDf(100, 150))
    cloneShallow(spark, src, dst)
    // pure metadata: no data dir, content identical to the source
    assert(!Files.exists(java.nio.file.Paths.get(dst, "data")))
    assert(read(spark, dst).count() == 150)
    // branch the clone; the source must not move
    deleteWhere(spark, dst, col("id") < 50)
    append(spark, dst, rangeDf(500, 510))
    assert(read(spark, dst).count() == 110)
    assert(read(spark, src).count() == 150, "source content must not move")
    assert(currentVersion(src) == 1L, "source log must not move")
    // clone time travel: v0 is the cloned snapshot
    assert(read(spark, dst, asOf = 0L).count() == 150)
    // aggressive clone vacuum: own-root guard spares every source file
    vacuum(spark, dst, retainVersions = 1)
    assert(read(spark, src).count() == 150,
      "clone vacuum must never delete source data")
    // compact fully materializes the clone; a second vacuum then reaps
    // the clone's OWN dead rewrite files, still sparing the source
    compact(spark, dst)
    val (_, reaped) = vacuum(spark, dst, retainVersions = 1)
    assert(reaped > 0, "materialized clone must have own dead files to reap")
    assert(read(spark, dst).count() == 110)
    assert(read(spark, src).count() == 150)
    // clone-of-clone composes (references resolve transitively)
    val dst2 = s"$root/clone2"
    cloneShallow(spark, dst, dst2)
    assert(read(spark, dst2).count() == 110)
  }

  test("diffVersions: identical versions diff empty; vacuumed fromV fences") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 50))
    append(spark, t, rangeDf(50, 80))
    assert(diffVersions(spark, t, 1L, 1L, Seq("id")).count() == 0)
    // the appended tranche surfaces as pure inserts
    val d = diffVersions(spark, t, 0L, 1L, Seq("id")).collect()
    assert(d.length == 30 && d.forall(_.getAs[String]("op") == "insert"))
    compact(spark, t) // v2
    vacuum(spark, t, retainVersions = 2) // v3, horizon 2
    val e = intercept[IllegalArgumentException] {
      diffVersions(spark, t, 0L, 2L, Seq("id"))
    }
    assert(e.getMessage.contains("diffVersions"))
  }

  test("physical-typed pruning: DATE columns prune by unix-day bounds") {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 400).map(i => (i.toLong,
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000 + i / 2))))
      .toDF("id", "d")
    createClustered(spark, t, df, Seq(col("d")), targetFiles = 8)
    val pr = readPruned(spark, t, Seq(Bound.LongRange("d", 18020L, 18039L)))
    assert(pr.count() == 40, "date-box must select exactly the day range")
    assert(pr.inputFiles.length < 8,
      s"date pruning kept ${pr.inputFiles.length}/8 files")
    val full = read(spark, t).filter(col("d").between(
      lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18020))),
      lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18039)))))
    assert(pr.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      full.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("old-format checkpoints (no allAdds) fall back to full replay, correct") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    (1 to 14).foreach(k => append(spark, t, rangeDf(k * 10, k * 10 + 10)))
    // simulate checkpoints written by older code: strip the allAdds field
    val logDir = java.nio.file.Paths.get(t, "_graft_log")
    val s = Files.list(logDir)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.startsWith("ckpt-v")) {
          val txt = new String(Files.readAllBytes(p), "UTF-8")
          // JSON-aware field removal (a bracket-blind regex would stop
          // at the first ']' INSIDE the adds' nested stats arrays and
          // mangle the file into jackson-half-parsable garbage — the
          // corrupt-checkpoint case, which is a different test)
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          val stripped = JsonMethods.compact(JsonMethods.render(
            JsonMethods.parse(txt).removeField {
              case ("allAdds", _) => true
              case _ => false
            }))
          assert(stripped != txt, "fixture must actually strip the field")
          Files.write(p, stripped.getBytes("UTF-8"))
        }
      }
    } finally s.close()
    // restore + vacuum still correct (slower full-replay path)
    restore(spark, t, 12L) // v15: content of v12
    assert(read(spark, t).count() == 130)
    compact(spark, t) // v16
    append(spark, t, rangeDf(5000, 5010)) // v17
    val (_, deleted) = vacuum(spark, t, retainVersions = 2)
    assert(deleted > 0, "old-format fallback must still find the dead files")
    assert(read(spark, t).count() == 140)
  }

  test("timestamp time travel: versionAt resolves from commit mtimes, " +
    "fenced at the vacuum horizon") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10)) // v0
    Thread.sleep(30)
    val ts0 = System.currentTimeMillis()
    Thread.sleep(30)
    append(spark, t, rangeDf(10, 20)) // v1
    Thread.sleep(30)
    val ts1 = System.currentTimeMillis()
    Thread.sleep(30)
    append(spark, t, rangeDf(20, 30)) // v2
    assert(versionAt(t, ts0) == 0L)
    assert(versionAt(t, ts1) == 1L)
    assert(versionAt(t, System.currentTimeMillis()) == 2L)
    assert(readAsOfTimestamp(spark, t, ts1).count() == 20)
    // timestamp-addressed CDF: between ts0 and now = v0→v2 inserts
    val d = diffBetweenTimestamps(spark, t, ts0,
      System.currentTimeMillis(), Seq("id"))
    assert(d.filter(col("op") === "insert").count() == 20 &&
      d.filter(col("op") =!= "insert").isEmpty)
    // a timestamp before the first commit is a clear error
    intercept[IllegalArgumentException](versionAt(t, ts0 - 3600000L))
    // vacuum moves the horizon: pre-horizon timestamps now throw too
    compact(spark, t) // v3
    append(spark, t, rangeDf(30, 40)) // v4
    vacuum(spark, t, retainVersions = 2)
    intercept[IllegalArgumentException](versionAt(t, ts0))
    assert(readAsOfTimestamp(spark, t, System.currentTimeMillis())
      .count() == 40)
  }

  test("history: one audit row per readable commit, horizon-fenced") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 10)) // v0
    append(spark, t, rangeDf(10, 20)) // v1
    deleteWhereMor(spark, t, col("id") === 5L) // v2
    compact(spark, t) // v3
    val h = history(spark, t)
      .select("version", "op", "files_added", "files_removed",
        "dv_reassigned", "schema_change")
      .as[(Long, String, Long, Long, Long, Boolean)].collect()
      .sortBy(_._1)
    assert(h.map(x => (x._1, x._2)).toSeq ==
      Seq((0L, "create"), (1L, "append"), (2L, "dvdelete"),
        (3L, "compact")))
    assert(h(0)._6 && !h(1)._6, "only the create recorded a schema")
    assert(h(2)._3 == 0 && h(2)._5 > 0,
      "the dvdelete must show DV reassignments and zero adds")
    assert(h(3)._4 > 0, "the compact must show removes")
    // timestamps non-decreasing in version order
    val ts = history(spark, t).orderBy(col("version"))
      .select("ts_millis").as[Long].collect()
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // after a vacuum, pre-horizon commits leave the audit
    append(spark, t, rangeDf(100, 110)) // v4
    vacuum(spark, t, retainVersions = 2)
    assert(history(spark, t).select(min(col("version"))).head().getLong(0)
      == earliestVersion(t))
  }

  test("time-based vacuum: the snapshot active AT the cutoff stays " +
    "readable, older ones are reaped") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10)) // v0
    compact(spark, t) // v1 (v0's file becomes reapable once past horizon)
    Thread.sleep(40)
    val mid = System.currentTimeMillis()
    Thread.sleep(40)
    compact(spark, t) // v2
    compact(spark, t) // v3
    // retain back to `mid`: v1 was current at the cutoff → horizon = 1,
    // so v1..v3 readable, v0's file dead
    val (_, deleted) = vacuumRetainMillis(spark, t,
      System.currentTimeMillis() - mid)
    assert(earliestVersion(t) == 1L,
      s"horizon must land on the version active at the cutoff")
    assert(deleted > 0, "v0's compacted-away file must be reaped")
    assert(read(spark, t, asOf = 1L).count() == 10)
    intercept[Exception](read(spark, t, asOf = 0L).count())
    // a window older than the whole log is a no-op
    val (_, d2) = vacuumRetainMillis(spark, t, 7L * 24 * 3600 * 1000)
    assert(d2 == 0)
    assert(read(spark, t, asOf = 1L).count() == 10)
  }

  test("vacuum and restore are checkpoint-amortized on a 100+-commit log") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 10)) // v0
    (1 to 104).foreach(k => append(spark, t, rangeDf(k * 10, k * 10 + 10)))
    assert(currentVersion(t) == 104L)
    // A full log replay costs ≥105 version-file reads per call (the old
    // commits()-based paths). Amortized budget: each sub-step replays at
    // most the ≤CheckpointInterval-commit suffix past a checkpoint, and
    // restore/vacuum compose a handful of such sub-steps.
    val budget = 6L * CheckpointInterval
    val rReads = logReads {
      restore(spark, t, 103L) // v105: re-adds snapshot 103 by reference
    }
    assert(rReads <= budget,
      s"restore replayed $rReads version files (full replay would be ≥105)")
    assert(read(spark, t).count() == 1040L, "restore landed off-target")
    // fold + append so the horizon moves past every original file's
    // last reference — they become genuinely dead
    compact(spark, t) // v106
    append(spark, t, rangeDf(2000, 2010)) // v107
    // a 30-version window resolves its retained files from ONE replay
    // (the horizon snapshot, then each retained commit once); resolving
    // every retained version from its own checkpoint read 129
    val wide = logReads {
      val (v, deleted) = vacuum(spark, t, retainVersions = 30) // horizon 78
      assert(v == 108L && deleted == 0, "every file is live at v105")
    }
    assert(wide <= 30L + CheckpointInterval,
      s"a 30-version vacuum window read $wide version files")
    val vReads = logReads {
      val (_, deleted) = vacuum(spark, t, retainVersions = 2) // horizon 107
      assert(deleted >= 100, s"vacuum reaped only $deleted dead files")
    }
    assert(vReads <= budget,
      s"vacuum replayed $vReads version files (full replay would be ≥108)")
    val preRows = 1050L
    // answers pinned after the vacuum; pre-horizon time travel fences
    assert(read(spark, t).count() == preRows)
    intercept[IllegalArgumentException] { read(spark, t, asOf = 3L) }
    // a second vacuum is a cheap no-op (the dead set was pruned from
    // the checkpoint's extant-adds index, so nothing is re-deleted)
    val (_, again) = vacuum(spark, t, retainVersions = 2)
    assert(again == 0, "re-vacuum must find nothing to delete")
  }

  test("concurrent DIFFERENT streams compose through the version protocol") {
    // the appendStreamBatch doc promises single-writer-per-streamId but
    // free composition ACROSS streams — three streams of three batches
    // each, racing: every batch lands exactly once, no version is lost
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    val threads = (0 until 3).map { k =>
      new Thread(() => {
        (0 until 3).foreach { b =>
          appendStreamBatch(spark, t,
            rangeDf(100 + k * 30 + b * 10, 110 + k * 30 + b * 10),
            s"s$k", b.toLong)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(currentVersion(t) == 9L, "9 stream commits must all land")
    assert(read(spark, t).count() == 100)
    assert(read(spark, t).agg(countDistinct(col("id"))).head().getLong(0)
      == 100)
    // per-stream high-water marks survived the interleaving
    (0 until 3).foreach { k =>
      assert(appendStreamBatch(spark, t, rangeDf(0, 5), s"s$k", 2L).isEmpty,
        s"stream s$k must treat batch 2 as already applied")
    }
  }

  test("restore aborts when a concurrent vacuum fences the target mid-race") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 20)) // v0: file A
    compact(spark, t) // v1: file B, A logically removed
    val fileA = snapshotFiles(t, 0L).head
    // interleave the vacuum INSIDE restore's race window (between its
    // version read and tryCommit); the one-shot guard keeps the hook
    // from recursing when the vacuum itself reaches its own hook site
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      vacuum(spark, t, retainVersions = 1) // v2: horizon 1, deletes A
    }
    try {
      val e = intercept[IllegalArgumentException] { restore(spark, t, 0L) }
      assert(e.getMessage.contains("vacuumed"))
    } finally TxnTable.preCommitHook = () => ()
    assert(fired, "hook must have interleaved the vacuum")
    // the aborted restore resurrected nothing: A stays deleted and
    // unreferenced, the table reads clean at its vacuumed state
    assert(!Files.exists(java.nio.file.Paths.get(t).resolve(fileA)))
    assert(!snapshotFiles(t).contains(fileA))
    assert(read(spark, t).count() == 20)
  }

  test("deleteWhere rebases past a concurrent append without redoing work") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 50))
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true // steal the version the delete computed against
      append(spark, t, rangeDf(50, 60))
    }
    // an append touches none of the delete's removes — it COMMUTES: the
    // delete must re-commit the same adds/removes at the new head
    // instead of aborting (or worse, redoing its rewrite job)
    val (v, writes) =
      try OpMetrics.scope(deleteWhere(spark, t, col("id") < 10))
      finally TxnTable.preCommitHook = () => ()
    assert(fired)
    // the append took v1; the rebased delete landed at v2
    assert(v == 2L && currentVersion(t) == 2L)
    // exactly TWO data writes happened: the delete's survivor rewrite
    // and the interleaved append — the rebase re-ran NO write job
    assert(writes.count(TxnTable.DataWriteJobs) == 2,
      "rebase must re-commit metadata, not re-run the rewrite")
    // both writers' effects are live: 50 - 10 deleted + 10 appended
    assert(read(spark, t).count() == 50)
    assert(read(spark, t).filter(col("id") >= 50).count() == 10,
      "rebased delete must not undo the interleaved append")
    assert(read(spark, t).agg(min(col("id"))).head().getLong(0) == 10L)
    assert(onDisk(t) == referenced(t))
  }

  test("compact racing a deleteWhere of a compacted file still aborts") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 50), partitions = 2)
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true // rewrite one of the files the compact also removes
      deleteWhere(spark, t, col("id") < 5)
    }
    try {
      // a TRUE overlap: the interleaved delete removed a file this
      // compact's rewrite was computed from — rebasing would resurrect
      // the deleted rows, so the compact must abort and clean staging
      intercept[TxnConflictException] { compact(spark, t) }
    } finally TxnTable.preCommitHook = () => ()
    assert(fired)
    assert(onDisk(t) == referenced(t), "aborted compact orphaned staged files")
    assert(read(spark, t).count() == 45, "interleaved delete intact")
    // and succeeds once the log is quiet
    compact(spark, t)
    assert(read(spark, t).count() == 45)
    assert(onDisk(t) == referenced(t))
  }

  test("append re-validates schema after losing the race to an evolution") {
    import org.apache.spark.sql.functions.lit
    val t = freshTable()
    create(spark, t, rangeDf(0, 10)) // v0: (id, s)
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true // steal the version with an evolved-schema append
      append(spark, t, rangeDf(50, 60).withColumn("extra", lit(1)),
        evolveSchema = true)
    }
    try {
      // entry checkSchema passes (schema still (id, s)); the hook then
      // evolves the table, the stale append loses the version race, and
      // the per-retry re-validation must fail it loudly
      intercept[SchemaMismatchException] { append(spark, t, rangeDf(10, 20)) }
    } finally TxnTable.preCommitHook = () => ()
    assert(fired)
    assert(currentVersion(t) == 1L, "only the evolution may have committed")
    assert(read(spark, t).columns.toSet == Set("id", "s", "extra"))
    assert(read(spark, t).count() == 20)
  }

  /** Bare names of the data files physically on disk. */
  private def onDisk(t: String): Set[String] = {
    val dd = java.nio.file.Paths.get(t, "data")
    val s = java.nio.file.Files.list(dd)
    try {
      val it = s.iterator(); val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().getFileName.toString
      b.result()
    } finally s.close()
  }

  /** Bare names of every data file any commit ever referenced. */
  private def referenced(t: String): Set[String] =
    commits(t).flatMap(_.adds).map(_.path.stripPrefix("data/")).toSet

  test("compactClustered rebases past a committing appender, files intact") {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 1024).map(i => (i.toLong, (i % 32).toLong)).toDF("id", "a")
    create(spark, t, df, partitions = 4)
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true // steal the version the clustering computed against
      append(spark, t, (5000 until 5010).map(i => (i.toLong, 0L)).toDF("id", "a"))
    }
    // the maintenance-starvation scenario: an always-on stream commits
    // mid-compaction. The append commutes (it touches none of the
    // compact's removes), so the compaction must land at the next
    // version WITHOUT re-running its rewrite job.
    val (v, writes) = try OpMetrics.scope(
        compactClustered(spark, t, Seq(col("id"), col("a")), targetFiles = 8))
      finally TxnTable.preCommitHook = () => ()
    assert(fired)
    assert(v == 2L && currentVersion(t) == 2L)
    assert(writes.count(TxnTable.DataWriteJobs) == 2,
      "one clustered rewrite + one interleaved append — rebase redid nothing")
    // the appended file survived the rebased compact: it is live and
    // NOT among the compact's removes
    val appendAdds = commits(t).find(_.version == 1L).get.adds.map(_.path).toSet
    val compactRemoves = commits(t).find(_.version == 2L).get.removes.toSet
    assert(appendAdds.nonEmpty && appendAdds.intersect(compactRemoves).isEmpty)
    assert(appendAdds.subsetOf(snapshotFiles(t).toSet))
    assert(read(spark, t).count() == 1034)
    assert(onDisk(t) == referenced(t))
    // and the clustered layout still serves pruned reads
    assert(readPruned(spark, t, Seq(Bound.LongRange("id", 100L, 150L)))
      .count() == 51)
  }

  test("aborted append and duplicate stream batch clean their staging") {
    import org.apache.spark.sql.functions.lit
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    // schema-race abort: entry validation passes, the hook evolves the
    // table, the retry re-validation throws — staged files must go
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      append(spark, t, rangeDf(50, 60).withColumn("extra", lit(1)),
        evolveSchema = true)
    }
    try intercept[SchemaMismatchException] { append(spark, t, rangeDf(10, 20)) }
    finally TxnTable.preCommitHook = () => ()
    assert(onDisk(t) == referenced(t), "aborted append orphaned staged files")
    // duplicate stream batch discovered only AFTER staging: the batch
    // loses the race to its own first delivery and must unstage
    val evolved = rangeDf(100, 110).withColumn("extra", lit(1))
    fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      appendStreamBatch(spark, t, evolved, "s1", 7L)
    }
    val res = try appendStreamBatch(spark, t, evolved, "s1", 7L)
      finally TxnTable.preCommitHook = () => ()
    assert(res.isEmpty, "redelivered batch must be a no-op")
    assert(onDisk(t) == referenced(t), "duplicate batch orphaned staged files")
    assert(read(spark, t).filter(col("id") >= 100).count() == 10,
      "the batch landed exactly once")
  }

  test("deleteWhere on a multi-hundred-file snapshot rewrites only hits") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 600), partitions = 300)
    assert(snapshotFiles(t).size >= 200, "layout must be many-file")
    val v = deleteWhere(spark, t, col("id") < 4)
    assert(v == 1L)
    assert(read(spark, t).count() == 596)
    assert(read(spark, t).agg(min(col("id"))).head().getLong(0) == 4L)
    // set-membership matching: only the few files containing hits were
    // removed, the other hundreds are carried by reference
    val del = commits(t).find(_.op == "delete").get
    assert(del.removes.nonEmpty && del.removes.size <= 4,
      s"expected <=4 rewritten files, got ${del.removes.size}")
    assert(read(spark, t, asOf = 0).count() == 600)
  }

  test("readPruned indexes only live snapshot files; orphans are ignored") {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 256).map(i => (i.toLong, (i / 64).toLong)).toDF("id", "a")
    create(spark, t, df, partitions = 4)
    // an unreadable orphan next to the data files (a crashed writer's
    // leftover): a whole-directory footer sweep would throw on it; the
    // snapshot-scoped index must never open it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "data", "part-orphan.parquet"),
      "not a parquet file".getBytes)
    val pruned = readPruned(spark, t, Seq(Bound.LongRange("a", 1L, 2L)))
    assert(pruned.count() == 128)
    assert(pruned.agg(min(col("id")), max(col("id"))).head() match {
      case r => r.getLong(0) == 64L && r.getLong(1) == 191L
    })
    // a file vanishing between listing and footer read (concurrent
    // vacuum) degrades to "skipped", not an exception
    val idx = graft.crawler.SkippingIndex.buildForFiles(spark,
      Seq(t + "/data/does-not-exist.parquet"), Seq("a"))
    assert(idx.count() == 0)
  }

  test("merge replaces matched keys and inserts the rest in ONE commit") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 50))
    val src = (40 until 60).map(i => (i.toLong, s"new$i")).toDF("id", "s")
    val v = merge(spark, t, src, Seq("id"))
    // atomicity: exactly one commit — no reader can ever observe the
    // "deleted but not yet re-inserted" intermediate of a delete+append
    assert(v == 1L && currentVersion(t) == 1L)
    val now = read(spark, t).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now.size == 60)
    assert(now(10L) == "row10", "unmatched rows untouched")
    assert(now(45L) == "new45", "matched rows replaced")
    assert(now(55L) == "new55", "unmatched source rows inserted")
    // snapshot isolation: the pre-merge version is intact
    assert(read(spark, t, asOf = 0).filter(col("s") === "row45").count() == 1)
  }

  test("merge appends null-keyed rows without matching anything") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    // a null-keyed bookkeeping row rides the same commit as the keyed
    // replacement (the TxnIndex stats-delta shape)
    val src = Seq((Some(5L), "new5"), (None, "ledger"))
      .toDF("id", "s")
    merge(spark, t, src, Seq("id"))
    val rows = read(spark, t).collect()
    assert(rows.length == 11)
    assert(rows.count(_.isNullAt(0)) == 1)
    assert(rows.exists(r => !r.isNullAt(0) && r.getLong(0) == 5L &&
      r.getString(1) == "new5"))
  }

  test("merge rewrites only files containing matched keys") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 600), partitions = 300)
    assert(snapshotFiles(t).size >= 200)
    merge(spark, t, Seq((3L, "n3")).toDF("id", "s"), Seq("id"))
    val m = commits(t).find(_.op == "merge").get
    assert(m.removes.size <= 4,
      s"expected <=4 rewritten files, got ${m.removes.size}")
    assert(read(spark, t).count() == 600)
  }

  test("merge rebases past a concurrent append; overwrite cannot commute") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 50))
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true // steal the version the merge computed against
      append(spark, t, rangeDf(100, 110))
    }
    // a plain (non-CAS) merge commutes with an append of disjoint files
    val v = try merge(spark, t, Seq((5L, "n5")).toDF("id", "s"), Seq("id"))
      finally TxnTable.preCommitHook = () => ()
    assert(fired)
    assert(v == 2L && read(spark, t).count() == 60, "both writers landed")
    assert(read(spark, t).filter(col("s") === "n5").count() == 1)
    assert(onDisk(t) == referenced(t))
    // INSERT OVERWRITE replaces the WHOLE logical content — an
    // interleaved append cannot commute (the overwrite's removes,
    // resolved at base, would leave the appended file alive), so it
    // must still abort and clean its staging
    fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      append(spark, t, rangeDf(200, 210))
    }
    try intercept[TxnConflictException] {
      overwrite(spark, t, rangeDf(300, 305))
    } finally TxnTable.preCommitHook = () => ()
    assert(fired)
    assert(onDisk(t) == referenced(t), "aborted overwrite orphaned staging")
    assert(read(spark, t).count() == 70, "interleaved append intact")
    // but a vacuum changes no files — the overwrite rebases past it
    fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      vacuum(spark, t, retainVersions = 100) // metadata-only commit
    }
    val ov = try overwrite(spark, t, rangeDf(300, 305))
      finally TxnTable.preCommitHook = () => ()
    assert(fired)
    assert(ov == currentVersion(t) && read(spark, t).count() == 5)
    assert(onDisk(t) == referenced(t))
  }

  test("merge expectedBase CAS rejects a stale snapshot up front") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    append(spark, t, rangeDf(10, 20))
    // a caller whose inputs were computed against version 0 must NOT
    // commit over version 1 (TxnIndex.upsert's stats fold would be stale)
    intercept[TxnConflictException] {
      merge(spark, t, Seq((1L, "x")).toDF("id", "s"), Seq("id"),
        expectedBase = 0L)
    }
    assert(currentVersion(t) == 1L)
    assert(onDisk(t) == referenced(t))
  }

  test("appendCas commits at expectedBase+1 or rejects without staging leaks") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    assert(appendCas(spark, t, rangeDf(10, 20), expectedBase = 0L) == 1L)
    // stale base: the caller's rows were derived from version 0 — reject
    intercept[TxnConflictException] {
      appendCas(spark, t, rangeDf(20, 30), expectedBase = 0L)
    }
    assert(currentVersion(t) == 1L)
    assert(onDisk(t) == referenced(t), "rejected CAS append leaked staging")
    // clustered CAS append: files carry tight ranges for readPruned
    val wide = (1000 until 1512).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    appendCas(spark, t, wide, expectedBase = 1L,
      clusterBy = Seq(col("id")), partitions = 8)
    val pruned = readPruned(spark, t,
      Seq(Bound.LongRange("id", 1100L, 1150L)))
    assert(pruned.count() == 51)
  }

  test("overwriteClustered atomically replaces content, history readable") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 100), partitions = 4)
    append(spark, t, rangeDf(100, 200))
    val next = (0 until 64).map(i => (i.toLong * 10, s"n$i")).toDF("id", "s")
    val v = overwriteClustered(spark, t, next, Seq(col("id")), targetFiles = 4)
    assert(v == 2L && currentVersion(t) == 2L, "overwrite is ONE commit")
    assert(read(spark, t).count() == 64)
    // every pre-overwrite version still serves its own content
    assert(read(spark, t, asOf = 0).count() == 100)
    assert(read(spark, t, asOf = 1).count() == 200)
    // the new layout is clustered: a narrow range prunes files
    val o = commits(t).find(_.op == "overwrite").get
    assert(o.removes.size >= 4 && o.adds.size == 4)
    assert(readPruned(spark, t, Seq(Bound.LongRange("id", 0L, 90L)))
      .count() == 10)
  }

  test("merge on a schema-evolved table preserves evolved columns") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 50), partitions = 2)
    // evolve: add column `v`, append a second generation carrying it
    append(spark, t,
      (50 until 80).map(i => (i.toLong, s"row$i", i * 2)).toDF("id", "s", "v"),
      evolveSchema = true)
    // merge keyed into the EVOLVED-generation rows: the survivor rewrite
    // must read those files with the evolved schema — single-footer
    // inference from an old-generation file would drop `v` from every
    // rewritten survivor (the silent-data-loss hazard, now pinned)
    val upd = Seq((55L, "upd", 999)).toDF("id", "s", "v")
    merge(spark, t, upd, Seq("id"))
    val after = read(spark, t)
    assert(after.columns.toSeq == Seq("id", "s", "v"))
    val survivors = after.filter(col("id").between(50, 79) && col("id") =!= 55)
      .select(col("id"), col("v")).collect()
    assert(survivors.length == 29)
    assert(survivors.forall(r => r.getInt(1) == r.getLong(0) * 2),
      "survivor rows lost their evolved column values")
    assert(after.filter(col("id") === 55).head().getInt(2) == 999)
  }

  test("compact on a schema-evolved table preserves evolved columns") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 20))
    append(spark, t,
      (20 until 30).map(i => (i.toLong, s"row$i", i * 3)).toDF("id", "s", "v"),
      evolveSchema = true)
    compact(spark, t, targetFiles = 1)
    val after = read(spark, t)
    assert(after.columns.toSeq == Seq("id", "s", "v"))
    assert(after.filter(col("id") === 25).head().getInt(2) == 75)
    assert(after.filter(col("id") === 5).head().isNullAt(2),
      "pre-evolution rows null-fill the evolved column")
  }

  test("plain overwrite replaces content in one commit, history readable") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 40), partitions = 2)
    val v = overwrite(spark, t, rangeDf(100, 110))
    assert(v == 1L && read(spark, t).count() == 10)
    assert(read(spark, t, asOf = 0).count() == 40)
    assert(onDisk(t) == referenced(t))
  }

  test("appendCas fails FAST on a moved base — before staging any data") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 10))
    append(spark, t, rangeDf(10, 20)) // base is now 1
    // poison frame: schema resolved eagerly, then the backing files are
    // deleted — ANY job over it throws. The CAS reject must win the
    // race to the exception, proving no staging write ever ran.
    val tmp = Files.createTempDirectory("graft_cas_poison").toString
    rangeDf(0, 5).write.mode("overwrite").parquet(tmp)
    val poisoned = spark.read.parquet(tmp).select(col("id"), col("s"))
    new java.io.File(tmp).listFiles().foreach(_.delete())
    intercept[TxnConflictException] {
      appendCas(spark, t, poisoned, expectedBase = 0L)
    }
    assert(currentVersion(t) == 1L)
  }

  test("merge on a multi-hundred-file snapshot rewrites only hit files") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 300), partitions = 300)
    val nFiles = snapshotFiles(t).size
    assert(nFiles > 150, s"want a multi-hundred-file snapshot, got $nFiles")
    // 3 keys land in ≤3 files; the hit-file detection is a distributed
    // join end-to-end (collect only feeds commit metadata)
    val keys = Seq(7L, 130L, 288L)
    val expectedHits = read(spark, t)
      .withColumn("__f", input_file_name())
      .filter(col("id").isInCollection(keys))
      .select(col("__f")).distinct().count()
    val upd = keys.map(k => (k, s"u$k")).toDF("id", "s")
    merge(spark, t, upd, Seq("id"))
    val m = commits(t).find(_.op == "merge").get
    assert(m.removes.size == expectedHits,
      s"expected $expectedHits hit files rewritten, got ${m.removes.size}")
    assert(read(spark, t).count() == 300)
    assert(read(spark, t).filter(col("s").startsWith("u")).count() == 3)
  }

  test("clustered stream append keeps footer pruning tight") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 1).limit(0))
    val batch = (0 until 512).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    appendStreamBatch(spark, t, batch, "cstream", 0L,
      partitions = 8, clusterBy = Seq(col("id")))
    assert(readPruned(spark, t, Seq(Bound.LongRange("id", 100L, 120L)))
      .count() == 21)
    // redelivery of the clustered batch is still a no-op
    assert(appendStreamBatch(spark, t, batch, "cstream", 0L,
      partitions = 8, clusterBy = Seq(col("id"))).isEmpty)
  }

  test("readPrunedBox: z-ordered layout prunes in BOTH dimensions") {
    import spark.implicits._
    val t = freshTable()
    // 32×32 grid; z-order clusters (a, b) so each file owns a box
    val grid = (for (a <- 0 until 32; b <- 0 until 32)
      yield (a.toLong, b.toLong, a * 32L + b)).toDF("a", "b", "v")
    create(spark, t, grid, partitions = 4)
    compactClustered(spark, t, Seq(col("a"), col("b")), targetFiles = 16)
    val live = snapshotFiles(t).size
    val boxed = readPruned(spark, t,
      Seq(Bound.LongRange("a", 4L, 7L),
        Bound.LongRange("b", 20L, 23L)))
    assert(boxed.count() == 16)
    assert(boxed.agg(sum(col("v"))).head().getLong(0) ==
      (for (a <- 4 to 7; b <- 20 to 23) yield a * 32L + b).sum)
    val read = boxed.inputFiles.length
    assert(read > 0 && read < live,
      s"box read must be a strict subset: $read of $live files")
    // and tighter than either single-dimension prune alone
    val onlyA =
      readPruned(spark, t, Seq(Bound.LongRange("a", 4L, 7L))).inputFiles.length
    assert(read <= onlyA, s"box read $read beat by 1-dim read $onlyA")
    // empty box → zero files
    assert(readPruned(spark, t,
      Seq(Bound.LongRange("a", 500L, 600L),
        Bound.LongRange("b", 0L, 31L)))
      .inputFiles.isEmpty)
  }

  test("source vacuum honors registered clone pins; releaseClone lifts them") {
    val root = Files.createTempDirectory("graft_clonepin").toString
    val src = s"$root/src"
    val dst = s"$root/clone"
    val dst2 = s"$root/clone2"
    create(spark, src, rangeDf(0, 40), partitions = 2) // v0
    cloneShallow(spark, src, dst)  // pin @ v0
    cloneShallow(spark, src, dst2) // second pin @ v0 (distinct reg file)
    // source moves on and fully rewrites, so v0's files are dead by
    // retention — only the pins keep them alive
    deleteWhere(spark, src, col("id") < 20) // v1
    compact(spark, src)                     // v2
    val v0Files = snapshotFiles(src, 0L)
    vacuum(spark, src, retainVersions = 1)
    assert(v0Files.forall(f =>
      Files.exists(java.nio.file.Paths.get(src).resolve(f))),
      "vacuum must keep every file a registered clone references")
    assert(read(spark, dst).count() == 40, "pinned clone reads intact")
    // releasing ONE clone must not unpin the other (collision-resistant
    // registry names + dst verification)
    assert(releaseClone(src, dst))
    assert(!releaseClone(src, dst), "double release reports nothing left")
    vacuum(spark, src, retainVersions = 1)
    assert(read(spark, dst2).count() == 40,
      "releasing one clone must not unpin another")
    // after the LAST release an equally aggressive vacuum reaps v0
    assert(releaseClone(src, dst2))
    val (_, reaped) = vacuum(spark, src, retainVersions = 1)
    assert(reaped > 0, "released pins must become reapable")
    assert(v0Files.exists(f =>
      !Files.exists(java.nio.file.Paths.get(src).resolve(f))))
    assert(read(spark, src).count() == 20, "source content unaffected")
  }

  test("vacuum orphan sweep reaps stale debris, spares fresh staging") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 20))
    val dd = java.nio.file.Paths.get(t, "data")
    val oldStray = dd.resolve("part-stray-crashed-writer.parquet")
    Files.write(oldStray, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(oldStray,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000))
    val freshStray = dd.resolve("part-stray-inflight-writer.parquet")
    Files.write(freshStray, Array[Byte](4, 5, 6))
    // grace off (default): debris is never touched
    vacuum(spark, t, retainVersions = 2)
    assert(Files.exists(oldStray) && Files.exists(freshStray))
    // grace on: only the stray OLDER than the window is swept
    val (_, deleted) = vacuum(spark, t, retainVersions = 2,
      orphanGraceMs = 60L * 1000)
    assert(deleted >= 1 && !Files.exists(oldStray))
    assert(Files.exists(freshStray),
      "a fresh in-flight staged file must survive the sweep")
    assert(read(spark, t).count() == 20, "committed data untouched")
  }

  test("rewrite does not rebase past an interleaved schema evolution") {
    val t = freshTable()
    create(spark, t, rangeDf(0, 50))
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true // interleave a schema-EVOLVING append: no file
      // overlap with the delete's removes, but it records a schema —
      // the ConcurrentMetadataChange rule must abort the rebase
      append(spark, t, rangeDf(50, 60).withColumn("extra", lit(1L)),
        evolveSchema = true)
    }
    try {
      intercept[TxnConflictException] {
        deleteWhere(spark, t, col("id") < 10)
      }
    } finally TxnTable.preCommitHook = () => ()
    assert(fired)
    assert(onDisk(t) == referenced(t), "aborted rewrite must clean staging")
    assert(read(spark, t).count() == 60, "evolved append intact")
    // once the log is quiet the delete re-runs under the evolved schema
    deleteWhere(spark, t, col("id") < 10)
    assert(read(spark, t).count() == 50)
  }

  test("deleteMatching removes by distributive key join") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 100), partitions = 4)
    // the doomed set is a DataFrame — no driver-side key list, no
    // predicate literal; the shape a reconciliation pass needs
    val doomed = (0 until 100 by 7).map(_.toLong).toDF("id")
    val v = deleteMatching(spark, t, doomed, Seq("id"))
    assert(v == 1L)
    val left = read(spark, t).select("id").collect().map(_.getLong(0)).toSet
    assert(left.size == 100 - 15)
    assert((0 until 100 by 7).forall(i => !left.contains(i.toLong)))
    assert(read(spark, t, asOf = 0).count() == 100)
  }

  test("commit log survives control characters in bounds and ops") {
    import spark.implicits._
    val t = freshTable()
    // string values containing newline / tab / a raw control byte land
    // as the file's min/max bounds in the stats-in-log cache — the
    // commit JSON must stay parseable or EVERY subsequent read of the
    // table throws (the table would be permanently bricked)
    val df = Seq(
      (1L, "a\nmulti\tline"),
      (2L, "z\rtrailing"),
      (3L, "plain")).toDF("id", "s")
    create(spark, t, df)
    assert(read(spark, t).count() == 3) // log replays cleanly
    // a multi-line constraint SQL embeds into the op field the same way
    addConstraint(spark, t, "s_len", "length(s)\n  <= 40")
    append(spark, t, Seq((4L, "ok\nalso")).toDF("id", "s"))
    assert(read(spark, t).count() == 4)
    assert(constraints(t)("s_len") == "length(s)\n  <= 40")
    // the constraint still ENFORCES after its round-trip through JSON
    intercept[Exception] {
      append(spark, t, Seq((5L, "x" * 50)).toDF("id", "s"))
    }
    // bounds round-trip exactly: the logged stats match a fresh footer
    // read of the same file (no lossy escaping on either side)
    val hist = history(spark, t).collect()
    assert(hist.length >= 3)
    // survives a checkpoint write/read cycle too
    (0 until CheckpointInterval).foreach { i =>
      append(spark, t, Seq((10L + i, "row")).toDF("id", "s"))
    }
    assert(read(spark, t).count() == 4 + CheckpointInterval)
    assert(constraints(t).contains("s_len"))
  }

  test("a table recreated at the same path never serves the dead " +
    "table's memoized schema") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("graft_rebirth").toString + "/t"
    create(spark, t, Seq((1L, "x")).toDF("id", "name"))
    assert(read(spark, t).columns.toSeq == Seq("id", "name")) // memoizes
    // external death: the whole table directory is wiped …
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).iterator().asScala.foreach(rm)
      Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(t))
    // … and a DIFFERENT table is born at the same path: reads must bind
    // the new schema, not the memoized (path, version) entry of the
    // dead one
    create(spark, t, Seq((5L, 7L, 9L)).toDF("k", "n", "m"))
    val cols = read(spark, t).columns.toSeq
    assert(cols == Seq("k", "n", "m"),
      s"stale memoized schema served after rebirth: $cols")
    assert(read(spark, t).agg(sum(col("n"))).head().getLong(0) == 7L)
  }

  test("convertParquet rejects an adoption with duplicate file " +
    "basenames (the DV-ambiguity guard)") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_convdup").toString
    // two year partitions whose leaves collide — the classic
    // hand-partitioned layout that would corrupt basename-keyed DVs
    Seq((1L, "a")).toDF("id", "s").coalesce(1)
      .write.parquet(s"$d/2020")
    Seq((2L, "b")).toDF("id", "s").coalesce(1)
      .write.parquet(s"$d/2021")
    import scala.jdk.CollectionConverters._
    def leaf(dir: String): java.nio.file.Path = {
      val it = Files.list(java.nio.file.Paths.get(dir))
      try it.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      finally it.close()
    }
    Files.move(leaf(s"$d/2020"),
      java.nio.file.Paths.get(s"$d/2020/part-0.parquet"))
    Files.move(leaf(s"$d/2021"),
      java.nio.file.Paths.get(s"$d/2021/part-0.parquet"))
    val e = intercept[IllegalArgumentException] {
      convertParquet(spark, d)
    }
    assert(e.getMessage.contains("duplicate file basenames"),
      s"wrong rejection: ${e.getMessage}")
    assert(currentVersion(d) < 0, "a rejected convert must not commit")
    // unique leaves adopt fine
    Files.move(java.nio.file.Paths.get(s"$d/2021/part-0.parquet"),
      java.nio.file.Paths.get(s"$d/2021/part-1.parquet"))
    convertParquet(spark, d)
    assert(read(spark, d).count() == 2)
  }

  test("convertParquet fails loudly when a listed file vanishes " +
    "before the footer harvest (never a silent rows=0 add)") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_convgone").toString + "/p"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(2)
      .write.parquet(d)
    Files.deleteIfExists(java.nio.file.Paths.get(s"$d/_SUCCESS"))
    import scala.jdk.CollectionConverters._
    val victim = {
      val it = Files.list(java.nio.file.Paths.get(d))
      try it.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      finally it.close()
    }
    convertHarvestHook = () => { Files.deleteIfExists(victim); () }
    try {
      val e = intercept[Exception] { convertParquet(spark, d) }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("disappeared during the footer")),
        s"wrong failure: ${chain(e)}")
      assert(currentVersion(d) < 0, "a failed convert must not commit")
    } finally convertHarvestHook = () => ()
  }

  test("copyInto contracts: path-identity idempotence, schema and " +
    "basename fences, constraint validation on the new rows only") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ci").toString
    val t = s"$root/t"
    create(spark, t, Seq.empty[(Long, Long)].toDF("id", "v")) // v0
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$root/land/b1")
    assert(copyInto(spark, t, s"$root/land") == 1L)
    assert(read(spark, t).count() == 2)
    // identity is the PATH: a re-run of the same directory no-ops at
    // the unchanged head (an in-place rewrite would not reload either
    // — rename new data, per the documented contract)
    assert(copyInto(spark, t, s"$root/land") == 1L)
    // a source column the table lacks is loud
    Seq((3L, 30L, "x")).toDF("id", "v", "extra").coalesce(1)
      .write.parquet(s"$root/land2/b")
    val se = intercept[IllegalArgumentException] {
      copyInto(spark, t, s"$root/land2")
    }
    assert(se.getMessage.contains("does not match the table schema"))
    // a basename colliding with a live file is loud
    import scala.jdk.CollectionConverters._
    val liveLeaf = snapshotFiles(t).map(_.split('/').last)
      .find(_ => true).get
    Seq((9L, 90L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$root/land3/b")
    val it = Files.list(java.nio.file.Paths.get(s"$root/land3/b"))
    val part = try it.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).next()
    finally it.close()
    Files.move(part, part.getParent.resolve(liveLeaf))
    val be = intercept[IllegalArgumentException] {
      copyInto(spark, t, s"$root/land3")
    }
    assert(be.getMessage.contains("basename collision"))
    // constraints validate against the NEW rows (the already-loaded
    // batch is never re-scanned, and a violating batch never commits)
    addConstraint(spark, t, "v_pos", "v > 0")
    Seq((4L, -5L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$root/land/b2")
    val vBefore = currentVersion(t)
    intercept[Exception] { copyInto(spark, t, s"$root/land") }
    assert(currentVersion(t) == vBefore,
      "a violating COPY INTO must not commit")
    // …and a clean batch after it loads incrementally
    Seq((5L, 50L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$root/land4/b")
    // drop the violating file, then re-point the landing dir
    val w2 = Files.walk(java.nio.file.Paths.get(s"$root/land/b2"))
    try w2.sorted(java.util.Comparator.reverseOrder())
      .iterator().forEachRemaining(p => { Files.deleteIfExists(p); () })
    finally w2.close()
    assert(copyInto(spark, t, s"$root/land4") == vBefore + 1)
    assert(read(spark, t).agg(sum(col("v"))).head().getLong(0) == 80L)
  }

  test("copyInto composes with time travel and restore like any commit") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_citt").toString
    val t = s"$root/t"
    create(spark, t, Seq((1L, 10L)).toDF("id", "v")) // v0
    Seq((2L, 20L), (3L, 30L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$root/land/b1")
    copyInto(spark, t, s"$root/land") // v1
    append(spark, t, Seq((4L, 40L)).toDF("id", "v")) // v2
    // the pre-copy snapshot excludes the adopted files
    assert(read(spark, t, 0L).collect().map(_.getLong(0)).toSet == Set(1L))
    assert(read(spark, t, 1L).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    assert(read(spark, t).count() == 4)
    // restore to the pre-copy version, then the copy no-ops: its
    // files are still REFERENCED by the log (path identity), so a
    // restore does not resurrect them through COPY INTO — re-adding
    // is an explicit restore to v1
    restore(spark, t, 0L) // v3
    assert(read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L))
    assert(copyInto(spark, t, s"$root/land") == 3L,
      "already-referenced sources never reload")
    restore(spark, t, 1L) // v4: the adopted content returns intact
    assert(read(spark, t).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
  }

  test("copyInto re-validates basenames against the REBASED snapshot: " +
    "a concurrent commit adding the same leaf name is refused, not " +
    "blindly re-committed") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_cirace").toString
    val t = s"$root/t"
    create(spark, t, Seq.empty[(Long, Long)].toDF("id", "v")) // v0
    // two landing dirs, DIFFERENT paths, SAME file basename
    def land(dir: String, id: Long): Unit = {
      Seq((id, id * 10L)).toDF("id", "v").coalesce(1)
        .write.parquet(s"$root/$dir/b")
      val it = Files.list(java.nio.file.Paths.get(s"$root/$dir/b"))
      val part = try it.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      finally it.close()
      Files.move(part, part.getParent.resolve("clash.parquet")); ()
    }
    land("land1", 1L)
    land("land2", 2L)
    // interleave a rival COPY INTO of land2 inside land1's commit race
    // window: the entry-time guard ran against v0 (no live clash), so
    // only a retry-branch re-check can catch the rebased collision —
    // without it two live files would share a leaf and every later
    // MOR DML would die on the dup-leaf require
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      copyInto(spark, t, s"$root/land2") // v1: adopts land2's clash.parquet
    }
    val e = try intercept[IllegalArgumentException] {
      copyInto(spark, t, s"$root/land1")
    } finally TxnTable.preCommitHook = () => ()
    assert(fired, "hook must have interleaved the rival COPY INTO")
    assert(e.getMessage.contains(
      "basename collision introduced by a concurrent commit"),
      s"wrong failure: ${e.getMessage}")
    // invariant held: exactly one live file with that leaf, the rival's
    assert(snapshotFiles(t).map(_.split('/').last)
      .count(_ == "clash.parquet") == 1)
    assert(read(spark, t).as[(Long, Long)].collect().toSet ==
      Set((2L, 20L)))
    // …and MOR DML on the table still works (nothing was corrupted)
    deleteWhereMor(spark, t, col("id") === 2L)
    assert(read(spark, t).count() == 0)
  }

  test("copyIntoFormat: CSV/JSON materialize through the write path " +
    "with source-path idempotence; coercion, null-fill, refusals, and " +
    "atomic aborts") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_cif").toString
    val t = s"$root/t"
    create(spark, t, Seq.empty[(Long, String, Long)].toDF("id", "s", "v"))
    // CSV: untyped text coerces into the table shape
    Files.writeString(java.nio.file.Paths.get(root).resolve("drop1.csv"),
      "id,s,v\n1,a,10\n2,b,20\n")
    Files.createDirectories(java.nio.file.Paths.get(s"$root/land"))
    Files.move(java.nio.file.Paths.get(root).resolve("drop1.csv"),
      java.nio.file.Paths.get(s"$root/land/drop1.csv"))
    assert(copyIntoFormat(spark, t, s"$root/land", "csv") == 1L)
    val c1 = commits(t).last
    assert(c1.op.startsWith("copyinto:csv:["), c1.op)
    assert(c1.adds.forall(!_.path.contains("/land/")),
      "formatted loads must materialize bytes under the table")
    val h1 = read(spark, t)
    assert(h1.schema("id").dataType == LongType &&
      h1.schema("v").dataType == LongType)
    assert(h1.as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 10L), (2L, "b", 20L)))
    // idempotence: same dir no-ops; a NEW file loads alone
    assert(copyIntoFormat(spark, t, s"$root/land", "csv") == 1L)
    Files.writeString(java.nio.file.Paths.get(s"$root/land/drop2.csv"),
      "id,s,v\n3,c,30\n")
    assert(copyIntoFormat(spark, t, s"$root/land", "csv") == 2L)
    assert(read(spark, t).count() == 3)
    // JSON: typed source, SUBSET of columns → the missing one null-fills
    Files.createDirectories(java.nio.file.Paths.get(s"$root/jland"))
    Files.writeString(java.nio.file.Paths.get(s"$root/jland/d.json"),
      """{"id": 4, "s": "d"}""" + "\n" + """{"id": 5, "s": "e"}""" + "\n")
    assert(copyIntoFormat(spark, t, s"$root/jland", "json") == 3L)
    assert(commits(t).last.op.startsWith("copyinto:json:["))
    assert(read(spark, t).filter(col("v").isNull).count() == 2)
    // refusals: a source column the table lacks; a malformed value —
    // both abort ATOMICALLY (nothing commits, staged files cleaned)
    Files.writeString(java.nio.file.Paths.get(s"$root/jland/bad.json"),
      """{"id": 6, "nope": true}""" + "\n")
    val e1 = intercept[IllegalArgumentException] {
      copyIntoFormat(spark, t, s"$root/jland", "json")
    }
    assert(e1.getMessage.contains("not a table column"), e1.getMessage)
    Files.delete(java.nio.file.Paths.get(s"$root/jland/bad.json"))
    Files.writeString(java.nio.file.Paths.get(s"$root/land/bad.csv"),
      "id,s,v\n7,g,notanumber\n")
    val before = currentVersion(t)
    intercept[Exception] { copyIntoFormat(spark, t, s"$root/land", "csv") }
    assert(currentVersion(t) == before && read(spark, t).count() == 5,
      "a malformed batch must commit nothing")
    Files.delete(java.nio.file.Paths.get(s"$root/land/bad.csv"))
    // constraints ride the load: a violating batch refuses atomically
    addConstraint(spark, t, "v_band", "v IS NULL OR v < 1000") // v4
    Files.writeString(java.nio.file.Paths.get(s"$root/land/big.csv"),
      "id,s,v\n8,h,99999\n")
    intercept[Exception] { copyIntoFormat(spark, t, s"$root/land", "csv") }
    assert(read(spark, t).count() == 5)
    Files.delete(java.nio.file.Paths.get(s"$root/land/big.csv"))
    // the source registry folds through a CHECKPOINT: after 10+
    // commits a re-run still sees drop1/drop2 as loaded
    (1 to 7).foreach(k => append(spark, t,
      Seq((100L + k, "x", 1L)).toDF("id", "s", "v"))) // v5..v11 (ckpt v10)
    assert(Files.exists(java.nio.file.Paths.get(t, "_graft_log",
      "ckpt-v0000000010.json")))
    assert(copyIntoFormat(spark, t, s"$root/land", "csv")
      == currentVersion(t),
      "the copy-source registry must replay through the checkpoint")
    // column-mapped tables LOAD fine (the write path maps logical →
    // physical) — the parquet adopt route refuses these by contract
    dropConstraint(t, "v_band")
    renameColumn(spark, t, "v", "val")
    Files.createDirectories(java.nio.file.Paths.get(s"$root/mland"))
    Files.writeString(java.nio.file.Paths.get(s"$root/mland/m.csv"),
      "id,s,val\n200,mm,42\n")
    copyIntoFormat(spark, t, s"$root/mland", "csv")
    assert(read(spark, t).filter(col("val") === 42L).count() == 1)
  }

  test("DML and maintenance on a ZERO-FILE snapshot no-op gracefully " +
    "(truncate / delete-all), and a MERGE can repopulate it") {
    import spark.implicits._
    val t = freshTable()
    // both columns non-nullable in the recorded schema
    create(spark, t,
      spark.range(1, 3).select(col("id"), (col("id") * 10).as("v"))) // v0
    assert(currentSchema(t).get.forall(!_.nullable))
    val fileSchema = read(spark, t).schema // a scan backed by files
    assert(fileSchema.forall(_.nullable))
    truncate(t) // v1: zero files
    assert(read(spark, t).count() == 0)
    val v1 = currentVersion(t)
    // every zero-file scan has the file-backed scan's schema
    val outOfRange = Seq(Bound.LongRange("id", 100L, 200L))
    val noProbe = readPrunedBloom(spark, t, "id", Nil, asOf = 0L)
    assert(noProbe.inputFiles.isEmpty)
    val (removed, added, _) = changedRowSides(spark, t, 0L, v1)
    Seq("read" -> read(spark, t),
      "readPruned" -> readPruned(spark, t, outOfRange),
      "readPruned at v0" -> readPruned(spark, t, outOfRange, asOf = 0L),
      "readPrunedBloom" -> noProbe,
      "diff removed side" -> removed,
      "diff added side" -> added).foreach { case (what, df) =>
      assert(df.schema == fileSchema, s"$what: ${df.schema} vs $fileSchema")
    }
    // WHERE-DML matches nothing → unchanged head, no crash
    assert(deleteWhere(spark, t, col("id") === 1L) == v1)
    assert(updateWhere(spark, t, col("id") === 1L,
      Map("v" -> lit(0L))) == v1)
    assert(deleteWhereMor(spark, t, col("id") === 1L) == v1)
    assert(updateWhereMor(spark, t, col("id") === 1L,
      Map("v" -> lit(0L))) == v1)
    // CDF across the truncate: every row a delete image
    val d = diffVersions(spark, t, 0L, v1, Seq("id")).collect()
    assert(d.length == 2 && d.forall(_.getAs[String]("op") == "delete"))
    // a MERGE repopulates the empty table through its insert clause
    mergeInto(spark, t,
      Seq((5L, 50L)).toDF("id", "v"), Seq("id"),
      matched = Seq(MatchedUpdate(Map("v" -> srcCol("v")))),
      notMatched = Seq(NotMatchedInsert(
        Map("id" -> srcCol("id"), "v" -> srcCol("v")))))
    assert(read(spark, t).as[(Long, Long)].collect().toSet ==
      Set((5L, 50L)))
    // …and a second truncate then append starts clean again
    truncate(t)
    append(spark, t, Seq((9L, 90L)).toDF("id", "v"))
    assert(read(spark, t).as[(Long, Long)].collect().toSet ==
      Set((9L, 90L)))
  }

  test("repair: clean tables no-op, the lost file's DV clears with " +
    "it, and history stays auditable") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, Seq((1L, 10L), (2L, 20L)).toDF("id", "v")) // f0
    append(spark, t, Seq((3L, 30L), (4L, 40L)).toDF("id", "v")) // f1
    append(spark, t, Seq((5L, 50L)).toDF("id", "v"))            // f2
    deleteWhereMor(spark, t, col("id") === 3L) // DV on f1 (v3)
    // clean table: the dry run is empty, the repair commits nothing
    assert(repair(spark, t).isEmpty)
    val v0 = currentVersion(t)
    repair(spark, t, dryRun = false)
    assert(currentVersion(t) == v0, "a clean repair must not commit")
    // the DV-carrying file vanishes out-of-band
    val f1 = commits(t)(1).adds.head
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(t).resolve(f1.path))
    val dry = repair(spark, t).collect()
    assert(dry.length == 1 && dry(0).getString(0) == f1.path &&
      dry(0).getLong(1) == 2L)
    assert(currentVersion(t) == v0)
    repair(spark, t, dryRun = false)
    val c = commits(t).last
    assert(c.op == "repair" && c.removes == Seq(f1.path))
    // the lost file's DV mapping cleared with it; survivors serve
    assert(!snapshotDvs(t).keys.exists(_ == f1.path.split('/').last))
    assert(read(spark, t).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (5L, 50L)))
    // MOR DML still works over the repaired snapshot
    deleteWhereMor(spark, t, col("id") === 5L)
    assert(read(spark, t).count() == 2)
  }

  test("columnStats honesty: partial coverage reports null bounds, " +
    "never a folded lie; nulls count exactly; rename maps physically") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, Seq((1L, 10L, "a"), (2L, 20L, null))
      .toDF("id", "v", "s"))
    // an evolved column: the OLD add has no stats for it
    addColumns(spark, t, Seq(("w",
      org.apache.spark.sql.types.LongType)))
    append(spark, t, Seq((3L, 30L, "c", 99L)).toDF("id", "v", "s", "w"))
    val st = columnStats(spark, t).collect()
      .map(r => r.getString(0) -> r).toMap
    // fully-covered long column: exact global bounds + null count
    assert(st("v").getDouble(2) == 1.0 &&
      st("v").getLong(3) == 10L && st("v").getLong(4) == 30L &&
      st("v").getLong(7) == 0L)
    // string column: bounds in the string space, one null counted
    assert(st("s").getString(5) == "a" && st("s").getString(6) == "c" &&
      st("s").getLong(7) == 1L)
    // the evolved column is NOT fully covered: bounds and null count
    // must be null — the old add could hide the true extreme
    assert(st("w").getDouble(2) < 1.0 && st("w").isNullAt(3) &&
      st("w").isNullAt(4) && st("w").isNullAt(7),
      s"partial coverage must answer null, got ${st("w")}")
    // a rewrite re-harvests: full coverage returns with exact bounds
    compact(spark, t)
    val st2 = columnStats(spark, t).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st2("w").getDouble(2) == 1.0 &&
      st2("w").getLong(3) == 99L && st2("w").getLong(4) == 99L &&
      st2("w").getLong(7) == 2L,
      s"post-compact coverage must be full, got ${st2("w")}")
    // column mapping: the panel reports LOGICAL names over the stable
    // physical stats
    renameColumn(spark, t, "v", "value")
    val st3 = columnStats(spark, t).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st3.contains("value") && !st3.contains("v") &&
      st3("value").getLong(3) == 10L && st3("value").getLong(4) == 30L)
  }

  test("copyIntoFormat retry fences: a concurrent ALTER aborts the " +
    "stale-shaped batch; a concurrent constraint re-validates it") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // concurrent widen: the staged files were coerced to the OLD shape
    val root = Files.createTempDirectory("graft_cifrace").toString
    val t = s"$root/t"
    create(spark, t, Seq.empty[(Long, Int)].toDF("id", "v"))
    Files.createDirectories(java.nio.file.Paths.get(s"$root/land"))
    Files.writeString(java.nio.file.Paths.get(s"$root/land/a.csv"),
      "id,v\n1,10\n")
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      widenColumnType(spark, t, "v", LongType)
    }
    val e = try intercept[IllegalStateException] {
      copyIntoFormat(spark, t, s"$root/land", "csv")
    } finally TxnTable.preCommitHook = () => ()
    assert(fired && e.getMessage.contains("schema changed concurrently"),
      s"wrong failure: ${e.getMessage}")
    assert(read(spark, t).count() == 0, "the stale batch must not land")
    // …the re-run coerces to the NEW shape and lands
    assert(copyIntoFormat(spark, t, s"$root/land", "csv") == 2L)
    assert(read(spark, t).schema("v").dataType == LongType)
    assert(read(spark, t).count() == 1)

    // concurrent addConstraint: staged rows re-validate; violators abort
    val t2 = s"$root/t2"
    create(spark, t2, Seq.empty[(Long, Long)].toDF("id", "v"))
    Files.createDirectories(java.nio.file.Paths.get(s"$root/land2"))
    Files.writeString(java.nio.file.Paths.get(s"$root/land2/b.csv"),
      "id,v\n1,10\n")
    var fired2 = false
    TxnTable.preCommitHook = () => if (!fired2) {
      fired2 = true
      addConstraint(spark, t2, "v_neg", "v < 0")
    }
    try intercept[Exception] {
      copyIntoFormat(spark, t2, s"$root/land2", "csv")
    } finally TxnTable.preCommitHook = () => ()
    assert(fired2 && read(spark, t2).count() == 0,
      "rows violating the concurrent constraint must not land")
  }

  test("COPY INTO PATTERN scopes the load by relative-path glob; " +
    "idempotence stays absolute-path-keyed across patterns") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cipat").toString
    val t = s"$root/t"
    create(spark, t, Seq.empty[(Long, Long)].toDF("id", "v"))
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$root/land/a")
    Seq((3L, 30L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$root/land/b")
    // scoped: only the a/ sub-drop loads
    assert(copyInto(spark, t, s"$root/land",
      Some("a/*.parquet")) == 1L)
    assert(read(spark, t).count() == 2)
    // a broader later run loads ONLY what the registry lacks: the
    // a/ files never reload under the wider pattern
    assert(copyInto(spark, t, s"$root/land", None) == 2L)
    assert(read(spark, t).count() == 3)
    assert(commits(t).last.adds.size == 1,
      "the unscoped re-run must adopt only b/'s file")
    // ** crosses directories (the standard glob contract)
    Seq((4L, 40L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$root/land/c/deep")
    assert(copyInto(spark, t, s"$root/land",
      Some("**/deep/*.parquet")) == 3L)
    assert(read(spark, t).count() == 4)
    // the formatted route takes the same scope
    Files.createDirectories(java.nio.file.Paths.get(s"$root/cland"))
    Files.writeString(java.nio.file.Paths.get(s"$root/cland/x.csv"),
      "id,v\n5,50\n")
    Files.writeString(java.nio.file.Paths.get(s"$root/cland/y.csv"),
      "id,v\n6,60\n")
    assert(copyIntoFormat(spark, t, s"$root/cland", "csv",
      Some("x.csv")) == 4L)
    assert(read(spark, t).count() == 5)
    assert(read(spark, t).filter(col("id") === 6L).count() == 0,
      "y.csv is outside the pattern and must not load")
    // an empty match is a loud error, not a silent no-op
    intercept[IllegalArgumentException] {
      copyInto(spark, t, s"$root/land", Some("z/*.parquet"))
    }
  }

  test("binPack folds only small + DV-carrying files, leaves healthy " +
    "large files untouched, and no-ops at the unchanged head") {
    val t = freshTable()
    // one larger file (v0) + three small appends
    create(spark, t, rangeDf(0, 5000))
    val bigFile = snapshotFiles(t).head
    append(spark, t, rangeDf(5000, 5010))
    append(spark, t, rangeDf(5010, 5020))
    append(spark, t, rangeDf(5020, 5030))
    val bigBytes =
      Files.size(java.nio.file.Paths.get(t).resolve(bigFile))
    // threshold sits between the small appends and the v0 file
    val v = binPack(spark, t, targetBytes = bigBytes - 1)
    assert(v == 4L && commits(t).last.op == "compact")
    val after = snapshotFiles(t)
    assert(after.contains(bigFile),
      "a healthy large file must survive an OPTIMIZE untouched")
    assert(after.size == 2, s"three small files fold into one: $after")
    assert(read(spark, t).count() == 5030)
    // healthy now: the re-run returns the UNCHANGED head (no commit)
    assert(binPack(spark, t, targetBytes = bigBytes - 1) == 4L)
    assert(currentVersion(t) == 4L)
    // a DV on the large file makes it eligible regardless of size:
    // folding materializes the delete and clears the DV
    deleteWhereMor(spark, t, col("id") < 100) // v5
    assert(snapshotDvs(t).nonEmpty)
    val v2 = binPack(spark, t, targetBytes = bigBytes - 1)
    assert(v2 == 6L && snapshotDvs(t).isEmpty)
    assert(!snapshotFiles(t).contains(bigFile),
      "a DV-carrying file must be folded by OPTIMIZE")
    assert(read(spark, t).count() == 5030 - 100)
  }

  test("nullability check is asymmetric: a looser writer auto-evolves " +
    "the recorded schema to nullable, a stricter one records nothing") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val t = freshTable()
    // recorded schema declares the nested leaf NON-nullable
    val strict = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(
        StructField("a", LongType, nullable = false))), nullable = false)))
    create(spark, t, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Row(10L)))), strict))
    def nestedNullable(): Boolean = {
      val st = currentSchema(t).get
      st("s").dataType.asInstanceOf[StructType]("a").nullable
    }
    assert(!nestedNullable(), "create records the writer's strictness")
    // a STRICTER-or-equal writer appends without touching the schema
    append(spark, t, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, Row(20L)))), strict))
    assert(!nestedNullable())
    assert(commits(t).last.schema.isEmpty,
      "an equal-strictness append must not record a schema")
    // a LOOSER writer (nullable nested leaf, with an actual null) must
    // evolve the recorded schema — silently accepting it would leave
    // pinned readers declaring non-null over files that contain nulls
    val loose = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("s", StructType(Seq(
        StructField("a", LongType, nullable = true))), nullable = true)))
    append(spark, t, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(3L, Row(null)))), loose))
    assert(nestedNullable(),
      "a looser writer must relax the recorded nested nullability")
    val got = read(spark, t).select(col("id"), col("s.a"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq.sortBy(_._1)
    assert(got == Seq((1L, Some(10L)), (2L, Some(20L)), (3L, None)),
      "the null must read back as a null, not vanish or NPE")
  }

  test("appendStreamBatch with a source-file manifest keys idempotence " +
    "on FILES, so restarted batch ids never mask new files") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, rangeDf(0, 0).limit(0))
    // batch 5 ingests files A — the marker carries the manifest
    val v1 = appendStreamBatch(spark, t, rangeDf(0, 10), "s1", 5L,
      srcFiles = Seq("/land/a1", "/land/a2"))
    assert(v1.contains(1L))
    assert(commits(t).last.op.contains(":files:["))
    assert(streamSourcesIngested(t) == Set("/land/a1", "/land/a2"))
    // checkpoint loss: the restarted stream re-offers A under batch 0 —
    // the caller filters them against the registry and commits nothing
    assert(appendStreamBatch(spark, t, rangeDf(0, 10), "s1", 0L,
      srcFiles = Seq("/land/a1", "/land/a2")).isEmpty)
    // new files B landed since the loss arrive under batch 0 too — a
    // batch-id high-water (5 >= 0) would silently drop them forever;
    // the file registry loads them exactly once
    val v2 = appendStreamBatch(spark, t, rangeDf(10, 15), "s1", 0L,
      srcFiles = Seq("/land/b1"))
    assert(v2.contains(2L), "files landed after checkpoint loss must load")
    assert(read(spark, t).count() == 15)
    // partial overlap violates single-writer — loudly, never silently
    intercept[RuntimeException] {
      appendStreamBatch(spark, t, rangeDf(15, 20), "s1", 1L,
        srcFiles = Seq("/land/b1", "/land/c1"))
    }
    // a manifest-free stream keeps the batch-id high-water semantics
    assert(appendStreamBatch(spark, t, rangeDf(20, 25), "s2", 3L)
      .contains(3L))
    assert(appendStreamBatch(spark, t, rangeDf(20, 25), "s2", 2L).isEmpty)
  }

  test("batched ANALYZE: one quantile pass + one bin-ndv pass + one " +
    "MCV pass regardless of column count; string columns get exact " +
    "ndv + MCV frequencies") {
    import spark.implicits._
    val t = freshTable()
    create(spark, t, (1L to 400L).map(i =>
      (i, i % 7, i * 3, if (i % 100 == 0) s"v$i" else "common",
        s"s${i % 5}")).toDF("a", "b", "c", "k", "s2"))
    // 3 numeric + 2 string columns in ONE statement: 3 scans total
    // (the old per-column loop would have run 2×3 + … serial jobs)
    def scans(body: => Long): Option[Int] =
      OpMetrics.scope(body)._2.get(AnalyzeScans)
    val all = scans(
      computeHistogram(spark, t, Seq("a", "b", "c", "k", "s2"), bins = 8))
    assert(all.contains(3), s"got $all scans")
    val props = properties(t)
    Seq("a", "b", "c").foreach(c =>
      assert(props.contains(s"graft.hist.$c"), s"missing hist for $c"))
    Seq("k", "s2").foreach(c =>
      assert(props.contains(s"graft.mcv.$c"), s"missing mcv for $c"))
    // exact string stats: k has 4 singletons + 'common' (396 rows)
    val mk = props("graft.mcv.k")
    assert(mk.contains("\"ndv\":5") && mk.contains("\"nonnull\":400"), mk)
    assert(mk.contains("[\"common\",396]"),
      s"the MCV head must be the hot value with its exact count: $mk")
    // numeric-only ANALYZE costs 2 scans (quantiles, then bin-ndv —
    // inherently sequential: the bins need the endpoints); a
    // string-only ANALYZE is ONE scan (ndv + nonnull ride the MCV
    // aggregate)
    assert(scans(computeHistogram(spark, t, Seq("a"), bins = 8)).contains(2))
    assert(scans(computeHistogram(spark, t, Seq("k"))).contains(1))
    // non-scalar columns refuse loudly
    val e = intercept[IllegalArgumentException] {
      computeHistogram(spark, t, Seq("nope"))
    }
    assert(e.getMessage.contains("no column"))
  }

  test("pruneCopySources bounds the ingested-file registry to live " +
    "landing files; existing files never prune; a pruned path " +
    "re-lands as a fresh drop") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_prune").toString
    val t = s"$root/t"
    val land = s"$root/land"
    create(spark, t, Seq.empty[(Long, Long)].toDF("id", "v"))
    Files.createDirectories(java.nio.file.Paths.get(land))
    def drop(name: String, body: String): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$land/$name"), body)
    drop("a.csv", "id,v\n1,10\n2,20\n")
    drop("b.csv", "id,v\n3,30\n")
    copyIntoFormat(spark, t, land, "csv")
    assert(streamSourcesIngested(t).size == 2)
    // nothing vanished yet → prune is a no-op at the unchanged head
    val head = currentVersion(t)
    assert(pruneCopySources(spark, t, land) == head)
    assert(streamSourcesIngested(t).size == 2,
      "existing landing files must never prune (they fence re-loads)")
    // vacuum a.csv from the landing dir → ONE metadata commit drops
    // exactly its entry
    Files.delete(java.nio.file.Paths.get(s"$land/a.csv"))
    val v = pruneCopySources(spark, t, land)
    assert(v == head + 1 &&
      commits(t).last.op.startsWith("copysrc:prune:["))
    val left = streamSourcesIngested(t)
    assert(left.size == 1 && left.head.endsWith("b.csv"), left.toString)
    // idempotent: nothing further to prune
    assert(pruneCopySources(spark, t, land) == v)
    // the surviving entry still fences: re-running the load ingests
    // nothing while b.csv is the only (already-seen) file
    assert(copyIntoFormat(spark, t, land, "csv") == v)
    assert(read(spark, t).count() == 3)
    // a NEW file loads alone; a drop AT THE PRUNED PATH is a fresh
    // drop and loads too — exactly the contract of pruning vacuumed
    // sources
    drop("c.csv", "id,v\n4,40\n")
    drop("a.csv", "id,v\n5,50\n")
    copyIntoFormat(spark, t, land, "csv")
    assert(read(spark, t).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L)))
  }
}
