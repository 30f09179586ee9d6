package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpecBase

/** One snapshot, three ways to reach it. 70-odd seeded commits on one
  * table cross several checkpoints and include every op kind the
  * snapshot fold reads: a clustered create (`create:props:`), appends,
  * copy-on-write and merge-on-read deletes, a compaction and a
  * `restore` that re-adds DV'd files together with their DVs, vacuum,
  * ADD COLUMNS, constraint add and drop, property set and unset,
  * stream batches with a `:files:` manifest, formatted COPY INTO (CSV
  * and JSON) and `copysrc:prune:`. At every version the snapshot
  * reached from the nearest checkpoint plus the suffix, the one the
  * head memo reached as the commit landed, and a full replay from v0
  * must be equal — `allAdds` compared over the files still on disk,
  * since a checkpoint leaves out what a vacuum deleted. The same is
  * then checked with every checkpoint stripped of `allAdds` and `dvs`
  * (the old format): each is skipped, counted, and the resolution
  * replays from v0 to the same snapshot.
  */
class SnapshotEquivalenceSpec extends SparkSpecBase {
  import TxnTable._

  private def exists(t: String)(f: String): Boolean =
    Files.exists(Paths.get(t).resolve(f))

  /** `s` with `allAdds` cut to the files still on disk. */
  private def extant(t: String, s: Snapshot): Snapshot =
    s.copy(allAdds = s.allAdds.filter { case (f, _) => exists(t)(f) })

  private def checkpoints(t: String): Seq[Path] = {
    val s = Files.list(Paths.get(t, "_graft_log"))
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("ckpt-v")).toVector.sorted
    finally s.close()
  }

  private def ckptVersion(p: Path): Long =
    p.getFileName.toString.stripPrefix("ckpt-v").stripSuffix(".json").toLong

  /** Builds the table; returns its path and the head snapshot the memo
    * route resolved right after each commit, by version. */
  private def build(): (String, Map[Long, Snapshot]) = {
    val root = Files.createTempDirectory("graft_snapeq")
    val t = root.resolve("t").toString
    val land = root.resolve("land")
    val rnd = new scala.util.Random(20261020L)
    var nextId = 0L
    val heads = scala.collection.mutable.Map.empty[Long, Snapshot]
    def seen(): Unit = {
      val s = snapshot(t)
      heads(s.version) = s
    }
    /** `n` fresh rows in the table's current shape (added columns
      * null). */
    def rowsDf(n: Int): DataFrame = {
      val schema = currentSchema(t).get
      val rows = (0 until n).map { _ =>
        nextId += 1 + rnd.nextInt(3)
        Row.fromSeq(Seq(nextId, s"r$nextId") ++
          Seq.fill(schema.size - 2)(null))
      }
      spark.createDataFrame(rows.asJava, schema)
    }
    def landFile(name: String, body: String): Path = {
      val p = land.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
    }
    import spark.implicits._
    createClustered(spark, t,
      (1L to 40L).map(i => (i, s"r$i")).toDF("id", "s"), Seq(col("id")), 2)
    nextId = 40L
    seen()
    for (k <- 0 until 5) {
      append(spark, t, rowsDf(6 + rnd.nextInt(6))); seen()
      val lo = nextId - 8
      deleteWhereMor(spark, t,
        col("id") >= lo && col("id") % 2 === rnd.nextInt(2)); seen()
      val dvAt = currentVersion(t)
      val src = landFile(s"stream$k/b$k.txt", s"batch $k")
      appendStreamBatch(spark, t, rowsDf(3), "s1", k.toLong,
        srcFiles = Seq(src.toAbsolutePath.normalize.toString)); seen()
      setProperties(t, Map(s"p$k" -> s"v${rnd.nextInt(100)}")); seen()
      addConstraint(spark, t, s"c$k", s"id >= -$k"); seen()
      val ids = (1 to 3).map(_ => nextId + 1 + rnd.nextInt(50))
      nextId = ids.max
      landFile(s"csv$k/f.csv", ("id,s" +: ids.map(i => s"$i,c$i"))
        .mkString("", "\n", "\n"))
      copyIntoFormat(spark, t, land.resolve(s"csv$k").toString, "csv"); seen()
      compact(spark, t); seen()
      restore(spark, t, dvAt); seen() // re-adds DV'd files with their DVs
      nextId += 1
      landFile(s"json$k/f.json", s"""{"id":$nextId,"s":"j$nextId"}""" + "\n")
      copyIntoFormat(spark, t, land.resolve(s"json$k").toString, "json")
      seen()
      if (k > 0) {
        unsetProperties(t, Seq(s"p${k - 1}")); seen()
        assert(dropConstraint(t, s"c${k - 1}")); seen()
      }
      if (k % 2 == 1) { addColumns(spark, t, Seq(s"x$k" -> LongType)); seen() }
      deleteWhere(spark, t, col("id") === lo + 1 + rnd.nextInt(4)); seen()
      if (k % 2 == 0) { vacuum(spark, t, retainVersions = 3); seen() }
      Files.delete(src)
      Files.delete(land.resolve(s"csv$k/f.csv"))
      pruneCopySources(spark, t, land.toString); seen()
    }
    (t, heads.toMap)
  }

  test("checkpoint + suffix, memo + suffix and full replay give one " +
    "snapshot at every version, also from old-format checkpoints") {
    val (t, heads) = build()
    val top = currentVersion(t)
    assert(top >= 60, s"only $top commits")
    val ckpts = checkpoints(t).map(ckptVersion)
    assert(ckpts.size >= 6, s"checkpoints: $ckpts")
    // every commit landed with its head resolved through the memo
    assert(heads.keySet == (0L to top).toSet)
    val full = (0L to top).scanLeft(EmptySnapshot)((s, v) =>
      replay(s, t, v)).tail
    full.foreach { f =>
      val v = f.version
      assert(extant(t, heads(v)) == extant(t, f), s"memo route at v$v")
      ckpts.filter(_ <= v).lastOption.foreach { c =>
        val fromCk = replay(readCheckpoint(t, c).get, t, v)
        assert(extant(t, fromCk) == extant(t, f), s"checkpoint $c route at v$v")
      }
      assert(extant(t, snapshot(t, v)) == extant(t, f), s"resolver at v$v")
    }
    // the fixture really exercised what the fold reads
    val last = full.last
    assert(last.copySrcs.nonEmpty && last.streams == Map("s1" -> 4L))
    assert(last.props.contains("graft.clusterBy") && last.props.contains("p4"))
    assert(last.constraints.keySet == Set("c4") && last.schemaGens >= 3)
    assert(last.horizon > 0 && full.exists(_.dvs.nonEmpty))
    assert(full.exists(s => s.allAdds.keys.exists(!exists(t)(_))),
      "a vacuum must have deleted files the log still names")

    // old format: strip allAdds and dvs from every checkpoint
    checkpoints(t).foreach { p =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8"))
      Files.write(p, JsonMethods.compact(JsonMethods.render(j.removeField {
        case ("allAdds", _) | ("dvs", _) => true
        case _ => false
      })).getBytes("UTF-8"))
    }
    assert(ckpts.forall(c => readCheckpoint(t, c).isEmpty))
    snapshot(t) // memoize the head, so every other version resolves below it
    full.init.foreach { f =>
      val v = f.version
      val (s, window) = OpMetrics.scope(snapshot(t, v))
      assert(extant(t, s) == extant(t, f), s"old-format resolution at v$v")
      assert(window.count(CheckpointFallbacks) == ckpts.count(_ <= v),
        s"each skipped checkpoint at or below v$v is counted")
    }
  }
}
