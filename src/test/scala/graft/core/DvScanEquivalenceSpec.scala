package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Deletion vectors applied as a scan filter read exactly what a plain
  * model of the table holds. 100 seeded random MOR DELETE, UPDATE and
  * MERGE steps, over two tables, run against a `Map` model. After each
  * step, point, range and full reads of the head and a read of the
  * version it superseded (of every earlier version, every tenth step)
  * are compared with the model as multisets. Files are written with
  * several row groups and pages, so a pushed-down key skips row groups
  * and `_metadata.row_index` must still number rows within the whole
  * file. A table adopted by `convertParquet` from files named with a
  * space and a `+` checks that DVs keep matching the scan's URL-encoded
  * names.
  */
class DvScanEquivalenceSpec extends SparkSpecBase {
  import spark.implicits._

  /** id → (g, s) */
  private type Model = Map[Long, (Long, String)]
  private type Row3 = (Long, Long, String)

  private def rows(df: DataFrame): Seq[Row3] =
    df.select("id", "g", "s").as[Row3].collect().toSeq.sorted

  private def expect(m: Model, keep: Long => Boolean = _ => true): Seq[Row3] =
    m.toSeq.collect { case (id, (g, s)) if keep(id) => (id, g, s) }.sorted

  /** Runs `body` with parquet row groups and pages small enough that
    * every file it writes holds several of each; restores the settings
    * after. */
  private def smallRowGroups[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val small = Seq("parquet.block.size" -> "2048",
      "parquet.page.size" -> "256",
      "parquet.block.row.count.limit" -> "64",
      "parquet.page.size.row.check.min" -> "10",
      "parquet.page.row.count.limit" -> "16")
    val saved = small.map { case (k, _) => k -> Option(conf.get(k)) }
    small.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  /** Row-group count of a parquet file. */
  private def rowGroups(file: String): Int =
    ParquetFileReader.readFooter(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(file),
      ParquetMetadataConverter.NO_FILTER).getBlocks.size

  private def seed(ids: Range): DataFrame =
    ids.map(i => (i.toLong, (i % 5).toLong, s"r$i")).toDF("id", "g", "s")

  private def modelOf(ids: Range): Model =
    ids.map(i => i.toLong -> ((i % 5).toLong, s"r$i")).toMap

  /** `steps` seeded MOR statements on table `t` (holding `start`),
    * checked against the model after each one. Returns the model. */
  private def randomSteps(t: String, start: Model, steps: Int,
      rnd: scala.util.Random): Model = {
    var model = start
    var nextId = start.keys.max + 1
    val versions = scala.collection.mutable.LinkedHashMap(
      TxnTable.currentVersion(t) -> model)
    def anyId(): Long = rnd.nextInt((nextId + 20).toInt).toLong
    (1 to steps).foreach { step =>
      val a = anyId()
      val w = rnd.nextInt(30).toLong
      rnd.nextInt(4) match {
        case 0 =>
          TxnTable.deleteWhereMor(spark, t, col("id").between(a, a + w))
          model = model.filter { case (id, _) => id < a || id > a + w }
        case 1 =>
          val r = rnd.nextInt(3).toLong
          TxnTable.deleteWhereMor(spark, t,
            col("id").between(a, a + 100) && col("id") % 3 === r)
          model = model.filter { case (id, _) =>
            !(id >= a && id <= a + 100 && id % 3 == r) }
        case 2 =>
          TxnTable.updateWhereMor(spark, t, col("id").between(a, a + w),
            Map("g" -> (col("g") + 1), "s" -> concat(col("s"), lit(s"u$step"))))
          model = model.map { case (id, (g, s)) =>
            if (id >= a && id <= a + w) id -> ((g + 1, s + s"u$step"))
            else id -> ((g, s))
          }
        case _ =>
          // a source of live, deleted and fresh keys; g < 0 deletes
          val keys = (Seq.fill(rnd.nextInt(12))(anyId()) ++
            Seq.fill(rnd.nextInt(4))({ nextId += 1; nextId })).distinct
          val src = keys.map(k =>
            (k, if (rnd.nextInt(4) == 0) -1L else rnd.nextInt(9).toLong,
              s"m$step"))
          TxnTable.mergeIntoMor(spark, t, src.toDF("id", "g", "s"), Seq("id"),
            Seq(MatchedDelete(Some(TxnTable.srcCol("g") < 0L)),
              MatchedUpdate(Map("g" -> TxnTable.srcCol("g"),
                "s" -> TxnTable.srcCol("s")))),
            Seq(NotMatchedInsert(Map("id" -> TxnTable.srcCol("id"),
              "g" -> TxnTable.srcCol("g"), "s" -> TxnTable.srcCol("s")))))
          src.foreach { case (k, g, s) =>
            if (model.contains(k)) {
              if (g < 0) model -= k else model += k -> ((g, s))
            } else model += k -> ((g, s))
          }
      }
      versions(TxnTable.currentVersion(t)) = model
      val head = TxnTable.read(spark, t)
      val k = anyId()
      assert(rows(head.filter(col("id") === k)) == expect(model, _ == k),
        s"step $step: point read of $k")
      val (lo, hi) = (anyId(), anyId())
      assert(rows(head.filter(col("id").between(lo, hi))) ==
        expect(model, id => id >= lo && id <= hi),
        s"step $step: range read [$lo, $hi]")
      assert(rows(head) == expect(model), s"step $step: full read")
      // the version this step superseded after every step; every earlier
      // version every tenth step and after the last (a read of N versions
      // costs O(N) plans, so all of them every step would be quadratic)
      val older = versions.keys.toSeq.init
      checkVersions(t, versions,
        if (step % 10 == 0 || step == steps) older else older.takeRight(1),
        s"step $step")
    }
    model
  }

  /** Reads `vs` of `t` in one collect and compares each with its model. */
  private def checkVersions(t: String, models: collection.Map[Long, Model],
      vs: Seq[Long], clue: String): Unit =
    if (vs.nonEmpty) {
      val byVersion = vs.map(v => TxnTable.read(spark, t, v)
          .select(lit(v).as("v"), col("id"), col("g"), col("s")))
        .reduce(_.unionByName(_))
        .as[(Long, Long, Long, String)].collect().toSeq
        .groupBy(_._1).withDefaultValue(Nil)
      vs.foreach { v =>
        assert(byVersion(v).map(r => (r._2, r._3, r._4)).sorted ==
          expect(models(v)), s"$clue: VERSION AS OF $v")
      }
    }

  test("random MOR DELETE, UPDATE and MERGE read as the model at every " +
    "version, with row groups skipped") {
    val t = Files.createTempDirectory("graft_dveq").toString + "/t"
    smallRowGroups {
      TxnTable.createClustered(spark, t, seed(0 until 1200), Seq(col("id")),
        targetFiles = 4)
      val groups = TxnTable.snapshotFiles(t)
        .map(f => rowGroups(Paths.get(t, f).toString))
      assert(groups.forall(_ > 2), s"row groups per file: $groups")
      randomSteps(t, modelOf(0 until 1200), 80,
        new scala.util.Random(20261020L))
    }
    assert(TxnTable.snapshotDvs(t).nonEmpty, "the steps left no DV")
  }

  test("a MOR point read pushes its key into the scan and plans no join") {
    val t = Files.createTempDirectory("graft_dveq_plan").toString + "/t"
    TxnTable.createClustered(spark, t, seed(0 until 400), Seq(col("id")),
      targetFiles = 2)
    TxnTable.deleteWhereMor(spark, t, col("id").between(10L, 20L))
    val df = TxnTable.read(spark, t).filter(col("id") === 15L)
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, plan.toString)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(id,15)"), s"pushed: $pushed")
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"a DV'd read must not join: $plan")
    assert(df.count() == 0)
    assert(TxnTable.read(spark, t).filter(col("id") === 21L).count() == 1)
  }

  test("a converted table whose file names need URL encoding keeps its " +
    "DVs matched") {
    val d = Files.createTempDirectory("graft_dveq_conv").toString
    smallRowGroups {
      Seq("part a+b" -> (0 until 300), "part c d" -> (300 until 600))
        .foreach { case (name, ids) =>
          val stage = s"$d/_stage_$name"
          seed(ids).coalesce(1).write.parquet(stage)
          val leaf = Files.list(Paths.get(stage)).iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).next()
          Files.move(leaf, Paths.get(d, s"$name.parquet"))
        }
      TxnTable.convertParquet(spark, d)
      assert(TxnTable.snapshotFiles(d).toSet ==
        Set("part a+b.parquet", "part c d.parquet"))
      assert(rowGroups(s"$d/part a+b.parquet") > 2)
      // the scan reports the encoded name, which the DV rows carry
      val scanNames = TxnTable.read(spark, d)
        .select(substring_index(col("_metadata.file_path"), "/", -1))
        .distinct().as[String].collect().toSet
      assert(scanNames == Set("part%20a+b.parquet", "part%20c%20d.parquet"))
      var model = modelOf(0 until 600)
      TxnTable.deleteWhereMor(spark, d, col("id").isin(5L, 305L))
      model --= Seq(5L, 305L)
      assert(rows(TxnTable.read(spark, d)) == expect(model))
      // a copy-on-write delete finds its hit file by the same name
      TxnTable.deleteWhere(spark, d, col("id").between(100L, 110L))
      model = model.filter { case (id, _) => id < 100 || id > 110 }
      assert(!TxnTable.snapshotFiles(d).contains("part a+b.parquet"))
      assert(rows(TxnTable.read(spark, d)) == expect(model))
      randomSteps(d, model, 20, new scala.util.Random(7L))
    }
  }
}
