package graft.crawler

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}

/** One column of one dataset as recorded in the catalog (C2 output). */
case class ColumnMeta(
    dataset: String,
    column: String,
    dtype: String,
    nullable: Boolean,
    position: Int)

/** Result of an incremental re-crawl diff (C5). */
case class CrawlDiff(
    unchanged: Seq[String],
    changed: Seq[String],
    added: Seq[String],
    removed: Seq[String])

/** Catalog persistence (C4) + incremental re-crawl (C5).
  *
  * The catalog itself is Spark data: three parquet tables (datasets,
  * columns, profiles) written with DataFrame writes — re-readable,
  * queryable, and diffable like any other table. This is the
  * "Spark SQL for metadata extraction + DataFrame writes" shape the
  * reference prescribes (BASELINE.json north_star).
  */
object CatalogStore {

  /** Crawl a lake root end-to-end: discover (C1), extract schemas (C2),
    * profile every dataset (C3), persist the catalog (C4). Returns the
    * discovered datasets.
    */
  def crawl(
      spark: SparkSession,
      lakeRoot: String,
      snapshotDir: String,
      exactDistinctThreshold: Long = 100000L): Seq[DatasetInfo] = {
    import spark.implicits._
    val infos = LakeCrawler.discover(spark, lakeRoot)
    val columns = infos.flatMap { info =>
      LakeCrawler.extractSchema(spark, info).fields.zipWithIndex.map {
        case (f, i) => ColumnMeta(info.name, f.name, f.dataType.simpleString,
          f.nullable, i)
      }
    }
    // nested-aware (C17): struct leaves ride the same single pass,
    // array elements get a column-pruned explode pass each
    val profiles = infos.flatMap { info =>
      Profiler.profileNested(spark, LakeCrawler.open(spark, info), info.name,
        exactDistinctThreshold)
    }
    infos.toDF().write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/datasets")
    columns.toDF().write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/columns")
    profiles.toDF().write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/profiles")
    infos
  }

  /** One catalog table of a snapshot, read with the schema of the case
    * class it was written from — an inferred read would run a Spark
    * schema-inference job per table. */
  private def readTable[T <: Product: TypeTag](spark: SparkSession,
      dir: String): DataFrame =
    spark.read.schema(Encoders.product[T].schema).parquet(dir)

  def readDatasets(spark: SparkSession, snapshotDir: String): Seq[DatasetInfo] = {
    import spark.implicits._
    readTable[DatasetInfo](spark, s"$snapshotDir/datasets")
      .as[DatasetInfo].collect().toSeq
  }

  def readColumns(spark: SparkSession, snapshotDir: String): DataFrame =
    readTable[ColumnMeta](spark, s"$snapshotDir/columns")

  def readProfiles(spark: SparkSession, snapshotDir: String): DataFrame =
    readTable[ColumnProfile](spark, s"$snapshotDir/profiles")

  /** C5: diff a fresh discovery against a previous snapshot, keyed on
    * (size, mtime, numFiles) — unchanged datasets are skipped by an
    * incremental re-crawl, which is what makes daily crawls of a 100 TB
    * lake O(changed data), not O(lake).
    */
  def diff(prev: Seq[DatasetInfo], cur: Seq[DatasetInfo]): CrawlDiff = {
    val p = prev.map(d => d.name -> d).toMap
    val c = cur.map(d => d.name -> d).toMap
    val added = cur.filterNot(d => p.contains(d.name)).map(_.name).sorted
    val removed = prev.filterNot(d => c.contains(d.name)).map(_.name).sorted
    val (unchanged, changed) = cur.filter(d => p.contains(d.name)).partition { d =>
      val o = p(d.name)
      o.sizeBytes == d.sizeBytes && o.modifiedMs == d.modifiedMs &&
        o.numFiles == d.numFiles
    }
    CrawlDiff(unchanged.map(_.name).sorted, changed.map(_.name).sorted,
      added, removed)
  }

  /** Incremental re-crawl: profile only changed/added datasets, merge with
    * the previous snapshot, write a new snapshot. Returns the diff.
    */
  def incrementalCrawl(
      spark: SparkSession,
      lakeRoot: String,
      prevSnapshotDir: String,
      newSnapshotDir: String): CrawlDiff = {
    import spark.implicits._
    val prev = readDatasets(spark, prevSnapshotDir)
    val cur = LakeCrawler.discover(spark, lakeRoot)
    val d = diff(prev, cur)
    val toProfile = cur.filter(i => d.changed.contains(i.name) || d.added.contains(i.name))
    val freshProfiles = toProfile.flatMap(i =>
      Profiler.profileNested(spark, LakeCrawler.open(spark, i), i.name))
    val freshColumns = toProfile.flatMap { info =>
      LakeCrawler.extractSchema(spark, info).fields.zipWithIndex.map {
        case (f, i) => ColumnMeta(info.name, f.name, f.dataType.simpleString,
          f.nullable, i)
      }
    }
    val keep = (n: String) => d.unchanged.contains(n)
    val mergedProfiles = readProfiles(spark, prevSnapshotDir)
      .filter(org.apache.spark.sql.functions.col("dataset").isin(d.unchanged: _*))
      .unionByName(if (freshProfiles.isEmpty)
        spark.emptyDataset[ColumnProfile].toDF() else freshProfiles.toDF())
    val mergedColumns = readColumns(spark, prevSnapshotDir)
      .filter(org.apache.spark.sql.functions.col("dataset").isin(d.unchanged: _*))
      .unionByName(if (freshColumns.isEmpty)
        spark.emptyDataset[ColumnMeta].toDF() else freshColumns.toDF())
    cur.toDF().write.mode(SaveMode.Overwrite).parquet(s"$newSnapshotDir/datasets")
    mergedColumns.write.mode(SaveMode.Overwrite).parquet(s"$newSnapshotDir/columns")
    mergedProfiles.write.mode(SaveMode.Overwrite).parquet(s"$newSnapshotDir/profiles")
    d
  }
}
