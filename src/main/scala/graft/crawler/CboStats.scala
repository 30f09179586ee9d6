package graft.crawler

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._

/** Crawled statistics → Catalyst cost-based optimizer (SURVEY.md §2.8,
  * the crawl-improves-queries loop).
  *
  * The crawler already computes exactly what ANALYZE TABLE would scan
  * for — row count, per-column null count, distinct count, min/max
  * ([[Profiler]]) and total byte size ([[LakeCrawler.discover]]) — so
  * re-scanning with ANALYZE to populate the catalog would double-read
  * the lake. Instead this injects the crawl output directly as
  * [[CatalogStatistics]] on an external table definition: one crawl
  * pass feeds both the human catalog (CatalogStore parquet tables) and
  * the optimizer (join strategy, join reordering, filter selectivity).
  *
  * At 100 TB the payoff is the CBO planning a selective-dim join as a
  * broadcast by *statistics* (rowCount × selectivity × rowSize under
  * the broadcast threshold) where the size-only estimate — raw file
  * bytes, blind to filters — would shuffle both sides into a
  * sort-merge join. The gate `c13_cbo_bhj` pins that flip.
  */
object CboStats {

  /** (Re-)register `path` as an external parquet table in the session
    * catalog. Idempotent: any previous definition is dropped first.
    * No data is moved or copied — the table is a catalog pointer, which
    * is what lets stats attach to it.
    */
  def registerTable(spark: SparkSession, tableName: String, path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    spark.catalog.createTable(tableName, "parquet", Map("path" -> path))
  }

  /** One crawled column profile → Spark's catalog column statistic.
    *
    * min/max travel in CatalogColumnStat's *external string* form —
    * version-dependent (e.g. timestamps are micros-since-epoch longs in
    * VERSION 2, not "yyyy-MM-dd HH:mm:ss") — so the profiler's
    * cast-to-string values are parsed back through a Catalyst Cast into
    * the internal value and re-serialized with `toExternalString`, the
    * same round-trip ANALYZE uses. Strings/binary/nested types carry no
    * min/max in the catalog (matching ANALYZE), but ndv and null count
    * still drive equality selectivity.
    */
  def toColumnStat(p: ColumnProfile, dt: DataType): CatalogColumnStat = {
    def ext(s: Option[String]): Option[String] = dt match {
      case StringType | BinaryType | _: ArrayType | _: MapType | _: StructType =>
        None
      case _ => s.flatMap { str =>
        // Defensive: the crawler profiles the NORMALIZED view of a
        // dataset (e.g. ns-timestamps read as µs TimestampType) while
        // the catalog table may expose the raw physical type (ns column
        // as BIGINT) — an ANSI cast across that mismatch throws. A
        // column stat is an optimization, never worth failing a
        // registration over: drop min/max and keep ndv/nulls instead.
        try Option(Cast(Literal(str), dt, Some("UTC")).eval(null))
          .map(v => CatalogColumnStat.toExternalString(v, p.column, dt))
        catch { case NonFatal(_) => None }
      }
    }
    CatalogColumnStat(
      distinctCount = Some(BigInt(p.ndistinct)),
      min = ext(p.min_s),
      max = ext(p.max_s),
      nullCount = Some(BigInt(p.nulls)),
      avgLen = None,
      maxLen = None,
      histogram = None,
      version = CatalogColumnStat.VERSION)
  }

  /** Attach crawled table + column statistics to a registered table.
    * `info.sizeBytes` and the profile row counts come straight from the
    * crawl snapshot — zero additional scans. Refreshes the relation
    * cache so already-resolved plans can't keep the stale (stats-less)
    * relation.
    */
  def applyStats(
      spark: SparkSession,
      tableName: String,
      info: DatasetInfo,
      profiles: Seq[ColumnProfile]): Unit = {
    val schema = spark.table(tableName).schema
    val rowCount = profiles.headOption.map(p => p.cnt + p.nulls).getOrElse(0L)
    val colStats = profiles.flatMap { p =>
      schema.fields.find(_.name == p.column)
        .map(f => p.column -> toColumnStat(p, f.dataType))
    }.toMap
    spark.sessionState.catalog.alterTableStats(
      TableIdentifier(tableName),
      Some(CatalogStatistics(
        sizeInBytes = BigInt(info.sizeBytes),
        rowCount = Some(BigInt(rowCount)),
        colStats = colStats)))
    spark.sessionState.catalog.refreshTable(TableIdentifier(tableName))
  }

  /** Crawl-to-CBO in one call: register every discovered dataset as a
    * catalog table (prefixed) and attach its crawled stats.
    */
  def registerLake(
      spark: SparkSession,
      lakeRoot: String,
      prefix: String = ""): Seq[String] = {
    LakeCrawler.discover(spark, lakeRoot).map { info =>
      val name = s"$prefix${info.name}"
      registerTable(spark, name, info.path)
      applyStats(spark, name, info,
        Profiler.profile(spark, LakeCrawler.open(spark, info), info.name))
      name
    }
  }

  /** The join operator the *static* planner chose (pre-AQE, i.e. the
    * decision driven by catalog statistics, before runtime sizes can
    * rescue a bad estimate). AQE can only fix a mis-planned join after
    * materializing both shuffle sides — at 100 TB the damage (a full
    * fact-side exchange) is already done, which is why the static
    * choice is the one worth gating.
    */
  def staticJoinNode(df: DataFrame): String = {
    val p = df.queryExecution.sparkPlan.toString
    if (p.contains("BroadcastHashJoin")) "BroadcastHashJoin"
    else if (p.contains("SortMergeJoin")) "SortMergeJoin"
    else if (p.contains("ShuffledHashJoin")) "ShuffledHashJoin"
    else "Other"
  }
}
