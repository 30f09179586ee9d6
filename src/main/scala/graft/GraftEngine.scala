package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.core.Lake
import graft.crawler.{CatalogStore, DatasetInfo}

/** Session extensions: registers the engine's native functions so any
  * session created with `spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`) can call them from SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.plans.GraftFunctions.native.foreach { case (name, cls, build) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    // RewriteTopKWindow is deliberately NOT injected: Spark 4's built-in
    // InferWindowGroupLimit already bounds the rank-filter shuffle, and
    // TopKBench measured the builtin at-or-better in both group regimes
    // (SCALING.md "Grouped top-k"). The rule stays available as an
    // explicit opt-in (experimental.extraOptimizations or direct
    // application — see AnalyticQueries.w8TopkRewrite).
  }
}

/** The user-facing entry point: a configured session + a lake bound to a
  * directory of tables, exposing the SQL surface, the DataFrame surface,
  * and the crawler. A user of the reference system starts here.
  *
  * {{{
  * val eng = GraftEngine.open("/root/testdata/sf0.01")
  * eng.sql("SELECT count(*) FROM lineitem").show()
  * eng.table("documents").groupBy("lang").count()
  * eng.crawl("/data/lake", "/data/catalog")
  * }}}
  */
object GraftEngine {

  /** Opinionated session: UTC, AQE, core-matched shuffle partitions, the
    * engine's extensions — the settings every gate/bench run uses.
    */
  def session(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      appName: String = "graft"): SparkSession = {
    val cpus = master.replaceAll(".*\\[|\\].*", "") match {
      case "*" | "" => Runtime.getRuntime.availableProcessors().toString
      case n => n
    }
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // getOrCreate may return a pre-existing session built WITHOUT the
    // extensions (builder extensions only apply to new sessions); register
    // the native functions directly so the SQL surface is always complete.
    graft.plans.GraftFunctions.register(s)
    s
  }

  final class Engine private[GraftEngine] (val spark: SparkSession, dir: String) {
    Lake.registerAll(spark, dir)

    /** The relational surface (EP2): full Spark SQL over the lake views. */
    def sql(text: String): DataFrame = spark.sql(text)

    /** The DataFrame surface over one table. */
    def table(name: String): DataFrame = Lake.table(spark, dir, name)

    /** The crawler surface (EP1): crawl a lake root into a catalog. */
    def crawl(lakeRoot: String, catalogDir: String): Seq[DatasetInfo] =
      CatalogStore.crawl(spark, lakeRoot, catalogDir)

    /** The transactional surface (rounds 5–12): read a TxnTable
      * snapshot (latest, version time travel, or
      * `TxnTable.readAsOfTimestamp` for wall-clock addressing;
      * `TxnTable.readPruned` takes any conjunction of typed bounds —
      * long or string, range or IN — and picks its files on the
      * driver from stats-in-log, with zero Spark jobs). Writes go through
      * `graft.core.TxnTable` directly: create/append/overwrite,
      * deleteWhere/updateWhere/merge/mergeInto (copy-on-write),
      * deleteWhereMor/updateWhereMor/mergeMor/applyChangesMor
      * (merge-on-read via deletion vectors), compact/compactClustered
      * (+z-order), cloneShallow/restore/vacuum, addConstraint/
      * dropConstraint (CHECK), appendStreamBatch/applyChanges
      * (exactly-once streaming); continuous consumers live in
      * `graft.streaming` (StreamIvm, StreamReplica).
      */
    def txnRead(path: String, asOf: Long = -1L): DataFrame =
      graft.core.TxnTable.read(spark, path, asOf)

    /** Register a TxnTable snapshot as a temp view, so the SQL surface
      * reaches transactional tables by name (re-call after commits to
      * advance the view to the new head, or pin `asOf` for a frozen
      * historical view). */
    def txnView(path: String, name: String, asOf: Long = -1L): Unit =
      txnRead(path, asOf).createOrReplaceTempView(name)

    /** Register crawled statistics with the cost-based optimizer
      * (round 5): every discovered dataset becomes a catalog table with
      * its profile injected as CatalogStatistics — join strategy and
      * join order then come from crawl output (enable
      * `spark.sql.cbo.enabled` / `spark.sql.cbo.joinReorder.enabled`).
      */
    def registerStats(lakeRoot: String, prefix: String = ""): Seq[String] =
      graft.crawler.CboStats.registerLake(spark, lakeRoot, prefix)
  }

  def open(dir: String, spark: SparkSession = session()): Engine =
    new Engine(spark, dir)
}
