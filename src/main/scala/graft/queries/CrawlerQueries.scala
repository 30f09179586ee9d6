package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawler.{CatalogStore, LakeCrawler, Profiler}

/** Gate entries for the crawler/catalog surface (SURVEY.md §2.8 C1–C5).
  * C1/C2/C5 are checked against constant oracles (the corpus is fixed and
  * known); C3 is checked against a computed DuckDB profile of the same
  * table — a genuine cross-engine profiling oracle.
  */
object CrawlerQueries {

  /** C1: lake walk + format detection over the sf dir. */
  def c1Discover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    LakeCrawler.discover(spark, dir)
      .map(i => (i.name, i.format, i.numFiles))
      .toDF("name", "format", "num_files")
      .orderBy(col("name"))
  }

  /** C2: extracted ingest schema of every discovered dataset. */
  def c2Schemas(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    LakeCrawler.discover(spark, dir).flatMap { info =>
      LakeCrawler.extractSchema(spark, info).fields.zipWithIndex.map {
        case (f, i) => (info.name, f.name, f.dataType.simpleString, i)
      }
    }.toDF("dataset", "col_name", "dtype", "position")
      .orderBy(col("dataset"), col("position"))
  }

  /** C3: single-pass column profile of `customer`, cross-checked against
    * DuckDB computing the same statistics.
    */
  def c3ProfileCustomer(spark: SparkSession, dir: String): DataFrame = {
    val customer = graft.core.Lake.table(spark, dir, "customer")
    Profiler.profileDF(spark, customer, "customer")
      .select(col("column").as("col_name"), col("cnt"), col("nulls"),
        col("ndistinct"), col("min_s"), col("max_s"))
      .orderBy(col("col_name"))
  }

  /** C17: NESTED-leaf profiling — the s12-shaped shredded orders table
    * (struct customer + array<struct> items) profiled down to its
    * leaves: struct leaves ride the same single wide pass as top-level
    * columns (dotted projections — zero extra scans), array elements
    * get one column-pruned explode pass with true element-level
    * distinct counts. The oracle recomputes every leaf's stats from
    * the raw relational tables the nested table was shredded from.
    */
  def c17NestedProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Lake
    val out = Files.createTempDirectory("graft_c17").toString + "/nested"
    val items = Lake.table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))))
        .as("items"))
    Lake.table(spark, dir, "orders")
      .join(broadcast(Lake.table(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(items, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"),
        struct(col("c_custkey"), col("c_mktsegment")).as("cust"),
        col("items"))
      .write.mode("overwrite").parquet(out)
    Profiler.profileNestedDF(spark, spark.read.parquet(out), "nested")
      .select(col("column").as("col_name"), col("cnt"), col("nulls"),
        col("ndistinct"), col("min_s"), col("max_s"))
      .orderBy(col("col_name"))
  }

  /** C3 (top-k frequent values): exact top-3 most frequent customer
    * market segments from the profiler's topK, cross-engine checked.
    */
  def c3TopkMktsegment(spark: SparkSession, dir: String): DataFrame =
    Profiler.topK(graft.core.Lake.table(spark, dir, "customer"), "c_mktsegment", 3)

  /** C4+C5: full crawl → snapshot → incremental re-crawl over the
    * unchanged lake must show zero drift. Exercises catalog write + read
    * + diff end-to-end; the oracle is the invariant (10,0,0,0).
    */
  def c5Incremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap1 = Files.createTempDirectory("graft_snap1").toString
    val snap2 = Files.createTempDirectory("graft_snap2").toString
    CatalogStore.crawl(spark, dir, snap1)
    val d = CatalogStore.incrementalCrawl(spark, dir, snap1, snap2)
    Seq((d.unchanged.size.toLong, d.changed.size.toLong,
        d.added.size.toLong, d.removed.size.toLong))
      .toDF("unchanged", "changed", "added", "removed")
  }

  /** C6: declarative data-quality validation — every single-table rule
    * family in one aggregation pass per table, plus cross-table
    * referential integrity, cross-engine checked count-for-count. Two
    * rules are deliberately violated by the corpus (acctbal range,
    * quantity cap) so the failing path is driver-visible too.
    */
  def c6QualityChecks(spark: SparkSession, dir: String): DataFrame = {
    import graft.crawler.QualityChecks._
    val customer = graft.core.Lake.table(spark, dir, "customer")
    val orders = graft.core.Lake.table(spark, dir, "orders")
    val lineitem = graft.core.Lake.table(spark, dir, "lineitem")
    val perTable =
      validate(customer, Seq(
        InRange("customer_acctbal_range", "c_acctbal", 0.0, 10000.0),
        Unique("customer_key_unique", "c_custkey"))) unionAll
      validate(lineitem, Seq(
        InRange("lineitem_discount_range", "l_discount", 0.0, 0.1),
        InRange("lineitem_quantity_cap", "l_quantity", 1.0, 49.0))) unionAll
      validate(orders, Seq(
        NotNull("orders_custkey_not_null", "o_custkey"),
        AcceptedValues("orders_status_accepted", "o_orderstatus", Seq("O", "F", "P")),
        Predicate("orders_price_positive", col("o_totalprice") > 0)))
    val ref = referential("orders_custkey_in_customer",
      orders, "o_custkey", broadcast(customer), "c_custkey")
    perTable.unionAll(ref).orderBy(col("check"))
  }

  /** C7: schema-drift detection — crawl the lake, write a deterministically
    * mutated `customer` (drop a column, add one, retype one, reorder one)
    * to a temp lake, crawl THAT, and diff the two real crawls. The corpus
    * is fixed, so the drift report is a constant oracle.
    */
  def c7SchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.crawler.SchemaDrift
    val oldSchema = SchemaDrift.schemaTable(spark, dir)
      .filter(col("dataset") === "customer")
    val tmp = Files.createTempDirectory("graft_drift").toString
    graft.core.Lake.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("bigint").as("c_nationkey"),
        col("c_mktsegment"),
        (col("c_custkey") % 3).cast("int").as("c_tier"))
      .write.mode("overwrite").parquet(s"$tmp/customer")
    val newSchema = SchemaDrift.schemaTable(spark, tmp)
    SchemaDrift.diff(oldSchema, newSchema)
      .select(col("dataset"), col("col_name"), col("change"),
        coalesce(col("old_type"), lit("")).as("old_type"),
        coalesce(col("new_type"), lit("")).as("new_type"),
        coalesce(col("old_pos"), lit(-1)).as("old_pos"),
        coalesce(col("new_pos"), lit(-1)).as("new_pos"))
      .orderBy(col("col_name"))
  }

  /** C8: equi-depth histogram of l_extendedprice (4 buckets) — exact
    * quantile boundaries, per-bucket count/min/max in cents, cross-engine
    * checked (Spark percentile ≡ DuckDB quantile_cont is pinned by f8).
    */
  def c8EquidepthHistogram(spark: SparkSession, dir: String): DataFrame =
    Profiler.equiDepthHistogram(
        graft.core.Lake.table(spark, dir, "lineitem"), "l_extendedprice", 4)
      .select(col("bucket"), col("c"),
        round(col("lo") * 100).cast("long").as("lo_c"),
        round(col("hi") * 100).cast("long").as("hi_c"))

  /** C9: metadata-only row counts — every table's cardinality from
    * parquet FOOTERS (zero data scanned), vs DuckDB actually counting.
    * The catalog answer to `SELECT count(*)` at 100 TB.
    */
  def c9FooterCounts(spark: SparkSession, dir: String): DataFrame =
    graft.crawler.SkippingIndex.build(spark, dir, Seq.empty)
      .select(regexp_extract(col("file"), "([a-z]+)\\.parquet$", 1).as("name"),
        col("row_count"))
      .orderBy(col("name"))

  /** C10: data-drift report — order-price distribution of even-key vs
    * odd-key orders over a fixed 8-bucket grid, integer-exact L1 per
    * bucket. The monitoring query a crawler schedules between crawls.
    */
  def c10DataDrift(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.core.Lake.table(spark, dir, "orders")
    graft.crawler.SchemaDrift.dataDrift(
        orders.filter(col("o_orderkey") % 2 === 0),
        orders.filter(col("o_orderkey") % 2 === 1),
        "o_totalprice", lo = 0.0, hi = 600000.0, buckets = 8)
      .orderBy(col("bucket"))
  }

  /** C11: mergeable profiles — profile two disjoint halves of customer
    * independently (count/nulls/min/max + a DataSketches HLL sketch of
    * the key), MERGE the two profiles (sums, least/greatest, hll_union),
    * and require the merge to equal a whole-table profile: exact fields
    * exactly, the distinct estimate within 5% of the true count. This is
    * the incremental-crawl property — per-partition profiles combined
    * without rescanning — stated as a driver-visible gate.
    */
  def c11ProfileMerge(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.core.Lake.table(spark, dir, "customer")
    def half(p: Int) = c.filter(col("c_custkey") % 2 === p)
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").isNull.cast("long")).as("nulls"),
        min(col("c_acctbal")).as("mn"), max(col("c_acctbal")).as("mx"),
        hll_sketch_agg(col("c_custkey")).as("sk"))
    val merged = half(0).unionAll(half(1))
      .agg(sum(col("n")).as("n_rows"), sum(col("nulls")).as("n_nulls"),
        round(min(col("mn")) * 100).cast("long").as("mn_c"),
        round(max(col("mx")) * 100).cast("long").as("mx_c"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = c.agg(countDistinct(col("c_custkey")).as("d"))
    merged.crossJoin(exact)
      .select(col("n_rows"), col("n_nulls"), col("mn_c"), col("mx_c"),
        (abs(col("est") - col("d")) <= col("d") * 0.05).as("distinct_ok"))
  }

  /** C12: per-segment 2σ outlier counts with NO float knife-edge — the
    * z-score test |x−μ| > 2σ is algebraically rewritten over integer
    * cents as (n·x−S)² > 4(n·S2−S²), evaluated in DECIMAL(38,0)
    * (HUGEINT on the oracle side), so the boundary decision is exact
    * integer arithmetic on both engines. Two passes over the column:
    * one partial-agg shuffle for (n,S,S2), then a broadcast of the
    * 5-row stats against the map-side test — the profile-then-flag
    * shape a 100 TB anomaly scan needs (stats are O(groups)).
    */
  def c12Outliers(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.core.Lake.table(spark, dir, "customer")
      .select(col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100).cast("long").as("x"))
    val stats = c.groupBy(col("seg")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("s2"))
    val dec = (e: org.apache.spark.sql.Column) => e.cast("decimal(38,0)")
    c.join(broadcast(stats), Seq("seg"))
      .withColumn("lhs", dec(col("n") * col("x") - col("s")) *
        dec(col("n") * col("x") - col("s")))
      .withColumn("rhs", (dec(col("n")) * dec(col("s2")) -
        dec(col("s")) * dec(col("s"))) * 4)
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("rows_n"),
        sum((col("lhs") > col("rhs")).cast("long")).as("outliers"))
      .orderBy(col("seg"))
  }

  /** C13: crawled statistics wired into the cost-based optimizer. The
    * same customer parquet is registered twice as an external catalog
    * table — once bare, once with the crawler's output (rowCount,
    * sizeBytes, per-column ndv/nulls/min/max) injected as
    * CatalogStatistics — and the same filtered dim⋈orders query is
    * planned against both under CBO with the broadcast threshold at
    * half the dim's file size. Without stats the filter cannot shrink
    * the size-only estimate (raw file bytes) → SortMergeJoin; with
    * crawled ndv + min/max the estimate drops ~50× under the threshold
    * → BroadcastHashJoin, by statistics, not by hint. Both the chosen
    * join operators AND the query's data results are oracle-checked;
    * even the filter cap is derived from the crawled max(c_custkey),
    * so the whole gate is crawl-output-driven. The conf changes live
    * on a private session; tables re-register idempotently.
    */
  def c13CboBhj(shared: SparkSession, dir: String): DataFrame = {
    // the CBO flags below are set on a private session: concurrent
    // users of `shared` keep their plans
    val spark = shared.newSession()
    import spark.implicits._
    import graft.crawler.CboStats
    val cust = LakeCrawler.discover(spark, dir).find(_.name == "customer").get
    val profiles = Profiler.profile(spark, LakeCrawler.open(spark, cust), "customer")
    CboStats.registerTable(spark, "customer_nostats", cust.path)
    CboStats.registerTable(spark, "customer_stats", cust.path)
    CboStats.applyStats(spark, "customer_stats", cust, profiles)
    val cap = profiles.find(_.column == "c_custkey").get.max_s.get.toLong / 10
    val orders = graft.core.Lake.table(spark, dir, "orders")
    def q(table: String) = spark.table(table)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_custkey") <= cap)
      .join(orders, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_c"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    // /16, not /2: even without stats, logical Project scaling
    // credits the 2-of-5 column pruning (~fileSize/4 estimate);
    // only crawled ndv+min/max can get below fileSize/16 (~2%
    // selectivity → ~fileSize/70). Both margins are ~4× and scale
    // with the table, so the flip holds at every scale factor.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (cust.sizeBytes / 16).toString)
    val (noStatsNode, statsNode, result) =
      (CboStats.staticJoinNode(q("customer_nostats")),
        CboStats.staticJoinNode(q("customer_stats")),
        q("customer_stats").collect().head)
    val n = result.getLong(result.fieldIndex("n_rows"))
    val cents = result.getLong(result.fieldIndex("revenue_c"))
    Seq(("no_stats", noStatsNode, n, cents),
        ("with_stats", statsNode, n, cents))
      .toDF("variant", "join_node", "n_rows", "revenue_c")
      .orderBy(col("variant"))
  }

  /** C14: the crawler is transactional-table-aware. A lake holds a
    * plain parquet table and a TxnTable (full orders, then a predicate
    * delete); discovery must classify the txn dir as `graft-txn` and
    * size it from the commit log's LIVE files (a raw file walk would
    * double-count the pre-delete files), profiling must read the
    * LOGICAL snapshot (deleted rows gone — the aggregate is
    * oracle-checked against the same predicate on raw orders), and an
    * incremental re-crawl after one more commit must flag exactly the
    * txn table as changed. Crawler ∘ ACID, end-to-end.
    */
  def c14TxnCrawl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.TxnTable
    val lake = Files.createTempDirectory("graft_c14").toString
    graft.core.Lake.table(spark, dir, "nation")
      .coalesce(1).write.parquet(s"$lake/nation")
    val t = s"$lake/orders_txn"
    val orders = graft.core.Lake.table(spark, dir, "orders")
    TxnTable.create(spark, t, orders)
    TxnTable.deleteWhere(spark, t, col("o_orderstatus") === "P")
    val snap1 = Files.createTempDirectory("graft_c14s1").toString
    val infos = CatalogStore.crawl(spark, lake, snap1)
    val txnInfo = infos.find(_.name == "orders_txn").get
    val agg = LakeCrawler.open(spark, txnInfo)
      .agg(count(lit(1)).as("c"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("pc")).head()
    TxnTable.append(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    val snap2 = Files.createTempDirectory("graft_c14s2").toString
    val d = CatalogStore.incrementalCrawl(spark, lake, snap1, snap2)
    Seq((txnInfo.format, agg.getLong(0), agg.getLong(1), infos.size.toLong,
        d.changed.mkString(","), d.unchanged.mkString(",")))
      .toDF("txn_format", "txn_rows", "txn_price_c", "datasets",
        "changed", "unchanged")
  }

  /** C15: the crawler is text-index-aware. A lake holds a plain parquet
    * dataset and a [[graft.operators.Keywords.buildIndex]] layout
    * (`postings/bucket=<b>/` + `stats/`); discovery must classify the
    * index dir as ONE `graft-index` dataset (not a bucket-partitioned
    * tree plus an unrelated "stats" table), open it as the logical
    * postings frame (aggregate oracle-checked against a DuckDB replay
    * of the tokenize→postings derivation on raw documents), size it
    * from the whole layout, and an incremental re-crawl after a
    * compaction rewrite must flag exactly the index as changed.
    * Crawler ∘ index layout, end-to-end — the C14 move for the plain
    * index.
    */
  def c15IndexCrawl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lake = Files.createTempDirectory("graft_c15").toString
    graft.core.Lake.table(spark, dir, "nation")
      .coalesce(1).write.parquet(s"$lake/nation")
    val docs = graft.core.Lake.table(spark, dir, "documents")
    graft.operators.Keywords.buildIndex(docs, "doc_id", "text",
      s"$lake/docs_index", nBuckets = 8)
    val snap1 = Files.createTempDirectory("graft_c15s1").toString
    val infos = CatalogStore.crawl(spark, lake, snap1)
    val idxInfo = infos.find(_.name == "docs_index").get
    val logical = LakeCrawler.open(spark, idxInfo)
    val agg = logical.agg(count(lit(1)).as("p"),
      countDistinct(col("term")).as("t"),
      sum(col("tf").cast("long")).as("s")).head()
    val statsDocs = spark.read.parquet(s"${idxInfo.path}/stats")
      .agg(sum(col("n"))).head().getLong(0)
    // a maintenance rewrite must surface as exactly-one-changed-dataset
    graft.operators.Keywords.compactIndex(spark, s"$lake/docs_index")
    val snap2 = Files.createTempDirectory("graft_c15s2").toString
    val d = CatalogStore.incrementalCrawl(spark, lake, snap1, snap2)
    Seq((idxInfo.format, agg.getLong(0), agg.getLong(1), agg.getLong(2),
        statsDocs, infos.size.toLong, d.changed.mkString(","),
        d.unchanged.mkString(",")))
      .toDF("idx_format", "postings_rows", "n_terms", "tf_sum",
        "stats_docs", "datasets", "changed", "unchanged")
  }

  /** C16: the crawler is ANN-layout-aware — the C15 move for vectors.
    * A lake holds a plain parquet dataset and an IVF layout
    * ([[graft.operators.Similarity.withIvfList]] + `partitionBy
    * (__list)`, the l3c shape). The leading-underscore partition dirs
    * make the tree invisible to a plain walk, so without this a
    * catalog user would not see the vector corpus at all; discovery
    * must classify it as ONE `graft-ann` dataset, open it with the
    * `__list` assignment column restored (checksum oracle-checked
    * against a DuckDB replay of md5 centroid sampling + left-fold
    * squared-distance assignment), size it from the whole partition
    * tree, and a layout-preserving compaction must flag exactly the
    * ann dataset changed on re-crawl.
    */
  def c16AnnCrawl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Similarity
    val lake = Files.createTempDirectory("graft_c16").toString
    graft.core.Lake.table(spark, dir, "nation")
      .coalesce(1).write.parquet(s"$lake/nation")
    val emb = graft.core.Lake.table(spark, dir, "embeddings")
    val cents = Similarity.md5Centroids(emb, 8)
    Similarity.withIvfList(emb.filter(col("vec_id") =!= 0), cents)
      .write.mode("overwrite").partitionBy("__list").parquet(s"$lake/annvecs")
    val snap1 = Files.createTempDirectory("graft_c16s1").toString
    val infos = CatalogStore.crawl(spark, lake, snap1)
    val annInfo = infos.find(_.name == "annvecs").get
    val logical = LakeCrawler.open(spark, annInfo)
    val agg = logical.agg(count(lit(1)).as("v"),
      countDistinct(col("__list")).as("l"),
      sum(col("__list").cast("long") * col("vec_id")).as("s")).head()
    // a maintenance rewrite (layout-preserving compaction) must surface
    // as exactly-one-changed-dataset, and the checksum must not move
    graft.crawler.Compactor.compact(spark, annInfo, targetFileBytes = 1L << 26)
    val agg2 = LakeCrawler.open(spark,
        annInfo.copy(numFiles = 0, sizeBytes = 0, modifiedMs = 0))
      .agg(sum(col("__list").cast("long") * col("vec_id"))).head()
    require(agg2.getLong(0) == agg.getLong(2),
      "compaction must preserve the list assignment exactly")
    val snap2 = Files.createTempDirectory("graft_c16s2").toString
    val d = CatalogStore.incrementalCrawl(spark, lake, snap1, snap2)
    Seq((annInfo.format, agg.getLong(0), agg.getLong(1), agg.getLong(2),
        infos.size.toLong, d.changed.mkString(","), d.unchanged.mkString(",")))
      .toDF("ann_format", "n_vecs", "n_lists", "list_checksum",
        "datasets", "changed", "unchanged")
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "c16_ann_crawl"       -> (c16AnnCrawl _),
    "c15_index_crawl"     -> (c15IndexCrawl _),
    "c14_txn_crawl"       -> (c14TxnCrawl _),
    "c13_cbo_bhj"         -> (c13CboBhj _),
    "c12_outliers"        -> (c12Outliers _),
    "c8_equidepth"        -> (c8EquidepthHistogram _),
    "c9_footer_counts"    -> (c9FooterCounts _),
    "c10_data_drift"      -> (c10DataDrift _),
    "c11_profile_merge"   -> (c11ProfileMerge _),
    "c1_discover"         -> (c1Discover _),
    "c2_schemas"          -> (c2Schemas _),
    "c3_profile_customer" -> (c3ProfileCustomer _),
    "c3_topk_mktsegment"  -> (c3TopkMktsegment _),
    "c17_nested_profile"  -> (c17NestedProfile _),
    "c5_incremental"      -> (c5Incremental _),
    "c6_quality_checks"   -> (c6QualityChecks _),
    "c7_schema_drift"     -> (c7SchemaDrift _))

  private val expectedSchemas: Seq[(String, Seq[(String, String)])] = Seq(
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
      "props" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"))

  private val c2Values: String = expectedSchemas.flatMap { case (ds, cols) =>
    cols.zipWithIndex.map { case ((c, t), i) => s"('$ds','$c','$t',$i)" }
  }.mkString(", ")

  private def profBlock(c: String): String =
    s"""SELECT '$c' AS col_name, count($c) AS cnt,
       | count(*) - count($c) AS nulls, count(DISTINCT $c) AS ndistinct,
       | CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
       |FROM customer""".stripMargin

  val oracle: Map[String, String] = Map(
    // The list-assignment checksum is the cross-engine check (DuckDB
    // replays md5 centroid sampling + squared-distance assignment);
    // format/diff columns pin the ann classification and the
    // exactly-one-changed-dataset invariant after a layout-preserving
    // compaction.
    "c16_ann_crawl" ->
      ("WITH " + PipelineQueries.ivfAssignCtes + """
        |SELECT 'graft-ann' AS ann_format,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(count(DISTINCT list) AS BIGINT) AS n_lists,
        |  CAST(sum(list * vec_id) AS BIGINT) AS list_checksum,
        |  CAST(2 AS BIGINT) AS datasets,
        |  'annvecs' AS changed,
        |  'nation' AS unchanged
        |FROM assign""".stripMargin),
    // The postings aggregate is the cross-engine check (DuckDB replays
    // tokenize→postings on raw documents); format/diff columns pin the
    // index classification and the exactly-one-changed-dataset
    // invariant after a compaction rewrite.
    "c15_index_crawl" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM documents),
        |p AS (SELECT doc_id, term, count(*) AS tf
        |      FROM (SELECT doc_id, unnest(t) AS term FROM d)
        |      WHERE len(term) > 0 GROUP BY 1, 2)
        |SELECT 'graft-index' AS idx_format,
        |  count(*) AS postings_rows,
        |  count(DISTINCT term) AS n_terms,
        |  CAST(sum(tf) AS BIGINT) AS tf_sum,
        |  (SELECT count(*) FROM documents) AS stats_docs,
        |  CAST(2 AS BIGINT) AS datasets,
        |  'docs_index' AS changed, 'nation' AS unchanged
        |FROM p""".stripMargin,
    // The snapshot aggregate is the cross-engine check (DuckDB applies
    // the same delete predicate to raw orders); format/diff columns pin
    // the discovery classification and the exactly-one-changed-dataset
    // invariant.
    "c14_txn_crawl" ->
      """SELECT 'graft-txn' AS txn_format, count(*) AS txn_rows,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |    AS txn_price_c,
        |  CAST(2 AS BIGINT) AS datasets,
        |  'orders_txn' AS changed, 'nation' AS unchanged
        |FROM orders WHERE o_orderstatus <> 'P'""".stripMargin,
    // The data columns are a genuine cross-engine check; the join_node
    // column pins the PLAN flip (static planner choice with vs without
    // crawled stats) as part of the executable contract.
    "c13_cbo_bhj" ->
      """WITH cap AS (SELECT CAST(max(c_custkey)/10 AS BIGINT) AS v FROM customer),
        |r AS (SELECT count(*) AS n_rows,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS revenue_c
        |  FROM orders JOIN customer ON o_custkey = c_custkey, cap
        |  WHERE c_mktsegment = 'BUILDING' AND c_custkey <= cap.v)
        |SELECT v.variant, v.join_node, r.n_rows, r.revenue_c
        |FROM (VALUES ('no_stats','SortMergeJoin'),
        |             ('with_stats','BroadcastHashJoin'))
        |  v(variant, join_node), r
        |ORDER BY variant""".stripMargin,
    // Same integer-cents rewrite; HUGEINT is DuckDB's DECIMAL(38) stand-in,
    // so the boundary comparison is exact on both engines.
    "c12_outliers" ->
      """WITH cc AS (SELECT c_mktsegment AS seg,
        |    CAST(round(c_acctbal*100) AS BIGINT) AS x FROM customer),
        |st AS (SELECT seg, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x*x) AS BIGINT) AS s2 FROM cc GROUP BY 1)
        |SELECT cc.seg, count(*) AS rows_n,
        |  CAST(sum(CASE WHEN
        |      CAST(st.n*cc.x - st.s AS HUGEINT)*CAST(st.n*cc.x - st.s AS HUGEINT)
        |      > 4*(CAST(st.n AS HUGEINT)*CAST(st.s2 AS HUGEINT)
        |           - CAST(st.s AS HUGEINT)*CAST(st.s AS HUGEINT))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS outliers
        |FROM cc JOIN st ON cc.seg = st.seg
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "c1_discover" ->
      ("""SELECT * FROM (VALUES """ +
        Seq("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")
          .map(n => s"('$n','parquet',1)").mkString(", ") +
        """) t(name, format, num_files) ORDER BY name"""),
    "c2_schemas" ->
      (s"""SELECT * FROM (VALUES $c2Values)
         | t(dataset, col_name, dtype, position)
         |ORDER BY dataset, position""".stripMargin),
    "c3_profile_customer" ->
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .map(profBlock).mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    // Every nested leaf's stats recomputed from the raw relational
    // tables the nested dataset was shredded from: struct leaves over
    // the joined base rows, array-element leaves over the lineitems of
    // those orders (explode semantics: one row per element).
    "c17_nested_profile" ->
      ("""WITH base AS (
         |  SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_mktsegment
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |  WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem)),
         |el AS (
         |  SELECT l_linenumber, l_quantity, l_extendedprice FROM lineitem
         |  WHERE l_orderkey IN (SELECT o_orderkey FROM base))
         |""".stripMargin +
        (Seq(("o_orderkey", "o_orderkey", "base"),
          ("o_totalprice", "o_totalprice", "base"),
          ("cust.c_custkey", "c_custkey", "base"),
          ("cust.c_mktsegment", "c_mktsegment", "base"),
          ("items[].l_linenumber", "l_linenumber", "el"),
          ("items[].l_quantity", "l_quantity", "el"),
          ("items[].l_extendedprice", "l_extendedprice", "el"))
          .map { case (label, c, rel) =>
            s"""SELECT '$label' AS col_name, count($c) AS cnt,
               | count(*) - count($c) AS nulls,
               | count(DISTINCT $c) AS ndistinct,
               | CAST(min($c) AS VARCHAR) AS min_s,
               | CAST(max($c) AS VARCHAR) AS max_s
               |FROM $rel""".stripMargin }
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),
    "c3_topk_mktsegment" ->
      """SELECT CAST(c_mktsegment AS VARCHAR) AS value, count(*) AS freq
        |FROM customer GROUP BY 1 ORDER BY freq DESC, value LIMIT 3""".stripMargin,
    "c5_incremental" ->
      """SELECT CAST(10 AS BIGINT) AS unchanged, CAST(0 AS BIGINT) AS changed,
        | CAST(0 AS BIGINT) AS added, CAST(0 AS BIGINT) AS removed""".stripMargin,
    "c11_profile_merge" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nulls,
        |  CAST(round(min(c_acctbal) * 100) AS BIGINT) AS mn_c,
        |  CAST(round(max(c_acctbal) * 100) AS BIGINT) AS mx_c,
        |  true AS distinct_ok
        |FROM customer""".stripMargin,
    "c10_data_drift" ->
      """WITH b AS (SELECT o_orderkey,
        |    CAST(least(greatest(floor(o_totalprice * 8 / 600000.0), 0), 7)
        |      AS BIGINT) AS bucket
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |o AS (SELECT bucket, count(*) AS old_n FROM b
        |  WHERE o_orderkey % 2 = 0 GROUP BY 1),
        |n AS (SELECT bucket, count(*) AS new_n FROM b
        |  WHERE o_orderkey % 2 = 1 GROUP BY 1)
        |SELECT coalesce(o.bucket, n.bucket) AS bucket,
        |  coalesce(old_n, 0) AS old_n, coalesce(new_n, 0) AS new_n,
        |  abs(coalesce(old_n, 0) - coalesce(new_n, 0)) AS l1
        |FROM o FULL OUTER JOIN n ON o.bucket = n.bucket
        |ORDER BY 1""".stripMargin,
    "c9_footer_counts" ->
      Seq("customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier")
        .map(t => s"SELECT '$t' AS name, count(*) AS row_count FROM $t")
        .mkString("", "\nUNION ALL\n", "\nORDER BY name"),
    "c8_equidepth" ->
      """WITH q AS (SELECT
        |    quantile_cont(l_extendedprice, 0.25) AS q1,
        |    quantile_cont(l_extendedprice, 0.50) AS q2,
        |    quantile_cont(l_extendedprice, 0.75) AS q3
        |  FROM lineitem)
        |SELECT CAST((CASE WHEN l_extendedprice > q1 THEN 1 ELSE 0 END
        |     + CASE WHEN l_extendedprice > q2 THEN 1 ELSE 0 END
        |     + CASE WHEN l_extendedprice > q3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS bucket,
        |  count(*) AS c,
        |  CAST(round(min(l_extendedprice) * 100) AS BIGINT) AS lo_c,
        |  CAST(round(max(l_extendedprice) * 100) AS BIGINT) AS hi_c
        |FROM lineitem, q GROUP BY 1 ORDER BY 1""".stripMargin,
    "c6_quality_checks" ->
      """SELECT "check", violations, total, violations = 0 AS ok FROM (
        |  SELECT 'customer_acctbal_range' AS "check",
        |    CAST(sum(CASE WHEN c_acctbal IS NOT NULL
        |      AND (c_acctbal < 0 OR c_acctbal > 10000) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS violations, count(*) AS total FROM customer
        |  UNION ALL
        |  SELECT 'customer_key_unique',
        |    count(*) - count(DISTINCT c_custkey), count(*) FROM customer
        |  UNION ALL
        |  SELECT 'lineitem_discount_range',
        |    CAST(sum(CASE WHEN l_discount IS NOT NULL
        |      AND (l_discount < 0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_quantity_cap',
        |    CAST(sum(CASE WHEN l_quantity IS NOT NULL
        |      AND (l_quantity < 1 OR l_quantity > 49) THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'orders_custkey_not_null',
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM orders
        |  UNION ALL
        |  SELECT 'orders_status_accepted',
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM orders
        |  UNION ALL
        |  SELECT 'orders_price_positive',
        |    CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, false)
        |      THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM orders
        |  UNION ALL
        |  SELECT 'orders_custkey_in_customer',
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        |      AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |    count(*) FROM orders
        |) ORDER BY "check"""".stripMargin,
    "c7_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('customer', 'c_acctbal',    'removed', 'double', '',       3, -1),
        |  ('customer', 'c_mktsegment', 'moved',   'string', 'string', 4,  3),
        |  ('customer', 'c_nationkey',  'retyped', 'int',    'bigint', 2,  2),
        |  ('customer', 'c_tier',       'added',   '',       'int',   -1,  4))
        | t(dataset, col_name, change, old_type, new_type, old_pos, new_pos)
        |ORDER BY col_name""".stripMargin)
}
