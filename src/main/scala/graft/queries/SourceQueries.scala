package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Lake
import graft.core.TxnTable.Bound
import graft.crawler.LakeCrawler

/** Gate entries proving the NON-parquet ingestion paths end-to-end
  * (SURVEY.md §2.1 S2/S3) and the multi-file parquet scan story.
  *
  * The corpus is all-parquet, so without these the CSV/JSON inference code
  * (LakeCrawler.open) would only ever be exercised by unit specs. Each gate
  * MATERIALIZES a corpus table in the target format (a deterministic
  * function of the sf dir), re-ingests it through the crawler's discovery +
  * format-detection + schema-inference path, and aggregates; the DuckDB
  * oracle reads the very same files via read_csv/read_json, so inference
  * divergence (types, quoting, header handling) fails the gate.
  *
  * The write target is a fixed path under the repo's build dir: the oracle
  * SQL must name the same absolute path the gate wrote (the driver runs
  * the oracle in a separate DuckDB process after Verify completes).
  */
object SourceQueries {

  /** Fixed materialization root (inside the repo build dir). */
  val gateRoot = "/root/repo/target/gatedata"

  /** Crawl `root` and open dataset `name` through the full crawler path —
    * discovery, format sniffing, then schema-inferred read.
    */
  private def crawlOpen(spark: SparkSession, root: String, name: String,
      expectFormat: String): DataFrame = {
    val info = LakeCrawler.discover(spark, root)
      .find(_.name == name)
      .getOrElse(sys.error(s"gate dataset $name not discovered under $root"))
    require(info.format == expectFormat,
      s"format detection: expected $expectFormat for $name, got ${info.format}")
    LakeCrawler.open(spark, info)
  }

  /** S2: customer → 4-file headered CSV → crawler discovery + inference →
    * aggregate. Types round-trip through CSV text: the agg casts keys to
    * BIGINT on both sides (Spark infers int where DuckDB infers bigint)
    * and money through the integer-cents canonicalization.
    */
  def s2CsvInference(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$gateRoot/customer_csv"
    Lake.table(spark, dir, "customer")
      .repartition(4)
      .write.mode("overwrite").option("header", "true").csv(out)
    crawlOpen(spark, gateRoot, "customer_csv", "csv")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("c"),
        (sum(round(col("c_acctbal") * 100).cast("long")) / 100.0).as("s"),
        min(col("c_custkey")).cast("long").as("mn"),
        max(col("c_custkey")).cast("long").as("mx"))
      .orderBy(col("c_mktsegment"))
  }

  /** S3: part → 4-file JSON-lines → crawler discovery + inference →
    * aggregate (string lengths, int range, money sum).
    */
  def s3JsonInference(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$gateRoot/part_json"
    Lake.table(spark, dir, "part")
      .repartition(4)
      .write.mode("overwrite").json(out)
    crawlOpen(spark, gateRoot, "part_json", "json")
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("c"),
        min(length(col("p_name"))).cast("long").as("mn_name"),
        max(col("p_size")).cast("long").as("mx_size"),
        (sum(round(col("p_retailprice") * 100).cast("long")) / 100.0).as("s"))
      .orderBy(col("p_brand"))
  }

  /** S1 at scale shape: lineitem rewritten as a 16-file parquet layout,
    * then the q01 aggregation over the multi-file table. The oracle runs
    * the same aggregation against the ORIGINAL single-file table — so the
    * gate pins layout-independence: splitting a table across files must
    * not change any result, and the scan must actually fan out (inputFiles
    * is asserted; the bench records the parallelism win separately).
    */
  def s1MultifileScan(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$gateRoot/lineitem16"
    Lake.table(spark, dir, "lineitem")
      .repartition(16)
      .write.mode("overwrite").parquet(out)
    val li = spark.read.parquet(out)
    require(li.inputFiles.length == 16,
      s"expected 16-file layout, got ${li.inputFiles.length}")
    li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sq"),
        (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("sp"),
        (sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1000000)
          .cast("long")) / 1000000.0).as("disc"),
        avg(col("l_quantity")).as("aq"),
        count(lit(1)).as("c"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** S7: bucketed tables — the co-located-join layout. Both join sides
    * are written bucketed 8 ways on the join key (explicit external
    * paths under gateRoot; metadata in the session catalog); the join
    * then needs NO shuffle exchange on either side — at 100 TB this is
    * the difference between re-shuffling two fact tables per query and
    * reading co-located buckets. The zero-Exchange plan shape is
    * asserted in BucketedJoinSpec; this gate pins that the bucketed
    * round-trip is LOSSLESS (same aggregate as the plain-layout oracle).
    */
  def s7BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    Lake.table(spark, dir, "orders")
      .write.mode("overwrite").option("path", s"$gateRoot/orders_bkt")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_bkt")
    Lake.table(spark, dir, "customer")
      .write.mode("overwrite").option("path", s"$gateRoot/customer_bkt")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_bkt")
    spark.table("orders_bkt")
      .join(spark.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("c"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("s"))
      .orderBy(col("c_mktsegment"))
  }

  /** S8: orders → 4-file ORC → crawler discovery (magic-byte detection —
    * the files keep Spark's part-file names, so the extension path isn't
    * what proves it; CrawlerSpec covers extensionless sniffing) →
    * columnar re-read → aggregate. DuckDB can't read ORC, so the oracle
    * computes from the ORIGINAL parquet table: the gate pins that the
    * ORC round-trip (types, timestamps, nulls) is lossless.
    */
  def s8OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$gateRoot/orders_orc"
    Lake.table(spark, dir, "orders")
      .repartition(4)
      .write.mode("overwrite").orc(out)
    crawlOpen(spark, gateRoot, "orders_orc", "orc")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("c"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("s"),
        min(col("o_orderdate")).as("mn_date"),
        max(col("o_orderdate")).as("mx_date"))
      .orderBy(col("o_orderpriority"))
  }

  /** S9: small-file compaction — events fragmented into 64 tiny files,
    * re-discovered by the crawler, compacted to a handful with an atomic
    * directory swap, then aggregated. The oracle reads the ORIGINAL
    * single-file table, so the gate pins that fragmentation + compaction
    * is lossless end-to-end; the in-run requires pin the file counts.
    */
  def s9Compaction(spark: SparkSession, dir: String): DataFrame = {
    import graft.crawler.Compactor
    val out = s"$gateRoot/events_fragmented"
    Lake.table(spark, dir, "events")
      .repartition(64)
      .write.mode("overwrite").parquet(out)
    val before = LakeCrawler.discover(spark, gateRoot)
      .find(_.name == "events_fragmented").get
    require(before.numFiles == 64, s"expected 64 fragments, got ${before.numFiles}")
    val targetBytes = math.max(1L, before.sizeBytes / 4)
    val after = Compactor.compact(spark, before, targetBytes)
    require(after <= 8 && after < before.numFiles,
      s"compaction did not reduce files: $after")
    LakeCrawler.open(spark,
        LakeCrawler.discover(spark, gateRoot).find(_.name == "events_fragmented").get)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("c"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("s"),
        countDistinct(col("event_id")).as("ids"))
      .orderBy(col("event_type"))
  }

  /** S10: z-order (Morton) clustering key — the codegen interleave
    * expression cross-checked bit-for-bit against DuckDB rebuilding each
    * z-value from shift/mask arithmetic. The layout half (range-partition
    * by z, per-file min/max tightness, box-query pruning) is ZOrderSpec's
    * property; this gate pins the curve itself.
    */
  def s10ZorderValues(spark: SparkSession, dir: String): DataFrame =
    graft.core.Lake.table(spark, dir, "lineitem")
      .filter(col("l_orderkey") < 40)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        graft.plans.ZOrderInterleave.zorder(col("l_partkey"), col("l_suppkey"))
          .as("z"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** S11: end-to-end data skipping — z-order-cluster lineitem into 16
    * files, build the footer min/max index WITHOUT scanning data, select
    * only files whose l_partkey range intersects the box, read just
    * those, and still produce the exact filtered aggregate (the oracle
    * scans everything). Pruning effectiveness (selected << total) is
    * SkippingIndexSpec's assertion; this gate pins losslessness.
    */
  def s11SkippingScan(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.core.Lake.table(spark, dir, "lineitem")
    val tmp = java.nio.file.Files.createTempDirectory("graft_skip").toString
    graft.operators.Layout
      .zorderPartitions(li, col("l_partkey"), col("l_suppkey"), 16)
      .write.mode("overwrite").parquet(tmp)
    val idx = graft.crawler.SkippingIndex.build(spark, tmp,
      Seq("l_partkey", "l_suppkey"))
    val files = graft.crawler.SkippingIndex.selectFiles(idx, 0, 100L, 300L)
    spark.read.parquet(files: _*)
      .filter(col("l_partkey").between(100, 300))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("c"),
        sum(col("l_quantity").cast("long")).as("q"),
        sum(col("l_partkey")).as("pk_sum"))
      .orderBy(col("l_returnflag"))
  }

  /** S12: nested columnar data end-to-end — the Dremel shape the flat
    * corpus never exercises. Orders are materialized as one row per
    * order with a `cust` STRUCT and an `items` ARRAY<STRUCT> (sorted
    * for determinism), round-tripped through parquet, then a query
    * touching ONLY `cust.c_mktsegment` and `items[*].l_quantity`
    * explodes and aggregates. The DuckDB oracle computes the same
    * numbers from the flat join, so shredding + reassembly must be
    * lossless; PlanShapeSpec asserts the nested ReadSchema is pruned
    * to exactly the two leaf fields (at 100 TB, reading
    * `items.l_extendedprice` bytes for a query that never uses them
    * is the hidden full-scan).
    */
  def s12Nested(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$gateRoot/orders_nested"
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
    spark.read.parquet(out)
      .select(col("cust.c_mktsegment").as("seg"), explode(col("items")).as("it"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("it.l_quantity") * 100).cast("long")).as("qty_c"))
      .orderBy(col("seg"))
  }

  /** S13: the transactional table format end-to-end — create, two
    * appends, a predicate delete (file-level rewrite), and a compaction,
    * then EVERY version re-read via time travel. The oracle recomputes
    * each snapshot from the raw table with the same tranche definitions,
    * so the gate pins: commit atomicity produced exactly the declared
    * versions, logical content is stable across physical rewrites
    * (v4 == v3 through a full compaction), and log replay reconstructs
    * every historical snapshot. ACID/concurrency corners (contended
    * commits, snapshot isolation under concurrent writers) are pinned
    * in TxnTableSpec.
    */
  def s13TxnTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s13").toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders")
    TxnTable.create(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    TxnTable.append(spark, t, orders.filter(col("o_orderkey") % 3 === 1))
    TxnTable.append(spark, t, orders.filter(col("o_orderkey") % 3 === 2))
    TxnTable.deleteWhere(spark, t, col("o_orderstatus") === "P")
    TxnTable.compact(spark, t)
    (0L to 4L).map { v =>
      TxnTable.read(spark, t, asOf = v)
        .agg(lit(v).as("version"), count(lit(1)).as("c"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_c"))
    }.reduce(_ unionAll _).orderBy(col("version"))
  }

  /** S14: BOX-pruned reads on a z-ordered transactional table —
    * `compactClustered` + a two-bound `readPruned` end-to-end: the lineitem
    * snapshot is z-ordered on (l_partkey, l_suppkey), then a
    * two-dimensional box query must (a) return exactly the predicate's
    * rows (oracle) and (b) read a strict subset of the snapshot's
    * files, tighter-or-equal than either single-dimension prune —
    * asserted in-run. The payoff of paying the z-order shuffle: both
    * dimensions' footer ranges stay compact per file.
    */
  def s14BoxRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s14")
      .toString + "/li_txn"
    val li = Lake.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    TxnTable.create(spark, t, li, partitions = 4)
    TxnTable.compactClustered(spark, t,
      Seq(col("l_partkey"), col("l_suppkey")), targetFiles = 16)
    // scale-proportional box (half of each key range) so the gate's
    // in-run pruning asserts hold at every sf
    val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (hiA, hiB) = (mx.getLong(0) / 2, mx.getLong(1) / 2)
    val boxed = TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("l_partkey", 1L, hiA),
        Bound.LongRange("l_suppkey", 1L, hiB)))
    val rows = boxed
      .agg(count(lit(1)).as("c"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
        sum(col("l_partkey")).as("pk_sum"),
        sum(col("l_suppkey")).as("sk_sum"))
      .collect()
    val read = boxed.inputFiles.length
    val live = TxnTable.snapshotFiles(t).size
    val oneDim = TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("l_partkey", 1L, hiA)))
      .inputFiles.length
    require(read > 0 && read < live && read <= oneDim,
      s"box prune: read $read of $live files (1-dim read $oneDim)")
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.toDF("c", "qty_c", "pk_sum", "sk_sum")
  }

  /** S14b: the TIME-RANGE box — s14 with a TIMESTAMP dimension. The
    * lineitem snapshot is z-ordered on (l_shipdate, l_partkey); the box
    * bounds live in the column's PHYSICAL int64 footer space (epoch
    * micros for timestamps), so the same footer machinery prunes a
    * time-range × key query, and the residual predicate is rebuilt as
    * foldable timestamp literals (still row-group-pushable). Bounds are
    * scale-proportional (middle quarter of the shipdate span × lower
    * half of the key range) so the in-run pruning asserts hold at
    * every sf.
    */
  def s14bTimeBoxRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s14b")
      .toString + "/li_txn"
    val li = Lake.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"),
        col("l_quantity"))
    TxnTable.create(spark, t, li, partitions = 4)
    TxnTable.compactClustered(spark, t,
      Seq(col("l_shipdate"), col("l_partkey")), targetFiles = 16)
    val b = li.agg(min(unix_micros(col("l_shipdate"))),
      max(unix_micros(col("l_shipdate"))), max(col("l_partkey"))).head()
    val (tmn, tmx, pmx) = (b.getLong(0), b.getLong(1), b.getLong(2))
    val (loT, hiT) = (tmn + (tmx - tmn) / 4, tmn + (tmx - tmn) / 2)
    val boxed = TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("l_shipdate", loT, hiT),
        Bound.LongRange("l_partkey", 1L, pmx / 2)))
    val rows = boxed
      .agg(count(lit(1)).as("c"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
        sum(col("l_partkey")).as("pk_sum"),
        countDistinct(to_date(col("l_shipdate"))).as("days"))
      .collect()
    val read = boxed.inputFiles.length
    val live = TxnTable.snapshotFiles(t).size
    val oneDim = TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("l_shipdate", loT, hiT)))
      .inputFiles.length
    require(read > 0 && read < live && read <= oneDim,
      s"time box prune: read $read of $live files (1-dim read $oneDim)")
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.toDF("c", "qty_c", "pk_sum", "days")
  }

  /** S15: STRING-pruned reads — the last footer-stats type. documents
    * is clustered leading on `source`; a string-range read must return
    * exactly the rows of the (binary-lexicographic) range while
    * scanning a strict subset of the snapshot's files, from the
    * parquet UTF8 footer min/max. Byte order is the one order all
    * three parties share (parquet stats, Spark string comparison, the
    * DuckDB BETWEEN), so the prune and the predicate cannot disagree.
    */
  def s15StringPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s15")
      .toString + "/docs_txn"
    val docs = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    TxnTable.createClustered(spark, t, docs,
      Seq(col("source"), col("doc_id")), targetFiles = 10)
    // 'src0'..'src12' spans 5 of the 20 sources in byte order
    // (src0, src1, src10, src11, src12) — scale-independent bounds
    val pruned = TxnTable.readPruned(spark, t,
      Seq(Bound.StringRange("source", "src0", "src12")))
    val rows = pruned
      .agg(count(lit(1)).as("c"), sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("chars"))
      .collect()
    val read = pruned.inputFiles.length
    val live = TxnTable.snapshotFiles(t).size
    require(read > 0 && read < live,
      s"string prune: read $read of $live files")
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.toDF("c", "id_sum", "chars")
  }

  /** S16: SHALLOW CLONE — zero-copy table branching. Clone the orders
    * txn table (pure metadata: the in-run assert requires that the
    * clone owns NO data files), then branch on the clone: a predicate
    * delete (rewrites only hit files, replacing source references
    * with clone-local survivors) and an append. The oracle recomputes
    * the branch from raw orders; in-run asserts pin the zero-copy and
    * isolation halves — the source's version AND content are
    * untouched by the clone's writes, and an aggressive vacuum on the
    * clone deletes nothing of the source (own-root guard).
    */
  def s16ShallowClone(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val root = java.nio.file.Files.createTempDirectory("graft_s16").toString
    val src = s"$root/src"
    val dst = s"$root/clone"
    val orders = Lake.table(spark, dir, "orders")
    TxnTable.create(spark, src, orders, partitions = 4)
    val srcV = TxnTable.currentVersion(src)
    TxnTable.cloneShallow(spark, src, dst)
    require(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst, "data")),
      "shallow clone must write ZERO data files")
    // branch: the clone diverges, the source must not move
    TxnTable.deleteWhere(spark, dst, col("o_orderstatus") === "P")
    TxnTable.append(spark, dst,
      orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
    require(TxnTable.currentVersion(src) == srcV,
      "clone writes must not touch the source log")
    val srcRows = TxnTable.read(spark, src).count()
    // aggressive clone vacuum: the own-root guard must spare the source
    TxnTable.vacuum(spark, dst, retainVersions = 1)
    require(TxnTable.read(spark, src).count() == srcRows,
      "clone vacuum must never reap source data")
    TxnTable.read(spark, dst)
      .agg(count(lit(1)).as("c"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_c"),
        sum(col("o_orderkey")).as("key_sum"))
  }

  /** S17: change data feed between versions, FILE-SCOPED — the keyed
    * insert/delete/update diff computed from only the files that
    * changed. The table is key-clustered so the delete (a key range)
    * and the update merge (a narrow key range) each rewrite a few
    * files; the in-run asserts pin BOTH halves: the changed-file sets
    * are strictly smaller than the snapshots (the scoping actually
    * prunes), and the scoped diff equals the full-snapshot diff
    * op-for-op. The oracle recomputes all three ops from raw orders
    * with the same scale-proportional bounds.
    */
  def s17VersionDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s17")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders")
    val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_orderkey")),
      targetFiles = 8) // v0
    TxnTable.deleteWhere(spark, t, col("o_orderkey") <= mx / 8) // v1
    TxnTable.merge(spark, t,
      orders.filter(col("o_orderkey").between(mx / 2, mx / 2 + mx / 16))
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey"), clusterBy = Seq(col("o_orderkey"))) // v2
    TxnTable.append(spark, t,
      orders.filter(col("o_orderkey").between(mx / 4, mx / 4 + mx / 16))
        .withColumn("o_orderkey", col("o_orderkey") + mx)) // v3
    val scoped = TxnTable.diffVersions(spark, t, 0L, 3L, Seq("o_orderkey"))
    def byOp(d: org.apache.spark.sql.DataFrame) = d
      .groupBy(col("op"))
      .agg(count(lit(1)).as("c"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("op"))
    val result = byOp(scoped).collect()
    // the scoped diff must equal the FULL-snapshot diff op-for-op
    val full = byOp(graft.operators.SnapshotDiff.diff(
      TxnTable.read(spark, t, 0L), TxnTable.read(spark, t, 3L),
      Seq("o_orderkey"))).collect()
    require(result.toSeq == full.toSeq,
      "file-scoped diff drifted from the full-snapshot diff")
    // and the scoping actually pruned: strictly fewer files read
    val b = TxnTable.snapshotFiles(t, 0L).toSet
    val a = TxnTable.snapshotFiles(t, 3L).toSet
    require(((b -- a).size + (a -- b).size) < b.size + a.size,
      "changed-file sets must be smaller than the two snapshots")
    import spark.implicits._
    result.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.toDF("op", "c", "key_sum")
  }

  /** S18: INCREMENTAL VIEW MAINTENANCE from the change data feed — the
    * payoff of carrying row images: a per-status (count, revenue) view
    * is materialized once at v0, then maintained purely by folding the
    * three consecutive per-version image diffs (+after for inserts,
    * −before for deletes, both for updates) — the table is never
    * re-aggregated. In-run: the maintained view equals a direct
    * recompute of the final snapshot, row for row; the oracle replays
    * the final state from raw orders. At 100 TB this is the difference
    * between re-scanning the table per refresh and paying O(changed
    * files) per version.
    */
  def s18IncrementalView(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s18")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders")
    val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_orderkey")),
      targetFiles = 8) // v0
    TxnTable.append(spark, t,
      orders.filter(col("o_orderkey").between(mx / 4, mx / 4 + mx / 16))
        .withColumn("o_orderkey", col("o_orderkey") + mx)) // v1: inserts
    TxnTable.deleteWhere(spark, t, col("o_orderkey") <= mx / 8) // v2
    TxnTable.merge(spark, t,
      orders.filter(col("o_orderkey").between(mx / 2, mx / 2 + mx / 16))
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey"), clusterBy = Seq(col("o_orderkey"))) // v3: updates
    def deltaOf(d: org.apache.spark.sql.DataFrame) = {
      val plus = d.filter(col("op") =!= "delete")
        .select(col("after.o_orderstatus").as("st"), lit(1L).as("dc"),
          round(col("after.o_totalprice") * 100).cast("long").as("dp"))
      val minus = d.filter(col("op") =!= "insert")
        .select(col("before.o_orderstatus").as("st"), lit(-1L).as("dc"),
          (-round(col("before.o_totalprice") * 100)).cast("long").as("dp"))
      plus.unionAll(minus)
    }
    val state0 = TxnTable.read(spark, t, 0L)
      .select(col("o_orderstatus").as("st"), lit(1L).as("dc"),
        round(col("o_totalprice") * 100).cast("long").as("dp"))
    val folded = (0L until 3L).map(v => deltaOf(
        TxnTable.diffVersionsImages(spark, t, v, v + 1, Seq("o_orderkey"))))
      .foldLeft(state0)(_ unionAll _)
    val result = folded.groupBy(col("st"))
      .agg(sum(col("dc")).as("cnt"), sum(col("dp")).as("price_c"))
      .filter(col("cnt") > 0)
      .orderBy(col("st")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val direct = TxnTable.read(spark, t, 3L)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_c"))
      .orderBy(col("o_orderstatus")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    require(result == direct,
      "maintained view drifted from the direct final-snapshot recompute")
    import spark.implicits._
    result.toDF("st", "cnt", "price_c")
  }

  /** S18b: incremental view maintenance for NON-INVERTIBLE aggregates
    * (min/max) — what the s18 delta fold alone cannot do: a delete can
    * remove a group's current extreme, and no amount of +/- folding
    * recovers the runner-up. [[graft.operators.IncrementalView]]
    * maintains count/sum exactly from the change images, grows min/max
    * monotonically from inserts, and re-aggregates ONLY the groups
    * whose before-image hit an extreme — reading only the files whose
    * footer key range contains those groups (the table is clustered by
    * the group key). In-run asserts pin the scale contract: the
    * insert-only step reads ZERO files, the extreme-touching step
    * reads a strict subset of the snapshot, and the maintained view
    * equals a direct recompute. The oracle replays the final state
    * from raw orders.
    */
  def s18bMinmaxView(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.operators.IncrementalView
    val t = java.nio.file.Files.createTempDirectory("graft_s18b")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10) // v0
    var state = IncrementalView.materializeMinMax(
      TxnTable.read(spark, t, 0L), "o_custkey", "price_c")
    // v1: insert-only tranche (tripled price, fresh keys)
    TxnTable.append(spark, t,
      orders.filter(col("o_custkey").between(ck / 4, ck / 4 + ck / 16))
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), (col("price_c") * 3).as("price_c")))
    val (s1, st1) = IncrementalView.maintainMinMaxStep(spark, t, state,
      0L, 1L, Seq("o_orderkey"), "o_custkey", "price_c")
    require(st1.affectedGroups == 0 && st1.filesRead == 0,
      s"insert-only step must fold with zero reads, got $st1")
    state = s1
    // v2: whole-group deletes (low custkey range)
    TxnTable.deleteWhere(spark, t, col("o_custkey") <= ck / 8)
    val (s2, _) = IncrementalView.maintainMinMaxStep(spark, t, state,
      1L, 2L, Seq("o_orderkey"), "o_custkey", "price_c")
    state = s2
    // v3: doubled-price updates over a mid custkey range — every
    // touched group's extremes move, ONLY those groups recompute
    TxnTable.merge(spark, t,
      orders.filter(col("o_custkey").between(ck / 2, ck / 2 + ck / 16))
        .select(col("o_orderkey"), col("o_custkey"),
          (col("price_c") * 2).as("price_c")),
      Seq("o_orderkey"), clusterBy = Seq(col("o_custkey")))
    val (s3, st3) = IncrementalView.maintainMinMaxStep(spark, t, state,
      2L, 3L, Seq("o_orderkey"), "o_custkey", "price_c")
    require(st3.affectedGroups > 0 && st3.filesRead > 0 &&
      st3.filesRead < st3.liveFiles,
      s"extreme recompute must read a strict subset, got $st3")
    state = s3
    val maintained = state.select(col("o_custkey").as("g"), col("cnt"),
      col("sm"), col("mn"), col("mx")).orderBy(col("g"))
    val direct = IncrementalView.materializeMinMax(
        TxnTable.read(spark, t, 3L), "o_custkey", "price_c")
      .select(col("o_custkey").as("g"), col("cnt"), col("sm"), col("mn"),
        col("mx")).orderBy(col("g"))
    require(maintained.collect().toSeq == direct.collect().toSeq,
      "maintained min/max view drifted from the direct recompute")
    maintained
  }

  /** S19: THREE-dimensional z-order + 3-d box reads — Morton3
    * clustering (21 bits/dim) on (l_partkey, l_suppkey, l_orderkey),
    * then a 3-d box query (half of each key range) must return exactly
    * the predicate's rows while reading a strict subset of snapshot
    * files, tighter-or-equal than EVERY single-dimension prune —
    * asserted in-run. The third dimension is what a 2-d key cannot
    * give: with three conjunctive range predicates, the 2-d layout
    * prunes on two of them at best.
    */
  def s19Zorder3Box(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s19")
      .toString + "/li_txn"
    val li = Lake.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    TxnTable.create(spark, t, li, partitions = 4)
    TxnTable.compactClustered(spark, t,
      Seq(col("l_partkey"), col("l_suppkey"), col("l_orderkey")),
      targetFiles = 27)
    val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey")),
      max(col("l_orderkey"))).head()
    val (pk, sk, ok) = (mx.getLong(0) / 2, mx.getLong(1) / 2,
      mx.getLong(2) / 2)
    val dims = Seq(Bound.LongRange("l_partkey", 1L, pk),
      Bound.LongRange("l_suppkey", 1L, sk),
      Bound.LongRange("l_orderkey", 1L, ok))
    val boxed = TxnTable.readPruned(spark, t, dims)
    val rows = boxed
      .agg(count(lit(1)).as("c"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
        sum(col("l_partkey") + col("l_suppkey") + col("l_orderkey"))
          .as("key_sum"))
      .collect()
    val read = boxed.inputFiles.length
    val live = TxnTable.snapshotFiles(t).size
    val oneDim =
      dims.map(b => TxnTable.readPruned(spark, t, Seq(b)).inputFiles.length).min
    require(read > 0 && read < live && read <= oneDim,
      s"3-d box prune: read $read of $live files (best 1-dim $oneDim)")
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.toDF("c", "qty_c", "key_sum")
  }

  /** S20: UPDATE … SET … WHERE — rewrite-in-place of matching rows with
    * the SET expressions applied, scoped to the files that contain a
    * match (strict-subset rewrite asserted in-run on the clustered
    * layout: the update's custkey range maps to a few files). Oracle
    * replays the CASE WHEN over raw orders. */
  def s20Update(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s20")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    val nFiles = TxnTable.snapshotFiles(t).size
    TxnTable.updateWhere(spark, t,
      col("o_custkey").between(ck / 2, ck / 2 + ck / 8) &&
        col("o_orderstatus") === "O",
      Map("price_c" -> (col("price_c") * 2)))
    val c = TxnTable.commits(t).last
    require(c.op == "update" && c.removes.nonEmpty &&
      c.removes.size < nFiles,
      s"update must rewrite a strict subset of $nFiles files, " +
        s"got ${c.removes.size}")
    TxnTable.read(spark, t).groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"))
      .orderBy(col("st"))
  }

  /** S21: full MERGE INTO — ordered WHEN MATCHED clauses (a conditioned
    * delete, then an unconditional update taking the source value) plus
    * a conditioned WHEN NOT MATCHED insert, one atomic commit; only
    * files containing a fired row are rewritten (strict subset asserted
    * in-run). Oracle replays all three clause outcomes from raw
    * orders. */
  def s21MergeInto(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.core.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
    val t = java.nio.file.Files.createTempDirectory("graft_s21")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    val nFiles = TxnTable.snapshotFiles(t).size
    // source: tripled prices for a mid custkey band (matched) + fresh
    // keys carrying their original price (insert candidates)
    val source = orders
      .filter(col("o_custkey").between(ck / 3, ck / 3 + ck / 8))
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price_c") * 3).as("nv"))
      .unionAll(orders
        .filter(col("o_custkey").between(ck / 5, ck / 5 + ck / 16))
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), col("price_c").as("nv")))
    TxnTable.mergeInto(spark, t, source, Seq("o_orderkey"),
      matched = Seq(
        MatchedDelete(Some(col("o_orderstatus") === "F")),
        MatchedUpdate(Map("price_c" -> TxnTable.srcCol("nv")))),
      notMatched = Seq(NotMatchedInsert(
        Map("o_orderkey" -> TxnTable.srcCol("o_orderkey"),
          "o_custkey" -> TxnTable.srcCol("o_custkey"),
          "o_orderstatus" -> lit("N"),
          "price_c" -> TxnTable.srcCol("nv")),
        cond = Some(TxnTable.srcCol("o_custkey") % 2 === 0))),
      clusterBy = Seq(col("o_custkey")))
    val c = TxnTable.commits(t).last
    require(c.op == "merge" && c.removes.nonEmpty &&
      c.removes.size < nFiles,
      s"merge must rewrite a strict subset of $nFiles files, " +
        s"got ${c.removes.size}")
    TxnTable.read(spark, t).groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("st"))
  }

  /** S31: MIXED-TYPE box read — a STRING range × LONG range box on a
    * (source, n_chars)-clustered documents snapshot: the kept set is
    * the INTERSECTION of the string-bounds prune and the long-bounds
    * prune (both log-stats-first), asserted in-run to read a strict
    * subset ≤ EITHER single-dimension prune, with zero footer opens.
    * Oracle replays the two-range predicate over raw documents. */
  def s31MixedBox(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.crawler.SkippingIndex
    val t = java.nio.file.Files.createTempDirectory("graft_s31")
      .toString + "/docs_txn"
    val docs = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
    TxnTable.createClustered(spark, t, docs,
      Seq(col("source"), col("n_chars")), targetFiles = 16)
    val (boxed, rows) =
      SkippingIndex.footerFree("the mixed box must plan from the log alone") {
        val boxed = TxnTable.readPruned(spark, t,
          Seq(Bound.StringRange("source", "src2", "src5"),
            Bound.LongRange("n_chars", 100L, 320L)))
        (boxed, boxed
          .agg(count(lit(1)).as("c"), sum(col("n_chars")).as("nc_sum"),
            sum(col("doc_id")).as("id_sum"))
          .collect())
      }
    val live = TxnTable.snapshotFiles(t).size
    val read = boxed.inputFiles.length
    val strOnly = TxnTable.readPruned(spark, t,
      Seq(Bound.StringRange("source", "src2", "src5"))).inputFiles.length
    val longOnly = TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("n_chars", 100L, 320L)))
      .inputFiles.length
    require(read > 0 && read < live && read <= strOnly &&
      read <= longOnly,
      s"mixed box read $read of $live (str $strOnly, long $longOnly)")
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.toDF("c", "nc_sum", "id_sum")
  }

  /** S32: STRING point-set pruned read — `readPruned` with a `StringIn` bound serves a
    * `source IN (...)` probe over a source-clustered documents
    * snapshot, reading a strict subset of files with zero footer opens
    * (log stats; asserted in-run). The serving shape for per-domain
    * reads. Oracle replays the IN-set over raw documents. */
  def s32StringInPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.crawler.SkippingIndex
    val t = java.nio.file.Files.createTempDirectory("graft_s32")
      .toString + "/docs_txn"
    val docs = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    TxnTable.createClustered(spark, t, docs, Seq(col("source")),
      targetFiles = 16)
    val (probed, rows) =
      SkippingIndex.footerFree("the IN-set prune must plan from the log alone") {
        val probed = TxnTable.readPruned(spark, t,
          Seq(Bound.StringIn("source", Seq("src3", "src7", "src12"))))
        (probed, probed
          .agg(count(lit(1)).as("c"), sum(col("n_chars")).as("nc_sum"),
            sum(col("doc_id")).as("id_sum"))
          .collect())
      }
    require(probed.inputFiles.nonEmpty &&
      probed.inputFiles.length < TxnTable.snapshotFiles(t).size,
      "the IN-set prune must skip files")
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.toDF("c", "nc_sum", "id_sum")
  }

  /** S28: MERGE INTO at MERGE-ON-READ cost — s21's exact clause
    * scenario through `mergeIntoMor`: claimed rows die by deletion
    * vector, update images + inserts append, ONE commit, ZERO
    * pre-existing data files rewritten (asserted in-run vs s21's
    * strict-subset CoW rewrite). Shares s21's oracle verbatim — the
    * two paths must agree bit-exactly. */
  def s28MorMergeInto(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.core.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
    val t = java.nio.file.Files.createTempDirectory("graft_s28")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    val filesBefore = TxnTable.snapshotFiles(t).toSet
    val source = orders
      .filter(col("o_custkey").between(ck / 3, ck / 3 + ck / 8))
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price_c") * 3).as("nv"))
      .unionAll(orders
        .filter(col("o_custkey").between(ck / 5, ck / 5 + ck / 16))
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), col("price_c").as("nv")))
    TxnTable.mergeIntoMor(spark, t, source, Seq("o_orderkey"),
      matched = Seq(
        MatchedDelete(Some(col("o_orderstatus") === "F")),
        MatchedUpdate(Map("price_c" -> TxnTable.srcCol("nv")))),
      notMatched = Seq(NotMatchedInsert(
        Map("o_orderkey" -> TxnTable.srcCol("o_orderkey"),
          "o_custkey" -> TxnTable.srcCol("o_custkey"),
          "o_orderstatus" -> lit("N"),
          "price_c" -> TxnTable.srcCol("nv")),
        cond = Some(TxnTable.srcCol("o_custkey") % 2 === 0))))
    val c = TxnTable.commits(t).last
    require(c.op == "dvmerge" && c.adds.nonEmpty && c.dvs.nonEmpty &&
      c.removes.isEmpty, "one rewrite-free dvmerge commit")
    require(filesBefore.subsetOf(TxnTable.snapshotFiles(t).toSet),
      "MOR MERGE INTO must not rewrite a single pre-existing data file")
    TxnTable.read(spark, t).groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("st"))
  }

  /** S22: DELETION VECTORS (merge-on-read delete) — two stacked MOR
    * deletes mark rows dead by position without touching ONE data file
    * (file-set identity asserted in-run), readers and the pruned reads
    * subtract the DV at scan time, time travel still sees the full
    * snapshot. The O(deleted rows)-not-O(file bytes) write path a
    * 100 TB table needs for scattered deletes; compaction is the
    * read-amplification escape valve (DeletionVectorSpec pins it).
    * Oracle replays both predicates over raw orders. */
  def s22DeletionVectors(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s22")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    val total = orders.count()
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    val filesBefore = TxnTable.snapshotFiles(t).toSet
    TxnTable.deleteWhereMor(spark, t, col("o_custkey") <= ck / 8)   // v1
    TxnTable.deleteWhereMor(spark, t,
      col("o_orderstatus") === "F" &&
        col("o_custkey").between(ck / 2, ck / 2 + ck / 16))         // v2
    require(TxnTable.snapshotFiles(t).toSet == filesBefore,
      "MOR deletes must not rewrite a single data file")
    require(TxnTable.snapshotDvs(t).nonEmpty &&
      TxnTable.commits(t).last.op == "dvdelete")
    // time travel is untouched by the marks
    require(TxnTable.read(spark, t, 0L).count() == total,
      "v0 must still read the full snapshot")
    // a footer-pruned read subtracts the DV exactly like the full read
    val lo = ck / 2
    val hi = ck / 2 + ck / 16
    val prunedC = TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("o_custkey", lo, hi))).count()
    val fullC = TxnTable.read(spark, t)
      .filter(col("o_custkey").between(lo, hi)).count()
    require(prunedC == fullC,
      s"pruned read must apply the DV: $prunedC vs $fullC")
    TxnTable.read(spark, t).groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("st"))
  }

  /** S23: MERGE-ON-READ update — `updateWhereMor` doubles a scattered
    * slice's prices by appending the updated images + a DV marking the
    * old positions dead, in ONE commit that rewrites ZERO pre-existing
    * data files (asserted in-run, vs s20's copy-on-write strict-subset
    * rewrite of the same shape); a stacked MOR delete then prunes a
    * sub-slice, exercising DVs ON the appended update images. Oracle
    * replays update-then-delete over raw orders. */
  def s23MorUpdate(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s23")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    val filesBefore = TxnTable.snapshotFiles(t).toSet
    TxnTable.updateWhereMor(spark, t,
      col("o_custkey").between(ck / 2, ck / 2 + ck / 8) &&
        col("o_orderstatus") === "O",
      Map("price_c" -> (col("price_c") * 2)))                       // v1
    val c = TxnTable.commits(t).last
    require(c.op == "dvupdate" && c.adds.nonEmpty && c.dvs.nonEmpty &&
      c.removes.isEmpty, "adds + DVs must ride one rewrite-free commit")
    require(filesBefore.subsetOf(TxnTable.snapshotFiles(t).toSet),
      "MOR update must not rewrite a single pre-existing data file")
    // MOR delete stacked on the update: kills updated AND original rows
    TxnTable.deleteWhereMor(spark, t,
      col("o_orderstatus") === "O" &&
        col("o_custkey").between(ck / 2, ck / 2 + ck / 16))         // v2
    require(TxnTable.read(spark, t, 0L).count() == orders.count(),
      "v0 must still read the pre-update snapshot")
    TxnTable.read(spark, t).groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("st"))
  }

  /** Metadata-only aggregates from the commit log (round 13): a range
    * COUNT over a clustered table answers from logged (bounds, rows,
    * null counts) with only boundary files scanned and ZERO footer
    * opens; min/max answers with ZERO files scanned; after a MOR
    * delete, only DV-carrying files rejoin the scan set and the count
    * stays exact. */
  def s35MetadataAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s35")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    val (cnt1, mn, mx) = graft.crawler.SkippingIndex.footerFree(
        "metadata aggregates must open ZERO parquet footers") {
      val (cnt1, scanned1, total1) =
        TxnTable.countRange(spark, t, "o_custkey", ck / 4, 3 * ck / 4)
      require(scanned1 < total1 && scanned1 <= 4,
        s"range COUNT must scan only boundary files, got $scanned1/$total1")
      val (mn, mx, scanned2, _) = TxnTable.minMaxOf(spark, t, "o_custkey")
      require(scanned2 == 0,
        s"min/max on a clean table must be metadata-only, scanned $scanned2")
      (cnt1, mn, mx)
    }
    // MOR delete pushes ONLY the DV-carrying files back into the scan
    // set; the count stays exact against the live rows
    TxnTable.deleteWhereMor(spark, t, col("o_custkey") < ck / 8)
    val (cnt2, scanned3, total3) =
      TxnTable.countRange(spark, t, "o_custkey", 0, ck / 2)
    require(scanned3 < total3,
      s"post-DV COUNT must still skip clean files, got $scanned3/$total3")
    import spark.implicits._
    Seq((cnt1, mn.get, mx.get, cnt2))
      .toDF("cnt_band", "mn", "mx", "cnt_after")
  }

  /** S24: STATS-IN-LOG pruned reads — every write records per-file
    * column min/max in the commit's adds, so a pruned range read plans
    * from the COMMIT LOG alone: ZERO parquet footer opens (counter-
    * asserted in-run) while still reading a strict subset of the
    * snapshot's files. At 100 TB this replaces millions of per-query
    * object-store footer GETs with metadata the planner already holds.
    * Oracle replays the range aggregate over raw orders. */
  def s24LogStatsPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.crawler.SkippingIndex
    val t = java.nio.file.Files.createTempDirectory("graft_s24")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    require(TxnTable.commits(t).last.adds.forall(_.stats.isDefined),
      "every add must carry write-time stats")
    val ((pruned, rows), window) = graft.core.OpMetrics.scope {
      val pruned = TxnTable.readPruned(spark, t,
        Seq(Bound.LongRange("o_custkey", ck / 4, ck / 4 + ck / 8)))
      val agg = pruned.groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
          sum(col("o_custkey")).as("ck_sum"))
        .orderBy(col("st"))
      (pruned, agg.collect())
    }
    val reads = window.count(SkippingIndex.FooterReads)
    require(reads == 0,
      s"log-stats prune must plan with zero footer opens, read $reads")
    require(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.length < TxnTable.snapshotFiles(t).size,
      "the log stats must skip a strict subset of files")
    import spark.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq.toDF("st", "cnt", "price_sum", "ck_sum")
  }

  /** S25: TIMESTAMP time travel — `readAsOfTimestamp` resolves a
    * wall-clock instant to the latest commit at or before it from the
    * version files' mtimes (binary search, no commit parsed) and reads
    * that snapshot: a delete after the captured instant is invisible
    * to it (count-identity asserted in-run) while the head read sees
    * it. Oracle replays the pre-delete snapshot = raw orders. */
  def s25TimeTravelTs(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s25")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val total = orders.count()
    TxnTable.create(spark, t, orders, partitions = 4)               // v0
    Thread.sleep(25)
    val ts0 = System.currentTimeMillis()
    Thread.sleep(25)
    TxnTable.deleteWhere(spark, t, col("o_orderstatus") === "F")    // v1
    require(TxnTable.versionAt(t, ts0) == 0L,
      "the captured instant must resolve to the pre-delete commit")
    require(TxnTable.versionAt(t, System.currentTimeMillis()) == 1L)
    val asOf = TxnTable.readAsOfTimestamp(spark, t, ts0)
    require(asOf.count() == total,
      "the timestamp read must see the pre-delete snapshot")
    require(TxnTable.read(spark, t).filter(col("o_orderstatus") === "F")
      .isEmpty, "the head read must see the delete")
    asOf.groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"))
      .orderBy(col("st"))
  }

  /** S26: CHECK constraints — `addConstraint` validates every existing
    * row then records the rule as a metadata commit; a violating append
    * afterwards throws INSIDE the write job and commits nothing
    * (version identity asserted in-run), a satisfying append lands.
    * Oracle replays orders plus the accepted slice. */
  def s26Constraints(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s26")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    TxnTable.create(spark, t, orders, partitions = 4)               // v0
    TxnTable.addConstraint(spark, t, "price_nonneg", "price_c >= 0")
    TxnTable.addConstraint(spark, t, "status_known",
      "o_orderstatus IN ('O','F','P')")                             // v1,v2
    // violating rows must throw in the write and commit NOTHING
    val vBefore = TxnTable.currentVersion(t)
    val bad = try {
      TxnTable.append(spark, t,
        orders.limit(5).withColumn("price_c", lit(-1L)))
      false
    } catch { case NonFatal(_) => true }
    require(bad && TxnTable.currentVersion(t) == vBefore,
      "a violating append must throw and commit nothing")
    // a satisfying derived slice lands
    TxnTable.append(spark, t,
      orders.filter(col("o_orderkey") <= 100)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("price_c", col("price_c") * 2))
    TxnTable.read(spark, t).groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("st"))
  }

  /** S27: MERGE-ON-READ keyed merge — `mergeMor` replaces a scattered
    * key slice (repriced after-images) and inserts new keys in ONE
    * `dvmerge` commit that rewrites ZERO pre-existing data files
    * (asserted in-run): matched rows die by deletion vector, the
    * after-images append. The CDC-apply primitive at O(changed rows)
    * cost. Oracle replays replace+insert over raw orders. */
  def s27MorMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val t = java.nio.file.Files.createTempDirectory("graft_s27")
      .toString + "/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val kx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    val filesBefore = TxnTable.snapshotFiles(t).toSet
    // source batch: reprice every key <= kx/8 (update), plus the same
    // slice re-keyed past the max (insert)
    val updates = orders.filter(col("o_orderkey") <= kx / 8)
      .withColumn("price_c", col("price_c") * 3)
    val inserts = updates
      .withColumn("o_orderkey", col("o_orderkey") + kx + 1000000L)
    TxnTable.mergeMor(spark, t, updates.unionByName(inserts),
      Seq("o_orderkey"))                                            // v1
    val c = TxnTable.commits(t).last
    require(c.op == "dvmerge" && c.adds.nonEmpty && c.dvs.nonEmpty &&
      c.removes.isEmpty, "one rewrite-free dvmerge commit")
    require(filesBefore.subsetOf(TxnTable.snapshotFiles(t).toSet),
      "MOR merge must not rewrite a single pre-existing data file")
    require(TxnTable.read(spark, t, 0L).count() == orders.count(),
      "v0 must still read the pre-merge snapshot")
    TxnTable.read(spark, t).groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("st"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "s32_string_in_prune" -> (s32StringInPrune _),
    "s31_mixed_box"     -> (s31MixedBox _),
    "s28_mor_merge_into" -> (s28MorMergeInto _),
    "s27_mor_merge"     -> (s27MorMerge _),
    "s26_constraints"   -> (s26Constraints _),
    "s25_time_travel_ts" -> (s25TimeTravelTs _),
    "s24_log_stats_prune" -> (s24LogStatsPrune _),
    "s35_metadata_agg"  -> (s35MetadataAgg _),
    "s23_mor_update"    -> (s23MorUpdate _),
    "s22_deletion_vectors" -> (s22DeletionVectors _),
    "s21_merge_into"    -> (s21MergeInto _),
    "s20_update"        -> (s20Update _),
    "s19_zorder3_box"   -> (s19Zorder3Box _),
    "s18b_minmax_view"  -> (s18bMinmaxView _),
    "s18_incremental_view" -> (s18IncrementalView _),
    "s17_version_diff"  -> (s17VersionDiff _),
    "s16_shallow_clone" -> (s16ShallowClone _),
    "s15_string_prune"  -> (s15StringPrune _),
    "s14b_time_box"     -> (s14bTimeBoxRead _),
    "s14_box_read"      -> (s14BoxRead _),
    "s13_txn_table"     -> (s13TxnTable _),
    "s12_nested"        -> (s12Nested _),
    "s10_zorder_values" -> (s10ZorderValues _),
    "s11_skipping_scan" -> (s11SkippingScan _),
    "s2_csv_inference"  -> (s2CsvInference _),
    "s3_json_inference" -> (s3JsonInference _),
    "s1_multifile_scan" -> (s1MultifileScan _),
    "s7_bucketed_join"  -> (s7BucketedJoin _),
    "s8_orc_roundtrip"  -> (s8OrcRoundtrip _),
    "s9_compaction"     -> (s9Compaction _))

  /** Shared by s21 (copy-on-write mergeInto) and s28 (merge-on-read
    * mergeIntoMor): identical clause semantics, so one oracle. */
  private[queries] val mergeIntoSql: String =
    """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |           CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |fin AS (
        |  SELECT o_orderstatus AS st,
        |    CASE WHEN o_custkey BETWEEN b.ck//3 AND b.ck//3 + b.ck//8
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 3
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS pc,
        |    o_orderkey AS k
        |  FROM orders, b
        |  WHERE NOT (o_custkey BETWEEN b.ck//3 AND b.ck//3 + b.ck//8
        |             AND o_orderstatus = 'F')
        |  UNION ALL
        |  SELECT 'N', CAST(round(o_totalprice * 100) AS BIGINT),
        |    o_orderkey + b.kx
        |  FROM orders, b
        |  WHERE o_custkey BETWEEN b.ck//5 AND b.ck//5 + b.ck//16
        |    AND o_custkey % 2 = 0)
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS price_sum,
        |  CAST(sum(k) AS BIGINT) AS key_sum
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    // The IN-set replayed over raw documents; the subset and
    // zero-footer halves are asserted in-run.
    "s32_string_in_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(n_chars) AS BIGINT) AS nc_sum,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |WHERE source IN ('src3', 'src7', 'src12')""".stripMargin,
    // The two-range predicate replayed over raw documents; the
    // intersection-prune and zero-footer halves are asserted in-run.
    "s31_mixed_box" ->
      """SELECT CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(n_chars) AS BIGINT) AS nc_sum,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |WHERE source BETWEEN 'src2' AND 'src5'
        |  AND n_chars BETWEEN 100 AND 320""".stripMargin,
    // Replace + insert replayed over raw orders; the zero-rewrite,
    // one-commit, and time-travel halves are asserted in-run.
    "s27_mor_merge" ->
      """WITH b AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS kx
        |           FROM orders),
        |u AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey <= b.kx//8
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 3
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS pc
        |  FROM orders, b
        |  UNION ALL
        |  SELECT o_orderkey + b.kx + 1000000, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) * 3
        |  FROM orders, b WHERE o_orderkey <= b.kx//8)
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS price_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // Orders plus the accepted slice; the rejected-append half is
    // asserted in-run.
    "s26_constraints" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) * 2
        |  FROM orders WHERE o_orderkey <= 100)
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS price_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // The pre-delete snapshot IS raw orders; the version-resolution
    // and head-sees-the-delete halves are asserted in-run.
    "s25_time_travel_ts" ->
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS price_sum
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // Metadata-only count/min/max replayed over raw orders (pre- and
    // post-delete); the zero-footer, zero-scan-min/max, and
    // boundary-only-scan halves are asserted in-run.
    "s35_metadata_agg" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders)
        |SELECT
        |  CAST(sum(CASE WHEN o_custkey BETWEEN b.ck//4 AND 3*b.ck//4
        |    THEN 1 ELSE 0 END) AS BIGINT) AS cnt_band,
        |  CAST(min(o_custkey) AS BIGINT) AS mn,
        |  CAST(max(o_custkey) AS BIGINT) AS mx,
        |  CAST(sum(CASE WHEN o_custkey >= b.ck//8 AND o_custkey <= b.ck//2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS cnt_after
        |FROM orders, b GROUP BY b.ck""".stripMargin,
    // The range aggregate replayed over raw orders; the zero-footer
    // and strict-subset halves are asserted in-run.
    "s24_log_stats_prune" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders)
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS price_sum,
        |  CAST(sum(o_custkey) AS BIGINT) AS ck_sum
        |FROM orders, b
        |WHERE o_custkey BETWEEN b.ck//4 AND b.ck//4 + b.ck//8
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // MOR update-then-delete replayed over raw orders; the
    // zero-rewrite, one-commit, and time-travel halves are asserted
    // in-run.
    "s23_mor_update" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |u AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//8
        |           AND o_orderstatus = 'O'
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS pc
        |  FROM orders, b)
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS price_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM u, b
        |WHERE NOT (o_orderstatus = 'O'
        |           AND o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//16)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Both MOR-delete predicates replayed over raw orders; the
    // zero-data-rewrite, time-travel, and pruned-read halves are
    // asserted in-run.
    "s22_deletion_vectors" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders)
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS price_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders, b
        |WHERE o_custkey > b.ck//8
        |  AND NOT (o_orderstatus = 'F'
        |           AND o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//16)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // The CASE WHEN replay of the update over raw orders; the
    // strict-subset rewrite half is asserted in-run.
    "s20_update" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |u AS (
        |  SELECT o_orderstatus AS st,
        |    CASE WHEN o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//8
        |           AND o_orderstatus = 'O'
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS pc
        |  FROM orders, b)
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS price_sum
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // All three MERGE clause outcomes replayed from raw orders:
    // matched+F deleted, matched+not-F repriced to the source value,
    // unmatched fresh keys inserted when custkey is even; untouched
    // rows carried.
    "s21_merge_into" -> mergeIntoSql,
    // The MOR path must agree with the CoW path EXACTLY - same oracle,
    // different physical mechanism (DV + append vs file rewrite).
    "s28_mor_merge_into" -> mergeIntoSql,
    // The 3-d box predicate on raw lineitem; the pruning half
    // (strict subset, ≤ every 1-dim prune) is asserted in-run.
    "s19_zorder3_box" ->
      """WITH b AS (SELECT CAST(max(l_partkey)//2 AS BIGINT) AS pk,
        |    CAST(max(l_suppkey)//2 AS BIGINT) AS sk,
        |    CAST(max(l_orderkey)//2 AS BIGINT) AS ok FROM lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(round(l_quantity * 100)) AS BIGINT) AS qty_c,
        |  CAST(sum(l_partkey + l_suppkey + l_orderkey) AS BIGINT)
        |    AS key_sum
        |FROM lineitem, b
        |WHERE l_partkey BETWEEN 1 AND b.pk
        |  AND l_suppkey BETWEEN 1 AND b.sk
        |  AND l_orderkey BETWEEN 1 AND b.ok""".stripMargin,
    // The final min/max/count/sum view replayed from raw orders
    // (tripled-price insert tranche + whole-group deletes +
    // doubled-price updates); the maintained≡recomputed and
    // pruned-recompute halves are asserted in-run.
    "s18b_minmax_view" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |fin AS (
        |  SELECT o_custkey AS g,
        |    CASE WHEN o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//16
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS pc
        |  FROM orders, b WHERE o_custkey > b.ck//8
        |  UNION ALL
        |  SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) * 3
        |  FROM orders, b
        |  WHERE o_custkey BETWEEN b.ck//4 AND b.ck//4 + b.ck//16)
        |SELECT g, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS sm, CAST(min(pc) AS BIGINT) AS mn,
        |  CAST(max(pc) AS BIGINT) AS mx
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin,
    // The FINAL maintained state replayed from raw orders (insert
    // tranche + key-range delete + doubled-price updates); the
    // maintained≡recomputed half is asserted in-run.
    "s18_incremental_view" ->
      """WITH b AS (SELECT max(o_orderkey) AS mx FROM orders),
        |fin AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders, b
        |  WHERE o_orderkey > b.mx//8
        |    AND o_orderkey NOT BETWEEN b.mx//2 AND b.mx//2 + b.mx//16
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice * 2 FROM orders, b
        |  WHERE o_orderkey BETWEEN b.mx//2 AND b.mx//2 + b.mx//16
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders, b
        |  WHERE o_orderkey BETWEEN b.mx//4 AND b.mx//4 + b.mx//16)
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS price_c
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin,
    // All three change ops recomputed from raw orders with the same
    // scale-proportional bounds; the file-scoping and scoped≡full
    // halves are asserted in-run.
    "s17_version_diff" ->
      """WITH b AS (SELECT max(o_orderkey) AS mx FROM orders),
        |d AS (SELECT 'delete' AS op, CAST(count(*) AS BIGINT) AS c,
        |        CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |      FROM orders, b WHERE o_orderkey <= b.mx//8),
        |u AS (SELECT 'update' AS op, CAST(count(*) AS BIGINT) AS c,
        |        CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |      FROM orders, b
        |      WHERE o_orderkey BETWEEN b.mx//2 AND b.mx//2 + b.mx//16),
        |i AS (SELECT 'insert' AS op, CAST(count(*) AS BIGINT) AS c,
        |        CAST(sum(o_orderkey + b.mx) AS BIGINT) AS key_sum
        |      FROM orders, b
        |      WHERE o_orderkey BETWEEN b.mx//4 AND b.mx//4 + b.mx//16)
        |SELECT * FROM d UNION ALL SELECT * FROM u UNION ALL
        |SELECT * FROM i ORDER BY op""".stripMargin,
    // The branched clone's content from raw orders; the zero-copy and
    // isolation halves are asserted in-run.
    "s16_shallow_clone" ->
      """WITH cl AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderstatus <> 'P'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2 FROM orders
        |  WHERE o_orderkey % 10 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS price_c,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM cl""".stripMargin,
    // The string range on raw documents; the pruning half is asserted
    // in-run (strict-subset file read from UTF8 footer stats).
    "s15_string_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE source BETWEEN 'src0' AND 'src12'""".stripMargin,
    // The time-range box on raw lineitem (bounds derived in epoch
    // micros exactly as the engine derives them); the pruning half is
    // asserted in-run.
    "s14b_time_box" ->
      """WITH b AS (SELECT min(epoch_us(l_shipdate)) AS tmn,
        |    max(epoch_us(l_shipdate)) AS tmx,
        |    CAST(max(l_partkey)//2 AS BIGINT) AS pmx2 FROM lineitem),
        |sel AS (SELECT l.l_partkey, l.l_quantity, l.l_shipdate
        |  FROM lineitem l, b
        |  WHERE epoch_us(l.l_shipdate)
        |      BETWEEN b.tmn + (b.tmx - b.tmn)//4
        |          AND b.tmn + (b.tmx - b.tmn)//2
        |    AND l.l_partkey BETWEEN 1 AND b.pmx2)
        |SELECT CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(round(l_quantity * 100)) AS BIGINT) AS qty_c,
        |  CAST(sum(l_partkey) AS BIGINT) AS pk_sum,
        |  CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT) AS days
        |FROM sel""".stripMargin,
    // The box predicate on raw lineitem; the pruning half of the gate
    // (strict-subset file read, ≤ the 1-dim prune) is asserted in-run.
    "s14_box_read" ->
      """WITH b AS (SELECT CAST(max(l_partkey)//2 AS BIGINT) AS hia,
        |    CAST(max(l_suppkey)//2 AS BIGINT) AS hib FROM lineitem)
        |SELECT count(*) AS c,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)
        |    AS qty_c,
        |  CAST(sum(l_partkey) AS BIGINT) AS pk_sum,
        |  CAST(sum(l_suppkey) AS BIGINT) AS sk_sum
        |FROM lineitem, b
        |WHERE l_partkey BETWEEN 1 AND b.hia
        |  AND l_suppkey BETWEEN 1 AND b.hib""".stripMargin,
    // Each snapshot recomputed from the raw table with the same tranche
    // definitions; v4 must equal v3 (compaction is purely physical).
    "s13_txn_table" ->
      """WITH t AS (SELECT o_orderkey % 3 AS tr, o_orderstatus,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS pc FROM orders)
        |SELECT v.version, count(*) AS c, CAST(sum(pc) AS BIGINT) AS price_c
        |FROM (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)),
        |             (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT)),
        |             (CAST(4 AS BIGINT))) v(version), t
        |WHERE (v.version = 0 AND t.tr = 0)
        |   OR (v.version = 1 AND t.tr <= 1)
        |   OR (v.version = 2)
        |   OR (v.version >= 3 AND t.o_orderstatus <> 'P')
        |GROUP BY v.version ORDER BY v.version""".stripMargin,
    // Nested shredding + reassembly must be lossless: same numbers from
    // the flat three-table join (orders with no lineitems drop on both
    // sides — the gate's nested build inner-joins too).
    "s12_nested" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s11_skipping_scan" ->
      """SELECT l_returnflag, count(*) AS c,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
        |  CAST(sum(l_partkey) AS BIGINT) AS pk_sum
        |FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s10_zorder_values" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(sum(((l_partkey >> i) & 1) * (CAST(1 AS BIGINT) << (2*i+1))
        |         + ((l_suppkey >> i) & 1) * (CAST(1 AS BIGINT) << (2*i)))
        |    AS BIGINT) AS z
        |FROM lineitem, range(31) t(i)
        |WHERE l_orderkey < 40
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin,
    // Reads the SAME csv files the gate wrote — engine inference vs DuckDB
    // inference must agree on values, not just on the happy parquet path.
    "s2_csv_inference" ->
      s"""SELECT c_mktsegment, count(*) AS c,
         | sum(CAST(round(c_acctbal*100) AS BIGINT)) / 100.0 AS s,
         | CAST(min(c_custkey) AS BIGINT) AS mn, CAST(max(c_custkey) AS BIGINT) AS mx
         |FROM read_csv('$gateRoot/customer_csv/*.csv', header=true)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "s3_json_inference" ->
      s"""SELECT p_brand, count(*) AS c,
         | CAST(min(length(p_name)) AS BIGINT) AS mn_name,
         | CAST(max(p_size) AS BIGINT) AS mx_size,
         | sum(CAST(round(p_retailprice*100) AS BIGINT)) / 100.0 AS s
         |FROM read_json_auto('$gateRoot/part_json/*.json')
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // Bucketed layout must be lossless: same aggregate from the plain
    // tables.
    "s7_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS c,
        | sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS s
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // Fragmentation + compaction must be lossless: same aggregate from
    // the original table.
    "s9_compaction" ->
      """SELECT event_type, count(*) AS c,
        | sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS s,
        | count(DISTINCT event_id) AS ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // ORC round-trip must be lossless: same aggregate from the original
    // parquet table (DuckDB has no ORC reader).
    "s8_orc_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS c,
        | sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS s,
        | min(o_orderdate) AS mn_date, max(o_orderdate) AS mx_date
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Same aggregation as q01 but against the ORIGINAL single-file table:
    // a 16-way split of the data must be result-identical.
    "s1_multifile_scan" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS sp,
        | sum(CAST(round(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)) / 1000000.0 AS disc,
        | avg(l_quantity) AS aq, count(*) AS c
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)
}
