package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Lake, OpMetrics, TxnTable}
import graft.core.TxnTable.Bound
import graft.crawler.SkippingIndex.{FooterReads, footerFree}
import graft.sql.GraftSql

/** SQL DML surface gates (round 13): UPDATE / DELETE FROM / MERGE INTO
  * statement TEXT — parsed by Spark's parser, dispatched by
  * [[GraftSql]] to the TxnTable write paths — must produce exactly the
  * state the oracle computes by replaying the statements relationally.
  * s34b runs the SAME scenario as s21_merge_into through statement text
  * and shares its oracle: the facade translation is pinned against the
  * already-adjudicated DataFrame API, end to end.
  */
object SqlDmlQueries {

  private def freshName(p: String): String =
    p + java.util.UUID.randomUUID().toString.replace("-", "")

  /** REFRESH MATERIALIZED VIEW `m`: the MV version and what the
    * refresh did. */
  private def refreshMv(spark: SparkSession, m: String)
      : (Long, Option[GraftSql.MvRefreshStats]) = {
    val (v, rec) = OpMetrics.scope(
      GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $m"))
    (v, rec.get(GraftSql.MvRefresh))
  }

  /** s54's CSV landing dir: DETERMINISTIC within a JVM (pid-keyed, no
    * mutable holder), distinct across concurrent suite runs (separate
    * JVMs → separate pids). Gate and oracle compute the SAME string
    * independently, so a harness that snapshots the oracle map before
    * the gate runs still replays the right files; the gate wipes the
    * dir at start so a same-JVM re-run never collides with stale
    * drops. */
  private def s54LandDir: String =
    sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      s"/graft_s54_csv_pid${ProcessHandle.current().pid()}"

  /** UPDATE then DELETE as statement text on a clustered orders table;
    * both rewrite strict file subsets (asserted in-run). */
  def s34SqlUpdateDelete(spark: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_s34")
      .toString + "/orders_txn"
    val n = freshName("orders_dml_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    val nFiles = TxnTable.snapshotFiles(t).size
    GraftSql.register(n, t)
    try {
      GraftSql.execute(spark,
        s"""UPDATE $n SET price_c = price_c * 2
           |WHERE o_custkey BETWEEN ${ck / 2} AND ${ck / 2 + ck / 8}
           |  AND o_orderstatus = 'O'""".stripMargin)
      val u = TxnTable.commits(t).last
      require(u.op == "update" && u.removes.nonEmpty &&
        u.removes.size < nFiles,
        s"SQL UPDATE must rewrite a strict subset of $nFiles files, " +
          s"got ${u.removes.size}")
      GraftSql.execute(spark,
        s"DELETE FROM $n WHERE o_orderstatus = 'F' " +
          s"AND o_custkey <= ${ck / 10}")
      val d = TxnTable.commits(t).last
      require(d.op == "delete" && d.removes.nonEmpty &&
        d.removes.size < nFiles,
        s"SQL DELETE must rewrite a strict subset of $nFiles files, " +
          s"got ${d.removes.size}")
    } finally GraftSql.unregister(n)
    TxnTable.read(spark, t).groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("st"))
  }

  /** The s21_merge_into scenario as MERGE INTO statement text (ordered
    * WHEN MATCHED delete/update, conditioned INSERT) — same oracle. */
  def s34bSqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_s34b")
      .toString + "/orders_txn"
    val n = freshName("orders_m_")
    val srcView = freshName("orders_msrc_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10)
    val nFiles = TxnTable.snapshotFiles(t).size
    orders
      .filter(col("o_custkey").between(ck / 3, ck / 3 + ck / 8))
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price_c") * 3).as("nv"))
      .unionAll(orders
        .filter(col("o_custkey").between(ck / 5, ck / 5 + ck / 16))
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), col("price_c").as("nv")))
      .createOrReplaceTempView(srcView)
    GraftSql.register(n, t)
    try {
      GraftSql.execute(spark,
        s"""MERGE INTO $n AS tg USING $srcView AS sr
           |ON tg.o_orderkey = sr.o_orderkey
           |WHEN MATCHED AND tg.o_orderstatus = 'F' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET price_c = sr.nv
           |WHEN NOT MATCHED AND sr.o_custkey % 2 = 0 THEN
           |  INSERT (o_orderkey, o_custkey, o_orderstatus, price_c)
           |  VALUES (sr.o_orderkey, sr.o_custkey, 'N', sr.nv)
           |""".stripMargin)
      val c = TxnTable.commits(t).last
      require(c.op == "merge" && c.removes.nonEmpty &&
        c.removes.size < nFiles,
        s"SQL MERGE must rewrite a strict subset of $nFiles files, " +
          s"got ${c.removes.size}")
    } finally GraftSql.unregister(n)
    TxnTable.read(spark, t).groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("st"))
  }

  /** SELECT surface: INSERT INTO statement text grows the table, a
    * DELETE changes the head, and query() reads the head AND historical
    * snapshots via VERSION AS OF — all addressed by the registered
    * name, no temp-view plumbing. */
  def s36SqlSelectTt(spark: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_s36")
      .toString + "/orders_txn"
    val n = freshName("orders_tt_")
    val srcView = freshName("orders_ins_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    graft.core.TxnTable.create(spark, t, orders) // v0
    orders.filter(col("o_custkey") <= ck / 6)
      .select((col("o_orderkey") + kx).as("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("price_c"))
      .createOrReplaceTempView(srcView)
    GraftSql.register(n, t)
    try {
      GraftSql.execute(spark,
        s"INSERT INTO $n SELECT * FROM $srcView") // v1
      GraftSql.execute(spark,
        s"DELETE FROM $n WHERE o_orderstatus = 'F'") // v2
      val c0 = GraftSql.query(spark,
        s"SELECT * FROM $n VERSION AS OF 0").count()
      val c1 = GraftSql.query(spark,
        s"SELECT * FROM $n VERSION AS OF 1").count()
      GraftSql.query(spark,
        s"""SELECT o_orderstatus AS st, count(*) AS cnt,
           |  sum(price_c) AS ps FROM $n
           |GROUP BY o_orderstatus ORDER BY st""".stripMargin)
        .withColumn("c0", lit(c0)).withColumn("c1", lit(c1))
    } finally GraftSql.unregister(n)
  }

  /** ALTER surface: ADD COLUMNS widens metadata-only (old rows
    * null-fill), a statement-text INSERT carries the new column, DROP
    * COLUMN narrows metadata-only; the drop commit moves zero files and
    * the pre-drop snapshot keeps the column (asserted in-run). */
  def s37AlterColumns(spark: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_s37")
      .toString + "/orders_txn"
    val n = freshName("orders_alt_")
    val srcView = freshName("orders_alt_src_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    graft.core.TxnTable.create(spark, t, orders) // v0
    orders.filter(col("o_custkey") <= ck / 5)
      .select((col("o_orderkey") + kx).as("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("price_c"), lit("fresh").as("note"))
      .createOrReplaceTempView(srcView)
    GraftSql.register(n, t)
    try {
      GraftSql.execute(spark, s"ALTER TABLE $n ADD COLUMNS (note STRING)")
      GraftSql.execute(spark, s"INSERT INTO $n SELECT * FROM $srcView")
      GraftSql.execute(spark, s"ALTER TABLE $n DROP COLUMN o_custkey")
      val d = graft.core.TxnTable.commits(t).last
      require(d.op.startsWith("alter:drop") && d.adds.isEmpty &&
        d.removes.isEmpty, "DROP COLUMN must move zero files")
      require(graft.core.TxnTable
        .read(spark, t, 2L).columns.contains("o_custkey"),
        "the pre-drop snapshot must keep the column")
      require(!graft.core.TxnTable.read(spark, t).columns
        .contains("o_custkey"), "the head must not show the column")
      GraftSql.query(spark,
        s"""SELECT coalesce(note, 'base') AS note, count(*) AS cnt,
           |  sum(price_c) AS ps FROM $n
           |GROUP BY 1 ORDER BY 1""".stripMargin)
    } finally GraftSql.unregister(n)
  }

  /** RENAME COLUMN via column mapping: metadata-only (zero files moved,
    * asserted in-run), every statement verb then speaks the new name —
    * an UPDATE and the final aggregate run against the renamed column
    * while every data file still stores the original physical name
    * (asserted in-run on the post-rename append's file). */
  def s38RenameColumn(spark: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_s38")
      .toString + "/orders_txn"
    val n = freshName("orders_rn_")
    val srcView = freshName("orders_rn_src_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    graft.core.TxnTable.createClustered(spark, t, orders,
      Seq(col("o_custkey")), targetFiles = 10) // v0
    orders.filter(col("o_custkey") <= ck / 6)
      .select((col("o_orderkey") + kx).as("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("price_c"))
      .createOrReplaceTempView(srcView)
    GraftSql.register(n, t)
    try {
      GraftSql.execute(spark,
        s"ALTER TABLE $n RENAME COLUMN price_c TO cents") // v1
      val r = graft.core.TxnTable.commits(t).last
      require(r.op.startsWith("alter:rename") && r.adds.isEmpty &&
        r.removes.isEmpty, "RENAME COLUMN must move zero files")
      // an INSERT through the renamed surface: the staged FILE must
      // store the ORIGINAL physical name
      GraftSql.execute(spark, s"INSERT INTO $n SELECT * FROM $srcView")
      val addPath = graft.core.TxnTable.commits(t).last.adds.head.path
      val raw = spark.read.parquet(
        java.nio.file.Paths.get(t).resolve(addPath).toString)
      require(raw.columns.contains("price_c") && !raw.columns.contains("cents"),
        s"files must keep the physical name, got ${raw.columns.toSeq}")
      GraftSql.execute(spark,
        s"""UPDATE $n SET cents = cents * 2
           |WHERE o_custkey BETWEEN ${ck / 2} AND ${ck / 2 + ck / 8}
           |  AND o_orderstatus = 'O'""".stripMargin)
      GraftSql.query(spark,
        s"""SELECT o_orderstatus AS st, count(*) AS cnt,
           |  sum(cents) AS cents_sum FROM $n
           |GROUP BY o_orderstatus ORDER BY st""".stripMargin)
    } finally GraftSql.unregister(n)
  }

  /** The change data feed as a SQL table-valued function:
    * `table_changes(name, fromV, toV, key...)` inside any SELECT —
    * statement-text DML produces the changes, the TVF reads them back
    * (file-scoped diff: only changed files are compared), and plain SQL
    * aggregates over the feed. */
  def s39TableChanges(spark: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_s39")
      .toString + "/orders_txn"
    val n = freshName("orders_cdf_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    graft.core.TxnTable.createClustered(spark, t, orders,
      Seq(col("o_custkey")), targetFiles = 10) // v0
    GraftSql.register(n, t)
    try {
      GraftSql.execute(spark,
        s"""UPDATE $n SET price_c = price_c * 2
           |WHERE o_custkey BETWEEN ${ck / 2} AND ${ck / 2 + ck / 8}
           |  AND o_orderstatus = 'O'""".stripMargin) // v1
      GraftSql.execute(spark,
        s"DELETE FROM $n WHERE o_orderstatus = 'F' " +
          s"AND o_custkey <= ${ck / 10}") // v2
      GraftSql.query(spark,
        s"""SELECT op, count(*) AS cnt, sum(price_c) AS ps,
           |  sum(o_orderkey) AS ks
           |FROM table_changes('$n', 0, 2, 'o_orderkey')
           |GROUP BY op ORDER BY op""".stripMargin)
    } finally GraftSql.unregister(n)
  }

  /** S45: `table_changes` addressed by TIMESTAMP — the "what changed
    * since yesterday" audit UX. Bounds resolve through the log-mtime
    * clock (`versionAt`), so the gate asserts IN-RUN that the
    * timestamp-addressed TVF equals the version-addressed one
    * row-for-row (exceptAll both ways) for the same resolved
    * versions, that mixed version/timestamp bounds work, and that a
    * pre-horizon timestamp fails with the versionAt fence (never a
    * silent empty diff). Oracle = s39's relational replay (same
    * commits, same diff). */
  def s45TableChangesTs(spark: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_s45")
      .toString + "/orders_txn"
    val n = freshName("orders_cdfts_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    graft.core.TxnTable.createClustered(spark, t, orders,
      Seq(col("o_custkey")), targetFiles = 10) // v0
    GraftSql.register(n, t)
    try {
      // distinct log-clock ticks: commits separated beyond mtime
      // granularity so each version owns an unambiguous instant
      Thread.sleep(30)
      GraftSql.execute(spark,
        s"""UPDATE $n SET price_c = price_c * 2
           |WHERE o_custkey BETWEEN ${ck / 2} AND ${ck / 2 + ck / 8}
           |  AND o_orderstatus = 'O'""".stripMargin) // v1
      Thread.sleep(30)
      GraftSql.execute(spark,
        s"DELETE FROM $n WHERE o_orderstatus = 'F' " +
          s"AND o_custkey <= ${ck / 10}") // v2
      val ts = graft.core.TxnTable.history(spark, t)
        .select(col("version"), col("ts_millis")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      def fmt(millis: Long): String =
        java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochMilli(millis))
      val byVersion = GraftSql.query(spark,
        s"SELECT * FROM table_changes('$n', 0, 2, 'o_orderkey')")
      val byTs = GraftSql.query(spark,
        s"SELECT * FROM table_changes('$n', '${fmt(ts(0L))}', " +
          s"'${fmt(ts(2L))}', 'o_orderkey')")
      require(byTs.exceptAll(byVersion).isEmpty &&
        byVersion.exceptAll(byTs).isEmpty,
        "timestamp-addressed table_changes must equal the " +
          "version-addressed call for the resolved versions")
      // mixed bounds: version from, timestamp to
      val mixed = GraftSql.query(spark,
        s"SELECT * FROM table_changes('$n', 1, '${fmt(ts(2L))}', " +
          "'o_orderkey')")
      require(mixed.select(col("op")).distinct().collect()
        .map(_.getString(0)).toSet == Set("delete"),
        "v1→ts(v2) must carry only the delete commit")
      // pre-horizon timestamps are LOUD, never a silent empty diff
      val e = try {
        GraftSql.query(spark,
          s"SELECT * FROM table_changes('$n', " +
            s"'${fmt(ts(0L) - 3600000L)}', 2, 'o_orderkey')")
        null
      } catch { case ex: Exception => ex }
      require(e != null && e.getMessage != null &&
        e.getMessage.contains("predates the earliest readable commit"),
        s"pre-horizon timestamp must hit the versionAt fence: $e")
      byTs.groupBy(col("op"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_orderkey")).as("ks"))
        .orderBy(col("op"))
    } finally GraftSql.unregister(n)
  }

  /** S47: multi-table UPDATE — `UPDATE t SET … FROM src WHERE
    * join-cond` (the Postgres/DuckDB statement users port) translated
    * onto MERGE's WHEN MATCHED UPDATE. The gate runs the statement
    * against a key-unique source (identical semantics in every
    * dialect), asserts IN-RUN that the rewrite touched a strict
    * subset of files and that a hand-written MERGE INTO on a twin
    * table produces the bit-exact same state; the oracle replays
    * DuckDB's own UPDATE-FROM semantics relationally. */
  def s47UpdateFrom(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s47").toString
    val n = freshName("orders_uf_")
    val n2 = freshName("orders_uf_twin_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    Seq(d + "/t", d + "/twin").foreach(p =>
      TxnTable.createClustered(spark, p, orders, Seq(col("o_custkey")),
        targetFiles = 10)) // v0 each
    val nFiles = TxnTable.snapshotFiles(d + "/t").size
    val srcView = freshName("s47_src_")
    orders.filter(col("o_custkey") <= ck / 8)
      .select(col("o_orderkey"), (col("price_c") * 3).as("nv"))
      .createOrReplaceTempView(srcView)
    GraftSql.register(n, d + "/t"); GraftSql.register(n2, d + "/twin")
    try {
      GraftSql.execute(spark,
        s"""UPDATE $n t SET price_c = s.nv FROM $srcView s
           |WHERE t.o_orderkey = s.o_orderkey
           |  AND t.o_orderstatus = 'O'""".stripMargin)
      val c = TxnTable.commits(d + "/t").last
      require(c.removes.nonEmpty && c.removes.size < nFiles,
        s"UPDATE FROM must rewrite a strict subset of $nFiles files, " +
          s"got ${c.removes.size}")
      // ≡ the MERGE it translates to, bit-exact on a twin table
      GraftSql.execute(spark,
        s"""MERGE INTO $n2 t USING $srcView s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND t.o_orderstatus = 'O'
           |THEN UPDATE SET price_c = s.nv""".stripMargin)
      val (a, b) = (TxnTable.read(spark, d + "/t"),
        TxnTable.read(spark, d + "/twin"))
      require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "UPDATE FROM must equal its MERGE translation bit-exactly")
      a.groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_orderkey")).as("ks"))
        .orderBy(col("st"))
    } finally { GraftSql.unregister(n); GraftSql.unregister(n2) }
  }

  /** S52: `COPY INTO t FROM '<dir>'` — idempotent zero-copy bulk
    * ingestion: only files not yet loaded are adopted BY REFERENCE
    * (absolute paths in the adds, footer stats harvested into the
    * log). In-run: a re-run is a version-unchanged no-op; a second
    * batch landing in the directory loads exactly the new files
    * (commit adds counted); the table directory holds zero local
    * parquet; a MOR delete then works over the adopted files
    * (basename-keyed DVs, uniqueness guarded at load). Oracle replays
    * the two batches minus the deleted band. */
  def s52CopyInto(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s52").toString
    val n = freshName("orders_ci_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    // an empty born-graft table, then two landing batches
    TxnTable.create(spark, d + "/t", orders.limit(0)) // v0
    GraftSql.register(n, d + "/t")
    try {
      orders.filter(col("o_custkey") <= ck / 2).repartition(2)
        .write.parquet(d + "/landing/b1")
      val v1 = GraftSql.execute(spark, s"COPY INTO $n FROM '$d/landing'")
      require(v1 == 1L && TxnTable.commits(d + "/t").last.op == "copyinto",
        s"first COPY INTO commits v1, got $v1")
      // idempotent: the same directory re-runs as a no-op
      require(GraftSql.execute(spark,
        s"COPY INTO $n FROM '$d/landing'") == 1L &&
        TxnTable.currentVersion(d + "/t") == 1L,
        "a re-run COPY INTO must no-op at the unchanged head")
      // a second batch lands: ONLY its files load
      orders.filter(col("o_custkey") > ck / 2).repartition(3)
        .write.parquet(d + "/landing/b2")
      val v2 = GraftSql.execute(spark, s"COPY INTO $n FROM '$d/landing'")
      val c2 = TxnTable.commits(d + "/t").last
      require(v2 == 2L && c2.adds.size == 3,
        s"the incremental load must carry exactly b2's files, " +
          s"got ${c2.adds.size}")
      // zero copy: every loaded add references the landing directory
      // by absolute path — nothing was copied under the table
      require(TxnTable.commits(d + "/t").drop(1).flatMap(_.adds)
        .forall(_.path.startsWith(d + "/landing")),
        "COPY INTO must adopt by reference, never copy bytes")
      require(TxnTable.read(spark, d + "/t").count() == orders.count(),
        "both batches must be visible")
      // the adopted files take MOR DML like any table
      GraftSql.register(n, d + "/t", mor = true)
      GraftSql.execute(spark,
        s"DELETE FROM $n WHERE o_orderstatus = 'F' " +
          s"AND o_custkey <= ${ck / 10}") // v3
      TxnTable.read(spark, d + "/t")
        .groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_orderkey")).as("ks"))
        .orderBy(col("st"))
    } finally GraftSql.unregister(n)
  }

  /** S54: `COPY INTO t FROM '<dir>' FORMAT AS CSV` — formatted
    * ingestion: CSV sources MATERIALIZE through the standard write
    * path (table-shape coercion from untyped text, constraints riding
    * the job) while idempotence still keys on source-file path
    * identity. In-run: a re-run is a version-unchanged no-op; a second
    * CSV drop loads exactly the new files; the committed adds live
    * UNDER THE TABLE (bytes rewritten — the opposite of s52's
    * by-reference parquet adopt); a malformed row (unparseable long)
    * aborts its whole batch atomically with nothing committed. The
    * landing directory is pid-keyed ([[s54LandDir]] — the oracle SQL
    * interpolates the same deterministic path) so the oracle replays
    * it with DuckDB's own read_csv over the very same files, and two
    * concurrent suite runs (separate JVMs) never race on one path. */
  def s54CopyCsv(spark: SparkSession, dir: String): DataFrame = {
    // deterministic pid-keyed landing dir, wiped at start so a
    // same-JVM re-run starts clean; the oracle computes the identical
    // path with no mutable state, so snapshot order never matters
    val land = s54LandDir
    val lp = java.nio.file.Paths.get(land)
    if (java.nio.file.Files.exists(lp)) {
      val it = java.nio.file.Files.walk(lp)
      try it.sorted(java.util.Comparator.reverseOrder())
        .iterator().forEachRemaining(p =>
          { java.nio.file.Files.deleteIfExists(p); () })
      finally it.close()
    }
    java.nio.file.Files.createDirectories(lp)
    val d = java.nio.file.Files.createTempDirectory("graft_s54").toString
    val t = d + "/t"
    val n = freshName("orders_cc_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    TxnTable.create(spark, t, orders.limit(0)) // v0: empty, typed shape
    GraftSql.register(n, t)
    try {
      orders.filter(col("o_custkey") <= ck / 2).repartition(2)
        .write.option("header", "true").csv(land + "/b1")
      val v1 = GraftSql.execute(spark,
        s"COPY INTO $n FROM '$land' FORMAT AS CSV")
      val c1 = TxnTable.commits(t).last
      require(v1 == 1L && c1.op.startsWith("copyinto:csv:"),
        s"first CSV COPY INTO commits v1, got $v1 / ${c1.op}")
      // the text coerced into the TABLE's types, not strings
      require(TxnTable.read(spark, t).schema("price_c").dataType
        == org.apache.spark.sql.types.LongType,
        "CSV text must coerce to the table shape")
      // idempotent: same directory re-runs as a no-op
      require(GraftSql.execute(spark,
        s"COPY INTO $n FROM '$land' FORMAT AS CSV") == 1L &&
        TxnTable.currentVersion(t) == 1L,
        "a re-run formatted COPY INTO must no-op at the unchanged head")
      // a second drop lands: ONLY its files load
      orders.filter(col("o_custkey") > ck / 2).repartition(3)
        .write.option("header", "true").csv(land + "/b2")
      val v2 = GraftSql.execute(spark,
        s"COPY INTO $n FROM '$land' FORMAT AS CSV")
      require(v2 == 2L, s"incremental CSV load must commit v2, got $v2")
      // MATERIALIZED, not adopted: every add lives under the table
      require(TxnTable.commits(t).drop(1).flatMap(_.adds)
        .forall(!_.path.startsWith(land)),
        "formatted COPY INTO must rewrite bytes into table parquet")
      require(TxnTable.read(spark, t).count() == orders.count(),
        "both CSV drops must be visible")
      // a malformed batch refuses ATOMICALLY: unparseable long → the
      // whole load aborts, nothing commits, staged files cleaned
      java.nio.file.Files.writeString(lp.resolve("bad.csv"),
        "o_orderkey,o_custkey,o_orderstatus,price_c\n1,2,X,notanumber\n")
      val top = TxnTable.currentVersion(t)
      try {
        GraftSql.execute(spark, s"COPY INTO $n FROM '$land' FORMAT AS CSV")
        throw new AssertionError("malformed CSV must abort the batch")
      } catch { case _: Exception => () } // AssertionError propagates
      require(TxnTable.currentVersion(t) == top &&
        TxnTable.read(spark, t).count() == orders.count(),
        "a malformed batch must commit NOTHING")
      java.nio.file.Files.delete(lp.resolve("bad.csv"))
      TxnTable.read(spark, t)
        .groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_orderkey")).as("ks"))
        .orderBy(col("st"))
    } finally GraftSql.unregister(n)
  }

  /** S62: MATERIALIZED VIEWS — compute-once tables with LOG-METADATA
    * staleness: the create/refresh commit's op records the source
    * versions, so SHOW MATERIALIZED VIEWS decides stale with zero
    * scans; REFRESH is one atomic overwrite (readers see old or new,
    * never a mix; the pre-refresh materialization stays time-
    * travelable). In-run: fresh→stale→fresh lifecycle, content PINNED
    * until the refresh, MV reads like a table, the pre-refresh
    * snapshot still serves. Oracle replays the refreshed aggregate. */
  def s62Matview(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s62").toString
    val n = freshName("orders_mv_src_")
    val m = freshName("orders_mv_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    TxnTable.create(spark, d + "/src", orders, partitions = 4) // v0
    GraftSql.register(n, d + "/src")
    try {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW $m LOCATION '$d/mv' AS
           |SELECT o_orderstatus AS st, count(*) AS cnt,
           |  sum(price_c) AS ps, sum(o_orderkey) AS ks
           |FROM $n GROUP BY o_orderstatus""".stripMargin)
      def stale(): Boolean = GraftSql
        .query(spark, "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === m).head().getBoolean(2)
      require(!stale(), "a just-created MV must be fresh")
      // the MV reads like a table
      require(GraftSql.query(spark,
        s"SELECT count(*) AS c FROM $m").head().getLong(0) == 3L)
      val pinned = GraftSql.query(spark,
        s"SELECT sum(ps) AS s FROM $m").head().getLong(0)
      // a source commit flips staleness — content stays PINNED
      GraftSql.execute(spark,
        s"UPDATE $n SET price_c = price_c * 2 " +
          "WHERE o_orderstatus = 'O'") // src v1
      require(stale(), "a source commit must flip the stale flag")
      require(GraftSql.query(spark,
        s"SELECT sum(ps) AS s FROM $m").head().getLong(0) == pinned,
        "MV content must stay pinned until the refresh")
      // REFRESH: atomic recompute-overwrite, staleness clears
      val v = GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $m")
      require(v == 1L && !stale(),
        s"the refresh must commit v1 and clear staleness, got $v")
      // the pre-refresh materialization is still time-travelable
      require(TxnTable.read(spark, d + "/mv", 0L)
        .agg(sum(col("ps"))).head().getLong(0) == pinned,
        "the pre-refresh snapshot must stay readable")
      GraftSql.query(spark, s"SELECT st, cnt, ps, ks FROM $m ORDER BY st")
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $m")
      catch { case _: Exception => () }
      GraftSql.unregister(n)
    }
  }

  /** S66: NESTED-FIELD ALTER — add + widen a STRUCT LEAF as
    * metadata-only schema commits: `ALTER TABLE t ADD COLUMNS
    * (cust.tier BIGINT)` and `ALTER TABLE t ALTER COLUMN cust.bal_c
    * TYPE BIGINT` touch no file at any table size; old generations
    * null-fill the added leaf and upcast the widened one at scan
    * time; time travel binds each snapshot's own nested shape. In-run:
    * both ALTERs commit zero adds/removes; the v0 snapshot still
    * shows the original struct (no tier, int bal_c); a pruned read on
    * an UNRELATED top-level column stays zero-footer and a strict
    * file subset across the mixed generations. Oracle replays the
    * three-generation union. */
  def s66NestedAlter(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s66").toString
    val t = d + "/t"
    val n = freshName("orders_na_")
    val base = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      struct(
        col("o_orderstatus").as("seg"),
        round(col("o_totalprice") * 100).cast("int").as("bal_c"))
        .as("cust"))
    val kx = base.agg(max(col("o_orderkey"))).head().getLong(0)
    val ck = base.agg(max(col("o_custkey"))).head().getLong(0)
    // two custkey band tranches → per-file bounds for the prune assert
    TxnTable.create(spark, t, base.filter(col("o_custkey") <= ck / 2))
    TxnTable.append(spark, t, base.filter(col("o_custkey") > ck / 2))
    GraftSql.register(n, t)
    try {
      // ALTER #1: add a leaf — metadata-only
      val v2 = GraftSql.execute(spark,
        s"ALTER TABLE $n ADD COLUMNS (cust.tier BIGINT)")
      val c2 = TxnTable.commits(t).last
      require(v2 == 2L && c2.adds.isEmpty && c2.removes.isEmpty &&
        c2.op == "alter:addnested:cust.tier",
        s"nested ADD must be a metadata-only commit, got ${c2.op}")
      // generation 2 data: the new leaf populated
      TxnTable.append(spark, t, base.filter(col("o_orderkey") <= kx / 4)
        .select(
          (col("o_orderkey") + kx).as("o_orderkey"), col("o_custkey"),
          struct(col("cust.seg").as("seg"),
            (col("cust.bal_c") + 1).cast("int").as("bal_c"),
            (col("o_custkey") % 5).as("tier")).as("cust"))) // v3
      // ALTER #2: widen the int leaf — metadata-only
      val v4 = GraftSql.execute(spark,
        s"ALTER TABLE $n ALTER COLUMN cust.bal_c TYPE BIGINT")
      val c4 = TxnTable.commits(t).last
      require(v4 == 4L && c4.adds.isEmpty && c4.removes.isEmpty,
        "nested widen must be a metadata-only commit")
      // generation 3 data: beyond-int32 values in the widened leaf
      TxnTable.append(spark, t, base.filter(col("o_orderkey") <= kx / 4)
        .select(
          (col("o_orderkey") + 2 * kx).as("o_orderkey"), col("o_custkey"),
          struct(col("cust.seg").as("seg"),
            (col("cust.bal_c").cast("long") + 5000000000L).as("bal_c"),
            (col("o_custkey") % 7).as("tier")).as("cust"))) // v5
      // time travel binds each snapshot's OWN nested shape
      val s0 = TxnTable.read(spark, t, 1L).schema("cust").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      require(!s0.fieldNames.contains("tier") &&
        s0("bal_c").dataType ==
          org.apache.spark.sql.types.IntegerType,
        s"v1 must bind the ORIGINAL struct shape, got $s0")
      val sN = TxnTable.read(spark, t).schema("cust").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      require(sN.fieldNames.toSeq == Seq("seg", "bal_c", "tier") &&
        sN("bal_c").dataType == org.apache.spark.sql.types.LongType,
        s"the head must bind the evolved shape, got $sN")
      // pruned read on the UNRELATED top-level o_custkey: zero
      // footers, strict file subset, across all three generations
      val prunedCnt = footerFree(
          "pruning must stay zero-footer across nested-ALTER generations") {
        val pruned = TxnTable.readPruned(spark, t,
          Seq(Bound.LongRange("o_custkey", 1L, ck / 2)))
        val prunedCnt = pruned.count()
        require(pruned.inputFiles.length < TxnTable.snapshotFiles(t).size,
          "the low band must prune a strict file subset")
        prunedCnt
      }
      require(prunedCnt > 0)
      GraftSql.query(spark,
        s"""SELECT cust.seg AS seg, count(*) AS cnt,
           |  sum(cust.bal_c) AS bal,
           |  sum(coalesce(cust.tier, -1)) AS tier
           |FROM $n GROUP BY cust.seg ORDER BY seg""".stripMargin)
    } finally GraftSql.unregister(n)
  }

  /** S65: ANALYZE-FREE CBO — a registered txn table resolves with
    * CatalogStatistics folded from its COMMIT LOG (rows/bytes/
    * min-max/nulls; zero file reads), so a filtered dim⋈fact plans
    * BroadcastHashJoin by STATISTICS (row count × range selectivity
    * under the threshold) where the raw size-only estimate
    * sort-merges — the c13 flip with the log in place of a crawl, no
    * ANALYZE scan anywhere. In-run: the static plan flips SMJ→BHJ
    * with `spark.graft.cbo.logStats`, planning reads ZERO parquet
    * footers, and both plans serve identical values (oracle-pinned,
    * join node names pinned in the oracle's VALUES). */
  def s65LogCbo(shared: SparkSession, dir: String): DataFrame = {
    // the CBO flags below are set on a private session: concurrent
    // gates on `shared` keep their plans
    val spark = shared.newSession()
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_s65").toString
    val nc = freshName("cust_cbo_")
    val no = freshName("ord_cbo_")
    val cust = Lake.table(spark, dir, "customer")
    val ord = Lake.table(spark, dir, "orders").select(
      col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    TxnTable.create(spark, d + "/cust", cust, partitions = 2)
    TxnTable.create(spark, d + "/ord", ord, partitions = 4)
    GraftSql.register(nc, d + "/cust")
    GraftSql.register(no, d + "/ord")
    try {
      val cap = cust.agg(max(col("c_custkey"))).head().getLong(0) / 50
      val (dimBytes, _, _) = TxnTable.logTableStats(spark, d + "/cust")
      val sql =
        s"""SELECT count(*) AS n_rows, sum(o.price_c) AS revenue_c
           |FROM $no o JOIN $nc c ON o.o_custkey = c.c_custkey
           |WHERE c.c_custkey <= $cap""".stripMargin
      val conf = spark.conf
      conf.set("spark.sql.cbo.enabled", "true")
      // threshold BETWEEN the two estimates, scaled to the dim's
      // logged bytes so the flip holds at every scale factor: the
      // stats-less plan keeps ~the (column-pruned) file size; only
      // log row count + custkey bounds shrink the 2% band under it
      conf.set("spark.sql.autoBroadcastJoinThreshold",
        (dimBytes / 16).toString)
      val (off, dfOn, on) =
        footerFree("log-stats planning must read zero parquet footers") {
          conf.set("spark.graft.cbo.logStats", "false")
          val off = graft.crawler.CboStats
            .staticJoinNode(GraftSql.query(spark, sql))
          conf.set("spark.graft.cbo.logStats", "true")
          val dfOn = GraftSql.query(spark, sql)
          (off, dfOn, graft.crawler.CboStats.staticJoinNode(dfOn))
        }
      require(off == "SortMergeJoin",
        s"without injection the size-only estimate must SMJ, got $off")
      require(on == "BroadcastHashJoin",
        s"with log stats the dim must broadcast, got $on")
      // the flip is USER-OBSERVABLE through the statement surface:
      // EXPLAIN returns the substituted, stats-injected plan as
      // rows, still zero-footer
      footerFree("EXPLAIN must plan zero-footer") {
        val explained = GraftSql.query(spark, s"EXPLAIN $sql")
          .collect().map(_.getString(0)).mkString("\n")
        require(explained.contains("BroadcastHashJoin"),
          "EXPLAIN must show the stats-injected plan")
      }
      val r = dfOn.collect().head
      val rOff = {
        conf.set("spark.graft.cbo.logStats", "false")
        GraftSql.query(spark, sql).collect().head
      }
      require(r.getLong(0) == rOff.getLong(0) &&
        r.getLong(1) == rOff.getLong(1),
        "both plans must serve identical values")
      Seq(("log_stats", on, r.getLong(0), r.getLong(1)),
          ("no_stats", off, r.getLong(0), r.getLong(1)))
        .toDF("variant", "join_node", "n_rows", "revenue_c")
        .orderBy(col("variant"))
    } finally { GraftSql.unregister(nc); GraftSql.unregister(no) }
  }

  /** S68: HISTOGRAM-BACKED CBO — `ANALYZE TABLE t COMPUTE HISTOGRAM
    * (col)` persists per-column equi-height histograms as a tblprops
    * commit (ONE explicit user-invoked scan — the only statistics
    * scan in the engine); the log-stats injection maps them onto
    * `CatalogColumnStat.histogram`, closing the skewed-column blind
    * spot of the uniform min/max estimate. In-run: the SAME skewed
    * join statement plans SortMergeJoin before the ANALYZE (the
    * uniform range estimate says ~half the table survives the filter)
    * and BroadcastHashJoin after it (the histogram prices the true
    * ~1% band under the threshold); planning reads ZERO parquet
    * footers both times (the histogram rides the log); both plans
    * serve identical values, join node names pinned in the output
    * rows. Oracle replays the skewed join. */
  def s68CboHistogram(shared: SparkSession, dir: String): DataFrame = {
    // private session for the CBO flags (see s65)
    val spark = shared.newSession()
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_s68").toString
    val ns = freshName("skew_hist_")
    val nf = freshName("ord_hist_")
    val orders = Lake.table(spark, dir, "orders")
    val kx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    // 99% of k sits at 0; 1% spreads over [0, kx] — the uniform
    // estimate for k >= kx/2 overshoots the true count ~30×
    val skew = orders.select(
      col("o_orderkey").as("id"),
      when(col("o_orderkey") % 100 === 0, col("o_orderkey"))
        .otherwise(lit(0L)).as("k"))
    val fact = orders.select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    TxnTable.create(spark, d + "/skew", skew, partitions = 2)
    TxnTable.create(spark, d + "/ord", fact, partitions = 4)
    GraftSql.register(ns, d + "/skew")
    GraftSql.register(nf, d + "/ord")
    try {
      val (skewBytes, _, _) = TxnTable.logTableStats(spark, d + "/skew")
      val sql =
        s"""SELECT count(*) AS n_rows, sum(f.price_c) AS revenue_c
           |FROM $nf f JOIN $ns s ON f.o_orderkey = s.id
           |WHERE s.k >= ${kx / 2}""".stripMargin
      val conf = spark.conf
      conf.set("spark.sql.cbo.enabled", "true")
      conf.set("spark.graft.cbo.logStats", "true")
      // threshold BETWEEN the uniform (~50%) and histogram (~1-bin)
      // estimates of the filtered skew side, scaled to its logged
      // bytes so the flip holds at every scale factor
      conf.set("spark.sql.autoBroadcastJoinThreshold",
        (skewBytes / 8).toString)
      val before =
        footerFree("log-stats planning must read zero parquet footers") {
          val before = graft.crawler.CboStats
            .staticJoinNode(GraftSql.query(spark, sql))
          require(before == "SortMergeJoin",
            s"without a histogram the uniform estimate must SMJ, got $before")
          before
        }
      // ONE explicit statistics scan, committed as table metadata
      val v = GraftSql.execute(spark,
        s"ANALYZE TABLE $ns COMPUTE HISTOGRAM (k)")
      require(v == 1L &&
        graft.core.TxnTable.commits(d + "/skew").last.op
          .startsWith("tblprops:set:"),
        "ANALYZE must land as one tblprops commit")
      require(graft.core.TxnTable.properties(d + "/skew")
        .contains("graft.hist.k"), "the histogram must ride the log")
      val (dfOn, after) =
        footerFree("histogram planning must stay zero-footer") {
          val dfOn = GraftSql.query(spark, sql)
          val after = graft.crawler.CboStats.staticJoinNode(dfOn)
          require(after == "BroadcastHashJoin",
            s"the histogram must price the band under the threshold " +
              s"and broadcast, got $after")
          (dfOn, after)
        }
      val r = dfOn.collect().head
      val rBefore = {
        // the pre-ANALYZE plan replayed: time-travel the skew side
        // to the version before the stats commit
        GraftSql.query(spark, sql.replace(s"$ns s",
          s"$ns VERSION AS OF 0 s")).collect().head
      }
      require(r.getLong(0) == rBefore.getLong(0) &&
        r.getLong(1) == rBefore.getLong(1),
        "both plans must serve identical values")
      Seq(("with_histogram", after, r.getLong(0), r.getLong(1)),
          ("without", before, r.getLong(0), r.getLong(1)))
        .toDF("variant", "join_node", "n_rows", "revenue_c")
        .orderBy(col("variant"))
    } finally { GraftSql.unregister(ns); GraftSql.unregister(nf) }
  }

  /** S70: STRING-SKEW CBO — `ANALYZE TABLE t COMPUTE HISTOGRAM (k)`
    * over a STRING column computes exact ndv + a most-common-values
    * list (one batched scan, tblprops commit); the log-stats
    * injection maps the ndv onto CatalogColumnStat and the
    * per-statement MCV refinement prices string equality by actual
    * value FREQUENCY, not 1/ndv uniform. In-run, BOTH skew
    * directions: a RARE-value filter plans SortMergeJoin before the
    * ANALYZE (no string stats → full-size estimate) and
    * BroadcastHashJoin after; the 99% COMMON value must STAY
    * SortMergeJoin after the ANALYZE — plain 1/ndv would price the
    * hot value as rare and broadcast a near-full table (the OOM plan
    * at scale). Planning reads zero parquet footers throughout; the
    * ANALYZE itself is ONE batched scan (its scope record); both plans
    * serve oracle-pinned values, join node names pinned in the
    * output rows. */
  def s70StringSkew(shared: SparkSession, dir: String): DataFrame = {
    // private session for the CBO flags (see s65)
    val spark = shared.newSession()
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_s70").toString
    val ns = freshName("skew_mcv_")
    val nf = freshName("ord_mcv_")
    val orders = Lake.table(spark, dir, "orders")
    // ~1% of rows carry a singleton key 'v<orderkey>'; the other 99%
    // share 'common' — the domain/lang shape of real curation keys
    val skew = orders.select(
      col("o_orderkey").as("id"),
      when(col("o_orderkey") % 100 === 0,
        concat(lit("v"), col("o_orderkey").cast("string")))
        .otherwise(lit("common")).as("k"))
    val fact = orders.select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val rare = "v" + orders.filter(col("o_orderkey") % 100 === 0)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    TxnTable.create(spark, d + "/skew", skew, partitions = 2)
    TxnTable.create(spark, d + "/ord", fact, partitions = 4)
    GraftSql.register(ns, d + "/skew")
    GraftSql.register(nf, d + "/ord")
    try {
      val (skewBytes, _, _) = TxnTable.logTableStats(spark, d + "/skew")
      def sqlOf(value: String) =
        s"""SELECT count(*) AS n_rows, sum(f.price_c) AS revenue_c
           |FROM $nf f JOIN $ns s ON f.o_orderkey = s.id
           |WHERE s.k = '$value'""".stripMargin
      val conf = spark.conf
      conf.set("spark.sql.cbo.enabled", "true")
      conf.set("spark.graft.cbo.logStats", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold",
        (skewBytes / 8).toString)
      val before =
        footerFree("log-stats planning must read zero parquet footers") {
          val before = graft.crawler.CboStats
            .staticJoinNode(GraftSql.query(spark, sqlOf(rare)))
          require(before == "SortMergeJoin",
            s"without string stats the full-size estimate must SMJ, " +
              s"got $before")
          before
        }
      val (_, analyze) = OpMetrics.scope(GraftSql.execute(spark,
        s"ANALYZE TABLE $ns COMPUTE HISTOGRAM (k)"))
      require(graft.core.TxnTable.properties(d + "/skew")
        .contains("graft.mcv.k"), "the MCV stats must ride the log")
      val scans = analyze.get(TxnTable.AnalyzeScans)
      require(scans.contains(1),
        s"a string-only ANALYZE is ONE scan (ndv + nonnull ride " +
          s"the MCV aggregate), got $scans")
      val (dfRare, after, dfCommon, commonNode) =
        footerFree("MCV planning must stay zero-footer") {
          val dfRare = GraftSql.query(spark, sqlOf(rare))
          val after = graft.crawler.CboStats.staticJoinNode(dfRare)
          require(after == "BroadcastHashJoin",
            s"the string ndv must price the rare value under the " +
              s"threshold and broadcast, got $after")
          val dfCommon = GraftSql.query(spark, sqlOf("common"))
          val commonNode = graft.crawler.CboStats.staticJoinNode(dfCommon)
          require(commonNode == "SortMergeJoin",
            s"the MCV must price the 99% value HONESTLY and keep the " +
              s"sort-merge (uniform 1/ndv would broadcast it), got " +
              s"$commonNode")
          (dfRare, after, dfCommon, commonNode)
        }
      val rRare = dfRare.collect().head
      val rBefore = GraftSql.query(spark, sqlOf(rare)
        .replace(s"$ns s", s"$ns VERSION AS OF 0 s")).collect().head
      require(rRare.getLong(0) == rBefore.getLong(0) &&
        rRare.getLong(1) == rBefore.getLong(1),
        "both rare plans must serve identical values")
      val rCommon = dfCommon.collect().head
      Seq(
        ("common_with_mcv", commonNode,
          rCommon.getLong(0), rCommon.getLong(1)),
        ("rare_with_mcv", after, rRare.getLong(0), rRare.getLong(1)),
        ("rare_without", before, rRare.getLong(0), rRare.getLong(1)))
        .toDF("variant", "join_node", "n_rows", "revenue_c")
        .orderBy(col("variant"))
    } finally { GraftSql.unregister(ns); GraftSql.unregister(nf) }
  }

  /** S69: SCOPED RE-CLUSTER — `OPTIMIZE t ZORDER BY (a, b) WHERE col
    * BETWEEN lo AND hi` re-clusters ONLY the files whose LOGGED range
    * on the WHERE column intersects the box (zero footer reads to
    * pick the set), at proportional width, leaving everything outside
    * the box byte-for-byte untouched — re-pack ONE hot band without a
    * table rewrite or even a tail fold. The `compact:zscope` commit
    * leaves the tail chain coherent: its outputs count as clustered,
    * but unclustered files OUTSIDE the box keep their tail status for
    * the next bare ZORDER. In-run: rewrite set == exactly the
    * box-intersecting files; the outside-box tail file and every
    * non-intersecting bulk file survive; a box-pruned band read over
    * the result is within one bin of a freshly FULL-re-clustered twin
    * at equal rows, zero footers; an empty box no-ops; the next bare
    * ZORDER folds exactly the outside-box tail. Oracle replays the
    * tranche aggregate over base ∪ both appended bands. */
  def s69ZorderWhere(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s69").toString
    val t = d + "/t"
    val n = freshName("orders_zw_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val kx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders,
      Seq(col("o_custkey"), col("o_orderkey")), targetFiles = 8) // v0
    // churn INSIDE the hot band (custkey ≤ ck/8): one tail file
    TxnTable.append(spark, t, orders
      .filter(col("o_custkey") <= ck / 8).select(
        (col("o_orderkey") + kx).as("o_orderkey"), col("o_custkey"),
        (col("price_c") + 1).as("price_c"))) // v1
    // and OUTSIDE it (custkey > 7ck/8): must stay tail afterwards
    TxnTable.append(spark, t, orders
      .filter(col("o_custkey") > 7 * ck / 8).select(
        (col("o_orderkey") + 2 * kx).as("o_orderkey"), col("o_custkey"),
        (col("price_c") + 2).as("price_c"))) // v2
    GraftSql.register(n, t)
    try {
      def base(p: String) = p.split('/').last
      // the box-intersecting file set, from the LOG (the same stats
      // walk the operator uses — a pruned read's plan IS that set)
      val expected = TxnTable.readPruned(spark, t,
        Seq(Bound.LongRange("o_custkey", 1L, ck / 8)))
        .inputFiles.map(base).toSet
      val outsideTail = TxnTable.commits(t).last.adds.map(_.path).toSet
      val before = TxnTable.snapshotFiles(t).toSet
      val v = GraftSql.execute(spark,
        s"OPTIMIZE $n ZORDER BY (o_custkey, o_orderkey) " +
          s"WHERE o_custkey BETWEEN 1 AND ${ck / 8}")
      val c = TxnTable.commits(t).last
      require(c.op == "compact:zscope",
        s"a scoped re-cluster is its own commit kind, got ${c.op}")
      require(c.removes.map(base).toSet == expected,
        s"rewrite set must be exactly the box-intersecting files: " +
          s"${c.removes.size} vs ${expected.size}")
      require((before -- c.removes.toSet)
        .subsetOf(TxnTable.snapshotFiles(t).toSet),
        "every file outside the box must survive untouched")
      require(v == TxnTable.currentVersion(t))
      // tightness: the band read over the re-packed box is within one
      // bin of a freshly FULL-re-clustered twin at equal content
      TxnTable.cloneShallow(spark, t, d + "/twin")
      TxnTable.compactClustered(spark, d + "/twin",
        Seq(col("o_custkey"), col("o_orderkey")), 8 + c.adds.size)
      footerFree("box pruning must stay zero-footer") {
        def band(path: String) = TxnTable.readPruned(spark, path,
          Seq(Bound.LongRange("o_custkey", 1L, ck / 8),
            Bound.LongRange("o_orderkey", 1L, 2 * kx)))
        val pt = band(t)
        val pf = band(d + "/twin")
        val (ct2, cf) = (pt.count(), pf.count())
        require(ct2 == cf && ct2 > 0,
          s"band reads must agree at equal content: $ct2 vs $cf")
        require(pt.inputFiles.length <= pf.inputFiles.length + c.adds.size,
          s"scoped prune (${pt.inputFiles.length} files) must be within " +
            s"one bin of the full twin's (${pf.inputFiles.length} + " +
            s"${c.adds.size})")
        require(pt.inputFiles.length < TxnTable.snapshotFiles(t).size,
          "the band must prune a strict subset")
      }
      // an empty box no-ops at the unchanged head
      require(GraftSql.execute(spark,
        s"OPTIMIZE $n ZORDER BY (o_custkey, o_orderkey) " +
          "WHERE o_custkey BETWEEN -10 AND -1") == v &&
        TxnTable.currentVersion(t) == v,
        "an empty box must no-op")
      // chain coherence: the zscope outputs are clustered, the
      // OUTSIDE-box tail file is still tail — the next bare ZORDER
      // folds exactly it
      val tail = TxnTable.clusterTailInfo(t).get.tailFiles.toSet
      require(tail == outsideTail,
        s"the outside-box file must keep tail status: $tail")
      GraftSql.execute(spark, s"OPTIMIZE $n ZORDER")
      val cz = TxnTable.commits(t).last
      require(cz.op == "compact:cluster" &&
        cz.removes.toSet == outsideTail,
        "the next bare ZORDER must fold exactly the outside-box tail")
      TxnTable.read(spark, t)
        .groupBy(((col("o_orderkey") - 1) / kx).cast("long")
          .as("tranche"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_custkey")).as("cs"))
        .orderBy(col("tranche"))
    } finally GraftSql.unregister(n)
  }

  /** S64: INCREMENTAL RE-CLUSTER — the property-driven `OPTIMIZE t
    * ZORDER` folds ONLY the un-clustered tail (files added since the
    * last cluster commit, found from log metadata) into the persisted
    * layout, leaving the clustered bulk byte-for-byte untouched. At
    * 100 TB this makes "re-cluster after a week of appends" an
    * O(tail) job, not a full-table rewrite. In-run: the rewrite set
    * equals exactly the tail (every bulk file excluded AND surviving),
    * a box-pruned band read over the folded layout is within one
    * tail-bin of a FULL re-cluster twin's file count at equal rows,
    * the prune stays zero-footer, and a second bare ZORDER no-ops.
    * Oracle replays the banded aggregate over base ∪ three shifted
    * tranches. */
  def s64ZorderTail(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s64").toString
    val t = d + "/t"
    val n = freshName("orders_zt_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val kx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    // clustered birth on (custkey, orderkey); persisted width 8
    TxnTable.createClustered(spark, t, orders,
      Seq(col("o_custkey"), col("o_orderkey")), targetFiles = 8) // v0
    // a week of appends: three shifted SLICES (the un-clustered tail
    // stays well under the half-table threshold that flips to a full
    // re-cluster)
    (1 to 3).foreach { i =>
      TxnTable.append(spark, t, orders
        .filter(col("o_orderkey") <= kx / 8).select(
          (col("o_orderkey") + i * kx).as("o_orderkey"),
          col("o_custkey"),
          (col("price_c") + i).as("price_c")))
    }
    GraftSql.register(n, t)
    try {
      val bulk = TxnTable.snapshotFiles(t, 0L).toSet
      val before = TxnTable.snapshotFiles(t).toSet
      val v = GraftSql.execute(spark, s"OPTIMIZE $n ZORDER")
      val c = TxnTable.commits(t).last
      require(c.op == "compact:cluster",
        s"the tail fold is a cluster commit, got ${c.op}")
      require(c.removes.toSet == before -- bulk,
        s"the rewrite set must be exactly the tail: ${c.removes}")
      require(bulk.subsetOf(TxnTable.snapshotFiles(t).toSet),
        "every clustered bulk file must survive untouched")
      require(v == TxnTable.currentVersion(t))
      // tightness: a band over bulk+tail prunes within one tail-bin
      // of a freshly FULL-re-clustered twin at the same content
      TxnTable.cloneShallow(spark, t, d + "/twin")
      TxnTable.compactClustered(spark, d + "/twin",
        Seq(col("o_custkey"), col("o_orderkey")), 8 + c.adds.size)
      val pt = footerFree("box pruning must stay zero-footer") {
        def band(path: String) = TxnTable.readPruned(spark, path,
          Seq(Bound.LongRange("o_custkey", 1L, ck / 4),
            Bound.LongRange("o_orderkey", 1L, 4 * kx)))
        val pt = band(t)
        val pf = band(d + "/twin")
        val (ct2, cf) = (pt.count(), pf.count())
        require(ct2 == cf && ct2 > 0,
          s"band reads must agree at equal content: $ct2 vs $cf")
        require(pt.inputFiles.length <= pf.inputFiles.length + c.adds.size,
          s"tail-folded prune (${pt.inputFiles.length} files) must be " +
            s"within one tail-bin of the full twin's " +
            s"(${pf.inputFiles.length} + ${c.adds.size})")
        require(pt.inputFiles.length < TxnTable.snapshotFiles(t).size,
          "the band must prune a strict subset")
        pt
      }
      // an empty tail no-ops at the unchanged head
      require(GraftSql.execute(spark, s"OPTIMIZE $n ZORDER") == v &&
        TxnTable.currentVersion(t) == v,
        "a second bare ZORDER must no-op")
      pt.groupBy(((col("o_orderkey") - 1) / kx).cast("long")
          .as("tranche"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_custkey")).as("cs"))
        .orderBy(col("tranche"))
    } finally GraftSql.unregister(n)
  }

  /** S62b: INCREMENTAL `REFRESH MATERIALIZED VIEW` — a fold-able MV
    * (`GROUP BY g → count/sum/min/max` over ONE txn table) refreshes
    * at O(changed files), never O(table): the delta between the
    * staleness marker's recorded source version and the head comes
    * from the key-free changed-row sides (file-scoped multisets),
    * count/sum fold exactly with zero extra reads, and min/max
    * recompute ONLY the groups whose removed value sat at an extreme,
    * via log-stats-pruned reads. In-run: the refresh after a banded
    * UPDATE reports mode "incremental"; its delta scan is a strict
    * subset of live files; the extreme recompute prunes to the
    * rewritten band's files; the result row-for-row equals an
    * independent full recompute; a second refresh is a zero-commit
    * no-op. Oracle replays the final aggregate over raw orders. */
  def s62bMvIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s62b").toString
    val t = d + "/src"
    val n = freshName("orders_mvi_src_")
    val m = freshName("orders_mvi_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    // four custkey band tranches, one file each — the banded update
    // rewrites exactly one, so "O(changed files)" is observable
    TxnTable.create(spark, t, orders.filter(col("o_custkey") <= ck / 4))
    TxnTable.append(spark, t, orders.filter(
      col("o_custkey") > ck / 4 && col("o_custkey") <= ck / 2)) // v1
    TxnTable.append(spark, t, orders.filter(
      col("o_custkey") > ck / 2 && col("o_custkey") <= 3 * ck / 4)) // v2
    TxnTable.append(spark, t,
      orders.filter(col("o_custkey") > 3 * ck / 4)) // v3
    GraftSql.register(n, t)
    try {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW $m LOCATION '$d/mv' AS
           |SELECT o_custkey AS ck, count(*) AS cnt, sum(price_c) AS ps,
           |  min(price_c) AS mn, max(price_c) AS mx
           |FROM $n GROUP BY o_custkey""".stripMargin)
      // NARROW banded UPDATE: CoW rewrites the whole low tranche
      // file, but the netted delta is only the updated custkeys —
      // few enough groups that the extreme recompute takes the
      // pruned path (not the past-threshold full re-aggregation)
      GraftSql.execute(spark,
        s"UPDATE $n SET price_c = price_c + 7 " +
          s"WHERE o_custkey <= ${ck / 64}") // src v4
      val (v, stOpt) = refreshMv(spark, m)
      val st = stOpt.getOrElse(
        throw new AssertionError("refresh must record stats"))
      require(st.mode == "incremental",
        s"a fold-able MV must refresh incrementally, got ${st.mode}")
      require(st.changedFiles.nonEmpty &&
        st.changedFiles.size < st.liveFiles,
        s"the delta scan must touch a strict subset of live files, " +
          s"got ${st.changedFiles.size} of ${st.liveFiles}")
      require(st.recomputeFiles.nonEmpty &&
        st.recomputeFiles.size < st.liveFiles,
        s"the extreme recompute must prune to the band, got " +
          s"${st.recomputeFiles.size} of ${st.liveFiles}")
      // the incrementally-maintained content equals a full recompute
      val got = TxnTable.read(spark, d + "/mv")
        .collect().map(_.toSeq).toSet
      val full = TxnTable.read(spark, t)
        .groupBy(col("o_custkey").as("ck"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          min(col("price_c")).as("mn"), max(col("price_c")).as("mx"))
        .collect().map(_.toSeq).toSet
      require(got == full,
        "incremental refresh must equal the full recompute row-for-row")
      // staleness cleared; a second refresh no-ops with ZERO commits
      require(!GraftSql.query(spark, "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === m).head().getBoolean(2),
        "the incremental refresh must clear staleness")
      val mvV = TxnTable.currentVersion(d + "/mv")
      require(refreshMv(spark, m)._2.exists(_.mode == "noop") &&
        TxnTable.currentVersion(d + "/mv") == mvV,
        "an up-to-date incremental refresh must commit nothing")
      require(v == mvV, s"the refresh committed $v, head is $mvV")
      GraftSql.query(spark,
        s"SELECT ck, cnt, ps, mn, mx FROM $m ORDER BY ck")
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $m")
      catch { case _: Exception => () }
      GraftSql.unregister(n)
    }
  }

  /** S62d: INCREMENTAL count(DISTINCT) MVs — the dual-table IVM
    * construction: a per-(group, value) multiplicity AUX table rides
    * the MV (itself EXACTLY maintained by the signed-delta fold), and
    * the distinct count is its per-group row count; the other
    * aggregates fold from the MV's own rows as before. In-run, three
    * churn regimes (banded UPDATE that moves distinct values, INSERT
    * adding new + existing values, DELETE dropping values and whole
    * groups) each refresh with mode "incremental", a STRICT-SUBSET
    * delta scan, and ZERO recompute reads (pure fold — no source
    * group re-aggregation anywhere), and each equals an independent
    * full recompute row-for-row. A crash between the aux and MV
    * writes is simulated by deleting the aux table: the next refresh
    * degrades to the full path (divergence never served) and REBUILDS
    * the aux, after which churn folds incrementally again. Oracle
    * replays the churned final state. */
  def s62dMvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s62d").toString
    val t = d + "/src"
    val n = freshName("orders_mvd_src_")
    val m = freshName("orders_mvd_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey").as("ck"),
      (col("o_orderkey") % 50).as("d"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val kq = orders.agg(max(col("ck"))).head().getLong(0)
    // four custkey band tranches, one file each — banded churn
    // rewrites a strict subset, so "O(changed files)" is observable
    TxnTable.create(spark, t, orders.filter(col("ck") <= kq / 4))
    TxnTable.append(spark, t, orders.filter(
      col("ck") > kq / 4 && col("ck") <= kq / 2)) // v1
    TxnTable.append(spark, t, orders.filter(
      col("ck") > kq / 2 && col("ck") <= 3 * kq / 4)) // v2
    TxnTable.append(spark, t, orders.filter(col("ck") > 3 * kq / 4)) // v3
    GraftSql.register(n, t)
    try {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW $m LOCATION '$d/mv' AS
           |SELECT ck, count(*) AS cnt, count(DISTINCT d) AS cd,
           |  sum(price_c) AS ps
           |FROM $n GROUP BY ck""".stripMargin)
      def refreshIncr(stmt: String): Unit = {
        GraftSql.execute(spark, stmt)
        val st = refreshMv(spark, m)._2.get
        require(st.mode == "incremental",
          s"count(DISTINCT) must fold incrementally after [$stmt], " +
            s"got ${st.mode}")
        require(st.changedFiles.nonEmpty &&
          st.changedFiles.size < st.liveFiles,
          s"the delta scan must touch a strict subset of live files " +
            s"after [$stmt], got ${st.changedFiles.size} of " +
            s"${st.liveFiles}")
        require(st.recomputeFiles.isEmpty,
          s"the aux fold must read ZERO source groups after [$stmt], " +
            s"got ${st.recomputeFiles.size} recompute files")
        val got = TxnTable.read(spark, d + "/mv")
          .collect().map(_.toSeq).toSet
        val full = TxnTable.read(spark, t).groupBy(col("ck"))
          .agg(count(lit(1)).as("cnt"), countDistinct(col("d")).as("cd"),
            sum(col("price_c")).as("ps"))
          .collect().map(_.toSeq).toSet
        require(got == full,
          s"incremental must equal the full recompute after [$stmt]")
      }
      // banded UPDATE moving distinct values within one tranche
      refreshIncr(s"UPDATE $n SET d = d + 1000 WHERE ck <= ${kq / 64}")
      // INSERT adding NEW distinct values and duplicating existing
      refreshIncr(s"INSERT INTO $n SELECT o_orderkey + 10000000, ck, " +
        s"d + 2000, price_c FROM $n WHERE o_orderkey % 97 = 1")
      // banded DELETE dropping a concrete value class: the victim is
      // picked FROM the band (max d), so the delete is provably
      // non-empty at every scale factor — the fixed-modulus predicate
      // it replaces matched nothing at sf0.001 — while the rest of
      // the band stays alive for the aux-loss steps below and the ck
      // band keeps the CoW rewrite stats-pruned to a subset
      val bandRows = TxnTable.read(spark, t)
        .filter(col("ck") <= kq / 64)
      require(bandRows.select(col("d")).distinct().limit(2).count() == 2L,
        s"test data: the ck<=${kq / 64} band needs two distinct d values")
      val vict = bandRows.agg(max(col("d"))).head().getLong(0)
      refreshIncr(s"DELETE FROM $n WHERE ck <= ${kq / 64} AND d = $vict")
      // up-to-date refresh no-ops
      val mvV = TxnTable.currentVersion(d + "/mv")
      require(refreshMv(spark, m)._2.exists(_.mode == "noop") &&
        TxnTable.currentVersion(d + "/mv") == mvV,
        "an up-to-date refresh must commit nothing")
      // crash-window repair: losing the aux forces ONE full refresh
      // that rebuilds it, then the fold resumes
      val aux = new java.io.File(d + "/mv__distinct_v0")
      require(aux.isDirectory, "the aux table must ride the MV")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }
      rm(aux)
      GraftSql.execute(spark, s"UPDATE $n SET d = d + 3000 " +
        s"WHERE ck <= ${kq / 64}")
      require(refreshMv(spark, m)._2.exists(_.mode == "full"),
        "a missing aux must degrade to the full path")
      refreshIncr(s"UPDATE $n SET d = d - 3000 WHERE ck <= ${kq / 64}")
      GraftSql.query(spark, s"SELECT ck, cnt, cd, ps FROM $m ORDER BY ck")
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $m")
      catch { case _: Exception => () }
      GraftSql.unregister(n)
    }
  }

  /** S62c: INCREMENTAL refresh of a STAR-JOIN MV — `fact ⋈ dim GROUP
    * BY dim.col → count/sum` refreshes by pushing the changed side's
    * delta THROUGH the join with the other side pinned at its
    * recorded version and broadcast. In-run: a banded fact UPDATE
    * refreshes with mode "incremental", the delta scan a strict
    * subset of live fact files and ZERO recompute reads (the fold
    * reads only changed fact files + the dim); a DIM update also
    * folds (substitution is symmetric — the dim delta re-joins the
    * pinned fact); BOTH sides changed since the marker fold via the
    * telescoping join expansion (fact Δ ⋈ old dim + new fact ⋈ dim Δ)
    * with zero recompute reads; every refresh equals an independent
    * full recompute row-for-row.
    * Oracle replays the joined aggregate with both updates applied. */
  def s62cMvJoinIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s62c").toString
    val ft = d + "/fact"
    val dt = d + "/dim"
    val fn = freshName("orders_mvj_fact_")
    val dn = freshName("cust_mvj_dim_")
    val m = freshName("orders_mvj_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val cust = Lake.table(spark, dir, "customer").select(
      col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    // four fact tranches, one file each — the banded update rewrites
    // exactly one, so "only changed fact files" is observable
    TxnTable.create(spark, ft, orders.filter(col("o_custkey") <= ck / 4))
    TxnTable.append(spark, ft, orders.filter(
      col("o_custkey") > ck / 4 && col("o_custkey") <= ck / 2)) // v1
    TxnTable.append(spark, ft, orders.filter(
      col("o_custkey") > ck / 2 && col("o_custkey") <= 3 * ck / 4)) // v2
    TxnTable.append(spark, ft,
      orders.filter(col("o_custkey") > 3 * ck / 4)) // v3
    TxnTable.create(spark, dt, cust)
    GraftSql.register(fn, ft)
    GraftSql.register(dn, dt)
    try {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW $m LOCATION '$d/mv' AS
           |SELECT d.c_nationkey AS nk, count(*) AS cnt,
           |  sum(f.price_c) AS ps
           |FROM $fn f JOIN $dn d ON f.o_custkey = d.c_custkey
           |GROUP BY d.c_nationkey""".stripMargin)
      def parity(): Unit = {
        val got = TxnTable.read(spark, d + "/mv")
          .collect().map(_.toSeq).toSet
        val full = TxnTable.read(spark, ft).as("f")
          .join(TxnTable.read(spark, dt).as("d"),
            col("f.o_custkey") === col("d.c_custkey"))
          .groupBy(col("d.c_nationkey").as("nk"))
          .agg(count(lit(1)).as("cnt"), sum(col("f.price_c")).as("ps"))
          .collect().map(_.toSeq).toSet
        require(got == full,
          "the join MV must equal the full recompute row-for-row")
      }
      // 1) banded FACT update → the delta folds through the dim:
      //    strict-subset fact scan, ZERO recompute reads
      GraftSql.execute(spark,
        s"UPDATE $fn SET price_c = price_c + 7 " +
          s"WHERE o_custkey <= ${ck / 64}") // fact v4
      val st = refreshMv(spark, m)._2.getOrElse(
        throw new AssertionError("refresh must record stats"))
      require(st.mode == "incremental",
        s"a star-join MV must refresh incrementally, got ${st.mode}")
      require(st.changedFiles.nonEmpty &&
        st.changedFiles.size < st.liveFiles,
        s"the fact delta scan must be a strict subset: " +
          s"${st.changedFiles.size} of ${st.liveFiles}")
      require(st.recomputeFiles.isEmpty,
        "a count/sum star fold must read nothing beyond the delta")
      parity()
      // an up-to-date refresh commits nothing
      val mvV = TxnTable.currentVersion(d + "/mv")
      require(refreshMv(spark, m)._2.exists(_.mode == "noop") &&
        TxnTable.currentVersion(d + "/mv") == mvV,
        "an up-to-date join MV refresh must commit nothing")
      // 2) DIM update → the dim delta folds against the pinned fact
      GraftSql.execute(spark,
        s"UPDATE $dn SET c_nationkey = c_nationkey + 100 " +
          s"WHERE c_custkey <= ${ck / 64}")
      require(refreshMv(spark, m)._2.exists(_.mode == "incremental"),
        "a dim-side delta must fold too (substitution is symmetric)")
      parity()
      // 3) BOTH sides changed → the telescoping expansion folds each
      //    side's delta in turn (fact Δ against the OLD dim, then the
      //    dim Δ against the NEW fact) — still incremental, still
      //    exact, still zero recompute reads for a count/sum shape
      GraftSql.execute(spark,
        s"UPDATE $fn SET price_c = price_c + 1 " +
          s"WHERE o_custkey > ${3 * ck / 4}")
      GraftSql.execute(spark,
        s"UPDATE $dn SET c_nationkey = c_nationkey + 1000 " +
          s"WHERE c_custkey = $ck")
      val st3 = refreshMv(spark, m)._2.get
      require(st3.mode == "incremental",
        s"two changed relations must fold telescopically, got ${st3.mode}")
      require(st3.recomputeFiles.isEmpty,
        "the two-sided count/sum fold must read nothing beyond the deltas")
      parity()
      GraftSql.query(spark,
        s"SELECT nk, cnt, ps FROM $m ORDER BY nk")
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $m")
      catch { case _: Exception => () }
      GraftSql.unregister(fn)
      GraftSql.unregister(dn)
    }
  }

  /** S59: `REPAIR TABLE t [DRY RUN]` — FSCK after out-of-band file
    * loss (a reaped prefix, a fat-fingered rm): the dry run lists
    * EXACTLY the vanished adds with their logged extent (rows/bytes —
    * what an incident report needs) committing nothing; the repair
    * commits one auditable `repair` remove so the table serves the
    * SURVIVING rows instead of failing every scan on the first
    * missing file. In-run: pre-repair scans fail; the dry run is
    * exact and side-effect-free; the repair removes exactly the lost
    * file; DML works again afterwards. Oracle replays orders minus
    * the lost band minus the post-repair delete. */
  def s59Repair(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s59").toString
    val t = d + "/t"
    val n = freshName("orders_rp_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    // four explicit band tranches, one file each — the lost band is
    // exactly known, so the oracle can replay the loss
    TxnTable.create(spark, t, orders.filter(col("o_custkey") <= ck / 4))
    TxnTable.append(spark, t, orders.filter(
      col("o_custkey") > ck / 4 && col("o_custkey") <= ck / 2)) // v1
    TxnTable.append(spark, t, orders.filter(
      col("o_custkey") > ck / 2 && col("o_custkey") <= 3 * ck / 4)) // v2
    TxnTable.append(spark, t,
      orders.filter(col("o_custkey") > 3 * ck / 4)) // v3
    GraftSql.register(n, t)
    try {
      val lost = TxnTable.commits(t)(1).adds.head
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(t).resolve(lost.path))
      // the dry run is exact and commits NOTHING
      val dry = GraftSql.query(spark, s"REPAIR TABLE $n DRY RUN")
        .collect()
      require(dry.length == 1 && dry(0).getString(0) == lost.path &&
        dry(0).getLong(1) == lost.rows,
        s"dry run must list exactly the lost add, got " +
          dry.map(_.toString).mkString(";"))
      require(TxnTable.currentVersion(t) == 3L,
        "a dry run must not commit")
      // scans still fail on the vanished bytes before the repair
      try {
        TxnTable.read(spark, t).count()
        throw new AssertionError("the pre-repair scan must fail")
      } catch { case _: Exception => () }
      // the repair: one auditable remove, survivors serve
      val v = GraftSql.execute(spark, s"REPAIR TABLE $n")
      val c = TxnTable.commits(t).last
      require(v == 4L && c.op == "repair" && c.adds.isEmpty &&
        c.removes == Seq(lost.path),
        s"repair must remove exactly the lost add, got ${c.removes}")
      require(TxnTable.read(spark, t).count() ==
        orders.count() - lost.rows,
        "the surviving rows must serve after the repair")
      // …and the table takes DML again
      GraftSql.execute(spark,
        s"DELETE FROM $n WHERE o_orderstatus = 'F' " +
          s"AND o_custkey <= ${ck / 8}") // v5
      TxnTable.read(spark, t)
        .groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_orderkey")).as("ks"))
        .orderBy(col("st"))
    } finally GraftSql.unregister(n)
  }

  /** S58: `SHOW COLUMN STATS t` — the per-column panel from the
    * commit log alone: global min/max folded over the logged per-file
    * bounds (reported ONLY at full coverage — a single stats-less add
    * could hide the true extreme, so partial coverage answers null,
    * never a lie), exact null counts, per-column coverage fraction.
    * In-run: ZERO footer reads, zero data scanned; a post-stats
    * tranche moves the max and the panel follows. Oracle replays the
    * pinned columns' min/max/nulls with DuckDB aggregates over raw
    * orders — the log must agree with what a full scan would say. */
  def s58ColumnStats(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s58").toString
    val t = d + "/t"
    val n = freshName("orders_cs_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val kx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 8) // v0: 8 banded files, stats on every add
    // a second tranche MOVES the key max: the panel must fold both
    TxnTable.append(spark, t,
      orders.orderBy(col("o_orderkey")).limit(10)
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("price_c"))) // v1
    GraftSql.register(n, t)
    try {
      val (panel, rows) =
        footerFree("SHOW COLUMN STATS must never open a footer") {
          val panel = GraftSql.query(spark, s"SHOW COLUMN STATS $n")
          (panel, panel.collect())
        }
      require(rows.length == 4 &&
        rows.forall(_.getDouble(2) == 1.0),
        "every column of a stats-harvested table must be fully covered")
      panel.filter(col("column").isin("o_orderkey", "o_custkey",
        "o_orderstatus"))
        .select(col("column"), col("stats_coverage"),
          col("min_long"), col("max_long"),
          col("min_str"), col("max_str"), col("null_count"))
        .orderBy(col("column"))
    } finally GraftSql.unregister(n)
  }

  /** S55: PERSISTENT CATALOG — registrations and views survive
    * sessions: the registry lives in a warehouse-root TxnTable whose
    * properties map is the catalog, every CREATE/DROP one atomic
    * metadata commit. In-run: a simulated fresh session (registry
    * cleared) sees NOTHING, rebinding the catalog restores exactly
    * the persisted names (a dropped table stays dropped), and the
    * reloaded VIEW serves over the reloaded TABLE; the catalog
    * table's own properties carry the entries (commit-level audit).
    * Oracle replays the view's aggregate from orders. [[sequential]]. */
  def s55CatalogPersist(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s55").toString
    val pre = freshName("pcat_")
    val (n1, n2, v1) = (pre + "a", pre + "b", pre + "v")
    val w0 = GraftSql.getWarehouse
    GraftSql.setWarehouse(d)
    try {
      GraftSql.enableCatalog(spark)
      val orders = Lake.table(spark, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val src = freshName("s55_src_")
      orders.createOrReplaceTempView(src)
      GraftSql.execute(spark, s"CREATE TABLE $n1 AS SELECT * FROM $src")
      GraftSql.execute(spark,
        s"CREATE TABLE $n2 AS SELECT * FROM $src WHERE o_orderstatus = 'O'")
      GraftSql.execute(spark,
        s"CREATE VIEW $v1 AS SELECT o_orderstatus AS st, " +
          s"count(*) AS cnt, sum(price_c) AS ps FROM $n1 " +
          "GROUP BY o_orderstatus")
      GraftSql.execute(spark, s"DROP TABLE $n2") // the drop persists too
      // a FRESH SESSION starts with an empty registry…
      GraftSql.resetSession()
      require(GraftSql.query(spark, "SHOW TABLES")
        .filter(col("name").startsWith(pre)).count() == 0,
        "the cleared session must see nothing")
      // …and rebinding the catalog restores the durable state
      GraftSql.enableCatalog(spark)
      val shown = GraftSql.query(spark, "SHOW TABLES")
        .filter(col("name").startsWith(pre))
        .collect().map(_.getString(0)).toSet
      require(shown == Set(n1.toLowerCase),
        s"reload must restore $n1 and keep $n2 dropped, got $shown")
      require(GraftSql.query(spark, "SHOW VIEWS")
        .filter(col("name").startsWith(pre))
        .collect().map(_.getString(0)).toSet == Set(v1.toLowerCase),
        "the view must survive the session boundary")
      // the entries are COMMITS on the catalog table, not session state
      val catProps = TxnTable.properties(d + "/_graft_catalog")
      require(catProps.contains(s"table:${n1.toLowerCase}") &&
        catProps.contains(s"view:${v1.toLowerCase}") &&
        !catProps.contains(s"table:${n2.toLowerCase}"),
        s"catalog properties must carry exactly the live entries")
      require(GraftSql.query(spark,
        s"SELECT count(*) AS c FROM $n1").head().getLong(0)
        == orders.count(), "the reloaded table must serve its rows")
      // the reloaded VIEW serves over the reloaded TABLE
      GraftSql.query(spark,
        s"SELECT st, cnt, ps FROM $v1 ORDER BY st")
    } finally {
      GraftSql.disableCatalog()
      GraftSql.unregister(n1); GraftSql.unregister(n2)
      GraftSql.unregisterView(v1)
      w0 match {
        case Some(w) => GraftSql.setWarehouse(w)
        case None => GraftSql.setWarehouse(null)
      }
    }
  }

  /** S53: `ALTER TABLE t ALTER COLUMN c TYPE BIGINT` — type WIDENING
    * as a metadata-only commit: the schema evolution a growing table
    * always hits (a key outgrows int32) that would otherwise force a
    * full CTAS rewrite at 100 TB. In-run: the commit moves ZERO files;
    * time travel shows each snapshot's own type (v0 int, head long);
    * a post-widen tranche carries values beyond int32 and round-trips;
    * pruned reads and metadata COUNTs over the MIXED-generation
    * snapshot stay zero-footer (old adds' int32 bounds already live in
    * the widened long space); narrowing refused loudly. Oracle replays
    * base ∪ shifted-wide tranche bucketed by generation. */
  def s53WidenType(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val d = java.nio.file.Files.createTempDirectory("graft_s53").toString
    val t = d + "/t"
    val n = freshName("orders_wd_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey").cast("int").as("ck"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("ck")).cast("long"),
      max(col("o_orderkey"))).head()
    val (ckMax, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.createClustered(spark, t, orders, Seq(col("ck")),
      targetFiles = 8) // v0: ck is int32, 8 banded files
    GraftSql.register(n, t)
    try {
      GraftSql.execute(spark,
        s"ALTER TABLE $n ALTER COLUMN ck TYPE BIGINT") // v1
      val c = TxnTable.commits(t).last
      require(c.op == "alter:widen:ck:bigint" &&
        c.adds.isEmpty && c.removes.isEmpty,
        s"widening must be a metadata-only commit, got ${c.op} with " +
          s"${c.adds.size} adds / ${c.removes.size} removes")
      // each snapshot binds its OWN type: v0 narrow, head wide
      require(TxnTable.read(spark, t, 0L).schema("ck").dataType
        == IntegerType, "time travel must keep the pre-widen int32")
      require(TxnTable.read(spark, t).schema("ck").dataType == LongType,
        "the head must bind the widened long")
      // a post-widen tranche with values NO int32 can hold
      TxnTable.append(spark, t,
        orders.filter(col("ck") <= ckMax / 8).select(
          (col("o_orderkey") + kx).as("o_orderkey"),
          (col("ck").cast("long") + 5000000000L).as("ck"),
          col("price_c"))) // v2
      // narrowing refused loudly — and nothing committed
      val top = TxnTable.currentVersion(t)
      try {
        GraftSql.execute(spark, s"ALTER TABLE $n ALTER COLUMN ck TYPE INT")
        throw new AssertionError("narrowing must be refused")
      } catch { case e: IllegalArgumentException =>
        require(e.getMessage.contains("widening"), e.getMessage) }
      require(TxnTable.currentVersion(t) == top,
        "a refused ALTER must commit nothing")
      // the mixed-generation snapshot plans pruning and COUNT from the
      // LOG: old int32 bounds translate into the widened space with
      // zero footer reads
      footerFree("no footer may be opened: bounds come from the commit log") {
        val pruned = TxnTable.readPruned(spark, t,
          Seq(Bound.LongRange("ck", 0L, ckMax / 2)))
        val expectPruned = TxnTable.read(spark, t)
          .filter(col("ck").between(0L, ckMax / 2)).count()
        require(pruned.count() == expectPruned,
          "pruned read must be exact over mixed generations")
        require(pruned.inputFiles.length < 9,
          "pruning must keep a strict file subset across generations")
        val (cnt, scanned, total) =
          TxnTable.countRange(spark, t, "ck", 0L, 10000000000L)
        require(scanned == 0 && total == 9,
          s"widened-space COUNT must plan zero-scan, got ($scanned,$total)")
        require(cnt == TxnTable.read(spark, t).count(),
          "metadata COUNT must be exact")
      }
      // result: both generations bucketed — the int32 ceiling splits them
      TxnTable.read(spark, t)
        .groupBy(when(col("ck") > 2147483647L, "wide").otherwise("base")
          .as("gen"))
        .agg(count(lit(1)).as("cnt"), sum(col("ck")).as("cks"),
          sum(col("o_orderkey")).as("ks"), sum(col("price_c")).as("ps"))
        .orderBy(col("gen"))
    } finally GraftSql.unregister(n)
  }

  /** S51: `CREATE TABLE c SHALLOW CLONE t [VERSION AS OF n]` — the
    * zero-copy writable fork as a statement. In-run: the clone
    * directory holds ZERO local parquet (its v0 references the source
    * snapshot's files by absolute path — no data movement at any
    * size), statement ≡ `cloneShallow` bit-exact on a twin, the clone
    * stays pinned at its snapshot while the source moves on, writes
    * to the clone never touch the source, and a RETAIN-0 source
    * vacuum leaves the pinned clone fully readable (the registry pin
    * contract). Oracle replays the cloned v0 content plus the clone's
    * own local append. */
  def s51SqlClone(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s51").toString
    val n = freshName("orders_cl_src_")
    val c = freshName("orders_cl_dst_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.create(spark, d + "/src", orders, partitions = 4) // v0
    GraftSql.register(n, d + "/src")
    try {
      GraftSql.execute(spark,
        s"UPDATE $n SET price_c = price_c * 2 " +
          s"WHERE o_custkey <= ${ck / 4}") // v1: the clone must NOT see it
      GraftSql.execute(spark,
        s"CREATE TABLE $c SHALLOW CLONE $n VERSION AS OF 0 " +
          s"LOCATION '$d/clone'")
      val twin = TxnTable.cloneShallow(spark, d + "/src", d + "/twin", 0L)
      require(twin == 0L, "sanity: clone commits v0")
      // zero copy: no local parquet under the clone
      def localParquet(p: String): Long = {
        val dd = java.nio.file.Paths.get(p).resolve("data")
        if (!java.nio.file.Files.isDirectory(dd)) 0L
        else {
          val it = java.nio.file.Files.list(dd)
          try {
            var n = 0L
            it.iterator().forEachRemaining(p =>
              if (p.getFileName.toString.endsWith(".parquet")) n += 1)
            n
          } finally it.close()
        }
      }
      require(localParquet(d + "/clone") == 0L,
        "a shallow clone must copy zero data files")
      val (cl, tw) = (TxnTable.read(spark, d + "/clone"),
        TxnTable.read(spark, d + "/twin"))
      require(cl.exceptAll(tw).isEmpty && tw.exceptAll(cl).isEmpty,
        "statement and API clones must agree bit-exactly")
      // the clone is WRITABLE and independent: its append never
      // touches the source
      val srcV = TxnTable.currentVersion(d + "/src")
      GraftSql.query(spark, s"SELECT * FROM $c").count() // resolvable
      TxnTable.append(spark, d + "/clone",
        orders.filter(col("o_custkey") <= ck / 16)
          .select((col("o_orderkey") + kx).as("o_orderkey"),
            col("o_custkey"), col("o_orderstatus"), col("price_c")))
      require(TxnTable.currentVersion(d + "/src") == srcV,
        "a clone write must never move the source")
      // a RETAIN-0 source vacuum honors the clone's pin: the pinned
      // v0 files survive and the clone still reads
      GraftSql.execute(spark, s"VACUUM $n RETAIN 0 HOURS")
      val after = TxnTable.read(spark, d + "/clone")
      require(after.count() == cl.count() +
        orders.filter(col("o_custkey") <= ck / 16).count(),
        "a source vacuum must never reap a registered clone's files")
      after.groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_orderkey")).as("ks"))
        .orderBy(col("st"))
    } finally { GraftSql.unregister(n); GraftSql.unregister(c) }
  }

  /** S50: timestamp-addressed RESTORE + VACUUM DRY RUN. `VACUUM …
    * [RETAIN n HOURS] DRY RUN` reports the reclaimable files WITH
    * their logged sizes as rows from pure log metadata — nothing
    * deleted (every listed file still exists afterwards, asserted
    * in-run, and the listing equals the rewrite commit's removes);
    * `RESTORE TABLE t TO TIMESTAMP AS OF '<ts>'` rolls back by wall
    * clock through the same versionAt clock as every ts-addressed
    * read. Oracle replays the restored (pre-update) content. */
  def s50RestoreTsVacuumDry(spark: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_s50")
      .toString + "/orders_txn"
    val n = freshName("orders_rts_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    TxnTable.create(spark, t, orders, partitions = 4) // v0
    GraftSql.register(n, t)
    try {
      Thread.sleep(30)
      GraftSql.execute(spark,
        s"UPDATE $n SET price_c = price_c * 2 " +
          s"WHERE o_custkey <= ${ck / 4}") // v1 rewrites a file subset
      val removed = TxnTable.commits(t).last.removes.toSet
      // DRY RUN: rows == exactly the rewritten-away v0 files, logged
      // sizes attached, and NOTHING deleted
      val dry = GraftSql.query(spark,
        s"VACUUM $n RETAIN 0 HOURS DRY RUN")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      require(dry.map(_._1).toSet == removed && dry.forall(_._2 > 0),
        s"dry run must list the dead files with sizes: " +
          s"${dry.map(_._1).toSet} vs $removed")
      require(removed.forall(f => java.nio.file.Files.exists(
        java.nio.file.Paths.get(t).resolve(f))),
        "a DRY RUN must delete nothing")
      require(TxnTable.currentVersion(t) == 1L,
        "a DRY RUN must commit nothing")
      // rows-out statements belong to query(), pinned
      val redirected = try {
        GraftSql.execute(spark, s"VACUUM $n DRY RUN"); false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("query()") }
      require(redirected, "execute must redirect DRY RUN to query()")
      // RESTORE by wall clock: back to the pre-update instant
      val ts0 = TxnTable.history(spark, t)
        .filter(col("version") === 0).select(col("ts_millis"))
        .head().getLong(0)
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ts0))
      val rv = GraftSql.execute(spark,
        s"RESTORE TABLE $n TO TIMESTAMP AS OF '$fmt'") // v2 = v0 content
      require(rv == 2L, s"restore must commit at v2, got $rv")
      val (a, b) = (TxnTable.read(spark, t), TxnTable.read(spark, t, 0L))
      require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "ts-addressed RESTORE must reproduce the v0 snapshot")
      a.groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_orderkey")).as("ks"))
        .orderBy(col("st"))
    } finally GraftSql.unregister(n)
  }

  /** S48: the catalog surface — SHOW TABLES / SHOW VIEWS / DESCRIBE
    * DETAIL. DESCRIBE DETAIL is computed ENTIRELY from the commit log
    * (zero data/footer I/O — asserted via the footer-read counter),
    * the property that makes it free on a 100 TB table. The gate
    * registers two tables + one view, filters SHOW output to its own
    * names (the registry is engine-global), and returns the
    * deterministic DETAIL fields; oracle = literals + the orders
    * count. */
  def s48SqlCatalog(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s48").toString
    val pre = freshName("cat_")
    val (n1, n2, v1) = (pre + "a", pre + "b", pre + "view")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    TxnTable.create(spark, d + "/a", orders, partitions = 4) // v0
    TxnTable.create(spark, d + "/b", orders.limit(0))        // v0 empty
    GraftSql.register(n1, d + "/a"); GraftSql.register(n2, d + "/b")
    try {
      GraftSql.execute(spark,
        s"ALTER TABLE $n1 ADD CONSTRAINT pc_pos CHECK (price_c >= 0)") // v1
      GraftSql.execute(spark,
        s"CREATE VIEW $v1 AS SELECT count(*) AS c FROM $n1")
      val shownT = GraftSql.query(spark, "SHOW TABLES")
        .filter(col("name").startsWith(pre)).count()
      val shownV = GraftSql.query(spark, "SHOW VIEWS")
        .filter(col("name").startsWith(pre)).count()
      // a CLUSTERED table for the layout-spec panel (created BEFORE
      // the zero-footer window: its write-time stats harvest opens
      // footers; DESCRIBE DETAIL itself must not)
      val n3 = pre + "c"
      TxnTable.createClustered(spark, d + "/c", orders,
        Seq(col("o_custkey")), targetFiles = 4)
      GraftSql.register(n3, d + "/c")
      // DESCRIBE DETAIL answers from the log alone: zero footer reads
      val (det, detC) =
        footerFree("DESCRIBE DETAIL must never open a footer") {
          val det = GraftSql.query(spark, s"DESCRIBE DETAIL $n1")
            .select(col("version"), col("earliest_version"),
              col("num_files"), col("total_rows"), col("num_dv_files"),
              col("num_constraints")).head()
          // layout spec + stats coverage — the operator's "is pruning
          // zero-footer here?" panel, still entirely log metadata
          val detC = GraftSql.query(spark, s"DESCRIBE DETAIL $n3")
            .select(col("cluster_by"), col("target_files"),
              col("stats_coverage")).head()
          GraftSql.unregister(n3)
          // the UNclustered table reports no layout (null columns)
          val detP = GraftSql.query(spark, s"DESCRIBE DETAIL $n1")
            .select(col("cluster_by"), col("target_files")).head()
          require(detP.isNullAt(0) && detP.isNullAt(1),
            "a plain create must report no layout spec")
          (det, detC)
        }
      import spark.implicits._
      Seq((shownT, shownV, det.getLong(0), det.getLong(1),
        det.getLong(2), det.getLong(3), det.getLong(4), det.getLong(5),
        detC.getString(0), detC.getLong(1), detC.getDouble(2)))
        .toDF("tables_cnt", "views_cnt", "version", "earliest_version",
          "num_files", "total_rows", "num_dv_files", "num_constraints",
          "cluster_by", "target_files", "stats_coverage")
    } finally {
      GraftSql.unregister(n1); GraftSql.unregister(n2)
      GraftSql.unregisterView(v1)
    }
  }

  /** S49: predicate-SCOPED OPTIMIZE — `OPTIMIZE t WHERE col BETWEEN
    * lo AND hi` folds only the eligible files whose LOGGED [min, max]
    * intersects the range (the "re-pack the hot partition's tail"
    * maintenance shape): the gate builds a clustered table, appends a
    * small-file tail into ONE band, runs the scoped statement, and
    * asserts in-run that (a) statement ≡ `binPackWhere` (twin tables,
    * bit-exact), (b) files outside the band survive untouched, (c) the
    * fold is decided with zero footer reads. Oracle replays the final
    * content (OPTIMIZE never changes logical content). */
  def s49OptimizeWhere(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s49").toString
    val n = freshName("orders_ow_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    def build(p: String): Unit = {
      TxnTable.createClustered(spark, p, orders, Seq(col("o_custkey")),
        targetFiles = 8) // v0: 8 band files
      // a 6-file small tail, all INSIDE the low band
      (0 until 6).foreach { i =>
        TxnTable.append(spark, p, orders
          .filter(col("o_custkey") <= ck / 8)
          .orderBy(col("o_orderkey")).limit(50) // deterministic tranche
          .select(col("o_orderkey") + lit(1000000L * (i + 1)),
            col("o_custkey"), col("o_orderstatus"), col("price_c"))
          .toDF("o_orderkey", "o_custkey", "o_orderstatus", "price_c"))
      }
    }
    build(d + "/t"); build(d + "/twin")
    GraftSql.register(n, d + "/t")
    try {
      val before = TxnTable.snapshotFiles(d + "/t")
      val ((after, c, fresh), window) = OpMetrics.scope {
        val vS = GraftSql.execute(spark,
          s"OPTIMIZE $n WHERE o_custkey BETWEEN 0 AND ${ck / 8}")
        val vA = TxnTable.binPackWhere(spark, d + "/twin", "o_custkey",
          0L, ck / 8)
        require(vS == 7L && vA == 7L,
          s"scoped OPTIMIZE must equal binPackWhere (v$vS vs v$vA)")
        val after = TxnTable.snapshotFiles(d + "/t")
        val c = TxnTable.commits(d + "/t").last
        (after, c, c.adds.size + TxnTable.commits(d + "/twin").last.adds.size)
      }
      // the SCOPE is decided from log stats alone: the only footer
      // reads in the window are the write-time harvest of the FRESH
      // bin files (one per add, both twins) — zero existing-file reads
      val reads = window.count(FooterReads)
      require(reads <= fresh,
        s"scoping must read zero existing footers: $reads vs $fresh fresh")
      require(c.op == "compact" && c.removes.size >= 6 &&
        c.removes.size < before.size,
        s"only the band's files fold: removed ${c.removes.size} " +
          s"of ${before.size}")
      // out-of-band files never move
      val highBand = before.toSet -- c.removes.toSet
      require(highBand.subsetOf(after.toSet),
        "files outside the WHERE band must survive untouched")
      val (a, b) = (TxnTable.read(spark, d + "/t"),
        TxnTable.read(spark, d + "/twin"))
      require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "statement and API twins must agree bit-exactly")
      a.groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_orderkey") % 1000000L).as("ks"))
        .orderBy(col("st"))
    } finally GraftSql.unregister(n)
  }

  /** S46: CREATE VIEW over registered txn tables — a named derived
    * query. Pins the three contract halves in-run: (1) a view body
    * with `VERSION AS OF 0` stays snapshot-PINNED while the table
    * moves; (2) a view over the plain name TRACKS the table head
    * (same statement text, different answers across a commit); (3) a
    * view-of-view composes by re-substitution. DROP VIEW removes the
    * name. Oracle replays the final view-of-view over the pinned v0
    * relationally. */
  def s46SqlView(spark: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_s46")
      .toString + "/orders_txn"
    val n = freshName("orders_v_")
    val v1 = freshName("band_view_")
    val v2 = freshName("band_agg_view_")
    val vh = freshName("head_view_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    TxnTable.create(spark, t, orders) // v0
    GraftSql.register(n, t)
    try {
      // a PINNED view (time travel in the body) and a HEAD view
      GraftSql.execute(spark,
        s"""CREATE VIEW $v1 AS SELECT o_orderkey, o_custkey,
           |o_orderstatus, price_c FROM $n VERSION AS OF 0
           |WHERE o_custkey <= ${ck / 4}""".stripMargin)
      GraftSql.execute(spark,
        s"CREATE VIEW $vh AS SELECT sum(price_c) AS ps FROM $n")
      val headBefore = GraftSql.query(spark, s"SELECT ps FROM $vh")
        .head().getLong(0)
      // the table moves: doubled prices in the low band
      GraftSql.execute(spark,
        s"UPDATE $n SET price_c = price_c * 2 " +
          s"WHERE o_custkey <= ${ck / 4}") // v1
      val headAfter = GraftSql.query(spark, s"SELECT ps FROM $vh")
        .head().getLong(0)
      require(headAfter > headBefore,
        "a view over the plain name must track the table head")
      // the pinned view still answers at v0 (undoubled prices)
      val pinned = GraftSql.query(spark,
        s"SELECT sum(price_c) AS ps FROM $v1").head().getLong(0)
      val v0Band = TxnTable.read(spark, t, 0L)
        .filter(col("o_custkey") <= ck / 4)
        .agg(sum(col("price_c"))).head().getLong(0)
      require(pinned == v0Band,
        s"a VERSION AS OF body must stay pinned: $pinned vs $v0Band")
      // view-of-view composes; DROP VIEW removes the name
      GraftSql.execute(spark,
        s"""CREATE VIEW $v2 AS SELECT o_orderstatus AS st,
           |count(*) AS cnt, sum(price_c) AS ps, sum(o_orderkey) AS ks
           |FROM $v1 GROUP BY o_orderstatus""".stripMargin)
      val out = GraftSql.query(spark,
        s"SELECT st, cnt, ps, ks FROM $v2 ORDER BY st")
      GraftSql.execute(spark, s"DROP VIEW $vh")
      val gone = try {
        GraftSql.query(spark, s"SELECT ps FROM $vh").collect(); false
      } catch { case _: Exception => true }
      require(gone, "a dropped view must stop resolving")
      out
    } finally {
      GraftSql.unregister(n)
      Seq(v1, v2, vh).foreach(GraftSql.unregisterView)
    }
  }

  /** S40: the SQL table LIFECYCLE — plain CREATE TABLE (column list →
    * empty v0 with the recorded schema), INSERT into it, CTAS from a
    * time-traveled registered table with a CLUSTER BY layout (range-
    * clustered files whose log stats prune from the first read,
    * asserted in-run zero-footer strict-subset), and CREATE OR REPLACE
    * swapping content AND schema atomically (pre-replace snapshot
    * keeps its shape, asserted in-run). Every table is then read
    * through the same SQL surface; the oracle replays the statements
    * relationally. */
  def s40SqlCreate(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s40").toString
    val n1 = freshName("orders_src_")
    val n2 = freshName("orders_o_")
    val n3 = freshName("orders_band_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.create(spark, d + "/src", orders) // v0
    GraftSql.register(n1, d + "/src")
    try {
      // grow n1 so the CTAS's VERSION AS OF 0 is a real time travel
      val insView = freshName("s40_ins_")
      orders.filter(col("o_custkey") <= ck / 6)
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("price_c"))
        .createOrReplaceTempView(insView)
      GraftSql.execute(spark, s"INSERT INTO $n1 SELECT * FROM $insView")
      // plain CREATE: empty v0 with the declared schema
      GraftSql.execute(spark,
        s"""CREATE TABLE $n2 (o_orderkey BIGINT, o_custkey BIGINT,
           |o_orderstatus STRING, price_c BIGINT) USING graft
           |LOCATION '$d/t2'""".stripMargin)
      require(TxnTable.currentVersion(d + "/t2") == 0L &&
        GraftSql.query(spark, s"SELECT count(*) AS c FROM $n2")
          .head().getLong(0) == 0L,
        "CREATE TABLE must land an empty v0")
      GraftSql.execute(spark,
        s"INSERT INTO $n2 SELECT * FROM $n1 WHERE o_orderstatus = 'O'")
      // CTAS from the PRE-insert snapshot, range-clustered on custkey
      GraftSql.execute(spark,
        s"""CREATE TABLE $n3 USING graft CLUSTER BY (o_custkey)
           |LOCATION '$d/t3' TBLPROPERTIES ('graft.targetFiles' = '8')
           |AS SELECT o_orderkey, o_custkey, price_c
           |FROM $n1 VERSION AS OF 0
           |WHERE o_custkey <= ${ck / 2}""".stripMargin)
      // the clustered layout prunes from the log alone, first read
      val (strict, first) = OpMetrics.scope {
        val pruned = TxnTable.readPruned(spark, d + "/t3",
          Seq(Bound.LongRange("o_custkey", 0L, ck / 8)))
        val prunedFiles = pruned.inputFiles.length
        prunedFiles > 0 &&
          prunedFiles < TxnTable.snapshotFiles(d + "/t3").size
      }
      require(strict && first.count(FooterReads) == 0,
        "CTAS CLUSTER BY layout must prune zero-footer from first read")
      // CREATE OR REPLACE: content AND schema swap atomically
      GraftSql.execute(spark,
        s"""CREATE OR REPLACE TABLE $n2 USING graft LOCATION '$d/t2'
           |AS SELECT o_orderstatus AS st, count(*) AS cnt,
           |  sum(price_c) AS ps FROM $n2 GROUP BY o_orderstatus
           |""".stripMargin)
      require(TxnTable.read(spark, d + "/t2", 1L).columns
        .contains("o_orderkey"),
        "the pre-replace snapshot must keep its shape")
      val agg3 = GraftSql.query(spark,
        s"SELECT count(*) AS c3, sum(price_c) AS s3 FROM $n3").head()
      GraftSql.query(spark, s"SELECT st, cnt, ps FROM $n2 ORDER BY st")
        .withColumn("c3", lit(agg3.getLong(0)))
        .withColumn("s3", lit(agg3.getLong(1)))
    } finally {
      GraftSql.unregister(n1); GraftSql.unregister(n2)
      GraftSql.unregister(n3)
    }
  }

  /** S43: table ADOPTION + rollback + constraint DDL as statements —
    * `CONVERT TO GRAFT '<dir>' AS n` turns an existing plain-parquet
    * directory into a TxnTable IN PLACE (zero data movement asserted:
    * every original file survives at its path; footer stats harvested
    * into the log so the first pruned read plans zero-footer, asserted
    * strict-subset), `ALTER TABLE … ADD CONSTRAINT … CHECK` enforces
    * on the very next statement (violating UPDATE intercepted in-run),
    * and `RESTORE TABLE … TO VERSION AS OF 0` rolls the content back
    * to the adopted snapshot. Oracle = the raw orders aggregate (the
    * restore returns exactly the converted content) + the
    * deterministic version constants. */
  def s43SqlConvertRestore(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s43")
      .toString + "/plain"
    val n = freshName("orders_conv_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    // a SORTED plain-parquet layout (what a well-maintained
    // pre-lakehouse pipeline leaves behind): tight per-file ranges
    orders.repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"))
      .write.parquet(d)
    val beforeFiles = {
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      val b = Seq.newBuilder[String]
      try it.iterator().forEachRemaining(p => { b += p.toString; () })
      finally it.close()
      b.result().filter(_.endsWith(".parquet"))
    }
    GraftSql.execute(spark, s"CONVERT TO GRAFT '$d' AS $n") // v0
    try {
      // in place: zero data movement, adds carry rows + stats
      require(beforeFiles.nonEmpty && beforeFiles.forall(f =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(f))),
        "convert must not move a single file")
      val c0 = TxnTable.commits(d).head
      require(c0.op == "convert" && c0.adds.size == beforeFiles.size &&
        c0.adds.forall(a => a.rows > 0 && a.stats.nonEmpty),
        "convert must reference every file with footer-harvested stats")
      // the harvested stats plan the FIRST pruned read zero-footer
      val (kept, first) = OpMetrics.scope(
        TxnTable.readPruned(spark, d,
          Seq(Bound.LongRange("o_custkey", 0L, ck / 4)))
          .inputFiles.length)
      require(kept > 0 && kept < beforeFiles.size &&
        first.count(FooterReads) == 0,
        s"first post-convert pruned read must be zero-footer strict " +
          s"subset, kept $kept of ${beforeFiles.size}")
      // constraint DDL enforces on the very next statement
      GraftSql.execute(spark,
        s"ALTER TABLE $n ADD CONSTRAINT price_pos CHECK (price_c >= 0)") // v1
      val violated =
        try { GraftSql.execute(spark,
          s"UPDATE $n SET price_c = -1 WHERE o_custkey <= ${ck / 8}")
          false }
        catch { case NonFatal(_) => true }
      require(violated, "the CHECK must reject the violating UPDATE")
      GraftSql.execute(spark,
        s"""UPDATE $n SET price_c = price_c * 2
           |WHERE o_custkey <= ${ck / 8}""".stripMargin) // v2
      // rollback-as-commit: the adopted snapshot comes back
      GraftSql.execute(spark, s"RESTORE TABLE $n TO VERSION AS OF 0") // v3
      val restored = TxnTable.read(spark, d)
      val raw = spark.read.parquet(beforeFiles: _*)
      require(restored.exceptAll(raw).isEmpty &&
        raw.exceptAll(restored).isEmpty,
        "restore must return exactly the adopted content")
      restored.groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
          sum(col("o_orderkey")).as("key_sum"))
        .withColumn("v_restore", lit(TxnTable.currentVersion(d)))
        .orderBy(col("st"))
    } finally GraftSql.unregister(n)
  }

  /** S44: SUBQUERIES in DML predicates — `DELETE … WHERE k IN
    * (SELECT … FROM <another registered txn table>)` (the CDC/retention
    * shape: the doomed keys come from a second table) and a
    * self-referencing SCALAR subquery (`price_c > (SELECT max … DIV 2
    * FROM t)` — the subquery pins the statement-time snapshot, then
    * the delete rewrites). Oracle replays both as anti-join +
    * threshold filter. */
  def s44DmlSubquery(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s44").toString
    val n = freshName("orders_sq_")
    val nc = freshName("cust_sq_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val cust = Lake.table(spark, dir, "customer").select(
      col("c_custkey"), round(col("c_acctbal") * 100).cast("long")
        .as("bal_c"))
    TxnTable.createClustered(spark, d + "/orders", orders,
      Seq(col("o_custkey")), targetFiles = 10)
    TxnTable.create(spark, d + "/cust", cust)
    GraftSql.register(n, d + "/orders")
    GraftSql.register(nc, d + "/cust")
    try {
      GraftSql.execute(spark,
        s"""DELETE FROM $n WHERE o_custkey IN
           |(SELECT c_custkey FROM $nc WHERE bal_c < 0)""".stripMargin)
      require(TxnTable.commits(d + "/orders").last.op == "delete",
        "the IN-subquery delete must land as one delete commit")
      GraftSql.execute(spark,
        s"DELETE FROM $n WHERE price_c > " +
          s"(SELECT max(price_c) DIV 2 FROM $n)")
      GraftSql.query(spark,
        s"""SELECT o_orderstatus AS st, count(*) AS cnt,
           |sum(price_c) AS price_sum, sum(o_orderkey) AS key_sum
           |FROM $n GROUP BY 1 ORDER BY 1""".stripMargin)
    } finally { GraftSql.unregister(n); GraftSql.unregister(nc) }
  }

  /** S42: SQL MAINTENANCE verbs — `OPTIMIZE t` (policy-gated
    * compaction: fires here because the MOR delete left a >20% dead
    * fraction), `OPTIMIZE t ZORDER BY (a, b)` (z-ordered fold),
    * `VACUUM t RETAIN 0 HOURS`, and `DESCRIBE HISTORY t` — each run as
    * statement text on one table and as the direct API call on an
    * identical twin, asserting in-run that statement ≡ API: same
    * committed versions, same file counts, same vacuum kill count,
    * identical history, bit-exact content, and answers pinned
    * unchanged across the OPTIMIZEs. Oracle replays the surviving
    * content relationally with the deterministic version numbers. */
  def s42SqlMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_s42").toString
    val n = freshName("orders_opt_")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val stmt = d + "/stmt"
    val api = d + "/api"
    Seq(stmt, api).foreach { t =>
      TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
        targetFiles = 10) // v0
      TxnTable.deleteWhereMor(spark, t, col("o_orderstatus") === "F") // v1
    }
    GraftSql.register(n, stmt)
    try {
      val preAnswer = TxnTable.read(spark, stmt)
        .agg(sum(col("price_c"))).head().getLong(0)
      // an explicit OPTIMIZE ≡ binPack: ALWAYS folds eligible files
      // (here all ten are small + DV-carrying), never policy-gated
      val vS = GraftSql.execute(spark, s"OPTIMIZE $n") // v2
      val vA = TxnTable.binPack(spark, api)
      require(vS == 2L && vA == 2L &&
        TxnTable.commits(stmt).last.op == "compact" &&
        TxnTable.snapshotDvs(stmt).isEmpty &&
        TxnTable.snapshotFiles(stmt).size ==
          TxnTable.snapshotFiles(api).size,
        s"OPTIMIZE must equal binPack (got v$vS vs v$vA)")
      // nothing left to fold (one healthy file, zero DVs): the re-run
      // no-ops and returns the UNCHANGED head — the distinguishable
      // "nothing was folded" signal
      require(GraftSql.execute(spark, s"OPTIMIZE $n") == 2L &&
        TxnTable.currentVersion(stmt) == 2L,
        "OPTIMIZE on a healthy table must no-op at the unchanged head")
      // OPTIMIZE ZORDER ≡ compactClustered
      val zS = GraftSql.execute(spark,
        s"OPTIMIZE $n ZORDER BY (o_custkey, o_orderkey)") // v3
      val zA = TxnTable.compactClustered(spark, api,
        Seq(col("o_custkey"), col("o_orderkey")))
      require(zS == 3L && zA == 3L &&
        TxnTable.snapshotFiles(stmt).size ==
          TxnTable.snapshotFiles(api).size,
        "OPTIMIZE ZORDER must equal compactClustered")
      require(TxnTable.read(spark, stmt)
        .agg(sum(col("price_c"))).head().getLong(0) == preAnswer,
        "answers must be pinned unchanged across OPTIMIZE")
      // VACUUM RETAIN 0 HOURS ≡ vacuumRetainMillis(0)
      val vvS = GraftSql.execute(spark, s"VACUUM $n RETAIN 0 HOURS") // v4
      val (vvA, _) = TxnTable.vacuumRetainMillis(spark, api, 0L)
      require(vvS == 4L && vvA == 4L &&
        TxnTable.earliestVersion(stmt) == 3L &&
        TxnTable.earliestVersion(api) == 3L,
        s"VACUUM must equal vacuumRetainMillis (got v$vvS/$vvA, " +
          s"earliest ${TxnTable.earliestVersion(stmt)})")
      // DESCRIBE HISTORY ≡ history(): identical audit rows
      val hStmt = GraftSql.query(spark, s"DESCRIBE HISTORY $n")
        .select(col("version"), col("op")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val hApi = TxnTable.history(spark, stmt)
        .select(col("version"), col("op")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      require(hStmt == hApi && hStmt.map(_._1) == Seq(3L, 4L),
        s"DESCRIBE HISTORY must equal history(): $hStmt vs $hApi")
      // twins agree bit-exactly at the end
      val (a, b) = (TxnTable.read(spark, stmt), TxnTable.read(spark, api))
      require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "statement and API twins must agree bit-exactly")
      a.groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"))
        .withColumn("v_opt", lit(vS)).withColumn("v_z", lit(zS))
        .withColumn("earliest", lit(TxnTable.earliestVersion(stmt)))
        .withColumn("hist", lit(hStmt.size.toLong))
        .orderBy(col("st"))
    } finally GraftSql.unregister(n)
  }

  /** S41: MERGE's third leg — WHEN NOT MATCHED BY SOURCE (delete +
    * update, conditioned, ordered) alongside matched updates and TWO
    * ordered NOT MATCHED insert clauses: full-sync CDC as ONE
    * statement. Runs the same statement through the CoW AND the MOR
    * path and asserts the two snapshots agree bit-exactly (exceptAll
    * both ways); MOR rewrites zero pre-existing files. Oracle replays
    * all five clause outcomes relationally. */
  def s41MergeNotMatchedBySource(spark: SparkSession,
      dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_s41")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    val srcView = freshName("orders_sync_")
    orders
      .filter(col("o_custkey").between(ck / 3, ck / 3 + ck / 8))
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price_c") * 3).as("nv"))
      .unionAll(orders
        .filter(col("o_custkey").between(ck / 5, ck / 5 + ck / 16))
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), col("price_c").as("nv")))
      .createOrReplaceTempView(srcView)
    def run(mor: Boolean): String = {
      val t = base.toString + (if (mor) "/mor" else "/cow")
      val n = freshName(if (mor) "sync_mor_" else "sync_cow_")
      graft.core.TxnTable.createClustered(spark, t, orders,
        Seq(col("o_custkey")), targetFiles = 10)
      val filesBefore = TxnTable.snapshotFiles(t).toSet
      GraftSql.register(n, t, mor)
      try GraftSql.execute(spark,
        s"""MERGE INTO $n AS tg USING $srcView AS sr
           |ON tg.o_orderkey = sr.o_orderkey
           |WHEN MATCHED THEN UPDATE SET price_c = sr.nv
           |WHEN NOT MATCHED AND sr.o_custkey % 2 = 0 THEN
           |  INSERT (o_orderkey, o_custkey, o_orderstatus, price_c)
           |  VALUES (sr.o_orderkey, sr.o_custkey, 'N', sr.nv)
           |WHEN NOT MATCHED THEN
           |  INSERT (o_orderkey, o_custkey, o_orderstatus, price_c)
           |  VALUES (sr.o_orderkey, sr.o_custkey, 'M', sr.nv)
           |WHEN NOT MATCHED BY SOURCE AND tg.o_orderstatus = 'F'
           |    AND tg.o_custkey <= ${ck / 6} THEN DELETE
           |WHEN NOT MATCHED BY SOURCE AND tg.o_custkey <= ${ck / 6} THEN
           |  UPDATE SET price_c = tg.price_c + 1
           |""".stripMargin)
      finally GraftSql.unregister(n)
      val c = TxnTable.commits(t).last
      if (mor) {
        require(c.op == "dvmerge" && c.removes.isEmpty &&
          filesBefore.subsetOf(TxnTable.snapshotFiles(t).toSet),
          "MOR full-sync must rewrite zero pre-existing files")
      } else require(c.op == "merge" && c.removes.nonEmpty,
        "CoW full-sync must land as one merge commit")
      t
    }
    val cow = run(mor = false)
    val mor = run(mor = true)
    val (a, b) = (TxnTable.read(spark, cow), TxnTable.read(spark, mor))
    require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "CoW and MOR full-sync snapshots must agree bit-exactly")
    a.groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("st"))
  }

  /** S74: ALL-OR-NOTHING multi-table write groups as statement text —
    * `BEGIN GROUP; <dml>; <dml>; COMMIT GROUP`. A succeeding group
    * archives the 'F' orders (INSERT into the archive + DELETE from
    * the hot table, both commits tag-proven to one group id, intent
    * cleared); a FAILING group (its second step violates the archive's
    * CHECK constraint mid-write) rolls the already-committed first
    * step back to its pre-group version via an ordinary restore commit
    * and rethrows with the rollback summary. Final state ≡ the
    * successful group alone — the oracle replays exactly that. */
  def s74TxnGroup(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.{TxnGroup, TxnTable}
    val root = java.nio.file.Files.createTempDirectory("graft_s74")
      .toString
    val (tHot, tArch, gdir) =
      (root + "/hot", root + "/arch", root + "/groups")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    TxnTable.create(spark, tHot, orders, partitions = 4)
    TxnTable.create(spark, tArch, orders.filter(lit(false)))
    TxnTable.addConstraint(spark, tArch, "price_nonneg", "price_c >= 0")
    val (h, a) = (freshName("grp_hot_"), freshName("grp_arch_"))
    GraftSql.register(h, tHot)
    GraftSql.register(a, tArch)
    try {
      // group 1 succeeds: archive the 'F' orders all-or-nothing
      GraftSql.execute(spark,
        s"""BEGIN GROUP AT '$gdir';
           |INSERT INTO $a SELECT * FROM $h WHERE o_orderstatus = 'F';
           |DELETE FROM $h WHERE o_orderstatus = 'F';
           |COMMIT GROUP""".stripMargin)
      val (ca, ch) = (TxnTable.commits(tArch).last,
        TxnTable.commits(tHot).last)
      val TagRe = """txngroup:([0-9a-f]{32}):(\w+)""".r
      (ca.op, ch.op) match {
        case (TagRe(id1, "append"), TagRe(id2, "delete")) =>
          require(id1 == id2,
            s"both steps must carry ONE group id: ${ca.op} / ${ch.op}")
        case other => throw new IllegalArgumentException(
          s"group steps must commit tag-proven DML ops, got $other")
      }
      require(TxnGroup.listIntents(gdir).isEmpty,
        "a completed group must clear its durable intent")
      val (vHot, vArch) =
        (TxnTable.currentVersion(tHot), TxnTable.currentVersion(tArch))
      // group 2 fails mid-group: step 1 (UPDATE hot) commits, step 2
      // (INSERT a negative price into arch) violates the CHECK — the
      // group must roll hot back and leave arch untouched
      val failed = try {
        GraftSql.execute(spark,
          s"""BEGIN GROUP AT '$gdir';
             |UPDATE $h SET price_c = price_c + 7
             |  WHERE o_orderstatus = 'P';
             |INSERT INTO $a SELECT o_orderkey, o_custkey,
             |  o_orderstatus, -1 AS price_c FROM $h
             |  WHERE o_orderkey <= 5;
             |COMMIT GROUP""".stripMargin)
        false
      } catch {
        case e: TxnGroup.GroupFailedException =>
          require(e.rolledBack == Seq(tHot) && e.conflicts.isEmpty,
            s"the failing group must roll back exactly the hot table, " +
              s"got ${e.rolledBack} / ${e.conflicts}")
          true
      }
      require(failed, "the violating group must throw")
      require(TxnTable.currentVersion(tArch) == vArch &&
        TxnTable.currentVersion(tHot) == vHot + 2 &&
        TxnTable.commits(tHot).last.op.startsWith("restore:"),
        "rollback must be one restore commit over the tagged update, " +
          "with the archive untouched")
      require(TxnGroup.listIntents(gdir).isEmpty,
        "a fully rolled-back group must clear its intent")
    } finally { GraftSql.unregister(h); GraftSql.unregister(a) }
    TxnTable.read(spark, tHot).withColumn("tbl", lit("hot"))
      .unionByName(
        TxnTable.read(spark, tArch).withColumn("tbl", lit("arch")))
      .groupBy(col("tbl"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("tbl"), col("st"))
  }

  /** S75: MV-BASED QUERY REWRITE — an aggregate SELECT whose shape is
    * subsumed by a FRESH materialized view serves from the MV instead
    * of rescanning the fact table (at warehouse scale: a read of one
    * row per group instead of a full fact scan). Driven end-to-end as
    * statements: the definition's own text rewrites in EXACT mode
    * (1:1 projection), a coarser GROUP BY rewrites in ROLLUP mode
    * (counts/sums re-sum, min/max re-extreme, avg derives from
    * sum+count), a WHERE on an exposed group key becomes a residual
    * filter on the MV with ORDER BY/LIMIT re-applied above — each
    * proven to read ONLY the MV's files (inputFiles) and to equal the
    * same statement with `SET MATVIEW REWRITE OFF` row-for-row. A
    * base-table UPDATE makes the MV stale: the very next query falls
    * back to the fact table (never a stale answer), REFRESH restores
    * the rewrite. The gate's output is the REWRITTEN post-refresh
    * aggregate, hash-matched against the oracle's replay. */
  def s75MvRewrite(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val root = java.nio.file.Files.createTempDirectory("graft_s75")
      .toString
    val t = root + "/fact"
    val fact = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus").as("st"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"),
      (col("o_orderkey") % 7).as("band"))
    TxnTable.create(spark, t, fact, partitions = 4)
    val n = freshName("mvrw_fact_")
    GraftSql.register(n, t)
    val mvn = freshName("mvrw_mv_")
    val defSql = s"SELECT st, band, count(*) AS cnt, " +
      s"count(price_c) AS cntp, sum(price_c) AS sp, " +
      s"min(price_c) AS mn, max(price_c) AS mx FROM $n GROUP BY st, band"
    def served(sql: String, mode: String): DataFrame = {
      val (df, rec) = OpMetrics.scope(GraftSql.query(spark, sql))
      val rewrite = rec.get(GraftSql.MvRewrite)
      require(rewrite.contains((mvn, mode)),
        s"expected $mode rewrite via $mvn, got $rewrite for: $sql")
      val files = df.inputFiles
      require(files.nonEmpty && files.forall(_.contains("/mv/")),
        s"a rewritten query must read ONLY the MV's files, got " +
          files.filterNot(_.contains("/mv/")).take(3).mkString(", "))
      df
    }
    // the switch is session-scoped: OFF on a private session leaves
    // `spark` (and every concurrent user of it) rewriting
    lazy val rewriteOff = {
      val off = spark.newSession()
      GraftSql.execute(off, "SET MATVIEW REWRITE OFF")
      off
    }
    def direct(sql: String): DataFrame = {
      val (df, rec) = OpMetrics.scope(GraftSql.query(rewriteOff, sql))
      require(rec.get(GraftSql.MvRewrite).isEmpty,
        "SET MATVIEW REWRITE OFF must disable the rewrite")
      df
    }
    def same(a: DataFrame, b: DataFrame, ordered: Boolean): Unit = {
      val (x, y) = (a.collect().toSeq, b.collect().toSeq)
      val (xs, ys) = if (ordered) (x, y)
        else (x.sortBy(_.toString), y.sortBy(_.toString))
      require(xs == ys, s"rewritten ≠ direct: ${xs.take(2)} vs " +
        s"${ys.take(2)} (${xs.size}/${ys.size} rows)")
    }
    try {
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mvn LOCATION '$root/mv' AS $defSql")
      // exact: the definition's own text maps 1:1 onto MV rows
      same(served(defSql, "exact"), direct(defSql), ordered = false)
      // rollup: coarser groups re-aggregate, avg derives from sum+cntp
      val rollup = s"SELECT st, count(*) AS cnt, sum(price_c) AS sp, " +
        s"min(price_c) AS mn, max(price_c) AS mx, avg(price_c) AS ap " +
        s"FROM $n GROUP BY st"
      same(served(rollup, "rollup"), direct(rollup), ordered = false)
      // residual group-key filter + ORDER BY/LIMIT above the rewrite
      val topk = s"SELECT band, sum(price_c) AS sp FROM $n " +
        s"WHERE st = 'F' GROUP BY band ORDER BY sp DESC, band LIMIT 3"
      same(served(topk, "rollup"), direct(topk), ordered = true)
      // staleness: a base commit must kill the rewrite immediately —
      // the next query reads the fact table and sees the new values
      GraftSql.execute(spark,
        s"UPDATE $n SET price_c = price_c + 1 WHERE o_orderkey <= 10")
      val (live, liveRec) = OpMetrics.scope(GraftSql.query(spark, rollup))
      require(liveRec.get(GraftSql.MvRewrite).isEmpty,
        "a stale MV must never serve a rewrite")
      require(live.inputFiles.exists(_.contains("/fact/")),
        "the stale-MV fallback must read the fact table")
      GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $mvn")
      same(served(rollup, "rollup"), direct(rollup), ordered = false)
      // gate output: the REWRITTEN post-refresh aggregate
      served(s"SELECT st, count(*) AS cnt, sum(price_c) AS sp, " +
        s"min(price_c) AS mn, max(price_c) AS mx FROM $n GROUP BY st " +
        s"ORDER BY st", "rollup")
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mvn")
      catch { case _: Exception => () }
      GraftSql.unregister(n)
    }
  }

  /** S76: PER-FILE BLOOM SKIPPING — point lookups on a
    * high-cardinality column the table is NOT clustered on: the table
    * is laid out in custkey band tranches, so every file's
    * o_orderkey RANGE spans nearly the whole key space and min/max
    * pruning keeps ALL files (asserted — the shape range stats cannot
    * serve). `ANALYZE TABLE … COMPUTE BLOOM (o_orderkey)` builds one
    * filter per (file, column) sized from logged row counts; the
    * lookup then scans a strict file subset with zero footer reads,
    * the TVF twin (`point_lookup('t','col','v1,v2')`) serves the
    * identical rows, and an absent key touches (almost) nothing. A
    * banded UPDATE rewrites a file: the replacement lacks a bloom and
    * is conservatively KEPT (correct rows immediately, no staleness —
    * files are immutable so blooms never lie), and the next ANALYZE
    * tops up ONLY the uncovered files (its scope record). Output: the
    * post-churn lookup of the min and max order keys, oracle-replayed. */
  def s76BloomPointLookup(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    val root = java.nio.file.Files.createTempDirectory("graft_s76")
      .toString
    val t = root + "/fact"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey").as("ck"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val kq = orders.agg(max(col("ck"))).head().getLong(0)
    // four custkey tranches, one file each: o_orderkey is spread
    // uniformly across ALL of them
    TxnTable.create(spark, t, orders.filter(col("ck") <= kq / 4))
    TxnTable.append(spark, t, orders.filter(
      col("ck") > kq / 4 && col("ck") <= kq / 2))
    TxnTable.append(spark, t, orders.filter(
      col("ck") > kq / 2 && col("ck") <= 3 * kq / 4))
    TxnTable.append(spark, t, orders.filter(col("ck") > 3 * kq / 4))
    val n = freshName("bloom_fact_")
    GraftSql.register(n, t)
    try {
      // INTERIOR probe keys (the 25% and 50% points of the key range,
      // snapped to existing keys): every tranche's o_orderkey range
      // covers them, so range pruning provably keeps everything —
      // min/max keys would be prunable by range stats and test nothing
      val mm = orders.agg(min(col("o_orderkey")), max(col("o_orderkey")))
        .head()
      val (minK, maxK) = (mm.getLong(0), mm.getLong(1))
      def keyAtLeast(v: Long): Long = orders
        .filter(col("o_orderkey") >= v)
        .agg(min(col("o_orderkey"))).head().getLong(0)
      val probes = Seq(keyAtLeast(minK + (maxK - minK) / 4),
        keyAtLeast(minK + (maxK - minK) / 2))
      require(probes.distinct.size == 2, s"degenerate key range: $probes")
      val live0 = TxnTable.snapshotFiles(t).size
      require(live0 == 4, s"expected the 4-tranche layout, got $live0")
      // range stats CANNOT serve this shape: every file spans the keys
      require(TxnTable.readPruned(spark, t,
        Seq(Bound.LongIn("o_orderkey", probes)))
        .inputFiles.length == live0,
        "min/max pruning must keep every file on this layout — " +
          "otherwise the gate tests nothing")
      // the files each ANALYZE … COMPUTE BLOOM actually scanned
      def bloomBuild(): Option[Int] = OpMetrics.scope(GraftSql.execute(
        spark, s"ANALYZE TABLE $n COMPUTE BLOOM (o_orderkey) FPP 0.001"))
        ._2.get(TxnTable.BloomBuiltFiles).map(_.size)
      val firstBuild = bloomBuild()
      require(firstBuild.contains(4),
        s"the first build must cover all 4 files, got $firstBuild")
      // every LOOKUP below plans and probes footer-free (the aux
      // write's own stats harvest is the write-path invariant all
      // commits share, and is outside this bracket)
      footerFree("bloom lookups must plan and probe zero-footer") {
        val hit = TxnTable.readPrunedBloom(spark, t, "o_orderkey", probes)
        require(hit.inputFiles.length < live0,
          s"the bloom lookup must scan a strict file subset, got " +
            s"${hit.inputFiles.length} of $live0")
        require(hit.count() == 2L, "both probed keys must come back")
        // statement ≡ API
        val tvf = GraftSql.query(spark,
          s"SELECT * FROM point_lookup('$n', 'o_orderkey', " +
            s"'${probes.mkString(",")}') ORDER BY o_orderkey")
        require(tvf.collect().map(_.toSeq).toSeq ==
          hit.orderBy(col("o_orderkey")).collect().map(_.toSeq).toSeq,
          "the TVF must serve the identical rows")
        // an absent key prunes (nearly) everything
        val absent = TxnTable.readPrunedBloom(spark, t, "o_orderkey",
          Seq(probes.last + 999983L))
        require(absent.count() == 0L &&
          absent.inputFiles.length <= 1,
          s"an absent key must touch at most a false-positive file, " +
            s"got ${absent.inputFiles.length}")
      }
      // churn: the rewritten file lacks a bloom → conservatively kept,
      // rows stay correct IMMEDIATELY (blooms never go stale)
      GraftSql.execute(spark,
        s"UPDATE $n SET price_c = price_c + 7 WHERE ck <= ${kq / 4}")
      footerFree("the conservative-keep lookup must stay zero-footer too") {
        val post = TxnTable.readPrunedBloom(spark, t, "o_orderkey", probes)
        require(post.count() == 2L,
          "the lookup must stay correct across un-bloomed replacements")
      }
      // top-up builds ONLY the uncovered replacement files
      val topUp = bloomBuild()
      require(topUp.exists(n => n >= 1 && n < 4),
        s"the top-up must scan only the replacement files, got $topUp")
      require(bloomBuild().contains(0),
        "a fully-covered table must build nothing")
      val fin = TxnTable.readPrunedBloom(spark, t, "o_orderkey", probes)
      require(fin.inputFiles.length < TxnTable.snapshotFiles(t).size,
        "the post-top-up lookup must prune again")
      fin.select(col("o_orderkey"), col("ck"), col("price_c"))
        .orderBy(col("o_orderkey"))
    } finally GraftSql.unregister(n)
  }

  /** Gates that touch process-wide state and so run alone, after
    * every other gate (graft.Verify): s55 moves the warehouse root and
    * clears the name registry every concurrent gate resolves through. */
  val sequential: Set[String] = Set("s55_catalog_persist")

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "s74_txn_group" -> (s74TxnGroup _),
    "s75_mv_rewrite" -> (s75MvRewrite _),
    "s76_bloom_pointlookup" -> (s76BloomPointLookup _),
    "s40_sql_create" -> (s40SqlCreate _),
    "s41_merge_not_matched_by_source" -> (s41MergeNotMatchedBySource _),
    "s42_sql_maintenance" -> (s42SqlMaintenance _),
    "s43_sql_convert_restore" -> (s43SqlConvertRestore _),
    "s44_dml_subquery" -> (s44DmlSubquery _),
    "s39_table_changes" -> (s39TableChanges _),
    "s45_table_changes_ts" -> (s45TableChangesTs _),
    "s46_sql_view" -> (s46SqlView _),
    "s47_update_from" -> (s47UpdateFrom _),
    "s48_sql_catalog" -> (s48SqlCatalog _),
    "s49_optimize_where" -> (s49OptimizeWhere _),
    "s50_restore_ts_vacuum_dry" -> (s50RestoreTsVacuumDry _),
    "s51_sql_clone" -> (s51SqlClone _),
    "s52_copy_into" -> (s52CopyInto _),
    "s53_widen_type" -> (s53WidenType _),
    "s54_copy_csv" -> (s54CopyCsv _),
    "s55_catalog_persist" -> (s55CatalogPersist _),
    "s58_column_stats" -> (s58ColumnStats _),
    "s59_repair" -> (s59Repair _),
    "s62_matview" -> (s62Matview _),
    "s62b_mv_incremental" -> (s62bMvIncremental _),
    "s62d_mv_distinct" -> (s62dMvDistinct _),
    "s62c_mv_join_incremental" -> (s62cMvJoinIncremental _),
    "s64_zorder_tail" -> (s64ZorderTail _),
    "s69_zorder_where" -> (s69ZorderWhere _),
    "s65_log_cbo" -> (s65LogCbo _),
    "s68_cbo_histogram" -> (s68CboHistogram _),
    "s70_string_skew" -> (s70StringSkew _),
    "s66_nested_alter" -> (s66NestedAlter _),
    "s34_sql_update_delete" -> (s34SqlUpdateDelete _),
    "s34b_sql_merge" -> (s34bSqlMerge _),
    "s36_sql_select_tt" -> (s36SqlSelectTt _),
    "s37_alter_columns" -> (s37AlterColumns _),
    "s38_rename_column" -> (s38RenameColumn _))

  // s54's entry interpolates the pid-keyed deterministic landing dir
  // ([[s54LandDir]]) — same string whether the map is snapshotted
  // before or after the gate runs; no mutable state involved
  val oracle: Map[String, String] = Map(
    // the failing group's effects vanish entirely: final state = the
    // successful archive group alone ('F' rows moved hot → arch)
    "s74_txn_group" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |both_t AS (
        |  SELECT 'hot' AS tbl, * FROM base WHERE o_orderstatus <> 'F'
        |  UNION ALL
        |  SELECT 'arch' AS tbl, * FROM base WHERE o_orderstatus = 'F')
        |SELECT tbl, o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS price_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM both_t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the rewritten post-refresh aggregate: base prices with the +1
    // update applied to the low keys — values prove the MV the
    // rewrite served was refreshed, not stale
    "s75_mv_rewrite" ->
      """WITH f AS (SELECT o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT)
        |      + CASE WHEN o_orderkey <= 10 THEN 1 ELSE 0 END AS price_c
        |  FROM orders)
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(price_c) AS BIGINT) AS sp,
        |  CAST(min(price_c) AS BIGINT) AS mn,
        |  CAST(max(price_c) AS BIGINT) AS mx
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // the post-churn point lookup replayed: the 25%/50% interior keys
    // with the low-band +7 update applied where their custkey lands
    "s76_bloom_pointlookup" ->
      """WITH mm AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |  FROM orders),
        |p AS (
        |  SELECT min(o_orderkey) AS k FROM orders
        |    WHERE o_orderkey >= (SELECT mn + (mx - mn)//4 FROM mm)
        |  UNION
        |  SELECT min(o_orderkey) FROM orders
        |    WHERE o_orderkey >= (SELECT mn + (mx - mn)//2 FROM mm)),
        |b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck FROM orders),
        |f AS (SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS ck,
        |    CAST(round(o_totalprice * 100) AS BIGINT) +
        |      CASE WHEN o_custkey <= (SELECT ck FROM b)//4
        |           THEN 7 ELSE 0 END AS price_c
        |  FROM orders)
        |SELECT o_orderkey, ck, price_c
        |FROM f WHERE o_orderkey IN (SELECT k FROM p)
        |ORDER BY o_orderkey""".stripMargin,
    // the lifecycle replayed relationally: n1 v1 = base + low-band
    // insert; n2 = 'O' slice of v1, then replaced by its own status
    // aggregate; n3 = the v0 half-band CTAS
    "s40_sql_create" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |    CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |v1 AS (SELECT * FROM base
        |  UNION ALL
        |  SELECT o_orderkey + b.kx, o_custkey, o_orderstatus, pc
        |  FROM base, b WHERE o_custkey <= b.ck//6),
        |n2 AS (SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(pc) AS BIGINT) AS ps
        |  FROM v1 WHERE o_orderstatus = 'O' GROUP BY 1),
        |n3 AS (SELECT * FROM base, b WHERE o_custkey <= b.ck//2)
        |SELECT st, cnt, ps,
        |  (SELECT CAST(count(*) AS BIGINT) FROM n3) AS c3,
        |  (SELECT CAST(sum(pc) AS BIGINT) FROM n3) AS s3
        |FROM n2 ORDER BY st""".stripMargin,
    // both subquery deletes replayed: anti-join on the negative-balance
    // custkeys, then the half-max threshold over the survivors
    "s44_dml_subquery" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |cust AS (SELECT c_custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
        |d1 AS (SELECT * FROM base WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM cust WHERE bal < 0)),
        |d2 AS (SELECT * FROM d1
        |  WHERE pc <= (SELECT max(pc) // 2 FROM d1))
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS price_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM d2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // restore rolls back to the adopted snapshot, so the final content
    // IS raw orders; the version column is deterministic (convert 0,
    // constraint 1, update 2, restore 3)
    "s43_sql_convert_restore" ->
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(3 AS BIGINT) AS v_restore
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the F-band died via MOR delete; both OPTIMIZEs and the VACUUM
    // leave content untouched; the version/earliest/history columns
    // are deterministic from the fixed commit sequence
    "s42_sql_maintenance" ->
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_sum,
        |  CAST(2 AS BIGINT) AS v_opt, CAST(3 AS BIGINT) AS v_z,
        |  CAST(3 AS BIGINT) AS earliest, CAST(2 AS BIGINT) AS hist
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // full-sync MERGE replayed relationally: matched band → source
    // price, unmatched low-band F rows deleted, other unmatched
    // low-band rows +1, fresh keys inserted with parity-picked status
    "s41_merge_not_matched_by_source" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |    CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_custkey, pc * 3 AS nv FROM base, b
        |  WHERE o_custkey BETWEEN b.ck//3 AND b.ck//3 + b.ck//8
        |  UNION ALL
        |  SELECT o_orderkey + b.kx, o_custkey, pc FROM base, b
        |  WHERE o_custkey BETWEEN b.ck//5 AND b.ck//5 + b.ck//16),
        |merged AS (
        |  SELECT t.o_orderkey, t.o_orderstatus, s.nv AS pc
        |  FROM base t JOIN src s ON t.o_orderkey = s.o_orderkey
        |  UNION ALL
        |  SELECT t.o_orderkey, t.o_orderstatus,
        |    CASE WHEN t.o_custkey <= b.ck//6 THEN t.pc + 1 ELSE t.pc END
        |  FROM base t, b
        |  WHERE NOT EXISTS (SELECT 1 FROM src s
        |                    WHERE s.o_orderkey = t.o_orderkey)
        |    AND NOT (t.o_orderstatus = 'F' AND t.o_custkey <= b.ck//6)
        |  UNION ALL
        |  SELECT s.o_orderkey,
        |    CASE WHEN s.o_custkey % 2 = 0 THEN 'N' ELSE 'M' END, s.nv
        |  FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM base t
        |                    WHERE t.o_orderkey = s.o_orderkey))
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS price_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // UPDATE doubles the mid-band O prices, DELETE drops low-band F
    // rows — replayed as one CASE + anti-filter over raw orders
    "s34_sql_update_delete" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |u AS (
        |  SELECT o_orderkey, o_orderstatus AS st,
        |    CASE WHEN o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//8
        |           AND o_orderstatus = 'O'
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS pc
        |  FROM orders, b
        |  WHERE NOT (o_orderstatus = 'F' AND o_custkey <= b.ck//10))
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS price_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // statement-text MERGE = the s21 DataFrame MERGE, same oracle
    "s34b_sql_merge" -> SourceQueries.mergeIntoSql,
    // INSERT + DELETE replayed relationally; the VERSION AS OF reads
    // replay as the pre-insert / pre-delete row counts
    "s36_sql_select_tt" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |    CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |ins AS (SELECT o_orderkey + b.kx AS o_orderkey, o_custkey,
        |    o_orderstatus, pc FROM base, b WHERE o_custkey <= b.ck//6),
        |v1 AS (SELECT * FROM base UNION ALL SELECT * FROM ins),
        |v2 AS (SELECT * FROM v1 WHERE o_orderstatus <> 'F'),
        |agg AS (SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(pc) AS BIGINT) AS ps FROM v2 GROUP BY 1)
        |SELECT st, cnt, ps,
        |  (SELECT CAST(count(*) AS BIGINT) FROM base) AS c0,
        |  (SELECT CAST(count(*) AS BIGINT) FROM v1) AS c1
        |FROM agg ORDER BY st""".stripMargin,
    // widen + insert-with-column + drop replayed relationally: base
    // rows carry NULL note, the inserted band carries 'fresh'; the
    // dropped o_custkey never reaches the output
    "s37_alter_columns" ->
      """WITH base AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
        |    CAST(NULL AS VARCHAR) AS note FROM orders),
        |b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck FROM orders),
        |ins AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
        |    'fresh' AS note FROM orders, b WHERE o_custkey <= b.ck//5),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |SELECT coalesce(note, 'base') AS note,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS ps
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // rename + insert-band + banded update replayed relationally; the
    // zero-file-move and physical-name-in-file halves assert in-run
    "s38_rename_column" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |    CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |ins AS (SELECT o_orderkey + b.kx AS o_orderkey, o_custkey,
        |    o_orderstatus, pc FROM base, b WHERE o_custkey <= b.ck//6),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM ins),
        |upd AS (SELECT o_orderstatus AS st,
        |    CASE WHEN o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//8
        |           AND o_orderstatus = 'O'
        |      THEN pc * 2 ELSE pc END AS cents
        |  FROM u, b)
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM upd GROUP BY 1 ORDER BY 1""".stripMargin,
    // the change feed replayed relationally: updated O-band rows carry
    // their after-image price, deleted F-band rows a NULL payload
    // both landed batches (= all of orders) minus the MOR-deleted low
    // F band; idempotence/incrementality/zero-copy asserted in-run
    // the refreshed MV = the post-update aggregate (O-band prices
    // doubled); fresh→stale→fresh, pinning, and time travel asserted
    // in-run
    "s62_matview" ->
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN round(o_totalprice * 100) * 2
        |    ELSE round(o_totalprice * 100) END) AS BIGINT) AS ps,
        |  CAST(sum(o_orderkey) AS BIGINT) AS ks
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    // orders minus the lost quartile band minus the post-repair
    // delete; dry-run exactness and the auditable remove asserted
    // in-run
    // three nested-schema generations replayed relationally: base
    // (tier null → -1), the +1-bal tranche with tier = ck%5, the
    // widened tranche with +5e9 bal and tier = ck%7
    "s66_nested_alter" ->
      """WITH b AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS kx
        |           FROM orders),
        |u AS (SELECT o_orderstatus AS seg,
        |        CAST(CAST(round(o_totalprice * 100) AS INTEGER)
        |          AS BIGINT) AS bal, CAST(-1 AS BIGINT) AS tier
        |      FROM orders
        |      UNION ALL
        |      SELECT o_orderstatus,
        |        CAST(CAST(round(o_totalprice * 100) + 1 AS INTEGER)
        |          AS BIGINT), o_custkey % 5
        |      FROM orders, b WHERE o_orderkey <= b.kx // 4
        |      UNION ALL
        |      SELECT o_orderstatus,
        |        CAST(round(o_totalprice * 100) AS BIGINT) + 5000000000,
        |        o_custkey % 7
        |      FROM orders, b WHERE o_orderkey <= b.kx // 4)
        |SELECT seg, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(bal) AS BIGINT) AS bal,
        |  CAST(sum(tier) AS BIGINT) AS tier
        |FROM u GROUP BY seg ORDER BY seg""".stripMargin,
    // the statically-planned join flips are pinned in the VALUES
    // rows (in-run requires enforce them); the data row replays the
    // filtered dim⋈fact aggregate
    // the skewed join served by both plans (node names pinned in the
    // VALUES rows; the SMJ→BHJ flip itself is asserted in-run)
    "s68_cbo_histogram" ->
      """WITH b AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS kx
        |           FROM orders),
        |s AS (SELECT o_orderkey AS id,
        |    CASE WHEN o_orderkey % 100 = 0
        |         THEN CAST(o_orderkey AS BIGINT)
        |         ELSE 0 END AS k
        |  FROM orders),
        |r AS (SELECT count(*) AS n_rows,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |      AS BIGINT) AS revenue_c
        |  FROM orders f JOIN s ON f.o_orderkey = s.id, b
        |  WHERE s.k >= b.kx//2)
        |SELECT v.variant, v.join_node, r.n_rows, r.revenue_c
        |FROM (VALUES ('with_histogram','BroadcastHashJoin'),
        |             ('without','SortMergeJoin'))
        |  v(variant, join_node), r
        |ORDER BY variant""".stripMargin,
    // the join-node flips are asserted in-run; this pins the served
    // values of both filter variants, node names in the VALUES
    "s70_string_skew" ->
      """WITH s AS (SELECT o_orderkey AS id,
        |    CASE WHEN o_orderkey % 100 = 0
        |         THEN 'v' || CAST(o_orderkey AS VARCHAR)
        |         ELSE 'common' END AS k
        |  FROM orders),
        |f AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c
        |  FROM orders),
        |rv AS (SELECT 'v' || CAST(max(o_orderkey) AS VARCHAR) AS v
        |  FROM orders WHERE o_orderkey % 100 = 0),
        |r AS (SELECT count(*) AS n_rows,
        |    CAST(sum(f.price_c) AS BIGINT) AS revenue_c
        |  FROM f JOIN s ON f.o_orderkey = s.id, rv WHERE s.k = rv.v),
        |c AS (SELECT count(*) AS n_rows,
        |    CAST(sum(f.price_c) AS BIGINT) AS revenue_c
        |  FROM f JOIN s ON f.o_orderkey = s.id WHERE s.k = 'common')
        |SELECT * FROM (
        |  SELECT 'common_with_mcv' AS variant,
        |    'SortMergeJoin' AS join_node, c.n_rows, c.revenue_c FROM c
        |  UNION ALL SELECT 'rare_with_mcv', 'BroadcastHashJoin',
        |    r.n_rows, r.revenue_c FROM r
        |  UNION ALL SELECT 'rare_without', 'SortMergeJoin',
        |    r.n_rows, r.revenue_c FROM r)
        |ORDER BY variant""".stripMargin,
    "s65_log_cbo" ->
      """WITH cap AS (SELECT CAST(max(c_custkey) AS BIGINT)//50 AS v
        |             FROM customer),
        |r AS (SELECT count(*) AS n_rows,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |      AS BIGINT) AS revenue_c
        |  FROM orders JOIN customer ON o_custkey = c_custkey, cap
        |  WHERE c_custkey <= cap.v)
        |SELECT v.variant, v.join_node, r.n_rows, r.revenue_c
        |FROM (VALUES ('log_stats','BroadcastHashJoin'),
        |             ('no_stats','SortMergeJoin'))
        |  v(variant, join_node), r
        |ORDER BY variant""".stripMargin,
    // banded aggregate over base ∪ three shifted tranches — the
    // layout work (tail-only rewrite, bulk survival, prune tightness,
    // zero footers) is asserted in-run; this pins the served values
    // tranche aggregate over base ∪ low-band(+kx,+1) ∪ high-band
    // (+2kx,+2) — the layout work (exact box rewrite set, outside-box
    // survival, prune parity, chain coherence) is asserted in-run
    "s69_zorder_where" ->
      """WITH b AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS kx,
        |    CAST(max(o_custkey) AS BIGINT) AS ck FROM orders),
        |base AS (SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |al AS (SELECT * FROM base
        |  UNION ALL
        |  SELECT o_orderkey + b.kx, o_custkey, pc + 1
        |  FROM base, b WHERE o_custkey <= b.ck//8
        |  UNION ALL
        |  SELECT o_orderkey + 2 * b.kx, o_custkey, pc + 2
        |  FROM base, b WHERE o_custkey > 7 * b.ck//8)
        |SELECT (o_orderkey - 1)//b.kx AS tranche,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS ps,
        |  CAST(sum(o_custkey) AS BIGINT) AS cs
        |FROM al, b GROUP BY 1 ORDER BY tranche""".stripMargin,
    "s64_zorder_tail" ->
      """WITH b AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS kx,
        |                  CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |u AS (SELECT o_orderkey AS k, o_custkey AS c,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |      FROM orders
        |      UNION ALL
        |      SELECT o_orderkey + b.kx, o_custkey,
        |        CAST(round(o_totalprice * 100) AS BIGINT) + 1
        |      FROM orders, b WHERE o_orderkey <= b.kx // 8
        |      UNION ALL
        |      SELECT o_orderkey + 2 * b.kx, o_custkey,
        |        CAST(round(o_totalprice * 100) AS BIGINT) + 2
        |      FROM orders, b WHERE o_orderkey <= b.kx // 8
        |      UNION ALL
        |      SELECT o_orderkey + 3 * b.kx, o_custkey,
        |        CAST(round(o_totalprice * 100) AS BIGINT) + 3
        |      FROM orders, b WHERE o_orderkey <= b.kx // 8)
        |SELECT (k - 1) // b.kx AS tranche,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS ps,
        |  CAST(sum(c) AS BIGINT) AS cs
        |FROM u, b
        |WHERE c BETWEEN 1 AND b.ck // 4 AND k BETWEEN 1 AND 4 * b.kx
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the incrementally-refreshed aggregate must equal the relational
    // replay of the banded +7 update over raw orders (the in-run
    // requires pin the O(changed files) claims; this pins the values)
    "s62b_mv_incremental" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |src AS (SELECT o_custkey AS ck,
        |    CAST(round(o_totalprice * 100) AS BIGINT) +
        |      (CASE WHEN o_custkey <= (SELECT ck FROM b)//64
        |            THEN 7 ELSE 0 END) AS pc
        |  FROM orders)
        |SELECT ck, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS ps,
        |  CAST(min(pc) AS BIGINT) AS mn,
        |  CAST(max(pc) AS BIGINT) AS mx
        |FROM src GROUP BY ck ORDER BY ck""".stripMargin,
    // the count(DISTINCT) MV's churned final state replayed
    // relationally: banded d-shift (+1000; the +3000/−3000 pair
    // cancels), the %97 insert on the post-shift state, the %89
    // delete on NEW keys — the in-run requires pin the fold/aux
    // claims, this pins the values
    "s62d_mv_distinct" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |base AS (SELECT o_orderkey, o_custkey AS ck,
        |    o_orderkey % 50 AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders),
        |s1 AS (SELECT o_orderkey, ck,
        |    CASE WHEN ck <= (SELECT ck FROM b)//64
        |         THEN d + 1000 ELSE d END AS d, price_c
        |  FROM base),
        |s2 AS (SELECT * FROM s1
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, ck, d + 2000, price_c
        |  FROM s1 WHERE o_orderkey % 97 = 1),
        |v AS (SELECT max(d) AS vd FROM s2
        |  WHERE ck <= (SELECT ck FROM b)//64),
        |s3 AS (SELECT * FROM s2
        |  WHERE NOT (ck <= (SELECT ck FROM b)//64
        |             AND d = (SELECT vd FROM v)))
        |SELECT ck, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(DISTINCT d) AS BIGINT) AS cd,
        |  CAST(sum(price_c) AS BIGINT) AS ps
        |FROM s3 GROUP BY ck ORDER BY ck""".stripMargin,
    // the star-join MV replayed relationally: both the banded fact
    // update (+7 low band, +1 top band) and the dim re-labelings
    // (+100 low band, +1000 max key) applied to raw orders ⋈ customer
    "s62c_mv_join_incremental" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |f AS (SELECT o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) +
        |      (CASE WHEN o_custkey <= (SELECT ck FROM b)//64
        |            THEN 7 ELSE 0 END) +
        |      (CASE WHEN o_custkey > 3 * (SELECT ck FROM b)//4
        |            THEN 1 ELSE 0 END) AS pc
        |  FROM orders),
        |d AS (SELECT c_custkey,
        |    CAST(c_nationkey AS BIGINT) +
        |      (CASE WHEN c_custkey <= (SELECT ck FROM b)//64
        |            THEN 100 ELSE 0 END) +
        |      (CASE WHEN c_custkey = (SELECT ck FROM b)
        |            THEN 1000 ELSE 0 END) AS nk
        |  FROM customer)
        |SELECT nk, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS ps
        |FROM f JOIN d ON f.o_custkey = d.c_custkey
        |GROUP BY nk ORDER BY nk""".stripMargin,
    "s59_repair" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |u AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders, b
        |  WHERE NOT (o_custkey > b.ck//4 AND o_custkey <= b.ck//2))
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS ps,
        |  CAST(sum(o_orderkey) AS BIGINT) AS ks
        |FROM u, b
        |WHERE NOT (o_orderstatus = 'F' AND o_custkey <= b.ck//8)
        |GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    // the log-folded panel must agree with a full relational scan:
    // key bounds over base ∪ shifted tranche, status prefix bounds,
    // zero nulls; zero-footer + full coverage asserted in-run
    "s58_column_stats" ->
      """WITH b AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS kx
        |           FROM orders),
        |u AS (SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s
        |      FROM orders
        |      UNION ALL
        |      SELECT o_orderkey + b.kx, o_custkey, o_orderstatus
        |      FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 10),
        |        b)
        |SELECT * FROM (
        |  SELECT 'o_custkey' AS "column", CAST(1.0 AS DOUBLE)
        |      AS stats_coverage,
        |    CAST(min(c) AS BIGINT) AS min_long,
        |    CAST(max(c) AS BIGINT) AS max_long,
        |    CAST(NULL AS VARCHAR) AS min_str,
        |    CAST(NULL AS VARCHAR) AS max_str,
        |    CAST(0 AS BIGINT) AS null_count FROM u
        |  UNION ALL
        |  SELECT 'o_orderkey', CAST(1.0 AS DOUBLE),
        |    CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    CAST(0 AS BIGINT) FROM u
        |  UNION ALL
        |  SELECT 'o_orderstatus', CAST(1.0 AS DOUBLE),
        |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |    min(s), max(s), CAST(0 AS BIGINT) FROM u
        |) ORDER BY "column"""".stripMargin,
    // the persisted view's aggregate over the persisted table = the
    // same aggregate over raw orders (session-boundary reload, the
    // dropped-table fence, and the commit-level audit asserted in-run)
    "s55_catalog_persist" ->
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS ps
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    // the oracle reads the GATE'S OWN landing files back with DuckDB's
    // read_csv — the per-run landing drop the engine loaded
    // (idempotence/materialization/atomic-abort asserted in-run)
    "s54_copy_csv" ->
      s"""SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(price_c) AS BIGINT) AS ps,
        |  CAST(sum(o_orderkey) AS BIGINT) AS ks
        |FROM read_csv('${s54LandDir}/*/*.csv', header=true)
        |GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    // base generation = raw orders; wide generation = the low-custkey
    // band re-keyed past int32 (metadata-only widen, zero-footer
    // pruning/COUNT asserted in-run)
    "s53_widen_type" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ckm,
        |    CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |base AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS ck,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |u AS (SELECT 'base' AS gen, k, ck, pc FROM base
        |  UNION ALL
        |  SELECT 'wide', k + b.kx, ck + 5000000000, pc FROM base, b
        |  WHERE ck <= b.ckm // 8)
        |SELECT gen, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(ck) AS BIGINT) AS cks, CAST(sum(k) AS BIGINT) AS ks,
        |  CAST(sum(pc) AS BIGINT) AS ps
        |FROM u GROUP BY gen ORDER BY gen""".stripMargin,
    "s52_copy_into" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders)
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS ps,
        |  CAST(sum(o_orderkey) AS BIGINT) AS ks
        |FROM orders, b
        |WHERE NOT (o_orderstatus = 'F' AND o_custkey <= b.ck//10)
        |GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    // the clone pins v0 (the source's later doubled-price update is
    // invisible) plus its own shifted-key tranche; zero-copy,
    // statement ≡ API, write independence and the vacuum pin are
    // asserted in-run
    "s51_sql_clone" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |    CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |fin AS (
        |  SELECT o_orderstatus AS st, pc, o_orderkey AS k FROM base
        |  UNION ALL
        |  SELECT o_orderstatus, pc, o_orderkey + b.kx FROM base, b
        |  WHERE o_custkey <= b.ck//16)
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS ps, CAST(sum(k) AS BIGINT) AS ks
        |FROM fin GROUP BY st ORDER BY st""".stripMargin,
    // the restored (pre-update) content is raw orders: the dry-run
    // halves (exact dead-file listing, nothing deleted, execute
    // redirect) are asserted in-run
    "s50_restore_ts_vacuum_dry" ->
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS ps,
        |  CAST(sum(o_orderkey) AS BIGINT) AS ks
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    // SHOW counts are literals (the gate filters to its own names);
    // DESCRIBE DETAIL's deterministic fields: v1 after the constraint,
    // 4 created files, the raw orders row count, zero DVs
    "s48_sql_catalog" ->
      """SELECT CAST(2 AS BIGINT) AS tables_cnt,
        |  CAST(1 AS BIGINT) AS views_cnt,
        |  CAST(1 AS BIGINT) AS version,
        |  CAST(0 AS BIGINT) AS earliest_version,
        |  CAST(4 AS BIGINT) AS num_files,
        |  CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(0 AS BIGINT) AS num_dv_files,
        |  CAST(1 AS BIGINT) AS num_constraints,
        |  'o_custkey' AS cluster_by,
        |  CAST(4 AS BIGINT) AS target_files,
        |  CAST(1.0 AS DOUBLE) AS stats_coverage
        |FROM orders""".stripMargin,
    // OPTIMIZE changes no logical content: final state = orders plus
    // six shifted copies of the band's 50 lowest-key rows (keys reduce
    // mod 1e6 in the checksum, so each copy contributes its original
    // key)
    "s49_optimize_where" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |band AS (SELECT o_orderstatus, pc, o_orderkey FROM base, b
        |         WHERE o_custkey <= b.ck//8
        |         ORDER BY o_orderkey LIMIT 50),
        |fin AS (
        |  SELECT o_orderstatus AS st, pc, o_orderkey AS k FROM base
        |  UNION ALL
        |  SELECT o_orderstatus, pc, o_orderkey FROM band
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS i))
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS ps, CAST(sum(k) AS BIGINT) AS ks
        |FROM fin GROUP BY st ORDER BY st""".stripMargin,
    // UPDATE-FROM replayed as DuckDB would run it: matched O-status
    // rows in the low-custkey band take the source's tripled price
    "s47_update_from" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |src AS (SELECT o_orderkey, pc * 3 AS nv FROM base, b
        |        WHERE o_custkey <= b.ck//8),
        |fin AS (
        |  SELECT t.o_orderstatus AS st,
        |    CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderstatus = 'O'
        |      THEN s.nv ELSE t.pc END AS pc,
        |    t.o_orderkey AS k
        |  FROM base t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey)
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pc) AS BIGINT) AS ps, CAST(sum(k) AS BIGINT) AS ks
        |FROM fin GROUP BY st ORDER BY st""".stripMargin,
    // the view-of-view over the v0-PINNED band: original (undoubled)
    // prices grouped by status — head-tracking/pinning/drop asserted
    // in-run
    "s46_sql_view" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders)
        |SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS ps,
        |  CAST(sum(o_orderkey) AS BIGINT) AS ks
        |FROM orders, b WHERE o_custkey <= b.ck//4
        |GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    // same commits and diff as s39 — the gate's point (ts ≡ version,
    // mixed bounds, pre-horizon fence) is asserted in-run
    "s45_table_changes_ts" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |f AS (
        |  SELECT 'delete' AS op, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(NULL AS BIGINT) AS ps,
        |    CAST(sum(o_orderkey) AS BIGINT) AS ks
        |  FROM base, b
        |  WHERE o_orderstatus = 'F' AND o_custkey <= b.ck//10
        |  UNION ALL
        |  SELECT 'update', CAST(count(*) AS BIGINT),
        |    CAST(sum(pc * 2) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
        |  FROM base, b
        |  WHERE o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//8
        |    AND o_orderstatus = 'O')
        |SELECT * FROM f ORDER BY op""".stripMargin,
    "s39_table_changes" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck
        |           FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |f AS (
        |  SELECT 'delete' AS op, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(NULL AS BIGINT) AS ps,
        |    CAST(sum(o_orderkey) AS BIGINT) AS ks
        |  FROM base, b
        |  WHERE o_orderstatus = 'F' AND o_custkey <= b.ck//10
        |  UNION ALL
        |  SELECT 'update', CAST(count(*) AS BIGINT),
        |    CAST(sum(pc * 2) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
        |  FROM base, b
        |  WHERE o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//8
        |    AND o_orderstatus = 'O')
        |SELECT * FROM f ORDER BY op""".stripMargin)
}
