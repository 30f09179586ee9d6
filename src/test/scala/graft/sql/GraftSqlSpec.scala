package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.TxnTable.Bound
import graft.core.{OpMetrics, TxnTable}
import graft.crawler.SkippingIndex.FooterReads

/** SQL DML facade: Spark-parsed UPDATE / DELETE FROM / MERGE INTO
  * dispatched to TxnTable operations — statement text a user would
  * port verbatim, both copy-on-write and merge-on-read routing. */
class GraftSqlSpec extends SparkSpecBase {
  import spark.implicits._

  private def mk(mor: Boolean = false): (String, String) = {
    val t = Files.createTempDirectory("graft_sql").toString + "/t"
    val name = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"), (4L, 40L, "d"))
        .toDF("id", "v", "s"))
    GraftSql.register(name, t, mor)
    (t, name)
  }

  /** REFRESH MATERIALIZED VIEW `mv` [FULL]: the evidence it recorded. */
  private def refreshRecord(mv: String, full: Boolean = false)
      : OpMetrics.Record =
    OpMetrics.scope(GraftSql.execute(spark,
      s"REFRESH MATERIALIZED VIEW $mv" + (if (full) " FULL" else "")))._2

  /** What a REFRESH of `mv` did. */
  private def refresh(mv: String, full: Boolean = false)
      : GraftSql.MvRefreshStats =
    refreshRecord(mv, full).get(GraftSql.MvRefresh)
      .getOrElse(fail(s"REFRESH $mv recorded no MvRefreshStats"))

  /** `sql` as a frame, with the MV it was rewritten onto: (mv name,
    * mode), or None when it reads its base tables. */
  private def queryRw(sql: String)
      : (org.apache.spark.sql.DataFrame, Option[(String, String)]) = {
    val (df, rec) = OpMetrics.scope(GraftSql.query(spark, sql))
    (df, rec.get(GraftSql.MvRewrite))
  }

  private def rows(t: String): Set[(Long, Long, String)] =
    TxnTable.read(spark, t).as[(Long, Long, String)].collect().toSet

  /** The statement run DIRECTLY against its base tables — MV rewrite
    * bracketed OFF, so ≡-recompute assertions stay independent of the
    * very MV they are checking (a rewrite would compare the MV to
    * itself). */
  private def directSet(q: String): Set[Seq[Any]] = {
    GraftSql.execute(spark, "SET MATVIEW REWRITE OFF")
    try GraftSql.query(spark, q).collect().map(_.toSeq).toSet
    finally { GraftSql.execute(spark, "SET MATVIEW REWRITE ON"); () }
  }

  test("DELETE FROM with a parsed predicate (CoW and MOR)") {
    val (t, n) = mk()
    val v = GraftSql.execute(spark, s"DELETE FROM $n WHERE v > 25")
    assert(v == 1L)
    assert(TxnTable.commits(t).last.op == "delete")
    assert(rows(t) == Set((1L, 10L, "a"), (2L, 20L, "b")))

    val (t2, n2) = mk(mor = true)
    // qualified + aliased references parse and strip
    GraftSql.execute(spark,
      s"DELETE FROM $n2 AS x WHERE x.s IN ('a', 'c') AND x.id < 3")
    assert(TxnTable.commits(t2).last.op == "dvdelete",
      "mor registration must route through deletion vectors")
    assert(rows(t2) == Set((2L, 20L, "b"), (3L, 30L, "c"), (4L, 40L, "d")))
  }

  test("UPDATE with SET expressions, WHERE, and full-table update") {
    val (t, n) = mk()
    GraftSql.execute(spark,
      s"UPDATE $n SET v = v * 10, s = upper(s) WHERE id BETWEEN 2 AND 3")
    assert(TxnTable.commits(t).last.op == "update")
    assert(rows(t) == Set((1L, 10L, "a"), (2L, 200L, "B"),
      (3L, 300L, "C"), (4L, 40L, "d")))
    // no WHERE → every row; CASE WHEN exercises the full expression grammar
    GraftSql.execute(spark,
      s"UPDATE $n SET v = CASE WHEN v >= 200 THEN v + 1 ELSE v END")
    assert(rows(t).map(_._2) == Set(10L, 201L, 301L, 40L))

    val (t2, n2) = mk(mor = true)
    GraftSql.execute(spark, s"UPDATE $n2 SET v = -v WHERE id = 1")
    assert(TxnTable.commits(t2).last.op == "dvupdate")
    assert(rows(t2).contains((1L, -10L, "a")))
  }

  test("MERGE INTO: update / delete / insert clauses with aliases") {
    val (t, n) = mk()
    Seq((2L, 99L, "two"), (3L, 0L, "three"), (9L, 90L, "nine"))
      .toDF("id", "v", "s").createOrReplaceTempView("merge_src")
    val ver = GraftSql.execute(spark,
      s"""MERGE INTO $n AS tg USING merge_src AS sr ON tg.id = sr.id
         |WHEN MATCHED AND sr.v = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = sr.v + tg.v, s = sr.s
         |WHEN NOT MATCHED AND sr.v > 50 THEN
         |  INSERT (id, v, s) VALUES (sr.id, sr.v, upper(sr.s))
         |""".stripMargin)
    assert(ver == 1L && TxnTable.commits(t).last.op == "merge")
    assert(rows(t) == Set(
      (1L, 10L, "a"), // untouched
      (2L, 119L, "two"), // updated: 99 + 20
      // 3 deleted by the first matched clause
      (4L, 40L, "d"), // untouched
      (9L, 90L, "NINE"))) // inserted (v > 50 passed)
  }

  test("MERGE INTO with INSERT * and a subquery source; MOR routing") {
    val (t, n) = mk(mor = true)
    Seq((4L, 400L, "four"), (7L, 70L, "seven"))
      .toDF("id", "v", "s").createOrReplaceTempView("merge_src2")
    GraftSql.execute(spark,
      s"""MERGE INTO $n USING (SELECT id, v, s FROM merge_src2 WHERE v > 0) u
         |ON $n.id = u.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    assert(TxnTable.commits(t).last.op == "dvmerge",
      "mor registration must route MERGE through deletion vectors")
    assert(rows(t) == Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"),
      (4L, 400L, "four"), (7L, 70L, "seven")))
  }

  test("INSERT INTO appends; INSERT OVERWRITE replaces; column lists map") {
    val (t, n) = mk()
    Seq((8L, 80L, "h")).toDF("id", "v", "s")
      .createOrReplaceTempView("ins_src")
    GraftSql.execute(spark, s"INSERT INTO $n SELECT id, v, s FROM ins_src")
    assert(rows(t).contains((8L, 80L, "h")) && rows(t).size == 5)
    // explicit column list in a different order
    GraftSql.execute(spark,
      s"INSERT INTO $n (s, v, id) SELECT 'nine', 90, 9 FROM ins_src")
    assert(rows(t).contains((9L, 90L, "nine")))
    assert(TxnTable.commits(t).last.op == "append")
    // BY NAME: shuffled output order maps by name, not position
    GraftSql.execute(spark,
      s"INSERT INTO $n BY NAME SELECT 'ten' AS s, 10L AS id, 100L AS v")
    assert(rows(t).contains((10L, 100L, "ten")))
    // INSERT OVERWRITE replaces the whole logical content in one commit
    GraftSql.execute(spark,
      s"INSERT OVERWRITE $n SELECT id * 100, v, s FROM ins_src")
    assert(TxnTable.commits(t).last.op == "overwrite")
    assert(rows(t) == Set((800L, 80L, "h")))
    // history stays readable: the pre-overwrite snapshot is intact
    assert(TxnTable.read(spark, t,
      TxnTable.currentVersion(t) - 1).count() == 7)
  }

  test("query(): SELECT over registered tables with VERSION AS OF") {
    val (t, n) = mk() // v0: 4 rows
    GraftSql.execute(spark, s"DELETE FROM $n WHERE id >= 3") // v1
    Seq((7L, 70L, "g")).toDF("id", "v", "s")
      .createOrReplaceTempView("q_src")
    GraftSql.execute(spark, s"INSERT INTO $n SELECT * FROM q_src") // v2
    // head query: full expression surface over the registered name
    val head = GraftSql.query(spark,
      s"SELECT count(*) AS c, sum(v) AS sv FROM $n WHERE v > 5").head()
    assert(head.getLong(0) == 3L && head.getLong(1) == 100L)
    // time travel to v0 sees the pre-delete content
    assert(GraftSql.query(spark,
      s"SELECT count(*) AS c FROM $n VERSION AS OF 0").head().getLong(0) == 4L)
    // registered txn tables and plain temp views mix in one statement
    val mixed = GraftSql.query(spark,
      s"""SELECT t.id, t.v, q.v AS qv FROM $n AS t
         |JOIN q_src q ON q.id = t.id""".stripMargin)
    assert(mixed.collect().map(r => (r.getLong(0), r.getLong(2))).toSet ==
      Set((7L, 70L)))
    // qualified column references against the substituted relation
    assert(GraftSql.query(spark,
      s"SELECT $n.id FROM $n WHERE $n.id = 1").count() == 1L)
  }

  test("VERSION AS OF past the head fails with the version check") {
    val (_, n) = mk() // v0
    GraftSql.execute(spark, s"DELETE FROM $n WHERE id >= 3") // v1
    val e = intercept[IllegalArgumentException] {
      GraftSql.query(spark, s"SELECT count(*) AS c FROM $n VERSION AS OF 4")
        .head()
    }
    assert(e.getMessage.contains("version 4 does not exist (latest 1)"),
      e.getMessage)
  }

  test("TIMESTAMP AS OF resolves by wall clock; txn tables feed INSERT " +
    "and MERGE sources directly") {
    val (t, n) = mk() // v0
    Thread.sleep(1100) // commit-file mtime clock has 1s resolution
    val tsBetween = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(1100)
    GraftSql.execute(spark, s"DELETE FROM $n WHERE id <= 2") // v1
    assert(GraftSql.query(spark,
      s"SELECT count(*) AS c FROM $n TIMESTAMP AS OF '$tsBetween'")
      .head().getLong(0) == 4L, "instant between commits must see v0")
    // one txn table snapshots into another with no temp-view plumbing
    val (t2, n2) = mk()
    GraftSql.execute(spark,
      s"INSERT OVERWRITE $n2 SELECT * FROM $n VERSION AS OF 0")
    assert(rows(t2) == rows(t) ++ Set((1L, 10L, "a"), (2L, 20L, "b")))
    // and a txn table is a MERGE source by name
    GraftSql.execute(spark,
      s"""MERGE INTO $n2 USING $n ON $n2.id = $n.id
         |WHEN MATCHED THEN UPDATE SET v = $n.v * 1000
         |""".stripMargin)
    assert(rows(t2).collect { case (id, v, _) if id >= 3 => v }.toSet ==
      Set(30000L, 40000L))
  }

  test("TIMESTAMP AS OF strings parse in the SESSION timezone, never " +
    "the JVM default") {
    val (_, n) = mk() // v0: 4 rows
    Thread.sleep(1100) // commit-file mtime clock has 1s resolution
    val tsBetween = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(1100)
    GraftSql.execute(spark, s"DELETE FROM $n WHERE id <= 2") // v1
    // Under a JVM default of UTC-9, java.sql.Timestamp.valueOf would
    // shift the literal 9 h LATER → resolve past v1 (count 2). The
    // Catalyst Cast under the session zone (UTC) must still see v0.
    val dflt = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("Etc/GMT+9"))
      assert(GraftSql.query(spark,
        s"SELECT count(*) AS c FROM $n TIMESTAMP AS OF '$tsBetween'")
        .head().getLong(0) == 4L,
        "a non-UTC JVM default zone must not move the resolved instant")
    } finally java.util.TimeZone.setDefault(dflt)
    // unparseable literals fail loudly (ANSI Cast throws; non-ANSI
    // falls to the null-guard), never resolve to a wrong version
    intercept[Exception] {
      GraftSql.query(spark,
        s"SELECT * FROM $n TIMESTAMP AS OF 'not-a-timestamp'").collect()
    }
  }

  test("ALTER TABLE ADD/DROP COLUMNS as statement text") {
    val (t, n) = mk()
    GraftSql.execute(spark,
      s"ALTER TABLE $n ADD COLUMNS (note STRING, score BIGINT)")
    assert(TxnTable.read(spark, t).columns.toSeq ==
      Seq("id", "v", "s", "note", "score"))
    GraftSql.execute(spark, s"ALTER TABLE $n DROP COLUMN score")
    GraftSql.execute(spark, s"ALTER TABLE $n DROP COLUMN IF EXISTS nope")
    assert(TxnTable.read(spark, t).columns.toSeq ==
      Seq("id", "v", "s", "note"))
    // the widened shape is writable through the same SQL surface
    Seq((9L, 90L, "i", "x")).toDF("id", "v", "s", "note")
      .createOrReplaceTempView("alter_src")
    GraftSql.execute(spark, s"INSERT INTO $n SELECT * FROM alter_src")
    assert(GraftSql.query(spark,
      s"SELECT count(*) AS c FROM $n WHERE note IS NOT NULL")
      .head().getLong(0) == 1L)
    // RENAME COLUMN: statement form, then every verb speaks the new name
    GraftSql.execute(spark, s"ALTER TABLE $n RENAME COLUMN v TO amount")
    GraftSql.execute(spark, s"UPDATE $n SET amount = amount + 1 WHERE id = 9")
    assert(GraftSql.query(spark,
      s"SELECT sum(amount) AS sa FROM $n WHERE id = 9").head().getLong(0)
      == 91L)
    GraftSql.execute(spark, s"DELETE FROM $n WHERE amount > 90")
    assert(GraftSql.query(spark, s"SELECT count(*) AS c FROM $n")
      .head().getLong(0) == 4L)
  }

  test("table_changes / table_history as table-valued functions") {
    val (t, n) = mk() // v0: 4 rows
    GraftSql.execute(spark, s"UPDATE $n SET v = v + 1 WHERE id = 2") // v1
    GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 4") // v2
    val ch = GraftSql.query(spark,
      s"""SELECT op, id, v FROM table_changes('$n', 0, 2, 'id')
         |ORDER BY id""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ch == Seq(("update", 2L), ("delete", 4L)))
    // composes with plain SQL: aggregate over the feed
    assert(GraftSql.query(spark,
      s"SELECT count(*) AS c FROM table_changes('$n', 0, 2, 'id') " +
        "WHERE op = 'delete'").head().getLong(0) == 1L)
    val hist = GraftSql.query(spark,
      s"SELECT version, op FROM table_history('$n') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist == Seq((0L, "create"), (1L, "update"), (2L, "delete")))
    intercept[IllegalArgumentException] {
      GraftSql.query(spark, "SELECT * FROM table_changes('nope', 0, 1, 'id')")
    }
    // TIMESTAMP bounds resolve through versionAt's log-mtime clock:
    // ts-of-v0 .. ts-of-v2 ≡ the version-addressed call
    val ts = TxnTable.history(spark, t)
      .select(col("version"), col("ts_millis")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    def fmt(ms: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    val byTs = GraftSql.query(spark,
      s"""SELECT op, id FROM table_changes('$n', '${fmt(ts(0L))}',
         |'${fmt(ts(2L))}', 'id') ORDER BY id""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(byTs == Seq(("update", 2L), ("delete", 4L)))
    // a pre-horizon timestamp is LOUD (the versionAt fence), never a
    // silent empty feed
    val e = intercept[IllegalArgumentException] {
      GraftSql.query(spark, s"SELECT * FROM table_changes('$n', " +
        s"'${fmt(ts(0L) - 3600000L)}', 2, 'id')")
    }
    assert(e.getMessage.contains("predates the earliest readable commit"))
    // an unparseable bound is a clear contract error
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.query(spark,
        s"SELECT * FROM table_changes('$n', 'not-a-time', 2, 'id')")
    }
    assert(e2.getMessage.contains("cannot parse"), e2.getMessage)
  }

  test("UPDATE … FROM translates onto MERGE (CoW and MOR); shapes " +
    "outside the contract keep the parser's rejection") {
    Seq((2L, 222L), (3L, 333L), (9L, 999L)).toDF("id", "nv")
      .createOrReplaceTempView("uf_src")
    for (mor <- Seq(false, true)) {
      val (t, n) = mk(mor) // ids 1..4, v = 10,20,30,40
      GraftSql.execute(spark,
        s"UPDATE $n t SET v = s.nv FROM uf_src s WHERE t.id = s.id")
      assert(rows(t) == Set((1L, 10L, "a"), (2L, 222L, "b"),
        (3L, 333L, "c"), (4L, 40L, "d")), s"mor=$mor")
      // an extra filter rides the join condition
      GraftSql.execute(spark,
        s"""UPDATE $n SET v = s.nv * 10 FROM uf_src s
           |WHERE $n.id = s.id AND $n.id > 2""".stripMargin)
      assert(rows(t).map(r => (r._1, r._2)) ==
        Set((1L, 10L), (2L, 222L), (3L, 3330L), (4L, 40L)), s"mor=$mor")
      GraftSql.unregister(n)
    }
    // without WHERE there is no join condition: the parser's own
    // rejection stands (contract, not accident)
    val (_, n2) = mk()
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      GraftSql.execute(spark, s"UPDATE $n2 SET v = s.nv FROM uf_src s")
    }
    GraftSql.unregister(n2)
  }

  test("backtick-quoted identifiers work in the maintenance statement " +
    "heads; unquoted special characters stay rejected") {
    val t = Files.createTempDirectory("graft_bt").toString + "/t"
    val n = "bt-" + java.util.UUID.randomUUID().toString.replace("-", "")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").createOrReplaceTempView("bt_src")
    TxnTable.create(spark, t,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    GraftSql.register(n, t)
    try {
      // every statement-head verb takes the quoted spelling
      assert(GraftSql.execute(spark, s"OPTIMIZE `$n`") == 0L) // no-op head
      GraftSql.execute(spark, s"INSERT INTO `$n` SELECT 3L, 30L")
      assert(GraftSql.execute(spark, s"OPTIMIZE `$n`") == 2L) // folds
      assert(GraftSql.execute(spark, s"VACUUM `$n`") == 3L)
      assert(GraftSql.query(spark, s"DESCRIBE HISTORY `$n`")
        .count() >= 3L)
      assert(GraftSql.execute(spark,
        s"RESTORE TABLE `$n` TO VERSION AS OF 2") == 4L)
      // the unquoted hyphenated spelling is NOT an identifier — the
      // statement head falls through to the parser and is rejected
      intercept[Exception] {
        GraftSql.execute(spark, s"OPTIMIZE $n")
      }
    } finally GraftSql.unregister(n)
  }

  test("CREATE TABLE … SHALLOW CLONE: registration, snapshot pinning, " +
    "and the contract errors") {
    val (t, n) = mk() // v0: ids 1..4
    val c = "cl" + java.util.UUID.randomUUID().toString.replace("-", "")
    val d = Files.createTempDirectory("graft_sqlclone").toString
    try {
      GraftSql.execute(spark, s"UPDATE $n SET v = v * 10 WHERE id = 1") // v1
      // clone at v0: the update is invisible through the clone's name
      GraftSql.execute(spark,
        s"CREATE TABLE $c SHALLOW CLONE $n VERSION AS OF 0 " +
          s"LOCATION '$d/c'")
      assert(GraftSql.query(spark, s"SELECT sum(v) AS sv FROM $c")
        .head().getLong(0) == 100L)
      assert(GraftSql.query(spark, s"SELECT sum(v) AS sv FROM $n")
        .head().getLong(0) == 190L)
      // the registered clone takes DML like any table
      GraftSql.execute(spark, s"DELETE FROM $c WHERE id = 4")
      assert(GraftSql.query(spark, s"SELECT sum(v) AS sv FROM $c")
        .head().getLong(0) == 60L)
      // re-pointing a registered name is loud
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"CREATE TABLE $c SHALLOW CLONE $n LOCATION '$d/elsewhere'")
      }
      // unregistered source is loud; a vacuumed-away version is loud
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"CREATE TABLE x2 SHALLOW CLONE nope_src LOCATION '$d/x'")
      }
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"CREATE TABLE x3 SHALLOW CLONE $n VERSION AS OF 99 " +
            s"LOCATION '$d/x3'")
      }
    } finally { GraftSql.unregister(n); GraftSql.unregister(c) }
  }

  test("VACUUM DRY RUN lists exactly what the real vacuum then deletes; " +
    "RESTORE TO TIMESTAMP resolves on the log clock") {
    val (t, n) = mk() // v0
    Thread.sleep(30)
    GraftSql.execute(spark, s"UPDATE $n SET v = v + 1 WHERE id <= 2") // v1
    val listed = GraftSql.query(spark, s"VACUUM $n RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0)).toSet
    assert(listed.nonEmpty)
    assert(listed.forall(f =>
      Files.exists(java.nio.file.Paths.get(t).resolve(f))),
      "dry run deletes nothing")
    // the real vacuum under the same retention deletes exactly that set
    val (_, deleted) = TxnTable.vacuumRetainMillis(spark, t, 0L)
    assert(deleted == listed.size,
      s"dry run listed ${listed.size}, vacuum deleted $deleted")
    assert(listed.forall(f =>
      !Files.exists(java.nio.file.Paths.get(t).resolve(f))))
    // an empty dry run on the now-clean table
    assert(GraftSql.query(spark,
      s"VACUUM $n RETAIN 0 HOURS DRY RUN").count() == 0L)
    // RESTORE by timestamp: pre-horizon instants are loud (v0 was
    // vacuumed away)
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"RESTORE TABLE $n TO TIMESTAMP AS OF '1999-01-01 00:00:00'")
    }
    assert(e.getMessage.contains("predates the earliest readable commit"))
    // …and a valid instant restores (the head's own instant → head)
    val tsH = TxnTable.history(spark, t)
      .orderBy(col("version").desc).select("ts_millis").head().getLong(0)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(tsH))
    val v = GraftSql.execute(spark,
      s"RESTORE TABLE $n TO TIMESTAMP AS OF '$fmt'")
    assert(v == TxnTable.currentVersion(t))
    GraftSql.unregister(n)
  }

  test("SHOW TABLES / SHOW VIEWS / DESCRIBE DETAIL; OPTIMIZE WHERE " +
    "scoping and its contract errors") {
    val (t, n) = mk() // v0: ids 1..4, one file
    val v = "sv" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      GraftSql.execute(spark, s"CREATE VIEW $v AS SELECT id FROM $n")
      val shown = GraftSql.query(spark, "SHOW TABLES")
        .collect().map(_.getString(0)).toSet
      assert(shown.contains(n))
      assert(GraftSql.query(spark, "SHOW VIEWS")
        .collect().map(_.getString(0)).toSet.contains(v))
      val det = GraftSql.query(spark, s"DESCRIBE DETAIL $n")
        .select("version", "num_files", "total_rows", "num_dv_files")
        .head()
      assert((det.getLong(0), det.getLong(1), det.getLong(2),
        det.getLong(3)) == (0L, 1L, 4L, 0L))
      // MOR delete: DETAIL reports the DV from the log; total_rows
      // stays the write-time count (documented pre-DV semantics)
      GraftSql.register(n, t, mor = true)
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1")
      val det2 = GraftSql.query(spark, s"DESCRIBE DETAIL $n")
        .select("version", "num_dv_files", "total_rows").head()
      assert((det2.getLong(0), det2.getLong(1), det2.getLong(2)) ==
        (1L, 1L, 4L))
      // OPTIMIZE WHERE: a range outside the data folds nothing
      assert(GraftSql.execute(spark,
        s"OPTIMIZE $n WHERE id BETWEEN 1000 AND 2000") == 1L)
      // …the matching range folds (the DV'd file is eligible)
      assert(GraftSql.execute(spark,
        s"OPTIMIZE $n WHERE id BETWEEN 0 AND 10") == 2L)
      assert(TxnTable.snapshotDvs(t).isEmpty &&
        rows(t).map(_._1) == Set(2L, 3L, 4L))
      // ZORDER + WHERE is the SCOPED re-cluster now (s69): it commits
      // its own compact:zscope op and touches only intersecting files
      GraftSql.execute(spark,
        s"OPTIMIZE $n ZORDER BY (id, v) WHERE id BETWEEN 0 AND 10")
      assert(TxnTable.commits(t).last.op == "compact:zscope")
      assert(rows(t).map(_._1) == Set(2L, 3L, 4L),
        "a scoped re-cluster is layout-only")
      // a non-integral scope column is loud, never a silent
      // whole-table fold
      val e2 = intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"OPTIMIZE $n WHERE s BETWEEN 0 AND 10")
      }
      assert(e2.getMessage.contains("non-integral type"))
      GraftSql.execute(spark, s"DROP VIEW $v")
      // DESCRIBE TABLE: the logical schema as rows
      val cols = GraftSql.query(spark, s"DESCRIBE TABLE $n")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(cols == Seq(("id", "bigint"), ("v", "bigint"),
        ("s", "string")))
      assert(GraftSql.query(spark, s"DESC $n").count() == 3L)
      // DROP TABLE unregisters WITHOUT touching the directory
      GraftSql.execute(spark, s"DROP TABLE $n")
      intercept[IllegalArgumentException] {
        GraftSql.query(spark, s"DESCRIBE TABLE $n")
      }
      assert(TxnTable.currentVersion(t) >= 0,
        "DROP TABLE must never delete the table directory")
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"DROP TABLE $n")
      }
      GraftSql.execute(spark, s"DROP TABLE IF EXISTS $n") // no-op
      // PURGE is a refusal, not a 100 TB delete
      GraftSql.register(n, t)
      val pe = intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"DROP TABLE $n PURGE")
      }
      assert(pe.getMessage.contains("PURGE"))
    } finally { GraftSql.unregister(n); GraftSql.unregisterView(v) }
  }

  test("CREATE VIEW lifecycle: shadowing, IF NOT EXISTS, OR REPLACE, " +
    "cycles, and view misuse are all loud") {
    val (t, n) = mk() // ids 1..4, v = 10,20,30,40
    val v = "vw" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      GraftSql.execute(spark,
        s"CREATE VIEW $v AS SELECT id, v FROM $n WHERE v >= 30")
      assert(GraftSql.query(spark, s"SELECT sum(v) AS sv FROM $v")
        .head().getLong(0) == 70L)
      // a view must not shadow a registered table
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"CREATE VIEW $n AS SELECT 1 AS one")
      }
      // plain re-CREATE collides; IF NOT EXISTS keeps the existing
      // definition; OR REPLACE swaps it
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"CREATE VIEW $v AS SELECT 1 AS one")
      }
      GraftSql.execute(spark,
        s"CREATE VIEW IF NOT EXISTS $v AS SELECT 1 AS one")
      assert(GraftSql.query(spark, s"SELECT sum(v) AS sv FROM $v")
        .head().getLong(0) == 70L, "IF NOT EXISTS must keep the original")
      GraftSql.execute(spark,
        s"CREATE OR REPLACE VIEW $v AS SELECT id, v FROM $n WHERE v < 30")
      assert(GraftSql.query(spark, s"SELECT sum(v) AS sv FROM $v")
        .head().getLong(0) == 30L)
      // a definition cycle is a loud error, not a stack overflow
      GraftSql.execute(spark,
        s"CREATE OR REPLACE VIEW $v AS SELECT * FROM $v")
      val ce = intercept[IllegalArgumentException] {
        GraftSql.query(spark, s"SELECT * FROM $v").collect()
      }
      assert(ce.getMessage.contains("view definition cycle"))
      GraftSql.execute(spark,
        s"CREATE OR REPLACE VIEW $v AS SELECT id, v FROM $n")
      // views have no version axis
      val te = intercept[IllegalArgumentException] {
        GraftSql.query(spark, s"SELECT * FROM $v VERSION AS OF 0")
      }
      assert(te.getMessage.contains("views have no version axis"))
      // views are not DML targets
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"DELETE FROM $v WHERE id = 1")
      }
      // DROP removes the name; a second plain DROP is loud; IF EXISTS
      // no-ops
      GraftSql.execute(spark, s"DROP VIEW $v")
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"DROP VIEW $v")
      }
      GraftSql.execute(spark, s"DROP VIEW IF EXISTS $v")
      intercept[Exception] {
        GraftSql.query(spark, s"SELECT * FROM $v").collect()
      }
    } finally { GraftSql.unregister(n); GraftSql.unregisterView(v) }
  }

  test("unsupported shapes fail loudly; unregistered names rejected") {
    val (_, n) = mk()
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, "DELETE FROM not_registered WHERE 1 = 1")
    }
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, s"SELECT * FROM $n")
    }
    Seq((1L, 1L, "x")).toDF("id", "v", "s")
      .createOrReplaceTempView("merge_src3")
    // non-equi ON
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"MERGE INTO $n USING merge_src3 s ON $n.id > s.id " +
          "WHEN MATCHED THEN DELETE")
    }
    // NOT MATCHED BY SOURCE scope is target-only: referencing the
    // source is a statement error, never a silent null
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"MERGE INTO $n USING merge_src3 sr ON $n.id = sr.id " +
          "WHEN NOT MATCHED BY SOURCE AND sr.v > 0 THEN DELETE")
    }
    // INSERT partition specs are a loud contract rejection
    val pe = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"INSERT INTO $n PARTITION (s='x') SELECT id, v FROM merge_src3")
    }
    assert(pe.getMessage.contains("partition specs are not supported"))
  }

  test("CREATE TABLE / CTAS / CREATE OR REPLACE: the SQL lifecycle") {
    val d = Files.createTempDirectory("graft_sqlct").toString
    val n = "ct" + java.util.UUID.randomUUID().toString.replace("-", "")
    // plain CREATE with a column list: v0, empty, schema recorded
    GraftSql.execute(spark,
      s"CREATE TABLE $n (id BIGINT, v BIGINT, s STRING) USING graft " +
        s"LOCATION '$d/t1'")
    assert(TxnTable.currentVersion(s"$d/t1") == 0L)
    assert(GraftSql.query(spark, s"SELECT count(*) AS c FROM $n")
      .head().getLong(0) == 0L)
    // the created table takes INSERT / SELECT immediately
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "s")
      .createOrReplaceTempView("ct_src")
    GraftSql.execute(spark, s"INSERT INTO $n SELECT * FROM ct_src")
    assert(GraftSql.query(spark, s"SELECT sum(v) AS sv FROM $n")
      .head().getLong(0) == 30L)
    // name collision is loud; IF NOT EXISTS is a registering no-op
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"CREATE TABLE $n (x BIGINT) USING graft LOCATION '$d/t1'")
    }
    GraftSql.execute(spark,
      s"CREATE TABLE IF NOT EXISTS $n (x BIGINT) USING graft " +
        s"LOCATION '$d/t1'")
    assert(GraftSql.query(spark, s"SELECT count(*) AS c FROM $n")
      .head().getLong(0) == 2L, "IF NOT EXISTS must not touch the table")
    // CTAS from a time-traveled registered table, CLUSTER BY layout
    GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1") // v2
    val n2 = "ct2" + java.util.UUID.randomUUID().toString.replace("-", "")
    GraftSql.execute(spark,
      s"""CREATE TABLE $n2 USING graft CLUSTER BY (id)
         |LOCATION '$d/t2' TBLPROPERTIES ('graft.targetFiles' = '2')
         |AS SELECT id, v FROM $n VERSION AS OF 1""".stripMargin)
    assert(GraftSql.query(spark,
      s"SELECT count(*) AS c, sum(v) AS sv FROM $n2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 30L)), "CTAS must snapshot the pre-delete version")
    // CREATE OR REPLACE: new content AND a new schema, atomically;
    // history stays readable
    GraftSql.execute(spark,
      s"""CREATE OR REPLACE TABLE $n2 USING graft LOCATION '$d/t2'
         |AS SELECT count(*) AS cnt, sum(v) AS sv FROM $n""".stripMargin)
    assert(GraftSql.query(spark, s"SELECT cnt, sv FROM $n2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 20L)))
    assert(TxnTable.read(spark, s"$d/t2", 0L).columns.toSeq ==
      Seq("id", "v"), "the pre-replace snapshot keeps its shape")
    // plain REPLACE of a nonexistent table is loud
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"REPLACE TABLE nope_${n2} USING graft LOCATION '$d/t3' " +
          "AS SELECT 1 AS one")
    }
    // CREATE must never silently RE-POINT a registered name to a
    // different LOCATION
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"CREATE TABLE $n (x BIGINT) USING graft LOCATION '$d/elsewhere'")
    }
    // … but equivalent SPELLINGS of the registered directory are the
    // SAME location (normalized compare): trailing slash, `./` segment
    GraftSql.execute(spark,
      s"CREATE TABLE IF NOT EXISTS $n (id BIGINT, v BIGINT, s STRING) " +
        s"USING graft LOCATION '$d/t1/'")
    GraftSql.execute(spark,
      s"CREATE TABLE IF NOT EXISTS $n (id BIGINT, v BIGINT, s STRING) " +
        s"USING graft LOCATION '$d/./t1'")
    // a layout clause on a plain CREATE would be silently dropped —
    // loud contract instead
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"CREATE TABLE ct_lay (id BIGINT) USING graft " +
          s"CLUSTER BY (id) LOCATION '$d/lay'")
    }
    // IF NOT EXISTS must not flip an existing registration's MOR
    // routing either
    val (tm, nmor) = mk(mor = true)
    GraftSql.execute(spark,
      s"CREATE TABLE IF NOT EXISTS $nmor (id BIGINT, v BIGINT, s STRING) " +
        s"USING graft LOCATION '$tm'")
    GraftSql.execute(spark, s"DELETE FROM $nmor WHERE id = 1")
    assert(TxnTable.commits(tm).last.op == "dvdelete",
      "IF NOT EXISTS must keep the existing MOR routing")
    GraftSql.unregister(nmor)
    // warehouse root: CREATE without LOCATION lands under it
    GraftSql.setWarehouse(s"$d/wh")
    val n3 = "ct3" + java.util.UUID.randomUUID().toString.replace("-", "")
    GraftSql.execute(spark,
      s"CREATE TABLE $n3 USING graft AS SELECT 7 AS seven")
    assert(TxnTable.currentVersion(s"$d/wh/${n3.toLowerCase}") == 0L)
    assert(GraftSql.query(spark, s"SELECT seven FROM $n3")
      .head().getInt(0) == 7)
    GraftSql.unregister(n); GraftSql.unregister(n2); GraftSql.unregister(n3)
  }

  test("subqueries in DML predicates and in query() resolve " +
    "registered tables") {
    val (t, n) = mk() // (1,10,a) (2,20,b) (3,30,c) (4,40,d)
    val (_, n2) = mk() // the subquery's table, registered
    // IN-subquery over ANOTHER registered txn table
    GraftSql.execute(spark,
      s"DELETE FROM $n WHERE id IN (SELECT id FROM $n2 WHERE v >= 30)")
    assert(rows(t).map(_._1) == Set(1L, 2L))
    // scalar subquery (self-referencing: snapshot pinned at statement)
    GraftSql.execute(spark,
      s"DELETE FROM $n WHERE v > (SELECT avg(v) FROM $n)")
    assert(rows(t).map(_._1) == Set(1L))
    // NOT IN with a time-traveled subquery
    GraftSql.execute(spark,
      s"DELETE FROM $n WHERE id NOT IN " +
        s"(SELECT id FROM $n2 VERSION AS OF 0 WHERE v <= 10)")
    assert(rows(t).map(_._1) == Set(1L))
    // query(): IN-subquery against a registered name
    assert(GraftSql.query(spark,
      s"SELECT count(*) AS c FROM $n2 WHERE id IN " +
        s"(SELECT id FROM $n)").head().getLong(0) == 1L)
    // an IN-subquery in a SET VALUE can satisfy no projection rule:
    // loud contract error, never a Spark internal analysis failure
    val se = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""UPDATE $n SET v = CASE WHEN id IN (SELECT id FROM $n2)
           |THEN 1 ELSE 0 END WHERE id > 0""".stripMargin)
    }
    assert(se.getMessage.contains("SET values"), se.getMessage)
    // UPDATE with an IN-subquery predicate (the two-filter rewrite
    // shape), CoW and MOR
    for (mor <- Seq(false, true)) {
      val (tu, nu) = mk(mor)
      val (_, nk) = mk()
      GraftSql.execute(spark,
        s"""UPDATE $nu SET v = v + 1000 WHERE id IN
           |(SELECT id FROM $nk WHERE v >= 30)""".stripMargin)
      assert(rows(tu) == Set((1L, 10L, "a"), (2L, 20L, "b"),
        (3L, 1030L, "c"), (4L, 1040L, "d")), s"mor=$mor")
      // and a scalar subquery in the SET value itself
      GraftSql.execute(spark,
        s"UPDATE $nu SET v = (SELECT min(v) FROM $nk) WHERE id = 1")
      assert(rows(tu).contains((1L, 10L, "a")))
      GraftSql.unregister(nu); GraftSql.unregister(nk)
    }
    GraftSql.unregister(n); GraftSql.unregister(n2)
  }

  test("CONVERT TO GRAFT adopts parquet in place; RESTORE and " +
    "constraint DDL statements") {
    val d = Files.createTempDirectory("graft_conv").toString + "/plain"
    Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"), (4L, 40L, "d"))
      .toDF("id", "v", "s").repartition(2).write.parquet(d)
    val orig = spark.read.parquet(d).collect().toSet
    val origFiles = Files.list(java.nio.file.Paths.get(d)).iterator()
    val before = new scala.collection.mutable.ArrayBuffer[String]()
    origFiles.forEachRemaining(p => { before += p.toString; () })
    val n = "cv" + java.util.UUID.randomUUID().toString.replace("-", "")
    GraftSql.execute(spark, s"CONVERT TO GRAFT '$d' AS $n") // v0
    // in place: every original file still exists, adds carry stats
    assert(before.forall(f => Files.exists(java.nio.file.Paths.get(f))))
    val c0 = TxnTable.commits(d).head
    assert(c0.op == "convert" && c0.adds.forall(a =>
      a.rows > 0 && a.stats.nonEmpty))
    assert(TxnTable.read(spark, d).collect().toSet == orig)
    assert(GraftSql.query(spark, s"SELECT sum(v) AS sv FROM $n")
      .head().getLong(0) == 100L)
    // the harvested stats serve metadata aggregates with zero
    // further footer reads
    val ((cnt, _, tot), window) =
      OpMetrics.scope(TxnTable.countRange(spark, d, "v", 0L, 100L))
    assert(cnt == 4L && tot == 2 && window.count(FooterReads) == 0)
    // constraint DDL: ADD enforces, violating DML fails, DROP lifts
    GraftSql.execute(spark,
      s"ALTER TABLE $n ADD CONSTRAINT v_pos CHECK (v > 0)") // v1
    assert(TxnTable.constraints(d).contains("v_pos"))
    intercept[Exception] {
      GraftSql.execute(spark, s"UPDATE $n SET v = -1 WHERE id = 1")
    }
    GraftSql.execute(spark, s"UPDATE $n SET v = v * 2 WHERE id <= 2") // v2
    assert(GraftSql.query(spark, s"SELECT sum(v) AS sv FROM $n")
      .head().getLong(0) == 130L)
    GraftSql.execute(spark, s"ALTER TABLE $n DROP CONSTRAINT v_pos") // v3
    assert(!TxnTable.constraints(d).contains("v_pos"))
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, s"ALTER TABLE $n DROP CONSTRAINT nope")
    }
    GraftSql.execute(spark,
      s"ALTER TABLE $n DROP CONSTRAINT IF EXISTS nope") // no-op
    // RESTORE rolls the content back as a new commit
    GraftSql.execute(spark, s"RESTORE TABLE $n TO VERSION AS OF 0")
    assert(TxnTable.read(spark, d).collect().toSet == orig)
    // converting an existing table is loud
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, s"CONVERT TO GRAFT '$d'")
    }
    GraftSql.unregister(n)
  }

  test("OPTIMIZE / VACUUM / DESCRIBE HISTORY statement forms") {
    val (t, n) = mk() // v0: 4 rows, 1 file
    // nothing eligible to bin-pack (one file, zero DVs): OPTIMIZE
    // returns the UNCHANGED head — the distinguishable no-op signal
    assert(GraftSql.execute(spark, s"OPTIMIZE $n") == 0L)
    assert(TxnTable.commits(t).last.op == "create")
    // two small files ARE eligible: an explicit OPTIMIZE always folds
    // them (never policy-gated)
    val (t2, n2) = mk()
    GraftSql.execute(spark,
      s"INSERT INTO $n2 SELECT 9L, 90L, 'z'")
    assert(TxnTable.snapshotFiles(t2).size == 2)
    val vo = GraftSql.execute(spark, s"OPTIMIZE $n2")
    assert(vo == 2L && TxnTable.commits(t2).last.op == "compact" &&
      TxnTable.snapshotFiles(t2).size == 1)
    assert(rows(t2).map(_._1) == Set(1L, 2L, 3L, 4L, 9L))
    GraftSql.unregister(n2)
    // ZORDER form compacts unconditionally with the given keys
    val vz = GraftSql.execute(spark, s"OPTIMIZE $n ZORDER BY (id, v)")
    assert(vz == 1L && TxnTable.commits(t).last.op.startsWith("compact"))
    assert(rows(t).map(_._1) == Set(1L, 2L, 3L, 4L))
    // 1-column ZORDER is a loud contract error
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, s"OPTIMIZE $n ZORDER BY (id)")
    }
    // VACUUM (default retention) commits a vacuum marker
    val vv = GraftSql.execute(spark, s"VACUUM $n")
    assert(vv == 2L && TxnTable.commits(t).last.op.startsWith("vacuum:"))
    // DESCRIBE HISTORY: rows through query(); execute() redirects
    val hist = GraftSql.query(spark, s"DESCRIBE HISTORY $n")
      .select("version", "op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist.map(_._1) == (TxnTable.earliestVersion(t) to 2L).toSeq)
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, s"DESCRIBE HISTORY $n")
    }
    // unregistered names are loud for the maintenance verbs too
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, "OPTIMIZE not_registered")
    }
  }

  test("MERGE with NOT MATCHED BY SOURCE and multiple NOT MATCHED " +
    "clauses (CoW and MOR)") {
    for (mor <- Seq(false, true)) {
      val (t, n) = mk(mor) // (1,10,a) (2,20,b) (3,30,c) (4,40,d)
      Seq((1L, 111L), (9L, 500L), (10L, 5L)).toDF("id", "nv")
        .createOrReplaceTempView("sync_src")
      GraftSql.execute(spark,
        s"""MERGE INTO $n AS t USING sync_src AS s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.nv
           |WHEN NOT MATCHED AND s.nv >= 100 THEN
           |  INSERT (id, v, s) VALUES (s.id, s.nv, 'big')
           |WHEN NOT MATCHED THEN
           |  INSERT (id, v, s) VALUES (s.id, s.nv, 'small')
           |WHEN NOT MATCHED BY SOURCE AND t.v >= 40 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1
           |""".stripMargin)
      assert(rows(t) == Set((1L, 111L, "a"), (2L, 21L, "b"),
        (3L, 31L, "c"), (9L, 500L, "big"), (10L, 5L, "small")),
        s"mor=$mor full-sync outcome wrong: ${rows(t)}")
      val c = TxnTable.commits(t).last
      if (mor) assert(c.op == "dvmerge" && c.removes.isEmpty)
      else assert(c.op == "merge")
      GraftSql.unregister(n)
    }
  }

  test("table_changes bound typing: every STRING literal is a " +
    "timestamp — an all-digit string is never reinterpreted as a " +
    "version number") {
    val (t, n) = mk()
    GraftSql.execute(spark, s"UPDATE $n SET v = v + 1 WHERE id = 1") // v1
    // a far-future string bound resolves through versionAt to the
    // head — identical to the version-addressed call. Interpreted as
    // version 2999 it would be a version-range error instead.
    val byVersion = GraftSql.query(spark,
      s"SELECT * FROM table_changes('$n', 0, 1, 'id')")
    val byString = GraftSql.query(spark,
      s"SELECT * FROM table_changes('$n', 0, '2999-01-01 00:00:00', 'id')")
    assert(byString.exceptAll(byVersion).isEmpty &&
      byVersion.exceptAll(byString).isEmpty,
      "a string timestamp bound must resolve through versionAt")
    // '2026' is a VALID timestamp cast (2026-01-01) that predates this
    // just-created table — the timestamp fence must fire, proving the
    // all-digit string took the timestamp path, not version 2026
    val e = intercept[Exception] {
      GraftSql.query(spark,
        s"SELECT * FROM table_changes('$n', '2026', 1, 'id')").collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("predates the earliest readable commit"),
      s"'2026' must resolve as a timestamp and hit the fence: $e")
    GraftSql.unregister(n)
  }

  test("UPDATE … FROM: a target-only equality is not a join key (the " +
    "pointed error fires, not a downstream MERGE analysis error); " +
    "backtick-quoted aliases parse") {
    Seq((2L, 222L), (3L, 333L)).toDF("id", "nv")
      .createOrReplaceTempView("ufq_src")
    val (t, n) = mk()
    try {
      // t.id = t.id satisfies attr=attr but references no source
      // column — it must land in the residual, leaving the key set
      // empty and the pointed message to fire
      val e = intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"UPDATE $n t SET v = s.nv FROM ufq_src s WHERE t.id = t.id")
      }
      assert(e.getMessage.contains(
        "needs at least one target-column = source-column equality"),
        s"wrong failure: ${e.getMessage}")
      // quoted aliases: the fallback grammar accepts them and the
      // rewrite classifies their qualifiers correctly
      GraftSql.execute(spark,
        s"""UPDATE $n AS `tg-1` SET v = `sr-1`.nv FROM ufq_src AS `sr-1`
           |WHERE `tg-1`.id = `sr-1`.id AND `tg-1`.id = `tg-1`.id
           |""".stripMargin)
      assert(rows(t) == Set((1L, 10L, "a"), (2L, 222L, "b"),
        (3L, 333L, "c"), (4L, 40L, "d")),
        s"quoted-alias UPDATE FROM outcome wrong: ${rows(t)}")
    } finally GraftSql.unregister(n)
  }

  test("register() refuses a name an existing view holds — mirroring " +
    "the CREATE VIEW no-shadow guard") {
    val (t, n) = mk()
    val v = "shadow" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      GraftSql.execute(spark, s"CREATE VIEW $v AS SELECT id FROM $n")
      // tables resolve before views, so this registration would
      // silently change what $v means — refused loudly instead
      val e = intercept[IllegalArgumentException] {
        GraftSql.register(v, t)
      }
      assert(e.getMessage.contains("existing view"),
        s"wrong failure: ${e.getMessage}")
      // after DROP VIEW the name is free again
      GraftSql.execute(spark, s"DROP VIEW $v")
      GraftSql.register(v, t)
      assert(GraftSql.query(spark, s"SELECT count(*) AS c FROM $v")
        .head().getLong(0) == 4L)
      GraftSql.unregister(v)
    } finally GraftSql.unregister(n)
  }

  test("bare OPTIMIZE ZORDER clusters only the un-clustered tail at " +
    "the persisted layout; explicit 1-column ZORDER BY stays rejected") {
    val d = Files.createTempDirectory("graft_ozp").toString + "/t"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    // clustered create seeds graft.clusterBy=g, graft.targetFiles=8
    TxnTable.createClustered(spark, d,
      (for (g <- 0L until 8L; i <- 1L to 50L)
        yield (g * 1000 + i, g)).toDF("id", "g"),
      Seq(col("g")), targetFiles = 8)
    // a small-file tail SCATTERED across bands ruins the clustering
    (1 to 4).foreach(k => TxnTable.append(spark, d,
      Seq((9000L + k, k.toLong % 8)).toDF("id", "g")))
    GraftSql.register(n, d)
    val bulk = TxnTable.snapshotFiles(d, 0L).toSet
    val tail = TxnTable.snapshotFiles(d).toSet -- bulk
    try {
      val v = GraftSql.execute(spark, s"OPTIMIZE $n ZORDER")
      val c = TxnTable.commits(d).last
      assert(c.op == "compact:cluster" && v == TxnTable.currentVersion(d))
      // INCREMENTAL: the rewrite folds exactly the tail — the bulk's
      // clustered files survive byte-for-byte
      assert(c.removes.toSet == tail,
        s"the tail fold must rewrite exactly the tail, got ${c.removes}")
      assert(bulk.subsetOf(TxnTable.snapshotFiles(d).toSet),
        "every bulk file must survive the tail fold untouched")
      // a tiny tail folds into a width proportional to its byte share
      assert(c.adds.size <= 2,
        s"a 4-row tail must fold into 1-2 files, got ${c.adds.size}")
      // an immediate second bare ZORDER no-ops at the unchanged head
      assert(GraftSql.execute(spark, s"OPTIMIZE $n ZORDER") == v &&
        TxnTable.currentVersion(d) == v,
        "an empty tail must no-op")
      // pruning works again over the re-clustered layout: strict
      // subset, zero footers, exact rows
      val (_, window) = OpMetrics.scope {
        val pruned = TxnTable.readPruned(spark, d,
          Seq(Bound.LongRange("g", 2L, 3L)))
        assert(pruned.count() == 102L) // 100 base + the g=2 and g=3 tail rows
        assert(pruned.inputFiles.length < 8)
      }
      assert(window.count(FooterReads) == 0)
      // explicit single-column ZORDER BY keeps its teaching error
      val e = intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"OPTIMIZE $n ZORDER BY (g)")
      }
      assert(e.getMessage.contains("range clustering"))
      // …and a bare ZORDER with NO persisted layout is a loud error
      val d2 = Files.createTempDirectory("graft_ozp2").toString + "/t"
      val n2 = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
      TxnTable.create(spark, d2, Seq((1L, 1L)).toDF("id", "g"))
      GraftSql.register(n2, d2)
      try {
        val e2 = intercept[IllegalArgumentException] {
          GraftSql.execute(spark, s"OPTIMIZE $n2 ZORDER")
        }
        assert(e2.getMessage.contains("graft.clusterBy"), e2.getMessage)
      } finally GraftSql.unregister(n2)
    } finally GraftSql.unregister(n)
  }

  test("materialized views: collision guards, durable across sessions " +
    "via the catalog, stale tracking + refresh after reload, drop") {
    val d = Files.createTempDirectory("graft_mv").toString
    val w0 = GraftSql.getWarehouse
    GraftSql.setWarehouse(d)
    val pm = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      GraftSql.enableCatalog(spark)
      val (t, n) = mk() // 4 rows
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $pm AS SELECT count(*) AS c FROM $n")
      // the MV name is fenced on every surface
      val e1 = intercept[IllegalArgumentException] {
        GraftSql.register(pm, t)
      }
      assert(e1.getMessage.contains("materialized view"))
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"CREATE VIEW $pm AS SELECT id FROM $n")
      }
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"CREATE MATERIALIZED VIEW $pm AS SELECT id FROM $n")
      }
      // a FRESH session reloads the MV with its text: reads, tracks
      // staleness, and refreshes
      GraftSql.resetSession()
      GraftSql.enableCatalog(spark)
      assert(GraftSql.query(spark, s"SELECT c FROM $pm")
        .head().getLong(0) == 4L)
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1")
      assert(GraftSql.query(spark, "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === pm).head().getBoolean(2),
        "the reloaded MV must track staleness")
      GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $pm")
      assert(GraftSql.query(spark, s"SELECT c FROM $pm")
        .head().getLong(0) == 3L)
      // DROP is durable and frees the name
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $pm")
      GraftSql.resetSession()
      GraftSql.enableCatalog(spark)
      assert(GraftSql.query(spark, "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === pm).count() == 0,
        "the dropped MV must stay dropped across sessions")
      GraftSql.unregister(n)
    } finally {
      GraftSql.disableCatalog()
      w0 match {
        case Some(w) => GraftSql.setWarehouse(w)
        case None => GraftSql.setWarehouse(null)
      }
    }
  }

  test("TRUNCATE TABLE is a logical delete-all: history and restore " +
    "survive; CREATE TABLE LIKE copies shape + engine properties only") {
    val (t, n) = mk() // v0: 4 rows
    val d = Files.createTempDirectory("graft_trunc").toString
    val c = "lk" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      GraftSql.execute(spark,
        s"ALTER TABLE $n SET TBLPROPERTIES ('graft.mor' = 'true')") // v1
      val v = GraftSql.execute(spark, s"TRUNCATE TABLE $n") // v2
      assert(v == 2L && TxnTable.commits(t).last.op == "truncate")
      assert(TxnTable.read(spark, t).count() == 0)
      // bytes stay: time travel and restore still serve the old rows
      assert(TxnTable.read(spark, t, 0L).count() == 4)
      // schema/properties survive; appends start clean
      GraftSql.execute(spark, s"INSERT INTO $n VALUES (9, 90, 'z')")
      assert(rows(t) == Set((9L, 90L, "z")))
      // the property still routes MOR after the truncate
      GraftSql.execute(spark, s"UPDATE $n SET v = 91 WHERE id = 9")
      assert(TxnTable.commits(t).last.op == "dvupdate")
      // a truncated-empty table no-ops a second TRUNCATE... after
      // restoring first: restore undoes the truncate entirely
      TxnTable.restore(spark, t, 0L)
      assert(TxnTable.read(spark, t).count() == 4)

      // CREATE TABLE LIKE: same shape + graft.* properties, ZERO rows,
      // its own clean history
      GraftSql.execute(spark,
        s"CREATE TABLE $c LIKE $n LOCATION '$d/c'")
      assert(TxnTable.read(spark, s"$d/c").schema ==
        TxnTable.read(spark, t).schema)
      assert(TxnTable.read(spark, s"$d/c").count() == 0)
      assert(TxnTable.properties(s"$d/c") == Map("graft.mor" -> "true"),
        "engine properties must copy")
      // the copied mor property routes the new table's DML
      GraftSql.execute(spark, s"INSERT INTO $c VALUES (1, 10, 'a')")
      GraftSql.execute(spark, s"DELETE FROM $c WHERE id = 1")
      assert(TxnTable.commits(s"$d/c").last.op == "dvdelete")
      // source data never moved: the clone-like is independent
      assert(TxnTable.read(spark, t).count() == 4)
      // a second CREATE LIKE at the same location is refused
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"CREATE TABLE ${c}x LIKE $n LOCATION '$d/c'")
      }
    } finally { GraftSql.unregister(n); GraftSql.unregister(c) }
  }

  test("SHALLOW CLONE TIMESTAMP AS OF pins the fork by wall clock " +
    "(same versionAt clock as every timestamp-addressed read)") {
    val (t, n) = mk() // v0: 4 rows
    val c = "cl" + java.util.UUID.randomUUID().toString.replace("-", "")
    val d = Files.createTempDirectory("graft_clts").toString
    try {
      Thread.sleep(1100) // commit-file mtime clock has 1s resolution
      val ts = java.time.LocalDateTime.now()
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      Thread.sleep(1100)
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id <= 2") // v1
      GraftSql.execute(spark,
        s"CREATE TABLE $c SHALLOW CLONE $n TIMESTAMP AS OF '$ts' " +
          s"LOCATION '$d/c'")
      // the clone pinned the PRE-delete snapshot
      assert(GraftSql.query(spark, s"SELECT count(*) AS x FROM $c")
        .head().getLong(0) == 4L)
      // equivalent to the explicit version pin, bit-exact
      val c2 = "cl2" + java.util.UUID.randomUUID().toString.replace("-", "")
      GraftSql.execute(spark,
        s"CREATE TABLE $c2 SHALLOW CLONE $n VERSION AS OF 0 " +
          s"LOCATION '$d/c2'")
      val (a, b) = (TxnTable.read(spark, s"$d/c"),
        TxnTable.read(spark, s"$d/c2"))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      GraftSql.unregister(c2)
      // a pre-history instant hits versionAt's loud fence
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"CREATE TABLE ${c}x SHALLOW CLONE $n TIMESTAMP AS OF " +
            s"'2000-01-01 00:00:00' LOCATION '$d/cx'")
      }
    } finally { GraftSql.unregister(n); GraftSql.unregister(c) }
  }

  test("persistent catalog: registrations, mor routing, and views " +
    "survive a session reset; reload re-arms the conflict guards") {
    val d = Files.createTempDirectory("graft_pcat").toString
    val w0 = GraftSql.getWarehouse
    GraftSql.setWarehouse(d)
    val pv = "pv" + java.util.UUID.randomUUID().toString.replace("-", "")
    val (t, n) = try {
      GraftSql.enableCatalog(spark)
      val (t, n) = mk() // register() persists now that a catalog is bound
      GraftSql.register(n, t, mor = true) // re-register flips + persists
      GraftSql.execute(spark,
        s"CREATE VIEW $pv AS SELECT id, v FROM $n WHERE v >= 20")
      // ---- fresh session ----
      GraftSql.resetSession()
      assert(GraftSql.query(spark, "SHOW TABLES").filter(col("name") === n)
        .count() == 0, "a fresh session starts empty")
      GraftSql.enableCatalog(spark)
      // the reloaded registration carries its MOR routing
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1")
      assert(TxnTable.commits(t).last.op == "dvdelete",
        "the persisted mor flag must route a fresh session's DML")
      // the reloaded view serves over the reloaded table
      assert(GraftSql.query(spark,
        s"SELECT count(*) AS c FROM $pv").head().getLong(0) == 3L)
      // conflict guards re-arm from the reloaded state: registering
      // over the persisted view's name is refused
      val e = intercept[IllegalArgumentException] {
        GraftSql.register(pv, t)
      }
      assert(e.getMessage.contains("existing view"), e.getMessage)
      // a DROP VIEW is durable too
      GraftSql.execute(spark, s"DROP VIEW $pv")
      GraftSql.resetSession()
      GraftSql.enableCatalog(spark)
      assert(GraftSql.query(spark, "SHOW VIEWS")
        .filter(col("name") === pv).count() == 0,
        "the dropped view must stay dropped across sessions")
      GraftSql.register(pv, t) // the name is free again after the drop
      GraftSql.unregister(pv)
      (t, n)
    } finally {
      GraftSql.disableCatalog()
      w0 match {
        case Some(w) => GraftSql.setWarehouse(w)
        case None => GraftSql.setWarehouse(null)
      }
    }
    GraftSql.unregister(n)
    // enableCatalog without a warehouse fails loudly
    GraftSql.setWarehouse(null)
    intercept[IllegalArgumentException] { GraftSql.enableCatalog(spark) }
    w0.foreach(GraftSql.setWarehouse)
  }

  test("SET/UNSET/SHOW TBLPROPERTIES: table-state metadata commits; a " +
    "graft.mor flip re-routes subsequent DML merge-on-read") {
    val (t, n) = mk() // registered CoW
    try {
      // baseline: CoW routing rewrites files
      GraftSql.execute(spark, s"UPDATE $n SET v = v + 1 WHERE id = 1")
      assert(TxnTable.commits(t).last.op == "update")
      val nFiles = TxnTable.snapshotFiles(t).size
      // flip mor via SQL: a metadata commit in the history
      val pv = GraftSql.execute(spark,
        s"ALTER TABLE $n SET TBLPROPERTIES ('graft.mor' = 'true', " +
          "'team' = 'pipeline')")
      val pc = TxnTable.commits(t).last
      assert(pc.op.startsWith("tblprops:set:") &&
        pc.adds.isEmpty && pc.removes.isEmpty,
        s"SET TBLPROPERTIES must be a metadata-only commit, got ${pc.op}")
      assert(GraftSql.query(spark, s"DESCRIBE HISTORY $n")
        .filter(col("op").startsWith("tblprops:set")).count() == 1L)
      // the NEXT UPDATE goes merge-on-read: zero pre-existing files
      // rewritten (the s23 assert), a dvupdate commit
      GraftSql.execute(spark, s"UPDATE $n SET v = v * 10 WHERE id = 2")
      val u = TxnTable.commits(t).last
      assert(u.op == "dvupdate", s"mor=true must route MOR, got ${u.op}")
      assert(u.removes.isEmpty,
        "merge-on-read must rewrite zero pre-existing files")
      assert(TxnTable.snapshotFiles(t).size == nFiles + u.adds.size)
      assert(rows(t) == Set((1L, 11L, "a"), (2L, 200L, "b"),
        (3L, 30L, "c"), (4L, 40L, "d")))
      // SHOW TBLPROPERTIES rows as literals; single-key form; missing
      // key is a loud error (not a Hive message row)
      val props = GraftSql.query(spark, s"SHOW TBLPROPERTIES $n")
        .as[(String, String)].collect().toSeq
      assert(props == Seq("graft.mor" -> "true",
        "team" -> "pipeline"), s"got $props")
      assert(GraftSql.query(spark, s"SHOW TBLPROPERTIES $n('team')")
        .as[(String, String)].collect().toSeq ==
        Seq("team" -> "pipeline"))
      intercept[IllegalArgumentException] {
        GraftSql.query(spark, s"SHOW TBLPROPERTIES $n('nope')")
      }
      // property state is TABLE state: a SECOND registration of the
      // same path observes the flip (no session-local divergence)
      val n2 = "alias" + java.util.UUID.randomUUID().toString
        .replace("-", "")
      GraftSql.register(n2, t)
      GraftSql.execute(spark, s"DELETE FROM $n2 WHERE id = 3")
      assert(TxnTable.commits(t).last.op == "dvdelete",
        "a fresh registration must observe the table's mor property")
      GraftSql.unregister(n2)
      // UNSET restores the registration default (CoW); IF EXISTS
      // semantics on missing keys
      GraftSql.execute(spark,
        s"ALTER TABLE $n UNSET TBLPROPERTIES ('graft.mor')")
      assert(TxnTable.commits(t).last.op.startsWith("tblprops:unset:"))
      GraftSql.execute(spark, s"UPDATE $n SET v = v + 5 WHERE id = 4")
      assert(TxnTable.commits(t).last.op == "update",
        "after UNSET the registration default (CoW) must route again")
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"ALTER TABLE $n UNSET TBLPROPERTIES ('gone')")
      }
      GraftSql.execute(spark,
        s"ALTER TABLE $n UNSET TBLPROPERTIES IF EXISTS ('gone')")
      // engine-reserved keys validate at SET time
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"ALTER TABLE $n SET TBLPROPERTIES ('graft.mor' = 'maybe')")
      }
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"ALTER TABLE $n SET TBLPROPERTIES ('graft.morr' = 'true')")
      }
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"ALTER TABLE $n SET TBLPROPERTIES ('graft.targetBytes' = '-3')")
      }
      assert(pv > 0L)
    } finally GraftSql.unregister(n)
  }

  test("graft.targetBytes re-tunes OPTIMIZE bin-packing; properties " +
    "survive checkpoint + time travel shows each snapshot's own set") {
    val t = Files.createTempDirectory("graft_sqlprops").toString + "/t"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t, (1L to 40L).map(i => (i, i * 2))
      .toDF("id", "v"), partitions = 1) // v0: one file
    // eight more small files
    (1 to 8).foreach(b => TxnTable.append(spark, t,
      (1L to 5L).map(i => (b * 100L + i, i)).toDF("id", "v"),
      partitions = 1))
    GraftSql.register(n, t)
    try {
      // a tiny target forces one-file-per-bin: OPTIMIZE folds nothing
      // into fewer bins than files → version still moves only if
      // something folds; with targetBytes=1 every file is its own bin
      // so nothing is eligible to fold together (unchanged head)
      GraftSql.execute(spark,
        s"ALTER TABLE $n SET TBLPROPERTIES ('graft.targetBytes' = '1')")
      val before = TxnTable.currentVersion(t)
      val r1 = GraftSql.execute(spark, s"OPTIMIZE $n")
      assert(r1 == before && TxnTable.currentVersion(t) == before,
        "targetBytes=1 must make OPTIMIZE a no-op (every bin is one file)")
      // a huge target folds the whole small-file tail into ONE bin;
      // this SET lands on v10 — the checkpoint boundary — so the
      // property must fold through the checkpoint like constraints
      GraftSql.execute(spark, s"ALTER TABLE $n SET TBLPROPERTIES " +
        "('graft.targetBytes' = '1073741824')") // v10 + ckpt
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(t,
        "_graft_log", "ckpt-v0000000010.json")),
        "v10 must have written a checkpoint")
      val r2 = GraftSql.execute(spark, s"OPTIMIZE $n") // v11
      assert(r2 == TxnTable.currentVersion(t) && r2 > before)
      assert(TxnTable.commits(t).last.adds.size == 1,
        "a 1 GiB target must fold the tail into one bin")
      assert(TxnTable.read(spark, t).count() == 80L)
      // properties resolve THROUGH the checkpoint (not a full replay)
      TxnTable.append(spark, t, Seq((9999L, 1L)).toDF("id", "v")) // v12
      assert(TxnTable.properties(t) ==
        Map("graft.targetBytes" -> "1073741824"),
        "properties must replay from the checkpoint")
      // time travel semantics: DESCRIBE HISTORY shows both SETs
      assert(GraftSql.query(spark, s"DESCRIBE HISTORY $n")
        .filter(col("op").startsWith("tblprops:set")).count() == 2L)
    } finally GraftSql.unregister(n)
  }

  test("materialized views are fenced against every mutation verb — " +
    "content must stay equal to the definition (refresh instead)") {
    val d = Files.createTempDirectory("graft_mvf").toString
    val w0 = GraftSql.getWarehouse
    GraftSql.setWarehouse(d)
    val pm = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
    val (t, n) = mk() // 4 rows
    try {
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $pm AS " +
          s"SELECT id, v FROM $n WHERE v > 5")
      val mvPath = GraftSql.query(spark, "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === pm).head().getString(1)
      val v0 = TxnTable.currentVersion(mvPath)
      val stmts = Seq(
        s"INSERT INTO $pm VALUES (9, 9)",
        s"UPDATE $pm SET v = 0 WHERE id = 1",
        s"DELETE FROM $pm WHERE id = 1",
        s"MERGE INTO $pm USING $n ON $pm.id = $n.id " +
          "WHEN MATCHED THEN DELETE",
        s"TRUNCATE TABLE $pm",
        s"OPTIMIZE $pm",
        s"COPY INTO $pm FROM '$d'",
        s"ALTER TABLE $pm ADD COLUMNS (z INT)",
        s"ALTER TABLE $pm DROP COLUMN v",
        s"ALTER TABLE $pm RENAME COLUMN v TO w",
        s"ALTER TABLE $pm ALTER COLUMN id TYPE BIGINT",
        s"ALTER TABLE $pm SET TBLPROPERTIES ('a' = 'b')",
        s"ALTER TABLE $pm UNSET TBLPROPERTIES ('a')",
        s"ALTER TABLE $pm ADD CONSTRAINT c CHECK (v > 0)",
        s"RESTORE TABLE $pm TO VERSION AS OF 0",
        s"REPAIR TABLE $pm",
        s"DROP TABLE $pm",
        s"CREATE OR REPLACE TABLE $pm AS SELECT id FROM $n")
      stmts.foreach { stmt =>
        val e = intercept[IllegalArgumentException] {
          GraftSql.execute(spark, stmt)
        }
        assert(e.getMessage.contains("materialized view"),
          s"'$stmt' must be fenced, got: ${e.getMessage}")
      }
      // nothing committed: the MV's log is untouched and its content
      // still equals its definition
      assert(TxnTable.currentVersion(mvPath) == v0,
        "a fenced verb must commit NOTHING on the MV")
      assert(GraftSql.query(spark, s"SELECT count(*) AS c FROM $pm")
        .head().getLong(0) == 4L)
      // REFRESH (the pointed-at alternative) still works
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1")
      GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $pm")
      assert(GraftSql.query(spark, s"SELECT count(*) AS c FROM $pm")
        .head().getLong(0) == 3L)
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $pm")
    } finally {
      GraftSql.unregister(n)
      w0 match {
        case Some(w) => GraftSql.setWarehouse(w)
        case None => GraftSql.setWarehouse(null)
      }
    }
  }

  test("MV staleness tracks tables referenced THROUGH views (mixed " +
    "table + view definition under-tracked before)") {
    val d = Files.createTempDirectory("graft_mvv").toString
    val w0 = GraftSql.getWarehouse
    GraftSql.setWarehouse(d)
    val pm = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
    val vw = "vw" + java.util.UUID.randomUUID().toString.replace("-", "")
    val (_, n1) = mk() // the view's base table
    val (_, n2) = mk() // directly-referenced table
    try {
      GraftSql.execute(spark,
        s"CREATE VIEW $vw AS SELECT id, v FROM $n1 WHERE v > 15")
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $pm AS " +
          s"SELECT a.id, a.v, b.s FROM $vw a JOIN $n2 b ON a.id = b.id")
      def stale(): Boolean = GraftSql.query(spark,
        "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === pm).head().getBoolean(2)
      assert(!stale(), "freshly created MV must report fresh")
      // mutate ONLY the view's base table: the marker must cover it
      GraftSql.execute(spark, s"DELETE FROM $n1 WHERE id = 4")
      assert(stale(),
        "a change to the view's base table must flip the MV stale")
      GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $pm")
      assert(!stale(), "refresh re-records the transitive sources")
      // and the refreshed content reflects the view-base change:
      // v>15 passes ids 2,3,4; the delete removed 4 → ids 2,3
      assert(GraftSql.query(spark, s"SELECT count(*) AS c FROM $pm")
        .head().getLong(0) == 2L)
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $pm")
      GraftSql.execute(spark, s"DROP VIEW $vw")
    } finally {
      GraftSql.unregister(n1); GraftSql.unregister(n2)
      w0 match {
        case Some(w) => GraftSql.setWarehouse(w)
        case None => GraftSql.setWarehouse(null)
      }
    }
  }

  test("catalog load: tables win deterministically over a cross-" +
    "session-raced matview entry (same rule as views)") {
    val d = Files.createTempDirectory("graft_mvrace").toString
    val w0 = GraftSql.getWarehouse
    GraftSql.setWarehouse(d)
    val (t, n) = mk()
    try {
      GraftSql.enableCatalog(spark)
      GraftSql.register(n, t) // NOW persists table:<n> into the catalog
      // simulate the other session's raced matview:<n> persist by
      // writing the catalog property directly (each side's in-memory
      // guard couldn't see the other's uncommitted entry)
      val catalog = java.nio.file.Paths.get(d, "_graft_catalog").toString
      def j(x: String) = "\"" + x + "\""
      TxnTable.setProperties(catalog, Map(s"matview:$n" ->
        s"{${j("path")}:${j(d + "/ghost")},${j("text")}:${j("SELECT 1")}}"))
      GraftSql.resetSession()
      GraftSql.enableCatalog(spark)
      // the TABLE wins: the name resolves to the table's path and
      // content, and SHOW MATERIALIZED VIEWS does not list it
      assert(GraftSql.query(spark, s"SELECT count(*) AS c FROM $n")
        .head().getLong(0) == 4L,
        "the raced name must resolve to the TABLE")
      assert(GraftSql.query(spark, "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === n).count() == 0L,
        "the shadowed matview entry must not load")
      // and DML on the name stays allowed (it is NOT an MV here)
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1")
      assert(rows(t).size == 3)
    } finally {
      GraftSql.disableCatalog()
      GraftSql.unregister(n)
      w0 match {
        case Some(w) => GraftSql.setWarehouse(w)
        case None => GraftSql.setWarehouse(null)
      }
    }
  }

  test("register(): a dotted registration cannot shadow an MV's bare " +
    "name (guard congruent with the view guard)") {
    val d = Files.createTempDirectory("graft_mvdot").toString
    val w0 = GraftSql.getWarehouse
    GraftSql.setWarehouse(d)
    val pm = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
    val (t, n) = mk()
    try {
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $pm AS SELECT count(*) AS c FROM $n")
      val e = intercept[IllegalArgumentException] {
        GraftSql.register(s"db.$pm", t)
      }
      assert(e.getMessage.contains("materialized view"))
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $pm")
    } finally {
      GraftSql.unregister(n)
      w0 match {
        case Some(w) => GraftSql.setWarehouse(w)
        case None => GraftSql.setWarehouse(null)
      }
    }
  }

  test("CREATE TABLE LIKE preserves the source's recorded " +
    "nullability (not the scan's forced-nullable shape)") {
    val (t, n) = mk() // Seq-derived: id/v are non-nullable longs
    val src = TxnTable.currentSchema(t).getOrElse(
      fail("source must have a recorded schema"))
    assert(!src("id").nullable && !src("v").nullable,
      "precondition: the fixture records NOT NULL columns")
    val dst = Files.createTempDirectory("graft_like").toString + "/t2"
    val n2 = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      GraftSql.execute(spark,
        s"CREATE TABLE $n2 LIKE $n LOCATION '$dst'")
      val got = TxnTable.currentSchema(dst).getOrElse(
        fail("LIKE table must record a schema"))
      assert(got == src,
        s"LIKE must copy the recorded schema exactly; got $got vs $src")
    } finally { GraftSql.unregister(n2); GraftSql.unregister(n) }
  }

  test("incremental MV refresh: fold tiers (cnt / cnt+sum+WHERE / " +
    "full min-max), and full-recompute fallback for every other shape") {
    val d = Files.createTempDirectory("graft_mvinc").toString
    def mvContent(path: String): Set[Seq[Any]] =
      TxnTable.read(spark, path).collect().map(_.toSeq).toSet
    val (_, n) = mk() // (1,10,a) (2,20,b) (3,30,c) (4,40,d)
    val m1 = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
    val m2 = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
    val m3 = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      // tier 1: count-only over a STRING group (no extremes, so no
      // long-group contract) — pure fold, zero recompute reads
      GraftSql.execute(spark, s"CREATE MATERIALIZED VIEW $m1 " +
        s"LOCATION '$d/m1' AS SELECT s, count(*) AS c FROM $n GROUP BY s")
      // tier 2: count+sum behind a row-local WHERE
      GraftSql.execute(spark, s"CREATE MATERIALIZED VIEW $m2 " +
        s"LOCATION '$d/m2' AS SELECT s, count(*) AS c, sum(v) AS sv " +
        s"FROM $n WHERE v > 15 GROUP BY s")
      // tier 3: the full shape over a LONG group
      GraftSql.execute(spark, s"CREATE MATERIALIZED VIEW $m3 " +
        s"LOCATION '$d/m3' AS SELECT id, count(*) AS c, sum(v) AS sv, " +
        s"min(v) AS mn, max(v) AS mx FROM $n GROUP BY id")
      // churn: an insert (new group + an existing one), an update
      // crossing m2's predicate boundary (40 → 12 leaves v>15), a
      // delete removing a group
      GraftSql.execute(spark, s"INSERT INTO $n VALUES (5, 50, 'a')")
      GraftSql.execute(spark, s"UPDATE $n SET v = 12 WHERE id = 4")
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 2")
      val r1 = refresh(m1)
      assert(r1.mode == "incremental")
      assert(r1.recomputeFiles.isEmpty,
        "a pure fold must read nothing beyond the delta")
      assert(mvContent(s"$d/m1") ==
        Set(Seq("a", 2L), Seq("c", 1L), Seq("d", 1L)))
      assert(refresh(m2).mode == "incremental")
      // v>15 now: (3,30,c), (5,50,a) — row 4 dropped OUT via update
      assert(mvContent(s"$d/m2") ==
        Set(Seq("a", 1L, 50L), Seq("c", 1L, 30L)))
      assert(refresh(m3).mode == "incremental")
      assert(mvContent(s"$d/m3") ==
        Set(Seq(1L, 1L, 10L, 10L, 10L), Seq(3L, 1L, 30L, 30L, 30L),
          Seq(4L, 1L, 12L, 12L, 12L), Seq(5L, 1L, 50L, 50L, 50L)))
      // fresh → a second refresh commits NOTHING
      val v1 = TxnTable.currentVersion(s"$d/m1")
      assert(refresh(m1).mode == "noop" && TxnTable.currentVersion(s"$d/m1") == v1)
      // the full min-max tier also maintains STRING groups (pruned
      // recompute via the string-bounds read)
      val m4 = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
      GraftSql.execute(spark, s"CREATE MATERIALIZED VIEW $m4 " +
        s"LOCATION '$d/m4' AS SELECT s, count(*) AS c, sum(v) AS sv, " +
        s"min(v) AS mn, max(v) AS mx FROM $n GROUP BY s")
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 5") // 'a' extreme
      assert(refresh(m4).mode == "incremental")
      assert(mvContent(s"$d/m4") == GraftSql.query(spark,
        s"SELECT s, count(*) AS c, sum(v) AS sv, min(v) AS mn, " +
          s"max(v) AS mx FROM $n GROUP BY s")
        .collect().map(_.toSeq).toSet)
      GraftSql.execute(spark, s"INSERT INTO $n VALUES (5, 50, 'a')")
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $m4")
      // generalized round-18 shapes refresh INCREMENTALLY now: avg
      // and partial tiers (carry+recompute), sum-without-count, and
      // the inner star join (fold through the pinned dim)
      val (_, n2) = mk()
      val nowIncremental = Seq(
        s"SELECT s, avg(v) AS a FROM $n GROUP BY s",       // avg
        s"SELECT s, sum(v) AS sv FROM $n GROUP BY s",      // no count
        s"SELECT s, count(*) AS c, min(v) AS mn FROM $n " +
          "GROUP BY s",                                    // partial tier
        s"SELECT a.s, count(*) AS c FROM $n a JOIN $n2 b " +
          "ON a.id = b.id GROUP BY a.s",                   // star join
        s"SELECT upper(s) AS u, count(*) AS c FROM $n " +
          "GROUP BY upper(s)")                             // expr group
      nowIncremental.zipWithIndex.foreach { case (q, i) =>
        val mv = "pi" + i + java.util.UUID.randomUUID().toString
          .replace("-", "")
        GraftSql.execute(spark,
          s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/i$i' AS $q")
        GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 5")
        GraftSql.execute(spark, s"INSERT INTO $n VALUES (5, 50, 'a')")
        assert(refresh(mv).mode == "incremental", s"shape must fold: $q")
        assert(mvContent(s"$d/i$i") ==
          directSet(q),
          s"incremental refresh must equal the definition re-run: $q")
        GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
      }
      // count(DISTINCT) without a count(*) companion joined the
      // contract in round 19: the carry+recompute regime re-counts
      // touched groups from the pinned source
      val mvD = "pd" + java.util.UUID.randomUUID().toString
        .replace("-", "")
      val qD = s"SELECT s, count(DISTINCT v) AS c FROM $n GROUP BY s"
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mvD LOCATION '$d/pd' AS $qD")
      GraftSql.execute(spark, s"UPDATE $n SET v = v + 1 WHERE id = 5")
      assert(refresh(mvD).mode == "incremental", "distinct counts now fold")
      assert(mvContent(s"$d/pd") ==
        GraftSql.query(spark, qD).collect().map(_.toSeq).toSet)
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mvD")
      // every shape OUTSIDE the contract takes the full path
      val fallbacks = Seq(
        s"SELECT a.s, count(*) AS c FROM $n a JOIN $n b " +
          "ON a.id = b.id GROUP BY a.s",                   // self-join
        s"SELECT a.s, count(*) AS c FROM $n a LEFT JOIN $n2 b " +
          "ON a.id = b.id GROUP BY a.s",                   // outer join
        s"SELECT s, count(*) AS c FROM $n " +
          s"WHERE v > (SELECT avg(v) FROM $n) GROUP BY s") // subquery
      fallbacks.zipWithIndex.foreach { case (q, i) =>
        val mv = "pf" + i + java.util.UUID.randomUUID().toString
          .replace("-", "")
        GraftSql.execute(spark,
          s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/f$i' AS $q")
        GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 5")
        GraftSql.execute(spark, s"INSERT INTO $n VALUES (5, 50, 'a')")
        assert(refresh(mv).mode == "full", s"shape must fall back: $q")
        // the fallback result still equals the definition re-run
        assert(mvContent(s"$d/f$i") ==
          directSet(q))
        GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
      }
      GraftSql.unregister(n2)
      Seq(m1, m2, m3).foreach(m =>
        GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $m"))
    } finally GraftSql.unregister(n)
  }

  test("curation statement twins: DEDUP mutates atomically, MIX is " +
    "rows-out, quality_filter composes; refusals are loud") {
    import graft.core.TxnTable
    val d = Files.createTempDirectory("graft_curstmt").toString
    val t = d + "/docs"
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog today",
      "the quick brown fox jumps over the lazy dog today",  // dup of 1
      "an entirely different document about spark engines here",
      "the quick brown fox jumps over the lazy dog tonight") // near-dup
    TxnTable.create(spark, t, texts.zipWithIndex
      .map { case (x, i) => (i.toLong + 1, "web", x) }
      .toDF("doc_id", "source", "text"))
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    GraftSql.register(n, t)
    try {
      // quality_filter: scored column present, threshold literal only
      val q = GraftSql.query(spark,
        s"SELECT doc_id, quality_logit FROM quality_filter('$n', " +
          "'text', -100000000)")
      assert(q.count() == 4 && q.columns.contains("quality_logit"))
      intercept[IllegalArgumentException] {
        GraftSql.query(spark,
          s"SELECT * FROM quality_filter('$n', 'text', doc_id)").collect()
      }
      // MIX: rows out via query(); execute() redirects; WEIGH must be
      // row-local
      val kept = GraftSql.query(spark,
        s"MIX $n ON doc_id BY source WEIGH size(split(text, ' ')) " +
          "BUDGETS ('web' = 25)")
      assert(kept.count() > 0 && kept.count() < 4)
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          s"MIX $n ON doc_id BY source WEIGH 1 BUDGETS ('web' = 5)")
      }
      intercept[IllegalArgumentException] {
        GraftSql.query(spark, s"MIX $n ON doc_id BY source " +
          s"WEIGH (SELECT 1) BUDGETS ('web' = 5)")
      }
      // DEDUP: KEEP BY must be row-local; the verb commits once
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"DEDUP $n USING MINHASH (text) " +
          "ON doc_id KEEP BY (SELECT 1)")
      }
      val v = GraftSql.execute(spark,
        s"DEDUP $n USING MINHASH (text) ON doc_id")
      assert(v == 1L && TxnTable.commits(t).last.op == "dedup:minhash")
      val ids = TxnTable.read(spark, t).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.contains(3L) && ids.contains(1L) && !ids.contains(2L),
        s"exact dup must fold to the min id, got $ids")
      // unregistered targets refuse
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark,
          "DEDUP no_such_tbl USING MINHASH (text) ON doc_id")
      }
      // SPLIT: deterministic assignment, rows out, refusals
      val sp = GraftSql.query(spark,
        s"SPLIT $n ON doc_id INTO ('train' = 3, 'test' = 1)")
      assert(sp.columns.contains("split"))
      assert(sp.select("split").distinct().collect()
        .map(_.getString(0)).toSet.subsetOf(Set("train", "test")))
      intercept[IllegalArgumentException] {
        GraftSql.query(spark,
          s"SPLIT $n ON doc_id INTO ('a' = 1, 'a' = 2)") // dup name
      }
      intercept[IllegalArgumentException] {
        GraftSql.query(spark, s"SPLIT $n ON doc_id INTO (garbage)")
      }
    } finally GraftSql.unregister(n)
  }

  test("generalized incremental refresh: avg, multi-column GROUP BY, " +
    "and a five-kind aggregate mix all track a direct recompute") {
    val d = Files.createTempDirectory("graft_mvgen").toString
    val t = d + "/src"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t,
      (1L to 40L).map(i => (i, i % 5, s"s${i % 3}", i * 10))
        .toDF("id", "g1", "g2", "v"))
    GraftSql.register(n, t)
    val defs = Seq(
      // avg alone (carry+recompute), single group
      s"SELECT g1, avg(v) AS av, count(*) AS c FROM $n GROUP BY g1",
      // multi-column GROUP BY, pure fold
      s"SELECT g1, g2, count(*) AS c, sum(v) AS sv FROM $n " +
        "GROUP BY g1, g2",
      // all five kinds over a multi-column group, mixed order, WHERE
      s"SELECT g2, min(v) AS mn, count(*) AS c, g1, avg(v) AS av, " +
        s"max(v) AS mx, sum(v) AS sv FROM $n WHERE id <> 13 " +
        "GROUP BY g2, g1",
      // two aggregates over DIFFERENT value columns
      s"SELECT g2, count(*) AS c, sum(v) AS sv, sum(id) AS si, " +
        s"min(id) AS mi FROM $n GROUP BY g2")
    val mvs = defs.zipWithIndex.map { case (q, i) =>
      val mv = "pg" + i + java.util.UUID.randomUUID().toString
        .replace("-", "")
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/g$i' AS $q")
      (mv, q, s"$d/g$i")
    }
    try {
      val churn = Seq(
        s"INSERT INTO $n VALUES (100, 1, 's0', 5), (101, 9, 's9', -3)",
        s"UPDATE $n SET v = v + 1 WHERE g1 = 2",
        s"DELETE FROM $n WHERE id % 7 = 0",
        // remove a whole group (g1=9) and an extreme (max id)
        s"DELETE FROM $n WHERE g1 = 9 OR id = 101")
      churn.foreach { stmt =>
        GraftSql.execute(spark, stmt)
        mvs.foreach { case (mv, q, p) =>
          assert(refresh(mv).mode == "incremental",
            s"must stay incremental for: $q after $stmt")
          assert(TxnTable.read(spark, p).collect().map(_.toSeq).toSet ==
            directSet(q),
            s"diverged from recompute: $q after $stmt")
        }
      }
    } finally {
      mvs.foreach { case (mv, _, _) =>
        try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
        catch { case _: Exception => () } }
      GraftSql.unregister(n)
    }
  }

  test("HAVING-clause MVs refresh incrementally through " +
    "carry+recompute; unresolvable HAVINGs fall back") {
    val d = Files.createTempDirectory("graft_mvhav").toString
    val t = d + "/src"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t,
      (1L to 60L).map(i => (i, i % 6, i * 10)).toDF("id", "g", "v"))
    GraftSql.register(n, t)
    val defs = Seq(
      // aggregate call in the HAVING (count(*) maps to the c item)
      s"SELECT g, count(*) AS c, sum(v) AS sv FROM $n GROUP BY g " +
        "HAVING count(*) > 8",
      // alias + group-column references
      s"SELECT g, count(*) AS c FROM $n GROUP BY g " +
        "HAVING c > 8 AND g <> 2",
      // HAVING over an avg also in the SELECT
      s"SELECT g, avg(v) AS av, count(*) AS c FROM $n GROUP BY g " +
        "HAVING avg(v) > 250")
    val mvs = defs.zipWithIndex.map { case (q, i) =>
      val mv = "ph" + i + java.util.UUID.randomUUID().toString
        .replace("-", "")
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/h$i' AS $q")
      (mv, q, s"$d/h$i")
    }
    try {
      val churn = Seq(
        // push a group BELOW the bar (g=1: delete most rows)
        s"DELETE FROM $n WHERE g = 1 AND id > 13",
        // push a group's avg ACROSS the bar
        s"UPDATE $n SET v = v + 400 WHERE g = 2",
        // grow a NEW group past the bar
        s"INSERT INTO $n VALUES " +
          (100L to 110L).map(i => s"($i, 9, ${i * 10})").mkString(", "))
      churn.foreach { stmt =>
        GraftSql.execute(spark, stmt)
        mvs.foreach { case (mv, q, p) =>
          assert(refresh(mv).mode == "incremental",
            s"HAVING shape must stay incremental: $q after $stmt")
          assert(TxnTable.read(spark, p).collect().map(_.toSeq).toSet ==
            directSet(q),
            s"diverged: $q after $stmt")
        }
      }
      // a HAVING over an aggregate NOT in the SELECT cannot resolve
      // onto the outputs → the always-correct full path
      val mvF = "phf" + java.util.UUID.randomUUID().toString
        .replace("-", "")
      val qf = s"SELECT g, count(*) AS c FROM $n GROUP BY g " +
        "HAVING max(v) > 100"
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mvF LOCATION '$d/hf' AS $qf")
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 3")
      assert(refresh(mvF).mode == "full", "an unresolvable HAVING must fall back")
      assert(TxnTable.read(spark, s"$d/hf").collect().map(_.toSeq).toSet
        == GraftSql.query(spark, qf).collect().map(_.toSeq).toSet)
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mvF")
    } finally {
      mvs.foreach { case (mv, _, _) =>
        try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
        catch { case _: Exception => () } }
      GraftSql.unregister(n)
    }
  }

  test("star-join MV: the changed side's delta folds through the " +
    "pinned other side; two changed sides fold telescopically") {
    val d = Files.createTempDirectory("graft_mvjoin").toString
    val ft = d + "/fact"
    val dt = d + "/dim"
    val fn = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dn = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, ft,
      (1L to 60L).map(i => (i, i % 6, i * 100)).toDF("id", "k", "v"))
    TxnTable.create(spark, dt,
      (0L to 5L).map(k => (k, s"region_${k % 3}")).toDF("k", "rg"))
    GraftSql.register(fn, ft)
    GraftSql.register(dn, dt)
    val mv = "pj" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s"SELECT d.rg, count(*) AS c, sum(f.v) AS sv " +
      s"FROM $fn f JOIN $dn d ON f.k = d.k GROUP BY d.rg"
    try {
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/mv' AS $q")
      def checkParity(): Unit =
        assert(TxnTable.read(spark, s"$d/mv").collect()
          .map(_.toSeq).toSet ==
          directSet(q))
      // FACT delta folds through the broadcast dim, zero recompute
      GraftSql.execute(spark, s"UPDATE $fn SET v = v + 7 WHERE id <= 10")
      val r1 = refresh(mv)
      assert(r1.mode == "incremental", "fact delta must fold")
      assert(r1.recomputeFiles.isEmpty,
        "a count/sum star fold must read nothing beyond the delta")
      checkParity()
      // DIM delta folds the other way (substitution is symmetric):
      // a re-labelled dim row moves its fact rows between groups
      GraftSql.execute(spark,
        s"UPDATE $dn SET rg = 'region_x' WHERE k = 4")
      assert(refresh(mv).mode == "incremental", "dim delta must fold too")
      checkParity()
      // an unmatched fact key never surfaces (inner join semantics)
      GraftSql.execute(spark, s"INSERT INTO $fn VALUES (200, 99, 1)")
      assert(refresh(mv).mode == "incremental")
      checkParity()
      // BOTH sides changed since the marker: the telescoping
      // expansion folds the fact Δ against the OLD dim, then the dim
      // Δ against the NEW fact — incremental and exact
      GraftSql.execute(spark, s"DELETE FROM $fn WHERE id = 3")
      GraftSql.execute(spark, s"DELETE FROM $dn WHERE k = 5")
      assert(refresh(mv).mode == "incremental",
        "two changed relations must fold telescopically")
      checkParity()
      // a THREE-way churn in one window folds too (insert + update +
      // dim relabel between refreshes)
      GraftSql.execute(spark, s"INSERT INTO $fn VALUES (201, 2, 9)")
      GraftSql.execute(spark, s"UPDATE $fn SET v = v - 5 WHERE id = 7")
      GraftSql.execute(spark,
        s"UPDATE $dn SET rg = 'region_y' WHERE k = 1")
      assert(refresh(mv).mode == "incremental")
      checkParity()
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
      catch { case _: Exception => () }
      GraftSql.unregister(fn); GraftSql.unregister(dn)
    }
  }

  test("REFRESH MATERIALIZED VIEW ... FULL skips the recognizer — the " +
    "operational escape hatch recomputes from the definition") {
    val d = Files.createTempDirectory("graft_mvfull").toString
    val (t, n) = mk()
    val mv = "pf" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      GraftSql.execute(spark, s"CREATE MATERIALIZED VIEW $mv " +
        s"LOCATION '$d/mv' AS SELECT s, count(*) AS c FROM $n GROUP BY s")
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1")
      // the foldable shape would refresh incrementally — FULL forces
      // the recompute and still clears staleness
      assert(refresh(mv, full = true).mode == "full",
        "FULL must skip the incremental path")
      assert(TxnTable.read(spark, s"$d/mv").collect().map(_.toSeq).toSet
        == GraftSql.query(spark,
          s"SELECT s, count(*) AS c FROM $n GROUP BY s")
          .collect().map(_.toSeq).toSet)
      assert(!GraftSql.query(spark, "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === mv).head().getBoolean(2),
        "a FULL refresh must clear staleness")
      // the plain form still folds afterwards
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 2")
      assert(refresh(mv).mode == "incremental")
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
    } finally GraftSql.unregister(n)
  }

  test("expression group keys: time-bucket / modulo-band MVs refresh " +
    "incrementally through both regimes") {
    val d = Files.createTempDirectory("graft_mvexpr").toString
    val t = d + "/src"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t, (1L to 200L)
      .map(i => (i, i % 13, i * 10, s"s${i % 4}")).toDF("id", "g", "v", "s"))
    GraftSql.register(n, t)
    val defs = Seq(
      // modulo band: pure fold
      s"SELECT v % 100 AS band, count(*) AS c, sum(v) AS sv " +
        s"FROM $n GROUP BY v % 100",
      // function group + mixed group arity: pure fold
      s"SELECT upper(s) AS u, g, count(*) AS c FROM $n " +
        "GROUP BY upper(s), g",
      // expression group through carry+recompute (min present)
      s"SELECT id % 7 AS b7, count(*) AS c, min(v) AS mn FROM $n " +
        "GROUP BY id % 7",
      // expression group + HAVING referencing the group expression
      s"SELECT v % 100 AS band, count(*) AS c FROM $n " +
        "GROUP BY v % 100 HAVING v % 100 > 10 AND count(*) > 2")
    val mvs = defs.zipWithIndex.map { case (q, i) =>
      val mv = "pe" + i + java.util.UUID.randomUUID().toString
        .replace("-", "")
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/e$i' AS $q")
      (mv, q, s"$d/e$i")
    }
    try {
      val churn = Seq(
        s"UPDATE $n SET v = v + 3 WHERE id % 9 = 0",
        s"DELETE FROM $n WHERE id % 17 = 0",
        s"INSERT INTO $n VALUES (500, 2, 35, 's9'), (501, 3, 135, 's1')")
      churn.foreach { stmt =>
        GraftSql.execute(spark, stmt)
        mvs.foreach { case (mv, q, p) =>
          assert(refresh(mv).mode == "incremental",
            s"expression groups must fold: $q after $stmt")
          assert(TxnTable.read(spark, p).collect().map(_.toSeq).toSet ==
            directSet(q),
            s"diverged: $q after $stmt")
        }
      }
    } finally {
      mvs.foreach { case (mv, _, _) =>
        try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
        catch { case _: Exception => () } }
      GraftSql.unregister(n)
    }
  }

  test("count(col) MVs fold the NON-NULL count exactly, nullable " +
    "values included") {
    val d = Files.createTempDirectory("graft_mvcntc").toString
    val t = d + "/src"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t, Seq(
      (1L, 0L, Some(10L)), (2L, 0L, None), (3L, 1L, Some(30L)),
      (4L, 1L, None), (5L, 2L, Some(50L))).toDF("id", "g", "v"))
    GraftSql.register(n, t)
    val defs = Seq(
      // pure fold: count(*) + count(v) + sum(v)
      s"SELECT g, count(*) AS c, count(v) AS cv, sum(v) AS sv " +
        s"FROM $n GROUP BY g",
      // carry+recompute: avg alongside count(v)
      s"SELECT g, count(v) AS cv, avg(v) AS av, count(*) AS c " +
        s"FROM $n GROUP BY g")
    val mvs = defs.zipWithIndex.map { case (q, i) =>
      val mv = "pc" + i + java.util.UUID.randomUUID().toString
        .replace("-", "")
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/c$i' AS $q")
      (mv, q, s"$d/c$i")
    }
    try {
      val churn = Seq(
        s"INSERT INTO $n VALUES (6, 0, NULL), (7, 0, 70)", // null lands
        s"UPDATE $n SET v = NULL WHERE id = 3",            // value → null
        s"DELETE FROM $n WHERE id = 2")                    // null leaves
      churn.foreach { stmt =>
        GraftSql.execute(spark, stmt)
        mvs.foreach { case (mv, q, p) =>
          assert(refresh(mv).mode == "incremental", s"must fold: $q after $stmt")
          assert(TxnTable.read(spark, p).collect().map(_.toSeq).toSet ==
            directSet(q),
            s"diverged: $q after $stmt")
        }
      }
      // a NAKED sum (no matching count(col)) whose group loses its
      // last non-null value is the one ambiguous fold state (folded
      // sum lands on exactly 0) — it must take the full path and
      // still serve the SQL-correct NULL, never a fabricated 0
      val mvN = "pcn" + java.util.UUID.randomUUID().toString
        .replace("-", "")
      val qn = s"SELECT g, count(*) AS c, sum(v) AS sv FROM $n GROUP BY g"
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mvN LOCATION '$d/cn' AS $qn")
      GraftSql.execute(spark, s"UPDATE $n SET v = NULL WHERE id = 5")
      assert(refresh(mvN).mode == "full",
        "an all-null-transition under a naked sum must fall back")
      val g2 = TxnTable.read(spark, s"$d/cn")
        .filter(col("g") === 2L).head()
      assert(g2.isNullAt(2), s"sum over no non-null values is NULL: $g2")
      assert(TxnTable.read(spark, s"$d/cn").collect().map(_.toSeq).toSet
        == GraftSql.query(spark, qn).collect().map(_.toSeq).toSet)
      // an untouched genuine-zero group never forces the fallback
      GraftSql.execute(spark,
        s"INSERT INTO $n VALUES (8, 3, 5), (9, 3, -5)")
      GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $mvN")
      GraftSql.execute(spark, s"INSERT INTO $n VALUES (10, 0, 1)")
      assert(refresh(mvN).mode == "incremental",
        "an untouched stored zero-sum group must not force the full path")
      assert(TxnTable.read(spark, s"$d/cn").collect().map(_.toSeq).toSet
        == GraftSql.query(spark, qn).collect().map(_.toSeq).toSet)
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mvN")
    } finally {
      mvs.foreach { case (mv, _, _) =>
        try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
        catch { case _: Exception => () } }
      GraftSql.unregister(n)
    }
  }

  test("the narrow count/sum/min/max tier keeps SQL null semantics: " +
    "an all-null transition recomputes through the extremes path") {
    val d = Files.createTempDirectory("graft_mvnulln").toString
    val t = d + "/src"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t, Seq(
      (1L, 0L, Some(10L)), (2L, 0L, Some(-10L)), (3L, 0L, None),
      (4L, 1L, Some(40L)), (5L, 1L, Some(50L))).toDF("id", "g", "v"))
    GraftSql.register(n, t)
    val mv = "pn" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s"SELECT g, count(*) AS c, sum(v) AS sv, min(v) AS mn, " +
      s"max(v) AS mx FROM $n GROUP BY g"
    try {
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/mv' AS $q")
      // group 0 loses BOTH non-null values (which sum to exactly 0 —
      // the ambiguous fold state): the removed values sit at the
      // extremes, so the pruned recompute fires and serves NULLs
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id IN (1, 2)")
      assert(refresh(mv).mode == "incremental",
        "the extremes tier handles the transition incrementally")
      val g0 = TxnTable.read(spark, s"$d/mv")
        .filter(col("g") === 0L).head()
      assert(g0.getLong(1) == 1L && g0.isNullAt(2) && g0.isNullAt(3) &&
        g0.isNullAt(4),
        s"sum/min/max over no non-null values must be NULL: $g0")
      assert(TxnTable.read(spark, s"$d/mv").collect().map(_.toSeq).toSet
        == directSet(q))
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
      catch { case _: Exception => () }
      GraftSql.unregister(n)
    }
  }

  test("three-relation MV: all three relations changed in one window " +
    "fold telescopically and track a direct recompute") {
    val d = Files.createTempDirectory("graft_mv3rel").toString
    val ft = d + "/fact"; val at = d + "/dima"; val bt = d + "/dimb"
    val fn = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    val an = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    val bn = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, ft, (1L to 120L)
      .map(i => (i, i % 4, i % 5, i * 10)).toDF("id", "ka", "kb", "v"))
    TxnTable.create(spark, at,
      (0L to 3L).map(k => (k, s"a${k % 2}")).toDF("ka", "la"))
    TxnTable.create(spark, bt,
      (0L to 4L).map(k => (k, s"b${k % 2}")).toDF("kb", "lb"))
    GraftSql.register(fn, ft)
    GraftSql.register(an, at)
    GraftSql.register(bn, bt)
    val mv = "p3" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s"SELECT a.la, b.lb, count(*) AS c, sum(f.v) AS sv " +
      s"FROM $fn f JOIN $an a ON f.ka = a.ka " +
      s"JOIN $bn b ON f.kb = b.kb GROUP BY a.la, b.lb"
    try {
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/mv' AS $q")
      def check(): Unit = {
        assert(refresh(mv).mode == "incremental",
          "an all-three-changed window must fold telescopically")
        assert(TxnTable.read(spark, s"$d/mv").collect()
          .map(_.toSeq).toSet ==
          directSet(q))
      }
      // window 1: all three relations churn before one refresh
      GraftSql.execute(spark, s"UPDATE $fn SET v = v + 1 WHERE id <= 30")
      GraftSql.execute(spark, s"UPDATE $an SET la = 'a9' WHERE ka = 2")
      GraftSql.execute(spark, s"DELETE FROM $bn WHERE kb = 4")
      check()
      // window 2: repeated multi-churn on the REFRESHED marker (the
      // double-replay hole: every changed version must have been
      // pinned by the previous refresh)
      GraftSql.execute(spark, s"DELETE FROM $fn WHERE id % 11 = 0")
      GraftSql.execute(spark, s"UPDATE $an SET la = 'a7' WHERE ka = 0")
      GraftSql.execute(spark, s"INSERT INTO $bn VALUES (4, 'b4')")
      check()
      // window 3: inserts landing in re-labeled groups
      GraftSql.execute(spark,
        s"INSERT INTO $fn VALUES (500, 2, 4, 7), (501, 0, 0, 8)")
      GraftSql.execute(spark, s"UPDATE $bn SET lb = 'b9' WHERE kb = 1")
      check()
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
      catch { case _: Exception => () }
      GraftSql.unregister(fn); GraftSql.unregister(an)
      GraftSql.unregister(bn)
    }
  }

  test("generalized incremental refresh keeps NULL group keys: " +
    "carried when untouched, exact when hit") {
    val d = Files.createTempDirectory("graft_mvnullg").toString
    val t = d + "/src"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t, Seq(
      (1L, Option.empty[Long], 10L), (2L, Option.empty[Long], 30L),
      (3L, Some(1L), 100L), (4L, Some(2L), 200L))
      .toDF("id", "g", "v"))
    GraftSql.register(n, t)
    val mv = "pn" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s"SELECT g, count(*) AS c, avg(v) AS av, min(v) AS mn " +
      s"FROM $n GROUP BY g"
    try {
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/mv' AS $q")
      def parity(): Unit =
        assert(TxnTable.read(spark, s"$d/mv").collect()
          .map(_.toSeq).toSet ==
          directSet(q))
      // untouched null group carried through a non-null delta
      GraftSql.execute(spark, s"UPDATE $n SET v = 150 WHERE id = 3")
      assert(refresh(mv).mode == "incremental"); parity()
      // the null group hit directly (its min removed)
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1")
      assert(refresh(mv).mode == "incremental"); parity()
      // a new null-group row arrives
      GraftSql.execute(spark, s"INSERT INTO $n VALUES (5, NULL, 7)")
      assert(refresh(mv).mode == "incremental"); parity()
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
      catch { case _: Exception => () }
      GraftSql.unregister(n)
    }
  }

  test("a source commit landing MID-REFRESH leaves the MV stale — " +
    "the marker pins the version the refresh consumed") {
    val d = Files.createTempDirectory("graft_mvrace2").toString
    val w0 = GraftSql.getWarehouse
    GraftSql.setWarehouse(d)
    val pm = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
    val (_, n) = mk()
    try {
      GraftSql.execute(spark, s"CREATE MATERIALIZED VIEW $pm AS " +
        s"SELECT s, count(*) AS c FROM $n GROUP BY s")
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1") // stale
      // the racing commit fires inside the refresh's own commit window
      var fired = false
      TxnTable.preCommitHook = () => if (!fired) {
        fired = true
        GraftSql.execute(spark, s"INSERT INTO $n VALUES (9, 90, 'z')")
      }
      try GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $pm")
      finally TxnTable.preCommitHook = () => ()
      assert(fired, "the race must have fired")
      // the refresh consumed the pre-race version: content excludes
      // the raced row AND the MV reports STALE, never silently fresh
      assert(GraftSql.query(spark, s"SELECT sum(c) AS n FROM $pm")
        .head().getLong(0) == 3L,
        "the refresh must serve the version it consumed")
      assert(GraftSql.query(spark, "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === pm).head().getBoolean(2),
        "a mid-refresh source commit must leave the MV stale")
      // the NEXT refresh catches up and clears
      GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $pm")
      assert(GraftSql.query(spark, s"SELECT sum(c) AS n FROM $pm")
        .head().getLong(0) == 4L)
      assert(!GraftSql.query(spark, "SHOW MATERIALIZED VIEWS")
        .filter(col("name") === pm).head().getBoolean(2))
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $pm")
    } finally {
      TxnTable.preCommitHook = () => ()
      GraftSql.unregister(n)
      w0 match {
        case Some(w) => GraftSql.setWarehouse(w)
        case None => GraftSql.setWarehouse(null)
      }
    }
  }

  test("a DAMAGED materialization heals through REFRESH: the fold " +
    "never seeds from missing files — the full recompute reads only " +
    "the sources") {
    val d = Files.createTempDirectory("graft_mvdmg").toString
    val w0 = GraftSql.getWarehouse
    GraftSql.setWarehouse(d)
    val pm = "pm" + java.util.UUID.randomUUID().toString.replace("-", "")
    val (_, n) = mk()
    try {
      GraftSql.execute(spark, s"CREATE MATERIALIZED VIEW $pm " +
        s"LOCATION '$d/mv' AS SELECT s, count(*) AS c FROM $n GROUP BY s")
      // out-of-band loss of an MV data file
      val lost = TxnTable.snapshotFiles(s"$d/mv").head
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$d/mv").resolve(lost))
      // even with the SOURCE unchanged, REFRESH must heal (full path)
      assert(refresh(pm).mode == "full",
        "a damaged MV must take the healing full recompute")
      assert(GraftSql.query(spark, s"SELECT sum(c) AS n FROM $pm")
        .head().getLong(0) == 4L, "the refresh must heal the content")
      // healed: the next refresh folds incrementally again
      GraftSql.execute(spark, s"DELETE FROM $n WHERE id = 1")
      assert(refresh(pm).mode == "incremental")
      assert(GraftSql.query(spark, s"SELECT sum(c) AS n FROM $pm")
        .head().getLong(0) == 3L)
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $pm")
    } finally {
      GraftSql.unregister(n)
      w0 match {
        case Some(w) => GraftSql.setWarehouse(w)
        case None => GraftSql.setWarehouse(null)
      }
    }
  }

  test("COPY INTO FROM STREAM: CSV coerces to the table shape with " +
    "FAILFAST (a malformed drop commits nothing), CHECKPOINT clause " +
    "pins the stream state") {
    val d = Files.createTempDirectory("graft_cps").toString
    val t = d + "/t"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t,
      Seq((1L, 10L)).toDF("id", "v").limit(0))
    GraftSql.register(n, t)
    try {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$d/land/b1"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/land/b1/a.csv"),
        "id,v\n1,10\n2,20\n")
      val stmt = s"COPY INTO $n FROM STREAM '$d/land' FORMAT AS CSV " +
        s"CHECKPOINT '$d/ckpt'"
      GraftSql.execute(spark, stmt)
      assert(rows2(t) == Set((1L, 10L), (2L, 20L)),
        "CSV text must coerce to the table's long columns")
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$d/ckpt")),
        "the CHECKPOINT clause must pin the stream state there")
      // a malformed drop fails LOUDLY (FAILFAST) and commits nothing
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/land/b1/bad.csv"),
        "id,v\n3,notanumber\n")
      val top = TxnTable.currentVersion(t)
      intercept[Exception] { GraftSql.execute(spark, stmt) }
      assert(TxnTable.currentVersion(t) == top &&
        rows2(t) == Set((1L, 10L), (2L, 20L)),
        "a malformed streaming batch must commit NOTHING")
    } finally GraftSql.unregister(n)
  }

  private def rows2(t: String): Set[(Long, Long)] =
    TxnTable.read(spark, t).as[(Long, Long)].collect().toSet

  test("COPY INTO FROM STREAM TRIGGER INTERVAL: timed drops land " +
    "exactly-once; STOP + re-issue resumes from the file registry") {
    val d = Files.createTempDirectory("graft_cpi").toString
    val t = d + "/t"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t, Seq((1L, 10L)).toDF("id", "v").limit(0))
    GraftSql.register(n, t)
    def drop(name: String, lo: Long, hi: Long): Unit =
      (lo until hi).map(i => (i, i * 10)).toDF("id", "v")
        .coalesce(1).write.parquet(s"$d/land/$name")
    def awaitCount(want: Long): Unit = {
      val deadline = System.nanoTime() + 90L * 1000000000L
      var got = -1L
      while (got != want && System.nanoTime() < deadline) {
        got = TxnTable.read(spark, t).count()
        if (got != want) Thread.sleep(500)
      }
      assert(got == want, s"stream never reached $want rows (at $got)")
    }
    val continuous = s"COPY INTO $n FROM STREAM '$d/land' " +
      "TRIGGER INTERVAL '1 seconds'"
    try {
      drop("b1", 0L, 5L)
      GraftSql.execute(spark, continuous) // returns immediately
      awaitCount(5L) // first timed drop lands without re-issuing
      drop("b2", 5L, 10L)
      awaitCount(10L) // second timed drop lands on the interval
      // a second statement must not race the running query
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, continuous)
      }
      GraftSql.execute(spark, s"STOP COPY INTO $n FROM STREAM '$d/land'")
      // stopping twice refuses loudly
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"STOP COPY INTO $n FROM STREAM '$d/land'")
      }
      // after the stop nothing ingests...
      drop("b3", 10L, 15L)
      Thread.sleep(2500)
      assert(TxnTable.read(spark, t).count() == 10L,
        "a stopped stream must not ingest")
      // ...and a re-issue (the AvailableNow default) resumes from the
      // checkpoint + file registry: only b3 loads, exactly once
      GraftSql.execute(spark, s"COPY INTO $n FROM STREAM '$d/land'")
      assert(TxnTable.read(spark, t).count() == 15L)
      assert(rows2(t) == (0L until 15L).map(i => (i, i * 10)).toSet,
        "each drop must land exactly once across trigger modes")
      // no duplicate rows ever: every id is unique
      assert(TxnTable.read(spark, t).select("id").distinct().count() == 15L)
    } finally {
      try GraftSql.execute(spark,
        s"STOP COPY INTO $n FROM STREAM '$d/land'")
      catch { case _: Exception => () }
      GraftSql.unregister(n)
    }
  }

  test("MV fold fence: a scalar subquery NESTED in a join condition " +
    "(below the WHERE filter) forces the always-correct full path") {
    val d = Files.createTempDirectory("graft_mvsubq").toString
    val ft = d + "/fact"
    val dt = d + "/dim"
    val fn = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dn = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, ft,
      (1L to 30L).map(i => (i, i % 5, i * 10)).toDF("id", "k", "v"))
    TxnTable.create(spark, dt,
      (0L to 4L).map(i => (i, s"g${i % 2}")).toDF("k", "g"))
    GraftSql.register(fn, ft)
    GraftSql.register(dn, dt)
    // the subquery hides INSIDE the Join node's condition, one level
    // below the WHERE Filter — a top-node-only expressions() check
    // misses it; its value drifts with the dim's content, so carrying
    // state across refreshes would be silently wrong
    val q = s"SELECT d.g AS g, count(*) AS c, sum(f.v) AS sv " +
      s"FROM $fn f JOIN $dn d ON f.k = d.k AND " +
      s"d.k < (SELECT max(k) FROM $dn) " +
      s"WHERE f.v >= 0 GROUP BY d.g"
    val mv = "pq" + java.util.UUID.randomUUID().toString.replace("-", "")
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/mv' AS $q")
    try {
      // shift the subquery's value AND the fact in one window: a
      // carried fold would apply the delta under the OLD max(k)
      GraftSql.execute(spark, s"INSERT INTO $dn VALUES (9, 'g1')")
      GraftSql.execute(spark, s"INSERT INTO $fn VALUES (100, 4, 7)")
      assert(refresh(mv).mode == "full",
        "a subquery in a nested join condition must fall back")
      assert(TxnTable.read(spark, s"$d/mv").collect().map(_.toSeq).toSet
        == directSet(q))
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
      catch { case _: Exception => () }
      GraftSql.unregister(fn); GraftSql.unregister(dn)
    }
  }

  test("carry+recompute bounds its driver state: narrow churn collects " +
    "few keys; wide high-cardinality churn falls back WITHOUT a " +
    "driver materialization") {
    val d = Files.createTempDirectory("graft_mvcap").toString
    val t = d + "/src"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    // 1000 distinct groups → MV rows 1000 → cap = max(64, 100) = 100
    TxnTable.create(spark, t,
      (1L to 1000L).map(i => (i, i, i * 10)).toDF("id", "g", "v"))
    GraftSql.register(n, t)
    val q = s"SELECT g, avg(v) AS av, count(*) AS c FROM $n GROUP BY g"
    val mv = "pc" + java.util.UUID.randomUUID().toString.replace("-", "")
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW $mv LOCATION '$d/mv' AS $q")
    def checkContent(): Unit =
      assert(TxnTable.read(spark, s"$d/mv").collect().map(_.toSeq).toSet
        == directSet(q))
    try {
      // NARROW churn: 5 touched groups — the probe counts 5, the
      // collect ships exactly those 5 tuples, refresh stays incremental
      GraftSql.execute(spark, s"INSERT INTO $n VALUES " +
        (1L to 5L).map(g => s"(${1000 + g}, $g, 7)").mkString(", "))
      val narrow = refreshRecord(mv)
      assert(narrow.get(GraftSql.MvRefresh).map(_.mode).contains("incremental"))
      assert(narrow.get(GraftSql.MvCarryProbe).contains(5L) &&
        narrow.get(GraftSql.MvCarryKeys).contains(5L),
        s"narrow churn must collect exactly the touched keys, got $narrow")
      checkContent()
      // WIDE churn: 200 touched groups > cap=100 — the DISTRIBUTED
      // probe stops at cap+1 and the refresh falls back to the full
      // recompute with ZERO group tuples ever collected
      GraftSql.execute(spark, s"INSERT INTO $n VALUES " +
        (101L to 300L).map(g => s"(${2000 + g}, $g, 3)").mkString(", "))
      val wide = refreshRecord(mv)
      assert(wide.get(GraftSql.MvRefresh).map(_.mode).contains("full"),
        "wide churn past the absolute cap must fall back")
      // no MvCarryKeys: the fallback collected no group tuple at all
      assert(wide.get(GraftSql.MvCarryProbe).contains(101L) &&
        wide.get(GraftSql.MvCarryKeys).isEmpty,
        s"the fallback must decide from the distributed probe alone, " +
          s"got $wide")
      checkContent()
    } finally {
      try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
      catch { case _: Exception => () }
      GraftSql.unregister(n)
    }
  }

  test("SHOW STREAMS lists continuous ingests; STOP by table alone " +
    "stops them; a died stream's terminal error SURFACES on STOP " +
    "and a fixed landing file resumes") {
    val d = Files.createTempDirectory("graft_cpshow").toString
    val t = d + "/t"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t, Seq((1L, 10L)).toDF("id", "v").limit(0))
    GraftSql.register(n, t)
    def showRows() = GraftSql.query(spark, "SHOW STREAMS")
      .collect().filter(_.getString(0) == n)
    def awaitCount(want: Long): Unit = {
      val deadline = System.nanoTime() + 90L * 1000000000L
      var got = -1L
      while (got != want && System.nanoTime() < deadline) {
        got = TxnTable.read(spark, t).count()
        if (got != want) Thread.sleep(500)
      }
      assert(got == want, s"stream never reached $want rows (at $got)")
    }
    try {
      // phase 1: healthy parquet stream, visible in SHOW, STOP by table
      (0L until 3L).map(i => (i, i * 10)).toDF("id", "v")
        .coalesce(1).write.parquet(s"$d/land/b1")
      GraftSql.execute(spark, s"COPY INTO $n FROM STREAM '$d/land' " +
        "TRIGGER INTERVAL '1 seconds'")
      awaitCount(3L)
      val r = showRows()
      assert(r.length == 1, "the running ingest must be listed")
      assert(r.head.getLong(2) == 1L &&
        r.head.getBoolean(4) && r.head.isNullAt(6) &&
        r.head.getLong(5) >= 1L,
        s"SHOW STREAMS row mismatch: ${r.head}")
      GraftSql.execute(spark, s"STOP COPY INTO $n") // no dir needed
      assert(showRows().isEmpty, "a stopped ingest must be delisted")
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"STOP COPY INTO $n")
      }
      // phase 2: a FAILFAST CSV stream dies on a malformed drop — the
      // failure is visible in SHOW STREAMS and SURFACES on STOP
      // (ingestion silently stopping is the closed failure mode)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$d/land2/b1"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/land2/b1/a.csv"), "id,v\n10,100\n")
      GraftSql.execute(spark, s"COPY INTO $n FROM STREAM '$d/land2' " +
        "FORMAT AS CSV TRIGGER INTERVAL '1 seconds'")
      awaitCount(4L)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$d/land2/b2"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/land2/b2/bad.csv"),
        "id,v\n11,notanumber\n")
      val deadline = System.nanoTime() + 90L * 1000000000L
      while (showRows().forall(_.isNullAt(6)) &&
          System.nanoTime() < deadline) Thread.sleep(500)
      val died = showRows()
      assert(died.length == 1 && !died.head.getBoolean(4) &&
        !died.head.isNullAt(6),
        s"the died stream must list inactive with its error: " +
          died.mkString(","))
      val e = intercept[IllegalStateException] {
        GraftSql.execute(spark, s"STOP COPY INTO $n")
      }
      assert(e.getMessage.contains("FAILED"))
      assert(showRows().isEmpty, "STOP must evict the died entry")
      // fix the landing file IN PLACE and re-issue (AvailableNow):
      // the checkpoint replays the failed batch against the fixed
      // bytes, and the file registry keeps b1 exactly-once
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/land2/b2/bad.csv"), "id,v\n11,110\n")
      GraftSql.execute(spark,
        s"COPY INTO $n FROM STREAM '$d/land2' FORMAT AS CSV")
      assert(TxnTable.read(spark, t).as[(Long, Long)].collect().toSet ==
        Set((0L, 0L), (1L, 10L), (2L, 20L), (10L, 100L), (11L, 110L)),
        "the fixed drop must land exactly once")
    } finally {
      try GraftSql.execute(spark, s"STOP COPY INTO $n")
      catch { case _: Exception => () }
      GraftSql.unregister(n)
    }
  }

  test("count(DISTINCT) MVs: the avg mix refreshes through " +
    "carry+recompute; a star-join shape folds through the aux table; " +
    "both track a direct recompute") {
    val d = Files.createTempDirectory("graft_mvcntd").toString
    val t = d + "/src"
    val dt = d + "/dim"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dn = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t,
      (1L to 60L).map(i => (i, i % 6, i % 7, i * 10))
        .toDF("id", "g", "d", "v"))
    TxnTable.create(spark, dt,
      (0L to 5L).map(i => (i, s"n${i % 2}")).toDF("g", "nm"))
    GraftSql.register(n, t)
    GraftSql.register(dn, dt)
    // avg + count(DISTINCT) → no aux is built (not a fold shape);
    // carry+recompute re-aggregates touched groups from the source
    val qa = s"SELECT g, avg(v) AS av, count(DISTINCT d) AS cd, " +
      s"count(*) AS c FROM $n GROUP BY g"
    // join shape with count(*), sum, count(DISTINCT fact.d) → aux fold
    val qj = s"SELECT m.nm AS nm, count(*) AS c, sum(f.v) AS sv, " +
      s"count(DISTINCT f.d) AS cd FROM $n f JOIN $dn m ON f.g = m.g " +
      s"GROUP BY m.nm"
    val mva = "pa" + java.util.UUID.randomUUID().toString.replace("-", "")
    val mvj = "pj" + java.util.UUID.randomUUID().toString.replace("-", "")
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW $mva LOCATION '$d/mva' AS $qa")
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW $mvj LOCATION '$d/mvj' AS $qj")
    assert(!new java.io.File(d + "/mva__distinct_v1").exists(),
      "a carry-shaped definition must not build aux state")
    assert(new java.io.File(d + "/mvj__distinct_v1").isDirectory,
      "a fold-shaped definition must build its aux table")
    def check(mv: String, q: String, p: String, stmt: String): Unit = {
      GraftSql.execute(spark, stmt)
      val mode = refresh(mv).mode
      assert(mode == "incremental", s"$q after $stmt: $mode")
      assert(TxnTable.read(spark, p).collect().map(_.toSeq).toSet ==
        directSet(q),
        s"diverged from recompute: $q after $stmt")
    }
    try {
      // fact churn: moved distinct values, new rows, deletions
      check(mva, qa, s"$d/mva", s"UPDATE $n SET d = d + 100 WHERE g = 2")
      check(mvj, qj, s"$d/mvj", s"UPDATE $n SET d = d + 50 WHERE g = 3")
      check(mva, qa, s"$d/mva",
        s"INSERT INTO $n VALUES (100, 2, 999, 70), (101, 9, 1, 80)")
      check(mvj, qj, s"$d/mvj", s"DELETE FROM $n WHERE id % 5 = 0")
      // dim churn through the join fold (re-labeled group)
      check(mvj, qj, s"$d/mvj", s"UPDATE $dn SET nm = 'n9' WHERE g = 4")
      // aux content is the true multiplicity table
      val aux = TxnTable.read(spark, s"$d/mvj__distinct_v1")
      val direct = GraftSql.query(spark,
        s"SELECT m.nm AS __g0, f.d AS __val, count(*) AS __c " +
          s"FROM $n f JOIN $dn m ON f.g = m.g " +
          s"WHERE f.d IS NOT NULL GROUP BY m.nm, f.d")
      assert(aux.collect().map(_.toSeq).toSet ==
        direct.collect().map(_.toSeq).toSet,
        "the folded aux must equal a direct (group,value) recompute")
    } finally {
      Seq(mva, mvj).foreach(mv =>
        try GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $mv")
        catch { case _: Exception => () })
      GraftSql.unregister(n); GraftSql.unregister(dn)
    }
  }

  test("EXPLAIN statement: the substituted, stats-injected plan as " +
    "rows — zero footer reads, snapshot substitution visible, COST " +
    "shows injected statistics, DML fenced") {
    val d = Files.createTempDirectory("graft_explain").toString
    val t = d + "/t"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t,
      (1L to 100L).map(i => (i, i * 10)).toDF("id", "v"))
    GraftSql.register(n, t)
    val conf = spark.conf
    val savedCbo = conf.getOption("spark.sql.cbo.enabled")
    try {
      // the append's own write-time stats harvest reads a footer —
      // the scope opens AFTER it so it isolates EXPLAIN's planning
      TxnTable.append(spark, t,
        Seq((200L, 1L)).toDF("id", "v"))
      def planText(stmt: String): String = GraftSql.query(spark, stmt)
        .collect().map(_.getString(0)).mkString("\n")
      val (_, window) = OpMetrics.scope {
        val simple = planText(
          s"EXPLAIN SELECT count(*) AS c FROM $n WHERE id <= 10")
        assert(simple.contains("Physical Plan") &&
          simple.toLowerCase.contains("parquet"), simple.take(400))
        // snapshot substitution: a time-traveled reference explains to
        // a plan over the PINNED snapshot (same relation, no error)
        val tt = planText(
          s"EXPLAIN SELECT sum(v) AS sv FROM $n VERSION AS OF 0")
        assert(tt.contains("Physical Plan"), tt.take(400))
      }
      assert(window.count(FooterReads) == 0,
        "EXPLAIN must never read parquet footers")
      // COST mode surfaces the log-injected statistics (row count
      // from the commit log, no ANALYZE, no scan)
      conf.set("spark.sql.cbo.enabled", "true")
      val cost = planText(s"EXPLAIN COST SELECT id FROM $n")
      assert(cost.contains("rowCount=101"),
        s"COST must show the log-injected row count: ${cost.take(600)}")
      // DML through EXPLAIN would EXECUTE eagerly — fenced
      val e = intercept[IllegalArgumentException] {
        GraftSql.query(spark, s"EXPLAIN DELETE FROM $n WHERE id = 1")
      }
      assert(e.getMessage.contains("row-returning"))
      assert(TxnTable.read(spark, t).count() == 101L,
        "the fenced DML must not have executed")
      // verb heads route through query()'s own matches
      assert(planText(s"EXPLAIN DESCRIBE HISTORY $n").nonEmpty)
    } finally {
      savedCbo.fold(conf.unset("spark.sql.cbo.enabled"))(
        conf.set("spark.sql.cbo.enabled", _))
      GraftSql.unregister(n)
    }
  }

  test("BEGIN GROUP: statement splitting respects string literals; " +
    "refusals teach (non-DML step, missing COMMIT GROUP, two " +
    "statements on one table)") {
    val (t1, n1) = mk()
    val (t2, n2) = mk()
    val g = Files.createTempDirectory("graft_sqlgrp").toString
    // a semicolon INSIDE a literal must not split the statement
    GraftSql.execute(spark,
      s"""BEGIN GROUP AT '$g';
         |UPDATE $n1 SET s = 'x;y' WHERE id = 1;
         |DELETE FROM $n2 WHERE id = 4;
         |COMMIT GROUP""".stripMargin)
    assert(rows(t1).contains((1L, 10L, "x;y")))
    assert(!rows(t2).exists(_._1 == 4L))
    assert(TxnTable.commits(t1).last.op
      .matches("""txngroup:[0-9a-f]{32}:update"""))
    // non-DML step: refused before anything runs
    val v1 = TxnTable.currentVersion(t1)
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"BEGIN GROUP AT '$g'; OPTIMIZE $n1; COMMIT GROUP")
    }
    assert(e1.getMessage.contains("must be DML"))
    assert(TxnTable.currentVersion(t1) == v1)
    // missing terminator
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"BEGIN GROUP AT '$g'; DELETE FROM $n1 WHERE id = 2")
    }
    assert(e2.getMessage.contains("COMMIT GROUP"))
    // two statements on one table: one step per table, teach the MERGE
    val e3 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""BEGIN GROUP AT '$g';
           |UPDATE $n1 SET v = 1 WHERE id = 1;
           |DELETE FROM $n1 WHERE id = 2;
           |COMMIT GROUP""".stripMargin)
    }
    assert(e3.getMessage.contains("one statement per table"))
    assert(TxnTable.currentVersion(t1) == v1,
      "refused groups must leave the tables untouched")
    GraftSql.unregister(n1); GraftSql.unregister(n2)
  }

  test("SHOW GROUPS / RECOVER GROUPS: a crashed intent lists, " +
    "recovers exactly once, and a conflicted one is retained") {
    import graft.core.{Store, TxnGroup}
    val (t1, n1) = mk()
    val g = Files.createTempDirectory("graft_sqlgrp2").toString
    val before = rows(t1)
    // simulate a crashed run: durable intent + one tagged commit
    val id = "ab" * 16
    assert(Store.putIfAbsent(
      java.nio.file.Paths.get(s"$g/$id.json"),
      s"""{"id":"$id","tables":[{"path":"$t1","pre":0}]}"""))
    TxnTable.withOpTag(s"txngroup:$id:") {
      GraftSql.execute(spark, s"DELETE FROM $n1 WHERE id <= 2")
    }
    val panel = GraftSql.query(spark, s"SHOW GROUPS AT '$g'")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(panel.toSeq == Seq((id, t1, 0L)))
    val rec = GraftSql.query(spark, s"RECOVER GROUPS AT '$g'")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(rec == Seq((id, "recovered")))
    assert(rows(t1) == before, "recovery must restore the pre-version")
    assert(GraftSql.query(spark, s"SHOW GROUPS AT '$g'").count() == 0L)
    assert(GraftSql.query(spark, s"RECOVER GROUPS AT '$g'").count() == 0L,
      "recovery is idempotent")
    // conflicted intent: a FOREIGN commit above the pre-version
    val id2 = "cd" * 16
    assert(Store.putIfAbsent(
      java.nio.file.Paths.get(s"$g/$id2.json"),
      s"""{"id":"$id2","tables":[{"path":"$t1","pre":${
        TxnTable.currentVersion(t1)}}]}"""))
    GraftSql.execute(spark, s"UPDATE $n1 SET v = v + 1 WHERE id = 3")
    val rec2 = GraftSql.query(spark, s"RECOVER GROUPS AT '$g'")
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(3)))
    assert(rec2.toSeq == Seq((id2, "conflict", "foreign commit v3: update")),
      s"got ${rec2.toSeq}")
    assert(GraftSql.query(spark, s"SHOW GROUPS AT '$g'").count() == 1L,
      "a conflicted intent is retained for manual reconciliation")
    // the commit-layer fence: a maintenance commit inside a group tag
    // refuses loudly (defense behind the statement-head allowlist)
    val e = intercept[IllegalArgumentException] {
      TxnTable.withOpTag("txngroup:ff:") {
        TxnTable.setProperties(t1, Map("k" -> "v"))
      }
    }
    assert(e.getMessage.contains("plain DML"))
    GraftSql.unregister(n1)
  }

  test("MV rewrite fences: missing WHERE conjunct, non-group " +
    "residual, count(DISTINCT) rollup, and ORDER BY beyond the " +
    "outputs all fall back to base tables") {
    val (_, n) = mk()
    val loc = Files.createTempDirectory("graft_mvrw").toString
    val m = "mv" + java.util.UUID.randomUUID().toString.replace("-", "")
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW $m LOCATION '$loc/m1' AS " +
        s"SELECT s, count(*) AS cnt, count(DISTINCT v) AS dv, " +
        s"sum(v) AS sv FROM $n WHERE id < 4 GROUP BY s")
    try {
      // exact twin serves from the MV, count(DISTINCT) included
      val (ex, rw1) = queryRw(
        s"SELECT s, count(*) AS cnt, count(DISTINCT v) AS dv, " +
          s"sum(v) AS sv FROM $n WHERE id < 4 GROUP BY s")
      assert(rw1.contains((m, "exact")))
      assert(ex.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet == Set(("a", 1L, 1L, 10L), ("b", 1L, 1L, 20L),
          ("c", 1L, 1L, 30L)))
      // a query WITHOUT the MV's WHERE sees rows the MV lacks
      val (all4, rw2) = queryRw(
        s"SELECT s, count(*) AS cnt FROM $n GROUP BY s")
      assert(rw2.isEmpty)
      assert(all4.collect().map(_.getLong(1)).sum == 4L)
      // residual predicate on a NON-group column cannot map
      val (nr, rw3) = queryRw(
        s"SELECT s, sum(v) AS sv FROM $n WHERE id < 4 AND v > 15 " +
          s"GROUP BY s")
      assert(rw3.isEmpty)
      assert(nr.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("b", 20L), ("c", 30L)))
      // count(DISTINCT) does not roll up to coarser groups
      val (g, rw4) = queryRw(
        s"SELECT count(DISTINCT v) AS dv FROM $n WHERE id < 4")
      assert(rw4.isEmpty)
      assert(g.head().getLong(0) == 3L)
      // ORDER BY must reference the query's own output columns
      val (_, rw5) = queryRw(
        s"SELECT s, sum(v) AS sv FROM $n WHERE id < 4 GROUP BY s " +
          s"ORDER BY max(v)")
      assert(rw5.isEmpty)
    } finally {
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $m")
      GraftSql.unregister(n)
    }
  }

  test("MV rewrite: expression group keys map as whole units and " +
    "the cheapest matching MV wins by log row count") {
    val t = Files.createTempDirectory("graft_mvrw2").toString + "/t"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    TxnTable.create(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"),
        (4L, 40L, "d"), (5L, 50L, "a"), (6L, 60L, "a"))
        .toDF("id", "v", "s"))
    GraftSql.register(n, t)
    val loc = Files.createTempDirectory("graft_mvrw2l").toString
    val fine = "mvf" + java.util.UUID.randomUUID().toString.replace("-", "")
    val coarse = "mvc" + java.util.UUID.randomUUID().toString.replace("-", "")
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW $fine LOCATION '$loc/f' AS " +
        s"SELECT s, id % 2 AS par, count(*) AS cnt, sum(v) AS sv " +
        s"FROM $n GROUP BY s, id % 2") // 5 group rows
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW $coarse LOCATION '$loc/c' AS " +
        s"SELECT s, count(*) AS cnt, sum(v) AS sv FROM $n GROUP BY s")
    try {
      // WHERE on the expression key rewrites as a unit — only the
      // FINE MV exposes (id % 2); the coarse one cannot subsume it
      val (even, rw6) = queryRw(
        s"SELECT s, sum(v) AS sv FROM $n WHERE id % 2 = 0 GROUP BY s")
      assert(rw6.contains((fine, "rollup")))
      assert(even.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("a", 60L), ("b", 20L), ("d", 40L)))
      // a BARE id reference is not a group key anywhere → base tables
      val (gt, rw7) = queryRw(
        s"SELECT s, sum(v) AS sv FROM $n WHERE id > 1 GROUP BY s")
      assert(rw7.isEmpty)
      assert(gt.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("a", 110L), ("b", 20L), ("c", 30L), ("d", 40L)))
      // both MVs subsume GROUP BY s: the 4-row coarse one beats the
      // 5-row fine one (log metadata, zero scans), and it serves in
      // exact mode (1:1 group rows)
      val (bys, rw8) = queryRw(
        s"SELECT s, sum(v) AS sv FROM $n GROUP BY s")
      assert(rw8.contains((coarse, "exact")))
      assert(bys.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("a", 120L), ("b", 20L), ("c", 30L), ("d", 40L)))
    } finally {
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $fine")
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $coarse")
      GraftSql.unregister(n)
    }
  }

  test("SET MATVIEW REWRITE OFF is session-scoped: a sibling session " +
    "keeps rewriting") {
    val (_, n) = mk()
    val loc = Files.createTempDirectory("graft_mvrw_sess").toString
    val m = "mvs" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s"SELECT s, count(*) AS cnt FROM $n GROUP BY s"
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW $m LOCATION '$loc/mv' AS $q")
    val off = spark.newSession()
    def rewriteIn(session: org.apache.spark.sql.SparkSession) =
      OpMetrics.scope(GraftSql.query(session, q))._2.get(GraftSql.MvRewrite)
    try {
      assert(GraftSql.execute(off, "SET MATVIEW REWRITE OFF") == -1L)
      assert(rewriteIn(off).isEmpty, "OFF must disable its own session")
      assert(rewriteIn(spark).contains((m, "exact")),
        "OFF in one session must leave another session rewriting")
      GraftSql.execute(off, "SET MATVIEW REWRITE ON")
      assert(rewriteIn(off).contains((m, "exact")))
    } finally {
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $m")
      GraftSql.unregister(n)
    }
  }

  test("an incremental refresh that fails degrades to full and records " +
    "why") {
    val (_, n) = mk()
    val loc = Files.createTempDirectory("graft_mvfb").toString
    val m = "mvfb" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s"SELECT s, count(*) AS c, sum(v) AS sv FROM $n GROUP BY s"
    try {
      GraftSql.execute(spark,
        s"CREATE MATERIALIZED VIEW $m LOCATION '$loc/mv' AS $q")
      // the delta's two sides now read at different widths, so the
      // incremental fold throws inside its machinery
      GraftSql.execute(spark, s"ALTER TABLE $n ADD COLUMNS (x BIGINT)")
      GraftSql.execute(spark, s"UPDATE $n SET v = v + 1 WHERE id = 1")
      val st = refresh(m)
      assert(st.mode == "full" &&
        st.fallback.exists(_.contains("NUM_COLUMNS_MISMATCH")), s"$st")
      assert(TxnTable.read(spark, s"$loc/mv").collect().map(_.toSeq).toSet
        == directSet(q), "the full fallback must still be exact")
      // a requested FULL is no fallback
      assert(refresh(m, full = true).fallback.isEmpty)
    } finally {
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW $m")
      GraftSql.unregister(n)
    }
  }

  test("a time-travel SELECT with log-stats injection replays its " +
      "version once") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val (t, n) = mk() // 4 rows at v0
    try {
      (1 to 13).foreach(i => TxnTable.append(spark, t,
        Seq((10L + i, 1L, "x")).toDF("id", "v", "s"))) // checkpoint at v10
      assert(TxnTable.read(spark, t).count() == 17L) // memoizes the head
      GraftSql.execute(spark, "SET MATVIEW REWRITE OFF")
      val (df, window) = try OpMetrics.scope(GraftSql.query(spark,
        s"SELECT * FROM $n VERSION AS OF 12"))
        finally GraftSql.execute(spark, "SET MATVIEW REWRITE ON")
      // injection ran: the relation carries the log's row count at v12
      val injected = df.queryExecution.analyzed
        .collectFirst { case lr: LogicalRelation => lr.catalogTable }
        .flatten.flatMap(_.stats).flatMap(_.rowCount)
      assert(injected.contains(BigInt(16)), injected)
      // one replay of v11 and v12 from the v10 checkpoint. Measured 6
      // when the injection resolved v12 twice more (its stats, then its
      // properties), three replays in all
      assert(window.count(TxnTable.VersionFileReads) == 2L,
        window.count(TxnTable.VersionFileReads))
      assert(df.count() == 16L)
    } finally GraftSql.unregister(n)
  }

  test("log-stats CBO injection reads the recreated table, not the " +
      "memoized dead one at the same path") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val s = Files.walk(from)
      try s.iterator().forEachRemaining { p =>
        val d = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(d)
        else Files.copy(p, d)
      } finally s.close()
    }
    def injectedRows(n: String): Option[BigInt] =
      GraftSql.query(spark, s"SELECT * FROM $n").queryExecution.analyzed
        .collectFirst { case lr: LogicalRelation => lr.catalogTable }
        .flatten.flatMap(_.stats).flatMap(_.rowCount)
    val (t, n) = mk() // 4 rows at v0
    try {
      TxnTable.append(spark, t, Seq((5L, 50L, "e")).toDF("id", "v", "s"))
      TxnTable.append(spark, t, Seq((6L, 60L, "f")).toDF("id", "v", "s"))
      assert(injectedRows(n).contains(BigInt(6)))
      // the same path, deleted and recreated by plain file copies of a
      // table with more versions and fewer rows
      val other = Files.createTempDirectory("graft_sql").toString + "/t"
      TxnTable.create(spark, other, Seq((7L, 70L, "g")).toDF("id", "v", "s"))
      (1 to 3).foreach(i => TxnTable.append(spark, other,
        Seq((7L + i, 70L, "h")).toDF("id", "v", "s"))) // head 3, 4 rows
      TxnTable.deleteWhere(spark, other, col("id") === 7L) // head 4, 3 rows
      val root = java.nio.file.Paths.get(t)
      val all = Seq.newBuilder[java.nio.file.Path]
      val w = Files.walk(root)
      try w.iterator().forEachRemaining(p => all += p) finally w.close()
      all.result().reverse.foreach(p => Files.delete(p))
      Seq("_graft_log", "data").foreach(d => copyTree(
        java.nio.file.Paths.get(other, d), root.resolve(d)))
      assert(injectedRows(n).contains(BigInt(3)))
      assert(GraftSql.query(spark, s"SELECT id FROM $n").as[Long]
        .collect().toSet == Set(8L, 9L, 10L))
    } finally GraftSql.unregister(n)
  }
}
