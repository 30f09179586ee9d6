package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.core.{Lake, TxnTable}
import graft.crawler.{CatalogStore, CrawlDiff, LakeCrawler}
import graft.sql.GraftSql

/** Writes beside reads on a copy-on-write and a merge-on-read table built
  * from `orders`: SQL DML, point/range reads, time travel, history, and
  * one OPTIMIZE and one incremental crawl of the lake root per bag of 20
  * statements. A plain-Scala model of the same statements checks every
  * read and the final state. */
final class TableDml(ctx: Ctx) extends Workload {
  import TableDml._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var timed: Pair = _
  private var fullCrawlS = 0.0
  private val discoverS = mutable.ArrayBuffer[Double]()
  private val profiled = mutable.ArrayBuffer[Double]()
  private val snapshotS = mutable.ArrayBuffer[Double]()
  private var startVersions = Map.empty[String, Long]
  private var warm: Pair = _
  def blockOps: Int = BagOps
  /** Every bag holds every op shape. */
  def passBlocks: Int = 1

  /** One table under test plus its model. */
  final class Table(val name: String, val path: String, val mor: Boolean) {
    val rows = mutable.Map[Long, R]()
    val versions = mutable.Map[Long, (Long, Long)]()
    var version = -1L
    var nextKey = 0L
    var changedRows = 0L
    var dirtySinceCrawl = false
    def aggregate: (Long, Long) = (rows.size.toLong, rows.keysIterator.sum)
  }
  /** Two tables in one lake root, with the catalog the crawls keep. */
  final class Pair(prefix: String, chunks: Int) {
    val root: String = ctx.dir(s"$prefix/tables")
    val catalog: String = ctx.dir(s"$prefix/catalog")
    var snapshot = 0
    val tables: Seq[Table] = Seq(
      new Table(s"${prefix}_cow", s"$root/${prefix}_cow", mor = false),
      new Table(s"${prefix}_mor", s"$root/${prefix}_mor", mor = true))

    /** Build each table from `orders` as `chunks` commits of contiguous
      * key ranges, so files carry disjoint key ranges in their stats. */
    def create(): Unit = {
      val orders = Lake.table(spark, ctx.input, "orders")
        .select(Columns.map(col): _*)
      val local = orders.collect()
      val n = local.length.toLong
      val step = (n + chunks - 1) / chunks
      tables.foreach { t =>
        (0 until chunks).foreach { c =>
          val lo = c * step
          val part = orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < lo + step)
          t.version =
            if (c == 0) TxnTable.create(spark, t.path, part)
            else TxnTable.append(spark, t.path, part)
          local.foreach { r =>
            val k = r.getLong(0)
            if (k >= lo && k < lo + step) t.rows(k) = R(r.getLong(1), r.getString(2), r.getDouble(3))
          }
          t.versions(t.version) = t.aggregate
        }
        t.nextKey = n
        GraftSql.register(t.name, t.path, t.mor)
      }
    }

    def drop(): Unit = tables.foreach(t => GraftSql.unregister(t.name))

    /** A full crawl of the root: the catalog's first snapshot. */
    def crawl(): Double = {
      val t0 = System.nanoTime()
      CatalogStore.crawl(spark, root, s"$catalog/snap-0")
      (System.nanoTime() - t0) / 1e9
    }

    /** One bag of `BagOps` ops in a seeded order: each DML kind and a
      * range read once per table, three point reads per table, time
      * travel, history and OPTIMIZE once on one table, and one
      * incremental crawl. Every bag has the same mix, so runs of whole
      * bags differ only in order and literals. Reads outnumber writes,
      * so the median latency falls among the reads instead of on the
      * gap between reads and writes, where it would jump between them. */
    def bag(r: Random, b: Int): Seq[Op] = {
      val one = tables(b % 2)
      val kinds = tables.flatMap(t => Seq(
        (t, "insert"), (t, "update"), (t, "delete"), (t, "merge"), (t, "read"), (t, "read"),
        (t, "read"), (t, "range"))) ++
        Seq((one, "time_travel"), (one, "history"), (one, "optimize"), (one, "crawl"))
      r.shuffle(kinds).zipWithIndex.map { case ((t, kind), i) =>
        val id = b * BagOps + i
        kind match {
          case "insert" => insert(id, t, r)
          case "update" => update(id, t, r)
          case "delete" => delete(id, t, r)
          case "merge" => merge(id, t, r)
          case "read" => pointRead(id, t, r)
          case "range" => rangeRead(id, t, r)
          case "time_travel" => timeTravel(id, t, r)
          case "history" => history(id, t)
          case "optimize" => optimize(id, t)
          case _ => crawlOp(id, this)
        }
      }
    }
  }

  private def price(r: Random): String = s"${1000 + r.nextInt(400000)}.${r.nextInt(100)}"
  private def key(t: Table, r: Random, span: Int): Long =
    (r.nextDouble() * math.max(1L, t.nextKey - span)).toLong

  private def exec(kind: String, sql: String): Long =
    tr.span(s"sql.$kind")(GraftSql.execute(spark, sql))
  private def query(kind: String, sql: String): Array[Row] =
    tr.span(s"sql.$kind")(GraftSql.query(spark, sql).collect())

  /** A DML op: `apply` changes the model and returns the changed-row
    * count; the check compares the committed version with the model's
    * expectation and records the aggregate for later time travel. */
  private def dmlOp(id: Int, kind: String, t: Table, sql: String)(apply: => Long): Op =
    Op(id, kind, s"$kind:${t.name}", () => exec(kind, sql), { res =>
      val v = res.asInstanceOf[Long]
      val changed = apply
      t.changedRows += changed
      val expectNew = changed > 0
      val err =
        if (expectNew && v <= t.version) Some(s"expected a new version after ${t.version}, got $v")
        else if (!expectNew && kind != "optimize" && v != t.version)
          Some(s"no rows changed but version moved ${t.version} -> $v")
        else None
      if (v != t.version) { t.dirtySinceCrawl = true; timeSnapshot(t) }
      t.version = v
      t.versions(v) = t.aggregate
      err
    })

  private def timeSnapshot(t: Table): Unit = if (tr.traced) {
    val t0 = System.nanoTime()
    TxnTable.snapshotFiles(t.path)
    TxnTable.currentVersion(t.path)
    snapshotS += (System.nanoTime() - t0) / 1e9
  }

  private def insert(id: Int, t: Table, r: Random): Op = {
    val rows = (0 until 3).map(i => (t.nextKey + i, r.nextInt(1000).toLong, price(r)))
    t.nextKey += 3
    val values = rows.map { case (k, c, p) =>
      s"($k, $c, 'N', ${p}D, TIMESTAMP '2001-06-01 00:00:00', '2-HIGH')" }.mkString(", ")
    dmlOp(id, "insert", t,
      s"""INSERT INTO ${t.name} SELECT CAST(k AS BIGINT), CAST(c AS BIGINT), s, p, d, pr
         |FROM VALUES $values AS v(k, c, s, p, d, pr)""".stripMargin) {
      rows.foreach { case (k, c, p) => t.rows(k) = R(c, "N", p.toDouble) }
      rows.size.toLong
    }
  }

  private def update(id: Int, t: Table, r: Random): Op = {
    val a = key(t, r, 20)
    val p = price(r)
    dmlOp(id, "update", t,
      s"UPDATE ${t.name} SET o_orderstatus = 'U', o_totalprice = ${p}D " +
        s"WHERE o_orderkey BETWEEN $a AND ${a + 19}") {
      val hit = (a to a + 19).filter(t.rows.contains)
      hit.foreach(k => t.rows(k) = t.rows(k).copy(status = "U", price = p.toDouble))
      hit.size.toLong
    }
  }

  private def delete(id: Int, t: Table, r: Random): Op = {
    val a = key(t, r, 10)
    dmlOp(id, "delete", t,
      s"DELETE FROM ${t.name} WHERE o_orderkey BETWEEN $a AND ${a + 9}") {
      val hit = (a to a + 9).filter(t.rows.contains)
      hit.foreach(t.rows.remove)
      hit.size.toLong
    }
  }

  private def merge(id: Int, t: Table, r: Random): Op = {
    val src = (0 until 4).map { i =>
      val k = if (i < 2) key(t, r, 2) + i else t.nextKey + i
      (k, r.nextInt(1000).toLong, price(r))
    }
    t.nextKey += 4
    val values = src.map { case (k, c, p) => s"($k, $c, ${p}D)" }.mkString(", ")
    dmlOp(id, "merge", t,
      s"""MERGE INTO ${t.name} AS tg USING (
         |  SELECT CAST(k AS BIGINT) AS o_orderkey, CAST(c AS BIGINT) AS o_custkey,
         |    p AS o_totalprice
         |  FROM VALUES $values AS v(k, c, p)) AS s
         |ON tg.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
         |  o_totalprice, o_orderdate, o_orderpriority)
         |  VALUES (s.o_orderkey, s.o_custkey, 'M', s.o_totalprice,
         |    TIMESTAMP '2001-01-01 00:00:00', '3-MEDIUM')
         |""".stripMargin) {
      src.foreach { case (k, c, p) =>
        t.rows(k) = t.rows.get(k).map(_.copy(price = p.toDouble)).getOrElse(R(c, "M", p.toDouble))
      }
      src.size.toLong
    }
  }

  private def optimize(id: Int, t: Table): Op =
    dmlOp(id, "optimize", t, s"OPTIMIZE ${t.name}")(0L)

  private def pointRead(id: Int, t: Table, r: Random): Op = {
    val k = key(t, r, 1)
    Op(id, "read", s"read:${t.name}",
      () => query("read", s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice " +
        s"FROM ${t.name} WHERE o_orderkey = $k"),
      res => {
        val got = res.asInstanceOf[Array[Row]].map(x =>
          (x.getLong(0), R(x.getLong(1), x.getString(2), x.getDouble(3)))).toSeq
        val want = t.rows.get(k).map(k -> _).toSeq
        if (got == want) None else Some(s"point read of $k: got $got, model $want")
      })
  }

  private def rangeRead(id: Int, t: Table, r: Random): Op = {
    val a = key(t, r, 1000)
    Op(id, "read", s"range:${t.name}",
      () => query("read", s"SELECT count(*) AS c, sum(o_custkey) AS sc FROM ${t.name} " +
        s"WHERE o_orderkey BETWEEN $a AND ${a + 999}"),
      res => {
        val x = res.asInstanceOf[Array[Row]].head
        val got = (x.getLong(0), if (x.isNullAt(1)) 0L else x.getLong(1))
        val hit = t.rows.filter { case (k, _) => k >= a && k <= a + 999 }
        val want = (hit.size.toLong, hit.values.map(_.cust).sum)
        if (got == want) None else Some(s"range read from $a: got $got, model $want")
      })
  }

  private def timeTravel(id: Int, t: Table, r: Random): Op = {
    val pick = r.nextDouble()
    var v = -1L
    Op(id, "time_travel", s"time_travel:${t.name}",
      () => {
        val vs = t.versions.keys.toSeq.sorted
        v = vs((pick * vs.size).toInt)
        query("time_travel",
          s"SELECT count(*) AS c, sum(o_orderkey) AS sk FROM ${t.name} VERSION AS OF $v")
      },
      res => {
        val x = res.asInstanceOf[Array[Row]].head
        val got = (x.getLong(0), if (x.isNullAt(1)) 0L else x.getLong(1))
        if (got == t.versions(v)) None
        else Some(s"version $v: got $got, model ${t.versions(v)}")
      })
  }

  private def history(id: Int, t: Table): Op =
    Op(id, "history", s"history:${t.name}",
      () => query("history", s"DESCRIBE HISTORY ${t.name}"),
      res => {
        val n = res.asInstanceOf[Array[Row]].length
        if (n == t.version + 1) None else Some(s"history has $n rows at version ${t.version}")
      })

  private def crawlOp(id: Int, p: Pair): Op = {
    Op(id, "crawl", "crawl", () => {
      val prev = s"${p.catalog}/snap-${p.snapshot}"
      p.snapshot += 1
      tr.span("crawler.incremental_crawl")(CatalogStore.incrementalCrawl(spark, p.root, prev,
        s"${p.catalog}/snap-${p.snapshot}"))
    }, res => {
      val d = res.asInstanceOf[CrawlDiff]
      val want = p.tables.filter(_.dirtySinceCrawl).map(_.name).sorted
      val total = d.unchanged.size + d.changed.size + d.added.size
      profiled += (d.changed.size + d.added.size).toDouble / math.max(1, total)
      if (tr.traced) {
        val t0 = System.nanoTime()
        LakeCrawler.discover(spark, p.root)
        discoverS += (System.nanoTime() - t0) / 1e9
      }
      p.tables.foreach(_.dirtySinceCrawl = false)
      if (d.changed.sorted == want && d.added.isEmpty && d.removed.isEmpty) None
      else Some(s"crawl diff $d, expected changed $want")
    })
  }

  /** The throwaway pair the warm-up runs on; it is dropped afterwards so
    * the timed tables start from the same log state in every run. An
    * untraced twin is not warmed up and needs none. */
  def setup(): Unit = if (!ctx.twin) {
    warm = new Pair("warm", chunks = 1)
    warm.create()
    warm.crawl()
  }

  def warmBlock(b: Int): Unit =
    warm.bag(new Random(ctx.seed * 7919 + 1000 + b), b).foreach { op =>
      op.check(op.call()).foreach(m => throw new IllegalStateException(s"warm-up: $m"))
    }

  /** Whole bags only: the op count rounds up to a multiple of BagOps. */
  def timedOps(): IndexedSeq[Op] = {
    if (warm != null) {
      warm.drop()
      Main.deleteTree(new File(ctx.work, "warm"))
    }
    timed = new Pair(if (ctx.twin) "twin" else "timed", Chunks)
    timed.create()
    fullCrawlS = timed.crawl()
    startVersions = timed.tables.map(t => t.name -> t.version).toMap
    val r = new Random(ctx.seed)
    (0 until (ctx.ops + BagOps - 1) / BagOps).flatMap(timed.bag(r, _)).toIndexedSeq
  }

  def finish(): Seq[String] = timed.tables.flatMap { t =>
    val x = TxnTable.read(spark, t.path).selectExpr("count(*)", "sum(o_orderkey)",
      "sum(o_custkey)", "sum(CAST(round(o_totalprice * 100) AS BIGINT))").head()
    val got = Seq(x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))
    val want = Seq(t.rows.size.toLong, t.rows.keysIterator.sum,
      t.rows.valuesIterator.map(_.cust).sum,
      t.rows.valuesIterator.map(v => math.round(v.price * 100)).sum +
        (if (ctx.corrupt) 1L else 0L))
    if (got == want) None else Some(s"final state of ${t.name}: got $got, model $want")
  }

  def storageAmp(): Double = {
    val onDisk = timed.tables.map(t => Main.dirBytes(new File(t.path))).sum
    val fresh = timed.tables.map(t =>
      Main.rewriteBytes(ctx, TxnTable.read(spark, t.path), t.name)).sum
    onDisk.toDouble / fresh
  }

  def layer(ops: Seq[Span]): Map[String, Double] = {
    val sqlSpans = tr.spans.filter(s => s.op >= 0 && s.name.startsWith("sql."))
    val kinds = Seq("insert", "update", "delete", "merge", "read", "time_travel",
      "history", "optimize")
    val commits = timed.tables.flatMap(t =>
      TxnTable.commits(t.path).filter(_.version > startVersions(t.name)))
    val logFiles = timed.tables.flatMap(t =>
      Option(new File(t.path, "_graft_log").listFiles()).toSeq.flatten)
    val nCommits = math.max(1, commits.size).toDouble
    kinds.map(k => s"sql.${k}_p50_s" ->
      Stats.median(sqlSpans.filter(_.name == s"sql.$k").map(_.durS))).toMap ++ Map(
      "sql.statements" -> sqlSpans.size.toDouble,
      "core.snapshot_s" -> Stats.median(snapshotS.toSeq),
      "core.log_versions" -> timed.tables.map(t => TxnTable.currentVersion(t.path) + 1).sum.toDouble,
      "core.checkpoints" -> logFiles.count(_.getName.startsWith("ckpt-")).toDouble,
      "core.live_files" -> timed.tables.map(t => TxnTable.snapshotFiles(t.path).size).sum.toDouble,
      "core.dv_files" -> timed.tables.map(t => TxnTable.snapshotDvs(t.path).size).sum.toDouble,
      "core.files_added_per_commit" -> commits.map(_.adds.size).sum / nCommits,
      "core.files_removed_per_commit" -> commits.map(_.removes.size).sum / nCommits,
      "core.bytes_written_per_changed_row" -> commits.flatMap(_.adds).map(_.bytes).sum.toDouble /
        math.max(1L, timed.tables.map(_.changedRows).sum),
      "crawler.incremental_crawl_s" -> Stats.median(
        tr.spans.filter(_.name == "crawler.incremental_crawl").map(_.durS)),
      "crawler.discover_s" -> Stats.median(discoverS.toSeq),
      "crawler.full_crawl_s" -> fullCrawlS,
      "crawler.profiled_ratio" -> (if (profiled.isEmpty) 0.0 else profiled.sum / profiled.size))
  }
}

object TableDml {
  final case class R(cust: Long, status: String, price: Double)
  val Columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  /** Initial commits per timed table (contiguous key ranges). */
  val Chunks = 4
  val BagOps = 20
}
