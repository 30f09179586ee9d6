package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.core.Lake
import graft.queries.ContractQueries
import graft.sql.GraftSql

/** Read-only analyst queries: the 16 contract queries (DataFrame plans)
  * plus SQL-text queries with seeded literals through `GraftSql.query`,
  * over the generated lake in its 16-file layout. Results are checked by
  * the launcher against DuckDB running the declared oracle SQL. */
final class Analyst(ctx: Ctx) {
  private val spark = ctx.spark
  private var lake: String = _
  // key -> (oracle SQL, columns, canonical rows, executions)
  private val results = mutable.LinkedHashMap[String, (String, Seq[String], String, Int)]()

  def setup(): Unit = {
    lake = ctx.input
    Lake.registerAll(spark, lake)
  }

  /** One SQL-text query: the same text runs in Spark and in DuckDB. */
  private def template(r: Random, which: Int): (String, String) = {
    val date = f"${1996 + r.nextInt(6)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
    which match {
      case 0 => "pricing" ->
        s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq, count(*) AS c
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '$date'
           |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
      case 1 => "region_orders" ->
        s"""SELECT n_name, count(*) AS c FROM orders
           |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = '${Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(r.nextInt(5))}'
           |AND o_totalprice > ${1000 + r.nextInt(400000)}
           |GROUP BY n_name ORDER BY c DESC, n_name""".stripMargin
      case 2 => "customer_orders" ->
        s"""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           |WHERE o_custkey = ${r.nextInt(ctx.rows("customer").toInt)}
           |ORDER BY o_orderkey""".stripMargin
      case 3 => "events_value" ->
        s"""SELECT event_type, count(DISTINCT user_id) AS du, count(*) AS c FROM events
           |WHERE value > ${r.nextInt(500)} GROUP BY event_type ORDER BY event_type""".stripMargin
      case 4 =>
        val a = 40 + r.nextInt(300)
        "doc_lengths" ->
          s"""SELECT lang, count(*) AS c, CAST(sum(n_chars) AS BIGINT) AS sc FROM documents
             |WHERE n_chars BETWEEN $a AND ${a + 200} GROUP BY lang ORDER BY lang""".stripMargin
      case 5 => "part_brand" ->
        s"""SELECT p_brand, count(*) AS c, CAST(min(p_size) AS BIGINT) AS mn FROM part
           |WHERE p_type = '${Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")(r.nextInt(6))}'
           |AND p_size <= ${1 + r.nextInt(50)} GROUP BY p_brand ORDER BY p_brand""".stripMargin
      case 6 => "part_lines" ->
        s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
           |WHERE l_partkey = ${r.nextInt(ctx.rows("part").toInt)}
           |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin
      case _ =>
        val u = r.nextInt(math.max(1, ctx.rows("events").toInt / 400))
        "user_activity" ->
          s"""SELECT user_id, count(*) AS c, min(ts) AS st, max(ts) AS en FROM events
             |WHERE user_id BETWEEN $u AND ${u + 5} GROUP BY user_id ORDER BY user_id""".stripMargin
    }
  }

  /** One round: half the contract queries and half the eight SQL-text
    * shapes (alternating halves), in a seeded order, so any run of whole
    * rounds has the same mix of queries and only the literals vary. */
  def round(r: Random, i: Int): Seq[Op] = {
    val half = i % 2
    val contract = ContractQueries.all.slice(half * 8, half * 8 + 8).map { case (name, fn) =>
      (name, name, () => fn(spark, lake), graft.SparkEntry.oracleSql(name))
    }
    val texts = (half * 4 until half * 4 + 4).map { which =>
      val (name, sql) = template(r, which)
      (name, s"sql:$name:${sql.hashCode.toHexString}", () => GraftSql.query(spark, sql), sql)
    }
    (contract ++ texts).map { case (kind, key, df, sql) =>
      Op(-1, kind, key, () => collect(df()), res => record(key, sql, res))
    }
  }

  private def collect(df: DataFrame): (Seq[String], Array[Row]) =
    (df.columns.toSeq, df.collect())

  private def record(key: String, sql: String, res: Any): Option[String] = {
    val (cols, rows) = res.asInstanceOf[(Seq[String], Array[Row])]
    val canon = Main.json(rows.map(r => Canon.row(r)))
    results.get(key) match {
      case None => results(key) = (sql, cols, canon, 1); None
      case Some((s, c, prev, n)) =>
        results(key) = (s, c, prev, n + 1)
        if (prev == canon) None else Some("result differs from its first execution")
    }
  }

  def layer(ops: Seq[Span]): Map[String, Double] =
    ContractQueries.all.map { case (name, _) =>
      s"queries.${name}_p50_s" -> Stats.median(ops.filter(_.name == name).map(_.durS))
    }.toMap + ("sql.read_p50_s" ->
      Stats.median(ops.filter(_.name.startsWith("sql:")).map(_.durS)))

  /** For the launcher: every distinct query with its oracle SQL, Spark's
    * canonical result, and how many timed executions it covers. The
    * corrupt flag perturbs one recorded result, which the oracle must
    * then count as wrong. */
  def records(): Map[String, Any] = {
    val out = results.toSeq.map { case (k, (sql, cols, rows, n)) =>
      Map("key" -> k, "sql" -> sql, "columns" -> cols, "rows" -> rows, "execs" -> n)
    }
    Map("oracle" -> (if (ctx.corrupt && out.nonEmpty)
      out.head.updated("rows", "[[\"corrupted\"]]") +: out.tail else out))
  }
}

/** Canonical JSON-able values for result comparison across engines:
  * integers as longs, timestamps as epoch microseconds, decimals as
  * doubles, nested rows and arrays as lists. */
object Canon {
  def row(r: Row): Seq[Any] = r.toSeq.map(value)

  def value(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case b: java.math.BigDecimal => b.doubleValue
    case b: BigDecimal => b.toDouble
    case r: Row => row(r)
    case s: scala.collection.Seq[_] => s.map(value)
    case n: java.lang.Double => n.doubleValue
    case n: java.lang.Float => n.doubleValue
    case n: java.lang.Number => n.longValue
    case other => other
  }
}
