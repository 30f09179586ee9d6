package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge

import graft.core.{BySourceDelete, BySourceUpdate, MatchedDelete, MatchedUpdate, MergeBySource, MergeMatched, NotMatchedInsert, OpMetrics, TxnGroup, TxnTable}

/** SQL DML over transactional tables: `UPDATE`, `DELETE FROM`, and
  * `MERGE INTO` statements — parsed by SPARK'S OWN PARSER (full
  * expression grammar for free: functions, CASE, subquery-free
  * predicates, qualified names, aliases) and dispatched to the
  * corresponding [[TxnTable]] operation. This closes the relational
  * surface: SELECT already reaches TxnTables by name through
  * `Engine.txnView`; with this facade a user ports DML statements
  * verbatim instead of rewriting them as DataFrame calls.
  *
  * Tables are REGISTERED (name → table path + write mode): Spark's
  * catalog cannot host our log-backed tables as first-class v2 writes,
  * so the facade resolves the statement's target itself. A table
  * registered `mor = true` routes every statement through the
  * merge-on-read paths (deletion vectors + appends, O(changed rows));
  * the default is copy-on-write (hit-file rewrite).
  *
  * Scale: the facade is pure TRANSLATION — zero extra passes, zero
  * driver data movement. Each statement executes as the already-scale-
  * audited TxnTable operation it maps to (one hit-finding pass + a
  * hit-file-only rewrite or DV append, never a full-table rewrite).
  *
  * Name resolution inside a MERGE follows SQL convention: a reference
  * qualified by the source alias binds to the source, by the target
  * alias to the target; an unqualified name binds to the target in
  * WHEN MATCHED clauses (both sides are in scope) and to the source in
  * the INSERT clause (only the source is in scope there).
  */
object GraftSql {

  private case class Reg(path: String, mor: Boolean)
  private val tables = new ConcurrentHashMap[String, Reg]()

  // CREATE VIEW registry: name → the view's UNANALYZED query plan.
  // Re-substituted on EVERY query, so a view over a plain table name
  // tracks the table head (a time-traveled body stays pinned — the
  // body text decides, like any SQL view).
  private val views = new ConcurrentHashMap[String, LogicalPlan]()

  def unregisterView(name: String): Unit = {
    views.remove(name.toLowerCase)
    persistDrop(s"view:${name.toLowerCase}")
  }

  /** Register `name` as DML target for the TxnTable at `path`;
    * `mor = true` routes statements through the merge-on-read paths.
    * Refused if a VIEW already holds the name: relation resolution
    * tries tables before views, so registering over a view would
    * silently change what the name resolves to — the mirror of the
    * CREATE VIEW no-shadow guard. */
  def register(name: String, path: String, mor: Boolean = false): Unit = {
    val nm = name.toLowerCase
    require(!views.containsKey(nm) &&
      !views.containsKey(nm.split('.').last),
      s"$name is an existing view — DROP VIEW first (a table " +
        "registration would silently shadow it)")
    // congruent with the view guard: a dotted registration (`a.b`)
    // must not shadow MV `b` for bare-name resolution either
    require(!matviews.containsKey(nm) &&
      !matviews.containsKey(nm.split('.').last),
      s"$name is a materialized view — DROP MATERIALIZED VIEW first")
    tables.put(nm, Reg(path, mor))
    persistTable(nm, path, mor)
  }

  def unregister(name: String): Unit = {
    tables.remove(name.toLowerCase)
    if (matviews.remove(name.toLowerCase) != null)
      persistDrop(s"matview:${name.toLowerCase}")
    persistDrop(s"table:${name.toLowerCase}")
  }

  /** Two directory spellings name the same location? Normalized +
    * absolutized, so `dir`, `dir/`, and `a/./dir` all agree; distinct
    * directories still differ. (`file:` URIs are stripped to paths.) */
  private def samePath(a: String, b: String): Boolean = {
    def norm(p: String) = java.nio.file.Paths
      .get(if (p.startsWith("file:"))
        java.net.URI.create(p).getPath else p)
      .normalize().toAbsolutePath.toString
    norm(a) == norm(b)
  }

  // live continuous `COPY INTO … FROM STREAM … TRIGGER INTERVAL`
  // queries, keyed by (table path | normalized source dir): the
  // interval statement starts one and returns; STOP COPY INTO ends it.
  // The registry keeps enough metadata for the SHOW STREAMS panel —
  // an operator must be able to LIST running continuous ingests, see
  // a died query's terminal exception, and STOP by table name alone.
  private[sql] case class CopyStreamInfo(table: String, path: String,
      dir: String, ckptDir: String, intervalSec: Long, streamId: String,
      query: org.apache.spark.sql.streaming.StreamingQuery)
  private val copyStreams =
    new ConcurrentHashMap[String, CopyStreamInfo]()

  private def copyStreamKey(path: String, dir: String): String =
    path + "|" + java.nio.file.Paths.get(dir)
      .toAbsolutePath.normalize().toString

  /** An `input_file_name()` URI as the absolute local path the
    * ingested-file registry stores (the same spelling the batch
    * formatted COPY INTO records from its directory walk, so the two
    * routes share one registry). Falls back to the raw string when
    * the URI won't parse — self-consistent either way, since only
    * this normalization ever writes stream manifests. */
  private def normalizeFileUri(u: String): String =
    try {
      val p = if (u.startsWith("file:"))
        java.nio.file.Paths.get(java.net.URI.create(u))
      else java.nio.file.Paths.get(u)
      p.toAbsolutePath.normalize().toString
    } catch { case _: Exception => u }

  // Maintenance verbs Spark's parser has no grammar for (they are
  // lakehouse-dialect statements): a statement-head match in front of
  // parsePlan; everything after the verb resolves through the existing
  // TxnTable API, so statement ≡ API call by construction. Identifiers
  // accept backtick quoting (`my-table`, `db`.`t`) like every
  // parser-routed statement; [[parseIdent]] strips the quotes.
  private val Ident = """((?:`[^`]+`|[\w.])+)"""
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + Ident +
      """\s*(?:(ZORDER)(?:\s+BY\s*\(([^)]*)\))?)?""" +
      """\s*(?:WHERE\s+(\w+)\s+BETWEEN\s+(-?\d+)\s+AND\s+(-?\d+))?""" +
      """\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+""" + Ident +
      """\s*(?:RETAIN\s+(\d+)\s+HOURS?)?\s*;?\s*$""").r
  private val HistoryRe =
    ("""(?is)^\s*DESCRIBE\s+HISTORY\s+""" + Ident + """\s*;?\s*$""").r
  private val DetailRe =
    ("""(?is)^\s*DESCRIBE\s+DETAIL\s+""" + Ident + """\s*;?\s*$""").r
  private val ShowTablesRe = """(?is)^\s*SHOW\s+TABLES\s*;?\s*$""".r
  private val ShowViewsRe = """(?is)^\s*SHOW\s+VIEWS\s*;?\s*$""".r
  private val ShowPropsRe =
    ("""(?is)^\s*SHOW\s+TBLPROPERTIES\s+""" + Ident +
      """\s*(?:\(\s*'([^']+)'\s*\))?\s*;?\s*$""").r
  private val ShowColStatsRe =
    ("""(?is)^\s*SHOW\s+COLUMN\s+STATS\s+""" + Ident + """\s*;?\s*$""").r
  private val CreateMvRe =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+""" + Ident +
      """(?:\s+LOCATION\s+'([^']+)')?\s+AS\s+(.+?)\s*;?\s*$""").r
  private val RefreshMvRe =
    ("""(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+""" + Ident +
      """(\s+FULL)?\s*;?\s*$""").r
  private val DropMvRe =
    ("""(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+""" + Ident +
      """\s*;?\s*$""").r
  private val ShowMvRe =
    """(?is)^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*$""".r
  private val CreateLikeRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+""" + Ident + """\s+LIKE\s+""" + Ident +
      """(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$""").r
  private val RepairDryRe =
    ("""(?is)^\s*REPAIR\s+TABLE\s+""" + Ident + """\s+DRY\s+RUN\s*;?\s*$""").r
  private val RepairRe =
    ("""(?is)^\s*REPAIR\s+TABLE\s+""" + Ident + """\s*;?\s*$""").r
  private val DescRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?""" + Ident +
      """\s*;?\s*$""").r
  private val RestoreRe =
    ("""(?is)^\s*RESTORE\s+TABLE\s+""" + Ident +
      """\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r
  private val DedupRe =
    ("""(?is)^\s*DEDUP\s+""" + Ident +
      """\s+USING\s+MINHASH\s*\(\s*`?(\w+)`?\s*\)""" +
      """\s+ON\s+`?(\w+)`?""" +
      """(?:\s+KEEP\s+BY\s+(.+?))?\s*;?\s*$""").r
  private val MixRe =
    ("""(?is)^\s*MIX\s+""" + Ident +
      """\s+ON\s+`?(\w+)`?\s+BY\s+`?(\w+)`?""" +
      """\s+WEIGH\s+(.+?)""" +
      """\s+BUDGETS\s*\(\s*(.+?)\s*\)\s*;?\s*$""").r
  private val SplitRe =
    ("""(?is)^\s*SPLIT\s+""" + Ident +
      """\s+ON\s+`?(\w+)`?\s+INTO\s*\(\s*(.+?)\s*\)\s*;?\s*$""").r
  private val ShowHistRe =
    ("""(?is)^\s*SHOW\s+HISTOGRAM\s+""" + Ident +
      """\s*\(\s*`?(\w+)`?\s*\)\s*;?\s*$""").r
  private val AnalyzeHistRe =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+""" + Ident +
      """\s+COMPUTE\s+HISTOGRAM\s*\(\s*([^)]+?)\s*\)""" +
      """(?:\s+BINS\s+(\d+))?\s*;?\s*$""").r
  private val AnalyzeBloomRe =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+""" + Ident +
      """\s+COMPUTE\s+BLOOM\s*\(\s*([^)]+?)\s*\)""" +
      """(?:\s+FPP\s+([0-9.]+))?\s*;?\s*$""").r
  private val CopyIntoRe =
    ("""(?is)^\s*COPY\s+INTO\s+""" + Ident +
      """\s+FROM\s+'([^']+)'""" +
      """(?:\s+FORMAT\s+AS\s+(CSV|JSON|PARQUET))?""" +
      """(?:\s+PATTERN\s*=\s*'([^']+)')?\s*;?\s*$""").r
  private val CopyStreamRe =
    ("""(?is)^\s*COPY\s+INTO\s+""" + Ident +
      """\s+FROM\s+STREAM\s+'([^']+)'""" +
      """(?:\s+FORMAT\s+AS\s+(CSV|JSON|PARQUET))?""" +
      """(?:\s+CHECKPOINT\s+'([^']+)')?""" +
      """(?:\s+TRIGGER\s+INTERVAL\s+'(\d+)\s+seconds?')?""" +
      """\s*;?\s*$""").r
  private val CopyStreamStopRe =
    ("""(?is)^\s*STOP\s+COPY\s+INTO\s+""" + Ident +
      """(?:\s+FROM\s+STREAM\s+'([^']+)')?\s*;?\s*$""").r
  private val ShowStreamsRe = """(?is)^\s*SHOW\s+STREAMS\s*;?\s*$""".r
  // multi-table write groups: BEGIN GROUP [AT '<dir>'] ; <dml> ; … ;
  // COMMIT GROUP — one statement string, split on top-level semicolons
  private val BeginGroupRe =
    """(?is)^\s*BEGIN\s+GROUP(?:\s+AT\s+'([^']+)')?\s*;(.+)$""".r
  private val ShowGroupsRe =
    """(?is)^\s*SHOW\s+GROUPS(?:\s+AT\s+'([^']+)')?\s*;?\s*$""".r
  private val RecoverGroupsRe =
    """(?is)^\s*RECOVER\s+GROUPS(?:\s+AT\s+'([^']+)')?\s*;?\s*$""".r
  private val MvRewriteSetRe =
    """(?is)^\s*SET\s+MATVIEW\s+REWRITE\s+(ON|OFF)\s*;?\s*$""".r
  private val ShowBloomRe =
    ("""(?is)^\s*SHOW\s+BLOOM\s+""" + Ident + """\s*;?\s*$""").r
  private val GroupStepHeadRe =
    ("""(?is)^\s*(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM|MERGE\s+INTO)""" +
      """\s+((?:`[^`]+`|[\w.])+)\s.*$""").r
  private val ExplainRe =
    """(?is)^\s*EXPLAIN(\s+EXTENDED|\s+COST|\s+FORMATTED)?\s+(.+?)\s*;?\s*$""".r
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+""" + Ident +
      """\s+SHALLOW\s+CLONE\s+""" + Ident +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+)|""" +
      """\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?""" +
      """(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$""").r
  private val RestoreTsRe =
    ("""(?is)^\s*RESTORE\s+TABLE\s+""" + Ident +
      """\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""").r
  private val VacuumDryRe =
    ("""(?is)^\s*VACUUM\s+""" + Ident +
      """\s*(?:RETAIN\s+(\d+)\s+HOURS?)?\s+DRY\s+RUN\s*;?\s*$""").r
  private val ConvertRe =
    ("""(?is)^\s*CONVERT\s+TO\s+GRAFT\s+'([^']+)'\s*(?:AS\s+""" + Ident +
      """)?\s*;?\s*$""").r
  // the multi-table UPDATE fallback shape (only consulted AFTER
  // Spark's parser rejected the text — see execute): target and source
  // with optional aliases, the SET list, the join/filter condition
  private val UpdateFromRe =
    ("""(?is)^\s*UPDATE\s+""" + Ident +
      """(?:\s+(?:AS\s+)?(?!SET\b)(`[^`]+`|\w+))?\s+SET\s+(.+?)\s+FROM\s+""" +
      Ident + """(?:\s+(?:AS\s+)?(?!WHERE\b)(`[^`]+`|\w+))?\s+WHERE\s+""" +
      """(.+?)\s*;?\s*$""").r

  /** Split a possibly-backtick-quoted identifier into its parts:
    * `` `my-table` `` → Seq(my-table); `` db.`t.x` `` → Seq(db, t.x).
    * Unquoted segments split on dots, quoted segments keep theirs. */
  private def parseIdent(s: String): Seq[String] =
    if (!s.contains('`')) s.split('.').toSeq
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '`') {
          val j = s.indexOf('`', i + 1)
          require(j > i, s"unbalanced backtick in identifier $s")
          out += s.substring(i + 1, j)
          i = j + 1
          if (i < s.length) {
            require(s.charAt(i) == '.',
              s"expected '.' after quoted segment in $s")
            i += 1
          }
        } else {
          val j = s.indexOf('.', i)
          if (j < 0) { out += s.substring(i); i = s.length }
          else { out += s.substring(i, j); i = j + 1 }
        }
      }
      out.toSeq
    }

  /** Split a group body on semicolons OUTSIDE single-quoted literals
    * (doubled-quote escapes toggle twice — net correct). */
  private def splitStatements(body: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inStr = false
    body.foreach { c =>
      if (c == '\'') { inStr = !inStr; cur += c }
      else if (c == ';' && !inStr) { out += cur.toString; cur.clear() }
      else cur += c
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** The durable intent directory for write groups: an explicit
    * `AT '<dir>'`, else `<warehouse>/_graft_groups`. */
  private def groupDirOf(at: Option[String]): String =
    at.getOrElse(Option(warehouseRoot.get).map(r =>
      java.nio.file.Paths.get(r).resolve("_graft_groups").toString)
      .getOrElse(throw new IllegalArgumentException(
        "BEGIN GROUP needs AT '<dir>' for the intent marker, or a " +
          "warehouse root (GraftSql.setWarehouse)")))

  /** Execute one DML/DDL/maintenance statement against its registered
    * target; returns the committed version (or the unchanged head when
    * nothing changed). SELECTs and DESCRIBE HISTORY belong to
    * [[query]]. */
  def execute(spark: SparkSession, sqlText: String): Long = sqlText match {
    // ALL-OR-NOTHING multi-table statement group ([[TxnGroup]] as
    // statement text): every inner statement is a DML step on ONE
    // registered table; any failure rolls every committed step back
    // (tag-proven restore commits) and rethrows. Steps see preceding
    // steps' commits (read-committed inside the group); the DML-only
    // contract is enforced twice — the head allowlist here, and the
    // colon fence at the commit layer (TxnTable.withOpTag).
    case BeginGroupRe(at, body) =>
      val stmts = splitStatements(body)
      require(stmts.nonEmpty &&
        stmts.last.matches("""(?is)COMMIT\s+GROUP"""),
        "a write group must end with COMMIT GROUP")
      val inner = stmts.dropRight(1)
      require(inner.nonEmpty, "an empty write group has nothing to run")
      val steps = inner.map {
        case st @ GroupStepHeadRe(name) =>
          val (reg, _) = lookupMutable(parseIdent(name), "a write-group step")
          TxnGroup.Step(reg.path, (s, tag) =>
            TxnTable.withOpTag(tag) { execute(s, st) })
        case st => throw new IllegalArgumentException(
          "write-group steps must be DML (INSERT INTO / UPDATE / " +
            "DELETE FROM / MERGE INTO) on registered tables, got: " +
            st.linesIterator.mkString(" ").take(80))
      }
      val dup = steps.map(_.path).groupBy(identity).collect {
        case (p, ps) if ps.size > 1 => p }
      require(dup.isEmpty,
        s"one statement per table inside a group (step = table): " +
          s"combine the statements on ${dup.mkString(", ")} — e.g. " +
          "one MERGE INTO")
      TxnGroup.run(spark, groupDirOf(Option(at)), steps).last

    // session-scoped optimizer switch, no table and no commit: returns
    // -1 (MV-based query rewrite is on by default; OFF is the
    // operational escape hatch when a rewrite must be ruled out, the
    // REFRESH … FULL precedent). Lives in THIS session's conf, so
    // sibling sessions keep rewriting.
    case MvRewriteSetRe(onOff) =>
      spark.conf.set(MvRewriteConf, onOff.equalsIgnoreCase("on")); -1L

    case OptimizeRe(name, zkw, zorder, wCol, wLo, wHi) =>
      val (reg, _) = lookupMutable(parseIdent(name), "OPTIMIZE")
      // a bare `OPTIMIZE t ZORDER` re-clusters on the table's
      // PERSISTED layout spec (graft.clusterBy — seeded by the
      // clustered create or SET TBLPROPERTIES): the operator does not
      // have to remember what the table is clustered on
      val zcols = Option(zorder).orElse {
        if (zkw == null) None
        else Some(TxnTable.properties(reg.path).getOrElse("graft.clusterBy",
          throw new IllegalArgumentException(
            "OPTIMIZE ZORDER without columns needs the table's " +
              "graft.clusterBy property — pass ZORDER BY (a, b) or " +
              "SET TBLPROPERTIES ('graft.clusterBy' = 'a,b')")))
      }
      zcols.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty) match {
        case None =>
          // an EXPLICIT OPTIMIZE always bin-packs eligible files
          // (small-file tail + DV-carrying files) — never gated by the
          // auto-maintenance policy (that's maybeCompact's contract).
          // A table with nothing eligible returns the unchanged head:
          // the caller-distinguishable "nothing was folded" signal.
          // WHERE col BETWEEN lo AND hi scopes the fold by the logged
          // file stats — the re-pack-the-hot-partition shape. The
          // bin target comes from the TABLE's graft.targetBytes
          // property when set (SET TBLPROPERTIES re-tunes later
          // OPTIMIZEs), else the 128 MiB default.
          val tb = TxnTable.properties(reg.path).get("graft.targetBytes")
            .map(_.toLong).getOrElse(128L * 1024 * 1024)
          Option(wCol) match {
            case Some(c) => TxnTable.binPackWhere(spark, reg.path, c,
              wLo.toLong, wHi.toLong, tb)
            case None => TxnTable.binPack(spark, reg.path, tb)
          }
        // SCOPED re-cluster: `… ZORDER [BY (a,b)] WHERE col BETWEEN
        // lo AND hi` rewrites ONLY the files whose logged range on
        // the WHERE column intersects the box (zero footer reads to
        // pick the set), proportional width, everything outside the
        // box untouched — the re-pack-the-hot-band verb. Explicit
        // 1-column ZORDER BY stays rejected (that's range
        // clustering); the bare property-driven form accepts a
        // 1-column layout like everywhere else.
        case Some(cols) if wCol != null =>
          require(zorder == null || cols.length >= 2,
            "OPTIMIZE ZORDER BY takes 2 or 3 columns — a 1-column " +
              "layout is range clustering (CTAS CLUSTER BY)")
          require(cols.length <= 3,
            s"OPTIMIZE ZORDER BY takes 2 or 3 columns, got ${cols.length}")
          TxnTable.compactClusteredWhere(spark, reg.path,
            cols.map(c => org.apache.spark.sql.functions.col(c)),
            wCol, wLo.toLong, wHi.toLong,
            zTargetFiles(reg, TxnTable.clusterWidth(cols.length)))
        // the PROPERTY-driven (bare ZORDER) path re-clusters into the
        // persisted layout — a single property-declared column by
        // RANGE (what createClustered laid out at birth) — at the
        // persisted width, and INCREMENTALLY: only the un-clustered
        // tail, leaving the bulk untouched — at 100 TB that makes
        // weekly maintenance O(new data), not a full-table rewrite.
        // Past a half-table tail (or with no prior cluster commit) a
        // full re-cluster is cheaper and resets the chain.
        case Some(cols) if zorder == null && cols.length <= 3 =>
          val cs = cols.map(c => org.apache.spark.sql.functions.col(c))
          val width = zTargetFiles(reg, TxnTable.clusterWidth(cols.length))
          reclusterMaybeTail(spark, reg, cs, width,
            TxnTable.compactClustered(spark, reg.path, cs, width))
        // an EXPLICIT ZORDER BY stays exactly ≡ the full API call with
        // its own default width (the adjudicated statement≡API twin);
        // an explicit 1-column ZORDER BY stays rejected (z-ordering
        // one dimension is just range clustering — the error teaches)
        case Some(cols) if cols.length == 2 || cols.length == 3 =>
          TxnTable.compactClustered(spark, reg.path,
            cols.map(c => org.apache.spark.sql.functions.col(c)))
        case Some(cols) => throw new IllegalArgumentException(
          s"OPTIMIZE ZORDER BY takes 2 or 3 columns, got ${cols.length} " +
            "— a 1-column layout is range clustering (CTAS CLUSTER BY)")
      }

    case VacuumDryRe(_, _) => throw new IllegalArgumentException(
      "VACUUM … DRY RUN returns rows — run it through query()")

    case MixRe(_, _, _, _, _) => throw new IllegalArgumentException(
      "MIX returns rows — run it through query()")

    case VacuumRe(name, hours) =>
      val (reg, _) = lookup(parseIdent(name))
      (Option(hours) match {
        case Some(h) => TxnTable.vacuumRetainMillis(spark, reg.path,
          h.toLong * 3600000L)
        case None => TxnTable.vacuum(spark, reg.path)
      })._1

    case HistoryRe(_) => throw new IllegalArgumentException(
      "DESCRIBE HISTORY returns rows — run it through query()")

    // CREATE MATERIALIZED VIEW n [LOCATION p] AS <select>: compute
    // once into a real TxnTable whose commit op records the source
    // versions — staleness is then log metadata (SHOW MATERIALIZED
    // VIEWS), and readers resolve the name like any table
    case CreateMvRe(name, loc, text) =>
      val nm = parseIdent(name).mkString(".").toLowerCase
      require(!tables.containsKey(nm) && !views.containsKey(nm),
        s"$nm already names a table or view")
      val path = Option(loc).getOrElse {
        val root = Option(warehouseRoot.get).getOrElse(
          throw new IllegalArgumentException(
            "CREATE MATERIALIZED VIEW needs a LOCATION clause or a " +
              "warehouse root (GraftSql.setWarehouse)"))
        java.nio.file.Paths.get(root).resolve(nm.split('.').last).toString
      }
      require(TxnTable.currentVersion(path) < 0,
        s"CREATE MATERIALIZED VIEW: a table already exists at $path")
      val srcs = mvSources(spark, text)
      require(srcs.nonEmpty,
        "a materialized view must reference at least one registered " +
          "txn table (its staleness is tracked against their versions)")
      // marker BEFORE the content snapshot pins: a source commit
      // landing in between leaves the MV (conservatively) stale —
      // the reverse order could claim fresh for content it lacks
      val markerOp = mvMarker(srcs)
      TxnTable.create(spark, path,
        mvRewriteSuppressed.withValue(true)(query(spark, text)),
        op = markerOp)
      maintainAuxFull(spark, path, text, markerOp)
      matviews.put(nm, (path, text))
      tables.put(nm, Reg(path, mor = false))
      persistMv(nm, path, text)
      0L

    // REFRESH MATERIALIZED VIEW n: one atomic recompute-overwrite,
    // the new source versions stamped on the commit
    // REFRESH MATERIALIZED VIEW n [FULL]: FULL is the operational
    // escape hatch — skip the incremental recognizer entirely and
    // recompute from the definition (what an operator reaches for
    // when auditing a suspected divergence, or to rebuild after
    // out-of-band surgery without waiting for the damage probe)
    case RefreshMvRe(name, full) =>
      val nm = parseIdent(name).mkString(".").toLowerCase
      val mv = matviews.get(nm)
      require(mv != null, s"$nm is not a materialized view")
      val (path, text) = mv
      val inc = if (full != null) Left(None)
        else refreshIncremental(spark, path, text)
      inc.getOrElse {
        OpMetrics.record(MvRefresh, MvRefreshStats("full", Set.empty, Nil,
          -1, inc.swap.toOption.flatten))
        // marker BEFORE the content snapshot pins (see CREATE):
        // mid-refresh source commits must leave the MV stale
        val markerOp = mvMarker(mvSources(spark, text))
        val ver = TxnTable.overwrite(spark, path,
          mvRewriteSuppressed.withValue(true)(query(spark, text)),
          op = markerOp)
        maintainAuxFull(spark, path, text, markerOp)
        ver
      }

    case DropMvRe(name) =>
      val nm = parseIdent(name).mkString(".").toLowerCase
      require(matviews.remove(nm) != null,
        s"$nm is not a materialized view")
      tables.remove(nm)
      persistDrop(s"matview:$nm")
      -1L

    // CREATE TABLE n LIKE src [LOCATION p]: an EMPTY table with the
    // source's current logical schema and its engine (graft.*)
    // properties — the "same shape, fresh data" bootstrap. No data
    // and no file references move; the new table has its own clean
    // history.
    case CreateLikeRe(dstName, srcName, loc) =>
      val (srcReg, _) = lookup(parseIdent(srcName))
      val dn = parseIdent(dstName).mkString(".")
      val path = Option(loc)
        .getOrElse {
          val root = Option(warehouseRoot.get).getOrElse(
            throw new IllegalArgumentException(
              "CREATE TABLE LIKE needs a LOCATION clause or a " +
                "warehouse root (GraftSql.setWarehouse)"))
          java.nio.file.Paths.get(root)
            .resolve(parseIdent(dstName).last.toLowerCase).toString
        }
      require(TxnTable.currentVersion(path) < 0,
        s"CREATE TABLE LIKE: a table already exists at $path")
      Option(tables.get(dn.toLowerCase)).foreach(r =>
        require(samePath(r.path, path),
          s"$dn is already registered at ${r.path} — unregister it " +
            s"first or use that LOCATION (got $path)"))
      // the RECORDED schema, not the file-scan schema: the scan
      // forces every field nullable, which would silently drop the
      // source's NOT NULL-ness from the LIKE table
      val schema = TxnTable.currentSchema(srcReg.path)
        .getOrElse(TxnTable.read(spark, srcReg.path).schema)
      TxnTable.create(spark, path, spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      val gprops = TxnTable.properties(srcReg.path)
        .filter { case (k, _) => k.startsWith("graft.") }
      if (gprops.nonEmpty) TxnTable.setProperties(path, gprops)
      register(dn, path,
        gprops.get("graft.mor").exists(_.equalsIgnoreCase("true")))
      TxnTable.currentVersion(path)

    // REPAIR TABLE t: FSCK — commit one repair removing adds whose
    // files vanished out-of-band, so the table serves the survivors;
    // the inspection half (REPAIR TABLE t DRY RUN) is query()'s
    case RepairRe(name) =>
      // committing a repair on an MV would serve PARTIAL content
      // while SHOW still reports it fresh; REFRESH recomputes it from
      // its sources and heals the damage in one step (the dry-run
      // diagnostic stays available through query())
      val (reg, _) = lookupMutable(parseIdent(name), "REPAIR TABLE")
      TxnTable.repair(spark, reg.path, dryRun = false)
      TxnTable.currentVersion(reg.path)

    // COPY INTO t FROM '<dir>' [FORMAT AS CSV|JSON|PARQUET]: idempotent
    // ingestion — parquet adopts fresh files by reference (zero copy,
    // stats harvested); CSV/JSON materialize through the standard write
    // path (table-shape coercion + constraints) with the same
    // source-path idempotence; a re-run is a no-op at the unchanged head
    // COPY INTO t FROM STREAM '<dir>': statement-level streaming
    // ingestion — one AvailableNow pass of a file stream over the
    // landing directory, each micro-batch landing through
    // appendStreamBatch with the batch's SOURCE-FILE manifest, so
    // idempotence keys on file identity (the reference COPY INTO
    // contract), not the checkpoint or the batch id. Re-running the
    // statement loads only unseen files; a LOST checkpoint re-offers
    // everything — already-ingested files are filtered against the
    // log-resident registry, while files landed SINCE the loss (which
    // the restarted stream bundles into already-seen batch ids) still
    // load exactly once. A bare batch-id high-water could not do
    // that: restarted ids ≤ the old high-water would silently skip
    // the new files forever.
    // DEDUP t USING MINHASH (text) ON doc_id [KEEP BY <expr>]: the
    // near-dup dedup pipeline as a lakehouse verb — survivors come
    // from the banded MinHash-LSH pipeline (shingle → minhash → band
    // buckets → connected components; never all-pairs at any size)
    // and OVERWRITE the table in one atomic `dedup:minhash` commit.
    // The survivor per component is the min-id copy by default; KEEP
    // BY keeps the argmax of a row-local expression (ties toward the
    // lowest id) — the keep-the-best-duplicate rule real pipelines
    // run, e.g. KEEP BY the quality logit.
    case DedupRe(name, textCol, idCol, keepBy) =>
      val (reg, _) = lookupMutable(parseIdent(name), "DEDUP")
      val df = TxnTable.read(spark, reg.path)
      val kept = Option(keepBy) match {
        case None =>
          graft.operators.Dedup.minHashDedup(df, textCol, idCol)
        case Some(exprText) =>
          val e = spark.sessionState.sqlParser.parseExpression(exprText)
          require(e.find {
            case _: SubqueryExpression => true; case _ => false
          }.isEmpty, "DEDUP … KEEP BY must be a row-local expression")
          graft.operators.Dedup.minHashDedupBy(df, textCol, idCol,
            Bridge.column(e))
      }
      TxnTable.overwrite(spark, reg.path, kept, op = "dedup:minhash")

    // ANALYZE TABLE t COMPUTE HISTOGRAM (a, b) [BINS n]: the one
    // explicitly user-invoked statistics SCAN in the engine — builds
    // per-column equi-height histograms and persists them as a
    // tblprops commit; the log-stats CBO then injects them onto
    // CatalogColumnStat.histogram at plan time with zero footer
    // reads, closing the skewed-column blind spot of the uniform
    // min/max estimate. (Everything else the CBO uses — rows, bytes,
    // bounds, null counts, ndv caps — already rides the log for free.)
    case AnalyzeHistRe(name, colsRaw, binsRaw) =>
      val (reg, _) = lookupMutable(parseIdent(name), "ANALYZE TABLE")
      val cols = colsRaw.split(",").map(_.trim.stripPrefix("`")
        .stripSuffix("`")).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty, "ANALYZE TABLE: name at least one column")
      TxnTable.computeHistogram(spark, reg.path, cols,
        Option(binsRaw).map(_.toInt).getOrElse(64))

    // ANALYZE TABLE t COMPUTE BLOOM (cols) [FPP p]: per-file Bloom
    // filters for point-lookup pruning ([[TxnTable.computeBloom]] —
    // incremental by construction: only uncovered live files scan)
    case AnalyzeBloomRe(name, colsRaw, fppRaw) =>
      val (reg, _) = lookupMutable(parseIdent(name), "ANALYZE TABLE")
      val cols = colsRaw.split(",").map(_.trim.stripPrefix("`")
        .stripSuffix("`")).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty, "ANALYZE TABLE: name at least one column")
      TxnTable.computeBloom(spark, reg.path, cols,
        Option(fppRaw).map(_.toDouble).getOrElse(0.01))

    // STOP COPY INTO t [FROM STREAM '<dir>']: end the continuous
    // form; the checkpoint and the file registry persist, so a later
    // statement (either trigger form) resumes exactly-once. Without
    // the FROM STREAM clause, every continuous ingest of the table
    // stops — the operator verb when the landing dir isn't at hand.
    // A query that already DIED (e.g. FAILFAST on a malformed file)
    // is evicted here too, and its terminal exception SURFACES —
    // silent ingestion stops are the failure mode this closes; the
    // registry is cleaned first, so a post-fix re-issue resumes.
    case CopyStreamStopRe(name, dir) =>
      val (reg, _) = lookupMutable(parseIdent(name), "COPY INTO")
      val infos = Option(dir) match {
        case Some(d) =>
          Option(copyStreams.remove(copyStreamKey(reg.path, d))).toSeq
        case None =>
          import scala.jdk.CollectionConverters._
          val mine = copyStreams.asScala.collect {
            case (k, i) if i.path == reg.path => k }.toSeq
          mine.flatMap(k => Option(copyStreams.remove(k)))
      }
      require(infos.nonEmpty,
        "no continuous COPY INTO stream is running for " +
          Option(dir).getOrElse(parseIdent(name).mkString(".")))
      val failed = infos.flatMap(i => i.query.exception.map(i -> _))
      infos.foreach(_.query.stop())
      failed.headOption.foreach { case (i, e) =>
        throw new IllegalStateException(
          s"continuous COPY INTO for ${i.dir} had already FAILED — " +
            s"ingestion stopped at that point; it is now evicted and " +
            s"a re-issued statement resumes from the checkpoint + " +
            s"file registry. Cause: ${e.message}", e)
      }
      TxnTable.currentVersion(reg.path)

    case CopyStreamRe(name, dir, fmt, ckpt, ivl) =>
      val (reg, _) = lookupMutable(parseIdent(name), "COPY INTO")
      val schema = org.apache.spark.sql.types.StructType(
        TxnTable.currentSchema(reg.path)
          .getOrElse(TxnTable.read(spark, reg.path).schema)
          .fields.map(_.copy(nullable = true)))
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Paths.get(dir).toAbsolutePath.normalize()
          .toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      val streamId = s"copystream:$key"
      val ckptDir = Option(ckpt).getOrElse(java.nio.file.Paths
        .get(reg.path, "_stream_ckpt", key).toString)
      // landing dirs arrive as per-drop SUBDIRECTORIES (the batch
      // COPY INTO contract): recurse, don't treat them as partitions
      val reader = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
      val src = Option(fmt).map(_.toLowerCase).getOrElse("parquet") match {
        case "parquet" => reader.parquet(dir)
        case "csv" => reader.option("header", "true")
          .option("mode", "FAILFAST").csv(dir)
        case "json" => reader.option("mode", "FAILFAST").json(dir)
      }
      val wkey = copyStreamKey(reg.path, dir)
      // single writer per (table, dir): a running continuous query
      // owns the checkpoint — a second statement must not race it. A
      // DEAD entry (stopped or failed) is evicted and replaced: the
      // re-issue IS the recovery action after a fixed landing file
      // (the failure itself surfaces through SHOW STREAMS / STOP).
      Option(copyStreams.get(wkey)).foreach { running =>
        if (running.query.isActive) throw new IllegalArgumentException(
          s"a continuous COPY INTO stream is already running for " +
            s"$dir — STOP COPY INTO it first")
        copyStreams.remove(wkey, running)
      }
      val writer = src.writeStream.option("checkpointLocation", ckptDir)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) => {
            // file-level idempotence: the batch's source files
            // (metadata-scale — one row per landed file, never data
            // rows) minus the table's ingested-file registry; only
            // rows from fresh files commit, with the manifest riding
            // the commit op
            val raw = b.select(
                org.apache.spark.sql.functions.input_file_name())
              .distinct().collect().map(_.getString(0)).filter(_.nonEmpty)
            val normOf = raw.map(u => u -> normalizeFileUri(u)).toMap
            val seen = TxnTable.streamSourcesIngested(reg.path)
            val freshRaw = raw.filterNot(u => seen(normOf(u)))
            if (freshRaw.nonEmpty) {
              val fb =
                if (freshRaw.length == raw.length) b
                else b.filter(org.apache.spark.sql.functions
                  .input_file_name().isin(freshRaw.toSeq: _*))
              TxnTable.appendStreamBatch(b.sparkSession, reg.path, fb,
                streamId, id, srcFiles = freshRaw.map(normOf).toSeq)
            }
            ()
          }
        }
      Option(ivl) match {
        case None =>
          // the default: ONE AvailableNow pass per statement run
          val q = writer.trigger(
            org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          try q.awaitTermination() finally q.stop()
        case Some(sec) =>
          // TRIGGER INTERVAL 'n seconds': the SAME marker-protected
          // sink as a long-lived ProcessingTime query — the statement
          // returns immediately, drops landing in the directory
          // ingest exactly-once on the interval until STOP COPY INTO;
          // a later re-issue resumes from the checkpoint + registry
          val q = writer.trigger(org.apache.spark.sql.streaming
            .Trigger.ProcessingTime(s"$sec seconds")).start()
          copyStreams.put(wkey, CopyStreamInfo(
            parseIdent(name).mkString(".").toLowerCase, reg.path,
            dir, ckptDir, sec.toLong, streamId, q))
      }
      TxnTable.currentVersion(reg.path)

    case CopyIntoRe(name, dir, fmt, pat) =>
      val (reg, _) = lookupMutable(parseIdent(name), "COPY INTO")
      val pattern = Option(pat)
      Option(fmt).map(_.toLowerCase) match {
        case None | Some("parquet") =>
          TxnTable.copyInto(spark, reg.path, dir, pattern)
        case Some(f) =>
          TxnTable.copyIntoFormat(spark, reg.path, dir, f, pattern)
      }

    // CREATE TABLE c SHALLOW CLONE t [VERSION AS OF n] [LOCATION p]:
    // a zero-copy writable fork — the clone's v0 references the
    // source snapshot's files by absolute path (no data movement at
    // any size); the source's vacuum honors the clone's registry pin
    // until releaseClone. Spark's grammar has no CLONE, so this is a
    // statement head like the other lakehouse verbs.
    case CloneRe(dstName, srcName, ver, ts, loc) =>
      val (srcReg, _) = lookup(parseIdent(srcName))
      val dn = parseIdent(dstName).mkString(".")
      val path = Option(loc)
        .orElse(Option(tables.get(dn.toLowerCase)).map(_.path))
        .getOrElse {
          val root = Option(warehouseRoot.get).getOrElse(
            throw new IllegalArgumentException(
              "SHALLOW CLONE needs a LOCATION clause or a warehouse " +
                "root (GraftSql.setWarehouse)"))
          java.nio.file.Paths.get(root)
            .resolve(parseIdent(dstName).last.toLowerCase).toString
        }
      // same re-pointing guard as CREATE
      Option(tables.get(dn.toLowerCase)).map(_.path).foreach(p =>
        require(samePath(p, path),
          s"$dn is already registered at $p — unregister it first or " +
            s"use that LOCATION (got $path)"))
      // the snapshot pin: an explicit version, a wall-clock instant
      // (resolved through versionAt's log-mtime clock, pre-horizon
      // fence included), or the head
      val pinV = Option(ver).map(_.toLong)
        .orElse(Option(ts).map(s => TxnTable.versionAt(srcReg.path,
          timestampMillis(spark, Literal(s)))))
        .getOrElse(-1L)
      val v = TxnTable.cloneShallow(spark, srcReg.path, path, pinV)
      register(dn, path)
      v

    case RestoreRe(name, v) =>
      val (reg, _) = lookupMutable(parseIdent(name), "RESTORE")
      TxnTable.restore(spark, reg.path, v.toLong)

    // RESTORE addressed by wall clock — the "undo whatever happened
    // after 14:00" shape; resolves through versionAt (session-TZ
    // parse, pre-horizon fence)
    case RestoreTsRe(name, ts) =>
      val (reg, _) = lookupMutable(parseIdent(name), "RESTORE")
      TxnTable.restore(spark, reg.path, TxnTable.versionAt(reg.path,
        timestampMillis(spark, Literal(ts))))

    case ConvertRe(dir, name) =>
      // AS name must not silently re-point an existing registration
      // (same contract as CREATE's re-pointing guard, same
      // normalized-path comparison); quoted names register unquoted
      val regName = Option(name).map(parseIdent(_).mkString("."))
      regName.foreach(n =>
        Option(tables.get(n.toLowerCase)).map(_.path).foreach(p =>
          require(samePath(p, dir),
            s"$n is already registered at $p — unregister it first")))
      // in-place adoption: the parquet directory BECOMES the table
      // (zero data movement; footer stats harvested into the log)
      val v = TxnTable.convertParquet(spark, dir)
      regName.foreach(n => register(n, dir))
      v

    case _ => (try spark.sessionState.sqlParser.parsePlan(sqlText)
      catch {
        case pe: org.apache.spark.sql.catalyst.parser.ParseException =>
          // Spark's grammar has no multi-table UPDATE — `UPDATE … SET …
          // FROM src WHERE join-cond` (the statement users port from
          // Postgres/DuckDB) reaches here as a parse error. It is
          // EXACTLY MERGE's WHEN MATCHED UPDATE, so translate the text
          // onto the already-pinned MERGE path and re-parse. Anything
          // Spark CAN parse (e.g. scalar-subquery SETs with their own
          // FROM) never takes this branch, so the rewrite cannot
          // hijack a supported shape.
          sqlText match {
            case UpdateFromRe(tgt, tAlias, sets, src, sAlias, cond) =>
              // ON takes only the equi-join conjuncts (mergeInto's
              // one-pass key contract); every other predicate folds
              // into WHEN MATCHED AND — exact for this statement,
              // which has no other clauses
              def conj(e: Expression): Seq[Expression] = e match {
                case And(l, r) => conj(l) ++ conj(r)
                case x => Seq(x)
              }
              // Qualifier spellings of each relation (alias if given,
              // else the table name's last segment) — used to keep a
              // TARGET-ONLY equality like `t.a = t.b` out of the key
              // set: it satisfies attr=attr but joins nothing, and
              // accepting it would produce a MERGE whose ON references
              // no source column (a confusing analysis error later
              // instead of the pointed message here). Unqualified
              // names stay key candidates — MERGE's own side
              // resolution binds them against the real schemas.
              def qualsOf(ident: String, alias: String): Set[String] =
                Option(alias).map(a => parseIdent(a).last.toLowerCase)
                  .toSet + parseIdent(ident).last.toLowerCase
              val tQuals = qualsOf(tgt, tAlias)
              val sQuals = qualsOf(src, sAlias)
              def sideOf(a: UnresolvedAttribute): String =
                if (a.nameParts.length < 2) "?"
                else {
                  val h = a.nameParts.head.toLowerCase
                  if (tQuals(h)) "tgt" else if (sQuals(h)) "src" else "?"
                }
              val (keys, residual) = conj(spark.sessionState.sqlParser
                .parseExpression(cond)).partition {
                  case EqualTo(l: UnresolvedAttribute,
                               r: UnresolvedAttribute) =>
                    val (ls, rs) = (sideOf(l), sideOf(r))
                    ls == "?" || rs == "?" || ls != rs
                  case _ => false
                }
              require(keys.nonEmpty,
                "UPDATE … FROM needs at least one target-column = " +
                  "source-column equality in WHERE — that is the join key")
              val when =
                if (residual.isEmpty) "WHEN MATCHED"
                else "WHEN MATCHED AND " +
                  residual.map(_.sql).mkString(" AND ")
              spark.sessionState.sqlParser.parsePlan(
                s"MERGE INTO $tgt ${Option(tAlias).getOrElse("")} " +
                  s"USING $src ${Option(sAlias).getOrElse("")} " +
                  s"ON ${keys.map(_.sql).mkString(" AND ")} " +
                  s"$when THEN UPDATE SET $sets")
            case _ => throw pe
          }
      }) match {
      case DeleteFromTable(t, cond) =>
        val (reg, quals) = targetMutable(t, "DELETE")
        val c = Bridge.column(
          resolveSubqueries(spark, stripQual(cond, quals)))
        if (routeMor(reg)) TxnTable.deleteWhereMor(spark, reg.path, c)
        else TxnTable.deleteWhere(spark, reg.path, c)

      case UpdateTable(t, assigns, cond) =>
        val (reg, quals) = targetMutable(t, "UPDATE")
        // SET values may carry SCALAR subqueries (projection-legal)
        val set = assigns.map(a =>
          lastName(a.key) -> Bridge.column(
            resolveSubqueries(spark, stripQual(a.value, quals)))).toMap
        val c = cond.map(e => Bridge.column(
          resolveSubqueries(spark, stripQual(e, quals))))
          .getOrElse(lit(true))
        if (routeMor(reg)) TxnTable.updateWhereMor(spark, reg.path, c, set)
        else TxnTable.updateWhere(spark, reg.path, c, set)

      case m: MergeIntoTable => merge(spark, m)

      case InsertIntoStatement(t, partSpec, cols, q, overwrite, ifNot,
          byName) =>
        require(partSpec.isEmpty && !ifNot,
          "partition specs are not supported on txn-table INSERTs")
        val (reg, _) = targetMutable(t, "INSERT")
        val tgtSchema = TxnTable.read(spark, reg.path).schema
        val tgtCols = tgtSchema.fieldNames
        val src = Bridge.ofRows(spark, substituteRelations(spark, q))
        // an explicit column list reorders/renames the query's output
        // into table position; missing columns are not defaulted
        val df =
          if (byName) {
            // INSERT INTO ... BY NAME: match on the query's output names
            val have = src.columns.map(c => c.toLowerCase -> c).toMap
            val missing = tgtCols.filterNot(c => have.contains(c.toLowerCase))
            require(missing.isEmpty,
              s"INSERT BY NAME: query output lacks ${missing.mkString(", ")}")
            src.select(tgtCols.map(c =>
              org.apache.spark.sql.functions.col(have(c.toLowerCase)).as(c))
              .toSeq: _*)
          } else if (cols.isEmpty) {
            // positional: the query's output maps onto the table shape
            require(src.columns.length == tgtCols.length,
              s"INSERT query width ${src.columns.length} != table width " +
                s"${tgtCols.length}")
            src.toDF(tgtCols.toSeq: _*)
          } else {
            require(cols.length == src.columns.length,
              s"INSERT column list (${cols.length}) must match the " +
                s"query's output width (${src.columns.length})")
            val byName = cols.zip(src.columns).toMap
            val missing = tgtCols.filterNot(c =>
              cols.exists(_.equalsIgnoreCase(c)))
            require(missing.isEmpty,
              s"INSERT column list omits table columns: " +
                missing.mkString(", "))
            src.select(tgtCols.map { c =>
              val srcName = byName.find(_._1.equalsIgnoreCase(c)).get._2
              org.apache.spark.sql.functions.col(srcName).as(c)
            }.toSeq: _*)
          }
        // SQL INSERT semantics: the query's output coerces to the
        // table's column types (a literal 9 inserts into a BIGINT)
        val coerced = df.select(tgtSchema.fields.map(f =>
          org.apache.spark.sql.functions.col(f.name)
            .cast(f.dataType).as(f.name)).toSeq: _*)
        if (overwrite) TxnTable.overwrite(spark, reg.path, coerced)
        else TxnTable.append(spark, reg.path, coerced)

      case AddColumns(t, cols) =>
        val (reg, _) = targetMutable(t, "ALTER TABLE")
        cols.foreach(c => require(c.position.isEmpty && c.default.isEmpty,
          "column position / DEFAULT are not supported"))
        val (nested, top) = cols.partition(_.path.isDefined)
        var v = -1L
        if (top.nonEmpty)
          v = TxnTable.addColumns(spark, reg.path,
            top.map(c => c.colName -> c.dataType))
        nested.foreach { c =>
          val parts = c.path.get match {
            case f: org.apache.spark.sql.catalyst.analysis
                .UnresolvedFieldName => f.name
            case other => throw new IllegalArgumentException(
              s"unsupported ADD COLUMNS path: $other")
          }
          v = TxnTable.addStructField(spark, reg.path,
            (parts :+ c.colName).mkString("."), c.dataType)
        }
        v

      case DropColumns(t, fields, ifExists) =>
        val (reg, _) = targetMutable(t, "ALTER TABLE")
        val parts = fields.map {
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName =>
            f.name
          case other => throw new IllegalArgumentException(
            s"unsupported DROP COLUMNS field: $other")
        }
        val (nestedP, topP) = parts.partition(_.length > 1)
        require(nestedP.isEmpty || !ifExists,
          "IF EXISTS is not supported on nested DROP COLUMNS")
        var v = -1L
        val names = topP.map(_.head)
        val present =
          if (!ifExists) names
          else {
            val have = TxnTable.read(spark, reg.path)
              .columns.map(_.toLowerCase).toSet
            names.filter(n => have(n.toLowerCase))
          }
        if (present.nonEmpty)
          v = TxnTable.dropColumns(spark, reg.path, present)
        nestedP.foreach(pp =>
          v = TxnTable.dropStructField(spark, reg.path, pp.mkString(".")))
        if (v < 0) TxnTable.currentVersion(reg.path) else v

      case RenameColumn(t, field, newName) =>
        val (reg, _) = targetMutable(t, "ALTER TABLE")
        val from = field match {
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName =>
            require(f.name.length == 1,
              "nested RENAME COLUMN is not supported")
            f.name.head
          case other => throw new IllegalArgumentException(
            s"unsupported RENAME COLUMN field: $other")
        }
        TxnTable.renameColumn(spark, reg.path, from, newName)

      // ALTER TABLE t ALTER COLUMN c TYPE <wider>: metadata-only type
      // widening — the TxnTable validates the widening matrix and
      // refuses narrowing/incompatible casts loudly
      case ac: AlterColumns =>
        val (reg, _) = targetMutable(ac.table, "ALTER TABLE")
        var v = TxnTable.currentVersion(reg.path)
        ac.specs.foreach { spec =>
          require(spec.newDataType.isDefined &&
            spec.newNullability.isEmpty && spec.newComment.isEmpty &&
            spec.newPosition.isEmpty,
            "ALTER COLUMN supports TYPE <wider> only (nullability/" +
              "comment/position changes are not supported)")
          val parts = spec.column match {
            case f: org.apache.spark.sql.catalyst.analysis
                .UnresolvedFieldName => f.name
            case other => throw new IllegalArgumentException(
              s"unsupported ALTER COLUMN field: $other")
          }
          v =
            if (parts.length == 1)
              TxnTable.widenColumnType(spark, reg.path, parts.head,
                spec.newDataType.get)
            else TxnTable.widenStructFieldType(spark, reg.path,
              parts.mkString("."), spec.newDataType.get)
        }
        v

      // ALTER TABLE t SET TBLPROPERTIES (...): a metadata commit —
      // the property is TABLE state; a graft.mor flip re-routes every
      // subsequent DML statement on any session reading this table
      case sp: SetTableProperties =>
        val (reg, _) = targetMutable(sp.table, "ALTER TABLE")
        TxnTable.setProperties(reg.path, sp.properties)

      case up: UnsetTableProperties =>
        val (reg, _) = targetMutable(up.table, "ALTER TABLE")
        TxnTable.unsetProperties(reg.path, up.propertyKeys, up.ifExists)

      case ct: CreateTable =>
        val (nm, path, mor) = createTarget(ct.name, ct.tableSpec)
        // loud-contract: a plain CREATE persists NO layout spec, so a
        // PARTITIONED BY / CLUSTER BY clause would be silently
        // dropped — reject it (CTAS CLUSTER BY lays data out; OPTIMIZE
        // ZORDER BY re-clusters after load)
        require(ct.partitioning.isEmpty,
          "CREATE TABLE does not persist a layout spec — use CTAS " +
            "with CLUSTER BY, or OPTIMIZE … ZORDER BY after loading")
        existingVersion(nm, path) match {
          case Some(v) =>
            if (!ct.ignoreIfExists) throw new IllegalArgumentException(
              s"CREATE TABLE: $nm already exists (at $path) — use IF " +
                "NOT EXISTS or CREATE OR REPLACE")
            registerKeepingMor(nm, path, mor); v
          case None =>
            require(ct.columns.nonEmpty,
              "CREATE TABLE needs a column list (or use CTAS)")
            val schema = org.apache.spark.sql.types.StructType(
              ct.columns.map(c => org.apache.spark.sql.types.StructField(
                c.name, c.dataType, c.nullable)))
            // an empty CREATE has nothing to cluster: CLUSTER BY keys
            // take effect on the data CTAS/OPTIMIZE writes
            val v = TxnTable.create(spark, path,
              Bridge.ofRows(spark, LocalRelation(
                org.apache.spark.sql.catalyst.types.DataTypeUtils
                  .toAttributes(schema))))
            register(nm, path, mor); v
        }

      case ctas: CreateTableAsSelect =>
        val (nm, path, mor) = createTarget(ctas.name, ctas.tableSpec)
        existingVersion(nm, path) match {
          case Some(v) =>
            if (!ctas.ignoreIfExists) throw new IllegalArgumentException(
              s"CREATE TABLE: $nm already exists (at $path) — use IF " +
                "NOT EXISTS or CREATE OR REPLACE")
            registerKeepingMor(nm, path, mor); v
          case None =>
            val df = Bridge.ofRows(spark,
              substituteRelations(spark, ctas.query))
            val v = createMaybeClustered(spark, path, df,
              ctas.partitioning, ctas.tableSpec)
            register(nm, path, mor); v
        }

      case ac: AddConstraint =>
        val (reg, _) = targetMutable(ac.table, "ALTER TABLE")
        ac.tableConstraint match {
          case c: org.apache.spark.sql.catalyst.expressions.CheckConstraint =>
            TxnTable.addConstraint(spark, reg.path, c.name, c.condition)
          case other => throw new IllegalArgumentException(
            s"only CHECK constraints are supported, got $other")
        }

      // the parser wraps an unresolved CHECK (expression text not yet
      // bound) as AddCheckConstraint — same dispatch, the TxnTable
      // validates the SQL against existing rows itself
      case ac: AddCheckConstraint =>
        // the parser wraps the target relation in a Filter carrying
        // the CHECK condition — dig the relation out of the subtree
        val rel = ac.child.collectFirst {
          case r: UnresolvedRelation => r: LogicalPlan
          case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
            t: LogicalPlan
        }.getOrElse(throw new IllegalArgumentException(
          s"ADD CONSTRAINT: no table in ${ac.child.nodeName}"))
        val (reg, _) = targetMutable(rel, "ALTER TABLE")
        TxnTable.addConstraint(spark, reg.path,
          ac.checkConstraint.name, ac.checkConstraint.condition)

      case dc: DropConstraint =>
        val (reg, _) = targetMutable(dc.table, "ALTER TABLE")
        require(!dc.cascade, "DROP CONSTRAINT CASCADE is not supported")
        val existed = TxnTable.dropConstraint(reg.path, dc.name)
        require(existed || dc.ifExists,
          s"no such constraint ${dc.name} — use IF EXISTS")
        TxnTable.currentVersion(reg.path)

      case rtas: ReplaceTableAsSelect =>
        val (nm, path, mor) = createTarget(rtas.name, rtas.tableSpec)
        // fence BEFORE the overwrite: register()'s own MV guard only
        // fires after the content would already be replaced
        require(!matviews.containsKey(nm) &&
          !matviews.containsKey(nm.split('.').last),
          s"$nm is a materialized view — REPLACE TABLE would diverge " +
            "its content from its definition; use REFRESH MATERIALIZED " +
            s"VIEW $nm instead, or DROP MATERIALIZED VIEW")
        val df = Bridge.ofRows(spark,
          substituteRelations(spark, rtas.query))
        existingVersion(nm, path) match {
          case Some(_) =>
            // atomic content+schema replacement; history stays readable
            val v = TxnTable.overwrite(spark, path, df,
              evolveSchema = true)
            register(nm, path, mor); v
          case None =>
            if (!rtas.orCreate) throw new IllegalArgumentException(
              s"REPLACE TABLE: $nm does not exist — use CREATE OR REPLACE")
            val v = createMaybeClustered(spark, path, df,
              rtas.partitioning, rtas.tableSpec)
            register(nm, path, mor); v
        }

      // CREATE [OR REPLACE] VIEW v AS SELECT …: names a derived query
      // over registered txn tables. The body's UNANALYZED plan is
      // stored and re-substituted at every query, so the view tracks
      // each referenced table's head (or stays pinned where the body
      // says VERSION/TIMESTAMP AS OF). Views commit nothing: returns
      // -1 (no table version moved).
      case cv: CreateView =>
        val nm = cv.child match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier => u.nameParts.mkString(".").toLowerCase
          case other => throw new IllegalArgumentException(
            s"unsupported CREATE VIEW target: ${other.nodeName}")
        }
        require(cv.userSpecifiedColumns.isEmpty,
          "CREATE VIEW column lists are not supported — alias in the " +
            "SELECT instead")
        require(!tables.containsKey(nm) &&
          !tables.containsKey(nm.split('.').last),
          s"$nm is a registered txn table — a view must not shadow it")
        if (views.containsKey(nm) && !cv.replace) {
          require(cv.allowExisting,
            s"view $nm already exists — use CREATE OR REPLACE VIEW")
          // IF NOT EXISTS: the existing definition stands untouched
        } else {
          views.put(nm, cv.query)
          persistView(nm, cv.originalText)
        }
        -1L

      // DROP TABLE = UNREGISTER (external-table semantics: the
      // directory and its history stay — dropping a name must never
      // delete 100 TB; reclaim space explicitly with VACUUM, then
      // delete the directory). PURGE is refused for the same reason.
      case dt: DropTable =>
        val nm = dt.child match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier => u.nameParts.mkString(".").toLowerCase
          case other => throw new IllegalArgumentException(
            s"unsupported DROP TABLE target: ${other.nodeName}")
        }
        require(!dt.purge,
          "DROP TABLE … PURGE is not supported — VACUUM RETAIN 0 " +
            "HOURS, then delete the directory explicitly")
        // a DROP TABLE on an MV name would strip the table entry but
        // leave the matview registration behind — a ghost SHOW row
        // over an unresolvable name
        require(!matviews.containsKey(nm),
          s"$nm is a materialized view — use DROP MATERIALIZED VIEW")
        val existed = tables.remove(nm) != null
        require(existed || dt.ifExists,
          s"no such registered table $nm — use DROP TABLE IF EXISTS")
        if (existed) persistDrop(s"table:$nm")
        -1L

      // TRUNCATE TABLE = logical delete-all (bytes stay, history and
      // restore keep working; vacuum reclaims explicitly)
      case tt: TruncateTable =>
        val nm = tt.table match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
            u.multipartIdentifier.mkString(".").toLowerCase
          case other => throw new IllegalArgumentException(
            s"unsupported TRUNCATE target: ${other.nodeName}")
        }
        TxnTable.truncate(lookupMutable(Seq(nm), "TRUNCATE")._1.path)

      case dv: DropView =>
        val nm = dv.child match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier => u.nameParts.mkString(".").toLowerCase
          case other => throw new IllegalArgumentException(
            s"unsupported DROP VIEW target: ${other.nodeName}")
        }
        val existed = views.remove(nm) != null
        require(existed || dv.ifExists,
          s"no such view $nm — use DROP VIEW IF EXISTS")
        if (existed) persistDrop(s"view:$nm")
        -1L

      case other => throw new IllegalArgumentException(
        s"GraftSql.execute handles CREATE [OR REPLACE] TABLE [AS " +
          s"SELECT] / CREATE [OR REPLACE] VIEW / DROP VIEW / UPDATE / " +
          s"DELETE FROM / MERGE INTO / INSERT / " +
          s"ALTER TABLE ADD|DROP|RENAME COLUMN / OPTIMIZE / VACUUM; " +
          s"got ${other.nodeName} — run SELECTs through query()")
    }
  }

  // -- CREATE TABLE plumbing ----------------------------------------------

  /** Warehouse root: `CREATE TABLE t` without a LOCATION clause lands
    * at `<warehouse>/<table name>`. */
  private val warehouseRoot =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  def setWarehouse(dir: String): Unit = warehouseRoot.set(dir)

  def getWarehouse: Option[String] = Option(warehouseRoot.get)

  // -- persistent catalog ---------------------------------------------------
  //
  // Registrations and views are durable TABLE STATE when a catalog is
  // enabled: the registry lives in a warehouse-root TxnTable whose
  // PROPERTIES map is the catalog (`table:<name>` → {path, mor} JSON,
  // `view:<name>` → the view's SQL text). Every register / CREATE /
  // DROP is one atomic metadata commit (tryCommit is create-exclusive
  // per version), so two sessions mutating the catalog serialize at
  // the commit level — no overwrite race can drop an entry — and a
  // fresh session loads the same names every other session sees.
  // DESCRIBE HISTORY on the catalog table is the audit trail for free.

  private val catalogPath =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Bind (creating if absent) the persistent catalog at
    * `<warehouse>/_graft_catalog` and load its entries into this
    * session's registry. Needs [[setWarehouse]] first. */
  def enableCatalog(spark: SparkSession): Unit = {
    val root = Option(warehouseRoot.get).getOrElse(
      throw new IllegalArgumentException(
        "enableCatalog needs a warehouse root — GraftSql.setWarehouse"))
    val p = java.nio.file.Paths.get(root).resolve("_graft_catalog")
      .toString
    if (TxnTable.currentVersion(p) < 0)
      // two sessions bootstrapping one warehouse race on v0: create
      // is create-exclusive, so losing is benign — the winner's
      // (identical, empty) catalog is the one both load
      try TxnTable.create(spark,
        p, spark.range(0).selectExpr("cast(id as string) as _unused"))
      catch { case e: Exception =>
        if (TxnTable.currentVersion(p) < 0) throw e }
    catalogPath.set(p)
    loadCatalog(spark)
  }

  /** Stop persisting (the in-memory registry stays as-is). */
  def disableCatalog(): Unit = catalogPath.set(null)

  /** Clear this session's in-memory registry — what a FRESH process
    * starts with; [[enableCatalog]] then reloads the durable state. */
  def resetSession(): Unit =
    { tables.clear(); views.clear(); matviews.clear() }

  private def loadCatalog(spark: SparkSession): Unit = {
    val p = catalogPath.get
    if (p == null) return
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    // views load AFTER tables so the no-shadow guards see the full
    // table set; entries merge over (never clear) session-local state
    val props = TxnTable.properties(p)
    props.foreach {
      case (k, v) if k.startsWith("table:") =>
        val j = JsonMethods.parse(v)
        tables.put(k.stripPrefix("table:"),
          Reg((j \ "path").extract[String], (j \ "mor").extract[Boolean]))
      case _ => ()
    }
    props.foreach {
      case (k, v) if k.startsWith("view:") =>
        val nm = k.stripPrefix("view:")
        // a cross-session race can persist BOTH table:<n> and
        // view:<n> (each side's in-memory guard couldn't see the
        // other's uncommitted entry): tables win deterministically on
        // load — a half-loaded shadowed view would resolve as the
        // table anyway but answer SHOW VIEWS, which is worse
        if (!tables.containsKey(nm))
          views.put(nm, spark.sessionState.sqlParser.parsePlan(v))
      case _ => ()
    }
    // same tables-win precedence as the view branch: a cross-session
    // race can persist BOTH table:<n> and matview:<n>; loading the
    // matview LAST with an unconditional put would resolve
    // matview-wins — the opposite rule. Skip the matview when a
    // `table:` entry holds the name.
    val tableEntries = props.keysIterator
      .filter(_.startsWith("table:")).map(_.stripPrefix("table:")).toSet
    props.foreach {
      case (k, v) if k.startsWith("matview:") =>
        val nm = k.stripPrefix("matview:")
        if (!tableEntries.contains(nm)) {
          val j = JsonMethods.parse(v)
          val path = (j \ "path").extract[String]
          matviews.put(nm, (path, (j \ "text").extract[String]))
          tables.put(nm, Reg(path, mor = false))
        }
      case _ => ()
    }
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def persistTable(nm: String, path: String, mor: Boolean): Unit = {
    val p = catalogPath.get
    if (p != null) TxnTable.setProperties(p,
      Map(s"table:$nm" -> s"""{"path":${jstr(path)},"mor":$mor}"""))
  }

  private def persistView(nm: String, text: Option[String]): Unit = {
    val p = catalogPath.get
    if (p == null) return
    val t = text.getOrElse(throw new IllegalArgumentException(
      s"view $nm has no SQL text to persist — a persistent catalog " +
        "needs CREATE VIEW statement text"))
    TxnTable.setProperties(p, Map(s"view:$nm" -> t))
  }

  private def persistDrop(key: String): Unit = {
    val p = catalogPath.get
    if (p != null) TxnTable.unsetProperties(p, Seq(key), ifExists = true)
  }

  // -- materialized views ---------------------------------------------------
  //
  // An MV is a real TxnTable maintained by re-running its SELECT: the
  // refresh OVERWRITES the table with one commit whose op records the
  // source tables' versions at compute time (`matview:{"src":v,…}`),
  // so STALENESS is decidable from log metadata alone (recorded vs
  // current source versions — zero scans), the refresh itself is
  // atomic + time-travelable like any overwrite, and readers just see
  // a table (queries resolve the name through the ordinary registry).
  // Refreshes are full recomputes — the right default for arbitrary
  // SELECT shapes; the incremental path for fold-able aggregates is
  // StreamIvm's, which shares the same version-marker idea.

  private val matviews = new ConcurrentHashMap[String, (String, String)]()

  private def persistMv(nm: String, path: String, text: String): Unit = {
    val p = catalogPath.get
    if (p != null) TxnTable.setProperties(p,
      Map(s"matview:$nm" ->
        s"""{"path":${jstr(path)},"text":${jstr(text)}}"""))
  }

  private def mvSources(spark: SparkSession, text: String): Seq[String] = {
    // registered VIEW names expand recursively (substituting each
    // view's stored plan), so the staleness marker covers every
    // TRANSITIVELY-referenced txn table — a SELECT mixing a table
    // with a view must not under-track the view's base tables
    val expanded = scala.collection.mutable.Set[String]()
    val out = scala.collection.mutable.LinkedHashSet[String]()
    def walk(plan: LogicalPlan): Unit = plan.foreach {
      case r: UnresolvedRelation =>
        val full = r.multipartIdentifier.mkString(".").toLowerCase
        val short = r.multipartIdentifier.last.toLowerCase
        if (tables.containsKey(full)) out += full
        else if (tables.containsKey(short)) out += short
        else {
          val vn = if (views.containsKey(full)) full
            else if (views.containsKey(short)) short else null
          // CTE-local names resolve to nothing here: ignored, as
          // before (their bodies are part of this same plan tree)
          if (vn != null && expanded.add(vn)) walk(views.get(vn))
        }
      case _ => ()
    }
    walk(spark.sessionState.sqlParser.parsePlan(text))
    out.toSeq
  }

  private def mvMarker(srcs: Seq[String]): String =
    "matview:" + srcs.sorted.map { s =>
      val v = TxnTable.currentVersion(tables.get(s).path)
      s""""$s":$v"""
    }.mkString("{", ",", "}")

  /** The (source → version) map the MV's LAST refresh recorded. */
  private def mvRecorded(path: String): Map[String, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    // walk BACKWARD with single-commit reads: the marker is almost
    // always the head (every MV commit is a create/refresh), so this
    // is O(1), not an O(versions) full-prefix read per SHOW
    var v = TxnTable.currentVersion(path)
    val lo = TxnTable.earliestVersion(path)
    while (v >= lo) {
      val op = TxnTable.commitInfo(path, v).op
      if (op.startsWith("matview:"))
        return JsonMethods.parse(op.stripPrefix("matview:")) match {
          case JObject(fields) =>
            fields.map { case (k, jv) => k -> jv.extract[Long] }.toMap
          case _ => Map.empty
        }
      v -= 1
    }
    Map.empty
  }

  private def mvStale(path: String): Boolean =
    mvRecorded(path).exists { case (src, v) =>
      val reg = tables.get(src)
      reg == null || TxnTable.currentVersion(reg.path) > v
    }

  // -- count(DISTINCT) auxiliary state ---------------------------------------
  //
  // A count(DISTINCT v) cannot fold from the MV's own rows (losing a
  // row doesn't say whether its value still occurs in the group), so
  // fold-shaped MVs carry the classic dual-table IVM construction: a
  // per-(group, value) multiplicity table — itself EXACTLY maintained
  // by the signed-delta fold — rides each distinct column as a
  // sibling TxnTable; the distinct count is its per-group row count.
  // Each table (MV and every aux) records its OWN consumed source
  // versions in its marker, and the incremental path requires them
  // EQUAL: a crash between the two overwrites degrades exactly one
  // refresh to the full path, which rebuilds both atomically-enough
  // (each table is individually atomic, and divergence is detected,
  // never served).

  /** The aux table of the MV at `path` for distinct-value index `v`. */
  private def auxPath(path: String, v: Int): String =
    s"${path}__distinct_v$v"

  /** Distinct-value indices whose aux tables the FOLD regime will
    * consume — only fold-shaped definitions (cnt present, fold-able
    * kinds only, no HAVING) maintain aux state; every other cntd mix
    * recomputes touched groups from the source (carry+recompute). */
  private def auxNeeded(shape: MvShape): Seq[Int] = {
    val aggItems = shape.items.collect { case a: MvAgg => a }
    val kinds = aggItems.map(_.kind).toSet
    if (kinds("cntd") && kinds("cnt") && shape.having.isEmpty &&
        kinds.subsetOf(Set("cnt", "sum", "cntc", "cntd")))
      aggItems.collect { case MvAgg("cntd", v, _) => v }.distinct
    else Nil
  }

  /** The (group…, value, multiplicity) frame for distinct index `v`,
    * computed from the definition's FROM/WHERE subtree at the HEAD
    * versions (relations resolve through the normal substitution). */
  private def auxFrame(spark: SparkSession, shape: MvShape,
      v: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val list: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] =
      shape.groupExprs.zipWithIndex.map { case (e, i) =>
        Alias(e, s"__g$i")() } :+ Alias(shape.valueExprs(v), "__val")()
    val base = Bridge.ofRows(spark,
      Project(list, substituteRelations(spark, shape.child)))
    base.filter(col("__val").isNotNull)
      .groupBy(shape.groupExprs.indices.map(i => col(s"__g$i")) :+
        col("__val"): _*)
      .agg(count(lit(1)).cast("long").as("__c"))
  }

  /** (Re)build every needed aux table from scratch — the CREATE and
    * full-REFRESH companion. Shares the caller's marker op so the MV
    * and its aux record the same conservative source pins. */
  private def maintainAuxFull(spark: SparkSession, path: String,
      text: String, markerOp: String): Unit =
    recognizeFoldShape(spark, text).foreach { shape =>
      auxNeeded(shape).foreach { v =>
        val ap = auxPath(path, v)
        val df = auxFrame(spark, shape, v)
        if (TxnTable.currentVersion(ap) < 0)
          TxnTable.create(spark, ap, df, op = markerOp)
        else TxnTable.overwrite(spark, ap, df, op = markerOp)
      }
    }

  // -- incremental REFRESH --------------------------------------------------
  //
  // An incrementally-maintainable MV — `SELECT <groups, aggregates>
  // FROM fact [JOIN dim ON ...]* [WHERE row-local] GROUP BY <attrs>`
  // over registered txn tables — refreshes at O(changed files), not
  // O(table). ANY subset of relations may have changed since the
  // marker: each changed relation's [[TxnTable.changedRowSides]]
  // delta (key-free row multisets scoped to the files that
  // entered/left the snapshot) is pushed THROUGH the MV's own
  // FROM/WHERE subtree via the telescoping join expansion
  // (Π new − Π old = Σᵢ new_{<i} ⋈ Δᵢ ⋈ old_{>i}), the other
  // relations pinned at the expansion's versions and broadcast.
  // Three regimes:
  //  - count/sum(+WHERE, any group arity, any inner star join) fold
  //    exactly with zero source reads beyond the delta;
  //  - the single-table long/string-group count/sum/min/max tier
  //    rides [[IncrementalView.maintainMinMaxFromSides]] (monotone
  //    growth + pruned recompute only for extreme-hit groups);
  //  - every other agg mix (avg, partial tiers, multi-value-column
  //    extremes) carries untouched groups verbatim from the MV and
  //    re-aggregates ONLY the netted delta's touched groups from the
  //    pinned source (pruned where the group is a single-table
  //    long/string column) — exact for every kind, including avg
  //    over nullable values, with no derived-state drift.
  // Shapes outside the contract — outer joins, subqueries, DISTINCT
  // aggregates, expression groups, nondeterministic predicates —
  // fall back to the full recompute,
  // which is always correct and re-records every source version.

  /** What a `REFRESH MATERIALIZED VIEW` did. `changedFiles` = the
    * delta scan's absolute file paths; `recomputeFiles` = the
    * extreme/touched-group recompute's scan (empty for pure folds);
    * `liveFiles` = changed-source live file count at the target
    * version (-1 on the full path); `fallback` = the class and message
    * of the error that degraded an incremental attempt to full. */
  case class MvRefreshStats(mode: String, changedFiles: Set[String],
      recomputeFiles: Seq[String], liveFiles: Int,
      fallback: Option[String] = None)
  val MvRefresh: OpMetrics.Key[MvRefreshStats] =
    OpMetrics.Key.latest("mv_refresh")

  /** The carry+recompute regime's DRIVER-STATE audit: `MvCarryProbe`
    * = the distributed limit(cap+1).count() of the touched-group set
    * (absent when the regime never ran); `MvCarryKeys` = how many
    * group tuples were actually collected (absent when the bound
    * tripped and the refresh fell back WITHOUT materializing them).
    * Pins that a wide-churn high-cardinality delta never collects. */
  val MvCarryProbe: OpMetrics.Key[Long] = OpMetrics.Key.latest("mv_carry_probe")
  val MvCarryKeys: OpMetrics.Key[Long] = OpMetrics.Key.latest("mv_carry_keys")

  /** Recognized incrementally-maintainable shape. `items` is the
    * SELECT list in order: group attributes (each GROUP BY expression
    * exactly once) and aggregates from count(*) / sum / min / max /
    * avg — no DISTINCT, no FILTER, no expressions. `child` is the
    * unresolved [Filter over] inner-join tree whose leaves are
    * registered txn tables, each appearing at most once (a self-join
    * would make the changed side ambiguous). */
  private sealed trait MvItem { def out: String }
  private case class MvGroup(g: Int, out: String) extends MvItem
  private case class MvAgg(kind: String, v: Int, out: String)
    extends MvItem // v = -1 for count(*)
  private case class MvShape(
      rels: Seq[String],
      child: LogicalPlan,
      groupExprs: Seq[Expression],
      valueExprs: Seq[UnresolvedAttribute],
      items: Seq[MvItem],
      cond: Option[Expression],
      relQuals: Map[String, Set[String]],
      having: Option[Expression])

  /** Two unresolved attributes name the same column: identical parts,
    * or one is the unqualified form of the other. */
  private def sameAttr(a: UnresolvedAttribute, b: UnresolvedAttribute)
      : Boolean = {
    val an = a.nameParts.map(_.toLowerCase)
    val bn = b.nameParts.map(_.toLowerCase)
    an == bn || (an.length == 1 && an.head == bn.last) ||
      (bn.length == 1 && bn.head == an.last)
  }

  /** Two unresolved GROUP expressions denote the same thing:
    * attribute-aware name matching, else the parser's own SQL
    * rendering (conservative — a false negative just means the shape
    * falls back to the full recompute). */
  private def sameGroupExpr(a: Expression, b: Expression): Boolean =
    (a, b) match {
      case (x: UnresolvedAttribute, y: UnresolvedAttribute) =>
        sameAttr(x, y)
      case _ => a.sql == b.sql
    }

  private def regNameOf(r: UnresolvedRelation): Option[String] = {
    val full = r.multipartIdentifier.mkString(".").toLowerCase
    val short = r.multipartIdentifier.last.toLowerCase
    if (tables.containsKey(full)) Some(full)
    else if (tables.containsKey(short)) Some(short) else None
  }

  private def recognizeFoldShape(spark: SparkSession,
      text: String): Option[MvShape] = {
    val plan =
      try spark.sessionState.sqlParser.parsePlan(text)
      catch { case _: Exception => return None }
    recognizeFoldShape(plan)
  }

  private def recognizeFoldShape(plan: LogicalPlan): Option[MvShape] = {
    val (groupExprs, aggExprs, child, having) = plan match {
      case Aggregate(g, a, c, _) => (g, a, c, None)
      case org.apache.spark.sql.catalyst.analysis
          .UnresolvedHaving(h, Aggregate(g, a, c, _)) =>
        (g, a, c, Some(h))
      case _ => return None
    }
    // everything below the aggregate is re-executed against delta
    // rows: no subqueries anywhere (WHERE, HAVING, join conditions —
    // including NESTED join conditions, so the walk covers EVERY
    // node's expressions, not just the top one's: a scalar subquery
    // whose value drifts between refreshes would make carried state
    // silently stale)
    if ((child.flatMap(_.expressions) ++ having).exists(_.find {
      case _: SubqueryExpression => true; case _ => false }.nonEmpty))
      return None
    val (below, cond) = child match {
      case Filter(c, u) => (u, Some(c))
      case u => (u, None)
    }
    // the FROM tree: inner/cross joins over DISTINCT registered tables
    val rels = scala.collection.mutable.ArrayBuffer[String]()
    val quals = scala.collection.mutable.Map[String, Set[String]]()
    var ok = true
    def leaf(r: UnresolvedRelation, alias: Option[String]): Unit =
      regNameOf(r) match {
        case Some(nm) if !rels.contains(nm) =>
          rels += nm
          quals(nm) = Set(r.multipartIdentifier.last.toLowerCase) ++
            alias.map(_.toLowerCase)
        case _ => ok = false
      }
    def walk(p: LogicalPlan): Unit = p match {
      case Join(l, r, Inner, _, _) => walk(l); walk(r)
      case Join(l, r, Cross, _, _) => walk(l); walk(r)
      case SubqueryAlias(id, r: UnresolvedRelation) => leaf(r, Some(id.name))
      case r: UnresolvedRelation => leaf(r, None)
      case _ => ok = false
    }
    walk(below)
    if (!ok || rels.isEmpty) return None
    // group keys may be arbitrary row-local EXPRESSIONS (time
    // buckets, modulo bands — the rollup-table shape); subqueries are
    // already fenced above, nondeterminism is fenced post-analysis
    val gAttrs: Seq[Expression] = groupExprs.map {
      case e if e.find {
        case _: SubqueryExpression => true; case _ => false
      }.nonEmpty => return None
      case e => e
    }
    val valueExprs = scala.collection.mutable.ArrayBuffer[UnresolvedAttribute]()
    def vIdx(a: UnresolvedAttribute): Int = {
      val i = valueExprs.indexWhere(sameAttr(_, a))
      if (i >= 0) i else { valueExprs += a; valueExprs.length - 1 }
    }
    val matchedGroups = scala.collection.mutable.Set[Int]()
    val items: Seq[MvItem] = aggExprs.map { e =>
      val (target, name) = e match {
        case al: Alias => (al.child, al.name)
        case a: UnresolvedAttribute => (a, a.nameParts.last)
        case _ => return None
      }
      target match {
        case a: UnresolvedAttribute
            if gAttrs.exists(sameGroupExpr(_, a)) =>
          val gi = gAttrs.indexWhere(sameGroupExpr(_, a))
          if (!matchedGroups.add(gi)) return None
          MvGroup(gi, name)
        // count(DISTINCT v): maintained through the per-(group,value)
        // AUX table (the dual-table IVM construction) in the fold
        // regime, or recomputed per touched group in carry+recompute
        case f: UnresolvedFunction
            if f.isDistinct && f.filter.isEmpty &&
              f.nameParts.length == 1 &&
              f.nameParts.head.equalsIgnoreCase("count") =>
          f.arguments match {
            case Seq(a: UnresolvedAttribute) => MvAgg("cntd", vIdx(a), name)
            case _ => return None
          }
        case f: UnresolvedFunction
            if !f.isDistinct && f.filter.isEmpty &&
              f.nameParts.length == 1 =>
          (f.nameParts.head.toLowerCase, f.arguments) match {
            case ("count", Seq(Literal(_, _))) => MvAgg("cnt", -1, name)
            case ("count",
              Seq(_: org.apache.spark.sql.catalyst.analysis.Star)) =>
              MvAgg("cnt", -1, name)
            // count(col) = the NON-NULL count ("cntc"): folds exactly
            // (a delta row contributes its sign only when the value is
            // non-null) and re-aggregates exactly
            case ("count", Seq(a: UnresolvedAttribute)) =>
              MvAgg("cntc", vIdx(a), name)
            case (k @ ("sum" | "min" | "max" | "avg"),
                Seq(a: UnresolvedAttribute)) =>
              MvAgg(k, vIdx(a), name)
            case _ =>
              // an aggregate-free function could still BE a group
              // expression (upper(s), date_trunc(...), …)
              val gi = gAttrs.indexWhere(sameGroupExpr(_, f))
              if (gi < 0 || !matchedGroups.add(gi)) return None
              MvGroup(gi, name)
          }
        case e =>
          val gi = gAttrs.indexWhere(sameGroupExpr(_, e))
          if (gi < 0 || !matchedGroups.add(gi)) return None
          MvGroup(gi, name)
      }
    }
    if (matchedGroups.size != gAttrs.length) return None
    if (!items.exists(_.isInstanceOf[MvAgg])) return None
    val outs = items.map(_.out.toLowerCase)
    if (outs.distinct != outs) return None
    Some(MvShape(rels.toSeq, child, gAttrs, valueExprs.toSeq, items,
      cond, quals.toMap, having))
  }

  // -- MV-based query rewrite ------------------------------------------------
  //
  // The summary-table optimization: an aggregate SELECT whose shape is
  // SUBSUMED by a FRESH materialized view is served from the MV instead
  // of rescanning its sources — at warehouse scale that turns a fact
  // scan into a read of a table with one row per group. The contract is
  // strictly conservative: any doubt (shape, staleness, type drift,
  // name collision) falls through to the base tables, so a missed
  // rewrite is only slower, never wrong. Freshness gates on the MV's
  // own log marker (recorded vs current source versions — the same
  // metadata SHOW MATERIALIZED VIEWS reads, zero scans); a source
  // commit landing between the check and the read is the ordinary
  // planning/execution race every snapshot read has.

  /** A query()'s rewrite decision: (mv name, "exact"|"rollup") when
    * the statement was served from a materialized view; absent when it
    * ran against its base tables. */
  val MvRewrite: OpMetrics.Key[(String, String)] =
    OpMetrics.Key.latest("mv_rewrite")

  /** Session conf behind `SET MATVIEW REWRITE ON|OFF` (default on). */
  val MvRewriteConf = "spark.graft.mv.rewrite"

  /** MV materialization must read the DEFINITION, never another MV:
    * CREATE/REFRESH FULL route their SELECT through query() for the
    * statement grammar, but a rewrite there would copy MV content
    * into MV content — in the REFRESH FULL case defeating its whole
    * purpose (recompute from source when divergence is suspected),
    * and in the self-match case overwriting a table with a read of
    * itself. Scoped, so a USER query issued concurrently on another
    * thread still rewrites. */
  private val mvRewriteSuppressed =
    new scala.util.DynamicVariable[Boolean](false)

  private def conjuncts(e: Option[Expression]): Seq[Expression] =
    e match {
      case None => Nil
      case Some(And(l, r)) => conjuncts(Some(l)) ++ conjuncts(Some(r))
      case Some(x) => Seq(x)
    }

  /** Attempt to serve the parsed, unresolved SELECT `plan` from a
    * fresh materialized view. ORDER BY over output columns and LIMIT
    * peel off and re-apply on the rewritten frame; the core must
    * recognize as the same fold shape the refresh machinery uses.
    * Among multiple matching MVs the one with the fewest rows wins
    * (log metadata, zero scans). `original` is the un-rewritten frame,
    * used once as a final output-schema guard — a derived aggregate
    * (e.g. avg as sum/count) must not drift a column type. */
  private def rewriteViaMv(spark: SparkSession, plan: LogicalPlan,
      original: => DataFrame): Option[DataFrame] = {
    if (matviews.isEmpty || mvRewriteSuppressed.value ||
      !spark.conf.get(MvRewriteConf, "true").toBoolean) return None
    // peel ORDER BY / LIMIT (applied last, so they sit above the agg)
    var sorts: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
      Nil
    var limit: Option[Int] = None
    def peel(p: LogicalPlan): LogicalPlan = p match {
      case g: GlobalLimit if limit.isEmpty && sorts.isEmpty =>
        (g.limitExpr, g.child) match {
          case (org.apache.spark.sql.catalyst.expressions
              .IntegerLiteral(n), l: LocalLimit) =>
            limit = Some(n); peel(l.child)
          case _ => p
        }
      case s: Sort if s.global && sorts.isEmpty =>
        sorts = s.order; peel(s.child)
      case other => other
    }
    val core = peel(plan)
    val q = recognizeFoldShape(core).getOrElse(return None)
    if (q.having.nonEmpty) return None
    val qBelow = q.child match { case Filter(_, u) => u; case u => u }
    val qConj = conjuncts(q.cond)
    // ORDER BY must reference the query's own output columns — those
    // exist on the rewritten frame by construction
    val sortCols: Seq[Column] = sorts.map { so =>
      import org.apache.spark.sql.catalyst.expressions._
      val out = so.child match {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            q.items.exists(_.out.equalsIgnoreCase(a.nameParts.head)) =>
          a.nameParts.head
        case _ => return None
      }
      val c = org.apache.spark.sql.functions.col(out)
      (so.direction, so.nullOrdering) match {
        case (Ascending, NullsFirst) => c.asc_nulls_first
        case (Ascending, NullsLast) => c.asc_nulls_last
        case (Descending, NullsFirst) => c.desc_nulls_first
        case (Descending, NullsLast) => c.desc_nulls_last
      }
    }
    import scala.jdk.CollectionConverters._
    val cands = matviews.asScala.toSeq.sortBy(_._1).flatMap {
      case (nm, (path, text)) =>
        planMvRewrite(spark, nm, path, text, q, qBelow, qConj)
    }
    if (cands.isEmpty) return None
    // cheapest matching MV: fewest rows by log metadata (zero scans)
    val (nm, mode, df) = cands.minBy { case (n2, _, _) =>
      (TxnTable.logTableStats(spark,
        matviews.get(n2)._1)._2, n2) }
    // output-shape guard: identical names and types or no rewrite
    if (df.schema.map(f => (f.name.toLowerCase, f.dataType)) !=
        original.schema.toSeq.map(f => (f.name.toLowerCase, f.dataType)))
      return None
    val sorted = if (sortCols.isEmpty) df else df.orderBy(sortCols: _*)
    val limited = limit.map(sorted.limit).getOrElse(sorted)
    OpMetrics.record(MvRewrite, (nm, mode))
    Some(limited)
  }

  /** One candidate MV against the query shape: same FROM tree
    * (alias-sensitive rendering — a mismatch only costs the rewrite),
    * the MV's WHERE conjuncts all present in the query's, residual
    * query conjuncts evaluable over exposed MV group columns, every
    * query group expr mapped to an exposed MV group column, and every
    * query aggregate either exposed directly (exact mode: the query
    * groups on ALL the MV's group exprs, rows map 1:1) or derivable
    * under re-aggregation (rollup mode: count/sum fold as sums,
    * min/max as themselves, avg from sum+count(col); count(DISTINCT)
    * does NOT roll up). Checked fresh LAST (it reads log metadata).
    * Any analysis surprise → None, never an error. */
  private def planMvRewrite(spark: SparkSession, nm: String,
      path: String, text: String, q: MvShape, qBelow: LogicalPlan,
      qConj: Seq[Expression]): Option[(String, String, DataFrame)] =
    try {
      import org.apache.spark.sql.functions.{col, max, min, sum}
      val m = recognizeFoldShape(spark, text).getOrElse(return None)
      if (m.having.nonEmpty) return None
      val mBelow = m.child match { case Filter(_, u) => u; case u => u }
      if (qBelow.toString != mBelow.toString) return None
      val mSql = conjuncts(m.cond).map(_.sql)
      if (!mSql.forall(s => qConj.exists(_.sql == s))) return None
      val residual = qConj.filterNot(c => mSql.contains(c.sql))
      val gOut: Map[Int, String] =
        m.items.collect { case MvGroup(g, o) => g -> o }.toMap
      def groupIdx(e: Expression): Option[Int] = {
        val i = m.groupExprs.indexWhere(sameGroupExpr(_, e))
        if (i >= 0 && gOut.contains(i)) Some(i) else None
      }
      val qgMap: Seq[Int] =
        q.groupExprs.map(e => groupIdx(e).getOrElse(return None))
      val exact = qgMap.distinct.length == m.groupExprs.length
      // a residual predicate applies BEFORE re-aggregation, so it may
      // reference any exposed MV group column (grouped by the query
      // or not) — whole-subexpression group matches first (a group
      // key `upper(s)` rewrites as a unit; its bare `s` would bail)
      def mapResid(e: Expression): Option[Expression] =
        groupIdx(e) match {
          case Some(i) => Some(UnresolvedAttribute(Seq(gOut(i))))
          case None => e match {
            case _: UnresolvedAttribute => None
            case _: SubqueryExpression => None
            case _ if e.children.isEmpty => Some(e)
            case _ =>
              val kids = e.children.map(mapResid)
              if (kids.exists(_.isEmpty)) None
              else Some(e.withNewChildren(kids.map(_.get)))
          }
        }
      val residMapped =
        residual.map(c => mapResid(c).getOrElse(return None))
      def mvAggOut(kind: String, v: Int): Option[String] =
        m.items.collectFirst {
          case MvAgg(k, mv, o) if k == kind &&
              (if (v < 0) mv < 0
               else mv >= 0 &&
                 sameAttr(q.valueExprs(v), m.valueExprs(mv))) => o
        }
      if (mvStale(path)) return None
      val mv = TxnTable.read(spark, path)
      val filtered = residMapped.foldLeft(mv)(
        (d, e) => d.filter(Bridge.column(e)))
      val out: DataFrame = if (exact) {
        filtered.select(q.items.map {
          case MvGroup(g, o) => col(gOut(qgMap(g))).as(o)
          case MvAgg(k, v, o) =>
            col(mvAggOut(k, v).getOrElse(return None)).as(o)
        }: _*)
      } else {
        val aggCols = q.items.collect { case MvAgg(k, v, o) =>
          (k match {
            case "cnt" => mvAggOut("cnt", -1).map(s => sum(col(s)))
            case "cntc" => mvAggOut("cntc", v).map(s => sum(col(s)))
            case "sum" => mvAggOut("sum", v).map(s => sum(col(s)))
            case "min" => mvAggOut("min", v).map(s => min(col(s)))
            case "max" => mvAggOut("max", v).map(s => max(col(s)))
            case "avg" => for { s <- mvAggOut("sum", v)
                c <- mvAggOut("cntc", v) }
              yield sum(col(s)) / sum(col(c))
            case _ => None // count(DISTINCT) cannot roll up
          }).getOrElse(return None).as(o)
        }
        val gCols =
          q.items.collect { case MvGroup(g, _) => col(gOut(qgMap(g))) }
        val agged =
          if (gCols.isEmpty) filtered.agg(aggCols.head, aggCols.tail: _*)
          else filtered.groupBy(gCols: _*)
            .agg(aggCols.head, aggCols.tail: _*)
        agged.select(q.items.map {
          case MvGroup(g, o) => col(gOut(qgMap(g))).as(o)
          case MvAgg(_, _, o) => col(o)
        }: _*)
      }
      Some((nm, if (exact) "exact" else "rollup", out))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The marker for an incremental refresh: EVERY changed relation
    * pins the version its delta actually consumed (NOT a re-read of
    * the head — a commit landing mid-refresh must leave the MV
    * stale); unchanged relations re-record their pinned versions.
    * Pinning only one changed relation would replay the others'
    * deltas AGAIN at the next refresh — double-applied changes. */
  private def mvMarkerPinned(rels: Seq[String], changed: Seq[String],
      cur: Map[String, Long], recorded: Map[String, Long]): String =
    "matview:" + rels.sorted.map { s =>
      s"${jstr(s)}:${if (changed.contains(s)) cur(s) else recorded(s)}"
    }.mkString("{", ",", "}")

  /** Attempt the O(changed-files) refresh; Left → caller recomputes
    * (carrying the error when the incremental attempt itself failed).
    * ANY subset of relations may have changed since the marker: the
    * telescoping expansion folds one changed relation's delta at a
    * time (earlier relations at NEW versions, later at OLD), exact
    * for signed row multisets under inner joins. */
  private def refreshIncremental(spark: SparkSession, path: String,
      text: String): Either[Option[String], Long] = {
    val shape = recognizeFoldShape(spark, text).getOrElse(return Left(None))
    val recorded = mvRecorded(path)
    if (recorded.keySet != shape.rels.toSet) return Left(None)
    // a DAMAGED materialization (out-of-band file loss) cannot seed
    // the fold — and must not no-op either: the full recompute reads
    // only the SOURCES and heals it. O(MV files) metadata probe.
    if (TxnTable.repair(spark, path, dryRun = true).limit(1).count() > 0)
      return Left(None)
    val paths = shape.rels.map(n => n -> tables.get(n).path).toMap
    val cur = shape.rels.map(n =>
      n -> TxnTable.currentVersion(paths(n))).toMap
    // a RESTOREd source has no replayable delta
    if (shape.rels.exists(n => cur(n) < recorded(n))) return Left(None)
    val changed = shape.rels.filter(n => cur(n) > recorded(n))
    if (changed.isEmpty) {
      OpMetrics.record(MvRefresh, MvRefreshStats("noop", Set.empty, Nil,
        TxnTable.snapshotFiles(paths(shape.rels.head),
          cur(shape.rels.head)).size))
      return Right(TxnTable.currentVersion(path))
    }
    if (changed.exists(n =>
        recorded(n) < TxnTable.earliestVersion(paths(n))))
      return Left(None)
    // any failure inside the incremental machinery (ambiguous names,
    // unfoldable types discovered late) degrades to the full path —
    // always correct, and observable: the full path's MvRefreshStats
    // carries the error as its `fallback`
    try refreshIncrementalOn(spark, path, shape, changed, recorded,
      cur, paths).toRight(None)
    catch {
      case scala.util.control.NonFatal(e) =>
        Left(Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
  }

  private def refreshIncrementalOn(spark: SparkSession, path: String,
      shape: MvShape, changed: Seq[String],
      recorded: Map[String, Long], cur: Map[String, Long],
      paths: Map[String, String]): Option[Long] = {
    import org.apache.spark.sql.functions.{avg => favg, broadcast,
      col, count => fcount, count_distinct => fcountd, lit,
      max => fmax, min => fmin, sum => fsum}
    import org.apache.spark.sql.types._
    // evidence anchors on the FIRST changed relation (the fact in the
    // single-changed case); the marker pins every relation's consumed
    // version
    val fact = changed.head
    val factPath = paths(fact)
    val fromV = recorded(fact)
    val toV = cur(fact)
    val integral: Set[DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    val aggItems = shape.items.collect { case a: MvAgg => a }
    val kindSet = aggItems.map(_.kind).toSet
    val nG = shape.groupExprs.length
    val gCols = (0 until nG).map(i => col(s"__g$i"))
    val groupOut = (0 until nG).map(i => shape.items.collectFirst {
      case MvGroup(g, o) if g == i => o }.get)
    val mvDf = TxnTable.read(spark, path)

    // ---- NARROW: the single-table full tier keeps the s62b path ----
    // (monotone min/max growth costs zero reads; only extreme-hit
    // groups recompute, pruned). Value pinned to LongType: the fold
    // state is long, and the overwrite must not widen a stored int.
    if (shape.rels.size == 1 && nG == 1 && shape.valueExprs.size == 1 &&
        kindSet == Set("cnt", "sum", "min", "max") &&
        shape.having.isEmpty) {
      val schema = TxnTable.read(spark, factPath).schema
      def typOf(c: String) = schema.fields
        .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
      val gAttr = shape.groupExprs.head match {
        case a: UnresolvedAttribute => Some(a.nameParts.last)
        case _ => None // expression groups take the general regimes
      }
      val g = gAttr.getOrElse("")
      val v = shape.valueExprs.head.nameParts.last
      if (gAttr.isDefined && typOf(v).contains(LongType) &&
          typOf(g).exists(t => t == LongType || t == StringType)) {
        val (removedRaw, addedRaw, changedFiles) =
          TxnTable.changedRowSides(spark, factPath, fromV, toV)
        val applyCond: DataFrame => DataFrame = shape.cond match {
          case None => identity
          case Some(c) =>
            val stripped = stripQual(c, shape.relQuals(fact))
            df => df.filter(Bridge.column(stripped))
        }
        val out = aggItems.map(a => a.kind -> a.out).toMap
        val state = mvDf.select(col(groupOut.head).as(g),
          col(out("cnt")).cast("long").as("cnt"),
          col(out("sum")).cast("long").as("sm"),
          col(out("min")).cast("long").as("mn"),
          col(out("max")).cast("long").as("mx"))
        val (next, st) = graft.operators.IncrementalView
          .maintainMinMaxFromSides(spark, factPath, state,
            applyCond(removedRaw), applyCond(addedRaw), g, v, toV,
            applyCond, checkpointResult = false)
        val stateName = Map("cnt" -> "cnt", "sum" -> "sm",
          "min" -> "mn", "max" -> "mx")
        val projected = next.select(shape.items.map {
          case MvGroup(_, o) => col(g).as(o)
          case MvAgg(k, _, o) => col(stateName(k)).as(o)
        }: _*)
        val ver = TxnTable.overwrite(spark, path, projected,
          op = mvMarkerPinned(shape.rels, changed, cur, recorded))
        OpMetrics.record(MvRefresh, MvRefreshStats("incremental", changedFiles,
          st.prunedFiles, st.liveFiles))
        return Some(ver)
      }
      // non-long values fall through: carry+recompute handles them
    }

    // ---- shared: the delta pushed through the pinned join ----------
    // The signed delta of the joined relation comes from the
    // TELESCOPING expansion (joins are bilinear over signed row
    // multisets):  Π newᵢ − Π oldᵢ = Σᵢ (Π_{j<i} newⱼ) ⋈ Δᵢ ⋈
    // (Π_{j>i} oldⱼ)  — so ANY number of changed relations folds:
    // the i-th changed relation's row sides substitute for its leaf
    // with every EARLIER relation pinned at its NEW version and every
    // LATER one at its OLD (recorded) version; unchanged relations
    // are the same either way. Pinned reads are broadcast-hinted when
    // small; the result is exactly consistent at the marker's
    // per-relation versions.
    val pinned = scala.collection.mutable.Map[(String, Long), LogicalPlan]()
    def pinnedPlan(nm: String, v: Long): LogicalPlan =
      pinned.getOrElseUpdate((nm, v), {
        val df = TxnTable.read(spark, paths(nm), v)
        val (bytes, _, _) = TxnTable.logTableStats(spark, paths(nm), v)
        // hint only CLEARLY dim-sized relations: a generous cap here
        // once broadcast a 16M-row pinned FACT on the dim-delta side
        // of the expansion (measured 2.6× wall blowup at 16M rows).
        // Above the cap Catalyst decides from the scan's own sizes —
        // a small delta side still auto-broadcasts.
        (if (bytes <= (32L << 20)) broadcast(df) else df)
          .queryExecution.logical
      })
    def proj(replaceRel: String, replacement: LogicalPlan,
        vOf: String => Long, signed: Boolean = false): DataFrame = {
      val substituted = shape.child.transformUp {
        case r: UnresolvedRelation =>
          val nm = regNameOf(r).get
          val short = r.multipartIdentifier.last
          if (nm == replaceRel) SubqueryAlias(short, replacement)
          else SubqueryAlias(short, pinnedPlan(nm, vOf(nm)))
      }
      val list: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] =
        shape.groupExprs.zipWithIndex.map { case (e, i) =>
          Alias(e, s"__g$i")() } ++
          shape.valueExprs.zipWithIndex.map { case (e, i) =>
            Alias(e, s"__v$i")() } ++
          (if (signed) Seq(Alias(
            UnresolvedAttribute(Seq("__sgn")), "__sgn")()) else Nil)
      Bridge.ofRows(spark, Project(list, substituted))
    }
    val idxOf = shape.rels.zipWithIndex.toMap
    def vOfFor(i: String): String => Long = nm =>
      if (idxOf(nm) < idxOf(i)) cur(nm) else recorded(nm)
    // flat comparable scalars only (AtomicType itself is private[sql])
    def atomic(t: DataType): Boolean = t match {
      case _: NumericType | _: StringType | _: BooleanType |
           _: DateType | _: TimestampType | _: TimestampNTZType |
           _: BinaryType => true
      case _ => false
    }
    // ONE signed frame per changed relation (added m=+1 ∪ removed
    // m=−1, the sign riding the substituted leaf as a `__sgn`
    // column): each expansion term then joins the pinned sides ONCE —
    // a dim-side delta costs one fact pass, not two (measured 2×)
    val sides = changed.map { nm =>
      val (rem, add, files) = TxnTable.changedRowSides(spark,
        paths(nm), recorded(nm), cur(nm))
      val signedRaw = add.withColumn("__sgn", lit(1L))
        .unionAll(rem.withColumn("__sgn", lit(-1L)))
      // net the relation's OWN rows before the join: file-scoped CDF
      // re-offers every untouched row of a rewritten file on both
      // sides, and pushing that padding THROUGH the join multiplies
      // it by the other side's matching rows (measured: a 2000-row
      // dim rewrite exploded into 2× the fact under the expansion).
      // Netting here cancels it at relation-row granularity — exact,
      // because the join is linear in signed row multisets. Skipped
      // when a column type cannot be grouped (maps).
      val signedRows =
        if (add.schema.fields.forall(f => atomic(f.dataType)))
          signedRaw.groupBy(add.columns.map(col): _*)
            .agg(fsum(col("__sgn")).as("__sgn"))
            .filter(col("__sgn") =!= 0)
        else signedRaw
      (proj(nm, signedRows.queryExecution.logical, vOfFor(nm),
        signed = true), files)
    }
    val changedFiles = sides.flatMap(_._2).toSet
    val deltaAll = sides.map(_._1).reduce(_ unionAll _)
    // re-running the subtree on delta rows requires determinism
    if (deltaAll.queryExecution.analyzed.collectFirst {
      case p if p.expressions.exists(!_.deterministic) => p }.nonEmpty)
      return None
    val pSchema = deltaAll.schema
    def gType(i: Int) = pSchema(s"__g$i").dataType
    def vType(i: Int) = pSchema(s"__v$i").dataType
    if ((0 until nG).exists(i => !atomic(gType(i))))
      return None
    val live = TxnTable.snapshotFiles(factPath, toV).size
    val marker = mvMarkerPinned(shape.rels, changed, cur, recorded)

    // ---- FOLD: count/sum/count-distinct — zero source reads beyond
    // the delta. count(DISTINCT) folds through its per-(group,value)
    // AUX table (see the aux section above): the signed delta updates
    // the multiplicity rows exactly, and the distinct count is the
    // per-group row count of the folded aux.
    val cntdItems = aggItems.filter(_.kind == "cntd")
    if (kindSet.subsetOf(Set("cnt", "sum", "cntc", "cntd")) &&
        kindSet("cnt") && shape.having.isEmpty &&
        aggItems.forall(a => a.kind != "sum" || integral(vType(a.v))) &&
        cntdItems.forall(a => atomic(vType(a.v)))) {
      // every distinct column's aux must exist with the SAME recorded
      // source pins as the MV — a crash between the two overwrites
      // (or out-of-band aux loss) degrades this ONE refresh to the
      // FULL path, which rebuilds the aux and restores the zero-read
      // fold; divergence is never served
      if (!cntdItems.map(_.v).distinct.forall { v =>
            val ap = auxPath(path, v)
            TxnTable.currentVersion(ap) >= 0 && mvRecorded(ap) == recorded
          }) return None
      val foldItems = aggItems.filterNot(_.kind == "cntd")
      // each delta row contributes m to count and v·m to each sum
      // (null v contributes nothing — sum skips nulls exactly like
      // the full recompute); groupBy keeps NULL groups natively
      val deltaRows: DataFrame = deltaAll.select(
        gCols ++ foldItems.map {
          case MvAgg("cnt", _, o) => col("__sgn").as(s"__s_$o")
          case MvAgg("cntc", v, o) =>
            org.apache.spark.sql.functions.when(
              col(s"__v$v").isNotNull, col("__sgn")).otherwise(lit(0L))
              .as(s"__s_$o")
          case MvAgg(_, v, o) =>
            (col(s"__v$v").cast("long") * col("__sgn")).as(s"__s_$o")
        }: _*)
      val state = mvDf.select(
        (0 until nG).map(i => col(groupOut(i)).as(s"__g$i")) ++
          foldItems.map(a =>
            col(a.out).cast("long").as(s"__s_${a.out}")): _*)
      val cntOut = aggItems.find(_.kind == "cnt").get.out
      val aggCols = foldItems.map(a =>
        fsum(col(s"__s_${a.out}")).as(s"__s_${a.out}"))
      val folded0 = state.unionAll(deltaRows)
        .groupBy(gCols: _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .filter(col(s"__s_$cntOut") > 0)
      // fold each distinct column's aux with the same signed delta,
      // then attach per-group distinct counts (left join: a live
      // group whose distinct column went all-null counts 0)
      val auxNew: Map[Int, DataFrame] =
        cntdItems.map(_.v).distinct.map { v =>
          val st = TxnTable.read(spark, auxPath(path, v)).select(
            (0 until nG).map(i => col(s"__g$i")) :+ col("__val") :+
              col("__c").cast("long").as("__c"): _*)
          val dl = deltaAll.filter(col(s"__v$v").isNotNull)
            .select(gCols :+ col(s"__v$v").as("__val") :+
              col("__sgn").as("__c"): _*)
          v -> st.unionAll(dl)
            .groupBy(gCols :+ col("__val"): _*)
            .agg(fsum(col("__c")).as("__c")).filter(col("__c") > 0)
        }.toMap
      val folded = cntdItems.foldLeft(folded0) { (acc, a) =>
        val cc = auxNew(a.v).groupBy(gCols: _*)
          .agg(fcount(lit(1)).as(s"__s_${a.out}"))
          .toDF((0 until nG).map(i => s"__h$i") :+ s"__s_${a.out}": _*)
        acc.join(cc,
          (0 until nG).map(i => col(s"__g$i") <=> col(s"__h$i"))
            .reduce(_ && _), "left")
          .drop((0 until nG).map(i => s"__h$i"): _*)
      }
      // SQL sum is NULL over zero non-null inputs, but the arithmetic
      // fold of such a group lands on exactly 0 (every contribution
      // that ever existed was subtracted back out) — so folded-sum==0
      // is the ONLY ambiguous state. With a matching count(col) in
      // the MV the fix is exact and free: cv==0 ⟺ the sum is NULL.
      // Without one, a TOUCHED group folding to exactly 0 cannot be
      // disambiguated from a genuine zero-sum → fall back (rare:
      // real-world sums almost never net to exactly 0; untouched
      // stored zeros are genuine by the exactness invariant).
      val cntcFor: Map[Int, String] = aggItems.collect {
        case MvAgg("cntc", v, o) => v -> s"__s_$o" }.toMap
      val nakedSums = aggItems.filter(a =>
        a.kind == "sum" && !cntcFor.contains(a.v))
      if (nakedSums.nonEmpty) {
        val touched = deltaAll.select(gCols: _*).distinct()
          .toDF((0 until nG).map(i => s"__t$i"): _*)
        val ambiguous = folded.join(touched,
          (0 until nG).map(i => col(s"__g$i") <=> col(s"__t$i"))
            .reduce(_ && _), "left_semi")
          .filter(nakedSums.map(a => col(s"__s_${a.out}") === 0)
            .reduce(_ || _))
        if (ambiguous.limit(1).count() > 0) return None
      }
      val projected = folded.select(shape.items.map {
        case MvGroup(g, o) => col(s"__g$g").as(o)
        case a @ MvAgg("sum", _, o) if cntcFor.contains(a.v) =>
          org.apache.spark.sql.functions.when(
            col(cntcFor(a.v)) > 0, col(s"__s_$o"))
            .otherwise(lit(null).cast("long")).as(o)
        case MvAgg("cntd", _, o) =>
          org.apache.spark.sql.functions.coalesce(
            col(s"__s_$o"), lit(0L)).as(o)
        case MvAgg(_, _, o) => col(s"__s_$o").as(o)
      }: _*)
      // aux first, MV second: whichever write a crash strands behind,
      // the next refresh sees unequal recorded pins and takes the
      // full path (rebuilding both) — divergence is never served
      cntdItems.map(_.v).distinct.foreach { v =>
        TxnTable.overwrite(spark, auxPath(path, v), auxNew(v),
          op = marker)
      }
      val ver = TxnTable.overwrite(spark, path, projected, op = marker)
      OpMetrics.record(MvRefresh, MvRefreshStats("incremental", changedFiles,
        Nil, live))
      return Some(ver)
    }

    // ---- CARRY+RECOMPUTE: every other mix (avg, partial tiers,
    // multi-column extremes). Untouched groups are carried verbatim
    // from the MV (null-safe anti join); the netted delta's touched
    // groups are re-aggregated from the pinned source — exact for
    // every kind (avg included, nullable values included), no
    // derived-state drift. Sum/avg stay integral (deterministic
    // re-aggregation); min/max take any atomic type.
    if (aggItems.exists(a => (a.kind == "sum" || a.kind == "avg") &&
        !integral(vType(a.v)))) return None
    if (aggItems.exists(a => a.v >= 0 && !atomic(vType(a.v))))
      return None
    // HAVING is sound under carry+recompute: carried rows passed it at
    // the last refresh and are untouched since; touched groups
    // re-aggregate and re-apply it (newly-failing groups drop, groups
    // below the bar stay absent). The condition must resolve onto the
    // SELECT's own outputs — every aggregate call in it maps to a
    // SELECT agg item, every attribute to a group column or an agg
    // alias; anything else falls back to the full recompute.
    val havingOut: Option[Column] = shape.having match {
      case None => None
      case Some(h) =>
        var ok = true
        // TOP-DOWN rewrite that never descends into a matched
        // aggregate call (a bottom-up transform would rewrite the
        // call's argument attribute first and mistake it for an
        // unresolvable bare column)
        def rw(e: Expression): Expression = {
          // a whole subtree equal to a GROUP key maps to its out
          // column first — covers expression groups (v % 100,
          // date_trunc(...)) appearing verbatim in the condition
          val gi = shape.groupExprs.indexWhere(sameGroupExpr(_, e))
          if (gi >= 0) return UnresolvedAttribute(Seq(groupOut(gi)))
          e match {
          case f: UnresolvedFunction
              if f.nameParts.length == 1 && !f.isDistinct &&
                f.filter.isEmpty =>
            val kindArg = (f.nameParts.head.toLowerCase,
                f.arguments) match {
              case ("count", Seq(Literal(_, _))) => Some(("cnt", -1))
              case ("count",
                Seq(_: org.apache.spark.sql.catalyst.analysis.Star)) =>
                Some(("cnt", -1))
              case ("count", Seq(a: UnresolvedAttribute)) =>
                val vi = shape.valueExprs.indexWhere(sameAttr(_, a))
                if (vi >= 0) Some(("cntc", vi)) else None
              case (k @ ("sum" | "min" | "max" | "avg"),
                  Seq(a: UnresolvedAttribute)) =>
                val vi = shape.valueExprs.indexWhere(sameAttr(_, a))
                if (vi >= 0) Some((k, vi)) else None
              case _ => None
            }
            kindArg.flatMap(ka =>
              aggItems.find(ai => ai.kind == ka._1 && ai.v == ka._2))
            match {
              case Some(ai) => UnresolvedAttribute(Seq(ai.out))
              case None =>
                // not an aggregate over a SELECT item — it may still
                // BE an expression group key (HAVING upper(s) = '…')
                val gi = shape.groupExprs.indexWhere(sameGroupExpr(_, f))
                if (gi >= 0) UnresolvedAttribute(Seq(groupOut(gi)))
                else { ok = false; f }
            }
          case a: UnresolvedAttribute =>
            val gi = shape.groupExprs.indexWhere(sameGroupExpr(_, a))
            if (gi >= 0) UnresolvedAttribute(Seq(groupOut(gi)))
            else if (a.nameParts.length == 1 && shape.items.exists(
              _.out.equalsIgnoreCase(a.nameParts.head))) a
            else { ok = false; a }
          case other => other.mapChildren(rw)
          }
        }
        val t = rw(h)
        if (!ok) return None
        Some(Bridge.column(t))
    }
    val vCols = shape.valueExprs.indices.map(i => col(s"__v$i"))
    // net the sides on the full consumed row first: file-scoped CDF
    // pads a narrow rewrite with every untouched row of its file on
    // BOTH sides; netting cancels those exactly, leaving touched
    // groups at O(truly changed), not O(groups in churned files)
    val net = deltaAll
      .select((gCols ++ vCols) :+ col("__sgn").as("__m"): _*)
      .groupBy((gCols ++ vCols): _*)
      .agg(fsum(col("__m")).as("__m")).filter(col("__m") =!= 0)
    // Bound the driver state BEFORE any materialization: past ~10% of
    // groups touched one full re-aggregation beats the per-group
    // recompute (the recomputeTail threshold), and past an ABSOLUTE
    // 65,536 keys (the l47 driver-metadata precedent) neither the
    // collect nor the broadcast(touched) below is acceptable at any
    // ratio — 10% of a 1B-group MV is 100M rows. The relative guard
    // reads the MV's row count from the LOG (zero jobs, vs an extra
    // count scan), and the touched-set size is probed DISTRIBUTIVELY
    // with limit(cap+1).count(), so a wide-churn delta on a
    // high-cardinality group key decides "fall back" without ever
    // shipping its keys to the driver.
    val touchedDf = net.select(gCols: _*).distinct()
    val (_, mvRows, _) = TxnTable.logTableStats(spark, path)
    val cap = math.min(65536L, math.max(64L, mvRows / 10L))
    val probed = touchedDf.limit((cap + 1L).toInt).count()
    OpMetrics.record(MvCarryProbe, probed)
    if (probed > cap) return None
    val touchedRows = touchedDf.collect()
    OpMetrics.record(MvCarryKeys, touchedRows.length.toLong)
    val outCols = shape.items.map(it => col(it.out))
    val result =
      if (touchedRows.isEmpty) mvDf.select(outCols: _*)
      else {
        val tSchema = StructType((0 until nG).map(i =>
          StructField(s"__t$i", gType(i), nullable = true)))
        val touched = spark.createDataFrame(
          java.util.Arrays.asList(touchedRows: _*), tSchema)
        val carried = mvDf.join(broadcast(touched),
          (0 until nG).map(i => col(groupOut(i)) <=> col(s"__t$i"))
            .reduce(_ && _), "left_anti")
          .select(outCols: _*)
        // pruned source read when the table is the only relation and
        // the FIRST group column is long/string with no null keys in
        // the touched set (a multi-column group prunes on its leading
        // column — a superset read; the exact semi join below keeps
        // any superset correct)
        val leadAttr = shape.groupExprs.head match {
          case a: UnresolvedAttribute => Some(a.nameParts.last)
          case _ => None // expression groups cannot key a file prune
        }
        val (srcPlan, recompFiles) =
          if (shape.rels.size == 1 && leadAttr.isDefined &&
              (gType(0) == LongType || gType(0) == StringType) &&
              touchedRows.forall(!_.isNullAt(0))) {
            val gName = leadAttr.get
            val pruned = gType(0) match {
              case StringType => TxnTable.readPruned(spark, factPath,
                Seq(TxnTable.Bound.StringIn(gName,
                  touchedRows.map(_.getString(0)).distinct.toSeq)),
                asOf = toV)
              case _ => TxnTable.readPruned(spark, factPath,
                Seq(TxnTable.Bound.LongIn(gName,
                  touchedRows.map(_.getLong(0)).distinct.toSeq)),
                asOf = toV)
            }
            (pruned.queryExecution.logical, pruned.inputFiles.toSeq)
          } else {
            val full = TxnTable.read(spark, factPath, toV)
            (full.queryExecution.logical, full.inputFiles.toSeq)
          }
        val recompAggs = aggItems.map { a =>
          (a.kind match {
            case "cnt" => fcount(lit(1))
            case "cntc" => fcount(col(s"__v${a.v}"))
            case "cntd" => fcountd(col(s"__v${a.v}"))
            case "sum" => fsum(col(s"__v${a.v}"))
            case "min" => fmin(col(s"__v${a.v}"))
            case "max" => fmax(col(s"__v${a.v}"))
            case "avg" => favg(col(s"__v${a.v}"))
          }).as(a.out)
        }
        // re-aggregation source: every relation at its HEAD version
        val recomputed = proj(fact, srcPlan, nm => cur(nm))
          .join(broadcast(touched),
            (0 until nG).map(i => col(s"__g$i") <=> col(s"__t$i"))
              .reduce(_ && _), "left_semi")
          .groupBy(gCols: _*)
          .agg(recompAggs.head, recompAggs.tail: _*)
          .select(shape.items.map {
            case MvGroup(g, o) => col(s"__g$g").as(o)
            case a: MvAgg => col(a.out)
          }: _*)
        val recomputedH =
          havingOut.map(recomputed.filter).getOrElse(recomputed)
        OpMetrics.record(MvRefresh, MvRefreshStats("incremental", changedFiles,
          recompFiles, live))
        carried.unionAll(recomputedH)
      }
    if (touchedRows.isEmpty)
      OpMetrics.record(MvRefresh, MvRefreshStats("incremental", changedFiles,
        Nil, live))
    val ver = TxnTable.overwrite(spark, path, result, op = marker)
    Some(ver)
  }

  // parsePlan hands the PRE-analysis spec (UnresolvedTableSpec); the
  // resolved TableSpec only exists after analysis — accept both
  private def specProps(spec: TableSpecBase): Map[String, String] =
    spec match {
      case ts: TableSpec => ts.properties
      case ts: UnresolvedTableSpec => ts.properties
      case _ => Map.empty
    }

  private def specLocation(spec: TableSpecBase): Option[String] =
    spec match {
      case ts: TableSpec => ts.location
      case ts: UnresolvedTableSpec => ts.location
      case _ => None
    }

  /** (registered name, resolved table path, MOR routing) for a CREATE
    * target: explicit LOCATION wins, else the warehouse root; a name
    * already registered resolves to ITS path (so CREATE OR REPLACE by
    * bare name replaces the registered table). `graft.mor = true` in
    * TBLPROPERTIES routes subsequent DML merge-on-read. */
  private def createTarget(name: LogicalPlan,
      spec: TableSpecBase): (String, String, Boolean) = {
    val parts = name match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
        u.nameParts
      case other => throw new IllegalArgumentException(
        s"unsupported CREATE TABLE target: ${other.nodeName}")
    }
    val nm = parts.mkString(".")
    val props = specProps(spec)
    val path = specLocation(spec)
      .orElse(Option(tables.get(nm.toLowerCase)).map(_.path))
      .getOrElse {
        val root = Option(warehouseRoot.get).getOrElse(
          throw new IllegalArgumentException(
            "CREATE TABLE needs a LOCATION clause or a warehouse root " +
              "(GraftSql.setWarehouse)"))
        java.nio.file.Paths.get(root).resolve(parts.last.toLowerCase)
          .toString
      }
    // a name already registered at a DIFFERENT path must not be
    // silently re-pointed by a CREATE with an explicit LOCATION —
    // compared as NORMALIZED paths, so equivalent spellings (trailing
    // slash, `./`, redundant segments) of the same directory pass
    Option(tables.get(nm.toLowerCase)).map(_.path).foreach(p =>
      require(samePath(p, path),
        s"$nm is already registered at $p — unregister it first or " +
          s"use that LOCATION (got $path)"))
    (nm, path, props.get("graft.mor").exists(_.equalsIgnoreCase("true")))
  }

  /** The table's current version if it already exists (a registered
    * name or a live log at the resolved path), else None. */
  private def existingVersion(nm: String, path: String): Option[Long] = {
    val v = TxnTable.currentVersion(path)
    if (v >= 0) Some(v) else None
  }

  /** Re-register on an IF-NOT-EXISTS no-op: an EXISTING registration's
    * MOR routing wins over the new statement's property — "must not
    * touch the table" includes not silently flipping how its DML
    * commits. */
  private def registerKeepingMor(nm: String, path: String,
      mor: Boolean): Unit = {
    val keep = Option(tables.get(nm.toLowerCase)).map(_.mor).getOrElse(mor)
    register(nm, path, keep)
  }

  /** CTAS write: `CLUSTER BY (a, b)` lays the data out range-clustered
    * on those keys (tight per-file bounds → log-stats pruning works
    * from the first read); `graft.targetFiles` sizes the layout. */
  private def createMaybeClustered(spark: SparkSession, path: String,
      df: DataFrame, partitioning: Seq[
        org.apache.spark.sql.connector.expressions.Transform],
      spec: TableSpecBase): Long = {
    val cluster = partitioning.flatMap {
      case c: org.apache.spark.sql.connector.expressions.ClusterByTransform =>
        c.columnNames.map(_.fieldNames.mkString("."))
      case other => throw new IllegalArgumentException(
        s"only CLUSTER BY is supported on txn tables, got $other")
    }
    if (cluster.isEmpty) TxnTable.create(spark, path, df)
    else TxnTable.createClustered(spark, path, df,
      cluster.map(org.apache.spark.sql.functions.col),
      targetFiles = specProps(spec).get("graft.targetFiles")
        .map(_.toInt).getOrElse(8))
  }

  /** Run a SELECT whose FROM clause references registered txn tables by
    * name — including `VERSION AS OF <v>` and `TIMESTAMP AS OF '<ts>'`
    * time travel (Spark's own grammar). Each registered relation is
    * substituted with the requested SNAPSHOT's plan (log-resolved file
    * list, DV-subtracted, schema-pinned) before analysis; unregistered
    * names still resolve through the session catalog, so txn tables and
    * temp views mix freely in one statement. */
  def query(spark: SparkSession, sqlText: String): DataFrame =
    sqlText match {
      // MIX t ON id BY source WEIGH <tokens-expr> BUDGETS ('web'=N,
      // 'code'=M): token-budgeted corpus mixing as a statement — the
      // rows of the greedy deterministic per-source prefix whose
      // WEIGH sum stays within each source's budget (the l47
      // operator verbatim: two-pass bucket thresholds, only the
      // boundary bucket through a window, unbudgeted sources
      // dropped). Rows out → query, not execute.
      case MixRe(name, idCol, srcCol, weighExpr, budgetsRaw) =>
        val (reg, _) = lookup(parseIdent(name))
        val e = spark.sessionState.sqlParser.parseExpression(weighExpr)
        require(e.find {
          case _: SubqueryExpression => true; case _ => false
        }.isEmpty, "MIX … WEIGH must be a row-local expression")
        val budgets = """'([^']*)'\s*=\s*(\d+)""".r
          .findAllMatchIn(budgetsRaw)
          .map(m => m.group(1) -> m.group(2).toLong).toMap
        require(budgets.nonEmpty,
          "MIX needs BUDGETS ('source' = tokens, …)")
        graft.operators.Curation.tokenBudgetMix(
          TxnTable.read(spark, reg.path),
          org.apache.spark.sql.functions.col(idCol), srcCol,
          Bridge.column(e), budgets)
      // SPLIT t ON id INTO ('train'=80, 'val'=10, 'test'=10):
      // deterministic md5 train/val/test assignment as a statement —
      // the table's rows with a `split` column appended (the l44
      // operator verbatim: a document's split is a pure function of
      // its id, stable across runs/engines/corpus growth; integer
      // weights normalize to fractions). Map-side, zero shuffles.
      case SplitRe(name, idCol, weightsRaw) =>
        val (reg, _) = lookup(parseIdent(name))
        val ws = """'([^']*)'\s*=\s*(\d+)""".r
          .findAllMatchIn(weightsRaw)
          .map(m => m.group(1) -> m.group(2).toLong).toSeq
        require(ws.nonEmpty && ws.forall(_._2 > 0),
          "SPLIT needs INTO ('name' = weight, …) with positive weights")
        require(ws.map(_._1.toLowerCase).distinct.size == ws.size,
          "SPLIT names must be distinct")
        val total = ws.map(_._2).sum.toDouble
        graft.operators.Curation.assignSplit(
          TxnTable.read(spark, reg.path),
          org.apache.spark.sql.functions.col(idCol),
          ws.map { case (n, w) => n -> w / total })
      // SHOW HISTOGRAM t (col): the ANALYZE-built equi-height bins as
      // rows (bin, lo, hi, ndv) straight from the log — observability
      // for the s68 statistics, zero scans
      case ShowHistRe(name, c) =>
        val (reg, _) = lookup(parseIdent(name))
        val h = TxnTable.properties(reg.path)
          .get(s"graft.hist.${c.toLowerCase}")
          .flatMap(parseHistogram)
          .getOrElse(throw new IllegalArgumentException(
            s"no histogram for $c — run ANALYZE TABLE " +
              s"${parseIdent(name).mkString(".")} COMPUTE HISTOGRAM ($c)"))
        import spark.implicits._
        h.bins.toSeq.zipWithIndex
          .map { case (b, i) => (i, b.lo, b.hi, b.ndv) }
          .toDF("bin", "lo", "hi", "ndv")
      // the audit surface as a statement (rows out → query, not execute)
      case HistoryRe(name) =>
        TxnTable.history(spark, lookup(parseIdent(name))._1.path)
      // the operational summary — entirely log-metadata, never a scan
      case DetailRe(name) =>
        TxnTable.detail(spark, lookup(parseIdent(name))._1.path)
      // reclaimable files as rows, nothing deleted — pure log metadata
      case VacuumDryRe(name, hours) =>
        val path = lookup(parseIdent(name))._1.path
        Option(hours) match {
          case Some(h) => TxnTable.vacuumDryRunRetainMillis(spark, path,
            h.toLong * 3600000L)
          case None => TxnTable.vacuumDryRun(spark, path)
        }
      case ShowTablesRe() =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        tables.asScala.toSeq
          .map { case (n, r) => (n, r.path, r.mor) }.sortBy(_._1)
          .toDF("name", "location", "mor")
      case ShowViewsRe() =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        views.keys.asScala.toSeq.sorted.toDF("name")
      // the continuous-ingest panel: every registered COPY INTO …
      // TRIGGER INTERVAL stream — running or died-in-place — with its
      // landing dir, trigger, checkpoint, liveness, the batches it
      // has committed (counted from the table's own `stream:` log
      // markers, metadata-scale), and a died query's terminal error
      // (silent ingestion stops become visible here)
      case ShowStreamsRe() =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        copyStreams.asScala.values.toSeq.map { i =>
          val batches = TxnTable.commits(i.path)
            .count(_.op.startsWith(s"stream:${i.streamId}:"))
          (i.table, i.dir, i.intervalSec, i.ckptDir,
            i.query.isActive, batches.toLong,
            i.query.exception.map(_.message).orNull)
        }.sortBy(r => (r._1, r._2))
          .toDF("table", "source_dir", "trigger_seconds", "checkpoint",
            "active", "batches_committed", "error")
      // SHOW BLOOM t: per-column coverage of the point-lookup bloom
      // index — covered vs live files and filter bytes (metadata-only:
      // the aux table's rows, never the filters' contents probed).
      // Coverage < live means files churned since the last ANALYZE
      // (conservatively kept on lookups until the next top-up).
      case ShowBloomRe(name) =>
        import spark.implicits._
        import org.apache.spark.sql.functions.{col, countDistinct, length, sum}
        val (reg, _) = lookup(parseIdent(name))
        val bp = TxnTable.bloomPath(reg.path)
        val live = TxnTable.snapshotFiles(reg.path)
        if (TxnTable.currentVersion(bp) < 0)
          Seq.empty[(String, Long, Long, Long)]
            .toDF("column", "covered_files", "live_files", "bloom_bytes")
        else
          TxnTable.read(spark, bp)
            .filter(col("file").isInCollection(live))
            .groupBy(col("col").as("column"))
            .agg(countDistinct(col("file")).as("covered_files"),
              lit(live.size.toLong).as("live_files"),
              sum(length(col("bloom"))).as("bloom_bytes"))
            .orderBy(col("column"))
      // outstanding write-group intents (crashed or conflicted runs):
      // one row per (group, table) with the pre-group version a
      // recovery would restore to — metadata-only (intent JSONs)
      case ShowGroupsRe(at) =>
        import spark.implicits._
        TxnGroup.listIntents(groupDirOf(Option(at)))
          .flatMap { case (id, pre) =>
            pre.toSeq.sortBy(_._1).map { case (p, v) => (id, p, v) } }
          .toDF("group_id", "table_path", "pre_version")
      // replay every outstanding intent: tagged tables roll back to
      // their pre-group versions (outcome 'recovered'); a foreign
      // commit above a pre-version is reported as 'conflict' (never
      // silently reverted) and its intent is retained
      case RecoverGroupsRe(at) =>
        import spark.implicits._
        val dir = groupDirOf(Option(at))
        val intents = TxnGroup.listIntents(dir).toMap
        val (recovered, conflicts) = TxnGroup.recover(spark, dir)
        (recovered.flatMap(id => intents.getOrElse(id, Map.empty).toSeq
            .sortBy(_._1).map { case (p, _) => (id, p, "recovered", "") })
          ++ conflicts.map(c => (c.groupId, c.path, "conflict",
            s"foreign commit v${c.version}: ${c.op}")))
          .toDF("group_id", "table_path", "outcome", "detail")
      // name, location, staleness — the stale flag is log metadata
      // (recorded vs current source versions), zero scans
      case ShowMvRe() =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        matviews.asScala.toSeq
          .map { case (n, (p, _)) => (n, p, mvStale(p)) }.sortBy(_._1)
          .toDF("name", "location", "stale")
      // the FSCK dry run: missing-file rows out, nothing committed
      // (the committing form is execute's REPAIR TABLE)
      case RepairDryRe(name) =>
        TxnTable.repair(spark, lookup(parseIdent(name))._1.path,
          dryRun = true)
      // per-column stats panel from the commit log alone — global
      // min/max over the logged per-file bounds (full coverage only),
      // exact null counts, coverage fraction; never a scan
      case ShowColStatsRe(name) =>
        TxnTable.columnStats(spark, lookup(parseIdent(name))._1.path)
      // table properties as rows — log metadata only, never a scan;
      // SHOW TBLPROPERTIES t('key') narrows to one key (missing key
      // is a loud error, not a Hive-style message row)
      case ShowPropsRe(name, key) =>
        import spark.implicits._
        val props = TxnTable.properties(lookup(parseIdent(name))._1.path)
        Option(key) match {
          case Some(k) =>
            val v = props.getOrElse(k, throw new IllegalArgumentException(
              s"no such table property $k on $name"))
            Seq((k, v)).toDF("key", "value")
          case None =>
            props.toSeq.sortBy(_._1).toDF("key", "value")
        }
      // plain DESCRIBE: the current snapshot's logical schema as rows
      // (matched AFTER the HISTORY/DETAIL heads, so those verbs never
      // fall through here)
      case DescRe(name) =>
        import spark.implicits._
        TxnTable.read(spark, lookup(parseIdent(name))._1.path)
          .schema.fields.toSeq
          .map(f => (f.name, f.dataType.simpleString, f.nullable))
          .toDF("col_name", "data_type", "nullable")
      // EXPLAIN [EXTENDED|COST|FORMATTED] <stmt>: the statement's plan
      // AS ROWS, after snapshot substitution and log-stats/histogram/
      // MCV injection — the zero-footer-planning claims become
      // user-observable (COST mode prints the injected statistics).
      // Row-returning statements only; DML/commands are fenced (a
      // Dataset over a command plan would EXECUTE it eagerly).
      case ExplainRe(modeRaw, rest) =>
        import spark.implicits._
        // graft-owned verb heads (SHOW/DESCRIBE/MIX/SPLIT/VACUUM/
        // REPAIR…) are all row-returning and route through query()'s
        // own matches below — some also happen to Spark-parse as
        // Commands (DESCRIBE HISTORY), so they bypass the DML fence
        val graftVerb =
          """(?is)^\s*(MIX|SPLIT|SHOW|DESCRIBE|DESC|VACUUM|REPAIR)\b[\s\S]*""".r
        (if (graftVerb.pattern.matcher(rest).matches()) None
         else try Some(spark.sessionState.sqlParser.parsePlan(rest))
         catch { case _: Exception => None }).foreach {
          case _: org.apache.spark.sql.catalyst.plans.logical.Command |
               _: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement |
               _: org.apache.spark.sql.catalyst.plans.logical.UpdateTable |
               _: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable |
               _: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable =>
            throw new IllegalArgumentException(
              "EXPLAIN covers row-returning statements; DML and DDL " +
                "verbs execute through execute()")
          case _ => ()
        }
        val mode = Option(modeRaw).map(_.trim.toLowerCase)
          .getOrElse("simple")
        query(spark, rest).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(mode))
          .split("\n").toSeq.toDF("plan")
      case _ =>
        val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
        lazy val normal = Bridge.ofRows(spark, refineMcvStats(spark,
          substituteRelations(spark, plan)))
        rewriteViaMv(spark, plan, normal).getOrElse(normal)
    }

  // -- log-stats CBO injection ----------------------------------------------
  //
  // ANALYZE-free cost-based optimization: every registered txn-table
  // reference resolves with CatalogStatistics folded from its COMMIT
  // LOG (rows/bytes/min-max/null counts — [[TxnTable.logTableStats]],
  // zero file reads), attached as a synthetic external-table entry on
  // the scan relation. With `spark.sql.cbo.enabled` the optimizer
  // then sees row counts and column bounds exactly as if ANALYZE had
  // scanned the table — a filtered dim⋈fact plans broadcast by
  // statistics where the raw size-only estimate would sort-merge
  // (the c13 flip, with the log instead of a crawl). Disable with
  // `spark.graft.cbo.logStats=false`. The log fold is a lazy member
  // of the resolved snapshot, which the head memo carries, so a new
  // commit is a new snapshot and staleness is impossible by
  // construction. The snapshot's graft.mcv.* properties ride onto the
  // injected CatalogTable so the per-statement MCV selectivity
  // refinement reads version-consistent frequencies.

  private def injectLogStats(spark: SparkSession, name: String,
      df: DataFrame): LogicalPlan = {
    // the reader's pre-analysis plan is a lazy UnresolvedDataSource;
    // the scan relation only exists in the ANALYZED plan — so the
    // injection path resolves eagerly, and the default path keeps the
    // historical unresolved splice byte-for-byte
    if (!spark.conf.get("spark.graft.cbo.logStats", "true").toBoolean)
      return df.queryExecution.logical
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = df.queryExecution.analyzed
    // inject only onto an UNAMBIGUOUS single-scan plan: table-level
    // stats must land on the table's own relation. A DV'd snapshot is
    // one scan too (its DVs are a filter on it, not a second scan), so
    // it gets stats as well; its row count is an upper bound, like
    // every logged row count under deletion vectors. The stats are the
    // scanned snapshot's own: the version resolves once per read
    val scans = plan.collect { case lr: LogicalRelation => lr }
    if (scans.length != 1) return plan
    val stats = TxnTable.scannedSnapshotStats(scans.head.relation)
      .flatMap { case (logStats, props) =>
        try Some(buildCatalogStats(logStats, props))
        catch { case _: Exception => None }
      }
    stats match {
      case Some((st, mcvProps)) =>
        val ct = org.apache.spark.sql.catalyst.catalog.CatalogTable(
          identifier =
            org.apache.spark.sql.catalyst.TableIdentifier(name),
          tableType =
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
          storage = org.apache.spark.sql.catalyst.catalog
            .CatalogStorageFormat.empty,
          schema = scans.head.schema,
          provider = Some("parquet"),
          properties = mcvProps,
          stats = Some(st))
        plan.transform {
          case lr: LogicalRelation => lr.copy(catalogTable = Some(ct))
        }
      case None => plan
    }
  }

  private def buildCatalogStats(
      logStats: (Long, Long, Seq[(String, TxnTable.LogColStat)]),
      snapshotProps: Map[String, String])
      : (org.apache.spark.sql.catalyst.catalog.CatalogStatistics,
         Map[String, String]) = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
    import org.apache.spark.sql.types._
    val (bytes, rows, cols) = logStats
    // ANALYZE-built equi-height histograms and string MCV stats ride
    // the log as properties (graft.{hist,mcv}.<col>, pinned at the
    // plan's version) — parsed defensively: malformed JSON just means
    // no histogram / no MCV
    val hists = snapshotProps.flatMap {
      case (k, j) if k.startsWith("graft.hist.") =>
        parseHistogram(j).map(k.stripPrefix("graft.hist.") -> _)
      case _ => None
    }
    val mcvProps = snapshotProps.filter(_._1.startsWith("graft.mcv."))
    val mcvNdv: Map[String, (Long, Long)] = mcvProps.flatMap {
      case (k, j) => parseMcv(j).map(m =>
        k.stripPrefix("graft.mcv.") -> (m._1, m._2))
    }
    val colStats = cols.flatMap { case (n, c) =>
      // external-string bounds only for types whose physical int64
      // maps losslessly onto the catalog's external form; strings
      // carry no catalog min/max (matching ANALYZE), everything else
      // still contributes its exact null count
      def ext(l: Long): Option[String] = c.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             DateType | TimestampType =>
          val internal: Any = c.dataType match {
            case ByteType => l.toByte
            case ShortType => l.toShort
            case IntegerType | DateType => l.toInt
            case _ => l
          }
          Some(CatalogColumnStat.toExternalString(internal, n, c.dataType))
        case _ => None
      }
      // ndv: the log-derivable UPPER BOUND min(non-null rows, value
      // span) for integral columns — exact for dense keys, an
      // over-estimate otherwise. Catalyst's range estimation REQUIRES
      // a distinctCount but uses min/max for the selectivity itself
      // (ndv only caps the post-filter ndv), so the bound is safe
      // there; equality selectivity under-estimates at worst, which
      // errs toward NOT broadcasting.
      val ndv: Option[BigInt] = (c.lmin, c.lmax) match {
        case (Some(lo), Some(hi)) if ext(lo).isDefined =>
          val span = BigInt(hi) - BigInt(lo) + 1
          val nonNull = BigInt(math.max(0L, rows - c.nulls.getOrElse(0L)))
          Some(span.min(nonNull).max(1))
        case _ => None
      }
      val hist = hists.get(n.toLowerCase)
      // ANALYZE-computed string ndv (exact, riding the MCV stats):
      // the base equality estimate for string keys — min/max stay
      // absent, matching ANALYZE's own string behavior; null count
      // derives from the scan when the log lacks it
      val strNdv: Option[BigInt] =
        if (c.dataType == StringType)
          mcvNdv.get(n.toLowerCase).map(m => BigInt(m._1))
        else None
      val nullsOut = c.nulls.map(BigInt(_)).orElse(
        if (c.dataType == StringType)
          mcvNdv.get(n.toLowerCase)
            .map(m => BigInt(math.max(0L, rows - m._2)))
        else None)
      if (c.lmin.isEmpty && c.nulls.isEmpty && hist.isEmpty &&
          strNdv.isEmpty) None
      else Some(n -> CatalogColumnStat(
        distinctCount = ndv.orElse(strNdv),
        min = c.lmin.flatMap(ext),
        max = c.lmax.flatMap(ext),
        nullCount = nullsOut,
        avgLen = None, maxLen = None, histogram = hist,
        version = CatalogColumnStat.VERSION))
    }.toMap
    (CatalogStatistics(
      sizeInBytes = BigInt(math.max(1L, bytes)),
      rowCount = Some(BigInt(math.max(0L, rows))),
      colStats = colStats), mcvProps)
  }

  /** `{"ndv":N,"nonnull":M,"mcv":[["value",count],…]}` →
    * (ndv, nonnull, mcv pairs); None on malformed input (MCV stats
    * are estimation-only, exactly like histograms). */
  private def parseMcv(json: String)
      : Option[(Long, Long, Seq[(String, Long)])] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmts: Formats = DefaultFormats
      val j = JsonMethods.parse(json)
      val ndv = (j \ "ndv").extract[Long]
      val nonnull = (j \ "nonnull").extract[Long]
      val mcv = (j \ "mcv").extract[Seq[Seq[JValue]]].map(p =>
        (p(0).extract[String], p(1).extract[Long]))
      if (ndv <= 0 || nonnull <= 0) None else Some((ndv, nonnull, mcv))
    } catch { case _: Exception => None }

  /** Per-STATEMENT refinement of string-equality selectivity from the
    * ANALYZE MCV stats. Catalyst's FilterEstimation prices `col = lit`
    * as 1/ndv — uniform, so on a 99%-skewed key it is wrong in BOTH
    * directions (the hot value estimates 99× too small, which
    * broadcasts a huge filtered side; with no stats at all a rare
    * value keeps the full size and sort-merges a tiny one).
    * CatalogColumnStat has no MCV channel, so the value-aware
    * estimate is delivered THROUGH the ndv channel: for each RESOLVED
    * equality/IN predicate (attribute matched by exprId — never by
    * name guessing) over a string column carrying graft.mcv stats,
    * that relation's injected distinctCount becomes
    * k·nonnull/est(values), making Catalyst's k/ndv exactly the
    * MCV-estimated fraction (values absent from the MCV list take the
    * residual mean (nonnull−Σmcv)/(ndv−|mcv|) — the classic
    * MCV+residual estimator). Estimation-only, per-statement; stored
    * properties and served values are untouched. */
  private def refineMcvStats(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, In}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.types.StringType
    val hasMcv = plan.find {
      case lr: LogicalRelation => lr.catalogTable.exists(
        _.properties.keys.exists(_.startsWith("graft.mcv.")))
      case _ => false
    }.isDefined
    if (!hasMcv) return plan
    val analyzed =
      try Bridge.ofRows(spark, plan).queryExecution.analyzed
      catch { case scala.util.control.NonFatal(_) => return plan }
    val preds = scala.collection.mutable.Map[Long, Set[String]]()
    def conj(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conj(l) ++ conj(r)
      case x => Seq(x)
    }
    def strOf(l: Literal): Option[String] = l match {
      case Literal(v, StringType) if v != null => Some(v.toString)
      case _ => None
    }
    def add(a: AttributeReference, vs: Set[String]): Unit =
      preds(a.exprId.id) = preds.getOrElse(a.exprId.id, Set.empty) ++ vs
    def record(e: Expression): Unit = e match {
      case EqualTo(a: AttributeReference, l: Literal) =>
        strOf(l).foreach(v => add(a, Set(v)))
      case EqualTo(l: Literal, a: AttributeReference) =>
        strOf(l).foreach(v => add(a, Set(v)))
      case In(a: AttributeReference, list)
          if list.nonEmpty && list.forall {
            case l: Literal => strOf(l).isDefined; case _ => false } =>
        add(a, list.collect { case l: Literal => strOf(l).get }.toSet)
      case _ => ()
    }
    analyzed.foreach {
      case f: Filter => conj(f.condition).foreach(record)
      case j: Join => j.condition.toSeq.flatMap(conj).foreach(record)
      case _ => ()
    }
    if (preds.isEmpty) return analyzed
    analyzed.transform {
      case lr: LogicalRelation if lr.catalogTable.exists(ct =>
          ct.stats.exists(_.colStats.nonEmpty) &&
            ct.properties.keys.exists(_.startsWith("graft.mcv."))) =>
        val ct = lr.catalogTable.get
        val st = ct.stats.get
        var changed = false
        val newCols = st.colStats.map { case (cn, cs) =>
          val vals = lr.output.find(_.name.equalsIgnoreCase(cn))
            .flatMap(a => preds.get(a.exprId.id)).getOrElse(Set.empty)
          ct.properties.get(s"graft.mcv.${cn.toLowerCase}")
            .flatMap(parseMcv) match {
            case Some((ndvL, nonnull, mcv)) if vals.nonEmpty =>
              val mcvMap = mcv.toMap
              val mcvSum = mcv.map(_._2).sum
              val residual = math.max(1.0,
                (nonnull - mcvSum).toDouble /
                  math.max(1L, ndvL - mcv.size).toDouble)
              val est = math.min(nonnull.toDouble, math.max(1.0,
                vals.toSeq.map(v =>
                  mcvMap.get(v).map(_.toDouble).getOrElse(residual)).sum))
              val eff = BigInt(math.max(1L,
                math.round(vals.size * nonnull.toDouble / est)))
              changed = true
              cn -> cs.copy(distinctCount = Some(eff))
            case _ => cn -> cs
          }
        }
        if (!changed) lr
        else lr.copy(catalogTable = Some(ct.copy(
          stats = Some(st.copy(colStats = newCols)))))
    }
  }

  /** `{"h":height,"bins":[[lo,hi,ndv],…]}` → Catalyst Histogram;
    * None on any malformed input (histograms are estimation-only). */
  private def parseHistogram(json: String)
      : Option[org.apache.spark.sql.catalyst.plans.logical.Histogram] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmts: Formats = DefaultFormats
      val j = JsonMethods.parse(json)
      val h = (j \ "h").extract[Double]
      val bins = (j \ "bins").extract[Seq[Seq[Double]]].map(b =>
        org.apache.spark.sql.catalyst.plans.logical.HistogramBin(
          b(0), b(1), b(2).toLong))
      if (bins.isEmpty || h <= 0) None
      else Some(org.apache.spark.sql.catalyst.plans.logical.Histogram(
        h, bins.toArray))
    } catch { case _: Exception => None }

  /** Replace every registered txn-table reference (plain or
    * time-traveled) with its snapshot's plan; everything else is left
    * for the session catalog. Shared by query(), INSERT sources, and
    * MERGE sources — so `INSERT INTO t2 SELECT * FROM t1 VERSION AS OF 3`
    * snapshots one table into another with no temp-view plumbing. */
  private def substituteRelations(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan =
    substituteRelations(spark, plan, Set.empty)

  private def substituteRelations(spark: SparkSession,
      plan: LogicalPlan, resolvingViews: Set[String]): LogicalPlan = {
    def snapshot(r: UnresolvedRelation, asOf: Long): Option[LogicalPlan] = {
      val full = r.multipartIdentifier.mkString(".").toLowerCase
      val short = r.multipartIdentifier.last.toLowerCase
      Option(tables.get(full)).orElse(Option(tables.get(short))).map { reg =>
        SubqueryAlias(short, injectLogStats(spark, short,
          TxnTable.read(spark, reg.path, asOf)))
      }
    }
    // a view reference expands to its freshly RE-SUBSTITUTED body
    // (view-of-view composes by recursion); the resolution stack makes
    // a definition cycle a loud error instead of a stack overflow
    def view(r: UnresolvedRelation): Option[LogicalPlan] = {
      val full = r.multipartIdentifier.mkString(".").toLowerCase
      val short = r.multipartIdentifier.last.toLowerCase
      Option(views.get(full)).map((full, _))
        .orElse(Option(views.get(short)).map((short, _)))
        .map { case (nm, body) =>
          require(!resolvingViews(nm),
            s"view definition cycle at $nm " +
              s"(resolving ${resolvingViews.mkString(" -> ")})")
          SubqueryAlias(short,
            substituteRelations(spark, body, resolvingViews + nm))
        }
    }
    def strLit(e: Expression, what: String): String = e match {
      case l: Literal if l.value != null => l.value.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a literal, got $other")
    }
    def intLit(e: Expression, what: String): Long = e match {
      case l: Literal if l.value != null &&
          (l.dataType == org.apache.spark.sql.types.IntegerType ||
            l.dataType == org.apache.spark.sql.types.LongType) =>
        l.value.toString.toLong
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    // a query vector as SQL text: a comma-separated float string —
    // portable statement spelling ('0.1, -0.2, …'), array literals
    // stay the Scala API's territory
    def vecLit(e: Expression, what: String): Seq[Float] = {
      val s = strLit(e, what)
      try s.split(",").map(_.trim).filter(_.nonEmpty).map(_.toFloat).toSeq
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$what must be a comma-separated float string, got '$s'") }
    }
    def termsLit(e: Expression, what: String): Seq[String] = {
      val t = strLit(e, what).split("\\s+").filter(_.nonEmpty).toSeq
      require(t.nonEmpty, s"$what must name at least one term")
      t
    }
    // transformUpWithSubqueries: registered names resolve inside
    // IN/EXISTS/scalar SUBQUERY expressions too, not just the FROM tree
    plan.transformUpWithSubqueries {
      case tt @ RelationTimeTravel(r: UnresolvedRelation, ts, ver) =>
        require(!views.containsKey(
            r.multipartIdentifier.mkString(".").toLowerCase) &&
          !views.containsKey(r.multipartIdentifier.last.toLowerCase),
          s"${r.multipartIdentifier.mkString(".")} is a view — views " +
            "have no version axis; time-travel the tables INSIDE the " +
            "view body instead")
        val asOf = (ver, ts) match {
          case (Some(v), _) => v.toLong
          case (_, Some(e)) => TxnTable.versionAt(
            registeredPath(r), timestampMillis(spark, e))
          case _ => -1L
        }
        snapshot(r, asOf).getOrElse(tt)
      case r: UnresolvedRelation =>
        snapshot(r, -1L).orElse(view(r)).getOrElse(r)
      // table_changes('t', from, to, 'key'[, 'key2'...]) — the keyed
      // change-data-feed as a table-valued function (op column +
      // after-image payload, computed from only the changed files).
      // Each bound is a VERSION number or a TIMESTAMP literal ("what
      // changed since yesterday 09:00" — the audit UX), resolved
      // through versionAt's log-mtime clock, same pre-horizon fence
      // as every timestamp-addressed read.
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.last.equalsIgnoreCase("table_changes") =>
        val args = tvf.functionArgs
        require(args.length >= 4,
          "table_changes(table, fromVersionOrTs, toVersionOrTs, keyCol...)")
        val path = registeredPathByName(strLit(args.head, "table name"))
        // Bound typing follows the CDF convention: an UNQUOTED integer
        // literal is a VERSION; every string literal is a TIMESTAMP —
        // even an all-digit one ('2026' is a valid timestamp cast,
        // 2026-01-01; silently reinterpreting it as version 2026 would
        // diverge from the convention and yield a confusing
        // version-range error instead of a timestamp resolution).
        def bound(e: Expression, what: String): Long = e match {
          case l: Literal if l.value != null &&
              (l.dataType == org.apache.spark.sql.types.IntegerType ||
                l.dataType == org.apache.spark.sql.types.LongType) =>
            l.value.toString.toLong
          case e2 => TxnTable.versionAt(path, timestampMillis(spark, e2))
        }
        val fromV = bound(args(1), "fromVersionOrTs")
        val toV = bound(args(2), "toVersionOrTs")
        val keys = args.drop(3).map(strLit(_, "key column"))
        SubqueryAlias("table_changes",
          TxnTable.diffVersions(spark, path, fromV, toV, keys)
            .queryExecution.logical)
      // table_history('t') — the audit surface as a TVF
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.last.equalsIgnoreCase("table_history") =>
        require(tvf.functionArgs.length == 1, "table_history(table)")
        val path = registeredPathByName(
          strLit(tvf.functionArgs.head, "table name"))
        SubqueryAlias("table_history",
          TxnTable.history(spark, path).queryExecution.logical)
      // quality_filter('t'[, 'textCol'[, threshold]]) — the l46
      // model-based quality filter as a table-valued function: the
      // table's rows whose integer quality logit exceeds the
      // threshold (default 0), the logit exposed as a
      // `quality_logit` column. One codegen projection over the scan
      // — zero UDF, zero shuffle, composes with any SELECT on top.
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.last.equalsIgnoreCase("quality_filter") =>
        val args = tvf.functionArgs
        require(args.nonEmpty && args.length <= 3,
          "quality_filter(table[, textCol[, threshold]])")
        val path = registeredPathByName(strLit(args.head, "table name"))
        val textCol =
          if (args.length >= 2) strLit(args(1), "text column") else "text"
        val thr: Long =
          if (args.length < 3) 0L
          else args(2) match {
            case l: Literal if l.value != null &&
                (l.dataType == org.apache.spark.sql.types.IntegerType ||
                  l.dataType == org.apache.spark.sql.types.LongType) =>
              l.value.toString.toLong
            case other => throw new IllegalArgumentException(
              s"quality_filter threshold must be an integer literal, " +
                s"got $other")
          }
        val df = TxnTable.read(spark, path)
        require(df.columns.exists(_.equalsIgnoreCase(textCol)),
          s"quality_filter: no column $textCol in $path")
        val scored = df.withColumn("quality_logit",
          graft.functions.TextFunctions.qualityLogitMicro(
            org.apache.spark.sql.functions.col(textCol)))
          .filter(org.apache.spark.sql.functions
            .col("quality_logit") > thr)
        SubqueryAlias("quality_filter", scored.queryExecution.logical)
      // point_lookup('t', 'col', 'v1,v2,…') — the per-file Bloom
      // index as a TVF: only files whose filter might contain a probe
      // value are scanned (files without a bloom row, or no index at
      // all, are conservatively kept), the exact IN predicate always
      // re-applies on top. Probes spell as a comma-separated literal
      // (the search_ann convention); the column's type picks the
      // integral or string probe path.
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.last.equalsIgnoreCase("point_lookup") =>
        val args = tvf.functionArgs
        require(args.length == 3,
          "point_lookup(table, column, 'v1,v2,…')")
        val path = registeredPathByName(strLit(args.head, "table name"))
        val cn = strLit(args(1), "column")
        val raw = strLit(args(2), "values").split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
        require(raw.nonEmpty, "point_lookup: empty probe list")
        val f = TxnTable.read(spark, path).schema.fields
          .find(_.name.equalsIgnoreCase(cn)).getOrElse(
            throw new IllegalArgumentException(
              s"point_lookup: no column $cn in $path"))
        val df = f.dataType match {
          case org.apache.spark.sql.types.StringType =>
            TxnTable.readPrunedBloomString(spark, path, f.name, raw)
          case _ =>
            val vs = raw.map(v =>
              try v.toLong
              catch { case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"point_lookup: non-integer probe '$v' for ${f.name}")
              })
            TxnTable.readPrunedBloom(spark, path, f.name, vs)
        }
        SubqueryAlias("point_lookup", df.queryExecution.logical)
      // ---- the retrieval surface as TVFs: every index a SQL user can
      // BUILD (text index, vector index, hybrid) is also QUERYABLE
      // from statement text, each dispatching to the existing pruned
      // operator (statement ≡ API, the s34 twin discipline) ----------
      // search_bm25('t', 'query terms', k[, 'textCol'[, 'idCol']]):
      // BM25 top-k over a registered table. A raw corpus rescans and
      // scores ([[Keywords.bm25TopK]]); a registered TRANSACTIONAL
      // TEXT INDEX (the L37 layout, detected by its schema) serves
      // from committed postings — the read prunes to the query terms'
      // bucket files, no corpus scan, bit-identical scoring tail.
      // Output: (doc_id, score).
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.last.equalsIgnoreCase("search_bm25") =>
        val args = tvf.functionArgs
        require(args.length >= 3 && args.length <= 5,
          "search_bm25(table, 'query terms', k[, textCol[, idCol]])")
        val path = registeredPathByName(strLit(args.head, "table name"))
        val terms = termsLit(args(1), "query terms")
        val k = intLit(args(2), "k").toInt
        val served =
          if (isTxnTextIndex(spark, path)) {
            require(args.length == 3, "an indexed table carries its " +
              "own id/text layout — search_bm25(index, terms, k)")
            graft.operators.TxnIndex.bm25TopK(spark, path, terms, k)
          } else {
            val textCol = if (args.length >= 4)
              strLit(args(3), "text column") else "text"
            val idCol = if (args.length >= 5)
              strLit(args(4), "id column") else "doc_id"
            graft.operators.Keywords.bm25TopK(
              TxnTable.read(spark, path), idCol, textCol, terms, k)
          }
        SubqueryAlias("search_bm25", served.queryExecution.logical)
      // search_phrase('t', 'exact phrase'[, 'textCol'[, 'idCol']]):
      // consecutive-token phrase match via positional-postings
      // intersection — work bounded by the rarest term's postings;
      // a registered transactional text index serves it from pruned
      // bucket files with no rescan. Output: (doc_id, n_occ).
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.last.equalsIgnoreCase("search_phrase") =>
        val args = tvf.functionArgs
        require(args.length >= 2 && args.length <= 4,
          "search_phrase(table, 'exact phrase'[, textCol[, idCol]])")
        val path = registeredPathByName(strLit(args.head, "table name"))
        val phrase = termsLit(args(1), "phrase")
        val served =
          if (isTxnTextIndex(spark, path)) {
            require(args.length == 2, "an indexed table carries its " +
              "own id/text layout — search_phrase(index, phrase)")
            graft.operators.TxnIndex.phraseMatches(spark, path, phrase)
          } else {
            val textCol = if (args.length >= 3)
              strLit(args(2), "text column") else "text"
            val idCol = if (args.length >= 4)
              strLit(args(3), "id column") else "doc_id"
            graft.operators.Keywords.phraseMatches(
              TxnTable.read(spark, path), idCol, textCol, phrase)
          }
        SubqueryAlias("search_phrase", served.queryExecution.logical)
      // search_ann('t', 'v1,v2,…', k[, nprobe]): cosine top-k over a
      // registered vector table. WITH nprobe the table must be a
      // transactional IVF index ([[TxnVectorIndex.topK]] — reads only
      // the probed lists' files via log-stats pruning); without it,
      // exact brute-force scoring + TakeOrderedAndProject over a plain
      // (vec_id, embedding) table. Output: (vec_id, sim).
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.last.equalsIgnoreCase("search_ann") =>
        val args = tvf.functionArgs
        require(args.length >= 3 && args.length <= 4,
          "search_ann(table, 'v1,v2,…', k[, nprobe])")
        val path = registeredPathByName(strLit(args.head, "table name"))
        val qv = vecLit(args(1), "query vector")
        val k = intLit(args(2), "k").toInt
        val served =
          if (args.length == 4)
            graft.operators.TxnVectorIndex.topK(spark, path, qv, k,
              intLit(args(3), "nprobe").toInt)
          else graft.operators.Similarity.bruteTopK(
            TxnTable.read(spark, path), qv, k)
        SubqueryAlias("search_ann", served.queryExecution.logical)
      // search_hybrid('docs', 'vectors', 'query terms', 'v1,v2,…', k
      // [, depth]): BM25 × cosine candidates fused by reciprocal rank
      // fusion ([[HybridSearch.hybridTopK]] — fusion is metadata-scale,
      // the corpus work lives in the two generators). Output:
      // (id, rrf, lex_rank, vec_rank).
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.last.equalsIgnoreCase("search_hybrid") =>
        val args = tvf.functionArgs
        require(args.length >= 5 && args.length <= 6,
          "search_hybrid(docsTable, vecTable, 'query terms', " +
            "'v1,v2,…', k[, depth])")
        val docsPath = registeredPathByName(strLit(args.head, "docs table"))
        val vecPath = registeredPathByName(strLit(args(1), "vector table"))
        val terms = termsLit(args(2), "query terms")
        val qv = vecLit(args(3), "query vector")
        val k = intLit(args(4), "k").toInt
        val depth =
          if (args.length == 6) intLit(args(5), "depth").toInt
          else math.max(50, 2 * k)
        SubqueryAlias("search_hybrid",
          graft.operators.HybridSearch.hybridTopK(
            TxnTable.read(spark, docsPath), "doc_id", "text",
            TxnTable.read(spark, vecPath), "vec_id", "embedding",
            terms, qv, k, depth).queryExecution.logical)
    }
  }

  private def registeredPathByName(name: String): String =
    Option(tables.get(name.toLowerCase)).map(_.path)
      .getOrElse(throw new IllegalArgumentException(
        s"$name is not a registered GraftSql table"))

  /** A registered table IS a transactional text index (the L37
    * layout) when it carries the index's discriminated row schema —
    * the retrieval TVFs then serve from committed postings instead of
    * rescanning the table as a corpus. */
  private def isTxnTextIndex(spark: SparkSession, path: String): Boolean = {
    val cols = TxnTable.currentSchema(path)
      .map(_.fields.map(_.name.toLowerCase).toSet)
      .getOrElse(TxnTable.read(spark, path).columns
        .map(_.toLowerCase).toSet)
    Set("kind", "bucket", "term", "doc_id", "positions").subsetOf(cols)
  }

  private def registeredPath(r: UnresolvedRelation): String = {
    val full = r.multipartIdentifier.mkString(".").toLowerCase
    val short = r.multipartIdentifier.last.toLowerCase
    Option(tables.get(full)).orElse(Option(tables.get(short)))
      .map(_.path)
      .getOrElse(throw new IllegalArgumentException(
        s"$full is not a registered GraftSql table"))
  }

  /** Evaluate a TIMESTAMP AS OF expression to epoch millis: the parser
    * hands a string (or timestamp) literal; string literals are parsed
    * by Catalyst's own string→timestamp Cast under the SESSION timezone
    * (`spark.sql.session.timeZone`) — exactly like Spark's CAST, and
    * NEVER the JVM default zone (on a host whose default isn't the
    * session zone, `java.sql.Timestamp.valueOf` would resolve the
    * statement to a different instant than every other timestamp in
    * the engine). */
  private def timestampMillis(spark: SparkSession, e: Expression): Long =
    e match {
      case Literal(v: Long, org.apache.spark.sql.types.TimestampType) =>
        Math.floorDiv(v, 1000L) // micros → millis
      case l: Literal =>
        // under ANSI mode the Cast THROWS on malformed input instead
        // of returning null — either way it's the same contract error
        val micros =
          try org.apache.spark.sql.catalyst.expressions.Cast(
            Literal(
              org.apache.spark.unsafe.types.UTF8String
                .fromString(l.value.toString),
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.TimestampType,
            Some(spark.sessionState.conf.sessionLocalTimeZone)).eval()
          catch { case _: org.apache.spark.SparkException |
                       _: java.time.DateTimeException => null }
        require(micros != null,
          s"TIMESTAMP AS OF: cannot parse '${l.value}' as a timestamp")
        Math.floorDiv(micros.asInstanceOf[Long], 1000L)
      case other => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF must be a literal, got $other")
    }

  // -- target resolution ---------------------------------------------------

  /** Unwrap the parser's target relation to its registration plus the
    * qualifier spellings that may prefix its columns (alias and/or
    * table name). */
  private def target(plan: LogicalPlan): (Reg, Set[String]) = plan match {
    case SubqueryAlias(id, child) =>
      val (reg, quals) = target(child)
      (reg, quals + id.name.toLowerCase)
    case r: UnresolvedRelation => lookup(r.multipartIdentifier)
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
      lookup(t.multipartIdentifier)
    case other => throw new IllegalArgumentException(
      s"unsupported DML target shape: ${other.nodeName}")
  }

  /** Bare-`OPTIMIZE t ZORDER` routing: tail-only when a cluster
    * commit exists and the tail is at most half the table's bytes;
    * an empty tail no-ops at the unchanged head. */
  private def reclusterMaybeTail(spark: SparkSession, reg: Reg,
      cols: Seq[Column], width: Int, full: => Long): Long =
    TxnTable.clusterTailInfo(reg.path) match {
      case Some(ct) if ct.tailFiles.isEmpty =>
        TxnTable.currentVersion(reg.path)
      case Some(ct) if ct.tailBytes * 2 <= ct.totalBytes =>
        TxnTable.compactClusteredTail(spark, reg.path, cols, width)
      case _ => full
    }

  /** ZORDER's layout width: the table's graft.targetFiles property
    * when set, else that compaction arity's own default. */
  private def zTargetFiles(reg: Reg, dflt: Int): Int =
    TxnTable.properties(reg.path).get("graft.targetFiles")
      .map(_.toInt).getOrElse(dflt)

  /** Effective DML routing: the TABLE property `graft.mor` (a
    * metadata commit, visible to every session) overrides the session
    * registration's flag — flipping a grown table to merge-on-read is
    * table state, not per-session opinion. */
  private def routeMor(reg: Reg): Boolean =
    TxnTable.properties(reg.path).get("graft.mor")
      .map(_.equalsIgnoreCase("true")).getOrElse(reg.mor)

  private def lookup(parts: Seq[String]): (Reg, Set[String]) = {
    val full = parts.mkString(".").toLowerCase
    val short = parts.last.toLowerCase
    val reg = Option(tables.get(full)).orElse(Option(tables.get(short)))
      .getOrElse(throw new IllegalArgumentException(
        s"$full is not a registered GraftSql table — call " +
          "GraftSql.register(name, path) first"))
    (reg, Set(full, short))
  }

  /** [[lookup]] plus the materialized-view fence: a mutation verb on
    * an MV name is refused — an MV's content must stay equal to its
    * definition (a stray DML commit would diverge it while SHOW
    * MATERIALIZED VIEWS still reports it fresh, staleness being
    * source-version metadata only — and would also push the
    * staleness marker off the head, degrading [[mvRecorded]]'s O(1)
    * backward walk). Mirrors the view-as-DML-target refusal. */
  private def lookupMutable(parts: Seq[String],
      verb: String): (Reg, Set[String]) = {
    val full = parts.mkString(".").toLowerCase
    val short = parts.last.toLowerCase
    // fence on the name the registry would RESOLVE (full if bound,
    // else last segment) — the same precedence lookup() applies
    val resolved = if (tables.containsKey(full)) full else short
    require(!matviews.containsKey(resolved),
      s"$resolved is a materialized view — $verb would diverge its " +
        "content from its definition; use REFRESH MATERIALIZED VIEW " +
        s"$resolved to recompute it, or DROP MATERIALIZED VIEW")
    lookup(parts)
  }

  /** [[target]] with the MV mutation fence of [[lookupMutable]]. */
  private def targetMutable(plan: LogicalPlan,
      verb: String): (Reg, Set[String]) = plan match {
    case SubqueryAlias(id, child) =>
      val (reg, quals) = targetMutable(child, verb)
      (reg, quals + id.name.toLowerCase)
    case r: UnresolvedRelation => lookupMutable(r.multipartIdentifier, verb)
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
      lookupMutable(t.multipartIdentifier, verb)
    case other => throw new IllegalArgumentException(
      s"unsupported DML target shape: ${other.nodeName}")
  }

  private def lastName(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => throw new IllegalArgumentException(
      s"expected a column reference, got $other")
  }

  /** Resolve registered txn-table names inside SUBQUERY expressions of
    * a DML predicate (`DELETE … WHERE k IN (SELECT …)`, scalar
    * subqueries): each embedded plan goes through the same
    * [[substituteRelations]] the FROM tree gets; the subquery pins its
    * snapshot at statement time. */
  private def resolveSubqueries(spark: SparkSession,
      e: Expression): Expression =
    e.transformUp {
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        s.withNewPlan(substituteRelations(spark, s.plan))
    }

  /** Drop a leading target-alias qualifier so the expression resolves
    * against the bare table frame (`t.v` → `v`). */
  private def stripQual(e: Expression, quals: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute
          if a.nameParts.length > 1 && quals(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    }

  // -- MERGE INTO ----------------------------------------------------------

  private def merge(spark: SparkSession, m: MergeIntoTable): Long = {
    val (reg, tgtQuals) = targetMutable(m.targetTable, "MERGE")
    // the source may be any relation or subquery — Spark analyzes it
    val (srcDf, srcQuals) = m.sourceTable match {
      case SubqueryAlias(id, child) =>
        (Bridge.ofRows(spark, substituteRelations(spark, child)),
          Set(id.name.toLowerCase))
      case r: UnresolvedRelation =>
        (Bridge.ofRows(spark, substituteRelations(spark, r)),
          Set(r.multipartIdentifier.last.toLowerCase))
      case other =>
        (Bridge.ofRows(spark, substituteRelations(spark, other)),
          Set.empty[String])
    }
    val srcCols = srcDf.columns.map(_.toLowerCase).toSet
    val tgtCols = TxnTable.read(spark, reg.path).columns
    val tgtColSet = tgtCols.map(_.toLowerCase).toSet

    // `inMatched`: WHEN MATCHED scopes see both sides — unqualified
    // names bind to the TARGET; the INSERT scope sees only the source.
    def rewrite(e: Expression, inMatched: Boolean): Column =
      Bridge.column(e.transformUp {
        case a: UnresolvedAttribute =>
          val parts = a.nameParts
          val head = parts.head.toLowerCase
          if (parts.length > 1 && srcQuals(head))
            UnresolvedAttribute(TxnTable.SrcStruct +: parts.tail)
          else if (parts.length > 1 && tgtQuals(head))
            UnresolvedAttribute(parts.tail)
          else if (parts.length == 1 &&
              (!inMatched || !tgtColSet(head)) && srcCols(head))
            UnresolvedAttribute(Seq(TxnTable.SrcStruct, parts.head))
          else a
      })

    // equi-key extraction from ON: every conjunct must be
    // target-col = source-col with the SAME column name — the key
    // contract mergeInto's one-pass hit-file join is built on
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def side(a: UnresolvedAttribute): (String, String) = {
      val head = a.nameParts.head.toLowerCase
      val name = a.nameParts.last
      if (a.nameParts.length > 1 && srcQuals(head)) ("src", name)
      else if (a.nameParts.length > 1 && tgtQuals(head)) ("tgt", name)
      else if (tgtColSet(name.toLowerCase)) ("tgt", name)
      else if (srcCols(name.toLowerCase)) ("src", name)
      else ("?", name)
    }
    val keyCols = conjuncts(m.mergeCondition).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        (side(l), side(r)) match {
          case (("tgt", tn), ("src", sn)) if tn.equalsIgnoreCase(sn) => tn
          case (("src", sn), ("tgt", tn)) if tn.equalsIgnoreCase(sn) => tn
          case other => throw new IllegalArgumentException(
            s"MERGE ON must pair a target and a source column of the " +
              s"same name, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"MERGE ON supports equi-conditions only, got ${other.sql}")
    }

    def assignmentsToSet(assigns: Seq[Assignment]): Map[String, Column] =
      assigns.map(a =>
        lastName(a.key) -> rewrite(a.value, inMatched = true)).toMap
    def starSet: Map[String, Column] =
      tgtCols.map(c => c -> TxnTable.srcCol(c)).toMap

    val matched: Seq[MergeMatched] = m.matchedActions.map {
      case DeleteAction(cond) =>
        MatchedDelete(cond.map(rewrite(_, inMatched = true)))
      case UpdateAction(cond, assigns, _) =>
        MatchedUpdate(assignmentsToSet(assigns),
          cond.map(rewrite(_, inMatched = true)))
      case UpdateStarAction(cond) =>
        MatchedUpdate(starSet, cond.map(rewrite(_, inMatched = true)))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED action: $other")
    }

    // multiple WHEN NOT MATCHED clauses: ordered, first-fire-wins
    val notMatched: Seq[NotMatchedInsert] = m.notMatchedActions.map {
      case InsertAction(cond, assigns) =>
        NotMatchedInsert(
          assigns.map(a =>
            lastName(a.key) -> rewrite(a.value, inMatched = false)).toMap,
          cond.map(rewrite(_, inMatched = false)))
      case InsertStarAction(cond) =>
        NotMatchedInsert(starSet, cond.map(rewrite(_, inMatched = false)))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }

    // WHEN NOT MATCHED BY SOURCE: target-only scope — a source
    // reference (qualified by the source alias, or an unqualified name
    // that is only a source column) is a statement error, matching SQL
    def rewriteBySource(e: Expression): Column =
      Bridge.column(e.transformUp {
        case a: UnresolvedAttribute =>
          val parts = a.nameParts
          val head = parts.head.toLowerCase
          if (parts.length > 1 && srcQuals(head))
            throw new IllegalArgumentException(
              "WHEN NOT MATCHED BY SOURCE cannot reference the source " +
                s"(${a.name})")
          else if (parts.length > 1 && tgtQuals(head))
            UnresolvedAttribute(parts.tail)
          else if (parts.length == 1 && !tgtColSet(head) && srcCols(head))
            throw new IllegalArgumentException(
              "WHEN NOT MATCHED BY SOURCE cannot reference the source " +
                s"(${a.name})")
          else a
      })
    val bySource: Seq[MergeBySource] = m.notMatchedBySourceActions.map {
      case DeleteAction(cond) => BySourceDelete(cond.map(rewriteBySource))
      case UpdateAction(cond, assigns, _) =>
        BySourceUpdate(
          assigns.map(a =>
            lastName(a.key) -> rewriteBySource(a.value)).toMap,
          cond.map(rewriteBySource))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }

    if (routeMor(reg))
      TxnTable.mergeIntoMor(spark, reg.path, srcDf, keyCols, matched,
        notMatched, bySource = bySource)
    else
      TxnTable.mergeInto(spark, reg.path, srcDf, keyCols, matched,
        notMatched, bySource = bySource)
  }
}
