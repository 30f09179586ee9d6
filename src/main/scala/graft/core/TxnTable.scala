package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, FileAlreadyExistsException}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.crawler.SkippingIndex.FileStats

/** One data file added by a commit. `stats` is the file's write-time
  * column statistics as compact JSON
  * (`{"cols":[…],"l":{col:[mn,mx]},"s":{col:[mn,mx]}}` — the leaf
  * columns attempted, long bounds in the column's PHYSICAL footer
  * space, and UTF8 string bounds), a pure cache of what a read-time
  * footer index would compute: pruned reads plan from the log alone,
  * zero footer opens. Absent on adds written before stats-in-log —
  * those files fall back to footer reads. */
case class TxnAdd(path: String, rows: Long, bytes: Long,
    stats: Option[String] = None)

/** One committed version: the actions that produced it. `schema` is the
  * table schema as of this commit (JSON), recorded on create and on
  * explicit evolution; absent otherwise. `dvs` are DELETION-VECTOR
  * reassignments: (data file, DV file) pairs stating that from this
  * version on, the data file's logical rows are its physical rows MINUS
  * the positions listed in the DV file (merge-on-read delete — the data
  * file itself is untouched). A commit that re-adds or removes a data
  * file implicitly clears its DV. */
case class TxnCommit(
    version: Long,
    op: String,
    adds: Seq[TxnAdd],
    removes: Seq[String],
    schema: Option[String] = None,
    dvs: Seq[(String, String)] = Nil)

/** MERGE INTO matched-clause ADT (SQL MERGE / the Delta DSL): clauses
  * are evaluated in the order given, first clause whose condition fires
  * claims the row. Conditions and update expressions may reference the
  * target's columns by name and the source row's via
  * [[TxnTable.srcCol]]. */
sealed trait MergeMatched
/** WHEN MATCHED [AND cond] THEN UPDATE SET … (per-column expressions,
  * each cast to the column's existing type). */
case class MatchedUpdate(set: Map[String, Column],
    cond: Option[Column] = None) extends MergeMatched
/** WHEN MATCHED [AND cond] THEN DELETE. */
case class MatchedDelete(cond: Option[Column] = None) extends MergeMatched
/** WHEN NOT MATCHED [AND cond] THEN INSERT (values reference source
  * columns via [[TxnTable.srcCol]]; unspecified table columns get
  * NULL). Multiple clauses apply first-fire-wins per source row. */
case class NotMatchedInsert(values: Map[String, Column],
    cond: Option[Column] = None)

/** WHEN NOT MATCHED BY SOURCE clauses: applied to TARGET rows whose
  * key has no source match (the third leg of SQL MERGE — with it a
  * single statement expresses full-sync CDC: source drives inserts,
  * updates, AND deletes of rows it no longer carries). Conditions and
  * SET expressions see TARGET columns only; ordered first-fire-wins
  * like WHEN MATCHED. */
sealed trait MergeBySource
case class BySourceUpdate(set: Map[String, Column],
    cond: Option[Column] = None) extends MergeBySource
case class BySourceDelete(cond: Option[Column] = None) extends MergeBySource

/** A minimal transactional table format: snapshot-versioned parquet with
  * an append-only JSON commit log — the ACID layer the plain-directory
  * lake lacks (SURVEY.md residual gap; Compactor's swap and SnapshotDiff
  * were the seeds).
  *
  * Layout:
  * {{{
  *   table/data/part-<uuid>.parquet      immutable data files
  *   table/_graft_log/v0000000042.json   one commit per version
  * }}}
  *
  * Properties, each pinned by TxnTableSpec or the s13 gate:
  *  - **Atomic commit / optimistic concurrency**: a commit is staged to
  *    a temp file and published create-exclusive ([[Store.putIfAbsent]],
  *    POSIX link(2) locally)
  *    is create-exclusive, so exactly ONE writer wins a version; losers
  *    see [[TxnConflictException]] and retry against the new snapshot.
  *    (On an object store this primitive becomes a conditional PUT /
  *    putIfAbsent; the protocol is unchanged.)
  *  - **Snapshot isolation**: data files are immutable and never deleted
  *    by commits (remove = logical). A reader of version N resolves its
  *    file list from the log prefix ≤ N and is unaffected by concurrent
  *    appends, deletes, or compaction.
  *  - **Time travel**: `read(spark, path, asOf = N)`.
  *  - **Delete/compact as rewrites**: `deleteWhere` rewrites only the
  *    files that contain matching rows (file-level pruning via one
  *    file-tagged probe pass); `compact` folds the current snapshot
  *    into fewer files; both are ordinary commits.
  *
  * Scale notes: the log is metadata — O(1) JSON per commit. All state
  * a version determines (live files, DVs, schema, constraints,
  * properties, stream marks, ingested sources, add metadata, vacuum
  * horizon) is one immutable [[Snapshot]], folded commit by commit.
  * Every `CheckpointInterval`-th commit also writes that snapshot as a
  * checkpoint, so resolving a version lists the log once and replays
  * at most `CheckpointInterval` commits past the nearest checkpoint —
  * or fewer past the per-table memo of the highest version resolved
  * so far, so a read of an unchanged head reads no commit at all.
  * Checkpoints are derived data: written best-effort by the commit
  * winner, idempotent by content, and a missing, corrupt or
  * old-format one only costs a replay from the next older one
  * (counted in [[CheckpointFallbacks]]). Data-file work (rewrite,
  * compaction) is Spark jobs over only the affected files.
  */
object TxnTable {

  class TxnConflictException(version: Long)
    extends RuntimeException(s"version $version was committed concurrently")

  /** Accept both plain local paths and `file:` URIs (the crawler hands
    * over Hadoop-style URI strings). */
  private def localRoot(path: String): JPath =
    if (path.startsWith("file:"))
      Paths.get(java.net.URI.create(path).getPath)
    else Paths.get(path)

  private def logDir(path: String): JPath = localRoot(path).resolve("_graft_log")
  private def dataDir(path: String): JPath = localRoot(path).resolve("data")
  private def dvDir(path: String): JPath = localRoot(path).resolve("dv")
  private def versionFile(path: String, v: Long): JPath =
    logDir(path).resolve(f"v$v%010d.json")

  // -- commit (de)serialization: the log schema is a stable, tiny JSON --

  /** JSON string-escape for every string field the log embeds. User
    * data reaches commit files through several of them — string min/max
    * bounds in stats-in-log, constraint SQL in `constraint:add` ops,
    * recorded schemas — so CONTROL CHARACTERS must escape too: a raw
    * newline inside a bound would write a commit file that is invalid
    * JSON, and every subsequent log read throws, leaving the table
    * permanently unreadable after a routine append. */
  private def esc(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => b.append("\\\\")
        case '"' => b.append("\\\"")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      i += 1
    }
    b.toString
  }

  private def renderAdd(a: TxnAdd): String =
    s"""{"path":"${esc(a.path)}","rows":${a.rows},"bytes":${a.bytes}""" +
      a.stats.map(s => s""","stats":$s""").getOrElse("") + "}"

  private def parseAdd(a: org.json4s.JValue): TxnAdd = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val stats = (a \ "stats") match {
      case o: JObject => Some(JsonMethods.compact(JsonMethods.render(o)))
      case _ => None
    }
    TxnAdd((a \ "path").extract[String], (a \ "rows").extract[Long],
      (a \ "bytes").extract[Long], stats)
  }

  private def render(c: TxnCommit): String = {
    val adds = c.adds.map(renderAdd).mkString("[", ",", "]")
    val removes = c.removes.map(r => s""""${esc(r)}"""").mkString("[", ",", "]")
    val schema = c.schema.map(s => s""","schema":"${esc(s)}"""").getOrElse("")
    val dvs =
      if (c.dvs.isEmpty) ""
      else c.dvs.map { case (f, dv) =>
        s"""{"f":"${esc(f)}","dv":"${esc(dv)}"}"""
      }.mkString(""","dvs":[""", ",", "]")
    s"""{"version":${c.version},"op":"${esc(c.op)}","adds":$adds,"removes":$removes$schema$dvs}"""
  }

  private def parse(json: String): TxnCommit = {
    // parsed with the JSON parser already on Spark's classpath
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(json)
    val adds = (j \ "adds") match {
      case JArray(arr) => arr.map(parseAdd)
      case _ => Nil
    }
    val removes = (j \ "removes") match {
      case JArray(arr) => arr.map(_.extract[String])
      case _ => Nil
    }
    val schema = (j \ "schema") match {
      case JString(s) => Some(s)
      case _ => None
    }
    val dvs = (j \ "dvs") match {
      case JArray(arr) => arr.map(d =>
        ((d \ "f").extract[String], (d \ "dv").extract[String]))
      case _ => Nil
    }
    TxnCommit((j \ "version").extract[Long], (j \ "op").extract[String],
      adds, removes, schema, dvs)
  }

  /** Latest committed version, or -1 for a nonexistent/empty table. */
  def currentVersion(path: String): Long = listLog(path)._1

  /** ONE listing of the log: the head version (-1 for no table) and the
    * checkpoint versions, newest first. */
  private def listLog(path: String): (Long, Seq[Long]) = {
    val ld = logDir(path)
    if (!Files.isDirectory(ld)) return (-1L, Nil)
    val it = Files.list(ld)
    val names =
      try it.iterator().asScala.map(_.getFileName.toString).toVector
      finally it.close()
    def versions(prefix: String): Seq[Long] = names.collect {
      case n if n.startsWith(prefix) && n.endsWith(".json") =>
        n.substring(prefix.length, n.length - 5).toLong
    }
    (versions("v").foldLeft(-1L)(math.max), versions("ckpt-v").sorted.reverse)
  }

  private implicit class JIter[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  /** Write a checkpoint every this-many versions (v10, v20, …). */
  val CheckpointInterval = 10

  /** Physical version-file reads, so a caller can assert the
    * checkpoint-amortized paths replay O(CheckpointInterval) commits
    * per call instead of O(versions). */
  val VersionFileReads: OpMetrics.Key[Long] =
    OpMetrics.Key.counter("version_file_reads")

  /** The single physical read path for version files. */
  private def readCommit(path: String, v: Long): TxnCommit = {
    OpMetrics.add(VersionFileReads)
    parse(new String(Files.readAllBytes(versionFile(path, v)),
      StandardCharsets.UTF_8))
  }

  private def checkpointFile(path: String, v: Long): JPath =
    logDir(path).resolve(f"ckpt-v$v%010d.json")

  /** The resolved state of one table version: everything the log
    * prefix ≤ `version` determines, built by one fold ([[step]], one
    * commit at a time) and shared read-only by every caller.
    *  - `files`: the live data files in log order (checkpoint order,
    *    then suffix order); `live` is the same set, for membership.
    *  - `dvs`: live data file → its current deletion-vector file.
    *  - `schemaGens` / `schema`: how many schemas the prefix recorded,
    *    and the latest one (JSON) — `read`'s mergeSchema decision and
    *    every append's validation.
    *  - `streams`: the highest applied batch id per stream id (the role
    *    of Delta's `txn` action: [[appendStreamBatch]]'s idempotence).
    *  - `constraints` (name → SQL) and `props` (key → value).
    *  - `copySrcs`: the source files a materializing COPY INTO
    *    ingested (its idempotence registry).
    *  - `allAdds`: the first-seen add metadata of every data file the
    *    prefix referenced — [[vacuum]]'s dead-set and [[restore]]'s
    *    re-add list. A checkpoint writes it extant-pruned (a file a
    *    vacuum deleted can never be referenced again), so its size
    *    tracks live plus not-yet-vacuumed files, not table lifetime.
    *  - `horizon`: the oldest version readable as of this one.
    * A checkpoint is this value as JSON ([[renderCheckpoint]]). */
  private[core] case class Snapshot(
      version: Long,
      files: Vector[String],
      live: Set[String],
      dvs: Map[String, String],
      schemaGens: Long,
      schema: Option[String],
      streams: Map[String, Long],
      constraints: Map[String, String],
      props: Map[String, String],
      copySrcs: Set[String],
      allAdds: Map[String, TxnAdd],
      horizon: Long) {
    /** The latest recorded schema, parsed once per snapshot. */
    lazy val recordedSchema: Option[StructType] =
      schema.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** The state before version 0. */
  private[core] val EmptySnapshot = Snapshot(-1L, Vector.empty, Set.empty,
    Map.empty, 0L, None, Map.empty, Map.empty, Map.empty, Set.empty,
    Map.empty, 0L)

  /** `stream:<id>:<batch>[:files:[...]]` op → (id, batch); None for
    * other ops. The optional `:files:` suffix (a JSON array of source
    * paths, written by the COPY INTO … FROM STREAM route) is trimmed
    * before the batch-id parse — it feeds the `copySrcs` registry, not the
    * per-stream high-water. */
  private def parseStreamOp(op: String): Option[(String, Long)] =
    if (!op.startsWith("stream:")) None
    else {
      val rest0 = op.stripPrefix("stream:")
      val fi = rest0.indexOf(":files:[")
      val rest = if (fi >= 0) rest0.take(fi) else rest0
      val i = rest.lastIndexOf(':')
      if (i <= 0) None
      else scala.util.Try((rest.take(i), rest.drop(i + 1).toLong)).toOption
    }

  /** The `:files:` manifest of a stream op, if present. */
  private def parseStreamFilesOp(op: String): Seq[String] =
    if (!op.startsWith("stream:")) Nil
    else {
      val fi = op.indexOf(":files:[")
      if (fi < 0) Nil
      else parseKeysOp(op.drop(fi + ":files:".length))
    }

  /** Apply one commit to the state before it: the ONE fold every
    * snapshot comes from. Files: removes first, then adds not already
    * live go to the end. DVs: a remove or re-add clears, the commit's
    * assignments then win. Add metadata: first seen wins (a path's
    * rows and bytes never change; a restore re-adds by reference). */
  private def step(s: Snapshot, c: TxnCommit): Snapshot = {
    val op = c.op
    def payload(prefix: String): Option[String] =
      if (op.startsWith(prefix)) Some(op.substring(prefix.length)) else None
    val gone = c.removes.toSet
    val live = s.live -- gone
    val fresh = c.adds.map(_.path).distinct.filterNot(live)
    val constraints = payload("constraint:add:") match {
      case Some(rest) if rest.indexOf(':') > 0 =>
        val i = rest.indexOf(':')
        s.constraints.updated(rest.take(i), rest.drop(i + 1))
      case _ => payload("constraint:drop:").fold(s.constraints)(s.constraints - _)
    }
    val props = payload("tblprops:set:").orElse(payload("create:props:"))
      .map(s.props ++ parsePropsOp(_))
      .orElse(payload("tblprops:unset:").map(s.props -- parseKeysOp(_)))
      .getOrElse(s.props)
    val copySrcs = payload("copyinto:csv:").orElse(payload("copyinto:json:"))
      .map(s.copySrcs ++ parseKeysOp(_))
      .orElse(payload("copysrc:prune:").map(s.copySrcs -- parseKeysOp(_)))
      .getOrElse(s.copySrcs ++ parseStreamFilesOp(op))
    Snapshot(
      version = c.version,
      files = (if (gone.isEmpty) s.files else s.files.filterNot(gone)) ++ fresh,
      live = live ++ fresh,
      dvs = s.dvs -- c.removes -- c.adds.map(_.path) ++ c.dvs,
      schemaGens = s.schemaGens + c.schema.size,
      schema = c.schema.orElse(s.schema),
      streams = parseStreamOp(op).fold(s.streams) { case (id, b) =>
        s.streams.updated(id, math.max(b, s.streams.getOrElse(id, b)))
      },
      constraints = constraints,
      props = props,
      copySrcs = copySrcs,
      allAdds = c.adds.foldLeft(s.allAdds)((m, a) =>
        if (m.contains(a.path)) m else m.updated(a.path, a)),
      horizon = payload("vacuum:").fold(s.horizon)(h =>
        math.max(s.horizon, h.toLong)))
  }

  /** `base` advanced one commit at a time to version `upTo`. */
  private[core] def replay(base: Snapshot, path: String, upTo: Long): Snapshot =
    ((base.version + 1) to upTo).foldLeft(base)((s, v) =>
      step(s, readCommit(path, v)))

  /** The highest snapshot resolved so far per table path. Commits are
    * immutable and the log is append-only (vacuum deletes data files,
    * never commits; a rollback is a new commit), so a memoized
    * snapshot stays the true state of its version and any later
    * version is reached by replaying only the commits past it. One
    * entry per path keeps the memory at one snapshot per table;
    * cleared wholesale past a size cap (correctness never depends on a
    * hit). Time-travel reads below the head are not memoized. */
  private val headMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()

  private def remember(path: String, snap: Snapshot): Unit = {
    if (headMemo.size > 1024) headMemo.clear()
    headMemo.merge(path, snap, (old, now) =>
      if (old.version > now.version) old else now)
  }

  /** Resolve version `asOf` (the head when negative) of `path`; None
    * when no table lives there and no version was asked for. ONE
    * listing of the log gives the head and the checkpoint versions,
    * and the version checks run on it before any commit is read. The
    * replay starts from the nearest of: the memoized snapshot (if at
    * or below the target), the newest readable checkpoint above it
    * (a corrupt or old-format one is counted and the next older one
    * tried), or the empty table. */
  private def resolve(path: String, asOf: Long): Option[Snapshot] = {
    val (top, ckpts) = listLog(path)
    if (top < 0 && asOf < 0) return None
    require(top >= 0, s"not a TxnTable: $path")
    val v = if (asOf < 0) top else asOf
    require(v <= top, s"version $v does not exist (latest $top)")
    val memo = Option(headMemo.get(path)).filter(_.version <= v)
    val from = memo.fold(-1L)(_.version)
    val base = ckpts.iterator.filter(c => c <= v && c > from)
      .map(readCheckpoint(path, _)).collectFirst { case Some(s) => s }
      .orElse(memo).getOrElse(EmptySnapshot)
    val snap = replay(base, path, v)
    if (v == top) remember(path, snap)
    Some(snap)
  }

  /** The snapshot at `asOf` (the head when negative). */
  private[core] def snapshot(path: String, asOf: Long = -1L): Snapshot = {
    val s = resolve(path, asOf)
    require(s.isDefined, s"not a TxnTable: $path")
    s.get
  }

  /** The head snapshot, or None when no table lives at `path`. */
  private def head(path: String): Option[Snapshot] = resolve(path, -1L)

  /** Test seam: invoked between the version read and the tryCommit of
    * every retrying writer (append / restore / appendStreamBatch /
    * vacuum) and before every commit attempt of the rewrite writers
    * (deleteWhere / merge / compact / compactClustered / overwrite,
    * which rebase past commutable interleaved commits and abort to the
    * caller on a true logical conflict — see [[commitRewrite]]),
    * letting specs deterministically interleave a concurrent commit
    * into the race window. No-op in production. */
  private[graft] var preCommitHook: () => Unit = () => ()

  /** Test seam: invoked by the metadata-only aggregates (countRange /
    * minMaxOf) AFTER the snapshot version is resolved and BEFORE the
    * scan half runs, letting specs interleave a concurrent commit into
    * the window and pin that both halves answer at the SAME resolved
    * snapshot. No-op in production. */
  private[graft] var midReadHook: () => Unit = () => ()

  /** Test seam: invoked by [[convertParquet]] AFTER the directory
    * listing and schema read and BEFORE the distributed footer
    * harvest, letting specs deterministically vanish a listed file
    * into the harvest window (the race the loud-failure contract
    * covers). No-op in production. */
  private[graft] var convertHarvestHook: () => Unit = () => ()

  // Scoped commit tagging for multi-table write groups: every commit
  // made inside `withOpTag(tag) { ... }` has `tag` PREFIXED onto its
  // op, so [[TxnGroup]]'s rollback can prove (op.startsWith(tag)) that
  // a commit above a table's pre-group version belongs to the group —
  // without threading an op parameter through every write verb. The
  // fence below restricts tagged commits to PLAIN (colon-free) DML
  // ops: maintenance/metadata ops carry parsed `verb:payload` shapes
  // (constraint:/tblprops:/stream:/…) whose folds key on the prefix,
  // so tagging one would corrupt its parse — a group step must not
  // make such commits in the first place.
  private val opTag = new scala.util.DynamicVariable[String]("")

  /** Prefix every commit op inside `body` with `tag` (driver-side,
    * nesting refused by [[TxnGroup]] — see the fence there). */
  def withOpTag[T](tag: String)(body: => T): T = opTag.withValue(tag)(body)

  /** The active group tag, if `body` runs inside [[withOpTag]]. */
  def activeOpTag: Option[String] =
    Option(opTag.value).filter(_.nonEmpty)

  /** Publish `commit` as exactly version `commit.version`.
    * @throws TxnConflictException if that version already exists. */
  def tryCommit(path: String, commit0: TxnCommit): Unit = {
    val commit = activeOpTag match {
      case None => commit0
      case Some(tag) =>
        require(!commit0.op.contains(':'),
          s"a write-group step may only make plain DML commits " +
            s"(append/overwrite/update/delete/merge and their MOR " +
            s"twins), got '${commit0.op}' — run maintenance and DDL " +
            "outside the group")
        commit0.copy(op = tag + commit0.op)
    }
    Files.createDirectories(logDir(path))
    // create-exclusive through the Store seam: losing the race IS the
    // version-conflict signal
    if (!Store.putIfAbsent(versionFile(path, commit.version),
        render(commit).getBytes(StandardCharsets.UTF_8)))
      throw new TxnConflictException(commit.version)
    // A version-0 commit is a table BIRTH: if a table previously lived
    // at this path in this JVM (deleted externally, then recreated),
    // the memoized snapshot belongs to the dead table — drop it, or
    // reads of the new table would bind the stale state.
    if (commit.version == 0L) headMemo.remove(path)
    // Checkpoint: only the winner of version V reaches here, so there
    // is exactly one writer; the content is deterministic from the log
    // prefix, so a torn/failed write is safe (readers fall back to an
    // older checkpoint). Never let checkpoint failure fail the commit.
    if (commit.version > 0 && commit.version % CheckpointInterval == 0) {
      try {
        val snap = snapshot(path, commit.version)
        // Extant-pruned: adds whose data file a vacuum already deleted
        // are dropped (they can never be restored or vacuumed again),
        // so the field's size tracks live + not-yet-vacuumed files, not
        // table lifetime. The existence probe is O(entries) metadata,
        // paid only at checkpoint cadence.
        val ck = snap.copy(allAdds = snap.allAdds.filter { case (f, _) =>
          Store.exists(localRoot(path).resolve(f)) })
        // derived state: overwrite-OK atomic publish via the seam
        Store.putAtomic(checkpointFile(path, commit.version),
          renderCheckpoint(ck).getBytes(StandardCharsets.UTF_8))
        remember(path, ck)
      } catch { case NonFatal(_) => () }
    }
  }

  /** Corrupt or old-format checkpoints a resolution skipped: each one
    * costs a replay from the next older checkpoint (or from v0)
    * instead of failing the read, and is counted here so the cost
    * never hides. */
  val CheckpointFallbacks: OpMetrics.Key[Long] =
    OpMetrics.Key.counter("checkpoint_fallbacks")

  /** The checkpoint at version `v` as a [[Snapshot]], or None — counted
    * in [[CheckpointFallbacks]] — when it does not parse or lacks any
    * field (written by older code). jackson ignores trailing garbage
    * after a parseable prefix, so a truncated checkpoint that still
    * parses is caught by its missing fields, never read as empty. */
  private[core] def readCheckpoint(path: String, v: Long): Option[Snapshot] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    def strs(arr: List[JValue]) = arr.map(_.extract[String])
    def strMap(fs: List[JField]) =
      fs.map { case (k, x) => k -> x.extract[String] }.toMap
    val ck =
      try {
        val j = JsonMethods.parse(new String(
          Files.readAllBytes(checkpointFile(path, v)), StandardCharsets.UTF_8))
        (j \ "files", j \ "horizon", j \ "schemaGens", j \ "streams",
            j \ "allAdds", j \ "dvs", j \ "constraints", j \ "props",
            j \ "copySrcs") match {
          case (JArray(files), JInt(horizon), JInt(gens), JObject(streams),
              JArray(adds), JObject(dvs), JObject(cons), JObject(props),
              JArray(srcs)) =>
            val fs = strs(files).toVector
            Some(Snapshot(v, fs, fs.toSet, strMap(dvs), gens.toLong,
              (j \ "schema") match { case JString(s) => Some(s); case _ => None },
              streams.map { case (k, b) => k -> b.extract[Long] }.toMap,
              strMap(cons), strMap(props), strs(srcs).toSet,
              adds.map(parseAdd).map(a => a.path -> a).toMap, horizon.toLong))
          case _ => None
        }
      } catch { case NonFatal(_) => None }
    if (ck.isEmpty) OpMetrics.add(CheckpointFallbacks)
    ck
  }

  /** A snapshot as checkpoint JSON: the fields [[readCheckpoint]]
    * parses, in a fixed order, maps and lists sorted so the content is
    * deterministic from the log prefix. */
  private def renderCheckpoint(snap: Snapshot): String = {
    def obj(m: Map[String, String]): String = m.toSeq.sortBy(_._1)
      .map { case (k, x) => s""""${esc(k)}":"${esc(x)}"""" }
      .mkString("{", ",", "}")
    def arr(xs: Seq[String]): String =
      xs.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")
    s"""{"version":${snap.version},"horizon":${snap.horizon},""" +
      s""""schemaGens":${snap.schemaGens},""" +
      snap.schema.map(js => s""""schema":"${esc(js)}",""").getOrElse("") +
      s""""constraints":${obj(snap.constraints)},""" +
      s""""props":${obj(snap.props)},""" +
      s""""copySrcs":${arr(snap.copySrcs.toSeq.sorted)},""" +
      s""""dvs":${obj(snap.dvs)},""" +
      s""""streams":""" + snap.streams.toSeq.sortBy(_._1)
        .map { case (k, b) => s""""${esc(k)}":$b""" }
        .mkString("{", ",", "}") +
      s""","allAdds":""" + snap.allAdds.values.toSeq.sortBy(_.path)
        .map(renderAdd).mkString("[", ",", "]") +
      s""","files":${arr(snap.files)}}"""
  }

  /** One commit by version — O(1), for callers walking the log
    * backward (e.g. "find the last commit whose op matches") who must
    * not pay [[commits]]' full-prefix read. */
  def commitInfo(path: String, version: Long): TxnCommit =
    readCommit(path, version)

  /** All commits with version ≤ asOf (or all, if asOf < 0), in order. */
  def commits(path: String, asOf: Long = -1L): Seq[TxnCommit] = {
    val top = currentVersion(path)
    require(top >= 0, s"not a TxnTable: $path")
    val upTo = if (asOf < 0) top else asOf
    require(upTo <= top, s"version $upTo does not exist (latest $top)")
    (0L to upTo).map(readCommit(path, _))
  }

  /** The live data files of a snapshot, in log order. */
  def snapshotFiles(path: String, asOf: Long = -1L): Seq[String] =
    snapshot(path, asOf).files

  /** The DELETION-VECTOR map of a snapshot: live data file → its
    * current DV file (absent = no deleted positions). A remove or
    * re-add clears a file's DV and a commit's `dvs` entries (re)assign;
    * within one commit the assignments win, so [[restore]] can re-add
    * a file and restore its DV in the same commit. */
  def snapshotDvs(path: String, asOf: Long = -1L): Map[String, String] =
    snapshot(path, asOf).dvs

  /** Write df's rows as fresh immutable part files; returns their adds.
    * Rows per file are counted from the parquet footers the write
    * produced (no second scan).
    */
  private def writeData(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      partitions: Int): Seq[TxnAdd] =
    writeDataPrepared(spark, path, df.repartition(partitions))

  /** Physical data-write jobs (every staged tranche comes through
    * writeDataPrepared), so a caller can assert a REBASED rewrite
    * committed without re-running its rewrite job. */
  val DataWriteJobs: OpMetrics.Key[Long] =
    OpMetrics.Key.counter("data_write_jobs")

  /** Test seam: suppresses write-time stats-in-log (simulating adds
    * written before the feature) so specs can pin the mixed-generation
    * footer fallback. Row counts are still footer-derived either way. */
  private[graft] var collectWriteStats = true

  /** Like writeData but trusts the frame's existing partitioning/sort —
    * the seam clustered layouts (compactClustered) come through, where a
    * blind repartition would destroy the ordering being written. */
  private def writeDataPrepared(
      spark: SparkSession,
      path: String,
      df: DataFrame): Seq[TxnAdd] = {
    OpMetrics.add(DataWriteJobs)
    val staging = Files.createTempDirectory("graft_txn_stage").toString
    // column mapping: files always store PHYSICAL names — the single
    // write-side seam (no-op on unrenamed tables / first writes)
    val physical = currentSchema(path)
      .map(toPhysical(df, _)).getOrElse(df)
    physical.write.mode("overwrite").parquet(staging)
    Files.createDirectories(dataDir(path))
    val conf = spark.sparkContext.hadoopConfiguration
    val staged = Files.list(Paths.get(staging)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    OpMetrics.add(graft.crawler.SkippingIndex.FooterReads, staged.size)
    staged.map { src =>
      // ONE footer read per fresh file, at write time: row count for
      // the add (no second data scan) + the column min/max cache
      // that lets pruned reads plan from the log alone (stats-in-log)
      val st = graft.crawler.SkippingIndex.fileStats(conf, src.toString)
      val name = s"part-${java.util.UUID.randomUUID()}.parquet"
      val dst = dataDir(path).resolve(name)
      Files.move(src, dst)
      val statsJ =
        if (collectWriteStats) st.map(statsJson) else None
      TxnAdd(s"data/$name", st.map(_.rows).getOrElse(0L),
        Files.size(dst), statsJ)
    }
  }

  /** Longest stored string bound for stats-in-log (UTF-8 bytes): a
    * longer bound is DROPPED (column conservatively unprunable from
    * the log for this file) rather than truncated — a truncated max
    * smaller than a real value would wrongly skip the file. A limit of
    * the log format only: footer stats keep their full bounds. */
  val MaxLoggedStringBound = 96

  /** The commit-log encoding of one file's footer stats. */
  private def statsJson(st: FileStats): String = {
    val c = st.cols.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")
    val l = st.longs.toSeq.sortBy(_._1).map { case (k, (mn, mx)) =>
      s""""${esc(k)}":[$mn,$mx]"""
    }.mkString("{", ",", "}")
    def fits(b: String) =
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <=
        MaxLoggedStringBound
    val s = st.strings.toSeq.sortBy(_._1)
      .filter { case (_, (mn, mx)) => fits(mn) && fits(mx) }
      .map { case (k, (mn, mx)) =>
        s""""${esc(k)}":["${esc(mn)}","${esc(mx)}"]"""
      }.mkString("{", ",", "}")
    // "n": exact per-column null counts — present only when every row
    // group set them; upgrades bounds from pruning hints to an exact
    // metadata-only COUNT source (countRange)
    val n = st.nulls.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${esc(k)}":$v"""
    }.mkString("{", ",", "}")
    s"""{"cols":$c,"l":$l,"s":$s,"n":$n}"""
  }

  /** An add's logged stats in the footer-stats shape (rows from the
    * add); None when it carries none or they are malformed — the
    * pruned read then falls back to the footer. */
  private def parseAddStats(a: TxnAdd): Option[FileStats] =
    a.stats.flatMap { json =>
      try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        implicit val fmts: Formats = DefaultFormats
        val j = JsonMethods.parse(json)
        val cols = (j \ "cols") match {
          case JArray(arr) => Some(arr.map(_.extract[String]))
          case _ => None
        }
        val l = (j \ "l") match {
          case JObject(fields) => fields.map { case (k, v) =>
            val b = v.extract[Seq[Long]]; k -> (b(0), b(1))
          }.toMap
          case _ => Map.empty[String, (Long, Long)]
        }
        val s = (j \ "s") match {
          case JObject(fields) => fields.map { case (k, v) =>
            val b = v.extract[Seq[String]]; k -> (b(0), b(1))
          }.toMap
          case _ => Map.empty[String, (String, String)]
        }
        // absent in pre-round-13 logs → empty map (bounds still prune;
        // only the metadata-only COUNT path needs null counts)
        val n = (j \ "n") match {
          case JObject(fields) => fields.map { case (k, v) =>
            k -> v.extract[Long]
          }.toMap
          case _ => Map.empty[String, Long]
        }
        cols.map(FileStats(a.rows, _, l, s, n))
      } catch { case NonFatal(_) => None } // malformed → footer fallback
    }

  class SchemaMismatchException(msg: String) extends RuntimeException(msg)

  /** Reader for the RAW snapshot-file reads the rewrite paths do
    * (deleteWhere / merge / compact): pinned to the latest RECORDED
    * schema, so a rewrite of a schema-evolved table reads old-generation
    * files with the evolved shape (missing columns null-filled) instead
    * of whatever single footer parquet inference happens to pick —
    * survivor rows can never silently lose evolved columns. Tables
    * created before schemas were recorded (none in practice: create
    * always records one) fall back to plain inference.
    */
  private def snapshotReader(spark: SparkSession,
      snap: Snapshot): org.apache.spark.sql.DataFrameReader =
    snap.recordedSchema match {
      // bind by PHYSICAL names — files always store physical; a renamed
      // logical name would silently read all-NULL
      case Some(s) => spark.read.schema(physicalSchema(s))
      case None => spark.read
    }

  // -- column mapping (ALTER TABLE RENAME COLUMN) --------------------------
  //
  // A rename is metadata-only: the field keeps its STABLE physical name
  // (the name it was first written under — files are never rewritten)
  // and the recorded schema carries the logical name plus a
  // `graft.physical` metadata key. Every raw parquet scan binds the
  // physical schema and is aliased back to logical names in ONE place
  // (the tail of [[applyDv]], which every read path flows through);
  // every data write renames logical → physical in ONE place
  // ([[writeDataPrepared]]). Stats-in-log keys are physical
  // (written from physical files), so stat lookups translate the
  // caller's logical column first. Unrenamed tables have no mapping and
  // every helper is an exact no-op.

  private val PhysicalKey = "graft.physical"

  private def physicalFieldName(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private def hasMapping(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(_.metadata.contains(PhysicalKey))

  /** The schema as stored IN FILES: physical names, metadata stripped. */
  private def physicalSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        physicalFieldName(f), f.dataType, f.nullable)))

  /** Logical column name → the physical name stats/files use. */
  private def physicalColName(snap: Snapshot, logical: String): String =
    snap.recordedSchema
      .flatMap(_.fields.find(_.name.equalsIgnoreCase(logical)))
      .map(physicalFieldName).getOrElse(logical)

  /** Rename via ONE simultaneous projection — never
    * `withColumnsRenamed`, which applies entries one-by-one: with a
    * swap-shaped mapping (field A's new name = field B's old name,
    * e.g. RENAME v→value + a fresh `v` added later) the sequential
    * renames collide into duplicate columns. A single aliased select
    * maps every column exactly once. */
  private def renameAll(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty) df
    else df.select(df.columns.map(c =>
      col(s"`$c`").as(m.getOrElse(c.toLowerCase, c))).toSeq: _*)

  private def toLogical(df: DataFrame,
      s: org.apache.spark.sql.types.StructType): DataFrame =
    if (!hasMapping(s)) df
    else renameAll(df,
      s.fields.filter(_.metadata.contains(PhysicalKey))
        .map(f => physicalFieldName(f).toLowerCase -> f.name).toMap)

  private def toPhysical(df: DataFrame,
      s: org.apache.spark.sql.types.StructType): DataFrame =
    if (!hasMapping(s)) df
    else renameAll(df,
      s.fields.filter(_.metadata.contains(PhysicalKey))
        .map(f => f.name.toLowerCase -> physicalFieldName(f)).toMap)

  /** Every PHYSICAL column name (lowercased) that may exist in the
    * table's data files: the current schema's physical names, the
    * physical names of every schema recorded in the readable log
    * prefix (covers dropped columns whose bytes still sit in live
    * files), and the column sets logged with each live file's
    * write-time stats (covers pre-horizon eras the log no longer
    * replays). Used by [[checkSchema]]'s evolution path to refuse a
    * new logical name that would re-bind old bytes — O(versions)
    * driver metadata on the rare evolve path only. */
  private def physicalNamesInUse(path: String, snap: Snapshot): Set[String] = {
    def phys(s: org.apache.spark.sql.types.StructType): Seq[String] =
      s.fields.toSeq.map(f => physicalFieldName(f).toLowerCase)
    val hist = (snap.horizon to snap.version).flatMap { v =>
      readCommit(path, v).schema.toSeq.flatMap(js =>
        phys(org.apache.spark.sql.types.DataType.fromJson(js)
          .asInstanceOf[org.apache.spark.sql.types.StructType]))
    }
    val logged = snap.allAdds.values.flatMap(parseAddStats)
      .flatMap(_.cols.map(_.toLowerCase))
    (snap.recordedSchema.toSeq.flatMap(phys) ++ hist ++ logged).toSet
  }

  /** The name a parquet scan reports for snapshot file `f` (table-relative
    * or absolute): the last segment of its URI, URL-encoded the way
    * `_metadata.file_path` gives it (`part a+b.parquet` scans as
    * `part%20a+b.parquet`). DV rows and the `__fname` column carry this
    * form. */
  private def scanName(path: String, f: String): String =
    new org.apache.hadoop.fs.Path(localRoot(path).resolve(f).toString)
      .toUri.getRawPath.split('/').last

  /** Whether `scan` is a file scan exposing the `_metadata` column (the
    * zero-file substitute of [[snapshotScan]] is not). */
  private def hasFileMetadata(scan: DataFrame): Boolean =
    scan.queryExecution.analyzed.metadataOutput.exists(_.name == "_metadata")

  /** `scan` with each row's data-file scan name (`__fname`) and row
    * position (`__pos`), both read from the file source's `_metadata`
    * column. Both are deterministic (Spark's per-row file-name function
    * is not, and Catalyst pushes no filter below it), so a filter above
    * the tag still pushes into the parquet scan. A frame with no file
    * metadata gets constant columns. */
  private def withFilePos(scan: DataFrame): DataFrame =
    if (hasFileMetadata(scan))
      scan.select(col("*"),
        substring_index(col("_metadata.file_path"), "/", -1).as("__fname"),
        col("_metadata.row_index").as("__pos"))
    else scan.select(col("*"), lit("").as("__fname"), lit(0L).as("__pos"))

  /** True for a row of `file` (a path or a scan name) at position `pos`
    * that no `deleted` set holds: a deterministic UDF over the per-file
    * position sets, which ride the task closure — no join, no DV scan,
    * no job. */
  private def notDeleted(deleted: Map[String, Roaring64Bitmap])(
      file: Column, pos: Column): Column = {
    val isDeleted = udf((f: String, p: Long) =>
      deleted.get(f.substring(f.lastIndexOf('/') + 1)).exists(_.contains(p)))
    !isDeleted.withName("dv_deleted")(file, pos)
  }

  /** Raw scans bind PHYSICAL names; alias back to the snapshot's logical
    * names — the column-mapping seam every read path flows through. */
  private def logicalAt(snap: Snapshot, df: DataFrame): DataFrame =
    snap.recordedSchema.map(toLogical(df, _)).getOrElse(df)

  /** Live rows of a raw scan of snapshot `asOf`'s files, tagged by
    * [[withFilePos]] (the bookkeeping columns pass through the logical
    * renaming), minus the rows whose position is in their file's
    * `deleted` set. */
  private def liveTagged(snap: Snapshot, scan: DataFrame,
      deleted: Map[String, Roaring64Bitmap]): DataFrame = {
    val tagged = withFilePos(scan)
    logicalAt(snap,
      if (deleted.isEmpty) tagged
      else tagged.filter(notDeleted(deleted)(col("__fname"), col("__pos"))))
  }

  /** Apply a snapshot's DELETION VECTORS to a raw parquet scan of (a
    * subset of) its files. A snapshot with no DVs returns the scan
    * untouched — ZERO plan overhead on the common path; otherwise the
    * scan is filtered by [[notDeleted]] on its `_metadata`, so a filter
    * above still pushes down. Each file's positions come from its own
    * current DV file ([[deletedAt]]), loaded once per JVM on the
    * driver. `keepFname` returns the frame with `__fname` attached
    * ([[liveTagged]]) for the rewrite paths. */
  private def applyDv(spark: SparkSession, path: String, snap: Snapshot,
      scan: DataFrame, keepFname: Boolean): DataFrame = {
    val dvm = snap.dvs
    if (keepFname)
      liveTagged(snap, scan, deletedAt(spark, path, dvm)).drop("__pos")
    else if (dvm.isEmpty || !hasFileMetadata(scan)) logicalAt(snap, scan)
    else logicalAt(snap, scan.filter(notDeleted(deletedAt(spark, path,
      dvm))(col("_metadata.file_path"), col("_metadata.row_index"))))
  }

  /** The DV sidecar schema: one row per deleted (data file scan name,
    * row position). */
  private val DvSchema = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  /** Deleted positions per DV file, keyed by the DV file's absolute
    * path: scan name → positions. DV files are immutable and UUID-named
    * (the property [[headMemo]] relies on for commit files), so an
    * entry is a pure function of its key and each DV file is read at
    * most once per JVM. Bounded: cleared wholesale past a size cap
    * (correctness never depends on a hit). Entries are shared and never
    * mutated. */
  private val dvPositionsMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Roaring64Bitmap]]()

  /** The rows of one DV file, read on the driver with parquet-hadoop
    * (no Spark job), memoized by [[dvPositionsMemo]]. */
  private def dvPositions(conf: org.apache.hadoop.conf.Configuration,
      abs: String): Map[String, Roaring64Bitmap] = {
    val hit = dvPositionsMemo.get(abs)
    if (hit != null) return hit
    val acc = scala.collection.mutable.HashMap.empty[String, Roaring64Bitmap]
    val reader = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(abs)).withConf(conf).build()
    try {
      var g = reader.read()
      while (g != null) {
        acc.getOrElseUpdate(g.getString("file", 0), new Roaring64Bitmap)
          .addLong(g.getLong("pos", 0))
        g = reader.read()
      }
    } finally reader.close()
    acc.valuesIterator.foreach(_.runOptimize())
    val m = acc.toMap
    if (dvPositionsMemo.size() > 10000) dvPositionsMemo.clear()
    dvPositionsMemo.put(abs, m)
    m
  }

  /** Deleted positions of a snapshot's DV'd files (`dvm`, from
    * [[snapshotDvs]]), by scan name. Each file takes the positions of
    * its own current DV file only: DVs are cumulative per file, so that
    * one set is exact. */
  private def deletedAt(spark: SparkSession, path: String,
      dvm: Map[String, String]): Map[String, Roaring64Bitmap] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dvm.flatMap { case (f, dv) =>
      val n = scanName(path, f)
      dvPositions(conf, localRoot(path).resolve(dv).toString).get(n)
        .map(n -> _)
    }
  }

  /** Delete the staged-but-never-committed data files (and DV file) of
    * an aborted or empty write. writeData moves fresh files into data/
    * BEFORE the commit loop, and vacuum only ever deletes files some
    * commit referenced — so an abort (schema mismatch discovered on
    * retry, a single-shot writer losing its race, an exhausted retry
    * budget) must clean up its own staging or the files leak forever.
    * Only called with files this writer created itself; restore/vacuum
    * re-reference existing files and never come through here. */
  private def cleanupStaged(path: String, adds: Seq[TxnAdd],
      dvFile: Option[String] = None): Unit =
    (adds.map(_.path) ++ dvFile).foreach(f =>
      try Files.deleteIfExists(localRoot(path).resolve(f))
      catch { case NonFatal(_) => () })

  /** Write-then-drop: the adds of a write that may have produced no
    * rows, minus its zero-row files (deleted, never committed). Cheaper
    * than an `isEmpty` job before the write, which would run the
    * frame's plan once more. Row counts are footer-read, so 0 is exact. */
  private def dropEmpty(path: String, adds: Seq[TxnAdd]): Seq[TxnAdd] = {
    val (empty, kept) = adds.partition(_.rows == 0)
    cleanupStaged(path, empty)
    kept
  }

  /** The distinct strings of a one-column frame of file names, collected
    * to the driver ONCE. Metadata-sized: bounded by the snapshot's file
    * count, like the commit's `removes` list built from it. Each
    * partition dedups locally before the collect, so it is one job with
    * no shuffle stage. */
  private def fileNames(names: DataFrame): Set[String] =
    names.rdd.mapPartitions(_.map(_.getString(0)).toSet.iterator)
      .collect().toSet

  /** Live rows (logical names, DVs applied) of `rels`, table-relative
    * files of `snap`: all of them for a DML probe, or the
    * subset a rewrite reads (a statement's hit files, a compaction's
    * candidates). */
  private def scanFiles(spark: SparkSession, path: String, snap: Snapshot,
      rels: Seq[String], keepFname: Boolean): DataFrame =
    applyDv(spark, path, snap, snapshotScan(spark, path, snap,
      rels.map(f => localRoot(path).resolve(f).toString)), keepFname)

  /** The snapshot files whose scan name is in `hitNames` (UUID file
    * names are a complete key; the last-segment comparison works for
    * own-root relative paths AND a shallow clone's absolute source
    * references alike). */
  private def hitFiles(path: String, files: Seq[String],
      hitNames: Set[String]): Seq[String] =
    files.filter(f => hitNames.contains(scanName(path, f)))

  /** How a rewrite commit may REBASE past commits that landed between
    * its snapshot read and its tryCommit (the Delta-style logical
    * conflict check). Without rebase, always-on ingest starves
    * maintenance: a compaction that takes longer than one streaming
    * micro-batch loses the CAS race to the stream's next commit every
    * time and redoes the whole rewrite job from scratch. */
  private sealed trait RebasePolicy
  /** Never rebase — CAS writers whose INPUT ROWS were derived from the
    * base snapshot (appendCas, merge with expectedBase): committing
    * them over anything newer could encode stale derivations. */
  private case object NoRebase extends RebasePolicy
  /** Rebase iff no interleaved commit removed any of THIS rewrite's
    * removes. An append (or any commit touching disjoint files)
    * commutes: the rewrite's removes are still live at the new head,
    * its adds carry exactly their replacement rows, so re-committing
    * the SAME adds/removes at the new version preserves every
    * interleaved writer's data. A true overlap (someone rewrote or
    * deleted one of our source files) still aborts — our adds were
    * computed from rows that no longer stand. This is WriteSerializable
    * isolation (Delta's default): a rebased deleteWhere/merge applies
    * its predicate to the snapshot it READ; rows appended concurrently
    * are not re-filtered. An interleaved commit that RECORDS A SCHEMA
    * (evolution) aborts the rebase even without file overlap — our
    * staged files carry the pre-evolution shape (the
    * ConcurrentMetadataChange rule). */
  private case object CommuteNonOverlapping extends RebasePolicy
  /** Rebase only past commits that changed NO files (vacuum and other
    * metadata-only commits). INSERT OVERWRITE replaces the table's
    * whole logical content, so it must NOT commute with an interleaved
    * append — the overwrite would need to remove the appended files
    * too, which its recorded removes (resolved at base) do not cover. */
  private case object CommuteMetadataOnly extends RebasePolicy

  /** Publish a rewrite commit at `base + 1`, rebasing past commutable
    * interleaved commits per `policy` — the SAME adds/removes re-commit
    * at the new head WITHOUT re-running the rewrite job (the whole
    * point: the loser's work is metadata-rebased, not redone). Returns
    * the committed version; throws [[TxnConflictException]] on a true
    * logical conflict (callers clean their staged adds). */
  private def commitRewrite(path: String, base: Long, op: String,
      adds: Seq[TxnAdd], removes: Seq[String], policy: RebasePolicy,
      schema: Option[String] = None, maxRebases: Int = 20): Long = {
    val myRemoves = removes.toSet
    var v = base + 1
    var attempt = 0
    while (true) {
      preCommitHook()
      try {
        tryCommit(path, TxnCommit(v, op, adds, removes, schema))
        return v
      } catch {
        case e: TxnConflictException =>
          if (attempt >= maxRebases) throw e
          val cur = currentVersion(path)
          val commutes = policy match {
            case NoRebase => false
            case CommuteNonOverlapping =>
              (v to cur).forall { iv =>
                val c = readCommit(path, iv)
                // a schema-recording commit (evolution) never commutes:
                // our adds were written under the PRE-evolution shape,
                // and rebasing them past it would commit old-shape
                // files as if they post-dated the new schema — mirror
                // the reference lake formats' ConcurrentMetadataChange
                // rule and abort regardless of file overlap
                // a DV assignment on one of OUR removes also conflicts:
                // our adds were computed from the pre-DV rows, so
                // rebasing past it would resurrect the DV-deleted rows
                // a constraint:add/:drop is a metadata change like a
                // schema evolution: our adds were validated (withChecks)
                // against the constraint set at OUR base, so rebasing
                // past a fresh CHECK could commit rows it never saw —
                // abort and let the caller re-run under the new rules
                // an interleaved commit that RE-ADDS one of our removes
                // (restore) also conflicts: the re-add resets that
                // file's DV/content state, so our adds — computed from
                // the pre-restore snapshot — would silently undo it
                c.schema.isEmpty &&
                  !c.op.startsWith("constraint:") &&
                  !c.removes.exists(myRemoves.contains) &&
                  !c.dvs.exists(d => myRemoves.contains(d._1)) &&
                  !c.adds.exists(a => myRemoves.contains(a.path))
              }
            case CommuteMetadataOnly =>
              (v to cur).forall { iv =>
                val c = readCommit(path, iv)
                // a DV delete changes logical content like an append —
                // an overwrite must not silently swallow it. A
                // schema-recording commit (ALTER/evolution) or a
                // constraint:add/:drop is a metadata change the staged
                // overwrite never saw: its files carry the pre-ALTER
                // shape and were validated against the pre-change
                // constraint set — abort, mirroring
                // CommuteNonOverlapping's ConcurrentMetadataChange rule
                // (rebasing past a fresh CHECK would commit rows it
                // never validated).
                c.adds.isEmpty && c.removes.isEmpty && c.dvs.isEmpty &&
                  c.schema.isEmpty && !c.op.startsWith("constraint:")
              }
          }
          if (!commutes) throw e
          attempt += 1
          v = cur + 1
      }
    }
    -1L // unreachable
  }

  /** The table schema as of the latest commit that recorded one
    * (create + explicit evolutions): the head snapshot's. */
  def currentSchema(path: String)
      : Option[org.apache.spark.sql.types.StructType] =
    head(path).flatMap(_.recordedSchema)

  /** Validate an incoming write's schema; returns the schema to record
    * in the commit (on create/evolution, or when a nullability-LOOSER
    * writer auto-evolves the recorded schema to nullable — the
    * asymmetric direction: stricter writers record nothing) or None
    * (unchanged). Validate-only callers that discard the result accept
    * the loosening without recording it; that is sound here because
    * every file-backed read forces asNullable (Spark file sources do,
    * and the zero-file path does explicitly) — recording where the
    * caller commits a schema just keeps the metadata honest.
    * @throws SchemaMismatchException on drift without evolveSchema. */
  private def checkSchema(path: String, df: DataFrame,
      evolveSchema: Boolean): Option[String] = {
    import org.apache.spark.sql.types._
    // nullability/metadata are NORMALIZED out of the NAME+TYPE match
    // (sig keys on name+type only) — but nullability itself is then
    // reconciled ASYMMETRICALLY below: a writer stricter than the
    // recorded schema is safe as-is, while a writer LOOSER anywhere
    // (top-level or nested) auto-evolves the recorded schema to
    // nullable. Accepting a looser writer without evolving would let
    // pinned readers bind nullable=false over parquet files that
    // really contain nulls — Spark trusts declared nullability, so
    // that is wrong results or codegen NPEs, not a style nit.
    def norm(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, norm(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(norm(et), containsNull = true)
      case MapType(k, v, _) =>
        MapType(norm(k), norm(v), valueContainsNull = true)
      case other => other
    }
    def sig(s: StructType) =
      s.fields.map(f => (f.name, norm(f.dataType))).toSeq
    // The recorded type with nullability relaxed wherever the writer
    // is looser (names/types already matched by sig, case-sensitive,
    // so positional find-by-name is total here). Metadata — including
    // column-mapping physical names — rides on the recorded side.
    def relax(rec: DataType, w: DataType): DataType = (rec, w) match {
      case (rs: StructType, ws: StructType) =>
        StructType(rs.fields.map { rf =>
          ws.fields.find(_.name == rf.name) match {
            case Some(wf) => rf.copy(
              dataType = relax(rf.dataType, wf.dataType),
              nullable = rf.nullable || wf.nullable)
            case None => rf
          }
        })
      case (ArrayType(re, rn), ArrayType(we, wn)) =>
        ArrayType(relax(re, we), rn || wn)
      case (MapType(rk, rv, rn), MapType(wk, wv, wn)) =>
        MapType(relax(rk, wk), relax(rv, wv), rn || wn)
      case _ => rec
    }
    currentSchema(path) match {
      case Some(cur) if sig(cur) == sig(df.schema) =>
        val relaxed = relax(cur, df.schema).asInstanceOf[StructType]
        if (relaxed == cur) None else Some(relaxed.json)
      case Some(cur) if !evolveSchema =>
        throw new SchemaMismatchException(
          s"append schema ${df.schema.simpleString} does not match table " +
            s"schema ${cur.simpleString}; pass evolveSchema=true to evolve")
      case cur =>
        // Evolution binds a NEW column's logical name as its physical
        // name (the data files of this very append already store it
        // that way — they are written from the pre-evolution mapping).
        // That name must therefore collide with NO physical name the
        // table's files may already contain: after RENAME a→b an
        // evolve-append carrying `a` would put two physical `a` fields
        // in the schema (every read fails), and after DROP s one
        // carrying `s` would re-bind the dropped bytes (deleted data
        // resurrects). Reject loudly — ADD COLUMNS remaps to a fresh
        // physical name and is always safe.
        cur.foreach { c =>
          val existing = c.fieldNames.map(_.toLowerCase).toSet
          val fresh = df.schema.fieldNames
            .filterNot(n => existing(n.toLowerCase))
          if (fresh.nonEmpty) {
            val inUse = physicalNamesInUse(path, snapshot(path))
            val clash = fresh.filter(n => inUse(n.toLowerCase))
            require(clash.isEmpty,
              s"schema evolution: ${clash.mkString(", ")} collides with " +
                "a physical column name already present in the table's " +
                "files (a renamed or dropped column) — use ALTER TABLE " +
                "ADD COLUMNS, which assigns a fresh physical name")
          }
        }
        // evolution records the writer's LOGICAL schema — carry each
        // surviving field's column-mapping metadata forward, or a
        // rename's physical binding would be silently wiped and every
        // later read of that column would null-fill
        val merged = org.apache.spark.sql.types.StructType(
          df.schema.fields.map { f =>
            cur.flatMap(_.fields.find(_.name.equalsIgnoreCase(f.name)))
              .filter(_.metadata.contains(PhysicalKey)) match {
              case Some(old) => f.copy(metadata =
                new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putString(PhysicalKey,
                    old.metadata.getString(PhysicalKey)).build())
              case None => f
            }
          })
        Some(merged.json)
    }
  }

  /** CONVERT an existing plain-parquet directory into a TxnTable IN
    * PLACE, without moving or rewriting a byte at any size: version 0
    * references every `*.parquet` under `path` (recursive, hidden
    * files skipped) by its root-relative name, records the directory's
    * merged schema, and harvests each file's parquet footer ONCE —
    * distributed as a Spark job, one task per slice of the file list —
    * so row counts land on the adds and min/max/null-count stats land
    * in the log: pruned reads and metadata aggregates plan from the
    * log from the first post-convert read, exactly like a born-graft
    * table. The adoption cost is one footer read per file (what any
    * first crawl pays) against ZERO data movement.
    *
    * After the convert the directory IS the table: appends/rewrites
    * land under its `data/`, vacuum deletes only under `data/` (the
    * adopted originals are never reaped — rewrites strand them as
    * unreferenced history exactly like a shallow clone's source), time
    * travel to v0 always shows the adopted content. */
  def convertParquet(spark: SparkSession, path: String): Long = {
    require(currentVersion(path) < 0,
      s"convertParquet: $path is already a TxnTable")
    val root = localRoot(path)
    require(Files.isDirectory(root), s"convertParquet: no directory $path")
    val walk = Files.walk(root)
    // hidden/metadata filtering applies to EVERY path segment, not
    // just the leaf (Spark's own listing convention): a directory
    // being converted may carry another system's metadata tree (e.g.
    // _delta_log/…/NNN.checkpoint.parquet), and adopting those as
    // data would corrupt the table
    def visible(rel: JPath): Boolean =
      (0 until rel.getNameCount).forall { i =>
        val seg = rel.getName(i).toString
        !seg.startsWith("_") && !seg.startsWith(".")
      }
    val files =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(root.relativize)
        .filter(visible)
        .map(_.toString).toSeq.sorted
      finally walk.close()
    require(files.nonEmpty, s"convertParquet: no parquet files under $path")
    // the DV machinery keys (file → positions) by BASENAME — the scan
    // side reports only `_metadata.file_path`'s last segment, and
    // born-graft writers mint UUID names so leaves are unique by
    // construction. An adopted tree with duplicate leaves (e.g.
    // 2020/part-0.parquet + 2021/part-0.parquet) would attach one DV
    // to BOTH files and kill same-position rows in the wrong one —
    // silent corruption, so refuse the adoption loudly up front.
    val dupLeaves = files.groupBy(_.split('/').last)
      .filter(_._2.size > 1).values.flatten.toSeq.sorted
    require(dupLeaves.isEmpty,
      s"convertParquet: duplicate file basenames under $path — deletion " +
        s"vectors key on the basename, so adoption would corrupt MOR " +
        s"deletes/updates. Rename to unique leaves first: " +
        dupLeaves.take(6).mkString(", "))
    // merged schema across every footer generation (a drifted layout
    // converts with the union shape; old files null-fill, like any
    // schema-evolved read)
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(files.map(f => root.resolve(f).toString): _*).schema
    // footer harvest as a DISTRIBUTED job: executors open footers with
    // a fresh Configuration (the log and data share one filesystem)
    convertHarvestHook()
    import spark.implicits._
    val rootStr = root.toString
    OpMetrics.add(graft.crawler.SkippingIndex.FooterReads, files.size)
    val harvested = spark.createDataset(files)
      .repartition(math.max(1, math.min(files.size, 256)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val abs = java.nio.file.Paths.get(rootStr).resolve(f)
        val st = graft.crawler.SkippingIndex.fileStats(conf, abs.toString)
        // fileStats is None only when the file vanished between listing
        // and harvest — committing a rows=0 add would silently
        // undercount every metadata-only aggregate, so fail the convert
        if (st.isEmpty) throw new IllegalStateException(
          s"convertParquet: $f disappeared during the footer harvest — " +
            "the directory changed under the convert; re-run it")
        (f, st.map(_.rows).getOrElse(0L), Files.size(abs),
          st.map(statsJson))
      }
      .collect() // O(files) add metadata — what the commit carries anyway
    val adds = harvested.toSeq.sortBy(_._1).map { case (f, rows, bytes, js) =>
      TxnAdd(f, rows, bytes, js)
    }
    tryCommit(path, TxnCommit(0L, "convert", adds, Nil, Some(schema.json)))
    0L
  }

  /** IDEMPOTENT bulk file ingestion — the COPY INTO shape: adopt every
    * `*.parquet` under `srcDir` not yet loaded into `path`, by
    * REFERENCE (the commit's adds carry the source files' absolute
    * paths, like a shallow clone's — ZERO data movement at any size;
    * one distributed footer harvest lands row counts and min/max stats
    * in the log, so pruned reads and metadata aggregates cover the
    * adopted files immediately). Idempotence is file-path identity
    * against the log's adds index: a re-run lists the same files,
    * finds them loaded, and returns the unchanged head — re-checked
    * inside the commit retry loop, so two concurrent COPY INTOs of one
    * directory never double-load a file. A source file MODIFIED in
    * place is NOT reloaded (path identity, the standard COPY INTO
    * contract — rename new data). CHECK constraints validate against
    * the fresh files' rows (one scan of only the new files); vacuum
    * never deletes foreign absolute paths, so the sources are never
    * reaped. Refused loudly: schema fields missing from the table,
    * basename collisions (the DV key), and column-mapped tables (the
    * adopted files carry source column names, which cannot be bound
    * through a physical-name mapping). Returns the commit's version,
    * or the unchanged head when nothing was new. */
  def copyInto(spark: SparkSession, path: String, srcDir: String,
      pattern: Option[String] = None): Long = {
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"copyInto: $path is not a TxnTable — CREATE it first"))
    val top = snap.version
    val src = localRoot(srcDir)
    require(Files.isDirectory(src), s"copyInto: no directory $srcDir")
    def visible(rel: JPath): Boolean =
      (0 until rel.getNameCount).forall { i =>
        val seg = rel.getName(i).toString
        !seg.startsWith("_") && !seg.startsWith(".")
      }
    val matches = patternMatcher(pattern)
    val walk = Files.walk(src)
    val listed =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .filter(p => visible(src.relativize(p)) &&
          matches(src.relativize(p)))
        .map(_.toAbsolutePath.normalize.toString).toSeq.sorted
      finally walk.close()
    require(listed.nonEmpty, s"copyInto: no parquet files under $srcDir" +
      pattern.map(g => s" matching PATTERN '$g'").getOrElse(""))
    def freshAt(s: Snapshot): Seq[String] =
      listed.filterNot(s.allAdds.contains)
    var fresh = freshAt(snap)
    if (fresh.isEmpty) return top
    // column-mapped tables cannot bind source-named files
    snap.recordedSchema.foreach(s => s.fields.foreach(f =>
      require(physicalFieldName(f) == f.name,
        s"copyInto: $path maps logical column ${f.name} to physical " +
          s"${physicalFieldName(f)} — adopted files cannot be bound " +
          "through a column mapping; INSERT INTO … SELECT instead")))
    // DV ambiguity guard, same rule as convertParquet: basenames must
    // be unique among fresh files AND against the live snapshot
    val liveLeaves = snap.files.map(_.split('/').last).toSet
    val clash = fresh.groupBy(_.split('/').last)
      .filter { case (leaf, fs) => fs.size > 1 || liveLeaves(leaf) }
    require(clash.isEmpty,
      s"copyInto: file basename collision (deletion vectors key on " +
        s"the basename): ${clash.keys.take(6).mkString(", ")}")
    // every source field must already exist in the table, same type —
    // missing table columns null-fill at read like any evolved schema
    val tSchema = read(spark, path, top).schema
    val sSchema = spark.read.option("mergeSchema", "true")
      .parquet(fresh: _*).schema
    sSchema.fields.foreach(f => require(
      tSchema.fields.exists(t =>
        t.name.equalsIgnoreCase(f.name) && t.dataType == f.dataType),
      s"copyInto: source column ${f.name}: ${f.dataType.simpleString} " +
        s"does not match the table schema"))
    // constraints validate against ONLY the new rows (assert_true
    // throws on the first violating row)
    if (constraints(path).nonEmpty)
      withChecks(spark, path, spark.read.parquet(fresh: _*)).count()
    import spark.implicits._
    OpMetrics.add(graft.crawler.SkippingIndex.FooterReads, fresh.size)
    val harvested = spark.createDataset(fresh)
      .repartition(math.max(1, math.min(fresh.size, 256)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val st = graft.crawler.SkippingIndex.fileStats(conf, f)
        if (st.isEmpty) throw new IllegalStateException(
          s"copyInto: $f disappeared during the footer harvest")
        (f, st.map(_.rows).getOrElse(0L), Files.size(Paths.get(f)),
          st.map(statsJson))
      }
      .collect()
    var adds = harvested.toSeq.sortBy(_._1).map { case (f, rows, bytes, js) =>
      TxnAdd(f, rows, bytes, js)
    }
    var attempt = 0
    while (true) {
      val cur = currentVersion(path)
      preCommitHook()
      try {
        tryCommit(path, TxnCommit(cur + 1, "copyinto", adds, Nil, None))
        return cur + 1
      } catch {
        case e: TxnConflictException =>
          attempt += 1
          if (attempt > 20) throw e
          // a racing COPY INTO may have loaded some of our files:
          // drop them and retry with the remainder (or no-op)
          val rebased = snapshot(path)
          fresh = freshAt(rebased)
          if (fresh.isEmpty) return rebased.version
          val keep = fresh.toSet
          adds = adds.filter(a => keep(a.path))
          // re-run the DV ambiguity guard against the REBASED snapshot:
          // the entry check ran at `top`, but a concurrent commit may
          // have added a file sharing one of our basenames since — a
          // blind re-commit would land two live files with one leaf
          // name and every later MOR DML on the table would fail on
          // the dup-leaf require. Refusing here keeps the invariant
          // "live basenames are unique" a commit-time guarantee, not a
          // snapshot-at-entry hope.
          val liveNow = rebased.files.map(_.split('/').last).toSet
          val clashNow = fresh.map(_.split('/').last).filter(liveNow)
          require(clashNow.isEmpty,
            s"copyInto: file basename collision introduced by a " +
              s"concurrent commit (deletion vectors key on the " +
              s"basename): ${clashNow.take(6).mkString(", ")}")
      }
    }
    -1L // unreachable
  }

  /** COPY INTO's `PATTERN = '<glob>'` as a predicate over the path
    * RELATIVE to the landing directory (`**` crosses directories, the
    * standard glob contract) — scoping a load to one sub-drop of a
    * shared landing zone without listing-order dependence. IDEMPOTENCE
    * IS UNSCOPED by design: the loaded-source registry keys on
    * absolute paths, so a file loaded under one pattern never reloads
    * under a broader one. */
  private def patternMatcher(pattern: Option[String]): JPath => Boolean =
    pattern match {
      case None => _ => true
      case Some(g) =>
        val m = java.nio.file.FileSystems.getDefault
          .getPathMatcher("glob:" + g)
        rel => m.matches(rel)
    }

  /** Bound the ingested-file registry: DROP entries under `srcDir`
    * whose source files no longer exist on disk (they were vacuumed
    * from the landing directory) via one `copysrc:prune:` metadata
    * commit that the registry fold subtracts — so a long-lived
    * interval-triggered landing dir doesn't grow every future
    * checkpoint's `copySrcs` without bound. Safe by construction:
    * only VANISHED files are prunable (an existing file's entry is
    * what prevents a double-load, so it must stay); if a pruned path
    * is ever re-landed it ingests again — exactly the semantics of a
    * fresh drop at that path. Returns the commit version, or the
    * unchanged head when nothing is prunable. */
  def pruneCopySources(spark: SparkSession, path: String,
      srcDir: String): Long = {
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"pruneCopySources: not a TxnTable: $path"))
    val top = snap.version
    val prefix = java.nio.file.Paths.get(srcDir)
      .toAbsolutePath.normalize().toString + "/"
    val gone = snap.copySrcs.toSeq.sorted.filter(p =>
      p.startsWith(prefix) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    if (gone.isEmpty) return top
    import org.json4s.{JArray, JString}
    import org.json4s.jackson.JsonMethods
    commitMarker(path, "copysrc:prune:" + JsonMethods.compact(
      JsonMethods.render(JArray(gone.map(JString(_)).toList))))
  }

  /** Source files already ingested into `path` through ANY
    * materializing COPY INTO route — formatted batch loads
    * (`copyinto:<fmt>:[...]` ops) and `COPY INTO … FROM STREAM`
    * micro-batches (`stream:…:files:[...]` ops) share one per-table
    * registry, so the same landed file loads exactly once no matter
    * which entry point sees it, and the registry — NOT the stream
    * checkpoint — is the source of truth: a lost checkpoint re-offers
    * everything, already-ingested files are filtered here, and files
    * landed SINCE the loss (bundled by the restarted stream into
    * already-seen batch ids) still load. Checkpoint-amortized via the
    * same `copySrcs` checkpoint field as the batch routes. */
  def streamSourcesIngested(path: String): Set[String] =
    head(path).fold(Set.empty[String])(_.copySrcs)

  /** [[copyInto]] for NON-parquet landings — `COPY INTO t FROM '<dir>'
    * FORMAT AS CSV|JSON`: fresh source files MATERIALIZE through the
    * standard write path (schema coercion to the table shape, CHECK
    * constraints riding the write job, column-mapped tables fine —
    * the staged parquet stores physical names like any append), while
    * idempotence still keys on source-file PATH identity: each commit
    * records the batch's absolute source paths in its op
    * (`copyinto:<fmt>:[...]`, checkpoint-amortized replay), so a
    * re-run lists the directory, finds every file already loaded, and
    * returns the unchanged head — and two concurrent formatted COPY
    * INTOs re-check the registry inside the conflict retry, so a file
    * loads exactly once. Coercion contract, mirroring the parquet
    * route: every SOURCE column must name a table column and cast to
    * its type; missing table columns null-fill; a value that parses
    * but does not FIT its table type (cast returns null on a non-null
    * input) aborts the whole batch atomically — nothing commits. */
  def copyIntoFormat(spark: SparkSession, path: String, srcDir: String,
      format: String, pattern: Option[String] = None): Long = {
    val fmt = format.toLowerCase
    require(fmt == "csv" || fmt == "json",
      s"copyIntoFormat: unsupported format $format (CSV or JSON; " +
        "parquet adopts by reference via copyInto)")
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"copyInto: $path is not a TxnTable — CREATE it first"))
    val top = snap.version
    val src = localRoot(srcDir)
    require(Files.isDirectory(src), s"copyInto: no directory $srcDir")
    def visible(rel: JPath): Boolean =
      (0 until rel.getNameCount).forall { i =>
        val seg = rel.getName(i).toString
        !seg.startsWith("_") && !seg.startsWith(".")
      }
    val matches = patternMatcher(pattern)
    val ext = "." + fmt
    val walk = Files.walk(src)
    val listed =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(ext))
        .filter(p => visible(src.relativize(p)) &&
          matches(src.relativize(p)))
        .map(_.toAbsolutePath.normalize.toString).toSeq.sorted
      finally walk.close()
    require(listed.nonEmpty, s"copyInto: no $fmt files under $srcDir" +
      pattern.map(g => s" matching PATTERN '$g'").getOrElse(""))
    def freshAt(s: Snapshot): Seq[String] =
      listed.filterNot(s.copySrcs.contains)
    val fresh = freshAt(snap)
    if (fresh.isEmpty) return top
    // parse the fresh files: CSV reads untyped (header row names the
    // columns) and coerces below; JSON carries its own scalar types
    // enforceSchema=false: every file's header is VALIDATED against
    // the batch schema — a landing file with drifted column order
    // fails loudly instead of silently loading values into the wrong
    // columns (the default maps by position, ignoring later headers)
    val raw = fmt match {
      case "csv" => spark.read.option("header", "true")
        .option("enforceSchema", "false").csv(fresh: _*)
      case _ => spark.read.json(fresh: _*)
    }
    val tSchema = read(spark, path, top).schema
    raw.columns.foreach(c => require(
      tSchema.fields.exists(_.name.equalsIgnoreCase(c)),
      s"copyInto: source column $c is not a table column"))
    val byName = raw.columns.map(c => c.toLowerCase -> c).toMap
    // table-shaped projection with LOUD coercion: a non-null source
    // value whose cast comes back null is malformed for this table —
    // raise inside the write job, aborting the batch atomically
    val coerced = raw.select(tSchema.fields.toSeq.map { f =>
      byName.get(f.name.toLowerCase) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(c) =>
          val cast = col(c).cast(f.dataType)
          when(col(c).isNotNull && cast.isNull,
            raise_error(concat(
              lit(s"copyInto: malformed value for ${f.name} " +
                s"(${f.dataType.simpleString}): '"),
              col(c).cast("string"), lit("'"))))
            .otherwise(cast).as(f.name)
      }
    }: _*)
    val opJson = fresh.map(p => s""""${esc(p)}"""")
      .mkString(s"copyinto:$fmt:[", ",", "]")
    // standard write path: constraints ride the job; bins sized by the
    // source byte count against the table's bin-pack target
    val schemaAtStage = snap.schema
    var csStage =
      try constraints(path)
      catch { case _: IllegalArgumentException => Map.empty[String, String] }
    val srcBytes = fresh.map(p => Files.size(Paths.get(p))).sum
    val bins = math.max(1,
      math.ceil(srcBytes.toDouble / (128L * 1024 * 1024)).toInt)
    val adds = writeData(spark, path, withChecks(spark, path, coerced),
      bins)
    var attempt = 0
    try {
      while (true) {
        val cur = currentVersion(path)
        preCommitHook()
        try {
          tryCommit(path, TxnCommit(cur + 1, opJson, adds, Nil, None))
          return cur + 1
        } catch {
          case e: TxnConflictException =>
            attempt += 1
            if (attempt > 20) throw e
            // a racing formatted COPY INTO may have loaded one of our
            // files: the staged batch mixes every file's rows, so a
            // partial drop is impossible — abort the whole batch and
            // let the caller re-run (which will list only what is
            // still fresh). A race that loaded NONE of ours commutes
            // like any append and re-commits at the new head.
            val now = snapshot(path)
            if (freshAt(now).toSet != fresh.toSet)
              throw new IllegalStateException(
                "copyInto: a concurrent COPY INTO loaded part of this " +
                  "batch — re-run to load the remainder")
            // the lost race may have been an ALTER: the staged files
            // were coerced to the OLD shape — blindly re-committing
            // would land wrong-schema data (the same fence append's
            // retry applies via checkSchema)
            if (now.schema != schemaAtStage)
              throw new IllegalStateException(
                "copyInto: the table schema changed concurrently — the " +
                  "staged batch was coerced to the old shape; re-run " +
                  "the load against the new schema")
            // …or a concurrent addConstraint: the staged rows were
            // checked against the OLD constraint set — re-validate
            // (the outer catch cleans the staged files on violation)
            csStage = revalidateStaged(spark, path, adds, csStage)
        }
      }
    } catch { case e: Throwable => cleanupStaged(path, adds); throw e }
    -1L // unreachable
  }

  /** Create version 0 from `df`, recording its schema. Fails if the
    * table already exists. */
  def create(spark: SparkSession, path: String, df: DataFrame,
      partitions: Int = 1, op: String = "create"): Long = {
    val adds = writeData(spark, path, df, partitions)
    try tryCommit(path, TxnCommit(0L, op, adds, Nil, Some(df.schema.json)))
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
    0L
  }

  /** Highest recorded `stream:<id>:<n>` marker for `streamId` — the
    * public read side of the per-stream transaction markers
    * ([[appendStreamBatch]]'s idempotence state, also writable via the
    * `op` parameter of [[create]]/[[overwrite]] for sinks that replace
    * rather than append, e.g. a maintained view recording the source
    * version it reflects). Checkpoint-amortized. None if the table or
    * marker doesn't exist. */
  def streamHighWater(path: String, streamId: String): Option[Long] =
    head(path).flatMap(_.streams.get(streamId))

  /** [[create]] with a clustered physical layout: range-partition the
    * rows by `clusterBy` into `targetFiles` files, sorted within each —
    * so every file owns a compact key range and its parquet footer
    * min/max on the leading cluster column feeds [[readPruned]]'s
    * range and IN bounds from version 0, without waiting for a
    * [[compactClustered]] pass. The same one range-shuffle any sorted
    * write costs. */
  def createClustered(spark: SparkSession, path: String, df: DataFrame,
      clusterBy: Seq[Column], targetFiles: Int): Long = {
    val prepared = df.repartitionByRange(targetFiles, clusterBy: _*)
      .sortWithinPartitions(clusterBy: _*)
    val adds = writeDataPrepared(spark, path, prepared)
    // the LAYOUT SPEC rides the create commit as seeded table
    // properties (`create:props:` folds into `props` like a SET),
    // so DESCRIBE DETAIL can tell an operator what the table is
    // clustered on and how wide — with no extra commit shifting
    // version numbers
    val names = clusterBy.map(_.toString()).mkString(",")
    val op = s"""create:props:{"graft.clusterBy":"${esc(names)}",""" +
      s""""graft.targetFiles":"$targetFiles"}"""
    try tryCommit(path, TxnCommit(0L, op, adds, Nil, Some(df.schema.json)))
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
    0L
  }

  /** CAS append: commit `df` as `expectedBase + 1` or fail with
    * [[TxnConflictException]] (no retry — the caller's rows were
    * computed FROM the snapshot at `expectedBase`, so committing over
    * anything newer could encode stale derivations; the caller
    * recomputes and re-runs). `clusterBy` range-clusters the files so
    * footer pruning stays tight. Staged files are cleaned on abort.
    */
  def appendCas(spark: SparkSession, path: String, df: DataFrame,
      expectedBase: Long, clusterBy: Seq[Column] = Nil,
      partitions: Int = 1, op: String = "append"): Long = {
    val newSchema = checkSchema(path, df, evolveSchema = false)
    // Fail FAST before staging: a lost CAS race would otherwise pay a
    // complete tranche write plus cleanup just to be told to retry
    // (every retry of TxnIndex's upsert loops under contention).
    // tryCommit below remains the authoritative conflict check — this
    // is latency hygiene, not the correctness gate.
    val early = currentVersion(path)
    if (early != expectedBase) throw new TxnConflictException(early)
    val checked = withChecks(spark, path, df)
    val adds =
      if (clusterBy.nonEmpty)
        writeDataPrepared(spark, path,
          checked.repartitionByRange(partitions, clusterBy: _*)
            .sortWithinPartitions(clusterBy: _*))
      else writeData(spark, path, checked, partitions)
    val base = currentVersion(path)
    if (base != expectedBase) {
      cleanupStaged(path, adds)
      throw new TxnConflictException(base)
    }
    preCommitHook()
    try tryCommit(path, TxnCommit(base + 1, op, adds, Nil, newSchema))
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
    base + 1
  }

  /** The highest `stream:<streamId>:<batchId>` batch id committed to
    * `path` — the exactly-once idempotence check, public so composed
    * writers (e.g. a streaming index ingest that commits through
    * [[appendCas]] with a stream op label) can skip redelivered
    * batches the same way [[appendStreamBatch]] does. Checkpoint-
    * amortized like every other log-derived hot path. */
  def lastAppliedBatch(path: String, streamId: String): Option[Long] =
    streamHighWater(path, streamId)

  /** [[overwriteClustered]] without a clustering requirement — INSERT
    * OVERWRITE for small derived/bookkeeping tables (e.g. folding a
    * bloom-sidecar's accumulated rows to one). Same conflict contract:
    * abort-on-conflict, staged files cleaned, history stays readable.
    * `evolveSchema = true` (REPLACE TABLE): the overwrite may carry a
    * DIFFERENT schema — recorded on the same commit, so the replace is
    * atomic (readers see old shape + old rows, or new shape + new
    * rows, never a mix); the evolution collision rules (physical-name
    * re-binding) apply as for append. */
  def overwrite(spark: SparkSession, path: String, df: DataFrame,
      partitions: Int = 1, op: String = "overwrite",
      evolveSchema: Boolean = false): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val files = snap.files
    val newSchema = checkSchema(path, df, evolveSchema)
    val adds = writeData(spark, path, withChecks(spark, path, df),
      partitions)
    try commitRewrite(path, base, op, adds, files, CommuteMetadataOnly,
      schema = newSchema)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** INSERT OVERWRITE: atomically replace the table's entire logical
    * content with `df` — one commit removing every live file and adding
    * the new clustered layout. History stays readable (old files are
    * never deleted here); abort-on-conflict like [[compact]]. The
    * compaction primitive for merge-on-read layouts (TxnIndex folds
    * its tombstones through this).
    */
  def overwriteClustered(spark: SparkSession, path: String, df: DataFrame,
      clusterBy: Seq[Column], targetFiles: Int): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val files = snap.files
    checkSchema(path, df, evolveSchema = false)
    val adds = writeDataPrepared(spark, path,
      withChecks(spark, path, df)
        .repartitionByRange(targetFiles, clusterBy: _*)
        .sortWithinPartitions(clusterBy: _*))
    try commitRewrite(path, base, "overwrite", adds, files, CommuteMetadataOnly)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** Append `df` as a new version; retries the version race, because an
    * append conflicts with nothing logically. The schema is enforced
    * against the table's recorded schema — a drifted writer fails loudly
    * instead of corrupting reads — unless `evolveSchema` explicitly
    * records the new shape (reads then mergeSchema across the log's
    * schema generations).
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
      partitions: Int = 1, maxAttempts: Int = 20,
      evolveSchema: Boolean = false, op: String = "append"): Long = {
    var newSchema = checkSchema(path, df, evolveSchema)
    // Constraint baseline taken BEFORE the write job: anything added
    // after this point is re-validated against the staged files on a
    // lost version race (revalidateStaged).
    var csStage =
      try constraints(path)
      catch { case _: IllegalArgumentException => Map.empty[String, String] }
    val adds = writeData(spark, path, withChecks(spark, path, df),
      partitions)
    var attempt = 0
    // Any abort past this point (schema mismatch discovered on retry,
    // retry budget exhausted) must delete the staged files it can no
    // longer commit — see cleanupStaged.
    try {
      while (true) {
        val v = currentVersion(path) + 1
        preCommitHook()
        try {
          tryCommit(path, TxnCommit(v, op, adds, Nil, newSchema))
          return v
        } catch {
          case _: TxnConflictException if attempt < maxAttempts =>
            attempt += 1
            // The lost race may have been a concurrent evolveSchema:
            // re-validate against the FRESH snapshot so a drifted append
            // fails loudly instead of committing stale-schema data.
            newSchema = checkSchema(path, df, evolveSchema)
            // ... or a concurrent addConstraint: the staged rows were
            // checked against the OLD constraint set — re-validate them
            // (the outer catch cleans the staged files on violation)
            csStage = revalidateStaged(spark, path, adds, csStage)
        }
      }
    } catch { case e: Throwable => cleanupStaged(path, adds); throw e }
    -1L // unreachable
  }

  /** The snapshot's PHYSICAL-name scan, safe on ZERO-FILE snapshots
    * (truncate / delete-all): an empty frame with the recorded
    * physical schema substitutes for the parquet read — DML and
    * compaction on an emptied table then no-op through their own
    * nothing-matched paths instead of crashing on a pathless read. */
  private def snapshotScan(spark: SparkSession, path: String,
      snap: Snapshot, abs: Seq[String]): DataFrame =
    if (abs.nonEmpty)
      snapshotReader(spark, snap).parquet(abs: _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      physicalSchema(snap.recordedSchema.getOrElse(
        throw new IllegalArgumentException(s"empty snapshot of $path at " +
          s"${snap.version} with no recorded schema"))))

  /** Delete matching rows by rewriting ONLY the files that contain them;
    * untouched files are carried by reference. One probe pass over the
    * snapshot collects the hit files' names to the driver once
    * (metadata-sized — they are the commit's `removes`); the rewrite
    * then scans only those files. DV-deleted rows are logically gone:
    * they neither trigger a hit nor survive the rewrite (the removes
    * clear the hit files' DV mappings). A hit file whose every row is
    * deleted leaves no add (write-then-drop). The snapshot it read is
    * re-validated at commit: commutable interleaved commits (appends,
    * rewrites of disjoint files) are rebased past without redoing the
    * job; a concurrent commit that touched one of the hit files aborts
    * the delete (no lost updates) — see [[commitRewrite]].
    */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val files = snap.files
    val hitNames = fileNames(scanFiles(spark, path, snap, files,
      keepFname = true).filter(predicate).select(col("__fname")))
    if (hitNames.isEmpty) return base
    val removes = hitFiles(path, files, hitNames)
    val survivors = scanFiles(spark, path, snap, removes, keepFname = false)
      .filter(!coalesce(predicate, lit(false)))
    val adds = dropEmpty(path, writeData(spark, path, survivors, 1))
    try commitRewrite(path, base, "delete", adds, removes,
      CommuteNonOverlapping)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** MERGE-ON-READ delete (deletion vectors): mark every row matching
    * `predicate` deleted by POSITION, without rewriting a single data
    * file — one small DV parquet of (file, row position) pairs plus a
    * metadata commit. The write cost is O(deleted rows), not O(bytes
    * of the files they live in): deleting 0.1% of rows scattered
    * across a 100 TB table costs ~a few MB of positions where
    * [[deleteWhere]] (copy-on-write) would rewrite every touched
    * file. Readers filter the DV's positions out at scan time
    * ([[applyDv]]: a deterministic filter that keeps predicate pushdown,
    * zero overhead for DV-free snapshots); [[compact]] (or any rewrite
    * touching the file) MATERIALIZES the DV and clears it, which is
    * the read-amplification escape valve. DVs are cumulative per
    * file: the new DV carries the union of old and new positions, so
    * exactly one DV file is current per data file. Conflict contract:
    * rebase past interleaved commits that touch none of the DV'd
    * files; abort (after retries) when one removed or re-DV'd them.
    * Returns the base version unchanged if nothing matched. */
  def deleteWhereMor(spark: SparkSession, path: String,
      predicate: Column): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val (live, deleted, files) = liveWithPos(spark, path, snap)
    val hits = live.filter(predicate)
      .select(col("__fname").as("file"), col("__pos").as("pos"))
      .localCheckpoint()
    commitMorChanges(spark, path, base, "dvdelete", files,
      fileNames(hits.select(col("file"))), hits, deleted, Nil)
  }

  /** MERGE-ON-READ update: the [[updateWhere]] semantics at
    * [[deleteWhereMor]]'s cost — matching rows are marked dead by
    * position in a DV and their UPDATED images appended as fresh
    * files, ONE atomic commit (`dvupdate` carries both the adds and
    * the DV reassignments, so no reader ever sees the row missing or
    * doubled). Write cost is O(changed rows): updating 0.1% of rows
    * scattered across a 100 TB table writes ~the changed rows + a
    * few MB of positions, where [[updateWhere]] (copy-on-write)
    * rewrites every file containing a match. Same read/compaction
    * story as MOR delete (readers subtract the DV; compact
    * materializes); CDF shows the change as before/after images like
    * any rewrite. Returns the base version if nothing matched. */
  def updateWhereMor(spark: SparkSession, path: String,
      predicate: Column, set: Map[String, Column],
      partitions: Int = 1): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val (live, deleted, files) = liveWithPos(spark, path, snap)
    val tableCols = live.columns.toSeq
      .filterNot(c => c == "__fname" || c == "__pos")
    val bad = set.keySet -- tableCols
    require(bad.isEmpty, s"updateWhereMor: unknown columns $bad")
    require(!set.values.exists(hasJoinSubquery),
      "updateWhereMor: IN/EXISTS subqueries are not supported in SET " +
        "values (scalar subqueries are; or precompute via MERGE INTO)")
    // one materialized pass pins BOTH the hit positions and the row
    // content the updated images are computed from (the DV and the
    // appended rows must describe the same snapshot rows)
    val hitRows = live.filter(predicate).localCheckpoint()
    val hitNames = fileNames(hitRows.select(col("__fname")))
    if (hitNames.isEmpty) return base
    val hits = hitRows
      .select(col("__fname").as("file"), col("__pos").as("pos"))
    val updated = hitRows.select(tableCols.map { c =>
      if (set.contains(c))
        set(c).cast(live.schema(c).dataType).as(c)
      else col(c)
    }: _*)
    val adds = writeData(spark, path, withChecks(spark, path, updated),
      partitions)
    commitMorChanges(spark, path, base, "dvupdate", files, hitNames, hits,
      deleted, adds)
  }

  /** Live rows of `snap` (existing DVs applied — an
    * already-deleted row must not re-trigger a hit) with `__fname` /
    * `__pos` scan metadata attached ([[liveTagged]]), plus the current
    * deleted positions by scan name and the snapshot file list, for the
    * MOR write paths. */
  private def liveWithPos(spark: SparkSession, path: String, snap: Snapshot)
      : (DataFrame, Map[String, Roaring64Bitmap], Seq[String]) = {
    val deleted = deletedAt(spark, path, snap.dvs)
    val scan = snapshotScan(spark, path, snap,
      snap.files.map(f => localRoot(path).resolve(f).toString))
    (liveTagged(snap, scan, deleted), deleted, snap.files)
  }

  /** Write the replacement DV for `hits` (new positions ∪ the hit
    * files' previous positions — DVs are cumulative per file) and
    * return the per-file reassignments plus the DV file for cleanup.
    * `hitNames` are the scan names in `hits`' file column, collected
    * once by the caller's probe; the carried positions come from the
    * driver-side `deleted` sets as a local frame. */
  private def buildDvs(spark: SparkSession, path: String,
      files: Seq[String], hitNames: Set[String], hits: DataFrame,
      deleted: Map[String, Roaring64Bitmap])
      : (Seq[(String, String)], String) = {
    val hitPaths = hitFiles(path, files, hitNames)
    // basename→path must be injective among the hit files: a DV keyed
    // on a shared leaf would kill same-position rows in BOTH files.
    // Unreachable for born-graft tables (UUID leaves) and guarded at
    // convertParquet; kept as a last-line corruption check.
    val dupLeaf = hitPaths.groupBy(_.split('/').last).filter(_._2.size > 1)
    require(dupLeaf.isEmpty,
      s"deletion vector would be ambiguous: duplicate basenames among " +
        s"hit files ${dupLeaf.values.flatten.mkString(", ")}")
    val carried = new java.util.ArrayList[Row]()
    hitNames.foreach(n => deleted.get(n).foreach { b =>
      val it = b.getLongIterator
      while (it.hasNext) carried.add(Row(n, it.next()))
    })
    val dvFile = writeDv(spark, path,
      hits.unionByName(spark.createDataFrame(carried, DvSchema)))
    (hitPaths.map(f => f -> dvFile), dvFile)
  }

  /** Write one DV parquet under `dv/`; returns its table-relative path. */
  private def writeDv(spark: SparkSession, path: String,
      rows: DataFrame): String = {
    val staging = Files.createTempDirectory("graft_dv_stage").toString
    rows.coalesce(1).write.mode("overwrite").parquet(staging)
    Files.createDirectories(dvDir(path))
    val src = Files.list(Paths.get(staging)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    require(src.size == 1, s"writeDv: expected 1 part file, got ${src.size}")
    val name = s"dv-${java.util.UUID.randomUUID()}.parquet"
    Files.move(src.head, dvDir(path).resolve(name))
    s"dv/$name"
  }

  /** Publish a DV commit (optionally carrying fresh adds — the
    * MOR-update shape) at `base + 1`, rebasing past interleaved
    * commits that touched NONE of the DV'd files (an append, a rewrite
    * of other files, a marker all commute — the DV'd files' rows still
    * stand at the new head); abort when one removed, rewrote, or
    * re-DV'd them (our union-with-old-positions DV was computed from a
    * stale DV state). */
  private def commitDvs(path: String, base: Long, op: String,
      dvs: Seq[(String, String)], adds: Seq[TxnAdd] = Nil,
      maxRebases: Int = 20): Long = {
    val myFiles = dvs.map(_._1).toSet
    var v = base + 1
    var attempt = 0
    while (true) {
      preCommitHook()
      try {
        tryCommit(path, TxnCommit(v, op, adds, Nil, None, dvs))
        return v
      } catch {
        case e: TxnConflictException =>
          if (attempt >= maxRebases) throw e
          val cur = currentVersion(path)
          val commutes = (v to cur).forall { iv =>
            val c = readCommit(path, iv)
            // an interleaved commit that RE-ADDS one of our DV'd files
            // (restore) resets that file's DV state: our DV was built
            // as (old cumulative positions ∪ new hits) against the
            // PRE-restore map, so rebasing past the re-add would
            // silently re-delete the rows the restore just resurrected
            // a constraint change conflicts only when this commit also
            // APPENDS row images (MOR update): those were validated
            // against the constraint set at our base; a pure DV delete
            // removes rows and can never violate a fresh CHECK
            c.schema.isEmpty &&
              (adds.isEmpty || !c.op.startsWith("constraint:")) &&
              !c.removes.exists(myFiles.contains) &&
              !c.dvs.exists(d => myFiles.contains(d._1)) &&
              !c.adds.exists(a => myFiles.contains(a.path))
          }
          if (!commutes) throw e
          attempt += 1
          v = cur + 1
      }
    }
    -1L // unreachable
  }

  /** UPDATE … SET … WHERE: rewrite every row matching `predicate` with
    * the `set` expressions applied (each cast to its column's existing
    * type, so the table schema never drifts); non-matching rows in hit
    * files are carried through the rewrite unchanged, and files with NO
    * matching row are carried by reference — the update's cost is
    * O(files containing a match), not O(table). Same conflict contract
    * as [[deleteWhere]] (rebase-or-abort, staged files cleaned on
    * abort); the commit op is `update`, so the change feed (S17) shows
    * the touched files' before/after images. */
  def updateWhere(spark: SparkSession, path: String, predicate: Column,
      set: Map[String, Column]): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val files = snap.files
    // LOGICAL column surface: applyDv aliases the physical scan back to
    // the snapshot's logical names (column mapping) — user SET keys and
    // predicates speak logical
    val withName = scanFiles(spark, path, snap, files, keepFname = true)
    val tableCols = withName.columns.toSeq.filterNot(_ == "__fname")
    val colType = withName.schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = set.keySet -- tableCols
    require(bad.isEmpty, s"updateWhere: unknown columns $bad")
    // SET values are projections on BOTH rewrite shapes — an IN/EXISTS
    // subquery there can never satisfy Spark's subquery-placement rule,
    // so reject it loudly (scalar subqueries are projection-legal)
    require(!set.values.exists(hasJoinSubquery),
      "updateWhere: IN/EXISTS subqueries are not supported in SET " +
        "values (scalar subqueries are; or precompute via MERGE INTO)")
    // one probe pass → hit file names; the rewrite reads only those
    val hitNames = fileNames(withName.filter(predicate).select(col("__fname")))
    if (hitNames.isEmpty) return base
    val removes = hitFiles(path, files, hitNames)
    val p = coalesce(predicate, lit(false))
    val inHit = scanFiles(spark, path, snap, removes, keepFname = false)
    // IN/EXISTS subqueries are only legal in FILTERS (Spark's subquery
    // placement rule), never inside the per-column when(p, …)
    // projection — a subquery predicate takes the two-filter shape
    // instead: untouched rows and updated rows selected separately
    // over the hit files and unioned. Plain predicates keep the
    // single-pass codegen'd when().
    val rewritten =
      if (!hasJoinSubquery(predicate))
        inHit.select(tableCols.map { c =>
          if (set.contains(c))
            when(p, set(c).cast(colType(c)))
              .otherwise(col(c)).as(c)
          else col(c)
        }: _*)
      else
        inHit.filter(!p).select(tableCols.map(col): _*)
          .unionByName(inHit.filter(p).select(tableCols.map { c =>
            if (set.contains(c)) set(c).cast(colType(c)).as(c)
            else col(c)
          }: _*))
    val adds = writeData(spark, path,
      withChecks(spark, path, rewritten), 1)
    try commitRewrite(path, base, "update", adds, removes,
      CommuteNonOverlapping)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** Whether a predicate embeds an IN/EXISTS subquery (a join-shaped
    * subquery expression) — those only resolve inside filters, so
    * [[updateWhere]] switches to its two-filter rewrite shape. Scalar
    * subqueries are projection-legal and keep the fast path. */
  private def hasJoinSubquery(c: Column): Boolean =
    try org.apache.spark.sql.graftbridge.Bridge.eagerExpression(c).exists {
      case _: org.apache.spark.sql.catalyst.expressions.InSubquery => true
      case _: org.apache.spark.sql.catalyst.expressions.Exists => true
      case _ => false
    } catch { case NonFatal(_) => false }

  /** Keyed MERGE (the Delta MERGE whenMatched-delete + insert role):
    * atomically replace every current row whose `keyCols` tuple appears
    * in `df` with `df`'s rows — ONE commit, so no reader ever observes
    * the intermediate "deleted but not yet re-inserted" state that a
    * deleteWhere-then-append pair would expose. Rows with a NULL key in
    * `df` never match anything (SQL equality) and are simply appended —
    * which lets additive bookkeeping rows ride the same atomic commit
    * as the keyed replacement (TxnIndex uses this for its stats fold).
    *
    * Only files CONTAINING matched rows are rewritten (found by one
    * file-tagged probe pass + a broadcast-or-keyed semi-join on the
    * keys — no driver-side key list, so the key set may be data-sized);
    * untouched files are carried by reference. Conflict contract:
    * rebase-or-abort like [[deleteWhere]] — the snapshot it read is
    * re-validated at commit; commutable interleaved commits rebase,
    * a true overlap surfaces as [[TxnConflictException]] (and a CAS
    * caller via `expectedBase` never rebases), and an aborted run
    * deletes its staged files.
    */
  def merge(spark: SparkSession, path: String, df: DataFrame,
      keyCols: Seq[String], partitions: Int = 1,
      clusterBy: Seq[Column] = Nil, expectedBase: Long = -1L): Long =
    rewriteByKeys(spark, path, df.select(keyCols.map(col): _*),
      keyCols, Some(df), partitions, clusterBy, expectedBase)

  /** Address a SOURCE column inside a [[mergeInto]] clause condition or
    * update/insert expression (target columns are addressed plainly). */
  def srcCol(name: String): Column = col(s"$SrcStruct.$name")

  private[graft] val SrcStruct = "__graft_src"

  /** Full SQL MERGE INTO: join `source` to the table on `keyCols` and
    * apply ordered WHEN MATCHED clauses (update/delete, each optionally
    * conditioned, first fire wins) plus an optional WHEN NOT MATCHED
    * insert — ONE atomic commit. Matched rows claimed by no clause, and
    * unmatched target rows, are untouched. Source rows must be unique
    * per key (multiple matches for one target row is an error, as in
    * Delta/SQL); NULL-keyed source rows match nothing and fall through
    * to the insert clause (SQL equality).
    *
    * Scale shape: ONE probe pass (the table joined to the source; the
    * source is broadcast when small, Spark decides) finds (a) the files
    * containing a row some clause actually fires on, whose names are
    * collected to the driver once — only those are rewritten, carried
    * files stay by reference — and (b) the matched key set, so the
    * insert side is an anti-join of the SOURCE against O(matched) keys,
    * never a second table scan. The rewrite then scans only the hit
    * files; survivors and inserts are written into separate files (a
    * zero-row file is dropped, not pre-checked). Cost: O(table scan)
    * + O(hit files rewrite), exactly the Delta merge shape.
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], matched: Seq[MergeMatched],
      notMatched: Seq[NotMatchedInsert] = Nil,
      clusterBy: Seq[Column] = Nil,
      bySource: Seq[MergeBySource] = Nil): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val files = snap.files
    // LOGICAL surface: applyDv aliases the physical scan to logical
    // names (column mapping); clause SETs and inserts speak logical
    val withName = scanFiles(spark, path, snap, files, keepFname = true)
    val tableCols = withName.columns.toSeq.filterNot(_ == "__fname")
    val colType = withName.schema.fields.map(f => f.name -> f.dataType).toMap
    val srcS = source.select(
      keyCols.map(col) :+
        struct(source.columns.map(col): _*).as(SrcStruct): _*)
    // duplicate source keys would make "which source row wins" ambiguous
    val dup = srcS.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*).count().filter(col("count") > 1)
    require(dup.isEmpty,
      "mergeInto: multiple source rows match the same key " +
        dup.limit(3).collect().mkString(", "))
    // first-fire-wins claim tracking: build per-clause disjoint fire
    // predicates (claimed rows are excluded from later clauses)
    val (delP, upds) = deleteAndUpdates(matchedClauses(matched))
    val (bsDelP, bsUpds) = deleteAndUpdates(bySourceClauses(bySource))
    // probe: ONE table pass → fired file names + matched key set. A LEFT
    // join (not inner) so NOT MATCHED BY SOURCE clauses see unmatched
    // target rows; only matched rows and by-source-fired rows
    // materialize through the checkpoint (O(matched + fired), batch
    // scale — never the whole table), and only when the insert side
    // needs the matched keys. With no by-source clauses the filter
    // reduces to "matched", which Catalyst's EliminateOuterJoin turns
    // back into the inner join this always was.
    val m = col(SrcStruct).isNotNull
    val anyMatchedFire = upds.map(_._1).foldLeft(delP)(_ || _)
    val anyBsFire = bsUpds.map(_._1).foldLeft(bsDelP)(_ || _)
    val probe0 = withName.join(srcS, keyCols, "left")
      .select(col("__fname") +: keyCols.map(col) :+ m.as("__m") :+
        when(m, anyMatchedFire).otherwise(anyBsFire).as("__fire"): _*)
      .filter(col("__m") || col("__fire"))
    val probe = if (notMatched.isEmpty) probe0 else probe0.localCheckpoint()
    val hitNames = fileNames(
      probe.filter(col("__fire")).select(col("__fname")))
    if (hitNames.isEmpty && notMatched.isEmpty) return base // nothing fired
    val removes = hitFiles(path, files, hitNames)
    // rewrite ONLY hit files — delete claimed-deleted rows (matched AND
    // by-source), apply the winning update's SET per side, carry
    // everything else
    val survivors =
      if (removes.isEmpty) None
      else {
        val joined = scanFiles(spark, path, snap, removes, keepFname = false)
          .join(srcS, keyCols, "left")
        Some(joined.filter(!when(m, delP).otherwise(bsDelP))
          .select(tableCols.map { c =>
            val afterMatched =
              upds.foldRight(col(c)) { case ((fire, set), acc) =>
                if (set.contains(c))
                  when(m && fire, set(c).cast(colType(c))).otherwise(acc)
                else acc
              }
            bsUpds.foldRight(afterMatched) { case ((fire, set), acc) =>
              if (set.contains(c))
                when(!m && fire, set(c).cast(colType(c))).otherwise(acc)
              else acc
            }.as(c)
          }: _*))
      }
    // insert side: anti-join the SOURCE against the matched keys
    // (metadata-scale), never a second scan of the table; multiple
    // clauses fold first-fire-wins into ONE select
    val inserts =
      if (notMatched.isEmpty) None
      else Some(notMatchedRows(
        srcS.join(probe.filter(col("__m")).select(keyCols.map(col): _*)
          .distinct(), keyCols, "left_anti"),
        notMatched, tableCols, c => colType(c)))
    val adds = dropEmpty(path, writeSides(spark, path,
      survivors.map(withChecks(spark, path, _)),
      inserts.map(withChecks(spark, path, _)), 1, removes.size, clusterBy))
    if (adds.isEmpty && removes.isEmpty) return base // nothing fired
    try commitRewrite(path, base, "merge", adds, removes,
      CommuteNonOverlapping)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** Write a keyed rewrite's survivors (when any file was hit) and its
    * inserts, each side into its OWN files: one file per hit file when
    * clustered (range-partitioned and sorted on `clusterBy`, so a merge
    * does not erode the layout's pruning tightness), else one; inserts
    * into `insertFiles`. One write of the union would put both sides in
    * the same file — Spark zips equally-partitioned union children —
    * and that file's min/max stats would span the rewritten keys AND
    * the inserted ones, pruning neither. May return zero-row adds. */
  private def writeSides(spark: SparkSession, path: String,
      survivors: Option[DataFrame], inserts: Option[DataFrame],
      insertFiles: Int, nHit: Int, clusterBy: Seq[Column])
      : Seq[TxnAdd] = {
    def write(df: DataFrame, n: Int) = writeDataPrepared(spark, path,
      if (clusterBy.isEmpty) df.repartition(n)
      else df.repartitionByRange(n, clusterBy: _*)
        .sortWithinPartitions(clusterBy: _*))
    survivors.toSeq.flatMap(write(_, if (clusterBy.isEmpty) 1 else nHit)) ++
      inserts.toSeq.flatMap(write(_, insertFiles))
  }

  /** First-fire-wins over ordered MERGE clauses: a clause fires where
    * its condition holds (NULL reads as false) and no earlier clause
    * fired, so the returned per-clause fire predicates are disjoint. */
  private def firePredicates(conds: Seq[Option[Column]]): Seq[Column] = {
    var claimed: Column = lit(false)
    conds.map { c =>
      val fire = !claimed && coalesce(c.getOrElse(lit(true)), lit(false))
      claimed = claimed || fire
      fire
    }
  }

  /** WHEN MATCHED or NOT MATCHED BY SOURCE clauses as (SET, condition),
    * `None` for DELETE, folded into (delete-fire, per-update
    * (fire, SET)). */
  private def deleteAndUpdates(
      clauses: Seq[(Option[Map[String, Column]], Option[Column])])
      : (Column, Seq[(Column, Map[String, Column])]) = {
    val fired = clauses.map(_._1).zip(firePredicates(clauses.map(_._2)))
    (fired.collect { case (None, f) => f }.foldLeft(lit(false))(_ || _),
      fired.collect { case (Some(set), f) => (f, set) })
  }

  private def matchedClauses(matched: Seq[MergeMatched]) = matched.map {
    case MatchedUpdate(set, c) => (Some(set), c)
    case MatchedDelete(c) => (None, c)
  }

  private def bySourceClauses(bySource: Seq[MergeBySource]) = bySource.map {
    case BySourceUpdate(set, c) => (Some(set), c)
    case BySourceDelete(c) => (None, c)
  }

  /** Fold ordered WHEN NOT MATCHED insert clauses over the unmatched
    * source slice into one select: first clause whose condition passes
    * claims the row; unspecified columns NULL-fill. */
  private def notMatchedRows(cand: DataFrame,
      notMatched: Seq[NotMatchedInsert], tableCols: Seq[String],
      colType: String => org.apache.spark.sql.types.DataType): DataFrame = {
    val clauses =
      firePredicates(notMatched.map(_.cond)).zip(notMatched.map(_.values))
    val anyIns = clauses.map(_._1).foldLeft(lit(false))(_ || _)
    cand.filter(anyIns).select(tableCols.map { c =>
      clauses.foldRight(lit(null).cast(colType(c)): Column) {
        case ((fire, values), acc) =>
          when(fire, values.get(c).map(_.cast(colType(c)))
            .getOrElse(lit(null).cast(colType(c)))).otherwise(acc)
      }.as(c)
    }: _*)
  }

  /** [[mergeInto]] (ordered WHEN MATCHED clauses + conditioned insert)
    * at MERGE-ON-READ cost: every clause-claimed row is marked dead by
    * position in a DV — delete-claimed rows stay dead, update-claimed
    * rows are re-appended with the winning clause's SET applied, and
    * the NOT MATCHED inserts append alongside — ONE `dvmerge` commit
    * carrying the adds and the DV reassignments, ZERO pre-existing
    * data files rewritten. One table pass: the matched join slice is
    * materialized once (O(matched rows) — batch scale) and yields the
    * fired positions, the update images, and the matched-key set the
    * insert side anti-joins; clause semantics (first-fire-wins,
    * duplicate-source reject, NULL keys fall through to insert) are
    * [[mergeInto]]'s, spec-pinned against it. */
  def mergeIntoMor(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], matched: Seq[MergeMatched],
      notMatched: Seq[NotMatchedInsert] = Nil,
      partitions: Int = 1,
      bySource: Seq[MergeBySource] = Nil): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val (live, deleted, files) = liveWithPos(spark, path, snap)
    val tableCols = live.columns.toSeq
      .filterNot(c => c == "__fname" || c == "__pos")
    val schema = live.select(tableCols.map(col): _*).schema
    val srcS = source.select(
      keyCols.map(col) :+
        struct(source.columns.map(col): _*).as(SrcStruct): _*)
    val dup = srcS.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*).count().filter(col("count") > 1)
    require(dup.isEmpty,
      "mergeIntoMor: multiple source rows match the same key " +
        dup.limit(3).collect().mkString(", "))
    // ONE table pass: the LEFT-joined slice pins positions, fire
    // flags, and the source struct the update images are computed
    // from; by-source clauses (unmatched target rows) ride the same
    // pass — only matched + by-source-fired rows materialize. A fired
    // row dies by DV position; update images (matched AND by-source)
    // re-append alongside the NOT MATCHED inserts, ONE commit.
    val (delP, upds) = deleteAndUpdates(matchedClauses(matched))
    val anyMatchedFire = upds.map(_._1).foldLeft(delP)(_ || _)
    val (bsDelP, bsUpds) = deleteAndUpdates(bySourceClauses(bySource))
    val anyBsFire = bsUpds.map(_._1).foldLeft(bsDelP)(_ || _)
    val m = col(SrcStruct).isNotNull
    val matchedRows = live.join(srcS, keyCols, "left")
      .withColumn("__m", m)
      .withColumn("__del", when(m, delP).otherwise(bsDelP))
      .withColumn("__fire", when(m, anyMatchedFire).otherwise(anyBsFire))
      .filter(col("__m") || col("__fire"))
      .localCheckpoint()
    val hits = matchedRows.filter(col("__fire"))
      .select(col("__fname").as("file"), col("__pos").as("pos"))
    val hitNames = fileNames(hits.select(col("file")))
    if (hitNames.isEmpty && notMatched.isEmpty) return base // nothing fired
    val updatedMatched = matchedRows
      .filter(col("__m") && col("__fire") && !col("__del"))
      .select(tableCols.map { c =>
        upds.foldRight(col(c)) { case ((fire, set), acc) =>
          if (set.contains(c))
            when(fire, set(c).cast(schema(c).dataType)).otherwise(acc)
          else acc
        }.as(c)
      }: _*)
    val updatedBySource = matchedRows
      .filter(!col("__m") && col("__fire") && !col("__del"))
      .select(tableCols.map { c =>
        bsUpds.foldRight(col(c)) { case ((fire, set), acc) =>
          if (set.contains(c))
            when(fire, set(c).cast(schema(c).dataType)).otherwise(acc)
          else acc
        }.as(c)
      }: _*)
    val inserts =
      if (notMatched.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        val matchedKeys = matchedRows.filter(col("__m"))
          .select(keyCols.map(col): _*).distinct()
        notMatchedRows(srcS.join(matchedKeys, keyCols, "left_anti"),
          notMatched, tableCols, c => schema(c).dataType)
      }
    val newRows = updatedMatched.unionByName(updatedBySource)
      .unionByName(inserts)
    val adds = dropEmpty(path, writeData(spark, path,
      withChecks(spark, path, newRows), partitions))
    commitMorChanges(spark, path, base, "dvmerge", files, hitNames, hits,
      deleted, adds)
  }

  /** The tail every MERGE-ON-READ change shares: write the hit files'
    * replacement DV (when any row was hit) and publish it with `adds` in
    * ONE commit. Nothing hit and nothing added returns `base`. Staged
    * files are cleaned on abort. */
  private def commitMorChanges(spark: SparkSession, path: String,
      base: Long, op: String, files: Seq[String], hitNames: Set[String],
      hits: DataFrame, deleted: Map[String, Roaring64Bitmap],
      adds: Seq[TxnAdd]): Long = {
    if (hitNames.isEmpty && adds.isEmpty) return base
    val (dvs, dvFile) =
      if (hitNames.isEmpty) (Nil, None)
      else
        try {
          val (d, f) = buildDvs(spark, path, files, hitNames, hits, deleted)
          (d, Some(f))
        } catch { case e: Throwable => cleanupStaged(path, adds); throw e }
    try commitDvs(path, base, op, dvs, adds)
    catch { case e: Throwable => cleanupStaged(path, adds, dvFile); throw e }
  }

  /** Keyed anti-delete: atomically delete every current row whose
    * `keyCols` tuple appears in `keys` — [[merge]] without the insert.
    * Unlike [[deleteWhere]], the doomed set is a DataFrame joined
    * distributively, not a driver-evaluated predicate — the shape a
    * reconciliation pass needs when the keys to remove are themselves
    * the output of a join (StreamDedup.reconcile). */
  def deleteMatching(spark: SparkSession, path: String, keys: DataFrame,
      keyCols: Seq[String]): Long =
    rewriteByKeys(spark, path, keys.select(keyCols.map(col): _*),
      keyCols, None, 1, Nil, -1L)

  /** Apply a keyed CHANGE BATCH as ONE commit: delete every current row
    * whose key appears in `keys`, insert the `upserts` rows —
    * [[merge]] generalized to carry deletes (a CDC consumer's apply
    * primitive: keys = every changed key, upserts = after-images of
    * inserts+updates; a delete is a key with no upsert row). `op` lets
    * an exactly-once consumer record its stream marker on the same
    * commit ([[streamHighWater]]), so apply+marker is atomic. */
  def applyChanges(spark: SparkSession, path: String, keys: DataFrame,
      upserts: DataFrame, keyCols: Seq[String], partitions: Int = 1,
      clusterBy: Seq[Column] = Nil, op: String = "merge"): Long =
    rewriteByKeys(spark, path, keys, keyCols, Some(upserts), partitions,
      clusterBy, -1L, op)

  /** [[applyChanges]] at MERGE-ON-READ cost: matched current rows are
    * marked dead by position in a DV instead of rewriting their files,
    * the upsert after-images are appended as fresh files, ONE atomic
    * commit carries both (plus the caller's `op` marker — exactly-once
    * CDC apply stays atomic). The per-batch cost of a continuously
    * replicated table drops from O(bytes of every file containing a
    * changed key) to O(changed rows); compaction stays the
    * read-amplification escape valve. NULL-keyed upsert rows never
    * match (SQL equality) and are simply appended, like [[merge]].
    * A no-change batch (no match, no upsert) returns the base version
    * — callers needing a marker regardless use [[commitMarker]]. */
  def applyChangesMor(spark: SparkSession, path: String, keys: DataFrame,
      upserts: DataFrame, keyCols: Seq[String], partitions: Int = 1,
      op: String = "dvmerge"): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val (live, deleted, files) = liveWithPos(spark, path, snap)
    // semi-join: duplicate keys cannot multiply hits, no distinct needed
    val hits = live.join(keys.select(keyCols.map(col): _*), keyCols,
        "left_semi")
      .select(col("__fname").as("file"), col("__pos").as("pos"))
      .localCheckpoint()
    val hitNames = fileNames(hits.select(col("file")))
    checkSchema(path, upserts, evolveSchema = false)
    val tableCols = live.columns.toSeq
      .filterNot(c => c == "__fname" || c == "__pos")
    val adds = dropEmpty(path, writeData(spark, path, withChecks(spark, path,
      upserts.select(tableCols.map(col): _*)), partitions))
    commitMorChanges(spark, path, base, op, files, hitNames, hits,
      deleted, adds)
  }

  /** [[merge]] (keyed upsert) at MERGE-ON-READ cost — replace every
    * current row whose key appears in `df` with `df`'s row, via
    * [[applyChangesMor]]. */
  def mergeMor(spark: SparkSession, path: String, df: DataFrame,
      keyCols: Seq[String], partitions: Int = 1): Long =
    applyChangesMor(spark, path, df.select(keyCols.map(col): _*), df,
      keyCols, partitions)

  /** Commit a METADATA-ONLY marker (no adds, no removes — logical
    * content unchanged): the carrier for stream high-water marks when a
    * batch changes no data (e.g. a replicated version range that was
    * all vacuum/compaction), Delta's bare `txn` action. Retries version
    * races — a marker conflicts with nothing logically. */
  def commitMarker(path: String, op: String, maxAttempts: Int = 20): Long = {
    var attempt = 0
    while (true) {
      val v = currentVersion(path) + 1
      require(v > 0, s"commitMarker: not a table: $path")
      preCommitHook()
      try { tryCommit(path, TxnCommit(v, op, Nil, Nil)); return v }
      catch {
        case e: TxnConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Active CHECK constraints of the table head (name → SQL). */
  def constraints(path: String): Map[String, String] =
    head(path).fold(Map.empty[String, String])(_.constraints)

  class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** ADD CONSTRAINT <name> CHECK (<exprSql>): validates that EVERY
    * existing row satisfies the expression (SQL CHECK semantics — a
    * NULL result satisfies), then records it as a metadata commit;
    * from that commit on, every write that brings NEW row content
    * (append / overwrite / merge / applyChanges / update / MOR update
    * / stream batches) enforces it IN the write job — single pass, no
    * second scan ([[withChecks]]). A conflict during the commit race
    * re-validates against the fresh snapshot, so an interleaved append
    * of violating rows aborts the add instead of slipping past it. */
  def addConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String, maxAttempts: Int = 20): Long = {
    require(name.matches("[A-Za-z0-9_\\-]+"),
      s"constraint name must be alphanumeric/_/-: $name")
    require(!constraints(path).contains(name),
      s"constraint $name already exists")
    var attempt = 0
    while (true) {
      val base = currentVersion(path)
      val violating = read(spark, path)
        .filter(!coalesce(expr(exprSql), lit(true)))
      if (!violating.isEmpty)
        throw new ConstraintViolationException(
          s"cannot add CHECK constraint $name ($exprSql): " +
            s"existing rows violate it, e.g. ${violating.head()}")
      preCommitHook()
      try {
        tryCommit(path, TxnCommit(base + 1,
          s"constraint:add:$name:$exprSql", Nil, Nil))
        return base + 1
      } catch {
        case e: TxnConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1 // loop re-validates the fresh snapshot
      }
    }
    -1L // unreachable
  }

  /** DROP CONSTRAINT: a metadata commit; false if it did not exist. */
  def dropConstraint(path: String, name: String): Boolean =
    if (!constraints(path).contains(name)) false
    else { commitMarker(path, s"constraint:drop:$name"); true }

  // -- table properties (ALTER TABLE SET/UNSET TBLPROPERTIES) --------------
  //
  // Properties are TABLE STATE, not session state: flipping
  // `graft.mor` (DML routing) or `graft.targetBytes` (bin-pack sizing)
  // after the table grows is a METADATA COMMIT every subsequent
  // session and statement observes — folded from `tblprops:set:<json>`
  // / `tblprops:unset:<json>` ops, checkpoint-amortized like
  // constraints. Engine-reserved `graft.*` keys are validated at SET
  // time (a typo like `graft.morr` silently ignored forever is worse
  // than an error); everything else is free-form user metadata.

  private def parsePropsOp(json: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    JsonMethods.parse(json) match {
      case JObject(fields) =>
        fields.map { case (k, v) => k -> v.extract[String] }.toMap
      case _ => Map.empty
    }
  }

  private def parseKeysOp(json: String): Seq[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    JsonMethods.parse(json) match {
      case JArray(arr) => arr.map(_.extract[String])
      case _ => Nil
    }
  }

  /** The table head's properties (key → value). */
  def properties(path: String): Map[String, String] =
    head(path).fold(Map.empty[String, String])(_.props)

  /** [[properties]] at a pinned version — the CBO injection reads
    * histograms at the plan's snapshot, never the racing head. */
  def propertiesAt(path: String, asOf: Long): Map[String, String] =
    if (asOf < 0) properties(path) else snapshot(path, asOf).props

  /** How many table scans a [[computeHistogram]] ran — the ANALYZE
    * pass is batched (one quantile aggregate for ALL columns, one
    * combined per-bin-ndv pass, one MCV pass for all string columns),
    * so a 10-column ANALYZE costs 2 scans, not 20. */
  val AnalyzeScans: OpMetrics.Key[Int] = OpMetrics.Key.latest("analyze_scans")

  /** `ANALYZE TABLE … COMPUTE HISTOGRAM`: per-column equi-HEIGHT
    * histograms — bin endpoints at i/bins approximate quantiles (one
    * aggregate pass), per-bin distinct counts (one grouped pass) —
    * persisted as table properties (`graft.hist.<col>` →
    * `{"h":height,"bins":[[lo,hi,ndv],…]}`) riding an ordinary
    * tblprops commit. The CBO injection then maps them onto
    * `CatalogColumnStat.histogram` straight from the LOG: planning
    * stays zero-footer at any scale, and the skewed-column blind spot
    * of the uniform min/max estimate closes. Estimation-only state:
    * an explicit user-invoked scan (exactly like ANALYZE), recorded
    * as-of the analyzed version; data committed later simply ages it,
    * correctness never depends on freshness. */
  def computeHistogram(spark: SparkSession, path: String,
      columns: Seq[String], bins: Int = 64): Long = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    require(bins >= 2 && bins <= 254, s"bins must be in [2,254], got $bins")
    require(columns.nonEmpty, "computeHistogram: no columns given")
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"computeHistogram: not a TxnTable: $path"))
    val df = scanOf(spark, path, snap)
    val fields = columns.map { c =>
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"computeHistogram: no column $c in $path"))
    }
    val numFields = fields.filter(_.dataType.isInstanceOf[NumericType])
    val strFields = fields.filter(_.dataType == StringType)
    fields.foreach(f => require(
      f.dataType.isInstanceOf[NumericType] || f.dataType == StringType,
      s"computeHistogram: ${f.name} is ${f.dataType.simpleString} — " +
        "numeric columns get equi-height histograms, string columns " +
        "get MCV frequency stats"))
    var scans = 0
    val pct = (0 to bins).map(i => i.toDouble / bins)
    // PASS 1 — ONE aggregate over the table for the NUMERIC columns:
    // every column's equi-height endpoints + non-null count. String
    // columns do not appear here at all — their exact ndv and
    // non-null count fall out of the MCV pass below for free (ndv =
    // the pair-group count, nonnull = the frequency sum), so a
    // string-only ANALYZE is ONE scan. The per-column serial loop
    // this replaced cost 2 scans PER column.
    val p1 = numFields.flatMap { f =>
      val v = col(f.name).cast("double")
      Seq(percentile_approx(v, typedlit(pct), lit(10000))
          .as(s"q_${f.name.toLowerCase}"),
        count(col(f.name)).as(s"n_${f.name.toLowerCase}"))
    }
    val r1 = if (p1.isEmpty) null else df.agg(p1.head, p1.tail: _*).head()
    if (p1.nonEmpty) scans += 1
    def longAt(nm: String): Long = r1.getLong(r1.fieldIndex(nm))
    // PASS 2 — ONE combined per-bin ndv aggregate for ALL numeric
    // columns: approx_count_distinct(when(bin==b, v)) per (col, bin);
    // a null value never matches a bin, so each sketch sees exactly
    // the per-bin value set the old grouped pass saw.
    val histProps: Seq[(String, String)] = if (numFields.isEmpty) Nil else {
      val perCol = numFields.map { f =>
        val nm = f.name.toLowerCase
        require(!r1.isNullAt(r1.fieldIndex(s"q_$nm")) && longAt(s"n_$nm") > 0,
          s"computeHistogram: ${f.name} has no non-null values")
        val ends = r1.getSeq[Double](r1.fieldIndex(s"q_$nm")).toArray
        (f, ends, longAt(s"n_$nm"))
      }
      val ndvAggs = perCol.flatMap { case (f, ends, _) =>
        val v = col(f.name).cast("double")
        // bin id = endpoints strictly below the value (ties go low —
        // the estimator only needs bins that cover the range)
        val binId = (1 until bins)
          .map(i => (v > lit(ends(i))).cast("int"))
          .reduceOption[Column](_ + _).getOrElse(lit(0))
        (0 until bins).map(b => approx_count_distinct(
          when(binId === b, v)).as(s"h_${f.name.toLowerCase}_$b"))
      }
      val r2 = df.agg(ndvAggs.head, ndvAggs.tail: _*).head()
      scans += 1
      perCol.map { case (f, ends, n) =>
        val nm = f.name.toLowerCase
        val binsJson = (0 until bins).map(i =>
          s"[${ends(i)},${ends(i + 1)}," +
            s"${r2.getLong(r2.fieldIndex(s"h_${nm}_$i"))}]")
          .mkString("[", ",", "]")
        s"graft.hist.$nm" -> s"""{"h":${n.toDouble / bins},"bins":$binsJson}"""
      }
    }
    // PASS 2b (strings) — ONE pass for ALL string columns together:
    // explode to (colIdx, value), partial-agg counts, then per column
    // in the SAME aggregate: top-32 via the mergeable TopKRowsAgg
    // heap (O(32) per column to the driver, never a value-set sort),
    // EXACT ndv (the pair-group count — the groupBy already holds one
    // row per distinct value) and non-null count (the frequency sum).
    // The MCV list + exact ndv is what the CBO needs to price a
    // SKEWED string equality honestly — 1/ndv alone calls the 99%
    // value as rare as every other.
    val mcvProps: Seq[(String, String)] = if (strFields.isEmpty) Nil else {
      val pairs = df.select(explode(array(strFields.zipWithIndex.map {
          case (f, i) => struct(lit(i).as("i"), col(f.name).as("v")) }: _*))
          .as("p"))
        .select(col("p.i").as("i"), col("p.v").as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("i"), col("v")).agg(count(lit(1)).as("c"))
      val tops = pairs.groupBy(col("i"))
        .agg(graft.plans.TopKRowsAgg.top_k_rows(32,
          struct(col("v"), col("c")), col("c").desc, col("v")).as("top"),
          count(lit(1)).as("ndv"), sum(col("c")).as("nonnull"))
        .collect()
      scans += 1
      val byIdx = tops.map(r => r.getInt(0) ->
        ((r.getSeq[org.apache.spark.sql.Row](1)
            .map(h => (h.getString(0), h.getLong(1))),
          r.getLong(2), r.getLong(3)))).toMap
      strFields.zipWithIndex.map { case (f, i) =>
        val nm = f.name.toLowerCase
        require(byIdx.contains(i),
          s"computeHistogram: ${f.name} has no non-null values")
        val (mcv, ndv, nonnull) = byIdx(i)
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val j = JObject(
          "ndv" -> JLong(ndv),
          "nonnull" -> JLong(nonnull),
          "mcv" -> JArray(mcv.toList.map { case (v, c) =>
            JArray(List(JString(v), JLong(c))) }))
        s"graft.mcv.$nm" -> JsonMethods.compact(JsonMethods.render(j))
      }
    }
    OpMetrics.record(AnalyzeScans, scans)
    setProperties(path, (histProps ++ mcvProps).toMap)
  }

  /** SET TBLPROPERTIES: one metadata commit carrying every pair.
    * `graft.*` keys are engine-reserved and validated here —
    * `graft.mor` (true|false, re-routes subsequent DML),
    * `graft.targetFiles` (positive int, clustered-layout width),
    * `graft.targetBytes` (positive long, bin-pack target). */
  def setProperties(path: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties: no properties given")
    props.foreach { case (k, v) =>
      if (k.startsWith("graft.")) k match {
        case "graft.mor" => require(
          v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
          s"graft.mor must be true or false, got '$v'")
        case "graft.targetFiles" => require(
          scala.util.Try(v.toInt).toOption.exists(_ > 0),
          s"graft.targetFiles must be a positive int, got '$v'")
        case "graft.targetBytes" => require(
          scala.util.Try(v.toLong).toOption.exists(_ > 0),
          s"graft.targetBytes must be a positive long, got '$v'")
        case "graft.clusterBy" => require(v.trim.nonEmpty,
          "graft.clusterBy must name at least one column")
        // per-column equi-height histograms / string MCV stats
        // ([[computeHistogram]] — the CBO reads them back defensively,
        // malformed JSON is simply not injected)
        case h if h.startsWith("graft.hist.") => require(v.trim.nonEmpty,
          s"$h must carry the histogram JSON")
        case m if m.startsWith("graft.mcv.") => require(v.trim.nonEmpty,
          s"$m must carry the MCV JSON")
        case other => throw new IllegalArgumentException(
          s"unknown engine property $other — graft.* keys are " +
            "reserved (known: graft.mor, graft.targetFiles, " +
            "graft.targetBytes, graft.clusterBy, graft.hist.<col>, " +
            "graft.mcv.<col>); use an unprefixed key for user metadata")
      }
    }
    val json = props.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    commitMarker(path, s"tblprops:set:$json")
  }

  /** UNSET TBLPROPERTIES [IF EXISTS]: a metadata commit; keys not
    * present are refused unless `ifExists` (SQL semantics). */
  def unsetProperties(path: String, keys: Seq[String],
      ifExists: Boolean = false): Long = {
    require(keys.nonEmpty, "unsetProperties: no keys given")
    val have = properties(path)
    val missing = keys.filterNot(have.contains)
    require(missing.isEmpty || ifExists,
      s"unsetProperties: no such properties ${missing.mkString(", ")} " +
        "— use IF EXISTS")
    val present = keys.filter(have.contains)
    if (present.isEmpty) return currentVersion(path)
    val json = present.sorted
      .map(k => s""""${esc(k)}"""").mkString("[", ",", "]")
    commitMarker(path, s"tblprops:unset:$json")
  }

  /** Enforce the table's CHECK constraints on `df` INSIDE the write
    * job that consumes it: each row is guarded by an `assert_true`
    * that throws (with the constraint name) on a FALSE check — a NULL
    * check satisfies, per SQL. Zero extra passes: the guard is a
    * codegen'd filter that keeps every passing row, so the write plan
    * is unchanged except for the inline assertion; tables with no
    * constraints get `df` back untouched. */
  private def withChecks(spark: SparkSession, path: String,
      df: DataFrame): DataFrame = {
    val cs =
      try constraints(path)
      catch { case _: IllegalArgumentException => Map.empty[String, String] }
    if (cs.isEmpty) df
    else df.filter(cs.toSeq.sortBy(_._1).map { case (n, sql) =>
      coalesce(
        assert_true(coalesce(expr(sql), lit(true)),
          lit(s"CHECK constraint $n violated: $sql")),
        lit(true))
    }.reduce(_ && _))
  }

  /** Re-validate already-STAGED files against constraints added since
    * they were written: a retrying append that lost its version race
    * to a concurrent [[addConstraint]] enforced the OLD constraint set
    * inside its write job ([[withChecks]]), so the staged rows were
    * never checked against the fresh CHECK — without this, violating
    * rows would slip past enforcement (addConstraint only re-validates
    * when IT loses the race). One scan of just the staged tranche, and
    * only when the set actually changed. Returns the fresh set as the
    * retry's new baseline. */
  private def revalidateStaged(spark: SparkSession, path: String,
      adds: Seq[TxnAdd], csAtStage: Map[String, String])
      : Map[String, String] = {
    val csNow =
      try constraints(path)
      catch { case _: IllegalArgumentException => Map.empty[String, String] }
    val fresh = csNow.filter { case (n, sql) => !csAtStage.get(n).contains(sql) }
    if (fresh.nonEmpty && adds.nonEmpty) {
      // staged files store PHYSICAL names (column mapping); constraint
      // SQL speaks logical — alias before validating
      val raw = spark.read.parquet(
        adds.map(a => localRoot(path).resolve(a.path).toString): _*)
      val staged = currentSchema(path)
        .map(toLogical(raw, _)).getOrElse(raw)
      fresh.toSeq.sortBy(_._1).foreach { case (n, sql) =>
        val viol = staged.filter(!coalesce(expr(sql), lit(true)))
        if (!viol.isEmpty)
          throw new ConstraintViolationException(
            s"CHECK constraint $n ($sql) was added concurrently and the " +
              s"staged rows violate it, e.g. ${viol.head()}")
      }
    }
    csNow
  }

  private def rewriteByKeys(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String], insert: Option[DataFrame],
      partitions: Int, clusterBy: Seq[Column], expectedBase: Long,
      op: String = "merge"): Long = {
    val snap = snapshot(path)
    val base = snap.version
    // CAS guard: a caller that computed its input FROM a snapshot (e.g.
    // TxnIndex.upsert's replaced-doc stats) passes that snapshot's
    // version; a commit that landed in between makes those inputs stale,
    // so fail the merge up front instead of committing a wrong fold.
    if (expectedBase >= 0 && base != expectedBase)
      throw new TxnConflictException(base)
    val files = snap.files
    // Null-keyed rows match nothing under SQL equality; drop them from
    // the match set so an all-null bookkeeping row doesn't plan a join
    // that can never hit. Semi/anti joins ignore duplicate keys, so the
    // key set needs no distinct.
    val matchable = keys.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    insert.foreach(d => checkSchema(path, d, evolveSchema = false))
    // Schema-pinned read (snapshotReader): on a schema-evolved table the
    // survivor rewrite must see the evolved shape — parquet inference
    // from an old-generation footer would silently drop evolved columns
    // from the rewritten files (permanent data loss in the new commit).
    // LOGICAL surface (column mapping): tableCols from the aliased frame
    val withName = scanFiles(spark, path, snap, files, keepFname = true)
    val tableCols = withName.columns.toSeq.filterNot(_ == "__fname")
    // One probe pass collects the hit files' names to the driver once —
    // metadata-scale, the commit's `removes`; the rewrite scans only them
    val removes = hitFiles(path, files, fileNames(
      withName.join(matchable, keyCols, "left_semi").select(col("__fname"))))
    // USING joins hoist the key columns to the front — restore the
    // table's column order so rewritten files match the schema.
    val survivors =
      if (removes.isEmpty) None
      else Some(scanFiles(spark, path, snap, removes, keepFname = false)
        .join(matchable, keyCols, "left_anti")
        .select(tableCols.map(col): _*))
    val inserts = insert.map(withChecks(spark, path, _))
    if (survivors.isEmpty && inserts.isEmpty) return base // no-op delete
    val adds = dropEmpty(path, writeSides(spark, path, survivors, inserts,
      partitions, removes.size, clusterBy))
    if (adds.isEmpty && removes.isEmpty) return base // no-op merge
    // CAS callers derived their INPUT from the base snapshot — never
    // rebase those; a plain merge commutes with non-overlapping commits
    val policy = if (expectedBase >= 0) NoRebase else CommuteNonOverlapping
    try commitRewrite(path, base, op, adds, removes, policy)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** AUTO-MAINTENANCE policy: compact when the snapshot's physical
    * shape has degraded past either threshold — too many files (write
    * amplification / footer overhead) or too large a MOR-DELETED row
    * fraction (read amplification: every scan reads and filters out the
    * dead rows until a rewrite materializes them). Returns the
    * compaction's version when it ran, None when the table is healthy.
    * Both signals are metadata-cheap and cost no Spark job: file count
    * from the snapshot, live row counts from the adds, dead positions
    * by summing each live file's set from its CURRENT DV
    * ([[deletedAt]], memoized) — exact even though a cumulative DV file
    * can carry superseded positions for OTHER data files. The policy
    * is advisory and race-tolerant: the compact itself rebases/aborts
    * under the normal conflict rules. */
  def maybeCompact(spark: SparkSession, path: String,
      maxFiles: Int = 64, maxDeadFrac: Double = 0.2,
      targetFiles: Int = 1): Option[Long] = {
    val snap = snapshot(path)
    val base = snap.version
    val files = snap.files
    val dvm = snap.dvs
    val degraded =
      if (files.size > maxFiles) true
      else if (dvm.isEmpty) false
      else {
        val totalRows = files.flatMap(snap.allAdds.get).map(_.rows).sum
        val dead = deletedAt(spark, path, dvm).values
          .map(_.getLongCardinality).sum
        totalRows > 0 && dead.toDouble / totalRows > maxDeadFrac
      }
    if (degraded) Some(compact(spark, path, targetFiles)) else None
  }

  /** Fold the current snapshot into `targetFiles` files. Purely physical:
    * the logical content is unchanged, old versions stay readable (their
    * files are never deleted).
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1): Long = {
    val snap = snapshot(path)
    val base = snap.version
    val files = snap.files
    // schema-pinned like every rewrite: compacting a schema-evolved
    // table must not lose evolved columns to single-footer inference
    val adds = writeData(spark, path,
      scanFiles(spark, path, snap, files, keepFname = false), targetFiles)
    try commitRewrite(path, base, "compact", adds, files,
      CommuteNonOverlapping)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** The OPTIMIZE statement's bin-pack: UNCONDITIONALLY fold the
    * snapshot's eligible files — small files (`< targetBytes`, the
    * write-amplification tail) plus every DV-carrying file (folding
    * materializes its deletes) — into ~`targetBytes` bins, leaving
    * healthy large files untouched. Unlike [[maybeCompact]] (the
    * policy-gated auto-maintenance), an explicit OPTIMIZE always runs
    * on eligible files; and unlike [[compact]] it never rewrites the
    * whole table — at 100 TB an OPTIMIZE after a streaming day folds
    * the day's small-file tail, not the archive. Sizing comes from the
    * log's add metadata (zero footer reads). Returns the compaction's
    * version, or the UNCHANGED head when nothing is eligible (fewer
    * than two small files and zero DVs) — the caller-distinguishable
    * no-op signal. */
  def binPack(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val snap = snapshot(path)
    binPackFiles(spark, path, snap, snap.files, targetBytes)
  }

  /** [[binPack]] SCOPED by a range predicate on `column` (physical
    * int64 bounds, like [[readPruned]]/[[countRange]]): only eligible
    * files whose LOGGED [min, max] intersects [lo, hi] fold — the
    * "re-pack the hot partition's tail" maintenance shape. At 100 TB
    * an OPTIMIZE after a day of banded ingest touches that band's
    * small files and nothing else; scoping comes entirely from the
    * commit log's write-time stats (zero footer reads — files without
    * stats for `column` are conservatively IN scope, same rule as
    * every pruned read). */
  def binPackWhere(spark: SparkSession, path: String, column: String,
      lo: Long, hi: Long,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val (schema, snap) = snapshotSchemaFenced(spark, path, -1L)
    requireIntegral(schema, column, "binPackWhere")
    binPackFiles(spark, path, snap,
      selectFiles(spark, path, snap, Seq(Bound.LongRange(column, lo, hi))),
      targetBytes)
  }

  /** The shared bin-pack tail: fold `scope`'s eligible files (small or
    * DV-carrying) into ~targetBytes bins; unchanged head when nothing
    * is eligible. */
  private def binPackFiles(spark: SparkSession, path: String,
      snap: Snapshot, scope: Seq[String], targetBytes: Long): Long = {
    val base = snap.version
    val ai = snap.allAdds
    val dvm = snap.dvs
    val candidates = scope.filter(f =>
      dvm.contains(f) || ai.get(f).exists(_.bytes < targetBytes))
    if (candidates.size < 2 && !candidates.exists(dvm.contains))
      return base // nothing to fold: head unchanged IS the signal
    val totalBytes = candidates.flatMap(ai.get).map(_.bytes).sum
    val bins = math.max(1,
      math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val adds = writeData(spark, path,
      scanFiles(spark, path, snap, candidates, keepFname = false), bins)
    try commitRewrite(path, base, "compact", adds, candidates,
      CommuteNonOverlapping)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** The physical layout for 1, 2 or 3 cluster columns — RANGE
    * clustering (what [[createClustered]] lays out at birth), Morton2
    * or Morton3 (21 bits/dim) z-order — as `(scan, files) => frame`,
    * partitioned and sorted for writeDataPrepared. Fails before any
    * work on any other column count. */
  private def clusterLayout(cols: Seq[Column]): (DataFrame, Int) => DataFrame = {
    require(cols.nonEmpty && cols.size <= 3,
      s"1-3 cluster columns, got ${cols.size}")
    cols match {
      case Seq(a) =>
        (scan, n) => scan.repartitionByRange(n, a).sortWithinPartitions(a)
      case Seq(a, b) =>
        (scan, n) => graft.operators.Layout.zorderPartitions(scan, a, b, n)
      case Seq(a, b, c) =>
        (scan, n) => graft.operators.Layout.zorderPartitions3(scan, a, b, c, n)
    }
  }

  /** A cluster layout's default file count: 16 for 1–2 columns, 27
    * for 3. */
  def clusterWidth(nCols: Int): Int = if (nCols == 3) 27 else 16

  /** [[compactClustered]] at the layout's default width
    * ([[clusterWidth]]). */
  def compactClustered(spark: SparkSession, path: String,
      cols: Seq[Column]): Long =
    compactClustered(spark, path, cols, clusterWidth(cols.size))

  /** Fold the current snapshot into `targetFiles` files clustered on
    * `cols` ([[clusterLayout]]: range for 1 column, z-order for 2 or
    * 3) — the OPTIMIZE-with-clustering role: each rewritten file owns
    * a compact range on every cluster column, so its parquet footer
    * min/max become box-prunable ([[readPruned]] over several bounds
    * multiplies their selectivities) — data skipping inside the ACID
    * table. Logical content is unchanged and history stays readable;
    * it is an ordinary compact commit. At scale the rewrite is the
    * same range-partition + local-sort shuffle any global sort costs,
    * amortized over every pruned read.
    *
    * Conflict contract — rebase-or-abort, like [[compact]] and
    * [[deleteWhere]]: losing the version race triggers the LOGICAL
    * conflict check ([[commitRewrite]]) — interleaved commits that
    * touched none of this rewrite's removes (appends, stream batches,
    * disjoint rewrites) commute, and the same adds/removes re-commit
    * at the new head without redoing the rewrite job; an interleaved
    * commit that removed one of our source files aborts with
    * [[TxnConflictException]] (blindly committing would undo that
    * writer's rows). An aborted run deletes its staged files.
    */
  def compactClustered(spark: SparkSession, path: String,
      cols: Seq[Column], targetFiles: Int): Long = {
    val layout = clusterLayout(cols)
    val snap = snapshot(path)
    val base = snap.version
    val files = snap.files
    val adds = writeDataPrepared(spark, path, layout(
      scanFiles(spark, path, snap, files, keepFname = false), targetFiles))
    try commitRewrite(path, base, "compact:cluster", adds, files,
      CommuteNonOverlapping)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** The table's UN-CLUSTERED TAIL, from log metadata alone: files
    * added since the newest cluster commit (`compact:cluster`, or a
    * clustered create) that are still live. None when the table was
    * never clustered. A tail-clustering commit is itself a cluster
    * commit, so successive tails chain correctly. */
  case class ClusterTail(clusterV: Long, tailFiles: Seq[String],
      tailBytes: Long, totalBytes: Long)

  def clusterTailInfo(path: String): Option[ClusterTail] = {
    val snap = head(path).getOrElse(return None)
    val base = snap.version
    val clusterV = commits(path, base).reverse.collectFirst {
      case c if c.op.startsWith("compact:cluster") => c.version
      case c if c.op.startsWith("create:props:") &&
        c.op.contains("\"graft.clusterBy\"") => c.version
    }.getOrElse(return None)
    val live = snap.files
    val bulk = snapshot(path, clusterV).live
    // files a SCOPED re-cluster (compact:zscope) wrote since the last
    // full/tail cluster commit are clustered too — they own compact
    // ranges — so they leave the tail WITHOUT resetting the chain
    // baseline (a zscope must not hide unclustered files outside its
    // box from the next bare ZORDER)
    val scoped = commits(path, base).filter(c =>
      c.version > clusterV && c.op == "compact:zscope")
      .flatMap(_.adds.map(_.path)).toSet
    val tail = live.filterNot(f => bulk(f) || scoped(f))
    val ai = snap.allAdds
    Some(ClusterTail(clusterV, tail,
      tail.flatMap(ai.get).map(_.bytes).sum,
      live.flatMap(ai.get).map(_.bytes).sum))
  }

  /** INCREMENTAL re-cluster: fold ONLY the un-clustered tail (files
    * added since the last cluster commit) into range/z-ordered files
    * at the persisted layout, leaving the already-clustered bulk
    * byte-for-byte untouched. At 100 TB this turns "re-cluster after
    * a week of appends" from a full-table rewrite into an
    * O(tail-bytes) job: the bulk keeps its tight per-file ranges, the
    * tail gains its own, and a box-pruned read over both is within a
    * file or two of a fresh full re-cluster's (measured in the
    * s64_zorder_tail gate). The output width is the persisted
    * targetFiles scaled by the tail's byte share (min 1), so repeated
    * tail folds do not fragment the layout. The commit op is
    * `compact:cluster`, so the NEXT tail starts after this commit.
    * 1, 2, or 3 cluster columns (range / Morton2 / Morton3 — the same
    * layouts as the full [[compactClustered]]). Unchanged head
    * when the tail is empty. */
  def compactClusteredTail(spark: SparkSession, path: String,
      cols: Seq[Column], targetFiles: Int = 16): Long = {
    val layout = clusterLayout(cols)
    val snap = snapshot(path)
    val base = snap.version
    val ct = clusterTailInfo(path).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no cluster commit — run a full re-cluster " +
          "(compactClustered) or CTAS CLUSTER BY first"))
    if (ct.tailFiles.isEmpty) return base // already fully clustered
    val bins = math.max(1, math.round(targetFiles.toDouble *
      ct.tailBytes / math.max(1L, ct.totalBytes)).toInt)
    val adds = writeDataPrepared(spark, path, layout(
      scanFiles(spark, path, snap, ct.tailFiles, keepFname = false), bins))
    try commitRewrite(path, base, "compact:cluster", adds, ct.tailFiles,
      CommuteNonOverlapping)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** SCOPED re-cluster — `OPTIMIZE t ZORDER BY (…) WHERE col BETWEEN
    * lo AND hi`: re-cluster ONLY the files whose LOGGED range on
    * `column` intersects the box (the binPackWhere stats walk — zero
    * footer reads to pick the set), at a width proportional to their
    * byte share, leaving everything outside the box byte-for-byte
    * untouched. The re-pack-the-hot-band shape: at 100 TB, fixing one
    * churned partition's layout is an O(band) job, not a table
    * rewrite and not even a tail fold. Commits as `compact:zscope` —
    * a DISTINCT op, so [[clusterTailInfo]] counts its outputs as
    * clustered without moving the chain baseline (unclustered files
    * outside the box keep their tail status for the next bare
    * ZORDER). 1/2/3 columns = range/Morton2/Morton3, the same layout
    * family as [[compactClustered]]. Unchanged head when nothing
    * intersects. */
  def compactClusteredWhere(spark: SparkSession, path: String,
      cols: Seq[Column], column: String, lo: Long, hi: Long,
      targetFiles: Int = 16): Long = {
    val layout = clusterLayout(cols)
    val (schema, snap) = snapshotSchemaFenced(spark, path, -1L)
    val base = snap.version
    requireIntegral(schema, column, "compactClusteredWhere")
    val inRange =
      selectFiles(spark, path, snap, Seq(Bound.LongRange(column, lo, hi)))
    if (inRange.isEmpty) return base // nothing intersects the box
    val ai = snap.allAdds
    val selBytes = inRange.flatMap(ai.get).map(_.bytes).sum
    val totBytes = snap.files.flatMap(ai.get).map(_.bytes).sum
    val bins = math.max(1, math.round(targetFiles.toDouble *
      selBytes / math.max(1L, totBytes)).toInt)
    val adds = writeDataPrepared(spark, path, layout(
      scanFiles(spark, path, snap, inRange, keepFname = false), bins))
    try commitRewrite(path, base, "compact:zscope", adds, inRange,
      CommuteNonOverlapping)
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** Exactly-once streaming append (the foreachBatch sink): commit the
    * micro-batch under op `stream:<streamId>:<batchId>` and SKIP any
    * batch id already in the log — checkpoint recovery re-delivers the
    * last un-acknowledged batch, and this makes the redelivery a no-op
    * (the idempotent-writer pattern a transactional log enables; the
    * same role Delta's txn action plays). Version races re-check
    * idempotence before retrying, so a duplicate can't slip in between
    * the check and the commit. Returns the committed version, or None
    * if the batch was already applied.
    *
    * Single-writer-per-streamId is assumed (Structured Streaming's
    * checkpoint lock provides it); concurrent DIFFERENT streams and
    * batch writers compose through the normal version protocol.
    *
    * `srcFiles` (the COPY INTO … FROM STREAM route): the batch's
    * source-file manifest, recorded in the op and folded into the
    * per-table copy-sources registry — idempotence then keys on FILE
    * identity (like the reference's COPY INTO), not the batch id, so
    * a lost checkpoint can never mask files landed since the loss
    * behind a stale batch-id high-water.
    */
  def appendStreamBatch(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      streamId: String,
      batchId: Long,
      partitions: Int = 1,
      maxAttempts: Int = 20,
      clusterBy: Seq[Column] = Nil,
      srcFiles: Seq[String] = Nil): Option[Long] = {
    val op =
      if (srcFiles.isEmpty) s"stream:$streamId:$batchId"
      else {
        import org.json4s.{JArray, JString}
        import org.json4s.jackson.JsonMethods
        s"stream:$streamId:$batchId:files:" + JsonMethods.compact(
          JsonMethods.render(
            JArray(srcFiles.sorted.map(JString(_)).toList)))
      }
    // Idempotence has two regimes. Without srcFiles (a computed
    // streaming sink): checkpoint-amortized per-stream high-water
    // marks — `>=` (not ==) is safe because Structured Streaming
    // delivers batch ids monotonically per stream (single writer per
    // streamId). With srcFiles (the COPY INTO … FROM STREAM route):
    // FILE-level idempotence via the copy-sources registry — the
    // batch-id high-water must NOT govern, because a lost checkpoint
    // restarts batch ids at 0 and would bundle files landed since the
    // loss into already-seen ids, silently skipping them forever.
    def alreadyApplied(): Boolean = {
      val snap = head(path).getOrElse(return false)
      if (srcFiles.nonEmpty) {
        val seen = snap.copySrcs
        val hits = srcFiles.count(seen.contains)
        // partial overlap is unreachable under the single-writer-per-
        // streamId contract (the caller filters to fresh files first);
        // committing would double-load the overlap and skipping would
        // drop the fresh remainder — fail loudly instead of picking
        if (hits != 0 && hits != srcFiles.size) sys.error(
          s"appendStreamBatch: $op overlaps the ingested-file registry " +
            s"($hits of ${srcFiles.size} already loaded) — a concurrent " +
            "writer violated single-writer-per-streamId")
        hits == srcFiles.size
      } else snap.streams.get(streamId).exists(_ >= batchId)
    }
    if (alreadyApplied()) return None
    checkSchema(path, df, evolveSchema = false)
    var csStage =
      try constraints(path)
      catch { case _: IllegalArgumentException => Map.empty[String, String] }
    // clusterBy range-clusters the batch's files (each owning a compact
    // key range) so footer pruning on the cluster column stays tight —
    // the layout an incrementally-served store (StreamDedup) needs.
    val checked = withChecks(spark, path, df)
    val adds =
      if (clusterBy.nonEmpty)
        writeDataPrepared(spark, path,
          checked.repartitionByRange(partitions, clusterBy: _*)
            .sortWithinPartitions(clusterBy: _*))
      else writeData(spark, path, checked, partitions)
    var attempt = 0
    while (attempt <= maxAttempts) {
      if (alreadyApplied()) {
        // duplicate detected only AFTER staging (the redelivered batch
        // lost a race to its own first delivery): the staged files will
        // never be committed — drop them, don't orphan them
        cleanupStaged(path, adds)
        return None
      }
      val v = currentVersion(path) + 1
      preCommitHook()
      try {
        tryCommit(path, TxnCommit(v, op, adds, Nil))
        return Some(v)
      } catch {
        case _: TxnConflictException =>
          attempt += 1
          // the lost race may have been a concurrent addConstraint —
          // re-validate the staged rows against the fresh set (cleaning
          // the staged tranche if they violate it; see revalidateStaged)
          try csStage = revalidateStaged(spark, path, adds, csStage)
          catch { case e: Throwable => cleanupStaged(path, adds); throw e }
      }
    }
    cleanupStaged(path, adds)
    sys.error(s"appendStreamBatch: lost $maxAttempts version races for $op")
  }

  /** SHALLOW CLONE: create `dst` whose version 0 references `src`'s
    * snapshot files BY PATH — zero data copied, pure metadata (the
    * zero-copy branch/sandbox operation: test a migration against
    * 100 TB without duplicating a byte). The clone's own writes land
    * under its own `data/`; rewrites (delete/merge/compact) replace
    * source references with clone-local files, progressively
    * materializing exactly the rewritten part. [[vacuum]] deletes only
    * files under a table's OWN root, so a clone's vacuum can never
    * reap source data. Caveat (the same contract as Delta shallow
    * clones): the SOURCE does not know about clones — vacuuming the
    * source can invalidate a clone's un-materialized references, so
    * retain source history for as long as clones live.
    */
  def cloneShallow(spark: SparkSession, src: String, dst: String,
      asOf: Long = -1L): Long = {
    val srcTop = currentVersion(src)
    require(srcTop >= 0, s"not a TxnTable: $src")
    val upTo = if (asOf < 0) srcTop else asOf
    if (asOf >= 0) {
      val earliest = earliestVersion(src)
      require(asOf >= earliest,
        s"cannot clone at $asOf: vacuumed (earliest readable $earliest)")
      require(asOf <= srcTop,
        s"cannot clone at $asOf: version does not exist (latest $srcTop)")
    }
    val snap = snapshot(src, upTo)
    val byPath = snap.allAdds
    val adds = snap.files.map { f =>
      val a = byPath.getOrElse(f,
        sys.error(s"clone: add metadata missing for $f (corrupt log?)"))
      a.copy(path = localRoot(src).resolve(f).toString)
    }
    val schema = snap.schema
    // carry the source snapshot's deletion vectors, absolutized like
    // the data references (keys must match the adds' paths; the DV
    // files live under the SOURCE's dv/ and are never reaped by the
    // clone's own vacuum, same as data)
    val dvs = snap.dvs.toSeq.sortBy(_._1).map {
      case (f, dv) => (localRoot(src).resolve(f).toString,
        localRoot(src).resolve(dv).toString)
    }
    tryCommit(dst, TxnCommit(0L, s"clone:$upTo", adds, Nil, schema, dvs))
    // Register the clone's pin AT THE SOURCE (best-effort: a read-only
    // source degrades to the documented retain-history-manually
    // contract): the source's vacuum consults the registry and keeps
    // the pinned snapshot's files alive for as long as the clone is
    // registered — without this, a source vacuum can silently reap
    // files a live clone still references. releaseClone drops the pin.
    try {
      val cd = cloneRegistryDir(src)
      Files.createDirectories(cd)
      val json = s"""{"dst":"${esc(localRoot(dst).toString)}","version":$upTo}"""
      Files.write(cd.resolve(cloneRegName(dst)),
        json.getBytes(StandardCharsets.UTF_8))
    } catch { case NonFatal(_) => () }
    0L
  }

  private def cloneRegistryDir(path: String): JPath =
    localRoot(path).resolve("_graft_clones")

  /** Registry file name for a clone pin: a full 128-bit digest of the
    * clone's absolute path — collision-resistant, so two clones can
    * never overwrite each other's pin (a 32-bit hash here would let
    * releaseClone of one clone silently unpin another). */
  private def cloneRegName(dst: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(localRoot(dst).toString.getBytes(StandardCharsets.UTF_8))
    "c-" + md.map(b => f"$b%02x").mkString + ".json"
  }

  /** Drop `dst`'s registration at `src` — after this, a source vacuum
    * is free to reap the pinned snapshot's files and the clone's
    * un-materialized references become invalid (the clone should have
    * been deleted, or fully materialized via its own compact, first).
    * The stored `dst` field is verified before deleting, so even a
    * digest collision cannot release another clone's pin. Returns
    * whether a registration existed and was removed. */
  def releaseClone(src: String, dst: String): Boolean =
    try {
      val p = cloneRegistryDir(src).resolve(cloneRegName(dst))
      if (!Files.exists(p)) false
      else {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        implicit val fmts: Formats = DefaultFormats
        val j = JsonMethods.parse(new String(Files.readAllBytes(p),
          StandardCharsets.UTF_8))
        ((j \ "dst").extractOpt[String].contains(localRoot(dst).toString)
          && Files.deleteIfExists(p))
      }
    } catch { case NonFatal(_) => false }

  /** Pinned source versions of registered live clones (for vacuum). */
  private def registeredClonePins(path: String): Seq[Long] = {
    val cd = cloneRegistryDir(path)
    if (!Files.isDirectory(cd)) return Nil
    val it = Files.list(cd)
    try it.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .flatMap { p =>
        try {
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          implicit val fmts: Formats = DefaultFormats
          val j = JsonMethods.parse(new String(Files.readAllBytes(p),
            StandardCharsets.UTF_8))
          Some((j \ "version").extract[Long])
        } catch { case NonFatal(_) => None }
      }.toSeq
    finally it.close()
  }

  /** Roll the table back to the logical content of `toVersion` — as a
    * NEW commit (history is never rewritten): removes the current live
    * set and re-adds the target snapshot's files by reference. Requires
    * the target to still be readable (not vacuumed). Restore-of-restore
    * and restore-then-append compose like any other commits.
    */
  def restore(spark: SparkSession, path: String, toVersion: Long,
      maxAttempts: Int = 20): Long = {
    def requireReadable(): Unit = {
      val earliest = earliestVersion(path)
      require(toVersion >= earliest,
        s"cannot restore to $toVersion: vacuumed (earliest readable $earliest)")
    }
    requireReadable()
    val targetSnap = snapshot(path, toVersion)
    val target = targetSnap.files
    // Re-add metadata: the target's files are all extant (the version
    // is readable, so no vacuum deleted them), hence every one is in
    // its allAdds — no O(versions) log replay.
    val byPath = targetSnap.allAdds
    val targetAdds = target.flatMap(byPath.get)
    require(targetAdds.size == target.size,
      s"restore: add metadata missing for ${target.size - targetAdds.size} " +
        s"of ${target.size} target files (corrupt log?)")
    var attempt = 0
    while (true) {
      val now = snapshot(path)
      val cur = now.version
      val live = now.files
      // roll the recorded schema back too, if evolution happened since
      val schemaRollback =
        if (targetSnap.schema != now.schema) targetSnap.schema else None
      preCommitHook()
      // Re-check INSIDE the race window: a vacuum may have raised the
      // horizon (and physically deleted the target's files) since the
      // entry check — committing would resurrect dangling paths. A
      // vacuum that lands after this check instead wins the version
      // race below, and the retry re-enters through this check.
      requireReadable()
      try {
        // dvs: the re-add clears each file's DV, the same commit's dvs
        // then restore the TARGET version's map — so a restore across
        // a dvdelete rolls the deletion vectors back too
        tryCommit(path, TxnCommit(cur + 1, s"restore:$toVersion",
          targetAdds, live.filterNot(target.contains), schemaRollback,
          targetSnap.dvs.toSeq.sortBy(_._1)))
        return cur + 1
      } catch {
        case _: TxnConflictException if attempt < maxAttempts => attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Oldest version still readable: 0, or the horizon of the most
    * aggressive vacuum so far (the head snapshot's). */
  def earliestVersion(path: String): Long = head(path).fold(0L)(_.horizon)

  /** DESCRIBE HISTORY: one row per commit of the readable log —
    * (version, op, tsMillis from the commit file's mtime, files/rows/
    * bytes added, files removed, DV reassignments, whether a schema
    * was recorded). The table-audit surface: who-did-what-when over
    * the same log every read resolves from; pre-horizon versions are
    * absent (their commits may be unreadable after a vacuum). Driver-
    * side O(readable versions) metadata — the same order as the log
    * listing itself. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val top = currentVersion(path)
    require(top >= 0, s"not a TxnTable: $path")
    (earliestVersion(path) to top).map { v =>
      val c = readCommit(path, v)
      val ts = Files.getLastModifiedTime(versionFile(path, v)).toMillis
      (v, c.op, ts, c.adds.size.toLong, c.adds.map(_.rows).sum,
        c.adds.map(_.bytes).sum, c.removes.size.toLong,
        c.dvs.size.toLong, c.schema.isDefined)
    }.toDF("version", "op", "ts_millis", "files_added", "rows_added",
      "bytes_added", "files_removed", "dv_reassigned", "schema_change")
  }

  /** The operational one-row summary behind `DESCRIBE DETAIL`,
    * computed ENTIRELY from the commit log (zero data or footer I/O —
    * at 100 TB this must never scan): current/earliest version, live
    * file count, total logged rows (write-time counts, i.e. pre-DV;
    * MOR-deleted rows still reside in the files until a rewrite
    * materializes them), total bytes, DV-carrying file count, and
    * active constraint count. */
  def detail(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(path)
    val adds = snap.files.flatMap(snap.allAdds.get)
    val props = snap.props
    // stats coverage: the share of live adds carrying write-time
    // min/max stats — the operator's "would OPTIMIZE make pruning
    // zero-footer?" signal (adds without stats scan conservatively in
    // every pruned read; a rewrite re-harvests them)
    val statsCov =
      if (adds.isEmpty) 1.0
      else adds.count(_.stats.exists(_.nonEmpty)).toDouble / adds.size
    Seq((path, snap.version, snap.horizon, snap.files.size.toLong,
      adds.map(_.rows).sum, adds.map(_.bytes).sum, snap.dvs.size.toLong,
      snap.constraints.size.toLong,
      props.get("graft.clusterBy"),
      props.get("graft.targetFiles").map(_.toLong),
      statsCov))
      .toDF("location", "version", "earliest_version", "num_files",
        "total_rows", "total_bytes", "num_dv_files", "num_constraints",
        "cluster_by", "target_files", "stats_coverage")
  }

  /** TRUNCATE: one commit removing every live file — a LOGICAL
    * delete-all (the bytes stay; history and time travel to the
    * pre-truncate snapshot keep working, and [[restore]] undoes it —
    * reclaim space explicitly with vacuum, the same never-delete-100-TB
    * contract as DROP TABLE). Schema, constraints, and properties
    * survive; subsequent appends start clean. Conflict contract: any
    * concurrent DATA commit aborts the truncate (a truncate that
    * silently swallowed a racing append would lose its rows); pure
    * metadata commits (properties) commute, like overwrite's. */
  def truncate(path: String): Long = {
    val snap = snapshot(path)
    if (snap.files.isEmpty) return snap.version // already empty: no-op
    commitRewrite(path, snap.version, "truncate", Nil, snap.files,
      CommuteMetadataOnly)
  }

  /** FSCK — reconcile the log with storage after OUT-OF-BAND file
    * loss (a reaped bucket prefix, a fat-fingered rm, a failed
    * restore): list the live adds whose data files no longer exist
    * and, with `dryRun = false`, commit one `repair` that REMOVES
    * them, so the table serves the surviving rows instead of failing
    * every scan on the first missing file. Returns the missing files
    * as rows (file, rows, bytes — the logged extent of WHAT WAS LOST,
    * the ops answer an incident needs) whether or not it commits; the
    * dry run commits NOTHING. The repair is an ordinary rewrite
    * commit: history keeps the loss auditable, time travel BEFORE the
    * repair still (correctly) fails on the vanished bytes, DV
    * mappings of removed files clear with them, and concurrent
    * commits rebase-or-abort like any rewrite. Existence probing is
    * O(live files) metadata — no data or footer I/O. */
  def repair(spark: SparkSession, path: String,
      dryRun: Boolean = true): DataFrame = {
    import spark.implicits._
    val snap = snapshot(path)
    val ai = snap.allAdds
    // per-file probe through the Store seam: O(live files) metadata
    // locally; an object-store port batches per-prefix LISTs instead
    // of per-file HEADs (see Store.exists)
    val missing = snap.files
      .filterNot(f => Store.exists(localRoot(path).resolve(f)))
    if (!dryRun && missing.nonEmpty)
      commitRewrite(path, snap.version, "repair", Nil, missing,
        CommuteNonOverlapping)
    missing.map { f =>
      val a = ai.get(f)
      (f, a.map(_.rows).getOrElse(-1L), a.map(_.bytes).getOrElse(-1L))
    }.toDF("file", "rows_lost", "bytes_lost")
  }

  /** One column's log-folded statistics (see [[logTableStats]]):
    * bounds/nulls are present ONLY under full add-coverage — an
    * honest global claim, never a partial one. Long bounds live in
    * the PHYSICAL int64 space (days for dates, micros for
    * timestamps). */
  case class LogColStat(dataType: org.apache.spark.sql.types.DataType,
      coverage: Double, lmin: Option[Long], lmax: Option[Long],
      smin: Option[String], smax: Option[String], nulls: Option[Long])

  /** Table statistics folded from the COMMIT LOG alone — zero file
    * reads: total live bytes, live row count (add rows; rows hidden
    * by deletion vectors still count — an upper bound, which is what
    * an optimizer estimate wants), and per-column global bounds/null
    * counts from the write-time add stats. This is what `ANALYZE
    * TABLE` would scan 100 TB to recompute; the log already holds it.
    */
  def logTableStats(spark: SparkSession, path: String,
      asOf: Long = -1L): (Long, Long, Seq[(String, LogColStat)]) = {
    val snap = readable(path, asOf)
    val adds = snap.files.flatMap(snap.allAdds.get)
    val parsed = adds.map(a => (a.rows, parseAddStats(a)))
    val nAdds = parsed.size
    val schema = scanOf(spark, path, snap).schema
    val cols = schema.fields.toSeq.map { f =>
      val phys = physicalColName(snap, f.name)
      val have = parsed.flatMap(_._2).filter(_.cols.contains(phys))
      val coverage =
        if (nAdds == 0) 1.0 else have.size.toDouble / nAdds
      val full = nAdds > 0 && have.size == nAdds
      val (lmin, lmax) = {
        val mins = have.flatMap(_.longs.get(phys).map(_._1))
        val maxs = have.flatMap(_.longs.get(phys).map(_._2))
        if (!full || mins.size != nAdds) (None, None)
        else (Some(mins.min), Some(maxs.max))
      }
      // string bounds fold in UTF-8 byte order, as they are logged and
      // as Spark compares (String's own order is UTF-16 code units)
      val (smin, smax) = {
        val mins = have.flatMap(_.strings.get(phys).map(_._1))
        val maxs = have.flatMap(_.strings.get(phys).map(_._2))
        if (!full || mins.size != nAdds) (None, None)
        else (Some(mins.minBy(UTF8String.fromString)),
          Some(maxs.maxBy(UTF8String.fromString)))
      }
      val nulls = {
        val ns = have.flatMap(_.nulls.get(phys))
        if (!full || ns.size != nAdds) None else Some(ns.sum)
      }
      f.name -> LogColStat(f.dataType, coverage, lmin, lmax,
        smin, smax, nulls)
    }
    (adds.map(_.bytes).sum, parsed.map(_._1).sum, cols)
  }

  /** Per-COLUMN statistics panel, computed ENTIRELY from the commit
    * log (zero data or footer I/O — the column-level sibling of
    * [[detail]]): for each logical column, the share of live adds
    * carrying write-time stats for it, the GLOBAL min/max folded over
    * the per-file bounds (reported only at FULL coverage — a single
    * add without bounds could hide the true extreme, so partial
    * coverage reports null rather than a lie), and the exact null
    * count (only when every add logged one). Integer/date/timestamp
    * bounds live in the physical int64 space (micros / epoch days —
    * the same space every pruned read uses); string bounds are
    * writer-truncated prefixes past `MaxLoggedStringBound`, accurate
    * for short values. At 100 TB this answers "what's in this table"
    * from O(files) commit metadata where ANALYZE would scan. */
  def columnStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (_, _, cols) = logTableStats(spark, path)
    cols.map { case (n, c) =>
      (n, c.dataType.simpleString, c.coverage,
        c.lmin, c.lmax, c.smin, c.smax, c.nulls)
    }.toDF("column", "type", "stats_coverage", "min_long",
      "max_long", "min_str", "max_str", "null_count")
  }

  /** The commit file's modification stamp — a cheap TABLE-IDENTITY
    * witness: a table deleted and recreated at the same path restarts
    * version numbers, so any cache keyed on (path, version) alone
    * could serve the DEAD table's state; folding this stamp into the
    * key makes that impossible (one stat call, no content read). */
  def commitMtime(path: String, v: Long): Long =
    Files.getLastModifiedTime(versionFile(path, v)).toMillis

  /** TIMESTAMP time travel: the latest readable version whose commit
    * landed at or before `tsMillis` — resolved from the version files'
    * MODIFICATION TIMES (the reference lake formats' design: the log
    * is the clock; no format change, works on every existing table).
    * Commit files are created in version order, so their mtimes are
    * non-decreasing and a binary search over the readable range
    * suffices: O(log versions) stat calls, no commit is parsed.
    * Caveats shared with those formats: the resolution is the store's
    * mtime granularity, and copying a log with tools that reset
    * mtimes rewrites history's clock. Throws if `tsMillis` predates
    * the earliest READABLE commit (pre-vacuum-horizon history is gone
    * — same fence as version-addressed reads). */
  def versionAt(path: String, tsMillis: Long): Long = {
    val top = currentVersion(path)
    require(top >= 0, s"not a TxnTable: $path")
    def mtime(v: Long): Long =
      Files.getLastModifiedTime(versionFile(path, v)).toMillis
    var lo = earliestVersion(path)
    require(mtime(lo) <= tsMillis,
      s"timestamp $tsMillis predates the earliest readable commit " +
        s"(v$lo at ${mtime(lo)})")
    var hi = top
    while (lo < hi) { // invariant: mtime(lo) <= ts; answer in [lo, hi]
      val mid = lo + (hi - lo + 1) / 2
      if (mtime(mid) <= tsMillis) lo = mid else hi = mid - 1
    }
    lo
  }

  /** [[read]] addressed by wall-clock time instead of version. */
  def readAsOfTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    read(spark, path, versionAt(path, tsMillis))

  /** [[vacuum]] with TIME-based retention (the reference lake formats'
    * `RETAIN n HOURS` shape): every snapshot that was current at any
    * instant within the trailing `retainMs` window stays readable —
    * the horizon lands on [[versionAt]](now − retainMs), the version
    * active AT the cutoff (not merely versions committed after it).
    * A window older than the whole readable log degrades to the
    * existing horizon (nothing newly reapable). */
  def vacuumRetainMillis(spark: SparkSession, path: String,
      retainMs: Long, orphanGraceMs: Long = -1L): (Long, Int) = {
    require(retainMs >= 0, "retention window must be non-negative")
    vacuum(spark, path, retainVersionsForWindow(path, retainMs),
      orphanGraceMs)
  }

  /** A `RETAIN ms` window expressed as a retained-version count:
    * everything current at any instant within the trailing window
    * stays readable. */
  private def retainVersionsForWindow(path: String, retainMs: Long): Int = {
    val top = currentVersion(path)
    val cutoff = System.currentTimeMillis() - retainMs
    val keepFrom =
      try versionAt(path, cutoff)
      catch { // cutoff predates the earliest readable commit
        case _: IllegalArgumentException => earliestVersion(path)
      }
    math.toIntExact(top - keepFrom + 1)
  }

  /** [[vacuum]]'s ADVISORY half — `VACUUM … DRY RUN`: the data files
    * the same retention would delete RIGHT NOW, with their logged
    * sizes, as rows. No commit, no deletion, pure log metadata (the
    * "how much would I reclaim" question must never scan a 100 TB
    * table). Advisory by nature: a concurrent commit can change the
    * dead set; the real vacuum re-resolves it under the log prefix its
    * own commit wins against. Same dead-set rule as [[vacuum]]:
    * known-dead only (referenced by some commit, absent from every
    * retained snapshot and every registered clone pin), own-data-dir
    * only. */
  def vacuumDryRun(spark: SparkSession, path: String,
      retainVersions: Int = 2): DataFrame = {
    import spark.implicits._
    require(retainVersions >= 1, "must retain at least the current version")
    val snap = snapshot(path)
    val cur = snap.version
    val horizon = math.max(snap.horizon,
      math.max(0L, cur - retainVersions + 1))
    val pinned = registeredClonePins(path)
      .filter(v => v >= 0 && v <= cur).distinct
    val keep = ((horizon to cur) ++ pinned)
      .flatMap(v => snapshotFiles(path, v)).toSet
    val ai = snap.allAdds
    (ai.keySet -- keep).toSeq.sorted
      .filter { f =>
        val p = localRoot(path).resolve(f)
        // the log keeps referencing files an earlier vacuum already
        // reaped; "would reclaim" means bytes still on disk
        p.startsWith(dataDir(path)) && Files.exists(p)
      }
      .map(f => (f, ai(f).bytes))
      .toDF("file", "bytes")
  }

  /** [[vacuumDryRun]] with TIME-based retention (`RETAIN n HOURS DRY
    * RUN`). */
  def vacuumDryRunRetainMillis(spark: SparkSession, path: String,
      retainMs: Long): DataFrame = {
    require(retainMs >= 0, "retention window must be non-negative")
    vacuumDryRun(spark, path, retainVersionsForWindow(path, retainMs))
  }

  /** Physical cleanup: delete data files referenced ONLY by snapshots
    * older than the time-travel horizon (the last `retainVersions`
    * versions stay fully readable). The horizon is recorded as a
    * `vacuum:<horizon>` commit, so pre-horizon time travel fails with a
    * clear error instead of missing files, and the vacuum itself is an
    * ordinary serialized commit (no file can be both vacuumed and
    * resurrected by a racing writer: the file set is resolved from the
    * log prefix the commit wins against). Logical content is unchanged
    * — the commit carries no adds/removes. Returns (new version,
    * number of files deleted).
    *
    * Scale: resolves `retainVersions` snapshots and the extant-adds
    * index — ALL checkpoint-amortized (O(interval) commit reads each,
    * never an O(versions) log replay; the spec pins the read count on
    * a 100+-commit table); deletion is O(dead files).
    *
    * **Clone pins**: every snapshot version a registered live shallow
    * clone references ([[cloneShallow]]'s registry) is added to the
    * keep-set REGARDLESS of the horizon — a source vacuum never reaps
    * files a registered clone still reads, however aggressive the
    * retention. [[releaseClone]] (or deleting the clone's pin file)
    * lifts the protection. Pins guard physical files only; the
    * time-travel horizon (and its fences) advance normally.
    *
    * **Orphan sweep** (opt-in via `orphanGraceMs >= 0`): also deletes
    * files under the table's own `data/` that are referenced by NO
    * commit — crashed-writer staging debris, which the known-dead set
    * can never reach — but only when older than the grace window.
    * Grace must exceed the longest write job's staging time: an
    * in-flight writer stages its files moments before committing, and
    * the window is what keeps the sweep from eating them (the same
    * retention-vs-writer-duration contract as the reference lake
    * formats' vacuum). The orphan set is re-resolved against the
    * LATEST log state after the vacuum commit wins, so anything
    * committed meanwhile is excluded.
    */
  def vacuum(spark: SparkSession, path: String,
      retainVersions: Int = 2, orphanGraceMs: Long = -1L): (Long, Int) = {
    require(retainVersions >= 1, "must retain at least the current version")
    var attempt = 0
    while (true) {
      val snap = snapshot(path)
      val cur = snap.version
      val horizon = math.max(snap.horizon,
        math.max(0L, cur - retainVersions + 1))
      val pinned = registeredClonePins(path)
        .filter(v => v >= 0 && v <= cur).distinct
      val keep = ((horizon to cur) ++ pinned)
        .flatMap(v => snapshotFiles(path, v)).toSet
      // Known-dead only: files REFERENCED by some commit and absent
      // from every retained snapshot. Never "everything not in keep" —
      // a concurrent appender stages its data files BEFORE its commit,
      // and an unreferenced file may be exactly that; allAdds only
      // ever holds committed references. (Equal to the "pre-horizon commits only" dead-set:
      // any file added by a commit ≥ horizon is live at that commit's
      // own version, which is a retained snapshot — so it is in keep.)
      val dead = snap.allAdds.keySet -- keep
      preCommitHook()
      try {
        tryCommit(path, TxnCommit(cur + 1, s"vacuum:$horizon", Nil, Nil))
        // the commit won: the dead-set is authoritative (later writers
        // build on a log that already contains this vacuum). Only
        // files under the table's OWN data dir are deletable — a
        // shallow clone references foreign absolute paths, and its
        // vacuum must never reap the source's data.
        var deleted = 0
        dead.foreach { f =>
          val p = localRoot(path).resolve(f)
          if (p.startsWith(dataDir(path)) && Files.deleteIfExists(p))
            deleted += 1
        }
        if (orphanGraceMs >= 0 && Files.isDirectory(dataDir(path))) {
          // referenced-by-NO-commit files, re-resolved at the LATEST
          // version (not `cur`): a writer that committed between our
          // vacuum commit and this scan is already in the index, so
          // only true debris older than the grace window is swept
          val referenced = snapshot(path).allAdds.keySet
            .map(f => localRoot(path).resolve(f).normalize)
          val cutoff = System.currentTimeMillis() - orphanGraceMs
          val it = Files.walk(dataDir(path))
          try it.iterator().asScala.foreach { p =>
            if (Files.isRegularFile(p) &&
              !referenced.contains(p.normalize) &&
              Files.getLastModifiedTime(p).toMillis < cutoff &&
              Files.deleteIfExists(p)) deleted += 1
          } finally it.close()
        }
        if (orphanGraceMs >= 0 && Files.isDirectory(dvDir(path))) {
          // deletion-vector sweep, same age-graced contract: a DV file
          // is kept while ANY retained/pinned snapshot (or the latest
          // log state, covering commits that raced this vacuum) maps a
          // data file to it; superseded/orphaned DVs older than the
          // grace window are reaped. Grace is what protects a
          // concurrent dvdelete's staged-but-not-yet-committed file.
          val keepDv = (((horizon to cur) ++ pinned)
            .flatMap(v => snapshotDvs(path, v).values) ++
            snapshotDvs(path).values).toSet
            .map((f: String) => localRoot(path).resolve(f).normalize)
          val cutoff = System.currentTimeMillis() - orphanGraceMs
          val it = Files.walk(dvDir(path))
          try it.iterator().asScala.foreach { p =>
            if (Files.isRegularFile(p) &&
              !keepDv.contains(p.normalize) &&
              Files.getLastModifiedTime(p).toMillis < cutoff &&
              Files.deleteIfExists(p)) deleted += 1
          } finally it.close()
        }
        return (cur + 1, deleted)
      } catch {
        case _: TxnConflictException if attempt < 20 => attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** Read a snapshot (latest, or time-travel to `asOf`). mergeSchema is
    * enabled only when the log prefix actually recorded more than one
    * schema generation — homogeneous tables keep the cheap single-footer
    * path.
    */
  def read(spark: SparkSession, path: String, asOf: Long = -1L): DataFrame =
    scanOf(spark, path, readable(path, asOf))

  /** The snapshot a read at `asOf` (the head when negative) sees; a
    * version below the vacuum horizon is refused before it is
    * resolved. */
  private def readable(path: String, asOf: Long): Snapshot = {
    if (asOf >= 0) {
      val earliest = earliestVersion(path)
      require(asOf >= earliest,
        s"version $asOf was vacuumed away (earliest readable: $earliest)")
    }
    snapshot(path, asOf)
  }

  /** The live rows of `snap` under its logical schema. */
  private def scanOf(spark: SparkSession, path: String,
      snap: Snapshot): DataFrame = {
    val files = snap.files
    if (files.isEmpty) {
      // a TRUNCATE (or delete-all) leaves a ZERO-FILE snapshot: with a
      // recorded schema that is a well-defined empty frame, not an
      // error — appends start clean, aggregates answer zero
      val st = snap.recordedSchema.getOrElse(throw new IllegalArgumentException(
        s"empty snapshot of $path at ${snap.version} with no recorded schema"))
      // all-nullable, like every real file scan (Spark's file sources
      // force asNullable on user schemas) — a zero-file snapshot must
      // be schema-IDENTICAL to its file-backed siblings, or consumers
      // comparing schema JSON (the change feed's pin) see a phantom
      // schema change at the truncate
      val nullable = org.apache.spark.sql.types.StructType(
        physicalSchema(st).fields.map(_.copy(nullable = true)))
      return toLogical(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        nullable), st)
    }
    // Pin the RECORDED snapshot schema: evolved-in columns null-fill on
    // old-generation files exactly like mergeSchema did, and a DROPPED
    // column stays dropped even though old files still carry its bytes
    // (the metadata-only ALTER contract — mergeSchema would resurrect
    // it). Binding is by PHYSICAL names (column mapping: files always
    // store the stable physical name; applyDv aliases back to logical).
    // Pre-schema-era logs (none in practice) keep the old readers.
    val reader = snap.recordedSchema match {
      case Some(st) => spark.read.schema(physicalSchema(st))
      case None if snap.schemaGens > 1 =>
        spark.read.option("mergeSchema", "true")
      case None => spark.read
    }
    applyDv(spark, path, snap,
      reader.parquet(files.map(f => localRoot(path).resolve(f).toString): _*),
      keepFname = false)
  }

  /** ALTER TABLE ADD COLUMNS: record the widened schema as a
    * metadata-only commit — O(1) at any table size; existing files
    * null-fill the new columns at read time (pinned-schema read). New
    * columns must be nullable (there is no backfill to satisfy a NOT
    * NULL on old rows).
    *
    * Every added column gets a FRESH physical name (`col-<uuid>`, the
    * column-mapping seam — like the open lake formats do when mapping
    * is active), never its logical name. Two resurrection/clash
    * hazards force this: (a) after RENAME a→b, ADD COLUMNS (a …) would
    * otherwise put two fields named `a` in the physical schema —
    * every subsequent read fails and writes corrupt; (b) after DROP
    * COLUMNS s, ADD COLUMNS (s …) would otherwise re-bind the dropped
    * column's bytes still sitting in old files — deleted data silently
    * resurrects. A fresh physical name can collide with nothing: no
    * file has ever stored it. */
  def addColumns(spark: SparkSession, path: String,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Long = {
    require(cols.nonEmpty, "addColumns: no columns given")
    commitSchemaChange(path, s"alter:add:${cols.map(_._1).mkString(",")}",
      () => {
        val cur = currentSchema(path).getOrElse(
          throw new IllegalArgumentException(s"not a TxnTable: $path"))
        val clash = cols.map(_._1.toLowerCase)
          .intersect(cur.fieldNames.map(_.toLowerCase).toSeq)
        require(clash.isEmpty, s"addColumns: already present: $clash")
        org.apache.spark.sql.types.StructType(
          cur.fields ++ cols.map { case (n, dt) =>
            org.apache.spark.sql.types.StructField(n, dt, nullable = true,
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString(PhysicalKey,
                  s"col-${java.util.UUID.randomUUID().toString.take(8)}")
                .build()) })
      })
  }

  /** ALTER TABLE DROP COLUMNS: metadata-only — no file is rewritten
    * (data files keep the bytes, so [[restore]] across the drop
    * recovers the column WITH its data); reads bind the narrowed
    * recorded schema, and subsequent rewrites progressively
    * materialize the drop. Refuses while a CHECK constraint mentions
    * the column (drop the constraint first — a silently unenforceable
    * CHECK is worse than an error). */
  def dropColumns(spark: SparkSession, path: String,
      names: Seq[String]): Long = {
    require(names.nonEmpty, "dropColumns: no columns given")
    commitSchemaChange(path, s"alter:drop:${names.mkString(",")}",
      () => {
        val cur = currentSchema(path).getOrElse(
          throw new IllegalArgumentException(s"not a TxnTable: $path"))
        val lower = names.map(_.toLowerCase).toSet
        val missing = lower -- cur.fieldNames.map(_.toLowerCase)
        require(missing.isEmpty, s"dropColumns: no such columns: $missing")
        require(lower.size < cur.fields.length,
          "dropColumns: cannot drop every column")
        constraints(path).foreach { case (n, sql) =>
          val words = sql.toLowerCase.split("[^a-z0-9_]+").toSet
          require(words.intersect(lower).isEmpty,
            s"dropColumns: CHECK constraint $n references a dropped " +
              s"column ($sql) — drop the constraint first")
        }
        org.apache.spark.sql.types.StructType(
          cur.fields.filterNot(f => lower(f.name.toLowerCase)))
      })
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only via COLUMN MAPPING: the
    * field keeps its STABLE physical name (what every existing AND
    * future file stores — see [[writeDataPrepared]]/[[applyDv]]) and
    * the recorded schema carries the new logical name plus a
    * `graft.physical` key. No file is touched at any table size;
    * reads/writes/stats translate at the two mapping seams; time
    * travel to a pre-rename version shows the old name (each
    * snapshot's recorded schema is its own). Chained renames keep the
    * ORIGINAL physical name. Refused while a CHECK constraint
    * references the old name (its SQL would silently stop binding).
    * A change-data-feed diff ACROSS the rename boundary fails loudly
    * (SnapshotDiff requires identical payload column names on both
    * sides) — re-anchor incremental consumers after a rename. */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = {
    require(from.nonEmpty && to.nonEmpty, "renameColumn: empty name")
    commitSchemaChange(path, s"alter:rename:$from:$to", () => {
      val cur = currentSchema(path).getOrElse(
        throw new IllegalArgumentException(s"not a TxnTable: $path"))
      val f = cur.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(
          s"renameColumn: no such column $from"))
      require(!cur.fields.exists(_.name.equalsIgnoreCase(to)),
        s"renameColumn: $to already exists")
      constraints(path).foreach { case (n, sql) =>
        val words = sql.toLowerCase.split("[^a-z0-9_]+").toSet
        require(!words.contains(from.toLowerCase),
          s"renameColumn: CHECK constraint $n references $from ($sql) — " +
            "drop the constraint first")
      }
      org.apache.spark.sql.types.StructType(cur.fields.map { g =>
        if (g.name.equalsIgnoreCase(from))
          org.apache.spark.sql.types.StructField(to, g.dataType, g.nullable,
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(g.metadata)
              .putString(PhysicalKey, physicalFieldName(g)).build())
        else g
      })
    })
  }

  /** ALTER TABLE ALTER COLUMN c TYPE <wider> — TYPE WIDENING as a
    * METADATA-ONLY commit: the one schema evolution a growing table
    * always hits (a key outgrows int, a measure outgrows float) that
    * would otherwise force a full CTAS rewrite at 100 TB. The recorded
    * schema's field gets the widened logical type; NO file is touched:
    *
    *  - READS: the pinned-schema scan binds the widened type over old
    *    files' narrower physical type — Spark's parquet readers
    *    (vectorized and row-based) upcast int32→long / float→double
    *    natively, filters included, so mixed-generation snapshots scan
    *    in one job with zero plan overhead. Time travel to a pre-widen
    *    version binds THAT snapshot's own (narrow) schema.
    *  - WRITES: every post-widen append/rewrite validates against the
    *    widened schema ([[checkSchema]]) and stores the wide physical
    *    type; rewrites progressively materialize the widening.
    *  - STATS/PRUNING: logged long bounds are stored as Long for ALL
    *    integer widths (the footer harvest widens at write time), so
    *    [[selectFiles]]/[[countRange]] read old adds' bounds
    *    unchanged in the widened space — pruning and metadata COUNTs
    *    stay zero-footer across generations.
    *
    * Only value-preserving widenings are accepted (byte→short/int/
    * long, short→int/long, int→long/double, float→double);
    * narrowing and lossy/incompatible casts (long→int, long→double,
    * string→anything) are refused loudly — they would need a real
    * rewrite and a data-loss decision the engine must not make
    * silently. The metadata commit makes every in-flight rewrite
    * rebase-abort, like any ALTER. */
  def widenColumnType(spark: SparkSession, path: String, column: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    commitSchemaChange(path,
      s"alter:widen:$column:${to.simpleString}", () => {
        val cur = currentSchema(path).getOrElse(
          throw new IllegalArgumentException(s"not a TxnTable: $path"))
        val f = cur.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
          throw new IllegalArgumentException(
            s"widenColumnType: no such column $column"))
        require(wideningTargets(f.dataType)(to),
          s"widenColumnType: ${f.dataType.simpleString} -> " +
            s"${to.simpleString} is not a value-preserving widening " +
            "(supported: byte/short/int up the integer chain, " +
            "int->double, float->double) — narrowing or converting " +
            "needs an explicit rewrite (CTAS with a cast)")
        StructType(cur.fields.map(g =>
          if (g.name.equalsIgnoreCase(column)) g.copy(dataType = to)
          else g))
      })
  }

  /** Value-preserving widening targets (shared by the top-level and
    * struct-leaf ALTER COLUMN TYPE paths). int→double is exact: every
    * int32 is representable in a 53-bit mantissa; long→double is NOT
    * (precision loss above 2^53) and stays refused. */
  private def wideningTargets(dt: org.apache.spark.sql.types.DataType)
      : Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => Set(ShortType, IntegerType, LongType)
      case ShortType => Set(IntegerType, LongType)
      case IntegerType => Set(LongType, DoubleType)
      case FloatType => Set(DoubleType)
      case _ => Set.empty
    }
  }

  // -- nested-field ALTER ---------------------------------------------------
  //
  // add/drop/widen a STRUCT LEAF as the same metadata-only schema
  // commits the top-level ALTERs use: the pinned-schema read binds
  // each snapshot's own nested shape, old files null-fill an added
  // leaf and upcast a widened one natively (Spark's parquet readers
  // clip the requested struct to the file's and widen int32→int64 at
  // any nesting), and NO file is touched at any table size. Leaves
  // keep their logical names physically (nested column mapping is not
  // threaded through the rename seams), so re-ADDING a previously
  // dropped leaf name is REFUSED from log history — the old bytes
  // still sitting in files must not silently resurrect.

  private def splitDotted(dotted: String): Seq[String] = {
    val parts = dotted.split('.').toSeq.map(_.trim).filter(_.nonEmpty)
    require(parts.length >= 2,
      s"expected a dotted struct path (parent.leaf), got $dotted")
    parts
  }

  /** Rebuild `schema` with the struct at `parts.init` transformed by
    * `leafOp` (loud when a segment is missing or not a struct). */
  private def transformStructPath(
      schema: org.apache.spark.sql.types.StructType, parts: Seq[String],
      leafOp: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    if (parts.isEmpty) leafOp(schema)
    else {
      val hit = schema.fields.exists(_.name.equalsIgnoreCase(parts.head))
      require(hit, s"no such column ${parts.head}")
      StructType(schema.fields.map { f =>
        if (!f.name.equalsIgnoreCase(parts.head)) f
        else f.dataType match {
          case st: StructType =>
            f.copy(dataType = transformStructPath(st, parts.tail, leafOp))
          case other => throw new IllegalArgumentException(
            s"${f.name} is ${other.simpleString}, not a struct — " +
              "nested ALTER addresses struct leaves only")
        }
      })
    }
  }

  /** Every leaf name (lowercased) EVER recorded at the dotted parent
    * path across the readable log — the nested resurrection fence. */
  private def historicalLeafNames(path: String, parent: Seq[String])
      : Set[String] = {
    import org.apache.spark.sql.types._
    def leaves(s: StructType, parts: Seq[String]): Seq[String] =
      if (parts.isEmpty) s.fieldNames.toSeq.map(_.toLowerCase)
      else s.fields.find(_.name.equalsIgnoreCase(parts.head))
        .map(_.dataType).collect { case st: StructType =>
          leaves(st, parts.tail) }.getOrElse(Nil)
    val top = currentVersion(path)
    (earliestVersion(path) to top).flatMap { v =>
      readCommit(path, v).schema.toSeq.flatMap(js =>
        leaves(DataType.fromJson(js).asInstanceOf[StructType], parent))
    }.toSet
  }

  /** ALTER TABLE ADD COLUMNS (parent.leaf type): metadata-only; old
    * files null-fill the leaf at read time. A leaf name that EVER
    * existed at this path is refused (its bytes may still sit in live
    * files — re-binding them would resurrect dropped data; a CTAS is
    * the explicit way back). */
  def addStructField(spark: SparkSession, path: String, dotted: String,
      dt: org.apache.spark.sql.types.DataType): Long = {
    val parts = splitDotted(dotted)
    commitSchemaChange(path, s"alter:addnested:$dotted", () => {
      val cur = currentSchema(path).getOrElse(
        throw new IllegalArgumentException(s"not a TxnTable: $path"))
      val leaf = parts.last
      require(!historicalLeafNames(path, parts.init)
          .contains(leaf.toLowerCase),
        s"addStructField: $dotted existed in a previous schema " +
          "generation — old files may still hold its bytes, and " +
          "re-binding them would resurrect dropped data. Use a CTAS " +
          "to materialize the shape you want.")
      transformStructPath(cur, parts.init, st => {
        require(!st.fieldNames.exists(_.equalsIgnoreCase(leaf)),
          s"addStructField: $dotted already exists")
        org.apache.spark.sql.types.StructType(st.fields :+
          org.apache.spark.sql.types.StructField(leaf, dt,
            nullable = true))
      })
    })
  }

  /** ALTER TABLE ALTER COLUMN parent.leaf TYPE <wider>: the same
    * value-preserving widening matrix as the top-level form, applied
    * to a struct leaf — metadata-only, mixed generations upcast at
    * scan time. */
  def widenStructFieldType(spark: SparkSession, path: String,
      dotted: String, to: org.apache.spark.sql.types.DataType): Long = {
    val parts = splitDotted(dotted)
    commitSchemaChange(path,
      s"alter:widennested:$dotted:${to.simpleString}", () => {
        val cur = currentSchema(path).getOrElse(
          throw new IllegalArgumentException(s"not a TxnTable: $path"))
        transformStructPath(cur, parts.init, st => {
          val leaf = st.fields.find(_.name.equalsIgnoreCase(parts.last))
            .getOrElse(throw new IllegalArgumentException(
              s"widenStructFieldType: no such leaf $dotted"))
          require(wideningTargets(leaf.dataType)(to),
            s"widenStructFieldType: ${leaf.dataType.simpleString} -> " +
              s"${to.simpleString} is not a value-preserving widening")
          org.apache.spark.sql.types.StructType(st.fields.map(g =>
            if (g.name.equalsIgnoreCase(parts.last)) g.copy(dataType = to)
            else g))
        })
      })
  }

  /** ALTER TABLE DROP COLUMNS (parent.leaf): metadata-only (bytes
    * stay; restore across the drop recovers the leaf with its data).
    * Refused while a CHECK constraint references the leaf, and for a
    * struct's last leaf (an empty struct cannot be written). */
  def dropStructField(spark: SparkSession, path: String,
      dotted: String): Long = {
    val parts = splitDotted(dotted)
    commitSchemaChange(path, s"alter:dropnested:$dotted", () => {
      val cur = currentSchema(path).getOrElse(
        throw new IllegalArgumentException(s"not a TxnTable: $path"))
      val leaf = parts.last.toLowerCase
      constraints(path).foreach { case (n, sql) =>
        val words = sql.toLowerCase.split("[^a-z0-9_]+").toSet
        require(!words.contains(leaf),
          s"dropStructField: CHECK constraint $n references $leaf " +
            s"($sql) — drop the constraint first")
      }
      transformStructPath(cur, parts.init, st => {
        require(st.fieldNames.exists(_.equalsIgnoreCase(parts.last)),
          s"dropStructField: no such leaf $dotted")
        require(st.fields.length > 1,
          s"dropStructField: cannot drop a struct's last leaf " +
            s"($dotted) — drop the whole column instead")
        org.apache.spark.sql.types.StructType(
          st.fields.filterNot(_.name.equalsIgnoreCase(parts.last)))
      })
    })
  }

  /** A metadata-only commit that records a new schema — the ALTER
    * carrier. The schema is built FRESH on every attempt (a lost race
    * to another ALTER must not clobber it with a stale base); the
    * schema it carries makes every in-flight rewrite's rebase abort
    * (the ConcurrentMetadataChange rule), and retrying appends
    * re-validate against it ([[checkSchema]] on the fresh head). */
  private def commitSchemaChange(path: String, op: String,
      build: () => org.apache.spark.sql.types.StructType,
      maxAttempts: Int = 20): Long = {
    var attempt = 0
    while (true) {
      val v = currentVersion(path) + 1
      require(v > 0, s"commitSchemaChange: not a table: $path")
      val schema = build()
      preCommitHook()
      try {
        tryCommit(path, TxnCommit(v, op, Nil, Nil, Some(schema.json)))
        return v
      } catch {
        case e: TxnConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    -1L // unreachable
  }

  // -- log-stats file selection --------------------------------------------
  //
  // Every pruned read, metadata-only aggregate and scoped compaction
  // picks its files from ONE driver-side walk over the live files'
  // write-time stats (stats-in-log, [[loggedStats]]): no footer open
  // and no Spark job for a file that carries stats. At 100 TB that
  // replaces millions of per-query object-store footer GETs with
  // metadata the planner already holds.

  /** A predicate a pruned read can skip files by ([[readPruned]]).
    * Long bounds live in the column's PHYSICAL int64 space — the plain
    * value for integral columns, epoch MICROS for timestamps, unix
    * days for dates ([[physicalBetweenType]]); string bounds compare as
    * unsigned UTF-8 bytes, the order parquet's stats and Spark's string
    * comparison both use, so the file-level prune and the residual can
    * never disagree. A file without bounds for the column is kept. */
  sealed trait Bound {
    def column: String
    /** Whether a file with stats `st` (`c` = the column's physical
      * name) may hold a matching row. */
    private[core] def keeps(st: FileStats, c: String): Boolean
    /** The row predicate over a frame of `schema`. */
    private[core] def residual(schema: StructType): Column
  }

  object Bound {
    /** `column` ∈ [lo, hi]. */
    final case class LongRange(column: String, lo: Long, hi: Long)
        extends Bound {
      private[core] def keeps(st: FileStats, c: String): Boolean =
        st.longs.get(c).forall { case (mn, mx) => mn <= hi && mx >= lo }
      private[core] def residual(schema: StructType): Column =
        physicalBetweenType(schema(column).dataType, column, lo, hi)
    }

    /** `column` ∈ `values` — the serving shape for bucket-hashed
      * layouts, where a query's keys map to a scattered set of bucket
      * ids rather than a contiguous range (TxnIndex). */
    final case class LongIn(column: String, values: Seq[Long])
        extends Bound {
      private[core] def keeps(st: FileStats, c: String): Boolean =
        st.longs.get(c) match {
          case Some((mn, mx)) => values.exists(v => v >= mn && v <= mx)
          case None => values.nonEmpty
        }
      private[core] def residual(schema: StructType): Column =
        schema(column).dataType match {
          case TimestampType =>
            col(column).isin(values.map(v => timestamp_micros(lit(v))): _*)
          case DateType => col(column).isin(values.map(v =>
            date_from_unix_date(lit(Math.toIntExact(v)))): _*)
          case _ => col(column).isInCollection(values.distinct)
        }
    }

    /** `column` ∈ [lo, hi] under byte-lexicographic string order. */
    final case class StringRange(column: String, lo: String, hi: String)
        extends Bound {
      private[core] def keeps(st: FileStats, c: String): Boolean =
        st.strings.get(c).forall { case (mn, mx) =>
          utf8Le(mn, hi) && utf8Le(lo, mx) }
      private[core] def residual(schema: StructType): Column =
        col(column).between(lit(lo), lit(hi))
    }

    /** `column` ∈ `values` — domain/source-keyed reads over a
      * string-clustered layout. */
    final case class StringIn(column: String, values: Seq[String])
        extends Bound {
      private[core] def keeps(st: FileStats, c: String): Boolean =
        st.strings.get(c) match {
          case Some((mn, mx)) =>
            values.exists(v => utf8Le(mn, v) && utf8Le(v, mx))
          case None => values.nonEmpty
        }
      private[core] def residual(schema: StructType): Column =
        col(column).isInCollection(values.distinct)
    }

    private def utf8Le(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) <= 0
  }

  /** The live files of `snap` (in its order) with their logged stats,
    * or None for an add that carries none. */
  private def loggedStats(snap: Snapshot): Seq[(String, Option[FileStats])] =
    snap.files.map(f => f -> snap.allAdds.get(f).flatMap(parseAddStats))

  /** The live files of `snap` (in its order) that EVERY bound keeps.
    * Stats come from the log; a file without them, or whose stats
    * never attempted a bound's column (schema drift across
    * generations), footer-reads in ONE batch, narrowed to the bounds'
    * columns. A column a file's stats attempted but hold no bounds for
    * keeps the file without a footer read — the footer would find
    * nothing either. A file that vanished before its footer read is
    * not part of any readable snapshot and is dropped. */
  private def selectFiles(spark: SparkSession, path: String, snap: Snapshot,
      bounds: Seq[Bound]): Seq[String] = {
    // stats (log AND footers) are keyed by PHYSICAL names
    val phys = bounds.map(b => physicalColName(snap, b.column))
    val cols = phys.distinct
    val walk = loggedStats(snap).map { case (f, st) =>
      (f, localRoot(path).resolve(f).toString,
        st.filter(s => cols.forall(s.cols.contains)))
    }
    val missing = walk.collect { case (_, abs, None) => abs }
    val footer =
      if (missing.isEmpty) Map.empty[String, FileStats]
      else graft.crawler.SkippingIndex.footerStats(spark, missing, cols)
    walk.collect {
      case (f, abs, st) if st.orElse(footer.get(abs)).exists(s =>
        bounds.zip(phys).forall { case (b, c) => b.keeps(s, c) }) => f
    }
  }

  /** Snapshot read with FILE-level stats pruning: rows of the snapshot
    * matching EVERY bound, scanning ONLY live files whose stats can
    * hold a match ([[selectFiles]]) — planned on the driver with zero
    * Spark jobs and, for files carrying log stats, zero footer opens.
    * Row-group pushdown inside kept files still applies afterwards;
    * skipped files are never opened (on an object store: never even
    * GET), and task count is proportional to matching files. Pair with
    * [[createClustered]] / [[compactClustered]], which make per-file
    * ranges tight: several bounds over a z-ordered layout multiply
    * their selectivities. An empty kept set (or an empty IN list)
    * returns a ZERO-file frame with the snapshot's schema. */
  def readPruned(spark: SparkSession, path: String, bounds: Seq[Bound],
      asOf: Long = -1L): DataFrame = {
    require(bounds.nonEmpty, "readPruned: at least one bound")
    val snap = readable(path, asOf)
    val full = scanOf(spark, path, snap) // logical schema
    val pred = bounds.map(_.residual(full.schema)).reduce(_ && _)
    scanKept(spark, path, snap, full,
      selectFiles(spark, path, snap, bounds), pred)
  }

  /** Rows of `snap`'s `kept` files (DVs applied) that
    * satisfy `pred`. An empty kept set is a ZERO-file frame with
    * `full`'s schema (not `full.filter(false)`), so `df.inputFiles`
    * honestly reports what the read touches. */
  private def scanKept(spark: SparkSession, path: String, snap: Snapshot,
      full: DataFrame, kept: Seq[String], pred: Column): DataFrame =
    if (kept.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        full.schema)
    else applyDv(spark, path, snap,
      snapshotReader(spark, snap).parquet(
        kept.map(f => localRoot(path).resolve(f).toString): _*),
      keepFname = false).filter(pred)

  /** `column`'s data type, which must live in the physical int64 space
    * (integral, date, timestamp) for `what`'s bounds — a string column
    * would otherwise silently degrade a prune to the whole table (no
    * long stats → conservatively kept). */
  private def requireIntegral(schema: StructType, column: String,
      what: String): DataType =
    schema(column).dataType match {
      case dt @ (TimestampType | DateType | ByteType | ShortType |
          IntegerType | LongType) => dt
      case dt => throw new IllegalArgumentException(
        s"$what: $column has non-integral type $dt (bounds live in " +
          "the physical int64 space)")
    }

  /** COUNT(rows with `column` ∈ [lo, hi]) planned from the COMMIT LOG:
    * a file whose logged bounds lie fully inside the range contributes
    * (rows − nulls) with ZERO data I/O, a disjoint file contributes
    * nothing, and only BOUNDARY files (bounds straddling an endpoint),
    * files with unknown null counts, DV-carrying files, and stats-less
    * files are scanned — with the residual pushed into their row
    * groups. Returns (count, filesScanned, filesTotal). The null-count
    * term is what makes this exact, not heuristic: bounds cover only
    * non-null values, and "n" in the logged stats is recorded only
    * when every row group set num-nulls. At 100 TB this is the
    * difference between a metadata-only answer and a full-column scan
    * for the dashboard-style range counts every pipeline polls.
    * Bounds live in the column's physical int64 space (micros /
    * unix-days — [[physicalBetweenType]]), like every pruned read. */
  def countRange(spark: SparkSession, path: String, column: String,
      lo: Long, hi: Long, asOf: Long = -1L): (Long, Int, Int) = {
    // metadata-only planning: fences + RECORDED schema, never a
    // DataFrame over the full file list (building one stats every
    // file — O(files) filesystem I/O the metadata path must not pay)
    val (schema, snap) = snapshotSchemaFenced(spark, path, asOf)
    val dt = requireIntegral(schema, column, "countRange")
    midReadHook()
    val physCol = physicalColName(snap, column)
    val dvNames = snap.dvs.keySet.map(_.split('/').last)
    val walk = loggedStats(snap)
    var metaCount = 0L
    val scan = Seq.newBuilder[String]
    walk.foreach { case (f, st) =>
      val abs = localRoot(path).resolve(f).toString
      val hasDv = dvNames.contains(f.split('/').last)
      val b = st.flatMap(_.longs.get(physCol))
      val nc = st.flatMap(_.nulls.get(physCol))
      if (b.exists { case (mn, mx) => mx < lo || mn > hi }) {
        // disjoint: 0 matches — a DV only removes rows, so it stays 0
      } else if (hasDv) scan += abs
      else (b, nc, st.map(_.rows)) match {
        case (Some((mn, mx)), Some(n), Some(rows)) if mn >= lo && mx <= hi =>
          metaCount += rows - n // fully inside: every non-null row hits
        case (None, Some(n), Some(rows)) if n == rows =>
          () // all-null column: no row can match a range
        case _ => scan += abs // boundary / unknown nulls / voided bounds
      }
    }
    val scanFiles = scan.result()
    // scan half pinned to the SAME resolved snapshot as the metadata
    // half: a commit landing in between (e.g. a MOR delete adding a
    // DV) must not mix snapshots — metadata counted at `snap`,
    // boundary files DV-subtracted at a newer head — or the
    // documented-exact count is wrong under concurrency.
    val scanned =
      if (scanFiles.isEmpty) 0L
      else applyDv(spark, path, snap,
        spark.read.schema(physicalSchema(schema)).parquet(scanFiles: _*),
        keepFname = false)
        .filter(physicalBetweenType(dt, column, lo, hi))
        .count()
    (metaCount + scanned, scanFiles.size, walk.size)
  }

  /** Recorded snapshot schema + resolved snapshot, with [[read]]'s
    * asOf fences — schema resolution from the LOG, zero file listings;
    * pre-schema-era tables (none in practice) fall back to one
    * reader-based resolution. */
  private def snapshotSchemaFenced(spark: SparkSession, path: String,
      asOf: Long): (StructType, Snapshot) = {
    val snap = readable(path, asOf)
    (snap.recordedSchema.getOrElse(scanOf(spark, path, snap).schema), snap)
  }

  /** Global (min, max) of `column` in the physical int64 space, planned
    * from the commit log: clean stats-carrying files contribute their
    * logged bounds driver-side; only DV-carrying and stats-less files
    * are scanned (a DV may have deleted the extreme row). Returns
    * (min, max, filesScanned, filesTotal) — None/None for an empty or
    * all-null column. Integral, date, and timestamp columns only. */
  def minMaxOf(spark: SparkSession, path: String, column: String,
      asOf: Long = -1L): (Option[Long], Option[Long], Int, Int) = {
    val (schema, snap) = snapshotSchemaFenced(spark, path, asOf)
    val phys = requireIntegral(schema, column, "minMaxOf") match {
      case TimestampType => unix_micros(col(column))
      case DateType => unix_date(col(column)).cast("long")
      case _ => col(column).cast("long")
    }
    midReadHook()
    val physCol = physicalColName(snap, column)
    val dvNames = snap.dvs.keySet.map(_.split('/').last)
    val walk = loggedStats(snap)
    var mn = Option.empty[Long]
    var mx = Option.empty[Long]
    val scan = Seq.newBuilder[String]
    walk.foreach { case (f, st) =>
      val abs = localRoot(path).resolve(f).toString
      val hasDv = dvNames.contains(f.split('/').last)
      st.flatMap(_.longs.get(physCol)) match {
        case Some((fMn, fMx)) if !hasDv =>
          mn = Some(mn.fold(fMn)(math.min(_, fMn)))
          mx = Some(mx.fold(fMx)(math.max(_, fMx)))
        case None if !hasDv &&
            st.exists(s => s.nulls.get(physCol).contains(s.rows)) =>
          () // all-null column in this file: contributes no extreme
        case _ => scan += abs
      }
    }
    val scanFiles = scan.result()
    // same-snapshot pin as countRange: DV subtraction at `snap`, never
    // at a head that advanced after the metadata half resolved
    if (scanFiles.nonEmpty) {
      val r = applyDv(spark, path, snap,
        spark.read.schema(physicalSchema(schema)).parquet(scanFiles: _*),
        keepFname = false)
        .agg(min(phys), max(phys)).head()
      if (!r.isNullAt(0)) {
        val (sMn, sMx) = (r.getLong(0), r.getLong(1))
        mn = Some(mn.fold(sMn)(math.min(_, sMn)))
        mx = Some(mx.fold(sMx)(math.max(_, sMx)))
      }
    }
    (mn, mx, scanFiles.size, walk.size)
  }

  // -- per-file BLOOM skipping ----------------------------------------------
  //
  // Point lookups on a HIGH-CARDINALITY column the table is NOT
  // clustered on are the one read shape log min/max stats cannot
  // prune: when every file's range covers the probe value, range
  // pruning keeps everything and a single-key lookup scans the whole
  // table. Per-FILE Bloom filters close that gap (the lakehouse bloom
  // index design; Bloom 1970): one build pass records, per (file,
  // column), a filter sized to the file's logged row count, persisted
  // as rows of a sibling TxnTable (`<table>__bloom`) — distributed
  // metadata, never a monolithic driver blob. Because data files are
  // IMMUTABLE, a file's bloom can never go stale: churn only REPLACES
  // files, the replacements simply lack blooms (conservatively kept)
  // until the next build, and the build is incremental BY CONSTRUCTION
  // — it scans exactly the live (file, column) pairs the aux table
  // does not cover yet. Probe-time pruning is distributed (the filters
  // deserialize and probe inside tasks; only kept file NAMES reach the
  // driver, like every pruned read here) and footer-free.

  private[graft] def bloomPath(path: String): String = path + "__bloom"

  /** The files a [[computeBloom]] actually scanned — pins the
    * incremental top-up contract. */
  val BloomBuiltFiles: OpMetrics.Key[Seq[String]] =
    OpMetrics.Key.latest("bloom_built_files")

  private def bloomBytes(b: org.apache.spark.util.sketch.BloomFilter)
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos); bos.toByteArray
  }

  /** Build per-file Bloom filters for `columns` (integral or string)
    * over every live file the aux table does not cover yet; appends
    * the new (file, col, bloom) rows in ONE commit. Returns the aux
    * table's version (-1 when there was nothing to build and no aux
    * exists). Integral values hash through their Long form, so the
    * probe side is width-independent. */
  def computeBloom(spark: SparkSession, path: String,
      columns: Seq[String], fpp: Double = 0.01): Long = {
    import spark.implicits._
    require(columns.nonEmpty, "computeBloom: no columns given")
    require(fpp > 0 && fpp < 0.5, s"fpp must be in (0, 0.5), got $fpp")
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"computeBloom: not a TxnTable: $path"))
    val schema = scanOf(spark, path, snap).schema
    val cols = columns.map(_.trim).filter(_.nonEmpty)
    val fields = cols.map(c => schema.fields
      .find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"computeBloom: no column $c in $path")))
    fields.foreach(f => require(Seq(ByteType, ShortType, IntegerType,
      LongType, StringType).contains(f.dataType),
      s"computeBloom covers integral and string columns, got " +
        s"${f.name}: ${f.dataType.simpleString}"))
    val names = fields.map(_.name) // canonical case
    val bp = bloomPath(path)
    val have: Set[(String, String)] =
      if (currentVersion(bp) < 0) Set.empty
      else read(spark, bp).select(col("file"), col("col")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val live = snap.files
    val work: Set[(String, String)] = (for {
      f <- live; c <- names if !have((f, c)) } yield (f, c)).toSet
    val files = work.map(_._1).toSeq.sorted
    OpMetrics.record(BloomBuiltFiles, files)
    if (files.isEmpty)
      return math.max(-1L, currentVersion(bp))
    val ai = snap.allAdds
    // basename → (add name, expected items): part files carry UUIDs,
    // so basenames are unique within a table (the DV machinery's
    // standing assumption)
    val byBase: Map[String, (String, Long)] = files.map(f =>
      f.split('/').last -> (f, math.max(1L, ai(f).rows))).toMap
    val isStr: IndexedSeq[Boolean] =
      fields.map(_.dataType == StringType).toIndexedSeq
    val phys = names.map(physicalColName(snap, _))
    val selects = col("_metadata.file_path").as("__fp") +:
      phys.zipWithIndex.map { case (p, i) =>
        if (isStr(i)) col(p) else col(p).cast("long") }
    val scan = snapshotReader(spark, snap)
      .parquet(files.map(f => localRoot(path).resolve(f).toString): _*)
      .select(selects: _*)
    val n = names.length
    val fppB = fpp
    // partial blooms per (file, column) inside each task, merged per
    // file across tasks (filters built with identical sizing merge
    // exactly — the merge is a bitwise OR, so it is commutative,
    // associative, and order-independent); only the serialized
    // filters shuffle, never data rows. combineByKey rather than
    // groupByKey+mapGroups (guide §2.3 "aggregate before you
    // shuffle"): partials union map-side when a map partition holds
    // several for one key, and the reduce side folds each incoming
    // partial into ONE accumulator per key — streaming merge in
    // O(filter) memory instead of materializing every task's partial
    // for a file at once.
    val merged = scan.mapPartitions { it =>
      val local = scala.collection.mutable.Map[(String, Int),
        org.apache.spark.util.sketch.BloomFilter]()
      it.foreach { row =>
        val base = row.getString(0).split('/').last
        var i = 0
        while (i < n) {
          // the filter is created even for an all-null column — an
          // empty bloom prunes such files on every probe, and the
          // pair counts as covered for future top-ups
          val b = local.getOrElseUpdate((base, i),
            org.apache.spark.util.sketch.BloomFilter.create(
              byBase(base)._2, fppB))
          if (!row.isNullAt(i + 1)) {
            if (isStr(i)) b.putString(row.getString(i + 1))
            else b.putLong(row.getLong(i + 1))
          }
          i += 1
        }
      }
      local.iterator.map { case ((f, i), b) => ((f, i), bloomBytes(b)) }
    }.rdd.combineByKey(
      (b: Array[Byte]) => org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(b)),
      (acc: org.apache.spark.util.sketch.BloomFilter, b: Array[Byte]) =>
        acc.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b))),
      (a: org.apache.spark.util.sketch.BloomFilter,
       b: org.apache.spark.util.sketch.BloomFilter) => a.mergeInPlace(b)
    ).map { case ((f, i), b) => (byBase(f)._1, names(i), bloomBytes(b)) }
      .toDF("file", "col", "bloom")
    // a ZERO-ROW file never appears in the scan: cover it from log
    // metadata alone (its bloom is trivially empty)
    val zero = work.filter { case (f, _) => ai(f).rows == 0L }
      .toSeq.sorted.map { case (f, c) =>
        (f, c, bloomBytes(org.apache.spark.util.sketch.BloomFilter
          .create(1L, fppB)))
      }
    val outDf =
      if (zero.isEmpty) merged
      else merged.unionByName(zero.toDF("file", "col", "bloom"))
    val op = s"bloom:${names.mkString(",")}"
    if (currentVersion(bp) < 0) create(spark, bp, outDf, op = op)
    else append(spark, bp, outDf, op = op)
  }

  /** Point lookup through the per-file Bloom index: rows with `column`
    * ∈ `values`, scanning only files whose bloom might contain one of
    * the probes (files without a bloom row — new since the last build,
    * or no index at all — are conservatively kept; a false positive
    * costs one extra file scan, never a wrong row: the exact predicate
    * always re-applies). DV-aware, zero footer reads, and the probe
    * itself runs inside tasks — only kept file names reach the
    * driver. */
  def readPrunedBloom(spark: SparkSession, path: String,
      column: String, values: Seq[Long], asOf: Long = -1L): DataFrame =
    readPrunedBloomImpl(spark, path, column, asOf,
      values.distinct.map(v => v: Any),
      col(column).isInCollection(values.distinct),
      (b, vs) => vs.exists(v =>
        b.mightContainLong(v.asInstanceOf[Long])))

  /** [[readPrunedBloom]] for STRING columns. */
  def readPrunedBloomString(spark: SparkSession, path: String,
      column: String, values: Seq[String], asOf: Long = -1L): DataFrame =
    readPrunedBloomImpl(spark, path, column, asOf,
      values.distinct.map(v => v: Any),
      col(column).isInCollection(values.distinct),
      (b, vs) => vs.exists(v =>
        b.mightContainString(v.asInstanceOf[String])))

  /** How many file names a bloom probe job returned to the driver —
    * the probe runs inside tasks and only names of files the index
    * can EXCLUDE come back (≤ live files; rows for dead files and
    * other columns are dropped executor-side, never collected). */
  val BloomProbeCollected: OpMetrics.Key[Int] =
    OpMetrics.Key.latest("bloom_probe_collected")

  private def readPrunedBloomImpl(spark: SparkSession, path: String,
      column: String, asOf: Long, vs: Seq[Any], pred: Column,
      probe: (org.apache.spark.util.sketch.BloomFilter, Seq[Any]) => Boolean)
      : DataFrame = {
    import spark.implicits._
    val snap = readable(path, asOf)
    val full = scanOf(spark, path, snap)
    if (vs.isEmpty) return full.filter(lit(false))
    val bp = bloomPath(path)
    if (currentVersion(bp) < 0) return full.filter(pred)
    val live = snap.files
    val colLc = column.toLowerCase
    // The probe runs inside tasks; only names of live files whose
    // bloom PROVES absence reach the driver (a file with no bloom row
    // — new since the last build, or a dead file's leftover row — is
    // conservatively kept / ignored without ever being collected).
    // kept = live \ excluded reproduces the verdict-map semantics
    // exactly: getOrElse(f, true) kept unindexed files, and an indexed
    // file was dropped iff its probe said definitely-absent.
    val liveSet = live.toSet
    val excluded: Set[String] = read(spark, bp)
      .filter(lower(col("col")) === colLc)
      .select(col("file"), col("bloom"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.filter { case (f, bytes) =>
          liveSet.contains(f) && !probe(
            org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(bytes)), vs)
        }.map(_._1)
      }.collect().toSet
    OpMetrics.record(BloomProbeCollected, excluded.size)
    scanKept(spark, path, snap, full, live.filterNot(excluded), pred)
  }

  /** The residual row predicate for a physical-int64 bound on `c`:
    * bounds live in the column's PHYSICAL footer-stats value space —
    * the plain value for integral columns, epoch MICROSECONDS for
    * timestamps (parquet TIMESTAMP(MICROS) is INT64). The timestamp
    * literal form keeps the predicate foldable, so it still pushes
    * into the parquet scan for row-group skipping inside kept files. */
  private def physicalBetweenType(
      dt: org.apache.spark.sql.types.DataType, c: String,
      lo: Long, hi: Long): Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType =>
        col(c).between(timestamp_micros(lit(lo)), timestamp_micros(lit(hi)))
      case org.apache.spark.sql.types.DateType =>
        // parquet DATE is INT32 days since epoch — bounds are unix days;
        // toIntExact so an out-of-range bound fails loudly instead of
        // wrapping into a residual predicate that disagrees with the
        // file-level prune
        col(c).between(date_from_unix_date(lit(Math.toIntExact(lo))),
          date_from_unix_date(lit(Math.toIntExact(hi))))
      case _ => col(c).between(lo, hi)
    }

  /** [[diffVersions]] addressed by wall-clock instants ("what changed
    * between yesterday 09:00 and now") — both endpoints resolve
    * through [[versionAt]], same fences. */
  def diffBetweenTimestamps(spark: SparkSession, path: String,
      fromTs: Long, toTs: Long, keyCols: Seq[String]): DataFrame =
    diffVersions(spark, path, versionAt(path, fromTs),
      versionAt(path, toTs), keyCols)

  /** The row-level delta between two versions as two MULTISETS —
    * (removed rows, added rows, scoped absolute file paths): rows come
    * ONLY from files that left/entered the snapshot (or whose
    * deletion-vector assignment moved), each side with its version's
    * DV applied. KEY-FREE: an update surfaces as one removed plus one
    * added row — exactly what a fold-style consumer (count/sum/min/max
    * view maintenance) needs, with no row-identity contract. The keyed
    * [[diffVersions]]/[[diffVersionsImages]] ride on the same scoping.
    */
  def changedRowSides(spark: SparkSession, path: String, fromV: Long,
      toV: Long): (DataFrame, DataFrame, Set[String]) = {
    val now = snapshot(path)
    require(fromV <= toV && toV <= now.version && fromV >= now.horizon,
      s"diffVersions: need ${now.horizon} <= fromV <= toV <= " +
        s"${now.version}, got [$fromV, $toV]")
    val (from, to) = (snapshot(path, fromV), snapshot(path, toV))
    val before = from.files
    val after = to.files
    // a file carried by BOTH versions whose deletion-vector assignment
    // moved still changed logically (a dvdelete touched it): diff it on
    // both sides — each side's applyDv subtracts that version's DV, so
    // MOR-deleted rows surface as `delete` diff rows exactly like a
    // copy-on-write rewrite's
    val (dvB, dvA) = (from.dvs, to.dvs)
    val dvChanged = before.toSet.intersect(after.toSet)
      .filter(f => dvB.get(f) != dvA.get(f))
    val removed = (before.toSet -- after.toSet) ++ dvChanged
    val added = (after.toSet -- before.toSet) ++ dvChanged
    def side(files: Set[String], v: Snapshot): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          scanOf(spark, path, v).schema)
      else applyDv(spark, path, v, snapshotReader(spark, v).parquet(
        files.toSeq.map(f => localRoot(path).resolve(f).toString): _*),
        keepFname = false)
    (side(removed, from), side(added, to),
      (removed ++ added).map(f => localRoot(path).resolve(f).toString))
  }

  /** CHANGE DATA FEED between two readable versions: the keyed
    * row-level diff (insert/delete/update — [[graft.operators.
    * SnapshotDiff]] semantics, unchanged keys absent) computed from
    * ONLY the files that changed between the versions. An unchanged
    * file contributes identical rows to both sides and therefore no
    * diff row — so at 100 TB, where a day of commits touches ~1% of
    * files, this reads that 1% instead of two full snapshots (rows
    * carried through a rewrite appear on both sides and cancel as
    * `unchanged`, exactly as in the full diff — equality with the
    * full-snapshot diff is asserted in-run by the s17 gate). Requires
    * the table to be keyed on `keyCols` (≤ 1 row per key), the same
    * contract as SnapshotDiff itself. Schema-evolved tables diff under
    * each version's recorded schema; the payload columns must match.
    */
  def diffVersions(spark: SparkSession, path: String, fromV: Long,
      toV: Long, keyCols: Seq[String]): DataFrame = {
    val (rm, ad, _) = changedRowSides(spark, path, fromV, toV)
    graft.operators.SnapshotDiff.diff(rm, ad, keyCols)
  }

  /** [[diffVersions]] with BOTH row images (`before`/`after` payload
    * structs — [[graft.operators.SnapshotDiff.diffImages]]): the CDF
    * shape incremental view maintenance needs, since a delete's or
    * update's OLD values are what a downstream aggregate subtracts.
    * Same file scoping, fences, and keyed contract. */
  def diffVersionsImages(spark: SparkSession, path: String, fromV: Long,
      toV: Long, keyCols: Seq[String]): DataFrame = {
    val (rm, ad, _) = changedRowSides(spark, path, fromV, toV)
    graft.operators.SnapshotDiff.diffImages(rm, ad, keyCols)
  }

}
