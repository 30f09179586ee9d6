package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, FileAlreadyExistsException}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.crawler.SkippingIndex.FileStats

/** The commit log of a [[TxnTable]]: the commit and checkpoint JSON,
  * the log listing, the [[Snapshot]] fold and its head memo, the
  * add-stats encoding, and committing. The log's file names, JSON and
  * memo are private to this trait; no other source names them.
  * {{{
  *   table/_graft_log/v0000000042.json        one commit per version
  *   table/_graft_log/ckpt-v0000000040.json   a snapshot every 10th
  * }}}
  * Serializable so that a Spark closure calling a table member ships
  * the object as a module proxy. */
private[core] trait TxnLog extends Serializable {

  class TxnConflictException(version: Long)
    extends RuntimeException(s"version $version was committed concurrently")

  /** Accept both plain local paths and `file:` URIs (the crawler hands
    * over Hadoop-style URI strings). */
  private[core] def localRoot(path: String): JPath =
    if (path.startsWith("file:"))
      Paths.get(java.net.URI.create(path).getPath)
    else Paths.get(path)

  private def logDir(path: String): JPath = localRoot(path).resolve("_graft_log")
  private[core] def dataDir(path: String): JPath = localRoot(path).resolve("data")
  private[core] def dvDir(path: String): JPath = localRoot(path).resolve("dv")
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
  private[core] def esc(s: String): String = {
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
    *    and the latest one (JSON) — the schema every scan binds and
    *    every append validates against.
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
    /** The live files (in order) with their logged stats, None for an
      * add that carries none: each add's stats parsed once per
      * snapshot. */
    lazy val stats: Vector[(String, Option[FileStats])] =
      files.map(f => f -> allAdds.get(f).flatMap(parseAddStats))
    /** [[logTableStats]] of this version under its recorded schema,
      * folded once and carried by the head memo; None for a snapshot
      * that recorded no schema. */
    lazy val logStats: Option[(Long, Long, Seq[(String, LogColStat)])] =
      recordedSchema.map(foldLogStats(this, _))
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
    * hit). Time-travel reads below the head are not memoized. Each
    * entry carries its commit file's mtime, the table-identity witness
    * [[memoized]] checks. */
  private val headMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Memo]()

  private final case class Memo(snap: Snapshot, stamp: FileTime)

  /** The modification time of version `v`'s commit file, or None when
    * it is gone. */
  private def commitStamp(path: String, v: Long): Option[FileTime] =
    try Some(Files.getLastModifiedTime(versionFile(path, v)))
    catch { case _: java.io.IOException => None }

  private def remember(path: String, snap: Snapshot): Unit = {
    if (headMemo.size > 1024) headMemo.clear()
    commitStamp(path, snap.version).foreach(stamp =>
      headMemo.merge(path, Memo(snap, stamp), (old, now) =>
        if (old.snap.version > now.snap.version) old else now))
  }

  /** The memoized snapshot of `path` if it is at or below version `v`
    * and still this table's: its commit file must carry the mtime seen
    * when it was memoized. A table deleted and recreated at the same
    * path restarts its version numbers, and replaying the new log onto
    * the dead table's snapshot would serve neither table; such an entry
    * is dropped whatever version was asked for, or a recreated table
    * younger than the entry could never be memoized. */
  private def memoized(path: String, v: Long): Option[Snapshot] =
    Option(headMemo.get(path)).flatMap { m =>
      if (!commitStamp(path, m.snap.version).contains(m.stamp)) {
        headMemo.remove(path, m)
        None
      } else Some(m.snap).filter(_.version <= v)
    }

  /** Resolve version `asOf` (the head when negative) of `path`; None
    * when no table lives there and no version was asked for. ONE
    * listing of the log gives the head and the checkpoint versions,
    * and the version checks run on it before any commit is read. The
    * replay starts from the nearest of: the memoized snapshot (if at
    * or below the target, and of this table), the newest readable
    * checkpoint above it (a corrupt or old-format one is counted and
    * the next older one tried), or the empty table. */
  private def resolve(path: String, asOf: Long): Option[Snapshot] = {
    val (top, ckpts) = listLog(path)
    if (top < 0 && asOf < 0) return None
    require(top >= 0, s"not a TxnTable: $path")
    val v = if (asOf < 0) top else asOf
    require(v <= top, s"version $v does not exist (latest $top)")
    val memo = memoized(path, v)
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
  private[core] def head(path: String): Option[Snapshot] = resolve(path, -1L)

  /** Test seam: invoked by [[publish]] between a writer's version read
    * and its tryCommit — every attempt of every retrying writer
    * ([[retryRaces]]), of the rewrite writers that rebase past
    * commutable interleaved commits ([[commitRewrite]]) and of
    * [[appendCas]] — letting specs deterministically interleave a
    * concurrent commit into the race window. No-op in production. */
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

  /** Longest stored string bound for stats-in-log (UTF-8 bytes): a
    * longer bound is DROPPED (column conservatively unprunable from
    * the log for this file) rather than truncated — a truncated max
    * smaller than a real value would wrongly skip the file. A limit of
    * the log format only: footer stats keep their full bounds. */
  val MaxLoggedStringBound = 96

  /** The commit-log encoding of one file's footer stats. */
  private[core] def statsJson(st: FileStats): String = {
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
  private[core] def parseAddStats(a: TxnAdd): Option[FileStats] =
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

  /** One column's log-folded statistics (see [[logTableStats]]):
    * bounds/nulls are present ONLY under full add-coverage — an
    * honest global claim, never a partial one. Long bounds live in
    * the PHYSICAL int64 space (days for dates, micros for
    * timestamps). */
  case class LogColStat(dataType: org.apache.spark.sql.types.DataType,
      coverage: Double, lmin: Option[Long], lmax: Option[Long],
      smin: Option[String], smax: Option[String], nulls: Option[Long])

  /** Table statistics of `snap` folded from its live adds' logged
    * stats for the logical columns of `schema` ([[logTableStats]]). */
  private[core] def foldLogStats(snap: Snapshot, schema: StructType)
      : (Long, Long, Seq[(String, LogColStat)]) = {
    val live = snap.stats.filter { case (f, _) => snap.allAdds.contains(f) }
    val adds = live.map { case (f, _) => snap.allAdds(f) }
    val parsed = live.flatMap(_._2)
    val nAdds = adds.size
    val cols = schema.fields.toSeq.map { f =>
      val phys = physicalColName(snap, f.name)
      val have = parsed.filter(_.cols.contains(phys))
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
    (adds.map(_.bytes).sum, adds.map(_.rows).sum, cols)
  }

  private[core] val PhysicalKey = "graft.physical"

  private[core] def physicalFieldName(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private[core] def hasMapping(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(_.metadata.contains(PhysicalKey))

  /** The schema as stored IN FILES: physical names, metadata stripped. */
  private[core] def physicalSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        physicalFieldName(f), f.dataType, f.nullable)))

  /** Logical column name → the physical name stats/files use. */
  private[core] def physicalColName(snap: Snapshot, logical: String): String =
    snap.recordedSchema
      .flatMap(_.fields.find(_.name.equalsIgnoreCase(logical)))
      .map(physicalFieldName).getOrElse(logical)

  /** Every PHYSICAL column name (lowercased) that may exist in the
    * table's data files: the current schema's physical names, the
    * physical names of every schema recorded in the readable log
    * prefix (covers dropped columns whose bytes still sit in live
    * files), and the column sets logged with each live file's
    * write-time stats (covers pre-horizon eras the log no longer
    * replays). Used by [[checkSchema]]'s evolution path to refuse a
    * new logical name that would re-bind old bytes — O(versions)
    * driver metadata on the rare evolve path only. */
  private[core] def physicalNamesInUse(path: String, snap: Snapshot): Set[String] = {
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

  /** How a rewrite commit may REBASE past commits that landed between
    * its snapshot read and its tryCommit (the Delta-style logical
    * conflict check). Without rebase, always-on ingest starves
    * maintenance: a compaction that takes longer than one streaming
    * micro-batch loses the CAS race to the stream's next commit every
    * time and redoes the whole rewrite job from scratch. */
  private[core] sealed trait RebasePolicy
  /** Never rebase — CAS writers whose INPUT ROWS were derived from the
    * base snapshot (appendCas, merge with expectedBase): committing
    * them over anything newer could encode stale derivations. */
  private[core] case object NoRebase extends RebasePolicy
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
  private[core] case object CommuteNonOverlapping extends RebasePolicy
  /** Rebase only past commits that changed NO files (vacuum and other
    * metadata-only commits). INSERT OVERWRITE replaces the table's
    * whole logical content, so it must NOT commute with an interleaved
    * append — the overwrite would need to remove the appended files
    * too, which its recorded removes (resolved at base) do not cover. */
  private[core] case object CommuteMetadataOnly extends RebasePolicy

  /** Whether interleaved commit `c` commutes with a commit that
    * touches `files` (its removes, or the files it reassigns DVs on):
    * the ONE rebase test of rewrite and DV commits.
    *  - A schema-recording commit (evolution) never commutes: our adds
    *    were written under the PRE-evolution shape (the reference lake
    *    formats' ConcurrentMetadataChange rule).
    *  - A constraint:add/:drop is a metadata change like it when ours
    *    carries `checked` content: our adds were validated (withChecks)
    *    against the constraint set at OUR base. A pure DV delete removes
    *    rows and can never violate a fresh CHECK.
    *  - Removing, re-DV'ing or RE-ADDING (restore) one of our files
    *    conflicts: our adds or our cumulative DV were computed from that
    *    file's state at our base, and rebasing would undo the change. */
  private def commutesPast(c: TxnCommit, files: Set[String],
      checked: Boolean): Boolean =
    c.schema.isEmpty && !(checked && c.op.startsWith("constraint:")) &&
      !c.removes.exists(files) && !c.dvs.exists(d => files(d._1)) &&
      !c.adds.exists(a => files(a.path))

  /** Publish a rewrite commit at `base + 1`, rebasing past commutable
    * interleaved commits per `policy` — the SAME adds/removes re-commit
    * at the new head WITHOUT re-running the rewrite job (the whole
    * point: the loser's work is metadata-rebased, not redone). `dvs`
    * makes it a DV commit (optionally carrying fresh adds — the
    * MOR-update shape), which rebases past commits touching none of the
    * DV'd files. Returns the committed version; throws
    * [[TxnConflictException]] on a true logical conflict (callers clean
    * their staged adds). */
  private[core] def commitRewrite(path: String, base: Long, op: String,
      adds: Seq[TxnAdd], removes: Seq[String], policy: RebasePolicy,
      schema: Option[String] = None, dvs: Seq[(String, String)] = Nil,
      maxRebases: Int = 20): Long = {
    val touched = removes.toSet ++ dvs.map(_._1)
    val checked = dvs.isEmpty || adds.nonEmpty
    def commutes(c: TxnCommit): Boolean = policy match {
      case NoRebase => false
      case CommuteNonOverlapping => commutesPast(c, touched, checked)
      // a DV delete changes logical content like an append — an
      // overwrite must not silently swallow it
      case CommuteMetadataOnly => c.adds.isEmpty && c.removes.isEmpty &&
        c.dvs.isEmpty && commutesPast(c, Set.empty, checked = true)
    }
    var v = base + 1
    retryRaces(maxRebases) { lost =>
      lost.foreach { e =>
        val cur = currentVersion(path)
        if (!(v to cur).forall(iv => commutes(readCommit(path, iv)))) throw e
        v = cur + 1
      }
      publish(path)(TxnCommit(v, op, adds, removes, schema, dvs))
    }
  }

  /** The table schema as of the latest commit that recorded one
    * (create + explicit evolutions): the head snapshot's. */
  def currentSchema(path: String)
      : Option[org.apache.spark.sql.types.StructType] =
    head(path).flatMap(_.recordedSchema)

  /** The one retry loop of every retrying writer. `attempt(lost)` runs
    * one attempt: it reads the state it commits against, then publishes
    * ([[publish]], or a single-shot CAS writer such as [[appendCas]]);
    * `lost` is the conflict the previous attempt lost, None on the
    * first. A [[TxnConflictException]] it throws is a lost race and
    * runs the next attempt, up to `maxRetries` retries; then that
    * conflict surfaces. Rethrowing the `lost` it was handed ends the
    * loop at once: a rebase that found a true conflict. */
  private[graft] def retryRaces[T](maxRetries: Int)(
      attempt: Option[TxnConflictException] => T): T = {
    var lost = Option.empty[TxnConflictException]
    var retries = 0
    while (true) {
      try return attempt(lost)
      catch {
        case e: TxnConflictException
            if retries < maxRetries && !lost.contains(e) =>
          retries += 1
          lost = Some(e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish `commit` as its version after [[preCommitHook]]: the one
    * window where a spec interleaves a concurrent commit. `commit` is
    * built AFTER the hook, from state its caller read before it, so a
    * fence it checks sees what the hook committed ([[restore]]). */
  private[core] def publish(path: String)(commit: => TxnCommit): Long = {
    preCommitHook()
    val c = commit
    tryCommit(path, c)
    c.version
  }

  /** Commit a METADATA-ONLY marker (no adds, no removes — logical
    * content unchanged): the carrier for stream high-water marks when a
    * batch changes no data (e.g. a replicated version range that was
    * all vacuum/compaction), Delta's bare `txn` action. Retries version
    * races — a marker conflicts with nothing logically. */
  def commitMarker(path: String, op: String, maxAttempts: Int = 20): Long =
    retryRaces(maxAttempts) { _ =>
      val v = currentVersion(path) + 1
      require(v > 0, s"commitMarker: not a table: $path")
      publish(path)(TxnCommit(v, op, Nil, Nil))
    }

  /** Active CHECK constraints of the table head (name → SQL). */
  def constraints(path: String): Map[String, String] =
    head(path).fold(Map.empty[String, String])(_.constraints)

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

  /** Every leaf name (lowercased) EVER recorded at the dotted parent
    * path across the readable log — the nested resurrection fence. */
  private[core] def historicalLeafNames(path: String, parent: Seq[String])
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
}
