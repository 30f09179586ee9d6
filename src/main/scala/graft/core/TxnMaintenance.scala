package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, FileAlreadyExistsException}

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

/** Physical maintenance of a [[TxnTable]]: compaction and clustering,
  * vacuum, shallow clone, restore, truncate, repair and DESCRIBE
  * DETAIL. */
private[core] trait TxnMaintenance extends TxnDml {

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
    val (schema, snap) = snapshotSchemaFenced(path, -1L)
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
    val (schema, snap) = snapshotSchemaFenced(path, -1L)
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
    retryRaces(maxAttempts) { _ =>
      val now = snapshot(path)
      val cur = now.version
      val live = now.files
      // roll the recorded schema back too, if evolution happened since
      val schemaRollback =
        if (targetSnap.schema != now.schema) targetSnap.schema else None
      publish(path) {
        // Re-check INSIDE the race window: a vacuum may have raised the
        // horizon (and physically deleted the target's files) since the
        // entry check — committing would resurrect dangling paths. A
        // vacuum that lands after this check instead wins the version
        // race, and the retry re-enters through this check.
        requireReadable()
        // dvs: the re-add clears each file's DV, the same commit's dvs
        // then restore the TARGET version's map — so a restore across
        // a dvdelete rolls the deletion vectors back too
        TxnCommit(cur + 1, s"restore:$toVersion", targetAdds,
          live.filterNot(target.contains), schemaRollback,
          targetSnap.dvs.toSeq.sortBy(_._1))
      }
    }
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
    val ai = snap.allAdds
    val (_, dead, _) = vacuumable(path, snap, retainVersions)
    dead.toSeq.sorted
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
    * Scale: resolves the retained window from ONE replay
    * ([[vacuumable]]: the horizon's snapshot, checkpoint-amortized, then
    * each retained commit once — never an O(versions) log replay; the
    * spec pins the read count on a 100+-commit table); deletion is
    * O(dead files).
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
    retryRaces(20) { _ =>
      val snap = snapshot(path)
      val (horizon, dead, keptDvs) = vacuumable(path, snap, retainVersions)
      val v = publish(path)(
        TxnCommit(snap.version + 1, s"vacuum:$horizon", Nil, Nil))
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
        val keepDv = (keptDvs ++ snapshotDvs(path).values)
          .map(f => localRoot(path).resolve(f).normalize)
        val cutoff = System.currentTimeMillis() - orphanGraceMs
        val it = Files.walk(dvDir(path))
        try it.iterator().asScala.foreach { p =>
          if (Files.isRegularFile(p) &&
            !keepDv.contains(p.normalize) &&
            Files.getLastModifiedTime(p).toMillis < cutoff &&
            Files.deleteIfExists(p)) deleted += 1
        } finally it.close()
      }
      (v, deleted)
    }
  }

  /** What a vacuum of `snap` keeping its last `retainVersions`
    * versions may reap: (horizon, dead data files, DV files the
    * retained window maps). Known-dead only: files REFERENCED by some
    * commit and live in no retained snapshot and no registered clone
    * pin. Never "everything not kept" — a concurrent appender stages
    * its data files BEFORE its commit, and an unreferenced file may be
    * exactly that; allAdds only ever holds committed references. The
    * window resolves from ONE replay: a file (or DV file) live at a
    * retained version is live at the horizon or added (assigned) by a
    * retained commit, so the horizon's snapshot plus each later commit,
    * read once, is the keep set. */
  private def vacuumable(path: String, snap: Snapshot, retainVersions: Int)
      : (Long, Set[String], Set[String]) = {
    val cur = snap.version
    val horizon = math.max(snap.horizon,
      math.max(0L, cur - retainVersions + 1))
    val kept = snapshot(path, horizon) +: registeredClonePins(path)
      .filter(v => v >= 0 && v <= cur).distinct.map(snapshot(path, _))
    val window = ((horizon + 1) to cur).map(commitInfo(path, _))
    val keep = kept.flatMap(_.live) ++ window.flatMap(_.adds.map(_.path))
    val keptDvs = kept.flatMap(_.dvs.values) ++
      window.flatMap(_.dvs.map(_._2))
    (horizon, snap.allAdds.keySet -- keep, keptDvs.toSet)
  }
}
