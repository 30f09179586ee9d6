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

/** Copy-on-write and merge-on-read DML of a [[TxnTable]]: staged
  * writes, schema and CHECK validation, append, overwrite, delete,
  * update, merge and keyed change batches. */
private[core] trait TxnDml extends TxnReads {

  /** Write df's rows as fresh immutable part files; returns their adds.
    * Rows per file are counted from the parquet footers the write
    * produced (no second scan).
    */
  private[core] def writeData(
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
  private[core] def writeDataPrepared(
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

  class SchemaMismatchException(msg: String) extends RuntimeException(msg)

  /** Delete the staged-but-never-committed data files (and DV file) of
    * an aborted or empty write. writeData moves fresh files into data/
    * BEFORE the commit loop, and vacuum only ever deletes files some
    * commit referenced — so an abort (schema mismatch discovered on
    * retry, a single-shot writer losing its race, an exhausted retry
    * budget) must clean up its own staging or the files leak forever.
    * Only called with files this writer created itself; restore/vacuum
    * re-reference existing files and never come through here. */
  private[core] def cleanupStaged(path: String, adds: Seq[TxnAdd],
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

  /** The snapshot files whose scan name is in `hitNames` (UUID file
    * names are a complete key; the last-segment comparison works for
    * own-root relative paths AND a shallow clone's absolute source
    * references alike). */
  private def hitFiles(path: String, files: Seq[String],
      hitNames: Set[String]): Seq[String] =
    files.filter(f => hitNames.contains(scanName(path, f)))

  /** Validate an incoming write's schema; returns the schema to record
    * in the commit (on create/evolution, or when a nullability-LOOSER
    * writer auto-evolves the recorded schema to nullable — the
    * asymmetric direction: stricter writers record nothing) or None
    * (unchanged). Validate-only callers that discard the result accept
    * the loosening without recording it; that is sound here because
    * every read forces asNullable (every scan is an all-nullable file
    * scan, zero-file ones included) — recording where the
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
    try publish(path)(TxnCommit(base + 1, op, adds, Nil, newSchema))
    catch { case e: Throwable => cleanupStaged(path, adds); throw e }
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
    // Any abort past this point (schema mismatch discovered on retry,
    // retry budget exhausted) must delete the staged files it can no
    // longer commit — see cleanupStaged.
    try retryRaces(maxAttempts) { lost =>
      if (lost.nonEmpty) {
        // The lost race may have been a concurrent evolveSchema:
        // re-validate against the FRESH snapshot so a drifted append
        // fails loudly instead of committing stale-schema data.
        newSchema = checkSchema(path, df, evolveSchema)
        // ... or a concurrent addConstraint: the staged rows were
        // checked against the OLD constraint set — re-validate them
        // (the outer catch cleans the staged files on violation)
        csStage = revalidateStaged(spark, path, adds, csStage)
      }
      val v = currentVersion(path) + 1
      publish(path)(TxnCommit(v, op, adds, Nil, newSchema))
    } catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

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
    (liveTagged(snap, scan(spark, path, snap, snap.files), deleted), deleted,
      snap.files)
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
    try commitRewrite(path, base, op, adds, Nil, CommuteNonOverlapping,
      dvs = dvs)
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

  class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** Enforce the table's CHECK constraints on `df` INSIDE the write
    * job that consumes it: each row is guarded by an `assert_true`
    * that throws (with the constraint name) on a FALSE check — a NULL
    * check satisfies, per SQL. Zero extra passes: the guard is a
    * codegen'd filter that keeps every passing row, so the write plan
    * is unchanged except for the inline assertion; tables with no
    * constraints get `df` back untouched. */
  private[core] def withChecks(spark: SparkSession, path: String,
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
  private[core] def revalidateStaged(spark: SparkSession, path: String,
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
    // Schema-pinned read (scan): on a schema-evolved table the
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
    try retryRaces(maxAttempts) { lost =>
      // the lost race may have been a concurrent addConstraint —
      // re-validate the staged rows against the fresh set (the catch
      // below cleans the staged tranche if they violate it)
      if (lost.nonEmpty)
        csStage = revalidateStaged(spark, path, adds, csStage)
      if (alreadyApplied()) {
        // duplicate detected only AFTER staging (the redelivered batch
        // lost a race to its own first delivery): the staged files will
        // never be committed — drop them, don't orphan them
        cleanupStaged(path, adds)
        None
      } else {
        val v = currentVersion(path) + 1
        Some(publish(path)(TxnCommit(v, op, adds, Nil)))
      }
    } catch {
      case _: TxnConflictException =>
        cleanupStaged(path, adds)
        sys.error(s"appendStreamBatch: lost $maxAttempts version races for $op")
      case e: Throwable => cleanupStaged(path, adds); throw e
    }
  }
}
