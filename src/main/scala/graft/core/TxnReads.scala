package graft.core

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.crawler.SkippingIndex.FileStats

/** Reads of a [[TxnTable]] snapshot: scans under the recorded schema,
  * column mapping, deletion vectors as a scan filter, log-stats file
  * selection, bloom probes and version diffs. */
private[core] trait TxnReads extends TxnLog {

  /** The ONE way a snapshot's data files become a Spark scan: a raw
    * parquet scan of `files` (table-relative or absolute files of
    * `snap`, any subset, none included) over a [[TxnFileIndex]], so
    * Spark lists and stats nothing the log already names. The scan
    * binds the RECORDED schema by PHYSICAL names (files always store
    * physical; a renamed logical name would read all-NULL), all-nullable
    * as Spark reads any user schema: evolved-in columns null-fill on
    * old-generation files, a dropped column stays dropped, and a
    * zero-file scan has the same schema and `_metadata` column as a
    * file-backed one. Every version-0 writer records a schema, so a
    * snapshot without one is refused. */
  private[core] def scan(spark: SparkSession, path: String, snap: Snapshot,
      files: Seq[String]): DataFrame = {
    val schema = Bridge.asNullable(physicalSchema(schemaOf(path, snap)))
    val root = localRoot(path)
    val fs = new HPath(root.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = files.map(f => new FileStatus(snap.allAdds(f).bytes,
      false, 0, 0, 0, fs.makeQualified(new HPath(root.resolve(f).toString))))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new TxnFileIndex(path, snap, files, statuses), new StructType(),
      schema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The Spark file index of a [[scan]]: exactly `statuses`, the
    * qualified `files` of `snap` sized by their logged `bytes`, in one
    * partition-less directory; nothing to refresh. Equal on (table,
    * version, files), as Spark's own index compares on its paths, so
    * two scans of the same files are one relation to the cache
    * manager and exchange reuse. */
  private[core] final class TxnFileIndex(val table: String,
      val snap: Snapshot, val files: Seq[String], statuses: Seq[FileStatus])
      extends FileIndex {
    def rootPaths: Seq[HPath] = statuses.map(_.getPath)
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
    def inputFiles: Array[String] =
      statuses.map(_.getPath.toUri.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = statuses.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
    override def equals(o: Any): Boolean = o match {
      case i: TxnFileIndex => i.table == table &&
        i.snap.version == snap.version && i.files == files
      case _ => false
    }
    override def hashCode: Int = (table, snap.version, files).##
  }

  /** `snap`'s recorded schema; a snapshot without one is refused. */
  private[core] def schemaOf(path: String, snap: Snapshot): StructType =
    snap.recordedSchema.getOrElse(throw noSchema(path, snap))

  private def noSchema(path: String, snap: Snapshot): Exception =
    new IllegalStateException(
      s"$path at version ${snap.version} has no recorded schema")

  /** The log stats and properties of the snapshot a [[scan]] relation
    * reads — what a SQL read's statistics come from, with no second
    * resolution of its version; None for any other relation. */
  private[graft] def scannedSnapshotStats(relation: BaseRelation)
      : Option[((Long, Long, Seq[(String, LogColStat)]), Map[String, String])] =
    relation match {
      case HadoopFsRelation(ix: TxnFileIndex, _, _, _, _, _) =>
        ix.snap.logStats.map(_ -> ix.snap.props)
      case _ => None
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

  private[core] def toLogical(df: DataFrame,
      s: org.apache.spark.sql.types.StructType): DataFrame =
    if (!hasMapping(s)) df
    else renameAll(df,
      s.fields.filter(_.metadata.contains(PhysicalKey))
        .map(f => physicalFieldName(f).toLowerCase -> f.name).toMap)

  private[core] def toPhysical(df: DataFrame,
      s: org.apache.spark.sql.types.StructType): DataFrame =
    if (!hasMapping(s)) df
    else renameAll(df,
      s.fields.filter(_.metadata.contains(PhysicalKey))
        .map(f => f.name.toLowerCase -> physicalFieldName(f)).toMap)

  /** The name a parquet scan reports for snapshot file `f` (table-relative
    * or absolute): the last segment of its URI, URL-encoded the way
    * `_metadata.file_path` gives it (`part a+b.parquet` scans as
    * `part%20a+b.parquet`). DV rows and the `__fname` column carry this
    * form. */
  private[core] def scanName(path: String, f: String): String =
    new org.apache.hadoop.fs.Path(localRoot(path).resolve(f).toString)
      .toUri.getRawPath.split('/').last

  /** `scan` with each row's data-file scan name (`__fname`) and row
    * position (`__pos`), both read from the file source's `_metadata`
    * column. Both are deterministic (Spark's per-row file-name function
    * is not, and Catalyst pushes no filter below it), so a filter above
    * the tag still pushes into the parquet scan. */
  private def withFilePos(scan: DataFrame): DataFrame =
    scan.select(col("*"),
      substring_index(col("_metadata.file_path"), "/", -1).as("__fname"),
      col("_metadata.row_index").as("__pos"))

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
  private[core] def liveTagged(snap: Snapshot, scan: DataFrame,
      deleted: Map[String, Roaring64Bitmap]): DataFrame = {
    val tagged = withFilePos(scan)
    logicalAt(snap,
      if (deleted.isEmpty) tagged
      else tagged.filter(notDeleted(deleted)(col("__fname"), col("__pos"))))
  }

  /** Apply a snapshot's DELETION VECTORS to a raw [[scan]] of (a
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
    else if (dvm.isEmpty) logicalAt(snap, scan)
    else logicalAt(snap, scan.filter(notDeleted(deletedAt(spark, path,
      dvm))(col("_metadata.file_path"), col("_metadata.row_index"))))
  }

  /** The DV sidecar schema: one row per deleted (data file scan name,
    * row position). */
  private[core] val DvSchema = StructType(Seq(
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
  private[core] def deletedAt(spark: SparkSession, path: String,
      dvm: Map[String, String]): Map[String, Roaring64Bitmap] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dvm.flatMap { case (f, dv) =>
      val n = scanName(path, f)
      dvPositions(conf, localRoot(path).resolve(dv).toString).get(n)
        .map(n -> _)
    }
  }

  /** Live rows (logical names, DVs applied) of `rels`, files of `snap`:
    * all of them for a read or a DML probe, or the subset a pruned
    * read, diff or rewrite reads (kept files, changed files, a
    * statement's hit files, a compaction's candidates). */
  private[core] def scanFiles(spark: SparkSession, path: String, snap: Snapshot,
      rels: Seq[String], keepFname: Boolean = false): DataFrame =
    applyDv(spark, path, snap, scan(spark, path, snap, rels), keepFname)

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
    snap.logStats.getOrElse(throw noSchema(path, snap))
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

  /** [[read]] addressed by wall-clock time instead of version. */
  def readAsOfTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    read(spark, path, versionAt(path, tsMillis))

  /** Read a snapshot (latest, or time-travel to `asOf`) under its
    * recorded schema. A TRUNCATE (or delete-all) leaves a ZERO-FILE
    * snapshot, which reads as an empty frame of the same schema:
    * appends start clean, aggregates answer zero. */
  def read(spark: SparkSession, path: String, asOf: Long = -1L): DataFrame = {
    val snap = readable(path, asOf)
    scanFiles(spark, path, snap, snap.files)
  }

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

  // -- log-stats file selection --------------------------------------------
  //
  // Every pruned read, metadata-only aggregate and scoped compaction
  // picks its files from ONE driver-side walk over the live files'
  // write-time stats (stats-in-log, `Snapshot.stats`): no footer open
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

  /** The live files of `snap` (in its order) that EVERY bound keeps.
    * Stats come from the log; a file without them, or whose stats
    * never attempted a bound's column (schema drift across
    * generations), footer-reads in ONE batch, narrowed to the bounds'
    * columns. A column a file's stats attempted but hold no bounds for
    * keeps the file without a footer read — the footer would find
    * nothing either. A file that vanished before its footer read is
    * not part of any readable snapshot and is dropped. */
  private[core] def selectFiles(spark: SparkSession, path: String, snap: Snapshot,
      bounds: Seq[Bound]): Seq[String] = {
    // stats (log AND footers) are keyed by PHYSICAL names
    val phys = bounds.map(b => physicalColName(snap, b.column))
    val cols = phys.distinct
    val walk = snap.stats.map { case (f, st) =>
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
    * returns a ZERO-file frame with the snapshot's schema, so
    * `df.inputFiles` reports exactly what the read touches. */
  def readPruned(spark: SparkSession, path: String, bounds: Seq[Bound],
      asOf: Long = -1L): DataFrame = {
    require(bounds.nonEmpty, "readPruned: at least one bound")
    val snap = readable(path, asOf)
    val kept = scanFiles(spark, path, snap,
      selectFiles(spark, path, snap, bounds))
    kept.filter(bounds.map(_.residual(kept.schema)).reduce(_ && _))
  }

  /** `column`'s data type, which must live in the physical int64 space
    * (integral, date, timestamp) for `what`'s bounds — a string column
    * would otherwise silently degrade a prune to the whole table (no
    * long stats → conservatively kept). */
  private[core] def requireIntegral(schema: StructType, column: String,
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
    // metadata-only planning: fences + RECORDED schema, then a scan of
    // the boundary files only
    val (schema, snap) = snapshotSchemaFenced(path, asOf)
    val dt = requireIntegral(schema, column, "countRange")
    midReadHook()
    val physCol = physicalColName(snap, column)
    val dvNames = snap.dvs.keySet.map(_.split('/').last)
    val walk = snap.stats
    var metaCount = 0L
    val toScan = Seq.newBuilder[String]
    walk.foreach { case (f, st) =>
      val hasDv = dvNames.contains(f.split('/').last)
      val b = st.flatMap(_.longs.get(physCol))
      val nc = st.flatMap(_.nulls.get(physCol))
      if (b.exists { case (mn, mx) => mx < lo || mn > hi }) {
        // disjoint: 0 matches — a DV only removes rows, so it stays 0
      } else if (hasDv) toScan += f
      else (b, nc, st.map(_.rows)) match {
        case (Some((mn, mx)), Some(n), Some(rows)) if mn >= lo && mx <= hi =>
          metaCount += rows - n // fully inside: every non-null row hits
        case (None, Some(n), Some(rows)) if n == rows =>
          () // all-null column: no row can match a range
        case _ => toScan += f // boundary / unknown nulls / voided bounds
      }
    }
    val scanned = toScan.result()
    // scan half pinned to the SAME resolved snapshot as the metadata
    // half: a commit landing in between (e.g. a MOR delete adding a
    // DV) must not mix snapshots — metadata counted at `snap`,
    // boundary files DV-subtracted at a newer head — or the
    // documented-exact count is wrong under concurrency.
    val hits =
      if (scanned.isEmpty) 0L
      else scanFiles(spark, path, snap, scanned)
        .filter(physicalBetweenType(dt, column, lo, hi))
        .count()
    (metaCount + hits, scanned.size, walk.size)
  }

  /** Recorded snapshot schema + resolved snapshot, with [[read]]'s
    * asOf fences — schema resolution from the LOG, zero file listings. */
  private[core] def snapshotSchemaFenced(path: String,
      asOf: Long): (StructType, Snapshot) = {
    val snap = readable(path, asOf)
    (schemaOf(path, snap), snap)
  }

  /** Global (min, max) of `column` in the physical int64 space, planned
    * from the commit log: clean stats-carrying files contribute their
    * logged bounds driver-side; only DV-carrying and stats-less files
    * are scanned (a DV may have deleted the extreme row). Returns
    * (min, max, filesScanned, filesTotal) — None/None for an empty or
    * all-null column. Integral, date, and timestamp columns only. */
  def minMaxOf(spark: SparkSession, path: String, column: String,
      asOf: Long = -1L): (Option[Long], Option[Long], Int, Int) = {
    val (schema, snap) = snapshotSchemaFenced(path, asOf)
    val phys = requireIntegral(schema, column, "minMaxOf") match {
      case TimestampType => unix_micros(col(column))
      case DateType => unix_date(col(column)).cast("long")
      case _ => col(column).cast("long")
    }
    midReadHook()
    val physCol = physicalColName(snap, column)
    val dvNames = snap.dvs.keySet.map(_.split('/').last)
    val walk = snap.stats
    var mn = Option.empty[Long]
    var mx = Option.empty[Long]
    val toScan = Seq.newBuilder[String]
    walk.foreach { case (f, st) =>
      val hasDv = dvNames.contains(f.split('/').last)
      st.flatMap(_.longs.get(physCol)) match {
        case Some((fMn, fMx)) if !hasDv =>
          mn = Some(mn.fold(fMn)(math.min(_, fMn)))
          mx = Some(mx.fold(fMx)(math.max(_, fMx)))
        case None if !hasDv &&
            st.exists(s => s.nulls.get(physCol).contains(s.rows)) =>
          () // all-null column in this file: contributes no extreme
        case _ => toScan += f
      }
    }
    val scanned = toScan.result()
    // same-snapshot pin as countRange: DV subtraction at `snap`, never
    // at a head that advanced after the metadata half resolved
    if (scanned.nonEmpty) {
      val r = scanFiles(spark, path, snap, scanned)
        .agg(min(phys), max(phys)).head()
      if (!r.isNullAt(0)) {
        val (sMn, sMx) = (r.getLong(0), r.getLong(1))
        mn = Some(mn.fold(sMn)(math.min(_, sMn)))
        mx = Some(mx.fold(sMx)(math.max(_, sMx)))
      }
    }
    (mn, mx, scanned.size, walk.size)
  }

  private[graft] def bloomPath(path: String): String = path + "__bloom"

  /** Point lookup through the per-file Bloom index: rows with `column`
    * ∈ `values`, scanning only files whose bloom might contain one of
    * the probes (files without a bloom row — new since the last build,
    * or no index at all — are conservatively kept; a false positive
    * costs one extra file scan, never a wrong row: the exact predicate
    * always re-applies). DV-aware, zero footer reads, and the probe
    * itself runs inside tasks — only kept file names reach the
    * driver. An empty `values` list scans no file. */
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
    val live = snap.files
    val bp = bloomPath(path)
    // The probe runs inside tasks; only names of live files whose
    // bloom PROVES absence reach the driver (a file with no bloom row
    // — new since the last build, or a dead file's leftover row — is
    // conservatively kept / ignored without ever being collected).
    // kept = live \ excluded reproduces the verdict-map semantics
    // exactly: getOrElse(f, true) kept unindexed files, and an indexed
    // file was dropped iff its probe said definitely-absent.
    def excluded: Set[String] = {
      val liveSet = live.toSet
      val colLc = column.toLowerCase
      val out = read(spark, bp)
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
      OpMetrics.record(BloomProbeCollected, out.size)
      out
    }
    val kept =
      if (vs.isEmpty) Nil
      else if (currentVersion(bp) < 0) live
      else live.filterNot(excluded)
    scanFiles(spark, path, snap, kept).filter(pred)
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
      scanFiles(spark, path, v, files.toSeq)
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
