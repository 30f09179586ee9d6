package graft.crawler

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** One discovered dataset in the lake (the crawler's unit of work). */
case class DatasetInfo(
    name: String,
    path: String,
    format: String,
    numFiles: Int,
    sizeBytes: Long,
    modifiedMs: Long)

/** Lake walk + dataset discovery + format detection (SURVEY.md §2.8 C1/C2).
  *
  * Orchestration is deliberately driver-side (a lake crawler enumerates
  * directories and launches Spark jobs per dataset — the listing itself is
  * metadata-sized, not data-sized). Everything data-sized (profiling,
  * catalog writes) runs as Spark jobs. At 100 TB the listing of a huge
  * lake can itself be parallelized with a Spark job over subdirectory
  * ranges; the per-dataset logic below is unchanged.
  */
object LakeCrawler {

  /** Formats the crawler recognizes, by extension then magic bytes. */
  val ParquetMagic: Array[Byte] = "PAR1".getBytes("US-ASCII")
  val OrcMagic: Array[Byte] = "ORC".getBytes("US-ASCII")

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Sniff a file's format: extension first, then magic bytes (PAR1
    * header for parquet, a JSON opener for json-lines, else csv).
    */
  def detectFormat(spark: SparkSession, file: Path): String = {
    val name = file.getName.toLowerCase
    if (name.endsWith(".parquet") || name.endsWith(".parq")) "parquet"
    else if (name.endsWith(".orc")) "orc"
    else if (name.endsWith(".json") || name.endsWith(".jsonl")) "json"
    else if (name.endsWith(".csv") || name.endsWith(".tsv")) "csv"
    else {
      val in = fs(spark, file.toString).open(file)
      try {
        val head = new Array[Byte](4)
        val n = in.read(head)
        if (n >= 4 && head.sameElements(ParquetMagic)) "parquet"
        else if (n >= 3 && head.take(3).sameElements(OrcMagic)) "orc"
        else if (n >= 1 && (head(0) == '{' || head(0) == '[')) "json"
        else "csv"
      } finally in.close()
    }
  }

  private def visibleStatus(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** All visible data files under `p`, recursively — sizing for layouts
    * whose files live in subdirectories (the text index's
    * `postings/bucket=<b>/` tree). Metadata-scale like every listing
    * here; at a huge lake the walk parallelizes as a Spark job over
    * subdirectory ranges (same note as [[discover]]). */
  private def deepFiles(filesystem: FileSystem, p: Path): Seq[FileStatus] =
    filesystem.listStatus(p).filter(visibleStatus).toSeq.flatMap { st =>
      if (st.isFile) Seq(st) else deepFiles(filesystem, st.getPath)
    }

  /** Is this directory a [[graft.operators.Keywords.buildIndex]] layout
    * (`postings/bucket=<b>/` + `stats/`)? Classified as ONE logical
    * `graft-index` dataset — without this, a catalog user would see the
    * postings tree and the stats table profiled as two unrelated user
    * datasets (or, for the bucket-partitioned tree, not at all).
    *
    * Detection keys on the explicit `_graft_index` marker buildIndex
    * writes; legacy pre-marker layouts are accepted only when the
    * structural shape AND the stats parquet schema both match — a user
    * dataset that merely grew a postings/+stats/ pair must NEVER be
    * routed through compactIndex's pinned-schema rewrite, which would
    * destroy foreign data. */
  private def isTextIndex(spark: SparkSession, filesystem: FileSystem,
      dir: Path): Boolean = {
    if (filesystem.exists(new Path(dir, "_graft_index"))) return true
    val postings = new Path(dir, "postings")
    val stats = new Path(dir, "stats")
    filesystem.exists(postings) && filesystem.exists(stats) &&
      filesystem.getFileStatus(postings).isDirectory &&
      filesystem.listStatus(postings)
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")) &&
      statsSchemaMatchesIndex(spark, filesystem, stats)
  }

  /** Is this directory a write-time IVF layout — `__list=<n>/`
    * partition dirs from [[graft.operators.Similarity.withIvfList]] +
    * `partitionBy` (the l3c shape)? Classified as ONE `graft-ann`
    * dataset: the leading-underscore partition dirs make the tree
    * INVISIBLE to the plain directory walk (no top-level files, and
    * the visibility filter skips `__list=` entries), so without this a
    * catalog user would not see the vector corpus at all. */
  private def isAnnLayout(filesystem: FileSystem, dir: Path): Boolean = {
    val entries = filesystem.listStatus(dir)
    entries.exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("__list=")) &&
      !entries.exists(visibleStatus) // nothing BUT the layout (+_SUCCESS etc.)
  }

  /** Data files of an ann layout: descend exactly one level into the
    * `__list=` partition dirs (which the generic visibility filter
    * deliberately skips). */
  private def annFiles(filesystem: FileSystem, dir: Path): Seq[FileStatus] =
    filesystem.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__list="))
      .flatMap(s => filesystem.listStatus(s.getPath).toSeq
        .filter(f => f.isFile && visibleStatus(f)))

  /** Legacy-layout guard: the stats table of a real index carries
    * exactly the (n, sum_dl, n_buckets) columns. Footer-only check;
    * any read problem means "not an index" (conservative). */
  private def statsSchemaMatchesIndex(spark: SparkSession,
      filesystem: FileSystem, stats: Path): Boolean =
    try {
      filesystem.listStatus(stats).filter(_.isFile).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .exists { p =>
          val names = ParquetFileReader.readFooter(
              spark.sparkContext.hadoopConfiguration, p,
              ParquetMetadataConverter.NO_FILTER)
            .getFileMetaData.getSchema.getFields.toArray
            .map(_.asInstanceOf[org.apache.parquet.schema.Type].getName).toSet
          Set("n", "sum_dl", "n_buckets").subsetOf(names)
        }
    } catch { case NonFatal(_) => false }

  /** C1: walk the lake root; each data file or uniform directory of data
    * files becomes a dataset. Hidden/underscore entries (_SUCCESS, …) are
    * skipped, as are empty directories.
    */
  def discover(spark: SparkSession, root: String): Seq[DatasetInfo] = {
    val filesystem = fs(spark, root)
    def visible(st: FileStatus): Boolean = visibleStatus(st)
    def stripExt(n: String): String =
      if (n.contains('.')) n.substring(0, n.lastIndexOf('.')) else n

    filesystem.listStatus(new Path(root)).filter(visible).toSeq.flatMap { st =>
      lazy val txnHead = graft.core.TxnTable.currentVersion(st.getPath.toString)
      if (st.isFile) {
        val fmt = detectFormat(spark, st.getPath)
        Some(DatasetInfo(stripExt(st.getPath.getName), st.getPath.toString,
          fmt, 1, st.getLen, st.getModificationTime))
      } else if (txnHead >= 0) {
        // Transactional table: the dataset is the LOGICAL snapshot, not
        // the directory listing — a raw file walk would double-count
        // dead (compacted/deleted-from) files and could read a
        // half-committed writer's staging output. Size/count come from
        // the commit log's live adds; modifiedMs is the latest commit
        // file, so an incremental re-crawl sees change exactly when a
        // commit lands and never drifts on physical-only noise.
        val t = st.getPath.toString
        // Checkpoint-amortized sizing: resolve the LIVE file list
        // (O(CheckpointInterval) log reads) and stat those files —
        // never a full log replay, so crawl cost is independent of
        // how many commits the table has accumulated. Live files
        // can't race away (vacuum deletes only dead ones); a miss is
        // tolerated as 0 rather than failing the crawl.
        val live = graft.core.TxnTable.snapshotFiles(t, txnHead)
        // deletion-vector sidecars are part of the snapshot's
        // physical footprint too (merge-on-read deletes)
        val dvFiles = graft.core.TxnTable.snapshotDvs(t, txnHead)
          .values.toSeq.distinct
        val bytes = (live ++ dvFiles).map { f =>
          try filesystem.getFileStatus(new Path(st.getPath, f)).getLen
          catch { case _: java.io.FileNotFoundException => 0L }
        }.sum
        Some(DatasetInfo(st.getPath.getName, t, "graft-txn",
          live.size, bytes, graft.core.TxnTable.commitMtime(t, txnHead)))
      } else if (isTextIndex(spark, filesystem, st.getPath)) {
        // C15: one LOGICAL dataset — sized from the layout's LIVE data
        // dirs (a compacted index serves dot-prefixed generation dirs
        // behind the CURRENT pointer, which a plain visible walk would
        // miss entirely), opened as the postings frame, and flagged
        // changed whenever an append or compaction rewrites any part
        // (the pointer file's mtime counts, so a pointer-only swap
        // still keys a change).
        val roots = {
          val (lp, ls) = graft.operators.Keywords
            .liveDirs(st.getPath.toString)
          Seq(lp, ls).map(new Path(st.getPath, _))
            .filter(filesystem.exists(_))
        }
        val cur = {
          val c = new Path(st.getPath, "CURRENT")
          if (filesystem.exists(c)) Seq(filesystem.getFileStatus(c))
          else Nil
        }
        val files = roots.flatMap(deepFiles(filesystem, _)) ++ cur
        if (files.isEmpty) None
        else Some(DatasetInfo(st.getPath.getName, st.getPath.toString,
          "graft-index", files.length, files.map(_.getLen).sum,
          files.map(_.getModificationTime).max))
      } else if (isAnnLayout(filesystem, st.getPath)) {
        // C16: one LOGICAL dataset — the IVF vector layout, sized from
        // the whole partition tree, opened with partition discovery
        // (so `__list` comes back as the assignment column), flagged
        // changed whenever a rewrite touches any partition.
        val files = annFiles(filesystem, st.getPath)
        if (files.isEmpty) None
        else Some(DatasetInfo(st.getPath.getName, st.getPath.toString,
          "graft-ann", files.length, files.map(_.getLen).sum,
          files.map(_.getModificationTime).max))
      } else {
        val files = filesystem.listStatus(st.getPath).filter(_.isFile).filter(visible)
        if (files.isEmpty) None
        else {
          val fmt = detectFormat(spark, files.head.getPath)
          Some(DatasetInfo(st.getPath.getName, st.getPath.toString, fmt,
            files.length, files.map(_.getLen).sum,
            files.map(_.getModificationTime).max))
        }
      }
    }.sortBy(_.name)
  }

  /** Columns of a parquet file whose physical type is INT64 TIMESTAMP(NANOS)
    * — Spark refuses these natively; we ingest them as long then truncate
    * to µs timestamps, and report them as timestamps in the catalog.
    */
  private def nanosTimestampColumns(spark: SparkSession, info: DatasetInfo): Set[String] = {
    if (info.format != "parquet") return Set.empty
    val filesystem = fs(spark, info.path)
    val p = new Path(info.path)
    val file =
      if (filesystem.getFileStatus(p).isFile) p
      else filesystem.listStatus(p).filter(_.isFile)
        .filterNot(s => s.getPath.getName.startsWith("_")).head.getPath
    val footer = ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration, file, ParquetMetadataConverter.NO_FILTER)
    footer.getFileMetaData.getSchema.getFields.toArray.collect {
      case f: org.apache.parquet.schema.Type
          if f.getLogicalTypeAnnotation.isInstanceOf[TimestampLogicalTypeAnnotation] &&
            f.getLogicalTypeAnnotation.asInstanceOf[TimestampLogicalTypeAnnotation]
              .getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
        f.getName
    }.toSet
  }

  /** Open a dataset as a DataFrame, with schema inference for csv/json and
    * ns-timestamp normalization (ns → µs truncation) for parquet.
    */
  def open(spark: SparkSession, info: DatasetInfo): DataFrame = info.format match {
    case "parquet" =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      val raw = spark.read.parquet(info.path)
      nanosTimestampColumns(spark, info).foldLeft(raw) { (df, c) =>
        df.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(s"`$c` div 1000")))
      }
    case "graft-txn" => graft.core.TxnTable.read(spark, info.path)
    // the index's data-shaped face is its postings (term, doc_id, dl,
    // tf, positions, bucket); the stats table is the layout's own
    // metadata, folded by the serving paths, not user data
    case "graft-index" => spark.read.parquet(
      s"${info.path}/${graft.operators.Keywords.liveDirs(info.path)._1}")
    // partition discovery restores `__list` as the assignment column —
    // the layout's data-shaped face is (vec_id, embedding, __list)
    case "graft-ann" => spark.read.parquet(info.path)
    case "orc" => spark.read.orc(info.path)
    case "json" => spark.read.json(info.path)
    case "csv" => spark.read
      .option("header", "true").option("inferSchema", "true").csv(info.path)
    case other => throw new IllegalArgumentException(s"unknown format $other")
  }

  /** C2: extracted (ingest) schema per dataset — what `open` produces,
    * i.e. footer-driven for parquet (ns timestamps normalized to µs
    * TimestampType) and inference-driven for csv/json.
    */
  def extractSchema(spark: SparkSession, info: DatasetInfo): StructType =
    open(spark, info).schema
}
