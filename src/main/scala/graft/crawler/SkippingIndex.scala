package graft.crawler

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data-skipping index from parquet footers (the crawler's
  * contribution to scan planning): per file, row count and per-column
  * min/max from row-group statistics — read from FOOTERS ONLY, no data
  * scan. A z-ordered or sorted layout makes these ranges tight, and a
  * box predicate then selects the few files whose ranges intersect; the
  * scan reads only those.
  *
  * Scale notes: footer reads are O(files) metadata operations — at a
  * million files, parallelize the listing with a Spark job over path
  * ranges (same shape as LakeCrawler.discover's note); the index itself
  * is a tiny table persisted next to the catalog and consulted before
  * `spark.read.parquet(selectedFiles: _*)`.
  */
object SkippingIndex {

  /** Parquet footer opens, counted on the driver where the file list
    * is dispatched (driver loop or distributed build alike), so a
    * caller can assert a log-stats read planned with ZERO footers. */
  val FooterReads: graft.core.OpMetrics.Key[Long] =
    graft.core.OpMetrics.Key.counter("footer_reads")

  /** `body`'s value; fails with `what` if it opened any footer. */
  def footerFree[A](what: String)(body: => A): A = {
    val (a, rec) = graft.core.OpMetrics.scope(body)
    val reads = rec.count(FooterReads)
    require(reads == 0, s"$what ($reads footer reads)")
    a
  }

  /** Java-serializable Hadoop Configuration carrier for the distributed
    * footer-read path: Configuration itself is not Serializable, but it
    * IS Writable — ship the session's conf (custom filesystems,
    * object-store credentials) to executors instead of rebuilding
    * defaults per partition, which silently drops that config. */
  private class SerConf(@transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Long-typed min/max stats per file for `columns` + row count.
    * Columns must be INT64 in the files (the id/key columns a layout
    * clusters on). Missing stats → null bounds (file never skipped).
    */
  def build(spark: SparkSession, dir: String, columns: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val files = fs.listStatus(new Path(dir)).filter(_.isFile)
      .map(_.getPath).filterNot(p => p.getName.startsWith("_"))
      .filter(_.getName.endsWith(".parquet"))
    buildForFiles(spark, files.toSeq.map(_.toString), columns)
  }

  /** Above this many files the footer reads run as a Spark job over
    * the path list instead of a driver loop — serving-path calls
    * (a snapshot's dozens of files) stay zero-job-overhead, while a
    * million-file table never funnels its metadata scan through one
    * thread. */
  val DistributeThreshold = 256

  /** Per-block statistics for `column` across a file's row groups, or
    * None when ANY block with rows lacks USABLE stats for it (writer
    * disabled statistics, or parquet dropped oversized binary bounds):
    * bounds folded from the remaining blocks would be too NARROW, and a
    * pruned read trusting them could skip a file that holds matching
    * rows — dropped data, not just a missed optimization. Returns every
    * row-bearing block's stats (callers filter `hasNonNullValue` for
    * min/max folds); a block whose column is entirely null DOES carry
    * usable stats (num-nulls set, no non-null value) and never voids —
    * null rows never satisfy a range predicate. */
  private def usableStats(
      blocks: scala.collection.Seq[
        org.apache.parquet.hadoop.metadata.BlockMetaData],
      column: String)
      : Option[scala.collection.Seq[
        org.apache.parquet.column.statistics.Statistics[_]]] = {
    val perBlock = blocks.filter(_.getRowCount > 0).map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == column)
        .map(_.getStatistics)
    }
    if (perBlock.exists(o => o.isEmpty || o.get == null || o.get.isEmpty))
      None
    else Some(perBlock.map(_.get))
  }

  /** One file's (path, rowCount, mins, maxs) from its parquet footer;
    * None if the file vanished (a concurrent vacuum reaping a dead
    * sibling — it cannot be part of the caller's snapshot, so skipping
    * preserves correctness). Serializable-closure-safe: takes the
    * Configuration explicitly so the distributed path can construct
    * one per partition. */
  private def footerBounds(conf: org.apache.hadoop.conf.Configuration,
      path: String, columns: Seq[String])
      : Option[(String, Long, Seq[Option[Long]], Seq[Option[Long]])] = {
    val p = new Path(path)
    val footerOpt =
      try Some(ParquetFileReader.readFooter(conf, p,
        ParquetMetadataConverter.NO_FILTER))
      catch { case _: java.io.FileNotFoundException => None }
    footerOpt.map { footer =>
      val blocks = footer.getBlocks.asScala
      val rowCount = blocks.map(_.getRowCount).sum
      val bounds = columns.map { c =>
        // usableStats: a block with rows but no usable stats VOIDS the
        // column (bounds from the other blocks would be too narrow and
        // could wrongly skip the file). Non-int64/32 stats (or a
        // re-typed column) likewise degrade to no-bounds — the file is
        // conservatively kept, never wrongly skipped. INT32 and INT64
        // both index (TxnIndex's bucket column is INT32; timestamps
        // are physically INT64 micros).
        val stats = usableStats(blocks, c).getOrElse(Nil)
          .filter(_.hasNonNullValue)
        val longs = stats.flatMap { s =>
          (s.genericGetMin, s.genericGetMax) match {
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              Some((mn.longValue, mx.longValue))
            case (mn: java.lang.Integer, mx: java.lang.Integer) =>
              Some((mn.longValue, mx.longValue))
            case _ => None
          }
        }
        if (longs.isEmpty || longs.size != stats.size)
          (Option.empty[Long], Option.empty[Long])
        else (Some(longs.map(_._1).min), Some(longs.map(_._2).max))
      }
      (p.toString, rowCount, bounds.map(_._1), bounds.map(_._2))
    }
  }

  /** Index an EXPLICIT file list — the entry point for snapshot-scoped
    * callers (TxnTable.readPruned indexes only the resolved live files,
    * never dead/orphaned siblings in the same directory). Small lists
    * index in a driver loop (no job overhead on serving paths); past
    * [[DistributeThreshold]] the footer reads fan out as a Spark job,
    * so consumers can keep filtering the result AS A DATAFRAME and
    * collect only the kept file names — full per-file stats never
    * funnel through the driver for a huge table.
    */
  def buildForFiles(spark: SparkSession, paths: Seq[String],
      columns: Seq[String]): DataFrame = {
    import spark.implicits._
    readFooters(spark, paths, footerBounds(_, _, columns))
      .toDF("file", "row_count", "mins", "maxs")
  }

  /** `read` over every path: a driver loop up to [[DistributeThreshold]]
    * files, a Spark job past it. Counts [[FooterReads]] here, on the
    * driver, for both. */
  private def readFooters[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      spark: SparkSession, paths: Seq[String],
      read: (org.apache.hadoop.conf.Configuration, String) => Option[T])
      : org.apache.spark.sql.Dataset[T] = {
    graft.core.OpMetrics.add(FooterReads, paths.size)
    val hconf = spark.sparkContext.hadoopConfiguration
    if (paths.size <= DistributeThreshold)
      spark.createDataset(paths.flatMap(read(hconf, _)))
    else {
      val slices = math.min(64, math.max(1, paths.size / 256))
      // ship the SESSION's Hadoop conf (custom filesystems, object-store
      // credentials) — a default per-partition Configuration would make
      // distributed builds fail exactly where the driver path succeeds
      val bconf = spark.sparkContext.broadcast(new SerConf(hconf))
      spark.createDataset(
        spark.sparkContext.parallelize(paths, slices).mapPartitions { it =>
          val conf = bconf.value.value
          it.flatMap(read(conf, _))
        })
    }
  }

  /** One file's (path, rowCount, min, max) STRING bounds for `column`
    * from its parquet footer — the string sibling of [[footerBounds]]
    * (separate shape: typed bounds can't share the long-array schema).
    * Parquet UTF8 stats order is unsigned byte-lexicographic, which is
    * exactly Spark's UTF8String column comparison — so a DataFrame
    * filter over these bounds is consistent with how the stats were
    * computed (and parquet's own truncation rules keep truncated
    * bounds valid: min ≤ values ≤ max always). Non-binary stats →
    * null bounds (file conservatively kept). */
  private def footerStringBounds(
      conf: org.apache.hadoop.conf.Configuration,
      path: String, column: String)
      : Option[(String, Long, Option[String], Option[String])] = {
    val p = new Path(path)
    val footerOpt =
      try Some(ParquetFileReader.readFooter(conf, p,
        ParquetMetadataConverter.NO_FILTER))
      catch { case _: java.io.FileNotFoundException => None }
    footerOpt.map { footer =>
      val blocks = footer.getBlocks.asScala
      val rowCount = blocks.map(_.getRowCount).sum
      // usableStats: any row-bearing block without usable stats voids
      // the bounds — see the long-typed sibling above
      val stats = usableStats(blocks, column).getOrElse(Nil)
        .filter(_.hasNonNullValue)
      val bins = stats.flatMap { s =>
        (s.genericGetMin, s.genericGetMax) match {
          case (mn: org.apache.parquet.io.api.Binary,
                mx: org.apache.parquet.io.api.Binary) =>
            Some((mn.getBytes, mx.getBytes))
          case _ => None
        }
      }
      // Fold per-row-group bounds to file level as UNSIGNED UTF-8 BYTES —
      // the order parquet's UTF8 stats and Spark's UTF8String comparison
      // both use. Java String's .min/.max compare UTF-16 code units,
      // which DISAGREES with byte order for supplementary-plane code
      // points (e.g. U+10000 sorts below U+FFFF in UTF-16 but above in
      // UTF-8), so a multi-row-group file could report a wrong file-level
      // bound and be wrongly skipped.
      val bounds =
        if (bins.isEmpty || bins.size != stats.size)
          (Option.empty[String], Option.empty[String])
        else {
          def lt(a: Array[Byte], b: Array[Byte]): Boolean = {
            var i = 0
            val n = math.min(a.length, b.length)
            while (i < n) {
              val d = (a(i) & 0xff) - (b(i) & 0xff)
              if (d != 0) return d < 0
              i += 1
            }
            a.length < b.length
          }
          val mn = bins.map(_._1).reduce((a, b) => if (lt(a, b)) a else b)
          val mx = bins.map(_._2).reduce((a, b) => if (lt(a, b)) b else a)
          (Some(new String(mn, java.nio.charset.StandardCharsets.UTF_8)),
            Some(new String(mx, java.nio.charset.StandardCharsets.UTF_8)))
        }
      (p.toString, rowCount, bounds._1, bounds._2)
    }
  }

  /** STRING min/max index over an explicit file list — same distribute-
    * past-threshold and filter-as-a-DataFrame contract as
    * [[buildForFiles]]. Columns: (file, row_count, mn, mx). */
  def buildStringIndex(spark: SparkSession, paths: Seq[String],
      column: String): DataFrame = {
    import spark.implicits._
    readFooters(spark, paths, footerStringBounds(_, _, column))
      .toDF("file", "row_count", "mn", "mx")
  }

  /** Longest stored string bound for stats-in-log (UTF-8 bytes): a
    * longer bound is DROPPED (column conservatively unprunable from
    * the log for this file) rather than truncated — a truncated max
    * smaller than a real value would wrongly skip the file. */
  val MaxLoggedStringBound = 96

  /** ALL-leaf-column file stats for the WRITE path (stats-in-log):
    * (row count, leaf columns attempted, long bounds, string bounds,
    * null counts). A column appears in the null-count map only when
    * EVERY row-bearing block sets num-nulls — which upgrades bounds
    * from a pruning hint to an EXACT aggregate source: a file fully
    * inside a range matches exactly (rows − nulls) rows, so COUNT can
    * be answered from the log with zero data I/O (TxnTable.countRange).
    * A PURE CACHE of what [[buildForFiles]] / [[buildStringIndex]]
    * would compute at read time — same per-block fold rules (INT32/
    * INT64 → long bounds; BINARY/UTF8 folded as unsigned bytes; a
    * block with unusable stats voids the column's bounds, the file is
    * then conservatively kept), extracted ONCE when the file is
    * written instead of on every pruned read. At 100 TB the
    * difference is a metadata-only plan vs millions of object-store
    * footer GETs per query. Runs on executors too, so callers count
    * [[FooterReads]] on the driver where they dispatch the list. */
  def fileStats(conf: org.apache.hadoop.conf.Configuration, path: String)
      : Option[(Long, Seq[String], Map[String, (Long, Long)],
                Map[String, (String, String)], Map[String, Long])] = {
    val p = new Path(path)
    val footerOpt =
      try Some(ParquetFileReader.readFooter(conf, p,
        ParquetMetadataConverter.NO_FILTER))
      catch { case _: java.io.FileNotFoundException => None }
    footerOpt.map { footer =>
      val blocks = footer.getBlocks.asScala
      val rowCount = blocks.map(_.getRowCount).sum
      val leafCols = footer.getFileMetaData.getSchema.getColumns.asScala
        .map(_.getPath.mkString(".")).toSeq
      val longs = Map.newBuilder[String, (Long, Long)]
      val strings = Map.newBuilder[String, (String, String)]
      val nulls = Map.newBuilder[String, Long]
      leafCols.foreach { c =>
        // usableStats: a block with rows but dropped/disabled stats
        // voids the column's logged bounds — freezing too-narrow
        // bounds into the commit log would make every future pruned
        // read of this file wrong, not just one query
        val allStats = usableStats(blocks, c).getOrElse(Nil)
        if (allStats.nonEmpty && allStats.forall(s =>
            s.isNumNullsSet && s.getNumNulls >= 0))
          nulls += c -> allStats.map(_.getNumNulls).sum
        val stats = allStats.filter(_.hasNonNullValue)
        val asLongs = stats.flatMap { s =>
          (s.genericGetMin, s.genericGetMax) match {
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              Some((mn.longValue, mx.longValue))
            case (mn: java.lang.Integer, mx: java.lang.Integer) =>
              Some((mn.longValue, mx.longValue))
            case _ => None
          }
        }
        val asBins = stats.flatMap { s =>
          (s.genericGetMin, s.genericGetMax) match {
            case (mn: org.apache.parquet.io.api.Binary,
                  mx: org.apache.parquet.io.api.Binary) =>
              Some((mn.getBytes, mx.getBytes))
            case _ => None
          }
        }
        if (stats.nonEmpty && asLongs.size == stats.size)
          longs += c -> (asLongs.map(_._1).min, asLongs.map(_._2).max)
        else if (stats.nonEmpty && asBins.size == stats.size) {
          val mn = asBins.map(_._1).reduce((a, b) => if (ltBytes(a, b)) a else b)
          val mx = asBins.map(_._2).reduce((a, b) => if (ltBytes(a, b)) b else a)
          if (mn.length <= MaxLoggedStringBound &&
              mx.length <= MaxLoggedStringBound) {
            val mnS = new String(mn, java.nio.charset.StandardCharsets.UTF_8)
            val mxS = new String(mx, java.nio.charset.StandardCharsets.UTF_8)
            // RAW-binary guard: a non-UTF8 bound decodes lossily
            // (U+FFFD), and a shrunk re-encoded bound could wrongly
            // skip a file — only bounds that round-trip are logged
            if (java.util.Arrays.equals(
                  mnS.getBytes(java.nio.charset.StandardCharsets.UTF_8), mn) &&
                java.util.Arrays.equals(
                  mxS.getBytes(java.nio.charset.StandardCharsets.UTF_8), mx))
              strings += c -> ((mnS, mxS))
          }
        }
      }
      (rowCount, leafCols, longs.result(), strings.result(), nulls.result())
    }
  }

  /** Unsigned byte-lexicographic less-than — the order parquet UTF8
    * stats and Spark's UTF8String comparison both use. */
  private def ltBytes(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  /** Files whose [min, max] range on indexed column `i` intersects
    * [lo, hi] (files without stats are kept — skipping must never drop
    * data).
    *
    * The kept list is collected to the driver because it becomes the
    * read's file set — the same metadata-scale driver state Spark's own
    * InMemoryFileIndex holds for any scan. Bound: ~100 bytes/path means
    * 10⁶ kept files ≈ 100 MB of driver heap; beyond that, partition- or
    * manifest-level pruning must cut the list first (the kept/total log
    * line below is the signal to watch).
    */
  def selectFiles(index: DataFrame, i: Int, lo: Long, hi: Long): Seq[String] = {
    // persist across the two actions below (count + collect): past the
    // distribute threshold the index is a LAZY footer-reading job, and
    // unpersisted it would open every footer TWICE (measured: 4000
    // opens for a 2000-file table). The cached rows are tiny
    // (file, row_count, bounds).
    index.persist()
    try {
      val total = index.count()
      val kept = index.filter(
          col("mins").getItem(i).isNull ||
          (col("mins").getItem(i) <= hi && col("maxs").getItem(i) >= lo))
        .select(col("file")).collect().map(_.getString(0)).toSeq
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"skipping-index: kept ${kept.size}/$total files for col#$i in [$lo, $hi]")
      kept
    } finally { index.unpersist(); () }
  }
}
