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
  * One parser, [[fileStats]], reads every footer: the write path caches
  * its result in the commit log (stats-in-log), TxnTable's pruned reads
  * fall back to it for files written before that, and [[build]] /
  * [[buildForFiles]] project it to the crawler's
  * `(file, row_count, mins, maxs)` frame. Scale notes: footer reads are
  * O(files) metadata operations — past [[DistributeThreshold]] files
  * they run as a Spark job over the path list.
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

  /** One file's footer statistics: row count, the leaf columns whose
    * stats were attempted, per-column long bounds (INT32/INT64, folded
    * to the file), string bounds (BINARY/UTF8, folded as unsigned
    * bytes), and null counts. A column appears in `nulls` only when
    * EVERY row-bearing block sets num-nulls — which upgrades bounds
    * from a pruning hint to an exact aggregate source (a file fully
    * inside a range matches exactly rows − nulls rows; see
    * TxnTable.countRange). The commit log stores the same shape
    * (stats-in-log), so log stats and footer stats are interchangeable
    * to a pruned read. */
  final case class FileStats(rows: Long, cols: Seq[String],
      longs: Map[String, (Long, Long)],
      strings: Map[String, (String, String)],
      nulls: Map[String, Long]) {

    /** These stats narrowed to `columns` — what a pruned read needs,
      * so wide or long-string stats of other columns never travel. */
    def project(columns: Seq[String]): FileStats = {
      val keep = columns.toSet
      FileStats(rows, cols.filter(keep),
        longs.filter(kv => keep(kv._1)),
        strings.filter(kv => keep(kv._1)),
        nulls.filter(kv => keep(kv._1)))
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

  /** Index an EXPLICIT file list: `(file, row_count, mins, maxs)` with
    * `columns`' long bounds (null where [[fileStats]] has none — the
    * file is then conservatively kept). A file that vanished (a
    * concurrent vacuum reaping a dead sibling) is absent. Small lists
    * index in a driver loop (no job overhead); past
    * [[DistributeThreshold]] the footer reads fan out as a Spark job,
    * and the frame stays lazy until [[selectFiles]] collects it once.
    * TxnTable's pruned reads do not come through here: their stats
    * already sit on the driver (the commit log), so they select files
    * there and footer-read only pre-stats files via [[footerStats]]. */
  def buildForFiles(spark: SparkSession, paths: Seq[String],
      columns: Seq[String]): DataFrame = {
    import spark.implicits._
    readFooters(spark, paths, (conf, p) => fileStats(conf, p).map(s =>
      (new Path(p).toString, s.rows,
        columns.map(c => s.longs.get(c).map(_._1)),
        columns.map(c => s.longs.get(c).map(_._2)))))
      .toDF("file", "row_count", "mins", "maxs")
  }

  /** [[fileStats]] of every path, narrowed to `columns` and collected
    * to the driver, keyed by the path as given; a vanished file is
    * absent. The footer fallback of TxnTable's log-stats selection. */
  def footerStats(spark: SparkSession, paths: Seq[String],
      columns: Seq[String]): Map[String, FileStats] = {
    import spark.implicits._
    readFooters(spark, paths, (conf, p) =>
      fileStats(conf, p).map(s => (p, s.project(columns))))
      .collect().toMap
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

  /** One file's [[FileStats]] over ALL leaf columns, from its parquet
    * footer; None if the file vanished. Per-block fold rules: INT32/
    * INT64 → long bounds; BINARY/UTF8 folded as unsigned bytes (the
    * order parquet's UTF8 stats and Spark's UTF8String comparison both
    * use — Java String order disagrees for supplementary-plane code
    * points); a block with rows but unusable stats voids the column's
    * bounds (the file is then conservatively kept). Parquet's own
    * truncation rules keep truncated bounds valid: min ≤ values ≤ max.
    * Runs on executors too (takes the Configuration explicitly), so
    * callers count [[FooterReads]] on the driver where they dispatch
    * the list. */
  def fileStats(conf: org.apache.hadoop.conf.Configuration, path: String)
      : Option[FileStats] = {
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
        // voids the column's bounds — bounds folded from the other
        // blocks would be too narrow and could wrongly skip the file
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
          val mnS = new String(mn, java.nio.charset.StandardCharsets.UTF_8)
          val mxS = new String(mx, java.nio.charset.StandardCharsets.UTF_8)
          // RAW-binary guard: a non-UTF8 bound decodes lossily
          // (U+FFFD), and a shrunk re-encoded bound could wrongly skip
          // a file — only bounds that round-trip are kept
          if (java.util.Arrays.equals(
                mnS.getBytes(java.nio.charset.StandardCharsets.UTF_8), mn) &&
              java.util.Arrays.equals(
                mxS.getBytes(java.nio.charset.StandardCharsets.UTF_8), mx))
            strings += c -> ((mnS, mxS))
        }
      }
      FileStats(rowCount, leafCols, longs.result(), strings.result(),
        nulls.result())
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
    * data). ONE collect of `(file, keep)`: kept and total are counted
    * on the driver, so a lazy footer-reading index (past
    * [[DistributeThreshold]]) is evaluated exactly once.
    *
    * The kept list is collected to the driver because it becomes the
    * read's file set — the same metadata-scale driver state Spark's own
    * InMemoryFileIndex holds for any scan. Bound: ~100 bytes/path means
    * 10⁶ files ≈ 100 MB of driver heap; beyond that, partition- or
    * manifest-level pruning must cut the list first (the kept/total log
    * line below is the signal to watch).
    */
  def selectFiles(index: DataFrame, i: Int, lo: Long, hi: Long): Seq[String] = {
    val mn = col("mins").getItem(i)
    val rows = index.select(col("file"),
      mn.isNull || (mn <= hi && col("maxs").getItem(i) >= lo)).collect()
    val kept = rows.collect {
      case r if !r.isNullAt(1) && r.getBoolean(1) => r.getString(0)
    }.toSeq
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"skipping-index: kept ${kept.size}/${rows.length} files for col#$i in [$lo, $hi]")
    kept
  }
}
