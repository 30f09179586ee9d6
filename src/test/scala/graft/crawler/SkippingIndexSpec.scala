package graft.crawler

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.operators.Layout

class SkippingIndexSpec extends SparkSpecBase {

  private lazy val laidOut: (String, org.apache.spark.sql.DataFrame) = {
    val li = graft.core.Lake.table(spark, sf0001, "lineitem")
    val tmp = Files.createTempDirectory("graft_skipspec").toString
    Layout.zorderPartitions(li, col("l_partkey"), col("l_suppkey"), 8)
      .write.mode("overwrite").parquet(tmp)
    (tmp, li)
  }

  test("footer counts sum to the table count without scanning data") {
    val (tmp, li) = laidOut
    val idx = SkippingIndex.build(spark, tmp, Seq("l_partkey"))
    assert(idx.agg(sum("row_count")).head().getLong(0) === li.count())
  }

  test("index bounds contain every row's value (skipping is lossless by construction)") {
    val (tmp, _) = laidOut
    val idx = SkippingIndex.build(spark, tmp, Seq("l_partkey", "l_suppkey"))
      .collect()
    idx.foreach { r =>
      val f = r.getString(0)
      val mins = r.getSeq[Option[Long]](2)
      val actual = spark.read.parquet(f)
        .agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey"))
        .head()
      assert(r.getSeq[Any](2).head == actual.getLong(0), s"min pk in $f vs $mins")
      assert(r.getSeq[Any](3).head == actual.getLong(1))
      assert(r.getSeq[Any](2)(1) == actual.getLong(2))
      assert(r.getSeq[Any](3)(1) == actual.getLong(3))
    }
  }

  test("z-ordered layout: a narrow box selects a strict subset of files, and the pruned read is exact") {
    val (tmp, li) = laidOut
    val idx = SkippingIndex.build(spark, tmp, Seq("l_partkey", "l_suppkey"))
    val total = idx.count()
    val files = SkippingIndex.selectFiles(idx, 0, 1L, 20L)
    assert(files.size < total, s"selected ${files.size} of $total files — no pruning")
    val pruned = spark.read.parquet(files: _*)
      .filter(col("l_partkey").between(1, 20)).count()
    val full = li.filter(col("l_partkey").between(1, 20)).count()
    assert(pruned === full)
  }

  test("a row group with rows but no usable stats voids the file's bounds") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser

    val schema = MessageTypeParser.parseMessageType(
      "message doc { required int64 id; required binary source (UTF8); }")
    val dir = Files.createTempDirectory("graft_nostats")
    val conf = spark.sparkContext.hadoopConfiguration

    def write(name: String, statsOn: Boolean,
        rows: Seq[(Long, String)]): HPath = {
      val p = new HPath(dir.resolve(name).toString)
      val w = ExampleParquetWriter.builder(p).withConf(conf)
        .withType(schema).withStatisticsEnabled(statsOn).build()
      val f = new SimpleGroupFactory(schema)
      rows.foreach { case (id, s) =>
        w.write(f.newGroup().append("id", id).append("source", s))
      }
      w.close(); p
    }
    // the NO-STATS tranche holds the extreme values on every side:
    // bounds folded only from the stats-bearing block would be
    // (10..19, "bbb".."ccc") — too narrow, and a pruned read trusting
    // them would wrongly skip rows 1/99 and "aaa"/"zzz"
    val noStats = write("a.parquet", statsOn = false,
      Seq((1L, "aaa"), (99L, "zzz")))
    val withStats = write("b.parquet", statsOn = true,
      (10L to 19L).map(i => (i, if (i % 2 == 0) "bbb" else "ccc")))
    // appendFile splices each source file in as its own row group(s),
    // preserving per-chunk statistics (or their absence) — exactly the
    // mixed-writer file shape non-Spark producers create
    def merge(name: String, parts: HPath*): String = {
      val out = new HPath(dir.resolve(name).toString)
      val fw = new ParquetFileWriter(conf, schema, out)
      fw.start()
      parts.foreach(p => fw.appendFile(conf, p))
      fw.end(java.util.Collections.emptyMap[String, String]())
      out.toString
    }
    val mixed = merge("mixed.parquet", noStats, withStats)
    val control = merge("control.parquet", withStats)

    // long index: mixed file's bounds voided (conservatively kept by
    // selectFiles), control stays tight
    val idx = SkippingIndex
      .buildForFiles(spark, Seq(mixed, control), Seq("id")).collect()
      .map(r => r.getString(0) -> r).toMap
    val m = idx.find(_._1.endsWith("mixed.parquet")).get._2
    assert(m.getLong(1) === 12L)
    assert(m.getSeq[Any](2).head == null && m.getSeq[Any](3).head == null,
      "bounds folded from a partial block set must be voided")
    val c = idx.find(_._1.endsWith("control.parquet")).get._2
    assert(c.getSeq[Any](2).head == 10L && c.getSeq[Any](3).head == 19L)

    // the one footer parser, behind the index above, the stats-in-log
    // write cache and the pruned reads' footer fallback: the voided
    // columns carry no bounds (a frozen too-narrow bound in the commit
    // log would make every future pruned read of the file wrong), and
    // string bounds fold in unsigned byte order
    val fs = SkippingIndex.fileStats(conf, mixed).get
    assert(fs.rows === 12L)
    assert(!fs.longs.contains("id") && !fs.strings.contains("source"))
    val fsc = SkippingIndex.fileStats(conf, control).get
    assert(fsc.longs("id") === ((10L, 19L)))
    assert(fsc.strings("source") === (("bbb", "ccc")))
  }

  test("files without stats for the column are conservatively kept") {
    import spark.implicits._
    val idx = Seq(
      ("f1", 10L, Seq(Option(5L)), Seq(Option(9L))),
      ("f2", 10L, Seq(Option.empty[Long]), Seq(Option.empty[Long])))
      .toDF("file", "row_count", "mins", "maxs")
    assert(SkippingIndex.selectFiles(idx, 0, 100L, 200L) === Seq("f2"))
  }
}
