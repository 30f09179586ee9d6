package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.TxnTable.Bound
import graft.plans.ZOrderInterleave

class ZOrderSpec extends SparkSpecBase {
  import spark.implicits._

  private def referenceInterleave(x: Long, y: Long): Long =
    (0 until 31).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i + 1)) | (((y >> i) & 1L) << (2 * i))
    }

  test("interleave matches the bit-by-bit reference on boundary and random values") {
    val cases = Seq[(Long, Long)](
      (0, 0), (1, 0), (0, 1), (1, 1), ((1L << 31) - 1, 0), (0, (1L << 31) - 1),
      ((1L << 31) - 1, (1L << 31) - 1), (12345, 67890), (0x55555555L, 0x2AAAAAAAL))
    cases.foreach { case (x, y) =>
      assert(ZOrderInterleave.interleave(x, y) === referenceInterleave(x, y), s"($x,$y)")
    }
  }

  test("out-of-range input throws instead of silently truncating") {
    intercept[IllegalArgumentException](ZOrderInterleave.interleave(1L << 31, 0))
    intercept[IllegalArgumentException](ZOrderInterleave.interleave(0, -1))
  }

  test("z-locality: interleaved ordering interleaves both dimensions' bits monotonically") {
    // within one quadrant, z respects each dimension's ordering
    assert(ZOrderInterleave.interleave(2, 2) < ZOrderInterleave.interleave(3, 3))
    assert(ZOrderInterleave.interleave(0, 0) < ZOrderInterleave.interleave(0, 1))
    assert(ZOrderInterleave.interleave(0, 1) < ZOrderInterleave.interleave(1, 0)) // x is the high bit
  }

  test("normalizeToBits maps range ends to 0 and 2^bits-1, constant columns to 0") {
    val df = Seq(0.0, 50.0, 100.0).toDF("v")
    val got = df.select(Layout.normalizeToBits(col("v"), 0.0, 100.0, 8)).as[Long].collect()
    assert(got(0) === 0L && got(2) === 255L)
    // the midpoint may land on either side of the scale's float rounding
    assert(got(1) === 127L || got(1) === 128L)
    val const = Seq(7.0, 7.0).toDF("v")
      .select(Layout.normalizeToBits(col("v"), 7.0, 7.0, 8)).as[Long].collect()
    assert(const.toSeq === Seq(0L, 0L))
  }

  test("box-query pruning: z-order partitions beat a linear sort layout") {
    // 64x64 grid, one row per cell; 16 partitions; box = one 16x16 corner.
    val grid = spark.range(0, 64L * 64L)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    def overlapping(df: org.apache.spark.sql.DataFrame): Long = df
      .select(spark_partition_id().as("p"), col("x"), col("y"))
      .groupBy("p")
      .agg(min("x").as("x0"), max("x").as("x1"), min("y").as("y0"), max("y").as("y1"))
      // file-skipping model: a partition is read iff its min/max box
      // intersects the query box x,y in [0,16)
      .filter(col("x0") < 16 && col("y0") < 16)
      .count()
    val zLayout = Layout.zorderPartitions(grid, col("x"), col("y"), 16)
    val linear = grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
    val (zHit, linHit) = (overlapping(zLayout), overlapping(linear))
    // linear-on-x layout: every partition spans all y, so ~1/4 of
    // partitions (those with x<16) are read; z-order confines the box
    // to its quadrant's partitions.
    assert(zHit < linHit, s"z=$zHit linear=$linHit")
    assert(zHit <= 4, s"z-order should isolate the corner box, got $zHit")
  }

  test("zorderPartitions on an empty frame returns empty, not an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(Layout.zorderPartitions(empty, col("x"), col("y"), 4).count() === 0)
  }

  test("zorderPartitions preserves the exact row multiset") {
    val li = graft.core.Lake.table(spark, sf0001, "lineitem")
    val laid = Layout.zorderPartitions(li, col("l_partkey"), col("l_suppkey"), 8)
    assert(laid.count() === li.count())
    assert(laid.exceptAll(li).count() === 0)
  }

  private def referenceInterleave3(x: Long, y: Long, z: Long): Long =
    (0 until 21).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (3 * i + 2)) |
        (((y >> i) & 1L) << (3 * i + 1)) | (((z >> i) & 1L) << (3 * i))
    }

  test("interleave3 matches the bit-by-bit reference; out-of-range throws") {
    val m = (1L << 21) - 1
    val cases = Seq[(Long, Long, Long)](
      (0, 0, 0), (1, 0, 0), (0, 1, 0), (0, 0, 1), (m, 0, 0), (0, m, 0),
      (0, 0, m), (m, m, m), (12345, 67890, 99999),
      (0x155555L, 0x0AAAAAL, 0x133333L))
    cases.foreach { case (x, y, z) =>
      assert(ZOrderInterleave.interleave3(x, y, z) ===
        referenceInterleave3(x, y, z), s"($x,$y,$z)")
    }
    // the full 3×21-bit result stays sign-clear (LongType order == z order)
    assert(ZOrderInterleave.interleave3(m, m, m) > 0)
    intercept[IllegalArgumentException](
      ZOrderInterleave.interleave3(1L << 21, 0, 0))
    intercept[IllegalArgumentException](
      ZOrderInterleave.interleave3(0, 0, -1))
  }

  test("zorderPartitions3 preserves rows; 3-d layout prunes on the 3rd dim") {
    val li = graft.core.Lake.table(spark, sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val laid = Layout.zorderPartitions3(li, col("l_partkey"),
      col("l_suppkey"), col("l_orderkey"), 27)
    assert(laid.count() === li.count())
    assert(laid.exceptAll(li).count() === 0)
    // write the layout; the THIRD dimension's footer ranges must prune
    // (a 2-d (partkey, suppkey) key gives orderkey no locality at all)
    val out = java.nio.file.Files.createTempDirectory("graft_z3").toString
    laid.write.mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    val mxO = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val idx = graft.crawler.SkippingIndex.buildForFiles(spark, files,
      Seq("l_orderkey"))
    val kept = graft.crawler.SkippingIndex.selectFiles(idx, 0, 1L, mxO / 4)
    assert(kept.size < files.size,
      s"3rd-dim prune kept ${kept.size}/${files.size} files")
  }

  test("compactClusteredWhere: box-scoped rewrite, empty box no-op, " +
    "type fence, tail chain unmoved") {
    import graft.core.TxnTable
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_zw")
      .toString + "/t"
    // 8 clustered files over g ∈ [0, 8000)
    TxnTable.createClustered(spark, t,
      (0L until 8000L).map(i => (i, i % 97, s"s$i")).toDF("g", "v", "s"),
      Seq(col("g"), col("v")), targetFiles = 8) // v0
    // a tail append outside the box
    TxnTable.append(spark, t,
      (9000L until 9100L).map(i => (i, i % 97, s"s$i")).toDF("g", "v", "s"))
    val outsideTail = TxnTable.commits(t).last.adds.map(_.path).toSet
    val n = (0L until 8000L).size + 100
    // scope to the low quarter: only intersecting files rewrite
    val expected = TxnTable.readPruned(spark, t,
      Seq(Bound.LongRange("g", 0L, 1999L)))
      .inputFiles.map(_.split('/').last).toSet
    val v = TxnTable.compactClusteredWhere(spark, t,
      Seq(col("g"), col("v")), "g", 0L, 1999L, targetFiles = 8)
    val c = TxnTable.commits(t).last
    assert(c.op == "compact:zscope")
    assert(c.removes.map(_.split('/').last).toSet == expected)
    assert(TxnTable.read(spark, t).count() == n,
      "content must be unchanged by a layout-only rewrite")
    // the zscope outputs are clustered; the outside-box append keeps
    // tail status — the chain baseline did not move
    assert(TxnTable.clusterTailInfo(t).get.tailFiles.toSet == outsideTail)
    // empty box → unchanged head
    assert(TxnTable.compactClusteredWhere(spark, t,
      Seq(col("g"), col("v")), "g", -100L, -1L) == v)
    // non-integral WHERE column refuses loudly
    intercept[IllegalArgumentException] {
      TxnTable.compactClusteredWhere(spark, t,
        Seq(col("g"), col("v")), "s", 0L, 10L)
    }
    // the statement twin: explicit 1-column ZORDER BY stays rejected
    // even with a WHERE scope
    val nm = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.sql.GraftSql.register(nm, t)
    try intercept[IllegalArgumentException] {
      graft.sql.GraftSql.execute(spark,
        s"OPTIMIZE $nm ZORDER BY (g) WHERE g BETWEEN 0 AND 10")
    } finally graft.sql.GraftSql.unregister(nm)
  }
}
