package graft.core

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpecBase
import graft.core.TxnTable.Bound

/** A pruned read must return exactly the rows of the unpruned read
  * filtered by the same predicate, whatever files it skips. Random
  * bound sets (fixed seed) run against one mixed-generation table:
  * stat-less files next to log-stats files, a MOR deletion vector, an
  * ADD COLUMNS generation, and long, timestamp, date and string
  * columns whose string values cross the UTF-8 / UTF-16 order split. */
class PrunedReadEquivalenceSpec extends SparkSpecBase {

  private val Seed = 20261019L
  private val Cases = 240

  /** Generation rows for ids [from, until): ts = id hours (micros),
    * d = id / 2 days, s = a prefix by id band (ASCII, U+FFFD, then
    * U+10000, which sorts between them in UTF-16 but last in UTF-8)
    * plus the zero-padded id. */
  private def rows(from: Long, until: Long) = {
    val id = col("id")
    spark.range(from, until).select(id,
      timestamp_micros(id * 3600000000L).as("ts"),
      date_from_unix_date((id / 2).cast("int")).as("d"),
      concat(when(id >= 300, lit("\uD800\uDC00"))
        .when(id >= 240, lit("\uFFFD")).otherwise(lit("s")),
        lpad(id.cast("string"), 4, "0")).as("s"))
  }

  private lazy val table: String = {
    val t = Files.createTempDirectory("graft_prune_eq").toString + "/t"
    TxnTable.collectWriteStats = false
    try TxnTable.createClustered(spark, t, rows(0, 120), Seq(col("id")), 3)
    finally TxnTable.collectWriteStats = true
    TxnTable.appendCas(spark, t, rows(120, 240), 0L,
      clusterBy = Seq(col("id")), partitions = 3)
    TxnTable.deleteWhereMor(spark, t,
      col("id") % 7 === 3 && col("id") < 200)
    TxnTable.addColumns(spark, t, Seq("k" -> LongType))
    TxnTable.appendCas(spark, t,
      rows(240, 360).withColumn("k", col("id") * 2),
      TxnTable.currentVersion(t), clusterBy = Seq(col("id")),
      partitions = 3)
    val adds = TxnTable.commits(t).flatMap(_.adds)
    assert(adds.exists(_.stats.isEmpty) && adds.exists(_.stats.isDefined))
    assert(TxnTable.snapshotDvs(t).nonEmpty)
    t
  }

  /** The bound's predicate written independently of `Bound.residual`:
    * long bounds over each column's physical int64 value. */
  private def expected(b: Bound): Column = {
    def phys(c: String): Column = c match {
      case "ts" => unix_micros(col(c))
      case "d" => unix_date(col(c)).cast("long")
      case _ => col(c)
    }
    def in(c: Column, vs: Seq[Any]): Column =
      if (vs.isEmpty) lit(false) else c.isin(vs: _*)
    b match {
      case Bound.LongRange(c, lo, hi) => phys(c).between(lo, hi)
      case Bound.LongIn(c, vs) => in(phys(c), vs)
      case Bound.StringRange(c, lo, hi) => col(c).between(lo, hi)
      case Bound.StringIn(c, vs) => in(col(c), vs)
    }
  }

  /** One random bound: in-data, edge and out-of-data ranges and IN
    * lists (empty ones included) on every column. */
  private def randomBound(r: scala.util.Random): Bound = {
    def id(): Long = r.nextInt(420) - 30L
    def scale(c: String, v: Long): Long = c match {
      case "ts" => v * 3600000000L + (r.nextInt(3) - 1)
      case "d" => v / 2
      case "k" => v * 2
      case _ => v
    }
    def str(): String = {
      val v = id()
      val p = Seq("s", "\uFFFD", "\uD800\uDC00", "r", "t")(r.nextInt(5))
      if (r.nextInt(8) == 0) p else p + f"${math.abs(v)}%04d"
    }
    val c = Seq("id", "ts", "d", "k")(r.nextInt(4))
    r.nextInt(4) match {
      case 0 =>
        val lo = id()
        Bound.LongRange(c, scale(c, lo), scale(c, lo + r.nextInt(120)))
      case 1 => Bound.LongIn(c, Seq.fill(r.nextInt(4))(scale(c, id())))
      case 2 =>
        val (a, b) = (str(), str())
        if (r.nextInt(5) == 0) Bound.StringRange("s", b, a)
        else Bound.StringRange("s", Seq(a, b).min, Seq(a, b).max)
      case _ => Bound.StringIn("s", Seq.fill(r.nextInt(4))(str()))
    }
  }

  test(s"$Cases random bound sets: pruned read ≡ filtered full read") {
    val t = table
    val full = TxnTable.read(spark, t).cache()
    try {
      val cols = full.columns.toSeq.map(col)
      def base(f: String) = f.split('/').last
      val data = TxnTable.snapshotFiles(t).map(base).toSet
      val live = data ++ TxnTable.snapshotDvs(t).values.map(base)
      val r = new scala.util.Random(Seed)
      var skipped = 0
      (1 to Cases).foreach { i =>
        val bounds = Seq.fill(1 + r.nextInt(3))(randomBound(r))
        val pruned = TxnTable.readPruned(spark, t, bounds)
        val got = pruned.select(cols: _*).collect().map(_.toString).sorted
        val want = full.filter(bounds.map(expected).reduce(_ && _))
          .collect().map(_.toString).sorted
        assert(got.toSeq == want.toSeq, s"case $i $bounds")
        val read = pruned.inputFiles.map(base).toSet
        assert(read.subsetOf(live), s"case $i read dead files: $read")
        if ((read intersect data).size < data.size) skipped += 1
      }
      // the prune is exercised, not vacuous
      assert(skipped > Cases / 2, s"only $skipped of $Cases cases pruned")
    } finally { full.unpersist(); () }
  }

  test("each bound shape alone, edge cases pinned") {
    val t = table
    def ids(bs: Bound*): Set[Long] =
      TxnTable.readPruned(spark, t, bs).select("id").collect()
        .map(_.getLong(0)).toSet
    val dead = (0L until 200L).filter(_ % 7 == 3).toSet
    assert(ids(Bound.LongRange("id", 100L, 130L)) ==
      (100L to 130L).toSet -- dead)
    assert(ids(Bound.LongRange("ts", 5L * 3600000000L + 1,
      6L * 3600000000L)) == Set(6L))
    assert(ids(Bound.LongIn("d", Seq(60L, 61L))) == Set(120L, 121L, 123L))
    assert(ids(Bound.LongIn("k", Seq(10L, 500L))) == Set(250L))
    assert(ids(Bound.StringIn("s", Nil)).isEmpty)
    assert(TxnTable.readPruned(spark, t, Seq(Bound.LongIn("id", Nil)))
      .inputFiles.isEmpty)
    // U+FFFD < U+10000 in UTF-8 byte order (the reverse in UTF-16)
    assert(ids(Bound.StringRange("s", "\uFFFD0299", "\uD800\uDC000300")) ==
      Set(299L, 300L))
    assert(ids(Bound.LongRange("id", 5000L, 6000L)).isEmpty)
  }
}
