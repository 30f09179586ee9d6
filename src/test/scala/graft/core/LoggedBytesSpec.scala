package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** A scan sizes each data file from its add's logged `bytes` and lists
  * nothing ([[TxnTable.scan]]), so the log must hold the true size of
  * every file it adds, and a file that left the disk behind the log's
  * back must fail the read, never shrink its answer. */
class LoggedBytesSpec extends SparkSpecBase {
  import spark.implicits._

  /** (op, add path, logged bytes, on-disk size) of every add in `t`'s
    * log. */
  private def sizes(t: String): Seq[(String, String, Long, Long)] =
    TxnTable.commits(t).flatMap(c => c.adds.map(a =>
      (c.op, a.path, a.bytes, Files.size(Paths.get(t).resolve(a.path)))))

  test("every writer logs each add's on-disk size") {
    val root = Files.createTempDirectory("graft_bytes").toString
    val t = s"$root/t"
    TxnTable.create(spark, t,
      (1L to 40L).map(i => (i, s"s$i")).toDF("id", "s"), partitions = 2)
    TxnTable.append(spark, t, Seq((41L, "a")).toDF("id", "s"))
    TxnTable.deleteWhere(spark, t, col("id") === 1L) // CoW rewrite
    val src = s"$root/src"
    Seq((50L, "c"), (51L, "d")).toDF("id", "s").write.parquet(src)
    TxnTable.copyInto(spark, t, src) // adopted by absolute path
    val conv = s"$root/conv"
    spark.range(0, 300).toDF("id").repartition(3).write.parquet(conv)
    TxnTable.convertParquet(spark, conv)
    val all = sizes(t) ++ sizes(conv)
    assert(all.map(_._1).distinct.sorted ==
      Seq("append", "convert", "copyinto", "create", "delete"), all)
    all.foreach { case (op, f, logged, onDisk) =>
      assert(logged == onDisk, s"$op logged $logged bytes for $f ($onDisk)")
    }
    assert(TxnTable.read(spark, t).count() == 42L)
    assert(TxnTable.read(spark, conv).count() == 300L)
  }

  test("a read of a table whose live data file vanished fails when it " +
    "runs") {
    val t = Files.createTempDirectory("graft_bytes_gone").toString + "/t"
    TxnTable.create(spark, t,
      (1L to 40L).map(i => (i, s"s$i")).toDF("id", "s"), partitions = 2)
    val gone = TxnTable.snapshotFiles(t).head
    Files.delete(Paths.get(t).resolve(gone))
    // planning lists nothing, so the frame builds …
    val df = TxnTable.read(spark, t)
    // … and the missing file surfaces when the scan opens it
    val e = intercept[Exception](df.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString(" <- ")
    assert(chain.contains("FILE_NOT_EXIST") &&
      chain.contains(gone.split('/').last), chain)
  }
}
