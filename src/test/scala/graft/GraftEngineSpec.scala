package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Drives the user-facing entry point: extension-registered SQL function,
  * lake views, crawler — the switch-from-the-reference surface.
  */
class GraftEngineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftEngine.session("local[8]", "engine-spec")
  private lazy val eng = GraftEngine.open("/root/testdata/sf0.001", spark)

  test("sql surface: contract q01 text runs against the registered views") {
    val rows = eng.sql(
      """SELECT l_returnflag, l_linestatus, count(*) c FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin).collect()
    assert(rows.length == 6)
  }

  test("cosine_sim is available in SQL via GraftExtensions (no manual registration)") {
    val sim = eng.sql(
      """SELECT cosine_sim(a.embedding, a.embedding) s
        |FROM embeddings a WHERE a.vec_id = 3""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
  }

  test("zorder and bloom_might_contain are available in SQL via GraftExtensions") {
    val z = eng.sql("SELECT zorder(3L, 5L) z").head().getLong(0)
    assert(z === graft.plans.ZOrderInterleave.interleave(3L, 5L))
    // tiny bloom over {42}: the inserted key probes true from SQL
    val bloom = new Array[Byte](64)
    graft.plans.BloomUtil.setBits(bloom, 42L, 7)
    val hex = bloom.map("%02x".format(_)).mkString
    val Seq(hit, miss) = Seq("42", "9999").map { v =>
      eng.sql(s"SELECT bloom_might_contain(X'$hex', CAST($v AS BIGINT)) b")
        .head().getBoolean(0)
    }
    assert(hit)
    assert(miss === graft.plans.BloomUtil.mightContain(bloom, 9999L, 7))
  }

  test("rolling_fingerprint is available in SQL and matches the Column API") {
    val viaSql = eng.sql(
      "SELECT rolling_fingerprint(text) f FROM documents WHERE doc_id = 3")
      .head().getLong(0)
    val viaCol = eng.table("documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 3)
      .select(graft.functions.TextFunctions.fingerprint(
        org.apache.spark.sql.functions.col("text")))
      .head().getLong(0)
    assert(viaSql === viaCol)
  }

  test("table surface returns the normalized schema") {
    assert(eng.table("events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("crawl surface produces a catalog") {
    val out = java.nio.file.Files.createTempDirectory("graft_eng_snap").toString
    val infos = eng.crawl("/root/testdata/sf0.001", out)
    assert(infos.size == 10)
    assert(spark.read.parquet(s"$out/profiles").count() > 0)
  }

  test("txn surface: write via TxnTable, read + time travel via the engine") {
    val t = java.nio.file.Files.createTempDirectory("graft_eng_txn").toString + "/t"
    graft.core.TxnTable.create(spark, t, eng.table("nation"))
    graft.core.TxnTable.deleteWhere(spark, t,
      org.apache.spark.sql.functions.col("n_regionkey") === 0)
    assert(eng.txnRead(t).count() < 25)
    assert(eng.txnRead(t, asOf = 0).count() == 25)
  }

  test("txnView surface: SQL reaches a transactional table by name, " +
    "frozen asOf views stay frozen") {
    val t = java.nio.file.Files.createTempDirectory("graft_eng_tv")
      .toString + "/t"
    graft.core.TxnTable.create(spark, t, eng.table("nation"))
    eng.txnView(t, "nation_txn")
    eng.txnView(t, "nation_v0", asOf = 0)
    assert(eng.sql("SELECT count(*) c FROM nation_txn").head().getLong(0)
      == 25)
    graft.core.TxnTable.deleteWhereMor(spark, t,
      org.apache.spark.sql.functions.col("n_regionkey") === 0)
    eng.txnView(t, "nation_txn") // advance to the new head
    assert(eng.sql("SELECT count(*) c FROM nation_txn").head().getLong(0)
      == 20)
    assert(eng.sql("SELECT count(*) c FROM nation_v0").head().getLong(0)
      == 25, "the pinned asOf view must stay frozen")
  }

  test("registerStats surface: catalog tables carry crawled rowCounts") {
    eng.registerStats("/root/testdata/sf0.001", "engstats_")
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      assert(spark.table("engstats_nation").queryExecution.optimizedPlan
        .stats.rowCount.contains(BigInt(25)))
    } finally saved.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
      spark.conf.set("spark.sql.cbo.enabled", _))
  }

  test("every native function is callable from SQL through both " +
    "registration paths (extensions and register)") {
    val bloom = "X'" + "00" * 64 + "'"
    // one SQL call per entry of the native table
    val calls = Map(
      "cosine_sim" -> ("cosine_sim(CAST(array(1, 2) AS ARRAY<FLOAT>), " +
        "CAST(array(1, 2) AS ARRAY<FLOAT>))"),
      "rolling_fingerprint" -> "rolling_fingerprint('abc')",
      "zorder" -> "zorder(3L, 5L)",
      "zorder3" -> "zorder3(1L, 2L, 3L)",
      "bloom_might_contain" -> s"bloom_might_contain($bloom, 1L)",
      "dist2_int" -> ("dist2_int(CAST(array(1, 2) AS ARRAY<BIGINT>), " +
        "CAST(array(3, 5) AS ARRAY<BIGINT>))"))
    assert(calls.keySet ==
      graft.plans.GraftFunctions.native.map(_._1).toSet,
      "every native function needs a call here")
    spark // the suite's session owns the SparkContext both paths reuse
    val viaExtensions =
      SparkSession.builder().withExtensions(new GraftExtensions).create()
    val viaRegister = SparkSession.builder().create()
    try {
      graft.plans.GraftFunctions.register(viaRegister)
      for ((path, s) <- Seq("extensions" -> viaExtensions,
          "register" -> viaRegister); (name, call) <- calls) {
        val r = scala.util.Try(s.sql(s"SELECT $call AS v").head())
        assert(r.isSuccess && !r.get.isNullAt(0),
          s"$name via $path: ${r.failed.map(_.getMessage).getOrElse("null")}")
      }
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
