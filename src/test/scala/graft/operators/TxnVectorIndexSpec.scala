package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.TxnTable.Bound
import graft.core.TxnTable

/** The transactional vector index, pinned:
  *  - served ANN top-k is bit-identical to the plain IVF path over the
  *    same assignment (shared quantizer, shared rounded cosine);
  *  - upsert is ONE append-only commit that assigns with the FROZEN
  *    stored centroids; a replaced vector's old value disappears, the
  *    pre-upsert version keeps serving it (snapshot isolation);
  *  - delete is a tombstone-only commit; compact folds tombstones with
  *    answers unchanged;
  *  - a serve reads only the probed lists' files (pruned read).
  */
class TxnVectorIndexSpec extends SparkSpecBase {

  private def fresh(): String =
    Files.createTempDirectory("graft_txnvec").toString + "/idx"

  /** 40 deterministic 8-dim vectors in two clear clusters. */
  private def vecs(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, (0 until 8).map(d =>
        base * (1.0f + 0.01f * ((i * 7 + d * 3) % 13))))
    }.toDF("vec_id", "embedding")
  }

  private val query: Seq[Float] = (0 until 8).map(_ => 1.0f)

  private def served(idx: String, k: Int = 8, nprobe: Int = 2,
      asOf: Long = -1L): Seq[(Long, Double)] =
    TxnVectorIndex.topK(spark, idx, query, k, nprobe, asOf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("build serves bit-identical to the plain IVF path") {
    val idx = fresh()
    val data = vecs(0 until 40)
    TxnVectorIndex.build(data, "vec_id", "embedding", idx, nlist = 4)
    val cents = Similarity.md5Centroids(data, 4)
    val plain = Similarity.ivfTopKIndexed(
        Similarity.withIvfList(data, cents), cents, query, 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served(idx) == plain)
  }

  test("upsert replaces with the frozen quantizer; old version serves old") {
    import spark.implicits._
    val idx = fresh()
    TxnVectorIndex.build(vecs(0 until 40), "vec_id", "embedding", idx,
      nlist = 4)
    val v0 = TxnTable.currentVersion(idx)
    val pre = served(idx)
    val victim = pre.head._1
    // re-ingest the TOP hit FLIPPED to the far cluster: one append-only
    // commit, assigned with the stored quantizer
    val moved = Seq((victim, (0 until 8).map(_ => -1.0f)))
      .toDF("vec_id", "embedding")
    val v1 = TxnVectorIndex.upsertLazy(moved, "vec_id", "embedding", idx)
    assert(v1 == v0 + 1, "upsert must be ONE commit")
    assert(TxnTable.commits(idx).last.removes.isEmpty,
      "lazy upsert must rewrite nothing")
    val post = served(idx)
    assert(!post.exists(_._1 == victim), "replaced vector still served")
    // snapshot isolation: the pre-upsert version is untouched
    assert(served(idx, asOf = v0) == pre)
    // a NEW id lands as a plain add and is served
    TxnVectorIndex.upsertLazy(
      Seq((100L, (0 until 8).map(_ => 1.2f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx)
    assert(served(idx).exists(_._1 == 100L))
  }

  test("delete tombstones, compact folds, answers pinned through both") {
    import spark.implicits._
    val idx = fresh()
    TxnVectorIndex.build(vecs(0 until 40), "vec_id", "embedding", idx,
      nlist = 4)
    val pre = served(idx)
    val victim = pre.head._1
    TxnVectorIndex.delete(spark, idx,
      Seq(victim).toDF("vec_id"))
    val post = served(idx)
    assert(!post.exists(_._1 == victim))
    // the k-th slot refills from below; everything above is untouched
    assert(post.take(7) == pre.filterNot(_._1 == victim),
      "delete must only remove")
    // compaction: physical fold, logical no-op, tombstones gone
    TxnVectorIndex.compact(spark, idx)
    assert(served(idx) == post, "compaction changed a served answer")
    assert(TxnTable.read(spark, idx).filter(col("kind") === "t").count() == 0)
    // and one folded tranche row carries the surviving count
    val s = TxnTable.read(spark, idx).filter(col("kind") === "s").collect()
    assert(s.length == 1 && s.head.getAs[Long]("n") == 39)
  }

  test("a serve reads only the probed lists' files (pruned read)") {
    val idx = fresh()
    TxnVectorIndex.build(vecs(0 until 40), "vec_id", "embedding", idx,
      nlist = 4)
    val df = TxnVectorIndex.topK(spark, idx, query, 8, nprobe = 1)
    val read = df.inputFiles.length
    val live = TxnTable.snapshotFiles(idx).size
    assert(read > 0 && read < live,
      s"probe must read a strict subset: $read of $live files")
    df.collect()
  }

  test("TWO racing upsertLazy writers: final serve equals the serial oracle") {
    import spark.implicits._
    val idx = fresh()
    val base = vecs(0 until 40)
    TxnVectorIndex.build(base, "vec_id", "embedding", idx, nlist = 4)
    // real threads, DISJOINT new ids: the final logical state is
    // interleaving-independent; every lost CAS recomputes its seq and
    // assignment against the fresh snapshot
    def mk(ids: Range, scale: Float): DataFrame =
      ids.map(i => (i.toLong, (0 until 8).map(d =>
        scale * (1.0f + 0.01f * ((i + d) % 7))))).toDF("vec_id", "embedding")
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val ta = new Thread(() =>
      try (0 until 3).foreach(t => TxnVectorIndex.upsertLazy(
        mk(100 + t * 10 until 105 + t * 10, 1.1f),
        "vec_id", "embedding", idx, maxAttempts = 50))
      catch { case t: Throwable => errs.add(t) })
    val tb = new Thread(() =>
      try (0 until 3).foreach(t => TxnVectorIndex.upsertLazy(
        mk(200 + t * 10 until 205 + t * 10, -1.1f),
        "vec_id", "embedding", idx, maxAttempts = 50))
      catch { case t: Throwable => errs.add(t) })
    ta.start(); tb.start(); ta.join(); tb.join()
    assert(errs.isEmpty, s"racing writers must converge: $errs")
    assert(TxnTable.currentVersion(idx) == 6L, "all 6 tranches landed")
    // serial oracle: one index built from the union must serve the same
    val union = base
      .unionByName(mk(100 until 105, 1.1f)).unionByName(mk(110 until 115, 1.1f))
      .unionByName(mk(120 until 125, 1.1f)).unionByName(mk(200 until 205, -1.1f))
      .unionByName(mk(210 until 215, -1.1f)).unionByName(mk(220 until 225, -1.1f))
    // same frozen quantizer: the serial index is the RACED index's own
    // centroid set applied to the union (what incremental ingest means)
    val cents = TxnVectorIndex.centroids(spark, idx)
    val serial = Similarity.ivfTopKIndexed(
        Similarity.withIvfList(union, cents), cents, query, 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served(idx) == serial)
    TxnVectorIndex.compact(spark, idx)
    assert(served(idx) == serial, "compaction after the race drifted")
  }

  test("streaming vector tranche is exactly-once even when it loses a race") {
    import spark.implicits._
    val idx = fresh()
    TxnVectorIndex.build(vecs(0 until 20), "vec_id", "embedding", idx,
      nlist = 4)
    val batch0 = vecs(20 until 25)
    assert(TxnVectorIndex.upsertLazyStreamBatch(batch0, "vec_id",
      "embedding", idx, "vs1", 0L).nonEmpty)
    // plain redelivery is a no-op
    assert(TxnVectorIndex.upsertLazyStreamBatch(batch0, "vec_id",
      "embedding", idx, "vs1", 0L).isEmpty)
    // redelivery that loses a version race to its OWN first delivery:
    // the retry loop must re-check idempotence, not double-commit
    val batch1 = vecs(25 until 30)
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnVectorIndex.upsertLazyStreamBatch(batch1, "vec_id", "embedding",
        idx, "vs1", 1L)
    }
    val res = try TxnVectorIndex.upsertLazyStreamBatch(batch1, "vec_id",
      "embedding", idx, "vs1", 1L)
    finally TxnTable.preCommitHook = () => ()
    assert(fired && res.isEmpty, "the losing delivery must be a no-op")
    // exactly one copy landed: serve equals a serial index over the
    // union with the raced index's own frozen quantizer
    val union = vecs(0 until 30)
    val cents = TxnVectorIndex.centroids(spark, idx)
    val serial = Similarity.ivfTopKIndexed(
        Similarity.withIvfList(union, cents), cents, query, 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served(idx) == serial)
    // maybeCompact bounds tranche growth like the text index's policy
    assert(TxnVectorIndex.maybeCompact(spark, idx, maxTranches = 2))
    assert(served(idx) == serial, "compaction drifted the serve")
  }

  test("restore across compaction revives tombstones + quantizer; vacuum fences") {
    import spark.implicits._
    val idx = fresh()
    TxnVectorIndex.build(vecs(0 until 40), "vec_id", "embedding", idx,
      nlist = 4) // v0
    val centsAtBuild = TxnVectorIndex.centroids(spark, idx).toSeq
    val victim = served(idx).head._1
    // tranche 1: flip the top hit to the far cluster (tombstone + re-add)
    TxnVectorIndex.upsertLazy(
      Seq((victim, (0 until 8).map(_ => -1.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx) // v1
    // tranche 2: a brand-new id
    TxnVectorIndex.upsertLazy(
      Seq((100L, (0 until 8).map(_ => 1.2f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx) // v2
    val preCompact = served(idx)
    assert(!preCompact.exists(_._1 == victim) &&
      preCompact.exists(_._1 == 100L))
    TxnVectorIndex.compact(spark, idx) // v3: tombstones folded away
    assert(TxnTable.read(spark, idx).filter(col("kind") === "t").count() == 0)
    // restore to the PRE-compaction version: the merge-on-read
    // tombstones, the three tranche rows, AND the frozen centroid rows
    // must all come back and serve identically
    TxnTable.restore(spark, idx, 2L) // v4
    assert(served(idx) == preCompact,
      "restore across compaction must revive the exact served answers")
    assert(TxnTable.read(spark, idx).filter(col("kind") === "t").count() > 0,
      "the tombstone rows must be revived (merge-on-read state)")
    val tranches = TxnTable.readPruned(spark, idx,
      Seq(Bound.LongIn("list", Seq(-1L))))
      .filter(col("kind") === "s").count()
    assert(tranches == 3,
      s"expected the 3 pre-compact tranche rows back, got $tranches")
    assert(TxnVectorIndex.centroids(spark, idx).toSeq == centsAtBuild,
      "the frozen quantizer must be revived exactly")
    // ingest composes with the restored snapshot (same frozen centroids)
    TxnVectorIndex.upsertLazy(
      Seq((101L, (0 until 8).map(_ => 1.3f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx) // v5
    assert(served(idx).exists(_._1 == 101L))
    // vacuum: physical cleanup reaps the compacted layout's files;
    // pre-horizon serving fences with a clear error, current is intact
    TxnTable.vacuum(spark, idx, retainVersions = 2) // v6, horizon 4
    val e = intercept[IllegalArgumentException] { served(idx, asOf = 1L) }
    assert(e.getMessage.contains("vacuum"),
      s"pre-horizon serving must fail clearly, got: ${e.getMessage}")
    assert(served(idx).exists(_._1 == 101L),
      "current serving must be untouched by the physical cleanup")
  }

  test("a foreign TxnTable is rejected with a descriptive error") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_txnvec_foreign").toString + "/t"
    TxnTable.create(spark, t, Seq((1L, "x")).toDF("id", "s"))
    val e = intercept[Exception] {
      TxnVectorIndex.topK(spark, t, query, 5)
    }
    assert(e.getMessage.contains("not a TxnVectorIndex") ||
      e.getMessage.contains("list"),
      s"want a descriptive rejection, got: ${e.getMessage}")
  }
}
