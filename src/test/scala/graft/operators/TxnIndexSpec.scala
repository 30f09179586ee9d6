package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.TxnTable.Bound
import graft.core.TxnTable

/** The transactional text index, pinned:
  *  - the served BM25/phrase results are bit-identical to the rescan
  *    operators on the corpus's current logical state, across build,
  *    pure-append upsert, and re-ingest upsert (the df/tf/dl-correcting
  *    case the plain parquet index documents as unsafe);
  *  - one upsert is ONE commit (atomicity), old versions keep serving
  *    their own answers (snapshot isolation / time travel);
  *  - a serving read opens only the query terms' bucket files, not the
  *    corpus (footer-stats pruning on the clustered layout);
  *  - a doc whose text produced NO postings rows still corrects the
  *    stats fold on re-ingest (the doc-registry rows exist for this).
  */
class TxnIndexSpec extends SparkSpecBase {

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def fresh(): String =
    Files.createTempDirectory("graft_txnidx_spec").toString + "/idx"

  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "pack my box with five dozen liquor jugs",
    3L -> "the five boxing wizards jump quickly",
    4L -> "quick zephyrs blow vexing daft jim",
    5L -> "fox and dog keep the quick pace")

  private def assertSameTopK(a: DataFrame, b: DataFrame): Unit = {
    // sort by rendered row: phrase results are set-shaped (no orderBy);
    // the ranked paths pin their own ordering in the l37 gates
    val ra = a.collect().toSeq.sortBy(_.toString)
    val rb = b.collect().toSeq.sortBy(_.toString)
    assert(ra == rb, s"served != rescan:\n  $ra\n  $rb")
  }

  test("build serves BM25 and phrases bit-identical to the rescan path") {
    val idx = fresh()
    val docs = docsDf(corpus)
    TxnIndex.build(docs, "doc_id", "text", idx, nBuckets = 8)
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("quick", "fox"), 5),
      Keywords.bm25TopK(docs, "doc_id", "text", Seq("quick", "fox"), 5))
    assertSameTopK(
      TxnIndex.phraseMatches(spark, idx, Seq("the", "quick")),
      Keywords.phraseMatches(docs, "doc_id", "text", Seq("the", "quick")))
  }

  test("re-ingest upsert corrects df/tf/dl — equal to rescan of new state") {
    val idx = fresh()
    val docs = docsDf(corpus)
    TxnIndex.build(docs, "doc_id", "text", idx, nBuckets = 8)
    // doc 1 rewritten entirely, doc 6 brand new — one atomic commit
    val tranche = docsDf(Seq(
      1L -> "quick quick quick brown study",
      6L -> "a wholly new document about the quick fox"))
    val vBefore = TxnTable.currentVersion(idx)
    TxnIndex.upsert(tranche, "doc_id", "text", idx)
    assert(TxnTable.currentVersion(idx) == vBefore + 1, "upsert must be ONE commit")
    val newState = docsDf(
      corpus.filterNot(_._1 == 1L) ++ Seq(
        1L -> "quick quick quick brown study",
        6L -> "a wholly new document about the quick fox"))
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("quick", "fox"), 10),
      Keywords.bm25TopK(newState, "doc_id", "text", Seq("quick", "fox"), 10))
    assertSameTopK(
      TxnIndex.phraseMatches(spark, idx, Seq("quick", "fox")),
      Keywords.phraseMatches(newState, "doc_id", "text", Seq("quick", "fox")))
  }

  test("snapshot isolation: the pre-upsert version keeps its answer") {
    val idx = fresh()
    val docs = docsDf(corpus)
    val v0 = TxnIndex.build(docs, "doc_id", "text", idx, nBuckets = 8)
    val before = TxnIndex.bm25TopK(spark, idx, Seq("quick"), 5).collect().toSeq
    TxnIndex.upsert(docsDf(Seq(1L -> "nothing relevant here")),
      "doc_id", "text", idx)
    val travel = TxnIndex.bm25TopK(spark, idx, Seq("quick"), 5, asOf = v0)
      .collect().toSeq
    assert(travel == before, "time-travel read drifted after upsert")
    val now = TxnIndex.bm25TopK(spark, idx, Seq("quick"), 5).collect().toSeq
    assert(now != before, "upsert changed doc 1, the live answer must move")
  }

  test("a doc with no postings rows still corrects stats on re-ingest") {
    val idx = fresh()
    // doc 7's text is empty: tokens("") == [""] -> dl = 1, ZERO postings
    // rows — only the registry knows its dl. Re-ingesting it must still
    // subtract that dl from the stats fold.
    val docs = docsDf(corpus :+ (7L -> ""))
    TxnIndex.build(docs, "doc_id", "text", idx, nBuckets = 8)
    val tranche = docsDf(Seq(7L -> "five quick words now appear"))
    TxnIndex.upsert(tranche, "doc_id", "text", idx)
    val newState = docsDf(corpus :+ (7L -> "five quick words now appear"))
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("quick", "five"), 10),
      Keywords.bm25TopK(newState, "doc_id", "text", Seq("quick", "five"), 10))
  }

  test("batch BM25 from the index equals the rescan batch path") {
    import spark.implicits._
    val idx = fresh()
    val docs = docsDf(corpus)
    TxnIndex.build(docs, "doc_id", "text", idx, nBuckets = 8)
    val queries = Seq((0L, "quick"), (0L, "fox"), (1L, "five"), (1L, "box"))
      .toDF("query_id", "term")
    assertSameTopK(
      TxnIndex.bm25PerQuery(spark, idx, queries, 3),
      Keywords.bm25PerQuery(docs, queries, "doc_id", "text", 3))
  }

  test("a serving read opens only the query terms' bucket files") {
    import spark.implicits._
    val idx = fresh()
    // 64 docs of one distinct token each — every bucket is populated,
    // so the clustered layout has tight per-file bucket ranges
    val docs = (0 until 64).map(i => (i.toLong, s"tok$i")).toDF("doc_id", "text")
    TxnIndex.build(docs, "doc_id", "text", idx, nBuckets = 16)
    val total = TxnTable.snapshotFiles(idx).size
    assert(total >= 10, s"clustered build should be many-file, got $total")
    val posts = TxnIndex.readPostings(spark, idx, Seq("tok3"))
    val n = scannedFiles(posts)
    assert(n >= 1 && n <= 3,
      s"one term must read ~1 bucket file, read $n of $total")
  }

  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    def gather(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(s.plan)
        case _ => Nil
      })).flatMap(gather)
    gather(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.sum
  }

  test("upsert retries a lost race with a RECOMPUTED stats fold") {
    val idx = fresh()
    TxnIndex.build(docsDf(corpus), "doc_id", "text", idx, nBuckets = 8)
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true // steal the version the outer upsert computed against
      TxnIndex.upsert(docsDf(Seq(
        6L -> "an interleaved brand new document")), "doc_id", "text", idx)
    }
    try TxnIndex.upsert(docsDf(Seq(
      1L -> "quick quick replacement text")), "doc_id", "text", idx)
    finally TxnTable.preCommitHook = () => ()
    assert(fired)
    // the retry recomputed its fold against the fresh snapshot: the
    // final index equals a rescan of BOTH writers' combined state
    val newState = docsDf(corpus.filterNot(_._1 == 1L) ++ Seq(
      1L -> "quick quick replacement text",
      6L -> "an interleaved brand new document"))
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("quick", "document"), 10),
      Keywords.bm25TopK(newState, "doc_id", "text",
        Seq("quick", "document"), 10))
    // the lost attempt's staged files were cleaned, not orphaned
    val onDisk = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(idx, "data"))
      try {
        val it = s.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result()
      } finally s.close()
    }
    val referenced = TxnTable.commits(idx)
      .flatMap(_.adds).map(_.path.stripPrefix("data/")).toSet
    assert(onDisk == referenced, "lost merge attempt orphaned staged files")
  }

  test("upsertLazy: append-only commit, same answers as the rewrite path") {
    val docs = docsDf(corpus)
    val tranche = docsDf(Seq(
      1L -> "quick quick quick brown study",
      6L -> "a wholly new document about the quick fox"))
    val rw = fresh(); val mor = fresh()
    TxnIndex.build(docs, "doc_id", "text", rw, nBuckets = 8)
    TxnIndex.build(docs, "doc_id", "text", mor, nBuckets = 8)
    TxnIndex.upsert(tranche, "doc_id", "text", rw)
    TxnIndex.upsertLazy(tranche, "doc_id", "text", mor)
    // the lazy commit rewrote NOTHING (O(tranche)); the rewrite commit
    // removed files (O(index)) — that asymmetry is the point
    assert(TxnTable.commits(mor).last.removes.isEmpty,
      "upsertLazy must be append-only")
    assert(TxnTable.commits(rw).last.removes.nonEmpty)
    for (q <- Seq(Seq("quick", "fox"), Seq("document", "study")))
      assertSameTopK(
        TxnIndex.bm25TopK(spark, mor, q, 10),
        TxnIndex.bm25TopK(spark, rw, q, 10))
    assertSameTopK(
      TxnIndex.phraseMatches(spark, mor, Seq("quick", "fox")),
      TxnIndex.phraseMatches(spark, rw, Seq("quick", "fox")))
  }

  test("upsertLazy chains: the LAST tombstone wins, then compact folds") {
    val idx = fresh()
    TxnIndex.build(docsDf(corpus), "doc_id", "text", idx, nBuckets = 8)
    TxnIndex.upsertLazy(docsDf(Seq(1L -> "first rewrite of doc one")),
      "doc_id", "text", idx)
    TxnIndex.upsertLazy(docsDf(Seq(1L -> "second rewrite quick quick")),
      "doc_id", "text", idx)
    val finalState = docsDf(corpus.filterNot(_._1 == 1L) :+
      (1L -> "second rewrite quick quick"))
    def serve() = TxnIndex.bm25TopK(spark, idx, Seq("quick", "rewrite"), 10)
    assertSameTopK(serve(),
      Keywords.bm25TopK(finalState, "doc_id", "text",
        Seq("quick", "rewrite"), 10))
    val before = serve().collect().toSeq
    val vPre = TxnTable.currentVersion(idx)
    TxnIndex.compact(spark, idx)
    assert(TxnTable.currentVersion(idx) == vPre + 1, "compact is ONE commit")
    // physically folded: no tombstones, one stats row — same answers
    val full = TxnTable.read(spark, idx)
    assert(full.filter(col("kind") === "t").count() == 0)
    assert(full.filter(col("kind") === "s").count() == 1)
    assert(serve().collect().toSeq == before)
    // and a post-compaction lazy upsert still orders correctly (seq
    // rides the folded stats row)
    TxnIndex.upsertLazy(docsDf(Seq(1L -> "third rewrite appears")),
      "doc_id", "text", idx)
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("rewrite", "third"), 10),
      Keywords.bm25TopK(docsDf(corpus.filterNot(_._1 == 1L) :+
        (1L -> "third rewrite appears")), "doc_id", "text",
        Seq("rewrite", "third"), 10))
  }

  test("rewrite upsert after lazy upserts clears that doc's tombstones") {
    val idx = fresh()
    TxnIndex.build(docsDf(corpus), "doc_id", "text", idx, nBuckets = 8)
    TxnIndex.upsertLazy(docsDf(Seq(2L -> "lazy rewrite of doc two")),
      "doc_id", "text", idx)
    TxnIndex.upsert(docsDf(Seq(2L -> "final physical text for two")),
      "doc_id", "text", idx)
    // the keyed merge removed doc 2's postings AND its tombstones
    assert(TxnTable.read(spark, idx)
      .filter(col("kind") === "t" && col("doc_id") === 2L).count() == 0)
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("final", "physical", "two"), 10),
      Keywords.bm25TopK(docsDf(corpus.filterNot(_._1 == 2L) :+
        (2L -> "final physical text for two")), "doc_id", "text",
        Seq("final", "physical", "two"), 10))
  }

  test("streaming tranche is exactly-once even when it loses a race") {
    val idx = fresh()
    TxnIndex.build(docsDf(Seq.empty), "doc_id", "text", idx, nBuckets = 8)
    assert(TxnIndex.upsertLazyStreamBatch(docsDf(corpus.take(3)),
      "doc_id", "text", idx, "s1", 0L).nonEmpty)
    // plain redelivery is a no-op
    assert(TxnIndex.upsertLazyStreamBatch(docsDf(corpus.take(3)),
      "doc_id", "text", idx, "s1", 0L).isEmpty)
    // redelivery that loses a version race to its OWN first delivery:
    // the retry loop must re-check idempotence, not double-commit
    val batch1 = docsDf(corpus.drop(3))
    var fired = false
    TxnTable.preCommitHook = () => if (!fired) {
      fired = true
      TxnIndex.upsertLazyStreamBatch(batch1, "doc_id", "text", idx, "s1", 1L)
    }
    val res = try TxnIndex.upsertLazyStreamBatch(batch1, "doc_id", "text",
      idx, "s1", 1L)
    finally TxnTable.preCommitHook = () => ()
    assert(fired && res.isEmpty, "the losing delivery must be a no-op")
    // exactly one copy of the corpus landed; answers equal a rescan
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("quick", "fox"), 10),
      Keywords.bm25TopK(docsDf(corpus), "doc_id", "text",
        Seq("quick", "fox"), 10))
    // nothing staged by the losing attempt leaked
    val onDisk = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(idx, "data"))
      try {
        val it = s.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result()
      } finally s.close()
    }
    assert(onDisk == TxnTable.commits(idx)
      .flatMap(_.adds).map(_.path.stripPrefix("data/")).toSet)
  }

  test("compactEvery bounds tranche growth in an unattended stream") {
    val idx = fresh()
    TxnIndex.build(docsDf(Seq.empty), "doc_id", "text", idx, nBuckets = 8)
    corpus.zipWithIndex.foreach { case (doc, i) =>
      TxnIndex.upsertLazyStreamBatch(docsDf(Seq(doc)), "doc_id", "text",
        idx, "s1", i.toLong, compactEvery = 2)
      // the policy folds once the tranche count reaches 2, so it
      // never exceeds 2 right after a batch
      val tranches = TxnTable.read(spark, idx)
        .filter(col("kind") === "s").count()
      assert(tranches <= 2, s"tranche count grew to $tranches")
    }
    // compaction commits happened and did not break batch idempotence
    assert(TxnTable.commits(idx).exists(_.op == "overwrite"))
    assert(TxnIndex.upsertLazyStreamBatch(docsDf(Seq(corpus.head)),
      "doc_id", "text", idx, "s1", 0L).isEmpty,
      "an old batch must stay a no-op after compaction commits")
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("quick", "box"), 10),
      Keywords.bm25TopK(docsDf(corpus), "doc_id", "text",
        Seq("quick", "box"), 10))
  }

  test("empty corpus builds, serves empty, and accepts its first upsert") {
    val idx = fresh()
    TxnIndex.build(docsDf(Seq.empty), "doc_id", "text", idx, nBuckets = 4)
    assert(TxnIndex.bm25TopK(spark, idx, Seq("quick"), 5).count() == 0)
    TxnIndex.upsert(docsDf(corpus.take(2)), "doc_id", "text", idx)
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("quick", "box"), 5),
      Keywords.bm25TopK(docsDf(corpus.take(2)), "doc_id", "text",
        Seq("quick", "box"), 5))
  }

  test("an index-shaped table WITHOUT stats rows is rejected clearly") {
    // the corrupt/foreign case ADVICE flagged: schema-compatible rows
    // but no 's' stats tranche — must be a descriptive require, not an
    // NPE from getInt(null) deep in rawStats
    val idx = fresh()
    TxnIndex.build(docsDf(corpus), "doc_id", "text", idx, nBuckets = 8)
    val t = Files.createTempDirectory("graft_txnidx_nostats").toString + "/t"
    TxnTable.create(spark, t,
      TxnTable.read(spark, idx).filter(col("kind") =!= "s"))
    val e = intercept[IllegalArgumentException] {
      TxnIndex.bm25TopK(spark, t, Seq("quick"), 5)
    }
    assert(e.getMessage.contains("not a TxnIndex"),
      s"want a descriptive rejection, got: ${e.getMessage}")
  }

  test("TWO racing upsertLazy writers: final serve equals the serial oracle") {
    val idx = fresh()
    TxnIndex.build(docsDf(corpus), "doc_id", "text", idx, nBuckets = 8)
    // real concurrency, not injected hooks: two threads each commit 3
    // lazy tranches of DISJOINT doc ids into one index. Every CAS loses
    // some races and must recompute its stats fold against the fresh
    // snapshot; the final logical state is interleaving-independent.
    val trancheA = (0 until 3).map(i => docsDf(Seq(
      (10L + i) -> s"writer alpha tranche $i about the quick silver fox",
      (20L + i) -> s"alpha extra document $i with boxing words")))
    val trancheB = (0 until 3).map(i => docsDf(Seq(
      (30L + i) -> s"writer beta tranche $i on lazy dozing dogs",
      (40L + i) -> s"beta extra document $i with vexing zephyrs")))
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val ta = new Thread(() =>
      try trancheA.foreach(TxnIndex.upsertLazy(_, "doc_id", "text", idx,
        maxAttempts = 50))
      catch { case t: Throwable => errs.add(t) })
    val tb = new Thread(() =>
      try trancheB.foreach(TxnIndex.upsertLazy(_, "doc_id", "text", idx,
        maxAttempts = 50))
      catch { case t: Throwable => errs.add(t) })
    ta.start(); tb.start(); ta.join(); tb.join()
    assert(errs.isEmpty, s"racing writers must converge: $errs")
    // both writers' commits all landed (6 tranches + build)
    assert(TxnTable.currentVersion(idx) == 6L)
    val finalCorpus = docsDf(corpus ++
      (0 until 3).flatMap(i => Seq(
        (10L + i) -> s"writer alpha tranche $i about the quick silver fox",
        (20L + i) -> s"alpha extra document $i with boxing words",
        (30L + i) -> s"writer beta tranche $i on lazy dozing dogs",
        (40L + i) -> s"beta extra document $i with vexing zephyrs")))
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("quick", "lazy", "boxing"), 10),
      Keywords.bm25TopK(finalCorpus, "doc_id", "text",
        Seq("quick", "lazy", "boxing"), 10))
    // and the index remains compactable/consistent after the race
    TxnIndex.compact(spark, idx)
    assertSameTopK(
      TxnIndex.bm25TopK(spark, idx, Seq("quick", "lazy", "boxing"), 10),
      Keywords.bm25TopK(finalCorpus, "doc_id", "text",
        Seq("quick", "lazy", "boxing"), 10))
  }

  test("restore across a compaction revives folded stats; vacuum fences") {
    val idx = fresh()
    val q = Seq("quick", "fox", "dozen")
    TxnIndex.build(docsDf(corpus), "doc_id", "text", idx, nBuckets = 8) // v0
    TxnIndex.upsertLazy(docsDf(Seq(
      1L -> "quick quick rewritten first document")),
      "doc_id", "text", idx) // v1 (tombstone for doc 1)
    TxnIndex.upsertLazy(docsDf(Seq(
      7L -> "a seventh document around dozen quick jugs")),
      "doc_id", "text", idx) // v2
    val preCompact = TxnIndex.bm25TopK(spark, idx, q, 10, asOf = 2L)
      .collect().toSeq
    TxnIndex.compact(spark, idx) // v3: tombstones applied, stats folded
    // restore to the PRE-compaction version: its multi-tranche stats
    // rows and live tombstones must come back and serve identically
    TxnTable.restore(spark, idx, 2L) // v4
    val restored = TxnIndex.bm25TopK(spark, idx, q, 10).collect().toSeq
    assert(restored == preCompact,
      "restore across compaction must revive the exact served answers")
    val statsTranches = TxnTable.readPruned(spark, idx,
      Seq(Bound.LongIn("bucket", Seq(-1L))))
      .filter(col("kind") === "s").count()
    assert(statsTranches == 3,
      s"expected the 3 pre-compact stats tranches back, got $statsTranches")
    // vacuum: keep the current restored snapshot + one back, fence the rest
    TxnTable.vacuum(spark, idx, retainVersions = 2) // v5
    val e = intercept[IllegalArgumentException] {
      TxnIndex.bm25TopK(spark, idx, q, 10, asOf = 1L)
    }
    assert(e.getMessage.contains("vacuum"),
      s"pre-horizon serving must fail clearly, got: ${e.getMessage}")
    // current serving is untouched by the physical cleanup
    assert(TxnIndex.bm25TopK(spark, idx, q, 10).collect().toSeq == preCompact)
  }
}
