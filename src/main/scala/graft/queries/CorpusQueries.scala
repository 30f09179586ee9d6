package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Lake
import graft.functions.TextFunctions
import graft.operators.Keywords

/** Corpus-curation gates over the documents table (SURVEY.md §2.7 L4+):
  * Zipf word frequencies, per-document TF-IDF keywords, repetition /
  * boilerplate signals, and PII scrubbing. Every floating aggregate is
  * either a ratio-of-integer-sums (one double division at the end — no
  * cross-engine summation-order drift) or a per-row rounded value under
  * max() (order-independent).
  */
object CorpusQueries {

  /** L4f: corpus-wide term frequencies, Zipf head (top 20). One explode +
    * one partial-aggregated shuffle; top-k plans as TakeOrderedAndProject.
    */
  def l4WordFreq(spark: SparkSession, dir: String): DataFrame =
    Keywords.wordFrequencies(Lake.table(spark, dir, "documents"), "text")
      .orderBy(col("c").desc, col("term"))
      .limit(20)

  /** L4g: top-5 TF-IDF keywords for the first five documents (scores
    * computed against the FULL corpus df/N, then filtered).
    */
  def l4TfidfTop(spark: SparkSession, dir: String): DataFrame =
    Keywords.tfidfTopK(Lake.table(spark, dir, "documents"), "doc_id", "text", 5)
      .filter(col("doc_id") < 5)
      .orderBy(col("doc_id"), col("rnk"))

  /** L4h: repetition/boilerplate signals per language. The ratio is
    * 1 − Σdistinct/Σtokens (integer sums, one final division); the max
    * single-token share is a per-doc 6dp value under max().
    */
  def l4Repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val toks = TextFunctions.tokens(col("text"))
    docs.select(col("lang"),
        size(toks).cast("long").as("t"),
        size(array_distinct(toks)).cast("long").as("d"),
        TextFunctions.maxTokenShare(col("text")).as("mts"))
      .groupBy(col("lang"))
      .agg(
        sum(col("t")).as("st"),
        sum(col("d")).as("sd"),
        round(lit(1.0) - sum(col("d")).cast("double") / sum(col("t")), 6)
          .as("rep"),
        max(col("mts")).as("mts_max"))
      .orderBy(col("lang"))
  }

  /** L31: Gopher repetition signals (Rae et al. 2021 §A1.1) per doc —
    * char share of the top 2-/3-gram and the duplicate-5-gram fraction.
    * Everything is a pure Column expression over the token array: the
    * whole gate is one scan + projection + sort, zero shuffles before
    * the output ordering — at 100 TB this is the shape of a filter
    * stage, not an analytics query.
    */
  def l31GopherRepetition(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.topNgramCharFrac(col("text"), 2).as("top2_frac"),
        TextFunctions.topNgramCharFrac(col("text"), 3).as("top3_frac"),
        TextFunctions.dupNgramFrac(col("text"), 5).as("dup5_frac"))
      .orderBy(col("doc_id"))

  /** L32: BM25 top-k retrieval for a fixed query over the corpus —
    * Lucene-variant idf, k1=1.2, b=0.75, per-(doc,term) contributions
    * rounded to 6dp and DECIMAL-summed so both engines agree bit-exactly.
    * "dup" is the corpus's one rare term (df ≈ 5% of docs), so the gate
    * exercises a real idf spread, not four near-equal weights.
    */
  def l32Bm25TopK(spark: SparkSession, dir: String): DataFrame =
    Keywords.bm25TopK(Lake.table(spark, dir, "documents"), "doc_id", "text",
      Seq("dup", "join", "vector", "window"), 25)

  /** L40: HYBRID retrieval — BM25 candidates (l32's terms) and
    * cosine candidates (q14's query vector) fused by reciprocal rank
    * fusion, the RAG-retrieval shape: rrf = Σ 1/(60 + rank). Each
    * list is top-50 bounded, so the fusion is metadata-scale; the
    * corpus work lives in the two generators (both independently
    * oracle-pinned). Oracle replays both rankings and the fusion.
    */
  def l40HybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Lake.table(spark, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    graft.operators.HybridSearch.hybridTopK(
      Lake.table(spark, dir, "documents"), "doc_id", "text",
      emb.filter(col("vec_id") =!= 0L), "vec_id", "embedding",
      Seq("dup", "join", "vector", "window"), qv, k = 20, depth = 50)
      .select(col("id"), col("rrf"))
  }

  /** L33: bigram coherence score — per-doc mean bigram log-prob, the
    * sequential signal l29's unigram LM can't see (word salad keeps
    * its unigram distribution; its bigrams collapse to near-unseen).
    * Docs shorter than 2 tokens have no bigrams and drop out (both
    * engines; inner semantics).
    */
  def l33BigramLogprob(spark: SparkSession, dir: String): DataFrame =
    Keywords.bigramLogProb(Lake.table(spark, dir, "documents"),
      "doc_id", "text")

  /** L34: batch BM25 — three queries (overlapping terms, different
    * lengths) scored in one corpus pass, per-query top-5 via the
    * mergeable heap (window-free; plan pinned in PlanShapeSpec).
    */
  def l34Bm25Multi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = Seq((0L, "dup"), (0L, "join"), (1L, "vector"),
      (2L, "window"), (2L, "join"), (2L, "batch"))
      .toDF("query_id", "term")
    Keywords.bm25PerQuery(Lake.table(spark, dir, "documents"), queries,
      "doc_id", "text", 5)
  }

  /** L35: phrase search via positional postings — three phrases (a
    * repeated-term bigram, an ordinary bigram, a zero-match trigram)
    * resolved by postings intersection. The oracle is algorithm-
    * independent: substring containment on the space-padded text, which
    * is equivalent under the corpus's single-space tokenization — two
    * different algorithms must agree on every count.
    */
  def l35PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Lake.table(spark, dir, "documents")
    Seq("merge part", "scan join order", "window window").map { ph =>
      Keywords.phraseMatches(docs, "doc_id", "text", ph.split(" ").toSeq)
        .agg(count(lit(1)).as("matches"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_checksum"))
        .select(lit(ph).as("ph"), col("matches"), col("id_checksum"))
    }.reduce(_.unionAll(_)).orderBy(col("ph"))
  }

  /** Every FileSourceScanExec in an executed plan (through AQE nodes). */
  private def scanNodes(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
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
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
  }

  /** Collect `df`, then require that every scan of the index's postings
    * directory read EXACTLY the query terms' bucket partitions — the
    * l3c-style hard in-run pruning assertion, not a doc claim. */
  private def collectPrunedIndexRead(spark: SparkSession, idxPath: String,
      terms: Seq[String], nBuckets: Int, df: DataFrame)
      : Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    val expected = graft.operators.Keywords
      .termBuckets(spark, terms.distinct, nBuckets).size
    val dirs = new java.io.File(s"$idxPath/postings").list().toSeq
      .count(_.startsWith("bucket="))
    val postingScans = scanNodes(df).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("postings")))
    require(postingScans.nonEmpty, "indexed query never read the index")
    postingScans.foreach { s =>
      val read = s.metrics("numPartitions").value
      require(read == expected && dirs > expected,
        s"index pruning: read $read of $dirs bucket partitions, " +
          s"expected $expected")
    }
    rows
  }

  /** L36: BM25 served from the PERSISTED text index — build once
    * (term-bucketed positional postings + corpus stats), query many.
    * The gate hard-asserts partition pruning (only the 4 query terms'
    * bucket directories are read) and the result must hash-match the
    * l32 rescan path's oracle — same scoring tail, zero corpus scan at
    * query time.
    */
  def l36IndexedBm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nBuckets = 16
    val terms = Seq("dup", "join", "vector", "window")
    val idx = java.nio.file.Files.createTempDirectory("graft_textidx").toString
    Keywords.buildIndex(Lake.table(spark, dir, "documents"),
      "doc_id", "text", idx, nBuckets)
    val topk = Keywords.bm25TopKIndexed(spark, idx, terms, 25)
    val rows = collectPrunedIndexRead(spark, idx, terms, nBuckets, topk)
    rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .toDF("doc_id", "score")
  }

  /** L36b: phrase search served from the persisted index — the l35
    * phrases resolved by postings intersection over ONLY the phrase
    * terms' bucket directories (pruning hard-asserted on the first
    * phrase), matching l35's algorithm-independent substring oracle.
    */
  def l36bIndexedPhrase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nBuckets = 16
    val idx = java.nio.file.Files.createTempDirectory("graft_textidx").toString
    Keywords.buildIndex(Lake.table(spark, dir, "documents"),
      "doc_id", "text", idx, nBuckets)
    val probe = Keywords.phraseMatchesIndexed(spark, idx, Seq("merge", "part"))
    collectPrunedIndexRead(spark, idx, Seq("merge", "part"), nBuckets, probe)
    Seq("merge part", "scan join order", "window window").map { ph =>
      Keywords.phraseMatchesIndexed(spark, idx, ph.split(" ").toSeq)
        .agg(count(lit(1)).as("matches"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_checksum"))
        .select(lit(ph).as("ph"), col("matches"), col("id_checksum"))
    }.reduce(_.unionAll(_)).orderBy(col("ph"))
  }

  /** L36c: INCREMENTAL index growth — the corpus arrives in two
    * tranches (build on the lower half of doc ids, append the upper
    * half); per-term df and the additive corpus stats fold across
    * tranches at query time, and the served BM25 top-k must STILL
    * hash-match the whole-corpus rescan oracle (same SQL as l32), with
    * the same hard pruning assertion. This is the ingest path: growing
    * the index costs one tranche, not a corpus rebuild.
    */
  def l36cIncrementalIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nBuckets = 16
    val terms = Seq("dup", "join", "vector", "window")
    val docs = Lake.table(spark, dir, "documents")
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = java.nio.file.Files.createTempDirectory("graft_textidx").toString
    Keywords.buildIndex(docs.filter(col("doc_id") <= mid),
      "doc_id", "text", idx, nBuckets)
    Keywords.appendToIndex(docs.filter(col("doc_id") > mid),
      "doc_id", "text", idx)
    val topk = Keywords.bm25TopKIndexed(spark, idx, terms, 25)
    val rows = collectPrunedIndexRead(spark, idx, terms, nBuckets, topk)
    rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .toDF("doc_id", "score")
  }

  /** Register a fresh TxnTable holding `df` under a unique name;
    * returns (name, path). The l53 statement-twin gates run the
    * retrieval TVFs against these. */
  private def mkRegistered(spark: SparkSession, df: DataFrame,
      tag: String): (String, String) = {
    val t = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      .toString + "/t"
    graft.core.TxnTable.create(spark, t, df)
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.sql.GraftSql.register(n, t)
    (n, t)
  }

  /** L53: `search_bm25('t', 'query terms', k)` — BM25 retrieval as
    * STATEMENT TEXT (the s34 statement≡API twin pattern): the TVF
    * resolves in query() and dispatches to the l32 operator verbatim.
    * In-run: the statement's ranking equals the API call's row for
    * row; oracle replays the l32 BM25 arithmetic. */
  def l53SearchBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val (n, _) = mkRegistered(spark, docs, "l53")
    try {
      val stmt = graft.sql.GraftSql.query(spark,
        s"SELECT doc_id, score FROM " +
          s"search_bm25('$n', 'dup join vector window', 25)")
      val rows = stmt.collect().toSeq
      val api = Keywords.bm25TopK(docs, "doc_id", "text",
        Seq("dup", "join", "vector", "window"), 25).collect().toSeq
      require(rows.map(_.toSeq) == api.map(_.toSeq),
        "statement ranking must equal the API call's")
      import spark.implicits._
      rows.map(r => (r.getLong(0), r.getDouble(1))).toDF("doc_id", "score")
    } finally graft.sql.GraftSql.unregister(n)
  }

  /** L53b: `search_phrase('t', 'exact phrase')` — phrase search as a
    * TVF, COMPOSED under an aggregating SELECT (TVFs are relations:
    * anything can stack on top). Same three phrases and the same
    * algorithm-independent substring oracle as l35. */
  def l53bSearchPhrase(spark: SparkSession, dir: String): DataFrame = {
    val (n, _) = mkRegistered(spark, Lake.table(spark, dir, "documents"),
      "l53b")
    try {
      Seq("merge part", "scan join order", "window window").map { ph =>
        graft.sql.GraftSql.query(spark,
          s"SELECT '$ph' AS ph, count(*) AS matches, " +
            s"coalesce(sum(doc_id), 0) AS id_checksum " +
            s"FROM search_phrase('$n', '$ph')")
      }.reduce(_.unionAll(_)).orderBy(col("ph"))
    } finally graft.sql.GraftSql.unregister(n)
  }

  /** L53c: `search_ann('t', 'v1,v2,…', k[, nprobe])` — vector top-k as
    * a TVF. With nprobe it serves from the TRANSACTIONAL IVF index
    * (TxnVectorIndex.topK — only the probed lists' files are read);
    * without it, exact brute-force over a plain vector table. In-run:
    * both statement forms equal their API calls row for row; oracle
    * replays the l3c/l3d IVF pipeline (md5 centroids, probe
    * selection, rounded-cosine rerank). */
  def l53cSearchAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Lake.table(spark, dir, "embeddings")
    val data = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val qCsv = q.map(_.toString).mkString(",")
    // the IVF form: a TxnVectorIndex-backed registered table
    val idx = java.nio.file.Files.createTempDirectory("graft_l53c")
      .toString + "/idx"
    graft.operators.TxnVectorIndex.build(data, "vec_id", "embedding",
      idx, nlist = 8)
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.sql.GraftSql.register(n, idx)
    // the brute form: a plain (vec_id, embedding) table
    val (nb, _) = mkRegistered(spark, data, "l53cb")
    try {
      val ivfStmt = graft.sql.GraftSql.query(spark,
        s"SELECT vec_id, sim FROM search_ann('$n', '$qCsv', 10, 3)")
      val ivfRows = ivfStmt.collect().toSeq
      val ivfApi = graft.operators.TxnVectorIndex
        .topK(spark, idx, q, 10, 3).collect().toSeq
      require(ivfRows.map(_.toSeq) == ivfApi.map(_.toSeq),
        "IVF statement must equal the TxnVectorIndex API call")
      val bruteRows = graft.sql.GraftSql.query(spark,
        s"SELECT vec_id, sim FROM search_ann('$nb', '$qCsv', 10)")
        .collect().toSeq
      val bruteApi = graft.operators.Similarity
        .bruteTopK(data, q, 10).collect().toSeq
      require(bruteRows.map(_.toSeq) == bruteApi.map(_.toSeq),
        "brute statement must equal the Similarity API call")
      import spark.implicits._
      ivfRows.map(r => (r.getLong(0), r.getDouble(1)))
        .toDF("vec_id", "sim")
    } finally {
      graft.sql.GraftSql.unregister(n)
      graft.sql.GraftSql.unregister(nb)
    }
  }

  /** L53e: the INDEXED statement path — `search_bm25`/`search_phrase`
    * over a registered TRANSACTIONAL TEXT INDEX (the L37 layout,
    * detected by schema) serve from committed postings: the read
    * prunes to the query terms' bucket files, no corpus rescan, and
    * the result must hash-match the SAME l32 oracle as the rescan
    * twin. In-run: both statements equal their TxnIndex API calls. */
  def l53eSearchIndexed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val terms = Seq("dup", "join", "vector", "window")
    val idx = java.nio.file.Files.createTempDirectory("graft_l53e")
      .toString + "/idx"
    graft.operators.TxnIndex.build(docs, "doc_id", "text", idx, 16)
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.sql.GraftSql.register(n, idx)
    try {
      val stmt = graft.sql.GraftSql.query(spark,
        s"SELECT doc_id, score FROM " +
          s"search_bm25('$n', '${terms.mkString(" ")}', 25)")
      val rows = stmt.collect().toSeq
      val api = graft.operators.TxnIndex.bm25TopK(spark, idx, terms, 25)
        .collect().toSeq
      require(rows.map(_.toSeq) == api.map(_.toSeq),
        "indexed statement must equal the TxnIndex API call")
      val ph = graft.sql.GraftSql.query(spark,
        s"SELECT doc_id, n_occ FROM search_phrase('$n', 'merge part')")
        .collect().toSeq
      val phApi = graft.operators.TxnIndex
        .phraseMatches(spark, idx, Seq("merge", "part")).collect().toSeq
      require(ph.map(_.toSeq).toSet == phApi.map(_.toSeq).toSet,
        "indexed phrase statement must equal the API call")
      import spark.implicits._
      rows.map(r => (r.getLong(0), r.getDouble(1))).toDF("doc_id", "score")
    } finally graft.sql.GraftSql.unregister(n)
  }

  /** L53d: `search_hybrid('docs', 'vectors', 'terms', 'v1,…', k,
    * depth)` — RRF hybrid retrieval as a TVF over two registered
    * tables, replaying the l40 oracle verbatim through statement
    * text. In-run: statement equals the API fusion row for row. */
  def l53dSearchHybrid(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val emb = Lake.table(spark, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val qCsv = q.map(_.toString).mkString(",")
    val (nd, _) = mkRegistered(spark, docs, "l53d")
    val (ne, _) = mkRegistered(spark,
      corpus.select(col("vec_id"), col("embedding")), "l53e")
    try {
      val stmt = graft.sql.GraftSql.query(spark,
        s"SELECT id, rrf FROM search_hybrid('$nd', '$ne', " +
          s"'dup join vector window', '$qCsv', 20, 50)")
      val rows = stmt.collect().toSeq
      val api = graft.operators.HybridSearch.hybridTopK(
        docs, "doc_id", "text", corpus, "vec_id", "embedding",
        Seq("dup", "join", "vector", "window"), q, k = 20, depth = 50)
        .select(col("id"), col("rrf")).collect().toSeq
      require(rows.map(_.toSeq) == api.map(_.toSeq),
        "hybrid statement must equal the API fusion")
      import spark.implicits._
      rows.map(r => (r.getLong(0), r.getDouble(1))).toDF("id", "rrf")
    } finally {
      graft.sql.GraftSql.unregister(nd)
      graft.sql.GraftSql.unregister(ne)
    }
  }

  /** L37: the TRANSACTIONAL text index — TxnIndex commits the postings
    * + doc registry + additive stats through TxnTable, so the index
    * survives the mutable-corpus regime the plain l36 layout excludes:
    * every 7th doc is RE-INGESTED with doubled text in ONE atomic merge
    * commit (old postings replaced, stats corrected — df/tf/dl all
    * change), and the served BM25 must hash-match the rescan oracle on
    * the corpus's NEW logical state. In-run asserts: (a) time travel —
    * the pre-upsert snapshot still serves the pre-upsert answer
    * byte-identically; (b) the serving read is file-pruned (strict
    * subset of the live snapshot's files).
    */
  def l37TxnIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nBuckets = 16
    val terms = Seq("dup", "join", "vector", "window")
    val docs = Lake.table(spark, dir, "documents")
    val idx = java.nio.file.Files.createTempDirectory("graft_txnidx").toString
    val v0 = graft.operators.TxnIndex.build(docs, "doc_id", "text", idx,
      nBuckets)
    val pre = graft.operators.TxnIndex
      .bm25TopK(spark, idx, terms, 25).collect().toSeq
    graft.operators.TxnIndex.upsert(
      docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" "), col("text"))),
      "doc_id", "text", idx)
    val travel = graft.operators.TxnIndex
      .bm25TopK(spark, idx, terms, 25, asOf = v0).collect().toSeq
    require(travel == pre,
      "time-travel read of the pre-upsert snapshot drifted after upsert")
    val live = graft.core.TxnTable.snapshotFiles(idx).size
    val topk = graft.operators.TxnIndex.bm25TopK(spark, idx, terms, 25)
    val rows = topk.collect()
    val idxScans = scanNodes(topk).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(idx)))
    require(idxScans.nonEmpty, "indexed query never read the index")
    idxScans.foreach { s =>
      val read = s.metrics("numFiles").value
      require(read > 0 && read < live,
        s"txn-index pruning: read $read of $live live files")
    }
    rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .toDF("doc_id", "score")
  }

  /** L37b: phrase search from the transactional index AFTER the same
    * doubled-text upsert — positions must be fully replaced, not
    * appended (a double-counted postings row would fabricate phrase
    * matches). Oracle: the algorithm-independent substring check on the
    * corpus's new logical state (which also sees seam-spanning matches
    * the doubling creates — both engines must agree on those).
    */
  def l37bTxnPhrase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Lake.table(spark, dir, "documents")
    val idx = java.nio.file.Files.createTempDirectory("graft_txnidx").toString
    graft.operators.TxnIndex.build(docs, "doc_id", "text", idx, 16)
    graft.operators.TxnIndex.upsert(
      docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" "), col("text"))),
      "doc_id", "text", idx)
    Seq("merge part", "scan join order", "window window").map { ph =>
      graft.operators.TxnIndex
        .phraseMatches(spark, idx, ph.split(" ").toSeq)
        .agg(count(lit(1)).as("matches"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_checksum"))
        .select(lit(ph).as("ph"), col("matches"), col("id_checksum"))
    }.reduce(_.unionAll(_)).orderBy(col("ph"))
  }

  /** L37c: the MERGE-ON-READ upsert — the same doubled-text re-ingest
    * as l37, but committed APPEND-ONLY (tombstones + stats delta; the
    * commit removes zero files, asserted in-run), and then COMPACTED
    * (tombstones folded away physically). Both the pre-compact and
    * post-compact serving answers must hash-match the same oracle as
    * l37 — commit strategy must never leak into results.
    */
  def l37cLazyIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("dup", "join", "vector", "window")
    val docs = Lake.table(spark, dir, "documents")
    val idx = java.nio.file.Files.createTempDirectory("graft_txnidx").toString
    graft.operators.TxnIndex.build(docs, "doc_id", "text", idx, 16)
    graft.operators.TxnIndex.upsertLazy(
      docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" "), col("text"))),
      "doc_id", "text", idx)
    require(graft.core.TxnTable.commits(idx).last.removes.isEmpty,
      "upsertLazy must commit append-only (zero files rewritten)")
    val pre = graft.operators.TxnIndex
      .bm25TopK(spark, idx, terms, 25).collect().toSeq
    graft.operators.TxnIndex.compact(spark, idx)
    val post = graft.operators.TxnIndex
      .bm25TopK(spark, idx, terms, 25).collect().toSeq
    require(pre == post, "compaction changed a served answer")
    post.map(r => (r.getLong(0), r.getDouble(1)))
      .toDF("doc_id", "score")
  }

  /** L37d: BATCH BM25 served from the transactional index — l34's
    * query table scored in one pruned read of the query-term union's
    * buckets (bucket set folded distributively from the query table),
    * hash-matching l34's rescan oracle exactly.
    */
  def l37dTxnBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = Seq((0L, "dup"), (0L, "join"), (1L, "vector"),
      (2L, "window"), (2L, "join"), (2L, "batch"))
      .toDF("query_id", "term")
    val idx = java.nio.file.Files.createTempDirectory("graft_txnidx").toString
    graft.operators.TxnIndex.build(Lake.table(spark, dir, "documents"),
      "doc_id", "text", idx, 16)
    graft.operators.TxnIndex.bm25PerQuery(spark, idx, queries, 5)
  }

  /** L4i: PII scrubbing accounting. The corpus has no PII, so each doc is
    * deterministically augmented with an email and a URL derived from its
    * id; both engines construct the SAME string, scrub with the SAME
    * patterns (URL first, then email), and must agree on every length.
    */
  def l4ScrubPii(spark: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact user"), (col("doc_id") % 7).cast("string"),
      lit("@mail"), (col("doc_id") % 3).cast("string"),
      lit(".com via https://site"), (col("doc_id") % 5).cast("string"),
      lit(".org/p"))
    Lake.table(spark, dir, "documents")
      .select(col("source"), aug.as("aug"),
        TextFunctions.scrubPii(aug).as("clean"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("c"),
        sum(length(col("aug"))).as("before_chars"),
        sum(length(col("clean"))).as("after_chars"),
        sum(when(col("clean") =!= col("aug"), 1L).otherwise(0L)).as("changed"))
      .orderBy(col("source"))
  }

  /** L3e: per-label embedding centroids (the IVF/clustering building
    * block), first 8 dimensions. Each position's sum is computed over
    * SCALED INTEGERS (round(v·10⁶) as long) so the cross-engine result is
    * exact regardless of float summation order; the centroid is one
    * double division at the end. posexplode → (label, pos) partial-agg —
    * one shuffle, state O(labels·dims).
    */
  def l3Centroids(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("p", "v")))
      .filter(col("p") < 8)
      // posexplode yields int32; the oracle's range(8) is int64 — align.
      .withColumn("pos", col("p").cast("long")).drop("p")
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("v").cast("double") * 1000000).cast("long")).as("sv"))
      .withColumn("centroid",
        col("sv").cast("double") / 1000000.0 / col("n"))
      .orderBy(col("label"), col("pos"))

  /** L4j: heavy hitters via the SpaceSaving mergeable sketch
    * (plans.SpaceSaving — O(capacity) state, map-side partials). With
    * capacity ≥ the corpus vocabulary the sketch is provably exact with
    * zero error, which is what makes this gate deterministic; the
    * approximate regime's guarantees (overcount bound, n/capacity
    * presence) are property-tested in SpaceSavingSpec.
    */
  def l4HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val words = Lake.table(spark, dir, "documents")
      .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
    words
      .agg(graft.plans.SpaceSaving.space_saving(col("term"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("term"), col("e.count").as("c"),
        col("e.error").as("err"))
      .orderBy(col("c").desc, col("term"))
      .limit(10)
  }

  /** L4m: per-domain quota — keep the 10 highest-priority docs per source
    * (priority = n_chars desc, doc_id tiebreak), the cap that stops one
    * domain from dominating a corpus. Gate aggregates the kept set.
    */
  def l4mDomainQuota(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.domainQuota(
        Lake.table(spark, dir, "documents"),
        col("source"), col("n_chars"), col("doc_id"), quota = 10)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("c"),
        sum(col("n_chars")).as("kept_chars"),
        min(col("n_chars")).as("min_kept"))
      .orderBy(col("source"))

  /** Exact substring-span duplication SIGNAL (Lee et al. 2021 sliding-
    * window formulation): per source, how many 8-token span positions
    * repeat corpus-wide and how many docs carry at least one. */
  def l41SpanStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    graft.operators.Curation.duplicateSpanStats(docs, "doc_id", "text", 8)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_spans")).as("spans"),
        sum(col("dup_spans")).as("dup_spans"),
        sum(when(col("dup_spans") > 0, 1L).otherwise(0L)).as("dup_docs"))
      .orderBy(col("source"))
  }

  /** Exact substring REMOVAL, keep-first: every duplicated 8-token span
    * occurrence except the corpus-wide first loses its tokens; docs are
    * reassembled from survivors. Compared on per-source token totals AND
    * the md5 of every reconstructed text (content-exact, not count-only). */
  def l41bSpanRemoval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    graft.operators.Curation.removeDuplicateSpans(docs, "doc_id", "text", 8)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_tokens")).as("toks"),
        sum(col("tokens_kept")).as("kept"),
        countDistinct(md5(col("kept_text"))).as("distinct_kept"))
      .orderBy(col("source"))
  }

  /** L2e: sub-document dedup — 10-token chunk windows deduped corpus-wide
    * keep-first, docs reassembled from surviving chunks in order. The
    * per-source distinct count of md5(reassembled text) pins content AND
    * chunk order of every reconstructed doc, not just counts.
    */
  def l2eChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    graft.operators.Curation.chunkDedup(docs, "doc_id", "text", chunkTokens = 10)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("chunks_total")).as("ct"),
        sum(col("chunks_kept")).as("ck"),
        countDistinct(md5(col("kept_text"))).as("distinct_kept"))
      .orderBy(col("source"))
  }

  /** L7: benchmark decontamination — corpus docs sharing any 5-token
    * shingle with the benchmark subset (doc_id % 97 == 0 stands in for an
    * eval set) are flagged; gate counts flags per source. Semi-join on
    * the shingle key — linear, no row multiplication.
    */
  def l7Contamination(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.contaminationFlags(
        Lake.table(spark, dir, "documents"),
        "doc_id", "text", col("doc_id") % 97 === 0, n = 5)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("flagged"))
      .orderBy(col("source"))

  /** L8: deterministic weighted sampling (Efraimidis–Spirakis, weight =
    * n_chars, uniforms md5-seeded by doc_id) — top 25 draws. The key is
    * emitted rounded to 9dp (transcendental pow; same discipline as
    * TF-IDF's 6dp ln); selection order is pinned by the raw key with a
    * doc_id tie-break on both engines.
    */
  def l8WeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
        Lake.table(spark, dir, "documents"),
        col("n_chars"), col("doc_id"), k = 25)
      .select(col("doc_id"), col("n_chars"),
        round(col("_es_key"), 9).as("key9"))

  /** L9: doc-length histogram, width-50 buckets — the distribution every
    * min/max-length curation cut is calibrated against. All-integer.
    */
  def l9LengthHistogram(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.lengthHistogram(
        Lake.table(spark, dir, "documents"), col("n_chars"), width = 50)
      .orderBy(col("bucket"))

  /** L10: inverted index, 25 highest-df terms. postings_md5 pins the FULL
    * postings list (doc_id:tf pairs in doc order) of every emitted term,
    * not just its aggregate counts.
    */
  def l10InvertedIndex(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Keywords.invertedIndex(
        Lake.table(spark, dir, "documents"), "doc_id", "text")
      .select(col("term"), col("df"), col("tf_total"),
        md5(concat_ws(",",
          transform(col("postings"), p =>
            concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))))).as("postings_md5"))
      .orderBy(col("df").desc, col("term"))
      .limit(25)

  /** L11: hash-based train/val/test split (80/10/10, seeded by doc_id) —
    * per-split counts plus id/char checksums pin the exact membership of
    * every split, not just its size.
    */
  def l11HashSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashSplit(
        Lake.table(spark, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("c"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("chars_sum"))
      .orderBy(col("split"))

  /** L12: symmetric int8 embedding quantization — per (label, pos < 8)
    * integer sums of the quantized values. The oracle replays scale and
    * rounding element-by-element, so the gate pins every emitted int8.
    */
  def l12Quantize(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "embeddings")
      .select(col("label"),
        posexplode(graft.functions.VectorFunctions.quantizeInt8(col("embedding")))
          .as(Seq("p", "q")))
      .filter(col("p") < 8)
      .withColumn("pos", col("p").cast("long")).drop("p")
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).cast("long").as("sq"))
      .orderBy(col("label"), col("pos"))

  /** L13: sequence packing — per-source prefix-sum binning into 500-token
    * budgets; the per-source roll-up pins every bin boundary (bin count,
    * max fill, totals) without emitting one row per document.
    */
  def l13Packing(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val perBin = graft.operators.Curation
      .packBins(docs, col("source"), col("toks"), col("doc_id"), capacity = 500L)
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("docs"), sum(col("toks")).as("fill"))
    perBin.groupBy(col("source"))
      .agg(count(lit(1)).as("bins"),
        sum(col("docs")).as("docs"),
        max(col("fill")).as("max_fill"),
        sum(col("fill")).as("total_toks"))
      .orderBy(col("source"))
  }

  /** L15: integer random projection (64-d → 8-d) over int8-quantized
    * embeddings with the md5-derived ±1 sign matrix — all-integer, so the
    * cross-engine check is exact (no float-fold drift). The oracle
    * rebuilds the same matrix from the same md5 strings; the gate pins
    * the summed projection per (label, output dim).
    */
  def l15RandomProjection(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "embeddings")
      .select(col("label"),
        posexplode(graft.functions.VectorFunctions
          .randomProjectInt(col("embedding"), inDim = 64, outDim = 8))
          .as(Seq("k", "pv")))
      .withColumn("k", col("k").cast("long"))
      .groupBy(col("label"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("pv")).as("sp"))
      .orderBy(col("label"), col("k"))

  /** L16: count-min sketch — one-pass token-frequency table (the
    * "how often is X" companion to SpaceSaving's "who is heavy"). The
    * gate checks the CM guarantee per top-20 token against the exact
    * counts: exact ≤ estimate (always, by construction) and estimate ≤
    * exact + 16N/width. The upper flag is probabilistic, so the bound
    * carries a safety factor: per row E[excess] = N/width, Markov gives
    * P(excess > 16N/width) ≤ 1/16, and the estimate is the MIN over
    * depth=4 independent rows → P(fail) ≤ 16⁻⁴ ≈ 1.5e-5 per token,
    * ~3e-4 over 20 tokens — robust to corpus regeneration or re-hashing
    * (the previous 3N/width bound held per token only with prob ~98.8%,
    * ~22% cumulative failure odds across the 20 gated tokens). The flags
    * are deterministic given a fixed corpus; the oracle pins the exact
    * counts and expects both flags true (the f8b bounded-error pattern).
    */
  def l16Countmin(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.CountMinAgg.{cm_estimate, count_min_agg}
    val (width, depth) = (4096, 4)
    val toks = Lake.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .select(col("t"), xxhash64(col("t")).as("h"))
    val sk = toks.agg(count_min_agg(col("h"), width, depth).as("sk"),
      count(lit(1)).as("n"))
    val top = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(20)
    top.crossJoin(broadcast(sk))
      .select(col("t"), col("c"),
        (cm_estimate(col("sk"), xxhash64(col("t")), width, depth) >= col("c"))
          .as("lower_ok"),
        (cm_estimate(col("sk"), xxhash64(col("t")), width, depth) <=
          col("c") + call_function("div", col("n") * 16L, lit(width.toLong)))
          .as("upper_ok"))
      .orderBy(col("c").desc, col("t"))
  }

  /** L17: out-of-vocabulary rate — fix a vocabulary (top-50 corpus
    * tokens, tie-pinned), then per source count tokens outside it. The
    * tokenizer-coverage question every pipeline asks before committing a
    * vocab. Broadcast vocab join; one agg per source.
    */
  def l17OovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Lake.table(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(50)
      .select(col("t"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("t"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov"))
      .withColumn("oov_rate",
        round(col("oov").cast("double") / col("n").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** L18: HTML normalization — wrap every doc in deterministic markup
    * (tags + escaped entities), strip it back with stripHtml, and prove
    * byte-exact recovery of `text || ' & <end>'` via md5 + length per
    * doc. Exercises tag removal, entity unescape order, and whitespace
    * collapse against an oracle that never runs the stripper.
    */
  def l18HtmlStrip(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"),
        concat(lit("<div id=\""), col("doc_id"), lit("\"><p>"), col("text"),
          lit("</p>&amp; &lt;end&gt;<br/></div>")).as("html"))
      .select(col("doc_id"),
        md5(TextFunctions.stripHtml(col("html"))).as("h"),
        length(TextFunctions.stripHtml(col("html"))).cast("long").as("n"))
      .orderBy(col("doc_id"))

  /** L42: C4-style LINE curation — synthesize a lined corpus from the
    * documents (every " table " separator becomes a newline; identical
    * literal replace on both engines), LINE-FILTER it (≥ 5 words, no
    * "slow" substring — the C4 short-line/banned-token rules), then
    * collapse within-doc duplicate lines keep-first in order (the
    * boilerplate-paragraph rule). Both ops are map-side Column HOFs —
    * zero shuffles at any corpus size; content pinned per doc by md5.
    * The oracle replays both with DuckDB list lambdas (index-aware
    * keep-first via list_position). */
  def l42LineCuration(spark: SparkSession, dir: String): DataFrame = {
    val lined = Lake.table(spark, dir, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"),
        replace(col("text"), lit(" table "), lit("\n")).as("t2"))
    val deduped = TextFunctions.dedupLines(
      TextFunctions.filterLines(col("t2"), 5, Seq("slow")))
    lined.select(col("doc_id"),
      when(deduped === "", 0L)
        .otherwise(size(split(deduped, "\n")).cast("long"))
        .as("lines_kept"),
      length(deduped).cast("long").as("chars_kept"),
      md5(deduped).as("h"))
      .orderBy(col("doc_id"))
  }

  /** L44: deterministic train/val/test split — `Curation.assignSplit`
    * stamps each document's split as a pure md5 function of its id
    * (never migrates across runs or corpus growth; map-side, zero
    * shuffles). The 80/10/10 assignment is replayed bit-for-bit in
    * DuckDB (same md5 bucket, same integer thresholds), grouped by
    * (source, split) with count + id checksum — any drifted bucket
    * boundary or float comparison would hash-mismatch. */
  def l44HashSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    graft.operators.Curation.assignSplit(docs, col("doc_id"),
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("source"), col("split"))
  }

  /** L47: token-budgeted corpus mixing — per source, the greedy
    * prefix of the deterministic (md5(id), id) order within a token
    * budget (here ⅓ of each source's tokens, derived in-query so the
    * oracle replays it). Two-pass bucket thresholds keep the window
    * on ONE boundary bucket (in-run: boundary rows are a tiny
    * fraction, budgets respected AND maximal — the first excluded
    * document would overflow). id_sum pins the exact kept set. */
  def l47TokenBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    val budgets = docs.groupBy(col("source"))
      .agg((sum(col("tok")) / 3).cast("long").as("b")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = graft.operators.Curation.tokenBudgetMix(
      docs, col("doc_id"), "source", col("tok"), budgets)
    val out = kept.groupBy(col("source"))
      .agg(count(lit(1)).as("kept"), sum(col("tok")).as("kept_tokens"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("source"))
    // budgets respected AND maximal: kept ≤ budget, and the first
    // excluded document in the deterministic order would overflow
    val keptTok = out.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    keptTok.foreach { case (src, kt) =>
      require(kt <= budgets(src), s"$src over budget: $kt")
    }
    val keptIds = kept.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val firstExcluded = docs
      .filter(!col("doc_id").isInCollection(keptIds))
      .withColumn("__h", md5(col("doc_id").cast("string")))
      .groupBy(col("source"))
      .agg(min(struct(col("__h"), col("doc_id"), col("tok"))).as("m"))
      .collect().map(r => r.getString(0) ->
        r.getStruct(1).getLong(2)).toMap
    firstExcluded.foreach { case (src, t) =>
      require(keptTok(src) + t > budgets(src),
        s"$src not maximal: ${keptTok(src)} + $t <= ${budgets(src)}")
    }
    out
  }

  /** L51: `MIX t ON doc_id BY source WEIGH <expr> BUDGETS (…)` — the
    * l47 token-budgeted mixing as STATEMENT TEXT, rows out through
    * query(): the deterministic greedy per-source prefix whose WEIGH
    * sum stays within each source's budget. In-run: statement kept
    * set ≡ the API call's (count + id sum per source); execute()
    * refuses with the rows-out redirect. Oracle replays the l47
    * ordered-cumsum prefix. */
  def l51MixStatement(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_l51").toString
    val docs = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val t = s"$d/docs"
    graft.core.TxnTable.create(spark, t, docs)
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.sql.GraftSql.register(n, t)
    try {
      val tok = size(split(col("text"), " ")).cast("long")
      val budgets = docs.groupBy(col("source"))
        .agg((sum(tok) / 3).cast("long").as("b")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val clause = budgets.toSeq.sorted
        .map { case (s, b) => s"'$s' = $b" }.mkString(", ")
      val stmt = s"MIX $n ON doc_id BY source " +
        s"WEIGH size(split(text, ' ')) BUDGETS ($clause)"
      val kept = graft.sql.GraftSql.query(spark, stmt)
      // statement ≡ API, per source
      def pin(df: DataFrame): Map[String, (Long, Long)] =
        df.groupBy(col("source"))
          .agg(count(lit(1)), sum(col("doc_id"))).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      require(pin(kept) == pin(graft.operators.Curation.tokenBudgetMix(
        docs, col("doc_id"), "source", tok, budgets)),
        "MIX statement must keep exactly the API call's rows")
      // rows out: execute() redirects loudly
      val redirected =
        try { graft.sql.GraftSql.execute(spark, stmt); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("query()") }
      require(redirected, "execute(MIX) must redirect to query()")
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("kept"), sum(tok).as("kept_tokens"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"))
    } finally graft.sql.GraftSql.unregister(n)
  }

  /** L52: `SPLIT t ON doc_id INTO ('train'=80, 'val'=10, 'test'=10)`
    * — the l44 deterministic md5 split as STATEMENT TEXT, rows out
    * through query() with the `split` column appended. In-run:
    * statement assignment ≡ the API call row-for-row (integer weights
    * normalize to the same fractions). Oracle replays the l44 bucket
    * thresholds verbatim. */
  def l52SplitStatement(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_l52").toString
    val docs = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val t = s"$d/docs"
    graft.core.TxnTable.create(spark, t, docs)
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.sql.GraftSql.register(n, t)
    try {
      val stmt = s"SPLIT $n ON doc_id " +
        "INTO ('train' = 80, 'val' = 10, 'test' = 10)"
      val out = graft.sql.GraftSql.query(spark, stmt)
      val api = graft.operators.Curation.assignSplit(docs,
        col("doc_id"), Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      require(out.select(col("doc_id"), col("split")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet ==
        api.select(col("doc_id"), col("split")).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet,
        "statement assignment must equal the API call row-for-row")
      out.groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"), col("split"))
    } finally graft.sql.GraftSql.unregister(n)
  }

  /** L45: per-document unigram surprisal — the cheap novelty/quality
    * signal before anything model-based: high = corpus-rare tokens
    * (novel or noisy), low = boilerplate; curation samples or drops
    * both tails. Per-token weights quantize to integer micro-nats
    * (round(ln(total/cnt)·10⁶)) BEFORE the per-document sum, so the
    * DuckDB replay is exact integer arithmetic; ranking is the rounded
    * mean with doc_id tie-break. In-run: token conservation (Σ
    * per-doc tokens ≡ the corpus token count). */
  def l45Surprisal(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val s = graft.operators.Curation
      .unigramSurprisal(docs, "doc_id", "text")
    val corpusTokens = docs.select(explode(split(col("text"), " "))
      .as("t")).filter(length(col("t")) > 0).count()
    val fed = s.agg(sum(col("tokens"))).head().getLong(0)
    require(fed == corpusTokens,
      s"surprisal must conserve tokens: $fed vs $corpusTokens")
    s.select(col("doc_id"), col("tokens"),
      col("surprisal_micronats").as("sm"),
      round(col("surprisal_micronats").cast("double") /
        col("tokens") / 1000000L, 6).as("avg_nats"))
      .orderBy(col("avg_nats").desc, col("doc_id")).limit(20)
  }

  /** L43: canonical-URL dedup — the same page arrives under dozens of
    * spellings (case, www, default port, trailing slash, tracking
    * params, param order, fragments); `canonicalizeUrl` collapses them
    * to one dedup key, map-side, then one keyed groupBy yields the
    * per-page group (count + keeper doc). The gate synthesizes four
    * deterministic spelling variants per document and proves variants
    * 0–2 of each source collapse to ONE canonical page while variant 3
    * stays keyed by its real param; the oracle replays the full
    * canonicalization algorithm step-for-step in DuckDB (split_part /
    * list_sort / list_filter twins of the Spark expressions). */
  def l43UrlCanonDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val urls = docs.select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://WWW."), col("source"),
          lit(".COM:443/A/B/?b=2&a=1&utm_source=x")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://"), col("source"), lit(".com/A/B?a=1&b=2#f")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://"), col("source"), lit(".com/A/B")))
        .otherwise(concat(lit("https://"), col("source"),
          lit(".com/other?gclid=1&page="), (col("doc_id") % 5)))
        .as("url"))
    urls
      .select(col("doc_id"),
        graft.functions.TextFunctions.canonicalizeUrl(col("url"))
          .as("canon"))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("dups"), min(col("doc_id")).as("keeper"))
      .orderBy(col("canon"))
  }

  /** L19: sparse (token-space) cosine similarity join — tf vectors meet
    * on shared terms only (postings self-join), dot products and squared
    * norms stay in EXACT integer arithmetic, and the cosine is one
    * deterministic double op at the end. The term-frequency analogue of
    * the dense-embedding l3 family; at scale the standard df-threshold
    * cut bounds the per-term postings-squared blowup (stop terms are
    * exactly the ones that dominate cost and carry no signal).
    */
  def l19SparseCosine(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val tf = graft.operators.SparseSimilarity
      .termFreqs(docs, col("doc_id"), col("text"))
    graft.operators.SparseSimilarity.cosinePairs(tf, maxDf = None)
      .select(col("da"), col("db"), col("dot"), col("na2"), col("nb2"),
        col("cos"))
      .orderBy(col("dot").desc, col("da"), col("db"))
      .limit(15)
  }

  /** L20: mixture sampling — rebalance three sources to 50/30/20
    * proportions at the largest feasible size, deterministic md5-order
    * draw; the oracle replays counts, targets, and the same draw.
    */
  def l20Mixture(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.mixtureSample(
        Lake.table(spark, dir, "documents"), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept"), sum(col("doc_id")).as("cks"))
      .orderBy(col("source"))

  /** L21: retention delete — drop users 1,3,5 (deletion requests) and
    * everything before the retention horizon, then account for every
    * surviving row. The compliance rewrite's SELECT, cross-checked.
    */
  def l21RetentionDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Curation.retentionDelete(
        Lake.table(spark, dir, "events"),
        keyCol = "user_id",
        deleteKeys = Seq(1L, 3L, 5L).toDF("user_id"),
        tsCol = "ts",
        keepAtOrAfter = to_timestamp(lit("2024-01-10 00:00:00")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("c"), countDistinct(col("user_id")).as("users"),
        sum(col("event_id")).as("cks"))
      .orderBy(col("event_type"))
  }

  /** L22: per-dimension embedding profile — the QA pass before any
    * vector op: for each of the 64 dims, count/sum/sum-of-squares over
    * micro-unit-quantized components (round(x·10⁶) — exact integers, so
    * the cross-engine compare is bit-stable), with mean and std derived
    * from those integers as the final scalar ops. Finds dead dims
    * (std≈0), scale outliers, and NaN poisoning (count < rows) in one
    * posexplode + 64-group aggregate; at 100 TB this is a map-side
    * partial agg over a fixed 64-key space — no shuffle pressure at all.
    */
  def l22DimStats(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("j", "x")))
      .select(col("j").cast("long").as("j"),
        round(col("x").cast("double") * 1000000L).cast("long").as("q"))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("ss"))
      .withColumn("mean_micro",
        round(col("s").cast("double") / col("n"), 6))
      .withColumn("std_micro",
        // explicit product, not pow(x, 2): Math.pow is 1-ulp, the
        // multiply is exact — the oracle multiplies too
        round(sqrt(col("ss").cast("double") / col("n") -
          (col("s").cast("double") / col("n")) *
          (col("s").cast("double") / col("n"))), 6))
      .orderBy(col("j"))

  /** L23: bigram novelty — per source, how much of each doc's bigram
    * vocabulary exists NOWHERE else in the corpus (document frequency
    * 1). The burstiness/novelty signal that separates template spam
    * (novelty ≈ 0) from genuinely fresh text; integer counts only, one
    * distinct-(doc, bigram) shuffle + one df aggregate — both keyed, both
    * linear in bigram volume.
    */
  def l23BigramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val db = Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextFunctions.wordShingles(col("text"), 2))
          .as("bg"))
      .distinct()
    val df1 = db.groupBy(col("bg")).agg(countDistinct(col("doc_id")).as("df"))
    db.join(df1, "bg")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("bigrams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("unique_bigrams"))
      .withColumn("novelty",
        round(col("unique_bigrams").cast("double") / col("bigrams"), 6))
      .orderBy(col("source"))
  }

  /** L24: winnowing near-dup pairs — document pairs sharing ≥ 10
    * winnowed fingerprints (k=8 char-grams, window w=16: every shared
    * run of ≥ 23 chars leaves a shared fingerprint). The MOSS-style
    * clone detector, complementary to MinHash (which estimates global
    * Jaccard; winnowing catches LOCAL verbatim reuse inside otherwise
    * different docs). Fingerprint sets are ~8× smaller than the gram
    * stream; the pair join is an equi-join on fingerprint value.
    */
  def l24Winnowing(spark: SparkSession, dir: String): DataFrame = {
    val fps = Lake.table(spark, dir, "documents")
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions
          .winnowedFingerprints(col("text"), 8, 16)).as("fp"))
      .distinct()
    fps.select(col("doc_id").as("a_id"), col("fp"))
      .join(fps.select(col("doc_id").as("b_id"), col("fp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 10)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** L25: SemDeDup-style semantic dedup — bucket every embedding by its
    * nearest seed centroid (exact scaled-int distances, Clustering
    * discipline), flag within-cluster vectors whose cosine to a lower-id
    * member ≥ 0.3, report per-cluster totals. The pairwise work is
    * Σ cluster² (clusters are 48–70 members here), never corpus².
    */
  def l25SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Lake.table(spark, dir, "embeddings")
    val cents = graft.operators.Clustering.seedCentroids(emb, 8)
    graft.operators.Clustering.semDedupFlags(emb, cents, tau = 0.3)
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"),
        sum(col("dup").cast("long")).as("dups"),
        sum((!col("dup")).cast("long")).as("kept"),
        sum(when(col("dup"), col("id")).otherwise(0L)).as("dup_id_sum"))
      .orderBy(col("cluster"))
  }

  /** L26: one exact-integer Lloyd (k-means) step from the 8 deterministic
    * seed centroids: assignment is map-side broadcast arithmetic, the
    * update one posexplode shuffle with O(k·dim) state. First 8
    * dimensions reported; sums are exact scaled-int longs (the
    * l3_centroids discipline), so the gate is bit-exact cross-engine.
    */
  def l26Kmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = Lake.table(spark, dir, "embeddings")
    val cents = graft.operators.Clustering.seedCentroids(emb, 8)
    graft.operators.Clustering.lloydStep(emb, cents)
      .filter(col("pos") < 8)
      .select(col("cluster").cast("long").as("cluster"), col("pos"),
        col("n"), col("sv"), col("centroid"))
      .orderBy(col("cluster"), col("pos"))
  }

  /** L27: near-exact dedup after text NORMALIZATION (lowercase, strip
    * non-alphanumerics, collapse whitespace) — the Common-Crawl-style
    * middle ground between exact-hash dedup (l1) and MinHash (l2):
    * catches case/punctuation/spacing variants of the same document.
    * One shuffle on the normalized-hash key; per-source accounting.
    */
  def l27NormDedup(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]+", ""), " +", " "))
    Lake.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), md5(norm).as("k"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("k")).as("groups"),
        (count(lit(1)) - countDistinct(col("k"))).as("dups"))
      .orderBy(col("source"))
  }

  /** L28: per-document token Shannon entropy (nats) — the information-
    * density quality signal (low entropy = repetitive/boilerplate).
    * H = ln T − (Σ c·ln c)/T from per-term integer counts; each c·ln c
    * is rounded to 6dp and summed as exact DECIMAL (order-independent),
    * the per-doc H rounded to 6dp, and per-language sums again exact
    * DECIMAL — the l4_quality float discipline. Two keyed shuffles
    * ((doc,term) then doc), both partial-aggregated.
    */
  def l28TokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val cnt = docs
      .select(col("doc_id"), col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("t"),
        sum(round(col("c").cast("double") * log(col("c").cast("double")), 6)
          .cast("decimal(18,6)")).as("clc"))
      .select(col("lang"),
        round(log(col("t").cast("double")) -
          col("clc").cast("double") / col("t").cast("double"), 6).as("h"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("h").cast("decimal(18,6)")).cast("double").as("h_sum"),
        max(col("h")).as("h_max"), min(col("h")).as("h_min"))
      .orderBy(col("lang"))
  }

  /** L29: CCNet-style unigram-LM quality score — per-document average
    * token log-probability under an add-one-smoothed unigram model
    * trained on the corpus itself (low score = out-of-distribution /
    * junk text; the classic perplexity-bucketing signal). ln p(t) =
    * ln(c(t)+1) − ln(T+V). Float discipline: each per-(doc,term)
    * contribution c·ln p is rounded to 6dp and summed as exact DECIMAL,
    * the per-doc average re-rounded, per-language sums again DECIMAL.
    * Shape: one term-keyed shuffle to train (partial-aggregated), one
    * term-keyed join to score (the model is a term table, NOT driver
    * state), a 1-row broadcast for (T,V), then the doc-keyed aggregate —
    * every stage keyed and linear, nothing driver-side.
    */
  def l29UnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val dc = docs
      .select(col("doc_id"), col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    val tf = dc.groupBy(col("term")).agg(sum(col("c")).as("ct"))
    val tot = tf.agg(sum(col("ct")).as("bigt"), count(lit(1)).as("v"))
    dc.join(tf, "term")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), col("c"),
        round(col("c").cast("double") *
          (log(col("ct").cast("double") + 1.0) -
            log(col("bigt").cast("double") + col("v").cast("double"))), 6)
          .cast("decimal(18,6)").as("contrib"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("t"), sum(col("contrib")).as("clp"))
      .select(col("lang"),
        round(col("clp").cast("double") / col("t").cast("double"), 6).as("lp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("lp").cast("decimal(18,6)")).cast("double").as("lp_sum"),
        max(col("lp")).as("lp_max"), min(col("lp")).as("lp_min"))
      .orderBy(col("lang"))
  }

  /** L30: PMI phrase mining — top-20 bigrams by pointwise mutual
    * information, the classic collocation signal (high PMI = tokens that
    * co-occur far above chance → likely a phrase). PMI(ab) = ln c(ab) −
    * ln B − ln c(a) − ln c(b) + 2·ln T over exact integer counts, rounded
    * 6dp; ordering is (rounded PMI desc, bigram asc) — total, so the
    * top-20 cut is engine-independent. Shape: two token-keyed count
    * shuffles (unigrams, bigrams), two hash joins on the split tokens,
    * 1-row totals broadcast, TakeOrderedAndProject finish.
    */
  def l30PmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val uni = docs
      .select(explode(TextFunctions.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val bg = docs
      .select(explode(TextFunctions.wordShingles(col("text"), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cab"))
    val tot = uni.agg(sum(col("c")).as("t_tot"))
      .crossJoin(bg.agg(sum(col("cab")).as("b_tot")))
    bg.filter(col("cab") >= 5)
      .withColumn("a", split(col("bg"), " ").getItem(0))
      .withColumn("b", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("t").as("a"), col("c").as("ca")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("cb")), "b")
      .crossJoin(broadcast(tot))
      .select(col("bg"), col("cab"),
        round(log(col("cab").cast("double")) - log(col("b_tot").cast("double"))
          - log(col("ca").cast("double")) - log(col("cb").cast("double"))
          + lit(2.0) * log(col("t_tot").cast("double")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bg"))
      .limit(20)
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "l30_pmi_bigrams" -> (l30PmiBigrams _),
    "l29_unigram_lm" -> (l29UnigramLm _),
    "l25_semdedup" -> (l25SemDedup _),
    "l26_kmeans" -> (l26Kmeans _),
    "l27_norm_dedup" -> (l27NormDedup _),
    "l28_token_entropy" -> (l28TokenEntropy _),
    "l24_winnowing" -> (l24Winnowing _),
    "l22_dim_stats" -> (l22DimStats _),
    "l23_bigram_novelty" -> (l23BigramNovelty _),
    "l16_countmin" -> (l16Countmin _),
    "l17_oov_rate" -> (l17OovRate _),
    "l18_html_strip" -> (l18HtmlStrip _),
    "l42_line_curation" -> (l42LineCuration _),
    "l43_url_canon_dedup" -> (l43UrlCanonDedup _),
    "l44_hash_split" -> (l44HashSplit _),
    "l47_token_budget_mix" -> (l47TokenBudgetMix _),
    "l51_mix_statement" -> (l51MixStatement _),
    "l52_split_statement" -> (l52SplitStatement _),
    "l45_surprisal" -> (l45Surprisal _),
    "l19_sparse_cosine" -> (l19SparseCosine _),
    "l20_mixture" -> (l20Mixture _),
    "l21_retention_delete" -> (l21RetentionDelete _),
    "l15_random_projection" -> (l15RandomProjection _),
    "l4_heavy_hitters" -> (l4HeavyHitters _),
    "l4_word_freq"  -> (l4WordFreq _),
    "l4_tfidf_top"  -> (l4TfidfTop _),
    "l4_repetition" -> (l4Repetition _),
    "l31_gopher_repetition" -> (l31GopherRepetition _),
    "l32_bm25_topk" -> (l32Bm25TopK _),
    "l40_hybrid_search" -> (l40HybridSearch _),
    "l53_search_bm25" -> (l53SearchBm25 _),
    "l53b_search_phrase" -> (l53bSearchPhrase _),
    "l53c_search_ann" -> (l53cSearchAnn _),
    "l53d_search_hybrid" -> (l53dSearchHybrid _),
    "l53e_search_indexed" -> (l53eSearchIndexed _),
    "l33_bigram_logprob" -> (l33BigramLogprob _),
    "l34_bm25_multi" -> (l34Bm25Multi _),
    "l35_phrase_search" -> (l35PhraseSearch _),
    "l36_indexed_bm25" -> (l36IndexedBm25 _),
    "l36b_indexed_phrase" -> (l36bIndexedPhrase _),
    "l36c_incremental_index" -> (l36cIncrementalIndex _),
    "l37_txn_index" -> (l37TxnIndex _),
    "l37b_txn_phrase" -> (l37bTxnPhrase _),
    "l37c_lazy_index" -> (l37cLazyIndex _),
    "l37d_txn_batch" -> (l37dTxnBatch _),
    "l4_scrub_pii"  -> (l4ScrubPii _),
    "l3_centroids"  -> (l3Centroids _),
    "l4m_domain_quota" -> (l4mDomainQuota _),
    "l2e_chunk_dedup"  -> (l2eChunkDedup _),
    "l41_span_stats"   -> (l41SpanStats _),
    "l41b_span_removal" -> (l41bSpanRemoval _),
    "l7_contamination" -> (l7Contamination _),
    "l8_weighted_sample"  -> (l8WeightedSample _),
    "l9_length_histogram" -> (l9LengthHistogram _),
    "l10_inverted_index"  -> (l10InvertedIndex _),
    "l11_hash_split"      -> (l11HashSplit _),
    "l12_quantize"        -> (l12Quantize _),
    "l13_packing"         -> (l13Packing _))

  /** Batch BM25 oracle (3 queries × top-5), shared by l34 (rescan
    * batch path) and l37d (txn-index batch path) — same literal
    * arithmetic as l32; per-query rank via row_number mirrors the
    * heap's (score desc, doc_id) order. */
  private[queries] val bm25MultiSql =
    """WITH q(query_id, term) AS (VALUES (0, 'dup'), (0, 'join'),
      |    (1, 'vector'), (2, 'window'), (2, 'join'), (2, 'batch')),
      |d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |        string_split(text, ' ') AS t FROM documents),
      |s AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM d),
      |terms AS (SELECT DISTINCT term FROM q),
      |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
      |  JOIN terms USING (term) GROUP BY 1, 2, 3),
      |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |w AS (SELECT tf.doc_id, tf.term,
      |    round(ln((CAST(s.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
      |      * tf.tf * (1.2 + 1.0)
      |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl)), 6) AS w
      |  FROM tf JOIN dfq USING (term) CROSS JOIN s),
      |sc AS (SELECT q.query_id, w.doc_id,
      |    CAST(sum(CAST(w.w AS DECIMAL(18,6))) AS DOUBLE) AS score
      |  FROM w JOIN q USING (term) GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, round(score, 6) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY score DESC, doc_id) AS rnk
      |  FROM sc)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** The BM25 top-25 CTE chain over any (doc_id, text) source CTE —
    * exposed so composed pipelines (st16) can score a derived corpus
    * with the exact same literal arithmetic. */
  private[queries] def bm25TopkCtes(src: String): String =
    s"""d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |             string_split(text, ' ') AS t FROM $src),
      |s AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM d),
      |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
      |  WHERE term IN ('dup', 'join', 'vector', 'window')
      |  GROUP BY 1, 2, 3),
      |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |c AS (SELECT tf.doc_id,
      |    round(ln((CAST(s.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
      |      * tf.tf * (1.2 + 1.0)
      |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl)), 6)
      |      AS contrib
      |  FROM tf JOIN dfq USING (term) CROSS JOIN s)
      |SELECT doc_id, CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE)
      |  AS score
      |FROM c GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 25""".stripMargin

  /** Shared by l32 (rescan) and l36 (persisted index): the two engine
    * paths must agree with the SAME oracle bit-for-bit. */
  private[queries] val bm25TopkSql: String =
    "WITH " + bm25TopkCtes("documents")

  /** Phrase search oracle, shared by l35 (rescan) and l36b (persisted
    * index): substring containment on space-padded text — a DIFFERENT
    * algorithm from the engine's postings intersection, equivalent
    * under single-space tokenization. */
  private val phraseSearchSql =
    """WITH m AS (SELECT doc_id, ' ' || text || ' ' AS padded
      |  FROM documents),
      |p(ph) AS (VALUES ('merge part'), ('scan join order'),
      |  ('window window'))
      |SELECT p.ph,
      |  CAST(count(CASE WHEN contains(m.padded, ' ' || p.ph || ' ')
      |    THEN 1 END) AS BIGINT) AS matches,
      |  coalesce(CAST(sum(CASE WHEN contains(m.padded, ' ' || p.ph || ' ')
      |    THEN doc_id END) AS BIGINT), 0) AS id_checksum
      |FROM m CROSS JOIN p
      |GROUP BY p.ph ORDER BY p.ph""".stripMargin

  /** Hybrid-retrieval oracle, shared by l40 (API) and l53d (statement):
    * both rankings replayed (BM25 arithmetic = l32's, cosine = q14's),
    * ranks over (score DESC, id), per-list RRF terms 6dp-rounded and
    * DECIMAL-summed — the engine fuses the same way bit-exactly. */
  private val hybridSql: String =
    ("""WITH """ + bm25TopkCtes("documents").replace("LIMIT 25", "LIMIT 50")
      .replace("FROM tf JOIN dfq USING (term) CROSS JOIN s)",
        "FROM tf JOIN dfq USING (term) CROSS JOIN s),")
      .replace("SELECT doc_id, CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE)",
        "bm AS (SELECT doc_id, CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE)") +
    """),
      |bmr AS (SELECT doc_id AS id,
      |  row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM bm),
      |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |cs AS (SELECT e.vec_id, round(
      |    list_sum(list_transform(range(1,65),
      |      i -> CAST(e.embedding[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1,65),
      |        i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(range(1,65),
      |        i -> CAST(q.qv[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE))))), 6) AS sim
      |  FROM embeddings e, qv q WHERE e.vec_id <> 0
      |  ORDER BY sim DESC, vec_id LIMIT 50),
      |csr AS (SELECT vec_id AS id,
      |  row_number() OVER (ORDER BY sim DESC, vec_id) AS r FROM cs),
      |f AS (SELECT coalesce(bmr.id, csr.id) AS id,
      |    CAST(coalesce(round(1.0/(60+bmr.r), 6), 0) AS DECIMAL(18,6))
      |  + CAST(coalesce(round(1.0/(60+csr.r), 6), 0) AS DECIMAL(18,6))
      |    AS rrf
      |  FROM bmr FULL OUTER JOIN csr ON bmr.id = csr.id)
      |SELECT CAST(id AS BIGINT) AS id, CAST(rrf AS DOUBLE) AS rrf
      |FROM f ORDER BY rrf DESC, id LIMIT 20""".stripMargin)

  val oracle: Map[String, String] = Map(
    // Identical PMI arithmetic over the same integer counts; the only
    // floats are the final lns, pinned by the shared 6dp rounding, and
    // the ordering ties break on the bigram text.
    "l30_pmi_bigrams" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS t FROM w),
        |u AS (SELECT t, count(*) AS c FROM uni GROUP BY 1),
        |tt AS (SELECT CAST(sum(c) AS BIGINT) AS tv FROM u),
        |bgs AS (SELECT unnest(list_transform(range(1, len(w)),
        |    i -> w[i]||' '||w[i+1])) AS bg FROM w WHERE len(w) >= 2),
        |b AS (SELECT bg, count(*) AS cab FROM bgs GROUP BY 1),
        |bt AS (SELECT CAST(sum(cab) AS BIGINT) AS bv FROM b),
        |j AS (SELECT b.bg, b.cab, ua.c AS ca, ub.c AS cb
        |  FROM b
        |  JOIN u ua ON ua.t = string_split(b.bg, ' ')[1]
        |  JOIN u ub ON ub.t = string_split(b.bg, ' ')[2]
        |  WHERE b.cab >= 5)
        |SELECT bg, cab,
        |  round(ln(CAST(cab AS DOUBLE)) - ln(CAST((SELECT bv FROM bt) AS DOUBLE))
        |    - ln(CAST(ca AS DOUBLE)) - ln(CAST(cb AS DOUBLE))
        |    + 2*ln(CAST((SELECT tv FROM tt) AS DOUBLE)), 6) AS pmi
        |FROM j ORDER BY pmi DESC, bg LIMIT 20""".stripMargin,
    // Same add-one unigram model trained in SQL; every float leaves the
    // exact-integer domain only through the shared round-6dp+DECIMAL gate.
    "l29_unigram_lm" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT doc_id, lang, term, count(*) AS c FROM tok
        |  WHERE length(term) > 0 GROUP BY 1, 2, 3),
        |tf AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM c GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS bigt, count(*) AS v FROM tf),
        |sc AS (SELECT c.doc_id, c.lang, c.c,
        |    CAST(round(CAST(c.c AS DOUBLE) *
        |      (ln(CAST(tf.ct AS DOUBLE) + 1.0)
        |       - ln(CAST(tot.bigt AS DOUBLE) + CAST(tot.v AS DOUBLE))), 6)
        |      AS DECIMAL(18,6)) AS contrib
        |  FROM c JOIN tf USING (term), tot),
        |d AS (SELECT doc_id, lang, sum(c) AS t, sum(contrib) AS clp
        |  FROM sc GROUP BY 1, 2),
        |h AS (SELECT lang, round(CAST(clp AS DOUBLE)/CAST(t AS DOUBLE), 6) AS lp
        |  FROM d)
        |SELECT lang, count(*) AS docs,
        |  CAST(sum(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) AS lp_sum,
        |  max(lp) AS lp_max, min(lp) AS lp_min
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    // Replays the full SemDeDup pipeline: scaled-int embeddings, exact
    // integer distances to the 8 lowest-id seeds (ties -> lowest seed),
    // then the within-cluster rounded-cosine >= tau keep-lowest-id rule.
    "l25_semdedup" ->
      """WITH s AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS e
        |  FROM embeddings),
        |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid,
        |    e AS se FROM s ORDER BY vec_id LIMIT 8),
        |d AS (SELECT s.vec_id, seeds.sid, list_sum(list_transform(range(1,65),
        |    i -> (s.e[i]-seeds.se[i])*(s.e[i]-seeds.se[i]))) AS d2
        |  FROM s, seeds),
        |a AS (SELECT vec_id, sid AS cluster FROM (
        |    SELECT vec_id, sid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, sid) rn
        |    FROM d) WHERE rn = 1),
        |n AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)) e,
        |  sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) nrm FROM embeddings),
        |dup AS (SELECT DISTINCT ab.vec_id AS id
        |  FROM a aa JOIN a ab
        |    ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
        |  JOIN n x ON x.vec_id = aa.vec_id JOIN n y ON y.vec_id = ab.vec_id
        |  WHERE round(list_sum(list_transform(range(1,65),
        |    i -> x.e[i]*y.e[i]))/(x.nrm*y.nrm), 6) >= 0.3)
        |SELECT a.cluster, count(*) AS n,
        |  CAST(sum(CASE WHEN dup.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dups,
        |  CAST(sum(CASE WHEN dup.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(sum(CASE WHEN dup.id IS NOT NULL THEN a.vec_id ELSE 0 END) AS BIGINT) AS dup_id_sum
        |FROM a LEFT JOIN dup ON a.vec_id = dup.id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Identical normalize -> md5 -> per-source distinct accounting
    // (DuckDB regexp_replace needs the explicit 'g' flag Spark implies).
    "l27_norm_dedup" ->
      """WITH n AS (SELECT doc_id, source,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]+', '', 'g'), ' +', ' ', 'g'))) AS k
        |FROM documents)
        |SELECT source, count(*) AS docs, count(DISTINCT k) AS groups,
        |  count(*) - count(DISTINCT k) AS dups
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    // Entropy from integer term counts; every float leaves the exact
    // domain only through the shared round-to-6dp + DECIMAL-sum gate
    // (the l4_quality discipline), so summation order cannot drift.
    "l28_token_entropy" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT doc_id, lang, term, count(*) AS c FROM tok
        |  WHERE length(term) > 0 GROUP BY 1, 2, 3),
        |d AS (SELECT doc_id, lang, sum(c) AS t,
        |    sum(CAST(round(CAST(c AS DOUBLE)*ln(CAST(c AS DOUBLE)), 6)
        |      AS DECIMAL(18,6))) AS clc
        |  FROM c GROUP BY 1, 2),
        |h AS (SELECT lang, round(ln(CAST(t AS DOUBLE))
        |    - CAST(clc AS DOUBLE)/CAST(t AS DOUBLE), 6) AS h FROM d)
        |SELECT lang, count(*) AS docs,
        |  CAST(sum(CAST(h AS DECIMAL(18,6))) AS DOUBLE) AS h_sum,
        |  max(h) AS h_max, min(h) AS h_min
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    // One Lloyd step: the same exact-int assignment, then per
    // (cluster, dim<8) exact scaled-int sums and the single final
    // double division (div, div — identical op order both engines).
    "l26_kmeans" ->
      """WITH s AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS e
        |  FROM embeddings),
        |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid,
        |    e AS se FROM s ORDER BY vec_id LIMIT 8),
        |d AS (SELECT s.vec_id, seeds.sid, list_sum(list_transform(range(1,65),
        |    i -> (s.e[i]-seeds.se[i])*(s.e[i]-seeds.se[i]))) AS d2
        |  FROM s, seeds),
        |a AS (SELECT vec_id, sid AS cluster FROM (
        |    SELECT vec_id, sid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, sid) rn
        |    FROM d) WHERE rn = 1),
        |u AS (SELECT a.cluster, CAST(i AS BIGINT) AS pos, s.e[i+1] AS q
        |  FROM a JOIN s USING (vec_id), range(8) t(i))
        |SELECT cluster, pos, count(*) AS n, CAST(sum(q) AS BIGINT) AS sv,
        |  CAST(sum(q) AS DOUBLE)/1000000.0/count(*) AS centroid
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Replays the winnowing pipeline: md5-derived gram hashes (the l2
    // list_reduce hex trick), per-position window minima, distinct, then
    // the same >= 10 shared-fingerprint pair cut.
    "l24_winnowing" ->
      """WITH g AS (SELECT doc_id, list_transform(range(1, length(text)-8+2),
        |      i -> substring(text, CAST(i AS INT), 8)) AS gr
        |  FROM documents WHERE length(text) >= 8),
        |h AS (SELECT doc_id, list_transform(gr, s ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(substr(md5(s),1,15), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |      (a, b) -> a*16 + b)) AS hs
        |  FROM g),
        |f AS (SELECT DISTINCT doc_id, unnest(list_distinct(
        |    CASE WHEN len(hs) >= 16
        |      THEN list_transform(range(1, len(hs)-16+2),
        |        i -> list_min(hs[i:i+15]))
        |      ELSE [list_min(hs)] END)) AS fp
        |  FROM h)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 10 ORDER BY 1, 2""".stripMargin,
    // Micro-unit quantization makes every aggregate an exact integer;
    // mean/std are the only doubles and both engines derive them from
    // those integers with the identical IEEE op sequence
    // (div, div, mul, sub, sqrt, round).
    "l22_dim_stats" ->
      """WITH u AS (SELECT CAST(j AS BIGINT) AS j,
        |    CAST(round(CAST(embedding[j+1] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings, range(64) t(j)),
        |a AS (SELECT j, count(*) AS n, CAST(sum(q) AS BIGINT) AS s,
        |    CAST(sum(q*q) AS BIGINT) AS ss FROM u GROUP BY j)
        |SELECT j, n, s, ss,
        |  round(CAST(s AS DOUBLE)/n, 6) AS mean_micro,
        |  round(sqrt(CAST(ss AS DOUBLE)/n -
        |    (CAST(s AS DOUBLE)/n)*(CAST(s AS DOUBLE)/n)), 6) AS std_micro
        |FROM a ORDER BY j""".stripMargin,
    "l23_bigram_novelty" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |    FROM documents),
        |b AS (SELECT DISTINCT doc_id, source, bg FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1])) AS bg
        |    FROM w WHERE len(w) >= 2)),
        |d AS (SELECT bg, count(DISTINCT doc_id) AS df FROM b GROUP BY bg)
        |SELECT source, count(*) AS bigrams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS unique_bigrams,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS novelty
        |FROM b JOIN d USING (bg)
        |GROUP BY source ORDER BY source""".stripMargin,
    "l21_retention_delete" ->
      """SELECT event_type, count(*) AS c,
        |  count(DISTINCT user_id) AS users,
        |  CAST(sum(event_id) AS BIGINT) AS cks
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND user_id NOT IN (1, 3, 5)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "l20_mixture" ->
      """WITH w(g, w) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
        |c AS (SELECT source AS g, count(*) AS n FROM documents GROUP BY 1),
        |j AS (SELECT c.g, w.w, CAST(n AS DOUBLE) / w.w AS cap
        |  FROM c JOIN w ON c.g = w.g),
        |t AS (SELECT min(cap) AS tt FROM j),
        |tgt AS (SELECT g, CAST(floor(w * tt) AS BIGINT) AS target FROM j, t),
        |r AS (SELECT source AS g, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT g AS source, count(*) AS kept,
        |  CAST(sum(doc_id) AS BIGINT) AS cks
        |FROM r JOIN tgt USING (g) WHERE rn <= target
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "l19_sparse_cosine" ->
      """WITH tf AS (SELECT doc_id, t, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |  WHERE length(t) > 0 GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(tf*tf) AS BIGINT) AS n2
        |  FROM tf GROUP BY 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM tf a JOIN tf b ON a.t = b.t AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, dot, na.n2 AS na2, nb.n2 AS nb2,
        |  round(dot / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)), 6) AS cos
        |FROM p JOIN n na ON p.da = na.doc_id JOIN n nb ON p.db = nb.doc_id
        |ORDER BY dot DESC, da, db LIMIT 15""".stripMargin,
    "l18_html_strip" ->
      """SELECT doc_id, md5(text || ' & <end>') AS h,
        |  CAST(length(text || ' & <end>') AS BIGINT) AS n
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,
    // the full canonicalization algorithm replayed step-for-step:
    // split_part / list_sort / list_filter are the DuckDB twins of the
    // Spark substring_index / array_sort / filter expressions
    // per-token micro-nat weights quantized BEFORE the per-doc sum,
    // so both engines sum exact integers; rounded-mean rank with
    // doc_id tie-break; token conservation asserted in-run
    "l45_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, t.term FROM documents,
        |    LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t
        |  WHERE len(t.term) > 0),
        |v AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |      FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
        |w AS (SELECT tok.doc_id,
        |    CAST(round(ln(CAST(tot.total AS DOUBLE) / v.cnt) * 1000000)
        |      AS BIGINT) AS mn
        |  FROM tok JOIN v USING (term) CROSS JOIN tot),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tokens,
        |    CAST(sum(mn) AS BIGINT) AS sm
        |  FROM w GROUP BY 1)
        |SELECT doc_id, tokens, sm,
        |  round(CAST(sm AS DOUBLE) / tokens / 1000000, 6) AS avg_nats
        |FROM d ORDER BY avg_nats DESC, doc_id LIMIT 20""".stripMargin,
    // the md5 bucket replayed digit-for-digit; integer thresholds
    // 52429/58982 = round(0.8*65536)/round(0.9*65536), same constants
    // the Spark side derives
    // the greedy (md5, id)-ordered token-budget prefix per source,
    // replayed as a straightforward ordered cumsum (the engine-side
    // two-pass bucket thresholds are an execution strategy, not a
    // semantic — kept sets must match doc-for-doc via id_sum)
    // the statement twin keeps the SAME prefix as l47 — its oracle
    // replayed verbatim
    "l51_mix_statement" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |bud AS (SELECT source, CAST(sum(tok) AS BIGINT)//3 AS budget
        |        FROM d GROUP BY source),
        |c AS (SELECT d.source, d.doc_id, d.tok, bud.budget,
        |    sum(tok) OVER (PARTITION BY d.source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d JOIN bud USING (source))
        |SELECT source, CAST(count(*) AS BIGINT) AS kept,
        |  CAST(sum(tok) AS BIGINT) AS kept_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM c WHERE cum <= budget
        |GROUP BY source ORDER BY source""".stripMargin,
    "l47_token_budget_mix" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |bud AS (SELECT source, CAST(sum(tok) AS BIGINT)//3 AS budget
        |        FROM d GROUP BY source),
        |c AS (SELECT d.source, d.doc_id, d.tok, bud.budget,
        |    sum(tok) OVER (PARTITION BY d.source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d JOIN bud USING (source))
        |SELECT source, CAST(count(*) AS BIGINT) AS kept,
        |  CAST(sum(tok) AS BIGINT) AS kept_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM c WHERE cum <= budget
        |GROUP BY source ORDER BY source""".stripMargin,
    "l52_split_statement" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)),1,4), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |      (a, x) -> a*16 + x) AS bucket
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |    CASE WHEN bucket < 52429 THEN 'train'
        |         WHEN bucket < 58982 THEN 'val'
        |         ELSE 'test' END AS split,
        |    doc_id
        |  FROM b)
        |SELECT source, split, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM f GROUP BY source, split ORDER BY source, split""".stripMargin,
    "l44_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)),1,4), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |      (a, x) -> a*16 + x) AS bucket
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |    CASE WHEN bucket < 52429 THEN 'train'
        |         WHEN bucket < 58982 THEN 'val'
        |         ELSE 'test' END AS split,
        |    doc_id
        |  FROM b)
        |SELECT source, split, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM f GROUP BY source, split ORDER BY source, split""".stripMargin,
    "l43_url_canon_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'HTTPS://WWW.' || source ||
        |      '.COM:443/A/B/?b=2&a=1&utm_source=x'
        |    WHEN 1 THEN 'https://' || source || '.com/A/B?a=1&b=2#f'
        |    WHEN 2 THEN 'https://' || source || '.com/A/B'
        |    ELSE 'https://' || source || '.com/other?gclid=1&page=' ||
        |      CAST(doc_id % 5 AS VARCHAR) END AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, split_part(url, '#', 1) AS nofrag FROM u),
        |s2 AS (SELECT doc_id, nofrag,
        |    split_part(nofrag, '://', 1) AS schemeraw FROM s1),
        |s3 AS (SELECT doc_id, lower(schemeraw) AS scheme,
        |    substring(nofrag, length(schemeraw) + 4) AS rest0 FROM s2),
        |-- split at the FIRST '?': '/' or further '?' inside the query
        |-- must never re-anchor the host/path split
        |s4 AS (SELECT doc_id, scheme, rest0,
        |    split_part(rest0, '?', 1) AS hostpath,
        |    CASE WHEN contains(rest0, '?')
        |      THEN substring(rest0, length(split_part(rest0, '?', 1)) + 2)
        |      ELSE '' END AS q FROM s3),
        |s5 AS (SELECT doc_id, scheme, hostpath, q,
        |    lower(split_part(hostpath, '/', 1)) AS hostport FROM s4),
        |s6 AS (SELECT doc_id, scheme, hostpath, q, hostport,
        |    split_part(hostport, ':', 1) AS host0,
        |    CASE WHEN contains(hostport, ':')
        |      THEN split_part(hostport, ':', -1) ELSE '' END AS port
        |  FROM s5),
        |s8 AS (SELECT doc_id, scheme,
        |    regexp_replace(CASE WHEN port = ''
        |        OR (scheme = 'http' AND port = '80')
        |        OR (scheme = 'https' AND port = '443') THEN host0
        |      ELSE host0 || ':' || port END, '^www\.', '') AS host,
        |    regexp_replace(substring(hostpath, length(hostport) + 1),
        |      '/+$', '') AS path, q
        |  FROM s6),
        |s9 AS (SELECT doc_id, scheme, host, path,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(q, '&'), p -> len(p) > 0
        |        AND NOT starts_with(p, 'utm_')
        |        AND NOT starts_with(p, 'fbclid')
        |        AND NOT starts_with(p, 'gclid')
        |        AND NOT starts_with(p, 'ref='))), '&'), '') AS q2
        |  FROM s8),
        |c AS (SELECT doc_id, scheme || '://' || host || path ||
        |    CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS canon
        |  FROM s9)
        |SELECT canon, CAST(count(*) AS BIGINT) AS dups,
        |  CAST(min(doc_id) AS BIGINT) AS keeper
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // line filter + keep-first dedup replayed with DuckDB list lambdas
    // (index-aware keep-first: a line survives iff it sits at its own
    // first position)
    "l42_line_curation" ->
      """WITH lined AS (SELECT doc_id,
        |    replace(text, ' table ', chr(10)) AS t2
        |  FROM documents WHERE doc_id < 20),
        |f AS (SELECT doc_id,
        |    list_filter(string_split(t2, chr(10)), x ->
        |      len(string_split_regex(trim(x), ' +')) >= 5
        |      AND trim(x) <> ''
        |      AND NOT contains(lower(x), 'slow')) AS ls
        |  FROM lined),
        |d AS (SELECT doc_id,
        |    -- array_to_string of an EMPTY list is NULL in DuckDB
        |    -- (Spark's array_join gives ''): coalesce to match
        |    coalesce(array_to_string(
        |      list_filter(ls, (x, i) -> list_position(ls, x) = i),
        |      chr(10)), '') AS ded
        |  FROM f)
        |SELECT doc_id,
        |  CAST(CASE WHEN ded = '' THEN 0
        |    ELSE len(string_split(ded, chr(10))) END AS BIGINT)
        |    AS lines_kept,
        |  CAST(length(ded) AS BIGINT) AS chars_kept, md5(ded) AS h
        |FROM d ORDER BY doc_id""".stripMargin,
    "l17_oov_rate" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |    FROM documents),
        |tk AS (SELECT * FROM toks WHERE length(t) > 0),
        |vocab AS (SELECT t FROM tk GROUP BY t
        |  ORDER BY count(*) DESC, t LIMIT 50)
        |SELECT source, count(*) AS n,
        |  CAST(sum(CASE WHEN t NOT IN (SELECT t FROM vocab)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS oov,
        |  round(CAST(sum(CASE WHEN t NOT IN (SELECT t FROM vocab)
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM tk GROUP BY 1 ORDER BY 1""".stripMargin,
    "l16_countmin" ->
      """SELECT t, count(*) AS c, true AS lower_ok, true AS upper_ok
        |FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |WHERE length(t) > 0
        |GROUP BY 1 ORDER BY c DESC, t LIMIT 20""".stripMargin,
    "l15_random_projection" ->
      """WITH m AS (SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |q AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CASE WHEN mx > 0
        |      THEN CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT)
        |      ELSE 0 END) AS qv
        |  FROM m),
        |s AS (SELECT k, j,
        |    CASE WHEN strpos('02468ace', substr(md5(k || ':' || j), 32, 1)) > 0
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM range(8) t(k), range(64) u(j))
        |SELECT label, k, count(DISTINCT vec_id) AS n,
        |  CAST(sum(sgn * qv[j + 1]) AS BIGINT) AS sp
        |FROM q, s
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "l4_word_freq" ->
      """SELECT term, count(*) AS c
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE length(term) > 0
        |GROUP BY term ORDER BY c DESC, term LIMIT 20""".stripMargin,
    // capacity >= vocabulary -> the sketch is exact with zero error, so
    // the oracle is the plain exact top-10.
    "l4_heavy_hitters" ->
      """SELECT term, count(*) AS c, 0 AS err
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE length(term) > 0
        |GROUP BY term ORDER BY c DESC, term LIMIT 10""".stripMargin,
    "l4_tfidf_top" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |        round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 6) AS tfidf
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, term) AS rnk FROM s)
        |SELECT doc_id, term, tfidf, rnk FROM r
        |WHERE doc_id < 5 AND rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,
    "l4_repetition" ->
      """WITH t AS (SELECT doc_id, lang,
        |             unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT doc_id, lang, term, count(*) AS cnt FROM t GROUP BY 1,2,3),
        |d AS (SELECT doc_id, lang, sum(cnt) AS tot, count(*) AS dist,
        |        max(cnt) AS mx FROM c GROUP BY 1, 2)
        |SELECT lang, CAST(sum(tot) AS BIGINT) AS st,
        |  CAST(sum(dist) AS BIGINT) AS sd,
        |  round(1 - CAST(sum(dist) AS DOUBLE) / sum(tot), 6) AS rep,
        |  max(round(CAST(mx AS DOUBLE) / tot, 6)) AS mts_max
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "l31_gopher_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, length(text) AS tl, string_split(text, ' ') AS t
        |  FROM documents),
        |g2 AS (SELECT doc_id, tl,
        |         unnest(list_transform(generate_series(1, len(t) - 1),
        |           i -> list_extract(t, i) || ' ' || list_extract(t, i + 1))) AS ng
        |       FROM toks),
        |c2 AS (SELECT doc_id, tl, ng, count(*) AS c FROM g2 GROUP BY 1, 2, 3),
        |b2 AS (SELECT doc_id,
        |         round(CAST(c * length(ng) AS DOUBLE) / tl, 6) AS f,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, ng) AS rn
        |       FROM c2),
        |g3 AS (SELECT doc_id, tl,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> list_extract(t, i) || ' ' || list_extract(t, i + 1) || ' ' ||
        |                list_extract(t, i + 2))) AS ng
        |       FROM toks),
        |c3 AS (SELECT doc_id, tl, ng, count(*) AS c FROM g3 GROUP BY 1, 2, 3),
        |b3 AS (SELECT doc_id,
        |         round(CAST(c * length(ng) AS DOUBLE) / tl, 6) AS f,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, ng) AS rn
        |       FROM c3),
        |d5 AS (SELECT doc_id,
        |         CASE WHEN len(t) >= 5 THEN round(
        |           1 - CAST(len(list_distinct(list_transform(
        |                 generate_series(1, len(t) - 4),
        |                 i -> list_extract(t, i) || ' ' || list_extract(t, i + 1) || ' ' ||
        |                      list_extract(t, i + 2) || ' ' || list_extract(t, i + 3) || ' ' ||
        |                      list_extract(t, i + 4)))) AS DOUBLE) / (len(t) - 4), 6)
        |         ELSE 0.0 END AS dup5_frac
        |       FROM toks)
        |SELECT toks.doc_id,
        |  coalesce(b2f.f, 0.0) AS top2_frac,
        |  coalesce(b3f.f, 0.0) AS top3_frac,
        |  d5.dup5_frac
        |FROM toks
        |LEFT JOIN (SELECT doc_id, f FROM b2 WHERE rn = 1) b2f USING (doc_id)
        |LEFT JOIN (SELECT doc_id, f FROM b3 WHERE rn = 1) b3f USING (doc_id)
        |JOIN d5 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // BM25: identical literal arithmetic to Keywords.bm25TopK (same
    // expression shapes, same 1.2/0.75/(1.2 + 1.0) literals) so the
    // doubles match bit-for-bit before the shared 6dp+DECIMAL gate.
    "l32_bm25_topk" -> bm25TopkSql,
    // Both rankings replayed (BM25 arithmetic = l32's, cosine = q14's),
    // ranks over (score DESC, id), per-list RRF terms 6dp-rounded and
    // DECIMAL-summed -- the engine fuses the same way bit-exactly.
    "l40_hybrid_search" -> hybridSql,
    // The statement twins replay the SAME oracles as their API gates —
    // same arithmetic, different entry point (TVF through query()).
    "l53_search_bm25" -> bm25TopkSql,
    "l53b_search_phrase" -> phraseSearchSql,
    "l53c_search_ann" -> PipelineQueries.ivfDiskTopkSql,
    "l53d_search_hybrid" -> hybridSql,
    "l53e_search_indexed" -> bm25TopkSql,
    // The indexed path must agree with the rescan path EXACTLY — same
    // oracle, different engine plan (pruned index read vs corpus scan).
    "l36_indexed_bm25" -> bm25TopkSql,
    "l36b_indexed_phrase" -> phraseSearchSql,
    "l36c_incremental_index" -> bm25TopkSql,
    // The transactional index after the doubled-text upsert must match
    // the SAME BM25 arithmetic over the corpus's NEW logical state —
    // the oracle rewrites the corpus the way the upsert did.
    "l37_txn_index" ->
      ("""WITH upserted AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |""".stripMargin +
        bm25TopkSql.stripPrefix("WITH ").replace("FROM documents", "FROM upserted")),
    // Merge-on-read commits, same logical corpus — same oracle as l37.
    "l37c_lazy_index" ->
      ("""WITH upserted AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |""".stripMargin +
        bm25TopkSql.stripPrefix("WITH ").replace("FROM documents", "FROM upserted")),
    "l37b_txn_phrase" ->
      ("""WITH upserted AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |""".stripMargin +
        phraseSearchSql.stripPrefix("WITH ").replace("FROM documents", "FROM upserted")),
    "l33_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |dbg AS (SELECT doc_id, bg, CAST(count(*) AS DOUBLE) AS cd FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
        |      i -> list_extract(tk, i) || ' ' || list_extract(tk, i + 1))) AS bg
        |    FROM t) GROUP BY 1, 2),
        |bi AS (SELECT bg, sum(cd) AS cb FROM dbg GROUP BY 1),
        |uni AS (SELECT term, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE length(term) > 0 GROUP BY 1),
        |vv AS (SELECT count(*) AS v FROM uni),
        |sc AS (SELECT dbg.doc_id, dbg.cd,
        |    round(dbg.cd * (ln(CAST(bi.cb AS DOUBLE) + 1.0)
        |      - ln(CAST(uni.c AS DOUBLE) + CAST(vv.v AS DOUBLE))), 6) AS contrib
        |  FROM dbg JOIN bi USING (bg)
        |  JOIN uni ON uni.term = split_part(dbg.bg, ' ', 1)
        |  CROSS JOIN vv)
        |SELECT doc_id,
        |  round(CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE)
        |    / sum(cd), 6) AS bilp
        |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // Batch BM25: same literal arithmetic as l32; per-query rank via
    // row_number mirrors the heap's (score desc, doc_id) order.
    "l34_bm25_multi" -> bm25MultiSql,
    // The txn-index batch path must serve the SAME answers.
    "l37d_txn_batch" -> bm25MultiSql,
    // Phrase search oracle: substring containment on space-padded text —
    // a DIFFERENT algorithm from the engine's postings intersection,
    // equivalent under single-space tokenization.
    "l35_phrase_search" -> phraseSearchSql,
    "l4_scrub_pii" ->
      """WITH a AS (SELECT source,
        |    text || ' contact user' || (doc_id % 7) || '@mail' ||
        |    (doc_id % 3) || '.com via https://site' || (doc_id % 5) ||
        |    '.org/p' AS aug
        |  FROM documents),
        |s AS (SELECT source, aug,
        |    regexp_replace(
        |      regexp_replace(aug, 'https?://[^ ]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
        |      AS clean
        |  FROM a)
        |SELECT source, count(*) AS c,
        |  CAST(sum(length(aug)) AS BIGINT) AS before_chars,
        |  CAST(sum(length(clean)) AS BIGINT) AS after_chars,
        |  CAST(sum(CASE WHEN clean <> aug THEN 1 ELSE 0 END) AS BIGINT) AS changed
        |FROM s GROUP BY source ORDER BY source""".stripMargin,
    "l4m_domain_quota" ->
      """WITH r AS (SELECT source, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS c,
        |  CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_kept
        |FROM r WHERE rn <= 10 GROUP BY source ORDER BY source""".stripMargin,
    "l2e_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |c AS (SELECT doc_id, source, i AS idx,
        |    array_to_string(list_slice(w, CAST(i*10+1 AS INT),
        |                                  CAST(i*10+10 AS INT)), ' ') AS chunk
        |  FROM t CROSS JOIN range(1000) r(i) WHERE i < (len(w)+9)//10),
        |k AS (SELECT doc_id, source, idx, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1
        |      AS keep FROM c),
        |d AS (SELECT doc_id, source,
        |    coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (keep), '')
        |      AS kept_text,
        |    count(*) AS chunks_total,
        |    sum(CASE WHEN keep THEN 1 ELSE 0 END) AS chunks_kept
        |  FROM k GROUP BY 1, 2)
        |SELECT source, count(*) AS docs,
        |  CAST(sum(chunks_total) AS BIGINT) AS ct,
        |  CAST(sum(chunks_kept) AS BIGINT) AS ck,
        |  count(DISTINCT md5(kept_text)) AS distinct_kept
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // Sliding 8-token spans replayed over the raw text: a span position
    // is duplicated when its exact token sequence occurs > 1 time
    // corpus-wide (the engine groups 64-bit span hashes; the oracle
    // groups the span text itself — identical classes).
    "l41_span_stats" ->
      """WITH toks AS (SELECT doc_id, source,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')
        |      AS tk FROM documents),
        |pos AS (SELECT doc_id, source, tk,
        |    unnest(generate_series(1, len(tk) - 7)) AS i FROM toks),
        |sp AS (SELECT doc_id, source,
        |    array_to_string(tk[i : i + 7], ' ') AS sp FROM pos),
        |cl AS (SELECT doc_id, source,
        |    count(*) OVER (PARTITION BY sp) AS c FROM sp),
        |d AS (SELECT doc_id, source, count(*) AS n_spans,
        |    sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS dup_spans
        |  FROM cl GROUP BY 1, 2)
        |SELECT source, count(*) AS docs,
        |  CAST(sum(n_spans) AS BIGINT) AS spans,
        |  CAST(sum(dup_spans) AS BIGINT) AS dup_spans,
        |  CAST(sum(CASE WHEN dup_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_docs
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // Keep-first removal replay: rank occurrences per span class by
    // (doc_id, position), expand non-keeper duplicated occurrences to
    // covered positions, rebuild every doc from surviving tokens, and
    // compare md5(kept_text) — content-exact.
    "l41b_span_removal" ->
      """WITH toks AS (SELECT doc_id, source,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')
        |      AS tk FROM documents),
        |pos AS (SELECT doc_id, tk,
        |    unnest(generate_series(1, len(tk) - 7)) AS i FROM toks),
        |sp AS (SELECT doc_id, i,
        |    array_to_string(tk[i : i + 7], ' ') AS sp FROM pos),
        |cl AS (SELECT doc_id, i,
        |    count(*) OVER (PARTITION BY sp) AS c,
        |    row_number() OVER (PARTITION BY sp ORDER BY doc_id, i) AS rn
        |  FROM sp),
        |dr AS (SELECT DISTINCT doc_id,
        |    unnest(generate_series(i, i + 7)) AS p
        |  FROM cl WHERE c > 1 AND rn > 1),
        |tokrows AS (SELECT doc_id, unnest(tk) AS tok,
        |    unnest(generate_series(1, len(tk))) AS p FROM toks),
        |rec AS (SELECT r.doc_id,
        |    coalesce(string_agg(r.tok, ' ' ORDER BY r.p)
        |      FILTER (dr.doc_id IS NULL), '') AS kept_text,
        |    sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
        |      AS tokens_kept
        |  FROM tokrows r LEFT JOIN dr
        |    ON r.doc_id = dr.doc_id AND r.p = dr.p
        |  GROUP BY 1)
        |SELECT t.source, count(*) AS docs,
        |  CAST(sum(len(t.tk)) AS BIGINT) AS toks,
        |  CAST(sum(rec.tokens_kept) AS BIGINT) AS kept,
        |  count(DISTINCT md5(rec.kept_text)) AS distinct_kept
        |FROM toks t JOIN rec ON t.doc_id = rec.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "l7_contamination" ->
      """WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, source,
        |    list_transform(range(1, len(w) - 3),
        |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]) AS shs
        |  FROM tok),
        |bench AS (SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 97 <> 0),
        |bad AS (SELECT DISTINCT doc_id FROM corp WHERE s IN (SELECT s FROM bench))
        |SELECT source, count(*) AS c,
        |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM bad)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS flagged
        |FROM documents WHERE doc_id % 97 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,
    "l13_packing" ->
      """WITH d AS (SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS toks FROM documents),
        |p AS (SELECT source, toks,
        |    (COALESCE(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) // 500
        |      AS bin
        |  FROM d),
        |b AS (SELECT source, bin, count(*) AS docs, sum(toks) AS fill
        |      FROM p GROUP BY 1, 2)
        |SELECT source, count(*) AS bins,
        |  CAST(sum(docs) AS BIGINT) AS docs,
        |  CAST(max(fill) AS BIGINT) AS max_fill,
        |  CAST(sum(fill) AS BIGINT) AS total_toks
        |FROM b GROUP BY source ORDER BY source""".stripMargin,
    "l11_hash_split" ->
      """WITH u AS (SELECT doc_id, n_chars,
        |    (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(string_split_regex(substr(md5('split:'||doc_id),1,15), ''),
        |         c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |       (a, b) -> a*16 + b) AS DOUBLE) + 0.5)
        |      / 1152921504606846976.0 AS u
        |  FROM documents),
        |s AS (SELECT doc_id, n_chars,
        |    -- thresholds as DOUBLE sums, replaying Spark's scanLeft:
        |    -- 0.8+0.1 is 0.9000000000000001 in IEEE, NOT decimal 0.9
        |    CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
        |         WHEN u < CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE)
        |           THEN 'val' ELSE 'test' END AS split
        |  FROM u)
        |SELECT split, count(*) AS c,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "l12_quantize" ->
      """WITH m AS (SELECT label, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings)
        |SELECT label, i AS pos, count(*) AS n,
        |  CAST(sum(CASE WHEN mx > 0
        |    THEN CAST(round(CAST(embedding[i+1] AS DOUBLE) * 127.0 / mx)
        |         AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS sq
        |FROM m, range(8) t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same md5 hex→int fold as l2_minhash; (v+0.5)/2^60 and the final
    // pow/round replay the Spark expression step for step.
    "l8_weighted_sample" ->
      """WITH u AS (SELECT doc_id, n_chars,
        |    (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(string_split_regex(substr(md5('ws:'||doc_id),1,15), ''),
        |         c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |       (a, b) -> a*16 + b) AS DOUBLE) + 0.5)
        |      / 1152921504606846976.0 AS u
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  round(pow(u, 1.0 / CAST(n_chars AS DOUBLE)), 9) AS key9
        |FROM u
        |ORDER BY pow(u, 1.0 / CAST(n_chars AS DOUBLE)) DESC, doc_id
        |LIMIT 25""".stripMargin,
    "l9_length_histogram" ->
      """SELECT n_chars // 50 AS bucket, count(*) AS c,
        |  min(n_chars) AS lo, max(n_chars) AS hi,
        |  CAST(sum(n_chars) AS BIGINT) AS total
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "l10_inverted_index" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
        |       WHERE length(term) > 0 GROUP BY 1, 2)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
        |  md5(string_agg(doc_id||':'||tf, ',' ORDER BY doc_id)) AS postings_md5
        |FROM tf GROUP BY term
        |ORDER BY df DESC, term LIMIT 25""".stripMargin,
    "l3_centroids" ->
      """SELECT label, i AS pos, count(*) AS n,
        |  CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sv,
        |  CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 / count(*) AS centroid
        |FROM embeddings, range(8) t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
