package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus keyword extraction: per-document top-k TF-IDF terms.
  *
  * Shuffle budget (the minimum the semantics admit):
  *   1. (doc, term) partial-aggregated term frequencies — map-side
  *      combine collapses each document's repeated terms before shuffle;
  *   2. per-term document frequency — aggregation of the (already
  *      reduced) tf table on term;
  *   3. tf ⋈ df on term — fact-fact sort-merge at corpus scale (AQE
  *      flips it to broadcast while the vocabulary is small);
  *   4. per-doc top-k via rank window on doc_id.
  * The corpus-size scalar joins in as a 1-row broadcast, never a shuffle.
  * All state is O(vocabulary + docs·k); nothing driver-side.
  */
object Keywords {

  /** Top-k TF-IDF terms per document: raw term count × ln(N/df), rounded
    * to 6 decimals so both engines' libm ulp differences can't leak into
    * the gate hash; ties broken by term for determinism.
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tokens = docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = tokens.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, "term")
      .join(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rnk"))
  }

  /** Corpus-wide term frequencies (Zipf head): one explode + one
    * partial-aggregated shuffle on term; top-k is TakeOrderedAndProject.
    */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))

  /** Flat postings table (term, doc_id, tf) — the 100 TB shape of an
    * inverted index: written sorted/bucketed by term, lookups are
    * partition-pruned scans and term joins co-locate without a shuffle.
    * One explode + one partial-aggregated shuffle on (term, doc_id).
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k retrieval (Robertson/Spärck Jones; Lucene's
    * +1-inside-the-log idf variant so scores stay positive) for a fixed
    * query-term set.
    *
    * Scale shape: the token filter runs INSIDE the scan projection, so
    * the explode + (doc, term) shuffle carries only query-term
    * occurrences — at 100 TB the shuffle is proportional to matches,
    * not corpus size. Per-term df (≤ |query| rows) and the corpus
    * stats (1 row) broadcast; the final top-k is TakeOrderedAndProject
    * (O(k) to the driver). Per-(doc,term) contributions are rounded to
    * 6dp and summed as DECIMAL(18,6) — exact and order-independent
    * (the l4_quality float discipline), so an engine's partial-agg
    * order can't drift the score.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val withDl = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = withDl.agg(count(lit(1)).as("n"),
      avg(col("dl").cast("double")).as("avgdl"))
    val tf = withDl
      .select(col("doc_id"), col("dl"),
        explode(filter(col("toks"),
          t => t.isInCollection(queryTerms.distinct))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25ScoreTopK(tf, stats, k, k1, b)
  }

  /** Shared BM25 scoring tail over a (doc_id, dl, term, tf) frame — the
    * raw-corpus path and the persisted-index path MUST score through
    * the same expressions or their results could drift apart. */
  private[operators] def bm25ScoreTopK(tf: DataFrame, stats: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    val dfq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfq), "term")
      .join(broadcast(stats))
      .withColumn("idf",
        log((col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5)
          + 1.0))
      // literal-for-literal the same arithmetic as the oracle SQL: both
      // engines parse/fold the identical double expressions
      .withColumn("contrib", round(
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))), 6))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib").cast("decimal(18,6)")).cast("double")
        .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Batch BM25: score EVERY query of a (query_id, term) table in one
    * pass — the retrieval-serving shape, where queries arrive in
    * batches, not one at a time. Same scoring math and float discipline
    * as [[bm25TopK]] (shared df over the union of query terms), but the
    * corpus is exploded ONCE for all queries: tokens semi-filter
    * against the broadcast term union, weights fan out to queries by a
    * broadcast term join, and each query's top-k is the mergeable
    * TopKByScore heap — O(n log k) map-side + O(k)-per-query shuffle,
    * never a per-query corpus sort or rank window.
    * Output: (query_id, doc_id, score, rnk).
    */
  def bm25PerQuery(docs: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queries.select(col("term")).distinct()
    val withDl = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = withDl.agg(count(lit(1)).as("n"),
      avg(col("dl").cast("double")).as("avgdl"))
    val tf = withDl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(terms), "term")
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25PerQueryFrom(tf, stats, queries, k, k1, b)
  }

  /** Shared batch-BM25 tail over a (doc_id, dl, term, tf) frame —
    * see [[bm25ScoreTopK]] for why the raw and indexed paths share it. */
  private[operators] def bm25PerQueryFrom(tf: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    val dfq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val weights = tf.join(broadcast(dfq), "term")
      .join(broadcast(stats))
      .withColumn("idf",
        log((col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5)
          + 1.0))
      .withColumn("w", round(
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))), 6))
    weights
      // distinct: a term listed twice under one query_id must not fan
      // out twice (the score sum would silently double that term's
      // weight) — dedup here instead of documenting it away
      .join(broadcast(queries.select(col("query_id"), col("term")).distinct()),
        "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w").cast("decimal(18,6)")).cast("double").as("score"))
      .groupBy(col("query_id"))
      .agg(graft.plans.TopKByScore
        .top_k_by_score(col("score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("query_id"), col("hit.id").as("doc_id"),
        round(col("hit.score"), 6).as("score"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Per-document mean BIGRAM log-probability — the sequential-
    * coherence quality signal the unigram LM (l29's CCNet-style score)
    * cannot see: shuffled word salad keeps its unigram distribution
    * but its bigrams collapse to near-unseen. Add-one smoothing over
    * the unigram vocabulary: ln p(t₂|t₁) = ln(c(t₁t₂)+1) −
    * ln(c(t₁)+V). Corpus-as-model here; a reference corpus's bigram
    * table joins the same way.
    *
    * Scale shape: ONE corpus explode. The bigram model is a partial-agg
    * shuffle of the already-reduced per-doc counts, and the unigram
    * model is DERIVED from the same shingle scan instead of a second
    * corpus pass: every token is the prefix of exactly one bigram
    * unless it ends its document, so unigram counts = bigram-prefix
    * weights + one per document's last token (a projection, no
    * explode). Both models are vocabulary-sized partial-agg results,
    * NOT driver state; the scoring joins carry no broadcast hints —
    * AQE broadcasts while the model fits and degrades to a keyed
    * sort-merge at web scale (a forced broadcast would OOM instead).
    * V is a 1-row broadcast. Per-(doc, bigram) contributions are 6dp +
    * DECIMAL-summed, so scores are independent of partial-agg order.
    */
  def bigramLogProb(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // per-doc bigram counts are computed INSIDE the scan projection
    // (valueCounts: sort + run boundaries, map-side) — the explode
    // emits already-counted (doc, bg, cd) rows, so there is NO
    // occurrence-level shuffle anywhere in the plan: the model shuffle
    // carries vocabulary-sized partials and the final per-doc shuffle
    // one row per document
    val db = docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.valueCounts(
          TextFunctions.wordShingles(col(textCol), 2))).as("vc"))
      .select(col("doc_id"), col("vc.v").as("bg"),
        col("vc.c").cast("double").as("cd"))
    val bi = db.groupBy(col("bg")).agg(sum(col("cd")).as("cb"))
    // unigram counts WITHOUT a second corpus explode: a token is the
    // prefix of exactly one bigram unless it ends its document, so its
    // count folds from the VOCAB-SIZED bigram model (Σ cb per prefix)
    // plus one per document's last token — a plain projection of docs,
    // no explode (single-token docs land there too; empty tokens are
    // filtered exactly like wordFrequencies does)
    val uni = bi.select(substring_index(col("bg"), " ", 1).as("term"),
        col("cb").as("w"))
      .unionAll(docs
        .select(element_at(TextFunctions.tokens(col(textCol)), -1).as("term"))
        .withColumn("w", lit(1.0)))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(sum(col("w")).as("c"))
    val v = uni.agg(count(lit(1)).as("v"))
    // assemble the (bg, cb, c, v) model FIRST — vocab-sized joins among
    // themselves — so the corpus-sized db is joined exactly once
    val model = bi
      .withColumn("prefix", substring_index(col("bg"), " ", 1))
      .join(uni.withColumnRenamed("term", "prefix"), "prefix")
      .join(broadcast(v))
      .select(col("bg"), col("cb"), col("c"), col("v"))
    db.join(model, "bg")
      .withColumn("contrib", round(col("cd") *
        (log(col("cb").cast("double") + 1.0)
          - log(col("c").cast("double") + col("v").cast("double"))), 6))
      .groupBy(col("doc_id"))
      // Σcd = the doc's bigram positions (every bigram is in the model)
      .agg(round(sum(col("contrib").cast("decimal(18,6)")).cast("double")
        / sum(col("cd")), 6).as("bilp"))
      .orderBy(col("doc_id"))
  }

  /** Positional postings: (term, doc_id, sorted token positions) — the
    * search-engine index shape that makes PHRASE queries a postings
    * intersection instead of a text rescan. Same 100 TB layout story as
    * [[postings]]: term-bucketed on disk, per-term lookups are
    * partition-pruned reads.
    */
  def positionalPostings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Exact phrase match: documents containing `phrase` as consecutive
    * tokens. The first term's positions are the candidates; each later
    * term's postings join on doc_id and keep candidates x with x+i in
    * that term's position set (an array_contains HOF over the joined
    * postings — no re-tokenization, no regex rescan of text). Each join
    * is doc-keyed and only over docs containing BOTH terms, so the work
    * is bounded by the rarest term's postings, the classic
    * intersect-by-rarity property. Output: (doc_id, n_occurrences).
    */
  def phraseMatches(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame =
    phraseFromPostings(positionalPostings(docs, idCol, textCol), phrase)

  /** The postings-intersection fold over an existing (term, doc_id,
    * positions) frame — shared by the rescan path ([[phraseMatches]])
    * and the persisted-index path ([[phraseMatchesIndexed]]). */
  private[operators] def phraseFromPostings(posts: DataFrame,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    def of(t: String, i: Int) = posts.filter(col("term") === t)
      .select(col("doc_id"), col("positions").as(s"p$i"))
    val anchored = phrase.zipWithIndex.tail
      .foldLeft(of(phrase.head, 0).withColumnRenamed("p0", "cand")) {
        case (acc, (t, i)) =>
          acc.join(of(t, i), "doc_id")
            .withColumn("cand",
              filter(col("cand"), x => array_contains(col(s"p$i"), x + i)))
            .drop(s"p$i")
      }
    anchored.filter(size(col("cand")) > 0)
      .select(col("doc_id"), size(col("cand")).cast("long").as("n_occ"))
  }

  /** Grouped inverted index: per-term document frequency, total term
    * frequency, and the postings list sorted by doc_id. The array form
    * suits moderate-df vocabularies (a term's postings must fit one row);
    * web-scale hot terms should stay in the flat [[postings]] shape —
    * that boundary is exactly the classic postings-list-vs-block split.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postings(docs, idCol, textCol)
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("tf_total"),
        array_sort(collect_list(struct(col("doc_id"), col("tf"))))
          .as("postings"))

  // ------------------------------------------------------------------
  // Persisted text index: build ONCE, query MANY — the serving split.
  // The per-call operators above recompute tokenization, df, corpus
  // stats, and postings from raw text on every query; at serving time
  // that's a full corpus explode per query. The on-disk layout below is
  // the same write-time/query-time split the IVF vector index proved:
  //
  //   path/postings/bucket=<b>/*.parquet
  //     (term, doc_id, dl, tf, positions), partitioned by
  //     bucket = pmod(xxhash64(term), nBuckets) and sorted by term
  //     inside each file — a term lookup PRUNES to one directory of
  //     nBuckets at plan time, and the within-file term sort keeps
  //     parquet row-group stats tight so the term predicate skips most
  //     row groups of whatever else shares the bucket.
  //   path/stats/*.parquet
  //     one row: (n, avgdl, n_buckets) — the BM25 corpus constants and
  //     the bucket count the readers need to reproduce the term hash.
  //
  // dl rides on every postings row (the doc-norm denormalization every
  // search engine does) so scoring never rejoins the corpus. At 100 TB
  // nBuckets scales to thousands; the query-time read stays
  // "buckets-of-the-query-terms", independent of corpus size — this is
  // what makes "bounded by the rarest term's postings" true end-to-end
  // rather than only after a per-call rebuild.
  // ------------------------------------------------------------------

  /** Build the persisted index for `docs` at `path` (see layout above).
    * One corpus explode + one (term, doc_id) shuffle — the same cost as
    * a single [[positionalPostings]] call, paid once. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit =
    writeIndexTranche(docs, idCol, textCol, path, nBuckets, "overwrite")

  /** Append NEW documents' postings to an existing index — the ingest
    * path: real corpora grow, and a full rebuild per tranche would pay
    * the whole corpus again. Appends postings files into the same
    * bucket directories (same term hash, read from the stored
    * n_buckets) and adds one stats row; per-term df and corpus stats
    * fold across builds at query time, so the served results stay
    * bit-identical to a from-scratch rebuild (spec-pinned and gated:
    * l36c).
    *
    * Requires appended doc ids to be NEW — re-ingesting an existing
    * doc would split its tf across two postings rows and double-count
    * df. (Near-term shape for mutable corpora: route each bucket
    * through a TxnTable so appends are commits and readers get
    * snapshot isolation; the layout is already per-bucket.)
    */
  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val (_, nBuckets) = indexStats(docs.sparkSession, path)
    writeIndexTranche(docs, idCol, textCol, path, nBuckets, "append")
  }

  /** One tranche of index construction (shared by build and append). */
  private def writeIndexTranche(docs: DataFrame, idCol: String,
      textCol: String, path: String, nBuckets: Int, mode: String): Unit = {
    val (livePost, liveStats) = liveDirs(path)
    val withDl = docs.select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    // positions index the FULL token array (dl counts empty tokens too)
    // so phrase adjacency and BM25 doc length match the rescan path
    val posts = withDl
      .select(col("doc_id"), col("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tf", size(col("positions")).cast("double"))
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))
    posts
      .repartition(nBuckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col("term"), col("doc_id"))
      .write.mode(mode).partitionBy("bucket")
      .parquet(s"$path/$livePost")
    // Stats are stored ADDITIVELY — one (n, Σdl) row per tranche —
    // and readers fold the sum. Exactness: dl values are ints, so the
    // sums are exact and Σdl/n is bit-identical to the rescan path's
    // avg(dl) (same double operands, same division).
    withDl
      .agg(count(lit(1)).as("n"), sum(col("dl")).cast("long").as("sum_dl"))
      .withColumn("n_buckets", lit(nBuckets))
      .write.mode(mode).parquet(s"$path/$liveStats")
    // Explicit layout marker: crawler detection and maintenance routing
    // key on this file, so a user dataset that coincidentally grows a
    // postings/+stats/ shape is never routed through compactIndex's
    // pinned-schema rewrite (which would destroy foreign data).
    val marker = java.nio.file.Paths.get(localPath(path), "_graft_index")
    if (!java.nio.file.Files.exists(marker))
      java.nio.file.Files.write(marker, "graft-index-v1\n".getBytes("UTF-8"))
    ()
  }

  /** The buckets `terms` hash into — computed with the SAME Catalyst
    * expression the build used (a driver-local microjob; re-implementing
    * xxhash64 here would risk a silent divergence). */
  private[graft] def termBuckets(spark: org.apache.spark.sql.SparkSession,
      terms: Seq[String], nBuckets: Int): Seq[Int] = {
    import spark.implicits._
    terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))
      .collect().map(_.getInt(0)).toSeq.distinct
  }

  /** Test seams for [[compactIndex]]'s two crash windows (both leave
    * a SERVING index — there is no headless window under the pointer
    * scheme): [[compactStageHook]] fires after the next generation is
    * fully staged, before the pointer publish; [[compactPublishHook]]
    * fires after the pointer flip, before the superseded dirs drop.
    * No-ops in production. */
  private[graft] var compactStageHook: () => Unit = () => ()
  private[graft] var compactPublishHook: () => Unit = () => ()

  /** Accept both plain local paths and `file:` URIs for the java.nio
    * parts of the swap (the crawler hands over Hadoop-style URI
    * strings; spark.read accepts either form directly). */
  private def localPath(path: String): String =
    if (path.startsWith("file:")) java.net.URI.create(path).getPath
    else path

  private def rmTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try {
        val it = s.iterator()
        while (it.hasNext) rmTree(it.next())
      } finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** Current published generation of a compacted index: the CURRENT
    * pointer's value, or -1 when the index has never been compacted
    * under the pointer scheme (the plain `postings`/`stats` dirs
    * serve — every index at build time, and indexes written by the
    * pre-pointer engine). */
  private def currentGen(path: String): Long = {
    val cur = java.nio.file.Paths.get(localPath(path), "CURRENT")
    if (!java.nio.file.Files.exists(cur)) -1L
    else new String(java.nio.file.Files.readAllBytes(cur), "UTF-8")
      .trim.toLong
  }

  /** The index's LIVE (postings, stats) directory names. A compacted
    * index serves generation-numbered dirs behind the CURRENT pointer
    * (published by ONE [[graft.core.Store.putAtomic]] small-object
    * write — the whole swap, no directory rename anywhere, which is
    * exactly what an object-store port needs); an uncompacted index
    * serves the plain names. Every reader and appender resolves
    * through this. */
  private[graft] def liveDirs(path: String): (String, String) = {
    val g = currentGen(path)
    if (g < 0) ("postings", "stats")
    else (s".postings__g$g", s".stats__g$g")
  }

  /** Heal a crashed [[compactIndex]]: drop generation dirs the CURRENT
    * pointer does not reference (staged-but-never-published, or
    * superseded-but-not-dropped), drop the plain dirs once a pointer
    * generation serves, and — legacy, for indexes written by the old
    * two-rename engine — restore `.{name}__old` when it holds the
    * ONLY copy. Idempotent; called automatically on the next
    * compactIndex, and public so a supervisor can heal without
    * compacting. Under the pointer scheme there is NO headless
    * window: a crash anywhere leaves a serving generation. */
  def recoverIndex(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    // legacy two-rename era (pre-pointer indexes only): the sole-copy
    // restore is a directory move — exempt in the Store seam scan
    Seq("postings", "stats").foreach { name =>
      val live = Paths.get(localPath(path), name)
      val old = Paths.get(localPath(path), s".${name}__old")
      if (Files.exists(old) && !Files.exists(live)) Files.move(old, live)
      else if (Files.exists(old)) rmTree(old)
    }
    val root = Paths.get(localPath(path))
    if (Files.isDirectory(root)) {
      val g = currentGen(path)
      val s = Files.list(root)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val p = it.next()
          val nm = p.getFileName.toString
          // stale legacy staging is always safe to drop: a publish
          // only ever consumes a FULLY staged generation
          if (nm.startsWith(".graft_idx_stage")) rmTree(p)
          // unreferenced generations: a crash before the pointer
          // write (never published) or after it (superseded)
          else if (nm.startsWith(".postings__g") &&
            nm.stripPrefix(".postings__g") != g.toString) rmTree(p)
          else if (nm.startsWith(".stats__g") &&
            nm.stripPrefix(".stats__g") != g.toString) rmTree(p)
        }
      } finally s.close()
      // the pre-pointer plain dirs, once a generation serves (a crash
      // after the first publish, before their drop)
      if (g >= 0) {
        rmTree(root.resolve("postings"))
        rmTree(root.resolve("stats"))
      }
    }
  }

  /** Fold an index's accumulated tranche files: every bucket directory
    * is rewritten as one term-sorted file and the additive stats rows
    * collapse to one — the small-file compaction any append-driven
    * layout eventually needs. Serving results are unchanged
    * (spec-pinned); reads get fewer files with tighter per-row-group
    * term ranges than interleaved tranche files can have. Like
    * [[appendToIndex]], not safe to run concurrently with readers or
    * appenders (the TxnTable-committed variant, [[TxnIndex.compact]],
    * is the mutable-corpus shape).
    *
    * Crash safety — the Store-mediated staged publish: the next
    * generation (`.postings__g<n>`, `.stats__g<n>`) is written fully,
    * then BOTH directories flip together with ONE atomic small-object
    * write of the CURRENT pointer ([[graft.core.Store.putAtomic]]).
    * There is no headless window and no directory rename anywhere —
    * the swap ports to an object store as a single PUT. A crash
    * before the pointer write leaves the live generation serving and
    * an orphaned staged generation; after it, orphaned superseded
    * dirs; [[recoverIndex]] drops both kinds (spec-pinned via
    * [[compactStageHook]]/[[compactPublishHook]]).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import java.nio.file.Paths
    recoverIndex(path) // drop any previous crash's orphans first
    val (livePost, liveStats) = liveDirs(path)
    val (_, nBuckets) = indexStats(spark, path)
    val gen = currentGen(path) + 1
    // stage the next generation INSIDE the index's own directory
    // (dot-prefixed: readers resolve through the pointer, the crawler
    // skips hidden names)
    val stagedPost = s".postings__g$gen"
    val stagedStats = s".stats__g$gen"
    spark.read.schema(postingsSchema).parquet(s"$path/$livePost")
      .repartition(nBuckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col("term"), col("doc_id"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/$stagedPost")
    spark.read.parquet(s"$path/$liveStats")
      .agg(sum(col("n")).as("n"), sum(col("sum_dl")).as("sum_dl"))
      .withColumn("n_buckets", lit(nBuckets))
      .write.mode("overwrite").parquet(s"$path/$stagedStats")
    compactStageHook() // crash here: live generation untouched
    // THE swap: one atomic pointer write flips both directories
    graft.core.Store.putAtomic(
      Paths.get(localPath(path), "CURRENT"),
      s"$gen\n".getBytes("UTF-8"))
    compactPublishHook() // crash here: superseded dirs are orphans
    rmTree(Paths.get(localPath(path), livePost))
    rmTree(Paths.get(localPath(path), liveStats))
  }

  /** The folded (n, avgdl) stats of a persisted index plus its bucket
    * count. Stats rows are additive (one per build/append tranche);
    * the fold reproduces the rescan path's (count, avg) doubles
    * bit-for-bit because dl sums are exact integers. */
  private def indexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Int) = {
    val st = spark.read.parquet(s"$path/${liveDirs(path)._2}")
    val nb = st.select(col("n_buckets")).head().getInt(0)
    val folded = st
      .agg(sum(col("n")).as("n"), sum(col("sum_dl")).as("sdl"))
      .select(col("n"),
        (col("sdl").cast("double") / col("n").cast("double")).as("avgdl"))
    (folded, nb)
  }

  /** The fixed on-disk postings schema (doc_id is canonicalized to
    * long at write time). Declared explicitly so reads never run
    * schema inference — and so an index whose corpus was EMPTY (no
    * partition directories at all) still reads as an empty frame
    * instead of failing inference. */
  private val postingsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "term STRING, doc_id BIGINT, dl INT, " +
      "positions ARRAY<INT>, tf DOUBLE, bucket INT")

  /** Postings of exactly `terms` from a persisted index: the bucket
    * filter prunes partitions at PLAN time (only the query terms'
    * directories are listed/read), the term filter pushes into the
    * parquet scan and skips row groups via the within-file term sort.
    */
  def readPostings(spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val (_, nb) = indexStats(spark, path)
    val buckets = termBuckets(spark, terms, nb)
    spark.read.schema(postingsSchema)
      .parquet(s"$path/${liveDirs(path)._1}")
      .filter(col("bucket").isInCollection(buckets))
      .filter(col("term").isInCollection(terms))
  }

  /** [[bm25TopK]] served from a persisted index: no corpus scan, no
    * tokenization — the read is proportional to the query terms'
    * postings, and the scoring tail is literally the same function, so
    * the result is bit-identical to the rescan path. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (stats, _) = indexStats(spark, path)
    val tf = readPostings(spark, path, queryTerms.distinct)
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    bm25ScoreTopK(tf, stats, k, k1, b)
  }

  /** [[bm25PerQuery]] served from a persisted index — one pruned
    * postings read for the UNION of all queries' terms. The partition
    * set is folded DISTRIBUTIVELY from the query table (≤ nBuckets
    * bucket ids reach the driver, never the term list itself — a
    * million-term query batch still plans from a bounded list), and
    * the term restriction is a semi-join against the query table
    * instead of a driver-built IN list. */
  def bm25PerQueryIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (stats, nb) = indexStats(spark, path)
    val buckets = queries
      .select(pmod(xxhash64(col("term")), lit(nb)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val tf = spark.read.schema(postingsSchema)
      .parquet(s"$path/${liveDirs(path)._1}")
      .filter(col("bucket").isInCollection(buckets))
      .join(queries.select(col("term")).distinct(), Seq("term"), "left_semi")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    bm25PerQueryFrom(tf, stats, queries, k, k1, b)
  }

  /** [[phraseMatches]] served from a persisted index: reads ONLY the
    * phrase terms' buckets — the intersect-by-rarity bound now holds
    * end-to-end, with no per-call corpus rebuild. */
  def phraseMatchesIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, phrase: Seq[String]): DataFrame =
    phraseFromPostings(
      readPostings(spark, path, phrase.distinct)
        .select(col("term"), col("doc_id"), col("positions")),
      phrase)
}
