package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TxnTable
import graft.core.TxnTable.Bound
import graft.functions.TextFunctions

/** The TRANSACTIONAL text index — [[Keywords.buildIndex]]'s layout
  * committed through [[TxnTable]], for the mutable-corpus regime the
  * plain-parquet index explicitly excludes:
  *
  *  - **snapshot isolation**: a reader serving a query sees one
  *    committed version of postings AND corpus stats together — an
  *    appender/upserter racing it can never tear the pair apart
  *    (`asOf` pins both reads to a single resolved version);
  *  - **re-ingest safety**: upserting a doc id that already exists
  *    REPLACES its postings and corrects the corpus stats in the same
  *    atomic commit, where the plain index's append would double-count
  *    df/tf (its documented, unchecked hazard);
  *  - **time travel / restore / vacuum** come for free from the log.
  *
  * One TxnTable holds four row kinds, discriminated by `kind` and
  * separated physically by sentinel `bucket` values so every serving
  * read stays file-pruned ([[TxnTable.readPruned]] `LongIn` on the footer
  * min/max of `bucket`):
  *
  *  - `'p'` postings: (term, doc_id, dl, positions, tf),
  *    bucket = pmod(xxhash64(term), nBuckets) — the serving rows;
  *  - `'d'` doc registry: (doc_id, dl), bucket = −2 — what upsert
  *    needs to subtract a replaced doc's contribution from the stats
  *    fold even when the doc produced no postings rows (empty text);
  *  - `'s'` stats tranches: (n, sum_dl, n_buckets), bucket = −1 —
  *    ADDITIVE rows (corrections may carry negative deltas); readers
  *    fold Σn, Σsum_dl, so avgdl = Σdl/Σn is bit-identical to the
  *    rescan path's (count, avg) doubles on the corpus's current
  *    logical state;
  *  - `'t'` tombstones: (doc_id), bucket = −3 — written by the
  *    MERGE-ON-READ upsert ([[upsertLazy]]); readers drop any p/d row
  *    of that doc whose `seq` is below the tombstone's.
  *
  * Two upsert shapes, composable on the same table:
  *
  *  - [[upsert]] (rewrite-on-write): a keyed [[TxnTable.merge]]
  *    physically deletes the replaced docs' rows. Because a doc's
  *    postings scatter across ALL term buckets, any tranche touches
  *    nearly every file — measured at index-build cost in NewOpsBench.
  *    Right when upserts are rare and reads must never pay overhead.
  *  - [[upsertLazy]] (merge-on-read): ONE append-only CAS commit —
  *    new rows + tombstones + a stats delta; nothing is rewritten
  *    (O(tranche), not O(index)). Readers apply tombstones with a
  *    doc-keyed anti-condition over only the rows they already read;
  *    [[compact]] folds tombstones away physically. The Delta
  *    deletion-vector trade, chosen per workload.
  *
  * `seq` orders tranches for tombstone resolution: a tranche stamps
  * its rows with max(prior stats seq) + 1, and its tombstones kill
  * same-doc rows with smaller seq. Compaction folds stats rows to one
  * carrying the max seq, so ordering survives compaction.
  *
  * Scale shape: build/upsert cost one corpus-tranche explode + one
  * range shuffle (clustered write); a query reads only the files whose
  * bucket range covers its terms plus the (compactable) tombstone
  * bucket — hard-asserted in the l37 gate. Scoring reuses [[Keywords]]'
  * exact tails; results are bit-identical to a rescan of the corpus's
  * current logical state.
  */
object TxnIndex {

  private def clusterKeys = Seq(col("bucket"), col("term"), col("doc_id"))

  /** (postings ∪ registry ∪ stats-delta) rows for one corpus tranche.
    * `statsDelta` lets upsert turn the tranche's raw (n, Σdl) into a
    * correction against the replaced docs' contribution. */
  private def trancheRows(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, statsDelta: Option[(Long, Long)],
      seq: Int): DataFrame = {
    val nulls = Seq(lit(null).cast("bigint").as("n"),
      lit(null).cast("bigint").as("sum_dl"),
      lit(null).cast("int").as("n_buckets"))
    val withDl = docs.select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val posts = withDl
      .select(col("doc_id"), col("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .select((lit("p").as("kind") +: col("term") +: col("doc_id") +:
        col("dl") +: col("positions") +:
        size(col("positions")).cast("double").as("tf") +:
        pmod(xxhash64(col("term")), lit(nBuckets)).cast("int").as("bucket") +:
        nulls) :+ lit(seq).as("seq"): _*)
    val registry = withDl
      .select((lit("d").as("kind") +: lit(null).cast("string").as("term") +:
        col("doc_id") +: col("dl") +:
        lit(null).cast("array<int>").as("positions") +:
        lit(null).cast("double").as("tf") +: lit(-2).as("bucket") +:
        nulls) :+ lit(seq).as("seq"): _*)
    val raw = withDl.agg(count(lit(1)).as("cnt"),
      coalesce(sum(col("dl")), lit(0L)).cast("long").as("sdl"))
    val stats = (statsDelta match {
      case Some((repN, repSdl)) =>
        raw.select((col("cnt") - lit(repN)).as("n"),
          (col("sdl") - lit(repSdl)).as("sum_dl"))
      case None => raw.select(col("cnt").as("n"), col("sdl").as("sum_dl"))
    }).select(lit("s").as("kind"), lit(null).cast("string").as("term"),
      lit(null).cast("bigint").as("doc_id"), lit(null).cast("int").as("dl"),
      lit(null).cast("array<int>").as("positions"),
      lit(null).cast("double").as("tf"), lit(-1).as("bucket"),
      col("n"), col("sum_dl"), lit(nBuckets).as("n_buckets"),
      lit(seq).as("seq"))
    posts.unionAll(registry).unionAll(stats)
  }

  /** Tombstone rows (kind 't') for `ids` at tranche `seq`. */
  private def tombstoneRows(ids: DataFrame, seq: Int): DataFrame =
    ids.select(lit("t").as("kind"), lit(null).cast("string").as("term"),
      col("doc_id"), lit(null).cast("int").as("dl"),
      lit(null).cast("array<int>").as("positions"),
      lit(null).cast("double").as("tf"), lit(-3).as("bucket"),
      lit(null).cast("bigint").as("n"), lit(null).cast("bigint").as("sum_dl"),
      lit(null).cast("int").as("n_buckets"), lit(seq).as("seq"))

  /** Drop every row whose doc carries a LATER tombstone (merge-on-read
    * resolution). Null-keyed rows (stats) pass through untouched. */
  private def applyTombstones(rows: DataFrame, tombs: DataFrame): DataFrame = {
    val order = rows.columns.toSeq
    val kill = tombs.groupBy(col("doc_id")).agg(max(col("seq")).as("__kill"))
    rows.join(kill, Seq("doc_id"), "left")
      .filter(col("__kill").isNull || col("seq") >= col("__kill"))
      .select(order.map(col): _*)
  }

  /** Create the index table at `path` from `docs` — version 0 is the
    * fully-clustered layout, prunable from the first read. */
  def build(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Long =
    TxnTable.createClustered(docs.sparkSession, path,
      trancheRows(docs, idCol, textCol, nBuckets, None, seq = 0),
      clusterKeys, nBuckets + 2)

  /** Upsert a tranche (REWRITE-ON-WRITE): NEW doc ids append; EXISTING
    * doc ids are re-ingested — old postings, registry rows, and any
    * tombstones of those docs physically replaced, stats corrected by
    * the replaced docs' (count, Σdl) — in ONE atomic merge commit. The
    * replaced-stats fold is computed against the snapshot version the
    * merge then CAS-checks (`expectedBase`), so a racing writer can
    * never turn a stale correction into a committed wrong fold. A lost
    * race RECOMPUTES the fold against the fresh snapshot and retries
    * (the tranche frame is deterministic); an exhausted retry budget
    * surfaces the last conflict.
    *
    * Cost: a doc's postings scatter across all term buckets, so the
    * keyed rewrite touches nearly every file — prefer [[upsertLazy]]
    * for frequent tranches.
    */
  def upsert(docs: DataFrame, idCol: String, textCol: String,
      path: String, maxAttempts: Int = 10): Long = {
    val spark = docs.sparkSession
    TxnTable.retryRaces(maxAttempts) { _ =>
      val base = TxnTable.currentVersion(path)
      val st = rawStats(spark, path, base)
      val incoming = docs.select(col(idCol).cast("long").as("doc_id")).distinct()
      val replaced = liveRegistry(spark, path, base)
        .join(incoming, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("c"), coalesce(sum(col("dl")), lit(0L)).as("s"))
        .head()
      val rows = trancheRows(docs, idCol, textCol, st.nBuckets,
        Some((replaced.getLong(0), replaced.getLong(1))), st.maxSeq + 1)
      TxnTable.merge(spark, path, rows, Seq("doc_id"),
        partitions = math.max(1, st.nBuckets / 8), clusterBy = clusterKeys,
        expectedBase = base)
    }
  }

  /** Upsert a tranche (MERGE-ON-READ): ONE append-only CAS commit —
    * the tranche's postings + registry rows, a tombstone per replaced
    * doc, and the stats delta. NOTHING is rewritten: commit cost is
    * O(tranche) regardless of index size (the rewrite path is
    * O(index), measured in NewOpsBench). Readers resolve tombstones
    * with a doc-keyed filter over only the rows they already read;
    * run [[compact]] periodically to fold them away. Same CAS-retry
    * discipline as [[upsert]]; results are identical between the two
    * paths (spec-pinned).
    */
  def upsertLazy(docs: DataFrame, idCol: String, textCol: String,
      path: String, maxAttempts: Int = 10): Long = {
    val spark = docs.sparkSession
    TxnTable.retryRaces(maxAttempts) { _ =>
      val base = TxnTable.currentVersion(path)
      val st = rawStats(spark, path, base)
      val seq = st.maxSeq + 1
      val incoming = docs.select(col(idCol).cast("long").as("doc_id")).distinct()
      val replacedReg = liveRegistry(spark, path, base)
        .join(incoming, Seq("doc_id"), "left_semi")
      val replaced = replacedReg
        .agg(count(lit(1)).as("c"), coalesce(sum(col("dl")), lit(0L)).as("s"))
        .head()
      val rows = trancheRows(docs, idCol, textCol, st.nBuckets,
          Some((replaced.getLong(0), replaced.getLong(1))), seq)
        .unionAll(tombstoneRows(replacedReg.select(col("doc_id")), seq))
      TxnTable.appendCas(spark, path, rows, expectedBase = base,
        clusterBy = clusterKeys,
        partitions = math.max(1, st.nBuckets / 8))
    }
  }

  /** [[upsertLazy]] as an EXACTLY-ONCE streaming sink tranche — the
    * "searchable stream" composition: documents arrive micro-batch by
    * micro-batch (foreachBatch), each batch lands as one append-only
    * index commit labeled `stream:<streamId>:<batchId>`, and a
    * redelivered batch (checkpoint recovery) is a no-op — the same
    * idempotence contract as [[TxnTable.appendStreamBatch]], re-checked
    * inside the CAS retry loop so a duplicate can't slip through a
    * version race. Queries serve from any committed snapshot while the
    * stream keeps ingesting (snapshot isolation), and re-ingested doc
    * ids get the full tombstone treatment — a stream UPDATING documents
    * composes with one serving path.
    *
    * `compactEvery` > 0 wires the maintenance loop in: after a
    * committed batch, [[maybeCompact]] folds the index once the
    * tranche count reaches the threshold — an unattended ingest
    * stream bounds its own tombstone read tax. Crash-safe: the
    * compaction is an independent best-effort commit AFTER the
    * batch's exactly-once commit; a crash between them just leaves
    * tranches for the next trigger.
    * @return the committed version, or None if the batch was already
    *         applied. */
  def upsertLazyStreamBatch(docs: DataFrame, idCol: String, textCol: String,
      path: String, streamId: String, batchId: Long,
      maxAttempts: Int = 10, compactEvery: Int = 0): Option[Long] = {
    val spark = docs.sparkSession
    def alreadyApplied(): Boolean =
      TxnTable.lastAppliedBatch(path, streamId).exists(_ >= batchId)
    TxnTable.retryRaces(maxAttempts) { _ =>
      if (alreadyApplied()) None
      else {
        val base = TxnTable.currentVersion(path)
        val st = rawStats(spark, path, base)
        val seq = st.maxSeq + 1
        val incoming = docs.select(col(idCol).cast("long").as("doc_id")).distinct()
        val replacedReg = liveRegistry(spark, path, base)
          .join(incoming, Seq("doc_id"), "left_semi")
        val replaced = replacedReg
          .agg(count(lit(1)).as("c"), coalesce(sum(col("dl")), lit(0L)).as("s"))
          .head()
        val rows = trancheRows(docs, idCol, textCol, st.nBuckets,
            Some((replaced.getLong(0), replaced.getLong(1))), seq)
          .unionAll(tombstoneRows(replacedReg.select(col("doc_id")), seq))
        val v = TxnTable.appendCas(spark, path, rows,
          expectedBase = base, clusterBy = clusterKeys,
          partitions = math.max(1, st.nBuckets / 8),
          op = s"stream:$streamId:$batchId")
        if (compactEvery > 0) maybeCompact(spark, path, compactEvery)
        Some(v)
      }
    }
  }

  /** The tranche-count-triggered compaction policy: compact iff the
    * accumulated stats rows reached `maxTranches`. Best-effort — a
    * concurrent writer winning the race just defers compaction to the
    * next call (served answers are correct either way; tombstones are
    * a read tax, never a correctness issue). Returns whether a
    * compaction committed. */
  def maybeCompact(spark: SparkSession, path: String,
      maxTranches: Int): Boolean = {
    val v = TxnTable.currentVersion(path)
    val tranches = TxnTable.readPruned(spark, path,
      Seq(Bound.LongIn("bucket", Seq(-1L))), v)
      .filter(col("kind") === "s").count()
    if (tranches < maxTranches) false
    else try { compact(spark, path); true }
    catch { case _: TxnTable.TxnConflictException => false }
  }

  /** Physically apply tombstones and fold the accumulated stats rows
    * to one — an atomic INSERT OVERWRITE commit; the logical content
    * (and every served answer) is unchanged, history stays readable.
    * Restores both the pruning tightness repeated lazy tranches erode
    * and the O(1) stats fold. */
  def compact(spark: SparkSession, path: String): Long = {
    val v = TxnTable.currentVersion(path)
    val st = rawStats(spark, path, v)
    val full = TxnTable.read(spark, path, v)
    val kept = applyTombstones(
      full.filter(col("kind") =!= "t"), full.filter(col("kind") === "t"))
      .filter(col("kind") =!= "s")
    val foldedStats = {
      import spark.implicits._
      Seq(1).toDS().select(lit("s").as("kind"),
        lit(null).cast("string").as("term"),
        lit(null).cast("bigint").as("doc_id"), lit(null).cast("int").as("dl"),
        lit(null).cast("array<int>").as("positions"),
        lit(null).cast("double").as("tf"), lit(-1).as("bucket"),
        lit(st.n).as("n"), lit(st.sumDl).as("sum_dl"),
        lit(st.nBuckets).as("n_buckets"), lit(st.maxSeq).as("seq"))
    }
    TxnTable.overwriteClustered(spark, path, kept.unionAll(foldedStats),
      clusterKeys, st.nBuckets + 2)
  }

  private case class IndexStats(n: Long, sumDl: Long, nBuckets: Int,
      maxSeq: Int)

  /** ONE pruned read of the stats rows at `asOf` — the corpus fold,
    * bucket count, and tranche high-water seq together (every writer
    * and every serving call needs some of these; reading them in one
    * pass keeps per-query footer-index builds at two). */
  private def rawStats(spark: SparkSession, path: String,
      asOf: Long): IndexStats = {
    val s = TxnTable.readPruned(spark, path,
      Seq(Bound.LongIn("bucket", Seq(-1L))), asOf)
      .filter(col("kind") === "s")
      .agg(sum(col("n")).as("n"), sum(col("sum_dl")).as("sdl"),
        max(col("n_buckets")).as("nb"), max(col("seq")).as("mseq"))
      .head()
    // a TxnTable without stats rows is not a TxnIndex (foreign table,
    // or a corrupted one) — say so instead of an opaque NPE on getInt
    require(!s.isNullAt(2),
      s"not a TxnIndex table (no 's' stats rows): $path")
    IndexStats(s.getLong(0), s.getLong(1), s.getInt(2), s.getInt(3))
  }

  /** avgdl matches a rescan of the corpus's current logical state
    * bit-for-bit: integer sums, one final double division. */
  private def statsFrame(spark: SparkSession, st: IndexStats): DataFrame = {
    import spark.implicits._
    // n == 0 is a legitimate mid-lifecycle state (an index created from
    // an empty frame before its first tranche); 0.0 instead of 0/0 NaN
    // keeps the scoring tail well-defined (it has no postings to score)
    val avgdl = if (st.n == 0) 0.0 else st.sumDl.toDouble / st.n.toDouble
    Seq((st.n, avgdl)).toDF("n", "avgdl")
  }

  /** The registry rows alive at `asOf` (tombstones applied). */
  private def liveRegistry(spark: SparkSession, path: String,
      asOf: Long): DataFrame = {
    val raw = TxnTable.readPruned(spark, path,
      Seq(Bound.LongIn("bucket", Seq(-2L, -3L))), asOf)
    applyTombstones(raw.filter(col("kind") === "d"),
      raw.filter(col("kind") === "t"))
  }

  /** Postings of exactly `terms` at `asOf`: the footer index prunes to
    * the terms' bucket files (plus the tombstone bucket), the term
    * filter pushes into the scan, tombstones resolve on the spot. */
  def readPostings(spark: SparkSession, path: String, terms: Seq[String],
      asOf: Long = -1L): DataFrame = {
    val v = resolve(path, asOf)
    readPostingsWithNb(spark, path, terms, v,
      rawStats(spark, path, v).nBuckets)
  }

  private def readPostingsWithNb(spark: SparkSession, path: String,
      terms: Seq[String], asOf: Long, nb: Int): DataFrame = {
    val buckets = Keywords.termBuckets(spark, terms.distinct, nb)
    val raw = TxnTable.readPruned(spark, path,
      Seq(Bound.LongIn("bucket", buckets.map(_.toLong) :+ -3L)), asOf)
    applyTombstones(
      raw.filter(col("kind") === "p")
        .filter(col("term").isInCollection(terms.distinct)),
      raw.filter(col("kind") === "t"))
  }

  /** Pin every read of one serving call to a single committed version —
    * stats and postings can never come from different snapshots. */
  private def resolve(path: String, asOf: Long): Long =
    if (asOf >= 0) asOf else TxnTable.currentVersion(path)

  /** BM25 top-k served from the committed index at `asOf` (default:
    * latest). Bit-identical to [[Keywords.bm25TopK]] over the corpus's
    * current logical state — shared scoring tail, same stats doubles. */
  def bm25TopK(spark: SparkSession, path: String, queryTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      asOf: Long = -1L): DataFrame = {
    val v = resolve(path, asOf)
    val st = rawStats(spark, path, v)
    val tf = readPostingsWithNb(spark, path, queryTerms, v, st.nBuckets)
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    Keywords.bm25ScoreTopK(tf, statsFrame(spark, st), k, k1, b)
  }

  /** Batch BM25 over a (query_id, term) table, served from the
    * committed index — one pruned read for the union of query terms. */
  def bm25PerQuery(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      asOf: Long = -1L): DataFrame = {
    val v = resolve(path, asOf)
    val st = rawStats(spark, path, v)
    // the bucket set is folded DISTRIBUTIVELY from the query table
    // (≤ nBuckets ints to the driver, never the term list itself)
    val buckets = queries
      .select(pmod(xxhash64(col("term")), lit(st.nBuckets)).cast("long")
        .as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val raw = TxnTable.readPruned(spark, path,
      Seq(Bound.LongIn("bucket", buckets :+ -3L)), v)
    val tf = applyTombstones(
      raw.filter(col("kind") === "p")
        .join(queries.select(col("term")).distinct(), Seq("term"),
          "left_semi"),
      raw.filter(col("kind") === "t"))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    Keywords.bm25PerQueryFrom(tf, statsFrame(spark, st), queries, k, k1, b)
  }

  /** Phrase search served from the committed index: postings
    * intersection over only the phrase terms' bucket files. */
  def phraseMatches(spark: SparkSession, path: String, phrase: Seq[String],
      asOf: Long = -1L): DataFrame =
    Keywords.phraseFromPostings(
      readPostings(spark, path, phrase, resolve(path, asOf))
        .select(col("term"), col("doc_id"), col("positions")),
      phrase)
}
