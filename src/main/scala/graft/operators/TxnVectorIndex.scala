package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TxnTable
import graft.core.TxnTable.Bound

/** The TRANSACTIONAL vector index — [[Similarity]]'s on-disk IVF layout
  * committed through [[TxnTable]], the same plain-layout→commit-log
  * progression the text side took ([[Keywords.buildIndex]] →
  * [[TxnIndex]]), for the mutable-corpus regime the `partitionBy`
  * layout excludes:
  *
  *  - **snapshot isolation**: a top-k serve reads centroids, vectors,
  *    and tombstones from ONE committed version — an upserter racing
  *    it can never tear the probe apart;
  *  - **re-ingest safety**: upserting a vec_id that already exists
  *    REPLACES it (merge-on-read tombstone), where the plain layout's
  *    append would return the same id twice;
  *  - **time travel / restore / vacuum** come for free from the log.
  *
  * One TxnTable holds four row kinds, discriminated by `kind` and
  * physically separated by sentinel `list` values so every serving
  * read is file-pruned ([[TxnTable.readPruned]] `LongIn` on the footer
  * min/max of `list`):
  *
  *  - `'v'` vectors: (vec_id, embedding), list = nearest-centroid
  *    assignment — the serving rows, range-clustered by list;
  *  - `'c'` centroids: (i, embedding), list = −2 — the coarse
  *    quantizer, persisted AT BUILD and frozen: every writer assigns
  *    and every reader probes with the SAME centroid set, the
  *    invariant that makes incremental ingest correct (re-training
  *    the quantizer = rebuilding the index, as in any IVF system);
  *  - `'s'` tranche rows: (n, seq), list = −1 — the seq high-water
  *    mark (and adds accounting) read in O(1 pruned file), so a
  *    tranche never scans the index to learn its seq;
  *  - `'t'` tombstones: (vec_id), list = −3 — merge-on-read replace/
  *    delete markers; readers drop any v row of that id with `seq`
  *    below the tombstone's.
  *
  * Upserts tombstone ALL incoming ids unconditionally (a tombstone for
  * an absent id kills nothing), so a tranche commit is O(tranche) with
  * NO registry read at all — cheaper than the text index's shape,
  * because a vector is one row where a document is many postings.
  *
  * Scale shape: build = one assignment pass + one range shuffle;
  * serving reads the `nprobe` probed lists' files plus the
  * (compactable) tombstone list of one snapshot — corpus-size-
  * independent, hard-asserted in the l3d gate; [[compact]] folds
  * tombstones away physically with answers pinned unchanged. Centroid
  * sampling is md5-ordered ([[Similarity.md5Centroids]]) so an
  * external oracle reproduces the exact centroid set.
  */
object TxnVectorIndex {

  private def clusterKeys = Seq(col("list"), col("vec_id"))

  /** The shared row shape: (kind, vec_id, embedding, i, list, n, seq). */
  private def vRows(assigned: DataFrame, seq: Int): DataFrame =
    assigned.select(lit("v").as("kind"), col("vec_id"),
      col("embedding"), lit(null).cast("int").as("i"),
      col("list").cast("int").as("list"),
      lit(null).cast("bigint").as("n"), lit(seq).as("seq"))

  private def centroidRows(spark: SparkSession,
      cents: Array[Seq[Float]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("ci", "cvec")
      .select(lit("c").as("kind"), lit(null).cast("bigint").as("vec_id"),
        col("cvec").as("embedding"), col("ci").as("i"),
        lit(-2).as("list"), lit(null).cast("bigint").as("n"),
        lit(0).as("seq"))
  }

  private def trancheRow(spark: SparkSession, n: Long, seq: Int): DataFrame = {
    import spark.implicits._
    Seq(1).toDS().select(lit("s").as("kind"),
      lit(null).cast("bigint").as("vec_id"),
      lit(null).cast("array<float>").as("embedding"),
      lit(null).cast("int").as("i"), lit(-1).as("list"),
      lit(n).as("n"), lit(seq).as("seq"))
  }

  private def tombstoneRows(ids: DataFrame, seq: Int): DataFrame =
    ids.select(lit("t").as("kind"), col("vec_id"),
      lit(null).cast("array<float>").as("embedding"),
      lit(null).cast("int").as("i"), lit(-3).as("list"),
      lit(null).cast("bigint").as("n"), lit(seq).as("seq"))

  /** Drop every v row whose id carries a LATER tombstone. */
  private def applyTombstones(rows: DataFrame, tombs: DataFrame): DataFrame = {
    val order = rows.columns.toSeq
    val kill = tombs.groupBy(col("vec_id")).agg(max(col("seq")).as("__kill"))
    rows.join(kill, Seq("vec_id"), "left")
      .filter(col("__kill").isNull || col("seq") >= col("__kill"))
      .select(order.map(col): _*)
  }

  /** Create the index at `path` from `emb` — version 0 is the fully
    * list-clustered layout, prunable from the first read; the centroid
    * set is sampled (md5-ordered, engine-reproducible) and FROZEN. */
  def build(emb: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 16): Long = {
    val spark = emb.sparkSession
    val data = emb.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("embedding"))
    val cents = Similarity.md5Centroids(data, nlist, "vec_id", "embedding")
    val assigned = Similarity.withIvfList(data, cents, "embedding", "list")
    val rows = vRows(assigned, seq = 0)
      .unionAll(centroidRows(spark, cents))
      .unionAll(trancheRow(spark, data.count(), seq = 0))
    TxnTable.createClustered(spark, path, rows, clusterKeys, nlist + 2)
  }

  /** Create an EMPTY index whose frozen quantizer is md5-sampled from
    * `quantizerSource` — the bootstrap for pure streaming ingest: any
    * real IVF system trains its coarse quantizer on a (batch) sample,
    * then streams the corpus in through [[upsertLazyStreamBatch]].
    * Version 0 holds only the centroid rows and a zero tranche; every
    * serving/ingest invariant (frozen centroids, pruned reads,
    * exactly-once) applies from the first streamed batch. */
  def buildEmpty(quantizerSource: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 16): Long = {
    val spark = quantizerSource.sparkSession
    val data = quantizerSource.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("embedding"))
    val cents = Similarity.md5Centroids(data, nlist, "vec_id", "embedding")
    val rows = centroidRows(spark, cents)
      .unionAll(trancheRow(spark, 0L, seq = 0))
    TxnTable.createClustered(spark, path, rows, clusterKeys, 2)
  }

  /** The frozen quantizer of the committed index at `asOf`, in centroid
    * order — ONE pruned read (list = −2). */
  def centroids(spark: SparkSession, path: String,
      asOf: Long = -1L): Array[Seq[Float]] = {
    val rows = TxnTable.readPruned(spark, path,
      Seq(Bound.LongIn("list", Seq(-2L))), asOf)
      .filter(col("kind") === "c")
      .select(col("i"), col("embedding")).collect()
    require(rows.nonEmpty, s"not a TxnVectorIndex table (no centroids): $path")
    rows.sortBy(_.getInt(0)).map(_.getSeq[Float](1).toSeq)
  }

  /** seq high-water mark + total adds — ONE pruned read (list = −1). */
  private def maxSeq(spark: SparkSession, path: String, asOf: Long): Int = {
    val s = TxnTable.readPruned(spark, path,
      Seq(Bound.LongIn("list", Seq(-1L))), asOf)
      .filter(col("kind") === "s")
      .agg(max(col("seq"))).head()
    require(!s.isNullAt(0),
      s"not a TxnVectorIndex table (no 's' tranche rows): $path")
    s.getInt(0)
  }

  /** Upsert a tranche (MERGE-ON-READ): ONE append-only CAS commit —
    * the vectors assigned with the STORED centroids, a tombstone per
    * incoming id (absent ids' tombstones kill nothing, so no registry
    * read is needed — the commit is O(tranche) regardless of index
    * size), and the tranche's seq row. Same CAS-retry discipline as
    * [[TxnIndex.upsertLazy]]: a lost race recomputes against the fresh
    * snapshot. Run [[compact]] periodically to fold tombstones away.
    */
  def upsertLazy(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, maxAttempts: Int = 10): Long = {
    val spark = vectors.sparkSession
    TxnTable.retryRaces(maxAttempts) { _ =>
      val base = TxnTable.currentVersion(path)
      val seq = maxSeq(spark, path, base) + 1
      val cents = centroids(spark, path, base)
      val data = vectors.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("embedding"))
      val assigned = Similarity.withIvfList(data, cents, "embedding", "list")
      val rows = vRows(assigned, seq)
        .unionAll(tombstoneRows(data.select(col("vec_id")).distinct(), seq))
        .unionAll(trancheRow(spark, data.count(), seq))
      TxnTable.appendCas(spark, path, rows, expectedBase = base,
        clusterBy = clusterKeys,
        partitions = math.max(1, cents.length / 4))
    }
  }

  /** [[upsertLazy]] as an EXACTLY-ONCE streaming sink tranche — the
    * searchable VECTOR stream (the [[TxnIndex.upsertLazyStreamBatch]]
    * role): each micro-batch is ONE append-only commit labeled
    * `stream:<streamId>:<batchId>`, redelivery is a no-op (re-checked
    * inside the CAS retry loop), queries serve any committed snapshot
    * while ingest continues, and re-ingested vec_ids get the full
    * tombstone treatment. `compactEvery` > 0 folds tombstones once
    * the tranche count reaches the threshold (best-effort, after the
    * batch's exactly-once commit).
    * @return the committed version, or None if already applied. */
  def upsertLazyStreamBatch(vectors: DataFrame, idCol: String,
      vecCol: String, path: String, streamId: String, batchId: Long,
      maxAttempts: Int = 10, compactEvery: Int = 0): Option[Long] = {
    val spark = vectors.sparkSession
    def alreadyApplied(): Boolean =
      TxnTable.lastAppliedBatch(path, streamId).exists(_ >= batchId)
    TxnTable.retryRaces(maxAttempts) { _ =>
      if (alreadyApplied()) None
      else {
        val base = TxnTable.currentVersion(path)
        val seq = maxSeq(spark, path, base) + 1
        val cents = centroids(spark, path, base)
        val data = vectors.select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("embedding"))
        val assigned = Similarity.withIvfList(data, cents, "embedding", "list")
        val rows = vRows(assigned, seq)
          .unionAll(tombstoneRows(data.select(col("vec_id")).distinct(), seq))
          .unionAll(trancheRow(spark, data.count(), seq))
        val v = TxnTable.appendCas(spark, path, rows, expectedBase = base,
          clusterBy = clusterKeys,
          partitions = math.max(1, cents.length / 4),
          op = s"stream:$streamId:$batchId")
        if (compactEvery > 0) maybeCompact(spark, path, compactEvery)
        Some(v)
      }
    }
  }

  /** Compact iff the accumulated tranche rows reached `maxTranches` —
    * best-effort (the [[TxnIndex.maybeCompact]] contract: a lost race
    * defers; tombstones are a read tax, never a correctness issue). */
  def maybeCompact(spark: SparkSession, path: String,
      maxTranches: Int): Boolean = {
    val v = TxnTable.currentVersion(path)
    val tranches = TxnTable.readPruned(spark, path,
      Seq(Bound.LongIn("list", Seq(-1L))), v)
      .filter(col("kind") === "s").count()
    if (tranches < maxTranches) false
    else try { compact(spark, path); true }
    catch { case _: TxnTable.TxnConflictException => false }
  }

  /** Delete ids: a tombstone-only CAS commit (O(ids), nothing read or
    * rewritten); [[compact]] reclaims the space physically. */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "vec_id", maxAttempts: Int = 10): Long = {
    TxnTable.retryRaces(maxAttempts) { _ =>
      val base = TxnTable.currentVersion(path)
      val seq = maxSeq(spark, path, base) + 1
      val rows = tombstoneRows(
          ids.select(col(idCol).cast("long").as("vec_id")).distinct(), seq)
        .unionAll(trancheRow(spark, 0L, seq))
      TxnTable.appendCas(spark, path, rows, expectedBase = base,
        clusterBy = clusterKeys, partitions = 1)
    }
  }

  /** ANN top-k served from the committed index at `asOf` (default:
    * latest): probe the `nprobe` lists nearest `query` with the stored
    * quantizer, read ONLY those lists' files (plus the compactable
    * tombstone list), exact cosine rerank inside — bit-identical to
    * [[Similarity.ivfTopKIndexed]] over the index's current logical
    * state (shared assignment, shared rounded-cosine expression). */
  def topK(spark: SparkSession, path: String, query: Seq[Float], k: Int,
      nprobe: Int = 4, asOf: Long = -1L): DataFrame = {
    val v = if (asOf >= 0) asOf else TxnTable.currentVersion(path)
    val cents = centroids(spark, path, v)
    val probe = Similarity.probeLists(cents, query, nprobe)
    val raw = TxnTable.readPruned(spark, path,
      Seq(Bound.LongIn("list", probe.map(_.toLong) :+ -3L)), v)
    val live = applyTombstones(
      raw.filter(col("kind") === "v")
        .filter(col("list").isInCollection(probe)),
      raw.filter(col("kind") === "t"))
    live.select(col("vec_id"),
        round(Similarity.cosineSimilarity(col("embedding"),
          typedlit(query)), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Physically apply tombstones and fold the tranche rows to one —
    * an atomic INSERT OVERWRITE; logical content (and every served
    * answer) unchanged, history readable. Restores the pruning
    * tightness repeated lazy tranches erode. */
  def compact(spark: SparkSession, path: String): Long = {
    val v = TxnTable.currentVersion(path)
    val seq = maxSeq(spark, path, v)
    val nlist = centroids(spark, path, v).length
    val full = TxnTable.read(spark, path, v)
    val kept = applyTombstones(
      full.filter(col("kind").isin("v", "c")),
      full.filter(col("kind") === "t"))
    val n = kept.filter(col("kind") === "v").count()
    TxnTable.overwriteClustered(spark, path,
      kept.unionAll(trancheRow(spark, n, seq)), clusterKeys, nlist + 2)
  }
}
