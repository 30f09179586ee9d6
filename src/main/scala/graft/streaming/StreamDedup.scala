package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TxnTable
import graft.core.TxnTable.Bound
import graft.operators.{Dedup, Similarity}
import graft.plans.BloomMightContain

/** Streaming near-duplicate suppression at ingest — the incremental
  * form of L2's MinHash banding, with TxnTable as the signature store
  * (the one LLM-pipeline shape batch operators can't cover: the corpus
  * grows micro-batch by micro-batch and each batch must dedup against
  * EVERYTHING already accepted, without rescanning it).
  *
  * Protocol per micro-batch:
  *  1. band the batch's documents (md5-derived MinHash, so signatures
  *     are engine-reproducible and stable across sessions/restarts);
  *     each (band, key) row also carries
  *     `bucket = pmod(xxhash64(band, key), nStoreBuckets)` — the store's
  *     physical clustering key;
  *  2. the batch's keys are prefiltered against the store's BLOOM
  *     SIDECAR (one mergeable filter per bucket — see below): keys the
  *     bloom rejects CANNOT collide with any committed signature, so
  *     only bloom-positive candidates probe the store, and the store
  *     read is [[TxnTable.readPruned]] (`LongIn`)-pruned to the candidates'
  *     buckets. A batch of all-new documents reads ZERO store files;
  *     a batch with duplicates reads O(candidate buckets), not
  *     O(store) — per-batch cost tracks the batch, not corpus
  *     lifetime (the scale property a full-store scan lacks);
  *  3. one (band, key) equi-join against the pruned store slice drops
  *     any document colliding with a lower-id document from an earlier
  *     batch; a same-batch self-join applies the identical
  *     lower-id-wins rule inside the batch;
  *  4. survivors land in the kept table; the batch's bloom rows land
  *     in the sidecar; the batch's signatures (kept AND dropped — the
  *     drop rule is "collides with any earlier document", which keeps
  *     the result independent of how the stream was batched) land in
  *     the store, range-clustered by bucket so footer min/max prune
  *     future reads. All three via [[TxnTable.appendStreamBatch]], so
  *     a redelivered batch is a no-op on each table independently.
  *     COMMIT ORDER MATTERS: the bloom commits BEFORE the signatures
  *     it covers, so at every instant bloom ⊇ committed store keys —
  *     a crash between the two leaves the bloom over-approximating
  *     (extra candidates, never a missed collision), and redelivery
  *     heals the store.
  *
  * Bloom sidecar (`<storePath>_bloom`, its own TxnTable): one
  * (bucket, bloom) row per bucket per batch, built with the mergeable
  * [[graft.plans.BloomFilterAgg]]; rows of one bucket OR together
  * (bitwise — same sizing, so a distributed build equals a serial
  * one), and [[foldBloom]] periodically rewrites the accumulated rows
  * to one per bucket (an [[TxnTable.overwrite]] commit) so the
  * per-batch sidecar read stays O(nStoreBuckets), not O(batches).
  * False positives only cost extra bucket reads — the (band, key)
  * equi-join against the store remains the decision procedure — and
  * false negatives are impossible by construction. When a bucket's
  * filter saturates (keys ≫ bits), candidates degrade to "read that
  * bucket", never past the bucket-pruned bound — and the fold pass
  * SELF-TUNES: a saturated sidecar is rebuilt from the store sized to
  * the exact committed key count, so the zero-read gate recovers
  * without operator intervention (one repair scan per size step).
  *
  * The result equals the batch rule "drop d iff some document with a
  * smaller id shares a band" — StreamDedupSpec pins that the kept set
  * is IDENTICAL whether the corpus arrives as 1, 3, or 5 micro-batches,
  * provided ingest order follows ids (the monotonic-id arrival real
  * ingest pipelines have; out-of-order arrival would need the store
  * join's `<` guard plus a reconciliation pass, which is the same
  * compaction-style repair any late-data design needs).
  *
  * Scale shape: the store join is keyed on (band, key) — broadcast
  * while the candidate set is small, shuffle-keyed at web scale; the
  * store is an append-only TxnTable (metadata commits, immutable
  * parquet) whose serving read is bloom-gated and bucket-pruned, so
  * "state" costs zero executor memory between batches and the
  * per-batch read is bounded by the batch's own collisions, unlike
  * mapGroupsWithState whose state must fit the cluster.
  */
object StreamDedup {

  /** One processed micro-batch's store-read accounting, recorded by
    * [[processBatch]] — the in-run seam specs and gates assert pruning
    * against (filesRead ≤ filesLive always; 0 when no candidates). */
  private[graft] final case class StoreScan(streamId: String, batchId: Long,
      filesRead: Int, filesLive: Int, candBuckets: Int)
  private[graft] val scanLog =
    new java.util.concurrent.CopyOnWriteArrayList[StoreScan]()

  /** The seam stays bounded on an always-on stream: keep the most
    * recent entries only (a diagnostic window, not a history). */
  private val ScanLogCap = 256
  private def logScan(s: StoreScan): Unit = {
    scanLog.add(s)
    while (scanLog.size > ScanLogCap) scanLog.remove(0)
  }

  private def bloomPathOf(storePath: String): String =
    storePath.stripSuffix("/") + "_bloom"

  /** Attach the store-layout columns to ANY (id, band, key) band-key
    * frame: (id, band, key, hkey, bucket). The protocol below is
    * banding-agnostic — text MinHash and embedding sign-LSH differ
    * only in how this frame is produced. */
  private def withStoreKeys(bandKeys: DataFrame,
      nStoreBuckets: Int): DataFrame =
    bandKeys.select(col("id"), col("band"), col("key"),
        xxhash64(col("band"), col("key")).as("hkey"))
      .withColumn("bucket", pmod(col("hkey"), lit(nStoreBuckets)).cast("int"))

  /** The text batch's signature frame (md5-MinHash shingle banding). */
  private def sigFrame(batch: DataFrame, shingleLen: Int, numHashes: Int,
      bands: Int, nStoreBuckets: Int): DataFrame =
    withStoreKeys(
      Dedup.minHashBandKeys(batch, "text", "doc_id", shingleLen, numHashes,
          bands)
        .select(col("id"), col("band"), col("key")),
      nStoreBuckets)

  /** The embedding batch's signature frame: md5-Rademacher sign-LSH
    * signature ([[Similarity.withLshSignature]] — engine-reproducible,
    * the l3_lsh discipline) split into `bands` chunks of `bits/bands`
    * sign bits each; two vectors collide on a band iff those bits
    * match, the cosine-LSH analog of MinHash shingle banding. */
  private def embSigFrame(batch: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int, bands: Int, seed: Long,
      nStoreBuckets: Int): DataFrame = {
    require(bits % bands == 0, "bits must divide into equal bands")
    val r = bits / bands
    val sig = Similarity.withLshSignature(batch, dim, bits, seed, vecCol,
      "__sig")
    withStoreKeys(
      sig.select(col(idCol).as("id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("__sig"), r * b).bitwiseAND(lit((1 << r) - 1))
              .cast("string").as("key"))): _*)).as("bk"))
        .select(col("id"), col("bk.band"), col("bk.key")),
      nStoreBuckets)
  }

  /** Start-to-drain a docs stream through the near-dup gate. */
  def runNearDupStream(
      spark: SparkSession,
      streamDocs: DataFrame,
      storePath: String,
      keptPath: String,
      streamId: String,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      nStoreBuckets: Int = 64,
      bloomBytesPerBucket: Int = 1 << 13,
      storeFilesPerBatch: Int = 4,
      compactStoreAtFiles: Int = 256): Unit = {
    val q = streamDocs.writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          processBatch(spark, batch.toDF(), batchId, storePath, keptPath,
            streamId, shingleLen, numHashes, bands, nStoreBuckets,
            bloomBytesPerBucket, storeFilesPerBatch, compactStoreAtFiles)
          ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** One micro-batch of the protocol above (public so specs can drive
    * batches deterministically without a stream).
    * @return the batch's KEPT rows (already committed) — deterministic
    *         to re-evaluate, so downstream pipeline stages (e.g. a
    *         searchable-index sink) can consume the survivors without
    *         re-reading the kept table. */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      keptPath: String,
      streamId: String,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      nStoreBuckets: Int = 64,
      bloomBytesPerBucket: Int = 1 << 13,
      storeFilesPerBatch: Int = 4,
      compactStoreAtFiles: Int = 256): DataFrame =
    processSigs(spark, batch, "doc_id",
      sigFrame(batch, shingleLen, numHashes, bands, nStoreBuckets),
      batchId, storePath, keptPath, streamId, bloomBytesPerBucket,
      storeFilesPerBatch, compactStoreAtFiles)

  /** Start-to-drain an embedding stream through the near-dup gate —
    * [[runNearDupStream]]'s vector twin. */
  def runEmbeddingNearDupStream(
      spark: SparkSession,
      streamVecs: DataFrame,
      storePath: String,
      keptPath: String,
      streamId: String,
      dim: Int,
      bits: Int = 16,
      bands: Int = 4,
      seed: Long = 42L): Unit = {
    val q = streamVecs.writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          processEmbeddingBatch(spark, batch.toDF(), batchId, storePath,
            keptPath, streamId, dim, bits, bands, seed)
          ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** [[processBatch]] for EMBEDDING streams: the identical committed-
    * store protocol (bloom gate, bucket-pruned probe, lower-id-wins,
    * exactly-once commits) over sign-LSH band keys instead of MinHash
    * shingle bands — near-duplicate vectors collide on a band of sign
    * bits. The st14 gate pins it to a DuckDB replay of the signature
    * + banding + batch rule. */
  def processEmbeddingBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      keptPath: String,
      streamId: String,
      dim: Int,
      bits: Int = 16,
      bands: Int = 4,
      seed: Long = 42L,
      nStoreBuckets: Int = 64,
      bloomBytesPerBucket: Int = 1 << 13,
      storeFilesPerBatch: Int = 4,
      compactStoreAtFiles: Int = 256): DataFrame =
    processSigs(spark, batch, "vec_id",
      embSigFrame(batch, "vec_id", "embedding", dim, bits, bands, seed,
        nStoreBuckets),
      batchId, storePath, keptPath, streamId, bloomBytesPerBucket,
      storeFilesPerBatch, compactStoreAtFiles)

  /** The banding-agnostic protocol core (steps 2–4 of the scaladoc). */
  private def processSigs(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      rawSigs: DataFrame,
      batchId: Long,
      storePath: String,
      keptPath: String,
      streamId: String,
      bloomBytesPerBucket: Int,
      storeFilesPerBatch: Int,
      compactStoreAtFiles: Int): DataFrame = {
    val sigs = rawSigs
      .localCheckpoint() // sigs feed 3 consumers; band once, not thrice
    // A store created BEFORE the sidecar existed must get a FULL
    // backfill on first contact: a sidecar covering only post-upgrade
    // batches would let the inner-join gate silently drop collisions
    // with legacy rows (missed duplicates — the invariant is
    // bloom ⊇ committed store keys at every instant, from row one).
    // One store scan, paid exactly once per legacy store.
    if (TxnTable.currentVersion(bloomPathOf(storePath)) < 0 &&
        TxnTable.currentVersion(storePath) >= 0) {
      try TxnTable.create(spark, bloomPathOf(storePath),
        storeBloomRows(spark, storePath, bloomBytesPerBucket))
      catch { case _: TxnTable.TxnConflictException => () }
    }
    // collides with a lower-id document of the SAME batch…
    val batchHits = sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("b.id") < col("a.id"), "left_semi")
      .select(col("a.id"))
    // …or of an EARLIER batch: bloom-gate the batch's keys, then read
    // only the candidates' buckets from the committed signature store
    val sidecar = foldedSidecar(spark, storePath, bloomBytesPerBucket)
    // New rows match the sidecar's CURRENT size, which [[foldBloom]]
    // may have auto-grown past the default — committing default-sized
    // rows beside grown ones would force a repair scan every batch.
    val effBloomBytes = sidecar
      .flatMap(_.iterator.map(_._2.length).maxOption)
      .getOrElse(bloomBytesPerBucket)
    val dropIds = (if (TxnTable.currentVersion(storePath) < 0) batchHits
      else batchHits.unionAll(storeHits(spark, sigs, storePath, streamId,
        batchId, sidecar))).distinct()
    val kept = batch.join(dropIds.withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
    appendOrCreate(spark, keptPath, kept, s"$streamId-kept", batchId)
    // bloom BEFORE sigs — the over-approximation invariant (see above)
    appendOrCreate(spark, bloomPathOf(storePath),
      bloomRows(sigs, effBloomBytes), s"$streamId-bloom", batchId)
    appendOrCreate(spark, storePath,
      sigs.select(col("id"), col("band"), col("key"), col("bucket")),
      s"$streamId-sigs", batchId,
      clusterBy = Seq(col("bucket"), col("key")),
      partitions = storeFilesPerBatch)
    foldBloom(spark, storePath, effBloomBytes)
    maybeCompactStore(spark, storePath, compactStoreAtFiles)
    kept
  }

  /** Per-batch tranches each cover their own bucket sub-ranges, so a
    * candidate bucket matches ~one file of EVERY tranche — without
    * maintenance the dup-case read grows with tranche count, not with
    * the candidate set. Folding the store into one globally
    * bucket-clustered layout (an atomic INSERT OVERWRITE; answers
    * unchanged, history readable) restores "candidate buckets ≈ files
    * read". Best-effort like [[TxnIndex.maybeCompact]]: the stream is
    * the single writer, so the race arm only fires for external
    * maintenance writers. */
  private def maybeCompactStore(spark: SparkSession, storePath: String,
      maxFiles: Int): Unit = {
    if (maxFiles <= 0 || TxnTable.currentVersion(storePath) < 0) return
    val files = TxnTable.snapshotFiles(storePath).size
    if (files <= maxFiles) return
    try TxnTable.overwriteClustered(spark, storePath,
      TxnTable.read(spark, storePath),
      Seq(col("bucket"), col("key")),
      targetFiles = math.max(1, maxFiles / 4))
    catch { case _: TxnTable.TxnConflictException => () }
    ()
  }

  /** (bucket, bloom) rows rebuilt from the FULL committed store — the
    * backfill/repair source: covers every committed key by
    * construction, so the bloom ⊇ committed-store-keys invariant holds
    * the moment these rows commit. One store scan, paid only on legacy
    * first-contact or sizing repair. */
  private def storeBloomRows(spark: SparkSession, storePath: String,
      bloomBytes: Int): DataFrame =
    bloomRows(TxnTable.read(spark, storePath)
      .select(col("bucket"),
        xxhash64(col("band"), col("key")).as("hkey")), bloomBytes)

  /** ids of batch documents colliding with a LOWER-id committed
    * signature — bloom-gated, bucket-pruned (the serving read). */
  private def storeHits(spark: SparkSession, sigs: DataFrame,
      storePath: String, streamId: String, batchId: Long,
      sidecar: Option[Seq[(Int, Array[Byte])]]): DataFrame = {
    import spark.implicits._
    val live = TxnTable.snapshotFiles(storePath).size
    val candidates = sidecar match {
      case Some(folded) =>
        // broadcast the ≤nStoreBuckets (bucket, bloom) rows; the probe
        // is a codegen scalar — map-side, no shuffle. A key whose
        // bucket has no bloom row has no committed sibling: inner join
        // drops it (correct, not just fast).
        sigs.join(broadcast(folded.toDF("bucket", "bloom")), Seq("bucket"))
          .filter(BloomMightContain.bloom_might_contain(col("bloom"),
            col("hkey")))
          .drop("bloom")
      case None => sigs // legacy store without a sidecar: no gate
    }
    val candBuckets = candidates.select(col("bucket").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (candBuckets.isEmpty) {
      logScan(StoreScan(streamId, batchId, 0, live, 0))
      sigs.select(col("id")).limit(0)
    } else {
      val pruned = TxnTable.readPruned(spark, storePath,
        Seq(Bound.LongIn("bucket", candBuckets)))
      val read = pruned.inputFiles.length
      // in-run pruning invariant, checked on EVERY batch of every run
      require(read <= live,
        s"store read $read files of a $live-file snapshot")
      logScan(StoreScan(streamId, batchId, read, live,
        candBuckets.size))
      candidates.join(pruned
          .select(col("band").as("s_band"), col("key").as("s_key"),
            col("id").as("s_id")),
        col("band") === col("s_band") && col("key") === col("s_key") &&
          col("s_id") < col("id"), "left_semi")
        .select(col("id"))
    }
  }

  /** The batch's (bucket, bloom) sidecar rows — one mergeable filter
    * per bucket over xxhash64(band, key). */
  private def bloomRows(sigs: DataFrame, bloomBytes: Int): DataFrame =
    sigs.groupBy(col("bucket"))
      .agg(BloomMightContain.bloom_agg(col("hkey"), bloomBytes).as("bloom"))

  /** Per-version cache of the OR-folded sidecar: the stream is the
    * sidecar's only writer, so between its own commits the merged
    * filter is immutable — keying the cache on (path, committed
    * version) makes staleness impossible (any commit bumps the
    * version) while cutting the per-batch sidecar cost from
    * O(nStoreBuckets·bloomBytes) re-collects to O(1) lookups.
    * Bounded: a handful of store paths per process. */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Seq[(Int, Array[Byte])])]()

  /** All sidecar rows OR-folded to one filter per bucket, driver-side
    * (the sidecar is metadata-scale: ≤ nStoreBuckets rows after a fold,
    * + nStoreBuckets per unfolded batch). None if no sidecar exists.
    *
    * Sizing drift (bloomBytesPerBucket changed across a restart, or a
    * default-sized batch row landing beside auto-grown rows) is
    * SELF-HEALING: mixed-length rows can't be OR-merged (different
    * hash spaces), so the sidecar is rebuilt from the full store —
    * at the LARGEST size present (never shrinking an auto-grown
    * sidecar back to the default) — and overwritten in place. One
    * repair scan, not a permanently poisoned sidecar failing every
    * batch. */
  private def foldedSidecar(spark: SparkSession, storePath: String,
      defaultBytes: Int): Option[Seq[(Int, Array[Byte])]] = {
    import spark.implicits._
    val bloomPath = bloomPathOf(storePath)
    try TxnTable.retryRaces(7) { _ =>
      val v = TxnTable.currentVersion(bloomPath)
      val cached = bloomCache.get(bloomPath)
      if (v < 0) None
      else if (cached != null && cached._1 == v) Some(cached._2)
      else {
        if (bloomCache.size > 64) bloomCache.clear() // bound, not LRU
        val rows = TxnTable.read(spark, bloomPath).collect()
          .map(r => (r.getInt(0), r.getAs[Array[Byte]](1))).toSeq
        val (ver, f) =
          try (v, orFold(rows))
          catch {
            case _: IllegalArgumentException =>
              // mixed sizing → rebuild from the full store at the largest
              // size present and overwrite the sidecar in place
              val target = math.max(defaultBytes, rows.iterator
                .map(_._2.length).maxOption.getOrElse(defaultBytes))
              val rebuilt = storeBloomRows(spark, storePath, target)
                .collect().map(r => (r.getInt(0), r.getAs[Array[Byte]](1)))
                .toSeq
              // cache (and RETURN) only a fold whose version this repair
              // owns: on a lost overwrite race both the cached and the
              // in-flight fold would miss the winner's keys — the false
              // negative this module promises is impossible — so the
              // loser's next attempt re-reads the sidecar at the
              // winner's version instead of using its stale rebuild
              (TxnTable.overwrite(spark, bloomPath,
                rebuilt.toDF("bucket", "bloom")),
                orFold(rebuilt)) // rebuilt rows uniform by construction
          }
        bloomCache.put(bloomPath, (ver, f))
        Some(f)
      }
    } catch {
      // pathological contention: give up on the gate this batch — None
      // means the caller probes the store UNgated (correct, just slower)
      case _: TxnTable.TxnConflictException => None
    }
  }

  private def orFold(rows: Seq[(Int, Array[Byte])]): Seq[(Int, Array[Byte])] =
    rows.groupBy(_._1).map { case (b, rs) =>
      val bufs = rs.map(_._2)
      require(bufs.forall(_.length == bufs.head.length),
        s"bloom sizing drift in bucket $b: OR-merge needs uniform bits")
      val out = new Array[Byte](bufs.head.length)
      bufs.foreach { bf =>
        var i = 0
        while (i < out.length) { out(i) = (out(i) | bf(i)).toByte; i += 1 }
      }
      (b, out)
    }.toSeq.sortBy(_._1)

  /** How many sidecar commits between folds (test seam: specs shrink
    * it to exercise the fold/auto-grow loops in few batches). */
  private[graft] var BloomFoldCadence = 16

  /** A folded bucket filter past this set-bit fraction has lost its
    * pruning power (the false-positive rate races toward 1) — the fold
    * auto-grows the sidecar instead of folding in place. */
  private val SaturationFill = 0.5

  /** Target bits per committed key when auto-growing (fill ≈ 0.44
    * after rebuild — below the saturation trigger, so sizing is
    * stable; fp ≈ 0.4% with the pinned k=7). */
  private val GrowBitsPerKey = 12

  /** Fold the sidecar to one row per bucket on a COMMIT-COUNT cadence
    * (every ~16 versions) — the trigger costs one version lookup, not
    * a table read, so quiet batches pay nothing; the unfolded row
    * count stays ≤ cadence·nStoreBuckets + nStoreBuckets between
    * folds. Best-effort maintenance (a lost overwrite race defers to
    * the next trigger; the fold changes no answers, only read cost).
    *
    * SELF-TUNING: when a folded bucket saturates (set-bit fraction >
    * [[SaturationFill]] — its gate passes ~everything and all-new
    * batches stop reading zero files), the fold REBUILDS the sidecar
    * from the store instead, sized from the exact committed key count
    * at [[GrowBitsPerKey]] bits/key (min 2× current, so progress is
    * guaranteed). Subsequent batch rows adopt the grown size (see
    * `effBloomBytes` in processSigs), so growth costs one repair scan
    * per size step, not per batch. */
  private def foldBloom(spark: SparkSession, storePath: String,
      curBytes: Int): Unit = {
    val bloomPath = bloomPathOf(storePath)
    val v = TxnTable.currentVersion(bloomPath)
    if (v <= 0 || v % BloomFoldCadence != 0) return
    val rows = TxnTable.read(spark, bloomPath).collect()
      .map(r => (r.getInt(0), r.getAs[Array[Byte]](1))).toSeq
    import spark.implicits._
    // drift-tolerant: a mixed-size sidecar defers to foldedSidecar's
    // self-heal at the next probe instead of failing this batch
    try {
      val folded = orFold(rows)
      val maxFill = folded.iterator.map { case (_, b) =>
        var bits = 0
        b.foreach(x => bits += java.lang.Integer.bitCount(x & 0xff))
        bits.toDouble / (b.length * 8L)
      }.maxOption.getOrElse(0.0)
      val storeV = TxnTable.currentVersion(storePath)
      if (maxFill > SaturationFill && storeV >= 0) {
        val mk = TxnTable.read(spark, storePath)
          .groupBy(col("bucket"))
          .agg(countDistinct(xxhash64(col("band"), col("key"))).as("n"))
          .agg(max(col("n"))).head()
        val maxKeys = if (mk.isNullAt(0)) 0L else mk.getLong(0)
        if (maxKeys > 0) {
          val target = math.max(curBytes * 2,
            graft.plans.BloomUtil.sizing(maxKeys, GrowBitsPerKey)._1)
          TxnTable.overwrite(spark, bloomPath,
            storeBloomRows(spark, storePath, target))
        }
      } else {
        TxnTable.overwrite(spark, bloomPath, folded.toDF("bucket", "bloom"))
        ()
      }
    } catch {
      case _: TxnTable.TxnConflictException => ()
      case _: IllegalArgumentException => ()
    }
    ()
  }

  /** Reconciliation pass for OUT-OF-ORDER arrival — the compaction-style
    * repair the monotonic-id contract otherwise requires. Ingest order
    * can only err in one direction: every drop decision cites a
    * genuinely lower-id collider (so nothing is ever wrongly dropped),
    * but a document kept early can be invalidated by a LATER-arriving
    * lower-id collider. The repair is therefore a pure kept-table
    * delete: one self-join of the committed signature store finds every
    * kept id that collides with any lower-id signature, and
    * [[TxnTable.deleteMatching]] removes those docs in one commit —
    * distributive end to end (the doomed set is a DataFrame, never a
    * driver-side list). After reconcile, the kept table equals the
    * batch rule regardless of arrival order (st12b gate + spec).
    *
    * Scale shape: a maintenance pass over the WHOLE store by design
    * (both join sides are the store — there is nothing to prune
    * against); the bucket-clustered layout keeps the self-join's
    * shuffle keyed and skew-free, and idempotence (a second run
    * deletes nothing) lets it ride any maintenance schedule.
    */
  def reconcile(spark: SparkSession, storePath: String,
      keptPath: String): Long = {
    val store = TxnTable.read(spark, storePath)
    val doomed = store.as("a")
      .join(store.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("b.id") < col("a.id"), "left_semi")
      .select(col("a.id").as("doc_id")).distinct()
    TxnTable.deleteMatching(spark, keptPath, doomed, Seq("doc_id"))
  }

  /** Exactly-once append that also creates the table on first sight.
    * The create commits the SCHEMA only (zero rows), so every data
    * batch — including the first — goes through appendStreamBatch and
    * is replay-protected by its recorded batch id; a lost create race
    * just falls through. */
  private def appendOrCreate(spark: SparkSession, path: String,
      df: DataFrame, streamId: String, batchId: Long,
      clusterBy: Seq[Column] = Nil, partitions: Int = 1): Unit = {
    if (TxnTable.currentVersion(path) < 0) {
      try TxnTable.create(spark, path, df.limit(0))
      catch { case _: TxnTable.TxnConflictException => () }
    }
    TxnTable.appendStreamBatch(spark, path, df, streamId, batchId,
      partitions = partitions, clusterBy = clusterBy)
    ()
  }
}
