package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.core.Lake
import graft.streaming.EventStreams

/** Gate entries for the streaming surface (SURVEY.md §2.9). Each runs a
  * real Structured Streaming query (file source → stateful op → memory
  * sink) to completion and is checked against the BATCH DuckDB oracle —
  * Structured Streaming's batch-equivalence property makes that a valid
  * correctness check. Complete output mode is used so finite input
  * flushes every window (append mode would hold back windows newer than
  * the final watermark).
  */
object StreamingQueries {

  /** ST1: tumbling 1-hour windows == batch date_trunc aggregation. */
  def st1Tumbling(spark: SparkSession, dir: String): DataFrame =
    EventStreams.runToMemoryForGate(spark,
        EventStreams.tumblingCounts(EventStreams.readEventsStream(spark, dir)),
        "st1_mem", "complete")
      .orderBy(col("h"), col("event_type"))

  /** ST2: sliding 1h/15min windows == batch bucket-expansion SQL. */
  def st2Sliding(spark: SparkSession, dir: String): DataFrame =
    EventStreams.runToMemoryForGate(spark,
        EventStreams.slidingCounts(EventStreams.readEventsStream(spark, dir)),
        "st2_mem", "complete")
      .orderBy(col("ws"), col("event_type"))

  /** ST3: streaming session windows == the lag/running-sum batch oracle
    * (same oracle as q17 — three independent formulations must agree).
    */
  def st3Session(spark: SparkSession, dir: String): DataFrame =
    EventStreams.runToMemoryForGate(spark,
        EventStreams.sessionCounts(EventStreams.readEventsStream(spark, dir)),
        "st3_mem", "complete")
      .orderBy(col("user_id"), col("st"))

  /** ST4: stateful dedup — the stream is deliberately DOUBLED (union of
    * two copies of the source) so dropDuplicates has real work; the final
    * count must equal the batch distinct count.
    */
  def st4DedupCount(spark: SparkSession, dir: String): DataFrame = {
    val doubled = EventStreams.readEventsStream(spark, dir)
      .unionByName(EventStreams.readEventsStream(spark, dir))
    EventStreams.runToMemoryForGate(spark,
      EventStreams.dedup(doubled).groupBy().agg(count(lit(1)).as("c")),
      "st4_mem", "complete")
  }

  /** ST5: the PRODUCTION streaming shape — file source in micro-batches →
    * watermarked tumbling agg → parquet FILE sink + checkpoint, append
    * mode. A sentinel event 2 h past the last real event pushes the final
    * watermark so every real window flushes; the sentinel's own window is
    * filtered back out. Must equal the same batch oracle as st1 — which
    * pins that append-mode emission (each window exactly once, via the
    * checkpoint offset log + _spark_metadata commit log) loses nothing.
    * Kill-and-restart recovery on the same checkpoint is proven in
    * StreamingRecoverySpec.
    */
  def st5FileSink(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val staging = Files.createTempDirectory("graft_st5_in").toString
    val outP = Files.createTempDirectory("graft_st5_out").toString
    val ckpt = Files.createTempDirectory("graft_st5_ck").toString
    EventStreams.stageEventsWithSentinel(spark, dir, staging)
    val q = EventStreams.startTumblingFileSink(spark, staging, outP, ckpt)
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(outP)
      .filter(col("event_type") =!= EventStreams.SentinelType)
      .orderBy(col("h"), col("event_type"))
  }

  /** ST6: watermarked stream-stream inner join (purchase ⋈ prior-6 h
    * clicks per user) == the batch BETWEEN join. Inner joins emit on
    * match, so append mode flushes everything on finite input; the
    * watermarks exist to bound state, proven equivalent by the oracle.
    */
  def st6StreamJoin(spark: SparkSession, dir: String): DataFrame =
    EventStreams.runToMemoryForGate(spark,
        EventStreams.purchaseClickJoin(
          EventStreams.readEventsStream(spark, dir),
          EventStreams.readEventsStream(spark, dir)),
        "st6_mem", "append")
      .orderBy(col("purchase_id"), col("click_id"))

  /** ST7: streaming CDC apply — micro-batches merged into a keyed
    * snapshot (latest event per user) via foreachBatch + applyUpserts,
    * double-buffered parquet dirs. Final snapshot must equal the batch
    * keep-latest oracle regardless of how the replay was batched.
    */
  def st7UpsertSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val staging = Files.createTempDirectory("graft_st7_in").toString
    val work = Files.createTempDirectory("graft_st7_snap").toString
    EventStreams.stageEventsWithSentinel(spark, dir, staging)
    val snap = EventStreams.runUpsertSnapshot(spark, staging, work)
    spark.read.parquet(snap)
      .agg(
        count(lit(1)).as("users"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("latest_sum"),
        max(col("version")).as("max_version"))
  }

  /** ST8: trending top-3 event types per day — streaming daily counts
    * (watermarked tumbling windows, bounded state) with the rank-and-cut
    * applied to the materialized sink, the standard stream/dashboard
    * split. Checked against the batch date_trunc + row_number oracle.
    */
  def st8Trending(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = EventStreams.runToMemoryForGate(spark,
      EventStreams.dailyTypeCounts(EventStreams.readEventsStream(spark, dir)),
      "st8_mem", "complete")
    counts
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("d")).orderBy(col("c").desc, col("event_type"))))
      .filter(col("rn") <= 3)
      .select(col("d"), col("event_type"), col("c"), col("rn").cast("long").as("rn"))
      .orderBy(col("d"), col("rn"))
  }

  /** ST9: stream-static enrichment — streaming events inner-joined to
    * the static customer dimension (user_id = c_custkey), aggregated per
    * (segment, event_type). The static side holds no state and needs no
    * watermark; checked against the plain batch join oracle.
    */
  def st9StreamStatic(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.core.Lake.table(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    EventStreams.runToMemoryForGate(spark,
        EventStreams.enrichWithDim(
          EventStreams.readEventsStream(spark, dir), dim),
        "st9_mem", "complete")
      .orderBy(col("segment"), col("event_type"))
  }

  /** ST10: incremental crawl × streaming — the two continuously-running
    * halves of the engine composed. A temp lake holds two quiet static
    * tables plus a streaming parquet sink; the stream commits the first
    * tranche of micro-batches, snapshot 1 is crawled, the stream then
    * commits a second tranche (same checkpoint — a real restart), and
    * the incremental re-crawl must report EXACTLY the streamed-to
    * dataset as changed with zero false drift on the quiet tables; a
    * second re-crawl with the stream idle must report everything
    * unchanged. This is the daily life of a crawler over a live lake:
    * O(changed data) work, no spurious re-profiling.
    */
  def st10CrawlStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.core.Lake
    import graft.crawler.CatalogStore
    val lake = Files.createTempDirectory("graft_st10_lake").toString
    val staging = Files.createTempDirectory("graft_st10_in").toString
    val ckpt = Files.createTempDirectory("graft_st10_ck").toString
    val Seq(snap1, snap2, snap3) = Seq("s1", "s2", "s3")
      .map(s => Files.createTempDirectory(s"graft_st10_$s").toString)
    Lake.table(spark, dir, "nation").coalesce(1).write.parquet(s"$lake/nation")
    Lake.table(spark, dir, "region").coalesce(1).write.parquet(s"$lake/region")
    val ev = Lake.table(spark, dir, "events")
    val mm = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
    val (minMs, maxMs) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    def stage(loMs: Long, hiMs: Long, nFiles: Int): Unit = {
      val step = math.max(1L, (hiMs - loMs) / nFiles + 1)
      (0 until nFiles).foreach { i =>
        ev.filter(col("ts") >= lit(new java.sql.Timestamp(loMs + i * step)) &&
            col("ts") < lit(new java.sql.Timestamp(loMs + (i + 1) * step)))
          .coalesce(1).write.mode("append").parquet(staging)
      }
    }
    def runStream(): Unit = {
      val q = EventStreams.startTumblingFileSink(
        spark, staging, s"$lake/hourly", ckpt, maxFilesPerTrigger = 1)
      try q.processAllAvailable() finally q.stop()
    }
    val midMs = minMs + (maxMs - minMs) / 2
    stage(minMs, midMs, 3)
    runStream()
    CatalogStore.crawl(spark, lake, snap1)
    stage(midMs, maxMs + 1, 2)
    ev.limit(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxMs + 2 * 3600 * 1000L)).as("ts"),
        lit(-1L).as("user_id"),
        lit(EventStreams.SentinelType).as("event_type"),
        lit(0.0).as("value"),
        lit("{}").as("props"))
      .write.mode("append").parquet(staging)
    runStream()
    val afterStream = CatalogStore.incrementalCrawl(spark, lake, snap1, snap2)
    val quiet = CatalogStore.incrementalCrawl(spark, lake, snap2, snap3)
    import spark.implicits._
    Seq(afterStream, quiet).zip(Seq("after_stream", "quiet")).map {
      case (d, phase) => (phase, d.unchanged.mkString(","),
        d.changed.mkString(","), d.added.size.toLong, d.removed.size.toLong)
    }.toDF("phase", "unchanged", "changed", "added", "removed")
      .orderBy(col("phase"))
  }

  /** ST11: streaming ingest through the Gopher repetition gate — the
    * round-7 quality signals (top-2-gram char share, duplicate-5-gram
    * fraction) applied as a STREAMING filter, aggregated per language.
    * The signals are pure map-side Column expressions, so the streaming
    * plan is scan→filter→aggregate with only lang-keyed state — the
    * curation-at-ingest shape: at production scale the same filter
    * rides the micro-batch, and only accepted docs reach the sink.
    */
  def st11QualityFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = EventStreams.readDocsStream(spark, dir)
    val kept = docs.filter(
      TextFunctions.topNgramCharFrac(col("text"), 2) < 0.2 &&
        TextFunctions.dupNgramFrac(col("text"), 5) < 0.2)
    EventStreams.runToMemoryForGate(spark,
        kept.groupBy(col("lang"))
          .agg(count(lit(1)).as("kept"), sum(col("n_chars")).as("chars_kept")),
        "st11_mem", "complete")
      .orderBy(col("lang"))
  }

  /** ST12: streaming NEAR-DUP suppression at ingest — L2's MinHash
    * banding run incrementally, with TxnTable as the committed
    * signature store (StreamDedup). The corpus arrives as three
    * id-ordered micro-batches (maxFilesPerTrigger=1 over mtime-ordered
    * staged files — monotonic-id arrival, the real ingest shape); each
    * batch dedups against every earlier batch via one (band, key) join
    * against the store, never a rescan. The oracle replays the
    * md5-MinHash banding in SQL and applies the batch rule "drop d iff
    * a lower-id document shares a band" — the stream must land exactly
    * there, and StreamDedupSpec additionally pins that 1/3/5-batch
    * splits give identical kept sets.
    */
  def st12StreamNeardup(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.core.{Lake, TxnTable}
    val staging = Files.createTempDirectory("graft_st12_in").toString
    val store = Files.createTempDirectory("graft_st12_store").toString + "/t"
    val kept = Files.createTempDirectory("graft_st12_kept").toString + "/t"
    val docs = Lake.table(spark, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val step = mx / 3 + 1
    (0 until 3).foreach { i =>
      val tmp = Files.createTempDirectory(s"graft_st12_t$i").toString
      docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(staging, f"f$i%d.parquet")
      Files.move(part.toPath, dst.toPath)
      // strictly increasing mtimes pin the file-source batch order
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val sch = spark.read.parquet(staging).schema
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(staging)
    graft.streaming.StreamDedup.runNearDupStream(
      spark, stream, store, kept, "st12")
    TxnTable.read(spark, kept)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept"), sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("source"))
  }

  /** ST12b: near-dup suppression when the stream arrives OUT of id
    * order (batches grouped by doc_id % 3, so lower ids land after
    * higher ones), then [[graft.streaming.StreamDedup.reconcile]]
    * repairs the kept table from the committed signature store. The
    * result must STILL equal the batch lower-id-wins rule — the same
    * oracle as st12 — proving the repair closes the one direction
    * out-of-order arrival can err in (wrongly-kept docs).
    */
  def st12bStreamRepair(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.core.{Lake, TxnTable}
    val staging = Files.createTempDirectory("graft_st12b_in").toString
    val store = Files.createTempDirectory("graft_st12b_store").toString + "/t"
    val kept = Files.createTempDirectory("graft_st12b_kept").toString + "/t"
    val docs = Lake.table(spark, dir, "documents")
    // residue classes arrive high-to-low: a doc's lower-id collider is
    // in a LATER batch with probability ~2/3 — the adversarial order
    (0 until 3).foreach { i =>
      val tmp = Files.createTempDirectory(s"graft_st12b_t$i").toString
      docs.filter(col("doc_id") % 3 === (2 - i))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(staging, f"f$i%d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val sch = spark.read.parquet(staging).schema
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(staging)
    graft.streaming.StreamDedup.runNearDupStream(
      spark, stream, store, kept, "st12b")
    graft.streaming.StreamDedup.reconcile(spark, store, kept)
    TxnTable.read(spark, kept)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept"), sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("source"))
  }

  /** ST13: the SEARCHABLE STREAM — documents stream into the
    * transactional text index micro-batch by micro-batch
    * ([[graft.operators.TxnIndex.upsertLazyStreamBatch]]: each batch is
    * ONE append-only commit labeled with its batch id), and after the
    * drain the served BM25 top-k must hash-match the SAME rescan oracle
    * as l32 — ingest mode must never leak into retrieval results.
    * In-run asserts: every index commit was append-only (zero files
    * rewritten), and a redelivered final batch (checkpoint recovery) is
    * a no-op on the log.
    */
  def st13StreamIndex(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import spark.implicits._
    import graft.core.{Lake, TxnTable}
    import graft.operators.TxnIndex
    val staging = Files.createTempDirectory("graft_st13_in").toString
    val idx = Files.createTempDirectory("graft_st13_idx").toString + "/t"
    val docs = Lake.table(spark, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val step = mx / 3 + 1
    (0 until 3).foreach { i =>
      val tmp = Files.createTempDirectory(s"graft_st13_t$i").toString
      docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(staging, f"f$i%d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    TxnIndex.build(docs.select(col("doc_id"), col("text")).limit(0),
      "doc_id", "text", idx, 16)
    val sch = spark.read.parquet(staging).schema
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(staging)
    var lastBatch = -1L
    val q = stream.writeStream.outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          TxnIndex.upsertLazyStreamBatch(batch.toDF(), "doc_id", "text",
            idx, "st13", batchId)
          lastBatch = math.max(lastBatch, batchId)
          ()
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    require(TxnTable.commits(idx).forall(_.removes.isEmpty),
      "streaming index ingest must be append-only")
    // checkpoint recovery redelivers the last batch: must be a no-op
    val vBefore = TxnTable.currentVersion(idx)
    val redo = TxnIndex.upsertLazyStreamBatch(
      spark.read.parquet(s"$staging/f2.parquet"), "doc_id", "text",
      idx, "st13", lastBatch)
    require(redo.isEmpty && TxnTable.currentVersion(idx) == vBefore,
      "redelivered batch must be a no-op")
    TxnIndex.bm25TopK(spark, idx,
      Seq("dup", "join", "vector", "window"), 25)
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      .toDF("doc_id", "score")
  }

  /** ST14: streaming EMBEDDING near-dup at ingest — the st12 protocol
    * (committed signature store, bloom gate, bucket-pruned probe,
    * lower-id-wins, exactly-once commits) over sign-LSH band keys
    * instead of MinHash shingle bands: the md5-Rademacher 16-bit
    * signature ([[graft.operators.Similarity.withLshSignature]], the
    * l3_lsh discipline) split into four 4-bit bands; vectors whose
    * cosine is high collide on a band. The corpus arrives as three
    * id-ordered micro-batches; the oracle replays signature → banding
    * → the batch rule in SQL, so the stream must land exactly there.
    */
  def st14StreamEmbDedup(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.core.{Lake, TxnTable}
    val store = Files.createTempDirectory("graft_st14_store").toString + "/t"
    val kept = Files.createTempDirectory("graft_st14_kept").toString + "/t"
    val emb = Lake.table(spark, dir, "embeddings")
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    val step = mx / 3 + 1
    // driven batch-by-batch (the deterministic form the specs use; the
    // real-stream plumbing is identical to st12's and gate-covered there)
    (0 until 3).foreach { i =>
      val batch = emb.filter(
        col("vec_id") >= i * step && col("vec_id") < (i + 1) * step)
      graft.streaming.StreamDedup.processEmbeddingBatch(
        spark, batch, i.toLong, store, kept, "st14", dim = 64)
    }
    TxnTable.read(spark, kept)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("kept"), sum(col("vec_id")).as("id_checksum"))
      .orderBy(col("label"))
  }

  /** ST15: the SEARCHABLE VECTOR STREAM — embeddings stream into the
    * transactional IVF index micro-batch by micro-batch
    * ([[graft.operators.TxnVectorIndex.upsertLazyStreamBatch]]: each
    * batch ONE append-only commit labeled with its batch id,
    * exactly-once under redelivery), assigned with the index's FROZEN
    * quantizer. The batches re-ingest the corpus with IDENTICAL
    * vectors — physically tombstone tranches, logically a no-op — so
    * the post-drain serve must STILL match l3c's IVF oracle: streaming
    * ingest mode never leaks into retrieval. In-run asserts:
    * append-only commits, redelivered batch is a version-level no-op,
    * and a compaction after the drain changes nothing served.
    */
  def st15StreamVecIndex(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.core.{Lake, TxnTable}
    import graft.operators.TxnVectorIndex
    val nlist = 8; val nprobe = 3; val k = 10
    val emb = Lake.table(spark, dir, "embeddings")
    val data = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val idx = Files.createTempDirectory("graft_st15").toString + "/idx"
    TxnVectorIndex.build(data, "vec_id", "embedding", idx, nlist)
    val pre = TxnVectorIndex.topK(spark, idx, q, k, nprobe).collect().toSeq
    val mx = data.agg(max(col("vec_id"))).head().getLong(0)
    val step = mx / 3 + 1
    (0 until 3).foreach { i =>
      val batch = data.filter(
        col("vec_id") >= i * step && col("vec_id") < (i + 1) * step)
      val v = TxnVectorIndex.upsertLazyStreamBatch(batch, "vec_id",
        "embedding", idx, "st15", i.toLong)
      require(v.nonEmpty, s"batch $i must commit")
      require(TxnTable.commits(idx).last.removes.isEmpty,
        "streaming vector tranche rewrote files")
    }
    // redelivery of the last batch is a version-level no-op
    val vBefore = TxnTable.currentVersion(idx)
    val redo = TxnVectorIndex.upsertLazyStreamBatch(
      data.filter(col("vec_id") >= 2 * step), "vec_id", "embedding",
      idx, "st15", 2L)
    require(redo.isEmpty && TxnTable.currentVersion(idx) == vBefore,
      "redelivered batch must be a no-op")
    require(TxnVectorIndex.topK(spark, idx, q, k, nprobe)
      .collect().toSeq == pre, "same-value streaming re-ingest drifted")
    TxnVectorIndex.compact(spark, idx)
    val fin = TxnVectorIndex.topK(spark, idx, q, k, nprobe).collect()
    require(fin.toSeq == pre, "compaction moved the served top-k")
    import spark.implicits._
    fin.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .toDF("vec_id", "sim")
  }

  /** ST16: the STREAMING CURATION PIPELINE — the whole ingest path
    * composed in one pass per micro-batch, the shape a production
    * training-data pipeline actually runs:
    *
    *   quality gate (langid=en ∧ sigmoid quality ≥ 0.6, map-side)
    *     → near-dup gate (the ST12 committed-store protocol over the
    *       SURVIVORS — signatures of filtered-out docs are never even
    *       computed)
    *     → searchable index (each batch's kept docs ONE append-only
    *       TxnIndex commit, exactly-once by batch id).
    *
    * The oracle composes the three stages' proven SQL replays — the p1
    * quality CTEs, the st12 banding CTEs applied to the FILTERED set,
    * and the l32 BM25 CTEs over the kept set — so the served top-k
    * must equal a batch replay of the entire pipeline. In-run asserts:
    * an end-to-end redelivery of the last batch leaves all three
    * tables at their versions (exactly-once composes), and the index
    * serve never rescans a corpus.
    */
  def st16StreamCuration(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.core.{Lake, TxnTable}
    import graft.functions.TextFunctions
    import graft.operators.TxnIndex
    val store = Files.createTempDirectory("graft_st16_store").toString + "/t"
    val kept = Files.createTempDirectory("graft_st16_kept").toString + "/t"
    val idx = Files.createTempDirectory("graft_st16_idx").toString + "/t"
    val docs = Lake.table(spark, dir, "documents")
    TxnIndex.build(docs.select(col("doc_id"), col("text")).limit(0),
      "doc_id", "text", idx, nBuckets = 16)
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val step = mx / 3 + 1
    def runBatch(i: Long): Unit = {
      val batch = docs.filter(
        col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)
      val passed = batch.filter(
        TextFunctions.langId(col("text")) === "en" &&
          TextFunctions.qualityScore(col("text")) >= 0.6)
      val keptBatch = graft.streaming.StreamDedup.processBatch(
        spark, passed, i, store, kept, "st16")
      TxnIndex.upsertLazyStreamBatch(
        keptBatch.select(col("doc_id"), col("text")),
        "doc_id", "text", idx, "st16", i)
      ()
    }
    (0L until 3L).foreach(runBatch)
    // end-to-end redelivery of the last batch: every stage is a no-op
    val (vK, vS, vI) = (TxnTable.currentVersion(kept),
      TxnTable.currentVersion(store), TxnTable.currentVersion(idx))
    runBatch(2L)
    require(TxnTable.currentVersion(kept) == vK &&
      TxnTable.currentVersion(store) == vS &&
      TxnTable.currentVersion(idx) == vI,
      "redelivered batch must be a no-op across the WHOLE pipeline")
    import spark.implicits._
    TxnIndex.bm25TopK(spark, idx,
        Seq("dup", "join", "vector", "window"), 25)
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      .toDF("doc_id", "score")
  }

  /** ST17: the streaming EMBEDDING curation pipeline — st16's vector
    * twin, the whole vector ingest path composed per micro-batch:
    *
    *   embedding quality gate (dimension sanity ∧ no spike component:
    *     max |x| ≤ 0.35 — order-independent, so engine-exact at any
    *     threshold; map-side)
    *     → ST14's committed-store sign-LSH near-dup over the SURVIVORS
    *     → ST15's transactional IVF ingest (each batch's kept vectors
    *       ONE append-only commit, exactly-once by batch id).
    *
    * The coarse quantizer trains on the quality-passed corpus up front
    * ([[graft.operators.TxnVectorIndex.buildEmpty]] — the batch
    * bootstrap every IVF system does) and is FROZEN; ingest then
    * streams. The oracle is ONE WITH chain composing the quality
    * filter, st14's banding CTEs over the filtered set, and the l3c
    * IVF probe replay (md5 centroids from the filtered set, assignment
    * + probe + rounded-cosine rerank over the kept set). In-run: an
    * end-to-end redelivery of the last batch leaves store, kept table,
    * AND index at their versions.
    */
  def st17StreamEmbCuration(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.core.{Lake, TxnTable}
    import graft.operators.TxnVectorIndex
    val nlist = 8; val nprobe = 3; val k = 10
    val store = Files.createTempDirectory("graft_st17_store").toString + "/t"
    val kept = Files.createTempDirectory("graft_st17_kept").toString + "/t"
    val idx = Files.createTempDirectory("graft_st17_idx").toString + "/idx"
    val emb = Lake.table(spark, dir, "embeddings")
    val data = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val qualityOk =
      size(col("embedding")) === 64 &&
        array_max(transform(col("embedding"),
          x => abs(x.cast("double")))) <= 0.35
    TxnVectorIndex.buildEmpty(data.filter(qualityOk), "vec_id", "embedding",
      idx, nlist)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val mx = data.agg(max(col("vec_id"))).head().getLong(0)
    val step = mx / 3 + 1
    def runBatch(i: Long): Unit = {
      val batch = data.filter(
        col("vec_id") >= i * step && col("vec_id") < (i + 1) * step)
      val passed = batch.filter(qualityOk)
      // 32-bit signature in two 16-bit bands: only GENUINE near-dups
      // collide (4-bit bands would band-collide most of the corpus —
      // right for st14's rule-check, degenerate for a curation gate)
      val keptBatch = graft.streaming.StreamDedup.processEmbeddingBatch(
        spark, passed, i, store, kept, "st17", dim = 64, bits = 32,
        bands = 2)
      TxnVectorIndex.upsertLazyStreamBatch(
        keptBatch.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", idx, "st17", i)
      ()
    }
    (0L until 3L).foreach(runBatch)
    // end-to-end redelivery of the last batch: every stage is a no-op
    val (vK, vS, vI) = (TxnTable.currentVersion(kept),
      TxnTable.currentVersion(store), TxnTable.currentVersion(idx))
    runBatch(2L)
    require(TxnTable.currentVersion(kept) == vK &&
      TxnTable.currentVersion(store) == vS &&
      TxnTable.currentVersion(idx) == vI,
      "redelivered batch must be a no-op across the WHOLE vector pipeline")
    import spark.implicits._
    TxnVectorIndex.topK(spark, idx, q, k, nprobe)
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      .toDF("vec_id", "sim")
  }

  /** ST18: CONTINUOUS incremental view maintenance — a Structured
    * Streaming query follows the txn table's COMMIT LOG (the
    * [[graft.streaming.TxnLogSourceProvider]] micro-batch source,
    * offsets = versions, checkpointed) and folds each batch's
    * file-scoped change images into a min/max/count/sum view stored as
    * its own TxnTable ([[graft.streaming.StreamIvm]]). The batch ops
    * are s18b's exactly (insert tranche, whole-group deletes,
    * doubled-price updates), so the same DuckDB replay is the oracle.
    * In-run asserts pin the streaming halves: the second maintenance
    * pass folds the three live commits through the checkpointed
    * offset, a third pass with no new commits leaves the view table
    * untouched, a fresh-checkpoint replay of every batch no-ops on the
    * sink's high-water marker (exactly-once), and the final view
    * equals a direct recompute.
    */
  def st18StreamIvm(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.operators.IncrementalView
    import graft.streaming.StreamIvm
    val root = Files.createTempDirectory("graft_st18").toString
    val t = s"$root/orders_txn"
    val view = s"$root/view"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val ck: Long = m.getLong(0)
    val kx: Long = m.getLong(1)
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10) // v0
    // pass 1: initial materialization at v0
    StreamIvm.maintainMinMaxView(spark, t, view, Seq("o_orderkey"),
      "o_custkey", "price_c", s"$root/ckpt")
    require(StreamIvm.appliedVersion(view).contains(0L))
    // three live commits land while the maintainer is down...
    TxnTable.append(spark, t,
      orders.filter(col("o_custkey").between(ck / 4, ck / 4 + ck / 16))
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), (col("price_c") * 3).as("price_c"))) // v1
    TxnTable.deleteWhere(spark, t, col("o_custkey") <= ck / 8)   // v2
    TxnTable.merge(spark, t,
      orders.filter(col("o_custkey").between(ck / 2, ck / 2 + ck / 16))
        .select(col("o_orderkey"), col("o_custkey"),
          (col("price_c") * 2).as("price_c")),
      Seq("o_orderkey"), clusterBy = Seq(col("o_custkey")))       // v3
    // ...pass 2 drains them through the checkpointed offset
    StreamIvm.maintainMinMaxView(spark, t, view, Seq("o_orderkey"),
      "o_custkey", "price_c", s"$root/ckpt")
    require(StreamIvm.appliedVersion(view).contains(3L),
      "maintenance pass must fold to the log head")
    // pass 3, nothing new: the view table must not move at all
    val vStable = TxnTable.currentVersion(view)
    StreamIvm.maintainMinMaxView(spark, t, view, Seq("o_orderkey"),
      "o_custkey", "price_c", s"$root/ckpt")
    require(TxnTable.currentVersion(view) == vStable,
      "no-new-data pass must be a no-op")
    // redelivery: a FRESH checkpoint replays every version — the
    // sink's stream:ivm:<v> high-water marker makes each a no-op
    StreamIvm.maintainMinMaxView(spark, t, view, Seq("o_orderkey"),
      "o_custkey", "price_c", s"$root/ckpt_replay")
    require(TxnTable.currentVersion(view) == vStable,
      "replayed batches must no-op on the high-water marker")
    val maintained = TxnTable.read(spark, view)
      .select(col("o_custkey").as("g"), col("cnt"), col("sm"), col("mn"),
        col("mx")).orderBy(col("g"))
    val direct = IncrementalView.materializeMinMax(
        TxnTable.read(spark, t, 3L), "o_custkey", "price_c")
      .select(col("o_custkey").as("g"), col("cnt"), col("sm"), col("mn"),
        col("mx")).orderBy(col("g"))
    require(maintained.collect().toSeq == direct.collect().toSeq,
      "stream-maintained view drifted from the direct recompute")
    maintained
  }

  /** ST19: streaming CDC REPLICATION — a second TxnTable kept as a
    * live row-level replica by following the source's commit log and
    * applying each batch's file-scoped change images as ONE
    * `applyChanges` commit carrying the `stream:replica:<v>` marker
    * (apply+marker atomic ⇒ exactly-once). Exercises all three apply
    * paths: initial snapshot copy, incremental image apply (insert +
    * whole-group delete + update tranches), and the metadata-only
    * marker for a version range with empty net diff (a compaction).
    * In-run: replica rows ≡ source rows after catch-up (both
    * directions of `except` empty), no-new-data pass and
    * fresh-checkpoint replay leave the replica untouched. Oracle
    * replays the final content from raw orders.
    */
  def st19StreamReplica(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.streaming.StreamReplica
    val root = Files.createTempDirectory("graft_st19").toString
    val src = s"$root/orders_txn"
    val dst = s"$root/replica"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val ck: Long = m.getLong(0)
    val kx: Long = m.getLong(1)
    TxnTable.createClustered(spark, src, orders, Seq(col("o_custkey")),
      targetFiles = 10) // v0
    StreamReplica.replicate(spark, src, dst, Seq("o_orderkey"),
      s"$root/ckpt", clusterBy = Seq("o_custkey"))
    require(StreamReplica.appliedVersion(dst).contains(0L))
    TxnTable.append(spark, src,
      orders.filter(col("o_custkey").between(ck / 4, ck / 4 + ck / 16))
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), (col("price_c") * 3).as("price_c")))  // v1
    TxnTable.deleteWhere(spark, src, col("o_custkey") <= ck / 8)  // v2
    TxnTable.merge(spark, src,
      orders.filter(col("o_custkey").between(ck / 2, ck / 2 + ck / 16))
        .select(col("o_orderkey"), col("o_custkey"),
          (col("price_c") * 2).as("price_c")),
      Seq("o_orderkey"), clusterBy = Seq(col("o_custkey")))        // v3
    StreamReplica.replicate(spark, src, dst, Seq("o_orderkey"),
      s"$root/ckpt", clusterBy = Seq("o_custkey"))
    require(StreamReplica.appliedVersion(dst).contains(3L))
    // row-for-row equality, both directions
    val s3 = TxnTable.read(spark, src, 3L)
    val r3 = TxnTable.read(spark, dst)
    require(s3.exceptAll(r3).isEmpty && r3.exceptAll(s3).isEmpty,
      "replica must equal the source row-for-row")
    // a compaction changes no rows: the replica advances its marker
    // with a metadata-only commit, content untouched
    TxnTable.compact(spark, src)                                  // v4
    val rowsBefore = TxnTable.read(spark, dst).count()
    StreamReplica.replicate(spark, src, dst, Seq("o_orderkey"),
      s"$root/ckpt", clusterBy = Seq("o_custkey"))
    require(StreamReplica.appliedVersion(dst).contains(4L) &&
      TxnTable.read(spark, dst).count() == rowsBefore,
      "empty-diff range must advance the marker without touching rows")
    // no-new-data pass + fresh-checkpoint replay: both no-ops
    val vStable = TxnTable.currentVersion(dst)
    StreamReplica.replicate(spark, src, dst, Seq("o_orderkey"),
      s"$root/ckpt", clusterBy = Seq("o_custkey"))
    StreamReplica.replicate(spark, src, dst, Seq("o_orderkey"),
      s"$root/ckpt_replay", clusterBy = Seq("o_custkey"))
    require(TxnTable.currentVersion(dst) == vStable,
      "replayed batches must no-op on the high-water marker")
    TxnTable.read(spark, dst)
      .agg(count(lit(1)).as("c"), sum(col("price_c")).as("price_sum"),
        sum(col("o_orderkey")).as("key_sum"))
  }

  /** ST20: the FIRST-CLASS streaming row-image change feed —
    * `readChangesStream` returns a streaming DataFrame of
    * (key, op, before, after, versions); three live commits (CoW
    * update, MOR delete, append) are consumed across TWO consumer
    * restarts on one checkpoint, the reassembled feed equals the batch
    * `diffVersionsImages` span op-for-op (asserted in-run), and a
    * pump-checkpoint loss replays every version into per-version
    * marker no-ops (zero duplicates, asserted). Oracle replays the
    * three change sets relationally. */
  def st20ChangesStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.streaming.StreamChanges
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft_st20").toString
    val t = s"$root/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10) // v0
    val sink = s"$root/sink"
    def drain(): Long = {
      val before =
        if (!Files.isDirectory(java.nio.file.Paths.get(sink))) 0L
        else spark.read.parquet(sink).count()
      val q = StreamChanges.readChangesStream(spark, t, s"$root/spool",
        s"$root/pump_ckpt", Seq("o_orderkey"))
        .writeStream.option("checkpointLocation", s"$root/user_ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            b.write.mode("append").parquet(sink); ()
        }
        .start()
      try q.awaitTermination() finally q.stop()
      spark.read.parquet(sink).count() - before
    }
    // consumer pass 1: the initial load (v0 snapshot as insert rows)
    require(drain() == orders.count(),
      "the initial load must arrive as insert rows")
    // three live commits land while the consumer is down …
    TxnTable.updateWhere(spark, t,
      col("o_orderstatus") === "O" &&
        col("o_custkey").between(ck / 2, ck / 2 + ck / 8),
      Map("price_c" -> (col("price_c") * 2))) // v1
    TxnTable.deleteWhereMor(spark, t,
      col("o_orderstatus") === "F" && col("o_custkey") <= ck / 10) // v2
    TxnTable.append(spark, t,
      orders.filter(col("o_custkey") <= ck / 16)
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("price_c"))) // v3
    // … consumer pass 2 resumes at its checkpoint and gets the images
    drain()
    val feed = spark.read.parquet(sink)
    // reassembled live feed ≡ the batch span diff, op for op
    val live = feed.filter(col("from_version") >= 0)
      .select(col("o_orderkey"), col("op"),
        col("before.price_c").as("bp"), col("after.price_c").as("ap"))
    val span = TxnTable.diffVersionsImages(spark, t, 0L, 3L,
      Seq("o_orderkey"))
      .select(col("o_orderkey"), col("op"),
        col("before.price_c").as("bp"), col("after.price_c").as("ap"))
    require(live.exceptAll(span).isEmpty && span.exceptAll(live).isEmpty,
      "the reassembled feed must equal the batch diff op-for-op")
    // pump-checkpoint loss: every version replays; markers no-op it
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val it = Files.list(p)
        try it.iterator().forEachRemaining(rm) finally it.close()
      }
      Files.deleteIfExists(p); ()
    }
    rm(java.nio.file.Paths.get(s"$root/pump_ckpt"))
    require(drain() == 0L,
      "replayed versions must never duplicate the feed")
    feed.filter(col("from_version") >= 0)
      .groupBy(col("op"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("before.price_c")).as("before_sum"),
        sum(col("after.price_c")).as("after_sum"))
      .orderBy(col("op"))
  }

  /** ST21: the change feed's SCALE lifecycle — a TAIL-FOLLOW feed
    * (`startingVersion`) over a table with prior history spools ZERO
    * historical ranges (directory listing asserted in-run: no v0
    * snapshot, no pre-start version — the property that makes the
    * feed usable on a 100 TB table), `vacuumSpool` retention deletes
    * exactly the below-watermark ranges while every remaining range
    * stays consumable by a fresh consumer, and a pump-checkpoint loss
    * after the sweep must NOT resurrect swept ranges (watermark
    * no-op, asserted). Oracle replays the two visible change sets
    * (the appended tranche's inserts + the F-band deletes including
    * the tranche's own F rows) relationally. */
  def st21ChangesTail(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.streaming.StreamChanges
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft_st21").toString
    val t = s"$root/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10) // v0
    TxnTable.updateWhere(spark, t,
      col("o_orderstatus") === "O" &&
        col("o_custkey").between(ck / 2, ck / 2 + ck / 8),
      Map("price_c" -> (col("price_c") * 2))) // v1 (before the feed)
    TxnTable.append(spark, t,
      orders.filter(col("o_custkey") <= ck / 16)
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("price_c"))) // v2
    TxnTable.deleteWhere(spark, t,
      col("o_orderstatus") === "F" && col("o_custkey") <= ck / 10) // v3
    val spool = s"$root/spool"
    def drain(userCkpt: String, sink: String): Long = {
      val q = StreamChanges.readChangesStream(spark, t, spool,
        s"$root/pump_ckpt", Seq("o_orderkey"), startingVersion = Some(2L))
        .writeStream.option("checkpointLocation", userCkpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => b.write.mode("append").parquet(sink); ()
        }
        .start()
      try q.awaitTermination() finally q.stop()
      if (Files.isDirectory(java.nio.file.Paths.get(sink)))
        spark.read.parquet(sink).count()
      else 0L
    }
    def ranges(): Set[String] = {
      val it = Files.list(java.nio.file.Paths.get(spool))
      try {
        val b = scala.collection.mutable.Set.empty[String]
        it.iterator().forEachRemaining { p =>
          val nm = p.getFileName.toString
          if (nm.startsWith("r")) { b += nm; () }
        }
        b.toSet
      } finally it.close()
    }
    val fed = drain(s"$root/uc1", s"$root/sink1")
    // ZERO historical spool: no v0 snapshot range, no pre-start range
    require(ranges() == Set("r1_2", "r2_3"),
      s"tail feed must spool only post-start ranges, got ${ranges()}")
    val expectIns = orders.filter(col("o_custkey") <= ck / 16).count()
    val expectDel = TxnTable.read(spark, t, 2L)
      .filter(col("o_orderstatus") === "F" && col("o_custkey") <= ck / 10)
      .count()
    require(fed == expectIns + expectDel,
      s"tail feed must carry exactly v2+v3 images: $fed vs " +
        s"$expectIns+$expectDel")
    // retention: the consumed range sweeps, the newer one survives
    require(StreamChanges.vacuumSpool(spool, 3L) == 1,
      "exactly the below-watermark range must sweep")
    require(ranges() == Set("r2_3"),
      s"the >= watermark range must stay readable, got ${ranges()}")
    // a FRESH consumer on the swept spool gets exactly what remains
    val fresh = drain(s"$root/uc2", s"$root/sink2")
    require(fresh == expectDel &&
      spark.read.parquet(s"$root/sink2")
        .filter(col("op") =!= "delete").count() == 0,
      s"fresh consumer must read exactly the surviving range: $fresh")
    // pump-checkpoint loss: re-offered swept versions are watermark
    // no-ops — a resurrected range would duplicate consumed rows
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val it = Files.list(p)
        try it.iterator().forEachRemaining(rm) finally it.close()
      }
      Files.deleteIfExists(p); ()
    }
    rm(java.nio.file.Paths.get(s"$root/pump_ckpt"))
    require(drain(s"$root/uc1", s"$root/sink1") == fed &&
      ranges() == Set("r2_3"),
      "swept ranges must never resurrect after pump-checkpoint loss")
    spark.read.parquet(s"$root/sink1")
      .groupBy(col("op"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("before.price_c")).as("before_sum"),
        sum(col("after.price_c")).as("after_sum"))
      .orderBy(col("op"))
  }

  /** ST24: follow-schema CDC REPLICATION — the replica survives
    * source ALTERs: `replicateFollow` segments the version range at
    * every schema commit, replays each segment's row images under
    * its own schema, and applies the SAME DDL to the replica
    * (derived from the source commit's op — a RENAME preserves the
    * replica's data exactly like the source's column mapping). The
    * lifecycle here: banded update → ADD COLUMN → new-shape append →
    * RENAME (non-key) → WIDEN int→long → beyond-int32 append → MOR
    * delete, all replicated in ONE follow call. In-run: replica ≡
    * source row-for-row both directions, schemas equal, a fresh-
    * checkpoint redelivery no-ops at the unchanged replica head.
    * Oracle replays the whole lifecycle relationally. */
  def st24ReplicaFollow(spark: SparkSession, dir: String): DataFrame = {
    val d = Files.createTempDirectory("graft_st24").toString
    val src = d + "/src"
    val dst = d + "/dst"
    import graft.core.TxnTable
    import graft.streaming.StreamReplica
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey").as("k"), col("o_custkey").as("ck"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"),
      (col("o_custkey") % 100).cast("int").as("flag"))
    val kx = orders.agg(max(col("k"))).head().getLong(0)
    val cm = orders.agg(max(col("ck"))).head().getLong(0)
    TxnTable.create(spark, src, orders)                            // v0
    TxnTable.updateWhere(spark, src, col("ck") <= cm / 4,
      Map("price_c" -> (col("price_c") + lit(5L))))                // v1
    TxnTable.addColumns(spark, src,
      Seq(("tier", org.apache.spark.sql.types.LongType)))          // v2
    TxnTable.append(spark, src, orders.filter(col("k") <= kx / 8)
      .select((col("k") + kx).as("k"), col("ck"),
        col("price_c"), col("flag"), (col("ck") % 5).as("tier"))) // v3
    TxnTable.renameColumn(spark, src, "price_c", "price_cents")    // v4
    TxnTable.widenColumnType(spark, src, "flag",
      org.apache.spark.sql.types.LongType)                         // v5
    TxnTable.append(spark, src, orders.filter(col("k") <= kx / 8)
      .select((col("k") + 2 * kx).as("k"), col("ck"),
        col("price_c").as("price_cents"),
        (col("ck") + 5000000000L).as("flag"),
        (col("ck") % 7).as("tier")))                               // v6
    TxnTable.deleteWhereMor(spark, src,
      col("ck") > cm / 2 && col("k") <= kx)                        // v7
    StreamReplica.replicateFollow(spark, src, dst, Seq("k"),
      s"$d/ck")
    // replica ≡ source, rows and schema
    val srcDf = TxnTable.read(spark, src)
    val dstDf = TxnTable.read(spark, dst)
    require(dstDf.columns.toSeq == srcDf.columns.toSeq,
      s"replica schema must follow: ${dstDf.columns.toSeq}")
    require(srcDf.exceptAll(dstDf).isEmpty &&
      dstDf.exceptAll(srcDf).isEmpty,
      "replica must equal the source row-for-row")
    // a fresh-checkpoint redelivery no-ops at the replica's head
    val head = TxnTable.currentVersion(dst)
    StreamReplica.replicateFollow(spark, src, dst, Seq("k"),
      s"$d/ck_fresh")
    require(TxnTable.currentVersion(dst) == head,
      "a redelivered follow must not commit")
    dstDf.groupBy((col("ck") % 10).as("bkt"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("ps"),
        sum(col("flag")).as("fs"),
        sum(coalesce(col("tier"), lit(-1L))).as("ts"))
      .orderBy(col("bkt"))
  }

  /** ST23: `COPY INTO t FROM STREAM '<dir>'` — statement-level
    * streaming ingestion with FILE-level idempotence (each commit's
    * `stream:copystream:…:files:[…]` marker records the batch's
    * source files into the table's ingested-file registry): three
    * landed drops ingest through three statement runs, an idle
    * re-run commits nothing, a LOST checkpoint with no new files
    * replays as a registry no-op, and — the case a bare batch-id
    * high-water silently loses — a drop landed AFTER the loss (which
    * the restarted stream bundles into an already-seen batch id)
    * still loads exactly once, with the pre-loss files filtered, not
    * duplicated. Oracle replays the full relation. */
  def st23CopyStream(spark: SparkSession, dir: String): DataFrame = {
    val d = Files.createTempDirectory("graft_st23").toString
    val t = d + "/t"
    val land = d + "/land"
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val ck = orders.agg(max(col("o_custkey"))).head().getLong(0)
    graft.core.TxnTable.create(spark, t, orders.limit(0)) // v0: shape
    graft.sql.GraftSql.register(n, t)
    try {
      val stmt = s"COPY INTO $n FROM STREAM '$land'"
      def drop(i: Int, f: org.apache.spark.sql.Column): Unit =
        orders.filter(f).repartition(1).write.parquet(s"$land/b$i")
      drop(1, col("o_custkey") <= ck / 4)
      val v1 = graft.sql.GraftSql.execute(spark, stmt)
      val c1 = graft.core.TxnTable.commits(t).last
      require(v1 == 1L && c1.op.startsWith("stream:copystream:"),
        s"stream ingestion must land via stream markers, got ${c1.op}")
      require(c1.op.contains(":files:["),
        s"the commit must carry its source-file manifest, got ${c1.op}")
      drop(2, col("o_custkey") > ck / 4 && col("o_custkey") <= 2 * ck / 4)
      val v2 = graft.sql.GraftSql.execute(spark, stmt)
      require(v2 == 2L, s"the second drop must land as one batch, got $v2")
      drop(3, col("o_custkey") > 2 * ck / 4 && col("o_custkey") <= 3 * ck / 4)
      val v3 = graft.sql.GraftSql.execute(spark, stmt)
      val afterThree = orders.filter(col("o_custkey") <= 3 * ck / 4).count()
      require(v3 == 3L &&
        graft.core.TxnTable.read(spark, t).count() == afterThree,
        "three drops must land exactly-once")
      // an idle re-run commits NOTHING
      require(graft.sql.GraftSql.execute(spark, stmt) == 3L,
        "an idle statement re-run must no-op")
      // checkpoint LOSS with nothing new: the file stream re-offers
      // every file; the ingested-file registry filters them all
      def loseCheckpoint(): Unit = {
        val ckpt = java.nio.file.Paths.get(t, "_stream_ckpt")
        val w = java.nio.file.Files.walk(ckpt)
        try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().forEachRemaining(p =>
            { java.nio.file.Files.deleteIfExists(p); () })
        finally w.close()
      }
      loseCheckpoint()
      require(graft.sql.GraftSql.execute(spark, stmt) == 3L &&
        graft.core.TxnTable.read(spark, t).count() == afterThree,
        "a checkpoint-lost replay must no-op on the file registry")
      // checkpoint LOSS with a drop landed SINCE: the restarted
      // stream bundles old + new files into batch id 0 — the old
      // files must filter, the new ones must load (a batch-id
      // high-water would skip them forever)
      loseCheckpoint()
      drop(4, col("o_custkey") > 3 * ck / 4)
      require(graft.sql.GraftSql.execute(spark, stmt) == 4L &&
        graft.core.TxnTable.read(spark, t).count() == orders.count(),
        "files landed after a checkpoint loss must load exactly once")
      graft.core.TxnTable.read(spark, t)
        .groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("ps"),
          sum(col("o_orderkey")).as("ks"))
        .orderBy(col("st"))
    } finally graft.sql.GraftSql.unregister(n)
  }

  /** ST22: FOLLOW-SCHEMA change-feed generations — the CDC
    * schema-evolution handshake: a mid-feed ALTER rolls the spool to
    * `gen-<v>` stamped with the new schema; the old generation ends
    * with one typed `end_of_generation` row whose to_version points
    * at the next generation; the consumer drains gen-0, re-binds at
    * the pointer, and the reassembled feed carries the update (old
    * shape) plus the post-ALTER insert/delete images (new shape,
    * discount present). In-run: generation list, terminal typing +
    * pointer, and pump-checkpoint-loss idempotence (every marker
    * no-ops, terminal included). Oracle replays the three change sets
    * relationally. */
  def st22ChangesGenerations(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.streaming.StreamChanges
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft_st22").toString
    val t = s"$root/orders_txn"
    val orders = Lake.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"))
    val m = orders.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ck, kx) = (m.getLong(0), m.getLong(1))
    TxnTable.createClustered(spark, t, orders, Seq(col("o_custkey")),
      targetFiles = 10) // v0
    TxnTable.updateWhere(spark, t,
      col("o_orderstatus") === "O" &&
        col("o_custkey").between(ck / 2, ck / 2 + ck / 8),
      Map("price_c" -> (col("price_c") * 2))) // v1: old-shape update
    val spool = s"$root/spool"
    def drain(frame: DataFrame, userCkpt: String, sink: String): Long = {
      val q = frame.writeStream.option("checkpointLocation", userCkpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => b.write.mode("append").parquet(sink); ()
        }
        .start()
      try q.awaitTermination() finally q.stop()
      if (Files.isDirectory(java.nio.file.Paths.get(sink)))
        spark.read.parquet(sink).count()
      else 0L
    }
    // pass 1 (tail past the snapshot): one generation, the v1 update
    drain(StreamChanges.readChangesStreamFollow(spark, t, spool,
      s"$root/pc", Seq("o_orderkey"), Some(1L)),
      s"$root/uc0", s"$root/sink0")
    require(StreamChanges.generations(spool) == Seq(0L),
      s"one bootstrap generation expected, got " +
        s"${StreamChanges.generations(spool)}")
    // mid-feed ALTER, then post-ALTER data under the new schema
    TxnTable.addColumns(spark, t,
      Seq(("discount", org.apache.spark.sql.types.LongType))) // v2
    TxnTable.append(spark, t,
      orders.filter(col("o_custkey") <= ck / 16)
        .select((col("o_orderkey") + kx).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("price_c"),
          col("o_custkey").as("discount"))) // v3
    TxnTable.deleteWhereMor(spark, t,
      col("o_orderstatus") === "F" && col("o_custkey") <= ck / 10) // v4
    // the SAME pump rolls instead of refusing
    StreamChanges.pumpFollowSchema(spark, t, spool, s"$root/pc",
      Seq("o_orderkey"))
    require(StreamChanges.generations(spool) == Seq(0L, 2L),
      s"the ALTER must roll gen-2, got " +
        s"${StreamChanges.generations(spool)}")
    // the consumer finishes gen-0 on its SAME checkpoint: exactly the
    // typed terminal row, pointing at the next generation
    drain(StreamChanges.readGeneration(spark, spool, 0L,
      Seq("o_orderkey")), s"$root/uc0", s"$root/sink0b")
    val term = spark.read.parquet(s"$root/sink0b").collect()
    require(term.length == 1 &&
      term.head.getAs[String]("op") == "end_of_generation" &&
      term.head.getAs[Long]("to_version") == 2L,
      s"gen-0 must end with one typed terminal row, got " +
        term.map(_.toString).mkString("; "))
    // …and re-binds at the pointer for the new-shape images
    drain(StreamChanges.readGeneration(spark, spool, 2L,
      Seq("o_orderkey")), s"$root/uc1", s"$root/sink1")
    // pump-checkpoint loss: every marker (terminal included) no-ops
    def ranges(): Set[String] =
      StreamChanges.generations(spool).flatMap { g =>
        val it = Files.list(java.nio.file.Paths.get(s"$spool/gen-$g"))
        try {
          import scala.jdk.CollectionConverters._
          it.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("r")).map(n => s"gen-$g/$n").toSeq
        } finally it.close()
      }.toSet
    val before = ranges()
    StreamChanges.pumpFollowSchema(spark, t, spool, s"$root/pc_fresh",
      Seq("o_orderkey"))
    require(ranges() == before &&
      StreamChanges.generations(spool) == Seq(0L, 2L),
      "a checkpoint-lost pump must no-op on every marker")
    // reassembled feed: both generations' data rows, one aggregate
    val g0 = spark.read.parquet(s"$root/sink0")
      .filter(col("op") =!= "end_of_generation")
      .select(col("op"), col("o_orderkey"),
        col("before.price_c").as("bpc"), col("after.price_c").as("apc"),
        lit(null).cast("long").as("disc"))
    val g1 = spark.read.parquet(s"$root/sink1")
      .select(col("op"), col("o_orderkey"),
        col("before.price_c").as("bpc"), col("after.price_c").as("apc"),
        col("after.discount").as("disc"))
    g0.unionAll(g1)
      .groupBy(col("op"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("bpc")).as("before_sum"),
        sum(col("apc")).as("after_sum"),
        sum(col("disc")).as("disc_sum"))
      .orderBy(col("op"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "st22_changes_generations" -> (st22ChangesGenerations _),
    "st23_copy_stream" -> (st23CopyStream _),
    "st24_replica_follow" -> (st24ReplicaFollow _),
    "st21_changes_tail" -> (st21ChangesTail _),
    "st20_changes_stream" -> (st20ChangesStream _),
    "st19_stream_replica" -> (st19StreamReplica _),
    "st18_stream_ivm" -> (st18StreamIvm _),
    "st17_stream_embcuration" -> (st17StreamEmbCuration _),
    "st16_stream_curation" -> (st16StreamCuration _),
    "st15_stream_vecindex" -> (st15StreamVecIndex _),
    "st14_stream_embdedup" -> (st14StreamEmbDedup _),
    "st12_stream_neardup" -> (st12StreamNeardup _),
    "st12b_stream_repair" -> (st12bStreamRepair _),
    "st13_stream_index" -> (st13StreamIndex _),
    "st11_quality_filter" -> (st11QualityFilter _),
    "st10_crawl_stream" -> (st10CrawlStream _),
    "st9_stream_static" -> (st9StreamStatic _),
    "st8_trending"    -> (st8Trending _),
    "st1_tumbling"    -> (st1Tumbling _),
    "st2_sliding"     -> (st2Sliding _),
    "st3_session"     -> (st3Session _),
    "st4_dedup_count" -> (st4DedupCount _),
    "st5_file_sink"   -> (st5FileSink _),
    "st6_stream_join" -> (st6StreamJoin _),
    "st7_upsert_snapshot" -> (st7UpsertSnapshot _))

  // The batch rule the stream must land on exactly: md5-MinHash
  // (12 hashes, 4 bands, 3-token shingles — the l2_minhash_pairs
  // replay) and "drop d iff a lower-id document shares a band".
  // Shared by st12 (in-order arrival) and st12b (out-of-order arrival
  // + reconcile): arrival order must not change the answer.
  /** The md5-MinHash banding + lower-id-wins dup CTE chain over any
    * (doc_id, text) source CTE — exposed for composed pipelines (st16:
    * banding over the quality-FILTERED corpus). Yields a `dup` CTE of
    * dropped doc_ids. */
  private[queries] def minhashDupCtes(src: String): String =
    s"""sh AS (
        |  SELECT doc_id, list_transform(range(1, len(w)-1),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS s
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM $src)
        |  WHERE len(w) >= 3),
        |m AS (
        |  SELECT doc_id, i,
        |    list_min(list_transform(s, x ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split_regex(substr(md5(i||':'||x),1,15), ''),
        |          c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |        (a, b) -> a*16 + b))) AS mn
        |  FROM sh, range(0,12) t(i)),
        |sig AS (SELECT doc_id, list(mn ORDER BY i) AS sig FROM m GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, b,
        |    array_to_string(list_slice(sig, b*3+1, b*3+3), ',') AS key
        |  FROM sig, range(0,4) t(b)),
        |dup AS (
        |  SELECT DISTINCT a.doc_id FROM banded a JOIN banded e
        |  ON a.b = e.b AND a.key = e.key AND e.doc_id < a.doc_id)""".stripMargin

  /** The md5-Rademacher sign-LSH banding + lower-id-wins dup CTE chain
    * over any (vec_id, embedding) source CTE (16-bit signature, four
    * 4-bit bands, dim 64) — exposed for composed pipelines (st17:
    * banding over the quality-FILTERED corpus). Yields a `dup` CTE of
    * dropped vec_ids. */
  private[queries] def embDupCtes(src: String, bits: Int = 16,
      bands: Int = 4): String = {
    val r = bits / bands
    val mask = (1 << r) - 1
    s"""planes AS (
        |  SELECT i, list(CASE WHEN (strpos('0123456789abcdef',
        |      substr(md5('lsh:42:'||i||':'||j),1,1))-1) & 1 = 1
        |    THEN 1.0 ELSE -1.0 END ORDER BY j) AS p
        |  FROM range(0,$bits) t1(i), range(0,64) t2(j) GROUP BY i),
        |sigs AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(1,65),
        |          j -> CAST(e.embedding[j] AS DOUBLE) * pl.p[j])),
        |        (a,b) -> a+b) >= 0
        |      THEN CAST(1 AS BIGINT) << pl.i ELSE 0 END) AS BIGINT) AS sig
        |  FROM $src e, planes pl GROUP BY e.vec_id),
        |bands AS (SELECT vec_id, b, (sig >> CAST($r*b AS INTEGER)) & $mask AS key
        |  FROM sigs, range(0,$bands) t(b)),
        |dup AS (SELECT DISTINCT a.vec_id FROM bands a JOIN bands e
        |  ON a.b = e.b AND a.key = e.key AND e.vec_id < a.vec_id)""".stripMargin
  }

  private val streamNeardupSql =
    "WITH " + minhashDupCtes("documents") + """
      |SELECT d.source, CAST(count(*) AS BIGINT) AS kept,
      |  CAST(sum(d.doc_id) AS BIGINT) AS id_checksum
      |FROM documents d
      |WHERE d.doc_id NOT IN (SELECT doc_id FROM dup)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  val oracle: Map[String, String] = Map(
    // the reassembled two-generation feed: the v1 O-band update (old
    // shape, disc null), the v3 tranche inserts (new shape, discount
    // = custkey), the v4 F-band deletes (base <= ck/10 plus the
    // tranche's own F rows at <= ck/16, shifted keys); terminal rows
    // and generation mechanics asserted in-run
    // the whole DDL-crossing replication lifecycle replayed
    // relationally (replica ≡ source and redelivery no-op are
    // asserted in-run; this pins the served values)
    "st24_replica_follow" ->
      """WITH b AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS kx,
        |                  CAST(max(o_custkey) AS BIGINT) AS cm
        |           FROM orders),
        |base AS (SELECT o_orderkey AS k, o_custkey AS ck,
        |    CAST(round(o_totalprice * 100) AS BIGINT) +
        |      (CASE WHEN o_custkey <= b.cm // 4 THEN 5 ELSE 0 END)
        |      AS price_cents,
        |    CAST(o_custkey % 100 AS BIGINT) AS flag,
        |    CAST(NULL AS BIGINT) AS tier
        |  FROM orders, b),
        |t1 AS (SELECT o_orderkey + b.kx, o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT),
        |    CAST(o_custkey % 100 AS BIGINT), o_custkey % 5
        |  FROM orders, b WHERE o_orderkey <= b.kx // 8),
        |t2 AS (SELECT o_orderkey + 2 * b.kx, o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT),
        |    o_custkey + 5000000000, o_custkey % 7
        |  FROM orders, b WHERE o_orderkey <= b.kx // 8),
        |u AS (SELECT * FROM base UNION ALL
        |      SELECT * FROM t1 UNION ALL SELECT * FROM t2),
        |f AS (SELECT * FROM u, b
        |      WHERE NOT (ck > b.cm // 2 AND k <= b.kx))
        |SELECT ck % 10 AS bkt, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(price_cents) AS BIGINT) AS ps,
        |  CAST(sum(flag) AS BIGINT) AS fs,
        |  CAST(sum(coalesce(tier, -1)) AS BIGINT) AS ts
        |FROM f GROUP BY 1 ORDER BY bkt""".stripMargin,
    // exactly-once streaming ingestion replayed relationally (the
    // marker/no-op protocol is asserted in-run)
    "st23_copy_stream" ->
      """SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS ps,
        |  CAST(sum(o_orderkey) AS BIGINT) AS ks
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    "st22_changes_generations" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |    CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |rows_ AS (
        |  SELECT 'update' AS op, o_orderkey AS k, pc AS bpc,
        |    pc * 2 AS apc, CAST(NULL AS BIGINT) AS disc
        |  FROM base, b
        |  WHERE o_orderstatus = 'O'
        |    AND o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//8
        |  UNION ALL
        |  SELECT 'insert', o_orderkey + b.kx, CAST(NULL AS BIGINT),
        |    pc, CAST(o_custkey AS BIGINT)
        |  FROM base, b WHERE o_custkey <= b.ck//16
        |  UNION ALL
        |  SELECT 'delete', o_orderkey, pc, CAST(NULL AS BIGINT),
        |    CAST(NULL AS BIGINT)
        |  FROM base, b
        |  WHERE o_orderstatus = 'F' AND o_custkey <= b.ck//10
        |  UNION ALL
        |  SELECT 'delete', o_orderkey + b.kx, pc, CAST(NULL AS BIGINT),
        |    CAST(NULL AS BIGINT)
        |  FROM base, b
        |  WHERE o_orderstatus = 'F' AND o_custkey <= b.ck//16)
        |SELECT op, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(bpc) AS BIGINT) AS before_sum,
        |  CAST(sum(apc) AS BIGINT) AS after_sum,
        |  CAST(sum(disc) AS BIGINT) AS disc_sum
        |FROM rows_ GROUP BY op ORDER BY op""".stripMargin,
    // the tail feed sees ONLY v2 (tranche inserts) and v3 (F-band
    // deletes — original rows at <= ck/10 plus the tranche's own F
    // rows at <= ck/16, shifted keys); v0/v1 never reach the spool
    "st21_changes_tail" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |    CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |del AS (
        |  SELECT o_orderkey AS k, pc FROM base, b
        |  WHERE o_orderstatus = 'F' AND o_custkey <= b.ck//10
        |  UNION ALL
        |  SELECT o_orderkey + b.kx AS k, pc FROM base, b
        |  WHERE o_orderstatus = 'F' AND o_custkey <= b.ck//16),
        |f AS (
        |  SELECT 'delete' AS op, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(k) AS BIGINT) AS key_sum,
        |    CAST(sum(pc) AS BIGINT) AS before_sum,
        |    CAST(NULL AS BIGINT) AS after_sum
        |  FROM del
        |  UNION ALL
        |  SELECT 'insert', CAST(count(*) AS BIGINT),
        |    CAST(sum(o_orderkey + b.kx) AS BIGINT),
        |    CAST(NULL AS BIGINT), CAST(sum(pc) AS BIGINT)
        |  FROM base, b WHERE o_custkey <= b.ck//16)
        |SELECT * FROM f ORDER BY op""".stripMargin,
    // the three live change sets replayed relationally: the O-band
    // update carries both images, the low F-band delete only a before,
    // the shifted-key insert only an after
    "st20_changes_stream" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |    CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |f AS (
        |  SELECT 'delete' AS op, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |    CAST(sum(pc) AS BIGINT) AS before_sum,
        |    CAST(NULL AS BIGINT) AS after_sum
        |  FROM base, b
        |  WHERE o_orderstatus = 'F' AND o_custkey <= b.ck//10
        |  UNION ALL
        |  SELECT 'insert', CAST(count(*) AS BIGINT),
        |    CAST(sum(o_orderkey + b.kx) AS BIGINT),
        |    CAST(NULL AS BIGINT), CAST(sum(pc) AS BIGINT)
        |  FROM base, b WHERE o_custkey <= b.ck//16
        |  UNION ALL
        |  SELECT 'update', CAST(count(*) AS BIGINT),
        |    CAST(sum(o_orderkey) AS BIGINT), CAST(sum(pc) AS BIGINT),
        |    CAST(sum(pc * 2) AS BIGINT)
        |  FROM base, b
        |  WHERE o_orderstatus = 'O'
        |    AND o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//8)
        |SELECT * FROM f ORDER BY op""".stripMargin,
    // Same final state as s18b (the stream applies the same three
    // commits); the streaming halves (checkpointed offsets, no-op
    // redelivery, exactly-once marker) are asserted in-run.
    "st18_stream_ivm" -> SourceQueries.oracle("s18b_minmax_view"),
    // The replica's final content replayed from raw orders (same
    // commit chain as s18b: tripled-price insert tranche with shifted
    // keys + whole-group deletes + doubled-price updates); the
    // replica≡source, empty-diff marker, and redelivery-no-op halves
    // are asserted in-run.
    "st19_stream_replica" ->
      """WITH b AS (SELECT CAST(max(o_custkey) AS BIGINT) AS ck,
        |           CAST(max(o_orderkey) AS BIGINT) AS kx FROM orders),
        |fin AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_custkey BETWEEN b.ck//2 AND b.ck//2 + b.ck//16
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS pc
        |  FROM orders, b WHERE o_custkey > b.ck//8
        |  UNION ALL
        |  SELECT o_orderkey + b.kx,
        |    CAST(round(o_totalprice * 100) AS BIGINT) * 3
        |  FROM orders, b
        |  WHERE o_custkey BETWEEN b.ck//4 AND b.ck//4 + b.ck//16)
        |SELECT CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(pc) AS BIGINT) AS price_sum,
        |  CAST(sum(k) AS BIGINT) AS key_sum
        |FROM fin""".stripMargin,
    // The whole pipeline's batch replay, composed from the three
    // stages' proven fragments: p1's quality filter (sc, filt), st12's
    // banding over the FILTERED set (dup), l32's BM25 over the kept
    // set — one WITH chain, one answer the stream must land on.
    "st16_stream_curation" ->
      ("WITH " + PipelineQueries.qualityFiltCtes + ",\n" +
        minhashDupCtes("filt") + ",\n" +
        "kept AS (SELECT doc_id, text FROM filt\n" +
        "  WHERE doc_id NOT IN (SELECT doc_id FROM dup)),\n" +
        CorpusQueries.bm25TopkCtes("kept")),
    // The streamed-in vector index must serve l3c's IVF oracle — the
    // batches re-ingest the corpus identically, so the logical state
    // never moves while the physical state churns through tombstones.
    "st15_stream_vecindex" -> PipelineQueries.ivfDiskTopkSql,
    // The vector pipeline's batch replay, composed from the three
    // stages' proven fragments: the spike/dimension quality filter,
    // st14's sign-LSH banding over the FILTERED set (dup), and the l3c
    // IVF probe replay (md5 centroids from the filtered set, left-fold
    // assignment + probe + rounded-cosine rerank over the kept set) —
    // one WITH chain, one answer the stream must land on.
    "st17_stream_embcuration" ->
      ("""WITH filt AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id <> 0 AND len(embedding) = 64
        |    AND list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) <= 0.35),
        |""".stripMargin + embDupCtes("filt", bits = 32, bands = 2) + """,
        |kept AS (SELECT vec_id, embedding FROM filt
        |  WHERE vec_id NOT IN (SELECT vec_id FROM dup)),
        |cents AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |      - 1 AS i,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
        |  FROM filt
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |dist AS (
        |  SELECT e.vec_id, ct.i,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1,65), j ->
        |        (CAST(e.embedding[j] AS DOUBLE) - ct.c[j])
        |        * (CAST(e.embedding[j] AS DOUBLE) - ct.c[j]))),
        |      (a,b) -> a+b) AS d
        |  FROM kept e, cents ct),
        |assign AS (
        |  SELECT vec_id, i AS list FROM (
        |    SELECT vec_id, i,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, i) AS rn
        |    FROM dist) WHERE rn = 1),
        |qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE vec_id = 0),
        |qdist AS (
        |  SELECT ct.i,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1,65), j ->
        |        (ct.c[j] - qv.e[j]) * (ct.c[j] - qv.e[j]))),
        |      (a,b) -> a+b) AS d
        |  FROM cents ct, qv),
        |probe AS (SELECT i FROM (
        |  SELECT i, row_number() OVER (ORDER BY d, i) AS rn FROM qdist)
        |  WHERE rn <= 3)
        |SELECT e.vec_id AS vec_id,
        |  round(list_sum(list_transform(range(1,65),
        |    j -> CAST(e.embedding[j] AS DOUBLE) * qv.e[j])) /
        |    (sqrt(list_sum(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * qv.nrm),
        |    6) AS sim
        |FROM kept e, qv, assign a
        |WHERE e.vec_id = a.vec_id
        |  AND a.list IN (SELECT i FROM probe)
        |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin),
    // Sign-LSH replay: md5-Rademacher planes (the l3_lsh machinery),
    // 16-bit signature, four 4-bit bands, "drop v iff a lower-id
    // vector shares a band" — the embedding analog of streamNeardupSql.
    "st14_stream_embdedup" ->
      ("WITH " + embDupCtes("embeddings") + """
        |SELECT e.label, CAST(count(*) AS BIGINT) AS kept,
        |  CAST(sum(e.vec_id) AS BIGINT) AS id_checksum
        |FROM embeddings e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM dup)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "st12_stream_neardup" -> streamNeardupSql,
    "st12b_stream_repair" -> streamNeardupSql,
    // The streamed-in index must serve the SAME answers as l32's
    // rescan oracle — the batches union to the whole corpus.
    "st13_stream_index" -> CorpusQueries.bm25TopkSql,
    // Same per-doc signal SQL as l31_gopher_repetition, thresholded and
    // rolled up per language — the batch equivalent of the stream.
    "st11_quality_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars, length(text) AS tl,
        |    string_split(text, ' ') AS t FROM documents),
        |g2 AS (SELECT doc_id, tl,
        |         unnest(list_transform(generate_series(1, len(t) - 1),
        |           i -> list_extract(t, i) || ' ' || list_extract(t, i + 1))) AS ng
        |       FROM toks),
        |c2 AS (SELECT doc_id, tl, ng, count(*) AS c FROM g2 GROUP BY 1, 2, 3),
        |b2 AS (SELECT doc_id,
        |         round(CAST(c * length(ng) AS DOUBLE) / tl, 6) AS f,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, ng) AS rn
        |       FROM c2),
        |d5 AS (SELECT doc_id,
        |         CASE WHEN len(t) >= 5 THEN round(
        |           1 - CAST(len(list_distinct(list_transform(
        |                 generate_series(1, len(t) - 4),
        |                 i -> list_extract(t, i) || ' ' || list_extract(t, i + 1) || ' ' ||
        |                      list_extract(t, i + 2) || ' ' || list_extract(t, i + 3) || ' ' ||
        |                      list_extract(t, i + 4)))) AS DOUBLE) / (len(t) - 4), 6)
        |         ELSE 0.0 END AS dup5_frac
        |       FROM toks)
        |SELECT lang, CAST(count(*) AS BIGINT) AS kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM toks
        |LEFT JOIN (SELECT doc_id, f FROM b2 WHERE rn = 1) b2f USING (doc_id)
        |JOIN d5 USING (doc_id)
        |WHERE coalesce(b2f.f, 0.0) < 0.2 AND d5.dup5_frac < 0.2
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // The invariant IS the oracle: after the second stream tranche, the
    // re-crawl sees exactly the sink changed and both static tables
    // unchanged; with the stream idle, nothing changes at all.
    "st10_crawl_stream" ->
      """SELECT * FROM (VALUES
        |  ('after_stream', 'nation,region', 'hourly',
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('quiet', 'hourly,nation,region', '',
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)))
        | t(phase, unchanged, changed, added, removed)
        |ORDER BY phase""".stripMargin,
    "st9_stream_static" ->
      """SELECT c_mktsegment AS segment, event_type, count(*) AS c,
        |  sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS s
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st8_trending" ->
      """WITH t AS (SELECT date_trunc('day', ts) AS d, event_type,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY d
        |    ORDER BY c DESC, event_type) AS rn FROM t)
        |SELECT CAST(d AS TIMESTAMP) AS d, event_type, c, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 3 ORDER BY d, rn""".stripMargin,
    "st1_tumbling" ->
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS c,
        | sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS s
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "st2_sliding" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes' AS ws,
        | event_type, count(*) AS c
        |FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // session_window is half-open ([start, last + gap)), so the oracle
    // splits on diff >= 30 min — matching the engine's boundary exactly
    // (an exact-30-minute gap starts a NEW session on both sides).
    "st3_session" ->
      """WITH g AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS ns FROM events),
        |     s AS (SELECT user_id, ts,
        |       sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g)
        |SELECT user_id, min(ts) AS st, max(ts) AS en, count(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, st""".stripMargin,
    "st4_dedup_count" ->
      "SELECT count(DISTINCT event_id) AS c FROM events",
    // Same batch truth as st1 — append-mode file-sink emission must be
    // lossless and exactly-once.
    "st5_file_sink" ->
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS c,
        | sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS s
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // Batch-equivalence truth for the stream-stream join.
    "st6_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        | epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 6 HOUR AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    // Batch keep-latest truth: the streamed CDC merge must land on the
    // same snapshot no matter how the replay was micro-batched.
    "st7_upsert_snapshot" ->
      """WITH r AS (SELECT user_id, value, epoch_us(ts) AS version,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |  FROM events)
        |SELECT count(*) AS users,
        |  sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS latest_sum,
        |  max(version) AS max_version
        |FROM r WHERE rn = 1""".stripMargin)
}
