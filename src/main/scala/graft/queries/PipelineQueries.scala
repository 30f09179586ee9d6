package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Lake
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

/** Gate-checkable entries for the LLM-data-pipeline operators (SURVEY.md
  * §2.7) beyond the 16-query contract. SQL-expressible ones carry a DuckDB
  * oracle; candidate-generation ops (MinHash, sign-LSH) are aggregated to a
  * deterministic single row and property-tested in ScalaTest instead.
  */
object PipelineQueries {

  /** L1: exact dedup keeping the smallest doc_id per distinct text —
    * checked via (row count, sum of surviving ids), which pins exactly
    * WHICH rows survived, not just how many.
    */
  def l1DedupKeepfirst(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    Dedup.exactDedup(docs, md5(col("text")), col("doc_id"))
      .agg(count(lit(1)).as("c"), sum(col("doc_id")).as("sum_kept"))
  }

  /** L2: MinHash+LSH near-dup candidate pairs via the own-implementation
    * md5-derived hash family (Dedup.minHashBandedPairs) — oracle-exact:
    * DuckDB recomputes identical signatures, band keys, candidate pairs
    * and signature-overlap Jaccard estimates. The ml.MinHashLSH variant
    * (Dedup.minHashNearDups) stays property-tested in DedupSpec (its
    * seeded hash family is JVM-internal, not SQL-expressible).
    */
  def l2MinhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    Dedup.minHashBandedPairs(docs, "text", "doc_id")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** L38: end-to-end near-dup DEDUP — MinHash band collisions resolved
    * to connected components, one survivor (the min id) per cluster.
    * The transitive-closure semantics the pair gates (l2) and the
    * neighbor-rule stream gate (st12) don't cover: a collision CHAIN
    * folds to one doc even when its ends never collide directly.
    * Oracle: DuckDB replays the md5-MinHash banding and runs the
    * recursive-CTE component fold over the same collision graph.
    */
  def l38NeardupDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    Dedup.minHashDedup(docs, "text", "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept"), sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("source"))
  }

  /** L48: QUALITY-SURVIVOR near-dup dedup — within each MinHash
    * component keep the HIGHEST-quality copy (the l46 integer logit,
    * ties toward the lowest id) instead of the arbitrary min-id: the
    * keep-the-best-duplicate rule real pipelines run. In-run: the
    * kept COUNT equals the min-id variant's (same components, one
    * survivor each) while the kept quality mass is ≥ the min-id
    * variant's. Oracle replays components (recursive CC) + the
    * argmax survivor with the identical integer logit. */
  def l48QualitySurvivor(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val logit = TextFunctions.qualityLogitMicro(col("text"))
    val kept = Dedup.minHashDedupBy(docs, "text", "doc_id", logit)
    val keptMin = Dedup.minHashDedup(docs, "text", "doc_id")
    val (n1, n2) = (kept.count(), keptMin.count())
    require(n1 == n2,
      s"survivor choice must not change component count: $n1 vs $n2")
    def mass(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(logit)).head().getLong(0)
    require(mass(kept) >= mass(keptMin),
      "the quality survivor must keep at least the min-id mass")
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("kept"), sum(col("doc_id")).as("id_checksum"),
        sum(logit).as("logit_sum"))
      .orderBy(col("lang"))
  }

  /** L49: `DEDUP t USING MINHASH (text) ON doc_id [KEEP BY expr]` —
    * the near-dup dedup as STATEMENT TEXT (the s34 statement≡API twin
    * pattern): the verb overwrites the registered table with the
    * banded-LSH survivors in one atomic `dedup:minhash` commit.
    * In-run: the statement's survivor set equals the API call's
    * (count + id checksum) for BOTH the default min-id survivor and
    * the KEEP BY argmax form; oracle replays the l38 kept set. */
  def l49DedupStatement(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_l49").toString
    val docs = Lake.table(spark, dir, "documents")
    def mkTbl(suffix: String): (String, String) = {
      val t = s"$d/docs_$suffix"
      graft.core.TxnTable.create(spark, t, docs)
      val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.sql.GraftSql.register(n, t)
      (t, n)
    }
    def pin(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("doc_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (t1, n1) = mkTbl("minid")
    val (t2, n2) = mkTbl("keepby")
    try {
      // default: min-id survivor ≡ the API call
      val v = graft.sql.GraftSql.execute(spark,
        s"DEDUP $n1 USING MINHASH (text) ON doc_id")
      require(v == 1L &&
        graft.core.TxnTable.commits(t1).last.op == "dedup:minhash",
        "DEDUP must land as one dedup:minhash commit")
      require(pin(graft.core.TxnTable.read(spark, t1)) ==
        pin(Dedup.minHashDedup(docs, "text", "doc_id")),
        "statement survivors must equal the API call's")
      // KEEP BY: argmax-quality survivor ≡ the API call
      graft.sql.GraftSql.execute(spark,
        s"DEDUP $n2 USING MINHASH (text) ON doc_id " +
          "KEEP BY length(text)")
      require(pin(graft.core.TxnTable.read(spark, t2)) ==
        pin(Dedup.minHashDedupBy(docs, "text", "doc_id",
          length(col("text")))),
        "KEEP BY survivors must equal the API call's")
      graft.core.TxnTable.read(spark, t1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("source"))
    } finally {
      graft.sql.GraftSql.unregister(n1)
      graft.sql.GraftSql.unregister(n2)
    }
  }

  /** L50: `quality_filter('t')` — the l46 model-based quality filter
    * as a TABLE-VALUED FUNCTION: the table's rows with logit >
    * threshold (default 0) and the logit exposed as `quality_logit`,
    * composable under any SELECT. In-run: TVF output ≡ the API
    * projection (count + logit mass), threshold form monotone.
    * Oracle replays the kept-class aggregate with the identical
    * integer logit. */
  def l50QualityTvf(spark: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_l50").toString
    val docs = Lake.table(spark, dir, "documents")
    val t = s"$d/docs"
    graft.core.TxnTable.create(spark, t, docs)
    val n = "tbl" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.sql.GraftSql.register(n, t)
    try {
      val out = graft.sql.GraftSql.query(spark,
        s"""SELECT lang, count(*) AS cnt,
           |  sum(quality_logit) AS logit_sum
           |FROM quality_filter('$n') GROUP BY lang
           |ORDER BY lang""".stripMargin)
      // statement ≡ API: same kept rows, same logit mass
      val api = docs.select(col("lang"),
          TextFunctions.qualityLogitMicro(col("text")).as("ql"))
        .filter(col("ql") > 0)
        .agg(count(lit(1)), sum(col("ql"))).head()
      val got = out.agg(sum(col("cnt")), sum(col("logit_sum"))).head()
      require(got.getLong(0) == api.getLong(0) &&
        got.getLong(1) == api.getLong(1),
        "the TVF must keep exactly the API's rows")
      // an explicit threshold keeps a (non-trivial) subset
      val hi = graft.sql.GraftSql.query(spark,
        s"SELECT count(*) AS c FROM quality_filter('$n', 'text', " +
          "200000)").head().getLong(0)
      require(hi > 0 && hi < api.getLong(0),
        s"a higher threshold must keep a strict non-empty subset: $hi")
      out
    } finally graft.sql.GraftSql.unregister(n)
  }

  /** L2: SimHash near-dup pairs (hamming ≤ 3 over 60-bit signatures),
    * aggregated the same way. Fully deterministic (md5-derived hashes) —
    * oracle-exact: DuckDB recomputes the identical 60-bit signatures from
    * md5 substrings and the identical band-join pairs.
    */
  def l2SimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 3)
      .agg(count(lit(1)).as("pairs"),
        coalesce(sum(col("a_id") + col("b_id")), lit(0L)).as("id_checksum"))
  }

  /** L2: exact n-gram Jaccard top-10 pairs — the rerank stage of near-dup
    * dedup, here over ALL pairs (500 docs → 125k pairs at sf0.01; at
    * scale the pair set comes from minHashNearDups candidates instead of
    * a cross join). Fully oracle-checked: the corpus contains genuine
    * near-dups (top Jaccard ≈ 0.989).
    */
  def l2JaccardTopPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val sh = docs.select(col("doc_id"),
        array_distinct(TextFunctions.wordShingles(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val pairs = sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")),
        col("a_id") < col("b_id"))
    pairs
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(10)
  }

  /** L1/L2 end-to-end: near-dup pairs (Jaccard ≥ 0.8 over 3-shingles) →
    * connected components → duplicate groups with canonical survivors.
    * Oracle: DuckDB recursive-CTE reachability computes the same
    * component minima. Pair generation goes through the inverted-index
    * form ([[Dedup.shingleJaccardPairs]]) — exactly the same pair set
    * as the all-pairs array_intersect join (threshold 0.8 > 0), one
    * keyed shuffle instead of a quadratic cross join.
    */
  def l1DupGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val sh = docs.select(col("doc_id"),
        array_distinct(TextFunctions.wordShingles(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val pairs = Dedup.shingleJaccardPairs(sh, "doc_id", "sh", 0.8)
    Dedup.resolveDupGroups(pairs)
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
      .orderBy(col("canonical"))
  }

  /** L3: exact top-20 most-similar embedding pairs (embedding near-dup
    * surface; at sf0.01 the max pairwise cosine is ~0.51, so a threshold
    * query would be vacuous — top-k pairs is always a live check).
    */
  def l3TopPairsCosine(spark: SparkSession, dir: String): DataFrame =
    Similarity.topSimilarPairs(Lake.table(spark, dir, "embeddings"), 20)

  /** L3: sign-LSH approximate top-k for the vec_id=0 query vector.
    * Oracle-exact: the hyperplanes are md5-Rademacher (engine-
    * reproducible), so DuckDB recomputes the identical signatures, probes
    * the identical hamming-≤3 candidate set, and reranks with the same
    * rounded cosine. Recall vs brute force is additionally
    * property-tested in SimilaritySpec.
    */
  def l3LshTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Lake.table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Similarity.lshTopK(emb.filter(col("vec_id") =!= 0), q, 10,
      bits = 8, probeHamming = 3)
  }

  /** L3: embedding-cosine near-dup pairs via banded sign-LSH — the
    * 100 TB-scale candidate generator (equi-join on 4-bit band keys, not
    * all-pairs) with exact cosine rerank. Oracle-exact: md5-Rademacher
    * planes let DuckDB recompute identical signatures, band keys,
    * candidate pairs and rounded-cosine scores. minSim 0.2 because the
    * synthetic corpus's max pairwise cosine is ≈0.51 — a higher
    * threshold would make the gate vacuous.
    */
  def l3LshNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairs(Lake.table(spark, dir, "embeddings"),
        minSim = 0.2, bits = 16, bands = 4)
      .orderBy(col("a_id"), col("b_id"))

  /** L3: k-NN join — top-10 neighbors for EACH of the first 5 query
    * vectors, via the mergeable top-k aggregate (map-side heaps). Oracle:
    * DuckDB window row_number over the same pairwise sims.
    */
  def l3KnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = Lake.table(spark, dir, "embeddings")
    Similarity.knnJoin(
        emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5), 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** L6c: nearest-neighbour RESIZE through the distributed decode path —
    * every media decoded (Md5Codec), resized to 8×6×3, and the resized
    * buffer fingerprinted with the exact polynomial recurrence. The
    * DuckDB oracle replays every byte: md5-block expansion, the
    * source-index map s = (min(h−1,⌊y·h/6⌋)·w + min(w−1,⌊x·w/8⌋))·3+ch,
    * hex-pair → byte, then the same fold — so a one-pixel error anywhere
    * flips the gate.
    */
  def l6cResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Lake.table(spark, dir, "documents")
    val media = graft.operators.Multimodal.mediaFromDocuments(spark, docs)
    val resized = graft.operators.Multimodal.resize(
      graft.operators.Multimodal.decodeImages(media), 8, 6)
    val fps = resized
      .map(d => (d.media_id, graft.operators.Multimodal.polyFingerprint(d.pixels)))
      .toDF("media_id", "fp")
    fps.join(docs.select(col("doc_id").as("media_id"), col("source")), "media_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("c"), sum(col("fp")).as("fp_sum"))
      .orderBy(col("source"))
  }

  /** L6d: FRAME SAMPLING through the distributed path — "video" payloads
    * (8×6×3 frames, frameCount 2–6 by id) decoded as one buffer, every
    * 2nd frame sliced out and fingerprinted. Oracle replays the frame
    * slicing byte-for-byte from the md5 expansion.
    */
  def l6dFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Lake.table(spark, dir, "documents")
    val media = graft.operators.Multimodal.videoFromDocuments(spark, docs)
    val frames = graft.operators.Multimodal.sampleFrames(media, everyNth = 2)
    val fps = frames
      .map(d => (d.media_id / 1000,
        graft.operators.Multimodal.polyFingerprint(d.pixels)))
      .toDF("media_id", "fp")
    fps.join(docs.select(col("doc_id").as("media_id"), col("source")), "media_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("frames"), sum(col("fp")).as("fp_sum"))
      .orderBy(col("source"))
  }

  /** L3c: the IVF index ON DISK — the 100 TB claim, demonstrated. The
    * write-time half assigns every vector (vec_id ≠ 0) to its nearest
    * of 8 md5-sampled centroids and writes `partitionBy(__list)`; the
    * query-time half probes the 3 lists nearest the vec_id=0 query and
    * partition PRUNING does the probing: the gate executes the top-k,
    * then requires the parquet scan's numPartitions metric to equal the
    * probed-list count (3 of 8 directories read — a hard in-run
    * assertion, not a doc claim). The DuckDB oracle replays the whole
    * pipeline — md5 centroid sampling, left-fold squared distances,
    * (d, i) tie-broken assignment, probe selection, rounded-cosine
    * rerank — so the returned top-k is cross-engine exact too.
    */
  def l3cIvfDisk(spark: SparkSession, dir: String): DataFrame = {
    val nlist = 8; val nprobe = 3; val k = 10
    val emb = Lake.table(spark, dir, "embeddings")
    val cents = Similarity.md5Centroids(emb, nlist)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.withIvfList(emb.filter(col("vec_id") =!= 0), cents)
      .write.mode("overwrite").partitionBy("__list").parquet(tmp)
    val listDirs = new java.io.File(tmp).list().toSeq
      .filter(_.startsWith("__list="))
      .map(_.stripPrefix("__list=").toInt).toSet
    val expectedReads = Similarity.probeLists(cents, q, nprobe)
      .count(listDirs.contains)
    val topk = Similarity.ivfTopKIndexed(
      spark.read.parquet(tmp), cents, q, k, nprobe)
    val rows = topk.collect()
    def gather(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(s.plan)
        case _ => Nil
      })).flatMap(gather)
    val partsRead = gather(topk.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numPartitions").value
    }.sum
    require(partsRead == expectedReads && listDirs.size > nprobe,
      s"IVF partition pruning: read $partsRead of ${listDirs.size} list " +
        s"partitions, expected $expectedReads")
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .toDF("vec_id", "sim")
  }

  /** L3d: the TRANSACTIONAL IVF index — l3c's layout through the
    * TxnTable commit log ([[graft.operators.TxnVectorIndex]]): md5
    * centroids persisted as rows (the frozen quantizer every writer
    * assigns with), vectors range-clustered by list, merge-on-read
    * tombstone upserts, compaction. The gate drives the full lifecycle
    * and pins it to the SAME oracle as l3c: build → serve; re-ingest a
    * fifth of the corpus with IDENTICAL vectors (physically a tombstone
    * tranche, logically a no-op) → serve must not move; compact → serve
    * must not move. In-run asserts: the upsert commit removes zero
    * files (append-only), time travel to the pre-upsert version is
    * byte-identical, and the serving read touches a strict subset of
    * the snapshot's files (probed lists + tombstone list only).
    */
  def l3dTxnIvf(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.TxnTable
    import graft.operators.TxnVectorIndex
    val nlist = 8; val nprobe = 3; val k = 10
    val emb = Lake.table(spark, dir, "embeddings")
    val data = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val idx = java.nio.file.Files.createTempDirectory("graft_txnivf")
      .toString + "/idx"
    TxnVectorIndex.build(data, "vec_id", "embedding", idx, nlist)
    val v0 = TxnTable.currentVersion(idx)
    val pre = TxnVectorIndex.topK(spark, idx, q, k, nprobe)
      .collect().toSeq
    // same-value re-ingest: tombstones + re-adds, zero files rewritten
    TxnVectorIndex.upsertLazy(data.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", idx)
    require(TxnTable.commits(idx).last.removes.isEmpty,
      "lazy vector upsert rewrote files")
    val post = TxnVectorIndex.topK(spark, idx, q, k, nprobe)
    require(post.collect().toSeq == pre,
      "same-value re-ingest moved the served top-k")
    // pruned serving: strict subset of the snapshot's files
    val read = post.inputFiles.length
    val live = TxnTable.snapshotFiles(idx).size
    require(read > 0 && read < live,
      s"IVF serve must prune: read $read of $live files")
    // time travel to the pre-upsert version is byte-identical
    require(TxnVectorIndex.topK(spark, idx, q, k, nprobe, asOf = v0)
      .collect().toSeq == pre, "time travel drifted")
    TxnVectorIndex.compact(spark, idx)
    val fin = TxnVectorIndex.topK(spark, idx, q, k, nprobe).collect()
    require(fin.toSeq == pre, "compaction moved the served top-k")
    import spark.implicits._
    fin.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .toDF("vec_id", "sim")
  }

  /** L6e: REAL audio decode through the distributed path — real
    * RIFF/WAV payloads (JDK-encoded on the executors, deterministic
    * 16-bit PCM fixtures), decoded by [[graft.operators.WavCodec]]
    * (javax.sound.sampled — container parsed, header stripped,
    * channel/frame metadata validated), digest over the raw PCM bytes.
    * WAV is lossless and the fixture is pure integer math, so the
    * oracle pins the exact decoded buffers without any audio library —
    * the audio twin of l6b_image_decode.
    */
  def l6eAudioDecode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val media = graft.operators.Multimodal.syntheticWavMedia(spark, docs)
    val dec = graft.operators.Multimodal
      .decodeAudio(media, graft.operators.WavCodec)
    dec.toDF()
      .select(col("media_id"),
        col("width").cast("long").as("frames"),
        col("channels").cast("long").as("ch"),
        md5(col("pixels")).as("pcm_md5"),
        length(col("pixels")).cast("long").as("n_bytes"))
      .orderBy(col("media_id"))
  }

  /** L3b: kNN join carrying the neighbor's label column through the
    * payload-generic heap (TopKRowsAgg) — no corpus re-join. Same query
    * split and determinism regime as l3_knn_join.
    */
  def l3bKnnPayload(spark: SparkSession, dir: String): DataFrame = {
    val emb = Lake.table(spark, dir, "embeddings")
    Similarity.knnJoinRows(
        emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5), 10,
        payloadCols = Seq("label"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** L4: whitespace-token statistics per source. */
  def l4TokenStats(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("c"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("st"),
        avg(TextFunctions.tokenCount(col("text"))).as("at"))
      .orderBy(col("source"))

  /** L4: BPE-ish regex token-count estimate per language. */
  def l4TokenEstimate(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(sum(TextFunctions.tokenEstimate(col("text")).cast("long")).as("est_tokens"),
        count(lit(1)).as("c"))
      .orderBy(col("lang"))

  /** L4: heuristic quality score, averaged per language (exact decimal
    * sum of the 6dp-rounded scores → engine-identical).
    */
  def l4Quality(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("c"),
        (sum(TextFunctions.qualityScore(col("text")).cast(DecimalType(12, 6)))
          .cast("double") / count(lit(1))).as("avg_q"))
      .orderBy(col("lang"))

  /** L4: the remaining quality-signal ratios, averaged per language
    * through the same 6dp-round + DECIMAL-sum canonicalization as
    * l4_quality. The stopword ratio is the live signal on this corpus;
    * the punctuation ratio is structurally 0 here (the synthetic text is
    * `[a-z ]` only) but still cross-checked — a regex-class divergence
    * between engines would surface as a nonzero — and its nonzero
    * behavior is pinned on constructed strings in TextFunctionsSpec.
    */
  def l4TextRatios(spark: SparkSession, dir: String): DataFrame = {
    def avg6(c: org.apache.spark.sql.Column) =
      sum(round(c, 6).cast(DecimalType(12, 6))).cast("double") / count(lit(1))
    Lake.table(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("c"),
        avg6(TextFunctions.stopwordRatio(col("text"))).as("avg_stop"),
        avg6(TextFunctions.punctuationRatio(col("text"))).as("avg_punct"))
      .orderBy(col("lang"))
  }

  /** L46: model-based quality FILTER plumbing — a fixed-weight linear
    * scorer over integer-quantized text features (stopword/
    * punctuation/uppercase densities in micro-units, capped token
    * count, word-length deviation), classification = logit > 0: the
    * fastText/DCLM filter role with deterministic weights so both
    * engines compute the identical integer logit per document. The
    * operator is the PLUMBING: one codegen projection, no UDF, no
    * shuffle before the final aggregate — swapping trained weights in
    * is a constant edit. In-run: both classes must be non-trivially
    * present (a filter that keeps or drops everything is no filter).
    * Oracle replays the integer dot product per document. */
  def l46QualityLogit(spark: SparkSession, dir: String): DataFrame = {
    val scored = Lake.table(spark, dir, "documents").select(
      col("lang"),
      TextFunctions.qualityLogitMicro(col("text")).as("logit"))
      .select(col("lang"), col("logit"),
        when(col("logit") > 0, 1L).otherwise(0L).as("keep"))
    val out = scored.groupBy(col("lang"), col("keep"))
      .agg(count(lit(1)).as("cnt"), sum(col("logit")).as("logit_sum"))
      .orderBy(col("lang"), col("keep"))
    val byClass = out.groupBy(col("keep"))
      .agg(sum(col("cnt")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(byClass.getOrElse(0L, 0L) > 0 && byClass.getOrElse(1L, 0L) > 0,
      s"the filter must split the corpus, got $byClass")
    out
  }

  /** L4: rolling-hash document fingerprints per source (count distinct +
    * checksum pins the exact fingerprint values across engines).
    */
  def l4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(
        countDistinct(TextFunctions.fingerprint(col("text"))).as("fps"),
        sum(TextFunctions.fingerprint(col("text"))).as("fp_sum"))
      .orderBy(col("source"))

  /** L4: stopword-vote language ID distribution. Oracle-exact: the scorer
    * is a per-language stopword count with the argmax tie broken toward
    * the lexicographically greatest language code (greatest() over
    * (score, lang) structs), all CASE-expressible in DuckDB. Accuracy is
    * additionally tested on labeled samples in TextFunctionsSpec.
    */
  def l4LangId(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "documents")
      .groupBy(TextFunctions.langId(col("text")).as("pred_lang"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("pred_lang"))

  /** L5: bottom-k sketch signature per language — k smallest distinct
    * rolling-hash token values via the mergeable TypedImperativeAggregate
    * (O(k) state per group regardless of corpus size). Oracle-exact: the
    * DuckDB side computes the same k-minima with the same hash.
    */
  def l5BottomkSketch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    docs.select(col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("lang"), TextFunctions.fingerprint(col("tok")).as("h"))
      .groupBy(col("lang"))
      .agg(graft.plans.BottomKHashes.bottom_k_hashes(col("h"), 8).as("sig_arr"))
      .select(col("lang"),
        concat_ws(",", transform(col("sig_arr"), _.cast("string"))).as("sig"))
      .orderBy(col("lang"))
  }

  /** L6: multimodal pipeline surface — binary payload + typed metadata →
    * partition-parallel decode (Md5Codec: oracle-reproducible) → 16-d
    * histogram features → per-source aggregate. The histogram's bin-0
    * share is recovered as an exact integer count (round(f·n) is exact
    * because float32's 2⁻²⁴ relative error times n ≤ 3840 is ≪ 0.5), so
    * the per-source rollup is a ratio of integer sums — the DuckDB oracle
    * replays the md5 block expansion and counts '0' high-nibbles in SQL.
    * Real-image decode (ImageIoCodec) is spec-tested with generated PNGs.
    */
  def l6MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val media = graft.operators.Multimodal.mediaFromDocuments(spark, docs)
    val feats = graft.operators.Multimodal.extractFeatures(
      graft.operators.Multimodal.decodeImages(media))
    val meta = docs.select(col("doc_id").as("media_id"), col("source"),
      ((col("doc_id") % 4 * 8 + 16) * (col("doc_id") % 3 * 8 + 16) * 3).as("n"))
    feats.toDF()
      .join(meta, "media_id")
      .select(col("source"), col("n"),
        round(element_at(col("features"), 1).cast("double") * col("n"))
          .cast("long").as("cnt0"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("c"),
        sum(col("n")).as("total_px"),
        sum(col("cnt0")).as("bin0_px"),
        round(sum(col("cnt0")).cast("double") / sum(col("n")), 6).as("bin0_share"))
      .orderBy(col("source"))
  }

  /** L6b: REAL image decode, driver-visible — PNG payloads are encoded
    * on the executors (JDK ImageIO, one per doc_id < 8), then decoded
    * through the same distributed `decodeImages` path with
    * [[graft.operators.ImageIoCodec]]. PNG is lossless and the fixture
    * pixels are pure integer math, so the decoded buffer equals the
    * generated one exactly; the oracle pins md5-of-decoded-pixels as
    * constants (recomputable outside the JVM from the pixel formula) and
    * joins them against `documents` so the row set still tracks the
    * corpus. This promotes the real-image claim from spec-only to a
    * driver-checked gate.
    */
  def l6bImageDecode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val media = graft.operators.Multimodal.syntheticPngMedia(spark, docs)
    val dec = graft.operators.Multimodal
      .decodeImages(media, graft.operators.ImageIoCodec)
    dec.toDF()
      .select(col("media_id"),
        col("width").cast("long").as("w"),
        col("height").cast("long").as("h"),
        md5(col("pixels")).as("px_md5"),
        length(col("pixels")).cast("long").as("n_px"))
      .orderBy(col("media_id"))
  }

  /** P1: the END-TO-END curation pipeline a training-data user actually
    * runs, composed from the library's own stages: language filter
    * (stopword-vote langid = 'en') → quality filter (score ≥ 0.6) →
    * exact dedup (md5 keep-first) → near-dup group resolution (3-shingle
    * Jaccard ≥ 0.8 → connected components → keep canonical) → per-source
    * doc/token accounting. Every stage is individually oracle-exact, so
    * the COMPOSITION is too — one DuckDB query replays the whole
    * pipeline. The Jaccard step runs through the inverted-index pair
    * generator (shared-shingle join — identical pair set to the
    * all-pairs form at any positive threshold); at extreme scale the
    * pair source can further narrow to minHashBandedPairs candidates
    * (same rerank, linear candidates).
    */
  def p1CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Lake.table(spark, dir, "documents")
    val filtered = docs
      .filter(TextFunctions.langId(col("text")) === "en")
      .filter(TextFunctions.qualityScore(col("text")) >= 0.6)
    val deduped = Dedup.exactDedup(filtered, md5(col("text")), col("doc_id"))
    val sh = deduped.select(col("doc_id"),
        array_distinct(TextFunctions.wordShingles(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    // inverted-index pair generation — same pair set as the all-pairs
    // array_intersect join (threshold 0.8 > 0), one keyed shuffle
    // instead of a quadratic cross join
    val pairs = Dedup.shingleJaccardPairs(sh, "doc_id", "sh", 0.8)
    val dropIds = Dedup.resolveDupGroups(pairs)
      .filter(col("id") =!= col("canonical"))
      .select(col("id").as("doc_id"))
    deduped.join(dropIds, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("c"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("tokens"),
        sum(TextFunctions.tokenEstimate(col("text")).cast("long")).as("est_tokens"))
      .orderBy(col("source"))
  }

  /** Batch session_window (Spark ≥3.2 native session windows) — must
    * agree with the lag/running-sum formulation (q16's oracle), a real
    * semantic cross-check of the two sessionization paths.
    *
    * Boundary semantics: session_window is half-open — a session covers
    * [start, lastEvent + gap), so an event at EXACTLY lastEvent + 30 min
    * starts a new session. The oracle below therefore splits on
    * `diff >= 30 min`, unlike q16's lag formulation which (per the
    * normative contract SQL) splits on strict `>`. The two queries pin
    * the two distinct, documented boundary definitions.
    */
  def q17SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("st"), max(col("ts")).as("en"))
      .select(col("user_id"), col("st"), col("en"), col("n"))
      .orderBy(col("user_id"), col("st"))

  /** L1c: upsert/merge — apply a deterministic change batch (10% of
    * orders re-priced, 1% deleted) to the snapshot with keep-latest
    * semantics, then aggregate. One key shuffle (Dedup.applyUpserts);
    * the oracle reconstructs the same merge as UNION ALL + row_number.
    */
  def l1Upsert(spark: SparkSession, dir: String): DataFrame = {
    val orders = Lake.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val base = orders
      .withColumn("version", lit(0L)).withColumn("deleted", lit(false))
    val updates = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("version", lit(1L))
      .withColumn("deleted", col("o_orderkey") % 100 === 0)
    graft.operators.Dedup.applyUpserts(base, updates,
        keyCols = Seq("o_orderkey"), versionCol = "version",
        deleteCol = Some("deleted"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("c"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("s"))
      .orderBy(col("o_orderpriority"))
  }

  /** L14: keyed snapshot diff (CDC extraction) — mutate `orders`
    * deterministically (drop keys %97, bump price on keys %13, re-key
    * %89==1 rows past the keyspace as inserts), diff new-vs-old, and emit
    * every change row. The inverse of l1_upsert's applyUpserts; the
    * round-trip equality is SnapshotDiffSpec's property.
    */
  def l14SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val old = Lake.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val mutated = old.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 5)
          .otherwise(col("o_totalprice")))
      .unionAll(old.filter(col("o_orderkey") % 89 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    graft.operators.SnapshotDiff.diff(old, mutated, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("op"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .orderBy(col("o_orderkey"), col("op"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "l14_snapshot_diff"  -> (l14SnapshotDiff _),
    "l1_upsert"          -> (l1Upsert _),
    "l1_dedup_keepfirst" -> (l1DedupKeepfirst _),
    "l2_minhash_pairs"   -> (l2MinhashPairs _),
    "l38_neardup_dedup"  -> (l38NeardupDedup _),
    "l48_quality_survivor" -> (l48QualitySurvivor _),
    "l49_dedup_statement" -> (l49DedupStatement _),
    "l50_quality_tvf"    -> (l50QualityTvf _),
    "l2_simhash_pairs"   -> (l2SimhashPairs _),
    "l2_jaccard_top_pairs" -> (l2JaccardTopPairs _),
    "l1_dup_groups"      -> (l1DupGroups _),
    "l3_toppairs_cosine" -> (l3TopPairsCosine _),
    "l3_lsh_topk"        -> (l3LshTopK _),
    "l3_lsh_neardup"     -> (l3LshNearDup _),
    "l3_knn_join"        -> (l3KnnJoin _),
    "l3b_knn_payload"    -> (l3bKnnPayload _),
    "l3c_ivf_disk"       -> (l3cIvfDisk _),
    "l3d_txn_ivf"        -> (l3dTxnIvf _),
    "l6c_resize"         -> (l6cResize _),
    "l6d_frame_sample"   -> (l6dFrameSample _),
    "l4_token_stats"     -> (l4TokenStats _),
    "l4_token_estimate"  -> (l4TokenEstimate _),
    "l4_quality"         -> (l4Quality _),
    "l46_quality_logit"  -> (l46QualityLogit _),
    "l4_fingerprint"     -> (l4Fingerprint _),
    "l4_text_ratios"     -> (l4TextRatios _),
    "l4_langid"          -> (l4LangId _),
    "l5_bottomk_sketch"  -> (l5BottomkSketch _),
    "l6_media_features"  -> (l6MediaFeatures _),
    "l6b_image_decode"   -> (l6bImageDecode _),
    "l6e_audio_decode"   -> (l6eAudioDecode _),
    "p1_curation_pipeline" -> (p1CurationPipeline _),
    "q17_session_window" -> (q17SessionWindow _))

  /** langid oracle scorer, generated from the SAME stopword lists the
    * engine uses (single source of truth): per-language token count, argmax
    * with ties to the lexicographically greatest code — exactly greatest()
    * over (score, lang) structs.
    */
  private def langIdOracleSql: String = {
    val langs = TextFunctions.stopwords.keys.toSeq.sorted
    def scoreExpr(lang: String): String = {
      val lst = TextFunctions.stopwords(lang).map(w => s"'$w'").mkString(",")
      s"len(list_filter(string_split(lower(text),' '), t -> list_contains([$lst], t)))"
    }
    val cols = langs.map(l => s"${scoreExpr(l)} AS s_$l").mkString(",\n  ")
    val m = langs.map(l => s"s_$l").mkString("greatest(", ",", ")")
    // ties → lexicographically greatest lang: test in descending code order
    val cases = langs.sorted.reverse.init
      .map(l => s"WHEN s_$l = $m THEN '$l'").mkString("\n  ")
    s"""WITH s AS (SELECT
       |  $cols
       |  FROM documents),
       |p AS (SELECT CASE WHEN $m = 0 THEN 'und'
       |  $cases
       |  ELSE '${langs.min}' END AS pred_lang FROM s)
       |SELECT pred_lang, count(*) AS c FROM p
       |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin
  }

  /** The langid + sigmoid-quality filter CTE chain (sc, filt) over raw
    * documents — the SQL replay of `TextFunctions.langId == "en" &&
    * qualityScore >= 0.6`, shared by the batch pipeline oracle (p1) and
    * the streaming pipeline oracle (st16). */
  private[queries] def qualityFiltCtes: String = {
    val langs = TextFunctions.stopwords.keys.toSeq.sorted
    def scoreExpr(lang: String): String = {
      val lst = TextFunctions.stopwords(lang).map(w => s"'$w'").mkString(",")
      s"len(list_filter(string_split(lower(text),' '), t -> list_contains([$lst], t)))"
    }
    val cols = langs.map(l => s"${scoreExpr(l)} AS s_$l").mkString(",\n  ")
    val m = langs.map(l => s"s_$l").mkString("greatest(", ",", ")")
    val cases = langs.sorted.reverse.init
      .map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ")
    s"""sc AS (SELECT doc_id, text, source,
       |  $cols,
       |  round(1.0/(1.0+exp(-(CAST(length(text) AS DOUBLE)/len(string_split(text,' ')) - 5.0))), 6) AS q
       |  FROM documents),
       |filt AS (SELECT doc_id, text, source FROM sc
       |  WHERE q >= 0.6 AND $m > 0
       |    AND CASE $cases ELSE '${langs.min}' END = 'en')""".stripMargin
  }

  /** Whole-pipeline oracle: language scorer generated from the SAME
    * stopword lists the engine uses, then quality filter, keep-first
    * dedup, recursive-CTE near-dup components, per-source accounting.
    */
  private def curationOracleSql: String = {
    s"""WITH RECURSIVE ${qualityFiltCtes},
       |ded AS (SELECT f.* FROM filt f
       |  JOIN (SELECT md5(text) h, min(doc_id) keep FROM filt GROUP BY md5(text)) k
       |    ON md5(f.text) = k.h AND f.doc_id = k.keep),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
       |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) s
       |  FROM (SELECT doc_id, string_split(text,' ') w FROM ded) WHERE len(w) >= 3),
       |p AS (SELECT a.doc_id a, b.doc_id b FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |    (len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.8),
       |e AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
       |v AS (SELECT DISTINCT src AS id FROM e),
       |r(id, l) AS (SELECT id, id FROM v UNION SELECT e.dst, r.l FROM r JOIN e ON e.src = r.id),
       |cc AS (SELECT id, min(l) AS canonical FROM r GROUP BY id),
       |kept AS (SELECT * FROM ded
       |  WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> canonical))
       |SELECT source, count(*) AS c,
       |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS tokens,
       |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]'))) AS BIGINT) AS est_tokens
       |FROM kept GROUP BY source ORDER BY source""".stripMargin
  }

  /** The md5-centroid sampling + left-fold squared-distance assignment
    * CTE chain (8 lists, dim 64) — the write-time half of the l3c IVF
    * replay, exposed for layouts that persist the assignment (c16's
    * ann-crawl checksum oracle composes it). Yields an `assign` CTE of
    * (vec_id, list). */
  private[queries] val ivfAssignCtes: String =
    """cents AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |      - 1 AS i,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |dist AS (
        |  SELECT e.vec_id, ct.i,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1,65), j ->
        |        (CAST(e.embedding[j] AS DOUBLE) - ct.c[j])
        |        * (CAST(e.embedding[j] AS DOUBLE) - ct.c[j]))),
        |      (a,b) -> a+b) AS d
        |  FROM embeddings e, cents ct WHERE e.vec_id <> 0),
        |assign AS (
        |  SELECT vec_id, i AS list FROM (
        |    SELECT vec_id, i,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, i) AS rn
        |    FROM dist) WHERE rn = 1)""".stripMargin

  /** The IVF-on-disk top-k oracle — shared by l3c (plain
    * partitionBy layout) and l3d (the transactional index, whose
    * build → same-value re-ingest → compact phases must all land on
    * this same logical answer). */
  private[queries] val ivfDiskTopkSql: String =
    "WITH " + ivfAssignCtes + """,
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
        |FROM embeddings e, qv, assign a
        |WHERE e.vec_id = a.vec_id
        |  AND a.list IN (SELECT i FROM probe)
        |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin

  /** DuckDB oracles for the SQL-expressible subset. */
  val oracle: Map[String, String] = Map(
    "p1_curation_pipeline" -> curationOracleSql,
    // Replays Md5Codec + histogram16's bin 0 in SQL: block b of the pixel
    // buffer is md5(text||':'||b); a byte's high nibble is the hex digit
    // at odd (1-based) position 2j+1; bin-0 counts nibble '0'. n is a
    // multiple of 16 by construction (w,h are multiples of 8), so every
    // block is fully used and blocks = n/16 (max 240 at w=40,h=32).
    "l6_media_features" ->
      """WITH m AS (SELECT doc_id, source, text,
        |    (doc_id % 4 * 8 + 16) * (doc_id % 3 * 8 + 16) * 3 AS n
        |  FROM documents),
        |b AS (SELECT doc_id, source, n,
        |    md5(text || ':' || CAST(blk AS VARCHAR)) AS h
        |  FROM m CROSS JOIN range(240) t(blk) WHERE blk < n // 16),
        |z AS (SELECT doc_id, source, n,
        |    len(list_filter(range(16),
        |      j -> substring(h, CAST(2*j+1 AS INT), 1) = '0')) AS c0
        |  FROM b),
        |d AS (SELECT doc_id, source, n, CAST(sum(c0) AS BIGINT) AS cnt0
        |  FROM z GROUP BY 1, 2, 3)
        |SELECT source, count(*) AS c,
        |  CAST(sum(n) AS BIGINT) AS total_px,
        |  CAST(sum(cnt0) AS BIGINT) AS bin0_px,
        |  round(CAST(sum(cnt0) AS DOUBLE) / sum(n), 6) AS bin0_share
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // Constant-pinned md5 of the decoded pixel buffer per fixture id:
    // PNG decode is lossless, the fixture pixels are pure integer math
    // (r,g,b = (id*31+x*7+y*13, id*17+x*11+y*3, id*5+x*13+y*29) mod 256,
    // row-major), so these digests are recomputable without any image
    // library. The join against documents keeps the row set tied to the
    // corpus' actual doc_ids.
    // PCM digests recomputable from the fixture recurrence alone:
    // sample(id,i,ch) = ((id·37 + i·17 + ch·101) mod 65536) − 32768,
    // little-endian int16, frames = id%5·128+256, channels = id%2+1.
    // WavCodec must strip the RIFF container and return exactly these
    // bytes on any host.
    "l6e_audio_decode" ->
      """SELECT CAST(v.media_id AS BIGINT) AS media_id,
        |  CAST(v.frames AS BIGINT) AS frames, CAST(v.ch AS BIGINT) AS ch,
        |  v.pcm_md5, CAST(v.n_bytes AS BIGINT) AS n_bytes
        |FROM (VALUES
        |  (0, 256, 1, '9f2b014a9ebcfb77b7501a102e2dee29', 512),
        |  (1, 384, 2, '3f18fe6d9105fcadef7c18995888b04e', 1536),
        |  (2, 512, 1, '326455fb5ad36698814120630c77fa4d', 1024),
        |  (3, 640, 2, '267d825b114e214f4c2dcf0db14bd450', 2560),
        |  (4, 768, 1, 'de22bbd49691914e9e526fcdc07a019f', 1536),
        |  (5, 256, 2, '55acfde34ec229017161c2a9ba01a2fc', 1024),
        |  (6, 384, 1, 'c02ee4cfcdaad5fda35ed22d247be042', 768),
        |  (7, 512, 2, 'a089847305e7ae6c5e1270ae63058483', 2048))
        |  AS v(media_id, frames, ch, pcm_md5, n_bytes)
        |JOIN (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 8) d
        |  ON d.doc_id = v.media_id
        |ORDER BY v.media_id""".stripMargin,
    "l6b_image_decode" ->
      """SELECT CAST(v.media_id AS BIGINT) AS media_id,
        |  CAST(v.w AS BIGINT) AS w, CAST(v.h AS BIGINT) AS h,
        |  v.px_md5, CAST(v.n_px AS BIGINT) AS n_px
        |FROM (VALUES
        |  (0, 16, 16, 'dd175a03b9ac1e04aaf01209977c53ad', 768),
        |  (1, 24, 24, '6a84a89128a8a48e6a9837f46c1cd325', 1728),
        |  (2, 32, 32, '1e90f187887ea49ef3a40bd8cb5b2fbf', 3072),
        |  (3, 40, 16, '6b2c396b767649aabf9d6af579fa5894', 1920),
        |  (4, 16, 24, '2c047d3722dadad3cc1edc80ad518e2a', 1152),
        |  (5, 24, 32, 'cbf1e519bb9124f7dd7bebb5ea309007', 2304),
        |  (6, 32, 16, '4b7f42f02217b60bd93e08db7a3acd15', 1536),
        |  (7, 40, 24, '18ec0a7d7fc864cdc97358142869ddb9', 2880))
        |  AS v(media_id, w, h, px_md5, n_px)
        |JOIN (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 8) d
        |  ON d.doc_id = v.media_id
        |ORDER BY v.media_id""".stripMargin,
    "l2_minhash_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_transform(range(1, len(w)-1),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS s
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)
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
        |  SELECT doc_id, sig, b,
        |    array_to_string(list_slice(sig, b*3+1, b*3+3), ',') AS key
        |  FROM sig, range(0,4) t(b)),
        |pr AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT pr.a_id, pr.b_id,
        |  len(list_filter(range(1,13), j -> sa.sig[j] = sb.sig[j])) / 12.0 AS est_j
        |FROM pr JOIN sig sa ON sa.doc_id = pr.a_id JOIN sig sb ON sb.doc_id = pr.b_id
        |ORDER BY a_id, b_id""".stripMargin,
    // Same banding replay as l2_minhash_pairs, then the l1_dup_groups
    // recursive component fold over the collision graph, keep-min.
    // l38's recursive components + the l46 integer logit as the
    // survivor key: argmax per component, ties toward the lowest id
    "l48_quality_survivor" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_transform(range(1, len(w)-1),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS s
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)
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
        |p AS (
        |  SELECT DISTINCT a.doc_id AS a, e.doc_id AS b
        |  FROM banded a JOIN banded e
        |  ON a.b = e.b AND a.key = e.key AND a.doc_id < e.doc_id),
        |e2 AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |v AS (SELECT DISTINCT src AS id FROM e2),
        |r(id, l) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT e2.dst, r.l FROM r JOIN e2 ON e2.src = r.id),
        |cc AS (SELECT id, min(l) AS canonical FROM r GROUP BY id),
        |lg AS (SELECT doc_id,
        |    (-260000
        |     + 3 * ((1000000 * CAST(len(list_filter(string_split(lower(text), ' '),
        |         w -> list_contains(['the','and','of','to','a','in','is',
        |                             'it','that','for'], w))) AS BIGINT))
        |        // greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1))
        |     - 2 * ((1000000 * CAST(length(regexp_replace(text, '[\pL\pN\s]', '', 'g')) AS BIGINT))
        |        // greatest(CAST(length(text) AS BIGINT), 1))
        |     - 2 * ((1000000 * CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT))
        |        // greatest(CAST(length(text) AS BIGINT), 1))
        |     + 900 * least(greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1), 500)
        |     - 150 * abs((1000 * CAST(length(text) AS BIGINT))
        |        // greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1) - 5500)) AS logit
        |  FROM documents),
        |surv AS (SELECT canonical,
        |    (array_agg(cc.id ORDER BY lg.logit DESC, cc.id ASC))[1] AS s
        |  FROM cc JOIN lg ON lg.doc_id = cc.id GROUP BY canonical),
        |losers AS (SELECT cc.id FROM cc JOIN surv USING (canonical)
        |           WHERE cc.id <> surv.s)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS kept,
        |  CAST(sum(d.doc_id) AS BIGINT) AS id_checksum,
        |  CAST(sum(lg.logit) AS BIGINT) AS logit_sum
        |FROM documents d JOIN lg ON lg.doc_id = d.doc_id
        |WHERE d.doc_id NOT IN (SELECT id FROM losers)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "l38_neardup_dedup" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_transform(range(1, len(w)-1),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS s
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)
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
        |p AS (
        |  SELECT DISTINCT a.doc_id AS a, e.doc_id AS b
        |  FROM banded a JOIN banded e
        |  ON a.b = e.b AND a.key = e.key AND a.doc_id < e.doc_id),
        |e2 AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |v AS (SELECT DISTINCT src AS id FROM e2),
        |r(id, l) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT e2.dst, r.l FROM r JOIN e2 ON e2.src = r.id),
        |cc AS (SELECT id, min(l) AS canonical FROM r GROUP BY id),
        |losers AS (SELECT id FROM cc WHERE id <> canonical)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS kept,
        |  CAST(sum(d.doc_id) AS BIGINT) AS id_checksum
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM losers)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // the statement twin keeps the SAME survivors as l38 — the oracle
    // is that gate's recursive-CC replay verbatim
    "l49_dedup_statement" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_transform(range(1, len(w)-1),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS s
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)
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
        |p AS (
        |  SELECT DISTINCT a.doc_id AS a, e.doc_id AS b
        |  FROM banded a JOIN banded e
        |  ON a.b = e.b AND a.key = e.key AND a.doc_id < e.doc_id),
        |e2 AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |v AS (SELECT DISTINCT src AS id FROM e2),
        |r(id, l) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT e2.dst, r.l FROM r JOIN e2 ON e2.src = r.id),
        |cc AS (SELECT id, min(l) AS canonical FROM r GROUP BY id),
        |losers AS (SELECT id FROM cc WHERE id <> canonical)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS kept,
        |  CAST(sum(d.doc_id) AS BIGINT) AS id_checksum
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM losers)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // the TVF keeps the logit>0 class with the identical integer logit
    "l50_quality_tvf" ->
      """WITH f AS (SELECT lang,
        |    CAST(length(text) AS BIGINT) AS lc,
        |    greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS t,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      w -> list_contains(['the','and','of','to','a','in','is',
        |                          'it','that','for'], w))) AS BIGINT) AS st,
        |    CAST(length(regexp_replace(text, '[\pL\pN\s]', '', 'g'))
        |      AS BIGINT) AS pu,
        |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
        |      AS BIGINT) AS up
        |  FROM documents),
        |g AS (SELECT lang,
        |    (-260000
        |     + 3 * ((1000000 * st) // t)
        |     - 2 * ((1000000 * pu) // greatest(lc, 1))
        |     - 2 * ((1000000 * up) // greatest(lc, 1))
        |     + 900 * least(t, 500)
        |     - 150 * abs((1000 * lc) // t - 5500)) AS logit
        |  FROM f)
        |SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(logit) AS BIGINT) AS logit_sum
        |FROM g WHERE logit > 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "l2_simhash_pairs" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split_regex(substr(md5(tok),1,15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |    (a, b) -> a*16 + b) AS hv
        |  FROM t),
        |bits AS (SELECT doc_id, i,
        |  sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h, range(0, 60) r(i) GROUP BY doc_id, i),
        |sig AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN v >= 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS sig
        |  FROM bits GROUP BY doc_id),
        |banded AS (SELECT doc_id, sig, b, (sig >> (b*15)) & 32767 AS key
        |  FROM sig, range(0, 4) r(b)),
        |pr AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    bit_count(xor(a.sig, b.sig)) AS hamming
        |  FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS pairs,
        |  coalesce(CAST(sum(a_id + b_id) AS BIGINT), 0) AS id_checksum
        |FROM pr WHERE hamming <= 3""".stripMargin,
    "l4_langid" -> langIdOracleSql,
    // Banded sign-LSH near-dup: same plane/signature recomputation as
    // l3_lsh_topk, then 4-bit band-key equi-join + rounded-cosine rerank.
    "l3_lsh_neardup" ->
      """WITH planes AS (
        |  SELECT i, list(CASE WHEN (strpos('0123456789abcdef',
        |      substr(md5('lsh:42:'||i||':'||j),1,1))-1) & 1 = 1
        |    THEN 1.0 ELSE -1.0 END ORDER BY j) AS p
        |  FROM range(0,16) t1(i), range(0,64) t2(j) GROUP BY i),
        |sigs AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(1,65), j -> CAST(e.embedding[j] AS DOUBLE) * pl.p[j])),
        |        (a,b) -> a+b) >= 0 THEN CAST(1 AS BIGINT) << pl.i ELSE 0 END) AS BIGINT) AS sig
        |  FROM embeddings e, planes pl GROUP BY e.vec_id),
        |banded AS (SELECT vec_id, b, (sig >> (b*4)) & 15 AS key
        |  FROM sigs, range(0,4) t(b)),
        |pr AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key
        |    AND a.vec_id < b.vec_id),
        |n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |sims AS (SELECT a_id, b_id,
        |  round(list_sum(list_transform(range(1,65), j -> na.e[j]*nb.e[j]))/(na.nrm*nb.nrm), 6) AS sim
        |  FROM pr JOIN n na ON na.vec_id = pr.a_id JOIN n nb ON nb.vec_id = pr.b_id)
        |SELECT a_id, b_id, sim FROM sims WHERE sim >= 0.2 ORDER BY a_id, b_id""".stripMargin,
    // (sequential double fold, same order as the engine's HOF fold),
    // hamming-probe candidate filter and rounded-cosine rerank.
    // Full IVF replay: md5-ordered centroid sampling, left-fold squared
    // distances (list_reduce ≡ Spark's aggregate fold order), (d, i)
    // tie-broken assignment, probe = 3 nearest lists, rounded-cosine
    // rerank restricted to probed lists. The partition-pruning half of
    // the gate (3 of 8 directories read) is asserted in-run on the
    // Spark side; this pins the VALUES the pruned scan must produce.
    "l3c_ivf_disk" -> ivfDiskTopkSql,
    "l3d_txn_ivf" -> ivfDiskTopkSql,
    "l3_lsh_topk" ->
      """WITH planes AS (
        |  SELECT i, list(CASE WHEN (strpos('0123456789abcdef',
        |      substr(md5('lsh:42:'||i||':'||j),1,1))-1) & 1 = 1
        |    THEN 1.0 ELSE -1.0 END ORDER BY j) AS p
        |  FROM range(0,8) t1(i), range(0,64) t2(j) GROUP BY i),
        |sigs AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(1,65), j -> CAST(e.embedding[j] AS DOUBLE) * pl.p[j])),
        |        (a,b) -> a+b) >= 0 THEN CAST(1 AS BIGINT) << pl.i ELSE 0 END) AS BIGINT) AS sig
        |  FROM embeddings e, planes pl GROUP BY e.vec_id),
        |q AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0),
        |qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.vec_id,
        |    round(list_sum(list_transform(range(1,65),
        |      j -> CAST(e.embedding[j] AS DOUBLE) * qv.e[j])) /
        |      (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * qv.nrm),
        |      6) AS sim
        |  FROM embeddings e, sigs s, q, qv
        |  WHERE e.vec_id = s.vec_id AND e.vec_id <> 0
        |    AND bit_count(xor(s.sig, q.qsig)) <= 3)
        |SELECT vec_id, sim FROM cand ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "l1_dedup_keepfirst" ->
      """SELECT CAST(count(*) AS BIGINT) AS c, CAST(sum(kept) AS BIGINT) AS sum_kept
        |FROM (SELECT min(doc_id) AS kept FROM documents GROUP BY md5(text)) t""".stripMargin,
    // Independent reconstruction of the merge: UNION ALL + row_number.
    "l14_snapshot_diff" ->
      """WITH oldt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |    FROM orders),
        |newt AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 5
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 1)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |       WHEN n.o_orderkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS op,
        |  CAST(round(n.o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_orderstatus <> n.o_orderstatus
        |   OR o.o_totalprice <> n.o_totalprice
        |ORDER BY 1, 2""".stripMargin,
    "l1_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    0 AS version, false AS deleted FROM orders),
        |upd AS (SELECT o_orderkey, o_orderpriority, o_totalprice + 1000,
        |    1 AS version, (o_orderkey % 100 = 0) AS deleted
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |        ORDER BY version DESC) AS rn FROM u)
        |SELECT o_orderpriority, count(*) AS c,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS s
        |FROM r WHERE rn = 1 AND NOT deleted
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "l1_dup_groups" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) s
        |  FROM (SELECT doc_id, string_split(text,' ') w FROM documents)
        |  WHERE len(w) >= 3),
        |p AS (
        |  SELECT a.doc_id a, b.doc_id b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.8),
        |e AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |v AS (SELECT DISTINCT src AS id FROM e),
        |r(id, l) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT e.dst, r.l FROM r JOIN e ON e.src = r.id),
        |cc AS (SELECT id, min(l) AS canonical FROM r GROUP BY id)
        |SELECT canonical, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_sum
        |FROM cc GROUP BY canonical ORDER BY canonical""".stripMargin,
    "l2_jaccard_top_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) s
        |  FROM (SELECT doc_id, string_split(text,' ') w FROM documents)
        |  WHERE len(w) >= 3),
        |p AS (
        |  SELECT a.doc_id a_id, b.doc_id b_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, jaccard FROM p
        |ORDER BY jaccard DESC, a_id, b_id LIMIT 10""".stripMargin,
    "l3_toppairs_cosine" ->
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_sum(list_transform(range(1,65), i -> a.e[i]*b.e[i]))/(a.nrm*b.nrm), 6) AS sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |ORDER BY sim DESC, a_id, b_id LIMIT 20""".stripMargin,
    // Byte-for-byte replay of decode→resize: md5-block expansion (the l6
    // trick), the nearest-neighbour source-index map, hex-pair → byte,
    // then the polynomial fold. md5 is computed once per needed block.
    "l6c_resize" ->
      """WITH m AS (SELECT doc_id, source, text,
        |    doc_id % 4 * 8 + 16 AS w, doc_id % 3 * 8 + 16 AS h FROM documents),
        |px AS (SELECT doc_id, source, text, o,
        |    CAST((least(h-1, (o // 24) * h // 6) * w
        |        + least(w-1, ((o % 24) // 3) * w // 8)) * 3 + o % 3 AS BIGINT) AS s
        |  FROM m CROSS JOIN range(144) t(o)),
        |blks AS (SELECT DISTINCT doc_id, text, s // 16 AS blk FROM px),
        |hh AS (SELECT doc_id, blk,
        |    md5(text || ':' || CAST(blk AS VARCHAR)) AS hex FROM blks),
        |bv AS (SELECT px.doc_id, px.source, px.o,
        |    CAST((strpos('0123456789abcdef',
        |        substring(hh.hex, CAST(2*(px.s % 16)+1 AS INT), 1))-1)*16
        |      + (strpos('0123456789abcdef',
        |        substring(hh.hex, CAST(2*(px.s % 16)+2 AS INT), 1))-1) AS BIGINT) AS b
        |  FROM px JOIN hh ON px.doc_id = hh.doc_id AND px.s // 16 = hh.blk),
        |f AS (SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(b ORDER BY o)),
        |      (a, x) -> (a*31+x) % 1000000007) AS fp
        |  FROM bv GROUP BY 1, 2)
        |SELECT source, count(*) AS c, CAST(sum(fp) AS BIGINT) AS fp_sum
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // Frame slicing replay: the decode buffer is (8·fc)×6×3 bytes; frame
    // f's byte i sits at s = f·144 + i. Every 2nd frame, same fold.
    "l6d_frame_sample" ->
      """WITH m AS (SELECT doc_id, source, text, doc_id % 5 + 2 AS fc
        |  FROM documents),
        |fr AS (SELECT doc_id, source, text, f
        |  FROM m CROSS JOIN range(8) t(f) WHERE f < fc AND f % 2 = 0),
        |px AS (SELECT doc_id, source, text, f, i,
        |    CAST(f*144 + i AS BIGINT) AS s
        |  FROM fr CROSS JOIN range(144) u(i)),
        |blks AS (SELECT DISTINCT doc_id, text, s // 16 AS blk FROM px),
        |hh AS (SELECT doc_id, blk,
        |    md5(text || ':' || CAST(blk AS VARCHAR)) AS hex FROM blks),
        |bv AS (SELECT px.doc_id, px.source, px.f, px.i,
        |    CAST((strpos('0123456789abcdef',
        |        substring(hh.hex, CAST(2*(px.s % 16)+1 AS INT), 1))-1)*16
        |      + (strpos('0123456789abcdef',
        |        substring(hh.hex, CAST(2*(px.s % 16)+2 AS INT), 1))-1) AS BIGINT) AS b
        |  FROM px JOIN hh ON px.doc_id = hh.doc_id AND px.s // 16 = hh.blk),
        |g AS (SELECT doc_id, source, f,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(b ORDER BY i)),
        |      (a, x) -> (a*31+x) % 1000000007) AS fp
        |  FROM bv GROUP BY 1, 2, 3)
        |SELECT source, count(*) AS frames, CAST(sum(fp) AS BIGINT) AS fp_sum
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    // l3_knn_join plus the neighbor's label pulled through the heap row.
    "l3b_knn_payload" ->
      """WITH n AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) e,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) nrm
        |  FROM embeddings),
        |q AS (SELECT * FROM n WHERE vec_id < 5), c AS (SELECT * FROM n WHERE vec_id >= 5),
        |p AS (SELECT q.vec_id q_id, c.vec_id n_id, c.label,
        |  list_sum(list_transform(range(1,65), i -> q.e[i]*c.e[i]))/(q.nrm*c.nrm) sim
        |  FROM q, c),
        |r AS (SELECT q_id, n_id, label, sim,
        |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) rnk FROM p)
        |SELECT q_id, n_id, label, round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    "l3_knn_join" ->
      """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) nrm
        |  FROM embeddings),
        |q AS (SELECT * FROM n WHERE vec_id < 5), c AS (SELECT * FROM n WHERE vec_id >= 5),
        |p AS (SELECT q.vec_id q_id, c.vec_id n_id,
        |  list_sum(list_transform(range(1,65), i -> q.e[i]*c.e[i]))/(q.nrm*c.nrm) sim
        |  FROM q, c),
        |r AS (SELECT q_id, n_id, sim,
        |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) rnk FROM p)
        |SELECT q_id, n_id, round(sim, 6) AS sim, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    "l4_token_stats" ->
      """SELECT source, count(*) AS c,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS st,
        |  avg(len(string_split(text, ' '))) AS at
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "l4_token_estimate" ->
      """SELECT lang,
        |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))) AS BIGINT) AS est_tokens,
        |  count(*) AS c
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "l4_quality" ->
      """SELECT lang, count(*) AS c,
        |  CAST(sum(CAST(round(1.0/(1.0+exp(-(CAST(length(text) AS DOUBLE)/len(string_split(text,' ')) - 5.0))), 6) AS DECIMAL(12,6))) AS DOUBLE)/count(*) AS avg_q
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "l4_fingerprint" ->
      """WITH f AS (SELECT source,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split_regex(text, ''), c -> CAST(ord(c) AS BIGINT))),
        |    (a, b) -> (a*31+b) % 1000000007) AS fp
        |  FROM documents)
        |SELECT source, count(DISTINCT fp) AS fps, CAST(sum(fp) AS BIGINT) AS fp_sum
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    // the identical integer logit per document, replayed with true
    // integer division (all operands non-negative, so DuckDB's
    // flooring // ≡ Spark's exact floor-of-double division)
    "l46_quality_logit" ->
      """WITH f AS (SELECT lang,
        |    CAST(length(text) AS BIGINT) AS lc,
        |    greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS t,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      w -> list_contains(['the','and','of','to','a','in','is',
        |                          'it','that','for'], w))) AS BIGINT) AS st,
        |    CAST(length(regexp_replace(text, '[\pL\pN\s]', '', 'g'))
        |      AS BIGINT) AS pu,
        |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
        |      AS BIGINT) AS up
        |  FROM documents),
        |g AS (SELECT lang,
        |    (-260000
        |     + 3 * ((1000000 * st) // t)
        |     - 2 * ((1000000 * pu) // greatest(lc, 1))
        |     - 2 * ((1000000 * up) // greatest(lc, 1))
        |     + 900 * least(t, 500)
        |     - 150 * abs((1000 * lc) // t - 5500)) AS logit
        |  FROM f)
        |SELECT lang, CASE WHEN logit > 0 THEN 1 ELSE 0 END AS keep,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(logit) AS BIGINT) AS logit_sum
        |FROM g GROUP BY 1, 2 ORDER BY lang, keep""".stripMargin,
    "l4_text_ratios" ->
      """SELECT lang, count(*) AS c,
        |  CAST(sum(CAST(round(CAST(len(list_filter(string_split(lower(text),' '),
        |      t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS DOUBLE)
        |    / len(string_split(text,' ')), 6) AS DECIMAL(12,6))) AS DOUBLE)/count(*) AS avg_stop,
        |  CAST(sum(CAST(round(CAST(length(regexp_replace(text, '[\pL\pN\s]', '', 'g')) AS DOUBLE)
        |    / length(text), 6) AS DECIMAL(12,6))) AS DOUBLE)/count(*) AS avg_punct
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "l5_bottomk_sketch" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT lang,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split_regex(tok, ''), c -> CAST(ord(c) AS BIGINT))),
        |    (a, b) -> (a*31+b) % 1000000007) AS hv
        |  FROM t)
        |SELECT lang, array_to_string(list_slice(list_sort(list(DISTINCT hv)), 1, 8), ',') AS sig
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    "q17_session_window" ->
      """WITH g AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS ns FROM events),
        |     s AS (SELECT user_id, ts,
        |       sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g)
        |SELECT user_id, min(ts) AS st, max(ts) AS en, count(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, st""".stripMargin)
}
