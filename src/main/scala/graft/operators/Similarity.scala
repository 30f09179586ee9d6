package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dotProduct

/** Similarity search over an embedding column (SURVEY.md §2.7 L3).
  *
  * Scale design: the exact path is score-then-TakeOrderedAndProject —
  * per-partition k-heaps, O(k) to the driver, no total sort, no shuffle of
  * the corpus. The approximate paths (hyperplane LSH, IVF) cut the scored
  * fraction: LSH probes signature buckets; IVF probes the nprobe nearest
  * coarse-centroid partitions. Both are deterministic under a fixed seed.
  */
object Similarity {

  /** Cosine scorer: the native codegen Expression (graft.plans.
    * CosineSimilarity — single fused loop, no per-row array allocation),
    * bitwise-identical to the higher-order-function reference
    * `VectorFunctions.cosineSimilarity` (same ascending fold). */
  def cosineSimilarity(a: Column, b: Column): Column =
    graft.plans.GraftFunctions.cosine_sim(a, b)

  /** Exact cosine top-k for one query vector (literal → evaluated
    * map-side; no join, no shuffle; TakeOrderedAndProject finishes it).
    */
  def bruteTopK(
      emb: DataFrame,
      query: Seq[Float],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = typedlit(query)
    emb.select(col(idCol),
        round(cosineSimilarity(col(vecCol), q), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Exact top-k most-similar PAIRS across the collection — the all-pairs
    * flavor used for embedding near-dup detection. O(n²) scoring; at scale
    * run `lshNearDupPairs` instead and rerank.
    */
  def topSimilarPairs(
      emb: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val a = emb.select(col(idCol).as("a_id"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("b_id"), col(vecCol).as("vb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosineSimilarity(col("va"), col("vb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(k)
  }

  /** One Rademacher (±1) hyperplane component, derived from md5 of
    * "lsh:seed:i:j" (parity of the first hex nibble). Sign-random-
    * projection LSH needs only sub-Gaussian components, so ±1 planes
    * preserve the cosine-LSH collision property — and unlike seeded
    * Gaussians they are reproducible by ANY engine with an md5 function,
    * which is what makes the l3_lsh gates DuckDB-oracle-able.
    */
  private def rademacher(seed: Long, i: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"lsh:$seed:$i:$j".getBytes("UTF-8"))
    if (((d(0) >> 4) & 1) == 1) 1.0 else -1.0
  }

  /** Deterministic hyperplanes for sign-LSH (md5-Rademacher). */
  private[operators] def hyperplanes(bits: Int, dim: Int, seed: Long): Seq[Seq[Double]] =
    Seq.tabulate(bits)(i => Seq.tabulate(dim)(j => rademacher(seed, i, j)))

  /** Sign-LSH signature: bit i = (dot(v, h_i) >= 0). */
  def lshSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotProduct(vec, typedlit(p)) >= 0d, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate cosine top-k via sign-LSH bucket probing: score only the
    * rows whose signature is within `probeHamming` bits of the query's
    * signature (multi-probe), then exact-rerank. The signature filter is a
    * map-side bit_count — the scan stays pruned/pushed-down, and only the
    * candidate fraction pays the 64-dim dot product.
    */
  def lshTopK(
      emb: DataFrame,
      query: Seq[Float],
      k: Int,
      bits: Int = 16,
      probeHamming: Int = 3,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    lshTopKIndexed(
      withLshSignature(emb, query.length, bits, seed, vecCol),
      query, k, bits, probeHamming, seed, idCol, vecCol)

  /** WRITE-TIME half of the LSH index: attach the signature column. At
    * 100 TB this runs once in the ingest pipeline (and the table is
    * ideally partitioned/bucketed by a signature prefix); queries then
    * pay only a bit_count filter plus the candidate rerank — computing
    * signatures at query time costs bits× the brute-force dot product
    * and is measurably SLOWER than brute (AnnBench).
    */
  def withLshSignature(
      emb: DataFrame,
      dim: Int,
      bits: Int = 16,
      seed: Long = 42L,
      vecCol: String = "embedding",
      sigCol: String = "__sig"): DataFrame =
    emb.withColumn(sigCol, lshSignature(col(vecCol), hyperplanes(bits, dim, seed)))

  /** QUERY-TIME half: multi-probe over a precomputed signature column —
    * map-side bit_count filter, exact cosine rerank of the candidates.
    */
  def lshTopKIndexed(
      indexed: DataFrame,
      query: Seq[Float],
      k: Int,
      bits: Int = 16,
      probeHamming: Int = 3,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      sigCol: String = "__sig"): DataFrame = {
    val planes = hyperplanes(bits, query.length, seed)
    val qd = query.map(_.toDouble)
    val qSig = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(qd).map { case (a, b) => a * b }.sum
      if (d >= 0) 1L << i else 0L
    }.sum
    indexed
      .filter(bit_count(col(sigCol).bitwiseXOR(lit(qSig))) <= probeHamming)
      .select(col(idCol),
        round(cosineSimilarity(col(vecCol), typedlit(query)), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** LSH-bucketed near-dup pairs: join on exact signature equality (plus
    * band splits for robustness), then exact cosine rerank ≥ minSim.
    * Linear candidate generation — the 100 TB path for embedding dedup.
    */
  def lshNearDupPairs(
      emb: DataFrame,
      minSim: Double,
      bits: Int = 16,
      bands: Int = 4,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(bits % bands == 0, "bits must divide into equal bands")
    val width = bits / bands
    // Derive the dimension from the data (one 1-row job): a hardcoded dim
    // would silently zero every signature bit for other-width embeddings
    // (zip_with pads with nulls) and collapse all rows into one bucket —
    // reintroducing the O(n²) join this function exists to avoid.
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    val planes = hyperplanes(bits, dim, seed)
    val sigs = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshSignature(col(vecCol), planes).as("sig"))
    val banded = sigs.select(col("id"), col("v"),
      explode(array((0 until bands).map(bnd =>
        struct(lit(bnd).as("band"),
          shiftright(col("sig"), bnd * width)
            .bitwiseAND(lit((1L << width) - 1)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("v"), col("bk.band"), col("bk.key"))
    // Score INSIDE the join projection and drop the vectors immediately:
    // a pair matching in m bands computes the (codegen'd, map-side)
    // cosine m times, but the distinct that collapses those duplicates
    // shuffles only (a_id, b_id, sim) — three scalars — instead of two
    // embedding payloads per candidate. The sim filter runs before the
    // distinct, shrinking its input to actual near-dups.
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        round(cosineSimilarity(col("a.v"), col("b.v")), 6).as("sim"))
      .filter(col("sim") >= minSim)
      .distinct()
  }

  /** k-NN JOIN: for EVERY query vector, its top-k nearest corpus vectors.
    * Queries broadcast (the query set is the small side); scoring is
    * map-side over the corpus; the reduce is the mergeable TopKByScore
    * aggregate — O(n log k) map-side heaps + an O(k)-per-query shuffle,
    * never a per-query corpus sort. Output: (q_id, n_id, sim, rnk).
    */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val scored = corpus.select(col(idCol).as("n_id"), col(vecCol).as("nv"))
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("n_id"),
        cosineSimilarity(col("nv"), col("qv")).as("sim"))
    scored.groupBy(col("q_id"))
      .agg(graft.plans.TopKByScore.top_k_by_score(col("sim"), col("n_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("q_id"), col("hit.id").as("n_id"),
        round(col("hit.score"), 6).as("sim"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** k-NN join CARRYING NEIGHBOR PAYLOAD COLUMNS: same shape as knnJoin
    * (broadcast queries, map-side scoring, mergeable O(k)/query reduce)
    * but the heap rows are full payload structs (plans.TopKRowsAgg), so
    * the caller gets neighbor attributes without a second corpus join —
    * at 100 TB that re-join is another full shuffle of the corpus, which
    * this erases. Output: (q_id, n_id, payloadCols..., sim, rnk).
    */
  def knnJoinRows(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      payloadCols: Seq[String],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val scored = corpus
      .select(col(idCol).as("n_id") +: col(vecCol).as("nv") +:
        payloadCols.map(col): _*)
      .crossJoin(broadcast(q))
      .select(col("q_id") :: col("n_id") ::
        cosineSimilarity(col("nv"), col("qv")).as("sim") ::
        payloadCols.map(col).toList: _*)
    val payload = struct(
      col("n_id") +: payloadCols.map(col) :+ col("sim"): _*)
    scored.groupBy(col("q_id"))
      .agg(graft.plans.TopKRowsAgg.top_k_rows(
        k, payload, col("sim").desc, col("n_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("q_id") :: col("hit.n_id").as("n_id") ::
        payloadCols.map(c => col(s"hit.$c").as(c)).toList :::
        round(col("hit.sim"), 6).as("sim") ::
        (col("pos") + 1).cast("long").as("rnk") :: Nil: _*)
  }

  /** IVF-style coarse quantization: assign every vector to its nearest of
    * `nlist` deterministic centroids (sampled rows), search only the
    * `nprobe` centroid partitions nearest the query, exact-rerank inside.
    * At 100 TB the assignment becomes a write-time partition key so a
    * query touches nprobe/nlist of the data.
    */
  def ivfTopK(
      emb: DataFrame,
      query: Seq[Float],
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = sampleCentroids(emb, nlist, seed, idCol, vecCol)
    ivfTopKIndexed(withIvfList(emb, cents, vecCol), cents, query, k, nprobe,
      idCol, vecCol)
  }

  /** Deterministic centroids: hash-sample nlist rows (stable across runs,
    * O(nlist) to the driver).
    */
  def sampleCentroids(
      emb: DataFrame,
      nlist: Int,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Seq[Float]] =
    emb.select(col(idCol), col(vecCol))
      .withColumn("__h", abs(xxhash64(col(idCol).cast("string"), lit(seed))))
      .orderBy(col("__h")).limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toSeq)

  /** Engine-portable centroid sampling: nlist rows ordered by the md5
    * hex of the id (md5 is identical in every engine, so an external
    * oracle can reproduce the exact centroid set — the same discipline
    * as the md5-Rademacher LSH planes). Tie-broken on the id itself.
    */
  def md5Centroids(
      emb: DataFrame,
      nlist: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Seq[Float]] =
    emb.select(col(idCol), col(vecCol))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .orderBy(col("__h"), col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toSeq)

  /** The nprobe list ids nearest the query (driver-side, O(nlist·dim)).
    * Distances fold left in index order and ties keep centroid order
    * (stable sort) — reproducible by an ORDER BY d, i elsewhere.
    */
  def probeLists(
      centroids: Array[Seq[Float]],
      query: Seq[Float],
      nprobe: Int): Seq[Int] = {
    val qd = query.map(_.toDouble)
    def dist2(c: Seq[Float]): Double =
      c.zip(qd).map { case (a, b) => (a - b) * (a - b) }.sum
    centroids.zipWithIndex.sortBy(p => dist2(p._1))
      .take(nprobe).map(_._2).toSeq
  }

  /** WRITE-TIME half of the IVF index: assign each vector to its nearest
    * centroid. At 100 TB this becomes the table's partition key
    * (`partitionBy(listCol)`), so a query READS only nprobe/nlist of the
    * data — partition pruning does the probing. Assigning at query time
    * costs nlist× the brute-force dot product (AnnBench measures it).
    */
  def withIvfList(
      emb: DataFrame,
      centroids: Array[Seq[Float]],
      vecCol: String = "embedding",
      listCol: String = "__list"): DataFrame = {
    val assignExpr = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        aggregate(zip_with(col(vecCol), typedlit(c),
          (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
          lit(0.0), (acc, v) => acc + v).as("d"),
        lit(i).as("i"))
    }
    emb.withColumn(listCol, least(assignExpr.toSeq: _*).getField("i"))
  }

  /** QUERY-TIME half: probe the nprobe nearest lists, exact-rerank. */
  def ivfTopKIndexed(
      indexed: DataFrame,
      centroids: Array[Seq[Float]],
      query: Seq[Float],
      k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      listCol: String = "__list"): DataFrame = {
    val probeSet = probeLists(centroids, query, nprobe).toSet
    indexed
      .filter(col(listCol).isin(probeSet.toSeq: _*))
      .select(col(idCol),
        round(cosineSimilarity(col(vecCol), typedlit(query)), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }
}
