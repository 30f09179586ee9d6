package graft.operators

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines (SURVEY.md §2.7
  * L1/L2). All of them are shuffle-partitioned on a hash of the content —
  * the pattern that scales to 100 TB: a dedup is a groupBy on a digest,
  * never a pairwise comparison, except where candidate pairs have already
  * been narrowed by LSH banding.
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `idCol` per distinct
    * value of `keyCol` (typically `md5(text)`). Planned as a window
    * row_number over a hash-partitioned sort — one shuffle on the digest,
    * no driver involvement, skew-free (digests are uniform).
    */
  def exactDedup(df: DataFrame, keyCol: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(idCol)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Upsert/merge: apply a change batch to a snapshot, keep-latest per
    * key with optional delete markers — the incremental-maintenance
    * primitive (catalog refresh, CDC apply, dataset versioning).
    *
    * Semantics: rows from `updates` supersede rows from `base` with the
    * same key; among multiple updates for a key the greatest `versionCol`
    * wins (ties impossible when version includes a batch sequence — the
    * caller's contract); a winning row whose `deleteCol` is true removes
    * the key entirely. One shuffle on the key (window row_number), no
    * driver involvement — identical cost shape to [[exactDedup]], so a
    * 100 TB snapshot merges a batch in one pass.
    */
  def applyUpserts(
      base: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      deleteCol: Option[String] = None): DataFrame = {
    val cols = base.columns.toSeq
    val tagged = base.select(cols.map(col): _*).withColumn("__upd", lit(0))
      .unionByName(updates.select(cols.map(col): _*).withColumn("__upd", lit(1)))
    // Updates beat base at equal version; newer version beats older.
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__upd").desc)
    val kept = tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    deleteCol.fold(kept)(d => kept.filter(!coalesce(col(d), lit(false))))
      .drop("__rn", "__upd")
  }

  /** MinHash+LSH near-dup candidate pairs over word-shingle sets.
    *
    * Pipeline: shingle → hash to a sparse binary feature vector
    * (HashingTF, binary) → MinHashLSH signatures (seeded, deterministic)
    * → approxSimilarityJoin, which OR-bands the signatures and
    * shuffle-joins on band buckets — candidate generation is linear in
    * the corpus, never O(n²). Returns (a_id, b_id, jaccard_dist) with
    * a_id < b_id and distance ≤ maxDistance.
    */
  def minHashNearDups(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleLen: Int = 3,
      numHashTables: Int = 8,
      maxDistance: Double = 0.5,
      numFeatures: Int = 1 << 18,
      seed: Long = 42L): DataFrame = {
    val shingled = docs
      .select(col(idCol).as("id"),
        TextFunctions.wordShingles(col(textCol), shingleLen).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val tf = new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(numFeatures).setBinary(true)
    val feats = tf.transform(shingled)
    val lsh = new MinHashLSH()
      .setInputCol("features").setOutputCol("sig")
      .setNumHashTables(numHashTables).setSeed(seed)
    val model = lsh.fit(feats)
    model.approxSimilarityJoin(feats, feats, maxDistance, "jaccard_dist")
      .select(
        col("datasetA.id").as("a_id"),
        col("datasetB.id").as("b_id"),
        col("jaccard_dist"))
      .filter(col("a_id") < col("b_id"))
  }

  /** 60-bit token hash from md5 (first 15 hex chars) — stable across
    * engines and sessions, unlike hash()/xxhash64 seeds.
    */
  private def tokenHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** MinHash signature: k independent minima over the shingle set, hash
    * family h_i(s) = md5_60("i:" + s). Engine-reproducible (md5-derived,
    * no RNG), mergeable (min is order- and duplicate-insensitive), and
    * the per-element cost is k md5 evaluations — the classic
    * sig-overlap/k ≈ Jaccard estimator.
    */
  def minHashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingles, s => tokenHash60(concat(lit(s"$i:"), s))))): _*)

  /** (id, sig, band, key) rows of every document's LSH bands — the
    * shared candidate-generation front half of [[minHashBandedPairs]],
    * also usable as an INCREMENTAL signature store: committing these
    * rows per ingest batch lets later batches near-dup-check against
    * history with one (band, key) equi-join, never a corpus rescan.
    * Documents with fewer than `shingleLen` tokens have no shingles,
    * hence no bands, and can never collide.
    */
  def minHashBandKeys(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into equal bands")
    val r = numHashes / bands
    val sh = docs.select(col(idCol).as("id"),
        TextFunctions.wordShingles(col(textCol), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)
    val sigs = sh.select(col("id"), minHashSignature(col("sh"), numHashes).as("sig"))
    sigs.select(col("id"), col("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until r).map(j =>
            element_at(col("sig"), b * r + j + 1).cast("string")): _*).as("key"))): _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.key"))
  }

  /** Own-implementation MinHash+LSH near-dup candidate pairs: signature →
    * bands of r consecutive components → equi-join on (band, key) —
    * linear candidate generation like the ml.MinHashLSH path, but with an
    * md5-derived hash family every engine can recompute, which makes the
    * gate DuckDB-oracle-exact (l2_minhash_pairs). Returns one row per
    * banded candidate pair with the signature-overlap Jaccard estimate.
    */
  def minHashBandedPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4): DataFrame = {
    val banded = minHashBandKeys(docs, textCol, idCol, shingleLen,
      numHashes, bands)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .distinct()
      .select(col("a_id"), col("b_id"),
        (aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes).as("est_j"))
  }

  /** END-TO-END near-duplicate DEDUP — the composition real curation
    * pipelines run (the RefinedWeb/Dolma shape): MinHash-banded
    * candidate pairs → connected components of the collision graph →
    * keep each cluster's MINIMUM id, drop the rest. Returns the
    * SURVIVING docs with their original columns.
    *
    * Cluster-resolved semantics differ from the simpler "drop d iff a
    * lower-id doc shares a band" rule (st12): in a chain 1–5, 5–3 the
    * neighbor rule keeps 3 (its only collider 5 is higher), while the
    * component rule correctly folds {1, 3, 5} into one survivor — the
    * transitive closure is what "one document per duplicate cluster"
    * actually means.
    *
    * Scale shape: candidates come from the band-bucketed join (never
    * all-pairs), components from iterative min-label propagation —
    * O(cluster diameter) keyed joins, and near-dup clusters are
    * shallow in practice; nothing driver-sided anywhere.
    *
    * No similarity threshold is verified: sharing ONE band bucket makes
    * two documents duplicates. A pair at shingle Jaccard s collides with
    * probability 1−(1−s^r)^b for b = `bands` of r = numHashes/bands
    * rows; under the defaults (12 hashes, 4 bands) 1−(1−s³)⁴, which is
    * 0.94 at s = 0.8 but still ~2·10⁻⁶ for two documents sharing one
    * shingle in 129 (s ≈ 0.008). Over ~10⁵ such weakly overlapping
    * pairs an occasional unrelated document is dropped. Verify the
    * candidates with [[ngramJaccard]] where a threshold must hold.
    */
  def minHashDedup(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4): DataFrame = {
    val pairs = minHashBandedPairs(docs, textCol, idCol, shingleLen,
      numHashes, bands).select(col("a_id"), col("b_id"))
    val losers = resolveDupGroups(pairs)
      .filter(col("id") =!= col("canonical"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[minHashDedup]] with a QUALITY-KEYED survivor: within each
    * near-dup component, keep the document with the HIGHEST
    * `survivorKey` (ties toward the lowest id) instead of the lowest
    * id — real pipelines keep the best copy of a duplicate, not an
    * arbitrary one. Same candidate generation and component
    * resolution; one extra keyed join + per-component argmax (a
    * struct-max aggregate — no window, no skew: components are
    * near-dup-sized). */
  def minHashDedupBy(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      survivorKey: Column,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4): DataFrame = {
    val pairs = minHashBandedPairs(docs, textCol, idCol, shingleLen,
      numHashes, bands).select(col("a_id"), col("b_id"))
    val groups = resolveDupGroups(pairs)
    val keyed = docs.select(col(idCol).cast("long").as("id"),
      survivorKey.as("__k"))
    val surv = groups.join(keyed, "id")
      .groupBy(col("canonical"))
      .agg(max(struct(col("__k").as("k"),
        (-col("id")).as("nid"))).as("m"))
      .select(col("canonical"), (-col("m.nid")).as("__survivor"))
    val losers = groups.join(surv, "canonical")
      .filter(col("id") =!= col("__survivor"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  private val pow2: Seq[Long] = Seq.tabulate(60)(i => 1L << i)

  /** 60-bit SimHash over whitespace tokens: per bit, sum +1/−1 votes from
    * each token's hash bit, set the bit when the vote is ≥ 0. Pure Column
    * expression (two nested folds) — linear, shuffle-free, deterministic.
    */
  def simHash(text: Column): Column = {
    val counts = aggregate(
      TextFunctions.tokens(text),
      array_repeat(lit(0), 60),
      (acc, t) => {
        val h = tokenHash60(t)
        zip_with(acc,
          transform(typedlit(pow2), p =>
            when(h.bitwiseAND(p) =!= 0L, 1).otherwise(-1)),
          (a, b) => a + b)
      })
    aggregate(
      zip_with(counts, typedlit(pow2), (cnt, p) => when(cnt >= 0, p).otherwise(0L)),
      lit(0L),
      (acc, v) => acc + v)
  }

  /** Hamming distance between two SimHash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: banding on the high/low halves of the
    * signature (a pair within hamming distance d ≤ maxHamming shares at
    * least one exact half when maxHamming < 2), then exact hamming rerank.
    * Scales as a pair of equi-joins on 30-bit bucket keys, not O(n²).
    */
  def simHashNearDups(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = docs.select(col(idCol).as("id"),
      simHash(col(textCol)).as("sig"))
    // 4 bands of 15 bits: any pair with hamming ≤ 3 shares ≥ 1 exact band.
    val banded = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * 15).bitwiseAND(lit((1L << 15) - 1)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.key"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        hamming(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Resolve near-dup candidate pairs into duplicate GROUPS: connected
    * components by iterative min-label propagation (each iteration is one
    * join + aggregate; converges in O(component diameter) rounds — near-dup
    * components are tiny, so 2–4 rounds in practice, bounded explicitly).
    * Returns (id, canonical) where canonical = the component's min id —
    * the survivor a dedup keeps. Only ids that appear in a pair are
    * returned (singletons are trivially their own canonical).
    */
  def resolveDupGroups(pairs: DataFrame, maxIterations: Int = 25): DataFrame = {
    // localCheckpoint (not cache) each round: an iterative join would
    // otherwise stack the whole history into one exponentially-growing
    // logical plan (lineage blowup — OOMs at ~15 iterations).
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct().localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      // Convergence is carried as a flag column computed INSIDE the
      // propagation job (did any label shrink this round?), so each round
      // costs one heavy job (the eager localCheckpoint) plus a take(1)
      // scan of the checkpointed partitions — not a second join+count.
      val next = labels.join(prop, labels("id") === prop("src"), "left")
        .select(labels("id"),
          least(labels("lbl"), coalesce(col("nlbl"), labels("lbl"))).as("lbl"),
          (coalesce(col("nlbl"), labels("lbl")) < labels("lbl")).as("__chg"))
        .localCheckpoint(true)
      converged = next.filter(col("__chg")).isEmpty
      labels = next.drop("__chg")
      iter += 1
    }
    labels.select(col("id"), col("lbl").as("canonical"))
  }

  /** Exact Jaccard-threshold pairs over per-doc DISTINCT shingle sets,
    * computed through an inverted index instead of an all-pairs join:
    * explode to (doc, shingle), self-join on the shingle, count shared
    * shingles per pair (exact |intersection| — the arrays are
    * distinct), then filter on inter/(sz_a+sz_b-inter) >= minJaccard.
    * For any minJaccard > 0 this is UNCONDITIONALLY equivalent to the
    * cross-join-with-array_intersect form: a pair the index never
    * produces shares zero shingles, so its Jaccard is 0 < threshold.
    * Cost is Σ_shingle |docs(shingle)|² instead of |docs|²·|sh| — at
    * corpus scale the difference between a keyed shuffle and an
    * unrunnable cross join (guide §2.3/§8: decide with small rows).
    *
    * Input: (idCol, shCol array<string>, already array_distinct'd).
    * Output: (a_id, b_id) with a_id < b_id.
    */
  def shingleJaccardPairs(sh: DataFrame, idCol: String, shCol: String,
      minJaccard: Double): DataFrame = {
    require(minJaccard > 0, "shingleJaccardPairs needs a positive threshold")
    val sized = sh.select(col(idCol).as("id"), size(col(shCol)).as("sz"),
      explode(col(shCol)).as("g"))
    sized.select(col("id").as("a_id"), col("sz").as("sz_a"), col("g"))
      .join(sized.select(col("id").as("b_id"), col("sz").as("sz_b"),
        col("g")), "g")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")) >= minJaccard)
      .select(col("a_id"), col("b_id"))
  }

  /** Exact n-gram Jaccard similarity for a candidate-pair DataFrame
    * (columns a_id, b_id) against the docs table — the rerank stage after
    * any LSH candidate generation.
    */
  def ngramJaccard(
      docs: DataFrame,
      pairs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      array_distinct(TextFunctions.wordShingles(col(textCol), n)).as("sh"))
    pairs
      .join(sh.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "sh_a"), "a_id")
      .join(sh.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "sh_b"), "b_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .select(col("a_id"), col("b_id"),
        when(col("uni") > 0, col("inter").cast("double") / col("uni").cast("double"))
          .otherwise(lit(1.0)).as("jaccard"))
  }
}
