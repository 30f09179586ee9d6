package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond per-document scoring (SURVEY §2.7
  * widening): domain quotas, sub-document (chunk-level) dedup, and
  * benchmark decontamination — the three standard passes a training-data
  * pipeline runs between raw crawl and tokenizer.
  *
  * Scale notes: every operator here is one (or two) hash shuffles on a
  * data-derived key — no driver state, no all-pairs products. Quota is a
  * single window per group key; chunk dedup shuffles (chunk → first
  * occurrence) then regroups by doc; contamination is a semi-join on the
  * shingle key, so the benchmark side (small by construction) never
  * multiplies corpus rows.
  */
object Curation {

  /** Per-domain quota: keep at most `quota` rows per `group`, ranked by
    * `priority` DESC with `tieBreak` ASC pinning a total order. The
    * standard cap against a single domain dominating the corpus. One hash
    * shuffle + one window; at 100 TB a pre-aggregated per-domain count
    * can skip the window for domains already under quota, but the plain
    * form is already linear.
    */
  def domainQuota(
      docs: DataFrame,
      group: Column,
      priority: Column,
      tieBreak: Column,
      quota: Int): DataFrame = {
    require(quota > 0, "quota must be positive")
    docs
      .withColumn("_rn",
        row_number().over(Window.partitionBy(group).orderBy(priority.desc, tieBreak)))
      .filter(col("_rn") <= quota)
      .drop("_rn")
  }

  /** DETERMINISTIC train/val/test assignment — the split every
    * training pipeline stamps before anything else: a document's
    * split is a pure function of its id (md5 bucket in [0, 65536)),
    * so it never changes across runs, engines, partitionings, or
    * corpus growth (new documents land in splits at the target rates;
    * old ones never migrate — the property that keeps eval sets
    * uncontaminated as the corpus is re-crawled). `splits` are
    * (name, weight) in order; weights must sum to 1. Map-side, zero
    * shuffles, scan-speed at any size; md5-derived, so an external
    * oracle replays it bit-for-bit (Spark's `hash` is engine-private).
    * Per-group proportions converge by the law of large numbers; pair
    * with [[mixtureSample]] when exact per-stratum counts matter. */
  def assignSplit(df: DataFrame, idCol: Column,
      splits: Seq[(String, Double)],
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val bucket = conv(substring(md5(idCol.cast("string")), 1, 4),
      16, 10).cast("int")
    // integer thresholds over the 65536-bucket space: both sides of
    // an oracle compare integers, never floats
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.min(65536L, math.round(c * 65536)).toInt)
    val assigned = splits.map(_._1).zip(bounds)
      .foldRight(lit(splits.last._1): Column) { case ((nm, hi), els) =>
        when(bucket < hi, lit(nm)).otherwise(els)
      }
    df.withColumn(outCol, assigned)
  }

  /** A [[tokenBudgetMix]] driver collect's row count — bounded by
    * budgeted sources × 65536, never by the source column's
    * cardinality. */
  val MixMetadataRows: graft.core.OpMetrics.Key[Int] =
    graft.core.OpMetrics.Key.latest("mix_metadata_rows")

  /** L47: TOKEN-BUDGETED corpus mixing — per source, keep the greedy
    * prefix of the deterministic (md5(id), id) order whose cumulative
    * token count stays within that source's budget: the "sample
    * exactly N tokens of web + M tokens of code" step every
    * pretraining mixture runs, reproducible across runs and engines.
    *
    * Scale: NO global window. A two-pass threshold decides per-source
    * cut-off BUCKETS (md5's leading 16 bits) from per-(source, bucket)
    * token sums — bounded driver metadata (≤ sources × 65536 rows) —
    * and only the single BOUNDARY bucket's documents flow through the
    * per-source window (1/65536 of the corpus), so there is no
    * single-partition straggler at any size. The kept set is
    * provably the same greedy prefix a global ordered cumsum would
    * pick (full below-threshold buckets are whole prefixes; the
    * boundary window fills the exact remainder; later buckets exceed
    * the budget by construction). Sources without a budget entry are
    * dropped — the budgets ARE the mixture. */
  def tokenBudgetMix(df: DataFrame, idCol: Column, sourceCol: String,
      tokens: Column, budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "at least one source budget")
    val h = md5(idCol.cast("string"))
    // unbudgeted sources are dropped by construction — filter them out
    // BEFORE the bucket-sum aggregate, or a high-cardinality source
    // column (per-domain budgets over a web crawl) grows the driver
    // collect as distinct-sources × 65536 rows of thrown-away metadata
    // (and pays their shuffle)
    val d = df.filter(col(sourceCol).isin(budgets.keys.toSeq: _*))
      .withColumn("__tok", tokens.cast("long"))
      .withColumn("__h", h)
      .withColumn("__b", conv(substring(h, 1, 4), 16, 10).cast("int"))
    val sums = d.groupBy(col(sourceCol), col("__b"))
      .agg(sum(col("__tok")).as("t")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    graft.core.OpMetrics.record(MixMetadataRows, sums.length)
    val thr = budgets.toSeq.map { case (src, budget) =>
      val bs = sums.filter(_._1 == src).sortBy(_._2)
      var cum = 0L
      var cut = (65536, 0L) // budget >= total: every bucket is below
      val it = bs.iterator
      while (it.hasNext && cut._1 == 65536) {
        val (_, b, t) = it.next()
        if (cum + t > budget) cut = (b, budget - cum) else cum += t
      }
      (src, cut._1, cut._2)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val thrDf = broadcast(thr.toDF(sourceCol, "__T", "__rem"))
    val j = d.join(thrDf, sourceCol)
    val below = j.filter(col("__b") < col("__T"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("__h"), idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = j.filter(col("__b") === col("__T"))
      .withColumn("__cum", sum(col("__tok")).over(w))
      .filter(col("__cum") <= col("__rem")).drop("__cum")
    below.unionByName(boundary)
      .drop("__tok", "__h", "__b", "__T", "__rem")
  }

  /** Token-window chunks of `textCol`: chunk i = tokens [i·w, (i+1)·w).
    * The fixed-window formulation is the structure-free fallback every
    * pipeline uses when documents carry no paragraph markers.
    */
  private def chunkArray(toks: Column, w: Int): Column = {
    // Integral div: Column./ is double division, and sequence() needs an
    // exact integral bound.
    val nChunks =
      call_function("div", (size(toks) + lit(w - 1)).cast("long"), lit(w.toLong))
    transform(
      sequence(lit(0L), nChunks - lit(1L)),
      i => array_join(slice(toks, (i * w + 1).cast("int"), lit(w)), " "))
  }

  /** Sub-document dedup: chunk every doc into `chunkTokens`-token
    * windows, keep each distinct chunk's FIRST occurrence corpus-wide
    * (ordered by (id, chunk index) — deterministic), and reassemble docs
    * from their surviving chunks in original order. Docs whose chunks all
    * duplicate earlier ones come back with empty text (caller filters).
    * Output: (id, kept_text, chunks_total, chunks_kept).
    *
    * Two shuffles: chunk-key (keep-first window) and doc-key (regroup).
    * State per chunk key is one row — no collect, no skew beyond what the
    * chunk distribution itself carries (a boilerplate chunk repeated 10⁹
    * times is exactly what this op exists to delete; the window only ever
    * keeps rank 1, and Spark's window sort spills).
    */
  def chunkDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    // Materialize the token array in its own projection: referencing
    // split() inside the chunk lambda would re-split per chunk (no CSE
    // across lambda boundaries — measured 4.5× on the shingle path).
    val chunks = docs
      .select(col(idCol).as("_id"), split(col(textCol), " ").as("_toks"))
      .select(col("_id"),
        posexplode(chunkArray(col("_toks"), chunkTokens))
          .as(Seq("_idx", "_chunk")))
    val kept = chunks
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_chunk")).orderBy(col("_id"), col("_idx"))))
      .withColumn("_keep", col("_rn") === 1)
      .drop("_rn")
    kept.groupBy(col("_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("_keep"),
              struct(col("_idx"), col("_chunk"))))),
            s => s.getField("_chunk")),
          " ").as("kept_text"),
        count(lit(1)).as("chunks_total"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("chunks_kept"))
      .withColumnRenamed("_id", idCol)
  }

  /** Benchmark decontamination: flag every corpus doc sharing at least
    * one `n`-token shingle with the benchmark set (`benchPred` selects
    * benchmark rows; they are excluded from the corpus side). This is the
    * n-gram-overlap contamination check evaluation suites require before
    * training. The join is LEFT SEMI on the shingle string — candidate
    * generation linear in total shingles, and the flag is attached back
    * with a second semi/anti pair (no row multiplication anywhere).
    */
  def contaminationFlags(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchPred: Column,
      n: Int): DataFrame = {
    require(n > 0, "shingle width must be positive")
    def shingleSet(df: DataFrame): DataFrame = {
      // Token array materialized in its own projection (no CSE across
      // lambda boundaries — split would otherwise re-run per shingle).
      val cnt = size(col("_toks")) - lit(n - 1)
      // sequence(1, 0) DESCENDS in Spark — guard short docs to an empty
      // array (explode then drops the row, which is the right semantics).
      df.select(col(idCol).as("_id"), split(col(textCol), " ").as("_toks"))
        .select(col("_id"),
          explode(when(cnt >= 1,
            transform(sequence(lit(1), cnt),
              i => array_join(slice(col("_toks"), i, lit(n)), " ")))
            .otherwise(array())).as("_sh"))
    }
    val bench = shingleSet(docs.filter(benchPred)).select(col("_sh")).distinct()
    val corpus = docs.filter(!benchPred)
    val contaminatedIds = shingleSet(corpus)
      .join(bench, Seq("_sh"), "left_semi")
      .select(col("_id")).distinct()
    corpus.join(contaminatedIds.withColumn("_contaminated", lit(true)),
        corpus(idCol) === contaminatedIds("_id"), "left_outer")
      .drop("_id")
      .withColumn("contaminated", coalesce(col("_contaminated"), lit(false)))
      .drop("_contaminated")
  }

  /** Sequence packing: assign documents to fixed-token-budget bins (the
    * training-data step that packs documents into context windows) via
    * prefix sums — bin = (running token count before this doc) div
    * capacity, over a deterministic per-shard order. One window per
    * shard key; NO sequential state, so it parallelizes across shards
    * where true next-fit packing cannot. The trade: a document whose
    * prefix straddles a boundary stays in the earlier bin, so a bin's
    * fill is < capacity + its largest document (exact next-fit would cap
    * at capacity by pushing the straddler — at the cost of a sequential
    * scan per shard). Output adds `bin` and `offset` (token position of
    * the doc within its shard's stream).
    */
  def packBins(
      docs: DataFrame,
      shard: Column,
      tokensCount: Column,
      order: Column,
      capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = Window.partitionBy(shard).orderBy(order)
    val before =
      coalesce(sum(tokensCount).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L))
    docs
      .withColumn("offset", before.cast("long"))
      .withColumn("bin",
        call_function("div", col("offset"), lit(capacity)))
  }

  /** Fixed-width histogram of a nonnegative integral column — the
    * doc-length distribution behind min/max-length curation cuts. One
    * partial-aggregated shuffle over O(buckets) groups; map-side combine
    * collapses each partition to the bucket count before shuffling.
    * Integral `div` (not floor of a double division) keeps bucket ids
    * exact over the full long range; values must be ≥ 0 (div truncates
    * toward zero, which equals floor only for nonnegatives).
    */
  def lengthHistogram(df: DataFrame, value: Column, width: Long): DataFrame = {
    require(width > 0, "bucket width must be positive")
    df.groupBy(
        call_function("div", value.cast("long"), lit(width)).as("bucket"))
      .agg(
        count(lit(1)).as("c"),
        min(value.cast("long")).as("lo"),
        max(value.cast("long")).as("hi"),
        sum(value.cast("long")).as("total"))
  }

  /** Mixture sampling: downsample to TARGET domain proportions — the
    * rebalancing pass that turns a crawl's accidental mixture into the
    * training recipe's intended one. The largest feasible corpus keeping
    * exact proportions is T = min_s(n_s / w_s) rows; each domain keeps
    * its first floor(w_s·T) rows in deterministic md5-of-id order (an
    * engine-reproducible pseudo-random draw). Domains absent from
    * `weights` are dropped. One count aggregate + one window shuffle on
    * the domain key; targets ride a broadcast.
    */
  def mixtureSample(
      docs: DataFrame,
      groupCol: String,
      idCol: String,
      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(w => w > 0 && w <= 1))
    val spark = docs.sparkSession
    import spark.implicits._
    val wDf = weights.toSeq.toDF("__g", "__w")
    val counts = docs.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
      .join(wDf, "__g")
      .withColumn("__cap", col("__n").cast("double") / col("__w"))
    val feasible = counts.agg(min(col("__cap")).as("__t"))
    val targets = counts.crossJoin(feasible)
      .select(col("__g"), floor(col("__w") * col("__t")).cast("long").as("__target"))
    val rn = row_number().over(
      Window.partitionBy(col(groupCol))
        .orderBy(md5(col(idCol).cast("string")), col(idCol)))
    docs.withColumn("__rn", rn)
      .join(broadcast(targets), docs(groupCol) === col("__g"))
      .filter(col("__rn") <= col("__target"))
      .drop("__rn", "__g", "__target")
  }

  /** Retention delete — the compliance pass: drop every row whose key is
    * on a deletion list (anti-join; broadcastable when the list is
    * request-sized) OR whose timestamp is past retention. At 100 TB this
    * runs as a partition-overwrite rewrite; the dataframe half here is
    * exactly that rewrite's SELECT.
    */
  def retentionDelete(
      df: DataFrame,
      keyCol: String,
      deleteKeys: DataFrame,
      tsCol: String,
      keepAtOrAfter: Column): DataFrame =
    df.filter(col(tsCol) >= keepAtOrAfter)
      .join(broadcast(deleteKeys.select(col(keyCol)).distinct()),
        Seq(keyCol), "left_anti")

  /** Winsorize: clamp `valueCol` to its per-group [loQ, hiQ] exact
    * quantiles — the standard outlier-taming pass before numeric features
    * feed normalization or loss weighting. Two passes: a per-group
    * quantile aggregate (2 doubles per group) joined back broadcast —
    * cheaper at scale than a percentile WINDOW, which would re-sort every
    * full partition. Appends `<valueCol>_w`; group count is assumed
    * dim-sized (drop the broadcast hint for high-cardinality groups).
    */
  def winsorize(df: DataFrame, valueCol: String, groupCols: Seq[String],
      loQ: Double, hiQ: Double): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "0 <= loQ < hiQ <= 1")
    require(groupCols.nonEmpty, "at least one group column")
    val v = col(valueCol)
    val q = df.groupBy(groupCols.map(col): _*)
      .agg(percentile(v, lit(loQ)).as("__lo"), percentile(v, lit(hiQ)).as("__hi"))
    df.join(broadcast(q), groupCols)
      .withColumn(s"${valueCol}_w",
        least(greatest(v, col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Whitespace-normalized token array — the shared tokenization of the
    * span-dedup family (one regexp pass, map-side). */
  private def spanTokens(text: Column): Column =
    split(trim(regexp_replace(text, "\\s+", " ")), " ")

  /** Every SLIDING n-token span of a doc as (id, 1-based start, span
    * hash): the exact-substring unit of Lee et al. 2021 ("Deduplicating
    * Training Data Makes Language Models Better") — a sliding window
    * catches duplicated passages at ANY offset, where fixed chunking
    * ([[chunkDedup]]) only catches alignment-preserving duplicates.
    * Spans are carried as 64-bit xxhash64 of the joined tokens, the
    * standard shingle trick: grouping shuffles 8 bytes per span instead
    * of the span text (a collision merges two span classes — noise far
    * below the dedup signal itself). Docs shorter than n tokens emit no
    * spans. */
  private def spanOccurrences(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 2, "span length must be >= 2 tokens")
    val tk = spanTokens(col(textCol))
    docs
      .select(col(idCol).as("__id"), tk.as("__tk"))
      .filter(size(col("__tk")) >= n)
      .select(col("__id"),
        posexplode(transform(sequence(lit(1), size(col("__tk")) - lit(n - 1)),
          i => xxhash64(array_join(slice(col("__tk"), i, lit(n)), " ")))))
      .select(col("__id"), (col("pos") + 1).as("__i"), col("col").as("__h"))
  }

  /** Per-doc duplicated-span SIGNAL: for every doc with at least one
    * n-token span, (id, n_spans, dup_spans) where dup_spans counts span
    * positions whose exact token sequence occurs more than once in the
    * corpus (cross-doc or repeated within the doc). The cheap
    * measurement pass pipelines run BEFORE committing to removal — a
    * corpus-level duplication profile from two hash shuffles (one
    * count-over-span-class window, one per-doc fold), no all-pairs
    * comparison anywhere.
    */
  def duplicateSpanStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val occ = spanOccurrences(docs, idCol, textCol, n)
    // groupBy + join back, NOT a count-over-window: the window sorts
    // every span class in one partition, so a boilerplate span repeated
    // 10⁹ times becomes one straggler task. The aggregate gets map-side
    // PARTIAL aggregation (the 10⁹ duplicates collapse to one row per
    // mapper before the shuffle) and the join back is AQE-skew-safe.
    val classes = occ.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
    occ.join(classes, "__h")
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("dup_spans"))
  }

  /** Exact substring dedup, keep-first: delete every token covered by a
    * duplicated n-token span occurrence EXCEPT the span class's first
    * occurrence corpus-wide (ordered by (id, position) — deterministic).
    * Output: (id, kept_text, n_tokens, tokens_kept) for every input doc
    * (unchanged docs come back with kept_text == normalized text).
    *
    * Shape: span classes fold to (count, first occurrence) in ONE
    * partial-aggregated groupBy over the span hash — min(struct(id, i))
    * IS the keeper, so no per-class sort exists anywhere (a window rank
    * would sort a boilerplate span's 10⁹ occurrences in one partition;
    * the aggregate collapses them map-side). Non-keeper duplicated
    * occurrences expand to their covered positions (explode of n ints
    * per occurrence — bounded by total token count); the per-doc
    * drop-set folds with collect_set and the final reconstruction is a
    * map-side higher-order filter over the token array. Keyed shuffles
    * only (span class, join-back, doc, doc), linear at 100 TB; the only
    * per-row state is the doc's own drop-set.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val occ = spanOccurrences(docs, idCol, textCol, n)
    val classes = occ.groupBy(col("__h")).agg(
      count(lit(1)).as("__c"),
      min(struct(col("__id"), col("__i"))).as("__first"))
    val drops = occ.join(classes, "__h")
      .filter(col("__c") > 1 &&
        !(col("__id") === col("__first.__id") &&
          col("__i") === col("__first.__i")))
      .select(col("__id"),
        explode(sequence(col("__i"), col("__i") + lit(n - 1))).as("__p"))
      .groupBy("__id").agg(collect_set(col("__p")).as("__drop"))
    docs
      .select(col(idCol).as("__id"), spanTokens(col(textCol)).as("__tk"))
      .join(drops, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        array_join(filter(col("__tk"), (t, i) =>
          col("__drop").isNull || !array_contains(col("__drop"), i + 1)),
          " ").as("kept_text"),
        size(col("__tk")).cast("long").as("n_tokens"),
        when(col("__drop").isNull, size(col("__tk")))
          .otherwise(size(col("__tk")) - size(col("__drop")))
          .cast("long").as("tokens_kept"))
  }

  /** Per-document UNIGRAM SURPRISAL — the cheap novelty/quality signal
    * a pretraining pipeline runs before anything model-based: a
    * document of corpus-rare tokens scores high (novel or noisy), one
    * of stock phrases scores low (boilerplate); both tails are what
    * curation samples or drops. Output: one row per document with
    * `tokens` (count) and `surprisal_micronats` — Σ over tokens of
    * round(ln(total/count(token)) · 10⁶). The per-token weight is
    * QUANTIZED to integer micro-nats BEFORE the per-document sum, so
    * cross-engine replay is exact integer arithmetic (the established
    * micro-unit trick) rather than an order-dependent float sum;
    * divide by `tokens` for mean nats.
    *
    * Scale: one token-frequency aggregate (shuffle on term), one
    * term-keyed join back (AQE is free to broadcast a small
    * vocabulary; a 100 TB corpus's vocabulary shuffles — still
    * O(tokens)), one doc-keyed aggregate. The corpus token total rides
    * a broadcast single-row cross join, never a driver collect in the
    * plan. No all-pairs anything. */
  def unigramSurprisal(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val vocab = tok.groupBy(col("term"))
      .agg(count(lit(1)).as("__cnt"))
    val total = vocab.agg(sum(col("__cnt")).as("__total"))
    tok.join(vocab, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(col("__total").cast("double") / col("__cnt")) *
          1000000L).cast("long").as("__mn"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tokens"),
        sum(col("__mn")).as("surprisal_micronats"))
  }
}
