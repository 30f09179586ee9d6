package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class CurationSpec extends SparkSpecBase {
  import spark.implicits._

  test("domainQuota keeps exactly quota rows per group, highest priority first") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 20L), (4L, "a", 30L),
      (5L, "b", 5L)).toDF("id", "dom", "pri")
    val kept = Curation.domainQuota(docs, col("dom"), col("pri"), col("id"), 2)
      .select("id").as[Long].collect().toSet
    // dom a: pri 30 (ids 2,4 — tie broken by id asc) beat 20/10; dom b under quota
    assert(kept == Set(2L, 4L, 5L))
  }

  test("chunkDedup keeps first occurrence and reassembles in order") {
    val docs = Seq(
      (1L, "a b c d e f"),       // chunks (w=3): "a b c", "d e f"
      (2L, "a b c x y z"),       // "a b c" duplicates doc 1's first chunk
      (3L, "d e f a b c")        // both chunks duplicate doc 1's
    ).toDF("doc_id", "text")
    val out = Curation.chunkDedup(docs, "doc_id", "text", 3)
      .orderBy("doc_id")
      .select("doc_id", "kept_text", "chunks_total", "chunks_kept")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c d e f", 2L, 2L),
      (2L, "x y z", 2L, 1L),
      (3L, "", 2L, 0L)))
  }

  test("chunkDedup handles a tail chunk shorter than the window") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val out = Curation.chunkDedup(docs, "doc_id", "text", 3)
      .select("kept_text", "chunks_total").as[(String, Long)].head()
    assert(out == (("a b c d", 2L)))
  }

  test("contaminationFlags marks exactly the docs sharing a shingle with bench") {
    val docs = Seq(
      (0L, "p q r s t u"),        // bench (id % 3 == 0)
      (1L, "x p q r s y"),        // shares 4-shingle "p q r s"
      (2L, "totally different words here"),
      (4L, "p q r x s t")         // shares no full 4-shingle
    ).toDF("doc_id", "text")
    val out = Curation.contaminationFlags(
        docs, "doc_id", "text", col("doc_id") % 3 === 0, 4)
      .select("doc_id", "contaminated").as[(Long, Boolean)]
      .collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 4L -> false))
  }

  test("contaminationFlags drops docs shorter than the shingle width") {
    val docs = Seq((0L, "a b c d e"), (1L, "a b")).toDF("doc_id", "text")
    val out = Curation.contaminationFlags(
        docs, "doc_id", "text", col("doc_id") === 0, 4)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false))
  }

  test("packBins: prefix-sum bins, straddlers stay in the earlier bin") {
    val docs = Seq(
      (1L, "s1", 6L), (2L, "s1", 6L), (3L, "s1", 6L), (4L, "s1", 1L),
      (5L, "s2", 25L)).toDF("id", "shard", "toks")
    val out = Curation.packBins(docs, col("shard"), col("toks"), col("id"), 10L)
      .select("id", "offset", "bin")
      .as[(Long, Long, Long)].collect().toSet
    // s1 offsets 0,6,12,18 → bins 0,0,1,1 (doc 2 straddles, stays in 0);
    // s2 is independent (per-shard stream restarts at offset 0).
    assert(out == Set((1L, 0L, 0L), (2L, 6L, 0L), (3L, 12L, 1L),
      (4L, 18L, 1L), (5L, 0L, 0L)))
  }

  test("packBins fill bound: every bin < capacity + its largest doc") {
    val docs = (1 to 200).map(i => (i.toLong, s"s${i % 3}", (i % 17 + 1).toLong))
      .toDF("id", "shard", "toks")
    val fills = Curation.packBins(docs, col("shard"), col("toks"), col("id"), 20L)
      .groupBy("shard", "bin")
      .agg(sum(col("toks")).as("fill"), max(col("toks")).as("mx"))
      .filter(col("fill") >= lit(20L) + col("mx"))
      .count()
    assert(fills == 0L)
  }

  test("lengthHistogram buckets by width and partitions the row count") {
    val df = Seq(0L, 49L, 50L, 99L, 100L, 250L).toDF("v")
    val h = Curation.lengthHistogram(df, col("v"), 50)
      .orderBy("bucket")
      .select("bucket", "c", "lo", "hi", "total")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(h == Seq(
      (0L, 2L, 0L, 49L, 49L),
      (1L, 2L, 50L, 99L, 149L),
      (2L, 1L, 100L, 100L, 100L),
      (5L, 1L, 250L, 250L, 250L)))
    assert(h.map(_._2).sum == 6L, "buckets partition the rows")
  }

  test("mixtureSample hits exact target proportions at the feasible maximum") {
    val docs = (0L until 100L).map(i => (i, s"src${i % 4}")).toDF("id", "src")
    // 25 rows per source; weights 0.5/0.3/0.2 -> T = min(25/0.5, 25/0.3,
    // 25/0.2) = 50 -> targets 25/15/10; src3 dropped entirely.
    val kept = Curation.mixtureSample(docs, "src", "id",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept === Map("src0" -> 25L, "src1" -> 15L, "src2" -> 10L))
  }

  test("mixtureSample is deterministic and partitioning-independent") {
    val docs = (0L until 90L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val w = Map("s0" -> 0.4, "s1" -> 0.4, "s2" -> 0.2)
    def ids(d: org.apache.spark.sql.DataFrame) =
      Curation.mixtureSample(d, "src", "id", w)
        .select("id").as[Long].collect().toSeq.sorted
    assert(ids(docs.coalesce(1)) === ids(docs.repartition(7)))
  }

  test("duplicateSpanStats counts sliding-span repeats, cross- and within-doc") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // 9 toks, keeper
      (2L, "a quick brown fox jumps over me"), // shares a 5-span at offset 2
      (3L, "tiny doc"), // < n tokens → no spans
      (4L, "x y x y x y x y")) // within-doc repeated spans
      .toDF("id", "text")
    val stats = Curation.duplicateSpanStats(docs, "id", "text", 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: 5 spans, 1 duplicated ("quick brown fox jumps over")
    assert(stats(1L) === ((5L, 1L)))
    // doc2: 3 spans, 1 duplicated
    assert(stats(2L) === ((3L, 1L)))
    // doc3 emits no spans at all
    assert(!stats.contains(3L))
    // doc4: 4 spans "x y x y x" / "y x y x y" ×2 each → all duplicated
    assert(stats(4L) === ((4L, 4L)))
  }

  test("removeDuplicateSpans keeps the corpus-wide first occurrence only") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox jumps over me"),
      (3L, "tiny doc"))
      .toDF("id", "text")
    val out = Curation.removeDuplicateSpans(docs, "id", "text", 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc1 holds the first occurrence → fully intact
    assert(out(1L) === (("the quick brown fox jumps over the lazy dog", 9L, 9L)))
    // doc2 loses exactly the 5 tokens covered by the duplicated span;
    // the uncovered prefix "a" and suffix "me" survive in order
    assert(out(2L) === (("a me", 7L, 2L)))
    // short doc untouched
    assert(out(3L) === (("tiny doc", 2L, 2L)))
    // every doc comes back, total tokens conserved as kept + removed
    assert(out.size == 3)
  }

  test("assignSplit: deterministic, exhaustive, corpus-growth-stable, " +
    "and near the target rates") {
    import spark.implicits._
    val ids = (1L to 4000L).toDF("id")
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val a = Curation.assignSplit(ids, col("id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // exhaustive: every row gets exactly one of the declared names
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // deterministic across runs
    val b = Curation.assignSplit(ids, col("id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    // corpus growth never migrates an existing document's split
    val grown = Curation.assignSplit((1L to 8000L).toDF("id"),
      col("id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a.forall { case (k, v) => grown(k) == v },
      "old documents must keep their split as the corpus grows")
    // rates converge to the weights (md5 is uniform; 4000 draws)
    val frac = a.values.groupBy(identity).view.mapValues(
      _.size.toDouble / a.size).toMap
    assert(math.abs(frac("train") - 0.8) < 0.03 &&
      math.abs(frac("val") - 0.1) < 0.02 &&
      math.abs(frac("test") - 0.1) < 0.02, s"rates drifted: $frac")
    // weight validation is loud
    intercept[IllegalArgumentException] {
      Curation.assignSplit(ids, col("id"), Seq(("a", 0.5), ("b", 0.6)))
    }
  }

  test("unigramSurprisal: integer micro-nat arithmetic, boilerplate " +
    "scores below novelty, zero-token docs drop out") {
    import spark.implicits._
    // corpus of 8 tokens: "a" ×4, "b" ×2, "c" ×1, "d" ×1
    val docs = Seq(
      (1L, "a a a a"),    // pure boilerplate: 4 × ln(8/4)
      (2L, "b b"),        // 2 × ln(8/2)
      (3L, "c d"),        // the novel doc: ln(8/1) × 2
      (4L, "")            // zero tokens: absent from the output
    ).toDF("doc_id", "text")
    val s = Curation.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def mn(x: Double): Long = math.round(math.log(x) * 1000000L)
    assert(s(1L) == (4L, 4 * mn(2.0)), s"got ${s(1L)}")
    assert(s(2L) == (2L, 2 * mn(4.0)))
    assert(s(3L) == (2L, 2 * mn(8.0)))
    assert(!s.contains(4L), "a zero-token doc has no surprisal row")
    // the ordering a curation pass relies on: novelty > boilerplate
    assert(s(3L)._2 / s(3L)._1 > s(1L)._2 / s(1L)._1)
    // deterministic across runs and partitionings
    val s2 = Curation.unigramSurprisal(docs.repartition(7),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(s == s2)
  }

  test("tokenBudgetMix: deterministic greedy prefix per source, " +
    "budget edge cases, unbudgeted sources dropped") {
    import spark.implicits._
    val docs = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "web" else "code", 10L + (i % 7)))
      .toDF("doc_id", "source", "tok")
    def mix(b: Map[String, Long]) = Curation.tokenBudgetMix(
      docs, col("doc_id"), "source", col("tok"), b)
    // determinism: two runs pick the identical set
    val b = Map("web" -> 400L, "code" -> 250L)
    val ids1 = mix(b).select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = mix(b).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2 && ids1.nonEmpty)
    // the kept set IS the greedy (md5, id)-ordered prefix
    def greedy(src: String, budget: Long): Set[Long] = {
      val ordered = docs.filter(col("source") === src)
        .withColumn("h", md5(col("doc_id").cast("string")))
        .orderBy(col("h"), col("doc_id"))
        .select("doc_id", "tok").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      var cum = 0L
      ordered.takeWhile { case (_, t) => cum += t; cum <= budget }
        .map(_._1).toSet
    }
    assert(ids1 == greedy("web", 400L) ++ greedy("code", 250L))
    // budget >= total keeps everything; zero keeps nothing
    val total = docs.filter(col("source") === "web")
      .agg(sum("tok")).head().getLong(0)
    assert(mix(Map("web" -> total)).count() == 100L)
    assert(mix(Map("web" -> 0L)).count() == 0L)
    // a source with no budget entry is dropped (budgets = the mixture)
    assert(mix(Map("web" -> total))
      .filter(col("source") === "code").count() == 0L)
    // DENSE case: 40k docs force multi-doc buckets (65536 bucket
    // space), so the boundary bucket's window genuinely orders
    // several documents — the two-pass cut must STILL equal the
    // global greedy prefix
    val dense = (1L to 40000L).map(i => (i, "w", 5L + (i % 3)))
      .toDF("doc_id", "source", "tok")
    val budget = 40000L
    val keptDense = Curation.tokenBudgetMix(dense, col("doc_id"),
      "source", col("tok"), Map("w" -> budget))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val orderedDense = dense
      .withColumn("h", md5(col("doc_id").cast("string")))
      .orderBy(col("h"), col("doc_id"))
      .select("doc_id", "tok").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var cum = 0L
    val expect = orderedDense.takeWhile { case (_, t) =>
      cum += t; cum <= budget }.map(_._1).toSet
    assert(keptDense == expect,
      s"dense two-pass cut diverged: ${keptDense.size} vs ${expect.size}")
  }

  test("tokenBudgetMix: a high-cardinality UNBUDGETED source column " +
    "never reaches the driver metadata collect") {
    import spark.implicits._
    // 5000 distinct unbudgeted domains + one budgeted source: without
    // the pre-filter the bucket-sum collect grows with the domain
    // cardinality for rows that are dropped by construction
    val docs = (1L to 6000L).map { i =>
      val src = if (i <= 1000L) "web" else s"domain_${i}"
      (i, src, 10L)
    }.toDF("doc_id", "source", "tok")
    val (kept, mix) = graft.core.OpMetrics.scope(Curation.tokenBudgetMix(
      docs, col("doc_id"), "source", col("tok"), Map("web" -> 500L)))
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 50 && ids.forall(_ <= 1000L))
    // the collected metadata is bounded by the BUDGETED source's
    // buckets (≤ 1000 docs → ≤ 1000 rows), not the 5000 domains
    val metaRows = mix.get(Curation.MixMetadataRows)
    assert(metaRows.exists(r => r >= 1 && r <= 1000),
      s"metadata collect leaked unbudgeted sources: $metaRows rows")
    // and the kept set still equals the greedy prefix of the budgeted
    // source alone
    val ordered = docs.filter(col("source") === "web")
      .withColumn("h", md5(col("doc_id").cast("string")))
      .orderBy(col("h"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0))
    assert(ids == ordered.take(50).toSet)
  }
}
