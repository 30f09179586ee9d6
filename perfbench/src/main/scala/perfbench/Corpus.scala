package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array_distinct, col, size, split}

import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, Similarity}

/** LLM-data operators over `documents` (with planted near-duplicate edits
  * and a planted hot shingle) and `embeddings`; no commits. Every result
  * is checked against a plain-Scala computation over the same inputs. */
final class Corpus(ctx: Ctx) {
  import Corpus._
  private val spark = ctx.spark
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var texts: Map[Long, String] = Map.empty
  private var shingles: Map[Long, Set[String]] = Map.empty
  private var vectors: Map[Long, Array[Float]] = Map.empty
  private var planted: Seq[(Long, Long)] = Nil
  private var sample: Set[Long] = Set.empty
  private var sampleTruth: Set[(Long, Long)] = Set.empty
  private val first = mutable.Map[String, Any]()
  private var pairsOut = 0L

  def setup(): Unit = {
    docs = graft.core.Lake.table(spark, ctx.input, "documents")
    emb = graft.core.Lake.table(spark, ctx.input, "embeddings")
    texts = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    shingles = texts.map { case (id, t) => id -> wordShingles(t, 3) }
    vectors = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    planted = scala.io.Source.fromFile(s"${ctx.input}/planted.tsv").getLines()
      .map(_.split('\t')).map(a => (a(0).toLong, a(1).toLong)).toSeq
    val r = new Random(ctx.seed)
    val ids = texts.keys.toIndexedSeq.sorted
    sample = planted.flatMap(p => Seq(p._1, p._2)).toSet ++ Seq.fill(SampleDocs)(ids(r.nextInt(ids.size)))
    val s = sample.toIndexedSeq.sorted
    sampleTruth = (for {
      i <- s.indices; j <- i + 1 until s.size
      if jaccard(shingles(s(i)), shingles(s(j))) >= MinJaccard
    } yield (s(i), s(j))).toSet
  }

  private def shingleFrame: DataFrame = docs.select(col("doc_id"),
    array_distinct(TextFunctions.wordShingles(col("text"), 3)).as("sh"))

  private def pairs(res: Any): Set[(Long, Long)] =
    res.asInstanceOf[Array[Row]].map(x => (x.getLong(0), x.getLong(1))).toSet

  /** Results must repeat exactly across executions of the same op key. */
  private def same(key: String, v: Any): Option[String] = first.get(key) match {
    case None => first(key) = v; None
    case Some(p) => if (p == v) None else Some("result differs from its first execution")
  }

  private def nearDup(id: Int): Op = {
    Op(id, "near_dup", "near_dup:pairs",
      () => Dedup.shingleJaccardPairs(shingleFrame, "doc_id", "sh", MinJaccard).collect(),
      res => {
        val got = pairs(res)
        pairsOut = got.size
        // a corrupt run expects one pair that cannot exist
        val expect = if (ctx.corrupt) planted :+ ((-1L, -2L)) else planted
        val missing = expect.filterNot(got.contains)
        val inSample = got.filter(p => sample.contains(p._1) && sample.contains(p._2))
        if (missing.nonEmpty) Some(s"planted pairs not found: ${missing.take(5)}")
        else if (inSample != sampleTruth)
          Some(s"sample pairs differ from brute force: ${(inSample diff sampleTruth).take(3)} " +
            s"extra, ${(sampleTruth diff inSample).take(3)} missing")
        else same("near_dup", got)
      })
  }

  private def rerank(id: Int, r: Random): Op = {
    val ids = texts.keys.toIndexedSeq.sorted
    val cand = (planted ++ Seq.fill(RerankRandom) {
      val a = ids(r.nextInt(ids.size)); val b = ids(r.nextInt(ids.size))
      (math.min(a, b), math.max(a, b))
    }).filter(p => p._1 != p._2).distinct
    Op(id, "near_dup", "near_dup:rerank", () => {
      import spark.implicits._
      Dedup.ngramJaccard(docs, cand.toDF("a_id", "b_id"), "text", "doc_id", 3).collect()
    }, res => {
      val got = res.asInstanceOf[Array[Row]].map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
      val bad = cand.filter { p =>
        val (sa, sb) = (shingles(p._1), shingles(p._2))
        val want = if ((sa ++ sb).isEmpty) 1.0 else jaccard(sa, sb)
        got.get(p).forall(g => math.abs(g - want) > 1e-12)
      }
      if (bad.isEmpty) None else Some(s"rerank Jaccard differs on ${bad.take(3)}")
    })
  }

  private def minHash(id: Int): Op =
    Op(id, "minhash", "minhash", () =>
      Dedup.minHashDedup(docs, "text", "doc_id").select("doc_id").collect(), res => {
      val kept = res.asInstanceOf[Array[Row]].map(_.getLong(0)).toSet
      val dropped = texts.keySet -- kept
      val allowed = planted.map(_._2).toSet
      if (kept.size + dropped.size != texts.size || !dropped.subsetOf(allowed))
        Some(s"minhash dropped ids outside the planted duplicates: ${(dropped -- allowed).take(5)}")
      else same("minhash", kept)
    })

  /** Planted pairs linked into chains of `ChainPairs` pairs in a seeded
    * order: every component has the same diameter whatever the seed, so
    * label propagation runs the same number of rounds in every run. */
  private def dupGroups(id: Int, r: Random): Op = {
    val edges = r.shuffle(planted).grouped(ChainPairs).flatMap { chain =>
      chain ++ chain.sliding(2).collect { case Seq(a, b) =>
        (math.min(a._2, b._1), math.max(a._2, b._1)) }
    }.toSeq
    Op(id, "dup_groups", "dup_groups", () => {
      import spark.implicits._
      Dedup.resolveDupGroups(edges.toDF("a_id", "b_id")).collect()
    }, res => {
      val got = res.asInstanceOf[Array[Row]].map(x => x.getLong(0) -> x.getLong(1)).toMap
      val want = components(edges)
      if (got == want) None else Some(s"dup groups differ on ${(got.toSet diff want.toSet).take(3)}")
    })
  }

  private def topK(id: Int, r: Random): Op = {
    val q = vectors(vectors.keys.toIndexedSeq.sorted.apply(r.nextInt(vectors.size)))
    Op(id, "topk", "topk", () => Similarity.bruteTopK(emb, q.toSeq, TopK).collect(), res => {
      val got = res.asInstanceOf[Array[Row]].map(x => x.getLong(0) -> x.getDouble(1))
      val exact = vectors.map { case (k, v) => k -> cosine(v, q) }
      val worst = if (got.isEmpty) 1.0 else got.map(_._2).min
      val off = got.filter { case (k, s) => math.abs(exact(k) - s) > 2e-6 }
      val better = exact.filter { case (k, s) => !got.exists(_._1 == k) && s > worst + 2e-6 }
      if (got.length != math.min(TopK, vectors.size)) Some(s"top-k returned ${got.length} rows")
      else if (off.nonEmpty) Some(s"top-k similarity differs for ${off.take(3).toSeq}")
      else if (better.nonEmpty) Some(s"top-k missed ${better.take(3)}")
      else None
    })
  }

  private def chunkDedup(id: Int): Op =
    Op(id, "curation", "curation:chunk_dedup", () =>
      Curation.chunkDedup(docs, "doc_id", "text", ChunkTokens)
        .selectExpr("sum(chunks_total)", "sum(chunks_kept)").head(), res => {
      val x = res.asInstanceOf[Row]
      val chunks = texts.toSeq.flatMap { case (_, t) =>
        t.split(" ").grouped(ChunkTokens).map(_.mkString(" ")) }
      val want = (chunks.size.toLong, chunks.distinct.size.toLong)
      val got = (x.getLong(0), x.getLong(1))
      if (got == want) None else Some(s"chunk dedup got $got, expected $want")
    })

  private def contamination(id: Int, r: Random): Op = {
    val bench = 20L + r.nextInt(100)
    Op(id, "curation", s"curation:contamination:$bench", () =>
      Curation.contaminationFlags(docs, "doc_id", "text", col("doc_id") < bench, ContamN)
        .filter(col("contaminated")).select("doc_id").collect(), res => {
      val got = res.asInstanceOf[Array[Row]].map(_.getLong(0)).toSet
      val benchGrams = texts.filter(_._1 < bench).values.flatMap(t => wordShingles(t, ContamN)).toSet
      val want = texts.filter { case (k, t) =>
        k >= bench && wordShingles(t, ContamN).exists(benchGrams.contains) }.keySet
      if (got == want) None else Some(s"contamination flags differ on ${(got diff want).take(3)}")
    })
  }

  private def mix(id: Int, r: Random): Op = {
    val budgets = (0 until 5).map(i => s"src${r.nextInt(20)}" -> (200L + r.nextInt(2000))).toMap
    Op(id, "curation", s"curation:mix:${budgets.hashCode}", () =>
      Curation.tokenBudgetMix(docs, col("doc_id"), "source", size(split(col("text"), " ")), budgets)
        .select("doc_id", "source").collect(), res => {
      val got = res.asInstanceOf[Array[Row]].map(x => x.getLong(0) -> x.getString(1))
      val spent = got.groupBy(_._2).map { case (s, xs) =>
        s -> xs.map(x => texts(x._1).split(" ").length.toLong).sum }
      val over = spent.filter { case (s, t) => budgets.get(s).forall(t > _) }
      if (over.nonEmpty) Some(s"token budgets exceeded: $over")
      else same(s"mix:${budgets.hashCode}", got.map(_._1).toSet)
    })
  }

  /** One round: half the operator kinds (alternating halves, each half
    * with one of the two iterative, multi-job operators). */
  def round(r: Random, i: Int): Seq[Op] =
    if (i % 2 == 0) Seq(nearDup(-1), minHash(-1), topK(-1, r), chunkDedup(-1))
    else Seq(rerank(-1, r), dupGroups(-1, r), contamination(-1, r), mix(-1, r))

  def layer(ops: Seq[Span]): Map[String, Double] = {
    val perKind = Seq("near_dup", "minhash", "dup_groups", "topk", "curation").map { k =>
      s"operators.${k}_p50_s" -> Stats.median(ops.filter(_.name.startsWith(k)).map(_.durS))
    }.toMap
    val shuffle = ctx.tracer match {
      case t: SparkTracer =>
        val nearIds = ops.filter(_.name == "near_dup:pairs").map(_.op).toSet
        t.shuffleRecords(nearIds).toDouble / math.max(1L, pairsOut * nearIds.size)
      case _ => 0.0
    }
    perKind ++ Map("operators.pairs_out" -> pairsOut.toDouble,
      "operators.shuffle_records_per_pair" -> shuffle)
  }
}

object Corpus {
  val MinJaccard = 0.3
  val SampleDocs = 150
  val RerankRandom = 40
  val TopK = 10
  val ChainPairs = 3
  val ChunkTokens = 8
  val ContamN = 8

  /** Distinct word n-gram shingles, tokenized as the engine does. */
  def wordShingles(text: String, n: Int): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Connected components labelled by their minimum id. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }
}
