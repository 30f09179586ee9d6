package perfbench

import scala.util.Random

/** The read-only workload: analyst queries and corpus-curation operators
  * interleaved over the same generated lake, with no commits. Each round
  * holds half the contract queries, half the SQL-text shapes and half the
  * operator kinds (alternating halves) in a seeded order, so a run of
  * whole rounds always has the same mix and only the literals vary. */
final class AnalystCuration(ctx: Ctx) extends Workload {
  private val RoundOps = 16
  def blockOps: Int = RoundOps
  /** Rounds alternate halves of the op shapes. */
  def passBlocks: Int = 2
  private val queries = new Analyst(ctx)
  private val corpus = new Corpus(ctx)

  def setup(): Unit = {
    queries.setup()
    corpus.setup()
  }

  private def round(r: Random, i: Int): Seq[Op] =
    r.shuffle(queries.round(r, i) ++ corpus.round(r, i)).zipWithIndex
      .map { case (op, j) => op.copy(id = i * RoundOps + j) }

  /** One warm-up block is one round with literals of its own. */
  def warmBlock(b: Int): Unit =
    round(new Random(ctx.seed * 7919 + 1000 + b), b).foreach(_.call())

  /** Whole rounds only: the op count rounds up to a multiple of 16. */
  def timedOps(): IndexedSeq[Op] = {
    val r = new Random(ctx.seed)
    (0 until (ctx.ops + RoundOps - 1) / RoundOps).flatMap(round(r, _)).toIndexedSeq
  }

  def finish(): Seq[String] = Nil

  /** Read-only: the launcher reports the generated layout's figure. */
  def storageAmp(): Double = 0.0

  def layer(ops: Seq[Span]): Map[String, Double] = queries.layer(ops) ++ corpus.layer(ops)

  override def records(): Map[String, Any] = queries.records()
}
