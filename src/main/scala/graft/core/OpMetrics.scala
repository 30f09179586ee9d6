package graft.core

import scala.util.DynamicVariable

/** Per-operation evidence — footer reads, version-file reads, the MV
  * refresh mode, … — collected by the caller that asks for it:
  * `val (df, rec) = OpMetrics.scope(TxnTable.readPruned(…))`, then
  * `rec.count(SkippingIndex.FooterReads)`. A write lands in every
  * enclosing scope of the writing thread (a thread started inside a
  * scope inherits it), so nested scopes each see their own writes,
  * concurrent callers never see each other's, and a write outside any
  * scope is a no-op. Writers record on the driver, where work is
  * dispatched, so counts hold on a real cluster too. Keys are declared
  * beside their writers, which keeps this object free of their types.
  */
object OpMetrics {

  /** A typed evidence slot: counters add, `latest` keys keep the last
    * value written inside the scope. Identity is by reference. */
  final class Key[A] private (val name: String, fold: (A, A) => A) {
    private[OpMetrics] def merge(old: Option[Any], v: A): A =
      old.fold(v)(o => fold(o.asInstanceOf[A], v))
    override def toString: String = name
  }
  object Key {
    def counter(name: String): Key[Long] = new Key[Long](name, _ + _)
    def latest[A](name: String): Key[A] = new Key[A](name, (_, v) => v)
  }

  /** The immutable evidence one scope collected. */
  final class Record private[OpMetrics] (values: Map[Key[_], Any]) {
    def get[A](k: Key[A]): Option[A] = values.get(k).map(_.asInstanceOf[A])
    /** A counter's total; 0 when nothing inside the scope bumped it. */
    def count(k: Key[Long]): Long = get(k).getOrElse(0L)
    override def toString: String =
      values.map { case (k, v) => s"$k=$v" }.mkString("Record(", ", ", ")")
  }

  private final class Frame {
    private var values = Map.empty[Key[_], Any]
    def write[A](k: Key[A], v: A): Unit =
      synchronized { values += k -> k.merge(values.get(k), v) }
    def record: Record = synchronized { new Record(values) }
  }

  private val frames = new DynamicVariable[List[Frame]](Nil)

  /** Run `body`, returning its value and the evidence written inside. */
  def scope[A](body: => A): (A, Record) = {
    val f = new Frame
    (frames.withValue(f :: frames.value)(body), f.record)
  }

  def record[A](k: Key[A], v: A): Unit = frames.value.foreach(_.write(k, v))

  def add(k: Key[Long], n: Long = 1L): Unit = record(k, n)
}
