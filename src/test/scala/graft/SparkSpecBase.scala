package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite, lazy). */
trait SparkSpecBase extends AnyFunSuite {
  val sf0001 = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSpecBase.installStreamDrain()
    s
  }
}

object SparkSpecBase {
  private val drainInstalled = new java.util.concurrent.atomic.AtomicBoolean

  /** Deterministic shutdown ordering for streaming queries (round-19
    * VERIFY tests_ok=false: a RejectedExecutionException from a
    * microbatch's file-sink write racing SparkContext's own shutdown
    * hook at JVM exit). Every spec stops its queries in `finally`, but
    * a query whose stop raced a suite abort — or whose last microbatch
    * is still committing when the JVM begins to exit — would submit
    * work to the already-terminated executor pool. This hook runs at
    * Hadoop shutdown priority 100, i.e. BEFORE Spark's context-stop
    * hook (priority 40), and stops every still-active streaming query
    * of the active and default sessions that exist when it runs, while
    * the scheduler is alive: a suite that stopped the first session
    * and built another is covered too. */
  private[graft] def installStreamDrain(): Unit =
    if (drainInstalled.compareAndSet(false, true)) {
      org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
        new Runnable {
          def run(): Unit =
            (SparkSession.getActiveSession.toSeq ++
              SparkSession.getDefaultSession).distinct.foreach(s =>
              try s.streams.active.foreach(q =>
                try q.stop() catch { case _: Throwable => () })
              catch { case _: Throwable => () })
        }, 100)
    }
}
