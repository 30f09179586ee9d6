package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a timed op, or a call inside one. `op` is the id
  * of the enclosing timed op, -1 outside the timed phase. */
final case class Span(op: Int, name: String, startMs: Long, endMs: Long,
    durS: Double)

/** Span recorder. The untraced variant only runs the bodies; the traced
  * one also keeps spans in memory and listens to Spark's job, task and
  * query-execution events, so per-layer numbers come from outside the
  * program: the benchmark's own spans around each call into a layer, and
  * Spark's public listener interfaces for what happened inside it. */
class Tracer {
  def traced: Boolean = false
  /** Listen to Spark around one timed op; `detach` waits until every
    * event of the op has been delivered, then stops listening, so the
    * op's untraced twin runs with no listener attached. */
  def attach(): Unit = ()
  def detach(): Unit = ()
  def beginOp(id: Int): Unit = ()
  def endOp(): Unit = ()
  def span[A](name: String)(body: => A): A = body
  def spans: Seq[Span] = Nil
  def layerMetrics(ops: Seq[Span]): Map[String, Double] = Map.empty
  def jobSpans: Seq[Map[String, Any]] = Nil
}

final class SparkTracer(spark: SparkSession) extends Tracer {
  override def traced: Boolean = true
  private val OpProp = "perfbench.op"
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private var current = -1

  private case class Job(id: Int, op: Int, start: Long, var end: Long,
      stages: Seq[Int])
  private case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      delayMs: Long, shWrite: Long, shRecords: Long, shRead: Long,
      spill: Long, input: Long, output: Long, result: Long, failed: Boolean)
  private case class Phases(startMs: Long, analysis: Long, optimization: Long,
      planning: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phases]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, Job(e.jobId, op, e.time, -1L, e.stageInfos.map(_.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        val delay = math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetch)
        tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, delay, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.resultSize, e.reason != Success))
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def d(n: String) = p.get(n).map(_.durationMs).getOrElse(0L)
      val start = if (p.isEmpty) 0L else p.values.map(_.startTimeMs).min
      phases.add(Phases(start, d("analysis"), d("optimization"), d("planning")))
    }
  }
  override def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  override def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  override def beginOp(id: Int): Unit = {
    current = id
    spark.sparkContext.setLocalProperty(OpProp, id.toString)
  }

  override def endOp(): Unit = {
    current = -1
    spark.sparkContext.setLocalProperty(OpProp, null)
  }

  override def span[A](name: String)(body: => A): A = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    recorded.add(Span(current, name, s, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9))
    r
  }

  override def spans: Seq[Span] = recorded.asScala.toSeq

  override def jobSpans: Seq[Map[String, Any]] = jobs.values.asScala.toSeq
    .sortBy(_.id).map(j => Map("job" -> j.id, "op" -> j.op,
      "start_ms" -> j.start, "end_ms" -> j.end))

  /** Union length (ms) of the intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Exec, plans and sql.driver_s figures over the given timed op spans. */
  override def layerMetrics(ops: Seq[Span]): Map[String, Double] = {
    val opIds = ops.map(_.op).toSet
    val n = math.max(1, ops.size).toDouble
    val opJobs = jobs.values.asScala.toSeq.filter(j => opIds.contains(j.op))
    val stageToOp = opJobs.flatMap(j => j.stages.map(_ -> j.op)).toMap
    val opTasks = tasks.asScala.toSeq.filter(t => stageToOp.contains(t.stage))
    val byOpJobs = opJobs.groupBy(_.op)
    val driverS = ops.map { o =>
      val iv = byOpJobs.getOrElse(o.op, Nil).map(j =>
        (j.start, if (j.end < 0) o.endMs else j.end))
      math.max(0.0, o.durS - covered(iv, o.startMs, o.endMs) / 1e3)
    }
    val opPhases = phases.asScala.toSeq.filter(p =>
      ops.exists(o => p.startMs >= o.startMs && p.startMs <= o.endMs))
    val skew = opTasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val r = ts.map(_.runMs.toDouble).sorted
      val med = Stats.median(r)
      if (med > 0) r.last / med else 1.0
    }
    def sumL(f: Task => Long) = opTasks.map(f).sum.toDouble
    val planS = opPhases.map(p => p.analysis + p.optimization + p.planning).sum / 1e3
    Map(
      "sql.driver_s" -> Stats.median(driverS),
      "plans.analysis_s" -> opPhases.map(_.analysis).sum / 1e3 / n,
      "plans.optimization_s" -> opPhases.map(_.optimization).sum / 1e3 / n,
      "plans.planning_s" -> opPhases.map(_.planning).sum / 1e3 / n,
      "plans.share" -> planS / math.max(1e-9, ops.map(_.durS).sum),
      "exec.jobs_per_op" -> opJobs.size / n,
      "exec.tasks_per_op" -> opTasks.size / n,
      "exec.scheduler_delay_s" -> sumL(_.delayMs) / 1e3 / n,
      "exec.task_run_s" -> sumL(_.runMs) / 1e3 / n,
      "exec.task_cpu_s" -> sumL(_.cpuNs) / 1e9 / n,
      "exec.gc_s" -> sumL(_.gcMs) / 1e3 / n,
      "exec.shuffle_write_bytes" -> sumL(_.shWrite) / n,
      "exec.shuffle_read_bytes" -> sumL(_.shRead) / n,
      "exec.spill_bytes" -> sumL(_.spill) / n,
      "exec.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "exec.input_bytes" -> sumL(_.input) / n,
      "exec.output_bytes" -> sumL(_.output) / n,
      "exec.result_bytes" -> sumL(_.result) / n,
      "exec.failed_tasks" -> opTasks.count(_.failed).toDouble)
  }

  /** Shuffle records written by the jobs of the given ops. */
  def shuffleRecords(opIds: Set[Int]): Long = {
    val stages = jobs.values.asScala.filter(j => opIds.contains(j.op))
      .flatMap(_.stages).toSet
    tasks.asScala.filter(t => stages.contains(t.stage)).map(_.shRecords).sum
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
