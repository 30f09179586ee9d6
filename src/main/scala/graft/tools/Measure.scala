package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** What one probe measures with: the engine's session, a wall clock, one
  * SparkListener summing the task metrics of every job the probe runs,
  * and cpus plus loadavg beside the numbers. [[finish]] appends one JSON
  * line to `<out>/probes.jsonl`; every file a probe writes lives under
  * the absolute directory `out`.
  *
  * Per timed section the line carries: `wall_s` (median over the
  * section's repetitions), and for that repetition `jobs`, `tasks`,
  * `executor_run_s`, `shuffle_read_bytes`, `shuffle_write_bytes`,
  * `spill_bytes` and `result_bytes` (task results sent to the driver).
  */
final class Measure(val spark: SparkSession, val out: Path, probe: String) {
  require(out.isAbsolute, s"--out must be an absolute directory, got $out")
  Files.createDirectories(out)

  private val counterNames = Seq("jobs", "tasks", "executor_run_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "result_bytes")
  private val counters = new AtomicLongArray(counterNames.size)
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counters.incrementAndGet(0)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        Seq(1L, m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize)
          .zipWithIndex.foreach { case (v, i) => counters.addAndGet(i + 1, v) }
      }
  }
  spark.sparkContext.addSparkListener(listener)

  private val loadStart = Measure.loadavg()
  private val t0 = System.nanoTime()
  private val sections = mutable.LinkedHashMap.empty[String, JValue]
  private val facts = mutable.LinkedHashMap.empty[String, JValue]

  private def snapshot(): Array[Long] = {
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
    Array.tabulate(counterNames.size)(counters.get)
  }

  /** Run `body` `reps` times; record the median repetition's wall and
    * job metrics under `name` and return the last result. */
  def time[A](name: String, reps: Int = 1)(body: => A): A = {
    spark.sparkContext.setJobDescription(s"$probe: $name")
    var last: Option[A] = None
    val runs = (1 to reps).map { _ =>
      val before = snapshot()
      val s = System.nanoTime()
      last = Some(body)
      val wall = (System.nanoTime() - s) / 1e9
      (wall, snapshot().zip(before).map { case (a, b) => a - b })
    }.sortBy(_._1)
    val (wall, delta) = runs(runs.size / 2)
    sections(name) = JObject(("wall_s" -> JDouble(wall)) +:
      counterNames.zip(delta).map {
        case ("executor_run_s", ms) => "executor_run_s" -> JDouble(ms / 1e3)
        case (k, v) => k -> JLong(v)
      }.toList)
    last.get
  }

  /** Record a non-timing observation (a count, a ratio, a flag). */
  def fact(name: String, v: Any): Unit = facts(name) = v match {
    case x: Int => JLong(x.toLong)
    case x: Long => JLong(x)
    case x: Double => JDouble(x)
    case x: Boolean => JBool(x)
    case x => JString(String.valueOf(x))
  }

  /** Write a text artifact (a plan dump) next to the JSON line. */
  def file(name: String, text: String): Path =
    Files.writeString(out.resolve(name), text)

  private var scratchDir: Option[Path] = None

  /** A scratch directory for the probe's tables, under `out`; removed
    * by [[finish]]. */
  def scratch: Path = scratchDir.getOrElse {
    val d = Files.createTempDirectory(out, s"$probe-")
    scratchDir = Some(d)
    d
  }

  /** Detach the listener, drop the scratch tables, append the probe's
    * JSON line to `<out>/probes.jsonl` and return it. */
  def finish(): String = {
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.sparkContext.setJobDescription(null)
    scratchDir.foreach { d =>
      val it = Files.walk(d)
      try it.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally it.close()
    }
    val line = compact(render(JObject(
      "probe" -> JString(probe),
      "cpus" -> JLong(spark.sparkContext.defaultParallelism.toLong),
      "loadavg_start" -> JString(loadStart),
      "loadavg_end" -> JString(Measure.loadavg()),
      "wall_s" -> JDouble((System.nanoTime() - t0) / 1e9),
      "sections" -> JObject(sections.toList),
      "facts" -> JObject(facts.toList))))
    Files.writeString(out.resolve("probes.jsonl"), line + "\n",
      StandardCharsets.UTF_8, StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)
    line
  }
}

object Measure {

  /** The 1/5/15-minute load averages as "a,b,c"; "" where the host
    * does not expose /proc/loadavg. */
  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")
      .take(3).mkString(",")
    catch { case NonFatal(_) => "" }
}
