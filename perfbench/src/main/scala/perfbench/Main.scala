package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One timed operation: `call` is what the latency covers, `check`
  * validates its result afterwards (outside the latency and outside the
  * timed wall). `check` returns an error message, or None when correct. */
final case class Op(id: Int, kind: String, key: String, call: () => Any,
    check: Any => Option[String])

/** What a workload run gets: the session, the generated inputs, its own
  * scratch directory, the seed and the fixed op count. A `twin` workload
  * runs the same op list untraced beside a traced one, on state of its
  * own, for the tracing overhead. */
final case class Ctx(spark: SparkSession, input: String, work: String,
    seed: Long, ops: Int, tracer: Tracer, corrupt: Boolean,
    twin: Boolean = false) {
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Row counts of the generated tables, from the generator's rows.tsv. */
  lazy val rows: Map[String, Long] =
    scala.io.Source.fromFile(new File(input, "rows.tsv")).getLines()
      .map(_.split('\t')).map(a => a(0) -> a(1).toLong).toMap
}

trait Workload {
  /** Staging, table creation, anything before warm-up. */
  def setup(): Unit
  /** One warm-up block; blocks exercise the same code as the timed ops. */
  def warmBlock(b: Int): Unit
  /** The fixed, seeded op list of the timed phase. */
  def timedOps(): IndexedSeq[Op]
  /** Checks of the final state; each string is one failure. */
  def finish(): Seq[String]
  /** Bytes the workload keeps on disk over bytes of a fresh rewrite. */
  def storageAmp(): Double
  /** Workload-specific per-layer figures (traced runs only). */
  def layer(ops: Seq[Span]): Map[String, Double]
  /** Ops per warm-up block; the timed latencies are summed per block of
    * the same size, so the block series continues past the warm-up. */
  def blockOps: Int
  /** Warm-up blocks that make one pass over every op shape: the default
    * warm-up (README.md has the JIT slope it stops on). */
  def passBlocks: Int
  /** Extra records for the launcher (oracle payloads). */
  def records(): Map[String, Any] = Map.empty
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** JSON text of maps, sequences and primitives, for the launcher. */
  def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Bytes of one table's rows rewritten as a single parquet file. */
  def rewriteBytes(ctx: Ctx, df: org.apache.spark.sql.DataFrame, name: String): Long = {
    val out = new File(ctx.dir("rewrite"), name)
    df.coalesce(1).write.mode("overwrite").parquet(out.getAbsolutePath)
    dirBytes(out)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)

  /** (steal, total) CPU jiffies of the host so far, from /proc/stat: the
    * share stolen by other guests during the timed phase is recorded
    * beside the results as evidence of host contention. */
  private def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val c = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (c.length > 7) c(7) else 0L, c.sum)
    } finally f.close()
  }

  private def jvmCounters(): (Double, Double, Long) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)

  /** Lets the JIT finish the compilations the warm-up queued, so they do
    * not compete with the timed ops for the cores: waits until compile
    * time grows by less than SettleJitShare of the wall over one
    * SettlePollMs interval, or SettleMaxMs at most, then collects the
    * heap. Returns the seconds waited. */
  private def settle(): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + SettleMaxMs * 1000000L
    var prev = jvmCounters()._1
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(SettlePollMs)
      val now = jvmCounters()._1
      quiet = now - prev < SettleJitShare * SettlePollMs / 1e3
      prev = now
    }
    System.gc()
    (System.nanoTime() - t0) / 1e9
  }
  private val SettlePollMs = 500L
  private val SettleMaxMs = 15000L
  private val SettleJitShare = 0.05

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").get
    val out = arg(args, "--out").get
    val cpus = arg(args, "--cpus").get
    val trace = arg(args, "--trace").contains("1")

    val spark = graft.GraftEngine.session(s"local[$cpus]", "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.GraftSql.setWarehouse(new File(arg(args, "--work").get, "warehouse").getAbsolutePath)
    val tracer = if (trace) new SparkTracer(spark) else new Tracer
    val ctx = Ctx(spark, arg(args, "--input").get, arg(args, "--work").get,
      arg(args, "--seed").get.toLong, arg(args, "--ops").get.toInt,
      tracer, args.contains("--corrupt"))
    def make(c: Ctx): Workload = workload match {
      case "analyst_curation" => new AnalystCuration(c)
      case "table_dml" => new TableDml(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wl = make(ctx)
    val twin = if (trace) Some(make(ctx.copy(tracer = new Tracer, corrupt = false,
      twin = true))) else None

    def phase(name: String): Unit = System.err.println(
      f"perfbench phase $name ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s")
    phase("session")
    wl.setup()
    phase("setup")
    val warmBlocks = arg(args, "--warm").map(_.toInt).getOrElse(wl.passBlocks)
    val warm = (0 until warmBlocks).map { b =>
      val t0 = System.nanoTime()
      wl.warmBlock(b)
      (System.nanoTime() - t0) / 1e9
    }
    phase("warm-up")
    val ops = wl.timedOps()
    val twinOps = twin.map { t => t.setup(); t.timedOps() }.getOrElse(IndexedSeq.empty)
    require(twinOps.isEmpty || twinOps.map(o => (o.id, o.kind)) == ops.map(o => (o.id, o.kind)),
      "the untraced twin built a different op list")
    val settleS = settle()
    phase(f"settle ($settleS%.1f s)")
    val (jit0, _, _) = jvmCounters()
    val (steal0, cpu0) = cpuJiffies()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val latency = mutable.ArrayBuffer[Double]()
    val twinLatency = mutable.ArrayBuffer[Double]()
    val opSpans = mutable.ArrayBuffer[Span]()
    val failures = mutable.ArrayBuffer[String]()
    var untimedNs = 0L // result checks, listener attach/detach and twin ops
    // GC, JIT and class-loading deltas summed over the timed ops only
    var (jitTimed, gcTimed, clsTimed) = (0.0, 0.0, 0L)
    def timedOp(op: Op): Unit = {
      val a0 = System.nanoTime()
      val (jitA, gcA, clsA) = jvmCounters()
      tracer.attach()
      tracer.beginOp(op.id)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(op.call()) catch { case NonFatal(e) => Left(e) }
      val t1 = System.nanoTime()
      tracer.endOp()
      tracer.detach()
      val (jitB, gcB, clsB) = jvmCounters()
      jitTimed += jitB - jitA
      gcTimed += gcB - gcA
      clsTimed += clsB - clsA
      res match {
        case Right(v) =>
          latency += (t1 - t0) / 1e9
          opSpans += Span(op.id, op.key, startMs, System.currentTimeMillis(), (t1 - t0) / 1e9)
          op.check(v).foreach(m => failures += s"op ${op.id} ${op.key}: $m")
        case Left(e) =>
          failures += s"op ${op.id} ${op.key} threw: $e"
      }
      untimedNs += (t0 - a0) + (System.nanoTime() - t1)
    }
    def twinOp(op: Op): Unit = {
      val a0 = System.nanoTime()
      val res = try Right(op.call()) catch { case NonFatal(e) => Left(e) }
      val dur = (System.nanoTime() - a0) / 1e9
      res match {
        case Right(v) =>
          twinLatency += dur
          op.check(v).foreach(m => failures += s"untraced twin op ${op.id} ${op.key}: $m")
        case Left(e) =>
          failures += s"untraced twin op ${op.id} ${op.key} threw: $e"
      }
      untimedNs += System.nanoTime() - a0
    }
    val wall0 = System.nanoTime()
    // A traced run alternates whole blocks: traced then twin, twin then
    // traced. Drift along the run (JIT, host load) falls on both alike,
    // and no op directly follows a repeat of itself, which would run
    // faster than any op of an untraced run.
    ops.indices.grouped(wl.blockOps).zipWithIndex.foreach { case (block, b) =>
      if (twinOps.isEmpty) block.foreach(i => timedOp(ops(i)))
      else if (b % 2 == 0) { block.foreach(i => timedOp(ops(i))); block.foreach(i => twinOp(twinOps(i))) }
      else { block.foreach(i => twinOp(twinOps(i))); block.foreach(i => timedOp(ops(i))) }
    }
    val wallS = (System.nanoTime() - wall0 - untimedNs) / 1e9
    phase("timed")
    val (steal1, cpu1) = cpuJiffies()
    val opFailures = failures.size
    val finalErrors = try wl.finish() ++ twin.toSeq.flatMap(_.finish().map("untraced twin " + _))
      catch { case NonFatal(e) => Seq(s"final-state check threw: $e") }
    failures ++= finalErrors

    val layer: Map[String, Any] = if (!trace) Map.empty else {
      tracer.layerMetrics(opSpans.toSeq) ++ wl.layer(opSpans.toSeq) ++ Map(
        "jvm.gc_s" -> gcTimed,
        "jvm.jit_s_timed" -> jitTimed,
        "jvm.jit_s_setup" -> jit0,
        "jvm.classes_loaded_timed" -> clsTimed.toDouble)
    }
    val record = Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "env" -> Map(
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "available_processors" -> Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("-X")).toSeq,
        "java_version" -> System.getProperty("java.version"),
        "host_steal_share_timed" -> (steal1 - steal0).toDouble / math.max(1L, cpu1 - cpu0),
        "spark_version" -> spark.version),
      "setup_s" -> setupS,
      "settle_s" -> settleS,
      "attempted" -> (ops.size + twinOps.size),
      "op_failures" -> opFailures,
      "final_failures" -> finalErrors.size,
      "failures" -> failures.take(50).toSeq,
      "latency_s" -> latency.toSeq,
      "latency_keys" -> opSpans.map(_.name).toSeq,
      "twin_latency_s" -> twinLatency.toSeq,
      "timed_wall_s" -> wallS,
      "warm_blocks_s" -> warm,
      "timed_blocks_s" -> latency.grouped(wl.blockOps).map(_.sum).toSeq,
      "jit_s" -> Map("setup" -> jit0, "timed" -> jitTimed),
      "peak_rss_mb" -> peakRssMb(),
      "storage_amp" -> wl.storageAmp(),
      "layer" -> layer,
      "records" -> wl.records())
    if (trace) {
      val spans = opSpans.map(s => Map("op" -> s.op, "kind" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS)) ++
        tracer.spans.map(s => Map("parent" -> s.op, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS)) ++
        tracer.jobSpans
      Files.write(Paths.get(ctx.work, "spans.json"),
        json(spans).getBytes(StandardCharsets.UTF_8))
    }
    Files.write(Paths.get(out), json(record).getBytes(StandardCharsets.UTF_8))
    phase("records")
    spark.stop()
  }
}
