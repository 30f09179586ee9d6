package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.GraftEngine
import graft.core.{Lake, OpMetrics, TxnTable}
import graft.core.TxnTable.Bound
import graft.operators.{Dedup, IncrementalView}
import graft.sql.GraftSql

/** The scale probes: one named measurement per operator claim that the
  * floor-bound sf0.1 contract bench cannot show. Each probe compares two
  * sizes or two code paths, keeps those sizes as constants in its body,
  * asserts what it compares (identical results, bounds) in-run, and
  * records walls, job metrics and facts through one [[Measure]].
  *
  * {{{
  * runMain graft.tools.Probe <name> --out <absolute dir> [args]
  * }}}
  *
  * `metadata_count`, `dv_growth` and `cdf_growth` take a lake directory
  * (lineitem is read from it); `plans` takes a lake directory and
  * comma-separated gate name prefixes. The session comes from
  * [[graft.GraftEngine.session]] (`SPARK_GRAFT_CPUS` cores). Output: one
  * JSON line per run appended to `<out>/probes.jsonl`, plus any plan
  * dumps, all under `<out>`.
  */
object Probe {

  private type Body = (Measure, Seq[String]) => Unit

  val probes: Seq[(String, Body)] = Seq(
    "jaccard_pairs" -> jaccardPairs,
    "bloom_index" -> bloomIndex,
    "string_analyze" -> stringAnalyze,
    "runtime_bloom_join" -> runtimeBloomJoin,
    "metadata_count" -> metadataCount,
    "mv_rewrite" -> mvRewrite,
    "dv_growth" -> dvGrowth,
    "cdf_growth" -> cdfGrowth,
    "plans" -> plans)

  def main(args: Array[String]): Unit = {
    val spark = GraftEngine.session()
    spark.sparkContext.setLogLevel("ERROR")
    val line =
      try run(spark, args)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2)
      }
    println(line)
    spark.stop()
  }

  /** Parse `<name> --out <dir> [args]`, run the probe and return its
    * JSON line. An unknown name or a missing `--out` fails with an
    * IllegalArgumentException that names the known probes; so does a
    * relative `--out` ([[Measure]]). */
  def run(spark: SparkSession, args: Array[String]): String = {
    val usage = "usage: Probe <name> --out <absolute dir> [args]; probes: " +
      probes.map(_._1).mkString(", ")
    val (name, out, rest) = args.toList match {
      case n :: "--out" :: dir :: rest => (n, Paths.get(dir), rest)
      case _ => throw new IllegalArgumentException(usage)
    }
    val body = probes.find(_._1 == name).map(_._2).getOrElse(
      throw new IllegalArgumentException(s"unknown probe '$name'; $usage"))
    val m = new Measure(spark, out, name)
    body(m, rest)
    m.finish()
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** lineitem as (id, g, price_c): the keyed, clustered shape the table
    * probes rewrite. */
  private def lineitem(spark: SparkSession, args: Seq[String]): DataFrame = {
    require(args.nonEmpty, "this probe takes a lake directory argument")
    Lake.table(spark, args.head, "lineitem")
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        col("l_orderkey").as("g"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
  }

  /** Temporarily set session confs around `body`, restoring them after. */
  private def withConf[A](spark: SparkSession, kv: (String, String)*)(
      body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Jaccard pair generation: the all-pairs cross join with
    * array_intersect against `Dedup.shingleJaccardPairs`' inverted
    * index, on planted near-duplicates (doc i shares 76 of 80 shingles
    * with the other docs of its block of 10). The pair sets must be
    * identical; the all-pairs wall grows with docs², the index's with
    * the shared-shingle mass. */
  private def jaccardPairs(m: Measure, args: Seq[String]): Unit = {
    val spark = m.spark
    for (docs <- Seq(1000, 3000)) {
      val sh = spark.range(docs).select(col("id").as("doc_id"),
          array_distinct(transform(sequence(lit(0), lit(79)), j =>
            concat(col("id") - (col("id") % 10), lit("w"),
              when(j < 76, j).otherwise(j + (col("id") % 10) * 100))))
            .as("sh"))
        .localCheckpoint(true)
      val allPairs = sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
        .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")),
          col("a_id") < col("b_id"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .filter(col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.8)
        .select(col("a_id"), col("b_id"))
      val indexed = Dedup.shingleJaccardPairs(sh, "doc_id", "sh", 0.8)
      if (docs == 1000) {
        m.file("jaccard_pairs_all_pairs.txt", formatted(allPairs))
        m.file("jaccard_pairs_indexed.txt", formatted(indexed))
      }
      require(allPairs.exceptAll(indexed).isEmpty &&
        indexed.exceptAll(allPairs).isEmpty,
        s"jaccard_pairs: pair sets differ at $docs docs")
      m.fact(s"pairs docs=$docs", indexed.count())
      m.time(s"all_pairs docs=$docs", reps = 3)(noop(allPairs))
      m.time(s"indexed docs=$docs", reps = 3)(noop(indexed))
    }
  }

  /** Per-file Bloom index on a key the layout does not cluster on: build
    * wall (combineByKey merge) and point lookup against the full-scan
    * filter at two file counts; the probe returns at most the live
    * files, also after a compaction leaves aux rows for dead files. */
  private def bloomIndex(m: Measure, args: Seq[String]): Unit = {
    val spark = m.spark
    val rowsPerFile = 100000L
    for (files <- Seq(16, 48)) {
      val rows = files * rowsPerFile
      val t = s"${m.scratch}/bloom_$files"
      // ~150-byte payload per row: the bloom's ~1.2 bytes/row of
      // metadata against the row bytes is what the design trades on
      TxnTable.createClustered(spark, t, spark.range(rows).select(
        (col("id") % 1000L).as("g"), col("id").as("k"),
        concat(lit("payload-"), md5(col("id").cast("string")),
          lit("-"), md5((col("id") + 7L).cast("string")),
          lit("-"), md5((col("id") + 13L).cast("string")),
          lit("-"), md5((col("id") + 17L).cast("string"))).as("doc")),
        Seq(col("g")), targetFiles = files)
      val keys = Seq(rows / 3, 2 * rows / 3)
      m.time(s"build files=$files")(
        TxnTable.computeBloom(spark, t, Seq("k"), fpp = 0.01))
      val scanned = m.time(s"scan files=$files", reps = 3)(
        TxnTable.read(spark, t).filter(col("k").isInCollection(keys))
          .collect().length)
      val found = m.time(s"bloom files=$files", reps = 3)(
        TxnTable.readPrunedBloom(spark, t, "k", keys).collect().length)
      require(found == scanned, s"bloom_index: $found rows, scan $scanned")
      val live = TxnTable.snapshotFiles(t).size
      val (kept, probe) = OpMetrics.scope(
        TxnTable.readPrunedBloom(spark, t, "k", keys).inputFiles.length)
      val returned = probe.get(TxnTable.BloomProbeCollected).getOrElse(-1)
      m.fact(s"kept files=$files", kept)
      m.fact(s"probe_returned files=$files", returned)
      m.fact(s"live files=$files", live)
      m.fact(s"bloom_bytes files=$files", TxnTable.read(spark,
        TxnTable.bloomPath(t)).agg(sum(length(col("bloom")))).head().getLong(0))
      require(returned <= live,
        "bloom_index: the probe returned more than the live files")
    }
    val t = s"${m.scratch}/bloom_16"
    TxnTable.compact(spark, t, targetFiles = 4)
    val (_, probe) = OpMetrics.scope(
      TxnTable.readPrunedBloom(spark, t, "k", Seq(1L, 2L)).collect())
    val returned = probe.get(TxnTable.BloomProbeCollected).getOrElse(-1)
    val live = TxnTable.snapshotFiles(t).size
    m.fact("churn live", live)
    m.fact("churn aux_rows",
      TxnTable.read(spark, TxnTable.bloomPath(t)).count())
    m.fact("churn probe_returned", returned)
    require(returned <= live,
      "bloom_index: dead-file aux rows reached the driver")
  }

  /** String-only ANALYZE is one scan: the MCV/ndv histogram build, timed
    * beside the global ndv+count pass the retired two-scan form ran
    * first (old wall ≈ wall + retired pass). */
  private def stringAnalyze(m: Measure, args: Seq[String]): Unit = {
    val spark = m.spark
    val rows = 2000000L
    val t = s"${m.scratch}/mcv"
    TxnTable.create(spark, t, spark.range(rows).select(
      when(col("id") % 100 === 0, concat(lit("rare"),
        (col("id") / 100).cast("string"))).otherwise(lit("common")).as("k"),
      md5(col("id").cast("string")).as("pad")), partitions = 16)
    GraftSql.register("probe_mcv", t)
    val (_, rec) = try OpMetrics.scope(m.time("analyze")(GraftSql.execute(
      spark, "ANALYZE TABLE probe_mcv COMPUTE HISTOGRAM (k)")))
    finally GraftSql.unregister("probe_mcv")
    val scans = rec.get(TxnTable.AnalyzeScans).getOrElse(-1)
    m.fact("scans", scans)
    val df = TxnTable.read(spark, t)
    m.time("retired_extra_pass", reps = 3)(
      df.agg(count_distinct(col("k")), count(col("k"))).head())
    require(scans == 1, s"string-only ANALYZE must be one scan, got $scans")
  }

  /** Runtime Bloom-filter join pre-filter: a selective dim (0.2%)
    * filtering a fact that may not broadcast, with
    * spark.sql.optimizer.runtime.bloomFilter on and off. The plan must
    * carry the filter; ON cuts the fact-side shuffle. */
  private def runtimeBloomJoin(m: Measure, args: Seq[String]): Unit = {
    val spark = m.spark
    val (factRows, dimRows) = (8000000L, 400000L)
    val fact = s"${m.scratch}/fact"
    TxnTable.create(spark, fact, spark.range(factRows).select(
      (col("id") % dimRows).as("fk"), col("id").as("v"),
      concat(md5(col("id").cast("string")),
        md5((col("id") + 3L).cast("string"))).as("pad")), partitions = 16)
    val dim = s"${m.scratch}/dim"
    TxnTable.create(spark, dim, spark.range(dimRows).select(
      col("id").as("dk"), (col("id") % 500L).as("cat"),
      md5(col("id").cast("string")).as("dpad")), partitions = 4)
    def q = TxnTable.read(spark, fact)
      .join(TxnTable.read(spark, dim).filter(col("cat") === 7L),
        col("fk") === col("dk"))
      .agg(count(lit(1)), sum(col("v")))
    val bloom = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    m.fact("default_enabled", spark.conf.get(bloom))
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter" +
          ".applicationSideScanSizeThreshold" -> "10MB") {
      val on = withConf(spark, bloom -> "true") {
        val plan = formatted(q)
        m.file("runtime_bloom_join_on.txt", plan)
        require(plan.contains("bloom_filter_agg") ||
          plan.contains("might_contain"),
          "runtime_bloom_join: the runtime bloom filter is not in the plan")
        m.time("on", reps = 3)(q.collect().toSeq)
      }
      val off = withConf(spark, bloom -> "false")(
        m.time("off", reps = 3)(q.collect().toSeq))
      require(on == off, s"runtime_bloom_join: $on vs $off")
    }
  }

  /** Metadata-only range COUNT (`countRange`: log bounds and null
    * counts, scanning only boundary files) against the pruned-read
    * count at growing file counts: flat against linear. */
  private def metadataCount(m: Measure, args: Seq[String]): Unit = {
    val spark = m.spark
    val li = lineitem(spark, args).localCheckpoint()
    val gMax = li.agg(max(col("g"))).head().getLong(0)
    val (lo, hi) = (gMax / 4, 3 * gMax / 4)
    for (files <- Seq(32, 256, 1024)) {
      val t = s"${m.scratch}/count_$files"
      TxnTable.createClustered(spark, t, li, Seq(col("g")), files)
      val (cnt, scanned, total) = m.time(s"count_range files=$files",
        reps = 3)(TxnTable.countRange(spark, t, "g", lo, hi))
      val scanCnt = m.time(s"scan_count files=$files", reps = 3)(
        TxnTable.readPruned(spark, t, Seq(Bound.LongRange("g", lo, hi)))
          .count())
      require(cnt == scanCnt, s"metadata_count: $cnt vs scan $scanCnt")
      m.fact(s"scanned files=$files", scanned)
      m.fact(s"total files=$files", total)
    }
  }

  /** Materialized-view rewrite: the same aggregate statement with the
    * rewrite ON (served from the MV) and OFF at two fact sizes; ON stays
    * flat while OFF grows with the fact. */
  private def mvRewrite(m: Measure, args: Seq[String]): Unit = {
    val spark = m.spark
    GraftSql.setWarehouse(m.scratch.toString)
    for (rows <- Seq(1000000L, 4000000L)) {
      val t = s"${m.scratch}/fact_$rows"
      TxnTable.create(spark, t, spark.range(rows).select(
        (col("id") % 500L).as("g"),
        (col("id") * 7919L % 100000L).as("v")), partitions = 8)
      val n = s"probe_fact$rows"
      GraftSql.register(n, t)
      try {
        val q = s"SELECT g, count(*) AS c, sum(v) AS sv FROM $n GROUP BY g"
        GraftSql.execute(spark, s"CREATE MATERIALIZED VIEW probe_mv$rows " +
          s"LOCATION '${m.scratch}/mv$rows' AS $q")
        val (on, rec) = OpMetrics.scope(m.time(s"on rows=$rows", reps = 3)(
          GraftSql.query(spark, q).collect().toSet))
        require(rec.get(GraftSql.MvRewrite).exists(_._2 == "exact"),
          "mv_rewrite: the statement was not served from the MV")
        val off = try {
          GraftSql.execute(spark, "SET MATVIEW REWRITE OFF")
          m.time(s"off rows=$rows", reps = 3)(
            GraftSql.query(spark, q).collect().toSet)
        } finally GraftSql.execute(spark, "SET MATVIEW REWRITE ON")
        require(on == off, "mv_rewrite: MV and base answers differ")
      } finally GraftSql.unregister(n)
    }
  }

  /** Deletion vectors: a scattered delete and keyed MERGE (1/997 of the
    * ids, hitting nearly every file of a 200-file layout) under
    * copy-on-write against merge-on-read, the read overhead while the DV
    * is live — a full scan, a point key and a 1% range on `g` — and
    * `compact` materializing it. CoW rewrites the touched files; MOR
    * rewrites none. */
  private def dvGrowth(m: Measure, args: Seq[String]): Unit = {
    val spark = m.spark
    val li = lineitem(spark, args)
    val files = 200
    def table(name: String): String = {
      val t = s"${m.scratch}/$name"
      TxnTable.createClustered(spark, t, li, Seq(col("g")), targetFiles = files)
      t
    }
    def total(t: String) = TxnTable.read(spark, t)
      .agg(count(lit(1)), sum(col("price_c"))).head()
    def rewritten(t: String) = TxnTable.commits(t).last.removes.size
    val (cow, mor) = (table("cow"), table("mor"))
    // 997 is prime, so coprime with the id = orderkey*8 + linenumber code
    val pred = col("id") % 997L === 0L
    m.fact("rows", li.count())
    m.fact("doomed", li.filter(pred).count())
    // selective reads: a surviving key, and the lowest 1% of g's span
    val span = li.agg(min(col("g")), max(col("g")),
      min(when(!pred, col("id")))).head()
    val (gLo, key) = (span.getLong(0), span.getLong(2))
    val gHi = gLo + (span.getLong(1) - gLo) / 100
    def point(t: String) = TxnTable.read(spark, t)
      .filter(col("id") === key).agg(count(lit(1)), sum(col("price_c"))).head()
    def range(t: String) = TxnTable.read(spark, t)
      .filter(col("g").between(gLo, gHi))
      .agg(count(lit(1)), sum(col("price_c"))).head()
    m.time("read_baseline", reps = 3)(total(mor))
    m.time("point_baseline", reps = 3)(point(mor))
    m.time("range_baseline", reps = 3)(range(mor))
    m.time("delete_cow")(TxnTable.deleteWhere(spark, cow, pred))
    m.time("delete_mor")(TxnTable.deleteWhereMor(spark, mor, pred))
    m.fact("delete_cow files_rewritten", rewritten(cow))
    m.fact("delete_mor files_rewritten", rewritten(mor))
    val cowTotal = m.time("read_cow_consolidated", reps = 3)(total(cow))
    val morTotal = m.time("read_mor_dv", reps = 3)(total(mor))
    require(cowTotal == morTotal, s"dv_growth: $cowTotal vs $morTotal")
    val morPoint = m.time("point_mor_dv", reps = 3)(point(mor))
    val morRange = m.time("range_mor_dv", reps = 3)(range(mor))
    require(morPoint == point(cow) && morRange == range(cow),
      "dv_growth: selective reads disagree")

    val (cowM, morM) = (table("cow_m"), table("mor_m"))
    val batch = li.filter(pred).withColumn("price_c", col("price_c") * 2)
    m.time("merge_cow")(TxnTable.merge(spark, cowM, batch, Seq("id")))
    m.time("merge_mor")(TxnTable.mergeMor(spark, morM, batch, Seq("id")))
    m.fact("merge_cow files_rewritten", rewritten(cowM))
    m.fact("merge_mor files_rewritten", rewritten(morM))
    require(total(cowM) == total(morM), "dv_growth: merges disagree")

    m.time("compact_mor")(TxnTable.compact(spark, mor, targetFiles = files))
    require(TxnTable.snapshotDvs(mor).isEmpty, "compact must clear DVs")
    val after = m.time("read_after_compact", reps = 3)(total(mor))
    require(after == cowTotal, "dv_growth: compaction changed the content")
  }

  /** Change data feed on a 200-file clustered table: `diffVersions` cost
    * tracks the changed files of 1% / 10% / 50% key-range rewrites, not
    * the snapshot; the incremental min/max fold against full
    * re-aggregation per version; a shallow clone is metadata only. */
  private def cdfGrowth(m: Measure, args: Seq[String]): Unit = {
    val spark = m.spark
    val li = lineitem(spark, args)
    val t = s"${m.scratch}/li"
    val gMax = li.agg(max(col("g"))).head().getLong(0)
    TxnTable.createClustered(spark, t, li, Seq(col("g")), targetFiles = 200)
    val fractions = Seq(0.01, 0.10, 0.50)
    for ((fr, v) <- fractions.zip(1L to fractions.size)) {
      TxnTable.merge(spark, t,
        li.filter(col("g") <= (gMax * fr).toLong.max(1L))
          .select(col("id"), col("g"), (col("price_c") * 2).as("price_c")),
        Seq("id"), partitions = math.max(1, (200 * fr).toInt),
        clusterBy = Seq(col("g")))
      val (before, after) =
        (TxnTable.snapshotFiles(t, v - 1).toSet, TxnTable.snapshotFiles(t, v).toSet)
      m.fact(s"changed_files frac=$fr", ((before -- after) ++ (after -- before)).size)
      m.fact(s"live_files frac=$fr", after.size)
      m.time(s"diff frac=$fr", reps = 3)(
        TxnTable.diffVersions(spark, t, v - 1, v, Seq("id")).count())
    }
    var state = IncrementalView.materializeMinMax(
      TxnTable.read(spark, t, 0L), "g", "price_c").localCheckpoint()
    for ((fr, v) <- fractions.zip(1L to fractions.size)) {
      val (next, stats) = m.time(s"ivm_fold frac=$fr", reps = 3) {
        val (n, st) = IncrementalView.maintainMinMaxStep(spark, t, state,
          v - 1, v, Seq("id"), "g", "price_c")
        (n.localCheckpoint(), st)
      }
      val full = m.time(s"full_reagg frac=$fr", reps = 3)(
        IncrementalView.materializeMinMax(TxnTable.read(spark, t, v), "g",
          "price_c").localCheckpoint())
      require(next.exceptAll(full).isEmpty && full.exceptAll(next).isEmpty,
        s"cdf_growth: the fold disagrees with re-aggregation at v$v")
      m.fact(s"affected_groups frac=$fr", stats.affectedGroups)
      m.fact(s"files_read frac=$fr", s"${stats.filesRead}/${stats.liveFiles}")
      state = next
    }
    val dst = s"${m.scratch}/clone"
    m.time("clone_shallow")(TxnTable.cloneShallow(spark, t, dst))
    m.fact("clone zero_data_files", !Files.exists(Paths.get(dst, "data")))
    val rows = m.time("read_clone", reps = 3)(TxnTable.read(spark, dst).count())
    require(rows == li.count(), "cdf_growth: the clone lost rows")
  }

  /** Formatted physical plans of the gates whose names start with any
    * of the comma-separated prefixes, into `<out>/plans.txt`. */
  private def plans(m: Measure, args: Seq[String]): Unit = {
    require(args.size == 2, "plans takes <lake dir> <prefix>[,<prefix>...]")
    val Seq(dir, prefixes) = args
    val wanted = prefixes.split(",").toSeq
    val gates = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.exists(n.startsWith) }
    require(gates.nonEmpty, s"plans: no gate starts with $prefixes")
    val text = gates.map { case (name, fn) =>
      m.time(name)(s"==== $name ====\n${formatted(fn(m.spark, dir))}")
    }
    m.fact("gates", gates.size)
    m.file("plans.txt", text.mkString("\n"))
  }
}
