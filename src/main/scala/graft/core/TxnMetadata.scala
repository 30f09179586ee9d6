package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, FileAlreadyExistsException}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.crawler.SkippingIndex.FileStats

/** Metadata and adoption operations of a [[TxnTable]]: CONVERT and
  * COPY INTO, CHECK constraints, table properties, ANALYZE histograms,
  * bloom index builds and ALTER. */
private[core] trait TxnMetadata extends TxnDml {

  /** CONVERT an existing plain-parquet directory into a TxnTable IN
    * PLACE, without moving or rewriting a byte at any size: version 0
    * references every `*.parquet` under `path` (recursive, hidden
    * files skipped) by its root-relative name, records the directory's
    * merged schema, and harvests each file's parquet footer ONCE —
    * distributed as a Spark job, one task per slice of the file list —
    * so row counts land on the adds and min/max/null-count stats land
    * in the log: pruned reads and metadata aggregates plan from the
    * log from the first post-convert read, exactly like a born-graft
    * table. The adoption cost is one footer read per file (what any
    * first crawl pays) against ZERO data movement.
    *
    * After the convert the directory IS the table: appends/rewrites
    * land under its `data/`, vacuum deletes only under `data/` (the
    * adopted originals are never reaped — rewrites strand them as
    * unreferenced history exactly like a shallow clone's source), time
    * travel to v0 always shows the adopted content. */
  def convertParquet(spark: SparkSession, path: String): Long = {
    require(currentVersion(path) < 0,
      s"convertParquet: $path is already a TxnTable")
    val root = localRoot(path)
    require(Files.isDirectory(root), s"convertParquet: no directory $path")
    val walk = Files.walk(root)
    // hidden/metadata filtering applies to EVERY path segment, not
    // just the leaf (Spark's own listing convention): a directory
    // being converted may carry another system's metadata tree (e.g.
    // _delta_log/…/NNN.checkpoint.parquet), and adopting those as
    // data would corrupt the table
    def visible(rel: JPath): Boolean =
      (0 until rel.getNameCount).forall { i =>
        val seg = rel.getName(i).toString
        !seg.startsWith("_") && !seg.startsWith(".")
      }
    val files =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(root.relativize)
        .filter(visible)
        .map(_.toString).toSeq.sorted
      finally walk.close()
    require(files.nonEmpty, s"convertParquet: no parquet files under $path")
    // the DV machinery keys (file → positions) by BASENAME — the scan
    // side reports only `_metadata.file_path`'s last segment, and
    // born-graft writers mint UUID names so leaves are unique by
    // construction. An adopted tree with duplicate leaves (e.g.
    // 2020/part-0.parquet + 2021/part-0.parquet) would attach one DV
    // to BOTH files and kill same-position rows in the wrong one —
    // silent corruption, so refuse the adoption loudly up front.
    val dupLeaves = files.groupBy(_.split('/').last)
      .filter(_._2.size > 1).values.flatten.toSeq.sorted
    require(dupLeaves.isEmpty,
      s"convertParquet: duplicate file basenames under $path — deletion " +
        s"vectors key on the basename, so adoption would corrupt MOR " +
        s"deletes/updates. Rename to unique leaves first: " +
        dupLeaves.take(6).mkString(", "))
    // merged schema across every footer generation (a drifted layout
    // converts with the union shape; old files null-fill, like any
    // schema-evolved read)
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(files.map(f => root.resolve(f).toString): _*).schema
    // footer harvest as a DISTRIBUTED job: executors open footers with
    // a fresh Configuration (the log and data share one filesystem)
    convertHarvestHook()
    import spark.implicits._
    val rootStr = root.toString
    OpMetrics.add(graft.crawler.SkippingIndex.FooterReads, files.size)
    val harvested = spark.createDataset(files)
      .repartition(math.max(1, math.min(files.size, 256)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val abs = java.nio.file.Paths.get(rootStr).resolve(f)
        val st = graft.crawler.SkippingIndex.fileStats(conf, abs.toString)
        // fileStats is None only when the file vanished between listing
        // and harvest — committing a rows=0 add would silently
        // undercount every metadata-only aggregate, so fail the convert
        if (st.isEmpty) throw new IllegalStateException(
          s"convertParquet: $f disappeared during the footer harvest — " +
            "the directory changed under the convert; re-run it")
        (f, st.map(_.rows).getOrElse(0L), Files.size(abs),
          st.map(statsJson))
      }
      .collect() // O(files) add metadata — what the commit carries anyway
    val adds = harvested.toSeq.sortBy(_._1).map { case (f, rows, bytes, js) =>
      TxnAdd(f, rows, bytes, js)
    }
    tryCommit(path, TxnCommit(0L, "convert", adds, Nil, Some(schema.json)))
    0L
  }

  /** IDEMPOTENT bulk file ingestion — the COPY INTO shape: adopt every
    * `*.parquet` under `srcDir` not yet loaded into `path`, by
    * REFERENCE (the commit's adds carry the source files' absolute
    * paths, like a shallow clone's — ZERO data movement at any size;
    * one distributed footer harvest lands row counts and min/max stats
    * in the log, so pruned reads and metadata aggregates cover the
    * adopted files immediately). Idempotence is file-path identity
    * against the log's adds index: a re-run lists the same files,
    * finds them loaded, and returns the unchanged head — re-checked
    * inside the commit retry loop, so two concurrent COPY INTOs of one
    * directory never double-load a file. A source file MODIFIED in
    * place is NOT reloaded (path identity, the standard COPY INTO
    * contract — rename new data). CHECK constraints validate against
    * the fresh files' rows (one scan of only the new files); vacuum
    * never deletes foreign absolute paths, so the sources are never
    * reaped. Refused loudly: schema fields missing from the table,
    * basename collisions (the DV key), and column-mapped tables (the
    * adopted files carry source column names, which cannot be bound
    * through a physical-name mapping). Returns the commit's version,
    * or the unchanged head when nothing was new. */
  def copyInto(spark: SparkSession, path: String, srcDir: String,
      pattern: Option[String] = None): Long = {
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"copyInto: $path is not a TxnTable — CREATE it first"))
    val top = snap.version
    val src = localRoot(srcDir)
    require(Files.isDirectory(src), s"copyInto: no directory $srcDir")
    def visible(rel: JPath): Boolean =
      (0 until rel.getNameCount).forall { i =>
        val seg = rel.getName(i).toString
        !seg.startsWith("_") && !seg.startsWith(".")
      }
    val matches = patternMatcher(pattern)
    val walk = Files.walk(src)
    val listed =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .filter(p => visible(src.relativize(p)) &&
          matches(src.relativize(p)))
        .map(_.toAbsolutePath.normalize.toString).toSeq.sorted
      finally walk.close()
    require(listed.nonEmpty, s"copyInto: no parquet files under $srcDir" +
      pattern.map(g => s" matching PATTERN '$g'").getOrElse(""))
    def freshAt(s: Snapshot): Seq[String] =
      listed.filterNot(s.allAdds.contains)
    var fresh = freshAt(snap)
    if (fresh.isEmpty) return top
    // column-mapped tables cannot bind source-named files
    snap.recordedSchema.foreach(s => s.fields.foreach(f =>
      require(physicalFieldName(f) == f.name,
        s"copyInto: $path maps logical column ${f.name} to physical " +
          s"${physicalFieldName(f)} — adopted files cannot be bound " +
          "through a column mapping; INSERT INTO … SELECT instead")))
    // DV ambiguity guard, same rule as convertParquet: basenames must
    // be unique among fresh files AND against the live snapshot
    val liveLeaves = snap.files.map(_.split('/').last).toSet
    val clash = fresh.groupBy(_.split('/').last)
      .filter { case (leaf, fs) => fs.size > 1 || liveLeaves(leaf) }
    require(clash.isEmpty,
      s"copyInto: file basename collision (deletion vectors key on " +
        s"the basename): ${clash.keys.take(6).mkString(", ")}")
    // every source field must already exist in the table, same type —
    // missing table columns null-fill at read like any evolved schema
    val tSchema = read(spark, path, top).schema
    val sSchema = spark.read.option("mergeSchema", "true")
      .parquet(fresh: _*).schema
    sSchema.fields.foreach(f => require(
      tSchema.fields.exists(t =>
        t.name.equalsIgnoreCase(f.name) && t.dataType == f.dataType),
      s"copyInto: source column ${f.name}: ${f.dataType.simpleString} " +
        s"does not match the table schema"))
    // constraints validate against ONLY the new rows (assert_true
    // throws on the first violating row)
    if (constraints(path).nonEmpty)
      withChecks(spark, path, spark.read.parquet(fresh: _*)).count()
    import spark.implicits._
    OpMetrics.add(graft.crawler.SkippingIndex.FooterReads, fresh.size)
    val harvested = spark.createDataset(fresh)
      .repartition(math.max(1, math.min(fresh.size, 256)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val st = graft.crawler.SkippingIndex.fileStats(conf, f)
        if (st.isEmpty) throw new IllegalStateException(
          s"copyInto: $f disappeared during the footer harvest")
        (f, st.map(_.rows).getOrElse(0L), Files.size(Paths.get(f)),
          st.map(statsJson))
      }
      .collect()
    var adds = harvested.toSeq.sortBy(_._1).map { case (f, rows, bytes, js) =>
      TxnAdd(f, rows, bytes, js)
    }
    retryRaces(20) { lost =>
      val rebased = lost.map(_ => snapshot(path))
      rebased.foreach { now =>
        // a racing COPY INTO may have loaded some of our files:
        // drop them and retry with the remainder (or no-op)
        fresh = freshAt(now)
        val keep = fresh.toSet
        adds = adds.filter(a => keep(a.path))
        // re-run the DV ambiguity guard against the REBASED snapshot:
        // the entry check ran at `top`, but a concurrent commit may
        // have added a file sharing one of our basenames since — a
        // blind re-commit would land two live files with one leaf
        // name and every later MOR DML on the table would fail on
        // the dup-leaf require. Refusing here keeps the invariant
        // "live basenames are unique" a commit-time guarantee, not a
        // snapshot-at-entry hope.
        val liveNow = now.files.map(_.split('/').last).toSet
        val clashNow = fresh.map(_.split('/').last).filter(liveNow)
        require(clashNow.isEmpty,
          s"copyInto: file basename collision introduced by a " +
            s"concurrent commit (deletion vectors key on the " +
            s"basename): ${clashNow.take(6).mkString(", ")}")
      }
      if (fresh.isEmpty) rebased.fold(top)(_.version)
      else {
        val cur = currentVersion(path)
        publish(path)(TxnCommit(cur + 1, "copyinto", adds, Nil, None))
      }
    }
  }

  /** COPY INTO's `PATTERN = '<glob>'` as a predicate over the path
    * RELATIVE to the landing directory (`**` crosses directories, the
    * standard glob contract) — scoping a load to one sub-drop of a
    * shared landing zone without listing-order dependence. IDEMPOTENCE
    * IS UNSCOPED by design: the loaded-source registry keys on
    * absolute paths, so a file loaded under one pattern never reloads
    * under a broader one. */
  private def patternMatcher(pattern: Option[String]): JPath => Boolean =
    pattern match {
      case None => _ => true
      case Some(g) =>
        val m = java.nio.file.FileSystems.getDefault
          .getPathMatcher("glob:" + g)
        rel => m.matches(rel)
    }

  /** Bound the ingested-file registry: DROP entries under `srcDir`
    * whose source files no longer exist on disk (they were vacuumed
    * from the landing directory) via one `copysrc:prune:` metadata
    * commit that the registry fold subtracts — so a long-lived
    * interval-triggered landing dir doesn't grow every future
    * checkpoint's `copySrcs` without bound. Safe by construction:
    * only VANISHED files are prunable (an existing file's entry is
    * what prevents a double-load, so it must stay); if a pruned path
    * is ever re-landed it ingests again — exactly the semantics of a
    * fresh drop at that path. Returns the commit version, or the
    * unchanged head when nothing is prunable. */
  def pruneCopySources(spark: SparkSession, path: String,
      srcDir: String): Long = {
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"pruneCopySources: not a TxnTable: $path"))
    val top = snap.version
    val prefix = java.nio.file.Paths.get(srcDir)
      .toAbsolutePath.normalize().toString + "/"
    val gone = snap.copySrcs.toSeq.sorted.filter(p =>
      p.startsWith(prefix) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    if (gone.isEmpty) return top
    import org.json4s.{JArray, JString}
    import org.json4s.jackson.JsonMethods
    commitMarker(path, "copysrc:prune:" + JsonMethods.compact(
      JsonMethods.render(JArray(gone.map(JString(_)).toList))))
  }

  /** Source files already ingested into `path` through ANY
    * materializing COPY INTO route — formatted batch loads
    * (`copyinto:<fmt>:[...]` ops) and `COPY INTO … FROM STREAM`
    * micro-batches (`stream:…:files:[...]` ops) share one per-table
    * registry, so the same landed file loads exactly once no matter
    * which entry point sees it, and the registry — NOT the stream
    * checkpoint — is the source of truth: a lost checkpoint re-offers
    * everything, already-ingested files are filtered here, and files
    * landed SINCE the loss (bundled by the restarted stream into
    * already-seen batch ids) still load. Checkpoint-amortized via the
    * same `copySrcs` checkpoint field as the batch routes. */
  def streamSourcesIngested(path: String): Set[String] =
    head(path).fold(Set.empty[String])(_.copySrcs)

  /** [[copyInto]] for NON-parquet landings — `COPY INTO t FROM '<dir>'
    * FORMAT AS CSV|JSON`: fresh source files MATERIALIZE through the
    * standard write path (schema coercion to the table shape, CHECK
    * constraints riding the write job, column-mapped tables fine —
    * the staged parquet stores physical names like any append), while
    * idempotence still keys on source-file PATH identity: each commit
    * records the batch's absolute source paths in its op
    * (`copyinto:<fmt>:[...]`, checkpoint-amortized replay), so a
    * re-run lists the directory, finds every file already loaded, and
    * returns the unchanged head — and two concurrent formatted COPY
    * INTOs re-check the registry inside the conflict retry, so a file
    * loads exactly once. Coercion contract, mirroring the parquet
    * route: every SOURCE column must name a table column and cast to
    * its type; missing table columns null-fill; a value that parses
    * but does not FIT its table type (cast returns null on a non-null
    * input) aborts the whole batch atomically — nothing commits. */
  def copyIntoFormat(spark: SparkSession, path: String, srcDir: String,
      format: String, pattern: Option[String] = None): Long = {
    val fmt = format.toLowerCase
    require(fmt == "csv" || fmt == "json",
      s"copyIntoFormat: unsupported format $format (CSV or JSON; " +
        "parquet adopts by reference via copyInto)")
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"copyInto: $path is not a TxnTable — CREATE it first"))
    val top = snap.version
    val src = localRoot(srcDir)
    require(Files.isDirectory(src), s"copyInto: no directory $srcDir")
    def visible(rel: JPath): Boolean =
      (0 until rel.getNameCount).forall { i =>
        val seg = rel.getName(i).toString
        !seg.startsWith("_") && !seg.startsWith(".")
      }
    val matches = patternMatcher(pattern)
    val ext = "." + fmt
    val walk = Files.walk(src)
    val listed =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(ext))
        .filter(p => visible(src.relativize(p)) &&
          matches(src.relativize(p)))
        .map(_.toAbsolutePath.normalize.toString).toSeq.sorted
      finally walk.close()
    require(listed.nonEmpty, s"copyInto: no $fmt files under $srcDir" +
      pattern.map(g => s" matching PATTERN '$g'").getOrElse(""))
    def freshAt(s: Snapshot): Seq[String] =
      listed.filterNot(s.copySrcs.contains)
    val fresh = freshAt(snap)
    if (fresh.isEmpty) return top
    // parse the fresh files: CSV reads untyped (header row names the
    // columns) and coerces below; JSON carries its own scalar types
    // enforceSchema=false: every file's header is VALIDATED against
    // the batch schema — a landing file with drifted column order
    // fails loudly instead of silently loading values into the wrong
    // columns (the default maps by position, ignoring later headers)
    val raw = fmt match {
      case "csv" => spark.read.option("header", "true")
        .option("enforceSchema", "false").csv(fresh: _*)
      case _ => spark.read.json(fresh: _*)
    }
    val tSchema = read(spark, path, top).schema
    raw.columns.foreach(c => require(
      tSchema.fields.exists(_.name.equalsIgnoreCase(c)),
      s"copyInto: source column $c is not a table column"))
    val byName = raw.columns.map(c => c.toLowerCase -> c).toMap
    // table-shaped projection with LOUD coercion: a non-null source
    // value whose cast comes back null is malformed for this table —
    // raise inside the write job, aborting the batch atomically
    val coerced = raw.select(tSchema.fields.toSeq.map { f =>
      byName.get(f.name.toLowerCase) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(c) =>
          val cast = col(c).cast(f.dataType)
          when(col(c).isNotNull && cast.isNull,
            raise_error(concat(
              lit(s"copyInto: malformed value for ${f.name} " +
                s"(${f.dataType.simpleString}): '"),
              col(c).cast("string"), lit("'"))))
            .otherwise(cast).as(f.name)
      }
    }: _*)
    val opJson = fresh.map(p => s""""${esc(p)}"""")
      .mkString(s"copyinto:$fmt:[", ",", "]")
    // standard write path: constraints ride the job; bins sized by the
    // source byte count against the table's bin-pack target
    val schemaAtStage = snap.schema
    var csStage =
      try constraints(path)
      catch { case _: IllegalArgumentException => Map.empty[String, String] }
    val srcBytes = fresh.map(p => Files.size(Paths.get(p))).sum
    val bins = math.max(1,
      math.ceil(srcBytes.toDouble / (128L * 1024 * 1024)).toInt)
    val adds = writeData(spark, path, withChecks(spark, path, coerced),
      bins)
    try retryRaces(20) { lost =>
      if (lost.nonEmpty) {
        // a racing formatted COPY INTO may have loaded one of our
        // files: the staged batch mixes every file's rows, so a
        // partial drop is impossible — abort the whole batch and
        // let the caller re-run (which will list only what is
        // still fresh). A race that loaded NONE of ours commutes
        // like any append and re-commits at the new head.
        val now = snapshot(path)
        if (freshAt(now).toSet != fresh.toSet)
          throw new IllegalStateException(
            "copyInto: a concurrent COPY INTO loaded part of this " +
              "batch — re-run to load the remainder")
        // the lost race may have been an ALTER: the staged files
        // were coerced to the OLD shape — blindly re-committing
        // would land wrong-schema data (the same fence append's
        // retry applies via checkSchema)
        if (now.schema != schemaAtStage)
          throw new IllegalStateException(
            "copyInto: the table schema changed concurrently — the " +
              "staged batch was coerced to the old shape; re-run " +
              "the load against the new schema")
        // …or a concurrent addConstraint: the staged rows were
        // checked against the OLD constraint set — re-validate
        // (the catch below cleans the staged files on violation)
        csStage = revalidateStaged(spark, path, adds, csStage)
      }
      val cur = currentVersion(path)
      publish(path)(TxnCommit(cur + 1, opJson, adds, Nil, None))
    } catch { case e: Throwable => cleanupStaged(path, adds); throw e }
  }

  /** ADD CONSTRAINT <name> CHECK (<exprSql>): validates that EVERY
    * existing row satisfies the expression (SQL CHECK semantics — a
    * NULL result satisfies), then records it as a metadata commit;
    * from that commit on, every write that brings NEW row content
    * (append / overwrite / merge / applyChanges / update / MOR update
    * / stream batches) enforces it IN the write job — single pass, no
    * second scan ([[withChecks]]). A conflict during the commit race
    * re-validates against the fresh snapshot, so an interleaved append
    * of violating rows aborts the add instead of slipping past it. */
  def addConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String, maxAttempts: Int = 20): Long = {
    require(name.matches("[A-Za-z0-9_\\-]+"),
      s"constraint name must be alphanumeric/_/-: $name")
    require(!constraints(path).contains(name),
      s"constraint $name already exists")
    // each attempt re-validates the fresh snapshot
    retryRaces(maxAttempts) { _ =>
      val base = currentVersion(path)
      val violating = read(spark, path)
        .filter(!coalesce(expr(exprSql), lit(true)))
      if (!violating.isEmpty)
        throw new ConstraintViolationException(
          s"cannot add CHECK constraint $name ($exprSql): " +
            s"existing rows violate it, e.g. ${violating.head()}")
      publish(path)(TxnCommit(base + 1,
        s"constraint:add:$name:$exprSql", Nil, Nil))
    }
  }

  /** DROP CONSTRAINT: a metadata commit; false if it did not exist. */
  def dropConstraint(path: String, name: String): Boolean =
    if (!constraints(path).contains(name)) false
    else { commitMarker(path, s"constraint:drop:$name"); true }

  /** How many table scans a [[computeHistogram]] ran — the ANALYZE
    * pass is batched (one quantile aggregate for ALL columns, one
    * combined per-bin-ndv pass, one MCV pass for all string columns),
    * so a 10-column ANALYZE costs 2 scans, not 20. */
  val AnalyzeScans: OpMetrics.Key[Int] = OpMetrics.Key.latest("analyze_scans")

  /** `ANALYZE TABLE … COMPUTE HISTOGRAM`: per-column equi-HEIGHT
    * histograms — bin endpoints at i/bins approximate quantiles (one
    * aggregate pass), per-bin distinct counts (one grouped pass) —
    * persisted as table properties (`graft.hist.<col>` →
    * `{"h":height,"bins":[[lo,hi,ndv],…]}`) riding an ordinary
    * tblprops commit. The CBO injection then maps them onto
    * `CatalogColumnStat.histogram` straight from the LOG: planning
    * stays zero-footer at any scale, and the skewed-column blind spot
    * of the uniform min/max estimate closes. Estimation-only state:
    * an explicit user-invoked scan (exactly like ANALYZE), recorded
    * as-of the analyzed version; data committed later simply ages it,
    * correctness never depends on freshness. */
  def computeHistogram(spark: SparkSession, path: String,
      columns: Seq[String], bins: Int = 64): Long = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    require(bins >= 2 && bins <= 254, s"bins must be in [2,254], got $bins")
    require(columns.nonEmpty, "computeHistogram: no columns given")
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"computeHistogram: not a TxnTable: $path"))
    val df = scanFiles(spark, path, snap, snap.files)
    val fields = columns.map { c =>
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"computeHistogram: no column $c in $path"))
    }
    val numFields = fields.filter(_.dataType.isInstanceOf[NumericType])
    val strFields = fields.filter(_.dataType == StringType)
    fields.foreach(f => require(
      f.dataType.isInstanceOf[NumericType] || f.dataType == StringType,
      s"computeHistogram: ${f.name} is ${f.dataType.simpleString} — " +
        "numeric columns get equi-height histograms, string columns " +
        "get MCV frequency stats"))
    var scans = 0
    val pct = (0 to bins).map(i => i.toDouble / bins)
    // PASS 1 — ONE aggregate over the table for the NUMERIC columns:
    // every column's equi-height endpoints + non-null count. String
    // columns do not appear here at all — their exact ndv and
    // non-null count fall out of the MCV pass below for free (ndv =
    // the pair-group count, nonnull = the frequency sum), so a
    // string-only ANALYZE is ONE scan. The per-column serial loop
    // this replaced cost 2 scans PER column.
    val p1 = numFields.flatMap { f =>
      val v = col(f.name).cast("double")
      Seq(percentile_approx(v, typedlit(pct), lit(10000))
          .as(s"q_${f.name.toLowerCase}"),
        count(col(f.name)).as(s"n_${f.name.toLowerCase}"))
    }
    val r1 = if (p1.isEmpty) null else df.agg(p1.head, p1.tail: _*).head()
    if (p1.nonEmpty) scans += 1
    def longAt(nm: String): Long = r1.getLong(r1.fieldIndex(nm))
    // PASS 2 — ONE combined per-bin ndv aggregate for ALL numeric
    // columns: approx_count_distinct(when(bin==b, v)) per (col, bin);
    // a null value never matches a bin, so each sketch sees exactly
    // the per-bin value set the old grouped pass saw.
    val histProps: Seq[(String, String)] = if (numFields.isEmpty) Nil else {
      val perCol = numFields.map { f =>
        val nm = f.name.toLowerCase
        require(!r1.isNullAt(r1.fieldIndex(s"q_$nm")) && longAt(s"n_$nm") > 0,
          s"computeHistogram: ${f.name} has no non-null values")
        val ends = r1.getSeq[Double](r1.fieldIndex(s"q_$nm")).toArray
        (f, ends, longAt(s"n_$nm"))
      }
      val ndvAggs = perCol.flatMap { case (f, ends, _) =>
        val v = col(f.name).cast("double")
        // bin id = endpoints strictly below the value (ties go low —
        // the estimator only needs bins that cover the range)
        val binId = (1 until bins)
          .map(i => (v > lit(ends(i))).cast("int"))
          .reduceOption[Column](_ + _).getOrElse(lit(0))
        (0 until bins).map(b => approx_count_distinct(
          when(binId === b, v)).as(s"h_${f.name.toLowerCase}_$b"))
      }
      val r2 = df.agg(ndvAggs.head, ndvAggs.tail: _*).head()
      scans += 1
      perCol.map { case (f, ends, n) =>
        val nm = f.name.toLowerCase
        val binsJson = (0 until bins).map(i =>
          s"[${ends(i)},${ends(i + 1)}," +
            s"${r2.getLong(r2.fieldIndex(s"h_${nm}_$i"))}]")
          .mkString("[", ",", "]")
        s"graft.hist.$nm" -> s"""{"h":${n.toDouble / bins},"bins":$binsJson}"""
      }
    }
    // PASS 2b (strings) — ONE pass for ALL string columns together:
    // explode to (colIdx, value), partial-agg counts, then per column
    // in the SAME aggregate: top-32 via the mergeable TopKRowsAgg
    // heap (O(32) per column to the driver, never a value-set sort),
    // EXACT ndv (the pair-group count — the groupBy already holds one
    // row per distinct value) and non-null count (the frequency sum).
    // The MCV list + exact ndv is what the CBO needs to price a
    // SKEWED string equality honestly — 1/ndv alone calls the 99%
    // value as rare as every other.
    val mcvProps: Seq[(String, String)] = if (strFields.isEmpty) Nil else {
      val pairs = df.select(explode(array(strFields.zipWithIndex.map {
          case (f, i) => struct(lit(i).as("i"), col(f.name).as("v")) }: _*))
          .as("p"))
        .select(col("p.i").as("i"), col("p.v").as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("i"), col("v")).agg(count(lit(1)).as("c"))
      val tops = pairs.groupBy(col("i"))
        .agg(graft.plans.TopKRowsAgg.top_k_rows(32,
          struct(col("v"), col("c")), col("c").desc, col("v")).as("top"),
          count(lit(1)).as("ndv"), sum(col("c")).as("nonnull"))
        .collect()
      scans += 1
      val byIdx = tops.map(r => r.getInt(0) ->
        ((r.getSeq[org.apache.spark.sql.Row](1)
            .map(h => (h.getString(0), h.getLong(1))),
          r.getLong(2), r.getLong(3)))).toMap
      strFields.zipWithIndex.map { case (f, i) =>
        val nm = f.name.toLowerCase
        require(byIdx.contains(i),
          s"computeHistogram: ${f.name} has no non-null values")
        val (mcv, ndv, nonnull) = byIdx(i)
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val j = JObject(
          "ndv" -> JLong(ndv),
          "nonnull" -> JLong(nonnull),
          "mcv" -> JArray(mcv.toList.map { case (v, c) =>
            JArray(List(JString(v), JLong(c))) }))
        s"graft.mcv.$nm" -> JsonMethods.compact(JsonMethods.render(j))
      }
    }
    OpMetrics.record(AnalyzeScans, scans)
    setProperties(path, (histProps ++ mcvProps).toMap)
  }

  /** SET TBLPROPERTIES: one metadata commit carrying every pair.
    * `graft.*` keys are engine-reserved and validated here —
    * `graft.mor` (true|false, re-routes subsequent DML),
    * `graft.targetFiles` (positive int, clustered-layout width),
    * `graft.targetBytes` (positive long, bin-pack target). */
  def setProperties(path: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties: no properties given")
    props.foreach { case (k, v) =>
      if (k.startsWith("graft.")) k match {
        case "graft.mor" => require(
          v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
          s"graft.mor must be true or false, got '$v'")
        case "graft.targetFiles" => require(
          scala.util.Try(v.toInt).toOption.exists(_ > 0),
          s"graft.targetFiles must be a positive int, got '$v'")
        case "graft.targetBytes" => require(
          scala.util.Try(v.toLong).toOption.exists(_ > 0),
          s"graft.targetBytes must be a positive long, got '$v'")
        case "graft.clusterBy" => require(v.trim.nonEmpty,
          "graft.clusterBy must name at least one column")
        // per-column equi-height histograms / string MCV stats
        // ([[computeHistogram]] — the CBO reads them back defensively,
        // malformed JSON is simply not injected)
        case h if h.startsWith("graft.hist.") => require(v.trim.nonEmpty,
          s"$h must carry the histogram JSON")
        case m if m.startsWith("graft.mcv.") => require(v.trim.nonEmpty,
          s"$m must carry the MCV JSON")
        case other => throw new IllegalArgumentException(
          s"unknown engine property $other — graft.* keys are " +
            "reserved (known: graft.mor, graft.targetFiles, " +
            "graft.targetBytes, graft.clusterBy, graft.hist.<col>, " +
            "graft.mcv.<col>); use an unprefixed key for user metadata")
      }
    }
    val json = props.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    commitMarker(path, s"tblprops:set:$json")
  }

  /** UNSET TBLPROPERTIES [IF EXISTS]: a metadata commit; keys not
    * present are refused unless `ifExists` (SQL semantics). */
  def unsetProperties(path: String, keys: Seq[String],
      ifExists: Boolean = false): Long = {
    require(keys.nonEmpty, "unsetProperties: no keys given")
    val have = properties(path)
    val missing = keys.filterNot(have.contains)
    require(missing.isEmpty || ifExists,
      s"unsetProperties: no such properties ${missing.mkString(", ")} " +
        "— use IF EXISTS")
    val present = keys.filter(have.contains)
    if (present.isEmpty) return currentVersion(path)
    val json = present.sorted
      .map(k => s""""${esc(k)}"""").mkString("[", ",", "]")
    commitMarker(path, s"tblprops:unset:$json")
  }

  /** ALTER TABLE ADD COLUMNS: record the widened schema as a
    * metadata-only commit — O(1) at any table size; existing files
    * null-fill the new columns at read time (pinned-schema read). New
    * columns must be nullable (there is no backfill to satisfy a NOT
    * NULL on old rows).
    *
    * Every added column gets a FRESH physical name (`col-<uuid>`, the
    * column-mapping seam — like the open lake formats do when mapping
    * is active), never its logical name. Two resurrection/clash
    * hazards force this: (a) after RENAME a→b, ADD COLUMNS (a …) would
    * otherwise put two fields named `a` in the physical schema —
    * every subsequent read fails and writes corrupt; (b) after DROP
    * COLUMNS s, ADD COLUMNS (s …) would otherwise re-bind the dropped
    * column's bytes still sitting in old files — deleted data silently
    * resurrects. A fresh physical name can collide with nothing: no
    * file has ever stored it. */
  def addColumns(spark: SparkSession, path: String,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Long = {
    require(cols.nonEmpty, "addColumns: no columns given")
    commitSchemaChange(path, s"alter:add:${cols.map(_._1).mkString(",")}",
      () => {
        val cur = currentSchema(path).getOrElse(
          throw new IllegalArgumentException(s"not a TxnTable: $path"))
        val clash = cols.map(_._1.toLowerCase)
          .intersect(cur.fieldNames.map(_.toLowerCase).toSeq)
        require(clash.isEmpty, s"addColumns: already present: $clash")
        org.apache.spark.sql.types.StructType(
          cur.fields ++ cols.map { case (n, dt) =>
            org.apache.spark.sql.types.StructField(n, dt, nullable = true,
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString(PhysicalKey,
                  s"col-${java.util.UUID.randomUUID().toString.take(8)}")
                .build()) })
      })
  }

  /** ALTER TABLE DROP COLUMNS: metadata-only — no file is rewritten
    * (data files keep the bytes, so [[restore]] across the drop
    * recovers the column WITH its data); reads bind the narrowed
    * recorded schema, and subsequent rewrites progressively
    * materialize the drop. Refuses while a CHECK constraint mentions
    * the column (drop the constraint first — a silently unenforceable
    * CHECK is worse than an error). */
  def dropColumns(spark: SparkSession, path: String,
      names: Seq[String]): Long = {
    require(names.nonEmpty, "dropColumns: no columns given")
    commitSchemaChange(path, s"alter:drop:${names.mkString(",")}",
      () => {
        val cur = currentSchema(path).getOrElse(
          throw new IllegalArgumentException(s"not a TxnTable: $path"))
        val lower = names.map(_.toLowerCase).toSet
        val missing = lower -- cur.fieldNames.map(_.toLowerCase)
        require(missing.isEmpty, s"dropColumns: no such columns: $missing")
        require(lower.size < cur.fields.length,
          "dropColumns: cannot drop every column")
        constraints(path).foreach { case (n, sql) =>
          val words = sql.toLowerCase.split("[^a-z0-9_]+").toSet
          require(words.intersect(lower).isEmpty,
            s"dropColumns: CHECK constraint $n references a dropped " +
              s"column ($sql) — drop the constraint first")
        }
        org.apache.spark.sql.types.StructType(
          cur.fields.filterNot(f => lower(f.name.toLowerCase)))
      })
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only via COLUMN MAPPING: the
    * field keeps its STABLE physical name (what every existing AND
    * future file stores — see [[writeDataPrepared]]/[[applyDv]]) and
    * the recorded schema carries the new logical name plus a
    * `graft.physical` key. No file is touched at any table size;
    * reads/writes/stats translate at the two mapping seams; time
    * travel to a pre-rename version shows the old name (each
    * snapshot's recorded schema is its own). Chained renames keep the
    * ORIGINAL physical name. Refused while a CHECK constraint
    * references the old name (its SQL would silently stop binding).
    * A change-data-feed diff ACROSS the rename boundary fails loudly
    * (SnapshotDiff requires identical payload column names on both
    * sides) — re-anchor incremental consumers after a rename. */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = {
    require(from.nonEmpty && to.nonEmpty, "renameColumn: empty name")
    commitSchemaChange(path, s"alter:rename:$from:$to", () => {
      val cur = currentSchema(path).getOrElse(
        throw new IllegalArgumentException(s"not a TxnTable: $path"))
      val f = cur.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(
          s"renameColumn: no such column $from"))
      require(!cur.fields.exists(_.name.equalsIgnoreCase(to)),
        s"renameColumn: $to already exists")
      constraints(path).foreach { case (n, sql) =>
        val words = sql.toLowerCase.split("[^a-z0-9_]+").toSet
        require(!words.contains(from.toLowerCase),
          s"renameColumn: CHECK constraint $n references $from ($sql) — " +
            "drop the constraint first")
      }
      org.apache.spark.sql.types.StructType(cur.fields.map { g =>
        if (g.name.equalsIgnoreCase(from))
          org.apache.spark.sql.types.StructField(to, g.dataType, g.nullable,
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(g.metadata)
              .putString(PhysicalKey, physicalFieldName(g)).build())
        else g
      })
    })
  }

  /** ALTER TABLE ALTER COLUMN c TYPE <wider> — TYPE WIDENING as a
    * METADATA-ONLY commit: the one schema evolution a growing table
    * always hits (a key outgrows int, a measure outgrows float) that
    * would otherwise force a full CTAS rewrite at 100 TB. The recorded
    * schema's field gets the widened logical type; NO file is touched:
    *
    *  - READS: the pinned-schema scan binds the widened type over old
    *    files' narrower physical type — Spark's parquet readers
    *    (vectorized and row-based) upcast int32→long / float→double
    *    natively, filters included, so mixed-generation snapshots scan
    *    in one job with zero plan overhead. Time travel to a pre-widen
    *    version binds THAT snapshot's own (narrow) schema.
    *  - WRITES: every post-widen append/rewrite validates against the
    *    widened schema ([[checkSchema]]) and stores the wide physical
    *    type; rewrites progressively materialize the widening.
    *  - STATS/PRUNING: logged long bounds are stored as Long for ALL
    *    integer widths (the footer harvest widens at write time), so
    *    [[selectFiles]]/[[countRange]] read old adds' bounds
    *    unchanged in the widened space — pruning and metadata COUNTs
    *    stay zero-footer across generations.
    *
    * Only value-preserving widenings are accepted (byte→short/int/
    * long, short→int/long, int→long/double, float→double);
    * narrowing and lossy/incompatible casts (long→int, long→double,
    * string→anything) are refused loudly — they would need a real
    * rewrite and a data-loss decision the engine must not make
    * silently. The metadata commit makes every in-flight rewrite
    * rebase-abort, like any ALTER. */
  def widenColumnType(spark: SparkSession, path: String, column: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    commitSchemaChange(path,
      s"alter:widen:$column:${to.simpleString}", () => {
        val cur = currentSchema(path).getOrElse(
          throw new IllegalArgumentException(s"not a TxnTable: $path"))
        val f = cur.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
          throw new IllegalArgumentException(
            s"widenColumnType: no such column $column"))
        require(wideningTargets(f.dataType)(to),
          s"widenColumnType: ${f.dataType.simpleString} -> " +
            s"${to.simpleString} is not a value-preserving widening " +
            "(supported: byte/short/int up the integer chain, " +
            "int->double, float->double) — narrowing or converting " +
            "needs an explicit rewrite (CTAS with a cast)")
        StructType(cur.fields.map(g =>
          if (g.name.equalsIgnoreCase(column)) g.copy(dataType = to)
          else g))
      })
  }

  /** Value-preserving widening targets (shared by the top-level and
    * struct-leaf ALTER COLUMN TYPE paths). int→double is exact: every
    * int32 is representable in a 53-bit mantissa; long→double is NOT
    * (precision loss above 2^53) and stays refused. */
  private def wideningTargets(dt: org.apache.spark.sql.types.DataType)
      : Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => Set(ShortType, IntegerType, LongType)
      case ShortType => Set(IntegerType, LongType)
      case IntegerType => Set(LongType, DoubleType)
      case FloatType => Set(DoubleType)
      case _ => Set.empty
    }
  }

  // -- nested-field ALTER ---------------------------------------------------
  //
  // add/drop/widen a STRUCT LEAF as the same metadata-only schema
  // commits the top-level ALTERs use: the pinned-schema read binds
  // each snapshot's own nested shape, old files null-fill an added
  // leaf and upcast a widened one natively (Spark's parquet readers
  // clip the requested struct to the file's and widen int32→int64 at
  // any nesting), and NO file is touched at any table size. Leaves
  // keep their logical names physically (nested column mapping is not
  // threaded through the rename seams), so re-ADDING a previously
  // dropped leaf name is REFUSED from log history — the old bytes
  // still sitting in files must not silently resurrect.

  private def splitDotted(dotted: String): Seq[String] = {
    val parts = dotted.split('.').toSeq.map(_.trim).filter(_.nonEmpty)
    require(parts.length >= 2,
      s"expected a dotted struct path (parent.leaf), got $dotted")
    parts
  }

  /** Rebuild `schema` with the struct at `parts.init` transformed by
    * `leafOp` (loud when a segment is missing or not a struct). */
  private def transformStructPath(
      schema: org.apache.spark.sql.types.StructType, parts: Seq[String],
      leafOp: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    if (parts.isEmpty) leafOp(schema)
    else {
      val hit = schema.fields.exists(_.name.equalsIgnoreCase(parts.head))
      require(hit, s"no such column ${parts.head}")
      StructType(schema.fields.map { f =>
        if (!f.name.equalsIgnoreCase(parts.head)) f
        else f.dataType match {
          case st: StructType =>
            f.copy(dataType = transformStructPath(st, parts.tail, leafOp))
          case other => throw new IllegalArgumentException(
            s"${f.name} is ${other.simpleString}, not a struct — " +
              "nested ALTER addresses struct leaves only")
        }
      })
    }
  }

  /** ALTER TABLE ADD COLUMNS (parent.leaf type): metadata-only; old
    * files null-fill the leaf at read time. A leaf name that EVER
    * existed at this path is refused (its bytes may still sit in live
    * files — re-binding them would resurrect dropped data; a CTAS is
    * the explicit way back). */
  def addStructField(spark: SparkSession, path: String, dotted: String,
      dt: org.apache.spark.sql.types.DataType): Long = {
    val parts = splitDotted(dotted)
    commitSchemaChange(path, s"alter:addnested:$dotted", () => {
      val cur = currentSchema(path).getOrElse(
        throw new IllegalArgumentException(s"not a TxnTable: $path"))
      val leaf = parts.last
      require(!historicalLeafNames(path, parts.init)
          .contains(leaf.toLowerCase),
        s"addStructField: $dotted existed in a previous schema " +
          "generation — old files may still hold its bytes, and " +
          "re-binding them would resurrect dropped data. Use a CTAS " +
          "to materialize the shape you want.")
      transformStructPath(cur, parts.init, st => {
        require(!st.fieldNames.exists(_.equalsIgnoreCase(leaf)),
          s"addStructField: $dotted already exists")
        org.apache.spark.sql.types.StructType(st.fields :+
          org.apache.spark.sql.types.StructField(leaf, dt,
            nullable = true))
      })
    })
  }

  /** ALTER TABLE ALTER COLUMN parent.leaf TYPE <wider>: the same
    * value-preserving widening matrix as the top-level form, applied
    * to a struct leaf — metadata-only, mixed generations upcast at
    * scan time. */
  def widenStructFieldType(spark: SparkSession, path: String,
      dotted: String, to: org.apache.spark.sql.types.DataType): Long = {
    val parts = splitDotted(dotted)
    commitSchemaChange(path,
      s"alter:widennested:$dotted:${to.simpleString}", () => {
        val cur = currentSchema(path).getOrElse(
          throw new IllegalArgumentException(s"not a TxnTable: $path"))
        transformStructPath(cur, parts.init, st => {
          val leaf = st.fields.find(_.name.equalsIgnoreCase(parts.last))
            .getOrElse(throw new IllegalArgumentException(
              s"widenStructFieldType: no such leaf $dotted"))
          require(wideningTargets(leaf.dataType)(to),
            s"widenStructFieldType: ${leaf.dataType.simpleString} -> " +
              s"${to.simpleString} is not a value-preserving widening")
          org.apache.spark.sql.types.StructType(st.fields.map(g =>
            if (g.name.equalsIgnoreCase(parts.last)) g.copy(dataType = to)
            else g))
        })
      })
  }

  /** ALTER TABLE DROP COLUMNS (parent.leaf): metadata-only (bytes
    * stay; restore across the drop recovers the leaf with its data).
    * Refused while a CHECK constraint references the leaf, and for a
    * struct's last leaf (an empty struct cannot be written). */
  def dropStructField(spark: SparkSession, path: String,
      dotted: String): Long = {
    val parts = splitDotted(dotted)
    commitSchemaChange(path, s"alter:dropnested:$dotted", () => {
      val cur = currentSchema(path).getOrElse(
        throw new IllegalArgumentException(s"not a TxnTable: $path"))
      val leaf = parts.last.toLowerCase
      constraints(path).foreach { case (n, sql) =>
        val words = sql.toLowerCase.split("[^a-z0-9_]+").toSet
        require(!words.contains(leaf),
          s"dropStructField: CHECK constraint $n references $leaf " +
            s"($sql) — drop the constraint first")
      }
      transformStructPath(cur, parts.init, st => {
        require(st.fieldNames.exists(_.equalsIgnoreCase(parts.last)),
          s"dropStructField: no such leaf $dotted")
        require(st.fields.length > 1,
          s"dropStructField: cannot drop a struct's last leaf " +
            s"($dotted) — drop the whole column instead")
        org.apache.spark.sql.types.StructType(
          st.fields.filterNot(_.name.equalsIgnoreCase(parts.last)))
      })
    })
  }

  /** A metadata-only commit that records a new schema — the ALTER
    * carrier. The schema is built FRESH on every attempt (a lost race
    * to another ALTER must not clobber it with a stale base); the
    * schema it carries makes every in-flight rewrite's rebase abort
    * (the ConcurrentMetadataChange rule), and retrying appends
    * re-validate against it ([[checkSchema]] on the fresh head). */
  private def commitSchemaChange(path: String, op: String,
      build: () => org.apache.spark.sql.types.StructType,
      maxAttempts: Int = 20): Long =
    retryRaces(maxAttempts) { _ =>
      val v = currentVersion(path) + 1
      require(v > 0, s"commitSchemaChange: not a table: $path")
      val schema = build()
      publish(path)(TxnCommit(v, op, Nil, Nil, Some(schema.json)))
    }

  // -- per-file BLOOM skipping ----------------------------------------------
  //
  // Point lookups on a HIGH-CARDINALITY column the table is NOT
  // clustered on are the one read shape log min/max stats cannot
  // prune: when every file's range covers the probe value, range
  // pruning keeps everything and a single-key lookup scans the whole
  // table. Per-FILE Bloom filters close that gap (the lakehouse bloom
  // index design; Bloom 1970): one build pass records, per (file,
  // column), a filter sized to the file's logged row count, persisted
  // as rows of a sibling TxnTable (`<table>__bloom`) — distributed
  // metadata, never a monolithic driver blob. Because data files are
  // IMMUTABLE, a file's bloom can never go stale: churn only REPLACES
  // files, the replacements simply lack blooms (conservatively kept)
  // until the next build, and the build is incremental BY CONSTRUCTION
  // — it scans exactly the live (file, column) pairs the aux table
  // does not cover yet. Probe-time pruning is distributed (the filters
  // deserialize and probe inside tasks; only kept file NAMES reach the
  // driver, like every pruned read here) and footer-free.

  /** The files a [[computeBloom]] actually scanned — pins the
    * incremental top-up contract. */
  val BloomBuiltFiles: OpMetrics.Key[Seq[String]] =
    OpMetrics.Key.latest("bloom_built_files")

  private def bloomBytes(b: org.apache.spark.util.sketch.BloomFilter)
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos); bos.toByteArray
  }

  /** Build per-file Bloom filters for `columns` (integral or string)
    * over every live file the aux table does not cover yet; appends
    * the new (file, col, bloom) rows in ONE commit. Returns the aux
    * table's version (-1 when there was nothing to build and no aux
    * exists). Integral values hash through their Long form, so the
    * probe side is width-independent. */
  def computeBloom(spark: SparkSession, path: String,
      columns: Seq[String], fpp: Double = 0.01): Long = {
    import spark.implicits._
    require(columns.nonEmpty, "computeBloom: no columns given")
    require(fpp > 0 && fpp < 0.5, s"fpp must be in (0, 0.5), got $fpp")
    val snap = head(path).getOrElse(throw new IllegalArgumentException(
      s"computeBloom: not a TxnTable: $path"))
    val schema = schemaOf(path, snap)
    val cols = columns.map(_.trim).filter(_.nonEmpty)
    val fields = cols.map(c => schema.fields
      .find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"computeBloom: no column $c in $path")))
    fields.foreach(f => require(Seq(ByteType, ShortType, IntegerType,
      LongType, StringType).contains(f.dataType),
      s"computeBloom covers integral and string columns, got " +
        s"${f.name}: ${f.dataType.simpleString}"))
    val names = fields.map(_.name) // canonical case
    val bp = bloomPath(path)
    val have: Set[(String, String)] =
      if (currentVersion(bp) < 0) Set.empty
      else read(spark, bp).select(col("file"), col("col")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val live = snap.files
    val work: Set[(String, String)] = (for {
      f <- live; c <- names if !have((f, c)) } yield (f, c)).toSet
    val files = work.map(_._1).toSeq.sorted
    OpMetrics.record(BloomBuiltFiles, files)
    if (files.isEmpty)
      return math.max(-1L, currentVersion(bp))
    val ai = snap.allAdds
    // basename → (add name, expected items): part files carry UUIDs,
    // so basenames are unique within a table (the DV machinery's
    // standing assumption)
    val byBase: Map[String, (String, Long)] = files.map(f =>
      f.split('/').last -> (f, math.max(1L, ai(f).rows))).toMap
    val isStr: IndexedSeq[Boolean] =
      fields.map(_.dataType == StringType).toIndexedSeq
    val phys = names.map(physicalColName(snap, _))
    val selects = col("_metadata.file_path").as("__fp") +:
      phys.zipWithIndex.map { case (p, i) =>
        if (isStr(i)) col(p) else col(p).cast("long") }
    val raw = scan(spark, path, snap, files).select(selects: _*)
    val n = names.length
    val fppB = fpp
    // partial blooms per (file, column) inside each task, merged per
    // file across tasks (filters built with identical sizing merge
    // exactly — the merge is a bitwise OR, so it is commutative,
    // associative, and order-independent); only the serialized
    // filters shuffle, never data rows. combineByKey rather than
    // groupByKey+mapGroups (guide §2.3 "aggregate before you
    // shuffle"): partials union map-side when a map partition holds
    // several for one key, and the reduce side folds each incoming
    // partial into ONE accumulator per key — streaming merge in
    // O(filter) memory instead of materializing every task's partial
    // for a file at once.
    val merged = raw.mapPartitions { it =>
      val local = scala.collection.mutable.Map[(String, Int),
        org.apache.spark.util.sketch.BloomFilter]()
      it.foreach { row =>
        val base = row.getString(0).split('/').last
        var i = 0
        while (i < n) {
          // the filter is created even for an all-null column — an
          // empty bloom prunes such files on every probe, and the
          // pair counts as covered for future top-ups
          val b = local.getOrElseUpdate((base, i),
            org.apache.spark.util.sketch.BloomFilter.create(
              byBase(base)._2, fppB))
          if (!row.isNullAt(i + 1)) {
            if (isStr(i)) b.putString(row.getString(i + 1))
            else b.putLong(row.getLong(i + 1))
          }
          i += 1
        }
      }
      local.iterator.map { case ((f, i), b) => ((f, i), bloomBytes(b)) }
    }.rdd.combineByKey(
      (b: Array[Byte]) => org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(b)),
      (acc: org.apache.spark.util.sketch.BloomFilter, b: Array[Byte]) =>
        acc.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b))),
      (a: org.apache.spark.util.sketch.BloomFilter,
       b: org.apache.spark.util.sketch.BloomFilter) => a.mergeInPlace(b)
    ).map { case ((f, i), b) => (byBase(f)._1, names(i), bloomBytes(b)) }
      .toDF("file", "col", "bloom")
    // a ZERO-ROW file never appears in the scan: cover it from log
    // metadata alone (its bloom is trivially empty)
    val zero = work.filter { case (f, _) => ai(f).rows == 0L }
      .toSeq.sorted.map { case (f, c) =>
        (f, c, bloomBytes(org.apache.spark.util.sketch.BloomFilter
          .create(1L, fppB)))
      }
    val outDf =
      if (zero.isEmpty) merged
      else merged.unionByName(zero.toDF("file", "col", "bloom"))
    val op = s"bloom:${names.mkString(",")}"
    if (currentVersion(bp) < 0) create(spark, bp, outDf, op = op)
    else append(spark, bp, outDf, op = op)
  }
}
