package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.TxnTable.Bound

/** ALTER TABLE ADD/DROP COLUMNS as metadata-only commits: O(1) at any
  * table size, null-fill on old files, drop keeps the bytes (restore
  * recovers the column with its data), rewrites materialize
  * progressively, constraint references refuse the drop. */
class AlterColumnsSpec extends SparkSpecBase {
  import spark.implicits._

  private def mk(): String = {
    val t = Files.createTempDirectory("graft_alter").toString + "/t"
    TxnTable.create(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("id", "v", "s"))
    t
  }

  test("addColumns: metadata-only widen, old rows null-fill, new " +
    "tranches carry the column") {
    val t = mk()
    val v = TxnTable.addColumns(spark, t,
      Seq("note" -> org.apache.spark.sql.types.StringType,
        "score" -> org.apache.spark.sql.types.LongType))
    assert(v == 1L)
    val c = TxnTable.commits(t).last
    assert(c.op == "alter:add:note,score" &&
      c.adds.isEmpty && c.removes.isEmpty, "widen must be metadata-only")
    // old rows read back with nulls in the new columns
    val head = TxnTable.read(spark, t)
    assert(head.columns.toSeq == Seq("id", "v", "s", "note", "score"))
    assert(head.filter(col("note").isNull).count() == 3)
    // a new tranche fills them; the old tranche still nulls
    TxnTable.append(spark, t,
      Seq((4L, 40L, "d", "fresh", 9L)).toDF("id", "v", "s", "note", "score"))
    assert(TxnTable.read(spark, t).filter(col("note") === "fresh")
      .count() == 1)
    // an old-shape append now fails loudly (schema drift)
    intercept[TxnTable.SchemaMismatchException] {
      TxnTable.append(spark, t, Seq((5L, 50L, "e")).toDF("id", "v", "s"))
    }
    // duplicate add refused
    intercept[IllegalArgumentException] {
      TxnTable.addColumns(spark, t,
        Seq("NOTE" -> org.apache.spark.sql.types.StringType))
    }
  }

  test("dropColumns: metadata-only, time travel + restore recover the " +
    "column WITH its data, rewrites materialize") {
    val t = mk()
    val v = TxnTable.dropColumns(spark, t, Seq("s"))
    assert(v == 1L)
    val c = TxnTable.commits(t).last
    assert(c.adds.isEmpty && c.removes.isEmpty, "drop must rewrite nothing")
    assert(TxnTable.read(spark, t).columns.toSeq == Seq("id", "v"))
    // the bytes are still there: time travel sees the column and data
    assert(TxnTable.read(spark, t, 0L).filter(col("s") === "b").count() == 1)
    // restore across the drop recovers column AND data
    TxnTable.restore(spark, t, 0L)
    assert(TxnTable.read(spark, t).filter(col("s").isNotNull).count() == 3)
    // drop again, then a rewrite materializes the narrow shape
    TxnTable.dropColumns(spark, t, Seq("s"))
    TxnTable.deleteWhere(spark, t, col("id") === 1L)
    val rewritten = TxnTable.commits(t).last.adds
    assert(rewritten.nonEmpty)
    val surv = spark.read.parquet(
      rewritten.map(a => java.nio.file.Paths.get(t).resolve(a.path)
        .toString): _*)
    assert(surv.columns.toSeq == Seq("id", "v"),
      "survivor rewrite must materialize the dropped shape")
    assert(TxnTable.read(spark, t).count() == 2)
    // guards: unknown column, last column, constraint reference
    intercept[IllegalArgumentException] {
      TxnTable.dropColumns(spark, t, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      TxnTable.dropColumns(spark, t, Seq("id", "v"))
    }
    TxnTable.addConstraint(spark, t, "v_pos", "v > 0")
    intercept[IllegalArgumentException] {
      TxnTable.dropColumns(spark, t, Seq("v"))
    }
  }

  test("renameColumn: metadata-only column mapping end to end") {
    val t = mk() // (id, v, s): rows 1..3
    val v1 = TxnTable.renameColumn(spark, t, "v", "value")
    assert(v1 == 1L)
    val c = TxnTable.commits(t).last
    assert(c.adds.isEmpty && c.removes.isEmpty, "rename must move no files")
    // head reads the new logical name with the old data
    val head = TxnTable.read(spark, t)
    assert(head.columns.toSeq == Seq("id", "value", "s"))
    assert(head.agg(sum(col("value"))).head().getLong(0) == 60L)
    // time travel to the pre-rename snapshot shows the OLD name
    assert(TxnTable.read(spark, t, 0L).columns.toSeq == Seq("id", "v", "s"))
    // appends use the NEW logical name; the FILES store the physical one
    TxnTable.append(spark, t,
      Seq((4L, 40L, "d")).toDF("id", "value", "s"))
    val newAdd = TxnTable.commits(t).last.adds.head
    val rawCols = spark.read.parquet(
      java.nio.file.Paths.get(t).resolve(newAdd.path).toString).columns
    assert(rawCols.toSeq == Seq("id", "v", "s"),
      s"files must keep the stable physical name, got ${rawCols.toSeq}")
    assert(TxnTable.read(spark, t).filter(col("value") === 40L).count() == 1)
    // the old logical name is gone from the projected surface (filter
    // can still reach it via Spark's missing-reference resolution, the
    // same semantics as any withColumnRenamed frame)
    intercept[Exception] {
      TxnTable.read(spark, t).select("v").collect()
    }
    // old-shape appends fail loudly
    intercept[TxnTable.SchemaMismatchException] {
      TxnTable.append(spark, t, Seq((9L, 9L, "x")).toDF("id", "v", "s"))
    }
    // rewrites work through the new name and keep physical binding
    TxnTable.deleteWhere(spark, t, col("value") === 10L)
    assert(TxnTable.read(spark, t).count() == 3)
    assert(TxnTable.read(spark, t).agg(sum(col("value")))
      .head().getLong(0) == 90L)
    // MOR delete (DV path) composes with the mapping
    TxnTable.deleteWhereMor(spark, t, col("value") === 20L)
    assert(TxnTable.read(spark, t).agg(sum(col("value")))
      .head().getLong(0) == 70L)
    // chained rename keeps the ORIGINAL physical name
    TxnTable.renameColumn(spark, t, "value", "amount")
    assert(TxnTable.read(spark, t).columns.contains("amount"))
    val lastAdd = {
      TxnTable.append(spark, t, Seq((5L, 50L, "e")).toDF("id", "amount", "s"))
      TxnTable.commits(t).last.adds.head
    }
    assert(spark.read.parquet(java.nio.file.Paths.get(t)
      .resolve(lastAdd.path).toString).columns.toSeq == Seq("id", "v", "s"))
    // compaction rewrites through the mapping: logical shape out,
    // physical names in the new files, content preserved
    val preCompact = TxnTable.read(spark, t).count()
    TxnTable.compact(spark, t)
    assert(TxnTable.read(spark, t).count() == preCompact)
    assert(TxnTable.read(spark, t).columns.contains("amount"))
    assert(spark.read.parquet(java.nio.file.Paths.get(t)
      .resolve(TxnTable.commits(t).last.adds.head.path).toString)
      .columns.toSeq == Seq("id", "v", "s"),
      "compacted files must keep the physical name")
    // a CDF diff across the rename boundary fails LOUDLY, never
    // silently mis-diffs
    val e = intercept[Exception] {
      TxnTable.diffVersions(spark, t, 0L, TxnTable.currentVersion(t),
        Seq("id")).collect()
    }
    assert(e.getMessage != null)
    // restore across the renames rolls the NAME back with the content
    TxnTable.restore(spark, t, 0L)
    assert(TxnTable.read(spark, t).columns.toSeq == Seq("id", "v", "s"))
    assert(TxnTable.read(spark, t).agg(sum(col("v"))).head().getLong(0) == 60L)
  }

  test("renamed column: pruned reads and metadata aggregates stay " +
    "log-planned (stats are physical-keyed)") {
    val t = Files.createTempDirectory("graft_alterp").toString + "/t"
    TxnTable.createClustered(spark, t,
      (for (g <- 0L until 8L; i <- 1L to 50L)
        yield (g * 1000 + i, g, (g * 1000 + i) * 3)).toDF("id", "g", "x"),
      Seq(col("g")), targetFiles = 8)
    TxnTable.renameColumn(spark, t, "g", "grp")
    val (_, window) = OpMetrics.scope {
      // pruned read on the RENAMED column: log-stats plan, zero footers,
      // strict subset, exact rows
      val pruned = TxnTable.readPruned(spark, t,
        Seq(Bound.LongRange("grp", 2L, 3L)))
      assert(pruned.count() == 100L)
      assert(pruned.columns.contains("grp"))
      val (cnt, scanned, total) = TxnTable.countRange(spark, t, "grp", 2L, 5L)
      assert(cnt == 200L && scanned == 0 && total == 8,
        s"metadata count must survive the rename, got ($cnt,$scanned,$total)")
      val (mn, mx, s2, _) = TxnTable.minMaxOf(spark, t, "grp")
      assert(mn.contains(0L) && mx.contains(7L) && s2 == 0)
    }
    assert(window.count(graft.crawler.SkippingIndex.FooterReads) == 0,
      "renamed-column pruning must stay zero-footer")
    // constraint guard: a CHECK referencing the name blocks the rename
    TxnTable.addConstraint(spark, t, "grp_pos", "grp >= 0")
    intercept[IllegalArgumentException] {
      TxnTable.renameColumn(spark, t, "grp", "g2")
    }
  }

  test("ADD after RENAME or DROP can never clash or resurrect (fresh " +
    "physical names)") {
    // RENAME v→value keeps physical `v`; re-ADDing logical `v` must
    // NOT produce two physical `v` fields (every read would fail) —
    // the added column gets a fresh col-<uuid> physical name
    val t = mk() // (id, v, s)
    TxnTable.renameColumn(spark, t, "v", "value")
    TxnTable.addColumns(spark, t,
      Seq("v" -> org.apache.spark.sql.types.LongType))
    val head = TxnTable.read(spark, t)
    assert(head.columns.toSeq == Seq("id", "value", "s", "v"))
    // old data stays in `value`; the NEW `v` never re-binds old bytes
    assert(head.agg(sum(col("value"))).head().getLong(0) == 60L)
    assert(head.filter(col("v").isNotNull).count() == 0)
    // writes land in the fresh physical column and read back
    TxnTable.append(spark, t,
      Seq((4L, 40L, "d", 7L)).toDF("id", "value", "s", "v"))
    assert(TxnTable.read(spark, t).filter(col("v") === 7L).count() == 1)
    val raw = spark.read.parquet(java.nio.file.Paths.get(t)
      .resolve(TxnTable.commits(t).last.adds.head.path).toString)
      .columns.toSet
    assert(raw.contains("v") && raw.exists(_.startsWith("col-")),
      s"file must store stable physical v + fresh col-<uuid>, got $raw")

    // DROP s then re-ADD s: the dropped bytes in old files must NOT
    // resurrect into the new column
    val t2 = mk()
    TxnTable.dropColumns(spark, t2, Seq("s"))
    TxnTable.addColumns(spark, t2,
      Seq("s" -> org.apache.spark.sql.types.StringType))
    assert(TxnTable.read(spark, t2).filter(col("s").isNotNull).count() == 0,
      "dropped data must stay dropped after a same-name re-add")
    TxnTable.append(spark, t2,
      Seq((4L, 40L, "fresh")).toDF("id", "v", "s"))
    assert(TxnTable.read(spark, t2).filter(col("s") === "fresh")
      .count() == 1)
  }

  test("schema evolution refuses re-binding an in-use physical name") {
    // evolve-added columns bind logical-as-physical (the append's own
    // files already store them that way), so a name colliding with a
    // renamed field's physical name must be rejected loudly
    val t = mk()
    TxnTable.renameColumn(spark, t, "v", "value")
    val e = intercept[IllegalArgumentException] {
      TxnTable.append(spark, t,
        Seq((9L, 90L, "x", 1L)).toDF("id", "value", "s", "v"),
        evolveSchema = true)
    }
    assert(e.getMessage.contains("physical"), e.getMessage)
    assert(TxnTable.read(spark, t).count() == 3, "nothing may commit")
    // ... and one colliding with a DROPPED column's bytes likewise
    val t2 = mk()
    TxnTable.dropColumns(spark, t2, Seq("s"))
    intercept[IllegalArgumentException] {
      TxnTable.append(spark, t2,
        Seq((9L, 90L, "x")).toDF("id", "v", "s"), evolveSchema = true)
    }
    // an untainted new name still evolves fine
    TxnTable.append(spark, t2,
      Seq((9L, 90L, "fresh")).toDF("id", "v", "note"), evolveSchema = true)
    val h2 = TxnTable.read(spark, t2)
    assert(h2.columns.toSeq == Seq("id", "v", "note"))
    assert(h2.filter(col("note") === "fresh").count() == 1)
  }

  test("metadata aggregates and pruned reads survive an ALTER cycle") {
    val t = mk()
    TxnTable.addColumns(spark, t,
      Seq("w" -> org.apache.spark.sql.types.LongType))
    TxnTable.append(spark, t,
      Seq((10L, 100L, "z", 7L)).toDF("id", "v", "s", "w"))
    // countRange on a column that predates the ALTER still answers
    // (pre-ALTER files lack "w" stats → they scan; post-ALTER file is
    // metadata); count on "v" stays fully metadata-only
    val (cv, sv, _) = TxnTable.countRange(spark, t, "v", 0L, 1000L)
    assert(cv == 4L && sv == 0,
      s"v-count must stay metadata-only after ALTER, got ($cv,$sv)")
    val (cw, _, _) = TxnTable.countRange(spark, t, "w", 0L, 100L)
    assert(cw == 1L, "old files must count as zero non-null w rows")
  }

  test("widenColumnType: metadata-only int->long and float->double, " +
    "mixed-generation reads upcast, time travel keeps each snapshot's " +
    "own type, narrowing and lossy casts refused") {
    import org.apache.spark.sql.types._
    val t = Files.createTempDirectory("graft_widen").toString + "/t"
    TxnTable.create(spark, t,
      Seq((1, 1.5f, 10L), (2, 2.5f, 20L), (3, 3.5f, 30L))
        .toDF("i", "f", "id")) // v0: i int32, f float
    val v1 = TxnTable.widenColumnType(spark, t, "i", LongType)
    assert(v1 == 1L)
    val c = TxnTable.commits(t).last
    assert(c.op == "alter:widen:i:bigint" &&
      c.adds.isEmpty && c.removes.isEmpty,
      "widening must be a metadata-only commit")
    // the head binds the widened type over the OLD int32 file
    val head = TxnTable.read(spark, t)
    assert(head.schema("i").dataType == LongType)
    assert(head.agg(sum(col("i"))).head().getLong(0) == 6L)
    // filters push into the upcast scan
    assert(head.filter(col("i") >= 2L).count() == 2L)
    // time travel: the pre-widen snapshot keeps its own narrow type
    assert(TxnTable.read(spark, t, 0L).schema("i").dataType
      == IntegerType)
    // post-widen appends carry the wide type; the OLD narrow shape is
    // now a schema mismatch (INSERT SQL coerces; raw appends must match)
    TxnTable.append(spark, t,
      Seq((4000000000L, 4.5f, 40L)).toDF("i", "f", "id")) // v2
    intercept[TxnTable.SchemaMismatchException] {
      TxnTable.append(spark, t, Seq((5, 5.5f, 50L)).toDF("i", "f", "id"))
    }
    assert(TxnTable.read(spark, t).agg(sum(col("i"))).head()
      .getLong(0) == 4000000006L,
      "values beyond int32 must round-trip after the widen")
    // float -> double on the same table: two widened columns coexist
    TxnTable.widenColumnType(spark, t, "f", DoubleType) // v3
    val h2 = TxnTable.read(spark, t)
    assert(h2.schema("f").dataType == DoubleType)
    assert(math.abs(h2.agg(sum(col("f"))).head().getDouble(0) - 12.0)
      < 1e-9)
    // MOR DML over the mixed-generation snapshot
    TxnTable.deleteWhereMor(spark, t, col("id") === 20L) // v4
    assert(TxnTable.read(spark, t).count() == 3)
    // a rewrite MATERIALIZES the widening: the folded file stores the
    // wide physical type
    TxnTable.compact(spark, t) // v5
    val folded = TxnTable.snapshotFiles(t).map(f =>
      java.nio.file.Paths.get(t).resolve(f).toString)
    val raw = spark.read.parquet(folded: _*)
    assert(raw.schema("i").dataType == LongType &&
      raw.schema("f").dataType == DoubleType,
      "a post-widen rewrite must store the wide physical type")
    // refusals: narrowing, lossy long->double, non-numeric, no column
    intercept[IllegalArgumentException] {
      TxnTable.widenColumnType(spark, t, "i", IntegerType)
    }
    intercept[IllegalArgumentException] {
      TxnTable.widenColumnType(spark, t, "id", DoubleType)
    }
    intercept[IllegalArgumentException] {
      TxnTable.widenColumnType(spark, t, "f", StringType)
    }
    intercept[IllegalArgumentException] {
      TxnTable.widenColumnType(spark, t, "nope", LongType)
    }
  }

  test("widened column: pruned reads and metadata COUNTs stay " +
    "zero-footer across generations (old int32 bounds already live " +
    "in the widened long space); widen composes with RENAME") {
    import org.apache.spark.sql.types._
    val t = Files.createTempDirectory("graft_widen2").toString + "/t"
    TxnTable.createClustered(spark, t,
      spark.range(0, 1000).select(col("id").cast("int").as("k"),
        col("id").as("pay")),
      Seq(col("k")), targetFiles = 8) // v0: 8 int32-k files, banded
    TxnTable.widenColumnType(spark, t, "k", LongType) // v1
    // a post-widen tranche in the new type, out-of-band values
    TxnTable.append(spark, t,
      spark.range(0, 100).select((col("id") + 5000000000L).as("k"),
        col("id").as("pay"))) // v2
    // pruned read: old adds' logged bounds translate unchanged into
    // the widened space — zero footer reads, strict file subset
    val (_, window) = OpMetrics.scope {
      val pruned = TxnTable.readPruned(spark, t,
        Seq(Bound.LongRange("k", 100L, 299L)))
      assert(pruned.count() == 200L)
      assert(pruned.inputFiles.length < 9,
        "pruning must keep a strict subset across generations")
      // metadata COUNT: exact, and fully planned from the log
      val (cnt, scanned, total) =
        TxnTable.countRange(spark, t, "k", 0L, 10000000000L)
      assert(cnt == 1100L && scanned == 0 && total == 9,
        s"widened-space COUNT must be zero-scan, got ($cnt,$scanned,$total)")
    }
    assert(window.count(graft.crawler.SkippingIndex.FooterReads) == 0,
      "no footer may be opened: bounds come from the commit log")
    // widen composes with column mapping: RENAME keeps the stable
    // physical name; a lossy widen on the renamed column still refuses
    // (payload is long; long->double loses precision above 2^53)
    TxnTable.renameColumn(spark, t, "pay", "payload") // v3
    intercept[IllegalArgumentException] {
      TxnTable.widenColumnType(spark, t, "payload", DoubleType)
    }
    // an int column introduced POST-rename widens fine and reads
    // through the mapping
    val t2 = Files.createTempDirectory("graft_widen3").toString + "/t"
    TxnTable.create(spark, t2,
      Seq((1, 10L), (2, 20L)).toDF("n", "pay"))
    TxnTable.renameColumn(spark, t2, "n", "num") // physical stays "n"
    TxnTable.widenColumnType(spark, t2, "num", LongType)
    val h = TxnTable.read(spark, t2)
    assert(h.schema("num").dataType == LongType)
    assert(h.agg(sum(col("num"))).head().getLong(0) == 3L)
    TxnTable.append(spark, t2,
      Seq((7000000000L, 70L)).toDF("num", "pay"))
    assert(TxnTable.read(spark, t2).agg(sum(col("num")))
      .head().getLong(0) == 7000000003L)
    // the post-widen file stores the stable PHYSICAL name, wide type
    val rawCols = spark.read.parquet(java.nio.file.Paths.get(t2)
      .resolve(TxnTable.commits(t2).last.adds.head.path).toString)
    assert(rawCols.columns.toSeq == Seq("n", "pay") &&
      rawCols.schema("n").dataType == LongType,
      "post-widen append must keep the physical name with the wide type")
  }

  test("nested-field ALTER: add/widen/drop a struct leaf are " +
    "metadata-only; guards — CHECK reference, resurrection, last " +
    "leaf, narrowing, non-struct path") {
    import org.apache.spark.sql.types._
    val t = Files.createTempDirectory("graft_nalter").toString + "/t"
    TxnTable.create(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b"))
        .toDF("id", "bal", "seg")
        .select(col("id"), struct(col("seg"),
          col("bal").cast("int").as("bal_c")).as("cust")))
    // add a leaf: metadata-only; old rows null-fill
    val v1 = TxnTable.addStructField(spark, t, "cust.tier", LongType)
    assert(v1 == 1L && TxnTable.commits(t).last.adds.isEmpty)
    assert(TxnTable.read(spark, t).selectExpr("cust.tier")
      .collect().forall(_.isNullAt(0)),
      "old files must null-fill the added leaf")
    // new data carries it; widen the int leaf; beyond-int32 lands
    TxnTable.append(spark, t, Seq((3L, "c", 30, 7L)).toDF(
      "id", "seg", "bal_c", "tier").select(col("id"),
        struct(col("seg"), col("bal_c"), col("tier")).as("cust"))) // v2
    val v3 = TxnTable.widenStructFieldType(spark, t, "cust.bal_c",
      LongType)
    assert(v3 == 3L && TxnTable.commits(t).last.adds.isEmpty)
    TxnTable.append(spark, t, Seq((4L, "d", 6000000000L, 9L)).toDF(
      "id", "seg", "bal_c", "tier").select(col("id"),
        struct(col("seg"), col("bal_c"), col("tier")).as("cust"))) // v4
    assert(TxnTable.read(spark, t).selectExpr("sum(cust.bal_c)")
      .head().getLong(0) == 10L + 20L + 30L + 6000000000L,
      "mixed generations must upcast the widened leaf")
    // time travel binds each snapshot's own nested shape
    val s0 = TxnTable.read(spark, t, 0L).schema("cust").dataType
      .asInstanceOf[StructType]
    assert(!s0.fieldNames.contains("tier") &&
      s0("bal_c").dataType == IntegerType)
    // narrowing refused
    intercept[IllegalArgumentException] {
      TxnTable.widenStructFieldType(spark, t, "cust.bal_c", IntegerType)
    }
    // CHECK referencing the leaf fences the drop
    TxnTable.addConstraint(spark, t, "tier_pos",
      "cust.tier IS NULL OR cust.tier >= 0")
    val e = intercept[IllegalArgumentException] {
      TxnTable.dropStructField(spark, t, "cust.tier")
    }
    assert(e.getMessage.contains("tier_pos"))
    assert(TxnTable.dropConstraint(t, "tier_pos"))
    // drop works once unfenced; re-ADD of the dropped name is refused
    // from history (old bytes must not resurrect)
    val vd = TxnTable.dropStructField(spark, t, "cust.tier")
    assert(TxnTable.commits(t).last.adds.isEmpty)
    assert(!TxnTable.read(spark, t).schema("cust").dataType
      .asInstanceOf[StructType].fieldNames.contains("tier"))
    val e2 = intercept[IllegalArgumentException] {
      TxnTable.addStructField(spark, t, "cust.tier", LongType)
    }
    assert(e2.getMessage.contains("resurrect"), e2.getMessage)
    // restore across the drop recovers the leaf WITH its data
    TxnTable.restore(spark, t, vd - 1)
    assert(TxnTable.read(spark, t).selectExpr("sum(cust.tier)")
      .head().getLong(0) == 7L + 9L)
    // a struct's last leaf and a non-struct path are loud errors
    intercept[IllegalArgumentException] {
      TxnTable.dropStructField(spark, t, "id.leaf")
    }
    val t2 = Files.createTempDirectory("graft_nalter2").toString + "/t"
    TxnTable.create(spark, t2, Seq((1L, 1L)).toDF("id", "g")
      .select(col("id"), struct(col("g")).as("one")))
    intercept[IllegalArgumentException] {
      TxnTable.dropStructField(spark, t2, "one.g")
    }
  }
}
