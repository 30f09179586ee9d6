package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TxnTable
import graft.core.TxnTable.Bound

/** Incremental maintenance of a grouped-aggregate materialized view
  * over a [[graft.core.TxnTable]], fed by the file-scoped change data
  * feed ([[TxnTable.diffVersionsImages]]) — including the
  * NON-INVERTIBLE extremes (min/max), which a pure delta fold cannot
  * maintain through deletes (SURVEY §2.7 widening; the s18 gate covers
  * the invertible count/sum fold, this operator adds the rest).
  *
  * View shape: `GROUP BY groupCol → count(*), sum(valueCol),
  * min(valueCol), max(valueCol)` with long-typed group and value
  * columns (the same physical-int64 contract as the pruned reads the
  * recompute path rides on). A NULL group key is a legitimate SQL
  * group and is maintained correctly: it bypasses the equi-join fold
  * machinery (which would silently drop it) and is carried through
  * unchanged when untouched, or re-aggregated from the snapshot's
  * `IS NULL` slice when a delta touches it — see the nullGroupRow
  * split in each step.
  *
  * Maintenance per version step:
  *  - **count/sum** fold exactly from the images: +after for inserts,
  *    −before for deletes, both for updates — never re-aggregated.
  *  - **min/max grow monotonically** from insert/update after-images:
  *    `least(mn, min(inserted))` / `greatest(mx, max(inserted))` — an
  *    arriving value can only extend the range, so no recompute.
  *  - **min/max shrink needs recompute**: a delete/update whose
  *    BEFORE-image value sits at its group's current extreme
  *    (`v <= mn || v >= mx`) may have removed that extreme. ONLY those
  *    groups are re-aggregated, and only from the files whose footer
  *    range contains their keys ([[TxnTable.readPruned]]) — on a
  *    group-clustered table that is O(affected groups' files), never a
  *    table scan. Groups whose deletes land strictly inside the open
  *    interval (mn, mx) keep their extremes with zero files read.
  *
  * Scale notes: the affected-group key list is collected to the driver
  * — O(groups touched by one version's delta), the same metadata-scale
  * collect as deleteWhere's hit-file list, never O(table groups). The
  * returned state carries a truncated lineage (`localCheckpoint`), so
  * chained steps don't stack exponentially re-evaluated plans; a
  * long-lived view should persist state as its own TxnTable between
  * steps — [[graft.streaming.StreamIvm]] does exactly that.
  */
object IncrementalView {

  /** Per-step evidence for specs/gates: how much the recompute read.
    * `prunedFiles` lists the recompute scan's files (empty when the
    * step recomputed nothing or fell back to a full re-aggregation). */
  case class StepStats(affectedGroups: Int, filesRead: Int,
      liveFiles: Int, prunedFiles: Seq[String] = Nil)

  /** Full (re)materialization — the state shape every step preserves:
    * (groupCol, cnt, sm, mn, mx). */
  def materializeMinMax(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("cnt"),
      sum(col(valueCol)).as("sm"),
      min(col(valueCol)).as("mn"),
      max(col(valueCol)).as("mx"))

  /** Advance `state` (shape of [[materializeMinMax]] at `fromV`) to the
    * view of `path` at `toV`. Returns the new state plus the step's
    * pruned-read evidence. */
  def maintainMinMaxStep(spark: SparkSession, path: String,
      state: DataFrame, fromV: Long, toV: Long, keyCols: Seq[String],
      groupCol: String, valueCol: String): (DataFrame, StepStats) = {
    val d = TxnTable.diffVersionsImages(spark, path, fromV, toV, keyCols)
      .persist()
    try {
      val plus = d.filter(col("op") =!= "delete").select(
        col(s"after.$groupCol").as(groupCol),
        lit(1L).as("dc"), col(s"after.$valueCol").cast("long").as("dv"))
      val minus = d.filter(col("op") =!= "insert").select(
        col(s"before.$groupCol").as(groupCol),
        lit(-1L).as("dc"), (-col(s"before.$valueCol")).cast("long").as("dv"))
      foldStep(spark, path, state, plus, minus, groupCol, valueCol, toV)
    } finally { d.unpersist(); () }
  }

  /** [[maintainMinMaxStep]] fed by KEY-FREE row multisets (the shape
    * [[TxnTable.changedRowSides]] returns) instead of keyed images: an
    * update is one removed + one added row, which folds identically —
    * so a consumer with NO row-identity contract (the SQL-surface
    * incremental `REFRESH MATERIALIZED VIEW`) maintains the same
    * count/sum/min/max state.
    *
    * The sides are NETTED first — `(group, value)` multiplicities
    * summed across removed(−)/added(+), zeros dropped. File-scoped
    * CDF rewrites whole files, so a narrow update arrives padded with
    * every untouched row of its file on BOTH sides; netting cancels
    * those exactly (the key-free analogue of the keyed diff dropping
    * no-op rows), leaving the affected-extremes set at O(truly
    * changed groups) instead of O(groups in churned files).
    *
    * `recomputeFilter` re-applies the view's row predicate (if any)
    * to the affected-group recompute scan — the removed/added sides
    * must arrive already filtered. */
  def maintainMinMaxFromSides(spark: SparkSession, path: String,
      state: DataFrame, removed: DataFrame, added: DataFrame,
      groupCol: String, valueCol: String, toV: Long,
      recomputeFilter: DataFrame => DataFrame = identity,
      checkpointResult: Boolean = true): (DataFrame, StepStats) = {
    val netAll = added.select(col(groupCol),
        col(valueCol).cast("long").as("dv"), lit(1L).as("m"))
      .unionAll(removed.select(col(groupCol),
        col(valueCol).cast("long").as("dv"), lit(-1L).as("m")))
      .groupBy(col(groupCol), col("dv"))
      .agg(sum(col("m")).as("m")).filter(col("m") =!= 0)
      .persist()
    try {
      // the NULL group (a legitimate SQL group, at most one) is split
      // out of the join/fold machinery entirely: equi-joins never
      // match null keys (an existing null-group state row would be
      // silently dropped by the inner merge), and a null leaking into
      // `affected` poisons !isInCollection (three-valued IN) and
      // readPruned — see [[nullGroupRow]]
      val nullTouched =
        netAll.filter(col(groupCol).isNull).limit(1).count() > 0
      val net = netAll.filter(col(groupCol).isNotNull)
      val stateNN = state.filter(col(groupCol).isNotNull)
      // invertible half: exact fold from the netted multiplicities
      val folded = stateNN.select(col(groupCol), col("cnt"), col("sm"))
        .unionAll(net.select(col(groupCol), col("m").as("cnt"),
          (col("dv") * col("m")).as("sm")))
        .groupBy(col(groupCol))
        .agg(sum(col("cnt")).as("cnt"), sum(col("sm")).as("sm"))
        .filter(col("cnt") > 0)
      // extremes: monotone growth from net-added values...
      val insExt = net.filter(col("m") > 0).groupBy(col(groupCol))
        .agg(min(col("dv")).as("imn"), max(col("dv")).as("imx"))
      val grownExt = stateNN.select(col(groupCol), col("mn"), col("mx"))
        .join(insExt, Seq(groupCol), "full_outer")
        .select(col(groupCol),
          least(col("mn"), col("imn")).as("mn"),
          greatest(col("mx"), col("imx")).as("mx"))
      // ...and recompute for groups whose NET-removed value sat at an
      // extreme (or with no state row — conservatively recompute)
      val affected = net.filter(col("m") < 0)
        .join(stateNN.select(col(groupCol), col("mn"), col("mx")),
          Seq(groupCol), "left")
        .filter(col("mn").isNull || col("dv") <= col("mn") ||
          col("dv") >= col("mx"))
        .select(col(groupCol)).distinct()
        .collect().map(_.get(0)).toSeq
      val merged = folded.join(grownExt, Seq(groupCol), "inner")
        .select(col(groupCol), col("cnt"), col("sm"), col("mn"),
          col("mx"))
      recomputeTail(spark, path, state, merged, affected, groupCol,
        valueCol, toV, recomputeFilter, checkpointResult,
        nullGroupRow(spark, path, state, nullTouched, groupCol,
          valueCol, toV, recomputeFilter))
    } finally { netAll.unpersist(); () }
  }

  /** The view's NULL-group row for the step result: untouched steps
    * carry the state's null-group row through unchanged; a touched
    * null group is re-aggregated from the snapshot's `groupCol IS
    * NULL` slice (a pruned key-range read can't address nulls, but
    * the isNull predicate pushes to parquet row-group null counts, so
    * files without nulls skip). Returns 0 or 1 rows. */
  private def nullGroupRow(spark: SparkSession, path: String,
      state: DataFrame, touched: Boolean, groupCol: String,
      valueCol: String, toV: Long,
      recomputeFilter: DataFrame => DataFrame): DataFrame =
    if (!touched) state.filter(col(groupCol).isNull)
    else materializeMinMax(
      recomputeFilter(TxnTable.read(spark, path, toV))
        .filter(col(groupCol).isNull), groupCol, valueCol)

  /** The shared fold core: `plus`/`minus` are (groupCol, dc, dv) delta
    * rows (dv already negated on the minus side). */
  private def foldStep(spark: SparkSession, path: String,
      state: DataFrame, plusAll: DataFrame, minusAll: DataFrame,
      groupCol: String, valueCol: String, toV: Long,
      recomputeFilter: DataFrame => DataFrame = identity)
      : (DataFrame, StepStats) = {
    {
      // the NULL group bypasses the join/fold machinery (equi-joins
      // drop null keys; a null in `affected` poisons isInCollection
      // and getLong) — same split as maintainMinMaxFromSides
      val nullTouched =
        plusAll.filter(col(groupCol).isNull).limit(1).count() > 0 ||
          minusAll.filter(col(groupCol).isNull).limit(1).count() > 0
      val plus = plusAll.filter(col(groupCol).isNotNull)
      val minus = minusAll.filter(col(groupCol).isNotNull)
      val stateNN = state.filter(col(groupCol).isNotNull)
      // invertible half: exact fold, no reads
      val folded = stateNN.select(col(groupCol), col("cnt"), col("sm"))
        .unionAll(plus.select(col(groupCol), col("dc").as("cnt"),
          col("dv").as("sm")))
        .unionAll(minus.select(col(groupCol), col("dc").as("cnt"),
          col("dv").as("sm")))
        .groupBy(col(groupCol))
        .agg(sum(col("cnt")).as("cnt"), sum(col("sm")).as("sm"))
        .filter(col("cnt") > 0)

      // extremes half: monotone growth from after-images...
      val insExt = plus.groupBy(col(groupCol))
        .agg(min(col("dv")).as("imn"), max(col("dv")).as("imx"))
      val grownExt = stateNN.select(col(groupCol), col("mn"), col("mx"))
        .join(insExt, Seq(groupCol), "full_outer")
        .select(col(groupCol),
          least(col("mn"), col("imn")).as("mn"),
          greatest(col("mx"), col("imx")).as("mx"))

      // ...and recompute for groups whose before-image hit an extreme
      // (or whose state row is missing — conservatively recompute)
      val affected = minus
        .join(stateNN.select(col(groupCol), col("mn"), col("mx")),
          Seq(groupCol), "left")
        .filter(col("mn").isNull || (-col("dv")) <= col("mn") ||
          (-col("dv")) >= col("mx"))
        .select(col(groupCol)).distinct()
        .collect().map(_.getLong(0)).toSeq

      val merged = folded.join(grownExt, Seq(groupCol), "inner")
        .select(col(groupCol), col("cnt"), col("sm"), col("mn"), col("mx"))

      recomputeTail(spark, path, state, merged, affected, groupCol,
        valueCol, toV, recomputeFilter, checkpointResult = true,
        nullGroupRow(spark, path, state, nullTouched, groupCol,
          valueCol, toV, recomputeFilter))
    }
  }

  /** Shared step tail: apply the affected-group recompute (pruned, or
    * one full re-aggregation past the self-tuning threshold) and
    * truncate lineage. */
  private def recomputeTail(spark: SparkSession, path: String,
      state: DataFrame, merged: DataFrame, affected: Seq[Any],
      groupCol: String, valueCol: String, toV: Long,
      recomputeFilter: DataFrame => DataFrame,
      checkpointResult: Boolean, nullRow: DataFrame)
      : (DataFrame, StepStats) = {
    val live = TxnTable.snapshotFiles(path, toV).size
    val (next, stats) =
      if (affected.isEmpty)
        (merged.unionAll(nullRow), StepStats(0, 0, live))
      // short-circuit the state.count() action below the 64-group
      // floor: max(64, n/10) > size ⟺ size > 64 AND size > n/10
      else if (affected.size > 64 &&
          affected.size > state.count() / 10) {
        // self-tuning fallback: past ~10% of groups affected, ONE
        // re-aggregation of the snapshot beats per-group pruned reads
        // plus an InSet over a huge key list (measured, CdfBench at
        // sf0.1 / 50% churn: 15.9 s pruned-recompute vs 1.0 s reagg).
        // The full re-agg covers the null group by itself — no union.
        (materializeMinMax(recomputeFilter(
          TxnTable.read(spark, path, toV)), groupCol, valueCol),
          StepStats(affected.size, live, live))
      } else {
        // the pruned recompute rides the group type's own log-stats
        // read: long bounds for integral groups, binary-lexicographic
        // string bounds for string groups (the s15 contract);
        // `affected` is null-free by construction (the null group is
        // handled via nullRow), so isInCollection stays two-valued
        val pruned = affected.head match {
          case _: String => TxnTable.readPruned(spark, path,
            Seq(Bound.StringIn(groupCol,
              affected.map(_.asInstanceOf[String]))), asOf = toV)
          case _ => TxnTable.readPruned(spark, path,
            Seq(Bound.LongIn(groupCol, affected.map(_.asInstanceOf[Long]))),
            asOf = toV)
        }
        // pruned files can carry null-group rows alongside the
        // affected keys — drop them here or they'd duplicate nullRow
        val recomputed = materializeMinMax(
          recomputeFilter(pruned).filter(col(groupCol).isNotNull),
          groupCol, valueCol)
        (merged.filter(!col(groupCol).isInCollection(affected))
          .unionAll(recomputed).unionAll(nullRow),
          StepStats(affected.size, pruned.inputFiles.length, live,
            pruned.inputFiles.toSeq))
      }
    // lineage truncation matters for CHAINED steps (StreamIvm); a
    // one-shot consumer that immediately materializes (the MV
    // refresh's overwrite) skips the extra job
    (if (checkpointResult) next.localCheckpoint(true) else next, stats)
  }
}
