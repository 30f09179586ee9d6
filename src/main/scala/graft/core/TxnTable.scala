package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, FileAlreadyExistsException}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.crawler.SkippingIndex.FileStats

/** One data file added by a commit. `stats` is the file's write-time
  * column statistics as compact JSON
  * (`{"cols":[…],"l":{col:[mn,mx]},"s":{col:[mn,mx]}}` — the leaf
  * columns attempted, long bounds in the column's PHYSICAL footer
  * space, and UTF8 string bounds), a pure cache of what a read-time
  * footer index would compute: pruned reads plan from the log alone,
  * zero footer opens. Absent on adds written before stats-in-log —
  * those files fall back to footer reads. */
case class TxnAdd(path: String, rows: Long, bytes: Long,
    stats: Option[String] = None)

/** One committed version: the actions that produced it. `schema` is the
  * table schema as of this commit (JSON), recorded on create and on
  * explicit evolution; absent otherwise. `dvs` are DELETION-VECTOR
  * reassignments: (data file, DV file) pairs stating that from this
  * version on, the data file's logical rows are its physical rows MINUS
  * the positions listed in the DV file (merge-on-read delete — the data
  * file itself is untouched). A commit that re-adds or removes a data
  * file implicitly clears its DV. */
case class TxnCommit(
    version: Long,
    op: String,
    adds: Seq[TxnAdd],
    removes: Seq[String],
    schema: Option[String] = None,
    dvs: Seq[(String, String)] = Nil)

/** MERGE INTO matched-clause ADT (SQL MERGE / the Delta DSL): clauses
  * are evaluated in the order given, first clause whose condition fires
  * claims the row. Conditions and update expressions may reference the
  * target's columns by name and the source row's via
  * [[TxnTable.srcCol]]. */
sealed trait MergeMatched
/** WHEN MATCHED [AND cond] THEN UPDATE SET … (per-column expressions,
  * each cast to the column's existing type). */
case class MatchedUpdate(set: Map[String, Column],
    cond: Option[Column] = None) extends MergeMatched
/** WHEN MATCHED [AND cond] THEN DELETE. */
case class MatchedDelete(cond: Option[Column] = None) extends MergeMatched
/** WHEN NOT MATCHED [AND cond] THEN INSERT (values reference source
  * columns via [[TxnTable.srcCol]]; unspecified table columns get
  * NULL). Multiple clauses apply first-fire-wins per source row. */
case class NotMatchedInsert(values: Map[String, Column],
    cond: Option[Column] = None)

/** WHEN NOT MATCHED BY SOURCE clauses: applied to TARGET rows whose
  * key has no source match (the third leg of SQL MERGE — with it a
  * single statement expresses full-sync CDC: source drives inserts,
  * updates, AND deletes of rows it no longer carries). Conditions and
  * SET expressions see TARGET columns only; ordered first-fire-wins
  * like WHEN MATCHED. */
sealed trait MergeBySource
case class BySourceUpdate(set: Map[String, Column],
    cond: Option[Column] = None) extends MergeBySource
case class BySourceDelete(cond: Option[Column] = None) extends MergeBySource

/** A minimal transactional table format: snapshot-versioned parquet with
  * an append-only JSON commit log — the ACID layer the plain-directory
  * lake lacks (SURVEY.md residual gap; Compactor's swap and SnapshotDiff
  * were the seeds).
  *
  * Layout: immutable data files under `table/data/`, and one commit
  * per version in the commit log, whose file names and format only
  * [[TxnLog]] knows.
  *
  * Properties, each pinned by TxnTableSpec or the s13 gate:
  *  - **Atomic commit / optimistic concurrency**: a commit is staged to
  *    a temp file and published create-exclusive ([[Store.putIfAbsent]],
  *    POSIX link(2) locally)
  *    is create-exclusive, so exactly ONE writer wins a version; losers
  *    see [[TxnConflictException]] and retry against the new snapshot.
  *    (On an object store this primitive becomes a conditional PUT /
  *    putIfAbsent; the protocol is unchanged.)
  *  - **Snapshot isolation**: data files are immutable and never deleted
  *    by commits (remove = logical). A reader of version N resolves its
  *    file list from the log prefix ≤ N and is unaffected by concurrent
  *    appends, deletes, or compaction.
  *  - **Time travel**: `read(spark, path, asOf = N)`.
  *  - **Delete/compact as rewrites**: `deleteWhere` rewrites only the
  *    files that contain matching rows (file-level pruning via one
  *    file-tagged probe pass); `compact` folds the current snapshot
  *    into fewer files; both are ordinary commits.
  *
  * Scale notes: the log is metadata — O(1) JSON per commit. All state
  * a version determines (live files, DVs, schema, constraints,
  * properties, stream marks, ingested sources, add metadata, vacuum
  * horizon) is one immutable [[Snapshot]], folded commit by commit.
  * Every `CheckpointInterval`-th commit also writes that snapshot as a
  * checkpoint, so resolving a version lists the log once and replays
  * at most `CheckpointInterval` commits past the nearest checkpoint —
  * or fewer past the per-table memo of the highest version resolved
  * so far, so a read of an unchanged head reads no commit at all.
  * Checkpoints are derived data: written best-effort by the commit
  * winner, idempotent by content, and a missing, corrupt or
  * old-format one only costs a replay from the next older one
  * (counted in [[CheckpointFallbacks]]). Data-file work (rewrite,
  * compaction) is Spark jobs over only the affected files.
  */
object TxnTable extends TxnLog with TxnReads with TxnDml
    with TxnMaintenance with TxnMetadata
