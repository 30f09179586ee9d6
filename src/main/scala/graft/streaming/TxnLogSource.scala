package graft.streaming

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured-Streaming source over a [[graft.core.TxnTable]] COMMIT
  * LOG: each micro-batch emits one `(version, op)` row per commit that
  * landed since the last processed offset — the signal a continuous
  * change consumer (incremental view maintenance, downstream CDC)
  * follows. Offsets ARE versions, checkpointed by the engine, so a
  * restarted query resumes exactly after the last version it handled.
  *
  * Deliberately metadata-only: the heavy change DATA is read inside the
  * consumer's `foreachBatch` via [[graft.core.TxnTable.diffVersionsImages]]
  * — a distributed, file-scoped job over exactly the batch's version
  * range — while this source stays O(commits) tiny. (Shipping the
  * image rows through the source itself would funnel table data
  * through single-partition readers; signal-via-source +
  * data-via-batch-job is the scalable split.)
  *
  * Usage: `spark.readStream.format(classOf[TxnLogSourceProvider].getName)
  * .option("path", table).load()` — or [[StreamIvm.changesStream]].
  */
class TxnLogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TxnLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "txn-log source requires .option(\"path\", <table root>)")
    new TxnLogTable(path, Option(properties.get("startingVersion")))
  }
}

object TxnLogSource {
  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType, nullable = false)))
}

private[streaming] class TxnLogTable(path: String,
    startingVersion: Option[String] = None)
    extends Table with SupportsRead {
  override def name(): String = s"txnlog(`$path`)"
  override def schema(): StructType = TxnLogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TxnLogSource.schema
        override def toMicroBatchStream(loc: String): MicroBatchStream =
          new TxnLogMicroBatchStream(path, startingVersion)
      }
    }
}

private[streaming] case class TxnLogOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private[streaming] case class TxnLogPartition(path: String, fromExcl: Long,
    toIncl: Long) extends InputPartition

private[streaming] class TxnLogMicroBatchStream(path: String,
    startingVersion: Option[String] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import graft.core.TxnTable

  // AvailableNow freezes the target offset at query start, so the run
  // drains exactly the commits that existed then and terminates even
  // while writers keep committing
  @volatile private var frozen: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    frozen = Some(TxnTable.currentVersion(path))

  override def latestOffset(): Offset =
    TxnLogOffset(frozen.getOrElse(TxnTable.currentVersion(path)))
  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): no
  // rate limiting — a batch of commit METADATA rows is always tiny
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = latestOffset()
  /** Where a FRESH checkpoint starts (resumed queries use their
    * checkpointed offset instead — Spark only calls this once). The
    * Delta-CDF `startingVersion` contract: absent → the table's whole
    * history from v0 (a 100 TB initial load IS the feed's first
    * range); a version `s` → first emitted commit is `s`; `"latest"`
    * → only commits that land AFTER stream creation, i.e. tail-follow
    * with ZERO historical replay — the scale path for "changes from
    * now on". */
  override def initialOffset(): Offset = TxnLogOffset(
    startingVersion match {
      case None => -1L
      case Some(s) if s.equalsIgnoreCase("latest") =>
        TxnTable.currentVersion(path)
      case Some(s) => s.toLong - 1L
    })
  override def deserializeOffset(json: String): Offset =
    TxnLogOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[TxnLogOffset].v
    val e = end.asInstanceOf[TxnLogOffset].v
    if (e <= s) Array.empty
    else Array(TxnLogPartition(path, s, e))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    TxnLogReaderFactory
}

private[streaming] object TxnLogReaderFactory extends PartitionReaderFactory {
  import graft.core.TxnTable

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TxnLogPartition]
    new PartitionReader[InternalRow] {
      private var v = p.fromExcl
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (v >= p.toIncl) return false
        v += 1
        // the reader runs without a SparkSession; the log is a tiny
        // JSON per version on the shared table filesystem
        row = new GenericInternalRow(Array[Any](v,
          UTF8String.fromString(TxnTable.commitInfo(p.path, v).op)))
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
