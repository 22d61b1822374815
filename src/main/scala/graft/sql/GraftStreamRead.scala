package graft.sql

import graft.lake.{ManifestPruning, SnapshotLakeCatalog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A stream position on a graft table: the last snapshot whose appends
  * have been emitted (`-1` = before the first snapshot). Snapshot ids are
  * the table's own commit sequence, so the offset is total-ordered,
  * checkpoint-serializable, and survives restarts for as long as the
  * snapshots do (expiry past an active offset fails the stream loudly —
  * the range is no longer reconstructible). */
class GraftStreamOffset(val snapshotId: Long) extends Offset {
  override def json(): String = s"""{"snapshot-id":$snapshotId}"""
}

object GraftStreamOffset {
  private val Rx = """\{\s*"snapshot-id"\s*:\s*(-?\d+)\s*\}""".r
  def parse(json: String): GraftStreamOffset = json.trim match {
    case Rx(id) => new GraftStreamOffset(id.toLong)
    case other => throw new IllegalArgumentException(
      s"not a graft stream offset: $other")
  }
  def of(o: Offset): GraftStreamOffset = o match {
    case g: GraftStreamOffset => g
    case other => parse(other.json())
  }
}

/** Incremental micro-batch read of a graft snapshot table —
  * `spark.readStream.table("graft.ns.t")` (VERDICT r14: the streaming
  * face of the lake). Offsets are SNAPSHOT IDS; each micro-batch plans
  * exactly the files the snapshots in `(start, end]` appended
  * ([[SnapshotLakeCatalog.sqlAppendSlice]]) — manifest-exact, no
  * directory listing, no table scan, so a 100 TB table streams at the
  * cost of its new data. Batches split, pack and read their files the way
  * the batch scan does ([[GraftScan.filePartitions]],
  * [[GraftScan.readerFactory]]: Spark's own file-source objects). Per-batch
  * FILE pruning (partition-tuple + column-bounds tiers over `pushed`)
  * is plumbed and shared with the batch scan, but Spark's planner
  * builds streaming scans WITHOUT invoking pushFilters (parity with
  * Iceberg's and Kafka's streaming reads — query filters apply above
  * the scan), so today every appended file is read; the spec pins that
  * and flips the day Spark starts pushing.
  *
  * Semantics are Iceberg's streaming read: appends only. Non-append
  * snapshots fail the stream loudly unless skipped by option
  * (`streaming-skip-delete-snapshots` / `streaming-skip-overwrite-
  * snapshots`). Start position: the full history by default,
  * `streaming-start-snapshot-id=<id>` to begin after a known snapshot, or
  * `stream-from-latest=true` for new commits only.
  *
  * Admission control: `maxFilesPerTrigger` / `maxRecordsPerTrigger` pace
  * batches at SNAPSHOT granularity (a snapshot's appends are atomic —
  * splitting one across batches would tear a commit) using the snapshot
  * summary rollups, no manifest reads on the pacing path. At least one
  * snapshot always admits, so an oversized commit still progresses.
  * `Trigger.AvailableNow` pins the end offset at start
  * ([[SupportsTriggerAvailableNow]]) and drains up to it in paced
  * batches. */
class GraftMicroBatchStream(spark: SparkSession, table: GraftTable,
                            reqData: StructType, reqPart: StructType,
                            pushed: Array[Filter],
                            options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val lake = table.lake
  private val ns = table.ns
  private val tableName = table.tableName
  private val skipDeletes =
    options.getBoolean("streaming-skip-delete-snapshots", false)
  private val skipOverwrites =
    options.getBoolean("streaming-skip-overwrite-snapshots", false)
  private val maxFilesOpt =
    Option(options.get("maxFilesPerTrigger")).map(_.toInt)
  private val maxRecordsOpt =
    Option(options.get("maxRecordsPerTrigger")).map(_.toLong)

  require(table.pinnedSnapshot.isEmpty,
    s"${table.name()}: a time-travel (VERSION/TIMESTAMP AS OF) relation " +
      "is a fixed snapshot — nothing to stream")

  /** `Trigger.AvailableNow` ceiling: latestOffset never advances past it
    * once prepare() pinned the current snapshot. */
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(currentId())

  private def currentId(): Long =
    lake.streamSnapshots(ns, tableName, -1L).lastOption.map(_.id)
      .getOrElse(-1L)

  override def initialOffset(): Offset = {
    val start = Option(options.get("streaming-start-snapshot-id")) match {
      case Some(id) => id.toLong
      case None =>
        if (options.getBoolean("stream-from-latest", false)) currentId()
        else -1L
    }
    new GraftStreamOffset(start)
  }

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesOpt, maxRecordsOpt) match {
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case (Some(f), Some(r)) =>
        ReadLimit.compositeLimit(
          Array(ReadLimit.maxFiles(f), ReadLimit.maxRows(r)))
      case _ => ReadLimit.allAvailable()
    }

  /** Flatten a (possibly composite) limit to (maxFiles, maxRows) caps. */
  private def caps(limit: ReadLimit): (Option[Int], Option[Long]) =
    limit match {
      case f: ReadMaxFiles => (Some(f.maxFiles()), None)
      case r: ReadMaxRows => (None, Some(r.maxRows()))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(caps).reduce { (a, b) =>
          (a._1.orElse(b._1), a._2.orElse(b._2))
        }
      case _: ReadAllAvailable => (None, None)
      case _ => (None, None) // unknown limit kinds admit everything
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = GraftStreamOffset.of(start).snapshotId
    var chain = lake.streamSnapshots(ns, tableName, from)
    availableNowEnd.foreach(ceil => chain = chain.takeWhile(_.id <= ceil))
    if (chain.isEmpty) return new GraftStreamOffset(from)
    val (maxFiles, maxRows) = caps(limit)
    // admission is a PREFIX of the chain (offsets are totally ordered):
    // stop at the first snapshot that would burst a cap. A snapshot is
    // atomic — admit it whole — and the FIRST one always admits, so an
    // oversized commit cannot stall the stream.
    var end = from; var files = 0L; var rows = 0L; var admitted = 0
    chain.takeWhile { sn =>
      val ok = admitted == 0 ||
        (maxFiles.forall(files + sn.addedFiles <= _) &&
          maxRows.forall(rows + sn.addedRecords <= _))
      if (ok) {
        files += sn.addedFiles; rows += sn.addedRecords
        end = sn.id; admitted += 1
      }
      ok
    }
    new GraftStreamOffset(end)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this stream " +
        "(SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset =
    new GraftStreamOffset(currentId())

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val from = GraftStreamOffset.of(start).snapshotId
    val to = GraftStreamOffset.of(end).snapshotId
    if (from == to) return Array.empty
    val st = table.state
    val pruning = new ManifestPruning(st.schema, st.partFields, pushed.toSeq)
    val files = lake
      .sqlAppendSlice(ns, tableName, from, to, skipDeletes, skipOverwrites)
      .filter(f => pruning.fileCanMatch(f.entry))
    GraftScan.filePartitions(spark, files.map(_.file), st.partitionSchema,
      reqPart).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftScan.readerFactory(spark, table.state, reqData, reqPart, pushed)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.parse(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
