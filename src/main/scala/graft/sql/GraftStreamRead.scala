package graft.sql

import graft.lake.{ManifestPruning, SnapshotLakeCatalog}
import graft.lake.SnapshotLakeCatalog.{PartField, SqlDataFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
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
  * cost of its new data. Reads ride the same vectorized parquet closure
  * and file packing as the batch scan ([[GraftParquetRead]]). Per-batch
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
      .filter(pruning.fileCanMatch)
    GraftParquetRead.pack(spark,
      GraftParquetRead.slices(files, reqPart))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val st = table.state
    GraftParquetRead.readerFactory(spark, st.schema, st.partFields,
      reqData, reqPart, pushed)
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.parse(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The file-to-task layer the batch scan and the micro-batch stream
  * share: manifest entries → partition-value-carrying slices → split +
  * greedy-packed input partitions → the vectorized parquet closure. One
  * implementation, so the streaming read inherits every batch-scan
  * discipline (maxPartitionBytes splitting, openCost packing,
  * whole-stage-friendly columnar batches) by construction. */
private[sql] object GraftParquetRead {

  /** Slices with identity-partition values restored from the spec tuple
    * (in the scan's required-partition-column order). */
  def slices(files: Seq[SqlDataFile],
             reqPart: StructType): Array[GraftFileSlice] = {
    val parsers = reqPart.fields.map(pf =>
      pf.name -> ManifestPruning.identityParser(pf.dataType))
    files.map { f =>
      val values: Array[Any] = parsers.map { case (name, parse) =>
        f.partition.get(name).flatten.map(parse).orNull
      }
      GraftFileSlice(f.path, 0L, f.sizeBytes, f.sizeBytes, values)
    }.toArray
  }

  /** Spark's file-source sizing discipline, applied to the manifest list:
    * files larger than `spark.sql.files.maxPartitionBytes` SPLIT into
    * byte ranges (parquet row groups align to whichever range holds their
    * midpoint — the same contract FileSourceScanExec relies on), then
    * ranges GREEDY-PACK largest-first so many small files share one task
    * (`openCostInBytes` padding). Without this, one task per file means a
    * 2 GB file serializes on one core and 10k tiny files cost 10k task
    * launches — both scale killers at 100 TB. */
  def pack(spark: SparkSession,
           all: Array[GraftFileSlice]): Array[InputPartition] = {
    val conf = spark.sessionState.conf
    val maxBytes = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val split = all.flatMap { s =>
      (0L until math.max(1L, s.fileSize) by maxBytes).map(off =>
        s.copy(start = off,
          length = math.min(maxBytes, s.fileSize - off)))
    }
    val packed = Seq.newBuilder[Array[GraftFileSlice]]
    val cur = Seq.newBuilder[GraftFileSlice]
    var curBytes = 0L
    var curN = 0
    split.sortBy(-_.length).foreach { s =>
      val cost = s.length + openCost
      if (curN > 0 && curBytes + cost > maxBytes) {
        packed += cur.result().toArray
        cur.clear(); curBytes = 0L; curN = 0
      }
      cur += s; curBytes += cost; curN += 1
    }
    if (curN > 0) packed += cur.result().toArray
    packed.result()
      .map(fs => new GraftInputPartition(fs): InputPartition).toArray
  }

  /** Executors run the SAME vectorized parquet closure Spark's own file
    * source ships ([[ParquetFileFormat.buildReaderWithPartitionValues]]):
    * whole-stage-friendly columnar batches when the schema supports them,
    * rows otherwise. */
  def readerFactory(spark: SparkSession, tableSchema: StructType,
                    partFields: Seq[PartField], reqData: StructType,
                    reqPart: StructType,
                    pushed: Array[Filter]): PartitionReaderFactory = {
    val identityNames = partFields
      .filter(_.transform == "identity").map(_.srcName).toSet
    val dataSchema = StructType(
      tableSchema.fields.filterNot(f => identityNames.contains(f.name)))
    val dataCols = dataSchema.fieldNames.toSet
    val parquetFilters = pushed
      .filter(_.references.forall(dataCols.contains)).toSeq
    val fmt = new ParquetFileFormat()
    val readSchema = StructType(reqData.fields ++ reqPart.fields)
    val columnar = fmt.supportBatch(spark, readSchema)
    val readFunc = fmt.buildReaderWithPartitionValues(
      spark, dataSchema, reqPart, reqData, parquetFilters,
      // the format requires the caller to declare the batch contract
      // explicitly (it must agree with supportBatch on the same schema)
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> columnar.toString),
      spark.sessionState.newHadoopConfWithOptions(Map.empty))
    GraftReaderFactory(readFunc, columnar)
  }
}
