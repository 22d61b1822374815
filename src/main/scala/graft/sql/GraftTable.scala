package graft.sql

import graft.lake.{ManifestFileIndex, ManifestPruning, SnapshotLakeCatalog}
import graft.lake.SnapshotLakeCatalog.SqlScanState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.SupportsTruncate
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.{OptionalLong, Set => JSet}
import scala.jdk.CollectionConverters._

/** A DSv2 table whose read can (or must) be served by a library-composed
  * DataFrame plan — the contract [[GraftComposedRead]] substitutes on. */
trait GraftComposable {
  def needsComposition: Boolean
  def composedFrame(): DataFrame
}

/** One snapshot-lake table through Spark's DSv2 `Table` face (VERDICT r13
  * #1). Reads plan NATIVELY off the table's Avro manifests — exact file
  * lists, partition/bucket pruning, vectorized parquet, and
  * `KeyGroupedPartitioning` for bucket-transform tables (the
  * storage-partitioned-join handle, VERDICT r13 #2) — whenever the
  * snapshot is representable as plain files: no delete debt, one schema
  * generation, one spec generation. Otherwise [[needsComposition]] holds
  * and [[GraftComposedRead]] (injected by `graft.GraftExtensions`) swaps
  * in the library's proven composed plan (delete anti-joins, rename
  * aliases, promotion casts); without the extensions such a table fails
  * LOUDLY at scan planning rather than reading wrong.
  *
  * Writes ride the V1 fallback ([[InsertableRelation]]): `INSERT INTO` is
  * one [[SnapshotLakeCatalog.append]] snapshot commit, `INSERT OVERWRITE`
  * one `overwrite` — the same commit/rebase semantics as the library
  * faces, because they ARE the library faces.
  *
  * `pinnedSnapshot`: Some(id) for `VERSION AS OF`/`TIMESTAMP AS OF` reads
  * (writes refuse); None reads pin the CURRENT snapshot at load time, so
  * one query never sees two commits. */
class GraftTable(val lake: SnapshotLakeCatalog, catalogName: String,
                 val ns: String, val tableName: String,
                 val pinnedSnapshot: Option[Long])
    extends Table with SupportsRead with SupportsWrite with GraftComposable
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private[sql] lazy val state: SqlScanState =
    lake.sqlScanState(ns, tableName, pinnedSnapshot)

  override def needsComposition: Boolean = state.composed.isDefined

  /** The composed read plan (library load/loadAt), pinned to the SAME
    * snapshot [[state]] planned against. */
  override def composedFrame(): DataFrame =
    if (state.snapshotId >= 0)
      lake.composedFrame(ns, tableName, Some(state.snapshotId))
    else lake.composedFrame(ns, tableName, None)

  override def name(): String = s"$catalogName.$ns.$tableName"
  override def schema(): StructType = state.schema

  override def capabilities(): JSet[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION: the analyzer's MERGE WITH SCHEMA
    // EVOLUTION rule alters the table through THIS catalog (our CAS
    // addColumns/promotion faces), reloads it, and expands star actions
    // against the evolved schema — the lake's additive-evolution
    // contract, surfaced through SQL
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def partitioning(): Array[Transform] =
    state.partFields.map { f =>
      f.transform match {
        case "identity" => Expressions.identity(f.srcName)
        case "day"      => Expressions.days(f.srcName)
        case "month"    => Expressions.months(f.srcName)
        case "hour"     => Expressions.hours(f.srcName)
        case "year"     => Expressions.years(f.srcName)
        case t if t.startsWith("bucket[") =>
          Expressions.bucket(
            t.stripPrefix("bucket[").stripSuffix("]").toInt, f.srcName)
        case t if t.startsWith("truncate[") =>
          Expressions.apply("truncate",
            Expressions.literal(
              t.stripPrefix("truncate[").stripSuffix("]").toInt),
            Expressions.column(f.srcName))
        case other =>
          Expressions.apply(other, Expressions.column(f.srcName))
      }
    }.toArray

  override def properties(): java.util.Map[String, String] =
    (state.properties + ("provider" -> "graft")).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a composed table still hands out a ScanBuilder — planners build
    // scans they never execute (e.g. the pushdown pass under a
    // DeleteFromTable that the metadata-only conversion then replaces);
    // the loud failure moves to EXECUTION (GraftUnreadableScan), so a
    // debt-table DELETE works while an actual extension-less read still
    // fails instead of reading wrong
    if (needsComposition) {
      val msg =
        s"${name()}: the native SQL scan cannot represent this table — " +
          s"${state.composed.get}. Install graft.GraftExtensions " +
          "(spark.sql.extensions) for the composed read, or fold the " +
          "state away (compact())."
      // DEBT-ONLY composition keeps the native builder with its batch
      // face deferred-unreadable: delete files never mask APPENDED rows
      // (sequence scoping), so the micro-batch STREAM of such a table
      // stays native-exact while batch still requires the composed plan
      if (state.composed.contains(SnapshotLakeCatalog.DeleteDebtReason))
        new GraftScanBuilder(SparkSession.active, this, options,
          batchUnreadable = Some(msg))
      else new GraftUnreadableScanBuilder(state.schema, msg)
    } else new GraftScanBuilder(SparkSession.active, this, options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedSnapshot.isEmpty,
      s"${name()}: cannot write to a time-travel (VERSION/TIMESTAMP AS " +
        "OF) relation")
    new GraftWriteBuilder(lake, ns, tableName, info, this)
  }

  // ---- DELETE FROM (row-level, merge-on-read) ----------------------------

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    pinnedSnapshot.isEmpty &&
      filters.forall(GraftFilterColumns.toColumn(_).isDefined)

  /** `DELETE FROM graft.ns.t WHERE ...` lands as ONE merge-on-read
    * snapshot commit ([[SnapshotLakeCatalog.deleteWhereMOR]]): a position
    * delete file over the matched rows, NO data rewrite — the cheap v2
    * delete path whose read-time debt [[SnapshotLakeCatalog.compact]]
    * folds away (until then the SQL scan serves the table through the
    * composed plan). Untranslatable predicates are refused at
    * [[canDeleteWhere]], so Spark fails the statement loudly instead of
    * deleting the wrong rows. */
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val cond = filters.flatMap(GraftFilterColumns.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    lake.deleteWhereMOR(ns, tableName, cond)
  }
}

/** Iceberg-style METADATA TABLES through SQL: `SELECT * FROM
  * graft.ns.t.snapshots|history|files|manifests|partitions|refs` resolves
  * here ([[GraftSqlCatalog.loadTable]] recognizes the 4-part identifier)
  * and reads through [[graft.lake.SnapshotLakeCatalog.metaTable]] via the
  * composed-read substitution — always composed (the faces are computed
  * frames, not parquet), so the extensions are required, same as any
  * debt-carrying table. */
class GraftMetaTable(lake: SnapshotLakeCatalog, catalogName: String,
                     ns: String, tableName: String, kind: String)
    extends Table with SupportsRead with GraftComposable {
  override def needsComposition: Boolean = true
  override def composedFrame(): DataFrame =
    lake.metaTable(ns, tableName, kind)
  override def name(): String = s"$catalogName.$ns.$tableName.$kind"
  // analysis probes schema() repeatedly; building the face once per
  // table instance keeps the manifest reads off that path
  private lazy val cachedSchema: StructType = composedFrame().schema
  override def schema(): StructType = cachedSchema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftUnreadableScanBuilder(schema(),
      s"${name()}: metadata tables read through the composed plan — " +
        "install graft.GraftExtensions (spark.sql.extensions)")
}

/** Branch/tag tables through SQL — Iceberg's identifier convention:
  * `SELECT ... FROM graft.ns.t.branch_audit` reads the branch head (and
  * `.tag_v1` a tag) through the composed read — ref resolution at READ
  * time, so each query sees the ref's current target; `INSERT INTO
  * graft.ns.t.branch_audit ...` STAGES onto the branch
  * ([[graft.lake.SnapshotLakeCatalog.stageAppend]]: advances only
  * `refs[branch]`, readers of the table see nothing until `CALL
  * fast_forward` publishes — the WRITE-AUDIT-PUBLISH loop in pure SQL,
  * with `CALL cherrypick_snapshot`/`dropRef` as the audit verdicts).
  * A fresh branch is born by its first staged INSERT (parent = main's
  * head, Iceberg's implicit branch creation); tags refuse writes. */
class GraftBranchTable(lake: SnapshotLakeCatalog, catalogName: String,
                       ns: String, tableName: String, ref: String,
                       isTag: Boolean)
    extends Table with SupportsRead with SupportsWrite with GraftComposable {
  override def needsComposition: Boolean = true
  override def composedFrame(): DataFrame =
    lake.loadRef(ns, tableName, ref)
  override def name(): String =
    s"$catalogName.$ns.$tableName.${if (isTag) "tag_" else "branch_"}$ref"
  // schema follows the TABLE (additive evolution; a ref pins data, not
  // the schema face) — and stays answerable for an unborn branch whose
  // first INSERT creates it
  private lazy val cachedSchema: StructType =
    lake.sqlScanState(ns, tableName, None).schema
  override def schema(): StructType = cachedSchema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE).asJava
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftUnreadableScanBuilder(schema(),
      s"${name()}: ref reads go through the composed plan — install " +
        "graft.GraftExtensions (spark.sql.extensions)")
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!isTag,
      s"${name()}: tags are immutable — stage onto a branch_* instead")
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                                overwrite: Boolean): Unit = {
              require(!overwrite,
                s"$ns.$tableName.branch_$ref: INSERT OVERWRITE on a " +
                  "staged branch is not a WAP shape — stage appends, " +
                  "audit, then publish or drop the branch")
              lake.stageAppend(ns, tableName, ref, data)
            }
          }
      }
    }
  }
}

/** The deferred-failure scan for tables only the composed plan can read:
  * building succeeds (planner passes probe scans they never run),
  * EXECUTING throws the actionable message. */
class GraftUnreadableScanBuilder(full: StructType, msg: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      throw new UnsupportedOperationException(msg)
    override def createReaderFactory(): PartitionReaderFactory =
      throw new UnsupportedOperationException(msg)
    // streaming has no composed-plan substitution: fail at plan time
    // with the actionable reason, not the generic default
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      throw new UnsupportedOperationException(msg)
  }
}

/** v1 source Filter → Column translation for the DELETE face — exact or
  * nothing (None = not translatable; the statement is refused, never
  * approximated). */
object GraftFilterColumns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col => c, lit}
  import org.apache.spark.sql.sources._

  /** Connector Predicate → v1 Filter, for the runtime-filtering path —
    * only the shapes a DPP subquery emits (IN, comparisons, AND/OR).
    * Literal values stay CATALYST values (UTF8String, epoch-day int,
    * micros long): [[graft.lake.ManifestPruning]] reads them in the
    * column's own domain. */
  def v2ToV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Filter] = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLit, NamedReference}
    def ref(e: VExpr): Option[String] = e match {
      case r: NamedReference => Some(r.fieldNames().mkString("."))
      case _ => None
    }
    def value(e: VExpr): Option[Any] = e match {
      case l: VLit[_] => Some(l.value())
      case _ => None
    }
    val kids = p.children()
    def cmp(mk: (String, Any) => Filter): Option[Filter] =
      if (kids.length != 2) None
      else for (a <- ref(kids(0)); v <- value(kids(1))) yield mk(a, v)
    p.name() match {
      case "IN" if kids.length >= 2 =>
        for (a <- ref(kids(0));
             vs <- Option(kids.drop(1).map(value))
               .filter(_.forall(_.isDefined)))
          yield In(a, vs.map(_.get))
      case "="  => cmp(EqualTo(_, _))
      case ">"  => cmp(GreaterThan(_, _))
      case ">=" => cmp(GreaterThanOrEqual(_, _))
      case "<"  => cmp(LessThan(_, _))
      case "<=" => cmp(LessThanOrEqual(_, _))
      case "AND" =>
        val sub = p.asInstanceOf[
          org.apache.spark.sql.connector.expressions.filter.And]
        for (l <- v2ToV1(sub.left()); r <- v2ToV1(sub.right()))
          yield And(l, r)
      case "OR" =>
        val sub = p.asInstanceOf[
          org.apache.spark.sql.connector.expressions.filter.Or]
        for (l <- v2ToV1(sub.left()); r <- v2ToV1(sub.right()))
          yield Or(l, r)
      case _ => None
    }
  }

  def toColumn(f: Filter): Option[Column] = f match {
    case AlwaysTrue()  => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case EqualTo(a, v)            => Some(c(s"`$a`") === lit(v))
    case EqualNullSafe(a, v)      => Some(c(s"`$a`") <=> lit(v))
    case GreaterThan(a, v)        => Some(c(s"`$a`") > lit(v))
    case GreaterThanOrEqual(a, v) => Some(c(s"`$a`") >= lit(v))
    case LessThan(a, v)           => Some(c(s"`$a`") < lit(v))
    case LessThanOrEqual(a, v)    => Some(c(s"`$a`") <= lit(v))
    case In(a, vs)                => Some(c(s"`$a`").isin(vs.toSeq: _*))
    case IsNull(a)                => Some(c(s"`$a`").isNull)
    case IsNotNull(a)             => Some(c(s"`$a`").isNotNull)
    case StringStartsWith(a, v)   => Some(c(s"`$a`").startsWith(v))
    case StringEndsWith(a, v)     => Some(c(s"`$a`").endsWith(v))
    case StringContains(a, v)     => Some(c(s"`$a`").contains(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r))
      yield lc && rc
    case Or(l, r)  => for (lc <- toColumn(l); rc <- toColumn(r))
      yield lc || rc
    case Not(x)    => toColumn(x).map(!_)
    case _ => None
  }
}

/** Column pruning + v1 filter pushdown over the manifest file list. The
  * pushed filters prune at TWO levels before any byte is read: whole
  * dirs and files via the lake's [[ManifestPruning]] evaluator here,
  * then row groups/pages via the parquet reader they are handed to. All
  * filters stay residual (Spark re-evaluates exactly). */
class GraftScanBuilder(spark: SparkSession, table: GraftTable,
                       options: CaseInsensitiveStringMap =
                         CaseInsensitiveStringMap.empty(),
                       batchUnreadable: Option[String] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = table.state.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val tableCols = table.state.schema.fieldNames.toSet
    pushed = filters.filter(_.references.forall(tableCols.contains))
    filters // all residual: file/row-group pruning is a superset bound
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val st = table.state
    val partNames = st.partitionSchema.fieldNames.toSet
    // readSchema order: data columns first, then identity partition
    // columns — the shape file-source readers emit (each file's
    // partition values appended)
    val reqData = StructType(required.fields.filterNot(f =>
      partNames.contains(f.name)))
    val reqPart = StructType(required.fields.filter(f =>
      partNames.contains(f.name)))
    // DIR tier first — manifest-list field_summary bounds drop whole dirs
    // WITHOUT opening their manifests (planning cost scales with
    // surviving dirs, the 100 TB discipline) — then each file's
    // partition tuple and column bounds
    val pruning = new ManifestPruning(st.schema, st.partFields, pushed.toSeq)
    val files = st.dirEntries.filter(d => pruning.dirCanMatch(d.summaries))
      .flatMap(st.filesOf).filter(f => pruning.fileCanMatch(f.entry))
    new GraftScan(spark, table, reqData, reqPart, pushed, files, options,
      batchUnreadable)
  }
}

/** One planned snapshot scan = its own [[Batch]]: manifest-exact files,
  * planned and read by Spark's own file-source objects
  * ([[GraftScan.filePartitions]], [[GraftScan.readerFactory]]), each
  * file's identity-partition values restored from the manifest loader —
  * and, when the spec is bucket-transform and every file carries its
  * bucket id, `KeyGroupedPartitioning(bucket(N, src))` with one input
  * partition per live bucket, each [[HasPartitionKey]]. Two tables
  * bucketed with the same (N, family) then equi-join with ZERO Exchange
  * once `spark.sql.sources.v2.bucketing.enabled` is on (the catalog
  * resolves `bucket` to [[GraftBucketFunction]] for the compatibility
  * proof). Statistics report manifest-summed bytes/rows so the planner
  * can broadcast a small side without listing a single directory. */
class GraftScan(spark: SparkSession, table: GraftTable,
                reqData: StructType, reqPart: StructType,
                pushed: Array[Filter],
                files: Seq[ManifestFileIndex.LoadedFile],
                options: CaseInsensitiveStringMap =
                  CaseInsensitiveStringMap.empty(),
                batchUnreadable: Option[String] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  private val st = table.state

  /** The post-runtime-filter file view: Spark calls [[filter]] on the
    * executed scan BEFORE [[planInputPartitions]], so a dynamic-partition-
    * pruning subquery (a join whose other side filters a partition-derived
    * column) drops whole files at runtime — the DSv2 analog of DPP. */
  private var liveFiles: Seq[ManifestFileIndex.LoadedFile] = files

  /** Runtime-filterable columns: every partition-spec SOURCE. On the
    * bucket-grouped path the BUCKET source is excluded — shrinking the
    * key-grouped GROUP SET mid-plan would break the reported
    * KeyGroupedPartitioning (the SPJ contract) — but non-bucket sources
    * (e.g. the `days(ts)` of a `(days(ts), bucket(N, id))` table) still
    * runtime-filter: files drop WITHIN their bucket groups and empty
    * groups are retained, so the partitioning report stays exact while
    * a dim-filtered join skips the dropped days' files (VERDICT r14 #3). */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val fields =
      if (bucketGroups.isDefined)
        st.partFields.filterNot(_.transform.startsWith("bucket["))
      else st.partFields
    fields.map(_.srcName).distinct.map(
      org.apache.spark.sql.connector.expressions.Expressions
        .column).toArray
  }

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // conversion is BEST-EFFORT superset pruning: an unconvertible
    // predicate keeps every file (the engine re-applies exactly)
    val pruning = new ManifestPruning(st.schema, st.partFields,
      predicates.flatMap(GraftFilterColumns.v2ToV1).toSeq)
    liveFiles = liveFiles.filter(f => pruning.fileCanMatch(f.entry))
  }

  override def readSchema(): StructType =
    StructType(reqData.fields ++ reqPart.fields)

  override def toBatch: Batch = this

  /** `spark.readStream.table("graft.ns.t")` — incremental snapshot-chain
    * streaming ([[GraftMicroBatchStream]]); the scan's pushed filters and
    * column pruning carry over to every micro-batch. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(spark, table, reqData, reqPart, pushed,
      options)

  override def description(): String =
    s"graft native scan ${table.name()} snapshot=${st.snapshotId} " +
      s"files=${files.length} pushed=${pushed.mkString(",")}"

  override def estimateStatistics(): Statistics = new Statistics {
    // The broadcast-threshold comparison is against IN-MEMORY size, so
    // raw compressed parquet bytes understate the side by the compression
    // ratio (OOM risk on a "small" broadcast). Report the larger of the
    // conf-scaled file bytes (spark.sql.sources.fileCompressionFactor,
    // same knob Spark's file sources honor) and rows × decompressed row
    // width of the schema actually read.
    override def sizeInBytes(): OptionalLong = {
      val factor = org.apache.spark.sql.internal.SQLConf.get
        .fileCompressionFactor
      val scaled = (liveFiles.map(_.file.size).sum * factor).toLong
      val rowEst = rows * math.max(readSchema().defaultSize.toLong, 1L)
      OptionalLong.of(math.max(scaled, rowEst))
    }
    override def numRows(): OptionalLong = OptionalLong.of(rows)
    private def rows = liveFiles.map(_.entry.recordCount).sum
  }

  /** (source, N, files per bucket id) when bucket-grouped planning is on
    * — requires every file to carry an int bucket tuple value. */
  private lazy val bucketGroups
      : Option[(String, Int, Seq[(Int, Seq[ManifestFileIndex.LoadedFile])])] =
    st.bucket.flatMap { case (src, n) =>
      st.partFields.find(_.transform == s"bucket[$n]").flatMap { pf =>
        val keyed = files.map(f => f.entry.partition.collectFirst {
          case (pf.specName, v) => v
        }.flatten.flatMap(_.toIntOption) -> f)
        if (keyed.exists(_._1.isEmpty)) None
        else Some((src, n, keyed.groupBy(_._1.get).view
          .mapValues(_.map(_._2)).toSeq.sortBy(_._1)))
      }
    }

  override def outputPartitioning(): Partitioning = bucketGroups match {
    case Some((src, n, groups)) =>
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(n, src)), groups.size)
    case None => new UnknownPartitioning(liveFiles.length)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // the debt-only BATCH face fails deferred (planners probe scans they
    // never run; the extensions substitute the composed read before any
    // batch execution reaches here) — the STREAM face stays native
    batchUnreadable.foreach(m => throw new UnsupportedOperationException(m))
    bucketGroups match {
      case Some((_, _, groups)) =>
        // KeyGrouped partitions bind to bucket ids — files stay whole and
        // grouped (the SPJ contract); size skew inside a bucket is the
        // layout's own N-vs-data choice. Runtime filters drop files
        // WITHIN groups; a fully-filtered group stays as an EMPTY
        // partition so the group set matches the reported partitioning.
        val live = liveFiles.map(_.file.path).toSet
        groups.zipWithIndex.map { case ((bucketId, fs), i) =>
          new KeyedFilePartition(i, GraftScan.wholeFiles(
            fs.map(_.file).filter(f => live(f.path)), st.partitionSchema,
            reqPart), bucketId): InputPartition
        }.toArray
      case None =>
        GraftScan.filePartitions(spark, liveFiles.map(_.file),
          st.partitionSchema, reqPart).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    batchUnreadable.foreach(m => throw new UnsupportedOperationException(m))
    GraftScan.readerFactory(spark, st, reqData, reqPart, pushed)
  }
}

/** The file-to-task layer the batch scan and the micro-batch stream share,
  * made of Spark's own file-source objects: the manifest files group into
  * [[ManifestFileIndex]] directories, split and pack the way
  * `FileSourceScanExec` plans a parquet relation, and read through the
  * v2 parquet reader factory. */
object GraftScan {

  private def directories(files: Seq[ManifestFileIndex.File],
                          partitionSchema: StructType)
      : Seq[PartitionDirectory] =
    new ManifestFileIndex(files, partitionSchema).listFiles(Nil, Nil)

  /** Each file as byte ranges of at most `maxSplitBytes` (whole when not
    * `isSplitable`), carrying the values of the `reqPart` columns. Parquet
    * row groups align to whichever range holds their midpoint. */
  private def splitFiles(dirs: Seq[PartitionDirectory],
                         partitionSchema: StructType, reqPart: StructType,
                         isSplitable: Boolean,
                         maxSplitBytes: Long): Seq[PartitionedFile] = {
    val pick = reqPart.fieldNames.map(partitionSchema.fieldIndex)
    dirs.flatMap { d =>
      val values = new GenericInternalRow(pick.map(i =>
        d.values.get(i, partitionSchema(i).dataType)))
      d.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
        isSplitable, maxSplitBytes, values))
    }
  }

  /** The files whole, as the bucket-grouped scan reads them. */
  def wholeFiles(files: Seq[ManifestFileIndex.File],
                 partitionSchema: StructType,
                 reqPart: StructType): Array[PartitionedFile] =
    splitFiles(directories(files, partitionSchema), partitionSchema,
      reqPart, isSplitable = false, Long.MaxValue).toArray

  /** Spark's split sizing and packing: `FilePartition.maxSplitBytes`
    * (the smaller of `maxPartitionBytes` and the larger of
    * `openCostInBytes` and bytes per core), ranges largest first, then
    * `FilePartition.getFilePartitions` packs them. */
  def filePartitions(spark: SparkSession, files: Seq[ManifestFileIndex.File],
                     partitionSchema: StructType,
                     reqPart: StructType): Seq[FilePartition] = {
    val dirs = directories(files, partitionSchema)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    FilePartition.getFilePartitions(spark,
      splitFiles(dirs, partitionSchema, reqPart, isSplitable = true, maxSplit)
        .sortBy(-_.length), maxSplit)
  }

  /** The v2 parquet reader factory over the table's files, which hold
    * its columns minus the identity partition columns: vectorized batches
    * when the read schema supports them, rows otherwise. Pushed filters on
    * data columns prune row groups. `ParquetScan` sets the parquet read
    * keys on the Hadoop conf and broadcasts it; the factory never reads
    * its file index, so an empty one stands in. */
  def readerFactory(spark: SparkSession, st: SqlScanState,
                    reqData: StructType, reqPart: StructType,
                    pushed: Array[Filter]): PartitionReaderFactory = {
    val partNames = st.partitionSchema.fieldNames.toSet
    val dataSchema =
      StructType(st.schema.fields.filterNot(f => partNames(f.name)))
    val dataCols = dataSchema.fieldNames.toSet
    ParquetScan(spark, spark.sessionState.newHadoopConf(),
      new InMemoryFileIndex(spark, Nil, Map.empty, None), dataSchema,
      reqData, reqPart, pushed.filter(_.references.forall(dataCols)),
      CaseInsensitiveStringMap.empty()).createReaderFactory()
  }
}

/** A bucket's worth of whole files: `partitionKey` is what
  * `KeyGroupedPartitioning` groups and the SPJ matcher compares. */
class KeyedFilePartition(index: Int, files: Array[PartitionedFile],
                         val bucketId: Int)
    extends FilePartition(index, files) with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** `INSERT INTO` = append, `INSERT OVERWRITE`/`TRUNCATE` = overwrite —
  * through the library's snapshot-commit faces via the V1 write fallback
  * (the incoming DataFrame is already resolved against the table schema;
  * partition layout, manifests, and commit rebase all happen in
  * [[SnapshotLakeCatalog]]). */
class GraftWriteBuilder(lake: SnapshotLakeCatalog, ns: String,
                        table: String, info: LogicalWriteInfo,
                        graftTable: GraftTable)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit =
          if (truncateFirst || overwrite) lake.overwrite(ns, table, data)
          else lake.append(ns, table, data)
      }

    /** `df.writeStream.toTable("graft.ns.t")` — the exactly-once
      * streaming sink ([[GraftStreamingWrite]]). Every SPEC layout
      * streams natively: the fanout writer derives identity, time
      * (`days`/`months`/`hours`/`years`), `truncate[W]`, and
      * `bucket[N]` dir values per row, reproducing the batch writer's
      * Hive layout. */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(lake, ns, table, info.queryId(),
        info.schema(), graftTable.state.partFields, truncateFirst)
  }
}
