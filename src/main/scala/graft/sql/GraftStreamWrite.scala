package graft.sql

import graft.lake.{ManifestPruning, SnapshotLakeCatalog}
import graft.lake.SnapshotLakeCatalog.PartField
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** One committed task's output: the files it wrote and their row
  * counts (several when the target is partitioned — the fanout writer
  * opens one file per partition value it encounters). */
case class GraftFilesMessage(files: Seq[(String, Long)])
    extends WriterCommitMessage

/** The native streaming SINK of the lake —
  * `df.writeStream.toTable("graft.ns.t")` — closing the loop the
  * micro-batch read opened: a lake table is both a streaming source and
  * a streaming sink through plain Spark SQL surfaces, no foreachBatch
  * glue.
  *
  * Exactly-once: executors write parquet into a fresh per-epoch-attempt
  * directory (Spark's commit coordinator picks one winner per partition;
  * losers abort and delete their files), then
  * [[SnapshotLakeCatalog.commitStreamingEpoch]] publishes the directory
  * as ONE snapshot and records the epoch marker in the SAME atomic
  * metadata swap — a replayed epoch after a restart finds the marker and
  * publishes nothing. Files from crashed attempts whose abort never ran
  * are pruned against the coordinated winner list before the manifest
  * scan. Output mode `append` commits append snapshots; `complete`
  * (truncate) makes each epoch an overwrite snapshot.
  *
  * Partitioned targets write through a FANOUT writer: each task routes
  * rows into one file per partition TUPLE under the snapshot dir's Hive
  * `k=v` layout — the same strings the batch writer's derive pass
  * produces (identity values; `date_format` patterns for
  * day/month/hour/year in the session timezone; `substring`/`v - pmod`
  * for truncate; the spec murmur3 hash for bucket via
  * [[graft.functions.IcebergBucket]]) — so manifests, pruning,
  * partition-value restore, and bucket-grouped (SPJ) reads work
  * unchanged. Identity partition columns stay OUT of the data files,
  * exactly as the batch path writes them; transform sources stay in.
  * Only legacy writeBucketed whole-table clustering refuses (a
  * frame-level repartition, not a per-row derive).
  *
  * Scale shape: the write path is executor-parallel parquet (the same
  * `ParquetFileFormat` write support Spark's own file sink uses,
  * vectorizable downstream); the driver handles only the commit —
  * manifest from footer stats, one CAS swap per epoch. An epoch's cost
  * is its own rows; table size never enters. Fanout holds one open
  * writer per live partition tuple per task — pre-shuffle the stream by
  * the partition source (`df.repartition(col)`) if tuples per task grow
  * large, the same discipline Iceberg's fanout writers document. */
class GraftStreamingWrite(lake: SnapshotLakeCatalog, ns: String,
                          table: String, queryId: String,
                          schema: StructType,
                          partFields: Seq[PartField],
                          replaceEach: Boolean)
    extends StreamingWrite {

  /** The current epoch attempt's directory — assigned when Spark builds
    * the epoch's writer factory (once per micro-batch, just before its
    * execution; micro-batches of one query run strictly one at a time).
    * Fresh per ATTEMPT: a replayed epoch writes into its own directory
    * and the commit-time marker decides whether it publishes. */
  @volatile private var epochDir: String = _

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    epochDir =
      s"stream-${System.nanoTime()}-${java.util.UUID.randomUUID()}"
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // only IDENTITY sources leave the data files (their values restore
    // from the dir tuple at read time); transform sources stay in
    val identityCols = partFields.filter(_.transform == "identity")
      .map(_.srcName).toSet
    val dataSchema = StructType(
      schema.fields.filterNot(f => identityCols.contains(f.name)))
    // the same write support Spark's file sink ships — carries the
    // session's parquet conf (compression, TIMESTAMP_MICROS output type
    // = the lake's stats-bearing default) into the serialized job conf
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, dataSchema)
    new GraftStreamingDataWriterFactory(
      lake.streamingDir(ns, table, epochDir).toString, schema,
      partFields.map(f => GraftFanoutField(f.specName, f.transform,
        schema.fieldIndex(f.srcName), f.srcType)),
      spark.sessionState.conf.sessionLocalTimeZone, factory,
      new SerializableConfiguration(job.getConfiguration))
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages
      .collect { case m: GraftFilesMessage => m.files }.flatten
    if (files.isEmpty || files.forall(_._2 == 0L)) {
      // an empty epoch publishes nothing (and leaves the marker alone:
      // replaying an empty epoch is itself a no-op)
      abort(epochId, messages)
      return
    }
    lake.commitStreamingEpoch(ns, table, queryId, epochId, epochDir,
      files.map(_._1).toSet, replaceEach)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val dir = lake.streamingDir(ns, table, epochDir)
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(dir))(
        _.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.toSeq)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}

/** One partition field as the fanout writer derives it: the spec field
  * name (= the Hive dir key), the spec transform, and the SOURCE
  * column's ordinal + type in the write schema. */
case class GraftFanoutField(specName: String, transform: String,
                            srcIdx: Int, srcType: DataType)

/** Executor side: parquet through Spark's own [[OutputWriterFactory]].
  * Unpartitioned targets write one file per task; partitioned targets
  * FAN OUT — one file per partition tuple the task sees, each dir value
  * derived per row to match the batch writer's strings byte for byte
  * (see [[GraftStreamingWrite]]). Task abort deletes every file the
  * task opened, so only commit-coordinated winners survive for the
  * driver's manifest. */
class GraftStreamingDataWriterFactory(dir: String, schema: StructType,
                                      parts: Seq[GraftFanoutField],
                                      zoneId: String,
                                      factory: OutputWriterFactory,
                                      conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val tac = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft-stream", 0),
        TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))
    val identityIdx = parts.filter(_.transform == "identity")
      .map(_.srcIdx).toSet
    val dataFields = schema.fields.zipWithIndex
      .filterNot { case (_, i) => identityIdx.contains(i) }
    val dataSchema = StructType(dataFields.map(_._1))
    val project = UnsafeProjection.create(dataFields.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    })

    // the batch writer's dir strings, derived per row by the lake's one
    // per-value derivation (the pruning evaluator derives literals with
    // it too); one closure per field, built ONCE
    val derivers: Seq[(GraftFanoutField, Any => String)] =
      parts.map(f => f -> ManifestPruning.deriver(f.transform, f.srcType,
        java.time.ZoneId.of(zoneId)))

    new DataWriter[InternalRow] {
      private val open =
        scala.collection.mutable.LinkedHashMap
          .empty[String, (OutputWriter, Array[Long])]

      private def writerFor(row: InternalRow): (OutputWriter, Array[Long]) = {
        val segs = derivers.map { case (f, derive) =>
          val v =
            if (row.isNullAt(f.srcIdx)) "__HIVE_DEFAULT_PARTITION__"
            else ExternalCatalogUtils.escapePathName(
              derive(row.get(f.srcIdx, schema.fields(f.srcIdx).dataType)))
          s"${ExternalCatalogUtils.escapePathName(f.specName)}=$v"
        }
        val sub = if (segs.isEmpty) "" else segs.mkString("", "/", "/")
        open.getOrElseUpdate(sub, {
          val path = s"$dir/${sub}part-$epochId-$partitionId-" +
            s"${java.util.UUID.randomUUID()}" +
            factory.getFileExtension(tac)
          (factory.newInstance(path, dataSchema, tac), Array(0L))
        })
      }

      override def write(record: InternalRow): Unit = {
        val (w, n) = writerFor(record)
        w.write(project(record))
        n(0) += 1
      }

      override def commit(): WriterCommitMessage = {
        val files = open.values.map { case (w, n) =>
          w.close(); (w.path(), n(0))
        }.toSeq
        open.clear()
        GraftFilesMessage(files)
      }

      override def abort(): Unit = {
        open.values.foreach { case (w, _) =>
          w.close()
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Path.of(w.path()))
        }
        open.clear()
      }

      override def close(): Unit = ()
    }
  }
}
