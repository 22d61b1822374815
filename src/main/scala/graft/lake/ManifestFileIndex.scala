package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, GenericInternalRow, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** A Spark [[FileIndex]] built from manifest entries alone: each file's
  * path, its manifest `file_size_in_bytes` and its identity-partition
  * values. Nothing here touches storage — no existence check, no
  * listing, no `getFileStatus` — which is the Iceberg reader contract
  * (the manifest IS the file list) that `spark.read.parquet` over the
  * same paths breaks: it stats every file and, above 32 paths, launches
  * a parallel listing job.
  *
  * The recorded size is a read binding, not a hint: the parquet reader
  * locates the footer from it.
  *
  * [[listFiles]] applies `partitionFilters` exactly — Spark's
  * `FileSourceStrategy` drops partition-only predicates from the
  * post-scan filter, so a missed filter would return wrong rows; this
  * is also where dynamic partition pruning lands at run time.
  *
  * Files carry no modification time (a manifest records none), so
  * `_metadata.file_modification_time` reads the epoch,
  * `1970-01-01 00:00:00 UTC`, for every file.
  *
  * Equality is the file set and the partition schema: two reads of one
  * snapshot build equal relations, so `CacheManager` matches them. */
final class ManifestFileIndex(files: Seq[ManifestFileIndex.File],
                              override val partitionSchema: StructType)
    extends FileIndex {
  import ManifestFileIndex._

  /** One directory per distinct partition tuple, in first-seen order. */
  private lazy val partitions: Seq[PartitionDirectory] = {
    val groups = mutable.LinkedHashMap
      .empty[Seq[Any], mutable.ArrayBuffer[FileStatusWithMetadata]]
    files.foreach(f => groups.getOrElseUpdate(f.values,
      mutable.ArrayBuffer.empty) += FileStatusWithMetadata(
        new FileStatus(f.size, false, 0, 0L, 0L, f.path), Map.empty))
    groups.map { case (values, fs) =>
      PartitionDirectory(new GenericInternalRow(values.toArray), fs.toSeq)
    }.toSeq
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val names = partitionSchema.fieldNames
      val keep = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = names.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      keep.initialize(0)
      partitions.filter(p => keep.eval(p.values))
    }

  override def rootPaths: Seq[HPath] =
    files.map(_.path.getParent).distinct

  override def inputFiles: Array[String] = files.map(_.uri).toArray

  /** Manifests are immutable: there is nothing to refresh. */
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.size).sum

  private lazy val fileSet: Set[String] = files.map(_.uri).toSet

  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex =>
      m.partitionSchema == partitionSchema && m.fileSet == fileSet
    case _ => false
  }

  override lazy val hashCode: Int = (fileSet, partitionSchema).##
}

object ManifestFileIndex {

  /** One manifest entry as the index needs it: the qualified path, the
    * recorded size, and the Catalyst values of the index's partition
    * columns, in schema order. */
  case class File(path: HPath, size: Long, values: Seq[Any]) {
    /** `file:` plus the URI-encoded path — the string Spark's own listing
      * gives `_metadata.file_path`, which position deletes bind to. */
    def uri: String = path.toUri.toString
  }

  /** What the manifest loader gives per file: the manifest entry (rows,
    * partition tuple, bounds, NaN counts) and its index [[File]]. The SQL
    * faces prune on the entry and sum its rows; a library relation keeps
    * only the File. */
  case class LoadedFile(entry: AvroManifests.DataFileEntry, file: File)

  /** A manifest entry's local path, qualified the way Spark's listing
    * qualifies it. */
  def qualify(path: String): HPath =
    new HPath("file", null,
      java.nio.file.Path.of(path).toAbsolutePath.toString)
}
