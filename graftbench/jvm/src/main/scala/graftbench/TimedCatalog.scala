package graftbench

import java.nio.file.{Files, Path}
import graft.lake.DirectoryLakeCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** graft's directory catalog with a `lake` span around `ensureTable`,
  * `append` and `load`. Every call is forwarded unchanged. */
final class TimedCatalog(spark: SparkSession, root: Path, tracer: Tracer)
    extends DirectoryLakeCatalog(spark, root) {

  override def ensureTable(ns: String, table: String, schema: StructType,
                           partitionBy: Seq[String]): Unit =
    tracer.span("lake", "ensureTable")(super.ensureTable(ns, table, schema, partitionBy))

  override def append(ns: String, table: String, df: DataFrame,
                      options: Map[String, String]): Unit =
    tracer.span("lake", "append")(super.append(ns, table, df, options))

  override def load(ns: String, table: String): DataFrame =
    tracer.span("lake", "load")(super.load(ns, table))

  /** Files and bytes on disk under a namespace, split into data and
    * metadata, read straight from the directory tree. */
  def footprint(ns: String): TimedCatalog.Footprint = {
    val dir = root.resolve(ns)
    if (!Files.isDirectory(dir)) TimedCatalog.Footprint(0, 0, 0)
    else scala.util.Using.resource(Files.walk(dir)) { paths =>
      val files = paths.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val (meta, data) = files.partition(p => dir.relativize(p).toString.split('/').contains("metadata"))
      val dataFiles = data.filter(_.getFileName.toString.endsWith(".parquet"))
      TimedCatalog.Footprint(dataFiles.size, dataFiles.map(Files.size).sum, meta.map(Files.size).sum)
    }
  }
}

object TimedCatalog {
  final case class Footprint(dataFiles: Long, dataBytes: Long, metadataBytes: Long)
}
