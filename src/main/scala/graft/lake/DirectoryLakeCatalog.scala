package graft.lake

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Filesystem-rooted [[SnapshotLakeCatalog]]: tables live under
  * `<root>/<namespace>/<table>/` with parquet data in per-snapshot
  * directories and versioned Iceberg-style metadata JSON — the layout of
  * Iceberg's HadoopCatalog (`metadata/v<N>.metadata.json` +
  * `metadata/version-hint.text`, public Iceberg spec), which is what the
  * reference's REST catalog serves over HTTP
  * (`/root/reference/target_iceberg/sinks.py:55-65`).
  *
  * This is the second, independent implementation of the trait — it shares
  * no machinery with [[SessionLakeCatalog]] beyond [[SchemaShape]]'s drift
  * rule, and the spec matrix (`LakeCatalogMatrixSpec`) runs the full
  * lifecycle contract against every implementation, proving the trait
  * isolation SURVEY §7.0 claims: a catalog that stores its own metadata (as
  * a real Iceberg/REST catalog does) plugs in behind the same surface with
  * zero loader changes.
  *
  * The carrier (commit semantics and lifecycle live in
  * [[SnapshotLakeCatalog]]): the commit point is an atomic LINK-CLAIM of
  * the next version slot (HadoopTableOperations' design, with link(2) as
  * the CAS primitive). Metadata is fully written to a hidden tmp file, then
  * hard-linked to `v<N>.metadata.json` — link(2) either publishes the
  * complete content under the version name or fails with EEXIST because a
  * concurrent writer claimed the slot first, atomically (a plain rename
  * would silently replace the winner — rename(2) clobbers, and
  * `Files.move` without options is check-then-rename). `version-hint.text`
  * is a read optimization written AFTER the claim; readers probe upward
  * from the hint ([[currentVersion]]), so a writer dying between claim and
  * hint flip delays nobody and loses nothing. The atomic-link assumption
  * is the same class HadoopCatalog documents for rename — object stores
  * without atomic link/rename need a real catalog's server-side CAS
  * ([[RestLakeCatalog]]).
  */
class DirectoryLakeCatalog(spark: SparkSession, val root: Path)
    extends SnapshotLakeCatalog(spark) {

  private def nsDir(ns: String): Path = root.resolve(ns)
  private def metaDir(ns: String, table: String): Path =
    nsDir(ns).resolve(table).resolve("metadata")
  override protected def dataDir(ns: String, table: String): Path =
    nsDir(ns).resolve(table).resolve("data")

  override def ensureNamespace(ns: String): Unit =
    Files.createDirectories(nsDir(ns))

  override def dropNamespace(ns: String): Unit = deleteTree(nsDir(ns))

  override def namespaceNames(): Seq[String] =
    if (!Files.isDirectory(root)) Seq.empty
    else scala.util.Using.resource(Files.list(root))(
      _.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          !p.getFileName.toString.startsWith("."))
        .map(_.getFileName.toString).toSeq.sorted)

  override def tableNames(ns: String): Seq[String] =
    if (!Files.isDirectory(nsDir(ns))) Seq.empty
    else scala.util.Using.resource(Files.list(nsDir(ns)))(
      _.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          !p.getFileName.toString.startsWith("."))
        .map(_.getFileName.toString).toSeq.sorted)
      .filter(t => tableExists(ns, t))

  override def dropTable(ns: String, table: String): Boolean =
    if (!tableExists(ns, table)) false
    else { deleteTree(nsDir(ns).resolve(table)); true }

  /** RENAME TABLE (VERDICT r14 #4) — the HadoopCatalog-layout rename:
    * MOVE the table directory (one rename(2) on a posix filesystem),
    * then rewrite every stored absolute path under the new root — the
    * metadata JSON versions (location, manifest-list, metadata-log), the
    * metadata Avro files (manifest_path / data_file.file_path, rewritten
    * under each file's own embedded schema), and the POSITION-DELETE
    * parquet files (their `file_path` column binds rows to data files by
    * absolute path). Equality deletes carry no paths. Data parquet is
    * never rewritten — cost is metadata size + delete debt, not table
    * size.
    *
    * NOT concurrent-safe: a reader or writer racing the rename fails
    * LOUDLY on vanished paths (never reads wrong); coordinate renames
    * like any other DDL. The REST carrier refuses (rename is the
    * server's operation). */
  def renameTable(ns: String, table: String,
                  toNs: String, toTable: String): Unit = {
    require(tableExists(ns, table), s"no such table: $ns.$table")
    require(!(ns == toNs && table == toTable),
      s"RENAME $ns.$table to itself")
    ensureNamespace(toNs)
    val newRoot = nsDir(toNs).resolve(toTable)
    require(!Files.exists(newRoot),
      s"rename target $toNs.$toTable already exists")
    val oldRoot = nsDir(ns).resolve(table)
    val oldPrefix = oldRoot.toString
    // position-delete dirs, collected BEFORE the move (reading the old
    // metadata), deduped across every snapshot (time travel keeps them)
    val preMeta = readMeta(ns, table)
    val posDirs = preMeta.get("snapshots").elements().asScala
      .flatMap(deleteFilesOf).filter(_.kind == "position")
      .map(_.dir).toSeq.distinct

    Files.move(oldRoot, newRoot)
    forgetDirSchemas(oldRoot)
    val newPrefix = newRoot.toString
    val md = newRoot.resolve("metadata")

    // metadata JSON versions: every stored path shares the table-root
    // prefix; a textual prefix swap covers location, manifest-list and
    // metadata-log entries across ALL versions (time travel included)
    scala.util.Using.resource(Files.list(md))(_.iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.metadata\\.json"))
      .toSeq).foreach { f =>
      val txt = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      Files.write(f,
        txt.replace(oldPrefix, newPrefix).getBytes(StandardCharsets.UTF_8))
    }
    // position-delete parquet: rows bind to data files by absolute
    // _metadata.file_path URI ("file:/..."), so the old root appears
    // INSIDE the value — literal substring replace. Each part file is
    // rewritten IN PLACE under its OWN NAME (the dir's manifest lists
    // the part files by path; renaming them would orphan the manifest).
    // Its byte size changes, and readers locate the footer from the
    // manifest's file_size_in_bytes: the new sizes go into the manifest
    // rewrite below.
    val sizes = posDirs.flatMap { d =>
      val dir = newRoot.resolve("data").resolve(d)
      if (!Files.isDirectory(dir)) Nil
      else {
        import org.apache.spark.sql.functions.{col, lit, regexp_replace}
        val parts = scala.util.Using.resource(Files.list(dir))(
          _.iterator().asScala.filter(
            _.getFileName.toString.endsWith(".parquet")).toSeq)
        parts.map { f =>
          val tmp = Files.createTempDirectory(newRoot, ".rename-del-")
          writerOf(fileFrame(f)
            .withColumn("file_path", regexp_replace(col("file_path"),
              lit(java.util.regex.Pattern.quote(oldPrefix)),
              lit(java.util.regex.Matcher.quoteReplacement(newPrefix))))
            .coalesce(1).sortWithinPartitions("file_path", "pos"))
            .parquet(tmp.resolve("out").toString)
          val out = scala.util.Using.resource(
            Files.walk(tmp))(_.iterator().asScala.filter(p =>
              Files.isRegularFile(p) &&
                p.getFileName.toString.endsWith(".parquet")).toSeq).head
          Files.move(out, f,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // drop the ChecksumFileSystem sidecar — it hashes the OLD
          // bytes and would fail every subsequent read of the new ones
          Files.deleteIfExists(
            f.resolveSibling(s".${f.getFileName.toString}.crc"))
          deleteTree(tmp)
          f.toString -> Files.size(f)
        }
      }
    }.toMap
    // metadata Avro: per-dir manifests (data_file.file_path, and the
    // rewritten delete files' sizes), then the manifest lists
    // (manifest_path, and the rewritten manifests' lengths) —
    // schema-preserving in-place rewrites
    scala.util.Using.resource(Files.list(md))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".avro")).toSeq)
      .sortBy(_.getFileName.toString.startsWith("manifest-list-"))
      .foreach(AvroManifests.rewritePathPrefix(_, oldPrefix, newPrefix,
        sizes))
  }

  /** Current committed version: the hint is a STARTING POINT, not the
    * truth — a writer can die between the atomic version claim and the
    * hint flip, so probe upward until the next version file is absent
    * (HadoopTableOperations does the same). 0 = table has no metadata. */
  private def currentVersion(ns: String, table: String): Int = {
    val md = metaDir(ns, table)
    val hintFile = md.resolve("version-hint.text")
    // the hint is advisory: tolerate a torn/absent read (a concurrent
    // flip, or a crash mid-write) by falling back to the upward probe
    val hint =
      (if (Files.exists(hintFile))
         try new String(Files.readAllBytes(hintFile), StandardCharsets.UTF_8)
           .trim.toIntOption
         catch { case _: java.io.IOException => None }
       else None).getOrElse(0)
    var v = math.max(hint,
      if (Files.exists(md.resolve("v1.metadata.json"))) 1 else 0)
    while (Files.exists(md.resolve(s"v${v + 1}.metadata.json"))) v += 1
    v
  }

  override protected def metadataFileLocation(ns: String, table: String,
                                              version: Int,
                                              docJson: String): Option[String] =
    Some(metaDir(ns, table).resolve(s"v$version.metadata.json").toString)

  override protected def fetchMeta(ns: String,
                                   table: String): Option[(Int, ObjectNode)] = {
    val v = currentVersion(ns, table)
    if (v == 0) None
    else Some((v, mapper.readTree(Files.readAllBytes(
      metaDir(ns, table).resolve(s"v$v.metadata.json")))
      .asInstanceOf[ObjectNode]))
  }

  override protected def casMeta(ns: String, table: String, base: Int,
                                 meta: ObjectNode,
                                 freshMark: Option[String]): Boolean = {
    // freshMark unused: link(2) is atomic — a local claim is never
    // ambiguous (it either landed under the version name or EEXISTed)
    val md = metaDir(ns, table)
    Files.createDirectories(md)
    // stale base: a writer committed since our fetch — lose without
    // touching the filesystem (the claim below would also lose, but a
    // version could have appeared BELOW base+1 only if base was stale)
    if (currentVersion(ns, table) != base) return false
    val target = md.resolve(s"v${base + 1}.metadata.json")
    val tmp = md.resolve(s".v${base + 1}-${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(meta))
    val claimed =
      try {
        // the claim must be atomic-fail-if-exists: link(2) either
        // publishes the fully-written content under the target name or
        // fails with EEXIST — the POSIX CAS
        Files.createLink(target, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally Files.deleteIfExists(tmp) // win or lose, never leak the tmp
    if (claimed) {
      // The commit is DURABLE the instant the link lands: readers find
      // v<base+1> by the upward probe even with a stale/absent hint (the
      // "committed-but-unhinted" matrix case). The hint flip is therefore
      // advisory — a failure here (disk full, tmp race) must NOT surface
      // as a failed commit, or the caller would retry and append the same
      // data twice on top of its own successful snapshot.
      try {
        // atomic-REPLACE (a plain truncating write exposes an empty file
        // to concurrent readers)
        val hintTmp = md.resolve(s".hint-${java.util.UUID.randomUUID()}.tmp")
        Files.write(hintTmp,
          (base + 1).toString.getBytes(StandardCharsets.UTF_8))
        Files.move(hintTmp, md.resolve("version-hint.text"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"[graft-lake] hint flip failed after a " +
            s"successful v${base + 1} commit on $ns.$table " +
            s"(readers recover via the version probe): $e")
      }
    }
    claimed
  }
}

object DirectoryLakeCatalog {
  /** Warehouse under a fresh temp root (test/demo convenience). */
  def temp(spark: SparkSession): DirectoryLakeCatalog =
    new DirectoryLakeCatalog(spark,
      Files.createTempDirectory("graft-lake-"))

  def apply(spark: SparkSession, root: String): DirectoryLakeCatalog =
    new DirectoryLakeCatalog(spark, Paths.get(root))
}
