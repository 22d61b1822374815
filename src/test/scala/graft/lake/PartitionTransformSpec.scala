package graft.lake

import graft.TestSpark
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Time/truncate partition transforms (VERDICT r9 #4): `days(ts)` /
  * `months` / `hours` / `years` / `truncate(W, c)` in partition specs,
  * the derived directory layout they produce, and — the point of it all —
  * the PRUNING PROOF: a ts-bounded `loadSlice` must read only the
  * matching partitions' files, decided from manifest metadata
  * (`DataFrame.inputFiles` is the witness). */
class PartitionTransformSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshNs(): String = s"pt_${System.nanoTime()}"

  /** Latest metadata JSON straight off the directory carrier — an
    * external reader's view (same helper as IcebergMetadataSpec). */
  private def rawMeta(cat: DirectoryLakeCatalog, ns: String,
                      table: String): com.fasterxml.jackson.databind.JsonNode = {
    val md = cat.root.resolve(ns).resolve(table).resolve("metadata")
    val versions = Files.list(md).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".metadata.json") =>
        s.stripPrefix("v").stripSuffix(".metadata.json").toInt }
      .toSeq
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(md.resolve(s"v${versions.max}.metadata.json")))
  }

  /** 6 rows across 3 UTC days, 2 per day. */
  private def tsData = Seq(
    ("2024-01-01 05:00:00", 1L), ("2024-01-01 23:30:00", 2L),
    ("2024-01-02 00:00:01", 3L), ("2024-01-02 13:00:00", 4L),
    ("2024-01-03 08:00:00", 5L), ("2024-01-03 21:45:00", 6L))
    .toDF("ts_s", "id")
    .select(col("ts_s").cast("timestamp").as("ts"), col("id"))

  test("days(ts): spec metadata transform, derived dir layout, schema " +
    "round-trip without the derived column") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    cat.ensureTable(ns, "ev", tsData.schema, Seq("days(ts)"))
    cat.append(ns, "ev", tsData)
    // spec metadata: transform "day", name ts_day, source-id of ts
    val md = cat.root.resolve(ns).resolve("ev").resolve("metadata")
    val vmax = scala.util.Using.resource(Files.list(md))(_.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".metadata.json") =>
        s.stripPrefix("v").stripSuffix(".metadata.json").toInt }.max)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(md.resolve(s"v$vmax.metadata.json")))
    val pf = meta.get("partition-specs").get(0).get("fields").get(0)
    assert(pf.get("name").asText() == "ts_day" &&
      pf.get("transform").asText() == "day" &&
      pf.get("source-id").asInt() == 1)
    // the physical layout is Hive dirs on the DERIVED value
    val dataRoot = cat.root.resolve(ns).resolve("ev").resolve("data")
    val dayDirs = scala.util.Using.resource(Files.walk(dataRoot))(
      _.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).filter(_.startsWith("ts_day=")).toSet)
    assert(dayDirs == Set("ts_day=2024-01-01", "ts_day=2024-01-02",
      "ts_day=2024-01-03"))
    // reads return the TABLE schema — the derived column is spec
    // metadata, not data
    val out = cat.load(ns, "ev")
    assert(out.columns.toSeq == Seq("ts", "id"))
    assert(out.collect().map(_.getLong(1)).sorted.toSeq == (1L to 6L))
    // manifests carry the tuple value per file
    val manifests = scala.util.Using.resource(Files.list(md))(
      _.iterator().asScala.filter(_.getFileName.toString
        .startsWith("manifest-snap-")).toSeq)
    val tupleVals = manifests.flatMap(AvroManifests.readManifest)
      .flatMap(_.partition.collect { case ("ts_day", Some(v)) => v })
    assert(tupleVals.toSet == Set("2024-01-01", "2024-01-02", "2024-01-03"))
    cat.dropNamespace(ns)
  }

  test("loadSlice prunes an UNPARTITIONED table via manifest column " +
    "bounds (inputFiles proof on a long and a string column)") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    // three appends with DISJOINT id ranges -> three dirs whose manifest
    // bounds cannot overlap; no partition layout at all
    def batch(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, f"k$i%04d")).toDF("id", "k")
    cat.ensureTable(ns, "t", batch(1, 1).schema)
    cat.append(ns, "t", batch(1L, 100L))
    cat.append(ns, "t", batch(101L, 200L))
    cat.append(ns, "t", batch(201L, 300L))
    val allFiles = cat.load(ns, "t").inputFiles
    val slice = cat.loadSlice(ns, "t", "id", "120", "180")
    assert(slice.collect().map(_.getLong(0)).sorted.toSeq ==
      (120L to 180L))
    assert(slice.inputFiles.nonEmpty &&
      slice.inputFiles.length < allFiles.length,
      s"stats pruning read all ${allFiles.length} files")
    // the skipping invariant: every file KEPT must actually intersect
    // the bound — a pruned plan may keep extra files, never wrong ones
    slice.inputFiles.foreach { f =>
      val mm = spark.read.parquet(f).agg(
        org.apache.spark.sql.functions.min("id"),
        org.apache.spark.sql.functions.max("id")).head()
      assert(mm.getLong(1) >= 120L && mm.getLong(0) <= 180L,
        s"kept file outside bound: $f [${mm.getLong(0)}, ${mm.getLong(1)}]")
    }
    // string column bounds prune too (UTF-8 byte order)
    val ks = cat.loadSlice(ns, "t", "k", "k0150", "k0160")
    assert(ks.collect().map(_.getString(1)).sorted.toSeq ==
      (150 to 160).map(i => f"k$i%04d"))
    assert(ks.inputFiles.length < allFiles.length)
    // a bound beyond every file's range reads NOTHING (plans zero files
    // or empties them; rows are the contract)
    val none = cat.loadSlice(ns, "t", "id", "500", "600")
    assert(none.count() == 0L)
    cat.dropNamespace(ns)
  }

  test("compound loadSlice: per-column filters AND — the day partition " +
    "tier and the id stats tier prune together, strictly tighter than " +
    "either alone; unprunable columns degrade to row filtering") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    // 3 days x 3 disjoint id-range appends per day -> the day tier keeps
    // a third of files, the id tier another third: compound keeps ~1/9
    val rows = (for {
      d <- 1 to 3
      b <- 0 to 2
      i <- 1 to 20
    } yield (s"2024-01-0$d 0$b:00:00", (b * 100 + i).toLong, d.toLong))
      .toDF("ts_s", "id", "day")
      .select(col("ts_s").cast("timestamp").as("ts"), col("id"),
        col("day"))
    cat.ensureTable(ns, "ev", rows.schema, Seq("days(ts)"))
    // per-day sorted appends give the id column disjoint per-file bounds
    (1 to 3).foreach(d => (0 to 2).foreach(b =>
      cat.append(ns, "ev", rows.filter(col("day") === d.toLong &&
        col("id") >= b * 100 && col("id") < (b + 1) * 100))))
    val all = cat.load(ns, "ev").inputFiles.length
    val dayOnly = cat.loadSlice(ns, "ev", "ts",
      "2024-01-02 00:00:00", "2024-01-02 23:59:59").inputFiles.length
    val idOnly = cat.loadSlice(ns, "ev", "id", "105", "115")
      .inputFiles.length
    val both = cat.loadSlice(ns, "ev", Seq(
      ("ts", "2024-01-02 00:00:00", "2024-01-02 23:59:59"),
      ("id", "105", "115")))
    assert(both.inputFiles.length < dayOnly &&
      both.inputFiles.length < idOnly &&
      dayOnly < all && idOnly < all,
      s"all=$all day=$dayOnly id=$idOnly both=${both.inputFiles.length}")
    // exactness: the compound result is the intersection
    assert(both.collect().map(_.getLong(1)).sorted.toSeq ==
      (105L to 115L))
    // a non-derivable third bound degrades to row filtering, same files
    val three = cat.loadSlice(ns, "ev", Seq(
      ("ts", "2024-01-02 00:00:00", "2024-01-02 23:59:59"),
      ("id", "105", "115"), ("day", "2", "2")))
    assert(three.collect().map(_.getLong(1)).sorted.toSeq ==
      (105L to 115L))
    intercept[IllegalArgumentException](
      cat.loadSlice(ns, "ev", Seq.empty))
    cat.dropNamespace(ns)
  }

  test("renaming a TRANSFORM partition source (days(ts) -> days(event_ts))" +
    " is metadata-only: old dirs keep reading, new writes keep the " +
    "ts_day layout, pruning intact on the new name (VERDICT r12 #5)") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    cat.ensureTable(ns, "ev", tsData.schema, Seq("days(ts)"))
    cat.append(ns, "ev", tsData.filter($"id" <= 3))
    cat.renameColumn(ns, "ev", "ts", "event_ts")
    assert(cat.load(ns, "ev").columns.toSeq == Seq("event_ts", "id"))
    // post-rename writes land under the SAME ts_day=... layout (the spec
    // field keeps its own name; only the source's display name changed)
    cat.append(ns, "ev", tsData.filter($"id" > 3)
      .withColumnRenamed("ts", "event_ts"))
    val dataRoot = cat.root.resolve(ns).resolve("ev").resolve("data")
    val dayDirs = scala.util.Using.resource(Files.walk(dataRoot))(
      _.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).filter(_.startsWith("ts_day=")).toSet)
    assert(dayDirs == Set("ts_day=2024-01-01", "ts_day=2024-01-02",
      "ts_day=2024-01-03"), dayDirs.mkString(","))
    // both generations read under the new name
    assert(cat.load(ns, "ev").collect().map(_.getLong(1)).sorted.toSeq ==
      (1L to 6L))
    // pruning by the NEW name still hits only the matching day's files
    val slice = cat.loadSlice(ns, "ev", "event_ts",
      "2024-01-02 00:00:00", "2024-01-02 23:59:59")
    assert(slice.collect().map(_.getLong(1)).sorted.toSeq == Seq(3L, 4L))
    assert(slice.inputFiles.nonEmpty &&
      slice.inputFiles.forall(_.contains("ts_day=2024-01-02")),
      slice.inputFiles.mkString(","))
    // an IDENTITY source renames as ONE commit = rename + spec
    // generation: the field keeps its id under the (source-id,
    // transform) identity rule, old `cat=` dirs keep reading via the
    // alias history, new writes lay `category=` dirs that PRUNE by the
    // new name
    val idDf = Seq((1L, "x"), (2L, "y")).toDF("id", "cat")
    cat.ensureTable(ns, "p", idDf.schema, Seq("cat"))
    cat.append(ns, "p", idDf)
    // the rename RETURNS the pruning-pause count (VERDICT r13 #7): one
    // live pre-rename dir stops pruning until compact folds it
    assert(cat.renameColumn(ns, "p", "cat", "category") == 1,
      "identity-source rename must report the paused-dir count")
    cat.append(ns, "p", Seq((3L, "x"), (4L, "z")).toDF("id", "category"))
    // ...and maintenanceReport prices the same debt per snapshot: the
    // current snapshot carries 1 stale-spec dir (pre-rename) alongside
    // the new-generation one
    val mrep = cat.maintenanceReport(ns, "p").collect()
      .map(r => r.getAs[Boolean]("is_current") ->
        r.getAs[Long]("pruning_paused_dirs")).toMap
    assert(mrep(true) == 1L,
      s"current snapshot must report the paused pre-rename dir: $mrep")
    val pMeta = rawMeta(cat, ns, "p")
    val pSpecs = pMeta.get("partition-specs").elements().asScala.toSeq
    assert(pSpecs.size == 2 && pMeta.get("default-spec-id").asInt() == 1)
    // same field-id across the rename (the identity rule), new name
    def pf(i: Int) = pSpecs(i).get("fields").get(0)
    assert(pf(0).get("name").asText() == "cat" &&
      pf(1).get("name").asText() == "category" &&
      pf(0).get("field-id").asInt() == pf(1).get("field-id").asInt())
    // both generations' dirs coexist and read under the new name
    val pRoot = cat.root.resolve(ns).resolve("p").resolve("data")
    val pDirs = scala.util.Using.resource(Files.walk(pRoot))(
      _.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filter(d => d.startsWith("cat=") || d.startsWith("category="))
        .toSet)
    assert(pDirs.exists(_.startsWith("cat=")) &&
      pDirs.exists(_.startsWith("category=")), pDirs.mkString(","))
    assert(cat.load(ns, "p").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, "z")))
    // pruning by the NEW name: new-generation files prune to their dir,
    // old-generation files are kept (correct, unpruned — the q218
    // contract) so the row bound still filters them
    val pSlice = cat.loadSlice(ns, "p", "category", "z", "z")
    assert(pSlice.collect().map(_.getLong(0)).toSeq == Seq(4L))
    assert(pSlice.inputFiles.exists(_.contains("category=z")) &&
      !pSlice.inputFiles.exists(_.contains("category=x")),
      pSlice.inputFiles.mkString(","))
    // compact folds every generation into the new-name layout
    cat.compact(ns, "p", targetFiles = 1)
    val folded = cat.metaTable(ns, "p", "files")
      .select("file_path").collect().map(_.getString(0))
    assert(folded.forall(_.contains("category=")), folded.mkString(","))
    assert(cat.load(ns, "p").count() == 4L)
    // ...and the fold clears the priced debt
    assert(cat.maintenanceReport(ns, "p").collect()
      .find(_.getAs[Boolean]("is_current"))
      .exists(_.getAs[Long]("pruning_paused_dirs") == 0L),
      "compact must clear pruning_paused_dirs on the current snapshot")
    // bucket(N) sources rename freely too — pruning keyed by source-id
    val bk = (1L to 60L).map(i => (i, i * 2)).toDF("k", "v")
    cat.ensureTable(ns, "b", bk.schema, Seq("bucket(4, k)"))
    cat.append(ns, "b", bk)
    cat.renameColumn(ns, "b", "k", "key")
    val bHit = cat.loadSlice(ns, "b", "key", "17", "17")
    assert(bHit.collect().map(_.getLong(1)).toSeq == Seq(34L))
    assert(bHit.inputFiles.forall(_.contains(
      s"k_bucket=${graft.functions.IcebergBucket.bucketLong(17L, 4)}")),
      bHit.inputFiles.mkString(","))
    cat.dropNamespace(ns)
  }

  test("bucket(N, col) partition transform: spec metadata, hash-derived " +
    "dir layout, typed manifest tuples, point-lookup pruning, derived " +
    "column dropped (VERDICT r12 #1)") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    val docs = (1L to 400L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    cat.ensureTable(ns, "t", docs.schema, Seq("bucket(8, doc_id)"))
    // spec metadata: transform bucket[8], name doc_id_bucket, source doc_id
    val pf = rawMeta(cat, ns, "t").get("partition-specs").get(0)
      .get("fields").get(0)
    assert(pf.get("name").asText() == "doc_id_bucket" &&
      pf.get("transform").asText() == "bucket[8]" &&
      pf.get("source-id").asInt() == 1)
    cat.append(ns, "t", docs.filter($"doc_id" <= 200))
    cat.append(ns, "t", docs.filter($"doc_id" > 200))
    // directory layout: hash buckets, values = the SPEC transform (the
    // cross-engine agreement the conformance vectors pin)
    val dataRoot = cat.root.resolve(ns).resolve("t").resolve("data")
    val bucketDirs = scala.util.Using.resource(Files.walk(dataRoot))(
      _.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filter(_.startsWith("doc_id_bucket=")).toSet)
    assert(bucketDirs.size > 1 && bucketDirs.forall { d =>
      val b = d.stripPrefix("doc_id_bucket=").toInt; b >= 0 && b < 8
    }, bucketDirs.mkString(","))
    // reads: table schema only (derived column dropped), values intact
    val out = cat.load(ns, "t")
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.agg(org.apache.spark.sql.functions.sum("doc_id"))
      .head().getLong(0) == (1L to 400L).sum)
    // manifests carry TYPED int tuples matching the spec hash
    val manifests = cat.metaTable(ns, "t", "manifests")
      .select("path").collect().map(_.getString(0))
    val entries = manifests.map(java.nio.file.Paths.get(_))
      .flatMap(AvroManifests.readManifest)
    entries.foreach { e =>
      val tup = e.partition.collectFirst {
        case ("doc_id_bucket", Some(v)) => v.toInt }
      assert(tup.exists(b => b >= 0 && b < 8), e.partition.toString)
    }
    // POINT LOOKUP pruning: loadSlice(k, k) reads only the key's bucket
    val allFiles = out.inputFiles
    val hit = cat.loadSlice(ns, "t", "doc_id", "137", "137")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(137L))
    assert(hit.inputFiles.nonEmpty &&
      hit.inputFiles.length < allFiles.length,
      s"bucket pruning read all ${allFiles.length} files")
    // every kept file's tuple IS the key's bucket
    val wantBucket = graft.functions.IcebergBucket.bucketLong(137L, 8)
    hit.inputFiles.foreach(f =>
      assert(f.contains(s"doc_id_bucket=$wantBucket"), f))
    // a RANGE on a bucketed column cannot prune by bucket (hash destroys
    // order) — correctness first: all rows come back
    assert(cat.loadSlice(ns, "t", "doc_id", "100", "110")
      .collect().map(_.getLong(0)).sorted.toSeq == (100L to 110L))
    // deletes + compact preserve the bucket layout
    assert(cat.deleteWhere(ns, "t", $"doc_id" % 50 === 3L) == 8L)
    cat.compact(ns, "t", targetFiles = 2)
    assert(cat.load(ns, "t").count() == 392L)
    val live = cat.metaTable(ns, "t", "files")
      .select("file_path").head().getString(0)
    assert(live.contains("doc_id_bucket="),
      s"compaction must rewrite under the bucket spec: $live")
    // string-keyed buckets work too (UTF-8 byte hashing)
    val byStr = (1L to 50L).map(i => (s"k$i", i)).toDF("k", "v")
    cat.ensureTable(ns, "s", byStr.schema, Seq("bucket(4, k)"))
    cat.append(ns, "s", byStr)
    val sHit = cat.loadSlice(ns, "s", "k", "k17", "k17")
    assert(sHit.collect().map(_.getLong(1)).toSeq == Seq(17L))
    assert(sHit.inputFiles.length < cat.load(ns, "s").inputFiles.length)
    cat.dropNamespace(ns)
  }

  test("partition spec evolution: a new default layout applies to FUTURE " +
    "writes only, mixed-layout tables read correctly, field-ids never " +
    "reuse, and compact folds everything into the current spec") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    val docs = (1L to 300L)
      .map(i => (i, if (i % 2 == 0) "en" else "de",
        java.sql.Timestamp.valueOf(s"2024-01-${i % 9 + 1} 00:00:00")))
      .toDF("id", "lang", "ts")
    // generation 1: UNPARTITIONED
    cat.ensureTable(ns, "t", docs.schema)
    cat.append(ns, "t", docs.filter($"id" <= 100))
    // generation 2: identity(lang)
    cat.updatePartitionSpec(ns, "t", Seq("lang"))
    cat.append(ns, "t", docs.filter($"id" > 100 && $"id" <= 200))
    // generation 3: days(ts)
    cat.updatePartitionSpec(ns, "t", Seq("days(ts)"))
    cat.append(ns, "t", docs.filter($"id" > 200))
    // every generation reads back under one scan, values exact
    assert(cat.load(ns, "t").count() == 300L)
    assert(cat.load(ns, "t").agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0) == (1L to 300L).sum)
    assert(cat.load(ns, "t").filter($"lang" === "en").count() == 150L)
    // directory layouts are per-generation (the spec's own contract)
    val root = cat.root.resolve(ns).resolve("t").resolve("data")
    val dirNames = Files.list(root).iterator().asScala
      .filter(Files.isDirectory(_))
      .flatMap(d => Files.list(d).iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString))
      .toSet
    assert(dirNames.exists(_.startsWith("lang=")) &&
      dirNames.exists(_.startsWith("ts_day=")), dirNames.mkString(","))
    // metadata: three specs, default points at the newest, partition
    // field-ids CONTINUE (1000 for lang, 1001 for ts_day — never reused)
    val meta = rawMeta(cat, ns, "t")
    val specs = meta.get("partition-specs").elements().asScala.toSeq
    assert(specs.map(_.get("spec-id").asInt()) == Seq(0, 1, 2))
    assert(meta.get("default-spec-id").asInt() == 2)
    def fids(i: Int) = specs(i).get("fields").elements().asScala
      .map(f => (f.get("name").asText(), f.get("field-id").asInt())).toSeq
    assert(fids(0) == Nil && fids(1) == Seq(("lang", 1000)) &&
      fids(2) == Seq(("ts_day", 1001)), specs.mkString(","))
    assert(meta.get("last-partition-id").asInt() == 1001)
    // re-declaring the current layout publishes nothing (no 4th spec)
    cat.updatePartitionSpec(ns, "t", Seq("days(ts)"))
    assert(rawMeta(cat, ns, "t").get("partition-specs").size() == 3)
    // manifests face: new-generation manifests carry the new spec id
    assert(cat.metaTable(ns, "t", "manifests")
      .select("partition_spec_id").collect().map(_.getInt(0)).toSet ==
      Set(0, 1, 2))
    // the partitions face sizes every generation from manifests alone:
    // the unpartitioned gen-1 slice, gen-2's lang dirs, gen-3's day dirs
    val parts = cat.metaTable(ns, "t", "partitions").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(parts("") == 100L && parts("lang=en") == 50L &&
      parts("lang=de") == 50L, parts.toString)
    assert(parts.keys.count(_.startsWith("ts_day=")) > 1 &&
      parts.filter(_._1.startsWith("ts_day=")).values.sum == 100L,
      parts.toString)
    // a row-level delete spans all three layouts (rewrite emits the
    // CURRENT spec, untouched dirs carry)
    assert(cat.deleteWhere(ns, "t", $"id" % 100 === 7L) == 3L)
    assert(cat.load(ns, "t").count() == 297L)
    // compact folds every generation into the current (days) layout
    cat.compact(ns, "t", targetFiles = 2)
    assert(cat.load(ns, "t").count() == 297L)
    val liveDir = cat.metaTable(ns, "t", "files")
      .select("file_path").head().getString(0)
    assert(liveDir.contains("ts_day="),
      s"compaction must rewrite under the current spec: $liveDir")
    // ensureTable with a DIFFERING non-empty partition_by evolves the
    // spec too (the CLI config-change path); an EMPTY partition_by is
    // "no layout opinion" — never an implicit evolution to unpartitioned
    cat.ensureTable(ns, "t", docs.schema, Seq("lang"))
    val m3 = rawMeta(cat, ns, "t")
    assert(m3.get("default-spec-id").asInt() == 3)
    // the re-adopted lang layout is the SAME field: id 1000 reused
    val spec3 = m3.get("partition-specs").elements().asScala
      .find(_.get("spec-id").asInt() == 3).get
    assert(spec3.get("fields").elements().asScala
      .map(f => (f.get("name").asText(), f.get("field-id").asInt()))
      .toSeq == Seq(("lang", 1000)))
    cat.ensureTable(ns, "t", docs.schema) // Nil: keeps the lang spec
    assert(rawMeta(cat, ns, "t").get("default-spec-id").asInt() == 3)
    // evolving back to UNPARTITIONED is the EXPLICIT call only
    cat.updatePartitionSpec(ns, "t", Nil)
    cat.append(ns, "t", Seq((900L, "fr",
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))).toDF(
      "id", "lang", "ts"))
    assert(cat.load(ns, "t").count() == 298L)
    cat.dropNamespace(ns)
  }

  test("loadSlice bound-pruning SURVIVES type promotion and rename: " +
    "4-byte int bounds decode under the promoted long column, and the " +
    "slice keys by the CURRENT name over pre-rename files") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
      StructField, StructType}
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    // three disjoint-range appends written while the column was INT (the
    // manifests carry 4-byte bounds) under the OLD name
    def intBatch(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, f"k$i%04d")).toDF("num0", "k")
      .select($"num0".cast(IntegerType).as("num"), $"k")
    cat.ensureTable(ns, "t", intBatch(1, 1).schema)
    cat.append(ns, "t", intBatch(1L, 100L))
    cat.append(ns, "t", intBatch(101L, 200L))
    cat.append(ns, "t", intBatch(201L, 300L))
    // promote num -> long, then rename num -> id: both metadata-only
    cat.ensureTable(ns, "t", StructType(Seq(StructField("num", LongType),
      StructField("k", StringType))))
    cat.renameColumn(ns, "t", "num", "id")
    // ...and one post-evolution append with LONG values + 8-byte bounds
    cat.append(ns, "t", (301L to 400L).map(i => (i, f"k$i%04d"))
      .toDF("id", "k"))
    val allFiles = cat.load(ns, "t").inputFiles
    // the slice keys by the CURRENT name; its window sits entirely in the
    // PRE-promotion files — pruning must decode their 4-byte bounds under
    // the long-typed current schema (promotion-aware decodeBound) and
    // skip the other dirs
    val slice = cat.loadSlice(ns, "t", "id", "120", "180")
    assert(slice.collect().map(_.getLong(0)).sorted.toSeq ==
      (120L to 180L))
    assert(slice.inputFiles.nonEmpty &&
      slice.inputFiles.length < allFiles.length,
      s"promotion broke stats pruning: read all ${allFiles.length} files")
    // a slice in the post-promotion range prunes the int-era files
    val hi = cat.loadSlice(ns, "t", "id", "350", "360")
    assert(hi.collect().map(_.getLong(0)).sorted.toSeq == (350L to 360L))
    assert(hi.inputFiles.length < allFiles.length)
    cat.dropNamespace(ns)
  }

  test("appendSorted: range-partitioned sorted files give DISJOINT " +
    "bounds — a bounded read touches O(selectivity) files — and the " +
    "order lands in sort-orders metadata exactly once") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    val shuffled = new scala.util.Random(7).shuffle((1L to 300L).toList)
      .map(i => (i, s"v$i")).toDF("id", "v")
    cat.ensureTable(ns, "t", shuffled.schema)
    cat.appendSorted(ns, "t", shuffled, Seq("id"), targetFiles = Some(6))
    val all = cat.load(ns, "t")
    assert(all.collect().map(_.getLong(0)).sorted.toSeq == (1L to 300L))
    assert(all.inputFiles.length >= 5, "range partitioning wrote one file")
    // a 7%-selectivity slice reads at most 2 adjacent range files
    val slice = cat.loadSlice(ns, "t", "id", "40", "60")
    assert(slice.collect().map(_.getLong(0)).sorted.toSeq == (40L to 60L))
    assert(slice.inputFiles.length <= 2,
      s"sorted table read ${slice.inputFiles.length} of " +
        s"${all.inputFiles.length} files for a 7% slice")
    // metadata declares the write order, idempotently across appends
    cat.appendSorted(ns, "t",
      Seq((301L, "v301")).toDF("id", "v"), Seq("id"))
    val md = cat.root.resolve(ns).resolve("t").resolve("metadata")
    val vmax = scala.util.Using.resource(Files.list(md))(_.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".metadata.json") =>
        s.stripPrefix("v").stripSuffix(".metadata.json").toInt }.max)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(md.resolve(s"v$vmax.metadata.json")))
    val sorted = meta.get("sort-orders").elements().asScala
      .filter(_.get("fields").size() > 0).toSeq
    assert(sorted.size == 1, "same order declared twice")
    val f = sorted.head.get("fields").get(0)
    assert(f.get("transform").asText() == "identity" &&
      f.get("source-id").asInt() == 1 &&
      f.get("direction").asText() == "asc" &&
      f.get("null-order").asText() == "nulls-first")
    assert(meta.get("default-sort-order-id").asInt() ==
      sorted.head.get("order-id").asInt())
    assert(cat.load(ns, "t").count() == 301L)
    cat.dropNamespace(ns)
  }

  test("compact honors the declared sort order: an unsorted append's " +
    "wide bounds are RESTORED to disjoint windows by the rewrite") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    val rnd = new scala.util.Random(11)
    def shuffledDf(r: Range) = rnd.shuffle(r.toList)
      .map(i => (i.toLong, s"v$i")).toDF("id", "v")
    // the order is declared by the first sorted ingest...
    cat.ensureTable(ns, "t", shuffledDf(1 to 1).schema)
    cat.appendSorted(ns, "t", shuffledDf(1 to 150), Seq("id"),
      targetFiles = Some(3))
    // ...then an UNSORTED append erodes it (each file spans the whole
    // 151-300 range: bounds overlap, nothing prunable inside it)
    cat.append(ns, "t", shuffledDf(151 to 300).repartition(3))
    val before = cat.loadSlice(ns, "t", "id", "200", "220")
    assert(before.collect().map(_.getLong(0)).sorted.toSeq ==
      (200L to 220L))
    assert(before.inputFiles.length >= 3,
      "unsorted files should NOT be prunable on this slice")
    // compact rewrites in the declared order: disjoint windows again
    cat.compact(ns, "t", targetFiles = 6)
    val after = cat.loadSlice(ns, "t", "id", "200", "220")
    assert(after.collect().map(_.getLong(0)).sorted.toSeq ==
      (200L to 220L))
    assert(after.inputFiles.length <= 2,
      s"sorted compaction left ${after.inputFiles.length} files for a " +
        "7% slice")
    assert(cat.load(ns, "t").count() == 300L)
    cat.dropNamespace(ns)
  }

  test("stats-tier edge types: smallint slices work, NTZ bounds are " +
    "timezone-proof, -0.0 doubles never wrong-prune") {
    val cat = DirectoryLakeCatalog.temp(spark)
    // smallint: the literal casts to Short — a bare getInt would throw
    val ns1 = freshNs()
    val small = Seq((1L, 10.toShort), (2L, 20.toShort), (3L, 30.toShort))
      .toDF("id", "n")
    cat.ensureTable(ns1, "t", small.schema)
    cat.append(ns1, "t", small)
    assert(cat.loadSlice(ns1, "t", "n", "15", "25")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    cat.dropNamespace(ns1)
    // timestamp_ntz: wall-clock bounds must not shift with the session
    // timezone (parquet NTZ micros are zone-less; a TimestampType hop
    // would move the literal by the zone offset and wrong-prune)
    val ns2 = freshNs()
    // batch A sits ENTIRELY inside [00:00, 06:00) wall-clock: a +7h
    // literal shift (America/Los_Angeles) moves the lower bound past A's
    // upper bound and prunes the whole file — the bug shape
    val ntz = Seq(("2024-06-01 01:00:00", 1L), ("2024-06-01 02:00:00", 2L),
        ("2024-06-03 12:00:00", 3L))
      .toDF("ts_s", "id")
      .select(col("ts_s").cast("timestamp_ntz").as("ts"), col("id"))
    cat.ensureTable(ns2, "t", ntz.schema)
    cat.append(ns2, "t", ntz.filter(col("id") < 3L).repartition(1))
    cat.append(ns2, "t", ntz.filter(col("id") === 3L))
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val rows = cat.loadSlice(ns2, "t", "ts",
        "2024-06-01 00:00:00", "2024-06-01 06:00:00")
        .collect().map(_.getLong(1)).sorted.toSeq
      assert(rows == Seq(1L, 2L),
        s"NTZ slice shifted by session timezone: got $rows")
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
    cat.dropNamespace(ns2)
    // -0.0: a file whose max is -0.0 must be KEPT for a 0.0 lower bound
    // (the row filter's IEEE compare says -0.0 >= 0.0)
    val ns3 = freshNs()
    val negz = Seq((1L, -1.0), (2L, -0.0)).toDF("id", "x").repartition(1)
    cat.ensureTable(ns3, "t", negz.schema)
    cat.append(ns3, "t", negz)
    cat.append(ns3, "t", Seq((3L, 5.0)).toDF("id", "x"))
    assert(cat.loadSlice(ns3, "t", "x", "0", "9")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L),
      "file with max = -0.0 was wrongly pruned for a 0.0 lower bound")
    cat.dropNamespace(ns3)
  }

  test("loadSlice bound-pruning composes with row-level deletes " +
    "(MOR masks still apply to the kept files)") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    def batch(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, s"v$i")).toDF("id", "v")
    cat.ensureTable(ns, "t", batch(1, 1).schema)
    cat.append(ns, "t", batch(1L, 100L))
    cat.append(ns, "t", batch(101L, 200L))
    assert(cat.purgeKeysMOR(ns, "t", "id",
      Seq(150L, 160L).toDF("id")) == 2L)
    val slice = cat.loadSlice(ns, "t", "id", "120", "180")
    assert(slice.collect().map(_.getLong(0)).sorted.toSeq ==
      ((120L to 180L).toSet -- Set(150L, 160L)).toSeq.sorted)
    cat.dropNamespace(ns)
  }

  test("loadSlice prunes to the matching day's files (inputFiles proof) " +
    "and stays exact at the boundaries") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    cat.ensureTable(ns, "ev", tsData.schema, Seq("days(ts)"))
    cat.append(ns, "ev", tsData)
    cat.append(ns, "ev", Seq(("2024-01-02 18:00:00", 7L)).toDF("ts_s", "id")
      .select(col("ts_s").cast("timestamp").as("ts"), col("id")))
    val allFiles = cat.load(ns, "ev").inputFiles
    val slice = cat.loadSlice(ns, "ev", "ts",
      "2024-01-02 00:00:00", "2024-01-02 23:59:59")
    // the PROOF: only ts_day=2024-01-02 files are planned, across BOTH
    // snapshots' dirs
    assert(slice.inputFiles.nonEmpty &&
      slice.inputFiles.forall(_.contains("ts_day=2024-01-02")),
      s"slice read outside the pruned partition: ${slice.inputFiles.toSeq}")
    assert(slice.inputFiles.length < allFiles.length)
    assert(slice.collect().map(_.getLong(1)).sorted.toSeq == Seq(3L, 4L, 7L))
    // a slice bound INSIDE a day still prunes to that day, with the row
    // bound trimming the rest
    val half = cat.loadSlice(ns, "ev", "ts",
      "2024-01-02 12:00:00", "2024-01-02 23:59:59")
    assert(half.collect().map(_.getLong(1)).sorted.toSeq == Seq(4L, 7L))
    // merge-on-read deletes apply inside a slice
    assert(cat.deleteWhereMOR(ns, "ev", col("id") === 4L) == 1L)
    assert(cat.loadSlice(ns, "ev", "ts", "2024-01-02 00:00:00",
      "2024-01-02 23:59:59").collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(3L, 7L))
    cat.dropNamespace(ns)
  }

  test("hours/months/years transforms lay out and prune") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    val df = Seq(("2024-01-01 05:10:00", 1L), ("2024-01-01 05:55:00", 2L),
      ("2024-01-01 06:05:00", 3L), ("2024-02-15 09:00:00", 4L))
      .toDF("ts_s", "id")
      .select(col("ts_s").cast("timestamp").as("ts"), col("id"))
    cat.ensureTable(ns, "h", df.schema, Seq("hours(ts)"))
    cat.append(ns, "h", df)
    val hr = cat.loadSlice(ns, "h", "ts",
      "2024-01-01 05:00:00", "2024-01-01 05:59:59")
    assert(hr.inputFiles.forall(_.contains("ts_hour=2024-01-01-05")))
    assert(hr.collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
    cat.ensureTable(ns, "m", df.schema, Seq("months(ts)"))
    cat.append(ns, "m", df)
    val mo = cat.loadSlice(ns, "m", "ts",
      "2024-02-01 00:00:00", "2024-02-29 23:59:59")
    assert(mo.inputFiles.forall(_.contains("ts_month=2024-02")))
    assert(mo.collect().map(_.getLong(1)).toSeq == Seq(4L))
    cat.dropNamespace(ns)
  }

  test("truncate(W, col) floors longs (negatives too) and prefixes " +
    "strings; numeric pruning compares numerically") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    val df = Seq((-7L, "alpha"), (-1L, "alps"), (0L, "beta"),
      (9L, "bets"), (10L, "gamma"), (23L, "alp"))
      .toDF("v", "name")
    cat.ensureTable(ns, "n", df.schema, Seq("truncate(10, v)"))
    cat.append(ns, "n", df)
    // Iceberg truncate floors toward -inf: -7 -> -10, -1 -> -10, 9 -> 0
    val dirs = scala.util.Using.resource(Files.walk(
      cat.root.resolve(ns).resolve("n").resolve("data")))(
      _.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).filter(_.startsWith("v_trunc="))
        .toSet)
    assert(dirs == Set("v_trunc=-10", "v_trunc=0", "v_trunc=10",
      "v_trunc=20"))
    val neg = cat.loadSlice(ns, "n", "v", "-10", "-1")
    assert(neg.inputFiles.forall(_.contains("v_trunc=-10")))
    assert(neg.collect().map(_.getLong(0)).sorted.toSeq == Seq(-7L, -1L))
    // string truncate prefixes
    cat.ensureTable(ns, "s", df.schema, Seq("truncate(3, name)"))
    cat.append(ns, "s", df)
    val alp = cat.loadSlice(ns, "s", "name", "alp", "alzzz")
    assert(alp.inputFiles.forall(_.contains("name_trunc=alp")))
    assert(alp.collect().map(_.getString(1)).sorted.toSeq ==
      Seq("alp", "alpha", "alps"))
    cat.dropNamespace(ns)
  }

  test("merge with an empty incoming batch on a transform-partitioned " +
    "table is a no-op (a partitioned empty write leaves a file-less dir)") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    cat.ensureTable(ns, "ev", tsData.schema, Seq("days(ts)"))
    cat.append(ns, "ev", tsData)
    val snaps = cat.snapshotIds(ns, "ev")
    cat.merge(ns, "ev", Seq("id"), tsData.filter(col("id") === -999L))
    assert(cat.snapshotIds(ns, "ev") == snaps, "no-op published no commit")
    assert(cat.load(ns, "ev").count() == 6L)
    assert(cat.storageAudit(ns, "ev").collect()(0)
      .getAs[Long]("n_orphan_dirs") == 0L, "empty-batch dir cleaned up")
    cat.dropNamespace(ns)
  }

  test("copy-on-write delete and compact preserve the transform layout") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    cat.ensureTable(ns, "ev", tsData.schema, Seq("days(ts)"))
    cat.append(ns, "ev", tsData)
    assert(cat.deleteWhere(ns, "ev", col("id") === 1L) == 1L)
    cat.compact(ns, "ev", targetFiles = 1)
    // the rewritten snapshot still partitions by the derived day — a
    // slice after maintenance prunes exactly as before
    val slice = cat.loadSlice(ns, "ev", "ts",
      "2024-01-01 00:00:00", "2024-01-01 23:59:59")
    assert(slice.inputFiles.nonEmpty &&
      slice.inputFiles.forall(_.contains("ts_day=2024-01-01")))
    assert(slice.collect().map(_.getLong(1)).toSeq == Seq(2L))
    cat.dropNamespace(ns)
  }

  test("loadSlice without a matching transform field falls back to a " +
    "full-but-exact scan; identity partitioning prunes too") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    val df = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("part", "id")
    cat.ensureTable(ns, "p", df.schema, Seq("part"))
    cat.append(ns, "p", df)
    val ident = cat.loadSlice(ns, "p", "part", "a", "a")
    assert(ident.inputFiles.forall(_.contains("part=a")))
    assert(ident.collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 3L))
    // no spec field over id: exact, unpruned
    val noSpec = cat.loadSlice(ns, "p", "id", "2", "3")
    assert(noSpec.collect().map(_.getLong(1)).sorted.toSeq == Seq(2L, 3L))
    cat.dropNamespace(ns)
  }

  test("the batch writer's transform columns and the per-value " +
    "derivation (streaming fanout, pruning literals) yield the same path " +
    "value: DST edges, years before 1000 and BC, negative truncate " +
    "inputs, non-BMP strings, in several session zones") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.expr
    def micros(iso: String): Long = {
      val i = java.time.Instant.parse(iso)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    def epochDay(iso: String): Int =
      java.time.LocalDate.parse(iso).toEpochDay.toInt
    val tsz = Seq("2024-03-10T09:59:59Z", "2024-03-10T10:00:00Z",
      "2024-11-03T08:30:00Z", "2024-11-03T09:30:00Z",
      "1969-12-31T23:59:59.999999Z", "0999-06-01T12:00:00Z",
      "0001-01-01T00:00:00Z", "-0044-03-15T12:00:00Z",
      "+10000-01-01T00:00:00Z").map(micros).toDF("m")
      .select(expr("timestamp_micros(m)").as("v"))
    // wall times: the 02:30 that Los Angeles skips and the 01:30 it repeats
    val ntz = Seq("2024-03-10 02:30:00", "2024-11-03 01:30:00",
      "1969-12-31 23:59:59.999999", "0999-06-01 12:00:00",
      "0001-01-01 00:00:00").toDF("s")
      .select(col("s").cast("timestamp_ntz").as("v"))
    val dates = Seq("2024-03-10", "1969-12-31", "0999-06-01", "0001-01-01",
      "-0044-03-15", "+10000-01-01").map(epochDay).toDF("d")
      .select(expr("date_from_unix_date(d)").as("v"))
    val longs = Seq(-15L, -11L, -10L, -9L, -1L, 0L, 9L, 10L, 12345L)
      .toDF("v")
    val ints = longs.select(col("v").cast("int").as("v"))
    val strs = Seq("", "a", "ab", "h\u00e9llo", "\uD83D\uDE00\uD83D\uDE00x",
      "a\uD83D\uDE00").toDF("v")
    val time = Seq("day", "month", "hour", "year")
    val cases: Seq[(DataFrame, Seq[String])] = Seq(
      tsz -> (time ++ Seq("bucket[16]", "identity")),
      ntz -> (time ++ Seq("bucket[16]", "identity")),
      dates -> Seq("day", "month", "year", "bucket[16]"),
      longs -> Seq("truncate[10]", "bucket[16]"),
      ints -> Seq("truncate[10]", "bucket[16]"),
      strs -> Seq("truncate[2]", "bucket[16]"))
    graft.functions.TextHashExprs.register(spark)
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    val diffs = Seq.newBuilder[String]
    try Seq("UTC", "America/Los_Angeles", "Asia/Kathmandu").foreach { zone =>
      spark.conf.set("spark.sql.session.timeZone", zone)
      cases.foreach { case (df, transforms) =>
        val dt = df.schema("v").dataType
        transforms.foreach { t =>
          val label = s"$zone ${dt.simpleString} $t"
          val derive = ManifestPruning.deriver(t, dt,
            java.time.ZoneId.of(zone))
          val got = df.select(col("v"), SnapshotLakeCatalog
            .transformColumn(t, "v", dt).getOrElse(col("v")).cast("string"))
            .queryExecution.toRdd.map(_.copy()).collect()
          assert(got.length == df.count() &&
            got.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
            s"$label: every value must be non-null and derived")
          got.foreach { r =>
            val (v, path) = (r.get(0, dt), r.getUTF8String(1).toString)
            val d = derive(v)
            if (d != path) diffs += s"$label: value $v writer $path derived $d"
          }
        }
      }
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
    assert(diffs.result().isEmpty, diffs.result().mkString("\n"))
  }
}
