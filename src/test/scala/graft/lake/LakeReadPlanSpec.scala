package graft.lake

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{DateType, DecimalType, IntegerType,
  LongType, StringType, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The snapshot read plan: every snapshot directory sharing a
  * physical schema reads as ONE parquet relation, so an append-only
  * table's plan does not grow with its history, while every read face
  * returns exactly the rows a per-directory read (one
  * `spark.read.parquet` per snapshot directory, the reference below)
  * returns — across evolution, deletes, layouts and time travel. Runs
  * against both snapshot carriers. Relations plan from the manifest
  * ([[ManifestFileIndex]]): building one lists nothing and launches no
  * job, partition predicates prune exactly (also at run time), and the
  * `_metadata` columns position deletes bind to keep Spark's values. */
class LakeReadPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val restServer = RestCatalogStub.start()

  /** A carrier + the data root of one of its tables. `root` is the
    * directory the carrier keeps its tables under. */
  private case class Impl(name: String,
                          make: Path => SnapshotLakeCatalog,
                          dataRoot: (SnapshotLakeCatalog, String, String) => Path)

  private val impls = Seq(
    Impl("directory", root => new DirectoryLakeCatalog(spark, root),
      (cat, ns, t) => cat.asInstanceOf[DirectoryLakeCatalog].root
        .resolve(ns).resolve(t).resolve("data")),
    Impl("rest", root => new RestLakeCatalog(spark, restServer.uri, root),
      (cat, ns, t) => cat.asInstanceOf[RestLakeCatalog].warehouse
        .resolve(ns).resolve(t).resolve("data")))

  private def freshNs(): String = s"rp_${System.nanoTime()}"

  private def fresh(impl: Impl, rootName: String = "wh")
      : (SnapshotLakeCatalog, String) = {
    val root = Files.createTempDirectory("graft-readplan-").resolve(rootName)
    Files.createDirectories(root)
    (impl.make(root), freshNs())
  }

  /** The live data files of the current snapshot, off the files table. */
  private def liveFiles(cat: SnapshotLakeCatalog, ns: String): Seq[String] =
    cat.metaTable(ns, "t", "files").filter(col("content") === 0)
      .select("file_path").as[String].collect().toSeq

  /** The reference read: one `spark.read.parquet` relation PER snapshot
    * directory (basePath recovers partition columns), unioned by name.
    * `fix` aligns one directory's frame (renames); `dirFilter` keeps a
    * directory's rows by predicate (sequence-scoped deletes). */
  private def perDirRead(impl: Impl, cat: SnapshotLakeCatalog, ns: String,
                         files: Seq[String],
                         fix: DataFrame => DataFrame = identity,
                         dirFilter: String => Option[org.apache.spark.sql.Column] =
                           _ => None): DataFrame = {
    val data = impl.dataRoot(cat, ns, "t")
    files.groupBy(f => data.relativize(Paths.get(f)).getName(0).toString)
      .toSeq.sortBy(_._1).map { case (d, fs) =>
        val df = fix(spark.read.option("basePath", data.resolve(d).toString)
          .parquet(fs: _*))
        dirFilter(d).fold(df)(df.filter)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => col(s"`$c`")): _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSameRows(got: DataFrame, ref: DataFrame): Unit = {
    val cols = got.columns.toSeq
    assert(ref.columns.toSet == cols.toSet,
      s"columns ${ref.columns.mkString(",")} vs ${cols.mkString(",")}")
    val (g, r) = (rowsOf(got, cols), rowsOf(ref, cols))
    assert(g.nonEmpty || r.isEmpty)
    assert(g == r)
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  /** Spark jobs launched by `body`, counted once the listener bus has
    * delivered every start and end event. */
  private def jobsOf(body: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var stable = 0
      var last = -1
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (stable < 5 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = started.get()
        if (now == last && ended.get() == now) stable += 1
        else stable = 0
        last = now
      }
      started.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def batch(from: Int, n: Int): DataFrame =
    (from until from + n).map(i => (i.toLong, s"v$i", if (i % 2 == 0) "de" else "en"))
      .toDF("id", "v", "lang").coalesce(1)

  private def appendOnly(cat: SnapshotLakeCatalog, ns: String,
                         depth: Int): Unit = {
    cat.ensureTable(ns, "t", batch(0, 1).schema)
    (0 until depth).foreach(i => cat.append(ns, "t", batch(i * 10, 10)))
  }

  for (impl <- impls) {
    test(s"[${impl.name}] an append-only table plans ONE scan at any " +
      "depth; its read-back job count does not grow with history") {
      // 40 paths: above the 32-path threshold where a listing file index
      // launches a parallel listing job; building a load launches none
      val jobs = Seq(3, 40).map { depth =>
        val (cat, ns) = fresh(impl)
        appendOnly(cat, ns, depth)
        var df: DataFrame = null
        assert(jobsOf { df = cat.load(ns, "t"); () } == 0,
          s"building a load at depth $depth launched a job")
        assert(scans(df).size == 1,
          s"depth $depth planned ${scans(df).size} parquet scans")
        assert(scans(df).head.relation.location.inputFiles.length == depth)
        assertSameRows(df, perDirRead(impl, cat, ns, liveFiles(cat, ns)))
        val n = jobsOf(cat.load(ns, "t").foreach(_ => ()))
        cat.dropNamespace(ns)
        n
      }
      assert(jobs.head == jobs.last,
        s"read-back jobs at depth 3 vs 40: ${jobs.mkString(" vs ")}")
    }

    test(s"[${impl.name}] the footer-schema memo forgets the dirs " +
      "expiry and DROP TABLE delete") {
      val (cat, ns) = fresh(impl)
      appendOnly(cat, ns, 20)
      assert(cat.load(ns, "t").count() == 200)
      cat.compact(ns, "t", 1)
      cat.expireSnapshots(ns, "t", keepLast = 1)
      assert(cat.load(ns, "t").count() == 200)
      val live = liveFiles(cat, ns).map(f => impl.dataRoot(cat, ns, "t")
        .relativize(Paths.get(f)).getName(0)).distinct.size
      assert(live == 1)
      assert(cat.fileSchemaMemoSize <= live,
        s"${cat.fileSchemaMemoSize} memoized schemas for $live live dir")
      cat.dropTable(ns, "t")
      assert(cat.fileSchemaMemoSize == 0)
    }

    test(s"[${impl.name}] an added column reads as two schema groups, " +
      "rows equal to the per-directory read") {
      val (cat, ns) = fresh(impl)
      appendOnly(cat, ns, 2)
      val wide = batch(100, 5).withColumn("w", col("id") * 2)
      cat.ensureTable(ns, "t", wide.schema)
      cat.append(ns, "t", wide)
      cat.append(ns, "t", batch(200, 5).withColumn("w", col("id") * 3))
      val df = cat.load(ns, "t")
      assert(scans(df).size == 2)
      assertSameRows(df, perDirRead(impl, cat, ns, liveFiles(cat, ns)))
      assert(df.filter(col("w").isNull).count() == 20)
    }

    test(s"[${impl.name}] int -> long promotion and a rename align across " +
      "groups exactly like the per-directory read") {
      val (cat, ns) = fresh(impl)
      val narrow = Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1)
      cat.ensureTable(ns, "t", narrow.schema)
      cat.append(ns, "t", narrow)
      cat.append(ns, "t", Seq((3, "c")).toDF("k", "v").coalesce(1))
      cat.ensureTable(ns, "t", StructType(Seq(
        StructField("k", LongType), StructField("v", StringType))))
      cat.append(ns, "t", Seq((4L, "d")).toDF("k", "v").coalesce(1))
      cat.renameColumn(ns, "t", "v", "label")
      cat.append(ns, "t", Seq((5L, "e")).toDF("k", "label").coalesce(1))
      val df = cat.load(ns, "t")
      assert(df.schema("k").dataType == LongType)
      assert(cat.tableSchema(ns, "t") == df.schema)
      val ref = perDirRead(impl, cat, ns, liveFiles(cat, ns),
        fix = d => if (d.columns.contains("v")) d.withColumnRenamed("v", "label")
                   else d)
        .select(col("k").cast(LongType).as("k"), col("label"))
      assertSameRows(df, ref)
      // three physical schemas: (int k, v), (long k, v), (long k, label)
      assert(narrow.schema("k").dataType == IntegerType)
      assert(scans(df).size == 3)
    }

    test(s"[${impl.name}] position deletes and sequence-scoped equality " +
      "deletes mask exactly the per-directory rows") {
      val (cat, ns) = fresh(impl)
      appendOnly(cat, ns, 3)
      val beforePurge = liveFiles(cat, ns)
      val data = impl.dataRoot(cat, ns, "t")
      val oldDirs = beforePurge
        .map(f => data.relativize(Paths.get(f)).getName(0).toString).toSet
      assert(cat.deleteWhereMOR(ns, "t", col("id") === 3L) == 1L)
      assert(cat.purgeKeysMOR(ns, "t", "id", Seq(5L, 12L).toDF("id")) == 2L)
      // re-appended AFTER the purge: a higher sequence, so it survives
      cat.append(ns, "t", Seq((5L, "again", "fr")).toDF("id", "v", "lang")
        .coalesce(1))
      val df = cat.load(ns, "t")
      val ref = perDirRead(impl, cat, ns, liveFiles(cat, ns),
        dirFilter = d =>
          if (oldDirs.contains(d)) Some(not(col("id").isin(3L, 5L, 12L)))
          else None)
      assertSameRows(df, ref)
      assert(df.filter(col("id") === 5L).select("v").as[String].collect()
        .toSeq == Seq("again"))
    }

    test(s"[${impl.name}] tableSchema is load's schema, answered from " +
      "metadata: Singer-declared required fields, a dropped column") {
      val (cat, ns) = fresh(impl)
      val loader = new BatchLoader(spark, cat, ns)
      loader.load(Seq(
        """{"type":"SCHEMA","stream":"t","schema":{"properties":{"id":{"type":"integer"},"x":{"type":["string","null"]},"y":{"type":["number","null"]}}},"key_properties":["id"]}""",
        """{"type":"RECORD","stream":"t","record":{"id":1,"x":"a","y":1.5}}""")
        .toDS())
      assert(cat.tableSchema(ns, "t") == cat.load(ns, "t").schema)
      cat.dropColumn(ns, "t", "y")
      assert(cat.tableSchema(ns, "t") == cat.load(ns, "t").schema)
      assert(!cat.tableSchema(ns, "t").fieldNames.contains("y"))
      val jobs = jobsOf { cat.tableSchema(ns, "t"); () }
      assert(jobs == 0)
    }

    test(s"[${impl.name}] a partitioned directory beside flat ones, a " +
      "pruned loadSlice, loadAt and loadAppendsSince") {
      val (cat, ns) = fresh(impl)
      appendOnly(cat, ns, 2)
      val snap2 = cat.snapshotIds(ns, "t").last
      val files2 = liveFiles(cat, ns)
      cat.updatePartitionSpec(ns, "t", Seq("lang"))
      cat.append(ns, "t", batch(100, 6))
      cat.append(ns, "t", batch(200, 6))
      val all = liveFiles(cat, ns)
      val df = cat.load(ns, "t")
      // the flat dirs share one scan, the partitioned dirs another
      assert(scans(df).size == 2)
      assertSameRows(df, perDirRead(impl, cat, ns, all))
      // slice: manifest stats prune whole files before the row bound
      val slice = cat.loadSlice(ns, "t", "id", "100", "105")
      assertSameRows(slice, perDirRead(impl, cat, ns, all)
        .filter(col("id").between(100L, 105L)))
      assert(scans(slice).map(_.relation.location.inputFiles.length).sum <
        all.size)
      // time travel reads the snapshot's own directories
      assertSameRows(cat.loadAt(ns, "t", snap2),
        perDirRead(impl, cat, ns, files2))
      // the appends after snap2 only
      assertSameRows(cat.loadAppendsSince(ns, "t", snap2),
        perDirRead(impl, cat, ns, all.filterNot(files2.contains)))
    }

    test(s"[${impl.name}] the copy-on-write delete's source-dir tag " +
      "rewrites only the matching directory") {
      val (cat, ns) = fresh(impl)
      appendOnly(cat, ns, 3)
      val before = liveFiles(cat, ns)
      val ref = perDirRead(impl, cat, ns, before)
        .filter(not(col("id").between(10L, 12L))).cache()
      assert(cat.deleteWhere(ns, "t", col("id").between(10L, 12L)) == 3L)
      val after = liveFiles(cat, ns)
      // the other two directories carry over by reference
      assert(before.count(after.contains) == 2)
      assertSameRows(cat.load(ns, "t"), ref)
      ref.unpersist()
    }

    test(s"[${impl.name}] a data root with a space keeps the file-path -> " +
      "directory mapping: tag, sequence scoping and position deletes") {
      val (cat, ns) = fresh(impl, rootName = "lake root")
      appendOnly(cat, ns, 3)
      assert(impl.dataRoot(cat, ns, "t").toString.contains(" "))
      assert(cat.purgeKeysMOR(ns, "t", "id", Seq(1L, 11L).toDF("id")) == 2L)
      cat.append(ns, "t", Seq((1L, "back", "fr")).toDF("id", "v", "lang")
        .coalesce(1))
      assert(cat.deleteWhereMOR(ns, "t", col("id") === 21L) == 1L)
      assert(cat.deleteWhere(ns, "t", col("id") === 22L) == 1L)
      val ids = cat.load(ns, "t").select("id").as[Long].collect().toSeq.sorted
      val expected = ((0 until 30).map(_.toLong)
        .filterNot(Set(1L, 11L, 21L, 22L)) :+ 1L).sorted
      assert(ids == expected)
      assert(cat.load(ns, "t").filter(col("id") === 1L).select("v")
        .as[String].collect().toSeq == Seq("back"))
    }

    test(s"[${impl.name}] a second load of a cached snapshot reads from " +
      "the cache") {
      val (cat, ns) = fresh(impl)
      appendOnly(cat, ns, 2)
      cat.updatePartitionSpec(ns, "t", Seq("lang"))
      cat.append(ns, "t", batch(100, 6))
      val first = cat.load(ns, "t").cache()
      try {
        assert(first.count() == 26L)
        val second = cat.load(ns, "t")
        assert(second.queryExecution.withCachedData
          .collect { case r: InMemoryRelation => r }.nonEmpty,
          "second load did not match the cached plan")
        assert(rowsOf(second, second.columns.toSeq) ==
          rowsOf(first, first.columns.toSeq))
      } finally first.unpersist()
    }
  }

  private def dirCat(): (DirectoryLakeCatalog, String) = {
    val (cat, ns) = fresh(impls.head)
    (cat.asInstanceOf[DirectoryLakeCatalog], ns)
  }

  test("identity partitions of int, long, string, date, decimal and " +
    "timestamp, nulls included: a partition predicate returns exactly " +
    "the matching rows") {
    val (cat, ns) = dirCat()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("s", StringType), StructField("d", DateType),
      StructField("m", DecimalType(9, 2)),
      StructField("ts", TimestampType)))
    val parts = schema.fieldNames.toSeq.drop(1)
    def value(c: Int, n: Int): Any =
      if ((n + c) % 5 == 0) null
      else c match {
        case 0 => n % 3 - 1
        case 1 => (n % 2) * 10000000000L
        case 2 => Seq("a b", "x/y:z", "é")(n % 3)
        case 3 => java.sql.Date.valueOf(s"2024-0${n % 2 + 1}-0${n % 3 + 1}")
        case 4 => new java.math.BigDecimal(s"${n % 3 - 1}.5${n % 2}")
        case _ => java.sql.Timestamp.valueOf(
          s"2024-03-0${n % 2 + 1} 10:3${n % 3}:00.12345${n % 2}")
      }
    val rows = (0 until 12).map(n =>
      Row.fromSeq(n.toLong +: parts.indices.map(value(_, n))))
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    cat.ensureTable(ns, "t", schema, parts)
    cat.append(ns, "t", src.filter(col("id") < 6L))
    cat.append(ns, "t", src.filter(col("id") >= 6L))
    val df = cat.load(ns, "t")
    assert(df.schema.map(f => f.name -> f.dataType) ==
      schema.map(f => f.name -> f.dataType))
    assert(scans(df).size == 1)
    def ids(d: DataFrame): Seq[Long] =
      d.select("id").as[Long].collect().toSeq.sorted
    assert(ids(df) == (0L until 12L))
    parts.zipWithIndex.foreach { case (c, i) =>
      val present = rows.map(_.get(i + 1)).filter(_ != null).distinct
      val preds: Seq[Column] = Seq(col(c).isNull, col(c).isNotNull,
        col(c) === lit(present.head), col(c) > lit(present.head),
        col(c).isin(present.take(2): _*))
      preds.foreach { p =>
        val got = df.filter(p)
        assert(scans(got).head.partitionFilters.nonEmpty,
          s"$p was not a partition filter")
        assert(ids(got) == ids(src.filter(p)), s"rows of $p")
      }
    }
  }

  test("a join whose dimension side is filtered prunes fact files at run " +
    "time (dynamic partition pruning through the index's listFiles)") {
    val (cat, ns) = dirCat()
    val fact = (0 until 40).map(i => (i.toLong, i % 4, s"v$i"))
      .toDF("id", "k", "v").coalesce(1)
    cat.ensureTable(ns, "f", fact.schema, Seq("k"))
    cat.append(ns, "f", fact)
    cat.append(ns, "f", fact)
    val dim = Seq((0, "a"), (1, "b"), (2, "c"), (3, "d"))
      .toDF("k", "name").coalesce(1)
    cat.ensureTable(ns, "d", dim.schema)
    cat.append(ns, "d", dim)
    val joined = cat.load(ns, "f")
      .join(cat.load(ns, "d").filter(col("name") === "b"), "k")
    val got = joined.collect().map(_.getAs[Long]("id")).toSeq.sorted
    assert(got == (0 until 40).filter(_ % 4 == 1).flatMap(i =>
      Seq(i.toLong, i.toLong)).sorted)
    val factScan = collect(joined.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.partitionSchema.nonEmpty => s
    }
    assert(factScan.size == 1)
    assert(factScan.head.partitionFilters
      .exists(_.isInstanceOf[DynamicPruningExpression]))
    // 2 dirs x 4 partitions on disk; the run-time filter keeps k = 1
    assert(factScan.head.metrics("numFiles").value == 2L)
  }

  test("_metadata: file_path is Spark's own, row_index drives position " +
    "deletes, file_modification_time reads the epoch") {
    val (cat, ns) = {
      val root = Files.createTempDirectory("graft-readplan-")
        .resolve("lake root")
      Files.createDirectories(root)
      (new DirectoryLakeCatalog(spark, root), freshNs())
    }
    appendOnly(cat, ns, 2)
    cat.updatePartitionSpec(ns, "t", Seq("lang"))
    cat.append(ns, "t", batch(100, 6))
    val files = liveFiles(cat, ns)
    val rels = cat.load(ns, "t").queryExecution.analyzed
      .collect { case l: LogicalRelation => l }
    assert(rels.size == 2)
    val meta = rels.flatMap(l => GraftSqlBridge.ofRows(spark, l)
      .select("_metadata.file_path", "_metadata.file_size",
        "_metadata.file_modification_time").distinct().collect())
    assert(meta.map(_.getString(0)).toSet == files.map(f =>
      spark.read.parquet(f).select("_metadata.file_path").head()
        .getString(0)).toSet)
    assert(meta.forall(r => r.getLong(1) ==
      Files.size(Paths.get(new java.net.URI(r.getString(0))))))
    assert(meta.forall(_.getTimestamp(2) == new java.sql.Timestamp(0L)))
    // a position delete names the physical row: the delete file's
    // (file_path, pos) is the deleted id's row index in that file
    assert(cat.deleteWhereMOR(ns, "t", col("id").isin(3L, 102L)) == 2L)
    val dataRoot = impls.head.dataRoot(cat, ns, "t")
    val delDir = scala.util.Using.resource(Files.list(dataRoot))(
      _.iterator().asScala.find(_.getFileName.toString.startsWith("del-"))
        .get)
    val positions = spark.read.parquet(delDir.toString).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(positions.length == 2)
    val deleted = positions.map { case (uri, pos) =>
      spark.read.parquet(Paths.get(new java.net.URI(uri)).toString)
        .select(col("id"), col("_metadata.row_index"))
        .filter(col("row_index") === pos).head().getLong(0)
    }
    assert(deleted.toSet == Set(3L, 102L))
    assert(cat.load(ns, "t").select("id").as[Long].collect().toSet ==
      ((0L until 20L) ++ (100L until 106L)).toSet -- Set(3L, 102L))
  }

  test("renameTable rewrites position-delete files and their manifest " +
    "sizes: load returns the same rows before and after") {
    val (cat, ns) = dirCat()
    appendOnly(cat, ns, 3)
    cat.updatePartitionSpec(ns, "t", Seq("lang"))
    cat.append(ns, "t", batch(100, 6))
    assert(cat.deleteWhereMOR(ns, "t", col("id").isin(3L, 101L)) == 2L)
    val cols = Seq("id", "v", "lang")
    val before = rowsOf(cat.load(ns, "t"), cols)
    assert(before.size == 34)
    cat.renameTable(ns, "t", ns, "t_renamed")
    assert(rowsOf(cat.load(ns, "t_renamed"), cols) == before)
    // every manifest entry (data and delete) records its file's size
    val md = cat.root.resolve(ns).resolve("t_renamed").resolve("metadata")
    val entries = scala.util.Using.resource(Files.list(md))(
      _.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("manifest-") && !n.startsWith("manifest-list-")
      }.toSeq).flatMap(AvroManifests.readManifest)
    assert(entries.exists(_.content == 1))
    entries.foreach(e => assert(
      Files.size(Paths.get(e.filePath)) == e.fileSizeInBytes, e.filePath))
    // and every manifest-list record its manifest's length
    val lists = scala.util.Using.resource(Files.list(md))(
      _.iterator().asScala.filter(
        _.getFileName.toString.startsWith("manifest-list-")).toSeq)
      .flatMap(AvroManifests.readManifestList)
    assert(lists.nonEmpty)
    lists.foreach(l => assert(
      Files.size(Paths.get(l.manifestPath)) == l.manifestLength,
      l.manifestPath))
  }

  test("renameTable moves the footer-schema memo's dirs with the table") {
    val (cat, ns) = fresh(impls.head)
    appendOnly(cat, ns, 3)
    assert(cat.load(ns, "t").count() == 30)
    assert(cat.fileSchemaMemoSize == 3)
    cat.asInstanceOf[DirectoryLakeCatalog].renameTable(ns, "t", ns, "u")
    assert(cat.fileSchemaMemoSize == 0)
    assert(cat.load(ns, "u").count() == 30)
    assert(cat.fileSchemaMemoSize == 3)
  }

  test("expiry and DROP TABLE forget only their own table's memoized " +
    "schemas, not those of a table whose name extends its name") {
    val (cat, ns) = fresh(impls.head)
    appendOnly(cat, ns, 20)
    cat.ensureTable(ns, "t0", batch(0, 1).schema)
    (0 until 20).foreach(i => cat.append(ns, "t0", batch(i * 10, 10)))
    assert(cat.load(ns, "t").count() == 200)
    assert(cat.load(ns, "t0").count() == 200)
    assert(cat.fileSchemaMemoSize == 40)
    cat.compact(ns, "t", 1)
    cat.expireSnapshots(ns, "t", keepLast = 1)
    assert(cat.load(ns, "t").count() == 200)
    assert(cat.fileSchemaMemoSize == 20 + 1)
    cat.dropTable(ns, "t")
    assert(cat.fileSchemaMemoSize == 20)
    assert(cat.load(ns, "t0").count() == 200)
  }

  test("lake writes leave no _SUCCESS marker in snapshot or delete-file " +
    "dirs") {
    val (cat, ns) = dirCat()
    appendOnly(cat, ns, 2)
    cat.updatePartitionSpec(ns, "t", Seq("lang"))
    cat.append(ns, "t", batch(100, 6))
    assert(cat.deleteWhereMOR(ns, "t", col("id") === 3L) == 1L)
    assert(cat.purgeKeysMOR(ns, "t", "id", Seq(4L).toDF("id")) == 1L)
    val data = impls.head.dataRoot(cat, ns, "t")
    val names = scala.util.Using.resource(Files.walk(data))(
      _.iterator().asScala.map(_.getFileName.toString).toSeq)
    assert(names.exists(_.startsWith("del-")))
    assert(!names.exists(_.contains("_SUCCESS")))
  }
}
