package graft.lake

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, not}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** The snapshot read plan: every flat snapshot directory sharing a
  * physical schema reads as ONE parquet relation, so an append-only
  * table's plan does not grow with its history, while every read face
  * returns exactly the rows a per-directory read (one
  * `spark.read.parquet` per snapshot directory, the reference below)
  * returns — across evolution, deletes, layouts and time travel. Runs
  * against both snapshot carriers. */
class LakeReadPlanSpec extends AnyFunSuite {
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
      val jobs = Seq(3, 12).map { depth =>
        val (cat, ns) = fresh(impl)
        appendOnly(cat, ns, depth)
        val df = cat.load(ns, "t")
        assert(scans(df).size == 1,
          s"depth $depth planned ${scans(df).size} parquet scans")
        assert(scans(df).head.relation.location.inputFiles.length == depth)
        assertSameRows(df, perDirRead(impl, cat, ns, liveFiles(cat, ns)))
        val n = jobsOf(cat.load(ns, "t").foreach(_ => ()))
        cat.dropNamespace(ns)
        n
      }
      assert(jobs.head == jobs.last,
        s"read-back jobs at depth 3 vs 12: ${jobs.mkString(" vs ")}")
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
      // the flat dirs share one scan; each partitioned dir reads on its own
      assert(scans(df).size == 3)
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
  }
}
