package graft.lake

import graft.TestSpark
import graft.xform.StreamMapConfig
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Scale mode commits a load's target tables concurrently: the tables,
  * counts and snapshot history equal the sequential (strict) load's on
  * every carrier; pool threads carry the caller's job group; a failing
  * target fails the load only after every other target has finished; and
  * the session's `maxRecordsPerFile` is restored however the load ends. */
class ConcurrentLoadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshNs(): String = s"cl_${System.nanoTime()}"

  private def schema(stream: String, props: String,
                     keys: Seq[String] = Nil): String = {
    val kp = if (keys.isEmpty) ""
      else keys.map(k => s""""$k"""").mkString(""","key_properties":[""", ",", "]")
    s"""{"type":"SCHEMA","stream":"$stream","schema":{"properties":{$props}}$kp}"""
  }
  private val idV = """"id":{"type":["integer"]},"v":{"type":["number","null"]}"""
  private def rec(stream: String, id: Int, v: Double): String =
    s"""{"type":"RECORD","stream":"$stream","record":{"id":$id,"v":$v}}"""

  /** Two streams aliased onto `merged`, a sorted stream, an upsert stream
    * and an ACTIVATE_VERSION stream, records interleaved across streams. */
  private def feed(sync: Int): Seq[String] = {
    val base = sync * 100
    Seq(schema("a1", idV), schema("a2", idV), schema("s", idV),
      schema("u", idV, Seq("id")), schema("ver", idV),
      s"""{"type":"ACTIVATE_VERSION","stream":"ver","version":$sync}""") ++
      (1 to 6).flatMap { i =>
        Seq(rec("a1", base + i, i), rec("a2", base + 50 + i, -i),
          rec("s", base + (7 - i), i * 2.0),
          rec("u", sync + i, sync * 10.0 + i), rec("ver", base + i, i))
      } :+ s"""{"type":"STATE","value":{"sync":$sync}}"""
  }

  private def loader(cat: LakeCatalog, ns: String,
                     strict: Boolean): BatchLoader =
    new BatchLoader(spark, cat, ns, strictBatches = strict,
      streamMaps = Map(
        "a1" -> StreamMapConfig(alias = Some("merged")),
        "a2" -> StreamMapConfig(alias = Some("merged"))),
      sortedBy = Map("s" -> Seq("id")),
      upsertStreams = Set("u"))

  private def rows(cat: LakeCatalog, ns: String, t: String): Seq[String] =
    cat.load(ns, t).collect().map(_.toString).toSeq.sorted

  private def snapshots(cat: LakeCatalog, ns: String, t: String): Long =
    cat match {
      case sc: SnapshotLakeCatalog => sc.metaTable(ns, t, "snapshots").count()
      case _                       => -1L // the session carrier keeps none
    }

  private val tables = Seq("merged", "s", "u", "ver")

  test("concurrent targets: tables, counts and snapshots equal the " +
    "sequential load's on the directory, REST and session carriers") {
    val rest = RestCatalogStub.start()
    try {
      val carriers: Seq[(String, () => LakeCatalog)] = Seq(
        "directory" -> (() => DirectoryLakeCatalog.temp(spark)),
        "rest" -> (() => new RestLakeCatalog(spark, rest.uri,
          Files.createTempDirectory("graft-rest-wh-"))),
        "session" -> (() => new SessionLakeCatalog(spark)))
      carriers.foreach { case (name, make) =>
        val cat = make()
        val (nsPar, nsSeq) = (freshNs(), freshNs())
        // sync 1 lands in fresh namespaces, sync 2 on the existing tables
        (1 to 2).foreach { sync =>
          val lines = spark.createDataset(feed(sync))
          val par = loader(cat, nsPar, strict = false).load(lines)
          val seq = loader(cat, nsSeq, strict = true).load(lines)
          assert(par.rowsPerStream == seq.rowsPerStream, s"$name sync $sync")
          assert(par.rejectedPerStream == seq.rejectedPerStream)
          assert(par.statesToEcho == Seq(s"""{"sync":$sync}"""))
          assert(par.rowsPerStream("merged") == 12L)
          tables.foreach { t =>
            assert(rows(cat, nsPar, t) == rows(cat, nsSeq, t),
              s"$name sync $sync table $t")
            assert(snapshots(cat, nsPar, t) == snapshots(cat, nsSeq, t),
              s"$name sync $sync table $t snapshots")
          }
        }
        // the ACTIVATE_VERSION table holds only sync 2; the upsert table
        // one row per key 2..8, keys 3..7 at their sync-2 values
        assert(rows(cat, nsPar, "ver").length == 6)
        assert(cat.load(nsPar, "u").count() == 7L)
        assert(cat.load(nsPar, "u").filter($"v" >= 20.0).count() == 6L)
        assert(cat.load(nsPar, "merged").count() == 24L)
        cat.dropNamespace(nsPar); cat.dropNamespace(nsSeq)
      }
    } finally rest.stop()
  }

  private val MaxRecordsKey = "spark.sql.files.maxRecordsPerFile"

  /** Records, per append, the thread it ran on and the session's
    * `maxRecordsPerFile` it saw. */
  private final class Recording
      extends DirectoryLakeCatalog(spark, Files.createTempDirectory("graft-lake-")) {
    val writers = new ConcurrentLinkedQueue[String]
    val maxRecords = new ConcurrentLinkedQueue[Option[String]]
    override def append(ns: String, table: String, df: DataFrame,
                        options: Map[String, String]): Unit = {
      writers.add(Thread.currentThread().getName)
      maxRecords.add(spark.conf.getAll.get(MaxRecordsKey))
      super.append(ns, table, df, options)
    }
  }

  private def plainFeed(streams: Seq[String], n: Int): Seq[String] =
    streams.map(s => schema(s, idV)) ++
      (1 to n).flatMap(i => streams.map(s => rec(s, i, i))) :+
      """{"type":"STATE","value":{"done":true}}"""

  test("every target's write jobs carry the caller's job group and " +
    "description, from the load's pool threads") {
    val ns = freshNs()
    val cat = new Recording
    val starts = new ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.add(js.properties)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("graft-load-test", "three targets", interruptOnCancel = false)
    try {
      val report = new BatchLoader(spark, cat, ns)
        .load(spark.createDataset(plainFeed(Seq("t1", "t2", "t3"), 20)))
      assert(report.rowsPerStream == Map("t1" -> 20L, "t2" -> 20L, "t3" -> 20L))
      Thread.sleep(500) // let the async job-start events drain
      val props = starts.asScala.toSeq
      // the control job plus one write job per target, at least
      assert(props.length >= 4, props.length)
      props.foreach { p =>
        assert(p.getProperty("spark.jobGroup.id") == "graft-load-test")
        assert(p.getProperty("spark.job.description") == "three targets")
      }
      val writers = cat.writers.asScala.toSeq
      assert(writers.length == 3)
      assert(writers.forall(_.startsWith("graft-load-")), writers)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      cat.dropNamespace(ns)
    }
  }

  test("a failing target fails the load after every other target " +
    "finished, each of them wholly committed or not at all") {
    val ns = freshNs()
    val cat = DirectoryLakeCatalog.temp(spark)
    // `bad` is in upsert_streams but its SCHEMA declares no keys
    val lines = plainFeed(Seq("t1", "bad", "t2", "t3"), 200)
    val e = intercept[IllegalArgumentException](
      new BatchLoader(spark, cat, ns, upsertStreams = Set("bad"))
        .load(spark.createDataset(lines)))
    assert(e.getMessage.contains("key_properties"), e.getMessage)
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(_.getName.startsWith("graft-load-")),
      "a load thread outlived the load")
    Seq("t1", "t2", "t3").foreach { t =>
      val n = if (cat.tableExists(ns, t)) cat.load(ns, t).count() else 0L
      assert(n == 0L || n == 200L, s"$t holds a partial load: $n rows")
    }
    cat.dropNamespace(ns)
  }

  test("maxRecordsPerFile is set for the load and restored, set or " +
    "unset, after success and after failure") {
    val key = MaxRecordsKey
    val cat = new Recording
    def explicit: Option[String] = spark.conf.getAll.get(key)
    def run(fail: Boolean): Unit = {
      val ns = freshNs()
      cat.maxRecords.clear()
      val load = new BatchLoader(spark, cat, ns, batchSize = 7,
        upsertStreams = if (fail) Set("t2") else Set.empty)
      val lines = spark.createDataset(plainFeed(Seq("t1", "t2", "t3"), 20))
      if (fail) intercept[IllegalArgumentException](load.load(lines))
      else load.load(lines)
      // every concurrent write saw the load's bound
      assert(cat.maxRecords.asScala.toSeq.nonEmpty)
      assert(cat.maxRecords.asScala.forall(_.contains("7")), cat.maxRecords)
      cat.dropNamespace(ns)
    }
    try {
      Seq(false, true).foreach { fail =>
        spark.conf.unset(key)
        run(fail)
        assert(explicit.isEmpty, s"fail=$fail left $key = $explicit")
        spark.conf.set(key, "123")
        run(fail)
        assert(explicit.contains("123"), s"fail=$fail: $explicit")
      }
    } finally spark.conf.unset(key)
  }
}
