package graft.lake

import graft.TestSpark
import graft.singer.SchemaConv
import org.scalatest.funsuite.AnyFunSuite

/** Regressions for load-path review findings: reserved-name collisions,
  * null-typed validation, JSON-null config values, format:null, drift
  * comparison vs field-id metadata, alias count merging, and
  * ACTIVATE_VERSION without an accompanying SCHEMA. */
class LoadPathRegressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshNs(): String = s"lpr_${System.nanoTime()}"

  test("a user field named 'seq' loads without colliding with the engine column") {
    val ns = freshNs()
    val loader = new BatchLoader(spark, new SessionLakeCatalog(spark), ns)
    val feed = Seq(
      """{"type":"SCHEMA","stream":"s","schema":{"properties":{"seq":{"type":["integer","null"]},"x":{"type":["string","null"]}}}}""",
      """{"type":"RECORD","stream":"s","record":{"seq":7,"x":"a"}}""",
      """{"type":"RECORD","stream":"s","record":{"seq":8,"x":"b"}}""")
    val report = loader.load(feed.toDS())
    assert(report.rowsPerStream == Map("s" -> 2L))
    val rows = spark.table(s"`$ns`.s").orderBy("seq").collect()
    assert(rows.map(_.getAs[Long]("seq")).toSeq == Seq(7L, 8L))
  }

  test("null in a field whose type excludes null is rejected and counted") {
    val ns = freshNs()
    val loader = new BatchLoader(spark, new SessionLakeCatalog(spark), ns)
    val feed = Seq(
      """{"type":"SCHEMA","stream":"s","schema":{"properties":{"id":{"type":["integer"]},"v":{"type":["number","null"]}}}}""",
      """{"type":"RECORD","stream":"s","record":{"id":1,"v":1.5}}""",
      """{"type":"RECORD","stream":"s","record":{"id":null,"v":2.5}}""",
      """{"type":"RECORD","stream":"s","record":{"v":3.5}}""",
      """{"type":"RECORD","stream":"s","record":{"id":4,"v":null}}""")
    val report = loader.load(feed.toDS())
    // id=null and id-missing rejected (non-nullable); v=null fine (nullable)
    assert(report.rowsPerStream == Map("s" -> 2L))
    assert(report.rejectedPerStream == Map("s" -> 2L))
    val ids = spark.table(s"`$ns`.s").collect().map(_.getAs[Long]("id")).sorted
    assert(ids.sameElements(Array(1L, 4L)))
  }

  test("JSON-null config values mean unset, not the string \"null\"") {
    val cfg = TargetConfig.fromJson(
      """{"s3_bucket": null, "iceberg_rest_uri": "u", "iceberg_catalog_name": "c",
        |"iceberg_catalog_namespace_name": "n", "aws_access_key_id": "k",
        |"aws_secret_access_key": "s", "s3_endpoint": "e",
        |"stream_maps": {"s": {"__filter__": null, "__alias__": null}}}"""
        .stripMargin.replaceAll("\n", " ")).toOption.get
    assert(cfg.s3Bucket == "lakehouse", "null bucket must fall back to default")
    val sm = cfg.streamMaps("s")
    assert(sm.filter.isEmpty, "__filter__: null must mean no filter")
    assert(sm.alias.isEmpty, "__alias__: null must mean no alias")
  }

  test("\"format\": null on a string property is StringType, not timestamp") {
    val st = SchemaConv.toStructType(
      """{"properties":{"s":{"type":["string","null"],"format":null}}}""")
    assert(st("s").dataType == org.apache.spark.sql.types.StringType)
  }

  test("additive evolution survives renumbered nested field ids (no false drift)") {
    val ns = freshNs()
    val cat = new SessionLakeCatalog(spark)
    val v1 = SchemaConv.assignFieldIds(SchemaConv.toStructType(
      """{"properties":{"s":{"type":["object","null"],"properties":{"x":{"type":["string","null"]}}}}}"""))
    cat.ensureTable(ns, "t", v1, Nil)
    // adding a property BEFORE the struct renumbers s.x's field id
    val v2 = SchemaConv.assignFieldIds(SchemaConv.toStructType(
      """{"properties":{"a":{"type":["integer","null"]},"s":{"type":["object","null"],"properties":{"x":{"type":["string","null"]}}}}}"""))
    cat.ensureTable(ns, "t", v2, Nil) // must not throw schema-drift
    assert(spark.table(s"`$ns`.t").schema.fieldNames.contains("a"))
  }

  test("two streams aliased to one table: counts sum instead of overwriting") {
    val ns = freshNs()
    val cfgMaps = Map(
      "a" -> graft.xform.StreamMapConfig(Map.empty, None, Some("t")),
      "b" -> graft.xform.StreamMapConfig(Map.empty, None, Some("t")))
    val loader = new BatchLoader(spark, new SessionLakeCatalog(spark), ns,
      streamMaps = cfgMaps)
    val feed = Seq(
      """{"type":"SCHEMA","stream":"a","schema":{"properties":{"id":{"type":["integer","null"]}}}}""",
      """{"type":"SCHEMA","stream":"b","schema":{"properties":{"id":{"type":["integer","null"]}}}}""",
      """{"type":"RECORD","stream":"a","record":{"id":1}}""",
      """{"type":"RECORD","stream":"a","record":{"id":2}}""",
      """{"type":"RECORD","stream":"b","record":{"id":3}}""")
    val report = loader.load(feed.toDS())
    assert(report.rowsPerStream == Map("t" -> 3L),
      s"expected summed counts, got ${report.rowsPerStream}")
    assert(spark.table(s"`$ns`.t").count() == 3)
  }

  test("load path is cache-free: no InMemoryRelation in the write plan, no persisted RDDs") {
    val ns = freshNs()
    var cachedPlans = 0
    // other suites sharing this session legitimately hold persisted RDDs
    // (eager localCheckpoint fixpoints are memoized by design) — the load
    // path's contract is that IT persists nothing, so assert against a
    // baseline snapshot, not a global count of zero
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var persistedDuringWrite: Set[Int] = null
    val cat = new SessionLakeCatalog(spark) {
      override def append(n: String, t: String, df: org.apache.spark.sql.DataFrame,
                          options: Map[String, String]): Unit = {
        cachedPlans += df.queryExecution.optimizedPlan.collect {
          case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
        }.size
        persistedDuringWrite =
          spark.sparkContext.getPersistentRDDs.keySet.toSet
        super.append(n, t, df, options)
      }
    }
    val loader = new BatchLoader(spark, cat, ns)
    val feed = Seq(
      """{"type":"SCHEMA","stream":"s","schema":{"properties":{"id":{"type":["integer","null"]}}}}""") ++
      (1 to 50).map(i => s"""{"type":"RECORD","stream":"s","record":{"id":$i}}""")
    val report = loader.load(feed.toDS())
    assert(report.rowsPerStream == Map("s" -> 50L))
    assert(cachedPlans == 0, "write plan must re-scan the source, not a cache")
    assert((persistedDuringWrite -- persistedBefore).isEmpty,
      "the load path may not persist any RDD while the write job runs " +
        "(100 TB would spill)")
  }

  test("loadPaths orders by (file, byte offset): cross-file SCHEMA-before-RECORD holds") {
    val ns = freshNs()
    val dir = java.nio.file.Files.createTempDirectory("graft-lp")
    // file order is the sorted listing: a.jsonl then b.jsonl. The SCHEMA sits
    // at the END of a.jsonl — records in b.jsonl must still type under it,
    // while the record EARLIER in a.jsonl (lower byte offset) is rejected.
    java.nio.file.Files.write(dir.resolve("a.jsonl"), java.util.List.of(
      """{"type":"RECORD","stream":"s","record":{"id":1}}""",
      """{"type":"SCHEMA","stream":"s","schema":{"properties":{"id":{"type":["integer","null"]}}}}"""))
    java.nio.file.Files.write(dir.resolve("b.jsonl"), java.util.List.of(
      """{"type":"RECORD","stream":"s","record":{"id":2}}""",
      """{"type":"RECORD","stream":"s","record":{"id":3}}"""))
    val loader = new BatchLoader(spark, new SessionLakeCatalog(spark), ns)
    val report = loader.loadPaths(Seq(dir.toString))
    assert(report.rowsPerStream == Map("s" -> 2L))
    assert(report.rejectedPerStream == Map("s" -> 1L))
    assert(spark.table(s"`$ns`.s").collect().map(_.getAs[Long]("id")).sorted
      .sameElements(Array(2L, 3L)))
  }

  test("loadPaths drain-then-switch segments split at in-file byte offsets") {
    val ns = freshNs()
    val dir = java.nio.file.Files.createTempDirectory("graft-lp2")
    java.nio.file.Files.write(dir.resolve("feed.jsonl"), java.util.List.of(
      """{"type":"SCHEMA","stream":"s","schema":{"properties":{"id":{"type":["integer"]},"v":{"type":["number","null"]}}}}""",
      """{"type":"RECORD","stream":"s","record":{"id":1,"v":1.5}}""",
      """{"type":"SCHEMA","stream":"s","schema":{"properties":{"id":{"type":["integer"]}}}}""",
      """{"type":"RECORD","stream":"s","record":{"id":2,"v":9.9}}""",
      """{"type":"STATE","value":{"done":1}}"""))
    val loader = new BatchLoader(spark, new SessionLakeCatalog(spark), ns)
    val report = loader.loadPaths(Seq(dir.resolve("feed.jsonl").toString))
    assert(report.rowsPerStream == Map("s" -> 2L))
    assert(report.statesToEcho == Seq("""{"done":1}"""))
    val back = spark.table(s"`$ns`.s").collect()
      .map(r => r.getAs[Long]("id") -> Option(r.get(r.fieldIndex("v")))).toMap
    assert(back(1L).contains(1.5), "pre-switch record must keep v")
    assert(back(2L).isEmpty, "post-switch record must drop undeclared v")
  }

  test("ACTIVATE_VERSION with no SCHEMA in the feed still truncates the table") {
    val ns = freshNs()
    val loader = new BatchLoader(spark, new SessionLakeCatalog(spark), ns)
    loader.load(Seq(
      """{"type":"SCHEMA","stream":"s","schema":{"properties":{"id":{"type":["integer","null"]}}}}""",
      """{"type":"RECORD","stream":"s","record":{"id":1}}""").toDS())
    assert(spark.table(s"`$ns`.s").count() == 1)
    // a later feed carrying ONLY the version-swap signal
    val report = loader.load(Seq(
      """{"type":"ACTIVATE_VERSION","stream":"s","version":2}""").toDS())
    assert(report.rowsPerStream == Map("s" -> 0L))
    assert(spark.table(s"`$ns`.s").count() == 0,
      "stale rows must not survive a version swap")
  }

  test("an interrupted commit cancels its queued footer reads: the shared " +
    "pool drains and the next commit lands") {
    val pool = AvroManifests.footerPool
      .asInstanceOf[java.util.concurrent.ThreadPoolExecutor]
    val dir = java.nio.file.Files.createTempDirectory("graft-footer-")
      .resolve("d")
    val nFiles = 24
    spark.range(0, nFiles.toLong, 1, nFiles).write.parquet(dir.toString)
    // occupy every pool thread, so the scan's reads can only queue
    val gate = new java.util.concurrent.CountDownLatch(1)
    val busy = new java.util.concurrent.CountDownLatch(pool.getMaximumPoolSize)
    val blockers = (1 to pool.getMaximumPoolSize).map(_ =>
      pool.submit(new Runnable {
        override def run(): Unit = { busy.countDown(); gate.await() }
      }))
    val queued =
      try {
        assert(busy.await(30, java.util.concurrent.TimeUnit.SECONDS))
        val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]
        val committer = new Thread(() =>
          try { AvroManifests.scanDataDir(dir, Seq.empty); () }
          catch { case e: Throwable => thrown.set(e) })
        committer.start()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (pool.getQueue.size < nFiles && System.nanoTime() < deadline)
          Thread.sleep(5)
        assert(pool.getQueue.size >= nFiles, "the scan's reads never queued")
        committer.interrupt()
        committer.join(30000)
        assert(thrown.get().isInstanceOf[InterruptedException],
          s"the committer must abort on the interrupt, got ${thrown.get()}")
        pool.purge() // drops cancelled tasks from the queue
        pool.getQueue.size
      } finally {
        gate.countDown()
        blockers.foreach(_.get())
      }
    assert(queued == 0,
      s"$queued footer reads of the aborted commit stayed queued")
    // the pool serves the next commit (multi-file, so it reads in parallel)
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = freshNs()
    val df = spark.range(0, 40, 1, 4).toDF("id")
    cat.ensureTable(ns, "t", df.schema)
    cat.append(ns, "t", df)
    assert(cat.load(ns, "t").count() == 40)
  }
}
