package graft.lake

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Load-path contract (FIXTURES.md §4): N records with batchSize B drain in
  * ceil(N/B) appends preserving input order; STATE is echoed only after all
  * appends are durable; invalid records are dropped; `_sdc_*` metadata is
  * injected when enabled (reference `add_record_metadata`, target.py:16). */
class BatchLoaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schemaLine =
    """{"type":"SCHEMA","stream":"ev","schema":{"properties":{
      |"id":{"type":["integer"]},"v":{"type":["number","null"]}}},
      |"key_properties":["id"]}""".stripMargin.replaceAll("\n", "")
  private def recordLine(i: Int) =
    s"""{"type":"RECORD","stream":"ev","record":{"id":$i,"v":${i * 1.5}}}"""

  // appends run on the loader's pool threads when a load has several
  // target tables
  private final class CountingCatalog extends SessionLakeCatalog(spark) {
    val appends = new java.util.concurrent.atomic.AtomicInteger
    override def append(ns: String, table: String, df: DataFrame,
                        options: Map[String, String]): Unit = {
      appends.incrementAndGet(); super.append(ns, table, df, options)
    }
  }

  private def freshNs(): String = s"bl_${System.nanoTime()}"

  test("strict mode: 25 records / batchSize 10 -> 3 ordered appends + state echo") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns, batchSize = 10,
      strictBatches = true)
    val lines = Seq(schemaLine) ++ (1 to 25).map(recordLine) ++
      Seq("""{"type":"STATE","value":{"bookmark":25}}""")
    val report = loader.load(spark.createDataset(lines))
    assert(cat.appends.get == 3) // 10 + 10 + 5, the sinks.py:18 drain contract
    assert(report.rowsPerStream == Map("ev" -> 25L))
    assert(report.statesToEcho == Seq("""{"bookmark":25}"""))
    val back = cat.load(ns, "ev")
    assert(back.count() == 25)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
      == (1 to 25).sum.toLong)
    cat.dropNamespace(ns)
  }

  test("scale mode: one commit, files bounded by batchSize") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns, batchSize = 10)
    val lines = Seq(schemaLine) ++ (1 to 25).map(recordLine)
    val report = loader.load(spark.createDataset(lines))
    assert(cat.appends.get == 1) // ONE catalog commit, files bounded by maxRecordsPerFile
    assert(report.rowsPerStream("ev") == 25L)
    assert(cat.load(ns, "ev").count() == 25)
    cat.dropNamespace(ns)
  }

  test("decimal load path: multipleOf/singer.decimal land as exact " +
    "DecimalType through the table; overflow and junk are B2 rejections") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val lines = Seq(
      """{"type":"SCHEMA","stream":"dx","schema":{"properties":{""" +
        """"id":{"type":["integer"]},""" +
        """"amt":{"type":["number","null"],"multipleOf":0.01},""" +
        """"px":{"type":["string","null"],"format":"singer.decimal","precision":10,"scale":3}}}}""",
      """{"type":"RECORD","stream":"dx","record":{"id":1,"amt":10.01,"px":"1.500"}}""",
      """{"type":"RECORD","stream":"dx","record":{"id":2,"amt":-2.50,"px":"-0.125"}}""",
      // 0.1 + 0.2 style: the wire text "0.30" parses digit-exact
      """{"type":"RECORD","stream":"dx","record":{"id":3,"amt":0.3,"px":null}}""",
      // precision overflow (8 integer digits > 10-3) and junk: rejected
      """{"type":"RECORD","stream":"dx","record":{"id":4,"px":"123456789.000"}}""",
      """{"type":"RECORD","stream":"dx","record":{"id":5,"px":"not-a-number"}}""")
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream("dx") == 3L)
    assert(report.rejectedPerStream.getOrElse("dx", 0L) == 2L,
      s"overflow + junk must reject, got ${report.rejectedPerStream}")
    val back = cat.load(ns, "dx")
    assert(back.schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 2))
    assert(back.schema("px").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 3))
    // exact decimal SUM — the float64 mapping this extension replaces
    // could not produce 7.81 exactly
    assert(back.agg(org.apache.spark.sql.functions.sum("amt"))
      .head().getDecimal(0).compareTo(new java.math.BigDecimal("7.81")) == 0)
    val px = back.orderBy("id").collect().map(r => Option(r.getDecimal(2)))
    assert(px(0).contains(new java.math.BigDecimal("1.500")) &&
      px(1).contains(new java.math.BigDecimal("-0.125").setScale(3)) &&
      px(2).isEmpty)
    cat.dropNamespace(ns)
  }

  test("type promotion through the load path: a later SCHEMA widening a " +
    "decimal's precision evolves the table; earlier segments' rows read " +
    "back widened, a still-narrow trailing segment casts up") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns, strictBatches = true)
    def schemaD(p: Int) =
      s"""{"type":"SCHEMA","stream":"pm","schema":{"properties":{""" +
        s""""id":{"type":["integer"]},"amt":{"type":["string","null"],""" +
        s""""format":"singer.decimal","precision":$p,"scale":2}}}}"""
    val lines = Seq(
      schemaD(9),
      """{"type":"RECORD","stream":"pm","record":{"id":1,"amt":"12.25"}}""",
      schemaD(18), // the drifting tap outgrew 9 digits: PROMOTION
      """{"type":"RECORD","stream":"pm","record":{"id":2,"amt":"123456789012345.50"}}""",
      schemaD(9),  // ...and a lagging producer re-declares the OLD schema
      """{"type":"RECORD","stream":"pm","record":{"id":3,"amt":"0.25"}}""")
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream("pm") == 3L &&
      report.rejectedPerStream.getOrElse("pm", 0L) == 0L, report.toString)
    val back = cat.load(ns, "pm")
    assert(back.schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 2),
      s"the widest declared precision wins: ${back.schema.catalogString}")
    assert(back.agg(org.apache.spark.sql.functions.sum("amt"))
      .head().getDecimal(0)
      .compareTo(new java.math.BigDecimal("123456789012358.00")) == 0)
    // an UNSAFE change (scale drift) still fails the whole load loudly
    val bad = Seq(schemaD(18),
      """{"type":"RECORD","stream":"pm","record":{"id":9,"amt":"1.00"}}""",
      s"""{"type":"SCHEMA","stream":"pm","schema":{"properties":{""" +
        s""""id":{"type":["integer"]},"amt":{"type":["string","null"],""" +
        s""""format":"singer.decimal","precision":18,"scale":4}}}}""",
      """{"type":"RECORD","stream":"pm","record":{"id":10,"amt":"2.0000"}}""")
    val e = intercept[IllegalArgumentException](
      loader.load(spark.createDataset(bad)))
    assert(e.getMessage.contains("schema drift"), e.getMessage)
    cat.dropNamespace(ns)
  }

  test("invalid records are dropped (SDK validation, SURVEY §2.B2)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val lines = Seq(schemaLine, recordLine(1),
      """{"type":"RECORD","stream":"ev","record": 12}""", // not an object
      recordLine(2))
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream("ev") == 2L)
    cat.dropNamespace(ns)
  }

  test("a JSON-string-encoded record is spec-invalid and REJECTED (B2)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val lines = Seq(schemaLine, recordLine(1),
      // `record` must be an OBJECT; a string whose content happens to be
      // valid JSON must not be unwrapped and admitted as a row
      """{"type":"RECORD","stream":"ev","record":"{\"id\":7,\"v\":9.0}"}""",
      recordLine(2))
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream("ev") == 2L)
    assert(report.rejectedPerStream == Map("ev" -> 1L))
    val back = cat.load(ns, "ev")
    assert(back.filter("id = 7").count() == 0)
    cat.dropNamespace(ns)
  }

  test("wrong-typed field is REJECTED and counted, not null-coerced (B2)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val lines = Seq(schemaLine, recordLine(1),
      // `id` declared "integer"; a string there must reject the record...
      """{"type":"RECORD","stream":"ev","record":{"id":"not-an-int","v":9.0}}""",
      // ...while a legitimate JSON null in a nullable field must NOT
      """{"type":"RECORD","stream":"ev","record":{"id":3,"v":null}}""",
      recordLine(2))
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream("ev") == 3L)
    assert(report.rejectedPerStream == Map("ev" -> 1L))
    val back = cat.load(ns, "ev")
    assert(back.count() == 3)
    // the bad record must not appear as a null-coerced row (v=9.0 marker)
    assert(back.filter("v = 9.0").count() == 0)
    cat.dropNamespace(ns)
  }

  test("strict mode also rejects and counts wrong-typed records (B2)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns, batchSize = 2,
      strictBatches = true)
    val lines = Seq(schemaLine, recordLine(1),
      """{"type":"RECORD","stream":"ev","record":{"id":"bad","v":1.0}}""",
      """{"type":"RECORD","stream":"ev","record":{"id":{"nested":1},"v":2.0}}""",
      recordLine(2), recordLine(3))
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream("ev") == 3L)
    assert(report.rejectedPerStream == Map("ev" -> 2L))
    assert(cat.load(ns, "ev").count() == 3)
    cat.dropNamespace(ns)
  }

  test("records before the first SCHEMA are rejected and counted, not lost") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val lines = Seq(
      recordLine(1), // no schema declared yet -> rejected + counted
      schemaLine, recordLine(2), recordLine(3))
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream("ev") == 2L)
    assert(report.rejectedPerStream == Map("ev" -> 1L))
    assert(cat.load(ns, "ev").count() == 2)
    cat.dropNamespace(ns)
  }

  test("mid-stream SCHEMA change drains then switches (SDK semantics)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    // v2 REMOVES the v field: under the old "last SCHEMA wins retroactively"
    // behavior record 1 would lose its v value; under drain-then-switch each
    // record is typed by the schema declared before it
    val v2 = """{"type":"SCHEMA","stream":"ev","schema":{"properties":{
      |"id":{"type":["integer"]}}}}""".stripMargin.replaceAll("\n", "")
    val lines = Seq(
      schemaLine,  // v1: id + v
      recordLine(1),
      v2,          // v2: id only
      """{"type":"RECORD","stream":"ev","record":{"id":2,"v":99.9}}""")
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream("ev") == 2L)
    val back = cat.load(ns, "ev").collect()
      .map(r => r.getAs[Long]("id") -> Option(r.get(r.fieldIndex("v")))).toMap
    assert(back(1L).contains(1.5), s"pre-switch record lost its value: $back")
    assert(back(2L).isEmpty, s"post-switch record kept an undeclared field: $back")
    cat.dropNamespace(ns)
  }

  test("all six _sdc_* metadata columns injected when enabled (B5)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns, addRecordMetadata = true)
    val lines = Seq(schemaLine, recordLine(1), recordLine(2))
    loader.load(spark.createDataset(lines))
    val cols = cat.load(ns, "ev").columns.toSet
    assert(Set("_sdc_extracted_at", "_sdc_received_at", "_sdc_batched_at",
      "_sdc_deleted_at", "_sdc_sequence", "_sdc_table_version")
      .subsetOf(cols))
    cat.dropNamespace(ns)
  }

  test("_sdc_*_at carry one receipt instant per load, and a warm load " +
    "compiles no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val ns = freshNs()
    val cat = DirectoryLakeCatalog.temp(spark)
    val loader = new BatchLoader(spark, cat, ns, addRecordMetadata = true)
    def feed(from: Int) = spark.createDataset(
      Seq(schemaLine) ++ (from until from + 5).map(recordLine))
    loader.load(feed(1))
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = java.time.Instant.now()
      .truncatedTo(java.time.temporal.ChronoUnit.MICROS)
    loader.load(feed(6))
    val after = java.time.Instant.now()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0 == 0,
      "a same-shaped second load must reuse the first load's classes")
    val stamps = cat.load(ns, "ev").filter($"id" >= 6)
      .select("_sdc_extracted_at", "_sdc_received_at", "_sdc_batched_at")
      .collect()
    assert(stamps.length == 5)
    val distinct = stamps.flatMap(r => (0 until 3).map(r.getTimestamp)).toSet
    assert(distinct.size == 1, distinct)
    val at = distinct.head
    assert(at != null)
    assert(!at.toInstant.isBefore(before) && !at.toInstant.isAfter(after),
      s"$at outside [$before, $after]")
    // the other per-load values are bound by reference too: a SCHEMA
    // shifted by one line (new segment seq bounds) and a new
    // ACTIVATE_VERSION number reuse the warm load's classes
    def compilesOf(feed: Seq[String]): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      loader.load(spark.createDataset(feed))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val shifted = """{"type":"STATE","value":{"bookmark":0}}""" +:
      (Seq(schemaLine) ++ (11 to 15).map(recordLine))
    assert(compilesOf(shifted) == 0,
      "a SCHEMA at a new feed offset must reuse the warm load's classes")
    def versioned(v: Int) = Seq(schemaLine,
      s"""{"type":"ACTIVATE_VERSION","stream":"ev","version":$v}""") ++
      (16 to 20).map(recordLine)
    compilesOf(versioned(1))
    assert(compilesOf(versioned(2)) == 0,
      "a new ACTIVATE_VERSION must reuse the warm load's classes")
    assert(cat.load(ns, "ev").select("_sdc_table_version").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    cat.dropNamespace(ns)
  }

  test("ACTIVATE_VERSION triggers a full-table swap (overwrite, B1)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns, addRecordMetadata = true)
    // first load: 3 rows land
    loader.load(spark.createDataset(Seq(schemaLine) ++ (1 to 3).map(recordLine)))
    assert(cat.load(ns, "ev").count() == 3)
    // second load carries ACTIVATE_VERSION -> table is replaced, not appended
    val swap = Seq(schemaLine, recordLine(7),
      """{"type":"ACTIVATE_VERSION","stream":"ev","version":5}""")
    val report = loader.load(spark.createDataset(swap))
    assert(report.rowsPerStream("ev") == 1L)
    val back = cat.load(ns, "ev")
    assert(back.count() == 1)
    assert(back.select("_sdc_table_version").head().getLong(0) == 5L)
    cat.dropNamespace(ns)
  }

  test("ACTIVATE_VERSION honored in strict mode — same final table as scale mode") {
    // identical feeds through both modes: pre-existing rows, then a versioned
    // swap feed; the old rows must be gone in BOTH (strict used to append)
    def runMode(strict: Boolean): Set[Long] = {
      val ns = freshNs()
      val cat = new CountingCatalog
      new BatchLoader(spark, cat, ns)
        .load(spark.createDataset(Seq(schemaLine) ++ (1 to 3).map(recordLine)))
      assert(cat.load(ns, "ev").count() == 3)
      val loader = new BatchLoader(spark, cat, ns, batchSize = 2,
        strictBatches = strict)
      val swap = Seq(schemaLine,
        """{"type":"ACTIVATE_VERSION","stream":"ev","version":9}""") ++
        (7 to 11).map(recordLine)
      val report = loader.load(spark.createDataset(swap))
      assert(report.rowsPerStream("ev") == 5L)
      val ids = cat.load(ns, "ev").select("id").collect()
        .map(_.getLong(0)).toSet
      cat.dropNamespace(ns)
      ids
    }
    val strictIds = runMode(strict = true)
    assert(strictIds == runMode(strict = false))
    assert(strictIds == (7L to 11L).toSet)
  }

  test("scale-mode count is observed on the write job (no second scan)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    var scans = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        scans += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val lines = Seq(schemaLine) ++ (1 to 20).map(recordLine)
      val report = loader.load(spark.createDataset(lines))
      assert(report.rowsPerStream("ev") == 20L)
      Thread.sleep(500) // let async listener events drain
      // exactly two passes over the feed for a one-stream load: the
      // control-plane aggregation job and the write job (row + reject counts
      // ride it via observe) — no counting pre-pass, no cache fill, no
      // count(). The third allowed job is ensureTable's empty CREATE TABLE
      // write (0 rows, not a feed scan).
      assert(scans <= 3, s"too many jobs for one stream: $scans")
    } finally spark.sparkContext.removeSparkListener(listener)
    cat.dropNamespace(ns)
  }

  test("stream maps + alias apply in the load path (B3)") {
    import graft.xform.StreamMapConfig
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns,
      streamMaps = Map("ev" -> StreamMapConfig(
        columns = Map("v" -> None, "v2" -> Some("v * 10")),
        filter = Some("id >= 2"), alias = Some("ev_mapped"))))
    val lines = Seq(schemaLine) ++ (1 to 3).map(recordLine)
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream == Map("ev_mapped" -> 2L))
    val back = cat.load(ns, "ev_mapped")
    assert(back.columns.toSet == Set("id", "v2"))
    assert(back.agg(org.apache.spark.sql.functions.sum("v2")).head().getDouble(0)
      == (2 * 1.5 + 3 * 1.5) * 10)
    cat.dropNamespace(ns)
  }

  test("strict mode echoes every STATE checkpoint in input order") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns, batchSize = 2,
      strictBatches = true)
    val lines = Seq(schemaLine, recordLine(1),
      """{"type":"STATE","value":{"bookmark":1}}""",
      recordLine(2), recordLine(3),
      """{"type":"STATE","value":{"bookmark":3}}""")
    val report = loader.load(spark.createDataset(lines))
    assert(report.statesToEcho ==
      Seq("""{"bookmark":1}""", """{"bookmark":3}"""))
    cat.dropNamespace(ns)
  }

  test("scale mode reduces STATE to the final checkpoint (bounded driver memory)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val lines = Seq(schemaLine) ++ (1 to 5).flatMap(i =>
      Seq(recordLine(i), s"""{"type":"STATE","value":{"bookmark":$i}}"""))
    val report = loader.load(spark.createDataset(lines))
    assert(report.statesToEcho == Seq("""{"bookmark":5}"""))
    cat.dropNamespace(ns)
  }

  test("BATCH manifests load through the same validated path as inline records") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val dir = java.nio.file.Files.createTempDirectory("graft-batch")
    // part 1: plain JSONL, one bad record (B2 must reject it)
    java.nio.file.Files.write(dir.resolve("p1.jsonl"), java.util.List.of(
      """{"id":10,"v":1.0}""",
      """{"id":"bad","v":2.0}""",
      """{"id":11,"v":3.0}"""))
    // part 2: gzip JSONL (decodes by extension)
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("p2.jsonl.gz")))
    gz.write("""{"id":12,"v":4.0}""".getBytes("UTF-8")); gz.write('\n')
    gz.finish(); gz.close()
    val lines = Seq(schemaLine,
      recordLine(1), // inline records coexist with batch references
      s"""{"type":"BATCH","stream":"ev","encoding":{"format":"jsonl","compression":"none"},"manifest":["${dir.resolve("p1.jsonl")}"]}""",
      s"""{"type":"BATCH","stream":"ev","encoding":{"format":"jsonl","compression":"gzip"},"manifest":["${dir.resolve("p2.jsonl.gz")}"]}""")
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream == Map("ev" -> 4L),
      s"1 inline + 3 valid batch records, got ${report.rowsPerStream}")
    assert(report.rejectedPerStream == Map("ev" -> 1L))
    val ids = cat.load(ns, "ev").collect().map(_.getAs[Long]("id")).sorted
    assert(ids.sameElements(Array(1L, 10L, 11L, 12L)))
    cat.dropNamespace(ns)
  }

  test("a BATCH preceding the stream's first SCHEMA is rejected, not lost") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val dir = java.nio.file.Files.createTempDirectory("graft-batch-pre")
    java.nio.file.Files.write(dir.resolve("p.jsonl"), java.util.List.of(
      """{"id":7,"v":1.0}""", """{"id":8,"v":2.0}"""))
    val lines = Seq(
      s"""{"type":"BATCH","stream":"ev","manifest":["${dir.resolve("p.jsonl")}"]}""",
      schemaLine, recordLine(1))
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream == Map("ev" -> 1L))
    assert(report.rejectedPerStream == Map("ev" -> 2L),
      "pre-SCHEMA batch records must be counted, not silently dropped")
    cat.dropNamespace(ns)
  }

  test("BATCH with a missing manifest file fails loudly, not silently empty") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val lines = Seq(schemaLine,
      """{"type":"BATCH","stream":"ev","encoding":{"format":"jsonl","compression":"none"},"manifest":["/nonexistent/graft/part.jsonl"]}""")
    // a dangling file reference is feed corruption — loading zero rows
    // and echoing STATE would corrupt the bookmark contract
    val e = intercept[Exception](loader.load(spark.createDataset(lines)))
    assert(e.getMessage != null)
    cat.dropNamespace(ns)
  }

  test("upsert_streams: a keyed stream replaces-by-key across loads " +
    "(session carrier = merge; snapshot carrier = upsertMOR); a stream " +
    "without key_properties rejects LOUDLY (VERDICT r12 #6)") {
    val ns = freshNs()
    // session carrier: replace-by-key via merge
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns, upsertStreams = Set("ev"))
    loader.load(spark.createDataset(
      Seq(schemaLine) ++ (1 to 5).map(recordLine)))
    // re-send ids 2 and 4 with changed v, plus the new id 9
    loader.load(spark.createDataset(Seq(schemaLine,
      """{"type":"RECORD","stream":"ev","record":{"id":2,"v":100.0}}""",
      """{"type":"RECORD","stream":"ev","record":{"id":4,"v":200.0}}""",
      """{"type":"RECORD","stream":"ev","record":{"id":9,"v":9.0}}""")))
    val back = cat.load(ns, "ev").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(back == Seq((1L, 1.5), (2L, 100.0), (3L, 4.5), (4L, 200.0),
      (5L, 7.5), (9L, 9.0)), back)
    cat.dropNamespace(ns)
    // snapshot carrier: the MOR one-commit path (no data rewrite)
    val ns2 = freshNs()
    val dcat = DirectoryLakeCatalog.temp(spark)
    val dloader = new BatchLoader(spark, dcat, ns2,
      upsertStreams = Set("ev"))
    dloader.load(spark.createDataset(
      Seq(schemaLine) ++ (1 to 5).map(recordLine)))
    dloader.load(spark.createDataset(Seq(schemaLine,
      """{"type":"RECORD","stream":"ev","record":{"id":3,"v":30.0}}""")))
    assert(dcat.load(ns2, "ev").filter($"id" === 3L).collect()
      .map(_.getDouble(1)).toSeq == Seq(30.0))
    assert(dcat.load(ns2, "ev").count() == 5L)
    assert(dcat.metaTable(ns2, "ev", "files")
      .filter($"content" === 2).count() == 1L,
      "the snapshot carrier must upsert as an equality-delete file")
    dcat.dropNamespace(ns2)
    // keyless stream in upsert_streams: loud, listing the fix
    val ns3 = freshNs()
    val keyless = schemaLine.replace(""","key_properties":["id"]""", "")
    val badLoader = new BatchLoader(spark, new CountingCatalog, ns3,
      upsertStreams = Set("ev"))
    val e = intercept[IllegalArgumentException](badLoader.load(
      spark.createDataset(Seq(keyless, recordLine(1)))))
    assert(e.getMessage.contains("key_properties"), e.getMessage)
    // sorted_by + upsert on one stream: mutually exclusive, loud
    val e2 = intercept[IllegalArgumentException](
      new BatchLoader(spark, new CountingCatalog, ns3,
        upsertStreams = Set("ev"), sortedBy = Map("ev" -> Seq("id")))
        .load(spark.createDataset(Seq(schemaLine, recordLine(1)))))
    assert(e2.getMessage.contains("mutually exclusive"), e2.getMessage)
  }

  test("multi-stream feed routes records per stream") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val schema2 =
      """{"type":"SCHEMA","stream":"ev2","schema":{"properties":{"x":{"type":["string"]}}}}"""
    val lines = Seq(schemaLine, schema2, recordLine(1),
      """{"type":"RECORD","stream":"ev2","record":{"x":"a"}}""", recordLine(2))
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream == Map("ev" -> 2L, "ev2" -> 1L))
    cat.dropNamespace(ns)
  }

  test("schema evolution: added column ALTERs in, old rows read NULL (A12)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    loader.load(spark.createDataset(Seq(schemaLine, recordLine(1))))
    // second feed declares an extra column `tag`
    val schemaV2 =
      """{"type":"SCHEMA","stream":"ev","schema":{"properties":{
        |"id":{"type":["integer"]},"v":{"type":["number","null"]},
        |"tag":{"type":["string","null"]}}}}""".stripMargin.replaceAll("\n", "")
    val rec2 = """{"type":"RECORD","stream":"ev","record":{"id":2,"v":3.0,"tag":"new"}}"""
    loader.load(spark.createDataset(Seq(schemaV2, rec2)))
    val back = cat.load(ns, "ev").orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getAs[String]("tag") == null) // pre-evolution row
    assert(back(1).getAs[String]("tag") == "new")
    cat.dropNamespace(ns)
  }

  test("schema evolution: narrower feed after evolution null-fills, and a type change fails loudly") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val wide =
      """{"type":"SCHEMA","stream":"ev","schema":{"properties":{
        |"id":{"type":["integer"]},"v":{"type":["number","null"]},
        |"tag":{"type":["string","null"]}}}}""".stripMargin.replaceAll("\n", "")
    loader.load(spark.createDataset(Seq(wide,
      """{"type":"RECORD","stream":"ev","record":{"id":1,"v":1.0,"tag":"a"}}""")))
    // an old tap still sending the v1 (2-column) schema keeps working
    loader.load(spark.createDataset(Seq(schemaLine, recordLine(9))))
    assert(cat.load(ns, "ev").count() == 2)
    // type drift: id declared as string now -> loud failure
    val drift =
      """{"type":"SCHEMA","stream":"ev","schema":{"properties":{"id":{"type":["string"]}}}}"""
    val ex = intercept[Exception] {
      loader.load(spark.createDataset(Seq(drift,
        """{"type":"RECORD","stream":"ev","record":{"id":"x"}}""")))
    }
    assert(ex.getMessage.contains("schema drift"))
    cat.dropNamespace(ns)
  }

  test("format:time values load as micros-since-midnight; bad times reject (B6/B2)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val sl = """{"type":"SCHEMA","stream":"tt","schema":{"properties":{
      |"id":{"type":["integer"]},
      |"at":{"type":["string","null"],"format":"time"}}}}"""
      .stripMargin.replaceAll("\n", "")
    val lines = Seq(sl,
      """{"type":"RECORD","stream":"tt","record":{"id":1,"at":"12:34:56"}}""",
      """{"type":"RECORD","stream":"tt","record":{"id":2,"at":"00:00:01.5"}}""",
      // this engine's own micros representation round-trips too
      """{"type":"RECORD","stream":"tt","record":{"id":3,"at":45296000000}}""",
      """{"type":"RECORD","stream":"tt","record":{"id":4,"at":null}}""",
      // unparseable non-null time -> B2 rejection, never a silent null
      """{"type":"RECORD","stream":"tt","record":{"id":5,"at":"25:00:00"}}""",
      // bare micros outside [0, MicrosPerDay) would crash the sink's
      // time-string encoder on export -> B2 rejection at load
      """{"type":"RECORD","stream":"tt","record":{"id":6,"at":-1}}""",
      """{"type":"RECORD","stream":"tt","record":{"id":7,"at":86400000000}}""")
    val report = loader.load(spark.createDataset(lines))
    assert(report.rowsPerStream == Map("tt" -> 4L))
    assert(report.rejectedPerStream == Map("tt" -> 3L))
    val back = cat.load(ns, "tt").orderBy("id").collect()
      .map(r => r.getAs[Long]("id") -> Option(r.get(r.fieldIndex("at")))).toMap
    assert(back(1L).contains((12 * 3600 + 34 * 60 + 56) * 1000000L))
    assert(back(2L).contains(1500000L))
    assert(back(3L).contains(45296000000L))
    assert(back(4L).isEmpty)
    cat.dropNamespace(ns)
  }

  test("typed schema lands in the table (timestamps parsed per format)") {
    val ns = freshNs()
    val cat = new CountingCatalog
    val loader = new BatchLoader(spark, cat, ns)
    val sl = """{"type":"SCHEMA","stream":"tt","schema":{"properties":{
      |"id":{"type":["integer"]},
      |"at":{"type":["string"],"format":"date-time"}}}}"""
      .stripMargin.replaceAll("\n", "")
    val rl = """{"type":"RECORD","stream":"tt","record":{"id":1,"at":"2024-03-01T12:30:00Z"}}"""
    loader.load(spark.createDataset(Seq(sl, rl)))
    val tbl = cat.load(ns, "tt")
    val schema: StructType = tbl.schema
    assert(schema("at").dataType == org.apache.spark.sql.types.TimestampType)
    assert(tbl.selectExpr("unix_timestamp(at)").head().getLong(0) == 1709296200L)
    cat.dropNamespace(ns)
  }
}
