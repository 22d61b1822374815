package graft.sql

import graft.TestSpark
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `df.writeStream.toTable("graft.ns.t")` — the native exactly-once
  * streaming sink ([[GraftStreamingWrite]]): lake-to-lake streaming
  * pipelines through plain SQL surfaces, epoch-marker idempotence,
  * complete-mode overwrites, and the partitioned-target refusal. */
class GraftStreamWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val cat: String = {
    val wh = Files.createTempDirectory("graft-swrite-").toString
    spark.conf.set("spark.sql.catalog.gsink", "graft.sql.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gsink.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsink.s")
    "gsink"
  }

  private def lake = spark.sessionState.catalogManager.catalog("gsink")
    .asInstanceOf[GraftSqlCatalog].lake

  private def rows(t: String): Seq[(Long, String)] =
    spark.sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("lake-to-lake streaming pipe: readStream.table -> " +
    "writeStream.toTable, checkpoint restart appends only the new rows") {
    val src = s"$cat.s.psrc"; val dst = s"$cat.s.pdst"
    spark.sql(s"CREATE TABLE $src (id BIGINT, v STRING)")
    spark.sql(s"CREATE TABLE $dst (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $src VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $src VALUES (3, 'c')")
    val ckpt = Files.createTempDirectory("ckpt-pipe-").toString
    def pipe(): Unit = {
      val q = spark.readStream.option("maxFilesPerTrigger", "1")
        .table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    pipe()
    assert(rows(dst) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // paced source -> one sink snapshot per epoch (2 source snapshots)
    assert(lake.snapshotIds("s", "pdst").length == 2)
    spark.sql(s"INSERT INTO $src VALUES (4, 'd')")
    pipe()
    assert(rows(dst) == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      "restart duplicated or dropped rows")
    assert(lake.snapshotIds("s", "pdst").length == 3)
  }

  test("epoch replay publishes nothing: the marker and the snapshot are " +
    "one atomic swap") {
    val t = s"$cat.s.replay"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    import spark.implicits._
    def writeEpochDir(): (String, Set[String]) = {
      val dir = s"stream-test-${System.nanoTime()}"
      val p = lake.streamingDir("s", "replay", dir)
      Seq((1L, "x")).toDF("id", "v").coalesce(1).write
        .mode("overwrite").parquet(p.toString)
      val fs = scala.util.Using.resource(Files.walk(p))(s =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala.filter(_.toString.endsWith(".parquet"))
          .map(_.toString).toSet)
      (dir, fs)
    }
    val (d1, f1) = writeEpochDir()
    assert(lake.commitStreamingEpoch("s", "replay", "q-42", 7L, d1, f1,
      replaceEach = false))
    assert(rows(t) == Seq((1L, "x")))
    // replay of epoch 7 (and anything older) is a no-op and reclaims
    // its re-written directory
    val (d2, f2) = writeEpochDir()
    assert(!lake.commitStreamingEpoch("s", "replay", "q-42", 7L, d2, f2,
      replaceEach = false))
    assert(rows(t) == Seq((1L, "x")), "replayed epoch duplicated rows")
    assert(!Files.exists(lake.streamingDir("s", "replay", d2)))
    // a DIFFERENT query's epoch 7 is independent
    val (d3, f3) = writeEpochDir()
    assert(lake.commitStreamingEpoch("s", "replay", "q-43", 7L, d3, f3,
      replaceEach = false))
    assert(rows(t) == Seq((1L, "x"), (1L, "x")))
  }

  test("complete mode overwrites per epoch (aggregate stream into a " +
    "lake table)") {
    val src = s"$cat.s.csrc"; val dst = s"$cat.s.cdst"
    spark.sql(s"CREATE TABLE $src (id BIGINT, v STRING)")
    spark.sql(s"CREATE TABLE $dst (v STRING, n BIGINT)")
    spark.sql(s"INSERT INTO $src VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    val ckpt = Files.createTempDirectory("ckpt-complete-").toString
    def agg(): Unit = {
      val q = spark.readStream.table(src)
        .groupBy("v").count().toDF("v", "n")
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable(dst)
      q.awaitTermination()
    }
    agg()
    val first = spark.sql(s"SELECT v, n FROM $dst ORDER BY v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(first == Seq(("a", 2L), ("b", 1L)))
    spark.sql(s"INSERT INTO $src VALUES (4, 'b'), (5, 'b')")
    agg()
    val second = spark.sql(s"SELECT v, n FROM $dst ORDER BY v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(second == Seq(("a", 2L), ("b", 3L)),
      s"complete mode must replace, got $second")
  }

  test("identity-partitioned target: the fanout writer reproduces the " +
    "batch layout — partition values restore and files prune") {
    val src = s"$cat.s.fsrc"; val dst = s"$cat.s.fdst"
    spark.sql(s"CREATE TABLE $src (id BIGINT, v STRING)")
    spark.sql(s"CREATE TABLE $dst (id BIGINT, v STRING) " +
      "PARTITIONED BY (v)")
    spark.sql(s"INSERT INTO $src VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    spark.readStream.table(src)
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("ckpt-fan-").toString)
      .trigger(Trigger.AvailableNow()).toTable(dst)
      .awaitTermination()
    assert(spark.sql(s"SELECT id, v FROM $dst ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "a")))
    // the layout is the batch writer's: every data file sits under its
    // `v=...` Hive dir (what the manifest scan derives tuples from)
    val files = lake.metaTable("s", "fdst", "files")
      .filter("content = 0")
      .select("file_path").collect().map(_.getString(0)).toSeq
    assert(files.nonEmpty && files.forall(p => p.contains("v=")),
      s"files carry no partition layout: $files")
    assert(files.exists(_.contains("v=a")) &&
      files.exists(_.contains("v=b")))
    // mixed batch + streaming writes interleave on one table
    spark.sql(s"INSERT INTO $dst VALUES (4, 'c')")
    assert(spark.sql(s"SELECT count(*) FROM $dst WHERE v = 'a'")
      .head().getLong(0) == 2L)
  }

  /** The partition-dir segments (`k=v/...`) each data file sits under,
    * with per-dir row counts — the layout identity two writers must
    * agree on. */
  private def layoutOf(table: String): Map[String, Long] =
    lake.metaTable("s", table, "files").filter("content = 0")
      .select("file_path", "record_count").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy { case (p, _) =>
        p.split("/").filter(_.contains("=")).mkString("/")
      }.map { case (k, vs) => k -> vs.map(_._2).sum }

  test("identity(ts) targets stream in the batch writer's layout: " +
    "timestamptz and ntz read back exactly with ANSI on and off") {
    for ((tpe, sfx) <- Seq("TIMESTAMP" -> "tz", "TIMESTAMP_NTZ" -> "ntz")) {
      val src = s"$cat.s.isrc$sfx"; val dst = s"$cat.s.idst$sfx"
      val batch = s"$cat.s.ibat$sfx"
      spark.sql(s"CREATE TABLE $src (id BIGINT, ts $tpe)")
      spark.sql(s"INSERT INTO $src VALUES (1, $tpe'2023-11-14 22:13:20'), " +
        s"(2, $tpe'2023-11-14 22:13:20.123456'), " +
        s"(3, $tpe'1969-12-31 23:59:59.999999'), (4, NULL)")
      Seq(dst, batch).foreach(t =>
        spark.sql(s"CREATE TABLE $t (id BIGINT, ts $tpe) PARTITIONED BY (ts)"))
      spark.readStream.table(src)
        .writeStream.option("checkpointLocation",
          Files.createTempDirectory(s"ckpt-ident-$sfx-").toString)
        .trigger(Trigger.AvailableNow()).toTable(dst)
        .awaitTermination()
      spark.sql(s"INSERT INTO $batch SELECT id, ts FROM $src")
      assert(layoutOf(s"idst$sfx") == layoutOf(s"ibat$sfx"),
        s"$tpe: streamed ${layoutOf(s"idst$sfx")} != batch " +
          s"${layoutOf(s"ibat$sfx")}")
      val want = spark.sql(s"SELECT id, ts FROM $src ORDER BY id")
        .collect().toSeq
      assert(want.length == 4)
      val ansi0 = spark.conf.get("spark.sql.ansi.enabled")
      try Seq("true", "false").foreach { ansi =>
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        assert(spark.sql(s"SELECT id, ts FROM $dst ORDER BY id").collect()
          .toSeq == want, s"$tpe SQL scan, ansi=$ansi")
        assert(lake.load("s", s"idst$sfx").select("id", "ts").orderBy("id")
          .collect().toSeq == want, s"$tpe load, ansi=$ansi")
      } finally spark.conf.set("spark.sql.ansi.enabled", ansi0)
    }
  }

  test("transform-partitioned targets stream through the fanout derive: " +
    "days(ts) + bucket(N,id) layouts are byte-identical to the batch " +
    "writer's") {
    val src = s"$cat.s.tsrc"
    spark.sql(s"CREATE TABLE $src (id BIGINT, ts TIMESTAMP)")
    spark.sql(s"INSERT INTO $src VALUES " +
      "(1, TIMESTAMP'2026-01-01 03:00:00'), " +
      "(2, TIMESTAMP'2026-01-02 04:00:00'), " +
      "(3, TIMESTAMP'2026-01-01 23:59:59'), " +
      "(4, TIMESTAMP'2026-02-11 00:00:00')")
    for ((layout, suffix) <- Seq("days(ts)" -> "day",
                                 "bucket(4, id)" -> "bkt")) {
      val streamed = s"$cat.s.t$suffix"; val batch = s"$cat.s.b$suffix"
      spark.sql(s"CREATE TABLE $streamed (id BIGINT, ts TIMESTAMP) " +
        s"PARTITIONED BY ($layout)")
      spark.sql(s"CREATE TABLE $batch (id BIGINT, ts TIMESTAMP) " +
        s"PARTITIONED BY ($layout)")
      spark.readStream.table(src)
        .writeStream.option("checkpointLocation",
          Files.createTempDirectory(s"ckpt-$suffix-").toString)
        .trigger(Trigger.AvailableNow()).toTable(streamed)
        .awaitTermination()
      spark.sql(s"INSERT INTO $batch SELECT id, ts FROM $src")
      assert(layoutOf(s"t$suffix") == layoutOf(s"b$suffix"),
        s"$layout: streamed layout ${layoutOf(s"t$suffix")} != batch " +
          s"${layoutOf(s"b$suffix")}")
      assert(spark.sql(s"SELECT id FROM $streamed ORDER BY id").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    }
    // and the streamed day layout actually PRUNES: a one-day filter
    // reads fewer files than the table holds
    val all = layoutOf("tday").size
    assert(all == 3, s"expected 3 day dirs, got $all")
  }

  test("the streaming loop is carrier-generic: readStream -> toTable " +
    "on a REST-carrier catalog (server-side CAS, local data root)") {
    val server = graft.lake.RestCatalogStub.start()
    try {
      val wh = Files.createTempDirectory("graft-srest-").toString
      spark.conf.set("spark.sql.catalog.gsrest", "graft.sql.GraftSqlCatalog")
      spark.conf.set("spark.sql.catalog.gsrest.uri", server.uri)
      spark.conf.set("spark.sql.catalog.gsrest.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gsrest.s")
      spark.sql("CREATE TABLE gsrest.s.src (id BIGINT, v STRING)")
      spark.sql("CREATE TABLE gsrest.s.dst (id BIGINT, v STRING)")
      spark.sql("INSERT INTO gsrest.s.src VALUES (1, 'a')")
      spark.sql("INSERT INTO gsrest.s.src VALUES (2, 'b')")
      val ckpt = Files.createTempDirectory("ckpt-rest-").toString
      def pipe(): Unit =
        spark.readStream.option("maxFilesPerTrigger", "1")
          .table("gsrest.s.src")
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).toTable("gsrest.s.dst")
          .awaitTermination()
      pipe()
      def got(): Seq[(Long, String)] =
        spark.sql("SELECT id, v FROM gsrest.s.dst ORDER BY id").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got() == Seq((1L, "a"), (2L, "b")))
      // restart: only the new commit streams, exactly once
      spark.sql("INSERT INTO gsrest.s.src VALUES (3, 'c')")
      pipe()
      assert(got() == Seq((1L, "a"), (2L, "b"), (3L, "c")))
      spark.sql("DROP NAMESPACE gsrest.s CASCADE")
    } finally server.stop()
  }

  test("crashed-attempt streaming debris is ordinary orphan debt: " +
    "remove_orphan_files reclaims an unpublished epoch dir") {
    val t = s"$cat.s.orphan"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')")
    // simulate an attempt that wrote files but died before its commit:
    // the dir exists, no snapshot references it
    import spark.implicits._
    val dead = s"stream-dead-${System.nanoTime()}"
    Seq((9L, "zombie")).toDF("id", "v").coalesce(1).write
      .parquet(lake.streamingDir("s", "orphan", dead).toString)
    assert(Files.exists(lake.streamingDir("s", "orphan", dead)))
    spark.sql(s"CALL $cat.system.remove_orphan_files('s.orphan', 0)")
    assert(!Files.exists(lake.streamingDir("s", "orphan", dead)),
      "the unpublished epoch dir must be reclaimed as orphan debt")
    // and the published data is untouched
    assert(rows(t) == Seq((1L, "a")))
  }

  test("legacy writeBucketed whole-table clustering refuses with the " +
    "rewrite route named") {
    import spark.implicits._
    lake.writeBucketed("s", "wb", Seq((1L, "a")).toDF("id", "v"),
      Seq("id"), 4)
    val src = s"$cat.s.wbsrc"
    spark.sql(s"CREATE TABLE $src (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $src VALUES (2, 'b')")
    val e = intercept[Exception] {
      spark.readStream.table(src)
        .writeStream.option("checkpointLocation",
          Files.createTempDirectory("ckpt-wb-").toString)
        .trigger(Trigger.AvailableNow()).toTable(s"$cat.s.wb")
        .awaitTermination()
    }
    def mentions(t0: Throwable): Boolean = t0 != null &&
      (Option(t0.getMessage).exists(_.contains("foreachBatch")) ||
        mentions(t0.getCause))
    assert(mentions(e), e.toString)
  }
}
