package graft.sql

import graft.TestSpark
import graft.lake.SnapshotLakeCatalog
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min, when}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Manifest-bound file pruning through both read faces — the library's
  * `loadSlice` and the SQL scan (pushed and runtime filters) — which
  * share one evaluator ([[graft.lake.ManifestPruning]]). Every case
  * checks the rows against the unpruned read, that no dropped file holds
  * a matching row, and (where the layout can prune) that files were
  * dropped at all. */
class ManifestPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val cat: String = {
    val wh = Files.createTempDirectory("graft-pruning-").toString
    spark.conf.set("spark.sql.catalog.gmp", "graft.sql.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gmp.warehouse", wh)
    "gmp"
  }

  private def lake: SnapshotLakeCatalog =
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftSqlCatalog].lake

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => col(s"`$c`")): _*).collect()
      .map(_.toString).toSeq.sorted

  /** A path as `input_file_name`, `inputFiles` and the manifest spell it
    * — reduced to the local file path. */
  private def norm(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  /** Files the native SQL scan planned (None: the composed plan read). */
  private def sqlFiles(df: DataFrame): Option[Set[String]] = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case b: BatchScanExec => b }.headOption.map(
      _.inputPartitions.flatMap(_.asInstanceOf[GraftInputPartition]
        .files.map(f => norm(f.path))).toSet)
  }

  /** Per file of the unpruned read: (min, max, rows matching `pred`). */
  private def perFile(ns: String, t: String, c: String,
                      pred: Column): Map[String, (Any, Any, Long)] =
    lake.load(ns, t).withColumn("_f", input_file_name())
      .groupBy("_f").agg(min(col(s"`$c`")), max(col(s"`$c`")),
        count(when(pred, 1)))
      .collect().map(r => norm(r.getString(0)) ->
        (r.get(1), r.get(2), r.getLong(3))).toMap

  private def assertDroppedHoldNoMatch(label: String,
      stats: Map[String, (Any, Any, Long)], kept: Set[String]): Unit =
    stats.foreach { case (f, (lo, hi, n)) =>
      assert(kept.contains(f) || n == 0L,
        s"$label dropped $f [$lo, $hi] holding $n matching row(s)")
    }

  /** One parity case: a layout, batches appended one commit each, and a
    * slice `column in [from, to]`; `prunes` = the layout can drop files
    * for this slice. */
  private case class Case(name: String, partitionBy: Seq[String],
                          batches: () => Seq[DataFrame], column: String,
                          from: String, to: String, prunes: Boolean)

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def day(s: String) = java.sql.Date.valueOf(s)

  private def cases: Seq[Case] = Seq(
    Case("identity long", Seq("k"), () => Seq(
      Seq((1L, 1L), (2L, 1L)).toDF("id", "k"),
      Seq((3L, 2L)).toDF("id", "k"), Seq((4L, 3L)).toDF("id", "k")),
      "k", "2", "3", prunes = true),
    Case("identity string", Seq("k"), () => Seq(
      Seq((1L, "a")).toDF("id", "k"), Seq((2L, "b")).toDF("id", "k"),
      Seq((3L, "c")).toDF("id", "k")),
      "k", "b", "b", prunes = true),
    Case("identity date", Seq("k"), () => Seq(
      Seq((1L, day("2024-01-01"))).toDF("id", "k"),
      Seq((2L, day("2024-01-02"))).toDF("id", "k"),
      Seq((3L, day("2024-01-03"))).toDF("id", "k")),
      "k", "2024-01-02", "2024-01-03", prunes = true),
    Case("identity double", Seq("k"), () => Seq(
      Seq((1L, 7.0)).toDF("id", "k"), Seq((2L, 10.0)).toDF("id", "k"),
      Seq((3L, 30.0)).toDF("id", "k")),
      "k", "5", "20", prunes = true),
    Case("days(ts)", Seq("days(ts)"), () => Seq(
      Seq((1L, ts("2024-01-01 05:00:00"))).toDF("id", "ts"),
      Seq((2L, ts("2024-01-02 23:30:00"))).toDF("id", "ts"),
      Seq((3L, ts("2024-01-03 00:00:01"))).toDF("id", "ts")),
      "ts", "2024-01-02 12:00:00", "2024-01-02 23:59:59", prunes = true),
    Case("months(ts)", Seq("months(ts)"), () => Seq(
      Seq((1L, ts("2024-01-31 23:00:00"))).toDF("id", "ts"),
      Seq((2L, ts("2024-02-15 00:00:00"))).toDF("id", "ts"),
      Seq((3L, ts("2024-03-01 00:00:00"))).toDF("id", "ts")),
      "ts", "2024-02-01 00:00:00", "2024-02-29 23:59:59", prunes = true),
    Case("hours(ts)", Seq("hours(ts)"), () => Seq(
      Seq((1L, ts("2024-01-01 04:59:59"))).toDF("id", "ts"),
      Seq((2L, ts("2024-01-01 05:10:00"))).toDF("id", "ts"),
      Seq((3L, ts("2024-01-01 06:00:00"))).toDF("id", "ts")),
      "ts", "2024-01-01 05:00:00", "2024-01-01 05:30:00", prunes = true),
    Case("years(ts)", Seq("years(ts)"), () => Seq(
      Seq((1L, ts("2022-12-31 23:59:59"))).toDF("id", "ts"),
      Seq((2L, ts("2023-06-01 00:00:00"))).toDF("id", "ts"),
      Seq((3L, ts("2024-01-01 00:00:00"))).toDF("id", "ts")),
      "ts", "2023-01-01 00:00:00", "2023-12-31 23:59:59", prunes = true),
    Case("truncate long", Seq("truncate(10, v)"), () => Seq(
      Seq((1L, -15L), (2L, -7L)).toDF("id", "v"),
      Seq((3L, 0L), (4L, 5L)).toDF("id", "v"),
      Seq((5L, 12L), (6L, 19L)).toDF("id", "v")),
      "v", "-10", "-1", prunes = true),
    Case("truncate string", Seq("truncate(2, s)"), () => Seq(
      Seq((1L, "aa1"), (2L, "aa2")).toDF("id", "s"),
      Seq((3L, "ab1")).toDF("id", "s"), Seq((4L, "ba1")).toDF("id", "s")),
      "s", "ab", "az", prunes = true),
    Case("bucket point lookup", Seq("bucket(4, id)"), () => Seq(
      (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v")),
      "id", "7", "7", prunes = true),
    Case("bounds long", Nil, () => Seq(
      (1L to 10L).toDF("id"), (11L to 20L).toDF("id"),
      (21L to 30L).toDF("id")),
      "id", "12", "18", prunes = true),
    Case("bounds string", Nil, () => Seq(
      Seq("a1", "a9").toDF("s"), Seq("b1", "b9").toDF("s"),
      Seq("c1", "c9").toDF("s")),
      "s", "b0", "b5", prunes = true),
    // a file whose max is -0.0 matches a 0.0 lower bound; a file with NaN
    // rows matches every one-sided lower bound (NaN sorts above numbers)
    Case("bounds double", Nil, () => Seq(
      Seq(-1.0, -0.0).toDF("x"), Seq(1.0, Double.NaN).toDF("x"),
      Seq(5.0, 6.0).toDF("x")),
      "x", "0", "2", prunes = true),
    Case("bounds decimal", Nil, () => Seq(
      Seq(BigDecimal("1.25"), BigDecimal("2.50")).toDF("d"),
      Seq(BigDecimal("7.25"), BigDecimal("10.50")).toDF("d"),
      Seq(BigDecimal("30.00")).toDF("d"))
      .map(_.select(col("d").cast("decimal(10,2)").as("d"))),
      "d", "5", "20", prunes = true),
    Case("bounds timestamptz", Nil, () => Seq(
      Seq(ts("2024-06-01 01:00:00")).toDF("ts"),
      Seq(ts("2024-06-02 01:00:00")).toDF("ts"),
      Seq(ts("2024-06-03 01:00:00")).toDF("ts")),
      "ts", "2024-06-02 00:00:00", "2024-06-02 12:00:00", prunes = true),
    Case("bounds timestamp_ntz", Nil, () => Seq(
      "2024-06-01 01:00:00", "2024-06-02 01:00:00", "2024-06-03 01:00:00")
      .map(s => Seq(s).toDF("s")
        .select(col("s").cast("timestamp_ntz").as("ts"))),
      "ts", "2024-06-02 00:00:00", "2024-06-02 12:00:00", prunes = true)
  )

  test("pruning parity: loadSlice and the SQL scan return the unpruned " +
    "rows, drop only files without a matching row, and still prune") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.pp")
    cases.zipWithIndex.foreach { case (c, i) =>
      val t = s"c$i"
      val batches = c.batches()
      lake.ensureTable("pp", t, batches.head.schema, c.partitionBy)
      batches.foreach(b => lake.append("pp", t, b.coalesce(1)))
      val load = lake.load("pp", t)
      val cols = load.columns.toSeq
      val dt = load.schema(c.column).dataType
      val x = col(s"`${c.column}`")
      val slicePred = x >= lit(c.from).cast(dt) && x <= lit(c.to).cast(dt)
      // library face
      val slice = lake.loadSlice("pp", t, c.column, c.from, c.to)
      assert(rows(slice, cols) == rows(load.filter(slicePred), cols),
        s"${c.name}: loadSlice rows differ from the unpruned read")
      val all = load.inputFiles.map(norm).toSet
      val kept = slice.inputFiles.map(norm).toSet
      assertDroppedHoldNoMatch(s"${c.name} loadSlice",
        perFile("pp", t, c.column, slicePred), kept)
      if (c.prunes) assert(kept.size < all.size,
        s"${c.name}: loadSlice kept all ${all.size} files")
      // SQL face: the slice, a one-sided lower bound (NaN-sensitive), IN
      // (which must still prune where the layout can) and IN OR IS NULL
      val lit0 = s"CAST('${c.from}' AS ${dt.sql})"
      val lit1 = s"CAST('${c.to}' AS ${dt.sql})"
      val q = s"`${c.column}`"
      val in = x.isin(lit(c.from).cast(dt), lit(c.to).cast(dt))
      Seq((s"$q >= $lit0 AND $q <= $lit1", slicePred, false),
          (s"$q >= $lit1", x >= lit(c.to).cast(dt), false),
          (s"$q IN ($lit0, $lit1)", in, c.prunes),
          (s"$q IN ($lit0, $lit1) OR $q IS NULL", in || x.isNull, false))
        .foreach { case (where, pred, prunes) =>
          val df = spark.sql(s"SELECT * FROM $cat.pp.$t WHERE $where")
          assert(rows(df, cols) == rows(load.filter(pred), cols),
            s"${c.name}: SQL rows differ for $where")
          sqlFiles(df).foreach { planned =>
            assertDroppedHoldNoMatch(s"${c.name} SQL [$where]",
              perFile("pp", t, c.column, pred), planned)
            if (prunes) assert(planned.size < all.size,
              s"${c.name}: SQL [$where] planned all ${all.size} files")
          }
        }
    }
    spark.sql(s"DROP NAMESPACE $cat.pp CASCADE")
  }

  test("a double file that may hold NaN is never a miss for a lower " +
    "bound, whatever its bounds say") {
    import graft.lake.{AvroManifests, ManifestPruning}
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val schema = StructType(Seq(StructField("x", DoubleType)))
    def b(v: Double) = Seq(1 -> AvroManifests.boundBytes("double",
      java.lang.Double.valueOf(v)).get)
    // manifest bounds exclude NaN: this file's non-NaN values are all 1.0
    def file(nan: Seq[(Int, Long)]) =
      SnapshotLakeCatalog.SqlDataFile("f", 1L, 2L, Map.empty, b(1.0),
        b(1.0), nan)
    def may(f: Filter, nan: Seq[(Int, Long)]) =
      new ManifestPruning(schema, Nil, Seq(f)).fileCanMatch(file(nan))
    val ge = GreaterThanOrEqual("x", 2.0)
    assert(may(ge, Seq(1 -> 1L)), "NaN rows satisfy x >= 2")
    assert(may(ge, Nil), "an unknown NaN count may hide NaN rows")
    assert(!may(ge, Seq(1 -> 0L)), "no NaN: the bounds prove the miss")
    assert(!may(LessThanOrEqual("x", 0.5), Seq(1 -> 1L)),
      "NaN never satisfies an upper bound")
  }

  test("loadSlice on identity double and decimal partitions compares " +
    "values, not path strings") {
    val ns = "idnum"
    Seq("double" -> Seq("7.0", "10.0", "30.0"),
        "decimal(10,2)" -> Seq("7.25", "10.50", "30.00")).foreach {
      case (tpe, vs) =>
        val t = tpe.takeWhile(_.isLetter)
        val batches = vs.zipWithIndex.map { case (v, i) =>
          Seq((i.toLong, v)).toDF("id", "x")
            .select(col("id"), col("x").cast(tpe).as("x"))
        }
        lake.ensureTable(ns, t, batches.head.schema, Seq("x"))
        batches.foreach(lake.append(ns, t, _))
        val slice = lake.loadSlice(ns, t, "x", "5", "20")
        assert(slice.collect().map(_.getLong(0)).sorted.toSeq ==
          Seq(0L, 1L), s"$tpe: identity slice rows")
        val files = slice.inputFiles
        assert(files.nonEmpty && !files.exists(_.contains(s"x=${vs(2)}")),
          s"$tpe: the ${vs(2)} partition must stay pruned: ${files.toSeq}")
    }
    lake.dropNamespace(ns)
  }

  test("loadSlice orders string partition values by UTF-8 bytes, as " +
    "Spark's row filter does") {
    val ns = "idutf8"
    lake.ensureTable(ns, "t", Seq(("a", 1L)).toDF("name", "id").schema,
      Seq("name"))
    lake.append(ns, "t", Seq(("a", 1L), ("\uD83D\uDE00", 2L))
      .toDF("name", "id"))
    val exact = lake.load(ns, "t")
      .filter(col("name") >= "\uFFFD" && col("name") <= "\uD83D\uDE00")
    assert(exact.count() == 1L)
    assert(lake.loadSlice(ns, "t", "name", "\uFFFD", "\uD83D\uDE00")
      .collect().map(_.getLong(1)).toSeq == Seq(2L))
    lake.dropNamespace(ns)
  }

  test("after a partition-spec change, a directory written under the " +
    "old spec is never pruned off summaries of the old spec's fields") {
    val ns = "specchange"
    val df = Seq((1L, "a", "z")).toDF("id", "k", "j")
    lake.ensureTable(ns, "t", df.schema, Seq("k"))
    lake.append(ns, "t", df)
    lake.updatePartitionSpec(ns, "t", Seq("j"))
    lake.append(ns, "t", Seq((2L, "b", "y")).toDF("id", "k", "j"))
    assert(lake.loadSlice(ns, "t", "j", "z", "z")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    lake.dropNamespace(ns)
  }

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

  test("building a loadSlice on a day, bucket or truncate column " +
    "launches no more Spark jobs than building a load") {
    val ns = "slicejobs"
    val df = Seq((1L, ts("2024-01-01 05:00:00")),
      (2L, ts("2024-01-02 05:00:00")), (13L, ts("2024-01-03 05:00:00")))
      .toDF("id", "ts")
    Seq(("day", "days(ts)", "ts", "2024-01-02 00:00:00",
         "2024-01-02 23:59:59"),
        ("bucket", "bucket(4, id)", "id", "2", "2"),
        ("trunc", "truncate(10, id)", "id", "10", "19")).foreach {
      case (t, spec, c, from, to) =>
        lake.ensureTable(ns, t, df.schema, Seq(spec))
        lake.append(ns, t, df)
        val loadJobs = jobsOf(lake.load(ns, t))
        val sliceJobs = jobsOf(lake.loadSlice(ns, t, c, from, to))
        assert(sliceJobs <= loadJobs,
          s"$spec: loadSlice built with $sliceJobs job(s), load $loadJobs")
    }
    lake.dropNamespace(ns)
  }

  test("time-transform pruning holds whichever session zones wrote and " +
    "read the table: days and hours, through pushed filters, a runtime " +
    "(join) filter and loadSlice") {
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    def zone(z: String): Unit = spark.conf.set("spark.sql.session.timeZone", z)
    val zones = Seq("UTC", "America/Los_Angeles", "Asia/Tokyo")
    // 2024-01-02 23:00Z is 15:00 that day in Los Angeles and 08:00 the
    // next in Tokyo; 2024-01-03 07:00Z is 23:00 the day before in Los
    // Angeles: the writer's zone picks each row's directory
    val (a, b) = ("2024-01-02 23:00:00Z", "2024-01-03 07:00:00Z")
    val windows = Seq(("2024-01-02 22:00:00Z", "2024-01-02 23:30:00Z"),
      ("2024-01-03 06:00:00Z", "2024-01-03 07:30:00Z"))
    try {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tz")
      spark.sql(s"CREATE TABLE $cat.tz.dim (ts TIMESTAMP, tag STRING)")
      spark.sql(s"INSERT INTO $cat.tz.dim VALUES (timestamp'$a', 'x'), " +
        s"(timestamp'$b', 'x'), (timestamp'2024-01-05 00:00:00Z', 'y')")
      for (w <- zones; tf <- Seq("days", "hours")) {
        zone(w)
        val t = s"${tf}_${w.filter(_.isLetter).toLowerCase}"
        spark.sql(s"CREATE TABLE $cat.tz.$t (id BIGINT, ts TIMESTAMP) " +
          s"PARTITIONED BY ($tf(ts))")
        spark.sql(s"INSERT INTO $cat.tz.$t VALUES (1, timestamp'$a'), " +
          s"(3, timestamp'$b'), (2, timestamp'2024-01-04 10:00:00Z')")
        for (r <- zones) {
          zone(r)
          val label = s"$tf written in $w, read in $r"
          def ids(where: String): Seq[Long] = spark.sql(
            s"SELECT id FROM $cat.tz.$t WHERE $where").collect()
            .map(_.getLong(0)).toSeq.sorted
          windows.zip(Seq(1L, 3L)).foreach { case ((from, to), id) =>
            assert(ids(s"ts >= timestamp'$from' AND ts < timestamp'$to'") ==
              Seq(id), s"$label: pushed range [$from, $to)")
            assert(lake.loadSlice("tz", t, "ts", from, to).collect()
              .map(_.getLong(0)).toSeq == Seq(id),
              s"$label: loadSlice [$from, $to]")
          }
          assert(ids(s"ts IN (timestamp'$a', timestamp'$b')") ==
            Seq(1L, 3L), s"$label: pushed IN")
          val j = spark.sql(s"SELECT count(*) FROM $cat.tz.$t f " +
            s"JOIN $cat.tz.dim d ON f.ts = d.ts WHERE d.tag = 'x'")
          assert(j.head().getLong(0) == 2L, s"$label: runtime filter")
          assert(j.queryExecution.executedPlan.toString
            .contains("dynamicpruningexpression"),
            s"$label: the join must plant a runtime filter on the scan")
        }
      }
      spark.sql(s"DROP NAMESPACE $cat.tz CASCADE")
    } finally zone(tz0)
  }
}
