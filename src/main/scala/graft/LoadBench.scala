package graft

import graft.lake.{BatchLoader, SessionLakeCatalog}

/** Load-path throughput: synthesize a Singer feed of N records
  * (events-shaped payloads) and drive it through the full
  * [[graft.lake.BatchLoader]] pipeline — decode, segment, validate
  * (PERMISSIVE parse + reject counting), `_sdc_*` stamping, one observed
  * append commit — into a parquet-backed catalog table. Prints one JSON
  * line: records/sec end-to-end.
  *
  * Reference point: the reference target is single-threaded Python doing a
  * pyarrow conversion and an Iceberg append per 10k batch with >= 4 catalog
  * HTTP round-trips per batch (BASELINE.md); this path is one Spark job
  * whose parse/validate/write parallelizes across cores and whose catalog
  * is touched once per stream.
  *
  * Usage: spark-submit --class graft.LoadBench <jar> [nRecords]
  */
object LoadBench {
  /** The one JSON result line; seconds format in `Locale.ROOT` (the JVM
    * default locale would print `1,23` under de_DE). */
  private[graft] def resultLine(rows: Long, sec: Double): String =
    s"""{"metric":"load_records_per_sec","value":${(rows / sec).round},""" +
      s""""unit":"rec/sec","records":$rows,""" +
      s""""seconds":${"%.2f".formatLocal(java.util.Locale.ROOT, sec)}}"""

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val wh = java.nio.file.Files.createTempDirectory("graft-loadbench").toString
    val spark = Session.builder()
      .appName("graft-loadbench")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val schemaLine =
      """{"type":"SCHEMA","stream":"ev","schema":{"type":"object","properties":{
        |"id":{"type":"integer"},"user_id":{"type":"integer"},
        |"event_type":{"type":"string"},"value":{"type":"number"},
        |"ts":{"type":"string","format":"date-time"}}},
        |"key_properties":["id"]}""".stripMargin.replaceAll("\n", "")
    // distributed feed synthesis: the driver never materializes the lines.
    // SCHEMA must PRECEDE the records in feed order — records before the
    // first SCHEMA are (correctly) rejected, not loaded
    val lines = spark.createDataset(Seq(schemaLine))
      .union(spark.range(n.toLong).mapPartitions(_.map { i =>
        s"""{"type":"RECORD","stream":"ev","record":{"id":$i,"user_id":${i % 1000},""" +
          s""""event_type":"t${i % 5}","value":${(i % 97) * 0.5},""" +
          s""""ts":"2024-01-01T${"%02d".format(i % 24)}:00:00Z"}}"""
      }))

    val loader = new BatchLoader(spark, new SessionLakeCatalog(spark),
      namespace = "loadbench", addRecordMetadata = true)
    // warm the session so JVM/codegen startup isn't billed to the load
    spark.range(1000).selectExpr("sum(id)").foreach(_ => ())
    val t0 = System.nanoTime()
    val report = loader.load(lines)
    val sec = (System.nanoTime() - t0) / 1e9
    val rows = report.rowsPerStream.values.sum
    require(rows == n, s"expected $n rows loaded, got $rows")
    println(resultLine(rows, sec))
    spark.stop()
  }
}
