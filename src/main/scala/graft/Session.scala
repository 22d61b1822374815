package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured. Every entry point
  * (`Bench`, `Verify`, `LoadBench`, `InteropDump`, `CapStress`, the
  * `GraftTarget` CLI) and the test session build from [[builder]] and add
  * only what is their own (a warehouse dir, a master, Hive support).
  *
  *  - `local[cpus]`, with `spark.sql.shuffle.partitions` = cpus;
  *  - [[GraftExtensions]]: graft's SQL functions, the composed-read rule and
  *    the row-level planner strategy;
  *  - UTC session time zone: date/epoch results agree with the DuckDB
  *    oracle;
  *  - `nanosAsLong`: a TIMESTAMP(NANOS) `events.ts` stays readable
  *    ([[graft.ops.Tables.events]]);
  *  - storage-partitioned joins over the DSv2 catalog's bucket layout;
  *  - no Spark UI.
  */
object Session {
  /** @param cpus local cores: `SPARK_GRAFT_CPUS`, default 4 */
  def builder(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
}
