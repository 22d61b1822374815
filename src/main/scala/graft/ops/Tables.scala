package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Parquet table access for the driver's testdata star schema
  * (`/root/repo/TESTDATA.md`). Reads go through `spark.read.parquet` so
  * Catalyst's parquet scan gets predicate pushdown + column pruning for free.
  *
  * Timestamp note: the driver has shipped `events.ts` as parquet
  * TIMESTAMP(NANOS) (rounds 1-5) and as TIMESTAMP(MICROS, isAdjustedToUTC=
  * false) (round 6+) — the latter surfaces as TIMESTAMP_NTZ under Spark's
  * default `inferTimestampNTZ`. [[Tables.events]] normalizes every layout to
  * a microsecond TimestampType column named `ts` (wall clock == UTC instant
  * under the pinned UTC session), so every operator sees one shape.
  */
object Tables {
  /** One-time session preparation, idempotent and safe to call per read:
    * pin the conf this library needs ONLY where the host harness left it
    * UNSET — an explicitly-set value is the user's choice and is never
    * flipped, even when it will fail loudly later (e.g. an explicit
    * `nanosAsLong=false` makes the events read throw PARQUET_TYPE_ILLEGAL;
    * that beats silently overriding the session). Explicit-vs-default is
    * `sessionState.conf.contains` — `conf.getOption` returns the DEFAULT for
    * registered entries, so it cannot make this distinction. Also registers
    * graft's SQL functions the session lacks. */
  def prepareSession(spark: SparkSession): Unit = {
    // date/epoch queries agree with the (UTC) DuckDB oracle unless the user
    // explicitly pinned another zone
    if (!spark.sessionState.conf.contains("spark.sql.session.timeZone"))
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    // a NANOS-typed events.ts is readable only via nanosAsLong (harmless
    // no-op for the MICROS layout, which has no nanos columns)
    if (!spark.sessionState.conf.contains("spark.sql.legacy.parquet.nanosAsLong"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.TextHashExprs.register(spark)
  }

  /** A star-schema parquet read. A bare `spark.read.parquet(path)` runs a
    * ONE-TASK schema-inference Spark job per call
    * (`ParquetFileFormat.mergeSchemasInParallel` → RDD.collect), and every
    * job submission additionally gzips the full Hadoop Configuration
    * during closure cleaning — a fixed multi-ms cost on every table
    * access in every query. So the first read of each path per corpus
    * slot (shared by sessions, see [[SessionCache]]) infers and keeps that
    * schema with the (path, length, mtime) of every file the relation
    * listed; later reads pass the schema explicitly and skip the job.
    * Identity check: a later read compares the files its own relation
    * listed (no extra filesystem call) with the recorded ones; on any
    * change — a rewrite in place — the slot is dropped and re-inferred. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    prepareSession(spark)
    val path = s"$dir/$name.parquet"
    val family = s"schema:$name"
    type Inferred = (StructType, Seq[(String, Long, Long)])
    SessionCache.get[Inferred](spark, dir, family) match {
      case Some((schema, files)) =>
        val df = spark.read.schema(schema).parquet(path)
        if (listed(df) == files) df
        else {
          SessionCache.drop(spark, dir)
          t(spark, dir, name)
        }
      case None =>
        val df = spark.read.parquet(path)
        SessionCache.put(spark, dir, family, (df.schema, listed(df)))
        df
    }
  }

  /** (path, length, mtime) of every file a parquet read's relation listed. */
  private def listed(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.flatMap {
      case idx: PartitioningAwareFileIndex => idx.allFiles()
      case _ => Nil
    }.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .sorted

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // Two driver layouts normalize to one TimestampType shape:
    //  - NANOS: Spark rejects TIMESTAMP(NANOS) outright (PARQUET_TYPE_ILLEGAL);
    //    the supported route is nanosAsLong (set at session build by
    //    graft.Session, pinned by prepareSession only when unset), then
    //    Long nanos -> micros here.
    //  - MICROS NTZ: inferTimestampNTZ reads isAdjustedToUTC=false as
    //    TIMESTAMP_NTZ; cast to TimestampType under the UTC session keeps the
    //    identical micros value while restoring the type downstream operators
    //    and the oracle compare were built against.
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
}
