package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions.{col, expr, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[IcebergBucket]] to the PUBLIC Iceberg spec's own Appendix-B
  * hash test vectors — the conformance proof that a real Iceberg engine
  * bucketing the same values lands them in the same buckets (the whole
  * point of the transform: storage-partitioned joins and bucket-pruned
  * lookups agree across engines). */
class IcebergBucketSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("spec Appendix-B hash vectors: int/long/decimal/date/timestamp/" +
    "string") {
    // int 34 and long 34 hash identically (the spec's widening rule)
    assert(IcebergBucket.hashLong(34L) == 2017239379)
    // decimal 14.20 -> unscaled 1420 minimal two's-complement bytes
    assert(IcebergBucket.hashBytes(
      java.math.BigInteger.valueOf(1420).toByteArray) == -500754589)
    // date 2017-11-16 -> epoch days 17486, widened to long
    assert(java.time.LocalDate.of(2017, 11, 16).toEpochDay == 17486L)
    assert(IcebergBucket.hashLong(17486L) == -653330422)
    // timestamp 2017-11-16T22:31:08 -> micros from epoch
    val micros = java.time.LocalDateTime.of(2017, 11, 16, 22, 31, 8)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(IcebergBucket.hashLong(micros) == -2047944441)
    // string "iceberg" -> UTF-8 bytes
    assert(IcebergBucket.hashBytes(
      "iceberg".getBytes(java.nio.charset.StandardCharsets.UTF_8)) ==
      1210000089)
  }

  test("bucket = (hash & Int.MaxValue) % N; negative hashes fold " +
    "positive; SQL face agrees with the static kernel on every type") {
    // -653330422 & MaxValue = 1494153226; % 16 = spec-predictable
    assert(IcebergBucket.bucketLong(17486L, 16) ==
      ((-653330422 & Int.MaxValue) % 16))
    TextHashExprs.register(spark)
    val row = Seq((34, 34L, "iceberg")).toDF("i", "l", "s")
      .select(
        expr("iceberg_bucket(i, 16)").as("bi"),
        expr("iceberg_bucket(l, 16)").as("bl"),
        expr("iceberg_bucket(s, 16)").as("bs"),
        expr("iceberg_bucket(cast('2017-11-16' as date), 16)").as("bd"),
        expr("iceberg_bucket(cast(14.20 as decimal(9,2)), 16)").as("bdec"))
      .head()
    assert(row.getInt(0) == (2017239379 % 16) &&
      row.getInt(0) == row.getInt(1)) // int == long widening identity
    assert(row.getInt(2) == ((1210000089 & Int.MaxValue) % 16))
    assert(row.getInt(3) == ((-653330422 & Int.MaxValue) % 16))
    assert(row.getInt(4) == ((-500754589 & Int.MaxValue) % 16))
  }

  test("null in -> null out; unsupported types and bad N refused at " +
    "analysis") {
    TextHashExprs.register(spark)
    val r = Seq((Option.empty[Long], 1L)).toDF("x", "y")
      .select(expr("iceberg_bucket(x, 8)")).head()
    assert(r.isNullAt(0))
    intercept[Exception](
      Seq(1.5).toDF("d").select(expr("iceberg_bucket(d, 8)")).head())
    intercept[Exception](
      Seq(1L).toDF("x").select(expr("iceberg_bucket(x, 0)")).head())
  }

  test("NullType child survives CODEGEN (not just constant folding): " +
    "doGenCode emits the constant-null path instead of crashing on the " +
    "missing call mapping") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.types.NullType
    val e = IcebergBucket(Literal(null, NullType), 16)
    assert(e.checkInputDataTypes().isSuccess)
    val code = e.genCode(new CodegenContext) // threw before the fix
    assert(code.isNull.toString == "true")
    assert(e.eval(null) == null)
    // and through the SQL face with folding disabled end-to-end
    val r = spark.range(1).selectExpr("iceberg_bucket(null, 8) AS b").head()
    assert(r.isNullAt(0))
  }
}
