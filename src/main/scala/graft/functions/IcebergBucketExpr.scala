package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `iceberg_bucket(col, N)` -> int: Iceberg's `bucket[N]` partition
  * transform — `(murmur3_x86_32(icebergBytes(v)) & Int.MaxValue) % N` per
  * the public Iceberg spec (§Appendix B: 32-bit Murmur3, seed 0, applied
  * to a type-specific byte form). This is THE layout primitive for a
  * high-cardinality key at 100 TB: bounded partition counts regardless of
  * key cardinality, bucket-pruned point lookups, and storage-partitioned
  * joins when both sides share the transform. The reference delegates
  * exactly this to pyiceberg 0.6.1 (`/root/reference/pyproject.toml:17`),
  * whose transform set includes bucket; here it is a codegen'd Catalyst
  * expression so the per-row derive stays inside WholeStageCodegen.
  *
  * Byte forms (spec Appendix B; pinned by IcebergBucketSpec against the
  * spec's own published test vectors):
  *   - int/date   -> widened to long, then the little-endian 8 bytes
  *     (the spec's `hashInt(v) == hashLong(v)` identity rule);
  *   - long/timestamp(tz) -> little-endian 8 bytes (micros for ts);
  *   - string     -> UTF-8 bytes;
  *   - binary     -> the bytes as-is;
  *   - decimal    -> minimal big-endian two's-complement of the unscaled
  *     value (`BigInteger.toByteArray`).
  * Other types (float/double are spec-discouraged bucket sources;
  * nested types have no bucket form) are refused at analysis. */
case class IcebergBucket(child: Expression, n: Int) extends UnaryExpression {
  override protected def withNewChildInternal(c: Expression): IcebergBucket =
    copy(child = c)

  override def checkInputDataTypes(): TypeCheckResult =
    if (n <= 0)
      TypeCheckResult.TypeCheckFailure(
        s"iceberg_bucket needs a positive bucket count, got $n")
    else child.dataType match {
      case IntegerType | LongType | DateType | TimestampType |
           TimestampNTZType | StringType | BinaryType | NullType =>
        TypeCheckResult.TypeCheckSuccess
      case _: DecimalType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"iceberg_bucket has no spec byte form for ${dt.catalogString} " +
          "(int/long/date/timestamp/string/binary/decimal only)")
    }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "iceberg_bucket"

  override protected def nullSafeEval(v: Any): Any = child.dataType match {
    case IntegerType | DateType =>
      IcebergBucket.bucketLong(v.asInstanceOf[Int].toLong, n)
    case LongType | TimestampType | TimestampNTZType =>
      IcebergBucket.bucketLong(v.asInstanceOf[Long], n)
    case StringType =>
      IcebergBucket.bucketBytes(v.asInstanceOf[UTF8String].getBytes, n)
    case BinaryType =>
      IcebergBucket.bucketBytes(v.asInstanceOf[Array[Byte]], n)
    case _: DecimalType =>
      IcebergBucket.bucketBytes(v.asInstanceOf[Decimal]
        .toJavaBigDecimal.unscaledValue.toByteArray, n)
    case other => throw new IllegalStateException(
      s"unreachable: type-checked input ${other.catalogString}")
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // a typed-null (NullType) child can reach codegen un-folded (e.g.
    // through a column built from lit(null)); it always evaluates to
    // null, so emit the constant-null result instead of computing a
    // call mapping that has no NullType case
    if (child.dataType == NullType) return ExprCode.forNullValue(dataType)
    val call: String => String = child.dataType match {
      case IntegerType | DateType =>
        c => s"graft.functions.IcebergBucket.bucketLong((long) $c, $n)"
      case LongType | TimestampType | TimestampNTZType =>
        c => s"graft.functions.IcebergBucket.bucketLong($c, $n)"
      case StringType =>
        c => s"graft.functions.IcebergBucket.bucketBytes($c.getBytes(), $n)"
      case BinaryType =>
        c => s"graft.functions.IcebergBucket.bucketBytes($c, $n)"
      case _: DecimalType =>
        c => s"graft.functions.IcebergBucket.bucketBytes(" +
          s"$c.toJavaBigDecimal().unscaledValue().toByteArray(), $n)"
      case other => throw new IllegalStateException(
        s"unreachable: type-checked input ${other.catalogString}")
    }
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${call(c)};")
  }
}

object IcebergBucket {
  // murmur3_x86_32 constants (public algorithm, seed 0 per the Iceberg spec)
  private final val C1 = 0xcc9e2d51
  private final val C2 = 0x1b873593

  private def mixK1(k: Int): Int = {
    var k1 = k * C1
    k1 = Integer.rotateLeft(k1, 15)
    k1 * C2
  }

  private def mixH1(h: Int, k1: Int): Int = {
    var h1 = h ^ k1
    h1 = Integer.rotateLeft(h1, 13)
    h1 * 5 + 0xe6546b64
  }

  private def fmix(h: Int, len: Int): Int = {
    var h1 = h ^ len
    h1 ^= h1 >>> 16
    h1 *= 0x85ebca6b
    h1 ^= h1 >>> 13
    h1 *= 0xc2b2ae35
    h1 ^ (h1 >>> 16)
  }

  /** murmur3_x86_32(little-endian 8 bytes of v, seed 0) — the two 4-byte
    * blocks of the LE representation are exactly (low word, high word),
    * so no byte array is allocated on the per-row path. */
  def hashLong(v: Long): Int = {
    var h1 = mixH1(0, mixK1(v.toInt))
    h1 = mixH1(h1, mixK1((v >>> 32).toInt))
    fmix(h1, 8)
  }

  /** murmur3_x86_32(data, seed 0) over an arbitrary byte payload. */
  def hashBytes(data: Array[Byte]): Int = {
    val len = data.length
    var h1 = 0
    val nblocks = len >>> 2
    var i = 0
    while (i < nblocks) {
      val o = i << 2
      val k = (data(o) & 0xff) | ((data(o + 1) & 0xff) << 8) |
        ((data(o + 2) & 0xff) << 16) | ((data(o + 3) & 0xff) << 24)
      h1 = mixH1(h1, mixK1(k))
      i += 1
    }
    val tail = nblocks << 2
    var k1 = 0
    val rem = len & 3
    if (rem == 3) k1 ^= (data(tail + 2) & 0xff) << 16
    if (rem >= 2) k1 ^= (data(tail + 1) & 0xff) << 8
    if (rem >= 1) {
      k1 ^= data(tail) & 0xff
      h1 ^= mixK1(k1)
    }
    fmix(h1, len)
  }

  def bucketLong(v: Long, n: Int): Int = (hashLong(v) & Int.MaxValue) % n

  def bucketBytes(b: Array[Byte], n: Int): Int =
    (hashBytes(b) & Int.MaxValue) % n
}
