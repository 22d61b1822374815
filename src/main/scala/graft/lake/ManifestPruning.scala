package graft.lake

import graft.functions.IcebergBucket
import graft.lake.SnapshotLakeCatalog.PartField
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.time.{ZoneId, ZoneOffset}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Manifest-bound file pruning — the ONE evaluator every bounded lake
  * read asks: `loadSlice`, the SQL scan, its runtime filter and the
  * micro-batch stream. A v1 [[Filter]] conjunction compiles once against
  * the table schema and its path-derivable spec fields; then
  * [[dirCanMatch]] answers off a manifest-list `field_summary` and
  * [[fileCanMatch]] off a file's partition tuple and column bounds. A
  * `false` is a proof that no row matches; anything unprovable answers
  * `true`, and the engine re-applies every filter exactly.
  *
  * Literals become Catalyst values of the column type (pushed external
  * values through [[Literal]] plus an up-cast; runtime filters and
  * `loadSlice` hand over Catalyst values already), and every comparison
  * uses Spark's ordering for that type ([[PhysicalDataType.ordering]]:
  * UTF-8 byte order for strings, -0.0 equal to 0.0, NaN above every
  * number). Identity tuple values parse to the source type; column
  * bounds decode through [[AvroManifests.decodeBound]]; a transform
  * field compares the literal's partition value, derived by the writer's
  * own per-value derivation ([[ManifestPruning.deriver]]) — so pruning
  * follows the layout the writer made. The one zone-dependent layout, a
  * time transform on a timestamptz column, was derived in whatever
  * session zone each append ran in, which no table records; its literal
  * therefore spans its derivations at the extreme offsets (-18:00 and
  * +18:00, the range of every Java zone), so a table prunes correctly
  * whichever zones wrote and read it. */
final class ManifestPruning(schema: StructType, fields: Seq[PartField],
                            filters: Seq[Filter],
                            zone: String = SQLConf.get.sessionLocalTimeZone) {
  import ManifestPruning._

  private val pathFields = fields.filter(_.carrier.isDefined)
  /** Per path field (by spec name): the literal's partition-value span,
    * and for identity fields the tuple-value parser — each built once. */
  private val spans: Map[String, Any => Span] =
    pathFields.flatMap(f => spanOf(f).map(f.specName -> _)).toMap
  private val parsers: Map[String, String => Any] =
    pathFields.filter(_.transform == "identity").flatMap(f =>
      schema.find(_.name == f.srcName)
        .map(c => f.specName -> identityParser(c.dataType, zone))).toMap
  private val preds: Seq[Pred] = filters.map(compile)

  /** May any file under a directory with these manifest-list summaries
    * (spec field name -> summary; None = no summaries) match? */
  def dirCanMatch(
      summaries: Option[Map[String, AvroManifests.FieldSummary]]): Boolean =
    summaries.forall { sm =>
      val decoded = mutable.HashMap.empty[String, (Option[Any], Option[Any])]
      preds.forall(eval(_, c => dirLeaf(c, f => sm.get(f.specName).map(fs =>
        decoded.getOrElseUpdate(f.specName, {
          def bound(b: Option[Array[Byte]]) =
            b.flatMap(AvroManifests.decodeBound(f.carrier.get, _))
          (bound(fs.lowerBound), bound(fs.upperBound))
        }))), {
        case Nullness(fs, true) =>
          fs.forall(f => sm.get(f.specName).forall(_.containsNull))
        case _ => true
      }))
    }

  /** May this manifest entry's file match? Each comparison must survive
    * BOTH the partition-tuple tier and the column-bounds tier, so an `Or`
    * whose branches are disproved by different tiers still prunes. Each
    * partition value parses, and each column's bounds decode, once per
    * file however many comparisons read them (an `In` is one per
    * value). */
  def fileCanMatch(f: AvroManifests.DataFileEntry): Boolean = {
    val partition = f.partition.toMap
    val keys = mutable.HashMap.empty[String, Option[Any]]
    val bounds = mutable.HashMap.empty[Int, (Option[Any], Option[Any])]
    def key(pf: PartField, s: String): Option[Any] =
      keys.getOrElseUpdate(pf.specName,
        if (pf.transform != "identity") pathKey(pf, s)
        else parsers.get(pf.specName).flatMap(p =>
          try Option(p(s)) catch { case NonFatal(_) => None }))
    def colBounds(c: Cmp) = bounds.getOrElseUpdate(c.id, {
      def side(bs: Seq[(Int, Array[Byte])]): Option[Any] =
        bs.collectFirst { case (c.id, b) => b }.flatMap(boundValue(c.dt, _))
      (side(f.lowerBounds), side(f.upperBounds))
    })
    preds.forall(eval(_,
      c => partitionLeaf(c, partition.get, key) &&
        boundsLeaf(c, colBounds(c), f.nanValueCounts),
      {
        case Nullness(fs, isNull) => fs.forall(pf =>
          partition.get(pf.specName).forall(_.isEmpty == isNull))
        case _ => true
      }))
  }

  // ---- compile -------------------------------------------------------------

  private def compile(f: Filter): Pred = f match {
    case And(l, r) => AllOf(Seq(compile(l), compile(r)))
    case Or(l, r)  => AnyOf(Seq(compile(l), compile(r)))
    case EqualTo(a, v)            => cmp(a, Eq, v)
    case GreaterThan(a, v)        => cmp(a, Gt, v)
    case GreaterThanOrEqual(a, v) => cmp(a, Ge, v)
    case LessThan(a, v)           => cmp(a, Lt, v)
    case LessThanOrEqual(a, v)    => cmp(a, Le, v)
    case In(a, vs)   => AnyOf(vs.toSeq.map(cmp(a, Eq, _)))
    case IsNull(a)    => Nullness(identityOn(a), isNull = true)
    case IsNotNull(a) => Nullness(identityOn(a), isNull = false)
    case _ => Unknown
  }

  private def identityOn(a: String): Seq[PartField] =
    pathFields.filter(f => f.srcName == a && f.transform == "identity")

  private def cmp(a: String, op: Op, v: Any): Pred = {
    val idx = schema.fieldNames.indexOf(a)
    val dt = if (idx < 0) NullType else schema.fields(idx).dataType
    if (!orderable(dt)) return Unknown
    catalystValue(v, dt) match {
      case Some(lit) if !isNaN(lit) =>
        Cmp(idx + 1, dt, PhysicalDataType.ordering(dt), op, lit,
          pathFields.filter(_.srcName == a).map(f => f ->
            spans.get(f.specName).flatMap(span =>
              try Some(span(lit)) catch { case NonFatal(_) => None })))
      case _ => Unknown
    }
  }

  /** The literal as a Catalyst value of `dt`, or None when it cannot be
    * stated exactly in the column's domain. */
  private def catalystValue(v: Any, dt: DataType): Option[Any] = {
    val lit = (dt, v) match {
      case (_, null) => return None
      case (DateType, days: Int) => return Some(days)
      case (TimestampType | TimestampNTZType, micros: Long) =>
        return Some(micros)
      case (_, u: UTF8String) => Literal(u, StringType)
      case (_, d: Decimal) => Literal(d, DecimalType(d.precision, d.scale))
      case _ => try Literal(v) catch { case NonFatal(_) => return None }
    }
    if (lit.dataType == dt) Some(lit.value)
    else if (Cast.canUpCast(lit.dataType, dt)) cast(lit, dt)
    else None
  }

  private def cast(lit: Literal, dt: DataType): Option[Any] =
    try Option(Cast(lit, dt, Some(zone)).eval())
    catch { case NonFatal(_) => None }

  /** A literal -> the span of partition values the writer may have
    * derived for it under `f`: a timestamptz time transform spans its
    * derivations at the extreme offsets, every other derivation is
    * zone-free and exact. None = not derivable, or an identity field
    * whose tuple parses to the source type instead. */
  private def spanOf(f: PartField): Option[Any => Span] =
    if (f.transform == "identity" &&
        !(f.srcType.isInstanceOf[StringType] || f.srcType == DateType)) None
    else try Some(
      if (f.srcType == TimestampType && TimePattern.contains(f.transform)) {
        val lo = deriver(f.transform, f.srcType, ZoneOffset.MIN)
        val hi = deriver(f.transform, f.srcType, ZoneOffset.MAX)
        (v: Any) => span(f, lo(v), hi(v))
      } else {
        val d = deriver(f.transform, f.srcType, ZoneOffset.UTC)
        (v: Any) => { val s = d(v); span(f, s, s) }
      })
    catch { case NonFatal(_) => None }

  // ---- the three tiers -----------------------------------------------------

  /** Partition-tuple tier: an identity value (parsed to the source type)
    * is compared exactly; a transform value (as its [[pathKey]]) against
    * the literal's derived span, where a monotone transform keeps
    * `t(x) >= t(c)` for `x > c` and a bucket proves only equality. */
  private def partitionLeaf(c: Cmp, tuple: String => Option[Option[String]],
                            key: (PartField, String) => Option[Any])
      : Boolean =
    c.parts.forall { case (f, span) =>
      tuple(f.specName).flatten.forall { s =>
        val k = key(f, s)
        if (f.transform == "identity")
          k.forall(pv => holds(c.ord.compare(pv, c.value), c.op))
        else transformOp(f, c.op).forall(op =>
          span.forall(spanHolds(k, op, _)))
      }
    }

  /** May the path value keyed `k` stand for a value meeting `op` against
    * a literal whose derivations span `sp`? An unprovable order proves
    * nothing. */
  private def spanHolds(k: Option[Any], op: Op, sp: Span): Boolean = {
    def meets(d: Option[Any], o: Op) =
      k.zip(d).forall { case (a, b) => holds(keyCompare(a, b), o) }
    op match {
      case Eq      => meets(sp.loKey, Ge) && meets(sp.hiKey, Le)
      case Gt | Ge => meets(sp.loKey, op)
      case Lt | Le => meets(sp.hiKey, op)
    }
  }

  /** Directory tier: the summary's decoded [lower, upper] in the field's
    * manifest carrier domain. String carriers order by UTF-8 bytes, which
    * proves equality to an exact derivation for every field and ranges
    * only where the path value orders like the source. */
  private def dirLeaf(c: Cmp,
      summary: PartField => Option[(Option[Any], Option[Any])]): Boolean =
    c.parts.forall { case (f, span) =>
      summary(f).forall { case (lo, hi) =>
        f.carrier.get match {
          case "string" => span.forall { sp =>
            def str(b: Any) = UTF8String.fromBytes(b.asInstanceOf[Array[Byte]])
            val ordered = stringOrdered(f, sp.lo) && stringOrdered(f, sp.hi) &&
              (lo ++ hi).forall(b => stringOrdered(f, str(b).toString))
            transformOp(f, c.op).forall(op =>
              !(ordered || (op == Eq && sp.lo == sp.hi)) ||
                inRange(lo, hi, op)(
                  b => str(b).binaryCompare(UTF8String.fromString(sp.lo)),
                  b => str(b).binaryCompare(UTF8String.fromString(sp.hi))))
          }
          case _ if f.transform == "identity" =>
            val cmp = (b: Any) => c.ord.compare(b, c.value)
            inRange(lo, hi, c.op)(cmp, cmp)
          case _ => transformOp(f, c.op).forall(op => span.flatMap(sp =>
              sp.lo.toIntOption.zip(sp.hi.toIntOption)).forall { case (a, b) =>
            inRange(lo, hi, op)(x => Integer.compare(x.asInstanceOf[Int], a),
              x => Integer.compare(x.asInstanceOf[Int], b))
          })
        }
      }
    }

  /** Column-bounds tier: manifest lower/upper bounds (NaN excluded, as
    * the spec requires), decoded to Catalyst values of the column type.
    * A float/double file whose NaN count is non-zero or unknown may
    * still satisfy a lower-bound predicate — NaN sorts above every
    * number — so it never counts as a miss for one. */
  private def boundsLeaf(c: Cmp, bounds: (Option[Any], Option[Any]),
                         nan: Seq[(Int, Long)]): Boolean = {
    val nanCanMatch = (c.op == Gt || c.op == Ge) &&
      (c.dt == DoubleType || c.dt == FloatType) &&
      nan.collectFirst { case (c.id, n) => n }.forall(_ != 0L)
    val cmp = (b: Any) => c.ord.compare(b, c.value)
    nanCanMatch || inRange(bounds._1, bounds._2, c.op)(cmp, cmp)
  }
}

object ManifestPruning {

  private sealed trait Op
  private case object Eq extends Op
  private case object Gt extends Op
  private case object Ge extends Op
  private case object Lt extends Op
  private case object Le extends Op

  /** The partition values the writer may have derived for a literal
    * (`lo == hi` for an exact derivation), with their [[pathKey]]s. */
  private case class Span(lo: String, hi: String, loKey: Option[Any],
                          hiKey: Option[Any])

  private def span(f: PartField, lo: String, hi: String): Span =
    Span(lo, hi, pathKey(f, lo), pathKey(f, hi))

  /** A filter compiled against the table: comparisons carry the column's
    * field id, type, Spark ordering, Catalyst literal and, per partition
    * field on the column, the literal's derived partition-value span. */
  private sealed trait Pred
  private case class AllOf(ps: Seq[Pred]) extends Pred
  private case class AnyOf(ps: Seq[Pred]) extends Pred
  private case class Cmp(id: Int, dt: DataType, ord: Ordering[Any], op: Op,
                         value: Any,
                         parts: Seq[(PartField, Option[Span])])
      extends Pred
  private case class Nullness(identity: Seq[PartField], isNull: Boolean)
      extends Pred
  private case object Unknown extends Pred

  private def eval(p: Pred, leaf: Cmp => Boolean,
                   nulls: Nullness => Boolean): Boolean = p match {
    case AllOf(ps)   => ps.forall(eval(_, leaf, nulls))
    case AnyOf(ps)   => ps.exists(eval(_, leaf, nulls))
    case c: Cmp      => leaf(c)
    case n: Nullness => nulls(n)
    case Unknown     => true
  }

  /** `value <op> literal`, given compare(value, literal). */
  private def holds(k: Int, op: Op): Boolean = op match {
    case Eq => k == 0
    case Gt => k > 0
    case Ge => k >= 0
    case Lt => k < 0
    case Le => k <= 0
  }

  /** May some value in [lo, hi] satisfy `value <op> literal`, for a
    * literal known only to lie in a span? `cmpLo`/`cmpHi` compare a bound
    * to the span's low/high end (the same function for an exact literal);
    * a missing bound proves nothing. */
  private def inRange(lo: Option[Any], hi: Option[Any], op: Op)(
      cmpLo: Any => Int, cmpHi: Any => Int): Boolean = op match {
    case Eq      => lo.forall(cmpHi(_) <= 0) && hi.forall(cmpLo(_) >= 0)
    case Gt | Ge => hi.forall(b => holds(cmpLo(b), op))
    case Lt | Le => lo.forall(b => holds(cmpHi(b), op))
  }

  /** The op a transform's partition value must satisfy against the
    * derived literal: monotone transforms keep order only weakly
    * (`x > c` gives `t(x) >= t(c)`), and a bucket hash proves only
    * equality (None: the field proves nothing for this op). */
  private def transformOp(f: PartField, op: Op): Option[Op] =
    if (f.transform == "identity") Some(op)
    else if (f.transform.startsWith("bucket[")) Some(op).filter(_ == Eq)
    else Some(op match {
      case Gt => Ge
      case Lt => Le
      case o  => o
    })

  /** A transform field's path value as a key that orders like the
    * values it stands for: the integer of a bucket or integer truncate,
    * the UTF-8 bytes of a string truncate or a time string. None when
    * that order is not provable. */
  private def pathKey(f: PartField, s: String): Option[Any] =
    if (f.transform.startsWith("bucket[") ||
        (f.transform.startsWith("truncate[") &&
          !f.srcType.isInstanceOf[StringType])) s.toLongOption
    else if (f.transform.startsWith("truncate[") ||
             timeShaped(f.transform, s)) Some(UTF8String.fromString(s))
    else None

  private def keyCompare(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)             => java.lang.Long.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.binaryCompare(y)
  }

  /** The path-value format of each time transform, in Spark's pattern
    * letters (`y` is the proleptic year): the batch writer's
    * `date_format` pattern, and [[deriver]]'s. */
  private[lake] val TimePattern = Map("day" -> "yyyy-MM-dd",
    "month" -> "yyyy-MM", "hour" -> "yyyy-MM-dd-HH", "year" -> "yyyy")

  /** Fixed-width digit strings (`yyyy-MM-dd-HH` and its prefixes, years
    * 0000-9999) order as the times they format. */
  private def timeShaped(transform: String, s: String): Boolean =
    TimePattern.get(transform).exists(_.length == s.length) &&
      s.head.isDigit && s.forall(ch => ch.isDigit || ch == '-')

  /** Does the field's path value order (as UTF-8 bytes) like its source
    * values — so a string-carrier summary proves ranges, not just
    * equality? */
  private def stringOrdered(f: PartField, v: String): Boolean =
    f.transform match {
      case "identity" => f.srcType match {
        case s: StringType => s == StringType
        case DateType      => timeShaped("day", v)
        case _             => false
      }
      case t if t.startsWith("truncate[") =>
        f.srcType.isInstanceOf[StringType]
      case t => timeShaped(t, v)
    }

  /** Types whose Spark ordering the evaluator applies. */
  private def orderable(dt: DataType): Boolean = dt match {
    case s: StringType => s == StringType
    case _: NumericType | DateType | TimestampType | TimestampNTZType |
         BooleanType | BinaryType => true
    case _ => false
  }

  private def isNaN(v: Any): Boolean = v match {
    case d: Double => d.isNaN
    case f: Float  => f.isNaN
    case _         => false
  }

  /** A manifest column bound as a Catalyst value of `dt` (NaN bounds and
    * undecodable forms prove nothing). */
  private def boundValue(dt: DataType, b: Array[Byte]): Option[Any] =
    AvroManifests.decodeBound(SnapshotLakeCatalog.icebergType(
      dt.catalogString), b).flatMap(v => (dt, v) match {
      case (ShortType, i: Int) => Some(i.toShort)
      case (ByteType, i: Int)  => Some(i.toByte)
      case (_: StringType, bs: Array[Byte]) => Some(UTF8String.fromBytes(bs))
      case (d: DecimalType, u: java.math.BigInteger) =>
        Some(Decimal(new java.math.BigDecimal(u, d.scale)))
      case (_, x) if isNaN(x) => None
      case _ => Some(v)
    })

  /** Identity tuple values (unescaped Hive path strings) -> Catalyst
    * values of the source type, through Spark's own `Cast` in the session
    * zone, built once per field: the read path's partition-value restore
    * and the evaluator's identity compare. */
  def identityParser(dt: DataType,
                     zone: String = SQLConf.get.sessionLocalTimeZone)
      : String => Any = {
    val cast = Cast(BoundReference(0, StringType, nullable = true), dt,
      Some(zone))
    s => cast.eval(InternalRow(UTF8String.fromString(s)))
  }

  /** The writer's per-value partition derivation: a Catalyst value of
    * `srcType` -> its (unescaped) Hive path value under `transform` —
    * identity values as strings (dates ISO, timestamps as Spark casts
    * them in `zone`), [[TimePattern]] for
    * day/month/hour/year (a timestamptz in `zone`, a wall-clock NTZ or
    * date as is), `substring` / `v - pmod(v, W)` for truncate, the spec
    * murmur3 for bucket. The streaming fanout writer derives every row
    * with it and [[ManifestPruning]] every literal, so the two can never
    * disagree; the batch writer's expressions
    * ([[SnapshotLakeCatalog.transformColumn]]) produce the same strings,
    * value for value (PartitionTransformSpec checks both on the edge
    * cases). Built once per field; the per-value path allocates no
    * formatter. */
  def deriver(transform: String, srcType: DataType,
              zone: ZoneId): Any => String = {
    def localTime(raw: Any): java.time.LocalDateTime = srcType match {
      case TimestampType => java.time.Instant
        .ofEpochSecond(
          Math.floorDiv(raw.asInstanceOf[Long], 1000000L),
          Math.floorMod(raw.asInstanceOf[Long], 1000000L) * 1000L)
        .atZone(zone).toLocalDateTime
      case TimestampNTZType =>
        val us = raw.asInstanceOf[Long]
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          ZoneOffset.UTC)
      case DateType => java.time.LocalDate
        .ofEpochDay(raw.asInstanceOf[Int].toLong).atStartOfDay()
      case other => throw new IllegalArgumentException(
        s"time transform on ${other.catalogString}")
    }
    transform match {
      case "identity" => srcType match {
        case DateType => raw => java.time.LocalDate
          .ofEpochDay(raw.asInstanceOf[Int].toLong).toString
        case TimestampType | TimestampNTZType =>
          // the batch writer's `Cast(v AS STRING)` in the session zone:
          // the string identityParser casts back
          val cast = Cast(BoundReference(0, srcType, nullable = true),
            StringType, Some(zone.getId))
          raw => cast.eval(InternalRow(raw)).toString
        case _ => raw => raw.toString
      }
      case t if TimePattern.contains(t) =>
        // Java's `y` is the year of era (1 BC formats as 0001): Spark's
        // proleptic `y` is Java's `u`
        val fmt = java.time.format.DateTimeFormatter.ofPattern(
          TimePattern(t).replace('y', 'u'))
        raw => localTime(raw).format(fmt)
      case t if t.startsWith("truncate[") =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
        srcType match {
          case _: StringType => raw =>
            raw.asInstanceOf[UTF8String].substringSQL(1, w).toString
          case LongType => raw => {
            val v = raw.asInstanceOf[Long]
            (v - Math.floorMod(v, w.toLong)).toString
          }
          case IntegerType => raw => {
            val v = raw.asInstanceOf[Int]
            (v - Math.floorMod(v, w)).toString
          }
          case other => throw new IllegalArgumentException(
            s"truncate on ${other.catalogString}")
        }
      case t if t.startsWith("bucket[") =>
        val n = t.stripPrefix("bucket[").stripSuffix("]").toInt
        srcType match {
          case IntegerType | DateType => raw => IcebergBucket
            .bucketLong(raw.asInstanceOf[Int].toLong, n).toString
          case LongType | TimestampType | TimestampNTZType => raw =>
            IcebergBucket.bucketLong(raw.asInstanceOf[Long], n).toString
          case _: StringType => raw => IcebergBucket
            .bucketBytes(raw.asInstanceOf[UTF8String].getBytes, n).toString
          case other => throw new IllegalArgumentException(
            s"bucket on ${other.catalogString} (int/long/date/" +
              "timestamp/string sources stream; others via foreachBatch)")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform: $other")
    }
  }
}
