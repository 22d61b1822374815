package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.security.MessageDigest

/** Native Catalyst expressions for the hash-heavy text operators.
  *
  * Why custom expressions: the declarative formulations of shingled MinHash,
  * char-bigram extraction and rolling fingerprints need higher-order array
  * lambdas (`transform`/`aggregate`), which Spark evaluates INTERPRETED —
  * profiled at seconds per 5k docs. Each expression here is one compiled
  * pass per row (`doGenCode` emits a direct call into the expression
  * instance), 5-10x faster, with bit-identical md5-derived values so the
  * DuckDB oracle still reproduces every number.
  *
  * Registered as SQL functions (see [[TextHashExprs.register]]) so they
  * compose with `expr(...)` like any built-in.
  */
object TextHashExprs {
  /** Every graft SQL function, name -> builder: the one list that
    * [[graft.GraftExtensions]] injects and [[register]] registers. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "shingle_minhash" -> (args => ShingleMinHash(args.head)),
    "char_bigrams" -> (args => CharBigrams(args.head)),
    "rolling_fingerprint" -> (args => RollingFingerprint(args.head)),
    "token_simhash" -> (args => TokenSimHash(args.head)),
    "norm_md5" -> (args => NormMd5(args.head)),
    "bpe_count" -> (args => BpeCount(args.head)),
    "char_class_entropy" -> (args => CharClassEntropy(args.head)),
    "word_shingles" -> (args => WordShingles(args.head)),
    "topgram_profile" -> (args => TopGramProfile(args.head)),
    "vec_dot" -> (args => VecDot(args(0), args(1))),
    "vec_cosine" -> (args => VecCosine(args(0), args(1))),
    "rhp_bucket" -> (args => RhpBucket(args(0),
      BinaryVecExpr.foldableInt(args(1), "rhp_bucket"))),
    "zorder2" -> (args => ZOrder2(args(0), args(1))),
    "dhash64" -> (args => DHash64(args.head)),
    "anchor_fingerprints" -> (args => AnchorFingerprints(args.head)),
    "ivec_quant" -> (args => IntVecQuant(args(0),
      BinaryVecExpr.foldableInt(args(1), "ivec_quant"),
      BinaryVecExpr.foldableInt(args(2), "ivec_quant"))),
    "ivec_dot" -> (args => IntVecDot(args(0), args(1))),
    "ivec_norm2" -> (args => IntVecNorm2(args(0))),
    "ivec_nearest" -> (args => IntVecNearest(args(0),
      IntVecExprs.foldableLongMatrix(args(1), "ivec_nearest"))),
    "iceberg_bucket" -> (args => IcebergBucket(args(0),
      BinaryVecExpr.foldableInt(args(1), "iceberg_bucket"))))

  /** Registers each of [[sqlFunctions]] the session's registry lacks, so
    * on a session built with [[graft.GraftExtensions]] it does nothing.
    * Idempotent; call it per session (a cloned session has its own
    * registry). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  private[functions] def md5PrefixLong(md: MessageDigest, s: String,
                                       hexChars: Int): Long = {
    val digest = md.digest(s.getBytes("UTF-8"))
    // first hexChars hex digits of the md5, parsed base-16 (matches
    // DuckDB's ('0x'||substr(md5(s),1,n))::BIGINT and Spark's conv(...))
    var v = 0L
    var i = 0
    while (i < hexChars) {
      val b = digest(i / 2) & 0xff
      val nibble = if (i % 2 == 0) b >>> 4 else b & 0xf
      v = (v << 4) | nibble
      i += 1
    }
    v
  }
}

/** Codegen glue shared by the custom expressions: Janino (Spark's codegen
  * compiler) rejects a direct `(long) obj` / `(double) obj` cast from
  * Object, so primitive results must unbox explicitly — a silent
  * WholeStageCodegen fallback otherwise (the query still runs, interpreted,
  * with the speed win quietly lost). */
private[functions] object GenHelp {
  def unbox(ref: String, dt: DataType): String = dt match {
    case LongType   => s"((java.lang.Long) $ref).longValue()"
    case org.apache.spark.sql.types.DoubleType =>
      s"((java.lang.Double) $ref).doubleValue()"
    case other =>
      val jt = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .javaType(other)
      s"($jt) $ref"
  }
}

/** Shared helper: generated code calls `compute` on the instance reference —
  * one virtual call per row, all work in compiled Scala. */
trait SingleArgHashExpr extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | org.apache.spark.sql.types.NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string argument, got ${other.catalogString}")
    }

  def compute(s: UTF8String): Any

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashExpr", this, classOf[SingleArgHashExpr].getName)
    val r = ctx.freshName("r") // two expressions can share one codegen scope
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |Object $r = $ref.compute($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${GenHelp.unbox(r, dataType)}; }
       """.stripMargin
    })
  }
}

/** `shingle_minhash(text)` -> array<bigint> of [[graft.ops.Dedup.NumHashes]]
  * minhashes over 3-word shingles: h = int(hex7(md5(shingle)));
  * mh_i = min (a_i*h + b_i) mod p. Null when the text has no 3-gram. */
case class ShingleMinHash(child: Expression) extends SingleArgHashExpr {
  import graft.ops.Dedup.{hashA, hashB, MinhashPrime, NumHashes}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): ShingleMinHash =
    copy(child = c)

  override def compute(s: UTF8String): Any = {
    val tokens = s.toString.split(" ", -1)
    if (tokens.length < 3) return null
    val md = MessageDigest.getInstance("MD5")
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= tokens.length - 3) {
      sb.setLength(0)
      sb.append(tokens(i)).append(' ').append(tokens(i + 1)).append(' ')
        .append(tokens(i + 2))
      val h = TextHashExprs.md5PrefixLong(md, sb.toString, 7)
      var k = 0
      while (k < NumHashes) {
        val v = (hashA(k) * h + hashB(k)) % MinhashPrime
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** `char_bigrams(text)` -> array<string> of all consecutive 2-CODEPOINT
  * windows — the same values as `substr(text, i, 2)` for i in 1..len-1 in
  * BOTH engines (Spark's UTF8String substring and DuckDB's substr count
  * code points, so iterating UTF-16 code units here would split surrogate
  * pairs and disagree with each). BMP-only strings take an index-arithmetic
  * fast path; supplementary-plane strings step via offsetByCodePoints. */
case class CharBigrams(child: Expression) extends SingleArgHashExpr {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): CharBigrams =
    copy(child = c)

  override def compute(s: UTF8String): Any = {
    val str = s.toString
    val nCp = str.codePointCount(0, str.length)
    if (nCp < 2) return null
    val out = new Array[Any](nCp - 1)
    if (nCp == str.length) { // no surrogate pairs: char index == codepoint
      var i = 0
      while (i < nCp - 1) {
        out(i) = UTF8String.fromString(str.substring(i, i + 2))
        i += 1
      }
    } else {
      var start = 0 // char offset of the window's first codepoint
      var next = str.offsetByCodePoints(start, 1)
      var k = 0
      while (k < nCp - 1) {
        val end = str.offsetByCodePoints(next, 1)
        out(k) = UTF8String.fromString(str.substring(start, end))
        start = next
        next = end
        k += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** `word_shingles(text)` -> array<string>: the DISTINCT 3-word shingles of
  * the space-split token stream, in first-occurrence order. Null when the
  * text has fewer than 3 tokens. */
case class WordShingles(child: Expression) extends SingleArgHashExpr {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)

  override def compute(s: UTF8String): Any = {
    val tokens = s.toString.split(" ", -1)
    if (tokens.length < 3) return null
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= tokens.length - 3) {
      sb.setLength(0)
      sb.append(tokens(i)).append(' ').append(tokens(i + 1)).append(' ')
        .append(tokens(i + 2))
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}

/** `token_simhash(text)` -> bigint: 60-bit SimHash over the DISTINCT
  * space-split tokens — bit b set iff a strict majority of token hashes
  * (int(hex15(md5(token)))) have bit b set. Never null for non-null input:
  * `"".split(" ", -1)` yields one empty token (as does DuckDB's
  * string_split, keeping parity), so empty text hashes that token; the
  * null guard below is defensive only. */
case class TokenSimHash(child: Expression) extends SingleArgHashExpr {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): TokenSimHash =
    copy(child = c)

  override def compute(s: UTF8String): Any = {
    val tokens = s.toString.split(" ", -1).distinct
    if (tokens.isEmpty) return null
    val md = MessageDigest.getInstance("MD5")
    val counts = new Array[Int](60)
    tokens.foreach { t =>
      val h = TextHashExprs.md5PrefixLong(md, t, 15)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
    }
    var sim = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) * 2 > tokens.length) sim |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sim)
  }
}

/** `norm_md5(text)` -> string: the exact-dedup content fingerprint
  * `md5(lower(trim(regexp_replace(text, '\\s+', ' '))))` in ONE compiled
  * pass with zero String/regex machinery — lowercase via
  * `UTF8String.toLowerCase` (locale-independent, same as Spark's `lower`),
  * then a byte-level sweep that trims and collapses whitespace runs
  * straight into the md5 buffer. Whitespace is RE2's `\s` class
  * `[ \t\n\f\r]` — what the DuckDB oracle's regexp_replace matches
  * (verified empirically: RE2 `\s` does NOT include U+000B vertical tab,
  * while Java regex `\s` does; the oracle is the contract, so this
  * expression deliberately sides with RE2 on that one character). ASCII
  * bytes never occur inside UTF-8 multibyte sequences, so the byte sweep
  * is UTF-8-safe. Parity is pinned by a spec comparing against the
  * declarative expression over the corpus plus an explicit \x0B case. */
case class NormMd5(child: Expression) extends SingleArgHashExpr {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): NormMd5 =
    copy(child = c)

  // RE2 \s (the oracle's class): NO 0x0B, unlike Java regex \s
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\f' || b == '\r'

  override def compute(s: UTF8String): Any = {
    val bytes = s.toLowerCase.getBytes
    val out = new Array[Byte](bytes.length)
    var i = 0
    var j = 0
    var pendingWs = false
    while (i < bytes.length) {
      val b = bytes(i)
      if (isWs(b)) pendingWs = true
      else {
        if (pendingWs && j > 0) { out(j) = ' '; j += 1 } // collapse; trim ends
        pendingWs = false
        out(j) = b
        j += 1
      }
      i += 1
    }
    val md = MessageDigest.getInstance("MD5")
    md.update(out, 0, j)
    val digest = md.digest()
    val hex = new Array[Byte](32)
    val tab = NormMd5.HexTab
    i = 0
    while (i < 16) {
      hex(2 * i) = tab((digest(i) >> 4) & 0xf)
      hex(2 * i + 1) = tab(digest(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(hex)
  }
}

object NormMd5 {
  private[functions] val HexTab = "0123456789abcdef".getBytes
}

/** `char_class_entropy(text)` -> double: Shannon entropy (nats) of the
  * document's character-CLASS distribution over {lower, upper, digit,
  * whitespace, other} — the single-pass gibberish/boilerplate signal
  * behind q113 (a run of one class scores 0; max is ln 5). One compiled
  * codepoint loop replaces the five `regexp_replace` length subtractions
  * the declarative form (and the DuckDB oracle) needs.
  *
  * Oracle parity: the whitespace class is RE2's `\s` (no 0x0B, like
  * [[NormMd5]]); counts are codepoints to match DuckDB `length`; the five
  * p*ln(p) terms are added in the fixed class order the oracle SQL writes
  * out, and `+ 0.0` normalizes the all-one-class `-0.0` before it can
  * break a bitwise hash compare. Null for empty text. */
case class CharClassEntropy(child: Expression)
    extends SingleArgHashExpr {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): CharClassEntropy =
    copy(child = c)

  override def compute(s: UTF8String): Any = {
    val str = s.toString
    var cl = 0L; var cu = 0L; var cd = 0L; var cw = 0L; var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      if (cp >= 'a' && cp <= 'z') cl += 1
      else if (cp >= 'A' && cp <= 'Z') cu += 1
      else if (cp >= '0' && cp <= '9') cd += 1
      else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\f' ||
        cp == '\r') cw += 1
    }
    if (n == 0L) null
    else {
      val co = n - cl - cu - cd - cw
      val nd = n.toDouble
      def term(c: Long): Double =
        if (c > 0L) { val p = c.toDouble / nd; p * Math.log(p) } else 0.0
      -(term(cl) + term(cu) + term(cd) + term(cw) + term(co)) + 0.0
    }
  }
}

/** `bpe_count(text)` -> bigint: the number of matches of the BPE-ish
  * pre-tokenizer regex `[a-z]+|[0-9]+|[^a-z0-9\s]` over `lower(text)`,
  * counted in ONE compiled pass instead of materializing every match the
  * way `size(regexp_extract_all(...))` must. State machine over code
  * points: a letter-run is one token, a digit-run is one token, RE2 `\s`
  * whitespace separates, and any other code point is one token by itself.
  * The whitespace class is RE2's `[ \t\n\f\r]` — the DuckDB oracle's
  * semantics; Java regex `\s` additionally matches U+000B, and the oracle
  * is the contract, so \x0B here is a symbol token (one match), exactly
  * as DuckDB counts it. Parity pinned by a corpus spec + \x0B case. */
case class BpeCount(child: Expression) extends SingleArgHashExpr {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): BpeCount =
    copy(child = c)

  override def compute(s: UTF8String): Any = {
    val str = s.toLowerCase.toString
    var count = 0L
    var state = 0 // 0 = none, 1 = in letter run, 2 = in digit run
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp >= 'a' && cp <= 'z') {
        if (state != 1) { count += 1; state = 1 }
      } else if (cp >= '0' && cp <= '9') {
        if (state != 2) { count += 1; state = 2 }
      } else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\f' ||
          cp == '\r') { // RE2 \s: no 0x0B (see scaladoc)
        state = 0
      } else {
        count += 1 // any other code point is its own token
        state = 0
      }
      i += Character.charCount(cp)
    }
    java.lang.Long.valueOf(count)
  }
}

/** `rolling_fingerprint(text)` -> bigint: min over all 12-CODEPOINT windows
  * of int(hex15(md5(window))) — the winnowing-style document fingerprint.
  * Windows are code points (not UTF-16 units) for the same two-engine
  * parity reason as [[CharBigrams]]. Null when the text is shorter than 12
  * code points. */
case class RollingFingerprint(child: Expression) extends SingleArgHashExpr {
  val WindowLen = 12

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): RollingFingerprint =
    copy(child = c)

  override def compute(s: UTF8String): Any = {
    val str = s.toString
    val n = str.length
    val nCp = str.codePointCount(0, n)
    if (nCp < WindowLen) return null
    val md = MessageDigest.getInstance("MD5")
    var minV = Long.MaxValue
    if (nCp == n) { // BMP fast path: char index == codepoint, no bounds array
      var i = 0
      while (i <= n - WindowLen) {
        val h = TextHashExprs.md5PrefixLong(md, str.substring(i, i + WindowLen), 15)
        if (h < minV) minV = h
        i += 1
      }
    } else {
      // char offset of each codepoint boundary, computed once per document
      val bounds = new Array[Int](nCp + 1)
      var ci = 0
      var off = 0
      while (off < n) { bounds(ci) = off; off = str.offsetByCodePoints(off, 1); ci += 1 }
      bounds(nCp) = n
      var i = 0
      while (i <= nCp - WindowLen) {
        val h = TextHashExprs.md5PrefixLong(md,
          str.substring(bounds(i), bounds(i + WindowLen)), 15)
        if (h < minV) minV = h
        i += 1
      }
    }
    java.lang.Long.valueOf(minV)
  }
}

/** `anchor_fingerprints(text)` -> array<bigint>: the DISTINCT, sorted
  * hashes of every [[AnchorFingerprints.WindowLen]]-codepoint window whose
  * hash is divisible by [[AnchorFingerprints.AnchorMod]] — content-defined
  * anchor selection (the winnowing/MOSS family): whether a window is an
  * anchor depends only on its CONTENT, so two documents sharing any long
  * exact character run select the SAME anchors inside it regardless of
  * where the run sits in either document. Fixed-stride sampling cannot
  * offer that alignment robustness, and hashing every window without
  * selection would multiply the downstream join input by AnchorMod.
  *
  * One compiled pass per document emitting only the ~1/AnchorMod selected
  * hashes (in-row dedup, like [[WordShingles]]) — the candidate join never
  * sees per-window volume. Windows are code points (BMP fast path +
  * surrogate-aware bounds array, same two-engine contract as
  * [[RollingFingerprint]]); hash = int(hex15(md5(window))), matching
  * DuckDB's `('0x'||substr(md5(w),1,15))::BIGINT`. Null when the text is
  * shorter than one window; an anchor-free long text yields an empty
  * array (explodes to zero rows). */
case class AnchorFingerprints(child: Expression) extends SingleArgHashExpr {
  import AnchorFingerprints._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): AnchorFingerprints =
    copy(child = c)

  override def compute(s: UTF8String): Any = {
    val str = s.toString
    val n = str.length
    val nCp = str.codePointCount(0, n)
    if (nCp < WindowLen) return null
    val md = MessageDigest.getInstance("MD5")
    val seen = new java.util.TreeSet[java.lang.Long]()
    if (nCp == n) { // BMP fast path: char index == codepoint
      var i = 0
      while (i <= n - WindowLen) {
        val h = TextHashExprs.md5PrefixLong(md, str.substring(i, i + WindowLen), 15)
        if (h % AnchorMod == 0) seen.add(h)
        i += 1
      }
    } else {
      val bounds = new Array[Int](nCp + 1)
      var ci = 0
      var off = 0
      while (off < n) { bounds(ci) = off; off = str.offsetByCodePoints(off, 1); ci += 1 }
      bounds(nCp) = n
      var i = 0
      while (i <= nCp - WindowLen) {
        val h = TextHashExprs.md5PrefixLong(md,
          str.substring(bounds(i), bounds(i + WindowLen)), 15)
        if (h % AnchorMod == 0) seen.add(h)
        i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }
}

object AnchorFingerprints {
  /** 12-codepoint windows, 1-in-16 content-defined selection: a shared run
    * of L codepoints contains L-11 windows, so runs of ~30+ chars are
    * overwhelmingly likely to contain an anchor and runs under WindowLen
    * can never produce one. */
  val WindowLen = 12
  val AnchorMod = 16
}

/** `topgram_profile(text)` -> array<struct<n, top_gram, top_count, n_grams,
  * n_unique>> — the q199 within-document repetition profile computed
  * IN-ROW: for every n in [[graft.ops.TextOps.TopGramNs]] with at least
  * one n-gram in the doc, the most frequent space-joined word n-gram
  * (ties to the binary-smallest gram, Spark's string order), its count,
  * and the total/distinct gram counts.
  *
  * Why native (optimization r15): the declarative q199 exploded EVERY
  * gram occurrence into a (doc, n, gram)-keyed exchange — ~3 string rows
  * per token through a shuffle plus two document-keyed window passes —
  * for a computation that never leaves the row. One compiled pass per
  * document replaces all of it (plan: 4 Exchanges -> 1 output sort);
  * semantics are bit-identical, tie-break included: gram candidates
  * compare as UTF8 BYTES (UTF8String.binaryCompare), matching the window
  * `orderBy(desc(cnt), col("g"))` the declarative form used.
  *
  * Tokens are the space-split non-empty words — `filter(split(text, ' '),
  * x -> x <> '')` exactly (consecutive spaces collapse; other whitespace
  * is data). Null for null text; an empty array when no n fits (the
  * caller's explode then drops the doc, like the old `size(t) >= n`
  * filter). */
case class TopGramProfile(child: Expression) extends SingleArgHashExpr {
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.types.StructField

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("top_gram", StringType, nullable = false),
    StructField("top_count", LongType, nullable = false),
    StructField("n_grams", LongType, nullable = false),
    StructField("n_unique", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): TopGramProfile =
    copy(child = c)

  override def compute(s: UTF8String): Any = {
    val raw = s.toString.split(" ", -1)
    var nTok = 0
    var i = 0
    while (i < raw.length) { // in-place filter of empty tokens
      if (!raw(i).isEmpty) { raw(nTok) = raw(i); nTok += 1 }
      i += 1
    }
    val ns = graft.ops.TextOps.TopGramNs
    val rows = new scala.collection.mutable.ArrayBuffer[Any](ns.size)
    val counts = new java.util.HashMap[String, Int]()
    val sb = new java.lang.StringBuilder(64)
    ns.foreach { n =>
      if (nTok >= n) {
        counts.clear()
        val g = nTok - n + 1
        var j = 0
        while (j < g) {
          sb.setLength(0)
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(raw(j + k))
            k += 1
          }
          counts.merge(sb.toString, 1, Integer.sum)
          j += 1
        }
        // top-1 by (count desc, gram asc in UTF-8 byte order) — the same
        // total order the old window's (desc(cnt), col("g")) sort used
        var bestG: String = null
        var bestU: UTF8String = null
        var bestC = 0
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.intValue()
          if (c > bestC) {
            bestG = e.getKey; bestU = null; bestC = c
          } else if (c == bestC) {
            if (bestU == null) bestU = UTF8String.fromString(bestG)
            val u = UTF8String.fromString(e.getKey)
            if (u.binaryCompare(bestU) < 0) { bestG = e.getKey; bestU = u }
          }
        }
        rows += org.apache.spark.sql.catalyst.InternalRow(
          n.toLong, UTF8String.fromString(bestG), bestC.toLong,
          g.toLong, counts.size.toLong)
      }
    }
    new GenericArrayData(rows.toArray)
  }
}
