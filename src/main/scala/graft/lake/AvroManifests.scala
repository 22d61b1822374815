package graft.lake

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Iceberg-spec Avro manifest machinery (the file formats `pyiceberg`
  * writes for the reference, `/root/reference/target_iceberg/sinks.py:
  * 96-100`): a MANIFEST LIST per snapshot (one `manifest_file` record per
  * manifest, spec field-ids 500-517) and a MANIFEST per data directory
  * (one `manifest_entry` record per data FILE, field-ids 0-4 wrapping the
  * `data_file` struct, ids 100-140). Schemas carry the spec's field ids
  * as Avro `field-id` props, exactly as Iceberg's Java writer emits them,
  * so an external Avro reader sees spec-conformant files.
  *
  * Inheritance is the load-bearing design point: manifest ENTRIES carry
  * `null` snapshot_id / sequence_number and inherit both from the
  * manifest-list entry that references the manifest (the spec's v2
  * inheritance rule). That makes the per-directory manifest file
  * COMMIT-AGNOSTIC — exactly like the data directories themselves — so a
  * CAS loser's manifest is reusable verbatim by the retry, and a
  * carried-over directory's manifest is referenced by every later
  * snapshot without rewriting (Iceberg's manifest-reuse shape).
  *
  * Per-column stats (round 10, completed round 11): `column_sizes` /
  * `value_counts` / `null_value_counts` / `nan_value_counts` /
  * `lower_bounds` / `upper_bounds` (spec ids 108/109/110/137/125/128,
  * map-as-array k/v records exactly as Iceberg's Java writer emits them)
  * are populated from the parquet FOOTERS at manifest-write time — sizes
  * and counts summed and min/max folded across row groups, bounds in the
  * spec's Appendix-D single-value binary form (little-endian ints/longs/
  * floats, UTF-8 strings, raw binary, minimal two's-complement big-endian
  * unscaled decimals; string and binary bounds truncated to 16 bytes —
  * lower as a prefix, upper as a prefix with its last code point / byte
  * incremented, Iceberg's `truncate(16)` metrics default — so a long text
  * column costs each manifest entry bytes, not kilobytes) — for every
  * top-level column whose physical type carries usable parquet
  * statistics. `nan_value_counts` alone cannot come off a footer
  * (parquet statistics exclude NaNs); float/double columns pay one
  * projected column scan per file, once ever, for the exact count.
  * These stats are what make manifest-level FILE SKIPPING work: a reader
  * (ours: `loadSlice`) drops a file when its [lower, upper] range cannot
  * intersect the query bound, without opening the file.
  *
  * Documented divergences (pinned by IcebergMetadataSpec): no stats for
  * INT96 timestamps (parquet deprecates their statistics — Spark 4
  * writes INT64); partition
  * tuple values are typed for long/int/string identity sources and carry
  * the Hive path string for other source types; non-path-derivable
  * transforms (bucket[N]) carry null.
  */
object AvroManifests {

  /** One data-file row of a manifest (spec `manifest_entry` + `data_file`).
    * `status` 0=EXISTING 1=ADDED 2=DELETED; `content` 0=data 1=position
    * deletes 2=equality deletes; `partition` maps partition field name →
    * path-parsed value (None = null / not derivable); `equalityIds` only
    * for content=2. */
  case class DataFileEntry(
      status: Int,
      content: Int,
      filePath: String,
      fileFormat: String,
      partition: Seq[(String, Option[String])],
      recordCount: Long,
      fileSizeInBytes: Long,
      equalityIds: Seq[Int] = Nil,
      valueCounts: Seq[(Int, Long)] = Nil,
      nullValueCounts: Seq[(Int, Long)] = Nil,
      lowerBounds: Seq[(Int, Array[Byte])] = Nil,
      upperBounds: Seq[(Int, Array[Byte])] = Nil,
      columnSizes: Seq[(Int, Long)] = Nil,
      nanValueCounts: Seq[(Int, Long)] = Nil)

  /** A top-level column the stats collector covers: its Iceberg field id
    * (the bounds-map key) and Iceberg type (picks the Appendix-D binary
    * form). */
  case class StatField(name: String, fieldId: Int, icebergType: String)

  /** One manifest row of a manifest list (spec `manifest_file`).
    * `content` 0=data 1=deletes. Sequence numbers are what the manifest's
    * entries INHERIT. */
  case class ManifestListEntry(
      manifestPath: String,
      manifestLength: Long,
      partitionSpecId: Int,
      content: Int,
      sequenceNumber: Long,
      minSequenceNumber: Long,
      addedSnapshotId: Long,
      addedFilesCount: Int,
      existingFilesCount: Int,
      deletedFilesCount: Int,
      addedRowsCount: Long,
      existingRowsCount: Long,
      deletedRowsCount: Long,
      partitions: Option[Seq[FieldSummary]] = None)

  /** Spec `field_summary` (manifest_file field 507): per partition-spec
    * field, whether any file in the manifest carries a null value and
    * the Appendix-D-encoded lower/upper bounds of the tuple values —
    * the DIR-level pruning input that lets scan planning drop a whole
    * manifest (and skip READING it) when a pushed filter provably
    * misses its range (VERDICT r14 #2). Bounds are typed per the
    * manifest partition field's Avro carrier (long/int LE, string
    * UTF-8); None = not provable (reader keeps the manifest). */
  case class FieldSummary(containsNull: Boolean,
                          lowerBound: Option[Array[Byte]],
                          upperBound: Option[Array[Byte]])

  /** A partition field of the table's default spec, as the manifest layer
    * needs it: the spec field name (= the Hive path segment name), and the
    * Avro type its tuple values carry ("long" | "int" | "string" | null =
    * not path-derivable). */
  case class PartitionField(name: String, avroType: Option[String])

  // ---- Avro schemas ------------------------------------------------------

  /** Spec `manifest_file` (the manifest-list record), v2 field set. */
  val manifestListSchema: Schema = new Schema.Parser().parse("""
    {"type": "record", "name": "manifest_file", "fields": [
      {"name": "manifest_path", "type": "string", "field-id": 500},
      {"name": "manifest_length", "type": "long", "field-id": 501},
      {"name": "partition_spec_id", "type": "int", "field-id": 502},
      {"name": "content", "type": "int", "field-id": 517},
      {"name": "sequence_number", "type": "long", "field-id": 515},
      {"name": "min_sequence_number", "type": "long", "field-id": 516},
      {"name": "added_snapshot_id", "type": "long", "field-id": 503},
      {"name": "added_files_count", "type": "int", "field-id": 504},
      {"name": "existing_files_count", "type": "int", "field-id": 505},
      {"name": "deleted_files_count", "type": "int", "field-id": 506},
      {"name": "added_rows_count", "type": "long", "field-id": 512},
      {"name": "existing_rows_count", "type": "long", "field-id": 513},
      {"name": "deleted_rows_count", "type": "long", "field-id": 514},
      {"name": "partitions", "type": ["null", {"type": "array",
        "items": {"type": "record", "name": "r507", "fields": [
          {"name": "contains_null", "type": "boolean", "field-id": 509},
          {"name": "contains_nan", "type": ["null", "boolean"],
           "default": null, "field-id": 518},
          {"name": "lower_bound", "type": ["null", "bytes"],
           "default": null, "field-id": 510},
          {"name": "upper_bound", "type": ["null", "bytes"],
           "default": null, "field-id": 511}
        ]}}], "default": null, "field-id": 507}
    ]}""")

  private lazy val fieldSummarySchema: Schema = {
    val arr = manifestListSchema.getField("partitions").schema()
      .getTypes.get(1)
    arr.getElementType
  }

  private val AvroNameRx = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Avro record field names must match `[A-Za-z_][A-Za-z0-9_]*`, but a
    * partition field is named after a source COLUMN, which may carry a
    * hyphen, a leading digit, or unicode — embedding such a name verbatim
    * makes Schema.Parser throw at manifest-WRITE time, failing every
    * commit on the table. A non-identifier name falls back to the
    * positional `_gp<i>`; the REAL name always rides the field's
    * `real-name` prop, which the read side prefers — so the
    * [[DataFileEntry]] partition tuple is keyed by the real name either
    * way. */
  private def avroFieldNames(partitionFields: Seq[PartitionField])
      : Seq[String] = {
    val taken = scala.collection.mutable.Set[String]()
    partitionFields.zipWithIndex.map { case (pf, i) =>
      val base =
        if (AvroNameRx.matches(pf.name) && !taken.contains(pf.name)) pf.name
        else s"_gp$i"
      var name = base
      while (taken.contains(name)) name += "_"
      taken += name
      name
    }.toSeq
  }

  /** Spec `manifest_entry` wrapping `data_file` (r2) with the partition
    * tuple record (r102) built from the table's partition spec. */
  def manifestEntrySchema(partitionFields: Seq[PartitionField]): Schema = {
    val avroNames = avroFieldNames(partitionFields)
    val r102Fields = partitionFields.zip(avroNames).zipWithIndex.map {
      case ((pf, an), i) =>
        val t = pf.avroType.getOrElse("string")
        s"""{"name": "$an", "type": ["null", "$t"],
            "default": null, "field-id": ${1000 + i},
            "real-name": ${quote(pf.name)}}"""
    }.mkString(",")
    new Schema.Parser().parse(s"""
      {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": null,
         "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": null, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": null, "field-id": 4},
        {"name": "data_file", "field-id": 2, "type":
          {"type": "record", "name": "r2", "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "field-id": 102, "type":
              {"type": "record", "name": "r102", "fields": [$r102Fields]}},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {"name": "column_sizes", "type": ["null",
              {"type": "array", "logicalType": "map", "items":
                {"type": "record", "name": "k117_v118", "fields": [
                  {"name": "key", "type": "int", "field-id": 117},
                  {"name": "value", "type": "long", "field-id": 118}]}}],
             "default": null, "field-id": 108},
            {"name": "value_counts", "type": ["null",
              {"type": "array", "logicalType": "map", "items":
                {"type": "record", "name": "k119_v120", "fields": [
                  {"name": "key", "type": "int", "field-id": 119},
                  {"name": "value", "type": "long", "field-id": 120}]}}],
             "default": null, "field-id": 109},
            {"name": "null_value_counts", "type": ["null",
              {"type": "array", "logicalType": "map", "items":
                {"type": "record", "name": "k121_v122", "fields": [
                  {"name": "key", "type": "int", "field-id": 121},
                  {"name": "value", "type": "long", "field-id": 122}]}}],
             "default": null, "field-id": 110},
            {"name": "nan_value_counts", "type": ["null",
              {"type": "array", "logicalType": "map", "items":
                {"type": "record", "name": "k138_v139", "fields": [
                  {"name": "key", "type": "int", "field-id": 138},
                  {"name": "value", "type": "long", "field-id": 139}]}}],
             "default": null, "field-id": 137},
            {"name": "lower_bounds", "type": ["null",
              {"type": "array", "logicalType": "map", "items":
                {"type": "record", "name": "k126_v127", "fields": [
                  {"name": "key", "type": "int", "field-id": 126},
                  {"name": "value", "type": "bytes", "field-id": 127}]}}],
             "default": null, "field-id": 125},
            {"name": "upper_bounds", "type": ["null",
              {"type": "array", "logicalType": "map", "items":
                {"type": "record", "name": "k129_v130", "fields": [
                  {"name": "key", "type": "int", "field-id": 129},
                  {"name": "value", "type": "bytes", "field-id": 130}]}}],
             "default": null, "field-id": 128},
            {"name": "equality_ids", "type": ["null",
              {"type": "array", "items": "int", "element-id": 136}],
             "default": null, "field-id": 135}
          ]}}
      ]}""")
  }

  // ---- Appendix-D single-value binary form --------------------------------

  /** Serialize one bound value to the spec's single-value binary form.
    * Decimals (folded as unscaled BigIntegers, see [[footerStats]]) take
    * Appendix D's minimal two's-complement big-endian form; binary takes
    * its raw bytes. None only for values no form covers (e.g. INT96). */
  def boundBytes(icebergType: String, v: Any): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    (icebergType, v) match {
      case ("long" | "timestamp" | "timestamptz", l: java.lang.Long) =>
        Some(le(8).putLong(l).array())
      case ("int" | "date", i: java.lang.Integer) =>
        Some(le(4).putInt(i).array())
      case ("double", d: java.lang.Double) =>
        Some(le(8).putDouble(d).array())
      case ("float", f: java.lang.Float) =>
        Some(le(4).putFloat(f).array())
      case ("boolean", b: java.lang.Boolean) =>
        Some(Array[Byte](if (b) 1 else 0))
      case ("string" | "binary", b: org.apache.parquet.io.api.Binary) =>
        Some(b.getBytes)
      case (t, bi: java.math.BigInteger) if t.startsWith("decimal(") =>
        // BigInteger.toByteArray IS the spec form: minimal-length
        // two's-complement big-endian unscaled value
        Some(bi.toByteArray)
      case _ => None
    }
  }

  /** Decode a bound back into the comparable domain [[boundBytes]] wrote:
    * Long for long/timestamps, Int for int/date, Double/Float, the raw
    * UTF-8/raw bytes for string/binary (compare
    * unsigned-lexicographically — parquet UTF8/BINARY order), Boolean,
    * unscaled BigInteger for decimals (same-scale compare — the scale is
    * the column type's). */
  def decodeBound(icebergType: String, bytes: Array[Byte]): Option[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    icebergType match {
      case "long" | "timestamp" | "timestamptz" if bytes.length == 8 =>
        Some(bb.getLong)
      // PROMOTION-AWARE decode: a manifest written before an int->long
      // (float->double) evolution carries 4-byte bounds under a column
      // the schema now types long (double) — widen on read, exactly as
      // the data path does, so file skipping survives the promotion
      // (decimal bounds need nothing: the unscaled two's-complement form
      // is precision-independent and promotions never change scale)
      case "long" if bytes.length == 4   => Some(bb.getInt.toLong)
      case "int" | "date" if bytes.length == 4 => Some(bb.getInt)
      case "double" if bytes.length == 8       => Some(bb.getDouble)
      case "double" if bytes.length == 4 => Some(bb.getFloat.toDouble)
      case "float" if bytes.length == 4        => Some(bb.getFloat)
      case "boolean" if bytes.length == 1      => Some(bytes(0) != 0)
      case "string" | "binary"                 => Some(bytes)
      case t if t.startsWith("decimal(") && bytes.nonEmpty =>
        Some(new java.math.BigInteger(bytes))
      case _                                   => None
    }
  }

  /** String bounds are TRUNCATED to this many bytes (Iceberg's
    * `write.metadata.metrics.default = truncate(16)`): without it a long
    * text column would embed kilobytes of document prefix into every
    * manifest entry — manifests are control-plane metadata read on every
    * scan plan, and at 100 TB their size is a first-order cost. */
  val StringBoundTruncate = 16

  /** Lower-bound truncation: a UTF-8-boundary prefix is always a valid
    * (≤ actual min) lower bound. */
  def truncateLower(b: Array[Byte]): Array[Byte] =
    if (b.length <= StringBoundTruncate) b
    else {
      var i = StringBoundTruncate
      // back off to a UTF-8 code-point boundary (never split a char)
      while (i > 0 && (b(i) & 0xC0) == 0x80) i -= 1
      java.util.Arrays.copyOf(b, i)
    }

  /** Upper-bound truncation: the prefix alone would UNDERSTATE the max,
    * so the truncated prefix's last code point is incremented (valid
    * UTF-8 in, valid UTF-8 out — code-point order = UTF-8 byte order);
    * invalid-UTF-8 input falls back to a byte-level increment (still a
    * correct unsigned-byte-order bound, parquet's BINARY order). None
    * when nothing can be incremented (all 0xFF / U+10FFFF prefix) —
    * the column then publishes no upper bound for the file. */
  def truncateUpper(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= StringBoundTruncate) Some(b)
    else {
      val prefix = truncateLower(b)
      val s = new String(prefix, java.nio.charset.StandardCharsets.UTF_8)
      val roundTrips = java.util.Arrays.equals(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8), prefix)
      if (roundTrips) {
        val cps = s.codePoints().toArray
        var i = cps.length - 1
        while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
        if (i < 0) None
        else {
          var next = cps(i) + 1
          // skip the surrogate block (not encodable as a scalar value)
          if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
          val out = new java.lang.StringBuilder()
          (0 until i).foreach(j => out.appendCodePoint(cps(j)))
          out.appendCodePoint(next)
          Some(out.toString.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
        }
      } else {
        var i = prefix.length - 1
        while (i >= 0 && (prefix(i) & 0xff) == 0xff) i -= 1
        if (i < 0) None
        else {
          val out = java.util.Arrays.copyOf(prefix, i + 1)
          out(i) = ((out(i) & 0xff) + 1).toByte
          Some(out)
        }
      }
    }

  /** Unsigned lexicographic byte compare (parquet UTF8/BINARY order). */
  def compareUnsigned(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  private def quote(s: String): String =
    com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .writeValueAsString(s)

  // ---- parquet footer ----------------------------------------------------

  /** The one Hadoop [[org.apache.hadoop.conf.Configuration]] every
    * driver-side footer read opens files with. Built once: each
    * `new Configuration()` parses the default XML resources again, and a
    * commit reads one footer per new file. Never mutated, so sharing it
    * across the footer pool's threads is safe. */
  private[lake] lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Row count from the parquet footer (metadata-only read — the number a
    * real Iceberg writer knows from its own write; reading it back off the
    * footer keeps the manifest layer decoupled from the write path). */
  def parquetRowCount(file: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), hadoopConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Per-file stats bundle [[footerStats]] returns. */
  private case class FileStats(
      rows: Long,
      valueCounts: Seq[(Int, Long)],
      nullValueCounts: Seq[(Int, Long)],
      lowerBounds: Seq[(Int, Array[Byte])],
      upperBounds: Seq[(Int, Array[Byte])],
      columnSizes: Seq[(Int, Long)],
      nanValueCounts: Seq[(Int, Long)])

  /** One footer read serving the row count AND the per-column stats:
    * value/null counts and on-disk column sizes summed, min/max folded
    * across row groups (decimals re-expressed as unscaled BigIntegers —
    * an unsigned byte compare of two's-complement FLBA values would order
    * negatives above positives), bounds serialized per Appendix D
    * (string AND binary bounds truncate(16)). A column chunk without
    * usable statistics (INT96, missing stats) drops that column's bounds
    * for the FILE — never fabricates. `statFields` empty = row count
    * only (the pre-stats behavior, one cheap footer read).
    *
    * `nan_value_counts` is the one stat a parquet FOOTER cannot carry
    * (statistics exclude NaNs entirely), and Iceberg's own writer tallies
    * it during the write — which this catalog's Spark-side writer cannot
    * attribute per file. So float/double columns pay one PROJECTED column
    * scan here (only those columns' chunks are read, at manifest-write
    * time, once per file ever) for the exact count. */
  private def footerStats(file: Path, statFields: Seq[StatField])
      : FileStats = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), hadoopConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = r.getRecordCount
      if (statFields.isEmpty)
        return FileStats(rows, Nil, Nil, Nil, Nil, Nil, Nil)
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val byName = statFields.map(sf => sf.name -> sf).toMap
      // (fieldId -> accumulators) over every row group
      val vc = scala.collection.mutable.LinkedHashMap[Int, Long]()
      val nc = scala.collection.mutable.LinkedHashMap[Int, Long]()
      val cs = scala.collection.mutable.LinkedHashMap[Int, Long]()
      val lo = scala.collection.mutable.LinkedHashMap[Int, Any]()
      val hi = scala.collection.mutable.LinkedHashMap[Int, Any]()
      val statsBroken = scala.collection.mutable.Set[Int]()
      // decimal min/max arrive as Integer/Long/Binary depending on the
      // physical type — normalize to the unscaled BigInteger domain so
      // folding and Appendix-D serialization are physical-type-agnostic
      def statValue(sf: StatField, v: Any): Any =
        if (!sf.icebergType.startsWith("decimal(")) v
        else v match {
          case i: java.lang.Integer => java.math.BigInteger.valueOf(i.longValue())
          case l: java.lang.Long    => java.math.BigInteger.valueOf(l)
          case b: org.apache.parquet.io.api.Binary =>
            new java.math.BigInteger(b.getBytes)
          case other => other
        }
      for (b <- blocks; c <- b.getColumns.asScala) {
        val path = c.getPath.toArray
        if (path.length == 1) byName.get(path(0)).foreach { sf =>
          vc.updateWith(sf.fieldId)(p =>
            Some(p.getOrElse(0L) + c.getValueCount))
          cs.updateWith(sf.fieldId)(p =>
            Some(p.getOrElse(0L) + c.getTotalSize))
          val st = c.getStatistics
          if (st == null || st.isEmpty || !st.isNumNullsSet)
            statsBroken += sf.fieldId
          else {
            nc.updateWith(sf.fieldId)(p =>
              Some(p.getOrElse(0L) + st.getNumNulls))
            if (st.hasNonNullValue) {
              def fold(m: scala.collection.mutable.LinkedHashMap[Int, Any],
                       v: Any, keepLeft: (Any, Any) => Boolean): Unit =
                m.updateWith(sf.fieldId) {
                  case Some(prev) =>
                    Some(if (keepLeft(prev, v)) prev else v)
                  case None => Some(v)
                }
              def lt(a: Any, b: Any): Boolean = (a, b) match {
                case (x: org.apache.parquet.io.api.Binary,
                      y: org.apache.parquet.io.api.Binary) =>
                  compareUnsigned(x.getBytes, y.getBytes) < 0
                case (x: java.lang.Comparable[_], y) =>
                  x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y) < 0
                case _ => false
              }
              fold(lo, statValue(sf, st.genericGetMin),
                (p, v) => lt(p, v) || p == v)
              fold(hi, statValue(sf, st.genericGetMax),
                (p, v) => lt(v, p) || p == v)
            }
          }
        }
      }
      def bounds(m: scala.collection.mutable.LinkedHashMap[Int, Any],
                 isUpper: Boolean): Seq[(Int, Array[Byte])] =
        statFields.flatMap { sf =>
          if (statsBroken.contains(sf.fieldId)) None
          else m.get(sf.fieldId)
            .flatMap(v => boundBytes(sf.icebergType, v))
            .flatMap { raw =>
              if (sf.icebergType != "string" && sf.icebergType != "binary")
                Some(raw)
              else if (isUpper) truncateUpper(raw)
              else Some(truncateLower(raw))
            }
            .map(sf.fieldId -> _)
        }
      val vcs = statFields.flatMap(sf =>
        vc.get(sf.fieldId).map(sf.fieldId -> _))
      val ncs = statFields.flatMap(sf =>
        if (statsBroken.contains(sf.fieldId)) None
        else nc.get(sf.fieldId).map(sf.fieldId -> _))
      val css = statFields.flatMap(sf =>
        cs.get(sf.fieldId).map(sf.fieldId -> _))
      FileStats(rows, vcs, ncs,
        bounds(lo, isUpper = false), bounds(hi, isUpper = true), css,
        nanCounts(r, statFields))
    } finally r.close()
  }

  /** Exact NaN count per float/double stat column, via a PROJECTED
    * low-level column read — only those columns' chunks are decoded (see
    * [[footerStats]]' scaladoc for why the footer cannot supply this).
    * Columns absent from the file (pre-evolution) simply have no entry. */
  private def nanCounts(r: org.apache.parquet.hadoop.ParquetFileReader,
                        statFields: Seq[StatField]): Seq[(Int, Long)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val fileSchema = r.getFooter.getFileMetaData.getSchema
    // getType disambiguated via field index (String overloads collide)
    def typeOf(name: String): org.apache.parquet.schema.Type =
      fileSchema.getType(fileSchema.getFieldIndex(name))
    val nanFields = statFields.filter(sf =>
      (sf.icebergType == "float" || sf.icebergType == "double") &&
        fileSchema.containsField(sf.name) && typeOf(sf.name).isPrimitive)
    if (nanFields.isEmpty) return Nil
    val projection = new org.apache.parquet.schema.MessageType(
      fileSchema.getName, nanFields.map(sf => typeOf(sf.name)): _*)
    r.setRequestedSchema(projection)
    val acc = scala.collection.mutable.LinkedHashMap[Int, Long]()
    nanFields.foreach(sf => acc(sf.fieldId) = 0L)
    val dummy = new org.apache.parquet.io.api.GroupConverter {
      override def getConverter(i: Int) =
        new org.apache.parquet.io.api.PrimitiveConverter {}
      override def start(): Unit = ()
      override def end(): Unit = ()
    }
    var store = r.readNextRowGroup()
    while (store != null) {
      val crs = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
        store, dummy, projection,
        r.getFooter.getFileMetaData.getCreatedBy)
      projection.getColumns.asScala.zip(nanFields).foreach { case (cd, sf) =>
        val cr = crs.getColumnReader(cd)
        val isDouble =
          cd.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.DOUBLE
        val maxDef = cd.getMaxDefinitionLevel
        var i = 0L
        val n = cr.getTotalValueCount
        while (i < n) {
          if (cr.getCurrentDefinitionLevel == maxDef) {
            val isNan =
              if (isDouble) java.lang.Double.isNaN(cr.getDouble)
              else java.lang.Float.isNaN(cr.getFloat)
            if (isNan) acc(sf.fieldId) += 1L
          }
          cr.consume()
          i += 1
        }
      }
      store = r.readNextRowGroup()
    }
    acc.toSeq
  }

  // ---- data-dir scan -----------------------------------------------------

  /** Hive path unescape (%XX), the inverse of Spark's escapePathName. */
  private[lake] def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          s.charAt(i + 1).toString.matches("[0-9A-Fa-f]") &&
          s.charAt(i + 2).toString.matches("[0-9A-Fa-f]")) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Scan one immutable snapshot data directory into ADDED `data_file`
    * entries: every `.parquet` file, its footer row count, size, and the
    * partition tuple parsed from its Hive-style path segments
    * (`name=value`; `__HIVE_DEFAULT_PARTITION__` → null). Control-plane
    * cost: one footer read per file, once per directory ever (manifests
    * are immutable and reused across snapshots). */
  def scanDataDir(dir: Path,
                  partitionFields: Seq[PartitionField],
                  statFields: Seq[StatField] = Nil): Seq[DataFileEntry] = {
    val files = scala.util.Using.resource(Files.walk(dir))(
      _.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .toSeq).sortBy(_.toString)
    def entryOf(f: Path): DataFileEntry = {
      val segs = dir.relativize(f).iterator().asScala
        .map(_.toString).toSeq.dropRight(1)
      val pathVals = segs.collect {
        case s if s.contains('=') =>
          val (k, v) = s.splitAt(s.indexOf('='))
          unescape(k) -> unescape(v.drop(1))
      }.toMap
      val tuple = partitionFields.map { pf =>
        pf.name -> (pf.avroType match {
          case None => None // not path-derivable (bucket[N])
          case Some(_) => pathVals.get(pf.name)
            .filter(_ != "__HIVE_DEFAULT_PARTITION__")
        })
      }
      val fs = footerStats(f, statFields)
      DataFileEntry(status = 1, content = 0, filePath = f.toString,
        fileFormat = "PARQUET", partition = tuple,
        recordCount = fs.rows, fileSizeInBytes = Files.size(f),
        valueCounts = fs.valueCounts, nullValueCounts = fs.nullValueCounts,
        lowerBounds = fs.lowerBounds, upperBounds = fs.upperBounds,
        columnSizes = fs.columnSizes, nanValueCounts = fs.nanValueCounts)
    }
    // optimization r15 (guide §5/§7.3 driver work): the per-file footer
    // reads were serial on the committing thread — the visible floor of
    // every snapshot commit, and at scale a commit adding thousands of
    // files would read thousands of footers one by one. Each footerStats
    // call is self-contained (own reader; the shared read-only
    // [[hadoopConf]]), so a bounded
    // SHARED pool reads them concurrently (r16: hoisted out of the call —
    // the old per-call pool churned 8 threads on every commit); results
    // keep the sorted file order (futures joined in order), so manifests
    // are byte-identical. Failures rethrow their ORIGINAL cause, matching
    // the serial path's exception surface. ANY abort — a failed read, or
    // the committing thread interrupted in get() — cancels the queued
    // reads, so an abandoned commit never keeps the shared pool busy.
    if (files.lengthCompare(2) < 0) files.map(entryOf)
    else {
      val futures = files.map(f => footerPool.submit(
        new java.util.concurrent.Callable[DataFileEntry] {
          override def call(): DataFileEntry = entryOf(f)
        }))
      try futures.map(_.get())
      catch {
        case e: Throwable =>
          futures.foreach(_.cancel(false))
          throw (e match {
            case ee: java.util.concurrent.ExecutionException => ee.getCause
            case other => other
          })
      }
    }
  }

  /** Shared bounded executor for commit-time footer reads (daemon threads
    * — never pins the JVM). One pool per JVM instead of one per commit. */
  private[lake] lazy val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-footer-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  // ---- manifest write / read --------------------------------------------

  def writeManifest(path: Path, entries: Seq[DataFileEntry],
                    partitionFields: Seq[PartitionField]): Unit = {
    val schema = manifestEntrySchema(partitionFields)
    val r2 = schema.getField("data_file").schema()
    val r102 = r2.getField("partition").schema()
    Files.createDirectories(path.getParent)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    try {
      w.create(schema, path.toFile)
      // real column name → the (possibly sanitized) Avro field carrying it
      val fieldFor: Map[String, Schema.Field] = r102.getFields.asScala
        .map(f => Option(f.getProp("real-name")).getOrElse(f.name()) -> f)
        .toMap
      entries.foreach { e =>
        val part = new GenericData.Record(r102)
        e.partition.foreach { case (name, v) =>
          val fieldType = partitionFields.find(_.name == name)
            .flatMap(_.avroType)
          part.put(fieldFor(name).name(), (v, fieldType) match {
            case (Some(s), Some("long")) => java.lang.Long.valueOf(s)
            case (Some(s), Some("int"))  => java.lang.Integer.valueOf(s)
            case (Some(s), _)            => s
            case (None, _)               => null
          })
        }
        val df = new GenericData.Record(r2)
        df.put("content", e.content)
        df.put("file_path", e.filePath)
        df.put("file_format", e.fileFormat)
        df.put("partition", part)
        df.put("record_count", e.recordCount)
        df.put("file_size_in_bytes", e.fileSizeInBytes)
        def kvArray(field: String, pairs: Seq[(Int, AnyRef)]): AnyRef =
          if (pairs.isEmpty) null
          else {
            val arrSchema = r2.getField(field).schema()
              .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
            val itemSchema = arrSchema.getElementType
            pairs.map { case (k, v) =>
              val kv = new GenericData.Record(itemSchema)
              kv.put("key", k); kv.put("value", v); kv
            }.asJava
          }
        df.put("column_sizes", kvArray("column_sizes",
          e.columnSizes.map { case (k, v) =>
            k -> (java.lang.Long.valueOf(v): AnyRef) }))
        df.put("nan_value_counts", kvArray("nan_value_counts",
          e.nanValueCounts.map { case (k, v) =>
            k -> (java.lang.Long.valueOf(v): AnyRef) }))
        df.put("value_counts", kvArray("value_counts",
          e.valueCounts.map { case (k, v) =>
            k -> (java.lang.Long.valueOf(v): AnyRef) }))
        df.put("null_value_counts", kvArray("null_value_counts",
          e.nullValueCounts.map { case (k, v) =>
            k -> (java.lang.Long.valueOf(v): AnyRef) }))
        df.put("lower_bounds", kvArray("lower_bounds",
          e.lowerBounds.map { case (k, v) =>
            k -> (java.nio.ByteBuffer.wrap(v): AnyRef) }))
        df.put("upper_bounds", kvArray("upper_bounds",
          e.upperBounds.map { case (k, v) =>
            k -> (java.nio.ByteBuffer.wrap(v): AnyRef) }))
        df.put("equality_ids",
          if (e.equalityIds.isEmpty) null
          else e.equalityIds.map(java.lang.Integer.valueOf).asJava)
        val rec = new GenericData.Record(schema)
        rec.put("status", e.status)
        // snapshot_id / sequence numbers stay null: INHERITED from the
        // manifest-list entry (spec v2 inheritance) — this is what makes
        // the manifest file commit-agnostic and reusable
        rec.put("data_file", df)
        w.append(rec)
      }
    } finally w.close()
  }

  /** Count of per-dir manifest OPENS since JVM start — the test seam the
    * dir-pruning spec asserts on (a day-filtered scan of a many-day
    * table must open only the surviving dirs' manifests). */
  val manifestReadCount = new java.util.concurrent.atomic.AtomicLong(0L)

  def readManifest(path: Path): Seq[DataFileEntry] = {
    manifestReadCount.incrementAndGet()
    val r = new DataFileReader[GenericRecord](path.toFile,
      new GenericDatumReader[GenericRecord]())
    try {
      r.iterator().asScala.map { rec =>
        val df = rec.get("data_file").asInstanceOf[GenericRecord]
        val part = df.get("partition").asInstanceOf[GenericRecord]
        // `real-name` prop (sanitized fields) wins over the Avro name —
        // the tuple is ALWAYS keyed by the real partition field name
        val tuple = part.getSchema.getFields.asScala.toSeq.map(f =>
          Option(f.getProp("real-name")).getOrElse(f.name()) ->
            Option(part.get(f.name())).map(_.toString))
        val eq = Option(df.get("equality_ids"))
          .map(_.asInstanceOf[java.util.List[Integer]].asScala
            .map(_.intValue()).toSeq).getOrElse(Nil)
        def longMap(field: String): Seq[(Int, Long)] =
          Option(df.get(field)).map(_
            .asInstanceOf[java.util.List[GenericRecord]].asScala.toSeq
            .map(kv => kv.get("key").asInstanceOf[Int] ->
              kv.get("value").asInstanceOf[Long])).getOrElse(Nil)
        def bytesMap(field: String): Seq[(Int, Array[Byte])] =
          Option(df.get(field)).map(_
            .asInstanceOf[java.util.List[GenericRecord]].asScala.toSeq
            .map { kv =>
              val buf = kv.get("value")
                .asInstanceOf[java.nio.ByteBuffer].duplicate()
              val arr = new Array[Byte](buf.remaining()); buf.get(arr)
              kv.get("key").asInstanceOf[Int] -> arr
            }).getOrElse(Nil)
        DataFileEntry(
          status = rec.get("status").asInstanceOf[Int],
          content = df.get("content").asInstanceOf[Int],
          filePath = df.get("file_path").toString,
          fileFormat = df.get("file_format").toString,
          partition = tuple,
          recordCount = df.get("record_count").asInstanceOf[Long],
          fileSizeInBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
          equalityIds = eq,
          valueCounts = longMap("value_counts"),
          nullValueCounts = longMap("null_value_counts"),
          lowerBounds = bytesMap("lower_bounds"),
          upperBounds = bytesMap("upper_bounds"),
          columnSizes = longMap("column_sizes"),
          nanValueCounts = longMap("nan_value_counts"))
      }.toSeq
    } finally r.close()
  }

  /** Per-partition-field [[FieldSummary]] of a manifest's DATA entries —
    * computed at manifest-list write so scan planning can range-prune a
    * whole dir without opening its manifest. Typed ordering per the
    * field's Avro carrier: long/int numeric, string UTF-8 bytes (ISO
    * date/time path values order correctly under bytes by format
    * choice). A value that fails to parse drops that field's bounds
    * (None = keep) — superset-safe, never wrong-prunes. */
  def summarize(entries: Seq[DataFileEntry],
                pf: Seq[PartitionField]): Option[Seq[FieldSummary]] = {
    val data = entries.filter(_.content == 0)
    if (pf.isEmpty || data.isEmpty) return None
    Some(pf.map { f =>
      val vals = data.map(_.partition.collectFirst {
        case (n, v) if n == f.name => v
      }.flatten)
      val containsNull = vals.exists(_.isEmpty)
      val present = vals.flatten
      def enc(ic: String, minMax: Option[(Any, Any)])
          : (Option[Array[Byte]], Option[Array[Byte]]) = minMax match {
        case None => (None, None)
        case Some((lo, hi)) => (boundBytes(ic, lo), boundBytes(ic, hi))
      }
      val (lo, hi) = f.avroType match {
        case Some("long") =>
          val ls = present.map(v => v -> v.toLongOption)
          if (ls.isEmpty || ls.exists(_._2.isEmpty)) (None, None)
          else enc("long", Some((java.lang.Long.valueOf(ls.map(_._2.get).min),
            java.lang.Long.valueOf(ls.map(_._2.get).max))))
        case Some("int") =>
          val is = present.map(_.toIntOption)
          if (is.isEmpty || is.exists(_.isEmpty)) (None, None)
          else enc("int", Some((java.lang.Integer.valueOf(is.map(_.get).min),
            java.lang.Integer.valueOf(is.map(_.get).max))))
        case Some("string") if present.nonEmpty =>
          val bs = present.map(_.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          (Some(bs.min(byteOrdering)), Some(bs.max(byteOrdering)))
        case _ => (None, None)
      }
      FieldSummary(containsNull, lo, hi)
    })
  }

  private val byteOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => compareUnsigned(a, b)

  /** Rewrite the absolute-path fields of one metadata Avro file in place
    * (RENAME TABLE support): `manifest_path` on manifest-list records,
    * `data_file.file_path` on manifest entries — schema-preserving (the
    * file is re-written under its OWN embedded schema, every other field
    * byte-carried), so old- and new-generation files both survive.
    * `sizes` (rewritten path -> bytes) sets `file_size_in_bytes` of the
    * entries whose file was rewritten too: readers locate the footer from
    * that size. A manifest-list record's `manifest_length` takes its
    * manifest's current size, so rewrite manifests before their lists. */
  def rewritePathPrefix(path: Path, oldPrefix: String, newPrefix: String,
                        sizes: Map[String, Long] = Map.empty): Unit = {
    val reader = new DataFileReader[GenericRecord](path.toFile,
      new GenericDatumReader[GenericRecord]())
    val schema = reader.getSchema
    val tmp = path.resolveSibling(s".${path.getFileName}.rename.tmp")
    try {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      try {
        w.create(schema, tmp.toFile)
        reader.iterator().asScala.foreach { rec =>
          def fix(r: GenericRecord, field: String): Unit =
            Option(r.get(field)).map(_.toString)
              .filter(_.startsWith(oldPrefix))
              .foreach(v => r.put(field,
                newPrefix + v.stripPrefix(oldPrefix)))
          if (schema.getField("manifest_path") != null) {
            fix(rec, "manifest_path")
            val m = Path.of(rec.get("manifest_path").toString)
            if (schema.getField("manifest_length") != null &&
                Files.exists(m)) rec.put("manifest_length", Files.size(m))
          }
          if (schema.getField("data_file") != null)
            Option(rec.get("data_file"))
              .map(_.asInstanceOf[GenericRecord])
              .foreach { df =>
                fix(df, "file_path")
                sizes.get(df.get("file_path").toString).foreach(n =>
                  df.put("file_size_in_bytes", n))
              }
          w.append(rec)
        }
      } finally w.close()
    } finally reader.close()
    Files.move(tmp, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def writeManifestList(path: Path, entries: Seq[ManifestListEntry]): Unit = {
    Files.createDirectories(path.getParent)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestListSchema))
    try {
      w.create(manifestListSchema, path.toFile)
      entries.foreach { e =>
        val rec = new GenericData.Record(manifestListSchema)
        rec.put("manifest_path", e.manifestPath)
        rec.put("manifest_length", e.manifestLength)
        rec.put("partition_spec_id", e.partitionSpecId)
        rec.put("content", e.content)
        rec.put("sequence_number", e.sequenceNumber)
        rec.put("min_sequence_number", e.minSequenceNumber)
        rec.put("added_snapshot_id", e.addedSnapshotId)
        rec.put("added_files_count", e.addedFilesCount)
        rec.put("existing_files_count", e.existingFilesCount)
        rec.put("deleted_files_count", e.deletedFilesCount)
        rec.put("added_rows_count", e.addedRowsCount)
        rec.put("existing_rows_count", e.existingRowsCount)
        rec.put("deleted_rows_count", e.deletedRowsCount)
        e.partitions.foreach { fs =>
          val arr = new java.util.ArrayList[GenericRecord](fs.size)
          fs.foreach { f =>
            val fr = new GenericData.Record(fieldSummarySchema)
            fr.put("contains_null", f.containsNull)
            fr.put("contains_nan", null)
            fr.put("lower_bound",
              f.lowerBound.map(java.nio.ByteBuffer.wrap).orNull)
            fr.put("upper_bound",
              f.upperBound.map(java.nio.ByteBuffer.wrap).orNull)
            arr.add(fr)
          }
          rec.put("partitions", arr)
        }
        w.append(rec)
      }
    } finally w.close()
  }

  def readManifestList(path: Path): Seq[ManifestListEntry] = {
    val r = new DataFileReader[GenericRecord](path.toFile,
      new GenericDatumReader[GenericRecord]())
    try {
      r.iterator().asScala.map { rec =>
        ManifestListEntry(
          manifestPath = rec.get("manifest_path").toString,
          manifestLength = rec.get("manifest_length").asInstanceOf[Long],
          partitionSpecId = rec.get("partition_spec_id").asInstanceOf[Int],
          content = rec.get("content").asInstanceOf[Int],
          sequenceNumber = rec.get("sequence_number").asInstanceOf[Long],
          minSequenceNumber =
            rec.get("min_sequence_number").asInstanceOf[Long],
          addedSnapshotId = rec.get("added_snapshot_id").asInstanceOf[Long],
          addedFilesCount = rec.get("added_files_count").asInstanceOf[Int],
          existingFilesCount =
            rec.get("existing_files_count").asInstanceOf[Int],
          deletedFilesCount =
            rec.get("deleted_files_count").asInstanceOf[Int],
          addedRowsCount = rec.get("added_rows_count").asInstanceOf[Long],
          existingRowsCount =
            rec.get("existing_rows_count").asInstanceOf[Long],
          deletedRowsCount =
            rec.get("deleted_rows_count").asInstanceOf[Long],
          // absent on pre-summary writers (GenericRecord.get of a field
          // the writer schema lacks is null) — readers keep the manifest
          partitions = Option(rec.get("partitions")).map {
            _.asInstanceOf[java.util.Collection[GenericRecord]]
              .asScala.map { fr =>
                def bytes(n: String): Option[Array[Byte]] =
                  Option(fr.get(n)).map { b =>
                    val bb = b.asInstanceOf[java.nio.ByteBuffer].duplicate()
                    val out = new Array[Byte](bb.remaining()); bb.get(out)
                    out
                  }
                FieldSummary(
                  fr.get("contains_null").asInstanceOf[Boolean],
                  bytes("lower_bound"), bytes("upper_bound"))
              }.toSeq
          })
      }.toSeq
    } finally r.close()
  }
}
