package graft.lake

import graft.singer.{SchemaConv, SingerMessage}
import graft.xform.{StreamMapConfig, StreamMaps}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** The Singer load path: JSONL message feed -> typed, batched, append-only
  * table commits — the Spark-native equivalent of the reference's
  * `Target`/`BatchSink` lifecycle (SURVEY.md §3.1):
  *
  *   SCHEMA -> declare stream schema ([[SchemaConv]]);
  *   RECORD -> validated typed rows (`from_json` under the declared schema);
  *   batch drain every `batchSize` records (reference `max_size = 10000`,
  *   `/root/reference/target_iceberg/sinks.py:18`);
  *   STATE  -> echoed only after pending appends are durable;
  *   ACTIVATE_VERSION -> full-table swap (this load's rows replace the
  *     table — `overwrite` commit instead of `append`).
  *
  * Two batching modes:
  *   - '''scale mode''' (default): ONE append per stream with
  *     `maxRecordsPerFile = batchSize` — same bounded-batch file layout, one
  *     snapshot commit, no per-batch driver loop; this is the 100 TB path.
  *     The row count rides the write job via `observe()` (no second scan).
  *     Target tables commit concurrently, one pool thread per table; a
  *     table's segments, and streams aliased onto one table, keep feed
  *     order.
  *   - '''strict mode''': one append per `batchSize` slice in input order,
  *     faithfully reproducing the reference's per-batch commit cadence
  *     (sinks.py:36-100) for protocol-fidelity tests. O(rows/batchSize)
  *     Spark jobs — test-scale only, never the production path.
  *
  * Mid-stream SCHEMA changes follow the SDK's drain-then-switch: each RECORD
  * is typed under the schema most recently declared before it (the feed
  * splits into per-SCHEMA segments, one write each; segment count is bounded
  * by SCHEMA messages, not data volume).
  *
  * Documented divergences from the SDK (intentional, batch-mode semantics):
  *   - records for streams with no SCHEMA message are dropped, not an error;
  *   - records PRECEDING their stream's first SCHEMA are rejected and
  *     counted in `rejectedPerStream` (the SDK fails the whole run);
  *   - scale mode echoes only the LAST STATE (after all appends are
  *     durable) — bounds driver memory O(1) against STATE-per-record taps;
  *     strict mode echoes every checkpoint in input order (SDK cadence).
  */
final class BatchLoader(
    spark: SparkSession,
    catalog: LakeCatalog,
    namespace: String,
    batchSize: Int = BatchLoader.DefaultBatchSize,
    addRecordMetadata: Boolean = false,
    strictBatches: Boolean = false,
    streamMaps: Map[String, StreamMapConfig] = Map.empty,
    flatteningEnabled: Boolean = false,
    flatteningMaxDepth: Int = 1,
    partitionBy: Map[String, Seq[String]] = Map.empty,
    sortedBy: Map[String, Seq[String]] = Map.empty,
    upsertStreams: Set[String] = Set.empty) extends Serializable {

  import BatchLoader._

  /** Decode a JSONL feed and load every stream it declares. Returns per-table
    * row counts and the final STATE payload to echo (only valid to emit now
    * that appends are durable).
    *
    * Feed order (`seq`) derives from `monotonically_increasing_id()` —
    * partition-relative position, computed inline with the scan (no counting
    * job) — so the input must be a deterministically re-scannable source
    * (file-backed or synthesized; the same property cache recovery always
    * required). Exact feed order at any split count comes from [[loadPaths]],
    * which keys `seq` on per-file byte offsets; this face matches it whenever
    * Spark's partition order matches feed order (single-split files,
    * in-memory datasets — every test/synthetic case). */
  def load(lines: Dataset[String]): LoadReport =
    loadScans(() => lines.toDF("line")
      .select(monotonically_increasing_id().as(SeqCol), col("line")))

  /** The production face: load Singer JSONL files by path (files, dirs,
    * globs). `seq` is file index (sorted listing order) in the high bits and
    * the line's byte offset in the low — TRUE feed order at any split count,
    * read straight off the `LineRecordReader` position (the same mechanism
    * the DSv2 source's byte-range splits use, `SingerSource.scala`), with no
    * counting pre-pass. Input must be uncompressed text: compression codecs
    * report non-exact line offsets (ties would blur the drain-then-switch
    * segment boundaries), and only plain text splits across executors
    * anyway. */
  def loadPaths(paths: Seq[String]): LoadReport =
    loadFiles(BatchLoader.listInput(spark, paths))

  /** [[loadPaths]] over an already-resolved file listing (from
    * [[BatchLoader.listInput]]) — callers that had to list for a routing
    * decision (the CLI) pass it through instead of paying a second
    * metadata sweep over the feed. */
  def loadFiles(files: Seq[String]): LoadReport =
    loadScans(() => offsetLines(files))

  /** The load pipeline over a re-scannable feed of (`seq`, line). Passes over
    * the source instead of caching it (at 100 TB a cache is a full local-disk
    * spill; a re-scan streams): ONE control-plane job + ONE write job per
    * schema segment (one per stream in the common case) — each write's
    * classify/validate/transform rides the write job itself. In scale
    * mode the target tables load concurrently ([[inParallel]]); a failure
    * in any of them fails the load and echoes no STATE. */
  private def loadScans(scan: () => DataFrame): LoadReport = {
    import spark.implicits._
    // one receipt instant per load: every stamped `_sdc_*_at` carries it
    val receivedAt = java.time.Instant.now()
      .truncatedTo(java.time.temporal.ChronoUnit.MICROS)
    // Control plane, one job: SCHEMA/ACTIVATE_VERSION are bounded by the
    // stream count (one-ish each per stream) so the driver receives
    // O(streams); STATE — which a tap may legally emit per record — is
    // reduced distributed-side to the single final checkpoint inside the same
    // aggregate. The contains() prefilter skips JSON-decoding the RECORD
    // bulk: a control message's type token must appear literally in its line
    // (JSON serializers never escape plain ASCII letters), so only control
    // lines and the rare payload mentioning a type word reach the decoder.
    val ctl: Dataset[RawMsg] = scan()
      .filter(col("line").contains("\"SCHEMA\"") ||
        col("line").contains("\"STATE\"") ||
        col("line").contains("\"ACTIVATE_VERSION\"") ||
        col("line").contains("\"BATCH\""))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (seq, line) =>
        SingerMessage.decode(line).collect {
          case SingerMessage.Schema(s, js, kp) => RawMsg("SCHEMA", s, js, kp, seq)
          case SingerMessage.State(v)          => RawMsg("STATE", "", v, Nil, seq)
          case SingerMessage.ActivateVersion(s, v) =>
            RawMsg("ACTIVATE_VERSION", s, v.toString, Nil, seq)
          case SingerMessage.Batch(s, fmt, comp, manifest) =>
            // control-plane row: payload carries format/compression, the
            // keyProps slot carries the manifest (both bounded)
            RawMsg("BATCH", s, s"$fmt:$comp", manifest, seq)
        }
      })
    // Strict mode reproduces SDK cadence — EVERY checkpoint echoed in input
    // order (test-scale only, like the mode itself). Scale mode reduces
    // STATE per partition before collecting: each task forwards its
    // SCHEMA/ACTIVATE_VERSION messages (one-ish per stream) plus only its
    // LAST checkpoint, so the driver receives O(partitions + streams) rows
    // from a feed that may carry STATE per record — one narrow job, no
    // shuffle stage.
    val (control: Seq[RawMsg], statesToEcho: Seq[String]) =
      if (strictBatches) {
        val all = ctl.collect().sortBy(_.seq).toSeq
        (all.filterNot(_.mtype == "STATE"),
          all.filter(_.mtype == "STATE").map(_.payload))
      } else {
        val collected = ctl.mapPartitions { it =>
          val keep = scala.collection.mutable.ArrayBuffer.empty[RawMsg]
          var lastState: RawMsg = null
          it.foreach { m =>
            if (m.mtype == "STATE") {
              if (lastState == null || m.seq > lastState.seq) lastState = m
            } else keep += m
          }
          (if (lastState == null) keep else keep += lastState).iterator
        }.collect()
        (collected.filterNot(_.mtype == "STATE").sortBy(_.seq).toSeq,
          collected.filter(_.mtype == "STATE").sortBy(_.seq)
            .lastOption.map(_.payload).toSeq)
      }
    // SDK drain-then-switch semantics (SURVEY §3.1): each RECORD is typed
    // under the schema most recently declared BEFORE it, so a stream's feed
    // splits into one segment per SCHEMA message (almost always one). The
    // segment count — and with it the write-job count — is bounded by the
    // number of SCHEMA messages, not by data volume.
    val segments: Map[String, Seq[SchemaSegment]] =
      control.collect { case RawMsg("SCHEMA", s, js, kp, seq) =>
        (s, SchemaConv.toStructType(js), kp, seq)
      }.groupBy(_._1).map { case (stream, decls) =>
        val ordered = decls.sortBy(_._4)
        stream -> ordered.zipWithIndex.map { case ((_, st, kp, seq), i) =>
          val hi = if (i + 1 < ordered.length) ordered(i + 1)._4 else Long.MaxValue
          SchemaSegment(st, kp, seq, hi)
        }.toSeq
      }
    val activatedVersions: Map[String, Long] =
      control.collect { case RawMsg("ACTIVATE_VERSION", s, v, _, _) =>
        s -> v.toLong
      }.toMap // last version wins
    // BATCH file references (SDK 0.34 optional surface, SURVEY §7): each
    // expands to its manifest files' records AT the BATCH message's feed
    // position, so drain-then-switch segmentation and pre-SCHEMA rejection
    // apply to batch records exactly as to inline ones.
    val batchRefs: Map[String, Seq[RawMsg]] =
      control.filter(b => b.mtype == "BATCH" && b.keyProps.nonEmpty)
        .groupBy(_.stream)

    // Stream-map aliasing decides the target table; streams aliased onto
    // one table, and a stream's schema segments, load in feed order (the
    // SCHEMA declarations' seq) — one unit of work per target table.
    def targetOf(stream: String): String =
      streamMaps.get(stream).flatMap(_.alias).getOrElse(stream)
    val perTarget: Seq[(String, Seq[(String, Int, SchemaSegment)])] =
      segments.toSeq
        .flatMap { case (stream, segs) =>
          segs.zipWithIndex.map { case (seg, i) => (stream, i, seg) }
        }
        .sortBy(_._3.fromSeq)
        .groupBy(s => targetOf(s._1)).toSeq
        .sortBy(_._2.head._3.fromSeq)
    /** One target table's segments, in order: type, transform, evolve the
      * table, write, commit. Returns (rows written, records rejected). */
    def loadTarget(target: String,
                   segs: Seq[(String, Int, SchemaSegment)]): (Long, Long) =
      segs.foldLeft((0L, 0L)) { case ((total, totalRejected), (stream, i, seg)) =>
        val version = activatedVersions.get(stream)
        // The FIRST segment also scoops up records PRECEDING the stream's
        // first SCHEMA: they have no declared schema to validate against
        // (the SDK errors the whole run), so B2 rejects and counts them —
        // via the same observe metric riding the write job, no extra
        // scan. Streams with no SCHEMA at all remain the documented drop
        // divergence.
        val lowerBound = if (i == 0) Long.MinValue else seg.fromSeq
        val inline = recordsOf(scan(), stream)
          .filter(col(SeqCol) > byRef(lowerBound, deterministic = true) &&
            col(SeqCol) < byRef(seg.untilSeq, deterministic = true))
        val segRecs = batchRefs.getOrElse(stream, Nil)
          .filter(b => b.seq > lowerBound && b.seq < seg.untilSeq)
          .map(batchLines)
          .foldLeft(inline)(_ unionAll _)
        val rejectBefore = if (i == 0) seg.fromSeq else Long.MinValue
        val typed = typedRows(segRecs, seg.schema, version, receivedAt,
          rejectBefore)
        val mapped = applyTransforms(stream, typed.valid)
        // segment schemas evolve the table in declaration order (A12)
        catalog.ensureTable(namespace, target, mapped.drop(SeqCol).schema,
          partitionBy.getOrElse(stream, Nil))
        // the table may have more columns than this segment declares
        // (earlier schemas/feeds) — align by name, null-fill the rest
        val aligned = alignTo(mapped, catalog.tableSchema(namespace, target))
        // ACTIVATE_VERSION swaps the table on the FIRST write, appends after
        val overwrite = version.isDefined && i == 0
        val sortCols = sortedBy.getOrElse(stream, Nil)
        // UPSERT face (VERDICT r12 #6): a stream opted into
        // `upsert_streams` replaces-by-key using the SCHEMA message's
        // key_properties — absent keys reject LOUDLY (an upsert without
        // keys would silently degrade to append), and sorted_by is
        // mutually exclusive (the MOR delete file, not file order, is
        // the replace mechanism — pick one layout contract)
        val upsertKeys: Option[Seq[String]] =
          if (!upsertStreams.contains(stream)) None
          else {
            require(seg.keyProps.nonEmpty,
              s"upsert_streams names '$stream' but its SCHEMA message " +
                "declares no key_properties — upsert needs key columns; " +
                "fix the tap or drop the stream from upsert_streams")
            require(sortCols.isEmpty,
              s"'$stream' is configured both sorted_by and upsert — " +
                "the two write contracts are mutually exclusive")
            Some(seg.keyProps)
          }
        val (n, rejected) =
          if (strictBatches)
            (appendStrict(target, aligned, overwrite, sortCols,
              upsertKeys), typed.rejectedExact())
          else appendScale(target, aligned, overwrite, typed, sortCols,
            upsertKeys)
        (total + n, totalRejected + rejected)
      }

    if (perTarget.nonEmpty) catalog.ensureNamespace(namespace)
    withMaxRecordsPerFile {
      // Target tables share nothing but the namespace, so scale mode
      // commits them concurrently (each through its carrier's own commit);
      // strict mode keeps the SDK's one-batch-at-a-time cadence.
      val width =
        if (strictBatches) 1
        else math.min(perTarget.size, spark.sparkContext.defaultParallelism)
      val loaded = inParallel(width, perTarget.map { case (target, segs) =>
        () => target -> loadTarget(target, segs)
      })
      // an ACTIVATE_VERSION for a stream with NO SCHEMA in this feed (a pure
      // version-swap signal) still truncates the existing table — ignoring
      // it would keep every stale row while the tap believes the new
      // version is active
      val activatedOnly = activatedVersions.keys
        .filterNot(segments.contains).toSeq.flatMap { stream =>
          val target = targetOf(stream)
          if (catalog.tableExists(namespace, target)) {
            // an INDEPENDENT empty frame — overwriting with a limit(0) read
            // of the same table is rejected (UNSUPPORTED_OVERWRITE)
            val schema = catalog.tableSchema(namespace, target)
            catalog.overwrite(namespace, target, spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
            Some(target -> ((0L, 0L)))
          } else None
        }
      // a table this feed also loaded keeps its loaded counts
      val counts = (activatedOnly ++ loaded).toMap
      LoadReport(counts.map { case (t, (n, _)) => t -> n },
        statesToEcho,
        counts.map { case (t, (_, r)) => t -> r })
    }
  }

  /** The file bound rides the session conf, set once around all of a
    * load's writes and restored after: the writer OPTION
    * `maxRecordsPerFile` is ignored on inserts into existing catalog
    * tables (observed empirically), and a per-write scope would let one
    * concurrent target's restore unset it under another's write. An
    * unset conf is restored to unset, not to its default value. */
  private def withMaxRecordsPerFile[T](body: => T): T = {
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev =
      if (spark.sessionState.conf.contains(key)) spark.conf.getOption(key)
      else None
    spark.conf.set(key, batchSize.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run `tasks` on at most `width` threads and return their results in
    * task order. Width 1 runs them on the calling thread, in order, and
    * stops at the first failure. Wider, a pool made for this call runs
    * them, each with the caller's active session and Spark local
    * properties (job group, description, scheduler pool); every task is
    * waited for, then the first failure in task order is rethrown as
    * thrown, and the pool is gone before this returns. */
  private def inParallel[T](width: Int, tasks: Seq[() => T]): Seq[T] =
    if (width <= 1) tasks.map(_())
    else {
      val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
      val pool = java.util.concurrent.Executors.newFixedThreadPool(width,
        new java.util.concurrent.ThreadFactory {
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-load-${threads.size + 1}")
            t.setDaemon(true)
            threads.add(t)
            t
          }
        })
      try {
        val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val futures = tasks.map(t =>
          org.apache.spark.sql.execution.SQLExecution
            .withThreadLocalCaptured(session, pool)(t()))
        val outcomes = futures.map(f => scala.util.Try(f.join()))
        outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach {
          case e: java.util.concurrent.CompletionException
              if e.getCause != null => throw e.getCause
          case e => throw e
        }
        outcomes.map(_.get)
      } finally {
        pool.shutdown() // every task is done: the idle threads exit
        threads.forEach(_.join())
      }
    }

  /** One stream's RECORD lines out of a raw feed scan, fully declarative:
    * a cheap contains() prefilter skips non-RECORD lines without a JSON
    * parse, then ONE `json_tuple` pass classifies for routing. The WHOLE
    * line is kept as the payload — [[typedRows]]' validating `from_json`
    * types the `record` subtree nested, because extracting it as text here
    * would UNWRAP a JSON-string value (`"record": "{\"id\":1}"`, invalid
    * per the Singer spec) into text indistinguishable from a real object.
    * Nested, a non-object `record` fails the struct parse and lands in the
    * corrupt-record column — rejected and counted (B2's superset of the
    * old drop-at-decode behavior). Both steps ride whichever job consumes
    * the result (the write job) — no materialization. */
  private def recordsOf(feed: DataFrame, stream: String): DataFrame =
    feed
      .filter(col("line").contains("\"RECORD\""))
      .select(col(SeqCol), col("line"),
        json_tuple(col("line"), "type", "stream")
          .as(Seq("_graft_mtype", "_graft_stream")))
      .filter(col("_graft_mtype") === "RECORD" &&
        col("_graft_stream") === stream)
      .select(col(SeqCol), col("line").as("payload"))

  /** One BATCH reference -> (seq, payload) rows: every line of every
    * manifest file is a bare record object (the SDK's JSONL batch layout),
    * typed by the surrounding segment's schema through the same validating
    * [[typedRows]] path as inline records. All rows take the BATCH
    * message's own feed position — segment routing and pre-SCHEMA
    * rejection need only that. gzip parts decode by file extension via the
    * Hadoop codec factory; the read parallelizes per part file. Each bare
    * record is wrapped as `{"record":<line>}` so it enters [[typedRows]]'
    * nested parse shaped exactly like an inline RECORD line. */
  private def batchLines(b: RawMsg): DataFrame = {
    val Array(fmt, comp) = b.payload.split(":", 2)
    require(fmt == "jsonl", s"unsupported BATCH format '$fmt' (jsonl only)")
    require(comp == "none" || comp == "gzip",
      s"unsupported BATCH compression '$comp'")
    spark.read.textFile(b.keyProps: _*)
      .select(lit(b.seq).as(SeqCol),
        concat(lit("{\"record\":"), col("value"), lit("}")).as("payload"))
  }

  /** (seq, line) scan of Singer JSONL files with `seq` = (file index, byte
    * offset): the offset is the `LineRecordReader` key — computed while
    * reading, never by a separate count job. Bit split: 2^[[BatchLoader
    * .FileBits]] files x 2^[[BatchLoader.OffsetBits]] bytes (16 TiB) each. */
  private def offsetLines(files: Seq[String]): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
    require(files.nonEmpty, "no input files found")
    require(files.length < (1 << FileBits),
      s"loadPaths supports < ${1 << FileBits} files, got ${files.length}")
    require(files.forall(!_.contains(",")),
      "input paths must not contain ',' (Hadoop path-list separator)")
    val compressed = files.filter(isCompressed)
    require(compressed.isEmpty,
      s"loadPaths requires uncompressed text (exact line offsets): $compressed")
    val fileIdx: Map[String, Long] =
      files.zipWithIndex.map { case (f, i) => f -> i.toLong }.toMap
    val rows = spark.sparkContext
      .newAPIHadoopFile(files.mkString(","), classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text])
      .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit({ (split, iter) =>
        val path = split.asInstanceOf[FileSplit].getPath.toString
        val fi = fileIdx.getOrElse(path, throw new IllegalStateException(
          s"split path $path not in driver listing ${fileIdx.keys}"))
        iter.map { case (off, text) =>
          val o = off.get // Writables are reused per record: read them NOW
          require(o >>> OffsetBits == 0,
            s"file exceeds ${1L << OffsetBits} bytes (seq encoding): $path")
          ((fi << OffsetBits) | o, text.toString)
        }
      }, preservesPartitioning = false)
    import spark.implicits._
    rows.toDF(SeqCol, "line")
  }

  /** RECORD payloads -> typed rows under the declared schema, with full B2
    * record validation (SURVEY.md §2.B2; the reference inherits it from SDK
    * `BatchSink`, `/root/reference/target_iceberg/sinks.py:6,15`): a record
    * whose JSON is corrupt OR whose fields violate the declared types (e.g.
    * a string in an `"integer"` field) is REJECTED — dropped and counted —
    * never null-coerced into the table. Detection is `from_json`'s
    * PERMISSIVE corrupt-record column: wrong-typed fields set it while legit
    * JSON nulls don't, so validation rides the same compiled parse as the
    * load itself. The rejected count is observed on the write job
    * ([[Typed.rejectMetric]]) — no extra scan in scale mode;
    * [[Typed.rejectedExact]] is the test-scale fallback (one extra parse).
    * The full six `_sdc_*` metadata columns are appended when
    * `addRecordMetadata` (reference config `target.py:16`, SDK B5). */
  private def typedRows(recs: DataFrame, schema: StructType,
                        version: Option[Long],
                        receivedAt: java.time.Instant,
                        rejectBefore: Long = Long.MinValue): Typed = {
    val corruptCol = "_graft_corrupt_record"
    // every engine-internal column lives under the _graft_ prefix so a
    // legal Singer field named e.g. "seq" cannot collide with the load
    // plumbing (duplicate-column crash or silent drop of user data)
    Seq(corruptCol, SeqCol, BatchCol).foreach { reserved =>
      require(!schema.fieldNames.contains(reserved),
        s"stream schema may not declare the reserved column $reserved")
    }
    // `format: time` fields (micros-long + singer:format tag, SURVEY §7.4)
    // arrive as Singer-native HH:mm:ss[.SSSSSS] strings — parse them as
    // strings, then convert to micros in the same compiled projection;
    // bare numbers (this engine's own representation) pass through as
    // micros. An unparseable non-null time string is a B2 rejection.
    val timeFields = schema.fields.filter(SchemaConv.isTimeField)
      .map(_.name).toSet
    val parseFields = schema.fields.map(f =>
      if (timeFields(f.name)) f.copy(dataType = StringType) else f)
    // The stream schema sits NESTED under `record` and the WHOLE message
    // line is parsed: a `record` whose JSON value is a string (invalid per
    // the Singer spec — json_tuple would have unwrapped it into text that
    // parses like an object) fails the struct parse and sets the corrupt
    // column, so spec-invalid records are rejected, not admitted.
    val schemaC = StructType(Seq(
      StructField("record", StructType(parseFields.toIndexedSeq)),
      StructField(corruptCol, StringType)))
    def fieldValue(f: StructField): Column = {
      val raw = col(s"r.record.`${f.name}`")
      if (!timeFields(f.name)) raw
      // bare micros (this engine's own representation) are valid only
      // within one day — out-of-range would crash the sink's time-string
      // encoder on export, so B2 rejects them here. try_cast, not cast:
      // subexpression elimination can hoist the cast out of the rlike
      // guard, and under ANSI a plain cast of a time STRING then throws.
      // A >19-digit string overflows try_cast to null, rejecting too.
      else {
        val micros = raw.try_cast(org.apache.spark.sql.types.LongType)
        when(raw.rlike("^\\d+$") &&
          micros.between(0L, SchemaConv.MicrosPerDay - 1L), micros)
        // try_cast here too, and for the same reason as above: hoisted out
        // of the rlike guard, cast(substring("abc",1,2)) would throw under
        // ANSI; guarded, the pattern match makes try_cast ≡ cast
        .otherwise(when(raw.rlike(SchemaConv.TimePattern.pattern),
          (substring(raw, 1, 2).try_cast(org.apache.spark.sql.types.LongType) * 3600L +
            substring(raw, 4, 2).try_cast(org.apache.spark.sql.types.LongType) * 60L +
            substring(raw, 7, 2).try_cast(org.apache.spark.sql.types.LongType)) * 1000000L +
            rpad(regexp_extract(raw, "\\.(\\d{1,6})$", 1), 6, "0")
              .try_cast(org.apache.spark.sql.types.LongType)))
      }
    }
    val parsedAll = recs.select(col(SeqCol),
      from_json(col("payload"), schemaC,
        Map("columnNameOfCorruptRecord" -> corruptCol, "mode" -> "PERMISSIVE"))
        .as("r"))
    // positional rejection (records before the stream's first SCHEMA) joins
    // the content-based checks so all rejects share one metric/filter.
    // B2 also rejects a null in a field whose declared type excludes null:
    // from_json's corrupt column does not fire for explicit JSON nulls, but
    // the SDK's jsonschema validation rejects them, and admitting one puts
    // a null into a column the table declares non-nullable (which Spark
    // does not runtime-enforce on writes — downstream IsNotNull pruning
    // would then return wrong results). A MISSING key types identically;
    // the reference's arrow conversion fails the whole batch on it, so
    // reject-and-count is the gentler superset.
    val nonNullViolation = schema.fields.filterNot(_.nullable)
      .map(f => col(s"r.record.`${f.name}`").isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    val timeViolation = schema.fields.filter(f => timeFields(f.name))
      .map(f => col(s"r.record.`${f.name}`").isNotNull && fieldValue(f).isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    // `record` null: the key is missing, or its value failed the struct
    // parse with partial results keeping the rest of the line — both B2
    // rejections (the corrupt column usually fires too; the OR is cheap)
    val isRejected = col("r").isNull || col("r.`record`").isNull ||
      col(s"r.`$corruptCol`").isNotNull ||
      nonNullViolation || timeViolation ||
      col(SeqCol) < byRef(rejectBefore, deterministic = true)
    val rejMetric = s"graft_rejected_${java.util.UUID.randomUUID()}"
    val parsed = parsedAll
      .observe(rejMetric, coalesce(sum(when(isRejected, 1L).otherwise(0L)),
        lit(0L)).as("rejected"))
      .filter(!isRejected)
    val base = parsed.select(
      (schema.fields.toIndexedSeq.map { f =>
        if (timeFields(f.name)) fieldValue(f).as(f.name, f.metadata)
        else col(s"r.record.`${f.name}`").as(f.name, f.metadata)
      } :+ col(SeqCol)): _*)
    // non-nullable, like `current_timestamp()`: a new table declares the
    // stamps required, as before
    val stamp = byRef(receivedAt)
    val valid =
      if (!addRecordMetadata) base
      else base
        // the tap's own extraction time is not carried by this feed shape;
        // SDK semantics default it to receipt time when absent
        .withColumn("_sdc_extracted_at", stamp)
        .withColumn("_sdc_received_at", stamp)
        .withColumn("_sdc_batched_at", stamp)
        .withColumn("_sdc_deleted_at", lit(null).cast("timestamp"))
        .withColumn("_sdc_sequence", col(SeqCol))
        .withColumn("_sdc_table_version",
          version.map(byRef(_)).getOrElse(lit(null).cast("long")))
    Typed(valid, rejMetric, () => parsedAll.filter(isRejected).count())
  }

  /** A per-load value (the receipt instant, the ACTIVATE_VERSION number, a
    * segment's seq bounds) bound by reference through a zero-arg UDF:
    * codegen inlines a literal into the generated source, so a value that
    * changes per load would compile new classes on every load. The seq
    * bounds must be deterministic (an observed metric rejects a
    * nondeterministic argument, and the segment filter then still pushes
    * below the record parse); the stamps stay nondeterministic, as a
    * deterministic stamp measured 2 new classes per warm load. */
  private def byRef[T: scala.reflect.runtime.universe.TypeTag](v: T,
      deterministic: Boolean = false): Column = {
    val f = udf(() => v).asNonNullable()
    (if (deterministic) f else f.asNondeterministic())()
  }

  /** Order/column alignment against the live table schema: name-resolved,
    * missing columns null-filled (rows from before a column was added), a
    * column NARROWER than the table's cast up (a still-int segment of a
    * feed whose table already promoted to long — ensureTable has validated
    * the pair is promotion-compatible, so the cast is value-preserving),
    * the engine-internal `seq` carried through. */
  private def alignTo(df: DataFrame, tableSchema: StructType): DataFrame = {
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = tableSchema.fields.toSeq.map { f =>
      present.get(f.name) match {
        case Some(t) if SchemaShape.normalize(t) ==
            SchemaShape.normalize(f.dataType) => col(s"`${f.name}`")
        case Some(_) => col(s"`${f.name}`").cast(f.dataType).as(f.name)
        case None    => lit(null).cast(f.dataType).as(f.name)
      }
    } :+ col(SeqCol)
    df.select(cols: _*)
  }

  /** Stream maps + flattening (B3/B4), applied after typing, before write;
    * `seq` is engine-internal and restored around the user transform. */
  private def applyTransforms(stream: String, df: DataFrame): DataFrame = {
    val mapped = streamMaps.get(stream) match {
      case Some(cfg) => StreamMaps(df, cfg)
      case None      => df
    }
    if (!flatteningEnabled) mapped
    else StreamMaps.flatten(mapped, flatteningMaxDepth)
  }

  /** One write job per stream; the written-row count AND the rejected-record
    * count both ride the write job via `observe` + listener, so the
    * parse/validate/transform pipeline executes once — no separate count()
    * scan (at 100 TB a second scan doubles ingest cost). */
  private def appendScale(stream: String, rows: DataFrame,
                          overwrite: Boolean, typed: Typed,
                          sortCols: Seq[String] = Nil,
                          upsertKeys: Option[Seq[String]] = None)
      : (Long, Long) = {
    val data = rows.drop(SeqCol)
    // sorted_by path: range partitioning SAMPLES its child before the
    // real pass, so observe metrics riding the WRITE job would tally
    // every row twice AND the parse/validate pipeline would execute
    // twice. Materialize ONCE via localCheckpoint — BOTH observe metrics
    // (row count attached here, reject count already in the lineage)
    // fire on that single materialization (localCheckpoint runs through
    // withAction, so the QueryExecutionListener sees them) — then the
    // range sampler and the write read the cached blocks. ACTIVATE_
    // VERSION composes: a sorted full refresh goes through
    // overwriteSorted (rewriting the whole table is exactly where
    // sorting pays off most). Output is sized to ceil(rows/batchSize)
    // range files so a small batch cannot shatter into
    // shuffle.partitions-many files of small-file debt.
    if (sortCols.nonEmpty) {
      val metricName = s"graft_rows_${stream}_${java.util.UUID.randomUUID()}"
      val observed = data.observe(metricName, count(lit(1)).as("n"))
      @volatile var counted = -1L
      @volatile var rejected = -1L
      val latch = new java.util.concurrent.CountDownLatch(1)
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution,
                               ns: Long): Unit = {
          qe.observedMetrics.get(typed.rejectMetric).foreach { row =>
            rejected = if (row.isNullAt(0)) 0L else row.getLong(0)
          }
          qe.observedMetrics.get(metricName).foreach { row =>
            counted = row.getLong(0); latch.countDown()
          }
        }
        override def onFailure(fn: String, qe: QueryExecution,
                               e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val mat = observed.localCheckpoint(true)
        try {
          val nRows =
            if (latch.await(30, java.util.concurrent.TimeUnit.SECONDS) &&
                counted >= 0) counted
            else mat.count() // cached blocks — cheap defensive fallback
          val nFiles = Some(math.max(1L,
            (nRows + batchSize - 1) / batchSize).toInt)
          if (overwrite)
            catalog.overwriteSorted(namespace, stream, mat, sortCols, nFiles)
          else
            catalog.appendSorted(namespace, stream, mat, sortCols, nFiles)
          return (nRows,
            if (rejected >= 0) rejected else typed.rejectedExact())
        } finally mat.unpersist() // data is durably committed; free the
                                  // checkpoint blocks now, not at GC
      } finally spark.listenerManager.unregister(listener)
    }
    val metricName = s"graft_rows_${stream}_${java.util.UUID.randomUUID()}"
    val observed = data.observe(metricName, count(lit(1)).as("n"))
    @volatile var counted = -1L
    @volatile var rejected = -1L
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        // both observe nodes live in the one write plan -> same QueryExecution
        qe.observedMetrics.get(typed.rejectMetric).foreach { row =>
          rejected = if (row.isNullAt(0)) 0L else row.getLong(0)
        }
        qe.observedMetrics.get(metricName).foreach { row =>
          counted = row.getLong(0); latch.countDown()
        }
      }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the session conf bounding file sizes is set around the whole load
    // ([[withMaxRecordsPerFile]]); the option reaches path-based writers
    try {
      val opts = Map("maxRecordsPerFile" -> batchSize.toString)
      // (sortCols.nonEmpty returned above — this is the unsorted path).
      // ACTIVATE_VERSION's first write REPLACES the table — replace-by-key
      // is moot there; appends after it (and every non-swap load) upsert.
      if (overwrite) catalog.overwrite(namespace, stream, observed, opts)
      else upsertKeys match {
        case Some(keys) => upsertInto(stream, keys, observed)
        case None => catalog.append(namespace, stream, observed, opts)
      }
      // listener fires async after commit; fall back to counts only if the
      // metrics never arrive (defensive — should not happen)
      if (latch.await(30, java.util.concurrent.TimeUnit.SECONDS) && counted >= 0)
        (counted, if (rejected >= 0) rejected else typed.rejectedExact())
      else (data.count(), typed.rejectedExact())
    } finally spark.listenerManager.unregister(listener)
  }

  /** Replace-by-key through whichever catalog is wired: snapshot
    * carriers take the MOR one-commit path (equality delete + append,
    * [[SnapshotLakeCatalog.upsertMOR]] — no data rewrite); the session
    * carrier falls back to its locked copy-on-write [[LakeCatalog
    * .merge]]. Same replace-by-key semantics either way — the carrier
    * picks its cheapest mechanism. */
  private def upsertInto(stream: String, keys: Seq[String],
                         df: DataFrame): Unit = catalog match {
    case sc: SnapshotLakeCatalog => sc.upsertMOR(namespace, stream, keys, df)
    case c                       => c.merge(namespace, stream, keys, df)
  }

  /** Per-slice commit cadence; with `overwrite` (ACTIVATE_VERSION) the FIRST
    * slice replaces the table contents and later slices append — same final
    * table as scale mode's single overwrite commit, per-batch cadence kept. */
  private def appendStrict(stream: String, rows: DataFrame,
                           overwrite: Boolean = false,
                           sortCols: Seq[String] = Nil,
                           upsertKeys: Option[Seq[String]] = None): Long = {
    // row_number over global input order: single-partition window — strict
    // mode is protocol-fidelity testing only (see class doc).
    val w = Window.orderBy(SeqCol)
    val sliced = rows
      .withColumn(BatchCol, ((row_number().over(w) - 1) / batchSize).cast("long"))
      .cache()
    try {
      val batchIds = sliced.select(BatchCol).distinct()
        .collect().map(_.getLong(0)).sorted
      var total = 0L
      batchIds.zipWithIndex.foreach { case (b, i) =>
        val slice = sliced.filter(col(BatchCol) === b).drop(BatchCol, SeqCol)
        // each strict slice holds <= batchSize rows by construction:
        // ONE range file per slice, never shuffle.partitions-many
        if (overwrite && i == 0) {
          if (sortCols.nonEmpty) catalog.overwriteSorted(namespace, stream,
            slice, sortCols, targetFiles = Some(1))
          else catalog.overwrite(namespace, stream, slice)
        } else if (sortCols.nonEmpty)
          catalog.appendSorted(namespace, stream, slice, sortCols,
            targetFiles = Some(1))
        else upsertKeys match {
          case Some(keys) => upsertInto(stream, keys, slice)
          case None       => catalog.append(namespace, stream, slice)
        }
        total += slice.count()
      }
      // an ACTIVATE_VERSION with zero records still truncates (full swap)
      if (overwrite && batchIds.isEmpty)
        catalog.overwrite(namespace, stream, sliced.drop(BatchCol, SeqCol).limit(0))
      total
    } finally sliced.unpersist()
  }
}

object BatchLoader {
  /** Reference batch-drain size (`sinks.py:18`). */
  val DefaultBatchSize = 10000

  /** Engine-internal column names — _graft_-prefixed so they cannot
    * collide with legal Singer field names (which "seq"/"__batch" could). */
  private[lake] val SeqCol = "_graft_seq"
  private[lake] val BatchCol = "_graft_batch"

  /** Codec extensions Hadoop decodes transparently — [[BatchLoader
    * .loadPaths]] rejects them (a codec stream has no exact line offsets);
    * the CLI routes a SINGLE such file to the legacy [[BatchLoader.load]]
    * scan (one codec file decodes as one split, so scan order is exact)
    * and refuses multi-file compressed feeds. */
  private[graft] val CompressedExts =
    Seq(".gz", ".bz2", ".zst", ".lz4", ".snappy", ".deflate")

  /** Does this file carry a codec extension? (Drives the CLI's
    * loadFiles-vs-legacy-scan-vs-refuse routing.) */
  def isCompressed(file: String): Boolean =
    CompressedExts.exists(file.endsWith)

  /** Resolve paths/dirs/globs to the sorted data-file listing [[BatchLoader
    * .loadFiles]] consumes — exposed so a caller's routing decision and the
    * load share ONE metadata sweep over the feed. */
  def listInput(spark: SparkSession, paths: Seq[String]): Seq[String] =
    graft.sources.SingerSourceUtil
      .listFiles(paths, spark.sessionState.newHadoopConf())
      .map(_.getPath.toString).sorted

  /** `seq` bit split for [[BatchLoader.loadPaths]]: file index (sorted
    * listing order) in the high [[FileBits]] bits, line byte offset in the
    * low [[OffsetBits]] — 2^19 files x 16 TiB each, ordered like the feed. */
  private[lake] val OffsetBits = 44
  private[lake] val FileBits = 19

  /** Build from a validated [[TargetConfig]] (CLI path) — the ONE place
    * config fields map onto loader parameters; the CLI passes only the
    * flags that are not config-file surface. */
  def fromConfig(spark: SparkSession, catalog: LakeCatalog,
                 cfg: TargetConfig, strictBatches: Boolean = false): BatchLoader =
    new BatchLoader(spark, catalog,
      namespace = cfg.icebergCatalogNamespaceName,
      batchSize = cfg.batchSize,
      addRecordMetadata = cfg.addRecordMetadata,
      strictBatches = strictBatches,
      streamMaps = cfg.streamMaps,
      flatteningEnabled = cfg.flatteningEnabled,
      flatteningMaxDepth = cfg.flatteningMaxDepth,
      partitionBy = cfg.partitionBy,
      sortedBy = cfg.sortedBy,
      upsertStreams = cfg.upsertStreams)

  private[lake] final case class RawMsg(
      mtype: String, stream: String, payload: String,
      keyProps: Seq[String], seq: Long)

  /** One per-stream SCHEMA declaration — its struct type, the SCHEMA
    * message's `key_properties` (the upsert keys when the stream is in
    * `upsert_streams`) — and the half-open seq interval of the records it
    * governs (drain-then-switch, SURVEY §3.1). */
  private[lake] final case class SchemaSegment(schema: StructType,
                                               keyProps: Seq[String],
                                               fromSeq: Long, untilSeq: Long)

  /** A stream's validated rows plus the two ways to learn how many records
    * validation rejected: the observe metric riding the write job (scale
    * path, free) and an exact re-parse (strict/test path, one extra job). */
  private[lake] final case class Typed(valid: DataFrame, rejectMetric: String,
                                       rejectedExact: () => Long)

  /** @param rejectedPerStream records dropped by B2 validation (corrupt JSON
    *   or type-violating fields), keyed like `rowsPerStream`. */
  final case class LoadReport(rowsPerStream: Map[String, Long],
                              statesToEcho: Seq[String],
                              rejectedPerStream: Map[String, Long] = Map.empty)
}
