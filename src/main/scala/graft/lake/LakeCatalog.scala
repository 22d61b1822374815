package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Namespace/table lifecycle + append — the capability surface of the
  * reference's per-batch catalog dance
  * (`/root/reference/target_iceberg/sinks.py:43-100`), re-expressed as a
  * connect-once trait (SURVEY.md §4.1: the reference reloads the catalog every
  * batch; that is an inefficiency, not a semantic, and is not replicated).
  *
  * The environment ships no iceberg-spark-runtime jar (SURVEY.md §7.0), so the
  * default implementation targets Spark's session catalog with Parquet-backed
  * tables; a real Iceberg/REST catalog plugs in behind this same trait where
  * the jar exists (`spark.sql.catalog.<name>` conf + identical DDL).
  */
trait LakeCatalog {
  /** Idempotent namespace creation (sinks.py:70-77 swallows AlreadyExists;
    * `IF NOT EXISTS` gives the same semantics without the error dance). */
  def ensureNamespace(ns: String): Unit
  def tableExists(ns: String, table: String): Boolean
  /** Create-if-absent from a declared schema — unpartitioned by default to
    * match the reference (sinks.py:96), partition columns opt-in for the
    * 100 TB path (SURVEY.md §4.3 divergence).
    *
    * Schema evolution (A12 — a TODO the reference never implemented,
    * sinks.py:92): when the table exists and the declared schema adds
    * top-level columns, they are ALTERed in (old rows read NULL). A type
    * change on an existing column fails loudly — silent coercion corrupts
    * data at scale (SURVEY §7.4). */
  def ensureTable(ns: String, table: String, schema: StructType,
                  partitionBy: Seq[String] = Nil): Unit
  /** Write a frame as a BUCKETED managed table (overwriting): both sides of
    * a recurring equi-join bucketed on the join key by the same bucket count
    * join WITHOUT a shuffle — the co-location strategy for the biggest
    * repeated joins at 100 TB (bucket pruning comes free on point lookups). */
  def writeBucketed(ns: String, table: String, df: DataFrame,
                    bucketCols: Seq[String], numBuckets: Int,
                    sortCols: Seq[String] = Nil): Unit
  /** Append-only commit (sinks.py:100); `key_properties` never trigger upsert
    * (sinks.py:25 — accepted but unused in the reference). `options` pass
    * writer knobs (e.g. `maxRecordsPerFile` to bound file sizes at scale). */
  def append(ns: String, table: String, df: DataFrame,
             options: Map[String, String] = Map.empty): Unit
  /** Full-table swap (Singer ACTIVATE_VERSION semantics): replace the table
    * contents with `df` in one commit. */
  def overwrite(ns: String, table: String, df: DataFrame,
                options: Map[String, String] = Map.empty): Unit

  /** The ONE sorted-write shaping, shared by every carrier and both the
    * append and overwrite faces — range partition on the sort columns
    * (disjoint per-file value windows), sort within each file. Kept on
    * the trait so a fix here can never diverge the carriers' layouts. */
  protected final def shapeSorted(df: DataFrame, sortCols: Seq[String],
                                  targetFiles: Option[Int]): DataFrame = {
    require(sortCols.nonEmpty, "sorted write needs a sort column")
    targetFiles.foreach(n => require(n >= 1, s"targetFiles $n"))
    import org.apache.spark.sql.functions.col
    val cols = sortCols.map(c => col(s"`$c`"))
    (targetFiles match {
      case Some(n) => df.repartitionByRange(n, cols: _*)
      case None    => df.repartitionByRange(cols: _*)
    }).sortWithinPartitions(cols: _*)
  }

  /** Sorted append: range-partition the batch on `sortCols` and sort
    * within each file, so per-file value windows are disjoint and a
    * bounded read skips non-matching files — via manifest column bounds
    * on snapshot catalogs ([[SnapshotLakeCatalog.appendSorted]] also
    * declares the Iceberg sort order), via parquet row-group statistics
    * pushdown on the session catalog. One range exchange per batch — the
    * cost any sorted write pays — traded for O(selectivity) scans. */
  def appendSorted(ns: String, table: String, df: DataFrame,
                   sortCols: Seq[String],
                   targetFiles: Option[Int] = None): Unit =
    append(ns, table, shapeSorted(df, sortCols, targetFiles))

  /** Sorted full-table swap — [[overwrite]] with the [[appendSorted]]
    * layout (the ACTIVATE_VERSION + sorted_by composition: a full
    * refresh is exactly where rewriting the whole table sorted pays
    * off most). Snapshot catalogs also declare the sort order. */
  def overwriteSorted(ns: String, table: String, df: DataFrame,
                      sortCols: Seq[String],
                      targetFiles: Option[Int] = None): Unit =
    overwrite(ns, table, shapeSorted(df, sortCols, targetFiles))
  def load(ns: String, table: String): DataFrame
  /** The schema [[load]] exposes, without planning the read where the
    * carrier can answer from its metadata (the loader asks on every
    * sync). */
  def tableSchema(ns: String, table: String): StructType =
    load(ns, table).schema
  def dropNamespace(ns: String): Unit
  /** Small-file compaction: rewrite the table into ~`targetFiles` files,
    * PRESERVING its partition layout (partition pruning must survive
    * compaction). Streaming/batched appends accumulate small files (one per
    * task per commit); at 100 TB scans pay for every file open, so periodic
    * compaction is part of lake hygiene. Bucketed tables are refused — a
    * rewrite would drop the bucket spec. This implementation rewrites the
    * whole table (fine for the local catalog); a production Iceberg catalog
    * would rewrite per-partition via its own rewrite_data_files action. */
  def compact(ns: String, table: String, targetFiles: Int): Unit

  /** MERGE / upsert — replace-by-key: land every row of `df` and, in the
    * SAME atomic commit, remove any existing row sharing its `keys`
    * tuple. This is the row-level surface the reference's
    * `key_properties` imply but never implement (it accepts them,
    * `sinks.py:25,31`, then appends unconditionally, `sinks.py:100`).
    * Missing table ⇒ plain insert; additive schema evolution applies
    * first. Key columns must be non-null (a null key matches nothing and
    * simply inserts). Concurrency (snapshot catalogs): merges racing on
    * DISJOINT keys both land via commit rebase; a race that touches the
    * same rewritten data fails loudly like the delete paths. */
  def merge(ns: String, table: String, keys: Seq[String],
            df: DataFrame): Unit

  /** Rename a column as a SCHEMA EVOLUTION (VERDICT r11 #2): `from`
    * becomes `to`; data files are untouched. On snapshot catalogs this is
    * metadata-only — the new schema entry keeps the field's id, and the
    * read path maps old files' physical `from` column onto `to` (field
    * ids exist precisely so renames never rewrite data). The session
    * catalog cannot express a metadata-only rename over path-based
    * parquet (no schema registry per file), so it rewrites — documented
    * carrier divergence, same as type promotion there. Fails loudly when
    * `from` is absent, `to` already exists, or the column is load-bearing
    * for this carrier's physical layout (on snapshot carriers: a legacy
    * name-bound equality delete, a bucket-spec column; partition sources
    * — identity AND days/truncate/bucket(N) — rename freely, the spec
    * binding by source-id, identity additionally minting a spec
    * generation under the new name).
    *
    * Returns the number of live data directories whose PARTITION PRUNING
    * pauses until [[compact]] rewrites them (an identity-source rename
    * leaves pre-rename `old=value` dirs readable via the alias history
    * but invisible to the new spec's pruning — VERDICT r13 #7); 0 when
    * the rename has no pruning impact. A non-zero count is also logged
    * loudly, naming compact. */
  def renameColumn(ns: String, table: String, from: String,
                   to: String): Int

  /** Atomically replace `ns.table`'s contents with `fold(current)` — the
    * read-modify-write primitive behind ledger compactions
    * (`Streaming.compactStats`). The fold's READ and the replacing WRITE
    * are one isolated unit: a row appended concurrently is either visible
    * to the fold or lands after the replacement — never silently dropped
    * by a read-then-blind-overwrite. Carrier-specific isolation:
    * [[SessionLakeCatalog]] runs the whole cycle under the per-table write
    * lock this JVM's writers already serialize on; [[SnapshotLakeCatalog]]
    * validates at commit time that no snapshot landed after the one the
    * fold read and RE-RUNS the fold against the winner on conflict
    * (bounded retries, loud failure). */
  def foldReplace(ns: String, table: String)
                 (fold: DataFrame => DataFrame): Unit

  /** The shared at-least-once replay guard, used by every streaming lake
    * sink and the curation faces: drop the rows of `df` whose `key` already
    * exists in `ns.table`; a missing table passes everything through. Reads
    * ONLY the key column — on a long-lived ingest keep the guarded table
    * bucketed/sorted by `key` (or keep a key-only companion table) so the
    * anti-join prunes to the probed buckets instead of scanning.
    * `distinctKeys` pre-shrinks the build side when the key repeats across
    * rows (decision logs keyed by incoming doc, epoch-keyed ledgers);
    * uniquely-keyed tables skip that extra shuffle.
    *
    * Keys must be NON-NULL: left_anti equi-join semantics pass a
    * null-keyed row through on EVERY replay (null never equals anything),
    * which would silently break the exactly-once contract for that row —
    * so a null key fails loudly UP FRONT, as one column-pruned pre-scan
    * of `df`'s key column that early-exits on the first null. (An earlier
    * shape wove a per-row raise_error into the key column itself — zero
    * extra passes, but the failure then surfaced deep inside the sink
    * epoch's write instead of at validation, and the when/otherwise
    * wrapper blocked filter pushdown on the key.) The pre-scan costs one
    * evaluation of `df`'s lineage projected to the key; streaming epochs
    * and the curation faces feed materialized batches, where that is a
    * cheap metadata-sized read.
    *
    * PUBLIC CONTRACT (ADVICE r11): `df`'s lineage is evaluated TWICE —
    * once by this validation pre-scan, once by whatever consumes the
    * returned frame. A caller holding an EXPENSIVE lineage pays it twice;
    * a caller holding a NON-DETERMINISTIC lineage (rand(), an
    * uncheckpointed shuffle-order-dependent derivation) may validate
    * different rows than it later writes — a null key could slip past the
    * guard. Such callers must materialize first (`df.localCheckpoint(true)`)
    * and pass the checkpointed frame; every in-repo caller does. */
  def exceptExistingKeys(ns: String, table: String, key: String,
                         df: DataFrame,
                         distinctKeys: Boolean = false): DataFrame = {
    require(df.select(col(key)).filter(col(key).isNull).isEmpty,
      s"exceptExistingKeys($ns.$table): null '$key' — replay-guard " +
        "keys must be non-null (a null key can never be recognized " +
        "as already persisted, so its row would re-append on every " +
        "replay)")
    if (!tableExists(ns, table)) df
    else {
      val keys = load(ns, table).select(key)
      df.join(if (distinctKeys) keys.distinct() else keys,
        Seq(key), "left_anti")
    }
  }
}

/** Type-shape normalization shared by every [[LakeCatalog]] implementation's
  * schema-drift check: strip field metadata and nullability, recursively —
  * the drift comparison cares about type shape, nothing else (nested
  * PARQUET:field_id renumbering and widened null unions are evolution, not
  * drift). */
private[lake] object SchemaShape {
  def normalize(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name,
        normalize(f.dataType), nullable = true)))
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(normalize(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(normalize(k), normalize(v),
        valueContainsNull = true)
    case other => other
  }

  /** What [[diffForEvolution]] found: `added` = new top-level columns,
    * `promoted` = existing columns whose TABLE type must widen to admit
    * the declared type (Iceberg-safe promotions only — the widened type
    * is recorded; old data files keep their narrower physical type and
    * read-time alignment casts up). */
  case class EvolutionDiff(
      added: Seq[org.apache.spark.sql.types.StructField],
      promoted: Seq[(String, org.apache.spark.sql.types.DataType)]) {
    def isEmpty: Boolean = added.isEmpty && promoted.isEmpty
  }

  /** The Iceberg-safe type-promotion lattice (spec §Schema Evolution):
    * int→long, float→double, decimal(P,S)→decimal(P'≥P,S) — value-
    * preserving widenings a reader can apply to old files with a plain
    * cast. Returns the type that represents BOTH sides (recursing
    * through struct/array/map shapes), or None when the pair is true
    * drift (string→int, scale changes, field-set changes). Symmetric on
    * purpose: a DECLARED side narrower than the table is also accepted
    * (the writer casts up; the table never narrows). Inputs are compared
    * normalized; the result is normalized. */
  /** Align one physical column onto its declared type, recursively and
    * BY NAME for structs: declared fields missing from the physical
    * struct null-fill (rows/frames predating a nested ADD), present
    * fields recurse, and a NULL struct stays NULL (a bare `struct(...)`
    * rebuild would resurrect it as a row of nulls). Non-struct
    * mismatches keep the plain promotion cast — a struct CAST is
    * positional and field-count-strict, which is why every evolved-
    * struct boundary (read alignment, write conform, the session
    * carrier's promotion rewrite) routes through here instead. */
  def alignColumn(c: org.apache.spark.sql.Column,
                  phys: org.apache.spark.sql.types.DataType,
                  declared: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, struct, when}
    import org.apache.spark.sql.types.StructType
    (phys, declared) match {
      case (p, d) if normalize(p) == normalize(d) => c
      case (p: StructType, d: StructType) =>
        val physByName = p.fields.map(f => f.name -> f.dataType).toMap
        val rebuilt = struct(d.fields.toIndexedSeq.map { df =>
          (physByName.get(df.name) match {
            case Some(pt) => alignColumn(c.getField(df.name), pt,
              df.dataType)
            case None => lit(null).cast(df.dataType)
          }).as(df.name)
        }: _*)
        when(c.isNull, lit(null).cast(d)).otherwise(rebuilt)
      case (_, d) => c.cast(d)
    }
  }

  def widen(a: org.apache.spark.sql.types.DataType,
            b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    (normalize(a), normalize(b)) match {
      case (x, y) if x == y => Some(x)
      case (IntegerType, LongType) | (LongType, IntegerType) =>
        Some(LongType)
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case (d1: DecimalType, d2: DecimalType)
          if d1.scale == d2.scale && math.max(d1.precision, d2.precision) <= 38 =>
        Some(DecimalType(math.max(d1.precision, d2.precision), d1.scale))
      case (StructType(fa), StructType(fb))
          // append-only nested evolution (round 15): one side's field
          // NAMES may be a PREFIX of the other's — the tail is the
          // nested ADD, and old rows read it as NULL (by-name struct
          // alignment, [[alignColumn]]). Any other field-set difference
          // (reorder, removal, insertion mid-struct) stays true drift.
          if fa.map(_.name).toSeq.startsWith(fb.map(_.name).toSeq) ||
            fb.map(_.name).toSeq.startsWith(fa.map(_.name).toSeq) =>
        val (shorter, longer) =
          if (fa.length <= fb.length) (fa, fb) else (fb, fa)
        val shared = shorter.zip(longer).map { case (x, y) =>
          widen(x.dataType, y.dataType).map(t =>
            StructField(x.name, t, nullable = true))
        }
        if (shared.forall(_.isDefined))
          Some(StructType(shared.map(_.get) ++
            longer.drop(shorter.length).map(f =>
              StructField(f.name, normalize(f.dataType), nullable = true))))
        else None
      case (ArrayType(ea, _), ArrayType(eb, _)) =>
        widen(ea, eb).map(ArrayType(_, containsNull = true))
      case (MapType(ka, va, _), MapType(kb, vb, _)) =>
        for { k <- widen(ka, kb); v <- widen(va, vb) }
          yield MapType(k, v, valueContainsNull = true)
      case _ => None
    }
  }

  /** The drift rule (SURVEY §7.4 + VERDICT r11 #1): additive columns
    * evolve; an Iceberg-safe promotion ([[widen]]) on an existing column
    * evolves the TABLE type (metadata-only on snapshot catalogs — old
    * files read back cast up); any other type change fails loudly —
    * silent coercion corrupts data at scale. A declared type NARROWER
    * than the table's (int into a promoted-to-long column) is accepted
    * with no schema change — the write path casts up. */
  def diffForEvolution(existing: StructType, declared: StructType,
                       where: String): EvolutionDiff = {
    val byName = existing.fields.map(f => f.name -> f.dataType).toMap
    val promoted = declared.fields.flatMap { f =>
      byName.get(f.name).flatMap { old =>
        val w = widen(old, f.dataType).getOrElse(throw
          new IllegalArgumentException(
            s"schema drift on $where.${f.name}: table has " +
              s"${old.catalogString}, stream declares " +
              s"${f.dataType.catalogString} — not an Iceberg-safe " +
              "promotion (int->long, float->double, decimal precision " +
              "widening); other type changes are not auto-evolved " +
              "(fail loudly, SURVEY §7.4)"))
        if (w == normalize(old)) None else Some(f.name -> w)
      }
    }.toSeq
    EvolutionDiff(
      declared.fields.filterNot(f => byName.contains(f.name)).toSeq,
      promoted)
  }
}

/** Parquet-backed implementation on the Spark session catalog. Identifiers
  * are backtick-quoted everywhere so legal Singer stream names containing
  * '-' or '.' resolve to one consistent table. */
class SessionLakeCatalog(spark: SparkSession) extends LakeCatalog {
  protected def id(ns: String, table: String) = s"`$ns`.`$table`"

  override def ensureNamespace(ns: String): Unit =
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS `$ns`")

  override def tableExists(ns: String, table: String): Boolean =
    spark.catalog.tableExists(id(ns, table))

  override def ensureTable(ns: String, table: String, schema: StructType,
                           partitionBy: Seq[String]): Unit = {
    // transform syntax (days(ts), truncate(4, c)) is a snapshot-catalog
    // feature — the session catalog partitions by plain columns only
    partitionBy.foreach(p => require(!p.contains("("),
      s"partition transforms ('$p') need a SnapshotLakeCatalog; the " +
        "session catalog supports identity partition columns only"))
    // `__graft_stage` is the rewrite-staging suffix (stagedRewrite) —
    // a user table under the reserved name would be mistaken for a
    // crashed rewrite's remnant
    require(!table.endsWith("__graft_stage"),
      s"'$table': the '__graft_stage' suffix is reserved for rename/" +
        "promotion rewrite staging")
    ensureNamespace(ns)
    if (!tableExists(ns, table)) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
      val writer = empty.write.format("parquet")
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .saveAsTable(id(ns, table))
    } else {
      val existing = spark.table(id(ns, table)).schema
      val diff =
        SchemaShape.diffForEvolution(existing, schema, s"$ns.$table")
      if (diff.promoted.nonEmpty) {
        // the session catalog cannot ALTER a column's type on a v1
        // parquet table (no per-file schema registry), so a promotion is
        // a locked partition-preserving REWRITE with casts — documented
        // carrier divergence: the snapshot catalogs do this metadata-only
        require(!isBucketed(ns, table),
          s"$ns.$table is bucketed — a promotion rewrite would drop its " +
            "bucket spec; rewrite via writeBucketed under the widened " +
            "schema instead")
        tableLock(ns, table).synchronized {
          val cur = spark.table(id(ns, table))
          val physTypes = cur.schema.fields
            .map(f => f.name -> f.dataType).toMap
          val widened = diff.promoted.foldLeft(cur) {
            case (df, (name, t)) =>
              // by-name alignment: a nested ADD widens a struct column,
              // which a positional cast cannot express
              df.withColumn(name, SchemaShape.alignColumn(
                col(s"`$name`"), physTypes(name), t))
          }
          stagedRewrite(ns, table, widened)
        }
      }
      if (diff.added.nonEmpty) {
        val colsDdl = diff.added
          .map(f => s"`${f.name}` ${f.dataType.catalogString}").mkString(", ")
        spark.sql(s"ALTER TABLE ${id(ns, table)} ADD COLUMNS ($colsDdl)")
      }
    }
  }

  /** Rename by locked partition-preserving rewrite — the session
    * catalog's carrier divergence ([[LakeCatalog.renameColumn]]): path
    * parquet tables have no field-id registry, so a metadata-only rename
    * is not expressible here. Partition and bucket columns are refused
    * (their names ARE the physical layout). */
  override def renameColumn(ns: String, table: String, from: String,
                            to: String): Int = {
    require(from != to, s"renameColumn: '$from' -> itself")
    val schema = spark.table(id(ns, table)).schema
    require(schema.fieldNames.contains(from),
      s"$ns.$table has no column '$from'")
    require(!schema.fieldNames.contains(to),
      s"$ns.$table already has a column '$to'")
    require(!isBucketed(ns, table),
      s"$ns.$table is bucketed — a rename rewrite would drop its bucket " +
        "spec; rewrite via writeBucketed under the new name instead")
    // a PARTITION-column rename is natural on this carrier: the rename
    // is a full staged rewrite anyway, so the new name simply becomes
    // the new directory layout (`to=value` dirs) — no pruning pause, no
    // mixed-generation dirs (contrast the snapshot carriers' metadata-
    // only rename, which pauses pruning on old dirs until compact)
    val parts = partitionColsOf(ns, table)
      .map(p => if (p == from) to else p)
    tableLock(ns, table).synchronized {
      stagedRewrite(ns, table,
        spark.table(id(ns, table)).withColumnRenamed(from, to),
        Some(parts))
    }
    0 // the rewrite lands under the new name — no pruning pause
  }

  /** Rewrite-and-swap for the session carrier's rename/promotion paths
    * (which here are data REWRITES — the documented carrier divergence
    * from the snapshot catalogs' metadata-only evolution; the rewrite
    * cost is one full read + write of the table, the price a v1
    * path-parquet table pays for lacking a field-id registry). The
    * rewrite lands in a STAGING table first (`<table>__graft_stage`, a
    * reserved suffix), then the original is dropped and the staging
    * table renamed into place — so no crash window loses DATA: an
    * interruption between the drop and the rename leaves the full
    * rewritten table under the staging name (re-runnable recovery),
    * where the previous in-place overwrite could crash after its
    * truncate with the rows gone (ADVICE r12). Writing to a separate
    * location also means the rewrite reads its source directly — no
    * checkpoint materialization. Caller holds the table lock. */
  private def stagedRewrite(ns: String, table: String,
                            rewritten: DataFrame,
                            partsOverride: Option[Seq[String]] = None): Unit = {
    val parts = partsOverride.getOrElse(partitionColsOf(ns, table))
    val stage = s"${table}__graft_stage"
    // the staging name is RESERVED (user tables refuse it at create,
    // see ensureTable): if it exists anyway, this is either a crashed
    // prior rewrite (recover by `ALTER TABLE <stage> RENAME TO <table>`
    // if the primary is unbound, else drop the stage) — never clobber
    if (tableExists(ns, stage))
      throw new IllegalStateException(
        s"staging table ${id(ns, stage)} already exists — likely a " +
          "crashed prior rewrite. Recover manually: if " +
          s"${id(ns, table)} is missing, the stage holds the full " +
          "rewritten data (RENAME it into place); otherwise DROP the " +
          "stage and re-run.")
    val w = rewritten.write.format("parquet").mode("overwrite")
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
      .saveAsTable(id(ns, stage))
    spark.sql(s"DROP TABLE ${id(ns, table)}")
    spark.sql(s"ALTER TABLE ${id(ns, stage)} RENAME TO ${id(ns, table)}")
    // renaming a PARTITIONED managed table moves its directory but the
    // metastore's per-partition locations still point at the old path
    // (the classic Hive rename quirk) — recover them from the layout
    if (parts.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE ${id(ns, table)}")
    refreshHere(ns, table)
  }

  override def writeBucketed(ns: String, table: String, df: DataFrame,
                             bucketCols: Seq[String], numBuckets: Int,
                             sortCols: Seq[String]): Unit = {
    ensureNamespace(ns)
    // same _temporary/0 clobber hazard as append/overwrite (see
    // tableLock's scaladoc) — every saveAsTable path serializes per table
    tableLock(ns, table).synchronized {
      val w = df.write.format("parquet").mode("overwrite")
        .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
        .saveAsTable(id(ns, table))
    }
  }

  /** Writes into a partitioned table must redeclare its partitioning. */
  private def partitionColsOf(ns: String, table: String): Seq[String] =
    spark.catalog.listColumns(id(ns, table)).collect()
      .filter(_.isPartition).map(_.name).toSeq

  private def writer(df: DataFrame, ns: String, table: String,
                     options: Map[String, String], mode: String) = {
    val w = df.write.options(options).format("parquet").mode(mode)
    val parts = if (tableExists(ns, table)) partitionColsOf(ns, table) else Nil
    if (parts.nonEmpty) w.partitionBy(parts: _*) else w
  }

  /** Plain-parquet saveAsTable stages concurrent jobs through ONE shared
    * `_temporary/0` under the table path (FileOutputCommitter v1), so two
    * racing writers to the same table delete each other's staging — a
    * Spark limitation of path-based tables, not of this catalog's
    * bookkeeping. Serializing writes per table (JVM-global: the metastore
    * path is shared across catalog instances of one JVM) makes intra-JVM
    * concurrency safe; CROSS-process concurrency on a session catalog
    * needs a snapshot table format — that is [[DirectoryLakeCatalog]]'s
    * rename-claim CAS, or a real Iceberg catalog. */
  private def tableLock(ns: String, table: String): Object =
    SessionLakeCatalog.writeLocks
      .computeIfAbsent(id(ns, table), _ => new Object)

  override def append(ns: String, table: String, df: DataFrame,
                      options: Map[String, String]): Unit =
    tableLock(ns, table).synchronized {
      writer(df, ns, table, options, "append").saveAsTable(id(ns, table))
      refreshHere(ns, table)
    }

  override def overwrite(ns: String, table: String, df: DataFrame,
                         options: Map[String, String]): Unit = {
    // saveAsTable-overwrite REPLACES the table definition: on a bucketed
    // table that silently drops the bucket spec (and with it the
    // shuffle-free join property) — fail loudly like compact does.
    // (Appends are already safe: Spark itself rejects a bucketing
    // mismatch on insert.)
    require(!(tableExists(ns, table) && isBucketed(ns, table)),
      s"$ns.$table is bucketed — overwrite would silently drop its " +
        "bucket spec; rewrite via writeBucketed instead")
    tableLock(ns, table).synchronized {
      writer(df, ns, table, options, "overwrite").saveAsTable(id(ns, table))
      refreshHere(ns, table)
    }
  }

  /** Replace-by-key under the table lock (the session catalog's one-JVM
    * isolation): materialize the incoming rows FIRST (the overwrite
    * truncates the files the remainder reads), then keep every existing
    * row whose key tuple is absent from the incoming set and overwrite
    * with remainder ∪ incoming. */
  override def merge(ns: String, table: String, keys: Seq[String],
                     df: DataFrame): Unit = {
    require(keys.nonEmpty, "merge needs at least one key column")
    // fail BEFORE the checkpoint work: merge rewrites via overwrite,
    // which refuses bucketed tables (silent bucket-spec drop)
    require(!(tableExists(ns, table) && isBucketed(ns, table)),
      s"$ns.$table is bucketed — merge's rewrite would silently drop " +
        "its bucket spec; rewrite via writeBucketed instead")
    tableLock(ns, table).synchronized {
      ensureTable(ns, table, df.schema)
      val incoming = df.localCheckpoint(true)
      val ks = incoming.select(keys.map(k => col(s"`$k`")): _*).distinct()
      val merged = load(ns, table).join(ks, keys, "left_anti")
        .unionByName(incoming, allowMissingColumns = true)
        .localCheckpoint(true)
      overwrite(ns, table, merged)
    }
  }

  /** The whole read-fold-write cycle under the table lock: every writer in
    * this JVM (append/overwrite/compact, incl. foreachBatch epochs through
    * this catalog) serializes on the same monitor, so no epoch row can land
    * between the fold's read and the overwrite — the lost-update the naive
    * load-then-overwrite shape allows. localCheckpoint materializes the
    * folded rows BEFORE the overwrite truncates the files they read from.
    * (Cross-process writers are out of scope for the session catalog —
    * see tableLock's scaladoc; the snapshot catalogs validate instead.) */
  override def foldReplace(ns: String, table: String)
                          (fold: DataFrame => DataFrame): Unit =
    tableLock(ns, table).synchronized {
      val folded = fold(load(ns, table)).localCheckpoint(true)
      overwrite(ns, table, folded)
    }

  /** saveAsTable refreshes the metadata cache of the session that OWNS the
    * written DataFrame — which is a cloned session when the frame comes out
    * of a streaming foreachBatch epoch. Reads through THIS catalog go
    * through this catalog's session, so keep its relation cache coherent
    * too (cheap metadata op; no-op in the common same-session case). */
  private def refreshHere(ns: String, table: String): Unit =
    spark.catalog.refreshTable(id(ns, table))

  override def load(ns: String, table: String): DataFrame =
    spark.table(id(ns, table))

  override def dropNamespace(ns: String): Unit =
    spark.sql(s"DROP NAMESPACE IF EXISTS `$ns` CASCADE")

  /** True when the table was created with a bucket spec ([[writeBucketed]]).
    * The catalyst Catalog API exposes partition columns but not bucketing, so
    * this reads the DESCRIBE FORMATTED metadata section. */
  private def isBucketed(ns: String, table: String): Boolean =
    spark.sql(s"DESCRIBE FORMATTED ${id(ns, table)}").collect()
      .exists(r => r.getString(0) == "Num Buckets")

  override def compact(ns: String, table: String, targetFiles: Int): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    // Bucketed tables are refused: a plain rewrite would silently drop the
    // bucket spec (and with it the shuffle-free join property), and
    // writeBucketed already rewrites them whole — compacting one is a no-op
    // request, not hygiene.
    require(!isBucketed(ns, table),
      s"$ns.$table is bucketed — compact() would drop its bucket spec; " +
        "rewrite via writeBucketed instead")
    val parts = partitionColsOf(ns, table)
    // Partition-preserving rewrite: co-locate rows of a partition so each
    // task writes whole files for few partitions (a bare repartition(n)
    // scatters every partition over all n tasks -> n files per partition,
    // recreating the small-file problem being fixed).
    // the whole read-checkpoint-rewrite cycle sits under the table lock:
    // a concurrent append truncating files mid-checkpoint would abort the
    // snapshot read, and the rewrite itself shares append/overwrite's
    // _temporary/0 staging hazard
    tableLock(ns, table).synchronized {
      val snapshot0 = load(ns, table)
      val snapshot = (if (parts.nonEmpty)
          snapshot0.repartition(targetFiles, parts.map(p => col(s"`$p`")): _*)
        else snapshot0.repartition(targetFiles))
        // localCheckpoint severs lineage eagerly — a cached plan could be
        // evicted and recomputed from files AFTER the overwrite truncates them
        .localCheckpoint(true)
      val w = snapshot.write.format("parquet").mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
        .saveAsTable(id(ns, table))
    }
  }
}

object SessionLakeCatalog {
  /** Per-table write serialization (see append's scaladoc) — keyed by the
    * metastore identifier, shared by every catalog instance in the JVM. */
  private[lake] val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
}
