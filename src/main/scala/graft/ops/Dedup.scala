package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table (SURVEY.md §2.C1/C2) —
  * the LLM-training-pipeline staples: exact content-hash dedup, MinHash/LSH
  * near-duplicate detection, and SimHash.
  *
  * Scale design (100 TB):
  *   - exact dedup is a single hash-shuffle on the content fingerprint with
  *     map-side partial aggregation.
  *   - MinHash: ONE md5 per shingle (the expensive part), then 16 affine
  *     hashes `(a_i*h + b_i) mod p` — pure arithmetic — reduced per doc by a
  *     `groupBy(doc).min` that partially aggregates before the shuffle, so
  *     shuffle volume is docs x 16 longs no matter how large the corpus.
  *     Candidate pairs come from a self-equi-join on the band key — a
  *     codegen'd shuffled hash join that streams in-bucket pairs (never an
  *     all-pairs cartesian, never a materialized bucket row). Giant-bucket
  *     skew is the known hazard: AQE splits hot keys, and a bucket-size cap
  *     ([[DefaultMaxBucket]]) drops degenerate buckets.
  *   - SimHash: one md5 per distinct token, 60 bit-majority sums as plain
  *     aggregates (partial agg again), pigeonhole chunk bucketing for the
  *     Hamming join.
  *
  * All hashes are md5-derived (identical lowercase hex on both engines) so
  * the DuckDB oracle reproduces every value bit-for-bit.
  */
object Dedup {
  import Tables._

  /** C1 exact dedup: one row per distinct normalized content, keeping the
    * smallest doc_id (deterministic survivor policy) + duplicate count.
    * Normalization+hash is the native [[graft.functions.NormMd5]] — one
    * compiled byte-level pass, bit-identical to
    * `md5(lower(trim(regexp_replace(text, '\\s+', ' '))))` (parity spec in
    * TextOpsSpec) but without per-doc regex machinery. */
  def q22DedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(expr("norm_md5(text)").as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  val NumHashes = 16
  // q148's est_ppm = n_match * 1000000 div NumHashes is exact only while
  // NumHashes divides the ppm scale; a non-divisor would silently truncate.
  require(1000000 % NumHashes == 0,
    s"NumHashes=$NumHashes must divide 1000000 for exact est_ppm")
  val BandRows = 4 // 4 bands x 4 rows: P(candidate) = 1-(1-J^4)^4
  private[ops] val NumBands = NumHashes / BandRows
  val MinhashPrime = 2147483647L // 2^31-1; base h < 2^28 so a*h+b < 2^63

  /** Production default for the in-bucket pair-join cap, wired into the
    * registered q23/q24/q51 queries. A bucket of b docs streams b^2/2 joined
    * rows; at b = 10^4 that is ~5*10^7 comparisons per bucket — seconds of
    * one core, the largest still-plausible near-dup cluster. Beyond it a
    * bucket is a degenerate corpus slice (empty docs, boilerplate), not
    * near-dups: at 10^5 one bucket alone would stream 5*10^9 rows. The cap
    * never binds at oracle scale (sf0.01 buckets are < 10^2), so capped and
    * uncapped queries agree with the DuckDB oracle there.
    *
    * Calibration at 10x sf0.1 (50k docs, [[CapStress]], worst-case
    * densification — every doc given 10 near-dup copies): minhash band
    * buckets top out at 40 (p99.9 = 20) — the cap holds ~250x headroom and
    * drops nothing. SimHash 15-bit-chunk buckets are the skew-prone family:
    * the top chunk bucket reached 11,233, crossing the cap and skipping 37%
    * of in-bucket COMPARISONS (random chunk collisions, not confirmed
    * near-dups; pairs at Hamming <= 3 in a capped bucket are the actual
    * recall cost — q24's pigeonhole exactness is scoped to sub-cap buckets,
    * like q96). Re-siting guidance when a real corpus's chunk histogram
    * looks like this: prefer MORE chunks over a higher cap (5 x 12-bit
    * chunks keep pigeonhole at Hamming <= 4 and cut expected bucket size
    * 8x); raising the cap buys recall at quadratic cost. */
  val DefaultMaxBucket = 10000

  /** Affine-hash coefficients from a fixed-seed LCG (same literals are
    * injected into the DuckDB oracle SQL). */
  val (hashA, hashB): (Array[Long], Array[Long]) = {
    var state = 7L
    def next(bound: Long): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      math.floorMod(state >>> 16, bound)
    }
    (Array.fill(NumHashes)(1L + next(MinhashPrime - 2)),
      Array.fill(NumHashes)(next(MinhashPrime - 1)))
  }

  /** doc_id + distinct 3-word shingles via the native
    * [[graft.functions.WordShingles]] expression (interpreted array lambdas
    * were the hot spot) — one compiled pass, narrow projection. */
  private[ops] def shingled(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), expr("word_shingles(text)").as("sh"))
      .filter(col("sh").isNotNull)

  /** 16 minhashes per doc via the native [[graft.functions.ShingleMinHash]]
    * expression — ONE compiled pass per document (the declarative
    * explode/groupBy formulation profiled 5-10x slower because higher-order
    * array lambdas evaluate interpreted). Values are identical: one md5 per
    * shingle + 16 affine hashes. Narrow projection, no shuffle at all. */
  private[ops] def minhashes(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), expr("shingle_minhash(text)").as("mh"))
      .filter(col("mh").isNotNull)

  private[ops] def bandKey(b: Int): Column = {
    val parts = (0 until BandRows)
      .map(r => s"cast(element_at(mh, ${b * BandRows + r + 1}) as string)")
    expr(s"md5(concat_ws(',', ${parts.mkString(", ")}))")
  }

  /** Distinct candidate pairs from banded LSH via a self-EQUI-JOIN on
    * (band, bkey) — the same shape as [[simhashPairs]]: a codegen'd shuffled
    * hash join streams in-bucket pairs instead of materializing each band
    * bucket as one `collect_list` array row and expanding pairs with an
    * interpreted lambda (the former shape: a hot band key built one
    * arbitrarily large row — an OOM hazard at 100 TB even with id-only
    * payloads). The banded projection is a cheap native pass
    * ([[graft.functions.ShingleMinHash]] + band md5s), so computing it on
    * both join sides costs less than one bucket materialization; AQE
    * skew-join splits hot (band, bkey) keys, and `maxBucket` drops
    * pathological buckets (a bucket of b docs streams b^2/2 joined rows —
    * see [[DefaultMaxBucket]] for sizing). */
  private[ops] def minhashCandidates(s: SparkSession, d: String,
                                     maxBucket: Option[Int] = None): DataFrame =
    // the STANDARD-cap pair list is memoized per corpus slot: two-id
    // rows, checkpointed, five standalone consumers (q23/q60/q101/q109/
    // q128) plus the propagation seed; non-standard caps (CapStress
    // sweeps) bypass the memo and derive live
    if (maxBucket.contains(DefaultMaxBucket))
      SessionCache.getOrElseUpdate(s, d, "pairs")(
        computeMinhashCandidates(s, d, maxBucket).localCheckpoint(true))
    else computeMinhashCandidates(s, d, maxBucket)

  /** Test hooks: how many live derivations actually ran (memo hits skip). */
  private[ops] val pairDerivations = new java.util.concurrent.atomic.AtomicLong
  private[ops] val truthDerivations = new java.util.concurrent.atomic.AtomicLong

  private def computeMinhashCandidates(s: SparkSession, d: String,
                                       maxBucket: Option[Int]): DataFrame = {
    pairDerivations.incrementAndGet()
    val banded = minhashes(s, d).select(col("doc_id"),
      posexplode(array((0 until NumBands).map(bandKey): _*)).as(Seq("band", "bkey")))
    val bounded = capBuckets(banded, Seq("band", "bkey"), maxBucket)
    val l = bounded.select(col("band"), col("bkey"), col("doc_id").as("id_a"))
    val r = bounded.select(col("band"), col("bkey"), col("doc_id").as("id_b"))
    l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      // a pair can share several bands. Unlike simhashPairs (which dedups
      // in-row at the smallest shared chunk, recomputable from the carried
      // sim longs), deciding the smallest shared BAND needs all four
      // 32-char band keys on both sides — fattening the corpus-wide banded
      // shuffle by ~256 B/row to spare a distinct over the (much smaller)
      // candidate pair stream of 16 B ids. The distinct is the cheaper
      // side of that trade at every scale, so it stays.
      .distinct()
  }

  /** Persist the corpus's dedup signatures — the [[graft.functions.NormMd5
    * norm_md5]] exact fingerprint plus the [[NumHashes]]-slot MinHash
    * sketch — as a lake table: the ONE corpus text scan that every
    * incremental load then amortizes (the
    * [[graft.ops.Similarity.codebookTable]] pattern applied to dedup
    * state). One row per doc `(doc_id, fp, mh)`; overwrite on corpus
    * refresh. */
  def signaturesTable(s: SparkSession, d: String,
                      catalog: graft.lake.LakeCatalog, namespace: String,
                      table: String = "dedup_signatures"): DataFrame = {
    val sig = documents(s, d).select(col("doc_id"),
      expr("norm_md5(text)").as("fp"),
      expr("shingle_minhash(text)").as("mh"))
    catalog.ensureTable(namespace, table, sig.schema, Nil)
    catalog.overwrite(namespace, table, sig)
    catalog.load(namespace, table)
  }

  /** Dedup an INCOMING batch against a persisted signature index
    * ([[signaturesTable]]) with ZERO corpus text reads — the fresh-session
    * ingest path: only the incoming docs are hashed; exact dups are an
    * fp equi-join; near-dup candidates collide on the same banded-MinHash
    * keys as q23; and a candidate's similarity is the MinHash ESTIMATE
    * (matching-slot fraction — E[est] = true jaccard), because the exact
    * verdict would need the corpus shingle sets this path exists to avoid
    * re-reading. One row per (incoming_id, corpus_id) match, `match_kind`
    * exact|near, exact pairs never re-reported as near.
    *
    * Scale shape: the index side streams (doc_id, fp, mh) — ~150 B/doc,
    * orders of magnitude under text — through one fp join and one banded
    * join; the incoming side is batch-sized. Band keys derive from the
    * STORED sketch ([[bandKey]] over `mh`), so index rows are written once
    * and banded at read time. */
  def dedupAgainstIndex(s: SparkSession, incoming: DataFrame,
                        index: DataFrame): DataFrame = {
    // a fresh session may never have read a corpus table — register the
    // hash expressions explicitly (idempotent)
    graft.functions.TextHashExprs.register(s)
    val inc = incoming.select(col("doc_id").as("incoming_id"),
      expr("norm_md5(text)").as("ifp"),
      expr("shingle_minhash(text)").as("imh"))
    val idx = index.select(col("doc_id").as("corpus_id"), col("fp"),
      col("mh"))
    // exact matching needs only the fingerprint — a doc too short to
    // shingle (null mh) still exact-dedups
    val exact = inc.join(idx, col("ifp") === col("fp"))
      .select(col("incoming_id"), col("corpus_id"),
        lit("exact").as("match_kind"), lit(1.0).as("est_jaccard"))
    def withBands(df: DataFrame) = df.filter(col("mh").isNotNull)
      .select(col("*"),
        posexplode(array((0 until NumBands).map(bandKey): _*))
          .as(Seq("band", "bkey")))
    val li = withBands(inc.withColumnRenamed("imh", "mh"))
      .select(col("band"), col("bkey"), col("incoming_id"),
        col("mh").as("imh"))
    // boilerplate guard (the q23 convention): an index band bucket larger
    // than [[DefaultMaxBucket]] is shared boilerplate, not dup signal —
    // candidates from it would be |batch| x |bucket| for zero precision.
    // Never binds at gate scale (10k >> any test bucket), so the oracle
    // stays cap-free like minhashOracle.
    val ri = capBuckets(withBands(idx), Seq("band", "bkey"),
      Some(DefaultMaxBucket))
      .select(col("band"), col("bkey"), col("corpus_id"), col("mh"))
    val near = li.join(ri, Seq("band", "bkey"))
      .select(col("incoming_id"), col("corpus_id"), col("imh"), col("mh"))
      .distinct() // a pair can collide in several bands
      .join(exact.select("incoming_id", "corpus_id"),
        Seq("incoming_id", "corpus_id"), "left_anti")
      .select(col("incoming_id"), col("corpus_id"),
        lit("near").as("match_kind"),
        round(expr(s"size(filter(zip_with(imh, mh, (x, y) -> x = y), " +
          s"b -> b)) / $NumHashes"), 4).as("est_jaccard"))
    exact.unionAll(near).orderBy("incoming_id", "corpus_id")
  }

  /** Intra-batch dup ids for [[graft.ops.Pipeline.curateIncrement]]: the
    * doc_ids an incoming batch should drop against ITSELF — exact (shared
    * norm_md5 fingerprint) or near (banded-MinHash candidates with
    * matching-slot estimate ≥ [[DupJaccard]], the q133 decision math) —
    * under the min-id keeper rule: any doc paired with a smaller id
    * drops, so each pair-graph component keeps exactly its minimum.
    * Batches are increment-sized, so the banded self-join is small; the
    * same bucket-cap guard as the index path applies. */
  private[ops] def dedupWithinBatch(s: SparkSession,
                                    incoming: DataFrame): DataFrame = {
    graft.functions.TextHashExprs.register(s)
    val sig = incoming.select(col("doc_id"),
        expr("norm_md5(text)").as("fp"),
        expr("shingle_minhash(text)").as("mh"))
      .localCheckpoint(true) // exact arm + both sides of the banded join
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val exact = sig.withColumn("keep", min("doc_id").over(w))
      .filter(col("doc_id") =!= col("keep")).select("doc_id")
    val banded = capBuckets(sig.filter(col("mh").isNotNull)
      .select(col("doc_id"), col("mh"),
        posexplode(array((0 until NumBands).map(bandKey): _*))
          .as(Seq("band", "bkey"))),
      Seq("band", "bkey"), Some(DefaultMaxBucket))
    val near = banded.select(col("band"), col("bkey"),
        col("doc_id").as("id_a"), col("mh").as("mh_a"))
      .join(banded.select(col("band"), col("bkey"),
        col("doc_id").as("id_b"), col("mh").as("mh_b")), Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .filter(expr(s"size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), " +
        s"b -> b)) / $NumHashes") >= DupJaccard)
      .select(col("id_b").as("doc_id"))
    exact.unionByName(near).distinct()
  }

  /** C2j index-side incremental dedup (q133): the registry face of
    * [[dedupAgainstIndex]] — incoming docs ([[IncomingSource]], the q128
    * split convention) deduped against the REST of the corpus as the
    * signature index, certifying the text-free decision math (fp exact +
    * banded-MinHash candidates + matching-slot jaccard ESTIMATE) against
    * the oracle. In production the index side is the persisted
    * [[signaturesTable]] (SignatureIndexSpec proves that plumbing); here
    * both sides derive in-query so the stateless correctness gate can
    * replay them. */
  def q133IndexDedup(s: SparkSession, d: String): DataFrame = {
    val corpus = documents(s, d).filter(col("source") =!= IncomingSource)
      .select(col("doc_id"), expr("norm_md5(text)").as("fp"),
        expr("shingle_minhash(text)").as("mh"))
    val incoming = documents(s, d).filter(col("source") === IncomingSource)
      .select(col("doc_id"), col("text"))
    dedupAgainstIndex(s, incoming, corpus)
  }

  /** C2k dup-aware sampling weights (q136): per doc, its near-dup cluster
    * size and the inverse-size sampling weight (exact integer ppm) — the
    * soft alternative to hard-dropping near-dups: keep every doc but
    * downweight cluster members so each CLUSTER contributes ~one doc's
    * worth of training mass (the dedup-vs-diversity compromise when
    * near-dups carry distinct metadata worth keeping). Docs outside every
    * LSH candidate pair are their own cluster (size 1, full weight).
    * Shape: the memoized [[dupLabels]] assignment (shared with
    * q70/q80/q94/q107/q115/q129/q130), one label-size aggregate, two
    * equi-joins onto a doc_id projection — no text columns move. */
  def q136SamplingWeights(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabels(s, d).select(col("id").as("doc_id"), col("label"))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("sz"))
    documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .join(sizes, Seq("label"), "left")
      .select(col("doc_id"), coalesce(col("sz"), lit(1L)).as("cluster_size"))
      .withColumn("weight_ppm", expr("1000000 div cluster_size"))
      .orderBy("doc_id")
  }

  /** Annotate rows with their bucket size via a count-over-partition window
    * and drop rows in buckets larger than `cap`. The window partition keys
    * equal the downstream join keys, so the cap rides the SAME shuffle the
    * self-equi-join needs — one signature scan, one exchange, both join
    * sides reuse it (AQE stage reuse). The groupBy + left-semi alternative
    * re-scans the signature pipeline (md5 per shingle/token — the expensive
    * part) once more; at 100 TB that extra full pass costs far more than
    * the window's disk-spilled buffering of the few degenerate buckets the
    * cap exists to drop. */
  private[ops] def capBuckets(df: DataFrame, keys: Seq[String],
                              maxBucket: Option[Int]): DataFrame =
    maxBucket match {
      case None => df
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
        df.withColumn("__n", count(lit(1)).over(w))
          .filter(col("__n") <= cap)
          .drop("__n")
    }

  /** Join an (id_a, id_b) pair frame with both docs' shingle arrays — the
    * ONE definition of the shingle hookup, shared by the full-stream
    * scaffold below and the calibration family's SAMPLED stream, so no
    * consumer can diverge on the join shape. */
  private[ops] def withShingles(s: SparkSession, d: String,
                                pairs: DataFrame): DataFrame = {
    val sh = shingled(s, d)
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
  }

  /** LSH candidate pairs joined with both docs' shingle arrays — the shared
    * scaffold of every exact-overlap scorer (q23 jaccard, q101 containment):
    * ONE definition of candidate generation + shingle hookup, so the two
    * operators cannot diverge on bucket caps or join shape. */
  private[ops] def candidatesWithShingles(s: SparkSession, d: String): DataFrame =
    withShingles(s, d, minhashCandidates(s, d, Some(DefaultMaxBucket)))

  /** THE exact pair-jaccard over the (sh_a, sh_b) shingle arrays — one
    * engine-side definition consumed by q23 and q128 (the oracle side is
    * equally single-sourced in [[jaccardCtes]]). */
  private[ops] def pairJaccard: org.apache.spark.sql.Column =
    round(expr("size(array_intersect(sh_a, sh_b))") /
      (expr("size(sh_a) + size(sh_b)") -
        expr("size(array_intersect(sh_a, sh_b))")), 4)

  /** C2 near-dup via MinHash + banded LSH, with exact shingle-set Jaccard on
    * the (tiny) candidate set. Output: candidate pairs + jaccard.
    *
    * `maxPairs` (OPT-IN, default off — VERDICT r11 #7): a deterministic
    * pair budget for callers who want a bounded near-dup REPORT rather
    * than the full pair list. The default face keeps every pair — its
    * output IS the pairs; at 100× replication that is 22M pairs in ~654 s,
    * correct because output-bound. With a budget, the NARROW (id_a, id_b)
    * stream is thinned FIRST by the calibration family's fixed id-pair
    * arithmetic ([[thinPairs]] — every step-th pair, reproducible
    * cross-engine), and the shingle arrays only ever join against the
    * bounded sample; the capped output is a strict subset of the uncapped
    * one whenever the cap binds, and identical (step = 1) when it
    * doesn't. */
  def q23DedupMinhash(s: SparkSession, d: String): DataFrame =
    nearDupPairs(s, d)

  /** [[q23DedupMinhash]] with the optional pair budget surfaced. */
  def nearDupPairs(s: SparkSession, d: String,
                   maxPairs: Option[Long] = None): DataFrame =
    withShingles(s, d, cappedCandidates(s, d, maxPairs))
      .select(col("id_a"), col("id_b"), pairJaccard.as("jaccard"))
      .orderBy("id_a", "id_b")

  /** The standard LSH candidate stream, optionally thinned to a
    * deterministic ≤~`maxPairs` sample BEFORE any array joins in. */
  private def cappedCandidates(s: SparkSession, d: String,
                               maxPairs: Option[Long]): DataFrame = {
    val pairs = minhashCandidates(s, d, Some(DefaultMaxBucket))
    maxPairs match {
      case Some(m) =>
        require(m > 0, s"maxPairs must be positive, got $m")
        thinPairs(pairs, m).localCheckpoint(true)
      case None => pairs
    }
  }

  /** C2x MinHash-estimate calibration (q148): per slot-match count, how
    * the [[NumHashes]]-slot MinHash jaccard ESTIMATE tracks the exact
    * shingle jaccard over the live candidate pairs — the
    * trust-the-estimator report behind every threshold choice in the
    * near-dup tier (the r6 cap calibration did this offline; this keeps
    * it runnable as data drifts). Bands are the raw match counts
    * (0..[[NumHashes]]), so est_ppm = n_match·1e6 floor-div NumHashes is
    * exact by construction at any NumHashes (per-row integer division on
    * BOTH engines — no precomputed constant that silently degrades when
    * NumHashes stops dividing 1e6); the exact side rides the same memoized candidate list
    * + shingle arrays q23 scores ([[candidatesWithShingles]]), and all
    * means are exact integer ppm. Output is ≤ NumHashes+1 rows. */
  /** Test hook: how many times the calibration base was scored. */
  private[ops] val calibDerivations = new java.util.concurrent.atomic.AtomicLong

  /** Pair budget for the CALIBRATION family (q148/q158/q176): reports
    * whose statistical value saturates long before the pair stream does.
    * Above this, pairs are DETERMINISTICALLY sampled (fixed arithmetic on
    * the id pair, mirrored verbatim in the oracles) — the r11 100×
    * probe's lesson: replication-quadratic duplication grows the
    * candidate stream ~copies² (25M pairs at 100×, vs 256 at sf0.1), and
    * carrying shingle+signature ARRAYS per pair through that stream is a
    * multi-hundred-GB shuffle. Per-pair OUTPUT operators (q23/q51/q101)
    * keep the full stream — their output IS the pairs; a calibration
    * report over ≥100k pairs is statistically indistinguishable from the
    * full census. Gate scales (sf0.01, sf0.1, sf0.01x10: 25 / 256 /
    * 23.8k pairs) stay UNSAMPLED — step = 1 reproduces the exact
    * pre-sampling outputs. */
  val CalibMaxPairs = 100000L

  /** The sampled calibration pair list: the NARROW (id_a, id_b) candidate
    * stream, thinned to ≤~[[CalibMaxPairs]] by keeping every step-th pair
    * under a fixed hash of the id pair (step = ceil(n / CalibMaxPairs)).
    * Counting rides the narrow pair list — the shingle /
    * signature arrays join in AFTER sampling, so the heavy width only
    * ever multiplies the BOUNDED sample. Memoized + checkpointed: one
    * derivation serves q148, q158 and q176. `maxPairs` is the spec's
    * override seam (only the default is memoized). */
  /** The ONE deterministic pair-thinning arithmetic (calibration family +
    * the opt-in [[nearDupPairs]]/[[q101Containment]] budgets): keep every
    * step-th pair under a fixed hash of the id pair, step = ceil(n /
    * maxPairs). Fixed arithmetic — no RNG — so an oracle mirrors it
    * verbatim and a re-run reproduces the identical sample; step = 1
    * (cap not binding) keeps the stream untouched. One count() pass over
    * the NARROW pair list prices the step — callers memoize/checkpoint. */
  private[ops] def thinPairs(pairs: DataFrame, maxPairs: Long): DataFrame = {
    val n = pairs.count()
    // CEIL division: floor would score up to 2x the budget (and thin
    // nothing at all for n in (maxPairs, 2*maxPairs))
    val step = math.max(1L, (n + maxPairs - 1) / maxPairs)
    if (step == 1L) pairs
    else pairs.filter(expr(s"(id_a * 1000003 + id_b) % $step = 0"))
  }

  private[ops] def sampledCalibPairs(s: SparkSession, d: String,
                                     maxPairs: Long = CalibMaxPairs)
      : DataFrame = {
    def build(): DataFrame =
      thinPairs(minhashCandidates(s, d, Some(DefaultMaxBucket)), maxPairs)
        .localCheckpoint(true)
    if (maxPairs != CalibMaxPairs) build()
    else SessionCache.getOrElseUpdate(s, d, "calib_pairs")(build())
  }

  /** Scored calibration base shared by q148 and the q158 budget sweep:
    * per SAMPLED candidate pair ([[sampledCalibPairs]]), the per-slot
    * signature-match indicators plus the exact shingle intersection and
    * set sizes — ONE array_intersect pass over the bounded sample,
    * checkpointed, so the calibration report and the hash-budget sweep
    * never score the pairs twice (the n-gram truth's discipline). */
  private def calibrationBase(s: SparkSession, d: String): DataFrame =
    SessionCache.getOrElseUpdate(s, d, "calib") {
      calibDerivations.incrementAndGet()
      val mh = minhashes(s, d)
      withShingles(s, d, sampledCalibPairs(s, d))
        .join(mh.select(col("doc_id").as("id_a"), col("mh").as("mh_a")), "id_a")
        .join(mh.select(col("doc_id").as("id_b"), col("mh").as("mh_b")), "id_b")
        .select(
          array((1 to NumHashes).map(i =>
            expr(s"if(element_at(mh_a, $i) = element_at(mh_b, $i), 1L, 0L)")): _*)
            .as("slot_eq"),
          expr("cast(size(array_intersect(sh_a, sh_b)) as long)").as("ninter"),
          expr("cast(size(sh_a) as long)").as("n_a"),
          expr("cast(size(sh_b) as long)").as("n_b"))
        .localCheckpoint(true)
    }

  /** b-bit sweep grid: bits kept per signature slot. */
  val BbitGrid: Seq[Int] = Seq(2, 4, 8)

  /** b-bit MinHash storage sweep (q176, Li & König, "b-Bit Minwise
    * Hashing", WWW 2010): store only the low b bits of every signature
    * slot and the index shrinks 32/b× — at the price of accidental
    * low-bit collisions inflating the match estimate by ~2^-b per
    * non-matching slot. For each b in [[BbitGrid]], over the standard
    * candidate pairs: slots matching on b bits beside slots matching in
    * full, the guaranteed-non-negative excess, and excess as exact ppm of
    * all compared slots — the REALIZED collision rate to hold against the
    * 2^-b theory line. Together with q158 (slot-count axis) this prices
    * both dimensions of the dominant storage term of a petabyte
    * signature index: slots × bits.
    *
    * Exactness: slot values are non-negative, so `% 2^b` agrees
    * cross-engine; everything else is integer sums and one ppm div.
    *
    * Scale shape: one join of the memoized two-id pair list against the
    * signature projection (the calibrationBase shape), per-pair work is
    * NumHashes·|grid| in-row comparisons, and the rollup is |grid| rows. */
  def q176BbitSweep(s: SparkSession, d: String): DataFrame = {
    val mh = minhashes(s, d)
    sampledCalibPairs(s, d) // calibration family: bounded pair sample
      .join(mh.select(col("doc_id").as("id_a"), col("mh").as("mh_a")), "id_a")
      .join(mh.select(col("doc_id").as("id_b"), col("mh").as("mh_b")), "id_b")
      .select(
        expr("aggregate(zip_with(mh_a, mh_b, (x, y) -> if(x = y, 1L, 0L)), " +
          "0L, (a, x) -> a + x)").as("full_m"),
        array(BbitGrid.map { b =>
          val m = 1L << b
          struct(lit(b.toLong).as("b"),
            expr(s"aggregate(zip_with(mh_a, mh_b, " +
              s"(x, y) -> if(x % $m = y % $m, 1L, 0L)), 0L, (a, x) -> a + x)")
              .as("m"))
        }: _*).as("sweep"))
      .select(col("full_m"), explode(col("sweep")).as("e"))
      .groupBy(col("e.b").as("b"))
      .agg(count(lit(1)).as("n_pairs"), sum("full_m").as("full_matches"),
        sum("e.m").as("bbit_matches"))
      // grid-complete even on a pair-free corpus (every arm emits a row,
      // matching the oracle's global-aggregate arms; ppm guards the
      // zero-pair division instead of diverging or crashing)
      .join(s.createDataFrame(BbitGrid.map(b => Tuple1(b.toLong)))
        .toDF("b"), Seq("b"), "right")
      .select(col("b"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("full_matches"), lit(0L)).as("full_matches"),
        coalesce(col("bbit_matches"), lit(0L)).as("bbit_matches"))
      .withColumn("excess", col("bbit_matches") - col("full_matches"))
      .withColumn("excess_ppm", expr(
        s"if(n_pairs = 0, 0L, excess * 1000000 div (n_pairs * $NumHashes))"))
      .select("b", "n_pairs", "full_matches", "bbit_matches", "excess",
        "excess_ppm")
      .orderBy("b")
  }

  def q148MinhashCalibration(s: SparkSession, d: String): DataFrame = {
    calibrationBase(s, d)
      .select(expr("aggregate(slot_eq, 0L, (a, x) -> a + x)").as("n_match"),
        col("ninter"), col("n_a"), col("n_b"))
      .withColumn("true_ppm",
        expr("ninter * 1000000 div (n_a + n_b - ninter)"))
      .withColumn("est_ppm", expr(s"n_match * 1000000 div $NumHashes"))
      .groupBy("n_match", "est_ppm")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(true_ppm) div count(1)").as("mean_true_ppm"),
        expr("sum(abs(est_ppm - true_ppm)) div count(1)")
          .as("mean_abs_err_ppm"))
      .orderBy("n_match")
  }

  /** Signature-size sweep grid (q158): prefix lengths of the
    * [[NumHashes]]-slot signature — the first h hash functions of a
    * MinHash signature are themselves a valid h-hash signature, so each
    * prefix is exactly the estimator a pipeline running with that hash
    * budget would ship. */
  val HashBudgetGrid: Seq[Int] = Seq(4, 8, 16)

  /** MinHash signature-size sweep (q158): estimate error vs hash budget —
    * for every h in [[HashBudgetGrid]], the mean/max absolute error and
    * signed total error (ppm) of the h-slot jaccard estimate against the
    * exact shingle jaccard, over the memoized candidate pairs. q148
    * calibrates the SHIPPED estimator (h = [[NumHashes]]); this is the
    * sizing curve that says what each smaller/larger signature would have
    * cost in accuracy — signature bytes per document are the dominant
    * storage term of a petabyte dedup index ([[signaturesTable]]), so the
    * budget deserves a measured decision too (the q152/q153 discipline).
    *
    * Exactness: per-pair errors are integer ppm (floor-div per row, the
    * q148 rule); the signed total is a SUM, never a signed division, so
    * no truncation-vs-floor divergence between engines can appear. Scale
    * shape: one pass over the cap-bounded candidate pairs with the slot
    * bools computed in-row; the h-grid explode multiplies that bounded
    * stream by 3; the rollup is |grid|-keyed. */
  def q158SignatureSweep(s: SparkSession, d: String): DataFrame = {
    val base = calibrationBase(s, d)
      .withColumn("true_ppm",
        expr("ninter * 1000000 div (n_a + n_b - ninter)"))
      .withColumn("sweep", array(HashBudgetGrid.map { h =>
        struct(lit(h.toLong).as("h"),
          expr(s"aggregate(slice(slot_eq, 1, $h), 0L, (a, x) -> a + x)")
            .as("nm"))
      }: _*))
    base.select(col("true_ppm"), explode(col("sweep")).as("e"))
      .select(col("e.h").as("n_hashes"),
        expr("e.nm * 1000000 div e.h").as("est_ppm"), col("true_ppm"))
      .groupBy("n_hashes")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(abs(est_ppm - true_ppm)) div count(1)")
          .as("mean_abs_err_ppm"),
        max(abs(col("est_ppm") - col("true_ppm"))).as("max_abs_err_ppm"),
        sum(col("est_ppm") - col("true_ppm")).as("sum_err_ppm"))
      .orderBy("n_hashes")
  }

  /** A pair is a containment dup when either doc's shingle set is ≥ 90%
    * inside the other — the "small doc embedded in a big doc" case. */
  val ContainDup = 0.9

  /** C2 containment near-dup: ASYMMETRIC overlap |A∩B|/|A| (and /|B|) on
    * the LSH candidate pairs, flagging pairs where one side is essentially
    * a subset of the other. Jaccard (q23) misses exactly this case: a
    * 100-shingle doc fully contained in a 10000-shingle doc has jaccard
    * ≈ 0.01 but containment 1.0 — the quote/boilerplate/concatenation
    * duplication mode a web-scale curation pipeline must catch separately.
    *
    * Same scale shape as q23: candidates come from the banded-LSH
    * self-equi-join (never all-pairs), shingle arrays join in only for the
    * tiny surviving pair set. NOTE the recall caveat inherited from
    * MinHash: LSH banding targets high-JACCARD pairs, so an extreme
    * containment pair with low jaccard may not surface as a candidate —
    * at production scale swap the candidate source for a suffix/anchor
    * index (q98's anchor fingerprints) when subset recall must be total. */
  def q101Containment(s: SparkSession, d: String): DataFrame =
    containmentPairs(s, d)

  /** [[q101Containment]] with the same OPT-IN pair budget as
    * [[nearDupPairs]] (deterministic [[thinPairs]] sampling on the narrow
    * stream, default off — the registered face keeps every pair). */
  def containmentPairs(s: SparkSession, d: String,
                       maxPairs: Option[Long] = None): DataFrame =
    withShingles(s, d, cappedCandidates(s, d, maxPairs))
      .select(col("id_a"), col("id_b"),
        round(expr("size(array_intersect(sh_a, sh_b))") / expr("size(sh_a)"),
          4).as("cont_a"),
        round(expr("size(array_intersect(sh_a, sh_b))") / expr("size(sh_b)"),
          4).as("cont_b"))
      .withColumn("is_contained",
        col("cont_a") >= ContainDup || col("cont_b") >= ContainDup)
      .orderBy("id_a", "id_b")

  /** Stop-gram cap for the exact n-gram index (q108): a 3-word shingle
    * shared by more than this many docs is boilerplate, not dup signal —
    * indexing it would stream df^2/2 candidate pairs for zero precision
    * (same stop-key reasoning and same value as q98's
    * [[MaxAnchorBucket]]). Recall cost of the cap: a pair is missed only
    * when EVERY shingle it shares is corpus-common — but a pair at
    * jaccard >= [[NgramDupJaccard]] shares half its shingles, and 3-word
    * shingles are overwhelmingly rare (Zipf), so a genuine near-dup pair
    * sharing only stop-grams does not occur outside degenerate
    * boilerplate corpora ([[CapStress]] measures the histogram).
    *
    * Calibration at 10x sf0.1 ([[CapStress]], worst-case densification —
    * every doc given 10 near-dup copies, multiplying every df by ~10):
    * df max 250 / p99.9 210 vs cap 64 — the cap binds on every shingle
    * whose pre-densification df >= 7 and drops 95.6% of RAW candidate
    * pairs (138M -> 6M; the quadratic common-shingle collision bulk),
    * while q108 still emits its 204k true near-dup pairs in ~6 s: copy
    * families keep their within-family shingles (df = mult = 10, far
    * under cap), so no dup family loses its candidates. Re-siting
    * guidance when a real corpus's p999 df crosses the cap: prefer
    * LONGER shingles (4-5 words — df falls Zipf-fast in shingle length)
    * over raising the cap, which buys recall at quadratic cost. */
  val MaxShingleDf = 64

  /** Exact-Jaccard threshold above which an n-gram pair counts as a
    * near-dup (q108) and enters the recall ground truth (q109). */
  val NgramDupJaccard = 0.5

  /** The document-frequency-capped inverted shingle index: one
    * (doc -> distinct shingle) explode, with [[capBuckets]] dropping
    * stop-grams on the same sh-keyed exchange the self-equi-join reuses.
    * Shared by the candidate join and the per-doc size rollup so the q108
    * similarity universe has ONE definition. */
  private[ops] def ngramIndex(s: SparkSession, d: String): DataFrame =
    capBuckets(
      shingled(s, d).select(col("doc_id"), explode(col("sh")).as("sh")),
      Seq("sh"), Some(MaxShingleDf))

  /** C2 near-dup via EXACT n-gram Jaccard over the df-capped shingle
    * vocabulary, kept at >= [[NgramDupJaccard]]. Unlike q23 (MinHash
    * banding, which misses a 1-(1-J^4)^4 fraction of true pairs), recall
    * here is exact within that vocabulary — the ground-truth tier: run it
    * on samples to calibrate/monitor the cheap LSH tier (q109), or as the
    * final authority where misses are unacceptable. Stop-grams (df >
    * [[MaxShingleDf]]) are excluded from BOTH intersection and union —
    * boilerplate-discounted jaccard: shared boilerplate must not inflate
    * similarity, and the exclusion is what bounds every index bucket.
    *
    * Shape: the intersection count is the index self-equi-join's OWN
    * pair-keyed aggregation — no array materialization, no distinct, no
    * per-pair second pass (the naive candidates+array-rejoin formulation
    * ran 5x slower at sf0.1: ~1.1M candidate pairs each dragged two
    * 50-element arrays through a shuffle to be intersected interpreted).
    * Per-doc sizes join onto the aggregated pair stream (AQE broadcasts
    * the dim at test scale; corpus-cardinality at 100 TB, where it's a
    * shuffle join on the already-reduced pairs). */
  def q108NgramJaccard(s: SparkSession, d: String): DataFrame =
    // memoized: the truth is tiny (above-threshold pairs) but its
    // derivation scans the df-capped inverted index — q109 consumes it
    // right after the standalone q108 in any full run
    SessionCache.getOrElseUpdate(s, d, "ngram_truth")(
      computeNgramJaccard(s, d).localCheckpoint(true))

  private def computeNgramJaccard(s: SparkSession, d: String): DataFrame = {
    truthDerivations.incrementAndGet()
    val ix = ngramIndex(s, d)
    val sizes = ix.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val l = ix.select(col("sh"), col("doc_id").as("id_a"))
    val r = ix.select(col("sh"), col("doc_id").as("id_b"))
    l.join(r, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ninter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("ninter") / (col("n_a") + col("n_b") - col("ninter")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= NgramDupJaccard)
      .orderBy("id_a", "id_b")
  }

  /** Recall monitor of the cheap LSH dedup tier against the exact n-gram
    * ground truth — the dedup analog of q105's ANN recall monitor: per
    * 0.1-wide jaccard band, how many true near-dup pairs (q108) did the
    * banded-MinHash candidate generator (q23's tier) surface? The silent
    * failure this catches: banding parameters tuned for one corpus
    * quietly under-recall after a distribution shift (shorter docs, new
    * boilerplate), and dup rates "improve" because the detector got
    * worse. Both pair streams are cap-bounded; the comparison join is
    * pair-id equi-join over those bounded sets and the output is <= 6
    * rows. At 100 TB run it on a sampled corpus slice, like q105. */
  def q109DedupRecall(s: SparkSession, d: String): DataFrame = {
    val truth = q108NgramJaccard(s, d)
    val lsh = minhashCandidates(s, d, Some(DefaultMaxBucket))
      .withColumn("hit", lit(1))
    truth.join(lsh, Seq("id_a", "id_b"), "left_outer")
      .groupBy((floor(col("jaccard") * 10) / 10.0).as("jaccard_band"))
      .agg(count(lit(1)).as("n_true"),
        count(col("hit")).as("n_caught"),
        round(count(col("hit")) / count(lit(1)), 4).as("recall"))
      .orderBy("jaccard_band")
  }

  val LenBandChars = 150 // char-band width for the q187 recall breakdown

  /** LSH recall by document length (q187): the q109 recall measurement
    * re-cut along the SHORTER document's length — the axis MinHash
    * actually degrades on: a short doc has few shingles, so its 16-slot
    * signature estimates jaccard noisily and banding misses true pairs
    * that long-doc pairs at the same jaccard would catch. q109 says
    * recall per similarity band; this says WHICH DOCS the index fails,
    * which is what decides a min-length floor or a short-doc exact-pass
    * side channel. Band = least(3, min(len_a, len_b) div
    * [[LenBandChars]]) — the shorter side governs, it carries the weaker
    * signature.
    *
    * Scale shape: the memoized truth pair list left-joins the memoized
    * candidates (both bounded), two id-keyed length hookups, a 4-row
    * rollup. */
  def q187RecallByLength(s: SparkSession, d: String): DataFrame = {
    val lens = documents(s, d).select(col("doc_id"), col("n_chars"))
    q108NgramJaccard(s, d)
      .join(minhashCandidates(s, d, Some(DefaultMaxBucket))
        .withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left_outer")
      .join(lens.select(col("doc_id").as("id_a"), col("n_chars").as("ca")),
        "id_a")
      .join(lens.select(col("doc_id").as("id_b"), col("n_chars").as("cb")),
        "id_b")
      .withColumn("len_band",
        expr(s"least(3L, least(ca, cb) div $LenBandChars)"))
      .groupBy("len_band")
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_caught"),
        round(count(col("hit")) / count(lit(1)), 4).as("recall"))
      .orderBy("len_band")
  }

  /** Shingle-df histogram (q191): the document-frequency distribution of
    * the shingle vocabulary in power-of-two bands — per band, distinct
    * shingles and their total posting mass in exact ppm. THE tool that
    * SIZES [[MaxShingleDf]]: the high bands are boilerplate (navigation,
    * licenses, templates) whose postings would quadratically dominate the
    * inverted index and the pair streams, and the histogram shows exactly
    * where the mass cliff sits before the cap is chosen (q167 then
    * monitors the chosen cap's utilization — this picks it, that audits
    * it). Banding is the integer bit-length (floor log2) computed by
    * BINARY-STRING length on both engines — no float log at any value.
    *
    * Scale shape: one exchange to the distinct (doc, shingle) relation,
    * a vocabulary-keyed df rollup with map-side partials, then a
    * ≤ log2(corpus)-row count-of-counts histogram. */
  def q191DfHistogram(s: SparkSession, d: String): DataFrame = {
    val dfs = shingled(s, d)
      .select(col("doc_id"), explode(col("sh")).as("shingle")).distinct()
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .localCheckpoint(true) // feeds the histogram AND the total
    val tot = dfs.agg(sum("df").as("n_total"))
    dfs.groupBy(expr("cast(length(conv(df, 10, 2)) - 1 as bigint)")
        .as("band"))
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("n_postings"))
      .crossJoin(broadcast(tot))
      // decimal(38): n_postings·1e6 crosses int64 at ~9.2e12 postings,
      // well inside this query's large-corpus purpose (q183 convention)
      .withColumn("postings_ppm", expr(
        "cast((cast(n_postings as decimal(38, 0)) * 1000000) div n_total " +
          "as bigint)"))
      .select("band", "n_shingles", "n_postings", "postings_ppm")
      .orderBy("band")
  }

  val DupTrendBands = 10 // doc_id bands for the q168 duplication trend

  /** Duplication trend (q168): the q129 ledger rolled up over
    * [[DupTrendBands]] equal doc_id bands (the q140 banding convention —
    * doc_id is the corpus's arrival proxy): per band, docs, exact and
    * near drops, and the exact-ppm drop share. The is-duplication-getting-
    * worse dashboard: a crawl that starts re-ingesting mirrors shows up
    * as a drop-share ramp in the newest bands long before corpus-level
    * totals move — the temporal view q162's size histogram and q115's
    * per-source funnel both lack.
    *
    * Scale shape: rides the memoized resolved ledger; banding is an
    * in-row projection and the rollup is [[DupTrendBands]] rows. */
  def q168DupTrend(s: SparkSession, d: String): DataFrame = {
    val mx = documents(s, d).agg((max("doc_id") + 1).as("m"))
    q129DedupLedger(s, d).select("doc_id", "action")
      .crossJoin(broadcast(mx))
      .withColumn("band", expr(s"(doc_id * $DupTrendBands) div m"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("action") === "drop_exact", 1L).otherwise(0L))
          .as("n_drop_exact"),
        sum(when(col("action") === "drop_near", 1L).otherwise(0L))
          .as("n_drop_near"),
        expr("sum(if(action <> 'keep', 1L, 0L)) * 1000000 div count(1)")
          .as("drop_ppm"))
      .orderBy("band")
  }

  /** Cap-utilization monitor (q167): are the candidate-generation caps
    * binding, and what did they buy? One row per cap family —
    * `lsh_bucket` ([[DefaultMaxBucket]] over (band, bkey) buckets) and
    * `shingle_df` ([[MaxShingleDf]] over the inverted-index shingle df) —
    * with group counts, groups over the cap, rows living in dropped
    * groups, the PAIR MASS the cap suppressed (Σ n·(n−1)/2 over capped
    * groups — the quadratic work that would have run) and the pair bound
    * the survivors still generate. q109/q165 measure a cap's recall
    * EFFECT; this measures its CAUSE and cost side, turning "the caps are
    * safe" from scaladoc prose into a runnable number (the CapStress
    * histogram as a registered, oracle-checked report).
    *
    * Scale shape: both inputs collapse to (group → size) marginals on
    * their own distributed aggregates; everything after is arithmetic on
    * the marginals. Pair masses are BIGINT-bounded (overflow needs a
    * single 4e9-row group — far past any cap this monitor would pass). */
  def q167CapUtilization(s: SparkSession, d: String): DataFrame = {
    val buckets = minhashes(s, d).select(col("doc_id"),
        posexplode(array((0 until NumBands).map(bandKey): _*))
          .as(Seq("band", "bkey")))
      .groupBy("band", "bkey").agg(count(lit(1)).as("n"))
      .select(lit("lsh_bucket").as("cap_name"),
        lit(DefaultMaxBucket.toLong).as("cap_value"), col("n"))
    val dfs = shingled(s, d)
      .select(col("doc_id"), explode(col("sh")).as("shg"))
      .groupBy("shg").agg(count(lit(1)).as("n"))
      .select(lit("shingle_df").as("cap_name"),
        lit(MaxShingleDf.toLong).as("cap_value"), col("n"))
    buckets.unionByName(dfs)
      .groupBy("cap_name", "cap_value")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") > col("cap_value"), 1L).otherwise(0L))
          .as("n_over_cap"),
        sum(when(col("n") > col("cap_value"), col("n")).otherwise(0L))
          .as("rows_dropped"),
        sum(when(col("n") > col("cap_value"), expr("n * (n - 1) div 2"))
          .otherwise(0L)).as("pairs_suppressed"),
        sum(when(col("n") <= col("cap_value"), expr("n * (n - 1) div 2"))
          .otherwise(0L)).as("pairs_kept_bound"))
      .orderBy("cap_name")
  }

  /** LSH banding theory-vs-practice monitor (q165): per 0.1 jaccard band
    * over the exact truth — the EMPIRICAL candidate rate (q109's
    * observation) beside the ANALYTIC S-curve expectation
    * P(candidate) = 1 − (1 − J^r)^b for the configured r = [[BandRows]],
    * b = [[NumBands]]. The delta column separates failure modes q109
    * alone cannot: empirical far BELOW analytic means the hash family or
    * bucket caps are eating recall (a mechanism bug); both low just means
    * the band sits on the S-curve's floor (a threshold choice).
    *
    * Exactness: the S-curve evaluates per pair with MULTIPLICATION-ONLY
    * squaring chains (j² = j·j, j⁴ = j²·j², then (1−j⁴)² and its square)
    * floored to integer ppm per row — one fixed association order of
    * deterministic IEEE ops, no cross-engine pow/exp (the q112
    * discipline); everything after is integer sums. Rides the memoized
    * truth and candidate relations — no new corpus work at all. */
  def q165BandingCurve(s: SparkSession, d: String): DataFrame = {
    require(BandRows == 4 && NumBands == 4,
      "q165's squaring-chain S-curve is specialized to r = b = 4")
    val lsh = minhashCandidates(s, d, Some(DefaultMaxBucket))
      .withColumn("hit", lit(1))
    q108NgramJaccard(s, d)
      .join(lsh, Seq("id_a", "id_b"), "left_outer")
      .withColumn("j2", col("jaccard") * col("jaccard"))
      .withColumn("j4", col("j2") * col("j2"))
      .withColumn("t2",
        (lit(1.0d) - col("j4")) * (lit(1.0d) - col("j4")))
      .withColumn("p_ppm",
        floor((lit(1.0d) - col("t2") * col("t2")) * lit(1000000.0d))
          .cast("long"))
      .groupBy((floor(col("jaccard") * 10) / 10.0).as("jaccard_band"))
      .agg(count(lit(1)).as("n_true"),
        count(col("hit")).as("n_caught"),
        expr("count(hit) * 1000000 div count(1)").as("empirical_ppm"),
        expr("sum(p_ppm) div count(1)").as("expected_ppm"))
      .withColumn("delta_ppm", col("empirical_ppm") - col("expected_ppm"))
      .orderBy("jaccard_band")
  }

  /** Dedup-quality interaction report (q164): per ledger action
    * (drop_exact / drop_near / keep) — doc count, exact char mass, and
    * mean lexical quality as floor(Σ round(ttr·10⁴) / n). The
    * am-I-dropping-good-docs audit on the q129 decisions: drops SHOULD
    * skew toward boilerplate-grade quality (duplicates are
    * disproportionately templates); a drop class whose mean quality
    * matches or beats the keeps means the near-dup threshold is eating
    * genuine content — the policy alarm that pairs with q153's volume
    * curve (what a threshold costs) by saying WHAT KIND of docs it costs.
    *
    * Scale shape: the ledger derives from memoized labels; the quality
    * signal is one narrow projection of documents joined on doc_id; the
    * rollup is 3 rows. Uses THE shared ttr definition
    * ([[TextOps.ttrFromTokens]]), so this report cannot drift from the
    * q30/q94/q97 signal. */
  def q164DropQuality(s: SparkSession, d: String): DataFrame = {
    val sig = documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), col("n_chars"),
        round(TextOps.ttrFromTokens(col("t")) * 10000).cast("long").as("ttr4"))
    q129DedupLedger(s, d).select("doc_id", "action")
      .join(sig, "doc_id")
      .groupBy("action")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        expr("sum(ttr4) div count(1)").as("mean_ttr_x10000"))
      .orderBy("action")
  }

  /** Jaccard threshold grid for the q153 retention sweep — every point at
    * or above [[NgramDupJaccard]], because the exact-truth memo only
    * contains pairs at or above that floor. */
  val JaccardSweep: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Near-dup threshold sweep (q153): for every candidate dedup threshold
    * in [[JaccardSweep]], the retention curve — true near-dup pairs
    * flagged (q108 exact truth), docs dropped under the COMPONENT min-id
    * keeper rule (the rule q129's drop_near actually ships: connected
    * components over the threshold-filtered pair graph, component min
    * kept — NOT the weaker pairwise-partner rule, which understates drops
    * on non-clique clusters like 1–5, 3–5), chars removed, and the
    * exact-ppm char mass retained. The knob-tuning report behind
    * [[NgramDupJaccard]]: q108 says which pairs are dups AT the chosen
    * threshold; this says what each alternative choice would have cost,
    * so the threshold is a measured decision instead of folklore (the
    * dedup analog of q117's quality-cut retention curve).
    *
    * Scale shape: rides the memoized q108 truth (above-floor pairs only —
    * tiny, its index scan already amortized across q109/q128/q148); each
    * grid point runs [[propagateMinLabels]] over its FILTERED pair set —
    * the q70 distributed propagation on successively sparser graphs,
    * never a collect; the doc-char join touches only dropped doc ids.
    * Nothing here rescans the corpus text. */
  def q153ThresholdSweep(s: SparkSession, d: String): DataFrame = {
    val truth = q108NgramJaccard(s, d)
    val chars = documents(s, d).select(col("doc_id"), col("n_chars"))
    // optimization r15 (guide §2.6, overlap independent jobs): each grid
    // point's propagation is a serial chain of small convergence rounds
    // that leaves most cores idle; the five chains share nothing (each
    // filters the memoized truth independently), so they run concurrently
    // from a driver-side pool and back-fill each other's stage tails.
    // Results are per-chain deterministic, and the sweep rows are
    // reassembled in grid order, so the output is byte-identical to the
    // serial form. Wall: ~Σ(chains) -> ~max(chain).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      JaccardSweep.size)
    val perT = try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futures = JaccardSweep.map { t =>
        scala.concurrent.Future {
          val pairs = truth.filter(col("jaccard") >= t)
          val dropped = propagateMinLabels(s, pairs) // eager rounds
            .filter(col("id") =!= col("label"))
            .select(col("id").as("doc_id"))
          pairs.agg(count(lit(1)).as("n_pairs"))
            .crossJoin(dropped.join(chars, "doc_id")
              .agg(count(lit(1)).as("n_docs_dropped"),
                coalesce(sum("n_chars"), lit(0L)).as("chars_removed")))
            .select(lit(t).as("threshold"), col("n_pairs"),
              col("n_docs_dropped"), col("chars_removed"))
        }(ec)
      }
      // Future.sequence fails FAST (ADVICE r15): a crashed chain surfaces
      // as soon as it fails instead of after every earlier chain completes;
      // grid order is preserved by the sequenced list, not by await order
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures)(
          scala.collection.BuildFrom.buildFromIterableOps,
          scala.concurrent.ExecutionContext.parasitic),
        scala.concurrent.duration.Duration.Inf)
        .reduce(_ unionByName _)
    } finally pool.shutdownNow()
    perT
      .crossJoin(documents(s, d).agg(count(lit(1)).as("n_docs_total"),
        sum("n_chars").as("chars_total")))
      .select(col("threshold"), col("n_pairs"), col("n_docs_dropped"),
        col("n_docs_total"), col("chars_removed"),
        expr("(chars_total - chars_removed) * 1000000" +
          " div chars_total").as("retained_chars_ppm"))
      .orderBy("threshold")
  }

  /** Cross-source near-dup matrix (q157): exact near-dup PAIR counts per
    * (source, source) cell, sources ordered within the pair — the
    * who-copies-from-whom map at document granularity. q81 answers the
    * corpus-level question (how much shingle vocabulary do two sources
    * share); this answers the curation one (how many actual near-dup doc
    * pairs cross each source boundary — the diagonal is within-source
    * duplication), which is what decides whether a source is additive or
    * a mirror of one you already ingest. Source sizes ride along so
    * consumers can normalize to a density.
    *
    * Scale shape: rides the memoized q108 exact truth (tiny above-floor
    * pair list); the two source lookups are joins from that bounded pair
    * stream into the (doc_id, source) projection, and the rollup is
    * |sources|²-bounded. No corpus text is rescanned. */
  def q157SourceDupMatrix(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    val sizes = src.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val cells = q108NgramJaccard(s, d)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
    cells
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_docs").as("n_docs_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_docs").as("n_docs_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"))
      .orderBy("source_a", "source_b")
  }

  /** 60-bit simhash per doc via the native [[graft.functions.TokenSimHash]]
    * expression — one compiled pass per document (identical bit-majority
    * math over distinct-token md5 hashes), no explode/aggregate at all. */
  private[ops] def simhashes(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), expr("token_simhash(text)").as("sim"))
      .filter(col("sim").isNotNull)

  /** C2b SimHash near-dup: pairs within Hamming distance <= 3, bucketed by
    * 4 x 15-bit chunks. Pigeonhole: a pair differing in <= 3 of 60 bits must
    * share at least one 15-bit chunk, so the chunk join is EXACT recall.
    * Internal — emits the raw (deduplicated) pair list.
    *
    * Candidates come from a self-EQUI-JOIN on (chunk, ckey): a codegen'd
    * shuffled hash join that streams in-bucket pairs, instead of the former
    * `collect_list` + interpreted-lambda expansion (which materialized every
    * chunk bucket as one array row and evaluated the quadratic expansion
    * interpreted — the q24 hot spot at 5.2 s in BENCH_r02, and an OOM shape
    * for dense clusters at scale). Both join sides shuffle on the same
    * (chunk, ckey) key from the same child plan, so AQE stage reuse runs
    * the signature scan ONCE and feeds both sides. The Hamming filter
    * runs BEFORE the pair-dedup so the distinct only sees real near-dups;
    * dense clusters still produce quadratically many joined rows per bucket,
    * but they stream through the join — AQE skew-join splits hot (chunk,
    * ckey) keys, and `maxBucket` drops pathological buckets (a 15-bit-chunk
    * collision bucket of b docs costs b^2/2 comparisons; at b ~ 1e5 that is
    * the signal of a degenerate corpus slice, not near-dups). */
  private[ops] def simhashPairs(s: SparkSession, d: String,
                                maxBucket: Option[Int] = None): DataFrame = {
    val chunks = simhashes(s, d).select(col("doc_id"), col("sim"),
      posexplode(expr(
        "transform(sequence(0,3), c -> (sim div shiftleft(cast(1 as bigint), c*15)) % 32768)"))
        .as(Seq("chunk", "ckey")))
    val bounded = capBuckets(chunks, Seq("chunk", "ckey"), maxBucket)
    val l = bounded.select(col("chunk"), col("ckey"),
      col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val r = bounded.select(col("chunk"), col("ckey"),
      col("doc_id").as("id_b"), col("sim").as("sim_b"))
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      // a pair can share several chunks — keep it only at its SMALLEST
      // shared chunk, decided in-row from sim_a/sim_b (already carried):
      // dedup without a blocking distinct, which would shuffle the entire
      // quadratic pair stream a second time. Three explicit comparisons
      // (not an interpreted lambda) keep it inside WholeStageCodegen.
      .filter(expr(
        """chunk = 0 OR (
          |  (sim_a % 32768) != (sim_b % 32768) AND (
          |    chunk = 1 OR (
          |      ((sim_a div 32768) % 32768) != ((sim_b div 32768) % 32768) AND (
          |        chunk = 2 OR
          |        ((sim_a div 1073741824) % 32768) != ((sim_b div 1073741824) % 32768)))))"""
          .stripMargin))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sim_a ^ sim_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Registered form: per-document near-dup degree + closest distance. The
    * raw pair list grows quadratically inside dense clusters (271k pairs at
    * sf0.1 on this corpus, ~100x that at sf1) — the per-doc aggregate is the
    * output shape that stays linear in the corpus at any scale. */
  def q24DedupSimhash(s: SparkSession, d: String): DataFrame = {
    val pairs = simhashPairs(s, d, Some(DefaultMaxBucket))
    pairs.select(col("id_a").as("doc_id"), col("hamming"))
      .unionAll(pairs.select(col("id_b").as("doc_id"), col("hamming")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_near_dups"), min("hamming").as("min_hamming"))
      .orderBy("doc_id")
  }

  /** Edit-distance dup threshold for [[q51DedupEditDistance]]: a candidate
    * pair VERIFIES as a near-dup when its 60-char prefixes are within this
    * Levenshtein distance (a quarter of the prefix — the "clearly the same
    * opening, lightly edited" band). */
  val EditDupMax = 15

  /** Characters the q51 histogram lower bound tracks. Tracking a SUBSET
    * of the alphabet keeps the bound valid: one edit op changes the
    * tracked-character histogram's L1 by at most 2, so
    * Levenshtein >= ceil(L1/2) regardless of untracked characters. */
  private val EditBandChars = ('a' to 'z').mkString + " "

  /** C2d edit-distance check over the LSH candidate set: Levenshtein on the
    * 60-char prefixes of each candidate pair, keeping pairs within
    * [[EditDupMax]] — the "n-gram Jaccard then edit distance" two-stage
    * near-dup verifier. Never all-pairs: the quadratic edit-distance only
    * runs on LSH survivors.
    *
    * This is the registry's steepest cost curve (linear in candidate-pair
    * volume with an O(len^2) DP per pair — VERDICT r10), so the exact DP
    * is guarded by two result-invisible optimizations: (1) a per-pair
    * character-histogram L1/2 lower bound (histograms computed once per
    * DOC, the pair step is 27 abs-diffs — two orders cheaper than the DP)
    * drops pairs provably beyond the threshold before any DP runs; (2)
    * the DP itself is the BANDED threshold form (`levenshtein(l, r, k)`,
    * O(len·k) instead of O(len^2), -1 when the band is exceeded). Both
    * only discard pairs the exact `edit_dist <= EditDupMax` filter would
    * discard anyway — the oracle mirrors the plain exact filter and
    * nothing else (EditDistBandSpec pins the bound's validity). */
  def q51DedupEditDistance(s: SparkSession, d: String): DataFrame = {
    val charArr = EditBandChars.map(c => s"'$c'")
      .mkString("array(", ",", ")")
    val docs = documents(s, d)
      .select(col("doc_id"), expr("substring(text, 1, 60)").as("prefix"))
      .withColumn("hist", expr(
        s"transform($charArr, c -> length(prefix) - " +
          "length(replace(prefix, c, '')))"))
    val a = docs.select(col("doc_id").as("id_a"), col("prefix").as("pa"),
      col("hist").as("ha"))
    val b = docs.select(col("doc_id").as("id_b"), col("prefix").as("pb"),
      col("hist").as("hb"))
    minhashCandidates(s, d, Some(DefaultMaxBucket))
      .join(a, "id_a").join(b, "id_b")
      // histogram L1 <= 2*threshold  <=>  the L1/2 lower bound can pass
      .filter(expr("aggregate(zip_with(ha, hb, (x, y) -> abs(x - y)), " +
        "0, (acc, v) -> acc + v)") <= lit(2 * EditDupMax))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pa"), col("pb"), EditDupMax).cast("long")
          .as("edit_dist"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= EditDupMax)
      .orderBy("id_a", "id_b")
  }

  /** C2i incremental NEAR-dup — the companion q75 (exact-only) lacks: flag
    * each incoming doc whose shingle overlap with any EXISTING-corpus doc
    * reaches the dup threshold. The production shape is a one-directional
    * banded join (incoming bands probe the corpus's persisted band index;
    * the corpus is never self-paired) — here the pair stream composes the
    * SHARED candidate scaffold ([[candidatesWithShingles]], identical caps
    * and jaccard definition as q23, which is what lets the oracle reuse
    * the one candidate-chain SQL) and keeps only pairs with EXACTLY ONE
    * incoming side; that filter is the same pre-filter the one-directional
    * plan applies before the shuffle instead of after.
    * Output: one row per (incoming, corpus) candidate pair with its exact
    * jaccard and the dup verdict at [[DupJaccard]]. */
  def q128IncrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val srcs = documents(s, d).select(col("doc_id"), col("source"))
    candidatesWithShingles(s, d)
      .join(srcs.select(col("doc_id").as("id_a"), col("source").as("src_a")),
        "id_a")
      .join(srcs.select(col("doc_id").as("id_b"), col("source").as("src_b")),
        "id_b")
      .filter((col("src_a") === IncomingSource) =!=
        (col("src_b") === IncomingSource))
      .select(
        when(col("src_a") === IncomingSource, col("id_a"))
          .otherwise(col("id_b")).as("incoming_id"),
        when(col("src_a") === IncomingSource, col("id_b"))
          .otherwise(col("id_a")).as("corpus_id"),
        pairJaccard.as("jaccard"))
      .withColumn("is_dup", col("jaccard") >= DupJaccard)
      .orderBy("incoming_id", "corpus_id")
  }

  val DupJaccard = 0.7       // textual near-dup on its own
  val WeakJaccard = 0.3      // needs semantic confirmation...
  val ConfirmCosine = 0.4    // ...from the embedding signal

  /** C2e multi-signal dedup — the production decision rule composed from
    * the library's own pieces: LSH generates candidates ONCE, then each
    * pair is scored by BOTH surface overlap (shingle Jaccard) and semantic
    * similarity (embedding cosine, native [[graft.functions.VecCosine]]);
    * a pair is a duplicate when the text signal is decisive
    * ([[DupJaccard]]) or when a weaker text signal ([[WeakJaccard]]) is
    * confirmed semantically ([[ConfirmCosine]]). Candidates stay a tiny
    * fraction of the corpus, so the two embedding lookups are equi-joins
    * AQE turns into broadcasts at typical sizes — the corpus itself is
    * never re-paired. */
  def q60DedupMultiSignal(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val ea = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val eb = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    q23DedupMinhash(s, d)
      .join(ea, "id_a").join(eb, "id_b")
      .withColumn("cos_sim", round(expr("vec_cosine(va, vb)"), 6))
      .select(col("id_a"), col("id_b"), col("jaccard"), col("cos_sim"),
        (col("jaccard") >= DupJaccard ||
          (col("jaccard") >= WeakJaccard && col("cos_sim") >= ConfirmCosine))
          .as("is_dup"))
      .orderBy("id_a", "id_b")
  }

  /** Iteration cap for [[q70DupClusters]]: label propagation converges in
    * O(component diameter) rounds, and near-dup components are
    * low-diameter by construction (an LSH band key pins every member to a
    * shared signature, so components are dense cliques-of-cliques, not
    * paths). A corpus whose dup graph has 25+ hop chains is a degenerate
    * input — fail loudly rather than loop. */
  val MaxCcIterations = 25

  /** C2f duplicate-cluster assignment: connected components over the LSH
    * candidate-pair graph, so transitive near-dups (A~B, B~C) collapse into
    * ONE cluster with ONE keeper — the decision step that turns pairwise
    * dedup signals into the actual keep/drop list.
    *
    * Algorithm: distributed min-label propagation. Each doc starts as its
    * own label; every round each doc takes the min label among itself and
    * its neighbors; fixpoint = every member holds the component's min
    * doc_id. Per round: one equi-join (labels against the static edge
    * list) + one groupBy-min — both shuffle on doc id with map-side
    * partial agg, payload is 16 bytes/row. The edge list is computed ONCE
    * and `localCheckpoint`ed; every label frontier is checkpointed too, so
    * lineage stays O(1) instead of growing per round (the classic
    * iterative-Spark failure). On a real cluster use reliable
    * `checkpoint()` to survive executor loss; for O(log n) worst-case
    * rounds on high-diameter graphs, switch to large-star/small-star —
    * IMPLEMENTED as [[propagateStarContraction]] (spec-pinned label-
    * equivalent; converges on a 300-node chain the round budget here
    * cannot) — not needed for the low-diameter graphs LSH emits (see
    * [[MaxCcIterations]]).
    * Convergence is detected by an `observe` metric riding each round's
    * own checkpoint job (see [[dupLabels]]) — no separate probe pass. */
  def q70DupClusters(s: SparkSession, d: String): DataFrame =
    clustersOf(dupLabels(s, d))

  /** Dup-cluster size histogram (q162): how duplication mass is SHAPED —
    * for every cluster size, how many clusters, how many docs, and the
    * exact-ppm share of the corpus (size 1 = docs outside the pair graph).
    * The same labels q70 reports per-doc, read as a distribution: the
    * answer decides survivor POLICY — a long tail of pairs/triples favors
    * per-cluster keep-best (q94), while a few mega-clusters mean template
    * families where whole-cluster drops or q136's soft weights are safer,
    * and a sudden histogram shift is a crawl-regression alarm no per-doc
    * view shows.
    *
    * Scale shape: rides the memoized propagation labels; two bounded
    * rollups (per-cluster sizes → per-size counts) plus 1-row totals —
    * nothing corpus-sized after the first aggregate. */
  def q162ClusterHistogram(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabels(s, d)
    val multi = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val totals = documents(s, d).agg(count(lit(1)).as("n_docs_total"))
      .crossJoin(labels.agg(count(lit(1)).as("n_in_graph")))
      .localCheckpoint(true) // 1 row, read by the singleton arm AND the ppm
    val singles = totals.select(lit(1L).as("cluster_size"),
      (col("n_docs_total") - col("n_in_graph")).as("n_clusters"))
    multi.unionByName(singles)
      .groupBy("cluster_size").agg(sum("n_clusters").as("n_clusters"))
      .filter(col("n_clusters") > 0)
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(totals.select("n_docs_total")))
      .withColumn("docs_ppm", expr("n_docs * 1000000 div n_docs_total"))
      .select("cluster_size", "n_clusters", "n_docs", "docs_ppm")
      .orderBy("cluster_size")
  }

  /** Dup-cluster edge density (q170): per cluster SIZE, how CLIQUEY the
    * clusters of that size are — observed candidate-pair edges vs the
    * size·(size−1)/2 possible, in exact ppm. Connected components only
    * certify REACHABILITY: a 10-doc cluster can be a clique (a true
    * template family — every member pairwise similar) or a chain (nine
    * borderline edges daisy-chaining unrelated docs through bridge
    * documents — a threshold artifact). The histogram (q162) shows the
    * size distribution; this shows which of those two regimes produced
    * it, which decides whether whole-cluster drops are safe (cliques) or
    * reckless (chains) — the graph-shape audit behind q94's survivor
    * policy. density_ppm near 1e6 = cliques; near the spanning-tree floor
    * 2/size = chains.
    *
    * Exactness: pairs are the distinct standard-cap LSH candidates (the
    * exact edge set the propagation consumed); possible-pair counts use
    * size·(size−1) div 2 (always even, so div is exact) and density is an
    * integer ppm of summed edges over summed possible — no division
    * convention can diverge. The size² pair count and the edges·1e6 ppm
    * numerator run in decimal(38)/HUGEINT (the q205 lift: size² crosses
    * int64 at ~4.3e9-doc clusters), cast back to BIGINT on output.
    *
    * Scale shape: both inputs are memoized ([[dupLabels]],
    * [[minhashCandidates]]); new work is one join of the two-id pair list
    * against the label map (shuffle on doc id, 24 B rows) and two
    * bounded rollups (per-cluster, then per-size) — nothing corpus-sized
    * beyond the pair list itself, which the bucket caps already bound. */
  def q170ClusterDensity(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabels(s, d)
    val pairs = minhashCandidates(s, d, Some(DefaultMaxBucket))
    // both endpoints share a component by construction — one join suffices
    val edges = pairs
      .join(labels.select(col("id").as("id_a"), col("label")), "id_a")
      .groupBy("label").agg(count(lit(1)).as("n_edges"))
    labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      .join(edges, "label") // every cluster has >= 1 edge by construction
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"), sum("n_edges").as("n_edges"))
      // the halving stays in DECIMAL `/` (exact: size·(size−1) is even) —
      // `div` always returns BIGINT, which would re-truncate the pair
      // count at the very 4.3e9 threshold the lift exists for
      .withColumn("n_possible_d",
        expr("cast(n_clusters as decimal(38, 0)) * " +
          "(cast(cluster_size as decimal(38, 0)) * (cluster_size - 1) / 2)"))
      .withColumn("n_possible", expr("cast(n_possible_d as bigint)"))
      .withColumn("density_ppm",
        expr("cast((cast(n_edges as decimal(38, 0)) * 1000000) " +
          "div n_possible_d as bigint)"))
      .select("cluster_size", "n_clusters", "n_edges", "n_possible",
        "density_ppm")
      .orderBy("cluster_size")
  }

  /** Crafted exact-dup groups appended by [[q173DupMetaConflicts]]: the
    * synthetic corpus has NO exact-dup groups at all (measured at sf0.01),
    * so without a fixture the audit would oracle 0 == 0 — the q151
    * pattern. Three groups: a lang conflict (same normalized content,
    * `en` vs `de` — the second copy differs only in case/whitespace, so
    * the group also exercises the normalization rule), a source conflict
    * (syndicated verbatim across `web`/`crawl`), and a clean dup group
    * (the absence side INSIDE a flagged-as-dup group). Ids far above any
    * corpus doc_id. */
  private[ops] val MetaConflictFixture: Seq[(Long, String, String, String)] =
    Seq(
      (9100001L, "shared payload alpha replicated for the metadata audit",
        "en", "web"),
      (9100002L, "  SHARED payload   alpha replicated for the metadata audit ",
        "de", "web"),
      (9100003L, "shared payload beta replicated for the metadata audit",
        "en", "web"),
      (9100004L, "shared payload beta replicated for the metadata audit",
        "en", "crawl"),
      (9100005L, "shared payload gamma replicated for the metadata audit",
        "en", "web"),
      (9100006L, "shared payload gamma replicated for the metadata audit",
        "en", "web"))

  /** Dup-group metadata-conflict audit (q173): for every EXACT-dup group
    * (same [[graft.functions.NormMd5 norm_md5]] fingerprint, > 1 doc),
    * do the copies agree on their metadata? Same content tagged `en` AND
    * `de` means the langid signal is noise for that content (and a
    * language-stratified sample double-counts it); same content across
    * two sources is syndication, which the keep-min-id rule then silently
    * attributes to whichever source holds the lower id — q115's per-source
    * funnel reads cleanly only when this audit is quiet. The content-level
    * integrity check beside q161's key-level referential audit.
    *
    * Scale shape: ONE fingerprint exchange (map-side partial agg on fp),
    * distinct-counting two tiny-domain columns per group in the same
    * aggregate; output is bounded by the dup-group count. Registered over
    * the corpus UNION [[MetaConflictFixture]] (the q151 discipline: the
    * fixture guarantees the presence side, the corpus proves absence). */
  def q173DupMetaConflicts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val aug = documents(s, d).select(col("doc_id"), col("text"),
        col("lang"), col("source"))
      .unionAll(MetaConflictFixture.toDF("doc_id", "text", "lang", "source"))
    aug.select(col("doc_id"), expr("norm_md5(text)").as("fp"),
        col("lang"), col("source"))
      .groupBy("fp")
      .agg(min("doc_id").as("anchor_id"), count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"))
      .filter(col("n_docs") > 1)
      .select(col("anchor_id"), col("n_docs"), col("n_langs"),
        col("n_sources"), (col("n_langs") > 1).as("lang_conflict"),
        (col("n_sources") > 1).as("source_conflict"))
      .orderBy("anchor_id")
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the HIGH-DIAMETER path [[propagateMinLabels]]'s scaladoc
    * promises: min-label propagation needs diameter-many rounds (a
    * 300-node chain blows the [[MaxCcIterations]] budget), star
    * contraction REWRITES the edge set each round and converges in
    * O(log² n) worst-case rounds (O(log n) in practice) on any graph,
    * under its own [[MaxStarIterations]] budget. Same contract as the
    * propagation core:
    * any (id_a, id_b) pair frame in, converged (id, label=component min)
    * out, bit-identical labels (spec-pinned equivalent on the corpus
    * graph and on randoms vs a union-find replay).
    *
    * Per round — all bounded, shuffle-on-id shapes: large-star connects
    * every larger neighbor to each node's min (one groupBy-min + one
    * equi-join on the adjacency), small-star the smaller neighbors
    * likewise; edges stay canonical (a < b), deduped, and checkpointed so
    * lineage is O(1). Convergence = empty symmetric difference between
    * rounds, one aggregate job over the (shrinking) edge list. LSH dup
    * graphs are low-diameter so the serving path keeps the cheaper
    * label-propagation loop; this is the drop-in replacement when a
    * pathological graph (crawl chains, containment ladders) shows up. */
  /** Star-contraction round budget — SEPARATE from [[MaxCcIterations]]:
    * alternating large/small-star is proven O(log² n) worst case (O(log n)
    * in practice), so the fallback gets the headroom the diameter-bound
    * propagation loop deliberately lacks; 64 alternations cover any
    * realistic id space (log²(2^63) pathologies are not star graphs). */
  val MaxStarIterations = 64

  private[ops] def propagateStarContraction(s: SparkSession,
                                            pairs: DataFrame): DataFrame = {
    def canonical(df: DataFrame): DataFrame = df
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    var canon = canonical(pairs.select(col("id_a").as("u"),
      col("id_b").as("v"))).localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < MaxStarIterations) {
      val adj = canon.select(col("a").as("u"), col("b").as("v"))
        .unionAll(canon.select(col("b").as("u"), col("a").as("v")))
      // large-star: every neighbor v > u links to m(u) = min(Γ(u) ∪ {u})
      val mAll = adj.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = canonical(adj.join(mAll, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
        .localCheckpoint(true)
      // small-star: u and its smaller neighbors all link to their min
      val adj2 = ls.select(col("a").as("u"), col("b").as("v"))
        .unionAll(ls.select(col("b").as("u"), col("a").as("v")))
      val smAdj = adj2.filter(col("v") < col("u"))
      val mS = smAdj.groupBy("u").agg(min("v").as("m"))
      val ss = canonical(
        mS.select(col("u"), col("m").as("v"))
          .unionAll(smAdj.join(mS, "u")
            .filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v"))))
        .localCheckpoint(true)
      // converged when the round was a no-op (empty symmetric difference)
      converged = ss.unionAll(canon).groupBy("a", "b")
        .agg(count(lit(1)).as("n")).filter(col("n") === 1)
        .limit(1).isEmpty
      canon = ss
      iter += 1
    }
    require(converged,
      s"star contraction did not converge in $MaxStarIterations rounds")
    // stars: centers are component minima; every member points at its center
    val members = canon.select(col("b").as("id"), col("a").as("label"))
    val centers = canon.select(col("a").as("id")).distinct()
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .withColumn("label", col("id"))
    members.unionAll(centers)
  }

  /** q70's report shape over ANY (id, label) assignment — the consumer face
    * for a [[clustersTable]] materialization or a memoized [[dupLabels]]. */
  def clustersOf(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("id") === col("label")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Materialize the converged dup-cluster assignment ONCE as a lake table
    * and return the read-back — the production fan-out shape: label
    * propagation is the expensive step (a join+agg per round), and four
    * consumers re-deriving it (clusters report, leakage-safe split, balance
    * monitor, survivor selection) would quadruple it. Write it, then feed
    * [[clustersOf]]/[[splitSummaryOf]]/[[splitBalanceOf]]/[[survivorsOf]]
    * from the returned table (or any later session's
    * `catalog.load(ns, table)`). Overwrite semantics: re-materializing after
    * a corpus refresh replaces the assignment atomically. */
  def clustersTable(s: SparkSession, d: String,
                    catalog: graft.lake.LakeCatalog, namespace: String,
                    table: String = "dup_clusters"): DataFrame = {
    val labels = dupLabels(s, d)
    catalog.ensureTable(namespace, table, labels.schema, Nil)
    catalog.overwrite(namespace, table, labels)
    catalog.load(namespace, table)
  }

  /** C2g dedup-funnel report — the per-source accounting every curation
    * run publishes: how many docs (and chars, the token-budget proxy)
    * survive each stage raw -> exact dedup -> near-dup clustering. Stage
    * rules are the library's own, not re-derived: exact keepers follow
    * q22 (min doc_id per [[graft.functions.NormMd5 norm_md5]]
    * fingerprint), near-dup keepers follow q70 (component-min-label from
    * the memoized [[dupLabels]] propagation — docs outside every LSH
    * candidate pair are their own keeper). A doc counts in stage 3 only
    * if it survives BOTH stages, so the funnel is monotone by
    * construction.
    *
    * Shape: ONE corpus scan computes the fingerprint; exact keepers are a
    * min-over-window riding the same fp exchange the groupBy would need
    * (the [[capBuckets]] rationale — no second corpus pass); the label
    * join is an equi-join on doc_id against the (dup-docs-only, far
    * smaller than corpus) assignment; the report is one tiny per-source
    * aggregate. */
  def q115DedupFunnel(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val flagged = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("norm_md5(text)").as("fp"))
      .withColumn("exact_keep", col("doc_id") === min("doc_id").over(w))
      .join(dupLabels(s, d).select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .withColumn("cc_keep",
        col("doc_id") === coalesce(col("label"), col("doc_id")))
    flagged.groupBy("source")
      .agg(count(lit(1)).as("n_raw"),
        sum("n_chars").as("chars_raw"),
        sum(when(col("exact_keep"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("exact_keep"), col("n_chars")).otherwise(0L))
          .as("chars_exact"),
        sum(when(col("exact_keep") && col("cc_keep"), 1L).otherwise(0L))
          .as("n_final"),
        sum(when(col("exact_keep") && col("cc_keep"), col("n_chars"))
          .otherwise(0L)).as("chars_final"))
      .withColumn("pct_kept",
        round(lit(100.0) * col("n_final") / col("n_raw"), 2))
      .orderBy("source")
  }

  /** C2j dedup decision ledger — the per-doc ACTION LIST a pipeline
    * executes, where q115 reports the summary: each doc is 'drop_exact' (a
    * lower doc_id shares its normalized fingerprint — q22's rule), else
    * 'drop_near' (it is not its dup-cluster's keeper — q70's rule), else
    * 'keep'; keeper_id names the doc it defers to (itself when kept).
    * Composition of the SAME two stage rules as the funnel, materialized
    * at doc grain — write this table next to the corpus and the drop set
    * is one semi-join away for every downstream consumer.
    *
    * keeper_id is ONE dedup-stage hop: a 'drop_near' row's keeper is its
    * cluster's component-min label, and that doc can itself be
    * 'drop_exact' when the LSH bucket cap kept an exact-dup pair out of
    * the candidate graph (the cap is a semantic choice, q96's rationale).
    * final_keeper_id is that chain RESOLVED to fixpoint (keeper_id ->
    * that row's keeper_id, iterated; every hop strictly decreases
    * doc_id — both stage rules defer to a minimum — so it terminates at a
    * 'keep' row): the surviving doc a consumer can substitute directly.
    * keeper_id stays in the output as the stage-attributable hop; the
    * keep/drop ACTIONS are chain-free and final.
    *
    * Same shape as q115: fingerprint min rides one fp-keyed window
    * exchange, the memoized label assignment joins in, output is one row
    * per doc. */
  def q129DedupLedger(s: SparkSession, d: String): DataFrame =
    // memoized: three registered consumers read the resolved ledger
    // (q129 itself, q164's quality join, q130's keep-set semi-join), and
    // the keeper-chain fixpoint below runs an eager checkpointed join +
    // observation per hop — work that must not repeat per consumer
    SessionCache.getOrElseUpdate(s, d, "ledger")(
      computeDedupLedger(s, d).localCheckpoint(true))

  private def computeDedupLedger(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val ledger = documents(s, d)
      .select(col("doc_id"), expr("norm_md5(text)").as("fp"))
      .withColumn("exact_keep_id", min("doc_id").over(w))
      .join(dupLabels(s, d).select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .withColumn("cluster_keeper", coalesce(col("label"), col("doc_id")))
      .select(col("doc_id"),
        when(col("doc_id") =!= col("exact_keep_id"), lit("drop_exact"))
          .when(col("doc_id") =!= col("cluster_keeper"), lit("drop_near"))
          .otherwise(lit("keep")).as("action"),
        when(col("doc_id") =!= col("exact_keep_id"), col("exact_keep_id"))
          .otherwise(col("cluster_keeper")).as("keeper_id"))
      .localCheckpoint(true) // both the chain walk and its lookup side read it
    // resolve keeper CHAINS to their surviving doc: iterate "follow a
    // non-keep keeper one hop" to fixpoint, with the propagateMinLabels
    // convergence discipline (observe metric on the same job, checkpointed
    // frontiers). Every hop strictly decreases doc_id — both stage rules
    // defer to a minimum — so the loop terminates; depth is the longest
    // exact-under-near chain, in practice 1-2 hops.
    val lookup = ledger.select(col("doc_id").as("k_id"),
      col("action").as("k_action"), col("keeper_id").as("k_keeper"))
    var resolved = ledger.withColumn("final_keeper_id", col("keeper_id"))
    var converged = false
    var iter = 0
    while (!converged && iter < MaxCcIterations) {
      val obs = org.apache.spark.sql.Observation()
      val next = resolved
        .join(lookup, resolved("final_keeper_id") === lookup("k_id"), "left")
        .select(col("doc_id"), col("action"), col("keeper_id"),
          when(col("k_action") === "keep" || col("k_id").isNull,
            col("final_keeper_id")).otherwise(col("k_keeper"))
            .as("final_keeper_id"),
          (col("k_action") =!= "keep").as("chg"))
        .observe(obs, sum(col("chg").cast("long")).as("n_hopped"))
        .select("doc_id", "action", "keeper_id", "final_keeper_id")
        .localCheckpoint(true)
      converged = obs.get.get("n_hopped").forall(v => v == null || v == 0L)
      resolved = next
      iter += 1
    }
    require(converged,
      s"keeper-chain resolution did not converge in $MaxCcIterations hops")
    resolved.orderBy("doc_id")
  }

  /** q80's summary over a precomputed labels assignment. */
  def splitSummaryOf(s: SparkSession, d: String, labels: DataFrame): DataFrame =
    splitSummary(splitAssignedWith(s, d, labels))

  /** q107's balance monitor over a precomputed labels assignment. */
  def splitBalanceOf(s: SparkSession, d: String, labels: DataFrame): DataFrame =
    splitBalance(splitAssignedWith(s, d, labels))

  /** q94's survivor selection over a precomputed labels assignment. */
  def survivorsOf(s: SparkSession, d: String, labels: DataFrame): DataFrame =
    survivors(s, d, labels)

  /** Converged (doc -> component-min-label) assignment for every doc that
    * appears in at least one LSH candidate pair — the label-propagation
    * core shared by [[q70DupClusters]] and [[q80LeakageSafeSplit]].
    *
    * Each round is ONE job: neighbors' labels are aggregated per node and
    * outer-joined back onto the frontier, and the number of lowered labels
    * is counted by an `observe` metric riding that same job (the
    * BatchLoader reject-count pattern) — no separate convergence probe, no
    * second pass over the frontier. */
  private[ops] def dupLabels(s: SparkSession, d: String): DataFrame =
    // one converged assignment per corpus slot: the propagation result is
    // a localCheckpoint'ed fixpoint, so its DataFrame is safely
    // re-consumable by every session of the context — q70/q80/q94/q107
    // share ONE propagation instead of four (the in-context analog of
    // [[clustersTable]]'s cross-session materialization)
    SessionCache.getOrElseUpdate(s, d, "dup_labels")(computeDupLabels(s, d))

  /** The corpus-refresh hook for an in-place rewrite under live
    * sessions: drops every [[SessionCache]] family of every slot —
    * cluster assignments, candidate pairs, n-gram truth, calibration
    * bases, ANN fits and anchors, retrieval ranks, table schemas — and
    * unpersists the checkpoints they held. */
  def invalidateClusterCache(): Unit = SessionCache.invalidate()

  /** Test hook: how many label propagations have actually run. */
  private[ops] val propagationRuns = new java.util.concurrent.atomic.AtomicLong

  private def computeDupLabels(s: SparkSession, d: String): DataFrame =
    propagateMinLabels(s, minhashCandidates(s, d, Some(DefaultMaxBucket)))

  /** Distributed min-label propagation over ANY (id_a, id_b) pair frame —
    * the connected-components core extracted from the text dup-cluster
    * path so other pair sources (q151's pHash near-dup pairs) reuse ONE
    * convergence loop, checkpoint discipline and observe-metric probe. */
  private[ops] def propagateMinLabels(s: SparkSession, pairs: DataFrame): DataFrame = {
    propagationRuns.incrementAndGet()
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < MaxCcIterations) {
      val proposed = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst")).agg(min("label").as("nl"))
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(proposed, col("id") === col("dst"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          (col("nl") < col("label")).as("chg"))
        .observe(obs, sum(col("chg").cast("long")).as("n_changed"))
        .select("id", "label")
        .localCheckpoint(true) // eager: runs the job, populating `obs`
      // sum(all-false) = 0; a null only if every chg was null (no proposals)
      converged = obs.get.get("n_changed").forall(v => v == null || v == 0L)
      // memory note: rebinding `labels` drops the only reference to the
      // superseded frontier's checkpointed RDD — ContextCleaner reclaims
      // its blocks on GC (Dataset.unpersist would be a no-op here: these
      // are RDD-level localCheckpoint blocks, not CacheManager entries).
      // Production runs with reliable checkpoint() get deterministic
      // cleanup by deleting the checkpoint dir of superseded rounds.
      labels = next
      iter += 1
    }
    require(converged,
      s"dup-cluster label propagation did not converge in $MaxCcIterations " +
        "rounds — degenerate high-diameter dup graph; use large-star/small-star")
    labels
  }

  /** C2h leakage-safe train/valid/test split: the split hash is computed on
    * the DUP-CLUSTER id (component min label; a doc outside any candidate
    * pair is its own cluster), so a document and all its near-duplicates
    * land in the SAME split — hashing raw doc_ids leaks train content into
    * eval whenever a near-dup pair straddles the cut, which near-dup-heavy
    * web corpora make a certainty. Same 80/10/10 md5 routing as the plain
    * q56 split; one broadcast-sized join against the (tiny) label table
    * assigns clusters to the full corpus scan. The no-straddle invariant
    * (every cluster in exactly one split) is pinned by spec. */
  /** Every document with its dup-cluster id and its leak-free split —
    * ONE definition of the cluster-aware split assignment, shared by q80
    * (split sizes) and q107 (balance monitor) so the monitor can never
    * measure a different split than q80 produces. */
  private[ops] def splitAssigned(s: SparkSession, d: String): DataFrame =
    splitAssignedWith(s, d, dupLabels(s, d))

  private[ops] def splitAssignedWith(s: SparkSession, d: String,
                                     labels: DataFrame): DataFrame =
    documents(s, d).select(col("doc_id"), col("lang"))
      .join(labels.withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
      .withColumn("split",
        TextOps.splitName(TextOps.splitBucket("cluster_id")))

  def q80LeakageSafeSplit(s: SparkSession, d: String): DataFrame =
    splitSummary(splitAssigned(s, d))

  /** Filter-overlap audit (q208): the (dedup ledger action × quality gate
    * outcome) matrix — docs, exact char mass, and corpus share ppm per
    * cell, grid-complete over all 6 cells. The filter-REDUNDANCY planning
    * view: (drop_*, false) cells are double-kills either filter catches
    * alone, (keep, false) is the gate's unique contribution, (drop_*,
    * true) is dedup's — the numbers that decide pipeline ORDER at 100 TB
    * (when overlap is high, run the cheap gate first and dedup only its
    * survivors; when the off-diagonal mass dominates, both passes earn
    * their cost) and that q164 (quality OF drops) and q115 (volume per
    * source) don't expose. Composes the two memoized/shared rule
    * surfaces: the resolved ledger and [[TextOps.gateDecisionsOf]]'s pass
    * rule — one doc_id join, a 6-row rollup. */
  def q208FilterOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = documents(s, d).count() // parquet-metadata job
    val cells = q129DedupLedger(s, d).select("doc_id", "action")
      .join(TextOps.gateDecisions(s, d)
        .select("doc_id", "gate_pass", "n_chars"), "doc_id")
      .groupBy("action", "gate_pass")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
    val grid = Seq("drop_exact", "drop_near", "keep")
      .flatMap(a => Seq((a, false), (a, true)))
      .toDF("action", "gate_pass")
    grid.join(cells, Seq("action", "gate_pass"), "left")
      .na.fill(0L, Seq("n_docs", "n_chars"))
      .select(col("action"), col("gate_pass"), col("n_docs"), col("n_chars"),
        expr(s"n_docs * 1000000 div $n").as("corpus_ppm"))
      .orderBy("action", "gate_pass")
  }

  /** Near-dup arrival-gap histogram (q207): the q108 exact truth pairs
    * banded by the BIT LENGTH of their doc_id gap (`id_b − id_a`; doc_id
    * is the arrival proxy throughout the trend family) — pairs, min/max
    * gap and exact-ppm share per power-of-two band. The duplication
    * TIME-STRUCTURE diagnostic the volume views lack: a histogram massed
    * in the low bands says duplication is BURSTY (same-crawl copies —
    * fixed by in-batch dedup alone, cheap), mass in the high bands says
    * LONG-RANGE re-syndication (only a persistent signature index catches
    * it — the q133/`indexDedupSink` machinery earns its storage), and a
    * band suddenly filling is a re-crawl loop. Banding by binary string
    * length — the q191 convention, no float log on either engine.
    *
    * Scale shape: rides the MEMOIZED q108 truth (tiny above-threshold
    * pair list, already checkpointed); one projection, one ≤64-row
    * rollup; the total for the ppm share is a count on the checkpointed
    * frame (bounded control plane). */
  def q207DupArrivalGaps(s: SparkSession, d: String): DataFrame = {
    val gaps = q108NgramJaccard(s, d)
      .select((col("id_b") - col("id_a")).as("gap"))
    val n = gaps.count()
    gaps.withColumn("band", length(expr("bin(gap)")).cast("long"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        min("gap").as("min_gap"), max("gap").as("max_gap"))
      .select(col("band"), col("n_pairs"), col("min_gap"), col("max_gap"),
        expr(s"n_pairs * 1000000 div $n").as("share_ppm"))
      .orderBy("band")
  }

  /** Within-source duplication concentration (q205): per source — docs,
    * distinct dup clusters, the largest cluster's exact-ppm share of the
    * source, and the inverse-Simpson EFFECTIVE cluster count ×1000
    * ((Σn)²·1000 div Σn² over its per-cluster doc counts, the q112
    * effective-language construction turned on dup structure). The
    * template-monoculture detector: q115 counts what dedup DROPS per
    * source and q168 trends it, but two sources with the same drop rate
    * differ materially when one spreads its dups over thousands of small
    * clusters and the other is one template family wearing a thousand
    * doc_ids — concentration, not volume, decides whether a source still
    * contributes diversity after dedup (the q192 HHI question asked of
    * dup clusters). Exact integers end to end; Σn² accumulates in
    * decimal(38)/HUGEINT and both ppm numerators ((Σn)²·1000 and
    * max_c·1e6, which cross int64 at billions of docs per source) run the
    * q179/q192 decimal-lift convention, cast back to BIGINT on output.
    *
    * Scale shape: the memoized dup labels join the corpus's (doc_id,
    * source) projection once; one (source, cluster) partial-agg exchange;
    * the share/effective math runs on the |sources|-bounded rollup, and
    * the largest-cluster share is a max over the same marginal. */
  def q205SourceDiversity(s: SparkSession, d: String): DataFrame = {
    val assigned = documents(s, d).select(col("doc_id"), col("source"))
      .join(dupLabels(s, d).withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
    assigned.groupBy("source", "cluster_id")
      .agg(count(lit(1)).as("nc"))
      .groupBy("source")
      .agg(sum("nc").as("n_docs"),
        count(lit(1)).as("n_clusters"),
        max("nc").as("max_c"),
        sum(expr("cast(nc as decimal(38, 0)) * nc")).as("sumsq"))
      .select(col("source"), col("n_docs"), col("n_clusters"),
        expr("cast((cast(max_c as decimal(38, 0)) * 1000000) div n_docs " +
          "as bigint)").as("top_cluster_ppm"),
        expr("cast((cast(n_docs as decimal(38, 0)) * n_docs * 1000) " +
          "div sumsq as bigint)").as("eff_clusters_x1000"))
      .orderBy("source")
  }

  /** Per-split token-distribution divergence (q202): for each train/valid/
    * test split — its token count and the KL divergence of its token
    * distribution from the corpus's. q107 checks split parity at the
    * (split, lang) DOC-count grain; this is the token-level
    * representativeness check it cannot make: a split can hold perfectly
    * proportional doc counts per language while cluster-aware assignment
    * concentrates a template family (one giant dup cluster lands wholly in
    * one split BY DESIGN) and skews the vocabulary the held-out loss is
    * measured on. Same exactness tier as q78 (its source-axis sibling):
    * double KL terms summed by an ordered fold, rounded at 6 dp, identical
    * expression text on both engines.
    *
    * Scale shape: ONE tokenize scan joined to the split assignment (the
    * memoized dup labels feed it), a (split, tok) partial-agg exchange
    * (checkpointed — it feeds the per-split totals, the vocabulary
    * marginal AND the contribution join), then a vocabulary-keyed join
    * that AQE broadcasts at test scale and shuffles at a web-scale
    * vocabulary; the output is 3 rows. */
  def q202SplitTokenKl(s: SparkSession, d: String): DataFrame = {
    val splits = splitAssigned(s, d).select("doc_id", "split")
    val bySplit = documents(s, d).join(splits, "doc_id")
      .select(col("split"),
        explode(org.apache.spark.sql.functions.split(col("text"), " "))
          .as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("split", "tok").agg(count(lit(1)).as("n_st"))
      .localCheckpoint(true)
    val splitTotals = bySplit.groupBy("split").agg(sum("n_st").as("n_s"))
    val tokTotals = bySplit.groupBy("tok").agg(sum("n_st").as("n_t"))
    val total = tokTotals.agg(sum("n_t").as("n"))
    bySplit
      .join(broadcast(splitTotals), "split")
      .join(tokTotals, "tok")
      .crossJoin(broadcast(total))
      .withColumn("contrib",
        expr("(cast(n_st as double) / n_s) * " +
          "ln((cast(n_st as double) / n_s) / (cast(n_t as double) / n))"))
      .groupBy("split")
      .agg(max("n_s").as("n_tokens"),
        round(TextOps.orderedSum("contrib"), 6).as("kl"))
      .orderBy("split")
  }

  /** C2h empirical split-leakage audit — the trust-but-verify companion to
    * q80: measure the ACTUAL cross-split surface overlap (distinct-shingle
    * Jaccard between every split pair). Cluster-aware splitting guarantees
    * no NEAR-DUP pair straddles a split; it does not (and cannot) zero out
    * ordinary shared English shingles, so this report is the honest
    * residual-leakage number a data card publishes — and the alarm that
    * fires when a split rule regression (or a hash change) silently puts
    * dup families on both sides of the fence: jaccard jumps.
    *
    * Scale shape: one shingle pass joined to the split assignment, deduped
    * to (split, shingle) — after which every shingle appears AT MOST ONCE
    * PER SPLIT, so the self-equi-join's fan-out is bounded by splits²
    * per shingle regardless of how hot a boilerplate shingle is (the q81
    * source-overlap argument, with an even tighter bound). */
  def q120SplitLeakage(s: SparkSession, d: String): DataFrame = {
    val tagged = shingled(s, d)
      .join(splitAssigned(s, d).select("doc_id", "split"), "doc_id")
      .select(col("split"), explode(col("sh")).as("sg"))
      .distinct()
      .localCheckpoint(true) // feeds sizes AND both self-join sides
    val sizes = tagged.groupBy("split").agg(count(lit(1)).as("n"))
    val shared = tagged.as("a").join(tagged.as("b"), "sg")
      .filter(col("a.split") < col("b.split"))
      .groupBy(col("a.split").as("split_a"), col("b.split").as("split_b"))
      .agg(count(lit(1)).as("n_shared"))
    // the pair GRID comes from the split list, not from the overlap join:
    // a pair sharing nothing must still report jaccard = 0.0 (a missing
    // row would be indistinguishable from a misconfigured split)
    sizes.select(col("split").as("split_a"), col("n").as("na"))
      .crossJoin(sizes.select(col("split").as("split_b"), col("n").as("nb")))
      .filter(col("split_a") < col("split_b"))
      .join(shared, Seq("split_a", "split_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(col("split_a"), col("split_b"), col("n_shared"),
        round(col("n_shared") /
          (col("na") + col("nb") - col("n_shared")), 6).as("jaccard"))
      .orderBy("split_a", "split_b")
  }

  private def splitSummary(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster_id").as("n_clusters"))
      .orderBy("split")

  /** C2 split-balance monitor — q80's companion check: per (split, lang),
    * how far the split's language share drifts from the corpus share, in
    * exact ppm integers. Cluster-aware splitting trades balance for
    * leak-freedom (whole dup-clusters land on one side), so a pipeline
    * watches this number to catch a split whose distribution has walked
    * away from the corpus (a giant cluster, a skewed hash) before models
    * train on it.
    *
    * Scale shape: the split assignment is the SHARED [[splitAssigned]]
    * pipeline (exactly what q80 runs); the corpus is scanned ONCE — the
    * per-split totals, corpus lang counts, and grand total all derive
    * from the dozens-of-rows (split, lang) aggregate (the left join in
    * [[splitAssigned]] preserves every doc exactly once, so summing
    * `sl` over splits IS the corpus lang count) and broadcast into the
    * final projection; integer ppm math keeps both engines
    * bit-identical. */
  def q107SplitBalance(s: SparkSession, d: String): DataFrame =
    splitBalance(splitAssigned(s, d))

  private def splitBalance(assigned: DataFrame): DataFrame = {
    val sl = assigned
      .groupBy("split", "lang").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // dozens of rows; three consumers below
    val st = sl.groupBy("split").agg(sum("n").as("n_split"))
    val cl = sl.groupBy("lang").agg(sum("n").as("n_lang"))
    val tot = sl.agg(sum("n").as("n_total"))
    sl.join(broadcast(st), "split")
      .join(broadcast(cl), "lang")
      .crossJoin(broadcast(tot))
      .select(col("split"), col("lang"), col("n").as("n_docs"),
        expr("n * 1000000 div n_split").as("share_ppm"),
        expr("n_lang * 1000000 div n_total").as("corpus_ppm"),
        expr("n * 1000000 div n_split - n_lang * 1000000 div n_total")
          .as("delta_ppm"))
      .orderBy("split", "lang")
  }

  /** The "incoming batch" slice for [[q75IncrementalDedup]] — one of the
    * corpus's twenty sources plays the freshly-crawled shard. */
  val IncomingSource = "src0"

  /** C2g incremental dedup — the production shape: a new batch is deduped
    * intra-batch (keep min doc_id per fingerprint), then anti-joined
    * against the EXISTING corpus's fingerprints. The corpus is never
    * re-deduped and never re-paired; the only shuffle is on the 16-byte
    * md5 fingerprint, and the incoming side is a tiny fraction of the
    * corpus so AQE broadcasts it. At 100 TB the corpus fingerprints are a
    * precomputed ~32 B/doc table (this pipeline's own q22 output); keep it
    * bucketed by fingerprint and the anti-join needs no corpus shuffle at
    * all — each incremental load touches only matching buckets. */
  def q75IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val fp = documents(s, d).select(col("doc_id"), col("source"),
      expr("norm_md5(text)").as("fp"))
    val corpusFps = fp.filter(col("source") =!= IncomingSource).select("fp")
    fp.filter(col("source") === IncomingSource)
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .join(corpusFps, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** C2j survivor selection — the final dedup DECISION: inside every
    * near-dup cluster (q70's connected components), keep the single
    * highest-quality member and drop the rest. Ranking is by
    * type-token-ratio (q30's quality signal), tie-broken by doc_id, so the
    * keep/drop list is deterministic and quality-aware — min-doc_id
    * keepers (q70's `is_keeper`) systematically prefer whichever dup was
    * crawled first, which at web scale means preferring the mirror over
    * the origin half the time.
    *
    * Shape: the label table is tiny relative to the corpus (only docs in
    * at least one candidate pair), so the ttr join broadcasts; the
    * keeper-per-cluster argmax is ONE hash aggregate (`max_by` over a
    * (ttr, -doc_id) ordering struct — map-side partial, no window sort,
    * no per-cluster row buffering). Output is one row per multi-doc
    * cluster: bounded by the duplicate count, not the corpus. */
  def q94DedupSurvivors(s: SparkSession, d: String): DataFrame =
    survivors(s, d, dupLabels(s, d))

  private def survivors(s: SparkSession, d: String,
                        labels: DataFrame): DataFrame = {
    val ttr = documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), TextOps.ttrFromTokens(col("t")).as("ttr"))
    labels
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .join(ttr, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        max_by(struct(col("doc_id"), col("ttr")),
          struct(col("ttr"), col("doc_id") * -1)).as("k"))
      .filter(col("cluster_size") >= 2)
      .select(col("cluster_id"), col("cluster_size"),
        col("k.doc_id").as("keeper_id"), col("k.ttr").as("keeper_ttr"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Pairs need at least this many shared content-defined anchors to be
    * reported. Calibrated on the measured distribution (sf0.01): pairs
    * sharing common 12-char English phrases ("coincidence floor") cluster
    * at 2-5 shared anchors and fall off fast; genuinely copied runs sit at
    * 12+ with a clear gap — 8 splits the modes, reporting the ExactSubstr
    * signal and not phrase-level noise. Production corpora re-run the same
    * one-aggregation histogram to re-site the threshold. */
  val MinSharedAnchors = 8

  /** Stop-anchor cap: an anchor present in more than this many documents is
    * corpus-level boilerplate (license footers, navigation chrome), not a
    * pairwise-copy signal — the document-frequency cutoff n-gram dedup
    * pipelines apply to frequent n-grams. Dropping those buckets is a
    * semantic choice (mirrored in the oracle) and the scale lever: at
    * sf0.1 it removes the 95 boilerplate buckets carrying 85% of the pair
    * volume (3.96M -> 0.55M joined rows) while leaving every true
    * copied-run pair intact, and it bounds any one anchor's fan-out at
    * 64^2/2 pairs at ANY corpus size.
    *
    * Re-calibrated at 10x sf0.1 (50k docs, [[CapStress]], every doc with
    * 10 near-dup copies): boilerplate anchor buckets grow to 5,650 and the
    * cap now drops 99.6% of raw pair volume (414M -> 1.5M) — the separation
    * the threshold exploits WIDENS with corpus size, because boilerplate
    * buckets scale with the corpus while true copy families stay small
    * (the 10-doc copy families sit far under 64 and survive intact; q98
    * still reports every planted copied-run pair in ~5 s). The threshold
    * needs re-siting only if a corpus's real copy families approach 64
    * members — then raise it toward the family size, paying fan-out
    * quadratically. */
  val MaxAnchorBucket = 64

  /** C2k exact-substring overlap (the ExactSubstr/winnowing family): find
    * document pairs sharing long VERBATIM character runs — copy-paste,
    * boilerplate, quotations — which word-shingle MinHash (q23) dilutes
    * away when the shared run is a small fraction of both documents.
    * Each doc emits only its content-defined anchor fingerprints (native
    * [[graft.functions.AnchorFingerprints]]: ~1/16 of 12-char windows,
    * selected by hash value so shared runs pick identical anchors at ANY
    * offset in either doc — fixed-stride sampling has no such guarantee);
    * candidates come from a self-equi-join on the anchor hash. Join input
    * is ~len/16 rows per doc (in-row deduped), never per-window volume;
    * a boilerplate anchor shared by b docs fans out b^2 pairs — bounded by
    * the [[MaxAnchorBucket]] stop-anchor cap riding the join's own
    * shuffle. */
  def q98SubstrOverlap(s: SparkSession, d: String): DataFrame = {
    val anchors = documents(s, d)
      .select(col("doc_id"), explode(expr("anchor_fingerprints(text)")).as("fp"))
    val bounded = capBuckets(anchors, Seq("fp"), Some(MaxAnchorBucket))
    val a = bounded.select(col("fp"), col("doc_id").as("id_a"))
    val b = bounded.select(col("fp"), col("doc_id").as("id_b"))
    a.join(b, "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_anchors"))
      .filter(col("n_shared_anchors") >= MinSharedAnchors)
      .orderBy("id_a", "id_b")
  }

  /** C2i cross-source overlap matrix: for every source pair, how many
    * distinct 3-word shingles they share + the shingle-set jaccard — the
    * dedup diagnostic that tells you WHICH crawl shards duplicate each
    * other (mirror sites, syndicated boilerplate) before you spend the
    * pairwise near-dup budget. Shape: one (source, shingle) dedup shuffle;
    * the self-join on shingle emits at most sources^2/2 rows per shingle
    * (20 sources here -> <= 190), so the output and the join fan-out are
    * bounded by the source count, never the corpus. The deduped relation
    * feeds the sizes rollup AND both join sides — checkpointed so the
    * shingle explosion runs once (the q72 lesson). */
  /** The distinct (source, shingle) relation, checkpointed AND memoized
    * per corpus slot — ONE corpus scan + shingle explode genuinely
    * serves both q81's exact matrix and q142's exact-mode gate (they also
    * cannot tokenize differently: one definition). */
  private def distinctSourceShingles(s: SparkSession, d: String): DataFrame =
    SessionCache.getOrElseUpdate(s, d, "source_shingles")(
      documents(s, d)
        .select(col("source"), explode(expr("word_shingles(text)")).as("sh"))
        .distinct()
        .localCheckpoint(true))

  def q81SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val sh = distinctSourceShingles(s, d)
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val a = sh.select(col("sh"), col("source").as("src_a"))
    val b = sh.select(col("sh"), col("source").as("src_b"))
    a.join(b, "sh").filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")), 4)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  val SketchOverlapTol = 0.05 // union estimate within 5% of the exact count

  /** C4c sketched cross-source distinct overlap (q142): the 100 TB tier of
    * [[q81SourceOverlap]]'s exact matrix. ONE corpus pass folds each
    * source's shingle set into a mergeable DataSketches HLL
    * (`hll_sketch_agg` — no distinct, no shuffle of shingles beyond the
    * per-source partial sketches); the pair matrix is then a crossJoin of
    * the |sources|-row sketch table (bounded control plane — the ONE place
    * a cartesian is the right plan), `hll_union` + estimate giving |A∪B|
    * with no shingle join at all, and |A∩B| by inclusion–exclusion. The
    * estimate is MONITORED, not assumed (the q27 discipline): under
    * [[graft.ops.Similarity.ExactCheckConf]] the exact q81-shaped counts
    * run alongside and `approx_ok` bounds the UNION estimate at
    * [[SketchOverlapTol]] — the union is what the sketch directly
    * measures; the derived intersection's relative error compounds, which
    * is exactly why the gate sits on the union. Verify mode emits the
    * exact counts (oracle-stable); production emits the estimates. */
  def q142SketchOverlap(s: SparkSession, d: String): DataFrame = {
    val exactMode = Similarity.validateExact(s)
    // production: sketch straight off the raw shingle stream (HLL of the
    // multiset == HLL of the distinct set — no distinct shuffle at all);
    // exact mode: reuse the ONE checkpointed distinct relation for both
    // the sketch and the exact counts (no second corpus scan)
    val base =
      if (exactMode) distinctSourceShingles(s, d)
      else documents(s, d)
        .select(col("source"), explode(expr("word_shingles(text)")).as("sh"))
    val est = {
      val sk = base.groupBy("source")
        .agg(expr("hll_sketch_agg(sh, 14)").as("skt"))
        .localCheckpoint(true) // both crossJoin sides read the |sources|-row sketch table
      sk.select(col("source").as("src_a"), col("skt").as("sk_a"))
        .crossJoin(sk.select(col("source").as("src_b"), col("skt").as("sk_b")))
        .filter(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          expr("hll_sketch_estimate(sk_a)").as("est_a"),
          expr("hll_sketch_estimate(sk_b)").as("est_b"),
          expr("hll_sketch_estimate(hll_union(sk_a, sk_b))").as("est_u"))
    }
    if (exactMode) {
      val sizes = base.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = base.select(col("sh"), col("source").as("src_a"))
        .join(base.select(col("sh"), col("source").as("src_b")), "sh")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
      sizes.select(col("source").as("src_a"), col("n").as("n_a"))
        .crossJoin(sizes.select(col("source").as("src_b"), col("n").as("n_b")))
        .filter(col("src_a") < col("src_b"))
        .join(inter, Seq("src_a", "src_b"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .join(est, Seq("src_a", "src_b"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_inter"), col("n_union"),
          (abs(col("est_u") - col("n_union")) <=
            col("n_union") * SketchOverlapTol).as("approx_ok"))
        .orderBy("src_a", "src_b")
    } else
      // floor the three direct estimates FIRST, then derive the
      // intersection from the floored longs — inclusion-exclusion
      // (n_union == n_a + n_b - n_inter) holds on the emitted row by
      // construction, as it does in exact mode and the oracle
      est.select(col("src_a"), col("src_b"),
          floor(col("est_a")).cast("long").as("n_a"),
          floor(col("est_b")).cast("long").as("n_b"),
          floor(col("est_u")).cast("long").as("n_union"))
        .withColumn("n_inter",
          greatest(lit(0L), col("n_a") + col("n_b") - col("n_union")))
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_inter"), col("n_union"), lit(true).as("approx_ok"))
        .orderBy("src_a", "src_b")
  }

  /** Shared oracle CTE chain ending in `cand` (the distinct LSH candidate
    * pairs) — composed by both the jaccard and edit-distance oracles. */
  private def minhashCandCtes: String = {
    val mhCols = (0 until NumHashes).map(i =>
      s"min((${hashA(i)} * h + ${hashB(i)}) % $MinhashPrime) AS mh$i").mkString(",\n               ")
    val bandSelects = (0 until NumBands).map { b =>
      val parts = (0 until BandRows).map(r => s"mh${b * BandRows + r}").mkString("||','||")
      s"SELECT doc_id, $b AS band, md5($parts) AS bkey FROM mh"
    }.mkString("\n        UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
        FROM tok, unnest(generate_series(1, len(t)-2)) AS r(i)
      ),
      shs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      hashed AS (
        SELECT doc_id, ('0x'||substr(md5(shingle),1,7))::BIGINT AS h FROM sh
      ),
      mh AS (
        SELECT doc_id,
               $mhCols
        FROM hashed GROUP BY doc_id
      ),
      bands AS (
        $bandSelects
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      )"""
  }

  /** Sampled-candidate CTE (`scand`) — the oracle mirror of
    * [[sampledCalibPairs]]: same step derivation (pair count floor-div
    * [[CalibMaxPairs]], floored at 1), same keep arithmetic, so the two
    * engines sample the IDENTICAL pair set at any scale. Requires `cand`
    * in scope. */
  private def sampledCandCte: String =
    s"""scand AS (
        SELECT c.id_a, c.id_b
        FROM cand c,
             (SELECT greatest(1,
                (count(*) + $CalibMaxPairs - 1) // $CalibMaxPairs) AS step
              FROM cand) st
        WHERE (c.id_a * 1000003 + c.id_b) % st.step = 0
      )"""

  /** Exact pairwise shingle-intersection CTE over the candidate pairs —
    * shared by the jaccard (q23/q60) and containment (q101) oracles so the
    * overlap definition exists once on the oracle side too. */
  private def interCte: String =
    s"""inter AS (
        SELECT c.id_a, c.id_b, count(*) AS ninter
        FROM cand c JOIN sh x ON x.doc_id = c.id_a
                    JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
        GROUP BY c.id_a, c.id_b
      )"""

  /** Exact n-gram truth CTEs (df-capped index -> boilerplate-discounted
    * exact jaccard, ending in `truth`) — REQUIRE the `sh` CTE from
    * [[minhashCandCtes]]'s chain (or an identical standalone prefix) in
    * scope; shared by the q108 and q109 oracles so the ground-truth
    * definition exists once. Intersection AND per-doc sizes count only
    * sub-cap shingles, mirroring [[ngramIndex]] exactly. */
  private def ngramTruthCtes: String =
    s"""keepg AS (SELECT shingle FROM sh GROUP BY shingle
                  HAVING count(*) <= $MaxShingleDf),
      ix AS (SELECT s.doc_id, s.shingle FROM sh s JOIN keepg USING (shingle)),
      shsc AS (SELECT doc_id, count(*) AS n_sh FROM ix GROUP BY doc_id),
      einter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
        FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ),
      truth AS (
        SELECT i.id_a, i.id_b,
               round(i.ninter::DOUBLE / (sa.n_sh + sb.n_sh - i.ninter), 4)
                 AS jaccard
        FROM einter i
        JOIN shsc sa ON sa.doc_id = i.id_a
        JOIN shsc sb ON sb.doc_id = i.id_b
      )"""

  /** `jaccardCtes` extends the candidate chain with the exact shingle-set
    * jaccard per pair (CTE `jac`) — shared by q23 and q60. */
  private def jaccardCtes: String =
    s"""
      $minhashCandCtes,
      $interCte,
      jac AS (
        SELECT c.id_a, c.id_b,
               round(coalesce(i.ninter, 0)::DOUBLE /
                     (sa.n_sh + sb.n_sh - coalesce(i.ninter, 0)), 4) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN shs sa ON sa.doc_id = c.id_a
        JOIN shs sb ON sb.doc_id = c.id_b
      )"""

  private def minhashOracle: String =
    s"""
      $jaccardCtes
      SELECT id_a, id_b, jaccard FROM jac ORDER BY 1, 2"""

  private def containmentOracle: String =
    s"""
      $minhashCandCtes,
      $interCte,
      cont AS (
        SELECT c.id_a, c.id_b,
               round(coalesce(i.ninter, 0)::DOUBLE / sa.n_sh, 4) AS cont_a,
               round(coalesce(i.ninter, 0)::DOUBLE / sb.n_sh, 4) AS cont_b
        FROM cand c
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN shs sa ON sa.doc_id = c.id_a
        JOIN shs sb ON sb.doc_id = c.id_b
      )
      SELECT id_a, id_b, cont_a, cont_b,
             (cont_a >= $ContainDup OR cont_b >= $ContainDup) AS is_contained
      FROM cont ORDER BY 1, 2"""

  private def multiSignalOracle: String =
    s"""
      $jaccardCtes,
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      SELECT j.id_a, j.id_b, j.jaccard,
             round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim,
             (j.jaccard >= $DupJaccard OR
              (j.jaccard >= $WeakJaccard AND
               round(list_cosine_similarity(a.v, b.v), 6) >= $ConfirmCosine))
               AS is_dup
      FROM jac j JOIN e a ON a.vec_id = j.id_a
                 JOIN e b ON b.vec_id = j.id_b
      ORDER BY j.id_a, j.id_b"""

  /** Recursive-CTE chain ending in `comps` (doc -> component min label) —
    * the oracle-side transitive closure shared by q70 and q80. `WITH
    * RECURSIVE` must prefix the whole CTE list, so the shared candidate
    * CTEs get the keyword spliced in. */
  private def ccCtes: String = {
    val ctes = minhashCandCtes.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$ctes,
      edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                UNION ALL SELECT id_b, id_a FROM cand),
      walk AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.dst AS node, w.comp FROM walk w JOIN edges e ON e.src = w.node
      ),
      comps AS (SELECT node, min(comp) AS cluster_id FROM walk GROUP BY node)"""
  }

  private def ccOracle: String =
    s"""
      $ccCtes,
      sizes AS (SELECT cluster_id, count(*) AS cluster_size
                FROM comps GROUP BY cluster_id)
      SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
             (c.node = c.cluster_id) AS is_keeper
      FROM comps c JOIN sizes s USING (cluster_id)
      ORDER BY doc_id"""

  /** Oracle-side mirror of [[splitAssigned]]: CTE `assigned` = one row per
    * doc with (doc_id, lang, cluster_id, split) — shared by the q80 and
    * q107 oracles so both measure the same split rule, thresholds
    * interpolated from the one [[TextOps.TrainPct]]/[[TextOps.ValidPct]]
    * definition. Must be appended to [[ccCtes]]. */
  private def splitAssignCtes: String =
    s"""assign AS (
        SELECT d.doc_id, d.lang, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comps c ON c.node = d.doc_id),
      assigned AS (
        SELECT doc_id, lang, cluster_id,
               CASE WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 4))::BIGINT
                         % 100 < ${TextOps.TrainPct} THEN 'train'
                    WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 4))::BIGINT
                         % 100 < ${TextOps.ValidPct} THEN 'valid'
                    ELSE 'test' END AS split
        FROM assign)"""

  private def leakageSplitOracle: String =
    s"""
      $ccCtes,
      $splitAssignCtes
      SELECT split, count(*) AS n_docs,
             count(DISTINCT cluster_id)::BIGINT AS n_clusters
      FROM assigned GROUP BY 1 ORDER BY split"""

  private def splitBalanceOracle: String =
    s"""
      $ccCtes,
      $splitAssignCtes,
      sl AS (SELECT split, lang, count(*)::BIGINT AS n FROM assigned
             GROUP BY 1, 2),
      st AS (SELECT split, sum(n)::BIGINT AS n_split FROM sl GROUP BY 1),
      cl AS (SELECT lang, sum(n)::BIGINT AS n_lang FROM sl GROUP BY 1),
      tot AS (SELECT sum(n)::BIGINT AS n_total FROM sl)
      SELECT sl.split, sl.lang, sl.n AS n_docs,
             (sl.n * 1000000) // st.n_split AS share_ppm,
             (cl.n_lang * 1000000) // tot.n_total AS corpus_ppm,
             (sl.n * 1000000) // st.n_split
               - (cl.n_lang * 1000000) // tot.n_total AS delta_ppm
      FROM sl JOIN st USING (split) JOIN cl USING (lang) CROSS JOIN tot
      ORDER BY split, lang"""

  private def survivorsOracle: String =
    s"""
      $ccCtes,
      q AS (SELECT doc_id, ${TextOps.TtrSql} AS ttr FROM documents),
      memb AS (SELECT c.node AS doc_id, c.cluster_id, q.ttr
               FROM comps c JOIN q ON q.doc_id = c.node),
      ranked AS (SELECT cluster_id, doc_id, ttr,
                        row_number() OVER (PARTITION BY cluster_id
                                           ORDER BY ttr DESC, doc_id) AS rn,
                        count(*) OVER (PARTITION BY cluster_id) AS cluster_size
                 FROM memb)
      SELECT cluster_id, cluster_size::BIGINT AS cluster_size,
             doc_id AS keeper_id, ttr AS keeper_ttr,
             (cluster_size - 1)::BIGINT AS n_dropped
      FROM ranked WHERE rn = 1 AND cluster_size >= 2 ORDER BY cluster_id"""

  private def funnelOracle: String =
    raw"""
      $ccCtes,
      fpd AS (SELECT doc_id, source, n_chars,
                     md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                       AS fp
              FROM documents),
      keep AS (SELECT fp, min(doc_id) AS keep_id FROM fpd GROUP BY fp),
      fl AS (SELECT f.source, f.n_chars,
                    (f.doc_id = k.keep_id) AS exact_keep,
                    (f.doc_id = coalesce(c.cluster_id, f.doc_id)) AS cc_keep
             FROM fpd f JOIN keep k USING (fp)
             LEFT JOIN comps c ON c.node = f.doc_id),
      agg AS (
        SELECT source, count(*) AS n_raw,
               cast(sum(n_chars) AS BIGINT) AS chars_raw,
               cast(sum(CASE WHEN exact_keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_exact,
               cast(sum(CASE WHEN exact_keep THEN n_chars ELSE 0 END)
                 AS BIGINT) AS chars_exact,
               cast(sum(CASE WHEN exact_keep AND cc_keep THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_final,
               cast(sum(CASE WHEN exact_keep AND cc_keep THEN n_chars
                             ELSE 0 END) AS BIGINT) AS chars_final
        FROM fl GROUP BY source)
      SELECT source, n_raw, chars_raw, n_exact, chars_exact, n_final,
             chars_final,
             round(100.0::DOUBLE * n_final / n_raw, 2) AS pct_kept
      FROM agg ORDER BY source"""

  private def splitLeakageOracle: String =
    s"""
      $ccCtes,
      $splitAssignCtes,
      tag AS (SELECT DISTINCT a.split, s.shingle AS sg
              FROM sh s JOIN assigned a USING (doc_id)),
      sz AS (SELECT split, count(*) AS n FROM tag GROUP BY 1),
      pr AS (SELECT a.split AS split_a, b.split AS split_b,
                    count(*) AS n_shared
             FROM tag a JOIN tag b ON a.sg = b.sg AND a.split < b.split
             GROUP BY 1, 2),
      grid AS (SELECT sa.split AS split_a, sa.n AS na,
                      sb.split AS split_b, sb.n AS nb
               FROM sz sa CROSS JOIN sz sb WHERE sa.split < sb.split)
      SELECT g.split_a, g.split_b,
             coalesce(pr.n_shared, 0)::BIGINT AS n_shared,
             round(coalesce(pr.n_shared, 0)::DOUBLE
                   / (g.na + g.nb - coalesce(pr.n_shared, 0)), 6) AS jaccard
      FROM grid g LEFT JOIN pr
        ON pr.split_a = g.split_a AND pr.split_b = g.split_b
      ORDER BY g.split_a, g.split_b"""

  /** The per-doc decision CTE chain ending in `ledger` (doc_id, action,
    * keeper_id) — shared by the q129 oracle and the q164 quality
    * interaction so the action definition exists once on the oracle
    * side too. */
  private def ledgerCtes: String =
    raw"""
      $ccCtes,
      fpd AS (SELECT doc_id,
                     md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                       AS fp
              FROM documents),
      keep AS (SELECT fp, min(doc_id) AS keep_id FROM fpd GROUP BY fp),
      led AS (SELECT f.doc_id, k.keep_id,
                     coalesce(c.cluster_id, f.doc_id) AS cluster_keeper
              FROM fpd f JOIN keep k USING (fp)
              LEFT JOIN comps c ON c.node = f.doc_id),
      ledger AS (
        SELECT doc_id,
               CASE WHEN doc_id <> keep_id THEN 'drop_exact'
                    WHEN doc_id <> cluster_keeper THEN 'drop_near'
                    ELSE 'keep' END AS action,
               CASE WHEN doc_id <> keep_id THEN keep_id
                    ELSE cluster_keeper END AS keeper_id
        FROM led)"""

  private def ledgerOracle: String =
    raw"""
      $ledgerCtes,
      -- follow non-keep keepers hop by hop; every hop strictly decreases
      -- doc_id, so min(fk) over a doc's chain IS its terminal 'keep' row
      chain AS (
        SELECT doc_id, keeper_id AS fk FROM ledger
        UNION ALL
        SELECT c.doc_id, l.keeper_id
        FROM chain c JOIN ledger l ON l.doc_id = c.fk
        WHERE l.action <> 'keep'
      )
      SELECT g.doc_id, g.action, g.keeper_id,
             (SELECT min(fk) FROM chain ch WHERE ch.doc_id = g.doc_id)
               AS final_keeper_id
      FROM ledger g ORDER BY g.doc_id"""

  /** Oracle for q130 ([[TextOps.q130DedupedEpochPlan]]): q110's planning
    * SQL over the ledger's keep set. Registered HERE (not in TextOps)
    * because it splices the connected-components chain, and because
    * Dedup's registry already forces TextOps init — the reverse reference
    * at TextOps init would cycle. */
  private def dedupedEpochOracle: String =
    raw"""
      $ccCtes,
      fpd AS (SELECT doc_id,
                     md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                       AS fp
              FROM documents),
      keep AS (SELECT fp, min(doc_id) AS keep_id FROM fpd GROUP BY fp),
      keepdocs AS (SELECT f.doc_id
                   FROM fpd f JOIN keep k USING (fp)
                   LEFT JOIN comps c ON c.node = f.doc_id
                   WHERE f.doc_id = k.keep_id
                     AND f.doc_id = coalesce(c.cluster_id, f.doc_id)),
      t AS (SELECT source,
                   cast(sum(len(list_filter(string_split(text, ' '),
                     x -> x <> ''))) AS BIGINT) AS n_tokens
            FROM documents JOIN keepdocs USING (doc_id) GROUP BY source),
      norm AS (SELECT cast(sum(n_tokens) AS BIGINT) AS budget,
                      list_sum(list_sort(list(sqrt(n_tokens::DOUBLE)))) AS z
               FROM t),
      p AS (SELECT source, n_tokens, sqrt(n_tokens::DOUBLE) / z AS share_raw,
                   budget
            FROM t, norm)
      SELECT source, n_tokens, round(share_raw, 6) AS share,
             cast(round(share_raw * budget) AS BIGINT) AS target_tokens,
             round(share_raw * budget / n_tokens, 4) AS epochs,
             share_raw * budget / n_tokens > 1 AS needs_repeat
      FROM p ORDER BY source"""

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q130_deduped_epoch_plan" ->
      ((TextOps.q130DedupedEpochPlan _, dedupedEpochOracle)),
    "q129_dedup_ledger" -> ((q129DedupLedger _, ledgerOracle)),
    "q168_dup_trend" -> ((q168DupTrend _, s"""
      $ledgerCtes,
      mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
      banded AS (SELECT (g.doc_id * $DupTrendBands) // mx.m AS band,
                        g.action
                 FROM ledger g, mx)
      SELECT band::BIGINT AS band, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN action = 'drop_exact' THEN 1 ELSE 0 END)::BIGINT
               AS n_drop_exact,
             sum(CASE WHEN action = 'drop_near' THEN 1 ELSE 0 END)::BIGINT
               AS n_drop_near,
             (sum(CASE WHEN action <> 'keep' THEN 1 ELSE 0 END) * 1000000
               // count(*))::BIGINT AS drop_ppm
      FROM banded GROUP BY band ORDER BY band""")),
    "q164_drop_quality" -> ((q164DropQuality _, s"""
      $ledgerCtes,
      sig AS (SELECT doc_id, n_chars,
                     cast(round((${TextOps.TtrSql}) * 10000) AS BIGINT)
                       AS ttr4
              FROM documents)
      SELECT g.action, count(*)::BIGINT AS n_docs,
             sum(s.n_chars)::BIGINT AS n_chars,
             (sum(s.ttr4) // count(*))::BIGINT AS mean_ttr_x10000
      FROM ledger g JOIN sig s USING (doc_id)
      GROUP BY g.action ORDER BY g.action""")),
    "q128_incremental_neardup" -> ((q128IncrementalNearDup _, s"""
      $jaccardCtes,
      src AS (SELECT doc_id, source FROM documents),
      x AS (SELECT j.id_a, j.id_b, j.jaccard,
                   sa.source AS src_a, sb.source AS src_b
            FROM jac j JOIN src sa ON sa.doc_id = j.id_a
                       JOIN src sb ON sb.doc_id = j.id_b
            WHERE (sa.source = '$IncomingSource')
                  <> (sb.source = '$IncomingSource'))
      SELECT CASE WHEN src_a = '$IncomingSource' THEN id_a ELSE id_b END
               AS incoming_id,
             CASE WHEN src_a = '$IncomingSource' THEN id_b ELSE id_a END
               AS corpus_id,
             jaccard, jaccard >= $DupJaccard AS is_dup
      FROM x ORDER BY incoming_id, corpus_id""")),
    "q120_split_leakage" -> ((q120SplitLeakage _, splitLeakageOracle)),
    "q115_dedup_funnel" -> ((q115DedupFunnel _, funnelOracle)),
    "q70_dup_clusters" -> ((q70DupClusters _, ccOracle)),
    "q176_bbit_sweep" -> ((q176BbitSweep _, {
      def slotSum(f: Int => String) =
        (0 until NumHashes).map(f).mkString("\n             + ")
      val arms = BbitGrid.map { b =>
        val m = 1L << b
        s"""SELECT $b AS b, count(*)::BIGINT AS n_pairs,
             coalesce(sum(full_m), 0)::BIGINT AS full_matches,
             coalesce(sum(${slotSum(i =>
               s"(CASE WHEN a.mh$i % $m = bb.mh$i % $m THEN 1 ELSE 0 END)")}), 0)::BIGINT
               AS bbit_matches
           FROM scand c JOIN mh a ON a.doc_id = c.id_a
                        JOIN mh bb ON bb.doc_id = c.id_b
           CROSS JOIN LATERAL (SELECT ${slotSum(i =>
             s"(CASE WHEN a.mh$i = bb.mh$i THEN 1 ELSE 0 END)")} AS full_m) f"""
      }.mkString("\n        UNION ALL ")
      s"""
      $minhashCandCtes,
      $sampledCandCte,
      arms AS (
        $arms)
      SELECT b::BIGINT AS b, n_pairs, full_matches, bbit_matches,
             (bbit_matches - full_matches)::BIGINT AS excess,
             (CASE WHEN n_pairs = 0 THEN 0
                   ELSE (bbit_matches - full_matches) * 1000000
                        // (n_pairs * $NumHashes) END)::BIGINT AS excess_ppm
      FROM arms ORDER BY b"""
    })),
    "q173_dup_meta_conflicts" -> ((q173DupMetaConflicts _, {
      val rows = MetaConflictFixture.map { case (id, t, l, src) =>
        s"($id, '$t', '$l', '$src')"
      }.mkString(",\n        ")
      s"""
      WITH aug AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT * FROM (VALUES
        $rows) v(doc_id, text, lang, source)),
      g AS (SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
                   min(doc_id)::BIGINT AS anchor_id, count(*)::BIGINT AS n_docs,
                   count(DISTINCT lang)::BIGINT AS n_langs,
                   count(DISTINCT source)::BIGINT AS n_sources
            FROM aug GROUP BY 1)
      SELECT anchor_id, n_docs, n_langs, n_sources,
             n_langs > 1 AS lang_conflict, n_sources > 1 AS source_conflict
      FROM g WHERE n_docs > 1 ORDER BY anchor_id"""
    })),
    "q170_cluster_density" -> ((q170ClusterDensity _, s"""
      $ccCtes,
      ed AS (SELECT c.cluster_id, count(*)::BIGINT AS n_edges
             FROM cand p JOIN comps c ON c.node = p.id_a GROUP BY 1),
      cs AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
             FROM comps GROUP BY 1)
      SELECT cs.cluster_size, count(*)::BIGINT AS n_clusters,
             sum(ed.n_edges)::BIGINT AS n_edges,
             (count(*)::HUGEINT *
               (cs.cluster_size::HUGEINT * (cs.cluster_size - 1) // 2))::BIGINT
               AS n_possible,
             (sum(ed.n_edges)::HUGEINT * 1000000
               // (count(*)::HUGEINT *
                   (cs.cluster_size::HUGEINT * (cs.cluster_size - 1) // 2)))::BIGINT
               AS density_ppm
      FROM cs JOIN ed USING (cluster_id)
      GROUP BY cs.cluster_size ORDER BY cs.cluster_size""")),
    "q162_cluster_histogram" -> ((q162ClusterHistogram _, s"""
      $ccCtes,
      csizes AS (SELECT cluster_id, count(*) AS cluster_size
                 FROM comps GROUP BY cluster_id),
      multi AS (SELECT cluster_size::BIGINT AS cluster_size,
                       count(*)::BIGINT AS n_clusters
                FROM csizes GROUP BY 1),
      tot AS (SELECT count(*)::BIGINT AS n_docs_total FROM documents),
      ing AS (SELECT count(*)::BIGINT AS n_in FROM comps),
      uni AS (SELECT cluster_size, n_clusters FROM multi
              UNION ALL
              SELECT 1::BIGINT, (tot.n_docs_total - ing.n_in)
              FROM tot, ing),
      h AS (SELECT cluster_size, sum(n_clusters)::BIGINT AS n_clusters
            FROM uni GROUP BY 1 HAVING sum(n_clusters) > 0)
      SELECT h.cluster_size, h.n_clusters,
             (h.cluster_size * h.n_clusters)::BIGINT AS n_docs,
             (h.cluster_size * h.n_clusters * 1000000
               // tot.n_docs_total)::BIGINT AS docs_ppm
      FROM h, tot ORDER BY h.cluster_size""")),
    "q136_sampling_weights" -> ((q136SamplingWeights _, s"""
      $ccCtes,
      sizes AS (SELECT cluster_id, count(*) AS cluster_size
                FROM comps GROUP BY cluster_id)
      SELECT d.doc_id,
             coalesce(s.cluster_size, 1)::BIGINT AS cluster_size,
             (1000000 // coalesce(s.cluster_size, 1))::BIGINT AS weight_ppm
      FROM documents d
      LEFT JOIN comps c ON c.node = d.doc_id
      LEFT JOIN sizes s ON s.cluster_id = c.cluster_id
      ORDER BY doc_id""")),
    "q94_dedup_survivors" -> ((q94DedupSurvivors _, survivorsOracle)),
    "q98_substr_overlap" -> ((q98SubstrOverlap _, s"""
      WITH w AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(substr(text, i, ${graft.functions.AnchorFingerprints.WindowLen})), 1, 15))::BIGINT AS fp
        FROM documents,
             unnest(generate_series(1, length(text) - ${graft.functions.AnchorFingerprints.WindowLen - 1})) AS r(i)
        WHERE length(text) >= ${graft.functions.AnchorFingerprints.WindowLen}),
      anch AS (SELECT doc_id, fp FROM w
               WHERE fp % ${graft.functions.AnchorFingerprints.AnchorMod} = 0),
      keepfp AS (SELECT fp FROM anch GROUP BY fp
                 HAVING count(*) <= $MaxAnchorBucket),
      kept AS (SELECT a.doc_id, a.fp FROM anch a JOIN keepfp USING (fp))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*) AS n_shared_anchors
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= $MinSharedAnchors
      ORDER BY id_a, id_b""")),
    "q80_leakage_safe_split" -> ((q80LeakageSafeSplit _, leakageSplitOracle)),
    "q107_split_balance" -> ((q107SplitBalance _, splitBalanceOracle)),
    "q208_filter_overlap" -> ((q208FilterOverlap _, s"""
      $ledgerCtes,
      ${TextOps.gateDocCte},
      ogrid AS (SELECT a.action, g.gate_pass
                FROM (VALUES ('drop_exact'), ('drop_near'), ('keep'))
                  a(action),
                  (VALUES (false), (true)) g(gate_pass)),
      ocells AS (SELECT l.action, gd.gate_pass, count(*) AS n_docs,
                        sum(d.n_chars) AS n_chars
                 FROM ledger l
                 JOIN gatedoc gd USING (doc_id)
                 JOIN documents d USING (doc_id)
                 GROUP BY 1, 2),
      otot AS (SELECT count(*) AS n FROM documents)
      SELECT g.action, g.gate_pass,
             coalesce(c.n_docs, 0)::BIGINT AS n_docs,
             coalesce(c.n_chars, 0)::BIGINT AS n_chars,
             (coalesce(c.n_docs, 0) * 1000000 // otot.n)::BIGINT AS corpus_ppm
      FROM ogrid g LEFT JOIN ocells c USING (action, gate_pass), otot
      ORDER BY action, gate_pass""")),
    "q207_dup_arrival_gaps" -> ((q207DupArrivalGaps _, s"""
      $minhashCandCtes,
      $ngramTruthCtes,
      gp AS (SELECT id_b - id_a AS gap FROM truth
             WHERE jaccard >= $NgramDupJaccard),
      tot AS (SELECT count(*) AS n FROM gp),
      h AS (SELECT length(bin(gap)) AS band, count(*) AS n_pairs,
                   min(gap) AS min_gap, max(gap) AS max_gap
            FROM gp GROUP BY 1)
      SELECT band::BIGINT AS band, n_pairs::BIGINT AS n_pairs,
             min_gap::BIGINT AS min_gap, max_gap::BIGINT AS max_gap,
             (n_pairs * 1000000 // tot.n)::BIGINT AS share_ppm
      FROM h, tot ORDER BY band""")),
    "q205_source_diversity" -> ((q205SourceDiversity _, s"""
      $ccCtes,
      sdassign AS (
        SELECT d.doc_id, d.source,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comps c ON c.node = d.doc_id),
      sdc AS (SELECT source, cluster_id, count(*) AS nc
              FROM sdassign GROUP BY 1, 2),
      sdr AS (SELECT source, sum(nc) AS n_docs, count(*) AS n_clusters,
                     max(nc) AS max_c, sum(nc::HUGEINT * nc) AS sumsq
              FROM sdc GROUP BY 1)
      SELECT source, n_docs::BIGINT AS n_docs,
             n_clusters::BIGINT AS n_clusters,
             (max_c::HUGEINT * 1000000 // n_docs)::BIGINT AS top_cluster_ppm,
             (n_docs::HUGEINT * n_docs * 1000 // sumsq)::BIGINT
               AS eff_clusters_x1000
      FROM sdr ORDER BY source""")),
    "q202_split_token_kl" -> ((q202SplitTokenKl _, s"""
      $ccCtes,
      $splitAssignCtes,
      sptok AS (SELECT a.split, unnest(string_split(d.text, ' ')) AS sptk
                FROM documents d JOIN assigned a USING (doc_id)),
      spst AS (SELECT split, sptk, count(*) AS n_st FROM sptok
               WHERE sptk <> '' GROUP BY 1, 2),
      spsz AS (SELECT split, sum(n_st) AS n_s FROM spst GROUP BY 1),
      spt AS (SELECT sptk, sum(n_st) AS n_t FROM spst GROUP BY 1),
      spn AS (SELECT sum(n_t) AS n FROM spt),
      spc AS (SELECT spst.split, spsz.n_s,
                     (spst.n_st::DOUBLE / spsz.n_s) *
                       ln((spst.n_st::DOUBLE / spsz.n_s) /
                          (spt.n_t::DOUBLE / spn.n)) AS contrib
              FROM spst JOIN spsz USING (split) JOIN spt USING (sptk), spn)
      SELECT split, max(n_s)::BIGINT AS n_tokens,
             round(list_sum(list_sort(list(contrib))), 6) AS kl
      FROM spc GROUP BY split ORDER BY split""")),
    "q142_sketch_overlap" -> ((q142SketchOverlap _, """
      WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT DISTINCT source, array_to_string(t[i:i+2], ' ') AS sh
             FROM tok, unnest(generate_series(1, len(t)-2)) AS r(i)),
      sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
      inter AS (SELECT a.source AS src_a, b.source AS src_b,
                       count(*) AS n_inter
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
                GROUP BY 1, 2),
      uni AS (SELECT a.source AS src_a, b.source AS src_b,
                     a.n AS n_a, b.n AS n_b
              FROM sizes a JOIN sizes b ON a.source < b.source)
      SELECT u.src_a, u.src_b, u.n_a, u.n_b,
             coalesce(i.n_inter, 0)::BIGINT AS n_inter,
             (u.n_a + u.n_b - coalesce(i.n_inter, 0))::BIGINT AS n_union,
             true AS approx_ok
      FROM uni u LEFT JOIN inter i USING (src_a, src_b)
      ORDER BY src_a, src_b""")),
    "q81_source_overlap" -> ((q81SourceOverlap _, """
      WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT source, array_to_string(t[i:i+2], ' ') AS s
        FROM tok, unnest(generate_series(1, len(t)-2)) AS r(i)
      ),
      sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
      shared AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, n_shared,
             round(n_shared::DOUBLE / (sa.n + sb.n - n_shared), 4) AS jaccard
      FROM shared
      JOIN sizes sa ON sa.source = src_a
      JOIN sizes sb ON sb.source = src_b
      ORDER BY src_a, src_b""")),
    "q75_incremental_dedup" -> ((q75IncrementalDedup _, s"""
      WITH fp AS (
        SELECT doc_id, source,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
      ),
      incoming AS (
        SELECT fp, min(doc_id) AS doc_id FROM fp
        WHERE source = '$IncomingSource' GROUP BY fp
      )
      SELECT i.doc_id, i.fp FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM fp c
                        WHERE c.source <> '$IncomingSource' AND c.fp = i.fp)
      ORDER BY i.doc_id""")),
    "q22_dedup_exact" -> ((q22DedupExact _, """
      SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
             min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY keep_id""")),
    "q23_dedup_minhash" -> ((q23DedupMinhash _, minhashOracle)),
    "q133_index_dedup" -> ((q133IndexDedup _, {
      val mhCols = (0 until NumHashes).map(i =>
        s"min((${hashA(i)} * h + ${hashB(i)}) % $MinhashPrime) AS mh$i")
        .mkString(",\n               ")
      val bandSelects = (0 until NumBands).map { b =>
        val parts = (0 until BandRows).map(r => s"mh${b * BandRows + r}")
          .mkString("||','||")
        s"SELECT doc_id, $b AS band, md5($parts) AS bkey FROM mh"
      }.mkString("\n        UNION ALL ")
      val slotMatches = (0 until NumHashes).map(i =>
        s"(x.mh$i = y.mh$i)::INT").mkString(" + ")
      s"""
      WITH doc AS (SELECT doc_id, source,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
           FROM documents),
      tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
             FROM tok, unnest(generate_series(1, len(t)-2)) AS r(i)),
      hashed AS (SELECT doc_id, ('0x'||substr(md5(shingle),1,7))::BIGINT AS h
                 FROM sh),
      mh AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
      exact AS (SELECT i.doc_id AS incoming_id, c.doc_id AS corpus_id
                FROM doc i JOIN doc c ON i.fp = c.fp
                WHERE i.source = '$IncomingSource'
                  AND c.source <> '$IncomingSource'),
      bands AS (
        $bandSelects
      ),
      nc AS (SELECT DISTINCT a.doc_id AS incoming_id, b.doc_id AS corpus_id
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey
             JOIN doc da ON da.doc_id = a.doc_id
             JOIN doc db ON db.doc_id = b.doc_id
             WHERE da.source = '$IncomingSource'
               AND db.source <> '$IncomingSource'),
      near AS (SELECT nc.incoming_id, nc.corpus_id,
                      round(($slotMatches) / ${NumHashes}.0, 4) AS est_jaccard
               FROM nc JOIN mh x ON x.doc_id = nc.incoming_id
                       JOIN mh y ON y.doc_id = nc.corpus_id
               WHERE NOT EXISTS (SELECT 1 FROM exact e
                                 WHERE e.incoming_id = nc.incoming_id
                                   AND e.corpus_id = nc.corpus_id))
      SELECT incoming_id, corpus_id, 'exact' AS match_kind,
             1.0::DOUBLE AS est_jaccard
      FROM exact
      UNION ALL
      SELECT incoming_id, corpus_id, 'near' AS match_kind, est_jaccard
      FROM near
      ORDER BY incoming_id, corpus_id"""
    })),
    "q158_signature_sweep" -> ((q158SignatureSweep _, {
      val sweepArms = HashBudgetGrid.map { h =>
        val nm = (0 until h).map(i => s"s$i").mkString(" + ")
        s"""SELECT $h AS n_hashes, (($nm) * 1000000) // $h AS est_ppm,
                   true_ppm FROM calt"""
      }.mkString("\n        UNION ALL ")
      val slotBools = (0 until NumHashes).map(i =>
        s"(x.mh$i = y.mh$i)::BIGINT AS s$i").mkString(",\n               ")
      s"""
      $minhashCandCtes,
      $sampledCandCte,
      $interCte,
      cal AS (
        SELECT $slotBools,
               coalesce(i.ninter, 0) AS ninter,
               sa.n_sh AS n_a, sb.n_sh AS n_b
        FROM scand c
        JOIN mh x ON x.doc_id = c.id_a
        JOIN mh y ON y.doc_id = c.id_b
        JOIN shs sa ON sa.doc_id = c.id_a
        JOIN shs sb ON sb.doc_id = c.id_b
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b),
      calt AS (
        SELECT *, (ninter * 1000000) // (n_a + n_b - ninter) AS true_ppm
        FROM cal),
      sweep AS (
        $sweepArms)
      SELECT n_hashes::BIGINT AS n_hashes, count(*) AS n_pairs,
             (sum(abs(est_ppm - true_ppm)) // count(*))::BIGINT
               AS mean_abs_err_ppm,
             max(abs(est_ppm - true_ppm))::BIGINT AS max_abs_err_ppm,
             sum(est_ppm - true_ppm)::BIGINT AS sum_err_ppm
      FROM sweep GROUP BY 1 ORDER BY n_hashes"""
    })),
    "q148_minhash_calibration" -> ((q148MinhashCalibration _, {
      val slotMatches = (0 until NumHashes).map(i =>
        s"(x.mh$i = y.mh$i)::INT").mkString(" + ")
      s"""
      $minhashCandCtes,
      $sampledCandCte,
      $interCte,
      cal AS (
        SELECT c.id_a, c.id_b, ($slotMatches) AS n_match,
               coalesce(i.ninter, 0) AS ninter,
               sa.n_sh AS n_a, sb.n_sh AS n_b
        FROM scand c
        JOIN mh x ON x.doc_id = c.id_a
        JOIN mh y ON y.doc_id = c.id_b
        JOIN shs sa ON sa.doc_id = c.id_a
        JOIN shs sb ON sb.doc_id = c.id_b
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b),
      cal2 AS (
        SELECT n_match, (n_match * 1000000) // $NumHashes AS est_ppm,
               (ninter * 1000000) // (n_a + n_b - ninter) AS true_ppm
        FROM cal)
      SELECT n_match::BIGINT AS n_match, est_ppm::BIGINT AS est_ppm,
             count(*) AS n_pairs,
             (sum(true_ppm) // count(*))::BIGINT AS mean_true_ppm,
             (sum(abs(est_ppm - true_ppm)) // count(*))::BIGINT
               AS mean_abs_err_ppm
      FROM cal2 GROUP BY 1, 2 ORDER BY n_match"""
    })),
    "q108_ngram_jaccard" -> ((q108NgramJaccard _, s"""
      $minhashCandCtes,
      $ngramTruthCtes
      SELECT id_a, id_b, jaccard FROM truth
      WHERE jaccard >= $NgramDupJaccard
      ORDER BY id_a, id_b""")),
    "q157_source_dup_matrix" -> ((q157SourceDupMatrix _, s"""
      $minhashCandCtes,
      $ngramTruthCtes,
      tpairs AS (SELECT id_a, id_b FROM truth
                 WHERE jaccard >= $NgramDupJaccard),
      sz AS (SELECT source, count(*)::BIGINT AS n_docs
             FROM documents GROUP BY 1),
      cells AS (
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*)::BIGINT AS n_pairs
        FROM tpairs t
        JOIN documents da ON da.doc_id = t.id_a
        JOIN documents db ON db.doc_id = t.id_b
        GROUP BY 1, 2)
      SELECT c.source_a, c.source_b, c.n_pairs,
             sa.n_docs AS n_docs_a, sb.n_docs AS n_docs_b
      FROM cells c
      JOIN sz sa ON sa.source = c.source_a
      JOIN sz sb ON sb.source = c.source_b
      ORDER BY c.source_a, c.source_b""")),
    "q153_threshold_sweep" -> ((q153ThresholdSweep _, {
      // one recursive component walk per grid point over its filtered
      // pair set — the exact SQL mirror of the per-threshold propagation
      val arms = JaccardSweep.zipWithIndex.map { case (t, i) =>
        s"""e$i AS (SELECT id_a AS src, id_b AS dst FROM truth
                    WHERE jaccard >= $t
                    UNION ALL
                    SELECT id_b, id_a FROM truth WHERE jaccard >= $t),
        w$i AS (SELECT src AS node, src AS comp FROM e$i
                UNION
                SELECT e.dst, w.comp FROM w$i w JOIN e$i e
                  ON e.src = w.node),
        c$i AS (SELECT node, min(comp) AS comp FROM w$i GROUP BY node),
        r$i AS (SELECT ${t}::DOUBLE AS threshold,
                       (SELECT count(*) FROM truth
                        WHERE jaccard >= $t)::BIGINT AS n_pairs,
                       count(*)::BIGINT AS n_docs_dropped,
                       coalesce(sum(d.n_chars), 0)::BIGINT AS chars_removed
                FROM c$i JOIN documents d ON d.doc_id = c$i.node
                WHERE c$i.node <> c$i.comp)"""
      }.mkString(",\n      ")
      val union = JaccardSweep.indices
        .map(i => s"SELECT * FROM r$i").mkString("\n        UNION ALL ")
      val ctes = minhashCandCtes.replaceFirst("WITH ", "WITH RECURSIVE ")
      s"""
      $ctes,
      $ngramTruthCtes,
      $arms,
      sweep AS (
        $union),
      tot AS (SELECT count(*)::BIGINT AS n_docs_total,
                     sum(n_chars)::BIGINT AS chars_total FROM documents)
      SELECT s.threshold, s.n_pairs, s.n_docs_dropped, tot.n_docs_total,
             s.chars_removed,
             ((tot.chars_total - s.chars_removed) * 1000000
               // tot.chars_total)::BIGINT AS retained_chars_ppm
      FROM sweep s, tot
      ORDER BY s.threshold"""
    })),
    "q109_dedup_recall" -> ((q109DedupRecall _, s"""
      $minhashCandCtes,
      $ngramTruthCtes
      SELECT floor(t.jaccard * 10) / 10 AS jaccard_band,
             count(*) AS n_true,
             count(c.id_a) AS n_caught,
             round(count(c.id_a)::DOUBLE / count(*), 4) AS recall
      FROM (SELECT * FROM truth WHERE jaccard >= $NgramDupJaccard) t
      LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
      GROUP BY 1 ORDER BY 1""")),
    "q191_df_histogram" -> ((q191DfHistogram _, """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
        FROM tok, unnest(generate_series(1, len(t)-2)) AS r(i)),
      dfs AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY 1),
      tot AS (SELECT sum(df)::BIGINT AS n_total FROM dfs),
      h AS (SELECT (length(bin(df)) - 1)::BIGINT AS band,
                   count(*)::BIGINT AS n_shingles,
                   sum(df)::BIGINT AS n_postings
            FROM dfs GROUP BY 1)
      SELECT band, n_shingles, n_postings,
             (n_postings * 1000000 // tot.n_total)::BIGINT AS postings_ppm
      FROM h, tot ORDER BY band""")),
    "q187_recall_by_length" -> ((q187RecallByLength _, s"""
      $minhashCandCtes,
      $ngramTruthCtes,
      ln AS (SELECT doc_id, n_chars FROM documents)
      SELECT least(3, least(la.n_chars, lb.n_chars) // $LenBandChars)::BIGINT
               AS len_band,
             count(*) AS n_true,
             count(c.id_a) AS n_caught,
             round(count(c.id_a)::DOUBLE / count(*), 4) AS recall
      FROM (SELECT * FROM truth WHERE jaccard >= $NgramDupJaccard) t
      LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
      JOIN ln la ON la.doc_id = t.id_a
      JOIN ln lb ON lb.doc_id = t.id_b
      GROUP BY 1 ORDER BY 1""")),
    "q167_cap_utilization" -> ((q167CapUtilization _, s"""
      $minhashCandCtes,
      bsz AS (SELECT 'lsh_bucket' AS cap_name,
                     $DefaultMaxBucket::BIGINT AS cap_value,
                     count(*)::BIGINT AS n
              FROM bands GROUP BY band, bkey),
      ssz AS (SELECT 'shingle_df' AS cap_name,
                     $MaxShingleDf::BIGINT AS cap_value,
                     count(*)::BIGINT AS n
              FROM sh GROUP BY shingle),
      uni AS (SELECT * FROM bsz UNION ALL SELECT * FROM ssz)
      SELECT cap_name, cap_value,
             count(*)::BIGINT AS n_groups,
             sum(CASE WHEN n > cap_value THEN 1 ELSE 0 END)::BIGINT
               AS n_over_cap,
             sum(CASE WHEN n > cap_value THEN n ELSE 0 END)::BIGINT
               AS rows_dropped,
             sum(CASE WHEN n > cap_value THEN n * (n - 1) // 2
                      ELSE 0 END)::BIGINT AS pairs_suppressed,
             sum(CASE WHEN n <= cap_value THEN n * (n - 1) // 2
                      ELSE 0 END)::BIGINT AS pairs_kept_bound
      FROM uni GROUP BY 1, 2 ORDER BY cap_name""")),
    "q165_banding_curve" -> ((q165BandingCurve _, s"""
      $minhashCandCtes,
      $ngramTruthCtes,
      tj AS (SELECT t.jaccard,
                    CASE WHEN c.id_a IS NOT NULL THEN 1 END AS hit,
                    t.jaccard * t.jaccard AS j2
             FROM (SELECT * FROM truth
                   WHERE jaccard >= $NgramDupJaccard) t
             LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b),
      tp AS (SELECT jaccard, hit,
                    (1.0 - j2 * j2) * (1.0 - j2 * j2) AS t2
             FROM tj),
      pp AS (SELECT jaccard, hit,
                    floor((1.0 - t2 * t2) * 1000000.0)::BIGINT AS p_ppm
             FROM tp)
      SELECT floor(jaccard * 10) / 10 AS jaccard_band,
             count(*) AS n_true,
             count(hit) AS n_caught,
             (count(hit) * 1000000 // count(*))::BIGINT AS empirical_ppm,
             (sum(p_ppm) // count(*))::BIGINT AS expected_ppm,
             ((count(hit) * 1000000 // count(*))
               - (sum(p_ppm) // count(*)))::BIGINT AS delta_ppm
      FROM pp GROUP BY 1 ORDER BY 1""")),
    "q101_containment" -> ((q101Containment _, containmentOracle)),
    "q60_dedup_multisignal" -> ((q60DedupMultiSignal _, multiSignalOracle)),
    "q24_dedup_simhash" -> ((q24DedupSimhash _, """
      WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS s
        FROM documents
      ),
      th AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT AS h FROM tok),
      bits AS (
        SELECT doc_id, b.b,
               CASE WHEN sum(((h // (1::BIGINT << b.b)) % 2)::INT) * 2 > count(*)
                    THEN (1::BIGINT << b.b) ELSE 0 END AS bit
        FROM th, (SELECT unnest(generate_series(0,59)) AS b) b
        GROUP BY doc_id, b.b
      ),
      sims AS (SELECT doc_id, sum(bit)::BIGINT AS sim FROM bits GROUP BY doc_id),
      chunks AS (
        SELECT doc_id, sim, c.c AS chunk, (sim // (1::BIGINT << (c.c*15))) % 32768 AS ckey
        FROM sims, (SELECT unnest(generate_series(0,3)) AS c) c
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sim AS sim_a, b.sim AS sim_b
        FROM chunks a JOIN chunks b
          ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
      )
      , pairs AS (
        SELECT id_a, id_b, bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
        FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
      )
      SELECT doc_id, count(*) AS n_near_dups, min(hamming) AS min_hamming
      FROM (SELECT id_a AS doc_id, hamming FROM pairs
            UNION ALL SELECT id_b, hamming FROM pairs) u
      GROUP BY doc_id ORDER BY doc_id""")),
    "q51_dedup_editdist" -> ((q51DedupEditDistance _, s"""
      $minhashCandCtes,
      prefixes AS (SELECT doc_id, substr(text, 1, 60) AS prefix FROM documents)
      SELECT c.id_a, c.id_b, levenshtein(a.prefix, b.prefix)::BIGINT AS edit_dist
      FROM cand c JOIN prefixes a ON a.doc_id = c.id_a
                  JOIN prefixes b ON b.doc_id = c.id_b
      WHERE levenshtein(a.prefix, b.prefix) <= $EditDupMax
      ORDER BY c.id_a, c.id_b"""))
  )
}
