package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.C3) plus
  * approximate-distinct (C4).
  *
  * Two ANN tiers, as a real pipeline would ship them:
  *   - '''brute force''' ([[q25KnnBrute]]): exact cosine top-k. The query set
  *     is tiny and broadcast, so the "cross join" is a broadcast nested loop
  *     whose build side is k rows — the data side streams once, no shuffle of
  *     the corpus. This is the correctness baseline and the right plan when
  *     |queries| is small.
  *   - '''LSH-bucketed''' ([[q26KnnLsh]]): random-hyperplane signatures
  *     bucket the corpus; each query probes its own bucket plus all
  *     Hamming-distance-1 neighbors (multi-probe). At 100 TB the corpus is
  *     hashed ONCE (narrow projection), the probe join is an equi-join on
  *     bucket id, and per-query work is O(corpus/2^planes * probes) instead
  *     of O(corpus). Recall is tunable via planes/probes; bucket count must
  *     scale with the corpus — see [[planeTable]].
  *
  * All vector math runs through the native Catalyst expressions in
  * [[graft.functions.VecCosine]]/[[graft.functions.RhpBucket]] — one
  * compiled pass per row. The former `aggregate(zip_with(...))` formulation
  * evaluated INTERPRETED and cost 14.6 s (q25, BENCH_r02) vs 1.06 s for the
  * same logic scored once behind a serialization boundary (q49): Catalyst's
  * CollapseProject inlines the cosine into every consumer (the window sort
  * key and the output), so the interpreted lambda ran multiple times per
  * row on the window path. Values are unchanged: floats widen to double
  * exactly, matching the DuckDB oracle's `::DOUBLE[]` math bit-for-bit.
  * Hyperplanes are deterministic integer vectors from a seeded LCG so the
  * oracle reproduces them exactly.
  */
object Similarity {
  import Tables._

  val K = 5          // neighbors per query (brute force)
  val LshK = 3       // neighbors per query (LSH tier)
  val NumQueries = 10 // query set: vec_id < 10
  val NumPlanes = 6  // 64 buckets — sized for the test corpus (see planeTable)

  /** Deterministic hyperplanes: n x 64 ints in [-1000, 1000] from a
    * fixed-seed LCG. Generation is sequential, so `planeTable(m)` for m > n
    * starts with exactly the rows of `planeTable(n)` — callers can raise the
    * plane count without changing the buckets a smaller count produced bits
    * for. Sizing: bucket count is 2^n; pick
    * n ≈ log2(corpus / target_bucket_size). The registered test queries use
    * [[NumPlanes]] = 6 (64 buckets ~ 500-5k vectors); a 1e9-vector corpus
    * wants ≥ 16 planes (65k+ buckets, ~15k vectors/bucket). */
  def planeTable(n: Int): Array[Array[Long]] = {
    var state = 42L
    def next(): Long = { // MMIX LCG
      state = state * 6364136223846793005L + 1442695040888963407L
      math.floorMod(state >>> 16, 2001L) - 1000L
    }
    Array.fill(n, 64)(next())
  }

  val hyperplanes: Array[Array[Long]] = planeTable(NumPlanes)

  /** Corpus projection: raw `array<float>` vectors go straight into the
    * native expressions (which widen per element — exact), so there is no
    * per-row cast pass at all. */
  private def emb(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))

  /** The bounded query-side sample ([[NumQueries]] rows of the corpus
    * projection), memoized + localCheckpointed per corpus slot —
    * optimization r16 (guide §6/§1.2-1): every ANN tier re-derived this
    * sample with its OWN parquet scan of the embeddings table (q105's
    * three-tier union planned NINE query-side scans; q141's per-subspace
    * distance table [[PqM]] more), so the registry's most scan-heavy
    * plans re-read the corpus file once per anchor. One queries×dim
    * checkpoint — control-plane sized — serves every consumer; the
    * CORPUS side keeps streaming from parquet unchanged (at 100 TB the
    * corpus cannot checkpoint; the query sample always could). */
  private def queryAnchor(s: SparkSession, d: String): DataFrame =
    SessionCache.getOrElseUpdate(s, d, "query_anchor")(
      emb(s, d).filter(col("vec_id") < NumQueries).localCheckpoint(true))

  /** Native one-pass cosine (see class doc for why not aggregate/zip_with). */
  private def cosine(a: String, b: String) = expr(s"vec_cosine($a, $b)")

  /** Shared ranking tail of every kNN tier: best k per query, ordered
    * (sim desc, neighbor asc — the deterministic oracle order). Catalyst
    * rewrites the rank-filter into WindowGroupLimit (verified in the q25
    * executed plan): each partition keeps only its k best rows per query
    * BEFORE the window shuffle, so this declarative form already gets the
    * bounded-heap behavior [[q49KnnAgg]]'s typed Aggregator implements by
    * hand — the two shapes are equivalent at scale, kept side by side as
    * the optimizer-trusting and explicit variants. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("q_id", "rnk")
  }

  /** Exact cosine top-k for the sampled query set — ONE definition of the
    * brute-force ground truth, served at [[K]] by q25 and consumed at
    * [[LshK]] by the q105 recall monitor (so the monitor can never measure
    * against a different truth than q25 serves). round(sim, 6) before
    * ranking makes the order robust to last-ulp differences between
    * engines; ties break on neighbor id. */
  /** The matched-k ([[LshK]]) brute truth pair list, memoized per
    * corpus slot — optimization r15: q105 checkpointed its own copy
    * but q152 re-derived the identical truth and q174 embedded the
    * derivation TWICE (once per probeStats chain in its union plan), so a
    * full run paid the corpus×queries exact-cosine pass four times. One
    * [[SessionCache]]-cached localCheckpoint (queries × k rows —
    * bounded control plane) serves all four consumers; at 100 TB this is
    * three saved corpus scans per corpus slot. */
  private[ops] def bruteTruthAtLshK(s: SparkSession, d: String): DataFrame =
    SessionCache.getOrElseUpdate(s, d, "brute_truth")(deriveBruteTruth(s, d))

  private def deriveBruteTruth(s: SparkSession, d: String): DataFrame =
    bruteTopK(s, d, LshK).select("q_id", "neighbor_id").localCheckpoint(true)

  private[ops] def bruteTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val corpus = emb(s, d)
    val queries = queryAnchor(s, d)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    rankTopK(
      corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(cosine("v", "qv"), 6).as("sim")),
      k)
  }

  /** C3 baseline: exact cosine top-K for each query vector (vec_id < 10). */
  def q25KnnBrute(s: SparkSession, d: String): DataFrame =
    bruteTopK(s, d, K)

  val HardNegK = 3 // hard negatives per query

  /** C3 hard-negative mining (q132): for each query vector, the
    * [[HardNegK]] most cosine-similar corpus vectors with a DIFFERENT
    * label — the negatives contrastive training wants (similar enough to
    * be hard, labeled different so they are true negatives; the DPR/
    * SimCSE in-batch-negatives upgrade). Exact brute tier over the
    * bounded query sample, same shape and same caveat as [[q25KnnBrute]]:
    * the corpus streams once against a broadcast query set; at scale,
    * probe the q53 IVF cells first and apply the label filter inside the
    * probed cells — scoring and ranking are unchanged. */
  def q132HardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"), col("label"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("label").as("q_label"))
    rankTopK(
      e.join(broadcast(queries),
          col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(cosine("v", "qv"), 6).as("sim")),
      HardNegK)
  }

  /** bucket(v) = sum_j 2^j * [dot(v, plane_j) >= 0] — ONE compiled pass over
    * the vector for all planes ([[graft.functions.RhpBucket]]). */
  private[ops] def withBucket(df: DataFrame, planes: Int = NumPlanes): DataFrame =
    df.withColumn("bucket", expr(s"rhp_bucket(v, $planes)"))

  /** C3 scale tier: multi-probe LSH top-k. Probe set per query = own bucket +
    * every Hamming-distance-1 bucket (`planes`+1 probes). The registered
    * query runs at [[NumPlanes]]; at a larger corpus pass a plane count
    * sized per [[planeTable]] — the plan shape (hash once, equi-join on
    * bucket, window per query) is unchanged. */
  def knnLsh(s: SparkSession, d: String, planes: Int): DataFrame = {
    val corpus = withBucket(emb(s, d), planes)
    val queries = withBucket(queryAnchor(s, d), planes)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(expr(
          s"transform(sequence(0, $planes), p -> CASE WHEN p = $planes THEN bucket ELSE cast(bucket ^ shiftleft(1, p) as bigint) END)"))
          .as("probe"))
    rankTopK(
      corpus.join(queries,
          col("bucket") === col("probe") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(cosine("v", "qv"), 6).as("sim"))
        .distinct(), // a neighbor can match several probes of one query
      LshK)
  }

  def q26KnnLsh(s: SparkSession, d: String): DataFrame = knnLsh(s, d, NumPlanes)

  /** C3 index-quality evaluation: recall@k of the LSH tier (q26) against
    * the exact brute-force top-k at the SAME k — the monitoring number an
    * ANN deployment watches to catch silent index degradation (plane-count
    * misconfiguration, embedding-model drift) before it poisons retrieval.
    * Output: per-query hit count and recall, every query present even at
    * zero hits.
    *
    * Scale shape: ground truth is the expensive exact pass, so production
    * runs it on a SAMPLED query set — exactly what the [[NumQueries]]
    * query side already models (broadcast queries, corpus streams once);
    * both top-k relations are queries×k rows, so the compare joins are
    * trivially small. */
  def q105AnnRecall(s: SparkSession, d: String): DataFrame = {
    // memoized + checkpointed: queries x k rows, consumed by BOTH tier
    // compares here AND by q152/q174's probe measurements — the exact
    // brute pass is the expensive half of every recall monitor and must
    // run once per corpus slot, not once per consumer.
    // optimization r15 (guide §2.6): the truth checkpoint and the joint
    // k-means/PQ fit (triggered below when the ivf/ivfadc tiers build
    // their codebook literals) are INDEPENDENT serial job chains — the
    // truth derives from a worker thread so its jobs back-fill the fit's
    // driver-side Lloyd's collects instead of queueing after them.
    // The fit holds the corpus slot's SessionCache lock, so the worker
    // derives the truth outside the cache (its query anchor is cached
    // first, here) and the truth is installed after the await, never
    // awaited under it.
    queryAnchor(s, d)
    val truthPool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val truthF = scala.concurrent.Future(
      SessionCache.get[DataFrame](s, d, "brute_truth")
        .getOrElse(deriveBruteTruth(s, d)))(
      scala.concurrent.ExecutionContext.fromExecutor(truthPool))
    truthPool.shutdown() // runs the one queued task, then the thread exits
    lazy val truth = {
      val derived = scala.concurrent.Await.result(
        truthF, scala.concurrent.duration.Duration.Inf)
      SessionCache.getOrElseUpdate(s, d, "brute_truth")(derived)
    }
    def tier(name: String, approx: DataFrame): DataFrame = {
      val hits = truth
        .join(approx.select("q_id", "neighbor_id"),
          Seq("q_id", "neighbor_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      // the query SET comes from the sampled queries themselves, not from
      // truth rows — a query with zero hits (or even zero candidates) still
      // reports its row
      queryAnchor(s, d)
        .select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(lit(name).as("tier"), col("q_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          lit(LshK.toLong).as("k"),
          round(coalesce(col("n_hit"), lit(0L)) / lit(LshK), 4).as("recall"))
    }
    // all three ANN tiers against ONE ground truth at matched k: the
    // monitor that catches a silently-degrading index also says which
    // index to serve (IVF probes its 2 cosine-nearest of the ~sqrt(n)
    // adaptive-K cells; LSH
    // probes 7/64 buckets; IVFADC probes its 2 L2-nearest cells on the
    // quantized grid and scores by PQ lookups — its recall delta vs the
    // ivf tier mostly reflects quantization loss, though the two probe
    // metrics can pick different cells for boundary queries when centroid
    // norms differ)
    // matched-k contract: the ivfadc tier emits PqAdcK rows per query and
    // is scored against the LshK-truth — pin the equality so tuning one
    // dial cannot silently break the comparison (the tier() divisor and
    // the oracle both assume it)
    require(PqAdcK == LshK,
      s"q105 compares tiers at matched k: PqAdcK ($PqAdcK) must equal LshK ($LshK)")
    tier("ivf", knnIvf(s, d, LshK))
      .unionAll(tier("lsh", q26KnnLsh(s, d)))
      .unionAll(tier("ivfadc", q141Ivfadc(s, d)))
      .orderBy("tier", "q_id")
  }

  val NumProbes = 2     // cells searched per query (recall/cost dial; the
                        // probe bound corpus*nprobe/K shrinks as the
                        // adaptive K grows ~ sqrt(corpus), so a fixed small
                        // nprobe stays a constant-recall dial, FAISS-style)
  val NprobeGrid: Seq[Int] = Seq(1, 2, 4) // sweep points bracketing NumProbes

  /** IVF nprobe tuning sweep (q152): recall@k AND probed-candidate cost of
    * the IVF tier at every nprobe in [[NprobeGrid]], against the exact
    * brute-force truth at matched k — the measured curve that justifies
    * the [[NumProbes]] dial the q53/q105/q141 tiers run on. q105 tells you
    * the index degraded; this says which way to move the dial and what
    * each recall point costs (n_cand IS corpus·nprobe/K realized — the
    * probe bound made observable per sweep point).
    *
    * Scale shape: the cell ranking is K rows per query (control-plane,
    * bounded by MaxKMeansK); the grid join multiplies probes by |grid|
    * (3), so total candidate volume is Σ(np)·corpus/K per query — the
    * sweep costs ~3.5× one NumProbes=2 search over the SAMPLED query set,
    * the standard price of an offline tuning pass. The per-(np, q_id)
    * top-k is the salted two-phase shape ([[adcTopK]]'s), never a
    * corpus-sized single-partition window; the brute truth is the same
    * [[bruteTopK]] pass the q105 monitor shares. */
  def q152NprobeSweep(s: SparkSession, d: String): DataFrame =
    probeMeasure(s, d, ivfCodebook(s, d), NprobeGrid)

  /** The ONE IVF probe-measurement chain — per (np, q_id): candidates
    * probed and truth hits at [[LshK]], for ANY codebook and nprobe grid.
    * q152 sweeps the grid over the trained codebook; q174's [[probeStats]]
    * fixes np = [[NumProbes]] and varies the CODEBOOK — one definition of
    * assignment, probing, the salted two-phase top-k and recall, so the
    * two measurements cannot drift apart. Shapes: assignment is a pure
    * projection (codebook as plan literal); the cell ranking is K
    * rows/query; candidates stream the cell equi-join (Σnp·corpus/K per
    * query); the per-(np, q_id) top-k is the salted two-phase shape;
    * every (np, query) row is present even at zero candidates. */
  private def probeMeasure(s: SparkSession, d: String,
      cents: Array[(Long, Array[Double])], npGrid: Seq[Int]): DataFrame = {
    val assigned = emb(s, d).select(col("vec_id"), col("v"),
      (-array_max(cellScoresArr(cents, "v")).getField("ci")).as("cell"))
    val qcells = queryAnchor(s, d)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(cellScoresArr(cents, "v")).as("sc"))
      .select(col("q_id"), col("qv"),
        (-col("sc.ci")).as("cell"), col("sc.s").as("s"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("s"), col("cell"))))
    val grid = s.createDataFrame(
      npGrid.map(np => Tuple1(np.toLong))).toDF("np")
    val probes = qcells.join(broadcast(grid), col("crk") <= col("np"))
      .select("np", "q_id", "qv", "cell")
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("np"), col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine("v", "qv"), 6).as("sim"))
    val w1 = Window.partitionBy("np", "q_id", "salt")
      .orderBy(desc("sim"), col("neighbor_id"))
    val w2 = Window.partitionBy("np", "q_id")
      .orderBy(desc("sim"), col("neighbor_id"))
    // optimization r15: `cand` (the probed-cell equi-join + cosine, the
    // expensive corpus-shaped stream) used to be consumed TWICE — once by
    // the top-k path and once by a separate n_cand rollup, re-running the
    // whole probe join. The per-salt candidate count now rides the salted
    // window's own exchange (an unordered count over w1's partition keys),
    // so the salted-phase survivors — ≤ |npGrid|·queries·salts·k rows,
    // bounded control plane — carry everything both consumers need; a
    // LAZY localCheckpoint severs them so top-k and n_cand share ONE
    // derivation materialized inside the one output action. n_cand is
    // exact: salts partition a (np, q)'s candidates, and every non-empty
    // salt keeps ≥ 1 survivor (its rank-1 row), so summing one salt_cnt
    // per surviving salt counts every probed candidate.
    val salted = cand
      .withColumn("salt", pmod(col("neighbor_id"), lit(AdcSalts.toLong)))
      .withColumn("salt_cnt", count(lit(1)).over(
        Window.partitionBy("np", "q_id", "salt")))
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= LshK)
      .select("np", "q_id", "neighbor_id", "sim", "salt", "salt_cnt")
      .localCheckpoint(false)
    val top = salted
      .withColumn("rnk", row_number().over(w2)).filter(col("rnk") <= LshK)
      .select("np", "q_id", "neighbor_id")
    val truth = bruteTruthAtLshK(s, d)
    val hits = top.join(truth, Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy("np", "q_id").agg(count(lit(1)).as("n_hit"))
    val ncand = salted.groupBy("np", "q_id", "salt")
      .agg(max("salt_cnt").as("salt_cnt"))
      .groupBy("np", "q_id").agg(sum("salt_cnt").as("n_cand"))
    queryAnchor(s, d)
      .select(col("vec_id").as("q_id")).crossJoin(broadcast(grid))
      .join(ncand, Seq("np", "q_id"), "left")
      .join(hits, Seq("np", "q_id"), "left")
      .select(col("np"), col("q_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        lit(LshK.toLong).as("k"),
        round(coalesce(col("n_hit"), lit(0L)) / lit(LshK), 4).as("recall"))
      .orderBy("np", "q_id")
  }
  val IvfK = 3          // neighbors per query (IVF tier)

  /** IVF codebook: the CONVERGED k-means centroids ([[kmeansFit]] — the
    * same Lloyd's fit q85 ships), mapped from the quantized grid back to
    * embedding space; cell ids are the surviving seed labels, so cells are
    * stable across consumers. Training the index on the actual fit (rather
    * than grabbing the first K corpus vectors) is what makes cell
    * populations track the data's real density at scale — arbitrary seeds
    * leave hot cells that defeat the probe bound. Deterministic and
    * oracle-reproducible: the oracle replays the same fixed-iteration
    * Lloyd's chain. K x 64 doubles of bounded control-plane data, the same
    * class as the literal [[hyperplanes]]. */
  private def ivfCodebook(s: SparkSession, d: String): Array[(Long, Array[Double])] = {
    val (labels, cents) = kmeansFit(s, d)
    labels.zip(cents.map(_.map(x =>
      (x - QuantOffset).toDouble / QuantScale)))
  }

  /** C3 third tier: IVF (inverted-file) ANN — the cluster-probe family,
    * complementing the hash-bucket family of [[q26KnnLsh]]:
    *   1. every corpus vector is ASSIGNED to its nearest centroid in-row
    *      (argmax over the adaptive-K converged-codebook cosines — a
    *      pure projection, ZERO shuffle; the codebook rides the closure
    *      exactly like the hyperplane table);
    *   2. each query probes its [[NumProbes]] nearest cells (multi-probe
    *      recall dial, same idea as IVF nprobe);
    *   3. exact cosine top-k within the probed cells only — per-query work
    *      is O(corpus * nprobe / K) instead of O(corpus).
    * The probe join broadcasts the tiny query side and equi-joins on cell
    * id, so the corpus streams once with no shuffle at any size. K grows
    * automatically with the corpus ([[kmeansKFor]] ≈ √n, oracle-mirrored),
    * so per-query probed work is ~[[NumProbes]]·√n, a SHRINKING fraction
    * of the corpus; at 1e9+ vectors also write the assigned corpus
    * bucketed by cell ([[graft.lake.LakeCatalog.writeBucketed]]) to
    * amortize assignment across repeated query batches.
    *
    * Argmax/tie rules match the oracle's `ORDER BY s DESC, c_id ASC`: the
    * in-row max is over struct(s, -c_id) so lexicographic max = best score,
    * ties to the smallest centroid id (negating the LONG id, not the
    * double score, sidesteps -0.0 comparison hazards). */
  def q53KnnIvf(s: SparkSession, d: String): DataFrame =
    knnIvf(s, d, IvfK)

  /** The IVF pipeline at any k — [[q53KnnIvf]] serves [[IvfK]]; the q105
    * recall monitor probes the same index at [[LshK]] to compare tiers at
    * matched k. */
  /** Per-cell cosine scores as an in-row array of (score, -cell_id)
    * structs — lexicographic max = best score with ties to the smallest
    * cell id (negating the LONG id, not the double score, sidesteps -0.0
    * comparison hazards). Shared by [[knnIvf]] and the q152 nprobe sweep
    * so the two can never disagree on cell assignment. */
  private def cellScoresArr(cents: Array[(Long, Array[Double])], v: String): Column =
    array(cents.toIndexedSeq.map { case (cid, vec) =>
      struct(
        round(call_function("vec_cosine", col(v), typedLit(vec.toSeq)), 6).as("s"),
        lit(-cid).as("ci"))
    }: _*)

  private[ops] def knnIvf(s: SparkSession, d: String, k: Int): DataFrame = {
    val cents = ivfCodebook(s, d)
    def cellScores(v: String): Column = cellScoresArr(cents, v)
    val assigned = emb(s, d).select(col("vec_id"), col("v"),
      (-array_max(cellScores("v")).getField("ci")).as("cell"))
    val queries = queryAnchor(s, d)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(transform(
          slice(sort_array(cellScores("v"), asc = false), 1, NumProbes),
          x => -x.getField("ci"))).as("cell"))
    rankTopK(
      assigned.join(broadcast(queries), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(cosine("v", "qv"), 6).as("sim")),
      k)
  }

  /** Embedding-health audit (q155): per label — vector count, dimension
    * range, effectively-zero vectors (norm 0 on the quantized grid, i.e.
    * every component under half a quantization step), exact-duplicate
    * vectors, and the exact integer norm² range. The input-integrity gate
    * an embedding pipeline runs BEFORE building any index on a new batch:
    * a broken encoder ships zero vectors, truncated dims or mass-duplicated
    * outputs long before recall monitors (q105) can notice, and each of
    * those failure modes poisons k-means training and LSH bucketing
    * silently.
    *
    * Exactness: norms ride [[graft.functions.IntVecExprs]]' integer grid
    * (scale [[QuantScale]], no offset — components may be negative), so
    * min/max norm² are exact BIGINTs in both engines. Scale shape: one
    * corpus scan computes dim/norm in-row; the dup check is one
    * exchange keyed on the vector value (at 1e9+ vectors key the exchange
    * on a 128-bit content fingerprint instead — same plan shape, smaller
    * key); the label rollup rides a |labels|-row aggregate. */
  def q155EmbedHealth(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val dupCnt = e.groupBy("embedding").agg(count(lit(1)).as("cnt"))
    e.join(dupCnt, Seq("embedding"))
      .select(col("label"),
        size(col("embedding")).cast("long").as("dim"),
        call_function("ivec_norm2",
          call_function("ivec_quant", col("embedding"),
            lit(QuantScale), lit(0))).as("norm2"),
        when(col("cnt") >= 2, 1L).otherwise(0L).as("is_dup"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("dim").as("min_dim"), max("dim").as("max_dim"),
        sum(when(col("norm2") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum("is_dup").as("n_dup"),
        min("norm2").as("min_norm2"), max("norm2").as("max_norm2"))
      .orderBy("label")
  }

  val NearDupCosine = 0.4

  /** C2c embedding-cosine near-dup: vector pairs with cosine >=
    * [[NearDupCosine]], candidates restricted to same-LSH-bucket pairs via a
    * self-EQUI-JOIN on the bucket key — a shuffled hash join whose per-task
    * memory is one hash bucket, never a materialized per-bucket vector array
    * (the former `collect_list(struct(vec_id, v))` put ~corpus/2^planes full
    * vectors into ONE row — an executor-OOM at scale). Expected rows per
    * bucket ≈ corpus / 2^planes (uniform-ish signatures): at [[NumPlanes]]=6
    * and the 5k-vector test corpus that is ~80; a 1e9-vector corpus needs
    * ≥ 16 planes to keep buckets ~15k and the in-bucket pair expansion
    * (quadratic per bucket) bounded; AQE skew-join splits hot buckets.
    * Recall: near-identical vectors collide in all planes, so
    * threshold-level pairs are caught regardless of plane count. */
  def dedupEmbedding(s: SparkSession, d: String, planes: Int): DataFrame = {
    val b = withBucket(emb(s, d), planes)
    val l = b.select(col("bucket"), col("vec_id").as("id_a"), col("v").as("va"))
    val r = b.select(col("bucket"), col("vec_id").as("id_b"), col("v").as("vb"))
    l.join(r, "bucket")
      .filter(col("id_a") < col("id_b")) // each vector has ONE bucket: no dup pairs
      .select(col("id_a"), col("id_b"), round(cosine("va", "vb"), 6).as("sim"))
      .filter(col("sim") >= NearDupCosine)
      .orderBy("id_a", "id_b")
  }

  val DedupTargetBucket = 64L // expected vectors per LSH bucket the in-bucket pair scan is sized for
  val MaxDedupPlanes = 14     // oracle inlines this plane-table prefix (2^14 buckets)

  /** q44's plane count grows WITH the corpus: smallest p (floored at
    * [[NumPlanes]], capped at [[MaxDedupPlanes]]) such that 2^p buckets
    * keep expected occupancy <= [[DedupTargetBucket]] — in-bucket pair
    * volume then stays ~n × bucket (LINEAR in corpus size) instead of
    * n²/2^planes. The r7 sf1 stress run measured the fixed-plane form at
    * 21× cost for 10× data; [[planeTable]]'s prefix property makes the
    * adaptive count a pure extension (same first 6 planes at every test
    * scale, so the sf0.001-0.1 results are unchanged). Integer-only
    * arithmetic (no log2 floats), mirrored exactly by the oracle's
    * generate_series probe. Its count() job runs once per corpus slot. */
  private[ops] def dedupPlanes(s: SparkSession, d: String): Int =
    SessionCache.getOrElseUpdate(s, d, "dedup_planes") {
      val n = Tables.embeddings(s, d).count()
      val cells = (n + DedupTargetBucket - 1) / DedupTargetBucket
      val p = if (cells <= 1L) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(cells - 1)
      Int.box(math.min(MaxDedupPlanes, math.max(NumPlanes, p)))
    }.intValue

  def q44DedupEmbedding(s: SparkSession, d: String): DataFrame =
    dedupEmbedding(s, d, dedupPlanes(s, d))

  /** Typed single-pass grouped top-k (SURVEY §7.5's custom `Aggregator`):
    * each partition keeps only its k best (neighbor, sim) pairs, so the
    * shuffle carries k rows per (partition, query) instead of the full
    * candidate set — the alternative to window row_number when candidate
    * lists are huge. Ordering matches q25: sim desc, neighbor id asc. */
  case class TopKBuf(items: Seq[(Long, Double)])

  class TopKAggregator(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long, Double), TopKBuf, TopKBuf] {
    private def trim(s: Seq[(Long, Double)]): Seq[(Long, Double)] =
      s.sortBy(t => (-t._2, t._1)).take(k)
    override def zero: TopKBuf = TopKBuf(Nil)
    override def reduce(b: TopKBuf, a: (Long, Long, Double)): TopKBuf =
      TopKBuf(trim(b.items :+ ((a._2, a._3))))
    override def merge(x: TopKBuf, y: TopKBuf): TopKBuf =
      TopKBuf(trim(x.items ++ y.items))
    override def finish(b: TopKBuf): TopKBuf = TopKBuf(trim(b.items))
    override def bufferEncoder = org.apache.spark.sql.Encoders.product[TopKBuf]
    override def outputEncoder = org.apache.spark.sql.Encoders.product[TopKBuf]
  }

  /** C3 via the typed Aggregator — same result (and same oracle) as
    * [[q25KnnBrute]], different physical strategy: partial top-k per
    * partition, merge, no window sort. */
  def q49KnnAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corpus = emb(s, d)
    val queries = queryAnchor(s, d)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine("v", "qv"), 6).as("sim"))
      .as[(Long, Long, Double)]
    val agg = new TopKAggregator(K).toColumn.name("top")
    scored.groupByKey(_._1).agg(agg)
      .flatMap { case (qId, top) =>
        top.items.zipWithIndex.map { case ((n, sim), i) => (qId, n, sim, (i + 1).toLong) }
      }
      .toDF("q_id", "neighbor_id", "sim", "rnk")
      .orderBy("q_id", "rnk")
  }

  /** Opt-in gate for the sketch operators' exact self-checks (q27 distinct
    * count, q62 percentile). Set by [[graft.Verify]] (the correctness
    * driver) — an EXPLICIT flag, not a data-dir-name sniff: a production
    * path without an `sfN` segment must default to the cheap sketch-only
    * branch, never accidentally run the exact pass the sketch exists to
    * avoid. */
  val ExactCheckConf = "spark.graft.exactCheck"
  private[ops] def validateExact(s: SparkSession): Boolean =
    s.conf.getOption(ExactCheckConf).contains("true")

  /** C4 approximate distinct: HLL++ `approx_count_distinct` (rsd 1%). Under
    * [[ExactCheckConf]] (correctness runs only) the exact count runs
    * alongside and `n_users` is exact with `approx_ok` checking the sketch's
    * error — the DuckDB hash oracle verifies accuracy without bit-matching
    * HLL internals. Otherwise (bench/production default) the exact side is
    * DROPPED (it would dominate the cost of the sketch it validates):
    * `n_users` is the sketch estimate. */
  def q27ApproxDistinct(s: SparkSession, d: String): DataFrame =
    if (validateExact(s))
      events(s, d).agg(
        countDistinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id"), 0.01).as("approx"))
        .select(col("n_users"),
          (abs(col("approx") - col("n_users")) <=
            col("n_users") * 0.05).as("approx_ok"))
    else
      events(s, d)
        .agg(approx_count_distinct(col("user_id"), 0.01).as("n_users"))
        .select(col("n_users"), lit(true).as("approx_ok"))

  /** C4b approximate percentile — the same gated-exactness discipline as
    * [[q27ApproxDistinct]]: under [[ExactCheckConf]] the exact interpolated
    * percentile runs alongside the t-digest-style sketch and `approx_ok`
    * bounds the sketch's relative error (2%); the production default is
    * sketch-only (`approx_percentile`, one pass, mergeable partial state —
    * the only viable shape at 100 TB, where exact percentiles need a full
    * sort or multi-pass selection). */
  def q62ApproxPercentile(s: SparkSession, d: String): DataFrame =
    // p50 is FLOORED to a bigint, not rounded to cents: an even-count
    // group's median is the midpoint of two 2-decimal prices — exactly a
    // .xx5 value, where Spark's round (BigDecimal HALF_UP on the binary
    // double) and DuckDB's round (C-library) disagree depending on which
    // side of the true half the double representation landed. floor() has
    // no midpoint and is bit-stable on both engines.
    if (validateExact(s))
      orders(s, d).groupBy("o_orderpriority")
        .agg(floor(expr("percentile(o_totalprice, 0.5)")).as("p50"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("approx"))
        .select(col("o_orderpriority"), col("p50"),
          (abs(col("approx") - col("p50")) <= col("p50") * 0.02).as("approx_ok"))
        .orderBy("o_orderpriority")
    else
      orders(s, d).groupBy("o_orderpriority")
        .agg(floor(expr("approx_percentile(o_totalprice, 0.5, 10000)")).as("p50"))
        .select(col("o_orderpriority"), col("p50"), lit(true).as("approx_ok"))
        .orderBy("o_orderpriority")

  /** Shared oracle CTE chain for the LSH probe pipeline, ending in `ranked`
    * — composed by the q26 top-k select, the q84 rerank, and the q105
    * recall oracle (its `ltop` CTE reads `ranked`). */
  private def lshProbeCtes: String = {
    val planes = hyperplanes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_inner_product(v, ${p.mkString("[", ",", "]")}::DOUBLE[]) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      b AS (SELECT vec_id, v, ($planes)::BIGINT AS bucket FROM e),
      probes AS (
        SELECT vec_id AS q_id, v AS qv, bucket,
               CASE WHEN p.p = $NumPlanes THEN bucket
                    ELSE xor(bucket, 1::BIGINT << p.p) END AS probe
        FROM b, (SELECT unnest(generate_series(0, $NumPlanes)) AS p) p
        WHERE vec_id < $NumQueries
      ),
      cand AS (
        SELECT DISTINCT pr.q_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(c.v, pr.qv), 6) AS sim
        FROM probes pr JOIN b c ON c.bucket = pr.probe AND c.vec_id <> pr.q_id
      ),
      ranked AS (
        SELECT q_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rnk
        FROM cand
      )"""
  }

  private def lshProbeSql: String =
    s"""
      $lshProbeCtes
      SELECT q_id, neighbor_id, sim, rnk FROM ranked
      WHERE rnk <= $LshK ORDER BY q_id, rnk"""

  /** C3b int8 scalar-quantization audit: per-vector min/max scale, quantize
    * each component to 0..255, dequantize, report the worst absolute
    * reconstruction error — the go/no-go check before shipping a quantized
    * ANN index (4x memory cut; recall holds iff the error stays below the
    * score margins). Pure per-row projection, ZERO shuffle before the
    * output sort — scales with scan bandwidth. The per-element lambdas
    * evaluate interpreted; if this audit ever dominates a pipeline, hoist
    * it into a native expression (the `vec_cosine` precedent — measured
    * 14x there) rather than tolerating the lambda or writing a UDF.
    * Constant vectors (max = min) define error 0 explicitly. */
  def q77QuantError(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("mn", expr("array_min(v)"))
      .withColumn("mx", expr("array_max(v)"))
      .withColumn("sc", (col("mx") - col("mn")) / lit(255.0))
      .select(col("vec_id"),
        round(col("mn"), 6).as("vmin"),
        round(col("mx"), 6).as("vmax"),
        round(expr("CASE WHEN sc = 0 THEN 0.0 ELSE " +
          "array_max(transform(v, x -> abs(x - (mn + round((x - mn) / sc) * sc)))) " +
          "END"), 8).as("max_err"))
      .orderBy("vec_id")

  /** Bit widths swept by q166 — brackets q77's shipped 8-bit audit. */
  val QuantBitsGrid: Seq[Int] = Seq(2, 4, 8)

  /** Quantization bit-width sweep (q166): per candidate bit width, the
    * corpus-level reconstruction-error envelope of per-vector min/max
    * scalar quantization — max and floor-mean of the per-vector worst
    * error, in 1e-8 integer units. q77 audits the SHIPPED 8-bit scheme
    * per vector; this is the curve that picks the width (the
    * q152/q153/q158/q159 sweep discipline applied to the
    * memory-bandwidth knob: 2-bit halves storage twice more than 8-bit
    * but the error curve says what retrieval pays).
    *
    * Exactness: per-vector errors round to integer 1e-8 units IN-ROW
    * (one fixed association order of IEEE ops, the q77 shapes), so every
    * aggregate is an order-free integer sum/max — no cross-partition
    * float summation to diverge on. One corpus scan serves all three
    * arms via an in-row explode. */
  def q166QuantSweep(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("mn", expr("array_min(v)"))
      .withColumn("mx", expr("array_max(v)"))
    val arms = QuantBitsGrid.map { bits =>
      val l = ((1 << bits) - 1).toString + ".0"
      struct(lit(bits.toLong).as("bits"),
        lit(((1 << bits) - 1).toLong).as("levels"),
        expr(s"""cast(round((CASE WHEN mx = mn THEN 0.0 ELSE
          array_max(transform(v, x -> abs(x - (mn +
            round((x - mn) / ((mx - mn) / $l)) * ((mx - mn) / $l)))))
          END) * 100000000) as bigint)""").as("err8"))
    }
    base.select(explode(array(arms: _*)).as("e"))
      .select(col("e.bits").as("bits"), col("e.levels").as("levels"),
        col("e.err8").as("err8"))
      .groupBy("bits", "levels")
      .agg(count(lit(1)).as("n_vecs"),
        max("err8").as("max_err_x1e8"),
        expr("sum(err8) div count(1)").as("mean_err_x1e8"))
      .orderBy("bits")
  }

  val RerankK = 2
  val RerankSimWeight = 0.7 // blend: 0.7 * ANN cosine + 0.3 * rerank score
  // spelled out, not 1 - RerankSimWeight: the subtraction yields
  // 0.30000000000000004 while the oracle's literal parses to 0.3 exactly
  val RerankCeWeight = 0.3

  /** C3d two-stage retrieval: ANN recall (the q26 LSH probe) proposes
    * [[LshK]] candidates per query, then an expensive per-pair scorer runs
    * ONLY on those query x candidate pairs and the blend re-ranks to the
    * final [[RerankK]] — the standard retrieval architecture that keeps
    * the costly model off the corpus (queries x LshK pairs, never
    * queries x corpus). The scorer here is an honestly-labeled
    * deterministic stand-in (an md5-uniform draw per pair — this container
    * ships no model runtime; the [[Multimodal.MediaCodec]] discipline): in
    * production it is a cross-encoder behind `mapInPandas`/a model server,
    * and the surrounding plumbing — candidate generation, pair-bounded
    * scoring, blend, per-query re-rank — is exactly what would ship. */
  def q84RerankTopK(s: SparkSession, d: String): DataFrame = {
    val scored = q26KnnLsh(s, d)
      .select(col("q_id"), col("neighbor_id"), col("sim"))
      .withColumn("ce", expr(
        "cast(conv(substring(md5(concat(cast(q_id as string), ':', " +
          "cast(neighbor_id as string))), 1, 8), 16, 10) as bigint) " +
          "/ 4294967296.0"))
      .withColumn("final_score",
        round(lit(RerankSimWeight) * col("sim")
          + lit(RerankCeWeight) * col("ce"), 6))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("final_score"), col("neighbor_id"))
    scored.withColumn("rr", row_number().over(w).cast("long"))
      .filter(col("rr") <= RerankK)
      .select("q_id", "rr", "neighbor_id", "sim", "final_score")
      .orderBy("q_id", "rr")
  }

  /** C3c per-dimension embedding statistics (mean/std/min/max per
    * coordinate) — the profile that feeds whitening/standardization before
    * ANN indexing, and the drift check for an embedding-model swap. One
    * posexplode scan, one 64-key aggregation with map-side partial agg.
    * The floating sums fold in SORTED order (the q76 normalizer pattern)
    * so mean/std are bit-stable and oracle-exact; the fold buffers one
    * corpus-length list per dimension, so at production scale (1e9
    * vectors) switch to plain `sum` + tolerance comparison — the sorted
    * fold is the oracle-exactness tier, not the throughput tier. Std is
    * derived from the exact sums at the end, in one double expression
    * identical on both engines. */
  def q82DimStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(expr("transform(embedding, x -> cast(x as double))"))
        .as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("dim"), col("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        TextOps.orderedSum("x").as("sx"),
        TextOps.orderedSum("x * x").as("sxx"),
        min("x").as("min_x"), max("x").as("max_x"))
      .select(col("dim"), col("n"),
        round(col("sx") / col("n"), 6).as("mean"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
          / (col("n") - 1)), 6).as("std"),
        round(col("min_x"), 6).as("min_x"),
        round(col("max_x"), 6).as("max_x"))
      .orderBy("dim")

  /** Per-(label, dim) EXACT integer sums of origin-centered quantized
    * embeddings (offset 0 — cosine needs the origin, unlike the k-means
    * grid) — ONE definition of the sum-vector geometry shared by the
    * corpus-drift monitor (q118) and the label-affinity matrix (q126).
    * Checkpointed: labels x dims rows regardless of corpus size. */
  private[ops] def labelDimSums(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"),
        call_function("ivec_quant", col("embedding"),
          lit(QuantScale), lit(0)).as("q"))
      .select(col("label"), posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .localCheckpoint(true)

  /** C3h per-label centroid-drift monitor: each label's mean embedding
    * compared (cosine) against the corpus mean — the semantic-drift alarm
    * beside q78's token-level KL: a label (or source shard) whose centroid
    * swings away from the corpus is off-distribution even when its token
    * histogram still looks normal. All geometry is EXACT integer
    * arithmetic on the shared [[labelDimSums]] grid: cosine is
    * scale-invariant, so the per-label SUM vector stands in for the mean
    * and every dot/norm is an integer sum of integer products
    * (decimal(38) accumulator engine-side, HUGEINT oracle-side —
    * overflow-proof at any corpus size); the only float ops are the final
    * sqrt/divide, one fixed expression tree on identical integers on both
    * engines.
    *
    * Shape: one embeddings scan -> posexplode -> (label, dim) partial-agg
    * shuffle bounded by labels x dims; the global centroid is a rollup of
    * THAT aggregate (checkpointed, no second scan) broadcast back. */
  def q118EmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val byDim = labelDimSums(s, d)
    val global = byDim.groupBy("dim").agg(sum("sv").as("gv"))
    byDim.join(broadcast(global), "dim")
      .groupBy("label")
      .agg(max("n").as("n_vecs"), // n is constant across a label's dims
        sum(expr("cast(sv as decimal(38,0)) * gv")).as("dot"),
        sum(expr("cast(sv as decimal(38,0)) * sv")).as("n2l"),
        sum(expr("cast(gv as decimal(38,0)) * gv")).as("n2g"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        round(col("dot").cast("double") /
          (sqrt(col("n2l").cast("double")) * sqrt(col("n2g").cast("double"))),
          6).as("cos_to_corpus"),
        round(sqrt(col("n2l").cast("double")) / col("n_vecs") /
          lit(QuantScale.toDouble), 4).as("mean_norm"))
      .orderBy("label")
  }

  val DriftTrendBands = 10 // vec_id bands for the q188 drift trend

  /** Embedding drift TREND (q188): per vec_id band (the arrival proxy,
    * the q168/q140 banding convention), the band's sum-vector cosine to
    * the whole-corpus mean direction and its mean norm — q118 re-cut
    * along TIME instead of label. This is the encoder-regression alarm: a
    * silent encoder version bump or input-domain shift shows up as the
    * newest bands' cosine sagging away from 1 long before any label-level
    * view moves, and BEFORE the vectors poison k-means training or the
    * served index (q171/q174 then price the damage; this catches it at
    * ingest).
    *
    * Exactness: the q118 geometry exactly — integer quantized per-dim
    * sums (one corpus pass to a bands×dims marginal), decimal(38)
    * dot/norm accumulators, ONE final float cosine per band rounded at
    * 6 dp. */
  def q188DriftTrend(s: SparkSession, d: String): DataFrame = {
    val mx = Tables.embeddings(s, d).agg((max("vec_id") + 1).as("m"))
    val byDim = quantized(s, d, 0) // no offset: raw signed grid, q118's rule
      .crossJoin(broadcast(mx))
      .withColumn("band", expr(s"(vec_id * $DriftTrendBands) div m"))
      .select(col("band"), posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy("band", "dim")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
    val global = byDim.groupBy("dim").agg(sum("sv").as("gv"))
    byDim.join(broadcast(global), "dim")
      .groupBy("band")
      .agg(max("n").as("n_vecs"), // n is constant across a band's dims
        sum(expr("cast(sv as decimal(38,0)) * gv")).as("dot"),
        sum(expr("cast(sv as decimal(38,0)) * sv")).as("n2b"),
        sum(expr("cast(gv as decimal(38,0)) * gv")).as("n2g"))
      .select(col("band"), col("n_vecs"),
        round(col("dot").cast("double") /
          (sqrt(col("n2b").cast("double")) * sqrt(col("n2g").cast("double"))),
          6).as("cos_to_corpus"),
        round(sqrt(col("n2b").cast("double")) / col("n_vecs") /
          lit(QuantScale.toDouble), 4).as("mean_norm"))
      .orderBy("band")
  }

  /** C3i label-affinity matrix: pairwise cosine between every two labels'
    * centroid directions — the confusion-proximity map that says WHICH
    * classes are semantically entangled (q118 only says how far each sits
    * from the corpus). High-affinity pairs are where a classifier will
    * bleed and where per-class dedup thresholds need headroom. Same exact
    * integer geometry as q118 on the shared [[labelDimSums]]: the
    * dim-keyed self-join streams labels² rows per dimension (bounded by
    * the label vocabulary, never the corpus), and each pair's dot/norms
    * are decimal(38)-exact before the one float expression. */
  def q126LabelAffinity(s: SparkSession, d: String): DataFrame = {
    val sums = labelDimSums(s, d)
    val a = sums.select(col("label").as("label_a"), col("dim"),
      col("sv").as("sa"))
    val b = sums.select(col("label").as("label_b"), col("dim"),
      col("sv").as("sb"))
    a.join(b, "dim")
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(expr("cast(sa as decimal(38,0)) * sb")).as("dot"),
        sum(expr("cast(sa as decimal(38,0)) * sa")).as("n2a"),
        sum(expr("cast(sb as decimal(38,0)) * sb")).as("n2b"))
      .select(col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"),
        round(col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))),
          6).as("cos_ab"))
      .orderBy("label_a", "label_b")
  }

  // ---------------------------------------------------------------- k-means
  val KMeansK = 8       // codebook-size FLOOR (corpora under 64 vectors)
  val MaxKMeansK = 4096 // adaptive-K cap: the codebook rides query plans as
                        // a literal / closure (K×64 longs) and the trainer
                        // collects ≤ K×64 partial sums per iteration, so K
                        // stays control-plane-sized; past the cap
                        // (n > ~16.8M vectors) serve the codebook from the
                        // lake instead ([[codebookTable]] + cell-bucketed
                        // index rows) — same index, different carrier
  val KMeansIters = 2   // Lloyd's iterations (fixed, mirrored in the oracle)

  /** The codebook size grows WITH the corpus — IVF practice sizes
    * K ≈ √n (FAISS guideline), so the per-query probe bound
    * corpus·nprobe/K ≈ nprobe·√n SHRINKS relative to the corpus as data
    * grows (at fixed K it was a constant fraction — the r7 `weak` flag).
    * Smallest k with k·k ≥ n, floored at [[KMeansK]], capped at
    * [[MaxKMeansK]] — integer-only (no float sqrt), mirrored exactly by
    * the oracle's generate_series probe ([[adaptiveKSql]]), the
    * q44/q86 adaptive-capacity pattern. */
  private[ops] def kmeansKFor(n: Long): Int = {
    var k = KMeansK
    while (k < MaxKMeansK && k.toLong * k < n) k += 1
    k
  }

  /** Adaptive K for corpus `d`: [[kmeansKFor]] of the vector count. The
    * count() is a parquet-metadata job, and every caller sits inside the
    * memoized training path, so it never re-runs per query. */
  private[ops] def adaptiveKmeansK(s: SparkSession, d: String): Int =
    kmeansKFor(Tables.embeddings(s, d).count())

  /** The oracle's mirror of [[kmeansKFor]]: a scalar subquery every seed
    * LIMIT shares — min k in [1, cap] with k·k ≥ n (NULL past the cap →
    * coalesce to the cap), floored and capped like the engine. */
  private def adaptiveKSql: String =
    s"""(SELECT least($MaxKMeansK, greatest($KMeansK,
         coalesce((SELECT min(k) FROM generate_series(1, $MaxKMeansK) t(k)
                   WHERE k * k >= (SELECT count(*) FROM embeddings)),
           $MaxKMeansK))))"""
  val QuantScale = 1000 // quantization grid: round(x * 1000)
  val QuantOffset = 1024 // shift onto a non-negative grid (|x| <= 1 for
                         // unit-norm embeddings) so integer centroid means
                         // have no floor-vs-truncate ambiguity cross-engine

  /** Quantized embeddings: one native pass ([[graft.functions.IntVecQuant]]),
    * `round(x*1000) + offset` per element — every downstream k-means /
    * SemDeDup number is then EXACT int64 arithmetic that DuckDB reproduces
    * bit-for-bit (no float-summation-order caveats, unlike mllib KMeans). */
  private[ops] def quantized(s: SparkSession, d: String, offset: Int): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
      call_function("ivec_quant", col("embedding"),
        lit(QuantScale), lit(offset)).as("q"))

  private[ops] def centLit(cents: Array[Array[Long]]): Column =
    typedLit(cents.map(_.toSeq).toSeq)

  /** Survivor-label lookup for a 0-based codebook position — the ONE
    * definition of the position→seed-label convention shared by q85's
    * assignment, the PQ encoders and the IVFADC index. Labels ascend with
    * position ([[computeKmeansFit]]'s survivor rule), which is what makes
    * `ivec_nearest`'s lowest-position tie-break equal the oracle's
    * `ORDER BY dd, c`. */
  private def labelAt(labels: Array[Long], pos0: Column): Column =
    element_at(typedLit(labels.toSeq), (pos0 + 1).cast("int"))

  /** Seed codebook: the k lowest vec_ids' quantized vectors — deterministic
    * and oracle-reproducible (k-means++ would need a cross-engine RNG).
    * Driver-side collect is k rows — bounded control plane, same shape as
    * mllib's centroid broadcast. */
  private[ops] def seedCentroids(q: DataFrame, k: Int): Array[Array[Long]] =
    q.orderBy("vec_id").limit(k).select("q").collect()
      .map(_.getSeq[Long](0).toArray)

  /** Lloyd's k-means over quantized embeddings (q85). Per iteration:
    * assignment is ONE compiled map-side pass ([[graft.functions.IntVecNearest]]
    * with the K*D centroid table as a plan literal — the broadcast side);
    * the update is a posexplode + groupBy(cluster, dim) whose partial
    * aggregation collapses each partition to at most K*D rows before the
    * shuffle, then a K*D-row driver collect computes integer means. At 1e9
    * rows the corpus is scanned once per iteration with no corpus-sized
    * shuffle anywhere — the mllib treeAggregate shape, expressed
    * declaratively. Clusters that lose all members drop out of the codebook
    * (labels keep their seed identity, so survivors' ids are stable).
    * Output: (vec_id, cluster, d2) with exact squared distances. */
  /** The Lloyd's loop itself: (surviving seed labels, converged quantized
    * centroids) after [[KMeansIters]] iterations. Memoized per corpus
    * slot — the result is K x D longs of driver-side control plane,
    * and FOUR operators consume it (q85's assignment, q93's purity, the
    * q53 IVF codebook, q105's IVF tier), so one fit serves them all — the
    * [[graft.ops.Dedup.dupLabels]] pattern. The slot's
    * [[SessionCache]] lock guards both fit families, so the joint trainer
    * installs the coarse and PQ codebooks atomically (per-family locks
    * would deadlock: kmeansFit takes coarse→pq, pqFit pq→coarse), while
    * concurrent sessions or different corpora train independently. */
  private[ops] def kmeansFit(s: SparkSession, d: String): (Array[Long], Array[Array[Long]]) =
    SessionCache.getOrElseUpdate(s, d, "kmeans_fit") {
      // PQ installed/trained: train coarse alone
      if (SessionCache.get[AnyRef](s, d, "pq_fit").isDefined) computeKmeansFit(s, d)
      else {
        val (c, p) = computeJointFit(s, d)
        SessionCache.put(s, d, "pq_fit", p)
        c
      }
    }

  /** Test hook: how many Lloyd's loops have actually run. */
  private[ops] val kmeansFits = new java.util.concurrent.atomic.AtomicLong

  /** Persist the converged ANN codebook to the lake — the
    * [[graft.ops.Dedup.clustersTable]] pattern for the k-means fit: training
    * is the expensive step (KMeansIters corpus scans), and at 100 TB the
    * index must outlive the session that trained it. One row per surviving
    * cluster: `(idx, label, centroid)` — `idx` preserves codebook order
    * (the assignment argmax is positional), `label` the stable seed
    * identity, `centroid` the converged quantized vector. K rows of
    * control-plane data, overwrite semantics on re-train. Returns the
    * read-back table. */
  def codebookTable(s: SparkSession, d: String,
                    catalog: graft.lake.LakeCatalog, namespace: String,
                    table: String = "ann_codebook"): DataFrame = {
    val (labels, cents) = kmeansFit(s, d)
    val df = s.createDataFrame(
        labels.indices.map(i => (i, labels(i), cents(i).toSeq)))
      .toDF("idx", "label", "centroid")
    catalog.ensureTable(namespace, table, df.schema, Nil)
    catalog.overwrite(namespace, table, df)
    catalog.load(namespace, table)
  }

  /** Install a persisted codebook ([[codebookTable]]) into corpus `d`'s
    * fit memo (its [[SessionCache]] slot, under `s`'s confs): every consumer of [[kmeansFit]] (q53 IVF
    * probe, q85 assignment, q93 purity, q105's IVF tier) then runs with
    * ZERO Lloyd's iterations — a fresh session probes a 100 TB index
    * without touching the training path. The collect is K rows (bounded
    * control plane, same class as the centroid broadcast itself). */
  def installCodebook(s: SparkSession, d: String,
                      catalog: graft.lake.LakeCatalog, namespace: String,
                      table: String = "ann_codebook"): Unit = {
    val rows = catalog.load(namespace, table)
      .orderBy("idx").select("label", "centroid").collect()
    require(rows.nonEmpty, s"codebook table $namespace.$table is empty")
    val labels = rows.map(_.getLong(0))
    val cents = rows.map(_.getSeq[Long](1).toArray)
    SessionCache.put(s, d, "kmeans_fit", (labels, cents))
  }

  /** Persist the PQ codebooks ([[pqFit]]) to the lake — the fine-quantizer
    * companion of [[codebookTable]]: one row per (subspace, surviving
    * cluster): `(m, idx, label, centroid)`. PqM·K rows of control plane,
    * overwrite semantics on re-train. */
  def pqCodebookTable(s: SparkSession, d: String,
                      catalog: graft.lake.LakeCatalog, namespace: String,
                      table: String = "pq_codebook"): DataFrame = {
    val fits = pqFit(s, d)
    val rows = for {
      m <- 0 until PqM
      i <- fits(m)._1.indices
    } yield (m, i, fits(m)._1(i), fits(m)._2(i).toSeq)
    val df = s.createDataFrame(rows).toDF("m", "idx", "label", "centroid")
    catalog.ensureTable(namespace, table, df.schema, Nil)
    catalog.overwrite(namespace, table, df)
    catalog.load(namespace, table)
  }

  /** Install persisted PQ codebooks ([[pqCodebookTable]]) into corpus
    * `d`'s fit memo — q137 codes, q138 ADC and q141 IVFADC then run
    * with ZERO training scans, completing the cross-session story
    * [[installCodebook]] starts for the coarse quantizer. */
  def installPqCodebook(s: SparkSession, d: String,
                        catalog: graft.lake.LakeCatalog, namespace: String,
                        table: String = "pq_codebook"): Unit = {
    val rows = catalog.load(namespace, table)
      .orderBy("m", "idx").select("m", "label", "centroid").collect()
    require(rows.nonEmpty, s"PQ codebook table $namespace.$table is empty")
    val byM = rows.groupBy(_.getInt(0))
    require(byM.keySet == (0 until PqM).toSet,
      s"PQ codebook table $namespace.$table is missing subspaces " +
        s"(found ${byM.keySet.toSeq.sorted})")
    val fits = Array.tabulate(PqM) { m =>
      val rs = byM(m)
      (rs.map(_.getLong(1)), rs.map(_.getSeq[Long](2).toArray))
    }
    SessionCache.put(s, d, "pq_fit", fits)
  }

  /** One ANN index row per incoming vector: the coarse IVF cell plus the
    * [[PqM]] PQ codes — the `(cell, codes…)` layout [[q141Ivfadc]] probes
    * and the payload the streaming ingest appends
    * ([[graft.ops.Streaming.annIngestSink]]). Fits arrive as plain arrays
    * so the projection is session-free (foreachBatch clones the session
    * per epoch); the whole row is ONE compiled map-side pass. */
  def annIndexRows(batch: DataFrame,
                   coarse: (Array[Long], Array[Array[Long]]),
                   pq: Array[(Array[Long], Array[Array[Long]])]): DataFrame = {
    // foreachBatch hands over a CLONED session whose temp-function registry
    // is empty — (re-)register the native kernels there (idempotent)
    graft.functions.TextHashExprs.register(batch.sparkSession)
    batch.select(col("vec_id"),
        call_function("ivec_quant", col("embedding"),
          lit(QuantScale), lit(QuantOffset)).as("q"))
      .select(Seq(col("vec_id"),
        labelAt(coarse._1, element_at(
          call_function("ivec_nearest", col("q"), centLit(coarse._2)), 1))
          .as("cell")) ++
        (0 until PqM).map(m =>
          labelAt(pq(m)._1, element_at(call_function("ivec_nearest",
            subVec(m), centLit(pq(m)._2)), 1)).as(s"code_$m")): _*)
  }

  /** The trained quantizer pair for `d` under session `s` (memo-served):
    * what a streaming ingest captures before starting its query. */
  private[ops] def trainedQuantizers(s: SparkSession, d: String)
      : ((Array[Long], Array[Array[Long]]),
         Array[(Array[Long], Array[Array[Long]])]) =
    (kmeansFit(s, d), pqFit(s, d))

  /** FUSED trainer: the coarse Lloyd's loop and all [[PqM]] PQ subspace
    * loops in lockstep — ONE seed collect and ONE aggregate job per
    * iteration serve all five codebooks (subspace id −1 tags the coarse
    * family in the shared (m, idx, dim) rollup, at most K·64 + PqM·K·16
    * rows). This matters because the bench's alphabetical order makes one
    * query (q105) the first consumer of BOTH fits: fused training halves
    * its fixed-job-overhead stack while producing BIT-IDENTICAL results
    * to the solo trainers (same seeds, same assignment kernels, same
    * integer means — [[PqFitProps]] pins the PQ side against an
    * independent reference). Tradeoff, accepted knowingly: a session that
    * only ever consumes ONE quantizer still trains both (the fused pass
    * explodes 128 dim-rows/vector instead of 64 and runs 4 extra compiled
    * kernels) — every registered consumer chain here needs both within a
    * run, and the absolute cost is two bounded scans. Solo trainers
    * remain for the install paths (one quantizer restored from the lake
    * must not retrain the other). */
  private def computeJointFit(s: SparkSession, d: String)
      : ((Array[Long], Array[Array[Long]]),
         Array[(Array[Long], Array[Array[Long]])]) = {
    kmeansFits.incrementAndGet()
    pqFits.incrementAndGet()
    val q = quantized(s, d, QuantOffset)
    val k = adaptiveKmeansK(s, d)
    val seedRows = seedCentroids(q, k) // ONE seed rule (shared collect)
    val coarseDims = seedRows.headOption.map(_.length).getOrElse(0)
    var cLabels: Array[Long] = (0 until k).map(_.toLong).toArray
    var cCents: Array[Array[Long]] = seedRows.map(_.clone)
    var pLabels: Array[Array[Long]] =
      Array.fill(PqM)((0 until k).map(_.toLong).toArray)
    var pCents: Array[Array[Array[Long]]] = Array.tabulate(PqM)(m =>
      seedRows.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)))
    for (_ <- 1 to KMeansIters) {
      val sums = q
        .select(explode(array(
          struct(lit(-1).as("m"),
            element_at(call_function("ivec_nearest", col("q"),
              centLit(cCents)), 1).as("idx"),
            col("q").as("v")) +:
          (0 until PqM).map { m =>
            struct(lit(m).as("m"),
              element_at(call_function("ivec_nearest", subVec(m),
                centLit(pCents(m))), 1).as("idx"),
              subVec(m).as("v"))
          }: _*)).as("sub"))
        .select(col("sub.m").as("m"), col("sub.idx").as("idx"),
          posexplode(col("sub.v")).as(Seq("dim", "v")))
        .groupBy("m", "idx", "dim")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .collect() // bounded: at most K*64 + PqM*K*PqSubDim rows
      val byM = sums.groupBy(_.getInt(0))
      def updated(rows: Array[org.apache.spark.sql.Row], dims: Int,
                  labels: Array[Long])
          : (Array[Long], Array[Array[Long]]) = {
        val byIdx = rows.groupBy(_.getLong(1).toInt)
        val present = byIdx.keys.toArray.sorted
        val cs = present.map { i =>
          val v = new Array[Long](dims)
          byIdx(i).foreach(r => v(r.getInt(2)) = r.getLong(3) / r.getLong(4))
          v
        }
        (present.map(labels(_)), cs)
      }
      val (ncl, ncc) = updated(
        byM.getOrElse(-1, Array.empty[org.apache.spark.sql.Row]),
        coarseDims, cLabels)
      cLabels = ncl; cCents = ncc
      val upd = (0 until PqM).map(m => updated(
        byM.getOrElse(m, Array.empty[org.apache.spark.sql.Row]),
        PqSubDim, pLabels(m)))
      pLabels = upd.map(_._1).toArray
      pCents = upd.map(_._2).toArray
    }
    ((cLabels, cCents), Array.tabulate(PqM)(m => (pLabels(m), pCents(m))))
  }

  private def computeKmeansFit(s: SparkSession, d: String): (Array[Long], Array[Array[Long]]) = {
    kmeansFits.incrementAndGet()
    val q = quantized(s, d, QuantOffset)
    val k = adaptiveKmeansK(s, d)
    var labels: Array[Long] = (0 until k).map(_.toLong).toArray
    var cents: Array[Array[Long]] = seedCentroids(q, k)
    for (_ <- 1 to KMeansIters) {
      val assigned = q.select(
        element_at(call_function("ivec_nearest", col("q"), centLit(cents)), 1)
          .as("idx"),
        col("q"))
      val sums = assigned
        .select(col("idx"), posexplode(col("q")).as(Seq("dim", "v")))
        .groupBy("idx", "dim")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .collect() // bounded: at most K * dims rows
      val byIdx = sums.groupBy(_.getLong(0).toInt)
      val present = byIdx.keys.toArray.sorted
      cents = present.map { i =>
        val dims = byIdx(i).map(r => (r.getInt(1), r.getLong(2) / r.getLong(3)))
        val v = new Array[Long](dims.length)
        dims.foreach { case (dim, mean) => v(dim) = mean }
        v
      }
      labels = present.map(labels(_))
    }
    (labels, cents)
  }

  def q85KMeans(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d, QuantOffset)
    val (labels, cents) = kmeansFit(s, d)
    val a = call_function("ivec_nearest", col("q"), centLit(cents))
    q.select(col("vec_id"), a.as("a"))
      .select(col("vec_id"),
        labelAt(labels, element_at(col("a"), 1)).as("cluster"),
        element_at(col("a"), 2).as("d2"))
      .orderBy("vec_id")
  }

  /** Cluster-quality report (q160): a Davies-Bouldin-style separation
    * index in exact SQUARED integer space — per cluster, the member
    * count, mean within-cluster squared distance (cohesion), the nearest
    * OTHER centroid with its squared distance (separation), and
    * db_x1000 = (S²ᵢ + S²ⱼ)·1000 / M²ᵢⱼ for that nearest neighbor j.
    * High values mean the cluster blurs into its neighbor — the
    * geometry-level health check beside q93's label purity and
    * q144's population balance: it catches a degenerate codebook even
    * when labels/populations look fine. Squared space (no sqrt) keeps
    * every quantity an exact integer both engines agree on; the ORDERING
    * of ratios is what the monitor consumes, and squaring is monotone.
    *
    * Scale shape: cohesion rides the same assignment pass q85 ships
    * (corpus-linear, memoized fit); centroid separation is a K²-row
    * self-join of the K-row centroid frame (control-plane, K ≤
    * MaxKMeansK) with the nearest pick a K-bounded window. Assumes ≥ 2
    * surviving clusters and distinct centroids (coincident centroids
    * fail loudly on the zero divide — the q108 corpus-contract
    * discipline). */
  def q160ClusterQuality(s: SparkSession, d: String): DataFrame = {
    val (labels, cents) = kmeansFit(s, d)
    val s2 = q85KMeans(s, d).groupBy("cluster")
      .agg(count(lit(1)).as("n"), expr("sum(d2) div count(1)").as("s2_mean"))
    val cdf = s.createDataFrame(
      labels.indices.map(i => (labels(i), cents(i).toSeq))).toDF("c_id", "cv")
    val m2 = cdf.select(col("c_id").as("ca"), col("cv").as("va"))
      .join(cdf.select(col("c_id").as("cb"), col("cv").as("vb")),
        col("ca") =!= col("cb"))
      .select(col("ca"), col("cb"),
        (call_function("ivec_norm2", col("va")) +
          call_function("ivec_norm2", col("vb")) -
          lit(2L) * call_function("ivec_dot", col("va"), col("vb"))).as("m2"))
    val nn = m2.withColumn("rn", row_number().over(
        Window.partitionBy("ca").orderBy(col("m2"), col("cb"))))
      .filter(col("rn") === 1)
      .select(col("ca").as("cluster"), col("cb").as("nn_cluster"),
        col("m2").as("m2_nn"))
    s2.join(nn, Seq("cluster"))
      .join(s2.select(col("cluster").as("nn_cluster"),
        col("s2_mean").as("s2_nn")), Seq("nn_cluster"))
      .select(col("cluster"), col("n"), col("s2_mean"),
        col("nn_cluster"), col("m2_nn"),
        expr("(s2_mean + s2_nn) * 1000 div m2_nn").as("db_x1000"))
      .orderBy("cluster")
  }

  /** Prototype-pruning retention: keep the hardest 70% of each cluster
    * (ppm, ceil — a singleton cluster always keeps its one vector). */
  val PruneKeepPpm = 700000

  /** Prototype pruning (q169): per-vector keep/drop by HARDNESS rank
    * within the vector's k-means cluster — Sorscher et al., "Beyond
    * neural scaling laws: beating power law scaling via data pruning"
    * (NeurIPS 2022): with abundant data, prune the most PROTOTYPICAL
    * examples (smallest distance to their cluster centroid) and keep the
    * hard ones; the self-supervised prune metric is exactly this
    * distance-to-centroid rank. Output is the actionable per-vector
    * ledger (vec_id, cluster, d2, keep) — the embedding-space sibling of
    * q129's dedup ledger, and the third member of the pruning toolbox
    * beside q86's SemDeDup (semantic near-dup drops) and q136's soft
    * dup-aware weights.
    *
    * Exactness: d2 is the exact integer squared distance q85 ships;
    * n_keep = ceil(n · [[PruneKeepPpm]] / 1e6) in integer arithmetic
    * ((n·ppm + 999999) div 1e6 — both engines truncate positive
    * division); ties at the keep boundary break on vec_id ascending.
    *
    * Scale shape: rides the memoized fit + the same single assignment
    * pass as q85; the only new work is ONE window partitioned by cluster,
    * and with adaptive K ≈ √n each partition holds ~n/K ≈ √n rows — the
    * per-cluster sort SHRINKS relative to the corpus as data grows
    * (never a corpus-sized single partition; the q141 bound argument). */
  def q169PrototypePruning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("cluster")
    q85KMeans(s, d)
      .withColumn("rnk",
        row_number().over(w.orderBy(col("d2").desc, col("vec_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("vec_id"), col("cluster"), col("d2"),
        (col("rnk") <=
          expr(s"(n * $PruneKeepPpm + 999999) div 1000000")).as("keep"))
      .orderBy("vec_id")
  }

  /** Memoized seed codebook per corpus slot — the k lowest vec_ids'
    * quantized vectors. The TRAINING paths derive seeds once inside their
    * own memoized fits; this memo serves the MONITOR queries (q171 churn,
    * q174 stale recall) that need the seed generation on every call, so
    * repeated monitors don't re-run the TakeOrdered collect per query. */
  private[ops] def seedsFor(s: SparkSession, d: String): Array[Array[Long]] =
    SessionCache.getOrElseUpdate(s, d, "kmeans_seeds")(
      seedCentroids(quantized(s, d, QuantOffset), adaptiveKmeansK(s, d)))

  /** Assignment churn (q171): per converged cluster, how many members the
    * SEED codebook would have placed elsewhere — the measured gap between
    * a stale quantizer and the retrained one, in exact ppm. This is the
    * retrain-trigger monitor for a production ANN index: assignments are
    * what the IVF probe bound lives on, so when churn vs the installed
    * codebook grows past a dial, the index needs rebuilding (the
    * time-axis companion of q144's population balance and q160's
    * geometry check, measuring MOVEMENT rather than state). Here the
    * stale codebook is the deterministic seed set — the exact initial
    * state the trainer improved on — so the number also reads as "what
    * did Lloyd's buy": near-zero churn means seeding alone was enough.
    *
    * Exactness: both assignments are `ivec_nearest` argmins in exact
    * integer squared distance (lowest-position tie-break = the oracle's
    * `ORDER BY dd, c`); seed position i IS the oracle's `a1` label i.
    *
    * Scale shape: ONE corpus scan — both codebooks ride the projection
    * as plan literals (K·D longs each) — then a K-bounded rollup; the
    * memoized fit supplies the converged side for free. */
  def q171AssignmentChurn(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d, QuantOffset)
    val (labels, cents) = kmeansFit(s, d)
    val seeds = seedsFor(s, d)
    q.select(col("vec_id"),
        element_at(call_function("ivec_nearest", col("q"), centLit(seeds)), 1)
          .as("seed_c"),
        labelAt(labels,
          element_at(call_function("ivec_nearest", col("q"), centLit(cents)), 1))
          .as("cluster"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        sum(when(col("seed_c") =!= col("cluster"), lit(1L))
          .otherwise(lit(0L))).as("n_moved"))
      .withColumn("churn_ppm", expr("n_moved * 1000000 div n"))
      .select("cluster", "n", "n_moved", "churn_ppm")
      .orderBy("cluster")
  }

  /** One codebook's probe outcome for [[q174StaleRecall]]: per query,
    * candidates probed and truth hits at [[LshK]] under [[NumProbes]] —
    * the [[probeMeasure]] chain with the codebook as the parameter and
    * the nprobe dial pinned, so q174 and the q152 sweep share one
    * definition of assignment, probing, top-k and recall. */
  private def probeStats(s: SparkSession, d: String,
      cents: Array[(Long, Array[Double])], tag: String): DataFrame =
    probeMeasure(s, d, cents, Seq(NumProbes))
      .select(lit(tag).as("codebook"), col("q_id"), col("n_cand"),
        col("n_hit"), col("k"), col("recall"))

  /** Index-staleness recall audit (q174): the SAME IVF probe run against
    * two codebook generations — the deterministic seed codebook (the
    * stalest index possible: never trained) and the converged trained one
    * — each measured against the shared brute-force truth at matched k.
    * q171 says assignments MOVED between generations; this says what that
    * movement costs where it matters, in served recall and probed
    * candidate volume — the pair of numbers that decides whether an aging
    * production index needs the rebuild (rising churn + sagging recall)
    * or is merely drifting harmlessly. Seed-vs-trained also bounds the
    * value of training itself: if seed recall matches trained recall, the
    * corpus is easy and Lloyd's budget can shrink.
    *
    * Scale shape: two [[probeStats]] probe chains (each the q53/q152
    * shape — codebook as plan literal, cell equi-join candidates, salted
    * two-phase top-k) over the memoized fit, seed collect is K rows of
    * control plane, truth is the memoized [[bruteTopK]]. */
  def q174StaleRecall(s: SparkSession, d: String): DataFrame = {
    val stale = seedsFor(s, d).zipWithIndex.map { case (v, i) =>
      (i.toLong, v.map(x => (x - QuantOffset).toDouble / QuantScale))
    }
    probeStats(s, d, stale, "seed")
      .unionByName(probeStats(s, d, ivfCodebook(s, d), "trained"))
      .orderBy("codebook", "q_id")
  }

  /** Doc↔embedding alignment audit (q178): the ML-side referential
    * integrity check — every text/embedding JOIN in the pipeline (q44's
    * cosine confirm, q60's multi-signal decision, q80's split carry-over)
    * silently DROPS rows whose counterpart is missing, so an encoder that
    * skipped a shard under-counts dup pairs and splits without ever
    * failing. One row: table sizes, matched ids, each side's orphans, the
    * embedding-side id-uniqueness violation count (a vec_id emitted twice
    * poisons every equi-join downstream), and exact-ppm doc coverage —
    * q161's star-schema audit re-aimed at the documents/embeddings pair.
    *
    * Scale shape: two distributed anti-joins + one semi-join on the id
    * (each one exchange with map-side partials), a dup rollup keyed by
    * vec_id, and five 1-row aggregates assembled by crossJoin. */
  def q178AlignmentAudit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val vecs = Tables.embeddings(s, d).select(col("vec_id"))
    def cnt(df: DataFrame, name: String) = df.agg(count(lit(1)).as(name))
    cnt(docs, "n_docs")
      .crossJoin(cnt(vecs, "n_vecs"))
      .crossJoin(cnt(docs.join(vecs, docs("doc_id") === vecs("vec_id"),
        "left_semi"), "n_matched"))
      .crossJoin(cnt(docs.join(vecs, docs("doc_id") === vecs("vec_id"),
        "left_anti"), "n_doc_only"))
      .crossJoin(cnt(vecs.join(docs, vecs("vec_id") === docs("doc_id"),
        "left_anti"), "n_vec_only"))
      .crossJoin(cnt(vecs.groupBy("vec_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1), "n_dup_vec_ids"))
      .withColumn("coverage_ppm", expr("n_matched * 1000000 div n_docs"))
  }

  /** Per-source embedding coverage (q195): q178's alignment audit
    * LOCALIZED — per source: docs, docs with a vector, the exact-ppm
    * coverage and the missing count. q178 says the corpus has orphans;
    * this says WHICH SHARD the encoder skipped (ingest batches track
    * sources, so the repair action is per-source re-encoding, and a
    * source stuck below 1e6 ppm is the alarm that pages someone).
    *
    * Scale shape: one semi-join of documents against the embedding id
    * projection (shuffle on id with map-side partials), one |sources|
    * rollup joined back to the per-source doc counts. */
  def q195SourceCoverage(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val withVec = docs.join(
        Tables.embeddings(s, d).select(col("vec_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_with_vec"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(withVec, Seq("source"), "left")
      .withColumn("n_with_vec", coalesce(col("n_with_vec"), lit(0L)))
      .withColumn("coverage_ppm", expr("n_with_vec * 1000000 div n_docs"))
      .withColumn("n_missing", col("n_docs") - col("n_with_vec"))
      .select("source", "n_docs", "n_with_vec", "n_missing", "coverage_ppm")
      .orderBy("source")
  }

  val PqM = 4                 // PQ subspaces (64 dims -> 4 x 16)
  val PqSubDim = 16           // dims per subspace
  val PqAdcK = 3              // neighbors per query (ADC tier)

  /** Test hook: how many PQ trainings have actually run. */
  private[ops] val pqFits = new java.util.concurrent.atomic.AtomicLong

  /** Product-quantization codebooks (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): an independent
    * [[KMeansK]]-centroid Lloyd's fit per [[PqM]] disjoint 16-dim subspace,
    * over the same non-negative quantized grid as [[kmeansFit]]. Training is
    * FUSED across subspaces: each of the [[KMeansIters]] iterations is ONE
    * corpus scan — a single select computes all four subspace assignments
    * (four compiled [[graft.functions.IntVecNearest]] kernels over sliced
    * vectors), an in-row explode tags partial sums with the subspace id, and
    * the (m, idx, dim) aggregate collapses map-side to at most
    * PqM·K·PqSubDim = 512 rows before the driver collect. At 1e9 vectors
    * that is 2 corpus scans total for the whole PQ training, no
    * corpus-sized shuffle anywhere — the same treeAggregate shape as
    * [[computeKmeansFit]], amortized over all subspaces. Memoized per
    * corpus slot: q137 codes and q138 ADC share one fit.
    * Returns per subspace (surviving seed labels, converged centroids). */
  private[ops] def pqFit(s: SparkSession, d: String)
      : Array[(Array[Long], Array[Array[Long]])] =
    SessionCache.getOrElseUpdate(s, d, "pq_fit") {
      // coarse installed/trained: train PQ alone
      if (SessionCache.get[AnyRef](s, d, "kmeans_fit").isDefined) computePqFit(s, d)
      else {
        val (c, p) = computeJointFit(s, d)
        SessionCache.put(s, d, "kmeans_fit", c)
        p
      }
    }

  private def subVec(m: Int): Column =
    slice(col("q"), m * PqSubDim + 1, PqSubDim)

  private def computePqFit(s: SparkSession, d: String)
      : Array[(Array[Long], Array[Array[Long]])] = {
    pqFits.incrementAndGet()
    val q = quantized(s, d, QuantOffset)
    // seed: the K lowest vec_ids' subvectors — all subspaces from the ONE
    // seed rule (deterministic, oracle-reproducible)
    val k = adaptiveKmeansK(s, d)
    val seedRows = seedCentroids(q, k)
    var labels: Array[Array[Long]] =
      Array.fill(PqM)((0 until k).map(_.toLong).toArray)
    var cents: Array[Array[Array[Long]]] = Array.tabulate(PqM)(m =>
      seedRows.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)))
    for (_ <- 1 to KMeansIters) {
      val sums = q
        .select(explode(array((0 until PqM).map { m =>
          struct(lit(m).as("m"),
            element_at(call_function("ivec_nearest", subVec(m),
              centLit(cents(m))), 1).as("idx"),
            subVec(m).as("v"))
        }: _*)).as("sub"))
        .select(col("sub.m").as("m"), col("sub.idx").as("idx"),
          posexplode(col("sub.v")).as(Seq("dim", "v")))
        .groupBy("m", "idx", "dim")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .collect() // bounded: at most PqM * K * PqSubDim rows
      val byM = sums.groupBy(_.getInt(0))
      val upd = (0 until PqM).map { m =>
        val byIdx = byM.getOrElse(m, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getLong(1).toInt)
        val present = byIdx.keys.toArray.sorted
        val cs = present.map { i =>
          val v = new Array[Long](PqSubDim)
          byIdx(i).foreach(r => v(r.getInt(2)) = r.getLong(3) / r.getLong(4))
          v
        }
        (present.map(labels(m)(_)), cs)
      }
      labels = upd.map(_._1).toArray
      cents = upd.map(_._2).toArray
    }
    Array.tabulate(PqM)(m => (labels(m), cents(m)))
  }

  /** PQ encoding (q137): per vector, the converged nearest-centroid code in
    * each subspace plus the EXACT integer reconstruction error (sum of
    * per-subspace squared distances at the converged codebooks) — the
    * compression audit a PQ deployment ships before swapping exact vectors
    * for codes. One corpus pass: four compiled argmin kernels over sliced
    * vectors, no shuffle except the output sort (oracle parity). Codes are
    * the stable seed identities ([[computeKmeansFit]]'s survivor
    * convention), so they match the oracle's chain `c` exactly. 64 dims of
    * float32 become 4 small ints — the 64× memory cut that lets a 100 TB
    * corpus's index live in RAM. */
  def q137PqCodes(s: SparkSession, d: String): DataFrame = {
    val fits = pqFit(s, d)
    val withA = quantized(s, d, QuantOffset)
      .select(col("vec_id") +: (0 until PqM).map(m =>
        call_function("ivec_nearest", subVec(m), centLit(fits(m)._2))
          .as(s"a_$m")): _*)
    withA.select(
      col("vec_id") +:
        (0 until PqM).map(m =>
          labelAt(fits(m)._1, element_at(col(s"a_$m"), 1)).as(s"code_$m")) :+
        (0 until PqM).map(m => element_at(col(s"a_$m"), 2))
          .reduce(_ + _).as("recon_d2"): _*)
      .orderBy("vec_id")
  }

  /** PQ asymmetric-distance search (q138): approximate nearest neighbors
    * for the query sample via ADC — the query's EXACT subvectors score
    * against the codebooks once (a [[NumQueries]]·K·[[PqM]]-row distance
    * table), then every corpus vector's distance is just [[PqM]] table
    * lookups summed, never a D-dim computation. The distance table is
    * broadcast; the corpus streams once through the equi-join on
    * (subspace, code) and the per-(query, neighbor) sum partial-aggregates
    * map-side. This is the memory-bandwidth win PQ exists for: at 1e9
    * vectors the scan reads 4 codes/vector instead of 64 floats. Exact
    * integer arithmetic throughout (d² = |q|² + |c|² − 2·q·c on the
    * offset grid); at large query counts, probe the q53 IVF cells first
    * and ADC-score only inside probed cells — the IVFADC composition. */
  /** The ADC distance table: for each query, its exact subvector's squared
    * distance to every centroid of every subspace —
    * [[NumQueries]]·K·[[PqM]] rows, the broadcast side of every ADC join. */
  private def pqDistTable(s: SparkSession, d: String,
                          fits: Array[(Array[Long], Array[Array[Long]])])
      : DataFrame =
    (0 until PqM).map { m =>
      queryAnchor(s, d)
        .select(col("vec_id"), call_function("ivec_quant", col("v"),
          lit(QuantScale), lit(QuantOffset)).as("q"))
        .select(col("vec_id").as("q_id"), subVec(m).as("qs"))
        .select(col("q_id"), col("qs"),
          posexplode(centLit(fits(m)._2)).as(Seq("pos", "cv")))
        .select(col("q_id"), lit(m).as("m"),
          labelAt(fits(m)._1, col("pos")).as("code"),
          (call_function("ivec_norm2", col("qs")) +
            call_function("ivec_norm2", col("cv")) -
            lit(2L) * call_function("ivec_dot", col("qs"), col("cv")))
            .as("pd2"))
    }.reduce(_ union _)

  /** In-row array of (m, code) structs for a frame carrying the quantized
    * vector in `q` — the per-vector PQ encoding, exploded by callers only
    * where the ADC lookup join needs one row per subspace. */
  private def pqCodeArray(fits: Array[(Array[Long], Array[Array[Long]])])
      : Column =
    array((0 until PqM).map { m =>
      struct(lit(m).as("m"),
        labelAt(fits(m)._1,
          element_at(call_function("ivec_nearest", subVec(m),
            centLit(fits(m)._2)), 1)).as("code"))
    }: _*)

  val AdcSalts = 32 // salt slices for the ADC tier's per-query top-k

  /** Bounded per-query top-k for the ADC tier — the q131/q10 salted
    * two-phase shape instead of a single q_id-partitioned window: phase 1
    * ranks within (q_id, neighbor_id mod [[AdcSalts]]) so the window that
    * sees the full candidate stream is spread over AdcSalts× more
    * partitions (and WindowGroupLimit caps each at k rows before its
    * shuffle); phase 2 ranks the ≤ AdcSalts·k survivors per query — a
    * bounded input no matter how large the candidate set. At 1e9 vectors a
    * plain q_id window would sort corpus·nprobe/K rows in ONE task per
    * query; here no single task ever sees more than a salt slice.
    * Deterministic: both phases order (adc_d2, neighbor_id) and the salt
    * is a pure function of neighbor_id, so the surviving k are exactly the
    * global top-k. */
  private def adcTopK(cand: DataFrame, k: Int): DataFrame = {
    val w1 = Window.partitionBy("q_id", "salt")
      .orderBy(col("adc_d2"), col("neighbor_id"))
    val w2 = Window.partitionBy("q_id")
      .orderBy(col("adc_d2"), col("neighbor_id"))
    cand
      .withColumn("salt", pmod(col("neighbor_id"), lit(AdcSalts.toLong)))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= k)
      .withColumn("rnk", row_number().over(w2).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "neighbor_id", "adc_d2", "rnk")
      .orderBy("q_id", "rnk")
  }

  def q138PqAdc(s: SparkSession, d: String): DataFrame = {
    val fits = pqFit(s, d)
    val codes = quantized(s, d, QuantOffset)
      .select(col("vec_id").as("neighbor_id"),
        explode(pqCodeArray(fits)).as("mc"))
      .select(col("neighbor_id"), col("mc.m").as("m"), col("mc.code").as("code"))
    adcTopK(
      codes.join(broadcast(pqDistTable(s, d, fits)), Seq("m", "code"))
        .filter(col("neighbor_id") =!= col("q_id"))
        .groupBy("q_id", "neighbor_id")
        .agg(sum("pd2").as("adc_d2")),
      PqAdcK)
  }

  /** IVFADC (q141): the full FAISS-style composition — a coarse IVF
    * quantizer bounds the candidate set, the PQ fine quantizer scores it.
    * One corpus pass builds the index rows `(cell, codes…)`: the coarse
    * cell is a compiled argmin against the CONVERGED [[kmeansFit]]
    * codebook (the same index q53/q105 probe) and the four PQ codes ride
    * the same projection, so the index is exactly what a production
    * deployment would persist (cell + [[PqM]] bytes per vector — the
    * layout that lets 1e9 vectors fit one machine's RAM). Queries rank
    * every coarse centroid by exact integer distance (K rows per query —
    * control-plane sized) and probe their [[NumProbes]] nearest cells;
    * candidates stream through the cell equi-join against the broadcast
    * probe set, and ADC scoring is [[PqM]] lookups into the broadcast
    * [[pqDistTable]] — per-query work is O(corpus·nprobe/K) lookups, no
    * exact distance ever computed against a corpus vector. This is the
    * scale tier [[q138PqAdc]]'s scaladoc points at; recall vs the exact
    * truth stays monitorable through the q105 pattern. */
  def q141Ivfadc(s: SparkSession, d: String): DataFrame =
    ivfadcSearch(s, d,
      queryAnchor(s, d)
        .select(col("vec_id").as("q_id"), col("v").as("embedding")),
      PqAdcK, excludeSelf = true)

  /** The PUBLIC IVFADC serving face: approximate top-k neighbors for ANY
    * query frame `(q_id: long, embedding: array<float>)` against corpus
    * `d`'s trained index — the API an external retrieval caller actually
    * uses (the registered q141 is this face applied to the sampled
    * corpus-query convention with self-matches excluded). Quantizers come
    * from the corpus slot's memo, so a fresh session serves after
    * [[installCodebook]]/[[installPqCodebook]] with zero training scans.
    *
    * Shape (unchanged from the audited q141 plan): queries rank every
    * coarse centroid by exact integer distance (K rows per query —
    * control-plane, bounded by [[MaxKMeansK]]), probe [[NumProbes]]
    * cells; candidates stream through the broadcast cell equi-join and
    * score by [[PqM]] ADC lookups into the broadcast per-query distance
    * table; the final top-k is the salted two-phase [[adcTopK]]. The
    * query side is assumed serving-batch-sized (it broadcasts); corpus
    * work is O(corpus·nprobe/K) lookups per query with no exact distance
    * against any corpus vector. */
  def ivfadcSearch(s: SparkSession, d: String, queries: DataFrame, k: Int,
                   excludeSelf: Boolean = false): DataFrame = {
    val (labels, cents) = kmeansFit(s, d)
    val fits = pqFit(s, d)
    val index = quantized(s, d, QuantOffset)
      .select(col("vec_id").as("neighbor_id"),
        labelAt(labels, element_at(
          call_function("ivec_nearest", col("q"), centLit(cents)), 1))
          .as("cell"),
        pqCodeArray(fits).as("mcs"))
    val qq = queries.select(col("q_id"),
      call_function("ivec_quant", col("embedding"),
        lit(QuantScale), lit(QuantOffset)).as("q"))
    // the probe window ranks K rows per query (the codebook, bounded by
    // MaxKMeansK — control-plane sized, not corpus-sized)
    val wq = Window.partitionBy("q_id").orderBy(col("cd2"), col("cell"))
    val probes = qq
      .select(col("q_id"), col("q"),
        posexplode(centLit(cents)).as(Seq("pos", "cv")))
      .select(col("q_id"),
        labelAt(labels, col("pos")).as("cell"),
        (call_function("ivec_norm2", col("q")) +
          call_function("ivec_norm2", col("cv")) -
          lit(2L) * call_function("ivec_dot", col("q"), col("cv"))).as("cd2"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= NumProbes)
      .select("q_id", "cell")
    val dist = (0 until PqM).map { m =>
      qq.select(col("q_id"), subVec(m).as("qs"))
        .select(col("q_id"), col("qs"),
          posexplode(centLit(fits(m)._2)).as(Seq("pos", "cv")))
        .select(col("q_id"), lit(m).as("m"),
          labelAt(fits(m)._1, col("pos")).as("code"),
          (call_function("ivec_norm2", col("qs")) +
            call_function("ivec_norm2", col("cv")) -
            lit(2L) * call_function("ivec_dot", col("qs"), col("cv")))
            .as("pd2"))
    }.reduce(_ union _)
    val cand0 = index.join(broadcast(probes), Seq("cell"))
    val cand =
      if (excludeSelf) cand0.filter(col("neighbor_id") =!= col("q_id"))
      else cand0
    adcTopK(
      cand
        .select(col("q_id"), col("neighbor_id"), explode(col("mcs")).as("mc"))
        .select(col("q_id"), col("neighbor_id"),
          col("mc.m").as("m"), col("mc.code").as("code"))
        .join(broadcast(dist), Seq("q_id", "m", "code"))
        .groupBy("q_id", "neighbor_id")
        .agg(sum("pd2").as("adc_d2")),
      k)
  }

  /** IVF cell-population report (q144): per coarse cell, member count and
    * exact-ppm share of the corpus — the index-health monitor every IVF
    * deployment watches (FAISS's imbalance factor): a hot cell defeats the
    * probe bound (per-query work is corpus·nprobe/K only when cells are
    * balanced), and an empty cell wastes a codebook slot. One compiled
    * assignment pass + a K-row aggregate; the 1-row total joins back by
    * broadcast. Reading max(share_ppm)·K/1e6 gives the imbalance factor. */
  def q144IvfCellStats(s: SparkSession, d: String): DataFrame = {
    val (labels, cents) = kmeansFit(s, d)
    val counts = quantized(s, d, QuantOffset)
      .select(labelAt(labels,
        element_at(call_function("ivec_nearest", col("q"), centLit(cents)), 1))
        .as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    // EVERY codebook cell reports — an empty cell (the wasted-slot alarm
    // this monitor exists for) must surface as n_vecs = 0, not vanish
    // from the groupBy output
    val cells = s.range(1)
      .select(explode(typedLit(labels.toSeq)).as("cell"))
      .join(counts, Seq("cell"), "left")
      .withColumn("n_vecs", coalesce(col("n_vecs"), lit(0L)))
      .localCheckpoint(true) // K rows; both crossJoin sides read them, not the corpus scan
    cells.crossJoin(broadcast(cells.agg(sum("n_vecs").as("total"))))
      .select(col("cell"), col("n_vecs"),
        expr("n_vecs * 1000000 div total").as("share_ppm"))
      .orderBy("cell")
  }

  /** PQ code-utilization report (q145): per (subspace, code), member count
    * and exact-ppm share — the fine-quantizer health check beside q144's
    * coarse one: a code that captures most of a subspace means the
    * quantizer wastes bits there (reconstruction error concentrates), and
    * unused survivor codes mean the subspace collapsed. One pass computes
    * all [[PqM]] code assignments in-row ([[pqCodeArray]]); the aggregate
    * is at most PqM·K rows. */
  def q145PqCodeStats(s: SparkSession, d: String): DataFrame = {
    val fits = pqFit(s, d)
    val counts = quantized(s, d, QuantOffset)
      .select(explode(pqCodeArray(fits)).as("mc"))
      .select(col("mc.m").as("m"), col("mc.code").as("code"))
      .groupBy("m", "code").agg(count(lit(1)).as("n_vecs"))
    // every (subspace, survivor code) reports, unused codes as 0 — the
    // collapsed-subspace alarm must be visible in the output itself
    val slots = s.range(1).select(explode(typedLit(
        (0 until PqM).flatMap(m => fits(m)._1.map(c => (m, c))))).as("mc"))
      .select(col("mc._1").as("m"), col("mc._2").as("code"))
    val codes = slots.join(counts, Seq("m", "code"), "left")
      .withColumn("n_vecs", coalesce(col("n_vecs"), lit(0L)))
      .localCheckpoint(true) // PqM*K rows; both crossJoin sides read them, not the corpus scan
    codes.crossJoin(broadcast(
        codes.groupBy().agg(expr(s"sum(n_vecs) div $PqM").as("total"))))
      .select(col("m").cast("long").as("m"), col("code"), col("n_vecs"),
        expr("n_vecs * 1000000 div total").as("share_ppm"))
      .orderBy("m", "code")
  }

  val SemDedupTauSq10k = 1600 // cosine threshold τ=0.40 (the corpus has no >0.5 semantic pairs): keep 1e4·dot² >= τ²·1e4·|a|²·|b|²
  val SemDedupCell = 1000 // target vectors per SemDeDup cluster

  /** q86's codebook size grows WITH the corpus — `max(KMeansK,
    * ceil(n / SemDedupCell))` — so expected in-cluster pair volume stays
    * ~n × [[SemDedupCell]] (LINEAR in corpus size) instead of n²/K. The r7
    * sf1 stress run measured the fixed-K form at 31× cost for 10× data —
    * exactly the quadratic this kills; SemDeDup itself scales K with n
    * (Abbas et al. 2023 use k=11k on 134M LAION embeddings, ~12k/cell).
    * The count() is a parquet-metadata job, not a scan. */
  private[ops] def semDedupK(s: SparkSession, d: String): Int =
    math.max(KMeansK,
      ((Tables.embeddings(s, d).count() + SemDedupCell - 1) / SemDedupCell).toInt)

  /** SemDeDup (q86): semantic near-dup pairs = cluster the corpus, then
    * compare only WITHIN clusters — the pruning that makes semantic dedup
    * tractable (per-cluster pairs instead of corpus²). Clustering here is
    * one assignment pass against the corpus-scaled seed codebook
    * ([[semDedupK]] — recall tuning, not correctness: the oracle mirrors
    * the same codebook, adaptive LIMIT included); the in-cluster
    * pair stream is the same self-equi-join shape as q44/q24 (no bucket
    * materialization, AQE splits hot clusters). The cosine threshold is
    * evaluated in EXACT integer arithmetic on the unshifted quantized grid:
    * `1e4·dot² >= τ²·1e4·|a|²·|b|² AND dot > 0` — with |x|<=1 unit-norm
    * embeddings at scale 1000, all products stay under 2^62. */
  def q86SemDedup(s: SparkSession, d: String): DataFrame =
    semPairsAbove(s, d, SemDedupTauSq10k).orderBy("id_a", "id_b")

  /** The within-cluster cosine-qualified pair stream at threshold
    * `tauSq10k` — q86's body, shared with the q200 sweep (which reads it
    * once at the grid's LOWEST τ and re-qualifies per arm, so the sweep
    * costs one pair pass, not one per arm). */
  private[ops] def semPairsAbove(s: SparkSession, d: String,
                                 tauSq10k: Int): DataFrame = {
    val qs = quantized(s, d, QuantOffset)
    val cents = seedCentroids(qs, semDedupK(s, d))
    val asg = Tables.embeddings(s, d).select(col("vec_id"),
        element_at(call_function("ivec_nearest",
          call_function("ivec_quant", col("embedding"),
            lit(QuantScale), lit(QuantOffset)), centLit(cents)), 1).as("cluster"),
        call_function("ivec_quant", col("embedding"),
          lit(QuantScale), lit(0)).as("qc"))
      .withColumn("n2", call_function("ivec_norm2", col("qc")))
    val l = asg.select(col("cluster"), col("vec_id").as("id_a"),
      col("qc").as("qa"), col("n2").as("n2_a"))
    val r = asg.select(col("cluster"), col("vec_id").as("id_b"),
      col("qc").as("qb"), col("n2").as("n2_b"))
    l.join(r, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dot", call_function("ivec_dot", col("qa"), col("qb")))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(10000L) >=
          col("n2_a") * col("n2_b") * lit(tauSq10k.toLong))
      .select(col("cluster"), col("id_a"), col("id_b"), col("dot"),
        col("n2_a"), col("n2_b"))
  }

  /** The τ grid the SemDeDup retention sweep evaluates, as τ²·1e4
    * (τ ∈ {0.30, 0.35, 0.40, 0.45, 0.50} — brackets [[SemDedupTauSq10k]]'s
    * production 0.40 from both sides), interpolated into BOTH engines. */
  val SemDedupTauSweep10k: Seq[Int] = Seq(900, 1225, 1600, 2025, 2500)

  /** SemDeDup threshold retention sweep (q200): per candidate cosine
    * threshold τ — qualifying within-cluster pairs, vectors DROPPED under
    * the one-hop min-id keeper rule (a vector paired with any smaller id
    * drops; the `curateDecide` intra-batch discipline), kept count and
    * exact retention ppm. The curve that PICKS τ before a semantic dedup
    * ships — q153's MinHash retention sweep transposed to the embedding
    * side, closing the calibrate-then-deploy symmetry between the two
    * near-dup families. Grid-complete: a τ arm with zero pairs still
    * emits its row (full retention), the degenerate-input convention.
    *
    * Scale shape: ONE pair pass at the grid's lowest τ (the in-cluster
    * self-join is ~n·[[SemDedupCell]] pairs, linear in corpus size), a
    * 5-row broadcast grid cross, one (tau)-keyed aggregate — per-arm
    * work is a predicate, not a rescan. */
  def q200SemdedupSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = semPairsAbove(s, d, SemDedupTauSweep10k.min)
    val n = Tables.embeddings(s, d).count() // parquet-metadata job
    val grid = SemDedupTauSweep10k.map(_.toLong).toDF("tau_sq_10k")
    val agg = pairs.crossJoin(broadcast(grid))
      .filter(col("dot") * col("dot") * lit(10000L) >=
        col("tau_sq_10k") * col("n2_a") * col("n2_b"))
      .groupBy("tau_sq_10k")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_dropped"))
    grid.join(agg, Seq("tau_sq_10k"), "left")
      .na.fill(0L, Seq("n_pairs", "n_dropped"))
      .select(col("tau_sq_10k"), col("n_pairs"), col("n_dropped"),
        (lit(n) - col("n_dropped")).as("n_kept"),
        expr(s"($n - n_dropped) * 1000000 div $n").as("kept_ppm"))
      .orderBy("tau_sq_10k")
  }

  /** Cluster-purity audit (q93): how well the learned clusters align with
    * the corpus's ground-truth labels — the evaluation every clustering
    * deployment needs before the codebook ships (IVF cells, SemDeDup
    * groups, topic shards). Per final k-means cluster: size, majority
    * label, its count, purity as exact integer ppm (`n_maj·1e6 div n` —
    * no round(double) midpoints), and total within-cluster distortion.
    * Runs the same driver-side Lloyd's loop as [[q85KMeans]] (bounded
    * control-plane collects), then ONE label join + two small rollups —
    * the per-cluster output is K rows at any corpus size. The
    * majority-label window partitions on `cluster` (only K values) but its
    * input is the (cluster, label) COUNT AGGREGATE — ≤ K × |labels| rows
    * regardless of corpus size, the bounded-marginal exemption in the
    * low-cardinality-window audit. */
  def q93ClusterPurity(s: SparkSession, d: String): DataFrame = {
    val asg = q85KMeans(s, d)
    val lbl = asg.join(Tables.embeddings(s, d).select(col("vec_id"), col("label")),
      Seq("vec_id"))
    val per = lbl.groupBy("cluster", "label").agg(count(lit(1)).as("nl"))
    val w = Window.partitionBy("cluster").orderBy(desc("nl"), col("label"))
    val maj = per.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("cluster"), col("label").cast("long").as("maj_label"),
        col("nl").as("n_maj"))
    val tot = lbl.groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("d2").as("sum_d2"))
    tot.join(maj, Seq("cluster"))
      .select(col("cluster"), col("n"), col("maj_label"), col("n_maj"),
        expr("n_maj * 1000000 div n").as("purity_ppm"), col("sum_d2"))
      .orderBy("cluster")
  }

  /** Shared oracle CTEs: quantized grid + seed-codebook assignment. */
  private def kmeansSqlPrefix: String = s"""
      WITH $kmeansPrefixBody"""

  /** q86's oracle prefix: same CTEs as [[kmeansSqlPrefix]] but with the
    * corpus-scaled codebook size — the adaptive LIMIT mirrors
    * [[semDedupK]]'s `max(K, ceil(n / cell))` exactly (`//` is DuckDB
    * floor division, so ceil = (n + cell - 1) // cell). */
  private def semDedupSqlPrefix: String = s"""
      WITH q AS (SELECT vec_id,
        list_transform(embedding, x -> round(x::DOUBLE * $QuantScale)::BIGINT + $QuantOffset) AS qv
        FROM embeddings),
      qe AS (SELECT vec_id, unnest(generate_series(1, len(qv))) AS dim,
                    unnest(qv) AS v FROM q),
      seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
                FROM (SELECT vec_id FROM q ORDER BY vec_id
                      LIMIT (SELECT greatest($KMeansK,
                               (count(*) + $SemDedupCell - 1) // $SemDedupCell)
                             FROM embeddings))),
      c0 AS (SELECT s.c, qe.dim, qe.v AS cv
             FROM seeds s JOIN qe ON qe.vec_id = s.vec_id),
      d1 AS (SELECT qe.vec_id, c0.c, sum((qe.v - c0.cv) * (qe.v - c0.cv)) AS dd
             FROM qe JOIN c0 ON qe.dim = c0.dim GROUP BY 1, 2),
      a1 AS (SELECT vec_id, c FROM (
               SELECT vec_id, c,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) AS rn
               FROM d1) t WHERE rn = 1)"""

  private def kmeansPrefixBody: String = s"""
      q AS (SELECT vec_id,
        list_transform(embedding, x -> round(x::DOUBLE * $QuantScale)::BIGINT + $QuantOffset) AS qv
        FROM embeddings),
      qe AS (SELECT vec_id, unnest(generate_series(1, len(qv))) AS dim,
                    unnest(qv) AS v FROM q),
      seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
                FROM (SELECT vec_id FROM q ORDER BY vec_id
                      LIMIT $adaptiveKSql)),
      c0 AS (SELECT s.c, qe.dim, qe.v AS cv
             FROM seeds s JOIN qe ON qe.vec_id = s.vec_id),
      d1 AS (SELECT qe.vec_id, c0.c, sum((qe.v - c0.cv) * (qe.v - c0.cv)) AS dd
             FROM qe JOIN c0 ON qe.dim = c0.dim GROUP BY 1, 2),
      a1 AS (SELECT vec_id, c FROM (
               SELECT vec_id, c,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) AS rn
               FROM d1) t WHERE rn = 1)"""

  /** Full 2-iteration Lloyd's chain ending in `kfin` (vec_id, c, dd) —
    * shared by the q85 output, q93's purity rollup, and (via the converged
    * `c2` centroids) the q53/q105 IVF codebook. */
  private def kmeansChainSql: String = s"""
      WITH $kmeansChainBody"""

  private def kmeansChainBody: String = s"""
      $kmeansPrefixBody,
      c1 AS (SELECT a1.c, qe.dim, (sum(qe.v) // count(*))::BIGINT AS cv
             FROM a1 JOIN qe USING (vec_id) GROUP BY 1, 2),
      d2_ AS (SELECT qe.vec_id, c1.c, sum((qe.v - c1.cv) * (qe.v - c1.cv)) AS dd
              FROM qe JOIN c1 ON qe.dim = c1.dim GROUP BY 1, 2),
      a2 AS (SELECT vec_id, c FROM (
               SELECT vec_id, c,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) AS rn
               FROM d2_) t WHERE rn = 1),
      c2 AS (SELECT a2.c, qe.dim, (sum(qe.v) // count(*))::BIGINT AS cv
             FROM a2 JOIN qe USING (vec_id) GROUP BY 1, 2),
      d3 AS (SELECT qe.vec_id, c2.c, sum((qe.v - c2.cv) * (qe.v - c2.cv)) AS dd
             FROM qe JOIN c2 ON qe.dim = c2.dim GROUP BY 1, 2),
      kfin AS (SELECT vec_id, c, dd FROM (
        SELECT vec_id, c, dd,
               row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) AS rn
        FROM d3) t WHERE rn = 1)"""

  /** PQ oracle: [[kmeansChainBody]] replayed per subspace — the same
    * 2-iteration Lloyd's chain with `qe` restricted to the subspace's dim
    * range and CTE names suffixed by the subspace index, all sharing one
    * seed CTE (the engine seeds every subspace from the same K lowest
    * vec_ids). Ends in `kf<m>` (vec_id, c, dd) per subspace. */
  private def pqChainBody(m: Int): String = {
    val lo = m * PqSubDim + 1
    val hi = (m + 1) * PqSubDim
    s"""
      qe$m AS (SELECT vec_id, dim, v FROM qe WHERE dim BETWEEN $lo AND $hi),
      c0_$m AS (SELECT s.c, qe$m.dim, qe$m.v AS cv
             FROM pqseeds s JOIN qe$m ON qe$m.vec_id = s.vec_id),
      d1_$m AS (SELECT qe$m.vec_id, c0_$m.c,
                    sum((qe$m.v - c0_$m.cv) * (qe$m.v - c0_$m.cv)) AS dd
             FROM qe$m JOIN c0_$m ON qe$m.dim = c0_$m.dim GROUP BY 1, 2),
      a1_$m AS (SELECT vec_id, c FROM (
               SELECT vec_id, c,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) AS rn
               FROM d1_$m) t WHERE rn = 1),
      c1_$m AS (SELECT a1_$m.c, qe$m.dim, (sum(qe$m.v) // count(*))::BIGINT AS cv
             FROM a1_$m JOIN qe$m USING (vec_id) GROUP BY 1, 2),
      d2_$m AS (SELECT qe$m.vec_id, c1_$m.c,
                    sum((qe$m.v - c1_$m.cv) * (qe$m.v - c1_$m.cv)) AS dd
              FROM qe$m JOIN c1_$m ON qe$m.dim = c1_$m.dim GROUP BY 1, 2),
      a2_$m AS (SELECT vec_id, c FROM (
               SELECT vec_id, c,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) AS rn
               FROM d2_$m) t WHERE rn = 1),
      c2_$m AS (SELECT a2_$m.c, qe$m.dim, (sum(qe$m.v) // count(*))::BIGINT AS cv
             FROM a2_$m JOIN qe$m USING (vec_id) GROUP BY 1, 2),
      d3_$m AS (SELECT qe$m.vec_id, c2_$m.c,
                    sum((qe$m.v - c2_$m.cv) * (qe$m.v - c2_$m.cv)) AS dd
             FROM qe$m JOIN c2_$m ON qe$m.dim = c2_$m.dim GROUP BY 1, 2),
      kf$m AS (SELECT vec_id, c, dd FROM (
        SELECT vec_id, c, dd,
               row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) AS rn
        FROM d3_$m) t WHERE rn = 1)"""
  }

  /** Shared PQ oracle prefix: quantized grid + per-dim explode + one seed
    * CTE + all [[PqM]] subspace chains. */
  private def pqSqlPrefix: String = s"""
      WITH q AS (SELECT vec_id,
        list_transform(embedding, x -> round(x::DOUBLE * $QuantScale)::BIGINT + $QuantOffset) AS qv
        FROM embeddings),
      qe AS (SELECT vec_id, unnest(generate_series(1, len(qv))) AS dim,
                    unnest(qv) AS v FROM q),
      pqseeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
                FROM (SELECT vec_id FROM q ORDER BY vec_id
                      LIMIT $adaptiveKSql)),
      ${(0 until PqM).map(pqChainBody).mkString(",")}"""

  /** qt<m> CTEs: per-subspace query-to-converged-centroid partial squared
    * distances — the ADC distance table in SQL, shared by q138 and q141. */
  private def pqQtCtes: String = (0 until PqM).map(m => s"""
      qt$m AS (SELECT qe$m.vec_id AS q_id, c2_$m.c AS code,
                    sum((qe$m.v - c2_$m.cv) * (qe$m.v - c2_$m.cv)) AS pd2
             FROM qe$m JOIN c2_$m ON qe$m.dim = c2_$m.dim
             WHERE qe$m.vec_id < $NumQueries GROUP BY 1, 2)""").mkString(",")

  /** The full IVFADC oracle chain on top of [[kmeansChainBody]] (needs its
    * `seeds`, `d3`, `kfin`): PQ subspace chains + ADC distance tables +
    * L2 cell probes + candidate pairs, ending in `aadc` (q_id,
    * neighbor_id, adc_d2). ONE definition serves the q141 oracle and the
    * q105 ivfadc tier so the two can never diverge on probe ranking or
    * candidate filtering. */
  private def ivfadcCtes: String = s"""
      pqseeds AS (SELECT vec_id, c FROM seeds),
      ${(0 until PqM).map(pqChainBody).mkString(",")},
      $pqQtCtes,
      aprobes AS (SELECT vec_id AS q_id, c AS cell FROM (
         SELECT vec_id, c,
                row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) AS rn
         FROM d3 WHERE vec_id < $NumQueries) t WHERE rn <= $NumProbes),
      acand AS (SELECT p.q_id, a.vec_id AS neighbor_id
                FROM aprobes p JOIN kfin a
                  ON a.c = p.cell AND a.vec_id <> p.q_id),
      aparts AS (
        ${(0 until PqM).map(m =>
          s"""SELECT c.q_id, c.neighbor_id, q.pd2
            FROM acand c JOIN kf$m k ON k.vec_id = c.neighbor_id
            JOIN qt$m q ON q.q_id = c.q_id AND q.code = k.c""")
          .mkString("\n        UNION ALL ")}),
      aadc AS (SELECT q_id, neighbor_id, sum(pd2) AS adc_d2 FROM aparts
               GROUP BY 1, 2)"""

  /** IVF oracle CTEs over ANY per-dim centroid CTE (`(c, dim, cv)` shape
    * — `c2` for the trained codebook, `c0` for the seeds) and an `e` CTE
    * (vec_id, embedding as DOUBLE[]), ending in `<p>iranked`. The empty
    * prefix keeps the historical names (`fc`/`iscored`/…/`iranked`) the
    * q53/q105 oracles compose; q174 instantiates the chain twice with
    * distinct prefixes so the two codebooks replay side by side. */
  private def ivfCtesOver(centroids: String, p: String): String = s"""
      ${p}fc AS (SELECT c AS c_id,
                    list((cv - $QuantOffset)::DOUBLE / $QuantScale ORDER BY dim) AS cv
             FROM $centroids GROUP BY c),
      ${p}iscored AS (SELECT e.vec_id, e.v, f.c_id,
                         round(list_cosine_similarity(e.v, f.cv), 6) AS s
                  FROM e, ${p}fc f),
      ${p}iasg AS (SELECT vec_id, v, c_id AS cell FROM (
                 SELECT vec_id, v, c_id,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY s DESC, c_id) AS rn
                 FROM ${p}iscored) t WHERE rn = 1),
      ${p}iprobes AS (SELECT vec_id AS q_id, v AS qv, c_id AS cell FROM (
                    SELECT vec_id, v, c_id,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY s DESC, c_id) AS rn
                    FROM ${p}iscored WHERE vec_id < $NumQueries) t
                  WHERE rn <= $NumProbes),
      ${p}icand AS (SELECT p.q_id, a.vec_id AS neighbor_id,
                       round(list_cosine_similarity(p.qv, a.v), 6) AS sim
                FROM ${p}iprobes p JOIN ${p}iasg a
                  ON a.cell = p.cell AND a.vec_id <> p.q_id),
      ${p}iranked AS (SELECT q_id, neighbor_id, sim,
                         row_number() OVER (PARTITION BY q_id
                           ORDER BY sim DESC, neighbor_id) AS rnk
                  FROM ${p}icand)"""

  /** The trained-codebook instantiation the q53 oracle and the q105 IVF
    * tier compose — replays exactly the engine's served index. */
  private def ivfCtes: String = ivfCtesOver("c2", "")

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q85_kmeans" -> ((q85KMeans _, s"""
      $kmeansChainSql
      SELECT vec_id, c::BIGINT AS cluster, dd::BIGINT AS d2 FROM kfin
      ORDER BY vec_id""")),
    "q195_source_coverage" -> ((q195SourceCoverage _, """
      WITH d AS (SELECT doc_id, source FROM documents),
      w AS (SELECT source, count(*)::BIGINT AS n_with_vec
            FROM d WHERE doc_id IN (SELECT vec_id FROM embeddings)
            GROUP BY 1),
      t AS (SELECT source, count(*)::BIGINT AS n_docs FROM d GROUP BY 1)
      SELECT t.source, t.n_docs,
             coalesce(w.n_with_vec, 0)::BIGINT AS n_with_vec,
             (t.n_docs - coalesce(w.n_with_vec, 0))::BIGINT AS n_missing,
             (coalesce(w.n_with_vec, 0) * 1000000 // t.n_docs)::BIGINT
               AS coverage_ppm
      FROM t LEFT JOIN w USING (source)
      ORDER BY t.source""")),
    "q178_alignment_audit" -> ((q178AlignmentAudit _, """
      WITH base AS (
        SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
               (SELECT count(*) FROM embeddings)::BIGINT AS n_vecs,
               (SELECT count(*) FROM documents
                WHERE doc_id IN (SELECT vec_id FROM embeddings))::BIGINT
                 AS n_matched,
               (SELECT count(*) FROM documents
                WHERE doc_id NOT IN (SELECT vec_id FROM embeddings))::BIGINT
                 AS n_doc_only,
               (SELECT count(*) FROM embeddings
                WHERE vec_id NOT IN (SELECT doc_id FROM documents))::BIGINT
                 AS n_vec_only,
               (SELECT count(*) FROM (SELECT vec_id FROM embeddings
                  GROUP BY 1 HAVING count(*) > 1) t)::BIGINT
                 AS n_dup_vec_ids)
      SELECT n_docs, n_vecs, n_matched, n_doc_only, n_vec_only,
             n_dup_vec_ids,
             (n_matched * 1000000 // n_docs)::BIGINT AS coverage_ppm
      FROM base""")),
    "q174_stale_recall" -> ((q174StaleRecall _, s"""
      WITH $kmeansChainBody,
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${ivfCtesOver("c0", "st")},
      ${ivfCtesOver("c2", "tr")},
      bsims AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(c.v, q.v), 6) AS sim
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < $NumQueries),
      btop AS (SELECT q_id, neighbor_id FROM (
                 SELECT q_id, neighbor_id,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY sim DESC, neighbor_id) AS rnk
                 FROM bsims) t WHERE rnk <= $LshK),
      base AS (SELECT vec_id AS q_id FROM e WHERE vec_id < $NumQueries),
      arms AS (
        SELECT 'seed' AS codebook, b.q_id,
               (SELECT count(*) FROM sticand c WHERE c.q_id = b.q_id)::BIGINT
                 AS n_cand,
               (SELECT count(*) FROM stiranked r JOIN btop t
                  ON t.q_id = r.q_id AND t.neighbor_id = r.neighbor_id
                WHERE r.q_id = b.q_id AND r.rnk <= $LshK)::BIGINT AS n_hit
        FROM base b
        UNION ALL
        SELECT 'trained' AS codebook, b.q_id,
               (SELECT count(*) FROM tricand c WHERE c.q_id = b.q_id)::BIGINT
                 AS n_cand,
               (SELECT count(*) FROM triranked r JOIN btop t
                  ON t.q_id = r.q_id AND t.neighbor_id = r.neighbor_id
                WHERE r.q_id = b.q_id AND r.rnk <= $LshK)::BIGINT AS n_hit
        FROM base b)
      SELECT codebook, q_id, n_cand, n_hit, $LshK::BIGINT AS k,
             round(n_hit::DOUBLE / $LshK, 4) AS recall
      FROM arms ORDER BY codebook, q_id""")),
    "q171_assignment_churn" -> ((q171AssignmentChurn _, s"""
      $kmeansChainSql
      SELECT k.c::BIGINT AS cluster, count(*)::BIGINT AS n,
             sum(CASE WHEN a1.c <> k.c THEN 1 ELSE 0 END)::BIGINT AS n_moved,
             (sum(CASE WHEN a1.c <> k.c THEN 1 ELSE 0 END) * 1000000
               // count(*))::BIGINT AS churn_ppm
      FROM kfin k JOIN a1 USING (vec_id)
      GROUP BY k.c ORDER BY cluster""")),
    "q169_prototype_pruning" -> ((q169PrototypePruning _, s"""
      $kmeansChainSql
      SELECT vec_id, c::BIGINT AS cluster, dd::BIGINT AS d2,
             (row_number() OVER (PARTITION BY c ORDER BY dd DESC, vec_id)
                <= (count(*) OVER (PARTITION BY c) * $PruneKeepPpm
                    + 999999) // 1000000) AS keep
      FROM kfin ORDER BY vec_id""")),
    "q93_cluster_purity" -> ((q93ClusterPurity _, s"""
      $kmeansChainSql,
      lbl AS (SELECT k.c, k.dd, e.label FROM kfin k
              JOIN embeddings e USING (vec_id)),
      per AS (SELECT c, label, count(*) AS nl FROM lbl GROUP BY 1, 2),
      maj AS (SELECT c, label AS maj_label, nl AS n_maj FROM (
                SELECT c, label, nl,
                       row_number() OVER (PARTITION BY c
                         ORDER BY nl DESC, label) AS rn
                FROM per) t WHERE rn = 1),
      tot AS (SELECT c, count(*) AS n, sum(dd) AS sum_d2 FROM lbl GROUP BY 1)
      SELECT t.c::BIGINT AS cluster, t.n, m.maj_label::BIGINT AS maj_label,
             m.n_maj, (m.n_maj * 1000000 // t.n)::BIGINT AS purity_ppm,
             t.sum_d2::BIGINT AS sum_d2
      FROM tot t JOIN maj m ON m.c = t.c
      ORDER BY cluster""")),
    "q144_ivf_cell_stats" -> ((q144IvfCellStats _, s"""
      $kmeansChainSql,
      slots AS (SELECT DISTINCT c AS cell FROM c2),
      occ AS (SELECT c AS cell, count(*) AS n FROM kfin GROUP BY 1),
      cc AS (SELECT s.cell, coalesce(occ.n, 0) AS n_vecs
             FROM slots s LEFT JOIN occ USING (cell)),
      tt AS (SELECT sum(n_vecs) AS total FROM cc)
      SELECT cc.cell::BIGINT AS cell, cc.n_vecs::BIGINT AS n_vecs,
             (cc.n_vecs * 1000000 // tt.total)::BIGINT AS share_ppm
      FROM cc, tt ORDER BY cell""")),
    "q145_pq_code_stats" -> ((q145PqCodeStats _, s"""
      $pqSqlPrefix,
      allc AS (
        ${(0 until PqM).map(m => s"""
        SELECT $m AS m, s.code, coalesce(occ.n, 0) AS n_vecs
        FROM (SELECT DISTINCT c AS code FROM c2_$m) s
        LEFT JOIN (SELECT c AS code, count(*) AS n FROM kf$m GROUP BY 1) occ
          USING (code)""").mkString("\n        UNION ALL ")}),
      tt AS (SELECT (sum(n_vecs) // $PqM) AS total FROM allc)
      SELECT allc.m::BIGINT AS m, allc.code::BIGINT AS code,
             allc.n_vecs::BIGINT AS n_vecs,
             (allc.n_vecs * 1000000 // tt.total)::BIGINT AS share_ppm
      FROM allc, tt ORDER BY m, code""")),
    "q137_pq_codes" -> ((q137PqCodes _, s"""
      $pqSqlPrefix
      SELECT k0.vec_id,
             k0.c::BIGINT AS code_0, k1.c::BIGINT AS code_1,
             k2.c::BIGINT AS code_2, k3.c::BIGINT AS code_3,
             (k0.dd + k1.dd + k2.dd + k3.dd)::BIGINT AS recon_d2
      FROM kf0 k0 JOIN kf1 k1 USING (vec_id)
                  JOIN kf2 k2 USING (vec_id)
                  JOIN kf3 k3 USING (vec_id)
      ORDER BY vec_id""")),
    "q138_pq_adc" -> ((q138PqAdc _, s"""
      $pqSqlPrefix,
      $pqQtCtes,
      parts AS (
        ${(0 until PqM).map(m =>
          s"""SELECT q.q_id, k.vec_id AS neighbor_id, q.pd2
            FROM qt$m q JOIN kf$m k ON k.c = q.code""").mkString("\n        UNION ALL ")}),
      adc AS (SELECT q_id, neighbor_id, sum(pd2) AS adc_d2 FROM parts
              WHERE neighbor_id <> q_id GROUP BY 1, 2),
      rk AS (SELECT q_id, neighbor_id, adc_d2,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY adc_d2, neighbor_id) AS rnk
             FROM adc)
      SELECT q_id, neighbor_id, adc_d2::BIGINT AS adc_d2, rnk FROM rk
      WHERE rnk <= $PqAdcK ORDER BY q_id, rnk""")),
    "q141_ivfadc" -> ((q141Ivfadc _, s"""
      $kmeansChainSql,
      $ivfadcCtes,
      ark AS (SELECT q_id, neighbor_id, adc_d2,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY adc_d2, neighbor_id) AS rnk
              FROM aadc)
      SELECT q_id, neighbor_id, adc_d2::BIGINT AS adc_d2, rnk FROM ark
      WHERE rnk <= $PqAdcK ORDER BY q_id, rnk""")),
    "q86_semdedup" -> ((q86SemDedup _, s"""
      $semDedupSqlPrefix,
      qc AS (SELECT vec_id,
               list_transform(embedding, x -> round(x::DOUBLE * $QuantScale)::BIGINT) AS qv
             FROM embeddings),
      qce AS (SELECT vec_id, unnest(generate_series(1, len(qv))) AS dim,
                     unnest(qv) AS v FROM qc),
      n2 AS (SELECT vec_id, sum(v * v)::BIGINT AS n2 FROM qce GROUP BY 1),
      pairs AS (SELECT pa.c AS cluster, pa.vec_id AS id_a, pb.vec_id AS id_b
                FROM a1 pa JOIN a1 pb
                  ON pa.c = pb.c AND pa.vec_id < pb.vec_id),
      dots AS (SELECT p.cluster, p.id_a, p.id_b, sum(x.v * y.v)::BIGINT AS dot
               FROM pairs p
               JOIN qce x ON x.vec_id = p.id_a
               JOIN qce y ON y.vec_id = p.id_b AND y.dim = x.dim
               GROUP BY 1, 2, 3)
      SELECT d.cluster::BIGINT AS cluster, d.id_a, d.id_b, d.dot,
             na.n2 AS n2_a, nb.n2 AS n2_b
      FROM dots d
      JOIN n2 na ON na.vec_id = d.id_a
      JOIN n2 nb ON nb.vec_id = d.id_b
      WHERE d.dot > 0 AND 10000 * d.dot * d.dot >= $SemDedupTauSq10k * na.n2 * nb.n2
      ORDER BY d.id_a, d.id_b""")),
    "q200_semdedup_sweep" -> ((q200SemdedupSweep _, s"""
      $semDedupSqlPrefix,
      qc AS (SELECT vec_id,
               list_transform(embedding, x -> round(x::DOUBLE * $QuantScale)::BIGINT) AS qv
             FROM embeddings),
      qce AS (SELECT vec_id, unnest(generate_series(1, len(qv))) AS dim,
                     unnest(qv) AS v FROM qc),
      n2 AS (SELECT vec_id, sum(v * v)::BIGINT AS n2 FROM qce GROUP BY 1),
      pairs AS (SELECT pa.c AS cluster, pa.vec_id AS id_a, pb.vec_id AS id_b
                FROM a1 pa JOIN a1 pb
                  ON pa.c = pb.c AND pa.vec_id < pb.vec_id),
      dots AS (SELECT p.cluster, p.id_a, p.id_b, sum(x.v * y.v)::BIGINT AS dot
               FROM pairs p
               JOIN qce x ON x.vec_id = p.id_a
               JOIN qce y ON y.vec_id = p.id_b AND y.dim = x.dim
               GROUP BY 1, 2, 3),
      qual AS (SELECT d.cluster, d.id_a, d.id_b, d.dot,
                      na.n2 AS n2_a, nb.n2 AS n2_b
               FROM dots d
               JOIN n2 na ON na.vec_id = d.id_a
               JOIN n2 nb ON nb.vec_id = d.id_b
               WHERE d.dot > 0 AND 10000 * d.dot * d.dot >=
                 ${SemDedupTauSweep10k.min} * na.n2 * nb.n2),
      grid AS (SELECT unnest([${SemDedupTauSweep10k.mkString(", ")}])::BIGINT
                 AS tau_sq_10k),
      arm AS (SELECT g.tau_sq_10k, count(*)::BIGINT AS n_pairs,
                     count(DISTINCT q.id_b)::BIGINT AS n_dropped
              FROM grid g JOIN qual q
                ON 10000 * q.dot * q.dot >= g.tau_sq_10k * q.n2_a * q.n2_b
              GROUP BY 1),
      nv AS (SELECT count(*)::BIGINT AS n FROM embeddings)
      SELECT g.tau_sq_10k, coalesce(a.n_pairs, 0)::BIGINT AS n_pairs,
             coalesce(a.n_dropped, 0)::BIGINT AS n_dropped,
             (nv.n - coalesce(a.n_dropped, 0))::BIGINT AS n_kept,
             ((nv.n - coalesce(a.n_dropped, 0)) * 1000000 // nv.n)::BIGINT
               AS kept_ppm
      FROM grid g LEFT JOIN arm a USING (tau_sq_10k) CROSS JOIN nv
      ORDER BY tau_sq_10k""")),
    "q84_rerank_topk" -> ((q84RerankTopK _, s"""
      $lshProbeCtes,
      topk AS (SELECT q_id, neighbor_id, sim FROM ranked WHERE rnk <= $LshK),
      rer AS (
        SELECT q_id, neighbor_id, sim,
               ('0x' || substr(md5(q_id::VARCHAR || ':' || neighbor_id::VARCHAR),
                1, 8))::BIGINT / 4294967296.0 AS ce
        FROM topk),
      fin AS (
        SELECT q_id, neighbor_id, sim,
               round($RerankSimWeight * sim + $RerankCeWeight * ce, 6)
                 AS final_score
        FROM rer),
      rr AS (
        SELECT q_id, neighbor_id, sim, final_score,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY final_score DESC, neighbor_id) AS rr
        FROM fin)
      SELECT q_id, rr, neighbor_id, sim, final_score FROM rr
      WHERE rr <= $RerankK ORDER BY q_id, rr""")),
    "q126_label_affinity" -> ((q126LabelAffinity _, s"""
      WITH q AS (SELECT label,
                   list_transform(embedding,
                     x -> round(x::DOUBLE * $QuantScale)::BIGINT) AS qv
                 FROM embeddings),
      qe AS (SELECT label, unnest(generate_series(1, len(qv))) AS dim,
                    unnest(qv) AS v FROM q),
      bydim AS (SELECT label, dim, cast(sum(v) AS BIGINT) AS sv
                FROM qe GROUP BY 1, 2),
      st AS (SELECT a.label AS label_a, b.label AS label_b,
                    sum(a.sv::HUGEINT * b.sv) AS dot,
                    sum(a.sv::HUGEINT * a.sv) AS n2a,
                    sum(b.sv::HUGEINT * b.sv) AS n2b
             FROM bydim a JOIN bydim b
               ON a.dim = b.dim AND a.label < b.label
             GROUP BY 1, 2)
      SELECT label_a::BIGINT AS label_a, label_b::BIGINT AS label_b,
             round(dot::DOUBLE / (sqrt(n2a::DOUBLE) * sqrt(n2b::DOUBLE)), 6)
               AS cos_ab
      FROM st ORDER BY label_a, label_b""")),
    "q188_drift_trend" -> ((q188DriftTrend _, s"""
      WITH mx AS (SELECT max(vec_id) + 1 AS m FROM embeddings),
      q AS (SELECT (vec_id * $DriftTrendBands) // mx.m AS band,
                   list_transform(embedding,
                     x -> round(x::DOUBLE * $QuantScale)::BIGINT) AS qv
            FROM embeddings, mx),
      qe AS (SELECT band, unnest(generate_series(1, len(qv))) AS dim,
                    unnest(qv) AS v FROM q),
      bydim AS (SELECT band, dim, cast(sum(v) AS BIGINT) AS sv,
                       count(*) AS n
                FROM qe GROUP BY 1, 2),
      gsum AS (SELECT dim, cast(sum(sv) AS BIGINT) AS gv
               FROM bydim GROUP BY 1),
      st AS (SELECT b.band, max(b.n) AS n_vecs,
                    sum(b.sv::HUGEINT * g.gv) AS dot,
                    sum(b.sv::HUGEINT * b.sv) AS n2b,
                    sum(g.gv::HUGEINT * g.gv) AS n2g
             FROM bydim b JOIN gsum g USING (dim) GROUP BY 1)
      SELECT band::BIGINT AS band, n_vecs,
             round(dot::DOUBLE / (sqrt(n2b::DOUBLE) * sqrt(n2g::DOUBLE)), 6)
               AS cos_to_corpus,
             round(sqrt(n2b::DOUBLE) / n_vecs / $QuantScale.0, 4) AS mean_norm
      FROM st ORDER BY band""")),
    "q118_embedding_drift" -> ((q118EmbeddingDrift _, s"""
      WITH q AS (SELECT label,
                   list_transform(embedding,
                     x -> round(x::DOUBLE * $QuantScale)::BIGINT) AS qv
                 FROM embeddings),
      qe AS (SELECT label, unnest(generate_series(1, len(qv))) AS dim,
                    unnest(qv) AS v FROM q),
      bydim AS (SELECT label, dim, cast(sum(v) AS BIGINT) AS sv,
                       count(*) AS n
                FROM qe GROUP BY 1, 2),
      gsum AS (SELECT dim, cast(sum(sv) AS BIGINT) AS gv
               FROM bydim GROUP BY 1),
      st AS (SELECT b.label, max(b.n) AS n_vecs,
                    sum(b.sv::HUGEINT * g.gv) AS dot,
                    sum(b.sv::HUGEINT * b.sv) AS n2l,
                    sum(g.gv::HUGEINT * g.gv) AS n2g
             FROM bydim b JOIN gsum g USING (dim) GROUP BY 1)
      SELECT label::BIGINT AS label, n_vecs,
             round(dot::DOUBLE / (sqrt(n2l::DOUBLE) * sqrt(n2g::DOUBLE)), 6)
               AS cos_to_corpus,
             round(sqrt(n2l::DOUBLE) / n_vecs / $QuantScale.0, 4) AS mean_norm
      FROM st ORDER BY label""")),
    "q82_dim_stats" -> ((q82DimStats _, """
      WITH e AS (
        SELECT unnest(generate_series(1, len(embedding))) AS dim,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings),
      agg AS (
        SELECT dim, count(*) AS n,
               list_sum(list_sort(list(x))) AS sx,
               list_sum(list_sort(list(x * x))) AS sxx,
               min(x) AS min_x, max(x) AS max_x
        FROM e GROUP BY dim)
      SELECT dim::BIGINT AS dim, n, round(sx / n, 6) AS mean,
             round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std,
             round(min_x, 6) AS min_x, round(max_x, 6) AS max_x
      FROM agg ORDER BY dim""")),
    "q77_quant_error" -> ((q77QuantError _, """
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
                   (list_max(v) - list_min(v)) / 255.0 AS sc FROM v)
      SELECT vec_id, round(mn, 6) AS vmin, round(mx, 6) AS vmax,
             round(CASE WHEN sc = 0 THEN 0.0 ELSE
               list_max(list_transform(v,
                 x -> abs(x - (mn + round((x - mn) / sc) * sc))))
             END, 8) AS max_err
      FROM m ORDER BY vec_id""")),
    "q25_knn_brute" -> ((q25KnnBrute _, s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sims AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(c.v, q.v), 6) AS sim
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < $NumQueries
      ),
      ranked AS (
        SELECT q_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rnk
        FROM sims
      )
      SELECT q_id, neighbor_id, sim, rnk FROM ranked WHERE rnk <= $K
      ORDER BY q_id, rnk""")),
    "q132_hard_negatives" -> ((q132HardNegatives _, s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                 FROM embeddings),
      sims AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(c.v, q.v), 6) AS sim
        FROM e q JOIN e c
          ON c.vec_id <> q.vec_id AND c.label <> q.label
        WHERE q.vec_id < $NumQueries
      ),
      ranked AS (
        SELECT q_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY sim DESC, neighbor_id) AS rnk
        FROM sims
      )
      SELECT q_id, neighbor_id, sim, rnk FROM ranked
      WHERE rnk <= $HardNegK ORDER BY q_id, rnk""")),
    "q26_knn_lsh" -> ((q26KnnLsh _, lshProbeSql)),
    "q105_ann_recall" -> ((q105AnnRecall _, s"""
      $lshProbeCtes,
      $kmeansChainBody,
      $ivfCtes,
      $ivfadcCtes,
      ark AS (SELECT q_id, neighbor_id,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY adc_d2, neighbor_id) AS rnk
              FROM aadc),
      atop AS (SELECT q_id, neighbor_id FROM ark WHERE rnk <= $PqAdcK),
      ltop AS (SELECT q_id, neighbor_id FROM ranked WHERE rnk <= $LshK),
      itop AS (SELECT q_id, neighbor_id FROM iranked WHERE rnk <= $LshK),
      bsims AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(c.v, q.v), 6) AS sim
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < $NumQueries
      ),
      branked AS (
        SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, neighbor_id) AS rnk
        FROM bsims
      ),
      btop AS (SELECT q_id, neighbor_id FROM branked WHERE rnk <= $LshK),
      lhits AS (
        SELECT b.q_id, count(l.neighbor_id)::BIGINT AS n_hit
        FROM btop b LEFT JOIN ltop l
          ON l.q_id = b.q_id AND l.neighbor_id = b.neighbor_id
        GROUP BY b.q_id
      ),
      ihits AS (
        SELECT b.q_id, count(i.neighbor_id)::BIGINT AS n_hit
        FROM btop b LEFT JOIN itop i
          ON i.q_id = b.q_id AND i.neighbor_id = b.neighbor_id
        GROUP BY b.q_id
      ),
      ahits AS (
        SELECT b.q_id, count(a.neighbor_id)::BIGINT AS n_hit
        FROM btop b LEFT JOIN atop a
          ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
        GROUP BY b.q_id
      )
      SELECT * FROM (
        SELECT 'ivf' AS tier, q_id, n_hit, $LshK::BIGINT AS k,
               round(n_hit::DOUBLE / $LshK, 4) AS recall FROM ihits
        UNION ALL
        SELECT 'lsh' AS tier, q_id, n_hit, $LshK::BIGINT AS k,
               round(n_hit::DOUBLE / $LshK, 4) AS recall FROM lhits
        UNION ALL
        SELECT 'ivfadc' AS tier, q_id, n_hit, $LshK::BIGINT AS k,
               round(n_hit::DOUBLE / $LshK, 4) AS recall FROM ahits)
      ORDER BY tier, q_id""")),
    "q166_quant_sweep" -> ((q166QuantSweep _, {
      val armSelects = QuantBitsGrid.map { bits =>
        val lv = (1 << bits) - 1
        val l = s"$lv.0"
        s"""SELECT $bits AS bits, $lv AS levels,
               cast(round((CASE WHEN mx = mn THEN 0.0 ELSE
                 list_max(list_transform(v, x -> abs(x - (mn +
                   round((x - mn) / ((mx - mn) / $l)) * ((mx - mn) / $l)))))
                 END) * 100000000) AS BIGINT) AS err8
            FROM c"""
      }.mkString("\n        UNION ALL ")
      s"""
      WITH b AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v
                 FROM embeddings),
      c AS (SELECT v, list_min(v) AS mn, list_max(v) AS mx FROM b),
      arms AS (
        $armSelects)
      SELECT bits::BIGINT AS bits, levels::BIGINT AS levels,
             count(*)::BIGINT AS n_vecs,
             max(err8)::BIGINT AS max_err_x1e8,
             (sum(err8) // count(*))::BIGINT AS mean_err_x1e8
      FROM arms GROUP BY 1, 2 ORDER BY bits"""
    })),
    "q160_cluster_quality" -> ((q160ClusterQuality _, s"""
      $kmeansChainSql,
      s2 AS (SELECT c, count(*)::BIGINT AS n,
                    (sum(dd) // count(*))::BIGINT AS s2_mean
             FROM kfin GROUP BY c),
      cm2 AS (SELECT a.c AS ca, b.c AS cb,
                     sum((a.cv - b.cv) * (a.cv - b.cv))::BIGINT AS m2
              FROM c2 a JOIN c2 b ON a.dim = b.dim AND a.c <> b.c
              GROUP BY 1, 2),
      nn AS (SELECT ca AS cluster, cb AS nn_cluster, m2 AS m2_nn FROM (
               SELECT ca, cb, m2,
                      row_number() OVER (PARTITION BY ca
                        ORDER BY m2, cb) AS rn
               FROM cm2) t WHERE rn = 1)
      SELECT s.c::BIGINT AS cluster, s.n, s.s2_mean,
             nn.nn_cluster::BIGINT AS nn_cluster, nn.m2_nn,
             ((s.s2_mean + s2b.s2_mean) * 1000 // nn.m2_nn)::BIGINT
               AS db_x1000
      FROM s2 s
      JOIN nn ON nn.cluster = s.c
      JOIN s2 s2b ON s2b.c = nn.nn_cluster
      ORDER BY cluster""")),
    "q155_embed_health" -> ((q155EmbedHealth _, s"""
      WITH q AS (SELECT vec_id, label, embedding,
                        list_transform(embedding,
                          x -> round(x::DOUBLE * $QuantScale)::BIGINT) AS qv,
                        len(embedding)::BIGINT AS dim
                 FROM embeddings),
      n AS (SELECT vec_id, sum(v * v)::BIGINT AS norm2
            FROM (SELECT vec_id, unnest(qv) AS v FROM q) GROUP BY vec_id),
      dc AS (SELECT embedding, count(*) AS cnt
             FROM embeddings GROUP BY embedding),
      b AS (SELECT q.label, q.dim, coalesce(n.norm2, 0) AS norm2,
                   CASE WHEN dc.cnt >= 2 THEN 1 ELSE 0 END AS is_dup
            FROM q
            LEFT JOIN n USING (vec_id)
            JOIN dc ON dc.embedding = q.embedding)
      SELECT label, count(*)::BIGINT AS n_vecs,
             min(dim)::BIGINT AS min_dim, max(dim)::BIGINT AS max_dim,
             sum(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
             sum(is_dup)::BIGINT AS n_dup,
             min(norm2)::BIGINT AS min_norm2, max(norm2)::BIGINT AS max_norm2
      FROM b GROUP BY label ORDER BY label""")),
    "q152_nprobe_sweep" -> ((q152NprobeSweep _, s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      $kmeansChainBody,
      $ivfCtes,
      qrank AS (SELECT vec_id AS q_id, v AS qv, c_id AS cell,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY s DESC, c_id) AS crk
                FROM iscored WHERE vec_id < $NumQueries),
      grid AS (SELECT unnest([${NprobeGrid.mkString(", ")}])::BIGINT AS np),
      sprobes AS (SELECT g.np, q.q_id, q.qv, q.cell
                  FROM grid g JOIN qrank q ON q.crk <= g.np),
      scand AS (SELECT p.np, p.q_id, a.vec_id AS neighbor_id,
                       round(list_cosine_similarity(p.qv, a.v), 6) AS sim
                FROM sprobes p JOIN iasg a
                  ON a.cell = p.cell AND a.vec_id <> p.q_id),
      stop_ AS (SELECT np, q_id, neighbor_id FROM (
                  SELECT np, q_id, neighbor_id,
                         row_number() OVER (PARTITION BY np, q_id
                           ORDER BY sim DESC, neighbor_id) AS rnk
                  FROM scand) t WHERE rnk <= $LshK),
      bsims AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                       round(list_cosine_similarity(c.v, q.v), 6) AS sim
                FROM e q JOIN e c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < $NumQueries),
      btop AS (SELECT q_id, neighbor_id FROM (
                 SELECT q_id, neighbor_id,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY sim DESC, neighbor_id) AS rnk
                 FROM bsims) t WHERE rnk <= $LshK),
      nc AS (SELECT np, q_id, count(*)::BIGINT AS n_cand
             FROM scand GROUP BY 1, 2),
      nh AS (SELECT t.np, t.q_id, count(*)::BIGINT AS n_hit
             FROM stop_ t JOIN btop b
               ON b.q_id = t.q_id AND b.neighbor_id = t.neighbor_id
             GROUP BY 1, 2),
      sbase AS (SELECT g.np, e.vec_id AS q_id FROM grid g, e
                WHERE e.vec_id < $NumQueries)
      SELECT b.np, b.q_id,
             coalesce(nc.n_cand, 0)::BIGINT AS n_cand,
             coalesce(nh.n_hit, 0)::BIGINT AS n_hit,
             $LshK::BIGINT AS k,
             round(coalesce(nh.n_hit, 0)::DOUBLE / $LshK, 4) AS recall
      FROM sbase b
      LEFT JOIN nc ON nc.np = b.np AND nc.q_id = b.q_id
      LEFT JOIN nh ON nh.np = b.np AND nh.q_id = b.q_id
      ORDER BY b.np, b.q_id""")),
    "q49_knn_agg" -> ((q49KnnAgg _, s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sims AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(c.v, q.v), 6) AS sim
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < $NumQueries
      ),
      ranked AS (
        SELECT q_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rnk
        FROM sims
      )
      SELECT q_id, neighbor_id, sim, rnk FROM ranked WHERE rnk <= $K
      ORDER BY q_id, rnk""")),
    "q44_dedup_embedding" -> ((q44DedupEmbedding _, {
      // all MaxDedupPlanes plane terms inlined; plane j contributes only
      // when j < np — the adaptive count from the SAME integer formula as
      // dedupPlanes (generate_series probe = smallest p with 2^p >= cells)
      val planes = planeTable(MaxDedupPlanes).zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN $j < n.np AND list_inner_product(v, ${p.mkString("[", ",", "]")}::DOUBLE[]) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""
      WITH n AS (SELECT least($MaxDedupPlanes, greatest($NumPlanes,
                   coalesce((SELECT min(p)
                             FROM generate_series(0, $MaxDedupPlanes) t(p)
                             WHERE (1::BIGINT << p) >=
                               ((SELECT count(*) FROM embeddings)
                                 + ${DedupTargetBucket - 1}) // $DedupTargetBucket),
                     $MaxDedupPlanes))) AS np),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      b AS (SELECT vec_id, v, ($planes)::BIGINT AS bucket FROM e, n)
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             round(list_cosine_similarity(a.v, b2.v), 6) AS sim
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
      WHERE round(list_cosine_similarity(a.v, b2.v), 6) >= $NearDupCosine
      ORDER BY id_a, id_b"""
    })),
    "q27_approx_distinct" -> ((q27ApproxDistinct _, """
      SELECT count(DISTINCT user_id) AS n_users, true AS approx_ok
      FROM events""")),
    "q62_approx_percentile" -> ((q62ApproxPercentile _, """
      SELECT o_orderpriority, floor(quantile_cont(o_totalprice, 0.5))::BIGINT AS p50,
             true AS approx_ok
      FROM orders GROUP BY 1 ORDER BY 1""")),
    "q53_knn_ivf" -> ((q53KnnIvf _, s"""
      WITH $kmeansChainBody,
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      $ivfCtes
      SELECT q_id, neighbor_id, sim, rnk FROM iranked WHERE rnk <= $IvfK
      ORDER BY q_id, rnk"""))
  )
}
