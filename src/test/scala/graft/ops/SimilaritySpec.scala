package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Similarity search: LSH tier recall vs the exact brute-force baseline,
  * plan shape (equi-join on bucket, corpus never broadcast), and the
  * HLL approx-distinct accuracy contract. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("brute-force top-k: k rows per query, sim in [-1,1], self excluded") {
    val rows = Similarity.q25KnnBrute(spark, sf).collect()
    val perQuery = rows.groupBy(_.getAs[Long]("q_id"))
    assert(perQuery.size == Similarity.NumQueries)
    perQuery.foreach { case (q, rs) =>
      assert(rs.length == Similarity.K)
      rs.foreach { r =>
        assert(r.getAs[Long]("neighbor_id") != q)
        val s = r.getAs[Double]("sim")
        assert(s >= -1.0001 && s <= 1.0001)
      }
    }
  }

  test("q132 hard negatives: label-different, similarity-ranked, no self") {
    import org.apache.spark.sql.functions._
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.q132HardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= Similarity.HardNegK)
      rs.foreach { r =>
        val n = r.getAs[Long]("neighbor_id")
        assert(n != q)
        assert(labels(n) != labels(q), s"negative $n shares label with $q")
      }
      val sims = rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("sim"))
      assert(sims.toSeq == sims.sorted.reverse.toSeq)
      // hard = the TOP similar among label-different: no label-different
      // vector may beat the worst reported negative
      val worst = sims.last
      val better = Tables.embeddings(spark, sf).collect()
      assert(rs.length == Similarity.HardNegK || better.count(r2 =>
        r2.getLong(0) != q && labels(r2.getLong(0)) != labels(q)) == rs.length)
      assert(worst >= -1.0001 && worst <= 1.0001)
    }
  }

  test("LSH tier: neighbors come from probed buckets and rank correctly") {
    val lsh = Similarity.q26KnnLsh(spark, sf).collect()
    val brute = Similarity.q25KnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    // every LSH hit must be a real vector pair with valid sim; recall vs
    // brute-force top-K is the quality dial (not 100% by design), but with
    // 64 buckets over ~100 vectors + multiprobe it should be nonzero
    assert(lsh.nonEmpty)
    val hits = lsh.count(r =>
      brute.contains((r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))))
    assert(hits > 0, s"LSH found no brute-force top-${Similarity.K} neighbor at all")
  }

  test("LSH probe join is an equi-join on bucket (no cartesian of the corpus)") {
    val plan = Similarity.q26KnnLsh(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("brute force broadcasts only the tiny query side") {
    val plan = Similarity.q25KnnBrute(spark, sf).queryExecution.executedPlan.toString
    // nested-loop is expected (non-equi self-pair filter), but the build side
    // must be the broadcast queries, so no shuffle of the corpus
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("embedding near-dup: pairs are bucket-restricted, above threshold, ordered") {
    val rows = Similarity.q44DedupEmbedding(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("sim") >= Similarity.NearDupCosine)
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
    }
    val plan = Similarity.q44DedupEmbedding(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    // scale contract: candidate pairs stream through the bucket equi-join;
    // no per-bucket materialization of vector arrays
    assert(!plan.toLowerCase.contains("collect_list"), plan.take(1200))
  }

  test("approx distinct stays within the 5% contract at sf0.001") {
    spark.conf.set(Similarity.ExactCheckConf, "true")
    try {
      val r = Similarity.q27ApproxDistinct(spark, sf).collect().head
      assert(r.getAs[Boolean]("approx_ok"))
    } finally spark.conf.unset(Similarity.ExactCheckConf)
  }

  test("approx distinct defaults to sketch-only — no exact count in the plan") {
    val q = Similarity.q27ApproxDistinct(spark, sf)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("count(distinct"), plan.take(1200))
    assert(q.collect().head.getAs[Boolean]("approx_ok")) // lit(true) marker
  }

  test("approx percentile defaults to sketch-only — no exact pass in the plan") {
    val q = Similarity.q62ApproxPercentile(spark, sf)
    val plan = q.queryExecution.optimizedPlan.toString
    // 'percentile(' must appear only as approx_percentile — the exact
    // per-group value materialization is the cost the gate exists to avoid
    assert(!plan.toLowerCase.replace("approx_percentile", "")
      .contains("percentile("), plan.take(1200))
    assert(q.collect().forall(_.getAs[Boolean]("approx_ok")))
  }

  test("IVF kNN: broadcast cell-probe join, no cartesian, ranked output") {
    val q = Similarity.q53KnnIvf(spark, sf)
    val rows = q.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { rs =>
      assert(rs.length <= Similarity.IvfK)
      val sims = rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("sim"))
      assert(sims.sameElements(sims.sortBy(-_)), "rank order must follow sim")
    }
    val plan = q.queryExecution.executedPlan.toString
    // tiny probed query side broadcasts; the assigned corpus streams through
    // an equi-join on cell id — no shuffle of the corpus, never a cartesian
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("hyperplanes are deterministic across invocations") {
    assert(Similarity.hyperplanes.flatten.toSeq ==
      Similarity.hyperplanes.flatten.toSeq)
    assert(Similarity.hyperplanes.forall(_.forall(v => v >= -1000 && v <= 1000)))
  }

  test("rerank draws only from the ANN candidate set, k per query") {
    val cands = Similarity.q26KnnLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val rr = Similarity.q84RerankTopK(spark, sf).collect()
    assert(rr.nonEmpty)
    // the expensive stage never touches a pair ANN didn't propose
    assert(rr.forall(r =>
      cands.contains((r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))))
    rr.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      assert(rows.length <= Similarity.RerankK)
      assert(rows.map(_.getAs[Long]("rr")).sorted.toSeq ==
        (1L to rows.length).toSeq)
    }
    // blend values are oracle-checked; pin the bounds here (cosine <= 1,
    // rerank draw < 1 -> blend < 1)
    rr.foreach(r => assert(r.getAs[Double]("final_score") <= 1.0 + 1e-9))
  }

  test("per-dimension stats: hand-computed mean/std on a planted matrix") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1f, 4f), 0),
      (2L, Array(3f, 2f), 0)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("dimstats").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.q82DimStats(spark, dir).collect()
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[Double]("mean"), r.getAs[Double]("std"),
          r.getAs[Double]("min_x"), r.getAs[Double]("max_x"))).toMap
    // dim 1: {1,3} -> mean 2, std sqrt(2); dim 2: {4,2} -> mean 3, std sqrt(2)
    assert(out(1L) == (2.0, 1.414214, 1.0, 3.0))
    assert(out(2L) == (3.0, 1.414214, 2.0, 4.0))
  }

  test("embedding drift: closed-form cosines to the corpus centroid") {
    import spark.implicits._
    // label 0 sums to (2000, 0) on the grid, label 1 to (0, 1000);
    // global = (2000, 1000), |global| = 1000*sqrt(5)
    val emb = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(1f, 0f), 0),
      (3L, Array(0f, 1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.q118EmbeddingDrift(spark, dir).collect()
      .map(r => r.getAs[Long]("label") -> r).toMap
    assert(out(0L).getAs[Long]("n_vecs") == 2L)
    // cos = 2/sqrt(5) and 1/sqrt(5)
    assert(out(0L).getAs[Double]("cos_to_corpus") == 0.894427)
    assert(out(1L).getAs[Double]("cos_to_corpus") == 0.447214)
    // both labels' members are unit vectors pointing one way -> mean norm 1
    assert(out(0L).getAs[Double]("mean_norm") == 1.0)
    assert(out(1L).getAs[Double]("mean_norm") == 1.0)
  }

  test("embedding drift plan: one scan, label rollup feeds a broadcast join") {
    val df = Similarity.q118EmbeddingDrift(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("label affinity: closed-form pairwise centroid cosines") {
    import spark.implicits._
    // centroid directions: label 0 -> (1,0), label 1 -> (0,1),
    // label 2 -> (1,1)/sqrt(2); cos(0,1)=0, cos(0,2)=cos(1,2)=0.707107
    val emb = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 0),
      (3L, Array(0f, 1f), 1),
      (4L, Array(1f, 1f), 2)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("affinity").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.q126LabelAffinity(spark, dir).collect()
      .map(r => (r.getAs[Long]("label_a"), r.getAs[Long]("label_b")) ->
        r.getAs[Double]("cos_ab")).toMap
    assert(out.size == 3)
    assert(out((0L, 1L)) == 0.0)
    assert(out((0L, 2L)) == 0.707107)
    assert(out((1L, 2L)) == 0.707107)
  }

  test("quantization error: exact range hits zero, bounded by half a step") {
    import spark.implicits._
    val emb = Seq(
      // exactly representable 0..255 range -> step 1.0, zero error
      (1L, Array(0f, 255f, 128f), 0),
      // constant vector -> degenerate scale, defined as zero error
      (2L, Array(3f, 3f, 3f), 0),
      (3L, Array(0f, 1f, 2f, 0.37f), 0)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("quant").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.q77QuantError(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("max_err")).toMap
    assert(out(1L) == 0.0)
    assert(out(2L) == 0.0)
    // error can never exceed half the quantization step (+ the 8-decimal
    // output rounding, which can nudge the value just past the bound)
    assert(out(3L) > 0 && out(3L) <= (2.0 / 255.0) / 2 + 1e-8)
  }

  test("ann recall covers every query per tier, bounded ratios, and both indexes work") {
    val rows = Similarity.q105AnnRecall(spark, sf).collect()
    val byTier = rows.groupBy(_.getAs[String]("tier"))
    assert(byTier.keySet == Set("ivf", "lsh", "ivfadc"))
    // every sampled query is present in each tier, hit or not
    byTier.values.foreach { trs =>
      assert(trs.map(_.getAs[Long]("q_id")).sorted.toSeq ==
        (0L until Similarity.NumQueries).toSeq)
    }
    rows.foreach { r =>
      val (hit, k) = (r.getAs[Long]("n_hit"), r.getAs[Long]("k"))
      assert(k == Similarity.LshK)
      assert(hit >= 0 && hit <= k)
      assert(r.getAs[Double]("recall") ==
        BigDecimal(hit.toDouble / k)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    def total(t: String): Long =
      byTier(t).map(_.getAs[Long]("n_hit")).sum
    // working indexes recover true neighbors, and the k-means-trained IVF
    // tier must not trail the hash-bucket tier at matched k (the point of
    // training the codebook on the actual fit)
    assert(total("lsh") > 0)
    assert(total("ivf") >= total("lsh"),
      s"ivf=${total("ivf")} lsh=${total("lsh")}")
    // the IVFADC tier works at all (its probe metric is L2 on the
    // quantized grid vs the ivf tier's cosine, so neither dominates the
    // other by construction — the closed-form IVFADC spec pins its exact
    // candidate set and scores instead)
    assert(total("ivfadc") > 0)
  }

  private def quantizedById: Map[Long, Array[Long]] =
    Similarity.quantized(spark, sf, Similarity.QuantOffset)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap

  private def pqSubD2(fits: Array[(Array[Long], Array[Array[Long]])],
                      v: Array[Long], m: Int, code: Long): Long = {
    val (labels, cents) = fits(m)
    val pos = labels.indexOf(code)
    assert(pos >= 0, s"code $code is not a subspace-$m label")
    val sub = v.slice(m * Similarity.PqSubDim, (m + 1) * Similarity.PqSubDim)
    sub.zip(cents(pos)).map { case (a, b) => (a - b) * (a - b) }.sum
  }

  test("PQ codes: per-subspace argmin codes, exact reconstruction error") {
    val fits = Similarity.pqFit(spark, sf)
    assert(fits.length == Similarity.PqM)
    val qv = quantizedById
    val rows = Similarity.q137PqCodes(spark, sf).collect()
    assert(rows.length == qv.size)
    rows.foreach { r =>
      val v = qv(r.getAs[Long]("vec_id"))
      var tot = 0L
      for (m <- 0 until Similarity.PqM) {
        val code = r.getAs[Long](s"code_$m")
        val (labels, cents) = fits(m)
        val sub = v.slice(m * Similarity.PqSubDim, (m + 1) * Similarity.PqSubDim)
        val dists = cents.map(c =>
          sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
        val d = dists(labels.indexOf(code))
        // assigned centroid is the argmin (ties resolve to lowest label,
        // which indexOf can't distinguish — argmin VALUE is the invariant)
        assert(d == dists.min, s"subspace $m: $d != ${dists.min}")
        tot += d
      }
      assert(r.getAs[Long]("recon_d2") == tot)
    }
  }

  test("PQ training is memoized: codes and ADC share one fit") {
    Similarity.q137PqCodes(spark, sf).collect()
    Similarity.q138PqAdc(spark, sf).collect()
    val n = Similarity.pqFits.get()
    Similarity.q137PqCodes(spark, sf).collect()
    Similarity.q138PqAdc(spark, sf).collect()
    assert(Similarity.pqFits.get() == n)
  }

  test("PQ ADC: exact table-lookup distances, true top-k, broadcast join") {
    val fits = Similarity.pqFit(spark, sf)
    val qv = quantizedById
    val codes = Similarity.q137PqCodes(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (0 until Similarity.PqM).map(m => r.getAs[Long](s"code_$m"))).toMap
    def adc(q: Long, n: Long): Long =
      (0 until Similarity.PqM).map(m => pqSubD2(fits, qv(q), m, codes(n)(m))).sum
    val rows = Similarity.q138PqAdc(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == Similarity.NumQueries)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == Similarity.PqAdcK)
      rs.foreach { r =>
        val n = r.getAs[Long]("neighbor_id")
        assert(n != q)
        assert(r.getAs[Long]("adc_d2") == adc(q, n))
      }
      // reported k must be the GLOBAL minimum over all non-self neighbors,
      // ordered (adc_d2 asc, neighbor asc)
      val expect = codes.keys.filter(_ != q).toSeq
        .map(n => (adc(q, n), n)).sorted.take(Similarity.PqAdcK)
      val got = rs.sortBy(_.getAs[Long]("rnk"))
        .map(r => (r.getAs[Long]("adc_d2"), r.getAs[Long]("neighbor_id"))).toSeq
      assert(got == expect)
    }
    val plan = Similarity.q138PqAdc(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("q144/q145 index-health reports partition the corpus exactly") {
    val n = Tables.embeddings(spark, sf).count()
    val (labels, _) = Similarity.kmeansFit(spark, sf)
    val cells = Similarity.q144IvfCellStats(spark, sf).collect()
    assert(cells.map(_.getAs[Long]("n_vecs")).sum == n,
      "every vector lands in exactly one cell")
    // EVERY codebook slot reports (empty cells as 0 — the alarm row)
    assert(cells.map(_.getAs[Long]("cell")).toSet == labels.toSet)
    cells.foreach { r =>
      assert(r.getAs[Long]("share_ppm") ==
        r.getAs[Long]("n_vecs") * 1000000L / n)
    }
    val fits = Similarity.pqFit(spark, sf)
    val codes = Similarity.q145PqCodeStats(spark, sf).collect()
    (0 until Similarity.PqM).foreach { m =>
      val sub = codes.filter(_.getAs[Long]("m") == m)
      assert(sub.map(_.getAs[Long]("n_vecs")).sum == n,
        s"subspace $m does not partition the corpus")
      assert(sub.map(_.getAs[Long]("code")).toSet == fits(m)._1.toSet,
        s"subspace $m must report every survivor code, used or not")
    }
  }

  test("IVFADC: probed-cell candidates only, ADC-exact, true cell top-k") {
    val (labels, cents) = Similarity.kmeansFit(spark, sf)
    val fits = Similarity.pqFit(spark, sf)
    val qv = quantizedById
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // coarse assignment: argmin over converged centroids, ties -> lowest label
    def cellOf(v: Array[Long]): Long = {
      val ds = cents.map(l2(v, _))
      labels(ds.indexOf(ds.min))
    }
    val cellsById = qv.map { case (id, v) => id -> cellOf(v) }
    val codes = Similarity.q137PqCodes(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (0 until Similarity.PqM).map(m => r.getAs[Long](s"code_$m"))).toMap
    def adc(q: Long, n: Long): Long =
      (0 until Similarity.PqM).map(m => pqSubD2(fits, qv(q), m, codes(n)(m))).sum
    val rows = Similarity.q141Ivfadc(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    // EVERY sampled query is checked against the hand model — a query
    // whose rows silently vanish must fail, not fall out of the groupBy
    (0L until Similarity.NumQueries).foreach { q =>
      // probe set: NumProbes nearest cells by L2, ties -> lowest label
      val probed = labels.map(l => (l2(qv(q), cents(labels.indexOf(l))), l))
        .sorted.take(Similarity.NumProbes).map(_._2).toSet
      val cand = cellsById.collect {
        case (id, c) if id != q && probed.contains(c) => id
      }.toSeq
      val expect = cand.map(n => (adc(q, n), n)).sorted
        .take(Similarity.PqAdcK)
      val got = byQ.getOrElse(q, Array.empty).sortBy(_.getAs[Long]("rnk"))
        .map(r => (r.getAs[Long]("adc_d2"), r.getAs[Long]("neighbor_id"))).toSeq
      assert(got == expect, s"q=$q got=$got expect=$expect")
    }
    val plan = Similarity.q141Ivfadc(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("adaptive K: integer sqrt rule, floored and capped, oracle-matching") {
    // smallest k with k*k >= n, floor KMeansK, cap MaxKMeansK
    assert(Similarity.kmeansKFor(0L) == Similarity.KMeansK)
    assert(Similarity.kmeansKFor(64L) == Similarity.KMeansK)   // 8^2 = 64
    assert(Similarity.kmeansKFor(65L) == 9)
    assert(Similarity.kmeansKFor(500L) == 23)                  // test corpus
    assert(Similarity.kmeansKFor(2000L) == 45)                 // sf0.1 corpus
    assert(Similarity.kmeansKFor(1000000L) == 1000)
    // past the cap the codebook stops growing (serve it from the lake)
    val cap = Similarity.MaxKMeansK
    assert(Similarity.kmeansKFor(cap.toLong * cap + 1) == cap)
    assert(Similarity.kmeansKFor(Long.MaxValue) == cap)
    // the session corpus trains at the adaptive size: every codebook
    // position is one of the surviving seed labels 0..K-1
    val n = Tables.embeddings(spark, sf).count()
    val k = Similarity.adaptiveKmeansK(spark, sf)
    assert(k == Similarity.kmeansKFor(n))
    val (labels, cents) = Similarity.kmeansFit(spark, sf)
    assert(labels.length <= k && cents.length == labels.length)
    assert(labels.forall(l => l >= 0 && l < k))
  }

  test("q155 embed health: label-partitioned totals match a driver replay") {
    val out = Similarity.q155EmbedHealth(spark, sf).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding")))
    assert(out.values.map(_.getAs[Long]("n_vecs")).sum == vecs.length)
    val byLabel = vecs.groupBy(_._1)
    assert(out.keySet == byLabel.keySet)
    val dupKeys = vecs.groupBy(_._2).filter(_._2.length >= 2).keySet
    for ((l, vs) <- byLabel) {
      val norms = vs.map { case (_, v) =>
        v.map(x => { val q = math.round(x * Similarity.QuantScale.toDouble); q * q }).sum
      }
      val r = out(l)
      assert(r.getAs[Long]("n_vecs") == vs.length)
      assert(r.getAs[Long]("min_dim") == vs.map(_._2.length).min.toLong)
      assert(r.getAs[Long]("max_dim") == vs.map(_._2.length).max.toLong)
      assert(r.getAs[Long]("min_norm2") == norms.min)
      assert(r.getAs[Long]("max_norm2") == norms.max)
      assert(r.getAs[Long]("n_zero") == norms.count(_ == 0L).toLong)
      assert(r.getAs[Long]("n_dup") == vs.count(v => dupKeys.contains(v._2)).toLong)
    }
  }

  test("ivfadcSearch serves external queries; q141 is its corpus face") {
    import spark.implicits._
    // the registered face == the public face fed the same query frame
    val viaFace = Similarity.ivfadcSearch(spark, sf,
      Tables.embeddings(spark, sf)
        .filter(org.apache.spark.sql.functions.col("vec_id") <
          Similarity.NumQueries)
        .selectExpr("vec_id as q_id", "embedding"),
      Similarity.PqAdcK, excludeSelf = true).collect()
    val viaQ141 = Similarity.q141Ivfadc(spark, sf).collect()
    assert(viaFace.map(_.toSeq).toSeq == viaQ141.map(_.toSeq).toSeq)
    // EXTERNAL vectors (not corpus members): results exist, k per query,
    // ranked by ADC distance, no self-exclusion semantics involved
    val corpus = Tables.embeddings(spark, sf).collect()
    val ext = Seq(
      (-1L, corpus(0).getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => x + 0.001f)),
      (-2L, corpus(7).getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => -x))).toDF("q_id", "embedding")
    val hits = Similarity.ivfadcSearch(spark, sf, ext, 3).collect()
    val byQ = hits.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == Set(-1L, -2L))
    byQ.values.foreach { rs =>
      assert(rs.length <= 3)
      val d2 = rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("adc_d2"))
      assert(d2.zip(d2.tail).forall { case (a, b) => a <= b })
    }
    // a near-copy of vector 0 must retrieve vector 0 itself
    assert(byQ(-1L).exists(_.getAs[Long]("neighbor_id") ==
      corpus(0).getAs[Long]("vec_id")))
  }

  test("q166 quant sweep: fewer bits, more error; 8-bit arm matches q77") {
    val out = Similarity.q166QuantSweep(spark, sf).collect()
      .sortBy(_.getAs[Long]("bits"))
    assert(out.map(_.getAs[Long]("bits")).toSeq ==
      Similarity.QuantBitsGrid.map(_.toLong))
    assert(out.map(_.getAs[Long]("n_vecs")).distinct.length == 1)
    out.foreach { r =>
      assert(r.getAs[Long]("levels") ==
        (1L << r.getAs[Long]("bits").toInt) - 1L)
      assert(r.getAs[Long]("mean_err_x1e8") <= r.getAs[Long]("max_err_x1e8"))
    }
    def v(c: String) = out.map(_.getAs[Long](c))
    assert(v("max_err_x1e8").zip(v("max_err_x1e8").tail)
      .forall { case (a, b) => a >= b })
    assert(v("mean_err_x1e8").zip(v("mean_err_x1e8").tail)
      .forall { case (a, b) => a >= b })
    // the 8-bit arm is q77's shipped scheme: corpus max agrees (±1 ulp of
    // the two rounding routes: round(x, 8)*1e8 vs round(x*1e8))
    val q77max = Similarity.q77QuantError(spark, sf).collect()
      .map(r => math.round(r.getAs[Double]("max_err") * 1e8)).max
    assert(math.abs(out.last.getAs[Long]("max_err_x1e8") - q77max) <= 1L)
  }

  test("q160 cluster quality: cohesion/separation match a driver replay") {
    val (labels, cents) = Similarity.kmeansFit(spark, sf)
    val byLabel = labels.zip(cents).toMap
    val assign = Similarity.q85KMeans(spark, sf).collect()
      .groupBy(_.getAs[Long]("cluster"))
    val out = Similarity.q160ClusterQuality(spark, sf).collect()
    assert(out.nonEmpty && out.length <= labels.length)
    def m2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    out.foreach { r =>
      val c = r.getAs[Long]("cluster")
      val mem = assign(c)
      assert(r.getAs[Long]("n") == mem.length)
      assert(r.getAs[Long]("s2_mean") ==
        mem.map(_.getAs[Long]("d2")).sum / mem.length)
      val nnC = r.getAs[Long]("nn_cluster")
      assert(nnC != c)
      // the reported neighbor really is the closest other centroid
      val dists = labels.filter(_ != c)
        .map(o => (m2(byLabel(c), byLabel(o)), o)).sorted
      assert((r.getAs[Long]("m2_nn"), nnC) == dists.head)
      assert(r.getAs[Long]("m2_nn") > 0L)
      assert(r.getAs[Long]("db_x1000") >= 0L)
    }
  }

  test("q169 prototype pruning: ceil retention per cluster, hardest kept") {
    val out = Similarity.q169PrototypePruning(spark, sf).collect()
    val assign = Similarity.q85KMeans(spark, sf).collect()
    assert(out.length == assign.length) // one decision per vector
    assert(out.map(_.getAs[Long]("vec_id")).toSet ==
      assign.map(_.getAs[Long]("vec_id")).toSet)
    for ((_, rows) <- out.groupBy(_.getAs[Long]("cluster"))) {
      val n = rows.length.toLong
      val nKeep = (n * Similarity.PruneKeepPpm + 999999L) / 1000000L
      val kept = rows.filter(_.getAs[Boolean]("keep"))
      assert(kept.length.toLong == nKeep)
      assert(nKeep >= 1L) // a singleton cluster keeps its one vector
      // the kept set is exactly the hardest n_keep by (d2 desc, vec_id)
      val expected = rows.sortBy(r =>
        (-r.getAs[Long]("d2"), r.getAs[Long]("vec_id")))
        .take(nKeep.toInt).map(_.getAs[Long]("vec_id")).toSet
      assert(kept.map(_.getAs[Long]("vec_id")).toSet == expected)
    }
  }

  test("q171 assignment churn: matches a driver replay of the seed argmin") {
    val out = Similarity.q171AssignmentChurn(spark, sf).collect()
    val assign = Similarity.q85KMeans(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    // per-cluster n agrees with q85; churn formula holds
    val byCluster = assign.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    assert(out.map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("n")).toMap
      == byCluster)
    out.foreach { r =>
      assert(r.getAs[Long]("n_moved") <= r.getAs[Long]("n"))
      assert(r.getAs[Long]("churn_ppm") ==
        r.getAs[Long]("n_moved") * 1000000L / r.getAs[Long]("n"))
    }
    // replay the seed argmin in the driver: nearest seed by (d2, position)
    val q = Similarity.quantized(spark, sf, Similarity.QuantOffset).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](1).toArray).toMap
    val seeds = Similarity.seedCentroids(
      Similarity.quantized(spark, sf, Similarity.QuantOffset),
      Similarity.kmeansKFor(q.size.toLong))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val movedByCluster = q.toSeq.map { case (id, v) =>
      val seedC = seeds.zipWithIndex.map { case (sc, i) => (d2(v, sc), i) }
        .min._2.toLong
      (assign(id), if (seedC != assign(id)) 1L else 0L)
    }.groupBy(_._1).map { case (c, m) => c -> m.map(_._2).sum }
    assert(out.map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("n_moved"))
      .toMap == movedByCluster)
  }

  test("q174 stale recall: trained arm equals the served q105 ivf tier") {
    val out = Similarity.q174StaleRecall(spark, sf).collect()
    assert(out.length == 2 * Similarity.NumQueries)
    out.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("k"))
      assert(r.getAs[Double]("recall") ==
        BigDecimal(r.getAs[Long]("n_hit").toDouble / r.getAs[Long]("k"))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val trained = out.filter(_.getAs[String]("codebook") == "trained")
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_hit")).toMap
    val ivfTier = Similarity.q105AnnRecall(spark, sf).collect()
      .filter(_.getAs[String]("tier") == "ivf")
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_hit")).toMap
    assert(trained == ivfTier)
  }

  test("q178 alignment audit: clean corpus + crafted orphans both exact") {
    val clean = Similarity.q178AlignmentAudit(spark, sf).collect()(0)
    assert(clean.getAs[Long]("n_matched") + clean.getAs[Long]("n_doc_only")
      == clean.getAs[Long]("n_docs"))
    assert(clean.getAs[Long]("n_dup_vec_ids") == 0L)
    assert(clean.getAs[Long]("n_matched") +
      clean.getAs[Long]("n_vec_only") == clean.getAs[Long]("n_vecs"))
    assert(clean.getAs[Long]("coverage_ppm") ==
      clean.getAs[Long]("n_matched") * 1000000L / clean.getAs[Long]("n_docs"))
    // crafted: doc 3 has no vector, vec 4 has no doc, vec 2 is doubled
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("align").toString
    Seq((1L, "a", "en", "s", 1L), (2L, "b", "en", "s", 1L),
      (3L, "c", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq((1L, Array(0.1f), 0), (2L, Array(0.2f), 0), (2L, Array(0.3f), 0),
      (4L, Array(0.4f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.q178AlignmentAudit(spark, dir).collect()(0)
    assert(out.getAs[Long]("n_docs") == 3L && out.getAs[Long]("n_vecs") == 4L)
    assert(out.getAs[Long]("n_matched") == 2L)  // docs 1 and 2
    assert(out.getAs[Long]("n_doc_only") == 1L) // doc 3
    assert(out.getAs[Long]("n_vec_only") == 1L) // vec 4
    assert(out.getAs[Long]("n_dup_vec_ids") == 1L) // vec 2
    assert(out.getAs[Long]("coverage_ppm") == 2L * 1000000L / 3L)
  }

  test("q169 plan: one cluster-partitioned window over the assignment, no join") {
    val df = Similarity.q169PrototypePruning(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Window"), plan.take(1500))
    // the pruning rides the same single assignment pass q85 ships —
    // no join, no corpus self-comparison anywhere
    assert(!plan.contains("Join"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("q188 drift trend: bands conserve vectors, cosines sane, bands ordered") {
    val out = Similarity.q188DriftTrend(spark, sf).collect()
    val nVec = Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_vecs")).sum == nVec)
    assert(out.length == Similarity.DriftTrendBands)
    assert(out.map(_.getAs[Long]("band")).toSeq ==
      (0L until Similarity.DriftTrendBands.toLong))
    out.foreach { r =>
      val c = r.getAs[Double]("cos_to_corpus")
      assert(c >= -1.0 && c <= 1.0)
      assert(r.getAs[Double]("mean_norm") > 0.0)
    }
    // on a stationary synthetic corpus every band points WITH the corpus
    // mean (a negative band cosine would mean planted drift — none here)
    assert(out.forall(_.getAs[Double]("cos_to_corpus") > 0.0))
  }

  test("q195 source coverage: conserves q178's totals; crafted orphan localizes") {
    val out = Similarity.q195SourceCoverage(spark, sf).collect()
    val global = Similarity.q178AlignmentAudit(spark, sf).collect()(0)
    assert(out.map(_.getAs[Long]("n_docs")).sum ==
      global.getAs[Long]("n_docs"))
    assert(out.map(_.getAs[Long]("n_with_vec")).sum ==
      global.getAs[Long]("n_matched"))
    assert(out.map(_.getAs[Long]("n_missing")).sum ==
      global.getAs[Long]("n_doc_only"))
    out.foreach { r =>
      assert(r.getAs[Long]("n_missing") ==
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_with_vec"))
      assert(r.getAs[Long]("coverage_ppm") ==
        r.getAs[Long]("n_with_vec") * 1000000L / r.getAs[Long]("n_docs"))
    }
    // crafted: a shard the encoder skipped reads 0 ppm; a full one 1e6
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cov").toString
    Seq((1L, "a", "en", "ok", 1L), (2L, "b", "en", "skipped", 1L),
      (3L, "c", "en", "ok", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq((1L, Array(0.1f), 0), (3L, Array(0.3f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val crafted = Similarity.q195SourceCoverage(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("coverage_ppm"))
      .toMap
    assert(crafted == Map("ok" -> 1000000L, "skipped" -> 0L))
  }

  test("fit locks are striped per (corpus dir, result confs)") {
    val a = SessionCache.lockFor(spark, "/tmp/corpus-a")
    assert(SessionCache.lockFor(spark, "/tmp/corpus-a") eq a)
    assert(SessionCache.lockFor(spark.newSession(), "/tmp/corpus-a") eq a,
      "a sibling session shares the corpus lock")
    assert(!(SessionCache.lockFor(spark, "/tmp/corpus-b") eq a))
    val zoned = spark.newSession()
    zoned.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    assert(!(SessionCache.lockFor(zoned, "/tmp/corpus-a") eq a))
  }

  test("nprobe sweep: grid-complete, monotone in nprobe, matches the ivf tier") {
    val out = Similarity.q152NprobeSweep(spark, sf).collect()
    assert(out.length == Similarity.NprobeGrid.size * Similarity.NumQueries)
    for ((_, rows) <- out.groupBy(_.getAs[Long]("q_id"))) {
      val sorted = rows.sortBy(_.getAs[Long]("np"))
      val cands = sorted.map(_.getAs[Long]("n_cand"))
      val hits = sorted.map(_.getAs[Long]("n_hit"))
      // a larger nprobe probes a SUPERSET of cells: candidate cost grows,
      // and hits vs the global truth can only improve (any candidate that
      // displaces a truth member from the top-k would itself be truth)
      assert(cands.zip(cands.tail).forall { case (a, b) => a <= b })
      assert(hits.zip(hits.tail).forall { case (a, b) => a <= b })
      sorted.foreach { r =>
        assert(r.getAs[Long]("n_hit") <= Similarity.LshK.toLong)
        assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_cand"))
      }
    }
    // the sweep point at np = NumProbes IS the served ivf tier: its hit
    // counts must agree with the q105 monitor's ivf rows exactly
    val served = out.filter(_.getAs[Long]("np") == Similarity.NumProbes.toLong)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_hit")).toMap
    val monitor = Similarity.q105AnnRecall(spark, sf).collect()
      .filter(_.getAs[String]("tier") == "ivf")
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_hit")).toMap
    assert(served == monitor)
    // salted two-phase top-k, same contract as the ADC tier
    val plan = Similarity.q152NprobeSweep(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("salt"))
    assert(plan.contains("WindowGroupLimit"))
  }

  test("q200 semdedup sweep: grid-complete, monotone, production arm matches q86") {
    val out = Similarity.q200SemdedupSweep(spark, sf).collect()
    assert(out.map(_.getAs[Long]("tau_sq_10k")).toSeq ==
      Similarity.SemDedupTauSweep10k.map(_.toLong))
    val n = Tables.embeddings(spark, sf).count()
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") == n - r.getAs[Long]("n_dropped"))
      assert(r.getAs[Long]("kept_ppm") ==
        r.getAs[Long]("n_kept") * 1000000L / n)
      assert(r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_pairs"))
    }
    // a higher τ qualifies a subset of pairs: pair and drop counts can
    // only fall, retention can only rise
    val pairs = out.map(_.getAs[Long]("n_pairs"))
    val drops = out.map(_.getAs[Long]("n_dropped"))
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a >= b })
    assert(drops.zip(drops.tail).forall { case (a, b) => a >= b })
    assert(pairs.head > 0L, "sweep never exercised: no pairs at the lowest τ")
    // the τ = 0.40 arm IS q86: same pair count, same one-hop drop set
    val q86 = Similarity.q86SemDedup(spark, sf).collect()
    val arm = out.find(_.getAs[Long]("tau_sq_10k") ==
      Similarity.SemDedupTauSq10k.toLong).get
    assert(arm.getAs[Long]("n_pairs") == q86.length.toLong)
    assert(arm.getAs[Long]("n_dropped") ==
      q86.map(_.getAs[Long]("id_b")).distinct.length.toLong)
  }

  test("ADC tier top-k is salted two-phase: no corpus-wide q_id-only window") {
    for ((name, df) <- Seq("q138" -> Similarity.q138PqAdc(spark, sf),
                           "q141" -> Similarity.q141Ivfadc(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      // phase 1 partitions the candidate stream by (q_id, salt) and
      // WindowGroupLimit caps each slice at k rows BEFORE its shuffle —
      // the q_id-only window then only ever sees <= AdcSalts*k survivors
      assert(plan.contains("salt"), s"$name: no salt phase\n" + plan.take(1500))
      assert(plan.contains("WindowGroupLimit"),
        s"$name: rank filter not pushed into WindowGroupLimit\n" + plan.take(1500))
    }
  }
}
