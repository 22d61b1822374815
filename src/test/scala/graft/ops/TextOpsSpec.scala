package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Text-analysis sanity at sf0.001 (value-level correctness is the DuckDB
  * oracle; these pin invariants + plan shapes). */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("quality signals are well-formed ratios") {
    val rows = TextOps.q30QualityScore(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("ttr") > 0 && r.getAs[Double]("ttr") <= 1.0)
      val sr = r.getAs[Double]("stop_ratio")
      assert(sr >= 0 && sr <= 1.0)
    }
  }

  test("langid predicts only known languages and covers every doc") {
    val m = TextOps.q31LangId(spark, sf).collect()
    val langs = Set("en", "de", "es", "fr", "zh")
    assert(m.forall(r => langs.contains(r.getAs[String]("predicted"))))
    val total = m.map(_.getAs[Long]("n")).sum
    assert(total == Tables.documents(spark, sf).count())
  }

  test("langid dedups bigrams in-row: no shuffle carries raw occurrences") {
    val plan = TextOps.q31LangId(spark, sf).queryExecution.optimizedPlan.toString
    // per-doc dedup is inside the projection (array_distinct over the
    // native char_bigrams), upstream of every exchange
    assert(plan.contains("array_distinct(charbigrams"), plan.take(2000))
  }

  test("fingerprints are stable across runs") {
    val a = TextOps.q32Fingerprint(spark, sf).collect().map(_.toSeq)
    val b = TextOps.q32Fingerprint(spark, sf).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("token top-k aggregation keeps map-side partial aggregation") {
    val plan = TextOps.q29TokenTopK(spark, sf).queryExecution.executedPlan.toString
    // partial + final HashAggregate pair around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
  }

  test("stratified sample: k per stratum, deterministic, no corpus-wide window") {
    val a = TextOps.q57StratifiedSample(spark, sf).collect()
    val b = TextOps.q57StratifiedSample(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    a.groupBy(_.getAs[String]("lang")).values.foreach { rs =>
      assert(rs.length <= TextOps.SamplePerStratum)
      assert(rs.map(_.getAs[Long]("rnk")).sorted.sameElements(1L to rs.length))
    }
    // partial top-k aggregation, not a window funneling the corpus into
    // one partition per stratum
    val plan = TextOps.q57StratifiedSample(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("contamination: benchmark docs excluded, ratios in (0, 1]") {
    val rows = TextOps.q58Contamination(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") >= TextOps.BenchmarkMaxId)
      val ratio = r.getAs[Double]("ratio")
      assert(ratio > 0 && ratio <= 1.0)
      assert(r.getAs[Long]("n_overlap") <= r.getAs[Long]("n_sh"))
    }
  }

  test("bpe_count == size(regexp_extract_all) on corpus + edge cases") {
    import spark.implicits._
    graft.functions.TextHashExprs.register(spark)
    val declarative =
      "size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))"
    val corpus = Tables.documents(spark, sf).select("text")
    val edges = Seq("", "   ", "abc123def", "a1b2", "Hello, World! 42",
      "tabs\there\t7", "müde straße", "日本語 text", "a.b.c--d", "😀x😀").toDF("text")
    val diffs = corpus.unionByName(edges)
      .selectExpr(s"sum(case when bpe_count(text) = cast($declarative as bigint) then 0 else 1 end) AS bad")
      .collect().head.getLong(0)
    assert(diffs == 0L, s"$diffs rows diverge from the regex count")
  }

  test("norm_md5 == md5(lower(trim(regexp_replace))) on corpus + edge cases") {
    import spark.implicits._
    graft.functions.TextHashExprs.register(spark)
    val declarative = "md5(lower(trim(regexp_replace(text, '\\\\s+', ' '))))"
    val corpus = Tables.documents(spark, sf).select("text")
    val edges = Seq("", "   ", "a", "  A  ", "a\t\tb", "x\r\ny  z\fq",
      "Größe  MIXED\tCase", "tab\tend\t", "😀  spaced  😀").toDF("text")
    val diffs = corpus.unionByName(edges)
      .selectExpr(s"sum(case when norm_md5(text) <=> $declarative then 0 else 1 end) AS bad")
      .collect().head.getLong(0)
    assert(diffs == 0L, s"$diffs rows diverge from the declarative fingerprint")
  }

  test("\\x0B follows RE2 (the oracle), not Java regex") {
    import spark.implicits._
    graft.functions.TextHashExprs.register(spark)
    // RE2/DuckDB \s does NOT match U+000B (verified against DuckDB:
    // regexp_replace leaves it, and it counts as a symbol token); Java \s
    // does. The oracle is the contract, so the native exprs side with RE2.
    val r = Seq(("a\u000Bb", "ab\u000B12")).toDF("t1", "t2")
      .selectExpr("norm_md5(t1) AS m", "md5(t1) AS raw", "bpe_count(t2) AS c")
      .collect().head
    assert(r.getString(0) == r.getString(1),
      "\\x0B must NOT be collapsed as whitespace (RE2 semantics)")
    assert(r.getLong(2) == 3L, "\\x0B must count as one symbol token")
  }

  test("char windows are CODE POINTS — supplementary-plane parity with substr") {
    import spark.implicits._
    graft.functions.TextHashExprs.register(spark)
    // U+1F600/U+1F4A9 are surrogate PAIRS in UTF-16; both Spark's substr
    // (UTF8String) and DuckDB's substr count code points, so the native
    // expressions must too — a UTF-16 window would split the pairs
    val s = "a😀b💩cdefghijk" // 14 code points, 16 chars
    val df = Seq(s).toDF("text")
    val bigrams = df.selectExpr("char_bigrams(text) AS bg",
      // the scaladoc contract, written in SQL: substr(text, i, 2)
      "transform(sequence(1, char_length(text) - 1), i -> substr(text, i, 2)) AS oracle")
      .collect().head
    assert(bigrams.getSeq[String](0) == bigrams.getSeq[String](1))
    val fp = df.selectExpr("rolling_fingerprint(text) AS native",
      """array_min(transform(sequence(1, char_length(text) - 11),
        |  i -> cast(conv(substr(md5(substr(text, i, 12)), 1, 15), 16, 10) as bigint))) AS oracle"""
        .stripMargin).collect().head
    assert(fp.getLong(0) == fp.getLong(1))
    // BMP fast path and codepoint slow path agree on pure-ASCII input
    val ascii = Seq("hello world fingerprints").toDF("text")
      .selectExpr("rolling_fingerprint(text) AS n",
        """array_min(transform(sequence(1, char_length(text) - 11),
          |  i -> cast(conv(substr(md5(substr(text, i, 12)), 1, 15), 16, 10) as bigint))) AS o"""
          .stripMargin).collect().head
    assert(ascii.getLong(0) == ascii.getLong(1))
  }

  private def withDocs[A](df: org.apache.spark.sql.DataFrame)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    body(dir)
  }

  test("anchor fingerprints: content-defined (offset-invariant), SQL parity") {
    import spark.implicits._
    graft.functions.TextHashExprs.register(spark)
    val run = "the quick brown fox jumps over the lazy dog again and again"
    // same run embedded at different offsets in different surroundings
    val doc1 = s"XXXX $run YYYY"
    val doc2 = s"completely different prefix material $run and a different tail"
    val rows = Seq(doc1, doc2).toDF("text")
      .selectExpr("anchor_fingerprints(text) AS a")
      .collect().map(_.getSeq[Long](0).toSet)
    val shared = rows(0).intersect(rows(1))
    assert(shared.nonEmpty,
      "shared 60-char run selected no common anchors across offsets")
    // native selection == the SQL contract, per doc
    val parity = Seq(doc1).toDF("text").selectExpr(
      "anchor_fingerprints(text) AS n",
      """array_sort(array_distinct(filter(
        |  transform(sequence(1, char_length(text) - 11),
        |    i -> cast(conv(substr(md5(substr(text, i, 12)), 1, 15), 16, 10) as bigint)),
        |  h -> h % 16 = 0))) AS o""".stripMargin).collect().head
    assert(parity.getSeq[Long](0) == parity.getSeq[Long](1))
    // shorter than one window -> null
    val short = Seq("tiny").toDF("text")
      .selectExpr("anchor_fingerprints(text) AS a").collect().head
    assert(short.isNullAt(0))
  }

  test("substr overlap reports planted verbatim runs, not unrelated docs") {
    import spark.implicits._
    val boiler = ("all rights reserved contact support at example dot com " +
      "this content is syndicated under license agreement number 42 " +
      "redistribution of this material in any form without prior written " +
      "consent of the publisher is strictly prohibited and will be " +
      "prosecuted to the maximum extent permissible under applicable law " +
      "for terms of service see the website footer section nine")
    val docs = Seq(
      (1L, s"first article body $boiler closing words", "en", "s0", 10L),
      (2L, s"$boiler totally different second article", "en", "s1", 10L),
      (3L, "unrelated text with no shared runs whatsoever in it at all",
        "en", "s2", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val pairs = graft.ops.Dedup.q98SubstrOverlap(spark, dir).collect()
      assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
      assert(pairs.head.getAs[Long]("n_shared_anchors") >=
        graft.ops.Dedup.MinSharedAnchors)
    }
  }

  test("epoch plan: token-weighted alpha shares, repeats only where rare") {
    import spark.implicits._
    // equal DOC counts, 4x different token mass — doc-count mixing (q76)
    // would treat these sources identically; token weighting must not
    val docs = Seq(
      (1L, "a b c d e f g h", "en", "big", 15L),
      (2L, "i j k l m n o p", "en", "big", 15L),
      (3L, "q r", "en", "small", 3L),
      (4L, "s t", "en", "small", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q110EpochPlan(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      // tokens: big 16, small 4; sqrt shares 4/6 and 2/6; budget 20
      assert(out("big").getAs[Long]("n_tokens") == 16L)
      assert(out("small").getAs[Long]("n_tokens") == 4L)
      assert(out("big").getAs[Double]("share") == 0.666667)
      assert(out("small").getAs[Double]("share") == 0.333333)
      assert(out("big").getAs[Long]("target_tokens") == 13L)   // round(13.33)
      assert(out("small").getAs[Long]("target_tokens") == 7L)  // round(6.67)
      assert(out("big").getAs[Double]("epochs") == 0.8333)
      assert(out("small").getAs[Double]("epochs") == 1.6667)
      assert(!out("big").getAs[Boolean]("needs_repeat"))
      assert(out("small").getAs[Boolean]("needs_repeat"))
    }
  }

  test("q112 alpha schedule: sqrt-chain shares and inverse-Simpson diversity") {
    import spark.implicits._
    // 9 en docs vs 1 fr doc: sqrt chain gives clean closed forms per alpha
    val docs = (1L to 9L).map(i => (i, "x", "en", "s", 1L)) :+
      ((10L, "x", "fr", "s", 1L))
    withDocs(docs.toDF("doc_id", "text", "lang", "source", "n_chars")) { dir =>
      val out = TextOps.q112AlphaSchedule(spark, dir).collect()
      assert(out.length == 8) // 2 langs x 4 alphas
      val byKey = out.map(r =>
        (r.getAs[Double]("alpha"), r.getAs[String]("lang")) -> r).toMap
      // alpha=1: proportional 0.9/0.1, eff = 1/(0.81+0.01)
      assert(byKey((1.0, "en")).getAs[Double]("share") == 0.9)
      assert(byKey((1.0, "en")).getAs[Double]("eff_langs") == 1.2195)
      // alpha=0.5: sqrt(9)=3, sqrt(1)=1 -> 0.75/0.25, eff = 1/0.625
      assert(byKey((0.5, "fr")).getAs[Double]("share") == 0.25)
      assert(byKey((0.5, "fr")).getAs[Double]("eff_langs") == 1.6)
      // alpha=0.25: sqrt(3)/(sqrt(3)+1) etc.
      assert(byKey((0.25, "en")).getAs[Double]("share") == 0.633975)
      assert(byKey((0.25, "en")).getAs[Double]("eff_langs") == 1.866)
      // alpha=0: uniform, eff = number of languages
      assert(byKey((0.0, "en")).getAs[Double]("share") == 0.5)
      assert(byKey((0.0, "fr")).getAs[Double]("eff_langs") == 2.0)
      // sorted alpha-descending, lang ascending
      assert(out.head.getAs[Double]("alpha") == 1.0)
      assert(out.last.getAs[Double]("alpha") == 0.0)
    }
  }

  test("q112/q116 plans: tiny post-scan relations broadcast, never sort-merge") {
    for (q <- Seq(TextOps.q112AlphaSchedule(spark, sf),
                  TextOps.q116TokenFertility(spark, sf))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
      assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    }
  }

  test("q117 quality sweep: integer bands, cumulative-from-top retention") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a", "en", "s", 7L), // ttr 0.25 -> band 2
      (2L, "a b a b", "en", "s", 7L), // ttr 0.5  -> band 5
      (3L, "a b c d", "en", "s", 7L)  // ttr 1.0  -> capped to band 9
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q117QualitySweep(spark, dir).collect()
      assert(out.length == 3)
      val byBand = out.map(r => r.getAs[Double]("min_ttr") -> r).toMap
      assert(byBand(0.9).getAs[Long]("cum_docs") == 1L)
      assert(byBand(0.9).getAs[Double]("cum_token_share") == 0.333333)
      assert(byBand(0.5).getAs[Long]("cum_docs") == 2L)
      assert(byBand(0.5).getAs[Double]("cum_token_share") == 0.666667)
      assert(byBand(0.2).getAs[Long]("cum_docs") == 3L)
      assert(byBand(0.2).getAs[Long]("cum_tokens") == 12L)
      assert(byBand(0.2).getAs[Double]("cum_token_share") == 1.0)
      // ascending by band so the sweep reads as a threshold curve
      assert(out.map(_.getAs[Double]("min_ttr")).toSeq == Seq(0.2, 0.5, 0.9))
    }
  }

  test("q122 spearman: perfect monotone sources hit +/-1, all-tied is null") {
    import spark.implicits._
    val docs = Seq(
      // pos: token count and ttr rise together -> rho = 1
      (1L, "a a", "en", "pos", 3L),       // x=2, ttr 0.5
      (2L, "a b a", "en", "pos", 5L),     // x=3, ttr 0.6667
      (3L, "a b c d", "en", "pos", 7L),   // x=4, ttr 1.0
      // neg: ttr falls as length rises -> rho = -1
      (4L, "a b", "en", "neg", 3L),       // x=2, ttr 1.0
      (5L, "a b a", "en", "neg", 5L),     // x=3, ttr 0.6667
      (6L, "a a b a", "en", "neg", 7L),   // x=4, ttr 0.5
      // tie: identical x and y -> zero rank variance -> null
      (7L, "a b", "en", "tie", 3L),
      (8L, "b a", "en", "tie", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q122SpearmanQuality(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      assert(out("pos").getAs[Double]("rho") == 1.0)
      assert(out("neg").getAs[Double]("rho") == -1.0)
      assert(out("tie").isNullAt(out("tie").fieldIndex("rho")))
      assert(out("pos").getAs[Long]("n_docs") == 3L)
    }
  }

  test("q122 plan: rank windows consume value-count aggregates, not rows") {
    // The scale contract: every Window sorts a (source, value) marginal —
    // bounded by value cardinality — never the raw corpus. Structurally:
    // each WindowExec must have an aggregate below it, and the raw scan
    // feeds a checkpoint (the joint-count table), not a window.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = TextOps.q122SpearmanQuality(spark, sf)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.size == 2, plan.toString.take(2500))
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        "window has no aggregate below it:\n" + w.toString.take(1500))
      assert(!w.child.toString.contains("parquet"),
        "window reads raw corpus rows:\n" + w.toString.take(1500))
    }
  }

  test("q91 plan: the per-lang running sum is two-phase — the lang-only window consumes block totals") {
    // low-cardinality-window audit: lang has few values, so the only
    // lang-partitioned window must ride the (lang, block) TOTALS aggregate
    // (corpus/PackBlockDocs rows), never raw document rows
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = TextOps.q91SeqPacking(spark, sf).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.size == 2, plan.toString.take(2500))
    val langOnly = windows.filter(_.partitionSpec.size == 1)
    assert(langOnly.size == 1, "exactly one lang-only window")
    assert(langOnly.head.child.collectFirst { case a: Aggregate => a }.nonEmpty,
      "lang window must consume the per-block totals aggregate:\n" +
        langOnly.head.toString.take(1500))
  }

  test("q91 packing is invariant to the block split (multi-block stitching)") {
    import spark.implicits._
    // doc_ids span many PackBlockDocs blocks with uneven token counts
    val docs = (0L until 1000L).map(i =>
      (i, ("tok " * (1 + (i % 37).toInt)).trim,
        if (i % 3 == 0) "en" else "de", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val rows = TextOps.q91SeqPacking(spark, dir).collect()
      rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
        var cum = 0L // single-sequence replay = the old one-window semantics
        rs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
          assert(r.getAs[Long]("bin") == cum / TextOps.PackBudget)
          assert(r.getAs[Long]("bin_offset") == cum % TextOps.PackBudget)
          cum += r.getAs[Long]("n_tok")
        }
      }
    }
  }

  test("q131 retrieval: per-query top-k, descending, no self-retrieval") {
    val rows = TextOps.q131Bm25Retrieval(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet.subsetOf((0L until TextOps.RetrNumQueries).toSet))
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= TextOps.RetrTopK)
      val sorted = rs.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq ==
        (1L to rs.length).toSeq, "contiguous ranks")
      val scores = sorted.map(_.getAs[Double]("score")).toSeq
      assert(scores == scores.sorted.reverse, "descending scores")
      assert(!rs.exists(_.getAs[Long]("doc_id") == q), "no self-retrieval")
    }
    // the query doc's own first tokens make it the best match for itself —
    // excluded — but its near-dups (if any) and term-sharing docs score > 0
    assert(rows.forall(_.getAs[Double]("score") > 0.0))
  }

  test("q131 plan: the per-query rank window consumes salted survivors") {
    // q_id is a 5-value key: the q10 rule — the q_id-only window must sit
    // above the salted local top-k filter, never raw scored rows
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window => LWindow}
    // the registered face consumes the memoized checkpoint (lineage
    // severed); the structure lives in the un-checkpointed plan hook
    val plan = TextOps.retrRankedPlan(spark, sf).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    val qOnly = windows.filter(_.partitionSpec.size == 1)
    assert(qOnly.size == 1, plan.toString.take(2000))
    assert(qOnly.head.child.collectFirst {
      case f: Filter if f.condition.toString.contains("r0") => f
    }.nonEmpty, "q_id window must consume the salted local top-k:\n" +
      qOnly.head.toString.take(1500))
  }

  test("q198 retrieval eval: fixture queries land their engineered cases") {
    val out = TextOps.q198RetrievalEval(spark, sf).collect()
    val byQ = out.map(r => r.getAs[Long]("q_id") -> r).toMap
    // grid completeness: every derived query + every eval query, once
    assert(out.map(_.getAs[Long]("q_id")).sorted.toSeq ==
      ((0L until TextOps.RetrNumQueries) ++
        TextOps.RetrEvalQueries.map(_._1)).sorted.toSeq)
    // the retrieval MISS: the high-tf alpha-only doc outranks the one
    // relevant doc, so the first relevant rank is 2 and MRR halves
    val miss = byQ(9400101L)
    assert(miss.getAs[Long]("n_rel") == 1L)
    assert(miss.getAs[Long]("first_rel_rank") == 2L)
    assert(miss.getAs[Long]("mrr_ppm") == 500000L)
    assert(miss.getAs[Long]("n_rel_topk") == 1L)
    assert(miss.getAs[Long]("recall_ppm") == 1000000L)
    // the zero-relevant query: gamma and delta never co-occur
    val zero = byQ(9400102L)
    assert(zero.getAs[Long]("n_rel") == 0L)
    assert(zero.isNullAt(zero.fieldIndex("first_rel_rank")))
    assert(zero.getAs[Long]("mrr_ppm") == 0L)
    assert(zero.getAs[Long]("recall_ppm") == 0L)
    // the perfect hit
    val hit = byQ(9400103L)
    assert(hit.getAs[Long]("first_rel_rank") == 1L)
    assert(hit.getAs[Long]("mrr_ppm") == 1000000L)
    // metric identities hold on every row, derived queries included
    out.foreach { r =>
      val nrt = r.getAs[Long]("n_rel_topk")
      assert(nrt <= math.min(TextOps.RetrTopK.toLong, r.getAs[Long]("n_rel")))
      assert(r.getAs[Long]("precision_ppm") == nrt * 1000000L / TextOps.RetrTopK)
      if (r.isNullAt(r.fieldIndex("first_rel_rank")))
        assert(r.getAs[Long]("mrr_ppm") == 0L && nrt == 0L)
      else
        assert(r.getAs[Long]("mrr_ppm") ==
          1000000L / r.getAs[Long]("first_rel_rank"))
    }
  }

  test("q198 fixture vocabulary is absent from the corpus") {
    // the eval fixture couples to the corpus only through n_docs/avgdl:
    // no corpus doc may contain a qzx* term (else the engineered ranks
    // could be disturbed by real candidates)
    import org.apache.spark.sql.functions.col
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
      assert(spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("text").contains("qzx")).count() == 0L, dir)
  }

  test("q199 top-gram profile: hand-computed counts on a crafted document") {
    import spark.implicits._
    // "a b a b a": 2-grams [a b, b a, a b, b a] -> top (a b, 2), 4 total /
    // 2 unique; 3-grams [a b a, b a b, a b a] -> top (a b a, 2), 3/2;
    // 4-grams [a b a b, b a b a] -> all unique, top is the lexicographic
    // min (a b a b, 1). n_chars = 9.
    val out = TextOps.topGramProfileOf(
        Seq((1L, "a b a b a")).toDF("doc_id", "text"))
      .collect().map(r => (r.getAs[Long]("n"),
        (r.getAs[String]("top_gram"), r.getAs[Long]("top_count"),
         r.getAs[Long]("mass_ppm"), r.getAs[Long]("n_grams"),
         r.getAs[Long]("n_unique"), r.getAs[Long]("dup_ppm")))).toMap
    assert(out(2L) == (("a b", 2L, 2L * 3 * 1000000 / 9, 4L, 2L, 500000L)))
    assert(out(3L) == (("a b a", 2L, 2L * 5 * 1000000 / 9, 3L, 2L, 333333L)))
    assert(out(4L) == (("a b a b", 1L, 7L * 1000000 / 9, 2L, 2L, 0L)))
    // a doc shorter than the smallest n emits nothing
    assert(TextOps.topGramProfileOf(
      Seq((2L, "solo")).toDF("doc_id", "text")).count() == 0L)
  }

  test("q203 pct rank: ties share ranks, replay-exact on one source, " +
    "rank windows ride the marginal") {
    val out = TextOps.q203QualityPctRank(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    assert(out.length.toLong == docs) // one row per doc
    // per source: the lowest-ttr docs sit at exactly 0; nothing reaches 1e6
    for ((_, rows) <- out.groupBy(_.getAs[String]("source"))) {
      val sorted = rows.sortBy(r => (r.getAs[Long]("ttr4"),
        r.getAs[Long]("pct_ppm")))
      assert(sorted.head.getAs[Long]("pct_ppm") == 0L)
      assert(sorted.forall(_.getAs[Long]("pct_ppm") < 1000000L))
      // monotone in ttr; equal ttr -> equal rank
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          if (a.getAs[Long]("ttr4") == b.getAs[Long]("ttr4"))
            assert(a.getAs[Long]("pct_ppm") == b.getAs[Long]("pct_ppm"))
          else assert(a.getAs[Long]("pct_ppm") <= b.getAs[Long]("pct_ppm"))
        case _ =>
      }
      // strictly-lower replay on the raw rows
      val n = rows.length.toLong
      rows.foreach { r =>
        val lower = rows.count(_.getAs[Long]("ttr4") < r.getAs[Long]("ttr4"))
        assert(r.getAs[Long]("pct_ppm") == lower * 1000000L / n)
      }
    }
  }

  test("q206 token bursts: k per band, excess identity, rank order, " +
    "WindowGroupLimit in the plan") {
    val df = TextOps.q206TokenBursts(spark, sf)
    val out = df.collect()
    val byBand = out.groupBy(_.getAs[Long]("band"))
    assert(byBand.keySet == (0L until TextOps.BurstBands.toLong).toSet)
    for ((_, rows) <- byBand) {
      assert(rows.length == TextOps.BurstTopK)
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq ==
        (1L to TextOps.BurstTopK.toLong))
      // rank order follows excess desc (ties broken by token, so excess
      // alone must be non-increasing)
      val ex = sorted.map(_.getAs[Long]("excess_ppm"))
      assert(ex.zip(ex.tail).forall { case (a, b) => a >= b })
      rows.foreach(r => assert(r.getAs[Long]("excess_ppm") ==
        r.getAs[Long]("band_ppm") - r.getAs[Long]("corpus_ppm")))
    }
    // the rank filter must push into WindowGroupLimit: each task forwards
    // k rows per band, never the vocabulary
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("q204 lang margin: consistent with q31's argmax, margins ordered") {
    val out = TextOps.q204LangMargin(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("s1") >= r.getAs[Long]("s2"))
      assert(r.getAs[Long]("margin") ==
        r.getAs[Long]("s1") - r.getAs[Long]("s2"))
      assert(r.getAs[Boolean]("is_ambiguous") ==
        (r.getAs[Long]("margin") <= 1L))
      // a missing runner-up reads as score 0, never a null margin
      if (r.getAs[String]("pred2") == null) assert(r.getAs[Long]("s2") == 0L)
    }
    // folding the per-doc argmax back up reproduces q31's confusion matrix
    val folded = out.groupBy(r => (r.getAs[String]("lang"),
        r.getAs[String]("pred"))).view.mapValues(_.length.toLong).toMap
    val q31 = TextOps.q31LangId(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("predicted")) ->
        r.getAs[Long]("n")).toMap
    assert(folded == q31)
  }

  test("q199 plan: in-row profile — no exchange before the output sort") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = TextOps.q199TopGramProfile(spark, sf)
    // the executed plan is adaptive: run it, then walk the final plan
    // into its query stages (a plain `collect` stops at the adaptive
    // root, a leaf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // optimization r15: the native topgram_profile expression computes
    // the whole per-(doc, n) profile in-row, so the ONLY shuffle left is
    // the output range sort — a second exchange would mean the gram
    // explosion / window formulation crept back in
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.size == 1, plan.toString.take(2000))
  }

  test("q134 packed sequences: shard totals reconcile with q91's assignment") {
    val bins = TextOps.q91SeqPacking(spark, sf).collect()
      .groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("bin")))
    val shards = TextOps.q134PackedSequences(spark, sf).collect()
    assert(shards.nonEmpty)
    shards.foreach { r =>
      val key = (r.getAs[String]("lang"), r.getAs[Long]("bin"))
      val docs = bins(key)
      assert(r.getAs[Long]("n_docs") == docs.length.toLong)
      assert(r.getAs[Long]("n_tokens") ==
        docs.map(_.getAs[Long]("n_tok")).sum)
      assert(r.getAs[String]("seq_fp").length == 32, "md5 hex fingerprint")
    }
    assert(shards.length == bins.size, "every (lang, bin) shard reported")
  }

  test("q135 vocab coverage: oov bounded, ppm exact, all sources present") {
    val rows = TextOps.q135VocabCoverage(spark, sf).collect()
    val nSources = Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(rows.length == nSources)
    rows.foreach { r =>
      val (n, oov) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"))
      assert(oov >= 0 && oov <= n)
      assert(r.getAs[Long]("oov_ppm") == oov * 1000000L / n)
    }
  }

  test("q123 template families: head/tail windows, short-doc CASE") {
    import spark.implicits._
    val xs = "x" * 70
    val zs = "z" * 70
    val docs = Seq(
      (1L, s"$xs uniqueA", "en", "s1", 78L), // shared 64-char head
      (2L, s"$xs uniqueB", "en", "s2", 78L),
      (3L, s"A $zs", "en", "s1", 72L),       // shared 64-char tail
      (4L, s"B $zs", "en", "s1", 72L),
      (5L, "same short", "en", "s1", 10L),   // short doc: whole-text fp
      (6L, "same short", "en", "s2", 10L),
      (7L, "lonely document body", "en", "s1", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q123TemplateFamilies(spark, dir).collect()
      val byKey = out.groupBy(_.getAs[String]("kind"))
        .view.mapValues(_.map(r =>
          (r.getAs[Long]("n_docs"), r.getAs[Long]("n_sources"),
            r.getAs[Long]("keep_id"))).toSet).toMap
      // head: the x-template pair + the short-doc pair (head = whole text)
      assert(byKey("head") == Set((2L, 2L, 1L), (2L, 2L, 5L)))
      // tail: the z-footer pair + the short-doc pair (CASE takes whole text)
      assert(byKey("tail") == Set((2L, 1L, 3L), (2L, 2L, 5L)))
    }
  }

  test("q121 char entropy rate: closed-form conditional entropy per source") {
    import spark.implicits._
    val docs = Seq(
      // "abab": bigrams ab,ba,ab -> p(ab)=2/3, p(ba)=1/3; prefixes a:2, b:1
      // every bigram is determined by its first char -> H = 0
      (1L, "abab", "en", "det", 4L),
      // "aab": bigrams aa,ab -> both start 'a' (c_a=2); H =
      // -(1/2 ln(1/2) + 1/2 ln(1/2)) = ln 2 -> 1 bit exactly
      (2L, "aab", "en", "coin", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q121CharEntropyRate(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      assert(out("det").getAs[Long]("n_bigrams") == 3L)
      assert(out("det").getAs[Long]("vocab") == 2L)
      assert(out("det").getAs[Double]("h_nats") == 0.0)
      // +0.0 normalization: the zero must be positive zero bit-for-bit
      assert(java.lang.Double.doubleToLongBits(
        out("det").getAs[Double]("h_nats")) == 0L)
      assert(out("coin").getAs[Double]("h_nats") == 0.6931)
      assert(out("coin").getAs[Double]("h_bits") == 1.0)
    }
  }

  test("q113 char-class entropy: closed-form values, low-diversity flags") {
    import spark.implicits._
    val docs = Seq(
      // one class only -> 0 nats (and the -0.0 normalization must hold)
      (1L, "aaaaaaaa", "en", "s1", 8L),
      // 2+2+2+2 over lower/upper/digit/ws -> ln 4 = 1.3863 nats
      (2L, "ab AB 12", "en", "s1", 8L),
      (3L, "xy zw qr", "en", "s2", 8L) // lower 6, ws 2
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q113CharEntropy(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      assert(out("s1").getAs[Long]("n_docs") == 2L)
      assert(out("s1").getAs[Double]("min_entropy") == 0.0)
      assert(out("s1").getAs[Double]("max_entropy") == 1.3863)
      assert(out("s1").getAs[Double]("mean_entropy") == 0.6932)
      assert(out("s1").getAs[Long]("n_low_diversity") == 1L)
      // -(0.75 ln 0.75 + 0.25 ln 0.25) = 0.5623
      assert(out("s2").getAs[Double]("mean_entropy") == 0.5623)
      assert(out("s2").getAs[Long]("n_low_diversity") == 0L)
      // bit-level: the all-one-class doc must round to +0.0, not -0.0
      assert(java.lang.Double.doubleToLongBits(
        out("s1").getAs[Double]("min_entropy")) == 0L)
    }
  }

  test("q116 fertility: ratio-of-sums cells, pooled-lang deviation flags") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "en", "clean", 7L),
      (2L, "a b c d", "en", "clean", 7L),
      (3L, "aaaaaaa", "en", "markup", 7L),
      (4L, "aaaaaaa", "en", "markup", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q116TokenFertility(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      // clean: 8 toks / 14 chars; markup: 2 / 14; lang pooled: 10 / 28
      assert(out("clean").getAs[Double]("tokens_per_100_chars") == 57.1429)
      assert(out("markup").getAs[Double]("tokens_per_100_chars") == 14.2857)
      assert(out("clean").getAs[Double]("bytes_per_token") == 1.75)
      assert(out("markup").getAs[Double]("bytes_per_token") == 7.0)
      // 57.14/35.71 = 1.6x pooled, 14.29/35.71 = 0.4x -> +/-0.6 deviation
      assert(out("clean").getAs[Double]("dev_from_lang") == 0.6)
      assert(out("markup").getAs[Double]("dev_from_lang") == -0.6)
      assert(out("clean").getAs[Boolean]("fertility_outlier"))
      assert(out("markup").getAs[Boolean]("fertility_outlier"))
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("policy scrub: per-class counts + fingerprint of the redacted text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "slow table fast row value", "en", "s", 25L),
      (2L, "nothing sensitive here", "en", "s", 22L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q71PolicyScrub(spark, dir).collect()
      assert(out.length == 1) // clean doc 2 is filtered out
      val r = out.head
      assert(r.getAs[Long]("doc_id") == 1L)
      assert(r.getAs[Long]("n_perf") == 2L)
      assert(r.getAs[Long]("n_struct") == 2L)
      assert(r.getAs[String]("redacted_fp") == md5hex("[X] [X] [X] [X] value"))
    }
  }

  test("tfidf: rare terms outrank common ones, hand-computed score") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana", "en", "s", 18L),
      (2L, "banana cherry", "en", "s", 13L),
      (3L, "cherry cherry cherry", "en", "s", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q72TfIdf(spark, dir).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rnk")) ->
          (r.getAs[String]("term"), r.getAs[Double]("tfidf"))).toMap
      // doc 1: apple tf=2 df=1 -> 2*ln(3) = 2.1972, beats banana (df=2)
      assert(out((1L, 1L)) == ("apple",
        BigDecimal(2 * math.log(3)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      assert(out((1L, 2L))._1 == "banana")
      // doc 3: only term cherry, tf=3 df=2
      assert(out((3L, 1L))._1 == "cherry")
      assert(!out.contains((3L, 2L)))
    }
  }

  test("length histogram: fixed-width buckets with corpus shares") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "en", "s", 10L), (2L, "b", "en", "s", 60L),
      (3L, "c", "en", "s", 99L), (4L, "d", "en", "s", 100L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q73LengthHistogram(spark, dir).collect()
        .map(r => r.getAs[Long]("bucket_lo") ->
          (r.getAs[Long]("n_docs"), r.getAs[Double]("share"))).toMap
      assert(out == Map(0L -> (1L, 0.25), 50L -> (2L, 0.5), 100L -> (1L, 0.25)))
    }
  }

  test("source mix: rare sources get higher keep rates, deterministic draws") {
    import spark.implicits._
    val docs = (1L to 90L).map(i => (i, s"doc $i", "en", "big", 6L)) ++
      (91L to 100L).map(i => (i, s"doc $i", "en", "rare", 6L))
    val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(df) { dir =>
      val run1 = TextOps.q76SourceMix(spark, dir).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
            r.getAs[Double]("rate"))).toMap
      // alpha=0.5 flattens the mix: the rare source keeps a larger share
      assert(run1("rare")._3 > run1("big")._3)
      assert(run1.values.forall { case (n, k, r) => k <= n && r <= 1.0 })
      // overall kept tracks the 50% budget (binomial tolerance)
      val kept = run1.values.map(_._2).sum
      assert(kept > 25 && kept < 75, s"kept $kept of 100")
      // md5 draws are deterministic: identical output on a second run
      val run2 = TextOps.q76SourceMix(spark, dir).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
            r.getAs[Double]("rate"))).toMap
      assert(run1 == run2)
    }
  }

  test("source drift: on-distribution source scores near zero KL") {
    import spark.implicits._
    // two large sources share the corpus-dominant distribution; a small
    // third source is concentrated on an otherwise-absent token, so the
    // pooled corpus stays close to the big sources and far from the drifter
    val bigA = (1L to 20L).map(i => (i, "alpha beta gamma delta", "en", "src_a", 23L))
    val bigB = (21L to 40L).map(i => (i, "alpha beta gamma delta", "en", "src_b", 23L))
    val drift = (41L to 42L).map(i => (i, "omega omega omega omega", "en", "src_drift", 23L))
    withDocs((bigA ++ bigB ++ drift)
        .toDF("doc_id", "text", "lang", "source", "n_chars")) { dir =>
      val out = TextOps.q78SourceDrift(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Double]("kl")).toMap
      assert(out.values.forall(_ >= 0))
      // on-distribution sources sit near zero; the drifter scores high
      assert(out("src_a") < 0.1 && out("src_b") < 0.1)
      assert(out("src_drift") > 1.0)
    }
  }

  test("bigram LM: common transitions score low, rare ones high") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", "en", "s", 3L),
      (2L, "a b", "en", "s", 3L),
      (3L, "a c", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q83BigramNll(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_bigrams"), r.getAs[Double]("mean_nll"))).toMap
      // P(b|a) = 2/3, P(c|a) = 1/3
      val ln23 = BigDecimal(-math.log(2.0 / 3.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val ln13 = BigDecimal(-math.log(1.0 / 3.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(1L) == (1L, ln23))
      assert(out(2L) == (1L, ln23))
      assert(out(3L) == (1L, ln13))
      assert(out(3L)._2 > out(1L)._2) // the rare transition scores higher
    }
  }

  test("round-5 text ops keep scale-safe plan shapes") {
    // q72: the rank filter must compile to partial top-k before the window
    // shuffle, and the df/N sides must broadcast
    val p72 = TextOps.q72TfIdf(spark, sf).queryExecution.executedPlan.toString
    assert(p72.contains("WindowGroupLimit"), p72.take(1500))
    assert(p72.contains("BroadcastHashJoin"), p72.take(1500))
    // q76/q78/q83: at this scale the planner must still pick broadcast for
    // the aggregate-sized sides FROM STATS ALONE — the vocabulary-sized
    // relations (tokTotals, c12, c1, dfreq) carry no broadcast hint so they
    // can degrade to shuffle joins at a web-scale vocabulary; nothing may
    // fall back to a cartesian product
    Seq(
      TextOps.q76SourceMix(spark, sf),
      TextOps.q78SourceDrift(spark, sf),
      TextOps.q83BigramNll(spark, sf)
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
      assert(!p.contains("CartesianProduct"), p.take(1500))
    }
  }

  test("quality gate: each rule rejects exactly its planted violator") {
    import spark.implicits._
    def doc(id: Long, text: String) =
      (id, text, "en", "s", text.length.toLong)
    val pass = ("word " * 50).trim   // 50 tokens, mean_wl 4, no stopwords
    val short = "tiny doc"           // 2 tokens < GateMinTokens
    val stoppy = ("the " * 45).trim  // all stopwords, mean_wl exactly 3.0
    val longWords = ("extraordinarily " * 45).trim // mean_wl 15 > 10
    // n_chars is derived from the real text length — the gate computes
    // mean word length arithmetically from it
    val docs = Seq(doc(1, pass), doc(2, short), doc(3, stoppy),
      doc(4, longWords)).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q74QualityGate(spark, dir).collect()
      assert(out.length == 1)
      val r = out.head
      assert(r.getAs[Long]("n_docs") == 4L)
      assert(r.getAs[Long]("n_r_len") == 1L)      // doc 2
      assert(r.getAs[Long]("n_r_word_len") == 1L) // doc 4 (doc 3 is exactly 3.0)
      assert(r.getAs[Long]("n_r_stop") == 1L)     // doc 3
      assert(r.getAs[Long]("n_kept") == 1L)       // doc 1
    }
  }

  test("source cap keeps at most the cap per source, quality-ordered") {
    val rows = TextOps.q97SourceCap(spark, sf).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (_, rs) =>
      assert(rs.length <= TextOps.SourceCap)
      val sorted = rs.sortBy(_.getAs[Long]("rnk"))
      // ranks are 1..n with no gaps, and ttr never increases down the rank
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq ==
        (1L to rs.length).toSeq)
      val ttrs = sorted.map(_.getAs[Double]("ttr")).toSeq
      assert(ttrs.zip(ttrs.tail).forall { case (a, b) => a >= b })
    }
    // every source present in the corpus is represented
    val nSources = graft.ops.Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(bySource.size == nSources)
  }

  test("Misra-Gries summary is bounded and keeps guaranteed-frequent items") {
    // 60×"a" in a 100-item stream with cap 4: a's count (60) > 100/4, so
    // "a" MUST survive; the summary never holds more than cap keys.
    val stream = Seq.fill(60)("a") ++ (1 to 40).map(i => s"rare$i")
    val out = TextOps.mgSummaryAndCount(stream.iterator, cap = 4).toSeq
    val (sentinels, kept) = out.partition(_._1 == "")
    // exactly one sentinel row carrying the partition's token count
    assert(sentinels == Seq(("", 100L)))
    assert(kept.map(_._1).contains("a"))
    assert(kept.size <= 4)
    // order-independence of the guarantee: reversed stream keeps "a" too
    assert(TextOps.mgSummaryAndCount(stream.reverse.iterator, cap = 4)
      .map(_._1).contains("a"))
  }

  test("heavy hitters equals the exact filtered token count") {
    import org.apache.spark.sql.functions._
    val got = TextOps.q99HeavyHitters(spark, sf).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("n"))).toSeq
    val toks = graft.ops.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val n = toks.count()
    val exact = toks.groupBy("token").count().collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("count")))
      .filter { case (_, c) => c * TextOps.HhCapacity > n }
      .sortBy { case (t, c) => (-c, t) }.toSeq
    assert(got == exact)
    assert(got.nonEmpty)
  }

  test("q175 cms accuracy: estimates match a driver replay, never undercount") {
    import org.apache.spark.sql.functions._
    val out = TextOps.q175CmsAccuracy(spark, sf).collect()
    assert(out.length == TextOps.CmsTrackK)
    out.foreach(r => assert(r.getAs[Long]("overcount") >= 0L &&
      r.getAs[Long]("cms_n") ==
        r.getAs[Long]("exact_n") + r.getAs[Long]("overcount")))
    // replay the whole sketch from the exact vocabulary marginal
    val counts = graft.ops.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").count().collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("count")).toMap
    def bucket(i: Int, t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$i:$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(7), 16) % TextOps.CmsWidth
    }
    val counters = scala.collection.mutable.Map.empty[(Int, Long), Long]
      .withDefaultValue(0L)
    for ((t, n) <- counts; i <- 0 until TextOps.CmsDepth)
      counters((i, bucket(i, t))) += n
    val tracked = counts.toSeq.sortBy { case (t, n) => (-n, t) }
      .take(TextOps.CmsTrackK)
    val expected = tracked.map { case (t, n) =>
      t -> (n, (0 until TextOps.CmsDepth).map(i =>
        counters((i, bucket(i, t)))).min)
    }.toMap
    assert(out.map(r => r.getAs[String]("token") ->
      ((r.getAs[Long]("exact_n"), r.getAs[Long]("cms_n")))).toMap == expected)
  }

  test("q177 vocab sweep: marginal trick equals brute top-V coverage") {
    import org.apache.spark.sql.functions._
    val out = TextOps.q177VocabSweep(spark, sf).collect().sortBy(_.getAs[Long]("v"))
    assert(out.map(_.getAs[Long]("v")).toSeq == TextOps.VocabSweepGrid)
    val counts = graft.ops.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").count().collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("count"))
    val sorted = counts.sortBy { case (t, n) => (-n, t) }
    val total = counts.map(_._2).sum
    out.foreach { r =>
      val v = r.getAs[Long]("v").toInt
      val top = sorted.take(v)
      assert(r.getAs[Long]("n_covered_types") == math.min(v, sorted.length).toLong)
      assert(r.getAs[Long]("covered_occ") == top.map(_._2).sum)
      assert(r.getAs[Long]("total_occ") == total)
      assert(r.getAs[Long]("coverage_ppm") ==
        r.getAs[Long]("covered_occ") * 1000000L / total)
    }
    // a bigger vocabulary can only cover more
    val cov = out.map(_.getAs[Long]("covered_occ"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
  }

  test("q183 source-lang matrix: marginals conserve, deltas match a replay") {
    val out = TextOps.q183SourceLangMatrix(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.ops.Tables.documents(spark, sf)
      .select("source", "lang").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")))
    val total = docs.length.toLong
    val bySrc = docs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val byLang = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val byCell = docs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(out.map(_.getAs[Long]("n")).sum == total)
    out.foreach { r =>
      val (src, lang) = (r.getAs[String]("source"), r.getAs[String]("lang"))
      assert(r.getAs[Long]("n") == byCell((src, lang)))
      assert(r.getAs[Long]("n_src") == bySrc(src))
      assert(r.getAs[Long]("n_lang") == byLang(lang))
      assert(r.getAs[Long]("observed_ppm") ==
        r.getAs[Long]("n") * 1000000L / total)
      assert(BigInt(r.getAs[Long]("expected_ppm")) ==
        BigInt(bySrc(src)) * byLang(lang) * 1000000 / (BigInt(total) * total))
      assert(r.getAs[Long]("delta_ppm") ==
        r.getAs[Long]("observed_ppm") - r.getAs[Long]("expected_ppm"))
    }
  }

  test("q185 balanced sample: exact per-source panels match a hash-rank replay") {
    val out = TextOps.q185BalancedSample(spark, sf).collect()
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val docs = graft.ops.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    val expected = docs.groupBy(_._2).iterator.flatMap { case (src, rows) =>
      rows.map(_._1).sortBy(id => (h(id), id))
        .take(TextOps.PanelKPerSource).zipWithIndex
        .map { case (id, i) => (src, id, i + 1L) }
    }.toSet
    assert(out.map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("rnk"))).toSet == expected)
    for ((src, rows) <- out.groupBy(_.getAs[String]("source"))) {
      val n = docs.count(_._2 == src)
      assert(rows.length == math.min(TextOps.PanelKPerSource, n), src)
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ==
        (1L to rows.length).toSeq)
    }
  }

  test("q186 gate calibration: bands conserve docs, rates match components") {
    val out = TextOps.q186GateCalibration(spark, sf).collect()
    assert(out.nonEmpty)
    val clf = TextOps.q102QualityClassifier(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("score"), r.getAs[Boolean]("keep")))).toMap
    val gate = TextOps.gateDecisions(spark, sf)
      .select("doc_id", "gate_pass").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("gate_pass"))
      .toMap
    assert(out.map(_.getAs[Long]("n_docs")).sum == clf.size.toLong)
    val expected = clf.toSeq.map { case (id, (score, keep)) =>
      (math.min(9L, math.floor(score * 10).toLong), gate(id),
        keep == gate(id))
    }.groupBy(_._1).view.mapValues { rows =>
      (rows.size.toLong, rows.count(_._2).toLong, rows.count(_._3).toLong)
    }.toMap
    out.foreach { r =>
      val (n, gp, ag) = expected(r.getAs[Long]("band"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_gate_pass") == gp)
      assert(r.getAs[Long]("n_agree") == ag)
      assert(r.getAs[Long]("gate_ppm") == gp * 1000000L / n)
      assert(r.getAs[Long]("agree_ppm") == ag * 1000000L / n)
    }
  }

  test("q189 quality trend: bands conserve docs, totals match the q74 gate") {
    val out = TextOps.q189QualityTrend(spark, sf).collect()
    assert(out.length == TextOps.QualityTrendBands)
    val nDocs = graft.ops.Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // band pass totals sum to exactly the q74 gate's corpus-wide keeps
    val q74kept = TextOps.q74QualityGate(spark, sf).collect()
      .map(_.getAs[Long]("n_kept")).sum
    assert(out.map(_.getAs[Long]("n_gate_pass")).sum == q74kept)
    out.foreach { r =>
      assert(r.getAs[Long]("gate_ppm") ==
        r.getAs[Long]("n_gate_pass") * 1000000L / r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("mean_ttr_x10000") > 0L &&
        r.getAs[Long]("mean_ttr_x10000") <= 10000L)
    }
  }

  test("bm25 ranks are contiguous, scores non-increasing and non-negative") {
    val rows = TextOps.q100Bm25(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= TextOps.Bm25TopK)
    assert(rows.map(_.getAs[Long]("rnk")).toSeq == (1L to rows.length).toSeq)
    val scores = rows.map(_.getAs[Double]("bm25")).toSeq
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ >= 0.0))
  }

  test("quality classifier scores are calibrated probabilities, keep matches") {
    val rows = TextOps.q102QualityClassifier(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val score = r.getAs[Double]("score")
      assert(score > 0.0 && score < 1.0)
      assert(r.getAs[Boolean]("keep") == (score >= 0.5))
      // decision margin: no doc may sit at the boundary where engine-ulp
      // differences could flip the keep bit
      assert(math.abs(score - 0.5) > 1e-6)
    }
    // the classifier actually separates: both classes non-empty
    assert(rows.exists(_.getAs[Boolean]("keep")))
    assert(rows.exists(!_.getAs[Boolean]("keep")))
  }

  test("quality classifier is one narrow scan — no shuffle before the sort") {
    val plan = TextOps.q102QualityClassifier(spark, sf)
      .queryExecution.executedPlan.toString
    // exactly one exchange — the final range partitioning for the sort; a
    // second one would mean an accidental aggregation/repartition crept in
    assert("Exchange".r.findAllIn(plan).size <= 1, plan.take(1500))
    assert(!plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("zipf fit: top-K via TakeOrdered, rank window above the K-row limit") {
    val plan = TextOps.q103ZipfFit(spark, sf)
      .queryExecution.executedPlan.toString
    // the vocab-sized relation must reach the window through a distributed
    // top-k, never a global sort: TakeOrderedAndProject sits BELOW Window
    val iWin = plan.indexOf("Window")
    val iTop = plan.indexOf("TakeOrderedAndProject")
    assert(iTop >= 0, plan.take(1500))
    assert(iWin >= 0 && iWin < iTop, plan.take(1500))
  }

  test("posting lists are capped, ascending, with true df preserved") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.q104PostingLists(spark, sf).collect()
    assert(rows.nonEmpty)
    val byTerm = rows.groupBy(_.getAs[String]("term"))
    byTerm.foreach { case (_, rs) =>
      assert(rs.length <= TextOps.PostingCap)
      val sorted = rs.sortBy(_.getAs[Long]("pos_rank"))
      assert(sorted.map(_.getAs[Long]("pos_rank")).toSeq ==
        (1L to rs.length).toSeq)
      // posting lists ascend by doc_id and df never undercounts the cap
      val ids = sorted.map(_.getAs[Long]("doc_id")).toSeq
      assert(ids == ids.sorted)
      val df = rs.head.getAs[Long]("df")
      assert(rs.forall(_.getAs[Long]("df") == df))
      assert(df >= rs.length)
    }
    // the headline property — TRUE df survives past the cap — must be
    // exercised: some term must truncate, and ITS df must be the exact
    // containing-doc count (a df wrongly derived from the capped buffer
    // would report PostingCap here)
    val truncated = byTerm.filter { case (_, rs) =>
      rs.length == TextOps.PostingCap
    }
    assert(truncated.nonEmpty, "corpus too small: no term reaches the cap")
    val (term, rs) = truncated.head
    val exact = graft.ops.Tables.documents(spark, sf)
      .filter(array_contains(split(col("text"), " "), term)).count()
    assert(rs.head.getAs[Long]("df") == exact)
    assert(exact > TextOps.PostingCap)
  }

  test("posting lists build on the bounded aggregator — no window, no collect_list") {
    val plan = TextOps.q104PostingLists(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
    assert(!plan.toLowerCase.contains("collect_list"), plan.take(1500))
  }

  test("chunk dedup reports only cross-doc repeats, counts consistent") {
    val rows = TextOps.q106ChunkDedup(spark, sf).collect()
    assert(rows.nonEmpty, "corpus plants near-dups; some chunk must repeat")
    rows.foreach { r =>
      val (occ, docs) = (r.getAs[Long]("n_occurrences"), r.getAs[Long]("n_docs"))
      assert(docs >= 2 && occ >= docs)
    }
    // fingerprints agree with the q87 inventory: every reported fp exists
    // there with the same instance count (shared chunk pipeline)
    val inv = TextOps.q87DocChunks(spark, sf).collect()
      .groupBy(_.getAs[Long]("fp")).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val fp = r.getAs[Long]("fp")
      assert(inv.get(fp).contains(r.getAs[Long]("n_occurrences")),
        s"fp $fp: q106 says ${r.getAs[Long]("n_occurrences")}, q87 says ${inv.get(fp)}")
    }
  }

  test("chunk dedup plans as two-phase distinct count, no unbounded state") {
    val plan = TextOps.q106ChunkDedup(spark, sf)
      .queryExecution.executedPlan.toString
    // the documented shape: (fp, doc_id) pair-dedup exchange then the
    // (fp)-keyed final count — and never a collect_set buffering doc ids
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      plan.take(1500))
    assert(!plan.toLowerCase.contains("collect_set"), plan.take(1500))
  }

  test("zipf fit produces a negative slope and matches a local OLS") {
    val row = TextOps.q103ZipfFit(spark, sf).collect().head
    val k = row.getAs[Long]("n_top")
    assert(k > 1 && k <= TextOps.ZipfTopK)
    val slope = row.getAs[Double]("slope")
    // frequencies are non-increasing in rank, so the fit must slope down
    assert(slope < 0.0, s"slope=$slope")
    // recompute OLS locally from the exact counts
    import org.apache.spark.sql.functions._
    val counts = graft.ops.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("n")))
      .sortBy { case (t, n) => (-n, t) }.take(TextOps.ZipfTopK)
    val pts = counts.zipWithIndex.map { case ((_, n), i) =>
      (math.log(i + 1.0), math.log(n.toDouble))
    }
    val kk = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expected = (kk * sxy - sx * sy) / (kk * sxx - sx * sx)
    assert(math.abs(slope - expected) < 1e-4, s"$slope vs $expected")
  }

  test("bm25 plan broadcasts the tiny stats sides; no global corpus sort") {
    val qe = TextOps.q100Bm25(spark, sf).queryExecution
    val physical = qe.executedPlan.toString
    assert(physical.contains("BroadcastExchange"), physical.take(2000))
    // the top-k runs as TakeOrderedAndProject, not a full Sort + window
    assert(physical.contains("TakeOrderedAndProject"), physical.take(2000))
  }

  test("q139 MAD outliers: lower median, MAD, cut at 3 MAD — closed form") {
    import spark.implicits._
    val docs = Seq(
      // spike: 4 identical lengths + one huge -> MAD 0, the spike is out
      (1L, "x", "en", "spike", 10L), (2L, "x", "en", "spike", 10L),
      (3L, "x", "en", "spike", 10L), (4L, "x", "en", "spike", 10L),
      (5L, "x", "en", "spike", 100L),
      // ramp 1..7: med 4, devs {0,1,1,2,2,3,3} -> MAD 2, cut 6 -> none out
      (6L, "x", "en", "ramp", 1L), (7L, "x", "en", "ramp", 2L),
      (8L, "x", "en", "ramp", 3L), (9L, "x", "en", "ramp", 4L),
      (10L, "x", "en", "ramp", 5L), (11L, "x", "en", "ramp", 6L),
      (12L, "x", "en", "ramp", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q139LengthOutliers(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      assert(out("spike").getAs[Long]("med_chars") == 10L)
      assert(out("spike").getAs[Long]("mad_chars") == 0L)
      assert(out("spike").getAs[Long]("n_outliers") == 1L)
      assert(out("ramp").getAs[Long]("n_docs") == 7L)
      assert(out("ramp").getAs[Long]("med_chars") == 4L)
      assert(out("ramp").getAs[Long]("mad_chars") == 2L)
      assert(out("ramp").getAs[Long]("n_outliers") == 0L)
    }
  }

  test("q139 plan: median windows consume value-count marginals, not rows") {
    // Each median window must sort a bounded input: either an Aggregate or
    // the checkpointed (source, value) count marginal (a LogicalRDD after
    // localCheckpoint truncates lineage) — never the raw corpus scan.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.execution.LogicalRDD
    val plan = TextOps.q139LengthOutliers(spark, sf)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, plan.toString.take(2000))
    windows.foreach { w =>
      val bounded = w.child.collectFirst {
        case a: Aggregate => a: Any
        case r: LogicalRDD => r: Any
      }
      assert(bounded.nonEmpty,
        "window has no bounded input below it:\n" + w.toString.take(1500))
      assert(!w.child.toString.contains("parquet"),
        "window reads raw corpus rows:\n" + w.toString.take(1500))
    }
  }

  test("q150 weighted sample: ES race replicated in-JVM, k per source, no window") {
    def key(docId: Long, w: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(md, 16) + 1).toDouble / 4294967296.0
      math.round(-math.log(u) / w * 1000000)
    }
    val docs = Tables.documents(spark, sf).collect()
    val ref = docs.map { r =>
      val toks = r.getAs[String]("text").split(" ")
      val w = math.round(toks.distinct.length.toDouble / toks.length * 10000) + 1
      (r.getAs[String]("source"), key(r.getAs[Long]("doc_id"), w),
        r.getAs[Long]("doc_id"), w)
    }
    val expect = ref.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
      rs.sortBy(t => (t._2, t._3)).take(TextOps.WeightedSampleK).zipWithIndex
        .map { case (t, i) => (src, (i + 1).toLong, t._3, t._4) }
    }.toSet
    val got = TextOps.q150WeightedSample(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("weight"))).toSet
    assert(got == expect)
    // bounded aggregator, not a per-source window sort
    val plan = TextOps.q150WeightedSample(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("q150 draws are weight-proportional, not just formula-parity") {
    // the parity test and the oracle MIRROR the same formula, so a shared
    // sign/inversion error would pass both — this pins the DIRECTION:
    // a ~500x-weight doc must win its source's race almost always
    import spark.implicits._
    val docs = (0 until 20).flatMap { src =>
      val heavy = (src * 100L, (1 to 50).map(i => s"w$i").mkString(" "),
        "en", s"s$src", 1L) // all-distinct -> ttr 1.0 -> w = 10001
      val lights = (1 to 9).map(j =>
        (src * 100L + j, Seq.fill(500)("a").mkString(" "),
          "en", s"s$src", 1L)) // ttr 0.002 -> w = 21
      heavy +: lights
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val firsts = TextOps.q150WeightedSample(spark, dir).collect()
        .filter(_.getAs[Long]("rnk") == 1L)
      assert(firsts.length == 20)
      val heavyWins = firsts.count(_.getAs[Long]("doc_id") % 100 == 0)
      // P(heavy first) = 10001/(10001 + 9*21) = 0.98 per source;
      // 16/20 leaves a wide margin while a direction flip scores ~0
      assert(heavyWins >= 16, s"heavy docs won only $heavyWins/20 races")
    }
  }

  test("q149 pareto frontier: dominance closed-form, ties kept, marginal window") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a", "en", "s", 5L),         // (3, 3333)  dominated by doc 4
      (2L, "a b c", "en", "s", 5L),         // (3, 10000) dominated by doc 3
      (3L, "a b c d e", "en", "s", 9L),     // (5, 10000) frontier
      (4L, "a a b b c c d d", "en", "s", 15L), // (8, 5000) frontier
      (5L, "b c a d e", "en", "s", 9L)      // (5, 10000) frontier (tie of 3)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q149ParetoFrontier(spark, dir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(out == Set(3L, 4L, 5L), s"frontier was $out")
    }
    // scale contract: the frontier window runs on the (x, max y) marginal
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.execution.LogicalRDD
    val plan = TextOps.q149ParetoFrontier(spark, sf).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.size == 1, plan.toString.take(2000))
    val bounded = windows.head.child.collectFirst {
      case a: Aggregate => a: Any
      case r: LogicalRDD => r: Any
    }
    assert(bounded.nonEmpty,
      "frontier window has no bounded input:\n" + windows.head.toString.take(1500))
    assert(!windows.head.child.toString.contains("parquet"),
      "frontier window reads raw corpus rows")
  }

  test("q147 winsorized stats: closed-form cuts and clip sums on 1..100") {
    import spark.implicits._
    val docs = (1 to 100).map(i => (i.toLong, "x", "en", "u", i.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val r = TextOps.q147WinsorizedStats(spark, dir).collect().head
      assert(r.getAs[Long]("n_docs") == 100L)
      assert(r.getAs[Long]("p05_chars") == 5L)  // ceil(100*5/100) = 5th value
      assert(r.getAs[Long]("p95_chars") == 95L)
      // clipped: 1..4 below, 96..100 above
      assert(r.getAs[Long]("n_clipped") == 9L)
      // sum(5..95) + 4*5 + 5*95
      assert(r.getAs[Long]("win_sum_chars") == (5 to 95).sum + 20L + 475L)
    }
  }

  test("q159 padlen sweep: slot conservation, monotone waste/truncation") {
    val out = TextOps.q159PadLenSweep(spark, sf).collect()
      .sortBy(_.getAs[Long]("pad_len"))
    assert(out.map(_.getAs[Long]("pad_len")).toSeq ==
      TextOps.PadLenGrid.map(_.toLong))
    // corpus totals are sweep-invariant
    assert(out.map(_.getAs[Long]("n_docs")).distinct.length == 1)
    assert(out.map(_.getAs[Long]("n_tokens")).distinct.length == 1)
    out.foreach { r =>
      // slot conservation: docs*len = kept tokens + padding
      assert(r.getAs[Long]("n_docs") * r.getAs[Long]("pad_len") ==
        r.getAs[Long]("n_tokens") - r.getAs[Long]("trunc_loss") +
          r.getAs[Long]("pad_waste"))
    }
    // longer targets: waste grows, truncation shrinks
    def vals(c: String) = out.map(_.getAs[Long](c))
    assert(vals("pad_waste").zip(vals("pad_waste").tail)
      .forall { case (a, b) => a <= b })
    assert(vals("trunc_loss").zip(vals("trunc_loss").tail)
      .forall { case (a, b) => a >= b })
    assert(vals("n_trunc_docs").zip(vals("n_trunc_docs").tail)
      .forall { case (a, b) => a >= b })
  }

  test("q146 padding waste: pad/trunc identities at the PadLen boundary") {
    import spark.implicits._
    val shortDoc = ("a " * 10).trim            // 10 tokens -> pad 118
    val exactDoc = ("b " * TextOps.PadLen).trim // exactly PadLen -> 0/0
    val longDoc = ("c " * (TextOps.PadLen + 50)).trim // trunc 50
    val docs = Seq(
      (1L, shortDoc, "en", "s", 1L), (2L, exactDoc, "en", "s", 1L),
      (3L, longDoc, "de", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q146PaddingWaste(spark, dir).collect()
        .map(r => r.getAs[String]("lang") -> r).toMap
      assert(out("en").getAs[Long]("pad_waste") == TextOps.PadLen - 10)
      assert(out("en").getAs[Long]("trunc_loss") == 0L)
      assert(out("de").getAs[Long]("pad_waste") == 0L)
      assert(out("de").getAs[Long]("trunc_loss") == 50L)
      val en = out("en")
      assert(en.getAs[Long]("waste_ppm") ==
        en.getAs[Long]("pad_waste") * 1000000L /
          (en.getAs[Long]("n_docs") * TextOps.PadLen))
    }
  }

  test("q140 vocab growth: new types accrue by first-seen band") {
    import spark.implicits._
    // ids 0..3 over 20 bands -> bands 0, 5, 10, 15
    val docs = Seq(
      (0L, "a b", "en", "s", 3L), (1L, "a c", "en", "s", 3L),
      (2L, "c a", "en", "s", 3L), (3L, "d", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    withDocs(docs) { dir =>
      val out = TextOps.q140VocabGrowth(spark, dir).collect()
        .map(r => r.getAs[Long]("band") -> r).toMap
      assert(out.keySet == Set(0L, 5L, 10L, 15L))
      assert(out(0L).getAs[Long]("new_types") == 2L)  // a, b
      assert(out(5L).getAs[Long]("new_types") == 1L)  // c
      assert(out(10L).getAs[Long]("new_types") == 0L)
      assert(out(15L).getAs[Long]("new_types") == 1L) // d
      assert(out(15L).getAs[Long]("cum_types") == 4L)
      assert(out(10L).getAs[Long]("n_tokens") == 2L)
      assert(out.values.forall(_.getAs[Long]("n_docs") == 1L))
    }
  }

  test("q140 plan: cumulative window runs on the band aggregate only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.execution.LogicalRDD
    val plan = TextOps.q140VocabGrowth(spark, sf)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.size == 1, plan.toString.take(2000))
    // every leaf under the window must sit below an aggregate (or be the
    // checkpointed band-token marginal): the window's input is the per-band
    // rollup (≤ VocabBands rows), never raw corpus rows
    def boundedToLeaf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case _: Aggregate => true
        case _: LogicalRDD => true
        case leaf if leaf.children.isEmpty => false
        case other => other.children.forall(boundedToLeaf)
      }
    windows.foreach { w =>
      assert(boundedToLeaf(w.child),
        "window sees a leaf not behind an aggregate:\n" + w.toString.take(1500))
    }
  }

  test("on an extensions-built session, TextOps and Dedup construction " +
    "logs no function-registry warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import spark.implicits._
    val logger = LogManager.getLogger(
      spark.sessionState.functionRegistry.getClass.getName)
      .asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-registry-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    logger.addAppender(capture)
    try {
      val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
      TextOps.topGramProfileOf(docs)
      Dedup.dedupWithinBatch(spark, docs)
      TextOps.q30QualityScore(spark, sf)
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    assert(seen.isEmpty, seen.toString)
  }
}
