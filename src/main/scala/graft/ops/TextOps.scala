package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY.md §2.C5): corpus stats,
  * token frequency, quality scoring, n-gram language-ID, document
  * fingerprinting, and BPE-ish token counting — the per-document filters and
  * features an LLM-training-data pipeline runs before dedup/sampling.
  *
  * Scale design: everything per-document is a narrow codegen'd projection
  * (array built-ins, no UDFs). The only shuffles are the final aggregations
  * (token counts: hash-shuffle on token with map-side partial agg; langid:
  * one small profile join that broadcasts). */
object TextOps {
  import Tables._

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** ln 2 as ONE 16-digit literal interpolated into BOTH engine sides of
    * q121's h_bits — two hand-maintained copies of the digits could drift
    * and break the bit-exact compare. */
  val Ln2 = 0.6931471805599453

  /** q123's template fingerprint window (chars), interpolated into both
    * the Spark expression and the DuckDB oracle. */
  val FpLen = 64
  private def stopArr = Stopwords.map(w => s"'$w'").mkString("array(", ",", ")")
  private def stopList = Stopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** Bit-stable distributed float sum: collect the addends, sort, and
    * left-fold. Plain `sum` leaves IEEE addition order to partial-agg
    * scheduling — run-dependent low bits that break hash-matching against
    * the oracle. This is the ONE engine-side definition of the ordered-sum
    * convention (the oracle mirrors it as
    * `list_sum(list_sort(list(...)))`); for a truly unbounded group swap
    * in plain `sum` + tolerance comparison instead — the fold buffers one
    * group-sized array. */
  private[ops] def orderedSum(e: String): org.apache.spark.sql.Column =
    expr(s"aggregate(sort_array(collect_list($e)), 0D, (a, x) -> a + x)")

  /** C5a corpus stats per language: doc count, char/token means, sources. */
  def q28TextStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 2).as("avg_chars"),
        round(avg(size(split(col("text"), " "))), 2).as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** C5b global token frequency top-30 (count desc, token asc tiebreak). */
  def q29TokenTopK(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token"))
      .limit(30)

  /** THE type-token-ratio quality signal, shared by q30 (quality score),
    * q94 (dedup survivor ranking) and q97 (source-cap ranking) — one
    * definition on each engine side, so the three operators and their
    * oracles cannot drift apart. `t` is the space-split token array. */
  def ttrFromTokens(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(size(array_distinct(t)) / size(t), 4)

  /** DuckDB-side mirror of [[ttrFromTokens]] over the raw `text` column. */
  val TtrSql: String =
    "round(len(list_distinct(string_split(text, ' ')))::DOUBLE" +
      " / len(string_split(text, ' ')), 4)"

  /** THE stopword-ratio signal, shared by q30 (quality score) and q102
    * (quality classifier) — like [[ttrFromTokens]], one definition per
    * engine side so the feature the classifier was calibrated on cannot
    * drift from the q30 signal. `t` is the space-split token array. */
  def stopRatioFromTokens(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(size(filter(t, x => array_contains(
      array(Stopwords.map(lit): _*), x))) / size(t), 4)

  /** DuckDB-side mirror of [[stopRatioFromTokens]] over a token-array
    * column named `t` (both consumers alias their split that way). */
  val StopRatioSql: String =
    s"round(len(list_filter(t, x -> list_contains($stopList, x)))::DOUBLE" +
      " / len(t), 4)"

  /** C5c per-document quality signals: token count, type-token ratio,
    * stopword ratio, and a boolean quality gate — the classic cheap filters
    * applied before expensive pipeline stages. */
  def q30QualityScore(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        ttrFromTokens(col("t")).as("ttr"),
        stopRatioFromTokens(col("t")).as("stop_ratio"))
      .withColumn("is_quality",
        col("n_tokens").between(20, 1000) && col("ttr") >= 0.1)
      .orderBy("doc_id")

  val ProfileSize = 10

  /** C5d language-ID by character-bigram profiles: learn each language's
    * top-10 bigram profile (by DOCUMENT frequency — how many docs contain
    * the bigram, which resists single-long-doc skew) from the labeled
    * corpus, score every doc against every profile (shared-bigram count),
    * predict argmax; output the confusion matrix. Profiles are tiny -> the
    * scoring join broadcasts.
    *
    * The profile-ranking window partitions on `plang` (few values) but
    * its input is the (lang, bigram) DOCUMENT-FREQUENCY AGGREGATE —
    * bounded by langs × the bigram grid, never corpus size (the
    * bounded-marginal exemption in the low-cardinality-window audit).
    *
    * Shuffle design: per-document bigram dedup happens IN-ROW
    * (`array_distinct` over the native `char_bigrams` array — codegen'd,
    * before any explode), so no shuffle ever carries raw bigram
    * occurrences: the profile branch shuffles only map-side-combined
    * (lang, bigram) partial counts, and the scoring branch joins the
    * broadcast 50-row profile FIRST, so its doc-level shuffle carries at
    * most |profiles| rows per doc. The corpus is scanned twice (both
    * branches), which is deliberate: A/B-measured against materializing
    * one shared distinct-(doc, bigram) exchange (ReuseExchange), the two
    * narrow column-pruned scans win (1.05 s vs 1.64 s at sf0.1) — a
    * shuffle costs a disk write + read per byte vs one read for a scan,
    * and the exchange variant shuffles the full doc-distinct pair set
    * while this shape shuffles almost nothing. */
  def q31LangId(s: SparkSession, d: String): DataFrame = {
    val wPred = Window.partitionBy("doc_id").orderBy(desc("score"), col("plang"))
    langScored(s, d)
      .withColumn("r", row_number().over(wPred))
      .filter(col("r") === 1)
      .groupBy(col("lang"), col("plang").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** q31's scoring chain up to the per-(doc, profile) shared-bigram score —
    * ONE definition feeding the q31 confusion matrix and the q204 per-doc
    * margin, so the two views can never score a doc differently. */
  private[ops] def langScored(s: SparkSession, d: String): DataFrame = {
    // native expression: one compiled pass/doc vs interpreted array lambdas
    val docBigrams = documents(s, d).filter(length(col("text")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr("array_distinct(char_bigrams(text))")).as("bg"))
    val wProf = Window.partitionBy("plang").orderBy(desc("cnt"), col("bg"))
    val profiles = docBigrams
      .groupBy(col("lang").as("plang"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("r", row_number().over(wProf))
      .filter(col("r") <= ProfileSize)
      .select("plang", "bg")
    docBigrams
      .join(broadcast(profiles), "bg")
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(count(lit(1)).as("score"))
  }

  /** Language-confidence margin (q204): per document — the argmax language
    * profile, the runner-up, both scores in exact shared-bigram counts,
    * their margin, and an ambiguity flag (margin ≤ 1). q31 publishes the
    * corpus-level confusion matrix; this is the PER-DOC decision signal a
    * curation pass acts on: a doc matching two language profiles nearly
    * equally is code-switched, boilerplate-dominated, or too short to
    * call — review/route it rather than trusting the argmax label that
    * q31's matrix (and every lang-conditioned statistic downstream) would
    * silently assign. Docs sharing no bigram with any profile are absent
    * (nothing to rank); pred2 is NULL when only one profile matches.
    *
    * Scale shape: rides [[langScored]] (broadcast ≤|langs|·10-row profile
    * join; the doc-keyed shuffle carries ≤|langs| rows per doc), then one
    * doc-partitioned top-2 window whose partitions hold ≤|langs| rows —
    * bounded by the language inventory, never corpus-shaped. */
  def q204LangMargin(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("plang"))
    langScored(s, d)
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 2)
      .groupBy("doc_id", "lang")
      .agg(
        max(when(col("r") === 1, col("plang"))).as("pred"),
        max(when(col("r") === 1, col("score"))).as("s1"),
        max(when(col("r") === 2, col("plang"))).as("pred2"),
        coalesce(max(when(col("r") === 2, col("score"))), lit(0L)).as("s2"))
      .withColumn("margin", col("s1") - col("s2"))
      .withColumn("is_ambiguous", col("margin") <= 1)
      .orderBy("doc_id")
  }

  /** C5e document fingerprint: min-hash over all char 12-gram windows (the
    * winnowing-style rolling fingerprint, md5-based for oracle parity). */
  def q32Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(length(col("text")) >= 12)
      .select(col("doc_id"), expr("rolling_fingerprint(text)").as("fp"))
      .orderBy("doc_id")

  /** C5f BPE-ish token counting: letter-runs / digit-runs / single symbols
    * (the shape of a byte-pair pre-tokenizer) vs plain whitespace tokens.
    * The count is the native [[graft.functions.BpeCount]] — one compiled
    * state-machine pass, match-for-match identical to
    * `size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))`
    * (parity spec in TextOpsSpec) without materializing every match. */
  def q33TokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), expr("bpe_count(text)").as("bpe"),
        size(split(col("text"), " ")).as("ws"))
      .groupBy("lang")
      .agg(sum("bpe").as("bpe_tokens"), sum("ws").as("ws_tokens"))
      .orderBy("lang")

  val TrainPct = 80 // split routing thresholds shared by q56 and q80:
  val ValidPct = 90 // [0,TrainPct) train, [TrainPct,ValidPct) valid, rest test

  /** md5-mod-100 split bucket of `keyCol` — the ONE definition of the
    * split hash, shared by [[q56HashSplit]] (raw doc ids) and
    * [[Dedup.q80LeakageSafeSplit]] (cluster ids); changing the hash width
    * or ratios here changes both splits together. */
  private[ops] def splitBucket(keyCol: String): org.apache.spark.sql.Column =
    expr(s"cast(conv(substring(md5(cast($keyCol as string)), 1, 4), 16, 10) as bigint) % 100")

  private[ops] def splitName(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(h < TrainPct, "train").when(h < ValidPct, "valid").otherwise("test")

  /** Deterministic hash-based train/valid/test split (80/10/10) — the
    * held-out-split primitive of a training-data pipeline. Assignment is
    * `hash(doc_id) mod 100` with an md5-derived hash, so the split is
    * reproducible across engines, runs, and cluster layouts (no RNG state,
    * unlike `sample()`), stable under re-partitioning, and a pure
    * projection + aggregate at any scale. A doc's split never changes when
    * the corpus grows — the property that keeps eval sets leak-free across
    * dataset versions. */
  def q56HashSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("h", splitBucket("doc_id"))
      .withColumn("split", splitName(col("h")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 2).as("avg_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("split")

  /** Public buffer for [[StratSampleAgg]] — typed Aggregator buffer case
    * classes must be public or generated safe projections fail at runtime. */
  final case class SampleBuf(items: Seq[(Long, Long)])

  /** Per-stratum smallest-k by (hash, id): partial top-k per partition, so
    * the shuffle carries k rows per (partition, stratum) — the same
    * physical strategy as [[Similarity.TopKAggregator]], and the reason
    * this scales where a `Window.partitionBy(lang)` does not: with a
    * handful of strata the window funnels the whole corpus into that many
    * partitions, while the partial-agg shape never concentrates more than
    * k rows per stratum per upstream partition. */
  final class StratSampleAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Long, Long), SampleBuf, SampleBuf] {
    private def trim(s: Seq[(Long, Long)]): Seq[(Long, Long)] =
      s.sortBy(identity).take(k)
    override def zero: SampleBuf = SampleBuf(Nil)
    override def reduce(b: SampleBuf, a: (String, Long, Long)): SampleBuf =
      SampleBuf(trim(b.items :+ ((a._2, a._3))))
    override def merge(x: SampleBuf, y: SampleBuf): SampleBuf =
      SampleBuf(trim(x.items ++ y.items))
    override def finish(b: SampleBuf): SampleBuf = b
    override def bufferEncoder = org.apache.spark.sql.Encoders.product[SampleBuf]
    override def outputEncoder = org.apache.spark.sql.Encoders.product[SampleBuf]
  }

  val SamplePerStratum = 10

  /** Deterministic stratified sample: the [[SamplePerStratum]] docs with the
    * smallest md5-derived hash per language — the balanced-mixing primitive
    * of a training pipeline (uniform "random" within each stratum, yet
    * reproducible across engines/runs/layouts, and a doc's membership is
    * stable as other docs come and go). */
  def q57StratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashed = documents(s, d).select(col("lang"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
          .as("h"),
        col("doc_id"))
      .as[(String, Long, Long)]
    val agg = new StratSampleAgg(SamplePerStratum).toColumn.name("top")
    hashed.groupByKey(_._1).agg(agg)
      .flatMap { case (lang, buf) =>
        buf.items.zipWithIndex.map { case ((_, id), i) =>
          (lang, (i + 1).toLong, id)
        }
      }
      .toDF("lang", "rnk", "doc_id")
      .orderBy("lang", "rnk")
  }

  val WeightedSampleK = 3 // weighted draws per source

  /** C5w weighted sampling without replacement (q150): Efraimidis &
    * Spirakis 2006 — per source, the [[WeightedSampleK]] docs winning the
    * exponential race `-ln(u)/w` (u a deterministic md5 uniform, w the
    * quality weight round(ttr·1e4)+1), which IS a weight-proportional
    * draw without replacement. This is the DRAWER the weight-producing
    * ops lacked (q76 tempers sources, q136 emits dup-aware weights —
    * neither executes a draw); the registered form weights by the
    * self-contained quality signal round(ttr·1e4)+1, and any per-doc
    * weight column (q136's ppm included) slots into the same race by
    * swapping `w`. One distributed pass, per-partition bounded
    * top-k ([[StratSampleAgg]] — no per-source window, no full-source
    * buffering), exactly the q57/q97 scale shape. The race key rounds to
    * integer micro-units BEFORE ranking so both engines rank identical
    * keys (ln differs by ≤1 ulp across libms; at 1e-6 granularity a
    * boundary flip needs a ~1e-8 coincidence — and the oracle gate would
    * catch it). */
  def q150WeightedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keyed = documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(col("source"), col("doc_id"),
        (round(ttrFromTokens(col("t")) * lit(10000)).cast("long") + lit(1L))
          .as("w"))
      .select(col("source"),
        expr("cast(round(-ln((cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) + 1) / 4294967296.0) / w * 1000000) as bigint)")
          .as("nk"),
        col("doc_id"), col("w"))
    val agg = new StratSampleAgg(WeightedSampleK).toColumn.name("top")
    val kept = keyed.select("source", "nk", "doc_id").as[(String, Long, Long)]
      .groupByKey(_._1).agg(agg)
      .flatMap { case (source, buf) =>
        buf.items.zipWithIndex.map { case ((_, id), i) =>
          (source, (i + 1).toLong, id)
        }
      }
      .toDF("source", "rnk", "doc_id")
    // the KEPT set (sources x k rows) broadcasts; the corpus-sized weight
    // frame streams — q97's join direction
    keyed.select("doc_id", "w").join(broadcast(kept), "doc_id")
      .select(col("source"), col("rnk"), col("doc_id"), col("w").as("weight"))
      .orderBy("source", "rnk")
  }

  val SourceCap = 20

  /** C5 per-source quota (the "domain cap" of web-corpus curation: no
    * single domain/crawl-shard may dominate the training mix): keep the
    * [[SourceCap]] highest-quality docs per source, ranked by type-token
    * ratio (q30's signal) with doc_id tie-break. Selection reuses the
    * bounded top-k [[StratSampleAgg]] — per-partition partial top-k means
    * the shuffle carries at most `cap` rows per (partition, source) and NO
    * source ever buffers its full document list (the window-rank
    * alternative sorts every source's docs through one partition — exactly
    * the skew shape a hot domain at 100 TB breaks). The rank key is the
    * integer-scaled NEGATED ttr, computed from the already-rounded value
    * so rank order and the reported ttr cannot disagree; the kept set
    * (sources x cap rows) then broadcast-joins its ttr back on. */
  def q97SourceCap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(col("source"), col("doc_id"),
        ttrFromTokens(col("t")).as("ttr"))
    val ranked = scored.select(col("source"),
        (lit(10000L) - expr("cast(round(ttr * 10000) as bigint)")).as("nk"),
        col("doc_id"))
      .as[(String, Long, Long)]
    val agg = new StratSampleAgg(SourceCap).toColumn.name("top")
    val kept = ranked.groupByKey(_._1).agg(agg)
      .flatMap { case (src, buf) =>
        buf.items.zipWithIndex.map { case ((_, id), i) =>
          (src, (i + 1).toLong, id)
        }
      }
      .toDF("source", "rnk", "doc_id")
    // kept is (sources x cap) rows — THE broadcast side; the corpus-sized
    // ttr relation streams through a second pruned scan (cheaper than
    // checkpointing corpus-wide ttr just to avoid re-reading two columns)
    scored.select(col("doc_id"), col("ttr"))
      .join(broadcast(kept), "doc_id")
      .select(col("source"), col("rnk"), col("doc_id"), col("ttr"))
      .orderBy("source", "rnk")
  }

  val BenchmarkMaxId = 20

  /** Benchmark-contamination check: per corpus document, the fraction of
    * its 3-word shingles that also occur in the "benchmark" set (stand-in:
    * docs with doc_id < [[BenchmarkMaxId]]) — the train/eval overlap audit
    * every LLM data pipeline needs before training. The benchmark shingle
    * set is bounded by the eval suite's size, so it broadcasts; the corpus
    * streams ONCE through a left broadcast join and one aggregation — no
    * shuffle of corpus shingles, no second scan. */
  def q58Contamination(s: SparkSession, d: String): DataFrame = {
    val ex = Dedup.shingled(s, d)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val bench = ex.filter(col("doc_id") < BenchmarkMaxId)
      .select("s").distinct().withColumn("m", lit(1))
    ex.filter(col("doc_id") >= BenchmarkMaxId)
      .join(broadcast(bench), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("m"), lit(0))).as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .select(col("doc_id"), col("n_overlap"), col("n_sh"),
        round(col("n_overlap") / col("n_sh"), 4).as("ratio"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition ratio (the Gopher-style quality filter):
    * 1 - distinct/total 3-word shingles — near-0 for natural prose, high
    * for boilerplate/template spam. Pure per-row projection (the native
    * `word_shingles` pass already dedups in-row), ZERO shuffle before the
    * output sort — the cheapest possible shape at any corpus size. */
  def q59RepetitionRatio(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        (size(split(col("text"), " ")) - 2).cast("long").as("n_shingles"),
        expr("size(word_shingles(text))").cast("long").as("n_unique"))
      .filter(col("n_unique") > 0) // docs with < 3 tokens have no shingles
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        round(lit(1.0) - col("n_unique") / col("n_shingles"), 4).as("rep_ratio"))
      .orderBy("doc_id")

  /** The n-gram sizes the repetition profile sweeps — the Gopher quality
    * filters' 2/3/4-gram family (Rae et al. 2021, Table A1), interpolated
    * into BOTH the engine transform and the oracle's unnest grid. */
  val TopGramNs: Seq[Int] = Seq(2, 3, 4)

  /** The ONE definition of the top-n-gram repetition profile over any
    * `(doc_id, text)` frame — q199 applies it to the corpus; the value
    * spec replays it on a crafted document with hand-computed counts.
    *
    * Optimization r15: the profile is computed IN-ROW by the native
    * [[graft.functions.TopGramProfile]] expression (one compiled pass per
    * document), replacing the gram explosion (one string row per gram
    * OCCURRENCE) through a (doc, n, g)-keyed exchange plus two
    * document-keyed window passes. The old plan shuffled ~|Ns| gram
    * strings per token (corpus-text-sized bytes); the new plan's only
    * exchange is the output sort — the guide §2.3/§2.4 "shuffle nothing
    * the row already knows" move. Semantics (tie-break included) are
    * bit-identical; the value spec and the q199 oracle hash pin that. */
  private[ops] def topGramProfileOf(docs: DataFrame): DataFrame = {
    graft.functions.TextHashExprs.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        explode(expr("topgram_profile(text)")).as("p"))
      .select(col("doc_id"), col("p.n").as("n"),
        col("p.top_gram").as("top_gram"),
        col("p.top_count").as("top_count"),
        expr("p.top_count * length(p.top_gram) * 1000000 div n_chars")
          .as("mass_ppm"),
        col("p.n_grams").as("n_grams"),
        col("p.n_unique").as("n_unique"),
        expr("(p.n_grams - p.n_unique) * 1000000 div p.n_grams")
          .as("dup_ppm"))
      .orderBy("doc_id", "n")
  }

  /** C5 within-document repetition profile (q199): per document and n-gram
    * size in [[TopGramNs]], the MOST FREQUENT word n-gram (count + its
    * exact char-mass ppm of the document, counting every occurrence) and
    * the duplicate-gram fraction ((total − distinct) grams in ppm) — the
    * Gopher repetition filters (Rae et al. 2021: "fraction of characters
    * in the most frequent n-gram", "fraction of duplicate n-grams") that
    * catch template spam and looping generations q59's single distinct/
    * total ratio blurs: a doc repeating ONE slogan and a doc of shuffled
    * common words can share a rep_ratio, but only the first has a
    * dominant top-gram mass. mass_ppm can exceed 1e6 for n ≥ 3 because
    * overlapping occurrences re-count shared characters — it is a
    * dominance score, not a coverage fraction (span-union coverage would
    * need per-position interval merging for no extra filtering power).
    *
    * Scale shape (optimization r15): the whole profile is ONE compiled
    * in-row pass ([[graft.functions.TopGramProfile]]) — the computation
    * never leaves the document, so nothing shuffles but the final output
    * sort; per-row cost is linear in document tokens and the shape is
    * flat in corpus size and trivially skew-free at 100 TB (the previous
    * declarative form shuffled one string per gram OCCURRENCE — corpus-
    * text-sized exchange bytes — through a (doc, n, g) aggregation plus
    * two (doc, n)-keyed window passes). */
  def q199TopGramProfile(s: SparkSession, d: String): DataFrame =
    topGramProfileOf(documents(s, d))

  /** Per-source quality percentile rank (q203): per document — its source,
    * the shared ttr quality signal (×10⁴ integer) and the exact-ppm
    * fraction of its source's documents with STRICTLY lower ttr. This is
    * the per-source quantile normalization that makes quality scores
    * comparable ACROSS sources: "keep the top 30% of every source" is
    * `pct_ppm >= 700000` regardless of each source's absolute quality
    * level — the knob q97's count caps (volume, not quality) and q117's
    * single global threshold (one cut for all sources, so a uniformly
    * weaker source is wiped out instead of thinned) both lack. Ties share
    * the strictly-lower count, so equal-ttr docs get equal ranks on both
    * engines with no ordering hazard.
    *
    * Scale shape: one tokenize scan to (doc, source, ttr4); the rank
    * windows run on the (source, ttr4) COUNT MARGINAL — ≤ 10⁴+1 rows per
    * source whatever the corpus size (the bounded-marginal exemption, the
    * q139/q147 convention) and both windows share the one source-keyed
    * exchange; then a (source, ttr4) equi-join back to the docs. */
  def q203QualityPctRank(s: SparkSession, d: String): DataFrame = {
    val perDoc = documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        round(ttrFromTokens(col("t")) * lit(10000)).cast("long").as("ttr4"))
    val marg = perDoc.groupBy("source", "ttr4").agg(count(lit(1)).as("cnt"))
    val wSrc = Window.partitionBy("source").orderBy("ttr4")
    val pref = marg
      .withColumn("n_lower", sum("cnt").over(wSrc) - col("cnt"))
      .withColumn("n_src", sum("cnt").over(Window.partitionBy("source")))
    perDoc.join(pref, Seq("source", "ttr4"))
      .select(col("doc_id"), col("source"), col("ttr4"),
        expr("n_lower * 1000000 div n_src").as("pct_ppm"))
      .orderBy("doc_id")
  }

  /** Shingle novelty: per document, the fraction of its 3-word shingles it
    * INTRODUCES to the corpus (no lower doc_id contains them) — the
    * "marginal contribution" score used to prioritize which near-dups to
    * keep. The first-introducer is a min-over-partition window on the ONE
    * shingle-keyed shuffle (a groupBy + join-back would rerun the shingle
    * explosion scan for the second branch — same lesson as the LSH bucket
    * caps); the per-doc rollup is the only other shuffle. Never pairwise —
    * cost is linear in total shingle volume at any corpus size. */
  def q68Novelty(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s")
    Dedup.shingled(s, d)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("first_doc", min("doc_id").over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_novel"), col("n_sh"),
        round(col("n_novel") / col("n_sh"), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** Term classes for the policy-scrub operator — the PII/blocklist-redaction
    * plumbing (per-class match counts + a fingerprint of the redacted text)
    * exercised with word classes that actually occur in this corpus; swap
    * the patterns for email/phone/SSN regexes in a real deployment. Kept as
    * Java-regex strings; the oracle SQL carries the RE2 spelling (DuckDB
    * string literals do not process backslash escapes — SNIPPETS r4 lesson). */
  val ScrubClasses: Seq[(String, String)] = Seq(
    "perf" -> "\\b(slow|fast)\\b",
    "struct" -> "\\b(table|row|column)\\b")
  private val scrubAll: String =
    "\\b(slow|fast|table|row|column)\\b"

  /** C5h policy scrub: per-document match counts for each sensitive-term
    * class plus the md5 of the redacted text (every match replaced by
    * `[X]`) — the PII-removal pass shape: pure per-row projection, ZERO
    * shuffle before the output sort, so it scales with scan bandwidth.
    * Three regex passes per doc; if this were the corpus bottleneck the
    * fix is one combined native expression (the norm_md5/bpe_count
    * precedent), not a UDF. */
  def q71PolicyScrub(s: SparkSession, d: String): DataFrame = {
    val counts = ScrubClasses.map { case (name, pat) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long").as(s"n_$name")
    }
    documents(s, d)
      .select(col("doc_id") +: counts :+
        md5(regexp_replace(col("text"), scrubAll, "[X]")).as("redacted_fp"): _*)
      .filter(ScrubClasses.map { case (n, _) => col(s"n_$n") > 0 }
        .reduce(_ || _))
      .orderBy("doc_id")
  }

  val TfIdfTopK = 3

  /** C5i TF-IDF keyword extraction: top-[[TfIdfTopK]] terms per document by
    * tf * ln(N/df). Three shuffles, all linear: (doc, term) partial-agg for
    * tf; term-keyed rollup for df (output = vocabulary, tiny -> broadcast
    * back); doc-keyed window for the top-k. The rank filter compiles to
    * WindowGroupLimit, so each map task keeps only k rows per doc BEFORE
    * the window shuffle — the same partial-top-k shape as the kNN tail.
    * N arrives via a broadcast 1-row aggregate, never a driver collect.
    *
    * The tf relation feeds BOTH the df rollup and the scoring join;
    * without materialization Spark tokenizes the corpus twice (no
    * ReusedExchange across the branches — verified on the executed plan).
    * `localCheckpoint` pins tf once: A/B at sf0.1 measured 0.96-1.04 s
    * checkpointed vs 1.17-1.58 s two-scan, and with a real (expensive)
    * tokenizer the single-pass gap widens with corpus size. */
  def q72TfIdf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
    // dfreq is VOCABULARY-sized — no broadcast hint: AQE broadcasts it at
    // small corpora (runtime stats) and falls back to a term-keyed shuffle
    // join at web scale, where a 1e8-term df table cannot ship to executors
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TfIdfTopK)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  val HistBucketChars = 50

  /** C5j corpus length profile: fixed-width histogram of document length in
    * chars + each bucket's corpus share. One hash-shuffle on ~dozens of
    * bucket keys (map-side partial agg collapses everything first); the
    * total arrives via a broadcast 1-row aggregate. The profiling pass that
    * sizes the length-based quality gates. */
  def q73LengthHistogram(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val total = docs.agg(count(lit(1)).as("n_total"))
    docs
      .select((floor(col("n_chars") / HistBucketChars) * HistBucketChars)
        .cast("long").as("bucket_lo"))
      .groupBy("bucket_lo").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(total))
      .select(col("bucket_lo"), col("n_docs"),
        round(col("n_docs") / col("n_total"), 4).as("share"))
      .orderBy("bucket_lo")
  }

  /** Gopher-style gate thresholds (Rae et al. 2021 table A1 adapted to this
    * corpus's scale): docs outside any bound are rejected with a named
    * reason. Mean word length derives from n_chars arithmetically
    * ((chars - spaces) / tokens), so the whole gate is integer/rational
    * math — no float divergence surface. */
  val GateMinTokens = 40
  val GateMaxTokens = 100000
  val GateMinMeanWordLen = 3.0
  val GateMaxMeanWordLen = 10.0
  val GateMaxStopRatio = 0.5

  /** C5k composite quality gate, reported per language: how many docs each
    * rule rejects and how many survive all of them — the go/no-go summary a
    * curation run emits before committing a training mix. Single scan, all
    * rules evaluated in one codegen'd projection, one small (lang-keyed)
    * aggregation. Complements q30 (per-doc signals) with the corpus-level
    * decision matrix. */
  /** The per-doc Gopher-style gate decisions behind [[q74QualityGate]] —
    * one definition of the three rejection rules, shared by the q74
    * rollup and [[Pipeline.curateCorpus]]'s document filter. */
  private[ops] def gateDecisions(s: SparkSession, d: String): DataFrame =
    gateDecisionsOf(documents(s, d))

  /** Oracle-side per-doc gate decision as a spliceable CTE (`gatedoc` →
    * doc_id, gate_pass) — the SQL statement of [[gateDecisionsOf]]'s pass
    * rule for oracles OUTSIDE this file (q208's filter-overlap matrix in
    * Dedup splices it beside the ledger CTEs). */
  private[ops] def gateDocCte: String = s"""
      gatedoc AS (
        SELECT doc_id,
               (NOT (len(t) < $GateMinTokens OR len(t) > $GateMaxTokens
                     OR (n_chars - len(t) + 1)::DOUBLE / len(t)
                        < $GateMinMeanWordLen
                     OR (n_chars - len(t) + 1)::DOUBLE / len(t)
                        > $GateMaxMeanWordLen
                     OR len(list_filter(t, x -> list_contains($stopList, x)))::DOUBLE
                        / len(t) > $GateMaxStopRatio)) AS gate_pass
        FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS t
              FROM documents))"""

  /** The same gate over ANY document-shaped frame — the incremental
    * pipeline gates incoming batches with the identical rules. */
  private[ops] def gateDecisionsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", split(col("text"), " "))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("mean_wl",
        (col("n_chars") - col("n_tok") + 1) / col("n_tok"))
      .withColumn("stop_ratio",
        expr(s"size(filter(t, x -> array_contains($stopArr, x)))")
          / col("n_tok"))
      .withColumn("r_len",
        col("n_tok") < GateMinTokens || col("n_tok") > GateMaxTokens)
      .withColumn("r_word_len",
        col("mean_wl") < GateMinMeanWordLen || col("mean_wl") > GateMaxMeanWordLen)
      .withColumn("r_stop", col("stop_ratio") > GateMaxStopRatio)
      .withColumn("gate_pass",
        !(col("r_len") || col("r_word_len") || col("r_stop")))

  def q74QualityGate(s: SparkSession, d: String): DataFrame =
    gateDecisions(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("r_len").cast("long")).as("n_r_len"),
        sum(col("r_word_len").cast("long")).as("n_r_word_len"),
        sum(col("r_stop").cast("long")).as("n_r_stop"),
        sum((!(col("r_len") || col("r_word_len") || col("r_stop")))
          .cast("long")).as("n_kept"))
      .orderBy("lang")

  /** Sampling temperature for [[q76SourceMix]]: target mix share of source
    * s is n_s^alpha / sum_t n_t^alpha with alpha = 0.5, written as `sqrt`
    * so both engines hit the IEEE-exact square root (pow(x, 0.5) has no
    * such guarantee). Half the corpus is kept overall. */
  val MixSampleFrac = 0.5

  /** C5l temperature-based source mixing (the training-mix rebalancer):
    * upsample rare sources / downsample dominant ones to the alpha=0.5
    * power distribution, keeping [[MixSampleFrac]] of the corpus in
    * expectation. Per-doc keep decisions are a DETERMINISTIC md5-uniform
    * draw u(doc_id) < rate(source) — reproducible across runs, engines,
    * and retries, which is what makes the sampled mix auditable. Shuffle
    * cost: one source-keyed count (20 keys), everything else broadcasts;
    * the per-doc pass is a single scan. The sqrt-share normalizer is an
    * ORDERED fold over the per-source values (sort_array + aggregate) so
    * the floating sum is bit-identical everywhere — a plain `sum` leaves
    * the addition order to partial-agg scheduling.
    *
    * Clip caveat: a rare source whose ideal keep-rate exceeds 1 cannot be
    * upsampled by FILTERING — its rate clips to 1 (`least`), the kept
    * fraction lands below [[MixSampleFrac]], and the realized mix tilts
    * back toward dominant sources by the clipped deficit. The output
    * exposes `rate` per source so the caller can see saturation (rate =
    * 1.0); a pipeline needing exact target mass re-normalizes unclipped
    * sources or duplicates saturated ones (a union, not a filter). */
  def q76SourceMix(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true) // feeds the normalizer AND the rate table
    val norm = counts.agg(sum("n_docs").as("n_total"),
      orderedSum("sqrt(cast(n_docs as double))").as("z"))
    val rates = counts.crossJoin(broadcast(norm))
      .withColumn("rate", least(lit(1.0),
        col("n_total") * lit(MixSampleFrac) * sqrt(col("n_docs"))
          / col("z") / col("n_docs")))
    val kept = docs.select(col("doc_id"), col("source"))
      .join(broadcast(rates.select("source", "rate")), "source")
      .filter(expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), " +
        "16, 10) as double) / 4294967296.0") < col("rate"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(col("rate"), 6).as("rate"))
      .orderBy("source")
  }

  /** C5l2 token-budget epoch planner — the repeat-count decision q76's
    * keep-rate FILTER cannot express: with a training budget of one
    * corpus-size worth of tokens, give source s the alpha=0.5 power share
    * n_s^0.5 / sum_t n_t^0.5 of the budget (sqrt, not pow, for the
    * IEEE-exact root — q76's convention) and report `epochs` =
    * target/available per source. Rare sources land epochs > 1 — they
    * repeat (a union of passes at train time); dominant sources land < 1
    * — they subsample. This token-weighted plan differs from q76's
    * doc-count rates whenever doc length varies by source, which is
    * exactly when doc-count mixing mis-allocates the compute budget.
    *
    * Shape: one corpus scan aggregates per-source token counts (20 rows);
    * everything after is arithmetic on that broadcast-size table, with
    * the share normalizer an ORDERED fold for bit-stable floats. */
  def q110EpochPlan(s: SparkSession, d: String): DataFrame =
    epochPlanOf(documents(s, d))

  /** q110's whole pipeline over ANY document relation with (source, text)
    * — ONE definition of the token-count + sqrt-share planning math,
    * consumed by q110 (raw corpus) and q130 (dedup survivors only). */
  private[ops] def epochPlanOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .groupBy("source")
      .agg(sum(expr("size(filter(split(text, ' '), x -> x <> ''))"))
        .as("n_tokens"))
      .localCheckpoint(true) // feeds the normalizer AND the plan rows
    val norm = toks.agg(sum("n_tokens").as("budget"),
      orderedSum("sqrt(cast(n_tokens as double))").as("z"))
    toks.crossJoin(broadcast(norm))
      .withColumn("share_raw", sqrt(col("n_tokens")) / col("z"))
      // both epoch outputs derive from ONE raw value: the flag compares
      // the same number the rounded column displays (flagging off the
      // rounded value instead would flip rows within half an ulp of 1)
      .withColumn("epochs_raw",
        col("share_raw") * col("budget") / col("n_tokens"))
      .select(col("source"), col("n_tokens"),
        round(col("share_raw"), 6).as("share"),
        expr("cast(round(share_raw * budget) as bigint)").as("target_tokens"),
        round(col("epochs_raw"), 4).as("epochs"),
        (col("epochs_raw") > 1.0).as("needs_repeat"))
      .orderBy("source")
  }

  /** C5l4 dedup-aware epoch planner — q110's budget allocation computed
    * over the tokens that actually SURVIVE dedup (q129's ledger keep set)
    * instead of the raw corpus. The distinction is exactly where it
    * matters: a source full of duplicates looks token-rich raw and
    * token-poor deduped, so the raw plan over-allocates budget to
    * redundant text and under-repeats the genuinely rare sources. Same
    * planning math by construction ([[epochPlanOf]] is shared), only the
    * input relation changes — the keep set arrives as one doc_id
    * semi-join before the token count. */
  def q130DedupedEpochPlan(s: SparkSession, d: String): DataFrame = {
    val keep = Dedup.q129DedupLedger(s, d)
      .filter(col("action") === "keep").select("doc_id")
    epochPlanOf(documents(s, d).join(keep, Seq("doc_id"), "left_semi"))
  }

  /** C5l3 sampling-temperature tuner — the alpha-schedule report that picks
    * the mixing temperature q76/q110 then apply. For each alpha in
    * {1, 0.5, 0.25, 0} every language's smoothed share is
    * n^alpha / sum_l n^alpha, and the mix's diversity is summarized as the
    * inverse Simpson index 1/sum(share^2) ("effective language count").
    * The alpha grid is restricted to sqrt-chain exponents (x, sqrt(x),
    * sqrt(sqrt(x)), 1) because IEEE mandates a correctly rounded sqrt —
    * `pow(x, 0.3)` carries no such cross-engine guarantee — and diversity
    * uses inverse Simpson rather than exp-entropy for the same reason
    * (arithmetic only, no transcendental ln). alpha=1 is proportional
    * sampling, alpha=0 uniform; the report shows how hard each step of the
    * schedule flattens the head and lifts the tail.
    *
    * Shape: ONE corpus scan -> per-lang counts (a handful of rows,
    * checkpointed); the alpha grid is a literal explode over that tiny
    * table, both normalizers are ORDERED folds per alpha (bit-stable
    * floats, [[orderedSum]]), and the z / eff joins broadcast. Everything
    * after the scan is (langs x 4) rows regardless of corpus size. */
  def q112AlphaSchedule(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true) // feeds the grid twice (normalizer + rows)
    val grid = counts
      .select(col("lang"), col("n_docs"),
        explode(expr("array(1.0D, 0.5D, 0.25D, 0.0D)")).as("alpha"))
      .withColumn("w", expr(
        """CASE alpha WHEN 1.0D THEN cast(n_docs as double)
                      WHEN 0.5D THEN sqrt(cast(n_docs as double))
                      WHEN 0.25D THEN sqrt(sqrt(cast(n_docs as double)))
                      ELSE 1.0D END"""))
    val z = grid.groupBy("alpha").agg(orderedSum("w").as("z"))
    val shares = grid.join(broadcast(z), "alpha")
      .withColumn("share_raw", col("w") / col("z"))
    val eff = shares.groupBy("alpha")
      .agg(orderedSum("share_raw * share_raw").as("simpson"))
      .withColumn("eff_raw", lit(1.0) / col("simpson"))
    shares.join(broadcast(eff.select(col("alpha"), col("eff_raw"))), "alpha")
      .select(col("alpha"), col("lang"), col("n_docs"),
        round(col("share_raw"), 6).as("share"),
        round(col("eff_raw"), 4).as("eff_langs"))
      .orderBy(desc("alpha"), col("lang"))
  }

  /** C5p quality threshold-sweep curve — the "how much survives each cut"
    * report that turns q30's per-doc signal into a budget decision: for
    * every NON-EMPTY TTR band (0.1-wide steps over 0.0-0.9; a band no doc
    * lands in emits no row, so read retention at an absent threshold from
    * the next populated band) the docs and token mass in the band, plus
    * the CUMULATIVE docs/tokens/token-share a filter keeping ttr >= band
    * would retain. Banding is exact integer arithmetic on the
    * 4-dp signal (`round(ttr*10000) div 1000`, capped at 9) — a float
    * `floor(ttr*10)` puts 0.3 in band 2 on both engines (0.3*10 is
    * 2.9999…) and reads as an off-by-one to any human auditing the bands.
    *
    * Shape: one corpus scan -> 10-row band aggregate; the cumulative pass
    * is a single-partition window over those ≤10 rows (bounded by the
    * band grid, not the data — the q47 monthly-window rationale). */
  def q117QualitySweep(s: SparkSession, d: String): DataFrame = {
    val wCum = Window.orderBy(desc("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(
        (round(ttrFromTokens(col("t")) * lit(10000)).cast("long")).as("ttr4"),
        size(col("t")).cast("long").as("n_tokens"))
      .withColumn("band", expr("least(ttr4 div 1000, 9L)"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .select(
        (col("band").cast("double") / lit(10.0)).as("min_ttr"),
        col("band"), col("n_docs"), col("n_tokens"),
        sum("n_docs").over(wCum).as("cum_docs"),
        sum("n_tokens").over(wCum).as("cum_tokens"),
        round(sum("n_tokens").over(wCum).cast("double") /
          sum("n_tokens").over(wAll), 6).as("cum_token_share"))
      .drop("band")
      .orderBy("min_ttr")
  }

  /** C5o char-class entropy gate — the gibberish/boilerplate detector that
    * catches what token-level quality signals (q30) miss: a doc that is one
    * long run of a single character class (raw digit dumps, base64 blobs
    * rendered as letters, whitespace bombs) scores ~0 nats of class entropy
    * no matter how many distinct "tokens" it splits into. Per-doc entropy
    * is the native single-pass
    * [[graft.functions.CharClassEntropy char_class_entropy]] expression
    * (the declarative form needs five regexp_replace passes per row — the
    * oracle pays that price so the engine doesn't); per-source stats flag
    * how much of each slice sits under the 0.5-nat floor.
    *
    * Hash-stability: per-doc entropy is rounded to 4dp BEFORE aggregation
    * (so min/max/threshold compare rounded values on both engines) and the
    * mean is an ORDERED fold over those rounded values. */
  def q113CharEntropy(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(length(col("text")) > 0) // empty text: no distribution (both
      // engines drop the row; the expression alone would yield null)
      .select(col("source"),
        round(expr("char_class_entropy(text)"), 4).as("ent"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(orderedSum("ent") / count(lit(1)), 4).as("mean_entropy"),
        min("ent").as("min_entropy"),
        max("ent").as("max_entropy"),
        sum(when(col("ent") < 0.5, 1L).otherwise(0L)).as("n_low_diversity"))
      .orderBy("source")

  /** C5n tokenizer-fertility audit per (lang, source) cell: tokens per 100
    * chars and bytes per token — the cost model that says how many training
    * tokens a byte of each corpus slice buys — plus each cell's relative
    * deviation from its language's pooled fertility. A cell drifting >20%
    * from its language is flagged: for a fixed tokenizer that usually means
    * markup/boilerplate contamination or mis-tagged language, found here
    * before it skews the token budget (q110) built on these counts.
    * Ratios are ratio-of-sums (exact BIGINT numerators/denominators, one
    * IEEE division each) rather than means of per-doc ratios, so they are
    * bit-stable with no ordered-fold needed.
    *
    * Shape: ONE corpus scan -> (lang, source) cells (tiny, checkpointed);
    * the language rollup re-aggregates the CELLS, not the corpus, and
    * joins back broadcast. */
  def q116TokenFertility(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d)
      .select(col("lang"), col("source"), col("n_chars"),
        expr("size(filter(split(text, ' '), x -> x <> ''))")
          .cast("long").as("n_toks"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("toks"),
        sum("n_chars").as("chars"), sum("n_bytes").as("bytes"))
      .localCheckpoint(true) // feeds the lang rollup AND the cell rows
    val byLang = cells.groupBy("lang")
      .agg(sum("toks").as("l_toks"), sum("chars").as("l_chars"))
    cells.join(broadcast(byLang), "lang")
      .withColumn("fert_raw",
        lit(100.0) * col("toks") / col("chars"))
      .withColumn("dev_raw",
        col("fert_raw") / (lit(100.0) * col("l_toks") / col("l_chars"))
          - lit(1.0))
      .select(col("lang"), col("source"), col("n_docs"),
        round(col("fert_raw"), 4).as("tokens_per_100_chars"),
        round(col("bytes").cast("double") / col("toks"), 4)
          .as("bytes_per_token"),
        round(col("dev_raw"), 4).as("dev_from_lang"),
        (abs(col("dev_raw")) > lit(0.2)).as("fertility_outlier"))
      .orderBy("lang", "source")
  }

  /** C5r exact tie-corrected Spearman rank correlation between doc length
    * (tokens) and quality (ttr) per source — the monotone-association
    * diagnostic behind "are we selecting for length when we filter on
    * quality?". Spearman is Pearson on AVERAGE ranks; fractional average
    * ranks are avoided by working with rank2 = 2*avg_rank, an integer.
    * For a value v with cnt ties and cum rows at-or-below it,
    * rank2 = rank_asc + n - rank_desc + 1 = 2*cum - cnt + 1 — a function
    * of the per-VALUE counts only. So the ranks are computed on the
    * (source, value) count tables, never on raw rows: one corpus scan
    * builds the (source, x, y) joint-count table (checkpointed — it feeds
    * both marginals and the scoring join); each marginal re-aggregates
    * THAT table and a cumulative-count window over the DISTINCT VALUES
    * assigns rank2. The per-source sort is therefore bounded by value
    * cardinality (y <= 10001 by construction — ttr scaled to 1e4; x <= max
    * doc token count), not by corpus rows — the window input no longer
    * grows with the corpus, which is what makes this plan survive 10^9
    * docs/source where a per-row rank window would serialize the source
    * into one task. The Pearson sufficient statistics are EXACT
    * decimal(38) sums weighted by the joint counts (HUGEINT on the oracle
    * side), so rho is bit-identical to the per-row formulation on any
    * partitioning — the q114 argument. Sources with no rank variance
    * (n=1, or all-tied) yield null rho.
    *
    * Join strategy: the y marginal is bounded by construction and
    * broadcast-hinted; the x marginal is bounded by max doc length but
    * not by a constant, so its join is left to AQE (broadcasts at test
    * scale, shuffles on (source, x) if a corpus ever has ~10^8 distinct
    * lengths — the [[q78SourceDrift]] convention). */
  def q122SpearmanQuality(s: SparkSession, d: String): DataFrame = {
    val pairs = documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(col("source"), size(col("t")).cast("long").as("x"),
        round(ttrFromTokens(col("t")) * lit(10000)).cast("long").as("y"))
      .groupBy("source", "x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds both marginals AND the scoring join
    // rank2 map over the distinct values of one variable: cumulative
    // per-source count in value order, on the marginal table (small).
    def rank2Map(v: String): DataFrame = {
      val w = Window.partitionBy("source").orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pairs.groupBy("source", v).agg(sum("c").as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
        .select(col("source"), col(v),
          (lit(2) * col("cum") - col("cnt") + lit(1)).as("r" + v))
    }
    pairs
      .join(broadcast(rank2Map("y")), Seq("source", "y"))
      .join(rank2Map("x"), Seq("source", "x"))
      .groupBy("source")
      .agg(sum("c").as("n_docs"),
        sum(expr("cast(c as decimal(38,0)) * rx")).as("sx"),
        sum(expr("cast(c as decimal(38,0)) * ry")).as("sy"),
        sum(expr("cast(c as decimal(38,0)) * rx * ry")).as("sxy"),
        sum(expr("cast(c as decimal(38,0)) * rx * rx")).as("sxx"),
        sum(expr("cast(c as decimal(38,0)) * ry * ry")).as("syy"))
      .withColumn("a", expr("cast(n_docs as decimal(38,0)) * sxy - sx * sy"))
      .withColumn("b", expr("cast(n_docs as decimal(38,0)) * sxx - sx * sx"))
      .withColumn("c", expr("cast(n_docs as decimal(38,0)) * syy - sy * sy"))
      .select(col("source"), col("n_docs"),
        round(expr(
          "CASE WHEN b = 0 OR c = 0 THEN NULL " +
            "ELSE cast(a as double) / " +
            "(sqrt(cast(b as double)) * sqrt(cast(c as double))) END"), 6)
          .as("rho"))
      .orderBy("source")
  }

  /** C5q char-bigram conditional entropy rate per source — the
    * model-free compression proxy: H(b|a) = -Σ p(ab) ln(p(ab)/p(a)) in
    * nats (and bits) per character. Natural text sits in a narrow band;
    * machine-generated spam, base64 blobs and template dumps fall far
    * below it, and near-random noise rises above — a third quality lens
    * beside token signals (q30) and class entropy (q113), sensitive to
    * WITHIN-class structure those miss. Counts ride the native
    * [[graft.functions.CharBigrams char_bigrams]] pass (one compiled
    * window loop per doc).
    *
    * Shape: one corpus scan -> (source, bigram) counts (vocabulary-sized,
    * checkpointed); the prefix marginal c_a and totals re-aggregate THAT
    * table and broadcast back; the entropy fold is ORDERED per source
    * ([[orderedSum]]) — same vocabulary-sized-buffer caveat as q78, swap
    * for plain sum + tolerance at a production vocabulary. */
  def q121CharEntropyRate(s: SparkSession, d: String): DataFrame = {
    val cab = documents(s, d)
      .select(col("source"), explode(expr("char_bigrams(text)")).as("bg"))
      .groupBy("source", "bg").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true) // feeds marginal, totals AND the term scan
    val ca = cab.withColumn("a", expr("substring(bg, 1, 1)"))
      .groupBy("source", "a").agg(sum("c_ab").as("c_a"))
    val tot = cab.groupBy("source")
      .agg(sum("c_ab").as("n_bg"), count(lit(1)).as("vocab"))
    val hsum = orderedSum("term")
    cab.withColumn("a", expr("substring(bg, 1, 1)"))
      .join(broadcast(ca), Seq("source", "a"))
      .join(broadcast(tot), "source")
      .withColumn("term", expr(
        "(cast(c_ab as double) / cast(n_bg as double)) * " +
          "ln(cast(c_ab as double) / cast(c_a as double))"))
      .groupBy("source")
      .agg(max("n_bg").as("n_bigrams"), max("vocab").as("vocab"),
        round((-hsum) + lit(0.0), 4).as("h_nats"),
        round(((-hsum) + lit(0.0)) / lit(Ln2), 4).as("h_bits"))
      .orderBy("source")
  }

  /** C5s template-family detector: docs sharing an identical 64-char HEAD
    * or TAIL window are one template family — the generated-from-template
    * and shared-footer duplication modes that whole-text dedup (q22)
    * misses when bodies differ and chunk dedup (q106) misses when the
    * repeat is shorter than a chunk. Short docs fingerprint their whole
    * text for the tail (an explicit CASE — engines disagree on
    * substring(s, -64) semantics when len < 64, so the edge never reaches
    * substring). One corpus scan emits both (kind, fp) keys per doc via
    * an in-row explode; one hash aggregate; only families (n >= 2)
    * survive, so output is bounded by the duplication actually present. */
  def q123TemplateFamilies(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(expr(
          s"array(struct('head' as kind, " +
            s"md5(substring(text, 1, $FpLen)) as fp)," +
            s" struct('tail' as kind, md5(CASE WHEN length(text) >= $FpLen " +
            s"THEN substring(text, -$FpLen) ELSE text END) as fp))"))
          .as("kf"))
      .select(col("kf.kind").as("kind"), col("kf.fp").as("fp"),
        col("doc_id"), col("source"))
      .groupBy("kind", "fp")
      .agg(count(lit(1)).as("n_docs"), countDistinct("source").as("n_sources"),
        min("doc_id").as("keep_id"))
      .filter(col("n_docs") >= 2)
      .orderBy("kind", "fp")

  /** C5m source-drift monitor: KL(source token distribution || corpus token
    * distribution) per source — the data-quality alarm that catches a
    * crawler shard going off-distribution before it trains. One corpus
    * tokenization builds (source, token) counts; that tiny aggregate
    * (sources x vocabulary) is checkpointed and re-derived three ways
    * (source totals, corpus totals, scoring join) — without the
    * checkpoint each branch would re-tokenize the corpus. Per-source KL
    * terms are summed by an ORDERED fold (see [[q76SourceMix]]) for
    * bit-stable floats; at a real vocabulary (millions of terms) swap the
    * sorted fold for plain `sum` + tolerance-based comparison — the fold
    * buffers one vocabulary-sized array per source. */
  def q78SourceDrift(s: SparkSession, d: String): DataFrame = {
    val bySrc = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("n_st"))
      .localCheckpoint(true)
    val srcTotals = bySrc.groupBy("source").agg(sum("n_st").as("n_s"))
    val tokTotals = bySrc.groupBy("tok").agg(sum("n_st").as("n_t"))
    val total = tokTotals.agg(sum("n_t").as("n"))
    bySrc
      .join(broadcast(srcTotals), "source")
      // tokTotals is VOCABULARY-sized (srcTotals is #sources — that one
      // stays hinted): leave the join strategy to AQE so it broadcasts at
      // test scale but shuffles on `tok` at a web-scale vocabulary
      .join(tokTotals, "tok")
      .crossJoin(broadcast(total))
      .withColumn("contrib",
        expr("(cast(n_st as double) / n_s) * " +
          "ln((cast(n_st as double) / n_s) / (cast(n_t as double) / n))"))
      .groupBy("source")
      .agg(max("n_s").as("n_tokens"),
        round(orderedSum("contrib"), 6).as("kl"))
      .orderBy("source")
  }

  /** C5n bigram language-model scoring: train an MLE bigram LM on the
    * corpus itself, then score every document's mean negative
    * log-likelihood — the perplexity-style quality filter (a doc whose
    * word transitions are unlike the corpus scores high and gets
    * reviewed/dropped). Scoring the training corpus means every observed
    * bigram has probability > 0 — no smoothing term to diverge on.
    *
    * Shape: ONE bigram explosion scan (checkpointed — it feeds the count
    * rollups AND the scoring join), two linear aggregations, then a
    * broadcast join of the (vocabulary^2-bounded) probability table back
    * onto the bigram stream. At a web-scale vocabulary the probability
    * table outgrows broadcast — the join key (w1, w2) is already the
    * shuffle key, so it degrades to a plain shuffled equi-join, still
    * linear. Per-doc NLL terms fold in SORTED order for bit-stable sums
    * (oracle-exactness tier; see [[q76SourceMix]]); the in-row bigram
    * construction is a higher-order lambda — interpreted, fine off the
    * hot path, and the [[graft.functions.WordShingles]] precedent is the
    * upgrade if it ever matters. */
  def q83BigramNll(s: SparkSession, d: String): DataFrame = {
    val bg = documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint(true)
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val c1 = c12.groupBy("w1").agg(sum("n12").as("n1"))
    // optimization r15 (guide §2.3): fold the model INTO the vocab-sized
    // relation first — c12 ⋈ c1 is a bigram-vocab-sized join producing
    // one per-bigram nll, so the CORPUS stream joins once on (w1, w2)
    // instead of twice ((w1, w2) then again re-shuffled on w1): one fewer
    // corpus-sized exchange at any scale. The per-(doc, bigram) nll
    // multiset is unchanged (same n12/n1 per bigram) and orderedSum is
    // order-independent, so results are byte-identical. No broadcast
    // hints: AQE broadcasts both at test scale; at web scale the joins
    // co-partition on (w1, w2)/(w1), the only plan that fits memory.
    val probs = c12.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"), (-log(col("n12") / col("n1"))).as("nll"))
    bg.join(probs, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(orderedSum("nll") / count(lit(1)), 6).as("mean_nll"))
      .orderBy("doc_id")
  }

  val ChunkSize = 32  // tokens per chunk
  val ChunkStride = 24 // chunk start spacing (8-token overlap)

  /** The chunk pipeline shared by q87 (chunk inventory) and q106 (chunk
    * dedup): ONE definition of stride/size/slicing so the two operators
    * cannot disagree on chunk boundaries. Pure per-row explode +
    * codegen'd collection ops (`sequence`/`slice`) — no shuffle, linear
    * in total token volume. Chunk count per doc is `1 +
    * floor((n-1)/stride)`, so every token lands in at least one chunk and
    * the final partial chunk is kept. Emits (doc_id, chunk_id, c). */
  private[ops] def chunked(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("k", explode(sequence(lit(0),
        floor((size(col("t")) - 1) / ChunkStride).cast("int"))))
      .select(col("doc_id"), col("k").cast("long").as("chunk_id"),
        slice(col("t"), col("k") * ChunkStride + 1, lit(ChunkSize)).as("c"))

  /** 60-bit md5-prefix fingerprint of a chunk's joined text — the shared
    * chunk identity for q87/q106 (and the same hash family as q22). */
  private def chunkFp =
    expr("cast(conv(substr(md5(array_join(c, ' ')), 1, 15), 16, 10) as bigint)")

  /** RAG / training-sequence chunking (q87): fixed-size overlapping token
    * windows with stable ids and the 60-bit fingerprint per chunk (the
    * retrieval-index key). All per-row work ([[chunked]] + [[chunkFp]]) —
    * no shuffle before the output sort at any corpus size. */
  def q87DocChunks(s: SparkSession, d: String): DataFrame =
    chunked(s, d)
      .select(col("doc_id"), col("chunk_id"),
        size(col("c")).cast("long").as("n_tok"), chunkFp.as("fp"))
      .orderBy("doc_id", "chunk_id")

  /** C2/C5 chunk-level boilerplate inventory: fingerprint every chunk and
    * report each fingerprint that appears in MORE THAN ONE document —
    * the corpus-wide repeated-passage list (licence headers, templated
    * intros, copy-pasted spans) that chunk-dedup for RAG/training removes.
    * Complements q98: that scores pairwise substring overlap between two
    * docs; this inventories WHAT text repeats corpus-wide and where it
    * first appeared. Output per fp: instance count, doc count, first doc.
    *
    * Scale shape: one narrow chunk pass (the shared q87 pipeline), then
    * Spark's TWO-PHASE distinct-count plan (countDistinct alongside
    * count/min): a first exchange keyed (fp, doc_id) that dedups pairs
    * with partial aggregation, then the (fp)-keyed exchange for the final
    * counts — the same shape q90's profiling documents. No chunk text
    * survives past the projection: both exchanges carry only the 60-bit
    * fingerprint plus a doc id, and per-key state is bounded. */
  def q106ChunkDedup(s: SparkSession, d: String): DataFrame =
    chunked(s, d)
      .select(chunkFp.as("fp"), col("doc_id"))
      .groupBy("fp").agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(desc("n_docs"), desc("n_occurrences"), col("fp"))

  val BpeTopK = 20

  /** One BPE-training round (q88): the top merge candidates = adjacent
    * character pairs weighted by word frequency. The corpus collapses to
    * its VOCABULARY first (one groupBy over exploded words — at web scale
    * the vocab is orders of magnitude smaller than the token stream), then
    * pairs explode per distinct word only. `substr` is code-point-based in
    * both engines, so the pair extraction is oracle-exact beyond ASCII.
    * Top-k via orderBy/limit (distributed TakeOrdered), rank attached on
    * the 20 survivors — no global window over the full pair set. */
  def q88BpeMerges(s: SparkSession, d: String): DataFrame = {
    val wc = documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val top = wc
      .withColumn("i", explode(sequence(lit(1), (length(col("w")) - 1).cast("int"))))
      .select(expr("substr(w, i, 2)").as("pair"), col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("weight"))
      .orderBy(desc("weight"), col("pair")).limit(BpeTopK)
    top.withColumn("rnk",
        row_number().over(Window.orderBy(desc("weight"), col("pair"))).cast("long"))
      .select(col("rnk"), col("pair"), col("weight"))
      .orderBy("rnk")
  }

  val PmiMinCount = 5 // drop pairs rarer than this before ranking
  val PmiTopK = 20

  /** PMI collocations (q89): top adjacent-word pairs by association lift
    * `P(ab) / (P(a)·P(b))`, reported as an EXACT integer
    * `lift_x100 = 100·n12·N² div (B·n1·n2)` — no `log`, whose libm
    * rounding differs across engines; the ranking is the same and every
    * number is bit-stable. Shapes: one bigram explosion scan → pair
    * counts; unigram counts from the same token stream; totals are
    * 1-row broadcast cross-joins; the n1/n2 lookups are vocab-sized
    * equi-joins (broadcast at test scale, plain shuffled joins at web
    * scale — the join key is already the shuffle key). Intermediate
    * `n12·N²·100` stays under 2^63 up to ~1e6 pair count at the test
    * corpus's N; at larger N switch the score to double (ranking-only). */
  def q89Collocations(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(split(col("text"), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val biAll = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val tot = uni.agg(sum("nw").as("n_tok"))
      .crossJoin(biAll.agg(sum("n12").as("n_big")))
    val scored = biAll.filter(col("n12") >= PmiMinCount)
      .join(uni.select(col("w").as("w1"), col("nw").as("n1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("nw").as("n2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("lift_x100",
        expr("n12 * n_tok * n_tok * 100 div (n_big * n1 * n2)"))
      .orderBy(desc("lift_x100"), col("w1"), col("w2")).limit(PmiTopK)
    scored.withColumn("rnk", row_number()
        .over(Window.orderBy(desc("lift_x100"), col("w1"), col("w2"))).cast("long"))
      .select(col("rnk"), col("w1"), col("w2"), col("n12"), col("lift_x100"))
      .orderBy("rnk")
  }

  val PackBudget = 512 // tokens per packed training sequence
  val PackBlockDocs = 128L // doc_id span per prefix-sum block — small enough
  // that the sf0.01 oracle corpus (doc_ids 0..499) spans multiple blocks,
  // so block STITCHING is inside the correctness gate; production tuning
  // raises it (the result is invariant to the split, tested both ways)

  /** Sequence packing (q91): assign documents to fixed-token-budget
    * training bins by cumulative token offset — `bin = start_offset div
    * budget`. Packing is inherently a running sum per shard (language,
    * the natural training-mix shard) — but `lang` is a ≤ ~100-value key,
    * so a naive `Window.partitionBy(lang)` serializes corpus/|langs| rows
    * into one task (the r6 low-cardinality-window audit). The running sum
    * is therefore TWO-PHASE, the classic distributed prefix sum:
    *   1. local prefix within (lang, doc_id-block of [[PackBlockDocs]]) —
    *      partition count scales WITH the corpus;
    *   2. block offsets = prefix over the per-(lang, block) TOTALS,
    *      derived from a SECOND column-pruned scan that map-side-combines
    *      straight down to corpus/[[PackBlockDocs]] rows (no corpus-sized
    *      shuffle — the two-narrow-scans-beat-a-shared-exchange trade
    *      q31 A/B-measured), then a window over that block marginal
    *      (recurse the same split if it ever saturates), broadcast-joined
    *      back on (lang, block).
    * `cum = local + block offset` is exact integer arithmetic — identical
    * bins to the single-window form at any split. A doc whose tokens
    * straddle a bin boundary belongs to the bin its first token lands in
    * (loaders handle the wrap). */
  def q91SeqPacking(s: SparkSession, d: String): DataFrame = {
    val wLocal = Window.partitionBy("lang", "block").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBlocks = Window.partitionBy("lang").orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr(s"doc_id div $PackBlockDocs").as("block"))
    val local = base.withColumn("lcum", sum("n_tok").over(wLocal))
    val offsets = base.groupBy("lang", "block")
      .agg(sum("n_tok").as("btot"))
      .withColumn("boff", coalesce(sum("btot").over(wBlocks), lit(0L)))
      .select("lang", "block", "boff")
    local.join(offsets, Seq("lang", "block"))
      .withColumn("cum", col("lcum") + col("boff"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        expr(s"(cum - n_tok) div $PackBudget").as("bin"),
        expr(s"(cum - n_tok) % $PackBudget").as("bin_offset"))
      .orderBy("lang", "doc_id")
  }

  /** Misra–Gries summary capacity. With per-partition capacity `c`, any
    * token whose GLOBAL count exceeds N/c survives in at least one
    * partition's summary (if sum-over-partitions count > N/c = sum(n_p)/c,
    * some partition has count_p > n_p/c, which MG guarantees to keep), so
    * the candidate set is a superset of every token with `n * c > N` and
    * the exact recount makes the final answer exact — not approximate. */
  val HhCapacity = 400

  /** C5 heavy hitters under bounded memory: per-partition Misra–Gries
    * candidate generation (one narrow pass, no shuffle, ≤ [[HhCapacity]]
    * live counters per task, which ALSO emits its partition's token count
    * so the global N needs no extra scan), then an exact recount restricted
    * to the candidate set. Emits every token with `n * HhCapacity > N`
    * exactly.
    *
    * Scale shape — genuinely TWO corpus passes: a plain `groupBy(token)`
    * at 100 TB shuffles the whole token stream keyed by a
    * possibly-billion-term vocabulary; here pass 1 reduces the stream to
    * ≤ capacity×partitions candidate tokens plus one count row per
    * partition (the bounded summary is locally checkpointed so candidates
    * and N read it without recomputing the pass), and pass 2's shuffle
    * carries only candidate-token rows (map-side partial agg collapses
    * them before the exchange). The candidate set is broadcast, never
    * collected through the driver plan. */
  def q99HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    // bounded: ≤ (HhCapacity + 1) rows per partition
    val summary = toks.as[String]
      .mapPartitions(mgSummaryAndCount(_, HhCapacity))
      .toDF("token", "cnt")
      .localCheckpoint(true)
    val candidates = summary.filter(col("token") =!= "")
      .select("token").distinct()
    val total = summary.filter(col("token") === "")
      .agg(sum("cnt").as("n_tok"))
    toks.join(broadcast(candidates), "token")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * HhCapacity > col("n_tok"))
      .select(col("token"), col("n"))
      .orderBy(desc("n"), col("token"))
  }

  /** One Misra–Gries pass over a partition: at most `cap` live counters; a
    * new item arriving at a full summary decrements every counter by one
    * and evicts zeros (the classic frequent-items sketch, Misra & Gries
    * 1982). Emits the surviving keys as `(token, 0)` rows plus one
    * `("", n_partition_tokens)` sentinel — the empty token cannot collide
    * because the caller filters empty tokens out upstream. MG counts are
    * NOT emitted (they undercount); the exact recount in
    * [[q99HeavyHitters]] supplies the real values. */
  private[ops] def mgSummaryAndCount(it: Iterator[String],
                                     cap: Int): Iterator[(String, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    var seen = 0L
    it.foreach { t =>
      seen += 1
      counts.get(t) match {
        case Some(n)                   => counts.update(t, n + 1)
        case None if counts.size < cap => counts.update(t, 1L)
        case None =>
          counts.mapValuesInPlace((_, v) => v - 1)
          counts.filterInPlace((_, v) => v > 0)
      }
    }
    Iterator(("", seen)) ++ counts.keysIterator.map((_, 0L))
  }

  val CmsDepth = 4    // Count-Min rows (independent hash functions)
  val CmsWidth = 256  // buckets per row
  val CmsTrackK = 20  // head tokens the accuracy report prices

  /** Count-Min-Sketch accuracy report (q175, Cormode & Muthukrishnan
    * 2005): build the [[CmsDepth]]×[[CmsWidth]] counter array over the
    * corpus token stream, then price it — for each of the [[CmsTrackK]]
    * head tokens, the sketch estimate (min over rows of the token's
    * bucket counter) beside the exact count and the guaranteed-positive
    * overcount. The third sketch family beside HLL (distinct) and
    * Misra-Gries (membership): CMS answers point FREQUENCY queries in
    * depth·width integers, and unlike MG its counters are pure SUMS — two
    * shards' sketches merge by addition, the property a 100 TB / streaming
    * frequency monitor actually needs (q99's MG summaries need the exact
    * recount pass instead). The report is the runnable width-sizing tool:
    * overcount ≈ corpus/width collisions, so a rising overcount on head
    * tokens says the width dial is too small for the vocabulary.
    *
    * Exactness: bucket hashes are md5-derived 28-bit integers both
    * engines compute byte-identically; counters and estimates are integer
    * sums/mins — no float anywhere.
    *
    * Scale shape: counters aggregate the (token, n) vocabulary MARGINAL
    * (one token exchange, shared with the exact side the audit needs
    * anyway) into ≤ depth·width rows; the production ingest path is the
    * same expression as a streaming map-side partial aggregation. The
    * tracked head is a bounded top-k; estimate joins are K·depth rows
    * against the broadcast counter table. */
  def q175CmsAccuracy(s: SparkSession, d: String): DataFrame = {
    def bucket(i: Int): org.apache.spark.sql.Column = expr(
      s"cast(conv(substring(md5(concat('$i:', token)), 1, 7), 16, 10) " +
        s"as bigint) % $CmsWidth")
    val counts = documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // vocabulary marginal: counters + tracked head
    val counters = (0 until CmsDepth).map { i =>
        counts.select(lit(i.toLong).as("r"), bucket(i).as("b"), col("n"))
      }.reduce(_ unionAll _)
      .groupBy("r", "b").agg(sum("n").as("c"))
    val tracked = counts.orderBy(desc("n"), col("token")).limit(CmsTrackK)
    (0 until CmsDepth).map { i =>
        tracked.select(col("token"), col("n"),
          lit(i.toLong).as("r"), bucket(i).as("b"))
      }.reduce(_ unionAll _)
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy("token").agg(max("n").as("exact_n"), min("c").as("cms_n"))
      .select(col("token"), col("exact_n"), col("cms_n"),
        (col("cms_n") - col("exact_n")).as("overcount"))
      .orderBy(desc("exact_n"), col("token"))
  }

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20
  /** Fixed retrieval query for the registered q100 run. */
  val Bm25Terms: Seq[String] = Seq("spark", "vector", "query")

  /** C5 BM25 retrieval: Robertson/Okapi scoring of every document against a
    * fixed term set, top-[[Bm25TopK]] by score. Complements q72's TF-IDF
    * (corpus feature extraction) with the query-time ranking function.
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene flavor, always ≥ 0).
    *
    * Scale shape: the token stream is filtered to query terms BEFORE the
    * (doc, term) aggregation, so the shuffle carries only matching
    * postings; the narrow (doc_id, dl) projection is checkpointed once
    * (16 B/doc) and feeds both the corpus stats and the scoring join, so
    * the corpus tokenizes exactly twice (dl pass + postings pass);
    * df/N/avgdl are tiny aggregates broadcast to the scoring join. The
    * per-doc score folds the per-term weights in SORTED order (the
    * q78/q83 bit-stability convention — a 2-3 element double sum is
    * order-dependent in the last ulp) and ranking sorts on the
    * 4-dp-rounded score with doc_id tiebreak, so the top-k frontier is
    * stable across engines and runs. */
  def q100Bm25(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val dls = toks
      .select(col("doc_id"),
        size(filter(col("t"), x => x =!= "")).cast("long").as("dl"))
      .localCheckpoint(true)
    val stats = dls.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = toks
      .select(col("doc_id"), explode(col("t")).as("term"))
      .filter(col("term").isInCollection(Bm25Terms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = tf
      .join(broadcast(dfreq), "term")
      .join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
          .as("w"))
    val scored = w.groupBy("doc_id")
      .agg(round(orderedSum("w"), 4).as("bm25"))
    // Top-k first (distributed TakeOrdered — no global sort materializes),
    // THEN rank: the no-partition window only ever sees the K-row result.
    scored.orderBy(desc("bm25"), col("doc_id")).limit(Bm25TopK)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(desc("bm25"), col("doc_id"))).cast("long"))
      .select(col("rnk"), col("doc_id"), col("bm25"))
      .orderBy("rnk")
  }

  val RetrNumQueries = 5 // query docs: doc_id < 5
  val RetrQueryTerms = 6 // first N distinct tokens of the query doc
  val RetrTopK = 3       // results per query
  val RetrSalts = 64     // salt slices for the per-query top-k

  /** ONE oracle-side statement of the retrieval chain (tokenize → query
    * terms → tf/df → BM25 weights → per-query ranked lists), shared by
    * the q131 and q198 oracles — the shared-CTE-fragment discipline: the
    * ranking rule exists once on the oracle side too, so the eval oracle
    * can never drift from the retrieval oracle it grades. `docsSrc`
    * swaps the corpus for the q198 fixture union; `extraQf` appends the
    * q198 eval queries to the derived ones. */
  private def retrievalCtes(docsSrc: String = "documents",
      extraQf: String = ""): String = s"""
      d AS (SELECT doc_id, string_split(text, ' ') AS t,
                   len(list_filter(string_split(text, ' '),
                                   x -> x <> ''))::BIGINT AS dl
            FROM $docsSrc),
      stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM d),
      qf AS (SELECT q_id, term FROM (
               SELECT doc_id AS q_id,
                      unnest(list_distinct(t[1:$RetrQueryTerms])) AS term
               FROM d WHERE doc_id < $RetrNumQueries) u
             WHERE term <> ''$extraQf),
      tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
               SELECT doc_id, unnest(t) AS term FROM d) u
             WHERE term IN (SELECT DISTINCT term FROM qf)
             GROUP BY doc_id, term),
      dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
      w AS (SELECT tf.doc_id, tf.term,
                   ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                     * (tf.tf * ${Bm25K1 + 1}) /
                     (tf.tf + $Bm25K1 *
                       (1.0 - $Bm25B + $Bm25B * d2.dl / s.avgdl)) AS w
            FROM tf JOIN dfreq f USING (term) JOIN d d2 USING (doc_id)
            CROSS JOIN stats s),
      sc AS (SELECT qf.q_id, w.doc_id,
                    round(list_sum(list_sort(list(w.w))), 4) AS score
             FROM w JOIN qf USING (term) WHERE w.doc_id <> qf.q_id
             GROUP BY 1, 2),
      r AS (SELECT q_id, doc_id, score,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY score DESC, doc_id) AS rnk
            FROM sc)"""

  /** C5 BM25 retrieval (q131): top-k documents PER QUERY — the query-time
    * face of the q100 scoring machinery (q100 ranks the corpus for one
    * fixed term set; retrieval serves many queries at once, the RAG/
    * contrastive-mining shape). Queries are deterministic and
    * oracle-reproducible: the [[RetrNumQueries]] lowest doc_ids, each
    * querying its first [[RetrQueryTerms]] distinct tokens;
    * self-retrieval is excluded.
    *
    * Scale shape: the query TERM SET is bounded by construction
    * ([[RetrNumQueries]] × [[RetrQueryTerms]] ≤ 30 strings — driver-side
    * control plane, the hyperplane-literal class), so it rides the plan
    * as an in-row membership literal and the corpus is tokenized ONCE:
    * a single scan emits each doc's length and its query-term hits, and
    * everything downstream (stats, tf, df, per-query scores) derives from
    * that narrow checkpointed frame — no second tokenize, no corpus-sized
    * broadcast. The per-query top-k is the q10 salted two-phase split
    * (q_id is a [[RetrNumQueries]]-value key — the low-cardinality-window
    * rule), so no corpus-sized rank partition exists anywhere. At web
    * scale (thousands of queries, term set no longer literal-sized) swap
    * candidate generation to the df-capped posting lists of q104; scoring
    * and ranking are unchanged. */
  def q131Bm25Retrieval(s: SparkSession, d: String): DataFrame =
    retrRanked(s, d).orderBy("q_id", "rnk")

  /** The bounded retrieval control plane: the [[RetrNumQueries]] lowest
    * doc_ids, each querying its first [[RetrQueryTerms]] distinct
    * non-empty tokens. A query whose term list comes out empty is dropped
    * on BOTH engines (the oracle's qf/qsz CTEs never emit it), so the
    * q198 evaluation grid matches the oracle's grid exactly. */
  private def retrQueries(s: SparkSession, d: String)
      : Seq[(Long, Seq[String])] =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(col("doc_id") < RetrNumQueries)
      .select(col("doc_id"),
        array_distinct(slice(col("t"), 1, RetrQueryTerms)).as("qt"))
      .collect().toSeq // <= RetrNumQueries rows — bounded control plane
      .map(r => r.getLong(0) -> r.getSeq[String](1).filter(_.nonEmpty))
      .filter(_._2.nonEmpty)

  /** The ONE tokenize of a retrieval corpus — per doc its token length
    * and its query-term hits — the shared core both the q131 face (corpus
    * docs, derived queries) and the q198 eval face (corpus ∪ eval
    * fixture) instantiate; callers memoize the checkpointed result. */
  private def retrBaseOf(docs: DataFrame, qterms: Seq[String]): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        size(filter(col("t"), x => x =!= "")).cast("long").as("dl"),
        filter(col("t"), x => x.isin(qterms: _*)).as("hits"))
      .localCheckpoint(true)

  /** The ONE BM25 ranking chain over a tokenized base — (q_id, rnk,
    * doc_id, score), rnk <= [[RetrTopK]]; <= queries x RetrTopK rows, so
    * the caller's checkpoint is a handful of blocks while the derivation
    * is the full tf/df/weight chain. */
  private def retrRankedOf(s: SparkSession, base: DataFrame,
      queries: Seq[(Long, Seq[String])],
      checkpoint: Boolean = true): DataFrame = {
    val stats = base.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
          .as("w"))
    val qdf = s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.map(t => (q, t)) })
      .toDF("q_id", "term")
    val scored = w.join(broadcast(qdf), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id").agg(round(orderedSum("w"), 4).as("score"))
    val order = Seq(desc("score"), col("doc_id"))
    val wLocal = Window.partitionBy("q_id", "salt").orderBy(order: _*)
    val wQ = Window.partitionBy("q_id").orderBy(order: _*)
    val ranked = scored
      .withColumn("salt", pmod(col("doc_id"), lit(RetrSalts)))
      .withColumn("r0", row_number().over(wLocal))
      .filter(col("r0") <= RetrTopK)
      .withColumn("rnk", row_number().over(wQ).cast("long"))
      .filter(col("rnk") <= RetrTopK)
      .select(col("q_id"), col("rnk"), col("doc_id"), col("score"))
    if (checkpoint) ranked.localCheckpoint(true) else ranked
  }

  /** q131's ranked lists, memoized per corpus slot: docs, derived queries. */
  private def retrRanked(s: SparkSession, d: String): DataFrame =
    SessionCache.getOrElseUpdate(s, d, "retr_rank") {
      val queries = retrQueries(s, d)
      val base = SessionCache.getOrElseUpdate(s, d, "retr_base") {
        retrBaseOf(documents(s, d), queries.flatMap(_._2).distinct)
      }
      retrRankedOf(s, base, queries)
    }

  /** The un-checkpointed ranking lineage — the plan-shape inspection
    * hook (the memoized runtime path severs it at the checkpoint, so a
    * spec asserting the salted-window structure reads this instead). */
  private[ops] def retrRankedPlan(s: SparkSession, d: String): DataFrame = {
    val queries = retrQueries(s, d)
    retrRankedOf(s,
      retrBaseOf(documents(s, d), queries.flatMap(_._2).distinct),
      queries, checkpoint = false)
  }

  /** Tokens of the pad tail every eval-fixture doc carries: [[
    * RetrEvalPadLen]] copies of a non-query token, so all fixture docs
    * have near-equal length far above any real avgdl — which pins the
    * BM25 length-normalization term high enough that the engineered
    * tf-saturation ordering below holds at EVERY corpus scale (the
    * irrelevant-above-relevant case needs c = k1*(1-b+b*dl/avgdl) > 1.18
    * for tf=13 vs two tf=1 terms; dl/avgdl >= 2 gives c >= 2.1). */
  private[ops] val RetrEvalPadLen = 2000

  /** Eval-only fixture docs (ids 9400001+, the mod-1e6 residue
    * convention — see [[graft.ops.Multimodal.PhashFixture]]): unique
    * `qzx*` vocabulary no corpus doc contains (spec-asserted), so the
    * fixture couples to the corpus ONLY through n_docs/avgdl, which both
    * engines compute identically. Engineered structure per eval query
    * below: a high-tf doc MISSING one query term that outranks the
    * relevant doc (the retrieval-miss case the corpus cannot produce), a
    * term-disjoint pair (zero-relevant query), and a single perfect hit. */
  private[ops] val RetrEvalDocs: Seq[(Long, String)] = Seq(
    9400001L -> ("qzxalpha " * 13).trim, // tf=13 of alpha, NO beta
    9400002L -> "qzxalpha qzxbeta",      // the one relevant doc for qe1
    9400003L -> "qzxbeta",               // beta only — also irrelevant
    9400004L -> "qzxgamma",              // qe2: gamma and delta never
    9400005L -> "qzxdelta",              //      co-occur -> n_rel = 0
    9400006L -> "qzxepsilon qzxepsilon qzxepsilon") // qe3: perfect hit

  /** Eval-only fixture queries (q_ids 9400101+): explicit term lists —
    * the qrels-style eval set a deployment would supply — exercising
    * first_rel_rank=2 (alpha+beta), n_rel=0 (gamma+delta), and
    * first_rel_rank=1 (epsilon). */
  private[ops] val RetrEvalQueries: Seq[(Long, Seq[String])] = Seq(
    9400101L -> Seq("qzxalpha", "qzxbeta"),
    9400102L -> Seq("qzxgamma", "qzxdelta"),
    9400103L -> Seq("qzxepsilon"))

  /** The ONE definition of the eval fixture on the oracle side too: both
    * VALUES lists interpolate from the Scala Seqs (the fixtureValuesSql
    * discipline), the pad tail built by the same repeat-and-trim rule the
    * engine applies, so the two engines' corpora can never desync. */
  private def retrEvalDocsSql: String =
    RetrEvalDocs.map { case (id, u) =>
      s"($id, '$u' || ' ' || trim(repeat('pad ', $RetrEvalPadLen)))"
    }.mkString(", ")

  private def retrEvalQfSql: String =
    RetrEvalQueries.flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")

  /** C5 retrieval evaluation (q198): the quality report FOR the q131
    * retrieval tier — per query, how the BM25 top-[[RetrTopK]] list
    * scores against an EXACT relevance truth, the eval harness any
    * RAG/contrastive-mining deployment runs before trusting its
    * retriever. Runs over the corpus ∪ [[RetrEvalDocs]] with the derived
    * queries ∪ [[RetrEvalQueries]] — the q151 presence/absence
    * discipline: the corpus exercises the saturated regime (its shared
    * vocabulary makes the top-k all-relevant for every derived query, so
    * they pin the ceiling), while the crafted fixture produces the
    * retrieval MISS (an irrelevant high-tf doc at rank 1 above the one
    * relevant doc), the zero-relevant query, and the perfect hit — the
    * cases a working eval must score below the ceiling.
    *
    * The truth is exact term containment: a doc is relevant to a query
    * iff it contains EVERY query term and is not the query doc itself —
    * integer-exact and oracle-recomputable from scratch, unlike a graded
    * judgment. Metrics per query, all exact integers: corpus-wide
    * relevant count, relevant found in the top-k, the first relevant
    * rank (null when the top-k misses entirely), MRR in ppm (1e6 div
    * first_rel_rank), precision@k and recall@k in floor ppm. Queries
    * appear in the grid even when nothing is relevant or nothing
    * retrieved (the sweep grid-completeness rule).
    *
    * Scale shape: ONE tokenize of corpus ∪ fixture (memoized with the
    * ranked lists, the dup-label memo discipline); the truth join is the
    * tokenized hits x a broadcast <= 35-term literal grid grouped on
    * (q_id, doc_id), candidate volume bounded exactly as q131's; every
    * downstream frame rolls to one row per query. At web scale the truth
    * side swaps to labeled qrels; the metric math is unchanged. */
  def q198RetrievalEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val queries = retrQueries(s, d) ++ RetrEvalQueries
    val fixture = RetrEvalDocs
      .map { case (id, u) => (id, u + " " + ("pad " * RetrEvalPadLen).trim) }
      .toDF("doc_id", "text")
    val base = SessionCache.getOrElseUpdate(s, d, "retr_eval_base") {
      retrBaseOf(
        documents(s, d).select(col("doc_id"), col("text")).unionAll(fixture),
        queries.flatMap(_._2).distinct)
    }
    val ranked = SessionCache.getOrElseUpdate(s, d, "retr_eval_rank") {
      retrRankedOf(s, base, queries)
    }
    val qgrid = s.createDataFrame(
        queries.map { case (q, ts) => (q, ts.size.toLong) })
      .toDF("q_id", "qsize")
    val qdf = s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.map(t => (q, t)) })
      .toDF("q_id", "term")
    // distinct (doc, query-term) hits from the shared scan — never a
    // second tokenize
    val docTerm = base
      .select(col("doc_id"), explode(col("hits")).as("term")).distinct()
    val rel = docTerm.join(broadcast(qdf), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id").agg(count(lit(1)).as("nmatch"))
      .join(broadcast(qgrid), "q_id")
      .filter(col("nmatch") === col("qsize"))
      .select("q_id", "doc_id")
      .localCheckpoint(true) // two consumers below share one derivation
    val nrel = rel.groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val topRel = ranked.join(rel, Seq("q_id", "doc_id"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_rel_topk"),
        min("rnk").as("first_rel_rank"))
    qgrid.select("q_id")
      .join(nrel, Seq("q_id"), "left")
      .join(topRel, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("n_rel_topk"), lit(0L)).as("n_rel_topk"),
        col("first_rel_rank"))
      .withColumn("mrr_ppm",
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)))
      .withColumn("precision_ppm",
        expr(s"n_rel_topk * 1000000 div $RetrTopK"))
      .withColumn("recall_ppm",
        expr("if(n_rel > 0, n_rel_topk * 1000000 div n_rel, 0L)"))
      .orderBy("q_id")
  }

  /** C5 packed-sequence export (q134): the materialization face of q91's
    * bin assignment — one row per (lang, bin) training shard with its doc
    * count, token total, and a fingerprint of the concatenated sequence
    * (docs joined by newline in doc_id order — the bytes a loader would
    * stream), so a writer can verify shard integrity without shipping
    * shard text through the result set. Shape: q91's two-phase prefix sum
    * (no low-card window), one doc_id equi-join to pick up text, one
    * (lang, bin) aggregate whose per-group payload is bounded by the
    * [[PackBudget]]-token bin size. */
  def q134PackedSequences(s: SparkSession, d: String): DataFrame =
    q91SeqPacking(s, d)
      .join(documents(s, d).select(col("doc_id"), col("text")), "doc_id")
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        md5(to_binary(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n"), lit("utf-8"))).as("seq_fp"))
      .orderBy("lang", "bin")

  val VocabSize = 500 // top terms by corpus frequency

  /** C5 tokenizer vocab coverage (q135): per source, the out-of-vocabulary
    * token rate against the corpus's own top-[[VocabSize]] frequency vocab
    * — the coverage audit run before pinning a tokenizer (a source with
    * high OOV under the shared vocab gets fragmented into bytes at
    * training time). Exact integer ppm. Shape: one token explode feeding
    * BOTH the vocab top-V (TakeOrdered, V rows to the driver plan — the
    * hyperplane-literal class) and the per-source rollup; membership is a
    * broadcast left join against the V-row vocab. */
  def q135VocabCoverage(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val vocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("term")).limit(VocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("term"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
      .orderBy("source")
  }

  val QualityTrendBands = 10 // doc_id bands for the q189 quality trend

  /** Corpus-quality trend (q189): gate-pass rate and floor-mean TTR per
    * doc_id arrival band — the crawl-quality-regression alarm completing
    * the trend triptych: q168 watches duplication over time, q188 the
    * embedding geometry, this the TEXT quality signals. A crawler that
    * starts swallowing boilerplate or truncated pages shows as the newest
    * bands' pass rate and TTR sagging long before corpus-level totals
    * move. Shares THE per-doc definitions ([[gateDecisions]]' rules, the
    * q30/q94/q164 ttr-x10000 convention), so the trend can never disagree
    * with the gates it summarizes.
    *
    * Scale shape: one corpus pass (banding is an in-row projection off a
    * broadcast 1-row max), a [[QualityTrendBands]]-row rollup. */
  def q189QualityTrend(s: SparkSession, d: String): DataFrame = {
    val mx = documents(s, d).agg((max("doc_id") + 1).as("m"))
    gateDecisions(s, d)
      .select(col("doc_id"), col("gate_pass"),
        round(ttrFromTokens(col("t")) * lit(10000)).cast("long").as("ttr4"))
      .crossJoin(broadcast(mx))
      .withColumn("band", expr(s"(doc_id * $QualityTrendBands) div m"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("gate_pass").cast("long")).as("n_gate_pass"),
        expr("sum(ttr4) div count(1)").as("mean_ttr_x10000"))
      .withColumn("gate_ppm", expr("n_gate_pass * 1000000 div n_docs"))
      .select("band", "n_docs", "n_gate_pass", "gate_ppm", "mean_ttr_x10000")
      .orderBy("band")
  }

  /** Fixed panel size per stratum for the q185 balanced sampler. */
  val PanelKPerSource = 20

  /** Balanced evaluation panel (q185): EXACTLY [[PanelKPerSource]] docs
    * per source (or all of a smaller source), chosen by md5-hash rank —
    * the eval-set builder. q57's stratified sampler keeps proportional
    * shares (big sources dominate the panel); an eval panel wants equal
    * per-stratum counts so per-source metrics carry equal evidence. Hash
    * rank makes the panel deterministic, oracle-reproducible AND stable
    * under growth: an inserted doc displaces at most one panel member
    * (expected churn k/n per insert), where a random re-sample would
    * reshuffle everything — the property that keeps longitudinal eval
    * comparisons honest.
    *
    * Scale shape: the per-source rank is the q10 salted two-phase top-k —
    * each (source, salt) slice keeps its local top-k, so the global
    * per-source window sees ≤ salts·k rows, never a corpus-sized
    * single partition on the low-cardinality source key. */
  def q185BalancedSample(s: SparkSession, d: String): DataFrame = {
    val order = Seq(col("h"), col("doc_id"))
    val wLocal = Window.partitionBy("source", "salt").orderBy(order: _*)
    val w = Window.partitionBy("source").orderBy(order: _*)
    documents(s, d).select(col("doc_id"), col("source"), col("lang"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) " +
          "as bigint)"))
      .withColumn("salt", pmod(col("doc_id"), lit(Relational.TopKSalts)))
      .withColumn("r0", row_number().over(wLocal))
      .filter(col("r0") <= PanelKPerSource)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= PanelKPerSource)
      .select("source", "doc_id", "lang", "rnk")
      .orderBy("source", "rnk")
  }

  /** Source×language independence audit (q183): the contingency matrix
    * of doc counts with, per cell, the observed corpus share beside the
    * share the MARGINALS would predict under independence (n_src·n_lang /
    * n²) and the signed delta, all in exact ppm. A balanced crawl has
    * deltas near zero; a source that over-contributes one language skews
    * every language-conditioned statistic downstream (langid priors,
    * per-lang quality baselines, the q57/q80 strata), and this is the
    * audit that localizes WHICH (source, lang) cells carry the skew —
    * q76 prices source volume and q107 split balance; neither crosses
    * source WITH language.
    *
    * Exactness: observed_ppm = n·1e6 div total; expected_ppm =
    * n_src·n_lang·1e6 div total² in decimal(38)/HUGEINT (the q179
    * convention — the numerator crosses int64 at petabyte doc counts);
    * delta is a difference of the two floored ppms, never a division of
    * signed values.
    *
    * Scale shape: ONE (source, lang) exchange builds the contingency
    * marginal; both 1-D marginals are rollups of it (localCheckpoint'ed,
    * never a second corpus scan) and join back broadcast — cells are
    * |sources|·|langs|. */
  def q183SourceLangMatrix(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d)
      .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // contingency marginal: 3 consumers below
    val bySrc = cells.groupBy("source").agg(sum("n").as("n_src"))
    val byLang = cells.groupBy("lang").agg(sum("n").as("n_lang"))
    val total = cells.agg(sum("n").as("n_total"))
    cells.join(broadcast(bySrc), "source")
      .join(broadcast(byLang), "lang")
      .crossJoin(broadcast(total))
      .withColumn("observed_ppm", expr("n * 1000000 div n_total"))
      .withColumn("expected_ppm", expr(
        "cast((cast(n_src as decimal(38, 0)) * n_lang * 1000000) div " +
          "(cast(n_total as decimal(38, 0)) * n_total) as bigint)"))
      .select(col("source"), col("lang"), col("n"), col("n_src"),
        col("n_lang"), col("observed_ppm"), col("expected_ppm"),
        (col("observed_ppm") - col("expected_ppm")).as("delta_ppm"))
      .orderBy("source", "lang")
  }

  /** Vocabulary sizes the q177 coverage sweep prices. */
  val VocabSweepGrid: Seq[Long] = Seq(64L, 256L, 1024L, 4096L)

  /** Vocabulary-size coverage sweep (q177): for each candidate vocab size
    * V, what share of all token OCCURRENCES the top-V types cover — the
    * tokenizer-sizing curve (Heaps' law read backwards): q135 prices ONE
    * fixed vocab's OOV per source, this sweeps the size dial and shows
    * where coverage flattens, which is where a bigger vocabulary stops
    * buying anything. Emits covered types/occurrences, the corpus total
    * and exact-ppm coverage per grid point.
    *
    * Exactness + scale in one trick: top-V-by-frequency coverage does not
    * need the ranked vocabulary — on the COUNT-OF-COUNTS marginal (the
    * q103 Zipf relation, ≤ O(√total) distinct frequencies however large
    * the vocabulary), covered(V) = Σ_c c · clamp(V − types_before(c), 0,
    * n_types(c)) with types_before a prefix sum in frequency-descending
    * order. Boundary ties all share frequency c, so coverage is
    * tie-break-independent — exact integers with no term-level ordering.
    * The only window runs over the count-of-counts rows, never the
    * vocabulary, and the grid join is a 4-row broadcast. */
  def q177VocabSweep(s: SparkSession, d: String): DataFrame = {
    val cc = documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .groupBy(col("n").as("c"))
      .agg(count(lit(1)).as("n_types"))
      .withColumn("occ", col("c") * col("n_types"))
      .localCheckpoint(true) // count-of-counts marginal: prefix sum + totals
    val wPrev = Window.orderBy(desc("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cc.withColumn("types_before",
      coalesce(sum("n_types").over(wPrev), lit(0L)))
    val grid = s.createDataFrame(VocabSweepGrid.map(Tuple1(_))).toDF("v")
    val tot = cc.agg(sum("occ").as("total_occ"))
    cum.crossJoin(broadcast(grid))
      .select(col("v"),
        expr("greatest(0L, least(n_types, v - types_before))").as("t_in"),
        col("c"))
      .groupBy("v")
      .agg(sum("t_in").as("n_covered_types"),
        sum(col("c") * col("t_in")).as("covered_occ"))
      .crossJoin(broadcast(tot))
      .withColumn("coverage_ppm",
        expr("covered_occ * 1000000 div total_occ"))
      .select("v", "n_covered_types", "covered_occ", "total_occ",
        "coverage_ppm")
      .orderBy("v")
  }

  /** Fixed logistic-regression weights for the q102 quality classifier — a
    * deterministic stand-in for a trained quality model (the
    * fasttext/LR-classifier filtering stage of GPT-3/LLaMA-style corpus
    * curation; this container has no training libs, so the coefficients
    * are pinned). Features: ttr, stop_ratio (both the 4-dp q30
    * definitions), ln(n_tokens). Chosen so the sf corpus splits ~44%/56%
    * with ≥1.7e-3 margin from the 0.5 boundary — far above any
    * engine-ulp divergence. */
  val QcBias = -8.0
  val QcWTtr = 10.0
  val QcWStop = 6.0
  val QcWLogTok = 0.7

  /** C5 classifier-based quality filtering: logistic score over the q30
    * feature set, keep = score ≥ 0.5. Complements the RULE-based Gopher
    * gate (q74) with the MODEL-based filter real pipelines run beside it.
    *
    * Scale shape: one narrow scan — features, dot product, and sigmoid are
    * a single codegen'd projection per document (weights are plan
    * literals); no shuffle anywhere but the output sort. The keep decision
    * compares the 6-dp-ROUNDED score so both engines decide on identical
    * values. */
  def q102QualityClassifier(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"),
        ttrFromTokens(col("t")).as("ttr"),
        stopRatioFromTokens(col("t")).as("stop_ratio"),
        size(col("t")).cast("long").as("n_tokens"))
      .withColumn("score",
        round(lit(1.0) / (lit(1.0) +
          exp(-(lit(QcBias) + lit(QcWTtr) * col("ttr") +
            lit(QcWStop) * col("stop_ratio") +
            lit(QcWLogTok) * log(col("n_tokens"))))), 6))
      .withColumn("keep", col("score") >= 0.5)
      .orderBy("doc_id")

  /** Classifier-vs-rules calibration (q186): the q102 logistic score
    * banded into deciles, with each band's rule-gate pass rate and the
    * classifier↔gate agreement rate in exact ppm — the reliability
    * diagram that answers "does the cheap model actually track the
    * expensive rules?" before a corpus swaps gate for classifier (the
    * GPT-3/LLaMA curation pattern). A calibrated model shows gate_ppm
    * rising monotonically with the band; high-band disagreement
    * localizes exactly which score region the rules and model fight
    * over — the docs worth a human look.
    *
    * Exactness: both per-doc signals are the SHARED definitions (q102's
    * score expression, [[gateDecisions]]' rules), the decile is
    * floor(score·10) on the same rounded double both engines compute,
    * and the rates are integer ppm. Scale shape: two per-doc projections
    * joined on doc_id (one exchange), then a ≤10-row rollup. */
  def q186GateCalibration(s: SparkSession, d: String): DataFrame =
    q102QualityClassifier(s, d).select(col("doc_id"), col("score"),
        col("keep"))
      .join(gateDecisions(s, d).select(col("doc_id"), col("gate_pass")),
        "doc_id")
      .withColumn("band", least(lit(9L), floor(col("score") * 10)))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("gate_pass").cast("long")).as("n_gate_pass"),
        sum((col("keep") === col("gate_pass")).cast("long")).as("n_agree"))
      .withColumn("gate_ppm", expr("n_gate_pass * 1000000 div n_docs"))
      .withColumn("agree_ppm", expr("n_agree * 1000000 div n_docs"))
      .select("band", "n_docs", "n_gate_pass", "gate_ppm", "n_agree",
        "agree_ppm")
      .orderBy("band")

  val PostingCap = 20

  /** Typed row counter usable as a SECOND aggregation on the same
    * [[StratSampleAgg]] shuffle — q104 needs the TRUE document frequency
    * next to the capped posting list without a second pass. */
  final class CountAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Long, Long), Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: (String, Long, Long)): Long = b + 1
    override def merge(x: Long, y: Long): Long = x + y
    override def finish(b: Long): Long = b
    override def bufferEncoder = org.apache.spark.sql.Encoders.scalaLong
    override def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  /** C5 inverted-index construction: per-term posting lists — the first
    * [[PostingCap]] doc ids per term (ascending) plus the TRUE document
    * frequency — emitted one row per posting entry. The index-build step
    * behind retrieval scoring (q100 conceptually reads this structure);
    * `df` preserves the real count where hot terms truncate at the cap.
    *
    * Scale shape: (term, doc) pairs are deduplicated IN-ROW
    * (`array_distinct` before the explode — the q31 pattern), so the only
    * shuffle is the vocab-keyed index build itself, and per-term state is
    * bounded: the posting list via the same partial-top-k Aggregator as
    * q57/q97 (≤ cap entries per term at every stage, hot terms cannot
    * buffer their full posting set) and df via a counter riding the SAME
    * shuffle — no second pass, no unbounded `collect_list`. */
  def q104PostingLists(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .filter(col("term") =!= "")
      // doc_id twice: (sort-key, payload) — the q57 Aggregator input shape,
      // with no object-map hop on the hottest row path
      .select(col("term"), col("doc_id"), col("doc_id"))
      .as[(String, Long, Long)]
    val top = new StratSampleAgg(PostingCap).toColumn.name("top")
    val cnt = new CountAgg().toColumn.name("df")
    pairs.groupByKey(_._1).agg(top, cnt)
      .flatMap { case (term, buf, df) =>
        buf.items.zipWithIndex.map { case ((_, id), i) =>
          (term, df, (i + 1).toLong, id)
        }
      }
      .toDF("term", "df", "pos_rank", "doc_id")
      .orderBy("term", "pos_rank")
  }

  val ZipfTopK = 50

  /** C5 corpus diagnostic: ordinary-least-squares fit of ln(count) against
    * ln(rank) over the top-[[ZipfTopK]] tokens — the Zipf power-law check
    * (natural language slopes ≈ −1; a boilerplate-flooded or synthetic
    * corpus diverges, so drift in this one number flags upstream
    * collection bugs before they poison training mixes).
    *
    * Scale shape: the token aggregation is the standard vocab-keyed
    * shuffle with map-side combine; the top-K arrives via distributed
    * TakeOrdered (no vocab-sized global sort or window — the rank window
    * only ever sees K rows); the K-row OLS sums fold in SORTED order
    * (bit-stable convention) and the intercept is derived from the
    * ROUNDED slope so both engines agree exactly. */
  def q103ZipfFit(s: SparkSession, d: String): DataFrame = {
    val top = documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token")).limit(ZipfTopK)
    val xy = top
      .withColumn("rnk", row_number()
        .over(Window.orderBy(desc("n"), col("token"))).cast("long"))
      .select(log(col("rnk")).as("x"), log(col("n")).as("y"))
      .select(col("x"), col("y"),
        (col("x") * col("y")).as("xy"), (col("x") * col("x")).as("xx"))
    def fold(c: String) = orderedSum(c)
    xy.agg(
        count(lit(1)).cast("double").as("k"),
        fold("x").as("sx"), fold("y").as("sy"),
        fold("xy").as("sxy"), fold("xx").as("sxx"))
      .select(col("k"), col("sx"), col("sy"),
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("slope"))
      .select(col("k").cast("long").as("n_top"), col("slope"),
        round((col("sy") - col("slope") * col("sx")) / col("k"), 6)
          .as("intercept"))
  }

  val MadCut = 3     // robust outlier cut: |x - median| > MadCut * MAD
  val VocabBands = 20 // doc_id bands for the vocabulary-growth profile

  /** Weighted LOWER quantile on a (source, value)-count marginal: the
    * smallest value whose cumulative count reaches ⌈n·num/den⌉ — ONE
    * definition of the quantile convention shared by q139's medians
    * (num/den = 1/2) and q147's winsorization cuts (5/100, 95/100), so
    * engine and oracle can never disagree on ties or even counts. The
    * window runs on the marginal (distinct values per source), never
    * corpus rows. */
  private def weightedLowerQuantile(m: DataFrame, tot: DataFrame, v: String,
                                    num: Int, den: Int, out: String)
      : DataFrame = {
    val w = Window.partitionBy("source").orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.withColumn("cum", sum("c").over(w))
      .join(broadcast(tot), "source")
      .filter(col("cum") >= expr(s"(n * $num + $den - 1) div $den"))
      .groupBy("source").agg(min(col(v)).as(out))
  }

  /** C5v winsorized per-source length stats (q147): the robust companion
    * of q139's outlier GATE — instead of flagging tails, clip them: p5/p95
    * cuts (weighted lower quantiles on the same value-count marginal) and
    * the exact winsorized char sum + clipped-doc count. The robust mean a
    * corpus report should quote when a few giant docs would otherwise own
    * the average. Same scale shape as q139: one exchange to the marginal,
    * every window on bounded rows, exact integers end to end. */
  def q147WinsorizedStats(s: SparkSession, d: String): DataFrame = {
    val marg = documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds totals, both cuts AND the clip sums
    val tot = marg.groupBy("source").agg(sum("c").as("n"))
    val p05 = weightedLowerQuantile(marg, tot, "v", 5, 100, "p05_chars")
    val p95 = weightedLowerQuantile(marg, tot, "v", 95, 100, "p95_chars")
    marg.join(broadcast(p05), "source").join(broadcast(p95), "source")
      .groupBy("source")
      .agg(
        sum(expr("least(greatest(v, p05_chars), p95_chars) * c"))
          .as("win_sum_chars"),
        sum(when(col("v") < col("p05_chars") ||
            col("v") > col("p95_chars"), col("c")).otherwise(lit(0L)))
          .as("n_clipped"),
        max("p05_chars").as("p05_chars"), max("p95_chars").as("p95_chars"))
      .join(broadcast(tot), "source")
      .select(col("source"), col("n").as("n_docs"), col("p05_chars"),
        col("p95_chars"), col("win_sum_chars"), col("n_clipped"))
      .orderBy("source")
  }

  /** C5s robust per-source length outliers (q139): median and MAD
    * (median absolute deviation) of `n_chars`, plus how many docs sit
    * beyond [[MadCut]]·MAD — the outlier gate that, unlike the q119
    * mean/stddev profile, one pathological 100 MB doc cannot drag. Both
    * medians are the WEIGHTED LOWER median computed on the (source,
    * value) count marginal — the q122 pattern: the corpus collapses to
    * per-source value counts in one exchange, and every window below
    * runs on that bounded marginal (distinct lengths per source, not
    * rows), so no low-cardinality window ever sees corpus rows. Exact
    * integer output end to end — median = min v with cum ≥ ⌈n/2⌉. */
  def q139LengthOutliers(s: SparkSession, d: String): DataFrame = {
    val marg = documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds totals, two medians AND the outlier count
    val tot = marg.groupBy("source").agg(sum("c").as("n"))
    def lowerMedian(m: DataFrame, v: String, out: String): DataFrame =
      weightedLowerQuantile(m, tot, v, 1, 2, out)
    val med = lowerMedian(marg, "v", "med_chars")
    val dev = marg.join(broadcast(med), "source")
      .groupBy(col("source"), abs(col("v") - col("med_chars")).as("v"))
      .agg(sum("c").as("c"))
    val mad = lowerMedian(dev, "v", "mad_chars")
    marg.join(broadcast(med), "source").join(broadcast(mad), "source")
      .groupBy("source")
      .agg(sum(when(abs(col("v") - col("med_chars")) >
          lit(MadCut) * col("mad_chars"), col("c")).otherwise(lit(0L)))
        .as("n_outliers"),
        // med/mad are per-source constants here: max() carries them
        // through the rollup instead of re-joining the frames they came from
        max("med_chars").as("med_chars"), max("mad_chars").as("mad_chars"))
      .join(broadcast(tot), "source")
      .select(col("source"), col("n").as("n_docs"), col("med_chars"),
        col("mad_chars"), col("n_outliers"))
      .orderBy("source")
  }

  /** C5t vocabulary-growth profile (q140): Heaps'-law curve over
    * [[VocabBands]] equal doc_id bands — per band, docs, running tokens,
    * NEW types first seen in that band, and the cumulative type count. A
    * healthy crawl grows vocabulary sublinearly (Heaps exponent < 1);
    * a template dump flattens the curve, an encoding break explodes it.
    * Shape: one tokenize pass aggregates to (band, token) counts
    * (vocabulary-sized, checkpointed — the q121 convention), and BOTH
    * derivations (per-band token totals; min-band-per-type → new-type
    * counts) re-aggregate that table. The only windows run on ≤
    * [[VocabBands]] rows. Banding by `doc_id · B div (max+1)` is a
    * monotone map, so min(band) per token IS the band of first
    * occurrence — no per-token doc_id sort. The second corpus pass for
    * per-band doc counts reads one column. */
  def q140VocabGrowth(s: SparkSession, d: String): DataFrame = {
    val mx = documents(s, d).agg((max("doc_id") + 1).as("m"))
    val banded = documents(s, d).crossJoin(broadcast(mx))
      .withColumn("band", expr(s"(doc_id * $VocabBands) div m"))
    val btc = banded
      .select(col("band"), explode(split(col("text"), " ")).as("token"))
      .groupBy("band", "token").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds token totals AND first-seen bands
    val ntok = btc.groupBy("band").agg(sum("c").as("n_tokens"))
    val ndocs = banded.groupBy("band").agg(count(lit(1)).as("n_docs"))
    val newTypes = btc.groupBy("token").agg(min("band").as("band"))
      .groupBy("band").agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ndocs.join(ntok, "band")
      .join(newTypes, Seq("band"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_types", sum("new_types").over(w))
      .select(col("band"), col("n_docs"), col("n_tokens"),
        col("new_types"), col("cum_types"))
      .orderBy("band")
  }

  val BurstBands = 10  // doc_id arrival bands, the q168/q188/q189 trend grain
  val BurstTopK = 10   // bursting tokens reported per band

  /** Token burst detector (q206): per doc_id arrival band, the
    * [[BurstTopK]] tokens most OVER-REPRESENTED in that band — ranked by
    * excess share (the band's exact-ppm share of the token minus its
    * corpus-wide ppm share) with the counts and both shares emitted. The
    * token-grain crawl-drift localizer completing the trend family: q140
    * counts NEW types per band, q78/q202 score whole-distribution KL per
    * source/split, q189 tracks quality — this names WHICH tokens a
    * spam-wave, a template rollout, or a topical event pushed into a
    * band. Excess is a DIFFERENCE of exact ppm integers, not a ratio:
    * Long-safe at any corpus size (n_bt·10⁶ ≤ N·10⁶ < 2⁶³ to a
    * quadrillion tokens), no cross-engine division-order hazard, and it
    * naturally weights tokens by mass where a lift ratio would surface
    * two-occurrence flukes.
    *
    * Scale shape: one tokenize scan to the (band, token) count table
    * (checkpointed — it feeds the band totals, the vocabulary marginal
    * AND the rank input, the q140 discipline); the vocabulary-keyed join
    * AQE-broadcasts at test scale and shuffles at web scale; the per-band
    * top-k is a row_number over the 10-value band key whose rank filter
    * pushes into WindowGroupLimit (spec-asserted) — each task forwards at
    * most [[BurstTopK]] rows per band, never the vocabulary. */
  def q206TokenBursts(s: SparkSession, d: String): DataFrame = {
    val mx = documents(s, d).agg((max("doc_id") + 1).as("m"))
    val bt = documents(s, d).crossJoin(broadcast(mx))
      .withColumn("band", expr(s"(doc_id * $BurstBands) div m"))
      .select(col("band"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("band", "token").agg(count(lit(1)).as("n_bt"))
      .localCheckpoint(true)
    val bandTot = bt.groupBy("band").agg(sum("n_bt").as("n_band"))
    val tokTot = bt.groupBy("token").agg(sum("n_bt").as("n_tok"))
    val total = tokTot.agg(sum("n_tok").as("n_total"))
    val scored = bt.join(broadcast(bandTot), "band")
      .join(tokTot, "token")
      .crossJoin(broadcast(total))
      .select(col("band"), col("token"), col("n_bt"),
        expr("n_bt * 1000000 div n_band").as("band_ppm"),
        expr("n_tok * 1000000 div n_total").as("corpus_ppm"))
      .withColumn("excess_ppm", col("band_ppm") - col("corpus_ppm"))
    val w = Window.partitionBy("band").orderBy(desc("excess_ppm"), col("token"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= BurstTopK)
      .orderBy("band", "rnk")
  }

  /** Decontamination eval-set derivation knobs (q213): every
    * [[DecontamEvalMod]]-th doc contributes one probe, capped at
    * [[DecontamEvalK]] probes; each probe is the doc's words
    * [[DecontamGramStart]]..+[[DecontamGramLen]] (the 13-gram unit the
    * GPT-3/PaLM decontamination procedures standardized on). */
  val DecontamEvalMod = 211L
  val DecontamEvalK = 20
  val DecontamGramStart = 4
  val DecontamGramLen = 13

  /** Benchmark decontamination audit (q213): per source, how many corpus
    * documents CONTAIN an eval-set 13-gram — the train/test overlap scrub
    * every LLM pipeline runs before shipping a corpus (eval answers
    * leaking into training data inflate benchmarks silently). The eval
    * set here is a BOUNDED derived stand-in for an external benchmark
    * file (no external fixtures exist in this harness): a deterministic
    * ≤[[DecontamEvalK]]-probe sample of the corpus's own documents, which
    * also guarantees hits exist at every SF (the sampled docs flag
    * themselves — exactly what decontamination would remove). Distinct
    * from q58 (per-doc fuzzy 3-gram overlap RATIO against a benchmark
    * doc-id range — a similarity score that shuffles the corpus's full
    * shingle mass), q98 (anchor-fingerprint overlap between corpus docs)
    * and q120 (cross-split shingle leakage): this is the exact long-gram
    * CONTAINMENT census — the binary quarantine rule the published
    * decontamination procedures apply, at broadcast cost.
    *
    * Scale shape: the eval side is ORDER BY + LIMIT bounded (≤20 rows,
    * broadcast); contamination is a broadcast semi-join with a contains()
    * predicate — ~K substring scans per document, projection-local, the
    * corpus never shuffles (an inverted 13-gram index would shuffle the
    * corpus's full gram mass to find the same ≤K needles). Census is a
    * |sources|-bounded partial agg; exact integer ppm. */
  def q213Decontamination(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val minWords = DecontamGramStart + DecontamGramLen - 1
    val eval = docs
      .filter(col("doc_id") % DecontamEvalMod === 0)
      .filter(size(split(col("text"), " ")) >= minWords)
      .orderBy("doc_id").limit(DecontamEvalK)
      .select(concat_ws(" ", slice(split(col("text"), " "),
        DecontamGramStart, DecontamGramLen)).as("gram"))
    val contam = docs
      .join(broadcast(eval), expr("contains(text, gram)"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_contam"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(contam, Seq("source"), "left")
      .na.fill(0L, Seq("n_contam"))
      .select(col("source"), col("n_docs"), col("n_contam"),
        expr("n_contam * 1000000 div n_docs").as("contam_ppm"))
      .orderBy("source")
  }

  val PadLen = 128 // fixed-length batching target (tokens per sequence)

  /** C5u fixed-length padding-waste audit (q146): per lang, the tokens a
    * fixed-[[PadLen]] batcher burns as PAD and the tokens it loses to
    * truncation — the measurement that justifies dynamic batching or the
    * q91/q134 packed export (which exist precisely to reclaim this waste).
    * One narrow scan + a per-lang aggregate; exact integers throughout
    * (waste also as ppm of the padded volume, integer division). */
  def q146PaddingWaste(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum(expr(s"$PadLen - least(n_tok, ${PadLen}L)")).as("pad_waste"),
        sum(expr(s"greatest(0L, n_tok - $PadLen)")).as("trunc_loss"))
      .withColumn("waste_ppm",
        expr(s"pad_waste * 1000000 div (n_docs * $PadLen)"))
      .orderBy("lang")

  /** Batching-length sweep grid (q159): candidate fixed-length targets
    * bracketing [[PadLen]] on both sides. */
  val PadLenGrid: Seq[Int] = Seq(32, 64, 128, 256)

  /** Batching-length sweep (q159): PAD burn and truncation loss at every
    * candidate sequence length in [[PadLenGrid]] — q146 audits the SHIPPED
    * [[PadLen]]; this is the curve that picks it (padding waste falls and
    * truncation loss grows with the length — the knee is the measured
    * choice, the q152/q153/q158 sweep discipline applied to the batching
    * knob).
    *
    * Scale shape: the corpus collapses to the (token count → doc count)
    * MARGINAL in one distributed aggregate — bounded by distinct lengths,
    * not docs — and every sweep point is arithmetic over that marginal
    * crossed with the 4-row broadcast grid. Exact integers end to end. */
  def q159PadLenSweep(s: SparkSession, d: String): DataFrame = {
    val marg = documents(s, d)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("n_tok").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true) // distinct-length rows feed all 4 sweep points
    val grid = s.createDataFrame(
      PadLenGrid.map(l => Tuple1(l.toLong))).toDF("pad_len")
    marg.crossJoin(broadcast(grid))
      .groupBy("pad_len")
      .agg(sum("n_docs").as("n_docs"),
        sum(expr("n_tok * n_docs")).as("n_tokens"),
        sum(expr("(pad_len - least(n_tok, pad_len)) * n_docs"))
          .as("pad_waste"),
        sum(expr("greatest(0L, n_tok - pad_len) * n_docs")).as("trunc_loss"),
        sum(expr("if(n_tok > pad_len, n_docs, 0L)")).as("n_trunc_docs"))
      .withColumn("waste_ppm",
        expr("pad_waste * 1000000 div (n_docs * pad_len)"))
      .withColumn("trunc_ppm", expr("trunc_loss * 1000000 div n_tokens"))
      .orderBy("pad_len")
  }

  /** C8s skyline / Pareto frontier (q149): documents not DOMINATED on the
    * (token count, lexical diversity) plane — a ≥ b on both axes with one
    * strict — the multi-criteria selection primitive behind "keep the
    * longest AND most diverse exemplars" curation (skyline queries in
    * Spark SQL: EDBT 2023, PAPERS.md; the operator Spark itself lacks).
    *
    * Shape — NO quadratic dominance join and NO corpus-row window: for 2D
    * skylines, a point survives iff its y equals the max y at its x AND
    * strictly exceeds every higher-x max. So the frontier computes on the
    * (x, max y) MARGINAL (one exchange, bounded by distinct token counts
    * — the q139/q122 marginal class), ONE window over that marginal finds
    * the frontier x's, and the skyline-sized result broadcasts back to
    * tag the surviving rows. Same-signal definitions as q122 (ONE ttr). */
  def q149ParetoFrontier(s: SparkSession, d: String): DataFrame = {
    val sig = documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), size(col("t")).cast("long").as("x"),
        round(ttrFromTokens(col("t")) * lit(10000)).cast("long").as("y"))
    val marg = sig.groupBy("x").agg(max("y").as("ymax"))
      .localCheckpoint(true) // distinct-x rows; feeds the window AND the tag join
    val w = Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val skyx = marg.withColumn("prevmax", max("ymax").over(w))
      .filter(col("prevmax").isNull || col("ymax") > col("prevmax"))
      .select(col("x").as("sky_x"), col("ymax").as("sky_y"))
    sig.join(broadcast(skyx),
        col("x") === col("sky_x") && col("y") === col("sky_y"))
      .select(col("doc_id"), col("x"), col("y"))
      .orderBy("doc_id")
  }

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q159_padlen_sweep" -> ((q159PadLenSweep _, s"""
      WITH m AS (SELECT len(string_split(text, ' '))::BIGINT AS n_tok,
                        count(*)::BIGINT AS n_docs
                 FROM documents GROUP BY 1),
      grid AS (SELECT unnest([${PadLenGrid.mkString(", ")}])::BIGINT
                 AS pad_len),
      agg AS (
        SELECT g.pad_len, sum(m.n_docs)::BIGINT AS n_docs,
               sum(m.n_tok * m.n_docs)::BIGINT AS n_tokens,
               sum((g.pad_len - least(m.n_tok, g.pad_len)) * m.n_docs)::BIGINT
                 AS pad_waste,
               sum(greatest(0, m.n_tok - g.pad_len) * m.n_docs)::BIGINT
                 AS trunc_loss,
               sum(CASE WHEN m.n_tok > g.pad_len THEN m.n_docs
                        ELSE 0 END)::BIGINT AS n_trunc_docs
        FROM grid g, m GROUP BY 1)
      SELECT pad_len, n_docs, n_tokens, pad_waste, trunc_loss, n_trunc_docs,
             (pad_waste * 1000000 // (n_docs * pad_len))::BIGINT AS waste_ppm,
             (trunc_loss * 1000000 // n_tokens)::BIGINT AS trunc_ppm
      FROM agg ORDER BY pad_len""")),
    "q150_weighted_sample" -> ((q150WeightedSample _, s"""
      WITH sc AS (
        SELECT source, doc_id,
               cast(round(($TtrSql) * 10000) AS BIGINT) + 1 AS w
        FROM documents),
      keyed AS (
        SELECT source, doc_id, w,
               cast(round(-ln((('0x'||substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
                     / 4294967296.0) / w * 1000000) AS BIGINT) AS nk
        FROM sc),
      rk AS (SELECT source, doc_id, w,
                    row_number() OVER (PARTITION BY source
                      ORDER BY nk, doc_id) AS rnk
             FROM keyed)
      SELECT source, rnk::BIGINT AS rnk, doc_id, w AS weight FROM rk
      WHERE rnk <= $WeightedSampleK ORDER BY source, rnk""")),
    "q149_pareto_frontier" -> ((q149ParetoFrontier _, s"""
      WITH sig AS (
        SELECT doc_id, len(string_split(text, ' '))::BIGINT AS x,
               cast(round(($TtrSql) * 10000) AS BIGINT) AS y
        FROM documents)
      SELECT s.doc_id, s.x, s.y FROM sig s
      WHERE NOT EXISTS (SELECT 1 FROM sig d
                        WHERE d.x >= s.x AND d.y >= s.y
                          AND (d.x > s.x OR d.y > s.y))
      ORDER BY doc_id""")),
    "q146_padding_waste" -> ((q146PaddingWaste _, s"""
      WITH t AS (SELECT lang, len(string_split(text, ' '))::BIGINT AS n_tok
                 FROM documents),
      ag AS (SELECT lang, count(*) AS n_docs, sum(n_tok) AS n_tokens,
                    sum($PadLen - least(n_tok, $PadLen)) AS pad_waste,
                    sum(greatest(0, n_tok - $PadLen)) AS trunc_loss
             FROM t GROUP BY 1)
      SELECT lang, n_docs, n_tokens::BIGINT AS n_tokens,
             pad_waste::BIGINT AS pad_waste, trunc_loss::BIGINT AS trunc_loss,
             (pad_waste * 1000000 // (n_docs * $PadLen))::BIGINT AS waste_ppm
      FROM ag ORDER BY lang""")),
    "q147_winsorized_stats" -> ((q147WinsorizedStats _, s"""
      WITH marg AS (SELECT source, n_chars AS v, count(*) AS c
                    FROM documents GROUP BY 1, 2),
      tot AS (SELECT source, sum(c) AS n FROM marg GROUP BY 1),
      cums AS (SELECT source, v, c,
                      sum(c) OVER (PARTITION BY source ORDER BY v) AS cum
               FROM marg),
      p05 AS (SELECT x.source, min(x.v) AS p05 FROM cums x JOIN tot USING (source)
              WHERE cum >= (n * 5 + 99) // 100 GROUP BY 1),
      p95 AS (SELECT x.source, min(x.v) AS p95 FROM cums x JOIN tot USING (source)
              WHERE cum >= (n * 95 + 99) // 100 GROUP BY 1),
      wins AS (SELECT m.source,
                      sum(least(greatest(m.v, p05.p05), p95.p95) * m.c) AS win_sum,
                      sum(CASE WHEN m.v < p05.p05 OR m.v > p95.p95
                               THEN m.c ELSE 0 END) AS n_clipped
               FROM marg m JOIN p05 USING (source) JOIN p95 USING (source)
               GROUP BY 1)
      SELECT t.source, t.n::BIGINT AS n_docs, p05.p05::BIGINT AS p05_chars,
             p95.p95::BIGINT AS p95_chars, w.win_sum::BIGINT AS win_sum_chars,
             w.n_clipped::BIGINT AS n_clipped
      FROM tot t JOIN p05 USING (source) JOIN p95 USING (source)
                 JOIN wins w USING (source)
      ORDER BY source""")),
    "q139_length_outliers" -> ((q139LengthOutliers _, s"""
      WITH marg AS (SELECT source, n_chars AS v, count(*) AS c
                    FROM documents GROUP BY 1, 2),
      tot AS (SELECT source, sum(c) AS n FROM marg GROUP BY 1),
      medx AS (SELECT x.source, min(x.v) AS med_chars FROM (
                 SELECT source, v,
                        sum(c) OVER (PARTITION BY source ORDER BY v) AS cum
                 FROM marg) x JOIN tot USING (source)
               WHERE cum >= (n + 1) // 2 GROUP BY 1),
      dev AS (SELECT m.source, abs(m.v - md.med_chars) AS v, sum(m.c) AS c
              FROM marg m JOIN medx md USING (source) GROUP BY 1, 2),
      madx AS (SELECT x.source, min(x.v) AS mad_chars FROM (
                 SELECT source, v,
                        sum(c) OVER (PARTITION BY source ORDER BY v) AS cum
                 FROM dev) x JOIN tot USING (source)
               WHERE cum >= (n + 1) // 2 GROUP BY 1),
      outc AS (SELECT m.source,
                      sum(CASE WHEN abs(m.v - md.med_chars) >
                            $MadCut * mx.mad_chars THEN m.c ELSE 0 END) AS n_out
               FROM marg m JOIN medx md USING (source)
                           JOIN madx mx USING (source) GROUP BY 1)
      SELECT t.source, t.n::BIGINT AS n_docs, md.med_chars::BIGINT AS med_chars,
             mx.mad_chars::BIGINT AS mad_chars, o.n_out::BIGINT AS n_outliers
      FROM tot t JOIN medx md USING (source) JOIN madx mx USING (source)
                 JOIN outc o USING (source)
      ORDER BY source""")),
    "q140_vocab_growth" -> ((q140VocabGrowth _, s"""
      WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
      db AS (SELECT doc_id, (doc_id * $VocabBands) // m AS band, text
             FROM documents, mx),
      btc AS (SELECT band, unnest(string_split(text, ' ')) AS token
              FROM db),
      btcc AS (SELECT band, token, count(*) AS c FROM btc GROUP BY 1, 2),
      ntok AS (SELECT band, sum(c) AS n_tokens FROM btcc GROUP BY 1),
      nd AS (SELECT band, count(*) AS n_docs FROM db GROUP BY 1),
      fb AS (SELECT token, min(band) AS band FROM btcc GROUP BY 1),
      nt AS (SELECT band, count(*) AS new_types FROM fb GROUP BY 1)
      SELECT d.band::BIGINT AS band, d.n_docs, k.n_tokens::BIGINT AS n_tokens,
             coalesce(t.new_types, 0)::BIGINT AS new_types,
             (sum(coalesce(t.new_types, 0))
                OVER (ORDER BY d.band))::BIGINT AS cum_types
      FROM nd d JOIN ntok k USING (band) LEFT JOIN nt t USING (band)
      ORDER BY band""")),
    "q106_chunk_dedup" -> ((q106ChunkDedup _, s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      ch AS (SELECT doc_id,
                    ('0x' || substr(md5(array_to_string(
                      t[k * $ChunkStride + 1 : k * $ChunkStride + $ChunkSize],
                      ' ')), 1, 15))::BIGINT AS fp
             FROM tok,
                  unnest(generate_series(0, (len(t) - 1) // $ChunkStride))
                    AS r(k)),
      g AS (SELECT fp, count(*)::BIGINT AS n_occurrences,
                   count(DISTINCT doc_id)::BIGINT AS n_docs,
                   min(doc_id) AS first_doc
            FROM ch GROUP BY fp)
      SELECT fp, n_occurrences, n_docs, first_doc FROM g
      WHERE n_docs >= 2
      ORDER BY n_docs DESC, n_occurrences DESC, fp""")),
    "q104_posting_lists" -> ((q104PostingLists _, s"""
      WITH tok AS (SELECT doc_id,
                          unnest(list_distinct(string_split(text, ' '))) AS term
                   FROM documents),
      p AS (SELECT term, doc_id FROM tok WHERE term <> ''),
      d AS (SELECT term, count(*)::BIGINT AS df FROM p GROUP BY term),
      r AS (SELECT term, doc_id,
                   row_number() OVER (PARTITION BY term ORDER BY doc_id)
                     AS pos_rank
            FROM p)
      SELECT r.term, d.df, r.pos_rank::BIGINT AS pos_rank, r.doc_id
      FROM r JOIN d USING (term) WHERE r.pos_rank <= $PostingCap
      ORDER BY term, pos_rank""")),
    "q103_zipf_fit" -> ((q103ZipfFit _, s"""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                   FROM documents),
      counts AS (SELECT token, count(*)::BIGINT AS n FROM tok
                 WHERE token <> '' GROUP BY token),
      top AS (SELECT token, n,
                     row_number() OVER (ORDER BY n DESC, token) AS rnk
              FROM counts QUALIFY rnk <= $ZipfTopK),
      xy AS (SELECT ln(rnk) AS x, ln(n) AS y FROM top),
      sums AS (SELECT count(*)::DOUBLE AS k,
                      list_sum(list_sort(list(x))) AS sx,
                      list_sum(list_sort(list(y))) AS sy,
                      list_sum(list_sort(list(x * y))) AS sxy,
                      list_sum(list_sort(list(x * x))) AS sxx
               FROM xy),
      sl AS (SELECT k, sx, sy,
                    round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
                      AS slope
             FROM sums)
      SELECT k::BIGINT AS n_top, slope,
             round((sy - slope * sx) / k, 6) AS intercept
      FROM sl""")),
    "q102_quality_classifier" -> ((q102QualityClassifier _, s"""
      WITH f AS (
        SELECT doc_id,
               round(len(list_distinct(t))::DOUBLE / len(t), 4) AS ttr,
               $StopRatioSql AS stop_ratio,
               len(t)::BIGINT AS n_tokens
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d),
      s AS (
        SELECT doc_id, ttr, stop_ratio, n_tokens,
               round(1.0 / (1.0 + exp(-($QcBias + $QcWTtr * ttr +
                 $QcWStop * stop_ratio + $QcWLogTok * ln(n_tokens)))), 6)
                 AS score
        FROM f)
      SELECT doc_id, ttr, stop_ratio, n_tokens, score,
             (score >= 0.5) AS keep
      FROM s ORDER BY doc_id""")),
    "q189_quality_trend" -> ((q189QualityTrend _, s"""
      WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
      sig AS (
        SELECT (doc_id * $QualityTrendBands) // mx.m AS band,
               cast(round(($TtrSql) * 10000) AS BIGINT) AS ttr4,
               (NOT (len(t) < $GateMinTokens OR len(t) > $GateMaxTokens
                     OR (n_chars - len(t) + 1)::DOUBLE / len(t)
                        < $GateMinMeanWordLen
                     OR (n_chars - len(t) + 1)::DOUBLE / len(t)
                        > $GateMaxMeanWordLen
                     OR len(list_filter(t, x -> list_contains($stopList, x)))::DOUBLE
                        / len(t) > $GateMaxStopRatio)) AS gate_pass
        FROM (SELECT doc_id, n_chars, text, string_split(text, ' ') AS t
              FROM documents) d, mx)
      SELECT band::BIGINT AS band, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN gate_pass THEN 1 ELSE 0 END)::BIGINT
               AS n_gate_pass,
             (sum(CASE WHEN gate_pass THEN 1 ELSE 0 END) * 1000000
               // count(*))::BIGINT AS gate_ppm,
             (sum(ttr4) // count(*))::BIGINT AS mean_ttr_x10000
      FROM sig GROUP BY band ORDER BY band""")),
    "q186_gate_calibration" -> ((q186GateCalibration _, s"""
      WITH f AS (
        SELECT doc_id,
               round(len(list_distinct(t))::DOUBLE / len(t), 4) AS ttr,
               $StopRatioSql AS stop_ratio,
               -- the GATE compares the UNROUNDED ratio (the q74/q189
               -- rule); only the q102 SCORE uses the rounded one
               len(list_filter(t, x -> list_contains($stopList, x)))::DOUBLE
                 / len(t) AS stop_ratio_raw,
               len(t)::BIGINT AS n_tokens,
               (n_chars - len(t) + 1)::DOUBLE / len(t) AS mean_wl
        FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS t
              FROM documents) d),
      sc AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-($QcBias + $QcWTtr * ttr +
                 $QcWStop * stop_ratio + $QcWLogTok * ln(n_tokens)))), 6)
                 AS score,
               (NOT (n_tokens < $GateMinTokens OR n_tokens > $GateMaxTokens
                     OR mean_wl < $GateMinMeanWordLen
                     OR mean_wl > $GateMaxMeanWordLen
                     OR stop_ratio_raw > $GateMaxStopRatio)) AS gate_pass
        FROM f),
      b AS (
        SELECT least(9, floor(score * 10))::BIGINT AS band,
               gate_pass, (score >= 0.5) = gate_pass AS agree
        FROM sc)
      SELECT band, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN gate_pass THEN 1 ELSE 0 END)::BIGINT
               AS n_gate_pass,
             (sum(CASE WHEN gate_pass THEN 1 ELSE 0 END) * 1000000
               // count(*))::BIGINT AS gate_ppm,
             sum(CASE WHEN agree THEN 1 ELSE 0 END)::BIGINT AS n_agree,
             (sum(CASE WHEN agree THEN 1 ELSE 0 END) * 1000000
               // count(*))::BIGINT AS agree_ppm
      FROM b GROUP BY band ORDER BY band""")),
    "q185_balanced_sample" -> ((q185BalancedSample _, s"""
      WITH hh AS (SELECT doc_id, source, lang,
                         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                           AS h
                  FROM documents),
      r AS (SELECT source, doc_id, lang,
                   row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
                     AS rnk
            FROM hh)
      SELECT source, doc_id, lang, rnk::BIGINT AS rnk
      FROM r WHERE rnk <= $PanelKPerSource
      ORDER BY source, rnk""")),
    "q183_source_lang_matrix" -> ((q183SourceLangMatrix _, """
      WITH cells AS (SELECT source, lang, count(*)::BIGINT AS n
                     FROM documents GROUP BY 1, 2),
      bs AS (SELECT source, sum(n)::BIGINT AS n_src FROM cells GROUP BY 1),
      bl AS (SELECT lang, sum(n)::BIGINT AS n_lang FROM cells GROUP BY 1),
      tt AS (SELECT sum(n)::BIGINT AS n_total FROM cells)
      SELECT c.source, c.lang, c.n, bs.n_src, bl.n_lang,
             (c.n * 1000000 // tt.n_total)::BIGINT AS observed_ppm,
             ((bs.n_src::HUGEINT * bl.n_lang * 1000000)
               // (tt.n_total::HUGEINT * tt.n_total))::BIGINT AS expected_ppm,
             ((c.n * 1000000 // tt.n_total)
               - ((bs.n_src::HUGEINT * bl.n_lang * 1000000)
                  // (tt.n_total::HUGEINT * tt.n_total)))::BIGINT AS delta_ppm
      FROM cells c JOIN bs USING (source) JOIN bl USING (lang), tt
      ORDER BY c.source, c.lang""")),
    "q177_vocab_sweep" -> ((q177VocabSweep _, s"""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
                   FROM documents),
      cnt AS (SELECT term, count(*)::BIGINT AS n FROM tok
              WHERE term <> '' GROUP BY 1),
      cc AS (SELECT n AS c, count(*)::BIGINT AS n_types,
                    (n * count(*))::BIGINT AS occ
             FROM cnt GROUP BY 1),
      cum AS (SELECT c, n_types, occ,
                     coalesce(sum(n_types) OVER (ORDER BY c DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS types_before
              FROM cc),
      tot AS (SELECT sum(occ)::BIGINT AS total_occ FROM cc),
      grid AS (SELECT unnest([${VocabSweepGrid.mkString(", ")}]) AS v),
      sw AS (SELECT g.v,
                    sum(greatest(0, least(n_types, g.v - types_before)))::BIGINT
                      AS n_covered_types,
                    sum(c * greatest(0, least(n_types, g.v - types_before)))::BIGINT
                      AS covered_occ
             FROM cum CROSS JOIN grid g GROUP BY 1)
      SELECT v::BIGINT AS v, n_covered_types, covered_occ, tot.total_occ,
             (covered_occ * 1000000 // tot.total_occ)::BIGINT AS coverage_ppm
      FROM sw, tot ORDER BY v""")),
    "q175_cms_accuracy" -> ((q175CmsAccuracy _, {
      val series = s"(SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS i)"
      s"""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                   FROM documents),
      cnt AS (SELECT token, count(*)::BIGINT AS n FROM tok
              WHERE token <> '' GROUP BY 1),
      rws AS (
        SELECT i.i AS r,
               ('0x' || substr(md5(i.i::VARCHAR || ':' || token), 1, 7))::BIGINT
                 % $CmsWidth AS b,
               n
        FROM cnt CROSS JOIN $series i),
      counters AS (SELECT r, b, sum(n)::BIGINT AS c FROM rws GROUP BY 1, 2),
      tracked AS (SELECT token, n FROM cnt
                  ORDER BY n DESC, token LIMIT $CmsTrackK),
      est AS (
        SELECT t.token, t.n AS exact_n, min(co.c) AS cms_n
        FROM tracked t
        CROSS JOIN $series i
        JOIN counters co
          ON co.r = i.i
         AND co.b = ('0x' || substr(md5(i.i::VARCHAR || ':' || t.token), 1, 7))::BIGINT
                      % $CmsWidth
        GROUP BY 1, 2)
      SELECT token, exact_n, cms_n, cms_n - exact_n AS overcount
      FROM est ORDER BY exact_n DESC, token"""
    })),
    "q99_heavy_hitters" -> ((q99HeavyHitters _, s"""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                   FROM documents),
      t2 AS (SELECT token FROM tok WHERE token <> ''),
      tot AS (SELECT count(*)::BIGINT AS n_tok FROM t2),
      c AS (SELECT token, count(*)::BIGINT AS n FROM t2 GROUP BY token)
      SELECT c.token, c.n FROM c CROSS JOIN tot
      WHERE c.n * $HhCapacity > tot.n_tok
      ORDER BY c.n DESC, c.token""")),
    "q131_bm25_retrieval" -> ((q131Bm25Retrieval _, s"""
      WITH ${retrievalCtes()}
      SELECT q_id, rnk::BIGINT AS rnk, doc_id, score FROM r
      WHERE rnk <= $RetrTopK ORDER BY q_id, rnk""")),
    "q198_retrieval_eval" -> ((q198RetrievalEval _, s"""
      WITH ${retrievalCtes(
        docsSrc = s"""(SELECT doc_id, text FROM documents
          UNION ALL SELECT * FROM (VALUES $retrEvalDocsSql) fx(doc_id, text))""",
        extraQf = s"""
             UNION ALL SELECT * FROM (VALUES $retrEvalQfSql) eq(q_id, term)""")},
      qsz AS (SELECT q_id, count(*)::BIGINT AS qsize FROM qf GROUP BY q_id),
      -- distinct (doc, query-term) hits: tf is already per distinct term
      relv AS (SELECT q.q_id, t.doc_id
               FROM tf t JOIN qf q USING (term) JOIN qsz USING (q_id)
               WHERE t.doc_id <> q.q_id
               GROUP BY q.q_id, t.doc_id, qsz.qsize
               HAVING count(*) = qsz.qsize),
      nrel AS (SELECT q_id, count(*)::BIGINT AS n_rel
               FROM relv GROUP BY q_id),
      tk AS (SELECT r.q_id, count(*)::BIGINT AS n_rel_topk,
                    min(r.rnk)::BIGINT AS first_rel_rank
             FROM r JOIN relv USING (q_id, doc_id)
             WHERE r.rnk <= $RetrTopK GROUP BY r.q_id)
      SELECT qsz.q_id,
             coalesce(n_rel, 0)::BIGINT AS n_rel,
             coalesce(n_rel_topk, 0)::BIGINT AS n_rel_topk,
             first_rel_rank,
             coalesce(1000000 // first_rel_rank, 0)::BIGINT AS mrr_ppm,
             (coalesce(n_rel_topk, 0) * 1000000 // $RetrTopK)::BIGINT
               AS precision_ppm,
             CASE WHEN coalesce(n_rel, 0) > 0
                  THEN coalesce(n_rel_topk, 0) * 1000000 // n_rel
                  ELSE 0 END::BIGINT AS recall_ppm
      FROM qsz LEFT JOIN nrel USING (q_id) LEFT JOIN tk USING (q_id)
      ORDER BY qsz.q_id""")),
    "q100_bm25" -> ((q100Bm25 _, s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
                        len(list_filter(string_split(text, ' '),
                                        x -> x <> ''))::BIGINT AS dl
                 FROM documents),
      stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM d),
      tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
               SELECT doc_id, unnest(t) AS term FROM d) u
             WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
             GROUP BY doc_id, term),
      dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
      w AS (SELECT tf.doc_id,
                   ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                     * (tf.tf * ${Bm25K1 + 1}) /
                     (tf.tf + $Bm25K1 *
                       (1.0 - $Bm25B + $Bm25B * d2.dl / s.avgdl)) AS w
            FROM tf JOIN dfreq f USING (term) JOIN d d2 USING (doc_id)
            CROSS JOIN stats s),
      sc AS (SELECT doc_id, round(list_sum(list_sort(list(w))), 4) AS bm25
             FROM w GROUP BY doc_id),
      r AS (SELECT doc_id, bm25,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
            FROM sc)
      SELECT rnk::BIGINT AS rnk, doc_id, bm25 FROM r WHERE rnk <= $Bm25TopK
      ORDER BY rnk""")),
    "q87_doc_chunks" -> ((q87DocChunks _, s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      ch AS (SELECT doc_id, t,
                    unnest(generate_series(0, (len(t) - 1) // $ChunkStride)) AS k
             FROM tok)
      SELECT doc_id, k::BIGINT AS chunk_id,
             len(t[k * $ChunkStride + 1 : k * $ChunkStride + $ChunkSize])::BIGINT AS n_tok,
             ('0x' || substr(md5(array_to_string(
               t[k * $ChunkStride + 1 : k * $ChunkStride + $ChunkSize], ' ')), 1, 15))::BIGINT AS fp
      FROM ch ORDER BY doc_id, chunk_id""")),
    "q88_bpe_merges" -> ((q88BpeMerges _, s"""
      WITH wc AS (SELECT w, count(*) AS cnt FROM (
              SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
            WHERE len(w) >= 2 GROUP BY w),
      pr AS (SELECT substr(w, i, 2) AS pair, cnt
             FROM wc, unnest(generate_series(1, len(w) - 1)) AS r(i)),
      agg AS (SELECT pair, sum(cnt)::BIGINT AS weight FROM pr GROUP BY pair),
      top AS (SELECT pair, weight,
                     row_number() OVER (ORDER BY weight DESC, pair) AS rnk
              FROM agg)
      SELECT rnk, pair, weight FROM top WHERE rnk <= $BpeTopK ORDER BY rnk""")),
    "q89_collocations" -> ((q89Collocations _, s"""
      WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
      uni AS (SELECT w, count(*) AS nw FROM (
                SELECT unnest(t) AS w FROM tok) u
              WHERE w <> '' GROUP BY w),
      bi AS (SELECT t[i] AS w1, t[i + 1] AS w2
             FROM tok, unnest(generate_series(1, len(t) - 1)) AS r(i)
             WHERE len(t) >= 2),
      biAll AS (SELECT w1, w2, count(*) AS n12 FROM bi
                WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
      tot AS (SELECT (SELECT sum(nw) FROM uni)::BIGINT AS n_tok,
                     (SELECT sum(n12) FROM biAll)::BIGINT AS n_big),
      scored AS (
        SELECT b.w1, b.w2, b.n12::BIGINT AS n12,
               (b.n12 * t.n_tok * t.n_tok * 100) // (t.n_big * u1.nw * u2.nw)
                 AS lift_x100
        FROM biAll b
        JOIN uni u1 ON u1.w = b.w1
        JOIN uni u2 ON u2.w = b.w2
        CROSS JOIN tot t
        WHERE b.n12 >= $PmiMinCount),
      top AS (SELECT w1, w2, n12, lift_x100::BIGINT AS lift_x100,
                     row_number() OVER (ORDER BY lift_x100 DESC, w1, w2) AS rnk
              FROM scored)
      SELECT rnk, w1, w2, n12, lift_x100 FROM top WHERE rnk <= $PmiTopK
      ORDER BY rnk""")),
    "q134_packed_sequences" -> ((q134PackedSequences _, s"""
      WITH d AS (SELECT doc_id, lang, text,
                        len(string_split(text, ' '))::BIGINT AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, lang, text, n_tok,
                   sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM d),
      b AS (SELECT doc_id, lang, text, n_tok,
                   ((cum - n_tok) // $PackBudget)::BIGINT AS bin
            FROM c)
      SELECT lang, bin, count(*)::BIGINT AS n_docs,
             sum(n_tok)::BIGINT AS n_tokens,
             md5(string_agg(text, chr(10) ORDER BY doc_id)) AS seq_fp
      FROM b GROUP BY lang, bin ORDER BY lang, bin""")),
    "q135_vocab_coverage" -> ((q135VocabCoverage _, s"""
      WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
                   FROM documents),
      tf AS (SELECT source, term FROM tok WHERE term <> ''),
      vocab AS (SELECT term FROM (
                  SELECT term, count(*) AS cnt,
                         row_number() OVER (ORDER BY count(*) DESC, term)
                           AS rn
                  FROM tf GROUP BY term) t
                WHERE rn <= $VocabSize),
      j AS (SELECT tf.source, (v.term IS NOT NULL) AS hit
            FROM tf LEFT JOIN vocab v USING (term))
      SELECT source, count(*)::BIGINT AS n_tokens,
             sum(CASE WHEN hit THEN 0 ELSE 1 END)::BIGINT AS n_oov,
             (sum(CASE WHEN hit THEN 0 ELSE 1 END) * 1000000
               // count(*))::BIGINT AS oov_ppm
      FROM j GROUP BY source ORDER BY source""")),
    "q91_seq_packing" -> ((q91SeqPacking _, s"""
      WITH d AS (SELECT doc_id, lang,
                        len(string_split(text, ' '))::BIGINT AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, lang, n_tok,
                   sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM d)
      SELECT doc_id, lang, n_tok,
             ((cum - n_tok) // $PackBudget)::BIGINT AS bin,
             ((cum - n_tok) % $PackBudget)::BIGINT AS bin_offset
      FROM c ORDER BY lang, doc_id""")),
    "q83_bigram_nll" -> ((q83BigramNll _, """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM tok, unnest(generate_series(1, len(t) - 1)) AS r(i)
        WHERE len(t) >= 2),
      c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, sum(n12) AS n1 FROM c12 GROUP BY 1),
      sc AS (
        SELECT b.doc_id, -ln(c.n12::DOUBLE / u.n1) AS nll
        FROM bg b JOIN c12 c USING (w1, w2) JOIN c1 u USING (w1))
      SELECT doc_id, count(*) AS n_bigrams,
             round(list_sum(list_sort(list(nll))) / count(*), 6) AS mean_nll
      FROM sc GROUP BY doc_id ORDER BY doc_id""")),
    "q110_epoch_plan" -> ((q110EpochPlan _, """
      WITH t AS (SELECT source,
                   cast(sum(len(list_filter(string_split(text, ' '),
                     x -> x <> ''))) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY source),
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
      FROM p ORDER BY source""")),
    "q112_alpha_schedule" -> ((q112AlphaSchedule _, """
      WITH counts AS (SELECT lang, count(*) AS n_docs
                      FROM documents GROUP BY lang),
      grid AS (SELECT lang, n_docs, alpha,
                 CASE alpha WHEN 1.0 THEN n_docs::DOUBLE
                            WHEN 0.5 THEN sqrt(n_docs::DOUBLE)
                            WHEN 0.25 THEN sqrt(sqrt(n_docs::DOUBLE))
                            ELSE 1.0::DOUBLE END AS w
               FROM counts,
                    (SELECT unnest([1.0::DOUBLE, 0.5::DOUBLE,
                                    0.25::DOUBLE, 0.0::DOUBLE]) AS alpha) a),
      z AS (SELECT alpha, list_sum(list_sort(list(w))) AS z
            FROM grid GROUP BY alpha),
      shares AS (SELECT g.lang, g.n_docs, g.alpha, g.w / z.z AS share_raw
                 FROM grid g JOIN z USING (alpha)),
      eff AS (SELECT alpha,
                     1.0::DOUBLE /
                       list_sum(list_sort(list(share_raw * share_raw)))
                       AS eff_raw
              FROM shares GROUP BY alpha)
      SELECT s.alpha, s.lang, s.n_docs, round(s.share_raw, 6) AS share,
             round(e.eff_raw, 4) AS eff_langs
      FROM shares s JOIN eff e USING (alpha)
      ORDER BY s.alpha DESC, s.lang""")),
    "q122_spearman_quality" -> ((q122SpearmanQuality _, s"""
      WITH v AS (
        SELECT source,
               cast(len(string_split(text, ' ')) AS BIGINT) AS x,
               cast(round(($TtrSql) * 10000) AS BIGINT) AS y
        FROM documents),
      r AS (
        SELECT source,
               rank() OVER (PARTITION BY source ORDER BY x ASC)
                 + count(*) OVER (PARTITION BY source)
                 - rank() OVER (PARTITION BY source ORDER BY x DESC)
                 + 1 AS rx,
               rank() OVER (PARTITION BY source ORDER BY y ASC)
                 + count(*) OVER (PARTITION BY source)
                 - rank() OVER (PARTITION BY source ORDER BY y DESC)
                 + 1 AS ry
        FROM v),
      st AS (
        SELECT source, count(*) AS n,
               sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
               sum(rx::HUGEINT * ry) AS sxy,
               sum(rx::HUGEINT * rx) AS sxx,
               sum(ry::HUGEINT * ry) AS syy
        FROM r GROUP BY 1),
      abc AS (
        SELECT source, n, n::HUGEINT * sxy - sx * sy AS a,
               n::HUGEINT * sxx - sx * sx AS b,
               n::HUGEINT * syy - sy * sy AS c
        FROM st)
      SELECT source, n AS n_docs,
             round(CASE WHEN b = 0 OR c = 0 THEN NULL
                        ELSE a::DOUBLE /
                             (sqrt(b::DOUBLE) * sqrt(c::DOUBLE)) END, 6)
               AS rho
      FROM abc ORDER BY source""")),
    "q123_template_families" -> ((q123TemplateFamilies _, s"""
      WITH fp AS (
        SELECT doc_id, source, 'head' AS kind,
               md5(substring(text, 1, $FpLen)) AS fp
        FROM documents
        UNION ALL
        SELECT doc_id, source, 'tail' AS kind,
               md5(CASE WHEN length(text) >= $FpLen
                        THEN substring(text, -$FpLen) ELSE text END) AS fp
        FROM documents)
      SELECT kind, fp, count(*) AS n_docs,
             count(DISTINCT source)::BIGINT AS n_sources,
             min(doc_id) AS keep_id
      FROM fp GROUP BY kind, fp HAVING count(*) >= 2
      ORDER BY kind, fp""")),
    "q121_char_entropy_rate" -> ((q121CharEntropyRate _, s"""
      WITH bgs AS (
        SELECT source,
               unnest([substr(text, i, 2)
                       FOR i IN generate_series(1, length(text)-1)]) AS bg
        FROM documents WHERE length(text) >= 2),
      cab AS (SELECT source, bg, count(*) AS c_ab FROM bgs GROUP BY 1, 2),
      ca AS (SELECT source, substr(bg, 1, 1) AS a,
                    cast(sum(c_ab) AS BIGINT) AS c_a
             FROM cab GROUP BY 1, 2),
      tot AS (SELECT source, cast(sum(c_ab) AS BIGINT) AS n_bg,
                     count(*) AS vocab
              FROM cab GROUP BY 1),
      terms AS (
        SELECT cab.source, n_bg, vocab,
               (c_ab::DOUBLE / n_bg::DOUBLE) *
                 ln(c_ab::DOUBLE / c_a::DOUBLE) AS term
        FROM cab
        JOIN ca ON ca.source = cab.source AND ca.a = substr(cab.bg, 1, 1)
        JOIN tot ON tot.source = cab.source)
      SELECT source, max(n_bg) AS n_bigrams, max(vocab) AS vocab,
             round(-(list_sum(list_sort(list(term)))) + 0.0::DOUBLE, 4)
               AS h_nats,
             round((-(list_sum(list_sort(list(term)))) + 0.0::DOUBLE)
                   / $Ln2::DOUBLE, 4) AS h_bits
      FROM terms GROUP BY source ORDER BY source""")),
    "q117_quality_sweep" -> ((q117QualitySweep _, s"""
      WITH perdoc AS (
        SELECT cast(round(($TtrSql) * 10000) AS BIGINT) AS ttr4,
               cast(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      bands AS (SELECT least(ttr4 // 1000, 9) AS band, count(*) AS n_docs,
                       cast(sum(n_tokens) AS BIGINT) AS n_tokens
                FROM perdoc GROUP BY 1)
      SELECT band::DOUBLE / 10.0::DOUBLE AS min_ttr, n_docs, n_tokens,
             cast(sum(n_docs) OVER (ORDER BY band DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_docs,
             cast(sum(n_tokens) OVER (ORDER BY band DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens,
             round(cast(sum(n_tokens) OVER (ORDER BY band DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 ::DOUBLE / cast(sum(n_tokens) OVER () AS BIGINT), 6)
               AS cum_token_share
      FROM bands ORDER BY min_ttr""")),
    "q113_char_entropy" -> ((q113CharEntropy _, raw"""
      WITH c AS (
        SELECT source, length(text)::DOUBLE AS n,
               (length(text) -
                length(regexp_replace(text, '[a-z]', '', 'g')))::DOUBLE AS cl,
               (length(text) -
                length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE AS cu,
               (length(text) -
                length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE AS cd,
               (length(text) -
                length(regexp_replace(text, '\s', '', 'g')))::DOUBLE AS cw
        FROM documents WHERE length(text) > 0),
      e AS (
        SELECT source, round(-(
            (CASE WHEN cl > 0 THEN cl/n * ln(cl/n) ELSE 0.0::DOUBLE END) +
            (CASE WHEN cu > 0 THEN cu/n * ln(cu/n) ELSE 0.0::DOUBLE END) +
            (CASE WHEN cd > 0 THEN cd/n * ln(cd/n) ELSE 0.0::DOUBLE END) +
            (CASE WHEN cw > 0 THEN cw/n * ln(cw/n) ELSE 0.0::DOUBLE END) +
            (CASE WHEN n-cl-cu-cd-cw > 0
                  THEN (n-cl-cu-cd-cw)/n * ln((n-cl-cu-cd-cw)/n)
                  ELSE 0.0::DOUBLE END)) + 0.0::DOUBLE, 4) AS ent
        FROM c)
      SELECT source, count(*) AS n_docs,
             round(list_sum(list_sort(list(ent))) / count(*), 4)
               AS mean_entropy,
             min(ent) AS min_entropy, max(ent) AS max_entropy,
             cast(sum(CASE WHEN ent < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_diversity
      FROM e GROUP BY source ORDER BY source""")),
    "q116_token_fertility" -> ((q116TokenFertility _, """
      WITH cells AS (
        SELECT lang, source, count(*) AS n_docs,
               cast(sum(len(list_filter(string_split(text, ' '),
                 x -> x <> ''))) AS BIGINT) AS toks,
               cast(sum(n_chars) AS BIGINT) AS chars,
               cast(sum(strlen(text)) AS BIGINT) AS bytes
        FROM documents GROUP BY lang, source),
      bylang AS (SELECT lang, cast(sum(toks) AS BIGINT) AS l_toks,
                        cast(sum(chars) AS BIGINT) AS l_chars
                 FROM cells GROUP BY lang)
      SELECT c.lang, c.source, c.n_docs,
             round(100.0::DOUBLE * c.toks / c.chars, 4)
               AS tokens_per_100_chars,
             round(c.bytes::DOUBLE / c.toks, 4) AS bytes_per_token,
             round(100.0::DOUBLE * c.toks / c.chars
                     / (100.0::DOUBLE * l.l_toks / l.l_chars)
                     - 1.0::DOUBLE, 4) AS dev_from_lang,
             abs(100.0::DOUBLE * c.toks / c.chars
                   / (100.0::DOUBLE * l.l_toks / l.l_chars)
                   - 1.0::DOUBLE) > 0.2::DOUBLE AS fertility_outlier
      FROM cells c JOIN bylang l USING (lang)
      ORDER BY c.lang, c.source""")),
    "q76_source_mix" -> ((q76SourceMix _, s"""
      WITH counts AS (SELECT source, count(*) AS n_docs
                      FROM documents GROUP BY source),
      norm AS (SELECT sum(n_docs) AS n_total,
                      list_sum(list_sort(list(sqrt(n_docs::DOUBLE)))) AS z
               FROM counts),
      rates AS (SELECT source, n_docs,
                       least(1.0::DOUBLE,
                             n_total::DOUBLE * $MixSampleFrac
                               * sqrt(n_docs::DOUBLE) / z / n_docs) AS rate
                FROM counts, norm),
      kept AS (SELECT d.source, count(*) AS n_kept
               FROM documents d JOIN rates r USING (source)
               WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                       / 4294967296.0 < r.rate
               GROUP BY d.source)
      SELECT r.source, r.n_docs, coalesce(k.n_kept, 0)::BIGINT AS n_kept,
             round(r.rate, 6) AS rate
      FROM rates r LEFT JOIN kept k USING (source) ORDER BY source""")),
    "q78_source_drift" -> ((q78SourceDrift _, """
      WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
      st AS (SELECT source, tok, count(*) AS n_st FROM tok
             WHERE tok <> '' GROUP BY 1, 2),
      s AS (SELECT source, sum(n_st) AS n_s FROM st GROUP BY 1),
      t AS (SELECT tok, sum(n_st) AS n_t FROM st GROUP BY 1),
      n AS (SELECT sum(n_t) AS n FROM t),
      c AS (SELECT st.source, s.n_s,
                   (st.n_st::DOUBLE / s.n_s) *
                     ln((st.n_st::DOUBLE / s.n_s) / (t.n_t::DOUBLE / n.n))
                     AS contrib
            FROM st JOIN s USING (source) JOIN t USING (tok), n)
      SELECT source, max(n_s)::BIGINT AS n_tokens,
             round(list_sum(list_sort(list(contrib))), 6) AS kl
      FROM c GROUP BY source ORDER BY source""")),
    "q71_policy_scrub" -> ((q71PolicyScrub _, """
      SELECT doc_id,
             len(regexp_extract_all(text, '\b(slow|fast)\b'))::BIGINT AS n_perf,
             len(regexp_extract_all(text, '\b(table|row|column)\b'))::BIGINT
               AS n_struct,
             md5(regexp_replace(text, '\b(slow|fast|table|row|column)\b',
                                '[X]', 'g')) AS redacted_fp
      FROM documents
      WHERE len(regexp_extract_all(text, '\b(slow|fast)\b')) > 0
         OR len(regexp_extract_all(text, '\b(table|row|column)\b')) > 0
      ORDER BY doc_id""")),
    "q72_tfidf" -> ((q72TfIdf _, s"""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             WHERE term <> '' GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      ranked AS (
        SELECT doc_id, term, tf, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rnk
        FROM (SELECT t.doc_id, t.term, t.tf,
                     round(t.tf * ln(n.n_docs::DOUBLE / d.df), 4) AS tfidf
              FROM tf t JOIN df d USING (term), n))
      SELECT doc_id, rnk, term, tf, tfidf FROM ranked
      WHERE rnk <= $TfIdfTopK ORDER BY doc_id, rnk""")),
    "q73_length_histogram" -> ((q73LengthHistogram _, s"""
      WITH b AS (SELECT (n_chars // $HistBucketChars) * $HistBucketChars
                   AS bucket_lo FROM documents),
      n AS (SELECT count(*) AS n_total FROM documents)
      SELECT bucket_lo::BIGINT AS bucket_lo, count(*) AS n_docs,
             round(count(*)::DOUBLE / n.n_total, 4) AS share
      FROM b, n GROUP BY bucket_lo, n.n_total ORDER BY bucket_lo""")),
    "q74_quality_gate" -> ((q74QualityGate _, s"""
      WITH sig AS (
        SELECT lang, len(t) AS n_tok,
               (n_chars - len(t) + 1)::DOUBLE / len(t) AS mean_wl,
               len(list_filter(t, x -> list_contains($stopList, x)))::DOUBLE
                 / len(t) AS stop_ratio
        FROM (SELECT lang, n_chars, string_split(text, ' ') AS t
              FROM documents))
      SELECT lang, count(*) AS n_docs,
             sum(CASE WHEN n_tok < $GateMinTokens OR n_tok > $GateMaxTokens
                 THEN 1 ELSE 0 END)::BIGINT AS n_r_len,
             sum(CASE WHEN mean_wl < $GateMinMeanWordLen
                      OR mean_wl > $GateMaxMeanWordLen
                 THEN 1 ELSE 0 END)::BIGINT AS n_r_word_len,
             sum(CASE WHEN stop_ratio > $GateMaxStopRatio
                 THEN 1 ELSE 0 END)::BIGINT AS n_r_stop,
             sum(CASE WHEN NOT (n_tok < $GateMinTokens OR n_tok > $GateMaxTokens
                      OR mean_wl < $GateMinMeanWordLen
                      OR mean_wl > $GateMaxMeanWordLen
                      OR stop_ratio > $GateMaxStopRatio)
                 THEN 1 ELSE 0 END)::BIGINT AS n_kept
      FROM sig GROUP BY lang ORDER BY lang""")),
    "q28_text_stats" -> ((q28TextStats _, """
      SELECT lang, count(*) AS n_docs,
             round(avg(n_chars), 2) AS avg_chars,
             round(avg(len(string_split(text, ' '))), 2) AS avg_tokens,
             count(DISTINCT source) AS n_sources
      FROM documents GROUP BY lang ORDER BY lang""")),
    "q29_token_topk" -> ((q29TokenTopK _, """
      SELECT token, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      WHERE token <> ''
      GROUP BY token ORDER BY n DESC, token LIMIT 30""")),
    "q30_quality_score" -> ((q30QualityScore _, s"""
      SELECT doc_id, len(t) AS n_tokens,
             round(len(list_distinct(t))::DOUBLE / len(t), 4) AS ttr,
             $StopRatioSql AS stop_ratio,
             (len(t) BETWEEN 20 AND 1000 AND
              round(len(list_distinct(t))::DOUBLE / len(t), 4) >= 0.1) AS is_quality
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d
      ORDER BY doc_id""")),
    "q31_langid" -> ((q31LangId _, s"""
      WITH docs AS (
        SELECT doc_id, lang,
               [substr(text, i, 2) FOR i IN generate_series(1, length(text)-1)] AS bgs
        FROM documents WHERE length(text) >= 2
      ),
      docb AS (
        SELECT DISTINCT doc_id, lang, unnest(list_distinct(bgs)) AS bg FROM docs
      ),
      prof AS (
        SELECT plang, bg FROM (
          SELECT lang AS plang, bg, count(*) AS cnt,
                 row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, bg) AS r
          FROM docb GROUP BY lang, bg) p
        WHERE r <= $ProfileSize
      ),
      scored AS (
        SELECT d.doc_id, d.lang, p.plang, count(*) AS score
        FROM docb d JOIN prof p ON p.bg = d.bg
        GROUP BY d.doc_id, d.lang, p.plang
      ),
      pred AS (
        SELECT doc_id, lang, plang AS predicted,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS r
        FROM scored
      )
      SELECT lang, predicted, count(*) AS n FROM pred WHERE r = 1
      GROUP BY lang, predicted ORDER BY lang, predicted""")),
    "q204_lang_margin" -> ((q204LangMargin _, s"""
      WITH docs AS (
        SELECT doc_id, lang,
               [substr(text, i, 2) FOR i IN generate_series(1, length(text)-1)] AS bgs
        FROM documents WHERE length(text) >= 2
      ),
      docb AS (
        SELECT DISTINCT doc_id, lang, unnest(list_distinct(bgs)) AS bg FROM docs
      ),
      prof AS (
        SELECT plang, bg FROM (
          SELECT lang AS plang, bg, count(*) AS cnt,
                 row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, bg) AS r
          FROM docb GROUP BY lang, bg) p
        WHERE r <= $ProfileSize
      ),
      scored AS (
        SELECT d.doc_id, d.lang, p.plang, count(*) AS score
        FROM docb d JOIN prof p ON p.bg = d.bg
        GROUP BY d.doc_id, d.lang, p.plang
      ),
      top2 AS (
        SELECT doc_id, lang, plang, score,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, plang) AS r
        FROM scored
      ),
      agg AS (
        SELECT doc_id, lang,
               max(CASE WHEN r = 1 THEN plang END) AS pred,
               max(CASE WHEN r = 1 THEN score END)::BIGINT AS s1,
               max(CASE WHEN r = 2 THEN plang END) AS pred2,
               coalesce(max(CASE WHEN r = 2 THEN score END), 0)::BIGINT AS s2
        FROM top2 WHERE r <= 2 GROUP BY 1, 2
      )
      SELECT doc_id, lang, pred, s1, pred2, s2,
             (s1 - s2)::BIGINT AS margin,
             (s1 - s2) <= 1 AS is_ambiguous
      FROM agg ORDER BY doc_id""")),
    "q32_fingerprint" -> ((q32Fingerprint _, """
      SELECT doc_id,
             min(('0x'||substr(md5(substr(text, i, 12)), 1, 15))::BIGINT) AS fp
      FROM documents, unnest(generate_series(1, length(text)-11)) AS r(i)
      WHERE length(text) >= 12
      GROUP BY doc_id ORDER BY doc_id""")),
    "q33_token_count" -> ((q33TokenCount _, """
      SELECT lang,
             sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))::BIGINT AS bpe_tokens,
             sum(len(string_split(text, ' ')))::BIGINT AS ws_tokens
      FROM documents GROUP BY lang ORDER BY lang""")),
    "q56_hash_split" -> ((q56HashSplit _, """
      WITH tagged AS (
        SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS h
        FROM documents
      )
      SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM tagged GROUP BY 1 ORDER BY split""")),
    "q97_source_cap" -> ((q97SourceCap _, s"""
      WITH q AS (
        SELECT source, doc_id, $TtrSql AS ttr FROM documents),
      r AS (
        SELECT source, doc_id, ttr,
               row_number() OVER (PARTITION BY source
                                  ORDER BY ttr DESC, doc_id) AS rnk
        FROM q)
      SELECT source, rnk::BIGINT AS rnk, doc_id, ttr
      FROM r WHERE rnk <= $SourceCap ORDER BY source, rnk""")),
    "q57_stratified_sample" -> ((q57StratifiedSample _, s"""
      SELECT lang, rnk, doc_id FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT, doc_id)
                 AS rnk
        FROM documents) t
      WHERE rnk <= $SamplePerStratum ORDER BY lang, rnk""")),
    "q58_contamination" -> ((q58Contamination _, s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
        FROM tok, unnest(generate_series(1, len(t)-2)) AS r(i)
      ),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < $BenchmarkMaxId),
      corp AS (SELECT doc_id, s FROM sh WHERE doc_id >= $BenchmarkMaxId),
      agg AS (
        SELECT c.doc_id, count(*) AS n_sh,
               sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_overlap
        FROM corp c LEFT JOIN bench b ON b.s = c.s
        GROUP BY c.doc_id
      )
      SELECT doc_id, n_overlap, n_sh,
             round(n_overlap::DOUBLE / n_sh, 4) AS ratio
      FROM agg WHERE n_overlap > 0 ORDER BY doc_id""")),
    "q59_repetition_ratio" -> ((q59RepetitionRatio _, """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT doc_id, len(t) - 2 AS n_shingles,
               count(DISTINCT array_to_string(t[i:i+2], ' ')) AS n_unique
        FROM tok, unnest(generate_series(1, len(t)-2)) AS r(i)
        WHERE len(t) >= 3 GROUP BY doc_id, len(t) - 2
      )
      SELECT doc_id, n_shingles::BIGINT AS n_shingles,
             n_unique::BIGINT AS n_unique,
             round(1.0 - n_unique::DOUBLE / n_shingles, 4) AS rep_ratio
      FROM sh ORDER BY doc_id""")),
    "q213_decontamination" -> ((q213Decontamination _, s"""
      WITH ev AS (
        SELECT array_to_string(
                 string_split(text, ' ')[$DecontamGramStart:${DecontamGramStart + DecontamGramLen - 1}], ' ') AS gram
        FROM documents
        WHERE doc_id % $DecontamEvalMod = 0
          AND len(string_split(text, ' ')) >= ${DecontamGramStart + DecontamGramLen - 1}
        ORDER BY doc_id LIMIT $DecontamEvalK),
      c AS (
        SELECT source, count(*)::BIGINT AS n_contam FROM documents d
        WHERE EXISTS (SELECT 1 FROM ev WHERE contains(d.text, ev.gram))
        GROUP BY 1)
      SELECT s.source, s.n_docs,
             coalesce(c.n_contam, 0)::BIGINT AS n_contam,
             (coalesce(c.n_contam, 0) * 1000000 // s.n_docs)::BIGINT
               AS contam_ppm
      FROM (SELECT source, count(*)::BIGINT AS n_docs
            FROM documents GROUP BY 1) s
      LEFT JOIN c USING (source) ORDER BY source""")),
    "q206_token_bursts" -> ((q206TokenBursts _, s"""
      WITH m AS (SELECT max(doc_id) + 1 AS m FROM documents),
      bt AS (SELECT (doc_id * $BurstBands) // m.m AS band,
                    unnest(string_split(text, ' ')) AS token
             FROM documents, m),
      btc AS (SELECT band, token, count(*) AS n_bt FROM bt
              WHERE token <> '' GROUP BY 1, 2),
      bd AS (SELECT band, sum(n_bt) AS n_band FROM btc GROUP BY 1),
      tt AS (SELECT token, sum(n_bt) AS n_tok FROM btc GROUP BY 1),
      nt AS (SELECT sum(n_tok) AS n_total FROM tt),
      sc AS (SELECT c.band, c.token, c.n_bt,
                    (c.n_bt * 1000000) // b.n_band AS band_ppm,
                    (t.n_tok * 1000000) // nt.n_total AS corpus_ppm
             FROM btc c JOIN bd b USING (band) JOIN tt t USING (token), nt),
      rk AS (SELECT *, (band_ppm - corpus_ppm) AS excess_ppm,
                    row_number() OVER (PARTITION BY band
                      ORDER BY band_ppm - corpus_ppm DESC, token) AS rnk
             FROM sc)
      SELECT band::BIGINT AS band, token, n_bt::BIGINT AS n_bt,
             band_ppm::BIGINT AS band_ppm, corpus_ppm::BIGINT AS corpus_ppm,
             excess_ppm::BIGINT AS excess_ppm, rnk::BIGINT AS rnk
      FROM rk WHERE rnk <= $BurstTopK ORDER BY band, rnk""")),
    "q203_quality_pct_rank" -> ((q203QualityPctRank _, s"""
      WITH perdoc AS (
        SELECT doc_id, source,
               cast(round(($TtrSql) * 10000) AS BIGINT) AS ttr4
        FROM documents),
      marg AS (SELECT source, ttr4, count(*) AS cnt
               FROM perdoc GROUP BY 1, 2),
      pref AS (SELECT source, ttr4,
                      sum(cnt) OVER (PARTITION BY source ORDER BY ttr4)
                        - cnt AS n_lower,
                      sum(cnt) OVER (PARTITION BY source) AS n_src
               FROM marg)
      SELECT p.doc_id, p.source, p.ttr4,
             (f.n_lower * 1000000 // f.n_src)::BIGINT AS pct_ppm
      FROM perdoc p JOIN pref f USING (source, ttr4)
      ORDER BY doc_id""")),
    "q199_topgram_profile" -> ((q199TopGramProfile _, s"""
      WITH d AS (SELECT doc_id, length(text)::BIGINT AS n_chars,
                        list_filter(string_split(text, ' '), x -> x <> '') AS t
                 FROM documents),
      g AS (SELECT doc_id, n_chars, n,
                   unnest(list_transform(generate_series(1, len(t)-n+1),
                          i -> array_to_string(t[i:i+n-1], ' '))) AS g
            FROM d, unnest([${TopGramNs.mkString(", ")}]) AS u(n)
            WHERE len(t) >= n),
      c AS (SELECT doc_id, n_chars, n, g, count(*)::BIGINT AS cnt
            FROM g GROUP BY ALL),
      r AS (SELECT *,
                   row_number() OVER (PARTITION BY doc_id, n
                     ORDER BY cnt DESC, g) AS rn,
                   sum(cnt) OVER (PARTITION BY doc_id, n) AS n_grams,
                   count(*) OVER (PARTITION BY doc_id, n) AS n_unique
            FROM c)
      SELECT doc_id, n::BIGINT AS n, g AS top_gram, cnt AS top_count,
             (cnt * length(g) * 1000000 // n_chars)::BIGINT AS mass_ppm,
             n_grams::BIGINT AS n_grams, n_unique::BIGINT AS n_unique,
             ((n_grams - n_unique) * 1000000 // n_grams)::BIGINT AS dup_ppm
      FROM r WHERE rn = 1 ORDER BY doc_id, n""")),
    "q68_novelty" -> ((q68Novelty _, """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
        FROM tok, unnest(generate_series(1, len(t)-2)) AS r(i)
      ),
      intro AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
      SELECT sh.doc_id,
             sum(CASE WHEN i.first_doc = sh.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
             count(*) AS n_sh,
             round(sum(CASE WHEN i.first_doc = sh.doc_id THEN 1 ELSE 0 END)::DOUBLE
                   / count(*), 4) AS novelty
      FROM sh JOIN intro i ON i.s = sh.s
      GROUP BY sh.doc_id ORDER BY sh.doc_id"""))
  )
}
