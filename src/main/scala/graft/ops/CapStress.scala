package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Quadratic-pair cap calibration at scale — the committed form of the
  * "re-run the histogram before re-siting thresholds" procedure the cap
  * scaladocs promise ([[Dedup.DefaultMaxBucket]], [[Dedup.MaxAnchorBucket]]).
  *
  * Builds a `mult`-times-larger corpus from an existing `documents.parquet`
  * (each copy appends a variant token, so copy families are genuine
  * near-dups — a WORST-CASE densification: every bucket a real corpus has
  * grows `mult`-fold here), then reports, per signature family, the bucket
  * histogram and the ANALYTIC candidate-pair counts with and without the
  * cap (sum of n*(n-1)/2 over buckets — no quadratic join ever runs, so
  * the uncapped number is measurable even when it is billions), plus the
  * wall time of the registered quadratic-pair queries on the scaled
  * corpus.
  *
  * Usage: runMain graft.ops.CapStress [sfDir] [mult] [workDir]
  */
object CapStress {
  /** One signature family's bucket histogram and candidate-pair counts.
    * Numbers print in Locale.ROOT, here and in [[queryLine]]: under de_DE
    * the default locale prints `0,25` and the JSON would not parse. */
  private[graft] def familyLine(name: String, cap: Int, nBuckets: Long,
      maxBucket: Long, p999: Long, all: Long, kept: Long): String = {
    val dropped = if (all == 0) 0.0 else (all - kept).toDouble / all
    s"""{"family":"$name","cap":$cap,"n_buckets":$nBuckets,"max_bucket":$maxBucket,""" +
      s""""p999":$p999,"pairs_all":$all,"pairs_kept":$kept,"dropped_frac":""" +
      "%.4f}".formatLocal(java.util.Locale.ROOT, dropped)
  }

  private[graft] def queryLine(name: String, rows: Long, sec: Double): String =
    s"""{"query":"$name","rows":$rows,"sec":""" +
      "%.2f}".formatLocal(java.util.Locale.ROOT, sec)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val work = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-capstress").toString)
    val spark = graft.Session.builder().appName("graft-capstress")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir)
    // id offsetting needs the SPAN (ids may be sparse after upstream
    // filtering); the reported corpus size needs the COUNT — conflating
    // them overstates "docs" whenever ids have gaps
    val Seq(idSpan, nDocs) = {
      val r = docs.agg(max("doc_id"), count(lit(1))).head()
      require(!r.isNullAt(0), s"empty documents corpus under $sfDir")
      Seq(r.getLong(0) + 1, r.getLong(1))
    }
    docs.crossJoin(spark.range(mult).toDF("copy"))
      .select(
        (col("doc_id") + col("copy") * idSpan).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" variant"), col("copy")))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    val d = work
    println(s"""{"corpus":"$d","mult":$mult,"docs":${mult * nDocs}}""")

    def stats(name: String, buckets: DataFrame, keys: Seq[String],
              cap: Int): Unit = {
      val r = buckets
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_buckets"), max("n").as("max_bucket"),
          expr("cast(percentile(n, 0.999) as long)").as("p999"),
          sum(expr("n * (n - 1) div 2")).as("pairs_all"),
          sum(expr(s"CASE WHEN n <= $cap THEN n * (n - 1) div 2 " +
            "ELSE 0 END")).as("pairs_kept"))
        .head()
      println(familyLine(name, cap, r.getAs[Long]("n_buckets"),
        r.getAs[Long]("max_bucket"), r.getAs[Long]("p999"),
        r.getAs[Long]("pairs_all"), r.getAs[Long]("pairs_kept")))
    }

    stats("minhash_bands",
      Dedup.minhashes(spark, d).select(col("doc_id"),
        posexplode(array((0 until Dedup.NumBands).map(b => Dedup.bandKey(b)): _*))
          .as(Seq("band", "bkey"))),
      Seq("band", "bkey"), Dedup.DefaultMaxBucket)
    stats("simhash_chunks",
      Dedup.simhashes(spark, d).select(col("doc_id"),
        posexplode(expr("transform(sequence(0,3), c -> " +
          "(sim div shiftleft(cast(1 as bigint), c*15)) % 32768)"))
          .as(Seq("chunk", "ckey"))),
      Seq("chunk", "ckey"), Dedup.DefaultMaxBucket)
    stats("substr_anchors",
      Tables.documents(spark, d).select(col("doc_id"),
        explode(expr("anchor_fingerprints(text)")).as("fp")),
      Seq("fp"), Dedup.MaxAnchorBucket)
    // q108's index buckets ARE shingle document frequencies — this is the
    // histogram its stop-gram cap is sited on (the "CapStress measures it"
    // promise in the q108 scaladoc)
    stats("ngram_shingle_df",
      Dedup.shingled(spark, d)
        .select(col("doc_id"), explode(col("sh")).as("sh")),
      Seq("sh"), Dedup.MaxShingleDf)
    // q81's fan-out is bounded by sources^2 per shingle, not by a cap —
    // report the multiplicity histogram to confirm the bound holds
    stats("source_shingles",
      Tables.documents(spark, d)
        .select(col("source"), explode(expr("word_shingles(text)")).as("sh"))
        .distinct(),
      Seq("sh"), Int.MaxValue)

    Seq[(String, (SparkSession, String) => DataFrame)](
      ("q23_dedup_minhash", Dedup.q23DedupMinhash),
      ("q24_dedup_simhash", Dedup.q24DedupSimhash),
      ("q98_substr_overlap", Dedup.q98SubstrOverlap),
      ("q108_ngram_jaccard", Dedup.q108NgramJaccard),
      ("q81_source_overlap", Dedup.q81SourceOverlap)
    ).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val n = fn(spark, d).count()
      println(queryLine(name, n, (System.nanoTime() - t0) / 1e9))
    }
    spark.stop()
  }
}
