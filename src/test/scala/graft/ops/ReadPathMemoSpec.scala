package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Focused contract tests for the r16 read-path optimizations: the
  * schema memo in [[Tables.t]] (skip the one-task parquet
  * schema-inference job on repeat reads) and the shared ANN query anchor
  * in [[Similarity]] — both must be pure plumbing: byte-identical schemas
  * and values vs the un-memoized derivation, invalidated by the corpus
  * refresh hook. */
class ReadPathMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("Tables.t memo: repeat construction runs zero jobs, schema identical") {
    val s = spark.newSession()
    Tables.t(s, sf, "orders").count() // first read infers + executes
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      // constructing the reader again must launch NO job (the old bare
      // spark.read.parquet ran mergeSchemasInParallel -> RDD.collect here)
      val df = Tables.t(s, sf, "orders")
      val schemaMemoed = df.schema
      Thread.sleep(500) // listener bus is async
      assert(jobs.get() == 0,
        s"memoized Tables.t construction launched ${jobs.get()} job(s)")
      // and the memoed schema is exactly what a fresh session's inference
      // returns (nullability included — DataType equality is deep)
      val fresh = spark.newSession()
      val inferred = fresh.read.parquet(s"$sf/orders.parquet").schema
      assert(schemaMemoed == inferred)
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("query anchor: memoized tiers equal a fresh session's derivation") {
    val a = Similarity.q25KnnBrute(spark, sf).collect().toSeq
    // same query in a brand-new session after the refresh hook (the cache
    // is shared by the context's sessions): anchor + truth re-derive from
    // parquet from scratch — values must be identical
    Dedup.invalidateClusterCache()
    val fresh = spark.newSession()
    val b = Similarity.q25KnnBrute(fresh, sf).collect().toSeq
    assert(a == b)
  }

  test("corpus refresh hook invalidates the similarity-side memos") {
    val before = Similarity.q26KnnLsh(spark, sf).collect().toSeq
    // the documented in-place-refresh hook must also clear the anchor and
    // brute-truth memos (ADVICE r15) — after it, results still re-derive
    // to the same values from the unchanged parquet corpus
    Dedup.invalidateClusterCache()
    val after = Similarity.q26KnnLsh(spark, sf).collect().toSeq
    assert(before == after)
  }
}
