package graft.ops

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ops layer's one memo ([[SessionCache]]): a corpus rewritten in place
  * is served fresh after the refresh hook (every family, not a subset), a
  * rewritten table's schema is detected without it, sessions leave no
  * listener behind, the hook releases checkpoints and eviction does not.
  * Slots are shared by the context's sessions: a fresh session reuses an
  * unchanged corpus's derivations, sees a changed corpus fresh, gets its
  * own slot under another time zone, and is served frames bound to it. */
class SessionCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Write `name` of the sf0.001 fixture into `dir` with its key column
    * mirrored (id -> max - id), or unchanged: the "rewrite in place". */
  private def writeCorpus(dir: String, name: String, key: String,
                          mirrored: Boolean): Unit = {
    val src = spark.read.parquet(s"$sf/$name.parquet")
    val out =
      if (!mirrored) src
      else {
        val top = src.agg(max(key)).head().getLong(0)
        src.withColumn(key, lit(top) - col(key))
      }
    out.write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** `q` on a corpus, then on the same dir rewritten in place after the
    * refresh hook, must equal a fresh session's `q` on the new corpus. */
  private def refreshedEqualsFresh(name: String, key: String)(
      q: (org.apache.spark.sql.SparkSession, String) => DataFrame): Unit = {
    val dir = tempDir("graft-refresh-")
    writeCorpus(dir, name, key, mirrored = false)
    val before = rows(q(spark, dir))
    writeCorpus(dir, name, key, mirrored = true)
    Dedup.invalidateClusterCache()
    val after = rows(q(spark, dir))
    // slots are shared by sessions: drop them again so the fresh session
    // derives from scratch rather than hitting `after`'s entries
    Dedup.invalidateClusterCache()
    val fresh = rows(q(spark.newSession(), dir))
    assert(fresh != before, "the rewrite must change the answer")
    assert(after == fresh)
  }

  test("q171 after the refresh hook equals a fresh session's on the new corpus") {
    refreshedEqualsFresh("embeddings", "vec_id")(Similarity.q171AssignmentChurn)
  }

  test("q131 after the refresh hook equals a fresh session's on the new corpus") {
    refreshedEqualsFresh("documents", "doc_id")(TextOps.q131Bm25Retrieval)
  }

  test("Tables.t sees a column added by an in-place rewrite, no hook needed") {
    import spark.implicits._
    val dir = tempDir("graft-schema-")
    Seq(1L, 2L).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.t(spark, dir, "t").columns.toSeq == Seq("a"))
    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.t(spark, dir, "t")
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(rows(df) == Seq("[3,x]"))
  }

  test("fresh sessions running q53 add no listener to the context") {
    val sc = spark.sparkContext
    def listeners(): Int = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("listeners").invoke(bus)
        .asInstanceOf[java.util.List[_]].size
    }
    // each session's own ExecutionListenerBus joins the context when its
    // state is built: build all eight before the baseline
    val sessions = Seq.fill(8)(spark.newSession())
    sessions.foreach(_.listenerManager)
    val base = listeners()
    sessions.foreach(s => Similarity.q53KnnIvf(s, sf).collect())
    // <=: Spark's cleaner may drop buses of sessions collected meanwhile
    assert(listeners() <= base)
  }

  private def checkpointIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }

  test("the refresh hook unpersists the checkpoints it drops") {
    val s = spark.newSession()
    val held = Seq(Dedup.dupLabels(s, sf), Similarity.bruteTruthAtLshK(s, sf))
    val ids = held.flatMap(checkpointIds)
    assert(ids.size == 2)
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains))
    Dedup.invalidateClusterCache()
    val left = ids.filter(spark.sparkContext.getPersistentRDDs.contains)
    assert(left.isEmpty, s"still persisted: $left")
  }

  test("a frame obtained before its slot was evicted still collects") {
    val s = spark.newSession()
    val truth = Similarity.bruteTruthAtLshK(s, sf)
    val expected = rows(truth)
    // touching MaxCachedCorpora other corpora evicts (s, sf)'s slot
    (1 to SessionCache.MaxCachedCorpora).foreach { _ =>
      val other = tempDir("graft-evict-")
      spark.range(1).write.parquet(s"$other/x.parquet")
      Tables.t(s, other, "x")
    }
    val rederived = Similarity.bruteTruthAtLshK(s, sf)
    assert(!(rederived eq truth), "the slot was not evicted")
    assert(checkpointIds(truth).forall(spark.sparkContext.getPersistentRDDs.contains))
    assert(rows(truth) == expected)
    assert(rows(rederived) == expected)
  }

  /** Drain the context's listener bus, so every event posted so far has
    * reached its listeners. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** `body`'s value and the number of Spark jobs it launched. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain()
    sc.addSparkListener(listener)
    try { val v = body; drain(); (v, jobs.get) }
    finally sc.removeSparkListener(listener)
  }

  test("a second fresh session builds q53 and q44 with no job and no fit") {
    val a = spark.newSession()
    val expected53 = rows(Similarity.q53KnnIvf(a, sf)).sorted
    val expected44 = rows(Similarity.q44DedupEmbedding(a, sf)).sorted
    val b = spark.newSession()
    val fits = Similarity.kmeansFits.get()
    val before = SessionCache.stats
    val ((q53, q44), jobs) = jobsDuring(
      (Similarity.q53KnnIvf(b, sf), Similarity.q44DedupEmbedding(b, sf)))
    val after = SessionCache.stats
    assert(jobs == 0, s"construction launched $jobs job(s)")
    assert(after.misses == before.misses && after.hits > before.hits)
    assert(Similarity.kmeansFits.get() == fits)
    assert(rows(q53).sorted == expected53)
    assert(rows(q44).sorted == expected44)
  }

  test("a new session sees a corpus rewritten in place without the hook") {
    val dir = tempDir("graft-identity-")
    writeCorpus(dir, "embeddings", "vec_id", mirrored = false)
    val before = rows(Similarity.q171AssignmentChurn(spark.newSession(), dir))
    writeCorpus(dir, "embeddings", "vec_id", mirrored = true)
    val b = spark.newSession()
    val s0 = SessionCache.stats
    // a cached family first, so no Tables.t listing check runs before it
    val (labels, cents) = Similarity.kmeansFit(b, dir)
    val s1 = SessionCache.stats
    // one identity check found the corpus changed and replaced the slot
    assert(s1.revalidations == s0.revalidations + 1 && s1.stale == s0.stale + 1)
    val seen = rows(Similarity.q171AssignmentChurn(b, dir))
    Dedup.invalidateClusterCache()
    val c = spark.newSession()
    val fresh = rows(Similarity.q171AssignmentChurn(c, dir))
    assert(fresh != before, "the rewrite must change the answer")
    assert(seen == fresh)
    val (freshLabels, freshCents) = Similarity.kmeansFit(c, dir)
    assert(labels.toSeq == freshLabels.toSeq &&
      cents.map(_.toSeq).toSeq == freshCents.map(_.toSeq).toSeq)

    import spark.implicits._
    Seq(1L, 2L).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.t(spark.newSession(), dir, "t").columns.toSeq == Seq("a"))
    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val s2 = SessionCache.stats
    val df = Tables.t(spark.newSession(), dir, "t")
    val s3 = SessionCache.stats
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(rows(df) == Seq("[3,x]"))
    assert(s3.revalidations == s2.revalidations + 1 && s3.stale == s2.stale + 1)
  }

  test("a session under another time zone gets its own slot") {
    val a = spark.newSession()
    Tables.t(a, sf, "nation")
    val s0 = SessionCache.stats
    Tables.t(spark.newSession(), sf, "nation")
    val s1 = SessionCache.stats
    assert(s1.hits == s0.hits + 1 && s1.misses == s0.misses, "a sibling hits")
    val zoned = spark.newSession()
    zoned.conf.set("spark.sql.session.timeZone", "America/New_York")
    Tables.t(zoned, sf, "nation")
    assert(SessionCache.stats.misses == s1.misses + 1, "another zone misses")
    assert(!(SessionCache.lockFor(zoned, sf) eq SessionCache.lockFor(a, sf)))
  }

  test("a frame served to another session is bound to it and its listeners") {
    val a = spark.newSession()
    val b = spark.newSession()
    val fromA = Dedup.dupLabels(a, sf)
    val fromB = Dedup.dupLabels(b, sf)
    assert(fromA.sparkSession eq a)
    assert(fromB.sparkSession eq b)
    assert(checkpointIds(fromB) == checkpointIds(fromA), "one shared checkpoint")
    def counting(s: org.apache.spark.sql.SparkSession) = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      s.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
          n.incrementAndGet(); ()
        }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      n
    }
    val (seenA, seenB) = (counting(a), counting(b))
    fromB.collect()
    drain()
    assert(seenB.get == 1 && seenA.get == 0)
  }
}
