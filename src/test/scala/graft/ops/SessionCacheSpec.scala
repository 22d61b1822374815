package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ops layer's one memo ([[SessionCache]]): a corpus rewritten in place
  * is served fresh after the refresh hook (every family, not a subset), a
  * rewritten table's schema is detected without it, sessions leave no
  * listener behind, the hook releases checkpoints and eviction does not. */
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
}
