package graft.ops

import graft.TestSpark
import graft.lake.DirectoryLakeCatalog
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r6 #4: the trained ANN index survives the session that trained
  * it. Train + persist the codebook in session A, install it in a fresh
  * session B, and probe — with the Lloyd's-loop counter proving session B
  * never retrained. */
class CodebookPersistenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("train in A, persist, probe in B with zero k-means fits") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = s"cb_${System.nanoTime()}"

    // session A: train (memoized fit) + persist
    val persisted = Similarity.codebookTable(spark, sf, cat, ns)
    assert(persisted.count() == Similarity.kmeansFit(spark, sf)._1.length,
      "the persisted codebook is exactly the surviving clusters")
    val refIvf = Similarity.q53KnnIvf(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"))).toSet

    // session B: fresh SparkSession. The fit cache is shared by the
    // context's sessions, so drop it first: B's zero fits then prove the
    // install, not a hit on A's fit. Install the persisted index, probe
    Dedup.invalidateClusterCache()
    val b = spark.newSession()
    val fitsBefore = Similarity.kmeansFits.get()
    Similarity.installCodebook(b, sf, cat, ns)
    val bIvf = Similarity.q53KnnIvf(b, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"))).toSet
    assert(bIvf == refIvf, "probing the persisted codebook reproduces the " +
      "trainer session's IVF results exactly")

    // the recall monitor runs green against the installed index too
    val recall = Similarity.q105AnnRecall(b, sf).collect()
    assert(recall.nonEmpty)
    val ivfTier = recall.filter(_.getAs[String]("tier") == "ivf")
    assert(ivfTier.nonEmpty, "recall monitor reports the IVF tier")

    assert(Similarity.kmeansFits.get() == fitsBefore,
      "session B observed ZERO Lloyd's loops — the persisted index was " +
        "probed, not retrained")
    cat.dropNamespace(ns)
  }

  test("PQ codebooks persist; streaming ingest writes q137-equal rows in a fresh session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = s"pqcb_${System.nanoTime()}"

    // session A: train (memoized) + persist BOTH quantizers
    Similarity.codebookTable(spark, sf, cat, ns)
    val persisted = Similarity.pqCodebookTable(spark, sf, cat, ns)
    assert(persisted.count() ==
        Similarity.pqFit(spark, sf).map(_._1.length).sum,
      "the persisted PQ codebook is exactly the surviving clusters per subspace")
    val refCodes = Similarity.q137PqCodes(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (0 until Similarity.PqM).map(m => r.getAs[Long](s"code_$m"))).toMap
    val refCells = Similarity.q85KMeans(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster"))).toMap
    val sample = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").orderBy("vec_id").limit(4).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val crashVec = sample.last // held back for the mid-epoch crash phase
    val clean = sample.dropRight(1)

    // session B: install from the lake (after dropping A's shared fits, so
    // no hit stands in for the install), stream vectors through the ingest
    // sink — zero training observed on either quantizer
    Dedup.invalidateClusterCache()
    val b = spark.newSession()
    val kBefore = Similarity.kmeansFits.get()
    val pBefore = Similarity.pqFits.get()
    Similarity.installCodebook(b, sf, cat, ns)
    Similarity.installPqCodebook(b, sf, cat, ns)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = b.sqlContext
    import b.implicits._
    val in = MemoryStream[(Long, Seq[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ann-ckpt").toString
    def start() = Streaming.annIngestSink(b, sf,
      in.toDF().toDF("vec_id", "embedding"), cat, ns, "ann_index", ckpt)
    val q = start()
    try {
      // epoch 1 carries an INTRA-batch duplicate (at-least-once redelivery
      // inside the epoch) — it must index once
      in.addData((clean.take(2) :+ clean.head).toSeq)
      q.processAllAvailable()
      in.addData(clean.drop(2).toSeq) // epoch 2 appends
      q.processAllAvailable()
      // an at-least-once replay of already-indexed vectors must not
      // duplicate their index rows (the anti-join guard)
      in.addData(clean.take(2).toSeq)
      q.processAllAvailable()
      val rows = cat.load(ns, "ann_index").collect()
      assert(rows.length == clean.length,
        "replayed vectors were appended twice")
      rows.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        assert(r.getAs[Long]("cell") == refCells(id))
        (0 until Similarity.PqM).foreach(m =>
          assert(r.getAs[Long](s"code_$m") == refCodes(id)(m)))
      }
      assert(Similarity.kmeansFits.get() == kBefore &&
        Similarity.pqFits.get() == pBefore,
        "session B observed ZERO training loops on either quantizer")
      // mid-epoch crash: the index row appended, the checkpoint commit
      // lost — restarting from the same checkpoint redelivers the epoch
      // and the vec_id anti-join must absorb it
      Streaming.CrashHook.arm()
      in.addData(Seq(crashVec))
      intercept[Exception](q.processAllAvailable())
      assert(cat.load(ns, "ann_index")
        .filter(org.apache.spark.sql.functions.col("vec_id") === crashVec._1)
        .count() == 1, "the crashed epoch's append should have landed")
      val q2 = start()
      try {
        q2.processAllAvailable() // replay
        assert(cat.load(ns, "ann_index").count() == sample.length.toLong,
          "replayed crash epoch duplicated index rows")
        assert(cat.load(ns, "ann_index")
          .groupBy("vec_id").count()
          .filter(org.apache.spark.sql.functions.col("count") > 1)
          .count() == 0)
      } finally q2.stop()
    } finally {
      graft.ops.Streaming.CrashHook.disarm()
      q.stop()
      cat.dropNamespace(ns)
    }
  }

  test("installPqCodebook refuses an empty table") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = s"pqe_${System.nanoTime()}"
    import org.apache.spark.sql.types._
    cat.ensureTable(ns, "pq_codebook", StructType(Seq(
      StructField("m", IntegerType), StructField("idx", IntegerType),
      StructField("label", LongType),
      StructField("centroid", ArrayType(LongType)))))
    val e = intercept[IllegalArgumentException](
      Similarity.installPqCodebook(spark.newSession(), sf, cat, ns))
    assert(e.getMessage.contains("empty"))
    cat.dropNamespace(ns)
  }

  test("installCodebook refuses an empty table") {
    val cat = DirectoryLakeCatalog.temp(spark)
    val ns = s"cbe_${System.nanoTime()}"
    import org.apache.spark.sql.types._
    cat.ensureTable(ns, "ann_codebook", StructType(Seq(
      StructField("idx", IntegerType), StructField("label", LongType),
      StructField("centroid", ArrayType(LongType)))))
    val e = intercept[IllegalArgumentException](
      Similarity.installCodebook(spark.newSession(), sf, cat, ns))
    assert(e.getMessage.contains("empty"))
    cat.dropNamespace(ns)
  }
}
