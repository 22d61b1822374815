package graft

import org.apache.spark.sql.SparkSession

/** Forked-JVM probe for [[GraftExtensionsSpec]]: builds the JVM's FIRST
  * session with `spark.sql.extensions=graft.GraftExtensions` — the only
  * moment extensions can apply — checks that every function of the one
  * list resolves and exercises some of them.
  * Prints `EXT_OK` and exits 0 on success; any failure exits nonzero. */
object ExtensionsProbe {
  def main(args: Array[String]): Unit = {
    require(SparkSession.getActiveSession.isEmpty &&
      SparkSession.getDefaultSession.isEmpty,
      "probe must own the first session of its JVM")
    val wh = java.nio.file.Files.createTempDirectory("graft-ext-wh").toString
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-probe")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    try {
      val reg = s.sessionState.functionRegistry
      val missing = graft.functions.TextHashExprs.sqlFunctions.map(_._1)
        .filterNot(n => reg.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
      require(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
      val r = s.sql(
        "SELECT size(shingle_minhash('a b c d')) AS n, token_simhash('x y') AS sh")
        .head()
      require(r.getAs[Int]("n") == graft.ops.Dedup.NumHashes,
        s"shingle_minhash arity: ${r.getAs[Int]("n")}")
      require(!r.isNullAt(1), "token_simhash returned null")
      val r5 = s.sql("SELECT dhash64(encode('abcdef', 'UTF-8')) AS dh, " +
        "anchor_fingerprints('some text long enough for a window') AS af")
        .head()
      require(r5.getLong(0) ==
        DHashReference.value, "dhash64 mismatch")
      require(!r5.isNullAt(1), "anchor_fingerprints returned null")
      println("EXT_OK")
    } finally s.stop()
  }

  /** Referenced lazily so the comparison constant is computed in-probe. */
  private object DHashReference {
    val value: Long = graft.functions.DHash64.hash("abcdef".getBytes("UTF-8"))
  }
}
