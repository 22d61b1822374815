package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide.md: one session per
  * suite; sharing across suites in the forked test JVM is cheaper still),
  * built by the production factory so test and entry-point sessions share
  * one configuration. */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    Session.builder(cpus = 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
  }
}
