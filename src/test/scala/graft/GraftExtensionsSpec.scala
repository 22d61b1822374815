package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The spark.sql.extensions deployment route must resolve the native
  * functions without any imperative registration call.
  *
  * Extensions apply only when a session is BUILT, and the shared suite
  * session usually exists before this spec runs — so the check forks a
  * fresh JVM (same classpath + JVM flags as this forked test JVM) where
  * [[ExtensionsProbe]] owns the first session. Deterministic: no
  * first-session race, no self-cancel. */
class GraftExtensionsSpec extends AnyFunSuite {
  test("extensions-configured session resolves the injected functions") {
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    // the sbt-forked test JVM carries the add-opens/conf flags Spark needs;
    // hand the probe the same set
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.ExtensionsProbe")
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
      "extensions probe timed out")
    assert(p.exitValue() == 0 && out.contains("EXT_OK"),
      s"extensions probe failed (exit ${p.exitValue()}):\n" +
        out.linesIterator.toSeq.takeRight(30).mkString("\n"))
  }

  test("register restores the names a session's registry lacks, " +
    "iceberg_bucket included") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = TestSpark.spark.newSession()
    val reg = s.sessionState.functionRegistry
    val dropped = Seq("iceberg_bucket", "shingle_minhash")
    dropped.foreach(n => assert(reg.dropFunction(FunctionIdentifier(n)), n))
    graft.functions.TextHashExprs.register(s)
    val missing = graft.functions.TextHashExprs.sqlFunctions.map(_._1)
      .filterNot(n => reg.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered: $missing")
    val r = s.sql("SELECT iceberg_bucket(34, 16), " +
      "size(shingle_minhash('a b c d'))").head()
    assert(r.getInt(0) == 2017239379 % 16 &&
      r.getInt(1) == graft.ops.Dedup.NumHashes)
  }
}
