package graftbench

import java.nio.file.Files
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

/** registry_read: a fixed sample of registry queries over a copy of the
  * sf0.01 tables. Each pass runs in a fresh `spark.newSession()`; each query
  * is built with `SparkEntry.queries(q)(session, dir)` and materialized with
  * `foreach`, as `graft.Bench` does. */
object RegistryRead {
  /** Stratified by ops module, outside the lake-lifecycle class q209-q233.
    * The generated classes of one pass overflow Spark's 100-entry codegen
    * cache, as the full registry's do. */
  val Sample: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "Relational", "q10_window_rank" -> "Relational",
    "q90_column_profile" -> "Relational", "q33_token_count" -> "TextOps",
    "q36_events_tumbling" -> "Streaming", "q44_dedup_embedding" -> "Similarity",
    "q53_knn_ivf" -> "Similarity")

  /** The ops module of each sampled query. */
  val Module: Map[String, String] = Sample.toMap

  /** The second warm pass doubles as the output check: it collects each
    * query's rows instead of discarding them, outside the timed window. */
  val CheckPass = 1

  def run(spark: SparkSession, run: Run, a: Main.Args): Unit = {
    require(a.warm > CheckPass, s"registry_read needs more than $CheckPass warm passes")
    val tracer = run.tracer
    val dir = a.input.toString
    val queries = SparkEntry.queries
    val expected = new ObjectMapper().readTree(a.expected.toFile)
    for (p <- 0 until a.warm + a.timed) {
      val phase = if (p < a.warm) "warm" else "timed"
      if (p == a.warm) run.startWindow()
      val traced = run.traceNext("pass", phase)
      val s = spark.newSession()
      if (traced) tracer.watch(s)
      Sample.foreach { case (q, _) =>
        val (o, r) = tracer.op(q, phase, traced) {
          val df = tracer.span("ops", "construct")(queries(q)(s, dir))
          if (p == CheckPass) df.collect().toSeq
          else { tracer.span("exec", "action")(df.foreach(_ => ())); Nil }
        }
        r match {
          case Right(rows) if p == CheckPass =>
            val e = expected.get(q)
            run.check(rows.length == e.get("rows").asLong,
              s"$q: ${rows.length} rows, expected ${e.get("rows")}")
            if (e.get("exact").asBoolean)
              run.check(hash(rows) == e.get("hash").asText, s"$q: content hash differs")
          case Right(_) =>
          case Left(e) => run.check(false, s"pass $p $q failed: $e")
        }
        run.after(o)
      }
    }
    run.endWindow()
  }

  /** Row count and content hash of every sampled query, plus each output as
    * parquet and its oracle SQL, for `crosscheck.py` to compare with DuckDB. */
  def record(spark: SparkSession, a: Main.Args): String = {
    val dir = a.input.toString
    val dump = a.work.resolve("dump")
    Files.createDirectories(dump)
    val oracle = SparkEntry.oracleSql
    val out = Sample.map { case (q, _) =>
      val df = SparkEntry.queries(q)(spark, dir)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(dump.resolve(q).toString)
      q -> Map("rows" -> rows.length, "hash" -> hash(rows),
        "oracle_sql" -> oracle.getOrElse(q, ""))
    }
    "GRAFTBENCH_RECORD " + Json.render(scala.collection.immutable.ListMap(out: _*))
  }

  /** Order-insensitive content hash: each row rendered canonically
    * (floating point to 12 significant digits), the renderings sorted, then
    * SHA-256 over them. */
  def hash(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => canon(r)).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => String.format(java.util.Locale.ROOT, "%02x", Byte.box(b))).mkString
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(12))
        .stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canon(k) + "->" + canon(x) }.toSeq.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map(b => String.format(java.util.Locale.ROOT, "%02x", Byte.box(b))).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case j: java.util.List[_] => j.asScala.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
