package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import graft.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs, launches this
  * with the workload's plan, and turns the final `GRAFTBENCH_RESULT` line
  * into the benchmark's result.
  *
  * Lines it prints on stdout:
  *   - `GRAFTBENCH_COLD` as soon as the first (cold) operation returns;
  *   - a curve line (see [[Run.curveLine]]) for every operation;
  *   - `GRAFTBENCH_RESULT {json}` last. */
object Main {
  final case class Args(workload: String, trace: Boolean, curve: Boolean,
                        input: Path, work: Path, expected: Path,
                        warm: Int, timed: Int, every: Int, cpus: Int,
                        record: Boolean, layerMetrics: Seq[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), kv.get("trace").contains("1"), kv.get("curve").contains("1"),
      Paths.get(get("input")), Paths.get(get("work")), Paths.get(get("expected")),
      kv.getOrElse("warm", "0").toInt, kv.getOrElse("timed", "0").toInt,
      kv.getOrElse("every", "0").toInt, get("cpus").toInt,
      kv.get("record").contains("1"),
      kv.get("layer-metrics").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  /** `graft.Bench`'s session settings plus `GraftExtensions`; every other
    * setting keeps Spark's default. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a.cpus)
    try {
      if (a.record) println(RegistryRead.record(spark, a))
      else {
        val tracer = new Tracer(spark, a.trace)
        val run = new Run(tracer, a.curve)
        a.workload match {
          case "singer_sync"   => SingerSync.run(spark, run, a)
          case "registry_read" => RegistryRead.run(spark, run, a)
          case w => sys.error(s"unknown workload $w")
        }
        println("GRAFTBENCH_RESULT " + Json.render(run.result(a.work, a.layerMetrics)))
      }
    } finally spark.stop()
  }
}

/** State shared by the workloads: the timed window, the output checks and
  * the result. */
final class Run(val tracer: Tracer, val curve: Boolean) {
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var windowStart: JvmSample = _
  private var windowEnd: JvmSample = _
  private var statBefore = ""
  private var statAfter = ""
  private var cold = false
  private val tracedByKind = mutable.Map.empty[String, Int].withDefaultValue(0)

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  private def procStat(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/stat"))) catch { case _: Throwable => "" }

  def startWindow(): Unit = { statBefore = procStat(); windowStart = Jvm.sample() }
  def endWindow(): Unit = { windowEnd = Jvm.sample(); statAfter = procStat() }

  /** In a traced run, every other timed operation of each kind is traced,
    * so traced and untraced operations interleave at the same history depth
    * and `trace.overhead_ratio` compares like with like. */
  def traceNext(kind: String, phase: String): Boolean =
    tracer.tracing && phase == "timed" && {
      val n = tracedByKind(kind); tracedByKind(kind) = n + 1; n % 2 == 0
    }

  def after(o: Op, snapshots: Long = -1L): Unit = {
    if (!cold) { cold = true; println("GRAFTBENCH_COLD"); Console.out.flush() }
    println(Run.curveLine(o, snapshots))
  }

  /** The result; in a traced run, `layerMetrics` are the per-layer metrics
    * to report. */
  def result(work: Path, layerMetrics: Seq[String]): Map[String, Any] = {
    val ops = tracer.ops
    val timed = ops.filter(_.phase == "timed")
    val ok = timed.filterNot(_.failed)
    def geomean(sel: Op => Boolean): Double = {
      val byKind = ok.filter(sel).groupBy(_.kind).map { case (k, v) => k -> v.map(_.wallMs).toSeq }
      if (byKind.isEmpty) Double.NaN else Stats.geomeanOfMedians(byKind)
    }
    val windowS = (windowEnd.epochNs - windowStart.epochNs) / 1e9
    val steal = Stats.stealRate(statBefore, statAfter, windowS)
    val metrics = mutable.LinkedHashMap[String, Double](
      "op_geomean_ms" -> geomean(_ => true),
      "op_cpu_ms" -> (windowEnd.processCpuNs - windowStart.processCpuNs) / 1e6 / math.max(1, timed.size),
      "rss_peak_mb" -> Jvm.peakRssMb)
    if (tracer.tracing) {
      tracer.settle()
      tracer.writeSpans(work.resolve("spans.jsonl"))
      Layers.aggregate(tracer, layerMetrics).foreach { case (k, v) => metrics(k) = v }
      metrics("host.steal_jiffies_per_s") = steal
      // the same kinds on both sides, so the ratio compares like with like
      val both = ok.groupBy(_.kind).filter(_._2.map(_.traced).distinct.size == 2).keySet
      metrics("trace.overhead_ratio") =
        geomean(o => o.traced && both(o.kind)) / geomean(o => !o.traced && both(o.kind))
    }
    Map(
      "correct" -> (problems.isEmpty && !ops.exists(_.failed)),
      "attempted" -> ops.size,
      "failed" -> ops.count(_.failed),
      "problems" -> problems.take(20).toSeq,
      "samples" -> ok.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "medians_ms" -> ok.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.wallMs).toSeq) },
      "window_s" -> windowS,
      "steal_jiffies_per_s" -> steal,
      "metrics" -> metrics)
  }
}

object Run {
  /** `curve <op> <kind> <phase> <wall_ms> <cpu_ms> <jit_ms> <compiles> <snapshots>`,
    * snapshots -1 where not measured. `Double.toString` ignores the default
    * locale, so the numbers always have a decimal point. */
  def curveLine(o: Op, snapshots: Long): String =
    Seq("curve", o.id, o.kind, o.phase, o.wallMs.toString, o.cpuMs.toString,
      o.jitMs.toString, o.compiles, snapshots).mkString(" ")
}
