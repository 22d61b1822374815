package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM-wide counters at one instant. `epochNs` is wall time on the epoch
  * scale, so it compares with Spark's event timestamps. */
final case class JvmSample(epochNs: Long, processCpuNs: Long, threadCpuNs: Long,
                           jitMs: Long, gcMs: Long, compiles: Long, classes: Long)

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  /** `processCpuNs` covers every thread (task threads, driver, GC, JIT)
    * and, on a kernel with paravirt time accounting, excludes host steal. */
  def sample(): JvmSample = JvmSample(nowNs, os.getProcessCpuTime,
    threads.getCurrentThreadCpuTime, jit.getTotalCompilationTime,
    gcs.map(g => math.max(0L, g.getCollectionTime)).sum,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)

  /** Spark keeps compile times and class sizes as sampled histograms, not
    * sums, so per-span totals are estimated as count x the histogram mean. */
  def compileMsMean: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
  def classBytesMean: Double =
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean

  /** Peak resident set (VmHWM) of this process, MB. */
  def peakRssMb: Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0))
}

/** One timed call into a layer. Children are the spans opened inside it
  * plus the Spark jobs launched while it was innermost. */
final class Span(val id: Int, val parent: Int, val op: Int, val layer: String,
                 val name: String, val begin: JvmSample) {
  var end: JvmSample = begin
  var compileMs = 0.0
  var classBytes = 0.0
  def startNs: Long = begin.epochNs
  def endNs: Long = end.epochNs
  def ms: Double = (endNs - startNs) / 1e6
}

/** One operation of the closed loop. `facts` carries workload-side numbers
  * (rows written, history depth, files added) recorded outside its timing. */
final class Op(val id: Int, val kind: String, val phase: String,
               val traced: Boolean, val begin: JvmSample) {
  var end: JvmSample = begin
  var failed = false
  val facts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def wallMs: Double = (end.epochNs - begin.epochNs) / 1e6
  def cpuMs: Double = (end.processCpuNs - begin.processCpuNs) / 1e6
  def jitMs: Double = (end.jitMs - begin.jitMs).toDouble
  def compiles: Long = end.compiles - begin.compiles
}

final class JobRec(val jobId: Int, val op: Int, val span: Int, val startNs: Long,
                   val stageIds: Seq[Int]) {
  var endNs: Long = -1L
}

final class StageRec {
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var shuffleRead = 0.0
  var shuffleWrite = 0.0
  var spill = 0.0
  var inputBytes = 0.0
}

/** One query execution's Catalyst phases (name, start ns, end ns) and
  * parquet scan metrics. */
final case class QeRec(atNs: Long, phases: Seq[(String, Long, Long)],
                       files: Double, bytes: Double, rows: Double) {
  def phaseMs(name: String): Double =
    phases.filter(_._1 == name).map(p => (p._3 - p._2) / 1e6).sum
}

/** Operations, spans and the Spark events they caused. Spans are kept in
  * memory and written out by [[writeSpans]] when the run ends. Only the
  * harness thread opens spans; a call from any other thread runs untraced. */
final class Tracer(spark: SparkSession, val tracing: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  private val harness = Thread.currentThread()
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var current: Op = null

  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty
  val stages: mutable.Map[Int, StageRec] = mutable.HashMap.empty
  val qes: mutable.ArrayBuffer[QeRec] = mutable.ArrayBuffer.empty

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val op = prop(OpKey).map(_.toInt).getOrElse(-1)
      val span = prop(SpanKey).map(_.toInt).getOrElse(-1)
      Tracer.this.synchronized {
        jobs += new JobRec(e.jobId, op, span, e.time * 1000000L, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.jobId == e.jobId).foreach(_.endNs = e.time * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskInfo.failed) Tracer.this.synchronized {
        stages.getOrElseUpdate(e.stageId, new StageRec).failedTasks += 1
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      Tracer.this.synchronized {
        val r = stages.getOrElseUpdate(i.stageId, new StageRec)
        r.tasks += i.numTasks
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuMs += m.executorCpuTime / 1e6
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  /** Catalyst phases from each action's `QueryExecution.tracker`, and
    * parquet scan metrics from its executed plan. Registered per session,
    * because `newSession()` starts with no execution listeners. */
  val qeListener: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      val scans = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.fileFormat.getClass.getSimpleName.contains("Parquet") => s
      }
      def sum(k: String) = scans.map(_.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)).sum
      val at = ph.values.map(_.endTimeMs).maxOption.map(_ * 1000000L).getOrElse(Jvm.nowNs)
      Tracer.this.synchronized {
        qes += QeRec(at, Seq("analysis", "optimization", "planning").flatMap(k =>
          ph.get(k).map(p => (k, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))),
          sum("numFiles"), sum("filesSize"), sum("numOutputRows"))
      }
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (tracing) sc.addSparkListener(jobListener)

  def watch(session: SparkSession): Unit =
    if (tracing) session.listenerManager.register(qeListener)

  /** Run one operation of the closed loop. A failure is recorded on the op
    * and returned, never thrown. */
  def op[T](kind: String, phase: String, traced: Boolean)(body: => T)
      : (Op, Either[Throwable, T]) = {
    val on = traced && tracing
    if (on) {
      sc.setJobGroup(s"graftbench-op-${ops.size}", kind, interruptOnCancel = false)
      sc.setLocalProperty(OpKey, ops.size.toString)
    }
    val o = new Op(ops.size, kind, phase, on, Jvm.sample())
    ops += o
    current = o
    val r = try Right(span("op", kind)(body)) catch { case e: Throwable => Left(e) }
    o.end = Jvm.sample()
    current = null
    if (on) {
      sc.clearJobGroup()
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(SpanKey, null)
    }
    o.failed = r.isLeft
    (o, r)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (current == null || !current.traced || (Thread.currentThread() ne harness)) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        current.id, layer, name, Jvm.sample())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = Jvm.sample()
        val compiles = s.end.compiles - s.begin.compiles
        if (compiles > 0) s.compileMs = compiles * Jvm.compileMsMean
        val classes = s.end.classes - s.begin.classes
        if (classes > 0) s.classBytes = classes * Jvm.classBytesMean
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait for the listener bus, then give every job an op and a span:
    * jobs launched off the harness thread carry no properties and are
    * placed by start time in the op then running, under its root span. */
  def settle(): Unit = if (tracing) {
    GraftbenchBus.drain(sc)
    synchronized {
      val placed = jobs.map { j =>
        if (j.op >= 0 && j.span >= 0) j
        else ops.find(o => o.begin.epochNs <= j.startNs && j.startNs <= o.end.epochNs)
          .filter(_.traced) match {
            case Some(o) =>
              val root = spans.find(s => s.op == o.id && s.parent < 0).map(_.id).getOrElse(-1)
              val r = new JobRec(j.jobId, o.id, root, j.startNs, j.stageIds)
              r.endNs = j.endNs
              r
            case None => j
          }
      }
      jobs.clear()
      jobs ++= placed
    }
  }

  def writeSpans(file: Path): Unit = {
    val lines = spans.map { s =>
      Json.render(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "process_cpu_ms" -> (s.end.processCpuNs - s.begin.processCpuNs) / 1e6,
        "thread_cpu_ms" -> (s.end.threadCpuNs - s.begin.threadCpuNs) / 1e6,
        "jit_ms" -> (s.end.jitMs - s.begin.jitMs), "gc_ms" -> (s.end.gcMs - s.begin.gcMs),
        "codegen_compiles" -> (s.end.compiles - s.begin.compiles),
        "codegen_compile_ms" -> s.compileMs))
    } ++ jobs.map { j =>
      Json.render(mutable.LinkedHashMap[String, Any](
        "job" -> j.jobId, "parent" -> j.span, "op" -> j.op, "layer" -> "exec",
        "name" -> "spark-job", "start_ns" -> j.startNs, "end_ns" -> j.endNs))
    } ++ qes.flatMap { q =>
      // placed by time, like jobs without a span property
      val op = ops.find(o => o.traced && o.begin.epochNs <= q.atNs && q.atNs <= o.end.epochNs)
        .map(_.id).getOrElse(-1)
      q.phases.map { case (name, start, end) =>
        Json.render(mutable.LinkedHashMap[String, Any](
          "op" -> op, "layer" -> "catalyst", "name" -> name,
          "start_ns" -> start, "end_ns" -> end))
      } :+ Json.render(mutable.LinkedHashMap[String, Any](
        "op" -> op, "layer" -> "scan", "name" -> "parquet-scan", "at_ns" -> q.atNs,
        "files" -> q.files, "bytes" -> q.bytes, "rows" -> q.rows))
    }
    Files.write(file, lines.asJava)
  }
}

object Tracer {
  val OpKey = "graftbench.op"
  val SpanKey = "graftbench.span"
}
