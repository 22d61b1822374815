package graftbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.lake.BatchLoader
import org.apache.spark.sql.SparkSession

/** singer_sync: a series of Meltano-cadence syncs, each one feed file
  * `loadPaths`-loaded into the same namespace of a directory catalog, with a
  * `readback` of every table after every k-th sync. The first `warm` syncs
  * (and their read-backs) run untimed into the same namespace, so the timed
  * syncs start past the JIT slope and at the same history depth every run. */
object SingerSync {
  private val mapper = new ObjectMapper()

  /** One feed file as `feedgen.py` describes it in `expected.json`. */
  final case class Feed(path: Path, bytes: Long, records: Long,
                        rows: Map[String, Long], rejected: Map[String, Long],
                        state: JsonNode)

  def feeds(input: Path, expected: Path): (Seq[String], Seq[Feed]) = {
    val doc = mapper.readTree(expected.toFile)
    def counts(n: JsonNode) = n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val streams = doc.get("streams").elements().asScala.map(_.asText).toSeq
    val files = doc.get("files").elements().asScala.map { f =>
      Feed(input.resolve(f.get("file").asText), f.get("bytes").asLong,
        f.get("records").asLong, counts(f.get("rows")), counts(f.get("rejected")),
        f.get("state"))
    }.toSeq
    (streams, files)
  }

  def run(spark: SparkSession, run: Run, a: Main.Args): Unit = {
    val (streams, files) = feeds(a.input, a.expected)
    require(files.size >= a.warm + a.timed, s"${files.size} feed files for ${a.warm + a.timed} syncs")
    val tracer = run.tracer
    if (tracer.tracing) tracer.watch(spark)
    val catalog = new TimedCatalog(spark, a.work.resolve("lake"), tracer)
    val ns = "sync"
    val loader = new BatchLoader(spark, catalog, namespace = ns, addRecordMetadata = true)
    val loaded = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def depth() = catalog.snapshotIds(ns, streams.head).size.toLong

    for (i <- 0 until a.warm + a.timed) {
      val phase = if (i < a.warm) "warm" else "timed"
      if (i == a.warm) run.startWindow()
      val f = files(i)
      val traced = run.traceNext("sync", phase)
      val measure = traced || run.curve
      val before = if (measure) catalog.footprint(ns) else null
      val (o, r) = tracer.op("sync", phase, traced) {
        tracer.span("loader", "loadPaths")(loader.loadPaths(Seq(f.path.toString)))
      }
      r match {
        case Right(rep) =>
          streams.foreach { s =>
            run.check(rep.rowsPerStream.getOrElse(s, 0L) == f.rows(s),
              s"sync $i $s rows ${rep.rowsPerStream.getOrElse(s, 0L)} != ${f.rows(s)}")
            run.check(rep.rejectedPerStream.getOrElse(s, 0L) == f.rejected(s),
              s"sync $i $s rejected ${rep.rejectedPerStream.getOrElse(s, 0L)} != ${f.rejected(s)}")
            loaded(s) += rep.rowsPerStream.getOrElse(s, 0L)
          }
          run.check(rep.statesToEcho.lastOption.map(mapper.readTree).contains(f.state),
            s"sync $i state echo ${rep.statesToEcho.lastOption} != ${f.state}")
          o.facts("records") = f.records.toDouble
          o.facts("feed_bytes") = f.bytes.toDouble
          o.facts("rows_written") = rep.rowsPerStream.values.sum.toDouble
          o.facts("records_rejected") = rep.rejectedPerStream.values.sum.toDouble
        case Left(e) => run.check(false, s"sync $i failed: $e")
      }
      val snaps = if (measure) {
        val after = catalog.footprint(ns)
        o.facts("data_files_added") = (after.dataFiles - before.dataFiles).toDouble
        o.facts("data_bytes_added") = (after.dataBytes - before.dataBytes).toDouble
        o.facts("metadata_bytes_added") = (after.metadataBytes - before.metadataBytes).toDouble
        val d = depth()
        o.facts("lake.snapshots") = d.toDouble
        d
      } else -1L
      run.after(o, snaps)

      if (a.every > 0 && (i + 1) % a.every == 0) {
        val rt = run.traceNext("readback", phase)
        val (ro, rr) = tracer.op("readback", phase, rt) {
          streams.map { s =>
            val n = spark.sparkContext.longAccumulator
            tracer.span("lake", "readback")(catalog.load(ns, s).foreach(_ => n.add(1)))
            s -> n.value.longValue
          }
        }
        rr match {
          case Right(counts) => counts.foreach { case (s, n) =>
            run.check(n == loaded(s), s"readback after sync $i: $s has $n rows, loaded ${loaded(s)}")
          }
          case Left(e) => run.check(false, s"readback after sync $i failed: $e")
        }
        val rs = if (rt || run.curve) { val d = depth(); ro.facts("lake.snapshots") = d.toDouble; d } else -1L
        run.after(ro, rs)
      }
    }
    run.endWindow()
    // final table totals, outside the timed window
    streams.foreach { s =>
      val n = catalog.load(ns, s).count()
      run.check(n == loaded(s), s"final total $s: $n != ${loaded(s)}")
      run.check(loaded(s) == files.take(a.warm + a.timed).map(_.rows(s)).sum,
        s"final total $s: loaded ${loaded(s)} != expected")
    }
  }
}
