package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run: one value map per traced timed
  * operation, then the mean of each metric over the operations that define
  * it. The names to report come from the benchmark's definition; a metric no
  * operation of the workload defines reads 0. */
object Layers {
  def perOp(t: Tracer, o: Op): Map[String, Double] = {
    val spans = t.spans.filter(_.op == o.id)
    val jobs = t.jobs.filter(_.op == o.id)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree).toSeq
    def jobsUnder(ss: Seq[Span]): Seq[JobRec] = {
      val ids = ss.map(_.id).toSet
      jobs.filter(j => ids.contains(j.span)).toSeq
    }
    def stageSum(js: Seq[JobRec])(f: StageRec => Double): Double =
      js.flatMap(_.stageIds).distinct.flatMap(t.stages.get).map(f).sum
    def jobIntervals(js: Seq[JobRec]) = js.filter(_.endNs > 0).map(j => (j.startNs, j.endNs))
    val qes = t.qes.filter(q => o.begin.epochNs <= q.atNs && q.atNs <= o.end.epochNs)
    val root = spans.find(_.parent < 0)
    val m = mutable.LinkedHashMap.empty[String, Double]

    m("codegen.compiles") = o.compiles.toDouble
    m("codegen.compile_ms") = root.map(_.compileMs).getOrElse(0.0)
    m("codegen.bytecode_bytes") = root.map(_.classBytes).getOrElse(0.0)
    m("exec.action_ms") = Stats.unionLength(jobIntervals(jobs.toSeq)) / 1e6
    m("exec.jobs") = jobs.size.toDouble
    // stages that ran: a job also lists the stages it reuses and skips
    m("exec.stages") = jobs.flatMap(_.stageIds).distinct.count(t.stages.contains).toDouble
    m("exec.tasks") = stageSum(jobs.toSeq)(_.tasks.toDouble)
    m("exec.task_run_ms") = stageSum(jobs.toSeq)(_.runMs)
    m("exec.task_cpu_ms") = stageSum(jobs.toSeq)(_.cpuMs)
    m("exec.shuffle_read_bytes") = stageSum(jobs.toSeq)(_.shuffleRead)
    m("exec.shuffle_write_bytes") = stageSum(jobs.toSeq)(_.shuffleWrite)
    m("exec.spill_bytes") = stageSum(jobs.toSeq)(_.spill)
    m("exec.failed_tasks") = stageSum(jobs.toSeq)(_.failedTasks.toDouble)
    m("catalyst.analysis_ms") = qes.map(_.phaseMs("analysis")).sum
    m("catalyst.optimization_ms") = qes.map(_.phaseMs("optimization")).sum
    m("catalyst.planning_ms") = qes.map(_.phaseMs("planning")).sum
    m("catalyst.actions") = qes.size.toDouble
    m("scan.files_read") = qes.map(_.files).sum
    m("scan.bytes_read") = qes.map(_.bytes).sum
    m("scan.rows_read") = qes.map(_.rows).sum
    m("jvm.jit_ms") = o.jitMs
    m("jvm.gc_ms") = (o.end.gcMs - o.begin.gcMs).toDouble
    m("jvm.cpu_ms") = o.cpuMs
    m("jvm.driver_cpu_ms") = (o.end.threadCpuNs - o.begin.threadCpuNs) / 1e6

    val loads = spans.filter(s => s.layer == "lake" && s.name == "load")
    if (loads.nonEmpty) m("lake.load_ms") = loads.map(_.ms).sum
    o.facts.get("lake.snapshots").foreach(m("lake.snapshots") = _)

    o.kind match {
      case "sync" =>
        val loader = spans.filter(_.layer == "loader")
        val lake = loader.flatMap(subtree).filter(_.layer == "lake")
        val lakeTop = lake.filter(s => !lake.exists(_.id == s.parent))
        val loaderJobs = jobsUnder(loader.flatMap(subtree).toSeq)
        val appends = spans.filter(s => s.layer == "lake" && s.name == "append")
        val loadMs = loader.map(_.ms).sum
        val records = o.facts.getOrElse("records", 0.0)
        val feedBytes = o.facts.getOrElse("feed_bytes", 0.0)
        val loaderCpuS = loader.map(s => (s.end.processCpuNs - s.begin.processCpuNs) / 1e9).sum
        m("loader.load_ms") = loadMs
        m("loader.self_ms") = loader.map(s => Stats.selfTime(s.startNs, s.endNs,
          lakeTop.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).toSeq) / 1e6).sum
        m("loader.jobs") = loaderJobs.size.toDouble
        m("loader.tasks") = stageSum(loaderJobs)(_.tasks.toDouble)
        m("loader.task_cpu_ms") = stageSum(loaderJobs)(_.cpuMs)
        m("loader.feed_scan_ratio") =
          if (feedBytes > 0) stageSum(loaderJobs)(_.inputBytes) / feedBytes else 0.0
        m("loader.rec_per_s") = if (loadMs > 0) records / (loadMs / 1e3) else 0.0
        m("loader.rec_per_cpu_s") = if (loaderCpuS > 0) records / loaderCpuS else 0.0
        m("loader.rows_written") = o.facts.getOrElse("rows_written", 0.0)
        m("loader.records_rejected") = o.facts.getOrElse("records_rejected", 0.0)
        m("lake.ensure_table_ms") =
          spans.filter(s => s.layer == "lake" && s.name == "ensureTable").map(_.ms).sum
        m("lake.append_ms") = appends.map(_.ms).sum
        m("lake.append_jobs") = jobsUnder(appends.flatMap(subtree).toSeq).size.toDouble
        m("lake.commit_self_ms") = appends.map { a =>
          Stats.selfTime(a.startNs, a.endNs,
            jobIntervals(jobsUnder(subtree(a)))) / 1e6
        }.sum
        val commits = math.max(1, appends.size).toDouble
        o.facts.get("data_files_added").foreach(v => m("lake.data_files_per_commit") = v / commits)
        o.facts.get("metadata_bytes_added").foreach(v => m("lake.metadata_bytes_per_commit") = v / commits)
        o.facts.get("data_bytes_added").foreach(v =>
          if (feedBytes > 0) m("lake.bytes_per_feed_byte") = v / feedBytes)
      case "readback" =>
        m("lake.readback_ms") = o.wallMs
        m("lake.readback_files") = qes.map(_.files).sum
      case _ =>
        val construct = spans.filter(s => s.layer == "ops")
        m("ops.construct_ms") = construct.map(_.ms).sum
        m("ops.construct_jobs") = jobsUnder(construct.flatMap(subtree).toSeq).size.toDouble
        RegistryRead.Module.get(o.kind).foreach(mod => m(s"ops.$mod.query_ms") = o.wallMs)
    }
    m.toMap
  }

  /** Mean of each metric over the traced timed ops that define it. */
  def aggregate(t: Tracer, names: Seq[String]): Map[String, Double] = {
    val per = t.ops.filter(o => o.traced && o.phase == "timed" && !o.failed).map(perOp(t, _))
    names.map { n =>
      val vs = per.flatMap(_.get(n))
      n -> Stats.mean(vs.toSeq)
    }.toMap
  }
}
