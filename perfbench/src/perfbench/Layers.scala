package perfbench

/** Per-layer figures of a traced run, from the spans of its traced
  * passes. Every figure is printed on every workload; a layer the
  * workload does not exercise reads 0.
  *
  * Normalisation: `*_per_lookup` and `HepReader.*_ms` per point lookup,
  * `HepWriter.*` per ingest, `QueryDef.*` per query built, everything
  * else per pass.
  */
object Layers {
  private def div(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private def total(spans: Seq[Span]): Counters =
    spans.map(_.delta).foldLeft(Counters())(_ + _)

  private def ms(spans: Seq[Span]): Double = spans.map(_.ns).sum / 1e6

  /** Figures every workload has: Catalyst phases, scheduler, executors,
    * shuffle, scans, time with no job running, and the tracing residual
    * (self time of the pass and operation spans, which cover only the
    * benchmark's own code and the tracer's bus drains).
    */
  def common(trace: Trace, cores: Int): Map[String, Double] = {
    val spans = trace.spans
    val passes = spans.filter(_.name == "pass")
    val p = passes.size.toDouble
    val c = total(passes)
    val wallMs = ms(passes)
    val self = trace.selfNs
    val glue = spans.filter(s => s.name == "pass" || s.name.startsWith("op."))
      .map(s => self(s.id)).sum / 1e6
    Map(
      "catalyst.analysis_ms" -> div(c.analysisMs, p),
      "catalyst.optimization_ms" -> div(c.optimizationMs, p),
      "catalyst.planning_ms" -> div(c.planningMs, p),
      "scheduler.jobs" -> div(c.jobs, p),
      "scheduler.stages" -> div(c.stages, p),
      "scheduler.tasks" -> div(c.tasks, p),
      "driver.no_job_ms" -> div(passes.map(_.noJobMs).sum, p),
      "executor.run_ms" -> div(c.runMs, p),
      "executor.cpu_ms" -> div(c.cpuNs / 1e6, p),
      "executor.gc_ms" -> div(c.gcMs, p),
      "executor.slot_utilization" -> div(c.runMs, wallMs * cores),
      "shuffle.write_bytes" -> div(c.shuffleWrite, p),
      "shuffle.read_bytes" -> div(c.shuffleRead, p),
      "shuffle.spill_bytes" -> div(c.spill, p),
      "scan.files" -> div(c.scanFiles, p),
      "scan.bytes" -> div(c.scanBytes, p),
      "pass.traced_ms" -> div(wallMs, p),
      "trace.residual_ratio" -> div(glue, wallMs))
  }

  def hep(trace: Trace, w: HepStore, cores: Int): Map[String, Double] = {
    val by = trace.spans.groupBy(_.name).withDefaultValue(Seq.empty)
    val passes = by("pass").size.toDouble
    val ingestOps = by("op.ingest")
    val ingests = ingestOps.size.toDouble
    val lookupOps = by("op.lookup")
    val lookups = lookupOps.size.toDouble
    val lk = total(lookupOps)
    val lookupIds = lookupOps.map(_.id).toSet
    def inLookups(name: String) = by(name).filter(s => lookupIds(s.parent))
    common(trace, cores) ++ layerNames.map(_ -> 0.0) ++ Map(
      "HepWriter.commit_ms" -> div(ms(by("HepWriter.commit")), ingests),
      "HepWriter.close_ms" -> div(ms(by("HepWriter.close")), ingests),
      "HepWriter.jobs" -> div(total(ingestOps).jobs, ingests),
      "HepWriter.files_written" -> div(w.filesWritten, w.ingests),
      "HepWriter.bytes_written" -> div(w.bytesWritten, w.ingests),
      "HepWriter.bytes_per_event" -> div(w.bytesWritten, w.ingests.toDouble * w.totalEvents),
      "HepWriter.events_per_s" -> div(ingests * w.totalEvents, ms(ingestOps) / 1e3),
      "HepReader.process_ms" -> div(ms(inLookups("HepReader.process")), lookups),
      "HepReader.event_ms" -> div(ms(inLookups("HepReader.event")), lookups),
      "HepReader.collect_ms" -> div(ms(inLookups("HepReader.collect")), lookups),
      "HepReader.jobs_per_lookup" -> div(lk.jobs, lookups),
      "HepReader.files_per_lookup" -> div(lk.scanFiles, lookups),
      "HepReader.bytes_per_lookup" -> div(lk.scanBytes, lookups),
      "HepReader.rows_scanned_per_row_returned" -> div(lk.scanRows, w.rowsReturned),
      "Kinematics.scan_ms" -> div(ms(by("Kinematics.scan")), passes),
      "Ancestry.descendants_ms" -> div(ms(by("Ancestry.descendants")), passes),
      "Ancestry.jobs" -> div(total(by("Ancestry.descendants")).jobs, passes))
  }

  def catalog(trace: Trace, cores: Int): Map[String, Double] = {
    val builds = trace.spans.filter(_.name == "QueryDef.build")
    common(trace, cores) ++ layerNames.map(_ -> 0.0) ++ Map(
      "QueryDef.build_ms" -> div(ms(builds), builds.size),
      "QueryDef.build_jobs" -> div(total(builds).jobs, builds.size))
  }

  /** Layer figures specific to one workload family. */
  val layerNames: Seq[String] = Seq(
    "HepWriter.commit_ms", "HepWriter.close_ms", "HepWriter.jobs",
    "HepWriter.files_written", "HepWriter.bytes_written",
    "HepWriter.bytes_per_event", "HepWriter.events_per_s",
    "HepReader.process_ms", "HepReader.event_ms", "HepReader.collect_ms",
    "HepReader.jobs_per_lookup", "HepReader.files_per_lookup",
    "HepReader.bytes_per_lookup", "HepReader.rows_scanned_per_row_returned",
    "Kinematics.scan_ms", "Ancestry.descendants_ms", "Ancestry.jobs",
    "QueryDef.build_ms", "QueryDef.build_jobs")

  /** The traced run's record: per span name, count, total and self time;
    * per operation name (one per query on the catalog workloads), the
    * mean time and counters of one operation.
    */
  def spanSummary(trace: Trace): Map[String, Any] = {
    val self = trace.selfNs
    val byName = trace.spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size, "total_ms" -> ms(ss),
        "self_ms" -> ss.map(s => self(s.id)).sum / 1e6)
    }
    val children = trace.spans.groupBy(_.parent)
    val perOp = trace.spans.filter(_.name.startsWith("op.")).groupBy(_.name).map {
      case (n, ss) =>
        val k = ss.size.toDouble
        val c = total(ss)
        val kids = ss.flatMap(s => children.getOrElse(s.id, Nil)).groupBy(_.name)
          .map { case (cn, cs) => s"${cn}_ms" -> ms(cs) / k }
        n.stripPrefix("op.") -> (kids ++ Map(
          "count" -> k, "wall_ms" -> ms(ss) / k, "no_job_ms" -> ss.map(_.noJobMs).sum / k,
          "jobs" -> c.jobs / k, "stages" -> c.stages / k, "tasks" -> c.tasks / k,
          "analysis_ms" -> c.analysisMs / k, "optimization_ms" -> c.optimizationMs / k,
          "planning_ms" -> c.planningMs / k, "executor_run_ms" -> c.runMs / k,
          "executor_cpu_ms" -> c.cpuNs / 1e6 / k,
          "shuffle_write_bytes" -> c.shuffleWrite / k, "shuffle_read_bytes" -> c.shuffleRead / k,
          "spill_bytes" -> c.spill / k, "scan_files" -> c.scanFiles / k,
          "scan_bytes" -> c.scanBytes / k, "scan_rows" -> c.scanRows / k))
    }
    Map("by_name" -> byName, "per_operation" -> perOp)
  }
}
