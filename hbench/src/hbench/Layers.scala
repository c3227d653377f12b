package hbench

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Turns one traced pass into the per-layer metrics. Per-slot figures are
  * means per operation of that slot: `fg` (the workload's foreground op),
  * `write`, `batch` and `scan`; see hbench/README.md for what each slot
  * holds in each workload. A layer a workload does not exercise reads 0. */
object Layers {
  val Slots = Seq("fg", "write", "batch", "scan")
  /** Slots whose ops commit manifests; `scan` ops only read. */
  val CommitSlots = Seq("fg", "write", "batch")
  val TracedLayers = Seq("api", "plan", "spark", "meta", "format", "ops", "exec")

  /** Metrics the workloads supply themselves, with their units. */
  val WorkloadSupplied = Seq(
    "api.read.build_ms" -> "ms",
    "meta.segments" -> "count", "meta.manifest_bytes" -> "bytes",
    "ops.ngram_pairs_s" -> "s", "ops.probe_s" -> "s",
    "ops.components_cycle_s" -> "s", "ops.curation_cycle_s" -> "s",
    "ops.pairs_found" -> "count", "ops.planted_recall" -> "ratio")

  def summarize(t: Tracer, out: Outcome, format: Map[String, Double],
      overheadPct: Double): ListMap[String, (Double, String)] = {
    val m = ListMap.newBuilder[String, (Double, String)]
    val spans = t.spans.toSeq ++ t.jobSpans
    val slotOfTrace = t.rootSlot.toMap
    val opsIn = Slots.map(s => s -> t.spans.count(x => x.parent == 0L && x.slot == s)).toMap
    def per(slot: String, v: Double): Double =
      if (opsIn(slot) == 0) 0.0 else v / opsIn(slot)
    val byId = t.spans.map(s => s.id -> s).toMap

    // plan: Catalyst phases and executed-plan shape, per op of each slot
    for (slot <- Slots) {
      val qs = t.queries.collect { case (tr, q) if slotOfTrace.get(tr).contains(slot) => q }
      def phase(p: String) = qs.flatMap(_.phases.get(p)).map { case (a, b) => (b - a).toDouble }.sum
      m += s"plan.$slot.queries" -> (per(slot, qs.size), "count")
      m += s"plan.$slot.analysis_ms" -> (per(slot, phase("analysis")), "ms")
      m += s"plan.$slot.optimization_ms" -> (per(slot, phase("optimization")), "ms")
      m += s"plan.$slot.planning_ms" -> (per(slot, phase("planning")), "ms")
      m += s"plan.$slot.nodes" -> (per(slot, qs.map(_.nodes).sum), "count")
      m += s"plan.$slot.exchanges" -> (per(slot, qs.map(_.exchanges).sum), "count")
    }
    val execPlan = t.spans.filter(_.name == "plan.exec_plan").map(_.dur / 1e6)
    m += "plan.fg.exec_plan_ms" -> (if (execPlan.isEmpty) 0.0 else Stats.median(execPlan.toSeq), "ms")

    // spark: DSv2 scan and write custom metrics
    def hadro(slot: String, name: String): Double =
      t.queries.collect { case (tr, q) if slotOfTrace.get(tr).contains(slot) =>
        q.metrics.getOrElse(name, 0L).toDouble
      }.sum
    val segRead = hadro("fg", "hadroSegmentsRead")
    m += "spark.fg.segments_read" -> (per("fg", segRead), "count")
    m += "spark.fg.segments_pruned" -> (per("fg", hadro("fg", "hadroSegmentsPruned")), "count")
    m += "spark.fg.blocks_pruned" -> (per("fg", hadro("fg", "hadroBlocksPruned")), "count")
    m += "spark.fg.bytes_planned" -> (per("fg", hadro("fg", "hadroBytesPlanned")), "bytes")
    val useful = out.layers.getOrElse("useful_segments", 0.0)
    m += "spark.fg.read_useful_ratio" -> (if (segRead > 0) useful / segRead else 0.0, "ratio")
    m += "spark.write.rows_written" -> (per("write", hadro("write", "hadroRowsWritten")), "count")
    m += "spark.write.bytes_written" -> (per("write", hadro("write", "hadroBytesWritten")), "bytes")
    m += "spark.write.segments_written" -> (per("write", hadro("write", "hadroSegmentsWritten")), "count")

    // meta: the counting FileIO decorator, per op of each committing
    // slot, and manifest reads
    for (slot <- CommitSlots) {
      val c = t.commitsIn(slot)
      m += s"meta.$slot.commits" -> (per(slot, c.commits), "count")
      m += s"meta.$slot.commit_retries" -> (per(slot, c.retries), "count")
      m += s"meta.$slot.lock_wait_ms" -> (per(slot, c.lockWaitNs / 1e6), "ms")
    }
    val commits = CommitSlots.map(t.commitsIn(_).commits).sum
    val commitNs = CommitSlots.map(t.commitsIn(_).commitNs).sum
    m += "meta.commit_ms" -> (if (commits == 0) 0.0 else commitNs / 1e6 / commits, "ms")
    val manifestReads = t.spans.filter(_.name == "meta.manifest_read").map(_.dur / 1e6)
    m += "meta.manifest_read_ms" ->
      (if (manifestReads.isEmpty) 0.0 else Stats.median(manifestReads.toSeq), "ms")

    // exec: jobs, stages and tasks per op of each slot
    val jobsBySlot = t.jobs.values.asScala.toSeq.groupBy(j =>
      byId.get(j.span).flatMap(s => slotOfTrace.get(s.trace)).getOrElse(""))
    for (slot <- Slots) {
      val js = jobsBySlot.getOrElse(slot, Nil)
      def sum(f: JobRec => Double) = per(slot, js.map(f).sum)
      m += s"exec.$slot.jobs" -> (per(slot, js.size), "count")
      m += s"exec.$slot.stages" -> (sum(_.stages), "count")
      m += s"exec.$slot.tasks" -> (sum(_.tasks), "count")
      m += s"exec.$slot.task_cpu_s" -> (sum(_.cpuNs / 1e9), "s")
      m += s"exec.$slot.task_run_s" -> (sum(_.runMs / 1e3), "s")
      m += s"exec.$slot.sched_delay_s" -> (sum(_.schedMs / 1e3), "s")
      m += s"exec.$slot.gc_s" -> (sum(_.gcMs / 1e3), "s")
      m += s"exec.$slot.shuffle_write_mb" -> (sum(_.shuffleWrite / 1e6), "MB")
      m += s"exec.$slot.shuffle_read_mb" -> (sum(_.shuffleRead / 1e6), "MB")
      m += s"exec.$slot.spill_mb" -> (sum(_.spill / 1e6), "MB")
    }

    format.foreach { case (k, v) => m += k -> (v, FormatUnits(k)) }
    // the index build is the set-up step of dedup_loop, traced as its own op
    val builds = t.spans.filter(_.name == "ops.index_build").map(_.dur / 1e9)
    m += "ops.index_build_s" -> (if (builds.isEmpty) 0.0 else Stats.median(builds.toSeq), "s")
    WorkloadSupplied.foreach { case (k, u) => m += k -> (out.layers.getOrElse(k, 0.0), u) }

    // trace: self time per layer and span count, per op of the measured
    // slots (a time-bounded pass runs more ops when the program is
    // faster, so totals would grow), and the tracing overhead
    val self = Span.selfTimes(spans)
    val ops = Slots.map(opsIn).sum
    def perOp(v: Double): Double = if (ops == 0) 0.0 else v / ops
    TracedLayers.foreach { l =>
      m += s"trace.self_ms.$l" -> (perOp(spans.filter(_.layer == l).map(s => self(s.id)).sum / 1e6), "ms")
    }
    m += "trace.spans_per_op" -> (perOp(spans.size.toDouble), "count")
    m += "trace.overhead_pct" -> (overheadPct, "%")
    m.result()
  }

  val FormatUnits = Map(
    "format.encode_rows_per_s" -> "1/s", "format.decode_rows_per_s" -> "1/s",
    "format.segment_write_mb_per_s" -> "MB/s", "format.segment_read_mb_per_s" -> "MB/s",
    "format.bytes_per_row" -> "bytes", "format.bloom_probe_ns" -> "ns",
    "format.koff_lookup_ns" -> "ns")
}
