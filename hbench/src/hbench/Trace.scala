package hbench

import scala.collection.mutable

import org.apache.spark.HBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import graft.meta.FileIO

/** One traced interval. Times are nanoseconds on the wall clock. `slot`
  * is set on a trace's root span only: the operation class (fg, write,
  * batch) whose per-op means the layer metrics report. */
final case class Span(id: Long, parent: Long, trace: Long, layer: String,
    name: String, start: Long, end: Long, slot: String = "") {
  def dur: Long = end - start
}

object Span {
  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its children's intervals. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** What one executed query contributed: planning phases, plan shape and
  * the hadro custom metrics of its scan and write nodes. */
final case class QueryRec(phases: Map[String, (Long, Long)], nodes: Int,
    exchanges: Int, metrics: Map[String, Long])

/** Per-job execution totals from the scheduler events. */
final class JobRec(val span: Long, val start: Long) {
  var end: Long = start
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Span recorder for the traced run. The client is one thread; spans
  * opened on it nest through a stack, and the current span id rides the
  * Spark local property [[Tracer.SpanProp]] so jobs started inside it are
  * attributed to it. Query records arrive through the listener bus and
  * are attributed when an operation ends, after the bus is drained. */
final class Tracer(spark: SparkSession) extends Spans {
  def tracing = true
  private val sc = spark.sparkContext
  private val client = Thread.currentThread()
  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + clockOffset

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.ArrayBuffer.empty[(Long, Long)] // (span, trace)
  private var nextId = 1L
  private var nextTrace = 1L
  private var traceFrom = 0 // index in `spans` where the open trace starts
  val rootSlot = mutable.HashMap.empty[Long, String] // trace -> slot
  val queries = mutable.ArrayBuffer.empty[(Long, QueryRec)] // (trace, rec)
  private val pendingQueries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  /** FileIO seam counters per slot, for commits made inside an op. */
  val commitStats = mutable.HashMap.empty[String, CommitStats]

  def onClient: Boolean = Thread.currentThread() eq client

  /** Slot of the op open on the client thread; "" outside an op. */
  def currentSlot: String =
    if (!onClient) "" else stack.headOption.flatMap(s => rootSlot.get(s._2)).getOrElse("")

  def commitsIn(slot: String): CommitStats = commitStats.getOrElseUpdate(slot, new CommitStats)

  /** Run `body` as the root span of a new trace, classed under `slot`. */
  def op[T](layer: String, name: String, slot: String)(body: => T): T = {
    val trace = nextTrace
    nextTrace += 1
    rootSlot(trace) = slot
    traceFrom = spans.length
    open(layer, name, slot, Some(trace))(body)
  }

  /** Run `body` as a child of the current span; outside an op, untraced. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!onClient || stack.isEmpty) body else open(layer, name, "", None)(body)

  private def open[T](layer: String, name: String, slot: String,
      newTrace: Option[Long])(body: => T): T = {
    val id = nextId
    nextId += 1
    val (parent, trace) = stack.lastOption match {
      case Some((p, t)) => (p, newTrace.getOrElse(t))
      case None => (0L, newTrace.getOrElse(0L))
    }
    stack += ((id, trace))
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack.remove(stack.length - 1)
      sc.setLocalProperty(Tracer.SpanProp, stack.lastOption.map(_._1.toString).orNull)
      spans += Span(id, parent, trace, layer, name, t0, t1, slot)
      if (stack.isEmpty) settle(trace)
    }
  }

  /** After a root span: deliver pending listener events and hang each
    * query's planning phases under the deepest span of the trace whose
    * interval holds them (1 ms slack for the millisecond clock). */
  private def settle(trace: Long): Unit = {
    HBenchBus.drain(sc)
    val inTrace = spans.slice(traceFrom, spans.length).toSeq
    val root = inTrace.find(_.parent == 0L).get
    val parentOf = inTrace.map(s => s.id -> s.parent).toMap
    def depth(s: Span): Int =
      Iterator.iterate(s.id)(parentOf.getOrElse(_, 0L)).takeWhile(_ != 0L).size
    var q = pendingQueries.poll()
    while (q != null) {
      queries += ((trace, q))
      q.phases.foreach { case (phase, (a, b)) =>
        val (s0, s1) = (a * 1000000L, b * 1000000L)
        val host = inTrace
          .filter(s => s.start <= s0 + 1000000L && s.end >= s1 - 1000000L)
          .sortBy(s => -depth(s)).headOption.getOrElse(root)
        spans += Span(nextId, host.id, trace, "plan", s"plan.$phase", s0, s1)
        nextId += 1
      }
      q = pendingQueries.poll()
    }
  }

  /** Spans of executed jobs, parented by the span that started them. */
  def jobSpans: Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val out = mutable.ArrayBuffer.empty[Span]
    jobs.forEach { (jobId, j) =>
      byId.get(j.span).foreach { p =>
        out += Span(-jobId.toLong - 1, p.id, p.trace, "exec", s"exec.job",
          j.start * 1000000L, j.end * 1000000L)
      }
    }
    out.toSeq
  }

  // ------------------------------------------------------------ listeners

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      pendingQueries.add(Tracer.record(qe))
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      val j = new JobRec(span.map(_.toLong).getOrElse(0L), e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        val info = e.taskInfo
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.runMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            val wall = info.finishTime - info.launchTime
            val gettingResult =
              if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
            j.schedMs += math.max(0L, wall - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          }
        }
      }
  }

  private var saved: FileIO = null

  /** Install the listeners and the counting FileIO decorator. */
  def install(): Unit = {
    spark.listenerManager.register(queryListener)
    sc.addSparkListener(jobListener)
    saved = FileIO.impl
    FileIO.impl = new CountingFileIO(saved, this)
  }

  def uninstall(): Unit = {
    HBenchBus.drain(sc)
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(jobListener)
    FileIO.impl = saved
    sc.setLocalProperty(Tracer.SpanProp, null)
  }
}

object Tracer {
  val SpanProp = "hbench.span"

  /** Every node of an executed plan, looking through adaptive-execution
    * wrappers, query stages and command results. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case c: CommandResultExec => c +: planNodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  val HadroMetrics = Seq("hadroSegmentsRead", "hadroSegmentsPruned",
    "hadroBlocksPruned", "hadroBytesPlanned", "hadroRowsWritten",
    "hadroBytesWritten", "hadroSegmentsWritten")

  def record(qe: org.apache.spark.sql.execution.QueryExecution): QueryRec = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val nodes = try planNodes(qe.executedPlan) catch { case _: Exception => Nil }
    val metrics = HadroMetrics.map { name =>
      name -> nodes.flatMap(_.metrics.get(name)).map(_.value).sum
    }.toMap
    QueryRec(phases, nodes.size, nodes.count(_.isInstanceOf[Exchange]), metrics)
  }
}

/** Commit counters of one slot. */
final class CommitStats {
  var commits = 0L
  var retries = 0L
  var commitNs = 0L
  var lockWaitNs = 0L
}

/** Counting decorator over the engine's filesystem seam: manifest
  * commits (claim-if-absent publishes), lost claims (retries), time in
  * the commit primitives, and time spent waiting for the ref lock. Only
  * calls made on the client thread inside a traced op count, under that
  * op's slot; the rest (untraced warm-up, checks) pass straight through. */
final class CountingFileIO(inner: FileIO, t: Tracer) extends FileIO {
  private def timed[A](name: String)(body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = t.span("meta", name)(body)
    (r, System.nanoTime() - t0)
  }

  override def replaceSlot(tmp: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    val slot = t.currentSlot
    val (_, ns) = timed("meta.replace_slot")(inner.replaceSlot(tmp, target))
    if (slot.nonEmpty) t.commitsIn(slot).commitNs += ns
  }

  override def publishNew(tmp: java.nio.file.Path, target: java.nio.file.Path): Boolean = {
    val slot = t.currentSlot
    val (ok, ns) = timed("meta.publish")(inner.publishNew(tmp, target))
    if (slot.nonEmpty) {
      val c = t.commitsIn(slot)
      c.commitNs += ns
      if (ok) c.commits += 1 else c.retries += 1
    }
    ok
  }

  override def withFileLock[T](lockFile: java.nio.file.Path)(body: => T): T = {
    val slot = t.currentSlot
    val t0 = System.nanoTime()
    inner.withFileLock(lockFile) {
      if (slot.nonEmpty) t.commitsIn(slot).lockWaitNs += System.nanoTime() - t0
      body
    }
  }

  override def linkOrCopy(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    t.span("meta", "meta.link_or_copy")(inner.linkOrCopy(src, dst))
}
