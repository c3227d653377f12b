package hbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Harness entry point (launched by hbench/run.py):
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`,
  * or `--self-test`. Prints a report, then one line
  * `HBENCH_RESULT <json>` that run.py re-emits as the last stdout line. */
object Main {
  val Workloads: Map[String, Workload] =
    Seq(KvMixed, LogScan, DedupLoop).map(w => w.name -> w).toMap
  val SetupRepeats = 5
  /** Repeats of each single-shot batch step ([[Ctx.repeats]]) in an
    * untraced run; a traced run does each once to stay short. */
  val BatchRepeats = 5
  val FlushPolicy = "relaxed"

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    if (args.contains("--self-test")) sys.exit(SelfTest.run())
    val work = Paths.get(opts("--work"))
    val wl = Workloads(opts("--workload"))
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts("--trace") == "1"
    val runDir = work.resolve(s"${wl.name}-${ProcessHandle.current().pid()}")
    Ctx.deleteTree(runDir)
    Files.createDirectories(runDir)
    val spark = session(work)
    val report =
      try run(spark, wl, runDir, work, seed, seconds, traced)
      finally {
        spark.stop()
        Ctx.deleteTree(runDir)
      }
    report.print()
  }

  /** Spark task slots: one processor fewer than the machine has, at most
    * 4, so the driver thread does not preempt tasks and stretch stages. */
  def cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("hbench")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (steal, total) jiffies of all processors, from /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "" }

  private def run(spark: SparkSession, wl: Workload, runDir: Path, work: Path,
      seed: Long, seconds: Double, traced: Boolean): Report = {
    val loadStart = loadavg()
    val cpuStart = cpuJiffies()
    val checks = new Checks
    val ctx = new Ctx(spark, runDir, seed, checks, if (traced) 1 else BatchRepeats)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      phases(name) = Ctx.elapsedS(mark); mark = System.nanoTime()
    }
    val in = wl.prepare(ctx)
    phase("prepare_s")
    wl.warmUp(new Ctx(spark, runDir, seed, new Checks), in)
    phase("warm_up_s")

    // set-up, repeated; the last instance is measured
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var inst: wl.Instance = null.asInstanceOf[wl.Instance]
    for (_ <- 1 to (if (traced) 1 else SetupRepeats)) {
      if (inst != null) wl.release(inst)
      val t0 = System.nanoTime()
      inst = wl.setup(ctx, in, NoSpans)
      setupTimes += Ctx.elapsedS(t0)
    }
    phase("setups_s")
    val out = wl.measure(ctx, in, inst, seconds, NoSpans)
    wl.release(inst)
    phase("measure_s")

    val setupS = Stats.median(setupTimes.toSeq)
    val e2e = ListMap(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (out.e2e.opP50Ms, "ms"),
      "write_p50_ms" -> (out.e2e.writeP50Ms, "ms"),
      "throughput_per_s" -> (out.e2e.throughputPerS, "1/s"),
      "batch_s" -> (out.e2e.batchS, "s"),
      "space_amp" -> (out.e2e.spaceAmp, "ratio"))

    // Traced run: a traced pass, then a second untraced pass. The JIT is
    // still warming during both untraced passes, so the overhead compares
    // the traced pass with the mean of the passes before and after it.
    val metrics: Map[String, (Double, String)] =
      if (!traced) e2e
      else {
        val t = new Tracer(spark)
        t.install()
        val (inst2, tout) =
          try {
            val i = wl.setup(ctx, in, t)
            (i, wl.measure(ctx, in, i, seconds, t))
          } finally t.uninstall()
        wl.release(inst2)
        phase("traced_pass_s")
        val inst3 = wl.setup(ctx, in, NoSpans)
        val after = wl.measure(ctx, in, inst3, seconds, NoSpans)
        wl.release(inst3)
        phase("untraced_after_s")
        val (schema, sample) = wl.formatSample(in)
        val fmt = FormatProbe.run(schema, sample, runDir.resolve("format"), t)
        val untraced = (out.e2e.opP50Ms + after.e2e.opP50Ms) / 2
        val layers = Layers.summarize(t, tout, fmt,
          overheadPct = 100.0 * (tout.e2e.opP50Ms / untraced - 1.0))
        writeTrace(work, wl.name, seed, t)
        layers
      }

    val meta = ListMap(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "adaptive" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "flush_policy" -> FlushPolicy,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "steal_pct" -> {
        val (s1, t1) = cpuJiffies()
        if (t1 > cpuStart._2) 100.0 * (s1 - cpuStart._1) / (t1 - cpuStart._2) else 0.0
      },
      "setup_runs_s" -> setupTimes.toSeq, "phases_s" -> phases,
      "sizes" -> out.sizes)
    val named = ("setup_s", setupS, "s") +: out.named :+
      (("error_rate", checks.failed.toDouble / math.max(1L, checks.attempted), "ratio"))
    new Report(wl.name, meta, named, metrics, checks)
  }

  private def writeTrace(work: Path, workload: String, seed: Long, t: Tracer): Unit = {
    val dir = work.resolve("traces")
    Files.createDirectories(dir)
    val all = t.spans.toSeq ++ t.jobSpans
    val self = Span.selfTimes(all)
    val lines = all.map(s => Json.render(ListMap("id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id), "slot" -> s.slot)))
    Files.write(dir.resolve(s"$workload-seed$seed.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** One run's output: `print` writes the report and the result line. */
final class Report(workload: String, meta: ListMap[String, Any],
    named: Seq[(String, Double, String)], metrics: Map[String, (Double, String)],
    checks: Checks) {
  def print(): Unit = {
    println("# meta " + Json.render(meta))
    println(s"# $workload: workload metrics (untraced pass)")
    named.foreach { case (n, v, u) => println(f"#   $n%-28s $v%14.4f $u") }
    val result = ListMap(
      "correct" -> (checks.failed == 0 && checks.attempted > 0),
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "metrics" -> ListMap(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u)
      }: _*))
    println("HBENCH_RESULT " + Json.render(result))
  }
}
