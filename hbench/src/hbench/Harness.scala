package hbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Span hooks around calls into the program's layers. The timed runs use
  * [[NoSpans]], which only runs the body; the traced run uses [[Tracer]]. */
trait Spans {
  def op[T](layer: String, name: String, slot: String)(body: => T): T
  def span[T](layer: String, name: String)(body: => T): T
  def tracing: Boolean
}

object NoSpans extends Spans {
  def op[T](layer: String, name: String, slot: String)(body: => T): T = body
  def span[T](layer: String, name: String)(body: => T): T = body
  def tracing = false
}

/** Tally of correctness checks. Each checked operation counts as
  * attempted; one that throws or whose oracle says wrong also counts as
  * failed. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  private var reported = 0

  def op(what: => String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch {
        case e: Exception =>
          report(s"FAILED: $what: $e")
          false
      }
    if (!ok) failed += 1
    ok
  }

  def report(msg: String): Unit =
    if (reported < 10) { System.err.println(s"hbench: $msg"); reported += 1 }
}

/** Everything a workload needs while it runs. `repeats` is how many
  * times a measured pass runs each of its single-shot batch steps (a
  * compaction, a bootstrap) on identical state, so that their figures are
  * medians. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val checks: Checks, val repeats: Int = 1) {
  private var n = 0

  /** Generated rows as a Spark frame of [[Main.cores]] partitions. The
    * round-robin shuffle keeps the rows themselves out of the tasks of
    * every later job over the (cached) frame: only its map stage ships
    * them. */
  def frame(rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Main.cores), schema)
      .repartition(Main.cores)

  /** A fresh, empty directory for one collection set. */
  def freshDir(prefix: String): String = {
    n += 1
    val d = work.resolve(s"$prefix-$n")
    Ctx.deleteTree(d)
    Files.createDirectories(d)
    d.toString
  }
}

object Ctx {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def treeBytes(p: String): Long = {
    val s = Files.walk(Paths.get(p))
    try {
      var total = 0L
      s.forEach(x => if (Files.isRegularFile(x)) total += Files.size(x))
      total
    } finally s.close()
  }

  /** (segment count, current manifest file bytes) of a collection. */
  def manifestStats(path: String): Map[String, Double] = {
    val dir = Paths.get(path)
    val m = graft.meta.CollectionMeta.currentManifest(dir)
    val f = graft.meta.CollectionMeta.metaDir(dir).resolve(f"manifest-${m.version}%010d.json")
    Map("meta.segments" -> m.segments.size.toDouble,
      "meta.manifest_bytes" -> (if (Files.exists(f)) Files.size(f).toDouble else 0.0))
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** The end-to-end metrics every workload reports, each mapped onto the
  * workload's own operations (see hbench/README.md). */
final case class EndToEnd(opP50Ms: Double, writeP50Ms: Double,
    throughputPerS: Double, batchS: Double, spaceAmp: Double)

/** What one measured pass produced: the end-to-end figures, the
  * workload's own named metrics (name, value, unit) for the report, and
  * layer figures only the workload can compute. */
final case class Outcome(e2e: EndToEnd, named: Seq[(String, Double, String)],
    layers: Map[String, Double], sizes: Map[String, Any])

/** One benchmark workload. `prepare` generates the inputs from the seed
  * and materializes them, untimed. `setup` runs the program's set-up step
  * on those inputs; it is timed and repeated, and its last result is
  * measured. */
trait Workload {
  type Input
  type Instance
  def name: String
  def prepare(ctx: Ctx): Input
  /** Untimed: runs the program paths the measured pass takes, so that
    * it does not pay class loading, JIT and codegen. */
  def warmUp(ctx: Ctx, in: Input): Unit
  def setup(ctx: Ctx, in: Input, t: Spans): Instance
  def release(inst: Instance): Unit
  def measure(ctx: Ctx, in: Input, inst: Instance, seconds: Double, t: Spans): Outcome
  /** A fixed sample of this workload's own rows for the format probes:
    * schema and rows, key column first. */
  def formatSample(in: Input): (org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row])
}

/** Latency samples per operation class. */
final class Timings {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(kind: String, v: Double): Unit = m.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v
  def apply(kind: String): Seq[Double] = m.get(kind).map(_.toSeq).getOrElse(Nil)
  def median(kind: String): Double = Stats.median(apply(kind))
}
