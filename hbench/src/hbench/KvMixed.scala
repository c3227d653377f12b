package hbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Collection
import graft.meta.CollectionMeta

/** kv_mixed: Bitcask's reason to exist. A keyed collection written as
  * [[KvMixed.Segments]] segments (more than the 256-entry key-offset
  * sidecar cache, fewer than the 1024-entry bloom cache) under one
  * closed-loop client running a 70/10/15/5 get/multiGet/set/delete mix
  * over Zipf-skewed keys. Every write commits one segment, so reads run
  * beside a growing segment count and manifest. */
object KvMixed extends Workload {
  val Rows = 200000
  val Segments = 384
  val MaxOps = 12000

  /** Generated rows and ops, plus the initial rows cached in Spark. */
  final class Input(val gen: Gen.KvInput, val initial: DataFrame)
  final class Instance(val path: String, val coll: Collection)

  def name = "kv_mixed"

  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType),
    StructField("n", IntegerType),
    StructField("ts", LongType)))

  def row(r: Gen.KvRow): Row = Row(r.k, r.v, r.n, r.ts)

  def frame(spark: SparkSession, rows: Seq[Gen.KvRow]): DataFrame =
    spark.createDataFrame(rows.map(row).asJava, schema)

  private def input(ctx: Ctx, gen: Gen.KvInput): Input = {
    val df = ctx.frame(gen.initial.toSeq.map(row), schema).cache()
    df.count()
    new Input(gen, df)
  }

  def prepare(ctx: Ctx): Input = input(ctx, Gen.kv(ctx.seed, Rows, MaxOps))

  /** Set-up: the keyed collection created from the initial rows. */
  def setup(ctx: Ctx, in: Input, t: Spans): Instance = {
    val path = ctx.freshDir("kv") + "/coll"
    val c = t.op("api", "api.create", "setup")(Collection.create(ctx.spark, path, in.initial,
      key = Some("k"), numSegments = Segments, consistency = "relaxed"))
    new Instance(path, c)
  }

  def release(inst: Instance): Unit = Ctx.deleteTree(Paths.get(inst.path).getParent)

  /** One set-up and a compaction on the measured input, so that the
    * timed set-ups and compactions run compiled code. The ops are warmed
    * by [[WarmOpsS]] of untimed ops on the measured instance. */
  def warmUp(ctx: Ctx, in: Input): Unit = {
    val inst = setup(ctx, in, NoSpans)
    inst.coll.compact()
    release(inst)
  }

  /** In-memory model of the op log: the oracle every read is checked
    * against. `holders` counts the segments that hold a version of each
    * key (one per write that touched it; the initial load adds one). */
  final class Model(initial: Seq[Gen.KvRow]) {
    val live = mutable.HashMap.empty[Long, Gen.KvRow]
    val holders = mutable.HashMap.empty[Long, Int]
    initial.foreach { r => live(r.k) = r; holders(r.k) = 1 }
    def set(rows: Seq[Gen.KvRow]): Unit = rows.foreach { r =>
      live(r.k) = r; holders(r.k) = holders.getOrElse(r.k, 0) + 1
    }
    def delete(ks: Seq[Long]): Unit = ks.foreach { k =>
      live.remove(k); holders(k) = holders.getOrElse(k, 0) + 1
    }
    def userBytes: Long = live.valuesIterator.map(_.userBytes).sum
  }

  /** Oracle: a read returned exactly the model's live rows for `keys`. */
  def checkRead(checks: Checks, model: Model, keys: Seq[Long], got: Seq[Row]): Boolean = {
    val want = keys.flatMap(model.live.get).map(row).toSet
    val ok = got.size == want.size && got.toSet == want
    if (!ok) checks.report(s"WRONG read of ${keys.take(4).mkString(",")}: " +
      s"got ${got.take(2)} want ${want.take(2)}")
    ok
  }

  /** Oracle: resolved count and checksum (sum of keys, versions,
    * payload lengths and timestamps) equal the model's. */
  def checkTotals(checks: Checks, model: Model, got: Row, what: String): Boolean = {
    val m = model.live.values
    val want = Seq(m.size.toLong, m.map(_.k).sum, m.map(_.n.toLong).sum,
      m.map(_.v.length.toLong).sum, m.map(_.ts).sum)
    val have = (0 until 5).map(i => if (got.isNullAt(i)) 0L else got.getLong(i))
    if (have != want) checks.report(s"WRONG $what totals: got $have want $want")
    have == want
  }

  private def totals(c: Collection): Row =
    c.toDF().agg(count(lit(1)), sum("k"), sum(col("n").cast("long")),
      sum(length(col("v")).cast("long")), sum("ts")).head()

  def measure(ctx: Ctx, in: Input, inst: Instance, seconds: Double, t: Spans): Outcome = {
    val (tm, model, extra) = run(ctx, in.gen, inst, WarmOpsS, seconds, t, ctx.checks)
    val c = inst.coll
    val metaEnd = Ctx.manifestStats(inst.path)
    ctx.checks.op("final totals") {
      t.op("api", "api.totals", "scan") { checkTotals(ctx.checks, model, totals(c), "final") }
    }
    val spaceAmp = Ctx.treeBytes(inst.path).toDouble / model.userBytes
    // compaction, once per repeat on identical state: the collection and
    // zero-copy clones of it taken before any of them is compacted
    val parent = Paths.get(inst.path).getParent
    val colls = c +: (1 until ctx.repeats).map(r => c.cloneTo(parent.resolve(s"clone-$r").toString))
    val compactS = colls.map { x =>
      val t0 = System.nanoTime()
      ctx.checks.op("compact") { t.op("api", "api.compact", "batch") { x.compact() }; true }
      val s = Ctx.elapsedS(t0)
      ctx.checks.op("post-compaction totals") {
        t.op("api", "api.totals", "scan") { checkTotals(ctx.checks, model, totals(x), "compacted") }
      }
      s
    }
    val gets = tm("get")
    val sets = tm("set")
    // every write commits one segment; sets and deletes are both samples
    val writes = sets ++ tm("delete")
    val nOps = gets.size + tm("multiget").size + writes.size
    val opsPerS = nOps / extra("elapsed_s")
    val (tailP, tailV) = Stats.tail(gets).getOrElse((50.0, Stats.median(gets)))
    val named = Seq(
      ("get_p50_ms", Stats.median(gets), "ms"),
      (s"get_p${if (tailP.isWhole) tailP.toInt.toString else tailP.toString}_ms", tailV, "ms"),
      ("get_samples", gets.size.toDouble, "count"),
      ("write_p50_ms", Stats.median(writes), "ms"),
      ("set_p50_ms", Stats.median(sets), "ms"),
      ("deletes", tm("delete").size.toDouble, "count"),
      ("kv_ops_per_s", opsPerS, "1/s"),
      ("space_amp", spaceAmp, "ratio"),
      ("compact_s", Stats.median(compactS), "s"))
    Outcome(EndToEnd(Stats.median(gets), Stats.median(writes), opsPerS, Stats.median(compactS), spaceAmp),
      named, extra - "elapsed_s" ++ metaEnd,
      Map("rows_initial" -> Rows, "segments_initial" -> Segments,
        "segments_end" -> metaEnd("meta.segments").toLong, "ops" -> nOps,
        "keyoffset_cache_entries" -> 256, "bloom_cache_entries" -> 1024,
        "manifest_cache_entries" -> 512))
  }

  /** Seconds of the op stream run untimed on the measured instance before
    * timing starts (its reads are checked all the same). */
  val WarmOpsS = 3.0
  /** The timed loop runs past its seconds until it has this many gets and
    * writes (sets and deletes), so the medians always have enough samples;
    * writes are a fifth of the mix. */
  val MinGets = 40
  val MinWrites = 16

  /** The closed loop: one op at a time, `warmS` seconds untimed and
    * untraced, then `seconds` timed, or until the op stream ends. Returns
    * latencies per op kind, the final model and layer figures (segments
    * holding the key, summed over timed gets). */
  private def run(ctx: Ctx, in: Gen.KvInput, inst: Instance, warmS: Double,
      seconds: Double, t0Spans: Spans, checks: Checks): (Timings, Model, Map[String, Double]) = {
    val spark = ctx.spark
    val c = inst.coll
    val dir = Paths.get(inst.path)
    val model = new Model(in.initial.toSeq)
    var tm = new Timings
    var useful = 0L
    var readBuildNs = 0L
    var reads = 0L
    val w0 = System.nanoTime()
    var t0 = w0
    var warm = warmS > 0
    var t: Spans = if (warm) NoSpans else t0Spans
    var i = 0
    def enough = Ctx.elapsedS(t0) >= seconds &&
      tm("get").size >= MinGets && tm("set").size + tm("delete").size >= MinWrites
    while (i < in.ops.length && (warm || !enough)) {
      if (warm && Ctx.elapsedS(w0) >= warmS) {
        warm = false
        tm = new Timings
        useful = 0L; readBuildNs = 0L; reads = 0L
        t = t0Spans
        t0 = System.nanoTime()
      }
      val s = System.nanoTime()
      in.ops(i) match {
        case Gen.Get(k) =>
          checks.op(s"get $k") {
            t.op("api", "api.get", "fg") {
              val b = System.nanoTime()
              val df = t.span("api", "api.get.build")(c.get(k))
              readBuildNs += System.nanoTime() - b
              t.span("plan", "plan.exec_plan")(df.queryExecution.executedPlan)
              val rows = t.span("spark", "spark.collect")(df.collect().toSeq)
              tm.add("get", Ctx.ms(s))
              checkRead(checks, model, Seq(k), rows)
            }
          }
          reads += 1
          useful += model.holders.getOrElse(k, 0)
        case Gen.MultiGet(ks) =>
          checks.op("multiGet") {
            t.op("api", "api.multiget", "read") {
              val rows = c.multiGet(ks: _*).collect().toSeq
              tm.add("multiget", Ctx.ms(s))
              checkRead(checks, model, ks, rows)
            }
          }
        case Gen.SetBatch(rows) =>
          checks.op("set") {
            t.op("api", "api.set", "write") { c.set(frame(spark, rows).coalesce(1)) }
            tm.add("set", Ctx.ms(s))
            true
          }
          model.set(rows)
        case Gen.DeleteBatch(ks) =>
          checks.op("delete") {
            t.op("api", "api.delete", "write") {
              c.delete(spark.createDataFrame(ks.map(k => Row(k)).asJava,
                StructType(Seq(StructField("k", LongType, nullable = false)))).coalesce(1))
            }
            tm.add("delete", Ctx.ms(s))
            true
          }
          model.delete(ks)
      }
      if (t.tracing) t.op("meta", "meta.manifest_read", "aux")(CollectionMeta.currentManifest(dir))
      i += 1
    }
    val extra = Map("elapsed_s" -> Ctx.elapsedS(t0),
      "useful_segments" -> useful.toDouble,
      "api.read.build_ms" -> (if (reads == 0) 0.0 else readBuildNs / 1e6 / reads))
    (tm, model, extra)
  }

  def formatSample(in: Input): (StructType, Seq[Row]) =
    (schema, in.gen.initial.iterator.take(20000).map(row).toSeq)
}
