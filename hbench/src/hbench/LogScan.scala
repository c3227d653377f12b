package hbench

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Collection

/** log_scan: the append-only log and analytical reads. Set-up creates
  * the keyed collection from the first of [[LogScan.Batches]] equal
  * batches. Each cycle then appends the other batches, runs full-width
  * scans, selective filter scans on the range-clustered `id`, one 1%
  * upsert (the collection turns `mutated`), resolved (LWW window) scans,
  * compact() and a post-compaction scan. Cycles repeat, each on a newly
  * created collection, until the run's seconds are spent. */
object LogScan extends Workload {
  val Batches = 16
  val PerBatch = 10000
  val FullScans = 3
  val FilterScans = 12
  val ResolvedScans = 2
  /** Filter width as a share of all ids. */
  val FilterShare = 0.005

  def name = "log_scan"

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", LongType), StructField("cat", StringType),
    StructField("name", StringType), StructField("qty", IntegerType),
    StructField("price", DoubleType), StructField("flag", BooleanType),
    StructField("note", StringType)))

  def row(r: Gen.LogRow): Row = Row(r.id, r.ts, r.cat, r.name, r.qty, r.price, r.flag, r.note)

  /** Whole-table aggregate every scan computes; it reads every column.
    * Integral sums are exact; prices are multiples of 0.25, so their sum
    * is exact in a double too. */
  final case class Agg(rows: Long, ids: Long, ts: Long, qty: Long, price: Double,
      catLen: Long, nameLen: Long, notes: Long, noteLen: Long, flags: Long)

  object Agg {
    def of(rows: Iterable[Gen.LogRow]): Agg = {
      var a = Agg(0, 0, 0, 0, 0.0, 0, 0, 0, 0, 0)
      rows.foreach { r =>
        a = Agg(a.rows + 1, a.ids + r.id, a.ts + r.ts, a.qty + r.qty, a.price + r.price,
          a.catLen + r.cat.length, a.nameLen + r.name.length,
          a.notes + (if (r.note == null) 0 else 1),
          a.noteLen + (if (r.note == null) 0 else r.note.length),
          a.flags + (if (r.flag) 1 else 0))
      }
      a
    }
    val columns: Seq[Column] = Seq(count(lit(1)), sum("id"), sum("ts"),
      sum(col("qty").cast("long")), sum("price"), sum(length(col("cat")).cast("long")),
      sum(length(col("name")).cast("long")), count("note"),
      sum(length(col("note")).cast("long")), sum(when(col("flag"), 1L).otherwise(0L)))
    def from(r: Row): Agg = {
      def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      Agg(l(0), l(1), l(2), l(3), if (r.isNullAt(4)) 0.0 else r.getDouble(4),
        l(5), l(6), l(7), l(8), l(9))
    }
  }

  /** Oracle: a scan's aggregate equals the one computed from the input. */
  def checkAgg(checks: Checks, want: Agg, got: Agg, what: String): Boolean = {
    if (got != want) checks.report(s"WRONG $what: got $got want $want")
    got == want
  }

  /** Generated rows as one Spark frame tagged with their append number
    * (the upsert is the number after the last append), with the expected aggregates
    * before and after the upsert, and the filter ranges with their
    * expected (count, sum of qty). */
  final class Input(val gen: Gen.LogInput, val batches: Int, val tagged: DataFrame,
      val before: Agg, val after: Agg,
      val filters: Seq[(Long, Long, Long, Long)], val liveBytes: Long) {
    def part(i: Int): DataFrame = tagged.filter(col("part") === i).drop("part")
  }

  private def input(ctx: Ctx, gen: Gen.LogInput, filterScans: Int): Input = {
    val rows = (gen.batches :+ gen.upsert).zipWithIndex.toSeq.flatMap { case (b, i) =>
      b.toSeq.map(r => Row.fromSeq(row(r).toSeq :+ i))
    }
    val tagged = ctx.frame(rows, schema.add("part", IntegerType)).cache()
    tagged.count()
    val all = gen.batches.flatten
    val total = all.length.toLong
    val upserted = gen.upsert.map(r => r.id -> r).toMap
    val live = all.map(r => upserted.getOrElse(r.id, r))
    val fr = Gen.rng(ctx.seed, 9)
    val width = math.max(1L, (total * FilterShare).toLong)
    val filters = (1 to filterScans).map { _ =>
      val lo = (fr.nextDouble() * (total - width)).toLong
      val hit = all.slice(lo.toInt, (lo + width).toInt)
      (lo, lo + width, hit.length.toLong, hit.map(_.qty.toLong).sum)
    }
    new Input(gen, gen.batches.length, tagged, Agg.of(all), Agg.of(live), filters, live.map(_.userBytes).sum)
  }

  def prepare(ctx: Ctx): Input = input(ctx, Gen.log(ctx.seed, Batches, PerBatch), FilterScans)

  /** The collection of one cycle, in a fresh directory. */
  final class Instance(val path: String, val coll: Collection)

  /** Set-up: the keyed collection created from the first batch. */
  def setup(ctx: Ctx, in: Input, t: Spans): Instance = {
    val path = ctx.freshDir("log") + "/coll"
    new Instance(path, t.op("api", "api.create", "setup")(
      Collection.create(ctx.spark, path, in.part(0), key = Some("id"))))
  }

  def release(inst: Instance): Unit = Ctx.deleteTree(Paths.get(inst.path).getParent)

  /** One cycle over 4 small appends with 2 filter scans, so the measured
    * cycle does not pay class loading, JIT and codegen. */
  def warmUp(ctx: Ctx, measured: Input): Unit = {
    val in = input(ctx, Gen.log(ctx.seed + 1000, 4, 200), 2)
    val inst = setup(ctx, in, NoSpans)
    cycle(ctx, in, inst, NoSpans, new Checks, new Timings)
    release(inst)
    in.tagged.unpersist(true)
  }

  def measure(ctx: Ctx, in: Input, inst: Instance, seconds: Double, t: Spans): Outcome = {
    val tm = new Timings
    val t0 = System.nanoTime()
    var extra = Map.empty[String, Double]
    var useful = 0.0
    var cycles = 0
    while (cycles == 0 || Ctx.elapsedS(t0) < seconds) {
      // the first cycle runs on the set-up's collection, later ones on a new one
      val i = if (cycles == 0) inst else setup(ctx, in, NoSpans)
      extra = cycle(ctx, in, i, t, ctx.checks, tm)
      if (cycles > 0) release(i)
      useful += extra("useful_segments")
      cycles += 1
    }
    extra += "useful_segments" -> useful
    val rows = in.before.rows.toDouble
    val appended = rows - in.gen.batches.head.length
    val ingest = tm("ingest_s").map(s => appended / s)
    val scan = tm("scan_s").map(s => rows / s)
    val resolved = tm("resolved_s").map(s => in.after.rows / s)
    val named = Seq(
      ("ingest_rows_per_s", Stats.median(ingest), "1/s"),
      ("scan_rows_per_s", Stats.median(scan), "1/s"),
      ("filter_scan_p50_ms", tm.median("filter_ms"), "ms"),
      ("append_p50_ms", tm.median("append_ms"), "ms"),
      ("resolved_scan_rows_per_s", Stats.median(resolved), "1/s"),
      ("compact_s", tm.median("compact_s"), "s"),
      ("space_amp", tm.median("space_amp"), "ratio"),
      ("cycles", cycles.toDouble, "count"))
    Outcome(EndToEnd(tm.median("filter_ms"), tm.median("append_ms"), Stats.median(scan),
      tm.median("compact_s"), tm.median("space_amp")), named, extra,
      Map("rows" -> in.before.rows, "appends" -> in.batches, "upsert_rows" -> in.gen.upsert.length,
        "segments_after_ingest" -> extra.getOrElse("segments_after_ingest", 0.0).toLong,
        "keyoffset_cache_entries" -> 256, "bloom_cache_entries" -> 1024,
        "manifest_cache_entries" -> 512))
  }

  /** One full cycle on the collection of `inst`; returns layer figures. */
  private def cycle(ctx: Ctx, in: Input, inst: Instance, t: Spans, checks: Checks,
      tm: Timings): Map[String, Double] = {
    val spark = ctx.spark
    val path = inst.path
    val c = inst.coll
    def scanAgg(df: => DataFrame): Agg = Agg.from(df.agg(Agg.columns.head, Agg.columns.tail: _*).head())
    def manifestRead(): Unit =
      if (t.tracing) t.op("meta", "meta.manifest_read", "aux")(
        graft.meta.CollectionMeta.currentManifest(Paths.get(path)))

    var ingestS = 0.0
    (1 until in.batches).foreach { i =>
      val b = in.part(i)
      val s = System.nanoTime()
      checks.op(s"append $i") {
        t.op("api", "api.append", "write")(c.append(b, consistency = "relaxed"))
        true
      }
      tm.add("append_ms", Ctx.ms(s))
      ingestS += Ctx.elapsedS(s)
      manifestRead()
    }
    tm.add("ingest_s", ingestS)
    val segsAfterIngest = graft.meta.CollectionMeta.currentManifest(Paths.get(path)).segments.size

    for (i <- 1 to FullScans) {
      val s = System.nanoTime()
      checks.op(s"full scan $i") {
        val a = t.op("spark", "spark.scan", "scan")(scanAgg(spark.read.format("hadro").load(path)))
        tm.add("scan_s", Ctx.elapsedS(s))
        checkAgg(checks, in.before, a, "full scan")
      }
    }

    var useful = 0L
    var buildNs = 0L
    val segs = graft.meta.CollectionMeta.currentManifest(Paths.get(path)).segments
    in.filters.foreach { case (lo, hi, n, qty) =>
      val s = System.nanoTime()
      checks.op(s"filter scan [$lo, $hi)") {
        t.op("api", "api.where", "fg") {
          val b = System.nanoTime()
          val df = t.span("api", "api.where.build")(c.where(col("id") >= lo && col("id") < hi))
          buildNs += System.nanoTime() - b
          t.span("plan", "plan.exec_plan")(df.queryExecution.executedPlan)
          val r = t.span("spark", "spark.collect")(
            df.agg(count(lit(1)), sum(col("qty").cast("long"))).head())
          tm.add("filter_ms", Ctx.ms(s))
          val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
          if (got != ((n, qty))) checks.report(s"WRONG filter [$lo, $hi): got $got want ${(n, qty)}")
          got == ((n, qty))
        }
      }
      // segments that truly hold an id of the range (exact per-segment min/max
      // of a dense ascending id)
      useful += segs.count { sg =>
        sg.stats.get("id").exists(st => st.min.exists(_.toLong < hi) && st.max.exists(_.toLong >= lo))
      }
    }

    checks.op("upsert") {
      t.op("api", "api.set", "write")(c.set(in.part(in.batches)))
      true
    }
    manifestRead()

    for (i <- 1 to ResolvedScans) {
      val s = System.nanoTime()
      checks.op(s"resolved scan $i") {
        val a = t.op("api", "api.toDF", "scan")(scanAgg(c.toDF()))
        tm.add("resolved_s", Ctx.elapsedS(s))
        checkAgg(checks, in.after, a, "resolved scan")
      }
    }

    // compaction, once per repeat on identical state: the collection and
    // zero-copy clones of it taken before any of them is compacted
    val parent = Paths.get(path).getParent
    val colls = c +: (1 until ctx.repeats).map(r => c.cloneTo(parent.resolve(s"clone-$r").toString))
    colls.foreach { x =>
      val s = System.nanoTime()
      checks.op("compact") { t.op("api", "api.compact", "batch")(x.compact()); true }
      tm.add("compact_s", Ctx.elapsedS(s))
      checks.op("post-compaction scan") {
        val a = t.op("api", "api.toDF", "scan")(scanAgg(x.toDF()))
        checkAgg(checks, in.after, a, "post-compaction scan")
      }
    }
    tm.add("space_amp", Ctx.treeBytes(path).toDouble / in.liveBytes)
    val metaEnd = Ctx.manifestStats(path)
    Map("useful_segments" -> useful.toDouble,
      "api.read.build_ms" -> buildNs / 1e6 / in.filters.size,
      "segments_after_ingest" -> segsAfterIngest.toDouble) ++ metaEnd
  }

  def formatSample(in: Input): (StructType, Seq[Row]) =
    (schema, in.gen.batches.iterator.flatten.take(20000).map(row).toSeq)
}
