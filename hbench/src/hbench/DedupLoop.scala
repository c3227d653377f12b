package hbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Collection
import graft.ops.{ClusterOps, DedupOps}

/** dedup_loop: the composed near-dup curation loop. Set-up builds the
  * MinHash LSH index over the first half of the corpus
  * (minhashLshIndexBuild). Each cycle then bootstraps on that half
  * (ngramJaccardPairs written as the pair log, the first componentsCycle
  * with a keep-list), [[Ctx.repeats]] times on fresh pair and state
  * collections, and runs [[DedupLoop.Windows]] windows over the second
  * half on the last bootstrap, each an index probe that extends the index
  * and appends to the pair log, a componentsCycle and a curationCycle.
  * Cycles repeat, each on a freshly built index, until the run's seconds
  * are spent. */
object DedupLoop extends Workload {
  val Docs = 2000
  val Windows = 4
  val Threshold = 0.8

  def name = "dedup_loop"

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  /** The corpus as one Spark frame tagged with its part: 0 is the
    * bootstrap half, 1 to `windows` the windows over the second half. */
  final class Input(val corpus: Gen.Corpus, val tagged: DataFrame, val windows: Int,
      val partDocs: Map[Int, Int]) {
    def part(i: Int): DataFrame = tagged.filter(col("part") === i).drop("part")
    val textBytes: Long = corpus.docs.map(_.text.length.toLong).sum
  }

  /** The corpus, materialized in Spark's cache. */
  def prepare(ctx: Ctx): Input = {
    val corpus = Gen.corpus(ctx.seed, Docs)
    val half = Docs / 2
    val per = (Docs - half + Windows - 1) / Windows
    val rows = corpus.docs.toSeq.map { d =>
      Row(d.id, d.text, if (d.id < half) 0 else 1 + ((d.id - half) / per).toInt)
    }
    val tagged = ctx.frame(rows, schema.add("part", IntegerType)).cache()
    tagged.count()
    new Input(corpus, tagged, Windows, rows.groupBy(_.getInt(2)).map { case (p, rs) => p -> rs.size })
  }

  /** A directory of collections; set-up leaves the LSH index in it. */
  final class Instance(val base: String) {
    def idx: String = s"$base/idx"
  }

  /** Set-up: the LSH index over the bootstrap half. */
  def setup(ctx: Ctx, in: Input, t: Spans): Instance = {
    val inst = new Instance(ctx.freshDir("dedup"))
    t.op("ops", "ops.index_build", "setup")(
      DedupOps.minhashLshIndexBuild(in.part(0), "doc_id", "text", inst.idx))
    inst
  }

  def release(inst: Instance): Unit = Ctx.deleteTree(Paths.get(inst.base))

  /** Set-up, bootstrap and the first window on the measured input. The
    * oracles run after timing, so they are left out here. */
  def warmUp(ctx: Ctx, in: Input): Unit = {
    val inst = setup(ctx, in, NoSpans)
    cycle(ctx, in, inst, NoSpans, new Checks, new Timings, windows = 1, oracles = false)
    release(inst)
  }

  def measure(ctx: Ctx, in: Input, inst: Instance, seconds: Double, t: Spans): Outcome = {
    val tm = new Timings
    val t0 = System.nanoTime()
    var extra = Map.empty[String, Double]
    var cycles = 0
    while (cycles == 0 || Ctx.elapsedS(t0) < seconds) {
      // the first cycle runs on the set-up's index, later ones on a new one
      val i = if (cycles == 0) inst else setup(ctx, in, NoSpans)
      extra = cycle(ctx, in, i, t, ctx.checks, tm, in.windows, oracles = true)
      if (cycles > 0) release(i)
      cycles += 1
    }
    val windowMs = tm("window_ms")
    // docs through every timed bootstrap and window, over their time
    val docsPerS = tm("docs").sum / tm("loop_s").sum
    val named = Seq(
      ("bootstrap_s", tm.median("bootstrap_s"), "s"),
      ("window_p50_s", Stats.median(windowMs) / 1e3, "s"),
      ("loop_docs_per_s", docsPerS, "1/s"),
      ("fold_p50_ms", tm.median("fold_ms"), "ms"),
      ("space_amp", tm.median("space_amp"), "ratio"),
      ("cycles", cycles.toDouble, "count"))
    val layers = extra ++ Map(
      "ops.ngram_pairs_s" -> tm.median("ngram_pairs_s"),
      "ops.probe_s" -> tm.median("probe_ms") / 1e3,
      "ops.components_cycle_s" -> tm.median("components_ms") / 1e3,
      "ops.curation_cycle_s" -> tm.median("curation_ms") / 1e3)
    Outcome(EndToEnd(Stats.median(windowMs), tm.median("fold_ms"), docsPerS,
      tm.median("bootstrap_s"), tm.median("space_amp")), named, layers,
      Map("docs" -> in.corpus.docs.length, "windows" -> in.windows,
        "families" -> in.corpus.families.size,
        "family_docs" -> in.corpus.families.map(_.copies.size + 1).sum,
        "keyoffset_cache_entries" -> 256, "bloom_cache_entries" -> 1024,
        "manifest_cache_entries" -> 512))
  }

  /** Oracle: the incrementally maintained keep-list equals the one-shot
    * keep-list (cluster, keep_id, n_members) derived from a batch
    * connected-components pass over the final pair log. */
  def checkKeepList(checks: Checks, oneShot: Set[(Long, Long, Long)],
      incremental: Set[(Long, Long, Long)]): Boolean = {
    val ok = oneShot == incremental
    if (!ok) checks.report(s"WRONG keep-list: ${(oneShot diff incremental).take(3)} missing, " +
      s"${(incremental diff oneShot).take(3)} unexpected")
    ok
  }

  /** Oracle: every member of a planted family carries the same cluster. */
  def checkFamily(checks: Checks, f: Gen.Family, cluster: Map[Long, Long]): Boolean = {
    val cs = (f.origin +: f.copies).map(cluster.get)
    val ok = cs.forall(_.isDefined) && cs.distinct.size == 1
    if (!ok) checks.report(s"WRONG family ${f.origin}: clusters $cs")
    ok
  }

  /** Oracle: the drop list is exactly the non-keeper members. */
  def checkDropList(checks: Checks, cluster: Map[Long, Long],
      keep: Map[Long, Long], drops: Set[Long]): Boolean = {
    val want = cluster.collect { case (d, c) if keep.get(c).exists(_ != d) => d }.toSet
    val ok = want == drops
    if (!ok) checks.report(s"WRONG drop list: ${(want diff drops).take(3)} missing, " +
      s"${(drops diff want).take(3)} unexpected")
    ok
  }

  /** One cycle on the index of `inst`, over the first `windows` windows;
    * returns layer figures. With `oracles` the final state is checked. */
  private def cycle(ctx: Ctx, in: Input, inst: Instance, t: Spans, checks: Checks,
      tm: Timings, windows: Int, oracles: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    val base = inst.base
    val idx = inst.idx
    def timed(kind: String)(body: => Unit): Double = {
      val s = System.nanoTime(); body; val ms = Ctx.ms(s); tm.add(kind, ms); ms
    }

    // bootstrap, once per repeat on fresh pair and state collections; the
    // windows run on the last one
    val first = in.part(0)
    var boot = ""
    for (r <- 1 to ctx.repeats) {
      if (boot.nonEmpty) Ctx.deleteTree(Paths.get(boot))
      boot = s"$base/boot-$r"
      val pairsP = s"$boot/pairs"
      val b0 = System.nanoTime()
      checks.op("bootstrap") {
        t.op("ops", "ops.bootstrap", "batch") {
          tm.add("ngram_pairs_s", timed("ngram_pairs_ms") {
            t.span("ops", "ops.ngram_pairs") {
              val p = DedupOps.ngramJaccardPairs(first, "doc_id", "text", threshold = Threshold)
              Collection.create(spark, pairsP, p.select(col("doc_a"), col("doc_b"),
                col("jaccard").cast("double").as("score"), lit("jaccard").as("metric")))
            }
          } / 1e3)
          t.span("ops", "ops.components_cycle")(ClusterOps.componentsCycle(spark, pairsP,
            "hbench_cur", s"$boot/state", keepPath = Some(s"$boot/keep")))
        }
        true
      }
      val bootS = Ctx.elapsedS(b0)
      tm.add("bootstrap_s", bootS)
      tm.add("loop_s", bootS)
      tm.add("docs", in.partDocs(0))
    }
    val pairsP = s"$boot/pairs"; val st = s"$boot/state"
    val kp = s"$boot/keep"; val dropP = s"$boot/drops"

    (0 until windows).foreach { i =>
      val w = in.part(i + 1)
      val s = System.nanoTime()
      checks.op(s"window $i") {
        t.op("ops", "ops.window", "fg") {
          timed("probe_ms") {
            t.span("ops", "ops.probe")(DedupOps.minhashLshIndexProbe(spark, w,
              "doc_id", "text", idx, threshold = Threshold, extendIndex = true,
              pairsSink = Some((pairsP, i.toLong + 1))).collect())
          }
          val fold = timed("components_ms") {
            t.span("ops", "ops.components_cycle")(
              ClusterOps.componentsCycle(spark, pairsP, "hbench_cur", st, keepPath = Some(kp)))
          } + timed("curation_ms") {
            t.span("ops", "ops.curation_cycle")(
              ClusterOps.curationCycle(spark, st, "hbench_drop", kp, dropP))
          }
          tm.add("fold_ms", fold)
        }
        true
      }
      tm.add("window_ms", Ctx.ms(s))
      tm.add("loop_s", Ctx.elapsedS(s))
      tm.add("docs", in.partDocs(i + 1))
      if (t.tracing) t.op("meta", "meta.manifest_read", "aux")(
        graft.meta.CollectionMeta.currentManifest(Paths.get(pairsP)))
    }
    tm.add("space_amp", Ctx.treeBytes(base).toDouble / in.textBytes)
    if (!oracles) return Map.empty

    // oracles over the final state
    var recall = 0.0
    var logged = 0L
    checks.op("keep-list vs one-shot components") {
      val log = Collection(spark, pairsP).scan().select(col("doc_a"), col("doc_b"))
      val pairs = log.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      logged = pairs.size
      val planted = in.corpus.families.flatMap(f => f.copies.map(c => (math.min(f.origin, c), math.max(f.origin, c))))
      val found = planted.count(p => pairs.contains(p) || pairs.contains(p.swap))
      recall = if (planted.isEmpty) 1.0 else found.toDouble / planted.size
      val oneShot = ClusterOps.connectedComponentsAltStar(log, "doc_a", "doc_b")
        .groupBy("cluster").agg(min("node").as("keep_id"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val incremental = ClusterOps.keepListMaterialized(spark, kp)
        .select(col("cluster"), col("keep_id"), col("n_members").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      checkKeepList(checks, oneShot, incremental)
    }
    val cluster = ClusterOps.components(spark, st).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    in.corpus.families.foreach(f => checks.op(s"family ${f.origin}")(checkFamily(checks, f, cluster)))
    checks.op("drop list") {
      val keep = ClusterOps.keepListMaterialized(spark, kp).select("cluster", "keep_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val drops = ClusterOps.dropList(spark, dropP).select("doc_id").collect().map(_.getLong(0)).toSet
      checkDropList(checks, cluster, keep, drops)
    }
    val metaEnd = Ctx.manifestStats(pairsP)
    Map("ops.pairs_found" -> logged.toDouble, "ops.planted_recall" -> recall) ++ metaEnd
  }

  def formatSample(in: Input): (StructType, Seq[Row]) =
    (schema, in.corpus.docs.iterator.take(20000).map(d => Row(d.id, d.text)).toSeq)
}
