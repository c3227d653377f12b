package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.api.Collection

/** Property-based specs (SURVEY §5.2): for arbitrary record batches and
  * predicates, the hadro round trip preserves content, pushed filters are
  * equivalent to post-scan filters, and column pruning is equivalent to
  * post-scan selection. Uses raw ScalaCheck generators with fixed seeds
  * (deterministic; scalatestplus bridge is not on the offline classpath).
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  /** Protocol model checks run under BOTH [[graft.meta.FileIO]] impls —
    * trial parity picks one (even = POSIX LocalFileIO, odd = the
    * object-store emulation: conditional PUT, lease locks, no atomic
    * rename), so a single run faces the same random op interleavings
    * under each commit-protocol substrate. */
  private def withFileIO[A](trial: Int)(body: => A): A = {
    val impl =
      if (trial % 2 == 0) graft.meta.LocalFileIO
      else graft.meta.ObjectStoreFileIO
    val prev = graft.meta.FileIO.impl
    graft.meta.FileIO.impl = impl
    try body finally graft.meta.FileIO.impl = prev
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true),
    StructField("tags", ArrayType(IntegerType), nullable = true)))

  private val genRow: Gen[Row] = for {
    id <- Gen.choose(0L, 10000L)
    name <- Gen.option(Gen.alphaNumStr.map(_.take(12)))
    score <- Gen.option(Gen.choose(-1e6, 1e6))
    tags <- Gen.option(Gen.listOfN(3, Gen.choose(0, 99)))
  } yield Row(id, name.orNull, score.map(Double.box).orNull,
    tags.map(t => scala.collection.mutable.WrappedArray.make[Int](t.toArray)).orNull)

  private val genBatch: Gen[List[Row]] = Gen.choose(1, 120).flatMap(Gen.listOfN(_, genRow))

  private def mkDf(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)

  test("append -> scan returns exactly the input (arbitrary batches)") {
    samples(genBatch, 6, seed = 41).foreach { rows =>
      val path = Files.createTempDirectory("prop").resolve("c").toString
      Collection.create(spark, path, mkDf(rows), numSegments = 3)
      val back = spark.read.format("hadro").load(path)
      assert(back.count() == rows.length)
      val a = mkDf(rows).collect().map(_.toString).sorted
      val b = back.collect().map(_.toString).sorted
      assert(a.sameElements(b))
    }
  }

  test("zstd round trip preserves arbitrary batches bit-for-bit") {
    samples(genBatch, 6, seed = 43).foreach { rows =>
      val path = Files.createTempDirectory("propz").resolve("c").toString
      mkDf(rows).repartition(3).write.format("hadro").mode("append")
        .option("hadro.compress", "zstd").save(path)
      val back = spark.read.format("hadro").load(path)
      assert(back.count() == rows.length)
      val a = mkDf(rows).collect().map(_.toString).sorted
      val b = back.collect().map(_.toString).sorted
      assert(a.sameElements(b))
    }
  }

  test("zstd-dict round trip preserves arbitrary batches bit-for-bit") {
    // small arbitrary batches stay below the training budget (plain-zstd
    // frames), the grown tail crosses it (mixed plain+dict frames) —
    // both decode identically
    samples(genBatch, 3, seed = 47).foreach { rows =>
      val grown = rows ++ (0 until 3000).map(i =>
        Row(i.toLong, s"grown-name-$i-with-shared-template-context", null, null))
      val path = Files.createTempDirectory("propzd").resolve("c").toString
      mkDf(grown).repartition(2).write.format("hadro").mode("append")
        .option("hadro.compress", "zstd-dict").save(path)
      val back = spark.read.format("hadro").load(path)
      assert(back.count() == grown.length)
      val a = mkDf(grown).collect().map(_.toString).sorted
      val b = back.collect().map(_.toString).sorted
      assert(a.sameElements(b))
    }
  }

  test("pushed filter == post-scan filter for arbitrary thresholds") {
    val path = Files.createTempDirectory("prop").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .repartitionByRange(6, $"o_orderkey")
    Collection.create(spark, path, src)
    val hadro = spark.read.format("hadro").load(path)
    val ref = src.select($"o_orderkey", $"o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val gen = for {
      k <- Gen.choose(0L, 6000L)
      p <- Gen.choose(0.0, 500000.0)
    } yield (k, p)
    samples(gen, 10, seed = 42).foreach { case (k, p) =>
      val pushed = hadro.filter($"o_orderkey" < k && $"o_totalprice" >= p).count()
      val post = ref.count { case (ok, tp) => ok < k && tp >= p }
      assert(pushed == post, s"k=$k p=$p")
    }
  }

  test("column pruning == select-after-full-read for arbitrary subsets") {
    val path = Files.createTempDirectory("prop").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/customer.parquet")
    Collection.create(spark, path, src, numSegments = 2)
    val hadro = spark.read.format("hadro").load(path)
    val gen = Gen.someOf(src.columns.toSeq).suchThat(_.nonEmpty)
    samples(gen, 8, seed = 43).foreach { subset =>
      val sel = subset.toList
      val a = hadro.select(sel.map(col): _*).collect().map(_.toString).sorted
      val b = src.select(sel.map(col): _*).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"cols=$sel")
    }
  }

  test("property: reads stay correct across arbitrary evolution points") {
    // For random batch sizes and random numbers of appended columns, rows
    // written BEFORE each evolution read back with nulls in every column
    // appended after them, and rows written after carry their values —
    // across both the row and columnar read paths.
    samples(Gen.zip(Gen.choose(1, 60), Gen.choose(1, 3)), 6, seed = 77)
      .foreach { case (n, extraCols) =>
        val path = Files.createTempDirectory("prop_evo").resolve("c").toString
        val base = spark.range(0, n).select($"id", ($"id" * 2).as("v"))
        val c = Collection.create(spark, path, base, numSegments = 2)
        (1 to extraCols).foreach { i =>
          c.addColumn(s"x$i", LongType)
          c.append(spark.range(1000L * i, 1000L * i + n)
            .select($"id" +: ($"id" * 2).as("v") +:
              (1 to i).map(j => lit(j.toLong).as(s"x$j")): _*))
        }
        val back = spark.read.format("hadro").load(path)
        assert(back.count() == n.toLong * (extraCols + 1))
        // original rows: every appended column is null
        assert(back.filter($"id" < 1000 && $"x1".isNotNull).count() == 0)
        // each later batch carries values for exactly the columns that
        // existed when it was written
        (1 to extraCols).foreach { i =>
          val batch = back.filter($"id" >= 1000L * i && $"id" < 1000L * i + n)
          assert(batch.filter(col(s"x$i") === i.toLong).count() == n)
          if (i < extraCols)
            assert(batch.filter(col(s"x${i + 1}").isNotNull).count() == 0)
        }
      }
  }

  test("bucketed writes route every row to its tagged bucket (arbitrary batches)") {
    // For arbitrary key batches and bucket counts: every segment is
    // tagged, per-bucket row counts equal the engine expression's
    // group-by, and reading back loses nothing.
    samples(Gen.zip(Gen.choose(2, 16), genBatch), 4, seed = 53)
      .foreach { case (n, rows) =>
        val path = Files.createTempDirectory("prop_bkt").resolve("c").toString
        val df = mkDf(rows).select($"id", $"name")
        df.write.format("hadro").mode("append")
          .option("hadro.bucketBy", "id").option("hadro.buckets", n.toString)
          .save(path)
        val m = graft.meta.CollectionMeta.currentManifest(
          java.nio.file.Paths.get(path))
        assert(m.segments.forall(s => s.bucket.exists(b => b >= 0 && b < n)))
        val expected = df.groupBy(pmod(xxhash64($"id"), lit(n)).as("b"))
          .count().as[(Long, Long)].collect().toMap
        val tagged = m.segments.groupBy(_.bucket.get.toLong)
          .map { case (b, ss) => b -> ss.map(s => s.rows - s.tombstones).sum }
        assert(tagged == expected, s"$tagged vs $expected")
        assert(spark.read.format("hadro").load(path).count() == rows.size.toLong)
      }
  }

  test("property: rowlevel REPLACE WHERE equals filter-delete + append") {
    // Arbitrary predicate trees (AND/OR/NOT over long comparisons, string
    // equality/prefix, null tests) against arbitrary nullable data: the
    // result of `batch.writeTo(t).overwrite(pred)` under rowlevel mode
    // must equal (rows where pred is NOT TRUE) ∪ batch, with Spark's own
    // filter as the semantics oracle — every segment classification
    // (inside / disjoint / straddle-vectored) must agree with it.
    import org.apache.spark.sql.Column
    spark.conf.set("spark.sql.catalog.proprw",
      classOf[graft.spark.HadroCatalog].getName)
    spark.conf.set("spark.sql.catalog.proprw.warehouse",
      Files.createTempDirectory("prop_rw").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS proprw.db")
    val names = Seq("alpha", "beta", "gamma", "delta", null)
    def genLeaf: Gen[Column] = Gen.oneOf(
      Gen.choose(0L, 400L).map(c => $"id" < c),
      Gen.choose(0L, 400L).map(c => $"id" >= c),
      Gen.choose(0L, 400L).map(c => $"id" === c),
      Gen.oneOf(names.filter(_ != null)).map(s => $"name" === s),
      Gen.const($"name".isNull),
      Gen.oneOf("al", "be", "ga", "de").map(p => $"name".startsWith(p)))
    def genTree(d: Int): Gen[Column] =
      if (d == 0) genLeaf
      else Gen.frequency(
        3 -> genLeaf,
        2 -> (for { l <- genTree(d - 1); r <- genTree(d - 1) } yield l && r),
        2 -> (for { l <- genTree(d - 1); r <- genTree(d - 1) } yield l || r),
        1 -> genTree(d - 1).map(c => !c))
    val preds = samples(genTree(2), 8, seed = 4711)
    preds.zipWithIndex.foreach { case (pred, i) =>
      val t = s"proprw.db.rw$i"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (id BIGINT, name STRING) USING hadro")
      val base = spark.range(0, 400, 1, 4)
        .select($"id", element_at(
          typedLit(names), ($"id" % 5 + 1).cast("int")).as("name"))
      base.createOrReplaceTempView(s"proprw_src_$i")
      spark.sql(s"INSERT INTO $t SELECT * FROM proprw_src_$i")
      val batch = spark.range(1000, 1010).select($"id", lit("fresh").as("name"))
      val expected = base.where(!coalesce(pred, lit(false))).unionByName(batch)
        .collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.hadro.overwrite.mode", "rowlevel")
      try batch.writeTo(t).overwrite(pred)
      finally spark.conf.unset("spark.hadro.overwrite.mode")
      val got = spark.table(t).collect().map(_.toString).sorted.toSeq
      assert(got == expected,
        s"pred #$i ${pred.toString} mismatch: got ${got.length}, " +
          s"expected ${expected.length}")
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("property: interleaved row-level delete/update paths match a model") {
    // Arbitrary sequences of row-level ops over a non-keyed table, each
    // randomly routed through one of the four physical paths — metadata
    // dv (pushable predicate + dv mode), dv DELTA (arithmetic predicate +
    // dv mode), CoW replace (pushable, cow mode), group CoW (arithmetic,
    // cow mode) — must all agree with a driver-side model of the rows.
    spark.conf.set("spark.sql.catalog.propcat",
      classOf[graft.spark.HadroCatalog].getName)
    spark.conf.set("spark.sql.catalog.propcat.warehouse",
      Files.createTempDirectory("prop_rlo").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS propcat.db")
    val rnd = new scala.util.Random(4242)
    (0 until 3).foreach { round =>
      val t = s"propcat.db.rlo$round"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE) USING hadro")
      spark.sql(s"INSERT INTO $t SELECT id, id * 1.0 FROM range(0, 400, 1, 3)")
      var model: Map[Long, Double] = (0L until 400L).map(i => i -> i.toDouble).toMap
      (0 until 5).foreach { _ =>
        val mode = if (rnd.nextBoolean()) "dv" else "cow"
        spark.conf.set("spark.hadro.delete.mode", mode)
        spark.conf.set("spark.hadro.update.mode", mode)
        try {
          rnd.nextInt(3) match {
            case 0 => // arithmetic delete (row-level path)
              val m = rnd.nextInt(5) + 2; val r = rnd.nextInt(m)
              spark.sql(s"DELETE FROM $t WHERE id % $m = $r AND v < 390")
              model = model.filterNot { case (id, v) => id % m == r && v < 390 }
            case 1 => // pushable range delete (metadata/replace path)
              val lo = rnd.nextInt(400)
              spark.sql(s"DELETE FROM $t WHERE id >= $lo AND id < ${lo + 40}")
              model = model.filterNot { case (id, _) => id >= lo && id < lo + 40 }
            case 2 => // arithmetic update (row-level path)
              val m = rnd.nextInt(4) + 2; val r = rnd.nextInt(m)
              spark.sql(s"UPDATE $t SET v = v + 1000 WHERE id % $m = $r")
              model = model.map { case (id, v) =>
                id -> (if (id % m == r) v + 1000 else v) }
          }
        } finally {
          spark.conf.unset("spark.hadro.delete.mode")
          spark.conf.unset("spark.hadro.update.mode")
        }
        val got = spark.table(t).as[(Long, Double)].collect().toMap
        assert(got == model,
          s"round $round diverged under mode=$mode: " +
            s"${(got.toSet -- model.toSet).take(3)} vs ${(model.toSet -- got.toSet).take(3)}")
      }
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("property: tags pin exact snapshots under arbitrary maintenance sequences (both FileIO impls)") {
    import graft.meta.CollectionMeta
    // Model checking the GC/tag interplay: against a driver-side model of
    // the collection's content, run random op sequences (append, delete,
    // compact, vacuum, expire, tag, drop-tag) and after EVERY op assert
    // each live tag still reads exactly the rows it pinned.
    sealed trait Op
    case object Append extends Op
    case object Delete extends Op
    case object Compact extends Op
    case object Vacuum extends Op
    case object Expire extends Op
    case object Tag extends Op
    case object DropTag extends Op
    val genOp: Gen[Op] = Gen.frequency(
      4 -> Append, 2 -> Delete, 2 -> Compact, 2 -> Vacuum,
      1 -> Expire, 3 -> Tag, 1 -> DropTag)
    val genSeq: Gen[List[Op]] = Gen.listOfN(14, genOp)

    samples(genSeq, 4, seed = 1234).zipWithIndex.foreach { case (ops, trial) =>
      withFileIO(trial) {
      val path = Files.createTempDirectory(s"tagprop$trial").resolve("c").toString
      val p = java.nio.file.Paths.get(path)
      var nextId = 0L
      var model = Set.empty[Long] // current live ids
      val pinned = scala.collection.mutable.Map.empty[String, Set[Long]]
      var nextTag = 0
      def write(ids: Seq[Long], mode: String): Unit =
        ids.toDF("id").write.format("hadro").mode(mode).save(path)
      write(0L until 5L, "append"); model = (0L until 5L).toSet; nextId = 5
      val c = Collection(spark, path)

      def readIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("id").as[Long].collect().toSet

      ops.foreach { op =>
        op match {
          case Append =>
            write(nextId until nextId + 3, "append")
            model ++= (nextId until nextId + 3); nextId += 3
          case Delete if model.nonEmpty =>
            // copy-on-write delete: pinned rewrite to the filtered content
            val victim = model.min
            val m0 = CollectionMeta.currentManifest(p)
            spark.read.format("hadro").load(path)
              .filter(col("id") =!= victim)
              .write.format("hadro").mode("overwrite")
              .option("hadro.compactOf", m0.version.toString)
              .option("hadro.compactOfGen", m0.generation.toString)
              .save(path)
            model -= victim
          case Delete => ()
          case Compact => c.compact()
          case Vacuum => c.vacuum()
          case Expire => c.expireSnapshots(System.currentTimeMillis() + 60000)
          case Tag =>
            val name = s"t$nextTag"; nextTag += 1
            c.createTag(name)
            pinned(name) = model
          case DropTag if pinned.nonEmpty =>
            val name = pinned.keys.head
            c.dropTag(name); pinned -= name
          case DropTag => ()
        }
        // invariants after EVERY op
        assert(readIds(c.scan()) == model, s"trial $trial after $op: head diverged")
        pinned.foreach { case (name, want) =>
          val v = c.tags(name)
          val got = readIds(c.scanVersion(v))
          assert(got == want,
            s"trial $trial after $op: tag $name pinned ${want.size} rows, read ${got.size}")
        }
      }
      }
    }
  }

  test("property: publish/clone/constraint branching matches a model (9 op types, both FileIO impls)") {
    import graft.meta.CollectionMeta
    // Model checking the WHOLE branching story: against driver-side models
    // of the target AND its staged clone, run random op sequences over
    // NINE op types — append, CoW delete, compact, vacuum, tag, clone,
    // stage-append, publish (with the fast-forward refusal), constraint
    // add/drop — and after EVERY op assert the target reads its model,
    // the stage reads its model, every live tag still reads its pinned
    // snapshot, and the constraint set matches.
    sealed trait Op
    case object Append extends Op
    case object Delete extends Op
    case object Compact extends Op
    case object Vacuum extends Op
    case object Tag extends Op
    case object Clone extends Op
    case object StageAppend extends Op
    case object Publish extends Op
    case object AddConstraint extends Op
    case object DropConstraint extends Op
    val genOp: Gen[Op] = Gen.frequency(
      4 -> Append, 2 -> Delete, 1 -> Compact, 1 -> Vacuum, 2 -> Tag,
      2 -> Clone, 3 -> StageAppend, 3 -> Publish,
      2 -> AddConstraint, 1 -> DropConstraint)
    val genSeq: Gen[List[Op]] = Gen.listOfN(16, genOp)

    samples(genSeq, 4, seed = 4321).zipWithIndex.foreach { case (ops, trial) =>
      withFileIO(trial) {
      val root = Files.createTempDirectory(s"pubprop$trial")
      val path = root.resolve("target").toString
      var nextId = 0L
      var model = Set.empty[Long]
      val pinned = scala.collection.mutable.Map.empty[String, Set[Long]]
      var nextTag = 0
      var nextStage = 0
      var nextCons = 0
      var consModel = Set.empty[String]
      // (stage collection, its model, target version it branched from)
      var stage: Option[(Collection, scala.collection.mutable.Set[Long], Long)] = None
      def write(p: String, ids: Seq[Long]): Unit =
        ids.toDF("id").write.format("hadro").mode("append").save(p)
      write(path, 0L until 5L); model = (0L until 5L).toSet; nextId = 5
      val c = Collection(spark, path)
      def readIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("id").as[Long].collect().toSet

      ops.foreach { op =>
        op match {
          case Append =>
            write(path, nextId until nextId + 3)
            model ++= (nextId until nextId + 3); nextId += 3
          case Delete if model.nonEmpty =>
            val victim = model.min
            val m0 = CollectionMeta.currentManifest(java.nio.file.Paths.get(path))
            spark.read.format("hadro").load(path)
              .filter(col("id") =!= victim)
              .write.format("hadro").mode("overwrite")
              .option("hadro.compactOf", m0.version.toString)
              .option("hadro.compactOfGen", m0.generation.toString)
              .save(path)
            model -= victim
          case Delete => ()
          case Compact => c.compact()
          case Vacuum => c.vacuum()
          case Tag =>
            val name = s"t$nextTag"; nextTag += 1
            c.createTag(name)
            pinned(name) = model
          case Clone =>
            val sp = root.resolve(s"stage$nextStage").toString; nextStage += 1
            val sc = c.cloneTo(sp)
            stage = Some((sc, scala.collection.mutable.Set(model.toSeq: _*), c.version))
          case StageAppend => stage.foreach { case (sc, sm, _) =>
            write(sc.path, nextId until nextId + 2)
            sm ++= (nextId until nextId + 2); nextId += 2
          }
          case Publish => stage.foreach { case (sc, sm, base) =>
            if (c.version != base) {
              // target advanced past the branch point: the swap must
              // refuse (it would silently replace those commits)...
              val e = intercept[Exception](c.publishFrom(sc.path))
              assert(e.getMessage.contains("publish refused"), e.getMessage)
              // ...and force overrides explicitly
              c.publishFrom(sc.path, force = true)
            } else c.publishFrom(sc.path)
            model = sm.toSet
            // a successful publish fast-forwards the branch base
            stage = Some((sc, sm, c.version))
          }
          case AddConstraint =>
            val name = s"c$nextCons"; nextCons += 1
            c.addConstraint(name, "id >= 0") // holds for every generated row
            consModel += name
          case DropConstraint if consModel.nonEmpty =>
            val name = consModel.head
            assert(c.dropConstraint(name))
            consModel -= name
          case DropConstraint => ()
        }
        // invariants after EVERY op
        assert(readIds(c.scan()) == model, s"trial $trial after $op: target diverged")
        assert(c.constraints.keySet == consModel,
          s"trial $trial after $op: constraints diverged")
        stage.foreach { case (sc, sm, _) =>
          assert(readIds(sc.scan()) == sm.toSet,
            s"trial $trial after $op: stage diverged")
        }
        pinned.foreach { case (name, want) =>
          val v = c.tags(name)
          val got = readIds(c.scanVersion(v))
          assert(got == want,
            s"trial $trial after $op: tag $name pinned ${want.size} rows, read ${got.size}")
        }
      }
      }
    }
  }

  test("property: partitioned layout invariants under random maintenance (7 op types)") {
    import graft.meta.CollectionMeta
    // Model checking the days(ts) layout: random sequences over append /
    // compact / compactSmall / drop_partitions / vacuum / tag / REPLACE
    // WHERE (whole-day region overwrite), against a driver-side per-day
    // model. After EVERY op: the scan reads exactly the model, every
    // live segment carries a day tag, and every segment's ts stats stay
    // inside its tagged day — the invariant that makes stats pruning
    // equal partition pruning. ReplaceDay additionally exercises the
    // replace-commit interplay with tag pinning (pinned snapshots must
    // survive the deferred GC of replaced files) and with dropped-day
    // ordinal floors.
    sealed trait Op
    case object Append extends Op
    case object Compact extends Op
    case object Pack extends Op
    case object DropOldest extends Op
    case object Vacuum extends Op
    case object Tag extends Op
    case object ReplaceDay extends Op
    val genOp: Gen[Op] = Gen.frequency(
      5 -> Append, 2 -> Compact, 2 -> Pack, 2 -> DropOldest,
      1 -> Vacuum, 1 -> Tag, 2 -> ReplaceDay)
    val genSeq: Gen[List[Op]] = Gen.listOfN(12, genOp)
    val MicrosPerDay = 86400000000L
    val day0 = java.time.LocalDate.of(2026, 9, 1).toEpochDay

    samples(genSeq, 3, seed = 777).zipWithIndex.foreach { case (ops, trial) =>
      val w = Files.createTempDirectory(s"partprop$trial").toString
      val cat = s"partprop$trial"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.spark.HadroCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"""CREATE TABLE $cat.db.ev (id BIGINT, ts TIMESTAMP)
        USING hadro PARTITIONED BY (days(ts))""")
      val dir = java.nio.file.Paths.get(w, "db", "ev")
      val c = Collection(spark, dir.toString)
      var nextId = 0L
      // model: live day-ordinal -> ids
      val model = scala.collection.mutable.Map.empty[Long, Set[Long]]
      var minLiveDay = day0 // days before this were dropped
      val pinned = scala.collection.mutable.Map.empty[String, Set[Long]]
      var nextTag = 0

      def append(): Unit = {
        val ids = nextId until nextId + 8
        nextId += 8
        val rows = ids.map { id =>
          val day = day0 + (id % 4) // 4-day spread, interleaved
          (id, new java.sql.Timestamp(
            (day * MicrosPerDay + (id % 7) * 3600000000L) / 1000L))
        }
        rows.toDF("id", "ts").write.format("hadro").mode("append")
          .save(dir.toString)
        // ids landing in an already-dropped day STAY LIVE: drop is a
        // point-in-time retention op, not a standing filter
        rows.foreach { case (id, _) =>
          val day = day0 + (id % 4)
          model(day) = model.getOrElse(day, Set.empty) + id
        }
      }
      append()

      ops.foreach { op =>
        op match {
          case Append => append()
          case Compact => c.compact()
          case Pack => c.compactSmall(1 << 20)
          case DropOldest =>
            val cutoff = minLiveDay + 1
            c.dropPartitions(cutoff.toString)
            model.keys.filter(_ < cutoff).toSeq.foreach(model.remove)
            minLiveDay = cutoff
          case Vacuum => c.vacuum()
          case Tag =>
            val name = s"t$nextTag"; nextTag += 1
            c.createTag(name)
            pinned(name) = model.values.flatten.toSet
          case ReplaceDay =>
            // overwrite ONE whole day with a fresh (smaller) batch —
            // the daily-reprocess shape; region = the day's time window
            val day = day0 + (nextId % 4) // may be live, dropped, or empty
            val ids = nextId until nextId + 3
            nextId += 3
            val lo = new java.sql.Timestamp(day * MicrosPerDay / 1000L)
            val hi = new java.sql.Timestamp((day + 1) * MicrosPerDay / 1000L)
            ids.map(id => (id, new java.sql.Timestamp(
                (day * MicrosPerDay + (id % 7) * 3600000000L) / 1000L)))
              .toDF("id", "ts")
              .writeTo(s"$cat.db.ev")
              .overwrite(col("ts") >= lit(lo) && col("ts") < lit(hi))
            model(day) = ids.toSet
        }
        // invariants after EVERY op
        val got = spark.read.format("hadro").load(dir.toString)
          .select("id").as[Long].collect().toSet
        assert(got == model.values.flatten.toSet,
          s"trial $trial after $op: scan diverged " +
            s"(${got.size} vs ${model.values.flatten.toSet.size})")
        val segs = CollectionMeta.currentManifest(dir).segments
        segs.foreach { s =>
          val tag = s.partition.getOrElse(
            fail(s"trial $trial after $op: untagged segment ${s.file}"))
          val st = s.stats("ts")
          val lo = st.min.get.toLong / MicrosPerDay
          val hi = st.max.get.toLong / MicrosPerDay
          assert(lo == tag.toLong && hi == tag.toLong,
            s"trial $trial after $op: segment ${s.file} tagged $tag spans " +
              s"days $lo..$hi")
        }
        pinned.foreach { case (name, want) =>
          val got = spark.read.format("hadro")
            .option("hadro.versionAsOf", c.tags(name).toString)
            .load(dir.toString).select("id").as[Long].collect().toSet
          assert(got == want,
            s"trial $trial after $op: tag $name pinned ${want.size}, " +
              s"read ${got.size}")
        }
      }
      spark.sql(s"DROP TABLE $cat.db.ev")
    }
  }

  test("property: changefeed windows equal the model's net change set " +
      "under random append / dv delete / drop / compact sequences") {
    import graft.meta.CollectionMeta
    // Model checking the CDC window machinery: for random op sequences,
    // EVERY window (v_i, v_j] must (a) refuse iff the real refusal rules
    // say so — generation drift always; partition drops / dv drift only
    // for plain (non-changefeed) reads — and (b) when readable in
    // changefeed=full mode, equal the model's NET change set: inserts =
    // live(v_j) - live(v_i), synthesized deletes = live(v_i) - live(v_j),
    // rows appended AND removed inside the window in neither. Refusal
    // prediction comes from manifest METADATA (files/vectors/generation),
    // not from the scan code under test.
    sealed trait Op
    case object Append extends Op
    case object DvDelete extends Op
    case object DropOldest extends Op
    case object Compact extends Op
    case object Pack extends Op // compactSmall: the bin-scoped rewrite
    case object Vacuum extends Op // reclaims superseded bytes mid-history
    val genOp: Gen[Op] = Gen.frequency(
      5 -> Append, 4 -> DvDelete, 2 -> DropOldest, 2 -> Compact,
      2 -> Pack, 1 -> Vacuum)
    val genSeq: Gen[List[Op]] = Gen.listOfN(10, genOp)
    val MicrosPerDay = 86400000000L
    val day0 = java.time.LocalDate.of(2026, 10, 1).toEpochDay

    final case class Snap(version: Long, generation: Long,
      files: Map[String, Option[String]], live: Set[Long])

    samples(genSeq, 2, seed = 1313).zipWithIndex.foreach { case (ops, trial) =>
      val w = Files.createTempDirectory(s"cdcprop$trial").toString
      val cat = s"cdcprop$trial"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.spark.HadroCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"""CREATE TABLE $cat.db.ev (id BIGINT, ts TIMESTAMP)
        USING hadro PARTITIONED BY (days(ts))""")
      val dirS = java.nio.file.Paths.get(w, "db", "ev").toString
      val dirP = java.nio.file.Paths.get(dirS)
      val c = Collection(spark, dirS)
      var nextId = 0L
      var minLiveDay = day0
      val live = scala.collection.mutable.Set.empty[Long]
      val snaps = scala.collection.mutable.ArrayBuffer.empty[Snap]

      def dayOf(id: Long): Long = day0 + (id % 3)
      def record(): Unit = {
        val m = CollectionMeta.currentManifest(dirP)
        val s = Snap(m.version, m.generation,
          m.segments.map(x => x.file -> x.deleteVector).toMap, live.toSet)
        // version-idempotent ops (no-op deletes/compacts) don't re-record
        if (snaps.isEmpty || snaps.last.version != s.version) snaps += s
        else snaps(snaps.length - 1) = s
      }
      def append(): Unit = {
        val ids = nextId until nextId + 4
        nextId += 4
        ids.map(id => (id, new java.sql.Timestamp(
            (dayOf(id) * MicrosPerDay + (id % 5) * 3600000000L) / 1000L)))
          .toDF("id", "ts")
          .write.format("hadro").mode("append").save(dirS)
        live ++= ids
      }
      append(); record()

      spark.conf.set("spark.hadro.delete.mode", "dv")
      try {
        ops.foreach { op =>
          op match {
            case Append => append()
            case DvDelete if live.nonEmpty =>
              // deterministic victims: a residue class of the live set —
              // may span several files' vectors, may match zero rows
              val k = (nextId % 3) + 2
              val m = nextId % k
              spark.sql(s"DELETE FROM $cat.db.ev WHERE id % $k = $m")
              live.filterInPlace(id => id % k != m)
            case DvDelete => ()
            case DropOldest =>
              val cutoff = minLiveDay + 1
              c.dropPartitions(cutoff.toString)
              live.filterInPlace(id => dayOf(id) >= cutoff)
              minLiveDay = cutoff
            case Compact => c.compact()
            case Pack => c.compactSmall(1L << 20)
            case Vacuum => c.vacuum()
          }
          record()
        }
      } finally spark.conf.unset("spark.hadro.delete.mode")

      // windows: for every snapshot, pair it with the first, the previous
      // and the midpoint snapshot — covers short, long and nested windows
      for {
        j <- 1 until snaps.length
        i <- Set(0, j - 1, j / 2)
      } {
        val (a, b) = (snaps(i), snaps(j))
        val wantIns = b.live -- a.live
        val wantDel = a.live -- b.live
        def fullRead() = spark.read.format("hadro")
          .option("hadro.changefeed", "full")
          .option("hadro.changesStart", a.version.toString)
          .option("hadro.changesEnd", b.version.toString).load(dirS)
          .select($"id", $"_hadro_deleted").as[(Long, Boolean)]
          .collect().toSet
        def plainRead() = spark.read.format("hadro")
          .option("hadro.changesStart", a.version.toString)
          .option("hadro.changesEnd", b.version.toString).load(dirS)
          .select($"id").as[Long].collect().toSet
        // a window crossing a compaction may now READ THROUGH it (the
        // chain walk treats provable data-preserving rewrites as
        // transparent) or refuse (e.g. the rewrite consumed in-window
        // appends) — whichever happens, a successful read must equal the
        // model's net change set, and a refusal must name the rewrite
        val want = wantIns.map((_, false)) ++ wantDel.map((_, true))
        def rewriteRefusal(msg: String): Boolean =
          msg.contains("compaction") || msg.contains("not available") ||
            msg.contains("generation change")
        // deferred-GC sweeps may reclaim the superseded bytes synthesized
        // deletes would read, and a LATER compaction may physically GC a
        // pinned end snapshot's files — both refusals are legitimate in
        // any mode, independent of in-window generation drift
        def reclaimedRefusal(msg: String): Boolean =
          msg.contains("reclaimed") || msg.contains("reconstructable")
        (try Right(fullRead()) catch {
          case e: Exception => Left(e.getMessage)
        }) match {
          case Right(got) =>
            assert(got == want,
              s"trial $trial window ($i,$j] v(${a.version},${b.version}]: " +
                s"got ${got.toSeq.sorted}, want ${want.toSeq.sorted}")
          case Left(msg) =>
            assert(rewriteRefusal(msg) || reclaimedRefusal(msg),
              s"trial $trial window ($i,$j]: $msg")
            assert(a.generation != b.generation || reclaimedRefusal(msg),
              s"trial $trial window ($i,$j]: full read refused with no " +
                s"rewrite in the window: $msg")
        }
        (try Right(plainRead()) catch {
          case e: Exception => Left(e.getMessage)
        }) match {
          case Right(got) =>
            assert(got == wantIns && wantDel.isEmpty,
              s"trial $trial window ($i,$j] plain read diverged")
          case Left(msg) =>
            assert(msg.contains("changefeed=full") || rewriteRefusal(msg) ||
              reclaimedRefusal(msg),
              s"trial $trial window ($i,$j]: $msg")
            // a plain refusal must be justified: a rewrite in the window,
            // reclaimed source bytes, or rows removed (drops / dv drift
            // need changefeed=full)
            assert(a.generation != b.generation || wantDel.nonEmpty ||
              reclaimedRefusal(msg) ||
              (a.files.keySet -- b.files.keySet).nonEmpty,
              s"trial $trial window ($i,$j]: plain read refused with " +
                s"nothing to refuse over: $msg")
        }
      }
      spark.sql(s"DROP TABLE $cat.db.ev")
    }
  }

  test("property: keyed incremental rollup equals a full-recompute model " +
      "under random upsert / tombstone / dv-delete / compact / cycle mixes") {
    import graft.api.IncrementalRollup
    // Model checking the consumer loop end-to-end (the h94 bug class —
    // shadowed pre-images, double-counted upserts, missed group moves —
    // found systematically instead of by one oracle): a KEYED fact
    // mutates through random op sequences with cycleKeyed interleaved
    // anywhere, including right after compactions; after EVERY cycle the
    // rollup collection must equal a driver-side full recompute of the
    // model. Values are integer cents so model and DECIMAL(18,2) rollup
    // compare exactly.
    sealed trait Op
    case object Insert extends Op // new keys
    case object Update extends Op // existing keys: new value, maybe new group
    case object Tombstone extends Op // merge-delete existing keys
    case object DvDelete extends Op // SQL DELETE (deletion vectors)
    case object Pack extends Op // compactSmall: data-preserving rewrite
    case object Cycle extends Op
    val genOp: Gen[Op] = Gen.frequency(4 -> Insert, 4 -> Update,
      2 -> Tombstone, 2 -> DvDelete, 2 -> Pack, 4 -> Cycle)
    val genSeq: Gen[List[Op]] = Gen.listOfN(12, genOp)
    val groups = Vector("A", "B", "C")

    samples(genSeq, 2, seed = 4242).zipWithIndex.foreach { case (ops, trial) =>
      withFileIO(trial) {
      val w = Files.createTempDirectory(s"rollprop$trial").toString
      val cat = s"rollprop$trial"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.spark.HadroCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      val factDir = java.nio.file.Paths.get(w, "db", "f").toString
      val aggDir = java.nio.file.Paths.get(w, "db", "agg").toString
      val model = scala.collection.mutable.Map.empty[Long, (String, Long)]
      var nextId = 0L
      def df(rows: Seq[(Long, String, Long)]) =
        rows.toDF("id", "g", "cents")
          .select($"id", $"g", ($"cents" / 100.0).cast("decimal(18,2)").as("v"))
      def insert(n: Int): Seq[(Long, String, Long)] = {
        val rows = (0 until n).map { i =>
          val id = nextId + i
          (id, groups((id % 3).toInt), (id * 37 + trial) % 10000)
        }
        nextId += n
        rows.foreach { case (id, g, c) => model(id) = (g, c) }
        rows
      }
      // v0 + upsert history BEFORE bootstrap: the baseline itself must
      // aggregate the RESOLVED snapshot (the bootstrap-fix regression)
      df(insert(6)).write.format("hadro").mode("overwrite")
        .option("hadro.key", "id").save(factDir)
      val fact = Collection(spark, factDir)
      fact.set(df(insert(3)))
      IncrementalRollup.bootstrap(spark, factDir, s"${cat}_cursor", aggDir,
        "g", Seq("v" -> "sv"))
      def check(tag: String): Unit = {
        val got = Collection(spark, aggDir).toDF()
          .select($"g", $"n",
            ($"sv" * 100).cast("bigint").as("cents"))
          .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
        val want = model.values.groupBy(_._1).map { case (g, vs) =>
          (g, vs.size.toLong, vs.map(_._2).sum)
        }.toSeq.sortBy(_._1)
        assert(got == want, s"trial $trial $tag: rollup $got != model $want")
      }
      spark.conf.set("spark.hadro.delete.mode", "dv")
      try {
        ops.foreach {
          case Insert => fact.set(df(insert(4)))
          case Update if model.nonEmpty =>
            // every 3rd touched key also MOVES group (the h94 group-move
            // fold: old group decrements, new group increments)
            val victims = model.keys.toSeq.sorted
              .filter(_ % 4 == nextId % 4).take(5)
            val rows = victims.zipWithIndex.map { case (id, i) =>
              val (g0, c0) = model(id)
              val g = if (i % 3 == 0) groups(((id + 1) % 3).toInt) else g0
              (id, g, (c0 + 111) % 10000)
            }
            if (rows.nonEmpty) {
              fact.set(df(rows))
              rows.foreach { case (id, g, c) => model(id) = (g, c) }
            }
          case Update => ()
          case Tombstone if model.nonEmpty =>
            val victims = model.keys.toSeq.sorted
              .filter(_ % 5 == nextId % 5).take(4)
            if (victims.nonEmpty) {
              fact.merge(
                df(victims.map(id => (id, model(id)._1, model(id)._2)))
                  .withColumn("d", lit(true)), $"d")
              victims.foreach(model.remove)
            }
          case Tombstone => ()
          case DvDelete if model.nonEmpty =>
            val k = (nextId % 3) + 6
            spark.sql(s"DELETE FROM $cat.db.f WHERE id % $k = 1")
            model.filterInPlace((id, _) => id % k != 1)
          case DvDelete => ()
          case Pack => fact.compactSmall(1L << 30)
          case Cycle =>
            // a rewrite over upsert/tombstone history folds shadowed
            // versions — the chain walk REFUSES per-key attribution
            // there by design, and the documented consumer recovery is
            // a re-bootstrap from the full snapshot; both paths must
            // leave the rollup equal to the model
            try IncrementalRollup.cycleKeyed(spark, factDir,
              s"${cat}_cursor", s"$cat.db.agg", "g", Seq("v" -> "sv"))
            catch {
              case e: Exception if Option(e.getMessage)
                  .exists(_.contains("generation change")) =>
                IncrementalRollup.bootstrap(spark, factDir,
                  s"${cat}_cursor", aggDir, "g", Seq("v" -> "sv"))
            }
            check(s"post-cycle")
        }
        try IncrementalRollup.cycleKeyed(spark, factDir, s"${cat}_cursor",
          s"$cat.db.agg", "g", Seq("v" -> "sv"))
        catch {
          case e: Exception if Option(e.getMessage)
              .exists(_.contains("generation change")) =>
            IncrementalRollup.bootstrap(spark, factDir,
              s"${cat}_cursor", aggDir, "g", Seq("v" -> "sv"))
        }
        check("final")
        // negative proof (the harness is not vacuous): corrupt one group
        // in the rollup — a seeded sign-flip-sized error — and the same
        // comparator must now reject
        val someG = model.values.headOption.map(_._1)
        someG.foreach { g =>
          Collection(spark, aggDir).set(
            Seq((g, -1L)).toDF("g", "n")
              .withColumn("sv", lit(0.01).cast("decimal(18,2)")))
          val caught = try { check("corrupted"); false }
          catch { case _: org.scalatest.exceptions.TestFailedException => true }
          assert(caught, s"trial $trial: comparator missed a seeded corruption")
        }
      } finally {
        spark.conf.unset("spark.hadro.delete.mode")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
        spark.conf.unset(s"spark.sql.catalog.$cat")
      }
      }
    }
  }

  test("property: radius search equals a JVM reference over arbitrary corpora") {
    import graft.ops.SimilarityOps
    val genVec: Gen[Seq[Float]] =
      Gen.listOfN(8, Gen.choose(-1.0f, 1.0f)).map(_.toSeq)
    val genCorpus: Gen[List[Seq[Float]]] =
      Gen.choose(5, 60).flatMap(Gen.listOfN(_, genVec))
    def cosRef(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    samples(Gen.zip(genCorpus, genVec, Gen.choose(-0.5, 0.9)), 5, seed = 97)
      .foreach { case (corpus, q, theta) =>
        val df = corpus.zipWithIndex
          .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
        val got = SimilarityOps.radiusSearch(df, "vec_id", "embedding", q, theta)
          .select($"vec_id").as[Long].collect().toSet
        // reference filters at a half-ulp guard: a corpus cosine landing
        // EXACTLY on theta is genuinely ambiguous between float orders
        val want = corpus.zipWithIndex
          .filter { case (v, _) => cosRef(v, q) >= theta }
          .map(_._2.toLong).toSet
        val boundary = corpus.zipWithIndex
          .filter { case (v, _) => math.abs(cosRef(v, q) - theta) < 1e-12 }
          .map(_._2.toLong).toSet
        assert((got -- boundary) == (want -- boundary),
          s"theta=$theta diff=${(got diff want) union (want diff got)}")
      }
  }

  test("pcm_stats equals a JVM reference over arbitrary buffers") {
    val genPcm = Gen.choose(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
    samples(genPcm, 40, seed = 91).foreach { bytes =>
      val arr = bytes.toArray
      val row = graft.functions.PcmStats(
        org.apache.spark.sql.catalyst.expressions.Literal(arr))
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val n = arr.length / 2
      var sumSq = 0L; var peak = 0
      (0 until n).foreach { i =>
        val s = (arr(2 * i) << 8) | (arr(2 * i + 1) & 0xFF)
        peak = math.max(peak, math.abs(s)); sumSq += s.toLong * s
      }
      assert(row.getInt(0) == n && row.getInt(1) == peak && row.getLong(2) == sumSq)
    }
  }
}
