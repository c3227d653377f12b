package hbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** The benchmark's own tests (`python3 hbench/run.py --self-test`):
  * seeded generators, distribution shapes, the percentile rule, span
  * self-time arithmetic, and that every oracle counts a wrong expected
  * value as a failure. Needs no Spark session. Returns the number of
  * failed tests (0 = pass). */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def assert(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def near(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.abs(b)

  def run(): Int = {
    test("generators are deterministic per seed and differ across seeds") {
      def kv(s: Long) = { val g = Gen.kv(s, 2000, 300); (g.initial.toSeq, g.ops.toSeq) }
      def log(s: Long) = { val g = Gen.log(s, 4, 500); (g.batches.map(_.toSeq).toSeq, g.upsert.toSeq) }
      def corpus(s: Long) = { val c = Gen.corpus(s, 400); (c.docs.toSeq, c.families) }
      assert(kv(1) == kv(1), "kv differs for one seed")
      assert(kv(1) != kv(2), "kv equal across seeds")
      assert(log(1) == log(1), "log differs for one seed")
      assert(log(1) != log(2), "log equal across seeds")
      assert(corpus(1) == corpus(1), "corpus differs for one seed")
      assert(corpus(1) != corpus(2), "corpus equal across seeds")
    }

    test("Zipf ranks follow 1/rank^s") {
      val z = new Zipf(1000, 0.99)
      val r = Gen.rng(7, 0)
      val counts = new Array[Int](1000)
      (1 to 300000).foreach(_ => counts(z.sample(r)) += 1)
      val h = (1 to 1000).map(i => 1.0 / math.pow(i, 0.99)).sum
      assert(near(counts(0) / 300000.0, 1.0 / h, 0.03), s"rank-0 share ${counts(0) / 300000.0}")
      assert(near(counts(0).toDouble / counts(9), math.pow(10, 0.99), 0.15),
        s"rank 1/10 ratio ${counts(0).toDouble / counts(9)}")
    }

    test("kv op mix is 70/10/15/5 with distinct keys per batch") {
      val g = Gen.kv(3, 5000, 20000)
      def share(p: Gen.KvOp => Boolean) = g.ops.count(p).toDouble / g.ops.length
      assert(near(share(_.isInstanceOf[Gen.Get]), 0.70, 0.03), "get share")
      assert(near(share(_.isInstanceOf[Gen.MultiGet]), 0.10, 0.08), "multiGet share")
      assert(near(share(_.isInstanceOf[Gen.SetBatch]), 0.15, 0.08), "set share")
      assert(near(share(_.isInstanceOf[Gen.DeleteBatch]), 0.05, 0.12), "delete share")
      g.ops.foreach {
        case Gen.SetBatch(rows) => assert(rows.map(_.k).distinct.size == 100, "set batch keys")
        case Gen.MultiGet(ks) => assert(ks.distinct.size == 16, "multiGet keys")
        case Gen.DeleteBatch(ks) => assert(ks.distinct.size == 10, "delete keys")
        case _ =>
      }
    }

    test("corpus plants ~10% near-duplicate families with Jaccard >= 0.9") {
      val c = Gen.corpus(5, 4000)
      val members = c.families.flatMap(f => f.origin +: f.copies)
      assert(members.distinct.size == members.size, "a doc is in two families")
      val share = members.size / 4000.0
      assert(share > 0.09 && share <= 0.10, s"planted share $share")
      assert(c.families.forall(f => f.copies.size >= 1 && f.copies.size <= 3), "family size")
      val text = c.docs.map(_.text)
      c.families.foreach(f => f.copies.foreach(x =>
        assert(Gen.jaccard(text(f.origin.toInt), text(x.toInt)) >= 0.9, s"copy $x of ${f.origin}")))
      val r = Gen.rng(5, 99)
      val background = (1 to 200).map(_ => Gen.jaccard(text(r.nextInt(4000)), text(r.nextInt(4000))))
      assert(background.filter(_ < 1.0).forall(_ < 0.3), s"background max ${background.max}")
    }

    test("tail percentile is the highest with >= 10 samples beyond it") {
      def xs(n: Int) = (1 to n).map(_.toDouble)
      assert(Stats.tail(xs(1000)) == Some((99.0, 990.0)), s"n=1000 ${Stats.tail(xs(1000))}")
      assert(Stats.tail(xs(999)) == Some((95.0, 950.0)), s"n=999 ${Stats.tail(xs(999))}")
      assert(Stats.tail(xs(100)) == Some((90.0, 90.0)), s"n=100 ${Stats.tail(xs(100))}")
      assert(Stats.tail(xs(20)) == Some((50.0, 10.0)), s"n=20 ${Stats.tail(xs(20))}")
      assert(Stats.tail(xs(10)).isEmpty, "n=10 has no percentile with 10 beyond")
      assert(Stats.tail(xs(100000)) == Some((99.99, 99990.0)), "n=100000")
      assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5,
        "median")
    }

    test("span self time subtracts the union of child intervals") {
      val spans = Seq(
        Span(1, 0, 1, "api", "root", 0, 100),
        Span(2, 1, 1, "plan", "a", 10, 30),
        Span(3, 1, 1, "exec", "b", 20, 50), // overlaps a
        Span(4, 1, 1, "exec", "c", 60, 70),
        Span(5, 1, 1, "exec", "d", 90, 120), // runs past the parent
        Span(6, 3, 1, "meta", "e", 25, 35))
      val self = Span.selfTimes(spans)
      assert(self(1) == 100 - (40 + 10 + 10), s"root self ${self(1)}")
      assert(self(3) == 30 - 10, s"b self ${self(3)}")
      assert(self(6) == 10 && self(2) == 20 && self(5) == 30, "leaf self")
    }

    test("kv oracle counts a wrong expected value as a failure") {
      val rows = Seq(Gen.KvRow(1, "a", 0, 5), Gen.KvRow(2, "b", 0, 6))
      val good = new KvMixed.Model(rows)
      val bad = new KvMixed.Model(rows)
      bad.set(Seq(Gen.KvRow(1, "z", 1, 5)))
      val got = Seq(KvMixed.row(rows.head))
      val c = new Checks
      c.op("right")(KvMixed.checkRead(c, good, Seq(1L), got))
      assert(c.failed == 0, "right model failed")
      c.op("wrong")(KvMixed.checkRead(c, bad, Seq(1L), got))
      val totals = Row(2L, 3L, 0L, 2L, 11L)
      c.op("right totals")(KvMixed.checkTotals(c, good, totals, "t"))
      c.op("wrong totals")(KvMixed.checkTotals(c, bad, totals, "t"))
      assert(c.attempted == 4 && c.failed == 2, s"attempted ${c.attempted} failed ${c.failed}")
    }

    test("log_scan oracle counts a wrong expected value as a failure") {
      val rows = Gen.log(1, 2, 50).batches.flatten.toSeq
      val want = LogScan.Agg.of(rows)
      val c = new Checks
      c.op("right")(LogScan.checkAgg(c, want, want, "scan"))
      c.op("wrong")(LogScan.checkAgg(c, want.copy(qty = want.qty + 1), want, "scan"))
      assert(c.attempted == 2 && c.failed == 1, s"attempted ${c.attempted} failed ${c.failed}")
    }

    test("dedup_loop oracles count a wrong expected value as a failure") {
      val keep = Set((1L, 1L, 2L), (5L, 5L, 3L))
      val cluster = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L)
      val keepOf = Map(1L -> 1L, 5L -> 5L)
      val fam = Gen.Family(5, Seq(6, 7))
      val c = new Checks
      c.op("keep right")(DedupLoop.checkKeepList(c, keep, keep))
      c.op("keep wrong")(DedupLoop.checkKeepList(c, keep + ((9L, 9L, 2L)), keep))
      c.op("family right")(DedupLoop.checkFamily(c, fam, cluster))
      c.op("family wrong")(DedupLoop.checkFamily(c, fam.copy(copies = Seq(6, 2)), cluster))
      c.op("drops right")(DedupLoop.checkDropList(c, cluster, keepOf, Set(2L, 6L, 7L)))
      c.op("drops wrong")(DedupLoop.checkDropList(c, cluster, keepOf, Set(2L, 6L)))
      assert(c.attempted == 6 && c.failed == 3, s"attempted ${c.attempted} failed ${c.failed}")
    }

    println(s"self-test: $passed passed, ${failures.size} failed")
    failures.size
  }
}
