package hbench

import java.util.SplittableRandom

/** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent), by
  * inverse-CDF binary search. */
final class Zipf(n: Int, s: Double) {
  require(n > 0)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    var acc = 0.0
    val total = w.sum
    w.map { x => acc += x; acc / total }
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Seeded input generators. Every workload input is a pure function of
  * the seed: the same seed gives the same rows, operations and corpus. */
object Gen {
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  def text(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    val b = new StringBuilder(n)
    var i = 0
    while (i < n) { b.append(Alphabet.charAt(r.nextInt(Alphabet.length))); i += 1 }
    b.toString
  }

  /** A seeded permutation of 0 until n (Fisher-Yates). */
  def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  // ------------------------------------------------------------ kv_mixed

  /** One keyed row: key, ~100-byte payload, version counter, timestamp. */
  final case class KvRow(k: Long, v: String, n: Int, ts: Long) {
    def userBytes: Long = 8L + v.length + 4L + 8L
  }

  def kvRow(r: SplittableRandom, k: Long, version: Int): KvRow =
    KvRow(k, text(r, 90, 110), version, 1700000000000L + r.nextInt(1 << 30))

  sealed trait KvOp
  final case class Get(k: Long) extends KvOp
  final case class MultiGet(ks: Seq[Long]) extends KvOp
  final case class SetBatch(rows: Seq[KvRow]) extends KvOp
  final case class DeleteBatch(ks: Seq[Long]) extends KvOp

  final case class KvInput(initial: Array[KvRow], ops: Array[KvOp])

  /** Initial rows 0 until `rows` and a 70/10/15/5 get/multiGet/set/delete
    * op stream whose keys are Zipf(0.99)-skewed over a seeded permutation
    * of the key space (hot keys land in every segment). Set batches touch
    * `setRows` distinct keys, a fifth of them new. */
  def kv(seed: Long, rows: Int, nOps: Int, setRows: Int = 100,
      multi: Int = 16, deletes: Int = 10): KvInput = {
    val r = rng(seed, 1)
    val initial = Array.tabulate(rows)(i => kvRow(r, i.toLong, 0))
    val perm = permutation(rng(seed, 2), rows)
    val zipf = new Zipf(rows, 0.99)
    val or = rng(seed, 3)
    var nextKey = rows.toLong
    val versions = scala.collection.mutable.HashMap.empty[Long, Int]
    def hot(): Long = perm(zipf.sample(or)).toLong
    def distinct(n: Int)(draw: => Long): Seq[Long] = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (s.size < n) s += draw
      s.toSeq
    }
    val ops = Array.fill[KvOp](nOps) {
      val u = or.nextInt(100)
      if (u < 70) Get(hot())
      else if (u < 80) MultiGet(distinct(multi)(hot()))
      else if (u < 95) {
        val keys = distinct(setRows) {
          if (or.nextInt(5) == 0) { nextKey += 1; nextKey - 1 } else hot()
        }
        SetBatch(keys.map { k =>
          val v = versions.getOrElse(k, 0) + 1
          versions(k) = v
          kvRow(or, k, v)
        })
      } else DeleteBatch(distinct(deletes)(hot()))
    }
    KvInput(initial, ops)
  }

  // ------------------------------------------------------------ log_scan

  /** Eight mixed-type columns; `id` is dense and ascending, so every
    * append covers one id range (the range-clustered filter column). */
  final case class LogRow(id: Long, ts: Long, cat: String, name: String,
      qty: Int, price: Double, flag: Boolean, note: String) {
    def userBytes: Long =
      8L + 8L + cat.length + name.length + 4L + 8L + 1L +
        (if (note == null) 0L else note.length)
  }

  val Categories: Array[String] = Array.tabulate(50)(i => f"category-$i%02d")

  def logRow(r: SplittableRandom, id: Long, zipf: Zipf): LogRow =
    LogRow(id, 1700000000000L + id * 1000L + r.nextInt(1000),
      Categories(zipf.sample(r)), text(r, 20, 40), r.nextInt(1000),
      r.nextInt(400000) / 4.0, r.nextBoolean(),
      if (r.nextInt(10) < 3) null else text(r, 20, 60))

  final case class LogInput(batches: Array[Array[LogRow]], upsert: Array[LogRow])

  /** `batches` appends of `perBatch` rows, then an upsert of `upsertFrac`
    * of all ids (distinct, seeded) with fresh values. */
  def log(seed: Long, batches: Int, perBatch: Int,
      upsertFrac: Double = 0.01): LogInput = {
    val r = rng(seed, 4)
    val zipf = new Zipf(Categories.length, 1.1)
    val bs = Array.tabulate(batches)(b =>
      Array.tabulate(perBatch)(i => logRow(r, b.toLong * perBatch + i, zipf)))
    val total = batches * perBatch
    val nUp = math.max(1, (total * upsertFrac).toInt)
    val ids = permutation(rng(seed, 5), total).take(nUp).sorted
    val ur = rng(seed, 6)
    LogInput(bs, ids.map(i => logRow(ur, i.toLong, zipf)))
  }

  // ---------------------------------------------------------- dedup_loop

  final case class Doc(id: Long, text: String)

  /** A planted near-duplicate family: the origin and its copies, each copy
    * the origin with one interior token replaced. */
  final case class Family(origin: Long, copies: Seq[Long])

  final case class Corpus(docs: Array[Doc], families: Seq[Family])

  /** Distinct word 3-shingles, the unit the program's n-gram Jaccard uses. */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ")
    if (t.length < 3) Set(text) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val x = shingles(a); val y = shingles(b)
    (x intersect y).size.toDouble / (x union y).size
  }

  /** `n` docs of `tokens` Zipf(1.0)-vocabulary tokens, doc id = position.
    * About `dupFrac` of docs are members of planted families of 2-4 docs
    * (origin + 1-3 copies) at random positions, so families straddle any
    * positional split. Every copy has Jaccard >= 0.9 with its origin;
    * a draw that falls short is redrawn. */
  def corpus(seed: Long, n: Int, tokens: Int = 80, vocab: Int = 20000,
      dupFrac: Double = 0.10): Corpus = {
    val r = rng(seed, 7)
    val zipf = new Zipf(vocab, 1.0)
    def word(): String = "w" + zipf.sample(r)
    val toks = Array.fill(n)(Array.fill(tokens)(word()))
    val free = permutation(rng(seed, 8), n).iterator
    val families = scala.collection.mutable.ArrayBuffer.empty[Family]
    var planted = 0
    while (planted + 4 <= (n * dupFrac).toInt) {
      val origin = free.next()
      val copies = Seq.fill(1 + r.nextInt(3))(free.next())
      copies.foreach { c =>
        var t: Array[String] = null
        do {
          t = toks(origin).clone()
          t(2 + r.nextInt(tokens - 4)) = word()
        } while (jaccard(t.mkString(" "), toks(origin).mkString(" ")) < 0.9)
        toks(c) = t
      }
      families += Family(origin.toLong, copies.map(_.toLong))
      planted += 1 + copies.size
    }
    Corpus(Array.tabulate(n)(i => Doc(i.toLong, toks(i).mkString(" "))),
      families.toSeq)
  }
}
