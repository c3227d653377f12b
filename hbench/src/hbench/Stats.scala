package hbench

/** Summary statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Percentile levels tried, highest first, by [[tail]]. */
  val TailLevels: Seq[Double] = Seq(99.99, 99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile in [[TailLevels]] with at least `beyond`
    * samples strictly after its nearest-rank position, as
    * (level, value); None when even the median lacks that many. The
    * nearest-rank position of level p over n samples is ceil(p/100 * n). */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.length
    TailLevels.iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
      (p, rank)
    }.collectFirst {
      case (p, rank) if n - rank >= beyond => (p, s(rank - 1))
    }
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
