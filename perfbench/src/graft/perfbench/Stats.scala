package graft.perfbench

/** Order statistics and the small JSON renderer the benchmark prints with. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of unsorted samples. */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val s = samples.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (rank - lo) * (s(hi) - s(lo))
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50)

  /** The percentiles a tail is reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile that leaves at least `beyond`
    * samples strictly above its rank, and its value. With fewer samples
    * than any candidate allows the median stands in for the tail, so a
    * thin run never reports a tail it could not have measured. */
  def tail(samples: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val n = samples.length
    val pct = TailCandidates
      .find(p => math.floor(n * (1.0 - p / 100.0) + 1e-9) >= beyond)
      .getOrElse(50.0)
    (pct, percentile(samples, pct))
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** JSON text of a value tree made of maps, sequences, strings, numbers
    * and booleans. Doubles keep every digit; non-finite ones become null. */
  def json(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${json(k.toString)}:${json(x)}" }
        .mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String =>
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => json(other.toString)
  }
}
