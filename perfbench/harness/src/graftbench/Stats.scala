package graftbench

/** Percentiles and small numeric helpers used by every workload. */
object Stats {

  /** A percentile as reported: the value, the percentile actually used and
    * the sample count behind it.
    */
  final case class Pct(value: Double, percentile: Double, n: Int)

  /** Nearest-rank percentile under the tail rule: a percentile is only
    * reported when at least 10 samples lie beyond it. With too few samples
    * the highest percentile that still has 10 samples beyond it is reported
    * instead (and the minimum when there are 10 or fewer samples), so a p99
    * over 200 samples never reads the single worst sample.
    */
  def pct(samples: Seq[Double], p: Double): Pct = {
    val n = samples.size
    require(n > 0, "percentile of no samples")
    val sorted = samples.sorted
    val rank = math.ceil(p * n).toInt - 1
    val idx = math.max(0, math.min(rank, n - 11))
    Pct(sorted(idx), (idx + 1).toDouble / n, n)
  }

  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Tracing overhead in percent from (time, traced) units of work: the
    * traced median over the untraced one; 0 without both kinds.
    */
  def overheadPct(units: Seq[(Double, Boolean)]): Double = {
    val (traced, untraced) = units.partition(_._2)
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else (median(traced.map(_._1)) / median(untraced.map(_._1)) - 1.0) * 100.0
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
