package perfbench

/** Order statistics and the small JSON writer a run prints with. */
object Stats {

  /** Nearest-rank percentile (p in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, highest first. */
  val TailGrid: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail percentile a sample of `n` supports: the highest grid
    * percentile with at least ten samples beyond it. A sample too small
    * for any grid point (n < 20) falls back to the median, so a tail
    * figure is never read off fewer than ten samples. */
  def tailPercentile(n: Int): Double =
    TailGrid.find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9).getOrElse(50.0)

  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, percentile(xs, p))
  }

  // ---- JSON ----

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  /** Render a value made of Maps, Seqs, Strings, numbers and Booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
