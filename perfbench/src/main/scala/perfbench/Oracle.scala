package perfbench

/** Reference answers in plain Scala, outside Spark and independent of the
  * library's kernels and plans. */
object Oracle {

  /** Cosine in double precision over float inputs. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Relative slack for comparing scores computed in another order. */
  val Eps = 1e-9

  /** Check a returned top-k against brute force over `candidates`.
    * Ties are compared as sets: every returned id must carry its true
    * score, the returned scores must be the k best true scores, and every
    * candidate scoring strictly above the k-th best must be returned.
    * Returns None when the result is right, else a short reason. */
  def checkTopK(q: Array[Float], candidates: Iterable[(Long, Array[Float])], k: Int,
                got: Seq[(Long, Double)]): Option[String] = {
    val scored = candidates.iterator.map { case (id, v) => (id, cosine(q, v)) }
      .filterNot(_._2.isNaN).toArray.sortBy(-_._2)
    val want = scored.take(k)
    val truth = scored.toMap
    if (got.size != want.length)
      return Some(s"returned ${got.size} rows, expected ${want.length}")
    val bad = got.find { case (id, s) => truth.get(id).forall(t => math.abs(t - s) > Eps * (1 + math.abs(t))) }
    if (bad.isDefined) return Some(s"id ${bad.get._1} has a wrong or unknown score")
    if (want.isEmpty) return None
    val kth = want.last._2
    val gotIds = got.map(_._1).toSet
    val missing = scored.takeWhile(_._2 > kth + Eps * (1 + math.abs(kth))).map(_._1).filterNot(gotIds)
    if (missing.nonEmpty) return Some(s"missed ${missing.length} ids above the k-th score")
    val low = got.map(_._2).min
    if (low < kth - Eps * (1 + math.abs(kth))) Some("a returned score is below the k-th best")
    else None
  }
}
