package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  private def serveInputs(seed: Long) = {
    val d = new ServeMixed.Data(seed)
    (d.seedRows.map(r => (r.id, r.vector.toSeq, r.content, r.tags)),
      d.inserts().map(r => (r.id, r.vector.toSeq, r.tags)),
      d.queries("serve.timed").take(20).map { case (q, t) => (q.toSeq, t) }.toList)
  }

  private def batchInputs(seed: Long) = {
    val d = new BatchPipeline.Data(seed)
    (d.rows.map(r => (r.id, r.vector.toSeq)), d.batch().map(_.toSeq),
      d.corpus.docs, d.corpus.exactGroups, d.corpus.nearPairs)
  }

  test("the same seed gives identical inputs") {
    assert(serveInputs(7) == serveInputs(7))
    assert(batchInputs(7) == batchInputs(7))
  }

  test("a different seed gives different inputs") {
    val (a, b) = (serveInputs(7), serveInputs(8))
    assert(a._1 != b._1 && a._2 != b._2 && a._3 != b._3)
    val (c, d) = (batchInputs(7), batchInputs(8))
    assert(c._1 != d._1 && c._2 != d._2 && c._3 != d._3)
  }

  test("the planted corpus duplicates are what the oracles expect") {
    val c = new BatchPipeline.Data(3).corpus
    val text = c.docs.map(d => d.id -> d.text).toMap
    for (g <- c.exactGroups) assert(g.size >= 2 && g.map(id => text(id).toLowerCase).size == 1)
    for ((a, b) <- c.nearPairs) assert(text(a) != text(b))
    assert(c.docs.map(_.id).distinct.size == c.docs.size)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10000) == 99.9)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(99) == 75.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(39) == 50.0)
    assert(Stats.tailPercentile(20) == 50.0)
    // too few samples for any tail: the median stands in
    assert(Stats.tailPercentile(19) == 50.0)
    assert(Stats.tailPercentile(1) == 50.0)
    val xs = (1 to 100).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    assert(p == 90.0 && v == 90.0 && xs.count(_ > v) == 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the oracle compares ties as sets") {
    val q = Array(1f, 0f)
    val cands = Seq(1L -> Array(1f, 0f), 2L -> Array(0f, 1f), 3L -> Array(0f, 1f), 4L -> Array(-1f, 0f))
    // ids 2 and 3 tie for second place: either is a right answer
    assert(Oracle.checkTopK(q, cands, 2, Seq(1L -> 1.0, 3L -> 0.0)).isEmpty)
    assert(Oracle.checkTopK(q, cands, 2, Seq(1L -> 1.0, 2L -> 0.0)).isEmpty)
    assert(Oracle.checkTopK(q, cands, 2, Seq(1L -> 1.0, 4L -> -1.0)).isDefined)
    assert(Oracle.checkTopK(q, cands, 2, Seq(2L -> 0.0, 3L -> 0.0)).isDefined)
    assert(Oracle.checkTopK(q, cands, 2, Seq(1L -> 0.5, 2L -> 0.0)).isDefined)
  }

  test("the metric names a run prints match BENCHMARK.json exactly") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val src = scala.io.Source.fromFile(new java.io.File("../BENCHMARK.json"), "UTF-8")
    val spec = try parse(src.mkString) finally src.close()
    def metrics(key: String): Seq[(String, String)] = (spec \ key).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }
    assert(metrics("end_to_end") == Main.EndToEnd)
    assert(metrics("per_layer") == Main.PerLayer)
    val workloads = (spec \ "workloads").children.map(w => (w \ "name").values.toString)
    assert(workloads == Workload.all.map(_.name))
  }
}
