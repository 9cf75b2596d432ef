package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench harness verdict logic — the pure pieces a spec can pin
  * without a 15-minute timed run: the absolute CPU-throughput
  * contention reason (VERDICT r13 next #2) and the compact final
  * stdout summary's size budget + field set (next #8). */
class BenchSpec extends AnyFunSuite {

  test("mtReason fires below the synthetic threshold, stays silent at/above it") {
    val r = Bench.mtReason("sf1", cpuMt = 19100.0, minMt = 24000.0)
    assert(r.isDefined)
    assert(r.get.startsWith("sf1:cpu_mt_"))
    assert(r.get.contains("below"))
    assert(Bench.mtReason("sf1", cpuMt = 28100.0, minMt = 24000.0).isEmpty)
    assert(Bench.mtReason("sf1", cpuMt = 24000.0, minMt = 24000.0).isEmpty)
    // a failed probe (non-positive score) must not manufacture a verdict
    assert(Bench.mtReason("sf1", cpuMt = 0.0, minMt = 24000.0).isEmpty)
    assert(Bench.mtReason("sf1", cpuMt = -1.0, minMt = 24000.0).isEmpty)
  }

  test("bench_summary.json lands next to the configured artifact") {
    assert(Bench.summaryPath("bench_out.json") == java.nio.file.Paths.get("bench_summary.json"))
    assert(Bench.summaryPath("/data/runs/r19.json") ==
      java.nio.file.Paths.get("/data/runs/bench_summary.json"))
    assert(Bench.summaryPath("runs/r19.json") == java.nio.file.Paths.get("runs/bench_summary.json"))
  }

  test("default MinMtMbps splits the observed clean/degraded window clusters") {
    // r14 fixed-probe calibration (steady-state methodology — old
    // 19-33.5 readings are not comparable): idle 67-71 GB/s,
    // 16 competing busy-loops 42.3, half-machine 19.3 — the default
    // must separate the ~50%-stolen regime from clean-day drift
    // (env override recalibrates for other host classes)
    assert(Bench.MinMtMbps > 42300.0 && Bench.MinMtMbps < 60000.0)
  }

  private def pass(warm: Double, cold: Double, mt: Double,
      reasons: Seq[String] = Nil): Bench.Pass =
    Bench.Pass(cold, warm, warm * 0.95, 0.3, 100, forked = true, 1.0,
      3500.0, mt, reasons, "[]", "{}", "{}", "{}", "[]", "{}", "{}")

  test("compact summary is tail-parseable: bounded size, headline fields, valid JSON") {
    val longReasons = (1 to 20).map(i => s"sf01:reason_$i")
    val s = Bench.compactSummary(
      pass(48.123, 132.456, 31000.0, longReasons),
      Some((pass(57.9, 140.0, 30500.0), Seq(pass(57.9, 140.0, 30500.0)), 1)),
      contended = true, reasons = longReasons, cpus = 32,
      sfDir = "/root/testdata/sf0.1", out = "bench_out.json")
    assert(s.length < 1200, s"summary too long for a 2KB log tail: ${s.length}")
    for (f <- Seq("\"metric\":", "\"value\":", "\"unit\":", "\"warm_total\":",
        "\"contended\":true", "\"contention_reasons\":", "\"cpus\":32",
        "\"cpu_mt_mbps\":", "\"sf1_warm_total\":", "\"sf1_contended\":",
        "\"detail\":\"bench_out.json\""))
      assert(s.contains(f), s"missing $f in $s")
    // reasons list is bounded but the truncation is declared
    assert(s.contains("_more"))
    // single line, balanced braces (a scraper splits on newline)
    assert(!s.contains("\n"))
    assert(s.count(_ == '{') == s.count(_ == '}'))
  }

  test("floors provenance is mechanical: resource-loaded tables, min-fold, render round-trip") {
    // VERDICT r16 next #5: the floor tables were hand-edited Scala
    // source. Now: committed floors live in the graft/floors.json
    // RESOURCE, Bench emits floors_delta.json from gate-clean passes,
    // FloorsFold folds delta into resource — this spec gates each link.
    // (1) the resource loads and carries the known lineage rows
    val sf1 = graft.tools.Floors.of("sf1")
    val sf01 = graft.tools.Floors.of("sf01")
    assert(sf1.size >= 50 && sf01.size >= 150,
      s"floors resource missing/empty: sf1=${sf1.size} sf01=${sf01.size}")
    assert(sf1.contains("q_assoc_rules") && sf01.contains("ingest_dedup"))
    // (2) foldMin: existing floors only move DOWN, new queries adopted
    val folded = graft.tools.Floors.foldMin(Seq(
      Map("a" -> 1.0, "b" -> 2.0),
      Map("a" -> 0.7, "c" -> 3.0),
      Map("b" -> 5.0)))
    assert(folded == Map("a" -> 0.7, "b" -> 2.0, "c" -> 3.0))
    // (3) render -> parseSuite round-trip (what FloorsFold writes is
    // what the next session's resource load reads)
    val rendered = graft.tools.Floors.render(Map(
      "sf1" -> Map("x" -> 1.234, "y" -> 0.5),
      "sf01" -> Map("z" -> 9.0)))
    assert(graft.tools.Floors.parseSuite(rendered, "sf1") ==
      Map("x" -> 1.234, "y" -> 0.5))
    assert(graft.tools.Floors.parseSuite(rendered, "sf01") == Map("z" -> 9.0))
    // (4) a flat warm-medians JSON (a Pass's queriesWarmJson shape)
    // parses into a delta table
    assert(graft.tools.Floors.parseFlat("""{"q1_agg":0.196,"knn_topk":0.135}""") ==
      Map("q1_agg" -> 0.196, "knn_topk" -> 0.135))
  }

  test("floor gate flags a CLUSTER of mid-pass blowups the entry/exit probes miss") {
    // the r15 committed sf1 leg's SHAPE: two untouched queries far past
    // 3x their clean-window floors, one in drift territory (2.3x), one
    // clean — exactly the artifact that shipped as contended:false
    // (VERDICT r15 what's-wrong #2). Values are derived from the LIVE
    // floors resource (floors fold downward every clean round, so
    // hard-coded readings rot — the r18 fold moved q_assoc_rules'
    // floor from 7.2 to ~2 and broke the original literals).
    val f = graft.tools.Floors.of("sf1")
    val blown = Seq(
      "q_assoc_rules" -> f("q_assoc_rules") * 2.3, // drift, NOT alone enough
      "text_phrase_search" -> (f("text_phrase_search") * 10.0 + 1.0), // blowup
      "ev_transitions" -> (f("ev_transitions") * 11.7 + 1.0),         // blowup
      "q1_agg" -> f("q1_agg") * 1.3)               // clean
    val r = Bench.floorReasons("sf1", blown)
    assert(r.nonEmpty, "the r15 mid-pass collapse shape must flag")
    assert(r.head.startsWith("sf1:floor_blowup_2"),
      s"exactly the 2 >3x queries flag (2.3x is drift territory): $r")
    assert(r.head.contains("text_phrase_search") && r.head.contains("ev_transitions"))
  }

  test("floor gate stays silent on clean passes, single blowups, and unknown queries") {
    // a clean pass at the recorded floors
    assert(Bench.floorReasons("sf1",
      Seq("q1_agg" -> 0.75, "text_bm25" -> 0.74, "ev_transitions" -> 0.7)).isEmpty)
    // ONE query over 3x floor = possibly a genuine regression — the
    // cross-round diff adjudicates that; a single blowup must not flag
    assert(Bench.floorReasons("sf1",
      Seq("ev_transitions" -> 8.0, "q1_agg" -> 0.73, "text_bm25" -> 0.75)).isEmpty)
    // tiny queries need >0.5 s absolute excess, not just ratio (3x of
    // 93 ms is codegen-cache luck, not contention)
    assert(Bench.floorReasons("sf1",
      Seq("ev_hourly_late" -> 0.3, "serve_streamed" -> 0.35)).isEmpty)
    // queries without a recorded floor are unchecked
    assert(Bench.floorReasons("sf1",
      Seq("brand_new_row" -> 99.0, "another_new" -> 99.0)).isEmpty)
    // suites without a floor table are unchecked
    assert(Bench.floorReasons("adhoc",
      Seq("q1_agg" -> 99.0, "text_bm25" -> 99.0)).isEmpty)
  }

  test("floor gate applies only to the fixture its floors were measured against") {
    // benching an ad-hoc dir (SPARK_GRAFT_SF_DIR=anything larger or
    // slower) must not flag contention against the sf0.1/sf1 floors —
    // that would burn the recovery retries on a healthy host
    val blown = Seq("text_phrase_search" -> 9.4, "ev_transitions" -> 8.0)
    assert(Bench.floorReasons("sf1", blown, dir = "/tmp/somewhere-else").isEmpty,
      "floors applied to a non-protocol fixture")
    assert(Bench.floorReasons("sf01", blown.map { case (n, v) => (n, v) },
      dir = "/root/testdata/sf0.01").isEmpty)
    // the protocol fixtures DO gate
    assert(Bench.floorReasons("sf1", blown, dir = "/tmp/graft_sf1").nonEmpty)
    assert(Bench.floorReasons("sf01",
      Seq("text_phrase_search" -> 9.4, "ev_transitions" -> 8.0),
      dir = "/root/testdata/sf0.1").nonEmpty)
  }

  test("compact summary carries the stage marker for mid-run tail parses") {
    val s = Bench.compactSummary(pass(48.0, 130.0, 31000.0), None,
      contended = false, reasons = Nil, cpus = 32, sfDir = "d", out = "o",
      stage = "sf01_pass0")
    assert(s.contains("\"stage\":\"sf01_pass0\""))
  }

  test("compact summary without an sf1 leg still carries the sf1_warm_total field") {
    val s = Bench.compactSummary(pass(48.0, 130.0, 31000.0), None,
      contended = false, reasons = Nil, cpus = 32, sfDir = "d", out = "o")
    assert(s.contains("\"sf1_warm_total\":0.000"))
    assert(s.contains("\"contended\":false"))
    assert(s.length < 600)
  }
}
