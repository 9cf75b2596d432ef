package graft
import org.apache.spark.sql.SparkSession

import graft.core.Session

/**
 * Benchmark main: the full JSON artifact line to stdout AND to
 * `SPARK_GRAFT_BENCH_OUT` (default bench_out.json) + a richer
 * bench_detail.json (per-query warm min/med/max, machine-state marks),
 * then a COMPACT summary JSON as the FINAL stdout line (headline
 * totals + contention verdict, <~600 chars) — the full line outgrew
 * the driver's 2,000-char log tail, so the tail-parseable summary is
 * the line a log scraper should read (VERDICT r13 next #8).
 *
 * Contention-proofing (VERDICT r6 next #1 — round 6 shipped two
 * irreconcilable sf1 artifacts, 774 s under a loaded machine vs 50 s
 * idle, and the harness had no way to tell the driver which to trust):
 *  - the warm pass runs EVERY query 3x consecutively and reports the
 *    per-query MEDIAN (sum of medians = warm_total); min/median/max go
 *    to bench_detail.json. External load hits the reps unevenly, so
 *    median-of-3 absorbs one contended rep per query outright.
 *  - /proc/loadavg + process count are sampled before the run and at
 *    every pass boundary (`env_marks` in the detail file,
 *    load_pre_bench/procs_pre_bench in the main line). Only the
 *    PRE-BENCH load is a contention signal — mid-run loadavg is
 *    dominated by our own executors.
 *  - the sf1 validation suite runs in a FRESH FORKED JVM (same JVM
 *    args + classpath as this one, child mode `--child sf1 <dir> <out>`),
 *    so sf0.1 shuffle/codegen/GC debris cannot bleed into the scale
 *    numbers; the child writes a line-oriented pass record the parent
 *    parses and splices in.
 *  - `contended` flags the artifact loudly when any of: pre-bench
 *    loadavg says the machine was already busy, a warm total exceeds
 *    1.5x its cold total (a deterministic suite can only do that under
 *    external load), >20% of queries have a 3-rep spread over 100% of
 *    their median and 0.5 s absolute, two or more queries have a >4x
 *    rep blowup, HOST-NEIGHBOR CPU STEAL exceeds 5% across a pass
 *    (/proc/stat steal jiffies — this box is a VM, and a noisy host
 *    never shows in guest loadavg: an r7 pass ran every query 3-10x
 *    slow at guest load1=3.5), or the cgroup throttled the JVM
 *    (`contention_reasons` lists which fired, tagged by pass).
 *  - RECOVERY, not just detection (VERDICT r7 next #1 — the driver's
 *    independent runs were load-contaminated two rounds straight, and
 *    flagging a dirty pass still left the round without a usable
 *    number): when a pass trips `contended`, the harness waits for the
 *    machine to go idle (bounded — load1 + a live 2 s steal sample)
 *    and re-runs that pass, up to 2 retries. Retries run in FORKED
 *    FRESH JVMs so retry cold stays a true first-touch cold,
 *    comparable to pass 0 (which is itself a fresh JVM — the bench
 *    process). The cleanest pass wins (no reasons > fewest reasons >
 *    lowest warm-median total); every pass's verdict is recorded in
 *    `sf01_passes` / `sf1_passes` and the retry counts in
 *    `sf01_retries` / `sf1_retries`, so a still-dirty artifact carries
 *    the evidence that recovery was attempted and what each attempt saw.
 *  - the `protocol` field states which number is the cross-round
 *    comparable (VERDICT r7 next #7): warm-median. Forked-JVM cold
 *    pays full JVM+codegen+IO first-touch and is NOT comparable to the
 *    in-JVM cold of rounds ≤6 where 80 sf0.1 queries pre-warmed the
 *    code cache.
 * ANN recall@10 vs the exact scan (graft.tools.Recall) is recorded for
 * sf0.1 in the parent and sf1 in the child (VERDICT r6 next #5), and
 * the artifact records whether an ONNX runtime is present so the
 * embedder seam's env constraint is stated per round (next #7).
 */
object Bench {

  /** The sf1 headline suite: scale-representative queries across the
    * relational / events / vector / dedup / curation groups. A subset —
    * the full suite at 10x data would push the per-round bench past its
    * usefulness as a feedback loop; these are the queries whose plans
    * change character with volume (shuffling aggs, windows, banded
    * joins, the distributed component iteration). */
  private[graft] val sf1Suite = Seq(
    "q1_agg", "q3_top_revenue", "q_window_rank", "q_salted_agg",
    "ev_hourly", "ev_sessions", "ev_asof",
    "knn_topk", "knn_multiquery_heap", "ann_lsh_join",
    "dedup_exact", "dedup_minhash", "dedup_clusters_stars",
    "text_stats", "text_token_budget_sharded", "pipeline_curate",
    // r6 additions: the new plan shapes whose character changes with
    // volume (broadcast-stats BM25 scan, sharded prefix-sum pack,
    // LUT-projection PQ scan, iterative graph rounds, staged funnel)
    "text_bm25", "text_pack", "ann_pq", "graph_pagerank", "ev_funnel",
    // r9: cohort retention at volume (two map-combinable aggs + one
    // per-user join — the distinct-then-min shape changes with row count)
    "ev_retention",
    // r7 verdict next #5: the retrieval/ANN family whose plan character
    // changes with volume (broadcast legs, chunk explosion, probe
    // fan-out, streamed multi-generation manifest) was unbenched at sf1
    "hybrid_rrf", "ann_maxsim", "ann_ivf_join", "embed_pool",
    "hybrid_streamed",
    // r9: the serving-side streaming seam (query feed -> micro-batch
    // bounded search -> append sink) benched at volume next to its
    // ingest twin
    "serve_streamed",
    // r9: SemDeDup at the paper's regime (k scales with n, so cluster
    // width — and with it the window and the rank-blocked candidate
    // join — stays bounded as volume grows); the fixed-k oracle variant
    // dedup_semantic is benched at sf0.1 with the rest of the suite
    "dedup_semantic_scaled",
    // r9 continued: DSIR importance selection (broadcast bucket-weight
    // table + one corpus shingle pass — the histogram build and the
    // scoring probe both scale with volume) and dedup-on-ingest (the
    // per-trigger store-probe anti-join's cost is volume-dependent)
    "text_dsir", "ingest_dedup",
    // duplicate-span removal: the dup-code table is vocab-scale on a
    // replicated corpus (every 8-gram duplicated), so the join-back
    // and the per-doc coverage rebuild both change character at volume
    "dedup_substring_clean",
    // Matryoshka prefix retrieval: since r10 the coarse pass scans the
    // physical vec_prefix column only — the 4x I/O cut IS a volume
    // effect (cold pays the one-time index build)
    "ann_matryoshka",
    // r10: the watermark path at volume — append-mode finalization,
    // closed-window late drops and state size all scale with the event
    // count (cold pays the two-arrival staging; warm reads the sink)
    "ev_hourly_late",
    // r10: NEAR-dup dedup-on-ingest — in-batch banding/components and
    // the signature-sidecar probe both change character with volume
    // (cold pays the two-arrival staged store build)
    "ingest_neardedup",
    // r11: the bucketed range join (interval replication + hash join +
    // range refine — replication factor and bucket skew are volume
    // effects), CMS heavy hitters (sketch pass + candidate filter vs
    // distinct-key growth), and the sliding rollup (4x window
    // replication into the partial agg)
    "ev_range_join", "text_heavy_hitters", "ev_sliding",
    // r12: collocations (vocab^2-bounded bigram agg + two broadcast
    // join-backs — the bigram partial-agg state is the volume effect),
    // the FastSS fuzzy self-join (deletion-variant fan-out is O(L^2)
    // per DISTINCT key, so vocab growth — not row growth — drives it),
    // and group-wise exact quantiles (per-group bracket widths narrow
    // as groups grow; the rank-select join-back is volume-dependent)
    "text_collocations", "q_fuzzy_join", "q_group_percentile_2pass",
    // r12 continued: interval-overlap join (both sides replicate into
    // buckets — replication and canonical-bucket filter are volume
    // effects), co-purchase association rules (pair-agg state scales
    // with orders), phrase search (postings probe volume = sum of term
    // dfs), transitions (full corpus window pass), priority sampling
    // (corpus-wide bounded heap). graph_triangles stays sf0.1-only:
    // the raw co-purchase graph's wedge count at sf1 (~12M edges) puts
    // it past the per-round bench budget without changing plan
    // character vs sf0.1
    "ev_overlap_join", "q_assoc_rules", "text_phrase_search",
    "ev_transitions", "text_weighted_sample",
    // r13: the profile-driven join strategy helper — the profile pass
    // (one map-combined count over the large side) rides inside the
    // query, so its decision overhead at volume is part of the number
    "q_auto_join",
    // r13: ranked-retrieval eval — two BM25 corpus passes (system +
    // relevance legs per term set) feeding bounded metric joins; the
    // corpus passes are the volume effect
    "text_rank_eval",
    // r12: per-group winsorization — two bracketed group-quantile
    // passes over the corpus plus broadcast clamp join-backs; the
    // sketch bracket width vs group size is the volume effect.
    // (ev_latency stays sf0.1-only: one row per user reaches the
    // quantile pass; text_split_clustered too: its cost is the minhash
    // pipeline already benched via dedup_clusters_stars)
    "text_quality_norm",
    // r12: salted join over the profiled hot keys — replication volume
    // (|hot| * nSalts on the small side) and the hot reducer's divided
    // partition are the volume effects; the profile itself rides along
    // as the bounded hot-key collect inside the query
    "q_salted_join",
    // r13: BPE merge training — one corpus pass to the word-frequency
    // dictionary, then vocab-bound iterations (steady ~flat from sf0.1
    // to sf1 by design: iteration cost tracks distinct-word growth,
    // not row growth — the property this row tracks per round)
    "text_bpe_train",
    // r16 (VERDICT r15 #7): the plain-SQL tag-superset route — the
    // TagSupersetPruning rule firing under AQE + DPP interaction at
    // volume. Plan-gated at fixture scale only before; a regression in
    // the rule's fire conditions (the scan reading every partition)
    // now shows up as TIME in the committed artifact, not just a
    // silent no-prune.
    "knn_tag_filtered_sql")

  /** Queries given extra post-sweep reps in the sf1 child so the
    * artifact records a STEADY-STATE number (VERDICT r7 next #6: the
    * forked-cold 19.46 s for pipeline_curate vs r6's in-JVM 8.07 s is
    * codegen warmup by construction — prove it mechanically per round
    * instead of re-litigating). */
  private val steadySf1 = Seq("pipeline_curate",
    // r9 continued: the two queries whose r9 sf1 warm medians ran well
    // above their QueryLoop steady states (8.1 s vs ~2.5, 7.9 s vs
    // ~4.1) — record steady per round so warm-pass outliers are
    // attributable to run-order/codegen effects, not plan regressions
    "text_bm25", "q3_top_revenue")
  private val SteadyReps = 5

  // dedup_jaccard / dedup_embedding are the O(n^2) exact-verification
  // baselines for the MinHash / banded-LSH paths; correctness-gated in
  // Verify, not production operators, so excluded from throughput
  // numbers (the banded production paths ARE benched).
  // graph_triangles_full is the unsampled co-purchase graph: ~16x the
  // quarter-sample row's wedge volume — benched once per protocol run
  // as the named `triangles_full` fragment (after the timed passes),
  // not inside the suite totals.
  private val skip = Set("dedup_jaccard", "dedup_embedding", "dedup_eval",
    "graph_triangles_full")

  private val WarmReps = 3
  private val MaxRetries = 2

  // ---- wall budget (VERDICT r15 next #1: the r15 driver bench run
  // timed out — rc=124, parsed:null — leaving the round with NO
  // driver-verified bench artifact; the harness had grown a retry loop,
  // an sf1 fork and five scale checks with no notion of how much wall
  // its caller allows). The budget is a soft deadline this process
  // enforces on ITSELF: optional stages (retries, the sf1 fork, scale
  // checks) are skipped with an explicit recorded reason when the
  // remaining budget cannot fit their estimated cost, and the artifact
  // is (re)written after EVERY stage — a degraded-but-present artifact
  // always beats a timeout kill. Default 1500 s: the r14 rc=0 run fit
  // ~1200 s of stages inside the driver's window, r15's extra retry
  // (~620 s) blew it; 1500 leaves the driver's timeout headroom for
  // sbt startup + compile. ----
  private val BudgetSec: Double =
    sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC").flatMap(_.trim.toDoubleOption)
      .getOrElse(1500.0)
  private val benchStartNanos = System.nanoTime()
  private def elapsedSec: Double = (System.nanoTime() - benchStartNanos) / 1e9
  private def remainingSec: Double = BudgetSec - elapsedSec
  /** Reserve kept for the stages that must still run after the current
    * decision point: final artifact write is cheap, scale checks ~150 s
    * when they still lie ahead. */
  private val ScaleChecksReserveSec = 150.0
  private val FinalizeReserveSec = 20.0

  /** Per-query warm-median floor gate (VERDICT r15 next #2): the
    * entry/exit probes can miss a MID-pass host collapse — r15's
    * committed sf1 leg ran three untouched plan-gated queries 3-8x
    * their clean-window floors yet read `contended:false`. Flag when a
    * CLUSTER (>=2) of floor-known queries exceeds 3x floor with >0.5 s
    * absolute excess: the plans and data are fixed per scale, so a
    * cluster of blowups is the host, not the engine. Ratio 3x + 0.5 s
    * absolute tolerates clean-day drift AND genuine single-query
    * regressions (one query over floor = maybe a regression — let the
    * cross-round diff adjudicate; a cluster = contention). */
  private[graft] def floorReasons(tag: String, warmMed: Seq[(String, Double)],
      dir: String = ""): Seq[String] = {
    if (sys.env.get("SPARK_GRAFT_SKIP_FLOORS").contains("1")) return Nil
    // floors are recorded AT A SPECIFIC FIXTURE; applying the sf0.1
    // table to an ad-hoc dir (SPARK_GRAFT_SF_DIR=anything slower or
    // larger) would flag contention by construction and burn the
    // recovery retries on a healthy host — gate on the fixture the
    // floors were measured against, like the sf1-leg trigger does
    val protocolFixture = tag match {
      case "sf01" => dir.isEmpty || new java.io.File(dir).getName == "sf0.1"
      case "sf1" => dir.isEmpty ||
        // getCanonicalFile does I/O and can throw (ADVICE r16 #4) — an
        // IO hiccup HERE runs inside passFromSweep AFTER the full timed
        // pass, and an uncaught throw would let main's crash handler
        // replace the just-written good artifact with a bench_crashed
        // one. Degrade to the absolute path comparison instead.
        scala.util.Try(new java.io.File(dir).getCanonicalFile ==
          new java.io.File(sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1"))
            .getCanonicalFile)
          .getOrElse(new java.io.File(dir).getAbsoluteFile ==
            new java.io.File(sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1"))
              .getAbsoluteFile)
      case _ => true
    }
    if (!protocolFixture) return Nil
    val floors = graft.tools.Floors.of(tag)
    val blown = warmMed.collect {
      case (n, med) if floors.get(n).exists(f => med > 3 * f && med - f > 0.5) => n
    }
    if (blown.size >= 2)
      Seq(s"$tag:floor_blowup_${blown.size}_" + blown.take(3).mkString("+"))
    else Nil
  }

  /** Absolute floor for the all-cores CPU-throughput probe (VERDICT
    * r13 next #2): the relative signals (steal, loadavg, parallel
    * ratio, rep spread) all stayed silent while the r13 closing sf1
    * child ran in a degraded window and the driver's sf1 leg blew up
    * 3-10x mid-pass. RECALIBRATED in r14 for the fixed steady-state
    * probe (see [[graft.tools.HostProbe.score]] — the old methodology
    * timed thread construction, so old readings of 19-33.5 GB/s are
    * not comparable). Fixed-probe calibration on this 32-vCPU box
    * (2026-08-16): idle window 67-71 GB/s; 8 competing busy-loops
    * (25% of vCPUs stolen) 48.7; 16 busy-loops 42.3; 32 busy-loops
    * (half-machine) 19.3. The floor at 45,000 flags anything at or
    * beyond ~50%-stolen severity (the phantom-outlier regime) while
    * tolerating ~33% clean-day drift. Note the probe measures
    * delivered CPU/SMT throughput (register-only ALU loop), not memory
    * bandwidth. Env-overridable so a different host class can
    * recalibrate without a code change. */
  private[graft] val MinMtMbps: Double =
    sys.env.get("SPARK_GRAFT_MIN_MT_MBPS").flatMap(_.toDoubleOption)
      .getOrElse(45000.0)

  /** The absolute-throughput contention verdict, pure so a spec can
    * exercise it with a synthetic threshold. */
  private[graft] def mtReason(tag: String, cpuMt: Double,
      minMt: Double = MinMtMbps): Option[String] =
    if (cpuMt > 0 && cpuMt < minMt)
      Some(f"$tag:cpu_mt_${cpuMt}%.0f_below_${minMt}%.0f")
    else None

  // ---- machine-state probes ----

  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  private def nProcs(): Int =
    Option(new java.io.File("/proc").list())
      .map(_.count(s => s.nonEmpty && s.forall(_.isDigit))).getOrElse(-1)

  /** Cumulative (busy, steal, total) jiffies from /proc/stat. Steal is
    * the blind spot loadavg cannot see: this box is a VM, and a noisy
    * HOST neighbor shows up only as steal time inside the guest — the
    * r7 final-run investigation caught a pass where every query ran
    * 3-10x slow while guest loadavg sat at 3.5 on 32 cpus (the same
    * signature as r6's irreconcilable driver artifact). */
  private def cpuJiffies(): (Long, Long, Long) =
    try {
      val vals = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      val steal = if (vals.length > 7) vals(7) else 0L
      val idle = vals(3) + (if (vals.length > 4) vals(4) else 0L)
      (vals.sum - idle - steal, steal, vals.sum)
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L, -1L) }

  /** cgroup v2 CPU throttling counter (throttled_usec) — the OTHER
    * invisible brake: a cpu.max quota squeezes the JVM without any
    * loadavg or steal signal. */
  private def throttledUsec(): Long =
    try scala.io.Source.fromFile("/sys/fs/cgroup/cpu.stat").getLines()
      .find(_.startsWith("throttled_usec"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case scala.util.control.NonFatal(_) => -1L }

  /** Live steal fraction over a short window — the idle-wait probe.
    * Cumulative counters can't say whether the host is noisy NOW. */
  private def stealSamplePct(windowMs: Long): Double = {
    val (_, s0, t0) = cpuJiffies()
    Thread.sleep(windowMs)
    val (_, s1, t1) = cpuJiffies()
    if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0
  }

  /** Retry idle-wait budget. Default 120 s; env-tunable because the
    * r14 session observed host windows cycling on ~10-minute scales —
    * a 2-minute wait then lands every retry in the SAME bad window
    * (all 3 sf1 passes flagged 18.6-23.1 GB/s in one run). An
    * unattended protocol run can afford `SPARK_GRAFT_IDLE_WAIT_SEC=600`
    * to actually straddle a window boundary. */
  private val IdleWaitSec: Int =
    sys.env.get("SPARK_GRAFT_IDLE_WAIT_SEC").flatMap(_.trim.toIntOption)
      .getOrElse(120)

  /** One live window-cleanliness sample (~2-4 s: guest load, a 2 s
    * steal window, then the throughput probe): guest-idle is not
    * host-idle, so the parallel capacity AND the absolute throughput a
    * pass would actually get are required too (same thresholds as the
    * pass verdict — r13's degraded windows passed the ratio check
    * while delivering ~2/3 of a clean window's throughput). Shared by
    * the retry idle-wait and the pre-sf1-fork gate. */
  private def windowClean(): Boolean =
    load1() < 2.0 && stealSamplePct(2000) < 0.02 && {
      val (st, mt) = cpuScore()
      (st <= 0 || mt / st >= 4.0) && mtReason("probe", mt).isEmpty
    }

  /** Bounded wait for an idle machine before a retry pass. Returns
    * whether the idle condition was met (false = deadline expired; the
    * retry runs anyway and its own verdict records what it saw). */
  private def waitForIdle(maxWaitSec: Int): Boolean = {
    val deadline = System.nanoTime() + maxWaitSec * 1000000000L
    while (System.nanoTime() < deadline) {
      if (windowClean()) return true
      Thread.sleep(5000)
    }
    false
  }

  private def onnxPresent: Boolean =
    try { Class.forName("ai.onnxruntime.OrtEnvironment"); true }
    catch { case _: Throwable => false }

  /** Where the stable-name `bench_summary.json` copy goes: next to the
    * configured artifact `out` (the working directory for the default,
    * parent-less `bench_out.json`). */
  def summaryPath(out: String): java.nio.file.Path =
    Option(java.nio.file.Paths.get(out).getParent)
      .map(_.resolve("bench_summary.json"))
      .getOrElse(java.nio.file.Paths.get("bench_summary.json"))

  // ---- formatting ----

  private def ms(v: Double): String =
    java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def js(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")

  private def jsArr(ss: Iterable[String]): String =
    ss.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** JSON string escape for free-form text (exception messages can
    * carry quotes/newlines that would corrupt the artifact line). */
  private def jsStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private case class Mark(at: String, load: Double, procs: Int,
                          busy: Long, steal: Long, total: Long, thrUs: Long)

  /** One timing sweep over `qs`: cold (1 rep) then warm (3 consecutive
    * reps per query). Failures are tagged "pass:query" and NEVER folded
    * silently into a (misleadingly faster) total; NonFatal only — an
    * OOM or JVM error must abort the run rather than march a poisoned
    * JVM through the rest of the suite. */
  private case class Sweep(cold: Seq[(String, Double)],
                           warm: Seq[(String, Seq[Double])],
                           failures: Seq[String],
                           marks: Seq[Mark]) {
    def warmMed: Seq[(String, Double)] =
      warm.map { case (n, reps) => n -> reps.sorted.apply(reps.size / 2) }
    def warmMin: Seq[(String, Double)] =
      warm.map { case (n, reps) => n -> reps.min }
    def coldTotal: Double = cold.map(_._2).sum
    def warmMedTotal: Double = warmMed.map(_._2).sum
    /** Contention verdicts for this sweep, tagged with `tag`. */
    def contentionReasons(tag: String): Seq[String] = {
      val r = scala.collection.mutable.ArrayBuffer[String]()
      if (coldTotal > 0 && warmMedTotal > 1.5 * coldTotal)
        r += s"$tag:warm_gt_1.5x_cold"
      val spready = warm.count { case (_, reps) =>
        val mx = reps.max; val mn = reps.min
        val med = reps.sorted.apply(reps.size / 2)
        mx - mn > 0.5 && mx - mn > med
      }
      if (warm.nonEmpty && spready.toDouble / warm.size > 0.2)
        r += s"$tag:warm_spread_${spready}of${warm.size}"
      // a single 20x rep blowup is load, not variance — two of them
      // cannot be GC luck
      val outliers = warm.count { case (_, reps) =>
        reps.max > 4 * reps.min && reps.max - reps.min > 2.0
      }
      if (outliers >= 2) r += s"$tag:rep_outliers_$outliers"
      // host-neighbor CPU steal between pass boundaries: invisible to
      // guest loadavg, fatal to wall-clock numbers
      for (Seq(a, b) <- marks.sliding(2) if a.total >= 0 && b.total > a.total) {
        val stealPct = (b.steal - a.steal).toDouble / (b.total - a.total)
        if (stealPct > 0.05)
          r += f"$tag:steal_${b.at}_${stealPct * 100}%.0fpct"
        if (a.thrUs >= 0 && b.thrUs - a.thrUs > 1000000L)
          r += s"$tag:cgroup_throttled_${b.at}"
      }
      r.toSeq
    }
  }

  private def sweep(spark: SparkSession, tag: String,
                    qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
                    dir: String): Sweep = {
    val failures = scala.collection.mutable.LinkedHashSet[String]()
    val marks = scala.collection.mutable.ArrayBuffer[Mark]()
    def mark(label: String): Unit = {
      val (busy, steal, total) = cpuJiffies()
      marks += Mark(label, load1(), nProcs(), busy, steal, total, throttledUsec())
    }
    def time(pass: String, name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, dir).count() }
      catch { case scala.util.control.NonFatal(_) => failures += s"$pass:$name" }
      (System.nanoTime() - t0) / 1e9
    }
    mark(s"$tag:cold:before")
    val cold = qs.map { case (n, fn) => n -> time(tag, n, fn) }
    mark(s"$tag:cold:after")
    val warm = qs.map { case (n, fn) =>
      n -> Seq.fill(WarmReps)(time(s"${tag}warm", n, fn))
    }
    mark(s"$tag:warm:after")
    Sweep(cold, warm, failures.toSeq, marks.toSeq)
  }

  private def recallJson(spark: SparkSession, dir: String): String =
    try js(graft.tools.Recall.measure(spark, dir)
      .map { case (n, v) => n -> v })
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] recall measurement failed: $e")
      "{}"
    }

  // ---- pass records: one timed attempt at a suite ----

  /** Everything one pass produced, serialized field-by-field so a
    * forked child can hand it to the parent without a JSON parser: one
    * `KEY value` line per field (values are single-line JSON by
    * construction). */
  private[graft] case class Pass(coldTotal: Double, warmTotal: Double,
                          warmMinTotal: Double, loadPre: Double,
                          procsPre: Int, forked: Boolean,
                          prewarmSec: Double,
                          cpuSt: Double, cpuMt: Double,
                          reasons: Seq[String], failedJson: String,
                          queriesJson: String, queriesWarmJson: String,
                          warmDetailJson: String, marksJson: String,
                          recallJson: String, steadyJson: String) {
    def contended: Boolean = reasons.nonEmpty
    def summaryJson(idx: Int): String =
      s"""{"pass":$idx,"forked":$forked,"contended":$contended,"reasons":${jsArr(reasons)},"cold_total":${ms(coldTotal)},"warm_total":${ms(warmTotal)},"load_pre":${ms(loadPre)},"prewarm_sec":${ms(prewarmSec)},"cpu_st_mbps":${ms(cpuSt)},"cpu_mt_mbps":${ms(cpuMt)}}"""
    def serialize: String = Seq(
      "COLD_TOTAL " + ms(coldTotal), "WARM_TOTAL " + ms(warmTotal),
      "WARM_MIN_TOTAL " + ms(warmMinTotal), "LOAD_PRE " + ms(loadPre),
      "PROCS_PRE " + procsPre, "FORKED " + forked,
      "PREWARM " + ms(prewarmSec),
      "CPU_ST " + ms(cpuSt), "CPU_MT " + ms(cpuMt),
      "REASONS " + jsArr(reasons), "FAILED " + failedJson,
      "QUERIES " + queriesJson, "QUERIES_WARM " + queriesWarmJson,
      "WARM_DETAIL " + warmDetailJson, "MARKS " + marksJson,
      "RECALL " + recallJson, "STEADY " + steadyJson).mkString("\n")
  }

  private[graft] object Pass {
    def parse(s: String): Option[Pass] = try {
      val m = s.linesIterator.filter(_.contains(" ")).map { l =>
        val i = l.indexOf(' '); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
      Some(Pass(m("COLD_TOTAL").toDouble, m("WARM_TOTAL").toDouble,
        m("WARM_MIN_TOTAL").toDouble, m("LOAD_PRE").toDouble,
        m("PROCS_PRE").toInt, m("FORKED").toBoolean,
        m.getOrElse("PREWARM", "0").toDouble,
        m.getOrElse("CPU_ST", "0").toDouble, m.getOrElse("CPU_MT", "0").toDouble,
        parseArr(m("REASONS")), m("FAILED"), m("QUERIES"),
        m("QUERIES_WARM"), m("WARM_DETAIL"), m("MARKS"), m("RECALL"),
        m.getOrElse("STEADY", "{}")))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] child pass parse failed: $e"); None
    }
    private def parseArr(j: String): Seq[String] =
      j.stripPrefix("[").stripSuffix("]").split(",").toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
  }

  private def passFromSweep(s: Sweep, tag: String, loadPre: Double,
                            procsPre: Int, forked: Boolean, prewarm: Double,
                            cpuSt: Double, cpuMt: Double,
                            recall: String, steady: String,
                            dir: String = ""): Pass = {
    // pre-pass load is the one loadavg sample our own work can't
    // pollute; 32 hot threads on this box is us, 4+ BEFORE we start is
    // someone else
    val pre = if (loadPre > 4.0) Seq(s"$tag:pre_load_${ms(loadPre)}") else Nil
    // host oversubscription: the all-cores/single-thread throughput
    // ratio of the ALU probe is the parallel capacity actually
    // delivered. Four r8 runs split cleanly — healthy passes measured
    // 5.9-6.6x, degraded ones 0.75-2.7x (with steal/load/throttle all
    // silent), and pass cold totals tracked the ratio 1:1. Below 4x on
    // a 32-vCPU box, wall-clock numbers are the host's, not the
    // engine's — flag it so the recovery loop re-runs the pass.
    val ratio = if (cpuSt > 0) cpuMt / cpuSt else Double.MaxValue
    val cpu = (if (ratio < 4.0)
      Seq(f"$tag:cpu_parallel_$ratio%.1fx") else Nil) ++
      // absolute throughput floor (VERDICT r13 #2): a proportionally
      // slow host passes every relative check but is still not a
      // comparable window
      mtReason(tag, cpuMt).toSeq
    val detail = s.warm.map { case (n, reps) =>
      "\"" + n + "\":[" + reps.sorted.map(ms).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val marks = s.marks.map { m =>
      s"""{"at":"${m.at}","load1":${ms(m.load)},"procs":${m.procs},"steal":${m.steal},"total":${m.total},"throttled_us":${m.thrUs}}"""
    }.mkString("[", ",", "]")
    Pass(s.coldTotal, s.warmMedTotal, s.warmMin.map(_._2).sum, loadPre,
      procsPre, forked, prewarm, cpuSt, cpuMt,
      pre ++ cpu ++ s.contentionReasons(tag) ++ floorReasons(tag, s.warmMed, dir),
      jsArr(s.failures), js(s.cold), js(s.warmMed), detail, marks,
      recall, steady)
  }

  /** Deterministic CPU throughput probe (MB/s of a fixed 64-bit mixing
    * loop, single-thread and all-cores): the r8 finding was a UNIFORM
    * 1.4-1.5x warm inflation across completely untouched queries with
    * steal/load/throttle counters all clean — the host was simply
    * slower than during the previous round's window, and nothing in
    * the artifact could prove it. A per-pass CPU score makes
    * cross-round comparisons normalizable mechanically: same plans +
    * lower cpu_mt_mbps = environment, not regression.
    *
    * Delegates to [[graft.tools.HostProbe.score]] — the ONE
    * implementation, fixed in r14 to time only start()+join() of
    * pre-constructed threads after an untimed warm burst. The old
    * inline version timed thread CONSTRUCTION (Range.map + lambda
    * linkage) inside the region, which in a freshly forked child JVM
    * pays a JVM-warmth-dependent classload penalty before the first
    * thread starts — the r14 sf1 children's sub-floor readings were
    * partly this artifact, and a standalone cold-JVM probe was capped
    * at ~10 GB/s outright. Readings are NOT comparable across the
    * methodology change; MinMtMbps was recalibrated (see above). */
  private def cpuScore(): (Double, Double) = graft.tools.HostProbe.score()

  /** Stream every file under `dir` through a blackhole so the fixture
    * sits in the page cache before the cold pass. Without this, "cold"
    * measures whatever the host's disk happens to do that day — r8
    * caught a 4-8x uniform sf1 cold inflation (q1_agg 2.2 -> 11.2 s,
    * steal/load clean) purely because r7's child ran right after
    * ScaleUp WROTE the fixture (write-through cache) while r8 reused
    * it with an evicted cache. The protocol number is ENGINE cold
    * (JVM + codegen + first-touch plan), not the VM's disk; the warm
    * rounds were never disk-bound either way. Time spent is recorded
    * per pass (`prewarm_sec`). */
  private def prewarmFixture(dir: String): Double = {
    val t0 = System.nanoTime()
    try {
      val buf = new Array[Byte](1 << 20)
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val in = java.nio.file.Files.newInputStream(p)
          try { while (in.read(buf) >= 0) () } finally in.close()
        }
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] fixture prewarm failed: $e")
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Run one suite pass in THIS JVM (used by pass 0 of the parent, by
    * every forked child, and by the no-fork fallback). */
  private def runPass(suite: String, dir: String, forked: Boolean,
                      withRecall: Boolean): Pass = {
    val preLoad = load1(); val preProcs = nProcs()
    val (cpuSt, cpuMt) = cpuScore()
    val prewarm = prewarmFixture(dir)
    val spark = Session.local()
    // warmup: JIT + codegen + parquet footer caches, untimed
    try SparkEntry.queries.get("knn_topk").foreach(_(spark, dir).count())
    catch { case scala.util.control.NonFatal(_) => () }
    val qs =
      if (suite == "sf1") sf1Suite.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
      else SparkEntry.queries.filter(q => !skip(q._1)).toSeq
    val s = sweep(spark, suite, qs, dir)
    val recall = if (withRecall) recallJson(spark, dir) else "{}"
    // steady-state reps: extra post-sweep runs of the designated
    // queries, recorded raw — by now codegen/JIT are fully amortized,
    // so these are the numbers a long-lived cluster session would see
    val steady =
      if (suite != "sf1") "{}"
      else steadySf1.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
        .map { case (n, fn) =>
          val reps = (1 to SteadyReps).map { _ =>
            val t0 = System.nanoTime()
            // a failed rep records NEGATED elapsed time — a silent ()
            // here would record time-to-throw as a legitimate (and
            // implausibly fast) steady number, read cross-round as a
            // huge improvement
            val ok =
              try { fn(spark, dir).count(); true }
              catch { case scala.util.control.NonFatal(_) => false }
            val sec = (System.nanoTime() - t0) / 1e9
            if (ok) sec else -sec
          }
          "\"" + n + "\":[" + reps.map(ms).mkString(",") + "]"
        }.mkString("{", ",", "}")
    spark.stop()
    passFromSweep(s, suite, preLoad, preProcs, forked, prewarm,
      cpuSt, cpuMt, recall, steady, dir)
  }

  // ---- child mode: one suite pass in a fresh JVM ----

  private def childMain(suite: String, dir: String, out: String): Unit = {
    val withRecall = !sys.env.get("SPARK_GRAFT_SKIP_RECALL").contains("1")
    val p = runPass(suite, dir, forked = true, withRecall = withRecall)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      p.serialize.getBytes("UTF-8"))
  }

  private val childCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Fork a child JVM with this JVM's own args + classpath, run one
    * suite pass there, return the parsed record. None on any failure. */
  private def forkPass(suite: String, dir: String): Option[Pass] = {
    try {
      val javaBin = s"${sys.props("java.home")}/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments
      val cp = sys.props("java.class.path")
      val frag = java.nio.file.Files.createTempFile(s"graft_bench_$suite", ".pass")
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      cmd.addAll(jvmArgs)
      cmd.add("-cp"); cmd.add(cp)
      cmd.add("graft.Bench"); cmd.add("--child"); cmd.add(suite)
      cmd.add(dir); cmd.add(frag.toString)
      // one log per child attempt: a shared name would truncate the
      // previous attempt's log — destroying exactly the evidence trail
      // the recovery loop exists to preserve
      val attempt = childCount.incrementAndGet()
      val log = new java.io.File(sys.env.get("SPARK_GRAFT_SF1_LOG")
        .map(base => s"$base.$suite.$attempt")
        .getOrElse(s"/tmp/graft_bench_${suite}_child_$attempt.log"))
      val p = new ProcessBuilder(cmd)
        .redirectErrorStream(true)
        .redirectOutput(log)
        .start()
      val done = p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { p.destroyForcibly(); System.err.println(s"[bench] $suite child timed out"); None }
      else if (p.exitValue() != 0) {
        System.err.println(s"[bench] $suite child exited ${p.exitValue()} (log: $log)")
        None
      } else Pass.parse(new String(
        java.nio.file.Files.readAllBytes(frag), "UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] $suite fork failed: $e"); None
    }
  }

  /** The recovery loop (VERDICT r7 next #1): take pass 0, and while the
    * latest pass is contended and retries remain, wait for idle and
    * re-run the pass in a fresh forked JVM. Returns (cleanest pass,
    * all passes in order, retries used, budget-skip reasons). Cleanest
    * = first clean pass, else fewest reasons, ties broken by lower
    * warm-median total (the protocol comparable).
    *
    * Budget-gated (VERDICT r15 next #1): a retry costs ~one full pass
    * plus the idle-wait; when the remaining wall budget minus that cost
    * cannot still fit `reserveAfterSec` (the stages that must run after
    * this suite), the retry is SKIPPED with a recorded reason instead
    * of running the driver into its timeout — a contended-but-present
    * artifact beats rc=124. The idle-wait itself is clamped to what the
    * budget can spare. */
  private def withRetries(suite: String, dir: String, pass0: Pass,
      passWallSec: Double, reserveAfterSec: Double):
      (Pass, Seq[Pass], Int, Seq[String]) = {
    val passes = scala.collection.mutable.ArrayBuffer(pass0)
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    var stop = false
    while (passes.last.contended && passes.size <= MaxRetries && !stop) {
      val retryCost = passWallSec * 1.1
      val spare = remainingSec - retryCost - reserveAfterSec - FinalizeReserveSec
      if (spare < 0) {
        skipped += s"${suite}_retry_skipped_budget"
        System.err.println(f"[bench] $suite retry skipped on budget: " +
          f"$remainingSec%.0f s left, retry ~$retryCost%.0f s + " +
          f"$reserveAfterSec%.0f s reserved ahead")
        stop = true
      } else {
        val idle = waitForIdle(maxWaitSec =
          math.min(IdleWaitSec.toDouble, spare).toInt.max(0))
        System.err.println(s"[bench] $suite pass ${passes.size - 1} contended " +
          s"(${passes.last.reasons.mkString(", ")}); retry ${passes.size}" +
          (if (idle) " after idle-wait" else " (idle-wait deadline expired)"))
        forkPass(suite, dir) match {
          case Some(p) => passes += p
          case None =>
            System.err.println(s"[bench] $suite retry fork failed; keeping existing passes")
            stop = true
        }
      }
    }
    val best = passes.find(!_.contended).getOrElse(
      passes.minBy(p => (p.reasons.size, p.warmTotal)))
    // retries = passes that actually RAN beyond pass 0 — a failed fork
    // is NOT a retry (overloading the counter made the artifact claim
    // attempts that never happened)
    (best, passes.toSeq, passes.size - 1, skipped.toSeq)
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 4 && args(0) == "--child") { childMain(args(1), args(2), args(3)); return }
    try run()
    catch { case scala.util.control.NonFatal(e) =>
      // last resort: the driver parses ONE json line — a crash with no
      // line at all (r8: an unguarded sf1-setup throw) leaves the round
      // with nothing to adjudicate. Emit an error artifact, then fail.
      val json = s"""{"metric":"total","value":-1.000,"unit":"sec","contended":true,"contention_reasons":["bench_crashed"],"error":${jsStr(e.toString.take(500))},"queries":{}}"""
      println(json)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")),
        (json + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
  }

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // the executor thread count is part of the protocol: a smaller
    // SPARK_GRAFT_CPUS than the host's processors produces a
    // healthy-looking but slow artifact that no contention detector can
    // flag — record it so cross-round comparisons can check config
    // equivalence mechanically. Parsed defensively: a malformed value
    // must record as -1, never throw AFTER the 15-minute run — main's
    // crash handler would overwrite the just-written good artifact with
    // a bench_crashed one. (Session.local() parses the same env; a
    // malformed value fails THERE, before anything is timed, which is
    // the right place.)
    val cpus: Int = scala.util.Try(Session.defaultCpus).getOrElse(-1)

    // ---- mutable stage state: the artifact is (re)written from this
    // after EVERY stage (VERDICT r15 next #1 — a driver timeout kill
    // must leave behind the most recent complete partial artifact, and
    // the compact stdout line per stage keeps the log TAIL parseable
    // even when the kill lands mid-stage) ----
    var s01: Pass = null
    var passes01: Seq[Pass] = Nil
    var retries01 = 0
    var sf1: Option[(Pass, Seq[Pass], Int)] = None
    var sf1Error: Option[String] = None
    val budgetSkipped = scala.collection.mutable.ArrayBuffer[String]()
    val scales = scala.collection.mutable.LinkedHashMap(
      "pca_scale" -> "{}", "fuzzy_scale" -> "{}", "bpe_scale" -> "{}",
      "warc_scale" -> "{}", "warc_ledger_scale" -> "{}",
      "triangles_full" -> "{}")

    val protocol = "warm-median (warm_total, sf1_warm_total) is the " +
      "cross-round comparable; cold is fresh-JVM ENGINE first-touch " +
      "(JVM+codegen+plan) over a page-cache-prewarmed fixture " +
      "(prewarm_sec per pass excludes the VM's disk from the number) " +
      "for every pass (sf0.1 pass 0 is the bench process itself, " +
      "retries and all sf1 passes are forked) and is NOT comparable " +
      "to in-JVM-amortized cold from rounds <= 6"

    /** Compose + write the full artifact and print the tail-parseable
      * compact line for the current stage. `stage` says how far the run
      * got — "final" means every stage ran or was explicitly skipped. */
    def emit(stage: String): Unit = {
      val sf1Contended = sf1.exists(_._1.contended)
      val reasons = s01.reasons ++ (if (sf1Contended) Seq("sf1") else Nil) ++
        (if (sf1Error.isDefined) Seq("sf1_setup_failed") else Nil)
      val contended = reasons.nonEmpty
      val passesJson01 = passes01.zipWithIndex
        .map { case (p, i) => p.summaryJson(i) }.mkString("[", ",", "]")
      val fragStr = sf1 match {
        case Some((p, passes, retries)) =>
          val passesJson = passes.zipWithIndex
            .map { case (q, i) => q.summaryJson(i) }.mkString("[", ",", "]")
          s""","sf1_total":${ms(p.coldTotal)},"sf1_warm_total":${ms(p.warmTotal)},"sf1_warm_min_total":${ms(p.warmMinTotal)},"sf1_contended":${p.contended},"sf1_contention_reasons":${jsArr(p.reasons)},"sf1_load_pre":${ms(p.loadPre)},"sf1_procs_pre":${p.procsPre},"sf1_retries":$retries,"sf1_passes":$passesJson,"sf1_failed":${p.failedJson},"queries_sf1":${p.queriesJson},"queries_sf1_warm":${p.queriesWarmJson},"queries_sf1_warm_detail":${p.warmDetailJson},"sf1_steady":${p.steadyJson},"sf1_env_marks":${p.marksJson},"recall_sf1":${p.recallJson}"""
        case None =>
          ""","sf1_total":0.000,"sf1_warm_total":0.000,"queries_sf1":{},"queries_sf1_warm":{}""" +
            sf1Error.map(e => s""","sf1_error":${jsStr(e)}""").getOrElse("")
      }
      val scalesStr = scales.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val json =
        s"""{"metric":"total","value":${ms(s01.coldTotal)},"unit":"sec","stage":"$stage","budget_sec":${ms(BudgetSec)},"elapsed_sec":${ms(elapsedSec)},"budget_skipped":${jsArr(budgetSkipped)},"warm_total":${ms(s01.warmTotal)},"warm_min_total":${ms(s01.warmMinTotal)},"warm_reps":$WarmReps,"cpus":$cpus,"contended":$contended,"contention_reasons":${jsArr(reasons)},"load_pre_bench":${ms(passes01.head.loadPre)},"procs_pre_bench":${passes01.head.procsPre},"sf01_retries":$retries01,"sf01_passes":$passesJson01,"sf1_forked":${sf1.exists(_._1.forked)},"onnx_runtime":$onnxPresent,$scalesStr,"protocol":"$protocol","failed":${s01.failedJson},"queries":${s01.queriesJson},"queries_warm":${s01.queriesWarmJson},"recall_sf01":${s01.recallJson}$fragStr,"sf":"$sfDir"}"""
      try java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (json + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $out: $e") }
      // stable-name copy of the one-line artifact (VERDICT r17 next #1):
      // a parser that prefers a file over scraping stdout finds it next
      // to the configured artifact
      try java.nio.file.Files.write(summaryPath(out),
        (json + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write bench_summary.json: $e") }
      // rich per-query detail: warm min/med/max triples + machine-state
      // marks — the evidence trail for any contended verdict
      val detail =
        s"""{"queries_warm_detail":${s01.warmDetailJson},"env_marks":${s01.marksJson},"sf01_passes":$passesJson01,"sf1_steady":${sf1.map(_._1.steadyJson).getOrElse("{}")}}"""
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
        (detail + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write bench_detail.json: $e") }
      // floors provenance (VERDICT r16 next #5): every GATE-CLEAN,
      // failure-free protocol pass contributes its warm medians to
      // floors_delta.json (elementwise min within the run);
      // graft.tools.FloorsFold folds that into the committed resource —
      // floors are never hand-typed again. Failure-free matters: a
      // failed query's sweep time is time-to-throw, which would poison
      // the floor as an implausibly fast clean median.
      try {
        def clean(ps: Seq[Pass]): Seq[Map[String, Double]] =
          ps.filter(p => !p.contended && p.failedJson == "[]")
            .map(p => graft.tools.Floors.parseFlat(p.queriesWarmJson))
        val sf01Protocol = new java.io.File(sfDir).getName == "sf0.1"
        val tables = Seq(
          "sf01" -> (if (sf01Protocol) graft.tools.Floors.foldMin(clean(passes01))
                     else Map.empty[String, Double]),
          "sf1" -> graft.tools.Floors.foldMin(
            clean(sf1.map(_._2).getOrElse(Nil))))
          .filter(_._2.nonEmpty).toMap
        if (tables.nonEmpty)
          java.nio.file.Files.write(
            java.nio.file.Paths.get("floors_delta.json"),
            graft.tools.Floors.render(tables).getBytes("UTF-8"))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write floors_delta.json: $e") }
      // compact summary as the FINAL stdout line (VERDICT r13 next #8):
      // the full per-query line above grew past the driver's 2,000-char
      // log tail 13 rounds straight, so its parse always saw a truncated
      // fragment. This line carries the headline numbers + verdicts and
      // stays tail-parseable; the full artifact lives in bench_out.json.
      println(compactSummary(s01, sf1, contended, reasons, cpus,
        sfDir, out, stage))
      // the FULL contract line ({"metric",...,"queries":{...},"sf"})
      // prints once, LAST, at the final stage: the driver's parser keeps
      // the last JSON-parseable stdout line, and with the build's
      // StdoutOutput strategy it now arrives without sbt's "[info] "
      // decoration (VERDICT r17 next #1 — parsed:null every round since
      // r01). The compact line above stays for mid-run/kill log tails.
      if (stage == "final") println(json)
    }

    // ---- sf0.1: pass 0 inline (this process IS a fresh JVM), retries
    // forked so their cold stays first-touch-comparable ----
    val tP0 = System.nanoTime()
    val p0 = runPass("sf01", sfDir, forked = false, withRecall = true)
    val p0WallSec = (System.nanoTime() - tP0) / 1e9
    s01 = p0; passes01 = Seq(p0)
    emit("sf01_pass0")

    // sf1 runs on the protocol dir only; its reserve participates in
    // the sf0.1 retry gate so a retry cannot eat the sf1 leg's budget
    val sf1Planned = !sys.env.get("SPARK_GRAFT_SKIP_SF1").contains("1") &&
      new java.io.File(sfDir).getName == "sf0.1"
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    // child pass ~ sf0.1 pass wall (52 rows at 10x data vs 152 at 1x),
    // floor 450 s; +240 s when the sf1 fixture must first be derived
    def sf1CostEst: Double = math.max(450.0, p0WallSec) +
      (if (new java.io.File(sf1Dir, "_GRAFT_SCALE_OK").exists()) 0.0 else 240.0)
    val sf1Reserve = if (sf1Planned) sf1CostEst else 0.0

    locally {
      val (best, ps, n, skipped) = withRetries("sf01", sfDir, p0, p0WallSec,
        reserveAfterSec = sf1Reserve + ScaleChecksReserveSec)
      s01 = best; passes01 = ps; retries01 = n; budgetSkipped ++= skipped
    }
    emit("sf01")

    // sf1 validation in a FRESH JVM. Only triggered when benching the
    // protocol sf0.1 dir so ad-hoc sf0.01 iteration stays fast; gate on
    // the path's BASENAME (endsWith let a trailing slash silently skip
    // scale validation — ADVICE r4 #5). The whole leg is guarded: in r8
    // an unguarded ScaleUp throw (a fixture-regeneration schema change)
    // crashed main AFTER the sf0.1 numbers existed, and the driver's
    // round artifact was rc=1 with NO json line at all — a broken sf1
    // derivation must degrade to a recorded error, never destroy the
    // sf0.1 result. Budget-gated: skipping with a recorded reason beats
    // running the driver into its timeout.
    if (sf1Planned) {
      // the sf1 leg outranks the scale checks in the budget order
      // (VERDICT r16 next #1): only the finalize reserve gates it —
      // the checks self-skip individually later if the leg ate their
      // time. A committed clean sf1 number is worth more than any of
      // them.
      if (remainingSec - sf1CostEst < FinalizeReserveSec) {
        budgetSkipped += "sf1_skipped_budget"
        System.err.println(f"[bench] sf1 leg skipped on budget: " +
          f"$remainingSec%.0f s left, leg ~$sf1CostEst%.0f s")
      } else sf1 = try {
        val spark = Session.local()
        val dir =
          try ScaleUp.ensure(spark, sfDir, sf1Dir)
          finally
            // release this JVM's executors/heap before the child starts —
            // the fork exists precisely so the scale numbers see a quiet
            // machine
            spark.stop()
        // ---- pre-fork window gate (VERDICT r16 next #1): the r16
        // driver run burned a 462 s CONTENDED sf1 cold pass and then
        // had no budget left for the retry — the sunk cost was
        // committed before anyone looked at the window. Probe FIRST
        // (one windowClean sample, ~4 s); on a bad window spend the
        // idle-wait NOW, before the expensive pass, not only after a
        // contended verdict; and when the window stays bad AND the
        // budget cannot absorb a contended pass plus its retry, skip
        // the leg with the probe evidence in the artifact — an
        // explicit probe-documented skip beats a doomed pass. ----
        val passCost = math.max(450.0, p0WallSec)
        val waitBudget = math.min(IdleWaitSec.toDouble,
          math.max(0.0, remainingSec - passCost - FinalizeReserveSec)).toInt
        val idleNow = windowClean() || waitForIdle(waitBudget)
        val retryHeadroom =
          remainingSec - 2.0 * passCost - FinalizeReserveSec > 0
        if (!idleNow && !retryHeadroom) {
          val (_, mt) = cpuScore()
          budgetSkipped += f"sf1_skipped_bad_window_mt_${mt}%.0f"
          System.err.println(f"[bench] sf1 leg skipped: window still bad " +
            f"after ${waitBudget} s idle-wait (probe $mt%.0f MB/s) and " +
            f"no budget for a contended pass + retry ($remainingSec%.0f s left)")
          None
        } else {
          if (!idleNow) System.err.println("[bench] sf1 window bad after " +
            "idle-wait but retry headroom remains — proceeding; the floor " +
            "gate + recovery loop adjudicate the pass")
          val tSf1 = System.nanoTime()
          val pass0 = forkPass("sf1", dir).getOrElse {
            // fallback: in-process (old behavior), loudly non-forked
            System.err.println("[bench] sf1 falling back to in-JVM run")
            runPass("sf1", dir, forked = false, withRecall = false)
          }
          val sf1WallSec = (System.nanoTime() - tSf1) / 1e9
          Some(
            if (!pass0.forked) (pass0, Seq(pass0), 0) // fork machinery broken
            else {
              // reserveAfterSec = 0: the retry outranks the scale
              // checks (they self-skip), same priority call as the leg
              val (best, ps, n, skipped) = withRetries("sf1", dir, pass0,
                sf1WallSec, reserveAfterSec = 0.0)
              budgetSkipped ++= skipped
              (best, ps, n)
            })
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] sf1 leg failed: $e")
        sf1Error = Some(e.toString.take(300))
        None
      }
      emit("sf1")
    }

    // ---- reference-dimensionality PCA scale check (VERDICT r11 #5):
    // runs AFTER the timed passes so its CPU burst cannot pollute a
    // warm median; synthesized 1536-d input, ~25 s. Only in protocol
    // (sf0.1) runs, skippable via env; a failure is RECORDED, never
    // fatal — same degradation contract as the sf1 leg. One helper
    // owns the gate + fresh-session lifecycle + error-JSON degradation
    // so a contract change cannot silently miss a check; each check is
    // individually budget-gated (~60 s nominal) and the artifact is
    // re-emitted after each so a mid-checks kill loses one check, not
    // all of them. ----
    def scaleCheck(label: String)(f: SparkSession => String): String =
      if (sys.env.get("SPARK_GRAFT_SKIP_SCALECHECK").contains("1")
          || new java.io.File(sfDir).getName != "sf0.1") "{}"
      else if (remainingSec < 90.0 + FinalizeReserveSec) {
        budgetSkipped += s"${label}_skipped_budget"
        s"""{"skipped":"budget"}"""
      } else try {
        val spark = Session.local()
        try f(spark) finally spark.stop()
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $label scale check failed: $e")
        s"""{"error":${jsStr(e.toString.take(300))}}"""
      }

    scales("pca_scale") = scaleCheck("pca")(graft.tools.RefWidthCheck.pcaAtRefDims)

    // BPE/WordPiece training at a ~1M-word dictionary (the fixture
    // vocab is ~31 words, so the suite rows never exercise the
    // vocab-bound iteration cost the design exists for)
    scales("bpe_scale") = scaleCheck("bpe")(graft.tools.RefWidthCheck.bpeAtVocabScale)

    // full co-purchase triangle count (VERDICT r12 #3): the unsampled
    // graph_triangles_full row, 1 cold + 2 steady reps in this JVM —
    // the committed artifact now tracks the real operator cost per
    // round (the suite keeps the cheap quarter-sample as its feedback
    // loop)
    scales("triangles_full") = scaleCheck("triangles_full") { spark =>
      val fn = SparkEntry.queries("graph_triangles_full")
      // the row count rides out of the timed reps (ADVICE r13: a 4th
      // untimed full run of the suite's heaviest fragment just to read
      // the count doubled the check's cost)
      var rows = 0L
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        rows = fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      f"""{"cold_sec":${times.head}%.3f,"steady_sec":${times.tail.min}%.3f,"rows":$rows}"""
    }
    emit("scale_checks_1")

    // fuzzy-join vocabulary-scale counters (VERDICT r11 #6)
    scales("fuzzy_scale") = scaleCheck("fuzzy")(graft.tools.RefWidthCheck.fuzzyAtVocabScale)

    // WARC ingestion throughput at volume (~160 MB raw content; the
    // fixture rows only parse a few MB)
    scales("warc_scale") = scaleCheck("warc")(graft.tools.RefWidthCheck.warcAtVolumeScale)

    // unordered-arrival ledger at crawl-scale shard counts (VERDICT r16
    // next #7): 50k adversarially-ordered shard names through the
    // offset machinery — ledger growth, offset JSON weight, per-poll
    // cost, and the expiry churn on the restart path
    scales("warc_ledger_scale") =
      scaleCheck("warc_ledger")(graft.sources.WarcLedgerProbe.atScale)

    emit("final")
  }

  /** The headline numbers + verdicts in <~600 chars. Pure + visible so
    * a spec can pin the size budget and the field set. */
  private[graft] def compactSummary(s01: Pass,
      sf1: Option[(Pass, Seq[Pass], Int)], contended: Boolean,
      reasons: Seq[String], cpus: Int, sfDir: String, out: String,
      stage: String = "final"): String = {
    val sf1Frag = sf1 match {
      case Some((p, _, retries)) =>
        s""","sf1_warm_total":${ms(p.warmTotal)},"sf1_cold_total":${ms(p.coldTotal)},"sf1_contended":${p.contended},"sf1_cpu_mt_mbps":${ms(p.cpuMt)},"sf1_retries":$retries"""
      case None => ""","sf1_warm_total":0.000"""
    }
    // reasons bounded: 6 entries is plenty for triage; the full list
    // is in the file artifact
    val rs = jsArr(reasons.take(6) ++
      (if (reasons.size > 6) Seq(s"+${reasons.size - 6}_more") else Nil))
    s"""{"metric":"total","value":${ms(s01.coldTotal)},"unit":"sec","stage":"$stage","warm_total":${ms(s01.warmTotal)},"contended":$contended,"contention_reasons":$rs,"cpus":$cpus,"cpu_mt_mbps":${ms(s01.cpuMt)}$sf1Frag,"detail":"$out","sf":"$sfDir"}"""
  }
}
