package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per process.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--spans <file>] [--untraced <file>] [--commit <id>]
  *
  * Prints a run-record line, then as its last stdout line one JSON object
  * {correct, attempted, failed, metrics}: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`. An untraced run
  * saves its end-to-end metrics to the `--untraced` file; a traced run of
  * the same seed reads them back to report the tracing overhead.
  *
  *   perfbench.Main --archive <dir>
  *
  * sets up and warms every workload once, untimed, in one JVM: run under
  * `-XX:ArchiveClassesAtExit` it leaves a class-data-sharing archive of
  * the classes all workloads load, which every timed run then maps. */
object Main {

  /** End-to-end metrics: every workload reports each of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "query_p50_ms" -> "ms",
    "query_tail_ms" -> "ms",
    "alt_query_p50_ms" -> "ms",
    "job_items_per_s" -> "1/s",
    "maintenance_s" -> "s",
    "recall" -> "ratio",
    "bytes_per_user_byte" -> "ratio",
    "heap_live_mb" -> "MB")

  /** Per-layer metrics of the traced run, every workload reporting each;
    * a layer the workload never calls reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "store.resolve_ms" -> "ms", "store.jobs_per_search" -> "count",
    "store.insert_ms" -> "ms",
    "store.jobs_per_write" -> "count", "store.compact_s" -> "s", "store.vacuum_s" -> "s",
    "commit.manifest_versions" -> "count", "commit.delta_files_max" -> "count",
    "storage.files_live" -> "count", "storage.bytes_live" -> "bytes",
    "storage.partitions_live" -> "count",
    "storage.bytes_on_disk_peak" -> "bytes", "storage.bytes_written" -> "bytes",
    "plan.optimize_ms" -> "ms", "plan.physical_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.sched_delay_ms" -> "ms",
    "exec.task_skew" -> "ratio", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.peak_exec_mem_mb" -> "MB",
    "scan.files_read" -> "count", "scan.bytes_read" -> "bytes", "scan.rows_read" -> "count",
    "scan.partitions_read" -> "count", "scan.prune_ratio" -> "ratio",
    "scan.rows_per_result" -> "ratio",
    "kernel.cosine_mpairs_per_s" -> "1/s", "kernel.packed_cosine_mpairs_per_s" -> "1/s",
    "kernel.minhash_docs_per_s" -> "1/s",
    "topk.scored_pairs_per_result" -> "ratio",
    "ann.index_build_s" -> "s", "ann.kmeans_s" -> "s", "ann.nprobe" -> "count",
    "ann.rows_scanned_per_query" -> "count",
    "dedup.exact_s" -> "s", "dedup.minhash_s" -> "s", "dedup.components_s" -> "s",
    "text.stats_s" -> "s", "curation.curate_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms",
    "setup.session_s" -> "s", "setup.generate_s" -> "s", "setup.seed_store_s" -> "s",
    "setup.warmup_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, spans: Option[String], untraced: Option[String],
                        commit: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.get("spans"), m.get("untraced"),
      m.getOrElse("commit", "unknown"))
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--archive")) archive(args(1)) else run(parse(args))

  private def archive(work: String): Unit = {
    val spark = session(math.min(Runtime.getRuntime.availableProcessors(), 4), work)
    for (wl <- Workload.all) wl.prepare(spark, 0L, s"$work/${wl.name}").warmUp()
    spark.stop()
  }

  private def run(o: Opts): Unit = {
    val wl = Workload.byName(o.workload).getOrElse(
      sys.error(s"unknown workload ${o.workload}; have ${Workload.all.map(_.name).mkString(", ")}"))
    val cpus = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val before = Host.sample()

    val t0 = System.nanoTime()
    val spark = session(cpus, o.work)
    val sessionS = Workload.secs(t0)

    // set-up runs once: seeding a store costs 6-15 s on a 4-core VM, and
    // repeating it would not fit the benchmark's time budget
    val (prepared, prepareS) = {
      val t = System.nanoTime()
      val p = wl.prepare(spark, o.seed, s"${o.work}/setup")
      (p, Workload.secs(t))
    }
    val tw = System.nanoTime()
    prepared.warmUp()
    val warmS = Workload.secs(tw)
    val setupS = sessionS + prepareS + warmS

    val trace = new Trace(spark, on = o.trace)
    val c0 = Counters.now()
    val out = prepared.run(trace, o.seconds)
    trace.close()
    val e2e = endToEnd(out, setupS)
    // the traced run's overhead: its query median against the untraced
    // run of the same seed, when one ran before it in this directory
    val untraced = if (o.trace) o.untraced.flatMap(readUntraced) else None
    val metrics =
      if (!o.trace) {
        o.untraced.foreach(writeUntraced(_, e2e))
        e2e
      } else {
        val layers = perLayer(trace, out, c0)
        layers("setup.session_s") = sessionS
        layers("setup.generate_s") = prepared.setupParts._1
        layers("setup.seed_store_s") = prepared.setupParts._2
        layers("setup.warmup_s") = warmS
        untraced.foreach(u => layers("trace.overhead_ratio") = e2e.toMap.apply("query_p50_ms")._1 / u)
        o.spans.foreach(writeSpans(_, o, trace))
        PerLayer.map { case (n, u) => n -> (layers.getOrElse(n, 0.0), u) }
      }
    val after = Host.sample()

    val attempted = out.attempted
    val failed = out.failed
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "local_n" -> cpus, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"), "commit" -> o.commit,
      "host_before" -> before, "host_after" -> after,
      "steal_pct" -> Host.stealPct(before, after),
      "setup_s" -> Map("session" -> sessionS, "generate" -> prepared.setupParts._1,
        "seed_store" -> prepared.setupParts._2, "warmup" -> warmS),
      "named" -> named(out),
      "failures" -> out.failures) ++
      (if (o.trace) Seq(
        "end_to_end_traced" -> mutable.LinkedHashMap(e2e.map { case (n, (v, u)) =>
          n -> Map("value" -> v, "unit" -> u) }: _*),
        "untraced_query_p50_ms" -> untraced.getOrElse(Double.NaN))
      else Nil)
    println(Stats.json(Map("run_record" -> record)))
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> math.max(1L, attempted), "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }: _*))
    println(Stats.json(result))
  }

  private def named(out: Outcome) =
    out.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  private def endToEnd(out: Outcome, setupS: Double): Seq[(String, (Double, String))] = {
    val values = Map(
      "setup_s" -> setupS,
      "query_p50_ms" -> Stats.median(out.queries.toSeq),
      "query_tail_ms" -> Stats.tail(out.queries.toSeq)._2,
      "alt_query_p50_ms" -> Stats.median(out.altQueries.toSeq),
      "job_items_per_s" -> out.jobItems / (out.jobs.sum / 1000.0),
      "maintenance_s" -> out.maintenanceS,
      "recall" -> out.recall,
      "bytes_per_user_byte" -> out.bytesPerUserByte,
      "heap_live_mb" -> Host.liveHeapMb())
    EndToEnd.map { case (n, u) => n -> (values(n), u) }
  }

  private def perLayer(trace: Trace, out: Outcome, c0: Map[String, Double]): mutable.Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]() ++= out.layers
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val reqs = trace.reqs.toSeq
    val reads = reqs.filter(r => Set("search", "searchMany", "searchManyAnn")(r.kind))
    val writes = reqs.filter(_.kind == "insert")
    m("store.resolve_ms") =
      med(Seq("store.search", "store.searchMany", "store.searchManyAnn").flatMap(trace.spansOf))
    m("store.jobs_per_search") = mean(reads.map(_.exec.jobs.toDouble))
    m("store.jobs_per_write") = mean(writes.map(_.exec.jobs.toDouble))
    m("plan.optimize_ms") = med(trace.spansOf("plan.optimize"))
    m("plan.physical_ms") = med(trace.spansOf("plan.physical"))
    for ((k, v) <- out.countersAtEnd) m(k) = v - c0(k)
    m("exec.ms") = med(trace.spansOf("exec"))
    val ex = reqs.map(_.exec)
    m("exec.jobs") = mean(ex.map(_.jobs.toDouble))
    m("exec.stages") = mean(ex.map(_.stages.toDouble))
    m("exec.tasks") = mean(ex.map(_.tasks.toDouble))
    m("exec.task_run_ms") = mean(ex.map(_.runMs))
    m("exec.task_cpu_ms") = mean(ex.map(_.cpuMs))
    m("exec.sched_delay_ms") = mean(ex.map(_.schedMs))
    m("exec.task_skew") = med(ex.map(_.skew))
    m("exec.shuffle_write_bytes") = mean(ex.map(_.shuffleWrite))
    m("exec.shuffle_read_bytes") = mean(ex.map(_.shuffleRead))
    m("exec.spill_bytes") = mean(ex.map(_.spill))
    m("exec.peak_exec_mem_mb") = if (ex.isEmpty) 0.0 else ex.map(_.peakMemMb).max
    val sc = reqs.map(_.scan)
    m("scan.files_read") = mean(sc.map(_.files))
    m("scan.bytes_read") = mean(sc.map(_.bytes))
    m("scan.rows_read") = mean(sc.map(_.rows))
    m("scan.partitions_read") = mean(sc.map(_.partitions))
    // tag-partition pruning: single tagged searches only (a batch scan
    // of the ANN index reads list partitions, not tag partitions)
    val tagged = reqs.filter(_.kind == "search")
    val live = m.getOrElse("storage.partitions_live", 0.0)
    if (live > 0 && tagged.nonEmpty)
      m("scan.prune_ratio") = mean(tagged.map(_.scan.partitions)) / live
    val results = reads.map(_.results).sum.toDouble
    if (results > 0) {
      m("scan.rows_per_result") = reads.map(_.scan.rows).sum / results
      m("topk.scored_pairs_per_result") = reads.map(_.scan.scoredPairs).sum / results
    }
    m
  }

  private def writeUntraced(path: String, e2e: Seq[(String, (Double, String))]): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(e2e.toMap.apply("query_p50_ms")._1) finally w.close()
  }

  /** The query median an untraced run of the same workload and seed saved. */
  private def readUntraced(path: String): Option[Double] =
    try {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.mkString.trim.toDoubleOption finally src.close()
    } catch { case _: java.io.IOException => None }

  /** Spans, layer self times and per-request counters, as one JSON file. */
  private def writeSpans(path: String, o: Opts, trace: Trace): Unit = {
    val doc = Map(
      "workload" -> o.workload, "seed" -> o.seed,
      "self_ms" -> trace.selfMs,
      "spans" -> trace.spans.map(s => Seq(s.id, s.parent, s.req, s.name, s.startNs, s.endNs)),
      "span_fields" -> Seq("id", "parent", "request", "name", "start_ns", "end_ns"),
      "requests" -> trace.reqs.map(r => Map("id" -> r.id, "kind" -> r.kind, "results" -> r.results,
        "exec" -> r.exec.productElementNames.zip(r.exec.productIterator).toMap,
        "scan" -> r.scan.productElementNames.zip(r.scan.productIterator).toMap)))
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Stats.json(doc)) finally w.close()
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Host load readings for the run record. */
object Host {
  private def read(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    catch { case _: java.io.IOException => "" }

  /** load1 and the aggregate cpu jiffies (total, steal). */
  def sample(): Map[String, Double] = {
    val load1 = read("/proc/loadavg").split(' ').headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(
      _.trim.split("\\s+").drop(1).flatMap(_.toDoubleOption)).getOrElse(Array.empty[Double])
    Map("load1" -> load1, "cpu_total" -> cpu.sum, "cpu_steal" -> (if (cpu.length > 7) cpu(7) else 0.0))
  }

  def stealPct(a: Map[String, Double], b: Map[String, Double]): Double = {
    val dt = b("cpu_total") - a("cpu_total")
    if (dt <= 0) 0.0 else 100.0 * (b("cpu_steal") - a("cpu_steal")) / dt
  }

  /** Heap in use after a full collection. Spark releases broadcast and
    * cached blocks from a cleaner thread once their handles are
    * collected, so the second collection follows a pause for it. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
