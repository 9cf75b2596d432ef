package graft.core

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/**
 * The one way graft builds a session. The bench, the oracle dump
 * (`Verify`), the scale-up tools, every `graft.tools` main and the test
 * suites all call [[local]], so the engine the oracle checks and the
 * tests run is the engine the bench times.
 *
 * Sessions graft did not build (a caller's own, the driver's) get the
 * kernels and rules from [[GraftFunctions.register]], which the
 * `graft.operators` entry points and `SparkEntry` call themselves.
 */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else every processor of the host. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with the shared settings, graft's
    * functions and optimizer rules registered. Callers that need a
    * different runtime SQL setting set it on the returned session. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS) in some fixture generations
      // (see Tables.load)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; an 80-query
      // suite evicts earlier queries' codegen before the warm pass
      // reruns them, re-paying full compilation (measured: text_bm25
      // sf1 8.8 s "warm" vs 2.5 s steady) — r5's "uniform 1.4x
      // warm-pass slowdown" was this, not machine noise
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // let AQE swap a sort-merge join for a shuffled hash join when
      // every post-shuffle build partition fits this bound — both sort
      // passes disappear. No suite query hits SMJ at current scales
      // (AQE's runtime stats broadcast even q3's 1.5M-key semi join),
      // but past the broadcast ceiling this is the next-best shape and
      // the conversion stays per-partition-bounded, so no unbounded
      // hash map is ever built.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }
}
