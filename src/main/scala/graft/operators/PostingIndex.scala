package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The positional posting index that [[Search.phraseMatchIndexed]]
 * probes: (doc_id, pos, tok) rows partitioned on disk by
 * `tb = crc32(tok) % buckets`, maintained incrementally (VERDICT r12
 * next #6) — a rebuild-only index at 100 TB would make a daily-append
 * corpus re-tokenize the world to index one day. The index has the
 * same lifecycle discipline as the store's dup-graph sidecar
 * (versioned one-rename commits, lineage in underscore meta files,
 * validate-before-destroy):
 *
 * Layout: `path/_postings.json` ({"buckets":B}, written once at
 * create — the bucket hash is the index's identity and can never
 * change without a rebuild), then
 * `path/v<k>/gen=<g>/tb=<b>/part-*.parquet`. `gen` and `tb` are BOTH
 * Hive-style partition directories, so one `spark.read.parquet(v<k>)`
 * discovers every generation and the phrase probe's static
 * `tb IN (...)` filter prunes across all of them at once — an append
 * never changes the query plan's shape, only adds directories.
 *
 * - **append**: tokenize ONLY the new docs, stage under `path/_stage`
 *   (underscore = invisible to any concurrent reader's file index),
 *   one rename into `v<k>/gen=<g+1>`. O(batch), never touches
 *   committed generations.
 * - **compact**: read every generation of the live version, write one
 *   merged generation into a staged NEW version root, one rename to
 *   `v<k+1>`. Readers always resolve the max committed version, so a
 *   crashed compaction leaves the old version live and a stale stage
 *   dir that the next writer clears.
 * - **vacuum**: delete superseded version roots (validate first: the
 *   live version must exist and be newer).
 *
 * Single-writer ENFORCED (the [[VectorStore]] lock discipline, not
 * just documented): every mutation — create, append, compact,
 * vacuum — holds `_writer_lock` (atomic create-if-absent, spin up to
 * `lockTimeoutMs`, loud failure carrying the lock's age so a slow
 * writer is distinguishable from crash wreckage). Readers are
 * lock-free (they only ever see committed renames).
 */
object PostingIndex {

  /** Writer-lock spin timeout: index writes at scale run minutes; a
    * short default would tempt operators into deleting a LIVE lock. */
  var lockTimeoutMs: Long = 600000L
  /** Lease: a lock whose mtime is older than this is a crashed
    * holder's wreckage and self-steals ([[LeaseLock]]). */
  var lockLeaseMs: Long = 60000L

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def withWriterLock[T](spark: SparkSession, path: String)(f: => T): T =
    LeaseLock.withLock(fsOf(spark, path), new Path(s"$path/_writer_lock"),
      lockTimeoutMs, lockLeaseMs, "posting-index writer lock")(f)

  private def metaPath(path: String) = new Path(s"$path/_postings.json")

  /** The index's bucket count, from the create-time meta. */
  def buckets(spark: SparkSession, path: String): Int =
    MetaJson.read(fsOf(spark, path), metaPath(path)).getOrElse(
      throw new IllegalStateException(
        s"graft: no posting index at $path (no _postings.json; build one with PostingIndex.create)"))
      .int("buckets")

  // ---- commit protocol: stage -> rename -> marker LAST; a version or
  // gen dir is committed iff it carries the marker — ONE implementation
  // shared with [[VectorStore]]; see [[VersionedCommit]] (VERDICT r14
  // #4, r15 #4). Version roots are `v<k>` Dirs under the index path;
  // gen dirs are `gen=<g>` Dirs under the live version root. ----

  private def versionsDir(spark: SparkSession, path: String) =
    VersionedCommit.Dir(fsOf(spark, path), path)

  private def gensDir(spark: SparkSession, path: String, v: Int) =
    VersionedCommit.Dir(fsOf(spark, path), s"$path/v$v", prefix = "gen=")

  private def liveVersion(spark: SparkSession, path: String): Int =
    versionsDir(spark, path).committed().lastOption
      .getOrElse(throw new IllegalStateException(
        s"graft: posting index at $path has no committed version"))

  private def postings(docs: DataFrame, nBuckets: Int,
                       idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("tb", (crc32(col("tok").cast("binary")) % nBuckets).cast("int"))

  /** Stage `df` (partitioned by tb) and commit it as `v<v>/gen=<g>`.
    * Clears any stale stage left by a crashed writer first. */
  private def stageAndCommit(df: DataFrame, path: String, v: Int, g: Int,
                             genMeta: (String, Any)*): Unit = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    val stage = new Path(s"$path/_stage")
    fs.delete(stage, true)
    df.repartition(col("tb"))
      .write.mode(SaveMode.Overwrite).partitionBy("tb").parquet(stage.toString)
    MetaJson.write(fs, new Path(s"$stage/_gen.json"), genMeta: _*)
    // markers strictly LAST: gen dir first, then the version dir —
    // readers require both, so a crash anywhere above leaves the
    // previous committed state fully intact
    gensDir(spark, path, v).commit(stage, g, "posting index")
    versionsDir(spark, path).mark(v)
  }

  /** Initialize the index from the current corpus: meta + v<k>/gen=0.
    * Allocation (not a hardcoded v0) makes a CRASHED first create
    * recoverable (ADVICE r15 #2): its partial version dir carries no
    * marker, so it is wreckage — invisible to readers, skipped by this
    * retry (which commits past it), reaped by [[vacuum]] — where a
    * hardcoded v0 target wedged permanently on `commit target exists`. */
  def create(docs: DataFrame, path: String, nBuckets: Int = 64,
             idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(nBuckets > 0, s"graft: buckets $nBuckets must be positive")
    val spark = docs.sparkSession
    withWriterLock(spark, path) {
      val fs = fsOf(spark, path)
      require(!fs.exists(metaPath(path)),
        s"graft: posting index already exists at $path — use append/compact")
      val v = versionsDir(spark, path).allocate()
      stageAndCommit(postings(docs, nBuckets, idCol, textCol), path, v, 0, "op" -> "create")
      MetaJson.write(fs, metaPath(path), "buckets" -> nBuckets)
    }
  }

  /** Append NEW docs as one delta generation — O(batch): committed
    * generations are never read or rewritten. The caller owns doc-id
    * novelty (same contract as the corpus itself: an id appended twice
    * would double its postings, exactly as it would double in a
    * rebuild over a corpus carrying the dup). */
  def append(docs: DataFrame, path: String,
             idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    withWriterLock(spark, path) {
      val b = buckets(spark, path)
      val v = liveVersion(spark, path)
      // allocate past ALL gen dirs: a crashed partial gen must never be
      // re-targeted (its rename would fail)
      val g = gensDir(spark, path, v).allocate()
      stageAndCommit(postings(docs, b, idCol, textCol), path, v, g,
        "op" -> "append", "version" -> v, "gen" -> g)
    }
  }

  /** Every committed posting of the live version: (doc_id, pos, tok,
    * tb, gen) — one partition-discovered scan, statically prunable on
    * tb across all generations. Crash-partial gen dirs (no marker) are
    * excluded via an explicit path list under the same basePath, so
    * partition columns survive. */
  def scan(spark: SparkSession, path: String): DataFrame = {
    val v = liveVersion(spark, path)
    // crash-partial gen dirs included in `all`, not in `committed`
    val all = gensDir(spark, path, v).all()
    val committed = gensDir(spark, path, v).committed()
    if (committed == all) spark.read.parquet(s"$path/v$v")
    else spark.read.option("basePath", s"$path/v$v")
      .parquet(committed.map(g => s"$path/v$v/gen=$g"): _*)
  }

  /** Register the live version for PLAIN SQL (VERDICT r13 next #7):
    * `SELECT ... FROM <name> WHERE tok IN ('a','b')` prunes statically
    * to the terms' bucket directories via
    * [[graft.plans.TermBucketPruning]] — the same economics the facade
    * probe ([[Search.phraseMatchIndexed]]) computes on the driver.
    *
    * Re-register after ANY write. The RULE registration stays valid
    * across appends (`buckets` is the index's create-time identity),
    * but the VIEW does not: a temp view over a parquet read pins the
    * file listing captured at registration time, so SQL over a stale
    * view silently misses generations appended afterwards (the facade
    * [[scan]] always re-lists). A compact additionally moves the live
    * version root, which only a re-registration can follow. */
  def registerSqlTable(spark: SparkSession, path: String, name: String): Unit = {
    graft.functions.GraftFunctions.register(spark) // kernels + the rule
    scan(spark, path).createOrReplaceTempView(name)
    graft.plans.TermBucketPruning.register(path, buckets(spark, path))
  }

  /** Merge all generations of the live version into gen=0 of a NEW
    * version root (staged, one rename). Old versions stay on disk for
    * in-flight readers until [[vacuum]]. */
  def compact(spark: SparkSession, path: String): Unit =
    withWriterLock(spark, path) {
      val v = liveVersion(spark, path)
      val gens = gensDir(spark, path, v).committed()
      val merged = scan(spark, path).select("doc_id", "pos", "tok", "tb")
      // allocate past ALL version dirs incl. a crashed partial compact
      val next = versionsDir(spark, path).allocate()
      stageAndCommit(merged, path, next, 0,
        "op" -> "compact", "from_version" -> v, "merged_gens" -> gens.size)
    }

  /** Delete superseded and crash-partial version roots (a crashed
    * compact or first create), the store's sweep with no grace period
    * ([[VersionedCommit.Dir.sweep]]; validate-before-destroy: the live
    * version must remain). */
  def vacuum(spark: SparkSession, path: String): Unit =
    withWriterLock(spark, path) {
      val fs = fsOf(spark, path)
      val live = liveVersion(spark, path)
      versionsDir(spark, path).sweep()
      // crashed lock-steal tombstones ([[LeaseLock]]), same sweep as
      // the store's vacuum
      for (st <- fs.listStatus(new Path(path))
             if st.getPath.getName.startsWith("_writer_lock.stale."))
        fs.delete(st.getPath, false)
      require(fs.exists(new Path(s"$path/v$live")),
        s"graft: vacuum invariant broken — live version v$live missing")
    }
}
