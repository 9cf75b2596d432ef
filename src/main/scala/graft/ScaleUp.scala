package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/**
 * Derive a `factor`x benchmark dataset from a driver-generated sf dir by
 * replicating the FACT tables with key offsets (dimensions copy
 * verbatim) — the scale-validation input for Bench's sf1 pass (VERDICT
 * r3 next #3). Replication — not synthesis: every value in the derived
 * tables comes from the driver's data, and every foreign key stays
 * valid because both sides of a relationship shift by the same
 * per-replica offset (lineitem.l_orderkey and orders.o_orderkey share
 * one offset). Replicated documents/embeddings make every original row
 * a `factor`-clique of exact near-dups — deliberately adversarial for
 * the dedup operators (clique-quadratic candidate generation) and for
 * connected components (500k+ components at sf1).
 *
 * Idempotent AND self-invalidating: the completion sentinel records the
 * source dir, factor, the file-layout inputs and a per-table row-count
 * fingerprint; a sentinel that no longer matches (regenerated
 * fixtures, different factor, other parallelism or row-group size)
 * triggers re-derivation instead of silently reusing stale data
 * (ADVICE r4 #2). Destruction is fenced: an existing dst is only
 * removed when it carries this derivation's own markers — pointing
 * SPARK_GRAFT_SF1_DIR at an unrelated populated directory (or the
 * source itself) refuses instead of deleting it (ADVICE r4 #1).
 */
object ScaleUp {

  /** Standalone derivation entry point (development / pre-warming the
    * bench's sf1 fixture): runMain graft.ScaleUp [src] [dst] [factor]. */
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Session.local()
    println(s"[scaleup] ensured: ${ensure(spark, src, dst, factor)}")
    spark.stop()
  }

  private val facts = Seq("orders", "lineitem", "events", "documents", "embeddings")
  private val dims = Seq("region", "nation", "customer", "supplier", "part")

  /** One line per input: src path, factor, and per-table row counts
    * (parquet footer metadata — no data scan) PLUS the source files'
    * total bytes and newest mtime — regenerated fixtures with identical
    * row counts but different content (same sizes are then vanishingly
    * unlikely, and mtimes certainly differ) still invalidate the
    * sentinel (ADVICE r5 #2). */
  private def fingerprint(spark: SparkSession, src: String, factor: Int,
                          layout: String): String = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(files)
      else Seq(f)
    val counts = (facts ++ dims).map { t =>
      val fs = files(new java.io.File(s"$src/$t.parquet"))
      val bytes = fs.map(_.length()).sum
      val mtime = if (fs.isEmpty) 0L else fs.map(_.lastModified()).max
      s"$t=${Tables.load(spark, src, t).count()}:$bytes:$mtime"
    }
    (Seq(s"src=${new java.io.File(src).getCanonicalPath}", s"factor=$factor",
      layout) ++ counts).mkString("\n")
  }

  /** The sentinel's layout line: the layout version plus every input
    * that shapes the derived files (see replicate in [[ensure]]), so a
    * session with other parallelism or another block size re-derives
    * instead of reusing a layout it would not have written. */
  private[graft] def layoutLine(outFiles: Int, blockMb: Long): String =
    s"layout=v4 files=$outFiles block_mb=$blockMb"

  /** Replicate `src` `factor`x into `dst`; no-op when the sentinel
    * matches a completed derivation of the SAME source/factor/contents.
    * Returns dst. */
  def ensure(spark: SparkSession, src: String, dst: String, factor: Int = 10): String = {
    val srcCanon = new java.io.File(src).getCanonicalPath
    val dstCanon = new java.io.File(dst).getCanonicalPath
    require(dstCanon != srcCanon && !srcCanon.startsWith(dstCanon + "/"),
      s"graft: scale-up dst $dst would overwrite its own source $src")
    val done = new java.io.File(s"$dst/_GRAFT_SCALE_OK")
    val inprogress = new java.io.File(s"$dst/_GRAFT_SCALE_INPROGRESS")
    val outFiles = math.max(spark.sparkContext.defaultParallelism, 16)
    val blockMb = sys.env.getOrElse("SPARK_GRAFT_SCALE_BLOCK_MB", "8").trim.toLong
    val fp = fingerprint(spark, src, factor, layoutLine(outFiles, blockMb))
    if (done.exists()) {
      val recorded = try {
        new String(java.nio.file.Files.readAllBytes(done.toPath), "UTF-8")
      } catch { case scala.util.control.NonFatal(_) => "" }
      if (recorded == fp) return dst
      // sentinel from another source/factor/fixture generation: fall
      // through and re-derive (the OK marker licenses the delete below)
    }
    val dstDir = new java.io.File(dst)
    if (dstDir.exists()) {
      // only delete what a previous derivation provably wrote: fresh
      // dirs have the INPROGRESS marker from the moment anything else
      // exists, completed ones the OK sentinel. An unmarked non-empty
      // directory is somebody else's data — refuse (ADVICE r4 #1).
      val contents = Option(dstDir.list()).getOrElse(Array.empty[String])
      if (contents.nonEmpty && !done.exists() && !inprogress.exists())
        throw new IllegalStateException(
          s"graft: scale-up dst $dst exists, is non-empty, and carries no" +
            " _GRAFT_SCALE_OK/_GRAFT_SCALE_INPROGRESS marker — refusing to" +
            " delete data this derivation did not write. Point" +
            " SPARK_GRAFT_SF1_DIR at an empty or graft-derived directory.")
      // never recurse through a symlink: File.isDirectory is true for a
      // link-to-directory, and following it would delete the TARGET's
      // contents outside dst (ADVICE r5 #3) — delete the link itself
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(); ()
      }
      // markers LAST: listFiles order is unspecified, so deleting in
      // listing order could drop _GRAFT_SCALE_OK/_INPROGRESS before the
      // data files — a crash mid-delete would then leave an unmarked
      // non-empty dir the next run refuses to clean (ADVICE r5 #1)
      val markerNames = Set("_GRAFT_SCALE_OK", "_GRAFT_SCALE_INPROGRESS")
      val (markers, data) = Option(dstDir.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .partition(f => markerNames(f.getName))
      data.foreach(rm)
      markers.foreach(rm)
      dstDir.delete()
    }
    dstDir.mkdirs()
    // marker FIRST: from here on the directory is provably ours, so a
    // crashed partial derivation can be cleaned up by the next run
    java.nio.file.Files.write(inprogress.toPath, Array.empty[Byte])

    // one offset per keyed relationship, from the data itself
    def maxOf(t: String, c: String): Long =
      Tables.load(spark, src, t).agg(max(col(c))).head().getLong(0) + 1L

    val orderOff = maxOf("orders", "o_orderkey")
    val docOff = maxOf("documents", "doc_id")
    val vecOff = maxOf("embeddings", "vec_id")
    val evOff = maxOf("events", "event_id")

    /** table x replica cross product with per-replica key shifts.
      *
      * Layout (r18, guide §6): v1 inherited the SOURCE's partitioning —
      * a 1-file source table wrote 1-2 derived files with one ~22 MB
      * row group each, so every scan stage over the derived facts ran
      * on 1-2 tasks no matter the machine (a single task tokenized the
      * whole sf1 corpus). v2 spreads each fact table across the
      * deriving session's parallelism and caps row groups at
      * SPARK_GRAFT_SCALE_BLOCK_MB (default 8 MB — fixture-sized; a
      * production derivation at real volume should raise it toward the
      * 128 MB-1 GB band) so scans split even when another session with
      * fewer cores derived the fixture. Same rows, same values —
      * results never depend on file layout; only scan parallelism does. */
    val blockBytes = blockMb * 1024L * 1024L
    def replicate(t: String, key: String, sortKey: String = "")(
        shift: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val base = Tables.load(spark, src, t)
      val out = shift(
        base.withColumn("r", explode(sequence(lit(0L), lit(factor - 1L)))),
        col("r"))
      // hash-partition on the table's replicated key and sort within
      // each file: all rows of one key stay in one file (partial
      // aggregations keyed on it reduce before their exchange) and the
      // sorted runs keep parquet's delta/RLE encodings effective (a
      // round-robin spread measured 2.4x the bytes on lineitem).
      // `sortKey` overrides the in-file sort when readers prune on a
      // different column (events sort by ts: each file holds a hash
      // sample of all rows, so in-file ts order gives every row group a
      // tight ts min/max and time-predicate pruning keeps working).
      val sk = if (sortKey.nonEmpty) sortKey else key
      out.drop("r").repartition(outFiles, col(key)).sortWithinPartitions(sk)
        .write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", blockBytes)
        .parquet(s"$dst/$t.parquet")
    }

    replicate("orders", "o_orderkey")((d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + r * orderOff))
    replicate("lineitem", "l_orderkey")((d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + r * orderOff))
    replicate("documents", "doc_id")((d, r) =>
      d.withColumn("doc_id", col("doc_id") + r * docOff))
    replicate("embeddings", "vec_id")((d, r) =>
      d.withColumn("vec_id", col("vec_id") + r * vecOff))
    // a per-replica second of ts skew keeps replicated streams from
    // being row-for-row identical at the same instant while preserving
    // per-user session structure. events.ts is BIGINT nanos in older
    // fixture generations and timestamp[us] in newer ones (see
    // Tables.load) — shift by one second per replica either way.
    replicate("events", "event_id", sortKey = "ts")((d, r) =>
      d.withColumn("event_id", col("event_id") + r * evOff)
        .withColumn("ts", d.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => col("ts") + r * 1000000000L
          case _ => timestamp_add("SECOND", r, col("ts"))
        }))
    for (t <- dims)
      Tables.load(spark, src, t).write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
    java.nio.file.Files.write(done.toPath, fp.getBytes("UTF-8"))
    inprogress.delete()
    dst
  }
}
