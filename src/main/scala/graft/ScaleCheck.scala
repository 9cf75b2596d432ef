package graft

import org.apache.spark.sql.functions._

/**
 * Scale validation for the distributed component branch (VERDICT r3
 * next #3): at the derived sf1 scale (ScaleUp replication — every doc
 * becomes a 10-clique of exact near-dups, so the pair graph is ~500x
 * the sf0.1 one), `dedup_clusters_stars` (large-star/small-star
 * iteration, short-circuit disabled) must produce EXACTLY the rows of
 * `dedup_clusters` (driver union-find at this graph size). Equality is
 * checked with one order-independent (count, bit_xor of row hashes)
 * fingerprint per side — the same gate the driver's hash compare
 * applies, minus DuckDB (the recursive CTE oracle at this pair count
 * is not a tractable single query; the sf0.01 CORRECTNESS row pins
 * both branches to DuckDB ground truth).
 *
 * Prints one JSON line; exits nonzero on mismatch.
 */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local()
    val dir = ScaleUp.ensure(spark, srcDir,
      sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1"))
    def fp(name: String): (Long, Long) = {
      val r = SparkEntry.queries(name)(spark, dir)
        .agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id, component))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val t0 = System.nanoTime()
    val uf = fp("dedup_clusters")
    val t1 = System.nanoTime()
    val stars = fp("dedup_clusters_stars")
    val t2 = System.nanoTime()
    val ok = uf == stars && uf._1 > 0
    println(s"""{"check":"sf1_components","rows":${uf._1},"match":$ok,"union_find_sec":${(t1 - t0) / 1e9},"stars_sec":${(t2 - t1) / 1e9},"dir":"$dir"}""")

    // Store lifecycle at scale (VERDICT r5 next #4): insert in batches,
    // compact, vacuum, search over the sf1 embeddings. Vacuum must
    // reclaim real bytes (the generations compaction superseded) and
    // change no result: row count, top-k, and tag-filtered search all
    // hold after the sweep.
    val t3 = System.nanoTime()
    val storeRoot = java.nio.file.Files.createTempDirectory("graft-sf1-store").toString
    val store = new graft.operators.VectorStore(spark, storeRoot)
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").cast("string").as("id"),
        col("embedding").as("vector"),
        concat(lit("doc "), col("vec_id")).as("content"),
        array(concat(lit("shard"), pmod(col("vec_id"), lit(16)))).as("tags"))
    val nRows = emb.count()
    for (b <- 0 until 3)
      store.insert(emb.where(pmod(col("id").cast("long"), lit(3)) === b))
    def du(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(du).sum
      else f.length()
    store.compact()
    val beforeVac = du(new java.io.File(storeRoot))
    store.vacuum(0L)
    val reclaimed = beforeVac - du(new java.io.File(storeRoot))
    val qv = graft.core.Tables.load(spark, dir, "embeddings")
      .where(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
    val lifecycleOk = reclaimed > 0L &&
      store.table().count() == nRows &&
      store.search(qv, k = 5).count() == 5 &&
      store.search(qv, tags = Seq("shard3"), k = 5).count() == 5
    val t4 = System.nanoTime()
    println(s"""{"check":"sf1_store_lifecycle","rows":$nRows,"reclaimed_bytes":$reclaimed,"match":$lifecycleOk,"sec":${(t4 - t3) / 1e9}}""")

    // IVF-PQ recall at the validation scale (VERDICT r6 next #3/#5):
    // fitted per-subspace books over the sf1 store, ADC preselect +
    // exact refine vs the exact scan. The replicated corpus makes every
    // exact top-10 a clique of identical vectors — identical vectors
    // share a cid list, so this is the clique-robustness floor; the
    // organic-quality number is the sf0.1 spec in VectorStoreSpec.
    val t5 = System.nanoTime()
    store.buildAnnIndex(16)
    val qvs = graft.core.Tables.load(spark, dir, "embeddings")
      .where(col("vec_id") >= 1 && col("vec_id") <= 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0))
    val recalls = qvs.map { q =>
      val exact = store.search(q, k = 10).select("id")
        .collect().map(_.getString(0)).toSet
      val pq = store.searchAnnPq(q, k = 10, nprobe = 8, refineK = 80)
        .select("id").collect().map(_.getString(0)).toSet
      (exact intersect pq).size / 10.0
    }
    val meanRecall = recalls.sum / recalls.length
    val recallOk = meanRecall >= 0.8
    val t6 = System.nanoTime()
    println(s"""{"check":"sf1_ann_pq_recall","recall":$meanRecall,"match":$recallOk,"sec":${(t6 - t5) / 1e9}}""")

    store.clear()

    // Incremental dup-graph maintenance at validation scale (VERDICT
    // r7 next #2): build the committed pair graph on 90% of a 10k-row
    // sf1 slice, append the remaining 10%, updateDupGraph, and require
    // the committed pairs to EQUAL a from-scratch rebuild on the full
    // slice (order-independent fingerprint). The slice is sized for
    // the UNCAPPED banding regime (full sf1's hottest bucket is 2,440
    // > EmbLshBucketCap, where the full rebuild's rank-chaining and
    // the incremental path legitimately diverge — tools.OverflowProbe
    // measures this); the check asserts zero over-cap buckets so it
    // can never silently drift into the wrong regime.
    val t7 = System.nanoTime()
    val slice = graft.core.Tables.load(spark, dir, "embeddings")
      .where(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id").cast("string").as("id"),
        col("embedding").as("vector"),
        concat(lit("doc "), col("vec_id")).as("content"),
        array(lit("dup")).as("tags"))
    val overCap = graft.operators.Dedup.bandedBucketOverflow(
      slice.select(col("id").as("vec_id"), col("vector").as("embedding")), 64)
    val newRows = slice.where(pmod(col("id").cast("long"), lit(10)) === 0)
    val incRoot = java.nio.file.Files.createTempDirectory("graft-sf1-dup").toString
    val incStore = new graft.operators.VectorStore(spark, incRoot)
    incStore.insert(slice.where(pmod(col("id").cast("long"), lit(10)) =!= 0))
    incStore.buildDupGraph()
    incStore.insert(newRows)
    incStore.updateDupGraph(newRows)
    def dupFp(s: graft.operators.VectorStore): (Long, Long) = {
      val r = s.nearDups().agg(count(lit(1)),
        expr("bit_xor(xxhash64(id1, id2, sim_r))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val incFp = dupFp(incStore)
    val fullRoot = java.nio.file.Files.createTempDirectory("graft-sf1-dupfull").toString
    val fullStore = new graft.operators.VectorStore(spark, fullRoot)
    fullStore.insert(slice)
    fullStore.buildDupGraph()
    val fullFp = dupFp(fullStore)
    val dupOk = overCap == 0 && incFp == fullFp && incFp._1 > 0
    val t8 = System.nanoTime()
    println(s"""{"check":"sf1_incremental_dup_graph","pairs":${incFp._1},"over_cap_buckets":$overCap,"match":$dupOk,"sec":${(t8 - t7) / 1e9}}""")
    incStore.clear(); fullStore.clear()

    spark.stop()
    if (!ok || !lifecycleOk || !recallOk || !dupOk) sys.exit(1)
  }
}
