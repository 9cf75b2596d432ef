package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, SimilaritySearch}

/** Stage-timing probe for semanticDedup: times codebook collection,
  * argmin assignment, the rank-blocked bucket join, inline-cosine pair
  * generation, components, and the full operator — the breakdown that
  * drove the r9 shape decisions (carry vectors through the bucket join;
  * lazy-checkpoint the assignment).
  *
  * Usage: runMain graft.tools.SemProbe <sfDir> [targetClusterWidth]
  */
object SemProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.core.Session.local()
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val width = if (args.length > 1) args(1).toLong else Dedup.SemTargetClusterWidth
    val k = math.max(16L, math.min(4096L, n / width)).toInt
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[semprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    (1 to 2).foreach { rep =>
      println(s"--- rep $rep (n=$n k=$k) ---")
      val cent = emb.where(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val codebook = time("collectCodebook")(SimilaritySearch.collectCodebook(cent))
      val asg = emb.select(col("vec_id"), col("embedding"),
        SimilaritySearch.nearestCentroidStruct(col("embedding"), codebook).as("a"))
        .select(col("vec_id"), col("embedding"),
          col("a").getField("cid").as("cid"), col("a").getField("dist").as("cdist"))
      time("argmin assignment count")(asg.count())
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cid").orderBy("vec_id")
      val ranked = asg.select("cid", "vec_id", "embedding")
        .withColumn("rk", row_number().over(w))
        .withColumn("blk", floor((col("rk") - 1) / 2048))
      val l = ranked.select(col("cid"), col("blk"),
        col("vec_id").as("v1"), col("rk").as("rk1"), col("embedding").as("e1"))
      val rHome = ranked.select(col("cid"), col("blk"),
        col("vec_id").as("v2"), col("rk").as("rk2"), col("embedding").as("e2"))
      val rGuest = rHome.withColumn("blk", col("blk") - 1).where(col("blk") >= 0)
      val cand = l.join(rHome.unionByName(rGuest), Seq("cid", "blk"))
        .where(col("rk2") > col("rk1") && col("rk2") <= col("rk1") + 2048
          && col("v1") =!= col("v2"))
      time("bucket join candidate count")(println("cand=" + cand.count()))
      import graft.functions.GraftFunctions.cosine
      val pairs = cand.where(cosine(col("e1"), col("e2")) >= 0.45)
        .select(col("v1").as("d1"), col("v2").as("d2")).distinct()
      time("pairs (inline cosine + distinct)")(println("pairs=" + pairs.count()))
      time("components")(println("comp=" + Dedup.components(pairs).count()))
      time("full operator")(Dedup.semanticDedup(emb, nCentroids = k).count())
    }
    spark.stop()
  }
}
