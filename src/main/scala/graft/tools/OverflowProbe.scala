package graft.tools

import org.apache.spark.sql.functions._

/**
 * Banded-LSH bucket-width diagnostic: per-(band, key) member counts of
 * the embeddings table under a fixture dir — max width and the number
 * of buckets past the rank-block cap, i.e. whether
 * [[graft.operators.Dedup.embeddingNearDupsLsh]]'s cap engages there.
 * Measured r8: sf0.1 max ~250 (cap never engages), sf1 max 2,440 with
 * 10 buckets past 2,048 (mild engagement; lsh recall_sf1 held at
 * 0.95) — which is why ScaleCheck's incremental==full dup-graph check
 * runs on a subset sized for the uncapped regime.
 *
 * Usage: runMain graft.tools.OverflowProbe [dir] [cap]
 */
object OverflowProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val cap = if (args.length > 1) args(1).toInt
              else graft.operators.Dedup.EmbLshBucketCap
    val spark = graft.core.Session.local()
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val widths = graft.operators.SimilaritySearch.bandedKeys(
      emb.select(col("vec_id"), col("embedding")), "embedding",
      d, graft.OracleSql.EmbLshBands, graft.OracleSql.EmbLshRows)
      .groupBy("band", "key").count()
    val r = widths.agg(max("count"),
      expr(s"count(if(count > $cap, 1, null))")).head()
    println(s"""{"probe":"lsh_buckets","dir":"$dir","cap":$cap,"max_width":${r.getLong(0)},"over_cap":${r.getLong(1)}}""")
    spark.stop()
  }
}
