package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Tables

/** Stage-timing probe for the relational sf1 heavyweights (q3,
  * pipeline_curate): isolates scan, partial-agg, join, and downstream
  * costs so a suite-level regression can be pinned to a plan stage.
  *
  * Usage: runMain graft.tools.QProbe <sfDir>
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.core.Session.local()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[qprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    (1 to 2).foreach { rep =>
      println(s"--- rep $rep ---")
      val l = Tables.load(spark, dir, "lineitem")
      val o = Tables.load(spark, dir, "orders")
      time("lineitem scan (2 cols)")(
        l.select("l_extendedprice", "l_discount").agg(sum("l_extendedprice")).head())
      val agg = l.groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      time("groupBy(l_orderkey) agg")(agg.agg(sum("revenue")).head())
      time("agg + semi join + top10")(
        agg.join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
          .orderBy(desc("revenue"), asc("l_orderkey")).limit(10).collect())
      time("agg + SHUFFLE_HASH semi + top10")(
        agg.join(o.select(col("o_orderkey")).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
          .orderBy(desc("revenue"), asc("l_orderkey")).limit(10).collect())
      if (rep == 1) {
        val q = agg.join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
          .orderBy(desc("revenue"), asc("l_orderkey")).limit(10)
        q.collect()
        println("[qprobe] q3 executed plan:\n" +
          q.queryExecution.executedPlan.toString.linesIterator
            .filter(l => l.contains("Join") || l.contains("Sort") || l.contains("Exchange"))
            .mkString("\n"))
      }
      val docs = Tables.load(spark, dir, "documents")
      if (rep == 1) {
        val p = graft.operators.TextAnalysis.stats(docs)
          .select("doc_id", "pred_lang", "quality")
          .queryExecution.optimizedPlan.toString
        println("[qprobe] stats optimized plan:\n" + p.take(3000))
      }
      time("text stats (lang+quality FORCED)")(
        graft.operators.TextAnalysis.stats(docs)
          .select("doc_id", "pred_lang", "quality")
          .agg(sum("quality"), count(when(col("pred_lang") === "en", 1))).head())
      time("quality only FORCED")(
        docs.select(graft.operators.TextAnalysis.qualityScore(col("text")).as("q"))
          .agg(sum("q")).head())
      time("langId only FORCED")(
        docs.select(graft.operators.TextAnalysis.langId(col("text")).as("pl"))
          .agg(count(when(col("pl") === "en", 1))).head())
      val pairs = graft.operators.Dedup.minhashNearDups(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("minhash pairs (persist)")(println("pairs=" + pairs.count()))
      val comp = time("components build")(graft.operators.Dedup.components(pairs))
      time("components count")(println("comp=" + comp.count()))
      time("curate (cached pairs)")(println("curated=" +
        graft.operators.Curation.curate(docs, dupPairs = Some(pairs)).count()))
      time("curate again")(println("curated=" +
        graft.operators.Curation.curate(docs, dupPairs = Some(pairs)).count()))
      pairs.unpersist(blocking = true)
    }
    spark.stop()
  }
}
