package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Stage-timing probe for pipeline_web (VERDICT r16 next #6: the row
  * drifted 0.97 -> 1.8 s sf0.1 warm across r15/r16 with an unchanged
  * plan shape — attribute the drift to a stage: the .warc.gz framing
  * read, the HTML extraction kernel, or the stats/langid gate).
  *
  * Usage: runMain graft.tools.WebProbe <sfDir> [warcFixtureDir]
  */
object WebProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.core.Session.local()
    def time(label: String)(f: => Long): Unit =
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = f
        println(f"[web] $label rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n)")
      }
    val fixture =
      if (args.length > 1) args(1)
      else graft.SparkEntry.warcFixture(spark, dir, "html")
    val glob = fixture + "/*"
    time("warc read only")(graft.sources.Warc.readClean(spark, glob).count())
    time("warc read + uri regex + htmlExtract") {
      graft.sources.Warc.readClean(spark, glob).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        TextAnalysis.htmlExtract(col("content")).as("text")).count()
    }
    val docs = graft.sources.Warc.readClean(spark, glob).select(
      regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
        .cast("long").as("doc_id"),
      TextAnalysis.htmlExtract(col("content")).as("text"))
    println(s"[web] read partitions: ${docs.rdd.getNumPartitions}")
    time("stats only (no orderBy)")(TextAnalysis.stats(docs).count())
    time("stats + filter + orderBy")(
      TextAnalysis.stats(docs)
        .where(col("pred_lang") === "en" && col("quality") >= 0.5)
        .select(col("doc_id"), col("pred_lang"),
          round(col("quality"), 4).as("quality_r"))
        .orderBy("doc_id").count())
    time("full pipeline_web")(
      graft.SparkEntry.queries("pipeline_web")(spark, dir).count())
    spark.stop()
  }
}
