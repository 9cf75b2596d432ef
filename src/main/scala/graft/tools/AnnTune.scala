package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{SimilaritySearch => SS, TopK}

/** ANN tuning harness: decomposes recall@10 loss into its stages over a
  * real embeddings table — IVF probe recall (exact scoring within the
  * probed lists, across centroid counts x nprobe) and full-corpus ADC
  * recall (fitted PQ books, across refineK) — so a recall regression is
  * attributable to the stage that lost it instead of guessed at.
  *
  * Usage: runMain graft.tools.AnnTune [sfDir] [nQ]
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nQ = if (args.length > 1) args(1).toInt else 8
    val spark = graft.core.Session.local()
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val queries = emb.where(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val exact = TopK.exactJoin(queries, corpus, 10).select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qvs = queries.orderBy("qid").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    def recall(got: Set[(Long, Long)]): Double =
      got.intersect(exact).size.toDouble / exact.size

    for (nC <- Seq(16, 64)) {
      val cb = SS.collectCodebook(SS.kmeansCentroids(emb.select(col("embedding")), nC))
      val asg = corpus.withColumn("lid", SS.nearestCentroid(col("cvec"), cb)).cache()
      asg.count()
      for (np <- Seq(2, 4, 8, nC * 3 / 4)) {
        val got = qvs.flatMap { case (qid, qv) =>
          val probes = SS.probeCids(cb, qv, np)
          val sc = asg.where(col("lid").isin(probes: _*))
            .withColumn("sim",
              graft.functions.GraftFunctions.cosine(col("cvec"),
                graft.functions.GraftFunctions.vecLit(qv)))
          TopK.topKRanked(sc, 10, Seq(desc("sim"), asc("cid"))).select("cid")
            .collect().map(r => (qid, r.getLong(0)))
        }.toSet
        println(f"[anntune] probe nC=$nC np=$np recall=${recall(got)}%.3f")
      }
      asg.unpersist()
    }

    val d = qvs.head._2.length
    for (nCodes <- Seq(16, 256); rk <- Seq(40, 200)) {
      val books = (0 until 8).map { s =>
        SS.collectCodebook(SS.kmeansCentroids(
          emb.select(slice(col("embedding"), s * (d / 8) + 1, d / 8).as("embedding")),
          nCodes, 42L + s))
      }
      val got = qvs.flatMap { case (qid, qv) =>
        SS.pqSearchVec(emb.select(col("vec_id"), col("embedding")), qv, books, 10,
            refineK = rk)
          .select("vec_id").collect().map(r => (qid, r.getLong(0)))
      }.toSet
      println(f"[anntune] adc books=8x$nCodes refineK=$rk recall=${recall(got)}%.3f")
    }
    spark.stop()
  }
}
