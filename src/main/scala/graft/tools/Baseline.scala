package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.VectorStore

/** Measures the BASELINE.md M6 protocol numbers (ingest throughput,
  * storage bytes/vector, query latencies) at sf0.1 on a [[graft.core.Session.local]] session.
  * `sbt "runMain graft.tools.Baseline"` */
object Baseline {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local()

    def timed[T](what: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[baseline] $what: $s%.2f s")
      (r, s)
    }

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nBase = emb.count()

    // scale the vector table up ~100x for a meaningful ingest number
    val repl = emb.crossJoin(spark.range(100).select(col("id").as("rep")))
      .select(
        concat(col("vec_id"), lit("_"), col("rep")).as("id"),
        col("embedding").as("vector"),
        lit("content").as("content"),
        array(lit("bulk"), (col("rep") % 8).cast("string")).as("tags"))
    val n = nBase * 100

    val root = Files.createTempDirectory("graft-baseline").toString
    val store = new VectorStore(spark, root)
    val (_, tIngest) = timed(s"quantized ingest of $n vectors")(
      store.insert(repl, quantize = true))
    println(f"[baseline] ingest throughput: ${n / tIngest}%.0f vectors/s")

    val bytes = {
      def size(f: java.io.File): Long =
        if (f.isFile) f.length else Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
      size(new java.io.File(s"$root/data"))
    }
    println(f"[baseline] storage: ${bytes.toDouble / n}%.0f bytes/vector (parquet, packed+raw)")

    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1)
    val (_, tQ1) = timed("single top-10 cosine query (quantized store)")(
      store.search(q, k = 10, quantized = true).collect())
    val (_, tQ2) = timed("single top-10 cosine query, tag-pruned")(
      store.search(q, tags = Seq("bulk"), k = 10, quantized = true).collect())

    val (_, tB) = timed("batched 8-query top-5 (multiquery heap)")(
      SparkEntry_queriesBatch(spark, sf))
    println(f"[baseline] batched q/s: ${8 / tB}%.1f")

    val (_, tPca) = timed("PCA fit(k=8) + full reprojection") {
      val model = graft.operators.Pca.fit(emb, "embedding", 8)
      val proj = graft.operators.Pca.projector(spark, model)
      emb.select(proj(col("embedding")).as("p")).count()
    }

    store.clear()
    println(f"[baseline] summary: ingest=${n / tIngest}%.0f v/s bytes/vec=${bytes.toDouble / n}%.0f " +
      f"q_lat=${tQ1}%.2fs q_lat_pruned=${tQ2}%.2fs batch8=${tB}%.2fs pca=${tPca}%.2fs")
    spark.stop()
  }

  private def SparkEntry_queriesBatch(spark: SparkSession, sf: String): Unit = {
    graft.SparkEntry.queries("knn_multiquery_heap")(spark, sf).collect()
    ()
  }
}
