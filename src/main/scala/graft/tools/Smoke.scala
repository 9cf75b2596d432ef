package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Quick local smoke: schema reads + kernel sanity. Not part of the
  * driver contract; used during development (`sbt "runMain graft.tools.Smoke"`). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local()
    val dir = "/root/testdata/sf0.001"
    for (t <- Seq("lineitem", "orders", "events", "embeddings", "documents")) {
      val df = graft.core.Tables.load(spark, dir, t)
      println(s"== $t rows=${df.count()}")
      df.printSchema()
    }
    // kernel check: cosine([1,2,3],[3,2,1]) = 0.714285...
    val row = spark.sql(
      """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)),
        |                    array(CAST(3.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(1.0 AS FLOAT))) c""".stripMargin).head()
    println(s"cosine=[${row.getDouble(0)}] (expect ~0.7142857)")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val packed = emb.select(col("vec_id"),
      GraftFunctions.packedByteSum(GraftFunctions.pack(col("embedding"))).as("qs"))
    packed.orderBy("vec_id").show(3)
    // codegen check for the scored scan
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1)
    val scored = emb.withColumn("sim", GraftFunctions.cosine(col("embedding"), GraftFunctions.vecLit(q)))
      .orderBy(desc("sim")).limit(5)
    scored.explain("formatted")
    scored.show()
    spark.stop()
  }
}
