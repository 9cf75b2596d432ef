package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.operators.VectorStore

/** What one workload's timed phase produced. One client issues every
  * call and waits for its reply (a closed loop). Each workload times
  * four kinds of call:
  *  - queries: top-k requests whose results the client collects, on the
  *    workload's main path;
  *  - alt queries: top-k requests on its second path (a search right
  *    after a write, or an ANN batch);
  *  - jobs: bulk calls that process `jobItems` rows or documents;
  *  - maintenance: the one-off store work of the run (compaction and
  *    vacuum, or the ANN index build). */
final class Outcome {
  val queries = ArrayBuffer[Double]()
  val altQueries = ArrayBuffer[Double]()
  val jobs = ArrayBuffer[Double]()
  var jobItems = 0L
  var maintenanceS = 0.0
  var recall = Double.NaN
  var bytesPerUserByte = Double.NaN
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  /** The workload's own metrics, by the names the README tables use. */
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  /** Per-layer counters the workload measures itself (storage, ANN,
    * kernels, pipeline); the tracer fills the rest. */
  val layers = mutable.LinkedHashMap[String, Double]()

  /** JVM and codegen counters when the timed phase ended. */
  var countersAtEnd: Map[String, Double] = Map.empty

  /** End the timed phase. */
  def stop(): Unit = countersAtEnd = Counters.now()

  def check(what: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p => failed += 1; if (failures.size < 20) failures += s"$what: $p" }
  }
}

/** Inputs and seeded store built by one set-up; `run` times it. */
trait Prepared {
  /** Seconds spent generating the inputs and seeding the store. */
  def setupParts: (Double, Double)
  /** Run each path `run` times once, so the timed phase does not pay
    * first-use planning, code generation and class loading. */
  def warmUp(): Unit
  def run(trace: Trace, seconds: Double): Outcome
}

trait Workload {
  def name: String
  /** Generate the inputs from `seed` and seed a store under `dir`. */
  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared
}

/** Process-wide counters the traced run reports as deltas. */
object Counters {
  import scala.jdk.CollectionConverters._
  def now(): Map[String, Double] = Map(
    "jvm.gc_ms" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble,
    "jvm.jit_ms" -> java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    "codegen.compiles" ->
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" ->
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)
}

object Workload {
  val all: Seq[Workload] = Seq(ServeMixed, BatchPipeline)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, ms(t0))
  }

  val StoreSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false)),
    StructField("content", StringType),
    StructField("tags", ArrayType(StringType, containsNull = false))))

  def frame(spark: SparkSession, rows: Seq[Gen.VRow]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map(r => Row(r.id.toString, r.vector.toSeq, r.content, r.tags)).asJava, StoreSchema)
  }

  val QuerySchema: StructType = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false))))

  def queryFrame(spark: SparkSession, qs: Seq[Array[Float]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      qs.zipWithIndex.map { case (q, i) => Row(i.toLong, q.toSeq) }.asJava, QuerySchema)
  }

  /** (id, similarity) pairs of a `search` result. Store ids are the
    * decimal strings of the generated row ids: the ANN index build
    * requires string ids. */
  def hits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.map(r => (r.getAs[String]("id").toLong, r.getAs[Double]("similarity"))).toSeq

  /** Files and bytes under a directory, recursively. */
  def listing(spark: SparkSession, dir: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = mutable.HashMap[String, Long]()
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) { val s = it.next(); out(s.getPath.toString) = s.getLen }
    }
    out.toMap
  }

  /** Live data files and bytes, from the store's own `stats()` view. */
  def liveStorage(store: VectorStore): (Long, Long) = {
    val r = store.stats().agg(sum("n_files"), sum("bytes")).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Manifest delta files pending under the current base version. */
  def deltaFiles(spark: SparkSession, store: VectorStore): Int =
    store.versions.lastOption.map { v =>
      listing(spark, s"${store.root}/manifest_delta/v$v").keys.count(_.endsWith(".parquet"))
    }.getOrElse(0)

  /** Queries scored in one [[kernelProbe]] projection. A projection of
    * 64 query columns measured some 20x fewer pairs per second than one
    * of 32 (0.18 against 4.2 M pairs/s on a 4-core VM), so a wide probe
    * would time the projection's width, not the kernels. */
  val ProbeQueries = 16

  /** Kernel-only throughput over a cached frame of the store's vectors,
    * replicated `copies` times: million (row, query) pairs per second
    * through the float cosine and the packed-code cosine, scoring every
    * row against `qs` in one projection so the kernels, not job
    * scheduling, dominate the timed action. */
  def kernelProbe(spark: SparkSession, store: VectorStore, qs: Seq[Array[Float]],
                  out: Outcome, copies: Int = 8, reps: Int = 5): Unit = {
    val cached = store.table().select("vector", "packed")
      .crossJoin(spark.range(copies)).drop("id").cache()
    val pairs = cached.count().toDouble * qs.size
    def rate(vec: org.apache.spark.sql.Column): Double = {
      val df = cached.select(qs.zipWithIndex.map { case (q, i) =>
        GraftFunctions.cosine(vec, GraftFunctions.vecLit(q.toSeq)).as(s"s$i")
      }: _*)
      df.write.format("noop").mode("overwrite").save()
      val ts = (1 to reps).map { _ =>
        Workload.timed(df.write.format("noop").mode("overwrite").save())._2
      }
      pairs / (Stats.median(ts) / 1000.0) / 1e6
    }
    out.layers("kernel.cosine_mpairs_per_s") = rate(col("vector"))
    out.layers("kernel.packed_cosine_mpairs_per_s") = rate(GraftFunctions.unpack(col("packed")))
    cached.unpersist(blocking = true)
  }
}
