package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField}

/**
 * Pluggable text -> embedding hook (reference `add`/`search` embed
 * documents with a fastembed model at insert/query time,
 * src/db.rs:101-114, 197-213). Model inference is an integration point,
 * not an engine operator; the engine-side contract is a DataFrame
 * transform appending an ARRAY<FLOAT> column.
 *
 * Two built-ins:
 *  - [[HashingEmbedder]]: feature-hashing bag-of-words as a native
 *    codegen'd expression (see [[HashEmbedKernel]]) — deterministic,
 *    oracle-reproducible, evaluated once per row.
 *  - [[ModelEmbedder]]: the `mapPartitions` + lazy per-executor model
 *    singleton shape a real ONNX-runtime embedder needs. The container
 *    has no model runtime, so the bundled "model" is a deterministic
 *    stand-in (same math as the hashing kernel) — the lifecycle,
 *    batching, and schema plumbing are the real thing.
 *
 * Swapping in a real model: set `GRAFT_ONNX_MODEL` to an .onnx file
 * path and replace [[ModelSession.FakeModel]] with an `OrtSession`
 * wrapper exposing the same `embedBatch(Array[String]) ->
 * Array[Array[Float]]` signature — everything else (per-executor
 * singleton, batched mapPartitions, schema) carries over unchanged.
 * An env-var-gated integration test (OperatorSpec "ONNX swap-in
 * seam") pins that contract: it loads the runtime reflectively and
 * builds a session from `GRAFT_ONNX_MODEL`, and is skipped (canceled)
 * where the runtime is absent, as in this container.
 */
trait Embedder {
  def dim: Int

  /** Append `outCol` (ARRAY<FLOAT>, l2-normalized) derived from `textCol`. */
  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame
}

/** Expression-backed hashing embedder. Requires GraftFunctions.register
  * once per session (graft.core.Session.local does it). */
case class HashingEmbedder(dim: Int = 64) extends Embedder {

  /** Integer term counts per hashed dimension (ARRAY<LONG>). */
  def counts(text: Column): Column =
    call_function("graft_hash_counts", text, lit(dim))

  /** L2-normalized embedding as a single Column expression. */
  def embed(text: Column): Column =
    call_function("graft_hash_embed", text, lit(dim))

  /** Token-array siblings (normalized [a-z0-9]+ tokens — the
    * Dedup.tokens contract): identical values to counts/embed over the
    * space-joined token text, minus the join allocation and the second
    * tokenize pass (see HashEmbedKernel.countsTokens). */
  def countsTokens(toks: Column): Column =
    call_function("graft_hash_counts_tokens", toks, lit(dim))

  def embedTokens(toks: Column): Column =
    call_function("graft_hash_embed_tokens", toks, lit(dim))

  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, embed(col(textCol)))
}

/**
 * Per-executor model session cache. A real implementation would hold an
 * ONNX Runtime `OrtSession` here; sessions are expensive to build and
 * not serializable, so the executor-side lazy singleton (keyed by model
 * config) is the canonical Spark integration shape. `@transient lazy`
 * on a broadcast won't do: the session must be created AFTER
 * deserialization, once per JVM, not once per task.
 */
object ModelSession {
  /** Stand-in for an ONNX session: deterministic batch text encoder. */
  final class FakeModel(val dim: Int) {
    val instanceId: Long = System.identityHashCode(this).toLong
    def embedBatch(texts: Array[String]): Array[Array[Float]] =
      texts.map { t =>
        val arr = HashEmbedKernel
          .embed(org.apache.spark.unsafe.types.UTF8String.fromString(t), dim)
        arr.toFloatArray()
      }
  }

  @volatile private var cache: Map[Int, FakeModel] = Map.empty

  /** One model instance per (JVM, dim) — i.e. per executor in cluster
    * mode. Thread-safe double-checked init (tasks share the instance). */
  def get(dim: Int): FakeModel = {
    val hit = cache.get(dim)
    if (hit.isDefined) hit.get
    else synchronized {
      cache.getOrElse(dim, {
        val m = new FakeModel(dim)
        cache = cache + (dim -> m)
        m
      })
    }
  }
}

/**
 * Model-backed embedder: batches rows through a per-executor model
 * singleton inside `mapPartitions`. Batch size bounds peak memory (a
 * real transformer session scores a batch at a time); the iterator is
 * consumed lazily so a partition never materializes in full.
 */
case class ModelEmbedder(dim: Int = 64, batchSize: Int = 64) extends Embedder {

  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val schema = df.schema.add(StructField(outCol, ArrayType(FloatType, containsNull = false)))
    val textIdx = df.schema.fieldIndex(textCol)
    val d = dim
    val bs = batchSize
    df.mapPartitions { rows =>
      val model = ModelSession.get(d) // lazy per-executor singleton
      rows.grouped(bs).flatMap { batch =>
        val texts = batch.map(r => Option(r.getString(textIdx)).getOrElse("")).toArray
        val embs = model.embedBatch(texts)
        batch.iterator.zip(embs.iterator).map { case (r, e) =>
          Row.fromSeq(r.toSeq :+ e.toSeq)
        }
      }
    }(Encoders.row(schema))
  }
}
