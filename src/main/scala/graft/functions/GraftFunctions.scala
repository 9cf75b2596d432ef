package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Registration + typed Column facade for the graft vector kernels.
 *
 * The expressions are registered in the session FunctionRegistry so they
 * are usable both from SQL (`SELECT graft_cosine(a, b)`) and from the
 * Column API via `call_function` — avoiding any private Column(expr)
 * constructors. [[register]] is the only way the functions and the
 * optimizer rules attach to a session: [[graft.core.Session.local]]
 * calls it once, and the `graft.operators` entry points call it for
 * sessions graft did not build. Registration is idempotent.
 */
object GraftFunctions {

  /** Every SQL function graft registers, by name. */
  private[graft] val builders: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression)] =
    Seq(
      "graft_cosine" -> (e => CosineSimilarity(e(0), e(1))),
      "graft_euclidean" -> (e => EuclideanDistance(e(0), e(1))),
      "graft_dot" -> (e => DotProduct(e(0), e(1))),
      "graft_pack" -> (e => PackVector(e(0))),
      "graft_unpack" -> (e => UnpackVector(e(0))),
      "graft_packed_byte_sum" -> (e => PackedByteSum(e(0))),
      "graft_hash_counts" -> (e => HashEmbedCounts(e(0), e(1))),
      "graft_hash_embed" -> (e => HashEmbed(e(0), e(1))),
      "graft_hash_counts_tokens" -> (e => HashEmbedCountsTokens(e(0), e(1))),
      "graft_hash_embed_tokens" -> (e => HashEmbedTokens(e(0), e(1))),
      "graft_cosine_f32" -> (e => CosineSimilarityF32(e(0), e(1))),
      "graft_euclidean_f32" -> (e => EuclideanDistanceF32(e(0), e(1))),
      "graft_shingle_codes" -> (e => ShingleBigramCodes(e(0))),
      "graft_ngram_codes" -> (e => WordNgramCodes(e(0), e(1))),
      "graft_term_counts" -> (e => TermCounts(e(0), e(1))),
      "graft_nearest_centroid" -> (e => NearestCentroidExpr(e(0), e(1), e(2))),
      "graft_probe_centroids" -> (e => ProbeCentroidsExpr(e(0), e(1), e(2), e(3))),
      "graft_cms_estimate" -> (e => CmsEstimateExpr(e(0), e(1))),
      "graft_max_cosine" -> (e => MaxCosineExpr(e(0), e(1), e(2))),
      "graft_all_cosines" -> (e => AllCosinesExpr(e(0), e(1), e(2))),
      "graft_bloom_contains" -> (e => BloomContainsExpr(e(0), e(1))),
      "graft_del_variants" -> (e => DeletionVariants(e(0), e(1))),
      "graft_pairs" -> (e => SortedPairs(e(0))),
      // cap must be a foldable int literal (plan-construction constant)
      "graft_pairs_capped" -> (e => SortedPairs(e(0),
        e(1).eval(null).asInstanceOf[Number].intValue())),
      "graft_pairs_packed" -> (e => SortedPairsPacked(e(0))),
      "graft_chars" -> (e => CharSymbols(e(0))),
      "graft_adj_pairs" -> (e => AdjacentPairs(e(0))),
      "graft_merge_pair" -> (e => MergeAdjacentPair(e(0), e(1), e(2))),
      "graft_greedy_segment" -> (e => GreedySegment(e(0), e(1))),
      "graft_optimal_segment_count" -> (e => OptimalSegmentCount(e(0), e(1))),
      "graft_fence" -> (e => Fence(e(0))),
      "graft_band_keys" -> (e => BandKeysExpr(e(0), e(1), e(2)))
    )

  /** Every optimizer rule graft adds, in application order. */
  private val rules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    Seq(FuseQuantizedKernels, graft.plans.TagSupersetPruning, graft.plans.TermBucketPruning)

  /** Register all graft functions + optimizer rules on the session
    * (idempotent). */
  def register(spark: SparkSession): Unit = synchronized {
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
    }
    val missing = rules.filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty) spark.experimental.extraOptimizations ++= missing
  }

  // ---- Column API (requires register(spark) once per session) ----

  /** Cast helper: accept array<float>/array<double>/array<int> columns. */
  def asVec(c: Column): Column = c.cast("array<float>")

  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", asVec(a), asVec(b))

  def euclidean(a: Column, b: Column): Column =
    call_function("graft_euclidean", asVec(a), asVec(b))

  /** f32-parity kernels: bit-compatible with the reference's f32
    * arithmetic (src/similarity.rs:10-43); the default kernels
    * accumulate in f64 (documented divergence). */
  def cosineF32(a: Column, b: Column): Column =
    call_function("graft_cosine_f32", asVec(a), asVec(b))

  def euclideanF32(a: Column, b: Column): Column =
    call_function("graft_euclidean_f32", asVec(a), asVec(b))

  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", asVec(a), asVec(b))

  def pack(a: Column): Column = call_function("graft_pack", asVec(a))

  def unpack(a: Column): Column = call_function("graft_unpack", a)

  def packedByteSum(a: Column): Column = call_function("graft_packed_byte_sum", a)

  /** A float-array literal column for a query vector. */
  def vecLit(v: Seq[Float]): Column =
    array(v.map(x => lit(x)): _*).cast("array<float>")

  /** CMS point estimate of `key` against a driver-collected sketch. */
  def cmsEstimate(key: Column, sketch: Array[Byte]): Column =
    call_function("graft_cms_estimate", key, lit(sketch))

  /** Bloom membership probe of `key` against a driver-built filter. */
  def bloomContains(key: Column, bloom: Array[Byte]): Column =
    call_function("graft_bloom_contains", key, lit(bloom))

  /** FastSS deletion-neighborhood blocking keys of `key` (d in {1,2}). */
  def delVariants(key: Column, d: Int): Column =
    call_function("graft_del_variants", key, lit(d))

  /** Index-ordered (i < j) pairs of a long-array column as
    * array<struct<a,b>>, rank-distance-capped at
    * [[SortedPairs.DefaultCap]] — ALL pairs for any basket up to
    * cap + 1 wide, a bounded chain for degenerate hot baskets (see
    * [[PairKernel.sortedPairs]]). Truncation is never silent: the
    * kernel counts ([[PairKernel.truncatedBaskets]]) and WARNs in the
    * executor log without any opt-in (ADVICE r15 #1); pair
    * [[basketOverflow]] with any capped aggregate for the exact
    * distributed count. */
  def pairs(items: Column): Column = call_function("graft_pairs", items)

  /** [[pairs]] with each pair packed `a << 32 | b` into ONE BIGINT —
    * the shuffle-key form (one primitive long per pair; decode with
    * `shiftright(p, 32)` / `p & 0xffffffff` after the aggregate).
    * Raises on item ids outside unsigned 32 bits. */
  def pairsPacked(items: Column): Column =
    call_function("graft_pairs_packed", items)

  /** Identity pushdown fence (see [[Fence]]): wraps an EXPENSIVE
    * derived column so a Filter right above its projection cannot be
    * pushed through it (which would inline — i.e. re-run — the full
    * expression tree inside the Filter). Zero runtime cost; requires
    * [[register]] on the session first. */
  def fence(c: Column): Column = call_function("graft_fence", c)

  /** [[pairs]] with an explicit rank-distance cap. */
  def pairs(items: Column, cap: Int): Column =
    call_function("graft_pairs_capped", items, lit(cap))

  /** Count of baskets wider than cap + 1 — the LOUD overflow signal
    * for [[pairs]]' rank-distance cap (the [[graft.operators.Dedup
    * .bandedBucketOverflow]] pattern): zero on organic corpora,
    * nonzero exactly when some capped basket stopped emitting
    * beyond-cap pairs. */
  def basketOverflow(baskets: org.apache.spark.sql.DataFrame,
                     itemsCol: String,
                     cap: Int = SortedPairs.DefaultCap): Long =
    baskets.where(size(col(itemsCol)) > cap + 1).count()

  /** Single-character symbol array of a word (BPE initial state). */
  def charSymbols(word: Column): Column = call_function("graft_chars", word)

  /** Adjacent (a, b) symbol pairs of a symbol array — see [[AdjacentPairs]]. */
  def adjPairs(syms: Column): Column = call_function("graft_adj_pairs", syms)

  /** One left-to-right non-overlapping BPE merge pass of (a, b) -> a+b. */
  def mergePair(syms: Column, a: String, b: String): Column =
    call_function("graft_merge_pair", syms, lit(a), lit(b))

  /** Greedy longest-match segmentation against a constant piece vocab. */
  def greedySegment(word: Column, pieces: Seq[String]): Column =
    call_function("graft_greedy_segment", word, array(pieces.map(lit): _*))

  /** Minimum-token segmentation count (DP) against a constant vocab. */
  def optimalSegmentCount(word: Column, pieces: Seq[String]): Column =
    call_function("graft_optimal_segment_count", word, array(pieces.map(lit): _*))
}

/**
 * Optimizer rule: fuse cosine/euclidean(unpack(packed), q) into the
 * single-pass [[CosineOnPacked]] / [[EuclideanOnPacked]] kernels — the
 * quantized-search hot path (including the projected+quantized
 * `searchAuto` euclidean path, reference src/db.rs:233-255) then scores
 * straight off the packed bytes with no intermediate array.
 * Bit-identical results (each element passes the same FLOAT rounding).
 */
object FuseQuantizedKernels
    extends org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(UnpackVector(p), q) => CosineOnPacked(p, q)
      case CosineSimilarity(q, UnpackVector(p)) => CosineOnPacked(p, q)
      case EuclideanDistance(UnpackVector(p), q) => EuclideanOnPacked(p, q)
      case EuclideanDistance(q, UnpackVector(p)) => EuclideanOnPacked(p, q)
    }
}
