package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Single-pass centroid-assignment kernels (the ShingleKernel /
 * TermCounts discipline applied to the ANN/SemDeDup assignment path).
 *
 * Why: the original assignment was an `aggregate()` HOF fold over a
 * plan-constant array of (cid, centroid) structs — per ROW, Spark's
 * higher-order-function interpreter walks a k-element expression tree
 * (one interpreted euclidean + struct alloc + comparison per
 * centroid). At the paper regime (k = n/width) that interpreted fold
 * IS the assignment cost. These kernels hold the codebook as a task
 * constant (one flat float matrix + a cid array, shipped via
 * addReferenceObj) and run the whole argmin in ONE compiled pass.
 *
 * Parity contract (every consumer is oracle-hash-gated): distances are
 * the exact [[EuclideanDistance]] fold — sequential i ascending,
 * f32 -> f64, sqrt at the end — compared with strict `<` over
 * centroids in ASCENDING cid order, so ties keep the lowest cid: the
 * same result, bit for bit, as the retired HOF fold and the oracle's
 * `row_number() OVER (ORDER BY dist, cid)`.
 */
object CentroidKernel {

  /** Euclidean distance of `vec` to centroid block `c` of `flat`
    * (identical fold to EuclideanDistance). */
  @inline private def distTo(vec: ArrayData, flat: Array[Float],
                             off: Int, d: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < d) {
      val df = vec.getFloat(i).toDouble - flat(off + i).toDouble
      s += df * df; i += 1
    }
    java.lang.Math.sqrt(s)
  }

  private def checkDim(vec: ArrayData, d: Int): Unit =
    if (vec.numElements() != d)
      throw new IllegalArgumentException(
        s"graft: vector dimension ${vec.numElements()} does not match centroid dimension $d")

  /** (cid, dist) of the nearest centroid. An EMPTY codebook yields
    * (-1, Infinity) — the retired HOF fold's initial accumulator —
    * rather than tripping the d=0 dimension check. */
  def nearest(vec: ArrayData, flat: Array[Float], cids: Array[Long], d: Int): InternalRow = {
    if (cids.length == 0)
      return new GenericInternalRow(Array[Any](-1L, Double.PositiveInfinity))
    checkDim(vec, d)
    var bestCid = -1L
    var bestDist = Double.PositiveInfinity
    var c = 0
    while (c < cids.length) {
      val dist = distTo(vec, flat, c * d, d)
      if (dist < bestDist) { bestDist = dist; bestCid = cids(c) }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestCid, bestDist))
  }

  /** The `nprobe` nearest centroid cids, by (dist, cid) ascending —
    * a bounded insertion-select over the codebook, one pass. */
  def probe(vec: ArrayData, flat: Array[Float], cids: Array[Long],
            d: Int, nprobe: Int): ArrayData = {
    if (cids.length == 0) return new GenericArrayData(Array.emptyLongArray)
    checkDim(vec, d)
    val n = math.min(nprobe, cids.length)
    val bd = new Array[Double](n)
    val bc = new Array[Long](n)
    var filled = 0
    var c = 0
    while (c < cids.length) {
      val dist = distTo(vec, flat, c * d, d)
      val cid = cids(c)
      // centroids arrive in ascending cid order, so on equal dists the
      // earlier (lower-cid) entry stays ahead — strict < on insert
      if (filled < n || dist < bd(n - 1)) {
        var i = math.min(filled, n - 1)
        while (i > 0 && dist < bd(i - 1)) { bd(i) = bd(i - 1); bc(i) = bc(i - 1); i -= 1 }
        bd(i) = dist; bc(i) = cid
        if (filled < n) filled += 1
      }
      c += 1
    }
    new GenericArrayData(bc.take(filled).asInstanceOf[Array[Long]])
  }

  /** Cosine of `vec` against EVERY reference vector, in ascending-id
    * order — the late-interaction (maxsim) scoring pass: one compiled
    * loop re-reading `vec` once (its norm is accumulated per reference
    * exactly as [[CosineSimilarity]] does, so each sim is bit-identical
    * to the per-pair kernel; nx is an independent accumulator, its
    * hoisting cannot change the bits). */
  def allCosines(vec: ArrayData, flat: Array[Float], n: Int, d: Int): ArrayData = {
    checkDim(vec, d)
    val out = new Array[Double](n)
    var nx = 0.0
    var i = 0
    while (i < d) { val xi = vec.getFloat(i).toDouble; nx += xi * xi; i += 1 }
    val snx = java.lang.Math.sqrt(nx)
    var c = 0
    while (c < n) {
      var dot = 0.0; var ny = 0.0
      val off = c * d
      i = 0
      while (i < d) {
        val xi = vec.getFloat(i).toDouble
        val yi = flat(off + i).toDouble
        dot += xi * yi; ny += yi * yi; i += 1
      }
      out(c) = dot / (snx * java.lang.Math.sqrt(ny))
      c += 1
    }
    // unboxed: GenericArrayData would box every element
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The euclidean twin of [[allCosines]]: the NEGATED distance of
    * `vec` to every reference vector ("higher = closer", as the
    * searches rank), each element bit-identical to
    * `-graft_euclidean(vec, ref_i)` (the [[EuclideanDistance]] fold).
    * The exact batched search's kernel on projected stores
    * ([[QueryBatch.score]]). */
  def allNegEuclideans(vec: ArrayData, flat: Array[Float], n: Int, d: Int): ArrayData = {
    checkDim(vec, d)
    val out = new Array[Double](n)
    var c = 0
    while (c < n) { out(c) = -distTo(vec, flat, c * d, d); c += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** (id, sim) of the MOST-cosine-similar reference vector — the
    * semantic-decontamination probe. Per candidate this is the exact
    * [[CosineSimilarity]] fold (sequential i, f32 -> f64 dot/nx/ny,
    * sqrt at the end), compared with strict `>` over candidates in
    * ASCENDING id order so ties keep the lowest id. An EMPTY reference
    * set yields (-1, -Infinity). */
  def maxCosine(vec: ArrayData, flat: Array[Float], ids: Array[Long], d: Int): InternalRow = {
    if (ids.length == 0)
      return new GenericInternalRow(Array[Any](-1L, Double.NegativeInfinity))
    checkDim(vec, d)
    var bestId = -1L
    var best = Double.NegativeInfinity
    var c = 0
    while (c < ids.length) {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      val off = c * d
      while (i < d) {
        val xi = vec.getFloat(i).toDouble
        val yi = flat(off + i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
      val sim = dot / (java.lang.Math.sqrt(nx) * java.lang.Math.sqrt(ny))
      if (sim > best) { best = sim; bestId = ids(c) }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestId, best))
  }
}

/** Shared validation for the centroid expressions: (vec array<float>,
  * cids array<bigint> literal, cents array<array<float>> literal). */
trait CentroidArgs { self: Expression =>
  def vec: Expression
  def cidsArg: Expression
  def centsArg: Expression

  protected def checkCentroidArgs(prettyName: String): TypeCheckResult =
    (vec.dataType, cidsArg.dataType, centsArg.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _), ArrayType(ArrayType(FloatType, _), _))
          if cidsArg.foldable && centsArg.foldable =>
        val cids = cidsArg.eval().asInstanceOf[ArrayData]
        val cents = centsArg.eval().asInstanceOf[ArrayData]
        if (cids == null || cents == null)
          TypeCheckResult.TypeCheckFailure(s"$prettyName codebook must not be null")
        else if (cids.numElements() != cents.numElements())
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName cids (${cids.numElements()}) and centroids (${cents.numElements()}) differ in length")
        else if (cents.numElements() > 0 && {
          val d0 = cents.getArray(0).numElements()
          (1 until cents.numElements()).exists(i => cents.getArray(i).numElements() != d0)
        })
          TypeCheckResult.TypeCheckFailure(s"$prettyName centroids have mixed dimensions")
        else TypeCheckResult.TypeCheckSuccess
      case (v, c, m) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, array<bigint> literal, array<array<float>> literal), got ($v, $c, $m)")
    }

  /** Codebook as task constants, sorted ascending by cid (the fold
    * order the tie-break contract requires). Built once at plan time
    * from the foldable literals. */
  @transient protected lazy val (flatCents: Array[Float], cidArr: Array[Long], dim: Int) = {
    val cids = cidsArg.eval().asInstanceOf[ArrayData].toLongArray()
    val cents = centsArg.eval().asInstanceOf[ArrayData]
    val pairs = cids.indices.map(i => (cids(i), cents.getArray(i).toFloatArray()))
      .sortBy(_._1).toArray
    val d = if (pairs.isEmpty) 0 else pairs(0)._2.length
    val flat = new Array[Float](pairs.length * d)
    var i = 0
    while (i < pairs.length) {
      System.arraycopy(pairs(i)._2, 0, flat, i * d, d); i += 1
    }
    (flat, pairs.map(_._1), d)
  }
}

/** graft_nearest_centroid(vec, cids, cents) ->
  * STRUCT<cid: BIGINT, dist: DOUBLE> — the argmin assignment as one
  * compiled pass over the task-constant codebook. */
case class NearestCentroidExpr(vec: Expression, cidsArg: Expression, centsArg: Expression)
    extends TernaryExpression with CentroidArgs {
  override def first: Expression = vec
  override def second: Expression = cidsArg
  override def third: Expression = centsArg
  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def prettyName: String = "graft_nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult =
    checkCentroidArgs(prettyName)

  protected override def nullSafeEval(v: Any, c: Any, m: Any): Any =
    CentroidKernel.nearest(v.asInstanceOf[ArrayData], flatCents, cidArr, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("graftCents", flatCents, "float[]")
    val cidRef = ctx.addReferenceObj("graftCids", cidArr, "long[]")
    nullSafeCodeGen(ctx, ev, (v, _, _) =>
      s"${ev.value} = graft.functions.CentroidKernel.nearest($v, $flatRef, $cidRef, $dim);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, cidsArg = s, centsArg = t)
}

/** graft_probe_centroids(vec, cids, cents, nprobe) -> ARRAY<BIGINT> —
  * the nprobe nearest centroid cids by (dist, cid), one compiled
  * bounded-selection pass (the per-row coarse probe of hierarchical
  * SemDeDup / IVF assignment at corpus scale). */
case class ProbeCentroidsExpr(vec: Expression, cidsArg: Expression,
                              centsArg: Expression, nprobeArg: Expression)
    extends QuaternaryExpression with CentroidArgs {
  override def first: Expression = vec
  override def second: Expression = cidsArg
  override def third: Expression = centsArg
  override def fourth: Expression = nprobeArg
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_probe_centroids"

  override def checkInputDataTypes(): TypeCheckResult =
    checkCentroidArgs(prettyName) match {
      case TypeCheckResult.TypeCheckSuccess =>
        (nprobeArg.dataType, nprobeArg.foldable) match {
          case (IntegerType, true) => nprobeArg.eval() match {
            case n: Integer if n >= 1 => TypeCheckResult.TypeCheckSuccess
            case n => TypeCheckResult.TypeCheckFailure(
              s"$prettyName needs nprobe >= 1, got $n")
          }
          case (t, _) => TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects an int literal nprobe, got $t")
        }
      case f => f
    }

  @transient private lazy val nprobe: Int = nprobeArg.eval().asInstanceOf[Int]

  protected override def nullSafeEval(v: Any, c: Any, m: Any, n: Any): Any =
    CentroidKernel.probe(v.asInstanceOf[ArrayData], flatCents, cidArr, dim, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("graftCents", flatCents, "float[]")
    val cidRef = ctx.addReferenceObj("graftCids", cidArr, "long[]")
    nullSafeCodeGen(ctx, ev, (v, _, _, _) =>
      s"${ev.value} = graft.functions.CentroidKernel.probe($v, $flatRef, $cidRef, $dim, $nprobe);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(vec = f, cidsArg = s, centsArg = t, nprobeArg = q)
}

/** graft_max_cosine(vec, ids, refs) -> STRUCT<bid: BIGINT, sim: DOUBLE>
  * — the nearest reference vector by COSINE over a task-constant
  * reference matrix (semantic decontamination's per-row probe: no
  * join, no shuffle, one compiled pass). Ties keep the lowest id. */
case class MaxCosineExpr(vec: Expression, cidsArg: Expression, centsArg: Expression)
    extends TernaryExpression with CentroidArgs {
  override def first: Expression = vec
  override def second: Expression = cidsArg
  override def third: Expression = centsArg
  override def dataType: DataType = StructType(Seq(
    StructField("bid", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))
  override def prettyName: String = "graft_max_cosine"

  override def checkInputDataTypes(): TypeCheckResult =
    checkCentroidArgs(prettyName)

  protected override def nullSafeEval(v: Any, c: Any, m: Any): Any =
    CentroidKernel.maxCosine(v.asInstanceOf[ArrayData], flatCents, cidArr, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("graftRefs", flatCents, "float[]")
    val idRef = ctx.addReferenceObj("graftRefIds", cidArr, "long[]")
    nullSafeCodeGen(ctx, ev, (v, _, _) =>
      s"${ev.value} = graft.functions.CentroidKernel.maxCosine($v, $flatRef, $idRef, $dim);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, cidsArg = s, centsArg = t)
}

/** graft_all_cosines(vec, ids, refs) -> ARRAY<DOUBLE> — cosine of `vec`
  * against every reference vector, in ASCENDING id order (position i is
  * the sim against the i-th lowest id). One compiled pass; each element
  * is bit-identical to graft_cosine(vec, ref_i). The maxsim scoring
  * head: replaces a broadcast-nested-loop row explosion (|refs| rows +
  * |refs| re-computations of vec's norm per corpus chunk) with a single
  * projection. */
case class AllCosinesExpr(vec: Expression, cidsArg: Expression, centsArg: Expression)
    extends TernaryExpression with CentroidArgs {
  override def first: Expression = vec
  override def second: Expression = cidsArg
  override def third: Expression = centsArg
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_all_cosines"

  override def checkInputDataTypes(): TypeCheckResult =
    checkCentroidArgs(prettyName)

  protected override def nullSafeEval(v: Any, c: Any, m: Any): Any =
    CentroidKernel.allCosines(v.asInstanceOf[ArrayData], flatCents, cidArr.length, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("graftRefs", flatCents, "float[]")
    nullSafeCodeGen(ctx, ev, (v, _, _) =>
      s"${ev.value} = graft.functions.CentroidKernel.allCosines($v, $flatRef, ${cidArr.length}, $dim);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, cidsArg = s, centsArg = t)
}
