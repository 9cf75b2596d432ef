package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Single-pass sign-LSH banding kernel (the CentroidKernel / TermCounts
 * discipline applied to the banded-key derivation).
 *
 * Why: `SimilaritySearch.bandedKeys` derived every band key with one
 * interpreted `aggregate(zip_with(vec, plane))` HOF fold PER PLANE —
 * bands x rows interpreted expression-tree walks per vector, each
 * allocating a zipped products array, dominating the corpus side of
 * every banded LSH join (the ann_lsh_join sf1 profile). This kernel
 * holds the plane matrix as a task constant (one flat double[] shipped
 * via addReferenceObj) and emits ALL band keys in ONE compiled pass
 * over the vector.
 *
 * Parity contract (every consumer is oracle-hash-gated): per plane the
 * dot is the exact `aggregate(zip_with(...))` fold — sequential j
 * ascending, f32 -> f64 per element, products summed left to right from
 * 0.0 — and bit i of band b's key is set iff
 * dot(vec, plane[b*rows + i]) > 0.0 under Spark's comparison, exactly
 * the retired `when(planeDot > 0, 1L << i)` column: a NaN dot is greater
 * than 0.0 (bit set), and a null element nulls every dot of the vector
 * (no bit set). The oracle's SQL mirror
 * (OracleSql.signBucketSqlFromPlanes) is unchanged and recomputes the
 * same fold from scratch.
 */
object LshKernel {

  /** All `bands` keys of `vec` in one pass; planes are flattened
    * [plane0 | plane1 | ...], `bands * rows` planes of dimension d. */
  def bandKeys(vec: ArrayData, flat: Array[Double], d: Int,
               bands: Int, rows: Int): ArrayData = {
    if (vec.numElements() != d)
      throw new IllegalArgumentException(
        s"graft: vector dimension ${vec.numElements()} does not match plane dimension $d")
    val keys = new Array[Long](bands)
    var j = 0
    while (j < d) { if (vec.isNullAt(j)) return new GenericArrayData(keys); j += 1 }
    var p = 0 // plane index == b * rows + i
    var b = 0
    while (b < bands) {
      var key = 0L
      var i = 0
      while (i < rows) {
        var s = 0.0
        j = 0
        val off = p * d
        while (j < d) { s += vec.getFloat(j).toDouble * flat(off + j); j += 1 }
        if (s > 0.0 || java.lang.Double.isNaN(s)) key |= 1L << i
        i += 1; p += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }
}

/** graft_band_keys(vec, planes, rows) -> ARRAY<BIGINT> — one key per
  * band, where `planes` is an array<array<double>> literal of
  * bands*rows hyperplanes and bit i of band b's key is the sign of
  * dot(vec, plane[b*rows+i]) — a NaN dot sets it, a null element
  * clears every bit ([[LshKernel]]). NULL vec yields NULL (callers that need
  * the legacy hash-null-to-zero behaviour coalesce explicitly). */
case class BandKeysExpr(vec: Expression, planesArg: Expression, rowsArg: Expression)
    extends TernaryExpression {
  override def first: Expression = vec
  override def second: Expression = planesArg
  override def third: Expression = rowsArg
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_band_keys"

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, planesArg.dataType, rowsArg.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _), IntegerType)
          if planesArg.foldable && rowsArg.foldable =>
        val ps = planesArg.eval().asInstanceOf[ArrayData]
        val rows = rowsArg.eval().asInstanceOf[Int]
        if (ps == null || ps.numElements() == 0)
          TypeCheckResult.TypeCheckFailure(s"$prettyName planes must be a non-empty literal")
        // a key is one BIGINT, one bit per row: 64 rows use every bit
        else if (rows < 1 || rows > 64)
          TypeCheckResult.TypeCheckFailure(s"$prettyName needs 1 <= rows <= 64, got $rows")
        else if (ps.numElements() % rows != 0)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName plane count ${ps.numElements()} is not a multiple of rows $rows")
        else if ({
          val d0 = ps.getArray(0).numElements()
          (1 until ps.numElements()).exists(i => ps.getArray(i).numElements() != d0)
        })
          TypeCheckResult.TypeCheckFailure(s"$prettyName planes have mixed dimensions")
        else TypeCheckResult.TypeCheckSuccess
      case (v, p, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, array<array<double>> literal, int literal), got ($v, $p, $r)")
    }

  /** Plane matrix as a task constant, built once at plan time from the
    * foldable literal. */
  @transient private lazy val (flatPlanes: Array[Double], dim: Int, bands: Int, rows: Int) = {
    val ps = planesArg.eval().asInstanceOf[ArrayData]
    val r = rowsArg.eval().asInstanceOf[Int]
    val n = ps.numElements()
    val d = ps.getArray(0).numElements()
    val flat = new Array[Double](n * d)
    var i = 0
    while (i < n) {
      System.arraycopy(ps.getArray(i).toDoubleArray(), 0, flat, i * d, d); i += 1
    }
    (flat, d, n / r, r)
  }

  protected override def nullSafeEval(v: Any, p: Any, r: Any): Any =
    LshKernel.bandKeys(v.asInstanceOf[ArrayData], flatPlanes, dim, bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("graftPlanes", flatPlanes, "double[]")
    nullSafeCodeGen(ctx, ev, (v, _, _) =>
      s"${ev.value} = graft.functions.LshKernel.bandKeys($v, $flatRef, $dim, $bands, $rows);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, planesArg = s, rowsArg = t)
}
