package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.graft.ExpressionColumns
import org.apache.spark.sql.types._

/**
 * A batch of query vectors held OUTSIDE the plan's expression tree: the
 * row-major (slots x dim) float matrix the scoring expression reads,
 * each slot's heap (queries sharing a qid share one heap) and each
 * heap's qid, shipped to the tasks once through a broadcast. A literal
 * batch would put |Q| x dim floats into every analysis,
 * canonicalization and `explain` of the plan; the handle prints as one
 * fixed word, whatever the batch size.
 */
final class QueryBatch private (
    /** Score with the negated euclidean distance instead of the cosine. */
    val euclidean: Boolean,
    val dim: Int,
    /** The qid column's type: each heap's output key. */
    val keyType: DataType,
    data: Broadcast[QueryBatch.Data]) extends Serializable {
  // read once per deserialized handle: Broadcast.value locks on every call
  @transient private lazy val d = data.value
  def flat: Array[Float] = d.flat
  def slots: Int = d.heapOf.length
  def heapOf: Array[Int] = d.heapOf
  /** Catalyst value of each heap's qid. */
  def keys: Array[Any] = d.keys
  override def toString: String = "QueryBatch"
}

object QueryBatch {
  private[graft] final case class Data(flat: Array[Float], heapOf: Array[Int], keys: Array[Any])

  /** The batch of driver rows (qid, qv: array<float>). A null-vector
    * query scores nothing and is left out; rows sharing a qid share one
    * heap, as they share one window partition. Every vector must have
    * one dimension, and `storeDim` when it is known: a mismatch fails
    * here, on the driver, with the kernels' message. */
  def apply(spark: SparkSession, rows: Seq[Row], qidType: DataType,
            metric: String, storeDim: Option[Int]): QueryBatch = {
    require(metric == "cosine" || metric == "euclidean", s"graft: batch metric $metric")
    val live = rows.filterNot(_.isNullAt(1))
    val vecs = live.map(_.getSeq[Float](1))
    val dim = vecs.headOption.map(_.length).orElse(storeDim).getOrElse(0)
    vecs.find(v => v.length != dim || storeDim.exists(_ != v.length)).foreach { v =>
      throw new IllegalArgumentException(
        s"graft: vector dimension mismatch (query ${v.length} vs store ${storeDim.getOrElse(dim)})")
    }
    val flat = new Array[Float](vecs.length * dim)
    vecs.zipWithIndex.foreach { case (v, s) => v.copyToArray(flat, s * dim) }
    val qids = live.map(_.get(0))
    val keys = qids.distinct
    val heap = keys.zipWithIndex.toMap
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(qidType)
    new QueryBatch(metric == "euclidean", dim, qidType, spark.sparkContext.broadcast(
      Data(flat, qids.map(heap).toArray, keys.map(toCatalyst).toArray)))
  }

  /** Every slot's similarity to `vec`: [[CentroidKernel.allCosines]]
    * or [[CentroidKernel.allNegEuclideans]], each element bit-identical
    * to the per-pair kernel. */
  def score(vec: ArrayData, b: QueryBatch): ArrayData = {
    if (b.slots == 0) return ArrayData.toArrayData(Array.emptyDoubleArray)
    if (vec.numElements() != b.dim)
      throw new IllegalArgumentException("graft: vector dimension mismatch")
    if (b.euclidean) CentroidKernel.allNegEuclideans(vec, b.flat, b.slots, b.dim)
    else CentroidKernel.allCosines(vec, b.flat, b.slots, b.dim)
  }

  /** The similarities of `vec` to every query of `batch`, by slot. */
  def scores(vec: Column, batch: QueryBatch): Column =
    ExpressionColumns.column(BatchScores(ExpressionColumns.expression(GraftFunctions.asVec(vec)), batch))
}

/** `vec`'s similarity to every query of a [[QueryBatch]], slot order:
  * ARRAY<DOUBLE>, null for a null `vec`: one kernel pass per row. */
case class BatchScores(vec: Expression, batch: QueryBatch) extends UnaryExpression {
  override def child: Expression = vec
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_batch_scores"

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<float>, got $t")
  }

  protected override def nullSafeEval(v: Any): Any =
    QueryBatch.score(v.asInstanceOf[ArrayData], batch)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBatch", batch, classOf[QueryBatch].getName)
    defineCodeGen(ctx, ev, v => s"graft.functions.QueryBatch.score($v, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(vec = c)
}

/**
 * Bounded per-query top-k as ONE aggregate: Q heaps of at most k
 * (similarity, id, payload) entries, ordered by similarity descending
 * (Spark's double order, so 0.0 ties -0.0) then id ascending (the id
 * column's own order, nulls first) — the order of `row_number() OVER
 * (PARTITION BY qid ORDER BY similarity DESC, id ASC)`. Each input row
 * carries `sims`, one similarity per slot; slot s offers the row to heap
 * `batch.heapOf(s)`, or to the one heap when there is no batch (the
 * grouped form: one aggregate per group key). NaN and null similarities
 * are dropped. The `payload` columns are evaluated and copied only for
 * a row some heap admits, so only the winners carry them, and the
 * partial aggregate ships at most Q x k entries per partition to the
 * merge.
 *
 * Output: ARRAY<STRUCT<[qid,] rank, similarity, id, payload...>>, each
 * heap's entries in rank order; `qid` (a batch's heap key) only with a
 * batch, each payload field named as its column.
 */
case class TopKHeaps(
    sims: Expression,
    id: Expression,
    payload: Seq[Expression],
    k: Int,
    batch: Option[QueryBatch] = None,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeaps.Heaps] {

  override def children: Seq[Expression] = sims +: id +: payload
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk_heaps"

  override def dataType: DataType = ArrayType(StructType(
    batch.map(b => StructField("qid", b.keyType)).toSeq ++ Seq(
      StructField("rank", LongType, nullable = false),
      StructField("similarity", DoubleType, nullable = false),
      StructField("id", id.dataType, id.nullable)) ++
    payload.zipWithIndex.map { case (p, i) =>
      StructField(p match { case n: NamedExpression => n.name; case _ => s"payload$i" },
        p.dataType, p.nullable)
    }), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = sims.dataType match {
    case ArrayType(DoubleType, _) => TypeUtils.checkForOrderingExpr(id.dataType, prettyName)
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<double> scores, got $t")
  }

  @transient private lazy val idOrdering = TypeUtils.getInterpretedOrdering(id.dataType)
  @transient private lazy val heapOf: Array[Int] = batch.map(_.heapOf).orNull
  private def heaps: Int = batch.fold(1)(_.keys.length)

  override def createAggregationBuffer(): TopKHeaps.Heaps =
    new TopKHeaps.Heaps(heaps, k, idOrdering)

  override def update(buf: TopKHeaps.Heaps, row: InternalRow): TopKHeaps.Heaps = {
    val a = sims.eval(row)
    if (a == null) return buf
    val arr = a.asInstanceOf[ArrayData]
    val key = id.eval(row)
    var kept: TopKHeaps.Kept = null
    var s = 0
    while (s < arr.numElements()) {
      if (!arr.isNullAt(s)) {
        val x = arr.getDouble(s)
        val h = if (heapOf == null) 0 else heapOf(s)
        if (!x.isNaN && buf.admits(h, x, key)) {
          if (kept == null) kept = new TopKHeaps.Kept(InternalRow.copyValue(key),
            payload.map(p => InternalRow.copyValue(p.eval(row))).toArray[Any])
          buf.put(h, x, kept)
        }
      }
      s += 1
    }
    buf
  }

  override def merge(buf: TopKHeaps.Heaps, other: TopKHeaps.Heaps): TopKHeaps.Heaps = {
    for (h <- 0 until other.n; (x, r) <- other.entries(h) if buf.admits(h, x, r.id))
      buf.put(h, x, r)
    buf
  }

  override def eval(buf: TopKHeaps.Heaps): Any = {
    val out = ArrayBuffer[InternalRow]()
    val keys = batch.map(_.keys)
    for (h <- 0 until buf.n) {
      buf.entries(h).sortWith((a, b) => buf.after(b._1, b._2.id, a._1, a._2.id)).zipWithIndex.foreach {
        case ((x, r), rank) =>
          out += InternalRow.fromSeq(keys.map(_(h)).toSeq ++ Seq(rank + 1L, x, r.id) ++ r.payload)
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** The partial buffer's wire format: each kept row ONCE, as an unsafe
    * row (id, payload...), however many heaps keep it; then per
    * non-empty heap its index, entry count and (similarity, row number)
    * entries. */
  @transient private lazy val rowTypes = (id.dataType +: payload.map(_.dataType)).toArray
  @transient private lazy val toRow = UnsafeProjection.create(rowTypes)

  override def serialize(buf: TopKHeaps.Heaps): Array[Byte] = {
    val number = new java.util.IdentityHashMap[TopKHeaps.Kept, Integer]()
    val rows = ArrayBuffer[TopKHeaps.Kept]()
    for (h <- 0 until buf.n; (_, r) <- buf.entries(h) if !number.containsKey(r)) {
      number.put(r, rows.length); rows += r
    }
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(rows.length)
    for (r <- rows) {
      val e = toRow(InternalRow.fromSeq(r.id +: r.payload.toSeq)).getBytes
      out.writeInt(e.length); out.write(e)
    }
    for (h <- 0 until buf.n; es = buf.entries(h) if es.nonEmpty) {
      out.writeInt(h); out.writeInt(es.length)
      for ((x, r) <- es) { out.writeDouble(x); out.writeInt(number.get(r)) }
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKHeaps.Heaps = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val rows = Array.fill(in.readInt()) {
      // each row keeps its own bytes, so its values may point into them
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val e = new UnsafeRow(rowTypes.length)
      e.pointTo(b, b.length)
      def at(o: Int) = if (e.isNullAt(o)) null else e.get(o, rowTypes(o))
      new TopKHeaps.Kept(at(0), (1 until rowTypes.length).map(at).toArray[Any])
    }
    val buf = createAggregationBuffer()
    while (in.available() > 0) {
      val h = in.readInt()
      for (_ <- 0 until in.readInt()) {
        val x = in.readDouble()
        buf.put(h, x, rows(in.readInt()))
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKHeaps = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKHeaps = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKHeaps =
    copy(sims = c(0), id = c(1), payload = c.drop(2))
}

object TopKHeaps {

  /** The aggregate as a column (see [[TopKHeaps]]). */
  def column(sims: Column, id: Column, payload: Seq[Column], k: Int,
             batch: Option[QueryBatch] = None): Column = {
    import ExpressionColumns.expression
    ExpressionColumns.column(TopKHeaps(expression(sims), expression(id), payload.map(expression), k, batch)
      .toAggregateExpression())
  }

  /** A row some heap admitted: its id and payload values, copied once
    * however many heaps keep it. */
  final class Kept(val id: Any, val payload: Array[Any])

  /** `n` bounded binary heaps of (similarity, kept row). Each holds at
    * most `k` entries with its WORST one at the root, so one comparison
    * against the root decides whether a row enters. */
  final class Heaps(val n: Int, k: Int, idOrdering: Ordering[Any]) {
    private val sim = new Array[Array[Double]](n)
    private val rows = new Array[Array[Kept]](n)
    private val size = new Array[Int](n)

    private def compareIds(a: Any, b: Any): Int =
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else idOrdering.compare(a, b)

    /** (x, i) ranks after (y, j): lower similarity, or a tie and a greater id. */
    def after(x: Double, i: Any, y: Double, j: Any): Boolean = {
      val c = SQLOrderingUtil.compareDoubles(x, y)
      c < 0 || (c == 0 && compareIds(i, j) > 0)
    }
    private def after(h: Int, a: Int, b: Int): Boolean =
      after(sim(h)(a), rows(h)(a).id, sim(h)(b), rows(h)(b).id)

    /** Whether heap `h` would keep a row of similarity `x` and id `i`. */
    def admits(h: Int, x: Double, i: Any): Boolean =
      k > 0 && (size(h) < k || after(sim(h)(0), rows(h)(0).id, x, i))

    /** Put an entry [[admits]] accepted. */
    def put(h: Int, x: Double, r: Kept): Unit =
      if (size(h) < k) {
        val e = size(h)
        if (sim(h) == null || e == sim(h).length) grow(h)
        sim(h)(e) = x; rows(h)(e) = r
        size(h) = e + 1
        var c = e
        while (c > 0 && after(h, c, (c - 1) / 2)) { swap(h, c, (c - 1) / 2); c = (c - 1) / 2 }
      } else {
        sim(h)(0) = x; rows(h)(0) = r
        var c = 0
        var done = false
        while (!done) {
          val l = 2 * c + 1
          var w = c
          if (l < k && after(h, l, w)) w = l
          if (l + 1 < k && after(h, l + 1, w)) w = l + 1
          if (w == c) done = true else { swap(h, c, w); c = w }
        }
      }

    /** Capacity grows by doubling up to k, so a large k costs only the
      * entries a heap holds. */
    private def grow(h: Int): Unit = {
      val cap = if (sim(h) == null) math.min(k, 16) else math.min(k, 2 * sim(h).length)
      val (x, r) = (new Array[Double](cap), new Array[Kept](cap))
      if (sim(h) != null) {
        Array.copy(sim(h), 0, x, 0, size(h))
        Array.copy(rows(h), 0, r, 0, size(h))
      }
      sim(h) = x; rows(h) = r
    }

    private def swap(h: Int, a: Int, b: Int): Unit = {
      val x = sim(h)(a); sim(h)(a) = sim(h)(b); sim(h)(b) = x
      val r = rows(h)(a); rows(h)(a) = rows(h)(b); rows(h)(b) = r
    }

    /** Heap `h`'s entries, in heap order. */
    def entries(h: Int): Seq[(Double, Kept)] = (0 until size(h)).map(e => (sim(h)(e), rows(h)(e)))
  }
}
