package graft.functions

import java.nio.ByteBuffer
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Mergeable quantile sketch: a sparse base-2 log-histogram over
  * double values, HDR-histogram style (reference analog: the exact
  * percentile scans of `daily_kpis.py`-class jobs generalized to
  * mergeable summaries; same role as Dunning's t-digest but with a
  * deterministic, ORDER-INDEPENDENT state).
  *
  * Bucketing is pure bit arithmetic on the IEEE-754 representation:
  * bucket(v) = rawBits(v) >>> (52 - sub) — the sign, the full
  * exponent, and the top `sub` mantissa bits. That yields 2^sub
  * linear sub-buckets per octave, so a bucket spans relative width
  * 1/2^sub and the midpoint estimate is within 2^-(sub+1) relative
  * error (sub=5 → ≤ 1.6%) for any finite double, positive or
  * negative, across the full exponent range — no min/max
  * configuration, no clipping.
  *
  * Why this beats the obvious alternatives at 100 TB:
  *  - Merge is POINTWISE COUNT ADDITION — exact, lossless,
  *    commutative, associative. A sketch table rolled up over any
  *    regrouping is bit-identical to sketching the raw corpus
  *    (asserted by QSketchSpec). GK/t-digest merges lose precision
  *    per merge and depend on merge order — under Spark's
  *    nondeterministic partial merge order their output is not even
  *    stable run-to-run.
  *  - The buffer is one object on the ObjectHashAggregate path
  *    (the [[TopKAgg]] discipline, and that of Spark's single-buffer
  *    `hll_sketch_agg`, unlike `approx_count_distinct`'s ~m/32 buffer
  *    columns), with sparse size
  *    bounded by the number of OCCUPIED buckets — data spanning six
  *    orders of magnitude touches ~ 6·log2(10)·2^sub ≈ 640 buckets
  *    (~10 KiB serialized), independent of row count.
  *
  * Accuracy model: the error is entirely in the VALUE axis (≤ 2^-(sub+1)
  * relative), never in rank — ranks are exact because counts are
  * exact. Spark's builtin `percentile_approx` (GK) bounds rank error
  * instead; for long-tailed latency/length/price distributions a
  * relative-value bound is the more useful contract (the p999 of a
  * heavy tail has huge rank-neighborhood value spread).
  *
  * NaN and null are ignored (count-excluded), matching
  * `percentile_approx`. ±Inf participate and sort to the extremes.
  */
final class QSketchBuffer(val sub: Int) {
  val counts = new mutable.LongMap[Long]()

  def add(v: Double): Unit =
    if (!java.lang.Double.isNaN(v)) {
      // normalize -0.0 → +0.0 so both zeros share one bucket
      val key = java.lang.Double.doubleToRawLongBits(if (v == 0.0) 0.0 else v) >>> (52 - sub)
      val c = counts.getOrElse(key, 0L)
      counts.update(key, c + 1L)
    }

  def mergeFrom(other: QSketchBuffer): Unit =
    other.counts.foreachEntry { (k, c) =>
      counts.update(k, counts.getOrElse(k, 0L) + c)
    }

  def total: Long = {
    var n = 0L
    counts.foreachEntry((_, c) => n += c)
    n
  }

  def serialized: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * counts.size)
    bb.putInt(sub)
    bb.putInt(counts.size)
    // sorted keys: deterministic bytes (LongMap iteration order is
    // hash-order) so equal sketches are equal BLOBs — lets sketch
    // tables be compared/deduplicated byte-wise
    counts.keys.toArray.sorted.foreach { k =>
      bb.putLong(k); bb.putLong(counts(k))
    }
    bb.array()
  }
}

object QSketchBuffer {
  def deserialize(bytes: Array[Byte]): QSketchBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new QSketchBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val k = bb.getLong()
      val c = bb.getLong()
      buf.counts.update(k, buf.counts.getOrElse(k, 0L) + c)
      i += 1
    }
    buf
  }

  /** Midpoint of a bucket's value interval. Endpoints are recovered by
    * shifting the key back into bit position; for negative buckets the
    * interval is (-(hi), -(lo)] and the arithmetic midpoint is still
    * correct because both endpoints carry the sign. */
  private def midpoint(key: Long, sub: Int): Double = {
    if (key == 0L) return 0.0 // the exact-zero (+ smallest denormal) bucket
    val lo = java.lang.Double.longBitsToDouble(key << (52 - sub))
    val hi = java.lang.Double.longBitsToDouble((key + 1L) << (52 - sub))
    if (java.lang.Double.isInfinite(lo) || java.lang.Double.isInfinite(hi)) lo
    else (lo + hi) / 2.0
  }

  /** Nearest-rank quantile over a serialized sketch: the midpoint of
    * the bucket holding rank ceil(p·N) (rank ≥ 1). Called from
    * generated code by [[QSketchQuantile]]. */
  def quantileOf(bytes: Array[Byte], p: Double): Double = {
    val bb = ByteBuffer.wrap(bytes)
    val sub = bb.getInt()
    val n = bb.getInt()
    if (n == 0) return Double.NaN
    val keys = new Array[Long](n)
    val cnts = new Array[Long](n)
    var total = 0L
    var i = 0
    while (i < n) {
      keys(i) = bb.getLong(); cnts(i) = bb.getLong(); total += cnts(i); i += 1
    }
    // sort buckets by representative VALUE (negatives order inversely
    // to their raw keys, so raw-key order is wrong across the sign)
    val order = keys.indices.sortBy(j => midpoint(keys(j), sub))
    val target = math.max(1L, math.ceil(p * total).toLong)
    var seen = 0L
    var oi = 0
    while (oi < order.length) {
      val j = order(oi)
      seen += cnts(j)
      if (seen >= target) return midpoint(keys(j), sub)
      oi += 1
    }
    midpoint(keys(order.last), sub)
  }
}

/** Shared plumbing for the qsketch aggregate pair. */
abstract class QSketchAggBase extends TypedImperativeAggregate[QSketchBuffer] {
  def child: Expression
  def sub: Int

  // bounds validated at analysis time, never in the abstract
  // constructor (runs during executor-side deserialization with
  // subclass fields still 0)
  protected def subCheck: Option[TypeCheckResult] =
    if (sub < 1 || sub > 16)
      Some(TypeCheckResult.TypeCheckFailure(s"$prettyName requires 1 <= sub <= 16, got $sub"))
    else None

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): QSketchBuffer = new QSketchBuffer(sub)
  override def merge(a: QSketchBuffer, b: QSketchBuffer): QSketchBuffer = { a.mergeFrom(b); a }
  override def eval(buf: QSketchBuffer): Any = buf.serialized
  override def serialize(buf: QSketchBuffer): Array[Byte] = buf.serialized
  override def deserialize(bytes: Array[Byte]): QSketchBuffer =
    QSketchBuffer.deserialize(bytes)
}

/** `qsketch(col[, sub])` — build the mergeable log-histogram quantile
  * sketch of a numeric column (binary). Write one per partition key
  * into a sketch table; later percentile queries fold stored sketches
  * ([[QSketchUnionAgg]]) instead of rescanning raw data. */
case class QSketchAgg(
    child: Expression,
    sub: Int = 5,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends QSketchAggBase {

  override def prettyName: String = "qsketch"

  override def checkInputDataTypes(): TypeCheckResult =
    subCheck.getOrElse(child.dataType match {
      case DoubleType | FloatType | LongType | IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires double/float/bigint/int, got $other")
    })

  override def update(buf: QSketchBuffer, input: InternalRow): QSketchBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val d = v match {
        case d: java.lang.Double  => d.doubleValue()
        case f: java.lang.Float   => f.doubleValue()
        case l: java.lang.Long    => l.doubleValue()
        case i: java.lang.Integer => i.doubleValue()
      }
      buf.add(d)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): QSketchAgg =
    copy(child = newChildren.head)
}

/** `qsketch_union(sketchCol[, sub])` — pointwise-count fold of stored
  * sketches; EXACT (the rollup loses nothing vs sketching raw rows).
  * Emits the merged sketch so rollups compose; apply
  * [[QSketchQuantile]] for numbers. */
case class QSketchUnionAgg(
    child: Expression,
    sub: Int = 5,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends QSketchAggBase {

  override def prettyName: String = "qsketch_union"

  override def checkInputDataTypes(): TypeCheckResult =
    subCheck.getOrElse(child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a binary sketch column, got $other")
    })

  override def update(buf: QSketchBuffer, input: InternalRow): QSketchBuffer = {
    val v = child.eval(input)
    if (v != null) buf.mergeFrom(QSketchBuffer.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QSketchUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QSketchUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): QSketchUnionAgg =
    copy(child = newChildren.head)
}

/** `qsketch_quantile(sketch, p)` — nearest-rank quantile estimate of a
  * stored sketch (scalar, codegen'd): midpoint of the bucket holding
  * rank ceil(p·N). NaN on an empty sketch. */
case class QSketchQuantile(child: Expression, p: Double) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (p < 0.0 || p > 1.0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires 0 <= p <= 1, got $p")
    else child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a binary sketch column, got $other")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "qsketch_quantile"

  override def nullSafeEval(v: Any): Any =
    QSketchBuffer.quantileOf(v.asInstanceOf[Array[Byte]], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.QSketchBuffer.quantileOf($x, $p)")

  override protected def withNewChildInternal(newChild: Expression): QSketchQuantile =
    copy(child = newChild)
}
