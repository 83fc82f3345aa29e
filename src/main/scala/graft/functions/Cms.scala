package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan 2005): a depth×width
  * counter matrix; each update increments one cell per row, a point
  * query reads the MINIMUM over rows. Estimates never undercount, and
  * overcount by ≤ εN with probability 1−δ for width = ⌈e/ε⌉, depth =
  * ⌈ln 1/δ⌉. Cell-wise ADDITION merges sketches exactly (the
  * mergeable-summaries contract), so partial aggregation and
  * sketch-table rollups compose — the frequency counterpart to the
  * HLL and theta distinct sketches Spark ships, and the
  * POINT-QUERY complement to [[FreqSketchAgg]]'s Misra-Gries top-k
  * (MG answers "which keys are heavy", CMS answers "how heavy is this
  * key" for ANY key, without storing keys at all).
  *
  * Row hashes come from one 64-bit xxhash pair via Kirsch-
  * Mitzenmacher composition g_i = h1 + i·h2 — two hashes per update
  * regardless of depth, the standard trick. Seeds are fixed, so a
  * sketch is a deterministic function of the multiset and estimates
  * are reproducible across partitionings and engines.
  */
final class CmsBuffer(val depth: Int, val width: Int) {
  val cells = new Array[Long](depth * width)

  def addHash(h1: Long, h2: Long): Unit = {
    var i = 0
    while (i < depth) {
      cells(i * width + CmsBuffer.cellIdx(h1, h2, i, width)) += 1L
      i += 1
    }
  }

  def estimate(h1: Long, h2: Long): Long = {
    var best = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = cells(i * width + CmsBuffer.cellIdx(h1, h2, i, width))
      if (c < best) best = c
      i += 1
    }
    best
  }

  def mergeFrom(other: CmsBuffer): Unit = {
    require(other.depth == depth && other.width == width,
      s"sketch shape mismatch: ${other.depth}x${other.width} vs ${depth}x$width")
    var i = 0
    while (i < cells.length) { cells(i) += other.cells(i); i += 1 }
  }

  /** True iff no update/merge has landed — the state of a freshly
    * created aggregation buffer. Only consulted on the rare
    * shape-mismatch path in [[CmsAggBase.merge]]/[[CmsUnionAgg]], so
    * the O(cells) scan never runs per input row. */
  def isZero: Boolean = {
    var i = 0
    while (i < cells.length) { if (cells(i) != 0L) return false; i += 1 }
    true
  }

  def serialized: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * cells.length)
    bb.putInt(depth).putInt(width)
    var i = 0
    while (i < cells.length) { bb.putLong(cells(i)); i += 1 }
    bb.array()
  }
}

object CmsBuffer {
  private val Seed1 = 9176L
  private val Seed2 = 9177L

  private[functions] def cellIdx(h1: Long, h2: Long, row: Int, width: Int): Int =
    java.lang.Math.floorMod(h1 + row.toLong * h2, width.toLong).toInt

  def hashPair(v: Any): (Long, Long) = v match {
    case l: java.lang.Long    => (XXH64.hashLong(l, Seed1), XXH64.hashLong(l, Seed2) | 1L)
    case i: java.lang.Integer => (XXH64.hashLong(i.toLong, Seed1), XXH64.hashLong(i.toLong, Seed2) | 1L)
    case s: UTF8String =>
      (XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed1),
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed2) | 1L)
    case d: java.lang.Double =>
      val bits = java.lang.Double.doubleToLongBits(d)
      (XXH64.hashLong(bits, Seed1), XXH64.hashLong(bits, Seed2) | 1L)
  }

  def deserialize(bytes: Array[Byte]): CmsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val depth = bb.getInt()
    val width = bb.getInt()
    val buf = new CmsBuffer(depth, width)
    var i = 0
    while (i < buf.cells.length) { buf.cells(i) = bb.getLong(); i += 1 }
    buf
  }

  // Per-thread last-decoded sketch cache (r8): a per-event probe
  // stream almost always probes ONE broadcast sketch, so re-parsing
  // the 8 + 8·depth·width bytes (64 KiB at defaults) every row is
  // pure allocation churn. The cache key is a DEFENSIVE CLONE of the
  // caller's array (r9): cache correctness must never depend on the
  // caller's copy semantics — if a future call site passed an array
  // mutated in place behind a stable reference, an identity or
  // reference-keyed hit would return a stale sketch. Arrays.equals
  // costs a compare but no allocation; the clone is paid only on a
  // decode miss (once per distinct sketch per thread). Misses decode
  // as before: correctness never depends on the cache.
  private final class DecodeCache {
    var bytes: Array[Byte] = _
    var buf: CmsBuffer = _
  }
  private val lastDecoded = ThreadLocal.withInitial[DecodeCache](() => new DecodeCache)

  private def decodeCached(bytes: Array[Byte]): CmsBuffer = {
    val c = lastDecoded.get()
    if (c.bytes != null && java.util.Arrays.equals(c.bytes, bytes)) c.buf
    else { c.buf = deserialize(bytes); c.bytes = bytes.clone(); c.buf }
  }

  // Typed probe entry points called from generated code ([[CmsEstimate]]).
  // O(depth) per probe after the first decode of a given sketch (see
  // decodeCached); alternating between many sketches in one stream
  // degrades to a decode per row, same as the uncached path.
  def estimateOfLong(bytes: Array[Byte], v: Long): Long = {
    val (h1, h2) = hashPair(Long.box(v))
    decodeCached(bytes).estimate(h1, h2)
  }

  def estimateOfString(bytes: Array[Byte], v: UTF8String): Long = {
    val (h1, h2) = hashPair(v)
    decodeCached(bytes).estimate(h1, h2)
  }

  def estimateOfDouble(bytes: Array[Byte], v: Double): Long = {
    val (h1, h2) = hashPair(Double.box(v))
    decodeCached(bytes).estimate(h1, h2)
  }
}

/** Shared plumbing for the CMS aggregate pair. Bounds are validated in
  * checkInputDataTypes, never in the abstract constructor: that body
  * runs during executor-side deserialization with subclass fields
  * still 0, so a `require` there fails every task. */
abstract class CmsAggBase extends TypedImperativeAggregate[CmsBuffer] {
  def child: Expression
  def depth: Int
  def width: Int

  protected def shapeCheck: Option[TypeCheckResult] =
    if (depth < 1 || depth > 16)
      Some(TypeCheckResult.TypeCheckFailure(s"$prettyName requires 1 <= depth <= 16, got $depth"))
    else if (width < 16 || width > (1 << 22))
      Some(TypeCheckResult.TypeCheckFailure(s"$prettyName requires 16 <= width <= 2^22, got $width"))
    else None

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def createAggregationBuffer(): CmsBuffer = new CmsBuffer(depth, width)

  /** Shape-adopting merge: a still-empty buffer (fresh, or an empty
    * partition's partial) yields to the other side's shape, so
    * `cms_union` follows the STORED sketches' dimensions rather than
    * requiring the call-site parameters to repeat them (the silent
    * 4×2048 default would otherwise fail mid-job on any non-default
    * sketch table). Two non-empty shapes still fail loudly — that is
    * a genuinely mixed sketch table. For [[CmsAgg]] the shapes always
    * match (both sides come from the same parameters). */
  override def merge(a: CmsBuffer, b: CmsBuffer): CmsBuffer =
    if (a.depth == b.depth && a.width == b.width) { a.mergeFrom(b); a }
    else if (a.isZero) b
    else if (b.isZero) a
    else throw new IllegalArgumentException(
      s"$prettyName: cannot merge sketches of shape ${a.depth}x${a.width} " +
        s"and ${b.depth}x${b.width} — the stored table mixes sketch shapes")
  override def eval(buf: CmsBuffer): Any = buf.serialized
  override def serialize(buf: CmsBuffer): Array[Byte] = buf.serialized
  override def deserialize(bytes: Array[Byte]): CmsBuffer = CmsBuffer.deserialize(bytes)
}

/** `cms_sketch(col[, depth, width])` — build the Count-Min frequency
  * sketch of a column (binary, 8 + 8·depth·width bytes). One sketch
  * per partition crosses the wire regardless of data volume; store one
  * per partition key and answer point frequency queries over any later
  * regrouping via [[CmsUnionAgg]] + [[CmsEstimate]]. */
case class CmsAgg(
    child: Expression,
    depth: Int = 4,
    width: Int = 2048,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends CmsAggBase {

  override def prettyName: String = "cms_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    shapeCheck.getOrElse(child.dataType match {
      case LongType | IntegerType | StringType | DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint/int/string/double, got $other")
    })

  override def update(buf: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val (h1, h2) = CmsBuffer.hashPair(v)
      buf.addHash(h1, h2)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CmsAgg =
    copy(child = newChildren.head)
}

/** `cms_union(sketchCol[, depth, width])` — cell-wise-add fold of
  * stored CMS sketches; emits the merged sketch (binary) so rollups
  * compose. Exact merge: sketch(A ⊎ B) == union(sketch(A), sketch(B))
  * cell for cell. The depth/width parameters only size the INITIAL
  * (empty) buffer — the fold adopts the stored sketches' actual shape
  * on first contact (r8, CmsAggBase.merge), so a non-default sketch
  * table folds correctly without repeating its dimensions at every
  * call site; genuinely mixed shapes in one fold fail with a clear
  * error instead of a mid-job require. */
case class CmsUnionAgg(
    child: Expression,
    depth: Int = 4,
    width: Int = 2048,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends CmsAggBase {

  override def prettyName: String = "cms_union"

  override def checkInputDataTypes(): TypeCheckResult =
    shapeCheck.getOrElse(child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a binary sketch column, got $other")
    })

  override def update(buf: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = CmsBuffer.deserialize(v.asInstanceOf[Array[Byte]])
      // adopt the stored sketches' shape on first contact (see merge)
      if (buf.depth == other.depth && buf.width == other.width) {
        buf.mergeFrom(other); buf
      } else if (buf.isZero) other
      else if (other.isZero) buf
      else throw new IllegalArgumentException(
        s"$prettyName: cannot merge sketches of shape ${buf.depth}x${buf.width} " +
          s"and ${other.depth}x${other.width} — the stored table mixes sketch shapes")
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CmsUnionAgg =
    copy(child = newChildren.head)
}

/** `cms_estimate(sketch, key)` — point frequency estimate of `key` in
  * a stored sketch (scalar, codegen'd; never undercounts). The key
  * type picks the hash path at analysis time, matching
  * [[CmsAgg]]'s update hashing exactly. */
case class CmsEstimate(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType | IntegerType | StringType | DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary sketch, bigint/int/string/double key), got ($l, $r)")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override def nullSafeEval(sketch: Any, key: Any): Any = {
    val bytes = sketch.asInstanceOf[Array[Byte]]
    key match {
      case l: java.lang.Long    => CmsBuffer.estimateOfLong(bytes, l)
      case i: java.lang.Integer => CmsBuffer.estimateOfLong(bytes, i.toLong)
      case s: UTF8String        => CmsBuffer.estimateOfString(bytes, s)
      case d: java.lang.Double  => CmsBuffer.estimateOfDouble(bytes, d)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    right.dataType match {
      case LongType | IntegerType => defineCodeGen(ctx, ev,
        (s, k) => s"graft.functions.CmsBuffer.estimateOfLong($s, (long) $k)")
      case StringType => defineCodeGen(ctx, ev,
        (s, k) => s"graft.functions.CmsBuffer.estimateOfString($s, $k)")
      case DoubleType => defineCodeGen(ctx, ev,
        (s, k) => s"graft.functions.CmsBuffer.estimateOfDouble($s, $k)")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}
