package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items summary with at most `capacity`
  * counters (Misra & Gries 1982; merge rule from Agarwal et al.,
  * "Mergeable Summaries", PODS 2012). Counters are LOWER bounds:
  * for every key, trueCount − N/(capacity+1) ≤ counter ≤ trueCount
  * under any sequence of updates and merges over total weight N —
  * so every key with true frequency above N/(capacity+1) is
  * guaranteed present. That superset guarantee is what the
  * heavy-hitters operator builds on: the sketch nominates ≤ capacity
  * candidates, an exact second pass recounts only those, and the
  * final top-k is exact whenever the true top-k frequencies clear
  * the bound (trivially true for a Zipf-ish token distribution with
  * capacity a few times k).
  *
  * The classic decrement-all step is O(capacity); the shared-offset
  * trick makes it O(1): stored values are `offset + effective`, a
  * decrement-all is `offset += 1`, and dead entries (stored ≤
  * offset) are purged lazily only when the map is full — amortized
  * constant work per update for the heavy-hitter-skewed streams the
  * sketch exists for.
  */
final class FreqSketchBuffer(val capacity: Int) {
  val counts = new mutable.HashMap[String, Long]
  var offset = 0L

  def add(key: String): Unit = {
    counts.get(key) match {
      case Some(s) => counts.update(key, s + 1)
      case None =>
        if (counts.size < capacity) counts.update(key, offset + 1)
        else {
          offset += 1
          counts.filterInPlace((_, s) => s > offset)
          if (counts.size < capacity) counts.update(key, offset + 1)
        }
    }
  }

  /** Effective (lower-bound) counts, positive entries only. */
  def effective: Seq[(String, Long)] =
    counts.iterator.map { case (k, s) => (k, s - offset) }
      .filter(_._2 > 0).toSeq

  /** Mergeable-summaries MG merge: pointwise-add effective counts,
    * then subtract the (capacity+1)-th largest and drop ≤ 0. */
  def mergeFrom(other: FreqSketchBuffer): Unit = {
    val merged = new mutable.HashMap[String, Long]
    effective.foreach { case (k, c) => merged.update(k, c) }
    other.effective.foreach { case (k, c) =>
      merged.update(k, merged.getOrElse(k, 0L) + c)
    }
    if (merged.size > capacity) {
      val cut = merged.values.toArray.sorted(Ordering[Long].reverse)(capacity)
      merged.filterInPlace((_, c) => c - cut > 0)
      merged.mapValuesInPlace((_, c) => c - cut)
    }
    counts.clear()
    offset = 0L
    merged.foreach { case (k, c) => counts.update(k, c) }
  }
}

/** `freq_sketch(key, capacity)` — bounded-memory frequent-items
  * aggregate (SURVEY.md §2.10 UDAF surface; §2.11 E4 heavy hitters).
  * Emits array<struct<token,count>> of the surviving counters sorted
  * (count DESC, token ASC); counts are Misra-Gries lower bounds, see
  * [[FreqSketchBuffer]] for the guarantee. Runs on the
  * ObjectHashAggregate path like [[TopKAgg]] and Spark's
  * `hll_sketch_agg` (single-buffer TypedImperativeAggregates); a partial
  * buffer is ≤ capacity entries regardless of input size, so the
  * shuffle carries one ≤ capacity-entry sketch per partition instead
  * of the full vocabulary.
  */
case class FreqSketchAgg(
    key: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FreqSketchBuffer] {

  require(capacity > 0, "freq_sketch requires capacity > 0")

  override def checkInputDataTypes(): TypeCheckResult = key.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key, got $other")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("count", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "freq_sketch"
  override def children: Seq[Expression] = Seq(key)

  override def createAggregationBuffer(): FreqSketchBuffer =
    new FreqSketchBuffer(capacity)

  override def update(buf: FreqSketchBuffer, input: InternalRow): FreqSketchBuffer = {
    val k = key.eval(input)
    if (k != null) buf.add(k.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(a: FreqSketchBuffer, b: FreqSketchBuffer): FreqSketchBuffer = {
    a.mergeFrom(b); a
  }

  override def eval(buf: FreqSketchBuffer): Any = {
    val entries = buf.effective.sortBy { case (k, c) => (-c, k) }
    new GenericArrayData(entries.map { case (k, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(k), c))
    }.toArray[Any])
  }

  override def serialize(buf: FreqSketchBuffer): Array[Byte] = {
    val entries = buf.effective
    val payload = entries.map { case (k, c) =>
      (k.getBytes(StandardCharsets.UTF_8), c)
    }
    val bb = ByteBuffer.allocate(4 + payload.map(4 + 8 + _._1.length).sum)
    bb.putInt(payload.size)
    payload.foreach { case (kb, c) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FreqSketchBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new FreqSketchBuffer(capacity)
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](bb.getInt()); bb.get(kb)
      buf.counts.update(new String(kb, StandardCharsets.UTF_8), bb.getLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FreqSketchAgg =
    copy(key = newChildren(0))
}
