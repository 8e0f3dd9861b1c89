package graft.functions

import java.nio.ByteBuffer
import java.util.{Comparator, PriorityQueue}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded per-group top-K aggregate: keeps the K best (value, id ASC)
  * pairs per group in O(K) map-side state and returns them rank-ordered.
  * One kernel behind two SQL names, the direction fixed by the name:
  *
  *   - `top_k_by(score, id, k)`: value DESC, `array<struct<score,id>>`;
  *   - `min_k_by(key, id, k)`: value ASC, `array<struct<key,id>>`.
  *
  * The value is a double (ordered by `Double.compare`) or a bigint (exact
  * `Long` order — hash-order selection ranks by 60-bit hashes, and a double
  * would lose the low bits past 2^53). The id is the unique tiebreak and
  * the payload.
  *
  * Why not a rank window: `row_number() OVER (PARTITION BY g ORDER BY
  * score DESC, id)` sorts EVERY group's full row set inside its shuffle
  * partition — at 100 TB "top 5 per category" pays a full parallel sort of
  * the input, and a giant group becomes one reducer's sort. This
  * aggregate's partial state is a ≤K binary heap per group per map task, so
  * the shuffle moves `groups × K` entries, map-side combine happens for
  * free, and nothing ever sorts more than K elements (the final rank
  * ordering of each K-heap at eval).
  *
  * The (value, id ASC) order is total whenever ids are unique, so the
  * result is deterministic under any partitioning — the same contract the
  * window form gets from its explicit tiebreak. Null values/ids are
  * skipped, matching `NULLS LAST` under a `rk <= K` filter when K is
  * smaller than the non-null group size.
  */
final case class BoundedK(
    left: Expression,  // value: double | bigint
    right: Expression, // id: bigint (unique tiebreak + payload)
    k: Int,
    descending: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[BoundedK.Entry]]
  with BinaryLike[Expression] {

  import BoundedK.Entry

  require(k > 0 && k <= (1 << 20), s"k must be in 1..2^20, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType | LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double|bigint, bigint), got (${s.catalogString}, ${i.catalogString})")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField(if (descending) "score" else "key", left.dataType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = if (descending) "top_k_by" else "min_k_by"

  // an entry holds the value's 8 bytes as a long (a double's raw bits), so
  // one heap and one 16-byte wire format serve both value types; the value
  // order is picked here once, not per comparison
  @transient private lazy val isDouble: Boolean = left.dataType == DoubleType

  @transient private lazy val valueOrder: Comparator[Entry] =
    if (isDouble) (a: Entry, b: Entry) => java.lang.Double.compare(
      java.lang.Double.longBitsToDouble(a.bits), java.lang.Double.longBitsToDouble(b.bits))
    else (a: Entry, b: Entry) => java.lang.Long.compare(a.bits, b.bits)

  /** Rank order: BEST first — the order `eval` returns. */
  @transient private lazy val bestFirst: Comparator[Entry] = {
    val byValue = if (descending) valueOrder.reversed() else valueOrder
    byValue.thenComparingLong((e: Entry) => e.id)
  }

  /** Heap order: WORST first, so `peek` is the eviction candidate. */
  @transient private lazy val worstFirst: Comparator[Entry] = bestFirst.reversed()

  override def createAggregationBuffer(): PriorityQueue[Entry] =
    new PriorityQueue[Entry](worstFirst)

  override def update(buffer: PriorityQueue[Entry], input: InternalRow): PriorityQueue[Entry] = {
    val v = left.eval(input)
    val i = right.eval(input)
    if (v != null && i != null) {
      val bits =
        if (isDouble) java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])
        else v.asInstanceOf[Long]
      add(buffer, Entry(bits, i.asInstanceOf[Long]))
    }
    buffer
  }

  override def merge(buffer: PriorityQueue[Entry], other: PriorityQueue[Entry]): PriorityQueue[Entry] = {
    val it = other.iterator()
    while (it.hasNext) add(buffer, it.next())
    buffer
  }

  // heap head is the WORST survivor; a candidate no better than it is
  // rejected without mutating, so the buffer never exceeds K entries
  private def add(buffer: PriorityQueue[Entry], e: Entry): Unit = {
    if (buffer.size() < k) { buffer.add(e); () }
    else if (bestFirst.compare(e, buffer.peek()) < 0) {
      buffer.poll()
      buffer.add(e)
      ()
    }
  }

  override def eval(buffer: PriorityQueue[Entry]): Any = {
    val arr = buffer.toArray(new Array[Entry](buffer.size()))
    java.util.Arrays.sort(arr, bestFirst)
    val out = new Array[Any](arr.length)
    var j = 0
    while (j < arr.length) {
      val v: Any =
        if (isDouble) java.lang.Double.longBitsToDouble(arr(j).bits) else arr(j).bits
      out(j) = new GenericInternalRow(Array[Any](v, arr(j).id))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: PriorityQueue[Entry]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buffer.size())
    bb.putInt(buffer.size())
    val it = buffer.iterator()
    while (it.hasNext) { val e = it.next(); bb.putLong(e.bits); bb.putLong(e.id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[Entry] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var j = 0
    while (j < n) { buf.add(Entry(bb.getLong, bb.getLong)); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedK =
    copy(left = newLeft, right = newRight)
}

object BoundedK {
  /** `bits`: a bigint value, or a double value's raw IEEE-754 bits. */
  final case class Entry(bits: Long, id: Long)
}
