package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bounded buffer of the k SMALLEST long values seen so far: a binary
  * MAX-heap of at most k entries (root = largest kept value), so an
  * insert is O(log k) and a value >= the root of a full buffer is
  * rejected in O(1). Multiset semantics — duplicates are kept as
  * separate entries — so the evaluated result is exactly the first k
  * rows of a per-key ascending sort.
  */
private[graft] final class MinKBuf(var heap: Array[Long], var n: Int)

private[graft] object MinKHeap {
  def create(k: Int): MinKBuf =
    new MinKBuf(new Array[Long](math.min(k, 8)), 0)

  def add(b: MinKBuf, k: Int, v: Long): Unit = {
    if (b.n < k) {
      if (b.n == b.heap.length)
        b.heap = java.util.Arrays.copyOf(
          b.heap, math.min(k, math.max(b.heap.length * 2, 8)))
      b.heap(b.n) = v
      b.n += 1
      siftUp(b.heap, b.n - 1)
    } else if (v < b.heap(0)) {
      b.heap(0) = v
      siftDown(b.heap, b.n)
    }
  }

  private def siftUp(h: Array[Long], i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (h(p) < h(i)) { val t = h(p); h(p) = h(i); h(i) = t; i = p }
      else return
    }
  }

  private def siftDown(h: Array[Long], n: Int): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var m = i
      if (l < n && h(l) > h(m)) m = l
      if (r < n && h(r) > h(m)) m = r
      if (m == i) return
      val t = h(m); h(m) = h(i); h(i) = t; i = m
    }
  }

  def merge(b: MinKBuf, k: Int, o: MinKBuf): Unit = {
    var i = 0
    while (i < o.n) { add(b, k, o.heap(i)); i += 1 }
  }

  def ser(b: MinKBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.n)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putLong(b.heap(i)); i += 1 }
    bb.array()
  }

  def deser(bytes: Array[Byte]): MinKBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val heap = new Array[Long](math.max(n, 1))
    var i = 0
    while (i < n) { heap(i) = bb.getLong; i += 1 }
    new MinKBuf(heap, n) // heap property holds: serialized from a valid heap
  }
}

/** min_k_longs(v, k): the k smallest values of a LONG column per group,
  * as an ASCENDING-sorted array<bigint> — the bounded-state replacement
  * for `row_number() over (partition by key order by v) <= k`.
  *
  * Scale shape: the aggregation buffer, every serialized partial, and
  * the result are all <= k entries, and the aggregate is map-side
  * combinable — an adversarial mega-group (the 10^9-document crawl
  * domain) ships at most k longs per map task into the shuffle instead
  * of sorting all its rows in a single window partition. NULL inputs
  * are skipped (they define no rank; the fixture ids are non-null).
  * Ties: duplicates are kept as separate entries, exactly like the
  * first k rows of the sort they replace. Narrower integral inputs
  * (an `int` id column) are cast to long by the analyzer.
  */
case class MinKLongsAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinKBuf] with ImplicitCastInputTypes {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = CatalystBridge.oneLongInput
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): MinKBuf = MinKHeap.create(k)

  override def update(buf: MinKBuf, input: InternalRow): MinKBuf = {
    val v = child.eval(input)
    if (v != null) MinKHeap.add(buf, k, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: MinKBuf, other: MinKBuf): MinKBuf = {
    MinKHeap.merge(buf, k, other)
    buf
  }

  override def eval(buf: MinKBuf): Any = {
    val out = java.util.Arrays.copyOf(buf.heap, buf.n)
    java.util.Arrays.sort(out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def serialize(buf: MinKBuf): Array[Byte] = MinKHeap.ser(buf)
  override def deserialize(bytes: Array[Byte]): MinKBuf = MinKHeap.deser(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKLongsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKLongsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinKLongsAgg =
    copy(child = newChildren(0))
  override def prettyName: String = "min_k_longs"
}

object MinKLongsAgg {
  /** Ascending array<bigint> of the k smallest non-null values. */
  def minK(v: Column, k: Int): Column =
    CatalystBridge.column(
      MinKLongsAgg(CatalystBridge.expression(v), k).toAggregateExpression())
}
