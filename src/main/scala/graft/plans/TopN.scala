package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded per-group top-n over (score, id) rows: the keyed generalization
  * of `TakeOrderedAndProject`, and the one per-probe rank every kNN, BM25,
  * PRF and lake serve goes through. The buffer holds at most n entries, so
  * partial aggregation (ObjectHashAggregate map-side combine) reduces each
  * partition to <= n rows per group BEFORE the exchange: shuffle volume is
  * groups x partitions x n, never candidates.
  *
  * Order: score desc, then id asc, a total order, so ties break exactly as
  * the SQL oracle's `row_number() OVER (ORDER BY score DESC, id)`. A double
  * score compares as `java.lang.Double.compare`, a long score as a long
  * (exact integer micros stay exact above 2^53), a string id by its UTF-8
  * bytes (SQL's binary `ORDER BY`).
  *
  * An integral score or id widens to long; any other score to double, any
  * other id to string. A row whose score is null or NaN has no rank and is
  * skipped. A null id is refused, long or string: no id stands for it.
  * Output: `array<struct<_1: score, _2: id>>`, best first. */
case class TopN(score: Expression, id: Expression, n: Int,
                mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopN.Heap]
    with ImplicitCastInputTypes with BinaryLike[Expression] {
  require(n >= 1, s"n must be >= 1, got $n")

  override def left: Expression = score
  override def right: Expression = id
  override def prettyName: String = "top_n"
  override protected def stringArgs: Iterator[Any] = Iterator(score, id, n)

  private def widened(e: Expression, otherwise: DataType): DataType =
    e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => LongType
      case _ => otherwise
    }
  override def inputTypes: Seq[DataType] =
    Seq(widened(score, DoubleType), widened(id, StringType))

  // lazy: the children are resolved (and cast) only after analysis
  private lazy val doubleScore = score.dataType == DoubleType
  private lazy val stringIds = id.dataType.isInstanceOf[StringType]

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", score.dataType, nullable = false),
    StructField("_2", id.dataType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopN.Heap = new TopN.Heap(n, stringIds)

  override def update(heap: TopN.Heap, input: InternalRow): TopN.Heap = {
    val s = score.eval(input)
    if (s == null) return heap
    val key =
      if (!doubleScore) s.asInstanceOf[Long]
      else if (s.asInstanceOf[Double].isNaN) return heap
      else TopN.orderKey(s.asInstanceOf[Double])
    val i = id.eval(input)
    if (i == null) throw new IllegalArgumentException(
      s"top_n: null id ${id.sql} for score ${score.sql} = $s")
    if (stringIds) heap.offer(key, 0L, i.asInstanceOf[UTF8String])
    else heap.offer(key, i.asInstanceOf[Long], null)
    heap
  }

  override def merge(heap: TopN.Heap, other: TopN.Heap): TopN.Heap = {
    // other is best first: stop at its first entry the full heap refuses
    var j = 0
    while (j < other.size && heap.offer(other.keys(j),
        if (stringIds) 0L else other.ids(j),
        if (stringIds) other.strs(j) else null)) j += 1
    heap
  }

  override def eval(heap: TopN.Heap): Any = new GenericArrayData(
    Array.tabulate[Any](heap.size) { j =>
      val k = heap.keys(j)
      InternalRow(if (doubleScore) TopN.scoreOf(k) else k,
        if (stringIds) heap.strs(j) else heap.ids(j))
    })

  override def serialize(heap: TopN.Heap): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream(4 + heap.size * 16)
    val out = new java.io.DataOutputStream(bytes)
    out.writeInt(heap.size)
    for (j <- 0 until heap.size) {
      out.writeLong(heap.keys(j))
      if (!stringIds) out.writeLong(heap.ids(j))
      else { out.writeInt(heap.strs(j).numBytes); heap.strs(j).writeTo(out) }
    }
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopN.Heap = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val heap = createAggregationBuffer()
    for (_ <- 0 until in.getInt()) {
      val k = in.getLong()
      if (!stringIds) heap.offer(k, in.getLong(), null)
      else {
        val b = new Array[Byte](in.getInt())
        in.get(b)
        heap.offer(k, 0L, UTF8String.fromBytes(b))
      }
    }
    heap
  }

  override def withNewMutableAggBufferOffset(o: Int): TopN =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopN =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopN =
    copy(score = newLeft, id = newRight)
}

object TopN {

  /** `top_n(score, id, n)` as an aggregate column. */
  def column(score: Column, id: Column, n: Int): Column =
    GraftBridge.toColumn(TopN(GraftBridge.toExpression(score),
      GraftBridge.toExpression(id), n).toAggregateExpression())

  /** A non-NaN double as a long whose signed order is
    * `java.lang.Double.compare`'s (-0.0 below 0.0): a negative value flips
    * its magnitude bits. The map is its own inverse on the bits. */
  def orderKey(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & Long.MaxValue)
  }

  def scoreOf(key: Long): Double =
    java.lang.Double.longBitsToDouble(key ^ ((key >> 63) & Long.MaxValue))

  /** The aggregation buffer: up to n (key, id) entries sorted best first
    * (key desc, id asc) in primitive arrays that grow to n. Long ids live
    * in `ids`, string ids in `strs`; the other array is null. */
  final class Heap(n: Int, stringIds: Boolean) {
    var size = 0
    var keys = new Array[Long](math.min(n, 16))
    var ids: Array[Long] = if (stringIds) null else new Array[Long](keys.length)
    var strs: Array[UTF8String] =
      if (stringIds) new Array[UTF8String](keys.length) else null

    /** Whether (k, id, str) sorts strictly before entry j. */
    private def before(k: Long, id: Long, str: UTF8String, j: Int): Boolean =
      k > keys(j) || (k == keys(j) &&
        (if (strs == null) id < ids(j) else str.binaryCompare(strs(j)) < 0))

    /** Admits the entry if it ranks among the best n; false when the heap
      * is full and the entry ranks below all of it. A string id is copied
      * on admission (an input row's bytes are reused). */
    def offer(k: Long, id: Long, str: UTF8String): Boolean = {
      if (size == n && !before(k, id, str, n - 1)) return false
      var lo = 0
      var hi = size
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (before(k, id, str, m)) hi = m else lo = m + 1
      }
      if (size < n) {
        if (size == keys.length) {
          val cap = math.min(n, size * 2)
          keys = java.util.Arrays.copyOf(keys, cap)
          if (strs == null) ids = java.util.Arrays.copyOf(ids, cap)
          else strs = java.util.Arrays.copyOf(strs, cap)
        }
        size += 1
      }
      val tail = size - 1 - lo
      System.arraycopy(keys, lo, keys, lo + 1, tail)
      keys(lo) = k
      if (strs == null) {
        System.arraycopy(ids, lo, ids, lo + 1, tail)
        ids(lo) = id
      } else {
        System.arraycopy(strs, lo, strs, lo + 1, tail)
        strs(lo) = str.copy()
      }
      true
    }
  }
}
