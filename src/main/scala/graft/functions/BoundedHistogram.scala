package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, MapType}

/** Exact value counts of a double column while it holds at most `cap`
  * distinct values, else null: one mergeable aggregation pass answers
  * "the exact histogram IF the column is low-cardinality, else that it
  * is not", with state bounded by `cap` entries per partial.
  *
  * The buffer is a primitive open-addressing table (key bits → count),
  * so no value is boxed and the partial serializes to plain bytes. -0.0
  * is keyed as 0.0 (Spark compares them equal); null and NaN are
  * skipped (callers derive the NaN count from `count(c)`). One value
  * past `cap`, in `update` or in either order of `merge`, poisons the
  * buffer, and a poisoned partial poisons every merge it enters. */
case class BoundedHistogram(child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedHistogram.Counts]
  with UnaryLike[Expression] with ImplicitCastInputTypes {
  import BoundedHistogram.Counts

  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType =
    MapType(DoubleType, LongType, valueContainsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bounded_histogram"
  override protected def stringArgs: Iterator[Any] = Iterator(child, cap)

  override def createAggregationBuffer(): Counts = new Counts(cap)

  override def update(b: Counts, input: InternalRow): Counts = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Double], 1L)
    b
  }

  override def merge(b: Counts, other: Counts): Counts = { b.addAll(other); b }

  override def eval(b: Counts): Any = if (b.poisoned) null else b.toMapData

  override def serialize(b: Counts): Array[Byte] = b.toBytes

  override def deserialize(bytes: Array[Byte]): Counts = Counts.fromBytes(bytes, cap)

  override def withNewMutableAggBufferOffset(o: Int): BoundedHistogram =
    copy(mutableAggBufferOffset = o)

  override def withNewInputAggBufferOffset(o: Int): BoundedHistogram =
    copy(inputAggBufferOffset = o)

  override protected def withNewChildInternal(newChild: Expression): BoundedHistogram =
    copy(child = newChild)
}

object BoundedHistogram {
  import org.apache.spark.sql.GraftSqlShim

  /** Open-addressing (linear probing) double → count table holding at
    * most `cap` keys. A slot is empty while its count is 0; `size` is
    * -1 once poisoned. */
  final class Counts(cap: Int, slots: Int = 16) {
    private var keys = new Array[Long](slots)
    private var cnts = new Array[Long](slots)
    private var size = 0

    def poisoned: Boolean = size < 0

    private def poison(): Unit = {
      size = -1; keys = Array.emptyLongArray; cnts = Array.emptyLongArray
    }

    private def slot(bits: Long): Int = {
      // murmur3 fmix64: key bits of nearby doubles differ in low bits only
      var h = bits
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      val mask = keys.length - 1
      var i = h.toInt & mask
      while (cnts(i) != 0L && keys(i) != bits) i = (i + 1) & mask
      i
    }

    /** Count `v` `n` more times (n ≥ 1); null-free, NaN skipped. */
    def add(v: Double, n: Long): Unit =
      if (size >= 0 && !v.isNaN) {
        val bits = java.lang.Double.doubleToRawLongBits(if (v == 0.0d) 0.0d else v)
        val i = slot(bits)
        if (cnts(i) != 0L) cnts(i) += n
        else if (size >= cap) poison()
        else {
          keys(i) = bits; cnts(i) = n; size += 1
          if (2 * size > keys.length) grow()
        }
      }

    private def grow(): Unit = {
      val (ks, cs) = (keys, cnts)
      keys = new Array[Long](ks.length * 2); cnts = new Array[Long](ks.length * 2)
      var j = 0
      while (j < ks.length) {
        if (cs(j) != 0L) { val i = slot(ks(j)); keys(i) = ks(j); cnts(i) = cs(j) }
        j += 1
      }
    }

    def addAll(o: Counts): Unit =
      if (o.poisoned) poison()
      else o.foreach((bits, n) => add(java.lang.Double.longBitsToDouble(bits), n))

    private def foreach(f: (Long, Long) => Unit): Unit = {
      var j = 0
      while (j < keys.length && size >= 0) {
        if (cnts(j) != 0L) f(keys(j), cnts(j))
        j += 1
      }
    }

    def toMapData: ArrayBasedMapData = {
      val ks = new Array[Double](size); val cs = new Array[Long](size)
      var k = 0
      foreach { (bits, n) =>
        ks(k) = java.lang.Double.longBitsToDouble(bits); cs(k) = n; k += 1
      }
      new ArrayBasedMapData(UnsafeArrayData.fromPrimitiveArray(ks),
        UnsafeArrayData.fromPrimitiveArray(cs))
    }

    /** `size` (-1 if poisoned), then (key bits, count) per entry. */
    def toBytes: Array[Byte] = {
      val buf = ByteBuffer.allocate(4 + 16 * math.max(size, 0)).putInt(size)
      foreach { (bits, n) => buf.putLong(bits).putLong(n) }
      buf.array()
    }
  }

  object Counts {
    def fromBytes(bytes: Array[Byte], cap: Int): Counts = {
      val buf = ByteBuffer.wrap(bytes)
      val n = buf.getInt
      val c = new Counts(cap,
        Integer.highestOneBit(math.max(2 * n, 8)) * 2)
      if (n < 0) c.poison()
      else for (_ <- 0 until n)
        c.add(java.lang.Double.longBitsToDouble(buf.getLong), buf.getLong)
      c
    }
  }

  /** Column form; the input is cast to double. */
  def boundedHistogram(c: Column, cap: Int): Column =
    GraftSqlShim.column(BoundedHistogram(
      GraftSqlShim.expression(c.cast("double")), cap).toAggregateExpression())
}
