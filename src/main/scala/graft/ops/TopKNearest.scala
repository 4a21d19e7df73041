package graft.ops

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** At most `k` (dist, id) pairs, strictly ascending by dist
  * (`java.lang.Double.compare`), then id: the buffer of [[TopKNearest]].
  * Ids are longs (`lid`) or strings (`sid`, a null string sorting first);
  * the other array is null. Arrays grow by doubling up to `k`, so a small
  * group never allocates a large `k`'s worth. */
final class NearestRun(val k: Int, stringIds: Boolean, capacity: Int) {
  var n = 0
  var dist = new Array[Double](capacity)
  var lid: Array[Long] = if (stringIds) null else new Array[Long](capacity)
  var sid: Array[UTF8String] = if (stringIds) new Array[UTF8String](capacity) else null

  private def lidAt(i: Int): Long = if (lid == null) 0L else lid(i)
  private def sidAt(i: Int): UTF8String = if (sid == null) null else sid(i)
  def idAt(i: Int): Any = if (lid == null) sid(i) else lid(i)

  /** Order of (d, lv or sv) against the pair at slot i. */
  private def compareAt(i: Int, d: Double, lv: Long, sv: UTF8String): Int = {
    val c = java.lang.Double.compare(d, dist(i))
    if (c != 0) c
    else if (lid != null) java.lang.Long.compare(lv, lid(i))
    else {
      val o = sid(i)
      if (sv eq o) 0 else if (sv == null) -1 else if (o == null) 1 else sv.compareTo(o)
    }
  }

  /** Admit (d, id) at its binary-searched slot, unless the run is full of
    * smaller pairs or already holds this exact pair. `sv` is copied on
    * admission: an input row may reuse its buffer. */
  def offer(d: Double, lv: Long, sv: UTF8String): Unit = {
    if (n == k && compareAt(n - 1, d, lv, sv) >= 0) return
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = compareAt(mid, d, lv, sv)
      if (c == 0) return
      if (c > 0) lo = mid + 1 else hi = mid
    }
    if (n == dist.length) grow()
    val moved = math.min(n, k - 1) - lo
    System.arraycopy(dist, lo, dist, lo + 1, moved)
    dist(lo) = d
    if (lid != null) { System.arraycopy(lid, lo, lid, lo + 1, moved); lid(lo) = lv }
    else { System.arraycopy(sid, lo, sid, lo + 1, moved); sid(lo) = if (sv == null) null else sv.clone() }
    if (n < k) n += 1
  }

  private def grow(): Unit = {
    val cap = math.min(k, math.max(1, dist.length * 2))
    dist = java.util.Arrays.copyOf(dist, cap)
    if (lid != null) lid = java.util.Arrays.copyOf(lid, cap)
    else sid = java.util.Arrays.copyOf(sid, cap)
  }

  private def append(from: NearestRun, i: Int): Unit = {
    dist(n) = from.dist(i)
    if (lid != null) lid(n) = from.lid(i) else sid(n) = from.sid(i)
    n += 1
  }

  /** The k smallest pairs of this run and `o`, an exact repeat kept once:
    * one pass over the two sorted runs. */
  def merge(o: NearestRun): NearestRun =
    if (o.n == 0) this
    else if (n == 0) o
    else {
      val out = new NearestRun(k, sid != null, math.min(k, n + o.n))
      var i = 0
      var j = 0
      while (out.n < k && (i < n || j < o.n)) {
        val c = if (j >= o.n) -1 else if (i >= n) 1 else o.compareAt(j, dist(i), lidAt(i), sidAt(i))
        if (c <= 0) { out.append(this, i); i += 1; if (c == 0) j += 1 }
        else { out.append(o, j); j += 1 }
      }
      out
    }

  /** n, the n dists, then the n ids: longs, or (length, UTF-8 bytes) with
    * length -1 for a null string. */
  def toBytes: Array[Byte] = {
    var size = 4 + n * 8
    var i = 0
    while (i < n) { size += (if (lid != null) 8 else 4 + (if (sid(i) == null) 0 else sid(i).numBytes())); i += 1 }
    val buf = ByteBuffer.allocate(size).putInt(n)
    i = 0
    while (i < n) { buf.putDouble(dist(i)); i += 1 }
    i = 0
    while (i < n) {
      if (lid != null) buf.putLong(lid(i))
      else if (sid(i) == null) buf.putInt(-1)
      else buf.putInt(sid(i).numBytes()).put(sid(i).getBytes)
      i += 1
    }
    buf.array()
  }
}

object NearestRun {
  def fromBytes(bytes: Array[Byte], k: Int, stringIds: Boolean): NearestRun = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt()
    val run = new NearestRun(k, stringIds, math.max(n, 1))
    var i = 0
    while (i < n) { run.dist(i) = buf.getDouble(); i += 1 }
    i = 0
    while (i < n) {
      if (!stringIds) run.lid(i) = buf.getLong()
      else {
        val len = buf.getInt()
        if (len >= 0) {
          run.sid(i) = UTF8String.fromBytes(bytes, buf.position(), len)
          buf.position(buf.position() + len)
        }
      }
      i += 1
    }
    run.n = n
    run
  }
}

/** Bounded top-k by (dist, id) per group — the distributed form of the
  * reference's `BoundedPriorityQueue` (Neighborly/Search/KDTree.cs:58-116).
  * It plans as a partial `ObjectHashAggregate`, so each map task ships at
  * most k pairs per group: at 100 TB the shuffle is O(queries × k), not
  * O(vectors × queries). The buffer is a [[NearestRun]] of primitive
  * arrays, serialized as bytes between the partial and final aggregates.
  *
  * An exact (dist, id) repeat is kept once, both within a task and across
  * partial buffers, so a candidate reached through several paths (LSH's
  * per-table bucket collisions) needs no dedup shuffle before it. A null
  * dist counts as 0.0 and a null integral id as 0, and a null string id
  * stays null: the typed `Aggregator` this replaced decoded nulls that
  * way.
  *
  * Output: ARRAY<STRUCT<dist DOUBLE, id BIGINT|STRING>> in (dist, id)
  * order. The array is declared nullable-element so the exploded columns
  * keep the nullability the typed form gave them (join plans over the
  * result infer the same not-null filters).
  */
case class TopKNearest(dist: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[NearestRun] with ImplicitCastInputTypes
    with BinaryLike[Expression] {
  require(k >= 1, s"top-k needs k >= 1, got $k")

  private def stringIds: Boolean = id.dataType == StringType

  override def left: Expression = dist
  override def right: Expression = id
  override def inputTypes =
    Seq(DoubleType, if (stringIds) StringType else LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("id", if (stringIds) StringType else LongType, nullable = stringIds))),
    containsNull = true)
  override def prettyName: String = "topk_nearest"
  override protected def stringArgs: Iterator[Any] = Iterator(dist, id, k)

  override def createAggregationBuffer(): NearestRun = new NearestRun(k, stringIds, math.min(k, 16))

  override def update(run: NearestRun, input: InternalRow): NearestRun = {
    val d = dist.eval(input)
    val v = id.eval(input)
    val dv = if (d == null) 0.0 else d.asInstanceOf[Double]
    if (stringIds) run.offer(dv, 0L, v.asInstanceOf[UTF8String])
    else run.offer(dv, if (v == null) 0L else v.asInstanceOf[Long], null)
    run
  }

  override def merge(run: NearestRun, other: NearestRun): NearestRun = run.merge(other)

  override def eval(run: NearestRun): Any =
    new GenericArrayData(Array.tabulate[Any](run.n)(i => InternalRow(run.dist(i), run.idAt(i))))

  override def serialize(run: NearestRun): Array[Byte] = run.toBytes
  override def deserialize(bytes: Array[Byte]): NearestRun =
    NearestRun.fromBytes(bytes, k, stringIds)

  override def withNewMutableAggBufferOffset(o: Int): TopKNearest = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKNearest = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKNearest =
    copy(dist = l, id = r)
}

object TopKNearest {
  def apply(dist: Column, id: Column, k: Int): Column =
    bridge.column(new TopKNearest(bridge.expression(dist), bridge.expression(id), k)
      .toAggregateExpression())
}
