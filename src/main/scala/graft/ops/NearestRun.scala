package graft.ops

import org.apache.spark.unsafe.types.UTF8String

/** At most `k` (dist, id) pairs, strictly ascending by dist
  * (`java.lang.Double.compare`), then id: one query's bounded queue in the
  * batch scan ([[Knn.scan]]), the reference's `BoundedPriorityQueue`
  * (Neighborly/Search/KDTree.cs:58-116). Ids are longs (`lid`) or strings
  * (`sid`, a null string sorting first); the other array is null. Arrays
  * grow by doubling up to `k`, so a small run never allocates a large
  * `k`'s worth. An exact (dist, id) repeat is kept once, in [[offer]] and
  * in [[merge]], so a candidate reached through several paths (LSH's
  * per-table bucket collisions, one query id on several rows) is ranked
  * once. */
final class NearestRun(val k: Int, stringIds: Boolean, capacity: Int) extends Serializable {
  var n = 0
  @transient var dist = new Array[Double](capacity)
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

  // Java serialization writes a double through `doubleToLongBits`, which
  // folds every NaN into one; a run crossing a treeAggregate level keeps
  // each dist's raw bits
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    var i = 0
    while (i < n) { out.writeLong(java.lang.Double.doubleToRawLongBits(dist(i))); i += 1 }
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    dist = new Array[Double](if (lid != null) lid.length else sid.length)
    var i = 0
    while (i < n) { dist(i) = java.lang.Double.longBitsToDouble(in.readLong()); i += 1 }
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
}
