package graft.index

/** Bounded smallest-k selector on strict lexicographic (distance, id)
  * ascending order — the per-query candidate buffer of the quantized
  * coarse kernels ([[graft.operators.Bq]] / [[graft.operators.Sq]]).
  * Reference-behavior anchor: the bounded candidate pairs the reference
  * engine keeps per query (`/root/reference/src/index/candidate_pair.rs`),
  * generalized to the rerank-budget sizes the quantized arms need.
  *
  * Two physical layouts behind one monomorphic (final-class) surface,
  * chosen at construction from k:
  *
  *  - k ≤ 256: sorted insertion arrays (binary search +
  *    `System.arraycopy`). The memmove window is small enough that the
  *    straight-line copy beats anything amortized; this is the serving
  *    path for top-k/ef-sized budgets and preserves the r15 kernels'
  *    measured shape.
  *  - k > 256 (rerank candidate budgets, 2k–20k): a LOOSE buffer of
  *    capacity 2k with quickselect tightening. Admits append in O(1);
  *    when the buffer fills, one (distance, id) quickselect keeps the
  *    exact k smallest and tightens the admission bound to the k-th
  *    element. The r16 bounded max-heap paid an O(log k) random-access
  *    sift per admit — ~k·ln(rows/k) admits per query, each a cache
  *    miss across a 32 KB heap, measured at ~10× the hamming arithmetic
  *    on the nq10k coarse pass (kernel timing). Amortized tighten cost is
  *    O(cap) per k appends ≈ O(1) per offered row.
  *
  * Both layouts keep exactly the k smallest elements under strict
  * (distance, id) comparison — an element is admitted iff fewer than k
  * are (logically) held or it strictly precedes the current k-th; the
  * loose layout holds a superset between tightens and [[seal]]s to the
  * exact set before any external read, so admission, and therefore every
  * downstream tie-break, is identical to the sorted layout's. Only the
  * internal order of [[distAt]] / [[idAt]] differs (sorted vs arbitrary
  * post-quickselect order); every consumer re-sorts (bounded aggregate,
  * [[graft.operators.CoarseMerge]]'s per-query sort).
  *
  * Serialization (the distributed-merge shuffle) is compact: seal, then
  * write only the n kept (distance, id) pairs — never the capacity. Both
  * serializer families Spark can put on that shuffle are handled: Java
  * (`writeObject`/`readObject`) and Kryo ([[com.esotericsoftware.kryo.KryoSerializable]]
  * — without it Kryo's FieldSerializer would skip every @transient field
  * and never call `writeObject`, so buffers would arrive with null arrays
  * under `spark.serializer=KryoSerializer`, a common deployment setting on
  * the caller-supplied sessions this library serves).
  */
final class TopBuffer(private var k0: Int)
    extends Serializable with com.esotericsoftware.kryo.KryoSerializable {
  require(k0 > 0, s"TopBuffer needs k > 0 (got $k0)")

  /** Selection budget (fixed at construction; var only so the Kryo read
    * path — which instantiates without a constructor — can restore it). */
  def k: Int = k0
  @transient private[this] var loose = k > TopBuffer.HeapThreshold
  @transient private[this] var ds =
    new Array[Double](if (k > TopBuffer.HeapThreshold) 2 * k else k)
  @transient private[this] var ids =
    new Array[Long](if (k > TopBuffer.HeapThreshold) 2 * k else k)
  @transient private[this] var n = 0
  // exact k-th (distance, id) once a tighten has run; +∞ before — a
  // STALE (looser) bound between tightens only admits extra superset
  // elements, never loses one
  @transient private[this] var boundD = Double.PositiveInfinity
  @transient private[this] var boundI = Long.MaxValue

  /** Elements currently held (≤ k; seals the loose layout first). */
  def size: Int = { seal(); n }

  /** Admission bound: the worst kept distance when k are held, +∞
    * otherwise. Usable directly as the L2 partial-sum early-exit bound —
    * a strictly larger partial sum can never be admitted (equality still
    * completes: the id tie-break may admit it). Loose layout: the bound
    * as of the last tighten (stale-looser is safe, see above). */
  def bound: Double =
    if (loose) boundD
    else if (n == k) ds(k - 1) else Double.PositiveInfinity

  /** Offer one element; logically kept iff fewer than k are held or
    * (d, id) strictly precedes the current worst under (distance, id).
    * The explicit `n < k` arm in loose mode (redundant against a +∞ bound
    * for real distances) keeps NaN admission identical to the sorted
    * layout while under-filled: NaN fails every comparison, so without it
    * a NaN distance would be rejected even into an EMPTY loose buffer —
    * and k ≤ 256 vs k > 256 would select differently on NaN inputs.
    * (Loose n < k implies no tighten has run — tighten always leaves
    * n == k — so the under-filled phases of the two layouts coincide.) */
  def offer(d: Double, id: Long): Unit =
    if (loose) {
      if (n < k || d < boundD || (d == boundD && id < boundI)) {
        if (n == ds.length) tighten()
        ds(n) = d; ids(n) = id
        n += 1
      }
    } else {
      if (n < k || d < ds(n - 1) || (d == ds(n - 1) && id < ids(n - 1))) {
        val m = if (n < k) n else n - 1
        var lo = 0; var hi = m
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (d < ds(mid) || (d == ds(mid) && id < ids(mid))) hi = mid
          else lo = mid + 1
        }
        System.arraycopy(ds, lo, ds, lo + 1, m - lo)
        System.arraycopy(ids, lo, ids, lo + 1, m - lo)
        ds(lo) = d; ids(lo) = id
        if (n < k) n += 1
      }
    }

  /** Quickselect the exact k smallest (distance, id) into [0, k), drop
    * the rest, and tighten the admission bound to the new k-th. */
  private def tighten(): Unit = if (n > k) {
    var lo = 0
    var hi = n - 1
    var seed = (n * 0x9E3779B9L) ^ java.lang.Double.doubleToLongBits(boundD)
    while (lo < hi) {
      // random-ish pivot: absorb feeds already-selected (clustered) data,
      // the classic quickselect worst case for a fixed pivot choice
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val p = lo + (((seed >>> 33) % (hi - lo + 1)).toInt)
      val pd = ds(p); val pi = ids(p)
      // move pivot to hi
      ds(p) = ds(hi); ids(p) = ids(hi); ds(hi) = pd; ids(hi) = pi
      var store = lo
      var i = lo
      while (i < hi) {
        if (ds(i) < pd || (ds(i) == pd && ids(i) < pi)) {
          val td = ds(i); ds(i) = ds(store); ds(store) = td
          val ti = ids(i); ids(i) = ids(store); ids(store) = ti
          store += 1
        }
        i += 1
      }
      ds(hi) = ds(store); ids(hi) = ids(store); ds(store) = pd; ids(store) = pi
      if (store == k - 1) { lo = hi } // done: [0,k) are the k smallest
      else if (store < k - 1) lo = store + 1
      else hi = store - 1
    }
    n = k
    // the k-th kept = the lexicographic max of [0, k)
    var bD = ds(0); var bI = ids(0)
    var j = 1
    while (j < k) {
      if (ds(j) > bD || (ds(j) == bD && ids(j) > bI)) { bD = ds(j); bI = ids(j) }
      j += 1
    }
    boundD = bD; boundI = bI
  }

  /** Trim the loose layout to the exact k smallest (no-op when ≤ k are
    * held, and always for the sorted layout). Called by every external
    * read path ([[size]], serialization). */
  private def seal(): Unit = if (loose && n > k) tighten()

  /** Distance at position p (0 until size; layout order, NOT sorted in
    * loose mode — consumers re-sort). */
  def distAt(p: Int): Double = ds(p)

  /** Id at position p (0 until size; layout order). */
  def idAt(p: Int): Long = ids(p)

  /** Merge another buffer's elements into this one (bounded union — the
    * tree/distributed merge combine of the coarse selection). Offers are
    * the same strict (distance, id) admits, so a merge tree of any shape
    * lands on the exact global top-k. */
  def absorb(other: TopBuffer): TopBuffer = {
    val m = other.size // seals other
    var p = 0
    while (p < m) {
      offer(other.distAt(p), other.idAt(p))
      p += 1
    }
    this
  }

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject() // the non-transient `k0`
    seal()
    out.writeInt(n)
    var i = 0
    while (i < n) { out.writeDouble(ds(i)); i += 1 }
    i = 0
    while (i < n) { out.writeLong(ids(i)); i += 1 }
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject() // the non-transient `k0`
    val m = in.readInt()
    allocate(m)
    var i = 0
    while (i < m) { ds(i) = in.readDouble(); i += 1 }
    i = 0
    while (i < m) { ids(i) = in.readLong(); i += 1 }
    restoreBound()
  }

  /** Kryo mirror of [[writeObject]] — same sealed compact wire format. */
  override def write(kryo: com.esotericsoftware.kryo.Kryo,
      out: com.esotericsoftware.kryo.io.Output): Unit = {
    seal()
    out.writeInt(k0)
    out.writeInt(n)
    var i = 0
    while (i < n) { out.writeDouble(ds(i)); i += 1 }
    i = 0
    while (i < n) { out.writeLong(ids(i)); i += 1 }
  }

  /** Kryo mirror of [[readObject]]; Kryo instantiates without running the
    * constructor, so every field (including k0) restores here. */
  override def read(kryo: com.esotericsoftware.kryo.Kryo,
      in: com.esotericsoftware.kryo.io.Input): Unit = {
    k0 = in.readInt()
    val m = in.readInt()
    allocate(m)
    var i = 0
    while (i < m) { ds(i) = in.readDouble(); i += 1 }
    i = 0
    while (i < m) { ids(i) = in.readLong(); i += 1 }
    restoreBound()
  }

  /** Deserialization restore, step 1: layout + arrays for m held entries. */
  private def allocate(m: Int): Unit = {
    loose = k > TopBuffer.HeapThreshold
    ds = new Array[Double](if (loose) 2 * k else k)
    ids = new Array[Long](if (loose) 2 * k else k)
    n = m
  }

  /** Deserialization restore, step 2: the exact admission bound (a sealed
    * buffer holds ≤ k entries, so full ⇒ bound = lexicographic max). */
  private def restoreBound(): Unit =
    if (n == k) {
      if (loose) {
        var bD = ds(0); var bI = ids(0)
        var j = 1
        while (j < n) {
          if (ds(j) > bD || (ds(j) == bD && ids(j) > bI)) { bD = ds(j); bI = ids(j) }
          j += 1
        }
        boundD = bD; boundI = bI
      }
    } else {
      boundD = Double.PositiveInfinity; boundI = Long.MaxValue
    }
}

object TopBuffer {
  /** Layout crossover: the sorted-array memmove wins below ~256 slots
    * (serving top-k/ef budgets); the loose quickselect buffer wins above
    * (rerank candidate budgets, 2k–20k). */
  val HeapThreshold = 256

  /** Per-(query × slot) task-memory estimate for [[graft.operators.CoarseMerge.spans]]:
    * the loose layout holds 2k slots of 16 B. */
  def slotBytes(k: Int): Long = if (k > HeapThreshold) 32L else 16L
}
