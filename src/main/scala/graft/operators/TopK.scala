package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k buffer: keeps the k smallest (distance, id) pairs, ordered
  * ascending with (distance, id) tie-break — the reference's `ResultSet`
  * (`/root/reference/src/index_algorithm/candidate_pair.rs:31-74`: BTreeSet
  * capped at k, `add` evicts the max, ordering by (distance, index)).
  *
  * Mutable fixed-capacity arrays with in-place shift; lives as a JVM object
  * between rows inside [[TopKAggregate]], so inserts mutate in place — zero
  * allocation per accepted row once capacity is reached. Once full, a
  * candidate worse than the current worst is rejected in O(1), so the
  * steady-state cost per scanned row is one compare.
  *
  * `payloads` is optional (null when the aggregate carries no payload): it
  * lets callers ride an opaque byte payload (e.g. packed metadata) through
  * the aggregation in the same pass as scoring.
  */
final class TopKState(val k: Int, withPayload: Boolean) {
  var ids: Array[Long] = new Array[Long](k)
  var dists: Array[Double] = new Array[Double](k)
  var payloads: Array[Array[Byte]] = if (withPayload) new Array[Array[Byte]](k) else null
  var size: Int = 0

  def hasPayload: Boolean = payloads != null

  /** Insert by (distance, id); O(1) rejection when full and worse than max. */
  def insert(id: Long, distance: Double, payload: Array[Byte]): Unit = {
    if (size == k &&
        (distance > dists(size - 1) ||
          (distance == dists(size - 1) && id >= ids(size - 1)))) return
    // binary search for insertion point by (distance, id)
    var lo = 0; var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (dists(mid) < distance || (dists(mid) == distance && ids(mid) < id)) lo = mid + 1
      else hi = mid
    }
    // shift right in place, dropping the evicted worst element when full
    val nShift = math.min(size, k - 1) - lo
    if (nShift > 0) {
      System.arraycopy(ids, lo, ids, lo + 1, nShift)
      System.arraycopy(dists, lo, dists, lo + 1, nShift)
      if (payloads != null) System.arraycopy(payloads, lo, payloads, lo + 1, nShift)
    }
    if (lo < k) {
      ids(lo) = id; dists(lo) = distance
      if (payloads != null) payloads(lo) = payload
      if (size < k) size += 1
    }
  }

  def merge(other: TopKState): Unit = {
    var i = 0
    while (i < other.size) {
      insert(other.ids(i), other.dists(i), if (other.payloads == null) null else other.payloads(i))
      i += 1
    }
  }
}

/** Map-side-combinable top-k aggregate: `groupBy(queryId).agg(topK(k))` keeps
  * only k rows per group per partition before the shuffle, so a batch-KNN
  * over N base rows × Q queries shuffles Q·partitions·k rows, not N·Q.
  * This is the distributed analog of the reference's single-threaded bounded
  * scan (`/root/reference/src/index_algorithm/flat_index.rs:48-57`).
  *
  * Implemented as a native `TypedImperativeAggregate` so the per-row update
  * reads `(long, double)` primitives straight from the `InternalRow` — no
  * encoder round-trip per scanned row (the round-2 udaf/Aggregator version
  * spent ~90% of hot-loop CPU deserializing each input row into a case
  * class; that cost scaled with N, not k).
  *
  * Returns the ascending (distance, id)-sorted hit array directly, so callers
  * that want per-query arrays (ground-truth gen) need no second shuffle.
  *
  * Deployment note: `ObjectHashAggregateExec` falls back to SORT-based
  * aggregation after `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (default 128) distinct keys per task — which sorts every scanned row
  * (measured: 128 MB sort pointer arrays per task on a 200M-pair scan)
  * even though this state is k-bounded and the hash map stays tiny. Set
  * the threshold at or above the expected distinct query count per task
  * (graft's Verify session uses 8192).
  */
case class TopKAggregate(
    idExpr: Expression,
    distExpr: Expression,
    payloadExpr: Option[Expression],
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState] {

  require(k > 0, s"top-k requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(idExpr, distExpr) ++ payloadExpr

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(
    StructType(
      Seq(
        StructField("id", LongType, nullable = false),
        StructField("distance", DoubleType, nullable = false)) ++
        payloadExpr.map(_ => StructField("payload", StringType, nullable = true))),
    containsNull = false)

  override def createAggregationBuffer(): TopKState =
    new TopKState(k, payloadExpr.isDefined)

  // After planning, the id/distance children are BoundReferences into the
  // child projection (operators project the distance before aggregating).
  // Reading the primitives straight off the InternalRow avoids boxing a
  // (java.lang.Long, java.lang.Double) pair per SCANNED row — at a 200M-pair
  // batch-KNN scan that boxing was GC-bound and ~7× the serving path.
  private lazy val idOrd: Int = idExpr match {
    case b: BoundReference if b.dataType == LongType => b.ordinal
    case _ => -1
  }
  private lazy val distOrd: Int = distExpr match {
    case b: BoundReference if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }

  override def update(buffer: TopKState, input: InternalRow): TopKState = {
    if (idOrd >= 0 && distOrd >= 0) {
      if (!input.isNullAt(idOrd) && !input.isNullAt(distOrd)) {
        val p = payloadExpr match {
          case Some(pe) =>
            val pv = pe.eval(input)
            if (pv == null) null else pv.asInstanceOf[UTF8String].getBytes
          case None => null
        }
        buffer.insert(input.getLong(idOrd), input.getDouble(distOrd), p)
      }
    } else {
      val idV = idExpr.eval(input)
      val dV = distExpr.eval(input)
      if (idV != null && dV != null) {
        val p = payloadExpr match {
          case Some(pe) =>
            val pv = pe.eval(input)
            // copy out of the (possibly reused) input row buffer
            if (pv == null) null else pv.asInstanceOf[UTF8String].getBytes
          case None => null
        }
        buffer.insert(idV.asInstanceOf[Long], dV.asInstanceOf[Double], p)
      }
    }
    buffer
  }

  override def merge(buffer: TopKState, input: TopKState): TopKState = {
    buffer.merge(input); buffer
  }

  override def eval(buffer: TopKState): Any = {
    val rows = new Array[Any](buffer.size)
    var i = 0
    while (i < buffer.size) {
      rows(i) =
        if (buffer.hasPayload) {
          val p = buffer.payloads(i)
          InternalRow(buffer.ids(i), buffer.dists(i),
            if (p == null) null else UTF8String.fromBytes(p))
        } else InternalRow(buffer.ids(i), buffer.dists(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: TopKState): Array[Byte] = {
    var payloadBytes = 0
    if (buffer.hasPayload) {
      var i = 0
      while (i < buffer.size) {
        payloadBytes += 4 + (if (buffer.payloads(i) == null) 0 else buffer.payloads(i).length)
        i += 1
      }
    }
    val bb = ByteBuffer.allocate(1 + 4 + buffer.size * 16 + payloadBytes)
    bb.put(if (buffer.hasPayload) 1.toByte else 0.toByte)
    bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) {
      bb.putLong(buffer.ids(i)); bb.putDouble(buffer.dists(i)); i += 1
    }
    if (buffer.hasPayload) {
      i = 0
      while (i < buffer.size) {
        val p = buffer.payloads(i)
        if (p == null) bb.putInt(-1) else { bb.putInt(p.length); bb.put(p) }
        i += 1
      }
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val bb = ByteBuffer.wrap(bytes)
    val withPayload = bb.get() == 1.toByte
    val state = new TopKState(k, withPayload)
    val n = bb.getInt()
    var i = 0
    while (i < n) { state.ids(i) = bb.getLong(); state.dists(i) = bb.getDouble(); i += 1 }
    if (withPayload) {
      i = 0
      while (i < n) {
        val len = bb.getInt()
        if (len >= 0) {
          val p = new Array[Byte](len); bb.get(p); state.payloads(i) = p
        }
        i += 1
      }
    }
    state.size = n
    state
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(idExpr = newChildren(0), distExpr = newChildren(1),
      payloadExpr = if (newChildren.length > 2) Some(newChildren(2)) else None)

  override def prettyName: String = "top_k"
}

object TopK {
  private def e(c: Column): Expression = ColumnShim.expression(c)

  /** A Column aggregate: usage
    * `df.groupBy("query_id").agg(TopK.topK(k)(col("id"), col("distance")))`.
    * Output: ascending (distance, id)-sorted `array<struct<id,distance>>`. */
  def topK(k: Int)(id: Column, distance: Column): Column =
    ColumnShim.column(
      TopKAggregate(e(id), e(distance), None, k).toAggregateExpression())

  /** Top-k carrying an opaque string payload per hit — the reference's J2
    * "attach metadata to hits" (`/root/reference/src/database/metadata_vec_table.rs:210-211`)
    * in the same single pass as scoring. */
  def topKRows(k: Int)(id: Column, distance: Column, payload: Column): Column =
    ColumnShim.column(
      TopKAggregate(e(id), e(distance), Some(e(payload)), k).toAggregateExpression())
}
