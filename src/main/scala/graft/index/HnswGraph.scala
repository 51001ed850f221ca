package graft.index

import scala.collection.mutable
import scala.util.Random

/** Growable primitive int list — adjacency storage without the boxing a
  * `mutable.ArrayBuffer[Int]` pays per element. */
private[index] final class IntList(initialCap: Int = 8) {
  private var arr = new Array[Int](math.max(initialCap, 4))
  var size: Int = 0
  @inline def apply(i: Int): Int = arr(i)
  def add(v: Int): Unit = {
    if (size == arr.length) arr = java.util.Arrays.copyOf(arr, size * 2)
    arr(size) = v; size += 1
  }
  def clear(): Unit = size = 0
  def toArray: Array[Int] = java.util.Arrays.copyOf(arr, size)
  def addAll(vs: Array[Int]): Unit = { var i = 0; while (i < vs.length) { add(vs(i)); i += 1 } }
  /** Retained heap bytes (backing-array capacity + headers). */
  def retainedBytes: Long = arr.length.toLong * 4 + 24
}

/** Min-heap of (distance, index) in (distance, index) order — the search
  * frontier, primitive arrays, reused across searches via
  * [[HnswSearchCtx]]. Top-level (not an inner class) so a pooled instance
  * holds no reference to any graph. */
private[index] final class CandidateHeap(initialCap: Int) {
  private var ds = new Array[Double](math.max(initialCap, 16))
  private var is = new Array[Int](ds.length)
  private var n = 0

  def isEmpty: Boolean = n == 0
  def clear(): Unit = n = 0

  @inline private def lessAt(a: Int, b: Int): Boolean =
    ds(a) < ds(b) || (ds(a) == ds(b) && is(a) < is(b))

  @inline private def swap(a: Int, b: Int): Unit = {
    val td = ds(a); ds(a) = ds(b); ds(b) = td
    val ti = is(a); is(a) = is(b); is(b) = ti
  }

  def push(d: Double, i: Int): Unit = {
    if (n == ds.length) {
      ds = java.util.Arrays.copyOf(ds, n * 2)
      is = java.util.Arrays.copyOf(is, n * 2)
    }
    ds(n) = d; is(n) = i
    var c = n; n += 1
    while (c > 0 && lessAt(c, (c - 1) >>> 1)) {
      swap(c, (c - 1) >>> 1); c = (c - 1) >>> 1
    }
  }

  var popDist: Double = 0.0
  var popIdx: Int = -1

  /** Pop the min into (popDist, popIdx). */
  def pop(): Unit = {
    popDist = ds(0); popIdx = is(0)
    n -= 1
    if (n > 0) {
      ds(0) = ds(n); is(0) = is(n)
      var c = 0
      var continue = true
      while (continue) {
        val l = 2 * c + 1; val r = l + 1
        var s = c
        if (l < n && lessAt(l, s)) s = l
        if (r < n && lessAt(r, s)) s = r
        if (s == c) continue = false
        else { swap(c, s); c = s }
      }
    }
  }
}

/** Per-thread reusable search state: visited-epoch array (bump the epoch
  * instead of clearing — O(1) reset per search), frontier heap, link
  * scratch. ONE instance per thread, shared across graphs (sized up to the
  * largest `n` seen) and holding no graph reference — a ThreadLocal of an
  * inner class would keep an evicted multi-GB graph reachable from
  * long-lived executor threads until ThreadLocalMap expungement. */
private[index] final class HnswSearchCtx {
  var visited = new Array[Int](16)
  var epoch = 0
  val heap = new CandidateHeap(64)
  val scratch = new IntList(64)
  def begin(n: Int): Unit = {
    if (visited.length < n) {
      visited = new Array[Int](math.max(n, visited.length * 2))
      epoch = 0
    }
    if (epoch == Int.MaxValue) {
      java.util.Arrays.fill(visited, 0)
      epoch = 0
    }
    epoch += 1
    heap.clear()
  }
  @inline def seen(i: Int): Boolean = visited(i) == epoch
  @inline def mark(i: Int): Unit = visited(i) = epoch
}

/** In-memory HNSW proximity graph over a local block of vectors — the
  * per-partition subgraph unit of the distributed HNSW operator
  * ([[graft.operators.Hnsw]]). Faithful port of the reference's algorithm:
  *
  *  - config normalization `max_m0 = 2M`, `ef_construction = max(ef_c, 2M)`,
  *    `default_ef = ef_c/2`, `inv_log_m = 1/ln M`
  *    (`/root/reference/src/index_algorithm/hnsw_index.rs:495-506`);
  *  - seeded geometric level draw `floor(−ln U · 1/ln M)` (`144-147`);
  *  - insert: greedy descent to the node's level, per-level beam search with
  *    `ef_construction`, heuristic neighbor selection capped at M, and
  *    bidirectional link fix-up re-pruned at M/2M (`538-572`, `204-239`);
  *  - search: greedy descent to level 0, bounded best-first beam with early
  *    exit when the best open candidate cannot improve the k-th result
  *    (`258-291`, `306-350`, `626-637`), `ef := max(ef, k)`;
  *  - the diversity heuristic: keep a candidate iff it is closer to the
  *    query than to every already-kept neighbor
  *    (`/root/reference/src/index_algorithm/candidate_pair.rs:85-99`).
  *
  * Storage is a single packed `float[]` matrix (row `i` at `i*dim`) — no
  * per-vector object, no pointer chase in the walk — and per-THREAD search
  * state (visited-epoch array + frontier heap) is pooled in a ThreadLocal,
  * so concurrent serving threads share one immutable graph with zero
  * per-query allocation of visited sets. Build (`add`) remains
  * single-threaded by design: one graph per Spark task; parallelism comes
  * from partitioning, not intra-graph threading (the reference's rayon
  * batch path, `hnsw_index.rs:399-457`, is a single-process workaround for
  * what Spark tasks give us directly).
  */
final class HnswGraph(
    val dim: Int,
    val dist: String,
    mParam: Int = 16,
    efConstructionParam: Int = 200,
    seed: Long = 42L) {

  val m: Int = math.min(mParam, 10000)
  val maxM0: Int = m * 2
  val efConstruction: Int = math.max(efConstructionParam, maxM0)
  val defaultEf: Int = efConstruction / 2
  private val invLogM = 1.0 / math.log(m.toDouble)
  private val rng = new Random(seed)
  private val isCosine = dist == "cosine"

  /** Packed vectors: row i occupies [i*dim, (i+1)*dim). */
  private var packed = new Array[Float](dim * 256)
  /** Cached ‖row‖² (double accumulation) — the BUILD distance identity
    * ‖a−b‖² = ‖a‖² + ‖b‖² − 2a·b halves the per-eval FLOP streams
    * (dot-only fma vs sub+fma) on the insert hot path, the reference's
    * own build trick (`hnsw_index.rs:136-141`). Search-time traversal
    * keeps the direct kernels (and results are exact-rescored anyway);
    * r19 insert-stage timing measured beam = 81-75% of build CPU.
    * 8 B/row. */
  private var norms = new Array[Double](256)
  private var n = 0
  private val vecLevel = new IntList(256)
  // links(node)(level) — growable adjacency per level 0..vecLevel(node)
  private val links = mutable.ArrayBuffer.empty[Array[IntList]]
  private var enterLevel = -1
  private var enterPoint = -1

  def size: Int = n

  /** Approximate retained heap bytes (packed-vector capacity + adjacency
    * capacities + headers) — the budget unit [[HnswGraphCache]] evicts by.
    * O(nodes·levels) array-length walk; called once per cache insert,
    * which itself cost O(nodes·dim). */
  def byteSize: Long = {
    var b = packed.length.toLong * 4 + norms.length.toLong * 8 +
      vecLevel.retainedBytes + 96
    var i = 0
    while (i < links.length) {
      val ls = links(i)
      b += 24
      var j = 0
      while (j < ls.length) { b += ls(j).retainedBytes; j += 1 }
      i += 1
    }
    b
  }

  private def appendVec(vec: Array[Float]): Unit = {
    require(vec.length == dim, s"HNSW: dimension mismatch (${vec.length} vs $dim)")
    if ((n + 1) * dim > packed.length)
      packed = java.util.Arrays.copyOf(packed, math.max(packed.length * 2, (n + 1) * dim))
    if (n + 1 > norms.length)
      norms = java.util.Arrays.copyOf(norms, math.max(norms.length * 2, n + 1))
    System.arraycopy(vec, 0, packed, n * dim, dim)
    norms(n) = Simd.dot(vec, vec)
    n += 1
  }

  /** Traversal distance: SIMD float kernels — the reference's own f32
    * accumulation (`/root/reference/src/distance/mod.rs:71-85`). Search
    * results are re-scored with the exact double kernels before being
    * returned. */
  @inline private def distTo(idx: Int, q: Array[Float]): Double =
    if (isCosine) Simd.cosineOff(q, packed, idx * dim)
    else Simd.l2sqOff(q, packed, idx * dim)

  /** BUILD-path node distance: the cached-norm identity when a query
    * norm is supplied (L2 only — cosine is already dot-shaped), the
    * direct kernel otherwise. One predictable branch per eval; the
    * identity's cancellation error only perturbs near-ties in an
    * already-approximate graph construction (search results are
    * exact-rescored). */
  @inline private def distTo(idx: Int, q: Array[Float], qNorm: Double): Double =
    if (isCosine) Simd.cosineOff(q, packed, idx * dim)
    else if (java.lang.Double.isNaN(qNorm)) Simd.l2sqOff(q, packed, idx * dim)
    else norms(idx) + qNorm - 2.0 * Simd.dotOff(q, packed, idx * dim)

  /** Node-node distance — BUILD-ONLY call sites (heuristic selection +
    * link fix-up), so L2 always takes the cached-norm identity. */
  @inline private def distBetween(i: Int, j: Int): Double =
    if (isCosine) Simd.cosineOff2(packed, i * dim, packed, j * dim, dim)
    else norms(i) + norms(j) -
      2.0 * Simd.dotOff2(packed, i * dim, packed, j * dim, dim)

  /** Double-accumulation distance matching the Spark-side `VecDistance`. */
  @inline private def exactDistTo(idx: Int, q: Array[Float]): Double =
    if (isCosine) Simd.cosineExactOff(q, packed, idx * dim)
    else Simd.l2sqExactOff(q, packed, idx * dim)

  private def randLevel(): Int = {
    var u = rng.nextDouble()
    while (u <= 0.0) u = rng.nextDouble()
    math.floor(-math.log(u) * invLogM).toInt
  }

  private def linksLimit(level: Int): Int = if (level == 0) maxM0 else m

  /** Bounded ascending (distance, index) set — the reference's `ResultSet`
    * (`candidate_pair.rs:42-74`), as sorted parallel primitive arrays: the
    * hot path of every search/insert, so no boxing, no tree nodes.
    * Ordering and eviction semantics preserved exactly: ascending
    * (distance, index); when full, replacement needs strictly smaller
    * distance; `checkCandidate` admits distance ties with a smaller index.
    */
  private final class ResultSet(val k: Int) {
    private val ds = new Array[Double](k)
    private val is = new Array[Int](k)
    var size: Int = 0

    def firstIdx: Int = is(0)
    def distAt(p: Int): Double = ds(p)
    def idxAt(p: Int): Int = is(p)

    @inline private def less(d: Double, i: Int, pos: Int): Boolean =
      d < ds(pos) || (d == ds(pos) && i < is(pos))

    /** Worth expanding this candidate's neighbors? (`check_candidate`) */
    def checkCandidate(d: Double, i: Int): Boolean =
      size < k || less(d, i, size - 1)

    /** Insert with max-eviction; replacement needs strictly smaller
      * distance (`ResultSet::add`). */
    def add(d: Double, i: Int): Unit = {
      if (size == k) {
        if (d >= ds(k - 1)) return
        size -= 1
      }
      // binary search for the insertion point in (distance, index) order
      var lo = 0; var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (less(d, i, mid)) hi = mid else lo = mid + 1
      }
      System.arraycopy(ds, lo, ds, lo + 1, size - lo)
      System.arraycopy(is, lo, is, lo + 1, size - lo)
      ds(lo) = d; is(lo) = i
      size += 1
    }

    /** Diversity heuristic (`candidate_pair.rs:85-99`): ascending scan, keep
      * a candidate iff it is closer to the query than to every kept one. */
    def heuristic(limit: Int, kept: IntList): Unit = {
      kept.clear()
      var p = 0
      var continue = true
      while (continue && p < size) {
        val d = ds(p); val v = is(p)
        if (kept.size >= limit) continue = false
        else {
          var ok = true
          var qi = 0
          while (ok && qi < kept.size) {
            if (distBetween(v, kept(qi)) < d) ok = false
            qi += 1
          }
          if (ok) kept.add(v)
        }
        p += 1
      }
    }
  }

  private def searchOnLevel(
      enter: Int, level: Int, ef: Int, q: Array[Float],
      qNorm: Double = Double.NaN): ResultSet = {
    val ctx = HnswGraph.ctxTL.get()
    ctx.begin(n)
    val queue = ctx.heap
    val result = new ResultSet(ef)
    ctx.mark(enter)
    val d0 = distTo(enter, q, qNorm)
    result.add(d0, enter)
    queue.push(d0, enter)
    var continue = true
    while (continue && !queue.isEmpty) {
      queue.pop()
      if (!result.checkCandidate(queue.popDist, queue.popIdx)) continue = false
      else {
        val nbrs = links(queue.popIdx)(level)
        var i = 0
        while (i < nbrs.size) {
          val p = nbrs(i)
          if (!ctx.seen(p)) {
            ctx.mark(p)
            val nd = distTo(p, q, qNorm)
            result.add(nd, p)
            queue.push(nd, p)
          }
          i += 1
        }
      }
    }
    result
  }

  /** [[searchOnLevel]] with a pluggable node-distance function — the
    * reference's `search_on_level_fn` (`hnsw_index.rs:293-325` family),
    * used by the PQ-ADC traversal where walk distances come from a code
    * lookup, not the stored vectors. Kept separate from the exact path so
    * the latter stays monomorphic. */
  private def searchOnLevelFn(
      enter: Int, level: Int, ef: Int, distFn: Int => Double): ResultSet = {
    val ctx = HnswGraph.ctxTL.get()
    ctx.begin(n)
    val queue = ctx.heap
    val result = new ResultSet(ef)
    ctx.mark(enter)
    val d0 = distFn(enter)
    result.add(d0, enter)
    queue.push(d0, enter)
    var continue = true
    while (continue && !queue.isEmpty) {
      queue.pop()
      if (!result.checkCandidate(queue.popDist, queue.popIdx)) continue = false
      else {
        val nbrs = links(queue.popIdx)(level)
        var i = 0
        while (i < nbrs.size) {
          val p = nbrs(i)
          if (!ctx.seen(p)) {
            ctx.mark(p)
            val nd = distFn(p)
            result.add(nd, p)
            queue.push(nd, p)
          }
          i += 1
        }
      }
    }
    result
  }

  private def greedyOnLevelFn(level: Int, enter: Int, distFn: Int => Double): Int = {
    var curP = enter
    var curD = distFn(curP)
    var improved = true
    while (improved) {
      improved = false
      val nbrs = links(curP)(level)
      var i = 0
      while (i < nbrs.size) {
        val p = nbrs(i)
        val nd = distFn(p)
        if (nd < curD) { curD = nd; curP = p; improved = true }
        i += 1
      }
    }
    curP
  }

  private def greedyUntilLevelFn(targetLevel: Int, distFn: Int => Double): Int = {
    var level = enterLevel
    var curP = enterPoint
    while (level > targetLevel) {
      curP = greedyOnLevelFn(level, curP, distFn)
      level -= 1
    }
    curP
  }

  private def greedyOnLevel(level: Int, enter: Int, q: Array[Float],
      qNorm: Double = Double.NaN): Int = {
    var curP = enter
    var curD = distTo(curP, q, qNorm)
    var improved = true
    while (improved) {
      improved = false
      val nbrs = links(curP)(level)
      var i = 0
      while (i < nbrs.size) {
        val p = nbrs(i)
        val nd = distTo(p, q, qNorm)
        if (nd < curD) { curD = nd; curP = p; improved = true }
        i += 1
      }
    }
    curP
  }

  private def greedyUntilLevel(targetLevel: Int, q: Array[Float],
      qNorm: Double = Double.NaN): Int = {
    var level = enterLevel
    var curP = enterPoint
    while (level > targetLevel) {
      curP = greedyOnLevel(level, curP, q, qNorm)
      level -= 1
    }
    curP
  }

  /** Push a link, re-pruning heuristically at the level's limit
    * (`arrange_links`, `hnsw_index.rs:204-224`). */
  private def arrangeLinks(vecIdx: Int, level: Int, newVecIdx: Int): Unit = {
    val limit = linksLimit(level)
    val l = links(vecIdx)(level)
    l.add(newVecIdx)
    if (l.size <= limit) return
    val set = new ResultSet(limit + 1)
    var i = 0
    while (i < l.size) { set.add(distBetween(vecIdx, l(i)), l(i)); i += 1 }
    val kept = HnswGraph.ctxTL.get().scratch
    set.heuristic(limit, kept)
    l.clear()
    i = 0
    while (i < kept.size) { l.add(kept(i)); i += 1 }
  }

  /** Set a fresh node's neighbors (≤ M even at level 0) and fix up the
    * reverse links (`connect_new_links`, `hnsw_index.rs:226-239`). */
  private def connectNewLinks(vecIdx: Int, level: Int, candidates: ResultSet): Unit = {
    val kept = HnswGraph.ctxTL.get().scratch
    candidates.heuristic(m, kept)
    val l = links(vecIdx)(level)
    val neighbors = kept.toArray
    l.addAll(neighbors)
    var i = 0
    while (i < neighbors.length) { arrangeLinks(neighbors(i), level, vecIdx); i += 1 }
  }

  /** Drop growth slack in the packed-vector matrix (post-load; see
    * [[HnswGraph.fromNodes]]). */
  private[index] def trimToSize(): Unit = {
    if (packed.length > n * dim)
      packed = java.util.Arrays.copyOf(packed, n * dim)
    if (norms.length > n)
      norms = java.util.Arrays.copyOf(norms, n)
  }

  /** Append a node with precomputed structure (deserialization path — does
    * not search or mutate other nodes' links). */
  private[index] def loadNode(
      vec: Array[Float], level: Int, ls: Array[Array[Int]]): Unit = {
    appendVec(vec)
    vecLevel.add(level)
    links += ls.map { a => val il = new IntList(a.length); il.addAll(a); il }
    if (level > enterLevel) { enterLevel = level; enterPoint = n - 1 }
  }

  /** B5 — single insert (`HNSWIndex::add`, `hnsw_index.rs:538-572`). */
  def add(vec: Array[Float]): Int = {
    val level = randLevel()
    val idx = n
    appendVec(vec)
    vecLevel.add(level)
    links += Array.fill(level + 1)(new IntList(8))
    if (enterPoint < 0) {
      enterLevel = level; enterPoint = idx
      return idx
    }
    // the cached-norm build identity: this row's norm was just appended
    val qNorm = if (isCosine) Double.NaN else norms(idx)
    var curP =
      if (level < enterLevel) greedyUntilLevel(level, vec, qNorm)
      else enterPoint
    var lv = math.min(level, enterLevel)
    while (lv >= 0) {
      val candidates = searchOnLevel(curP, lv, efConstruction, vec, qNorm)
      curP = candidates.firstIdx
      connectNewLinks(idx, lv, candidates)
      lv -= 1
    }
    if (level > enterLevel) { enterLevel = level; enterPoint = idx }
    idx
  }

  /** T4+T5 — KNN search (`knn_with_ef`, `hnsw_index.rs:626-637`):
    * `ef := max(ef, k)`, greedy descent to level 0, beam, top-k ascending.
    * The ef-sized float-ordered candidate set is re-scored with the exact
    * double kernel and re-sorted before the top-k cut, so returned
    * distances (and the k-selection among the beam's survivors) match the
    * engine's double-accumulation convention bit-for-bit.
    *
    * Primitive-array variant: fills `outIds`/`outDists` (caller-allocated,
    * length ≥ k) ascending by (distance, index) and returns the hit count —
    * the zero-allocation serving hot path. With `order` (a key per local
    * index, e.g. the table ids of a subgraph's nodes), distance ties are
    * cut by (distance, order(index)) instead, so a subgraph whose local
    * indices do not follow the table's ids keeps the tied rows the exact
    * top-k keeps. `full = true` re-ranks the
    * whole ef-sized set with no envelope skip: the reference path the
    * envelope is A/B-tested against. */
  def searchInto(
      q: Array[Float], k: Int, ef: Int,
      outIds: Array[Int], outDists: Array[Double],
      full: Boolean = false, order: Array[Long] = null): Int = {
    if (n == 0) return 0
    val efq = math.max(ef, k)
    val enter = greedyUntilLevel(0, q)
    val result = searchOnLevel(enter, 0, efq, q)
    // exact re-score + bounded (distance, index) top-k insert. The beam's
    // distances are float-tier SIMD values within the same empirically-
    // validated error envelope as Knn.exactBroadcast's prefilter, and the
    // result set is ASCENDING in them — so once the k-th exact distance is
    // more than one envelope below the next float distance, no later
    // survivor can enter the top-k and the rescore stops. Exact rescores
    // drop from ef to ~k; HnswSpec A/Bs selection equality against the
    // full rescore (incl. forced exact ties) on both metrics.
    val rel = HnswGraph.envRel(dim)
    val abs = HnswGraph.envAbs(dim)
    var cnt = 0
    var p = 0
    var break = false
    while (!break && p < result.size) {
      if (!full && cnt == k &&
          result.distAt(p) > outDists(cnt - 1) + math.abs(outDists(cnt - 1)) * rel + abs)
        break = true
      else {
        val idx = result.idxAt(p)
        val d = exactDistTo(idx, q)
        cnt = topkInsert(outIds, outDists, cnt, k, idx, d, order)
        p += 1
      }
    }
    cnt
  }

  /** Bounded ascending (distance, index) insert into caller arrays — ties
    * by `order(index)` when `order` is given; returns the new count.
    * Replacement at the boundary needs a strictly smaller key — the shared
    * tail of [[searchInto]]/[[searchFnInto]]. */
  @inline private def topkInsert(
      outIds: Array[Int], outDists: Array[Double], cnt: Int, k: Int,
      idx: Int, d: Double, order: Array[Long]): Int = {
    @inline def before(a: Int, b: Int): Boolean =
      if (order == null) a < b else order(a) < order(b)
    if (cnt < k || d < outDists(cnt - 1) ||
        (d == outDists(cnt - 1) && before(idx, outIds(cnt - 1)))) {
      var lo = 0; var hi = cnt
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (outDists(mid) < d || (outDists(mid) == d && before(outIds(mid), idx))) lo = mid + 1
        else hi = mid
      }
      val nShift = math.min(cnt, k - 1) - lo
      if (nShift > 0) {
        System.arraycopy(outIds, lo, outIds, lo + 1, nShift)
        System.arraycopy(outDists, lo, outDists, lo + 1, nShift)
      }
      if (lo < k) {
        outIds(lo) = idx; outDists(lo) = d
        if (cnt < k) return math.min(cnt + 1, k)
      }
    }
    cnt
  }

  /** T4+T5 with approximate walk distances — the reference's
    * `HNSWIndex::knn_pq` (`hnsw_index.rs:672-697`): greedy-descend and
    * beam-search the graph scoring nodes with `distFn` (an ADC code
    * lookup), then `pq_resort` the ef survivors with the EXACT double
    * kernel against the stored vectors and cut to top-k. Output contract
    * matches [[searchInto]] (ascending (distance, id), exact distances);
    * only the walk's selection is approximate.
    *
    * Fills `outIds`/`outDists` (caller-allocated, length ≥ k), returns the
    * hit count; `order` cuts distance ties as in [[searchInto]]. */
  def searchFnInto(
      distFn: Int => Double, q: Array[Float], k: Int, ef: Int,
      outIds: Array[Int], outDists: Array[Double],
      full: Boolean = false, order: Array[Long] = null): Int = {
    if (n == 0) return 0
    val efq = math.max(ef, k)
    val enter = greedyUntilLevelFn(0, distFn)
    val result = searchOnLevelFn(enter, 0, efq, distFn)
    // pq_resort: exact re-score + bounded (distance, index) top-k insert.
    // The beam's ADC distances carry quantization error with no usable
    // bound, so unlike [[searchInto]] every survivor must be re-scored
    // against the stored vector — but with the FLOAT SIMD kernel first:
    // only candidates whose float distance lands within the
    // empirically-validated error envelope of the current k-th exact
    // distance pay the scalar double kernel (same envelope and argument as
    // Knn.exactBroadcast's prefilter; HnswSpec A/Bs selection equality).
    // Survivors scan in ascending ADC order, so the exact top-k tightens
    // within the first ~k candidates and the envelope rejects most of the
    // rest: the ef-sized scalar-double resort (~40% of walk time at
    // d960/ef180) becomes ef SIMD evals + ~k scalar ones.
    val rel = HnswGraph.envRel(dim)
    val abs = HnswGraph.envAbs(dim)
    var cnt = 0
    var p = 0
    while (p < result.size) {
      val idx = result.idxAt(p)
      val skip = !full && cnt == k && {
        val dF = distTo(idx, q)
        dF > outDists(cnt - 1) + math.abs(outDists(cnt - 1)) * rel + abs
      }
      if (!skip) {
        val d = exactDistTo(idx, q)
        cnt = topkInsert(outIds, outDists, cnt, k, idx, d, order)
      }
      p += 1
    }
    cnt
  }

  /** Tuple-returning wrapper over [[searchInto]] (tests / non-hot callers).
    * Returns (localIndex, distance) pairs ascending by (distance, index). */
  def search(q: Array[Float], k: Int, ef: Int): Array[(Int, Double)] = {
    val ids = new Array[Int](math.max(k, 1))
    val ds = new Array[Double](math.max(k, 1))
    val cnt = searchInto(q, k, ef, ids, ds)
    Array.tabulate(cnt)(i => (ids(i), ds(i)))
  }

  def searchDefault(q: Array[Float], k: Int): Array[(Int, Double)] =
    search(q, k, defaultEf)

  // ------------------------------------------------------- S5 (de)serialize

  /** Export one node's structure: (vector, level, links per level 0..level).
    * With [[HnswGraph.fromNodes]] this round-trips the graph exactly
    * (vectors + levels + adjacency determine search behavior; the entry
    * point is recomputed as the first node of the maximum level, which is
    * how insertion maintains it — `enterLevel` only increases on strictly
    * greater levels). */
  def exportNode(i: Int): (Array[Float], Int, Array[Array[Int]]) =
    (vecAt(i), vecLevel(i), links(i).map(_.toArray))

  /** A copy of node `i`'s vector, as inserted. */
  def vecAt(i: Int): Array[Float] =
    java.util.Arrays.copyOfRange(packed, i * dim, (i + 1) * dim)
}

object HnswGraph {

  /** Shared per-thread search state (see [[HnswSearchCtx]]): static so the
    * pooled arrays never pin a graph instance after cache eviction. */
  private[index] val ctxTL: ThreadLocal[HnswSearchCtx] =
    ThreadLocal.withInitial(() => new HnswSearchCtx)

  /** Float-kernel error envelope for the re-rank prefilter — the same
    * constants as `Knn.exactBroadcast`'s SIMD prefilter. This is an
    * empirical error model, not a proof: accumulation error grows
    * ~dim·2⁻²⁴ relative, and for L2 the margin over observed error is
    * >20×, but for cosine at d≈960 the absolute term (~2.3e-4) covers
    * normalized-dot cancellation error by only ~2-4×. Fixture changes that
    * introduce large-magnitude coordinates should re-validate via
    * HnswSpec's envelope A/B. */
  @inline private[index] def envRel(dim: Int): Double = 1e-3 + dim * 2.4e-7
  @inline private[index] def envAbs(dim: Int): Double = 1e-6 + dim * 2.4e-7

  /** Rebuild a graph from exported nodes without re-running insertion —
    * the load half of S5 (`IndexSerde::load`,
    * `/root/reference/src/index_algorithm/mod.rs:120-141`). Nodes must be
    * supplied in their original local order. */
  def fromNodes(
      dim: Int,
      dist: String,
      m: Int,
      efConstruction: Int,
      nodes: Iterator[(Array[Float], Int, Array[Array[Int]])]): HnswGraph = {
    val g = new HnswGraph(dim, dist, m, efConstruction)
    nodes.foreach { case (vec, level, ls) => g.loadNode(vec, level, ls) }
    // a loaded graph is immutable from here: trim the doubling-growth
    // slack so cached (byte-budgeted) graphs retain exactly n·dim floats —
    // an unlucky n just past a power of two would otherwise pin ~2× the
    // vector bytes for its whole cache lifetime
    g.trimToSize()
    g
  }
}
