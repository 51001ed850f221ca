package vecbench

/** The benchmark's own exact distances and brute-force top-k, in double
  * precision. Independent of the engine: nothing here calls `graft`. */
object Truth {
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    // four independent accumulators: same exactness, 4× the ILP
    var s0, s1, s2, s3 = 0.0
    var i = 0
    val end = a.length & ~3
    while (i < end) {
      val d0 = a(i).toDouble - b(i); val d1 = a(i + 1).toDouble - b(i + 1)
      val d2 = a(i + 2).toDouble - b(i + 2); val d3 = a(i + 3).toDouble - b(i + 3)
      s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
      i += 4
    }
    while (i < a.length) { val d = a(i).toDouble - b(i); s0 += d * d; i += 1 }
    (s0 + s1) + (s2 + s3)
  }

  /** Cosine distance with the engine's documented 1e-10 norm clamp. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    1.0 - d / math.max(math.sqrt(na) * math.sqrt(nb), 1e-10)
  }

  def distance(kind: String): (Array[Float], Array[Float]) => Double =
    if (kind == "cosine") cosine else l2sq

  /** Exact top-k over rows `[0, live)` of `corpus`, ascending (distance, id). */
  def topK(corpus: Corpus, live: Int, q: Array[Float], k: Int,
      dist: (Array[Float], Array[Float]) => Double): Array[(Double, Long)] = {
    val ds = Array.fill(k)(Double.PositiveInfinity)
    val ids = Array.fill(k)(Long.MaxValue)
    var n = 0
    var i = 0
    while (i < live) {
      val d = dist(q, corpus(i))
      if (n < k || d < ds(k - 1)) {
        var p = math.min(n, k - 1)
        while (p > 0 && ds(p - 1) > d) { ds(p) = ds(p - 1); ids(p) = ids(p - 1); p -= 1 }
        ds(p) = d; ids(p) = i
        if (n < k) n += 1
      }
      i += 1
    }
    Array.tabulate(n)(j => (ds(j), ids(j)))
  }

  /** Distances agree within 1e-4 relative (1e-6 absolute near zero). */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-4 * math.max(math.abs(b), 1e-2)
}
