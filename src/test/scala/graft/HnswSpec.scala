package graft

import org.apache.spark.sql.functions._
import graft.index.HnswGraph
import graft.operators.{Hnsw, Knn}

/** HNSW invariants — ports the reference's HNSW-vs-Flat oracle test
  * (`/root/reference/src/index_algorithm/hnsw_index.rs:713-790`, equality
  * assert at `779-783`) for both metrics, plus local-graph unit behavior
  * (incremental add, self-query, ascending order). */
class HnswSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val base = Tables.vectors(spark, sf0001).select("id", "vec").cache()
  private lazy val queries = base.filter($"id" < 6)
    .select($"id".as("query_id"), $"vec".as("query_vec")).cache()

  test("local graph: incremental add then search equals brute force (L2)") {
    val rnd = new scala.util.Random(42)
    val vecs = Array.fill(300)(Array.fill(16)(rnd.nextFloat()))
    val g = new HnswGraph(16, "l2sqr", seed = 42L)
    vecs.foreach(g.add)
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    for (qi <- Seq(0, 57, 123, 299)) {
      val got = g.search(vecs(qi), 10, ef = 300).map(_._1).toSeq
      val want = vecs.indices
        .map(i => (l2(vecs(qi), vecs(i)), i)).sorted.take(10).map(_._2)
      assert(got == want, s"query $qi: $got != $want")
    }
  }

  test("local graph: self query returns itself at distance 0 first") {
    val rnd = new scala.util.Random(7)
    val vecs = Array.fill(100)(Array.fill(8)(rnd.nextFloat()))
    val g = new HnswGraph(8, "cosine", seed = 7L)
    vecs.foreach(g.add)
    val res = g.searchDefault(vecs(42), 5)
    assert(res.head._1 == 42)
    assert(res.head._2 < 1e-9)
    val ds = res.map(_._2)
    assert(ds.sameElements(ds.sorted))
  }

  test("distributed search equals Flat exact KNN with generous ef (L2)") {
    val hnsw = Hnsw.searchPinned(Hnsw.buildIndex(base.repartition(4)), queries,
        k = 10, ef = Some(600))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val flat = Knn.exact(base, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(hnsw == flat)
  }

  test("distributed search equals Flat exact KNN with generous ef (cosine)") {
    val hnsw = Hnsw.searchBroadcast(
        Hnsw.buildIndex(base.repartition(4), dist = "cosine"), queries, k = 8,
        ef = Some(600), dist = "cosine")
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val flat = Knn.exact(base, queries, k = 8, dist = "cosine")
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(hnsw == flat)
  }

  test("default ef reaches high recall; k rows per query, ascending") {
    val res = Hnsw.searchPinned(Hnsw.buildIndex(base.repartition(4)), queries,
      k = 10)
    assert(res.groupBy("query_id").count().filter($"count" =!= 10).count() == 0)
    val hnsw = res.select("query_id", "id").as[(Long, Long)].collect().toSet
    val flat = Knn.exact(base, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val recall = hnsw.intersect(flat).size.toDouble / flat.size
    assert(recall >= 0.95, s"recall $recall < 0.95 at default ef")
    val perQuery = res.orderBy("query_id", "distance", "id")
      .select("query_id", "distance").as[(Long, Double)].collect()
    perQuery.groupBy(_._1).values.foreach { g =>
      val ds = g.map(_._2)
      assert(ds.sameElements(ds.sorted))
    }
  }

  test("graph export/import round-trips search results exactly") {
    val rnd = new scala.util.Random(11)
    val vecs = Array.fill(200)(Array.fill(12)(rnd.nextFloat()))
    val g = new HnswGraph(12, "l2sqr", seed = 11L)
    vecs.foreach(g.add)
    val g2 = HnswGraph.fromNodes(12, "l2sqr", 16, 200,
      Iterator.range(0, g.size).map(g.exportNode))
    for (qi <- Seq(0, 33, 91, 199)) {
      val want = g.search(vecs(qi), 10, ef = 50).toSeq
      val got = g2.search(vecs(qi), 10, ef = 50).toSeq
      assert(got == want, s"query $qi: $got != $want")
    }
  }

  test("stored-index search equals build-per-search with identical partitioning") {
    val parted = base.repartition(4)
    val idx = Hnsw.buildIndex(parted)
    val stored = Hnsw.searchBroadcast(idx, queries, k = 10, ef = Some(600))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val flat = Knn.exact(base, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(stored == flat)
  }

  test("pinned serving search equals exact; cached second batch identical; bound respected") {
    val idx = Hnsw.buildIndex(base.repartition(4)).cache()
    val flat = Knn.exact(base, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val first = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600),
        cacheKey = Some("spec_pinned"))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(first == flat)
    // second batch reuses the pinned dataset + executor group cache;
    // results must not change
    val second = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600),
        cacheKey = Some("spec_pinned"))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(second == flat)
    // one-shot shape (no cacheKey): same results, nothing pinned
    val oneShot = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(oneShot == flat)
    val cut = 1.0
    val bounded = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600),
      upperBound = cut, cacheKey = Some("spec_pinned"))
    assert(bounded.filter($"distance" > cut).count() == 0)
  }

  test("pinned shuffle-merge arm (past the driver-merge gate) equals driver merge") {
    // pinnedSearchCore picks its merge by the Q·P·k row gate: below it the
    // driver heap-merges the collected partials, above it the declarative
    // groupBy top-k shuffle runs. Force the shuffle arm via the gate
    // override and assert both arms return identical (id, distance) sets —
    // the gate must be a pure performance choice, never a semantic one.
    val idx = Hnsw.buildIndex(base.repartition(4)).cache()
    val prop = "graft.serve.driverMergeMaxRows"
    val driver = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600))
      .select("query_id", "id", "distance")
      .as[(Long, Long, Double)].collect().toSet
    System.setProperty(prop, "0")
    try {
      val shuffled = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600))
        .select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet
      assert(shuffled == driver)
      // and both agree with exact
      val flat = Knn.exact(base, queries, k = 10)
        .select("query_id", "id").as[(Long, Long)].collect().toSet
      assert(shuffled.map { case (q, id, _) => (q, id) } == flat)
      // upper bound still respected through the shuffle merge
      val cut = 1.0
      val bounded = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600),
        upperBound = cut)
      assert(bounded.filter($"distance" > cut).count() == 0)
    } finally System.clearProperty(prop)
  }

  test("broadcast serving search equals exact; cached second batch identical") {
    val idx = Hnsw.buildIndex(base.repartition(4)).cache()
    val flat = Knn.exact(base, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val first = Hnsw.searchBroadcast(idx, queries, k = 10, ef = Some(600),
        cacheKey = Some("spec_bcast"))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(first == flat)
    // second batch hits the executor graph cache; results must not change
    val second = Hnsw.searchBroadcast(idx, queries, k = 10, ef = Some(600),
        cacheKey = Some("spec_bcast"))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(second == flat)
    // upper bound respected on the broadcast path
    val cut = 1.0
    val bounded = Hnsw.searchBroadcast(idx, queries, k = 10, ef = Some(600),
      upperBound = cut)
    assert(bounded.filter($"distance" > cut).count() == 0)
  }

  test("HNSW+PQ traversal equals exact with generous ef; distances are exact (L2 and cosine)") {
    // knn_pq contract (hnsw_index.rs:672-697): ADC-scored walk, exact
    // re-rank — with ef covering the table the beam reaches the true top-k
    // and the reported distances are the exact double-kernel values
    val idx = Hnsw.buildIndex(base.repartition(4)).cache()
    for (dist <- Seq("l2sqr", "cosine")) {
      val model = graft.operators.Pq.train(base, m = 8, nBits = 4, dist = dist)
      val flat = Knn.exact(base, queries, k = 10, dist = dist)
        .select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet
      val pq = Hnsw.searchBroadcast(idx, queries, k = 10, ef = Some(600),
          dist = dist, cacheKey = Some(s"spec_pq_$dist"), pq = Some(model))
        .select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet
      assert(pq == flat, s"dist=$dist")
      // cached second batch identical
      val second = Hnsw.searchBroadcast(idx, queries, k = 10, ef = Some(600),
          dist = dist, cacheKey = Some(s"spec_pq_$dist"), pq = Some(model))
        .select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet
      assert(second == flat, s"dist=$dist cached")
    }
  }

  test("pinned PQ walk equals exact with generous ef; cached second batch identical (L2 and cosine)") {
    // the beyond-broadcast knn_pq shape: same contract as the broadcast
    // traversal — ADC-scored walk, exact re-rank — over the pinned index
    val idx = Hnsw.buildIndex(base.repartition(4)).cache()
    for (dist <- Seq("l2sqr", "cosine")) {
      val model = graft.operators.Pq.train(base, m = 8, nBits = 4, dist = dist)
      val flat = Knn.exact(base, queries, k = 10, dist = dist)
        .select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet
      val pq = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600),
          dist = dist, cacheKey = Some(s"spec_ppq_$dist"), pq = Some(model))
        .select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet
      assert(pq == flat, s"dist=$dist")
      val second = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600),
          dist = dist, cacheKey = Some(s"spec_ppq_$dist"), pq = Some(model))
        .select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet
      assert(second == flat, s"dist=$dist cached")
    }
  }

  test("HNSW+PQ traversal at modest ef reaches high recall") {
    val idx = Hnsw.buildIndex(base.repartition(4)).cache()
    val model = graft.operators.Pq.train(base, m = 8, nBits = 4)
    val flat = Knn.exact(base, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val pq = Hnsw.searchBroadcast(idx, queries, k = 10, ef = Some(100),
      pq = Some(model))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val recall = pq.intersect(flat).size.toDouble / flat.size
    assert(recall >= 0.8, s"recall $recall < 0.8 at ef=100 over ADC walk")
  }

  test("envelope re-rank selects identically to the full scalar-double re-rank") {
    // r12: searchInto/searchFnInto prefilter the exact resort with the
    // float-tier envelope (Knn.exactBroadcast's constants). Selection and
    // reported distances must be BIT-identical to the pre-r12 full rescore
    // — on both metrics, and under an ADC-noisy walk distFn whose ordering
    // disagrees with the exact one.
    val rnd = new scala.util.Random(1806)
    val dim = 96
    val vecs = Array.fill(4000)(Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    // duplicate a handful of rows to force exact-distance ties at the
    // boundary (the (distance, id) tiebreak path)
    for (i <- 0 until 50) vecs(3000 + i) = vecs(i).clone()
    for (metric <- Seq("l2sqr", "cosine")) {
      val g = new HnswGraph(dim, metric, seed = 5L)
      vecs.foreach(g.add)
      val ids = new Array[Int](10); val ds = new Array[Double](10)
      val idsF = new Array[Int](10); val dsF = new Array[Double](10)
      val noise = new scala.util.Random(7)
      for (qi <- 0 until 60) {
        val q = Array.fill(dim)(noise.nextFloat() * 2f - 1f)
        val cF = g.searchInto(q, 10, 80, idsF, dsF, full = true)
        val c = g.searchInto(q, 10, 80, ids, ds, full = false)
        assert(c == cF, s"$metric count $c != $cF")
        assert(ids.take(c).toSeq == idsF.take(cF).toSeq, s"$metric ids")
        assert(ds.take(c).toSeq == dsF.take(cF).toSeq, s"$metric dists")
        // ADC-like walk: exact distance + bounded multiplicative noise —
        // a distFn whose ranking disagrees with exact near the boundary
        val distFn: Int => Double = { idx =>
          val d = vecs(idx).zip(q).map { case (x, y) =>
            (x.toDouble - y) * (x.toDouble - y) }.sum
          d * (1.0 + 0.2 * math.sin(idx * 2654435761L).toFloat)
        }
        val cF2 = g.searchFnInto(distFn, q, 10, 80, idsF, dsF, full = true)
        val c2 = g.searchFnInto(distFn, q, 10, 80, ids, ds, full = false)
        assert(c2 == cF2 && ids.take(c2).toSeq == idsF.take(cF2).toSeq &&
          ds.take(c2).toSeq == dsF.take(cF2).toSeq, s"$metric fn-walk")
      }
    }
  }

  test("upper bound filters hits") {
    val idx = Hnsw.buildIndex(base.repartition(4)).cache()
    val all = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600))
    val cut = all.agg(avg($"distance")).head().getDouble(0)
    val bounded = Hnsw.searchPinned(idx, queries, k = 10, ef = Some(600),
      upperBound = cut)
    assert(bounded.filter($"distance" > cut).count() == 0)
    assert(bounded.count() < all.count())
  }
}
