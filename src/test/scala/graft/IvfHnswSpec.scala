package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfHnsw, Knn}

/** IVF-routed HNSW invariants: full probes + generous ef equal exact KNN
  * (the union of per-cluster walks covers the table — the same oracle the
  * reference uses for HNSW and IVF, `hnsw_index.rs:779-783`,
  * `ivf_index.rs:225-229`); partial probes stay inside the probed clusters
  * and keep high recall on clustered data (IVF's operating point). */
class IvfHnswSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val base = Tables.vectors(spark, sf0001).select("id", "vec").cache()
  private lazy val queries = base.filter($"id" < 6)
    .select($"id".as("query_id"), $"vec".as("query_vec")).cache()

  test("full probes + generous ef equal exact KNN (L2 and cosine)") {
    for (dist <- Seq("l2sqr", "cosine")) {
      val (model, idx) = IvfHnsw.buildIndex(base, kClusters = 5, dist = dist,
        trainFraction = Some(0.5))
      val routed = IvfHnsw.searchPinned(idx, model, queries, k = 10,
        ef = Some(600), nProbes = Some(5))
        .select("query_id", "id").as[(Long, Long)].collect().toSet
      val flat = Knn.exact(base, queries, k = 10, dist = dist)
        .select("query_id", "id").as[(Long, Long)].collect().toSet
      assert(routed == flat, s"dist=$dist")
    }
  }

  test("partial probes: self-hit survives, results come only from probed clusters") {
    // clustered fixture: 4 well-separated centers so routing is decisive
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextFloat() * 10f))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.1f))
    }
    val clustered = rows.toDF("id", "vec").repartition(4).cache()
    val qs = clustered.filter($"id" < 8)
      .select($"id".as("query_id"), $"vec".as("query_vec"))
    val (model, idx) = IvfHnsw.buildIndex(clustered, kClusters = 4,
      trainFraction = Some(0.5))
    val hits = IvfHnsw.searchPinned(idx, model, qs, k = 5,
      ef = Some(200), nProbes = Some(1)).cache()
    // k rows per query, self-hit at distance ~0 first
    val byQ = hits.collect().groupBy(_.getLong(0))
    assert(byQ.size == 8)
    byQ.foreach { case (qid, rs) =>
      assert(rs.length == 5, s"query $qid returned ${rs.length} rows")
      val best = rs.minBy(r => (r.getDouble(2), r.getLong(1)))
      assert(best.getLong(1) == qid && best.getDouble(2) < 1e-6,
        s"query $qid self-hit missing")
    }
    // 1-probe results all come from the query's own planted cluster
    // (ids ≡ qid mod 4 — same center)
    hits.collect().foreach { r =>
      assert(r.getLong(1) % 4 == r.getLong(0) % 4,
        s"query ${r.getLong(0)} hit foreign cluster row ${r.getLong(1)}")
    }
    // cached second batch via cacheKey: identical results
    val first = IvfHnsw.searchPinned(idx, model, qs, k = 5, ef = Some(200),
      nProbes = Some(1), cacheKey = Some("spec_ivfhnsw"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val second = IvfHnsw.searchPinned(idx, model, qs, k = 5, ef = Some(200),
      nProbes = Some(1), cacheKey = Some("spec_ivfhnsw"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first == second)
  }

  test("routed PQ walk: full probes + generous ef equal exact; distances exact") {
    val (model, idx) = IvfHnsw.buildIndex(base, kClusters = 5,
      trainFraction = Some(0.5))
    val pqModel = graft.operators.Pq.train(base, m = 8, nBits = 4)
    val routed = IvfHnsw.searchPinned(idx, model, queries, k = 10,
        ef = Some(600), nProbes = Some(5), pq = Some(pqModel))
      .select("query_id", "id", "distance")
      .as[(Long, Long, Double)].collect().toSet
    val flat = Knn.exact(base, queries, k = 10)
      .select("query_id", "id", "distance")
      .as[(Long, Long, Double)].collect().toSet
    assert(routed == flat)
  }

  test("residual (IVFPQ) encoding beats plain codes at fixed (m, ef)") {
    // widely-spread clusters + coarse quantizer: a PLAIN 4-bit code must
    // spend its 16 cells per group describing the inter-cluster spread,
    // while the RESIDUAL code (x − centroid, FAISS IVFPQ) only describes
    // within-cell noise. Routed full probes vs the unrouted plain walk
    // visit the same subgraphs with the same beam — only the encoding
    // differs, so the recall gap isolates the residual win.
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextFloat() * 40f))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 1f))
    }
    val clustered = rows.toDF("id", "vec").repartition(4).cache()
    val qs = clustered.filter($"id" < 16)
      .select($"id".as("query_id"), $"vec".as("query_vec")).cache()
    val (model, idx) = IvfHnsw.buildIndex(clustered, kClusters = 4,
      trainFraction = Some(0.5))
    val plainModel = graft.operators.Pq.train(clustered, m = 8, nBits = 4)
    val residModel = IvfHnsw.trainResidualPq(clustered, model, m = 8)
    assert(residModel.residual && !plainModel.residual)
    val exact = Knn.exact(clustered, qs, k = 5)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "id").as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val resid = recall(IvfHnsw.searchPinned(idx, model, qs, k = 5,
      ef = Some(10), nProbes = Some(4), pq = Some(residModel)))
    val plain = recall(IvfHnsw.searchPinned(idx, model, qs, k = 5,
      ef = Some(10), nProbes = Some(4), pq = Some(plainModel)))
    assert(resid >= plain,
      s"residual recall $resid below plain-encoded recall $plain")
    assert(resid >= 0.9, s"residual walk recall $resid < 0.9 at ef=10")
    // cluster-blind arms must reject the residual model outright
    intercept[IllegalArgumentException] {
      graft.operators.Pq.searchFlat(
        graft.operators.Pq.encode(clustered, plainModel), residModel, qs,
        k = 5, ef = 10)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Hnsw.searchPinned(idx, qs, k = 5, ef = Some(10),
        pq = Some(residModel))
    }
  }

  test("skewed hot cluster splits into bounded sub-cells; results unchanged") {
    // planted 10× skew: blob A (400 rows) vs blob B (40 rows), kClusters=2
    // — without the cap, blob A's graph builds as ONE straggler task
    val rnd = new scala.util.Random(19)
    val cA = Array.fill(8)(rnd.nextFloat() * 10f)
    val cB = Array.fill(8)(rnd.nextFloat() * 10f + 40f)
    val rows = (0 until 440).map { i =>
      val c = if (i < 400) cA else cB
      (i.toLong, c.map(x => x + rnd.nextFloat() * 2f))
    }
    val skewed = rows.toDF("id", "vec").repartition(4).cache()
    val (model, idx) = IvfHnsw.buildIndex(skewed, kClusters = 2,
      trainFraction = Some(0.5), maxGraphRows = 100L)
    // the hot cell split into ceil(400/100)=4 sub-cells → ≥5 centroids,
    // and no per-cluster graph build task holds the whole hot blob
    assert(model.centroids.length >= 5,
      s"hot cluster not split: ${model.centroids.length} centroids")
    val perPid = idx.groupBy("pid").count().as[(Int, Long)].collect()
    assert(perPid.length == model.centroids.length ||
      perPid.length >= 5) // empty sub-cells permissible
    assert(perPid.map(_._2).max < 400,
      s"a single build task still owns the hot blob: ${perPid.mkString(",")}")
    // routing still exact at full probes + generous ef
    val qs = skewed.filter($"id".isin(0L, 5L, 399L, 400L, 439L))
      .select($"id".as("query_id"), $"vec".as("query_vec"))
    val np = model.centroids.length
    val routed = IvfHnsw.searchPinned(idx, model, qs, k = 10,
      ef = Some(600), nProbes = Some(np))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val flat = Knn.exact(skewed, qs, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(routed == flat)
    // partial probes still route self-queries to their own sub-cell
    val one = IvfHnsw.searchPinned(idx, model, qs, k = 1,
      ef = Some(200), nProbes = Some(1)).collect()
    one.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) && r.getDouble(2) < 1e-6,
        s"self-hit lost at np=1 for query ${r.getLong(0)}")
    }
  }

  test("index schema matches the Hnsw sidecar contract; pid = cluster") {
    val (model, idx) = IvfHnsw.buildIndex(base, kClusters = 3,
      trainFraction = Some(0.5))
    assert(idx.columns.toSeq ==
      Seq("pid", "local_id", "id", "vec", "level", "links"))
    val pids = idx.select("pid").distinct().as[Int].collect().sorted
    assert(pids.forall(p => p >= 0 && p < model.centroids.length))
    // every base row lands in exactly one subgraph
    assert(idx.count() == base.count())
    assert(idx.select("id").distinct().count() == base.count())
  }
}
