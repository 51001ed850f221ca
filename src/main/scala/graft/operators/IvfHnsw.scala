package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-routed HNSW — the composition that actually scales ANN serving past
  * one machine's memory. Neither parent structure alone survives 100 TB:
  * the reference's single HNSW graph (`/root/reference/src/index_algorithm/
  * hnsw_index.rs`) must fit in one process, and an UNROUTED subgraph union
  * ([[Hnsw.searchPinned]]) pays P graph walks per query — total work grows
  * linearly with the partition count, i.e. with table size. Routing fixes
  * the latter: partition the table by k-means cluster (the reference's own
  * IVF construction, `ivf_index.rs:64-107`), build one HNSW graph *per
  * cluster*, and walk only the `n_probes` clusters nearest each query —
  * per-query work is n_probes graph walks regardless of how many
  * partitions the table spans. This is the standard coarse-quantizer +
  * per-cell-graph design of the public ANN literature (FAISS's IVF+HNSW,
  * SPANN's cluster-and-route); recall is bounded by the same routing
  * quality as plain IVF probes (`ivf_index.rs:137-155`) — full probes
  * degenerate to the exact union, which is the oracle-gradable config.
  *
  * Index schema matches [[Hnsw.buildIndex]] (`pid` = cluster id), so the
  * sidecar persists/pins identically. [[searchPinned]] is the one routed
  * walk: the pinned walk of [[Hnsw.pinnedSearchCore]] with a per-query
  * probe list, plain or (with `pq`) ADC-scored — residual-encoded when the
  * quantizer was trained on residuals ([[trainResidualPq]]).
  */
object IvfHnsw {

  /** Build: k-means route ([[Ivf.train]]) + one HNSW subgraph per cluster.
    * One shuffle of the base by cluster; each cluster's graph builds inside
    * a single task (clusters are the serving unit, sized by `kClusters` —
    * aim for ≲500k rows per cluster).
    *
    * Skew cap: a heavily skewed cluster would make its graph build a
    * single straggler task (the classic IVF imbalance — at 100 TB one hot
    * cluster could hold hours of single-threaded insert work). Clusters
    * past `maxGraphRows` are therefore SPLIT hierarchically before the
    * build: a local k-means over a bounded sample of the hot cluster
    * yields ceil(rows/cap) sub-centroids, which REPLACE the oversized
    * centroid in the routing model (the final model is a plain IVF model
    * with more, better-balanced cells — routing, probing, and the
    * pid-=-cluster sidecar contract are unchanged). Pathological input
    * (one exact duplicate repeated past the cap) still degenerates to one
    * cell — sub-centroids coincide and ties go to the lowest id.
    *
    * @return (routing model, index rows (pid=cluster, local_id, id, vec,
    *         level, links))
    */
  def buildIndex(
      base: DataFrame,
      kClusters: Int,
      dist: String = "l2sqr",
      m: Int = 16,
      efConstruction: Int = 200,
      seed: Long = 42L,
      trainFraction: Option[Double] = None,
      defaultNProbes: Int = 4,
      maxGraphRows: Long = 500000L): (IvfModel, DataFrame) = {
    val spark = base.sparkSession
    import spark.implicits._
    val src = base.select(col("id"), col("vec"))
    val model0 = Ivf.train(src, kClusters, dist, seed = seed,
      trainFraction = trainFraction)
    // one centroid broadcast per assignment: the cell counts (and the split
    // samples) read the trained model's; the index reads the final model's.
    // A split releases the first once its jobs are done; the last lives as
    // long as the returned (lazy) index frame.
    val cents0 = spark.sparkContext.broadcast(model0.centroids)
    val assigned0 = src.withColumn("cluster",
      Ivf.nearestCentroid(col("vec"), cents0, dist))
    val counts = assigned0.groupBy("cluster").count().collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val over = counts.filter(_._2 > maxGraphRows)
    val (model, assigned) =
      if (over.isEmpty) (model0.copy(defaultNProbes = defaultNProbes), assigned0)
      else {
        val subCents: Map[Int, Array[Array[Float]]] = over.map { case (c, n) =>
          val shards = ((n + maxGraphRows - 1) / maxGraphRows).toInt
          // bounded deterministic sample of the hot cell (same spirit as
          // Ivf.train's k_means_size sampling)
          val sample = assigned0.filter(col("cluster") === c)
            .select("vec").limit(20000).collect()
            .map(_.getSeq[Float](0).toArray)
          val cents =
            if (sample.length <= shards) sample
            else graft.index.LocalKMeans.fit(sample, shards, dist,
              maxIter = 10, tol = 1e-4, seed = seed + c)
          c -> cents
        }.toMap
        cents0.unpersist(blocking = false)
        val cents = model0.centroids.indices.flatMap { i =>
          subCents.getOrElse(i, Array(model0.centroids(i))).toSeq
        }.toArray
        val m2 = IvfModel(cents, dist, defaultNProbes)
        (m2, src.withColumn("cluster", Ivf.nearestCentroid(col("vec"),
          spark.sparkContext.broadcast(m2.centroids), dist)))
      }
    val idx = assigned
      .select(col("cluster").cast("int"), col("id").cast("long"), col("vec"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cl, it) =>
        // inserted in id order, not shuffle order: the graph depends on
        // the cluster's rows alone
        Hnsw.buildSlice(it.map(r => (r._2, r._3)).toArray.sortBy(_._1), cl,
          dist, m, efConstruction, seed)
      }
      .toDF("pid", "local_id", "id", "vec", "level", "links")
    (model, idx)
  }

  /** Routed batch search over a pinned index: probe lists are selected
    * driver-side against the centroid sidecar (exact distances, ties →
    * lowest cluster — identical to [[Ivf.searchPartitionedDf]]), then each
    * pinned partition walks only the graphs its queries probed.
    * Steady-state per-batch cost: Q × n_probes graph walks + the top-k
    * merge — independent of the total partition count.
    *
    * With `pq`, each probed cluster's walk is ADC-scored with exact
    * re-rank (`knn_pq`): routing bounds the number of walks, codes bound
    * the bytes each walk touches — the composition matching the
    * reference's fastest published configuration (HNSW+PQ,
    * its `data/t_bench.toml:29-55`) past one machine's memory.
    * `pq` must be trained on the table the index was built on. A
    * residual-trained model ([[trainResidualPq]], L2 only) encodes each
    * node as x − centroid(cluster) and scores the query shifted by the
    * same centroid (FAISS's IVFPQ design); measured walk recall at fixed
    * (m, ef) rises accordingly (IvfHnswSpec). A plain model encodes plain.
    *
    * @param nProbes the reference's IVF `ef` (`ivf_index.rs:137-143`);
    *                None → model default. `kClusters` probes = exact union
    *                of per-cluster walks (gradable against the flat oracle
    *                when `ef` covers the clusters).
    */
  def searchPinned(
      index: DataFrame,
      model: IvfModel,
      queries: DataFrame,
      k: Int,
      ef: Option[Int] = None,
      nProbes: Option[Int] = None,
      m: Int = 16,
      efConstruction: Int = 200,
      upperBound: Double = Double.PositiveInfinity,
      cacheKey: Option[String] = None,
      pq: Option[PqModel] = None): DataFrame = {
    val np = math.max(1, nProbes.getOrElse(model.defaultNProbes))
    val qs = ResidentIndex.queries(queries)
      .map { case (qid, qv) => (qid, qv, Ivf.probeList(qv, model, np)) }
    Hnsw.pinnedSearchCore(index, qs, k, ef, model.dist, m, efConstruction,
      upperBound, cacheKey, pq, routeFloor = model.centroids.length,
      residCents = if (pq.exists(_.residual)) model.centroids else null)
  }

  /** Train a product quantizer on IVF RESIDUALS x − centroid(cluster(x)) —
    * FAISS's IVFPQ/IVFADC design, the quality complement of the routed ADC
    * walk: a plain-trained quantizer spends its per-group resolution
    * re-describing which cell a vector sits in (information routing
    * already paid for), while the residual-trained one spends all of it on
    * the within-cell spread that actually ranks neighbors. L2 only — the
    * per-cluster shift is a distance identity for L2 and meaningless for
    * cosine. The returned model is flagged `residual`; cluster-blind arms
    * reject it, [[searchPinned]] with `pq` encodes and shifts per probed cluster. */
  def trainResidualPq(
      base: DataFrame,
      model: IvfModel,
      m: Int,
      nBits: Int = 4,
      maxIter: Int = 20,
      tol: Double = 1e-6,
      seed: Long = 42L,
      trainFraction: Option[Double] = None): PqModel = {
    require(model.dist != "cosine",
      "residual PQ is an L2 shift identity; train a plain model for cosine")
    val spark = base.sparkSession
    import spark.implicits._
    val sampled = trainFraction.map(f => base.sample(f, seed)).getOrElse(base)
    // one centroid broadcast serves the assignment and the shift; released
    // once training (the last action over `resid`) returns
    val cents = spark.sparkContext.broadcast(model.centroids)
    try {
      val resid = sampled
        .select(col("vec"), Ivf.nearestCentroid(col("vec"), cents, model.dist)
          .cast("int").as("cluster"))
        .as[(Array[Float], Int)]
        .map { case (v, c) =>
          val cent = cents.value(c)
          var j = 0
          while (j < v.length) { v(j) -= cent(j); j += 1 }
          v // Dataset decode hands each row a fresh array
        }
        .toDF("vec")
      Pq.train(resid, m, nBits, model.dist, maxIter, tol, seed)
        .copy(residual = true)
    } finally cents.unpersist(blocking = false)
  }
}
