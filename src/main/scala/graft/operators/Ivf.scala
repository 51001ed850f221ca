package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import graft.functions.{NearestCentroid, VectorFunctions}

/** Trained IVF structure: the centroid "sidecar". The cluster column lives on
  * the assigned DataFrame (and, when persisted, as a Parquet partition
  * column), mirroring the reference's `IVFIndex { clusters, k_means }`
  * (`/root/reference/src/index_algorithm/ivf_index.rs:33-47`) with the
  * inverted lists replaced by cluster-partitioned storage.
  */
final case class IvfModel(
    centroids: Array[Array[Float]],
    dist: String,
    defaultNProbes: Int = 4)

/** IVF (inverted-file) index — the most Spark-native ANN structure:
  * build = k-means on an optional sample + one nearest-centroid assignment
  * pass (`/root/reference/src/index_algorithm/ivf_index.rs:64-107`);
  * search = top-`n_probes` centroids per query, scan only those clusters,
  * exact top-k (`ivf_index.rs:137-155`). `ef` is interpreted as `n_probes`,
  * default 4 (`ivf_index.rs:97`, `137-143`).
  *
  * Scale shape: the assignment pass streams the table once (no shuffle); a
  * probe search broadcasts Q×n_probes (query, cluster) pairs against the
  * cluster-partitioned table, so with partition pruning each query touches
  * only its probed clusters' bytes — at 100 TB with k=1000 clusters and 4
  * probes, ~0.4% of the table per query batch member, and the scan cost is
  * shared across the whole batch.
  */
object Ivf {

  /** B2 — k-means train via MLlib (the published equivalent of the
    * reference's k-means++ + Lloyd loop,
    * `/root/reference/src/distance/k_means.rs:95-162`), seeded for
    * reproducibility. `trainFraction` mirrors `k_means_size` sampling
    * (`ivf_index.rs:81-87`) in Spark's fraction form. */
  /** Training sets at or below this size are collected and fit driver-side
    * with [[graft.index.LocalKMeans]] — one job instead of MLlib's
    * several-job iteration, whose fixed scheduling overhead dominates for
    * sample-sized inputs. Larger sets use distributed MLlib. */
  private val LocalTrainMaxRows = 200000

  def train(
      base: DataFrame,
      k: Int,
      dist: String = "l2sqr",
      maxIter: Int = 20,
      tol: Double = 1e-6,
      seed: Long = 42L,
      trainFraction: Option[Double] = None,
      vecCol: String = "vec"): IvfModel = {
    val trainDf = trainFraction.map(f => base.sample(f, seed)).getOrElse(base)
    // one job answers "is it sample-sized?" AND fetches the local train set
    val head = trainDf.select(col(vecCol))
      .limit(LocalTrainMaxRows + 1).collect()
    val centroids =
      if (head.length <= LocalTrainMaxRows) {
        val rows = head.map(_.getSeq[Float](0).toArray)
        if (rows.length <= k) rows // degenerate: rows are the centroids
        else graft.index.LocalKMeans.fit(rows, k, dist, maxIter, tol, seed)
      } else {
        val feats = trainDf.select(array_to_vector(col(vecCol)).as("features"))
        new KMeans()
          .setK(k).setMaxIter(maxIter).setTol(tol).setSeed(seed)
          .setDistanceMeasure(if (dist == "cosine") "cosine" else "euclidean")
          .setFeaturesCol("features")
          .fit(feats)
          .clusterCenters.map(_.toArray.map(_.toFloat))
      }
    IvfModel(centroids, dist)
  }

  /** F11 as a Column: nearest-centroid id (ties → lowest id). The centroid
    * matrix is broadcast here (r21, guide §2.6/§5): embedded in the
    * expression it was copied into every task binary — ~2 MB/task at
    * kc=512 × d960, the r20 "task of very large size" warnings. */
  def nearestCentroid(vec: Column, centroids: Array[Array[Float]], dist: String): Column =
    nearestCentroid(vec, org.apache.spark.sql.SparkSession.active
      .sparkContext.broadcast(centroids), dist)

  /** [[nearestCentroid]] over a broadcast the caller owns (and releases). */
  def nearestCentroid(vec: Column, centroids: Broadcast[Array[Array[Float]]],
      dist: String): Column =
    ColumnShim.column(NearestCentroid(ColumnShim.expression(vec), centroids, dist))

  /** B3 — assignment pass: adds a `cluster` column. One full scan, no
    * shuffle; write with `.partitionBy("cluster")` for pruned probes. */
  def assign(base: DataFrame, model: IvfModel, vecCol: String = "vec"): DataFrame =
    base.withColumn("cluster", nearestCentroid(col(vecCol), model.centroids, model.dist))

  /** [[assign]] for one write: `use` runs every action over the assigned
    * frame, then the centroid broadcast is unpersisted instead of waiting
    * for the GC to find it (the catalog's append path assigns per call). */
  def withAssigned[T](base: DataFrame, model: IvfModel)(use: DataFrame => T): T = {
    val bc = base.sparkSession.sparkContext.broadcast(model.centroids)
    try use(base.withColumn("cluster", nearestCentroid(col("vec"), bc, model.dist)))
    finally bc.unpersist(blocking = false)
  }

  /** Train + assign (`IVFIndex::from_vec_set`). */
  def build(
      base: DataFrame,
      k: Int,
      dist: String = "l2sqr",
      maxIter: Int = 20,
      tol: Double = 1e-6,
      seed: Long = 42L,
      trainFraction: Option[Double] = None): (IvfModel, DataFrame) = {
    val model = train(base, k, dist, maxIter, tol, seed, trainFraction)
    (model, assign(base, model))
  }

  /** The centroid sidecar as a DataFrame (cluster: int, centroid: array<float>). */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession, model: IvfModel): DataFrame = {
    import spark.implicits._
    model.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cluster", "centroid")
  }

  /** T6 — probe search over an assigned table.
    *
    * @param assigned (id, vec, cluster) table (output of [[assign]])
    * @param nProbes  the reference's `ef` for IVF; None → model default (4)
    * @return (query_id, id, distance) ascending (distance, id) per query
    */
  def search(
      assigned: DataFrame,
      model: IvfModel,
      queries: DataFrame,
      k: Int,
      nProbes: Option[Int] = None,
      upperBound: Double = Double.PositiveInfinity): DataFrame = {
    val np = math.max(1, nProbes.getOrElse(model.defaultNProbes))
    val spark = assigned.sparkSession
    // per-query probe list: tiny crossJoin (Q × k_clusters) + bounded top-k
    val probes = queries
      .crossJoin(broadcast(centroidsDf(spark, model)))
      .select(col("query_id"), col("cluster").cast("long").as("cl"),
        VectorFunctions.distance(col("query_vec"), col("centroid"), model.dist).as("cd"))
      .groupBy("query_id")
      .agg(TopK.topK(np)(col("cl"), col("cd")).as("pk"))
      .select(col("query_id"),
        explode(transform(col("pk"), h => h.getField("id"))).as("p_cluster"))
    val probedQueries = probes.join(queries, "query_id")
    // cluster-pruned scan: base streams, probed (query, cluster) pairs broadcast
    val scored = assigned
      .join(broadcast(probedQueries), col("cluster").cast("long") === col("p_cluster"))
      .select(col("query_id"), col("id").cast("long").as("__id"),
        VectorFunctions.distance(col("vec"), col("query_vec"), model.dist).as("__dist"))
    val bounded =
      if (upperBound == Double.PositiveInfinity) scored
      else scored.filter(col("__dist") <= lit(upperBound))
    bounded
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("__id"), col("__dist")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(col("query_id"), col("hit.id").as("id"), col("hit.distance").as("distance"))
  }

  /** A3 — cluster histogram (`/root/reference/src/index_algorithm/ivf_index.rs:88-96`
    * inverted into sizes): `GROUP BY cluster`. */
  def histogram(assigned: DataFrame): DataFrame =
    assigned.groupBy("cluster").agg(count(lit(1)).as("cnt"))

  /** Persist an assigned table as the PHYSICAL inverted-file layout:
    * cluster-partitioned Parquet (`data/cluster=N/...`) plus the centroid
    * sidecar — the Spark shape of the reference's inverted lists
    * (`ivf_index.rs:33-47`). Probe searches against this layout prune to
    * the probed clusters' directories before any byte is read. */
  def writePartitioned(assigned: DataFrame, model: IvfModel, path: String,
      binary: Boolean = false): Unit = {
    // binary = true stores the vector as a fixed-width little-endian f32
    // blob (`vecb`) instead of `array<float>`: scans decode ONE binary
    // cell per row where the array layout pays per-element assembly —
    // the measured bound of the float-heavy rerank rows
    // (tools/VecDecodeProbe, r20); VecDistance scores the blob in place
    // with bit-identical arithmetic (DistanceSpec). Readers detect the
    // column by name, so both layouts serve interchangeably.
    val data =
      if (binary) assigned.select(col("id"),
        graft.functions.VectorFunctions.vecToBinary(col("vec")).as("vecb"),
        col("cluster"))
      else assigned
    data.write.partitionBy("cluster").mode("overwrite")
      .parquet(s"$path/data")
    centroidsDf(assigned.sparkSession, model).write.mode("overwrite")
      .parquet(s"$path/centroids")
  }

  /** Reload the centroid sidecar written by [[writePartitioned]]. */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String,
      dist: String, defaultNProbes: Int = 4): IvfModel = {
    val rows = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getAs[Int]("cluster"), r.getAs[Seq[Float]]("centroid").toArray))
    IvfModel(rows.sortBy(_._1).map(_._2), dist, defaultNProbes)
  }

  /** The `np` nearest centroids of one query (exact double distances, ties
    * → lowest cluster id — the same order as [[search]]'s TopK pass).
    * Driver-side: Q × k_clusters tiny distance evaluations. */
  private[operators] def probeList(
      qv: Array[Float], model: IvfModel, np: Int): Array[Int] = {
    val cents = model.centroids
    val cosine = model.dist == "cosine"
    val ds = Array.tabulate(cents.length) { c =>
      val d = if (cosine) graft.index.Simd.cosineExact(qv, cents(c))
              else graft.index.Simd.l2sqExact(qv, cents(c))
      (d, c)
    }
    ds.sortBy(identity).take(np).map(_._2)
  }

  /** T6 over the partitioned layout — the probe scan that actually prunes.
    * Probe lists are selected driver-side (Q × k_clusters exact double
    * distances, ties → lowest cluster — same order as [[search]]'s TopK
    * pass), and the UNION of probed clusters is pushed as a literal
    * partition filter, so the scan's `PartitionFilters` restrict it to the
    * probed directories: at 1000 clusters × 4 probes a batch touches ~0.4%
    * of the table's bytes, the entire point of IVF at 100 TB. Per-query
    * restriction + exact top-k then match [[search]] row for row. */
  def searchPartitioned(
      path: String,
      model: IvfModel,
      queries: DataFrame,
      k: Int,
      nProbes: Option[Int] = None,
      upperBound: Double = Double.PositiveInfinity): DataFrame =
    searchPartitionedDf(
      queries.sparkSession.read.parquet(s"$path/data"),
      model, queries, k, nProbes, upperBound)

  /** [[searchPartitioned]] over a PRE-LISTED data DataFrame: listing a
    * cluster-partitioned layout is a per-`read.parquet`-call driver cost
    * (~1.3 s at kc=512, measured for the SQ/BQ sidecars) that a serving
    * deployment pays once per index generation, not once per batch — the
    * catalog passes its cached listing here (r20; the SQ/BQ routed arms
    * already did). Results identical: same scan, same partition filter. */
  def searchPartitionedDf(
      dataDf: DataFrame,
      model: IvfModel,
      queries: DataFrame,
      k: Int,
      nProbes: Option[Int] = None,
      upperBound: Double = Double.PositiveInfinity): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val np = math.max(1, nProbes.getOrElse(model.defaultNProbes))
    val qs = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].collect()
    val probeRows = qs.flatMap { case (qid, qv) =>
      probeList(qv, model, np).map(c => (qid, c, qv))
    }.toSeq
    val clusters = probeRows.map(_._2).distinct.sorted
    val probedQueries = probeRows.toDF("query_id", "p_cluster", "query_vec")
    val data = dataDf
      .filter(col("cluster").isin(clusters.map(Int.box): _*)) // partition-pruned
    // binary-f32 layouts ([[writePartitioned]] binary=true) carry `vecb`
    val vc = if (dataDf.columns.contains("vecb")) "vecb" else "vec"
    val scored = data
      .join(broadcast(probedQueries), col("cluster") === col("p_cluster"))
      .select(col("query_id"), col("id").cast("long").as("__id"),
        VectorFunctions.distance(col(vc), col("query_vec"), model.dist).as("__dist"))
    val bounded =
      if (upperBound == Double.PositiveInfinity) scored
      else scored.filter(col("__dist") <= lit(upperBound))
    bounded
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("__id"), col("__dist")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(col("query_id"), col("hit.id").as("id"), col("hit.distance").as("distance"))
  }
}
