package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import graft.functions.{PqAdcDistance, PqEncode, PqKernel, PqLookup, VectorFunctions}

/** Trained product quantizer — the reference's `PQTable`
  * (`/root/reference/src/distance/pq_table.rs:115-137`): per-group k-means
  * centroids plus the cosine self-dot cache. The encoded codes live as a
  * `binary` column on the table (the Spark shape of `encoded_vec_set`).
  */
final case class PqModel(
    dim: Int,
    nBits: Int,
    dist: String,
    centroids: Array[Array[Array[Float]]],
    // trained on IVF residuals x − centroid(cluster) (FAISS's IVFPQ —
    // [[IvfHnsw.trainResidualPq]]): only the routed walk, which knows each
    // node's cluster, may encode/score with such a model; cluster-blind
    // arms must reject it rather than silently mis-encode
    residual: Boolean = false) {
  require(nBits == 4 || nBits == 8, "n_bits must be 4 or 8 in PQ")
  def m: Int = centroids.length
  def k: Int = 1 << nBits

  /** Per-centroid self-dot cache, flattened m·k (zeros for L2Sqr) —
    * `/root/reference/src/distance/pq_table.rs:164-171`. */
  lazy val centroidDotCache: Array[Double] = {
    val out = new Array[Double](m * k)
    if (dist == "cosine") {
      var g = 0
      while (g < m) {
        var c = 0
        while (c < centroids(g).length) {
          var acc = 0.0
          centroids(g)(c).foreach(x => acc += x.toDouble * x)
          out(g * k + c) = acc
          c += 1
        }
        g += 1
      }
    }
    out
  }
}

/** Product quantization: B4 train+encode, F9/F10 ADC scoring, T7 search
  * with exact re-rank. Spark shape: m seeded MLlib k-means fits on dim
  * slices of a training sample; encode is one codegen-free scan adding a
  * `ceil(m·n_bits/8)`-byte binary column (32× smaller than a dim=960 f32
  * vector at m=320/4-bit — the point of PQ at 100 TB: the ADC scan reads
  * the code column only, never the vectors; only Q×ef winners are re-ranked
  * against real vectors).
  */
object Pq {

  /** Sample sizes up to this are collected and trained driver-side with
    * [[graft.index.LocalKMeans]] (one job + m in-memory fits); larger
    * samples fall back to m distributed MLlib fits. The bound is memory-safe
    * (200k × dim 1024 f32 ≈ 800 MB worst case; typical PQ samples are far
    * smaller) and covers the reference's whole operating envelope. */
  private val LocalTrainMaxRows = 200000L

  /** B4 — train per-group centroids (`PQTable::from_vec_set`,
    * `/root/reference/src/distance/pq_table.rs:141-191`). `trainFraction`
    * mirrors `k_means_size` sampling. Groups with ≤ 2^nBits training rows
    * use the rows themselves as centroids (k-means degenerates to identity,
    * which keeps the small-set exactness property). */
  def train(
      base: DataFrame,
      m: Int,
      nBits: Int = 4,
      dist: String = "l2sqr",
      maxIter: Int = 20,
      tol: Double = 1e-6,
      seed: Long = 42L,
      trainFraction: Option[Double] = None,
      vecCol: String = "vec"): PqModel = {
    val k = 1 << nBits
    // train_size = max(len·proportion, 1) — the reference floors the sample
    // at one row (`metadata_vec_table.rs:130`); Bernoulli sampling can
    // return zero rows on tiny tables, so fall back to the first row.
    val sampled = trainFraction.map(f => base.sample(f, seed)).getOrElse(base)
      .select(col(vecCol).as("vec"))
    val trainDf = (if (sampled.isEmpty) base.select(col(vecCol).as("vec")).limit(1)
                   else sampled).cache()
    try {
      val dim = trainDf.head().getSeq[Float](0).length
      val n = trainDf.count()
      val groups = PqKernel.pqGroups(dim, m)
      val centroids =
        if (n <= LocalTrainMaxRows) {
          // one collect, m local fits (reference shape: sample → local
          // k-means per sub-space, `pq_table.rs:173-184`)
          val rows = trainDf.collect().map(_.getSeq[Float](0).toArray)
          groups.zipWithIndex.map { case ((start, len), gi) =>
            val sliced = rows.map(v => java.util.Arrays.copyOfRange(v, start, start + len))
            if (n <= k) sliced
            else graft.index.LocalKMeans.fit(sliced, k, dist, maxIter, tol, seed + gi)
          }
        } else {
          // m independent sub-space fits submitted CONCURRENTLY from a
          // bounded pool (Spark job submission is thread-safe; the fair
          // scheduler interleaves the stages) — the reference trains its
          // groups in parallel too (rayon, `pq_table.rs:173-184`), and
          // sequential submission here would serialize m cluster-wide
          // KMeans jobs (m=320 at the baseline d960 config)
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(groups.length, 8))
          try {
            val tasks: Seq[java.util.concurrent.Callable[Array[Array[Float]]]] =
              groups.zipWithIndex.toSeq.map { case ((start, len), gi) =>
                new java.util.concurrent.Callable[Array[Array[Float]]] {
                  override def call(): Array[Array[Float]] = {
                    val sliceCol = slice(col("vec"), start + 1, len)
                    new KMeans()
                      .setK(k).setMaxIter(maxIter).setTol(tol).setSeed(seed + gi)
                      .setFeaturesCol("features")
                      .fit(trainDf.select(array_to_vector(sliceCol).as("features")))
                      .clusterCenters.map(_.toArray.map(_.toFloat))
                  }
                }
              }
            import scala.jdk.CollectionConverters._
            pool.invokeAll(tasks.asJava).asScala.map(_.get()).toArray
          } finally pool.shutdown()
        }
      PqModel(dim, nBits, dist, centroids)
    } finally trainDf.unpersist()
  }

  /** F8 — the code column (assigns by the model's metric, matching
    * `KMeans::find_nearest` / `k_means.rs:166-170`). */
  /** Guard for cluster-blind arms: a residual-trained quantizer
    * ([[IvfHnsw.trainResidualPq]]) encodes x − centroid(cluster) and is
    * only meaningful inside the routed walk, which knows each node's
    * cluster. Scoring raw vectors with it would be silently wrong. */
  private def requirePlain(model: PqModel): Unit =
    require(!model.residual,
      "residual-trained PqModel requires the routed walk (IvfHnsw.searchPinned with pq)")

  def encodeCol(vec: Column, model: PqModel): Column = {
    requirePlain(model)
    ColumnShim.column(PqEncode(ColumnShim.expression(vec), model.centroids,
      model.nBits, model.dim, model.dist))
  }

  /** Encode pass: adds a `code` binary column. */
  def encode(base: DataFrame, model: PqModel, vecCol: String = "vec"): DataFrame =
    base.withColumn("code", encodeCol(col(vecCol), model))

  /** F9 — the per-query lookup column (computed on the query side). */
  def lookupCol(queryVec: Column, model: PqModel): Column =
    ColumnShim.column(PqLookup(ColumnShim.expression(queryVec), model.centroids,
      model.nBits, model.dim, model.dist))

  /** F10 — ADC distance of a code column against a lookup column. */
  def adcCol(code: Column, lookup: Column, queryNorm: Column, model: PqModel): Column =
    ColumnShim.column(PqAdcDistance(
      ColumnShim.expression(code), ColumnShim.expression(lookup),
      ColumnShim.expression(queryNorm),
      model.centroidDotCache, model.nBits, model.m, model.dist))

  /** T7 — Flat+PQ search (`FlatIndex::knn_pq`,
    * `/root/reference/src/index_algorithm/flat_index.rs:84-104` +
    * `pq_resort` at `candidate_pair.rs:102-108`): ADC-score every code into
    * an ef-sized top set, then exact re-rank of the winners to top-k.
    * The code scan never touches the vector column; the re-rank joins only
    * Q×ef winner ids back against the (id, vec) projection.
    */
  def searchFlat(
      encoded: DataFrame, // (id, vec, code)
      model: PqModel,
      queries: DataFrame,
      k: Int,
      ef: Int,
      upperBound: Double = Double.PositiveInfinity): DataFrame = {
    requirePlain(model)
    val efK = math.max(ef, k)
    val q = queries.select(
      col("query_id").cast("long").as("query_id"),
      col("query_vec"),
      lookupCol(col("query_vec"), model).as("__lk"),
      (if (model.dist == "cosine") VectorFunctions.vecNorm(col("query_vec"))
       else lit(0.0)).as("__qn"))
    val approx = encoded.select(col("id").cast("long").as("__id"), col("code"))
      .crossJoin(broadcast(q.select(col("query_id"), col("__lk"), col("__qn"))))
      .select(col("query_id"), col("__id"),
        adcCol(col("code"), col("__lk"), col("__qn"), model).as("__ad"))
      .groupBy("query_id")
      .agg(TopK.topK(efK)(col("__id"), col("__ad")).as("topef"))
      .select(col("query_id"),
        explode(transform(col("topef"), h => h.getField("id"))).as("id"))
    rerank(encoded, queries, approx, model, k, upperBound)
  }

  /** Exact re-rank of the Q×ef approximate winners (`pq_resort`,
    * `/root/reference/src/index_algorithm/candidate_pair.rs:102-108`). */
  private def rerank(
      encoded: DataFrame,
      queries: DataFrame,
      approx: DataFrame, // (query_id, id)
      model: PqModel,
      k: Int,
      upperBound: Double): DataFrame = {
    val exact = encoded.select(col("id").cast("long").as("id"), col("vec"))
      .join(broadcast(approx), "id")
      .join(broadcast(queries.select(col("query_id").cast("long").as("query_id"),
        col("query_vec"))), "query_id")
      .select(col("query_id"), col("id"),
        VectorFunctions.distance(col("vec"), col("query_vec"), model.dist).as("__dist"))
    val bounded =
      if (upperBound == Double.PositiveInfinity) exact
      else exact.filter(col("__dist") <= lit(upperBound))
    bounded
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("id"), col("__dist")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(col("query_id"), col("hit.id").as("id"), col("hit.distance").as("distance"))
  }

  /** T7, serving shape: broadcast the per-query ADC lookup tables, stream
    * the code column through `mapPartitions` with per-query primitive
    * top-ef buffers, merge, then the same exact re-rank as [[searchFlat]].
    * Identical logical result; skips the cross-join row machinery of the
    * declarative plan (measured ~25× the lookup-sum cost at high pair
    * rates). The scan still reads ONLY the code column.
    */
  def searchFlatBroadcast(
      encoded: DataFrame, // (id, vec, code)
      model: PqModel,
      queries: DataFrame,
      k: Int,
      ef: Int,
      upperBound: Double = Double.PositiveInfinity): DataFrame = {
    requirePlain(model)
    val spark = encoded.sparkSession
    import spark.implicits._
    val efK = math.max(ef, k)
    val qs = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].collect()
    val cosine = model.dist == "cosine"
    // float lookup tables: selection-grade precision (winners are exact
    // re-ranked), half the cache footprint of double — the scan's lut reads
    // are the hot memory traffic
    val lookups = qs.map(q => PqKernel.buildLookup(q._2, model.centroids,
      model.nBits, model.dist).map(_.toFloat))
    val norms = if (cosine)
      qs.map(q => math.sqrt(q._2.foldLeft(0.0)((a, x) => a + x.toDouble * x)))
    else Array.empty[Double]
    val centDot = model.centroidDotCache
    val nBits = model.nBits
    val m = model.m
    val kCent = model.k
    // resolve the fast-scan toggle ONCE on the driver: a sys-prop set here
    // never reaches executor JVMs on a real cluster, so reading it inside
    // the task closure would silently ignore the A/B switch
    val useFastScan = PqKernel.fastScanEligible(kCent) &&
      !sys.props.get("graft.pq.fastScan").contains("off")
    val bc = spark.sparkContext.broadcast((qs.map(_._1), lookups, norms))

    val partial = encoded
      .select(col("id").cast("long"), col("code"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val (qids, lks, qns) = bc.value
        val nq = qids.length
        if (nq == 0 || !it.hasNext) Iterator.empty
        else {
          val bufD = Array.fill(nq)(new Array[Double](efK))
          val bufI = Array.fill(nq)(new Array[Long](efK))
          val sz = new Array[Int](nq)
          // chunked: decode the packed codes ONCE per chunk (one byte per
          // group — no per-pair nibble work), then score 4 queries per code
          // pass; chunking bounds the decode buffer however many rows the
          // partition holds
          val chunk = 8192
          val ids = new Array[Long](chunk)
          val codes = new Array[Byte](chunk * m)
          val cdRow = if (cosine) new Array[Double](chunk) else null
          // fast-scan layout, reused across chunks (stale tail lanes are
          // never read): one transpose pass per chunk vs nq/4 scan passes
          val codesT =
            if (useFastScan) new Array[Byte](((chunk + 15) >> 4) * m * 16)
            else null
          // raw-bits LUTs built once per task, not once per chunk
          val lksBits = if (useFastScan) lks.map(PqKernel.lutBits) else null
          while (it.hasNext) {
            var nRows = 0
            while (nRows < chunk && it.hasNext) {
              val (id, code) = it.next()
              ids(nRows) = id
              PqKernel.decodeInto(code, m, nBits, codes, nRows * m)
              nRows += 1
            }
            if (cosine) {
              var r = 0
              while (r < nRows) {
                var acc = 0.0
                var g = 0; var gk = 0; val base = r * m
                while (g < m) {
                  acc += centDot(gk + (codes(base + g) & 0xff)); g += 1; gk += kCent
                }
                cdRow(r) = acc
                r += 1
              }
            }
            if (codesT != null) {
              PqKernel.transposeCodes16Into(codes, nRows, m, codesT)
              PqKernel.adcScanChunkFast(codesT, nRows, m, lksBits, 0, nq,
                cosine, cdRow, qns, ids, bufD, bufI, sz, efK)
            } else
              PqKernel.adcScanChunk(codes, nRows, m, kCent, lks, 0, nq,
                cosine, cdRow, qns, ids, bufD, bufI, sz, efK)
          }
          Iterator.range(0, nq).flatMap { qi =>
            Iterator.range(0, sz(qi)).map(p => (qids(qi), bufI(qi)(p), bufD(qi)(p)))
          }
        }
      }
      .toDF("query_id", "__id", "__ad")

    val approx = partial
      .groupBy("query_id")
      .agg(TopK.topK(efK)(col("__id"), col("__ad")).as("topef"))
      .select(col("query_id"),
        explode(transform(col("topef"), h => h.getField("id"))).as("id"))
    rerank(encoded, queries, approx, model, k, upperBound)
  }

  /** In-memory serving unit for [[searchFlatServe]]: decoded codes, packed
    * vectors, ids, and (cosine) per-row centroid self-dot sums. `codesT`
    * is the 16-row-blocked transposed layout for the SIMD fast scan
    * (`PqKernel.transposeCodes16`; null when the model/hardware is
    * ineligible — see `PqKernel.fastScanEligible`). The fast-scan choice is
    * resolved on the DRIVER at build time and baked into the broadcast:
    * cacheKey'd serve indexes pin the kernel choice until the key rotates
    * (toggling `graft.pq.fastScan` later does not affect cached entries),
    * and a heterogeneous cluster where some executors prefer a narrower
    * vector species would run the 512-bit permutes emulated there —
    * correct, just not faster (homogeneous clusters assumed). */
  private final case class ServeIndex(
      ids: Array[Long],
      codes: Array[Byte], // nRows × m, decoded
      nRows: Int,
      vecs: Array[Float], // nRows × dim, packed
      cdRow: Array[Double], // nRows (cosine) or null
      codesT: Array[Byte])

  /** Driver-side LRU of serve-index broadcasts, keyed by cacheKey — same
    * role as the HNSW broadcast cache: a serving workload hits this per
    * batch. Eviction unpersists (lazy) rather than destroys so in-flight
    * plans keep working. */
  private val serveCache =
    new java.util.LinkedHashMap[String, org.apache.spark.broadcast.Broadcast[ServeIndex]](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.spark.broadcast.Broadcast[ServeIndex]])
        : Boolean =
        if (size() > 16) { e.getValue.unpersist(blocking = false); true } else false
    }

  /** Evict cached serve-index broadcasts whose cacheKey starts with
    * `prefix` (catalog delete/clear hook — see `Hnsw.invalidateCaches`). */
  private[graft] def invalidateCaches(prefix: String): Unit =
    serveCache.synchronized {
      val it = serveCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(prefix)) {
          e.getValue.unpersist(blocking = false); it.remove()
        }
      }
    }

  /** T7, query-partitioned serving shape (the inverse of
    * [[searchFlatBroadcast]], mirroring `Hnsw.searchBroadcast`): broadcast
    * the DECODED code matrix + packed vectors, partition the queries, and
    * resolve each query entirely in its task — blocked ADC scan to top-ef,
    * exact in-task re-rank to top-k, zero shuffles. Right whenever codes +
    * vectors fit in executor memory (the reference's whole operating
    * envelope — its Flat+PQ scan IS an in-memory design,
    * `/root/reference/src/index_algorithm/flat_index.rs:84-104`). For
    * tables beyond the broadcast gate use [[searchFlatBroadcast]], which
    * streams the code column and never materializes the table.
    *
    * Within-scan ordering ties break by local row order rather than global
    * id (the final top-k ties break by (distance, id) as everywhere); the
    * two can differ only when distinct rows tie exactly at the ef boundary.
    */
  def searchFlatServe(
      encoded: DataFrame, // (id, vec, code)
      model: PqModel,
      queries: DataFrame,
      k: Int,
      ef: Int,
      upperBound: Double = Double.PositiveInfinity,
      cacheKey: Option[String] = None): DataFrame = {
    requirePlain(model)
    val spark = encoded.sparkSession
    import spark.implicits._
    val efK = math.max(ef, k)
    val cosine = model.dist == "cosine"
    val m = model.m
    val kCent = model.k
    val nBits = model.nBits
    val dim = model.dim
    val centroids = model.centroids
    val distKind = model.dist
    val centDot = model.centroidDotCache

    def collectAndShip(): org.apache.spark.broadcast.Broadcast[ServeIndex] = {
      val rows = encoded
        .select(col("id").cast("long"), col("vec"), col("code"))
        .as[(Long, Array[Float], Array[Byte])]
        .collect()
      val n = rows.length
      val ids = new Array[Long](n)
      val codes = new Array[Byte](n * m)
      val vecs = new Array[Float](n * dim)
      val cdRow = if (cosine) new Array[Double](n) else null
      var r = 0
      while (r < n) {
        ids(r) = rows(r)._1
        System.arraycopy(rows(r)._2, 0, vecs, r * dim, dim)
        PqKernel.decodeInto(rows(r)._3, m, nBits, codes, r * m)
        if (cosine) {
          var acc = 0.0
          var g = 0; var gk = 0; val base = r * m
          while (g < m) { acc += centDot(gk + (codes(base + g) & 0xff)); g += 1; gk += kCent }
          cdRow(r) = acc
        }
        r += 1
      }
      // `graft.pq.fastScan=off` forces the scalar chunk scan (spec A/B)
      val codesT =
        if (PqKernel.fastScanEligible(kCent) &&
            !sys.props.get("graft.pq.fastScan").contains("off"))
          PqKernel.transposeCodes16(codes, n, m)
        else null
      spark.sparkContext.broadcast(ServeIndex(ids, codes, n, vecs, cdRow, codesT))
    }
    val bcIdx = cacheKey match {
      case Some(ck) => serveCache.synchronized {
        Option(serveCache.get(ck)).getOrElse {
          val b = collectAndShip(); serveCache.put(ck, b); b
        }
      }
      case None => collectAndShip()
    }

    val qds = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])]
    QuerySpread(qds)
      .mapPartitions { qit =>
        if (qit.isEmpty) Iterator.empty
        else {
          val si = bcIdx.value
          // local row indices ride through the scan as the "ids"; global
          // ids only attach at the final emit
          val rowIdx = Array.tabulate(si.nRows)(_.toLong)
          val bufD = Array.fill(4)(new Array[Double](efK))
          val bufI = Array.fill(4)(new Array[Long](efK))
          val sz = new Array[Int](4)
          val outIds = new Array[Long](k)
          val outDs = new Array[Double](k)
          qit.grouped(4).flatMap { block =>
            val bn = block.length
            java.util.Arrays.fill(sz, 0)
            val luts = new Array[Array[Float]](bn)
            val qns = new Array[Double](bn)
            var bi = 0
            while (bi < bn) {
              val qv = block(bi)._2
              luts(bi) = PqKernel.buildLookup(qv, centroids, nBits, distKind)
                .map(_.toFloat)
              if (cosine) {
                var acc = 0.0; var i = 0
                while (i < qv.length) { acc += qv(i).toDouble * qv(i); i += 1 }
                qns(bi) = math.sqrt(acc)
              }
              bi += 1
            }
            if (si.codesT != null)
              PqKernel.adcScanChunkFast(si.codesT, si.nRows, m,
                luts.map(l => if (l == null) null else PqKernel.lutBits(l)),
                0, bn, cosine, si.cdRow, qns, rowIdx, bufD, bufI, sz, efK)
            else
              PqKernel.adcScanChunk(si.codes, si.nRows, m, kCent, luts, 0, bn,
                cosine, si.cdRow, qns, rowIdx, bufD, bufI, sz, efK)
            Iterator.range(0, bn).flatMap { qi =>
              // exact in-task re-rank of the ef winners (`pq_resort`)
              val qv = block(qi)._2
              var cnt = 0
              var p = 0
              while (p < sz(qi)) {
                val r = bufI(qi)(p).toInt
                val d =
                  if (cosine) graft.index.Simd.cosineExactOff(qv, si.vecs, r * dim)
                  else graft.index.Simd.l2sqExactOff(qv, si.vecs, r * dim)
                if (d <= upperBound) {
                  val id = si.ids(r)
                  if (cnt < k || d < outDs(cnt - 1) ||
                      (d == outDs(cnt - 1) && id < outIds(cnt - 1))) {
                    var lo = 0; var hi = cnt
                    while (lo < hi) {
                      val mid = (lo + hi) >>> 1
                      if (outDs(mid) < d || (outDs(mid) == d && outIds(mid) < id)) lo = mid + 1
                      else hi = mid
                    }
                    val nShift = math.min(cnt, k - 1) - lo
                    if (nShift > 0) {
                      System.arraycopy(outIds, lo, outIds, lo + 1, nShift)
                      System.arraycopy(outDs, lo, outDs, lo + 1, nShift)
                    }
                    if (lo < k) {
                      outIds(lo) = id; outDs(lo) = d
                      if (cnt < k) cnt += 1
                    }
                  }
                }
                p += 1
              }
              val qid = block(qi)._1
              val out = new Array[(Long, Long, Double)](cnt)
              var i = 0
              while (i < cnt) { out(i) = (qid, outIds(i), outDs(i)); i += 1 }
              out.iterator
            }
          }
        }
      }
      .toDF("query_id", "id", "distance")
  }
}
