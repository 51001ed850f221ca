package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

import graft.functions.{SqAdcDistance, SqEncode, SqKernel}

/** SQ8 scalar-quantization search — 8 bits/dim under a per-dim affine map,
  * the middle point of the quantized-serving spectrum (BQ 1 bit → SQ8 →
  * PQ codebooks; the reference's codebook end is
  * `/root/reference/src/distance/pq_table.rs`). Unlike PQ there is no
  * learned codebook: the model is the exact per-dim (min, scale) pair, so
  * encoding is deterministic from the data and an independent SQL oracle
  * can recompute the codes bit-for-bit.
  *
  * 100 TB shape: train is ONE pass (per-partition fold + treeReduce of two
  * d-length arrays — no shuffle of data rows); the packed corpus is 1/4 the
  * float bytes and is all that scans per query batch; re-rank touches the
  * float column only through a broadcast-pruned `id IN` candidate set,
  * never an all-pairs join.
  */
// Serializable: the coarse-scan function values call module helpers, so
// task closures can capture the singleton (deserializes back to MODULE$
// via the compiler-generated readResolve — carries no state)
object Sq extends Serializable {

  /** Exact per-dim affine model; `scales(i) == 0` marks a constant dim. */
  case class SqModel(mins: Array[Double], scales: Array[Double]) {
    def dim: Int = mins.length
  }

  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ColumnShim.column(e)

  /** Cold-path throw, kept OUT of the serving kernels' hot loops: an
    * inline interpolated throw bloats the mapPartitions closure past the
    * JIT inlining budget and measurably de-optimizes the scan (r15 run-1:
    * sq_coarse rows lost 35-50% to exactly this). */
  private def sqDimMismatch(codeLen: Int, queryLen: Int, model: Int): Nothing =
    throw new IllegalArgumentException(
      s"sq_adc: dimension mismatch (code $codeLen, query $queryLen, model $model)")

  /** One-pass exact per-dim min/max (double arithmetic; see [[SqKernel]]).
    * Per-partition fold keeps two d-length arrays per task; treeReduce
    * merges log₂(P) rounds of 2·d doubles — nothing else moves. Accepts
    * array<float> and array<double>, the same surface as [[SqEncode]] /
    * [[SqAdcDistance]] (float widens to double exactly, so the float-input
    * model is bit-identical to the old float-only fold). */
  def train(df: DataFrame, vecCol: String = "vec"): SqModel = {
    val spark = df.sparkSession
    import spark.implicits._
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType |
        org.apache.spark.sql.types.DoubleType, _) => ()
      case other => throw new IllegalArgumentException(
        s"sq_train requires array<float>/array<double>, got ${other.catalogString}")
    }
    val partials = df.select(col(vecCol)
        .cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)).as("v"))
      .as[Array[Double]].rdd
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next()
          val mn = first.clone()
          val mx = first.clone()
          while (it.hasNext) {
            val v = it.next()
            require(v.length == mn.length,
              s"sq_train: dimension mismatch (${v.length} vs ${mn.length})")
            var i = 0
            while (i < v.length) {
              val x = v(i)
              if (x < mn(i)) mn(i) = x
              if (x > mx(i)) mx(i) = x
              i += 1
            }
          }
          Iterator.single((mn, mx))
        }
      }
    val (mins, maxs) = try partials.treeReduce { case ((mn1, mx1), (mn2, mx2)) =>
      var i = 0
      while (i < mn1.length) {
        if (mn2(i) < mn1(i)) mn1(i) = mn2(i)
        if (mx2(i) > mx1(i)) mx1(i) = mx2(i)
        i += 1
      }
      (mn1, mx1)
    } catch { case _: UnsupportedOperationException =>
      // treeReduce's "empty collection" — keep train ONE pass (no isEmpty
      // pre-job) and still fail with an actionable message
      throw new IllegalArgumentException(
        "sq_train: input table has no rows — a quantizer needs at least one vector")
    }
    SqModel(mins, SqKernel.scales(mins, maxs))
  }

  /** Column function: encode `vec` to a `dim`-byte binary code. */
  def sqEncode(vec: Column, model: SqModel): Column =
    c(SqEncode(ColumnShim.expression(vec), model.mins, model.scales))

  /** Column function: asymmetric distance (query floats vs decoded code). */
  def sqDistance(code: Column, query: Column, model: SqModel,
      dist: String = "l2sqr"): Column =
    c(SqAdcDistance(ColumnShim.expression(code), ColumnShim.expression(query),
      model.mins, model.scales, dist))

  /** Add an SQ8 code column (default name `sq`). */
  def encode(df: DataFrame, model: SqModel, vecCol: String = "vec",
      out: String = "sq"): DataFrame =
    df.withColumn(out, sqEncode(col(vecCol), model))

  /** Declarative coarse top-k on the quantized domain: broadcast the query
    * batch, codegen'd decode-and-score, bounded top-k aggregate. Ties
    * (distance, id) ascending. Output: (query_id, id, distance). */
  def coarseTopK(
      packed: DataFrame,
      queries: DataFrame,
      model: SqModel,
      k: Int,
      dist: String = "l2sqr",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val qs = broadcast(queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryVecCol).as("__qvec")))
    packed.select(col("id").cast("long").as("__id"), col("sq"))
      .crossJoin(qs)
      .select(col("query_id"), col("__id"),
        sqDistance(col("sq"), col("__qvec"), model, dist).as("__dist"))
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("__id"), col("__dist")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(col("query_id"), col("hit.id").as("id"),
        col("hit.distance").as("distance"))
  }

  /** Serving-shape coarse top-k: broadcast the query batch, stream the
    * packed corpus once through `mapPartitions` with per-query bounded
    * insertion buffers, merge the partials under [[CoarseMerge]]'s
    * selection and task-memory gate. Same logical result as
    * [[coarseTopK]]. */
  def serveBroadcastPacked(
      packed: DataFrame,
      queries: DataFrame,
      model: SqModel,
      k: Int,
      dist: String = "l2sqr",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    CoarseMerge.coarse(SqCodec(model, dist), packed,
      CoarseMerge.collectQueries(queries, queryIdCol, queryVecCol), k)._1

  /** SQ8 as a [[CoarseMerge.Codec]]: queries stay floats, and both kernels
    * decode each row ONCE per batch, then score it with [[SqKernel]]'s
    * double arithmetic term for term. */
  private[graft] final case class SqCodec(model: SqModel, dist: String)
      extends CoarseMerge.Codec[Array[Float], Array[Byte]] {
    def name: String = "sq"

    def prepare(v: Array[Float]): Array[Float] = v

    def flatRows(packed: DataFrame): Dataset[(Long, Array[Byte])] = {
      val spark = packed.sparkSession
      import spark.implicits._
      packed.select(col("id").cast("long"), col("sq")).as[(Long, Array[Byte])]
    }

    def probedRows(rows: DataFrame): Dataset[(Long, Array[Byte], Long)] = {
      val spark = rows.sparkSession
      import spark.implicits._
      rows.select(col("id").cast("long"), col("sq"), col("cluster").cast("long"))
        .as[(Long, Array[Byte], Long)]
    }

    def flatKernel(bc: Broadcast[Array[(Long, Array[Float])]], bufCap: Int)
        : Iterator[(Long, Array[Byte])] => Array[graft.index.TopBuffer] = {
      val mins = model.mins
      val scales = model.scales
      val kindDot = dist == "dot"
      val kindCos = dist == "cosine"
      // bounded (distance, id) selector per query: sorted-array admits at
      // serving k, max-heap past 256 slots (rerank candidate budgets — the
      // O(k)-memmove-per-admit fix); identical admitted set
      val scanPartition = (it: Iterator[(Long, Array[Byte])]) =>
          if (!it.hasNext || bc.value.isEmpty) Array.empty[graft.index.TopBuffer]
          else {
        val qarr = bc.value
        val nq = qarr.length
        val bufs = Array.fill(nq)(new graft.index.TopBuffer(bufCap))
        // dense per-query admission bounds (nq × 8 B): at big-batch ×
        // rerank budgets the buffers are 100s of MB per task, so reading
        // `buf.bound` (and rejected offers) costs a cache miss per
        // (row, query) — see Bq's flat kernel. The dim-loop early exit and
        // the offer gate both read this array; it updates on every admit.
        val bounds = Array.fill(nq)(Double.PositiveInfinity)
        val dim = mins.length
        // validate once per partition what the declarative SqAdcDistance
        // arm validates per row — same descriptive error, not a raw AIOOBE
        var vq = 0
        while (vq < nq) {
          if (qarr(vq)._2.length != dim)
            sqDimMismatch(dim, qarr(vq)._2.length, dim)
          vq += 1
        }
        // decode each row ONCE per batch, not once per (row × query):
        // at nq=1000 the affine decode would otherwise triple the FLOPs
        // and re-read code bytes per query; the decoded row stays hot in
        // L1 across the query loop. Same double arithmetic as
        // [[SqKernel]] term for term — the declarative arm's distances
        // (and therefore ties) are reproduced exactly (SqSpec pins it).
        val dec = new Array[Double](dim)
        while (it.hasNext) {
          val (id, code) = it.next()
          if (code.length != dim) sqDimMismatch(code.length, dim, dim)
          var di = 0
          while (di < dim) {
            dec(di) = mins(di) + scales(di) * (code(di) & 0xFF)
            di += 1
          }
          var qi = 0
          while (qi < nq) {
            val q = qarr(qi)._2
            val bound = bounds(qi)
            var d = 0.0
            if (kindDot) {
              var i = 0
              while (i < dim) { d += q(i).toDouble * dec(i); i += 1 }
            } else if (kindCos) {
              var dp = 0.0; var nq2 = 0.0; var nc = 0.0
              var i = 0
              while (i < dim) {
                val a = q(i).toDouble
                dp += a * dec(i); nq2 += a * a; nc += dec(i) * dec(i)
                i += 1
              }
              d = 1.0 - dp / math.max(math.sqrt(nq2) * math.sqrt(nc), 1e-10)
            } else {
              // L2 partial sums are monotone: once d exceeds the current
              // k-th-worst STRICTLY, the row cannot be admitted (equality
              // still completes — the id tie-break may admit it), so the
              // dim loop bails in 128-element blocks. Selection-neutral:
              // only never-admitted rows are cut short.
              var i = 0
              var live = true
              while (live && i < dim) {
                val blockEnd = math.min(i + 128, dim)
                while (i < blockEnd) {
                  val t = q(i).toDouble - dec(i)
                  d += t * t
                  i += 1
                }
                if (d > bound) live = false
              }
            }
            if (d <= bound) {
              val buf = bufs(qi)
              buf.offer(d, id)
              bounds(qi) = buf.bound
            }
            qi += 1
          }
        }
        bufs
      }
      scanPartition
    }

    /** [[flatKernel]] with per-row query subsets: score only the queries
      * that probed the row's cluster (inverted cluster → queries map).
      * Measured at 10k×960 the decode-once kernel serves ~1.5-2× the
      * declarative per-(row×query) decode (r14 kernel A/B). */
    def probedKernel(bcQ: Broadcast[Array[(Long, Array[Float])]],
        bcMap: Broadcast[Map[Long, Array[Int]]], bufCap: Int)
        : Iterator[(Long, Array[Byte], Long)] => Array[graft.index.TopBuffer] = {
      val mins = model.mins
      val scales = model.scales
      val kindDot = dist == "dot"
      val kindCos = dist == "cosine"
      def scanPartition(it: Iterator[(Long, Array[Byte], Long)])
          : Array[graft.index.TopBuffer] = {
        val qarr = bcQ.value
        val qmap = bcMap.value
        val nq = qarr.length
        if (nq == 0 || !it.hasNext) return Array.empty
        val bufs = Array.fill(nq)(new graft.index.TopBuffer(bufCap))
        // dense admission bounds — see flatKernel's rationale
        val bounds = Array.fill(nq)(Double.PositiveInfinity)
        val dim = mins.length
        var vq = 0
        while (vq < nq) {
          if (qarr(vq)._2.length != dim)
            sqDimMismatch(dim, qarr(vq)._2.length, dim)
          vq += 1
        }
        val dec = new Array[Double](dim)
        while (it.hasNext) {
          val (id, code, cluster) = it.next()
          val probers = qmap.getOrElse(cluster, null)
          if (probers != null) {
            if (code.length != dim) sqDimMismatch(code.length, dim, dim)
            var di = 0
            while (di < dim) {
              dec(di) = mins(di) + scales(di) * (code(di) & 0xFF)
              di += 1
            }
            var pi = 0
            while (pi < probers.length) {
              val qi = probers(pi)
              val q = qarr(qi)._2
              val bound = bounds(qi)
              var d = 0.0
              if (kindDot) {
                var i = 0
                while (i < dim) { d += q(i).toDouble * dec(i); i += 1 }
              } else if (kindCos) {
                var dp = 0.0; var nq2 = 0.0; var nc = 0.0
                var i = 0
                while (i < dim) {
                  val a = q(i).toDouble
                  dp += a * dec(i); nq2 += a * a; nc += dec(i) * dec(i)
                  i += 1
                }
                d = 1.0 - dp / math.max(math.sqrt(nq2) * math.sqrt(nc), 1e-10)
              } else {
                var i = 0
                var live = true
                while (live && i < dim) {
                  val blockEnd = math.min(i + 128, dim)
                  while (i < blockEnd) {
                    val t = q(i).toDouble - dec(i)
                    d += t * t
                    i += 1
                  }
                  if (d > bound) live = false
                }
              }
              if (d <= bound) {
                val buf = bufs(qi)
                buf.offer(d, id)
                bounds(qi) = buf.bound
              }
              pi += 1
            }
          }
        }
        bufs
      }
      scanPartition _
    }
  }

  /** Two-stage SQ8 serving: coarse top-`candidates` on the packed column,
    * exact re-rank of the survivors on one id-pruned pass over the float
    * column ([[CoarseMerge.searchRerank]]). Output: (query_id, id,
    * distance) ascending (distance, id) per query. With `candidates ≥ n`
    * the coarse pass keeps every row and the result is exact KNN. */
  def searchRerankPacked(
      packed: DataFrame,
      base: DataFrame,
      queries: DataFrame,
      model: SqModel,
      k: Int,
      candidates: Int,
      dist: String = "l2sqr",
      vecCol: String = "vec",
      coarseSelect: String = "exact"): DataFrame =
    CoarseMerge.searchRerank(SqCodec(model, dist), packed, base, queries, k,
      candidates, dist, vecCol, coarseSelect)._1

  /** IVF-routed SQ8 (the FAISS IVF+SQ composition on the engine's own IVF
    * machinery, [[CoarseMerge.searchIvf]]): per query, probe the
    * `nProbes` nearest clusters, scan ONLY those clusters' byte codes with
    * the decode-once early-exit kernel, keep the coarse top-`candidates`,
    * then exact re-rank on an id-pruned pass over the float column. With
    * `nProbes ≥ kClusters` and `candidates ≥ n` the result is exact KNN.
    *
    * 100 TB shape: the IVF pruning and the 4× byte compression multiply —
    * over the cluster-PARTITIONED layout ([[writeIvfPartitioned]], read
    * back as `spark.read.parquet(s"$path/data")`) the probe filter is a
    * parquet partition filter and only (np/kc) × corpus/4 bytes are READ
    * per batch. When `base` is ALSO cluster-partitioned under the same
    * assignment (the catalog's IVF sidecar layout, [[Ivf.writePartitioned]]),
    * pass `baseClusterCol = Some("cluster")` and the rerank scan
    * partition-prunes too — without it the rerank streams the whole float
    * corpus per batch, which dominates the serving cost once the coarse
    * pass is pruned (measured at 1M×960 np1: ~4 s of a ~5 s batch).
    *
    * @param codes (id, sq, cluster) — an assigned frame ([[Ivf.build]],
    *              [[Ivf.withAssigned]]) run through [[encode]], in memory
    *              or the partitioned layout
    * @param base  (id, vec) float table for the re-rank; see
    *              [[CoarseMerge.searchIvf]] for the flat-twin options */
  def searchIvf(
      codes: DataFrame,
      base: DataFrame,
      ivfModel: IvfModel,
      sqModel: SqModel,
      queries: DataFrame,
      k: Int,
      candidates: Int,
      nProbes: Option[Int] = None,
      dist: String = "l2sqr",
      vecCol: String = "vec",
      baseClusterCol: Option[String] = None,
      flatCodes: Option[DataFrame] = None,
      flatBase: Option[DataFrame] = None,
      coarseSelect: String = "exact",
      flatVecCol: Option[String] = None): DataFrame =
    CoarseMerge.searchIvf(SqCodec(sqModel, dist), codes, base, ivfModel,
      queries, k, candidates, nProbes, dist, vecCol, baseClusterCol,
      flatCodes, flatBase, coarseSelect, flatVecCol)._1

  /** Persist `(id, sq, cluster)` as the physical IVFSQ layout: cluster-
    * partitioned parquet (`data/cluster=N/...`) — [[Ivf.writePartitioned]]'s
    * layout on byte codes, so [[searchIvf]]'s probe filter prunes
    * DIRECTORIES before any byte is read. */
  def writeIvfPartitioned(assignedPacked: DataFrame, path: String): Unit =
    assignedPacked.select(col("id"), col("sq"), col("cluster"))
      .write.partitionBy("cluster").mode("overwrite").parquet(s"$path/data")

  /** The r14 declarative probed scan (per-(row×query) codegen decode) —
    * kept as SqSpec's reference for the kernel and partitioned arms: same
    * logical result as [[searchIvf]], slower physical shape. It never
    * collects the batch, so the rerank gate prices one `count()`. */
  def searchIvfDeclarative(
      assignedPacked: DataFrame,
      base: DataFrame,
      ivfModel: graft.operators.IvfModel,
      sqModel: SqModel,
      queries: DataFrame,
      k: Int,
      candidates: Int,
      nProbes: Option[Int] = None,
      dist: String = "l2sqr",
      vecCol: String = "vec"): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val np = math.max(1, nProbes.getOrElse(ivfModel.defaultNProbes))
    val spark = assignedPacked.sparkSession
    val qsExact = queries.select(
      col("query_id").cast("long").as("query_id"), col("query_vec"))
    // per-query probe list: Q × k_clusters tiny crossJoin + bounded top-k
    // (Ivf.search's shape — ties → lowest cluster id)
    val probes = qsExact
      .crossJoin(broadcast(Ivf.centroidsDf(spark, ivfModel)))
      .select(col("query_id"), col("cluster").cast("long").as("cl"),
        graft.functions.VectorFunctions.distance(
          col("query_vec"), col("centroid"), ivfModel.dist).as("cd"))
      .groupBy("query_id")
      .agg(TopK.topK(np)(col("cl"), col("cd")).as("pk"))
      .select(col("query_id"),
        explode(transform(col("pk"), h => h.getField("id"))).as("p_cluster"))
    val probedQueries = probes.join(qsExact, "query_id")
    // cluster-pruned BYTE scan: codes stream, probed pairs broadcast
    val coarse = assignedPacked
      .join(broadcast(probedQueries),
        col("cluster").cast("long") === col("p_cluster"))
      .select(col("query_id"), col("id").cast("long").as("__id"),
        sqDistance(col("sq"), col("query_vec"), sqModel, dist).as("__dist"))
      .groupBy("query_id")
      .agg(TopK.topK(candidates)(col("__id"), col("__dist")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(col("query_id"), col("hit.id").as("id"))
    Rerank.exact(coarse, base, queries, k, dist, "id", vecCol,
      "query_id", "query_vec", estRows = queries.count() * candidates)
  }

  /** [[searchRerankPacked]] with train+encode inline (convenience for the
    * graded-query / test surface; deployments encode once at ingest). */
  def searchRerank(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      candidates: Int,
      dist: String = "l2sqr",
      vecCol: String = "vec",
      coarseSelect: String = "exact"): DataFrame = {
    val model = train(base, vecCol)
    searchRerankPacked(
      encode(base.select(col("id").cast("long").as("id"),
        col(vecCol).as("vec")), model).select(col("id"), col("sq")),
      base, queries, model, k, candidates, dist, vecCol, coarseSelect)
  }
}
