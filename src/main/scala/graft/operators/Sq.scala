package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
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
    * insertion buffers, merge the tiny partials with the bounded aggregate
    * — [[Bq.hammingBroadcastPacked]]'s shape on SQ codes. Same logical
    * result as [[coarseTopK]]. */
  def serveBroadcastPacked(
      packed: DataFrame,
      queries: DataFrame,
      model: SqModel,
      k: Int,
      dist: String = "l2sqr",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol))
      .as[(Long, Array[Float])].collect()
    serveBroadcastPackedArr(packed, qs, model, k, dist)
  }

  /** [[serveBroadcastPacked]] over an already-collected query batch — the
    * shared entry for callers that need the batch on the driver anyway
    * (probe planning, rerank byte-gating).
    *
    * Task-memory gate: every scanned partition holds nq × k × 16 B of
    * [[graft.index.TopBuffer]] slots for the whole pass — 3.2 GB/task at
    * nq=10k × candidates=20k, an OOM at any executor size. The batch is
    * chunked to [[CoarseMerge.spans]] (default 256 MiB of slots per task)
    * and the chunk results union — exact by construction (selection is
    * per-query), each chunk one more pass over the packed scan. */
  private[graft] def serveBroadcastPackedArr(
      packed: DataFrame,
      qs: Array[(Long, Array[Float])],
      model: SqModel,
      k: Int,
      dist: String,
      approxPerPart: Int = 0): DataFrame = {
    // approx mode: per-task state is nq × perPart slots, not nq × k
    val spans = CoarseMerge.spans(qs.length,
      if (approxPerPart > 0) approxPerPart else k)
    val hits = spans.map { case (s, e) =>
      serveChunk(packed,
        if (s == 0 && e == qs.length) qs else qs.slice(s, e), model, k, dist,
        approxPerPart)
    }.reduce(_ union _)
    CoarseMerge.lastChunks = spans.length
    hits
  }

  /** One task-memory chunk of [[serveBroadcastPackedArr]]: the full coarse
    * scan for a query sub-batch. Output: (query_id, id, distance). */
  private def serveChunk(
      packed: DataFrame,
      qs: Array[(Long, Array[Float])],
      model: SqModel,
      k: Int,
      dist: String,
      approxPerPart: Int = 0): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(qs)
    val bufCap = if (approxPerPart > 0) approxPerPart else k
    val mins = model.mins
    val scales = model.scales
    val kindDot = dist == "dot"
    val kindCos = dist == "cosine"
    // bounded (distance, id) selector per query: sorted-array admits at
    // serving k, max-heap past 256 slots (rerank candidate budgets — the
    // O(k)-memmove-per-admit fix); identical admitted set
    // a FUNCTION VALUE, not a local def: a def lifts to a method on the
    // enclosing object and its reference from the rdd lambda captures the
    // (non-serializable) singleton — Task not serializable
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
    val src = packed
      .select(col("id").cast("long"), col("sq"))
      .as[(Long, Array[Byte])]
    if (approxPerPart > 0) {
      // APPROXIMATE selection (r19, verdict #2) — per-partition
      // top-approxPerPart union IS the rerank pool, no selection shuffle;
      // see [[Bq]]'s twin branch for the economics.
      CoarseMerge.lastPath = "approx"
      src.mapPartitions { it =>
          val qarr = bc.value
          val bufs = scanPartition(it)
          Iterator.range(0, bufs.length).flatMap { qi =>
            val buf = bufs(qi)
            Iterator.range(0, buf.size).map(p =>
              (qarr(qi)._1, buf.idAt(p), buf.distAt(p)))
          }
        }
        .toDF("query_id", "id", "distance")
    } else if (CoarseMerge.eligible(qs.length, k)) {
      // large candidate budgets: tree-merge the per-partition buffers —
      // the aggregate path would shuffle P × nq × k partial rows
      CoarseMerge.lastPath = "merge"
      CoarseMerge.merge(spark, qs.map(_._1),
        src.rdd.mapPartitions(it => Iterator.single(scanPartition(it))), k)
    } else if (CoarseMerge.distEligible(qs.length, k)) {
      // past the driver cap: shard-keyed distributed buffer merge
      CoarseMerge.lastPath = "dist"
      CoarseMerge.mergeDistributed(spark, qs.map(_._1),
        src.rdd.mapPartitions(it => Iterator.single(scanPartition(it))), k)
    } else {
      CoarseMerge.lastPath = "agg"
      src.mapPartitions { it =>
          val qarr = bc.value
          val bufs = scanPartition(it)
          Iterator.range(0, bufs.length).flatMap { qi =>
            val buf = bufs(qi)
            Iterator.range(0, buf.size).map(p =>
              (qarr(qi)._1, buf.idAt(p), buf.distAt(p)))
          }
        }
        .toDF("query_id", "id", "distance")
        .groupBy("query_id")
        .agg(TopK.topK(k)(col("id"), col("distance")).as("topk"))
        .select(col("query_id"), explode(col("topk")).as("hit"))
        .select(col("query_id"), col("hit.id").as("id"),
          col("hit.distance").as("distance"))
    }
  }

  /** Two-stage SQ8 serving: coarse top-`candidates` on the packed column,
    * exact re-rank of the survivors on one id-pruned pass over the float
    * column ([[Bq.searchRerankPacked]]'s shape). Output: (query_id, id,
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
      idCol: String = "id",
      vecCol: String = "vec",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      coarseSelect: String = "exact"): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val spark = packed.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol))
      .as[(Long, Array[Float])].collect()
    // exact|approx|auto — see [[Bq.searchRerankPacked]]
    val approxPerPart = CoarseMerge.approxPerPart(coarseSelect, qs.length,
      packed, k, candidates)
    // coarse is chunked under the task-memory gate; the rerank runs ONCE
    // over the unioned winners — per-chunk rerank re-scans the full float
    // base per chunk, a measured net loss on the flat path (see
    // [[Bq.searchRerankPacked]]; the ROUTED twins rerank per chunk
    // against cluster-pruned bases)
    val coarse = serveBroadcastPackedArr(packed, qs, model, candidates, dist,
        approxPerPart)
      .select(col("query_id"), col("id"))
    Rerank.exact(coarse, base, queries, k, dist, idCol, vecCol,
      queryIdCol, queryVecCol, estRows = qs.length.toLong * candidates)
  }

  /** Probed coarse pass in the SERVING kernel shape: stream the probed
    * clusters' `(id, sq, cluster)` rows once through `mapPartitions`,
    * decode each row ONCE per batch, score only the queries that probed
    * that row's cluster (inverted cluster→queries map, broadcast), L2
    * early exit in 128-element blocks — [[serveBroadcastPacked]]'s kernel
    * with per-row query subsets. Same distances term for term as the
    * declarative [[SqAdcDistance]] arm, so ties and results agree exactly.
    * Measured at 10k×960 the decode-once kernel serves ~1.5-2× the
    * declarative per-(row×query) decode (r14 kernel A/B). */
  private def coarseIvfKernel(
      probedRows: DataFrame,
      qs: Array[(Long, Array[Float])],
      clusterToQ: Map[Long, Array[Int]],
      model: SqModel,
      candidates: Int,
      dist: String,
      approxPerPart: Int = 0): DataFrame = {
    val spark = probedRows.sparkSession
    import spark.implicits._
    val bcQ = spark.sparkContext.broadcast(qs)
    val bcMap = spark.sparkContext.broadcast(clusterToQ)
    val mins = model.mins
    val scales = model.scales
    val kindDot = dist == "dot"
    val kindCos = dist == "cosine"
    val k = candidates
    // approx mode: per-task state is nq × approxPerPart slots, not nq × k
    val bufCap = if (approxPerPart > 0) approxPerPart else k
    def scanPartition(it: Iterator[(Long, Array[Byte], Long)])
        : Array[graft.index.TopBuffer] = {
      val qarr = bcQ.value
      val qmap = bcMap.value
      val nq = qarr.length
      if (nq == 0 || !it.hasNext) return Array.empty
      val bufs = Array.fill(nq)(new graft.index.TopBuffer(bufCap))
      // dense admission bounds — see serveChunk's rationale
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
    val src = probedRows
      .select(col("id").cast("long"), col("sq"), col("cluster").cast("long"))
      .as[(Long, Array[Byte], Long)]
    val hits =
      if (approxPerPart > 0) {
        // APPROXIMATE selection (r20) — each scanned partition's
        // top-approxPerPart per query IS the rerank pool, no selection
        // shuffle; see [[Bq]]'s routed twin branch for the economics.
        CoarseMerge.lastPath = "approx"
        src.mapPartitions { it =>
            val qarr = bcQ.value
            val bufs = scanPartition(it)
            Iterator.range(0, bufs.length).flatMap { qi =>
              val buf = bufs(qi)
              Iterator.range(0, buf.size).map(p =>
                (qarr(qi)._1, buf.idAt(p), buf.distAt(p)))
            }
          }
          .toDF("query_id", "id", "distance")
      } else if (CoarseMerge.eligible(qs.length, k)) {
        CoarseMerge.lastPath = "merge"
        CoarseMerge.merge(spark, qs.map(_._1),
          src.rdd.mapPartitions(it => Iterator.single(scanPartition(it))), k)
      } else if (CoarseMerge.distEligible(qs.length, k)) {
        CoarseMerge.lastPath = "dist"
        CoarseMerge.mergeDistributed(spark, qs.map(_._1),
          src.rdd.mapPartitions(it => Iterator.single(scanPartition(it))), k)
      } else {
        CoarseMerge.lastPath = "agg"
        src.mapPartitions { it =>
            val qarr = bcQ.value
            val bufs = scanPartition(it)
            Iterator.range(0, bufs.length).flatMap { qi =>
              val buf = bufs(qi)
              Iterator.range(0, buf.size).map(p =>
                (qarr(qi)._1, buf.idAt(p), buf.distAt(p)))
            }
          }
          .toDF("query_id", "id", "distance")
          .groupBy("query_id")
          .agg(TopK.topK(k)(col("id"), col("distance")).as("topk"))
          .select(col("query_id"), explode(col("topk")).as("hit"))
          .select(col("query_id"), col("hit.id").as("id"),
            col("hit.distance").as("distance"))
      }
    hits.select(col("query_id"), col("id"))
  }

  /** Task-memory-gated, rerank-pipelined IVF search core shared by
    * [[searchIvf]] / [[searchIvfPartitionedDf]] ([[graft.operators.Bq]]'s
    * twin — see [[Bq]]'s searchIvfChunked scaladoc for the full argument):
    * chunk the query batch to [[CoarseMerge.spans]], plan probes PER CHUNK
    * (chunking tightens partition pruning), and rerank PER CHUNK against a
    * float base pruned to the chunk's probed clusters when `rerankBaseFor`
    * can prune (returns Some); chunks whose base is NOT prunable defer
    * their coarse winners to ONE global rerank against `globalBase` —
    * per-chunk passes over an unpruned ~3.8 KB/row float base multiply
    * full corpus scans by the chunk count (the measured 35 s vs 24 s
    * flat-path loss; the winner side is 16 B/row). Exact by construction
    * either way — chunks partition the query set, both stages are
    * per-query. */
  private def searchIvfChunked(
      buildProbedRows: Array[Int] => DataFrame,
      rerankBaseFor: Array[Int] => Option[DataFrame],
      globalBase: DataFrame,
      qs: Array[(Long, Array[Float])],
      ivfModel: graft.operators.IvfModel,
      np: Int,
      sqModel: SqModel,
      k: Int,
      candidates: Int,
      dist: String,
      idCol: String,
      vecCol: String,
      coarseSelect: String = "exact",
      // vec column of `globalBase` when it differs from the pruned base's
      // (r20 binary sidecar — see [[Bq.searchIvfChunked]]'s twin param)
      flatVecCol: Option[String] = None): DataFrame = {
    // approx coarse selection over the routed kernel (r20) — see
    // [[Bq]]'s searchIvfChunked twin: the per-chunk cap comes from the
    // chunk's own pruned scan's partition count, the batch plan is
    // computed once and reused verbatim in the common 1-chunk case, and
    // the chunk gate sizes on nq × cap (what approx tasks actually hold)
    val approxOn = CoarseMerge.approxActive(coarseSelect, qs.length)
    val batchPlan =
      if (!approxOn) None
      else {
        val (c2q, probed) = probePlan(qs, ivfModel, np)
        val rows = buildProbedRows(probed)
        Some((c2q, probed, rows, CoarseMerge.capFor(rows, k, candidates)))
      }
    val spans = CoarseMerge.spans(qs.length,
      batchPlan.map(_._4).getOrElse(candidates))
    val deferredCoarse = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val deferredQs =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val perChunk = spans.flatMap { case (s, e) =>
      val qsC = if (s == 0 && e == qs.length) qs else qs.slice(s, e)
      val (clusterToQ, probed, probedRows, cap) = batchPlan match {
        case Some(b) if spans.length == 1 => b
        case _ =>
          val (c2q, p) = probePlan(qsC, ivfModel, np)
          val rows = buildProbedRows(p)
          (c2q, p, rows,
            if (approxOn) CoarseMerge.capFor(rows, k, candidates) else 0)
      }
      val coarse = coarseIvfKernel(probedRows, qsC, clusterToQ,
        sqModel, candidates, dist,
        approxPerPart = if (approxOn) cap else 0)
      rerankBaseFor(probed) match {
        case Some(prunedBase) =>
          Some(Rerank.exact(coarse, prunedBase,
            Rerank.queriesDf(coarse.sparkSession, qsC), k, dist, idCol,
            vecCol, "query_id", "query_vec",
            estRows = qsC.length.toLong * candidates))
        case None =>
          deferredCoarse += coarse; deferredQs ++= qsC; None
      }
    }
    CoarseMerge.lastChunks = spans.length
    val global =
      if (deferredCoarse.isEmpty) None
      else Some(Rerank.exact(deferredCoarse.reduce(_ union _), globalBase,
        Rerank.queriesDf(globalBase.sparkSession, deferredQs.toArray), k,
        dist, idCol, flatVecCol.getOrElse(vecCol), "query_id", "query_vec",
        estRows = deferredQs.length.toLong * candidates))
    (perChunk ++ global).reduce(_ union _)
  }

  /** Driver-side probe selection for a collected query batch: the `np`
    * nearest centroids per query ([[Ivf.probeList]] — exact doubles, ties
    * → lowest cluster, the same order as the declarative TopK pass) plus
    * the inverted cluster → probing-query-indices map the kernel scans
    * with. */
  private[graft] def probePlan(
      qs: Array[(Long, Array[Float])],
      ivfModel: graft.operators.IvfModel,
      np: Int): (Map[Long, Array[Int]], Array[Int]) = {
    val pairs = qs.zipWithIndex.flatMap { case ((_, qv), qi) =>
      Ivf.probeList(qv, ivfModel, np).map(c => (c.toLong, qi))
    }
    val inverted = pairs.groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2) }
    (inverted, pairs.map(_._1.toInt).distinct.sorted)
  }

  /** IVF-routed SQ8 (the FAISS IVF+SQ composition on the engine's own IVF
    * machinery): per query, probe the `nProbes` nearest clusters (driver-
    * side — Q × k_clusters exact double distances), scan ONLY those
    * clusters' byte codes with the decode-once early-exit kernel
    * ([[coarseIvfKernel]]), keep the coarse top-`candidates`, then exact
    * re-rank on an id-pruned pass over the float column. With `nProbes ≥
    * kClusters` and `candidates ≥ n` the result is exact KNN (every row
    * survives both prunes).
    *
    * 100 TB shape: the IVF pruning and the 4× byte compression multiply.
    * Over an in-memory `assignedPacked` the probed-cluster `isin` filter
    * is compute-pruning; over the cluster-PARTITIONED layout
    * ([[writeIvfPartitioned]] / [[searchIvfPartitioned]]) the same filter
    * is a parquet partition filter and only (np/kc) × corpus/4 bytes are
    * READ per batch.
    *
    * @param assignedPacked (id, sq, cluster) — [[Ivf.assign]] output run
    *                       through [[encode]]
    * @param base           (id, vec) float table for the re-rank
    */
  def searchIvf(
      assignedPacked: DataFrame,
      base: DataFrame,
      ivfModel: graft.operators.IvfModel,
      sqModel: SqModel,
      queries: DataFrame,
      k: Int,
      candidates: Int,
      nProbes: Option[Int] = None,
      dist: String = "l2sqr",
      idCol: String = "id",
      vecCol: String = "vec",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      coarseSelect: String = "exact"): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val np = math.max(1, nProbes.getOrElse(ivfModel.defaultNProbes))
    val spark = assignedPacked.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol))
      .as[(Long, Array[Float])].collect()
    searchIvfChunked(
      probed => assignedPacked
        .select(col(idCol).cast("long").as("id"), col("sq"),
          col("cluster").cast("long").as("cluster"))
        .filter(col("cluster").isInCollection(
          probed.map(c => Long.box(c.toLong)).toSeq)),
      // in-memory base: not cluster-prunable per chunk -> ONE global rerank
      _ => None, base,
      qs, ivfModel, np, sqModel, k, candidates, dist, idCol, vecCol,
      coarseSelect)
  }

  /** Persist `(id, sq, cluster)` as the physical IVFSQ layout: cluster-
    * partitioned parquet (`data/cluster=N/...`) — [[Ivf.writePartitioned]]'s
    * layout on byte codes, so [[searchIvfPartitioned]]'s probe filter
    * prunes DIRECTORIES before any byte is read. */
  def writeIvfPartitioned(assignedPacked: DataFrame, path: String): Unit =
    assignedPacked.select(col("id"), col("sq"), col("cluster"))
      .write.partitionBy("cluster").mode("overwrite").parquet(s"$path/data")

  /** [[searchIvf]] over the cluster-partitioned code layout: the probed
    * clusters push down as a parquet PARTITION filter, so a batch reads
    * (probed clusters / kc) × corpus/4 bytes — the multiplied prune the
    * operator exists for.
    *
    * When `base` is ALSO cluster-partitioned under the same IVF assignment
    * (the catalog's IVF sidecar layout, [[Ivf.writePartitioned]]), pass
    * `baseClusterCol = Some("cluster")`: every coarse candidate comes from
    * a probed cluster, so its float row lives in a probed cluster's
    * directory and the RERANK scan partition-prunes too — without it the
    * rerank streams the whole float corpus per batch, which dominates the
    * serving cost once the coarse pass is pruned (measured at 1M×960 np1:
    * the full-scan rerank is ~4 s of a ~5 s batch). */
  def searchIvfPartitioned(
      path: String,
      base: DataFrame,
      ivfModel: graft.operators.IvfModel,
      sqModel: SqModel,
      queries: DataFrame,
      k: Int,
      candidates: Int,
      nProbes: Option[Int] = None,
      dist: String = "l2sqr",
      idCol: String = "id",
      vecCol: String = "vec",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      baseClusterCol: Option[String] = None,
      coarseSelect: String = "exact"): DataFrame =
    searchIvfPartitionedDf(base.sparkSession.read.parquet(s"$path/data"),
      base, ivfModel, sqModel, queries, k, candidates, nProbes, dist,
      idCol, vecCol, queryIdCol, queryVecCol, baseClusterCol,
      coarseSelect = coarseSelect)

  /** [[searchIvfPartitioned]] over a PRE-LISTED codes DataFrame (a
    * `spark.read.parquet(path/data)` created once and reused). Listing a
    * kc-way partitioned layout is a per-`read.parquet`-call driver cost —
    * measured ~1.3 s at kc=512 — that a serving deployment pays ONCE (its
    * catalog table holds the file index) while a per-batch re-read pays
    * per query batch and swallows the pruned-bytes win. The probed-cluster
    * filter still prunes partitions at planning time against the reused
    * index. */
  /** @param flatCodes optional UNPARTITIONED (id, sq, cluster) twin of
    *                   `codes` — the coverage-aware dispatch target: when
    *                   a chunk's probe union covers ≥
    *                   [[CoarseMerge.coverageFlatThreshold]] of the
    *                   clusters, directory pruning is void and the flat
    *                   copy scans instead (one contiguous parquet vs kc
    *                   directories' file/footer overhead — same rows, same
    *                   per-query probe restriction, identical results).
    * @param flatBase   the flat float twin the RERANK reads in the same
    *                   regime (the partitioned float read is equally
    *                   prune-void there). */
  def searchIvfPartitionedDf(
      codes: DataFrame,
      base: DataFrame,
      ivfModel: graft.operators.IvfModel,
      sqModel: SqModel,
      queries: DataFrame,
      k: Int,
      candidates: Int,
      nProbes: Option[Int] = None,
      dist: String = "l2sqr",
      idCol: String = "id",
      vecCol: String = "vec",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      baseClusterCol: Option[String] = None,
      flatCodes: Option[DataFrame] = None,
      flatBase: Option[DataFrame] = None,
      coarseSelect: String = "exact",
      flatVecCol: Option[String] = None): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val np = math.max(1, nProbes.getOrElse(ivfModel.defaultNProbes))
    val spark = base.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol))
      .as[(Long, Array[Float])].collect()
    val kc = ivfModel.centroids.length
    def prunes(probed: Array[Int]): Boolean = {
      val flat = flatCodes.isDefined &&
        probed.length.toDouble / kc >= CoarseMerge.coverageFlatThreshold
      CoarseMerge.lastCoverageArm = if (flat) "flat" else "partitioned"
      !flat
    }
    searchIvfChunked(
      probed =>
        (if (prunes(probed))
           codes.filter(col("cluster").isin(probed.map(Int.box): _*)) // partition-pruned
         else flatCodes.get)
          .select(col("id").cast("long").as("id"), col("sq"),
            col("cluster").cast("long").as("cluster")),
      // per-CHUNK probed clusters — tighter than the batch union; every
      // chunk candidate comes from a chunk-probed cluster, so pruning
      // cannot drop one. Prunable ONLY when the base is cluster-
      // partitioned AND this chunk is in the pruning regime; otherwise
      // (flat regime, or no baseClusterCol) defer to ONE global rerank.
      probed =>
        if (prunes(probed))
          baseClusterCol.map(c =>
            base.filter(col(c).isin(probed.map(Int.box): _*)))
        else None,
      flatBase.getOrElse(base),
      qs, ivfModel, np, sqModel, k, candidates, dist, idCol, vecCol,
      coarseSelect, if (flatBase.isDefined) flatVecCol else None)
  }

  /** The r14 declarative probed scan (per-(row×query) codegen decode) —
    * kept as SqSpec's reference for the kernel and partitioned arms: same
    * logical result as [[searchIvf]], slower physical shape.
    *
    * @param nqHint caller-known query count, used to price the rerank
    *               broadcast gate without an extra count job per call
    *               (this twin deliberately never collects the batch;
    *               `None` falls back to one bounded `count()`). */
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
      idCol: String = "id",
      vecCol: String = "vec",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      nqHint: Option[Long] = None): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val np = math.max(1, nProbes.getOrElse(ivfModel.defaultNProbes))
    val spark = assignedPacked.sparkSession
    val qsExact = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryVecCol).as("query_vec"))
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
      .select(col("query_id"), col(idCol).cast("long").as("__id"),
        sqDistance(col("sq"), col("query_vec"), sqModel, dist).as("__dist"))
      .groupBy("query_id")
      .agg(TopK.topK(candidates)(col("__id"), col("__dist")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(col("query_id"), col("hit.id").as("id"))
    Rerank.exact(coarse, base, queries, k, dist, idCol, vecCol,
      queryIdCol, queryVecCol,
      estRows = nqHint.getOrElse(queries.count()) * candidates)
  }

  /** [[searchRerankPacked]] with train+encode inline (convenience for the
    * graded-query / test surface; deployments encode once at ingest). */
  def searchRerank(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      candidates: Int,
      dist: String = "l2sqr",
      idCol: String = "id",
      vecCol: String = "vec",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      coarseSelect: String = "exact"): DataFrame = {
    val model = train(base, vecCol)
    searchRerankPacked(
      encode(base.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vec")), model).select(col("id"), col("sq")),
      base, queries, model, k, candidates, dist, idCol, vecCol,
      queryIdCol, queryVecCol, coarseSelect)
  }
}
