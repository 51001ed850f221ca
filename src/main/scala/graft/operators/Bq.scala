package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

import graft.functions.{BitPackCentered, BitPackSign, BqKernel, HammingDistance}

/** Binary-quantization (sign-bit) search — the codebook-free end of the
  * quantized-serving spectrum the reference's PQ occupies
  * (`/root/reference/src/distance/pq_table.rs`): 1 bit/dim packed into
  * longs (d960 → 15 words, 32× less scan traffic than float), Hamming
  * distance as the coarse score, exact re-rank on the survivors.
  *
  * 100 TB shape: the packed column is what scans — a 100 TB float corpus
  * is a ~3 TB packed corpus, streamed once per query batch with only
  * O(queries × candidates) rows ever shuffled. Re-ranking is one more
  * pass of the float corpus pruned by a broadcast hash join against the
  * (nq × candidates)-bounded winner set — never an all-pairs join.
  */
// Serializable: the coarse-scan function values call module helpers, so
// task closures can capture the singleton (deserializes back to MODULE$
// via the compiler-generated readResolve — carries no state)
object Bq extends Serializable {

  /** Per-dim threshold model for CENTERED packing: bit set iff
    * `v(i) >= thresholds(i)`. Raw sign bits (threshold 0 everywhere) carry
    * near-zero information on any corpus whose dims are not mean-centered —
    * an all-positive corpus (GIST descriptors, most learned embeddings
    * post-activation) packs every row identically and the coarse pass
    * degenerates to random selection. Training at the per-dim mean splits
    * each bit ~50/50, the information-maximizing single threshold. */
  case class BqModel(thresholds: Array[Double]) {
    def dim: Int = thresholds.length
  }

  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ColumnShim.column(e)

  /** Column function: pack sign bits of `vec` into `array<bigint>`. */
  def bqPack(vec: Column): Column = c(BitPackSign(ColumnShim.expression(vec)))

  /** Column function: pack threshold bits of `vec` under `model`. */
  def bqPackCentered(vec: Column, model: BqModel): Column =
    c(BitPackCentered(ColumnShim.expression(vec), model.thresholds))

  /** Column function: Hamming distance between two packed arrays. */
  def bqHamming(a: Column, b: Column): Column =
    c(HammingDistance(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** One-pass exact per-dim mean ([[Sq.train]]'s fold shape: a d-length
    * double sum + row count per partition, treeReduce of log₂(P) merges —
    * no data rows move). Accepts array<float> and array<double>, the same
    * surface as [[encodeCentered]] / [[BitPackCentered]] (float widens to
    * double exactly, so float-input models are unchanged). The sum order
    * varies with partitioning, but a ±1-ulp threshold wobble flips a bit
    * only for vectors EXACTLY at the mean — the same measure-zero class
    * as the raw packer's `-0.0 >= 0` edge. */
  def train(df: DataFrame, vecCol: String = "vec"): BqModel = {
    val spark = df.sparkSession
    import spark.implicits._
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType |
        org.apache.spark.sql.types.DoubleType, _) => ()
      case other => throw new IllegalArgumentException(
        s"bq_train requires array<float>/array<double>, got ${other.catalogString}")
    }
    val partials = df.select(col(vecCol)
        .cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)).as("v"))
      .as[Array[Double]].rdd
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next()
          val sum = first.clone()
          var n = 1L
          while (it.hasNext) {
            val v = it.next()
            require(v.length == sum.length,
              s"bq_train: dimension mismatch (${v.length} vs ${sum.length})")
            var i = 0
            while (i < v.length) { sum(i) += v(i); i += 1 }
            n += 1
          }
          Iterator.single((sum, n))
        }
      }
    val (sums, n) = try partials.treeReduce { case ((s1, n1), (s2, n2)) =>
      var i = 0
      while (i < s1.length) { s1(i) += s2(i); i += 1 }
      (s1, n1 + n2)
    } catch { case _: UnsupportedOperationException =>
      throw new IllegalArgumentException(
        "bq_train: input table has no rows — a quantizer needs at least one vector")
    }
    BqModel(sums.map(_ / n))
  }

  /** Add a packed sign-bit column (default name `bq`). */
  def encode(df: DataFrame, vecCol: String = "vec", out: String = "bq"): DataFrame =
    df.withColumn(out, bqPack(col(vecCol)))

  /** Add a packed threshold-bit column under a trained model. */
  def encodeCentered(df: DataFrame, model: BqModel, vecCol: String = "vec",
      out: String = "bq"): DataFrame =
    df.withColumn(out, bqPackCentered(col(vecCol), model))

  /** Declarative Hamming top-k: encode both sides, broadcast the query
    * batch, codegen'd XOR/popcount score, bounded top-k aggregate. Ties
    * broken (hamming, id) ascending — the engine's standard order.
    * Output: (query_id, id, hamming: long).
    */
  def hammingTopK(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "id",
      vecCol: String = "vec",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val packed = base.select(col(idCol).cast("long").as("__id"),
      bqPack(col(vecCol)).as("__bq"))
    val qs = broadcast(queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      bqPack(col(queryVecCol)).as("__qbq")))
    packed.crossJoin(qs)
      .select(col("query_id"), col("__id"),
        bqHamming(col("__bq"), col("__qbq")).cast("double").as("__dist"))
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("__id"), col("__dist")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(col("query_id"), col("hit.id").as("id"),
        col("hit.distance").cast("long").as("hamming"))
  }

  /** Serving-shape Hamming top-k: broadcast the packed query batch, stream
    * the base once through `mapPartitions` with per-query bounded insertion
    * buffers on exact (hamming, id) order, merge the tiny partials with the
    * bounded aggregate — [[Knn.exactBroadcast]]'s shape on packed words
    * (integer XOR/popcount needs no float-error envelope: selection is
    * exact by construction). Same logical result as [[hammingTopK]].
    */
  def hammingBroadcast(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "id",
      vecCol: String = "vec",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    hammingBroadcastPacked(
      encode(base.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")))
        .select(col("id"), col("bq")),
      queries, k, queryIdCol, queryVecCol)

  /** [[hammingBroadcast]] over an ALREADY-PACKED `(id, bq: array<bigint>)`
    * corpus — the deployed shape: the packed column is built once at ingest
    * (32× smaller than the float corpus) and is all that scans per batch.
    * Pass the `model` the corpus was packed under so queries pack with the
    * SAME thresholds (`None` = raw sign bits, [[encode]]'s convention). */
  def hammingBroadcastPacked(
      packed: DataFrame,
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      model: Option[BqModel] = None): DataFrame = {
    val codec = BqCodec(model)
    hammingBroadcastPackedArr(packed,
      CoarseMerge.collectQueries(queries, queryIdCol, queryVecCol)
        .map { case (qid, v) => (qid, codec.prepare(v)) }, k)
  }

  /** [[hammingBroadcastPacked]] over an already-collected, already-PACKED
    * query batch ([[CoarseMerge.coarse]] under its task-memory gate).
    * Output: (query_id, id, hamming). */
  private[graft] def hammingBroadcastPackedArr(
      packed: DataFrame,
      qs: Array[(Long, Array[Long])],
      k: Int): DataFrame =
    CoarseMerge.coarse(BqCodec(None), packed, qs, k)._1
      .select(col("query_id"), col("id"),
        col("distance").cast("long").as("hamming"))

  /** One query's bounded sweep over a flat row-block run [from, until) —
    * the 15-word (d960, the reference dim) unrolled variant: query words
    * pinned in registers, the integer admission bound in a register, one
    * TopBuffer hot for the whole run. Returns the updated bound.
    * (kernel timing: 20-22 ns/pair vs 67-73 for the r17 row-outer
    * loop whose per-pair cost was bound-array loads + query tuple derefs
    * + a cold buffer touch.) */
  private def scanRun15(rowsFlat: Array[Long], ids: Array[Long],
      from: Int, until: Int, qflat: Array[Long], qoff: Int,
      buf: graft.index.TopBuffer, bound0: Int): Int = {
    import java.lang.Long.bitCount
    val q0 = qflat(qoff); val q1 = qflat(qoff + 1)
    val q2 = qflat(qoff + 2); val q3 = qflat(qoff + 3)
    val q4 = qflat(qoff + 4); val q5 = qflat(qoff + 5)
    val q6 = qflat(qoff + 6); val q7 = qflat(qoff + 7)
    val q8 = qflat(qoff + 8); val q9 = qflat(qoff + 9)
    val q10 = qflat(qoff + 10); val q11 = qflat(qoff + 11)
    val q12 = qflat(qoff + 12); val q13 = qflat(qoff + 13)
    val q14 = qflat(qoff + 14)
    var bound = bound0
    var r = from
    var ro = from * 15
    while (r < until) {
      val acc = bitCount(rowsFlat(ro) ^ q0) +
        bitCount(rowsFlat(ro + 1) ^ q1) +
        bitCount(rowsFlat(ro + 2) ^ q2) +
        bitCount(rowsFlat(ro + 3) ^ q3) +
        bitCount(rowsFlat(ro + 4) ^ q4) +
        bitCount(rowsFlat(ro + 5) ^ q5) +
        bitCount(rowsFlat(ro + 6) ^ q6) +
        bitCount(rowsFlat(ro + 7) ^ q7) +
        bitCount(rowsFlat(ro + 8) ^ q8) +
        bitCount(rowsFlat(ro + 9) ^ q9) +
        bitCount(rowsFlat(ro + 10) ^ q10) +
        bitCount(rowsFlat(ro + 11) ^ q11) +
        bitCount(rowsFlat(ro + 12) ^ q12) +
        bitCount(rowsFlat(ro + 13) ^ q13) +
        bitCount(rowsFlat(ro + 14) ^ q14)
      // d == bound still offers: the id tie-break may admit
      if (acc <= bound) {
        buf.offer(acc.toDouble, ids(r))
        val bb = buf.bound
        bound = if (bb >= Int.MaxValue.toDouble) Int.MaxValue else bb.toInt
      }
      r += 1; ro += 15
    }
    bound
  }

  /** [[scanRun15]] for any word count (generic loop: 28-31 ns/pair). */
  private def scanRunGeneric(rowsFlat: Array[Long], ids: Array[Long],
      from: Int, until: Int, qflat: Array[Long], qoff: Int, words: Int,
      buf: graft.index.TopBuffer, bound0: Int): Int = {
    import java.lang.Long.bitCount
    var bound = bound0
    var r = from
    var ro = from * words
    while (r < until) {
      var acc = 0
      var w = 0
      while (w < words) {
        acc += bitCount(rowsFlat(ro + w) ^ qflat(qoff + w)); w += 1
      }
      if (acc <= bound) {
        buf.offer(acc.toDouble, ids(r))
        val bb = buf.bound
        bound = if (bb >= Int.MaxValue.toDouble) Int.MaxValue else bb.toInt
      }
      r += 1; ro += words
    }
    bound
  }

  /** Flatten a packed query batch into one contiguous word array
    * (query-outer kernels read it with stride `words`). */
  private def flattenQueries(qarr: Array[(Long, Array[Long])],
      words: Int): Array[Long] = {
    val qflat = new Array[Long](qarr.length * words)
    var vq = 0
    while (vq < qarr.length) {
      val qw = qarr(vq)._2
      if (qw.length != words) throw new IllegalArgumentException(
        s"bq_hamming: word-count mismatch (${qw.length} vs $words)")
      System.arraycopy(qw, 0, qflat, vq * words, words)
      vq += 1
    }
    qflat
  }

  /** BQ as a [[CoarseMerge.Codec]]: queries pack to words under the
    * corpus's `model` (`None` = raw sign bits) and both kernels score
    * XOR/popcount Hamming distances. */
  private[graft] final case class BqCodec(model: Option[BqModel])
      extends CoarseMerge.Codec[Array[Long], Array[Long]] {
    def name: String = "bq"

    def prepare(v: Array[Float]): Array[Long] =
      model.fold(BqKernel.pack(v))(m => BqKernel.packCentered(v, m.thresholds))

    def flatRows(packed: DataFrame): Dataset[(Long, Array[Long])] = {
      val spark = packed.sparkSession
      import spark.implicits._
      packed.select(col("id").cast("long"), col("bq")).as[(Long, Array[Long])]
    }

    def probedRows(rows: DataFrame): Dataset[(Long, Array[Long], Long)] = {
      val spark = rows.sparkSession
      import spark.implicits._
      rows.select(col("id").cast("long"), col("bq"), col("cluster").cast("long"))
        .as[(Long, Array[Long], Long)]
    }

    def flatKernel(bc: Broadcast[Array[(Long, Array[Long])]], bufCap: Int)
        : Iterator[(Long, Array[Long])] => Array[graft.index.TopBuffer] = {
      // bounded (hamming, id) selector per query — integer hammings (≤ dim)
      // are exact in double, so (distance, id) order is the engine's
      // standard tie-break bit for bit. QUERY-OUTER blocked loop (r18): the
      // r17 row-outer loop paid ~67 ns/pair — streaming the query-word
      // array, a bounds array and a random buffer per (row, query) — while
      // the arithmetic floor is ~15 ns/pair (kernel timing). Buffering
      // ~4 MB of rows and looping queries OUTER keeps one query's words and
      // its admission bound in registers and ONE TopBuffer hot per sweep:
      // measured 20-31 ns/pair (15-word unroll / generic), 2.8× on the
      // nq10k coarse pass. Selection identical — per query the rows offer
      // in the same order, under the same integer bound (hammings are
      // exact in int and double alike).
      def scanPartition(it: Iterator[(Long, Array[Long])])
          : Array[graft.index.TopBuffer] = {
        val qarr = bc.value
        val nq = qarr.length
        if (nq == 0 || !it.hasNext) return Array.empty
        val words = qarr(0)._2.length
        val qflat = flattenQueries(qarr, words)
        val bufs = Array.fill(nq)(new graft.index.TopBuffer(bufCap))
        // per-query integer admission bounds carried across row blocks
        val bounds = Array.fill(nq)(Int.MaxValue)
        val blockRows = math.max(1, (4 << 20) / (words * 8))
        val ids = new Array[Long](blockRows)
        val rowsFlat = new Array[Long](blockRows * words)
        while (it.hasNext) {
          var m = 0
          while (m < blockRows && it.hasNext) {
            val (id, bq) = it.next()
            if (bq.length != words) throw new IllegalArgumentException(
              s"bq_hamming: word-count mismatch (${bq.length} vs $words)")
            System.arraycopy(bq, 0, rowsFlat, m * words, words)
            ids(m) = id
            m += 1
          }
          var qi = 0
          while (qi < nq) {
            bounds(qi) =
              if (words == 15)
                scanRun15(rowsFlat, ids, 0, m, qflat, qi * 15, bufs(qi), bounds(qi))
              else
                scanRunGeneric(rowsFlat, ids, 0, m, qflat, qi * words, words,
                  bufs(qi), bounds(qi))
            qi += 1
          }
        }
        bufs
      }
      scanPartition _
    }

    /** Probed Hamming pass: rows buffer into ~4 MB flat blocks, cluster
      * RUNS within a block are detected (the partitioned layout delivers
      * rows grouped by directory, so runs span whole file splits; the
      * in-memory path degrades to shorter runs, still on flat arrays), and
      * each run is swept once per PROBING query with that query's words
      * and admission bound in registers — the flat kernel's loop shape,
      * 2-3× over the r17 row-outer form. Selection identical (per query
      * the rows offer in scan order under the same integer bound). */
    def probedKernel(bcQ: Broadcast[Array[(Long, Array[Long])]],
        bcMap: Broadcast[Map[Long, Array[Int]]], bufCap: Int)
        : Iterator[(Long, Array[Long], Long)] => Array[graft.index.TopBuffer] = {
      def scanPartition(it: Iterator[(Long, Array[Long], Long)])
          : Array[graft.index.TopBuffer] = {
        val qarr = bcQ.value
        val qmap = bcMap.value
        val nq = qarr.length
        if (nq == 0 || !it.hasNext) return Array.empty
        val words = qarr(0)._2.length
        val qflat = flattenQueries(qarr, words)
        val bufs = Array.fill(nq)(new graft.index.TopBuffer(bufCap))
        val bounds = Array.fill(nq)(Int.MaxValue)
        val blockRows = math.max(1, (4 << 20) / (words * 8))
        val ids = new Array[Long](blockRows)
        val clusters = new Array[Long](blockRows)
        val rowsFlat = new Array[Long](blockRows * words)
        while (it.hasNext) {
          var m = 0
          while (m < blockRows && it.hasNext) {
            val (id, bq, cluster) = it.next()
            if (bq.length != words) throw new IllegalArgumentException(
              s"bq_hamming: word-count mismatch (${bq.length} vs $words)")
            System.arraycopy(bq, 0, rowsFlat, m * words, words)
            ids(m) = id
            clusters(m) = cluster
            m += 1
          }
          var s = 0
          while (s < m) {
            val cl = clusters(s)
            var e = s + 1
            while (e < m && clusters(e) == cl) e += 1
            val probers = qmap.getOrElse(cl, null)
            if (probers != null) {
              var pi = 0
              while (pi < probers.length) {
                val qi = probers(pi)
                bounds(qi) =
                  if (words == 15)
                    scanRun15(rowsFlat, ids, s, e, qflat, qi * 15,
                      bufs(qi), bounds(qi))
                  else
                    scanRunGeneric(rowsFlat, ids, s, e, qflat, qi * words,
                      words, bufs(qi), bounds(qi))
                pi += 1
              }
            }
            s = e
          }
        }
        bufs
      }
      scanPartition _
    }
  }

  /** Two-stage BQ serving: Hamming top-`candidates` coarse pass on the
    * packed column, exact `dist` re-rank of the survivors on one more
    * (id-pruned) pass over the float column. Output: (query_id, id,
    * distance) ascending (distance, id) per query — the engine's standard
    * KNN result shape, approximate with recall governed by
    * `candidates / k`.
    */
  def searchRerank(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      candidates: Int,
      dist: String = "l2sqr",
      vecCol: String = "vec",
      center: Boolean = true,
      coarseSelect: String = "exact"): DataFrame = {
    val ids = base.select(col("id").cast("long").as("id"), col(vecCol).as("vec"))
    val model = if (center) Some(train(ids)) else None
    val packed = model.fold(encode(ids))(m => encodeCentered(ids, m))
      .select(col("id"), col("bq"))
    searchRerankPacked(packed, base, queries, k, candidates, dist, vecCol,
      model, coarseSelect)
  }

  /** [[searchRerank]] with the coarse pass over an ALREADY-PACKED corpus
    * (see [[hammingBroadcastPacked]]; pass the packing `model` so queries
    * pack under the same thresholds) — [[CoarseMerge.searchRerank]], whose
    * `coarseSelect` modes apply. */
  def searchRerankPacked(
      packed: DataFrame,
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      candidates: Int,
      dist: String = "l2sqr",
      vecCol: String = "vec",
      model: Option[BqModel] = None,
      coarseSelect: String = "exact"): DataFrame =
    CoarseMerge.searchRerank(BqCodec(model), packed, base, queries, k,
      candidates, dist, vecCol, coarseSelect)._1

  /** Persist `(id, bq, cluster)` as the physical IVF-BQ layout: cluster-
    * partitioned parquet (`data/cluster=N/...`) — [[Sq.writeIvfPartitioned]]'s
    * layout on packed sign/threshold words, so [[searchIvf]]'s probe
    * filter prunes DIRECTORIES before any word is read. */
  def writeIvfPartitioned(assignedPacked: DataFrame, path: String): Unit =
    assignedPacked.select(col("id"), col("bq"), col("cluster"))
      .write.partitionBy("cluster").mode("overwrite").parquet(s"$path/data")

  /** IVF-routed BQ (the composition [[Sq.searchIvf]] serves for byte
    * codes, on 1-bit words — [[CoarseMerge.searchIvf]]): per query, probe
    * the `nProbes` nearest clusters, scan ONLY those clusters' packed
    * words with the Hamming kernel, keep the coarse top-`candidates`, then
    * exact re-rank on an id-pruned pass over the float column. With
    * `nProbes ≥ kClusters` and `candidates ≥ n` the result is exact KNN.
    *
    * 100 TB shape: the IVF pruning and the 32× bit compression multiply —
    * a batch reads (np/kc) × corpus/32 bytes over the partitioned layout
    * ([[writeIvfPartitioned]], read back as
    * `spark.read.parquet(s"$path/data")`); `baseClusterCol` prunes the
    * rerank scan as in [[Sq.searchIvf]]. Reference analog: the probe
    * economics of `/root/reference/src/index/ivf_index.rs:143-155` on the
    * packed sidecar pattern of `metadata_vec_table.rs:14-20`.
    *
    * @param codes (id, bq, cluster) — an assigned frame ([[Ivf.build]],
    *              [[Ivf.withAssigned]]) run through
    *              [[encodeCentered]]/[[encode]], in memory or the
    *              partitioned layout
    * @param base  (id, vec) float table for the re-rank */
  def searchIvf(
      codes: DataFrame,
      base: DataFrame,
      ivfModel: IvfModel,
      bqModel: Option[BqModel],
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
    CoarseMerge.searchIvf(BqCodec(bqModel), codes, base, ivfModel, queries,
      k, candidates, nProbes, dist, vecCol, baseClusterCol, flatCodes,
      flatBase, coarseSelect, flatVecCol)._1
}
