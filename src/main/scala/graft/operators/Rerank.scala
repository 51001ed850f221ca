package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact float re-rank of a bounded `(query_id, id)` candidate set — the
  * shared second stage of every two-stage quantized arm ([[Bq]] / [[Sq]]):
  * join the (nq × candidates)-bounded coarse winner set against the float
  * table (id-pruned hash join, never an all-pairs scan), attach each
  * winner's query vector, score exactly, bounded top-k.
  *
  * 100 TB shape: the winner set is the ONLY thing that moves besides the
  * pruned float scan. While it fits the broadcast budget it ships once to
  * every executor (zero shuffle of the base); past the budget — nq 10k ×
  * candidates 20k is 200M rows ≈ several GB, a guaranteed driver/executor
  * OOM as a broadcast — the same join runs as a shuffle hash join: both
  * sides exchange on `id`, memory per task stays bounded by the partition,
  * and the result is identical (same join, different physical shape).
  * The gate is a pure driver-side byte estimate (nq and candidates are
  * both known exactly at plan time), so no extra job runs either way.
  */
private[graft] object Rerank {

  /** Estimated broadcast bytes per (query_id, id) winner row: two longs
    * plus HashedRelation entry overhead (key, pointers, padding). */
  val BytesPerRow = 64L

  /** Broadcast budget for the winner set; above it the rerank join runs
    * as a shuffle hash join. Override with
    * `-Dgraft.rerank.broadcast.max.bytes` (volatile for tests). */
  @volatile var broadcastMaxBytes: Long =
    sys.props.get("graft.rerank.broadcast.max.bytes").map(_.toLong)
      .getOrElse(512L << 20)

  /** A collected query batch (or chunk of one) as a (query_id, query_vec)
    * DataFrame — a LocalRelation, so the rerank's query-side broadcast
    * costs no job. Used by the per-chunk rerank callers: each chunk
    * reranks against ITS queries only, keeping the broadcast at chunk
    * size instead of re-shipping the whole batch per chunk. */
  def queriesDf(spark: org.apache.spark.sql.SparkSession,
      qs: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    spark.createDataset(qs.toIndexedSeq).toDF("query_id", "query_vec")
  }

  /** @param estRows exact upper bound on `coarseIds` rows (nq × candidates
    *                — both driver-known at every call site). */
  def exact(
      coarseIds: DataFrame,
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      dist: String,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      estRows: Long): DataFrame = {
    val qs = broadcast(queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryVecCol).as("__qvec")))
    val winners =
      if (estRows * BytesPerRow <= broadcastMaxBytes) broadcast(coarseIds)
      else {
        // hinted (not left to AQE): the coarse set is a fresh aggregate
        // output with no stats, and a wrong runtime broadcast here is an
        // OOM, not a slowdown
        coarseIds.hint("shuffle_hash")
      }
    winners
      .join(base.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("__vec")), "id")
      .join(qs, "query_id")
      .select(col("query_id"), col("id"),
        graft.functions.VectorFunctions.distance(
          col("__vec"), col("__qvec"), dist).as("__dist"))
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("id"), col("__dist")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(col("query_id"), col("hit.id").as("id"),
        col("hit.distance").as("distance"))
  }
}
