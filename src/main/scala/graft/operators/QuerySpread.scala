package graft.operators

import org.apache.spark.sql.Dataset

/** Query-side parallelism policy for the broadcast-state serving arm
  * (`Pq.searchFlatBroadcast`; the HNSW serving arms walk on the driver).
  *
  * A serving batch resolves each query entirely inside its task (the
  * scanned state is broadcast), so the only cross-task cost is scheduling — measured at
  * ~2 ms of serial driver time per task on local[32]. Spreading a tiny
  * batch across every core is therefore a pessimization: an 8-query
  * catalog lookup over 32 tasks is 31 empty dispatches. When Catalyst
  * statistics expose an exact row count (a cached-and-materialized query
  * batch does, via its InMemoryRelation; a `limit(n)` plan reports n),
  * clamp the batch to `ceil(nq/QueriesPerTask)` tasks; when the count is
  * unknown (an arbitrary lazy plan), keep the full cluster width — a
  * wrong narrow guess on a huge batch would cost far more than extra
  * empty tasks on a small one.
  *
  * The default of 32 queries/task only narrows batches smaller than
  * 32 × the cluster width: measured at nq=1000 on local[32], halving the
  * task count is inside run-to-run noise for the light HNSW walk and
  * costs up to ~30% for heavy per-query work (the flat ADC scan idles
  * half the cores), so batches at or beyond full width keep it.
  *
  * Narrowing uses `coalesce` (merges co-located partitions, no shuffle);
  * widening keeps the existing repartition-only-if-needed rule. On a real
  * cluster the same policy holds: the per-task floor is driver RPC +
  * executor launch instead of local dispatch, and a 100-query interactive
  * batch should occupy a few tasks, not 1000.
  */
private[graft] object QuerySpread {
  /** Queries per task target. */
  private val QueriesPerTask = 32L

  def apply[T](qds: Dataset[T]): Dataset[T] = {
    val par = qds.sparkSession.sparkContext.defaultParallelism
    val cur = qds.rdd.getNumPartitions
    val target = qds.queryExecution.optimizedPlan.stats.rowCount match {
      case Some(n) =>
        val qpt = QueriesPerTask
        math.max(1L, math.min(par.toLong, (n.toLong + qpt - 1) / qpt)).toInt
      case None => par
    }
    if (cur > target) qds.coalesce(target)
    else if (cur * 2 >= target) qds
    else qds.repartition(target)
  }
}
