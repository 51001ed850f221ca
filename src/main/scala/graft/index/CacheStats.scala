package graft.index

import java.util.concurrent.atomic.AtomicLong

/** JVM-wide counters for the executor-local serving caches (rebuilt HNSW
  * subgraphs, PQ code matrices): how many cache-miss rebuilds ran and how
  * long they took. Serving cost at steady state should be pure graph
  * walks; any rebuild time here is cache-capacity (or key-rotation) churn
  * paying decode/encode CPU that benchmarks would otherwise misattribute
  * to the kernel (r13: a 64-entry codes LRU vs a 96-entry working set made
  * ef120 walk rows re-encode 1M vectors per rep — reported as a 10×
  * "ef inversion" with zero GC attribution). The bench samples deltas of
  * these counters around each rep and publishes them as `rep_rebuild_ms`,
  * so an outlier rep names its thief in the artifact.
  *
  * Counters are per-JVM. In local mode (the bench) driver == executor, so
  * driver-side sampling sees everything; on a real cluster each executor
  * accumulates its own — these are diagnostics, not metrics plumbing.
  */
object CacheStats {
  /** HNSW subgraph rebuilds (adjacency decode + graph assembly). */
  val graphBuilds = new AtomicLong
  val graphBuildNanos = new AtomicLong
  /** PQ code-matrix (re)encodes for ADC arms. */
  val codesBuilds = new AtomicLong
  val codesBuildNanos = new AtomicLong
  /** Index-sidecar rows the driver-resident HNSW arms collected to the
    * driver (full, delta and evicted-graph loads alike), and the wall time
    * those loads took. An append that loads its own rows, not the table,
    * shows here. */
  val indexRowsShipped = new AtomicLong
  val indexShipNanos = new AtomicLong
  /** Data rows whose `(id, meta)` the catalog's metadata attach read into
    * its driver-side part-file cache, and the wall time those loads took.
    * A search after an append loads the appended rows, not the table. */
  val metaRowsLoaded = new AtomicLong
  val metaLoadNanos = new AtomicLong

  @inline def timedGraphBuild[T](build: => T): T = {
    val t0 = System.nanoTime()
    try build finally {
      graphBuilds.incrementAndGet()
      graphBuildNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  @inline def timedCodesBuild[T](build: => T): T = {
    val t0 = System.nanoTime()
    try build finally {
      codesBuilds.incrementAndGet()
      codesBuildNanos.addAndGet(System.nanoTime() - t0)
    }
  }
}
