package graft.index

/** Executor-local LRU of rebuilt HNSW subgraphs, keyed by (index identity,
  * subgraph or partition id). Serving workloads search the same stored index
  * with batch after batch of queries; without this every batch re-decodes
  * the adjacency rows and re-allocates the graph. A (key, id) pair must name
  * one immutable subgraph. The broadcast arm keys on a per-table generation
  * under which a subgraph never changes: an append adds new pids to the
  * generation (only those graphs build), while compaction or a rebuild
  * starts a new generation and evicts the old one
  * (`graft.operators.BroadcastIndex`). The pinned arms key on table
  * version + row count, so any add/delete rotates the key; the catalog
  * evicts the superseded key.
  *
  * Eviction is BYTE-budgeted, not entry-counted (r13 lesson: a 64-entry cap
  * against a 96-entry working set turned interleaved serving reps into a
  * 100%-miss rebuild cycle that read as a 10× "ef anomaly" in the bench —
  * entry counts say nothing about working-set fit). The default budget is a
  * fraction of the JVM max heap, overridable via the
  * `graft.cache.graph.maxBytes` system property; rebuild count/time feed
  * [[CacheStats]] so capacity churn is visible in bench artifacts instead
  * of masquerading as kernel time.
  *
  * Same-key same-pid entries are deterministic (the sidecar is immutable for
  * a given key), so a racing duplicate build is wasted work, not a
  * correctness issue — builds run outside the lock.
  */
object HnswGraphCache {

  /** Cached unit: the rebuilt graph plus the local→global id mapping. */
  final case class Entry(graph: HnswGraph, ids: Array[Long])

  /** Graph-cache byte budget: `graft.cache.graph.maxBytes` sysprop, else
    * 40% of max heap. Executors size their own (their own maxMemory). */
  private[graft] def maxBytes: Long =
    sys.props.get("graft.cache.graph.maxBytes").map(_.toLong).getOrElse(
      (Runtime.getRuntime.maxMemory * 0.40).toLong)

  private def entryBytes(e: Entry): Long =
    e.graph.byteSize + e.ids.length.toLong * 8 + 64

  /** Byte-budgeted LRU: values carry their size; eviction pops eldest
    * until under budget. Mutation under the map's monitor; the byte count
    * is an AtomicLong so a SIBLING cache's budget thunk can read it
    * without taking this monitor (two caches share one budget — monitor
    * cross-reads would be an ABBA deadlock). */
  private[graft] final class ByteLru[K, V](budget: () => Long) {
    private val bytes = new java.util.concurrent.atomic.AtomicLong
    private val map =
      new java.util.LinkedHashMap[K, (V, Long)](16, 0.75f, true)
    def get(k: K): Option[V] = synchronized(Option(map.get(k)).map(_._1))
    def put(k: K, v: V, sz: Long): Unit = synchronized {
      val prev = map.put(k, (v, sz))
      if (prev != null) bytes.addAndGet(-prev._2)
      bytes.addAndGet(sz)
      val lim = budget()
      val it = map.entrySet().iterator()
      while (bytes.get > lim && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) { bytes.addAndGet(-e.getValue._2); it.remove() }
      }
    }
    def removeIf(p: K => Boolean): Unit = synchronized {
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey)) { bytes.addAndGet(-e.getValue._2); it.remove() }
      }
    }
    def currentBytes: Long = bytes.get
    def size: Int = synchronized(map.size())
  }

  // the two graph caches share ONE budget: each sees the headroom the
  // other leaves (reads are lock-free, so no cross-monitor deadlock)
  private val cache = new ByteLru[(String, Int), Entry](
    () => math.max(maxBytes / 16, maxBytes - groupCache.currentBytes))

  def get(key: String, pid: Int)(build: => Entry): Entry = {
    val k = (key, pid)
    cache.get(k).getOrElse {
      val e = CacheStats.timedGraphBuild(build)
      cache.put(k, e, entryBytes(e))
      e
    }
  }

  /** Group variant for the pinned (beyond-broadcast) serving path: one
    * entry per SPARK partition of the pinned index dataset, holding every
    * (subgraph id, rebuilt graph) that partition carries. Keyed by Spark
    * partition id — stable across jobs over the same persisted RDD — so a
    * repeat batch can skip reading the partition's rows entirely (the
    * `build` thunk, which consumes them, is only forced on a miss). The
    * subgraph id rides along so routed searches (IVF+HNSW: pid = cluster)
    * can skip graphs the query does not probe. */
  private val groupCache: ByteLru[(String, Int), Array[(Int, Entry)]] =
    new ByteLru[(String, Int), Array[(Int, Entry)]](
      () => math.max(maxBytes / 16, maxBytes - cache.currentBytes))

  def getGroup(key: String, spid: Int)(build: => Array[(Int, Entry)]): Array[(Int, Entry)] = {
    val k = (key, spid)
    groupCache.get(k).getOrElse {
      val e = CacheStats.timedGraphBuild(build)
      groupCache.put(k, e, e.map(x => entryBytes(x._2) + 16).sum)
      e
    }
  }

  /** Retained bytes across both graph caches (diagnostics). */
  def currentBytes: Long = cache.currentBytes + groupCache.currentBytes

  /** Drop the entries of exactly `key`, leaving keys it prefixes alone. */
  def evict(key: String): Unit = {
    cache.removeIf(_._1 == key)
    groupCache.removeIf(_._1 == key)
  }

  /** Drop every entry whose key starts with `prefix` — called when a table
    * or sidecar is deleted so rebuilt multi-GB graphs don't outlive their
    * data. Effective for this JVM (driver == executor in local mode);
    * remote executors rely on LRU aging + content-versioned key rotation. */
  def invalidate(prefix: String): Unit = {
    cache.removeIf(_._1.startsWith(prefix))
    groupCache.removeIf(_._1.startsWith(prefix))
  }
}
