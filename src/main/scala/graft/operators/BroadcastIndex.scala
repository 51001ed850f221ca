package graft.operators

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import graft.index.{CacheStats, HnswGraph, HnswGraphCache}

/** Driver-side serving state of the broadcast HNSW arms
  * ([[Hnsw.searchBroadcast]], [[Hnsw.searchBroadcastPq]]). Per cacheKey it
  * holds one broadcast per subgraph (pid), the sidecar part files those
  * broadcasts were read from, and a generation key under which executors
  * cache the rebuilt graphs ([[HnswGraphCache]]) and PQ code matrices.
  *
  * Parquet part files never change once written, so a sidecar's file
  * listing is its content identity. Each search diffs the listing against
  * the shipped set:
  *  - same files: serve the cached broadcasts;
  *  - new files only (a catalog append's delta subgraph — the subgraph-union
  *    analog of `HNSWIndex::add` on a graph already in memory): read just
  *    those files, broadcast each new pid, and executors build only those
  *    graphs — the generation and every graph cached under it stay;
  *  - a shipped file gone, or a new file repeating a shipped pid
  *    (compaction, clear+rebuild): reload everything under a fresh
  *    generation, unpersist the old broadcasts and evict the old
  *    generation's executor-local entries.
  * An index that is not a bare parquet scan (an in-memory frame, computed
  * columns) has no listing to diff: it ships once per cacheKey, which must
  * then change whenever its contents do.
  *
  * Shipping holds no global lock: one latch per cacheKey parks same-key
  * searches while one of them ships; other tables' searches proceed.
  * Eviction uses `unpersist` (lazy, non-blocking), not `destroy`: a plan
  * returned earlier may still reference a broadcast and must be able to
  * re-fetch it from the driver.
  */
private[operators] object BroadcastIndex {

  /** One subgraph's nodes ascending by local id: (id, vec, level, links). */
  type Nodes = Array[(Long, Array[Float], Int, Array[Array[Int]])]

  /** What a search walks: the executor cache generation (null: uncached)
    * and one broadcast per subgraph, ascending pid. */
  final case class Shipped(gen: String, parts: Array[(Int, Broadcast[Nodes])]) {

    /** Executor side: every shipped subgraph's rebuilt graph, aligned with
      * `parts` — from [[HnswGraphCache]] under the generation when cached. */
    def graphs(dist: String, m: Int, efConstruction: Int): Array[HnswGraphCache.Entry] =
      parts.map { case (pid, bc) =>
        def build: HnswGraphCache.Entry = {
          val nodes = bc.value
          HnswGraphCache.Entry(
            HnswGraph.fromNodes(nodes(0)._2.length, dist, m, efConstruction,
              nodes.iterator.map(n => (n._2, n._3, n._4))),
            nodes.map(_._1))
        }
        if (gen == null) build else HnswGraphCache.get(gen, pid)(build)
      }
  }

  /** A cacheKey's state: the generation it serves and the part files
    * shipped under it (empty for an index without a listing). */
  private final case class State(shipped: Shipped, files: Set[String])

  /** Tables served at once before the least recently searched one's
    * broadcasts are released. */
  private val MaxStates = 16

  private val states = new java.util.LinkedHashMap[String, State](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, State]): Boolean =
      if (size() > MaxStates) { release(e.getValue); true } else false
  }

  /** In-flight ships, one latch per cacheKey (the [[Hnsw]] pinned-build
    * scheme): a failed ship counts down without publishing, so a waiter
    * retries and becomes the shipper. */
  private val shipping = new ConcurrentHashMap[String, CountDownLatch]

  private val generations = new AtomicLong

  /** The index as broadcast subgraphs, shipping only what the cached state
    * for `cacheKey` lacks. Without a key every call ships the whole index. */
  def ship(index: DataFrame, cacheKey: Option[String]): Shipped = cacheKey match {
    case None => Shipped(null, broadcast(index, collect(index)))
    case Some(ck) =>
      val files = partFiles(index)
      while (true) {
        val cur = states.synchronized(Option(states.get(ck)))
        if (cur.exists(_.files == files)) return cur.get.shipped
        val latch = new CountDownLatch(1)
        val prev = shipping.putIfAbsent(ck, latch)
        if (prev == null) {
          try {
            // re-read under our latch: the previous shipper may have
            // published exactly this listing
            val cur = states.synchronized(Option(states.get(ck)))
            val next = cur match {
              case Some(st) if st.files == files => st
              case Some(st) if st.files.nonEmpty && st.files.subsetOf(files) =>
                delta(index, st, files).getOrElse(full(ck, index, files))
              case _ => full(ck, index, files)
            }
            if (!cur.contains(next)) {
              states.synchronized(states.put(ck, next))
              cur.filter(_.shipped.gen != next.shipped.gen).foreach(release)
            }
            return next.shipped
          } finally {
            shipping.remove(ck, latch)
            latch.countDown()
          }
        } else prev.await()
      }
      throw new IllegalStateException("unreachable")
  }

  /** Release every state whose cacheKey starts with `prefix` (the catalog's
    * table delete / index clear). */
  def invalidate(prefix: String): Unit = {
    val dropped = states.synchronized {
      val out = Seq.newBuilder[State]
      val it = states.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(prefix)) { out += e.getValue; it.remove() }
      }
      out.result()
    }
    dropped.foreach(release)
  }

  private def release(st: State): Unit = {
    st.shipped.parts.foreach(_._2.unpersist(blocking = false))
    Hnsw.evictKey(st.shipped.gen)
  }

  private def full(ck: String, index: DataFrame, files: Set[String]): State =
    State(Shipped(s"$ck#g${generations.incrementAndGet()}",
      broadcast(index, collect(index))), files)

  /** Ship only the part files `st` lacks, or None when they repeat a
    * shipped pid (the sidecar was rewritten, not appended to). */
  private def delta(index: DataFrame, st: State, files: Set[String]): Option[State] = {
    val added = (files -- st.files).toSeq.sorted
    val groups = collect(
      index.sparkSession.read.schema(index.schema).parquet(added: _*))
    val shippedPids = st.shipped.parts.map(_._1).toSet
    if (groups.exists(g => shippedPids.contains(g._1))) None
    else {
      val parts = (st.shipped.parts ++ broadcast(index, groups)).sortBy(_._1)
      Some(State(Shipped(st.shipped.gen, parts), files))
    }
  }

  /** Sidecar rows grouped by pid, ascending, each group by local id. */
  private def collect(df: DataFrame): Array[(Int, Nodes)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val t0 = System.nanoTime()
    val rows = df
      .select(col("pid").cast("int"), col("local_id").cast("int"),
        col("id").cast("long"), col("vec"), col("level").cast("int"),
        col("links"))
      .as[Hnsw.IndexRow]
      .collect()
    val groups = rows.groupBy(_._1).toArray.sortBy(_._1).map { case (pid, rs) =>
      (pid, rs.sortBy(_._2).map(r => (r._3, r._4, r._5, r._6)))
    }
    CacheStats.indexRowsShipped.addAndGet(rows.length)
    CacheStats.indexShipNanos.addAndGet(System.nanoTime() - t0)
    groups
  }

  private def broadcast(index: DataFrame, groups: Array[(Int, Nodes)])
    : Array[(Int, Broadcast[Nodes])] = {
    val t0 = System.nanoTime()
    val sc = index.sparkSession.sparkContext
    val parts = groups.map { case (pid, nodes) => (pid, sc.broadcast(nodes)) }
    CacheStats.indexShipNanos.addAndGet(System.nanoTime() - t0)
    parts
  }

  /** Part files of a bare, unpartitioned parquet scan; empty for anything
    * else (no listing that names its content). */
  private def partFiles(index: DataFrame): Set[String] =
    index.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.partitionSchema.isEmpty => r.location.inputFiles.toSet
        case _ => Set.empty
      }
      case _ => Set.empty
    }
}
