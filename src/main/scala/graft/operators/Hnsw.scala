package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PqKernel
import graft.index.{HnswGraph, HnswGraphCache}

/** Distributed HNSW: partitioned-subgraph design (SURVEY §7.2.5). Each
  * partition builds an independent HNSW graph over its rows inside one task
  * and beam-searches every (broadcast) query; per-partition top-k merge via
  * the bounded [[TopK]] aggregate. The reference's single sequential graph
  * (`/root/reference/src/index_algorithm/hnsw_index.rs`) cannot be mutated
  * concurrently across executors — the subgraph union sidesteps the
  * sequential bidirectional-link mutation entirely, and recall can only
  * improve over one big graph: the global top-k rows live in *some*
  * partition, and each partition's search covers its own rows.
  *
  * Scale shape: base streams once (no shuffle before the Q·partitions·k
  * merge); build cost is per-task and in-memory. A 100 TB table at 128 MB
  * splits gives ~500k-row subgraphs — well inside the single-graph regime
  * the reference itself targets.
  */
object Hnsw {

  /** Batch HNSW KNN search, building per-partition subgraphs on the fly.
    *
    * @param ef search beam width; None → reference default ef_construction/2
    * @return (query_id, id, distance) ascending (distance, id) per query
    */
  def search(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      ef: Option[Int] = None,
      dist: String = "l2sqr",
      m: Int = 16,
      efConstruction: Int = 200,
      seed: Long = 42L,
      upperBound: Double = Double.PositiveInfinity): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].collect()
    val bc = spark.sparkContext.broadcast(qs)
    // normalized default_ef = max(efConstruction, 2m)/2 (hnsw_index.rs:495-506)
    val efq = ef.getOrElse(math.max(efConstruction, 2 * m) / 2)

    val partial = base
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val pid = TaskContext.getPartitionId()
          val g = new HnswGraph(rows(0)._2.length, dist, m, efConstruction,
            seed + pid)
          rows.foreach(r => g.add(r._2))
          val hitIds = new Array[Int](k)
          val hitDs = new Array[Double](k)
          bc.value.iterator.flatMap { case (qid, qv) =>
            val cnt = g.searchInto(qv, k, efq, hitIds, hitDs)
            Iterator.range(0, cnt).map(i => (qid, rows(hitIds(i))._1, hitDs(i)))
          }
        }
      }
      .toDF("query_id", "id", "distance")

    merge(bounded(partial, upperBound), k)
  }

  /** Apply the upper-bound filter only when one is actually set — an
    * always-true predicate still costs an evaluation per row (and can be
    * pushed into join conditions, doubling expression work). */
  private def bounded(df: DataFrame, upperBound: Double): DataFrame =
    if (upperBound == Double.PositiveInfinity) df
    else df.filter(col("distance") <= lit(upperBound))

  private def merge(partial: DataFrame, k: Int): DataFrame =
    partial
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("id"), col("distance")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(col("query_id"), col("hit.id").as("id"),
        col("hit.distance").as("distance"))

  /** B6 + S5 — build the partitioned-subgraph index once and export it as a
    * DataFrame suitable for a Parquet sidecar: one row per node with its
    * vector, level, and per-level adjacency (local ids within the
    * subgraph). Reloading with [[searchIndexed]] skips the O(N·efC) insert
    * phase every later batch pays in [[search]]. The entry point is not
    * stored: it is recomputed as the first node of the maximum level, which
    * is exactly how insertion maintains it (`enterLevel` only advances on
    * strictly greater draws — `hnsw_index.rs:566-571`).
    *
    * @return (pid, local_id, id, vec, level, links)
    */
  def buildIndex(
      base: DataFrame,
      dist: String = "l2sqr",
      m: Int = 16,
      efConstruction: Int = 200,
      seed: Long = 42L): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val pid = TaskContext.getPartitionId()
          val g = new HnswGraph(rows(0)._2.length, dist, m, efConstruction,
            seed + pid)
          rows.foreach(r => g.add(r._2))
          Iterator.range(0, rows.length).map { i =>
            val (vec, level, links) = g.exportNode(i)
            (pid, i, rows(i)._1, vec, level, links)
          }
        }
      }
      .toDF("pid", "local_id", "id", "vec", "level", "links")
  }

  /** T4+T5 over a stored index: regroup the sidecar by subgraph, rebuild
    * each graph from its stored adjacency (no insertion searches), and
    * beam-search every query. One shuffle of the index by `pid` per batch —
    * at 100 TB that moves the same bytes a base scan would, but skips the
    * construction distance computations that dominate [[search]].
    *
    * @param cacheKey identity of the stored index for the executor-side
    *   graph LRU ([[HnswGraphCache]]): repeat batches against the same key
    *   skip the adjacency decode + graph rebuild entirely. The key MUST
    *   change whenever the index contents change.
    */
  def searchIndexed(
      index: DataFrame,
      queries: DataFrame,
      k: Int,
      ef: Option[Int] = None,
      dist: String = "l2sqr",
      m: Int = 16,
      efConstruction: Int = 200,
      upperBound: Double = Double.PositiveInfinity,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].collect()
    val bc = spark.sparkContext.broadcast(qs)
    val efq = ef.getOrElse(math.max(efConstruction, 2 * m) / 2)

    val partial = index
      .select(col("pid").cast("int"), col("local_id").cast("int"),
        col("id").cast("long"), col("vec"), col("level").cast("int"),
        col("links"))
      .as[(Int, Int, Long, Array[Float], Int, Array[Array[Int]])]
      .groupByKey(_._1)
      .flatMapGroups { (pid, it) =>
        def build: HnswGraphCache.Entry = {
          val rows = it.toArray.sortBy(_._2)
          if (rows.isEmpty) HnswGraphCache.Entry(
            new HnswGraph(1, dist, m, efConstruction), Array.empty)
          else HnswGraphCache.Entry(
            HnswGraph.fromNodes(rows(0)._4.length, dist, m, efConstruction,
              rows.iterator.map(r => (r._4, r._5, r._6))),
            rows.map(_._3))
        }
        val e = cacheKey match {
          case Some(ck) => HnswGraphCache.get(ck, pid)(build)
          case None => build
        }
        if (e.ids.isEmpty) Iterator.empty
        else {
          val hitIds = new Array[Int](k)
          val hitDs = new Array[Double](k)
          bc.value.iterator.flatMap { case (qid, qv) =>
            val cnt = e.graph.searchInto(qv, k, efq, hitIds, hitDs)
            Iterator.range(0, cnt).map(i => (qid, e.ids(hitIds(i)), hitDs(i)))
          }
        }
      }
      .toDF("query_id", "id", "distance")

    merge(bounded(partial, upperBound), k)
  }

  /** Typed sidecar row: (pid, local_id, id, vec, level, links). */
  private[operators] type IndexRow = (Int, Int, Long, Array[Float], Int, Array[Array[Int]])

  /** Driver-side LRU of PINNED index RDDs for [[searchPinned]]: the sidecar
    * exact-partitioned by `pid` (partition i ⇔ subgraph i — a hash
    * repartition would starve cores by folding several subgraphs into one
    * partition and leaving others empty) and persisted serialized, so
    * repeat batches re-scan resident blocks instead of re-reading and
    * re-shuffling the sidecar — and on a graph-cache hit never even
    * deserialize them. Eviction unpersists (lazy). */
  private val pinnedCache =
    new java.util.LinkedHashMap[String, org.apache.spark.rdd.RDD[IndexRow]](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.spark.rdd.RDD[IndexRow]])
        : Boolean =
        if (size() > 16) { e.getValue.unpersist(blocking = false); true } else false
    }

  /** In-flight pinned builds, one latch per cacheKey: the pin itself is a
    * full shuffle + materialization (seconds), so it must NOT run under the
    * [[pinnedCache]] monitor — that would block every concurrent pinned
    * search, including cache HITS for unrelated keys. Same-key callers wait
    * on the builder's latch; different keys proceed independently. A failed
    * build counts the latch down without publishing, so a waiter retries
    * (and becomes the builder). */
  private val pinnedBuilding =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]

  private def pinnedGetOrBuild(ckey: String)(
      build: => org.apache.spark.rdd.RDD[IndexRow]): org.apache.spark.rdd.RDD[IndexRow] = {
    while (true) {
      pinnedCache.synchronized(Option(pinnedCache.get(ckey))) match {
        case Some(rdd) => return rdd
        case None =>
          val latch = new java.util.concurrent.CountDownLatch(1)
          val prev = pinnedBuilding.putIfAbsent(ckey, latch)
          if (prev == null) {
            try {
              val rdd = build.persist(
                org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
              rdd.count() // materialize: later batches must not re-pay the shuffle
              pinnedCache.synchronized(pinnedCache.put(ckey, rdd))
              return rdd
            } finally {
              pinnedBuilding.remove(ckey, latch)
              latch.countDown()
            }
          } else prev.await() // builder finished (or failed) → re-check
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Evict every DRIVER-side cached serving structure whose cacheKey starts
    * with `prefix` — pinned RDDs (unpersisted), index broadcasts
    * (unpersisted), and the executor-local graph/code caches reachable from
    * this JVM (effective in local mode; on a cluster, remote executors'
    * entries age out of their LRUs and are additionally fenced by the
    * content-versioned cacheKey rotation). Called by the catalog when a
    * table or its HNSW sidecar is deleted, so multi-GB pinned state never
    * outlives the data it serves. */
  private[graft] def invalidateCaches(prefix: String): Unit = {
    pinnedCache.synchronized {
      val it = pinnedCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(prefix)) {
          e.getValue.unpersist(blocking = false); it.remove()
        }
      }
    }
    BroadcastIndex.invalidate(prefix)
    pinnedCodesCache.removeIf(_._1.startsWith(prefix))
    pqCodesCache.removeIf(_._1.startsWith(prefix))
    graft.index.HnswGraphCache.invalidate(prefix)
  }

  /** Evict the serving state of exactly one cacheKey — its pinned RDD
    * (unpersisted), its executor-local graphs and its PQ code matrices —
    * and nothing under keys it merely prefixes. The catalog evicts the key
    * an append superseded; the broadcast state evicts a generation it
    * replaced. */
  private[graft] def evictKey(key: String): Unit = {
    pinnedCache.synchronized(Option(pinnedCache.remove(key)))
      .foreach(_.unpersist(blocking = false))
    pinnedCodesCache.removeIf(_._1.startsWith(key + "#pq"))
    pqCodesCache.removeIf(_._1.startsWith(key + "#pq"))
    graft.index.HnswGraphCache.evict(key)
  }

  /** partition i ⇔ subgraph pid i. */
  private final class PidPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Exact pid ⇔ partition mapping of a stored sidecar: with P subgraphs
    * the walk parallelism is exactly P tasks, each owning one whole graph
    * (a hash repartition would starve cores by folding several subgraphs
    * into one partition and leaving others empty; an empty sidecar
    * degrades to one empty partition → zero hits). Runs only when actually
    * pinning — cached batches skip the agg job. */
  private def pidPartitioned(index: DataFrame): org.apache.spark.rdd.RDD[IndexRow] = {
    val spark = index.sparkSession
    import spark.implicits._
    val maxPidRow = index.agg(max(col("pid")).cast("int")).head()
    val nPids = (if (maxPidRow.isNullAt(0)) 0 else maxPidRow.getInt(0)) + 1
    index
      .select(col("pid").cast("int"), col("local_id").cast("int"),
        col("id").cast("long"), col("vec"), col("level").cast("int"),
        col("links"))
      .as[IndexRow]
      .rdd
      .keyBy(_._1)
      .partitionBy(new PidPartitioner(nPids))
      .values
  }

  /** Build (or fetch from the executor-local cache) a partition's sorted
    * (pid, rebuilt graph) entries from its sidecar rows. Runs inside a
    * task; `spid` must be the Spark partition id the rows arrived under —
    * it is the cache coordinate shared by every pinned arm. */
  private def entriesFor(
      it: Iterator[IndexRow], ck: Option[String], spid: Int,
      dist: String, m: Int, efConstruction: Int)
    : Array[(Int, HnswGraphCache.Entry)] = {
    def buildAll: Array[(Int, HnswGraphCache.Entry)] = {
      // one pid per partition by construction; stay robust to several
      val byPid = it.toArray.groupBy(_._1)
      byPid.toArray.sortBy(_._1).map { case (pid, rows0) =>
        val rows = rows0.sortBy(_._2)
        pid -> HnswGraphCache.Entry(
          HnswGraph.fromNodes(rows(0)._4.length, dist, m, efConstruction,
            rows.iterator.map(r => (r._4, r._5, r._6))),
          rows.map(_._3))
      }
    }
    ck match {
      case Some(key) => HnswGraphCache.getGroup(key, spid)(buildAll)
      case None => buildAll
    }
  }

  /** Per-pid PQ code matrices for an ADC-scored walk, aligned with
    * [[entriesFor]]'s output (both sorted by pid) and encoded from the
    * cached graphs' vectors — a codes-cache fill never re-reads the
    * partition rows. Cached per executor under (cacheKey#pq<modelId>,
    * spid). Returns (codes n×m, cosine centroid self-dot per node — null
    * for L2) per entry.
    *
    * Measured negative result (r11, WalkProbe rank-48 d960 @50k): a
    * DiskANN-style inline-neighbor-blocks layout (each node's level-0
    * neighbors' codes transposed 16-lane group-major, scored with the
    * serve path's `Simd.adcBlock1` permute kernel) reproduced the scalar
    * walk's recall exactly but measured 10–40% SLOWER at every (m, ef) —
    * parity only at m=64 where blocks still fit cache. The walk is not
    * lookup-arithmetic-bound: `adcOne`'s 4-chain loop already runs near
    * the codes-row memory floor, and the n·m·2maxM0 block blow-up turns
    * each (random-node) expansion into a ~10 KB cold read vs ~3 KB of
    * row-major codes. The fast-scan kernel pays only where blocks stream
    * sequentially and stay cache-resident — the flat serve scan
    * (`Pq.searchFlatServe`) — so this walk keeps the row-major codes.
    *
    * Second measured negative result (r12, same probe): the no-blow-up
    * variant — ONE shared 16-row-block transposed matrix (the serve
    * layout, same bytes as row-major) scored per node through
    * `Simd.adcBlock1`, with and without a per-query block-sum epoch cache
    * (each ~2k-block subgraph walk revisits a block ~1.8× on average) —
    * also lost at every (m, ef): 5–25% behind the scalar gather (e.g.
    * m=160/ef=240: 1134/1315 q/s vs 1637; m=120/ef=360: 1220/1229 vs
    * 1413). Scoring one scattered neighbor still reads the whole m×16-byte
    * block (16× the traffic of its m-byte row), and the ≤1.8× revisit
    * amortization cannot pay that back. The walk regime keeps row-major
    * codes + `adcOne`; fast-scan stays serve-only.
    *
    * With `residCents` (routed L2 tables), a node in cluster pid encodes
    * its RESIDUAL x − centroid(pid) — FAISS's IVFPQ/IVFADC design: the
    * quantizer spends its resolution on the within-cell spread instead of
    * re-describing the cell location, and L2 distances are exact under the
    * shared shift (|(q−c)−(x−c)| = |q−x|), so the walk's LUT just builds
    * from the shifted query. Delta pids ≥ residCents.length (post-build
    * appends, not cluster-partitioned) encode plain. */
  private def codeMatricesFor(
      entries: Array[(Int, HnswGraphCache.Entry)],
      ck: Option[String], spid: Int, pqId: Int,
      pqCentroids: Array[Array[Array[Float]]],
      pqGroups: Array[(Int, Int)],
      pqCentDot: Array[Double],
      pqM: Int, pqK: Int, cosine: Boolean,
      residCents: Array[Array[Float]] = null)
    : Array[(Array[Byte], Array[Double])] = {
    def buildCodes: Array[(Array[Byte], Array[Double])] =
      entries.map { case (pid, e) =>
        val cent =
          if (residCents != null && pid < residCents.length) residCents(pid)
          else null
        val nn = e.ids.length
        val cm = new Array[Byte](nn * pqM)
        val cd = if (cosine) new Array[Double](nn) else null
        var r = 0
        while (r < nn) {
          val v0 = e.graph.exportNode(r)._1
          val v = if (cent == null) v0 else {
            var j = 0
            while (j < v0.length) { v0(j) -= cent(j); j += 1 }
            v0 // exportNode returns a fresh copy — safe to shift in place
          }
          PqKernel.encodeDecodedInto(v, pqCentroids, pqGroups, cosine,
            cm, r * pqM)
          if (cosine) {
            var acc = 0.0
            var g = 0; var gk = 0; val base = r * pqM
            while (g < pqM) {
              acc += pqCentDot(gk + (cm(base + g) & 0xff))
              g += 1; gk += pqK
            }
            cd(r) = acc
          }
          r += 1
        }
        (cm, cd)
      }
    ck match {
      case Some(key) =>
        val marker = if (residCents != null) "#pqR" else "#pq"
        val kk = (key + marker + pqId, spid)
        pinnedCodesCache.get(kk).getOrElse {
          val c = graft.index.CacheStats.timedCodesBuild(buildCodes)
          pinnedCodesCache.put(kk, c, c.map(codesBytes(_) + 16).sum)
          c
        }
      case None => buildCodes
    }
  }

  /** The walk LUT for one (query, cluster) pair under optional residual
    * encoding: shifts the query by the cluster centroid when that cluster
    * encodes residuals ([[codeMatricesFor]]), else plain. */
  private def walkLut(
      qv: Array[Float], pid: Int, residCents: Array[Array[Float]],
      pqCentroids: Array[Array[Array[Float]]], pqNBits: Int, dist: String)
    : Array[Float] = {
    val q =
      if (residCents != null && pid < residCents.length) {
        val c = residCents(pid)
        val out = new Array[Float](qv.length)
        var j = 0
        while (j < qv.length) { out(j) = qv(j) - c(j); j += 1 }
        out
      } else qv
    PqKernel.buildLookup(q, pqCentroids, pqNBits, dist).map(_.toFloat)
  }

  /** Codes-cache byte budget shared by [[pinnedCodesCache]] and
    * [[pqCodesCache]]: `graft.cache.codes.maxBytes` sysprop, else 8% of
    * max heap. Byte-budgeted for the same reason as [[HnswGraphCache]]
    * (r13: a 64-entry cap vs a 96-entry working set — 3 PQ models × 32
    * partitions on one fixture — made every interleaved rep's first row
    * re-encode 1M vectors: the bench's "ef120 10× slower than ef180"
    * anomaly was pure LRU thrash, CPU-bound and GC-invisible). */
  private[graft] def codesMaxBytes: Long =
    sys.props.get("graft.cache.codes.maxBytes").map(_.toLong).getOrElse(
      (Runtime.getRuntime.maxMemory * 0.08).toLong)

  private def codesBytes(v: (Array[Byte], Array[Double])): Long =
    v._1.length.toLong + (if (v._2 == null) 0L else v._2.length.toLong * 8) + 48

  /** Executor-local cache of per-PARTITION PQ code matrices for the pinned
    * PQ walk (aligned 1:1 with the partition's [[HnswGraphCache.getGroup]]
    * entries — both sorted by pid): (cacheKey+"#pq", spid) → per-pid
    * (codes n×m, cosine centroid self-dot per node — null for L2). */
  private val pinnedCodesCache =
    new HnswGraphCache.ByteLru[(String, Int), Array[(Array[Byte], Array[Double])]](
      () => math.max(codesMaxBytes / 16, codesMaxBytes - pqCodesCache.currentBytes))

  /** Serving-shape search for indexes too big to broadcast: PIN the stored
    * index across the cluster (repartitioned by subgraph, persisted) and
    * broadcast the QUERIES — the memory inverse of [[searchBroadcast]] and
    * the shuffle-free replacement for [[searchIndexed]], whose per-batch
    * groupByKey re-shuffles every index byte. The first batch pays one
    * shuffle of the sidecar plus the graph rebuilds; rebuilt graphs pin per
    * executor in [[HnswGraphCache.getGroup]] keyed by (cacheKey, Spark
    * partition id) — stable across jobs over the same persisted dataset —
    * so steady-state batches do pure graph walks: no index bytes move, no
    * adjacency re-decode. This is the 100 TB serving arm: the index lives
    * partitioned across executor memory/disk, each partition walks its
    * resident subgraphs for the whole (broadcast) query batch, and only
    * per-partition top-k rows (Q·k per subgraph) reach the merge.
    *
    * Without `cacheKey` nothing is persisted or cached (one-shot shape:
    * repartition + build + search).
    */
  def searchPinned(
      index: DataFrame,
      queries: DataFrame,
      k: Int,
      ef: Option[Int] = None,
      dist: String = "l2sqr",
      m: Int = 16,
      efConstruction: Int = 200,
      upperBound: Double = Double.PositiveInfinity,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) => (qid, qv, null: Array[Int]) }
    pinnedSearchCore(index, qs, k,
      ef.getOrElse(math.max(efConstruction, 2 * m) / 2),
      dist, m, efConstruction, upperBound, cacheKey)
  }

  /** Shared pinned-search engine: queries (with an optional per-query probe
    * list — null = search every subgraph) broadcast against the pinned
    * index. Used by [[searchPinned]] (unrouted) and
    * [[IvfHnsw.searchPinned]] (pid = cluster, probes from the centroid
    * sidecar).
    *
    * With `pq` set, the walk scores nodes by ADC code lookup and exact
    * re-ranks the survivors ([[HnswGraph.searchFnInto]] — the reference's
    * `knn_pq` over the pinned shape): at d960/m=320 the codes are 12× less
    * memory traffic per visit than the packed vectors, which is what the
    * walk is bound by once a subgraph outgrows L2. Code matrices build once
    * per partition from the cached graphs and pin per executor alongside
    * them. */
  private[operators] def pinnedSearchCore(
      index: DataFrame,
      qs: Array[(Long, Array[Float], Array[Int])],
      k: Int,
      efq: Int,
      dist: String,
      m: Int,
      efConstruction: Int,
      upperBound: Double,
      cacheKey: Option[String],
      pq: Option[PqModel] = None,
      routeFloor: Int = Int.MaxValue,
      residCents: Array[Array[Float]] = null): DataFrame = {
    require(residCents == null || dist != "cosine",
      "residual PQ encoding is an L2 shift identity; cosine encodes plain")
    // encode and train must agree: residual-trained quantizer ⇔ residual
    // codes + shifted LUTs; any mix scores garbage silently
    require(pq.forall(_.residual == (residCents != null)),
      "PqModel.residual must match the centroid context of the walk")
    val spark = index.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(qs)

    val pinned = cacheKey match {
      case Some(ckey) => pinnedGetOrBuild(ckey)(pidPartitioned(index))
      case None => pidPartitioned(index)
    }
    val ck = cacheKey
    // PQ model unpacked into plain locals so the task closure ships only
    // what the kernel needs
    val hasPq = pq.isDefined
    val pqCentroids = pq.map(_.centroids).orNull
    val pqCentDot = pq.map(_.centroidDotCache).orNull
    val pqGroups = pq.map(p => PqKernel.pqGroups(p.dim, p.m)).orNull
    val pqM = pq.map(_.m).getOrElse(0)
    val pqK = pq.map(_.k).getOrElse(0)
    val pqNBits = pq.map(_.nBits).getOrElse(0)
    // model identity folded into the codes-cache key: a PQ sidecar rebuilt
    // with a different quantizer must not serve stale code matrices
    val pqId =
      if (hasPq)
        java.util.Arrays.deepHashCode(
          pqCentroids.asInstanceOf[Array[AnyRef]])
      else 0
    val cosine = dist == "cosine"
    val floor = routeFloor
    val ub = upperBound

    val partial = pinned
      .mapPartitions { it =>
        val spid = TaskContext.getPartitionId()
        val entries = entriesFor(it, ck, spid, dist, m, efConstruction)
        if (entries.isEmpty) Iterator.empty
        else {
          val codes: Array[(Array[Byte], Array[Double])] =
            if (!hasPq) null
            else codeMatricesFor(entries, ck, spid, pqId, pqCentroids,
              pqGroups, pqCentDot, pqM, pqK, cosine, residCents)
          val hitIds = new Array[Int](k)
          val hitDs = new Array[Double](k)
          val sel = new Array[Int](entries.length)
          // partition-local per-query top-k across the subgraphs this
          // query walks HERE: the partition emits at most k rows per
          // query, which is what makes the driver-side merge's row bound
          // (Q·P·k) exact rather than Q·subgraphs·k
          val st = new TopKState(k, withPayload = false)
          bc.value.iterator.flatMap { case (qid, qv, probes) =>
            // select this partition's subgraphs the query walks: its probe
            // list, plus every pid ≥ routeFloor (post-build delta subgraphs
            // from catalog appends / compaction merges are not
            // cluster-partitioned, so routing must always walk them)
            var selCount = 0
            var ei = 0
            while (ei < entries.length) {
              val pid = entries(ei)._1
              val hit = probes == null || pid >= floor || {
                var i = 0; var h = false
                while (i < probes.length && !h) { h = probes(i) == pid; i += 1 }
                h
              }
              if (hit) { sel(selCount) = ei; selCount += 1 }
              ei += 1
            }
            if (selCount == 0) Iterator.empty
            else {
              // the per-query ADC lookup builds ONLY when the query walks
              // something here — a routed batch must not pay Q luts in
              // every partition it never probes. Plain encoding shares one
              // LUT across the partition's entries; residual encoding
              // shifts the query per cluster ([[walkLut]] — partitions
              // hold one pid by construction, so this is still one LUT
              // per (query, partition) at steady state).
              val sharedLut =
                if (hasPq && residCents == null)
                  PqKernel.buildLookup(qv, pqCentroids, pqNBits, dist)
                    .map(_.toFloat)
                else null
              val qn = if (hasPq && cosine) {
                var acc = 0.0; var i = 0
                while (i < qv.length) { acc += qv(i).toDouble * qv(i); i += 1 }
                math.sqrt(acc)
              } else 0.0
              st.size = 0 // reuse: insert only reads [0, size)
              var si = 0
              while (si < selCount) {
                val e2 = entries(sel(si))._2
                val cnt =
                  if (!hasPq) e2.graph.searchInto(qv, k, efq, hitIds, hitDs)
                  else {
                    val lut =
                      if (sharedLut != null) sharedLut
                      else walkLut(qv, entries(sel(si))._1, residCents,
                        pqCentroids, pqNBits, dist)
                    val (cm, cd) = codes(sel(si))
                    val distFn: Int => Double = { idx =>
                      val s = PqKernel.adcOne(cm, idx * pqM, pqM, pqK, lut)
                      if (cosine)
                        1.0 - s / math.max(math.sqrt(cd(idx)) * qn, 1e-10)
                      else s
                    }
                    e2.graph.searchFnInto(distFn, qv, k, efq, hitIds, hitDs)
                  }
                var i = 0
                while (i < cnt) {
                  if (hitDs(i) <= ub) st.insert(e2.ids(hitIds(i)), hitDs(i), null)
                  i += 1
                }
                si += 1
              }
              val out = new Array[(Long, Long, Double)](st.size)
              var i = 0
              while (i < st.size) { out(i) = (qid, st.ids(i), st.dists(i)); i += 1 }
              out.iterator
            }
          }
        }
      }

    // The queries were already collected to the driver at entry, so the
    // result is driver-bounded by construction: ≤ k rows per (query,
    // partition). Below the row gate, merging those partials ON THE DRIVER
    // removes the whole shuffle stage (a second task wave + shuffle files)
    // from every serving batch — at 1M×960/np1 that stage was ~40% of
    // batch wall. Past the gate (huge Q or thousands of partitions — the
    // regime where driver-collected serving is wrong anyway and
    // [[searchPinnedStream]] is the right arm), fall back to the
    // declarative shuffle merge.
    if (qs.length.toLong * math.max(pinned.getNumPartitions, 1).toLong * k
        <= DriverMergeMaxRows) {
      val byQ = new java.util.HashMap[Long, TopKState]()
      partial.collect().foreach { case (qid, id, d) =>
        var s = byQ.get(qid)
        if (s == null) { s = new TopKState(k, withPayload = false); byQ.put(qid, s) }
        s.insert(id, d, null)
      }
      val qids = new Array[Long](byQ.size)
      val it = byQ.keySet().iterator()
      var i = 0
      while (it.hasNext) { qids(i) = it.next(); i += 1 }
      java.util.Arrays.sort(qids)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      qids.foreach { q =>
        val s = byQ.get(q)
        var j = 0
        while (j < s.size) { out += ((q, s.ids(j), s.dists(j))); j += 1 }
      }
      out.toSeq.toDF("query_id", "id", "distance")
    } else merge(partial.toDF("query_id", "id", "distance"), k)
  }

  /** Driver-merge gate for [[pinnedSearchCore]]: max partial rows (Q·P·k)
    * the driver will collect and heap-merge itself; ~100 MB of tuples at
    * the default bound. Overridable (`graft.serve.driverMergeMaxRows`) so
    * deployments with thin driver links — and the A/B probe — can tune or
    * disable it without a rebuild. */
  private def DriverMergeMaxRows: Long =
    sys.props.get("graft.serve.driverMergeMaxRows").map(_.toLong)
      .getOrElse(4L << 20)

  /** [[searchPinned]] with the ADC-scored walk + exact re-rank — `knn_pq`
    * (`/root/reference/src/index_algorithm/hnsw_index.rs:672-697`) for
    * indexes past the broadcast gate. */
  def searchPinnedPq(
      index: DataFrame,
      queries: DataFrame,
      model: PqModel,
      k: Int,
      ef: Option[Int] = None,
      m: Int = 16,
      efConstruction: Int = 200,
      upperBound: Double = Double.PositiveInfinity,
      cacheKey: Option[String] = None): DataFrame = {
    require(!model.residual,
      "residual-trained PqModel requires the routed walk (IvfHnsw.searchPinnedPq)")
    val spark = index.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) => (qid, qv, null: Array[Int]) }
    pinnedSearchCore(index, qs, k,
      ef.getOrElse(math.max(efConstruction, 2 * m) / 2),
      model.dist, m, efConstruction, upperBound, cacheKey, Some(model))
  }

  /** Driver-UNBOUNDED indexed search — the oversized-batch arm. Every
    * other pinned/broadcast arm starts by collecting the query batch to
    * the driver; past the serving gate that collect is the scaling bug, so
    * here queries stay a distributed Dataset end to end: each query's
    * probe pids (routed — its `np` nearest centroids against the broadcast
    * centroid matrix, plus every delta pid ≥ the model's cell count;
    * unrouted — every pid) are computed executor-side, exploded to
    * (pid, query) rows, shuffled with the same exact [[PidPartitioner]]
    * the pinned index uses, and zipped partition-for-partition with the
    * pinned RDD — cohort partition i meets index partition i, which holds
    * exactly subgraph i and its executor-cached graph ([[entriesFor]]
    * under the same (cacheKey, spid) coordinates as the collected arms, so
    * the two arms share resident graphs). Per-query work stays n_probes
    * graph walks; driver memory stays O(1); the only data moved per batch
    * is the query set itself (np rows per query) plus Q·k·np hit rows into
    * the top-k merge — the batch-similarity-JOIN regime with the index
    * still pruning the scan.
    *
    * With `pq`, nodes are ADC-scored from per-partition code matrices and
    * exact re-ranked ([[HnswGraph.searchFnInto]]), as the collected arms.
    */
  private[graft] def searchPinnedStream(
      index: DataFrame,
      queries: DataFrame,
      k: Int,
      ef: Option[Int] = None,
      dist: String = "l2sqr",
      m: Int = 16,
      efConstruction: Int = 200,
      upperBound: Double = Double.PositiveInfinity,
      cacheKey: Option[String] = None,
      pq: Option[PqModel] = None,
      route: Option[(IvfModel, Int)] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val efq = ef.getOrElse(math.max(efConstruction, 2 * m) / 2)
    // routed L2 (ef, pq) with a residual-trained quantizer: residual
    // encoding, as the collected arm; plain-trained models encode plain
    val residCents: Array[Array[Float]] =
      if (pq.exists(_.residual) && dist != "cosine")
        route.map(_._1.centroids).orNull
      else null
    require(pq.forall(_.residual == (residCents != null)),
      "residual-trained PqModel requires a routed stream walk")
    val pinned = cacheKey match {
      case Some(ckey) => pinnedGetOrBuild(ckey)(pidPartitioned(index))
      case None => pidPartitioned(index)
    }
    val nPids = pinned.getNumPartitions
    val ck = cacheKey
    val hasPq = pq.isDefined
    val pqCentroids = pq.map(_.centroids).orNull
    val pqCentDot = pq.map(_.centroidDotCache).orNull
    val pqGroupsArr = pq.map(p => PqKernel.pqGroups(p.dim, p.m)).orNull
    val pqM = pq.map(_.m).getOrElse(0)
    val pqK = pq.map(_.k).getOrElse(0)
    val pqNBits = pq.map(_.nBits).getOrElse(0)
    val pqId =
      if (hasPq)
        java.util.Arrays.deepHashCode(pqCentroids.asInstanceOf[Array[AnyRef]])
      else 0
    val cosine = dist == "cosine"

    val qRdd = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].rdd
    val exploded = route match {
      case Some((model, np0)) =>
        val np = math.max(1, np0)
        val bcModel = spark.sparkContext.broadcast(model)
        val floor = model.centroids.length
        qRdd.flatMap { case (qid, qv) =>
          // probe list + every post-build delta pid (delta subgraphs are
          // not cluster-partitioned, so routing must always walk them);
          // probeList ids are < floor, so the union is duplicate-free
          (Ivf.probeList(qv, bcModel.value, np).iterator ++
            Iterator.range(floor, nPids)).map(pid => (pid, (qid, qv)))
        }
      case None =>
        qRdd.flatMap { case (qid, qv) =>
          Iterator.range(0, nPids).map(pid => (pid, (qid, qv)))
        }
    }
    val cohorts = exploded.partitionBy(new PidPartitioner(nPids)).values

    val partial = cohorts.zipPartitions(pinned) { (qit, idxIt) =>
      if (!qit.hasNext) Iterator.empty
      else {
        val spid = TaskContext.getPartitionId()
        val entries = entriesFor(idxIt, ck, spid, dist, m, efConstruction)
        if (entries.isEmpty) Iterator.empty
        else {
          val codes: Array[(Array[Byte], Array[Double])] =
            if (!hasPq) null
            else codeMatricesFor(entries, ck, spid, pqId, pqCentroids,
              pqGroupsArr, pqCentDot, pqM, pqK, cosine, residCents)
          val hitIds = new Array[Int](k)
          val hitDs = new Array[Double](k)
          qit.flatMap { case (qid, qv) =>
            // a query arrives here because a pid of this partition is on
            // its probe list; partitions hold exactly one pid by
            // construction, so every resident graph is walked
            val sharedLut =
              if (hasPq && residCents == null)
                PqKernel.buildLookup(qv, pqCentroids, pqNBits, dist)
                  .map(_.toFloat)
              else null
            val qn = if (hasPq && cosine) {
              var acc = 0.0; var i = 0
              while (i < qv.length) { acc += qv(i).toDouble * qv(i); i += 1 }
              math.sqrt(acc)
            } else 0.0
            Iterator.range(0, entries.length).flatMap { ei =>
              val e2 = entries(ei)._2
              val cnt =
                if (!hasPq) e2.graph.searchInto(qv, k, efq, hitIds, hitDs)
                else {
                  val lut =
                    if (sharedLut != null) sharedLut
                    else walkLut(qv, entries(ei)._1, residCents,
                      pqCentroids, pqNBits, dist)
                  val (cm, cd) = codes(ei)
                  val distFn: Int => Double = { idx =>
                    val s = PqKernel.adcOne(cm, idx * pqM, pqM, pqK, lut)
                    if (cosine)
                      1.0 - s / math.max(math.sqrt(cd(idx)) * qn, 1e-10)
                    else s
                  }
                  e2.graph.searchFnInto(distFn, qv, k, efq, hitIds, hitDs)
                }
              Iterator.range(0, cnt).map(i => (qid, e2.ids(hitIds(i)), hitDs(i)))
            }
          }
        }
      }
    }.toDF("query_id", "id", "distance")

    merge(bounded(partial, upperBound), k)
  }

  /** Serving-shape search: broadcast the stored index, partition the
    * QUERIES. The inverse of [[searchIndexed]] — right whenever the index
    * fits in executor memory (the reference's entire operating envelope:
    * its single-process graph IS an index-in-memory design). Zero
    * shuffles: each task searches every subgraph for its query slice and
    * merges top-k in-task, so per-batch cost is O(Q/cores) graph searches,
    * not an index scan. With `cacheKey`, the index ships as one broadcast
    * per subgraph and stays shipped across batches ([[BroadcastIndex]]):
    * a subgraph is identified by its sidecar part file, so after a catalog
    * append only the new subgraph is read, broadcast and rebuilt, while the
    * graphs already pinned per executor by [[HnswGraphCache]] keep serving.
    * For indexes too big to broadcast, use [[searchPinned]].
    */
  def searchBroadcast(
      index: DataFrame,
      queries: DataFrame,
      k: Int,
      ef: Option[Int] = None,
      dist: String = "l2sqr",
      m: Int = 16,
      efConstruction: Int = 200,
      upperBound: Double = Double.PositiveInfinity,
      cacheKey: Option[String] = None): DataFrame = {
    val efq = ef.getOrElse(math.max(efConstruction, 2 * m) / 2)
    broadcastWalk(queries, BroadcastIndex.ship(index, cacheKey), k, upperBound,
      dist, m, efConstruction) { entries =>
      qv => (ei, ids, ds) => entries(ei).graph.searchInto(qv, k, efq, ids, ds)
    }
  }

  /** The broadcast arms' shared task: rebuild (or fetch) every shipped
    * subgraph, walk each per query and merge top-k across subgraphs in-task
    * by ascending (distance, id). `walker` runs once per task over the
    * graphs and yields, per query vector, the walk of subgraph `ei` into
    * (ids, distances), returning its hit count. */
  private def broadcastWalk(
      queries: DataFrame,
      shipped: BroadcastIndex.Shipped,
      k: Int,
      upperBound: Double,
      dist: String,
      m: Int,
      efConstruction: Int)(
      walker: Array[HnswGraphCache.Entry] =>
        Array[Float] => (Int, Array[Int], Array[Double]) => Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qds = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])]
    // spread the batch across cores, clamped by the per-task scheduling
    // floor when the batch size is known: see [[QuerySpread]]
    QuerySpread(qds)
      .mapPartitions { qit =>
        if (qit.isEmpty) Iterator.empty
        else {
          val entries = shipped.graphs(dist, m, efConstruction)
          val perQuery = walker(entries)
          // reusable per-task buffers: subgraph hits + bounded global merge
          val subIds = new Array[Int](k)
          val subDs = new Array[Double](k)
          val st = new TopKState(k, withPayload = false)
          qit.flatMap { case (qid, qv) =>
            val walk = perQuery(qv)
            st.size = 0 // reuse: insert only reads [0, size)
            var ei = 0
            while (ei < entries.length) {
              val c = walk(ei, subIds, subDs)
              val ids = entries(ei).ids
              var i = 0
              while (i < c) {
                if (subDs(i) <= upperBound) st.insert(ids(subIds(i)), subDs(i), null)
                i += 1
              }
              ei += 1
            }
            val out = new Array[(Long, Long, Double)](st.size)
            var i = 0
            while (i < st.size) { out(i) = (qid, st.ids(i), st.dists(i)); i += 1 }
            out.iterator
          }
        }
      }
      .toDF("query_id", "id", "distance")
  }

  /** Executor-local cache of per-subgraph decoded code matrices for
    * [[searchBroadcastPq]]: (generation#pq<model>, pid) → (decoded codes
    * n×m, per-node centroid self-dot sums — cosine only, null for L2).
    * Built once per (subgraph, model) by re-encoding the subgraph's vectors
    * (deterministic — identical to decoding the stored code column). */
  private val pqCodesCache: HnswGraphCache.ByteLru[(String, Int), (Array[Byte], Array[Double])] =
    new HnswGraphCache.ByteLru[(String, Int), (Array[Byte], Array[Double])](
      () => math.max(codesMaxBytes / 16, codesMaxBytes - pinnedCodesCache.currentBytes))

  /** HNSW+PQ combined traversal, serving shape — the reference's
    * `HNSWIndex::knn_pq` (`/root/reference/src/index_algorithm/
    * hnsw_index.rs:672-697`): beam-walk each subgraph scoring nodes by ADC
    * code lookup, then exact re-rank of the ef survivors (`pq_resort`).
    * Sub-linear over the codes — the graph prunes the scan the flat ADC
    * path pays per query — with the same output contract as
    * [[searchBroadcast]] whenever ef is generous enough for the walk to
    * cover the exact top-k.
    *
    * Same broadcast/cache structure as [[searchBroadcast]]; `model` must be
    * the quantizer of the table the index was built on.
    */
  def searchBroadcastPq(
      index: DataFrame,
      queries: DataFrame,
      model: PqModel,
      k: Int,
      ef: Option[Int] = None,
      m: Int = 16,
      efConstruction: Int = 200,
      upperBound: Double = Double.PositiveInfinity,
      cacheKey: Option[String] = None): DataFrame = {
    require(!model.residual,
      "residual-trained PqModel requires the routed walk (IvfHnsw.searchPinnedPq)")
    val dist = model.dist
    val cosine = dist == "cosine"
    val pm = model.m
    val kCent = model.k
    val nBits = model.nBits
    val centroids = model.centroids
    val centDot = model.centroidDotCache
    val groups = PqKernel.pqGroups(model.dim, pm)
    // quantizer identity folded into the codes-cache key (same scheme as the
    // pinned codes cache): clearPqTable+buildPqTable leaves the index
    // cacheKey unchanged, so a retrained quantizer must not be served stale
    // code matrices for beam selection
    val pqId = java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])

    val shipped = BroadcastIndex.ship(index, cacheKey)
    val efq = ef.getOrElse(math.max(efConstruction, 2 * m) / 2)

    broadcastWalk(queries, shipped, k, upperBound, dist, m, efConstruction) { entries =>
      def codesFor(i: Int): (Array[Byte], Array[Double]) = {
        val (pid, bc) = shipped.parts(i)
        def build: (Array[Byte], Array[Double]) = {
          val nodes = bc.value
          val nn = nodes.length
          val codes = new Array[Byte](nn * pm)
          val cdRow = if (cosine) new Array[Double](nn) else null
          var r = 0
          while (r < nn) {
            PqKernel.encodeDecodedInto(nodes(r)._2, centroids, groups,
              cosine, codes, r * pm)
            if (cosine) {
              var acc = 0.0
              var g = 0; var gk = 0; val base = r * pm
              while (g < pm) {
                acc += centDot(gk + (codes(base + g) & 0xff)); g += 1; gk += kCent
              }
              cdRow(r) = acc
            }
            r += 1
          }
          (codes, cdRow)
        }
        if (shipped.gen == null) build
        else {
          val kk = (shipped.gen + "#pq" + pqId, pid)
          pqCodesCache.get(kk).getOrElse {
            val e = graft.index.CacheStats.timedCodesBuild(build)
            pqCodesCache.put(kk, e, codesBytes(e))
            e
          }
        }
      }
      val allCodes = Array.tabulate(entries.length)(codesFor)
      qv => {
        // float lut: selection-grade precision (winners are exact
        // re-ranked), half the cache footprint of double
        val lut = PqKernel.buildLookup(qv, centroids, nBits, dist)
          .map(_.toFloat)
        val qn = if (cosine) {
          var acc = 0.0; var i = 0
          while (i < qv.length) { acc += qv(i).toDouble * qv(i); i += 1 }
          math.sqrt(acc)
        } else 0.0
        (ei, ids, ds) => {
          val (codes, cdRow) = allCodes(ei)
          val distFn: Int => Double = { idx =>
            val s = PqKernel.adcOne(codes, idx * pm, pm, kCent, lut)
            if (cosine) 1.0 - s / math.max(math.sqrt(cdRow(idx)) * qn, 1e-10)
            else s
          }
          entries(ei).graph.searchFnInto(distFn, qv, k, efq, ids, ds)
        }
      }
    }
  }
}
