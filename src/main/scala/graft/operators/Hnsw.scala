package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType,
  StructField, StructType}
import graft.functions.PqKernel
import graft.index.{HnswGraph, HnswGraphCache}

/** Distributed HNSW: partitioned-subgraph design (SURVEY §7.2.5).
  * [[buildIndex]] builds an independent HNSW graph over each partition's
  * rows inside one task and stores it as a sidecar; a search walks the
  * subgraphs (a routed search only its probed ones, [[IvfHnsw]]) and merges
  * top-k across them by (distance, id). The reference's single sequential
  * graph (its `src/index_algorithm/hnsw_index.rs`) cannot be
  * mutated concurrently across executors — the subgraph union sidesteps the
  * sequential bidirectional-link mutation entirely, and recall can only
  * improve over one big graph: the global top-k rows live in *some*
  * partition, and each partition's search covers its own rows.
  *
  * One walk per placement of the stored index:
  *  - resident ([[searchBroadcast]]): the subgraphs stay built on the
  *    driver ([[ResidentIndex]]); a warm search runs no Spark job;
  *  - pinned ([[searchPinned]], [[IvfHnsw.searchPinned]]): the sidecar is
  *    pinned across the executors and the query batch is broadcast;
  *  - streamed ([[searchPinnedStream]]): an oversized batch stays a
  *    distributed Dataset and meets the pinned index partition by partition.
  * Each walk takes `pq`: with a quantizer it scores nodes by ADC code
  * lookup and re-ranks the survivors exactly — the reference's `knn_pq`
  * (`hnsw_index.rs:672-697`), through the one scorer [[Adc]].
  *
  * Scale shape: build cost is per-task and in-memory. A 100 TB table at
  * 128 MB splits gives ~500k-row subgraphs — well inside the single-graph
  * regime the reference itself targets.
  */
object Hnsw {

  /** The beam width when the caller names none: the reference's default
    * ef, normalized as max(efConstruction, 2m)/2 (`hnsw_index.rs:495-506`). */
  private[operators] def defaultEf(m: Int, efConstruction: Int): Int =
    math.max(efConstruction, 2 * m) / 2

  /** B6 + S5 — build the partitioned-subgraph index once and export it as a
    * DataFrame suitable for a Parquet sidecar: one row per node with its
    * vector, level, and per-level adjacency (local ids within the
    * subgraph). Every search walks this stored adjacency, so none repeats
    * the O(N·efC) insert phase. The entry point is not stored: it is
    * recomputed as the first node of the maximum level, which is exactly
    * how insertion maintains it (`enterLevel` only advances on strictly
    * greater draws — `hnsw_index.rs:566-571`).
    *
    * @return (pid, local_id, id, vec, level, links)
    */
  def buildIndex(
      base: DataFrame,
      dist: String = "l2sqr",
      m: Int = 16,
      efConstruction: Int = 200,
      seed: Long = 42L): DataFrame =
    buildCounting(base, null, dist, m, efConstruction, seed)

  /** [[buildIndex]] that also adds the pid of every subgraph it builds to
    * `built` (null: count nothing), so a caller learns the pids it wrote
    * from the write job itself. */
  private[graft] def buildCounting(
      base: DataFrame,
      built: org.apache.spark.util.CollectionAccumulator[Int],
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
          if (built != null) built.add(pid)
          buildSlice(rows, pid, dist, m, efConstruction, seed)
        }
      }
      .toDF("pid", "local_id", "id", "vec", "level", "links")
  }

  /** One subgraph of [[buildIndex]]: `rows` inserted in order into a graph
    * seeded `seed + pid`, exported as sidecar rows ascending by local id. */
  private[graft] def buildSlice(rows: Array[(Long, Array[Float])], pid: Int,
      dist: String, m: Int, efConstruction: Int, seed: Long): Iterator[IndexRow] = {
    val g = new HnswGraph(rows(0)._2.length, dist, m, efConstruction, seed + pid)
    rows.foreach(r => g.add(r._2))
    Iterator.range(0, rows.length).map { i =>
      val (vec, level, links) = g.exportNode(i)
      (pid, i, rows(i)._1, vec, level, links)
    }
  }

  /** [[buildIndex]] run on the driver over rows it already holds, split as
    * `parallelize(rows, slices)` splits them: the same subgraphs, pids
    * 0 until `slices`, built on [[ResidentIndex.parallel]]. */
  private[graft] def buildLocal(rows: IndexedSeq[(Long, Array[Float])], slices: Int,
      dist: String, m: Int = 16, efConstruction: Int = 200,
      seed: Long = 42L): Array[Array[IndexRow]] = {
    val out = new Array[Array[IndexRow]](slices)
    ResidentIndex.parallel(slices) { s =>
      val lo = (s.toLong * rows.length / slices).toInt
      val hi = ((s + 1L) * rows.length / slices).toInt
      out(s) = buildSlice(rows.slice(lo, hi).toArray, s, dist, m, efConstruction, seed).toArray
    }
    out
  }

  /** Stored schema of the sidecar [[buildIndex]] writes: reading with it
    * skips the footer job that infers it. */
  private[graft] val indexSchema: StructType = StructType(Seq(
    StructField("pid", IntegerType, nullable = false),
    StructField("local_id", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false)),
    StructField("level", IntegerType, nullable = false),
    StructField("links", ArrayType(ArrayType(IntegerType, containsNull = false)))))

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

  /** Typed sidecar row: (pid, local_id, id, vec, level, links). */
  private[graft] type IndexRow = (Int, Int, Long, Array[Float], Int, Array[Array[Int]])

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

  /** The sidecar pid-partitioned for the pinned walks: pinned and cached
    * under `cacheKey`, or, without one, built for this search alone. */
  private def pinnedIndex(index: DataFrame, cacheKey: Option[String])
    : org.apache.spark.rdd.RDD[IndexRow] = cacheKey match {
    case Some(ckey) => pinnedGetOrBuild(ckey)(pidPartitioned(index))
    case None => pidPartitioned(index)
  }

  /** Evict every DRIVER-side cached serving structure whose cacheKey starts
    * with `prefix` — pinned RDDs (unpersisted), the driver-resident
    * serving state ([[ResidentIndex]]), and the graph/code caches of
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
    ResidentIndex.invalidate(prefix)
    codesCache.removeIf(_._1.startsWith(prefix))
    graft.index.HnswGraphCache.invalidate(prefix)
  }

  /** Evict the serving state of exactly one cacheKey — its pinned RDD
    * (unpersisted), its cached graphs and its PQ code matrices — and
    * nothing under keys it merely prefixes. The catalog evicts the key an
    * append superseded; the resident state evicts a generation it
    * replaced. */
  private[graft] def evictKey(key: String): Unit = {
    pinnedCache.synchronized(Option(pinnedCache.remove(key)))
      .foreach(_.unpersist(blocking = false))
    codesCache.removeIf(_._1.startsWith(key + "#pq"))
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

  /** One subgraph's PQ codes (n×m, row-major) and, for cosine, each node's
    * centroid self-dot sum (null for L2). */
  private type Codes = (Array[Byte], Array[Double])

  /** ADC node scoring, the one scorer of every PQ-scored walk: the
    * quantizer unpacked into the arrays the kernel reads (a task closure
    * ships only those), its cache identity `id` (a PQ sidecar rebuilt with
    * a different quantizer must not serve stale code matrices), each
    * subgraph's code matrix and the per-query distance closure.
    *
    * Residual encoding (routed L2 tables, a residual-trained model): a node
    * in cluster pid encodes x − centroid(pid) — FAISS's IVFPQ/IVFADC
    * design: the quantizer spends its resolution on the within-cell spread
    * instead of re-describing the cell location, and L2 distances are
    * exact under the shared shift (|(q−c)−(x−c)| = |q−x|), so the query's
    * LUT builds from the query shifted by the same centroid.
    *
    * The walk keeps row-major codes scored by `adcOne`. Measured negative
    * results (r11/r12, walk timing, rank-48 d960 @50k): a DiskANN-style
    * inline-neighbor-blocks layout scored with `Simd.adcBlock1` measured
    * 10–40% SLOWER at every (m, ef) (each random-node expansion becomes a
    * ~10 KB cold read vs ~3 KB of row-major codes), and one shared
    * 16-row-block transposed matrix 5–25% slower (scoring one scattered
    * neighbor reads its whole m×16-byte block, 16× its m-byte row). The
    * fast-scan kernel pays only where blocks stream sequentially — the
    * flat serve scan (`Pq.searchFlatServe`). */
  private final case class Adc(
      id: Int, dist: String, centroids: Array[Array[Array[Float]]],
      centDot: Array[Double], groups: Array[(Int, Int)], m: Int, kc: Int,
      nBits: Int) {
    private val cosine = dist == "cosine"

    /** The code matrix of one subgraph, encoded from its graph's stored
      * vectors, each shifted by `cent` first when it is non-null. */
    def encode(e: HnswGraphCache.Entry, cent: Array[Float]): Codes = {
      val nn = e.ids.length
      val cm = new Array[Byte](nn * m)
      val cd = if (cosine) new Array[Double](nn) else null
      var r = 0
      while (r < nn) {
        val v = e.graph.exportNode(r)._1 // a fresh copy — safe to shift in place
        if (cent != null) {
          var j = 0
          while (j < v.length) { v(j) -= cent(j); j += 1 }
        }
        PqKernel.encodeDecodedInto(v, centroids, groups, cosine, cm, r * m)
        if (cosine) {
          var acc = 0.0
          var g = 0; var gk = 0; val base = r * m
          while (g < m) {
            acc += centDot(gk + (cm(base + g) & 0xff))
            g += 1; gk += kc
          }
          cd(r) = acc
        }
        r += 1
      }
      (cm, cd)
    }

    /** Query `qv`'s distance closure over one subgraph's codes, the query
      * shifted by `cent` when it is non-null. The float LUT is
      * selection-grade (winners are re-ranked exactly) at half the cache
      * footprint of double. */
    def scorer(qv: Array[Float], cent: Array[Float]): Codes => Int => Double = {
      val q =
        if (cent == null) qv
        else Array.tabulate(qv.length)(j => qv(j) - cent(j))
      val lut = PqKernel.buildLookup(q, centroids, nBits, dist).map(_.toFloat)
      val qn = if (cosine) {
        var acc = 0.0; var i = 0
        while (i < qv.length) { acc += qv(i).toDouble * qv(i); i += 1 }
        math.sqrt(acc)
      } else 0.0
      codes => {
        val (cm, cd) = codes
        idx => {
          val s = PqKernel.adcOne(cm, idx * m, m, kc, lut)
          if (cosine) 1.0 - s / math.max(math.sqrt(cd(idx)) * qn, 1e-10) else s
        }
      }
    }
  }

  /** A walk's scorer, or null for the plain float walk. The model's metric
    * must be the walk's, and a residual-trained model needs the routing
    * centroids its codes shift by (`residCents`, an L2 routed walk); any
    * mix of encoding and training scores garbage silently. */
  private def adcFor(pq: Option[PqModel], dist: String,
      residCents: Array[Array[Float]]): Adc = {
    require(pq.forall(_.dist == dist),
      s"PqModel metric ${pq.map(_.dist).orNull} differs from the walk's $dist")
    require(residCents == null || dist != "cosine",
      "residual PQ encoding is an L2 shift identity; cosine encodes plain")
    require(pq.forall(_.residual == (residCents != null)),
      "a residual-trained PqModel requires the routed walk " +
        "(IvfHnsw.searchPinned with pq); a plain one encodes plain")
    pq.map { p =>
      Adc(java.util.Arrays.deepHashCode(p.centroids.asInstanceOf[Array[AnyRef]]),
        p.dist, p.centroids, p.centroidDotCache, PqKernel.pqGroups(p.dim, p.m),
        p.m, p.k, p.nBits)
    }.orNull
  }

  /** The centroid subgraph `pid` encodes residuals against, or null when
    * it encodes plain: the walk is not residual, or `pid` is a post-build
    * delta (≥ the model's cells, not cluster-partitioned). */
  private def centOf(residCents: Array[Array[Float]], pid: Int): Array[Float] =
    if (residCents != null && pid < residCents.length) residCents(pid) else null

  /** Codes-cache byte budget of [[codesCache]]: `graft.cache.codes.maxBytes`
    * sysprop, else 8% of max heap. Byte-budgeted for the same reason as
    * [[HnswGraphCache]] (r13: a 64-entry cap vs a 96-entry working set — 3
    * PQ models × 32 partitions on one fixture — made every interleaved
    * rep's first row re-encode 1M vectors: the bench's "ef120 10× slower
    * than ef180" anomaly was pure LRU thrash, CPU-bound and GC-invisible). */
  private[graft] def codesMaxBytes: Long =
    sys.props.get("graft.cache.codes.maxBytes").map(_.toLong).getOrElse(
      (Runtime.getRuntime.maxMemory * 0.08).toLong)

  private def codesBytes(v: Codes): Long =
    v._1.length.toLong + (if (v._2 == null) 0L else v._2.length.toLong * 8) + 48

  /** JVM-local cache of per-subgraph PQ code matrices for every ADC walk:
    * (key#pq<model id> — #pqR for residual codes —, pid) → codes, where key
    * is the pinned cacheKey or the resident generation. Built once per
    * (subgraph, model) from the cached graph's vectors — a fill never
    * re-reads the sidecar, and encoding is deterministic (identical to
    * decoding the stored code column). */
  private val codesCache =
    new HnswGraphCache.ByteLru[(String, Int), Codes](() => codesMaxBytes)

  /** The code matrices of `entries`, aligned with them; cached under `key`
    * unless it is null. */
  private def codesFor(entries: Array[(Int, HnswGraphCache.Entry)], key: String,
      adc: Adc, residCents: Array[Array[Float]]): Array[Codes] =
    entries.map { case (pid, e) =>
      def build = adc.encode(e, centOf(residCents, pid))
      if (key == null) build
      else {
        val kk = (key + (if (residCents != null) "#pqR" else "#pq") + adc.id, pid)
        codesCache.get(kk).getOrElse {
          val c = graft.index.CacheStats.timedCodesBuild(build)
          codesCache.put(kk, c, codesBytes(c))
          c
        }
      }
    }

  /** One query's walk, shared by every placement: `(ei, ids, ds)` walks
    * subgraph `ei` of `entries` into (ids, ds) ascending (distance, table
    * id) and returns its hit count. Ties at the k cut fall by table id, as
    * in the exact top-k, however the subgraph's local indices are ordered
    * (a compaction rebuild inserts its merged rows in shuffle order). Plain
    * (`adc` null), the float SIMD walk ([[HnswGraph.searchInto]]); with
    * `adc`, the ADC-scored walk over `codes(ei)` with exact re-rank
    * ([[HnswGraph.searchFnInto]]). Plain codes share one LUT per query;
    * residual codes build one per subgraph. Call it only for a query that
    * walks something here: a routed batch must not pay LUTs in partitions
    * it never probes. */
  private def walker(entries: Array[(Int, HnswGraphCache.Entry)], k: Int,
      efq: Int, adc: Adc, codes: Array[Codes], residCents: Array[Array[Float]])(
      qv: Array[Float]): (Int, Array[Int], Array[Double]) => Int =
    if (adc == null) { (ei, ids, ds) =>
      val e = entries(ei)._2
      e.graph.searchInto(qv, k, efq, ids, ds, order = e.ids)
    } else {
      val shared = if (residCents == null) adc.scorer(qv, null) else null
      (ei, ids, ds) => {
        val score =
          if (shared != null) shared
          else adc.scorer(qv, centOf(residCents, entries(ei)._1))
        val e = entries(ei)._2
        e.graph.searchFnInto(score(codes(ei)), qv, k, efq, ids, ds, order = e.ids)
      }
    }

  /** Serving-shape search for indexes too big for the driver: PIN the
    * stored index across the cluster (repartitioned by subgraph, persisted)
    * and broadcast the QUERIES — the memory inverse of [[searchBroadcast]].
    * The first batch pays one shuffle of the sidecar plus the graph
    * rebuilds; rebuilt graphs pin per
    * executor in [[HnswGraphCache.getGroup]] keyed by (cacheKey, Spark
    * partition id) — stable across jobs over the same persisted dataset —
    * so steady-state batches do pure graph walks: no index bytes move, no
    * adjacency re-decode. This is the 100 TB serving arm: the index lives
    * partitioned across executor memory/disk, each partition walks its
    * resident subgraphs for the whole (broadcast) query batch, and only
    * per-partition top-k rows (Q·k per subgraph) reach the merge.
    *
    * Without `cacheKey` nothing is persisted or cached (one-shot shape:
    * repartition + build + search). With `pq`, the walk is the reference's
    * `knn_pq` over the pinned shape; `pq` must be plain-trained (a
    * residual model needs the routed walk).
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
      cacheKey: Option[String] = None,
      pq: Option[PqModel] = None): DataFrame =
    pinnedSearchCore(index,
      ResidentIndex.queries(queries).map { case (qid, qv) => (qid, qv, null: Array[Int]) },
      k, ef, dist, m, efConstruction, upperBound, cacheKey, pq)

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
    * per subgraph from the cached graphs and stay per executor beside
    * them. */
  private[operators] def pinnedSearchCore(
      index: DataFrame,
      qs: Array[(Long, Array[Float], Array[Int])],
      k: Int,
      ef: Option[Int],
      dist: String,
      m: Int,
      efConstruction: Int,
      upperBound: Double,
      cacheKey: Option[String],
      pq: Option[PqModel] = None,
      routeFloor: Int = Int.MaxValue,
      residCents: Array[Array[Float]] = null): DataFrame = {
    val adc = adcFor(pq, dist, residCents)
    val efq = ef.getOrElse(defaultEf(m, efConstruction))
    val spark = index.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(qs)

    val pinned = pinnedIndex(index, cacheKey)
    val ck = cacheKey
    val floor = routeFloor
    val ub = upperBound

    val partial = pinned
      .mapPartitions { it =>
        val spid = TaskContext.getPartitionId()
        val entries = entriesFor(it, ck, spid, dist, m, efConstruction)
        if (entries.isEmpty) Iterator.empty
        else {
          val codes =
            if (adc == null) null else codesFor(entries, ck.orNull, adc, residCents)
          val walk = walker(entries, k, efq, adc, codes, residCents) _
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
              val w = walk(qv)
              st.size = 0 // reuse: insert only reads [0, size)
              var si = 0
              while (si < selCount) {
                val cnt = w(sel(si), hitIds, hitDs)
                val ids = entries(sel(si))._2.ids
                var i = 0
                while (i < cnt) {
                  if (hitDs(i) <= ub) st.insert(ids(hitIds(i)), hitDs(i), null)
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
      // every task has read the batch once the partials are collected: the
      // driver merge below owns the broadcast and releases it here
      val collected = try partial.collect() finally bc.destroy()
      collected.foreach { case (qid, id, d) =>
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
    } else
      // a lazy frame: its tasks read the batch whenever the caller runs it,
      // so the broadcast lives as long as the frame (the ContextCleaner's)
      merge(partial.toDF("query_id", "id", "distance"), k)
  }

  /** Driver-merge gate for [[pinnedSearchCore]]: max partial rows (Q·P·k)
    * the driver will collect and heap-merge itself; ~100 MB of tuples at
    * the default bound. Overridable (`graft.serve.driverMergeMaxRows`) so
    * deployments with thin driver links — and the A/B probe — can tune or
    * disable it without a rebuild. */
  private def DriverMergeMaxRows: Long =
    sys.props.get("graft.serve.driverMergeMaxRows").map(_.toLong)
      .getOrElse(4L << 20)

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
    * With `pq`, nodes are ADC-scored from per-subgraph code matrices and
    * exact re-ranked ([[HnswGraph.searchFnInto]]), as the collected arms;
    * a residual-trained model needs the routed (L2) stream.
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
    val efq = ef.getOrElse(defaultEf(m, efConstruction))
    // routed L2 (ef, pq) with a residual-trained quantizer: residual
    // encoding, as the collected arm; plain-trained models encode plain
    val residCents: Array[Array[Float]] =
      if (pq.exists(_.residual) && dist != "cosine")
        route.map(_._1.centroids).orNull
      else null
    val adc = adcFor(pq, dist, residCents)
    val pinned = pinnedIndex(index, cacheKey)
    val nPids = pinned.getNumPartitions
    val ck = cacheKey

    val qRdd = queries
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].rdd
    val exploded = route match {
      case Some((model, np0)) =>
        val np = math.max(1, np0)
        // read by the lazy frame this returns, so it lives as long as the
        // frame does and is left to the ContextCleaner
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
          val codes =
            if (adc == null) null else codesFor(entries, ck.orNull, adc, residCents)
          val walk = walker(entries, k, efq, adc, codes, residCents) _
          val hitIds = new Array[Int](k)
          val hitDs = new Array[Double](k)
          qit.flatMap { case (qid, qv) =>
            // a query arrives here because a pid of this partition is on
            // its probe list; partitions hold exactly one pid by
            // construction, so every resident graph is walked
            val w = walk(qv)
            Iterator.range(0, entries.length).flatMap { ei =>
              val cnt = w(ei, hitIds, hitDs)
              val ids = entries(ei)._2.ids
              Iterator.range(0, cnt).map(i => (qid, ids(hitIds(i)), hitDs(i)))
            }
          }
        }
      }
    }.toDF("query_id", "id", "distance")

    merge(bounded(partial, upperBound), k)
  }

  /** Serving-shape search of an index that fits in driver memory (the
    * reference's entire operating envelope: its single-process graph IS an
    * index-in-memory design). The subgraphs stay built on the driver
    * ([[ResidentIndex]]) and the query batch is read and walked there, on
    * a JVM-wide pool of at most `availableProcessors` threads: a warm
    * search of a local query batch runs no Spark job. With `cacheKey`, a
    * subgraph is identified by its sidecar part file: a catalog append
    * hands its new subgraph over ([[publishResident]]), any other new part
    * file is read and built alone, and the graphs already resident in
    * [[HnswGraphCache]] keep serving. The result is a
    * local relation of (query_id, id, distance), ascending (distance, id)
    * per query. For indexes too big for the driver, use [[searchPinned]].
    *
    * With `pq` (plain-trained, the quantizer of the table the index was
    * built on), the walk is the reference's `knn_pq`: sub-linear over the
    * codes, with the same output contract whenever ef is generous enough
    * for the walk to cover the exact top-k.
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
      cacheKey: Option[String] = None,
      pq: Option[PqModel] = None): DataFrame =
    hitsFrame(queries, residentRows(index, queries, k, ef, dist, m,
      efConstruction, upperBound, cacheKey, pq).rows)

  /** A serving search's winners on the driver: `rows` are (query_id, id,
    * distance), per query ascending (distance, id), queries in batch order.
    * `vecs`, when present, holds each row's vector as the driver-resident
    * graphs the search walked store it (the floats the sidecar holds). */
  private[graft] final case class Hits(
      rows: Array[(Long, Long, Double)],
      vecs: Option[Array[Array[Float]]] = None)

  /** [[searchBroadcast]] as driver rows — what the catalog hands straight
    * to its metadata attach; `withVecs` adds each winner's vector, read
    * from the graph the walk found it in. */
  private[graft] def residentRows(
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
      withVecs: Boolean = false): Hits = {
    val adc = adcFor(pq, dist, null)
    val efq = ef.getOrElse(defaultEf(m, efConstruction))
    val served = ResidentIndex.graphs(index, cacheKey, dist, m, efConstruction)
    val entries = served.entries
    val codes = if (adc == null) null else codesFor(entries, served.gen, adc, null)
    residentWalk(queries, entries, k, upperBound, withVecs)(
      walker(entries, k, efq, adc, codes, null))
  }

  /** Hand the subgraphs a catalog append has just written to the resident
    * state of `cacheKey` ([[ResidentIndex.publish]]), so the next search
    * reads none of it. `before` and `added` name the sidecar's part files
    * before the write and the files it wrote; each slice holds one
    * subgraph's rows ascending by local id. */
  private[graft] def publishResident(cacheKey: String, before: Set[String],
      added: Set[String], slices: Seq[Array[IndexRow]], dist: String,
      m: Int = 16, efConstruction: Int = 200): Unit =
    ResidentIndex.publish(cacheKey, before, added, slices.map(s =>
      s(0)._1 -> s.map(r => (r._3, r._4, r._5, r._6))), dist, m, efConstruction)

  private val hitsSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("distance", DoubleType, nullable = false)))

  /** Driver rows as a local relation: collecting it runs no job. */
  private def hitsFrame(queries: DataFrame, rows: Array[(Long, Long, Double)]): DataFrame =
    queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*), hitsSchema)

  /** The resident walk's driver loop: per query, walk every subgraph and
    * merge top-k across subgraphs by ascending (distance, id). `walk`
    * yields, per query vector, the walk of subgraph `ei` into
    * (ids, distances), returning its hit count. With `withVecs`, each
    * candidate's (subgraph, local index) is kept, so a winner's vector is
    * read from the graph that found it. */
  private def residentWalk(
      queries: DataFrame,
      entries: Array[(Int, HnswGraphCache.Entry)],
      k: Int,
      upperBound: Double,
      withVecs: Boolean)(
      walk: Array[Float] => (Int, Array[Int], Array[Double]) => Int): Hits = {
    val qs = ResidentIndex.queries(queries)
    val out = new Array[Array[(Long, Long, Double)]](qs.length)
    val outVecs = new Array[Array[Array[Float]]](qs.length)
    ResidentIndex.parallel(qs.length) { qi =>
      val (qid, qv) = qs(qi)
      val w = walk(qv)
      val subIds = new Array[Int](k)
      val subDs = new Array[Double](k)
      val st = new TopKState(k, withPayload = false)
      // candidate id -> subgraph << 32 | local index
      val at = if (withVecs) new java.util.HashMap[Long, Long] else null
      var ei = 0
      while (ei < entries.length) {
        val c = w(ei, subIds, subDs)
        val ids = entries(ei)._2.ids
        var i = 0
        while (i < c) {
          if (subDs(i) <= upperBound) {
            st.insert(ids(subIds(i)), subDs(i), null)
            if (at != null) at.put(ids(subIds(i)), ei.toLong << 32 | subIds(i))
          }
          i += 1
        }
        ei += 1
      }
      out(qi) = Array.tabulate(st.size)(i => (qid, st.ids(i), st.dists(i)))
      if (at != null) outVecs(qi) = Array.tabulate(st.size) { i =>
        val loc = at.get(st.ids(i))
        entries((loc >>> 32).toInt)._2.graph.vecAt(loc.toInt)
      }
    }
    Hits(out.flatten, if (withVecs) Some(outVecs.flatten) else None)
  }
}
