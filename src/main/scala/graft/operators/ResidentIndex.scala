package graft.operators

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, ExecutorService, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}
import graft.index.{CacheStats, HnswGraph, HnswGraphCache}

/** Driver-resident serving state of the resident HNSW walk
  * ([[Hnsw.searchBroadcast]], plain or ADC-scored) — the embedded,
  * in-process index of the reference (`HNSWIndex::search` over a graph
  * already in memory) — plus the driver-side query read of every HNSW walk
  * that collects its batch ([[queries]]) and the walk pool ([[parallel]]). Per cacheKey it records a generation key, the
  * subgraphs (pids) of the index and, for a bare parquet sidecar, which
  * part files hold each pid. The rebuilt graphs themselves live in
  * [[HnswGraphCache]] under (generation, pid), inside its byte budget; the
  * collected sidecar rows are dropped once a graph is built. A search
  * reads no index bytes while its graphs are resident: it runs no Spark
  * job at all. A graph the budget evicted reloads from its own part files
  * only; an index without a listing reloads its missing pids from the
  * whole frame.
  *
  * Parquet part files never change once written, so a sidecar's file
  * listing is its content identity. A catalog `batchAdd` built its delta
  * subgraph on the driver and hands it over ([[publish]] — the
  * subgraph-union analog of `HNSWIndex::add` on a graph already in
  * memory): its graph is cached under the current generation and its part
  * file joins the recorded listing, so the next search reads nothing. Each
  * search diffs the listing against the recorded one:
  *  - same files: serve the resident graphs;
  *  - new files only (an append that was not handed over: `addDataFrame`,
  *    or a listing that moved meanwhile): read just those files and build
  *    only their pids — the generation and every graph cached under it
  *    stay;
  *  - a recorded file gone, or a new file repeating a recorded pid
  *    (compaction, clear+rebuild): reload everything under a fresh
  *    generation and evict the old generation's graphs.
  * An index that is not a bare parquet scan (an in-memory frame, computed
  * columns) has no listing to diff: it loads once per cacheKey, which must
  * then change whenever its contents do.
  *
  * Loading holds no global lock: one latch per cacheKey parks same-key
  * searches while one of them loads; other tables' searches proceed.
  */
private[operators] object ResidentIndex {

  /** One subgraph's nodes ascending by local id: (id, vec, level, links). */
  type Nodes = Array[(Long, Array[Float], Int, Array[Array[Int]])]

  /** What a search walks: the graph-cache generation (null: uncached) and
    * every subgraph's graph, ascending pid. */
  final case class Served(gen: String, entries: Array[(Int, HnswGraphCache.Entry)])

  /** A cacheKey's state: its generation, its pids ascending, the part files
    * recorded under it (empty for an index without a listing) and the
    * files of each pid. */
  private final case class State(gen: String, pids: Array[Int],
      files: Set[String], pidFiles: Map[Int, Set[String]])

  /** Tables served at once before the least recently searched one's graphs
    * are evicted. */
  private val MaxStates = 16

  private val states = new java.util.LinkedHashMap[String, State](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, State]): Boolean =
      if (size() > MaxStates) { Hnsw.evictKey(e.getValue.gen); true } else false
  }

  /** In-flight loads, one latch per cacheKey (the [[Hnsw]] pinned-build
    * scheme): a failed load counts down without publishing, so a waiter
    * retries and becomes the loader. */
  private val loading = new ConcurrentHashMap[String, CountDownLatch]

  private val generations = new AtomicLong

  /** Every subgraph of `index` as a built graph, loading only what the
    * state for `cacheKey` lacks or the graph cache evicted. Without a key
    * every call loads and builds the whole index, uncached. */
  def graphs(index: DataFrame, cacheKey: Option[String], dist: String, m: Int,
      efConstruction: Int): Served = cacheKey match {
    case None =>
      Served(null, load(index, Set.empty)._1.map { case (pid, nodes) =>
        pid -> build(nodes, dist, m, efConstruction)
      })
    case Some(ck) =>
      val (st, fresh) = resolve(ck, index, dist, m, efConstruction)
      val entries = st.pids.map(pid => fresh.getOrElse(pid,
        HnswGraphCache.resident(st.gen, pid).orNull))
      val missing = st.pids.indices.filter(entries(_) == null)
      if (missing.nonEmpty) {
        val pids = missing.map(st.pids(_))
        val src =
          if (st.files.isEmpty) index
          else index.sparkSession.read.schema(index.schema)
            .parquet(pids.flatMap(st.pidFiles).distinct.sorted: _*)
        val groups = load(src.filter(col("pid").isin(pids: _*)), Set.empty)._1.toMap
        missing.foreach { i =>
          val pid = st.pids(i)
          entries(i) = HnswGraphCache.get(st.gen, pid)(
            build(groups(pid), dist, m, efConstruction))
        }
      }
      Served(st.gen, st.pids.zip(entries))
  }

  /** The state for `ck` matching the index's current listing, plus the
    * graphs this call built while bringing it up to date. */
  private def resolve(ck: String, index: DataFrame, dist: String, m: Int,
      efConstruction: Int): (State, Map[Int, HnswGraphCache.Entry]) = {
    val files = partFiles(index)
    while (true) {
      val cur = states.synchronized(Option(states.get(ck)))
      if (cur.exists(_.files == files)) return (cur.get, Map.empty)
      val latch = new CountDownLatch(1)
      val prev = loading.putIfAbsent(ck, latch)
      if (prev == null) {
        try {
          // re-read under our latch: the previous loader may have
          // published exactly this listing
          val cur = states.synchronized(Option(states.get(ck)))
          val (next, groups) = cur match {
            case Some(st) if st.files == files => (st, Array.empty[(Int, Nodes)])
            case Some(st) if st.files.nonEmpty && st.files.subsetOf(files) =>
              delta(index, st, files).getOrElse(full(ck, index, files))
            case _ => full(ck, index, files)
          }
          val fresh = groups.map { case (pid, nodes) =>
            pid -> HnswGraphCache.get(next.gen, pid)(build(nodes, dist, m, efConstruction))
          }.toMap
          if (!cur.contains(next)) {
            states.synchronized(states.put(ck, next))
            cur.filter(_.gen != next.gen).foreach(st => Hnsw.evictKey(st.gen))
          }
          return (next, fresh)
        } finally {
          loading.remove(ck, latch)
          latch.countDown()
        }
      } else prev.await()
    }
    throw new IllegalStateException("unreachable")
  }

  /** Record subgraphs a catalog append has just written as part of the
    * state for `ck` and cache their graphs under its generation, so the
    * next search reads none of them. Only when the recorded listing is
    * exactly `before` (file names), no load of `ck` is in flight and no
    * pid repeats; otherwise nothing changes and the next search diffs the
    * listing. `added` names the files the append wrote, in the recorded
    * files' directory. */
  def publish(ck: String, before: Set[String], added: Set[String],
      groups: Seq[(Int, Nodes)], dist: String, m: Int, efConstruction: Int): Unit = {
    val latch = new CountDownLatch(1)
    if (added.nonEmpty && loading.putIfAbsent(ck, latch) == null) try {
      val cur = states.synchronized(Option(states.get(ck)))
      cur.filter(st => st.files.nonEmpty && st.files.map(nameOf) == before &&
          !groups.exists(g => st.pidFiles.contains(g._1))).foreach { st =>
        val dir = st.files.head.substring(0, st.files.head.lastIndexOf('/') + 1)
        val paths = added.map(dir + _)
        groups.foreach { case (pid, nodes) =>
          HnswGraphCache.get(st.gen, pid)(build(nodes, dist, m, efConstruction))
        }
        states.synchronized(states.put(ck, State(st.gen,
          (st.pids ++ groups.map(_._1)).sorted, st.files ++ paths,
          st.pidFiles ++ groups.map(_._1 -> paths))))
      }
    } finally {
      loading.remove(ck, latch)
      latch.countDown()
    }
  }

  private def nameOf(f: String): String = f.substring(f.lastIndexOf('/') + 1)

  /** Drop every state whose cacheKey starts with `prefix` and evict its
    * graphs (the catalog's table delete / index clear). */
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
    dropped.foreach(st => Hnsw.evictKey(st.gen))
  }

  private def full(ck: String, index: DataFrame, files: Set[String])
    : (State, Array[(Int, Nodes)]) = {
    val (groups, pidFiles) = load(index, files)
    (State(s"$ck#g${generations.incrementAndGet()}", groups.map(_._1),
      files, pidFiles), groups)
  }

  /** Load only the part files `st` lacks, or None when they repeat a
    * recorded pid (the sidecar was rewritten, not appended to). */
  private def delta(index: DataFrame, st: State, files: Set[String])
    : Option[(State, Array[(Int, Nodes)])] = {
    val added = (files -- st.files).toSeq.sorted
    val (groups, pidFiles) = load(
      index.sparkSession.read.schema(index.schema).parquet(added: _*), added.toSet)
    if (groups.exists(g => st.pidFiles.contains(g._1))) None
    else Some((State(st.gen, (st.pids ++ groups.map(_._1)).sorted, files,
      st.pidFiles ++ pidFiles), groups))
  }

  /** Sidecar rows grouped by pid, ascending, each group by local id; when
    * `df` is a bare scan of the part `files`, also the files of each pid. */
  private def load(df: DataFrame, files: Set[String])
    : (Array[(Int, Nodes)], Map[Int, Set[String]]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val t0 = System.nanoTime()
    val file = if (files.nonEmpty) col("_metadata.file_name") else lit(null).cast("string")
    val rows = df
      .select(col("pid").cast("int"), col("local_id").cast("int"),
        col("id").cast("long"), col("vec"), col("level").cast("int"),
        col("links"), file)
      .as[(Int, Int, Long, Array[Float], Int, Array[Array[Int]], String)]
      .collect()
    val groups = rows.groupBy(_._1).toArray.sortBy(_._1).map { case (pid, rs) =>
      (pid, rs.sortBy(_._2).map(r => (r._3, r._4, r._5, r._6)))
    }
    val byName = files.map(f => nameOf(f) -> f).toMap
    val pidFiles =
      if (files.isEmpty) Map.empty[Int, Set[String]]
      else rows.groupBy(_._1).map { case (pid, rs) => pid -> rs.map(r => byName(r._7)).toSet }
    CacheStats.indexRowsShipped.addAndGet(rows.length)
    CacheStats.indexShipNanos.addAndGet(System.nanoTime() - t0)
    (groups, pidFiles)
  }

  private def build(nodes: Nodes, dist: String, m: Int, efConstruction: Int)
    : HnswGraphCache.Entry =
    HnswGraphCache.Entry(
      HnswGraph.fromNodes(nodes(0)._2.length, dist, m, efConstruction,
        nodes.iterator.map(n => (n._2, n._3, n._4))),
      nodes.map(_._1))

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

  /** The query batch as (query_id, query_vec), read on the driver: the
    * resident and pinned HNSW walks' one query read. A local relation (what
    * `createDataFrame` over rows and `Seq.toDF` build) is read straight
    * from its rows, with no planning and no job. */
  def queries(qdf: DataFrame): Array[(Long, Array[Float])] = {
    def at(out: Seq[Attribute], name: String) =
      out.indexWhere(_.name == name)
    qdf.queryExecution.optimizedPlan match {
      case LocalRelation(out, data, false, _)
          if at(out, "query_id") >= 0 && at(out, "query_vec") >= 0 &&
            Seq(LongType, IntegerType).contains(out(at(out, "query_id")).dataType) &&
            out(at(out, "query_vec")).dataType.isInstanceOf[ArrayType] &&
            out(at(out, "query_vec")).dataType.asInstanceOf[ArrayType].elementType == FloatType =>
        val qi = at(out, "query_id")
        val vi = at(out, "query_vec")
        val long = out(qi).dataType == LongType
        data.iterator.map(r => (if (long) r.getLong(qi) else r.getInt(qi).toLong,
          r.getArray(vi).toFloatArray())).toArray
      case _ =>
        val spark = qdf.sparkSession
        import spark.implicits._
        qdf.select(col("query_id").cast("long"), col("query_vec"))
          .as[(Long, Array[Float])].collect()
    }
  }

  /** JVM-wide walk pool: at most `availableProcessors` daemon threads,
    * created on first use. */
  private lazy val pool: ExecutorService = {
    val n = Runtime.getRuntime.availableProcessors()
    val seq = new AtomicInteger
    Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, s"graft-hnsw-walk-${seq.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** Run `body(0 until n)`: the caller and up to `availableProcessors - 1`
    * pool threads claim indices from a shared counter until none is left;
    * returns once every index has run. A single index runs on the caller's
    * thread. The first failure is rethrown after every claimed index ends. */
  def parallel(n: Int)(body: Int => Unit): Unit =
    if (n == 1) body(0)
    else if (n > 1) {
      val next = new AtomicInteger
      val done = new CountDownLatch(n)
      val failure = new AtomicReference[Throwable]
      val work: Runnable = () => {
        var i = next.getAndIncrement()
        while (i < n) {
          try { if (failure.get == null) body(i) }
          catch { case t: Throwable => failure.compareAndSet(null, t) }
          finally done.countDown()
          i = next.getAndIncrement()
        }
      }
      val helpers = math.min(n, Runtime.getRuntime.availableProcessors()) - 1
      (0 until helpers).foreach(_ => pool.execute(work))
      work.run()
      done.await()
      if (failure.get != null) throw failure.get
    }
}
