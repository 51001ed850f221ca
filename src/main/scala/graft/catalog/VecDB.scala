package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import scala.jdk.CollectionConverters._

import graft.operators.{Bq, CoarseMerge, Hnsw, Ivf, IvfHnsw, Knn, Pq, PqModel, Search, Sq, TopK}
import graft.functions.VectorFunctions
import graft.index.CacheStats

/** PQ sidecar parameters recorded in the catalog. `residual` marks a
  * quantizer trained on IVF residuals ([[graft.operators.IvfHnsw
  * .trainResidualPq]] — FAISS's IVFPQ design): only the routed walk can
  * score with it, so the dispatch pins such tables to the routed arms and
  * pattern-filtered searches take the exact filtered scan. Defaulted
  * so briefs written before the field existed read as plain. */
case class PqInfo(m: Int, nBits: Int, residual: Boolean = false)

/** IVF sidecar parameters recorded in the catalog (our extension — the
  * reference's DB layer is Flat/HNSW only, `dynamic_index.rs:10-14`; at
  * 100 TB cluster-pruned scans are IVF's entire point). */
case class IvfInfo(k: Int, defaultNProbes: Int)

/** SQ8 sidecar marker (our extension — the quantized-serving spectrum's
  * 8-bit point as a catalog citizen, like the reference's PQ at
  * `metadata_vec_table.rs:112-152`). The exact (mins, scales) model lives
  * in the sidecar (`sq/model`); `routed` marks codes written
  * cluster-partitioned under the table's IVF routing (`sq/ivf`) — the
  * IVFSQ byte-prune layout — and couples the sidecar's lifetime to the
  * IVF index's. */
case class SqInfo(routed: Boolean)

/** BQ (binary quantization) sidecar marker. `centered` records whether
  * the packed bits threshold at the per-dim corpus mean
  * ([[graft.operators.Bq.train]] — the information-preserving default) or
  * at raw sign (the SQL-function convention). `routed` marks packed words
  * written cluster-partitioned under the table's IVF routing (`bq/ivf`) —
  * the IVF-BQ bit-prune layout, [[SqInfo]]'s composition on 1-bit codes —
  * and couples the sidecar's lifetime to the IVF index's. Defaulted so
  * pre-r16 briefs read as flat. */
case class BqInfo(centered: Boolean = true, routed: Boolean = false)

/** One catalog row — the Spark shape of the reference's `VecTableBrief` +
  * per-table index state (`/root/reference/src/database/mod.rs:47-64`,
  * `metadata_vec_table.rs:14-20`). `version` points at the current data
  * directory (rewrites go to a fresh version then flip the pointer — the
  * atomic-save property of `thread_save.rs:11-21` without in-place writes).
  */
case class TableEntry(
    filename: String,
    dim: Int,
    dist: String,
    version: Int,
    nextId: Long,
    hasHnsw: Boolean,
    efConstruction: Int,
    pq: Option[PqInfo],
    ivf: Option[IvfInfo] = None,
    // HNSW subgraphs are k-means clusters with a centroid sidecar
    // ([[VecDB.buildIvfHnswIndex]]): beyond-broadcast searches route each
    // query to its routeProbes nearest clusters instead of walking every
    // subgraph. Pids ≥ the cluster count (append deltas, compaction merges)
    // are always walked, so the flag never affects correctness — a missing
    // route sidecar just degrades to the unrouted union.
    hnswRouted: Boolean = false,
    routeProbes: Int = 4,
    // quantized-arm sidecars (defaulted so pre-r15 briefs read as absent)
    sq: Option[SqInfo] = None,
    bq: Option[BqInfo] = None,
    // creation stamp, folded into serving cacheKeys: (version, nextId)
    // alone are NOT unique across delete-table + recreate (both restart at
    // 0), and a recreated table of the same size would otherwise collide
    // with executor-cached graphs of its deleted namesake on a cluster
    created: Long = 0L,
    // LIVE row count, maintained on add/delete (r20, closing the ADVICE
    // gap: `nextId` exceeds the live count after deletes, so guards like
    // "candidates >= corpus ⇒ exact" compared against it could auto-route
    // an exhaustive-exact caller to approximate selection). −1 = unknown
    // (pre-r20 brief) — readers fall back to nextId, the pre-r20 behavior
    rows: Long = -1L)

/** The database catalog — the reference's `VecDBManager` + Python `VecDB`
  * surface (`/root/reference/src/database/mod.rs:291-521`,
  * `/root/reference/src/pyo3/mod.rs:56-296`) over a directory of Parquet
  * datasets plus a `brief.json` catalog file.
  *
  * Semantics preserved:
  *  - `create_table_if_not_exists(key, dim, dist)` is idempotent; `(dim,
  *    dist)` are table schema, enforced on every write ("Dimension
  *    mismatch", `mod.rs:425-431`);
  *  - filenames come from `sanitize_key` + uniquification (`mod.rs:36-45`,
  *    `83-106`);
  *  - `add`/`batch_add` clear the PQ sidecar but keep HNSW
  *    (`metadata_vec_table.rs:64-81`; test_pyo3 asserts both);
  *  - `delete(pattern)` clears HNSW *and* PQ and rewrites the survivors
  *    (`metadata_vec_table.rs:163-187`) — ids stay stable (no swap_remove;
  *    row identity here is the explicit id column);
  *  - `build_*` are idempotent skips; `build_pq_table` validates
  *    `proportion ∈ (0,1)`, `n_bits ∈ {4,8}`, `m ∈ 1..=dim`, non-empty
  *    table (`metadata_vec_table.rs:112-152`). NOTE: the reference then
  *    passes a hard-coded `n_bits: 4` regardless (`:140`) — we implement
  *    the *documented* behavior and honor the validated `n_bits`;
  *  - `search(key, q, k, ef, upper_bound)` dispatch matrix
  *    (`metadata_vec_table.rs:201-205`): `(Some ef, pq)` → knn_pq,
  *    `(Some ef, no pq)` → knn_with_ef (Flat ignores ef,
  *    `dynamic_index.rs:75-80`), `(None, _)` → knn with the HNSW default
  *    ef. HNSW+PQ runs ADC-then-rerank over codes (the reference runs ADC
  *    inside the graph walk — same contract, different physical path).
  *
  * Single-writer, enforced: an exclusive `db.lock` file lock is taken on
  * open and held until [[close]] (`/root/reference/src/database/mod.rs:21-30`,
  * `293-317`; `examples/test_try_lock.py`) — a second open of the same root,
  * from this or any other process, fails with "Failed to lock".
  */
class VecDB(spark: SparkSession, root: String) {
  private implicit val formats: Formats = DefaultFormats
  private val logger = org.slf4j.LoggerFactory.getLogger(classOf[VecDB])
  private def logWarning(msg: => String): Unit = logger.warn(msg)

  /** Per-instance broadcast-gate override for the serving dispatch; `None`
    * falls back to the JVM-wide `-Dgraft.broadcast.max.bytes` (default
    * 1 GiB). Lets a caller force the pinned/routed beyond-broadcast arms
    * (tests, mixed-tenancy deployments) without mutating global state. */
  @volatile var broadcastGateBytes: Option[Long] = None
  private def gateBytes: Long =
    broadcastGateBytes.getOrElse(VecDB.BroadcastMaxBytes)
  private def hnswEligible(rows: Long, dim: Int): Boolean =
    VecDB.hnswBroadcastBytes(rows, dim) <= gateBytes
  private def pqEligible(rows: Long, dim: Int, m: Int): Boolean =
    VecDB.pqServeBytes(rows, dim, m) <= gateBytes

  private val rootPath: Path = Paths.get(root)
  Files.createDirectories(rootPath)
  private def briefPath: Path = rootPath.resolve("brief.json")

  // exclusive database lock (reference `DB_LOCK_FILE`): tryLock returns
  // null when another process holds it; a second open in THIS process
  // throws OverlappingFileLockException — both mean "already open"
  private val lockChannel = java.nio.channels.FileChannel.open(
    rootPath.resolve("db.lock"),
    java.nio.file.StandardOpenOption.CREATE,
    java.nio.file.StandardOpenOption.WRITE)
  private val dbLock =
    try Option(lockChannel.tryLock())
    catch { case _: java.nio.channels.OverlappingFileLockException => None }
  if (dbLock.isEmpty) {
    lockChannel.close()
    throw new IllegalStateException(
      s"Failed to lock database at $root: it is open elsewhere")
  }

  /** Release the exclusive database lock (the reference releases on
    * manager drop; call before reopening the same root). Idempotent. */
  def close(): Unit = {
    dbLock.filter(_.isValid).foreach(_.release())
    if (lockChannel.isOpen) lockChannel.close()
  }

  @volatile private var tables: Map[String, TableEntry] = loadBrief()
  @volatile private var cached: Map[String, DataFrame] = Map.empty

  /** Pre-listed sidecar DataFrames (and loaded sidecar models), keyed by
    * `path@stamp` where the stamp folds (created, version, nextId) AND a
    * per-table index GENERATION counter bumped by every index build/clear
    * — (created, version, nextId) alone is blind to clear+rebuild cycles
    * (they rewrite the sidecar without touching data or ids), which would
    * serve a stale file index over deleted part files. Listing a
    * cluster-partitioned layout is a per-`read.parquet`-call driver cost
    * (~1.3 s at kc=512, measured); the model loads are 1-3 extra driver
    * jobs per batch: a serving deployment pays both once per index
    * generation, not once per query batch. State an index build fixes
    * (centroids, layout encoding) is keyed by [[fixedStamp]] instead, which
    * appends leave alone. Inserting a new stamp evicts
    * the path's older generations; [[invalidateSidecars]] purges a whole
    * table's entries on clear/delete (no retention of dead listings).
    *
    * BYTE-BUDGETED (the shared [[graft.index.HnswGraphCache.ByteLru]]
    * machinery): a catalog serving hundreds of tables would otherwise
    * accumulate an unbounded map of file indexes and model arrays on the
    * driver. Entry sizes are estimates ([[sidecarBytes]] — file-count ×
    * per-status overhead for listings, array payloads for models); past
    * `graft.cache.sidecar.maxBytes` (default 256 MiB) the least-recently-
    * served entries evict, and a later batch re-lists/re-loads them —
    * correctness never depends on residency. */
  private val sidecarCached =
    new graft.index.HnswGraphCache.ByteLru[String, AnyRef](
      () => VecDB.sidecarCacheMaxBytes)
  private val sidecarGen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private def sidecarStamp(e: TableEntry): String = {
    val g = sidecarGen.getOrDefault(e.filename, 0L)
    s"c${e.created}v${e.version}n${e.nextId}g$g"
  }
  /** Per-table generation of the state an index build fixes (IVF and
    * routing centroids, the IVF layout's vector encoding): bumped with
    * [[sidecarGen]] by every build, clear and delete, but not by appends:
    * they land new rows under the same centroids, and re-keying on them
    * would make the next append or search re-read the centroid parquet and
    * re-list the partitioned layout. */
  private val fixedGen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private def fixedStamp(e: TableEntry): String = {
    val g = fixedGen.getOrDefault(e.filename, 0L)
    s"fixed:c${e.created}v${e.version}m$g"
  }
  /** Bump the table's index generation and purge its cached entries —
    * called by every index build/clear, by table delete and, with
    * `append`, at the end of every append: that bumps only the listing
    * generation and keeps the build-fixed entries ([[fixedStamp]]) and the
    * packed part-file meta ([[metaParts]]: an append adds files and changes
    * none). The purge prefix ends at a path-separator boundary so a table
    * filename that prefixes another ('t' vs 't2') never evicts the
    * sibling's entries. */
  private def invalidateSidecars(filename: String, append: Boolean = false): Unit = {
    sidecarGen.merge(filename, 1L, (a, b) => a + b)
    if (!append) fixedGen.merge(filename, 1L, (a, b) => a + b)
    sidecarCached.removeIf(k => k.startsWith(tablePrefix(filename)) &&
      !(append && (k.contains("@fixed:") || k.contains(MetaStamp))))
  }
  /** Key marker of a packed part-file meta entry ([[metaParts]]), followed
    * by the table's `created` stamp. */
  private val MetaStamp = "@meta:c"
  private def tablePrefix(filename: String): String =
    rootPath.resolve(filename).toString + java.io.File.separator
  /** Driver-memory estimate of a cached sidecar entry. DataFrame entries
    * hold an InMemoryFileIndex (one FileStatus + path per leaf file);
    * model entries hold their primitive arrays. */
  private def sidecarBytes(v: AnyRef): Long = v match {
    case df: DataFrame => 256L + 512L * df.inputFiles.length
    case m: Sq.SqModel => 64L + 16L * m.dim
    case m: graft.operators.IvfModel =>
      64L + m.centroids.length.toLong *
        (32L + 4L * (if (m.centroids.isEmpty) 0 else m.centroids(0).length))
    case m: PqModel =>
      64L + m.centroids.iterator.map(g =>
        32L + g.iterator.map(c => 32L + 4L * c.length).sum).sum
    case Some(m: Bq.BqModel) => 64L + 8L * m.dim
    case m: MetaPart => m.bytes
    case _ => 64L
  }
  private def sidecarCachedAs[T <: AnyRef](path: String, e: TableEntry)
      (load: => T): T =
    cachedUnder(path, sidecarStamp(e))(load)
  /** [[sidecarCachedAs]] for state its index build fixes: appends keep it
    * cached ([[fixedStamp]]). */
  private def buildFixedAs[T <: AnyRef](path: String, e: TableEntry)
      (load: => T): T =
    cachedUnder(path, fixedStamp(e)) { fixedLoads.incrementAndGet(); load }
  private def cachedUnder[T <: AnyRef](path: String, stamp: String)
      (load: => T): T = {
    val key = s"$path@$stamp"
    sidecarCached.get(key) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = load
        sidecarCached.removeIf(_.startsWith(path + "@"))
        sidecarCached.put(key, v, sidecarBytes(v))
        v
    }
  }
  private def sidecarDf(path: String, e: TableEntry): DataFrame =
    sidecarCachedAs[DataFrame](path, e)(spark.read.parquet(path))
  /** The HNSW sidecar through the listing cache, read with its stored
    * schema: listing it again after an append starts no job. */
  private def hnswSidecar(e: TableEntry): DataFrame =
    sidecarCachedAs[DataFrame](hnswDir(e).toString, e)(
      spark.read.schema(Hnsw.indexSchema).parquet(hnswDir(e).toString))
  /** Cache observability for the eviction spec; not public surface. */
  private[graft] def sidecarCacheEntries: Int = sidecarCached.size
  private[graft] def sidecarCacheBytes: Long = sidecarCached.currentBytes
  /** Loads of build-fixed state ([[buildFixedAs]] misses); spec observability. */
  private[graft] val fixedLoads = new java.util.concurrent.atomic.AtomicLong

  /** Intra-process guard for every read-modify-write of `tables` +
    * `saveBrief()`. The exclusive `db.lock` only fences OTHER processes; a
    * search thread healing a degraded table concurrently with another
    * thread's `batchAdd` could otherwise write a stale snapshot back and
    * roll back the just-reserved `nextId` — id reuse, the one invariant
    * appends must never break. EVERY mutation of `tables`/`cached` +
    * `saveBrief()` goes through this lock (build/clear/delete/heal
    * included), and mutators re-read `entry(key)` INSIDE the lock so no
    * stale copy is ever written. `tables`/`cached` are volatile so lockless
    * readers (search dispatch, getters) see published snapshots. */
  private val catalogLock = new Object

  /** Per-table locks serializing every per-key MUTATOR end to end — data
    * rewrites (`delete`), data+sidecar appends (`batchAdd`/`addDataFrame`),
    * index builds/clears, compaction's directory swap, and heal's restore.
    * Metadata-only flips were already race-free under [[catalogLock]]; this
    * lock closes the data-FILE windows: a `delete` rewriting survivors to
    * v+1 while an append lands files into v would silently drop the
    * appended rows, and an index build racing an append would publish
    * `hasHnsw=true` with a sidecar missing the new rows.
    *
    * Lock order is tableLock → catalogLock, UNIFORMLY: the one place that
    * *syntactically* takes a tableLock under catalogLock —
    * [[healMissingSidecars]] → [[restoreHnswOld]] — is safe only because
    * every heal caller already holds the key's tableLock, so the inner
    * `synchronized` is a reentrant no-op (asserted at heal entry). Reads
    * (`searchBatch`) stay lock-free on the volatile snapshot unless a
    * sidecar is actually missing, so searches never block behind a
    * long-running build/ingest. */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]
  private def tableLock(key: String): Object =
    tableLocks.computeIfAbsent(key, _ => new Object)

  private def loadBrief(): Map[String, TableEntry] =
    if (Files.exists(briefPath))
      Serialization.read[Map[String, TableEntry]](Files.readString(briefPath))
    else Map.empty

  private def saveBrief(): Unit = {
    val tmp = rootPath.resolve("brief.json.tmp")
    Files.writeString(tmp, Serialization.write(tables))
    Files.move(tmp, briefPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  // ------------------------------------------------------------ key/paths

  /** `sanitize_key` (`/root/reference/src/database/mod.rs:36-45`): keep
    * `[a-zA-Z0-9_-]` and non-ASCII, replace the rest with '_', cap at 32. */
  def sanitizeKey(key: String): String =
    key.map {
      case c if (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_' || c == '-' => c
      case c if c.isControl || c.isWhitespace || c < 128 => '_'
      case c => c
    }.take(32)

  /** Directory names held by in-flight create/delete operations. Guarded by
    * [[catalogLock]]. [[uniqueFilename]] treats a reserved name as taken, so
    * two concurrent creates (same key, or different keys sanitizing to the
    * same base) can never pick the same directory, and a delete's directory
    * removal completes before the freed name can be reused by a create. */
  private var reservedFilenames: Set[String] = Set.empty

  /** MUST be called with [[catalogLock]] held. */
  private def uniqueFilename(key: String): String = {
    val base = sanitizeKey(key)
    val taken = tables.values.map(_.filename).toSet ++ reservedFilenames
    if (!taken.contains(base)) base
    else Iterator.from(1).map(i => s"${base}_$i").find(!taken.contains(_)).get
  }

  private def entry(key: String): TableEntry =
    tables.getOrElse(key, throw new NoSuchElementException(s"no such table: $key"))

  /** Live row count of a table: the maintained [[TableEntry.rows]] counter
    * (add/delete keep it exact), falling back to `nextId` on pre-r20
    * briefs where it is unknown. Exhaustiveness guards (candidates ≥
    * corpus ⇒ the exact-KNN contract) must compare against THIS, not
    * `nextId` — after deletes nextId overstates the corpus and a caller
    * passing candidates ≥ live rows could be silently auto-routed to
    * approximate selection. */
  private def liveRows(e: TableEntry): Long =
    if (e.rows >= 0L) e.rows else e.nextId

  private def dataDir(e: TableEntry): String =
    rootPath.resolve(e.filename).resolve(s"v${e.version}").toString
  private def pqDir(e: TableEntry): Path =
    rootPath.resolve(e.filename).resolve("pq")
  private def hnswDir(e: TableEntry): Path =
    rootPath.resolve(e.filename).resolve("hnsw")
  private def ivfDir(e: TableEntry): Path =
    rootPath.resolve(e.filename).resolve("ivf")
  /** Serving cacheKey of the pinned and routed HNSW arms: rotates on any
    * content change — version bumps on delete, nextId on add, `created` on
    * delete+recreate. */
  private def hnswKey(e: TableEntry): String =
    s"${hnswBroadcastKey(e)}n${e.nextId}"
  /** Serving cacheKey of the driver-resident HNSW arms: no nextId, because
    * that arm tells appends apart by the sidecar's part files and loads only
    * the new subgraphs ([[graft.operators.Hnsw.searchBroadcast]]). */
  private def hnswBroadcastKey(e: TableEntry): String =
    s"${hnswDir(e)}@c${e.created}v${e.version}"
  /** Routing-centroid sidecar of a routed HNSW index (holds `centroids`,
    * the [[graft.operators.Ivf.readModel]] layout). */
  private def routeDir(e: TableEntry): Path =
    rootPath.resolve(e.filename).resolve("hnsw_route")
  private def sqDir(e: TableEntry): Path =
    rootPath.resolve(e.filename).resolve("sq")
  private def bqDir(e: TableEntry): Path =
    rootPath.resolve(e.filename).resolve("bq")

  private def dataSchema(dim: Int): StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  // ----------------------------------------------------------------- DDL

  def createTableIfNotExists(key: String, dim: Int, dist: String = "cosine"): Unit = {
    require(dim > 0, "dim must be positive")
    require(dist == "l2sqr" || dist == "cosine", s"unknown distance '$dist'")
    if (tables.contains(key)) return
    // two-phase create: RESERVE the directory name under catalogLock, run
    // the slow Spark write outside the lock, publish under the lock again.
    // The reservation makes filename collisions impossible (no retry loop,
    // and no path ever deletes a directory another create registered);
    // tableLock serializes create/delete on the same key, so a concurrent
    // deleteTable cannot free this name mid-create either.
    tableLock(key).synchronized {
      val fname = catalogLock.synchronized {
        if (tables.contains(key)) null
        else { val f = uniqueFilename(key); reservedFilenames += f; f }
      }
      if (fname == null) return
      try {
        val e = TableEntry(fname, dim, dist, version = 0,
          nextId = 0L, hasHnsw = false, efConstruction = 200, pq = None,
          created = System.currentTimeMillis(), rows = 0L)
        // data dir FIRST, catalog entry second: a crash in between leaves
        // an orphan directory behind a never-published name (reclaimed by
        // the failure cleanup below on a plain error), never a published
        // entry whose data dir is missing
        var published = false
        try {
          spark.createDataFrame(new java.util.ArrayList[Row](), dataSchema(dim))
            .write.mode("overwrite").parquet(dataDir(e))
          catalogLock.synchronized { tables += key -> e; saveBrief() }
          published = true
        } finally if (!published) deleteRecursively(rootPath.resolve(fname))
      } finally catalogLock.synchronized { reservedFilenames -= fname }
    }
  }

  def deleteTable(key: String): Unit = tableLock(key).synchronized {
    val (removed, oldCache) = catalogLock.synchronized {
      val e = tables.get(key)
      val c = cached.get(key)
      e.foreach { x =>
        tables -= key
        cached -= key
        // keep the freed name reserved until the directory is actually
        // gone: a concurrent create could otherwise register the name and
        // then lose its just-written data to the removal below
        reservedFilenames += x.filename
        saveBrief()
        invalidateSidecars(x.filename)
      }
      (e, c)
    }
    oldCache.foreach(_.unpersist())
    removed.foreach { e =>
      // drop cached serving state (pinned RDDs, index broadcasts, rebuilt
      // graphs) BEFORE the files go: multi-GB pinned storage must not
      // outlive the table, and a recreated namesake must never hit it.
      // This evicts THIS JVM's caches (complete in local mode); remote
      // executors' entries are fenced by the `created`-stamped cacheKey
      // rotation and age out of their LRUs — CatalogSpec's "eviction
      // stubbed" case proves correctness on the fence alone via this hook.
      val prefix = rootPath.resolve(e.filename).toString
      cacheEvictionHook(prefix)
      try deleteRecursively(rootPath.resolve(e.filename))
      finally catalogLock.synchronized { reservedFilenames -= e.filename }
    }
  }

  /** (version, nextId, created) of a table: any append, delete or
    * recreate moves it. The SQL top-k rewrite records it at registration
    * to spot a view older than the table. */
  private[graft] def tableStamp(key: String): (Int, Long, Long) = {
    val e = entry(key)
    (e.version, e.nextId, e.created)
  }

  /** Delete-time cache eviction, indirected for the cluster-fence spec:
    * tests replace it with a no-op to prove stale remote-executor caches
    * (which local-mode eviction can't represent) are already fenced by
    * cacheKey rotation. Production binding is the real eviction. */
  private[graft] var cacheEvictionHook: String => Unit = { prefix =>
    Hnsw.invalidateCaches(prefix)
    Pq.invalidateCaches(prefix)
  }

  def getAllKeys: Seq[String] = tables.keys.toSeq.sorted
  def containsKey(key: String): Boolean = tables.contains(key)

  def getDim(key: String): Int = entry(key).dim
  def getDist(key: String): String = entry(key).dist
  def getLen(key: String): Long = table(key).count()

  // -------------------------------------------------------- cached tables

  /** The table as a DataFrame (id, vec, meta). Cached handles mirror the
    * reference's loaded-table cache (`mod.rs:340-357`). */
  def table(key: String): DataFrame =
    cached.getOrElse(key, spark.read.schema(dataSchema(entry(key).dim))
      .parquet(dataDir(entry(key))))

  def cacheTable(key: String): Unit = {
    val df = table(key).cache()
    catalogLock.synchronized { cached += key -> df }
  }

  def getCachedTables: Seq[String] = cached.keys.toSeq.sorted
  def containsCached(key: String): Boolean = cached.contains(key)
  def removeCachedTable(key: String): Unit = invalidateCache(key)

  // --------------------------------------------------------------- writes

  private def invalidateCache(key: String): Unit = {
    val old = catalogLock.synchronized {
      val o = cached.get(key); cached -= key; o
    }
    old.foreach(_.unpersist())
  }

  def add(key: String, vec: Array[Float], meta: Map[String, String] = Map.empty): Unit =
    batchAdd(key, Seq(vec), Seq(meta))

  /** Append rows; clears PQ, keeps HNSW (`metadata_vec_table.rs:64-81`).
    *
    * The id range is RESERVED in the brief before any data lands: a crash
    * after the brief write leaves an id gap (harmless); the reverse order
    * would leave committed rows with a stale `nextId`, so the next add
    * would reuse ids and break the unique-id invariant the searches and
    * meta joins rely on. */
  def batchAdd(key: String, vecs: Seq[Array[Float]],
      metas: Seq[Map[String, String]]): Unit = {
    require(vecs.length == metas.length, "vec/meta length mismatch")
    val e0 = entry(key)
    vecs.foreach(v => require(v.length == e0.dim,
      s"Dimension mismatch: got ${v.length}, expected ${e0.dim}"))
    tableLock(key).synchronized {
      // appends invalidate every code sidecar (PQ's reference rule,
      // metadata_vec_table.rs:64-81, applied to the whole quantized family:
      // SQ/BQ codes and models are corpus-derived and go stale the same way)
      clearPqTable(key)
      clearSqIndex(key)
      clearBqIndex(key)
      val (e, start) = catalogLock.synchronized {
        val healed = healMissingSidecars(key)
        val s = healed.nextId
        tables += key -> healed.copy(nextId = s + vecs.length,
          rows = liveRows(healed) + vecs.length)
        saveBrief()
        (healed, s)
      }
      val rows = vecs.zip(metas).zipWithIndex.map { case ((v, m), i) =>
        Row(start + i, v.toSeq, m)
      }
      val slices = math.max(1, rows.length / 10000)
      val appended = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, slices), dataSchema(e.dim))
      val dPath = Paths.get(dataDir(e))
      val before = listPartFiles(dPath)
      appended.write.mode("append").parquet(dataDir(e))
      val written = listPartFiles(dPath) -- before
      if (vecs.nonEmpty) appendIndexSidecars(key, e, appended, vecs.length,
        Some((vecs.iterator.zipWithIndex.map { case (v, i) => (start + i, v) }
          .toIndexedSeq, slices)))
      invalidateCache(key)
      // close the mutation window (ADVICE r20): nextId is published at
      // reservation time, so a lock-free search racing this append could
      // cache a mid-append listing (or compactHnsw's pre-swap directory)
      // under the FINAL stamp; bumping the generation at completion means
      // stamps published during the window cannot outlive it
      invalidateSidecars(e.filename, append = true)
      // the appended rows' meta is on the driver already: hand it to the
      // attach's part-file cache so the next search loads none of it
      if (vecs.nonEmpty && written.size == 1) {
        val part = MetaPart(metas.iterator.zipWithIndex.map { case (m, i) =>
          if (m == null) (start + i, null, null)
          else (start + i, m.keys.toSeq, m.values.toSeq)
        }.toSeq)
        sidecarCached.put(metaKey(e, written.head), part, part.bytes)
      }
    }
  }

  /** Append a DataFrame of `(vec[, meta])` rows WITHOUT materializing them
    * on the driver — the 100 TB ingest shape ([[batchAdd]] parallelizes a
    * driver-held Seq, so its input is bounded by driver memory). Contract
    * matches [[batchAdd]] exactly: columnar dimension check, contiguous id
    * range reserved in the brief BEFORE any data lands, PQ sidecar cleared,
    * HNSW kept fresh via an appended subgraph, IVF rows assigned to their
    * nearest centroid. Returns the number of rows appended.
    *
    * A `meta` column is optional (null metadata when absent); any other
    * extra columns are ignored. */
  def addDataFrame(key: String, df: DataFrame): Long = {
    val dim0 = entry(key).dim
    val metaT = MapType(StringType, StringType)
    // persisted BEFORE the count so the dim check, the count, and the id
    // assignment below all observe the same materialized rows — a
    // non-deterministic input (sample, unordered limit, shuffle under task
    // retry) re-evaluated per action could otherwise produce more rows than
    // the reserved id range, colliding with the next add's ids
    val src = (if (df.columns.contains("meta"))
        df.select(col("vec"), col("meta").cast(metaT))
      else df.select(col("vec"), lit(null).cast(metaT).as("meta")))
      .select(col("vec").cast(ArrayType(FloatType)).as("vec"), col("meta"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one columnar pass answers the row count and the full data-schema
      // check (null array / wrong length / null element — per-element cast
      // failures surface as null elements, not a null array)
      val badCond = col("vec").isNull.or(size(col("vec")) =!= dim0)
        .or(exists(col("vec"), _.isNull))
      val stats = src.agg(count(lit(1)),
        sum(when(badCond, 1L).otherwise(0L))).head()
      val n = stats.getLong(0)
      val bad = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      require(bad == 0L,
        s"Dimension mismatch: $bad rows are not $dim0-dimensional vectors")
      if (n == 0L) return 0L
      tableLock(key).synchronized {
        clearPqTable(key)
        clearSqIndex(key)
        clearBqIndex(key)
        val (e, start) = catalogLock.synchronized {
          val healed = healMissingSidecars(key)
          val s = healed.nextId
          tables += key -> healed.copy(nextId = s + n,
            rows = liveRows(healed) + n)
          saveBrief()
          (healed, s)
        }
        // contiguous ids from the reserved range via zipWithIndex over the
        // PERSISTED rows (deterministic; ordering = the source's partition
        // order, same determinism class as the reference's insertion order).
        // The persist MITIGATES, not guarantees, re-evaluation drift: cached
        // blocks lost to executor failure recompute from lineage, so a
        // non-deterministic source could still land a different row set —
        // the post-write verification below turns that into a detected,
        // ROLLED-BACK failure instead of silent id collisions on later adds
        val withId = spark.createDataFrame(
          src.rdd.zipWithIndex.map { case (r, i) => Row(start + i, r.get(0), r.get(1)) },
          dataSchema(dim0))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // verify against ONLY the part files this append commits (set
          // difference of the directory listing — the table lock excludes
          // other writers): a metadata-only parquet count, not the full-dir
          // listing + scan a filter(id >= start) over the whole table costs
          val dPath = Paths.get(dataDir(e))
          val before = listPartFiles(dPath)
          withId.write.mode("append").parquet(dataDir(e))
          val newFiles = (listPartFiles(dPath) -- before).toSeq.sorted
            .map(dPath.resolve(_).toString)
          val landed =
            if (newFiles.isEmpty) 0L
            else spark.read.schema(dataSchema(dim0))
              .parquet(newFiles: _*).count()
          if (landed != n) {
            // roll back: the appended part files hold exactly this add's
            // rows, so deleting them restores the pre-add data state; then
            // heal the id reservation so the range isn't left as a gap
            newFiles.foreach(f => Files.deleteIfExists(Paths.get(f)))
            catalogLock.synchronized {
              val cur = entry(key)
              if (cur.nextId == start + n) {
                tables += key -> cur.copy(nextId = start,
                  rows = math.max(0L, liveRows(cur) - n))
                saveBrief()
              }
            }
            throw new IllegalStateException(
              s"addDataFrame: source re-evaluated non-deterministically " +
              s"($landed rows landed for a reserved range of $n); rolled back")
          }
          appendIndexSidecars(key, e, withId, n, None)
        } finally {
          withId.unpersist()
          // on success the cached handle is stale (missing the new rows);
          // on the rollback path dropping it is harmless — either way the
          // next reader must re-open the data directory
          invalidateCache(key)
          // close the mutation window (ADVICE r20) — see batchAdd
          invalidateSidecars(e.filename, append = true)
        }
      }
      n
    } finally src.unpersist()
  }

  /** Data part files of a table version directory (excludes `_SUCCESS` and
    * other metadata/hidden files Spark commits alongside). */
  private def listPartFiles(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try {
        val b = Set.newBuilder[String]
        s.forEach { p =>
          val n = p.getFileName.toString
          if (!n.startsWith("_") && !n.startsWith(".")) b += n
        }
        b.result()
      } finally s.close()
    }

  /** Cluster count of a routed table's routing sidecar — the pid floor
    * separating cluster subgraphs (walked only when probed) from delta
    * subgraphs (always walked). 0 when the table is unrouted or the sidecar
    * is missing (degraded ⇒ every subgraph is "delta", i.e. always walked —
    * matching the unrouted union the search path degrades to). Served from
    * the build-fixed cache: appends and compactions read no parquet for it. */
  private def routedClusterCount(e: TableEntry): Int =
    if (!e.hnswRouted || !Files.exists(routeDir(e).resolve("centroids"))) 0
    else cachedRouteModel(e).centroids.length

  /** Index-sidecar upkeep shared by [[batchAdd]] and [[addDataFrame]] for
    * the `n` rows of `appended`:
    *
    *  - HNSW: a fresh subgraph over just the new rows keeps searches
    *    complete without touching the stored graphs (subgraph union — the
    *    distributed analog of `HNSWIndex::add`). N small adds would accrete
    *    N tiny subgraphs and serving cost grows with the subgraph count, so
    *    compact past [[MaxSubgraphs]]. The subgraph count comes from the
    *    table's pid book ([[pidBook]]) plus what this append wrote: one job
    *    writes the sidecar part and none scans or counts. `local` holds the
    *    rows when they are on the driver ([[batchAdd]]), with the slice
    *    count of their data write: the delta is built there
    *    ([[Hnsw.buildLocal]], the same graphs the distributed build makes)
    *    and written from a local relation. On a table the resident walk
    *    serves (under the gate, unrouted), the new subgraphs then go to
    *    its state ([[Hnsw.publishResident]]), so the next search reads
    *    nothing; a compaction skips that and the next search reloads.
    *  - Routed HNSW: delta pids must land AT OR ABOVE the routing floor
    *    (the cluster count), not just above max(pid): k-means clusters can
    *    be empty (duplicate centroids tie-break to the lowest id, skew), so
    *    max(pid)+1 alone could collide with an empty CLUSTER id — the delta
    *    would then be walked only when that cluster happened to be probed,
    *    silently dropping the new rows from partial-probe results. The
    *    subgraph-count bookkeeping counts only delta pids (≥ floor): the
    *    cluster subgraphs are the routed layout, not append fragmentation.
    *  - IVF: centroids are fixed after build; new rows are assigned to
    *    their nearest centroid (model from the sidecar cache, centroid
    *    broadcast released after the write) and appended into the
    *    partitioned layout.
    */
  private def appendIndexSidecars(key: String, e: TableEntry, appended: DataFrame,
      n: Long, local: Option[(IndexedSeq[(Long, Array[Float])], Int)]): Unit =
    tableLock(key).synchronized {
    if (e.hasHnsw) {
      val floor = routedClusterCount(e)
      val book = pidBook(e, floor)
      val first = math.max(book.next, floor)
      val dir = hnswDir(e)
      val before = listPartFiles(dir)
      val localDelta = local.map { case (rows, nSlices) =>
        Hnsw.buildLocal(rows, nSlices, e.dist, efConstruction = e.efConstruction)
          .map(_.map(r => r.copy(_1 = r._1 + first))).toSeq
      }
      val (newPids, next) = localDelta match {
        case Some(subgraphs) =>
          import spark.implicits._
          subgraphs.flatten.toDF(Hnsw.indexSchema.fieldNames.toIndexedSeq: _*)
            .coalesce(1).write.mode("append").parquet(dir.toString)
          (subgraphs.size, first + subgraphs.size)
        case None =>
          val built = spark.sparkContext.collectionAccumulator[Int]
          Hnsw.buildCounting(appended, built, e.dist, efConstruction = e.efConstruction)
            .withColumn("pid", col("pid") + lit(first))
            .write.mode("append").parquet(dir.toString)
          val pids = built.value.asScala
          (pids.size, first + pids.max + 1)
      }
      val grown = VecDB.PidBook(next, book.deltaPids + newPids, book.deltaRows + n)
      putPidBook(e, grown)
      // same size-scaled ceiling as compactHnsw's own guard, so appends
      // to a large table don't pay a no-op compaction scan every time
      val compacted = grown.deltaPids > deltaPidCeiling(floor, grown.deltaRows) &&
        compactHnsw(key)
      if (!compacted && !e.hnswRouted && hnswEligible(e.nextId + n, e.dim))
        localDelta.foreach(Hnsw.publishResident(hnswBroadcastKey(e), before,
          listPartFiles(dir) -- before, _, e.dist, efConstruction = e.efConstruction))
      // the pinned/routed arms' key rotated with nextId: drop exactly the
      // superseded key's pinned RDD, graphs and codes (a prefix-wide
      // invalidateCaches would also drop the broadcast arm's state, which
      // the new subgraph only extends)
      Hnsw.evictKey(hnswKey(e))
    }
    if (e.ivf.isDefined) {
      val dataPath = ivfDir(e).resolve("data").toString
      Ivf.withAssigned(appended.select(col("id"), col("vec")),
          cachedIvfModel(e)) { assigned =>
        // appends must match the existing layout's vector encoding (pre-r20
        // sidecars store array<float> `vec`; r20 builds store f32-binary
        // `vecb`) — a mixed directory would fail the scan's schema merge.
        // The encoding is fixed by the build, so it is probed once per build
        // (ADVICE r20): a bare spark.read.parquet would re-list +
        // footer-read the kc-wide partitioned directory on EVERY batchAdd
        // just to test one column
        val binary = buildFixedAs[java.lang.Boolean](s"$dataPath#vecb", e)(
          java.lang.Boolean.valueOf(sidecarDf(dataPath, e).columns.contains("vecb")))
        val out =
          if (binary)
            assigned.select(col("id"),
              graft.functions.VectorFunctions.vecToBinary(col("vec"))
                .as("vecb"), col("cluster"))
          else assigned
        out.write.partitionBy("cluster").mode("append").parquet(dataPath)
      }
    }
  }

  /** Rows per compaction-rebuild task: the merged subgraphs are rebuilt as
    * ceil(rows / this) fresh subgraphs so a large merge set never becomes a
    * single O(N·efC) straggler task. */
  private val CompactRowsPerTask = 500000L

  /** Base subgraph-count ceiling before [[compactHnsw]] merges the smallest
    * deltas; compaction aims for [[TargetSubgraphs]]. The effective ceiling
    * scales with table size (ceil(rows/[[CompactRowsPerTask]]) +
    * [[TargetSubgraphs]]) — see [[compactHnsw]]'s convergence guard. */
  private val MaxSubgraphs = 16
  private val TargetSubgraphs = 8

  /** Delta-subgraph count that triggers [[compactHnsw]] (shared by the
    * append path's pre-check and compactHnsw's own guard so they can never
    * disagree into a scan-but-never-compact loop). ROUTED tables get the
    * tight ceiling ([[TargetSubgraphs]]): every routed query walks every
    * delta pid regardless of its probe list, so a table taking many small
    * appends between compactions would degrade toward the union walk —
    * compacting at > 8 deltas bounds that fan-out at roughly one extra
    * subgraph walk per probe list. UNROUTED tables keep the looser
    * [[MaxSubgraphs]]: their subgraphs are all walked anyway, so
    * fragmentation only adds per-subgraph fixed costs. Both scale with
    * ceil(deltaRows / [[CompactRowsPerTask]]) — the rebuild granularity
    * makes fewer subgraphs than that impossible, and a fixed ceiling would
    * re-trigger a near-full rebuild on every append past that size. */
  private def deltaPidCeiling(floor: Int, deltaRows: Long): Int = {
    val floorSubs = ((deltaRows + CompactRowsPerTask - 1) / CompactRowsPerTask).toInt
    if (floor > 0) math.max(TargetSubgraphs, floorSubs + TargetSubgraphs - 1)
    else math.max(MaxSubgraphs, floorSubs + TargetSubgraphs)
  }

  /** Merge the smallest HNSW DELTA subgraphs into one freshly built graph
    * so repeated small adds cannot degrade serving toward a flat scan. Ids
    * are preserved; only the (pid, local graph) packaging changes —
    * searches union over subgraphs, so results are unaffected (CatalogSpec
    * pins this). For a ROUTED table only pids ≥ the routing floor are
    * compaction candidates: cluster subgraphs ARE the routed layout (one
    * graph per probe-addressable cluster — merging them would turn routed
    * rows into always-walked deltas, a serving regression, and an empty
    * cluster id reused for a merged graph would be silently dropped from
    * partial-probe results). The merged graph's pid lands ≥ the floor for
    * the same reason. Swap order is crash-safe: the old sidecar is renamed
    * aside (not deleted) before the new one moves into place, so no crash
    * window leaves `hasHnsw=true` with no readable hnsw directory — and
    * the read path additionally degrades a missing sidecar to Flat
    * ([[healMissingSidecars]]) rather than throwing. Returns whether it
    * rewrote the sidecar; if so, it also rewrote the pid book. */
  private def compactHnsw(key: String): Boolean = {
    val e = entry(key)
    val dir = hnswDir(e)
    val floor = routedClusterCount(e)
    val sidecar = spark.read.schema(Hnsw.indexSchema).parquet(dir.toString)
    val allCounts = sidecar.groupBy("pid").count().collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val counts = allCounts.filter(_._1 >= floor) // delta subgraphs only
    val totalRows = counts.map(_._2).sum
    if (counts.length <= deltaPidCeiling(floor, totalRows)) return false
    val nMerge = counts.length - TargetSubgraphs + 1
    val picked = counts.sortBy { case (p, c) => (c, p) }.take(nMerge)
    val mergePids = picked.map(_._1).toSet
    val mergeRows = picked.map(_._2).sum
    val newPid = math.max(allCounts.map(_._1).max + 1, floor)
    // rebuild the merge set as ceil(rows/CompactRowsPerTask) parallel tasks
    // (one fresh subgraph each) — after many large appends the merge set can
    // be most of the table, and a single-task rebuild would straggle
    val nTasks = math.max(1L, (mergeRows + CompactRowsPerTask - 1) / CompactRowsPerTask).toInt
    // only compact when it actually reduces the subgraph count
    if (nTasks >= nMerge) return false
    val built = spark.sparkContext.collectionAccumulator[Int]
    val merged = Hnsw.buildCounting(
      sidecar.filter(col("pid").isInCollection(mergePids))
        .select("id", "vec").repartition(nTasks),
      built, e.dist, efConstruction = e.efConstruction)
      .withColumn("pid", col("pid") + lit(newPid))
    val tmp = dir.resolveSibling("hnsw_tmp")
    sidecar.filter(!col("pid").isInCollection(mergePids))
      .unionByName(merged)
      .write.mode("overwrite").parquet(tmp.toString)
    val old = dir.resolveSibling("hnsw_old")
    deleteRecursively(old) // leftover from a prior crash
    // a crash from here on leaves no book: the next append scans
    sidecarCached.removeIf(_.startsWith(pidBookPath(e) + "@"))
    Files.move(dir, old)
    Files.move(tmp, dir)
    deleteRecursively(old)
    // the book from the counts above and the pids the merge wrote
    val kept = allCounts.filter(c => !mergePids(c._1))
    val mergedPids = built.value.asScala.map(_ + newPid).distinct
    val keptDelta = kept.filter(_._1 >= floor)
    putPidBook(e, VecDB.PidBook((kept.map(_._1) ++ mergedPids).max + 1,
      keptDelta.length + mergedPids.size, keptDelta.map(_._2).sum + mergeRows))
    true
  }

  /** The table's pid book ([[VecDB.PidBook]]) over delta pids ≥ `floor`:
    * from the sidecar cache under the build-fixed stamp, which appends
    * keep and builds, clears and deletes purge; on a miss (a fresh open,
    * a purge, budget eviction) one scan of the sidecar's pid column fills
    * it. Appends and compaction replace it under the table lock. */
  private def pidBook(e: TableEntry, floor: Int): VecDB.PidBook =
    cachedUnder(pidBookPath(e), fixedStamp(e))(scanPidBook(e, floor))
  private def putPidBook(e: TableEntry, book: VecDB.PidBook): Unit =
    sidecarCached.put(s"${pidBookPath(e)}@${fixedStamp(e)}", book, 64L)
  private def pidBookPath(e: TableEntry): String = s"${hnswDir(e)}#pids"
  private def scanPidBook(e: TableEntry, floor: Int): VecDB.PidBook = {
    val isDelta = col("pid") >= lit(floor)
    val r = spark.read.schema(Hnsw.indexSchema).parquet(hnswDir(e).toString)
      .agg(coalesce(max(col("pid")) + 1, lit(0)),
        count_distinct(when(isDelta, col("pid"))), count(when(isDelta, 1))).head()
    VecDB.PidBook(r.getInt(0), r.getLong(1), r.getLong(2))
  }
  /** The pid book a table's next append reads; spec observability. */
  private[graft] def pidBookOf(key: String): VecDB.PidBook = {
    val e = entry(key)
    pidBook(e, routedClusterCount(e))
  }

  /** Crash-window recovery for [[compactHnsw]]'s two-move swap: if `hnsw`
    * is missing but the renamed-aside `hnsw_old` survives, restore it (a
    * fully intact pre-compaction graph) instead of degrading to Flat. */
  private def restoreHnswOld(key: String, e: TableEntry): Boolean =
    tableLock(key).synchronized {
      val dir = hnswDir(e)
      if (Files.exists(dir)) true
      else {
        val old = dir.resolveSibling("hnsw_old")
        val restored = Files.exists(old) && { Files.move(old, dir); true }
        deleteRecursively(dir.resolveSibling("hnsw_tmp"))
        restored
      }
    }

  /** All-sidecars-present fast check for the lock-free search path. */
  private def sidecarsIntact(e: TableEntry): Boolean =
    (!e.hasHnsw || Files.exists(hnswDir(e))) &&
      (!e.hnswRouted || Files.exists(routeDir(e))) &&
      (e.pq.isEmpty || Files.exists(pqDir(e))) &&
      (e.ivf.isEmpty || Files.exists(ivfDir(e))) &&
      (e.sq.isEmpty || Files.exists(sqDir(e))) &&
      (e.bq.isEmpty || Files.exists(bqDir(e)))

  /** Crash resilience for index sidecars: if the catalog says an index
    * exists but its directory is gone, first try to restore the graph from
    * a compaction swap's `hnsw_old` ([[restoreHnswOld]]); only when nothing
    * recoverable remains, flip the flag off and serve degraded (Flat)
    * instead of throwing on every subsequent search/add. MUST be called
    * with the key's tableLock AND `catalogLock` held, in that order (every
    * caller is a locked mutator). */
  private def healMissingSidecars(key: String): TableEntry = {
    // both locks must already be held (class doc: restoreHnswOld's inner
    // tableLock sync is a no-op only under reentrancy — a caller without
    // the tableLock would deadlock against a concurrent mutator)
    assert(Thread.holdsLock(tableLock(key)) && Thread.holdsLock(catalogLock),
      s"healMissingSidecars($key) requires tableLock+catalogLock held")
    var e = entry(key)
    if (e.hasHnsw && !restoreHnswOld(key, e)) {
      e = e.copy(hasHnsw = false, hnswRouted = false)
      tables += key -> e
      saveBrief()
    }
    if (e.hnswRouted && !Files.exists(routeDir(e))) {
      // routing is an optimization over the same subgraphs: losing the
      // centroid sidecar degrades to the unrouted union, never to Flat
      e = e.copy(hnswRouted = false)
      tables += key -> e
      saveBrief()
    }
    if (e.pq.isDefined && !Files.exists(pqDir(e))) {
      e = e.copy(pq = None)
      tables += key -> e
      saveBrief()
    }
    if (e.ivf.isDefined && !Files.exists(ivfDir(e))) {
      e = e.copy(ivf = None)
      tables += key -> e
      saveBrief()
    }
    if (e.sq.isDefined &&
        (!Files.exists(sqDir(e)) ||
          (e.sq.get.routed && e.ivf.isEmpty))) {
      // a routed SQ sidecar cannot serve without its IVF centroids
      e = e.copy(sq = None)
      tables += key -> e
      saveBrief()
    }
    if (e.bq.isDefined &&
        (!Files.exists(bqDir(e)) ||
          (e.bq.get.routed && e.ivf.isEmpty))) {
      // a routed BQ sidecar cannot serve without its IVF centroids
      e = e.copy(bq = None)
      tables += key -> e
      saveBrief()
    }
    e
  }

  /** P2 — delete-by-pattern: filtered rewrite to a fresh version dir, then
    * flip the catalog pointer; clears HNSW and PQ
    * (`metadata_vec_table.rs:163-187`). Returns the number removed. */
  def delete(key: String, pattern: Map[String, String]): Long =
    tableLock(key).synchronized {
      // under the table lock: a concurrent append would otherwise land
      // parquet files into the old version dir AFTER the survivor rewrite
      // read it — silently dropped rows with nextId still advanced
      val e = entry(key)
      clearHnswIndex(key)
      clearPqTable(key)
      clearIvfIndex(key)
      clearSqIndex(key)
      clearBqIndex(key)
      val df = table(key)
      val matchCond = Search.metaPattern(pattern, col("meta"))
      val removed = df.filter(matchCond).count()
      if (removed > 0) {
        df.filter(!matchCond).write.mode("overwrite")
          .parquet(dataDir(e.copy(version = e.version + 1)))
        catalogLock.synchronized {
          val cur = entry(key)
          tables += key -> cur.copy(version = e.version + 1,
            rows = math.max(0L, liveRows(cur) - removed))
          saveBrief()
        }
        invalidateCache(key)
        deleteRecursively(Paths.get(dataDir(e)))
      }
      removed
    }

  // --------------------------------------------------------------- indexes

  /** S5/B6 — materialize the partitioned-subgraph HNSW sidecar (node
    * vectors + levels + adjacency as Parquet, [[Hnsw.buildIndex]]); later
    * searches reload the graphs instead of re-inserting every row
    * (`IndexSerde::save`, `/root/reference/src/index_algorithm/mod.rs:120-141`).
    * `add` keeps the index fresh by appending a subgraph over the new rows
    * (the reference's incremental-insert contract: a search after add sees
    * the row). Idempotent skip.
    *
    * Tables past the broadcast gate auto-build the ROUTED layout
    * ([[buildIvfHnswIndex]]) instead: beyond the gate every search runs
    * the beyond-broadcast arm, where the unrouted subgraph union walks
    * EVERY subgraph per query (measured 3.6× behind the routed arm at
    * 1M×960) while the routed layout walks `defaultNProbes`. The unrouted
    * union at that scale is an explicit opt-out (`forceUnrouted = true`,
    * for e.g. adversarial recall studies where routing loss is the
    * subject); within the gate nothing changes — the broadcast walk never
    * consults the route sidecar. */
  def buildHnswIndex(key: String, efConstruction: Option[Int] = None,
      forceUnrouted: Boolean = false): Unit =
    tableLock(key).synchronized {
      // build + flag-set under the table lock: an append racing the build
      // would otherwise yield hasHnsw=true with an index missing its rows
      val e = entry(key)
      if (!e.hasHnsw) {
        val rows = table(key).count()
        if (!forceUnrouted &&
            VecDB.hnswBroadcastBytes(rows, e.dim) > gateBytes) {
          val kc = VecDB.autoRouteClusters(rows)
          // probe default must scale with the auto-chosen cluster count: a
          // flat 4 probes covers 4/kc of the data, which at kc in the
          // thousands is a silent recall cliff vs the exhaustive union this
          // path replaces. √kc (floored at the flat default) is the
          // standard IVF operating rule — coverage shrinks as 1/√kc while
          // per-probe work shrinks as 1/kc, and callers still override
          // per-search with `nProbes`.
          val np = math.max(4, math.round(math.sqrt(kc.toDouble)).toInt)
          logWarning(s"buildHnswIndex('$key'): table (~$rows rows × d${e.dim}) " +
            s"exceeds the broadcast gate ($gateBytes B); building the IVF-routed " +
            s"layout (kClusters=$kc, defaultNProbes=$np) instead — the unrouted " +
            "subgraph union walks every subgraph per query at this scale. Pass " +
            "forceUnrouted=true to opt out.")
          buildIvfHnswIndex(key, kClusters = kc, defaultNProbes = np,
            efConstruction = efConstruction)
        } else {
          val efc = efConstruction.getOrElse(200)
          Hnsw.buildIndex(table(key), e.dist, efConstruction = efc)
            .write.mode("overwrite").parquet(hnswDir(e).toString)
          invalidateSidecars(e.filename) // new sidecar ⇒ new listing generation
          catalogLock.synchronized {
            tables += key -> entry(key).copy(hasHnsw = true, efConstruction = efc)
            saveBrief()
          }
        }
      }
    }

  /** Build the IVF-ROUTED HNSW sidecar (our scale extension —
    * [[graft.operators.IvfHnsw]]): subgraphs are k-means clusters, a
    * centroid sidecar routes each beyond-broadcast query to its
    * `defaultNProbes` nearest clusters instead of walking every subgraph.
    * Serves through the same dispatch as a plain HNSW index (the routed
    * arm engages past the broadcast gate); within the gate the broadcast
    * walk is used unchanged. Idempotent skip when any HNSW sidecar exists.
    * Size `kClusters` for ≲500k rows per cluster at the target scale. */
  def buildIvfHnswIndex(key: String, kClusters: Int = 256,
      defaultNProbes: Int = 4, efConstruction: Option[Int] = None,
      trainProportion: Option[Double] = None): Unit =
    tableLock(key).synchronized {
      val e = entry(key)
      if (!e.hasHnsw) {
        val efc = efConstruction.getOrElse(200)
        val (model, idx) = graft.operators.IvfHnsw.buildIndex(
          table(key).select(col("id"), col("vec")), kClusters, e.dist,
          efConstruction = efc, trainFraction = trainProportion,
          defaultNProbes = defaultNProbes)
        idx.write.mode("overwrite").parquet(hnswDir(e).toString)
        Ivf.centroidsDf(spark, model).write.mode("overwrite")
          .parquet(routeDir(e).resolve("centroids").toString)
        // rebuilds with different kClusters on unchanged data keep the same
        // (created, version, nextId) — the generation bump is what rotates
        // the cached route model + hnsw listing (ADVICE r20)
        invalidateSidecars(e.filename)
        catalogLock.synchronized {
          tables += key -> entry(key).copy(hasHnsw = true,
            efConstruction = efc, hnswRouted = true,
            routeProbes = defaultNProbes)
          saveBrief()
        }
      }
    }

  def clearHnswIndex(key: String): Unit = tableLock(key).synchronized {
    val cleared = catalogLock.synchronized {
      val e = entry(key)
      if (e.hasHnsw) {
        tables += key -> e.copy(hasHnsw = false, hnswRouted = false)
        saveBrief()
        Some(e)
      } else None
    }
    cleared.foreach { e =>
      Hnsw.invalidateCaches(hnswDir(e).toString)
      // purge the cached hnsw-dir listing + route model: a clear+rebuild on
      // unchanged data leaves (created, version, nextId) identical, so
      // without a generation bump the stale pre-clear file index (deleted
      // part files) and routing centroids would keep serving (ADVICE r20)
      invalidateSidecars(e.filename)
      deleteRecursively(hnswDir(e))
      deleteRecursively(routeDir(e))
    }
  }

  def hasHnswIndex(key: String): Boolean = entry(key).hasHnsw

  /** Expose a table to SQL with the top-k rewrite armed (SURVEY §7.3):
    * creates/replaces a temp view and registers it with
    * [[graft.plans.GraftSqlTopK]], so `ORDER BY vec_l2sq(vec, lit) LIMIT k`
    * over the view dispatches through [[searchBatch]]'s index arms instead
    * of a full-table sort. Re-call after any append or delete: the view
    * pins the data files it was created with, and the rewrite declines
    * over a view older than its table. */
  def registerSql(key: String, viewName: Option[String] = None): Unit = {
    val name = viewName.getOrElse(key)
    table(key).createOrReplaceTempView(name)
    graft.functions.VectorFunctions.register(spark)
    graft.plans.GraftSqlTopK.enable(spark)
    graft.plans.GraftSqlTopK.registerTable(name, this, key)
  }

  /** Build the PQ sidecar (codes + centroids parquet). Validations per
    * `metadata_vec_table.rs:112-152`; honors n_bits (see class doc).
    * This is also the S6 shape — index persisted WITHOUT the vector
    * payload (`IndexSerdeExternalVecSet::save_without_vec_set`,
    * `/root/reference/src/index_algorithm/mod.rs:143-148`): the sidecar
    * holds only codes + centroids and is joined back to the table's
    * vectors at re-rank time. */
  def buildPqTable(key: String, trainProportion: Option[Double] = None,
      nBits: Option[Int] = None, m: Option[Int] = None,
      residual: Boolean = false): Unit = tableLock(key).synchronized {
    val e = entry(key)
    if (e.pq.isDefined) return
    val df = table(key)
    if (df.isEmpty) throw new IllegalArgumentException(
      "Cannot build PQ table for an empty table")
    if (residual && !e.hnswRouted) throw new IllegalArgumentException(
      "residual PQ requires a routed index sidecar (buildIvfHnswIndex)")
    if (residual && e.dist == "cosine") throw new IllegalArgumentException(
      "residual PQ is an L2 shift identity; cosine tables train plain")
    val proportion = trainProportion.getOrElse(0.1)
    if (proportion <= 0.0 || proportion >= 1.0)
      throw new IllegalArgumentException("Train proportion must be in (0, 1)")
    val nb = nBits.getOrElse(4)
    if (nb != 4 && nb != 8)
      throw new IllegalArgumentException("n_bits must be 4 or 8")
    val mm = m.getOrElse((e.dim + 2) / 3)
    if (mm == 0 || mm > e.dim)
      throw new IllegalArgumentException("m must be in 1..=dim")
    val model =
      if (residual) IvfHnsw.trainResidualPq(df, loadRouteModel(e), mm, nb,
        trainFraction = Some(proportion))
      else Pq.train(df, mm, nb, e.dist, trainFraction = Some(proportion))
    // sidecars: codes (id, code) + centroids (grp, cid, centroid). A
    // residual model writes NO codes sidecar: flat codes are scored
    // cluster-blind, which a residual encoding can never be — the routed
    // walk builds its per-cluster codes from the pinned graphs instead
    // (Hnsw.codeMatricesFor).
    if (!residual)
      Pq.encode(df, model).select("id", "code")
        .write.mode("overwrite").parquet(pqDir(e).resolve("codes").toString)
    import spark.implicits._
    model.centroids.zipWithIndex.flatMap { case (cs, g) =>
      cs.zipWithIndex.map { case (c, ci) => (g, ci, c.toSeq) }
    }.toSeq.toDF("grp", "cid", "centroid")
      .write.mode("overwrite").parquet(pqDir(e).resolve("centroids").toString)
    catalogLock.synchronized {
      tables += key -> entry(key).copy(pq = Some(PqInfo(mm, nb, residual)))
      saveBrief()
    }
  }

  /** Build the cluster-partitioned IVF layout (our scale extension; the
    * reference DB layer is Flat/HNSW only — see [[IvfInfo]]). Train +
    * assign + `partitionBy("cluster")` write + centroid sidecar; probe
    * searches through the catalog prune to the probed clusters'
    * directories. Idempotent skip. */
  def buildIvfIndex(key: String, k: Int = 256, defaultNProbes: Int = 4,
      trainProportion: Option[Double] = None): Unit = tableLock(key).synchronized {
    val e = entry(key)
    if (e.ivf.isDefined) return
    val df = table(key)
    if (df.isEmpty) throw new IllegalArgumentException(
      "Cannot build IVF index for an empty table")
    val base = df.select(col("id"), col("vec"))
    val model = Ivf.train(base, k, e.dist, trainFraction = trainProportion)
    // binary f32 layout (r20): the rerank/scan decodes one blob per row
    // instead of per-element array assembly — the measured bound of the
    // float-heavy rerank rows (VERDICT r19 #2); bit-identical distances.
    // The write assigns through a centroid broadcast released after it.
    Ivf.withAssigned(base, model)(
      Ivf.writePartitioned(_, model, ivfDir(e).toString, binary = true))
    invalidateSidecars(e.filename)
    catalogLock.synchronized {
      tables += key -> entry(key).copy(ivf = Some(IvfInfo(k, defaultNProbes)))
      saveBrief()
    }
  }

  def clearIvfIndex(key: String): Unit = tableLock(key).synchronized {
    // a ROUTED SQ/BQ sidecar's probe lists live in the IVF centroids — it
    // cannot serve without them, so it goes with the IVF index
    if (entry(key).sq.exists(_.routed)) clearSqIndex(key)
    if (entry(key).bq.exists(_.routed)) clearBqIndex(key)
    val cleared = catalogLock.synchronized {
      val e = entry(key)
      if (e.ivf.isDefined) {
        tables += key -> e.copy(ivf = None)
        saveBrief()
        Some(e)
      } else None
    }
    cleared.foreach { e =>
      invalidateSidecars(e.filename)
      deleteRecursively(ivfDir(e))
    }
  }

  def hasIvfIndex(key: String): Boolean = entry(key).ivf.isDefined

  /** Build the SQ8 sidecar: exact per-dim (min, scale) model + byte codes,
    * 1/4 the float scan traffic with exact re-rank on the survivors (the
    * quantized-serving spectrum's 8-bit point as a catalog citizen — the
    * reference's PQ analog, `metadata_vec_table.rs:112-152`). On a table
    * with an IVF index the codes are written CLUSTER-PARTITIONED under the
    * IVF routing (`sq/ivf/data/cluster=N/`) so catalog searches serve the
    * IVFSQ byte-prune — probes become parquet partition filters and a
    * batch reads (np/kc) × corpus/4 bytes; otherwise a flat codes sidecar
    * (`sq/codes`) serves the coarse+rerank scan. Cleared on add/delete
    * like PQ (`metadata_vec_table.rs:64-81,163-187`). Idempotent skip. */
  def buildSqIndex(key: String): Unit = tableLock(key).synchronized {
    val e = entry(key)
    if (e.sq.isDefined) return
    val df = table(key)
    if (df.isEmpty) throw new IllegalArgumentException(
      "Cannot build SQ index for an empty table")
    val model = Sq.train(df)
    val routed = e.ivf.isDefined
    if (routed) {
      writeRouted(e, df, sqDir(e), Sq.writeIvfPartitioned)(
        Sq.encode(_, model).select(col("id"), col("sq"), col("cluster")))
    } else {
      Sq.encode(df, model).select("id", "sq")
        .write.mode("overwrite").parquet(sqDir(e).resolve("codes").toString)
    }
    import spark.implicits._
    Seq((model.mins.toSeq, model.scales.toSeq)).toDF("mins", "scales")
      .write.mode("overwrite").parquet(sqDir(e).resolve("model").toString)
    invalidateSidecars(e.filename)
    catalogLock.synchronized {
      tables += key -> entry(key).copy(sq = Some(SqInfo(routed)))
      saveBrief()
    }
  }

  def clearSqIndex(key: String): Unit = tableLock(key).synchronized {
    val cleared = catalogLock.synchronized {
      val e = entry(key)
      if (e.sq.isDefined) {
        tables += key -> e.copy(sq = None)
        saveBrief()
        Some(e)
      } else None
    }
    cleared.foreach { e =>
      invalidateSidecars(e.filename)
      deleteRecursively(sqDir(e))
    }
  }

  def hasSqIndex(key: String): Boolean = entry(key).sq.isDefined

  /** Build the BQ sidecar: per-dim mean thresholds
    * ([[graft.operators.Bq.train]]) + packed threshold bits — 1/32 the
    * float scan traffic for the Hamming coarse pass, exact re-rank on a
    * corpus-scaled candidate set ([[graft.operators.CoarseMerge.autoCandidates]]).
    * `centered = false` packs raw sign bits (the SQL-function convention;
    * near-uninformative on uncentered corpora — see Bq.BqModel). On a
    * table with an IVF index the packed words are written
    * CLUSTER-PARTITIONED under the IVF routing (`bq/ivf/data/cluster=N/`)
    * so catalog searches serve the IVF-BQ bit-prune — probes become
    * parquet partition filters and a batch reads (np/kc) × corpus/32
    * bytes, the same composition [[buildSqIndex]] ships for byte codes;
    * otherwise a flat packed sidecar (`bq/packed`) serves the
    * coarse+rerank scan. Cleared on add/delete like PQ. Idempotent skip. */
  def buildBqIndex(key: String, centered: Boolean = true): Unit =
    tableLock(key).synchronized {
      val e = entry(key)
      if (e.bq.isDefined) return
      val df = table(key)
      if (df.isEmpty) throw new IllegalArgumentException(
        "Cannot build BQ index for an empty table")
      val model = if (centered) Some(Bq.train(df)) else None
      def packed(d: DataFrame) =
        model.fold(Bq.encode(d))(m => Bq.encodeCentered(d, m))
      val routed = e.ivf.isDefined
      if (routed) {
        writeRouted(e, df, bqDir(e), Bq.writeIvfPartitioned)(
          packed(_).select(col("id"), col("bq"), col("cluster")))
      } else {
        packed(df).select("id", "bq")
          .write.mode("overwrite").parquet(bqDir(e).resolve("packed").toString)
      }
      import spark.implicits._
      Seq(model.fold(Seq.empty[Double])(_.thresholds.toSeq)).toDF("thresholds")
        .write.mode("overwrite").parquet(bqDir(e).resolve("model").toString)
      invalidateSidecars(e.filename)
      catalogLock.synchronized {
        tables += key -> entry(key).copy(bq = Some(BqInfo(centered, routed)))
        saveBrief()
      }
    }

  def clearBqIndex(key: String): Unit = tableLock(key).synchronized {
    val cleared = catalogLock.synchronized {
      val e = entry(key)
      if (e.bq.isDefined) {
        tables += key -> e.copy(bq = None)
        saveBrief()
        Some(e)
      } else None
    }
    cleared.foreach { e =>
      invalidateSidecars(e.filename)
      deleteRecursively(bqDir(e))
    }
  }

  def hasBqIndex(key: String): Boolean = entry(key).bq.isDefined

  /** The routed quantized sidecar: `encode`d (id, code, cluster) rows
    * under the table's IVF assignment, written cluster-partitioned by
    * `writePartitioned` under `dir/ivf` plus their flat twin under
    * `dir/flat` (one contiguous parquet, same rows): the coverage-aware
    * dispatch target — when a batch's probe union approaches full
    * coverage, directory pruning is void and the flat copy scans faster
    * than kc directories. Costs one extra code copy; serving reads exactly
    * one of the two. Both writes share one centroid broadcast, released
    * after them. */
  private def writeRouted(e: TableEntry, df: DataFrame, dir: Path,
      writePartitioned: (DataFrame, String) => Unit)(
      encode: DataFrame => DataFrame): Unit = {
    val ivfModel = Ivf.readModel(spark, ivfDir(e).toString, e.dist,
      e.ivf.get.defaultNProbes)
    Ivf.withAssigned(df.select(col("id"), col("vec")), ivfModel) { assigned =>
      val codes = encode(assigned)
      writePartitioned(codes, dir.resolve("ivf").toString)
      codes.write.mode("overwrite").parquet(dir.resolve("flat").toString)
    }
  }

  private def loadSqModel(e: TableEntry): Sq.SqModel = {
    val r = spark.read.parquet(sqDir(e).resolve("model").toString).head()
    Sq.SqModel(r.getSeq[Double](r.fieldIndex("mins")).toArray,
      r.getSeq[Double](r.fieldIndex("scales")).toArray)
  }

  private def loadBqModel(e: TableEntry): Option[Bq.BqModel] = {
    val thr = spark.read.parquet(bqDir(e).resolve("model").toString)
      .head().getSeq[Double](0)
    if (thr.isEmpty) None else Some(Bq.BqModel(thr.toArray))
  }

  def clearPqTable(key: String): Unit = tableLock(key).synchronized {
    val cleared = catalogLock.synchronized {
      val e = entry(key)
      if (e.pq.isDefined) {
        tables += key -> e.copy(pq = None)
        saveBrief()
        Some(e)
      } else None
    }
    cleared.foreach { e =>
      invalidateSidecars(e.filename)
      Pq.invalidateCaches(pqDir(e).toString)
      deleteRecursively(pqDir(e))
    }
  }

  def hasPqTable(key: String): Boolean = entry(key).pq.isDefined

  /** Routing model of a routed HNSW sidecar ([[buildIvfHnswIndex]]). */
  private def loadRouteModel(e: TableEntry): graft.operators.IvfModel =
    Ivf.readModel(spark, routeDir(e).toString, e.dist, e.routeProbes)

  /** [[loadRouteModel]] through the build-fixed cache (r20): the routed
    * HNSW arms paid a centroid parquet read + collect per batch; one load
    * per index build is the serving shape, appends included. */
  private def cachedRouteModel(e: TableEntry): graft.operators.IvfModel =
    buildFixedAs[graft.operators.IvfModel](
      routeDir(e).resolve("centroids").toString, e)(loadRouteModel(e))

  private def loadPqModel(key: String): PqModel = {
    val e = entry(key)
    val info = e.pq.get
    val rows = spark.read.parquet(pqDir(e).resolve("centroids").toString)
      .collect().map(r => (r.getAs[Int]("grp"), r.getAs[Int]("cid"),
        r.getAs[Seq[Float]]("centroid").toArray))
    val centroids = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cs) =>
      cs.sortBy(_._2).map(_._3)
    }.toArray
    PqModel(e.dim, info.nBits, e.dist, centroids, residual = info.residual)
  }

  /** [[loadPqModel]] through the sidecar cache — serve paths only (r20):
    * the PQ arms paid a codebook parquet read + collect per batch. */
  private def cachedPqModel(key: String, e: TableEntry): PqModel =
    sidecarCachedAs[PqModel](
      pqDir(e).resolve("centroids").toString, e)(loadPqModel(key))

  // ---------------------------------------------------------------- search

  /** Is the query batch small enough for the serving arms, every one of
    * which starts by collecting the batch to the driver? Decided from
    * Catalyst statistics — zero extra jobs on the common path: an exact
    * row count (local batch, cached+materialized DF, limit plan) gates on
    * [[VecDB.ServeMaxQueries]]; an unknown count gates on the plan's byte
    * estimate vs the broadcast byte budget (a batch too big to sit on the
    * driver reports a correspondingly large sizeInBytes). Catalyst's
    * default size-only estimator never shrinks a Filter, so a small-but-
    * wide or estimate-inflated batch can overshoot: when the estimate is
    * within [[VecDB.GateProbeSlack]]× of the budget, one bounded
    * `limit(gate+1).count()` probe (cost capped at gate+1 rows) decides on
    * the REAL row count instead of silently de-optimizing to the
    * declarative arms. Oversized batches serve through the declarative,
    * driver-unbounded shapes — the batch-similarity-JOIN regime, where
    * per-query serving latency no longer matters but driver memory does.
    * Returns the answer with how it was decided: "rowcount:N",
    * "bytes:EST", or "probe:N" when the bounded count probe adjudicated a
    * borderline estimate (a silent de-optimization foot-gun otherwise). */
  private def queryBatchServeable(queries: DataFrame): (Boolean, String) = {
    val stats = queries.queryExecution.optimizedPlan.stats
    val maxQueries = VecDB.ServeMaxQueries
    stats.rowCount match {
      case Some(n) => (n.toLong <= maxQueries, s"rowcount:$n")
      case None =>
        val est = stats.sizeInBytes
        if (est <= BigInt(gateBytes)) (true, s"bytes:$est")
        else if (est <= BigInt(gateBytes) * VecDB.GateProbeSlack) {
          val gate = math.min(maxQueries, Int.MaxValue - 1L)
          val n = queries.limit(gate.toInt + 1).count()
          (n <= maxQueries, s"probe:$n")
        } else (false, s"bytes:$est")
    }
  }

  /** Batch search with the reference dispatch matrix. Queries DF must have
    * (query_id, query_vec); returns (query_id, id, distance, meta)
    * ascending (distance, id) per query.
    *
    * Serving regime (batch within [[VecDB.ServeMaxQueries]]): the serving arms
    * run and their winners reach the driver before this returns — the
    * HNSW arms under the broadcast gate walk driver-resident graphs and
    * hand their rows over directly, so a warm search of a local query batch
    * runs no Spark job; the other arms are collected. Each winner's meta
    * comes from the driver-side part-file cache
    * ([[attachMeta]], [[metaParts]]), and the result is a local relation,
    * so collecting it launches no Spark job. A `batchAdd` hands its rows'
    * meta to that cache, so the search after it reads none; after an
    * `addDataFrame` a search reads only the appended part files' meta; a
    * table whose packed meta exceeds the sidecar budget reloads the
    * evicted files on a miss. Oversized
    * batches take the declarative driver-unbounded shapes end to end,
    * metadata included (a distributed join against the table). */
  def searchBatch(key: String, queries: DataFrame, k: Int,
      ef: Option[Int] = None, upperBound: Option[Double] = None,
      pattern: Map[String, String] = Map.empty): DataFrame =
    dispatch(key, queries, k, ef, upperBound, pattern).frame

  /** [[searchBatch]] with the choices that produced its frame
    * ([[VecDB.Dispatched]]). */
  private[graft] def dispatch(key: String, queries: DataFrame, k: Int,
      ef: Option[Int] = None, upperBound: Option[Double] = None,
      pattern: Map[String, String] = Map.empty): VecDB.Dispatched = {
    val e = servingEntry(key)
    val ub = upperBound.getOrElse(Double.PositiveInfinity)
    val listing = listingOf(e)
    // only the arms that scan the table read it
    lazy val filtered = cached.getOrElse(key, listing)
      .filter(Search.metaPattern(pattern, col("meta")))
    val (serveable, gate) = queryBatchServeable(queries)
    if (!serveable) {
      val (hits, arm) = (ef, e.pq) match {
        // oversized query batch: driver-unbounded shapes only — no serving
        // arm may collect this batch to the driver
        case (efOpt, pqInfo) if e.hasHnsw && pattern.isEmpty =>
          // INDEXED oversized-batch arm: the HNSW sidecar keeps pruning the
          // scan exactly when the workload is largest. Queries stay a
          // distributed Dataset end to end ([[Hnsw.searchPinnedStream]] —
          // probe-pid explode + pid-exact shuffle + zip against the pinned
          // index); same ADC cost gate as the serving arms.
          val idx = hnswSidecar(e)
          val ck = Some(hnswKey(e))
          val usePq = efOpt.isDefined && pqInfo.isDefined &&
            VecDB.adcWalkEligible(e.dim, pqInfo.get.m, pinned = true)
          val route =
            if (e.hnswRouted) {
              val rm = cachedRouteModel(e)
              Some((rm, rm.defaultNProbes))
            } else None
          (Hnsw.searchPinnedStream(idx, queries, k, efOpt,
            e.dist, efConstruction = e.efConstruction, upperBound = ub,
            cacheKey = ck, pq = if (usePq) Some(cachedPqModel(key, e)) else None,
            route = route),
            if (usePq) "knn_pq_stream"
            else if (efOpt.isDefined && pqInfo.isDefined)
              "knn_pq_stream_gated_plain_hnsw"
            else "hnsw_stream")
        case (Some(efv), Some(info)) if !info.residual =>
          val codes = sidecarDf(pqDir(e).resolve("codes").toString, e)
          (Pq.searchFlat(filtered.join(codes, "id"), cachedPqModel(key, e),
            queries, k, efv, ub), "declarative_pq")
        case _ =>
          // exact distributed KNN (ef is a serving-arm knob; the declarative
          // exact join returns the un-approximated answer)
          (Knn.exactDeclarative(filtered, queries, k, e.dist, upperBound = ub),
            "declarative_exact")
      }
      VecDB.Dispatched(filtered.select(col("id"), col("meta")).join(hits, "id")
        .select(col("query_id"), col("id"), col("distance"), col("meta")),
        arm, gate, None)
    } else {
      val s = serve(key, e, filtered, queries, k, ef, ub, pattern,
        withVecs = false)
      VecDB.Dispatched(attachMeta(e, listing, s.hits.rows), s.arm, gate,
        s.coarse)
    }
  }

  /** The single-query SQL top-k's search ([[graft.plans.GraftSqlTopK]]):
    * [[searchBatch]]'s dispatch for one query vector, no bound, no
    * pattern. The winners' ids always come back. When the arm walked the
    * driver-resident HNSW graphs, the winners also come back as full table
    * rows (id, vec, meta): the vector from the graphs the walk read, the
    * meta from the part-file cache ([[attachMeta]]'s source). The rule
    * answers from those rows without a Spark job. */
  private[graft] def searchTopK(key: String, query: Array[Float], k: Int,
      ef: Option[Int]): VecDB.Winners = {
    val e = servingEntry(key)
    val listing = listingOf(e)
    val queries = spark.createDataFrame(java.util.Arrays.asList(Row(0L, query)),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("query_vec", ArrayType(FloatType, containsNull = false),
          nullable = false))))
    if (!queryBatchServeable(queries)._1) {
      val d = dispatch(key, queries, k, ef)
      return VecDB.Winners(d.frame.select("id").collect().map(_.getLong(0)),
        None, d.arm)
    }
    val s = serve(key, e, cached.getOrElse(key, listing), queries, k, ef,
      Double.PositiveInfinity, Map.empty, withVecs = true)
    val ids = s.hits.rows.map(_._2)
    VecDB.Winners(ids, s.hits.vecs.map { vecs =>
      val parts = metaParts(e, listing)
      ids.indices.map(i => Row(ids(i), vecs(i), metaOf(parts, ids(i)))).toArray
    }, s.arm)
  }

  /** The table's brief for a search: lock-free on the healthy path (a
    * search must not block behind a long-running build/ingest holding the
    * table lock); only when a sidecar is actually missing, heal under
    * tableLock → catalogLock. */
  private def servingEntry(key: String): TableEntry = {
    val snap = entry(key)
    if (sidecarsIntact(snap)) snap
    else tableLock(key).synchronized {
      catalogLock.synchronized(healMissingSidecars(key))
    }
  }

  /** Serve-path table read through the sidecar cache (r20): `table(key)`
    * re-lists the data directory per call; the stamp folds (version,
    * nextId) so any rewrite/append rotates the listing. An explicit
    * cacheTable() still takes priority for the scans; the metadata attach
    * always reads the listing (its part files). */
  private def listingOf(e: TableEntry): DataFrame =
    sidecarCachedAs[DataFrame](dataDir(e), e)(
      spark.read.schema(dataSchema(e.dim)).parquet(dataDir(e)))

  /** The serving regime's dispatch matrix: the arm for (ef, PQ, HNSW, SQ/BQ,
    * IVF, pattern), its winners on the driver and its label. `withVecs`
    * asks the driver-resident HNSW arms for each winner's vector too. */
  private def serve(key: String, e: TableEntry, filtered: => DataFrame,
      queries: DataFrame, k: Int, ef: Option[Int], ub: Double,
      pattern: Map[String, String], withVecs: Boolean): VecDB.Served = {
    // serving-shape broadcast paths for in-memory-sized tables, declarative
    // plans beyond (same results; specs assert equality)
    val small = e.nextId <= FlatBroadcastMaxRows
    (ef, e.pq) match {
      case (Some(efv), Some(info)) if e.hasHnsw && pattern.isEmpty =>
        if (!VecDB.adcWalkEligible(e.dim, info.m,
              pinned = !hnswEligible(e.nextId, e.dim)))
          // cost-gated knn_pq: at this (dim, m) in this serving regime the
          // ADC-scored walk is SLOWER than the plain SIMD walk of the same
          // graph (see [[VecDB.adcWalkEligible]] — the crossover is wider in
          // the RAM-bound pinned regime) — serve the plain HNSW walk, whose
          // exact distances subsume the combined traversal's re-rank. Same
          // output contract, strictly better selection quality.
          hnswSearch(e, queries, k, Some(efv), ub, withVecs)
            .copy(arm = "knn_pq_gated_plain_hnsw")
        else
          // combined traversal (knn_pq, hnsw_index.rs:672-697): ADC-scored
          // graph walk + exact re-rank — sub-linear over the codes, vs the
          // flat arms' O(N) ADC scan per batch
          hnswSearch(e, queries, k, Some(efv), ub, withVecs,
            Some(cachedPqModel(key, e)))
      case (Some(efv), Some(info)) if !info.residual =>
        // the flat ADC arms; a residual quantizer scores only inside the
        // routed walk, so a pattern-filtered search of a residual-PQ table
        // takes the exact filtered scan below
        val model = cachedPqModel(key, e)
        val codes = sidecarDf(pqDir(e).resolve("codes").toString, e)
        val encoded = filtered.join(codes, "id")
        val (hits, arm) =
          if (pattern.isEmpty && pqEligible(e.nextId, e.dim, info.m)) {
            val ck = Some(s"${pqDir(e)}@c${e.created}v${e.version}n${e.nextId}")
            (Pq.searchFlatServe(encoded, model, queries, k, efv, ub, ck),
              "pq_flat_serve")
          } else if (small)
            (Pq.searchFlatBroadcast(encoded, model, queries, k, efv, ub),
              "pq_flat_broadcast")
          else (Pq.searchFlat(encoded, model, queries, k, efv, ub), "pq_flat")
        VecDB.Served(collectHits(hits), arm)
      // HNSW walks the stored graph of the whole table; a metadata pattern
      // (our extension — the reference's `search` takes none) takes the
      // exact filtered scan instead, as it does on every indexed arm
      case _ if e.hasHnsw && pattern.isEmpty =>
        hnswSearch(e, queries, k, ef, ub, withVecs)
      // Quantized-arm extension: an explicitly built SQ/BQ sidecar serves
      // the scan-compressed two-stage arms wherever the matrix would
      // otherwise run a FLOAT scan (HNSW arms above keep priority —
      // sub-linear beats any compressed linear scan; the plain IVF arms
      // below yield to sq_ivf/bq_ivf, which prune the same probed clusters
      // at 1/4 or 1/32 the bytes). SQ outranks BQ on a table with both.
      // `ef` maps to the coarse candidate budget (default scales with N,
      // CoarseMerge.autoCandidates); the upper bound applies on the EXACT
      // re-ranked distances, so P3 semantics are preserved.
      case (efOpt, _) if (e.sq.isDefined || e.bq.isDefined) && pattern.isEmpty =>
        // model loads cached per index generation (1-3 extra driver jobs
        // per batch otherwise — the latency-regime floor)
        val (codec, dir, flatName, routed)
            : (CoarseMerge.Codec[_, _], Path, String, Boolean) = e.sq match {
          case Some(info) =>
            (Sq.SqCodec(sidecarCachedAs[Sq.SqModel](
              sqDir(e).resolve("model").toString, e)(loadSqModel(e)), e.dist),
              sqDir(e), "codes", info.routed)
          case None =>
            (Bq.BqCodec(sidecarCachedAs[Option[Bq.BqModel]](
              bqDir(e).resolve("model").toString, e)(loadBqModel(e))),
              bqDir(e), "packed", e.bq.get.routed)
        }
        // batch-shape-aware serving (r19/r20): nq-large batches switch to
        // approximate coarse selection ("auto" — per-partition top pool,
        // no selection shuffle) UNLESS the caller's budget is exhaustive
        // (candidates ≥ corpus ⇒ the exact-KNN contract, e.g. the SQL
        // top-k rewrite at ef = 2n, must keep exact selection). Tables
        // with an HNSW index never reach this arm — the graph serves big
        // batches at ~10× these rates.
        def selectFor(candidates: Int) =
          if (candidates < liveRows(e)) "auto" else "exact"
        // arm labels: sq_ivf | bq_ivf, sq_rerank_serve | bq_rerank_serve
        val ((hits, choice), arm) =
          if (routed) {
            if (e.ivf.isEmpty) throw new IllegalStateException(
              s"table '$key': routed ${codec.name.toUpperCase} sidecar " +
                "without an IVF index (clearIvfIndex cascades — this brief " +
                "was edited externally)")
            val ivfModel = cachedIvfModel(e)
            // probe-pool-aware budget: the scored pool is ~np·N/kc rows,
            // not the corpus (see autoCandidates' routed overload)
            val candidates = math.max(k, efOpt.getOrElse(
              CoarseMerge.autoCandidates(e.nextId, k, ivfModel.defaultNProbes,
                ivfModel.centroids.length)))
            // rerank against the IVF sidecar's OWN cluster-partitioned
            // float layout (same assignment as the codes): both stages
            // partition-prune, so a batch touches (np/kc) of the codes
            // AND (np/kc) of the floats — the full-table `filtered` base
            // would stream the whole float corpus per batch. Both reads
            // come pre-listed from the sidecar cache (listing a kc-way
            // layout per batch would dominate the pruned read).
            val floatBase = sidecarDf(ivfDir(e).resolve("data").toString, e)
            // r20 sidecars store the rerank base as f32-binary `vecb`
            // (one blob decode per row); pre-r20 sidecars keep `vec`
            val baseVecCol =
              if (floatBase.columns.contains("vecb")) "vecb" else "vec"
            // flat twin (written by r18+ builds) enables the coverage-aware
            // dispatch: prune-void batches scan one contiguous parquet
            // instead of kc directories. Absent on pre-r18 sidecars — the
            // dispatch then always serves the partitioned layout.
            val flatDir = dir.resolve("flat")
            val flat =
              if (java.nio.file.Files.exists(flatDir))
                Some(sidecarDf(flatDir.toString, e))
              else None
            (CoarseMerge.searchIvf(codec,
              sidecarDf(dir.resolve("ivf").resolve("data").toString, e),
              floatBase, ivfModel, queries, k, candidates, nProbes = None,
              dist = e.dist, vecCol = baseVecCol,
              baseClusterCol = Some("cluster"), flatCodes = flat,
              flatBase = Some(filtered), coarseSelect = selectFor(candidates),
              flatVecCol = Some("vec")), s"${codec.name}_ivf")
          } else {
            val candidates = math.max(k,
              efOpt.getOrElse(CoarseMerge.autoCandidates(e.nextId, k)))
            (CoarseMerge.searchRerank(codec,
              sidecarDf(dir.resolve(flatName).toString, e), filtered,
              queries, k, candidates, e.dist, "vec", selectFor(candidates)),
              s"${codec.name}_rerank_serve")
          }
        VecDB.Served(collectHits(if (ub == Double.PositiveInfinity) hits
          else hits.filter(col("distance") <= lit(ub))), arm, Some(choice))
      // IVF arms (extension): ef → n_probes, the reference's IVF ef mapping
      // (ivf_index.rs:137-143); the partitioned layout prunes the scan to
      // the probed clusters. Metadata patterns fall through to Flat (the
      // layout stores no meta and pruning would fight the filter).
      case (_, None) if e.ivf.isDefined && pattern.isEmpty =>
        VecDB.Served(collectHits(ivfSearch(e, queries, k, ef, ub)), "ivf")
      case _ => // Flat path; ef ignored (dynamic_index.rs:75-80)
        if (small)
          VecDB.Served(collectHits(Knn.exactBroadcast(filtered, queries, k,
            e.dist, upperBound = ub)), "flat_broadcast")
        else
          VecDB.Served(collectHits(Knn.exact(filtered, queries, k, e.dist,
            upperBound = ub)), "flat")
    }
  }

  /** A serving arm's winners collected to the driver as
    * (query_id, id, distance). */
  private def collectHits(hits: DataFrame): Hnsw.Hits =
    Hnsw.Hits(hits.select(col("query_id").cast("long"), col("id").cast("long"),
      col("distance").cast("double")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))

  /** Output schema of [[searchBatch]]. */
  private def searchOutSchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("distance", DoubleType, nullable = false),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** J2 — metadata attach of the serving regime: the reference's
    * positional lookup (`metadata_vec_table.rs:210-211`) over a driver-side
    * cache of the table's packed part-file meta ([[metaParts]]). The winners
    * (≤ Q·k driver rows) come straight from the serving arm, and the result
    * is built on the driver as a local relation in (query_id, distance, id)
    * order, so the caller's `collect()` launches no Spark job. A winner no
    * part file holds keeps null meta. */
  private def attachMeta(e: TableEntry, listing: DataFrame,
      hits: Array[(Long, Long, Double)]): DataFrame = {
    val rows = hits.sortBy { case (q, id, d) => (q, d, id) }(
        Ordering.Tuple3(Ordering.Long, Ordering.Double.TotalOrdering, Ordering.Long))
    val parts = if (rows.isEmpty) Array.empty[MetaPart] else metaParts(e, listing)
    val out = rows.map { case (q, id, d) => Row(q, id, d, metaOf(parts, id)) }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), searchOutSchema)
  }

  /** The meta of row `id` from the part file holding it; null when no part
    * file does. */
  private def metaOf(parts: Array[MetaPart], id: Long): Map[String, String] = {
    var p = 0
    while (p < parts.length) {
      val i = parts(p).indexOf(id)
      if (i >= 0) return parts(p).meta(i)
      p += 1
    }
    null
  }

  /** Packed meta of every data part file in `listing`: resident entries
    * from the sidecar cache, the missing files' `(id, meta)` read in one
    * job. Part files never change once written, so an entry is keyed by
    * its file and lives as long as the file: an append adds files and
    * loads only those, or none when [[batchAdd]] put their entries here
    * itself (append invalidation keeps these entries), a
    * delete's rewrite lists new files under a new version directory, and
    * a load drops the entries of files the listing no longer holds. Table
    * delete and index builds/clears purge them with the rest of the table's
    * entries; the `created` stamp fences a recreated namesake.
    *
    * Residency is bounded by the sidecar budget ([[sidecarCached]]): the
    * packed meta of a table larger than the budget reloads on a miss, one
    * scan job of the evicted files per search. The entries loaded by this
    * call are held here, so the answer never depends on residency. */
  private def metaParts(e: TableEntry, listing: DataFrame): Array[MetaPart] = {
    val files = listing.inputFiles
    val names = files.map(f => f.substring(f.lastIndexOf('/') + 1))
    val keys = names.map(metaKey(e, _))
    val parts = keys.map(k => sidecarCached.get(k).orNull.asInstanceOf[MetaPart])
    val missing = parts.indices.filter(parts(_) == null)
    if (missing.nonEmpty) {
      val t0 = System.nanoTime()
      val loaded = spark.read.schema(dataSchema(e.dim))
        .parquet(missing.map(files(_)): _*)
        .select(col("_metadata.file_name"), col("id"),
          map_keys(col("meta")), map_values(col("meta")))
        .collect()
      val byFile = loaded.groupBy(_.getString(0))
      missing.foreach { i =>
        val part = MetaPart(byFile.getOrElse(names(i), Array.empty[Row]).toSeq
          .map(r => (r.getLong(1), r.getSeq[String](2), r.getSeq[String](3))))
        parts(i) = part
        sidecarCached.put(keys(i), part, part.bytes)
      }
      val live = keys.toSet
      sidecarCached.removeIf(k => k.startsWith(tablePrefix(e.filename)) &&
        k.contains(MetaStamp) && !live.contains(k))
      CacheStats.metaRowsLoaded.addAndGet(loaded.length)
      CacheStats.metaLoadNanos.addAndGet(System.nanoTime() - t0)
    }
    parts
  }

  /** Sidecar-cache key of data part file `name`'s packed meta. */
  private def metaKey(e: TableEntry, name: String): String =
    s"${Paths.get(dataDir(e), name)}$MetaStamp${e.created}"

  /** Row bound for the broadcast-QUERIES flat paths (nothing table-sized is
    * materialized there — this is a plan choice, not a memory gate). */
  private val FlatBroadcastMaxRows = 1000000L

  /** IVF probe path over the partitioned sidecar layout. */
  private def ivfSearch(e: TableEntry, queries: DataFrame, k: Int,
      nProbes: Option[Int], ub: Double): DataFrame = {
    // model + data listing cached per index generation (r20): the plain
    // IVF arm was the last serve path still paying a centroid parquet
    // read + collect AND a partitioned-layout listing per batch — the
    // SQ/BQ routed arms already served both from the sidecar cache
    Ivf.searchPartitionedDf(
      sidecarDf(ivfDir(e).resolve("data").toString, e),
      cachedIvfModel(e), queries, k, nProbes, ub)
  }

  /** The IVF centroid model through the build-fixed cache: one parquet
    * read + collect per index build, shared by the serve arms and the
    * append path. */
  private def cachedIvfModel(e: TableEntry): graft.operators.IvfModel =
    buildFixedAs[graft.operators.IvfModel](
      ivfDir(e).resolve("centroids").toString, e)(
      Ivf.readModel(spark, ivfDir(e).toString, e.dist,
        e.ivf.get.defaultNProbes))

  /** HNSW path over the stored sidecar, placed by size: under the broadcast
    * gate the driver-resident walk returns its rows directly; beyond it the
    * index is pinned across the cluster (routed: each query walks only its
    * nearest clusters, delta subgraphs always). With `pq`, the walk is
    * ADC-scored (`knn_pq_broadcast` | `knn_pq_routed` | `knn_pq_pinned`);
    * a residual quantizer's codes are per-cluster shifts, so only the
    * routed walk may score with it. Plain, every placement is `hnsw`. */
  private def hnswSearch(e: TableEntry, queries: DataFrame, k: Int,
      ef: Option[Int], ub: Double, withVecs: Boolean,
      pq: Option[PqModel] = None): VecDB.Served = {
    def arm(placement: String) = if (pq.isEmpty) "hnsw" else s"knn_pq_$placement"
    val idx = hnswSidecar(e)
    val ck = Some(hnswKey(e))
    if (hnswEligible(e.nextId, e.dim) && !pq.exists(_.residual))
      VecDB.Served(Hnsw.residentRows(idx, queries, k, ef, e.dist,
        efConstruction = e.efConstruction, upperBound = ub,
        cacheKey = Some(hnswBroadcastKey(e)), pq = pq, withVecs = withVecs),
        arm("broadcast"))
    else if (e.hnswRouted)
      VecDB.Served(collectHits(IvfHnsw.searchPinned(idx, cachedRouteModel(e),
        queries, k, ef, efConstruction = e.efConstruction, upperBound = ub,
        cacheKey = ck, pq = pq)), arm("routed"))
    else
      VecDB.Served(collectHits(Hnsw.searchPinned(idx, queries, k, ef, e.dist,
        efConstruction = e.efConstruction, upperBound = ub, cacheKey = ck,
        pq = pq)), arm("pinned"))
  }

  /** Single-query convenience matching the reference signature: ascending
    * (metadata, distance) pairs. */
  def search(key: String, query: Array[Float], k: Int, ef: Option[Int] = None,
      upperBound: Option[Double] = None): Seq[(Map[String, String], Double)] = {
    import spark.implicits._
    val q = Seq((0L, query)).toDF("query_id", "query_vec")
    VecDB.ranked(searchBatch(key, q, k, ef, upperBound))
  }

  // ------------------------------------------------------ streaming ingest

  private def streamEpochPath(e: TableEntry): Path =
    rootPath.resolve(e.filename).resolve("stream_epoch")

  /** Last applied streaming micro-batch epoch for `key` (−1 before any).
    * Persisted in the table directory so a restarted stream's checkpoint
    * replay of an already-committed batch is detected and skipped
    * ([[graft.streaming.StreamIngest]]); delete+recreate of the table
    * resets it with the directory. */
  def streamEpoch(key: String): Long = tableLock(key).synchronized {
    val p = streamEpochPath(entry(key))
    if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8").trim.toLong
    else -1L
  }

  /** Append one streaming micro-batch exactly once per epoch: a batchId at
    * or below the recorded epoch is a checkpoint replay (Spark re-runs the
    * last micro-batch when a query restarts before its checkpoint commit)
    * and is skipped without reading the batch. The epoch record commits
    * AFTER the data append, so the crash window between the two degrades
    * to at-least-once for that one batch — same §2.13 class as the
    * reference's auto-save window, and exactly the idempotence contract
    * Spark documents for `foreachBatch` sinks. Returns rows appended
    * (0 on a replay skip). */
  def applyStreamBatch(key: String, batch: DataFrame, batchId: Long): Long =
    tableLock(key).synchronized {
      if (batchId <= streamEpoch(key)) 0L
      else {
        val n = addDataFrame(key, batch)
        val e = entry(key)
        val tmp = rootPath.resolve(e.filename).resolve("stream_epoch.tmp")
        Files.write(tmp, batchId.toString.getBytes("UTF-8"))
        Files.move(tmp, streamEpochPath(e), StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        n
      }
    }

  /** S8 — full extract (`metadata_vec_table.rs:215-222`). */
  def extractData(key: String): DataFrame = table(key).select("vec", "meta")

  /** Brief flush (writes are already durable; mirrors `force_save`). */
  def forceSave(): Unit = saveBrief()

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
}

object VecDB {

  /** The single-query SQL top-k's winners ([[VecDB.searchTopK]]): their
    * ids and, when the search walked driver-resident graphs, the same
    * winners as table rows (id, vec, meta), ascending by (distance, id);
    * with the serving arm that found them. */
  private[graft] final case class Winners(ids: Array[Long],
      rows: Option[Array[Row]], arm: String)

  /** A one-query search frame as [[VecDB.search]] returns it: ascending
    * (metadata, distance) pairs. */
  private[graft] def ranked(frame: DataFrame): Seq[(Map[String, String], Double)] =
    frame.collect()
      .map(r => (r.getAs[Double]("distance"), r.getAs[Long]("id"),
        Option(r.getAs[Map[String, String]]("meta")).getOrElse(Map.empty)))
      .sortBy(r => (r._1, r._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      .map(r => (r._3, r._1))
      .toSeq

  /** Pid bookkeeping of a table's HNSW sidecar: one more than its highest
    * pid (0 when empty), and the count of delta pids and of their rows —
    * the pids at or above the routing floor, every pid when unrouted. */
  private[graft] final case class PidBook(next: Int, deltaPids: Long, deltaRows: Long)

  /** A catalog search ([[VecDB.dispatch]]) with the choices that produced
    * its frame: the serving `arm`, how the query-batch `gate` decided
    * ("rowcount:N" | "bytes:EST" | "probe:N"), and the two-stage driver's
    * choices when the arm ran it. */
  private[graft] final case class Dispatched(frame: DataFrame, arm: String,
      gate: String, coarse: Option[CoarseMerge.Choice])

  /** A serving arm's winners on the driver, its label, and the two-stage
    * driver's choices when the arm ran it. */
  private final case class Served(hits: Hnsw.Hits, arm: String,
      coarse: Option[CoarseMerge.Choice] = None)

  /** Byte budget for serving paths that materialize the whole table on the
    * driver and every executor (HNSW index broadcast, PQ decoded-codes +
    * vectors broadcast). A row-count gate let a 1M × d960 index (~4 GB of
    * vectors alone) through; the gates are BYTE-based estimates.
    * Overridable per deployment (and per test, to force the pinned arms on
    * small fixtures) via `-Dgraft.broadcast.max.bytes=N`. */
  private[graft] def BroadcastMaxBytes: Long =
    sys.props.get("graft.broadcast.max.bytes").map(_.toLong).getOrElse(1L << 30)

  /** Driver byte budget for the per-catalog sidecar cache (pre-listed
    * file indexes + loaded quantizer/centroid models). Volatile so the
    * eviction spec can force a tiny budget; override per deployment with
    * `-Dgraft.cache.sidecar.maxBytes=N`. */
  @volatile private[graft] var sidecarCacheMaxBytes: Long =
    sys.props.get("graft.cache.sidecar.maxBytes").map(_.toLong)
      .getOrElse(256L << 20)

  /** Estimated broadcast footprint of an HNSW sidecar: packed f32 vectors
    * plus adjacency (m=16 ints at level 0, geometric upper levels) plus
    * per-node id/level overhead. */
  private[graft] def hnswBroadcastBytes(rows: Long, dim: Int): Long =
    rows * (4L * dim + 4L * 16 * 2 + 64L)

  /** Cluster count for [[VecDB.buildHnswIndex]]'s beyond-gate auto-routing:
    * ~8k rows per cluster, floored at 16 so routing always prunes, capped
    * at 65536 (past ~500M rows cells grow again so the centroid sidecar
    * stays driver-trivial at ≤256 MB for d960 — documented trade, not a
    * cliff). The r20 sizing (was ~50k rows/cell): a 4M-density 1M
    * fixture measured 31k rows/cell building at 2,279 rows/s vs 7,208 at
    * 7.8k rows/cell (3.2× — denser cells make every insert's beam score
    * more near-coincident candidates, per the r19 insert-stage timing)
    * with np1 recall IMPROVING (0.9568 → 0.9627); pushing to
    * 2k rows/cell gains nothing further (route k-means cost) and drops
    * np1 recall to 0.81. Reference anchor: kc is a free parameter of the
    * IVF construction (`ivf_index.rs:64-107`); constant rows/cell keeps
    * per-insert build cost scale-independent. */
  private[graft] def autoRouteClusters(rows: Long): Int =
    math.min(65536L, math.max(16L, (rows + 7999L) / 8000L)).toInt

  private[graft] def hnswBroadcastEligible(rows: Long, dim: Int): Boolean =
    hnswBroadcastBytes(rows, dim) <= BroadcastMaxBytes

  /** Estimated footprint of the PQ serving unit: vectors + decoded codes
    * (one byte per group) + ids. */
  private[graft] def pqServeBytes(rows: Long, dim: Int, m: Int): Long =
    rows * (4L * dim + m + 16L)

  private[graft] def pqServeEligible(rows: Long, dim: Int, m: Int): Boolean =
    pqServeBytes(rows, dim, m) <= BroadcastMaxBytes

  /** Query-count ceiling for the serving arms, every one of which collects
    * the query batch to the driver. Batches past it serve through the
    * declarative driver-unbounded shapes. `-Dgraft.serve.max.queries`. */
  private[graft] def ServeMaxQueries: Long =
    sys.props.get("graft.serve.max.queries").map(_.toLong).getOrElse(100000L)

  /** Cost gate for the HNSW+PQ combined traversal (`knn_pq`): the ADC walk
    * scores a node with m DEPENDENT lookup-adds into the per-query LUT,
    * while the plain walk scores it with one pipelined SIMD pass over dim
    * floats. Measured on this engine at the reference default m = dim/3
    * (d960/m320, BENCH_r9 + the r11 ADC kernel timing): the float walk is
    * faster in the cache-resident broadcast regime (388 vs 559 ns/eval at
    * 10k×960) and at kernel parity in the RAM-bound pinned regime (700 vs
    * 668) — at higher recall, so the wide-code traversal never wins. The
    * combined traversal therefore only engages when codes are enough
    * narrower than the vector, and the crossover is REGIME-DEPENDENT (r11
    * kernel timing, random-access evals):
    *
    *  - broadcast (cache-resident) regime: float 388 ns/eval; ADC wins
    *    from m ≤ dim/8 (m=120: 199 ns) — ratio 8,
    *    `-Dgraft.adc.walk.ratio`;
    *  - pinned/routed (RAM-bound) regime: float 700 ns/eval (random
    *    3.8 KB rows from a working set past LLC); ADC wins already from
    *    m ≤ dim/6 (m=160: 419 ns, 1.7×) — ratio 6 (or
    *    `-Dgraft.adc.walk.ratio` when set). End-to-end (BENCH_r11, 1M×960
    *    rank-48 fixture, routed np1): the m=160 ADC walk serves 3334 q/s
    *    at recall 0.769 vs the plain walk's 2553 q/s at 0.773 — the
    *    reference's own HNSW+PQ > HNSW ordering, reproduced. (Quality at
    *    a given (m, ef) remains data-dependent: iid-noise corpora are
    *    quantization-hostile and favor wider beams — the quantizer choice
    *    is the caller's, as in the reference.)
    *
    * Re-validated r12 (walk timing, rank-48 d960 @50k, single thread) after
    * the envelope re-rank cut the ef-sized scalar-double resort from both
    * arms: the crossover shape is unchanged — plain 1415 q/s at ef=120 vs
    * ADC m=320 1203 (wide codes still lose), m=160 2100 and m=120 2597 at
    * the same ef (narrow codes win ~1.5-1.8×). Both fast-scan walk
    * layouts (inline blocks r11, shared transposed matrix ± block-sum
    * cache r12) measured slower than the scalar `adcOne` gather at every
    * (m, ef), so the ratios above still describe the best available
    * kernels on each side.
    *
    * At or above the gate the dispatch serves the plain HNSW walk, whose
    * exact distances subsume the re-rank — never a slower arm. */
  private[graft] def AdcWalkRatio: Int =
    sys.props.get("graft.adc.walk.ratio").map(_.toInt).getOrElse(8)

  private[graft] def AdcWalkRatioPinned: Int =
    sys.props.get("graft.adc.walk.ratio").map(_.toInt).getOrElse(6)

  private[graft] def adcWalkEligible(dim: Int, m: Int,
      pinned: Boolean = false): Boolean =
    m.toLong * (if (pinned) AdcWalkRatioPinned else AdcWalkRatio) <= dim

  /** Slack factor for the serve-gate byte estimate: an estimate past the
    * budget but within this factor triggers one bounded count probe
    * instead of silently routing a possibly-small batch to the
    * declarative arms. */
  private[graft] val GateProbeSlack: Int = 10
}
