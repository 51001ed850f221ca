package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import graft.catalog.VecDB
import graft.index.CacheStats
import graft.operators.Hnsw

/** Gate of the mid-ship spec: the index rows of table A pass through a UDF
  * that parks its task (local mode: same JVM) until released. */
object ShipGate {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** The broadcast HNSW arm of a table taking appends: each append ships and
  * rebuilds only its own subgraph, a rewritten sidecar (compaction,
  * clear+rebuild, delete+recreate) reloads in full, and every answer equals
  * the uncached path over the same sidecar, row for row. */
class BroadcastAppendSpec extends SparkTestBase {
  import spark.implicits._

  private val K = 5
  private val Ef = 200
  private val Dim = 8

  private def vecs(n: Int, seed: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => Array.fill(Dim)(rnd.nextFloat()))
  }

  private def add(db: VecDB, vs: Seq[Array[Float]]): Unit =
    db.batchAdd("t", vs, vs.map(_ => Map.empty[String, String]))

  private val queries: DataFrame =
    vecs(5, 99).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "query_vec")

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("query_id"), col("id"), col("distance"))
      .as[(Long, Long, Double)].collect().toSeq
      .sortBy { case (q, id, d) => (q, d, id) }

  /** One catalog search of "t" against the uncached broadcast walk over the
    * same sidecar; returns the (rows shipped, graphs built) it cost. */
  private def searchChecked(db: VecDB, root: String): (Long, Long) = {
    val r0 = CacheStats.indexRowsShipped.get
    val g0 = CacheStats.graphBuilds.get
    val got = rows(db.searchBatch("t", queries, k = K, ef = Some(Ef)))
    val shipped = CacheStats.indexRowsShipped.get - r0
    val built = CacheStats.graphBuilds.get - g0
    assert(db.lastServedArm == "hnsw", s"served by '${db.lastServedArm}'")
    val want = rows(Hnsw.searchBroadcast(spark.read.parquet(hnswDir(root)),
      queries, K, Some(Ef), "l2sqr"))
    assert(got.nonEmpty && got == want)
    (shipped, built)
  }

  private def hnswDir(root: String): String = Paths.get(root, "t", "hnsw").toString

  private def pids(root: String): Set[Int] =
    spark.read.parquet(hnswDir(root)).select("pid").distinct()
      .as[Int].collect().toSet

  private def freshTable(rowsN: Int, seed: Int): (VecDB, String) = {
    val root = Files.createTempDirectory(Paths.get("target"), "vecdb_bcast").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", Dim, "l2sqr")
    add(db, vecs(rowsN, seed))
    db.buildHnswIndex("t")
    (db, root)
  }

  test("an append ships and rebuilds only its own subgraph; answers equal the uncached walk") {
    val (db, root) = freshTable(300, 1)
    try {
      val (firstShip, firstBuilt) = searchChecked(db, root)
      assert(firstShip == 300 && firstBuilt == pids(root).size)
      for (round <- 1 to 3) {
        val before = pids(root)
        add(db, vecs(100, 10 + round))
        val fresh = pids(root) -- before
        assert(fresh.nonEmpty, "append must land a delta subgraph")
        val (shipped, built) = searchChecked(db, root)
        assert(shipped == 100, s"round $round shipped $shipped rows, not the append's 100")
        assert(built == fresh.size, s"round $round rebuilt $built graphs for ${fresh.size} new")
        // steady state: nothing ships or builds
        assert(searchChecked(db, root) == ((0L, 0L)))
      }
    } finally db.close()
  }

  test("compaction, clear+rebuild and delete+recreate reload in full") {
    val (db, root) = freshTable(200, 2)
    try {
      searchChecked(db, root)
      var total = 200L
      var compacted = false
      var round = 0
      // appends past the subgraph ceiling force a compaction rewrite
      while (!compacted) {
        round += 1
        assert(round <= 40, "no compaction after 40 appends")
        val before = pids(root)
        add(db, vecs(5, 100 + round))
        total += 5
        compacted = !before.subsetOf(pids(root))
        val (shipped, _) = searchChecked(db, root)
        assert(shipped == (if (compacted) total else 5L),
          s"round $round (compacted=$compacted) shipped $shipped of $total rows")
      }

      db.clearHnswIndex("t")
      db.buildHnswIndex("t")
      assert(searchChecked(db, root)._1 == total)

      db.deleteTable("t")
      db.createTableIfNotExists("t", Dim, "l2sqr")
      add(db, vecs(150, 3))
      db.buildHnswIndex("t")
      assert(searchChecked(db, root)._1 == 150)
    } finally db.close()
  }

  test("an append evicts the superseded pinned index") {
    val (db, root) = freshTable(200, 4)
    db.broadcastGateBytes = Some(1L) // serve through the pinned arm
    try {
      db.searchBatch("t", queries, k = K, ef = Some(Ef)).collect()
      assert(db.lastServedArm == "hnsw")
      val pinned = spark.sparkContext.getPersistentRDDs.size
      add(db, vecs(50, 5))
      db.searchBatch("t", queries, k = K, ef = Some(Ef)).collect()
      assert(spark.sparkContext.getPersistentRDDs.size == pinned,
        "the pre-append pinned index is still persisted")
    } finally { db.broadcastGateBytes = None; db.close() }
  }

  test("a search on table B finishes while table A is mid-ship") {
    val base = vecs(200, 6).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val idx = Hnsw.buildIndex(base.repartition(2)).cache()
    idx.count()
    ShipGate.entered = new CountDownLatch(1)
    ShipGate.release = new CountDownLatch(1)
    // a B search that waited on A's ship would find the gate self-released
    val gate = udf { (pid: Int) =>
      ShipGate.entered.countDown()
      if (!ShipGate.release.await(30, TimeUnit.SECONDS)) ShipGate.release.countDown()
      pid
    }
    val gatedA = idx.withColumn("pid", gate(col("pid")))
    val want = rows(Hnsw.searchBroadcast(idx, queries, K, Some(Ef)))
    var gotA: Seq[(Long, Long, Double)] = Nil
    val shipA = new Thread(() =>
      gotA = rows(Hnsw.searchBroadcast(gatedA, queries, K, Some(Ef),
        cacheKey = Some("spec_ship_A"))))
    shipA.start()
    try {
      assert(ShipGate.entered.await(60, TimeUnit.SECONDS), "A never started shipping")
      val gotB = rows(Hnsw.searchBroadcast(idx, queries, K, Some(Ef),
        cacheKey = Some("spec_ship_B")))
      assert(ShipGate.release.getCount == 1, "B waited for A's ship")
      assert(gotB == want)
    } finally ShipGate.release.countDown()
    shipA.join(60000)
    assert(!shipA.isAlive && gotA == want)
    Hnsw.invalidateCaches("spec_ship_")
  }
}
