package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.catalog.VecDB
import graft.index.CacheStats
import graft.operators.{Hnsw, IvfHnsw}

/** Appends to an HNSW table run two Spark jobs (the data part and the
  * sidecar part) and hand what they wrote to the serving caches: on a
  * resident table the next search runs no job and reads nothing, with the
  * answers of a fresh read of the sidecar. The delta a `batchAdd` builds on
  * the driver is the distributed build's; the pid book the appends keep
  * equals a scan of the sidecar; a routed build does not depend on the
  * input's partitioning or order; a routed search leaves no query-batch
  * broadcast behind. */
class AppendHandoffSpec extends SparkTestBase {
  import spark.implicits._

  private val K = 5
  private val Dim = 8

  private def vecs(n: Int, seed: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => Array.fill(Dim)(rnd.nextFloat()))
  }

  private def add(db: VecDB, vs: Seq[Array[Float]], tag: Int = 0): Unit =
    db.batchAdd("t", vs, vs.indices.map(i => Map("tag" -> s"$tag-$i")))

  private def queryDf(vs: Seq[Array[Float]]): DataFrame =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("query_id", "query_vec")

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("query_id"), col("id"), col("distance"))
      .as[(Long, Long, Double)].collect().toSeq
      .sortBy { case (q, id, d) => (q, d, id) }

  private def freshRoot(): String =
    Files.createTempDirectory(Paths.get("target"), "vecdb_handoff").toString

  private def hnswDir(root: String): String = Paths.get(root, "t", "hnsw").toString

  /** (max pid + 1, delta pids, delta rows) of a scan of the sidecar. */
  private def scanned(root: String, floor: Int): VecDB.PidBook = {
    val counts = spark.read.parquet(hnswDir(root)).groupBy("pid").count()
      .as[(Int, Long)].collect()
    val delta = counts.filter(_._1 >= floor)
    VecDB.PidBook(if (counts.isEmpty) 0 else counts.map(_._1).max + 1,
      delta.length.toLong, delta.map(_._2).sum)
  }

  test("a resident table's append runs 2 jobs; the next search runs none and reads nothing") {
    val root = freshRoot()
    val db = new VecDB(spark, root)
    try {
      db.createTableIfNotExists("t", Dim, "l2sqr")
      add(db, vecs(400, 1))
      db.buildHnswIndex("t")
      val qs = queryDf(vecs(6, 2))
      db.searchBatch("t", qs, K, Some(64)).collect()
      add(db, vecs(100, 3), 1) // warm
      db.searchBatch("t", qs, K, Some(64)).collect()
      for (round <- 1 to 3) {
        val appended = vecs(100, 10 + round)
        val (_, appendJobs) = jobsDuring(add(db, appended, 10 + round))
        assert(appendJobs == 2, s"round $round: the append ran $appendJobs jobs")
        val shipped0 = CacheStats.indexRowsShipped.get
        val meta0 = CacheStats.metaRowsLoaded.get
        // the appended rows themselves, so the hits are the new subgraph's
        val probe = queryDf(appended.take(4))
        val ((served, got), searchJobs) = jobsDuring {
          val d = db.dispatch("t", probe, K, Some(64))
          (d, d.frame.collect())
        }
        assert(served.arm == "hnsw", s"served by '${served.arm}'")
        assert(searchJobs == 0, s"round $round: the first search ran $searchJobs jobs")
        assert(CacheStats.indexRowsShipped.get == shipped0)
        assert(CacheStats.metaRowsLoaded.get == meta0)
        val want = rows(Hnsw.searchBroadcast(spark.read.parquet(hnswDir(root)),
          probe, K, Some(64), "l2sqr"))
        assert(rows(served.frame) == want)
        val firstId = db.getLen("t") - 100
        got.filter(_.getAs[Double]("distance") < 1e-9).foreach { r =>
          val id = r.getAs[Long]("id")
          assert(r.getAs[Map[String, String]]("meta")("tag") ==
            s"${10 + round}-${id - firstId}")
        }
        assert(got.count(_.getAs[Double]("distance") < 1e-9) == 4)
      }
    } finally db.close()
  }

  test("a routed table's append runs 2 jobs") {
    val root = freshRoot()
    val db = new VecDB(spark, root)
    try {
      db.createTableIfNotExists("t", Dim, "l2sqr")
      add(db, vecs(300, 4))
      db.buildIvfHnswIndex("t", kClusters = 4, defaultNProbes = 2)
      add(db, vecs(50, 5), 1) // warm: reads the route model and the pid book
      val (_, jobs) = jobsDuring(add(db, vecs(50, 6), 2))
      assert(jobs == 2, s"the append ran $jobs jobs")
      assert(db.pidBookOf("t") == scanned(root, 4))
    } finally db.close()
  }

  test("the pid book equals a scan through appends, compaction, clear+rebuild and reopen") {
    val root = freshRoot()
    var db = new VecDB(spark, root)
    try {
      db.createTableIfNotExists("t", Dim, "l2sqr")
      add(db, vecs(200, 7))
      db.buildHnswIndex("t")
      assert(db.pidBookOf("t") == scanned(root, 0))
      var compacted = false
      var round = 0
      while (!compacted) {
        round += 1
        assert(round <= 40, "no compaction after 40 appends")
        val before = spark.read.parquet(hnswDir(root)).select("pid").distinct()
          .as[Int].collect().toSet
        if (round % 2 == 0) add(db, vecs(5, 100 + round), round)
        else db.addDataFrame("t", vecs(5, 100 + round).map(Tuple1(_)).toDF("vec"))
        compacted = !before.subsetOf(spark.read.parquet(hnswDir(root))
          .select("pid").distinct().as[Int].collect().toSet)
        assert(db.pidBookOf("t") == scanned(root, 0), s"round $round")
      }
      add(db, vecs(5, 300), 300)
      assert(db.pidBookOf("t") == scanned(root, 0))

      db.clearHnswIndex("t")
      db.buildHnswIndex("t")
      add(db, vecs(7, 301), 301)
      assert(db.pidBookOf("t") == scanned(root, 0))

      val live = db.getLen("t")
      db.close()
      db = new VecDB(spark, root)
      add(db, vecs(9, 302), 302)
      db.addDataFrame("t", vecs(3, 303).map(Tuple1(_)).toDF("vec"))
      assert(db.pidBookOf("t") == scanned(root, 0))
      assert(scanned(root, 0).deltaRows == live + 12)
    } finally db.close()
  }

  test("the driver-built delta equals the distributed build over the same slices") {
    val base = vecs(301, 12).zipWithIndex.map { case (v, i) => (1000L + i, v) }.toIndexedSeq
    type Flat = (Int, Int, Long, Seq[Float], Int, Seq[Seq[Int]])
    def flat(r: Hnsw.IndexRow): Flat =
      (r._1, r._2, r._3, r._4.toSeq, r._5, r._6.map(_.toSeq).toSeq)
    for (slices <- Seq(1, 3)) {
      val local = Hnsw.buildLocal(base, slices, "l2sqr").toSeq.flatten.map(flat)
      val distributed = Hnsw.buildIndex(
          spark.sparkContext.parallelize(base, slices).toDF("id", "vec"), "l2sqr")
        .as[(Int, Int, Long, Seq[Float], Int, Seq[Seq[Int]])].collect().toSeq
        .sortBy(r => (r._1, r._2))
      assert(local.map(_._1).distinct == (0 until slices))
      assert(local == distributed, s"$slices slices")
    }
  }

  test("a routed build does not depend on the input's partitioning or order") {
    // one cluster: k-means training sees the rows in input order, so only
    // a single cell is assigned the same whatever that order is; the graph
    // then depends on the order its rows are inserted in
    val base = vecs(300, 8).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val qs = queryDf(vecs(5, 9))
    def build(df: DataFrame) = {
      val (model, idx) = IvfHnsw.buildIndex(df, kClusters = 1)
      val sidecar = idx.select("pid", "local_id", "id", "level", "links")
        .as[(Int, Int, Long, Int, Seq[Seq[Int]])].collect().sortBy(r => (r._1, r._2)).toSeq
      (sidecar, rows(IvfHnsw.searchPinned(idx, model, qs, K, ef = Some(16))))
    }
    val one = build(base.toDF("id", "vec").coalesce(1))
    val four = build(base.toDF("id", "vec").repartition(4))
    val reversed = build(base.reverse.toDF("id", "vec").repartition(4))
    assert(one._1.map(_._3).toSet.size == 300)
    assert(four == one)
    assert(reversed == one)
  }

  test("routed searches leave no query-batch broadcast behind") {
    val root = freshRoot()
    val db = new VecDB(spark, root)
    db.broadcastGateBytes = Some(1L) // serve through the routed walk
    try {
      db.createTableIfNotExists("t", Dim, "l2sqr")
      add(db, vecs(300, 10))
      db.buildIvfHnswIndex("t", kClusters = 4, defaultNProbes = 2)
      val qs = queryDf(vecs(8, 11))
      def search(): Unit = {
        val d = db.dispatch("t", qs, K, Some(32))
        assert(d.arm == "hnsw")
        d.frame.collect()
      }
      search(); search() // pins the index
      def held() = org.apache.spark.graftshim.BroadcastBlocks(spark.sparkContext)
      val baseline = held()
      for (i <- 1 to 5) {
        search()
        // a release is asynchronous: give it a moment, but less than the
        // ContextCleaner would need to find an unreleased one after a GC
        val deadline = System.nanoTime() + 2000L * 1000000L
        var now = held()
        while (now > baseline && System.nanoTime() < deadline) {
          Thread.sleep(20)
          now = held()
        }
        assert(now <= baseline, s"$baseline broadcasts held before, $now after search $i")
      }
    } finally { db.broadcastGateBytes = None; db.close() }
  }
}
