package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.catalog.VecDB
import graft.index.{CacheStats, HnswGraphCache}
import graft.operators.Knn

/** The driver-resident HNSW serving arm: a warm catalog search walks graphs
  * already built on the driver and runs no Spark job; at an exhaustive ef
  * it equals exact KNN row for row, ties included; concurrent searches of
  * two tables return the serial answers; and graphs the byte budget
  * evicted reload from their own rows only. */
class ResidentServeSpec extends SparkTestBase {
  import spark.implicits._

  private val K = 5
  private val Dim = 8

  private val qSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("query_vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def vecs(n: Int, seed: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => Array.fill(Dim)(rnd.nextFloat()))
  }

  private def queryFrame(vs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      vs.indices.map(i => Row(i.toLong, vs(i))): _*), qSchema)

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("query_id"), col("id"), col("distance"))
      .as[(Long, Long, Double)].collect().toSeq
      .sortBy { case (q, id, d) => (q, d, id) }

  private def freshTable(dist: String, vs: Seq[Array[Float]]): (VecDB, String) = {
    val root = Files.createTempDirectory(Paths.get("target"), "vecdb_resident").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", Dim, dist)
    db.batchAdd("t", vs, vs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    (db, root)
  }

  test("a warm catalog search runs no Spark job at 1, 10 and 100 queries") {
    val (db, _) = freshTable("l2sqr", vecs(400, 1))
    try {
      for (nq <- Seq(1, 10, 100)) {
        db.searchBatch("t", queryFrame(vecs(nq, 100 + nq)), K, Some(64)).collect() // warm
        val qs = queryFrame(vecs(nq, 200 + nq))
        val ((got, arm), jobs) = jobsDuring {
          val served = db.dispatch("t", qs, K, Some(64))
          (served.frame.collect(), served.arm)
        }
        assert(arm == "hnsw", s"served by '$arm'")
        assert(jobs == 0, s"a warm $nq-query search ran $jobs Spark jobs")
        assert(got.length == nq * K)
        got.foreach(r => assert(
          r.getAs[Map[String, String]]("meta")("i") == r.getAs[Long]("id").toString))
      }
    } finally db.close()
  }

  test("at ef >= n the resident walk equals exact KNN row for row, ties included") {
    // every vector twice: each query's neighbors come in equal-distance
    // pairs, so the (distance, id) tie order decides which ids make the cut
    val base = vecs(150, 3)
    val dup = base ++ base
    for (dist <- Seq("l2sqr", "cosine")) {
      val (db, _) = freshTable(dist, dup)
      try {
        // odd k: the cut falls inside a tie pair
        val k = 7
        val qs = queryFrame(base.take(6) ++ vecs(6, 4))
        val served = db.dispatch("t", qs, k, Some(2 * dup.size))
        val got = rows(served.frame)
        assert(served.arm == "hnsw", s"served by '${served.arm}'")
        val table = db.table("t").select("id", "vec")
        val want = rows(Knn.exact(table, qs, k, dist))
        assert(got.size == 12 * k)
        assert(got == want, s"dist=$dist")
      } finally db.close()
    }
  }

  test("8 threads searching two tables at once return the serial answers") {
    val (dbA, _) = freshTable("l2sqr", vecs(300, 5))
    val (dbB, _) = freshTable("cosine", vecs(300, 6))
    val pool = Executors.newFixedThreadPool(8)
    try {
      val batches = (0 until 6).map(b => queryFrame(vecs(1 + 3 * b, 50 + b)))
      val dbs = Seq(dbA, dbB)
      val serial = for (db <- dbs; q <- batches) yield rows(db.searchBatch("t", q, K, Some(64)))
      val tasks = (0 until 48).map { i =>
        pool.submit(new Callable[(Int, Seq[(Long, Long, Double)])] {
          def call(): (Int, Seq[(Long, Long, Double)]) = {
            val j = i % serial.size
            (j, rows(dbs(j / batches.size).searchBatch("t", batches(j % batches.size),
              K, Some(64))))
          }
        })
      }
      tasks.foreach { f =>
        val (j, got) = f.get(120, TimeUnit.SECONDS)
        assert(got == serial(j), s"concurrent answer $j differs from the serial one")
      }
    } finally {
      pool.shutdownNow()
      dbA.close(); dbB.close()
    }
  }

  test("with a tiny graph budget answers hold and only evicted pids reload their rows") {
    val (db, root) = freshTable("l2sqr", vecs(300, 7))
    val prop = "graft.cache.graph.maxBytes"
    try {
      // appends of distinct sizes land one delta subgraph each
      for ((n, s) <- Seq(40 -> 8, 70 -> 9, 90 -> 10))
        db.batchAdd("t", vecs(n, s), Seq.fill(n)(Map.empty[String, String]))
      val qs = queryFrame(vecs(8, 11))
      val want = rows(db.searchBatch("t", qs, K, Some(64)))
      val sizes = spark.read.parquet(Paths.get(root, "t", "hnsw").toString)
        .groupBy("pid").count().as[(Int, Long)].collect().toMap
      assert(sizes.size >= 4 && sizes.values.sum == 500)
      System.setProperty(prop, "1")
      // drop this table's graphs; its resident state stays
      HnswGraphCache.invalidate(root)
      def search(): (Long, Long) = {
        val r0 = CacheStats.indexRowsShipped.get
        val g0 = CacheStats.graphBuilds.get
        val got = rows(db.searchBatch("t", qs, K, Some(64)))
        assert(got == want, "answers changed under a tiny graph budget")
        (CacheStats.indexRowsShipped.get - r0, CacheStats.graphBuilds.get - g0)
      }
      // every graph was evicted: each pid reloads its own rows once
      assert(search() == ((500L, sizes.size.toLong)))
      // a one-byte budget keeps only the last graph built (the highest pid):
      // the others reload, and its rows are not read again
      val kept = sizes.keys.max
      assert(search() == ((500L - sizes(kept), sizes.size - 1L)))
    } finally {
      System.clearProperty(prop)
      db.close()
    }
  }
}
