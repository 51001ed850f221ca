package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.catalog.VecDB
import graft.index.CacheStats

/** The serving metadata attach of [[VecDB.searchBatch]] answers from a
  * driver-side cache of packed part-file meta: every hit's meta must equal
  * its row's meta through appends, deletes, recreation and eviction. A
  * `batchAdd` hands its rows' meta to the cache, so the next search loads
  * none; an `addDataFrame` makes it load only the appended rows' meta. */
class MetaAttachSpec extends SparkTestBase {
  import spark.implicits._

  private val Dim = 4
  private val K = 3

  private def vecs(n: Int, seed: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => Array.fill(Dim)(rnd.nextFloat()))
  }

  private def freshDb(): VecDB =
    new VecDB(spark, Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString)

  private def queryDf(qs: Seq[Array[Float]]): DataFrame =
    qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("query_id", "query_vec")

  /** One search of "t" checked against a full scan of the table: every hit
    * carries its row's meta (null included), and every query finds its own
    * row first. Returns the meta rows the search loaded. */
  private def searchChecked(db: VecDB, qs: Seq[Array[Float]],
      pattern: Map[String, String] = Map.empty): Long = {
    val truth = db.table("t").select(col("id"), col("meta")).collect()
      .map(r => r.getLong(0) -> r.getMap[String, String](1)).toMap
    val loaded0 = CacheStats.metaRowsLoaded.get
    val got = db.searchBatch("t", queryDf(qs), K, ef = Some(200),
      pattern = pattern).collect()
    val loaded = CacheStats.metaRowsLoaded.get - loaded0
    assert(got.length == qs.length * K)
    got.foreach { r =>
      val id = r.getAs[Long]("id")
      val meta = r.getMap[String, String](r.fieldIndex("meta"))
      assert(truth.contains(id), s"hit $id is not a table row")
      assert(meta == truth(id), s"id $id: meta $meta, row holds ${truth(id)}")
      pattern.foreach { case (k, v) => assert(meta(k) == v) }
    }
    val firsts = got.groupBy(_.getAs[Long]("query_id")).values
      .map(_.minBy(_.getAs[Double]("distance")).getAs[Double]("distance"))
    if (pattern.isEmpty) assert(firsts.forall(_ < 1e-9), "a query missed its own row")
    loaded
  }

  private def meta(i: Int): Map[String, String] = i % 5 match {
    case 0 => null
    case 1 => Map.empty
    case 2 => Map("i" -> i.toString, "g" -> "even", "note" -> null)
    case _ => Map("i" -> i.toString, "g" -> (if (i % 2 == 0) "even" else "odd"),
      "name" -> s"ü-$i-名")
  }

  test("every hit's meta equals its row's through appends, deletes, recreate and eviction") {
    val db = freshDb()
    db.createTableIfNotExists("t", Dim, "l2sqr")
    val base = vecs(40, 1)
    db.batchAdd("t", base, base.indices.map(meta))
    db.buildHnswIndex("t")
    assert(searchChecked(db, base.take(4)) == 40) // cold: the whole table
    assert(searchChecked(db, base.slice(4, 8)) == 0) // warm: nothing

    // batchAdd hands the appended rows' meta to the cache: nothing loads
    val added = vecs(7, 2)
    db.batchAdd("t", added, added.indices.map(i => meta(40 + i)))
    assert(searchChecked(db, added.take(5)) == 0)
    assert(searchChecked(db, base.take(2) ++ added.takeRight(2)) == 0)

    // addDataFrame, with and without a meta column: exactly the appended
    // rows load
    val df1 = vecs(5, 3)
    db.addDataFrame("t", df1.zipWithIndex.map { case (v, i) =>
      (v, meta(47 + i)) }.toDF("vec", "meta"))
    assert(searchChecked(db, df1) == 5)
    val df2 = vecs(4, 4)
    db.addDataFrame("t", df2.map(Tuple1(_)).toDF("vec"))
    assert(searchChecked(db, df2) == 4)

    // pattern-filtered search
    searchChecked(db, base.take(3) ++ df1.take(2), pattern = Map("g" -> "even"))

    // delete rewrites the survivors under a new version: a full reload
    val live = db.table("t").count()
    val removed = db.delete("t", Map("g" -> "odd"))
    assert(removed > 0)
    val survivors = db.table("t").select("vec").as[Array[Float]].collect().toSeq
    assert(searchChecked(db, survivors.take(6)) == live - removed)
    assert(searchChecked(db, survivors.takeRight(3)) == 0)

    // delete + recreate under the same key: same ids, new meta
    db.deleteTable("t")
    db.createTableIfNotExists("t", Dim, "l2sqr")
    val again = vecs(12, 5)
    db.batchAdd("t", again, again.indices.map(i => Map("again" -> i.toString)))
    assert(searchChecked(db, again.take(4)) == 0)

    // a budget too small to keep anything resident: answers unchanged
    val saved = VecDB.sidecarCacheMaxBytes
    try {
      VecDB.sidecarCacheMaxBytes = 1L
      db.batchAdd("t", vecs(3, 6), Seq.fill(3)(Map("tiny" -> "1")))
      (0 until 2).foreach(_ => searchChecked(db, again.slice(4, 8)))
    } finally VecDB.sidecarCacheMaxBytes = saved
    db.close()
  }
}
