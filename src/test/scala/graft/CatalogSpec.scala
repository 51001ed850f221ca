package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import graft.catalog.VecDB

/** Catalog/CRUD lifecycle — ports `/root/reference/examples/test_pyo3.py`
  * end-to-end plus the invalidation invariants (add keeps HNSW / clears PQ,
  * delete clears both), dim enforcement, key sanitization, and the
  * (ef, pq) search-dispatch matrix. */
class CatalogSpec extends SparkTestBase {

  private def freshDb(): VecDB =
    new VecDB(spark, Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString)

  test("test_pyo3 scenario: lifecycle, invalidation, bounded search") {
    val db = freshDb()
    db.getAllKeys.foreach(db.deleteTable)
    assert(db.getAllKeys.isEmpty)

    db.createTableIfNotExists("table_1", 4)
    db.add("table_1", Array(1f, 0f, 0f, 0f), Map("content" -> "a"))
    db.add("table_1", Array(0f, 1f, 0f, 0f), Map("content" -> "b"))
    db.buildHnswIndex("table_1")
    db.add("table_1", Array(0f, 0f, 1f, 0f), Map("content" -> "c"))
    db.add("table_1", Array(0f, 0f, 1f, 1f), Map("content" -> "d", "type" -> "oops"))
    assert(db.hasHnswIndex("table_1"), "Add operation should not clear HNSW index")

    assert(db.delete("table_1", Map("type" -> "oops")) == 1)
    assert(db.getLen("table_1") == 3)
    assert(!db.hasHnswIndex("table_1"),
      "HNSW index should be cleared when a vector is deleted")

    db.buildHnswIndex("table_1")
    db.buildPqTable("table_1", trainProportion = Some(0.5))
    val result = db.search("table_1", Array(1f, 0f, 0f, 0f), 3,
      ef = None, upperBound = Some(0.5))
    assert(result.length == 1)
    assert(result.head._1("content") == "a")
  }

  test("create is idempotent; delete_table removes everything") {
    val db = freshDb()
    db.createTableIfNotExists("t", 3, "l2sqr")
    db.createTableIfNotExists("t", 3, "l2sqr")
    assert(db.getAllKeys == Seq("t"))
    assert(db.getDim("t") == 3 && db.getDist("t") == "l2sqr")
    db.add("t", Array(1f, 2f, 3f))
    db.deleteTable("t")
    assert(!db.containsKey("t") && db.getAllKeys.isEmpty)
  }

  test("dimension mismatch raises on add") {
    val db = freshDb()
    db.createTableIfNotExists("t", 4)
    intercept[IllegalArgumentException] {
      db.add("t", Array(1f, 2f))
    }
  }

  test("sanitize_key: charset filter, 32-char cap, uniquification") {
    val db = freshDb()
    assert(db.sanitizeKey("hello world!") == "hello_world_")
    assert(db.sanitizeKey("a" * 40).length == 32)
    assert(db.sanitizeKey("中文key") == "中文key") // non-ASCII kept
    db.createTableIfNotExists("a b", 2) // filename a_b
    db.createTableIfNotExists("a_b", 2) // collides → a_b_1
    assert(db.getAllKeys.toSet == Set("a b", "a_b"))
    db.add("a b", Array(1f, 0f), Map("who" -> "space"))
    db.add("a_b", Array(0f, 1f), Map("who" -> "underscore"))
    assert(db.search("a b", Array(1f, 0f), 1).head._1("who") == "space")
    assert(db.search("a_b", Array(0f, 1f), 1).head._1("who") == "underscore")
  }

  test("build_pq_table validation rules") {
    val db = freshDb()
    db.createTableIfNotExists("t", 6)
    intercept[IllegalArgumentException] { db.buildPqTable("t") } // empty table
    (0 until 20).foreach(i => db.add("t", Array.fill(6)(i.toFloat)))
    intercept[IllegalArgumentException] { db.buildPqTable("t", trainProportion = Some(1.5)) }
    intercept[IllegalArgumentException] { db.buildPqTable("t", nBits = Some(5)) }
    intercept[IllegalArgumentException] { db.buildPqTable("t", m = Some(7)) }
    db.buildPqTable("t", trainProportion = Some(0.5))
    assert(db.hasPqTable("t"))
    db.buildPqTable("t") // idempotent skip
    // add clears PQ
    db.add("t", Array.fill(6)(1f))
    assert(!db.hasPqTable("t"))
  }

  test("search dispatch: all four (ef, pq) x index combinations agree on self-hit") {
    val db = freshDb()
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 40).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val q = vecs(7)
    // (None, no pq) → Flat knn
    val flat = db.search("t", q, 3)
    assert(flat.head._1("i") == "7" && flat.head._2 < 1e-9)
    // (Some ef, no pq, flat) → ef ignored
    assert(db.search("t", q, 3, ef = Some(10)) == flat)
    // (None, _) with HNSW
    db.buildHnswIndex("t")
    val viaHnsw = db.search("t", q, 3)
    assert(viaHnsw.head._1("i") == "7")
    // (Some ef, pq) → knn_pq with exact re-rank
    db.buildPqTable("t", trainProportion = Some(0.5), m = Some(4))
    val viaPq = db.search("t", q, 3, ef = Some(20))
    assert(viaPq.head._1("i") == "7" && viaPq.head._2 < 1e-9)
  }

  test("hnsw sidecar: rows added after build are searchable through the index") {
    val db = freshDb()
    db.createTableIfNotExists("t", 4, "l2sqr")
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 30).map(_ => Array.fill(4)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    // appended after the build — must be found via the subgraph-union append
    db.add("t", Array(9f, 9f, 9f, 9f), Map("i" -> "new"))
    assert(db.hasHnswIndex("t"))
    val hit = db.search("t", Array(9f, 9f, 9f, 9f), 1)
    assert(hit.head._1("i") == "new" && hit.head._2 < 1e-9)
  }

  test("exclusive db.lock: second open fails until close (test_try_lock.py)") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    val ex = intercept[IllegalStateException] { new VecDB(spark, root) }
    assert(ex.getMessage.contains("Failed to lock"))
    db.close()
    val db2 = new VecDB(spark, root) // released → acquirable
    db2.close()
    db.close() // idempotent
  }

  test("ivf sidecar: dispatcher probes the partitioned layout; add appends; delete clears") {
    val db = freshDb()
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 40).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(9), 5) // Flat baseline (no index yet)
    db.buildIvfIndex("t", k = 5)
    assert(db.hasIvfIndex("t"))
    // ef → n_probes; probing every cluster reproduces the exact result
    assert(db.search("t", vecs(9), 5, ef = Some(5)) == flat)
    // default-probe path (no ef): self-hit survives partial probing
    assert(db.search("t", vecs(9), 1).head._1("i") == "9")
    // incremental add: assigned + appended into the layout
    db.add("t", Array.fill(8)(9f), Map("i" -> "new"))
    assert(db.hasIvfIndex("t"))
    assert(db.search("t", Array.fill(8)(9f), 1, ef = Some(2)).head._1("i") == "new")
    // delete clears the sidecar
    db.delete("t", Map("i" -> "new"))
    assert(!db.hasIvfIndex("t"))
  }

  test("sq sidecar: build/serve/invalidate; routed IVFSQ partition-prunes; ivf clear cascades") {
    val db = freshDb()
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 60).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(7), 5)
    // plain SQ sidecar: coarse+rerank serving arm; ef ≥ n ⇒ exact
    db.buildSqIndex("t")
    assert(db.hasSqIndex("t"))
    val (viaSq, sqServed) = dispatchOne(db, "t", vecs(7), 5, ef = Some(200))
    assert(viaSq == flat)
    assert(sqServed.arm == "sq_rerank_serve")
    // no ef → corpus-scaled default budget; self-hit survives
    val (self, selfServed) = dispatchOne(db, "t", vecs(7), 1)
    assert(self.head._1("i") == "7")
    assert(selfServed.arm == "sq_rerank_serve")
    // P3 upper bound applies on the EXACT re-ranked distances
    assert(db.search("t", vecs(7), 5, ef = Some(200), upperBound = Some(0.3))
      == flat.filter(_._2 <= 0.3))
    // append clears the sidecar (the PQ rule for the whole quantized family)
    db.add("t", Array.fill(8)(0.9f), Map("i" -> "new"))
    assert(!db.hasSqIndex("t"))
    val flat2 = db.search("t", vecs(7), 5)
    // rebuild over an IVF index ⇒ cluster-partitioned IVFSQ serving
    db.buildIvfIndex("t", k = 4, defaultNProbes = 4)
    db.buildSqIndex("t")
    import spark.implicits._
    val q = Seq((0L, vecs(7))).toDF("query_id", "query_vec")
    val served = db.dispatch("t", q, 5, ef = Some(200))
    val hits = served.frame
    assert(served.arm == "sq_ivf")
    val got = hits.orderBy("distance", "id").collect()
      .map(r => (Option(r.getAs[Map[String, String]]("meta")).getOrElse(Map.empty),
        r.getAs[Double]("distance"))).toSeq
    assert(got == flat2)
    // (the PartitionFilters plan assert for the probed byte scan lives in
    // SqSpec — the serving meta-attach collects the hits into a local
    // relation, so the returned plan no longer contains the parquet scan)
    // clearing the IVF index cascades to the routed SQ sidecar (its probe
    // lists live in the IVF centroids)
    db.clearIvfIndex("t")
    assert(!db.hasSqIndex("t") && !db.hasIvfIndex("t"))
    db.close()
  }

  test("coverage-aware dispatch: prune-void batches serve the flat twin, forced-off serves partitioned, same rows") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_cov").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 60).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildIvfIndex("t", k = 4, defaultNProbes = 4)
    db.buildSqIndex("t") // routed build writes the flat twin (r18)
    import spark.implicits._
    val q = Seq((0L, vecs(9))).toDF("query_id", "query_vec")
    // the rows, the arm and the coverage arm of one search
    def served() = {
      val d = db.dispatch("t", q, 5, ef = Some(200))
      (d.frame.orderBy("distance", "id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance"))).toSeq,
        d.arm, d.coarse.flatMap(_.coverage).getOrElse(""))
    }
    // np=4 of kc=4 ⇒ probe coverage 1.0 ≥ default threshold: flat twin
    val (viaFlat, sqArm, sqCover) = served()
    assert(sqArm == "sq_ivf")
    assert(sqCover == "flat", s"arm=$sqCover")
    // threshold forced past 1.0: the same search serves the partitioned
    // layout — identical rows (the dispatch is purely physical)
    val saved = graft.operators.CoarseMerge.coverageFlatThreshold
    val (viaPart, _, partCover) = try {
      graft.operators.CoarseMerge.coverageFlatThreshold = 2.0
      served()
    } finally graft.operators.CoarseMerge.coverageFlatThreshold = saved
    assert(partCover == "partitioned")
    assert(viaPart == viaFlat)
    // pre-r18 sidecar (no flat twin on disk): coverage 1.0 still serves
    // the partitioned layout instead of failing
    val flatDirs = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.filter(p => p.toString.endsWith("sq/flat"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
      finally s.close()
    }
    assert(flatDirs.nonEmpty, "routed SQ build did not write the flat twin")
    flatDirs.foreach(deleteDir)
    val (viaOld, _, oldCover) = served()
    assert(oldCover == "partitioned",
      "missing flat twin must fall back to the partitioned layout")
    assert(viaOld == viaFlat)
    // BQ twin of the same dispatch (SQ outranks BQ in the matrix — clear it)
    db.clearSqIndex("t")
    db.buildBqIndex("t")
    val (bqFlat, bqArm, bqCover) = served()
    assert(bqArm == "bq_ivf")
    assert(bqCover == "flat")
    val (bqPart, _, bqPartCover) = try {
      graft.operators.CoarseMerge.coverageFlatThreshold = 2.0
      served()
    } finally graft.operators.CoarseMerge.coverageFlatThreshold = saved
    assert(bqPartCover == "partitioned")
    assert(bqPart == bqFlat)
    db.close()
  }

  test("bq sidecar: centered serving, exact at exhaustive candidates, delete clears, reopen persists") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_bq").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(17)
    // shift +2: all-positive corpus — raw sign bits would be identical on
    // every row; the centered sidecar must still serve exactly
    val vecs = (0 until 50).map(_ => Array.fill(8)(rnd.nextFloat() + 2f))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(3), 5)
    db.buildBqIndex("t")
    assert(db.hasBqIndex("t"))
    val (viaBq, bqServed) = dispatchOne(db, "t", vecs(3), 5, ef = Some(200))
    assert(viaBq == flat)
    assert(bqServed.arm == "bq_rerank_serve")
    // delete-by-pattern clears the sidecar
    db.delete("t", Map("i" -> "49"))
    assert(!db.hasBqIndex("t"))
    // brief round-trips the bq field across reopen
    db.buildBqIndex("t")
    db.close()
    val db2 = new VecDB(spark, root)
    assert(db2.hasBqIndex("t"))
    val flat3 = flat.filterNot(_._1("i") == "49")
    val (reopened, reServed) = dispatchOne(db2, "t", vecs(3), 5, ef = Some(200))
    assert(reopened.take(flat3.length) == flat3)
    assert(reServed.arm == "bq_rerank_serve")
    db2.close()
  }

  test("bq sidecar routed under IVF: bq_ivf arm, exact at exhaustive budgets, IVF clear cascades") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_bqivf").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(23)
    // +2 shift: all-positive corpus — the routed arm must serve through
    // the CENTERED thresholds like its flat sibling
    val vecs = (0 until 60).map(_ => Array.fill(8)(rnd.nextFloat() + 2f))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(7), 5)
    // building BQ over an IVF index writes the packed words cluster-
    // partitioned and the dispatch serves IVF-BQ (both stages pruned)
    db.buildIvfIndex("t", k = 4, defaultNProbes = 4)
    db.buildBqIndex("t")
    assert(db.hasBqIndex("t"))
    import spark.implicits._
    val q = Seq((0L, vecs(7))).toDF("query_id", "query_vec")
    val served = db.dispatch("t", q, 5, ef = Some(200))
    val hits = served.frame
    assert(served.arm == "bq_ivf")
    val got = hits.orderBy("distance", "id").collect()
      .map(r => (Option(r.getAs[Map[String, String]]("meta")).getOrElse(Map.empty),
        r.getAs[Double]("distance"))).toSeq
    assert(got == flat)
    // default probes (np < kc) still find the self-hit through the prune
    val (self, selfServed) = dispatchOne(db, "t", vecs(7), 1)
    assert(self.head._1("i") == "7")
    assert(selfServed.arm == "bq_ivf")
    // the brief round-trips `routed` across reopen
    db.close()
    val db2 = new VecDB(spark, root)
    val reServed = db2.dispatch("t", q, 5, ef = Some(200))
    assert(reServed.frame.count() == 5)
    assert(reServed.arm == "bq_ivf")
    // clearing the IVF index cascades to the routed BQ sidecar (its probe
    // lists live in the IVF centroids)
    db2.clearIvfIndex("t")
    assert(!db2.hasBqIndex("t") && !db2.hasIvfIndex("t"))
    db2.close()
  }

  test("exhaustive-exact guard compares against LIVE rows, not nextId, after deletes") {
    // r19 ADVICE: nextId exceeds the live count after deletes, so a caller
    // passing candidates >= live corpus (the exact-KNN contract) could be
    // auto-routed to approx selection on an nq-large batch. The guard now
    // reads the maintained live-row counter.
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_live").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 100).map(_ => Array.fill(8)(rnd.nextFloat() - 0.5f))
    db.batchAdd("t", vecs, vecs.indices.map(i =>
      Map("kept" -> (if (i < 50) "yes" else "no"), "i" -> i.toString)))
    // delete half: live = 50, nextId = 100
    assert(db.delete("t", Map("kept" -> "no")) == 50L)
    assert(db.getLen("t") == 50L)
    db.buildBqIndex("t")
    import spark.implicits._
    val q = (0 until 4).map(i => (i.toLong, vecs(i))).toDF("query_id", "query_vec")
    val saved = graft.operators.CoarseMerge.approxNqThreshold
    try {
      graft.operators.CoarseMerge.approxNqThreshold = 4
      // candidates = 60: >= live corpus (50) but < nextId (100) — the
      // exact-KNN contract applies and the dispatch must NOT pick approx
      val exhaustive = db.dispatch("t", q, 5, ef = Some(60))
      exhaustive.frame.count()
      assert(exhaustive.arm == "bq_rerank_serve")
      assert(exhaustive.coarse.exists(_.path != "approx"),
        "exhaustive budget (candidates >= live rows) was auto-routed to approx")
      // below the live corpus the auto rule applies as before
      val budgeted = db.dispatch("t", q, 5, ef = Some(20))
      budgeted.frame.count()
      assert(budgeted.coarse.exists(_.path == "approx"))
    } finally graft.operators.CoarseMerge.approxNqThreshold = saved
    // the counter survives reopen (persisted in the brief)
    db.close()
    val db2 = new VecDB(spark, root)
    try {
      graft.operators.CoarseMerge.approxNqThreshold = 4
      val reopened = db2.dispatch("t", q, 5, ef = Some(60))
      reopened.frame.count()
      assert(reopened.coarse.exists(_.path != "approx"))
    } finally graft.operators.CoarseMerge.approxNqThreshold = saved
    db2.close()
  }

  test("sidecar cache: clear+rebuild cycles never serve a stale file index") {
    // (created, version, nextId) are all UNCHANGED by an index
    // clear+rebuild, so the cache must key on an index generation too —
    // otherwise the second search plans against the overwritten parquet's
    // deleted part files (FileNotFoundException) or stale codes
    val db = freshDb()
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 50).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(5), 5)
    db.buildSqIndex("t")
    assert(db.search("t", vecs(5), 5, ef = Some(200)) == flat) // caches DFs
    db.clearSqIndex("t")
    db.buildSqIndex("t") // same path, same (created, version, nextId)
    assert(db.search("t", vecs(5), 5, ef = Some(200)) == flat)
    // the routed generation too: IVF + BQ rebuilt under the same stamp
    // (SQ outranks BQ in the dispatch — drop it so the bq_ivf arm serves)
    db.clearSqIndex("t")
    db.buildIvfIndex("t", k = 4, defaultNProbes = 4)
    db.buildBqIndex("t")
    import spark.implicits._
    val q = Seq((0L, vecs(5))).toDF("query_id", "query_vec")
    assert(db.searchBatch("t", q, 5, ef = Some(200)).count() == 5)
    db.clearIvfIndex("t") // cascades BQ
    db.buildIvfIndex("t", k = 4, defaultNProbes = 4)
    db.buildBqIndex("t")
    val served = db.dispatch("t", q, 5, ef = Some(200))
    val got = served.frame
      .orderBy("distance", "id").collect()
      .map(r => (Option(r.getAs[Map[String, String]]("meta")).getOrElse(Map.empty),
        r.getAs[Double]("distance"))).toSeq
    assert(served.arm == "bq_ivf")
    assert(got == flat)
    db.close()
  }

  test("sidecar cache: byte-budgeted LRU evicts under a forced tiny budget, serving stays correct") {
    // a catalog serving hundreds of tables must not accumulate file
    // indexes + model arrays without bound on the driver — the cache
    // rides the shared ByteLru; residency is a latency optimization only
    val db = freshDb()
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 50).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(5), 5)
    db.buildIvfIndex("t", k = 4, defaultNProbes = 4)
    db.buildSqIndex("t") // routed arm: 2 pre-listed DFs + 2 models cached
    val saved = VecDB.sidecarCacheMaxBytes
    try {
      VecDB.sidecarCacheMaxBytes = 1L // every insert evicts everything else
      (0 until 3).foreach { _ =>
        val (got, served) = dispatchOne(db, "t", vecs(5), 5, ef = Some(200))
        assert(got == flat)
        assert(served.arm == "sq_ivf")
      }
      // the oversized-entry rule keeps only the most recent insert
      assert(db.sidecarCacheEntries <= 1,
        s"entries=${db.sidecarCacheEntries} bytes=${db.sidecarCacheBytes}")
    } finally VecDB.sidecarCacheMaxBytes = saved
    // budget restored: the working set repopulates and serving is unchanged
    assert(db.search("t", vecs(5), 5, ef = Some(200)) == flat)
    assert(db.sidecarCacheEntries >= 2 &&
      db.sidecarCacheBytes <= VecDB.sidecarCacheMaxBytes)
    db.close()
  }

  test("plain IVF / PQ / routed arms serve models + listings from the sidecar cache, correct across index generations") {
    // r20: ivfSearch / loadPqModel / loadRouteModel went through the
    // sidecar cache (they re-read + collected centroid parquet per batch);
    // residency must never affect results, and a clear+rebuild (new
    // generation) must not serve the stale model
    val db = freshDb()
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(43)
    val vecs = (0 until 60).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(7), 5)
    db.buildIvfIndex("t", k = 4, defaultNProbes = 4)
    val (viaIvf, ivfServed) = dispatchOne(db, "t", vecs(7), 5, ef = Some(4))
    assert(ivfServed.arm == "ivf")
    assert(viaIvf == flat) // np=4 of 4 clusters = exhaustive
    val entriesAfterFirst = db.sidecarCacheEntries
    assert(entriesAfterFirst >= 2, // data listing + centroid model
      s"ivf arm cached nothing: entries=$entriesAfterFirst")
    // repeat batches hit the cache (no new entries) and match
    assert(db.search("t", vecs(7), 5, ef = Some(4)) == viaIvf)
    assert(db.sidecarCacheEntries == entriesAfterFirst)
    // new generation: rebuild with DIFFERENT k — stale centroids would
    // probe wrong clusters; the bumped stamp must reload
    db.clearIvfIndex("t")
    db.buildIvfIndex("t", k = 2, defaultNProbes = 2)
    val (rebuilt, rebuiltServed) = dispatchOne(db, "t", vecs(7), 5, ef = Some(2))
    assert(rebuilt == flat)
    assert(rebuiltServed.arm == "ivf")
    db.clearIvfIndex("t")
    // PQ arm: codebook + codes listing served from the cache
    db.buildPqTable("t", m = Some(4), nBits = Some(8))
    val (viaPq, pqServed) = dispatchOne(db, "t", vecs(7), 5, ef = Some(60))
    assert(pqServed.arm.startsWith("pq_"))
    (0 until 2).foreach { _ =>
      assert(db.search("t", vecs(7), 5, ef = Some(60)) == viaPq)
    }
    db.close()
  }

  test("appends keep the IVF and routing centroids cached; a rebuild reloads them") {
    // centroids are fixed by the build: an append lands rows under them,
    // so neither the append path nor the next search may re-read them —
    // while the appended rows must still be found (listings do refresh)
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    val rnd = new scala.util.Random(47)
    val vecs = (0 until 60).map(_ => Array.fill(8)(rnd.nextFloat()))
    Seq("v", "r").foreach { t =>
      db.createTableIfNotExists(t, 8, "l2sqr")
      db.batchAdd(t, vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    }
    db.buildIvfIndex("v", k = 4, defaultNProbes = 4)
    db.buildIvfHnswIndex("r", kClusters = 4, defaultNProbes = 4,
      trainProportion = Some(0.5))
    db.broadcastGateBytes = Some(1L) // "r" dispatch takes the routed arm
    // "v": ef = 4 = nProbes, exhaustive IVF; "r": full probes + ef = 200
    def find(t: String, v: Array[Float]): (Map[String, String], Double) = {
      val (hit, served) = dispatchOne(db, t, v, 1,
        ef = Some(if (t == "v") 4 else 200))
      assert(served.arm == (if (t == "v") "ivf" else "hnsw"))
      hit.head
    }
    def appendAndFind(j: Int): Unit = Seq("v", "r").foreach { t =>
      val v = Array.fill(8)(5f + j)
      db.add(t, v, Map("i" -> s"new$j"))
      val (meta, d) = find(t, v)
      assert(meta("i") == s"new$j" && d < 1e-6, t)
    }
    try {
      appendAndFind(0) // first search of each table loads its centroids
      val loads = db.fixedLoads.get
      (1 to 3).foreach(appendAndFind)
      assert(db.fixedLoads.get == loads,
        s"appends re-read centroids: ${db.fixedLoads.get - loads} loads")
      // a rebuild fixes new centroids: the stale model must not serve
      db.clearIvfIndex("v")
      db.buildIvfIndex("v", k = 2, defaultNProbes = 2)
      val (meta, d) = find("v", vecs(7))
      assert(meta("i") == "7" && d < 1e-6)
      assert(db.fixedLoads.get > loads)
    } finally db.broadcastGateBytes = None
    db.close()
  }

  test("broadcast gates are byte-based: high-dim big tables are ineligible") {
    // rows × dim decides, not rows alone — the row gate let a 1M × d960
    // index (~4 GB of vectors) through the broadcast path
    assert(VecDB.hnswBroadcastEligible(10000, 960))
    assert(!VecDB.hnswBroadcastEligible(1000000, 960))
    assert(VecDB.hnswBroadcastEligible(1000000, 64))
    assert(!VecDB.pqServeEligible(1000000, 960, 320))
    assert(VecDB.pqServeEligible(10000, 960, 320))
  }

  test("repeated adds compact the HNSW sidecar; searches stay complete") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 4, "l2sqr")
    val rnd = new scala.util.Random(5)
    db.batchAdd("t", (0 until 20).map(_ => Array.fill(4)(rnd.nextFloat())),
      (0 until 20).map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    // 24 one-row adds would accrete 24 delta subgraphs without compaction
    (0 until 24).foreach { j =>
      db.add("t", Array.fill(4)(rnd.nextFloat()), Map("i" -> s"add$j"))
    }
    val idx = spark.read.parquet(
      java.nio.file.Paths.get(root, "t", "hnsw").toString)
    val pids = idx.select("pid").distinct().count()
    assert(pids <= 16, s"sidecar fragmented into $pids subgraphs")
    // every row still reachable through the compacted index
    val all = db.search("t", Array(0.5f, 0.5f, 0.5f, 0.5f), 44)
    assert(all.length == 44)
  }

  test("addDataFrame: contiguous ids across adds, meta optional, sidecar upkeep") {
    import spark.implicits._
    val db = freshDb()
    db.createTableIfNotExists("t", 4, "l2sqr")
    val rnd = new scala.util.Random(7)
    def vecDf(n: Int, withMeta: Boolean) = {
      val rows = (0 until n).map(i => (Array.fill(4)(rnd.nextFloat()), Map("i" -> i.toString)))
      if (withMeta) rows.toDF("vec", "meta").repartition(3)
      else rows.map(_._1).toDF("vec").repartition(3)
    }
    assert(db.addDataFrame("t", vecDf(25, withMeta = true)) == 25)
    db.buildHnswIndex("t")
    db.buildPqTable("t", trainProportion = Some(0.5), m = Some(4))
    // second add: ids continue contiguously, PQ cleared, HNSW kept fresh
    assert(db.addDataFrame("t", vecDf(15, withMeta = false)) == 15)
    assert(!db.hasPqTable("t"), "addDataFrame must clear the PQ sidecar")
    assert(db.hasHnswIndex("t"), "addDataFrame must keep HNSW (appended subgraph)")
    val ids = db.table("t").select("id").as[Long].collect().sorted
    assert(ids.sameElements(0L until 40L), s"ids not contiguous: ${ids.take(50).mkString(",")}")
    // meta-less rows carry null metadata and are searchable through the index
    val nullMeta = db.table("t").filter(org.apache.spark.sql.functions.col("meta").isNull).count()
    assert(nullMeta == 15)
    assert(db.search("t", Array(0.5f, 0.5f, 0.5f, 0.5f), 40).length == 40)
    // empty input: no-op, nextId unchanged
    assert(db.addDataFrame("t", Seq.empty[Array[Float]].toDF("vec")) == 0)
    assert(db.getLen("t") == 40)
  }

  test("addDataFrame rejects dimension mismatches and null elements") {
    import spark.implicits._
    val db = freshDb()
    db.createTableIfNotExists("t", 3, "l2sqr")
    intercept[IllegalArgumentException] {
      db.addDataFrame("t", Seq(Array(1f, 2f)).toDF("vec"))
    }
    intercept[IllegalArgumentException] {
      db.addDataFrame("t", spark.sql(
        "SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(2.0 AS FLOAT)) AS vec"))
    }
    assert(db.getLen("t") == 0, "rejected adds must not write rows")
  }

  test("heal restores an intact graph from hnsw_old after a crashed compaction swap") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 4, "l2sqr")
    val rnd = new scala.util.Random(13)
    db.batchAdd("t", (0 until 30).map(_ => Array.fill(4)(rnd.nextFloat())),
      (0 until 30).map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    val before = db.search("t", Array(0.5f, 0.5f, 0.5f, 0.5f), 5)
    // simulate a crash between compactHnsw's two moves: hnsw renamed aside,
    // replacement never landed (plus a stale tmp left behind)
    val dir = java.nio.file.Paths.get(root, "t", "hnsw")
    val old = java.nio.file.Paths.get(root, "t", "hnsw_old")
    val tmp = java.nio.file.Paths.get(root, "t", "hnsw_tmp")
    Files.move(dir, old)
    Files.createDirectories(tmp)
    assert(db.search("t", Array(0.5f, 0.5f, 0.5f, 0.5f), 5) == before)
    assert(db.hasHnswIndex("t"), "heal must restore from hnsw_old, not degrade to Flat")
    assert(Files.exists(dir) && !Files.exists(old) && !Files.exists(tmp))
    // nothing recoverable → degrade to Flat (old behavior), results intact
    deleteDir(dir)
    assert(db.search("t", Array(0.5f, 0.5f, 0.5f, 0.5f), 5) == before)
    assert(!db.hasHnswIndex("t"))
  }

  private def deleteDir(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

  test("routed HNSW sidecar: beyond-gate routing is exact at full probes, degrades to union, append stays visible") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextFloat() * 10f))
    val vecs = (0 until 120).map(i =>
      centers(i % 4).map(x => x + rnd.nextFloat() * 0.1f))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(7), 5, ef = Some(200)) // Flat (no index)
    db.buildIvfHnswIndex("t", kClusters = 4, defaultNProbes = 4,
      trainProportion = Some(0.5))
    assert(db.hasHnswIndex("t"))
    // shrink the broadcast gate so dispatch takes the pinned routed arm
    // (instance-level override — the JVM-wide sys-prop stays untouched)
    db.broadcastGateBytes = Some(1L)
    try {
      // full probes (routeProbes = kClusters) + generous ef ⇒ exact
      assert(db.search("t", vecs(7), 5, ef = Some(200)) == flat)
      // append after build: the delta subgraph's pid ≥ kClusters is outside
      // the routing partition, so the routed walk must always include it
      db.add("t", Array.fill(8)(99f), Map("i" -> "new"))
      val hit = db.search("t", Array.fill(8)(99f), 1, ef = Some(200))
      assert(hit.head._1("i") == "new" && hit.head._2 < 1e-6)
      // losing the route sidecar degrades to the unrouted union, not Flat
      deleteDir(java.nio.file.Paths.get(root, "t", "hnsw_route"))
      assert(db.search("t", vecs(7), 5, ef = Some(200)) == flat)
      assert(db.hasHnswIndex("t"))
    } finally db.broadcastGateBytes = None
    // back under the default gate: broadcast arm, same results
    assert(db.search("t", vecs(7), 5, ef = Some(200)) == flat)
    // clear removes the sidecars and the flag
    db.clearHnswIndex("t")
    assert(!db.hasHnswIndex("t"))
    assert(!Files.exists(java.nio.file.Paths.get(root, "t", "hnsw")))
  }

  test("sidecar cache: routed HNSW clear+rebuild with different kClusters never serves stale listings or route models") {
    // ADVICE r20 (high): clearHnswIndex/buildIvfHnswIndex did not bump the
    // sidecar generation, and (created, version, nextId) are unchanged by a
    // clear+rebuild on unchanged data — the cached hnsw-dir file index
    // (deleted part files ⇒ FileNotFoundException) and the cached routing
    // centroids (wrong routing under a different kClusters) would outlive
    // the rebuild. Serving through the cache across the cycle must match.
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(53)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextFloat() * 10f))
    val vecs = (0 until 120).map(i =>
      centers(i % 4).map(x => x + rnd.nextFloat() * 0.1f))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(7), 5, ef = Some(200))
    db.buildIvfHnswIndex("t", kClusters = 4, defaultNProbes = 4,
      trainProportion = Some(0.5))
    db.broadcastGateBytes = Some(1L) // dispatch takes the routed arm
    try {
      // full probes + generous ef ⇒ exact; populates the hnsw listing +
      // route model sidecar entries
      assert(db.search("t", vecs(7), 5, ef = Some(200)) == flat)
      // clear + rebuild with a DIFFERENT kClusters on UNCHANGED data: the
      // stamp's (created, version, nextId) are identical — only the
      // generation bump separates the new sidecars from the cached ones
      db.clearHnswIndex("t")
      db.buildIvfHnswIndex("t", kClusters = 2, defaultNProbes = 2,
        trainProportion = Some(0.5))
      assert(db.search("t", vecs(7), 5, ef = Some(200)) == flat)
      // and once more through the batch path (exercises sidecarDf directly)
      import spark.implicits._
      val q = Seq((0L, vecs(7))).toDF("query_id", "query_vec")
      val got = db.searchBatch("t", q, 5, ef = Some(200))
        .orderBy("distance", "id").collect()
        .map(r => (Option(r.getAs[Map[String, String]]("meta"))
          .getOrElse(Map.empty), r.getAs[Double]("distance"))).toSeq
      assert(got == flat)
    } finally db.broadcastGateBytes = None
    db.close()
  }

  test("routed append with empty high clusters: delta pids land above the routing floor") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 4, "l2sqr")
    // 3 distinct well-separated vectors, each EXACTLY twice: the train set
    // is n ≤ kClusters rows, so the degenerate k-means path makes every
    // row a centroid — duplicate centroids tie-break assignment to the
    // lowest id, so high cluster ids are EMPTY and max(pid)+1 < kClusters.
    // A delta subgraph keyed max(pid)+1 would collide with an empty
    // CLUSTER id and be walked only when that cluster happened to be
    // probed — the appended row silently missing at partial probes.
    val distinct = Seq(Array(0f, 0f, 0f, 0f), Array(10f, 10f, 10f, 10f),
      Array(-10f, 5f, 0f, 3f))
    val vecs = distinct.flatMap(v => Seq(v, v.clone()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildIvfHnswIndex("t", kClusters = 6, defaultNProbes = 1)
    db.broadcastGateBytes = Some(1L)
    try {
      db.add("t", Array(99f, 99f, 99f, 99f), Map("i" -> "new"))
      // delta subgraphs are always walked: the appended row must be found
      // even though 1-probe routing never probes an empty cluster
      val hit = db.search("t", Array(99f, 99f, 99f, 99f), 1, ef = Some(200))
      assert(hit.head._1("i") == "new" && hit.head._2 < 1e-6,
        "appended row lost below the routing floor")
      // pre-existing rows still route to their own cluster at 1 probe
      distinct.foreach { v =>
        assert(db.search("t", v, 1, ef = Some(200)).head._2 < 1e-6)
      }
      // 20 more single-row adds cross the delta-compaction ceiling: the
      // CLUSTER subgraphs must survive compaction untouched (they are the
      // routed layout), deltas merge to pids ≥ the floor, and every row
      // stays reachable
      (0 until 20).foreach { j =>
        db.add("t", Array(50f + j, -j.toFloat, j.toFloat, 0f), Map("i" -> s"d$j"))
      }
      val pids = spark.read.parquet(java.nio.file.Paths.get(root, "t", "hnsw").toString)
        .select("pid").distinct().collect().map(_.getInt(0)).sorted
      val (clusterPids, deltaPids) = pids.partition(_ < 6)
      assert(clusterPids.nonEmpty && clusterPids.forall(_ < 6))
      assert(deltaPids.nonEmpty && deltaPids.forall(_ >= 6),
        s"delta pids below the routing floor: ${pids.mkString(",")}")
      // routed tables compact at the TIGHT ceiling: every routed query
      // walks every delta pid, so 20+ small appends must not fan the walk
      // out past TargetSubgraphs delta subgraphs
      assert(deltaPids.length <= 8,
        s"routed delta fan-out not compacted: ${deltaPids.length} delta pids")
      (0 until 20).foreach { j =>
        val h = db.search("t", Array(50f + j, -j.toFloat, j.toFloat, 0f), 1, ef = Some(200))
        assert(h.head._1("i") == s"d$j" && h.head._2 < 1e-6,
          s"appended row d$j lost after delta compaction")
      }
    } finally db.broadcastGateBytes = None
  }

  test("routed HNSW + PQ: beyond-gate knn_pq dispatch stays exact with exhaustive ef") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 60).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    val flat = db.search("t", vecs(9), 5, ef = Some(200))
    db.buildIvfHnswIndex("t", kClusters = 3, defaultNProbes = 3,
      trainProportion = Some(0.5))
    db.buildPqTable("t", trainProportion = Some(0.5), m = Some(4))
    db.broadcastGateBytes = Some(1L)
    // m=4 at dim=8 is far above the ADC cost gate; force the combined
    // traversal eligible so this test keeps exercising the routed PQ arm
    sys.props("graft.adc.walk.ratio") = "1"
    try {
      // (ef, pq) beyond the gate + routed ⇒ IvfHnsw.searchPinned with pq:
      // exhaustive ef + full probes + exact re-rank ⇒ equals Flat
      val (routed, served) = dispatchOne(db, "t", vecs(9), 5, ef = Some(200))
      assert(routed == flat)
      assert(served.arm == "knn_pq_routed")
    } finally {
      db.broadcastGateBytes = None
      sys.props.remove("graft.adc.walk.ratio")
    }
  }

  test("residual PQ sidecar: routed walk, flat scan on patterns, reopen") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 60).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    // residual requires a routed sidecar — reject before one exists
    intercept[IllegalArgumentException] {
      db.buildPqTable("t", trainProportion = Some(0.5), m = Some(4),
        residual = true)
    }
    val odd = Map("i" -> "^(1|3|5|7|9|11|13|15)$")
    def patHits(d: VecDB, pat: Map[String, String]): (Seq[(Long, Long)], String) = {
      import spark.implicits._
      val q1 = Seq((0L, vecs(9))).toDF("query_id", "query_vec")
      val served = d.dispatch("t", q1, 5, Some(200), pattern = pat)
      (served.frame
        .orderBy("distance", "id").select("id", "distance").collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq,
        served.arm)
    }
    val flat = db.search("t", vecs(9), 5, ef = Some(200))
    val flatOdd = patHits(db, odd)._1
    db.buildIvfHnswIndex("t", kClusters = 3, defaultNProbes = 3,
      trainProportion = Some(0.5))
    db.buildPqTable("t", trainProportion = Some(0.5), m = Some(4),
      residual = true)
    sys.props("graft.adc.walk.ratio") = "1" // m=4 at dim=8: force eligible
    try {
      // small table, broadcast-eligible — but residual codes are
      // per-cluster shifts, so the dispatch MUST pin to the routed walk
      val (routed, served) = dispatchOne(db, "t", vecs(9), 5, ef = Some(200))
      assert(routed == flat)
      assert(served.arm == "knn_pq_routed",
        s"residual table served by '${served.arm}'")
      // pattern search: flat ADC arms can't score residual codes, and an
      // HNSW walk covers the whole table — the exact filtered scan serves
      // it, exact distances, same results
      val (odds, oddArm) = patHits(db, odd)
      assert(odds == flatOdd)
      assert(oddArm == "flat_broadcast",
        s"residual + pattern served by '$oddArm'")
      // the flag must survive the brief round-trip: a reopened catalog
      // that lost it would serve the broadcast arm and mis-score silently
      db.close()
      val db2 = new VecDB(spark, root)
      try {
        val (reopened, reServed) = dispatchOne(db2, "t", vecs(9), 5, ef = Some(200))
        assert(reopened == flat)
        assert(reServed.arm == "knn_pq_routed",
          s"reopened residual table served by '${reServed.arm}'")
      } finally db2.close()
    } finally sys.props.remove("graft.adc.walk.ratio")
  }

  test("PqInfo briefs written before the residual field read as plain") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val old = org.json4s.jackson.Serialization
      .read[graft.catalog.PqInfo]("""{"m":4,"nBits":8}""")
    assert(old == graft.catalog.PqInfo(4, 8, residual = false))
  }

  test("knn_pq cost gate: wide-code quantizers dispatch to the plain HNSW walk") {
    // the gate itself (measured crossover — see VecDB.adcWalkEligible):
    // the reference default m = dim/3 is far above it at any dim
    assert(!VecDB.adcWalkEligible(960, 320))
    assert(VecDB.adcWalkEligible(960, 120))
    assert(VecDB.adcWalkEligible(64, 8))
    // the RAM-bound pinned regime has a wider crossover (ratio 6): m=160
    // codes win there (r11 kernel timing) but stay gated when cache-resident
    assert(VecDB.adcWalkEligible(960, 160, pinned = true))
    assert(!VecDB.adcWalkEligible(960, 160))
    assert(!VecDB.adcWalkEligible(960, 320, pinned = true))
    val db = freshDb()
    db.createTableIfNotExists("t", 12, "l2sqr")
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 40).map(_ => Array.fill(12)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    db.buildPqTable("t", trainProportion = Some(0.5), m = Some(4)) // 4·8 > 12
    val (gated, gatedServed) = dispatchOne(db, "t", vecs(5), 3, ef = Some(100))
    assert(gatedServed.arm == "knn_pq_gated_plain_hnsw",
      s"dispatch picked '${gatedServed.arm}' for a gated (dim=12, m=4) quantizer")
    assert(gated.head._1("i") == "5" && gated.head._2 < 1e-9)
    // narrow codes (ratio forced) keep the combined traversal, same result
    sys.props("graft.adc.walk.ratio") = "1"
    try {
      val (combined, combinedServed) =
        dispatchOne(db, "t", vecs(5), 3, ef = Some(100))
      assert(combinedServed.arm == "knn_pq_broadcast")
      assert(combined == gated)
    } finally sys.props.remove("graft.adc.walk.ratio")
  }

  private def resTriples(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    df.select(col("query_id").cast("long"), col("id").cast("long"),
      col("distance").cast("double"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
  }

  /** A batch search's sorted rows with the arm that served them. */
  private def armTriples(db: VecDB, queries: org.apache.spark.sql.DataFrame)
      : (Seq[(Long, Long, Double)], String) = {
    val served = db.dispatch("t", queries, k = 3, ef = Some(200))
    (resTriples(served.frame), served.arm)
  }

  /** `body` with `-Dgraft.serve.max.queries` set to `n`. */
  private def withServeMaxQueries[T](n: Long)(body: => T): T = {
    sys.props("graft.serve.max.queries") = n.toString
    try body finally sys.props.remove("graft.serve.max.queries")
  }

  test("oversized query batches serve through driver-unbounded shapes") {
    import spark.implicits._
    val db = freshDb()
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 60).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    // limit(6) exposes an exact Catalyst row count to the serve gate
    val queries = vecs.take(6).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("query_id", "query_vec").limit(6)
    val (expect, servedArm) = armTriples(db, queries)
    assert(servedArm == "hnsw")
    withServeMaxQueries(3) {
      // past the gate no arm may collect the batch to the driver — but the
      // HNSW sidecar keeps serving, through the queries-distributed stream
      // walk (r10 verdict item 5: the index must not be ignored exactly
      // when the workload is largest)
      val (viaStream, streamArm) = armTriples(db, queries)
      assert(streamArm == "hnsw_stream",
        s"oversized batch served by '$streamArm'")
      assert(viaStream == expect)
      db.buildPqTable("t", trainProportion = Some(0.5), m = Some(4))
      // (ef, pq) wide-code: same cost gate as the serving arms → plain walk
      val (viaGated, gatedArm) = armTriples(db, queries)
      assert(gatedArm == "knn_pq_stream_gated_plain_hnsw")
      assert(viaGated == expect)
    }
    // without an index the declarative shapes serve: exact KNN join, and
    // the flat ADC scan once a quantizer exists
    val db2 = freshDb()
    db2.createTableIfNotExists("t", 8, "l2sqr")
    db2.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    withServeMaxQueries(3) {
      val (viaExact, exactArm) = armTriples(db2, queries)
      assert(exactArm == "declarative_exact")
      assert(viaExact == expect)
      db2.buildPqTable("t", trainProportion = Some(0.5), m = Some(4))
      val (viaPq, pqArm) = armTriples(db2, queries)
      assert(pqArm == "declarative_pq")
      assert(viaPq == expect) // ef ≥ n ⇒ ADC + exact re-rank is exact
    }
  }

  test("oversized batch on a routed table serves via the indexed stream arm") {
    import spark.implicits._
    val db = freshDb()
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(43)
    val vecs = (0 until 80).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    // full probes (np = kClusters) ⇒ the routed union is exhaustive and
    // gradable against the declarative exact join
    db.buildIvfHnswIndex("t", kClusters = 3, defaultNProbes = 3,
      trainProportion = Some(0.5))
    val queries = vecs.take(7).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("query_id", "query_vec").limit(7)
    val exact = resTriples(
      graft.operators.Knn.exactDeclarative(db.table("t"), queries, 3))
    withServeMaxQueries(3) {
      val (viaStream, streamArm) = armTriples(db, queries)
      assert(streamArm == "hnsw_stream",
        s"oversized routed batch served by '$streamArm'")
      assert(viaStream == exact)
      // narrow-code (ratio forced) (ef, pq): ADC-scored stream walk + exact
      // re-rank, still exact at exhaustive ef
      db.buildPqTable("t", trainProportion = Some(0.5), m = Some(4))
      sys.props("graft.adc.walk.ratio") = "1"
      try {
        val (viaPqStream, pqArm) = armTriples(db, queries)
        assert(pqArm == "knn_pq_stream",
          s"oversized routed (ef, pq) batch served by '$pqArm'")
        assert(viaPqStream == exact)
      } finally sys.props.remove("graft.adc.walk.ratio")
    }
  }

  test("serve gate probes borderline byte estimates instead of de-optimizing") {
    import spark.implicits._
    val db = freshDb()
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(47)
    val vecs = (0 until 40).map(_ => Array.fill(8)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    // a parquet scan has NO Catalyst rowCount (without ANALYZE) — only a
    // byte estimate. With the byte budget forced under that estimate (but
    // within the 10× probe slack), only the bounded count probe can see
    // the batch is actually 4 queries small.
    val qdir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "qbatch").toString
    vecs.take(4).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("query_id", "query_vec")
      .write.mode("overwrite").parquet(qdir)
    val queries = spark.read.parquet(qdir)
    val stats = queries.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.isEmpty, "fixture must exercise the byte fallback")
    db.broadcastGateBytes = Some(stats.sizeInBytes.toLong / 2 + 1)
    try {
      val served = db.dispatch("t", queries, k = 3, ef = Some(200))
      val out = resTriples(served.frame)
      assert(served.gate == "probe:4", s"gate decided via '${served.gate}'")
      assert(served.arm == "hnsw",
        s"estimate-inflated small batch served by '${served.arm}'")
      assert(out.nonEmpty && out.map(_._1).distinct.size == 4)
    } finally db.broadcastGateBytes = None
  }

  test("delete+recreate correctness rests on cacheKey rotation, not eviction") {
    // The cluster story: remote executors never see invalidateCaches —
    // their stale graphs are fenced ONLY by the `created`-stamped cacheKey
    // (VecDB.TableEntry.created). Stub the eviction to a no-op (the remote
    // executor's view) and prove a recreated namesake table with IDENTICAL
    // (version, nextId) never serves the old table's graphs.
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    db.cacheEvictionHook = _ => () // remote executors' view of a delete
    def load(vs: Seq[Array[Float]]): Unit = {
      db.createTableIfNotExists("t", 4, "l2sqr")
      db.batchAdd("t", vs, vs.indices.map(i => Map("i" -> i.toString)))
      db.buildHnswIndex("t")
    }
    val rnd = new scala.util.Random(53)
    val a = (0 until 30).map(_ => Array.fill(4)(rnd.nextFloat()))
    load(a)
    val beforeIds = db.search("t", a(7), 3, ef = Some(100)).map(_._1("i"))
    assert(beforeIds.head == "7")
    val vBefore = db.tableStamp("t")
    db.deleteTable("t")
    // same row count, same build sequence ⇒ identical (version, nextId) —
    // only the created stamp differs
    val b = (0 until 30).map(_ => Array.fill(4)(rnd.nextFloat()))
    load(b)
    val vAfter = db.tableStamp("t")
    assert(vBefore._1 == vAfter._1 && vBefore._2 == vAfter._2,
      s"fixture broke: (version, nextId) $vBefore vs $vAfter must collide")
    assert(vBefore._3 != vAfter._3, "created stamp must rotate")
    // nearest neighbor of b(7) in table B must come from B's data — a
    // stale cached graph for A would answer with A's geometry
    val afterHits = db.search("t", b(7), 3, ef = Some(100))
    assert(afterHits.head._1("i") == "7" && afterHits.head._2 < 1e-9,
      s"recreated table served stale results: $afterHits")
  }

  test("serving metadata attach: collecting a search runs no Spark job and scans no file") {
    import spark.implicits._
    val db = freshDb()
    db.createTableIfNotExists("t", 4, "l2sqr")
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 50).map(_ => Array.fill(4)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    val queries = vecs.take(3).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("query_id", "query_vec")
    db.searchBatch("t", queries, k = 4, ef = Some(200)).collect() // warm
    val out = db.searchBatch("t", queries, k = 4, ef = Some(200))
    // the winners and their meta are resolved before searchBatch returns:
    // the caller's collect must not launch a job (a meta scan, a join)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftshim.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      val rows = out.collect()
      org.apache.spark.graftshim.ListenerDrain(spark.sparkContext)
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"collecting the search result ran ${jobs.get} jobs")
    val planStr = out.queryExecution.executedPlan.toString
    assert(!planStr.contains("FileScan") && planStr.contains("LocalTableScan"),
      s"search result is not a local relation:\n$planStr")
    // correctness: every hit carries its row's metadata
    assert(got.length == 12)
    got.foreach(r => assert(
      r.getAs[Map[String, String]]("meta")("i") == r.getAs[Long]("id").toString))
  }

  test("concurrent creates with colliding sanitized names never cross-delete data") {
    // "c 1", "c.1", "c,1" all sanitize to base "c_1": without the two-phase
    // filename reservation, racing creates could pick the same directory and
    // the loser's cleanup deleted the winner's just-registered data
    val db = freshDb()
    val keys = Seq("c 1", "c.1", "c,1", "c_1")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(keys.length)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = keys.map { k =>
        Future {
          db.createTableIfNotExists(k, 2, "l2sqr")
          db.add(k, Array(1f, 2f), Map("k" -> k))
        }
      }
      Await.result(Future.sequence(futs), scala.concurrent.duration.Duration.Inf)
      keys.foreach { k =>
        assert(db.containsKey(k), s"table '$k' lost")
        assert(db.getLen(k) == 1, s"table '$k' data lost")
        assert(db.search(k, Array(1f, 2f), 1).head._1("k") == k,
          s"table '$k' serving another table's rows")
      }
    } finally pool.shutdown()
  }

  test("delete/create same-key race: the surviving table keeps its data") {
    val db = freshDb()
    db.createTableIfNotExists("d", 2, "l2sqr")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      (0 until 3).foreach { _ =>
        val del = Future { db.deleteTable("d") }
        val cre = Future { db.createTableIfNotExists("d", 2, "l2sqr") }
        Await.result(Future.sequence(Seq(del, cre)),
          scala.concurrent.duration.Duration.Inf)
        if (db.containsKey("d")) {
          // a published entry must have a live data directory behind it
          db.add("d", Array(1f, 1f))
          assert(db.getLen("d") >= 1)
        } else db.createTableIfNotExists("d", 2, "l2sqr")
      }
      // freed names are release-after-removal: a fresh create reuses cleanly
      db.deleteTable("d")
      db.createTableIfNotExists("d", 2, "l2sqr")
      db.add("d", Array(2f, 2f))
      assert(db.getLen("d") == 1)
    } finally pool.shutdown()
  }

  test("rejected addDataFrame leaves nextId untouched; later ids stay contiguous") {
    import spark.implicits._
    val db = freshDb()
    db.createTableIfNotExists("t", 2, "l2sqr")
    assert(db.addDataFrame("t", Seq(Array(1f, 2f)).toDF("vec")) == 1)
    intercept[IllegalArgumentException] {
      db.addDataFrame("t", Seq(Array(1f, 2f, 3f)).toDF("vec"))
    }
    assert(db.addDataFrame("t", Seq(Array(3f, 4f)).toDF("vec")) == 1)
    val ids = db.table("t").select("id").as[Long].collect().sorted
    assert(ids.sameElements(0L until 2L), s"ids not contiguous: ${ids.mkString(",")}")
  }

  test("concurrent searchBatch on one catalog: parallel reads equal the sequential result") {
    // The serving read path is documented lock-free on the healthy snapshot
    // (VecDB doc: searches must not block behind builds), and the
    // executor-side graph/broadcast caches claim thread safety — this
    // drives 8 threads through searchBatch (HNSW and knn_pq arms) against
    // one db and asserts every result equals the single-threaded answer.
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val db = freshDb()
    db.createTableIfNotExists("t", 16, "l2sqr")
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 300).map(_ => Array.fill(16)(rnd.nextFloat()))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    db.buildPqTable("t", trainProportion = Some(0.5), m = Some(4))
    val queries = vecs.take(5).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("query_id", "query_vec")
    def run(ef: Int): Seq[(Long, Long, Double)] =
      db.searchBatch("t", queries, k = 3, ef = Some(ef))
        .select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().sorted.toSeq
    // ef given + PQ sidecar present → the knn_pq combined-walk arm;
    // exhaustive ef makes the expected answer deterministic (== exact)
    val expectHnsw = run(600)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val results = Await.result(
        Future.sequence((0 until 8).map(_ => Future(run(600)))), Duration.Inf)
      results.foreach(r => assert(r == expectHnsw, "concurrent read diverged"))
    } finally pool.shutdown()
  }

  test("buildHnswIndex auto-routes past the broadcast gate") {
    // r12 verdict: the beyond-gate unrouted union walks EVERY subgraph per
    // query (3.6× behind routed at 1M); plain buildHnswIndex must steer
    // large tables to the routed layout unless explicitly opted out.
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    val rnd = new scala.util.Random(31)
    def mkTable(name: String): Unit = {
      db.createTableIfNotExists(name, 8, "l2sqr")
      val vecs = (0 until 200).map(_ => Array.fill(8)(rnd.nextFloat() * 10f))
      db.batchAdd(name, vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    }
    def routed(name: String): Boolean =
      Files.exists(java.nio.file.Paths.get(root, name, "hnsw_route"))
    mkTable("big"); mkTable("bigForced"); mkTable("small")
    db.broadcastGateBytes = Some(1L) // every table is "beyond the gate"
    try {
      db.buildHnswIndex("big")
      assert(db.hasHnswIndex("big") && routed("big"),
        "beyond-gate build should produce the routed layout")
      // routed search still answers (exact under full ef; spot-check top-1)
      val q = Array.fill(8)(5f)
      assert(db.search("big", q, 3, ef = Some(200)).nonEmpty)
      db.buildHnswIndex("bigForced", forceUnrouted = true)
      assert(db.hasHnswIndex("bigForced") && !routed("bigForced"),
        "forceUnrouted must keep the plain union layout")
    } finally db.broadcastGateBytes = None
    db.buildHnswIndex("small")
    assert(db.hasHnswIndex("small") && !routed("small"),
      "within the gate the plain layout is unchanged")
    db.close()
  }

  test("catalog persists across reopen") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_test").toString
    val db = new VecDB(spark, root)
    db.createTableIfNotExists("persist", 2, "l2sqr")
    db.add("persist", Array(1f, 2f), Map("x" -> "1"))
    db.buildHnswIndex("persist")
    db.close() // release the exclusive lock before reopening
    val db2 = new VecDB(spark, root)
    assert(db2.getAllKeys == Seq("persist"))
    assert(db2.getDim("persist") == 2)
    assert(db2.hasHnswIndex("persist"))
    assert(db2.getLen("persist") == 1)
    assert(db2.search("persist", Array(1f, 2f), 1).head._1("x") == "1")
  }

  test("concurrent searches on two tables each return their own arm and the serial answer") {
    // every search returns the arm it took with its rows, so interleaved
    // searches on one catalog cannot read each other's dispatch choice
    val db = freshDb()
    val rnd = new scala.util.Random(53)
    val vecs = (0 until 200).map(_ => Array.fill(8)(rnd.nextFloat()))
    Seq("h", "v").foreach { t =>
      db.createTableIfNotExists(t, 8, "l2sqr")
      db.batchAdd(t, vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    }
    db.buildHnswIndex("h") // driver-resident at this size
    db.buildIvfIndex("v", k = 4, defaultNProbes = 4)
    val armOf = Map("h" -> "hnsw", "v" -> "ivf")
    val queries = vecs.take(8)
    def run(t: String, i: Int) =
      dispatchOne(db, t, queries(i), 5, ef = Some(if (t == "h") 64 else 4))
    val serial = (for (t <- armOf.keys; i <- queries.indices)
      yield (t, i) -> run(t, i)._1).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 4).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[(String, Int,
            Seq[(Map[String, String], Double)], String)]] {
          def call() = (0 until 8).map { r =>
            val t = if ((w + r) % 2 == 0) "h" else "v"
            val i = (3 * w + r) % queries.length
            val (rows, served) = run(t, i)
            (t, i, rows, served.arm)
          }
        })
      }
      val results = tasks.flatMap(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(results.length == 32 && results.map(_._1).toSet == armOf.keySet)
      results.foreach { case (t, i, rows, arm) =>
        assert(arm == armOf(t), s"a search of '$t' returned the arm '$arm'")
        assert(rows == serial((t, i)), s"table '$t' query $i")
      }
    } finally pool.shutdown()
    db.close()
  }
}
