package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.VecDB
import graft.operators.{Hnsw, IvfHnsw, Knn}

/** Driver/executor-divergence smoke test on `local-cluster[2,4,…]` — REAL
  * executor JVMs with real serialization, the regime `local[32]` can never
  * exercise (r12 verdict item 2: the fast-scan sys-prop toggle bug — a
  * driver-set flag silently absent on executors — is exactly the class
  * this catches). Runs the catalog lifecycle end to end off-driver:
  *
  *  1. driver-resident HNSW serving (graphs built and walked on the
  *     driver, [[graft.index.HnswGraphCache]]; no executor takes part),
  *  2. forced beyond-gate routed serving (pinned pid-partitioned RDD +
  *     per-query probe lists, executor-resident subgraphs),
  *  3. PQ flat serve (driver-resolved fast-scan toggle, broadcast LUTs),
  *  4. distributed `addDataFrame` ingest + delta visibility,
  *
  * each checked for EXACT equality against the declarative exact KNN on
  * the same data (generous ef ⇒ the approximate arms are exhaustive at
  * this size). Exits non-zero on any mismatch.
  *
  * Run: `SPARK_SCALA_VERSION=2.13 sbt -batch "runMain graft.tools.ClusterSmoke"`
  * (SPARK_HOME must point at the Spark dist so the in-process workers can
  * fork executor JVMs; SPARK_SCALA_VERSION is required because the
  * launcher otherwise probes source-build directories and aborts with
  * "Cannot find any build directories"; the repo's compiled classes reach
  * executors via extraClassPath).
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    require(sys.env.contains("SPARK_SCALA_VERSION"),
      "set SPARK_SCALA_VERSION=2.13 — the standalone launcher needs it to " +
        "build the executor command (see scaladoc)")
    val classesDir = new java.io.File("target/scala-2.13/classes")
      .getAbsolutePath
    val spark = SparkSession.builder()
      .appName("graft-cluster-smoke")
      .master("local-cluster[2,4,2048]")
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var failures = 0
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch {
        case e: Throwable =>
          println(s"[clustersmoke] $name EXCEPTION: ${e.getMessage}")
          false
      }
      println(s"[clustersmoke] $name: ${if (ok) "OK" else "FAIL"}")
      results += name -> ok
      if (!ok) failures += 1
    }

    // wait for both executors to register so work actually distributes
    val deadline = System.currentTimeMillis() + 120000
    while (spark.sparkContext.getExecutorMemoryStatus.size < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(500)
    check("two executors registered") {
      // driver + 2 executor block managers
      spark.sparkContext.getExecutorMemoryStatus.size >= 3
    }

    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "cluster_smoke").toString
    val db = new VecDB(spark, root)
    val dim = 16
    db.createTableIfNotExists("t", dim, "l2sqr")
    val rnd = new scala.util.Random(1806)
    val vecs = (0 until 3000).map(_ => Array.fill(dim)(rnd.nextFloat() * 4f))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))

    def exact(q: Array[Float], k: Int): Seq[(Long, Double)] =
      db.search("t", q, k).map(r => (r._1("i").toLong, r._2)).toSeq
    val q0 = vecs(42)
    val flat = exact(q0, 10)
    check("flat exact search returns k") { flat.size == 10 && flat.head._1 == 42L }

    // 1. driver-resident HNSW arm (sidecar read by executors, graphs built
    //    and walked on the driver)
    db.buildIvfHnswIndex("t", kClusters = 6, defaultNProbes = 6,
      trainProportion = Some(0.5))
    check("driver-resident HNSW equals flat") {
      db.search("t", q0, 10, ef = Some(400))
        .map(r => (r._1("i").toLong, r._2)).toSeq == flat
    }

    // 2. forced beyond-gate: pinned routed serving off-driver
    db.broadcastGateBytes = Some(1L)
    try {
      check("routed pinned arm equals flat (full probes)") {
        db.search("t", q0, 10, ef = Some(400))
          .map(r => (r._1("i").toLong, r._2)).toSeq == flat
      }
      check("routed arm batch query") {
        val qs = spark.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row(0L, vecs(7).toSeq),
            org.apache.spark.sql.Row(1L, vecs(99).toSeq)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("query_vec",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.FloatType, false), false))))
        val hits = db.searchBatch("t", qs, 5, ef = Some(400)).collect()
        hits.length == 10 &&
          hits.filter(_.getLong(0) == 0L).map(_.getLong(1)).contains(7L) &&
          hits.filter(_.getLong(0) == 1L).map(_.getLong(1)).contains(99L)
      }
    } finally db.broadcastGateBytes = None

    // 3. PQ serve (driver-resolved fast-scan toggle; ADC on executors)
    db.buildPqTable("t", trainProportion = Some(0.5), m = Some(8))
    check("PQ serve recall ≥ 0.9 vs flat") {
      db.clearHnswIndex("t")
      val pq = db.search("t", q0, 10, ef = Some(200))
        .map(r => r._1("i").toLong).toSet
      pq.intersect(flat.map(_._1).toSet).size >= 9
    }

    // 4. SQL top-k rewrite: rule fires on the driver, the spliced id IN
    //    plan executes on real executors
    check("SQL top-k rewrite equals flat on executors") {
      db.buildIvfHnswIndex("t", kClusters = 6, defaultNProbes = 6,
        trainProportion = Some(0.5))
      db.registerSql("t", Some("smoke_sql_v"))
      val lits = q0.map(f => f.toString + "F")
        .mkString("array(", ", ", ")")
      spark.conf.set(graft.plans.GraftSqlTopK.EfConf, "4000") // ≥ n ⇒ exact
      try {
        val rows = spark.sql(s"SELECT id, vec_l2sq(vec, $lits) AS d " +
          "FROM smoke_sql_v ORDER BY d LIMIT 10").collect()
        rows.length == 10 &&
          rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
            .zip(flat).forall { case ((_, d), (_, fd)) =>
              math.abs(d - fd) < 1e-9 }
      } finally {
        spark.conf.unset(graft.plans.GraftSqlTopK.EfConf)
        graft.plans.GraftSqlTopK.unregisterAll()
      }
    }

    // 5. quantized serving off-driver: BQ packed Hamming and SQ8 asymmetric
    //    byte-scan both broadcast driver-built state (packed query batch /
    //    model arrays inside the codegen'd expression) to executor tasks —
    //    exactly the driver-state-absent-on-executor class this harness
    //    exists for. candidates ≥ n makes both two-stage arms exact.
    check("BQ and SQ8 rerank equal exact KNN on executors") {
      import spark.implicits._
      val base = vecs.indices.map(i => (i.toLong, vecs(i))).toDF("id", "vec")
        .repartition(8).cache()
      val qdf = Seq((0L, q0)).toDF("query_id", "query_vec")
      val want = Knn.exact(base, qdf, k = 10)
        .select("id", "distance").as[(Long, Double)].collect().toSeq
        .sortBy(r => (r._2, r._1))
      val bq = graft.operators.Bq.searchRerank(base, qdf, k = 10,
          candidates = vecs.size)
        .select("id", "distance").as[(Long, Double)].collect().toSeq
        .sortBy(r => (r._2, r._1))
      val sq = graft.operators.Sq.searchRerank(base, qdf, k = 10,
          candidates = vecs.size)
        .select("id", "distance").as[(Long, Double)].collect().toSeq
        .sortBy(r => (r._2, r._1))
      base.unpersist()
      bq == want && sq == want
    }

    // 6. quantized CATALOG arms off-driver: the SQ model / BQ thresholds
    //    load driver-side from their sidecars and ship to executor tasks
    //    inside broadcast state; the routed IVFSQ scan partition-prunes
    //    executor-read parquet. Exhaustive budgets (ef ≥ n, full default
    //    probes) make both arms exact, so equality against flat is the
    //    whole driver-vs-executor divergence check.
    check("catalog SQ/BQ arms equal flat on executors") {
      db.clearHnswIndex("t")
      db.clearPqTable("t") // (Some ef, Some pq) would outrank the SQ arm
      db.buildIvfIndex("t", k = 6, defaultNProbes = 6)
      db.buildSqIndex("t")
      import spark.implicits._
      val qdf = Seq((0L, q0)).toDF("query_id", "query_vec")
      // `exact`'s (i, distance) rows, with the arm that served them
      def served(): (Seq[(Long, Double)], String) = {
        val d = db.dispatch("t", qdf, 10, ef = Some(2 * vecs.size))
        (VecDB.ranked(d.frame).map(r => (r._1("i").toLong, r._2)), d.arm)
      }
      val okSq = served() == ((flat, "sq_ivf"))
      db.clearIvfIndex("t") // cascades the routed SQ sidecar
      val okCascade = !db.hasSqIndex("t")
      db.buildBqIndex("t")
      val okBq = served() == ((flat, "bq_rerank_serve"))
      db.clearBqIndex("t")
      okSq && okCascade && okBq
    }

    // 7. distributed ingest: new rows visible to a subsequent search
    check("addDataFrame ingest visible") {
      import spark.implicits._
      val marker = Array.fill(dim)(99f)
      val add = Seq((100000L, marker.toSeq, Map("i" -> "marker")))
        .toDF("id", "vec", "meta")
      db.addDataFrame("t", add)
      val hit = db.search("t", marker, 1)
      hit.head._1("i") == "marker" && hit.head._2 < 1e-6
    }

    db.close()
    println(s"[clustersmoke] failures=$failures")
    // machine-readable record of the run under target/, so a local run
    // never rewrites a tracked file
    try {
      def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val checksJson = results.map { case (n, ok) => jstr(n) + ":" + ok }
        .mkString("{", ",", "}")
      val line =
        s"""{"failures":$failures,"checks":$checksJson,"master":"local-cluster[2,4,2048]"}"""
      val dir = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("clustersmoke.json"),
        (line + "\n").getBytes("UTF-8"))
      println(s"[clustersmoke] artifact: ${dir.resolve("clustersmoke.json").toAbsolutePath}")
    } catch { case e: Throwable =>
      println(s"[clustersmoke] artifact write failed: ${e.getMessage}")
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
