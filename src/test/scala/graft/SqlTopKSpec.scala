package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Window}
import org.apache.spark.sql.functions._
import graft.catalog.VecDB
import graft.functions.VectorFunctions
import graft.plans.GraftSqlTopK

/** SURVEY §7.3 — index-backed SQL top-k rewrite: `ORDER BY vec_l2sq(vec,
  * lit) LIMIT k` over a registered table runs the engine's search and
  * prunes the scan to the k winners — or, over a catalog table served from
  * driver-resident graphs, answers from the winners' rows with no scan.
  * Asserts the rewrite fires (plan carries the spliced id IN filter, or is
  * a local relation of the answer), matches the unrewritten results
  * exactly, dispatches through the catalog's index arms for registered
  * VecDB tables, and declines out-of-scope shapes (WHERE, DESC, k > maxK)
  * and views older than their table. */
class SqlTopKSpec extends SparkTestBase {
  import SqlTopKSpec.RecordingVecDB

  private def litVec(v: scala.collection.Seq[Float]): String =
    v.map(f => f.toString + "F").mkString("array(", ", ", ")")

  /** the spliced prune: a Filter whose condition holds an IN of exactly k
    * ids (a user WHERE never has this shape in these fixtures) */
  private def firedWithK(df: org.apache.spark.sql.DataFrame, k: Int): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case Filter(cond, _) => cond
    }.exists(_.exists {
      case In(_, list) => list.length == k
      case s: InSet => s.hset.size == k
      case _ => false
    })

  /** the local answer: the optimized plan's only leaf is a local relation
    * of exactly `rows` rows, so no relation is scanned */
  private def servedLocally(df: DataFrame, rows: Int): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves() match {
      case Seq(LocalRelation(_, data, _, _)) => data.length == rows
      case _ => false
    }

  test("exact rewrite fires, prunes the scan, and matches ORDER BY LIMIT") {
    VectorFunctions.register(spark)
    val df = Tables.vectors(spark, sf001)
    val q = df.filter(col("id") === 7).head.getAs[scala.collection.Seq[Float]]("vec")
    df.createOrReplaceTempView("sql_topk_v")
    val sqlText = s"SELECT id, vec_l2sq(vec, ${litVec(q)}) AS d " +
      "FROM sql_topk_v ORDER BY d LIMIT 25"
    GraftSqlTopK.unregisterAll()
    val baseline = spark.sql(sqlText).collect()
    assert(baseline.length == 25)
    GraftSqlTopK.enable(spark)
    GraftSqlTopK.registerDataFrame("sql_topk_v", df, "l2sqr")
    try {
      val rewritten = spark.sql(sqlText)
      assert(firedWithK(rewritten, 25), "rewrite did not fire:\n" +
        rewritten.queryExecution.optimizedPlan.treeString)
      assert(rewritten.collect().toSeq == baseline.toSeq)
    } finally GraftSqlTopK.unregisterAll()
  }

  test("out-of-scope shapes are declined") {
    VectorFunctions.register(spark)
    val df = Tables.vectors(spark, sf001)
    val q = df.filter(col("id") === 3).head.getAs[scala.collection.Seq[Float]]("vec")
    df.createOrReplaceTempView("sql_topk_guard_v")
    GraftSqlTopK.enable(spark)
    GraftSqlTopK.registerDataFrame("sql_topk_guard_v", df, "l2sqr")
    try {
      // WHERE between sort and scan: top-k of a filtered set ≠ filtered
      // top-k — must not rewrite, and must stay correct
      val where = spark.sql(s"SELECT id, vec_l2sq(vec, ${litVec(q)}) AS d " +
        "FROM sql_topk_guard_v WHERE id % 2 = 0 ORDER BY d LIMIT 10")
      assert(!firedWithK(where, 10))
      assert(where.collect().forall(_.getLong(0) % 2 == 0))
      // DESC is not a nearest-neighbor query
      val desc = spark.sql(s"SELECT id, vec_l2sq(vec, ${litVec(q)}) AS d " +
        "FROM sql_topk_guard_v ORDER BY d DESC LIMIT 10")
      assert(!firedWithK(desc, 10))
      // k above the conf ceiling falls back to the plain sort
      spark.conf.set(GraftSqlTopK.MaxKConf, "5")
      try {
        val big = spark.sql(s"SELECT id, vec_l2sq(vec, ${litVec(q)}) AS d " +
          "FROM sql_topk_guard_v ORDER BY d LIMIT 10")
        assert(!firedWithK(big, 10))
        assert(big.collect().length == 10)
      } finally spark.conf.unset(GraftSqlTopK.MaxKConf)
      // cosine sort key over an l2sqr-registered table: metric mismatch
      val cos = spark.sql(s"SELECT id, vec_cosine(vec, ${litVec(q)}) AS d " +
        "FROM sql_topk_guard_v ORDER BY d LIMIT 10")
      assert(!firedWithK(cos, 10))
    } finally GraftSqlTopK.unregisterAll()
  }

  test("distance upper bound on the sort key rewrites; other WHEREs do not") {
    // WHERE vec_l2sq(vec, q) <= ub ORDER BY d LIMIT k: bound rows are a
    // prefix of the distance order, so the global-top-k prune + retained
    // Filter is exact. Checked against the unrewritten query at a ub that
    // bites (fewer than k rows pass) and one that does not.
    VectorFunctions.register(spark)
    val df = Tables.vectors(spark, sf001)
    val q = df.filter(col("id") === 21)
      .head.getAs[scala.collection.Seq[Float]]("vec")
    df.createOrReplaceTempView("sql_topk_ub_v")
    def sqlText(ub: String) =
      s"SELECT id, vec_l2sq(vec, ${litVec(q)}) AS d FROM sql_topk_ub_v " +
        s"WHERE vec_l2sq(vec, ${litVec(q)}) <= $ub ORDER BY d LIMIT 20"
    GraftSqlTopK.unregisterAll()
    val loose = spark.sql(sqlText("1e9")).collect()
    assert(loose.length == 20)
    // a ub between the 3rd and 4th distance: exactly 3 rows survive
    val tightUb = (loose(2).getDouble(1) + loose(3).getDouble(1)) / 2
    val tight = spark.sql(sqlText(tightUb.toString)).collect()
    assert(tight.length == 3)
    GraftSqlTopK.enable(spark)
    GraftSqlTopK.registerDataFrame("sql_topk_ub", df, "l2sqr")
    try {
      val rLoose = spark.sql(sqlText("1e9"))
      assert(firedWithK(rLoose, 20), "bounded rewrite did not fire:\n" +
        rLoose.queryExecution.optimizedPlan.treeString)
      assert(rLoose.collect().toSeq == loose.toSeq)
      val rTight = spark.sql(sqlText(tightUb.toString))
      assert(firedWithK(rTight, 20))
      assert(rTight.collect().toSeq == tight.toSeq)
    } finally GraftSqlTopK.unregisterAll()
  }

  test("independently re-read table matches via position remap (fresh exprIds)") {
    // register one read of the parquet, query through a SECOND read: the
    // leaf sameResult-matches but every exprId differs, exercising the
    // by-position attribute remap of the registered vec/id expressions
    VectorFunctions.register(spark)
    val regDf = Tables.vectors(spark, sf001)
    val queryDf = Tables.vectors(spark, sf001) // fresh plan, fresh exprIds
    val q = regDf.filter(col("id") === 5)
      .head.getAs[scala.collection.Seq[Float]]("vec")
    queryDf.createOrReplaceTempView("sql_topk_remap_v")
    val sqlText = s"SELECT id, vec_l2sq(vec, ${litVec(q)}) AS d " +
      "FROM sql_topk_remap_v ORDER BY d LIMIT 15"
    GraftSqlTopK.unregisterAll()
    val baseline = spark.sql(sqlText).collect()
    GraftSqlTopK.enable(spark)
    GraftSqlTopK.registerDataFrame("sql_topk_remap", regDf, "l2sqr")
    try {
      val rewritten = spark.sql(sqlText)
      assert(firedWithK(rewritten, 15), "remap path did not fire:\n" +
        rewritten.queryExecution.optimizedPlan.treeString)
      assert(rewritten.collect().toSeq == baseline.toSeq)
    } finally GraftSqlTopK.unregisterAll()
  }

  test("cosine-registered table rewrites a vec_cosine sort") {
    VectorFunctions.register(spark)
    val df = Tables.vectors(spark, sf001)
    val q = df.filter(col("id") === 9)
      .head.getAs[scala.collection.Seq[Float]]("vec")
    df.createOrReplaceTempView("sql_topk_cos_v")
    val sqlText = s"SELECT id, vec_cosine(vec, ${litVec(q)}) AS d " +
      "FROM sql_topk_cos_v ORDER BY d LIMIT 12"
    GraftSqlTopK.unregisterAll()
    val baseline = spark.sql(sqlText).collect()
    GraftSqlTopK.enable(spark)
    GraftSqlTopK.registerDataFrame("sql_topk_cos", df, "cosine")
    try {
      val rewritten = spark.sql(sqlText)
      assert(firedWithK(rewritten, 12))
      assert(rewritten.collect().toSeq == baseline.toSeq)
    } finally GraftSqlTopK.unregisterAll()
  }

  /** the batch splice: an IN of at least `n` ids (per-query winners may
    * overlap, so the union is ≤ nq·k but ≥ k) */
  private def firedWithAtLeast(df: org.apache.spark.sql.DataFrame, n: Int): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case Filter(cond, _) => cond
    }.exists(_.exists {
      case In(_, list) => list.length >= n
      case s: InSet => s.hset.size >= n
      case _ => false
    })

  /** the batch shape: the window stays, and the batch splice of at least
    * `n` ids sits beneath it */
  private def batchShaped(df: DataFrame, n: Int): Boolean =
    df.queryExecution.optimizedPlan.collect { case w: Window => w }
      .exists(_.exists {
        case Filter(cond, _) => cond.exists {
          case In(_, list) => list.length >= n
          case s: InSet => s.hset.size >= n
          case _ => false
        }
        case _ => false
      })

  test("batch rewrite: rank-over-join matches the unrewritten window query") {
    VectorFunctions.register(spark)
    val df = Tables.vectors(spark, sf001)
    df.createOrReplaceTempView("sql_topk_bat_v")
    df.filter(col("id") < 6)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .createOrReplaceTempView("sql_topk_bat_q")
    val sqlText =
      """SELECT qid, id, d FROM (
        |  SELECT q.qid AS qid, t.id AS id,
        |         vec_l2sq(t.vec, q.qvec) AS d,
        |         row_number() OVER (PARTITION BY q.qid
        |           ORDER BY vec_l2sq(t.vec, q.qvec), t.id) AS rn
        |  FROM sql_topk_bat_q q CROSS JOIN sql_topk_bat_v t
        |) WHERE rn <= 7""".stripMargin
    GraftSqlTopK.unregisterAll()
    val baseline = spark.sql(sqlText).orderBy("qid", "d", "id").collect()
    assert(baseline.length == 6 * 7)
    GraftSqlTopK.enable(spark)
    GraftSqlTopK.registerDataFrame("sql_topk_bat", df, "l2sqr")
    try {
      val rewritten = spark.sql(sqlText).orderBy("qid", "d", "id")
      assert(firedWithAtLeast(rewritten, 7), "batch rewrite did not fire:\n" +
        rewritten.queryExecution.optimizedPlan.treeString)
      assert(batchShaped(rewritten, 7), "not the batch shape:\n" +
        rewritten.queryExecution.optimizedPlan.treeString)
      assert(rewritten.collect().toSeq == baseline.toSeq)
    } finally GraftSqlTopK.unregisterAll()
  }

  test("batch guards: rank(), a join condition, and an oversized query side decline") {
    VectorFunctions.register(spark)
    val df = Tables.vectors(spark, sf001)
    df.createOrReplaceTempView("sql_topk_batg_v")
    df.filter(col("id") < 4)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .createOrReplaceTempView("sql_topk_batg_q")
    GraftSqlTopK.enable(spark)
    GraftSqlTopK.registerDataFrame("sql_topk_batg", df, "l2sqr")
    def run(window: String, join: String = "CROSS JOIN sql_topk_batg_v t") =
      spark.sql(
        s"""SELECT qid, id, d FROM (
           |  SELECT q.qid AS qid, t.id AS id,
           |         vec_l2sq(t.vec, q.qvec) AS d,
           |         $window AS rn
           |  FROM sql_topk_batg_q q $join
           |) WHERE rn <= 5""".stripMargin)
    try {
      // rank() may return more than k rows on ties — a k-bounded search
      // cannot serve it
      val ranked = run("rank() OVER (PARTITION BY q.qid " +
        "ORDER BY vec_l2sq(t.vec, q.qvec), t.id)")
      assert(!firedWithAtLeast(ranked, 5))
      assert(ranked.collect().length == 4 * 5)
      // a join condition changes each query's candidate set
      val cond = run(
        "row_number() OVER (PARTITION BY q.qid " +
          "ORDER BY vec_l2sq(t.vec, q.qvec), t.id)",
        "JOIN sql_topk_batg_v t ON t.id % 2 = q.qid % 2")
      assert(!firedWithAtLeast(cond, 5))
      assert(cond.collect().forall(r => (r.getLong(1) - r.getLong(0)) % 2 == 0))
      // nq·k above the maxK ceiling: the id union would be unbounded on
      // the driver — falls back to the plain window plan
      spark.conf.set(GraftSqlTopK.MaxKConf, "10")
      try {
        val big = run("row_number() OVER (PARTITION BY q.qid " +
          "ORDER BY vec_l2sq(t.vec, q.qvec), t.id)")
        assert(!firedWithAtLeast(big, 5))
        assert(big.collect().length == 4 * 5)
      } finally spark.conf.unset(GraftSqlTopK.MaxKConf)
    } finally GraftSqlTopK.unregisterAll()
  }

  test("batch rewrite dispatches through the catalog arm with an ef hint") {
    VectorFunctions.register(spark)
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_sqlbt").toString
    val db = new RecordingVecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 200).map(_ => Array.fill(8)(rnd.nextFloat() * 10f))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    db.table("t").filter(col("id") < 5)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .createOrReplaceTempView("catalog_bt_q")
    def sqlText(orderKey: String) =
      s"""SELECT qid, id, d FROM (
         |  SELECT q.qid AS qid, t.id AS id, $orderKey AS d,
         |         row_number() OVER (PARTITION BY q.qid
         |           ORDER BY $orderKey, t.id) AS rn
         |  FROM catalog_bt_q q CROSS JOIN catalog_bt_v t
         |) WHERE rn <= 6""".stripMargin
    val dist = "vec_l2sq(t.vec, q.qvec)"
    db.registerSql("t", Some("catalog_bt_v")) // view + enable + register
    try {
      GraftSqlTopK.unregisterAll() // view stays; rewrite off for baseline
      val baseline = spark.sql(sqlText(dist)).orderBy("qid", "d", "id").collect()
      assert(baseline.length == 5 * 6)
      db.registerSql("t", Some("catalog_bt_v"))
      // ef hint at table size ⇒ the HNSW beam is exhaustive ⇒ exact
      val rewritten = spark.sql(sqlText(s"graft_topk_ef($dist, 200)"))
        .orderBy("qid", "d", "id")
      assert(firedWithAtLeast(rewritten, 6),
        "catalog batch rewrite did not fire:\n" +
          rewritten.queryExecution.optimizedPlan.treeString)
      val call = db.lastCall
      assert(call.shape == "batch" && call.ef.contains(200), s"ran $call")
      assert(call.arm == "hnsw", s"expected the HNSW arm, served '${call.arm}'")
      assert(rewritten.collect().toSeq == baseline.toSeq)
    } finally {
      GraftSqlTopK.unregisterAll()
      db.close()
    }
  }

  test("null vec rows survive the rewrite (NULLS FIRST order preserved)") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows: Seq[(Long, Option[Seq[Float]])] =
      (0L until 40L).map(i => (i, Some(Seq.fill(6)(rnd.nextFloat())))) ++
        Seq((40L, Option.empty[Seq[Float]]), (41L, Option.empty[Seq[Float]]))
    // parquet-backed: a LocalRelation this small would be constant-folded
    // out of matching range — and nullable PARQUET is the real case anyway
    val pq = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "sqltopk_null").resolve("t").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(pq)
    val df = spark.read.parquet(pq)
    val q = rows(3)._2.get
    df.createOrReplaceTempView("sql_topk_null_v")
    val sqlText = s"SELECT id, vec_l2sq(vec, ${litVec(q)}) AS d " +
      "FROM sql_topk_null_v ORDER BY d LIMIT 8"
    GraftSqlTopK.unregisterAll()
    val baseline = spark.sql(sqlText).collect()
    // ASC default = NULLS FIRST: the two null rows lead
    assert(baseline.take(2).forall(_.isNullAt(1)))
    GraftSqlTopK.enable(spark)
    GraftSqlTopK.registerDataFrame("sql_topk_null", df, "l2sqr")
    try {
      val rewritten = spark.sql(sqlText)
      assert(firedWithK(rewritten, 8), "null-escape rewrite did not fire:\n" +
        rewritten.queryExecution.optimizedPlan.treeString)
      assert(rewritten.collect().toSeq == baseline.toSeq)
    } finally GraftSqlTopK.unregisterAll()
  }

  test("graft_topk_ef hint sets ef per query, overriding the session conf") {
    VectorFunctions.register(spark)
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_sqlef").toString
    val db = new RecordingVecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 250).map(_ => Array.fill(8)(rnd.nextFloat() * 10f))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    val q = vecs(7)
    db.registerSql("t", Some("catalog_ef_v"))
    def sqlText(orderKey: String) =
      s"SELECT id, $orderKey AS d FROM catalog_ef_v ORDER BY d LIMIT 5"
    val dist = s"vec_l2sq(vec, ${litVec(q.toSeq)})"
    spark.conf.set(GraftSqlTopK.EfConf, "64")
    try {
      // two hinted queries land their own efs; the unhinted one falls
      // back to the session conf — so concurrent SQL clients at different
      // recall points no longer fight over one global
      spark.sql(sqlText(s"graft_topk_ef($dist, 250)")).collect()
      assert(db.lastCall.shape == "single" && db.lastCall.ef.contains(250))
      spark.sql(sqlText(s"graft_topk_ef($dist, 80)")).collect()
      assert(db.lastCall.shape == "single" && db.lastCall.ef.contains(80))
      spark.sql(sqlText(dist)).collect()
      assert(db.lastCall.shape == "single" && db.lastCall.ef.contains(64))
      // hinted at full table size ⇒ exact: matches the unregistered sort
      GraftSqlTopK.unregisterAll()
      val exact = spark.sql(sqlText(dist)).collect()
      db.registerSql("t", Some("catalog_ef_v"))
      val hinted = spark.sql(sqlText(s"graft_topk_ef($dist, 250)"))
      assert(servedLocally(hinted, 5), "resident table not answered locally:\n" +
        hinted.queryExecution.optimizedPlan.treeString)
      assert(hinted.collect().toSeq == exact.toSeq)
    } finally {
      spark.conf.unset(GraftSqlTopK.EfConf)
      GraftSqlTopK.unregisterAll()
      db.close()
    }
  }

  test("registered VecDB table dispatches through the catalog index arms") {
    VectorFunctions.register(spark)
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vecdb_sql").toString
    val db = new RecordingVecDB(spark, root)
    db.createTableIfNotExists("t", 8, "l2sqr")
    val rnd = new scala.util.Random(17)
    val vecs = (0 until 300).map(_ => Array.fill(8)(rnd.nextFloat() * 10f))
    db.batchAdd("t", vecs, vecs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    val q = vecs(11)
    db.table("t").createOrReplaceTempView("catalog_topk_v")
    val sqlText = s"SELECT id, vec_l2sq(vec, ${litVec(q.toSeq)}) AS d " +
      "FROM catalog_topk_v ORDER BY d LIMIT 5"
    GraftSqlTopK.unregisterAll()
    val exact = spark.sql(sqlText).collect()
    db.registerSql("t", Some("catalog_topk_v")) // view + enable + register
    spark.conf.set(GraftSqlTopK.EfConf, "300") // generous beam ⇒ exact
    try {
      val rewritten = spark.sql(sqlText)
      assert(servedLocally(rewritten, 5), "resident table not answered locally:\n" +
        rewritten.queryExecution.optimizedPlan.treeString)
      assert(rewritten.collect().toSeq == exact.toSeq)
      assert(db.lastCall.arm == "hnsw",
        s"expected the HNSW arm, served '${db.lastCall.arm}'")
    } finally {
      spark.conf.unset(GraftSqlTopK.EfConf)
      GraftSqlTopK.unregisterAll()
      db.close()
    }
  }

  // ------------------------------------------ local answer (resident HNSW)

  /** A catalog table "t" over `vs` (meta i = row index) with its HNSW
    * index built under the default broadcast gate. */
  private def residentTable(dist: String, vs: Seq[Array[Float]]): RecordingVecDB = {
    val root = Files.createTempDirectory(Paths.get("target"), "vecdb_sqllocal").toString
    val db = new RecordingVecDB(spark, root)
    db.createTableIfNotExists("t", vs.head.length, dist)
    db.batchAdd("t", vs, vs.indices.map(i => Map("i" -> i.toString)))
    db.buildHnswIndex("t")
    db
  }

  private def fnOf(dist: String): String =
    if (dist == "cosine") "vec_cosine" else "vec_l2sq"

  test("a warm single-query SQL top-k on a resident HNSW table runs no Spark job") {
    VectorFunctions.register(spark)
    val rnd = new scala.util.Random(41)
    val db = residentTable("cosine",
      (0 until 300).map(_ => Array.fill(16)(rnd.nextFloat() - 0.5f)))
    def sqlText(q: Array[Float]) =
      s"SELECT id, graft_topk_ef(vec_cosine(vec, ${litVec(q.toSeq)}), 64) AS d " +
        "FROM catalog_local_jobs_v ORDER BY d LIMIT 10"
    try {
      db.registerSql("t", Some("catalog_local_jobs_v"))
      spark.sql(sqlText(Array.fill(16)(rnd.nextFloat() - 0.5f))).collect() // warm
      val (got, jobs) = jobsDuring(
        spark.sql(sqlText(Array.fill(16)(rnd.nextFloat() - 0.5f))).collect())
      assert(got.length == 10)
      assert(db.lastCall.arm == "hnsw", s"served by '${db.lastCall.arm}'")
      assert(jobs == 0, s"a warm SQL top-k ran $jobs Spark jobs")
    } finally {
      GraftSqlTopK.unregisterAll()
      db.close()
    }
  }

  test("local answer: SELECT * equals the unregistered query, ties at the cut included") {
    // every vector twice (ids i and i + 150): distances come in equal
    // pairs, so at an odd k the k-th and (k+1)-th rows tie. The search
    // keeps the lower id of a tied pair; the unregistered query states
    // that tie-break as a second sort key (one key alone leaves Spark free
    // to pick either twin).
    VectorFunctions.register(spark)
    for (dist <- Seq("l2sqr", "cosine")) {
      val rnd = new scala.util.Random(if (dist == "cosine") 43 else 47)
      val base = (0 until 150).map(_ => Array.fill(8)(rnd.nextFloat() * 4f - 2f))
      val db = residentTable(dist, base ++ base.map(_.clone()))
      val q = litVec(Array.fill(8)(rnd.nextFloat() * 4f - 2f).toSeq)
      val k = 7
      def sqlText(order: String) =
        s"SELECT * FROM catalog_local_star_v ORDER BY $order LIMIT $k"
      try {
        db.registerSql("t", Some("catalog_local_star_v"))
        GraftSqlTopK.unregisterAll()
        val expected = spark.sql(sqlText(s"${fnOf(dist)}(vec, $q), id")).collect()
        val tie = spark.sql(s"SELECT ${fnOf(dist)}(vec, $q) AS d " +
          s"FROM catalog_local_star_v ORDER BY d LIMIT ${k + 1}").collect()
        assert(tie(k - 1).getDouble(0) == tie(k).getDouble(0),
          "fixture: no tie at the cut")
        db.registerSql("t", Some("catalog_local_star_v"))
        val got = spark.sql(sqlText(s"graft_topk_ef(${fnOf(dist)}(vec, $q), 600)"))
        assert(servedLocally(got, k), s"$dist: not answered locally:\n" +
          got.queryExecution.optimizedPlan.treeString)
        assert(got.collect().toSeq == expected.toSeq, dist)
      } finally {
        GraftSqlTopK.unregisterAll()
        db.close()
      }
    }
  }

  test("local answer: the distance upper-bound WHERE equals the unregistered query") {
    VectorFunctions.register(spark)
    val rnd = new scala.util.Random(53)
    val db = residentTable("l2sqr", (0 until 200).map(_ => Array.fill(8)(rnd.nextFloat())))
    val q = litVec(Array.fill(8)(rnd.nextFloat()).toSeq)
    def sqlText(ub: String) =
      s"SELECT id, graft_topk_ef(vec_l2sq(vec, $q), 400) AS d " +
        s"FROM catalog_local_ub_v WHERE vec_l2sq(vec, $q) <= $ub ORDER BY d LIMIT 9"
    try {
      db.registerSql("t", Some("catalog_local_ub_v"))
      GraftSqlTopK.unregisterAll()
      val loose = spark.sql(sqlText("1e9")).collect()
      // between the 4th and 5th distance: 4 rows survive
      val ub = ((loose(3).getDouble(1) + loose(4).getDouble(1)) / 2).toString
      val tight = spark.sql(sqlText(ub)).collect()
      assert(tight.length == 4)
      db.registerSql("t", Some("catalog_local_ub_v"))
      val rLoose = spark.sql(sqlText("1e9"))
      assert(servedLocally(rLoose, 9))
      assert(rLoose.collect().toSeq == loose.toSeq)
      val rTight = spark.sql(sqlText(ub))
      assert(servedLocally(rTight, 4))
      assert(rTight.collect().toSeq == tight.toSeq)
    } finally {
      GraftSqlTopK.unregisterAll()
      db.close()
    }
  }

  test("beyond the broadcast gate and with rand() the rewrite keeps the prune path") {
    VectorFunctions.register(spark)
    val rnd = new scala.util.Random(59)
    val db = residentTable("l2sqr", (0 until 200).map(_ => Array.fill(8)(rnd.nextFloat())))
    val q = litVec(Array.fill(8)(rnd.nextFloat()).toSeq)
    val plain = s"SELECT id, graft_topk_ef(vec_l2sq(vec, $q), 400) AS d " +
      "FROM catalog_local_prune_v ORDER BY d LIMIT 6"
    val withRand = s"SELECT id, graft_topk_ef(vec_l2sq(vec, $q), 400) AS d, " +
      "rand() AS r FROM catalog_local_prune_v ORDER BY d LIMIT 6"
    try {
      db.registerSql("t", Some("catalog_local_prune_v"))
      GraftSqlTopK.unregisterAll()
      val expected = spark.sql(plain).collect().toSeq
      db.registerSql("t", Some("catalog_local_prune_v"))
      // the graphs are not driver-resident beyond the gate: pinned arm
      db.broadcastGateBytes = Some(1L)
      try {
        val pinned = spark.sql(plain)
        assert(firedWithK(pinned, 6), "gated table did not take the prune path:\n" +
          pinned.queryExecution.optimizedPlan.treeString)
        assert(pinned.collect().toSeq == expected)
      } finally db.broadcastGateBytes = None
      // a nondeterministic select list cannot be evaluated on the driver
      val rand = spark.sql(withRand)
      assert(firedWithK(rand, 6), "rand() did not decline to the prune path:\n" +
        rand.queryExecution.optimizedPlan.treeString)
      assert(rand.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        expected.map(r => (r.getLong(0), r.getDouble(1))))
    } finally {
      GraftSqlTopK.unregisterAll()
      db.close()
    }
  }

  test("a view registered before an append declines until registered again") {
    // the search reads the catalog's current rows; the view reads the file
    // listing it was created with. Splicing the new winners' ids into the
    // old listing returned no rows.
    VectorFunctions.register(spark)
    val rnd = new scala.util.Random(61)
    val db = residentTable("l2sqr", (0 until 200).map(_ => Array.fill(8)(rnd.nextFloat())))
    val qv = Array.fill(8)(rnd.nextFloat())
    val sqlText = s"SELECT id, graft_topk_ef(vec_l2sq(vec, ${litVec(qv.toSeq)}), 1000) AS d " +
      "FROM catalog_local_stale_v ORDER BY d LIMIT 5"
    try {
      db.registerSql("t", Some("catalog_local_stale_v"))
      GraftSqlTopK.unregisterAll()
      val expected = spark.sql(sqlText).collect().toSeq
      assert(expected.length == 5)
      db.registerSql("t", Some("catalog_local_stale_v"))
      // 20 rows right at the query: every one beats the old rows
      db.batchAdd("t", (0 until 20).map(i => qv.map(_ + i * 1e-4f)),
        (0 until 20).map(i => Map("new" -> i.toString)))
      val stale = spark.sql(sqlText)
      assert(stale.collect().toSeq == expected)
      assert(!firedWithK(stale, 5) && !servedLocally(stale, 5),
        "a view older than its table was rewritten:\n" +
          stale.queryExecution.optimizedPlan.treeString)
      // registered again: the new rows answer, locally
      db.registerSql("t", Some("catalog_local_stale_v"))
      val fresh = spark.sql(sqlText)
      assert(servedLocally(fresh, 5))
      assert(fresh.collect().map(_.getLong(0)).toSeq == (200L until 205L))
    } finally {
      GraftSqlTopK.unregisterAll()
      db.close()
    }
  }
}

object SqlTopKSpec {

  /** One search the SQL rewrite ran: its shape ("single" | "batch"), the
    * ef that reached the catalog and the arm that served it. */
  final case class Call(shape: String, ef: Option[Int], arm: String)

  /** A catalog that records every search the SQL rewrite runs through it. */
  class RecordingVecDB(spark: SparkSession, root: String)
      extends VecDB(spark, root) {
    private val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
    def lastCall: Call = calls.synchronized(calls.last)

    override private[graft] def searchTopK(key: String, query: Array[Float],
        k: Int, ef: Option[Int]): VecDB.Winners = {
      val won = super.searchTopK(key, query, k, ef)
      calls.synchronized(calls += Call("single", ef, won.arm))
      won
    }

    override def searchBatch(key: String, queries: DataFrame, k: Int,
        ef: Option[Int], upperBound: Option[Double],
        pattern: Map[String, String]): DataFrame = {
      val served = dispatch(key, queries, k, ef, upperBound, pattern)
      calls.synchronized(calls += Call("batch", ef, served.arm))
      served.frame
    }
  }
}
