package graft

import org.apache.spark.sql.functions._
import graft.functions.BqKernel
import org.apache.spark.sql.DataFrame
import graft.operators.{Bq, CoarseMerge, Knn}

/** Binary (sign-bit) quantization invariants: packing layout, Hamming =
  * per-dim sign disagreement, serving arm == declarative arm, and two-stage
  * re-rank recall vs exact KNN. */
class BqSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val base = Tables.vectors(spark, sf0001).select("id", "vec").cache()
  private lazy val qs = base.filter($"id" < 6)
    .select($"id".as("query_id"), $"vec".as("query_vec"))

  /** [[Bq.searchRerank]]'s steps through the shared driver, which returns
    * the choice it made with the frame. */
  private def searchRerank(b: DataFrame, q: DataFrame, k: Int,
      candidates: Int, coarseSelect: String): (DataFrame, CoarseMerge.Choice) = {
    val ids = b.select(col("id").cast("long").as("id"), col("vec"))
    val model = Bq.train(ids)
    CoarseMerge.searchRerank(Bq.BqCodec(Some(model)),
      Bq.encodeCentered(ids, model).select(col("id"), col("bq")), b, q, k,
      candidates, "l2sqr", "vec", coarseSelect)
  }

  /** [[Bq.searchIvf]] with forced approx selection through the shared
    * driver, which returns the choice it made with the frame. */
  private def searchIvfApprox(codes: DataFrame, ivfModel: graft.operators.IvfModel,
      model: Bq.BqModel, k: Int, candidates: Int)
      : (DataFrame, CoarseMerge.Choice) =
    CoarseMerge.searchIvf(Bq.BqCodec(Some(model)), codes, base, ivfModel, qs,
      k, candidates, Some(8), "l2sqr", "vec", None, None, None, "approx", None)

  /** [[Bq.hammingBroadcast]]'s (query_id, id, hamming) rows, sorted, with
    * the coarse selection path the shared driver took. */
  private def hammingWithPath(b: DataFrame, q: DataFrame, k: Int)
      : (Seq[org.apache.spark.sql.Row], String) = {
    val codec = Bq.BqCodec(None)
    val (hits, choice) = CoarseMerge.coarse(codec,
      Bq.encode(b.select(col("id").cast("long").as("id"), col("vec")))
        .select(col("id"), col("bq")),
      CoarseMerge.collectQueries(q).map { case (id, v) => (id, codec.prepare(v)) },
      k)
    (hits.select(col("query_id"), col("id"),
        col("distance").cast("long").as("hamming"))
      .orderBy("query_id", "hamming", "id").collect().toSeq, choice.path)
  }

  test("kernel pack: bit j of word w set iff v(64w+j) >= 0; -0.0 packs set") {
    val v = new Array[Float](130)
    v(0) = -1f; v(1) = 0f; v(2) = -0.0f; v(63) = -3f; v(64) = 2f; v(129) = -1f
    val p = BqKernel.pack(v)
    assert(p.length == 3)
    for (i <- v.indices) {
      val bit = (p(i >>> 6) >>> (i & 63)) & 1L
      assert((bit == 1L) == (v(i) >= 0f), s"dim $i value ${v(i)}")
    }
    // -0.0f >= 0 is true in JVM float comparison: dim 2 must be set
    assert(((p(0) >>> 2) & 1L) == 1L)
  }

  test("kernel hamming equals per-dim sign disagreement count") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 20) {
      val a = Array.fill(97)(rnd.nextFloat() - 0.5f)
      val b = Array.fill(97)(rnd.nextFloat() - 0.5f)
      val expect = a.zip(b).count { case (x, y) => (x >= 0f) != (y >= 0f) }
      assert(BqKernel.hamming(BqKernel.pack(a), BqKernel.pack(b)) == expect)
    }
  }

  test("kernel hamming rejects word-count mismatch with the expression's message") {
    val e = intercept[IllegalArgumentException] {
      BqKernel.hamming(new Array[Long](2), new Array[Long](3))
    }
    assert(e.getMessage.contains("bq_hamming: word-count mismatch (2 vs 3)"))
  }

  test("expression pack/hamming match the kernel on real rows") {
    val got = Bq.encode(base.limit(50))
      .select($"id", $"vec", $"bq",
        Bq.bqHamming($"bq", Bq.bqPack($"vec")).as("self_h"))
      .collect()
    got.foreach { r =>
      val vec = r.getSeq[Float](1).toArray
      val bq = r.getSeq[Long](2).toArray
      assert(bq.sameElements(BqKernel.pack(vec)), s"row ${r.getLong(0)}")
      assert(r.getAs[Long]("self_h") == 0L)
    }
  }

  test("hammingBroadcast equals hammingTopK (ids and hamming), partitioned") {
    val a = Bq.hammingTopK(base, qs, k = 7)
      .orderBy("query_id", "hamming", "id").collect()
    val b = Bq.hammingBroadcast(base.repartition(4), qs, k = 7)
      .orderBy("query_id", "hamming", "id").collect()
    assert(a.length == b.length && a.length == 6 * 7)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getAs[Long]("query_id") == y.getAs[Long]("query_id"))
      assert(x.getAs[Long]("id") == y.getAs[Long]("id"))
      assert(x.getAs[Long]("hamming") == y.getAs[Long]("hamming"))
    }
  }

  test("searchRerank: self-hit first, distances exact, recall vs exact KNN") {
    // the sf0.001 embeddings are 64-dim zero-mean near-uniform — the
    // HARDEST case for a 64-bit sign sketch (neighbors barely closer than
    // random); candidates=200 of 500 measures 0.967 recall@10 on this
    // fixed fixture (vecbench's routed_d960 workload measures the d960 regime)
    val k = 10
    val got = Bq.searchRerank(base, qs, k = k, candidates = 200)
    val gotRows = got.orderBy("query_id", "distance", "id").collect()
    // distances on returned rows are EXACT (re-ranked): each query's best
    // hit is the query row itself at distance 0
    val firstPerQ = gotRows.groupBy(_.getAs[Long]("query_id"))
      .map { case (qid, rs) => qid -> rs.minBy(r => (r.getAs[Double]("distance"), r.getAs[Long]("id"))) }
    firstPerQ.foreach { case (qid, r) =>
      assert(r.getAs[Long]("id") == qid, s"query $qid self-hit")
      assert(r.getAs[Double]("distance") < 1e-6)
    }
    // recall@10 vs exact KNN with a 100-candidate coarse pass
    val exact = Knn.exact(base, qs, k = k)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mine = gotRows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // NOTE keys.toSeq: mapping the key SET to per-query recalls would
    // collapse equal values before the sum
    val recall = exact.keys.toSeq.map { qid =>
      (mine.getOrElse(qid, Set.empty) & exact(qid)).size.toDouble / k
    }.sum / exact.size
    assert(recall >= 0.8, s"BQ rerank recall@$k = $recall (candidates=200)")
  }

  test("approx coarse selection: dominated, recall holds, exhaustive == exact KNN") {
    val k = 10
    val b8 = base.repartition(8, $"id")
    val n = b8.count().toInt
    // forced approx path: per-partition top-⌈200/8⌉ pool, no selection
    // shuffle
    val (approx, choice) = searchRerank(b8, qs, k = k, candidates = 200,
      coarseSelect = "approx")
    assert(choice.path == "approx")
    val approxRows = approx.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("distance")))
    val exactRows = Knn.exact(b8, qs, k = k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("distance")))
    // DOMINATION: the pool is a corpus subset and the rerank is exact, so
    // at every rank the approx distance is >= the exact distance
    val byQ = approxRows.groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3, t._2))).toMap
    val eByQ = exactRows.groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3, t._2))).toMap
    for ((qid, rs) <- byQ; (r, i) <- rs.zipWithIndex if i < eByQ(qid).length)
      assert(r._3 >= eByQ(qid)(i)._3 - 1e-9,
        s"query $qid rank $i: approx ${r._3} < exact ${eByQ(qid)(i)._3}")
    // recall floor on the hard 64-dim near-uniform fixture (exact-200
    // measures 0.967 here; the per-partition cap costs a little pool
    // membership, never distance correctness)
    val eSets = exactRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = eSets.keys.toSeq.map { qid =>
      (byQ(qid).map(_._2).toSet & eSets(qid)).size.toDouble / k
    }.sum / eSets.size
    assert(recall >= 0.5, s"approx recall@$k = $recall")
    // exhaustive budget: cap = ⌈2n/8⌉ >= any partition's rows => the pool
    // is the whole corpus and approx selection IS exact KNN
    val exhaustive = Bq.searchRerank(b8, qs, k = k, candidates = 2 * n,
        coarseSelect = "approx")
      .orderBy("query_id", "distance", "id").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")))
    val exactSorted = exactRows.sortBy(t => (t._1, t._3, t._2))
      .map(t => (t._1, t._2))
    assert(exhaustive.toSeq == exactSorted.toSeq)
  }

  test("auto coarse selection switches at the nq threshold") {
    val old = graft.operators.CoarseMerge.approxNqThreshold
    try {
      // batch (6 queries) below threshold: exact selection
      graft.operators.CoarseMerge.approxNqThreshold = 1000
      val below = searchRerank(base, qs, k = 5, candidates = 50,
        coarseSelect = "auto")._2
      assert(below.path != "approx")
      // threshold at/below the batch: approx selection
      graft.operators.CoarseMerge.approxNqThreshold = 6
      val at = searchRerank(base, qs, k = 5, candidates = 50,
        coarseSelect = "auto")._2
      assert(at.path == "approx")
    } finally graft.operators.CoarseMerge.approxNqThreshold = old
  }

  test("train: exact per-dim means; centered pack bits split on the mean") {
    val df = Seq(
      (0L, Array(1f, 10f)),
      (1L, Array(3f, 20f)),
      (2L, Array(5f, 60f))).toDF("id", "vec").repartition(3)
    val m = Bq.train(df)
    assert(m.thresholds.toSeq == Seq(3.0, 30.0))
    val packed = Bq.encodeCentered(df, m).orderBy("id")
      .select("bq").as[Array[Long]].collect()
    // row 0: (1<3, 10<30) -> 00; row 1: (3>=3, 20<30) -> 01; row 2: 11
    assert(packed(0)(0) == 0L)
    assert(packed(1)(0) == 1L)
    assert(packed(2)(0) == 3L)
    // kernel packCentered agrees with the expression
    assert(BqKernel.packCentered(Array(3f, 20f), m.thresholds)
      .sameElements(packed(1)))
    intercept[IllegalArgumentException] {
      BqKernel.packCentered(Array(1f), m.thresholds)
    }
  }

  test("centering recovers recall on an uncentered (all-positive) corpus") {
    // shift every dim by +5: raw sign bits become all-ones (zero
    // information — every Hamming distance is 0 and the coarse pass
    // degenerates to lowest-id selection), while mean thresholds follow
    // the shift and the centered sketch is bit-identical to the unshifted
    // raw sketch. L2 geometry is shift-invariant, so exact KNN is the
    // same and recall isolates the packing information content.
    val k = 10
    val shifted = base.select($"id",
      transform($"vec", x => x + lit(5.0f)).as("vec")).cache()
    val qShifted = shifted.filter($"id" < 6)
      .select($"id".as("query_id"), $"vec".as("query_vec"))
    val exact = Knn.exact(shifted, qShifted, k = k)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(got: org.apache.spark.sql.DataFrame): Double = {
      val mine = got.select("query_id", "id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.keys.toSeq.map { qid =>
        (mine.getOrElse(qid, Set.empty) & exact(qid)).size.toDouble / k
      }.sum / exact.size
    }
    val raw = recallOf(Bq.searchRerank(shifted, qShifted, k = k,
      candidates = 100, center = false))
    val centered = recallOf(Bq.searchRerank(shifted, qShifted, k = k,
      candidates = 100))
    assert(raw <= 0.6, s"raw sign sketch on an all-positive corpus " +
      s"should be near-uninformative, measured recall $raw")
    assert(centered >= 0.8, s"centered recall $centered < 0.8")
    assert(centered > raw + 0.2,
      s"centering should dominate on a shifted corpus ($centered vs $raw)")
    shifted.unpersist()
  }

  test("d960 (15-word unrolled query-outer kernel) == declarative hammingTopK; routed twin exact at full probes") {
    // the sf fixtures are 64-dim (1 word), so the words==15 register
    // unroll — the shape the bench's d960 rows serve — needs its own pin:
    // flat serving kernel vs the declarative arm, and the routed blocked
    // run-sweep vs exact KNN at exhaustive probes/candidates
    import spark.implicits._
    val rnd = new scala.util.Random(33)
    val n = 300
    val vecs = (0 until n).map(i =>
      (i.toLong, Array.fill(960)(rnd.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("id", "vec").repartition(4).cache()
    val q960 = vecs.take(4).map { case (i, v) => (i, v) }
      .toSeq.toDF("query_id", "query_vec")
    for (k <- Seq(20, 300)) { // sorted and loose buffer layouts
      val serve = Bq.hammingBroadcast(df, q960, k = k)
        .orderBy("query_id", "hamming", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val decl = Bq.hammingTopK(df, q960, k = k)
        .orderBy("query_id", "hamming", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(serve == decl, s"k=$k")
    }
    val (ivfModel, assigned) = graft.operators.Ivf.build(df, k = 4)
    val bqModel = Bq.train(df)
    val packed = Bq.encodeCentered(assigned, bqModel)
      .select(col("id"), col("bq"), col("cluster"))
    val routed = Bq.searchIvf(packed, df, ivfModel, Some(bqModel), q960,
        k = 5, candidates = n, nProbes = Some(4))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val exact = Knn.exact(df, q960, k = 5)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(routed == exact)
    df.unpersist()
  }

  test("routed autoCandidates: pool-derived budget, flat-arm cap, 10k floor, recall held") {
    import graft.operators.CoarseMerge
    // pool = np·N/kc; budget = 2/3 pool (sweep-calibrated), capped at
    // the flat-arm budget, floored at 10·k
    assert(CoarseMerge.autoCandidates(1000000L, 10, 1, 512) == 1302) // 2/3 of 1953
    assert(CoarseMerge.autoCandidates(1000000L, 10, 1, 32) == 2000)  // cap: flat arm
    assert(CoarseMerge.autoCandidates(1000000L, 10, 4, 512) == 2000) // np scales pool
    assert(CoarseMerge.autoCandidates(10000L, 10, 1, 512) == 100)    // floor: 10·k
    // the pool-aware budget serves the same rows as the corpus-scaled one
    // when the floor makes both exhaustive over the probed pool (the
    // small-fixture regime) — and never violates candidates >= k
    assert(CoarseMerge.autoCandidates(1L, 10, 1, 1) == 100)
  }

  test("candidates < k rejected; candidates >= n is exact") {
    intercept[IllegalArgumentException] {
      Bq.searchRerank(base, qs, k = 10, candidates = 5)
    }
    val tiny = base.limit(40).cache()
    val q1 = tiny.limit(1).select($"id".as("query_id"), $"vec".as("query_vec"))
    val viaBq = Bq.searchRerank(tiny, q1, k = 5, candidates = 40)
      .orderBy("distance", "id").collect()
    val viaExact = Knn.exact(tiny, q1, k = 5)
      .orderBy("distance", "id").collect()
    assert(viaBq.length == viaExact.length)
    viaBq.zip(viaExact).foreach { case (x, y) =>
      assert(x.getAs[Long]("id") == y.getAs[Long]("id"))
      assert(math.abs(x.getAs[Double]("distance") - y.getAs[Double]("distance")) < 1e-9)
    }
  }

  test("train accepts array<double> (same thresholds as the float-widened input)") {
    val df = Seq(
      (0L, Array(1f, -3f, 7f)),
      (1L, Array(5f, -1f, 7f)),
      (2L, Array(3f, -2f, 7f))).toDF("id", "vec")
    val mF = Bq.train(df)
    val mD = Bq.train(df.select(col("id"),
      col("vec").cast("array<double>").as("vec")))
    assert(mD.thresholds.toSeq == mF.thresholds.toSeq)
    val e = intercept[IllegalArgumentException] {
      Bq.train(df.select(col("id"), col("id").as("vec")))
    }
    assert(e.getMessage.contains("bq_train requires array<float>/array<double>"))
  }

  test("heap-layout coarse buffers (candidates > 256) match the declarative arm") {
    // k past TopBuffer.HeapThreshold drives the bounded max-heap path; the
    // declarative hammingTopK is the selection oracle (same (hamming, id)
    // order, independent TypedImperativeAggregate)
    val big = base.cache()
    val q2 = big.filter($"id" < 3)
      .select($"id".as("query_id"), $"vec".as("query_vec"))
    val a = Bq.hammingTopK(big, q2, k = 300)
      .orderBy("query_id", "hamming", "id").collect().toSeq
    // default gate: the tree-merged driver path (no partial-row shuffle)
    val (b, bPath) = hammingWithPath(big, q2, k = 300)
    assert(bPath == "merge")
    assert(a == b)
    // forced-shut gate: the aggregate path over the same heap buffers
    val savedGate = graft.operators.CoarseMerge.maxBytes
    val (c, cPath) = try {
      graft.operators.CoarseMerge.maxBytes = 1L
      hammingWithPath(big, q2, k = 300)
    } finally graft.operators.CoarseMerge.maxBytes = savedGate
    assert(cPath == "agg")
    assert(a == c)
  }

  test("searchIvf: exhaustive probes + candidates equal exact KNN; partitioned layout agrees and prunes") {
    val n = base.count().toInt
    val (ivfModel, assigned) = graft.operators.Ivf.build(
      base.select(col("id"), col("vec")), k = 8)
    val model = Bq.train(base)
    val packed = Bq.encodeCentered(assigned, model)
      .select(col("id"), col("bq"), col("cluster")).cache()
    // exhaustive: every row survives both prunes ⇒ exact KNN
    val got = Bq.searchIvf(packed, base, ivfModel, Some(model), qs, k = 5,
        candidates = n, nProbes = Some(8))
      .orderBy("query_id", "distance", "id").collect().toSeq
    val want = Knn.exact(base, qs, k = 5, dist = "l2sqr")
      .select(col("query_id"), col("id"), col("distance"))
      .orderBy("query_id", "distance", "id").collect().toSeq
    assert(got == want)
    // pruned probes: partitioned layout == in-memory twin, plan prunes
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "bq_ivf_part").toString
    Bq.writeIvfPartitioned(packed, dir)
    val floatDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "bq_ivf_float").toString
    graft.operators.Ivf.writePartitioned(assigned, ivfModel, floatDir)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("query_id"), col("id"),
        org.apache.spark.sql.functions.round(col("distance"), 9))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (np <- Seq(2, 8)) {
      val mem = Bq.searchIvf(packed, base, ivfModel, Some(model), qs,
        k = 5, candidates = 24, nProbes = Some(np))
      val partBoth = Bq.searchIvf(spark.read.parquet(s"$dir/data"),
        spark.read.parquet(s"$floatDir/data"), ivfModel, Some(model), qs,
        k = 5, candidates = 24, nProbes = Some(np),
        baseClusterCol = Some("cluster"))
      assert(rows(partBoth) == rows(mem), s"np=$np partitioned vs in-memory")
      // probes must reach BOTH parquet scans as PARTITION filters
      if (np < ivfModel.centroids.length) {
        val plan = partBoth.queryExecution.executedPlan.toString
        val nPruned = "PartitionFilters: \\[cluster".r.findAllMatchIn(plan).size
        assert(nPruned >= 2,
          s"expected partition filters on packed AND float scans, found $nPruned:\n$plan")
      }
    }
    packed.unpersist()
  }

  test("rerank gate: above the byte budget the winner join shuffles, same rows") {
    val saved = graft.operators.Rerank.broadcastMaxBytes
    try {
      graft.operators.Rerank.broadcastMaxBytes = 1L // force the shuffle path
      val tiny = base.limit(40).cache()
      val q1 = tiny.limit(1).select($"id".as("query_id"), $"vec".as("query_vec"))
      val viaBq = Bq.searchRerank(tiny, q1, k = 5, candidates = 40)
      val plan = viaBq.queryExecution.sparkPlan.toString
      assert(rerankJoin(viaBq) == "shuffle")
      assert(plan.contains("ShuffledHashJoin"),
        s"expected a shuffled winner join in:\n$plan")
      val got = viaBq.orderBy("distance", "id").collect().map(_.getLong(1)).toSeq
      val want = Knn.exact(tiny, q1, k = 5).orderBy("distance", "id")
        .collect().map(_.getAs[Long]("id")).toSeq
      assert(got == want)
    } finally graft.operators.Rerank.broadcastMaxBytes = saved
  }

  test("routed approx selection: dominated, recall holds, exhaustive per-partition budget == exact KNN") {
    val k = 10
    val n = base.count().toInt
    val (ivfModel, assigned) = graft.operators.Ivf.build(
      base.select(col("id"), col("vec")), k = 8)
    val model = Bq.train(base)
    val packed = Bq.encodeCentered(assigned, model)
      .select(col("id"), col("bq"), col("cluster"))
      .repartition(8, $"id").cache()
    // forced approx inside the probed scan (np = kc ⇒ pool membership is
    // the only approximation): per-partition top-⌈200/8⌉, the union IS the
    // rerank pool
    val (approx, choice) = searchIvfApprox(packed, ivfModel, model, k, 200)
    assert(choice.path == "approx")
    val approxRows = approx.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("distance")))
    val exactRows = Knn.exact(base, qs, k = k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("distance")))
    // DOMINATION at every rank (pool ⊆ corpus + exact rerank)
    val byQ = approxRows.groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3, t._2))).toMap
    val eByQ = exactRows.groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3, t._2))).toMap
    for ((qid, rs) <- byQ; (r, i) <- rs.zipWithIndex if i < eByQ(qid).length)
      assert(r._3 >= eByQ(qid)(i)._3 - 1e-9,
        s"query $qid rank $i: approx ${r._3} < exact ${eByQ(qid)(i)._3}")
    val eSets = exactRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = eSets.keys.toSeq.map { qid =>
      (byQ(qid).map(_._2).toSet & eSets(qid)).size.toDouble / k
    }.sum / eSets.size
    assert(recall >= 0.5, s"routed approx recall@$k = $recall")
    // exhaustive per-partition budget (cap = ⌈2n/P⌉ ≥ any partition's
    // rows) at full probes ⇒ the pool is the whole corpus ⇒ exact KNN
    val exhaustive = Bq.searchIvf(packed, base, ivfModel, Some(model), qs,
        k = k, candidates = 2 * n, nProbes = Some(8),
        coarseSelect = "approx")
      .orderBy("query_id", "distance", "id").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")))
    val exactSorted = exactRows.sortBy(t => (t._1, t._3, t._2))
      .map(t => (t._1, t._2))
    assert(exhaustive.toSeq == exactSorted.toSeq)
    // PARTITIONED layout under pruned probes: the approx path must hold
    // the same invariants when the scan partition count comes from the
    // probed directories (pool membership differs physically — no
    // equality with the in-memory twin is claimed, domination + hit
    // count are)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "bq_ivf_approx").toString
    Bq.writeIvfPartitioned(packed, dir)
    val (part, partChoice) = searchIvfApprox(
      spark.read.parquet(s"$dir/data"), ivfModel, model, k, 200)
    assert(partChoice.path == "approx")
    val pByQ = part.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("distance")))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (t._3, t._2))).toMap
    for ((qid, rs) <- pByQ) {
      assert(rs.length == k, s"query $qid: ${rs.length} hits")
      for ((r, i) <- rs.zipWithIndex if i < eByQ(qid).length)
        assert(r._3 >= eByQ(qid)(i)._3 - 1e-9,
          s"partitioned query $qid rank $i")
    }
    packed.unpersist()
  }

  test("SQL surface: bq_pack / bq_hamming registered and match the kernel") {
    graft.functions.VectorFunctions.register(spark)
    val v = Array(1f, -2f, 3f, -4f)
    val w = Array(-1f, -2f, 3f, 4f)
    Seq((0L, v, w)).toDF("id", "a", "b").createOrReplaceTempView("bqsql_t")
    val got = spark.sql(
      "SELECT bq_hamming(bq_pack(a), bq_pack(b)) AS h FROM bqsql_t")
      .as[Long].collect().head
    val want = graft.functions.BqKernel.hamming(
      graft.functions.BqKernel.pack(v), graft.functions.BqKernel.pack(w))
    assert(got == want && got == 2L)
  }
}
