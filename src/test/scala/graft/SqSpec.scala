package graft

import org.apache.spark.sql.functions._
import graft.functions.SqKernel
import org.apache.spark.sql.DataFrame
import graft.operators.{CoarseMerge, Knn, Sq}

/** SQ8 scalar-quantization semantics: affine-map exactness, the per-dim
  * reconstruction-error bound (≤ scale/2 for in-range values — the theorem
  * the two-stage recall rests on), declarative/serving-arm agreement, and
  * exact-KNN equality when the coarse pass keeps every row. The codebook
  * analog in the reference is `/root/reference/src/distance/pq_table.rs`;
  * SQ8 is the codebook-free 8-bit point of the same spectrum. */
class SqSpec extends SparkTestBase {
  import spark.implicits._

  /** [[Sq.serveBroadcastPacked]]'s rows, sorted, with the coarse
    * selection path the shared driver took. */
  private def serveWithPath(packed: DataFrame, q: DataFrame, m: Sq.SqModel,
      k: Int, dist: String): (Seq[org.apache.spark.sql.Row], String) = {
    val (hits, choice) = CoarseMerge.coarse(Sq.SqCodec(m, dist), packed,
      CoarseMerge.collectQueries(q), k)
    (hits.orderBy("query_id", "distance", "id").collect().toSeq, choice.path)
  }

  private def randVecs(n: Int, d: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i => (i, Array.fill(d)(rnd.nextFloat() * 4f - 2f)))
  }

  test("train: exact per-dim min/max, constant dim gets scale 0") {
    val df = Seq(
      (0L, Array(1f, -3f, 7f)),
      (1L, Array(5f, -1f, 7f)),
      (2L, Array(3f, -2f, 7f))).toDF("id", "vec")
    val m = Sq.train(df)
    assert(m.mins.toSeq == Seq(1.0, -3.0, 7.0))
    assert(m.scales(0) == 4.0 / 255.0)
    assert(m.scales(1) == 2.0 / 255.0)
    assert(m.scales(2) == 0.0) // constant dim
    // constant dim decodes exactly: code 0 → min
    val code = SqKernel.encode(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(3f, -2f, 7f)),
      isFloat = true, m.mins, m.scales)
    assert(code(2) == 0)
    assert(m.mins(2) + m.scales(2) * (code(2) & 0xFF) == 7.0)
  }

  test("train accepts array<double> (same model as the float-widened input)") {
    val df = Seq(
      (0L, Array(1f, -3f, 7f)),
      (1L, Array(5f, -1f, 7f)),
      (2L, Array(3f, -2f, 7f))).toDF("id", "vec")
    val mF = Sq.train(df)
    val mD = Sq.train(df.select(col("id"),
      col("vec").cast("array<double>").as("vec")))
    assert(mD.mins.toSeq == mF.mins.toSeq)
    assert(mD.scales.toSeq == mF.scales.toSeq)
    val e = intercept[IllegalArgumentException] {
      Sq.train(df.select(col("id"), col("id").as("vec")))
    }
    assert(e.getMessage.contains("sq_train requires array<float>/array<double>"))
  }

  test("encode/decode: reconstruction error <= scale/2 per dim (in-range)") {
    val data = randVecs(200, 16, seed = 7)
    val df = data.toDF("id", "vec").cache()
    val m = Sq.train(df)
    for ((_, v) <- data) {
      val code = SqKernel.encode(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v),
        isFloat = true, m.mins, m.scales)
      var i = 0
      while (i < v.length) {
        val dec = m.mins(i) + m.scales(i) * (code(i) & 0xFF)
        assert(math.abs(v(i).toDouble - dec) <= m.scales(i) / 2 + 1e-12,
          s"dim $i: |${v(i)} - $dec| > ${m.scales(i) / 2}")
        i += 1
      }
    }
    df.unpersist()
  }

  test("boundary values encode to 0 and 255 exactly") {
    val df = Seq((0L, Array(-2f)), (1L, Array(2f)), (2L, Array(0f)))
      .toDF("id", "vec")
    val m = Sq.train(df)
    def codeOf(x: Float): Int = SqKernel.encode(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(x)),
      isFloat = true, m.mins, m.scales)(0) & 0xFF
    assert(codeOf(-2f) == 0)
    assert(codeOf(2f) == 255)
  }

  test("declarative coarseTopK equals the serving mapPartitions arm") {
    val data = randVecs(500, 12, seed = 11)
    val df = data.toDF("id", "vec").repartition(4).cache()
    val q = df.filter(col("id") < 4)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val m = Sq.train(df)
    val packed = Sq.encode(df, m).select(col("id"), col("sq")).cache()
    for (dist <- Seq("l2sqr", "cosine", "dot")) {
      val a = Sq.coarseTopK(packed, q, m, k = 7, dist = dist)
        .orderBy("query_id", "distance", "id").collect().toSeq
      val b = Sq.serveBroadcastPacked(packed, q, m, k = 7, dist = dist)
        .orderBy("query_id", "distance", "id").collect().toSeq
      assert(a == b, s"arms disagree for $dist")
    }
    packed.unpersist(); df.unpersist()
  }

  test("heap-layout coarse buffers (k > 256) match the declarative arm") {
    // k past TopBuffer.HeapThreshold drives the bounded max-heap admits
    // (and the early-exit bound reads the heap root); the declarative
    // coarseTopK is the selection oracle
    val data = randVecs(600, 12, seed = 31)
    val df = data.toDF("id", "vec").repartition(4).cache()
    val q = df.filter(col("id") < 3)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val m = Sq.train(df)
    val packed = Sq.encode(df, m).select(col("id"), col("sq")).cache()
    val savedGate = graft.operators.CoarseMerge.maxBytes
    for (dist <- Seq("l2sqr", "cosine")) {
      val a = Sq.coarseTopK(packed, q, m, k = 300, dist = dist)
        .orderBy("query_id", "distance", "id").collect().toSeq
      // default gate: the tree-merged driver path (no partial-row shuffle)
      val (b, bPath) = serveWithPath(packed, q, m, k = 300, dist = dist)
      assert(bPath == "merge")
      assert(a == b, s"merge path disagrees for $dist at k=300")
      // forced-shut gate: the aggregate path over the same heap buffers
      val (c, cPath) = try {
        graft.operators.CoarseMerge.maxBytes = 1L
        serveWithPath(packed, q, m, k = 300, dist = dist)
      } finally graft.operators.CoarseMerge.maxBytes = savedGate
      assert(cPath == "agg")
      assert(a == c, s"agg path disagrees for $dist at k=300")
    }
    packed.unpersist(); df.unpersist()
  }

  test("rerank gate: the default budget broadcasts, a tiny budget shuffles — same result") {
    val data = randVecs(300, 10, seed = 41)
    val df = data.toDF("id", "vec").repartition(4).cache()
    val q = df.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val saved = graft.operators.Rerank.broadcastMaxBytes
    val viaBroadcast = try {
      val d = Sq.searchRerank(df, q, k = 5, candidates = 300)
      assert(rerankJoin(d) == "broadcast")
      d.orderBy("query_id", "distance", "id").collect().toSeq
    } finally graft.operators.Rerank.broadcastMaxBytes = saved
    val viaShuffle = try {
      graft.operators.Rerank.broadcastMaxBytes = 1L
      val d = Sq.searchRerank(df, q, k = 5, candidates = 300)
      assert(rerankJoin(d) == "shuffle")
      assert(d.queryExecution.sparkPlan.toString.contains("ShuffledHashJoin"))
      d.orderBy("query_id", "distance", "id").collect().toSeq
    } finally graft.operators.Rerank.broadcastMaxBytes = saved
    assert(viaBroadcast == viaShuffle)
    df.unpersist()
  }

  test("approx coarse selection: dominated by exact; exhaustive budget == exact KNN") {
    val data = randVecs(300, 10, seed = 17)
    val df = data.toDF("id", "vec").repartition(4, col("id")).cache()
    val q = df.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    // Sq.searchRerank's steps through the shared driver, which returns
    // the choice it made with the frame
    val m = Sq.train(df)
    val (approx, choice) = CoarseMerge.searchRerank(Sq.SqCodec(m, "l2sqr"),
      Sq.encode(df, m).select(col("id"), col("sq")), df, q, 5, 40, "l2sqr",
      "vec", "approx")
    assert(choice.path == "approx")
    val a = approx.orderBy("query_id", "distance", "id").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Double]("distance")))
    val e = Knn.exact(df, q, k = 5, dist = "l2sqr")
      .orderBy("query_id", "distance", "id").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Double]("distance")))
    // domination at every rank (pool ⊆ corpus, rerank exact)
    a.zip(e).foreach { case ((qa, da), (qe, de)) =>
      assert(qa == qe); assert(da >= de - 1e-9)
    }
    // exhaustive: per-partition cap ≥ partition rows ⇒ exact KNN
    val exhaustive = Sq.searchRerank(df, q, k = 5, candidates = 600,
        coarseSelect = "approx")
      .orderBy("query_id", "distance", "id").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")))
    val want = Knn.exact(df, q, k = 5, dist = "l2sqr")
      .orderBy("query_id", "distance", "id").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")))
    assert(exhaustive.toSeq == want.toSeq)
    df.unpersist()
  }

  test("searchRerank with candidates >= n equals exact KNN") {
    val data = randVecs(300, 10, seed = 3)
    val df = data.toDF("id", "vec").repartition(4).cache()
    val q = df.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val got = Sq.searchRerank(df, q, k = 5, candidates = 300)
      .orderBy("query_id", "distance", "id").collect().toSeq
    val want = Knn.exact(df, q, k = 5, dist = "l2sqr")
      .select(col("query_id"), col("id"), col("distance"))
      .orderBy("query_id", "distance", "id").collect().toSeq
    assert(got == want)
    df.unpersist()
  }

  test("two-stage recall: modest candidates recover exact top-k on SQ8 error") {
    // 8-bit per-dim error is tiny relative to inter-point distances at this
    // density, so candidates = 4k already measures recall 1.0; the graded
    // q_sq_rerank bound (3/5 at candidates=50) sits far inside this margin
    val data = randVecs(1000, 24, seed = 19)
    val df = data.toDF("id", "vec").repartition(4).cache()
    val q = df.filter(col("id") < 8)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val approx = Sq.searchRerank(df, q, k = 5, candidates = 20)
      .select(col("query_id"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Knn.exact(df, q, k = 5, dist = "l2sqr")
      .select(col("query_id"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall < 0.9")
    df.unpersist()
  }

  test("searchIvf: exhaustive probes + candidates equals exact KNN") {
    val data = randVecs(400, 10, seed = 23)
    val df = data.toDF("id", "vec").repartition(4).cache()
    val q = df.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val (ivfModel, assigned) = graft.operators.Ivf.build(df, k = 8)
    val sqModel = Sq.train(df)
    val packed = Sq.encode(assigned, sqModel)
      .select(col("id"), col("sq"), col("cluster"))
    val got = Sq.searchIvf(packed, df, ivfModel, sqModel, q, k = 5,
        candidates = 400, nProbes = Some(8))
      .orderBy("query_id", "distance", "id").collect().toSeq
    val want = Knn.exact(df, q, k = 5, dist = "l2sqr")
      .select(col("query_id"), col("id"), col("distance"))
      .orderBy("query_id", "distance", "id").collect().toSeq
    assert(got == want)
    df.unpersist()
  }

  test("searchIvf: pruned probes keep a recall floor") {
    val data = randVecs(1000, 16, seed = 29)
    val df = data.toDF("id", "vec").repartition(4).cache()
    val q = df.filter(col("id") < 8)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val (ivfModel, assigned) = graft.operators.Ivf.build(df, k = 16)
    val sqModel = Sq.train(df)
    val packed = Sq.encode(assigned, sqModel)
      .select(col("id"), col("sq"), col("cluster"))
    val approx = Sq.searchIvf(packed, df, ivfModel, sqModel, q, k = 5,
        candidates = 50, nProbes = Some(4))
      .select(col("query_id"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Knn.exact(df, q, k = 5, dist = "l2sqr")
      .select(col("query_id"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall < 0.7 at nProbes=4/16")
    df.unpersist()
  }

  test("routed approx selection: dominated, recall holds, exhaustive per-partition budget == exact KNN") {
    val k = 5
    val data = randVecs(400, 10, seed = 23)
    val df = data.toDF("id", "vec").repartition(8, col("id")).cache()
    val q = df.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val (ivfModel, assigned) = graft.operators.Ivf.build(df, k = 8)
    val sqModel = Sq.train(df)
    val packed = Sq.encode(assigned, sqModel)
      .select(col("id"), col("sq"), col("cluster"))
      .repartition(8, col("id")).cache()
    // forced approx inside the probed scan (np = kc ⇒ pool membership is
    // the only approximation)
    val (approx, choice) = CoarseMerge.searchIvf(Sq.SqCodec(sqModel, "l2sqr"),
      packed, df, ivfModel, q, k, 100, Some(8), "l2sqr", "vec", None, None,
      None, "approx", None)
    assert(choice.path == "approx")
    val approxRows = approx.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("distance")))
    val exactRows = Knn.exact(df, q, k = k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("distance")))
    val byQ = approxRows.groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3, t._2))).toMap
    val eByQ = exactRows.groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3, t._2))).toMap
    // DOMINATION at every rank + full hit counts
    for ((qid, rs) <- byQ) {
      assert(rs.length == k, s"query $qid: ${rs.length} hits")
      for ((r, i) <- rs.zipWithIndex if i < eByQ(qid).length)
        assert(r._3 >= eByQ(qid)(i)._3 - 1e-9,
          s"query $qid rank $i: approx ${r._3} < exact ${eByQ(qid)(i)._3}")
    }
    val eSets = exactRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = eSets.keys.toSeq.map { qid =>
      (byQ(qid).map(_._2).toSet & eSets(qid)).size.toDouble / k
    }.sum / eSets.size
    assert(recall >= 0.5, s"routed approx recall@$k = $recall")
    // exhaustive per-partition budget at full probes ⇒ exact KNN
    val exhaustive = Sq.searchIvf(packed, df, ivfModel, sqModel, q, k = k,
        candidates = 800, nProbes = Some(8), coarseSelect = "approx")
      .orderBy("query_id", "distance", "id").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")))
    val exactSorted = exactRows.sortBy(t => (t._1, t._3, t._2))
      .map(t => (t._1, t._2))
    assert(exhaustive.toSeq == exactSorted.toSeq)
    packed.unpersist()
    df.unpersist()
  }

  test("searchIvf kernel == declarative twin == partitioned layout; scan prunes") {
    val data = randVecs(600, 24, seed = 29)
    val df = data.toDF("id", "vec").repartition(4).cache()
    val q = df.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val (ivfModel, assigned) = graft.operators.Ivf.build(df, k = 8)
    val sqModel = Sq.train(df)
    val packed = Sq.encode(assigned, sqModel)
      .select(col("id"), col("sq"), col("cluster")).cache()
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "sq_ivf_part").toString
    Sq.writeIvfPartitioned(packed, dir)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("query_id"), col("id"),
        org.apache.spark.sql.functions.round(col("distance"), 9))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // float layout partitioned under the SAME assignment: the rerank base
    // the catalog's sq_ivf arm reads (the IVF sidecar's data layout)
    val floatDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "sq_ivf_float").toString
    graft.operators.Ivf.writePartitioned(assigned, ivfModel, floatDir)
    for (np <- Seq(2, 8); dist <- Seq("l2sqr", "cosine")) {
      val kernel = Sq.searchIvf(packed, df, ivfModel, sqModel, q,
        k = 6, candidates = 24, nProbes = Some(np), dist = dist)
      val declarative = Sq.searchIvfDeclarative(packed, df, ivfModel,
        sqModel, q, k = 6, candidates = 24, nProbes = Some(np), dist = dist)
      val part = Sq.searchIvf(spark.read.parquet(s"$dir/data"), df,
        ivfModel, sqModel, q, k = 6, candidates = 24, nProbes = Some(np), dist = dist)
      // both stages partition-pruned: codes from `dir`, floats from the
      // cluster-partitioned layout (every candidate's float row lives in
      // a probed cluster's directory, so pruning cannot drop a candidate)
      val partBoth = Sq.searchIvf(spark.read.parquet(s"$dir/data"),
        spark.read.parquet(s"$floatDir/data"), ivfModel, sqModel, q,
        k = 6, candidates = 24, nProbes = Some(np), dist = dist,
        baseClusterCol = Some("cluster"))
      assert(rows(kernel) == rows(declarative), s"np=$np dist=$dist kernel vs declarative")
      assert(rows(part) == rows(declarative), s"np=$np dist=$dist partitioned vs declarative")
      assert(rows(partBoth) == rows(declarative), s"np=$np dist=$dist float-pruned vs declarative")
      // the probe filter must reach the parquet scans as PARTITION
      // filters — on BOTH the code scan and the float rerank scan
      if (np < ivfModel.centroids.length) {
        val plan = part.queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters: [cluster"),
          s"no partition filters in plan:\n$plan")
        val planBoth = partBoth.queryExecution.executedPlan.toString
        val nPruned = "PartitionFilters: \\[cluster".r
          .findAllMatchIn(planBoth).size
        assert(nPruned >= 2,
          s"expected partition filters on code AND float scans, found $nPruned:\n$planBoth")
      }
    }
    packed.unpersist(); df.unpersist()
  }

  test("sq distance kinds match exact distances on decoded vectors") {
    // evaluating the codegen expression against the kernel on one row
    val v = Array(0.5f, -1.25f, 2f, 0f)
    val qv = Array(1f, 1f, 1f, 1f)
    val df = Seq((0L, v)).toDF("id", "vec")
    val m = Sq.train(Seq((0L, Array(-2f, -2f, -2f, -2f)),
      (1L, Array(2f, 2f, 2f, 2f))).toDF("id", "vec"))
    val packed = Sq.encode(df, m).select(col("id"), col("sq"))
    val code = packed.as[(Long, Array[Byte])].collect().head._2
    val dec = code.indices.map(i => m.mins(i) + m.scales(i) * (code(i) & 0xFF)).toArray
    def exact(kind: String): Double = kind match {
      case "dot" => dec.lazyZip(qv).map((b, a) => a.toDouble * b).sum
      case "cosine" =>
        val dp = dec.lazyZip(qv).map((b, a) => a.toDouble * b).sum
        val nq = math.sqrt(qv.map(a => a.toDouble * a).sum)
        val nc = math.sqrt(dec.map(b => b * b).sum)
        1.0 - dp / math.max(nq * nc, 1e-10)
      case _ => dec.lazyZip(qv).map((b, a) => { val d = a.toDouble - b; d * d }).sum
    }
    for (kind <- Seq("l2sqr", "cosine", "dot")) {
      val got = packed.select(
        Sq.sqDistance(col("sq"), typedLit(qv), m, kind).as("d"))
        .as[Double].collect().head
      assert(math.abs(got - exact(kind)) < 1e-9, s"$kind: $got vs ${exact(kind)}")
    }
  }
}
