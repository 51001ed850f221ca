package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Bq, CoarseMerge, Ivf, Sq}

/** Task-memory gate of the quantized coarse kernels: the query batch
  * chunks under `CoarseMerge.taskMaxBytes` (bounding each scan task's
  * nq × k × 16 B of TopBuffer slots — the nq10k × c20k OOM), and a
  * multi-chunk execution returns exactly the single-chunk rows on every
  * kernel (flat BQ, flat SQ, IVF-routed partitioned both). */
class CoarseChunkSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val base = Tables.vectors(spark, sf0001).select("id", "vec").cache()
  private lazy val qs = base.filter($"id" < 6)
    .select($"id".as("query_id"), $"vec".as("query_vec"))

  private def rows(d: org.apache.spark.sql.DataFrame) =
    d.select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // The Sq / Bq entry points below, each run through the shared driver
  // call that returns its choice with the frame.

  /** [[Bq.hammingBroadcastPackedArr]]. */
  private def hammingArr(packed: DataFrame, qsArr: Array[(Long, Array[Long])],
      k: Int): (DataFrame, CoarseMerge.Choice) = {
    val (hits, choice) = CoarseMerge.coarse(Bq.BqCodec(None), packed, qsArr, k)
    (hits.select(col("query_id"), col("id"),
      col("distance").cast("long").as("hamming")), choice)
  }

  /** [[Bq.hammingBroadcast]] of `qs` over `base`. */
  private def hamming(k: Int): (DataFrame, CoarseMerge.Choice) = {
    val codec = Bq.BqCodec(None)
    hammingArr(Bq.encode(base.select(col("id").cast("long").as("id"), col("vec")))
        .select(col("id"), col("bq")),
      CoarseMerge.collectQueries(qs).map { case (id, v) => (id, codec.prepare(v)) },
      k)
  }

  /** [[Sq.serveBroadcastPacked]] of `qs`. */
  private def sqServe(packed: DataFrame, model: Sq.SqModel, k: Int)
      : (DataFrame, CoarseMerge.Choice) =
    CoarseMerge.coarse(Sq.SqCodec(model, "l2sqr"), packed,
      CoarseMerge.collectQueries(qs), k)

  /** [[Bq.searchRerank]] / [[Sq.searchRerank]] of `qs` over `base`. */
  private def searchRerank(codec: String, k: Int, candidates: Int)
      : (DataFrame, CoarseMerge.Choice) = {
    val ids = base.select(col("id").cast("long").as("id"), col("vec"))
    if (codec == "bq") {
      val model = Bq.train(ids)
      CoarseMerge.searchRerank(Bq.BqCodec(Some(model)),
        Bq.encodeCentered(ids, model).select(col("id"), col("bq")), base, qs,
        k, candidates, "l2sqr", "vec", "exact")
    } else {
      val model = Sq.train(base)
      CoarseMerge.searchRerank(Sq.SqCodec(model, "l2sqr"),
        Sq.encode(ids, model).select(col("id"), col("sq")), base, qs, k,
        candidates, "l2sqr", "vec", "exact")
    }
  }

  private def withTaskBudget[T](bytes: Long)(body: => T): T = {
    val saved = CoarseMerge.taskMaxBytes
    try { CoarseMerge.taskMaxBytes = bytes; body }
    finally CoarseMerge.taskMaxBytes = saved
  }

  test("spans: balanced contiguous cover under the byte budget") {
    // default budget: one span
    assert(CoarseMerge.spans(1000, 2000) == Seq((0, 1000)))
    assert(CoarseMerge.spans(0, 10) == Seq((0, 0)))
    val saved = CoarseMerge.taskMaxBytes
    try {
      CoarseMerge.taskMaxBytes = 100L * 16L // 100 slot-queries at k=16... k*16 per q
      val s = CoarseMerge.spans(1000, 10) // perQ = 160 B -> maxQ = 10 -> 100 chunks
      assert(s.length == 100)
      assert(s.head._1 == 0 && s.last._2 == 1000)
      // contiguous, nonempty, each within budget
      s.sliding(2).foreach { case Seq((_, e1), (s2, _)) => assert(e1 == s2) }
      s.foreach { case (a, b) =>
        assert(b > a && (b - a).toLong * 10 * 16 <= CoarseMerge.taskMaxBytes)
      }
    } finally CoarseMerge.taskMaxBytes = saved
  }

  test("flat BQ hamming: multi-chunk == single-chunk (both merge and agg paths)") {
    val k = 300 // heap-layout budget, merge-eligible at nq=6
    val (oneDf, oneChoice) = hamming(k)
    val one = oneDf.orderBy("query_id", "hamming", "id").collect().toSeq
    assert(oneChoice.chunks == 1)
    val many = withTaskBudget(
        2L * k * graft.index.TopBuffer.slotBytes(k)) { // 2 q/chunk -> 3 chunks
      val (d, choice) = hamming(k)
      assert(choice.chunks == 3, s"chunks=${choice.chunks}")
      d.orderBy("query_id", "hamming", "id").collect().toSeq
    }
    assert(many == one)
    // agg path too (merge gate shut): chunking is orthogonal to the merge gate
    val savedGate = CoarseMerge.maxBytes
    val (aggMany, aggChoice) = try {
      CoarseMerge.maxBytes = 1L
      withTaskBudget(2L * k * graft.index.TopBuffer.slotBytes(k)) {
        val (d, choice) = hamming(k)
        (d.orderBy("query_id", "hamming", "id").collect().toSeq, choice)
      }
    } finally CoarseMerge.maxBytes = savedGate
    assert(aggChoice.path == "agg")
    assert(aggMany == one)
  }

  test("flat SQ coarse: multi-chunk == single-chunk") {
    val model = Sq.train(base)
    val packed = Sq.encode(base, model).select("id", "sq").cache()
    val (oneDf, oneChoice) = sqServe(packed, model, k = 7)
    val one = oneDf.orderBy("query_id", "distance", "id").collect().toSeq
    assert(oneChoice.chunks == 1)
    val many = withTaskBudget(7L * 16L) { // 1 query per chunk -> 6 chunks
      val (d, choice) = sqServe(packed, model, k = 7)
      assert(choice.chunks == 6, s"chunks=${choice.chunks}")
      d.orderBy("query_id", "distance", "id").collect().toSeq
    }
    assert(many == one)
    packed.unpersist()
  }

  test("distributed merge (big-batch regime past the driver cap) == merge-path rows") {
    val k = 300 // heap layout; nq=6 × k=300 = 1800 winners
    val (wantDf, wantChoice) = hamming(k)
    val want = wantDf.orderBy("query_id", "hamming", "id").collect().toSeq
    assert(wantChoice.path == "merge") // default gates: driver merge
    val savedRows = CoarseMerge.maxRows
    val dist = try {
      CoarseMerge.maxRows = 1L // below nq×k: driver-ineligible, dist-eligible
      val (d, choice) = hamming(k)
      assert(choice.path == "dist", s"path=${choice.path}")
      d.orderBy("query_id", "hamming", "id").collect().toSeq
    } finally CoarseMerge.maxRows = savedRows
    assert(dist == want)
    // SQ serving kernel through the dist path too (TopBuffer arrays cross a
    // real shuffle: local[4] serializes them between stages)
    val model = Sq.train(base)
    val packed = Sq.encode(base, model).select("id", "sq").cache()
    val sqWant = Sq.serveBroadcastPacked(packed, qs, model, k = 300)
      .orderBy("query_id", "distance", "id").collect().toSeq
    val sqDist = try {
      CoarseMerge.maxRows = 1L
      val (d, choice) = sqServe(packed, model, k = 300)
      assert(choice.path == "dist")
      d.orderBy("query_id", "distance", "id").collect().toSeq
    } finally CoarseMerge.maxRows = savedRows
    assert(sqDist == sqWant)
    packed.unpersist()
  }

  test("flat two-stage BQ + SQ: per-chunk rerank == single global rerank") {
    // r18: searchRerank* reranks each task-memory chunk's winners
    // separately and unions the reranked top-k — must be row-identical to
    // the unchunked execution (chunks partition the queries; both stages
    // are per-query)
    val cand = 24
    def full(d: org.apache.spark.sql.DataFrame) =
      d.select(col("query_id"), col("id"), col("distance"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (bqOneDf, bqOneChoice) = searchRerank("bq", k = 5, candidates = cand)
    val bqOne = full(bqOneDf)
    assert(bqOneChoice.chunks == 1)
    val (sqOneDf, sqOneChoice) = searchRerank("sq", k = 5, candidates = cand)
    val sqOne = full(sqOneDf)
    assert(sqOneChoice.chunks == 1)
    withTaskBudget(2L * cand * graft.index.TopBuffer.slotBytes(cand)) {
      val (bqManyDf, bqManyChoice) = searchRerank("bq", k = 5, candidates = cand)
      assert(bqManyChoice.chunks == 3, s"chunks=${bqManyChoice.chunks}")
      assert(full(bqManyDf) == bqOne)
      val (sqManyDf, sqManyChoice) = searchRerank("sq", k = 5, candidates = cand)
      assert(sqManyChoice.chunks == 3)
      assert(full(sqManyDf) == sqOne)
    }
  }

  test("merge path is LAZY: construction + planning run no treeReduce; rows unchanged; memoized") {
    val k = 300 // merge-eligible at nq=6 (k > HeapThreshold, under row/byte caps)
    val packed = Bq.encode(base).select("id", "bq").cache()
    packed.count()
    val qsArr = qs.select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, v) => (qid, graft.functions.BqKernel.pack(v)) }
    val before = CoarseMerge.mergeExecutions.get()
    // construction (pre-collected pre-packed batch: owes zero jobs)
    val (df, choice) = hammingArr(packed, qsArr, k)
    assert(choice.path == "merge", s"path=${choice.path}")
    assert(CoarseMerge.mergeExecutions.get() == before,
      "treeReduce ran at DataFrame construction")
    // planning/explain must not execute either — the r17 wart was exactly
    // a .explain firing a corpus scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LazyLocalScan"), s"expected lazy scan node:\n$plan")
    assert(CoarseMerge.mergeExecutions.get() == before,
      "treeReduce ran at planning time")
    // first action materializes exactly once
    val got = df.orderBy("query_id", "hamming", "id").collect().toSeq
    assert(CoarseMerge.mergeExecutions.get() == before + 1)
    // a second action over the same DataFrame reuses the memoized merge
    assert(df.count() == got.size)
    assert(CoarseMerge.mergeExecutions.get() == before + 1,
      "merge re-ran on a second action")
    // rows identical to the aggregate path (merge gate shut)
    val savedGate = CoarseMerge.maxBytes
    val (agg, aggChoice) = try {
      CoarseMerge.maxBytes = 1L
      val (d, c) = hammingArr(packed, qsArr, k)
      (d.orderBy("query_id", "hamming", "id").collect().toSeq, c)
    } finally CoarseMerge.maxBytes = savedGate
    assert(aggChoice.path == "agg")
    assert(got == agg)
    packed.unpersist()
  }

  test("lazy scan materializes in doPrepare — a slow thunk beats broadcastTimeout") {
    // r19 ADVICE: the deferred merge used to run INSIDE the consumer's
    // BroadcastExchange relation future, so spark.sql.broadcastTimeout
    // capped the whole coarse scan. LazyLocalScanExec.doPrepare now runs
    // the thunk on the main driver thread BEFORE the exchange's future
    // exists (children prepare first), so a scan slower than the timeout
    // still broadcasts. Regression shape: thunk sleeps past a 1 s
    // timeout; the broadcast-join collect must succeed.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val thunk = () => {
      Thread.sleep(1800)
      Array.tabulate(3)(i => InternalRow(i.toLong): InternalRow)
    }
    val lazyDf = graft.plans.LazyLocal.ofThunk(spark, schema, thunk, 48L)
    val other = spark.range(3).select(col("id"))
    val saved = spark.conf.getOption("spark.sql.broadcastTimeout")
    try {
      spark.conf.set("spark.sql.broadcastTimeout", "1")
      val joined = other.join(broadcast(lazyDf), "id").collect()
      assert(joined.length == 3)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.broadcastTimeout", v)
      case None => spark.conf.unset("spark.sql.broadcastTimeout")
    }
  }

  test("IVF-routed SQ + BQ over the partitioned layout: multi-chunk == single-chunk, still pruned") {
    val (ivfModel, assigned) = Ivf.build(base.select(col("id"), col("vec")), k = 8)
    val sqModel = Sq.train(base)
    val sqPacked = Sq.encode(assigned, sqModel).select("id", "sq", "cluster")
    val bqModel = Bq.train(base)
    val bqPacked = Bq.encodeCentered(assigned, bqModel)
      .select(col("id"), col("bq"), col("cluster"))
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "chunk_ivf").toString
    Sq.writeIvfPartitioned(sqPacked, s"$dir/sq")
    Bq.writeIvfPartitioned(bqPacked, s"$dir/bq")
    val floatDir = s"$dir/float"
    Ivf.writePartitioned(assigned, ivfModel, floatDir)
    val floats = spark.read.parquet(s"$floatDir/data")
    // Sq.searchIvf / Bq.searchIvf through the shared driver
    def search(codec: CoarseMerge.Codec[_, _], codes: String) =
      CoarseMerge.searchIvf(codec, spark.read.parquet(s"$dir/$codes/data"),
        floats, ivfModel, qs, 5, 24, Some(3), "l2sqr", "vec", Some("cluster"),
        None, None, "exact", None)
    def sqSearch() = search(Sq.SqCodec(sqModel, "l2sqr"), "sq")
    def bqSearch() = search(Bq.BqCodec(Some(bqModel)), "bq")
    val (sqOneDf, sqOneChoice) = sqSearch()
    val sqOne = rows(sqOneDf); assert(sqOneChoice.chunks == 1)
    val (bqOneDf, bqOneChoice) = bqSearch()
    val bqOne = rows(bqOneDf); assert(bqOneChoice.chunks == 1)
    withTaskBudget(2L * 24L * 16L) { // 2 queries per chunk -> 3 chunks
      val (sqManyDf, sqManyChoice) = sqSearch()
      assert(sqManyChoice.chunks == 3, s"chunks=${sqManyChoice.chunks}")
      // per-chunk probe plans still reach the parquet scans as partition
      // filters (chunking must tighten pruning, not drop it)
      val plan = sqManyDf.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[cluster".r.findAllMatchIn(plan).size >= 2,
        s"expected partition filters on chunked scans:\n$plan")
      assert(rows(sqManyDf) == sqOne)
      val (bqManyDf, bqManyChoice) = bqSearch()
      assert(bqManyChoice.chunks == 3)
      assert(rows(bqManyDf) == bqOne)
    }
  }
}
