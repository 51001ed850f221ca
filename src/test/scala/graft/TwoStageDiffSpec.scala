package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

import graft.index.TopBuffer
import graft.operators.{Bq, CoarseMerge, Ivf, Knn, Sq}

/** Differential property of the two-stage quantized search: at an
  * exhaustive budget (candidates ≥ N, every cluster probed) each codec ×
  * layout × selection path × chunking returns exactly `Knn.exact`'s rows,
  * (distance, id) tie order included. Corpora duplicate rows so ties fall
  * at the k cut; dim 960 drives BQ's 15-word kernel. */
class TwoStageDiffSpec extends SparkTestBase {
  import spark.implicits._

  case class Case(seed: Long, n: Int, dim: Int, dist: String, codec: String,
      layout: String, path: String, chunks: Boolean, k: Int, nq: Int,
      parts: Int)

  /** Random shape under fixed structure: codec, layout and path are
    * the caller's, so a batch of cases can cover every combination. */
  private def genCase(codec: String, layout: String, path: String)
      : Gen[Case] = for {
    seed <- Gen.choose(0L, Long.MaxValue)
    n <- Gen.choose(20, 400)
    dim <- Gen.oneOf(7, 960)
    dist <- Gen.oneOf("l2sqr", "cosine")
    chunks <- Gen.oneOf(false, true)
    k <- Gen.choose(1, 12)
    nq <- Gen.choose(1, 5)
    parts <- Gen.oneOf(1, 3, 4)
  } yield Case(seed, n, dim, dist, codec, layout, path, chunks, k, nq, parts)

  // flat | routed in memory | routed partitioned via the partitioned
  // layout or (coverage 1.0 over the threshold) its flat twin
  private val layouts = Seq("flat", "mem", "part", "twin")
  private val paths = Seq("merge", "dist", "agg")

  /** 16 cases: every codec × layout twice, every codec × path. */
  private val genCases: Gen[Seq[Case]] =
    Gen.sequence[Seq[Case], Case]((0 until 16).map(i =>
      genCase(if (i % 2 == 0) "sq" else "bq", layouts((i / 2) % 4),
        paths(i % 3))))

  /** N rows of which about a fifth copy an earlier row's vector. */
  private def corpus(c: Case): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(c.seed)
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    for (i <- 0 until c.n)
      vecs += (if (i > 0 && rnd.nextDouble() < 0.2) vecs(rnd.nextInt(i)).clone()
               else Array.fill(c.dim)(rnd.nextFloat() * 2f - 1f))
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
  }

  private def rows(d: DataFrame): Seq[(Long, Long, Double)] =
    d.select(col("query_id").cast("long"), col("id").cast("long"),
        col("distance").cast("double"))
      .orderBy("query_id", "distance", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def withGates[T](c: Case, candidates: Int)(body: => T): T = {
    val (mb, mr, tb, cov) = (CoarseMerge.maxBytes, CoarseMerge.maxRows,
      CoarseMerge.taskMaxBytes, CoarseMerge.coverageFlatThreshold)
    try {
      c.path match {
        case "dist" => CoarseMerge.maxRows = 1L
        case "agg" => CoarseMerge.maxBytes = 1L
        case _ =>
      }
      // two queries per chunk
      if (c.chunks)
        CoarseMerge.taskMaxBytes = 2L * candidates * TopBuffer.slotBytes(candidates)
      if (c.layout == "part") CoarseMerge.coverageFlatThreshold = 2.0
      body
    } finally {
      CoarseMerge.maxBytes = mb; CoarseMerge.maxRows = mr
      CoarseMerge.taskMaxBytes = tb; CoarseMerge.coverageFlatThreshold = cov
    }
  }

  private def check(c: Case): Boolean = {
    info(c.toString)
    val df = corpus(c).toDF("id", "vec").repartition(c.parts, col("id")).cache()
    val q = df.filter(col("id") < c.nq)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    // merge and dist need the heap layout (> 256 slots)
    val candidates = if (c.path == "agg") c.n else math.max(c.n, 257)
    val kc = 4
    lazy val (ivfModel, assigned) = Ivf.build(df, k = kc, dist = c.dist)
    lazy val sqModel = Sq.train(df)
    lazy val bqModel = Bq.train(df)
    def codes(a: DataFrame) =
      if (c.codec == "sq") Sq.encode(a, sqModel).select("id", "sq", "cluster")
      else Bq.encodeCentered(a, bqModel).select("id", "bq", "cluster")
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "twostage").toString
    // the codec the Sq / Bq search entry points hand the shared driver
    def codec: CoarseMerge.Codec[_, _] =
      if (c.codec == "sq") Sq.SqCodec(sqModel, c.dist)
      else Bq.BqCodec(Some(bqModel))
    def routed(codesDf: DataFrame, base: DataFrame,
        baseClusterCol: Option[String] = None,
        flatCodes: Option[DataFrame] = None,
        flatBase: Option[DataFrame] = None,
        flatVecCol: Option[String] = None) =
      CoarseMerge.searchIvf(codec, codesDf, base, ivfModel, q, c.k,
        candidates, Some(kc), c.dist, "vec", baseClusterCol, flatCodes,
        flatBase, "exact", flatVecCol)
    val want = rows(Knn.exact(df, q, c.k, c.dist))
    val got = withGates(c, candidates) {
      val (hits, choice) = c.layout match {
        case "flat" =>
          val packed =
            if (c.codec == "sq") Sq.encode(df, sqModel).select("id", "sq")
            else Bq.encodeCentered(df, bqModel).select("id", "bq")
          CoarseMerge.searchRerank(codec, packed, df, q, c.k, candidates,
            c.dist, "vec", "exact")
        case "mem" => routed(codes(assigned), df)
        case _ =>
          val packed = codes(assigned)
          if (c.codec == "sq") Sq.writeIvfPartitioned(packed, s"$dir/codes")
          else Bq.writeIvfPartitioned(packed, s"$dir/codes")
          packed.write.parquet(s"$dir/flat")
          Ivf.writePartitioned(assigned, ivfModel, s"$dir/float")
          routed(spark.read.parquet(s"$dir/codes/data"),
            spark.read.parquet(s"$dir/float/data"),
            baseClusterCol = Some("cluster"),
            flatCodes = Some(spark.read.parquet(s"$dir/flat")),
            flatBase = Some(df), flatVecCol = Some("vec"))
      }
      val r = rows(hits)
      assert(choice.path == c.path, s"path ${choice.path}")
      if (c.chunks && c.nq > 2) assert(choice.chunks > 1)
      if (c.layout == "part" || c.layout == "twin")
        assert(choice.coverage.contains(
          if (c.layout == "part") "partitioned" else "flat"))
      r
    }
    df.unpersist()
    got == want
  }

  test("exhaustive two-stage search == Knn.exact over random shapes, codecs, layouts and paths") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(1)
      .withInitialSeed(org.scalacheck.rng.Seed(8L))
    val result = Test.check(params, Prop.forAllNoShrink(genCases)(cs =>
      Prop.all(cs.map(c => Prop(check(c)) :| c.toString): _*)))
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
