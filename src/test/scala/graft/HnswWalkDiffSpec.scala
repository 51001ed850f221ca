package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

import graft.catalog.VecDB
import graft.operators.{Hnsw, IvfHnsw, Knn, Pq, PqModel}

/** Differential property of the HNSW walks: at an exhaustive beam
  * (ef ≥ N, every cluster probed) every placement — resident, pinned with
  * the driver merge and with the shuffle merge, routed pinned, and the
  * stream, routed and not — returns exactly `Knn.exact`'s rows, (distance,
  * id) tie order included, both plain and ADC-scored. ADC runs a
  * plain-trained quantizer on every walk and, on the routed L2 walks, a
  * residual-trained one too. Corpora duplicate rows so ties fall at the k
  * cut. A pattern-filtered catalog search of an HNSW table and of a
  * residual-PQ table equals `Knn.exact` over the matching rows. */
class HnswWalkDiffSpec extends SparkTestBase {
  import spark.implicits._

  case class Case(seed: Long, n: Int, dim: Int, dist: String, k: Int,
      nq: Int, parts: Int)

  private val genCase: Gen[Case] = for {
    seed <- Gen.choose(0L, Long.MaxValue)
    n <- Gen.choose(20, 400)
    dim <- Gen.oneOf(7, 64)
    dist <- Gen.oneOf("l2sqr", "cosine")
    k <- Gen.choose(1, 12)
    nq <- Gen.choose(1, 5)
    parts <- Gen.oneOf(1, 3, 4)
  } yield Case(seed, n, dim, dist, k, nq, parts)

  /** Cases a longer run of the generator found, checked on every run: here
    * a routed subgraph, whose local indices follow shuffle order, cut a
    * distance-0 tie at k by local index instead of table id. */
  private val found = Seq(Case(8404376428806517165L, 239, 7, "l2sqr", 4, 4, 4))

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

  private def shuffleMerge[T](body: => T): T = {
    val prop = "graft.serve.driverMergeMaxRows"
    System.setProperty(prop, "0")
    try body finally System.clearProperty(prop)
  }

  /** Every walk × scoring of one case that differs from exact, by name. */
  private def check(c: Case): Seq[String] = {
    info(c.toString)
    val df = corpus(c).toDF("id", "vec").repartition(c.parts, col("id")).cache()
    val q = df.filter(col("id") < c.nq)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val want = rows(Knn.exact(df, q, c.k, c.dist))
    val ef = Some(c.n)
    val idx = Hnsw.buildIndex(df, c.dist).cache()
    val (route, ridx0) = IvfHnsw.buildIndex(df, kClusters = 4, dist = c.dist)
    val ridx = ridx0.cache()
    val np = route.centroids.length
    val plain = Pq.train(df, m = math.min(c.dim, 8), dist = c.dist)
    val scorings: Seq[(String, Option[PqModel])] =
      Seq("plain" -> None, "adc" -> Some(plain))
    val residual: Seq[(String, Option[PqModel])] =
      if (c.dist == "l2sqr")
        Seq("adc_residual" -> Some(IvfHnsw.trainResidualPq(df, route, m = math.min(c.dim, 8))))
      else Nil
    def routed(pq: Option[PqModel]) =
      IvfHnsw.searchPinned(ridx, route, q, c.k, ef, nProbes = Some(np), pq = pq)
    def routedStream(pq: Option[PqModel]) =
      Hnsw.searchPinnedStream(ridx, q, c.k, ef, c.dist, pq = pq,
        route = Some((route, np)))
    val walks: Seq[(String, () => DataFrame)] =
      scorings.flatMap { case (s, pq) =>
        Seq(
          s"resident/$s" -> (() => Hnsw.searchBroadcast(idx, q, c.k, ef, c.dist, pq = pq)),
          s"pinned/$s" -> (() => Hnsw.searchPinned(idx, q, c.k, ef, c.dist, pq = pq)),
          // the merge is chosen when the search is planned
          s"pinned_shuffle/$s" -> (() => shuffleMerge(
            Hnsw.searchPinned(idx, q, c.k, ef, c.dist, pq = pq))),
          s"stream/$s" -> (() => Hnsw.searchPinnedStream(idx, q, c.k, ef, c.dist, pq = pq)),
          s"routed/$s" -> (() => routed(pq)),
          s"routed_stream/$s" -> (() => routedStream(pq)))
      } ++ residual.flatMap { case (s, pq) =>
        Seq(s"routed/$s" -> (() => routed(pq)),
          s"routed_stream/$s" -> (() => routedStream(pq)))
      }
    val bad = walks.flatMap { case (name, run) =>
      val got = rows(run())
      if (got == want) None else Some(s"$name: $got != $want")
    }
    Seq(ridx, idx, df).foreach(_.unpersist())
    bad
  }

  test("exhaustive HNSW walks == Knn.exact over random shapes, placements and scorings") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(1)
      .withInitialSeed(org.scalacheck.rng.Seed(11L))
    val cases = Gen.listOfN(5, genCase).map(found ++ _)
    val result = Test.check(params, Prop.forAllNoShrink(cases)(cs =>
      Prop.all(cs.map { c =>
        val bad = check(c)
        Prop(bad.isEmpty) :| s"$c: ${bad.mkString("; ")}"
      }: _*)))
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("pattern-filtered catalog search of HNSW and residual-PQ tables == Knn.exact over the matches") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(1)
      .withInitialSeed(org.scalacheck.rng.Seed(12L))
    val result = Test.check(params, Prop.forAllNoShrink(genCase) { c =>
      info(c.toString)
      val data = corpus(c)
      val metas = data.map { case (id, _) => Map("p" -> (id % 3).toString) }
      val matching = data.filter(_._1 % 3 == 1).toDF("id", "vec")
      val qs = data.take(c.nq).toDF("query_id", "query_vec")
      val db = new VecDB(spark, Files.createTempDirectory(
        Paths.get("target"), "vecdb_walkdiff").toString)
      try {
        // residual PQ is an L2 shift identity: the residual table is L2
        val tables = Seq("h" -> c.dist, "r" -> "l2sqr")
        tables.foreach { case (t, dist) =>
          db.createTableIfNotExists(t, c.dim, dist)
          db.batchAdd(t, data.map(_._2), metas)
        }
        db.buildHnswIndex("h")
        db.buildIvfHnswIndex("r", kClusters = 3, defaultNProbes = 3)
        db.buildPqTable("r", m = Some(math.min(c.dim, 8)), residual = true)
        Prop.all(tables.map { case (t, dist) =>
          val want = rows(Knn.exact(matching, qs, c.k, dist))
          val d = db.dispatch(t, qs, c.k, Some(c.n), pattern = Map("p" -> "1"))
          val got = rows(d.frame)
          Prop(got == want && d.arm == "flat_broadcast") :|
            s"$c table $t arm ${d.arm}: $got != $want"
        }: _*)
      } finally db.close()
    })
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
