package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ivf, Knn}

/** IVF invariants — ports the reference's IVF-vs-Flat oracle test
  * (`/root/reference/src/index_algorithm/ivf_index.rs:166-235`, equality
  * assert at `225-229`): probing every cluster must reproduce the exact Flat
  * result; default probes must keep the self-hit and ascending order. */
class IvfSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val base = Tables.vectors(spark, sf0001).select("id", "vec").cache()
  private lazy val queries = base.filter($"id" < 5)
    .select($"id".as("query_id"), $"vec".as("query_vec")).cache()
  private lazy val built = Ivf.build(base, k = 7, seed = 42L)

  test("nearest_centroid above the 128-dim early-exit block equals brute argmin") {
    // the r18 eval early-exits the L2 loop in 128-element blocks against
    // the running best — the sf fixtures are 64-dim and never cross a
    // block boundary, so this pins the d > 128 path against a
    // same-summation-order brute argmin (bit-exact expectation)
    val rnd = new scala.util.Random(91)
    val dim = 300
    val cents = Array.fill(40)(Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val rows = (0 until 150).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    def brute(v: Array[Float]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0; var j = 0
        while (j < dim) {
          val t = v(j).toDouble - cents(c)(j).toDouble; d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val bc = spark.sparkContext.broadcast(cents)
    val got = try rows.toDF("id", "vec")
      .select(col("id"), Ivf.nearestCentroid(col("vec"), bc, "l2sqr").as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    finally bc.unpersist(blocking = false)
    rows.foreach { case (id, v) =>
      assert(got(id) == brute(v), s"row $id")
    }
  }

  test("LocalKMeans: parallel fit is run-to-run deterministic per seed") {
    // the r18 fit parallelizes its per-point loops (disjoint writes,
    // sequential accumulation) — same seed must keep producing the same
    // centroids across runs; a different seed must not (sanity)
    val rnd = new scala.util.Random(7)
    val data = Array.fill(3000)(Array.fill(300)(rnd.nextFloat()))
    val a = graft.index.LocalKMeans.fit(data, 32, "l2sqr", 10, 1e-6, 42L)
    val b = graft.index.LocalKMeans.fit(data, 32, "l2sqr", 10, 1e-6, 42L)
    assert(a.length == b.length)
    a.indices.foreach(i =>
      assert(java.util.Arrays.equals(a(i), b(i)), s"centroid $i"))
    val c = graft.index.LocalKMeans.fit(data, 32, "l2sqr", 10, 1e-6, 43L)
    assert(a.indices.exists(i => !java.util.Arrays.equals(a(i), c(i))))
  }

  test("probing all clusters equals Flat exact KNN (L2)") {
    val (model, assigned) = built
    val ivf = Ivf.search(assigned, model, queries, k = 6, nProbes = Some(7))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val flat = Knn.exact(base, queries, k = 6)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(ivf == flat)
  }

  test("probing all clusters equals Flat exact KNN (cosine)") {
    val (model, assigned) = Ivf.build(base, k = 5, dist = "cosine", seed = 42L)
    val ivf = Ivf.search(assigned, model, queries, k = 4, nProbes = Some(5))
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val flat = Knn.exact(base, queries, k = 4, dist = "cosine")
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(ivf == flat)
  }

  test("default probes (4): self-hit first, ascending, k rows per query") {
    val (model, assigned) = built
    val hits = Ivf.search(assigned, model, queries, k = 6)
    assert(hits.groupBy("query_id").count()
      .filter($"count" =!= 6).count() == 0)
    val self = hits.filter($"query_id" === $"id")
    assert(self.count() == 5) // each query's own row is in its probed cluster
    assert(self.filter($"distance" > 1e-6).count() == 0)
    val perQuery = hits.orderBy("query_id", "distance", "id")
      .select("query_id", "distance").as[(Long, Double)].collect()
    perQuery.groupBy(_._1).values.foreach { g =>
      val ds = g.map(_._2)
      assert(ds.sameElements(ds.sorted))
    }
  }

  test("default probes achieve high recall vs Flat") {
    val (model, assigned) = built
    val ivf = Ivf.search(assigned, model, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val flat = Knn.exact(base, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(flat).size.toDouble / flat.size
    assert(recall >= 0.5, s"recall $recall too low for 4/7 probes")
  }

  test("histogram covers every row exactly once, clusters in [0, k)") {
    val (model, assigned) = built
    val hist = Ivf.histogram(assigned).collect()
    assert(hist.map(_.getAs[Long]("cnt")).sum == base.count())
    assert(hist.forall { r =>
      val c = r.getAs[Int]("cluster"); c >= 0 && c < model.centroids.length
    })
  }

  test("partitioned layout: searchPartitioned equals search; the scan partition-prunes") {
    val (model, assigned) = built
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ivf_part").toString
    Ivf.writePartitioned(assigned, model, dir)
    // centroid sidecar round-trips
    val reloaded = Ivf.readModel(spark, dir, model.dist)
    assert(reloaded.centroids.length == model.centroids.length)
    assert(reloaded.centroids.zip(model.centroids)
      .forall { case (a, b) => a.sameElements(b) })
    for (np <- Seq(2, 7)) {
      val part = Ivf.searchPartitionedDf(spark.read.parquet(s"$dir/data"),
        reloaded, queries, k = 6, nProbes = Some(np))
      val plain = Ivf.search(assigned, model, queries, k = 6, nProbes = Some(np))
        .select("query_id", "id", "distance").as[(Long, Long, Double)]
        .collect().toSet
      assert(part.select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet == plain, s"np=$np")
      // the probe scan must carry partition filters on `cluster` — the
      // physical pruning IVF exists for
      if (np < model.centroids.length) {
        val plan = part.queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters: [cluster"),
          s"no partition filters in plan:\n$plan")
      }
    }
  }

  test("binary f32 partitioned layout: same results as the float layout, bit-identical distances") {
    // r20 rerank-base layout: writePartitioned(binary = true) stores the
    // vector as one fixed-width f32le blob per row (`vecb`); VecDistance
    // scores it in place with the SAME arithmetic, so every result —
    // including the distance doubles — must equal the float layout's
    val (model, assigned) = built
    val fdir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ivf_part_f").toString
    val bdir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ivf_part_b").toString
    Ivf.writePartitioned(assigned, model, fdir)
    Ivf.writePartitioned(assigned, model, bdir, binary = true)
    val bcols = spark.read.parquet(s"$bdir/data").columns.toSet
    assert(bcols.contains("vecb") && !bcols.contains("vec"), bcols.toString)
    for (np <- Seq(2, 7)) {
      val f = Ivf.searchPartitionedDf(spark.read.parquet(s"$fdir/data"), model,
        queries, k = 6, nProbes = Some(np)).select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet
      val b = Ivf.searchPartitionedDf(spark.read.parquet(s"$bdir/data"), model,
        queries, k = 6, nProbes = Some(np)).select("query_id", "id", "distance")
        .as[(Long, Long, Double)].collect().toSet
      assert(b == f, s"np=$np (binary layout diverged from float)")
    }
  }
}
