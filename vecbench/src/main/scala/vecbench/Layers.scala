package vecbench

import org.apache.spark.sql.SparkSession

import graft.index.{HnswGraph, LocalKMeans, Simd, TopBuffer}
import graft.operators.{Hnsw, Knn}

/** Per-layer probes of a traced run that call single layers directly:
  * the Spark job floor, the `graft.index` kernels and graph, and two
  * `graft.operators` entry points used without the catalog. */
object Layers {
  /** Tables and builds reported by every traced run (0 where the workload
    * has none); an opt-in workload adds its own. */
  val TableNames: Seq[String] = Seq("ivf_hnsw", "ivf")
  val BuildNames: Seq[String] = Seq("build_hnsw", "build_ivf_hnsw", "build_ivf")

  @volatile private var sink = 0.0

  /** ns per op of `body` (which performs `ops` ops), after a JIT warm-up. */
  private def nsPer(ops: Long)(body: => Double): Double = {
    def runFor(ms: Long): (Long, Long) = {
      val t0 = System.nanoTime(); var reps = 0L
      while (System.nanoTime() - t0 < ms * 1000000L) { sink += body; reps += 1 }
      (reps, System.nanoTime() - t0)
    }
    runFor(150)
    val (reps, ns) = runFor(400)
    ns.toDouble / (reps * ops)
  }

  private def medianMs(n: Int)(body: => Unit): Double =
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime(); body; Stats.ms(t0, System.nanoTime())
    })

  def probe(spark: SparkSession, w: WorkloadSpec, r: Runner, seed: Long,
      log: String => Unit): Seq[(String, Double, String)] = {
    log(s"${w.name}: layer probes")
    (1 to 5).foreach(_ => spark.range(0, 1, 1, 1).count())
    val floor = medianMs(15)(spark.range(0, 1, 1, 1).count())

    val vs = r.sample(2000)
    val few = vs.take(64)
    val l2 = nsPer(few.length.toLong * few.length * w.fixture.dim) {
      var s = 0.0
      for (a <- few; b <- few) s += Simd.l2sq(a, b)
      s
    }
    val e384 = Fixture.embed384(seed)
    val c384 = Array.tabulate(64)(i => e384.vector(Fixture.Base, i))
    val cos = nsPer(64L * 64 * 384) {
      var s = 0.0
      for (a <- c384; b <- c384) s += Simd.cosine(a, b)
      s
    }
    // ADC at the reference code shape m=320: 64 blocks of 16 rows × 4 queries
    val m = 320
    val rnd = new java.util.SplittableRandom(seed)
    val codesT = Array.fill(64 * m * 16)(rnd.nextInt(16).toByte)
    val luts = Array.fill(4)(Array.fill(16 * m)(java.lang.Float.floatToRawIntBits(rnd.nextDouble().toFloat)))
    val sums = new Array[Float](64)
    val adc = nsPer(64L * 16 * m * 4) {
      var b = 0
      while (b < 64) {
        Simd.adcBlock4(codesT, b * m * 16, m, luts(0), luts(1), luts(2), luts(3), sums)
        b += 1
      }
      sums(0)
    }
    val offers = Array.fill(4096)(rnd.nextDouble())
    val offer = nsPer(offers.length) {
      val tb = new TopBuffer(Workloads.K)
      var i = 0
      while (i < offers.length) { tb.offer(offers(i), i); i += 1 }
      tb.bound
    }

    // one subgraph-sized graph built and searched outside Spark
    val ef = w.tables.head.ef.getOrElse(120)
    val g = new HnswGraph(w.fixture.dim, w.dist, 16, 200, seed)
    val a0 = System.nanoTime()
    vs.foreach(v => g.add(v))
    val addUs = (System.nanoTime() - a0) / 1e3 / vs.length
    val qs = r.sampleQueries(200)
    qs.take(50).foreach(q => g.search(q, Workloads.K, ef))
    val s0 = System.nanoTime()
    qs.foreach(q => g.search(q, Workloads.K, ef))
    val searchUs = (System.nanoTime() - s0) / 1e3 / qs.length

    val k0 = System.nanoTime()
    LocalKMeans.fit(vs, 64, w.dist, seed = seed)
    val kmeansMs = Stats.ms(k0, System.nanoTime())

    // operators without the catalog, at the workload's main batch shape
    val base = r.layerSource(math.min(10000, w.rows)).cache()
    base.count()
    val qdf = r.layerQueries(r.sampleQueries(w.tables.head.nq))
    val exact = medianMs(3)(Knn.exactBroadcast(base, qdf, Workloads.K, w.dist).collect())
    val idx = Hnsw.buildIndex(base, w.dist, efConstruction = 200).cache()
    idx.count()
    val hnsw = medianMs(3)(Hnsw.searchBroadcast(idx, qdf, Workloads.K, Some(ef), w.dist,
      efConstruction = 200).collect())
    idx.unpersist(); base.unpersist()

    Seq(
      ("spark.job_floor_ms", floor, "ms"),
      ("index.simd_l2sq_ns_per_dim", l2, "ns"),
      ("index.simd_cosine_ns_per_dim", cos, "ns"),
      ("index.simd_adc_ns_per_code", adc, "ns"),
      ("index.topbuffer_offer_ns", offer, "ns"),
      ("index.hnsw_graph_add_us", addUs, "us"),
      ("index.hnsw_graph_search_us", searchUs, "us"),
      ("index.kmeans_fit_ms", kmeansMs, "ms"),
      ("operators.knn_exact_broadcast_ms", exact, "ms"),
      ("operators.hnsw_search_broadcast_ms", hnsw, "ms"))
  }
}
