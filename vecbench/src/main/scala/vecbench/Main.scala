package vecbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `run.py`, which builds the classpath).
  *
  * {{{
  * Main --workload serve_rw_d384|batch_d960|routed_d960|all --seed N
  *      --seconds S --trace 0|1 --root DIR [--scale full|tiny]
  * }}}
  *
  * Prints one JSON line per workload: `{"correct", "attempted", "failed",
  * "metrics"}` with the end-to-end metrics (`--trace 0`) or the per-layer
  * ones (`--trace 1`), preceded by a line recording the warm-up windows.
  * Exits 1 when any output check failed. */
object Main {
  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[vecbench ${(System.nanoTime() - t0) / 1e9}%6.1fs] $msg")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val root = Paths.get(need("root")).toAbsolutePath
    val tiny = args.getOrElse("scale", "full") == "tiny"
    val names = if (workload == "all") Workloads.names ++ Workloads.optIn else Seq(workload)
    val specs = names.map(Workloads(_, seed, tiny))

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("vecbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None

    var allOk = true
    try {
      for (w <- specs) {
        val dir = root.resolve(w.name)
        val r = new Runner(spark, w, dir, seconds, tracer, log)
        val (metrics, ok) =
          try {
            log(s"${w.name}: set-up")
            r.setup()
            r.warmUp()
            log(s"${w.name}: timed phase")
            r.measure()
            log(s"${w.name}: checks")
            val m = r.results() ++
              (if (trace) Layers.probe(spark, w, r, seed, log) else Nil)
            (m, r.failed == 0)
          } catch {
            case e: Throwable =>
              log(s"${w.name}: aborted: $e")
              e.printStackTrace()
              r.failed += 1
              (Nil, false)
          } finally {
            r.close()
            deleteTree(dir)
          }
        allOk &&= ok
        println(Json.obj(Seq(
          "workload" -> Json.str(w.name),
          "warmup_windows_qps" -> Json.arr(r.warmWindows.map(Json.num).toSeq))))
        println(Json.obj(Seq(
          "correct" -> ok.toString,
          "attempted" -> math.max(1L, r.attempted).toString,
          "failed" -> r.failed.toString,
          "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
            n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
          }))))
      }
    } finally {
      spark.stop()
    }
    System.exit(if (allOk) 0 else 1)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
