package vecbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types._

import graft.catalog.VecDB
import graft.index.{CacheStats, HnswGraphCache}

/** One search call: what was asked, what came back, how long it took. */
final class CallRec(val table: String, val seq: Int, val qstart: Long,
    val nq: Int, val live: Int, val searchMs: Double, val attachMs: Double,
    val qids: Array[Long], val ids: Array[Long], val dists: Array[Double],
    val metaBad: Int, val timed: Boolean) {
  def ms: Double = searchMs + attachMs
}

/** One pass over the workload's cycle. */
final case class CycleRec(wallMs: Double, queries: Int, traced: Boolean,
    searchMs: Seq[Double], sqlMs: Seq[Double], appendMs: Seq[Double],
    tableMs: Map[String, Double])

/** Spark, cache and wall counters summed over the traced calls of one kind. */
final class LayerAcc {
  var calls, queries, jobs, stages, tasks, cpuNs, gcMs = 0L
  var input, shuffle, result, output = 0L
  var driverMs = 0.0
  var graphBuilds, graphNs, codesBuilds, codesNs = 0L
  val skews = ArrayBuffer.empty[Double]
  def per(x: Double, n: Long): Double = if (n == 0) 0.0 else x / n
}

/** Runs one workload against a fresh catalog under `root`: set-up, warm-up
  * until consecutive windows agree, the timed closed loop, then ground
  * truth and output checks. Returns the end-to-end metrics, or the
  * per-layer ones when `tracer` is set. */
final class Runner(spark: SparkSession, w: WorkloadSpec, root: Path,
    seconds: Double, tracer: Option[Tracer], log: String => Unit) {
  private val k = Workloads.K
  private val corpus = new Corpus(w.fixture)
  private val dist = Truth.distance(w.dist)
  private val live = mutable.Map.empty[String, Int]
  private val callsOf = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val sqlStale = mutable.Set.empty[String]
  private var nextQuery = 0L
  private var excludedNs = 0L
  private val calls = ArrayBuffer.empty[CallRec]

  var attempted = 0L
  var failed = 0L
  private def fail(msg: String): Unit = { failed += 1; log(s"CHECK FAILED: $msg") }

  // set-up seconds per catalog call kind, summed over tables
  private val setupParts = mutable.LinkedHashMap.empty[String, Double]
  private val firstSearchMs = ArrayBuffer.empty[Double]
  private var inTimedPhase = false
  private var db: VecDB = _

  // traced-run accumulators
  private val searchAcc, appendAcc = new LayerAcc
  private val sqlOptimizeMs, sqlExecuteMs = ArrayBuffer.empty[Double]
  private var sqlOptimizeJobs, sqlFired, sqlCalls = 0L
  private var traceCycle = false

  private val qSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("query_vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def queries(start: Long, n: Int): Array[Array[Float]] = {
    val out = new Array[Array[Float]](n)
    Par.range(0, n)(j => out(j) = w.fixture.vector(Fixture.Query, start + j))
    out
  }

  private def queryFrame(start: Long, vs: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      vs.indices.map(j => Row(start + j, vs(j))): _*), qSchema)

  private def excluded[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally excludedNs += System.nanoTime() - t0
  }

  /** Run `body`; in a traced cycle, attribute its Spark and cache counters. */
  private def observed[T](acc: LayerAcc, queries: Int)(body: => T): T =
    tracer.filter(_ => traceCycle) match {
      case None => body
      case Some(tr) =>
        val s0 = tr.settled()
        val g0 = CacheStats.graphBuilds.get; val gn0 = CacheStats.graphBuildNanos.get
        val c0 = CacheStats.codesBuilds.get; val cn0 = CacheStats.codesBuildNanos.get
        val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
        val r = body
        val n1 = System.nanoTime(); val w1 = System.currentTimeMillis()
        val s1 = tr.settled()
        acc.calls += 1; acc.queries += queries
        acc.driverMs += math.max(0.0,
          (w1 - w0) - tr.probe.jobCoveredMs(s0.intervals, s1.intervals, w0, w1))
        acc.jobs += s1.jobs - s0.jobs; acc.stages += s1.stages - s0.stages
        acc.tasks += s1.tasks - s0.tasks; acc.cpuNs += s1.cpuNs - s0.cpuNs
        acc.gcMs += s1.gcMs - s0.gcMs; acc.input += s1.inputBytes - s0.inputBytes
        acc.shuffle += s1.shuffleBytes - s0.shuffleBytes
        acc.result += s1.resultBytes - s0.resultBytes
        acc.output += s1.outputBytes - s0.outputBytes
        acc.skews ++= tr.probe.skewsBetween(s0.skews, s1.skews)
        acc.graphBuilds += CacheStats.graphBuilds.get - g0
        acc.graphNs += CacheStats.graphBuildNanos.get - gn0
        acc.codesBuilds += CacheStats.codesBuilds.get - c0
        acc.codesNs += CacheStats.codesBuildNanos.get - cn0
        r
    }

  // ------------------------------------------------------------ operations

  private def search(t: TableSpec): CallRec = {
    val qstart = nextQuery
    nextQuery += t.nq
    val qdf = queryFrame(qstart, queries(qstart, t.nq))
    val seq = callsOf(t.name)
    callsOf(t.name) = seq + 1
    attempted += 1
    try {
      var searchMs, attachMs = 0.0
      val rows = observed(searchAcc, t.nq) {
        val t0 = System.nanoTime()
        val out = db.searchBatch(t.name, qdf, k, t.ef)
        val t1 = System.nanoTime()
        val rs = out.collect()
        val t2 = System.nanoTime()
        searchMs = Stats.ms(t0, t1); attachMs = Stats.ms(t1, t2)
        rs
      }
      val n = rows.length
      val (qi, ii, di, mi) = if (n == 0) (0, 1, 2, 3) else {
        val s = rows(0).schema
        (s.fieldIndex("query_id"), s.fieldIndex("id"), s.fieldIndex("distance"),
          s.fieldIndex("meta"))
      }
      val qids = new Array[Long](n); val ids = new Array[Long](n)
      val dists = new Array[Double](n)
      var metaBad = 0
      var j = 0
      while (j < n) {
        val r = rows(j)
        qids(j) = r.getLong(qi); ids(j) = r.getLong(ii); dists(j) = r.getDouble(di)
        val m = if (r.isNullAt(mi)) Map.empty[String, String]
          else r.getMap[String, String](mi).toMap
        val want = Option(w.fixture.meta(ids(j))).getOrElse(Map.empty[String, String])
        if (m != want) metaBad += 1
        j += 1
      }
      val rec = new CallRec(t.name, seq, qstart, t.nq, live(t.name),
        searchMs, attachMs, qids, ids, dists, metaBad, inTimedPhase)
      calls += rec
      rec
    } catch {
      case e: Exception => fail(s"search ${t.name}: $e"); null
    }
  }

  private def append(table: String): Double = {
    val start = live(table)
    val n = w.appendRows
    corpus.ensure(start + n)
    val vecs = (start until start + n).map(corpus(_))
    val metas = (start until start + n).map(i =>
      Option(w.fixture.meta(i.toLong)).getOrElse(Map.empty[String, String]))
    attempted += 1
    try {
      val t0 = System.nanoTime()
      observed(appendAcc, 0)(db.batchAdd(table, vecs, metas))
      val ms = Stats.ms(t0, System.nanoTime())
      live(table) = start + n
      sqlStale += table
      ms
    } catch {
      case e: Exception => fail(s"append $table: $e"); Double.NaN
    }
  }

  private def registerSql(table: String): Unit =
    db.registerSql(table, Some(s"v_$table"))

  private def sql(table: String): Double = {
    val qi = nextQuery
    nextQuery += 1
    val q = queries(qi, 1)
    if (sqlStale(table)) { registerSql(table); sqlStale -= table }
    val fn = if (w.dist == "cosine") "vec_cosine" else "vec_l2sq"
    val lit = q(0).map(f => java.lang.Float.toString(f) + "F").mkString("array(", ", ", ")")
    val text = s"SELECT id, graft_topk_ef($fn(vec, $lit), ${w.sqlEf}) AS d " +
      s"FROM v_$table ORDER BY d LIMIT $k"
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val rows = tracer.filter(_ => traceCycle) match {
        case None => spark.sql(text).collect()
        case Some(tr) =>
          val df = spark.sql(text)
          val s0 = tr.settled()
          val a0 = System.nanoTime()
          val plan = df.queryExecution.optimizedPlan
          val a1 = System.nanoTime()
          val s1 = tr.settled()
          val rs = df.collect()
          val a2 = System.nanoTime()
          sqlCalls += 1
          sqlOptimizeMs += Stats.ms(a0, a1); sqlExecuteMs += Stats.ms(a1, a2)
          sqlOptimizeJobs += s1.jobs - s0.jobs
          // fired: the sort's input is pruned to the k spliced winner ids
          val fired = plan.collect { case Filter(c, _) => c }.exists(_.exists {
            case In(_, list) => list.length == k
            case s: InSet => s.hset.size == k
            case _ => false
          })
          if (fired) sqlFired += 1
          rs
      }
      val ms = Stats.ms(t0, System.nanoTime())
      excluded {
        // the SQL top-k must equal the catalog search at the same ef
        val want = db.searchBatch(table, queryFrame(qi, q), k, Some(w.sqlEf))
          .collect().map(r => (r.getAs[Double]("distance"), r.getAs[Long]("id")))
          .sorted.map(_._2).toSeq
        val got = rows.map(_.getLong(0)).toSeq
        val dOk = rows.forall(r =>
          Truth.close(r.getDouble(1), dist(q(0), corpus(r.getLong(0).toInt))))
        if (got != want || !dOk)
          fail(s"sql $table query $qi: ids $got vs catalog $want (distances ok: $dOk)")
      }
      ms
    } catch {
      case e: Exception => fail(s"sql $table: $e"); Double.NaN
    }
  }

  // ---------------------------------------------------------------- phases

  private def setupTimed[T](part: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupParts(part) = setupParts.getOrElse(part, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }

  /** Ingest source: the fixture generated inside Spark tasks, cached and
    * materialized before the set-up clock starts. */
  private def sourceFrame(rows: Int): DataFrame = {
    import spark.implicits._
    val fx = w.fixture
    spark.range(0, rows, 1, Runtime.getRuntime.availableProcessors())
      .mapPartitions(it => it.map { i =>
        (fx.vector(Fixture.Base, i), fx.meta(i))
      }).toDF("vec", "meta")
  }

  def setup(): Unit = {
    corpus.ensure(w.rows)
    val src = sourceFrame(w.rows).cache()
    src.count()
    setupTimed("open") {
      db = new VecDB(spark, root.resolve("catalog").toString)
      db.broadcastGateBytes = w.gateBytes
    }
    for (t <- w.tables) {
      attempted += 1
      setupTimed("ingest") {
        db.createTableIfNotExists(t.name, w.fixture.dim, w.dist)
        require(db.addDataFrame(t.name, src) == w.rows, s"${t.name}: short ingest")
      }
      live(t.name) = w.rows
      for ((metric, build) <- t.builds) { attempted += 1; setupTimed(metric)(build(db)) }
    }
    src.unpersist()
    val sqlTables = w.cycle.collect { case Sql(t) => t }.distinct
    sqlTables.foreach(t => setupTimed("register_sql")(registerSql(t)))
    for (t <- w.tables) {
      val t0 = System.nanoTime()
      setupTimed("first_search")(search(t))
      firstSearchMs += Stats.ms(t0, System.nanoTime())
    }
    // ids follow the source order: spot-check a few rows per table
    excluded(for (t <- w.tables) {
      val probe = Seq(0L, w.rows / 2L, w.rows - 1L)
      val got = db.table(t.name).filter(org.apache.spark.sql.functions.col("id").isin(probe: _*))
        .select("id", "vec").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      if (probe.exists(i => !got.get(i).exists(_.sameElements(corpus(i.toInt)))))
        fail(s"${t.name}: ingested ids do not follow the source order")
    })
    log(s"${w.name}: set-up (s) " + setupParts.map { case (n, v) => f"$n=$v%.2f" }.mkString(" "))
  }

  private def runCycle(traced: Boolean): CycleRec = {
    traceCycle = traced
    val ex0 = excludedNs
    val t0 = System.nanoTime()
    var queries = 0
    val searchMs, sqlMs, appendMs = ArrayBuffer.empty[Double]
    val tableMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (step <- w.cycle) step match {
      case Search(t) =>
        val rec = search(w.table(t))
        if (rec != null) { searchMs += rec.ms; tableMs(t) += rec.ms }
        queries += w.table(t).nq
      case Append(t) => appendMs += append(t)
      case Sql(t) => sqlMs += sql(t); queries += 1
    }
    traceCycle = false
    CycleRec(Stats.ms(t0, System.nanoTime()) - (excludedNs - ex0) / 1e6, queries,
      traced, searchMs.toSeq, sqlMs.toSeq, appendMs.toSeq, tableMs.toMap)
  }

  /** Warm-up windows (one cycle each, in queries/s), recorded in the output. */
  val warmWindows = ArrayBuffer.empty[Double]

  /** Used heap after full GCs, caches live. Taken at a fixed point, the end
    * of the second cycle, so it covers the same appends in every run. */
  private var heapMb = Double.NaN
  private def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def warmUp(): Unit = {
    val t0 = System.nanoTime()
    def agree = warmWindows.length >= 2 && {
      val a = warmWindows(warmWindows.length - 1); val b = warmWindows(warmWindows.length - 2)
      math.abs(a - b) <= 0.1 * b
    }
    while (!agree && warmWindows.length < 12 &&
        (warmWindows.length < 2 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val c = runCycle(traced = false)
      warmWindows += c.queries * 1000.0 / c.wallMs
      if (warmWindows.length == 2) heapMb = retainedHeapMb()
    }
    log(f"${w.name}: warm-up windows (q/s) ${warmWindows.map(x => f"$x%.1f").mkString(" ")}" +
      (if (agree) "" else " (cap reached before two windows agreed)"))
  }

  val timed = ArrayBuffer.empty[CycleRec]

  private var largeTasks = 0L

  def measure(): Unit = {
    inTimedPhase = true
    val warned0 = tracer.map(_.largeTasks.count.get).getOrElse(0L)
    val t0 = System.nanoTime()
    while (timed.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      timed += runCycle(traced = tracer.isDefined && timed.length % 2 == 1)
    inTimedPhase = false
    largeTasks = tracer.map(_.largeTasks.count.get).getOrElse(0L) - warned0
    log(s"${w.name}: timed cycles (q/s) " +
      timed.map(c => f"${c.queries * 1000.0 / c.wallMs}%.1f").mkString(" "))
  }

  // ------------------------------------------------------------- results

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Output checks on every call, brute-force truth on the recall prefix.
    * Returns (mean recall, per-table recall). */
  private def check(): (Double, Map[String, Double]) = {
    val maxLive = calls.map(_.live).max
    corpus.ensure(maxLive)
    val recalls = mutable.Map.empty[String, ArrayBuffer[Double]]
    for (c <- calls) {
      val qs = queries(c.qstart, c.nq)
      val want = math.min(k, c.live)
      val byQ = (0 until c.ids.length).groupBy(j => c.qids(j))
      var bad = 0
      var firstBad = ""
      def flag(msg: => String): Unit = { if (bad == 0) firstBad = msg; bad += 1 }
      if (c.metaBad > 0) flag(s"${c.metaBad} hits without their metadata")
      if (byQ.keySet != (0 until c.nq).map(c.qstart + _).toSet) flag("query ids missing or extra")
      val withTruth = c.seq < w.recallCalls
      val nTruth = math.min(c.nq, w.truthQueries)
      val truth = new Array[Array[(Double, Long)]](c.nq)
      if (withTruth)
        Par.range(0, nTruth)(j => truth(j) = Truth.topK(corpus, c.live, qs(j), k, dist))
      for ((qid, js) <- byQ) {
        val j = (qid - c.qstart).toInt
        val hits = js.map(x => (c.dists(x), c.ids(x)))
        if (hits.length != want) flag(s"query $qid: ${hits.length} rows, want $want")
        if (hits.zip(hits.drop(1)).exists { case (a, b) =>
            a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2) })
          flag(s"query $qid: rows not in ascending (distance, id) order")
        hits.foreach { case (d, id) =>
          if (id < 0 || id >= c.live) flag(s"query $qid: id $id outside the live rows")
          else if (!Truth.close(d, dist(qs(j), corpus(id.toInt))))
            flag(s"query $qid: id $id distance $d, recomputed ${dist(qs(j), corpus(id.toInt))}")
        }
        if (withTruth && j < nTruth) {
          val t = truth(j)
          val tIds = t.map(_._2).toSet
          recalls.getOrElseUpdate(c.table, ArrayBuffer.empty) +=
            hits.count(h => tIds.contains(h._2)).toDouble / t.length
          if (c.table == "flat") {
            // exact: ids and order equal the truth, up to swaps of near-ties
            val exact = hits.length == t.length && hits.indices.forall { p =>
              hits(p)._2 == t(p)._2 || ((p > 0 && Truth.close(t(p)._1, t(p - 1)._1)) ||
                (p + 1 < t.length && Truth.close(t(p)._1, t(p + 1)._1)))
            }
            if (!exact) flag(s"query $qid: flat result differs from the exact truth")
          }
        }
      }
      if (bad > 0) fail(s"${c.table} call ${c.seq} (${bad} problems): $firstBad")
    }
    val per = recalls.map { case (t, rs) => t -> Stats.mean(rs.toSeq) }.toMap
    (Stats.mean(recalls.values.flatten.toSeq), per)
  }

  def results(): Seq[(String, Double, String)] = {
    val graphCacheMb = HnswGraphCache.currentBytes / 1048576.0
    val diskBytes = dirBytes(root.resolve("catalog"))
    val userBytes = w.tables.map { t =>
      val n = live(t.name)
      n.toLong * w.fixture.dim * 4 + (0 until n).map(i => w.fixture.metaBytes(i)).sum
    }.sum
    val (recall, tableRecall) = check()

    // median cycle rate: one slow cycle (a GC pause, a compaction) moves a
    // total-over-wall rate but not the median
    val qps = Stats.median(timed.map(c => c.queries * 1000.0 / c.wallMs))
    val latency =
      if (w.latencyPerCall) timed.flatMap(_.searchMs)
      else timed.map(c => Stats.mean(c.searchMs))
    val sqlMs = timed.flatMap(_.sqlMs)
    val appendMs = timed.flatMap(_.appendMs)
    def med(xs: collection.Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)

    tracer match {
      case None => Seq(
        ("setup_s", setupParts.values.sum, "s"),
        ("search_qps", qps, "queries/s"),
        ("search_p50_ms", med(latency), "ms"),
        ("search_p90_ms", if (latency.isEmpty) Double.NaN else Stats.quantile(latency, 0.9), "ms"),
        ("sql_p50_ms", med(sqlMs), "ms"),
        ("write_p50_ms", med(appendMs), "ms"),
        ("recall_at_10", recall, "ratio"),
        ("bytes_per_user_byte", diskBytes.toDouble / userBytes, "ratio"),
        ("heap_retained_mb", heapMb, "MB"))
      case Some(tr) =>
        val s = searchAcc; val a = appendAcc
        val timedCalls = calls.filter(_.timed).toSeq
        val mb = 1048576.0
        def tables(t: String) = timed.flatMap(_.tableMs.get(t))
        val own = Workloads.optIn.contains(w.name)
        val tableRows = (Layers.TableNames ++ (if (own) w.tables.map(_.name) else Nil))
            .distinct.flatMap { t =>
          val ms = tables(t).sum
          val nq = if (w.tables.exists(_.name == t)) w.table(t).nq * tables(t).length else 0
          Seq((s"table.$t.qps", if (ms > 0) nq * 1000.0 / ms else 0.0, "queries/s"),
            (s"table.$t.recall_at_10", tableRecall.getOrElse(t, 0.0), "ratio"))
        }
        val untracedQps = timed.filter(!_.traced)
        val tracedQps = timed.filter(_.traced)
        def rate(cs: collection.Seq[CycleRec]) = cs.map(_.queries).sum * 1000.0 / cs.map(_.wallMs).sum
        val overhead =
          if (untracedQps.isEmpty || tracedQps.isEmpty) 0.0
          else (rate(untracedQps) / rate(tracedQps) - 1.0) * 100.0
        Seq(
          ("catalog.search_call_ms", Stats.mean(timedCalls.map(_.searchMs)), "ms"),
          ("catalog.attach_ms", Stats.mean(timedCalls.map(_.attachMs)), "ms"),
          ("catalog.append_ms", med(appendMs), "ms"),
          ("catalog.ingest_s", setupParts.getOrElse("ingest", 0.0), "s")) ++
          (Layers.BuildNames ++ (if (own) w.tables.flatMap(_.builds.map(_._1)) else Nil)).distinct
            .map(b => (s"catalog.${b}_s", setupParts.getOrElse(b, 0.0), "s")) ++
          Seq(
            ("catalog.first_search_ms", Stats.mean(firstSearchMs.toSeq), "ms"),
            ("catalog.disk_mb", diskBytes / mb / w.tables.length, "MB")) ++
          tableRows ++
          Seq(
            ("plans.sql_optimize_ms", Stats.mean(sqlOptimizeMs.toSeq), "ms"),
            ("plans.sql_optimize_jobs", if (sqlCalls == 0) 0.0 else sqlOptimizeJobs.toDouble / sqlCalls, "count"),
            ("plans.sql_execute_ms", Stats.mean(sqlExecuteMs.toSeq), "ms"),
            ("plans.rewrite_fired_ratio", if (sqlCalls == 0) 0.0 else sqlFired.toDouble / sqlCalls, "ratio"),
            ("spark.jobs_per_search", s.per(s.jobs, s.calls), "count"),
            ("spark.stages_per_search", s.per(s.stages, s.calls), "count"),
            ("spark.tasks_per_search", s.per(s.tasks, s.calls), "count"),
            ("spark.driver_ms_per_search", s.per(s.driverMs, s.calls), "ms"),
            ("spark.task_cpu_ms_per_query", s.per(s.cpuNs / 1e6, s.queries), "ms"),
            ("spark.gc_ms_per_search", s.per(s.gcMs, s.calls), "ms"),
            ("spark.task_skew", if (s.skews.isEmpty) 1.0 else Stats.median(s.skews.toSeq), "ratio"),
            ("spark.input_mb_per_query", s.per(s.input / mb, s.queries), "MB"),
            ("spark.shuffle_mb_per_query", s.per(s.shuffle / mb, s.queries), "MB"),
            ("spark.result_mb_per_search", s.per(s.result / mb, s.calls), "MB"),
            ("spark.large_task_warnings", largeTasks.toDouble, "count"),
            ("spark.jobs_per_append", a.per(a.jobs, a.calls), "count"),
            ("spark.output_mb_per_append", a.per(a.output / mb, a.calls), "MB"),
            ("index.graph_rebuilds_per_search", s.per(s.graphBuilds, s.calls), "count"),
            ("index.graph_rebuild_ms_per_search", s.per(s.graphNs / 1e6, s.calls), "ms"),
            ("index.codes_rebuilds", (s.codesBuilds + a.codesBuilds).toDouble, "count"),
            ("index.codes_rebuild_ms", (s.codesNs + a.codesNs) / 1e6, "ms"),
            ("index.graph_cache_mb", graphCacheMb, "MB"),
            ("trace.overhead_pct", overhead, "%"))
    }
  }

  /** Fixture rows for the layer probes (driver-side copy). */
  def sample(n: Int): Array[Array[Float]] = {
    corpus.ensure(math.min(n, w.rows))
    Array.tabulate(math.min(n, w.rows))(corpus(_))
  }
  def sampleQueries(n: Int): Array[Array[Float]] = queries(1L << 40, n)
  def layerSource(rows: Int): DataFrame =
    sourceFrame(rows).withColumn("id", org.apache.spark.sql.functions.monotonically_increasing_id())
  def layerQueries(vs: Array[Array[Float]]): DataFrame = queryFrame(1L << 40, vs)

  def close(): Unit = if (db != null) db.close()
}
