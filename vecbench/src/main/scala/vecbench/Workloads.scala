package vecbench

import graft.catalog.VecDB

/** One catalog table of a workload: its search knobs, batch size and the
  * build calls that follow its ingest, each under a `catalog.<metric>_s`
  * name. */
final case class TableSpec(name: String, ef: Option[Int], nq: Int,
    builds: Seq[(String, VecDB => Unit)])

/** A step of the closed-loop cycle. */
sealed trait Step
final case class Search(table: String) extends Step
final case class Append(table: String) extends Step
final case class Sql(table: String) extends Step

/** A workload: the corpus, the tables built from it and the cycle the one
  * client repeats. */
final case class WorkloadSpec(
    name: String,
    fixture: Fixture,
    rows: Int,
    dist: String,
    tables: Seq[TableSpec],
    cycle: Seq[Step],
    appendRows: Int,
    sqlEf: Int,
    /** Broadcast gate of the catalog (None: the engine default). */
    gateBytes: Option[Long],
    /** Recall covers the first `recallCalls` search calls of each table,
      * counted from the set-up's first search, so it repeats exactly at one
      * seed however long the run is; `truthQueries` caps the queries of
      * each such call that get brute-force truth. */
    recallCalls: Int,
    truthQueries: Int,
    /** Latency samples are single search calls (one table) or, on the
      * multi-table workloads, the mean search call of one cycle. */
    latencyPerCall: Boolean) {

  def table(name: String): TableSpec = tables.find(_.name == name).get
}

object Workloads {
  val K = 10
  /** The workloads BENCHMARK.json lists. */
  val names: Seq[String] = Seq("serve_rw_d384", "routed_d960")
  /** Runnable on request only: its set-up is too long for the run budget. */
  val optIn: Seq[String] = Seq("batch_d960")

  def apply(name: String, seed: Long, tiny: Boolean): WorkloadSpec = {
    def sz(full: Int, small: Int) = if (tiny) small else full
    name match {
      case "serve_rw_d384" =>
        // 20 % of searches are the first read after an append; SQL top-k at
        // two fixed slots
        val s = Search("docs")
        WorkloadSpec(name, Fixture.embed384(seed), sz(20000, 2000), "cosine",
          Seq(TableSpec("docs", Some(64), 10,
            Seq("build_hnsw" -> ((db: VecDB) => db.buildHnswIndex("docs"))))),
          Seq(Append("docs"), s, s, Sql("docs"), s, s, Sql("docs"), s),
          appendRows = sz(100, 20), sqlEf = 64, gateBytes = None,
          recallCalls = 16, truthQueries = 10, latencyPerCall = true)

      case "batch_d960" =>
        val nq = sz(1000, 100)
        WorkloadSpec(name, Fixture.gist960(seed), sz(10000, 1000), "l2sqr",
          Seq(
            TableSpec("flat", None, nq, Nil),
            TableSpec("hnsw", Some(120), nq, Seq("build_hnsw" ->
              ((db: VecDB) => db.buildHnswIndex("hnsw", efConstruction = Some(200))))),
            TableSpec("pq", Some(100), nq, Seq("build_pq" ->
              ((db: VecDB) => db.buildPqTable("pq", m = Some(320), nBits = Some(4))))),
            TableSpec("sq", None, nq, Seq("build_sq" -> ((db: VecDB) => db.buildSqIndex("sq")))),
            TableSpec("bq", None, nq, Seq("build_bq" -> ((db: VecDB) => db.buildBqIndex("bq"))))),
          Seq(Search("flat"), Search("hnsw"), Sql("hnsw"), Search("pq"),
            Search("sq"), Search("bq"), Append("flat")),
          appendRows = sz(100, 20), sqlEf = 120, gateBytes = None,
          recallCalls = 3, truthQueries = sz(50, 20), latencyPerCall = false)

      case "routed_d960" =>
        val rows = sz(5000, 3000)
        WorkloadSpec(name, Fixture.gist960(seed), rows, "l2sqr",
          Seq(
            // the lowered gate sends buildHnswIndex to the IVF-routed layout
            TableSpec("ivf_hnsw", Some(120), sz(1000, 100), Seq("build_ivf_hnsw" ->
              ((db: VecDB) => db.buildHnswIndex("ivf_hnsw", efConstruction = Some(200))))),
            TableSpec("ivf", None, sz(100, 20), Seq("build_ivf" ->
              ((db: VecDB) => db.buildIvfIndex("ivf", k = 64, defaultNProbes = 4))))),
          // two appends and two SQL calls per cycle: enough samples for medians
          Seq(Search("ivf_hnsw"), Sql("ivf_hnsw"), Append("ivf"), Search("ivf"),
            Sql("ivf_hnsw"), Append("ivf")),
          appendRows = sz(100, 20), sqlEf = 120,
          // a quarter of the vector bytes alone: below any graph estimate
          gateBytes = Some(rows.toLong * 960 * 4 / 4),
          recallCalls = 3, truthQueries = sz(100, 20), latencyPerCall = false)

      case other =>
        throw new IllegalArgumentException(
          s"unknown workload '$other' (expected one of ${(names ++ optIn).mkString(", ")})")
    }
  }
}
