package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (see spark_guide). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** [[graft.catalog.VecDB.search]]'s answer, run through
    * [[graft.catalog.VecDB.dispatch]] so the choices that produced it come
    * back with it. */
  def dispatchOne(db: graft.catalog.VecDB, key: String, q: Array[Float],
      k: Int, ef: Option[Int] = None, upperBound: Option[Double] = None,
      pattern: Map[String, String] = Map.empty)
      : (Seq[(Map[String, String], Double)], graft.catalog.VecDB.Dispatched) = {
    import spark.implicits._
    val d = db.dispatch(key, Seq((0L, q)).toDF("query_id", "query_vec"), k,
      ef, upperBound, pattern)
    (graft.catalog.VecDB.ranked(d.frame), d)
  }

  /** How [[graft.operators.Rerank.exact]] joined the winners of `df`,
    * read from the strategy hint it put into the plan: "shuffle" under a
    * `shuffle_hash` hint, "broadcast" when the winners carry a broadcast
    * hint beside the query batch's. */
  def rerankJoin(df: org.apache.spark.sql.DataFrame): String = {
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.hints.strategy.map(_.displayName)
    }.flatten
    if (hints.contains("shuffle_hash")) "shuffle"
    else if (hints.count(_ == "broadcast") >= 2) "broadcast"
    else "none"
  }

  /** Spark jobs started while `body` runs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftshim.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.graftshim.ListenerDrain(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
