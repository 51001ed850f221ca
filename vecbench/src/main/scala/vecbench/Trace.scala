package vecbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative Spark counters at one instant. */
final case class SparkSnap(jobs: Long, stages: Long, tasks: Long,
    cpuNs: Long, gcMs: Long, inputBytes: Long, shuffleBytes: Long,
    resultBytes: Long, outputBytes: Long, intervals: Int, skews: Int)

/** Spark listener-bus reader: job / stage / task counts, task metrics, the
  * wall interval of every job and the task-time skew of every stage. */
final class SparkProbe extends SparkListener {
  private var jobs, stages, tasks, cpuNs, gcMs = 0L
  private var inputBytes, shuffleBytes, resultBytes, outputBytes = 0L
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val stageTasks = scala.collection.mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]
  /** (start, end) epoch-ms of every finished job, in completion order. */
  val intervals = ArrayBuffer.empty[(Long, Long)]
  /** max ÷ median task duration of every finished multi-task stage. */
  val skews = ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    intervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageTasks.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ds =>
      if (ds.length >= 2) {
        val sorted = ds.sorted
        skews += sorted.last.toDouble / math.max(1.0, Stats.median(sorted.map(_.toDouble)))
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      resultBytes += m.resultSize
      outputBytes += m.outputMetrics.bytesWritten
    }
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  def snap(): SparkSnap = synchronized {
    SparkSnap(jobs, stages, tasks, cpuNs, gcMs, inputBytes, shuffleBytes,
      resultBytes, outputBytes, intervals.length, skews.length)
  }

  /** Milliseconds of `[t0, t1]` covered by the jobs finished between two
    * snapshots (union of their intervals, clipped to the call). */
  def jobCoveredMs(from: Int, until: Int, t0: Long, t1: Long): Long = synchronized {
    val iv = intervals.slice(from, until)
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }

  def skewsBetween(from: Int, until: Int): Seq[Double] = synchronized {
    skews.slice(from, until).toSeq
  }
}

/** Counts Spark's "task of very large size" warnings (a driver-built task
  * closure past the recommended size). */
final class LargeTaskCounter extends AbstractAppender(
    "vecbench-large-task", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getMessage.getFormattedMessage.contains("very large size")) count.incrementAndGet()
}

object LargeTaskCounter {
  def install(): LargeTaskCounter = {
    val app = new LargeTaskCounter
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    app
  }
}

/** Tracing handle of a traced run: the listener, the log counter and a
  * drain that makes both complete before a reading. */
final class Tracer(sc: SparkContext) {
  val probe = new SparkProbe
  sc.addSparkListener(probe)
  val largeTasks: LargeTaskCounter = LargeTaskCounter.install()

  def settled(): SparkSnap = {
    org.apache.spark.vecbench.ListenerDrain(sc)
    probe.snap()
  }
}
