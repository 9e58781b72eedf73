package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What one measured body cost, layer by layer.
  *
  * `scanBytes` sums `filesSize` over the scans of every query the body
  * executed: for file scans the on-disk size of the files each scan
  * listed, for the CDC catalog's DSv2 scans the on-disk size of the files
  * its readers opened (its footer-only aggregate scans report none). It
  * does not depend on how the reader fetched them. (Parquet's vectored
  * reads bypass `inputMetrics.bytesRead`, which then counts little more
  * than the footers.) Other DSv2 scans report no byte metric and are not
  * counted. `driverGapMs` is the wall time of the body that no Spark job
  * covers: planning, listing, commits. */
final case class QuerySnapshot(
    wallNs: Long,
    jobs: Int,
    stages: Int,
    tasks: Int,
    taskSec: Double,
    shuffleBytes: Long,
    scanBytes: Long,
    planMs: Long,
    driverGapMs: Long)

/** The engine's one query-metrics collector: one `SparkListener` (jobs,
  * stages, tasks, executor run time, shuffle writes) and one
  * `QueryExecutionListener` (scan bytes and Catalyst phase times of each
  * executed query). `measure` drains the listener bus before and after its
  * body, so the snapshot holds every event of the body and no earlier
  * one. Measure one body at a time. */
final class QueryMetrics(spark: SparkSession) {
  private var jobs, stages, tasks = 0
  private var taskMs, shuffleBytes, scanBytes, planMs = 0L
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = QueryMetrics.this.synchronized {
      jobs += 1
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = QueryMetrics.this.synchronized {
      jobStarts.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      QueryMetrics.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = QueryMetrics.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val bytes = QueryMetrics.Plans.collectWithSubqueries(qe.executedPlan) {
        case s @ (_: FileSourceScanExec | _: BatchScanExec) =>
          s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }.sum
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      QueryMetrics.this.synchronized { scanBytes += bytes; planMs += ms }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(executions)

  /** Run `body` and return what it cost. `wallNs` times the body alone;
    * both bus drains fall outside it. */
  def measure(body: => Unit): QuerySnapshot = {
    GraftBridge.drainListenerBus(spark)
    synchronized {
      jobs = 0; stages = 0; tasks = 0
      taskMs = 0L; shuffleBytes = 0L; scanBytes = 0L; planMs = 0L
      jobStarts.clear(); jobSpans.clear()
    }
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    body
    val wallNs = System.nanoTime() - n0
    val t1 = System.currentTimeMillis()
    GraftBridge.drainListenerBus(spark)
    synchronized {
      // union of the job intervals, clipped to the body
      var covered, curS, curE = 0L
      jobSpans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
          if (s > curE) { covered += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
      covered += curE - curS
      QuerySnapshot(wallNs, jobs, stages, tasks, taskMs / 1000.0, shuffleBytes, scanBytes,
        planMs, math.max(0L, (t1 - t0) - covered))
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(executions)
  }
}

object QueryMetrics {
  private object Plans extends AdaptiveSparkPlanHelper
}
