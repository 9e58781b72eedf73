package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution

/** One span: a timed interval at a layer boundary. `req` groups the spans
  * of one request (a micro-batch id, a CDC call id, a query name). Times
  * are epoch milliseconds. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, req: String)

/** One finished Spark job as the listener saw it. */
final case class JobRec(id: Int, start: Long, end: Long, req: String, stages: Seq[Int])

/** Per-stage task totals. */
final class StageTotals {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var recordsWritten = 0L
}

/** Scan counters of one executed batch query, read from its executed
  * plan: `filesSize` of file scans (bytes of the files the scan read, from
  * the file listing, so it does not depend on how the reader fetched
  * them) and the DSv2 custom metrics of catalog scans. */
final case class ExecRec(fileScanBytes: Long, custom: Map[String, Long])

/** The traced run's recorder. Spans are kept in memory and written once,
  * at exit; the Spark listeners only append to in-memory buffers. Only a
  * traced run installs it. */
final class Tracer(spark: SparkSession) {
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs  = mutable.ArrayBuffer.empty[JobRec]
  val execs = mutable.ArrayBuffer.empty[ExecRec]
  val stageTotals = mutable.Map.empty[Int, StageTotals]
  private val jobStarts = mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val stack = mutable.Stack.empty[Int]

  /** Local property the harness sets on its client thread, so the jobs a
    * call launches carry the call's request id. */
  val ReqProp = "perfbench.req"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      val req = Option(p).flatMap(pp => Option(pp.getProperty(ReqProp)))
        .orElse(Option(p).flatMap(pp => Option(pp.getProperty("streaming.sql.batchId"))).map("batch-" + _))
        .getOrElse("")
      jobStarts(e.jobId) = (e.time, req, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, req, st) => jobs += JobRec(e.jobId, t0, e.time, req, st) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val t = stageTotals.getOrElseUpdate(e.stageId, new StageTotals)
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan: SparkPlan = qe.executedPlan
      var fileBytes = 0L
      val custom = mutable.Map.empty[String, Long].withDefaultValue(0L)
      Plans.collectWithSubqueries(plan) {
        case s: FileSourceScanExec => fileBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case b: BatchScanExec => b.metrics.foreach { case (k, v) => custom(k) += v.value }
      }
      Tracer.this.synchronized(execs += ExecRec(fileBytes, custom.toMap))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** Record a span around `f` on the client thread; jobs it launches carry
    * `req`. */
  def span[T](name: String, req: String)(f: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = if (stack.isEmpty) 0 else stack.top
    val sc = spark.sparkContext
    val prevReq = sc.getLocalProperty(ReqProp)
    sc.setLocalProperty(ReqProp, req)
    stack.push(id)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(ReqProp, prevReq)
      synchronized { spans += Span(id, name, t0, t1, parent, req) }
    }
  }

  /** Add a span the harness did not time itself (e.g. one rebuilt from a
    * streaming progress event); returns its id. */
  def addSpan(name: String, start: Long, end: Long, parent: Int, req: String): Int = synchronized {
    nextId += 1
    spans += Span(nextId, name, start, end, parent, req)
    nextId
  }

  /** Jobs become spans: children of the innermost span of the same request
    * that contains them. */
  def attachJobs(): Unit = synchronized {
    val byReq = spans.groupBy(_.req)
    jobs.foreach { j =>
      val candidates = byReq.getOrElse(j.req, Nil).filter(s => s.start <= j.start && j.start <= s.end)
      val parent = if (candidates.isEmpty) 0 else candidates.minBy(s => s.end - s.start).id
      nextId += 1
      spans += Span(nextId, "spark.job", j.start, j.end, parent, j.req)
    }
  }

  def totals(js: Seq[JobRec]): StageTotals = synchronized {
    val t = new StageTotals
    js.flatMap(_.stages).distinct.flatMap(stageTotals.get).foreach { s =>
      t.tasks += s.tasks; t.cpuNs += s.cpuNs; t.runMs += s.runMs
      t.shuffleWrite += s.shuffleWrite; t.recordsWritten += s.recordsWritten
    }
    t
  }

  def jobsOf(req: String): Seq[JobRec] = synchronized(jobs.filter(_.req == req).toSeq)

  /** Self time per span name: duration minus the part of it that child
    * spans cover, summed over the spans of that name (ms). */
  def selfTimes(): Map[String, (Int, Long, Long)] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val covered = Stats.unionLength(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(iv => iv._2 > iv._1).toSeq)
        (s.end - s.start) - covered
      }.sum
      name -> (ss.length, total, self)
    }
  }

  def write(path: String): Unit = synchronized {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try {
      spans.sortBy(_.start).foreach { s =>
        w.println(s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "start": ${s.start}, "end": ${s.end}, """ +
          s""""parent": ${s.parent}, "req": ${Json.str(s.req)}}""")
      }
      selfTimes().toSeq.sortBy(-_._2._3).foreach { case (n, (c, tot, self)) =>
        w.println(s"""{"summary": ${Json.str(n)}, "count": $c, "total_ms": $tot, "self_ms": $self}""")
      }
    } finally w.close()
  }
}
