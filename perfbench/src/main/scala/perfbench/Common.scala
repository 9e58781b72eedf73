package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What one workload run hands back to [[Main]]. `endToEnd` carries the
  * end-to-end metrics, `detail` the workload's own named metrics
  * (printed for humans), `layers` the per-layer metrics of a traced run. */
final case class Outcome(
    endToEnd: Map[String, Metric],
    detail: Map[String, Metric],
    layers: Map[String, Double],
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean)])

/** Arguments of one run. */
final case class Ctx(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    out: String,
    cores: Int,
    fixtureDir: String) {
  def dir(name: String): String = new File(work, name).getPath
}

/** Progress notes on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1000.0}%7.2f s] $msg")
}

object Stats {
  /** Nearest-rank percentile of `xs` (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Wall seconds of `f`, with its result. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r  = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS  = Long.MinValue
    var curE  = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b ++= "\\\""
      case '\\'          => b ++= "\\\\"
      case '\n'          => b ++= "\\n"
      case '\r'          => b ++= "\\r"
      case '\t'          => b ++= "\\t"
      case c if c < ' '  => b ++= f"\\u${c.toInt}%04x"
      case c             => b += c
    }
    b += '"'
    b.result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def metrics(ms: Map[String, Metric]): String =
    ms.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}"
    }.mkString("{", ", ", "}")
}

object Files {
  /** Regular files under `root` (recursive), skipping dot/underscore names
    * only when `dataOnly`. */
  def list(root: String, dataOnly: Boolean = false): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile && (!dataOnly || !(f.getName.startsWith(".") || f.getName.startsWith("_"))))
        Seq(f)
      else Nil
    walk(new File(root))
  }
  def bytes(root: String, dataOnly: Boolean = false): Long = list(root, dataOnly).map(_.length).sum
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** JVM counters read from the platform MX beans. */
object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}

/** Host context: the fixed calibration probes of `graft.Bench` (a
  * CPU-bound aggregate plus one small parquet scan, and a full scan of
  * the largest fixture table), each the median of three, plus the
  * one-minute load average taken before the session starts. Read a run's
  * timings against these when comparing runs taken hours apart. */
object Host {
  def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def calibrate(spark: SparkSession, fixtureDir: String, cores: Int): (Double, Double) = {
    def med3(f: => Unit): Double = Stats.median(Seq.fill(3)(Stats.timed(f)._2))
    val cpu = med3 {
      spark.range(0, 20000000L, 1, cores)
        .selectExpr("bit_xor(xxhash64(id)) AS h", "count(1) AS c")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$fixtureDir/nation.parquet").write.format("noop").mode("overwrite").save()
    }
    val io = med3 {
      spark.read.parquet(s"$fixtureDir/lineitem.parquet").write.format("noop").mode("overwrite").save()
    }
    (cpu, io)
  }
}

/** Phases of a run. A timed run measures one phase of `--seconds`; a
  * traced run measures three of a third each — untraced, traced,
  * untraced — and reads tracing overhead against the mean of the two
  * untraced neighbours, which cancels a steady warm-up drift. */
object Phases {
  def plan(ctx: Ctx): Seq[(Int, Boolean)] =
    if (!ctx.trace) Seq((ctx.seconds, false))
    else {
      val s = math.max(1, ctx.seconds / 3)
      Seq((s, false), (s, true), (s, false))
    }

  /** Relative cost of tracing on a metric: > 0 means the traced phase did
    * worse than its untraced neighbours. */
  def overhead(untraced: Seq[Double], traced: Double, higherIsBetter: Boolean): Double = {
    val base = untraced.sum / math.max(1, untraced.length)
    if (higherIsBetter) base / traced - 1 else traced / base - 1
  }
}
