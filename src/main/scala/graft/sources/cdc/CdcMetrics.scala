package graft.sources.cdc

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** DSv2 custom metrics for the catalog scans — at 100 TB the pruning
  * machinery must be OBSERVABLE, not just implemented: these surface in
  * the Spark UI / SQLAppStatusStore next to the built-in scan metrics,
  * so an operator can read "1016 of 1024 buckets pruned" off the plan
  * instead of inferring it from task counts.
  *
  * Driver metrics (reported once per scan execution, after runtime
  * filtering): planned/statically-pruned/runtime-pruned bucket counts
  * and the planned file count. Task metrics (summed across readers):
  * files actually opened — with row-group pruning, fewer opens than
  * planned files means the panel filter is biting — and `filesSize`,
  * the on-disk bytes of those files (the definition of Spark's own file
  * scan metric of that name; the footer-only stats and count scans
  * report none). */
object CdcMetrics {
  class PlannedBuckets extends CustomSumMetric {
    override def name(): String = "plannedBuckets"
    override def description(): String = "buckets planned (after all pruning)"
  }
  class StaticPrunedBuckets extends CustomSumMetric {
    override def name(): String = "staticPrunedBuckets"
    override def description(): String = "buckets pruned at planning (key panels)"
  }
  class RuntimePrunedBuckets extends CustomSumMetric {
    override def name(): String = "runtimePrunedBuckets"
    override def description(): String = "buckets pruned at runtime (DPP panels)"
  }
  class PlannedFiles extends CustomSumMetric {
    override def name(): String = "plannedFiles"
    override def description(): String = "store files planned across surviving buckets"
  }
  class FilesOpened extends CustomSumMetric {
    override def name(): String = "filesOpened"
    override def description(): String = "store files actually opened by readers"
  }
  class FilesSize extends CustomSumMetric {
    override def name(): String = "filesSize"
    override def description(): String = "on-disk bytes of the store files readers opened"
  }
  class StatsFallbackFiles extends CustomSumMetric {
    override def name(): String = "statsFallbackFiles"
    override def description(): String =
      "files whose footer lacked statistics and were row-decoded instead"
  }

  def scanMetrics: Array[CustomMetric] = Array(
    new PlannedBuckets, new StaticPrunedBuckets, new RuntimePrunedBuckets,
    new PlannedFiles, new FilesOpened, new FilesSize, new StatsFallbackFiles)

  /** A file reader's task metrics: files opened and their on-disk bytes. */
  def readValues(filesOpened: Int, bytes: Long): Array[CustomTaskMetric] =
    Array(Value("filesOpened", filesOpened.toLong), Value("filesSize", bytes))

  case class Value(metricName: String, value: Long) extends CustomTaskMetric {
    override def name(): String = metricName
  }
}
