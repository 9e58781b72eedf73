package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: Bench, Verify, DumpPlans and the
  * test suites all build their local session here, so every entry point
  * reads the fixtures and serves the CDC catalog under the same confs. */
object GraftSession {
  def local(cores: Int, appName: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped as TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // One-file-per-bucket is guaranteed by the warehouse writer
      // (repartition-by-bucket-hash before bucketBy), so the reader may
      // trust per-file sortBy order and SMJ over co-bucketed twins skips
      // its Sorts too (Spark 3+ keeps this behind the legacy flag after
      // SPARK-28595 because generic writers can't promise 1 file/bucket).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // Session artifacts (bucketed twins) are per-run: a FRESH warehouse
      // dir per JVM, or saveAsTable collides with a previous run's orphan
      // location (catalog is in-memory, the default ./spark-warehouse is
      // not).
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_warehouse").toString)
      // The engine's own V2 catalog: partitioned CDC stores served as
      // bucket-reporting tables (storage-partitioned joins; sources/cdc)
      .config("spark.sql.catalog.graft", "graft.sources.cdc.CdcCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .getOrCreate()
}
