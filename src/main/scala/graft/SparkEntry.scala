package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CoreQueries, EventQueries, LlmQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query naming follows SURVEY §7.5: ids `a*`/`b*`/`c*`/`d*` line up with
  * the §2 operator inventory rows. Queries without an `oracleSql` entry are
  * the non-SQL-expressible ones (gunzip UDF, xxhash64-based MinHash/SimHash
  * /IVF, HLL, sampling) — the driver records rows-only checks and the
  * ScalaTest suites carry their correctness laws.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's entire purpose as one batch query: decode → filter →
    * project over the event feed (SURVEY §7.2). */
  def entry(spark: SparkSession): DataFrame = {
    // The driver owns this session, so the events-table read conf is
    // applied here (everywhere else GraftSession.local sets it).
    graft.tables.Tables.ensureNanosConf(spark)
    EventQueries.arcEventFilter(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EventQueries.defs ++ CoreQueries.defs ++ LlmQueries.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    EventQueries.sql ++ CoreQueries.sql ++ LlmQueries.sql
}
