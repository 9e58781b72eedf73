package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all suites (one forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, "graft-tests")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
}
