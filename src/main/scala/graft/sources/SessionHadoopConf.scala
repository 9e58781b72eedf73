package graft.sources

import org.apache.spark.sql.SparkSession

/** The SESSION's Hadoop configuration, captured on the DRIVER and shipped
  * as a plain map: executors must open files with the job's conf
  * (credentials, fs.defaultFS, filesystem impls), not a default-constructed
  * one — the same reason Spark's own file sources and sinks broadcast a
  * SerializableConfiguration. Each connector captures it once per scan or
  * write and ships it in its executor-side factory: both halves of the
  * sharded connector, the CDC store, feed and footer-statistics scans, the
  * CDC staging writers and the `$files` footer reads.
  *
  * Filesystem classes are not set here: `src/main/resources/core-site.xml`
  * is the one registration point (the engine's fork-free `file:` classes,
  * [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]]). Every default
  * `Configuration` loads it, the session's included, so the captured map
  * carries those entries to executors. */
private[graft] object SessionHadoopConf {
  def capture(): Map[String, String] = {
    val c  = SparkSession.active.sessionState.newHadoopConf()
    val it = c.iterator()
    val b  = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  /** The captured map is the full resolved session conf (defaults and
    * `core-site.xml` included), so the executor copy skips loading and
    * parsing the default XML resources again. */
  def toConf(confMap: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    confMap.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
