package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Bench, Verify, the
  * res2csv/csv2res CLIs and the specs all take their session from here,
  * so every entry point plans and runs queries under the same confs.
  */
object GraftSession {

  /** The session on `master` named `appName`, or the already-running one
    * (a second call returns the first call's session). Shuffle partitions
    * follow the cluster's default parallelism: n under `local[n]`.
    */
  def apply(master: String, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      // storage-partitioned planning for the eclipse-* DSv2 sources: set
      // at session birth everywhere queries run, so plan shapes never
      // depend on whether a fleet gate ran first
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // Checkpoint-file checksums (a Spark 4.1 integrity feature, default
      // on) serialize every state-store/WAL file close behind an awaited
      // async checksum write — measured round 13: all 32 task threads
      // parked in ChecksumCancellableFSDataOutputStream.close, q134
      // 8.9 s -> 5.1 s from this conf alone. Corruption detection for
      // durable production checkpoints is a deliberate opt-back-in.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.shuffle.partitions", s.sparkContext.defaultParallelism.toString)
    // ERROR, not WARN: sbt relays a forked JVM's stderr onto its stdout,
    // where per-query planner warnings would bury Bench's result line
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Release everything queries left cached, so one query's storage
    * never skews the memory and GC of the next: the SQL cache, plus the
    * RDD-level persists (`localCheckpoint(true)` blocks) that
    * `clearCache` never reaches.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
