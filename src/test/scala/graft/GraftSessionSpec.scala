package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session factory every entry point shares: its pinned confs, its
  * parallelism-derived shuffle partitions, reuse, and cache release.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the factory's session carries every pinned conf") {
    val pinned = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false")
    pinned.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("shuffle partitions equal n under local[n]") {
    val n = "local\\[(\\d+)\\]".r.findFirstMatchIn(spark.sparkContext.master)
      .map(_.group(1)).getOrElse(fail(s"not local[n]: ${spark.sparkContext.master}"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == n)
    assert(spark.sparkContext.defaultParallelism.toString == n)
  }

  test("a second call reuses the session") {
    assert(GraftSession(spark.sparkContext.master, "graft-test") eq spark)
  }

  test("releaseCaches drops cached tables and RDD-level persists") {
    val cached = spark.range(100).toDF("id")
    cached.cache().count()
    spark.range(10).createOrReplaceTempView("graft_session_spec_t")
    spark.catalog.cacheTable("graft_session_spec_t")
    spark.range(50).localCheckpoint(true)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    GraftSession.releaseCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(!spark.catalog.isCached("graft_session_spec_t"))
    assert(cached.storageLevel == StorageLevel.NONE)
    spark.catalog.dropTempView("graft_session_spec_t")
  }
}
