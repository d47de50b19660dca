package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session contract `graft.core.Session` sets and that Bench, Verify
  * and AqeSkewJoinSpec rely on, read back from the shared test session. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the test session is local[4] with 4 shuffle partitions") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("the session time zone is UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("AQE and its skew-join split are on") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("superseded reliable checkpoints are cleaned once unreferenced") {
    assert(spark.sparkContext.getConf
      .get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }

  test("the codegen class cache holds 2000 entries") {
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    assert(spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) == 2000)
  }

  test("the Spark UI is disabled") {
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
