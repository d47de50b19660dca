package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** `Bench.timeOne`, the one query timer: a failed query comes back with
  * its exception, and the untimed cleanup empties the cache whether the
  * query failed or not. */
class BenchTimeOneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("timeOne returns the failure and clears the cache after both outcomes") {
    var cached = Seq.empty[DataFrame]
    def cachedRange(s: SparkSession): DataFrame = {
      val df = s.range(100).toDF("id").persist()
      df.count()
      cached :+= df
      df
    }
    def time(fn: SparkSession => DataFrame) =
      Bench.timeOne(spark, SparkTestSession.sfDir, (s, _) => fn(s))

    val (_, failure) = time { s => cachedRange(s); throw new IllegalStateException("no rows") }
    assert(failure.exists(_.isInstanceOf[IllegalStateException]), failure)
    assert(failure.get.getMessage == "no rows")
    assert(Bench.describe(failure.get) == "java.lang.IllegalStateException: no rows")
    assert(cached.head.storageLevel == StorageLevel.NONE, "cache kept after a failure")

    val (sec, ok) = time(s => cachedRange(s).filter("id % 2 = 0"))
    assert(ok.isEmpty, ok)
    assert(sec >= 0.0)
    assert(cached.size == 2 && cached.forall(_.storageLevel == StorageLevel.NONE),
      "cache kept after a success")
  }

  test("describe names the class when the message is null") {
    assert(Bench.describe(new NullPointerException()) == "java.lang.NullPointerException: null")
  }
}
