package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StreamRunner, StreamingPack}

/** [[StreamRunner.drain]], the one way a gate stream runs to completion:
  * the frame it returns reads the sink's rows, and it leaves no running
  * query, no changed shuffle-partition count and no sink view behind,
  * whether the stream succeeds or a batch throws. */
class StreamRunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tempViews(): Seq[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSeq

  /** A grouped count (parity → n) over `xs` as a complete-mode stream;
    * a negative element fails its batch. */
  private def parityCounts(xs: Seq[Int]): DataFrame = {
    import spark.implicits._
    val src = MemoryStream[Int](newIntEncoder, spark.sqlContext)
    src.addData(xs)
    val checked = udf { (x: Int) => require(x >= 0, s"negative input $x"); x }
    src.toDF().select(checked(col("value")).as("v"))
      .groupBy((col("v") % 2).as("parity")).agg(count(lit(1)).as("n"))
  }

  private def assertNothingLeft(partitionsBefore: String): Unit = {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitionsBefore)
    assert(spark.streams.active.isEmpty)
    assert(!tempViews().exists(_.startsWith("graft_stream_")))
  }

  test("drain returns the sink rows and leaves no query, conf or view behind") {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val out = StreamRunner.drain(parityCounts(1 to 7), "complete", "spec")()
    assertNothingLeft(partitions)
    val rows = out.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == Map(0 -> 3L, 1 -> 4L))
  }

  test("drain leaves no query, conf or view behind when a batch throws") {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val e = intercept[Exception] {
      StreamRunner.drain(parityCounts(Seq(1, -2, 3)), "complete", "spec")()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("negative input -2")))
    assertNothingLeft(partitions)
  }

  test("q33_stream_tumbling leaves the session's temp views unchanged") {
    val before = tempViews()
    val out = StreamingPack.queries("q33_stream_tumbling")(spark, SparkTestSession.sfDir)
    assert(out.count() > 0)
    assert(tempViews() == before)
  }
}
