package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.MapReduceJob

/** Property tests for the generic MapReduce facade: the distributed result
  * must equal a sequential groupBy model for any map/reduce pair, and be
  * invariant under partition count (the reference's `reduce_n`), which is
  * the width of the one planned exchange.
  *
  * (scalatestplus isn't on the offline classpath, so generators are sampled
  * manually with fixed seeds — deterministic across runs.)
  */
class MapReduceJobSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def forAll[T](gen: Gen[T], n: Int = 8)(body: T => Unit): Unit =
    samples(gen, n).foreach(body)

  private val lineGen: Gen[String] =
    Gen.listOf(Gen.oneOf("foo", "bar", "baz", "qux", "a", "b", "The", "the"))
      .map(_.mkString(" "))
  private val linesGen: Gen[List[String]] = Gen.listOfN(30, lineGen)

  private def model(lines: Seq[String]): Map[String, String] =
    lines.flatMap(MapReduceJob.wordCountMap)
      .groupBy(_._1)
      .map { case (k, kvs) => k -> MapReduceJob.wordCountReduce(k, kvs.map(_._2)) }

  test("facade == sequential model, invariant under partition count") {
    import spark.implicits._
    forAll(linesGen, 4) { lines =>
      for (parts <- Seq(1, 2, 7, 32)) {
        val ds = MapReduceJob.run(spark, lines.toDS(),
          MapReduceJob.wordCountMap, MapReduceJob.wordCountReduce, parts)
        assert(ds.collect().toMap == model(lines), s"parts=$parts")
        // one exchange, and it is the reduce's: numPartitions wide
        val plan = ds.queryExecution.executedPlan
        assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, s"parts=$parts: $plan")
        assert(ds.rdd.getNumPartitions == parts, s"parts=$parts")
      }
    }
  }

  test("associative (combiner) form agrees with general form") {
    import spark.implicits._
    forAll(linesGen) { lines =>
      val got = MapReduceJob.runAssociative(spark, lines.toDS(),
        MapReduceJob.wordCountMap,
        (a, b) => (a.toLong + b.toLong).toString)
        .collect().toMap
      assert(got == model(lines))
    }
  }

  test("tokens never contain whitespace; counts sum to token total") {
    import spark.implicits._
    forAll(linesGen) { lines =>
      val got = MapReduceJob.run(spark, lines.toDS(),
        MapReduceJob.wordCountMap, MapReduceJob.wordCountReduce, 4).collect()
      assert(!got.exists(_._1.exists(Character.isWhitespace)))
      assert(got.map(_._2.toLong).sum ==
        lines.flatMap(MapReduceJob.wordCountMap).size)
    }
  }
}
