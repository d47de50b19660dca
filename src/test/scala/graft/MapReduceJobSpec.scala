package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{MapGroupsExec, SortExec}
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

  private def model(lines: Seq[String],
                    map: String => Seq[(String, String)] = MapReduceJob.wordCountMap,
                    reduce: (String, Seq[String]) => String = MapReduceJob.wordCountReduce)
      : Map[String, String] =
    lines.flatMap(map)
      .groupBy(_._1)
      .map { case (k, kvs) => k -> reduce(k, kvs.map(_._2)) }

  /** Rows the one exchange of an executed `run` wrote. */
  private def shuffleRecords(ds: Dataset[_]): Long =
    collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      .map(_.metrics("shuffleRecordsWritten").value).sum

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
        // the reduce merges in a hash table: no sort, no mapGroups
        assert(collect(plan) { case s: SortExec => s }.isEmpty, s"parts=$parts: $plan")
        assert(collect(plan) { case g: MapGroupsExec => g }.isEmpty, s"parts=$parts: $plan")
        assert(ds.rdd.getNumPartitions == parts, s"parts=$parts")
      }
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

  test("general reduce: every distinct value reaches reduce exactly once") {
    import spark.implicits._
    // values carry their line and position, and the reduce is
    // order-insensitive but not a count, so a dropped or duplicated value
    // changes the result
    val tagged: String => Seq[(String, String)] = line =>
      MapReduceJob.wordCountMap(line).zipWithIndex.map { case ((w, _), i) => (w, s"$line:$i") }
    val sorted: (String, Seq[String]) => String = (_, vs) => vs.sorted.mkString(",")
    forAll(linesGen, 4) { lines =>
      for (parts <- Seq(1, 2, 7, 32)) {
        val got = MapReduceJob.run(spark, lines.toDS(), tagged, sorted, parts).collect().toMap
        assert(got == model(lines, tagged, sorted), s"parts=$parts")
      }
    }
  }

  test("combiner flushes: a hot key spanning several flushes is counted exactly") {
    import spark.implicits._
    // one input partition with ~2.5 combiner bounds of pairs; "hot" is in
    // every line, so it is gathered, flushed and gathered again
    val perLine = 200
    val n = MapReduceJob.CombinerValues * 5 / 2 / (perLine + 1)
    val lines = (0 until n).map(i => ("hot " * perLine) + s"k${i % 5}")
    val pairs = n.toLong * (perLine + 1)
    assert(pairs > 2L * MapReduceJob.CombinerValues)
    val ds = MapReduceJob.run(spark, spark.sparkContext.parallelize(lines, 1).toDS(),
      MapReduceJob.wordCountMap, MapReduceJob.wordCountReduce, 3)
    val got = ds.collect().toMap
    val expected = Map("hot" -> (n.toLong * perLine).toString) ++
      (0 until 5).map(j => s"k$j" -> (0 until n).count(_ % 5 == j).toString)
    assert(got == expected)
    // each of the 3 flushes sends one row per key it gathered
    val flushes = ((pairs + MapReduceJob.CombinerValues - 1) / MapReduceJob.CombinerValues).toInt
    assert(flushes == 3)
    assert(shuffleRecords(ds) == flushes * 6L)
  }

  test("the shuffle carries one row per (input partition, key), not one per pair") {
    import spark.implicits._
    forAll(linesGen, 4) { lines =>
      val input = spark.sparkContext.parallelize(lines, 3).toDS()
      val ds = MapReduceJob.run(spark, input,
        MapReduceJob.wordCountMap, MapReduceJob.wordCountReduce, 4)
      assert(ds.collect().toMap == model(lines))
      val partitionKeys = input.mapPartitions { it =>
        Iterator(it.flatMap(MapReduceJob.wordCountMap).map(_._1).toSet.size.toLong)
      }.collect().sum
      assert(partitionKeys < lines.flatMap(MapReduceJob.wordCountMap).size)
      assert(shuffleRecords(ds) == partitionKeys)
    }
  }

  test("interleaved equal values reach reduce with exact multiplicity") {
    import spark.implicits._
    // a,b,a,a,b per line: runs of equal neighbours, not distinct values
    val interleaved: String => Seq[(String, String)] =
      line => Seq("a", "b", "a", "a", "b").map(v => (line.take(1), v))
    // size, apply and iterator of the view must all agree
    val describe: (String, Seq[String]) => String = (_, vs) =>
      s"${vs.size}|${vs.sorted.mkString(",")}|${vs.indices.map(vs(_)).sorted.mkString(",")}"
    val lines = Seq("x1", "y1", "x2", "x3", "y2")
    def expect(nLines: Int): String = {
      val sorted = (Seq.fill(3 * nLines)("a") ++ Seq.fill(2 * nLines)("b")).mkString(",")
      s"${5 * nLines}|$sorted|$sorted"
    }
    for (parts <- Seq(1, 2, 5)) {
      val got = MapReduceJob.run(spark, spark.sparkContext.parallelize(lines, parts).toDS(),
        interleaved, describe, 3).collect().toMap
      assert(got == Map("x" -> expect(3), "y" -> expect(2)), s"parts=$parts")
      assert(got == model(lines, interleaved, describe), s"parts=$parts")
    }
  }

  test("word count ships one run per shuffled row") {
    import spark.implicits._
    val lines = Seq("the cat, the hat.", "The cat sat", "the the the", "", "hat! cat")
    val expected = Map("the" -> 5L, "cat" -> 3L, "hat" -> 2L, "The" -> 1L, "sat" -> 1L)
    val input = spark.sparkContext.parallelize(lines, 3).toDS()
    // the rows the one exchange carries: one per (map task, key)
    val shuffled = input.mapPartitions(ls =>
      MapReduceJob.combine(ls.flatMap(MapReduceJob.wordCountMap))).collect()
    assert(shuffled.forall { case (_, vs, ns) => vs.toSeq == Seq("1") && ns.length == 1 })
    assert(shuffled.groupMapReduce(_._1)(_._3.head.toLong)(_ + _) == expected)
    val ds = MapReduceJob.run(spark, input,
      MapReduceJob.wordCountMap, MapReduceJob.wordCountReduce, 2)
    assert(ds.collect().toMap == expected.map { case (k, n) => k -> n.toString })
    assert(shuffleRecords(ds) == shuffled.length)
  }

  test("a key with more than Int.MaxValue values fails loudly, naming the key") {
    // two runs whose counts sum past the bound; no value is materialized
    val err = intercept[IllegalArgumentException](
      MapReduceJob.ValueRuns("hot", Array("1", "2"), Array(Int.MaxValue, 1)))
    assert(err.getMessage.contains("'hot'") && err.getMessage.contains("Int.MaxValue"))
    // one below the bound is a view of Int.MaxValue values
    val vs = MapReduceJob.ValueRuns("hot", Array("1", "2"), Array(Int.MaxValue - 1, 1))
    assert(vs.size == Int.MaxValue)
    assert(vs(0) == "1" && vs(Int.MaxValue - 2) == "1" && vs(Int.MaxValue - 1) == "2")
  }

  test("keys with equal String.hashCode keep separate, exact counts") {
    import spark.implicits._
    assert("Aa".hashCode == "BB".hashCode && "AaAa".hashCode == "BBBB".hashCode)
    assert("AaBB".hashCode == "BBAa".hashCode && "AaAa".hashCode == "AaBB".hashCode)
    val lines = Seq("Aa BB Aa", "AaAa BBBB AaBB BBAa BBBB", "BB AaAa", "BBAa BBBB Aa")
    val expected = Map("Aa" -> "3", "BB" -> "2", "AaAa" -> "2", "BBBB" -> "3",
      "AaBB" -> "1", "BBAa" -> "2")
    assert(model(lines) == expected)
    val rows = MapReduceJob.combine(lines.iterator.flatMap(MapReduceJob.wordCountMap)).toSeq
    assert(rows.map(_._1).sorted == expected.keys.toSeq.sorted)
    assert(rows.map { case (k, _, ns) => k -> ns.sum.toString }.toMap == expected)
    for (parts <- Seq(1, 2)) {
      val got = MapReduceJob.run(spark, spark.sparkContext.parallelize(lines, parts).toDS(),
        MapReduceJob.wordCountMap, MapReduceJob.wordCountReduce, 2).collect().toMap
      assert(got == expected, s"parts=$parts")
    }
  }

  test("the reduce-side merge equals the model past a tiny bound, for any reduce") {
    import spark.implicits._
    val tagged: String => Seq[(String, String)] = line =>
      MapReduceJob.wordCountMap(line).zipWithIndex.map { case ((w, _), i) => (w, s"$line:$i") }
    val sorted: (String, Seq[String]) => String = (_, vs) => vs.sorted.mkString(",")
    forAll(linesGen, 2) { lines =>
      for (parts <- Seq(1, 3, 7); heldRuns <- Seq(1, 3)) {
        val input = spark.sparkContext.parallelize(lines, parts).toDS()
        val counted = MapReduceJob.run(spark, input,
          MapReduceJob.wordCountMap, MapReduceJob.wordCountReduce, 2, heldRuns).collect()
        assert(counted.toMap == model(lines), s"parts=$parts heldRuns=$heldRuns")
        assert(counted.length == counted.map(_._1).distinct.length, "a key was reduced twice")
        val got = MapReduceJob.run(spark, input, tagged, sorted, 2, heldRuns).collect().toMap
        assert(got == model(lines, tagged, sorted), s"parts=$parts heldRuns=$heldRuns")
      }
    }
  }

  test("the reduce-side merge keeps String.hashCode colliders apart past a tiny bound") {
    import spark.implicits._
    val lines = Seq("Aa BB Aa", "AaAa BBBB AaBB BBAa BBBB", "BB AaAa", "BBAa BBBB Aa")
    val expected = Map("Aa" -> "3", "BB" -> "2", "AaAa" -> "2", "BBBB" -> "3",
      "AaBB" -> "1", "BBAa" -> "2")
    for (parts <- Seq(1, 3, 7); heldRuns <- Seq(1, 2, 3)) {
      val got = MapReduceJob.run(spark, spark.sparkContext.parallelize(lines, parts).toDS(),
        MapReduceJob.wordCountMap, MapReduceJob.wordCountReduce, 1, heldRuns).collect()
      assert(got.toMap == expected && got.length == expected.size,
        s"parts=$parts heldRuns=$heldRuns")
    }
  }

  test("alternating values keep exact multiplicities through runs, overflow and flushes") {
    // key x: a, b, a, a (the last run inline, the first two in overflow);
    // key y: c, c (one inline run only)
    val pairs = Seq("x" -> "a", "y" -> "c", "x" -> "b", "x" -> "a", "y" -> "c", "x" -> "a")
    def runs(rows: Seq[(String, Array[String], Array[Int])]): Seq[(String, Seq[(String, Int)])] =
      rows.map { case (k, vs, ns) => k -> vs.toSeq.zip(ns.toSeq) }
    def multiplicities(rows: Seq[(String, Array[String], Array[Int])]): Map[(String, String), Int] =
      rows.flatMap { case (k, vs, ns) => vs.zip(ns).map { case (v, n) => (k, v) -> n } }
        .groupMapReduce(_._1)(_._2)(_ + _)
    val expected = Map(("x", "a") -> 3, ("x", "b") -> 1, ("y", "c") -> 2)

    val whole = MapReduceJob.combine(pairs.iterator).toSeq
    assert(runs(whole) == Seq("x" -> Seq("a" -> 1, "b" -> 1, "a" -> 2), "y" -> Seq("c" -> 2)))
    assert(multiplicities(whole) == expected)

    // a bound of 3 values flushes after x: a, y: c, x: b, then after x: a,
    // y: c, x: a, so every run is cut at a flush
    val flushed = MapReduceJob.combine(pairs.iterator, heldValues = 3).toSeq
    assert(runs(flushed) == Seq(
      "x" -> Seq("a" -> 1, "b" -> 1), "y" -> Seq("c" -> 1),
      "x" -> Seq("a" -> 2), "y" -> Seq("c" -> 1)))
    assert(multiplicities(flushed) == expected)
    // every bound from 1 up gives the same multiplicities
    for (bound <- 1 to pairs.size + 1)
      assert(multiplicities(MapReduceJob.combine(pairs.iterator, bound).toSeq) == expected,
        s"bound=$bound")
  }
}
