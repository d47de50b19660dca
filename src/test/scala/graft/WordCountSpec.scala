package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{GenerateExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions.{col, count, explode, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions.tokens
import graft.functions.{TokenCountMerge, TokenCounts}
import graft.operators.{MapReduceJob, WordCount}

/** `WordCount.over` counts on the map side (the [[TokenCounts]]
  * generator); it must equal the explode-and-count plan it replaced,
  * whatever the input partitioning and however often the counter emits
  * early, with the same schema and no `explode` left in the plan. Its
  * final sort is as wide as the input's bytes ask: for a small input, one
  * unsampled partition whose [[TokenCountMerge]] sums the counts (and
  * spills them to Spark's map past its bound); for a large one, a range
  * partitioning above Spark's aggregate.
  */
class WordCountSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private val lines: Seq[String] = {
    val word = Gen.oneOf("foo", "bar", "baz", "The", "the", "é", "naïve", "中文", "a_b", "x1")
    val glue = Gen.oneOf(" ", "  ", "\t", ", ", ". ", "'", " ", "　", "")
    val line = Gen.listOf(Gen.zip(word, glue)).map(_.map { case (w, g) => w + g }.mkString)
    (0 until 200).flatMap(i => line.apply(Gen.Parameters.default, Seed(i.toLong))) ++
      Seq("", "   ", "!!!", null)
  }

  private def input(parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(lines, parts).toDF("value")
  }

  /** The plan `over` had before it counted on the map side. */
  private def model(df: DataFrame): DataFrame =
    df.select(explode(tokens(col("value"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt")).orderBy("word")

  private def rowsOf(df: DataFrame): Seq[(String, Long)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  private def generates(df: DataFrame): Seq[GenerateExec] =
    collect(df.queryExecution.executedPlan) { case g: GenerateExec => g }

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  /** The lines as a local relation, whose size the optimizer knows. */
  private def sized: DataFrame = {
    import spark.implicits._
    lines.toDF("value")
  }

  test("equals the explode-and-count model at 1, 3 and 7 input partitions") {
    val expected = rowsOf(model(input(1)))
    assert(expected.nonEmpty)
    for (parts <- Seq(1, 3, 7))
      assert(rowsOf(WordCount.over(input(parts), "value")) == expected, s"parts=$parts")
  }

  test("equals the model when three input partitions are coalesced into one task") {
    val coalesced = input(3).coalesce(1)
    assert(coalesced.rdd.getNumPartitions == 1)
    assert(rowsOf(WordCount.over(coalesced, "value")) == rowsOf(model(input(1))))
  }

  test("equals the model when a small bound forces early emits") {
    val expected = rowsOf(model(input(1)))
    for (parts <- Seq(1, 3)) {
      val df = WordCount.over(input(parts), "value", heldKeys = 3)
      assert(rowsOf(df) == expected, s"parts=$parts")
      // more generated rows than (task, word) pairs: some words were
      // emitted by more than one early flush of the same task
      val emitted = generates(df).map(_.metrics("numOutputRows").value).sum
      assert(emitted > expected.size, s"parts=$parts")
    }
  }

  test("schema is unchanged: non-null word string, non-null bigint cnt") {
    val df = WordCount.over(input(3), "value")
    assert(df.schema == StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))))
    assert(df.schema == model(input(3)).schema)
  }

  /** The width-1 shape: exactly one exchange, `SinglePartition`, with
    * `TokenCounts` below it, `TokenCountMerge` above it and no aggregate
    * anywhere. */
  private def assertMergedInOnePartition(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val ex = exchanges(df)
    assert(ex.size == 1 && ex.head.outputPartitioning == SinglePartition, ex)
    val below = collect(ex.head.child) { case g: GenerateExec => g.generator }
    assert(below.size == 1 && below.head.isInstanceOf[TokenCounts], ex.head)
    val merges = generates(df).filter(_.generator.isInstanceOf[TokenCountMerge])
    assert(merges.size == 1 && collect(merges.head.child) { case e: ShuffleExchangeExec => e } == ex,
      plan)
    assert(collect(plan) { case a: HashAggregateExec => a }.isEmpty, plan)
  }

  test("the physical plan generates TokenCounts and has no explode") {
    // wide: every generator is TokenCounts, summed by Spark's aggregate
    val df = WordCount.over(input(3), "value")
    df.collect()
    val gens = generates(df)
    assert(gens.nonEmpty && gens.forall(_.generator.isInstanceOf[TokenCounts]))
    assert(!df.queryExecution.executedPlan.toString.toLowerCase.contains("explode"))
    // one partition: TokenCounts below the exchange, TokenCountMerge above
    val small = WordCount.over(sized, "value")
    assert(rowsOf(small) == rowsOf(model(input(1))))
    assertMergedInOnePartition(small)
    assert(!small.queryExecution.executedPlan.toString.toLowerCase.contains("explode"))
  }

  test("a small input is sorted in one unsampled partition above the aggregate") {
    // at width 1 the aggregate is TokenCountMerge, above the one exchange
    val df = WordCount.over(sized, "value")
    assert(rowsOf(df) == rowsOf(model(input(1))))
    assertMergedInOnePartition(df)
    val sorts = collect(df.queryExecution.executedPlan) { case s: SortExec => s }
    assert(sorts.size == 1, df.queryExecution.executedPlan)
    assert(collect(sorts.head.child) { case g: GenerateExec => g.generator }
      .exists(_.isInstanceOf[TokenCountMerge]), sorts.head)
  }

  test("the one-partition merge equals the model at 1, 3 and 7 map tasks, past a tiny bound") {
    val expected = rowsOf(model(input(1)))
    for (parts <- Seq(1, 3, 7); heldKeys <- Seq(1, 3, MapReduceJob.CombinerValues)) {
      // the sized lines, round-robin into `parts` map tasks
      val df = WordCount.over(sized.repartition(parts), "value", heldKeys)
      assert(rowsOf(df) == expected, s"parts=$parts heldKeys=$heldKeys")
      assert(generates(df).exists(_.generator.isInstanceOf[TokenCountMerge]), s"parts=$parts")
    }
  }

  test("the one-partition merge keeps String.hashCode colliders apart past a tiny bound") {
    import spark.implicits._
    assert("Aa".hashCode == "BB".hashCode && "AaAa".hashCode == "BBBB".hashCode)
    val colliding = Seq("Aa BB Aa", "AaAa BBBB AaBB BBAa BBBB", "BB AaAa", "BBAa BBBB Aa")
    val expected = Seq("Aa" -> 3L, "AaAa" -> 2L, "AaBB" -> 1L, "BB" -> 2L, "BBAa" -> 2L, "BBBB" -> 3L)
    for (parts <- Seq(1, 2); heldKeys <- Seq(1, 2, 100)) {
      val df = WordCount.over(colliding.toDF("value").repartition(parts), "value", heldKeys)
      assert(rowsOf(df) == expected, s"parts=$parts heldKeys=$heldKeys")
      assert(generates(df).exists(_.generator.isInstanceOf[TokenCountMerge]), s"parts=$parts")
    }
  }

  test("a tiny advisory partition size range-partitions the sort, still in order") {
    val key = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val df = WordCount.over(sized, "value")
      assert(rowsOf(df) == rowsOf(model(input(1))))
      val widths = exchanges(df).map(_.outputPartitioning).collect {
        case r: RangePartitioning => r.numPartitions
      }
      assert(widths.size == 1 && widths.head > 1, exchanges(df))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
