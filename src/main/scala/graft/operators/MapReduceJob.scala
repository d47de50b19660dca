package graft.operators

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.functions.TokenizerKernel

/** Generic MapReduce programming-model facade — the Spark-native equivalent
  * of the reference's entire user API (`map: &str -> Vec<KeyValue>`,
  * `reduce: (&str, Vec<&str>) -> String`; reference `src/mr/worker.rs:16-25`
  * with `KeyValue` at `src/lib.rs:10-15`).
  *
  * The reference's runtime (coordinator RPC, file shuffle, leases,
  * phase barriers — SURVEY.md §2 C1–C5) is replaced wholesale by Spark's
  * DAGScheduler + shuffle service + lineage recovery: `flatMap` is the map
  * phase, the one hash repartition on the key column is the
  * `mr-{m}-{r}.txt` exchange (`numPartitions` = the reference's
  * `reduce_n`), and `mapGroups` on that same column is the reduce phase —
  * grouped on the partitioning column, so no second exchange is planned.
  *
  * Unlike the reference (which has no combiner — every `(word,"1")` pair
  * crosses the shuffle, `src/app/wc.rs:11`), callers that have an
  * associative reduce should use [[runAssociative]] which gets map-side
  * partial aggregation — same semantics, strictly less shuffle I/O; this is
  * what makes the model survive 100 TB inputs.
  *
  * Note: the reference loses the lexicographically-last group of every
  * reduce partition (`src/mr/worker.rs:169-184` never flushes the final
  * group). We intentionally do NOT replicate that bug (SURVEY.md §2 O8).
  */
object MapReduceJob {

  /** Faithful general form: arbitrary reduce over the full value list per
    * key. One shuffle into `numPartitions` reduce partitions, no combiner
    * (matches the reference contract exactly; values arrive in unspecified
    * order, like the reference's post-sort grouping which only ordered
    * keys, not values).
    */
  def run(spark: SparkSession,
          input: Dataset[String],
          map: String => Seq[(String, String)],
          reduce: (String, Seq[String]) => String,
          numPartitions: Int): Dataset[(String, String)] = {
    import spark.implicits._
    input
      .flatMap(map)
      .repartition(numPartitions, $"_1")
      .groupBy($"_1").as[String, (String, String)]
      .mapGroups((k, it) => (k, reduce(k, it.map(_._2).toSeq)))
  }

  /** Combiner-enabled form for associative+commutative reduces: Spark plans
    * partial aggregation before the shuffle, so only one pre-reduced pair
    * per (partition, key) crosses the wire.
    */
  def runAssociative(spark: SparkSession,
                     input: Dataset[String],
                     map: String => Seq[(String, String)],
                     combine: (String, String) => String): Dataset[(String, String)] = {
    import spark.implicits._
    input
      .flatMap(map)
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, combine(a._2, b._2)))
      .map { case (k, (_, v)) => (k, v) }
  }

  /** The reference's only application: word count (`src/app/wc.rs`).
    * Emits `(token, "1")` per token of the shared tokenizer kernel (the
    * one behind `TextFunctions.tokens`), reduce = count of values.
    */
  def wordCountMap(line: String): Seq[(String, String)] =
    ArraySeq.unsafeWrapArray(TokenizerKernel.tokens(line)).map(w => (w, "1"))

  def wordCountReduce(key: String, values: Seq[String]): String =
    values.size.toString
}
