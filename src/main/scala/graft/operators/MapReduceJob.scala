package graft.operators

import scala.annotation.unused
import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.functions.TokenizerKernel

/** Generic MapReduce programming-model facade — the Spark-native equivalent
  * of the reference's entire user API (`map: &str -> Vec<KeyValue>`,
  * `reduce: (&str, Vec<&str>) -> String`; reference `src/mr/worker.rs:16-25`
  * with `KeyValue` at `src/lib.rs:10-15`).
  *
  * The reference's runtime (coordinator RPC, file shuffle, leases,
  * phase barriers — SURVEY.md §2 C1–C5) is replaced wholesale by Spark's
  * DAGScheduler + shuffle service + lineage recovery. The plan of [[run]]
  * is map → value-list combiner → one shuffle → merge + reduce: `map`
  * runs inside a `mapPartitions` that gathers each task's values per key
  * into one `(key, values)` row, the one hash repartition on the key
  * column is the `mr-{m}-{r}.txt` exchange (`numPartitions` = the
  * reference's `reduce_n`), and `mapGroups` on that same column is the
  * reduce phase — grouped on the partitioning column, so no second
  * exchange is planned.
  *
  * The reference has no combiner: every `(word,"1")` pair crosses its
  * shuffle (`src/app/wc.rs:11`). The value-list combiner groups values
  * without reducing them, so it is exact for any reduce, yet sends one row
  * per (map task, key) instead of one per pair.
  *
  * Note: the reference loses the lexicographically-last group of every
  * reduce partition (`src/mr/worker.rs:169-184` never flushes the final
  * group). We intentionally do NOT replicate that bug (SURVEY.md §2 O8).
  */
object MapReduceJob {

  /** Most values one map task's combiner holds before it flushes its rows
    * and starts again; bounds its memory whatever the key skew. */
  private[graft] val CombinerValues = 1 << 20

  /** Faithful general form: arbitrary reduce over the full value list per
    * key. Each map task sends one `(key, values)` row per key (per flush)
    * through one shuffle into `numPartitions` reduce partitions, where the
    * lists are merged. `reduce` sees every value exactly once, in
    * unspecified order, like the reference's post-sort grouping, which
    * ordered keys but not values.
    */
  def run(spark: SparkSession,
          input: Dataset[String],
          map: String => Seq[(String, String)],
          reduce: (String, Seq[String]) => String,
          numPartitions: Int): Dataset[(String, String)] = {
    import spark.implicits._
    input
      .mapPartitions(lines => combine(lines.flatMap(map)))
      .repartition(numPartitions, $"_1")
      .groupBy($"_1").as[String, (String, Array[String])]
      .mapGroups((k, lists) => (k, reduce(k, ArraySeq.from(lists.flatMap(_._2)))))
  }

  /** Hadoop's combiner contract (it may run 0..n times per key): values
    * are gathered per key until [[CombinerValues]] are held, then every
    * gathered list is emitted and gathering starts again. */
  private def combine(pairs: Iterator[(String, String)]): Iterator[(String, Array[String])] =
    Iterator.continually {
      val lists = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
      var held = 0
      while (held < CombinerValues && pairs.hasNext) {
        val (k, v) = pairs.next()
        lists.getOrElseUpdate(k, new mutable.ArrayBuffer[String](1)) += v
        held += 1
      }
      lists
    }.takeWhile(_.nonEmpty).flatMap(_.iterator.map { case (k, vs) => (k, vs.toArray) })

  /** The reference's only application: word count (`src/app/wc.rs`).
    * Emits `(token, "1")` per token of the shared tokenizer kernel (the
    * one behind `TextFunctions.tokens`), reduce = count of values.
    */
  def wordCountMap(line: String): Seq[(String, String)] =
    ArraySeq.unsafeWrapArray(TokenizerKernel.tokens(line)).map(w => (w, "1"))

  def wordCountReduce(@unused key: String, values: Seq[String]): String =
    values.size.toString
}
