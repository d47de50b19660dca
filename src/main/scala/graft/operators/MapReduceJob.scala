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
  * is map → value-run combiner → one shuffle → merge + reduce: `map`
  * runs inside a `mapPartitions` that gathers each task's values per key
  * into one `(key, values, counts)` row, the one hash repartition on the
  * key column is the `mr-{m}-{r}.txt` exchange (`numPartitions` = the
  * reference's `reduce_n`), and `mapGroups` on that same column is the
  * reduce phase — grouped on the partitioning column, so no second
  * exchange is planned.
  *
  * The reference has no combiner: every `(word,"1")` pair crosses its
  * shuffle (`src/app/wc.rs:11`). The value-run combiner groups values
  * without reducing them, so it is exact for any reduce, yet sends one row
  * per (map task, key) instead of one per pair. Within a row, each run of
  * equal values is stored once with its repeat count, so word count ships
  * one `("1", n)` run per row instead of n copies of `"1"`.
  *
  * Note: the reference loses the lexicographically-last group of every
  * reduce partition (`src/mr/worker.rs:169-184` never flushes the final
  * group). We intentionally do NOT replicate that bug (SURVEY.md §2 O8).
  */
object MapReduceJob {

  /** Most values one map task's combiner holds before it flushes its rows
    * and starts again; bounds its memory whatever the key skew. The same
    * bound caps the distinct tokens `WordCount.over`'s map-side counter
    * holds. */
  private[graft] val CombinerValues = 1 << 20

  /** Faithful general form: arbitrary reduce over the full value list per
    * key. Each map task sends one `(key, values, counts)` row per key (per
    * flush) through one shuffle into `numPartitions` reduce partitions,
    * where the runs are merged. `reduce` sees every value exactly once, in
    * unspecified order, like the reference's post-sort grouping, which
    * ordered keys but not values, through an `IndexedSeq` view of the runs
    * ([[ValueRuns]]): its `size` costs O(runs), not O(values).
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
      .groupBy($"_1").as[String, (String, Array[String], Array[Int])]
      .mapGroups { (k, rows) =>
        val values = mutable.ArrayBuilder.make[String]
        val counts = mutable.ArrayBuilder.make[Int]
        rows.foreach { case (_, vs, ns) => values ++= vs; counts ++= ns }
        (k, reduce(k, ValueRuns(k, values.result(), counts.result())))
      }
  }

  /** One key's values as runs: `values(r)` repeated `counts(r)` times. */
  private final class Runs {
    var values = new Array[String](1)
    var counts = new Array[Int](1)
    var n = 0

    def add(v: String): Unit =
      if (n > 0 && values(n - 1) == v) counts(n - 1) += 1
      else {
        if (n == values.length) {
          values = java.util.Arrays.copyOf(values, n * 2)
          counts = java.util.Arrays.copyOf(counts, n * 2)
        }
        values(n) = v; counts(n) = 1; n += 1
      }
  }

  /** Hadoop's combiner contract (it may run 0..n times per key): values
    * are gathered per key, equal neighbours as one run, until
    * [[CombinerValues]] values are held, then every key's runs are
    * emitted and gathering starts again. */
  private[graft] def combine(pairs: Iterator[(String, String)])
      : Iterator[(String, Array[String], Array[Int])] =
    Iterator.continually {
      val lists = mutable.HashMap.empty[String, Runs]
      var held = 0
      while (held < CombinerValues && pairs.hasNext) {
        val (k, v) = pairs.next()
        lists.getOrElseUpdate(k, new Runs).add(v)
        held += 1
      }
      lists
    }.takeWhile(_.nonEmpty).flatMap(_.iterator.map { case (k, r) =>
      (k, java.util.Arrays.copyOf(r.values, r.n), java.util.Arrays.copyOf(r.counts, r.n))
    })

  /** The values of `key` as one `IndexedSeq`: run `r` is `values(r)`
    * repeated `counts(r)` times. Its length is summed once, so `size` is
    * O(runs); `apply` is a binary search over the run ends and `iterator`
    * walks the runs. Fails loudly if the key holds more values than an
    * `IndexedSeq` can index. */
  private[graft] final class ValueRuns private (values: Array[String], ends: Array[Int])
      extends scala.collection.immutable.AbstractSeq[String]
      with scala.collection.immutable.IndexedSeq[String] {
    override def length: Int = if (ends.isEmpty) 0 else ends(ends.length - 1)

    override def apply(i: Int): String = {
      if (i < 0 || i >= length) throw new IndexOutOfBoundsException(s"$i of $length")
      var lo = 0
      var hi = ends.length - 1
      while (lo < hi) { // first run whose end is past i
        val mid = (lo + hi) >>> 1
        if (ends(mid) > i) hi = mid else lo = mid + 1
      }
      values(lo)
    }

    override def iterator: Iterator[String] =
      values.indices.iterator.flatMap { r =>
        Iterator.fill(ends(r) - (if (r == 0) 0 else ends(r - 1)))(values(r))
      }
  }

  private[graft] object ValueRuns {
    def apply(key: String, values: Array[String], counts: Array[Int]): ValueRuns = {
      val ends = new Array[Int](counts.length)
      var total = 0L
      var r = 0
      while (r < counts.length) {
        total += counts(r)
        require(total <= Int.MaxValue,
          s"key '$key' has more than Int.MaxValue (${Int.MaxValue}) values, " +
            "more than one reduce call's IndexedSeq can hold")
        ends(r) = total.toInt
        r += 1
      }
      new ValueRuns(values, ends)
    }
  }

  /** The reference's only application: word count (`src/app/wc.rs`).
    * Emits `(token, "1")` per token of the shared tokenizer kernel (the
    * one behind `TextFunctions.tokens`; its char path, straight from the
    * line's UTF-16 chars), reduce = count of values.
    */
  def wordCountMap(line: String): Seq[(String, String)] =
    ArraySeq.unsafeWrapArray(TokenizerKernel.tokens(line)).map(w => (w, "1"))

  def wordCountReduce(@unused key: String, values: Seq[String]): String =
    values.size.toString
}
