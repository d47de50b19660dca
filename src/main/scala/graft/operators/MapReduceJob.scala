package graft.operators

import scala.annotation.unused
import scala.collection.immutable.ArraySeq

import org.apache.spark.{Aggregator, TaskContext}
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
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
  * reference's `reduce_n`), and a second `mapPartitions` is the reduce
  * phase: it merges each reduce partition's rows by key in the same table
  * and calls `reduce` once per key. No sort or second exchange is planned.
  *
  * The reference has no combiner: every `(word,"1")` pair crosses its
  * shuffle (`src/app/wc.rs:11`). The value-run combiner groups values
  * without reducing them, so it is exact for any reduce, yet sends one row
  * per (map task, key) instead of one per pair. Within a row, each run of
  * equal values is stored once with its repeat count, so word count ships
  * one `("1", n)` run per row instead of n copies of `"1"`. The combiner
  * is one flat open-addressing table per task ([[Combiner]]) holding
  * each key's last run inline, so a key whose values never change (word
  * count's `"1"`) costs one table entry and no list.
  *
  * Note: the reference loses the lexicographically-last group of every
  * reduce partition (`src/mr/worker.rs:169-184` never flushes the final
  * group). We intentionally do NOT replicate that bug (SURVEY.md §2 O8).
  */
object MapReduceJob {

  /** Most values one map task's combiner holds before it flushes its rows
    * and starts again, and most runs one reduce task's merge holds before
    * it moves them into Spark's spilling map; bounds their memory whatever
    * the key skew. The same bound caps the distinct words
    * `WordCount.over`'s map-side counter and merge hold. */
  private[graft] val CombinerValues = 1 << 20

  /** Faithful general form: arbitrary reduce over the full value list per
    * key. Each map task sends one `(key, values, counts)` row per key (per
    * flush) through one shuffle into `numPartitions` reduce partitions,
    * where the runs are merged ([[merge]]). `reduce` sees every value
    * exactly once, in unspecified order, like the reference's post-sort
    * grouping, which ordered keys but not values, through an `IndexedSeq`
    * view of the runs ([[ValueRuns]]): its `size` costs O(runs), not
    * O(values). Keys come out in no particular order. `spark` is kept for
    * the signature's sake; the plan needs no session implicits.
    */
  def run(spark: SparkSession,
          input: Dataset[String],
          map: String => Seq[(String, String)],
          reduce: (String, Seq[String]) => String,
          numPartitions: Int): Dataset[(String, String)] =
    run(spark, input, map, reduce, numPartitions, CombinerValues)

  /** [[run]] whose reduce-side merge moves its runs into Spark's spilling
    * map whenever it holds `heldRuns` runs. */
  private[graft] def run(@unused spark: SparkSession,
                         input: Dataset[String],
                         map: String => Seq[(String, String)],
                         reduce: (String, Seq[String]) => String,
                         numPartitions: Int,
                         heldRuns: Int): Dataset[(String, String)] =
    input
      .mapPartitions(lines => combine(lines.flatMap(map)))
      .repartition(numPartitions, col("_1"))
      .mapPartitions(rows => merge(rows, heldRuns).map { case (k, vs, ns) =>
        (k, reduce(k, ValueRuns(k, vs, ns)))
      })

  // built once, not derived through `spark.implicits._` on every call
  private implicit val runRowEncoder: Encoder[(String, Array[String], Array[Int])] =
    Encoders.product
  private implicit val resultEncoder: Encoder[(String, String)] = Encoders.product

  /** Hadoop's combiner contract (it may run 0..n times per key): values
    * are gathered per key in a [[Combiner]] until `heldValues` values are
    * held, then every key's runs are emitted and gathering starts again. */
  private[graft] def combine(pairs: Iterator[(String, String)],
                             heldValues: Int = CombinerValues)
      : Iterator[(String, Array[String], Array[Int])] = {
    val table = new Combiner
    batches(table) {
      while (table.values < heldValues && pairs.hasNext) {
        val (k, v) = pairs.next()
        table.add(k, v, 1)
      }
    }
  }

  /** The reduce side: one `(key, values, counts)` row per distinct key of
    * `rows`, holding all of that key's runs. Rows are merged by key in a
    * [[Combiner]]; if the input holds more than `heldRuns` runs, the table
    * is emptied in batches of that many into Spark's spilling
    * `ExternalAppendOnlyMap` (`Aggregator.combineCombinersByKey`), which
    * joins each key's runs in bounded memory. */
  private def merge(rows: Iterator[(String, Array[String], Array[Int])], heldRuns: Int)
      : Iterator[(String, Array[String], Array[Int])] = {
    val table = new Combiner
    val merged = batches(table) {
      while (table.runs < heldRuns && rows.hasNext) table.add(rows.next())
    }
    // the first batch is filled on the first hasNext; if it took every
    // row, it holds every key once
    if (!merged.hasNext || !rows.hasNext) merged
    else
      runsByKey.combineCombinersByKey(merged.map { case (k, vs, ns) => (k, (vs, ns)) },
        TaskContext.get()).map { case (k, (vs, ns)) => (k, vs, ns) }
  }

  /** Joins one key's runs from several batches of [[merge]]. */
  private val runsByKey = {
    type ValuesCounts = (Array[String], Array[Int])
    val join: (ValuesCounts, ValuesCounts) => ValuesCounts = (a, b) => (a._1 ++ b._1, a._2 ++ b._2)
    Aggregator[String, ValuesCounts, ValuesCounts](identity, join, join)
  }

  /** `table`'s rows, batch after batch: each batch empties the table and
    * refills it by `fill`. The next batch is filled only once the last
    * batch's rows are all out, so refilling the one table is safe. Ends at
    * the first empty batch. */
  private def batches(table: Combiner)(fill: => Unit)
      : Iterator[(String, Array[String], Array[Int])] =
    Iterator.continually { table.clear(); fill; table.size }
      .takeWhile(_ > 0).flatMap(Iterator.tabulate(_)(table.row))

  /** One task's values per key, as runs of equal neighbours, in one
    * open-addressing table keyed by the key string: a map task's combiner
    * and a reduce task's merge. An entry holds its key, the key's hash and
    * its last run (value, repeat count) inline; only a key whose
    * neighbouring values differ keeps its earlier runs, in an overflow
    * list. */
  private final class Combiner {
    private var slots = new Array[Int](1024) // entry index + 1; 0 = empty
    private var keys = new Array[String](512)
    private var hashes = new Array[Int](512)
    private var lastValues = new Array[String](512)
    private var lastCounts = new Array[Int](512)
    private var earlier = new Array[Runs](512) // null while one run
    private var held = 0
    private var valuesHeld = 0L
    private var runsHeld = 0

    /** Distinct keys held. */
    def size: Int = held

    /** Values held, over all keys. */
    def values: Long = valuesHeld

    /** Runs held, over all keys. */
    def runs: Int = runsHeld

    /** Adds every run of one `(key, values, counts)` row. */
    def add(row: (String, Array[String], Array[Int])): Unit = {
      val (k, vs, ns) = row
      var r = 0
      while (r < vs.length) { add(k, vs(r), ns(r)); r += 1 }
    }

    /** Adds `n` copies of `v` under `k`, extending `k`'s last run if it
      * holds `v` and the sum still fits its count. */
    def add(k: String, v: String, n: Int): Unit = {
      var h = k.hashCode // murmur3's finalizer spreads String's hash
      h ^= h >>> 16; h *= 0x85EBCA6B; h ^= h >>> 13; h *= 0xC2B2AE35; h ^= h >>> 16
      val mask = slots.length - 1
      var i = h & mask
      var e = slots(i) - 1
      while (e >= 0 && !(hashes(e) == h && keys(e) == k)) {
        i = (i + 1) & mask
        e = slots(i) - 1
      }
      valuesHeld += n
      if (e < 0) {
        if (held == keys.length) grow()
        keys(held) = k; hashes(held) = h; lastValues(held) = v; lastCounts(held) = n
        held += 1
        runsHeld += 1
        slots(i) = held
        if (2 * held > slots.length)
          slots = graft.functions.TokenCounter.slots(hashes, held, slots.length * 2)
      } else if (lastValues(e) == v && lastCounts(e) <= Int.MaxValue - n) lastCounts(e) += n
      else {
        if (earlier(e) == null) earlier(e) = new Runs
        earlier(e).add(lastValues(e), lastCounts(e))
        lastValues(e) = v; lastCounts(e) = n
        runsHeld += 1
      }
    }

    private def grow(): Unit = {
      keys = java.util.Arrays.copyOf(keys, held * 2)
      hashes = java.util.Arrays.copyOf(hashes, held * 2)
      lastValues = java.util.Arrays.copyOf(lastValues, held * 2)
      lastCounts = java.util.Arrays.copyOf(lastCounts, held * 2)
      earlier = java.util.Arrays.copyOf(earlier, held * 2)
    }

    /** Entry `e`'s `(key, values, counts)` row: its earlier runs, then its
      * last run. */
    def row(e: Int): (String, Array[String], Array[Int]) = {
      val r = earlier(e)
      if (r == null) (keys(e), Array(lastValues(e)), Array(lastCounts(e)))
      else {
        val vs = java.util.Arrays.copyOf(r.values, r.n + 1)
        val ns = java.util.Arrays.copyOf(r.counts, r.n + 1)
        vs(r.n) = lastValues(e); ns(r.n) = lastCounts(e)
        (keys(e), vs, ns)
      }
    }

    /** Empties the table, keeping its capacity. */
    def clear(): Unit = {
      if (held > 0) {
        java.util.Arrays.fill(slots, 0)
        java.util.Arrays.fill(keys.asInstanceOf[Array[AnyRef]], 0, held, null)
        java.util.Arrays.fill(lastValues.asInstanceOf[Array[AnyRef]], 0, held, null)
        java.util.Arrays.fill(earlier.asInstanceOf[Array[AnyRef]], 0, held, null)
      }
      held = 0
      valuesHeld = 0
      runsHeld = 0
    }
  }

  /** A key's earlier runs: `values(r)` repeated `counts(r)` times. */
  private final class Runs {
    var values = new Array[String](2)
    var counts = new Array[Int](2)
    var n = 0

    def add(v: String, count: Int): Unit = {
      if (n == values.length) {
        values = java.util.Arrays.copyOf(values, n * 2)
        counts = java.util.Arrays.copyOf(counts, n * 2)
      }
      values(n) = v; counts(n) = count; n += 1
    }
  }

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
