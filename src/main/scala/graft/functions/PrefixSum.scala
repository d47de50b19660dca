package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin.materialized

/** Distributed inclusive prefix sum — the classic two-phase parallel
  * scan (Blelloch, "Prefix sums and their applications", CMU-CS-90-190)
  * expressed in DataFrame operators.
  *
  * A global running total is the textbook window
  * (`sum(x) OVER (ORDER BY k)`), but a window with no PARTITION BY
  * collapses the whole input into ONE task — the single-partition sort
  * that kills a 100M-row vocabulary scan at cluster scale. The
  * two-phase shape keeps every stage parallel:
  *
  *   1. range-partition by the order keys (partition ids come out in
  *      key order, equal keys co-located);
  *   2. per-partition running sums via a window PARTITIONed on
  *      `spark_partition_id()` — parallel across partitions;
  *   3. per-partition totals (a numPartitions-row frame) get their own
  *      tiny exclusive scan and are broadcast back as offsets.
  *
  * Order keys MUST be a total order (include a unique tiebreak column)
  * — ties spanning a rows-frame make any running sum nondeterministic,
  * here and in the single-partition window alike.
  *
  * Every scan freezes its pid-stamped range-partitioned frame with an
  * EAGER [[graft.core.Pin.materialized]] before anything consumes it.
  * The phase-1 window and the phase-3 offset join both read the `__pid` column; if
  * the range exchange is ever materialized twice (exchange reuse can
  * fail across plan branches, and AQE may coalesce post-shuffle
  * partitions per stage), the two materializations can SAMPLE
  * DIFFERENT range boundaries — the offsets then describe a pid layout
  * the window rows don't have, silently corrupting the running sums
  * (caught by q264's sf0.1 gate; plain reruns pass, so the corruption is
  * plan-shape-dependent). Checkpointing stamps the pids once and every
  * consumer reads the same stored blocks; planDumpMode keeps the dump
  * tool's lineage view.
  */
object PrefixSum {

  /** Appends one inclusive-running-sum column per `(value, outName)`
    * pair, ordered by `order`. Values should be integral types —
    * integer addition is associative, so the two-phase regrouping is
    * exact (doubles would change addition order vs a sequential scan).
    */
  def inclusive(df: DataFrame, order: Seq[Column],
                values: Seq[(Column, String)]): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = materialized(df.repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id()))
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = values.foldLeft(ranged) { case (acc, (v, name)) =>
      acc.withColumn(name, sum(v).over(w))
    }
    // phase 2: per-partition totals — numPartitions rows, so the
    // single-partition exclusive scan over THEM is trivially cheap.
    // pmod(__pid, 1) is constantly 0 — the same single group — but,
    // unlike a literal, survives constant folding, so WindowExec's
    // "No Partition Defined" WARN (aimed at ROW-scale frames; this one
    // is numPartitions rows by construction) stays silent.
    val offW = Window.partitionBy(pmod(col("__pid"), lit(1)))
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tots = values.map { case (_, name) => max(col(name)).as(s"__tot_$name") }
    val offsets = local.groupBy(col("__pid")).agg(tots.head, tots.tail: _*)
    val withOff = values.foldLeft(offsets) { case (acc, (_, name)) =>
      acc.withColumn(s"__off_$name",
        coalesce(sum(col(s"__tot_$name")).over(offW), lit(0L)))
    }.select(col("__pid") +: values.map { case (_, name) => col(s"__off_$name") }: _*)
    val joined = local.join(broadcast(withOff), "__pid")
    values.foldLeft(joined) { case (acc, (_, name)) =>
      acc.withColumn(name, col(name) + col(s"__off_$name"))
    }.drop("__pid" +: values.map { case (_, name) => s"__off_$name" }: _*)
  }

  /** Per-key inclusive running sums — the keyed analogue of [[inclusive]]
    * for the `sum(x) OVER (PARTITION BY key ORDER BY k)` shape whose key
    * has FEW distinct values over MANY rows (per-source cumsums at corpus
    * scale: ~5 sources × 20 M docs each). The naive window funnels one
    * key's entire row set through a single task; here every stage stays
    * parallel:
    *
    *   1. range-partition by (keys ++ order) — each partition holds a
    *      contiguous slice of one or more (key, order) runs;
    *   2. per-partition running sums via a window PARTITIONed on
    *      `(spark_partition_id(), keys)` — row-scale work, but bounded by
    *      the partition size, never by a key's corpus share;
    *   3. per-(partition, key) subtotals — a (numPartitions × keys-present)
    *      row frame — get a per-key exclusive scan over partition id
    *      (bounded by numPartitions rows per key) and broadcast back as
    *      offsets.
    *
    * `order` must totally order rows WITHIN each key (unique tiebreak).
    * Values must be non-negative integrals: phase 3 recovers each
    * partition's subtotal as `max(running)`, exact only when the running
    * sum is monotone (true for counts/sizes, the only callers).
    */
  /** Distributed EXCLUSIVE running maximum over a total order — the max
    * monoid run through the same two-phase scan as [[inclusive]]. A
    * `max(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)`
    * with no PARTITION BY funnels the input through one task; here the
    * shape is the same three parallel stages, and max being associative
    * AND idempotent makes phase 2 even simpler than the sum's: a
    * partition's contribution to later partitions is just its raw max,
    * and offsets combine with the local scan via `greatest`.
    *
    * Appends `outName` = max of `value` over all STRICTLY preceding rows
    * in `order` (which must be a total order — include a unique
    * tiebreak), with `neutral` for the globally first row. `value` must
    * be an integral type.
    */
  def exclusiveMax(df: DataFrame, order: Seq[Column], value: Column,
                   outName: String, neutral: Long): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = materialized(df.repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id()))
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged.withColumn(outName,
      coalesce(max(value).over(w), lit(neutral)))
    // phase 2: per-partition RAW maxima (idempotence: no running form
    // needed) get their own tiny exclusive max-scan over the pid frame
    // (pmod(__pid, 1): same single group, fold-proof, no WindowExec
    // WARN — see [[inclusive]])
    val offW = Window.partitionBy(pmod(col("__pid"), lit(1)))
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid")).agg(max(value).as("__tot"))
      .withColumn("__off", coalesce(max(col("__tot")).over(offW), lit(neutral)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), "__pid")
      .withColumn(outName, greatest(col(outName), col("__off")))
      .drop("__pid", "__off")
  }

  /** Distributed DENSE RANK over `keys` — `dense_rank() OVER (ORDER BY
    * keys)` without the single-task window OR the distinct-keys +
    * join-back detour: ONE range partition by (keys ++ tiebreak) does
    * everything, because a range partitioner assigns EQUAL keys to the
    * SAME partition — so "first row of its key group" is decidable
    * locally (a lag over the pid window), the dense rank is the running
    * sum of those new-key flags, and the cross-partition offsets are
    * the same numPartitions-row broadcast scan as [[inclusive]]. Three
    * shuffles collapse to one per call vs distinct → scan → join-back
    * (the q453 doubling rounds are 7 calls deep; this fusion plus its
    * caller's lead-window pairing and unpinned lift chain measured
    * 9.0 s → ~5.7 s steady at sf0.1). Range partitioning is by KEY, so
    * one pathologically hot key serializes in one partition — callers
    * with zipfian keys keep that bounded by ranking (key, payload)
    * tuples whose payload spreads the tie (here: q453's ranks are
    * per-position, groups shrink geometrically after round 1).
    *
    * `keys ++ tiebreak` must be a total order; rows with equal `keys`
    * get equal rank, ranks are consecutive from 1. */
  def denseRank(df: DataFrame, keys: Seq[Column], tiebreak: Seq[Column],
                outName: String): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val order = keys ++ tiebreak
    // range-partition by the KEYS ALONE: a range partitioner maps equal
    // values to one partition index, so no key group ever straddles a
    // boundary — including the tiebreak here would split groups by
    // tiebreak and double-count their partition-first rows
    val ranged = materialized(df.repartitionByRange(n, keys: _*)
      .withColumn("__pid", spark_partition_id()))
    val keyStruct = struct(keys: _*)
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged
      .withColumn("__new",
        when(lag(keyStruct, 1).over(w).isNull ||
          lag(keyStruct, 1).over(w) =!= keyStruct, 1L).otherwise(0L))
      .withColumn(outName, sum(col("__new")).over(wSum))
    val offW = Window.partitionBy(pmod(col("__pid"), lit(1)))
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid")).agg(max(col(outName)).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(offW), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), "__pid")
      .withColumn(outName, col(outName) + col("__off"))
      .drop("__pid", "__off", "__new")
  }

  def inclusivePerKey(df: DataFrame, keys: Seq[String], order: Seq[Column],
                      values: Seq[(Column, String)]): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = materialized(df.repartitionByRange(n, keys.map(col) ++ order: _*)
      .withColumn("__pid", spark_partition_id()))
    val w = Window.partitionBy(col("__pid") +: keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = values.foldLeft(ranged) { case (acc, (v, name)) =>
      acc.withColumn(name, sum(v).over(w))
    }
    // per-key exclusive scan over the tiny subtotal frame: partitioned by
    // the key (so each key's offsets chain independently), ordered by
    // partition id — numPartitions rows per key, never row-scale
    val offW = Window.partitionBy(keys.map(col): _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tots = values.map { case (_, name) => max(col(name)).as(s"__tot_$name") }
    val offsets = local.groupBy(col("__pid") +: keys.map(col): _*)
      .agg(tots.head, tots.tail: _*)
    val withOff = values.foldLeft(offsets) { case (acc, (_, name)) =>
      acc.withColumn(s"__off_$name",
        coalesce(sum(col(s"__tot_$name")).over(offW), lit(0L)))
    }.select((col("__pid") +: keys.map(col)) ++
      values.map { case (_, name) => col(s"__off_$name") }: _*)
    val joined = local.join(broadcast(withOff), "__pid" +: keys)
    values.foldLeft(joined) { case (acc, (_, name)) =>
      acc.withColumn(name, col(name) + col(s"__off_$name"))
    }.drop("__pid" +: values.map { case (_, name) => s"__off_$name" }: _*)
  }
}
