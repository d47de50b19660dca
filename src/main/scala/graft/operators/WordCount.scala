package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.internal.SQLConf
import graft.core.Tables
import graft.functions.TokenCounts

/** Word count — the reference's one and only query (reference
  * `src/app/wc.rs`), as a declarative DataFrame pipeline:
  *
  *   scan → token counts (O3 strip punct + O4 whitespace split, one native
  *          kernel pass, combined per map task) → groupBy.sum (O5–O10)
  *   → sort by word (O12) — SURVEY.md §2 operator numbering.
  *
  * Map-side combining comes first: the [[TokenCounts]] generator counts
  * each task's tokens in one table keyed by their UTF-8 bytes and emits
  * one `(word, cnt)` row per distinct token, so no row per token is ever
  * built. Spark's partial aggregate then sums those few rows before the
  * shuffle, and the final aggregate after it. Catalyst/Tungsten add what
  * the reference lacks: hash aggregation with spill, range-partitioned
  * global sort, whole-stage codegen. The per-word cardinality is bounded
  * by vocabulary size, so the agg state is tiny no matter the input size.
  *
  * The global sort is one exchange whose width follows the input's bytes
  * ([[sortedByWord]]): one partition per advisory partition size, at most
  * the shuffle-partition count. An input below the advisory size is
  * sorted in one partition, so no range-sample job runs over the final
  * aggregate before it is shuffled.
  */
object WordCount {

  /** Word count over any string column: `word` (non-null string) and
    * `cnt` (non-null bigint), ordered by word. */
  def over(df: DataFrame, textCol: String): DataFrame =
    over(df, textCol, MapReduceJob.CombinerValues)

  /** [[over]] whose map-side counts are emitted early whenever a task
    * holds `heldKeys` distinct tokens. */
  private[graft] def over(df: DataFrame, textCol: String, heldKeys: Int): DataFrame =
    df.select(GraftSqlBridge.column(TokenCounts(GraftSqlBridge.expression(col(textCol)), heldKeys)))
      .groupBy("word")
      // every group sums at least one row, so the sum is never null; the
      // coalesce only states that in the schema, as count(1) did
      .agg(coalesce(sum("cnt"), lit(0L)).as("cnt"))
      .transform(sortedByWord(_, df))

  /** `result` totally ordered by its `word` column, through one range
    * exchange of ⌈`input` bytes / `spark.sql.adaptive.advisoryPartitionSizeInBytes`⌉
    * partitions, clamped to [1, `spark.sql.shuffle.partitions`]; an input
    * of unknown size gets the shuffle-partition count. At one partition
    * Spark plans `SinglePartition`, which samples nothing; at more it
    * range-partitions as `orderBy` does. */
  private[operators] def sortedByWord(result: DataFrame, input: Dataset[_]): DataFrame = {
    val conf = input.sparkSession.sessionState.conf
    val advisory = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val bytes = input.queryExecution.optimizedPlan.stats.sizeInBytes
    val width = ((bytes + advisory - 1) / advisory).min(conf.numShufflePartitions).max(1).toInt
    result.repartitionByRange(width, col("word")).sortWithinPartitions("word")
  }

  /** Driver-facing form: over the `documents.text` column. */
  def documentsWordCount(spark: SparkSession, dir: String): DataFrame =
    over(Tables.documents(spark, dir), "text")

  /** Parity form: over a directory of plain-text files (the gut corpus),
    * reference O1 `spark.read.text` — one row per line, which is
    * equivalent for wc because tokenization is line-local.
    */
  def overTextFiles(spark: SparkSession, path: String): DataFrame =
    over(spark.read.text(path), "value")
}
