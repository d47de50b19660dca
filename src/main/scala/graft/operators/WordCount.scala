package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.internal.SQLConf
import graft.core.Tables
import graft.functions.{TokenCountMerge, TokenCounts}

/** Word count — the reference's one and only query (reference
  * `src/app/wc.rs`), as a declarative DataFrame pipeline:
  *
  *   scan → token counts (O3 strip punct + O4 whitespace split, one native
  *          kernel pass, combined per map task) → one exchange → merge of
  *          the counts by word (O5–O10) → sort by word (O12) — SURVEY.md
  *          §2 operator numbering.
  *
  * Map-side combining comes first: the [[TokenCounts]] generator counts
  * each task's tokens in one table keyed by their UTF-8 bytes and emits
  * one `(word, cnt)` row per distinct token, so no row per token is ever
  * built. The per-word cardinality is bounded by vocabulary size, so what
  * crosses the shuffle is small no matter the input size.
  *
  * The final sort is as wide as the input's bytes ask ([[width]]): one
  * partition per advisory partition size, at most the shuffle-partition
  * count. At one partition, the usual case, the combined rows cross one
  * `SinglePartition` exchange, which samples nothing, into the
  * [[TokenCountMerge]] generator: the same table, summing counts instead
  * of tokens, so no Spark aggregate runs on either side of the shuffle.
  * Wider, Spark's partial and final aggregates sum the rows and
  * [[sortedByWord]] range-partitions them for the sort.
  */
object WordCount {

  /** Word count over any string column: `word` (non-null string) and
    * `cnt` (non-null bigint), ordered by word. */
  def over(df: DataFrame, textCol: String): DataFrame =
    over(df, textCol, MapReduceJob.CombinerValues)

  /** [[over]] whose map-side counts are emitted early whenever a task
    * holds `heldKeys` distinct tokens, and whose one-partition merge moves
    * its sums into Spark's spilling map whenever it holds `heldKeys`
    * distinct words. */
  private[graft] def over(df: DataFrame, textCol: String, heldKeys: Int): DataFrame = {
    val counts =
      df.select(GraftSqlBridge.column(TokenCounts(GraftSqlBridge.expression(col(textCol)), heldKeys)))
    width(df) match {
      case 1 =>
        counts.repartition(1)
          .select(GraftSqlBridge.column(TokenCountMerge(
            GraftSqlBridge.expression(col("word")), GraftSqlBridge.expression(col("cnt")), heldKeys)))
          .sortWithinPartitions("word")
      case n =>
        counts.groupBy("word")
          // every group sums at least one row, so the sum is never null;
          // the coalesce only states that in the schema, as count(1) did
          .agg(coalesce(sum("cnt"), lit(0L)).as("cnt"))
          .transform(sortedByWord(_, n))
    }
  }

  /** The width of a word count's sort over `input`: ⌈`input` bytes /
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`⌉ partitions,
    * clamped to [1, `spark.sql.shuffle.partitions`]; an input of unknown
    * size gets the shuffle-partition count. */
  private def width(input: Dataset[_]): Int = {
    val conf = input.sparkSession.sessionState.conf
    val advisory = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val bytes = input.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + advisory - 1) / advisory).min(conf.numShufflePartitions).max(1).toInt
  }

  /** `result` totally ordered by its `word` column, through one range
    * exchange as wide as [[width]] asks for `input`. At one partition
    * Spark plans `SinglePartition`, which samples nothing; at more it
    * range-partitions as `orderBy` does. */
  private[operators] def sortedByWord(result: DataFrame, input: Dataset[_]): DataFrame =
    sortedByWord(result, width(input))

  private def sortedByWord(result: DataFrame, width: Int): DataFrame =
    result.repartitionByRange(width, col("word")).sortWithinPartitions("word")

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
