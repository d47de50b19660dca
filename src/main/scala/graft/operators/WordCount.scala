package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import graft.core.Tables
import graft.functions.TokenCounts

/** Word count — the reference's one and only query (reference
  * `src/app/wc.rs`), as a declarative DataFrame pipeline:
  *
  *   scan → token counts (O3 strip punct + O4 whitespace split, one native
  *          kernel pass, combined per map task) → groupBy.sum (O5–O10)
  *   → orderBy (O12) — SURVEY.md §2 operator numbering.
  *
  * Map-side combining comes first: the [[TokenCounts]] generator counts
  * each task's tokens in one table keyed by their UTF-8 bytes and emits
  * one `(word, cnt)` row per distinct token, so no row per token is ever
  * built. Spark's partial aggregate then sums those few rows before the
  * shuffle, and the final aggregate after it. Catalyst/Tungsten add what
  * the reference lacks: hash aggregation with spill, range-partitioned
  * global sort, whole-stage codegen. The per-word cardinality is bounded
  * by vocabulary size, so the agg state is tiny no matter the input size.
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
      .orderBy("word")

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
