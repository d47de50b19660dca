package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions._

/** Word count — the reference's one and only query (reference
  * `src/app/wc.rs`), as a declarative DataFrame pipeline:
  *
  *   scan → tokens (O3 strip punct + O4 whitespace split, one native
  *          kernel pass) → explode → groupBy.count (O5–O10) → orderBy (O12)
  *   — SURVEY.md §2 operator numbering.
  *
  * Catalyst/Tungsten give what the reference lacks: partial (map-side)
  * aggregation before the shuffle, hash aggregation with spill, range-
  * partitioned global sort, whole-stage codegen. The per-word cardinality
  * is bounded by vocabulary size, so the final agg state is tiny no matter
  * the input size — this exact plan runs unchanged at 100 TB.
  */
object WordCount {

  /** Word count over any string column. */
  def over(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
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
