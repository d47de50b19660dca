package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named bundle of registered queries plus their DuckDB oracle SQL.
  *
  * Contract (driver-enforced, see SparkEntry): for every key in `queries`
  * there SHOULD be a key in `oracle` with ANSI SQL that DuckDB can run over
  * the same parquet tables and that produces the identical result (same
  * column names, same values, same row order). Queries without an oracle get
  * a weaker rows-only check — keep those to the genuinely
  * non-SQL-expressible ops.
  *
  * Determinism rules every query here follows:
  *   - a total ORDER BY on the output (stable, null-free keys);
  *   - DOUBLE measures are cast to DECIMAL(18,2) *before* aggregation so the
  *     sum is exact and order-independent, then cast back to DOUBLE in the
  *     final projection (both engines do the identical decimal arithmetic);
  *   - every computed column is aliased identically on both sides.
  *
  * Oracle-layer tokenization caveat: Spark-side text queries tokenize with
  * Unicode-aware regex classes (`(?U)\w\s`, matching the reference's Rust
  * `\w`), while DuckDB's RE2 `\w`/`\s` are ASCII-only — the one place the
  * oracles spell that tokenizer is
  * [[graft.functions.TextFunctions.tokensSql]] — and the multimodal
  * oracles assume byte==char lengths. Oracle hash-parity for the text/dedup/
  * multimodal packs therefore ASSUMES AN ASCII CORPUS — verified true for
  * every driver-generated `documents.parquet` (0 non-ASCII rows at sf0.001/
  * 0.01/0.1). On a non-ASCII corpus the Spark side remains the intended
  * (reference-faithful) semantics; only the DuckDB mirror would diverge.
  *
  * Queries pin their intermediates through [[Pin]] (`warmed`,
  * `materialized`, `checkpointed`), imported by each pack.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

object QueryPack {
  /** Plan-dump escape hatch (see `graft.tools.DumpPlans`): checkpoints
    * truncate the explainable plan to a bare RDD scan, so the dump tool
    * flips this to see the full pipeline each query actually builds.
    * Never set during Bench/Verify runs.
    */
  @volatile var planDumpMode: Boolean = false
}
