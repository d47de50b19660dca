package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge

/** Column-level text helpers shared by word count, dedup and text-analysis
  * packs. No Scala UDFs: [[tokens]] is the codegen-native [[Tokens]]
  * expression over the one tokenizer kernel ([[TokenizerKernel]]), the
  * rest are built from codegen'd `org.apache.spark.sql.functions`, so all
  * stay inside whole-stage codegen and are portable to the DuckDB oracle
  * SQL.
  *
  * The DuckDB mirrors live here too, one `<fn>Sql` beside each function
  * an oracle reproduces ([[stripPunctSql]], [[whitespaceSplitSql]],
  * [[tokensSql]], [[hex64Sql]]): each takes a SQL expression and returns
  * SQL text. Oracles spell the tokenizer and the 60-bit hash only through
  * them (`scripts/preflight.sh` fails on an inline copy).
  */
object TextFunctions {

  /** Reference tokenization, step 1: strip every char that is neither
    * word-char nor whitespace (reference `src/app/wc.rs:7-8`,
    * `Regex::new(r"[^\w\s]")`). Rust `\w` is Unicode-aware, so Java regex
    * needs `(?U)` (`UNICODE_CHARACTER_CLASS`) for the same classes —
    * without it `é`/`à` would be stripped too (SURVEY.md §2 O3).
    */
  def stripPunct(c: Column): Column =
    regexp_replace(c, "(?U)[^\\w\\s]", "")

  /** DuckDB mirror of [[stripPunct]]. */
  def stripPunctSql(c: String): String = s"regexp_replace($c, '[^\\w\\s]', '', 'g')"

  /** Reference tokenization, step 2: split on whitespace runs with no empty
    * tokens (reference `src/app/wc.rs:9-12`, `split_whitespace`).
    * Returns `array<string>` (possibly with one empty string for
    * leading/trailing whitespace — callers filter, as `explode`d queries
    * drop `w <> ''`).
    */
  def whitespaceSplit(c: Column): Column =
    filter(split(c, "(?U)\\s+"), w => length(w) > 0)

  /** DuckDB mirror of [[whitespaceSplit]]. */
  def whitespaceSplitSql(c: String): String =
    s"list_filter(string_split_regex($c, '\\s+'), w -> w <> '')"

  /** Full reference token stream — `whitespaceSplit(stripPunct(c))` in one
    * pass: the [[Tokens]] expression over [[TokenizerKernel]], whose
    * classes are built from the same `(?U)` patterns, so the two agree on
    * every input (`TokenizerSpec`). No case folding — `The` and `the` stay
    * distinct keys, as in the reference.
    */
  def tokens(c: Column): Column =
    GraftSqlBridge.column(Tokens(GraftSqlBridge.expression(c)))

  /** DuckDB mirror of [[tokens]]: `array<varchar>` of the reference
    * tokens. DuckDB's RE2 `\w`/`\s` are ASCII-only where [[tokens]] is
    * Unicode-aware, so this is the one place the oracles' ASCII-corpus
    * assumption lives (see [[graft.core.QueryPack]]).
    */
  def tokensSql(c: String): String = whitespaceSplitSql(stripPunctSql(c))

  /** Distinct token set (for Jaccard / MinHash over unigram sets). */
  def tokenSet(c: Column): Column = array_distinct(tokens(c))

  /** First 15 hex chars of an md5-hex column → int64 (60 bits). The
    * engine-portable string→fixed-width-id hash: DuckDB mirrors it as
    * [[hex64Sql]], so derived joins
    * and counts are identical by construction on both sides (even a
    * collision collides identically). Used to shrink shuffle payloads:
    * joining/intersecting 8-byte ids beats variable-length strings.
    */
  def hex64(md5Hex: Column): Column =
    conv(substring(md5Hex, 1, 15), 16, 10).cast("long")

  /** DuckDB mirror of [[hex64]]. */
  def hex64Sql(md5Hex: String): String =
    s"CAST('0x' || substring($md5Hex, 1, 15) AS BIGINT)"

  /** Word k-shingles: array of the k-grams of the token stream, joined with
    * a single space. Empty array when the doc has fewer than k tokens.
    */
  def wordShingles(c: Column, k: Int): Column = wordShinglesOf(tokens(c), k)

  /** As [[wordShingles]] but over an already-computed token array column.
    * Per position the k tokens are fetched with O(1) `element_at`s —
    * measured ~2× over the `slice`+`concat_ws` formulation, whose per-
    * shingle array allocation dominated the q43 build.
    */
  def wordShinglesOf(toks: Column, k: Int): Column = {
    val n = size(toks)
    when(n < k, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), n - k), i =>
        concat_ws(" ", (1 to k).map(o => element_at(toks, i + lit(o))): _*)))
  }
}
