package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.IntegerType

/** The literal-argument check of the native sketch builders' `fromExprs`:
  * [[BloomFilterAgg]] (`graft_bloom`), [[BloomMightContain]]
  * (`graft_bloom_might_contain`), [[CountMinSketchAgg]] (`graft_countmin`),
  * [[HyperLogLogAgg]] (`graft_hll`), [[QuantileSketchAgg]]
  * (`graft_quantiles`), [[SpaceSavingTopK]] (`graft_top_k_spacesaving`)
  * and [[TopKTokens]] (`graft_top_k_tokens`). Each builder passes its own
  * `usage` text, which names the function and its bounds; every rejection
  * is an analysis-time `IllegalArgumentException("<usage>, got <what>")`
  * instead of an opaque ClassCastException/NPE later.
  */
private[functions] final class SketchArgs(usage: String) {
  def fail(got: String): Nothing =
    throw new IllegalArgumentException(s"$usage, got $got")

  def arity(exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n) fail(s"${exprs.length} arguments")

  /** `e` as a foldable, non-null INT literal that satisfies `ok`. */
  def intLit(e: Expression, name: String, ok: Int => Boolean): Int = {
    if (!e.foldable) fail(s"non-foldable $name ${e.sql}")
    if (e.dataType != IntegerType) fail(s"$name of type ${e.dataType.simpleString}")
    e.eval(null) match {
      case i: java.lang.Integer if ok(i) => i
      case null => fail(s"NULL $name")
      case i    => fail(s"$name=$i")
    }
  }
}
