package graft

import org.scalatest.funsuite.AnyFunSuite

/** The literal-argument check shared by the seven native sketch builders
  * (`graft.functions.SketchArgs`): for each SQL function, a non-foldable,
  * wrongly typed, NULL or out-of-range literal argument, and a wrong
  * argument count, must each fail analysis with an error that names the
  * function — never an opaque ClassCastException or NPE later.
  */
class SketchArgsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A well-formed call `fn(ok...)`, the index of its checked literal
    * argument, and a literal outside that argument's bound. Columns of
    * the input row: w STRING, k BIGINT, n INT. */
  private case class Builder(fn: String, ok: Seq[String], slot: Int, outOfRange: String)

  private val builders = Seq(
    Builder("graft_bloom", Seq("k", "1024", "3"), 1, "0"),
    Builder("graft_bloom_might_contain", Seq("array(k)", "k", "3"), 2, "17"),
    Builder("graft_countmin", Seq("w", "4", "64"), 2, "0"),
    Builder("graft_hll", Seq("w", "12"), 1, "21"),
    Builder("graft_quantiles", Seq("k", "16"), 1, "1"),
    Builder("graft_top_k_spacesaving", Seq("w", "3", "8"), 1, "0"),
    Builder("graft_top_k_tokens", Seq("w", "3"), 1, "0"))

  private def sql(fn: String, args: Seq[String]): String =
    s"SELECT $fn(${args.mkString(", ")}) FROM VALUES ('a', 1L, 4) AS v(w, k, n)"

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  for (b <- builders) {
    test(s"${b.fn} rejects bad literal arguments with an error naming it") {
      graft.functions.GraftExpressions.ensure(spark)
      // the well-formed call analyses, so each failure below is the
      // broken argument's
      spark.sql(sql(b.fn, b.ok)).queryExecution.assertAnalyzed()
      val bad = Seq(
        "non-foldable" -> b.ok.updated(b.slot, "n"),
        "wrong type" -> b.ok.updated(b.slot, "2L"),
        "NULL" -> b.ok.updated(b.slot, "CAST(NULL AS INT)"),
        "out of range" -> b.ok.updated(b.slot, b.outOfRange),
        "wrong arity" -> b.ok.init)
      for ((what, args) <- bad) {
        val e = intercept[Exception](spark.sql(sql(b.fn, args)).collect())
        assert(messages(e).exists(_.contains(b.fn)), s"${b.fn}, $what: opaque error $e")
      }
    }
  }
}
