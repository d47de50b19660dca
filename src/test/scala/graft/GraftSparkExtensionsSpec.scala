package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must make the native functions available in a
  * fresh session — including pure-SQL use — without any ensure() call.
  */
class GraftSparkExtensionsSpec extends AnyFunSuite {
  /** Runs `body` in a fresh session built with the extensions class. */
  private def withExtensionsSession(body: SparkSession => Unit): Unit = {
    // getOrCreate would hand back the shared test session (ignoring the
    // extensions conf), so detach the default session first and restore
    // it afterwards; the underlying SparkContext is reused. Start the
    // shared session first, so the context is the contract one whichever
    // suite runs first.
    SparkTestSession.spark
    val saved = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // withExtensions(...) rather than the conf string: when a SparkContext
    // already exists (full-suite runs), spark.sql.extensions is read from
    // the context's conf and a builder-level config never lands. Both
    // paths instantiate the same class.
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftSparkExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try body(s)
    finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      saved.foreach { prev =>
        SparkSession.setDefaultSession(prev)
        SparkSession.setActiveSession(prev)
      }
    }
  }

  test("every native function in GraftExpressions' table exists in an extensions session") {
    val names = graft.functions.GraftExpressions.natives.map(_._1)
    assert(names.distinct.size == names.size)
    withExtensionsSession { s =>
      val missing = names.filterNot(n => s.catalog.functionExists(n))
      assert(missing.isEmpty, s"not injected by GraftSparkExtensions: ${missing.mkString(", ")}")
    }
  }

  test("spark.sql.extensions registers graft functions for SQL use") {
    withExtensionsSession { s =>
      val dot = s.sql(
        "SELECT graft_long_array_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
        .head().getLong(0)
      assert(dot == 32L)
      val leq = s.sql(
        "SELECT graft_long_array_eq_count(array(1L,2L,3L), array(1L,9L,3L)) AS c")
        .head().getInt(0)
      assert(leq == 2)
      val lic = s.sql(
        "SELECT graft_sorted_long_intersect_count(array(1L,2L,3L), array(2L,3L,4L)) AS c")
        .head().getInt(0)
      assert(lic == 2)
      val topk = s.sql(
        "SELECT graft_top_k_tokens(w, 2) AS t FROM VALUES ('a'),('b'),('a'),('c'),('b'),('a') AS v(w)")
        .head().getSeq[String](0)
      assert(topk == Seq("a:3", "b:2"))
      val ss = s.sql(
        "SELECT graft_top_k_spacesaving(w, 2, 8) AS t FROM VALUES ('a'),('b'),('a'),('c'),('b'),('a') AS v(w)")
        .head().getSeq[String](0)
      assert(ss == Seq("a:3", "b:2"))
      val qs = s.sql(
        "SELECT graft_quantiles(v, 16) AS q FROM VALUES (1L),(2L),(3L),(4L),(5L),(6L),(7L),(8L),(9L),(10L) AS t(v)")
        .head().getSeq[Long](0)
      assert(qs == Seq(3L, 5L, 8L, 10L, 10L))
      // whole-plan operator strategy lands in the session's planner too
      assert(s.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy),
        "AsOfJoinStrategy not injected by the extensions class")
    }
  }
}
