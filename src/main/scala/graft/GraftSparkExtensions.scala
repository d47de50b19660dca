package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftExpressions

/** Session-extension wiring for the engine's native functions: users get
  * `graft_long_array_dot` & co. in any session (SQL included) via
  *
  *   spark.sql.extensions=graft.GraftSparkExtensions
  *
  * — the library-citizen alternative to calling
  * [[graft.functions.GraftExpressions.ensure]] per session.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-plan operators (logical node -> physical exec)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExpressions.natives.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}
