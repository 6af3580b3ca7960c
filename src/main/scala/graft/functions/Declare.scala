package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A `(name, info, builder)` SQL function declaration, as
  * `SparkSessionExtensions.injectFunction`/`injectTableFunction` take it. */
object Declare {
  type Fn = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)
  type Tvf = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  def fn(name: String)(b: Seq[Expression] => Expression): Fn = (id(name), info(name), b)
  def tvf(name: String)(b: Seq[Expression] => LogicalPlan): Tvf = (id(name), info(name), b)

  private def id(name: String) = FunctionIdentifier(name)
  private def info(name: String) = new ExpressionInfo(
    classOf[graft.GraftExtensions].getName, null, name, null, "", "", "", "", "", "", "built-in")
}
