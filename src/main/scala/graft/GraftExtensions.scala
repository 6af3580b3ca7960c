package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, FunctionRegistryBase}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** The one list of graft's SQL functions and table functions. Spark
  * applies an extension to every session its builder makes, `newSession()`
  * children included, so no query or operator registers anything.
  * [[Engine.configure]] adds it to every graft builder; elsewhere set
  * `spark.sql.extensions=graft.GraftExtensions` or call [[Graft.install]].
  * The optimizer rules stay out: see [[Engine.ensureOptimizations]]. */
final class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
  }
}

object GraftExtensions {
  /** `functions`, what every session gets: the declarations under names
    * Spark lacks. `dialect`, the GlareDB dialect: the ones that give one of
    * Spark's own names the reference's semantics (trim(src, chars),
    * first-match regexp_replace, string-only concat, ...). Installed
    * everywhere they would change plain Spark queries — Dedup's DataFrame
    * `regexp_replace(text, "\\s+", " ")` resolves by name too — so only a
    * session switched by [[glareDialect]] has them. */
  val (dialect, functions) = (GraftFunctions.functions ++
    DecimalFunctions.functions ++ HeavyHitters.functions ++
    Aggregators.functions ++ GlareCompat.functions)
    .partition(d => FunctionRegistry.builtin.functionExists(d._1))
  val tableFunctions: Seq[Declare.Tvf] = GlareCompat.tableFunctions

  /** Register the declarations into a session built without the extension
    * (a no-op on one that has them). */
  def install(spark: SparkSession): Unit =
    if (registerOnce(spark.sessionState.functionRegistry, functions))
      registerOnce(spark.sessionState.tableFunctionRegistry, tableFunctions)

  /** Switch one session to the [[dialect]] (a no-op when switched). */
  def glareDialect(spark: SparkSession): Unit =
    registerOnce(spark.sessionState.functionRegistry, dialect)

  /** Register `decls` unless `reg` already holds the first of them, as the
    * extension or an earlier call left it. True when it registered. */
  private def registerOnce[T](reg: FunctionRegistryBase[T],
      decls: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => T)]): Boolean = {
    val fresh = !reg.lookupFunction(decls.head._1).contains(decls.head._2)
    if (fresh) decls.foreach { case (id, info, b) => reg.registerFunction(id, info, b) }
    fresh
  }
}
