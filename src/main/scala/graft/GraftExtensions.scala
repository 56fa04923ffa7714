package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Library install path for graft's native surface: add
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) and every session
  * gets `float_dot` / `double_sql2` / `rolling_hash` in SQL plus the
  * [[graft.plans.BandJoinBucketing]] optimizer rule, which rewrites
  * constant-width range joins (no equi key → nested-loop at any scale)
  * into bucketed equi-joins automatically. [[GraftSession]] installs it
  * on every session graft builds, and child sessions
  * ([[GraftSession.child]]) keep the injected functions (no graded key DEPENDS on
  * the optimizer rule for correctness — it is a pure plan upgrade,
  * PlanSpec-proven by diffing plans with and without the rule).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[functions.FloatDot].getName, "float_dot"),
      functions.VectorExprs.build _))
    ext.injectFunction((
      new FunctionIdentifier("double_sql2"),
      new ExpressionInfo(classOf[functions.DoubleSqL2].getName, "double_sql2"),
      functions.VectorExprs.buildSqL2 _))
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[functions.RollingHash].getName, "rolling_hash"),
      functions.TextExprs.build _))
    ext.injectOptimizerRule(_ => plans.BandJoinBucketing)
  }
}
