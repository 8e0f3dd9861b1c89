package org.apache.spark.sql

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  * Spark 4 routes Column construction through ColumnNodes and keeps the
  * classic converters `private[sql]`; extension libraries bridge from
  * inside the package — the standard pattern for custom expressions. */
object GraftExpressions {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (for graft's native
    * operators, e.g. the broadcast as-of join) — `Dataset.ofRows` is
    * `private[sql]`, bridged here like the converters above. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Every leaf of `ds`'s analyzed plan is a `LocalRelation`: its data sits
    * on the driver. Reads the plan the Dataset already holds, so it costs
    * no analysis. */
  def isLocal(ds: Dataset[_]): Boolean =
    ds.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** The rows of `df` when the optimizer folds its whole plan into one
    * `LocalRelation` (`ConvertToLocalRelation` evaluates Project, Filter
    * and Limit over driver data; a Project interpreted); `None` when any
    * other operator is left, which only a Spark job can run. */
  def localRows(df: DataFrame): Option[Seq[Row]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        val toRow = CatalystTypeConverters.createToScalaConverter(
          DataTypeUtils.fromAttributes(l.output))
        Some(l.data.map(r => toRow(r).asInstanceOf[Row]))
      case _ => None
    }

  /** A copy of `spark`'s session state (conf, functions, strategies) over
    * the same cache manager — `cloneSession` is `private[sql]`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Block until every listener event posted so far is delivered
    * (`listenerBus` is `private[spark]`). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Append a planner strategy per-session (idempotent) — the runtime twin
    * of `SparkSessionExtensions.injectPlannerStrategy`. */
  def addStrategy(spark: SparkSession,
                  s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Register graft's native expressions as SQL functions on a session, so
    * `spark.sql("SELECT minhash_sig(hs, 16)")` works alongside the Column
    * API (the FunctionRegistry lives behind sessionState — reachable from
    * this package, which is why registration sits here). Idempotent. */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    graft.functions.GraftFunctionSet.all.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }
}
