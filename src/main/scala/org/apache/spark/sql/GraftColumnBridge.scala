package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Interop shim: Spark 4 made Column<->Expression conversion `private[sql]`
  * (`classic.ExpressionUtils`); extension libraries that define native
  * Catalyst expressions need this bridge to expose them as Columns.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `Dataset.ofRows` went `private[sql]` too; the scan-budget estimator
    * (graft.plans.ReadonlyGuard) needs to PLAN a subquery's logical plan
    * without executing it — physical file-scan listings live one planning
    * step below where `PlanExpression` hands out logical plans. */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `StructType.asNullable` (`private[spark]`): a file source reads every
    * column as nullable, nested fields included, whatever the writer's
    * schema said — a relation built by hand must do the same. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** A `foreachBatch` microbatch re-bound to `spark`, the session that
    * started the stream. Every `StreamingQuery` runs on its own clone of
    * that session, and with artifact isolation (on by default in Spark 4.1)
    * executors build a fresh classloader per session — so the jobs of a
    * batch run under `batch.sparkSession` miss the codegen cache, which is
    * keyed by classloader, and recompile every plan once per query. The
    * batch's plan is a `LogicalRDD` over the already-planned microbatch, so
    * re-binding re-plans nothing upstream. */
  def onSession(spark: SparkSession, batch: DataFrame): DataFrame =
    ofRows(spark, batch.queryExecution.logical)
}
