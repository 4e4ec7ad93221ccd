// Lives in the org.apache.spark.sql namespace to reach the
// private[sql] classic Column<->Expression converters — the standard
// technique for Spark extension libraries that define native Catalyst
// expressions (Spark 4's Column wraps a ColumnNode, not an Expression).
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

object Bridge {
  /** Wrap a Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column back to its Catalyst Expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) LogicalPlan as a DataFrame — how extension
    * libraries surface custom logical operators as user API. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Eagerly materialize a DataFrame's rows into a PERSISTED
    * internal-row RDD and wrap the RDD back as a leaf DataFrame scan —
    * exactly `Dataset.localCheckpoint(true)`'s storage shape (raw
    * UnsafeRow copies in MEMORY_AND_DISK blocks, plan truncated to a
    * LogicalRDD leaf) with ONE difference: `RDD.localCheckpoint()` is
    * never called, so the RDD's lineage survives and a lost executor
    * RECOMPUTES the lost partitions instead of failing the job with
    * "checkpoint block not found". `LogicalRDD.fromDataset` carries
    * the origin's partitioning, ordering, statistics and constraints,
    * so the planner sees the same node localCheckpoint would produce.
    * Blocks are registered persistent RDDs — freed by
    * [[graft.ops.Graph.unpersistSnapshot]] or, at the latest, by the
    * persistent-RDD sweep in [[graft.util.Caches.clearAll]]. */
  def persistedRowSnapshot(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(rdd, ds, isStreaming = false))
  }

  /** Idempotently add a planner strategy to a live session (the
    * runtime analogue of SparkSessionExtensions.injectPlannerStrategy). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    // extraStrategies is a plain var — serialize the check-then-append
    // so concurrent registrations can't drop each other's strategies
    exp.synchronized {
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  /** Idempotently add an optimizer rule to a live session (the
    * runtime analogue of SparkSessionExtensions.injectOptimizerRule). */
  def addOptimization(spark: SparkSession,
                      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(r))
        exp.extraOptimizations = exp.extraOptimizations :+ r
    }
  }

  /** Remove an optimizer rule added by [[addOptimization]] (no-op if
    * absent). */
  def removeOptimization(spark: SparkSession,
                         r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      exp.extraOptimizations = exp.extraOptimizations.filterNot(_ == r)
    }
  }
}
