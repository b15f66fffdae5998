package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Column <-> Expression bridge. Spark 4 made this conversion
 * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); custom
 * native expressions still need it to be exposed as `Column`s, so this
 * shim re-exports the two functions from inside the package.
 */
object GraftShims {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /**
   * Build a persisted Dataset's cache in one job: runs `action` on the
   * cache's own batch RDD (`CachedRDDBuilder.cachedColumnBuffers`) inside
   * one SQL execution of `ds`. A query over a cache not yet built reads it
   * through AQE's `TableCacheQueryStage`, which builds it as a job of its
   * own before the query's jobs run. An action that computes every
   * partition leaves the cache built, whoever persisted `ds`.
   */
  def buildCache[T](ds: Dataset[_])(
      action: org.apache.spark.rdd.RDD[org.apache.spark.sql.columnar.CachedBatch] => T): T = {
    val cds = ds.asInstanceOf[classic.Dataset[_]]
    val cached = cds.sparkSession.sharedState.cacheManager.lookupCachedData(cds)
      .getOrElse(throw new IllegalArgumentException("buildCache: the Dataset is not persisted"))
    execution.SQLExecution.withNewExecutionId(cds.queryExecution, Some("buildCache")) {
      action(cached.cachedRepresentation.cacheBuilder.cachedColumnBuffers)
    }
  }

  /** Wrap a custom logical plan as a DataFrame (Spark 4 moved
    * `Dataset.ofRows` behind the classic implementation). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently add a planner strategy to a LIVE session (the
    * `spark.sql.extensions` config path only applies at session build). */
  def addStrategy(spark: SparkSession,
      s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s)) {
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
    }
  }

  /** Idempotently add an optimizer rule to a LIVE session (same
    * rationale as [[addStrategy]] — `injectOptimizerRule` via
    * `spark.sql.extensions` only applies at session build time). */
  def addOptimization(spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r)) {
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ r
    }
  }

  /**
   * Release the block storage behind a `localCheckpoint`ed DataFrame.
   * `Dataset.unpersist` only talks to the cache manager, which never
   * learns about checkpoint RDDs — without this, an iterative loop that
   * checkpoints per round leaks one cached RDD per round. Walks the plan
   * for `LogicalRDD` leaves (what localCheckpoint produces) and unpersists
   * their RDDs.
   */
  def unpersistCheckpoint(df: DataFrame): Unit =
    checkpointRDDs(df).foreach(_.unpersist(blocking = false))

  /** The `LogicalRDD` leaves' RDDs behind a (local)checkpointed frame —
    * what a caller must track to release its storage later. */
  def checkpointRDDs(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** The checkpoint RDD of THIS frame only — the `LogicalRDD` at the
    * plan root that `localCheckpoint` returns — and never the leaves of
    * a longer lineage, which belong to the frame's INPUTS. Releasing a
    * derived frame must not sweep its inputs' storage. */
  def ownCheckpointRDD(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Seq(r.rdd)
      case _ => Nil
    }
}
