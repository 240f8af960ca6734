package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge for custom Catalyst expressions.
  * Spark 4 moved these conversions behind private[sql] (classic
  * ExpressionUtils); a one-file shim in the sql package is the supported
  * pattern for libraries shipping native expressions without a
  * FunctionRegistry round-trip. */
object GraftBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a custom logical plan (classic Dataset.ofRows is
    * private[sql]) — the entry point for injected plan nodes. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Materialize a DataFrame into a persisted InternalRow RDD plus an O(1)
    * LogicalRDD view over it — lineage truncation for iterative algorithms
    * WITHOUT the Row serialization round trip of df.rdd, and with an explicit
    * handle for unpersisting the round's blocks (internalCreateDataFrame is
    * private[sql]). The returned RDD is persisted lazily; the caller's next
    * action materializes it. */
  def pinInternal(df: DataFrame, level: org.apache.spark.storage.StorageLevel)
  : (DataFrame, org.apache.spark.rdd.RDD[catalyst.InternalRow]) = {
    // UnsafeRow buffers are reused per partition — copy before caching
    val rdd = df.queryExecution.toRdd.map(_.copy()).persist(level)
    val out = df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, df.schema)
    (out, rdd)
  }

  /** `body` as a thunk that runs under the CALLING thread's Spark local
    * properties (job group, description, pool) and active session, on
    * whichever thread runs it. Spark copies local properties only when a
    * thread is created, so a pooled thread keeps its creator's job group:
    * misattributed jobs that escape the caller's cancellation. */
  def withCallerLocals[T](body: => T): () => T = {
    val sc = org.apache.spark.SparkContext.getActive
    val props = sc.map(c =>
      org.apache.spark.util.Utils.cloneProperties(c.getLocalProperties))
    val session = SparkSession.getActiveSession
    () => {
      val prevProps = sc.map(_.getLocalProperties)
      val prevSession = SparkSession.getActiveSession
      for (c <- sc; p <- props) c.setLocalProperties(p)
      session.foreach(SparkSession.setActiveSession)
      try body
      finally {
        for (c <- sc; p <- prevProps) c.setLocalProperties(p)
        prevSession.fold(SparkSession.clearActiveSession())(
          SparkSession.setActiveSession)
      }
    }
  }
}
