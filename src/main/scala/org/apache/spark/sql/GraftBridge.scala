package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ⇄ Expression converters — the
  * plumbing a library needs to hand Catalyst a custom native `Expression`
  * (with `doGenCode`) without a FunctionRegistry round-trip. Lives in the
  * `org.apache.spark.sql` package solely for access; contains no logic. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Entry count of the session's CacheManager (`private[sql]`
    * sharedState) — lets the persistDisk-lifecycle spec assert pins
    * return to baseline after `Materialize.release`. */
  def cachedPlanCount(spark: SparkSession): Int = spark match {
    case c: classic.SparkSession =>
      c.sharedState.cacheManager.numCachedEntries
    case _ => 0
  }

  /** Block until every event posted so far has reached the listeners
    * (the bus is `private[spark]`), so counters read after a query are
    * complete without a guessed sleep. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
