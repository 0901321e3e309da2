package org.apache.spark.sql

import org.apache.parquet.hadoop.Footer

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column ⇄ Expression converters — the
  * plumbing a library needs to hand Catalyst a custom native `Expression`
  * (with `doGenCode`) without a FunctionRegistry round-trip. Lives in the
  * `org.apache.spark.sql` package solely for access; contains no logic. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached the listeners
    * (the bus is `private[spark]`), so counters read after a query are
    * complete without a guessed sleep. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The schema a batch parquet read infers from one file's `footer`:
    * Spark's per-footer reader with the session's type-mapping confs,
    * made nullable (`private[spark]`) as the batch reader makes every
    * inferred column. */
  def parquetSchema(footer: Footer, spark: SparkSession): StructType =
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
}
