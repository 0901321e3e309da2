package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.Table

/** tidyr-style reshapes (reference `python/hail/experimental/tidyr.py`):
  * gather (wide→long), spread (long→wide), separate. All are plain
  * narrow projections / one groupBy — no driver-side data except
  * spread's distinct factor levels (columns must be enumerable, the
  * same contract as the reference's collect_as_set). */
object Tidyr {

  /** gather: collapse `fields` into (key, value) rows — one exploded
    * row per gathered field. Fields must share a data type. */
  def gather(t: Table, key: String, value: String, fields: String*)
      : Table = {
    require(fields.nonEmpty, "gather requires at least one field")
    val dts = fields.map(f => t.df.schema(f).dataType).distinct
    require(dts.size == 1,
      s"gather fields must share one type; found $dts")
    val pairs = array(fields.map(f =>
      struct(lit(f).as("k"), col(f).as("v"))): _*)
    val exploded = t.df
      .withColumn("__kv", explode(pairs))
      .withColumn(key, col("__kv")("k"))
      .withColumn(value, col("__kv")("v"))
      .drop("__kv")
      .drop(fields: _*)
    t.copy(df = exploded, keySorted = false)
  }

  /** spread: pivot `field`'s distinct values into columns holding
    * `value`. Grouping is the table key plus `extraKey`; other row
    * fields keep their first value per group. String-typed values fill
    * absent cells with "NA" (the reference's behavior); other types
    * stay null. */
  def spread(t: Table, field: String, value: String,
      extraKey: Seq[String] = Nil): Table = {
    val groupCols = t.key ++ extraKey
    // Driver-bounded by contract: the pivoted levels BECOME output
    // columns, so their cardinality is bounded by schema width (a few
    // thousand at most) — same driver-local contract as the reference's
    // to_spark pivoting and Spark's own Dataset.groupBy().pivot(), which
    // also collects distinct levels to plan the schema.
    val levels = t.df.select(field).distinct().collect()
      .map(_.get(0)).filter(_ != null).map(_.toString).sorted.toSeq
    val passThrough = t.df.columns.toSeq
      .filterNot(c => groupCols.contains(c) || c == field || c == value)
    val isString = t.df.schema(value).dataType == StringType
    val levelAggs = levels.map { fv =>
      val picked = first(when(col(field) === fv, col(value)),
        ignoreNulls = true)
      (if (isString) coalesce(picked, lit("NA")) else picked).as(fv)
    }
    val ptAggs = passThrough.map(c =>
      first(col(c), ignoreNulls = true).as(c))
    val aggs = ptAggs ++ levelAggs
    val out = t.df.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    Table(out, t.key, t.globals)
  }

  /** separate on a delimiter: split `field` into `into` columns. */
  def separate(t: Table, field: String, into: Seq[String],
      delim: String): Table = {
    val parts = split(col(field), delim)
    val added = into.zipWithIndex.foldLeft(t.df) { case (df, (n, i)) =>
      df.withColumn(n, element_at(parts, i + 1))
    }
    t.copy(df = added.drop(field))
  }
}
