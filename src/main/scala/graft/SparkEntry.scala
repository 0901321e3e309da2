package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gates._
import graft.gates.Support.{dsum, t}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` keys are named after SURVEY.md §2 operators; each has a DuckDB
  * oracle in `oracleSql`. Both maps come from one registry of [[Gate]]s,
  * defined once each in the per-family objects of `graft.gates`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1-shaped: scan → filter → groupBy(agg) → orderBy. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Every gate; names are unique across the families. */
  def gates: Seq[Gate] = Gate.registry(
    TableGates.all, MatrixGates.all, FnGates.all, SourceGates.all,
    GeneticsGates.all, AssocGates.all, PipeTextGates.all,
    PipeDedupGates.all, PipeSelectGates.all, StreamGates.all)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap
}
