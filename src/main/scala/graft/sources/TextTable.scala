package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Table
import graft.operators.Aggs

/** Delimited-text table import/export with optional type imputation
  * (reference `StringTableReader.scala`, python `import_table`
  * `impex.py:1548`; `ImputeType` agg `AggOp.scala:29`).
  *
  * Imputation runs our `imputeType` aggregator over every column in ONE
  * distributed pass (all columns' aggs in a single `agg`), then recasts —
  * same two-phase plan as the reference, but the inference pass is a plain
  * Spark aggregation. `spark.read.csv(inferSchema)` exists too; this path
  * matches the reference's narrower int64/float64/boolean/string lattice. */
object TextTable {

  /** import_lines (reference `impex.py:1898`): file(s) as a Table of
    * raw lines with their source file — `spark.read.text` IS the
    * reference's semantics (splittable, any size). */
  def importLines(spark: SparkSession, path: String): Table =
    Table(spark.read.text(path)
      .select(input_file_name().as("file"), col("value").as("text")))

  /** hl.grep (reference `impex.py` grep): regex-filter lines across
    * file(s). The reference prints matches driver-side; returning the
    * matching (file, text) rows is the same scan as a DataFrame —
    * callers `.show()` for the reference's behavior. */
  def grep(spark: SparkSession, regex: String, path: String): DataFrame =
    importLines(spark, path).df.filter(col("text").rlike(regex))

  def importTable(spark: SparkSession, path: String, sep: String = "\t",
      impute: Boolean = false, noHeader: Boolean = false): Table = {
    val base = spark.read
      .option("sep", sep)
      .option("header", !noHeader)
      .option("nullValue", "NA")
      .csv(path)
    if (!impute) Table(base)
    else {
      val aggs = base.columns.map(c =>
        Aggs.imputeType(col(c))("inferred").as(c))
      val inferred = base.agg(aggs.head, aggs.tail.toSeq: _*).head()
      val casted = base.columns.zipWithIndex.foldLeft(base) {
        case (df, (c, i)) =>
          inferred.getString(i) match {
            case "int64" => df.withColumn(c, col(c).cast("long"))
            case "float64" => df.withColumn(c, col(c).cast("double"))
            case "boolean" => df.withColumn(c, col(c).cast("boolean"))
            case _ => df
          }
      }
      Table(casted)
    }
  }

  /** Export to delimited text (reference `TableTextWriter`,
    * `TableWriter.scala:536`). */
  def exportTable(t: Table, path: String, sep: String = "\t",
      header: Boolean = true): Unit =
    t.ensureKeyOrder().df.write
      .option("sep", sep).option("header", header)
      .mode("overwrite").csv(path)

  /** export_entries_by_col (reference
    * `experimental/export_entries_by_col.py`): one delimited file tree
    * per column (sample) holding that column's entries with the row
    * fields. The reference hand-schedules a per-column parallel export;
    * Spark's `partitionBy` IS that operator — one shuffle-free write,
    * `path/<colKey>=<value>/part-*.csv` per sample, any number of
    * columns. */
  def exportEntriesByCol(mt: graft.MatrixTable, path: String,
      sep: String = "\t", header: Boolean = true): Unit = {
    val df = mt.entriesTable.df.drop("col_idx")
    // CSV cannot carry complex types: JSON-encode them (the reference's
    // export stringifies too)
    val flat = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.MapType =>
          to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
    // cluster each column's rows before the partitioned write: without
    // this every input partition opens a file per column value (input
    // partitions × columns small files — the classic partitionBy
    // explosion); clustered, file count is one per column task — the
    // reference's one-export-task-per-column schedule
    // (export_entries_by_col.py), expressed as a shuffle
    flat.repartition(mt.colKey.map(col): _*)
      .write
      .partitionBy(mt.colKey: _*)
      .option("sep", sep).option("header", header)
      .mode("overwrite").csv(path)
  }
}
