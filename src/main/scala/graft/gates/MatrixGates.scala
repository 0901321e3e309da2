package graft
package gates

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

import graft.functions.Calls
import Support._

/** MatrixTable and aggregator gates: entries, row/column aggregations,
  * keyed unions and the `agg_*` aggregator family. */
object MatrixGates {
  /** lineitem viewed as a MatrixTable: rows = orders, cols = line numbers
    * 1..7, entries = per-cell (qty, price) sums — the §2.2 parity fixture.
    * The synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
    * cells pre-aggregate; sums are decimal-cleaned for cross-engine
    * determinism (see `dsum`). */
  private def lineitemMatrix(s: SparkSession, dir: String): MatrixTable = {
    // pre-partition by the row key alone: hash(l_orderkey) satisfies the
    // clustering requirement of BOTH downstream groupBys (cell key is a
    // superset), so the whole matrix assembly runs off ONE shuffle
    // instead of raw-rows + cells
    val cell = t(s, dir, "lineitem")
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(
        sum(col("l_quantity")).cast(DecimalType(18, 4)).cast("double")
          .as("qty"),
        sum(col("l_extendedprice")).cast(DecimalType(18, 4)).cast("double")
          .as("price"))
    MatrixTable.fromCoordinates(
      coord = cell,
      rowKey = Seq("l_orderkey"),
      colIdx = col("l_linenumber") - 1,
      entryFields = Seq("qty" -> col("qty"), "price" -> col("price")),
      colValues = (1 to 7).map(i => Row(i)),
      colSchema = StructType(Seq(StructField("line_no", IntegerType, false))),
      colKey = Seq("line_no"))
  }

  /** DuckDB view of the same matrix cells. */
  private val cellSql =
    """(SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(sum(l_quantity) AS DECIMAL(18,4)) AS DOUBLE) AS qty,
      |  CAST(CAST(sum(l_extendedprice) AS DECIMAL(18,4)) AS DOUBLE) AS price
      | FROM lineitem GROUP BY 1, 2) cell""".stripMargin

  def all: Seq[Gate] = Seq(
    // --- agg: take_by (top-k per group; `TakeByAggregator`) ----------------
    Gate("agg_take_by", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin),

    // --- agg: collect_as_set (`CollectAsSetAggregator`, sorted-set coding);
    // stringified so the driver's pandas hash-compare can sort the column ---
    Gate("agg_collect_set", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(concat_ws(",", array_sort(collect_set(col("l_linestatus"))))
          .as("statuses"),
          count(lit(1)).as("n")),
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
        |    AS statuses,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // --- agg: stats (count/mean/stdev/min/max — exact via decimal sums) ----
    Gate("agg_stats", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(col("l_quantity")).as("n"),
          round(dsum(col("l_quantity")) / count(col("l_quantity")), 6)
            .as("mean_qty"),
          round(
            sqrt((dsum(col("l_quantity") * col("l_quantity")) -
              dsum(col("l_quantity")) * dsum(col("l_quantity")) /
                count(col("l_quantity"))) /
              (count(col("l_quantity")) - 1)), 6).as("sd_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty")),
      """SELECT l_returnflag,
        |  count(l_quantity) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    / count(l_quantity), 6) AS mean_qty,
        |  round(sqrt((CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    - CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |      * CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(l_quantity)) / (count(l_quantity) - 1)), 6) AS sd_qty,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // --- agg: counter (`hl.agg.counter` → groupBy count) -------------------
    Gate("agg_counter", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users")),
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin),

    // --- MatrixTable: build + MatrixEntriesTable roundtrip (`TableIR:2447`)
    Gate("matrix_entries_table", (s, dir) =>
      lineitemMatrix(s, dir).entriesTable
        .selectFields("line_no", "qty", "price").df.drop("col_idx"),
      s"""SELECT l_orderkey, l_linenumber AS line_no, qty, price
        |FROM $cellSql""".stripMargin),

    // --- MatrixTable.summarize: per-field profile of the row + entry
    // spaces (Table.summarize over both views, space-tagged) ---------------
    Gate("matrix_summarize", (s, dir) =>
      lineitemMatrix(s, dir).summarize(), {
      def num(expr: String, field: String, dtype: String, space: String,
          src: String) =
        s"""SELECT '$field' AS field, '$dtype' AS dtype,
           |  count($expr) AS n_defined,
           |  count(DISTINCT $expr) AS n_distinct,
           |  round(CAST(min($expr) AS DOUBLE), 6) AS min_num,
           |  round(CAST(max($expr) AS DOUBLE), 6) AS max_num,
           |  round(CAST(sum(CAST($expr AS DECIMAL(18,4))) AS DOUBLE)
           |    / count($expr), 6) AS mean,
           |  CAST(NULL AS VARCHAR) AS min_str,
           |  CAST(NULL AS VARCHAR) AS max_str,
           |  '$space' AS space
           |FROM $src""".stripMargin
      Seq(
        num("l_orderkey", "l_orderkey", "bigint", "row",
          s"(SELECT DISTINCT l_orderkey FROM $cellSql) r"),
        num("l_linenumber - 1", "col_idx", "int", "entry", cellSql),
        num("l_orderkey", "l_orderkey", "bigint", "entry", cellSql),
        num("qty", "qty", "double", "entry", cellSql),
        num("price", "price", "double", "entry", cellSql),
        num("l_linenumber", "line_no", "int", "entry", cellSql))
        .mkString("", "\nUNION ALL\n", "")
    }),

    // --- MatrixMapRows with entry-scoped agg (call_rate pattern) ----------
    Gate("matrix_annotate_rows_entry_agg", (s, dir) => {
      val mt = lineitemMatrix(s, dir)
      mt.annotateRows(
        "n_defined" -> aggregate(mt.entries, lit(0L),
          (acc, e) => acc + when(e.isNotNull, 1L).otherwise(0L)),
        "qty_sum" -> round(aggregate(mt.entries, lit(0.0),
          (acc, e) => acc + coalesce(e("qty"), lit(0.0))), 4))
        .rowsTable.df
    },
      s"""SELECT l_orderkey, count(*) AS n_defined,
        |  round(sum(qty), 4) AS qty_sum
        |FROM $cellSql GROUP BY l_orderkey""".stripMargin),

    // --- MatrixFilterEntries + aggregate_entries (`MatrixIR.scala:689`) ----
    Gate("matrix_filter_entries_agg", (s, dir) =>
      lineitemMatrix(s, dir)
        .filterEntries(e => e("qty") >= 10.0)
        .aggregateEntries(
          "n" -> (e => count(e)),
          "sum_qty" -> (e => dsum(e("qty")))),
      s"""SELECT count(*) AS n,
        |  CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM $cellSql WHERE qty >= 10.0""".stripMargin),

    // --- MatrixAggregateRowsByKey (`MatrixIR.scala:533`) -------------------
    Gate("matrix_aggregate_rows_by_key", (s, dir) =>
      lineitemMatrix(s, dir)
        .aggregateRowsByKey(
          newKey = Seq("bucket" -> pmod(col("l_orderkey"), lit(100L))),
          entryAggs = Seq(
            "sum_qty" -> (e => dsum(e("qty"))),
            "n" -> (e => count(e))))
        .entriesTable
        .selectFields("line_no", "sum_qty", "n").df.drop("col_idx"),
      s"""SELECT l_orderkey % 100 AS bucket, l_linenumber AS line_no,
        |  CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM $cellSql GROUP BY 1, 2""".stripMargin),

    // --- MatrixAggregateColsByKey (`MatrixIR.scala:551`) -------------------
    Gate("matrix_aggregate_cols_by_key", (s, dir) =>
      lineitemMatrix(s, dir)
        .annotateCols("parity", IntegerType,
          r => r.getInt(0) % 2)
        .copy(colKey = Seq("parity"))
        .aggregateColsByKey(Seq(
          ("qty_sum",
            (acc: Column, e: Column) =>
              acc + coalesce(e("qty"), lit(0.0)),
            lit(0.0))))
        .entriesTable
        .annotate("qty_sum" -> round(col("qty_sum"), 4))
        .selectFields("parity", "qty_sum").df.drop("col_idx"),
      s"""SELECT o.l_orderkey, p.parity,
        |  coalesce(round(s.qty_sum, 4), 0.0) AS qty_sum
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem) o
        |CROSS JOIN (VALUES (0), (1)) p(parity)
        |LEFT JOIN (
        |  SELECT l_orderkey, l_linenumber % 2 AS parity,
        |    sum(qty) AS qty_sum
        |  FROM $cellSql GROUP BY 1, 2) s
        |USING (l_orderkey, parity)""".stripMargin),

    // --- MatrixChooseCols (`MatrixIR.scala:498`) ---------------------------
    Gate("matrix_choose_cols", (s, dir) =>
      lineitemMatrix(s, dir)
        .chooseCols(IndexedSeq(0, 2, 4))
        .aggregateEntries(
          "n" -> (e => count(e)),
          "sum_price" -> (e => dsum(e("price")))),
      s"""SELECT count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM $cellSql WHERE l_linenumber IN (1, 3, 5)""".stripMargin),

    // --- MatrixCollectColsByKey (`MatrixIR.scala:512`) ---------------------
    Gate("matrix_collect_cols_by_key", (s, dir) =>
      lineitemMatrix(s, dir)
        .annotateCols("parity", IntegerType, r => r.getInt(0) % 2)
        .copy(colKey = Seq("parity"))
        .collectColsByKey()
        .entriesTable
        .annotate(
          "n_present" -> size(filter(col("qty"), v => v.isNotNull)),
          "qty_sum" -> round(aggregate(col("qty"), lit(0.0),
            (a, v) => a + coalesce(v, lit(0.0))), 4))
        .selectFields("parity", "n_present", "qty_sum").df
        .drop("col_idx", "qty", "price"),
      s"""SELECT o.l_orderkey, p.parity,
        |  coalesce(s.n_present, 0) AS n_present,
        |  coalesce(round(s.qty_sum, 4), 0.0) AS qty_sum
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem) o
        |CROSS JOIN (VALUES (0), (1)) p(parity)
        |LEFT JOIN (
        |  SELECT l_orderkey, l_linenumber % 2 AS parity,
        |    count(*) AS n_present, sum(qty) AS qty_sum
        |  FROM $cellSql GROUP BY 1, 2) s
        |USING (l_orderkey, parity)""".stripMargin),

    // --- make_table (`matrixtable.py:4415`): wide per-sample columns ------
    Gate("matrix_make_table", (s, dir) =>
      lineitemMatrix(s, dir).makeTable().df
        .select(col("l_orderkey") +:
          (1 to 7).map(i => col(s"`$i.qty`")): _*),
      s"""SELECT l_orderkey,
        |  ${(1 to 7).map(i =>
              s"""max(CASE WHEN l_linenumber = $i THEN qty END) AS "$i.qty"""")
            .mkString(",\n  ")}
        |FROM $cellSql GROUP BY l_orderkey""".stripMargin),

    // --- agg: bounded-heap take_by (`agg/TakeByAggregator.scala`) ----------
    Gate("agg_take_by_heap", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(operators.Aggs.takeBy(col("o_orderkey"), col("o_totalprice"),
          3, asc = false).as("top"))
        .select(col("o_custkey"), explode(col("top")).as("o_orderkey")),
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin),

    // --- agg: fold with user seq/comb (`agg/FoldAggregator.scala`) ---------
    Gate("agg_fold", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          operators.Aggs.foldDouble(col("o_totalprice"), Double.MinValue,
            math.max, math.max).as("max_price"),
          operators.Aggs.foldDouble(col("o_totalprice"), Double.MaxValue,
            math.min, math.min).as("min_price")),
      """SELECT o_orderstatus, max(o_totalprice) AS max_price,
        |  min(o_totalprice) AS min_price
        |FROM orders GROUP BY 1""".stripMargin),

    // --- agg: group (dict of sub-aggs; `agg/GroupedAggregator.scala`) ------
    Gate("agg_group", (s, dir) => {
      val inner = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).cast("bigint").as("q"))
      inner.groupBy(col("l_returnflag"))
        .agg(concat_ws(",", array_sort(collect_list(
          concat(col("l_linestatus"), lit(":"), col("q").cast("string")))))
          .as("by_status"))
    },
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(l_linestatus || ':' ||
        |    CAST(q AS VARCHAR))), ',') AS by_status
        |FROM (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |      AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2)
        |GROUP BY 1""".stripMargin),

    // --- agg: approx_cdf sketch (exact while n <= k; KLL-style) ------------
    Gate("agg_approx_cdf", (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
        .groupBy(col("l_returnflag"))
        .agg(operators.Aggs.approxCdf(col("l_quantity"), 4096).as("cdf"))
        .select(col("l_returnflag"),
          round(operators.Aggs.sketchQuantileUdf(col("cdf"), lit(0.5)), 6)
            .as("median_qty"),
          round(operators.Aggs.sketchQuantileUdf(col("cdf"), lit(0.9)), 6)
            .as("p90_qty")),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
        |FROM lineitem WHERE l_orderkey < 2000 GROUP BY 1""".stripMargin),

    // --- MatrixAnnotateRowsTable (`MatrixIR.scala:726`): row-space join ----
    Gate("matrix_annotate_rows_table", (s, dir) => {
      val orders = Table(t(s, dir, "orders"), Seq("o_orderkey"))
      lineitemMatrix(s, dir)
        .annotateRowsTable(orders.broadcastHint,
          Seq("o_orderstatus", "o_totalprice"))
        .rowsTable
        .annotate("o_totalprice" -> round(col("o_totalprice"), 2))
        .selectFields("o_orderstatus", "o_totalprice").df
    },
      """SELECT c.l_orderkey, o.o_orderstatus,
        |  round(o.o_totalprice, 2) AS o_totalprice
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem) c
        |LEFT JOIN orders o ON c.l_orderkey = o.o_orderkey""".stripMargin),

    // --- MatrixAnnotateColsTable (`MatrixIR.scala:704`): col-space join ----
    Gate("matrix_annotate_cols_table", (s, dir) => {
      val lineStats = Table(t(s, dir, "lineitem"))
        .keyByAndAggregate(
          newKey = Seq("line_no" -> col("l_linenumber")),
          exprs = Seq("n_lines" -> count(lit(1))))
      lineitemMatrix(s, dir)
        .annotateColsTable(lineStats)
        .colsTable.df
    },
      """SELECT n.line_no, c.n_lines
        |FROM (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS line_no) n
        |LEFT JOIN (SELECT l_linenumber AS line_no, count(*) AS n_lines
        |  FROM lineitem GROUP BY 1) c USING (line_no)""".stripMargin),

    // --- per-col aggregation across rows (annotate_cols agg pattern) -------
    Gate("matrix_cols_agg", (s, dir) =>
      lineitemMatrix(s, dir).entriesTable
        .keyByAndAggregate(
          newKey = Seq("line_no" -> col("line_no")),
          exprs = Seq(
            "n" -> count(lit(1)),
            "sum_qty" -> dsum(col("qty")))).df,
      s"""SELECT l_linenumber AS line_no, count(*) AS n,
        |  CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM $cellSql GROUP BY 1""".stripMargin),

    // --- Misra-Gries heavy hitters, exact two-pass consumption: a
    // 64-counter one-pass summary prunes ~2.5k distinct synthesized
    // keys (3 engineered hot keys at 25% each) to <= 64 candidates; the
    // exact second pass restores merge-order determinism, so the output
    // EQUALS DuckDB's full groupBy + HAVING cnt*64 > N — a broken
    // sketch (dropped guaranteed key) surfaces as a missing row --------------
    Gate("agg_heavy_hitters", (s, dir) => {
      val keyed = t(s, dir, "events").withColumn("key",
        when(col("event_id") % 4 =!= 0,
          concat(lit("hot_"), (col("event_id") % 3).cast("string")))
        .otherwise(concat(lit("cold_"), col("event_id").cast("string"))))
      operators.Aggs.heavyHittersExact(keyed, "key", m = 64)
    },
      // exact heavy hitters over the engineered skewed key stream: the
      // Spark side's Misra-Gries candidates + exact second pass must
      // equal the plain groupBy + HAVING cnt*m > N
      HeavyHittersOracleSql),

    // --- HLL distinct-count contract (like agg_approx_cdf's): the
    // output carries the exact per-group distinct count plus a bound
    // check that Spark's approx_count_distinct estimate sits within
    // 5 standard errors — the oracle expects every group in-bound, so
    // a broken sketch surfaces as a value diff ------------------------------
    Gate("agg_approx_distinct", (s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_distinct"),
          approx_count_distinct(col("user_id"), 0.05).as("__est"))
        .select(col("event_type"), col("n_distinct"),
          (abs(col("__est") - col("n_distinct"))
            <= lit(0.25) * col("n_distinct")).as("within_bound")),
      // the estimate's 5-sigma bound is checked on the Spark side; the
      // oracle pins the exact counts and expects every group in-bound
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_distinct,
        |  true AS within_bound
        |FROM events GROUP BY 1""".stripMargin),

    // --- agg: exact product (custom Aggregator, not exp-log) ---------------
    Gate("agg_product", (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 200)
        .groupBy(col("l_returnflag"))
        .agg(round(operators.Aggs.product(lit(1.0) + col("l_discount")), 6)
          .as("prod_disc"), count(lit(1)).as("n")),
      """SELECT l_returnflag, round(product(1.0 + l_discount), 6)
        |    AS prod_disc,
        |  count(*) AS n
        |FROM lineitem WHERE l_orderkey < 200 GROUP BY 1""".stripMargin),

    // --- hl.agg.corr (aggregators.py `corr`): Pearson correlation is a
    // Spark built-in — codegen'd partial aggregation, zero custom code --
    Gate("agg_corr", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("r"), count(lit(1)).as("n")),
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS r,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin),

    // --- agg: exact interpolated percentiles ------------------------------
    Gate("agg_percentile", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price")),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY 1""".stripMargin),

    // --- agg: impute_type (schema inference over strings) ------------------
    Gate("agg_impute_type", (s, dir) => {
      val o = t(s, dir, "orders")
      o.agg(
        operators.Aggs.imputeType(col("o_orderkey").cast("string"))("inferred")
          .as("t_int"),
        operators.Aggs.imputeType(col("o_totalprice").cast("string"))("inferred")
          .as("t_float"),
        operators.Aggs.imputeType(col("o_orderstatus"))("inferred")
          .as("t_str"),
        operators.Aggs.imputeType(
          (pmod(col("o_orderkey"), lit(2)) === 0).cast("string"))("inferred")
          .as("t_bool"))
    },
      """SELECT 'int64' AS t_int, 'float64' AS t_float,
        |  'string' AS t_str, 'boolean' AS t_bool""".stripMargin),

    // --- agg: per-group OLS via the custom LinearRegression Aggregator
    // (X'X/X'y accumulation + Breeze solve — `LinearRegressionAggregator`) --
    Gate("agg_linreg", (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("x", pmod(col("o_custkey"), lit(50L)).cast("double"))
        .withColumn("y", col("o_totalprice"))
      o.groupBy(col("o_orderstatus"))
        .agg(operators.Aggs.linreg(col("y"),
          array(lit(1.0), col("x")), 2).as("fit"))
        .select(col("o_orderstatus"),
          round(element_at(col("fit")("beta"), 2), 2).as("slope"),
          round(element_at(col("fit")("beta"), 1), 2).as("intercept"),
          col("fit")("n").as("n"))
    },
      """WITH s AS (SELECT o_orderstatus,
        |  CAST(sum(CAST(o_custkey % 50 AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST((o_custkey % 50) * (o_custkey % 50)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(CAST(o_custkey % 50 AS DOUBLE) * o_totalprice
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
        |  CAST(count(*) AS DOUBLE) AS n
        | FROM orders GROUP BY 1)
        |SELECT o_orderstatus,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 2) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
        |    / n, 2) AS intercept,
        |  CAST(n AS BIGINT) AS n
        |FROM s""".stripMargin),

    // --- agg: deterministic uniform sample (bottom-k by FNV-1a hash;
    // oracle = the two statuses with smallest seeded hash, precomputed) -----
    Gate("agg_sample", (s, dir) =>
      t(s, dir, "orders")
        .agg(operators.Aggs.sample(col("o_orderstatus"), 2).as("s"))
        .select(explode(col("s")).as("v")),
      // bottom-2 of {F,O,P} by FNV-1a(seed=42): O < F < P (precomputed)
      """SELECT 'O' AS v UNION ALL SELECT 'F' AS v""".stripMargin),

    // --- agg: downsample (grid-cell scatter thinning, keep-least per cell) -
    Gate("agg_downsample", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(operators.Aggs.downsample(
          col("o_totalprice") / 100000.0,
          pmod(col("o_custkey"), lit(100L)).cast("double") / 100.0,
          10).as("pts"))
        .select(col("o_orderstatus"), explode(col("pts")).as("p"))
        // no rounding: x/y are pure double arithmetic, bitwise-identical
        // across engines (rounding would reintroduce half-way flakiness)
        .select(col("o_orderstatus"),
          col("p")("_1").as("x"), col("p")("_2").as("y")),
      """SELECT o_orderstatus, x, y FROM (
        |  SELECT o_orderstatus, x, y,
        |    row_number() OVER (
        |      PARTITION BY o_orderstatus,
        |        CAST(floor(x * 10 + 0.5) AS BIGINT),
        |        CAST(floor(y * 10 + 0.5) AS BIGINT)
        |      ORDER BY x, y) AS rn
        |  FROM (
        |    SELECT o_orderstatus,
        |      o_totalprice / 100000.0 AS x,
        |      CAST(o_custkey % 100 AS DOUBLE) / 100.0 AS y
        |    FROM orders))
        |WHERE rn = 1""".stripMargin),

    // --- rename_duplicates (reference misc.py:280): unique col ids ---------
    Gate("matrix_rename_duplicates", (s, dir) => {
      import org.apache.spark.sql.types.StringType
      val names = IndexedSeq("A", "B", "A", "B", "A", "C", "A")
      lineitemMatrix(s, dir)
        .copy(
          colValues = names.map(n => org.apache.spark.sql.Row(n)),
          colSchema = StructType(Seq(StructField("s", StringType, false))),
          colKey = Seq("s"))
        .renameDuplicates()
        .colsTable.df.select("s", "unique_id")
    },
      """SELECT * FROM (VALUES ('A','A'),('B','B'),('A','A_1'),
        |  ('B','B_1'),('A','A_2'),('C','C'),('A','A_3'))
        |  AS t(s, unique_id)""".stripMargin),

    // --- full_outer_join_mt (experimental): outer join on rows AND
    // columns; entries become struct(left_entry, right_entry) -------------
    Gate("matrix_full_outer_join", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val l = mt.chooseCols(IndexedSeq(0, 1)).filterRows(col("position") < 2000)
      val r = mt.chooseCols(IndexedSeq(1, 2)).filterRows(col("position") >= 1000)
      methods.MtJoins.fullOuterJoinMt(l, r).entriesTable.df
        .select(col("contig"), col("position"), col("s"),
          Calls.allele1(col("left_entry")("GT")).as("l_a1"),
          Calls.allele2(col("left_entry")("GT")).as("l_a2"),
          Calls.allele1(col("right_entry")("GT")).as("r_a1"),
          Calls.allele2(col("right_entry")("GT")).as("r_a2"))
    }, {
      s"""WITH $sampleVcfCte,
        |lv AS (SELECT DISTINCT contig, position FROM q
        |  WHERE position < 2000),
        |rv AS (SELECT DISTINCT contig, position FROM q
        |  WHERE position >= 1000),
        |av AS (SELECT * FROM lv UNION SELECT * FROM rv),
        |sm(s) AS (VALUES ('S1'), ('S2'), ('S3')),
        |le AS (SELECT contig, position, s, a1, a2 FROM q
        |  WHERE position < 2000 AND s IN ('S1', 'S2')),
        |re AS (SELECT contig, position, s, a1, a2 FROM q
        |  WHERE position >= 1000 AND s IN ('S2', 'S3')),
        |x AS (SELECT av.contig, av.position, sm.s
        |  FROM av CROSS JOIN sm)
        |SELECT x.contig, x.position, x.s,
        |  le.a1 AS l_a1, le.a2 AS l_a2, re.a1 AS r_a1, re.a2 AS r_a2
        |FROM x
        |LEFT JOIN le USING (contig, position, s)
        |LEFT JOIN re USING (contig, position, s)""".stripMargin
    }),

    // --- explode_trio_matrix (experimental): trio matrix back to a
    // sample matrix, three columns per trio ---------------------------------
    Gate("matrix_explode_trio", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val tm = methods.Trios.trioMatrix(mt,
        Seq(("S1", "S2", "S3", true), ("S4", "S2", "S3", false)))
      methods.MtJoins.explodeTrioMatrix(tm).entriesTable.df
        .select(col("contig"), col("position"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"), col("DP").as("dp"))
    }, {
      s"""WITH $sampleVcfCte
        |SELECT q.contig, q.position, r.s, q.a1, q.a2, q.dp
        |FROM (VALUES ('S1'), ('S2'), ('S3'), ('S4'), ('S2'), ('S3'))
        |  r(s)
        |JOIN q ON q.s = r.s""".stripMargin
    }),

    // --- agg: fixed-range histogram (hl.agg.hist) -------------------------
    Gate("agg_hist", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(operators.Aggs.hist(col("l_quantity").cast("double"),
          0.0, 50.0, 10).as("h"))
        .select(col("l_returnflag"),
          posexplode(col("h")("bin_freq")).as(Seq("bin", "freq"))),
      // all-bins output (zero counts included), hi-edge value clamps into
      // the last bin like the reference
      """WITH b AS (SELECT unnest(range(0, 10)) AS bin),
        |fl AS (SELECT DISTINCT l_returnflag FROM lineitem),
        |c AS (
        |  SELECT l_returnflag,
        |    CAST(least(floor(l_quantity / 5.0), 9) AS INTEGER) AS bin,
        |    count(*) AS freq
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT fl.l_returnflag, CAST(b.bin AS INTEGER) AS bin,
        |  CAST(coalesce(c.freq, 0) AS BIGINT) AS freq
        |FROM fl CROSS JOIN b
        |LEFT JOIN c ON c.l_returnflag = fl.l_returnflag
        |  AND c.bin = b.bin""".stripMargin),

    // --- import_matrix_table (impex.py / TextMatrixReader.scala):
    // delimited numeric matrix -> MatrixTable (entry field x) --------------
    Gate("matrix_table_import", (s, _) => {
      import org.apache.spark.sql.types.{LongType, StringType}
      val dir = java.nio.file.Files.createTempDirectory("graft_tmx")
      val f = dir.resolve("m.tsv")
      java.nio.file.Files.writeString(f,
        "id\tfoo\tc1\tc2\tc3\n" +
        "1\ta\t0.5\tNA\t2.5\n" +
        "2\tb\t1.0\t1.5\tNA\n")
      val mt = sources.TextMatrix.read(s, f.toString,
        Seq("id" -> LongType, "foo" -> StringType), rowKey = Seq("id"))
      mt.entriesTable.df
        .select(col("id"), col("foo"), col("col_id"), col("x"))
    },
      """SELECT CAST(id AS BIGINT) AS id, foo, col_id,
        |  CAST(x AS DOUBLE) AS x
        |FROM (VALUES
        |  (1, 'a', 'c1', 0.5), (1, 'a', 'c2', NULL), (1, 'a', 'c3', 2.5),
        |  (2, 'b', 'c1', 1.0), (2, 'b', 'c2', 1.5), (2, 'b', 'c3', NULL))
        |AS t(id, foo, col_id, x)""".stripMargin),

    // --- MatrixUnionRows (MatrixIR.scala:792): two disjoint row slices
    // union back to the whole fixture — vcf_import oracle verbatim ---------
    Gate("matrix_union_rows", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val odd = mt.filterRows(col("position") % 2 === 1)
      val even = mt.filterRows(col("position") % 2 === 0)
      genotypeDump(odd.unionRows(even).entriesTable.df)
    },
      // disjoint-slice union and self-union-dedup both restore the fixture
      VcfImportOracleSql),

    // --- MatrixDistinctByRow (MatrixIR.scala): self-union deduped back
    // to the fixture --------------------------------------------------------
    Gate("matrix_distinct_by_row", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      genotypeDump(mt.unionRows(mt).distinctByRow().entriesTable.df)
    },
      VcfImportOracleSql),

    // --- MatrixRowsHead (MatrixIR.scala): first 10 variants in key order --
    Gate("matrix_rows_head", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      mt.headRows(10).rowsTable.df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("qual"))
    },
      raw"""WITH $vcfRawCte
        |SELECT contig, position, ref, alts, qual FROM raw
        |ORDER BY contig, position LIMIT 10""".stripMargin),

    // --- native MatrixTable write + read round-trip (hl.read_matrix_table):
    // same projection and oracle as vcf_import, but through the on-disk
    // native format (key-sorted rows + manifest, indexed cols) -------------
    Gate("matrix_write_read", (s, _) => {
      val mt = sources.Vcf.read(s,
        Fixtures.path("oracle_sample.vcf"))
      val dir = java.nio.file.Files.createTempDirectory("graft_mtwr")
      mt.write(s"$dir/mt")
      val back = MatrixTable.read(s, s"$dir/mt")
      genotypeDump(back.entriesTable.df)
    },
      // identical semantics through the native on-disk round-trip
      VcfImportOracleSql),

    // --- MatrixExplodeRows (`MatrixIR.scala:1027`): a row field array
    // fans the row out; entries are duplicated per element -----------------
    Gate("matrix_explode_rows", (s, dir) => {
      val mt = lineitemMatrix(s, dir)
        .annotateRows("tag" ->
          sequence(lit(1L), lit(1L) + pmod(col("l_orderkey"), lit(2L))))
        .explodeRows("tag")
      mt.rows.select(col("l_orderkey"), col("tag"),
        size(mt.entries).as("n_cols"))
    },
      """SELECT l_orderkey,
        |  unnest(range(1, 2 + l_orderkey % 2)) AS tag,
        |  CAST(7 AS INTEGER) AS n_cols
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem)""".stripMargin),

    // --- MatrixUnionCols (`MatrixIR.scala:569`): split col-space halves
    // re-union to the original matrix ---------------------------------------
    Gate("matrix_union_cols", (s, dir) => {
      val mt = lineitemMatrix(s, dir)
      mt.chooseCols(IndexedSeq(0, 1, 2))
        .unionCols(mt.chooseCols(IndexedSeq(3, 4, 5, 6)))
        .entriesTable.selectFields("line_no", "qty").df.drop("col_idx")
    },
      s"""SELECT l_orderkey, l_linenumber AS line_no, qty
        |FROM $cellSql""".stripMargin),

    // --- unfilter_entries: filtered-away cells become present-but-null
    // entries (count(e) sees them, count(e.qty) does not) ------------------
    Gate("matrix_unfilter_entries", (s, dir) =>
      lineitemMatrix(s, dir)
        .filterEntries(e => e("qty") >= 10.0)
        .unfilterEntries()
        .aggregateEntries(
          "n_entries" -> (e => count(e)),
          "n_qty" -> (e => count(e("qty"))),
          "sum_qty" -> (e => dsum(e("qty")))),
      s"""SELECT
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem) * 7
        |    AS n_entries,
        |  count(*) FILTER (WHERE qty >= 10.0) AS n_qty,
        |  CAST(sum(CAST(qty AS DECIMAL(18,4)))
        |    FILTER (WHERE qty >= 10.0) AS DOUBLE) AS sum_qty
        |FROM $cellSql""".stripMargin),

    // --- trio_matrix (`family_methods.py:16`): cols become trios, entries
    // carry (proband, father, mother) sub-entries --------------------------
    Gate("trio_matrix", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val tm = methods.Trios.trioMatrix(mt, Seq(
        ("S1", "S2", "S3", true), ("S4", "S5", "S1", false)))
      tm.entriesTable.df.select(
        col("contig"), col("position"), col("id"),
        Calls.allele1(col("proband_entry")("GT")).as("kid_a1"),
        Calls.allele2(col("proband_entry")("GT")).as("kid_a2"),
        Calls.allele1(col("father_entry")("GT")).as("dad_a1"),
        Calls.allele2(col("father_entry")("GT")).as("dad_a2"),
        Calls.allele1(col("mother_entry")("GT")).as("mom_a1"),
        Calls.allele2(col("mother_entry")("GT")).as("mom_a2"))
    }, {
      s"""WITH $sampleVcfCte,
        |trio(id, dad, mom) AS (
        |  VALUES ('S1', 'S2', 'S3'), ('S4', 'S5', 'S1'))
        |SELECT k.contig, k.position, trio.id,
        |  k.a1 AS kid_a1, k.a2 AS kid_a2,
        |  d.a1 AS dad_a1, d.a2 AS dad_a2,
        |  m.a1 AS mom_a1, m.a2 AS mom_a2
        |FROM trio
        |JOIN q k ON k.s = trio.id
        |JOIN q d ON d.s = trio.dad AND d.contig = k.contig
        |  AND d.position = k.position AND d.ref = k.ref
        |  AND d.alts = k.alts
        |JOIN q m ON m.s = trio.mom AND m.contig = k.contig
        |  AND m.position = k.position AND m.ref = k.ref
        |  AND m.alts = k.alts""".stripMargin
    }),

    // --- NDArraySum + NDArrayMultiplyAdd aggregators (reference
    // agg/NDArraySumAggregator.scala, NDArrayMultiplyAddAggregator.scala):
    // element-wise ndarray sum across rows, and the multiply-add pattern
    // (accumulate per-row matrix products A@B). With A = [[x,1],[0,y]],
    // B = [[1,2],[y,0]], A@B = [[x+y, 2x],[y^2, 0]] — every output cell
    // has a closed form the oracle computes in plain SQL --------------------
    Gate("agg_ndarray_sum", (s, dir) => {
      import graft.functions.NdArrays
      import graft.operators.Aggs
      val x = pmod(col("o_orderkey"), lit(5L)).cast("double")
      val y = pmod(col("o_custkey"), lit(7L)).cast("double")
      val a = NdArrays.make(Seq(2L, 2L), array(x, lit(1.0), lit(0.0), y))
      val b = NdArrays.make(Seq(2L, 2L),
        array(lit(1.0), lit(2.0), y, lit(0.0)))
      t(s, dir, "orders").filter(col("o_orderkey") <= 1000)
        .select(a.as("a"), NdArrays.matmul(a, b).as("ab"))
        .agg(
          Aggs.ndarraySum(col("a")).as("sa"),
          Aggs.ndarraySum(col("ab")).as("ma"))
        .select(
          element_at(col("sa")("shape"), 1).as("shape_r"),
          element_at(col("sa")("shape"), 2).as("shape_c"),
          element_at(col("sa")("data"), 1).as("sum11"),
          element_at(col("sa")("data"), 2).as("sum12"),
          element_at(col("sa")("data"), 3).as("sum21"),
          element_at(col("sa")("data"), 4).as("sum22"),
          element_at(col("ma")("data"), 1).as("ma11"),
          element_at(col("ma")("data"), 2).as("ma12"),
          element_at(col("ma")("data"), 3).as("ma21"),
          element_at(col("ma")("data"), 4).as("ma22"))
    },
      // closed forms of the accumulated A and A@B cells (see the gate)
      """WITH o AS (
        |  SELECT CAST(o_orderkey % 5 AS DOUBLE) AS x,
        |    CAST(o_custkey % 7 AS DOUBLE) AS y
        |  FROM orders WHERE o_orderkey <= 1000)
        |SELECT CAST(2 AS BIGINT) AS shape_r, CAST(2 AS BIGINT) AS shape_c,
        |  sum(x) AS sum11, CAST(count(*) AS DOUBLE) AS sum12,
        |  CAST(0 AS DOUBLE) AS sum21, sum(y) AS sum22,
        |  sum(x + y) AS ma11, sum(2 * x) AS ma12,
        |  sum(y * y) AS ma21, CAST(0 AS DOUBLE) AS ma22
        |FROM o""".stripMargin),

    // --- export_entries_by_col (experimental/export_entries_by_col.py):
    // the partitionBy csv write IS the reference's per-column parallel
    // export; the gate reads the per-sample file tree back and must
    // restore the exact cell relation ---------------------------------------
    Gate("export_entries_by_col", (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_eebc")
      sources.TextTable.exportEntriesByCol(
        lineitemMatrix(s, dir), s"$out/by_col")
      s.read.option("header", "true").option("sep", "\t")
        .csv(s"$out/by_col")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("line_no").cast("int").as("line_no"),
          col("qty").cast("double").as("qty"),
          col("price").cast("double").as("price"))
    },
      s"""SELECT l_orderkey, l_linenumber AS line_no, qty, price
        |FROM $cellSql""".stripMargin),

    // --- MatrixKeyRowsBy (MatrixIR.scala:600): re-key the row axis; the
    // new key steers every key-dependent op — here headRows picks the 5
    // smallest (qual, position) rows instead of (contig, position) ----------
    Gate("matrix_key_rows_by", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      mt.keyRowsBy("qual", "position").headRows(5).rowsTable.df
        .select(col("qual"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"))
    },
      raw"""WITH $vcfRawCte
        |SELECT qual, position, ref, alts
        |FROM raw ORDER BY qual, position LIMIT 5""".stripMargin),

    // --- sample_rows / sample_cols (matrixtable.py): seeded deterministic
    // subsets (xxhash64 rows, MurmurHash3 cols) — golden VALUES oracle,
    // the same trick as rand_seeded -----------------------------------------
    Gate("matrix_sample", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val sampled = mt.sampleRows(0.5, 7L).sampleCols(0.6, 3L)
      val keyIdx = sampled.colSchema.fieldIndex("s")
      sampled.rowsTable.df
        .select(col("contig"), col("position"), col("ref"))
        .withColumn("kept_cols", lit(sampled.nCols))
        .withColumn("kept_samples",
          lit(sampled.colValues.map(_.getString(keyIdx)).mkString(",")))
    },
      // golden VALUES: seeded xxhash64 row / MurmurHash3 col subsets are
      // deterministic but not DuckDB-reproducible (same trick as
      // rand_seeded); regenerate by re-dumping matrix_sample after an
      // intentional change to the hash contract
      """SELECT contig, CAST(position AS INTEGER) AS position, ref,
        |  CAST(kept_cols AS INTEGER) AS kept_cols, kept_samples
        |FROM (VALUES
        |  ('chr2', 564, 'A'), ('chr1', 612, 'G'), ('chr2', 628, 'T'),
        |  ('chr2', 1093, 'T'), ('chr1', 1436, 'C'), ('chr1', 2022, 'G'),
        |  ('chr2', 2032, 'G'), ('chr2', 2453, 'T'), ('chr2', 2895, 'T'),
        |  ('chr2', 3188, 'T'), ('chr1', 3503, 'A'), ('chr1', 3646, 'T'))
        |  t(contig, position, ref),
        |  (VALUES (3, 'S1,S2,S3')) c(kept_cols, kept_samples)""".stripMargin),

    // --- MatrixExplodeCols (`MatrixIR.scala:778`): a col-field array
    // fans the col space out; entries duplicate per element ----------------
    Gate("matrix_explode_cols", (s, dir) => {
      import org.apache.spark.sql.types.{ArrayType, IntegerType}
      lineitemMatrix(s, dir)
        .annotateCols("tags", ArrayType(IntegerType),
          r => Seq(r.getInt(0), r.getInt(0) * 10))
        .explodeCols("tags")
        .entriesTable.selectFields("line_no", "tags", "qty").df
        .drop("col_idx")
    },
      s"""SELECT l_orderkey, l_linenumber AS line_no,
        |  unnest([l_linenumber, l_linenumber * 10]) AS tags, qty
        |FROM $cellSql""".stripMargin),

    // --- MatrixMapGlobals (MatrixIR): globals flow to a projected col ----
    Gate("matrix_map_globals", (s, dir) => {
      val mt = lineitemMatrix(s, dir)
        .annotateGlobals("build" -> "r5", "k" -> 3)
      mt.rows.select(col("l_orderkey"),
        lit(mt.globals("build")).as("build"),
        lit(mt.globals("k")).as("k"))
    },
      """SELECT l_orderkey, 'r5' AS build, 3 AS k
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem)""".stripMargin)
  )
}
