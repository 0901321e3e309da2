package graft
package gates

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

import graft.operators.Scans
import Support._

/** Table gates: filter, annotate, join, aggregate, order, scan, interval
  * and as-of joins over the TPC-H and events tables (`TableIR`). */
object TableGates {
  /** query_table fixture: orders written once per (process, sf dir) in
    * the native keyed format. Always rewritten on first use in a
    * process (never trusted from a previous run's tmpdir). */
  private val qtFixtureWritten = scala.collection.mutable.Set.empty[String]
  private def qtFixture(s: SparkSession, dir: String): String = {
    // sanitized sf-dir path PLUS an md5 of the raw path: sanitization
    // alone maps punctuation-only-different dirs (sf0-1 vs sf0_1) to
    // one name; the digest makes the mapping injective
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6)
      .map(b => f"${b & 0xff}%02x").mkString
    val tmp = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_qt_orders_${dir.replaceAll("[^A-Za-z0-9.]", "_")}_$digest"
    qtFixtureWritten.synchronized {
      if (!qtFixtureWritten.contains(tmp)) {
        Table(t(s, dir, "orders"), Seq("o_orderkey")).write(tmp)
        qtFixtureWritten += tmp
      }
    }
    tmp
  }

  /** Shared as-of join fixture: clicks (left) and a tie-free purchase
    * stream (right, one per (user, ts), max event_id) over `events`. */
  private def asofFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val e2 = ev.withColumn("tns",
      streaming.Events.tsNanos(col("ts"), ev.schema("ts").dataType))
    val clicks = e2.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tns"))
    val purch0 = e2.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tns").as("p_tns"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
    val w = Window.partitionBy("user_id", "p_tns")
      .orderBy(col("p_event_id").desc)
    val purch = purch0.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    (clicks, purch)
  }

  /** As-of oracle CTEs: the `c` clicks and `p` purchases (one per user
    * and nanosecond time `p_tns`, the highest event id) of the events. */
  private def asofCtes: String =
    """e AS (
      |  SELECT event_id, user_id, epoch_ns(ts) AS tns, event_type,
      |    value
      |  FROM events),
      |c AS (SELECT event_id, user_id, tns FROM e
      |      WHERE event_type = 'click'),
      |p0 AS (SELECT user_id, tns AS p_tns, event_id AS p_event_id,
      |         value AS p_value
      |       FROM e WHERE event_type = 'purchase'),
      |p AS (SELECT user_id, p_tns, p_event_id, p_value FROM (
      |    SELECT p0.*, row_number() OVER (
      |      PARTITION BY user_id, p_tns
      |      ORDER BY p_event_id DESC) AS rn
      |    FROM p0) WHERE rn = 1)""".stripMargin

  /** As-of oracle CTE `j`: each click beside the purchase DuckDB's ASOF
    * join picks for it, with `cmp` comparing click and purchase times. */
  private def asofJoinCte(cmp: String): String =
    s"""j AS (
      |  SELECT c.event_id, c.user_id, c.tns,
      |    p.p_event_id, p.p_tns, p.p_value
      |  FROM c ASOF LEFT JOIN p
      |    ON c.user_id = p.user_id AND c.tns $cmp p.p_tns)""".stripMargin

  def all: Seq[Gate] = Seq(
    // --- TableFilter (`TableIR.scala:2143`) --------------------------------
    Gate("table_filter", (s, dir) =>
      Table(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .filter(col("l_shipdate") > lit("1997-06-01") &&
          col("l_discount") > lit(0.05))
        .annotate("ship" -> col("l_shipdate").cast("string"))
        .selectFields("l_quantity", "ship").df,
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(l_shipdate AS VARCHAR) AS ship
        |FROM lineitem
        |WHERE l_shipdate > TIMESTAMP '1997-06-01' AND l_discount > 0.05""".stripMargin),

    // --- TableMapRows / annotate (`TableIR.scala:2367`) --------------------
    Gate("table_map_rows", (s, dir) =>
      Table(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .annotate(
          "revenue" -> round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")), 4),
          "is_return" -> (col("l_returnflag") === lit("R")))
        .selectFields("revenue", "is_return").df,
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1.0 - l_discount), 4) AS revenue,
        |  l_returnflag = 'R' AS is_return
        |FROM lineitem""".stripMargin),

    // --- TableAggregateByKey (`TableIR.scala:2503`), TPC-H Q1 --------------
    Gate("table_aggregate_by_key", (s, dir) =>
      Table(t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02")),
        Seq("l_returnflag", "l_linestatus"))
        .aggregateByKey(
          "sum_qty" -> dsum(col("l_quantity")),
          "sum_base_price" -> dsum(col("l_extendedprice")),
          "sum_disc_price" -> dsum(col("l_extendedprice") *
            (lit(1.0) - col("l_discount"))),
          "avg_qty" -> round(dsum(col("l_quantity")) / count(lit(1)), 6),
          "count_order" -> count(lit(1))).df,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // --- TableLiteral (`TableIR.scala:133`): a LocalRelation literal
    // lookup table broadcast-joined onto a keyed aggregate -----------------
    Gate("table_literal_join", (s, dir) => {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val labels = Table.literal(s,
        Seq(org.apache.spark.sql.Row("A", "accepted"),
          org.apache.spark.sql.Row("N", "none"),
          org.apache.spark.sql.Row("R", "returned")),
        StructType(Seq(StructField("l_returnflag", StringType),
          StructField("label", StringType))),
        Seq("l_returnflag"))
      Table(t(s, dir, "lineitem"), Seq("l_returnflag"))
        .aggregateByKey("sum_qty" -> dsum(col("l_quantity")))
        .join(labels, "inner").df
        .select(col("l_returnflag"), col("label"), col("sum_qty"))
    },
      """SELECT l_returnflag, label,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN (VALUES ('A', 'accepted'), ('N', 'none'), ('R', 'returned'))
        |  AS m(l_returnflag, label) USING (l_returnflag)
        |GROUP BY l_returnflag, label""".stripMargin),

    // --- TableKeyByAndAggregate (`TableIR.scala:2472`): new computed key ---
    Gate("table_key_by_and_aggregate", (s, dir) =>
      Table(t(s, dir, "orders"))
        .keyByAndAggregate(
          newKey = Seq("bucket" -> pmod(col("o_custkey"), lit(7L)),
            "status" -> col("o_orderstatus")),
          exprs = Seq(
            "n" -> count(lit(1)),
            "total" -> dsum(col("o_totalprice")))).df,
      """SELECT o_custkey % 7 AS bucket, o_orderstatus AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin),

    // --- TableAggregate (ir-gen `Main.scala:1125`): whole-table scalar -----
    Gate("table_aggregate", (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_shipdate")).cast("string").as("min_ship"),
        max(col("l_shipdate")).cast("string").as("max_ship"),
        countDistinct(col("l_orderkey")).as("n_orders")),
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(min(l_shipdate) AS VARCHAR) AS min_ship,
        |  CAST(max(l_shipdate) AS VARCHAR) AS max_ship,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin),

    // --- TableJoin inner (`TableIR.scala:2216`) -----------------------------
    Gate("table_join_inner", (s, dir) => {
      val o = Table(t(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
      val c = Table(t(s, dir, "customer")
        .withColumnRenamed("c_custkey", "custkey"), Seq("custkey"))
      o.join(c, "inner")
        .selectFields("o_orderkey", "c_name", "o_totalprice").df
    },
      """SELECT o.o_custkey AS custkey, o.o_orderkey, c.c_name, o.o_totalprice
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin),

    // --- TableJoin left + group (customers with zero orders kept) ----------
    Gate("table_join_left", (s, dir) => {
      val c = Table(t(s, dir, "customer")
        .withColumnRenamed("c_custkey", "custkey"), Seq("custkey"))
      val o = Table(t(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
      c.join(o, "left")
        .keyByAndAggregate(
          newKey = Seq("custkey" -> col("custkey")),
          exprs = Seq(
            "n_orders" -> count(col("o_orderkey")),
            "total" -> coalesce(dsum(col("o_totalprice")), lit(0.0)))).df
    },
      """SELECT c.c_custkey AS custkey,
        |  count(o.o_orderkey) AS n_orders,
        |  coalesce(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS total
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1""".stripMargin),

    // --- semi/anti joins (python `semi_join`/`anti_join`, `table.py:3260`) -
    Gate("table_semi_join", (s, dir) => {
      val c = Table(t(s, dir, "customer")
        .withColumnRenamed("c_custkey", "custkey"), Seq("custkey"))
      val o = Table(t(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
      c.semiJoin(o).selectFields("c_name", "c_acctbal").df
    },
      """SELECT c_custkey AS custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin),

    Gate("table_anti_join", (s, dir) => {
      val c = Table(t(s, dir, "customer")
        .withColumnRenamed("c_custkey", "custkey"), Seq("custkey"))
      val o = Table(t(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
      c.antiJoin(o).selectFields("c_name", "c_acctbal").df
    },
      """SELECT c_custkey AS custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin),

    // --- TableLeftJoinRightDistinct (`TableIR.scala:2315`): index join -----
    Gate("table_left_join_right_distinct", (s, dir) => {
      val n = Table(t(s, dir, "nation")
        .withColumnRenamed("n_nationkey", "nationkey"), Seq("nationkey"))
      val c = Table(t(s, dir, "customer")
        .withColumnRenamed("c_nationkey", "nationkey"), Seq("nationkey"))
      c.leftJoinRightDistinct(n.broadcastHint)
        .selectFields("c_custkey", "c_name", "n_name").df
    },
      """SELECT c.c_nationkey AS nationkey, c.c_custkey, c.c_name, n.n_name
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin),

    // --- TableUnion (`TableIR.scala:2414`) ----------------------------------
    Gate("table_union", (s, dir) => {
      val o = Table(t(s, dir, "orders"), Seq("o_orderkey"))
      o.filter(col("o_orderstatus") === lit("F"))
        .union(o.filter(col("o_totalprice") > lit(300000.0)))
        .selectFields("o_orderstatus", "o_totalprice").df
    },
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_totalprice > 300000.0""".stripMargin),

    // --- TableDistinct keep-first-in-key-order (`TableIR.scala:2459`) ------
    Gate("table_distinct", (s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_custkey"))
        .distinctByKey(tieBreak = Seq(col("o_orderdate"), col("o_orderkey")))
        .annotate("first_date" -> col("o_orderdate").cast("string"))
        .selectFields("o_orderkey", "first_date").df,
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_orderdate AS VARCHAR) AS first_date FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin),

    // --- TableOrderBy (`TableIR.scala:2528`) + head -------------------------
    Gate("table_order_by", (s, dir) =>
      Table(t(s, dir, "orders"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .head(100)
        .selectFields("o_orderkey", "o_totalprice").df,
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin),

    // --- TableHead in key order (`TableIR.scala:2156`) ----------------------
    Gate("table_head", (s, dir) =>
      Table(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .head(50)
        .selectFields("l_quantity").df,
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 50""".stripMargin),

    // --- TableExplode (`TableIR.scala:2394`) --------------------------------
    Gate("table_explode", (s, dir) =>
      Table(t(s, dir, "part"))
        .annotate("word" -> split(col("p_type"), " "))
        .explodeField("word")
        .keyByAndAggregate(
          newKey = Seq("word" -> col("word")),
          exprs = Seq("n" -> count(lit(1)))).df,
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
        |GROUP BY word""".stripMargin),

    // --- scans: running sum over key order (`hl.scan`, two-phase) ----------
    Gate("table_scan_sum", (s, dir) =>
      Scans.runningSum(
        t(s, dir, "orders").filter(col("o_custkey") < 100)
          .select("o_orderkey", "o_totalprice"),
        orderCols = Seq("o_orderkey"),
        value = col("o_totalprice").cast(DecimalType(18, 4)),
        outName = "running_total")
        .withColumn("running_total", round(col("running_total"), 4)),
      """SELECT o_orderkey, o_totalprice,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |    OVER (ORDER BY o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE), 4) AS running_total
        |FROM orders WHERE o_custkey < 100""".stripMargin),

    // --- add_index (table.py add_index): global contiguous 0-based row
    // index in key order via the two-phase scan -----------------------------
    Gate("table_add_index", (s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_orderkey")).addIndex("idx")
        .df.select(col("o_orderkey"), col("idx")),
      """SELECT o_orderkey,
        |  row_number() OVER (ORDER BY o_orderkey) - 1 AS idx
        |FROM orders""".stripMargin),

    // --- TableIntervalJoin (`TableIR.scala:2264`): point-in-interval -------
    Gate("table_interval_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val iv = t(s, dir, "region").select(
        col("r_name"),
        (col("r_regionkey").cast("double") * 2000.0 - 1000.0).as("lo"),
        (col("r_regionkey").cast("double") * 2000.0 + 1000.0).as("hi"))
      graft.operators.IntervalJoin.pointInInterval(
        c, col("c_acctbal"), iv, col("lo"), col("hi"))
        .groupBy(col("r_name")).agg(
          count(lit(1)).as("n"),
          dsum(col("c_acctbal")).as("bal_sum"))
    },
      """SELECT r.r_name, count(*) AS n,
        |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_sum
        |FROM customer c JOIN (
        |  SELECT r_name,
        |    CAST(r_regionkey AS DOUBLE) * 2000.0 - 1000.0 AS lo,
        |    CAST(r_regionkey AS DOUBLE) * 2000.0 + 1000.0 AS hi
        |  FROM region) r
        |ON c.c_acctbal >= r.lo AND c.c_acctbal < r.hi
        |GROUP BY r.r_name""".stripMargin),

    // --- TableFilterIntervals (`TableIR.scala:2590`): key-range pruning ----
    Gate("table_filter_intervals", (s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_orderkey"))
        .filterIntervals(Seq((1000L, 2000L), (5000L, 5500L)))
        .selectFields("o_custkey", "o_totalprice").df,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE (o_orderkey >= 1000 AND o_orderkey < 2000)
        |   OR (o_orderkey >= 5000 AND o_orderkey < 5500)""".stripMargin),

    // --- TableMultiWayZipJoin (`TableIR.scala:2291`) -----------------------
    Gate("table_multi_way_zip_join", (s, dir) => {
      val byStatus = Seq("F", "O", "P").map(st =>
        Table(t(s, dir, "orders").filter(col("o_orderstatus") === st))
          .keyByAndAggregate(
            newKey = Seq("custkey" -> col("o_custkey")),
            exprs = Seq("n" -> count(lit(1)))))
      byStatus.head.multiWayZipJoin(byStatus.tail)
        .annotate(
          "n_f" -> element_at(col("data"), 1)("n"),
          "n_o" -> element_at(col("data"), 2)("n"),
          "n_p" -> element_at(col("data"), 3)("n"))
        .selectFields("n_f", "n_o", "n_p").df.drop("data")
    },
      """SELECT o_custkey AS custkey,
        |  NULLIF(count(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS n_f,
        |  NULLIF(count(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS n_o,
        |  NULLIF(count(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS n_p
        |FROM orders GROUP BY 1""".stripMargin),

    // --- scan: prev_non_null (`agg/PrevNonNullAggregator.scala`) -----------
    Gate("table_scan_prev_non_null", (s, dir) =>
      operators.Scans.prevNonNull(
        t(s, dir, "orders").filter(col("o_custkey") < 100)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 3 === 0, col("o_totalprice"))
              .as("v")),
        orderCols = Seq("o_orderkey"), col("v"), "prev_v"),
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS v,
        |  last_value(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END
        |    IGNORE NULLS) OVER (ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v
        |FROM orders WHERE o_custkey < 100""".stripMargin),

    // --- skew diagnostic: hottest shuffle keys + ratio vs mean -------------
    Gate("table_skew_stats", (s, dir) =>
      Table(t(s, dir, "lineitem")).skewStats(Seq("l_returnflag"), 5)
        .withColumn("ratio", round(col("ratio"), 6)),
      """WITH c AS (SELECT l_returnflag, count(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) /
        |    (CAST((SELECT sum(cnt) FROM c) AS DOUBLE) /
        |     (SELECT count(*) FROM c)), 6) AS ratio
        |FROM c ORDER BY cnt DESC, l_returnflag LIMIT 5""".stripMargin),

    // --- skew diagnostic, byte-mass mode: wide-row-key skew that count
    // mode misses (equal counts, 100x row width) ---------------------------
    Gate("table_skew_stats_bytes", (s, dir) =>
      Table(t(s, dir, "documents")).skewStatsByMass(Seq("lang"),
        octet_length(col("text")), 5)
        .withColumn("mass", col("mass").cast("long"))
        .withColumn("ratio", round(col("ratio"), 6)),
      """WITH c AS (SELECT lang, count(*) AS cnt,
        |    CAST(sum(strlen(text)) AS DOUBLE) AS mass
        |  FROM documents GROUP BY 1)
        |SELECT lang, cnt, CAST(mass AS BIGINT) AS mass,
        |  ROUND(mass / ((SELECT sum(mass) FROM c) /
        |    (SELECT count(*) FROM c)), 6) AS ratio
        |FROM c ORDER BY mass DESC, lang LIMIT 5""".stripMargin),

    // --- query_table (functions.py query_table / StagedIndexReader):
    // keyed range read of the native format; parquet stats skip files.
    // The fixture WRITE is memoized per (process, sf dir) so the timed
    // body — and Bench's post-burn-in iterations — measure the indexed
    // READ path; write throughput is covered by matrix_write_read ---------
    Gate("query_table", (s, dir) => {
      val tmp = qtFixture(s, dir)
      Table.queryTable(s, tmp, 1000L, 3000L)
        .selectFields("o_custkey", "o_totalprice").df
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey >= 1000 AND o_orderkey < 3000""".stripMargin),

    // --- deterministic seeded RNG: fixed keys 1..20, oracle = precomputed
    // expected constants (the hash stream is deterministic by construction) -
    Gate("rand_seeded", (s, _) => {
      import graft.functions.Rand
      s.range(1, 21).select(col("id").as("key"),
        round(Rand.runif(42L, col("id")), 8).as("u"),
        round(Rand.rnorm(42L, col("id")), 8).as("z"),
        Rand.rint32(7L, 10, col("id")).as("k"))
    },
      """SELECT CAST(t.key AS BIGINT) AS key, CAST(t.u AS DOUBLE) AS u,
        |  CAST(t.z AS DOUBLE) AS z, CAST(t.k AS INTEGER) AS k
        |FROM (VALUES
        |  (1, 0.33186461, -0.60772329, 1),
        |  (2, 0.75615838, 1.54970465, 2),
        |  (3, 0.93336231, -0.15861265, 1),
        |  (4, 0.76925208, 1.22298104, 9),
        |  (5, 0.74253157, -0.60624765, 8),
        |  (6, 0.00231913, 1.12024897, 9),
        |  (7, 0.29870668, -0.49902001, 9),
        |  (8, 0.2027057, -2.12302872, 3),
        |  (9, 0.23798116, 1.37888747, 0),
        |  (10, 0.94389771, -0.65435269, 6),
        |  (11, 0.04017068, 0.09840709, 3),
        |  (12, 0.73236074, -0.65467413, 1),
        |  (13, 0.00188715, -0.262718, 7),
        |  (14, 0.27482572, -0.0521984, 8),
        |  (15, 0.54803939, 1.31143986, 4),
        |  (16, 0.10978707, 0.62707178, 0),
        |  (17, 0.88627237, -0.59608059, 6),
        |  (18, 0.01811706, -0.45357712, 2),
        |  (19, 0.64378512, -0.26935963, 6),
        |  (20, 0.714944, -0.47328278, 4)) t(key, u, z, k)""".stripMargin),

    // --- segment_intervals (reference misc.py:425): split interval keys
    // at a broadcast point grid; codegen'd per-row segmentation + explode --
    Gate("table_segment_intervals", (s, dir) => {
      val iv = t(s, dir, "orders")
        .select(pmod(col("o_custkey"), lit(50)).cast("int").as("k"))
        .distinct()
        .withColumn("interval", graft.functions.Intervals.interval(
          col("k") * 97,
          col("k") * 97 + (pmod(col("k"), lit(11)) + 1) * 40))
      methods.Misc.segmentIntervals(
        Table(iv, Seq("k")), points = (0 to 83).map(_ * 60))
        .df.select(col("k"),
          col("interval")("start").as("st"),
          col("interval")("end").as("en"))
    },
      // the reference algorithm in SQL: lower/higher bounds against the
      // numbered point grid, then first/middle/last sub-intervals
      """WITH b AS (
        |  SELECT DISTINCT CAST(o_custkey % 50 AS INTEGER) AS k FROM orders),
        |iv AS (SELECT k, k*97 AS s, k*97 + (k%11+1)*40 AS e FROM b),
        |np AS (SELECT CAST(60*g AS INTEGER) AS p, CAST(g AS INTEGER) AS rn
        |  FROM generate_series(0, 83) t(g)),
        |bounds AS (
        |  SELECT k, s, e,
        |    (SELECT count(*) FROM np WHERE p < s)
        |      + (CASE WHEN EXISTS (SELECT 1 FROM np WHERE p = s)
        |          THEN 1 ELSE 0 END) AS lo,
        |    (SELECT count(*) FROM np WHERE p < e)
        |      - (CASE WHEN EXISTS (SELECT 1 FROM np WHERE p = e)
        |          THEN 1 ELSE 0 END) AS hi
        |  FROM iv),
        |cut AS (SELECT * FROM bounds WHERE lo < hi)
        |SELECT k, s AS st, e AS en FROM bounds WHERE lo >= hi
        |UNION ALL
        |SELECT k, s AS st,
        |  (SELECT p FROM np WHERE rn = cut.lo) AS en FROM cut
        |UNION ALL
        |SELECT c.k, n1.p AS st, n2.p AS en FROM cut c
        |  JOIN np n1 ON n1.rn >= c.lo AND n1.rn <= c.hi - 2
        |  JOIN np n2 ON n2.rn = n1.rn + 1
        |UNION ALL
        |SELECT k,
        |  (SELECT p FROM np WHERE rn = cut.hi - 1) AS st, e AS en
        |FROM cut""".stripMargin),

    // --- import_lines (reference impex.py:1898) ---------------------------
    Gate("table_import_lines", (s, _) =>
      sources.TextTable.importLines(s, vcfFixture).df.select(col("text")),
      s"""SELECT line AS text
        |FROM read_csv('$vcfFixture', delim='', header=false, quote='',
        |  columns={'line':'VARCHAR'})""".stripMargin),

    // --- locus-aware filter_intervals over the (contig, position) key -----
    Gate("table_filter_locus_intervals", (s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      sources.Vcf.read(s, vcfFixture).rowsTable
        .filterLocusIntervals(Seq((("chr1", 1500), ("chr2", 1000))))
        .df.select(col("contig"), col("position"), col("ref"), col("qual"))
    }, {
      s"""WITH $sampleVcfCte
        |SELECT DISTINCT contig, position, ref, qual
        |FROM raw
        |WHERE (contig = 'chr1' AND position >= 1500)
        |   OR (contig = 'chr2' AND position < 1000)""".stripMargin
    }),

    // --- import_gtf (experimental/import_gtf.py): GTF/GFF2 import with
    // attribute-tag widening, contig normalization, invalid-contig skip --
    Gate("table_gtf_import", (s, _) => {
      val ht = sources.Gtf.read(s,
        Fixtures.path("oracle_annotations.gtf"),
        Some(graft.functions.ReferenceGenome.GRCh38),
        skipInvalidContigs = true).df
      ht.select(
        col("interval")("contig").as("contig"),
        col("interval")("start").as("start"),
        col("interval")("end").as("end"),
        col("source"), col("feature"), col("score"), col("strand"),
        col("frame"), col("gene_id"), col("gene_name"),
        col("transcript_id"), col("exon_number"), col("level"))
    },
      """SELECT * FROM (VALUES
        |  ('chr1', 100, 200, 'HAVANA', 'gene', CAST(NULL AS DOUBLE),
        |    '+', CAST(NULL AS INTEGER), 'G1', 'ALPHA',
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), '2'),
        |  ('chr1', 100, 150, 'HAVANA', 'transcript', 9.5, '+', 0,
        |    'G1', 'ALPHA', 'T1', CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR)),
        |  ('chr2', 300, 400, 'ENSEMBL', 'gene', CAST(NULL AS DOUBLE),
        |    '-', CAST(NULL AS INTEGER), 'G2', 'BETA',
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR)),
        |  ('chr2', 310, 350, 'ENSEMBL', 'exon', CAST(NULL AS DOUBLE),
        |    '-', 1, 'G2', CAST(NULL AS VARCHAR), 'T2', '1',
        |    CAST(NULL AS VARCHAR)))
        |v(contig, start, "end", source, feature, score, strand, frame,
        |  gene_id, gene_name, transcript_id, exon_number, level)
        |""".stripMargin),

    // --- TableRename (TableIR.scala:2570) ---------------------------------
    Gate("table_rename", (s, dir) =>
      Table(t(s, dir, "region"), Seq("r_regionkey"))
        .rename("r_name" -> "region_name").df
        .select(col("r_regionkey"), col("region_name")),
      "SELECT r_regionkey, r_name AS region_name FROM region"),

    // --- TableRepartition (TableIR.scala:2184): row set invariant ---------
    Gate("table_repartition", (s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_orderkey"))
        .repartitionTo(7, shuffle = true).df
        .select(col("o_orderkey"), col("o_totalprice")),
      "SELECT o_orderkey, o_totalprice FROM orders"),

    // --- retention cohorts: first-seen day cohorts x activity-day
    // offsets, exact distinct user counts ----------------------------------
    Gate("events_retention", (s, dir) =>
      streaming.Events.retentionCohorts(t(s, dir, "events"),
        bucketNs = 86400L * 1000000000L),
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS t FROM events),
        |f AS (
        |  SELECT user_id, min(t) // 86400000000000 AS cohort
        |  FROM e GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT user_id, t // 86400000000000 AS bucket
        |  FROM e)
        |SELECT cohort, bucket - cohort AS offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM f JOIN a USING (user_id) GROUP BY 1, 2""".stripMargin),

    // --- funnel analysis: earliest view -> click -> purchase per user
    // (greedy min-after-previous, the earliest-completion semantics) --------
    Gate("events_funnel", (s, dir) =>
      streaming.Events.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase")),
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |s1 AS (
        |  SELECT user_id, min(t) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, s1.t1, min(t) AS t2
        |  FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND t > t1 GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.user_id, s2.t1, s2.t2, min(t) AS t3
        |  FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND t > t2 GROUP BY 1, 2, 3)
        |SELECT user_id, t1, t2, t3 FROM s3""".stripMargin),

    // --- skew-salted equi-join: identical results to the plain join,
    // with the hot keys fanned over deterministic salts -------------------
    // --- as-of join (merge_asof / kdb aj — an operator Spark lacks):
    // each click joined to the user's most recent purchase at-or-
    // before it, within a 1-hour tolerance. The union-and-carry plan
    // shuffles ONCE on the user key — no range join, no per-key
    // quadratic work; DuckDB's native ASOF JOIN is the oracle ---------------
    Gate("table_asof_join", (s, dir) => {
      val (clicks, purch) = asofFixture(s, dir)
      operators.AsOfJoin.backward(clicks, purch, Seq("user_id"),
        "tns", "p_tns", Seq("p_event_id", "p_value"),
        toleranceNs = Some(3600L * 1000000000L))
    },
      s"""WITH $asofCtes,
        |${asofJoinCte(">=")}
        |SELECT event_id, user_id, tns,
        |  CASE WHEN tns - p_tns <= 3600000000000
        |    THEN p_event_id END AS p_event_id,
        |  CASE WHEN tns - p_tns <= 3600000000000
        |    THEN p_value END AS p_value
        |FROM j""".stripMargin),

    // --- forward direction (merge_asof direction='forward'): each
    // click joined to the user's NEXT purchase at-or-after it, within
    // one hour — the same union-and-carry scan with time reversed ----------
    Gate("table_asof_forward", (s, dir) => {
      val (clicks, purch) = asofFixture(s, dir)
      operators.AsOfJoin.forward(clicks, purch, Seq("user_id"),
        "tns", "p_tns", Seq("p_event_id", "p_value"),
        toleranceNs = Some(3600L * 1000000000L))
    },
      s"""WITH $asofCtes,
        |${asofJoinCte("<=")}
        |SELECT event_id, user_id, tns,
        |  CASE WHEN p_tns - tns <= 3600000000000
        |    THEN p_event_id END AS p_event_id,
        |  CASE WHEN p_tns - tns <= 3600000000000
        |    THEN p_value END AS p_value
        |FROM j""".stripMargin),

    // --- nearest direction (merge_asof direction='nearest', ties →
    // backward): closer of the previous/next purchase within one hour.
    // Both carries share one key exchange (plan-audited) --------------------
    Gate("table_asof_nearest", (s, dir) => {
      val (clicks, purch) = asofFixture(s, dir)
      operators.AsOfJoin.nearest(clicks, purch, Seq("user_id"),
        "tns", "p_tns", Seq("p_event_id", "p_value"),
        toleranceNs = Some(3600L * 1000000000L))
    },
      s"""WITH $asofCtes,
        |b AS (
        |  SELECT c.event_id, c.user_id, c.tns,
        |    CASE WHEN c.tns - p.p_tns <= 3600000000000
        |      THEN p.p_event_id END AS b_eid,
        |    CASE WHEN c.tns - p.p_tns <= 3600000000000
        |      THEN p.p_tns END AS b_tns,
        |    CASE WHEN c.tns - p.p_tns <= 3600000000000
        |      THEN p.p_value END AS b_val
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.tns >= p.p_tns),
        |f AS (
        |  SELECT c.event_id,
        |    CASE WHEN p.p_tns - c.tns <= 3600000000000
        |      THEN p.p_event_id END AS f_eid,
        |    CASE WHEN p.p_tns - c.tns <= 3600000000000
        |      THEN p.p_tns END AS f_tns,
        |    CASE WHEN p.p_tns - c.tns <= 3600000000000
        |      THEN p.p_value END AS f_val
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.tns <= p.p_tns)
        |SELECT b.event_id, b.user_id, b.tns,
        |  CASE WHEN b_tns IS NOT NULL AND (f_tns IS NULL
        |      OR b.tns - b_tns <= f_tns - b.tns)
        |    THEN b_eid ELSE f_eid END AS p_event_id,
        |  CASE WHEN b_tns IS NOT NULL AND (f_tns IS NULL
        |      OR b.tns - b_tns <= f_tns - b.tns)
        |    THEN b_val ELSE f_val END AS p_value
        |FROM b JOIN f USING (event_id)""".stripMargin),

    Gate("table_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      operators.Skew.saltedJoin(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders, Seq("o_orderkey"), saltFactor = 8)
    },
      """SELECT l.l_orderkey AS o_orderkey, l.l_partkey, l.l_quantity,
        |  o.o_custkey
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin),

    // --- TableMapPartitions (Table.scala:176): per-partition imperative
    // row transform through the row encoder ---------------------------------
    Gate("table_map_partitions", (s, dir) => {
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      Table(n).mapPartitionsRows(
        it => it.map(r => org.apache.spark.sql.Row(
          r.getInt(0), r.getString(1).toLowerCase)),
        n.schema).df
    },
      "SELECT n_nationkey, lower(n_name) AS n_name FROM nation"),

    // --- maximal_independent_set (misc.py; driver-local by contract,
    // matching the reference): greedy max-degree removal with
    // deterministic ties over the bipartite nation-region graph — every
    // region vertex has degree >= 1 and falls, so the surviving set has
    // the closed form the oracle states ------------------------------------
    Gate("table_mis", (s, dir) => {
      val edges = t(s, dir, "nation").select(
        concat(lit("n"), col("n_nationkey")).as("i"),
        concat(lit("r"), col("n_regionkey")).as("j"))
      val keep = methods.Misc.maximalIndependentSet(edges)
      import s.implicits._
      keep.toSeq.sorted.toDF("node")
    },
      // greedy MIS on the bipartite nation-region graph: every region
      // vertex has positive degree and higher degree than any nation, so
      // the algorithm removes exactly the region vertices — survivors are
      // all nation vertices (closed form; determinism is the gate's point)
      "SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS node FROM nation"),

    // --- Table.summarize (table.py:4566): per-field profile in ONE
    // aggregation job (all stats ride a single map-side combine) -----------
    Gate("table_summarize", (s, dir) =>
      Table(t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_returnflag")).summarize(),
      """SELECT 'l_orderkey' AS field, 'bigint' AS dtype,
        |  count(l_orderkey) AS n_defined,
        |  count(DISTINCT l_orderkey) AS n_distinct,
        |  round(CAST(min(l_orderkey) AS DOUBLE), 6) AS min_num,
        |  round(CAST(max(l_orderkey) AS DOUBLE), 6) AS max_num,
        |  round(CAST(sum(CAST(l_orderkey AS DECIMAL(18,4))) AS DOUBLE)
        |    / count(l_orderkey), 6) AS mean,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_linenumber', 'int', count(l_linenumber),
        |  count(DISTINCT l_linenumber),
        |  round(CAST(min(l_linenumber) AS DOUBLE), 6),
        |  round(CAST(max(l_linenumber) AS DOUBLE), 6),
        |  round(CAST(sum(CAST(l_linenumber AS DECIMAL(18,4))) AS DOUBLE)
        |    / count(l_linenumber), 6),
        |  NULL, NULL
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', 'double', count(l_quantity),
        |  count(DISTINCT l_quantity),
        |  round(CAST(min(l_quantity) AS DOUBLE), 6),
        |  round(CAST(max(l_quantity) AS DOUBLE), 6),
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    / count(l_quantity), 6),
        |  NULL, NULL
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', 'string', count(l_returnflag),
        |  count(DISTINCT l_returnflag),
        |  NULL, NULL, NULL, min(l_returnflag), max(l_returnflag)
        |FROM lineitem""".stripMargin),

    // --- TableTail (TableIR.scala:2167): last n in key order ---------------
    Gate("table_tail", (s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_orderkey")).tail(100).df
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey DESC LIMIT 100""".stripMargin),

    // --- TableRange (TableIR.scala:2123) ----------------------------------
    Gate("table_range", (s, _) =>
      Table.range(s, 1000, 8)
        .annotate("sq" -> (col("idx") * col("idx")))
        .filter(col("idx") % 7 === 3).df,
      """SELECT CAST(idx AS BIGINT) AS idx,
        |  CAST(idx * idx AS BIGINT) AS sq
        |FROM (SELECT unnest(range(0, 1000)) AS idx)
        |WHERE idx % 7 = 3""".stripMargin),

    // --- TableParallelize (TableIR.scala:2024) ----------------------------
    Gate("table_parallelize", (s, _) => {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      Table.parallelize(s,
        Seq(org.apache.spark.sql.Row(1, "alpha"),
          org.apache.spark.sql.Row(2, "beta"),
          org.apache.spark.sql.Row(3, null)),
        StructType(Seq(StructField("k", IntegerType),
          StructField("name", StringType)))).df
    },
      """SELECT CAST(k AS INTEGER) AS k, name
        |FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, NULL))
        |AS t(k, name)""".stripMargin),

    // --- TableMapGlobals (TableIR.scala:2380): globals surface in row
    // expressions as broadcast literals ------------------------------------
    Gate("table_map_globals", (s, dir) => {
      val t0 = Table(t(s, dir, "region"), Seq("r_regionkey"))
        .annotateGlobals("source" -> "tpch", "version" -> 4)
      t0.annotate(
        "src" -> t0.global("source"),
        "ver" -> t0.global("version"))
        .df.select(col("r_regionkey"), col("src"), col("ver"))
    },
      """SELECT r_regionkey, 'tpch' AS src, 4 AS ver FROM region"""),

    // --- external-process pipe (TableToTableApply / hail `pipe` idiom):
    // rows → TSV → subprocess stdin → stdout → typed rows. `cat` is the
    // identity annotator; the framing is what's under test ----------------
    Gate("table_pipe_cat", (s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))
      Table(t(s, dir, "region").select(col("r_regionkey"), col("r_name")),
        Seq("r_regionkey"))
        .pipeTsv(Seq("cat"), schema).df
    },
      "SELECT r_regionkey, r_name FROM region"),

    // --- tidyr spread (experimental/tidyr.py): long -> wide pivot; the
    // linestatus levels become columns ---------------------------------------
    Gate("tidyr_spread", (s, dir) => {
      val long = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity"))
          .cast("decimal(18,4)").cast("double").as("v"))
        .select("l_returnflag", "l_linestatus", "v")
      operators.Tidyr.spread(Table(long, Seq("l_returnflag")),
        "l_linestatus", "v").df
    },
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)
        |    AS DECIMAL(18,4)) AS DOUBLE) AS F,
        |  CAST(CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)
        |    AS DECIMAL(18,4)) AS DOUBLE) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // --- tidyr gather (experimental/tidyr.py): wide -> long ----------------
    Gate("tidyr_gather", (s, dir) => {
      val wide = t(s, dir, "part").filter(col("p_partkey") <= 100)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size"),
          col("p_retailprice").cast("double").as("retail"))
      operators.Tidyr.gather(Table(wide, Seq("p_partkey")),
        "field", "value", "size", "retail").df
    },
      """SELECT p_partkey, 'size' AS field,
        |  CAST(p_size AS DOUBLE) AS value
        |FROM part WHERE p_partkey <= 100
        |UNION ALL
        |SELECT p_partkey, 'retail' AS field,
        |  CAST(p_retailprice AS DOUBLE) AS value
        |FROM part WHERE p_partkey <= 100""".stripMargin),

    // --- TableGen (`TableIR.scala:2094`): one partition per context with
    // a generator body ------------------------------------------------------
    Gate("table_gen", (s, _) => {
      import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
      Table.gen(s, 0 until 8, StructType(Seq(
        StructField("ctx", IntegerType, false),
        StructField("idx", IntegerType, false),
        StructField("v", LongType, false)))) { c =>
        (0 until c).iterator.map(j => Row(c, j, c.toLong * 100 + j))
      }.df
    },
      """SELECT CAST(c AS INTEGER) AS ctx, CAST(j AS INTEGER) AS idx,
        |  CAST(c * 100 + j AS BIGINT) AS v
        |FROM (
        |  SELECT c, unnest(range(0, c)) AS j
        |  FROM (SELECT unnest(range(0, 8)) AS c))""".stripMargin),

    // --- UDF/UDAF surface (§2.10, reference define_function /
    // register_ir_function): a named scalar UDF and a typed Aggregator
    // UDAF, both registered and invoked through spark.sql ------------------
    Gate("udf_define_function", (s, dir) => {
      s.udf.register("graft_tri", (n: Long) => n * (n + 1) / 2)
      val gm = new org.apache.spark.sql.expressions.Aggregator[
          Double, (Double, Long), Double] {
        def zero = (0.0, 0L)
        def reduce(b: (Double, Long), x: Double) = (b._1 + math.log(x), b._2 + 1)
        def merge(a: (Double, Long), b: (Double, Long)) =
          (a._1 + b._1, a._2 + b._2)
        def finish(b: (Double, Long)): Double =
          if (b._2 == 0) Double.NaN else math.exp(b._1 / b._2)
        def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong)
        def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
      }
      s.udf.register("graft_geomean", udaf(gm))
      t(s, dir, "region").createOrReplaceTempView("udf_region_v")
      s.sql("""SELECT r_regionkey,
        graft_tri(CAST(r_regionkey AS BIGINT)) AS tri,
        round(graft_geomean(CAST(r_regionkey AS DOUBLE) + 1.0), 6) AS gm
        FROM udf_region_v GROUP BY r_regionkey""")
    },
      """SELECT r_regionkey,
        |  (CAST(r_regionkey AS BIGINT) * (r_regionkey + 1)) // 2 AS tri,
        |  round(exp(ln(CAST(r_regionkey AS DOUBLE) + 1.0)), 6) AS gm
        |FROM region""".stripMargin),

    // --- RelationalLet / CSE (`cached`): naming a shared intermediate
    // must not change results --------------------------------------------
    Gate("table_cached", (s, dir) => {
      val base = Table(t(s, dir, "orders")
        .filter(col("o_orderkey") <= 5000), Seq("o_orderkey")).cached()
      val hi = base.df.filter(col("o_totalprice") > 100000.0)
        .select(col("o_orderkey"), lit("hi").as("band"))
      val lo = base.df.filter(col("o_totalprice") <= 100000.0)
        .select(col("o_orderkey"), lit("lo").as("band"))
      val out = hi.unionByName(lo)
      out.count() // materialize while cached
      base.unpersist()
      out
    },
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 100000.0 THEN 'hi' ELSE 'lo' END
        |    AS band
        |FROM orders WHERE o_orderkey <= 5000""".stripMargin)
  )
}
