package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

import graft.operators.Scans

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` keys are named after SURVEY.md §2 operators; each has a DuckDB
  * oracle in `oracleSql` unless marked rows-only. Double SUMs go through a
  * DECIMAL(18,4) cast in BOTH engines: decimal addition is exact and
  * order-independent, so the hash compare cannot flake on float summation
  * order; values stay < 2^53/1e4 so the final cast back to DOUBLE is exact.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact, order-independent sum of a double column (see scaladoc above). */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** lineitem viewed as a MatrixTable: rows = orders, cols = line numbers
    * 1..7, entries = per-cell (qty, price) sums — the §2.2 parity fixture.
    * The synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
    * cells pre-aggregate; sums are decimal-cleaned for cross-engine
    * determinism (see `dsum`). */
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

  private val VcfFixture = "/root/repo/src/test/resources/oracle_sample.vcf"

  /** Deterministic VEP stand-in for the `vep_annotate` gate: emits one
    * VEP --json object per VCF input line with closed-form annotations
    * the DuckDB oracle recomputes from the fixture. */
  private val VepStandInCmd = Seq("awk", "-F", "\t",
    """{
      |  line=$0; gsub(/\t/,"\\t",line);
      |  if (length($4)==1 && length($5)==1) msc="missense_variant";
      |  else msc="indel";
      |  printf("{\"input\":\"%s\",\"assembly_name\":\"GRCh38\",\"seq_region_name\":\"%s\",\"start\":%d,\"end\":%d,\"allele_string\":\"%s/%s\",\"strand\":1,\"most_severe_consequence\":\"%s\",\"transcript_consequences\":[{\"allele_num\":1,\"gene_id\":\"GENE%d\",\"canonical\":1,\"consequence_terms\":[\"%s\"]}]}\n",
      |    line, $1, $2, $2+length($4)-1, $4, $5, msc, $2%5, msc);
      |}""".stripMargin)
  /** Deterministic Nirvana stand-in: one positions-JSON object per VCF
    * input line (Nirvana does NOT echo the input; the key comes from the
    * JSON's own chromosome/position/refAllele/altAlleles), closed-form
    * annotations the DuckDB oracle recomputes from the fixture. */
  private val NirvanaStandInCmd = Seq("awk", "-F", "\t",
    """{
      |  n=split($5,a,","); alts="";
      |  for(i=1;i<=n;i++){alts=alts "\"" a[i] "\""; if(i<n) alts=alts ","}
      |  if (length($4)==1 && length($5)==1) vt="SNV"; else vt="indel";
      |  printf("{\"chromosome\":\"%s\",\"refAllele\":\"%s\",\"position\":%d,\"altAlleles\":[%s],\"cytogeneticBand\":\"%sq%d\",\"variants\":[{\"altAllele\":\"%s\",\"refAllele\":\"%s\",\"chromosome\":\"%s\",\"begin\":%d,\"end\":%d,\"phylopScore\":%d.5,\"variantType\":\"%s\",\"vid\":\"%s:%d:%s:%s\",\"transcripts\":[{\"transcript\":\"TX%d\",\"source\":\"Ensembl\",\"geneId\":\"GENE%d\",\"isCanonical\":true,\"consequence\":[\"%s\"]}]}]}\n",
      |    $1, $4, $2, alts, $1, $2%30, a[1], $4, $1, $2,
      |    $2+length($4)-1, $2%7, vt, $1, $2, $4, $5, $2%3, $2%5, vt);
      |}""".stripMargin)

  private val VcfMultiFixture = "/root/repo/src/test/resources/oracle_multi.vcf"

  /** Literal k=2 PC scores for the `geno_pc_relate_pcs` gate, aligned
    * with fixture samples S1..S5. Literal (not PCA-derived) so the
    * oracle can embed the hat matrix X(XᵀX)⁻¹Xᵀ as constants. */
  private val PcRelateScores: IndexedSeq[Array[Double]] = IndexedSeq(
    Array(-2.0, 1.0), Array(-1.0, -1.0), Array(0.0, 1.0),
    Array(1.0, -1.0), Array(2.0, 1.0))

  /** Golden oracles for the BPE gates (literal VALUES; the driver-side
    * merge loop is not SQL-expressible): regenerate with
    * `tools/gen_goldens.py` after a testdata change. The algorithm
    * itself is proven against the classic worked example (Sennrich
    * 2016) in PipelineSpec. */
  /** Shared bigram-LM oracle CTEs (see `LangModel.bigramNll`): ends in
    * `sc(doc_id, n_bigrams, sum_nll, sum_nll_units)` — the units column
    * is the exact BIGINT 1e-4-unit form of the decimal sum, the base of
    * integer rank keys downstream. */
  private val LmNllCtes: String =
    """tok AS (
      |  SELECT doc_id AS doc, i AS pos, sp[i] AS w
      |  FROM (SELECT doc_id,
      |          string_split_regex(lower(text), ' +') AS sp
      |        FROM documents),
      |    unnest(range(1, len(sp) + 1)) AS u(i)),
      |nt AS (
      |  SELECT doc, w,
      |    row_number() OVER (PARTITION BY doc ORDER BY pos) AS rn
      |  FROM tok WHERE w <> ''),
      |bg AS (
      |  SELECT doc, w1, w2 FROM (
      |    SELECT doc, w AS w1,
      |      lead(w) OVER (PARTITION BY doc ORDER BY rn) AS w2
      |    FROM nt) WHERE w2 IS NOT NULL),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
      |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
      |sc AS (
      |  SELECT bg.doc AS doc_id,
      |    CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(CAST(round(-ln((big.c12 + 0.5)
      |      / (uni.c1 + 0.5 * vv.v)), 4) AS DECIMAL(18,4))) AS DOUBLE)
      |      AS sum_nll,
      |    CAST(sum(CAST(round(-ln((big.c12 + 0.5)
      |      / (uni.c1 + 0.5 * vv.v)), 4) AS DECIMAL(18,4))) * 10000
      |      AS BIGINT) AS sum_nll_units
      |  FROM bg
      |    JOIN big ON bg.w1 = big.w1 AND bg.w2 = big.w2
      |    JOIN uni ON bg.w1 = uni.w1, vv
      |  GROUP BY bg.doc)""".stripMargin

  private val CompressRatioGolden: String =
    """(0, 0.6306), (1, 0.4458), (2, 0.5407), (3, 0.6735), (4, 0.556),
      |  (5, 0.5159), (6, 0.8205), (7, 0.4627), (8, 0.4277),
      |  (9, 0.4604), (10, 0.5794), (11, 0.5), (12, 0.4713),
      |  (13, 0.474), (14, 0.4202), (15, 0.5614), (16, 0.8333),
      |  (17, 0.4554), (18, 0.4515), (19, 1.0175), (20, 0.4543),
      |  (21, 0.5576), (22, 0.4405), (23, 0.6566), (24, 0.3981),
      |  (25, 0.4198), (26, 0.9683), (27, 0.4913), (28, 0.494),
      |  (29, 0.5918)""".stripMargin

  private val QualityClassifierGolden: String =
    """(0, 0.5092), (1, 0.4126), (2, 0.4393), (3, 0.4494), (4, 0.4286),
      |  (5, 0.4196), (6, 0.4821), (7, 0.4185), (8, 0.4151),
      |  (9, 0.4525), (10, 0.4391), (11, 0.4612), (12, 0.4461),
      |  (13, 0.4007), (14, 0.404), (15, 0.4293), (16, 0.4326),
      |  (17, 0.4236), (18, 0.4115), (19, 0.4891), (20, 0.3962),
      |  (21, 0.3967), (22, 0.4146), (23, 0.4369), (24, 0.4219),
      |  (25, 0.4386), (26, 0.4781), (27, 0.4404), (28, 0.4231),
      |  (29, 0.4098)""".stripMargin

  private val BpeMergesGolden: String =
    """(0, 'e', 'r'), (1, 'e', '</w>'), (2, 'n', '</w>'),
      |  (3, 'er', '</w>'), (4, 'o', 'w'), (5, 'ow', '</w>'),
      |  (6, 'o', 'r'), (7, 's', 't'), (8, 'h', '</w>'),
      |  (9, 'a', 't'), (10, 'l', 'u'), (11, 'i', 'n'),
      |  (12, 'a', '</w>'), (13, 'g', '</w>'), (14, 'y', '</w>'),
      |  (15, 'a', 'r'), (16, 'p', 'ar'), (17, 't', '</w>'),
      |  (18, 'i', 'n</w>'), (19, 'j', 'o'), (20, 'jo', 'in</w>'),
      |  (21, 'a', 's'), (22, 'as', 'h</w>'),
      |  (23, 'h', 'ash</w>')""".stripMargin

  private val BpeEncodeGolden: String =
    """(0, 104), (1, 277), (2, 181), (3, 103), (4, 169), (5, 221),
      |  (6, 58), (7, 263), (8, 324), (9, 260), (10, 147), (11, 199),
      |  (12, 223), (13, 240), (14, 349), (15, 159), (16, 65),
      |  (17, 291), (18, 293), (19, 44), (20, 262), (21, 134),
      |  (22, 329), (23, 112)""".stripMargin

  /** Golden oracle for `lmm_kinship` (literal VALUES): regenerate with
    * `tools/gen_goldens.py` after an intentional numeric change. The
    * numbers are independently reproduced — dense non-spectral REML
    * replay, 1e-4 agreement — by LmmSpec "dense REML replay". */
  private val LmmKinshipGolden: String =
    """SELECT contig, CAST(position AS INTEGER) AS position, ref,
      |  CAST(beta AS DOUBLE) AS beta, CAST(chi_sq AS DOUBLE) AS chi_sq
      |FROM (VALUES ('chr1', 215, 'C', 0.65158, 0.2149),
      |  ('chr1', 333, 'G', 0.38904, 0.6565),
      |  ('chr1', 612, 'G', -0.67751, 0.5559),
      |  ('chr1', 993, 'T', 0.09222, 0.0215),
      |  ('chr1', 1161, 'C', -0.10126, 0.0058),
      |  ('chr1', 1436, 'C', 1.88496, 3.0917),
      |  ('chr1', 1568, 'A', 0.6482, 0.4271),
      |  ('chr1', 2022, 'G', -0.79061, 0.8113),
      |  ('chr1', 2242, 'A', 0.0, 0.0),
      |  ('chr1', 2548, 'C', -0.03153, 0.0018),
      |  ('chr1', 2882, 'T', 0.63682, 0.1958),
      |  ('chr1', 3093, 'A', 0.18443, 0.0215),
      |  ('chr1', 3503, 'A', 0.20026, 0.047),
      |  ('chr1', 3646, 'T', 0.18417, 0.0874),
      |  ('chr1', 3787, 'G', -0.79061, 0.8113),
      |  ('chr1', 4057, 'C', -1.88496, 3.0917),
      |  ('chr1', 4153, 'G', 0.0, 0.0),
      |  ('chr1', 4271, 'G', 0.21397, 0.0889),
      |  ('chr2', 295, 'G', -0.29853, 0.1924),
      |  ('chr2', 353, 'G', 0.22945, 0.1097),
      |  ('chr2', 564, 'A', -0.20617, 0.024),
      |  ('chr2', 628, 'T', 0.34989, 0.0829),
      |  ('chr2', 1093, 'T', 0.79061, 0.8113),
      |  ('chr2', 1465, 'C', -0.13479, 0.0315),
      |  ('chr2', 1515, 'C', -0.67751, 0.5559),
      |  ('chr2', 1593, 'A', -1.40006, 9.1919),
      |  ('chr2', 2032, 'G', 0.18443, 0.0215),
      |  ('chr2', 2453, 'T', 0.63682, 0.1958),
      |  ('chr2', 2895, 'T', -0.53862, 0.5959),
      |  ('chr2', 3188, 'T', -0.18443, 0.0215))
      |  AS t(contig, position, ref, beta, chi_sq)""".stripMargin

  /** Golden per-group SKAT p-values for `geno_skat_p` (see
    * `tools/gen_goldens.py`; imhofTail exactness proven in SkatSpec). */
  private val SkatPGolden: String =
    "('chr1', 0.463908), ('chr2', 0.381543)"

  /** DuckDB CTE parsing a committed VCF fixture into one row per
    * (variant, sample) with gt/a1/a2/dp — shared by the genetics oracles. */
  private def vcfParseCte(path: String, skip: Int, samples: Seq[String])
      : String = {
    val cols = samples.map(s => s"'$s':'VARCHAR'").mkString(",")
    val unions = samples.map(s =>
      s"SELECT contig, position, ref, alts, '$s' AS s, $s AS e FROM raw")
      .mkString("\n  UNION ALL ")
    s"""raw AS (
       |  SELECT * FROM read_csv('$path', delim='\t', header=false,
       |    skip=$skip,
       |    columns={'contig':'VARCHAR','position':'INTEGER',
       |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
       |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
       |      'fmt':'VARCHAR',$cols})),
       |unp AS ($unions),
       |pq AS (
       |  SELECT contig, position, ref, alts, s,
       |    string_split(e, ':')[1] AS gt,
       |    TRY_CAST(string_split(e, ':')[2] AS INTEGER) AS dp
       |  FROM unp),
       |q AS (
       |  SELECT *,
       |    CASE WHEN gt LIKE '.%' THEN NULL
       |      ELSE CAST(string_split_regex(gt, '[/|]')[1] AS INTEGER)
       |      END AS a1,
       |    CASE WHEN gt LIKE '.%' THEN NULL
       |      ELSE CAST(string_split_regex(gt, '[/|]')[2] AS INTEGER)
       |      END AS a2
       |  FROM pq)""".stripMargin
  }

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

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- TableFilter (`TableIR.scala:2143`) --------------------------------
    "table_filter" -> ((s, dir) =>
      Table(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .filter(col("l_shipdate") > lit("1997-06-01") &&
          col("l_discount") > lit(0.05))
        .annotate("ship" -> col("l_shipdate").cast("string"))
        .selectFields("l_quantity", "ship").df),

    // --- TableMapRows / annotate (`TableIR.scala:2367`) --------------------
    "table_map_rows" -> ((s, dir) =>
      Table(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .annotate(
          "revenue" -> round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")), 4),
          "is_return" -> (col("l_returnflag") === lit("R")))
        .selectFields("revenue", "is_return").df),

    // --- TableAggregateByKey (`TableIR.scala:2503`), TPC-H Q1 --------------
    "table_aggregate_by_key" -> ((s, dir) =>
      Table(t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02")),
        Seq("l_returnflag", "l_linestatus"))
        .aggregateByKey(
          "sum_qty" -> dsum(col("l_quantity")),
          "sum_base_price" -> dsum(col("l_extendedprice")),
          "sum_disc_price" -> dsum(col("l_extendedprice") *
            (lit(1.0) - col("l_discount"))),
          "avg_qty" -> round(dsum(col("l_quantity")) / count(lit(1)), 6),
          "count_order" -> count(lit(1))).df),

    // --- TableLiteral (`TableIR.scala:133`): a LocalRelation literal
    // lookup table broadcast-joined onto a keyed aggregate -----------------
    "table_literal_join" -> ((s, dir) => {
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
    }),

    // --- TableKeyByAndAggregate (`TableIR.scala:2472`): new computed key ---
    "table_key_by_and_aggregate" -> ((s, dir) =>
      Table(t(s, dir, "orders"))
        .keyByAndAggregate(
          newKey = Seq("bucket" -> pmod(col("o_custkey"), lit(7L)),
            "status" -> col("o_orderstatus")),
          exprs = Seq(
            "n" -> count(lit(1)),
            "total" -> dsum(col("o_totalprice")))).df),

    // --- TableAggregate (ir-gen `Main.scala:1125`): whole-table scalar -----
    "table_aggregate" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_shipdate")).cast("string").as("min_ship"),
        max(col("l_shipdate")).cast("string").as("max_ship"),
        countDistinct(col("l_orderkey")).as("n_orders"))),

    // --- TableJoin inner (`TableIR.scala:2216`) -----------------------------
    "table_join_inner" -> ((s, dir) => {
      val o = Table(t(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
      val c = Table(t(s, dir, "customer")
        .withColumnRenamed("c_custkey", "custkey"), Seq("custkey"))
      o.join(c, "inner")
        .selectFields("o_orderkey", "c_name", "o_totalprice").df
    }),

    // --- TableJoin left + group (customers with zero orders kept) ----------
    "table_join_left" -> ((s, dir) => {
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
    }),

    // --- semi/anti joins (python `semi_join`/`anti_join`, `table.py:3260`) -
    "table_semi_join" -> ((s, dir) => {
      val c = Table(t(s, dir, "customer")
        .withColumnRenamed("c_custkey", "custkey"), Seq("custkey"))
      val o = Table(t(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
      c.semiJoin(o).selectFields("c_name", "c_acctbal").df
    }),
    "table_anti_join" -> ((s, dir) => {
      val c = Table(t(s, dir, "customer")
        .withColumnRenamed("c_custkey", "custkey"), Seq("custkey"))
      val o = Table(t(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
      c.antiJoin(o).selectFields("c_name", "c_acctbal").df
    }),

    // --- TableLeftJoinRightDistinct (`TableIR.scala:2315`): index join -----
    "table_left_join_right_distinct" -> ((s, dir) => {
      val n = Table(t(s, dir, "nation")
        .withColumnRenamed("n_nationkey", "nationkey"), Seq("nationkey"))
      val c = Table(t(s, dir, "customer")
        .withColumnRenamed("c_nationkey", "nationkey"), Seq("nationkey"))
      c.leftJoinRightDistinct(n.broadcastHint)
        .selectFields("c_custkey", "c_name", "n_name").df
    }),

    // --- TableUnion (`TableIR.scala:2414`) ----------------------------------
    "table_union" -> ((s, dir) => {
      val o = Table(t(s, dir, "orders"), Seq("o_orderkey"))
      o.filter(col("o_orderstatus") === lit("F"))
        .union(o.filter(col("o_totalprice") > lit(300000.0)))
        .selectFields("o_orderstatus", "o_totalprice").df
    }),

    // --- TableDistinct keep-first-in-key-order (`TableIR.scala:2459`) ------
    "table_distinct" -> ((s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_custkey"))
        .distinctByKey(tieBreak = Seq(col("o_orderdate"), col("o_orderkey")))
        .annotate("first_date" -> col("o_orderdate").cast("string"))
        .selectFields("o_orderkey", "first_date").df),

    // --- TableOrderBy (`TableIR.scala:2528`) + head -------------------------
    "table_order_by" -> ((s, dir) =>
      Table(t(s, dir, "orders"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .head(100)
        .selectFields("o_orderkey", "o_totalprice").df),

    // --- TableHead in key order (`TableIR.scala:2156`) ----------------------
    "table_head" -> ((s, dir) =>
      Table(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .head(50)
        .selectFields("l_quantity").df),

    // --- TableExplode (`TableIR.scala:2394`) --------------------------------
    "table_explode" -> ((s, dir) =>
      Table(t(s, dir, "part"))
        .annotate("word" -> split(col("p_type"), " "))
        .explodeField("word")
        .keyByAndAggregate(
          newKey = Seq("word" -> col("word")),
          exprs = Seq("n" -> count(lit(1)))).df),

    // --- scans: running sum over key order (`hl.scan`, two-phase) ----------
    "table_scan_sum" -> ((s, dir) =>
      Scans.runningSum(
        t(s, dir, "orders").filter(col("o_custkey") < 100)
          .select("o_orderkey", "o_totalprice"),
        orderCols = Seq("o_orderkey"),
        value = col("o_totalprice").cast(DecimalType(18, 4)),
        outName = "running_total")
        .withColumn("running_total", round(col("running_total"), 4))),

    // --- add_index (table.py add_index): global contiguous 0-based row
    // index in key order via the two-phase scan -----------------------------
    "table_add_index" -> ((s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_orderkey")).addIndex("idx")
        .df.select(col("o_orderkey"), col("idx"))),

    // --- TableIntervalJoin (`TableIR.scala:2264`): point-in-interval -------
    "table_interval_join" -> ((s, dir) => {
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
    }),

    // --- agg: take_by (top-k per group; `TakeByAggregator`) ----------------
    "agg_take_by" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    }),

    // --- agg: collect_as_set (`CollectAsSetAggregator`, sorted-set coding);
    // stringified so the driver's pandas hash-compare can sort the column ---
    "agg_collect_set" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(concat_ws(",", array_sort(collect_set(col("l_linestatus"))))
          .as("statuses"),
          count(lit(1)).as("n"))),

    // --- agg: stats (count/mean/stdev/min/max — exact via decimal sums) ----
    "agg_stats" -> ((s, dir) =>
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
          max(col("l_quantity")).as("max_qty"))),

    // --- agg: counter (`hl.agg.counter` → groupBy count) -------------------
    "agg_counter" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))),

    // --- TableFilterIntervals (`TableIR.scala:2590`): key-range pruning ----
    "table_filter_intervals" -> ((s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_orderkey"))
        .filterIntervals(Seq((1000L, 2000L), (5000L, 5500L)))
        .selectFields("o_custkey", "o_totalprice").df),

    // --- MatrixTable: build + MatrixEntriesTable roundtrip (`TableIR:2447`)
    "matrix_entries_table" -> ((s, dir) =>
      lineitemMatrix(s, dir).entriesTable
        .selectFields("line_no", "qty", "price").df.drop("col_idx")),

    // --- MatrixTable.summarize: per-field profile of the row + entry
    // spaces (Table.summarize over both views, space-tagged) ---------------
    "matrix_summarize" -> ((s, dir) =>
      lineitemMatrix(s, dir).summarize()),

    // --- MatrixMapRows with entry-scoped agg (call_rate pattern) ----------
    "matrix_annotate_rows_entry_agg" -> ((s, dir) => {
      val mt = lineitemMatrix(s, dir)
      mt.annotateRows(
        "n_defined" -> aggregate(mt.entries, lit(0L),
          (acc, e) => acc + when(e.isNotNull, 1L).otherwise(0L)),
        "qty_sum" -> round(aggregate(mt.entries, lit(0.0),
          (acc, e) => acc + coalesce(e("qty"), lit(0.0))), 4))
        .rowsTable.df
    }),

    // --- MatrixFilterEntries + aggregate_entries (`MatrixIR.scala:689`) ----
    "matrix_filter_entries_agg" -> ((s, dir) =>
      lineitemMatrix(s, dir)
        .filterEntries(e => e("qty") >= 10.0)
        .aggregateEntries(
          "n" -> (e => count(e)),
          "sum_qty" -> (e => dsum(e("qty"))))),

    // --- MatrixAggregateRowsByKey (`MatrixIR.scala:533`) -------------------
    "matrix_aggregate_rows_by_key" -> ((s, dir) =>
      lineitemMatrix(s, dir)
        .aggregateRowsByKey(
          newKey = Seq("bucket" -> pmod(col("l_orderkey"), lit(100L))),
          entryAggs = Seq(
            "sum_qty" -> (e => dsum(e("qty"))),
            "n" -> (e => count(e))))
        .entriesTable
        .selectFields("line_no", "sum_qty", "n").df.drop("col_idx")),

    // --- MatrixAggregateColsByKey (`MatrixIR.scala:551`) -------------------
    "matrix_aggregate_cols_by_key" -> ((s, dir) =>
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
        .selectFields("parity", "qty_sum").df.drop("col_idx")),

    // --- MatrixChooseCols (`MatrixIR.scala:498`) ---------------------------
    "matrix_choose_cols" -> ((s, dir) =>
      lineitemMatrix(s, dir)
        .chooseCols(IndexedSeq(0, 2, 4))
        .aggregateEntries(
          "n" -> (e => count(e)),
          "sum_price" -> (e => dsum(e("price"))))),

    // --- TableMultiWayZipJoin (`TableIR.scala:2291`) -----------------------
    "table_multi_way_zip_join" -> ((s, dir) => {
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
    }),

    // --- MatrixCollectColsByKey (`MatrixIR.scala:512`) ---------------------
    "matrix_collect_cols_by_key" -> ((s, dir) =>
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
        .drop("col_idx", "qty", "price")),

    // --- make_table (`matrixtable.py:4415`): wide per-sample columns ------
    "matrix_make_table" -> ((s, dir) =>
      lineitemMatrix(s, dir).makeTable().df
        .select(col("l_orderkey") +:
          (1 to 7).map(i => col(s"`$i.qty`")): _*)),

    // --- agg: bounded-heap take_by (`agg/TakeByAggregator.scala`) ----------
    "agg_take_by_heap" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(operators.Aggs.takeBy(col("o_orderkey"), col("o_totalprice"),
          3, asc = false).as("top"))
        .select(col("o_custkey"), explode(col("top")).as("o_orderkey"))),

    // --- agg: fold with user seq/comb (`agg/FoldAggregator.scala`) ---------
    "agg_fold" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          operators.Aggs.foldDouble(col("o_totalprice"), Double.MinValue,
            math.max, math.max).as("max_price"),
          operators.Aggs.foldDouble(col("o_totalprice"), Double.MaxValue,
            math.min, math.min).as("min_price"))),

    // --- agg: group (dict of sub-aggs; `agg/GroupedAggregator.scala`) ------
    "agg_group" -> ((s, dir) => {
      val inner = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).cast("bigint").as("q"))
      inner.groupBy(col("l_returnflag"))
        .agg(concat_ws(",", array_sort(collect_list(
          concat(col("l_linestatus"), lit(":"), col("q").cast("string")))))
          .as("by_status"))
    }),

    // --- scan: prev_non_null (`agg/PrevNonNullAggregator.scala`) -----------
    "table_scan_prev_non_null" -> ((s, dir) =>
      operators.Scans.prevNonNull(
        t(s, dir, "orders").filter(col("o_custkey") < 100)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 3 === 0, col("o_totalprice"))
              .as("v")),
        orderCols = Seq("o_orderkey"), col("v"), "prev_v")),

    // --- agg: approx_cdf sketch (exact while n <= k; KLL-style) ------------
    "agg_approx_cdf" -> ((s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
        .groupBy(col("l_returnflag"))
        .agg(operators.Aggs.approxCdf(col("l_quantity"), 4096).as("cdf"))
        .select(col("l_returnflag"),
          round(operators.Aggs.sketchQuantileUdf(col("cdf"), lit(0.5)), 6)
            .as("median_qty"),
          round(operators.Aggs.sketchQuantileUdf(col("cdf"), lit(0.9)), 6)
            .as("p90_qty"))),

    // --- MatrixAnnotateRowsTable (`MatrixIR.scala:726`): row-space join ----
    "matrix_annotate_rows_table" -> ((s, dir) => {
      val orders = Table(t(s, dir, "orders"), Seq("o_orderkey"))
      lineitemMatrix(s, dir)
        .annotateRowsTable(orders.broadcastHint,
          Seq("o_orderstatus", "o_totalprice"))
        .rowsTable
        .annotate("o_totalprice" -> round(col("o_totalprice"), 2))
        .selectFields("o_orderstatus", "o_totalprice").df
    }),

    // --- MatrixAnnotateColsTable (`MatrixIR.scala:704`): col-space join ----
    "matrix_annotate_cols_table" -> ((s, dir) => {
      val lineStats = Table(t(s, dir, "lineitem"))
        .keyByAndAggregate(
          newKey = Seq("line_no" -> col("l_linenumber")),
          exprs = Seq("n_lines" -> count(lit(1))))
      lineitemMatrix(s, dir)
        .annotateColsTable(lineStats)
        .colsTable.df
    }),

    // --- per-col aggregation across rows (annotate_cols agg pattern) -------
    "matrix_cols_agg" -> ((s, dir) =>
      lineitemMatrix(s, dir).entriesTable
        .keyByAndAggregate(
          newKey = Seq("line_no" -> col("line_no")),
          exprs = Seq(
            "n" -> count(lit(1)),
            "sum_qty" -> dsum(col("qty")))).df),

    // --- pipeline: exact dedup (hash-groupBy) ------------------------------
    "pipe_dedup_exact" -> ((s, dir) =>
      pipeline.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "content_hash")),

    // --- pipeline: token-bag fingerprint dedup -----------------------------
    "pipe_dedup_fingerprint" -> ((s, dir) =>
      pipeline.Dedup.byFingerprint(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "fp")),

    // --- skew diagnostic: hottest shuffle keys + ratio vs mean -------------
    "table_skew_stats" -> ((s, dir) =>
      Table(t(s, dir, "lineitem")).skewStats(Seq("l_returnflag"), 5)
        .withColumn("ratio", round(col("ratio"), 6))),

    // --- skew diagnostic, byte-mass mode: wide-row-key skew that count
    // mode misses (equal counts, 100x row width) ---------------------------
    "table_skew_stats_bytes" -> ((s, dir) =>
      Table(t(s, dir, "documents")).skewStatsByMass(Seq("lang"),
        octet_length(col("text")), 5)
        .withColumn("mass", col("mass").cast("long"))
        .withColumn("ratio", round(col("ratio"), 6))),

    // --- pipeline: cap audit (generic bucket stats, SQL-checkable) ---------
    "pipe_cap_report" -> ((s, dir) =>
      pipeline.Dedup.bucketCapStats(t(s, dir, "documents"),
        Seq("text"), 4, "exact_text")),

    // --- pipeline: cap audit across the real pair families (oracled) ------
    "pipe_cap_report_families" -> ((s, dir) =>
      pipeline.Dedup.capReport(t(s, dir, "documents"), "doc_id", "text",
        maxBucketSize = 50).orderBy("family")),

    // --- pipeline: text quality features -----------------------------------
    "pipe_text_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        pipeline.Text.tokenCount(col("text")).as("n_tokens"),
        round(pipeline.Text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(pipeline.Text.meanWordLen(col("text")), 6)
          .as("mean_word_len"))
    }),

    // --- Gopher/C4 repetition + structure filters over synthetic
    // multi-line docs (corpus lines grouped by doc_id % 50, both engines
    // build the identical documents) ---------------------------------------
    "pipe_quality_filters" -> ((s, dir) => {
      val docs2 = t(s, dir, "documents")
        .groupBy(pmod(col("doc_id"), lit(50L)).as("gid"))
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("doc_id"),
            col("text")))), x => x("text"))).as("text"))
      docs2.select(col("gid"),
        round(pipeline.Text.duplicateLineFraction(col("text")), 6)
          .as("dup_line_frac"),
        round(pipeline.Text.topNgramFraction(col("text"), 2), 6)
          .as("top_2gram_frac"),
        round(pipeline.Text.symbolToWordRatio(col("text")), 6)
          .as("symbol_word_ratio"))
    }),

    // --- paragraph-level exact dedup (boilerplate removal): line-as-
    // paragraph over the same synthetic multi-line docs --------------------
    "pipe_dedup_paragraphs" -> ((s, dir) => {
      val docs2 = t(s, dir, "documents")
        .groupBy(pmod(col("doc_id"), lit(50L)).as("gid"))
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("doc_id"),
            col("text")))), x => x("text"))).as("text"))
      pipeline.Dedup.dedupParagraphs(docs2, "gid", "text",
        sep = "\n", joinSep = "\n")
    }),

    // --- pipeline: MinHash+LSH near-dup pairs (shingle→minhash→band→join) --
    // --- near-dup clustering: connected components over the minhash
    // pair graph (min-label propagation), one row per clustered doc ------
    "pipe_neardup_clusters" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minhashPairs(docs, "doc_id", "text")
      pipeline.Dedup.nearDupClusters(pairs)
        .select(col("node").as("doc_id"), col("cluster"))
    }),

    "pipe_minhash_pairs" -> ((s, dir) =>
      pipeline.Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text")),

    // --- the xxhash64 production minhash family, gated on its family-
    // invariant subset: identical shingle sets hash to identical
    // signatures under ANY family, so the exact-dup pairs are DuckDB-
    // derivable without reproducing xxhash64; near-dup recall for this
    // family stays in PipelineSpec ------------------------------------------
    // (every 25th doc is re-labeled +100000 and unioned back, so the
    // gate has guaranteed exact-dup pairs at any SF)
    "pipe_minhash_fast" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = base.filter(pmod(col("doc_id"), lit(25L)) === 0L)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      pipeline.Dedup.minhashExactPairs(base.unionByName(dup), "doc_id",
        "text", family = "xxhash64")
    }),

    // --- winnowing document fingerprinting (MOSS-style rolling-hash
    // k-grams + window-min selection): candidate pairs from shared
    // fingerprints, verified by exact shared (k+w-1)-char normalized
    // runs. The winnowing guarantee (any match >= k+w-1 chars forces a
    // shared fingerprint) makes candidate recall exact, so the verified
    // output EQUALS the all-pairs substring join DuckDB computes
    // independently — the gate cross-checks the theorem end-to-end
    // without reproducing the custom rolling hash in SQL --------------------
    "pipe_winnow_pairs" -> ((s, dir) =>
      pipeline.Dedup.winnowSubstringPairs(t(s, dir, "documents"),
        "doc_id", "text")
        .withColumn("n_shared", col("n_shared").cast("long"))),

    // --- exact duplicated-substring spans (the suffix-array dedup of
    // Lee et al. 2022, relational): maximal char ranges covered by
    // 30-grams occurring at 2+ corpus positions, minus each gram's
    // canonical first occurrence. Spark groups 64-bit rolling-hash
    // keys; the oracle groups the gram STRINGS — a kernel hash
    // collision would surface here as a span diff ---------------------------
    "pipe_substring_spans" -> ((s, dir) =>
      pipeline.Dedup.duplicatedSpans(t(s, dir, "documents"),
        "doc_id", "text", minLen = 30)
        .select(col("doc").as("doc_id"),
          col("span_start").cast("long").as("span_start"),
          col("span_len").cast("long").as("span_len"),
          col("n_positions"))),

    // --- the corpus after cutting those spans: every document
    // reassembled from its surviving characters (keep-first copies and
    // untouched docs pass through; a fully-duplicated doc survives as
    // an empty row for downstream length filters) ---------------------------
    "pipe_substring_dedup" -> ((s, dir) =>
      pipeline.Dedup.substringDedup(t(s, dir, "documents"),
        "doc_id", "text", minLen = 30)
        .select(col("doc_id"), col("clean_text"))),

    // --- unicode normalization (encoding hygiene before char-level
    // dedup): decomposed e+COMBINING-ACUTE sequences are synthesized
    // into every doc (the testdata is pure ASCII), NFC recomposes them
    // to é — DuckDB's independent nfc_normalize must agree char-for-
    // char, and the char-count delta counts the compositions ---------------
    "pipe_unicode_nfc" -> ((s, dir) => {
      val raw = regexp_replace(col("text"), "e",
        "e\u0301") // e + COMBINING ACUTE (decomposed)
      t(s, dir, "documents").select(col("doc_id"),
        pipeline.Text.normalizeUnicode(raw).as("nfc_text"),
        (length(raw) - length(pipeline.Text.normalizeUnicode(raw)))
          .cast("long").as("n_composed"))
    }),

    // --- intra-document repetition counts (the quality signal for
    // degenerate boilerplate loops that line-level rules miss): gram
    // positions vs distinct grams, on the raw text and on a variant
    // with a synthesized 60-char prefix echo (the ASCII testdata has
    // almost no natural self-repetition) ------------------------------------
    "pipe_selfrep" -> ((s, dir) => {
      def stats(c: Column, prefix: String) = {
        val gh = graft.functions.TextKernels.gramHashes(c, 20)
        Seq(size(gh).cast("long").as(s"${prefix}_grams"),
          (size(gh) - size(array_distinct(gh))).cast("long")
            .as(s"${prefix}_repeated"))
      }
      val echoed = concat(col("text"), lit(" "),
        substring(col("text"), 1, 60))
      t(s, dir, "documents").select(
        col("doc_id") +: (stats(col("text"), "n") ++
          stats(echoed, "echo")): _*)
    }),

    // --- URL canonicalization (crawl dedup hygiene): three synthetic
    // URL shapes per doc (mixed-case host + default port + tracking
    // params / bare host / spaces + fbclid) through normalize, host
    // and apex-domain extraction — every regex step replayed in SQL ---------
    "pipe_url_normalize" -> ((s, dir) => {
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTP://"), upper(col("source")),
            lit(".Example.Com:80/A/"), col("doc_id").cast("string"),
            lit("?utm_campaign=x&z=26&a=1#top")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://sub."), col("source"), lit(".org")))
        .otherwise(
          concat(lit("https://"), col("source"), lit(".net/P%20Q/"),
            col("doc_id").cast("string"), lit("?b=2&a=1&fbclid=abc")))
      t(s, dir, "documents").select(col("doc_id"),
        pipeline.Text.urlNormalize(url).as("norm_url"),
        pipeline.Text.urlHost(url).as("host"),
        pipeline.Text.urlDomain(url).as("domain"))
    }),

    // --- per-domain document cap (crawl-balance sampling): keep the 10
    // smallest doc_ids per apex domain; the id sum pins WHICH rows
    // survived, not just how many ------------------------------------------
    "pipe_domain_cap" -> ((s, dir) => {
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTP://"), upper(col("source")),
            lit(".Example.Com:80/A/"), col("doc_id").cast("string"),
            lit("?utm_campaign=x&z=26&a=1#top")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://sub."), col("source"), lit(".org")))
        .otherwise(
          concat(lit("https://"), col("source"), lit(".net/P%20Q/"),
            col("doc_id").cast("string"), lit("?b=2&a=1&fbclid=abc")))
      val withDom = t(s, dir, "documents")
        .withColumn("domain", pipeline.Text.urlDomain(url))
      pipeline.Text.domainCap(withDom, "doc_id", col("domain"), cap = 10)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    }),

    // --- Misra-Gries heavy hitters, exact two-pass consumption: a
    // 64-counter one-pass summary prunes ~2.5k distinct synthesized
    // keys (3 engineered hot keys at 25% each) to <= 64 candidates; the
    // exact second pass restores merge-order determinism, so the output
    // EQUALS DuckDB's full groupBy + HAVING cnt*64 > N — a broken
    // sketch (dropped guaranteed key) surfaces as a missing row --------------
    "agg_heavy_hitters" -> ((s, dir) => {
      val keyed = t(s, dir, "events").withColumn("key",
        when(col("event_id") % 4 =!= 0,
          concat(lit("hot_"), (col("event_id") % 3).cast("string")))
        .otherwise(concat(lit("cold_"), col("event_id").cast("string"))))
      operators.Aggs.heavyHittersExact(keyed, "key", m = 64)
    }),

    // --- PageRank domain-authority prior (crawl curation): 3 power
    // sweeps with dangling redistribution over a synthesized 53-node
    // link graph. All arithmetic INCLUDING the output column is EXACT
    // 64-bit integer math in 1e-9 rank units (truncating division) —
    // the r11 per-sweep round(double,9) broke at sf0.1 on a 1-ULP
    // engine difference, and the r12 terminal units→DECIMAL
    // reconstruction broke on the driver's duckdb/pandas stack, so the
    // gate emits rank_units BIGINT verbatim --------------------------------
    "pipe_pagerank" -> ((s, dir) => {
      val e = t(s, dir, "documents").select(
        (col("doc_id") % 53).as("src"),
        ((col("doc_id") * 7 + 3) % 53).as("dst"))
      pipeline.Graph.pageRank(e, "src", "dst", iters = 3)
    }),

    // --- incremental ingest dedup: the whole corpus is the frozen
    // hash index; a synthesized batch (every 3rd doc, ids shifted,
    // half colliding verbatim / half genuinely new via a ' v2' suffix)
    // anti-joins the index, then self-dedups keep-min — the 100 TB
    // ingest shape where only the batch ever moves ---------------------------
    "pipe_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val index = pipeline.Dedup.hashIndex(docs, "doc_id", "text")
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          when(col("doc_id") % 2 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" v2"))).as("text"))
      pipeline.Dedup.dedupIncremental(batch, "doc_id", "text", index)
        .select(col("doc_id"), col("content_hash"))
    }),

    // --- fuzzy entity join (edit distance <= 1) on the lowercased
    // 12-char text prefix: deletion-neighborhood candidates (recall
    // exact by construction, not probabilistic), levenshtein-verified;
    // the oracle replays variants, the 2..1000 bucket cap, and the
    // verification with its own levenshtein --------------------------------
    "pipe_fuzzy_join" -> ((s, dir) =>
      pipeline.Dedup.editDistancePairs(
        t(s, dir, "documents")
          .select(col("doc_id"), lower(substring(col("text"), 1, 12))
            .as("k")),
        "doc_id", "k")),

    // --- linear-output rollup of the fuzzy join: each doc's best 2
    // matches by (dist, match id) — the per-doc verdict a
    // reconciliation run wants instead of the quadratic pair ball; the
    // rank filter plans as WindowGroupLimit (bounded top-k before the
    // shuffle, audited in PlanAuditSpec) -----------------------------------
    "pipe_fuzzy_best_match" -> ((s, dir) =>
      pipeline.Dedup.bestFuzzyMatchPerDoc(
        t(s, dir, "documents")
          .select(col("doc_id"), lower(substring(col("text"), 1, 12))
            .as("k")),
        "doc_id", "k", k = 2)),

    // --- HLL distinct-count contract (like agg_approx_cdf's): the
    // output carries the exact per-group distinct count plus a bound
    // check that Spark's approx_count_distinct estimate sits within
    // 5 standard errors — the oracle expects every group in-bound, so
    // a broken sketch surfaces as a value diff ------------------------------
    "agg_approx_distinct" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_distinct"),
          approx_count_distinct(col("user_id"), 0.05).as("__est"))
        .select(col("event_type"), col("n_distinct"),
          (abs(col("__est") - col("n_distinct"))
            <= lit(0.25) * col("n_distinct")).as("within_bound"))),

    // --- deterministic engine-portable k-means (Lloyd, 2 iterations,
    // k=4) over the embeddings: integer-grid coordinates + exact
    // rational centroid states make every assignment DuckDB-replayable
    // (unlike seeded MLlib KMeans) ------------------------------------------
    "pipe_kmeans_exact" -> ((s, dir) =>
      pipeline.Similarity.kmeansLloydExact(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2)
        .withColumnRenamed("id", "vec_id")),

    // --- SemDeDup (cluster-then-compare semantic dedup): the exact
    // k-means clusters block the candidate space; a vector is dropped
    // iff a lower-id cluster-mate is cosine >= 0.2 similar. The oracle
    // replays the full kmeans CTE + within-cluster pair join ---------------
    "pipe_semdedup" -> ((s, dir) =>
      pipeline.Dedup.semDedup(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.2, k = 4, iters = 2)
        .withColumnRenamed("id", "vec_id")),

    // --- BM25 retrieval: top-20 documents for a 4-term query; per-term
    // contributions round to 4dp and sum as exact DECIMAL(18,4), ties
    // break by id — fully engine-replayable ranking -------------------------
    "pipe_bm25" -> ((s, dir) =>
      pipeline.Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
        "text", Seq("join", "hash", "vector", "spark"), k = 20)),

    // --- hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    // top-100 and the dense cosine top-100 (vec_id 0 is the query, ids
    // align with doc_ids) — contributions are exact INTEGER 1e-6 units
    // (half-up(1e6/(60+r)) via integer div; r=68 hits the dyadic 1/128
    // exactly ON the 6dp grid, where two round() implementations may
    // split), fused top-20 ---------------------------------------------------
    "pipe_hybrid_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lex = pipeline.Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq("join", "hash", "vector", "spark"), k = 100)
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      // rank and CUT on the 6dp-rounded cosine (id tiebreak): the list
      // membership itself must replay cross-engine
      val den = e.filter(col("vec_id") =!= 0L)
        .withColumn("score", round(pipeline.Similarity.cosine(
          col("embedding"), array(q.map(lit): _*)), 6))
        .select(col("vec_id").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(100)
      pipeline.Retrieval.rrfFuse(Seq(lex, den), "doc_id", "score",
        k = 20)
    }),

    // --- HTML-to-text extraction (web-crawl ingestion): script/style
    // blocks dropped, tags stripped, entities decoded, whitespace
    // collapsed — deterministic synthetic markup around each doc -----------
    "pipe_html_strip" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("__h", concat(
        lit("<html><head><style>body{color:red}</style>" +
          "<script>var x = 1 < 2;</script></head><body><h1>Doc</h1><p>"),
        col("text"),
        lit("</p><div>&amp; &lt;tag&gt; &quot;q&#39;</div></body></html>")))
      d.select(col("doc_id"),
        pipeline.Text.stripHtml(col("__h")).as("clean"))
    }),

    // --- contrastive triplet mining: deterministic hash-ranked
    // negatives for a pair table (the pair source here is a synthetic
    // consecutive-id pairing so the oracle stays compact; production
    // feeds Dedup.minhashPairs / semDedup output) --------------------------
    "pipe_triplet_mine" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
        .filter(pmod(col("id_a"), lit(10L)) === 0L)
        .join(docs.select(col("doc_id").as("id_b")), Seq("id_b"),
          "left_semi")
      pipeline.Sampling.tripletMine(pairs, docs, "doc_id",
        nNeg = 2, poolMod = 5)
    }),

    // --- length-bucketed batching (pad-minimizing batch prep): bucket
    // by token count, rank in-bucket on the distributed scan minus
    // broadcast offsets, 16 ranks per batch ---------------------------------
    "pipe_length_batches" -> ((s, dir) =>
      pipeline.Sampling.lengthBucketBatches(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", pipeline.Text.tokenCount(col("text")),
        bounds = Seq(40L, 60L, 80L), batchSize = 16)
        .select(col("doc_id"), col("bucket"), col("rank_in_bucket"),
          col("batch_id"))),

    // --- RAG-style chunking: 64-char windows every 48 chars (16
    // overlap), one codegen'd generator pass ---------------------------------
    "pipe_chunk_docs" -> ((s, dir) =>
      pipeline.Text.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
        size = 64, step = 48)),

    // --- train/val leakage audit: near-dup pairs crossing a 90/10
    // deterministic split — split names stamp onto the pair stream as
    // a hash projection, no corpus join ---------------------------------------
    "pipe_split_leakage" -> ((s, dir) =>
      pipeline.Dedup.splitLeakage(t(s, dir, "documents"), "doc_id",
        "text", Seq("train" -> 900, "val" -> 100))),

    // --- C4-style blocklist screen: token-boundary word + phrase
    // matching, patterns broadcast, one generator pass per phrase
    // length — per-doc hit counts --------------------------------------------
    "pipe_blocklist" -> ((s, dir) =>
      pipeline.Text.blocklistHits(t(s, dir, "documents"), "doc_id",
        "text", Seq("spark", "table hash", "customer join"))),

    // --- exact token-8-gram decontamination (the PaLM-report method):
    // eval set = verbatim excerpts of every 97th doc (guaranteed
    // leakage), bench grams broadcast, one corpus generator pass -------------
    "pipe_exact_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(97L)) === 3L)
        .select((col("doc_id") + 1000000L).as("bench_id"),
          substring(col("text"), 21, 200).as("text"))
      pipeline.Dedup.exactNgramDecontam(docs, "doc_id", "text",
        bench, "text", n = 8)
    }),

    // --- weighted sampling without replacement (Efraimidis-Spirakis
    // exponential clocks, deterministic md5 u): 50 docs ∝ length ------------
    "pipe_weighted_sample" -> ((s, dir) =>
      pipeline.Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
        col("n_chars"), k = 50)),

    // --- DSIR (importance resampling data selection): hashed
    // unigram+bigram log-ratios vs the English slice as target, top-50
    // of the deterministic Gumbel-max draw — broadcast-joined bucket
    // weights, exact decimal sums, fully engine-replayable ------------------
    "pipe_dsir_select" -> ((s, dir) =>
      pipeline.Sampling.dsirSelect(t(s, dir, "documents"), "doc_id",
        "text", isTarget = col("lang") === "en", k = 50)),

    // --- compression-ratio quality signal (deflate/raw bytes): the
    // cheap whole-doc complement to the token features; golden oracle
    // (zlib is not SQL-expressible) -----------------------------------------
    "pipe_compress_ratio" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"),
          pipeline.Text.deflateRatio(col("text")).as("ratio"))),

    // --- trainable quality classifier (CCNet-style linear filter):
    // distributed IRLS with order-free decimal reductions; golden
    // oracle (IRLS is not SQL-expressible), learning proven on
    // constructed classes in PipelineSpec -----------------------------------
    "pipe_quality_classifier" -> ((s, dir) =>
      pipeline.QualityClassifier.trainAndScore(t(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en", iters = 6)
        .filter(col("doc_id") < 30)
        .select(col("doc_id"), round(col("p"), 4).as("p"))),

    // --- LM quantile filter: keep the half of the corpus most typical
    // under its own bigram LM (rank on the INTEGER 1e-10-unit mean
    // NLL — exact floor division of the unit sum, id ties) ------------------
    "pipe_lm_filter" -> ((s, dir) =>
      pipeline.LangModel.filterByNll(t(s, dir, "documents"), "doc_id",
        "text", q = 0.5)
        .select(col("doc_id"), col("n_bigrams"), col("sum_nll"))),

    // --- BPE tokenizer training (Sennrich 2016): corpus -> word-freq
    // dictionary (one shuffle) -> driver-side merge loop over the
    // bounded dictionary. The merge table is a pure function of the
    // word frequencies; the oracle pins the golden literal (regenerate
    // with tools/gen_goldens.py after a corpus change) ----------------------
    "pipe_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      pipeline.Bpe.trainFromCorpus(t(s, dir, "documents"), "text",
        numMerges = 24)
        .zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "lhs", "rhs")
    }),

    // --- BPE encoding: per-doc subword token counts under the
    // corpus-trained merge table (narrow pass, merge table in the
    // closure); golden oracle like the training gate --------------------
    "pipe_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = pipeline.Bpe.trainFromCorpus(docs, "text", 24)
      pipeline.Bpe.tokenCounts(docs.filter(col("doc_id") < 24),
        "doc_id", "text", merges)
    }),

    // --- corpus bigram-LM NLL (the CCNet-style perplexity quality
    // score): add-alpha bigram model trained on the corpus itself;
    // per-bigram NLL rounds to 4dp and sums exactly -------------------------
    "pipe_lm_score" -> ((s, dir) =>
      pipeline.LangModel.bigramNll(t(s, dir, "documents"), "doc_id",
        "text")
        // the mean is sum/count — its last-ulp rounding is the one step
        // two engines can disagree on; the gate checks the exact sum
        .select(col("doc_id"), col("n_bigrams"), col("sum_nll"))),

    // --- corpus vocabulary: doc/term frequencies + IDF, one explode +
    // one uniform-key groupBy (the tf-idf primitive) ------------------------
    "pipe_vocab_idf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      pipeline.Text.vocab(docs, "doc_id", "text", docs.count(),
        minDocFreq = 5)
    }),

    // --- top-50 bigram document frequencies (deterministic ties) -----------
    "pipe_top_bigrams" -> ((s, dir) =>
      pipeline.Text.topBigrams(t(s, dir, "documents"), "text", 50)),

    // --- JSONL shard delivery: write real text shards partitioned by a
    // deterministic md5 shard id, read them BACK from disk, and check
    // the (shard, line) set — end-to-end file IO, engine-reproducible
    // shard membership and line bytes ---------------------------------------
    "pipe_export_jsonl" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "source")
      // fixed per-process path + overwrite mode: repeated invocations
      // (verify, bench iterations) replace the delivery, not accrete it
      val out = s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_jsonl_${ProcessHandle.current().pid()}"
      pipeline.Export.writeJsonlShards(docs, "doc_id",
        Seq("doc_id", "lang", "source"), out, numShards = 8)
      pipeline.Export.readJsonlShards(s, out)
    }),

    // --- per-doc top-3 tf-idf terms (retrieval features) -------------------
    "pipe_tfidf_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      pipeline.Text.tfidfTopK(docs, "doc_id", "text", docs.count(),
        k = 3, minDocFreq = 2)
    }),

    // --- PII scrub: emails / IPv4 / phone-shaped runs -> typed
    // placeholders, plus per-kind match counts. Deterministic PII is
    // synthesized onto each doc so all three patterns fire; RE2-safe
    // regexes keep Spark and DuckDB byte-identical ------------------------
    "pipe_pii_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("__t", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or "),
          lit("+1 (555) 010-"), pmod(col("doc_id"), lit(10000L)),
          lit(" at 10.0."), pmod(col("doc_id"), lit(256L)), lit(".1")))
      d.select(col("doc_id"),
        pipeline.Text.redactPii(col("__t")).as("redacted"),
        pipeline.Text.piiCounts(col("__t")).as("__c"))
        .select(col("doc_id"), col("redacted"),
          col("__c")("emails").cast("long").as("n_emails"),
          col("__c")("ips").cast("long").as("n_ips"),
          col("__c")("phones").cast("long").as("n_phones"))
    }),

    // --- benchmark decontamination: corpus docs (doc_id % 17 != 0)
    // sharing a verbatim 19-char normalized run with any "benchmark"
    // doc (doc_id % 17 == 0); same independent substring-join oracle ------
    "pipe_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(17L)) =!= 0L)
      val bench = docs.filter(pmod(col("doc_id"), lit(17L)) === 0L)
      pipeline.Dedup.winnowContamination(corpus, "doc_id", "text",
        bench, "doc_id", "text")
    }),

    // --- per-doc decontamination verdicts: the DROP LIST with
    // worst-overlap stats, one groupBy over the pair frame — output
    // <= |corpus| rows (linear) where the pair gate above is
    // answer-scaled (41M rows at the 100x decade) --------------------------
    "pipe_contamination_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      pipeline.Dedup.contaminatedDocs(
        docs.filter(pmod(col("doc_id"), lit(17L)) =!= 0L),
        "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(17L)) === 0L),
        "doc_id", "text")
    }),

    // --- exact char-n-gram Jaccard near-dup pairs, blocked by
    // (source, lang) — the n-gram-Jaccard dedup family's exact member;
    // blocks bound the quadratic verify, candidates at corpus scale come
    // from the LSH pipelines ------------------------------------------------
    "pipe_ngram_jaccard" -> ((s, dir) =>
      pipeline.Dedup.charNgramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", Seq("source", "lang"), n = 3, threshold = 0.5)),

    // --- GLOBAL exact set-similarity self-join via prefix filtering
    // (AllPairs/PPJoin, Bayardo et al. WWW'07): every char-8-gram
    // Jaccard >= 0.8 pair corpus-wide — no blocks, no caps, no LSH
    // misses; candidates come from an equi-join on each doc's RAREST
    // grams (prefix lemma guarantees completeness), verified by the
    // exact intersect kernel. The oracle is the INDEPENDENT brute-force
    // all-pairs join (completeness check), affordable through sf0.1;
    // CHECK_SKIP at sf1+ where brute force goes quadratic ---------------
    "pipe_ppjoin" -> ((s, dir) =>
      pipeline.Dedup.prefixFilterJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 8, threshold = 0.8)),

    // --- REAL video frame extraction: synthetic Y4M streams (3..6
    // constant-luma 16×16 frames per doc, luma = (doc_id*31+k*17)%256)
    // parsed by the real YUV4MPEG2 kernel, every 2nd frame kept with
    // its exact Y-plane mean — DuckDB replays the luma formula in
    // closed form, never touching the bytes -------------------------------
    "pipe_video_frames" -> ((s, dir) => {
      val y4m = udf { id: Long =>
        val n = (3 + id % 4).toInt
        pipeline.Multimodal.syntheticY4m(16, 16,
          (0 until n).map(k => ((id * 31 + k * 17) % 256).toInt))
      }
      val src = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 7 === 0)
        .withColumn("payload", y4m(col("doc_id")))
      pipeline.Multimodal.videoFrameFeatures(src, "payload", stride = 2)
        .select("doc_id", "frame_idx", "width", "height", "mean_luma")
    }),

    // --- REAL audio decode: synthetic mono 16-bit PCM WAV square
    // waves (amp = 500 + (doc_id%50)*7, run length 4, n = 160*(1+
    // doc_id%5) samples at 8 kHz) decoded by javax.sound.sampled —
    // mean|amp| = RMS = amp and zero crossings = n/4 - 1 exactly, so
    // DuckDB replays the features in closed form ---------------------------
    "pipe_audio_features" -> ((s, dir) => {
      val wav = udf { id: Long =>
        pipeline.Multimodal.syntheticWav((500 + (id % 50) * 7).toInt, 8,
          (160 * (1 + id % 5)).toInt)
      }
      val src = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 7 === 0)
        .withColumn("payload", wav(col("doc_id")))
      pipeline.Multimodal.audioFeatures(src, "payload")
        .select(col("doc_id"),
          col("audio.sample_rate").as("sample_rate"),
          col("audio.channels").as("channels"),
          col("audio.n_frames").as("n_frames"),
          col("audio.duration_sec").as("duration_sec"),
          col("audio.mean_abs").as("mean_abs"),
          col("audio.rms").as("rms"),
          col("audio.zero_crossings").as("zero_crossings"))
    }),

    // --- the full corpus-cleaning pipeline COMPOSED end-to-end:
    // structural quality filter -> token-bag fingerprint dedup ->
    // minhash-LSH near-dup clustering with canonical-doc dedup ->
    // deterministic language mix. One gate proving the stages compose
    // (each is also gated alone); the oracle chains the same four
    // stages in SQL, incl. the recursive-CTE connected components ----------
    "pipe_corpus_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = docs.filter(length(col("text")) >= lit(100) &&
        pipeline.Text.symbolToWordRatio(col("text")) < lit(0.3))
      val fded = pipeline.Dedup.byFingerprint(q, "doc_id", "text")
        .drop("fp")
      val clusters = pipeline.Dedup.nearDupClusters(
        pipeline.Dedup.minhashPairs(fded, "doc_id", "text"))
      val ded = pipeline.Dedup.dedupByClusters(fded, "doc_id", clusters)
      pipeline.Sampling.stratifiedSample(ded, "doc_id", "lang",
        Map("en" -> 900, "de" -> 700, "fr" -> 700, "es" -> 700,
          "zh" -> 500))
        .select("doc_id", "lang")
    }),

    // --- composite end-to-end curation pipeline (the full training-
    // data run a 100 TB user executes): clean → exact dedup → minhash
    // near-dup clusters → representative dedup → integer-exact Gopher-
    // style quality gates → deterministic split assign → export
    // (write partitioned parquet, read back) → per-(split, lang)
    // summary. The deduped corpus is pinned ONCE (Materialize.fanout)
    // where BOTH the minhash pair chain and the representative-dedup
    // join consume it; the quality filter + split assign are narrow
    // projections that add NO exchange over the dedup join
    // (composition plan-audited). Every compared value is exact
    // integer arithmetic — token counts, char masses, md5 bucket
    // membership — so the DuckDB replay is bit-stable ----------------------
    "pipe_curation_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cleaned = docs.filter(length(col("text")) >= lit(100) &&
        pipeline.Text.symbolToWordRatio(col("text")) < lit(0.3))
      val ex = pipeline.Materialize.fanout(
        pipeline.Dedup.exact(cleaned, "doc_id", "text")
          .drop("content_hash"))
      val clusters = pipeline.Dedup.nearDupClusters(
        pipeline.Dedup.minhashPairs(ex, "doc_id", "text"))
      val ded = pipeline.Dedup.dedupByClusters(ex, "doc_id", clusters)
      val toks = pipeline.Text.tokenCount(col("text")).cast("long")
      val chars = length(regexp_replace(col("text"), "\\s", ""))
        .cast("long")
      val q = ded
        .withColumn("n_tokens", toks)
        .withColumn("n_chars", chars)
        .filter(col("n_tokens") >= 20L && col("n_tokens") <= 2000L &&
          col("n_chars") > col("n_tokens") * 2L &&
          col("n_chars") < col("n_tokens") * 12L)
      val split = pipeline.Sampling.assignSplit(
        q.select("doc_id", "lang", "n_tokens"), "doc_id",
        Seq("train" -> 980, "val" -> 10, "test" -> 10))
      val out = java.nio.file.Files
        .createTempDirectory("curation_e2e").toString + "/corpus"
      split.write.partitionBy("split").parquet(out)
      s.read.parquet(out)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("docid_sum"),
          sum(col("n_tokens")).cast("long").as("token_sum"))
    }),

    // --- deterministic per-language Bernoulli mixing: membership is a
    // pure md5 predicate, so the exact sample re-derives in any engine —
    // one codegen'd filter, no shuffle, no RNG state ------------------------
    "pipe_stratified_sample" -> ((s, dir) =>
      pipeline.Sampling.stratifiedSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 800, "de" -> 500, "fr" -> 250,
          "es" -> 125, "zh" -> 50))
        .select("doc_id", "lang")),

    // --- temperature-flattened mixture sampling (mC4/PaLM rule,
    // share ∝ n_lang^0.5): per-stratum ppt rates derived in-plan from
    // the observed sizes and a budget of corpus/10 rows (also derived
    // in-plan — ONE job, no driver-side count). For α=0.5 the whole
    // contract is exact integer arithmetic: sqrt grid points via
    // Newton-corrected isqrt, ppt via integer half-up division — no
    // double anywhere a stack could evaluate differently ---------------------
    "pipe_temperature_mix" -> ((s, dir) =>
      pipeline.Sampling.temperatureSampleBudgetDiv(
          t(s, dir, "documents"), "doc_id", "lang",
          budgetDiv = 10, alpha = 0.5)
        .select("doc_id", "lang")),

    // --- deterministic train/val/test split: md5 bucket walk, one
    // narrow projection; membership re-derives in any engine ---------------
    "pipe_split_assign" -> ((s, dir) =>
      pipeline.Sampling.assignSplit(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id",
        Seq("train" -> 980, "val" -> 10, "test" -> 10))
        .select("doc_id", "lang", "split")),

    // --- deterministic global training shuffle: rank by md5 hash via
    // the two-phase distributed scan (no single-task row_number) -----------
    "pipe_shuffle_rank" -> ((s, dir) =>
      pipeline.Sampling.shuffleRank(
        t(s, dir, "documents").select("doc_id"), "doc_id")
        .select(col("doc_id"),
          col("shuffle_rank").cast("long").as("shuffle_rank"))),

    // --- sequence packing: concatenate docs in id order, cut 512-token
    // windows; the global token prefix-sum is the two-phase distributed
    // scan (no single-task global window) -----------------------------------
    "pipe_pack_sequences" -> ((s, dir) => {
      // tokenize ONCE: the count column feeds the scan and the output
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), pipeline.Text.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
      pipeline.Sampling.packSequences(docs, "doc_id", col("n_tokens"),
        windowTokens = 512)
        .select("doc_id", "n_tokens", "window_start", "window_end",
          "window_offset")
    }),

    // --- deterministic repetition weights ("epochs" per domain):
    // floor(weight) copies + hash-selected fractional copy ------------------
    "pipe_repeat_weight" -> ((s, dir) =>
      pipeline.Sampling.repeatByWeight(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 250, "de" -> 100, "fr" -> 150,
          "es" -> 50, "zh" -> 0))
        .select("doc_id", "lang", "rep")),

    // --- pipeline: brute-force cosine top-k ANN ----------------------------
    "pipe_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // cast-first collect: dtype-proof if the testdata regenerates the
      // embedding column as double (the events.ts lesson)
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.bruteForceTopK(
        e.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, 10)
        .withColumn("cos", round(col("cos"), 6))
    }),

    // --- cluster-balanced sampling (topic balancing): exact k-means
    // clusters capped at 100 members each, md5-hash order picking the
    // survivors — rank-limit window plans as WindowGroupLimit ----------------
    "pipe_cluster_balance" -> ((s, dir) =>
      pipeline.Similarity.clusterBalance(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, quota = 100)),

    // --- persisted IVF index: exact-rational k-means assignment
    // written parquet PARTITIONED BY cell, centroid states alongside;
    // the query probes 2 of 4 cells and reads ONLY their files
    // (partition pruning — audited on inputFiles) ----------------------------
    "pipe_ann_ivf_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      val out = s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_ivfidx_${ProcessHandle.current().pid()}"
      pipeline.Similarity.buildIvfIndex(e.filter(col("vec_id") =!= 0L),
        "vec_id", "embedding", out, nCells = 4, iters = 2)
      pipeline.Similarity.queryIvfIndex(s, out, q, k = 10, nProbe = 2)
        .select(col("id").as("vec_id"), round(col("cos"), 6).as("cos"))
    }),

    // --- int8 scalar-quantized ANN: per-dim min/max quantization, an
    // EXACT-integer dot-product prescan over the codes (4x less data
    // read at scale), float-cosine rerank of the C*k best — both
    // engines replay the integer ranking bit-for-bit ------------------------
    "pipe_ann_sq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.sqTopK(
        e.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, 10)
        .withColumn("cos", round(col("cos"), 6))
    }),

    // --- product-quantized ANN (the FAISS codebook recipe): per-
    // subspace exact-rational k-means codebooks, vectors stored as m
    // codes, ADC lookup-table scan, float-cosine rerank — the oracle
    // replays all four subspace codebooks + the ADC ranking in SQL ----------
    "pipe_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.pqTopK(
        e.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, 10)
        .withColumn("cos", round(col("cos"), 6))
    }),

    // --- pipeline: IVF ANN with every cell probed — must equal the exact
    // brute-force top-k (the spec checks partial-probe recall) -------------
    "pipe_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // cast-first collect: dtype-proof if the testdata regenerates the
      // embedding column as double (the events.ts lesson)
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.ivfTopK(
        e.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, 10,
        nCells = 8, nProbe = 8)
        .withColumn("cos", round(col("cos"), 6))
    }),

    // --- pipeline: multimodal metadata over binary payloads ----------------
    "pipe_multimodal_meta" -> ((s, dir) => {
      val bin = t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      pipeline.Multimodal.withMetadata(bin, "payload", "image", "png")
        .select(col("doc_id"), col("meta")("byte_len").as("byte_len"),
          col("meta")("content_md5").as("content_md5"))
    }),

    // --- pipeline: image near-dup via perceptual aHash over REAL decoded
    // pixels. Payloads are synthetic block-pattern PNGs (doc_id % 7 + 1
    // white column blocks), so expected pairs are exactly derivable:
    // same pattern -> identical hash -> dist 0; different patterns are
    // >= 8 bits apart and never pair at maxDist 6 ----------------------
    "pipe_image_dedup" -> ((s, dir) => {
      val png = udf((p: Int) => pipeline.Multimodal.syntheticPng(p))
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 70)
        .withColumn("payload",
          png((pmod(col("doc_id"), lit(7)) + 1).cast("int")))
      pipeline.Multimodal.imagePairs(docs, "doc_id", "payload")
    }),

    // --- pipeline: image resize (real java.awt resample) + re-decode:
    // the decoded dims of the resized payload prove the whole
    // decode->resize->encode->decode loop end-to-end -------------------
    "pipe_image_resize" -> ((s, dir) => {
      val png = udf((p: Int) => pipeline.Multimodal.syntheticPng(p))
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 20)
        .withColumn("payload",
          png((pmod(col("doc_id"), lit(7)) + 1).cast("int")))
      val rs = pipeline.Multimodal.resizeImages(docs, "payload", 16, 16)
      pipeline.Multimodal.decodeBatched(rs, "resized", real = true)
        .select(col("doc_id"), col("decoded")("width").as("width"),
          col("decoded")("height").as("height"))
    }),

    // --- pipeline: image grid features (pixel-space embedding) — exact
    // values derivable from the block pattern, and the vector plugs
    // straight into the ANN / embedding-dedup operators ----------------
    "pipe_image_features" -> ((s, dir) => {
      val png = udf((p: Int) => pipeline.Multimodal.syntheticPng(p))
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 20)
        .withColumn("payload",
          png((pmod(col("doc_id"), lit(7)) + 1).cast("int")))
      // Feature vector joined to a flat string (one decimal per cell)
      // so the driver's pandas comparator can sort the column.
      pipeline.Multimodal.imageFeatures(docs, "payload")
        .select(col("doc_id"),
          concat_ws(",", transform(col("features"),
            x => format_string("%.1f", x.cast("double")))).as("features"))
    }),

    // --- pipeline: all-pairs k-NN join (exact baseline; the LSH scale
    // path is recall-spec'd against this in PipelineSpec) ------------------
    "pipe_knn_join" -> ((s, dir) =>
      pipeline.Similarity.knnJoinExact(
        t(s, dir, "embeddings").filter(col("vec_id") < 150),
        "vec_id", "embedding", 3)
        .withColumn("cos", round(col("cos"), 6))),

    // --- pipeline: language id + quality (rows-only: heuristic model) ------
    "pipe_langid_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        pipeline.Text.langId(col("text")).as("pred_lang"),
        pipeline.Text.qualityScore(col("text")).as("quality"),
        pipeline.Text.subwordCount(col("text")).as("n_subwords"))),

    // --- pipeline: SimHash near-dup pairs (rows-only: bit-vote sketch) -----
    "pipe_simhash_pairs" -> ((s, dir) =>
      pipeline.Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        prefixBits = 12, maxDist = 16)),

    // --- pipeline: LSH-bucketed ANN (rows-only: recall<1 by design) --------
    "pipe_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // cast-first collect: dtype-proof if the testdata regenerates the
      // embedding column as double (the events.ts lesson)
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.lshTopK(e.filter(col("vec_id") =!= 0L),
        "vec_id", "embedding", q, 10, nPlanes = 4)
        .withColumn("cos", round(col("cos"), 6))
    }),

    // --- query_table (functions.py query_table / StagedIndexReader):
    // keyed range read of the native format; parquet stats skip files.
    // The fixture WRITE is memoized per (process, sf dir) so the timed
    // body — and Bench's post-burn-in iterations — measure the indexed
    // READ path; write throughput is covered by matrix_write_read ---------
    "query_table" -> ((s, dir) => {
      val tmp = qtFixture(s, dir)
      Table.queryTable(s, tmp, 1000L, 3000L)
        .selectFields("o_custkey", "o_totalprice").df
    }),

    // --- pipeline: embedding-cosine near-dup pairs (exact baseline) -------
    "pipe_embed_dedup" -> ((s, dir) =>
      pipeline.Dedup.embeddingPairsExact(
        t(s, dir, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", 0.2)
        .withColumn("cos", round(col("cos"), 6))),

    // --- summarize_variants (qc.py): per-contig counts, allele-type
    // counts, allele-number histogram in long format -----------------------
    "geno_summarize_variants" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Genetics.summarizeVariants(mt).df
    }),

    // --- lambda_gc (statgen.py:3097): genomic-control inflation on a
    // symmetric uniform p grid — median p = 0.5 makes the implied chi²
    // median the null median, so λ = 1 in closed form --------------------
    "geno_lambda_gc" -> ((s, _) => {
      import s.implicits._
      val uniform = s.range(1, 100)
        .select((col("id").cast("double") / 100.0).as("p"))
      val l = methods.Genetics.lambdaGc(uniform, col("p"),
        approximate = false)
      Seq(math.rint(l * 1e6) / 1e6).toDF("lambda_gc")
    }),

    // --- genetics: packed-call accessors (Calls: pure bit arithmetic) ------
    "geno_call_functions" -> ((s, dir) => {
      import graft.functions.Calls
      val o = t(s, dir, "orders")
      val call = Calls.diploid(pmod(col("o_orderkey"), lit(3)),
        pmod(col("o_custkey"), lit(3)))
      o.select(col("o_orderkey"),
        call.as("call"),
        Calls.unphasedDiploidGtIndex(call).as("gt"),
        Calls.nNonRefAlleles(call).as("n_alt"),
        Calls.isHet(call).as("is_het"),
        Calls.isHomRef(call).as("is_hom_ref"),
        Calls.ploidy(call).as("ploidy"))
    }),

    // --- genetics: call_stats aggregator (AC/AF/AN/hom) --------------------
    "geno_call_stats" -> ((s, dir) => {
      import graft.functions.Calls
      val o = t(s, dir, "orders")
      val call = Calls.diploid(pmod(col("o_orderkey"), lit(2)),
        pmod(col("o_custkey"), lit(2)))
      o.select(col("o_orderstatus"), call.as("call"))
        .groupBy(col("o_orderstatus"))
        .agg(operators.Aggs.callStats(col("call"), 2).as("cs"))
        .select(col("o_orderstatus"),
          col("cs")("AN").as("an"),
          element_at(col("cs")("AC"), 2).as("ac_alt"),
          round(element_at(col("cs")("AF"), 2), 6).as("af_alt"),
          element_at(col("cs")("homozygote_count"), 1).as("hom_ref"),
          element_at(col("cs")("homozygote_count"), 2).as("hom_alt"))
    }),

    // --- genetics: Hardy-Weinberg equilibrium (expression kernel) ----------
    "geno_hwe" -> ((s, dir) => {
      import graft.functions.{Calls, StatTests}
      val o = t(s, dir, "orders")
      val call = Calls.diploid(pmod(col("o_orderkey"), lit(2)),
        pmod(col("o_custkey"), lit(2)))
      val counts = o.select(call.as("c")).agg(
        sum(Calls.isHomRef(col("c")).cast("long")).as("n_hom_ref"),
        sum(Calls.isHet(col("c")).cast("long")).as("n_het"),
        sum(Calls.isHomVar(col("c")).cast("long")).as("n_hom_var"))
      val hwe = StatTests.hardyWeinbergTest(col("n_hom_ref"), col("n_het"),
        col("n_hom_var"))
      counts.select(col("n_hom_ref"), col("n_het"), col("n_hom_var"),
        round(hwe("het_freq_hwe"), 6).as("het_freq"),
        round(hwe("stat"), 6).as("chi_sq_stat"))
    }),

    // --- agg: exact product (custom Aggregator, not exp-log) ---------------
    "agg_product" -> ((s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 200)
        .groupBy(col("l_returnflag"))
        .agg(round(operators.Aggs.product(lit(1.0) + col("l_discount")), 6)
          .as("prod_disc"), count(lit(1)).as("n"))),

    // --- hl.agg.corr (aggregators.py `corr`): Pearson correlation is a
    // Spark built-in — codegen'd partial aggregation, zero custom code --
    "agg_corr" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("r"), count(lit(1)).as("n"))),

    // --- agg: exact interpolated percentiles ------------------------------
    "agg_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"))),

    // --- agg: impute_type (schema inference over strings) ------------------
    "agg_impute_type" -> ((s, dir) => {
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
    }),

    // --- agg: per-group OLS via the custom LinearRegression Aggregator
    // (X'X/X'y accumulation + Breeze solve — `LinearRegressionAggregator`) --
    "agg_linreg" -> ((s, dir) => {
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
    }),

    // --- deterministic seeded RNG: fixed keys 1..20, oracle = precomputed
    // expected constants (the hash stream is deterministic by construction) -
    "rand_seeded" -> ((s, _) => {
      import graft.functions.Rand
      s.range(1, 21).select(col("id").as("key"),
        round(Rand.runif(42L, col("id")), 8).as("u"),
        round(Rand.rnorm(42L, col("id")), 8).as("z"),
        Rand.rint32(7L, 10, col("id")).as("k"))
    }),

    // --- agg: deterministic uniform sample (bottom-k by FNV-1a hash;
    // oracle = the two statuses with smallest seeded hash, precomputed) -----
    "agg_sample" -> ((s, dir) =>
      t(s, dir, "orders")
        .agg(operators.Aggs.sample(col("o_orderstatus"), 2).as("s"))
        .select(explode(col("s")).as("v"))),

    // --- agg: downsample (grid-cell scatter thinning, keep-least per cell) -
    "agg_downsample" -> ((s, dir) =>
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
          col("p")("_1").as("x"), col("p")("_2").as("y"))),

    // --- sample_qc (reference qc.py:59) over the committed VCF fixture ----
    "qc_sample_qc" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Qc.sampleQc(mt).df.select(
        col("s"), col("n_called"), col("n_not_called"), col("n_filtered"),
        round(col("call_rate"), 6).as("call_rate"),
        col("n_hom_ref"), col("n_het"), col("n_hom_var"), col("n_non_ref"),
        col("n_singleton"), col("n_snp"), col("n_transition"),
        col("n_transversion"), col("n_insertion"), col("n_deletion"),
        round(col("r_ti_tv"), 6).as("r_ti_tv"),
        round(col("dp_mean"), 6).as("dp_mean"),
        round(col("dp_stdev"), 6).as("dp_stdev"),
        col("dp_min"), col("dp_max"))
    }),

    // --- compute_charr (reference qc.py:1822): contamination estimate
    // over the VCF fixture with deterministic synthesized AD/GQ and a
    // position-derived reference AF the oracle recomputes ------------------
    "qc_compute_charr" -> ((s, _) => {
      import graft.functions.Calls
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt0 = sources.Vcf.read(s, VcfFixture)
      // non-degenerate AD split: hom-var keeps DP - floor(2DP/3) ref reads
      val mt = mt0.mapEntries((e, _) => {
        val d = Calls.nNonRefAlleles(e("GT"))
        val adAlt = floor(e("DP").cast("double") * d / 3.0).cast("int")
        struct(
          e("GT").as("GT"),
          array(e("DP") - adAlt, adAlt).as("AD"),
          e("DP").as("DP"),
          (lit(15) + pmod(col("position"), lit(10))).as("GQ"))
      })
      val refAf = pmod(col("position"), lit(100)).cast("double") / 100.0
      methods.Qc.computeCharr(mt, refAf).df
        .select(col("s"), round(col("charr"), 6).as("charr"))
    }),

    // --- rename_duplicates (reference misc.py:280): unique col ids ---------
    "matrix_rename_duplicates" -> ((s, dir) => {
      import org.apache.spark.sql.types.StringType
      val names = IndexedSeq("A", "B", "A", "B", "A", "C", "A")
      lineitemMatrix(s, dir)
        .copy(
          colValues = names.map(n => org.apache.spark.sql.Row(n)),
          colSchema = StructType(Seq(StructField("s", StringType, false))),
          colKey = Seq("s"))
        .renameDuplicates()
        .colsTable.df.select("s", "unique_id")
    }),

    // --- segment_intervals (reference misc.py:425): split interval keys
    // at a broadcast point grid; codegen'd per-row segmentation + explode --
    "table_segment_intervals" -> ((s, dir) => {
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
    }),

    // --- simulate_random_mating (reference mating_simulation.py):
    // deterministic (seeded pedigree + counter-based per-row transmission);
    // oracle is a golden per-sample summary of the fixture simulation ------
    "geno_simulate_mating" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val sim = methods.MatingSimulation.simulateRandomMating(
        mt, nRounds = 1, generationSizeMultiplier = 1.0,
        keepFounders = true, seed = 5L)
      import graft.functions.Calls
      sim.entriesTable.df
        .groupBy(col("s"), col("original"), col("mother"), col("father"))
        .agg(
          count(when(col("GT").isNotNull, 1)).as("n_called"),
          sum(Calls.nNonRefAlleles(col("GT")).cast("long")).as("ac"))
        .drop("col_idx")
    }),

    // --- contingency_table_test (reference stats/package.scala:148):
    // chi-sq above min_cell_count, Fisher + conditional-MLE OR below;
    // golden oracle (no chi-sq/hypergeometric tails in DuckDB) -------------
    "fn_contingency" -> ((s, _) => {
      import graft.functions.StatTests
      val df = s.range(20).select(col("id").cast("int").as("k"))
        .withColumn("a", pmod(col("k"), lit(7)).cast("int"))
        .withColumn("b", (pmod(col("k"), lit(5)) + 1).cast("int"))
        .withColumn("c", (pmod(col("k"), lit(3)) + 1).cast("int"))
        .withColumn("d", pmod(col("k") * 3, lit(11)).cast("int"))
      val ct = StatTests.contingencyTableTest(col("a"), col("b"),
        col("c"), col("d"), minCellCount = 3)
      df.select(col("k"), col("a"), col("b"), col("c"), col("d"),
        round(ct("p_value"), 6).as("p_value"),
        round(ct("odds_ratio"), 6).as("odds_ratio"))
    }),

    // --- reverse_complement (reference functions.py:6254) -----------------
    "fn_revcomp" -> ((s, dir) => {
      import graft.functions.Alleles
      t(s, dir, "part").filter(col("p_partkey") < 50)
        .select(col("p_partkey"),
          Alleles.reverseComplement(upper(col("p_name"))).as("rc_dna"),
          Alleles.reverseComplement(col("p_name"), rna = true)
            .as("rc_rna"))
    }),

    // --- get_vcf_metadata (reference impex.py): header declarations -------
    "vcf_metadata" -> ((s, _) => sources.Vcf.metadata(s, VcfFixture)),

    // --- import_lines (reference impex.py:1898) ---------------------------
    "table_import_lines" -> ((s, _) =>
      sources.TextTable.importLines(s, VcfFixture).df.select(col("text"))),

    // --- variant_qc (reference qc.py:219); HWE fields are spec-tested
    // against hail's documented goldens (no closed SQL form) ---------------
    "qc_variant_qc" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Qc.variantQc(mt).df.select(
        col("contig"), col("position"), col("ref"),
        concat_ws(",", col("alt")).as("alts"),
        element_at(col("AC"), 1).as("ac_ref"),
        element_at(col("AC"), 2).as("ac_alt"),
        col("AN").as("an"),
        round(element_at(col("AF"), 2), 6).as("af_alt"),
        element_at(col("homozygote_count"), 1).as("hom_ref"),
        element_at(col("homozygote_count"), 2).as("hom_alt"),
        round(col("call_rate"), 6).as("call_rate"),
        col("n_called"), col("n_not_called"), col("n_filtered"),
        col("n_het"), col("n_non_ref"))
    }),

    // --- filter_alleles (statgen.py:4295): drop alts by predicate (keep
    // SNPs), rebuild index maps, min-rep the key; entries untouched -------
    "geno_filter_alleles" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfMultiFixture)
      val out = methods.FilterAlleles(mt,
        (a, _) => graft.functions.Alleles.isSnp(col("ref"), a))
      out.rows.select(
        col("contig"), col("position"), col("ref"),
        concat_ws(",", col("alt")).as("alts"),
        col("old_position"),
        concat_ws(",", col("old_alt")).as("old_alts"),
        concat_ws(",", transform(col("old_to_new"),
          x => coalesce(x.cast("string"), lit(".")))).as("o2n"),
        concat_ws(",", transform(col("new_to_old"),
          x => x.cast("string"))).as("n2o"))
    }),

    // --- filter_alleles_hts (statgen.py:4405): downcode AND subset entry
    // recodes over deterministic synthesized AD/GQ/PL (pure functions of
    // DP and GT, so the oracle rebuilds them exactly) ----------------------
    "geno_filter_alleles_hts" -> ((s, _) => {
      import graft.functions.Calls
      val mt0 = sources.Vcf.read(s, VcfMultiFixture)
      val nAll = size(col("alt")) + 1
      val tAll = (nAll * (nAll + 1) / 2).cast("int")
      val mt = mt0.mapEntries((e, _) => {
        val gi = Calls.unphasedDiploidGtIndex(e("GT"))
        val pl = transform(sequence(lit(0), tAll - 1), g =>
          when(g === gi, 0).otherwise((e("DP") * 7 + g * 13) % 50 + 10))
        val ad = transform(sequence(lit(0), nAll - 1),
          i => (e("DP") * 3 + i * 5) % 40)
        struct(
          e("GT").as("GT"),
          when(e("GT").isNotNull, ad).as("AD"),
          e("DP").as("DP"),
          when(e("GT").isNotNull, Calls.gqFromPl(pl)).as("GQ"),
          when(e("GT").isNotNull, pl).as("PL"))
      })
      val pred = (a: org.apache.spark.sql.Column,
          i: org.apache.spark.sql.Column) =>
        graft.functions.Alleles.isSnp(col("ref"), a)
      def dump(m: graft.MatrixTable, tag: String) = m.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        concat_ws(",", col("alt")).as("alts"), col("s"),
        Calls.allele1(col("GT")).as("a1"),
        Calls.allele2(col("GT")).as("a2"),
        when(col("AD").isNotNull, concat_ws(",",
          transform(col("AD"), x => x.cast("string")))).as("ad"),
        col("DP").as("dp"), col("GQ").as("gq"),
        when(col("PL").isNotNull, concat_ws(",",
          transform(col("PL"), x => x.cast("string")))).as("pl"),
        lit(tag).as("tag"))
      dump(methods.FilterAlleles.hts(mt, pred, subset = false), "down")
        .unionByName(
          dump(methods.FilterAlleles.hts(mt, pred, subset = true), "sub"))
    }),

    // --- split_multi (reference statgen.py:3132/3312): explode alts,
    // downcode GT, min-rep — on a committed multiallelic fixture -----------
    "split_multi" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfMultiFixture)
      methods.SplitMulti(mt).entriesTable.df
        .select(col("contig"), col("position"), col("ref"),
          element_at(col("alt"), 1).as("alt"),
          col("a_index"), col("was_split"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          col("DP").as("dp"))
    }),

    // --- composite end-to-end genetics pipeline, mirroring the
    // reference's pinned benchmark (benchmark_methods.py:130
    // test_genetics_pipeline): import VCF → split_multi →
    // variant_qc + sample_qc → filter cols/rows/entries on the QC
    // fields → write native → read back → aggregate. The split rows
    // are pinned ONCE (Materialize.fanout) and feed BOTH QC consumers
    // — the sample aggregate and the annotated row pipeline into the
    // write — so the source parses once (composition plan-audited).
    // DP stands in for GQ in the entry filter (the fixture carries
    // GT:DP); thresholds sized to the fixture so every filter stage
    // drops something real -------------------------------------------------
    "genetics_pipeline" -> ((s, _) => {
      import graft.functions.Calls
      val sp0 = methods.SplitMulti(sources.Vcf.read(s, VcfMultiFixture))
      val sp = sp0.copy(rows = pipeline.Materialize.fanout(sp0.rows))
      val ann = methods.Qc.annotateVariantQc(sp)
        .annotateColsTable(methods.Qc.sampleQc(sp), Seq("call_rate"))
      val crIdx = ann.colSchema.fieldIndex("call_rate")
      val filtered = ann
        .filterCols(_.getDouble(crIdx) > 0.8)
        .filterRows(element_at(col("AC"), 2) > 2)
        .filterEntries(e => e("GT").isNotNull &&
          when(length(col("ref")) =!= length(element_at(col("alt"), 1)),
            e("DP") > 20).otherwise(e("DP") > 10))
      val out = java.nio.file.Files
        .createTempDirectory("genetics_e2e").toString + "/pipeline.mt"
      filtered.write(out)
      MatrixTable.read(s, out).entriesTable.df
        .groupBy(col("contig"), col("position"), col("ref"),
          element_at(col("alt"), 1).as("alt"), col("a_index"),
          col("was_split"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("DP")).cast("long").as("dp_sum"),
          sum(Calls.nNonRefAlleles(col("GT"))).cast("long")
            .as("ac_kept"))
    }),

    // --- linear_regression_rows (statgen.py:235): per-variant OLS via the
    // X'X Aggregator; deterministic phenotype derived from sample id;
    // p_value is spec-tested (no t-CDF in the oracle engine) ---------------
    "linreg_rows" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val pheno = mt.colsTable.df
        .withColumn("y", substring(col("s"), 2, 10).cast("double"))
      methods.Regression.linearRegressionRows(mt, pheno, "y").df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("n"),
          round(col("beta"), 6).as("beta"),
          round(col("standard_error"), 6).as("standard_error"),
          round(col("t_stat"), 4).as("t_stat"))
    }),

    // --- multi-phenotype linear_regression_rows (list-of-y mode): one
    // scan fits every phenotype; exploded per (variant, y index) -------
    "linreg_rows_multi" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val y1 = substring(col("s"), 2, 10).cast("double")
      val pheno = mt.colsTable.df
        .withColumn("y1", y1).withColumn("y2", y1 * y1)
      methods.Regression
        .linearRegressionRowsMulti(mt, pheno, Seq("y1", "y2")).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("n"),
          posexplode(arrays_zip(col("beta"), col("standard_error"),
            col("t_stat"))).as(Seq("y_idx", "__z")))
        .select(col("contig"), col("position"), col("ref"), col("alts"),
          col("n"), col("y_idx"),
          round(col("__z")("beta"), 6).as("beta"),
          round(col("__z")("standard_error"), 6).as("standard_error"),
          round(col("__z")("t_stat"), 4).as("t_stat"))
    }),

    // --- linear_mixed_regression_rows (statgen.py, FaST-LMM spectral):
    // with identity kinship the REML model collapses to OLS, so beta and
    // the Wald chi_sq (= t^2) have the linreg closed form; the structured-
    // kinship path is spec-tested ------------------------------------------
    "lmm_rows" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val pheno = mt.colsTable.df
        .withColumn("y", substring(col("s"), 2, 10).cast("double"))
      methods.Lmm.linearMixedRegressionRows(mt, pheno, "y",
        kinship = Some(breeze.linalg.DenseMatrix.eye[Double](mt.nCols))).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          round(col("beta"), 6).as("beta"),
          round(col("chi_sq"), 4).as("chi_sq"))
    }),

    // --- GRM (statgen.py:3576): normalized Gramian — exact SQL oracle -----
    "linalg_grm" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Pca.grm(mt)
        .select(col("i"), col("j"), round(col("grm"), 6).as("grm"))
    }),

    // --- hwe_normalized_pca (pca.py:35): eigenvalue-sum = trace of the
    // normalized Gramian, an exact invariant the oracle can compute;
    // eigenvalue/score/loading values are spec-tested against Breeze SVD --
    "linalg_pca" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val res = methods.Pca.hweNormalizedPca(mt, k = 5)
      // Σλ over returned components = trace of the normalized Gramian
      // (rank <= nSamples-1 because rows are mean-centered; a dropped
      // zero-sigma tail changes the sum by ~1e-16, invisible at 4 dp)
      val trace = BigDecimal(res.eigenvalues.sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.range(1).select(lit(trace).as("trace"))
    }),

    // --- PLINK import (io/plink/LoadPlink.scala): 2-bit .bed decode;
    // oracle = golden text dump generated alongside the binary fixture -----
    "plink_import" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Plink.read(s,
        "/root/repo/src/test/resources/oracle_plink")
      mt.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.allele1(col("GT")).as("a1"),
        Calls.allele2(col("GT")).as("a2"))
    }),

    // --- logistic_regression_rows (statgen.py:731, Wald) with binary x:
    // the fitted slope must equal the closed-form log odds ratio ------------
    "logistic_rows" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      val pheno = mt.colsTable.df.withColumn("y",
        (substring(col("s"), 2, 10).cast("int") % 2).cast("double"))
      val fit = methods.Regression.logisticRegressionRows(mt, pheno, "y",
        xOf = gt => (Calls.nNonRefAlleles(gt) > 0).cast("double")).df
      val e = mt.entriesTable.df.join(broadcast(pheno), Seq("s"))
        .filter(col("GT").isNotNull)
        .withColumn("x", (Calls.nNonRefAlleles(col("GT")) > 0).cast("int"))
      val cells = e.groupBy(col("contig"), col("position"), col("ref"))
        .agg(
          sum(col("x") * col("y")).cast("long").as("n11"),
          sum(col("x") * (lit(1.0) - col("y"))).cast("long").as("n10"),
          sum((lit(1) - col("x")) * col("y")).cast("long").as("n01"),
          sum((lit(1) - col("x")) * (lit(1.0) - col("y"))).cast("long")
            .as("n00"))
      fit.join(cells, Seq("contig", "position", "ref"))
        .filter(col("n11") > 0 && col("n10") > 0 && col("n01") > 0 &&
          col("n00") > 0)
        .select(col("contig"), col("position"), col("ref"), col("n"),
          round(col("beta"), 6).as("beta"),
          round(col("standard_error"), 6).as("standard_error"))
    }),

    // --- locus-aware filter_intervals over the (contig, position) key -----
    "table_filter_locus_intervals" -> ((s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      sources.Vcf.read(s, VcfFixture).rowsTable
        .filterLocusIntervals(Seq((("chr1", 1500), ("chr2", 1000))))
        .df.select(col("contig"), col("position"), col("ref"), col("qual"))
    }),

    // --- impute_sex (statgen.py:73): inbreeding F on "X" (chr2 re-labeled
    // as X to exercise the path on the autosomal fixture) ------------------
    "geno_impute_sex" -> ((s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38.copy(xContigs = Set("chr2"))
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Genetics.imputeSex(mt).df.select(
        col("s"), col("n_called"),
        round(col("expected_homs"), 6).as("expected_homs"),
        col("observed_homs"),
        round(col("f_stat"), 6).as("f_stat"),
        col("is_female"))
    }),

    // --- mendel_errors (family_methods.py:130): trio violation codes ------
    "geno_mendel_errors" -> ((s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Genetics.mendelErrors(mt, Seq(
        ("S1", "S2", "S3", true),
        ("S4", "S2", "S3", false))).df
        .select(col("contig"), col("position"), col("ref"), col("s"),
          col("mendel_code"))
    }),

    // --- mendel_errors summary views (family_methods.py tables 2-4) -------
    "geno_mendel_per_variant" -> ((s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Genetics.mendelPerVariant(mt, Seq(
        ("S1", "S2", "S3", true), ("S4", "S2", "S3", false))).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("errors"))
    }),

    "geno_mendel_per_sample" -> ((s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Genetics.mendelPerSample(mt, Seq(
        ("S1", "S2", "S3", true), ("S4", "S2", "S3", false))).df
        .select(col("s"), col("errors"), col("snp_errors"))
    }),

    // --- pc_project (experimental/pca.py): genotype projection onto
    // row loadings; synthetic deterministic loadings so the oracle
    // replays the whole projection ----------------------------------------
    "geno_pc_project" -> ((s, _) => {
      val mt0 = sources.Vcf.read(s, VcfFixture)
      val st = graft.functions.GenotypeFolds.doseStats(mt0.entries)
      val mt = mt0.copy(rows = mt0.rows
        .withColumn("af", when(st("nc") > 0,
          st("ac").cast("double") / (st("nc") * 2).cast("double")))
        .withColumn("ldg", array(
          (pmod(col("position"), lit(7)) + 1).cast("double"),
          (pmod(col("position"), lit(5)) + 1).cast("double"))))
      methods.Pca.pcProject(mt, "ldg", "af").df
        .select(col("s"),
          round(element_at(col("scores"), 1), 6).as("pc1"),
          round(element_at(col("scores"), 2), 6).as("pc2"))
    }),

    // --- import_gtf (experimental/import_gtf.py): GTF/GFF2 import with
    // attribute-tag widening, contig normalization, invalid-contig skip --
    "table_gtf_import" -> ((s, _) => {
      val ht = sources.Gtf.read(s,
        "/root/repo/src/test/resources/oracle_annotations.gtf",
        Some(graft.functions.ReferenceGenome.GRCh38),
        skipInvalidContigs = true).df
      ht.select(
        col("interval")("contig").as("contig"),
        col("interval")("start").as("start"),
        col("interval")("end").as("end"),
        col("source"), col("feature"), col("score"), col("strand"),
        col("frame"), col("gene_id"), col("gene_name"),
        col("transcript_id"), col("exon_number"), col("level"))
    }),

    // --- full_outer_join_mt (experimental): outer join on rows AND
    // columns; entries become struct(left_entry, right_entry) -------------
    "matrix_full_outer_join" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      val l = mt.chooseCols(IndexedSeq(0, 1)).filterRows(col("position") < 2000)
      val r = mt.chooseCols(IndexedSeq(1, 2)).filterRows(col("position") >= 1000)
      methods.MtJoins.fullOuterJoinMt(l, r).entriesTable.df
        .select(col("contig"), col("position"), col("s"),
          Calls.allele1(col("left_entry")("GT")).as("l_a1"),
          Calls.allele2(col("left_entry")("GT")).as("l_a2"),
          Calls.allele1(col("right_entry")("GT")).as("r_a1"),
          Calls.allele2(col("right_entry")("GT")).as("r_a2"))
    }),

    // --- explode_trio_matrix (experimental): trio matrix back to a
    // sample matrix, three columns per trio ---------------------------------
    "matrix_explode_trio" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      val tm = methods.Trios.trioMatrix(mt,
        Seq(("S1", "S2", "S3", true), ("S4", "S2", "S3", false)))
      methods.MtJoins.explodeTrioMatrix(tm).entriesTable.df
        .select(col("contig"), col("position"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"), col("DP").as("dp"))
    }),

    // --- phase_by_transmission (experimental): trio phasing by allele
    // transmission; the 2x2 candidate-combination search replayed
    // relationally in the oracle ------------------------------------------
    "geno_phase_by_transmission" -> ((s, _) => {
      import graft.functions.Calls
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, VcfFixture)
      val tm = methods.Trios.trioMatrix(mt,
        Seq(("S1", "S2", "S3", true), ("S4", "S2", "S3", false)))
      methods.PhaseByTransmission.phaseTrioMatrix(tm).entriesTable.df
        .select(col("contig"), col("position"), col("id").as("s"),
          Calls.allele1(col("proband_entry")("PBT_GT")).as("k_a1"),
          Calls.allele2(col("proband_entry")("PBT_GT")).as("k_a2"),
          Calls.allele1(col("father_entry")("PBT_GT")).as("f_a1"),
          Calls.allele2(col("father_entry")("PBT_GT")).as("f_a2"),
          Calls.allele1(col("mother_entry")("PBT_GT")).as("m_a1"),
          Calls.allele2(col("mother_entry")("PBT_GT")).as("m_a2"))
    }),

    // --- concordance (qc.py:360): 5-state cross-tab of two matrices -------
    "geno_concordance" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val right = mt
        .filterRows(pmod(col("position"), lit(2)) === 1)
        .filterEntries(e => e("DP") >= 10)
      methods.Genetics.concordance(mt, right)
    }),

    // --- concordance per-sample / per-variant views (the reference's
    // cols/rows tables of `concordance`) -----------------------------------
    "geno_concordance_per_sample" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val right = mt
        .filterRows(pmod(col("position"), lit(2)) === 1)
        .filterEntries(e => e("DP") >= 10)
      methods.Genetics.concordancePerSample(mt, right)
    }),

    "geno_concordance_per_variant" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val right = mt
        .filterRows(pmod(col("position"), lit(2)) === 1)
        .filterEntries(e => e("DP") >= 10)
      methods.Genetics.concordancePerVariant(mt, right)
        .select(col("contig"), col("position"), col("ref"),
          col("left_state"), col("right_state"), col("n"))
    }),

    // --- BGEN v1.2 import (io/bgen/LoadBgen.scala): zlib layout-2 decode;
    // oracle = golden dump generated alongside the binary fixture ----------
    "bgen_import" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Bgen.read(s,
        "/root/repo/src/test/resources/oracle_bgen.bgen",
        Some("/root/repo/src/test/resources/oracle_bgen.sample"))
      mt.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.nNonRefAlleles(col("GT")).as("gt"),
        round(element_at(col("GP"), 1), 6).as("paa"),
        round(element_at(col("GP"), 2), 6).as("pab"),
        round(element_at(col("GP"), 3), 6).as("pbb"))
    }),

    // --- Oxford GEN import (io/gen/): text probabilities + hard calls -----
    "gen_import" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Gen.read(s,
        "/root/repo/src/test/resources/oracle_gen.gen",
        "/root/repo/src/test/resources/oracle_gen.sample")
      mt.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.nNonRefAlleles(col("GT")).as("gt"),
        round(element_at(col("GP"), 1), 6).as("paa"))
    }),

    // --- KING-robust kinship (relatedness/king.py:9) -----------------------
    "geno_king" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Genetics.king(mt)
        .select(col("s_i"), col("s_j"), col("n_shared"),
          col("n_het_het"), col("n_opp_hom"),
          round(col("phi"), 6).as("phi"))
    }),

    // --- ld_prune (statgen.py:4708): greedy windowed prune + global MIS;
    // deterministic in key order, gated against the literal golden kept
    // set (provenance: MethodsSpec checks the r² invariants) ---------------
    "geno_ld_prune" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Ld.ldPruneGlobal(mt, r2Threshold = 0.2, window = 1500,
        numPartitions = 2).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"))
    }),

    // --- windowed ld_matrix (statgen.py:3836): pairwise Pearson r ---------
    "geno_ld_matrix" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      // `+ 0.0` collapses IEEE -0.0 (from rounding a tiny negative) to
      // +0.0 so the driver's repr-hash matches the oracle's
      methods.Ld.ldMatrix(mt, window = 1500)
        .select(col("contig"), col("pos_i"), col("pos_j"),
          (round(col("r"), 6) + lit(0.0)).as("r"))
    }),

    // --- TableRename (TableIR.scala:2570) ---------------------------------
    "table_rename" -> ((s, dir) =>
      Table(t(s, dir, "region"), Seq("r_regionkey"))
        .rename("r_name" -> "region_name").df
        .select(col("r_regionkey"), col("region_name"))),

    // --- TableRepartition (TableIR.scala:2184): row set invariant ---------
    "table_repartition" -> ((s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_orderkey"))
        .repartitionTo(7, shuffle = true).df
        .select(col("o_orderkey"), col("o_totalprice"))),

    // --- agg: fixed-range histogram (hl.agg.hist) -------------------------
    "agg_hist" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(operators.Aggs.hist(col("l_quantity").cast("double"),
          0.0, 50.0, 10).as("h"))
        .select(col("l_returnflag"),
          posexplode(col("h")("bin_freq")).as(Seq("bin", "freq")))),

    // --- VDS combiner + densify (vds/combiner, to_dense_mt): two
    // single-sample gVCFs merge and densify; the expected grid is small
    // enough to oracle as literal VALUES -----------------------------------
    "vds_combine_densify" -> ((s, _) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_vdsq")
      def gvcf(name: String, body: String): String = {
        val f = dir.resolve(s"$name.vcf")
        java.nio.file.Files.writeString(f,
          """##fileformat=VCFv4.2
            |##INFO=<ID=END,Number=1,Type=Integer,Description="Block end">
            |##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
            |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">
            |""".stripMargin +
            s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$name\n"
            + body)
        f.toString
      }
      val a = sources.Vcf.readGvcf(s, gvcf("VA",
        "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=99\tGT:DP\t0/0:21\n" +
        "chr1\t100\t.\tA\tG,<NON_REF>\t50\tPASS\t.\tGT:DP\t0/1:30\n" +
        "chr1\t101\t.\tC\t<NON_REF>\t.\t.\tEND=900\tGT:DP\t0/0:24\n"))
      val b = sources.Vcf.readGvcf(s, gvcf("VB",
        "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=500\tGT:DP\t0/0:17\n" +
        "chr1\t600\t.\tT\tC,<NON_REF>\t44\tPASS\t.\tGT:DP\t1/1:28\n"))
      import graft.functions.Calls
      methods.VdsCombiner.combine(Seq(a, b)).toDenseMt()
        .entriesTable.df
        .select(col("contig"), col("position"), col("s"),
          Calls.nNonRefAlleles(col("GT")).as("n_alt"), col("DP"))
    }),

    // --- VDS interval_coverage (vds/methods.py:759): per-(interval,
    // sample) base coverage from reference blocks; oracle = hand-computed
    // literals over the same tiny gVCF fixtures ----------------------------
    "vds_interval_coverage" -> ((s, _) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_vdsc")
      def gvcf(name: String, body: String): String = {
        val f = dir.resolve(s"$name.vcf")
        java.nio.file.Files.writeString(f,
          """##fileformat=VCFv4.2
            |##INFO=<ID=END,Number=1,Type=Integer,Description="Block end">
            |##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
            |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">
            |""".stripMargin +
            s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$name\n"
            + body)
        f.toString
      }
      val a = sources.Vcf.readGvcf(s, gvcf("VA",
        "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=99\tGT:DP\t0/0:21\n" +
        "chr1\t100\t.\tA\tG,<NON_REF>\t50\tPASS\t.\tGT:DP\t0/1:30\n" +
        "chr1\t101\t.\tC\t<NON_REF>\t.\t.\tEND=900\tGT:DP\t0/0:24\n"))
      val b = sources.Vcf.readGvcf(s, gvcf("VB",
        "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=500\tGT:DP\t0/0:17\n" +
        "chr1\t600\t.\tT\tC,<NON_REF>\t44\tPASS\t.\tGT:DP\t1/1:28\n"))
      val thresholds = Seq(0, 10, 20, 30)
      val cov = methods.VdsCombiner.combine(Seq(a, b))
        .intervalCoverage(Seq(("chr1", 50, 150), ("chr1", 400, 1000)),
          thresholds)
      val tArr = array(thresholds.map(lit): _*)
      cov.select(col("contig"), col("start"), col("end"),
        col("interval_size"), col("s"), col("sum_dp"),
        round(col("mean_dp"), 6).as("mean_dp"),
        posexplode(arrays_zip(col("bases_over_dp_threshold"),
          col("fraction_over_dp_threshold"))).as(Seq("__p", "__z")))
        .select(col("contig"), col("start"), col("end"),
          col("interval_size"), col("s"),
          element_at(tArr, col("__p") + 1).as("dp_threshold"),
          col("__z")("bases_over_dp_threshold").as("bases_over"),
          round(col("__z")("fraction_over_dp_threshold"), 6)
            .as("fraction_over"),
          col("sum_dp"), col("mean_dp"))
    }),

    // --- Structured Streaming: the hourly windowed agg runs as a real
    // readStream -> watermark -> window -> memory-sink query over the
    // events files; the oracle computes the same thing in batch SQL, so
    // the gate checks stream/batch parity exactly ---------------------------
    "stream_hourly_agg" -> ((s, dir) =>
      streaming.Events.runHourlyTypeAgg(s, s"$dir/events.parquet")),

    // --- streaming minhash near-dup: a REAL readStream over the
    // documents table (one file per trigger) through the stateful
    // bucket kernel; output = distinct candidate pairs, oracled against
    // the SAME md5 band-bucket math in DuckDB --------------------------
    "stream_minhash_pairs" -> ((s, dir) =>
      streaming.StreamDedup.runMinhashPairs(s, s"$dir/documents.parquet",
        "doc_id", "text")
        .orderBy("id_a", "id_b")),

    // --- streaming minhash, live-tailing horizon mode: band buckets
    // bounded by event-time eviction; output = the in-horizon subset of
    // stream_minhash_pairs (ts synthesized as doc_id seconds) --------------
    "stream_minhash_pairs_horizon" -> ((s, dir) =>
      streaming.StreamDedup.runMinhashPairsHorizon(s,
        s"$dir/documents.parquet", "doc_id", "text", horizonSec = 100)
        .orderBy("id_a", "id_b")),

    // --- streaming winnow contamination detection: fingerprints stream
    // through a per-fingerprint bucket state; verified candidates must
    // equal the batch substring join (same oracle as pipe_winnow_pairs —
    // the guarantee theorem holds across micro-batch boundaries too) --------
    "stream_winnow_pairs" -> ((s, dir) =>
      streaming.StreamDedup.runWinnowPairs(s, s"$dir/documents.parquet",
        "doc_id", "text")),

    // --- streaming winnow, live-tailing horizon mode: bounded state via
    // event-time eviction; output = the in-horizon subset of
    // stream_winnow_pairs (ts synthesized as doc_id seconds) --------------
    "stream_winnow_pairs_horizon" -> ((s, dir) =>
      streaming.StreamDedup.runWinnowPairsHorizon(s,
        s"$dir/documents.parquet", "doc_id", "text", horizonSec = 100)),

    // --- streaming corpus profile: the langid/token kernels over a
    // document stream, complete-mode grouped agg (state = one row per
    // language) — oracled against the same profile in DuckDB ---------------
    "stream_lang_profile" -> ((s, dir) =>
      streaming.StreamText.runLangProfile(s, s"$dir/documents.parquet",
        "doc_id", "text")),

    // --- streaming decontamination guard: bench gram-hash set reduced
    // once driver-side, each micro-batch screened by a STATELESS
    // binary-search projection — output equals the batch operator
    // exactly, which is what this oracle (= pipe_exact_decontam's)
    // checks ------------------------------------------------------------------
    "stream_decontam" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val bench = docs.filter(pmod(col("doc_id"), lit(97L)) === 3L)
        .select((col("doc_id") + 1000000L).as("bench_id"),
          substring(col("text"), 21, 200).as("text"))
      streaming.StreamText.runDecontam(s, s"$dir/documents.parquet",
        "doc_id", "text", bench, "text", n = 8)
    }),

    // --- streaming temperature mixing: per-stratum ppt rates derived
    // ONCE from a batch read (exact integer contract, α=0.5), then the
    // stream applies the identical stateless md5 predicate per
    // micro-batch — no state, no watermark; output equals the batch
    // operator (shared oracle) ----------------------------------------------
    "stream_temperature_mix" -> ((s, dir) =>
      streaming.StreamText.runTemperatureMix(s,
        s"$dir/documents.parquet", "doc_id", "lang",
        budgetDiv = 10, alpha = 0.5)),

    // --- retention cohorts: first-seen day cohorts x activity-day
    // offsets, exact distinct user counts ----------------------------------
    "events_retention" -> ((s, dir) =>
      streaming.Events.retentionCohorts(t(s, dir, "events"),
        bucketNs = 86400L * 1000000000L)),

    // --- funnel analysis: earliest view -> click -> purchase per user
    // (greedy min-after-previous, the earliest-completion semantics) --------
    "events_funnel" -> ((s, dir) =>
      streaming.Events.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // --- streaming quantile sketch: the KLL udaf as complete-mode
    // stream state (one bounded sketch per event_type); exact vs
    // quantile_cont while each group's n <= k — which holds at the
    // oracle's sf0.01 ------------------------------------------------------
    "stream_approx_cdf" -> ((s, dir) =>
      streaming.Events.runValueQuantiles(s, s"$dir/events.parquet")),

    // --- streaming heavy hitters: the Misra-Gries udaf as complete-mode
    // stream state (ONE bounded 64-counter summary at any stream length
    // or key cardinality), exact second pass for merge-order determinism
    // — the PODS'12 survival guarantee holds across micro-batch merges,
    // so the output equals batch agg_heavy_hitters and its SQL oracle ------
    "stream_heavy_hitters" -> ((s, dir) => {
      val keyExpr = when(col("event_id") % 4 =!= 0,
          concat(lit("hot_"), (col("event_id") % 3).cast("string")))
        .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
      streaming.Events.runHeavyHitters(s, s"$dir/events.parquet",
        keyExpr, m = 64)
    }),

    // --- streaming exact dedup: a REAL readStream through
    // dropDuplicatesWithinWatermark; the key SET is order-independent,
    // so the oracle is a plain DISTINCT ------------------------------------
    "stream_dedup" -> ((s, dir) =>
      streaming.Events.runDedupStream(s, s"$dir/events.parquet",
        Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))),

    // --- skew-salted equi-join: identical results to the plain join,
    // with the hot keys fanned over deterministic salts -------------------
    // --- as-of join (merge_asof / kdb aj — an operator Spark lacks):
    // each click joined to the user's most recent purchase at-or-
    // before it, within a 1-hour tolerance. The union-and-carry plan
    // shuffles ONCE on the user key — no range join, no per-key
    // quadratic work; DuckDB's native ASOF JOIN is the oracle ---------------
    "table_asof_join" -> ((s, dir) => {
      val (clicks, purch) = asofFixture(s, dir)
      operators.AsOfJoin.backward(clicks, purch, Seq("user_id"),
        "tns", "p_tns", Seq("p_event_id", "p_value"),
        toleranceNs = Some(3600L * 1000000000L))
    }),

    // --- forward direction (merge_asof direction='forward'): each
    // click joined to the user's NEXT purchase at-or-after it, within
    // one hour — the same union-and-carry scan with time reversed ----------
    "table_asof_forward" -> ((s, dir) => {
      val (clicks, purch) = asofFixture(s, dir)
      operators.AsOfJoin.forward(clicks, purch, Seq("user_id"),
        "tns", "p_tns", Seq("p_event_id", "p_value"),
        toleranceNs = Some(3600L * 1000000000L))
    }),

    // --- nearest direction (merge_asof direction='nearest', ties →
    // backward): closer of the previous/next purchase within one hour.
    // Both carries share one key exchange (plan-audited) --------------------
    "table_asof_nearest" -> ((s, dir) => {
      val (clicks, purch) = asofFixture(s, dir)
      operators.AsOfJoin.nearest(clicks, purch, Seq("user_id"),
        "tns", "p_tns", Seq("p_event_id", "p_value"),
        toleranceNs = Some(3600L * 1000000000L))
    }),

    "table_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      operators.Skew.saltedJoin(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders, Seq("o_orderkey"), saltFactor = 8)
    }),

    // --- gap sessionization, batch twin of the streaming kernel
    // (StreamingSpec proves stream/batch parity; this oracles the batch
    // closed form) ----------------------------------------------------------
    "stream_sessionize_batch" -> ((s, dir) =>
      streaming.Events.sessionizeBatch(
        t(s, dir, "events"), gapNs = 1800000000000L)
        // DuckDB reads the TIMESTAMP(NANOS) column at micro precision;
        // truncate the ns bounds so both engines agree
        .withColumn("start_ts",
          col("start_ts") - pmod(col("start_ts"), lit(1000L)))
        .withColumn("end_ts",
          col("end_ts") - pmod(col("end_ts"), lit(1000L)))),

    // --- TRUE streaming sessionization: the event-time-timeout kernel
    // over a real readStream; a sentinel appended after the data batch
    // advances the watermark so open sessions FLUSH — output equals the
    // batch sessionization over all events (same oracle) -------------------
    "stream_sessionize" -> ((s, dir) =>
      streaming.Events.runSessionizeStream(s, s"$dir/events.parquet",
        gapNs = 1800000000000L)
        .withColumn("start_ts",
          col("start_ts") - pmod(col("start_ts"), lit(1000L)))
        .withColumn("end_ts",
          col("end_ts") - pmod(col("end_ts"), lit(1000L)))),

    // --- TableMapPartitions (Table.scala:176): per-partition imperative
    // row transform through the row encoder ---------------------------------
    "table_map_partitions" -> ((s, dir) => {
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      Table(n).mapPartitionsRows(
        it => it.map(r => org.apache.spark.sql.Row(
          r.getInt(0), r.getString(1).toLowerCase)),
        n.schema).df
    }),

    // --- maximal_independent_set (misc.py; driver-local by contract,
    // matching the reference): greedy max-degree removal with
    // deterministic ties over the bipartite nation-region graph — every
    // region vertex has degree >= 1 and falls, so the surviving set has
    // the closed form the oracle states ------------------------------------
    "table_mis" -> ((s, dir) => {
      val edges = t(s, dir, "nation").select(
        concat(lit("n"), col("n_nationkey")).as("i"),
        concat(lit("r"), col("n_regionkey")).as("j"))
      val keep = methods.Misc.maximalIndependentSet(edges)
      import s.implicits._
      keep.toSeq.sorted.toDF("node")
    }),

    // --- Table.summarize (table.py:4566): per-field profile in ONE
    // aggregation job (all stats ride a single map-side combine) -----------
    "table_summarize" -> ((s, dir) =>
      Table(t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_returnflag")).summarize()),

    // --- TableTail (TableIR.scala:2167): last n in key order ---------------
    "table_tail" -> ((s, dir) =>
      Table(t(s, dir, "orders"), Seq("o_orderkey")).tail(100).df
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // --- liftover (LocusFunctions.scala liftoverLocus): UCSC-chain
    // remap as a broadcast range join; synthetic chain with forward,
    // reverse-strand and unmapped contigs ---------------------------------
    "locus_liftover" -> ((s, dir) => {
      import graft.functions.Liftover
      val tmp = java.nio.file.Files.createTempDirectory("graft_lift")
      val chain = tmp.resolve("t.chain")
      java.nio.file.Files.writeString(chain,
        """chain 1 chr1 1000 + 0 500 chrA 3000 + 1000 1500 1
          |500
          |
          |chain 1 chr2 1000 + 100 400 chrB 2000 - 50 350 2
          |300
          |""".stripMargin)
      val df = t(s, dir, "orders")
        .filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey"),
          concat(lit("chr"), pmod(col("o_orderkey"), lit(3)) + 1)
            .as("contig"),
          (pmod(col("o_custkey"), lit(600)) + 1).cast("int")
            .as("position"))
      Liftover.liftover(df, Liftover.readChain(s, chain.toString),
        col("contig"), col("position"))
        .select(col("o_orderkey"), col("contig"), col("position"),
          col("target_contig"), col("target_position"),
          col("is_negative_strand"))
    }),

    // --- stat distribution functions (MathFunctions.scala): dbeta /
    // dnorm / dchisq / dpois / ppois over table-derived arguments --------
    "stat_distributions" -> ((s, dir) => {
      import graft.functions.StatTests
      val o = t(s, dir, "orders").filter(col("o_orderkey") < 500)
      val x = (pmod(col("o_orderkey"), lit(100)).cast("double") + 1) /
        102.0
      val k = pmod(col("o_orderkey"), lit(5)).cast("double")
      o.select(col("o_orderkey"),
        round(StatTests.dbeta(x, lit(2.0), lit(5.0)), 6).as("dbeta"),
        round(StatTests.dnorm(x, lit(0.0), lit(1.0)), 6).as("dnorm"),
        round(StatTests.dchisq(x * 3.0, lit(2.0)), 6).as("dchisq"),
        round(StatTests.dpois(k, lit(2.0), lit(false)), 6).as("dpois"),
        round(StatTests.ppois(k, lit(2.0), lit(true)), 6).as("ppois"))
    }),

    // --- de_novo (family_methods.py:564): posterior de novo calls over
    // synthesized GATK-style AD/GQ/PL entry fields (deterministic from
    // GT/DP/position so the oracle reproduces the closed-form posterior)
    "geno_de_novo" -> ((s, _) => {
      import graft.functions.Calls
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt0 = sources.Vcf.read(s, VcfFixture)
      val pen = lit(25) + pmod(col("position"), lit(10))
      val mt = mt0.mapEntries((e, _) => {
        val d = Calls.nNonRefAlleles(e("GT"))
        val gi = Calls.unphasedDiploidGtIndex(e("GT"))
        val adAlt = floor(e("DP").cast("double") * d / 2.0).cast("int")
        struct(
          e("GT").as("GT"),
          array(e("DP") - adAlt, adAlt).as("AD"),
          e("DP").as("DP"),
          pen.as("GQ"),
          transform(sequence(lit(0), lit(2)), j =>
            when(j === gi, 0).otherwise(pen)).as("PL"))
      })
      // both probands share their het sites in this fixture, so the
      // in-sample AF prior suppresses every call — use the reference's
      // ignore_in_sample_allele_frequency mode (per-trio semantics:
      // prior = max(pop prior, 100/3e7), AC pinned to 1)
      methods.DeNovo.deNovo(mt,
        Seq(("S1", "S2", "S3", true), ("S4", "S2", "S3", false)),
        priorCol = lit(null).cast("double"),
        ignoreInSampleAlleleFrequency = true).df
        .select(col("contig"), col("position"), col("ref"), col("id"),
          round(col("prior"), 6).as("prior"),
          round(col("p_de_novo"), 6).as("p_de_novo"),
          col("confidence"))
    }),

    // --- pc_relate (PCRelate.scala) with an intercept-only model (zero
    // PCs) so every statistic is a closed form the oracle reproduces;
    // PCA-adjusted path is spec-tested ------------------------------------
    "geno_pc_relate" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.PcRelate.pcRelate(mt,
        IndexedSeq.fill(mt.nCols)(Array.empty[Double]),
        minIndividualMaf = 0.05)
        .select(col("i"), col("j"),
          (round(col("kin"), 6) + lit(0.0)).as("kin"),
          (round(col("ibd0"), 6) + lit(0.0)).as("ibd0"),
          (round(col("ibd1"), 6) + lit(0.0)).as("ibd1"),
          (round(col("ibd2"), 6) + lit(0.0)).as("ibd2"))
    }),

    // --- hl.agg.info_score (aggregators.py:1568, IMPUTE info measure)
    // over the BGEN fixture's GP dosage triples ----------------------------
    "geno_info_score" -> ((s, _) => {
      import graft.operators.Aggs
      val mt = sources.Bgen.read(s,
        "/root/repo/src/test/resources/oracle_bgen.bgen",
        Some("/root/repo/src/test/resources/oracle_bgen.sample"))
      mt.rows.select(col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"),
        Aggs.infoScore(transform(col(MatrixTable.EntriesField),
          e => e("GP"))).as("__is"))
        .select(col("contig"), col("position"), col("ref"), col("alt"),
          round(col("__is")("score"), 6).as("score"),
          col("__is")("n_included").as("n_included"))
    }),

    // --- pc_relate with k=2 LITERAL PC scores (relatedness/pc_relate.py
    // `scores_expr=` path): mu comes from regressing imputed dosage on
    // [1|pc1|pc2]; with literal scores the hat matrix is a constant the
    // oracle embeds, so the FULL PC-adjusted estimator is SQL-checked ------
    "geno_pc_relate_pcs" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.PcRelate.pcRelate(mt, PcRelateScores.map(_.clone()),
        minIndividualMaf = 0.05)
        .select(col("i"), col("j"),
          (round(col("kin"), 6) + lit(0.0)).as("kin"),
          (round(col("ibd0"), 6) + lit(0.0)).as("ibd0"),
          (round(col("ibd1"), 6) + lit(0.0)).as("ibd1"),
          (round(col("ibd2"), 6) + lit(0.0)).as("ibd2"))
    }),

    // --- linear_mixed_regression_rows with NON-TRIVIAL kinship (the
    // FaST-LMM spectral path end to end: eigendecomposition, REML delta,
    // distributed rotation, per-variant weighted GLS). Oracle = literal
    // golden values; provenance: LmmSpec's "dense REML replay" test
    // recomputes these with direct V-inverse linear algebra (no spectral
    // shortcut) and asserts agreement to 1e-4 ------------------------------
    "lmm_kinship" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val n = mt.nCols
      val kin = breeze.linalg.DenseMatrix.tabulate(n, n)((i, j) =>
        math.pow(0.5, math.abs(i - j)))
      val pheno = mt.colsTable.df
        .withColumn("y", substring(col("s"), 2, 10).cast("double"))
      methods.Lmm.linearMixedRegressionRows(mt, pheno, "y",
        kinship = Some(kin)).df
        .filter(col("beta").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          (round(col("beta"), 5) + lit(0.0)).as("beta"),
          (round(col("chi_sq"), 4) + lit(0.0)).as("chi_sq"))
    }),

    // --- skat with the Imhof mixture p-value (statgen.py:2870 returns
    // p_value; the q_stat column is the exact-SQL anchor and p is a
    // literal golden; provenance: SkatSpec proves imhofTail exact against
    // closed-form chi-square mixture tails) --------------------------------
    "geno_skat_p" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val pheno = mt.colsTable.df
        .withColumn("y", substring(col("s"), 2, 10).cast("double"))
      methods.Skat.skat(mt, pheno, "y", Nil,
        keyExpr = col("contig"),
        weightExpr = lit(1.0) /
          (pmod(col("position"), lit(7)) + 1).cast("double"))
        .select(col("id"), col("size"),
          round(col("q_stat"), 6).as("q_stat"),
          round(col("p_value"), 6).as("p_value"))
    }),

    // --- skat (statgen.py:2870, Skat.scala): linear variance-component
    // score per key group; q_stat is a closed quadratic form the oracle
    // reproduces exactly (p_value is spec-tested — mixture CDF) ----------
    "geno_skat" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val pheno = mt.colsTable.df
        .withColumn("y", substring(col("s"), 2, 10).cast("double"))
      methods.Skat.skat(mt, pheno, "y", Nil,
        keyExpr = col("contig"),
        weightExpr = lit(1.0) /
          (pmod(col("position"), lit(7)) + 1).cast("double"))
        .select(col("id"), col("size"),
          round(col("q_stat"), 6).as("q_stat"))
    }),

    // --- logistic_regression_rows test='lrt' (statgen.py:731): with
    // binary x the full model is saturated on the 2x2 cells, so the
    // deviance is closed-form ----------------------------------------------
    "logistic_lrt" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      val pheno = mt.colsTable.df.withColumn("y",
        (substring(col("s"), 2, 10).cast("int") % 2).cast("double"))
      val fit = methods.Regression.logisticRegressionRows(mt, pheno, "y",
        xOf = gt => (Calls.nNonRefAlleles(gt) > 0).cast("double"),
        test = "lrt").df
      val e = mt.entriesTable.df.join(broadcast(pheno), Seq("s"))
        .filter(col("GT").isNotNull)
        .withColumn("x", (Calls.nNonRefAlleles(col("GT")) > 0).cast("int"))
      val cells = e.groupBy(col("contig"), col("position"), col("ref"))
        .agg(
          sum(col("x") * col("y")).cast("long").as("n11"),
          sum(col("x") * (lit(1.0) - col("y"))).cast("long").as("n10"),
          sum((lit(1) - col("x")) * col("y")).cast("long").as("n01"),
          sum((lit(1) - col("x")) * (lit(1.0) - col("y"))).cast("long")
            .as("n00"))
      fit.join(cells, Seq("contig", "position", "ref"))
        .filter(col("n11") > 0 && col("n10") > 0 && col("n01") > 0 &&
          col("n00") > 0)
        .select(col("contig"), col("position"), col("ref"), col("n"),
          round(col("chi_sq_stat"), 6).as("chi_sq_stat"))
    }),

    // --- logistic_regression_rows test='score' (statgen.py:731): the
    // score statistic at the null fit is closed-form for binary x ----------
    "logistic_score" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      val pheno = mt.colsTable.df.withColumn("y",
        (substring(col("s"), 2, 10).cast("int") % 2).cast("double"))
      val fit = methods.Regression.logisticRegressionRows(mt, pheno, "y",
        xOf = gt => (Calls.nNonRefAlleles(gt) > 0).cast("double"),
        test = "score").df
      val e = mt.entriesTable.df.join(broadcast(pheno), Seq("s"))
        .filter(col("GT").isNotNull)
        .withColumn("x", (Calls.nNonRefAlleles(col("GT")) > 0).cast("int"))
      val cells = e.groupBy(col("contig"), col("position"), col("ref"))
        .agg(
          sum(col("x") * col("y")).cast("long").as("n11"),
          sum(col("x") * (lit(1.0) - col("y"))).cast("long").as("n10"),
          sum((lit(1) - col("x")) * col("y")).cast("long").as("n01"),
          sum((lit(1) - col("x")) * (lit(1.0) - col("y"))).cast("long")
            .as("n00"))
      fit.join(cells, Seq("contig", "position", "ref"))
        .filter(col("n11") + col("n01") > 0 &&
          col("n10") + col("n00") > 0 &&
          col("n11") + col("n10") > 0 &&
          col("n01") + col("n00") > 0)
        .select(col("contig"), col("position"), col("ref"), col("n"),
          round(col("chi_sq_stat"), 6).as("chi_sq_stat"))
    }),

    // --- logistic_regression_rows test='firth' (statgen.py:731;
    // LogisticRegression.scala firth kernel): with binary x the penalized
    // (Jeffreys) fit is closed-form — the modified score equations reduce
    // to the add-half rule mu1=(n11+.5)/(m1+1), mu0=(n01+.5)/(m0+1), and
    // the null to mu=(k+.5)/(n+1), so beta, se, and the penalized
    // deviance are all exact cell arithmetic the oracle can replay ---------
    "logistic_firth" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      val pheno = mt.colsTable.df.withColumn("y",
        (substring(col("s"), 2, 10).cast("int") % 2).cast("double"))
      val fit = methods.Regression.logisticRegressionRows(mt, pheno, "y",
        xOf = gt => (Calls.nNonRefAlleles(gt) > 0).cast("double"),
        test = "firth").df
      val e = mt.entriesTable.df.join(broadcast(pheno), Seq("s"))
        .filter(col("GT").isNotNull)
        .withColumn("x", (Calls.nNonRefAlleles(col("GT")) > 0).cast("int"))
      val cells = e.groupBy(col("contig"), col("position"), col("ref"))
        .agg(
          sum(col("x") * col("y")).cast("long").as("n11"),
          sum(col("x") * (lit(1.0) - col("y"))).cast("long").as("n10"),
          sum((lit(1) - col("x")) * col("y")).cast("long").as("n01"),
          sum((lit(1) - col("x")) * (lit(1.0) - col("y"))).cast("long")
            .as("n00"))
      fit.join(cells, Seq("contig", "position", "ref"))
        .filter(col("n11") > 0 && col("n10") > 0 && col("n01") > 0 &&
          col("n00") > 0)
        .select(col("contig"), col("position"), col("ref"), col("n"),
          round(col("beta"), 6).as("beta"),
          round(col("standard_error"), 6).as("standard_error"),
          round(col("chi_sq_stat"), 6).as("chi_sq_stat"))
    }),

    // --- poisson_regression_rows (statgen.py:1650, Wald) with binary x:
    // the fitted slope must equal the closed-form log rate ratio -----------
    "poisson_rows" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      // deterministic count phenotype from sample id
      val pheno = mt.colsTable.df.withColumn("y",
        (substring(col("s"), 2, 10).cast("int") + 1).cast("double"))
      val fit = methods.Regression.poissonRegressionRows(mt, pheno, "y",
        xOf = gt => (Calls.nNonRefAlleles(gt) > 0).cast("double")).df
      val e = mt.entriesTable.df.join(broadcast(pheno), Seq("s"))
        .filter(col("GT").isNotNull)
        .withColumn("x", (Calls.nNonRefAlleles(col("GT")) > 0).cast("int"))
      val cells = e.groupBy(col("contig"), col("position"), col("ref"))
        .agg(
          sum(col("x") * col("y")).cast("double").as("sy1"),
          sum((lit(1) - col("x")) * col("y")).cast("double").as("sy0"),
          sum(col("x")).cast("long").as("n1"),
          sum(lit(1) - col("x")).cast("long").as("n0"))
      fit.join(cells, Seq("contig", "position", "ref"))
        .filter(col("n1") > 0 && col("n0") > 0 && col("sy1") > 0 &&
          col("sy0") > 0)
        .select(col("contig"), col("position"), col("ref"), col("n"),
          round(col("beta"), 6).as("beta"),
          round(col("standard_error"), 6).as("standard_error"))
    }),

    // --- identity_by_descent (IBD.scala, PLINK MoM); raw (unbounded) Zs
    // so the oracle is closed-form ------------------------------------------
    "geno_ibd" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Genetics.identityByDescent(mt, bounded = false)
        .select(col("s_i"), col("s_j"), col("ibs0"), col("ibs1"),
          col("ibs2"), round(col("Z0"), 6).as("z0"),
          round(col("Z1"), 6).as("z1"), round(col("Z2"), 6).as("z2"),
          round(col("PI_HAT"), 6).as("pi_hat"))
    }),

    // --- transmission disequilibrium test (statgen.py tdt) ----------------
    "geno_tdt" -> ((s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Genetics.tdt(mt, Seq(
        ("S1", "S2", "S3"), ("S4", "S2", "S3"), ("S5", "S2", "S3"))).df
        .select(col("contig"), col("position"), col("ref"),
          col("t"), col("u"), round(col("chi_sq"), 6).as("chi_sq"))
    }),

    // --- VCF import: typed INFO/FORMAT entries on a committed fixture;
    // oracle re-parses the same file with DuckDB read_csv ------------------
    "vcf_import" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s,
        "/root/repo/src/test/resources/oracle_sample.vcf")
      mt.entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"),
          col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    }),

    // --- TailLoop/Recur (ir-gen Main.scala:647,660): per-row bounded
    // iteration to a fixpoint; the gate drives Babylonian sqrt and
    // Newton cube root, whose limits are the closed forms the oracle
    // computes directly --------------------------------------------------
    "fn_tail_loop" -> ((s, dir) => {
      import graft.functions.Iterate
      val sqrtF = Iterate.fixpoint(
        p => Array((p(0) + p(1) / p(0)) / 2.0, p(1)), tol = 1e-13)
      val cbrtF = Iterate.fixpoint(
        p => Array((2 * p(0) + p(1) / (p(0) * p(0))) / 3.0, p(1)),
        tol = 1e-13)
      val x = col("p_partkey").cast("double")
      t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          round(element_at(sqrtF(array(lit(1.0), x)), 1), 8).as("sqrt_k"),
          round(element_at(cbrtF(array(lit(1.0), x)), 1), 8).as("cbrt_k"))
    }),

    // --- native-format .ht import (AbstractTableSpec.scala /
    // AbstractRVDSpec.scala / types/encoded): the committed fixture is
    // written by an INDEPENDENT stdlib-python encoder
    // (tools/make_ht_fixture.py) following the same public format docs,
    // so reader and fixture share no code; values are closed-form
    // constants the oracle lists ------------------------------------------
    // --- native-format EXPORT: write a reference-readable .ht/.mt and
    // re-import it through the independent decoder ---------------------------
    "ht_export" -> ((s, dir) => {
      val t = Table(s.read.parquet(s"$dir/nation.parquet"),
        Seq("n_nationkey"), Map("source" -> "tpch"))
      val out = java.nio.file.Files.createTempDirectory("graft_htex")
      sources.HailNativeWrite.writeTable(t, s"$out/nation.ht")
      val back = sources.HailNative.readTable(s, s"$out/nation.ht")
      back.df.select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"),
        lit(back.globals("source").toString).as("g_source"))
    }),

    "mt_export" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s,
        "/root/repo/src/test/resources/oracle_sample.vcf")
      val out = java.nio.file.Files.createTempDirectory("graft_mtex")
      sources.HailNativeWrite.writeMatrixTable(mt, s"$out/sample.mt")
      val back = sources.HailNative.readMatrixTable(s, s"$out/sample.mt")
      back.entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"),
          col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    }),

    "ht_import" -> ((s, _) => {
      val t = sources.HailNative.readTable(s,
        "/root/repo/src/test/resources/sample.ht")
      t.df.select(col("id"), col("name"), col("score"),
        concat_ws(",", col("tags")).as("tags"),
        col("info")("a").as("info_a"), col("info")("b").as("info_b"),
        col("maybe"),
        lit(t.globals("pop").toString).as("g_pop"))
    }),

    // --- native-format .mt import: rows zip entries per partition;
    // entry-level aggregation over the imported matrix ----------------------
    "mt_import" -> ((s, _) => {
      val mt = sources.HailNative.readMatrixTable(s,
        "/root/repo/src/test/resources/sample.mt")
      mt.rows.select(
        col("locus")("contig").as("contig"),
        col("locus")("position").as("position"),
        col("ref"),
        size(filter(mt.entries, e => e.isNotNull && e("gt").isNotNull))
          .as("n_called"),
        aggregate(mt.entries, lit(0),
          (a, e) => a + coalesce(e("dp"), lit(0))).as("dp_sum"),
        lit(mt.nCols).as("n_cols"),
        lit(mt.globals("note").toString).as("g_note"))
    }),

    // --- vep (qc.py:1104, runner contract is/hail/methods/VEP.scala):
    // a deterministic awk stand-in plays the annotator binary — one VEP
    // --json object per VCF input line, `input` echoing the line; the
    // engine joins annotations back by the re-parsed variant key. The
    // oracle recomputes the stand-in's closed-form annotations from the
    // same fixture ---------------------------------------------------------
    "vep_annotate" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val t = Table(
        mt.rowsTable.df.select("contig", "position", "ref", "alt"),
        Seq("contig", "position"))
      methods.Vep.vep(t, VepStandInCmd).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("vep.assembly_name").as("assembly_name"),
          col("vep.allele_string").as("allele_string"),
          col("vep.start").as("vstart"),
          col("vep.end").as("vend"),
          col("vep.most_severe_consequence").as("msc"),
          element_at(col("vep.transcript_consequences"), 1)("gene_id")
            .as("gene_id"))
    }),

    // --- Nirvana annotator (methods/Nirvana.scala registry entry): same
    // pipe contract as vep, Nirvana positions-JSON shape, key re-derived
    // from the annotation itself -------------------------------------------
    "nirvana_annotate" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val t = Table(
        mt.rowsTable.df.select("contig", "position", "ref", "alt"),
        Seq("contig", "position"))
      methods.Nirvana.nirvana(t, NirvanaStandInCmd).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("nirvana.cytogeneticBand").as("band"),
          element_at(col("nirvana.variants"), 1)("phylopScore")
            .as("phylop"),
          element_at(col("nirvana.variants"), 1)("variantType")
            .as("vtype"),
          element_at(col("nirvana.variants"), 1)("vid").as("vid"),
          element_at(element_at(col("nirvana.variants"), 1)("transcripts"),
            1)("geneId").as("gene_id"),
          element_at(col("nirvana.variants"), 1)("end").as("vend"))
    }),

    // --- import_matrix_table (impex.py / TextMatrixReader.scala):
    // delimited numeric matrix -> MatrixTable (entry field x) --------------
    "matrix_table_import" -> ((s, _) => {
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
    }),

    // --- MatrixUnionRows (MatrixIR.scala:792): two disjoint row slices
    // union back to the whole fixture — vcf_import oracle verbatim ---------
    "matrix_union_rows" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      val odd = mt.filterRows(col("position") % 2 === 1)
      val even = mt.filterRows(col("position") % 2 === 0)
      odd.unionRows(even).entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    }),

    // --- MatrixDistinctByRow (MatrixIR.scala): self-union deduped back
    // to the fixture --------------------------------------------------------
    "matrix_distinct_by_row" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      mt.unionRows(mt).distinctByRow().entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    }),

    // --- MatrixRowsHead (MatrixIR.scala): first 10 variants in key order --
    "matrix_rows_head" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      mt.headRows(10).rowsTable.df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("qual"))
    }),

    // --- TableRange (TableIR.scala:2123) ----------------------------------
    "table_range" -> ((s, _) =>
      Table.range(s, 1000, 8)
        .annotate("sq" -> (col("idx") * col("idx")))
        .filter(col("idx") % 7 === 3).df),

    // --- TableParallelize (TableIR.scala:2024) ----------------------------
    "table_parallelize" -> ((s, _) => {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      Table.parallelize(s,
        Seq(org.apache.spark.sql.Row(1, "alpha"),
          org.apache.spark.sql.Row(2, "beta"),
          org.apache.spark.sql.Row(3, null)),
        StructType(Seq(StructField("k", IntegerType),
          StructField("name", StringType)))).df
    }),

    // --- TableMapGlobals (TableIR.scala:2380): globals surface in row
    // expressions as broadcast literals ------------------------------------
    "table_map_globals" -> ((s, dir) => {
      val t0 = Table(t(s, dir, "region"), Seq("r_regionkey"))
        .annotateGlobals("source" -> "tpch", "version" -> 4)
      t0.annotate(
        "src" -> t0.global("source"),
        "ver" -> t0.global("version"))
        .df.select(col("r_regionkey"), col("src"), col("ver"))
    }),

    // --- native MatrixTable write + read round-trip (hl.read_matrix_table):
    // same projection and oracle as vcf_import, but through the on-disk
    // native format (key-sorted rows + manifest, indexed cols) -------------
    "matrix_write_read" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s,
        "/root/repo/src/test/resources/oracle_sample.vcf")
      val dir = java.nio.file.Files.createTempDirectory("graft_mtwr")
      mt.write(s"$dir/mt")
      val back = MatrixTable.read(s, s"$dir/mt")
      back.entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"),
          col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    }),

    // --- export_vcf → import_vcf roundtrip (io/vcf/ExportVCF.scala):
    // the text writer must reproduce the import projection bit-for-bit ----
    "vcf_write_roundtrip" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      val dir = java.nio.file.Files.createTempDirectory("graft_vcf_rt")
      sources.Vcf.write(mt, s"$dir/out")
      val header = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/out/header.vcf"))
      val parts = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/out/parts")).toArray.map(_.toString)
        .filter(_.endsWith(".txt")).sorted
        .map(p => java.nio.file.Files.readString(
          java.nio.file.Paths.get(p))).mkString
      java.nio.file.Files.writeString(dir.resolve("all.vcf"),
        header + parts)
      val back = sources.Vcf.read(s, dir.resolve("all.vcf").toString)
      back.entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"),
          col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    }),

    // --- export_plink → import_plink roundtrip (io/plink/) ----------------
    "plink_write_roundtrip" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Plink.read(s,
        "/root/repo/src/test/resources/oracle_plink")
      val dir = java.nio.file.Files.createTempDirectory("graft_plink_rt")
      sources.Plink.write(mt, s"$dir/out")
      val back = sources.Plink.read(s, s"$dir/out")
      back.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.allele1(col("GT")).as("a1"),
        Calls.allele2(col("GT")).as("a2"))
    }),

    // --- export_bgen → import_bgen roundtrip (io/bgen/ExportBGEN.scala):
    // 8-bit probability quantization is lossless through the round-trip ----
    "bgen_export_roundtrip" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Bgen.read(s,
        "/root/repo/src/test/resources/oracle_bgen.bgen",
        Some("/root/repo/src/test/resources/oracle_bgen.sample"))
      val dir = java.nio.file.Files.createTempDirectory("graft_bgen_rt")
      sources.Bgen.write(mt, s"$dir/out.bgen")
      val back = sources.Bgen.read(s, s"$dir/out.bgen")
      back.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.nNonRefAlleles(col("GT")).as("gt"),
        round(element_at(col("GP"), 1), 6).as("paa"),
        round(element_at(col("GP"), 2), 6).as("pab"),
        round(element_at(col("GP"), 3), 6).as("pbb"))
    }),

    // --- export_gen → import_gen roundtrip (io/gen/): 3-decimal text
    // probabilities survive the round-trip exactly -------------------------
    "gen_write_roundtrip" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Gen.read(s,
        "/root/repo/src/test/resources/oracle_gen.gen",
        "/root/repo/src/test/resources/oracle_gen.sample")
      val dir = java.nio.file.Files.createTempDirectory("graft_gen_rt")
      sources.Gen.write(mt, s"$dir/gen", s"$dir/out.sample")
      val back = sources.Gen.read(s, s"$dir/gen", s"$dir/out.sample")
      back.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.nNonRefAlleles(col("GT")).as("gt"),
        round(element_at(col("GP"), 1), 6).as("paa"))
    }),

    // --- external-process pipe (TableToTableApply / hail `pipe` idiom):
    // rows → TSV → subprocess stdin → stdout → typed rows. `cat` is the
    // identity annotator; the framing is what's under test ----------------
    "table_pipe_cat" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))
      Table(t(s, dir, "region").select(col("r_regionkey"), col("r_name")),
        Seq("r_regionkey"))
        .pipeTsv(Seq("cat"), schema).df
    }),

    // --- MatrixExplodeRows (`MatrixIR.scala:1027`): a row field array
    // fans the row out; entries are duplicated per element -----------------
    "matrix_explode_rows" -> ((s, dir) => {
      val mt = lineitemMatrix(s, dir)
        .annotateRows("tag" ->
          sequence(lit(1L), lit(1L) + pmod(col("l_orderkey"), lit(2L))))
        .explodeRows("tag")
      mt.rows.select(col("l_orderkey"), col("tag"),
        size(mt.entries).as("n_cols"))
    }),

    // --- MatrixUnionCols (`MatrixIR.scala:569`): split col-space halves
    // re-union to the original matrix ---------------------------------------
    "matrix_union_cols" -> ((s, dir) => {
      val mt = lineitemMatrix(s, dir)
      mt.chooseCols(IndexedSeq(0, 1, 2))
        .unionCols(mt.chooseCols(IndexedSeq(3, 4, 5, 6)))
        .entriesTable.selectFields("line_no", "qty").df.drop("col_idx")
    }),

    // --- unfilter_entries: filtered-away cells become present-but-null
    // entries (count(e) sees them, count(e.qty) does not) ------------------
    "matrix_unfilter_entries" -> ((s, dir) =>
      lineitemMatrix(s, dir)
        .filterEntries(e => e("qty") >= 10.0)
        .unfilterEntries()
        .aggregateEntries(
          "n_entries" -> (e => count(e)),
          "n_qty" -> (e => count(e("qty"))),
          "sum_qty" -> (e => dsum(e("qty"))))),

    // --- trio_matrix (`family_methods.py:16`): cols become trios, entries
    // carry (proband, father, mother) sub-entries --------------------------
    "trio_matrix" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
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
    }),

    // --- realized_relationship_matrix (statgen.py:3656) -------------------
    "linalg_rrm" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      methods.Pca.rrm(mt)
        .select(col("i"), col("j"), round(col("rrm"), 6).as("rrm"))
    }),

    // --- string function surface (reference StringFunctions.scala):
    // built-ins + the graft extensions (hamming, firstMatchIn,
    // strftime/strptime round-trip) ----------------------------------------
    "fn_strings" -> ((s, dir) => {
      import graft.functions.Strings
      val secs = col("n_nationkey").cast("long") * 3600L + 7200L
      t(s, dir, "nation").select(col("n_nationkey"),
        length(col("n_name")).as("len"),
        lower(col("n_name")).as("lo"),
        substring(col("n_name"), 2, 3).as("sub"),
        reverse(col("n_name")).as("rev"),
        lpad(col("n_name"), 12, ".").as("pad"),
        translate(col("n_name"), "AEIOU", "aeiou").as("tr"),
        levenshtein(col("n_name"), lit("UNITED STATES")).as("lev"),
        Strings.hamming(substring(col("n_name"), 1, 4),
          reverse(substring(col("n_name"), 1, 4))).as("ham"),
        Strings.firstMatchIn(col("n_name"), "[AEIOU]+").as("vow"),
        Strings.strftime(secs, "yyyy-MM-dd HH:mm:ss").as("ts"),
        Strings.strptime(Strings.strftime(secs, "yyyy-MM-dd HH:mm:ss"),
          "yyyy-MM-dd HH:mm:ss").as("secs"))
    }),

    // --- set function surface (reference SetFunctions.scala): canonical
    // sorted-array sets over the p_type token bag --------------------------
    "fn_sets" -> ((s, dir) => {
      import graft.functions.Sets
      val a = Sets.toSet(split(col("p_type"), " "))
      val b = array(lit("PLATED"), lit("BRUSHED"))
      // Array outputs are joined to flat strings so the driver's
      // pandas comparator can sort them (ndarray cells are unhashable).
      t(s, dir, "part").filter(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          concat_ws(",", a).as("set_a"),
          concat_ws(",", Sets.union(a, b)).as("u"),
          concat_ws(",", Sets.intersection(a, b)).as("i"),
          concat_ws(",", Sets.difference(a, b)).as("d"),
          Sets.contains(a, lit("STEEL")).as("has_steel"),
          Sets.isSubset(array(lit("STEEL"), lit("BRUSHED")), a)
            .as("sub_ab"),
          concat_ws(",", Sets.add(a, lit("zzz"))).as("added"),
          concat_ws(",", Sets.remove(a, element_at(a, 1))).as("removed"),
          Sets.lowerBound(a, lit("N")).as("lb"))
    }),

    // --- interval function surface (IntervalFunctions.scala): contains /
    // overlaps / is_empty with open-closed endpoint semantics --------------
    "fn_intervals" -> ((s, dir) => {
      import graft.functions.Intervals
      val i1 = Intervals.interval(pmod(col("o_custkey"), lit(100L)),
        pmod(col("o_custkey"), lit(100L)) + 10L)
      val i2 = Intervals.interval(lit(50L), lit(60L),
        includesStart = lit(false), includesEnd = lit(true))
      val p = pmod(col("o_orderkey"), lit(120L))
      t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          Intervals.contains(i1, p).as("contains_p"),
          Intervals.overlaps(i1, i2).as("overlaps_q"),
          Intervals.isEmpty(Intervals.interval(
            pmod(col("o_orderkey"), lit(3L)), lit(1L))).as("is_empty"))
    }),

    // --- util function surface (UtilFunctions.scala): triangle, dynamic
    // printf, approximate similarity ---------------------------------------
    "fn_util" -> ((s, dir) => {
      import graft.functions.Util
      t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          Util.triangle(col("o_orderkey")).as("tri"),
          Util.format(lit("%d:%s"), col("o_orderkey"),
            col("o_orderstatus")).as("fmt"),
          Util.valuesSimilar(col("o_totalprice"),
            round(col("o_totalprice"), 0)).as("sim"))
    }),

    // --- NDArray function surface (NDArrayFunctions.scala): per-row 2x2
    // matmul / solve / ref / sum; the 2x2 solve has a closed form the
    // oracle reproduces in plain arithmetic --------------------------------
    "fn_ndarray" -> ((s, dir) => {
      import graft.functions.NdArrays
      val k = col("o_orderkey")
      val a = NdArrays.make(Seq(2L, 2L), array(
        lit(1.0) + pmod(k, lit(3L)).cast("double"), lit(1.0),
        lit(1.0), lit(2.0) + pmod(k, lit(2L)).cast("double")))
      val b = NdArrays.make(Seq(2L, 2L), array(
        pmod(k, lit(5L)).cast("double"), lit(1.0),
        lit(0.0), lit(1.0)))
      val mm = NdArrays.matmul(a, b)
      val sol = NdArrays.solve(a, NdArrays.make(Seq(2L, 1L),
        array(lit(1.0), lit(2.0))))
      t(s, dir, "orders").filter(col("o_orderkey") <= 200)
        .select(col("o_orderkey"),
          element_at(NdArrays.data(mm), 1).as("m11"),
          element_at(NdArrays.data(mm), 2).as("m12"),
          element_at(NdArrays.data(mm), 3).as("m21"),
          element_at(NdArrays.data(mm), 4).as("m22"),
          round(element_at(NdArrays.data(sol), 1), 6).as("x1"),
          round(element_at(NdArrays.data(sol), 2), 6).as("x2"),
          NdArrays.ref2(mm, lit(0L), lit(1L)).as("ref01"),
          round(NdArrays.sumAll(sol), 6).as("ssum"))
    }),

    // --- ndarray structural nodes (ir-gen Main.scala NDArrayConcat:931,
    // NDArraySlice:933, NDArrayFilter:934, NDArrayReindex:947 (transpose),
    // NDArrayAgg:949): each output element has a closed form ---------------
    "fn_ndarray_ops" -> ((s, dir) => {
      import graft.functions.NdArrays
      val k = col("o_orderkey")
      def base(i: Int, j: Int) =
        lit((3 * i + j + 1).toDouble) + pmod(k, lit(3L)).cast("double")
      val a = NdArrays.make(Seq(2L, 3L), array(
        (for (i <- 0 until 2; j <- 0 until 3) yield base(i, j)): _*))
      val t2 = NdArrays.transpose2(a)
      val sl = NdArrays.slice2(a, lit(0L), lit(2L), lit(1L), lit(3L))
      val c1 = NdArrays.concat2(a, a, axis = 1)
      val c0 = NdArrays.concat2(a, a, axis = 0)
      val fl = NdArrays.filter2(a, array(lit(1L)),
        array(lit(0L), lit(2L)))
      val s0 = NdArrays.sumAxis(a, 0)
      val s1 = NdArrays.sumAxis(a, 1)
      t(s, dir, "orders").filter(k <= 200)
        .select(k.as("o_orderkey"),
          element_at(t2("data"), 3).as("t10"),
          element_at(t2("data"), 6).as("t21"),
          element_at(sl("data"), 4).as("s11"),
          element_at(c1("data"), 11).as("c14"),
          element_at(c0("data"), 12).as("c32"),
          element_at(fl("data"), 2).as("f01"),
          element_at(s0("data"), 2).as("sa0"),
          element_at(s1("data"), 1).as("sa1"))
    }),

    // --- ndarray band/interval zeroing + triangular solve
    // (NDArrayFunctions.scala zero_band:312, zero_row_intervals:393,
    // linear_triangular_solve:283 — the BlockMatrix sparsify kernels).
    // The solve's A carries junk (99.0) in the untouched triangle to
    // prove the dtrtrs never-reads-the-other-triangle contract ------------
    "fn_ndarray_band" -> ((s, dir) => {
      import graft.functions.NdArrays
      val k = col("o_orderkey")
      def base(i: Int, j: Int) =
        lit((4 * i + j + 1).toDouble) + pmod(k, lit(3L)).cast("double")
      val a34 = NdArrays.make(Seq(3L, 4L), array(
        (for (i <- 0 until 3; j <- 0 until 4) yield base(i, j)): _*))
      val banded = NdArrays.zeroBand(a34, lit(-1L), lit(1L))
      val zr = NdArrays.zeroRowIntervals(a34,
        array(lit(1L), lit(0L), lit(2L)),
        array(lit(3L), lit(1L), lit(4L)))
      val tA = NdArrays.make(Seq(2L, 2L), array(
        pmod(k, lit(5L)).cast("double") + 1.0, lit(99.0),
        pmod(k, lit(3L)).cast("double") + 1.0,
        pmod(k, lit(2L)).cast("double") + 1.0))
      val tb = NdArrays.make(Seq(2L, 1L), array(lit(1.0), lit(2.0)))
      val sol = NdArrays.triangularSolve(tA, tb, lit(true))
      t(s, dir, "orders").filter(k <= 200)
        .select(k.as("o_orderkey"),
          element_at(banded("data"), 1).as("b00"),
          element_at(banded("data"), 3).as("b02"),
          element_at(banded("data"), 5).as("b10"),
          element_at(banded("data"), 9).as("b20"),
          element_at(zr("data"), 1).as("r00"),
          element_at(zr("data"), 2).as("r01"),
          element_at(zr("data"), 8).as("r13"),
          element_at(zr("data"), 12).as("r23"),
          round(element_at(sol("data"), 1), 6).as("x1"),
          round(element_at(sol("data"), 2), 6).as("x2"))
    }),

    // --- NDArraySum + NDArrayMultiplyAdd aggregators (reference
    // agg/NDArraySumAggregator.scala, NDArrayMultiplyAddAggregator.scala):
    // element-wise ndarray sum across rows, and the multiply-add pattern
    // (accumulate per-row matrix products A@B). With A = [[x,1],[0,y]],
    // B = [[1,2],[y,0]], A@B = [[x+y, 2x],[y^2, 0]] — every output cell
    // has a closed form the oracle computes in plain SQL --------------------
    "agg_ndarray_sum" -> ((s, dir) => {
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
    }),

    // --- export_entries_by_col (experimental/export_entries_by_col.py):
    // the partitionBy csv write IS the reference's per-column parallel
    // export; the gate reads the per-sample file tree back and must
    // restore the exact cell relation ---------------------------------------
    "export_entries_by_col" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_eebc")
      sources.TextTable.exportEntriesByCol(
        lineitemMatrix(s, dir), s"$out/by_col")
      s.read.option("header", "true").option("sep", "\t")
        .csv(s"$out/by_col")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("line_no").cast("int").as("line_no"),
          col("qty").cast("double").as("qty"),
          col("price").cast("double").as("price"))
    }),

    // --- ndarray QR (NDArrayFunctions.scala qr): decomposition factors
    // aren't sign-unique, so the gate pins |R| entries (closed-form via
    // Gram identities: |r11| = |col1|, |r12| = col1.col2/|col1|,
    // |r22| = sqrt(det Gram)/|col1|) plus max|QR - A| = 0, which together
    // determine the factorization up to the sign convention -----------------
    "ndarray_qr" -> ((s, dir) => {
      import graft.functions.NdArrays
      val k = col("p_partkey")
      def e(m: Int, o: Int) = (pmod(k, lit(m)) + o).cast("double")
      val a = NdArrays.make(Seq(3L, 2L), array(
        e(7, 1), e(5, 2), e(3, 3), e(11, 1), e(13, 2), e(2, 4)))
      val qr = NdArrays.qrDecomp(a)
      val recon = NdArrays.matmul(qr("q"), qr("r"))
      val err = aggregate(
        zip_with(recon("data"), a("data"), (x, y) => abs(x - y)),
        lit(0.0), (acc, v) => greatest(acc, v))
      t(s, dir, "part").filter(k <= 20)
        .select(k.as("p_partkey"),
          round(abs(element_at(qr("r")("data"), 1)), 6).as("r11"),
          round(abs(element_at(qr("r")("data"), 2)), 6).as("r12"),
          round(abs(element_at(qr("r")("data"), 4)), 6).as("r22"),
          (round(err, 6) + lit(0.0)).as("recon_err"))
    }),

    // --- ndarray SVD: singular values of a 2x2 are closed-form
    // (sqrt of eigenvalues of M'M via the quadratic formula) ----------------
    "ndarray_svd" -> ((s, dir) => {
      import graft.functions.NdArrays
      val k = col("p_partkey")
      def e(m: Int, o: Int) = (pmod(k, lit(m)) + o).cast("double")
      val a = NdArrays.make(Seq(2L, 2L), array(
        e(7, 1), e(5, 0), e(3, 2), e(11, 1)))
      val sv = NdArrays.svdDecomp(a)
      t(s, dir, "part").filter(k <= 20)
        .select(k.as("p_partkey"),
          round(element_at(sv("s"), 1), 6).as("s1"),
          round(element_at(sv("s"), 2), 6).as("s2"))
    }),

    // --- ndarray eigh: eigenvalues of a symmetric 2x2 are closed-form
    // ((a+c)/2 -+ sqrt(((a-c)/2)^2 + b^2), ascending like Breeze) -----------
    "ndarray_eigh" -> ((s, dir) => {
      import graft.functions.NdArrays
      val k = col("p_partkey")
      def e(m: Int, o: Int) = (pmod(k, lit(m)) + o).cast("double")
      val a = NdArrays.make(Seq(2L, 2L), array(
        e(7, 2), e(4, 0), e(4, 0), e(5, 5)))
      val eg = NdArrays.eigh(a)
      t(s, dir, "part").filter(k <= 20)
        .select(k.as("p_partkey"),
          round(element_at(eg("eigenvalues"), 1), 6).as("ev1"),
          round(element_at(eg("eigenvalues"), 2), 6).as("ev2"))
    }),

    // --- ndarray inverse (NDArrayInv, ir-gen Main.scala:968): 2x2
    // inverse has the closed form adj(A)/det — entries chosen so
    // det >= 10 for every key (never singular) ------------------------------
    "ndarray_inv" -> ((s, dir) => {
      import graft.functions.NdArrays
      val k = col("p_partkey")
      def e(m: Int, o: Int) = (pmod(k, lit(m)) + o).cast("double")
      val a = NdArrays.make(Seq(2L, 2L), array(
        e(7, 2), e(5, 0), e(3, 0), e(11, 9)))
      val inv = NdArrays.inverse(a)
      // + 0.0 collapses -0.0 (a zero off-diagonal negated by adj(A))
      t(s, dir, "part").filter(k <= 20)
        .select(k.as("p_partkey"),
          (round(element_at(inv("data"), 1), 6) + lit(0.0)).as("i11"),
          (round(element_at(inv("data"), 2), 6) + lit(0.0)).as("i12"),
          (round(element_at(inv("data"), 3), 6) + lit(0.0)).as("i21"),
          (round(element_at(inv("data"), 4), 6) + lit(0.0)).as("i22"))
    }),

    // --- MatrixKeyRowsBy (MatrixIR.scala:600): re-key the row axis; the
    // new key steers every key-dependent op — here headRows picks the 5
    // smallest (qual, position) rows instead of (contig, position) ----------
    "matrix_key_rows_by" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      mt.keyRowsBy("qual", "position").headRows(5).rowsTable.df
        .select(col("qual"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"))
    }),

    // --- sample_rows / sample_cols (matrixtable.py): seeded deterministic
    // subsets (xxhash64 rows, MurmurHash3 cols) — golden VALUES oracle,
    // the same trick as rand_seeded -----------------------------------------
    "matrix_sample" -> ((s, _) => {
      val mt = sources.Vcf.read(s, VcfFixture)
      val sampled = mt.sampleRows(0.5, 7L).sampleCols(0.6, 3L)
      val keyIdx = sampled.colSchema.fieldIndex("s")
      sampled.rowsTable.df
        .select(col("contig"), col("position"), col("ref"))
        .withColumn("kept_cols", lit(sampled.nCols))
        .withColumn("kept_samples",
          lit(sampled.colValues.map(_.getString(keyIdx)).mkString(",")))
    }),

    // --- tidyr spread (experimental/tidyr.py): long -> wide pivot; the
    // linestatus levels become columns ---------------------------------------
    "tidyr_spread" -> ((s, dir) => {
      val long = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity"))
          .cast("decimal(18,4)").cast("double").as("v"))
        .select("l_returnflag", "l_linestatus", "v")
      operators.Tidyr.spread(Table(long, Seq("l_returnflag")),
        "l_linestatus", "v").df
    }),

    // --- tidyr gather (experimental/tidyr.py): wide -> long ----------------
    "tidyr_gather" -> ((s, dir) => {
      val wide = t(s, dir, "part").filter(col("p_partkey") <= 100)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size"),
          col("p_retailprice").cast("double").as("retail"))
      operators.Tidyr.gather(Table(wide, Seq("p_partkey")),
        "field", "value", "size", "retail").df
    }),

    // --- TableGen (`TableIR.scala:2094`): one partition per context with
    // a generator body ------------------------------------------------------
    "table_gen" -> ((s, _) => {
      import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
      Table.gen(s, 0 until 8, StructType(Seq(
        StructField("ctx", IntegerType, false),
        StructField("idx", IntegerType, false),
        StructField("v", LongType, false)))) { c =>
        (0 until c).iterator.map(j => Row(c, j, c.toLong * 100 + j))
      }.df
    }),

    // --- MatrixExplodeCols (`MatrixIR.scala:778`): a col-field array
    // fans the col space out; entries duplicate per element ----------------
    "matrix_explode_cols" -> ((s, dir) => {
      import org.apache.spark.sql.types.{ArrayType, IntegerType}
      lineitemMatrix(s, dir)
        .annotateCols("tags", ArrayType(IntegerType),
          r => Seq(r.getInt(0), r.getInt(0) * 10))
        .explodeCols("tags")
        .entriesTable.selectFields("line_no", "tags", "qty").df
        .drop("col_idx")
    }),

    // --- MatrixMapGlobals (MatrixIR): globals flow to a projected col ----
    "matrix_map_globals" -> ((s, dir) => {
      val mt = lineitemMatrix(s, dir)
        .annotateGlobals("build" -> "r5", "k" -> 3)
      mt.rows.select(col("l_orderkey"),
        lit(mt.globals("build")).as("build"),
        lit(mt.globals("k")).as("k"))
    }),

    // --- ld_score (experimental/ldscore.py): windowed sums of adjusted
    // r² for the univariate and one partitioned annotation, via the
    // radius-binned banded self-join (nothing n² materialized) -------------
    "geno_ld_score" -> ((s, _) => {
      import graft.functions.Calls
      val mt0 = sources.Vcf.read(s, VcfFixture)
      val mt = mt0.copy(rows = mt0.rows
        .withColumn("ann1",
          (pmod(col("position"), lit(5)) + 1).cast("double")))
      methods.LdScore.ldScore(mt, e => Calls.nNonRefAlleles(e("GT")),
        radius = 1000.0, annotations = Seq("ann1"))
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          round(col("ann1"), 6).as("ann1"),
          round(col("univariate"), 6).as("univariate"))
    }),

    // --- filtering_allele_frequency (experimental, Whiffin 2017): FAF
    // per fixture variant at 95%/99% CI; goldens from an independent
    // Poisson-quantile replica ---------------------------------------------
    "fn_faf" -> ((s, _) => {
      import graft.functions.{Calls, Experimental}
      val mt = sources.Vcf.read(s, VcfFixture)
      val st = graft.functions.GenotypeFolds.doseStats(mt.entries)
      mt.rows
        .withColumn("__ac", st("ac").cast("int"))
        .withColumn("__an", (st("nc") * 2).cast("int"))
        .select(col("contig"), col("position"),
          col("__ac").as("ac"), col("__an").as("an"),
          round(Experimental.filteringAlleleFrequency(
            col("__ac"), col("__an"), lit(0.95)), 6).as("faf95"),
          round(Experimental.filteringAlleleFrequency(
            col("__ac"), col("__an"), lit(0.99)), 6).as("faf99"))
    }),

    // --- haplotype_freq_em (experimental): two-locus EM haplotype
    // counts from the 9 genotype-combination counts -------------------------
    "fn_haplotype_em" -> ((s, _) => {
      import graft.functions.Experimental
      val vecs = Seq(
        (1, Seq(10, 0, 0, 0, 0, 0, 0, 0, 0)),
        (2, Seq(4, 2, 0, 1, 1, 0, 0, 1, 1)),
        (3, Seq(0, 0, 5, 0, 0, 0, 5, 0, 0)),
        (4, Seq(1, 2, 3, 4, 5, 6, 7, 8, 9)),
        (5, Seq(2, 1, 1, 1, 4, 1, 1, 1, 2)))
      s.createDataFrame(vecs).toDF("id", "g")
        .select(col("id"),
          Experimental.haplotypeFreqEm(col("g")).as("h"))
        .select(col("id"),
          round(element_at(col("h"), 1), 6).as("h_ab"),
          round(element_at(col("h"), 2), 6).as("h_a_b"),
          round(element_at(col("h"), 3), 6).as("h_b_a"),
          round(element_at(col("h"), 4), 6).as("h_ab_low"))
    }),

    // --- ld_score_regression (experimental/ld_score_regression.py):
    // two-step LDSC with block jackknife on deterministic synthetic
    // summary stats; golden values from an independent NumPy replica of
    // the reference algorithm (tools/gen_goldens.py notes) ------------------
    "geno_ldsc" -> ((s, _) => {
      val df = s.range(1, 201).select(
        lit("gwas1").as("pheno"), col("id").as("v"),
        (lit(1.0) + pmod(col("id"), lit(13)).cast("double")).as("x"),
        (lit(0.5) + pmod(col("id"), lit(50)).cast("double") * 1.3)
          .as("chisq"),
        (lit(10000) + pmod(col("id"), lit(3)) * 100).cast("double")
          .as("n"))
        .withColumn("w", col("x"))
      methods.LdScoreRegression.ldScoreRegression(df, Seq("v"), "pheno",
        "chisq", "n", "w", "x", nBlocks = 8, twoStepThreshold = 30.0)
        .select(col("phenotype"),
          round(col("mean_chi_sq"), 6).as("mean_chi_sq"),
          round(col("intercept"), 6).as("intercept"),
          round(col("intercept_standard_error"), 6).as("intercept_se"),
          round(col("snp_heritability"), 6).as("snp_h2"),
          round(col("snp_heritability_standard_error"), 6).as("snp_h2_se"))
    }),

    // --- row_correlation (statgen.py:3730): Pearson correlation between
    // row dosage vectors, missing mean-imputed per row; row index is
    // key order. NaN rows (zero variance) drop on both sides ---------------
    "linalg_row_correlation" -> ((s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, VcfFixture)
      val r = methods.Pca.rowCorrelation(mt,
        e => Calls.nNonRefAlleles(e("GT")))
      r.entries
        .filter(col("i") <= col("j") && !isnan(col("value")))
        .withColumn("value", round(col("value"), 6) + lit(0.0))
        .filter(col("value") =!= 0.0)
    }),

    // --- BlockMatrix algebra (BlockMatrixIR): distributed matmul,
    // transpose, and scalar map over a 2x2-block grid, checked cell-by-
    // cell against SQL join-aggregation. Values are exact binary halves,
    // so the compare needs no rounding ------------------------------------
    "linalg_blockmatrix" -> ((s, _) => {
      import graft.linalg.BlockMatrix
      val ae = s.range(12).select(
        floor(col("id") / 3).cast("long").as("i"),
        pmod(col("id"), lit(3L)).as("j"),
        (pmod(col("id"), lit(7L)).cast("double") + 0.5).as("value"))
      val be = s.range(15).select(
        floor(col("id") / 5).cast("long").as("i"),
        pmod(col("id"), lit(5L)).as("j"),
        (pmod(col("id"), lit(5L)).cast("double") + 0.5).as("value"))
      val a = BlockMatrix.fromEntries(ae, 4, 3, blockSize = 2)
      val b = BlockMatrix.fromEntries(be, 3, 5, blockSize = 2)
      a.dot(b).entries.withColumn("tag", lit("ab"))
        .unionByName(a.transpose.entries.withColumn("tag", lit("at")))
        .unionByName(a.scale(3.0).entries.withColumn("tag", lit("a3")))
    }),

    // --- BlockMatrix native save/load (BlockMatrixBinaryReader): the
    // block-layout round-trip restores entries exactly ---------------------
    "linalg_blockmatrix_io" -> ((s, _) => {
      import graft.linalg.BlockMatrix
      val ae = s.range(12).select(
        floor(col("id") / 3).cast("long").as("i"),
        pmod(col("id"), lit(3L)).as("j"),
        (pmod(col("id"), lit(7L)).cast("double") + 0.5).as("value"))
      val a = BlockMatrix.fromEntries(ae, 4, 3, blockSize = 2)
      val dir = java.nio.file.Files.createTempDirectory("graft_bm_io")
      a.save(s"$dir/m")
      BlockMatrix.load(s, s"$dir/m").entries
    }),

    // --- hail-native .bm export/import: same entries as the graft-
    // format IO gate, but through the reference's on-disk block codec ------
    "bm_hail_io" -> ((s, _) => {
      import graft.linalg.BlockMatrix
      val ae = s.range(12).select(
        floor(col("id") / 3).cast("long").as("i"),
        pmod(col("id"), lit(3L)).as("j"),
        (pmod(col("id"), lit(7L)).cast("double") + 0.5).as("value"))
      val a = BlockMatrix.fromEntries(ae, 4, 3, blockSize = 2)
      val dir = java.nio.file.Files.createTempDirectory("graft_bm_hl")
      BlockMatrix.writeHail(a, s"$dir/m.bm")
      BlockMatrix.readHail(s, s"$dir/m.bm").entries
    }),

    // --- BlockMatrix structural ops (BlockMatrixIR Slice/Filter/
    // Broadcast/row-interval sparsify/axis Agg), entry-checked against
    // SQL index arithmetic on the same exact-binary values ----------------
    "linalg_blockmatrix_ops" -> ((s, _) => {
      import graft.linalg.BlockMatrix
      val ae = s.range(12).select(
        floor(col("id") / 3).cast("long").as("i"),
        pmod(col("id"), lit(3L)).as("j"),
        (pmod(col("id"), lit(7L)).cast("double") + 0.5).as("value"))
      val a = BlockMatrix.fromEntries(ae, 4, 3, blockSize = 2)
      a.slice(1, 4, 0, 2).entries.withColumn("tag", lit("sl"))
        .unionByName(a.filter(Seq(2L, 0L), Seq(2L, 1L)).entries
          .withColumn("tag", lit("fl")))
        .unionByName(a.addRowVector(Array(10.0, 20.0, 30.0)).entries
          .withColumn("tag", lit("rv")))
        .unionByName(a.sparsifyRowIntervals(
            Seq(0L, 1L, 2L, 0L), Seq(1L, 2L, 3L, 3L)).entries
          .withColumn("tag", lit("ri")))
        .unionByName(a.colSums()
          .select(lit(0L).as("i"), col("col").as("j"), col("value"))
          .withColumn("tag", lit("cs")))
    }),

    // --- dict function surface (DictFunctions.scala) ----------------------
    "fn_dicts" -> ((s, dir) => {
      import graft.functions.{Dicts, Sets}
      val toks = Sets.toSet(split(col("p_type"), " "))
      val m = Dicts.fromEntries(transform(toks,
        w => struct(w.as("key"), length(w).as("value"))))
      // Key list joined to a flat string for the driver's pandas sort.
      t(s, dir, "part").filter(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          concat_ws(",", Dicts.keys(m)).as("ks"),
          Dicts.get(m, lit("STEEL")).as("steel_len"),
          Dicts.contains(m, lit("BRUSHED")).as("has_brushed"),
          Dicts.isEmpty(m).as("empty"),
          size(Dicts.values(m)).as("n_vals"))
    }),

    // --- UDF/UDAF surface (§2.10, reference define_function /
    // register_ir_function): a named scalar UDF and a typed Aggregator
    // UDAF, both registered and invoked through spark.sql ------------------
    "udf_define_function" -> ((s, dir) => {
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
    }),

    // --- splittable bgzip VCF import (io/compress/BGzipCodec.scala):
    // the BGZF-codec read must reproduce the plain-text import ------------
    "vcf_bgz_import" -> ((s, _) => {
      import graft.functions.Calls
      val dir = java.nio.file.Files.createTempDirectory("graft_bgz_gate")
      val bgz = dir.resolve("f.vcf.bgz").toString
      val out = new sources.BGzipOutputStream(
        new java.io.FileOutputStream(bgz), 2048)
      out.write(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(VcfFixture)))
      out.close()
      sources.Vcf.read(s, bgz).entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    }),

    // --- RelationalLet / CSE (`cached`): naming a shared intermediate
    // must not change results --------------------------------------------
    "table_cached" -> ((s, dir) => {
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
    }),

    // --- tabix-indexed region read (io/tabix/TabixReader.scala +
    // LoadVCF partial reads): bgzip the fixture, index it, seek-read two
    // regions; only in-region rows come back --------------------------------
    "vcf_region_read" -> ((s, _) => {
      import graft.functions.Calls
      val dir = java.nio.file.Files.createTempDirectory("graft_tbx_gate")
      val bgz = dir.resolve("f.vcf.bgz").toString
      val out = new sources.BGzipOutputStream(
        new java.io.FileOutputStream(bgz), 2048)
      out.write(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(VcfFixture)))
      out.close()
      sources.Tabix.write(s, bgz)
      val mt = sources.Vcf.readRegions(s, bgz,
        Seq(("chr1", 300, 1200), ("chr2", 1, 700)))
      mt.entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"))
    }),

    // --- annotation imports (import_bed / import_fam /
    // import_locus_intervals, reference methods/impex.py) ------------------
    "bed_import" -> ((s, _) =>
      sources.Annotations.importBed(s,
        "/root/repo/src/test/resources/oracle_annotations.bed").df),

    "fam_import" -> ((s, _) =>
      sources.Annotations.importFam(s,
        "/root/repo/src/test/resources/oracle_plink.fam").df),

    "locus_intervals_import" -> ((s, _) =>
      sources.Annotations.importLocusIntervals(s,
        "/root/repo/src/test/resources/oracle_intervals.txt").df),

    // --- Avro source (io/AvroTableReader.scala): distributed container
    // read of a driver-written fixture carrying the nation table ----------
    "avro_read" -> ((s, dir) => {
      import org.apache.avro.SchemaBuilder
      import org.apache.avro.file.DataFileWriter
      import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
      val rows = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey").collect()
      val schema = SchemaBuilder.record("nation").fields()
        .requiredInt("n_nationkey").requiredString("n_name")
        .requiredInt("n_regionkey").endRecord()
      val tmp = java.nio.file.Files.createTempDirectory("graft_avro_gate")
      val w = new DataFileWriter(
        new GenericDatumWriter[GenericRecord](schema))
        .create(schema, tmp.resolve("part-0.avro").toFile)
      rows.foreach { r =>
        val rec = new GenericData.Record(schema)
        rec.put("n_nationkey", r.getInt(0))
        rec.put("n_name", r.getString(1))
        rec.put("n_regionkey", r.getInt(2))
        w.append(rec)
      }
      w.close()
      sources.Avro.read(s, tmp.resolve("part-0.avro").toString)
    }),

    // --- Avro container EXPORT roundtrip: distributed per-partition
    // write through the Hadoop FS, read back by the independent reader --
    "avro_write_roundtrip" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val out = s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_avro_w_${ProcessHandle.current().pid()}"
      sources.Avro.write(nation, out)
      sources.Avro.read(s, out)
    }),

    // --- FASTA reference sequence (reference_genome.py add_sequence /
    // getReferenceSequence): .fai-indexed lookup with contig clamping -----
    "fasta_sequence" -> ((s, _) => {
      import graft.functions.Fasta
      val seq1 = "ACGT" * 25 // chr1: 100 bases
      val seq2 = "TTGGCCAA" * 10 // chr2: 80 bases
      val dir = java.nio.file.Files.createTempDirectory("graft_fa_gate")
      val fa = dir.resolve("ref.fa")
      java.nio.file.Files.writeString(fa,
        ">chr1\n" + seq1.grouped(20).mkString("\n") + "\n" +
          ">chr2\n" + seq2.grouped(25).mkString("\n") + "\n")
      Fasta.buildIndex(s, fa.toString)
      val fasta = Fasta.read(s, fa.toString)
      s.range(1, 91).toDF("p").select(col("p"),
        fasta.getReferenceSequence(lit("chr1"), col("p").cast("int"))
          .as("base"),
        fasta.getReferenceSequence(lit("chr1"), col("p").cast("int"),
          lit(2), lit(3)).as("ctx"),
        fasta.getReferenceSequence(lit("chr2"), col("p").cast("int"))
          .as("b2"))
    }),

    // --- balding_nichols_model (statgen.py:2767): seeded generation is
    // deterministic, so per-variant call summaries gate against literal
    // goldens (provenance: BaldingNicholsSpec checks the af moments) -------
    "balding_nichols" -> ((s, _) => {
      import graft.functions.Calls
      val mt = methods.BaldingNichols.baldingNicholsModel(s,
        nPopulations = 3, nSamples = 20, nVariants = 50, seed = 7L)
      mt.rows.select(col("position"),
        round(col("ancestral_af"), 6).as("p0"),
        aggregate(transform(mt.entries,
          e => Calls.nNonRefAlleles(e("GT"))), lit(0), _ + _).as("n_alt"),
        aggregate(transform(mt.entries,
          e => Calls.isHet(e("GT")).cast("int")), lit(0), _ + _)
          .as("n_het"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "table_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(l_shipdate AS VARCHAR) AS ship
        |FROM lineitem
        |WHERE l_shipdate > TIMESTAMP '1997-06-01' AND l_discount > 0.05""".stripMargin,

    "table_map_rows" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1.0 - l_discount), 4) AS revenue,
        |  l_returnflag = 'R' AS is_return
        |FROM lineitem""".stripMargin,

    "table_literal_join" ->
      """SELECT l_returnflag, label,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN (VALUES ('A', 'accepted'), ('N', 'none'), ('R', 'returned'))
        |  AS m(l_returnflag, label) USING (l_returnflag)
        |GROUP BY l_returnflag, label""".stripMargin,

    "table_aggregate_by_key" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "table_key_by_and_aggregate" ->
      """SELECT o_custkey % 7 AS bucket, o_orderstatus AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "table_aggregate" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(min(l_shipdate) AS VARCHAR) AS min_ship,
        |  CAST(max(l_shipdate) AS VARCHAR) AS max_ship,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,

    "table_join_inner" ->
      """SELECT o.o_custkey AS custkey, o.o_orderkey, c.c_name, o.o_totalprice
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,

    "table_join_left" ->
      """SELECT c.c_custkey AS custkey,
        |  count(o.o_orderkey) AS n_orders,
        |  coalesce(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS total
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1""".stripMargin,

    "table_semi_join" ->
      """SELECT c_custkey AS custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin,

    "table_anti_join" ->
      """SELECT c_custkey AS custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,

    "table_left_join_right_distinct" ->
      """SELECT c.c_nationkey AS nationkey, c.c_custkey, c.c_name, n.n_name
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin,

    "table_union" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_totalprice > 300000.0""".stripMargin,

    "table_distinct" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_orderdate AS VARCHAR) AS first_date FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,

    "table_order_by" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,

    "table_head" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 50""".stripMargin,

    "table_explode" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
        |GROUP BY word""".stripMargin,

    "table_scan_sum" ->
      """SELECT o_orderkey, o_totalprice,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |    OVER (ORDER BY o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE), 4) AS running_total
        |FROM orders WHERE o_custkey < 100""".stripMargin,

    "table_add_index" ->
      """SELECT o_orderkey,
        |  row_number() OVER (ORDER BY o_orderkey) - 1 AS idx
        |FROM orders""".stripMargin,

    "table_interval_join" ->
      """SELECT r.r_name, count(*) AS n,
        |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_sum
        |FROM customer c JOIN (
        |  SELECT r_name,
        |    CAST(r_regionkey AS DOUBLE) * 2000.0 - 1000.0 AS lo,
        |    CAST(r_regionkey AS DOUBLE) * 2000.0 + 1000.0 AS hi
        |  FROM region) r
        |ON c.c_acctbal >= r.lo AND c.c_acctbal < r.hi
        |GROUP BY r.r_name""".stripMargin,

    "agg_take_by" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,

    "agg_collect_set" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
        |    AS statuses,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_stats" ->
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
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_counter" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,

    "table_filter_intervals" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE (o_orderkey >= 1000 AND o_orderkey < 2000)
        |   OR (o_orderkey >= 5000 AND o_orderkey < 5500)""".stripMargin,

    "matrix_entries_table" ->
      s"""SELECT l_orderkey, l_linenumber AS line_no, qty, price
        |FROM $cellSql""".stripMargin,

    "matrix_summarize" -> {
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
    },

    "matrix_annotate_rows_entry_agg" ->
      s"""SELECT l_orderkey, count(*) AS n_defined,
        |  round(sum(qty), 4) AS qty_sum
        |FROM $cellSql GROUP BY l_orderkey""".stripMargin,

    "matrix_filter_entries_agg" ->
      s"""SELECT count(*) AS n,
        |  CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM $cellSql WHERE qty >= 10.0""".stripMargin,

    "matrix_aggregate_rows_by_key" ->
      s"""SELECT l_orderkey % 100 AS bucket, l_linenumber AS line_no,
        |  CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM $cellSql GROUP BY 1, 2""".stripMargin,

    "matrix_aggregate_cols_by_key" ->
      s"""SELECT o.l_orderkey, p.parity,
        |  coalesce(round(s.qty_sum, 4), 0.0) AS qty_sum
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem) o
        |CROSS JOIN (VALUES (0), (1)) p(parity)
        |LEFT JOIN (
        |  SELECT l_orderkey, l_linenumber % 2 AS parity,
        |    sum(qty) AS qty_sum
        |  FROM $cellSql GROUP BY 1, 2) s
        |USING (l_orderkey, parity)""".stripMargin,

    "matrix_choose_cols" ->
      s"""SELECT count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM $cellSql WHERE l_linenumber IN (1, 3, 5)""".stripMargin,

    "matrix_cols_agg" ->
      s"""SELECT l_linenumber AS line_no, count(*) AS n,
        |  CAST(sum(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM $cellSql GROUP BY 1""".stripMargin,

    "table_multi_way_zip_join" ->
      """SELECT o_custkey AS custkey,
        |  NULLIF(count(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS n_f,
        |  NULLIF(count(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS n_o,
        |  NULLIF(count(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS n_p
        |FROM orders GROUP BY 1""".stripMargin,

    "matrix_collect_cols_by_key" ->
      s"""SELECT o.l_orderkey, p.parity,
        |  coalesce(s.n_present, 0) AS n_present,
        |  coalesce(round(s.qty_sum, 4), 0.0) AS qty_sum
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem) o
        |CROSS JOIN (VALUES (0), (1)) p(parity)
        |LEFT JOIN (
        |  SELECT l_orderkey, l_linenumber % 2 AS parity,
        |    count(*) AS n_present, sum(qty) AS qty_sum
        |  FROM $cellSql GROUP BY 1, 2) s
        |USING (l_orderkey, parity)""".stripMargin,

    "matrix_make_table" ->
      s"""SELECT l_orderkey,
        |  ${(1 to 7).map(i =>
              s"""max(CASE WHEN l_linenumber = $i THEN qty END) AS "$i.qty"""")
            .mkString(",\n  ")}
        |FROM $cellSql GROUP BY l_orderkey""".stripMargin,

    "agg_take_by_heap" ->
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,

    "agg_fold" ->
      """SELECT o_orderstatus, max(o_totalprice) AS max_price,
        |  min(o_totalprice) AS min_price
        |FROM orders GROUP BY 1""".stripMargin,

    "agg_group" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(l_linestatus || ':' ||
        |    CAST(q AS VARCHAR))), ',') AS by_status
        |FROM (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |      AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2)
        |GROUP BY 1""".stripMargin,

    "table_scan_prev_non_null" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS v,
        |  last_value(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END
        |    IGNORE NULLS) OVER (ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v
        |FROM orders WHERE o_custkey < 100""".stripMargin,

    "agg_approx_cdf" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
        |FROM lineitem WHERE l_orderkey < 2000 GROUP BY 1""".stripMargin,

    "matrix_annotate_rows_table" ->
      """SELECT c.l_orderkey, o.o_orderstatus,
        |  round(o.o_totalprice, 2) AS o_totalprice
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem) c
        |LEFT JOIN orders o ON c.l_orderkey = o.o_orderkey""".stripMargin,

    "matrix_annotate_cols_table" ->
      """SELECT n.line_no, c.n_lines
        |FROM (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS line_no) n
        |LEFT JOIN (SELECT l_linenumber AS line_no, count(*) AS n_lines
        |  FROM lineitem GROUP BY 1) c USING (line_no)""".stripMargin,

    "table_skew_stats" ->
      """WITH c AS (SELECT l_returnflag, count(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) /
        |    (CAST((SELECT sum(cnt) FROM c) AS DOUBLE) /
        |     (SELECT count(*) FROM c)), 6) AS ratio
        |FROM c ORDER BY cnt DESC, l_returnflag LIMIT 5""".stripMargin,

    "table_skew_stats_bytes" ->
      """WITH c AS (SELECT lang, count(*) AS cnt,
        |    CAST(sum(strlen(text)) AS DOUBLE) AS mass
        |  FROM documents GROUP BY 1)
        |SELECT lang, cnt, CAST(mass AS BIGINT) AS mass,
        |  ROUND(mass / ((SELECT sum(mass) FROM c) /
        |    (SELECT count(*) FROM c)), 6) AS ratio
        |FROM c ORDER BY mass DESC, lang LIMIT 5""".stripMargin,

    "pipe_cap_report" ->
      """WITH b AS (SELECT text, count(*) AS bn FROM documents
        |  GROUP BY text)
        |SELECT 'exact_text' AS family,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(CASE WHEN bn BETWEEN 2 AND 4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_pairable,
        |  CAST(sum(CASE WHEN bn > 4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_capped,
        |  CAST(sum(bn) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN bn > 4 THEN bn ELSE 0 END) AS BIGINT)
        |    AS rows_capped
        |FROM b""".stripMargin,

    // Replays all three pair-family bucketings independently: minhash
    // bands (same CTEs as pipe_minhash_pairs), simhash top-16-bit
    // buckets (same bit-vote sketch as pipe_simhash_pairs), and the
    // winnowing fingerprints themselves — Rabin-Karp k-gram poly-hash
    // mod 2^64 (HUGEINT arithmetic) + murmur fmix64 (split-multiply
    // mulmod to stay under HUGEINT's 2^127), then rightmost-min-per-
    // window selection reduced to DISTINCT per-window minima (the tie
    // rule only moves positions, never the selected VALUE, so the
    // distinct value set is window-min distinct).
    "pipe_cap_report_families" -> {
      val bitSums = (0 until 60).map(b =>
        s"sum((hv >> $b) & 1) AS b$b").mkString(",\n        ")
      val sig = (0 until 60).map(b =>
        s"(CASE WHEN b$b * 2 > n THEN ${1L << b} ELSE 0 END)")
        .mkString(" +\n        ")
      // fmix64 stage: x -> (x ^ (x >>> 33)) * mult (mod 2^64), operands
      // split at 2^32 so every HUGEINT product stays < 2^97
      def mulmod(x: String, mult: String): String =
        s"""((CAST($x AS HUGEINT) % 4294967296) * $mult +
        |   (((CAST($x AS HUGEINT) // 4294967296) * $mult) % 4294967296)
        |     * 4294967296) % 18446744073709551616""".stripMargin
      def xs(h: String): String =
        s"xor(CAST($h AS UBIGINT), CAST($h AS UBIGINT) >> 33)"
      s"""WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |msh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
        |  FROM tok WHERE len(w) >= 3),
        |mmh AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), i ->
        |      list_min(list_transform(shingles, s ->
        |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
        |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
        |  FROM msh),
        |mbands AS (
        |  SELECT doc_id, b.band,
        |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
        |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
        |  FROM mmh, (SELECT unnest(range(0,4)) AS band) b),
        |mh_b AS (SELECT count(*) AS bn FROM mbands GROUP BY band, bsig),
        |stok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(lower(text), ' +')))
        |      AS t
        |  FROM documents),
        |sh_h AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(string_split(
        |        substring(md5(t), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS hv
        |  FROM stok),
        |sv AS (
        |  SELECT doc_id, count(*) AS n,
        |        $bitSums
        |  FROM sh_h GROUP BY doc_id),
        |ssg AS (
        |  SELECT doc_id,
        |        $sig AS sig
        |  FROM sv),
        |sim_b AS (SELECT count(*) AS bn FROM ssg GROUP BY sig >> 44),
        |wd AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
        |  FROM documents),
        |wpos AS (
        |  SELECT doc_id, nt,
        |    unnest(range(1, greatest(length(nt) - 11, 1) + 1)) AS i
        |  FROM wd WHERE length(nt) > 0),
        |wraw AS (
        |  SELECT doc_id, i,
        |    list_reduce(list_transform(string_split(substr(nt, i, 12), ''),
        |      c -> CAST(unicode(c) AS HUGEINT)),
        |      (a, b) -> (a * 1099511628211 + b) % 18446744073709551616)
        |      AS h0
        |  FROM wpos),
        |f1 AS (SELECT doc_id, i, ${xs("h0")} AS x FROM wraw),
        |f2 AS (SELECT doc_id, i,
        |  ${mulmod("x", "18397679294719823053")} AS h FROM f1),
        |f3 AS (SELECT doc_id, i, ${xs("h")} AS x FROM f2),
        |f4 AS (SELECT doc_id, i,
        |  ${mulmod("x", "14181476777654086739")} AS h FROM f3),
        |f5 AS (SELECT doc_id, i,
        |  CAST(CASE WHEN ${xs("h")} >= 9223372036854775808
        |    THEN CAST(${xs("h")} AS HUGEINT) - 18446744073709551616
        |    ELSE CAST(${xs("h")} AS HUGEINT) END AS BIGINT) AS g
        |  FROM f4),
        |wmins AS (SELECT doc_id, i,
        |    min(g) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM f5),
        |wsel AS (SELECT DISTINCT doc_id, wmin AS fp FROM wmins
        |  WHERE i <= greatest(m - 7, 1)),
        |win_b AS (SELECT count(*) AS bn FROM wsel GROUP BY fp),
        |stats AS (
        |  SELECT 'minhash' AS family, bn FROM mh_b
        |  UNION ALL SELECT 'simhash', bn FROM sim_b
        |  UNION ALL SELECT 'winnow', bn FROM win_b)
        |SELECT family,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(CASE WHEN bn BETWEEN 2 AND 50 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_pairable,
        |  CAST(sum(CASE WHEN bn > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_capped,
        |  CAST(sum(bn) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN bn > 50 THEN bn ELSE 0 END) AS BIGINT)
        |    AS rows_capped
        |FROM stats GROUP BY family ORDER BY family""".stripMargin
    },

    "pipe_dedup_exact" ->
      """SELECT doc_id, content_hash FROM (
        |  SELECT doc_id, md5(text) AS content_hash,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |      AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "pipe_dedup_fingerprint" ->
      """SELECT doc_id, fp FROM (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split_regex(lower(text), ' +'))), ' ')) AS fp,
        |    row_number() OVER (PARTITION BY md5(array_to_string(list_sort(
        |      list_distinct(string_split_regex(lower(text), ' +'))), ' '))
        |      ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "pipe_quality_filters" ->
      """WITH docs2 AS (
        |  SELECT doc_id % 50 AS gid,
        |    string_agg(text, chr(10) ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1),
        |feats AS (
        |  SELECT gid, text,
        |    string_split(text, chr(10)) AS ls,
        |    string_split_regex(lower(text), ' +') AS w,
        |    string_split_regex(trim(text), ' +') AS tw
        |  FROM docs2),
        |grams AS (
        |  SELECT gid,
        |    list_extract(w, i) || ' ' || list_extract(w, i + 1) AS g
        |  FROM feats, unnest(range(1, len(w))) AS t(i)),
        |modal AS (
        |  SELECT gid, max(c) AS top FROM (
        |    SELECT gid, g, count(*) AS c FROM grams GROUP BY gid, g)
        |  GROUP BY gid)
        |SELECT f.gid,
        |  round((len(ls) - len(list_distinct(ls)))
        |    / CAST(greatest(len(ls), 1) AS DOUBLE), 6) AS dup_line_frac,
        |  round(CASE WHEN len(w) >= 2
        |    THEN least(m.top * 2 / CAST(len(w) AS DOUBLE), 1.0)
        |    ELSE 0.0 END, 6) AS top_2gram_frac,
        |  round(length(regexp_replace(f.text, '[a-zA-Z0-9\s]', '', 'g'))
        |    / CAST(greatest(len(tw), 1) AS DOUBLE), 6)
        |    AS symbol_word_ratio
        |FROM feats f LEFT JOIN modal m USING (gid)""".stripMargin,

    "pipe_dedup_paragraphs" ->
      """WITH docs2 AS (
        |  SELECT doc_id % 50 AS gid,
        |    string_agg(text, chr(10) ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1),
        |paras AS (
        |  SELECT gid, i - 1 AS pos, list_extract(ls, i) AS para
        |  FROM (SELECT gid, string_split(text, chr(10)) AS ls FROM docs2),
        |    unnest(range(1, len(ls) + 1)) AS t(i)
        |  WHERE length(trim(list_extract(ls, i))) > 0),
        |kept AS (
        |  SELECT gid, pos, para,
        |    row_number() OVER (PARTITION BY md5(para)
        |      ORDER BY gid, pos) AS rn
        |  FROM paras)
        |SELECT gid, string_agg(para, chr(10) ORDER BY pos) AS text
        |FROM kept WHERE rn = 1 GROUP BY gid""".stripMargin,

    "pipe_text_stats" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), ' +')) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        |      AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(CAST(length(regexp_replace(text, ' +', '', 'g')) AS DOUBLE)
        |    / greatest(len(string_split_regex(trim(text), ' +')), 1), 6)
        |    AS mean_word_len
        |FROM documents""".stripMargin,

    // connected components over the minhash candidate graph: recursive
    // transitive closure, cluster id = min reachable doc id
    "pipe_neardup_clusters" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
        |  FROM tok WHERE len(w) >= 3),
        |mh AS (
        |  SELECT doc_id, shingles,
        |    list_transform(range(0, 8), i ->
        |      list_min(list_transform(shingles, s ->
        |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
        |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.band,
        |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
        |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
        |  FROM mh, (SELECT unnest(range(0,4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM cand
        |  UNION SELECT id_b, id_a FROM cand),
        |reach AS (
        |  SELECT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
        |SELECT node AS doc_id, min(r) AS cluster
        |FROM reach GROUP BY node""".stripMargin,

    "pipe_minhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
        |  FROM tok WHERE len(w) >= 3),
        |mh AS (
        |  SELECT doc_id, shingles,
        |    list_transform(range(0, 8), i ->
        |      list_min(list_transform(shingles, s ->
        |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
        |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.band,
        |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
        |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
        |  FROM mh, (SELECT unnest(range(0,4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  CAST((20000 * len(list_intersect(sa.shingles, sb.shingles))
        |      + (len(sa.shingles) + len(sb.shingles)
        |         - len(list_intersect(sa.shingles, sb.shingles))))
        |    // (2 * (len(sa.shingles) + len(sb.shingles)
        |         - len(list_intersect(sa.shingles, sb.shingles))))
        |    AS DOUBLE) / 10000 AS jaccard
        |FROM cand
        |JOIN sh sa ON cand.id_a = sa.doc_id
        |JOIN sh sb ON cand.id_b = sb.doc_id""".stripMargin,

    // family-invariant: pairs with identical distinct-shingle sets are
    // LSH candidates under any hash family, so no xxhash64 in DuckDB
    "pipe_minhash_fast" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 25 = 0),
        |tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM docs),
        |sh AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2])))) AS shingles
        |  FROM tok WHERE len(w) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(1.0 AS DOUBLE) AS jaccard
        |FROM sh a JOIN sh b
        |  ON a.shingles = b.shingles AND a.doc_id < b.doc_id""".stripMargin,

    // independent all-pairs shared-substring join (19 = k + w - 1 of the
    // Spark side's winnowing parameters); the Spark side reaches the same
    // set through fingerprint candidates + verify, never a quadratic join
    "pipe_winnow_pairs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, nt,
        |    unnest(generate_series(1, greatest(length(nt) - 18, 0))) AS i
        |  FROM d WHERE length(nt) >= 19),
        |g AS (SELECT DISTINCT doc_id, substr(nt, i, 19) AS gram FROM pos)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // position-level replay of exact-substring span dedup on the gram
    // STRINGS (the Spark side shuffles 64-bit rolling hashes instead of
    // gram bytes — value-identical unless the kernel hash collides):
    // duplicated-gram positions minus the canonical first occurrence,
    // merged into maximal char spans by the gap > 30 island rule
    "pipe_substring_spans" ->
      """WITH pos AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text) - 29)) AS i
        |  FROM documents WHERE length(text) >= 30),
        |g AS (SELECT doc_id, i, substr(text, i, 30) AS gram FROM pos),
        |occ AS (SELECT doc_id, i,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn,
        |    count(*)     OVER (PARTITION BY gram) AS c
        |  FROM g),
        |rem AS (SELECT doc_id, i - 1 AS p FROM occ WHERE c > 1 AND rn > 1),
        |fl AS (SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 30
        |         THEN 1 ELSE 0 END AS f
        |  FROM rem),
        |isl AS (SELECT doc_id, p,
        |    sum(f) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM fl)
        |SELECT doc_id, min(p) AS span_start,
        |  max(p) + 30 - min(p) AS span_len,
        |  count(*) AS n_positions
        |FROM isl GROUP BY doc_id, grp""".stripMargin,

    // same spans, then each doc reassembled from its kept segments
    // (the gaps between spans plus the tail after the last span)
    "pipe_substring_dedup" ->
      """WITH pos AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text) - 29)) AS i
        |  FROM documents WHERE length(text) >= 30),
        |g AS (SELECT doc_id, i, substr(text, i, 30) AS gram FROM pos),
        |occ AS (SELECT doc_id, i,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn,
        |    count(*)     OVER (PARTITION BY gram) AS c
        |  FROM g),
        |rem AS (SELECT doc_id, i - 1 AS p FROM occ WHERE c > 1 AND rn > 1),
        |fl AS (SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 30
        |         THEN 1 ELSE 0 END AS f
        |  FROM rem),
        |isl AS (SELECT doc_id, p,
        |    sum(f) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM fl),
        |sp AS (SELECT doc_id, min(p) AS s, max(p) + 30 - min(p) AS l
        |  FROM isl GROUP BY doc_id, grp),
        |segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(s + l) OVER (PARTITION BY doc_id ORDER BY s),
        |             0) AS ks,
        |    s AS ke
        |  FROM sp
        |  UNION ALL
        |  SELECT doc_id, max(s + l) AS ks, NULL AS ke
        |  FROM sp GROUP BY doc_id),
        |cleaned AS (
        |  SELECT d.doc_id,
        |    string_agg(substr(d.text, s.ks + 1,
        |      coalesce(s.ke, length(d.text)) - s.ks), '' ORDER BY s.ks)
        |      AS clean_text
        |  FROM documents d JOIN segs s USING (doc_id)
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id, coalesce(c.clean_text, d.text) AS clean_text
        |FROM documents d LEFT JOIN cleaned c USING (doc_id)""".stripMargin,

    // independent NFC: DuckDB's nfc_normalize vs java.text.Normalizer
    // on the same synthesized decomposed-accent corpus
    "pipe_unicode_nfc" ->
      """WITH d AS (
        |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS nfc_text,
        |  length(raw) - length(nfc_normalize(raw)) AS n_composed
        |FROM d""".stripMargin,

    // per-variant 20-gram position/distinct counts on the gram STRINGS
    // (the Spark side counts distinct rolling HASHES — a collision
    // would diff here)
    "pipe_selfrep" ->
      """WITH v AS (
        |  SELECT doc_id, text AS s, 'n' AS variant FROM documents
        |  UNION ALL
        |  SELECT doc_id, text || ' ' || substr(text, 1, 60), 'echo'
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, variant, substr(s, i, 20) AS gram
        |  FROM (SELECT doc_id, variant, s,
        |          unnest(generate_series(1, length(s) - 19)) AS i
        |        FROM v WHERE length(s) >= 20)),
        |f AS (
        |  SELECT doc_id, variant, count(*) AS c,
        |    count(DISTINCT gram) AS d
        |  FROM g GROUP BY 1, 2)
        |SELECT d0.doc_id,
        |  coalesce(fn.c, 0) AS n_grams,
        |  coalesce(fn.c - fn.d, 0) AS n_repeated,
        |  coalesce(fe.c, 0) AS echo_grams,
        |  coalesce(fe.c - fe.d, 0) AS echo_repeated
        |FROM documents d0
        |LEFT JOIN f fn ON fn.doc_id = d0.doc_id AND fn.variant = 'n'
        |LEFT JOIN f fe ON fe.doc_id = d0.doc_id AND fe.variant = 'echo'
        |""".stripMargin,

    // full SQL replay of the URL canonicalization contract: fragment
    // strip, scheme+host lowercase, default-port strip, tracking-param
    // drop, param sort, empty path -> '/'
    "pipe_url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' || upper(source) ||
        |           '.Example.Com:80/A/' || doc_id ||
        |           '?utm_campaign=x&z=26&a=1#top'
        |         WHEN doc_id % 3 = 1 THEN 'https://sub.' || source || '.org'
        |         ELSE 'https://' || source || '.net/P%20Q/' || doc_id ||
        |           '?b=2&a=1&fbclid=abc' END AS url
        |  FROM documents),
        |p1 AS (
        |  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS base
        |  FROM u),
        |p2 AS (
        |  SELECT doc_id, url,
        |    regexp_replace(lower(coalesce(regexp_extract(base,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1), '')),
        |      ':(80|443)$', '') AS scheme_host,
        |    coalesce(regexp_extract(base,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1), '') AS rest
        |  FROM p1),
        |p3 AS (
        |  SELECT doc_id, url, scheme_host,
        |    CASE WHEN coalesce(regexp_extract(rest, '^([^?]*)', 1), '') = ''
        |         THEN '/' ELSE regexp_extract(rest, '^([^?]*)', 1) END
        |      AS path,
        |    list_sort(list_filter(
        |      string_split(coalesce(regexp_extract(rest, '\?(.*)$', 1), ''),
        |        '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[a-z]+|fbclid|gclid)='))) AS params
        |  FROM p2),
        |h AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(coalesce(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1), '')),
        |      '^[^@]*@', ''), ':[0-9]+$', '') AS host
        |  FROM u)
        |SELECT p3.doc_id,
        |  scheme_host || path ||
        |    CASE WHEN len(params) > 0
        |         THEN '?' || array_to_string(params, '&') ELSE '' END
        |    AS norm_url,
        |  h.host AS host,
        |  coalesce(regexp_extract(h.host, '([^.]+\.[^.]+)$', 1), '')
        |    AS domain
        |FROM p3 JOIN h USING (doc_id)""".stripMargin,

    // same synthesized URLs -> apex domain -> keep the 10 smallest ids
    // per domain; id_sum pins the surviving row set
    "pipe_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' || upper(source) ||
        |           '.Example.Com:80/A/' || doc_id ||
        |           '?utm_campaign=x&z=26&a=1#top'
        |         WHEN doc_id % 3 = 1 THEN 'https://sub.' || source || '.org'
        |         ELSE 'https://' || source || '.net/P%20Q/' || doc_id ||
        |           '?b=2&a=1&fbclid=abc' END AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(coalesce(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1), '')),
        |      '^[^@]*@', ''), ':[0-9]+$', '') AS host
        |  FROM u),
        |d AS (
        |  SELECT doc_id,
        |    coalesce(regexp_extract(host, '([^.]+\.[^.]+)$', 1), '')
        |      AS domain
        |  FROM h),
        |r AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        |  FROM d)
        |SELECT domain, count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r WHERE rn <= 10 GROUP BY 1""".stripMargin,

    // exact heavy hitters over the engineered skewed key stream: the
    // Spark side's Misra-Gries candidates + exact second pass must
    // equal the plain groupBy + HAVING cnt*m > N
    "agg_heavy_hitters" -> HeavyHittersOracleSql,

    // the streaming variant's exact second pass restores merge-order
    // determinism across micro-batches — one oracle for both
    "stream_heavy_hitters" -> HeavyHittersOracleSql,

    // three unrolled PageRank sweeps in pure SQL, mirroring the
    // engine's exact integer-unit contract: ranks are BIGINT counts of
    // 1e-9 units, every division is truncating integer division (//),
    // every sum is exact, and the OUTPUT is the raw unit count — no
    // double touches the hashed value anywhere (the r12 terminal
    // round(units/1e9,9)→DECIMAL reconstruction proved stack-dependent
    // on the driver's duckdb/pandas despite being half-ulp-safe on
    // paper), so the replay is bit-identical on any engine and stack.
    "pipe_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT doc_id % 53 AS src, (doc_id * 7 + 3) % 53 AS dst
        |  FROM documents),
        |nodes AS (
        |  SELECT DISTINCT node
        |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |n AS (SELECT count(*) AS nn FROM nodes),
        |od AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (
        |  SELECT node, 1000000000 // (SELECT nn FROM n) AS ru FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS node, r.ru // od.outdeg AS c
        |  FROM e JOIN r0 r ON e.src = r.node JOIN od ON od.node = e.src),
        |s1 AS (SELECT node, sum(c) AS in_sum FROM c1 GROUP BY 1),
        |d1 AS (
        |  SELECT coalesce(sum(r.ru), 0) AS dang
        |  FROM r0 r LEFT JOIN od USING (node) WHERE od.outdeg IS NULL),
        |r1 AS (
        |  SELECT nodes.node,
        |    (15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT nn FROM n))
        |    + (85 * coalesce(s.in_sum, 0)) // 100
        |    + (85 * (SELECT dang FROM d1)) // (100 * (SELECT nn FROM n))
        |    AS ru
        |  FROM nodes LEFT JOIN s1 s USING (node)),
        |c2 AS (
        |  SELECT e.dst AS node, r.ru // od.outdeg AS c
        |  FROM e JOIN r1 r ON e.src = r.node JOIN od ON od.node = e.src),
        |s2 AS (SELECT node, sum(c) AS in_sum FROM c2 GROUP BY 1),
        |d2 AS (
        |  SELECT coalesce(sum(r.ru), 0) AS dang
        |  FROM r1 r LEFT JOIN od USING (node) WHERE od.outdeg IS NULL),
        |r2 AS (
        |  SELECT nodes.node,
        |    (15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT nn FROM n))
        |    + (85 * coalesce(s.in_sum, 0)) // 100
        |    + (85 * (SELECT dang FROM d2)) // (100 * (SELECT nn FROM n))
        |    AS ru
        |  FROM nodes LEFT JOIN s2 s USING (node)),
        |c3 AS (
        |  SELECT e.dst AS node, r.ru // od.outdeg AS c
        |  FROM e JOIN r2 r ON e.src = r.node JOIN od ON od.node = e.src),
        |s3 AS (SELECT node, sum(c) AS in_sum FROM c3 GROUP BY 1),
        |d3 AS (
        |  SELECT coalesce(sum(r.ru), 0) AS dang
        |  FROM r2 r LEFT JOIN od USING (node) WHERE od.outdeg IS NULL),
        |r3 AS (
        |  SELECT nodes.node,
        |    (15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT nn FROM n))
        |    + (85 * coalesce(s.in_sum, 0)) // 100
        |    + (85 * (SELECT dang FROM d3)) // (100 * (SELECT nn FROM n))
        |    AS ru
        |  FROM nodes LEFT JOIN s3 s USING (node))
        |SELECT node, CAST(ru AS BIGINT) AS rank_units
        |FROM r3""".stripMargin,

    // frozen-index anti-join + batch self-dedup, replayed directly
    "pipe_incremental_dedup" ->
      """WITH idx AS (SELECT DISTINCT md5(text) AS content_hash
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text
        |         ELSE text || ' v2' END AS text
        |  FROM documents WHERE doc_id % 3 = 0),
        |hashed AS (SELECT doc_id, md5(text) AS content_hash FROM batch),
        |fresh AS (
        |  SELECT * FROM hashed
        |  WHERE content_hash NOT IN (SELECT content_hash FROM idx)),
        |r AS (
        |  SELECT doc_id, content_hash,
        |    row_number() OVER (PARTITION BY content_hash
        |                       ORDER BY doc_id) AS rn
        |  FROM fresh)
        |SELECT doc_id, content_hash FROM r WHERE rn = 1""".stripMargin,

    // deletion-neighborhood fuzzy join replay: variants (i=0 is the
    // string itself), distinct per doc, 2..1000 bucket cap, pair
    // dedup, levenshtein verify
    "pipe_fuzzy_join" ->
      """WITH k AS (
        |  SELECT doc_id, lower(substr(text, 1, 12)) AS s FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |v AS (
        |  SELECT DISTINCT doc_id, s,
        |    CASE WHEN i = 0 THEN s
        |         ELSE substr(s, 1, i - 1) || substr(s, i + 1) END AS var
        |  FROM (SELECT doc_id, s,
        |          unnest(generate_series(0, length(s))) AS i
        |        FROM k)),
        |ok AS (
        |  SELECT var FROM v GROUP BY 1
        |  HAVING count(*) > 1 AND count(*) <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.s AS sa, b.s AS sb
        |  FROM v a JOIN ok USING (var) JOIN v b USING (var)
        |  WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, levenshtein(sa, sb) AS dist
        |FROM cand WHERE levenshtein(sa, sb) <= 1""".stripMargin,

    // same deletion-neighborhood replay, symmetrized and ranked per doc
    // by (dist, match id) — the top-2 rollup
    "pipe_fuzzy_best_match" ->
      """WITH k AS (
        |  SELECT doc_id, lower(substr(text, 1, 12)) AS s FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |v AS (
        |  SELECT DISTINCT doc_id, s,
        |    CASE WHEN i = 0 THEN s
        |         ELSE substr(s, 1, i - 1) || substr(s, i + 1) END AS var
        |  FROM (SELECT doc_id, s,
        |          unnest(generate_series(0, length(s))) AS i
        |        FROM k)),
        |ok AS (
        |  SELECT var FROM v GROUP BY 1
        |  HAVING count(*) > 1 AND count(*) <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.s AS sa, b.s AS sb
        |  FROM v a JOIN ok USING (var) JOIN v b USING (var)
        |  WHERE a.doc_id < b.doc_id),
        |p AS (
        |  SELECT id_a, id_b, levenshtein(sa, sb) AS dist
        |  FROM cand WHERE levenshtein(sa, sb) <= 1),
        |sym AS (
        |  SELECT id_a AS doc, id_b AS match_id, dist FROM p
        |  UNION ALL
        |  SELECT id_b AS doc, id_a AS match_id, dist FROM p),
        |r AS (
        |  SELECT doc, match_id, dist, row_number() OVER (
        |    PARTITION BY doc ORDER BY dist, match_id) AS rk
        |  FROM sym)
        |SELECT doc, match_id, dist, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 2""".stripMargin,

    // the estimate's 5-sigma bound is checked on the Spark side; the
    // oracle pins the exact counts and expects every group in-bound
    "agg_approx_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_distinct,
        |  true AS within_bound
        |FROM events GROUP BY 1""".stripMargin,

    // identical to pipe_winnow_pairs: the streaming kernel must surface
    // exactly the batch candidate set (verified), micro-batches or not
    "stream_winnow_pairs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, nt,
        |    unnest(generate_series(1, greatest(length(nt) - 18, 0))) AS i
        |  FROM d WHERE length(nt) >= 19),
        |g AS (SELECT DISTINCT doc_id, substr(nt, i, 19) AS gram FROM pos)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // the in-horizon restriction of stream_winnow_pairs: event time is
    // doc_id seconds, horizon 100 s -> pairs with id_b - id_a <= 100
    // (emission filters exactly; eviction is the state bound — see
    // StreamDedup.winnowPairsStreamHorizon's contract)
    "stream_winnow_pairs_horizon" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, nt,
        |    unnest(generate_series(1, greatest(length(nt) - 18, 0))) AS i
        |  FROM d WHERE length(nt) >= 19),
        |g AS (SELECT DISTINCT doc_id, substr(nt, i, 19) AS gram FROM pos)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  AND b.doc_id - a.doc_id <= 100
        |GROUP BY 1, 2""".stripMargin,

    // Lloyd's unrolled: init (k lowest ids) -> assign -> means ->
    // assign -> means -> final assign. Distances compare the exact
    // integer numerator sum_d (v_d*n - s_d)^2 over n^2; ties break to
    // the lowest cluster index (row_number ORDER BY dist, c == Spark's
    // array_position first-minimum).
    "pipe_kmeans_exact" ->
      """WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |init AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS s,
        |    CAST(1 AS BIGINT) AS n
        |  FROM (SELECT id, v FROM e ORDER BY id LIMIT 4)),
        |a1 AS (
        |  SELECT id, v, c FROM (
        |    SELECT e.id, e.v, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, init i) WHERE rk = 1),
        |m1 AS (
        |  SELECT c, list(sd ORDER BY d) AS s, max(n) AS n FROM (
        |    SELECT a1.c, t.d, CAST(sum(a1.v[t.d]) AS BIGINT) AS sd,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM a1, unnest(range(1, 65)) AS t(d)
        |    GROUP BY a1.c, t.d) GROUP BY c),
        |c1 AS (
        |  SELECT i.c, COALESCE(m.s, i.s) AS s, COALESCE(m.n, i.n) AS n
        |  FROM init i LEFT JOIN m1 m ON i.c = m.c),
        |a2 AS (
        |  SELECT id, v, c FROM (
        |    SELECT e.id, e.v, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, c1 i) WHERE rk = 1),
        |m2 AS (
        |  SELECT c, list(sd ORDER BY d) AS s, max(n) AS n FROM (
        |    SELECT a2.c, t.d, CAST(sum(a2.v[t.d]) AS BIGINT) AS sd,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM a2, unnest(range(1, 65)) AS t(d)
        |    GROUP BY a2.c, t.d) GROUP BY c),
        |c2 AS (
        |  SELECT i.c, COALESCE(m.s, i.s) AS s, COALESCE(m.n, i.n) AS n
        |  FROM c1 i LEFT JOIN m2 m ON i.c = m.c)
        |SELECT id AS vec_id, c AS cluster FROM (
        |  SELECT e.id, i.c,
        |    row_number() OVER (PARTITION BY e.id ORDER BY
        |      CAST(list_reduce(list_transform(range(1, 65),
        |        d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |        (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |  FROM e, c2 i) WHERE rk = 1""".stripMargin,

    // cluster balancing: the pipe_kmeans_exact CTE verbatim, then a
    // per-cluster rank cap in deterministic md5-hash order
    "pipe_cluster_balance" ->
      """WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |init AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS s,
        |    CAST(1 AS BIGINT) AS n
        |  FROM (SELECT id, v FROM e ORDER BY id LIMIT 4)),
        |a1 AS (
        |  SELECT id, v, c FROM (
        |    SELECT e.id, e.v, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, init i) WHERE rk = 1),
        |m1 AS (
        |  SELECT c, list(sd ORDER BY d) AS s, max(n) AS n FROM (
        |    SELECT a1.c, t.d, CAST(sum(a1.v[t.d]) AS BIGINT) AS sd,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM a1, unnest(range(1, 65)) AS t(d)
        |    GROUP BY a1.c, t.d) GROUP BY c),
        |c1 AS (
        |  SELECT i.c, COALESCE(m.s, i.s) AS s, COALESCE(m.n, i.n) AS n
        |  FROM init i LEFT JOIN m1 m ON i.c = m.c),
        |a2 AS (
        |  SELECT id, v, c FROM (
        |    SELECT e.id, e.v, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, c1 i) WHERE rk = 1),
        |m2 AS (
        |  SELECT c, list(sd ORDER BY d) AS s, max(n) AS n FROM (
        |    SELECT a2.c, t.d, CAST(sum(a2.v[t.d]) AS BIGINT) AS sd,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM a2, unnest(range(1, 65)) AS t(d)
        |    GROUP BY a2.c, t.d) GROUP BY c),
        |c2 AS (
        |  SELECT i.c, COALESCE(m.s, i.s) AS s, COALESCE(m.n, i.n) AS n
        |  FROM c1 i LEFT JOIN m2 m ON i.c = m.c),
        |af AS (
        |  SELECT id, c FROM (
        |    SELECT e.id, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, c2 i) WHERE rk = 1)
        |SELECT vec_id, cluster, pick_rank FROM (
        |  SELECT id AS vec_id, c AS cluster,
        |    row_number() OVER (PARTITION BY c ORDER BY
        |      CAST(('0x' || substr(md5('cbal|' || CAST(id AS VARCHAR)),
        |        1, 15)) AS BIGINT) ASC, id ASC) AS pick_rank
        |  FROM af)
        |WHERE pick_rank <= 100""".stripMargin,

    // persisted IVF: the kmeans CTE over vec_id != 0, probe cells
    // ranked by exact rational distance of the grid-quantized query,
    // cosine top-10 restricted to the probed cells' members
    "pipe_ann_ivf_index" ->
      """WITH e AS (
        |  SELECT vec_id AS id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id != 0),
        |init AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS s,
        |    CAST(1 AS BIGINT) AS n
        |  FROM (SELECT id, v FROM e ORDER BY id LIMIT 4)),
        |a1 AS (
        |  SELECT id, v, c FROM (
        |    SELECT e.id, e.v, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, init i) WHERE rk = 1),
        |m1 AS (
        |  SELECT c, list(sd ORDER BY d) AS s, max(n) AS n FROM (
        |    SELECT a1.c, t.d, CAST(sum(a1.v[t.d]) AS BIGINT) AS sd,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM a1, unnest(range(1, 65)) AS t(d)
        |    GROUP BY a1.c, t.d) GROUP BY c),
        |c1 AS (
        |  SELECT i.c, COALESCE(m.s, i.s) AS s, COALESCE(m.n, i.n) AS n
        |  FROM init i LEFT JOIN m1 m ON i.c = m.c),
        |a2 AS (
        |  SELECT id, v, c FROM (
        |    SELECT e.id, e.v, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, c1 i) WHERE rk = 1),
        |m2 AS (
        |  SELECT c, list(sd ORDER BY d) AS s, max(n) AS n FROM (
        |    SELECT a2.c, t.d, CAST(sum(a2.v[t.d]) AS BIGINT) AS sd,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM a2, unnest(range(1, 65)) AS t(d)
        |    GROUP BY a2.c, t.d) GROUP BY c),
        |c2 AS (
        |  SELECT i.c, COALESCE(m.s, i.s) AS s, COALESCE(m.n, i.n) AS n
        |  FROM c1 i LEFT JOIN m2 m ON i.c = m.c),
        |af AS (
        |  SELECT id, c FROM (
        |    SELECT e.id, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, c2 i) WHERE rk = 1),
        |qg AS (
        |  SELECT list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id = 0),
        |probe AS (
        |  SELECT c FROM (
        |    SELECT i.c, row_number() OVER (ORDER BY
        |      CAST(list_reduce(list_transform(range(1, 65),
        |        d -> (qv[d]*i.n - i.s[d])*(qv[d]*i.n - i.s[d])),
        |        (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM c2 i, qg) WHERE rk <= 2),
        |q AS (
        |  SELECT embedding AS qv2 FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.id, e.embedding FROM e
        |  JOIN af ON e.id = af.id
        |  JOIN probe ON af.c = probe.c),
        |sc AS (
        |  SELECT id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(qv2[i] AS DOUBLE)))
        |      AS dp,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE)
        |         * CAST(embedding[i] AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qv2[i] AS DOUBLE) * CAST(qv2[i] AS DOUBLE)))) AS nb
        |  FROM cand, q)
        |SELECT id AS vec_id, round(dp / (na * nb), 6) AS cos
        |FROM sc ORDER BY dp / (na * nb) DESC, vec_id LIMIT 10""".stripMargin,

    // SemDeDup: the pipe_kmeans_exact CTE verbatim (same k=4, iters=2
    // assignment), then within-cluster cosine pairs; a vector is
    // dropped iff a lower-id cluster-mate clears the 0.2 threshold.
    "pipe_semdedup" ->
      """WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |init AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS s,
        |    CAST(1 AS BIGINT) AS n
        |  FROM (SELECT id, v FROM e ORDER BY id LIMIT 4)),
        |a1 AS (
        |  SELECT id, v, c FROM (
        |    SELECT e.id, e.v, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, init i) WHERE rk = 1),
        |m1 AS (
        |  SELECT c, list(sd ORDER BY d) AS s, max(n) AS n FROM (
        |    SELECT a1.c, t.d, CAST(sum(a1.v[t.d]) AS BIGINT) AS sd,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM a1, unnest(range(1, 65)) AS t(d)
        |    GROUP BY a1.c, t.d) GROUP BY c),
        |c1 AS (
        |  SELECT i.c, COALESCE(m.s, i.s) AS s, COALESCE(m.n, i.n) AS n
        |  FROM init i LEFT JOIN m1 m ON i.c = m.c),
        |a2 AS (
        |  SELECT id, v, c FROM (
        |    SELECT e.id, e.v, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, c1 i) WHERE rk = 1),
        |m2 AS (
        |  SELECT c, list(sd ORDER BY d) AS s, max(n) AS n FROM (
        |    SELECT a2.c, t.d, CAST(sum(a2.v[t.d]) AS BIGINT) AS sd,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM a2, unnest(range(1, 65)) AS t(d)
        |    GROUP BY a2.c, t.d) GROUP BY c),
        |c2 AS (
        |  SELECT i.c, COALESCE(m.s, i.s) AS s, COALESCE(m.n, i.n) AS n
        |  FROM c1 i LEFT JOIN m2 m ON i.c = m.c),
        |asg AS (
        |  SELECT id, c AS cluster FROM (
        |    SELECT e.id, i.c,
        |      row_number() OVER (PARTITION BY e.id ORDER BY
        |        CAST(list_reduce(list_transform(range(1, 65),
        |          d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
        |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM e, c2 i) WHERE rk = 1),
        |emb AS (SELECT vec_id AS id, embedding FROM embeddings),
        |p AS (
        |  SELECT a.cluster, a.id AS id_a, b.id AS id_b,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(ea.embedding[i] AS DOUBLE)
        |        * CAST(eb.embedding[i] AS DOUBLE))) AS dp,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(ea.embedding[i] AS DOUBLE)
        |        * CAST(ea.embedding[i] AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(eb.embedding[i] AS DOUBLE)
        |        * CAST(eb.embedding[i] AS DOUBLE)))) AS nb
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
        |    JOIN emb ea ON ea.id = a.id JOIN emb eb ON eb.id = b.id),
        |drops AS (
        |  SELECT DISTINCT id_b AS id FROM p WHERE dp / (na * nb) >= 0.2)
        |SELECT a.id AS vec_id, a.cluster, (d.id IS NULL) AS kept
        |FROM asg a LEFT JOIN drops d ON a.id = d.id""".stripMargin,

    // BM25: per-doc length + per-term tf in one grouped pass, corpus
    // stats (N, avgdl, df) in a scalar CTE, Lucene-floored idf; 4dp
    // per-term contributions summed as exact decimals.
    "pipe_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(lower(text), ' +')) AS t
        |  FROM documents),
        |perdoc AS (
        |  SELECT doc, count(*) AS dl,
        |    sum(CASE WHEN t = 'join' THEN 1 ELSE 0 END) AS tf0,
        |    sum(CASE WHEN t = 'hash' THEN 1 ELSE 0 END) AS tf1,
        |    sum(CASE WHEN t = 'vector' THEN 1 ELSE 0 END) AS tf2,
        |    sum(CASE WHEN t = 'spark' THEN 1 ELSE 0 END) AS tf3
        |  FROM tok WHERE t <> '' GROUP BY doc),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS BIGINT) AS sumdl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
        |    CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
        |  FROM perdoc),
        |scored AS (
        |  SELECT doc,
        |    CAST(round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |      / (tf0 + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(sumdl AS DOUBLE) / n))), 4) AS DECIMAL(18,4))
        |    + CAST(round(ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(sumdl AS DOUBLE) / n))), 4) AS DECIMAL(18,4))
        |    + CAST(round(ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(sumdl AS DOUBLE) / n))), 4) AS DECIMAL(18,4))
        |    + CAST(round(ln(1 + (n - df3 + 0.5) / (df3 + 0.5)) * tf3 * 2.2
        |      / (tf3 + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(sumdl AS DOUBLE) / n))), 4) AS DECIMAL(18,4))
        |      AS score,
        |    CAST(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
        |      + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
        |      + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END
        |      + CASE WHEN tf3 > 0 THEN 1 ELSE 0 END AS BIGINT)
        |      AS n_matched
        |  FROM perdoc, stats)
        |SELECT doc AS doc_id, CAST(score AS DOUBLE) AS score, n_matched
        |FROM scored WHERE n_matched > 0
        |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,

    "pipe_quality_classifier" ->
      s"""SELECT * FROM (VALUES
        |  $QualityClassifierGolden) AS t(doc_id, p)""".stripMargin,

    "pipe_compress_ratio" ->
      s"""SELECT * FROM (VALUES
        |  $CompressRatioGolden) AS t(doc_id, ratio)""".stripMargin,

    "pipe_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>body{color:red}</style>'
        |    || '<script>var x = 1 < 2;</script></head><body><h1>Doc</h1><p>'
        |    || text
        |    || '</p><div>&amp; &lt;tag&gt; &quot;q&#39;</div></body></html>'
        |      AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  html,
        |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |    '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'), '&#39;', chr(39), 'g'), '&amp;', '&', 'g'),
        |  '\s+', ' ', 'g')) AS clean
        |FROM h""".stripMargin,

    "pipe_triplet_mine" ->
      """WITH pairs AS (
        |  SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
        |  FROM documents a
        |  WHERE a.doc_id % 10 = 0 AND EXISTS (
        |    SELECT 1 FROM documents b WHERE b.doc_id = a.doc_id + 1)),
        |pool AS (
        |  SELECT neg FROM (
        |    SELECT doc_id AS neg,
        |      CAST(('0x' || substr(md5('neg-pool|'
        |        || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS ph
        |    FROM documents) WHERE ph % 5 = 0
        |  ORDER BY ph, neg LIMIT 1024),
        |adj AS (
        |  SELECT id_a AS anchor, id_b AS other FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |cand AS (
        |  SELECT p.anchor, pool.neg,
        |    CAST(('0x' || substr(md5('neg|'
        |      || CAST(p.anchor AS VARCHAR) || '|'
        |      || CAST(pool.neg AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT DISTINCT id_a AS anchor FROM pairs) p, pool
        |  WHERE pool.neg <> p.anchor AND NOT EXISTS (
        |    SELECT 1 FROM adj
        |    WHERE adj.anchor = p.anchor AND adj.other = pool.neg)),
        |negs AS (
        |  SELECT anchor, neg, CAST(row_number() OVER (
        |    PARTITION BY anchor ORDER BY h, neg) AS BIGINT) AS neg_rank
        |  FROM cand)
        |SELECT pr.id_a AS anchor, pr.id_b AS positive,
        |  negs.neg AS negative, neg_rank
        |FROM pairs pr JOIN negs ON negs.anchor = pr.id_a
        |WHERE neg_rank <= 2""".stripMargin,

    "pipe_length_batches" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), ' +')) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST(CAST(n >= 40 AS INTEGER) + CAST(n >= 60 AS INTEGER)
        |      + CAST(n >= 80 AS INTEGER) AS BIGINT) AS bucket
        |  FROM d),
        |r AS (
        |  SELECT doc_id, bucket,
        |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
        |      AS rk
        |  FROM b)
        |SELECT doc_id, bucket, CAST(rk AS BIGINT) AS rank_in_bucket,
        |  CAST(floor(rk / 16) AS BIGINT) AS batch_id
        |FROM r""".stripMargin,

    "pipe_chunk_docs" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    unnest(range(1, length(text) + 1, 48)) AS st
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, CAST((st - 1) / 48 AS BIGINT) AS chunk_idx,
        |  CAST(st AS BIGINT) AS start, substr(text, CAST(st AS INTEGER), 64) AS chunk
        |FROM s""".stripMargin,

    // BPE golden literals (driver-side merge loop is not expressible in
    // SQL; regenerate with tools/gen_goldens.py from a Verify dump)
    "pipe_bpe_merges" ->
      s"""SELECT * FROM (VALUES
        |  $BpeMergesGolden) AS t(rank, lhs, rhs)""".stripMargin,

    "pipe_bpe_encode" ->
      s"""SELECT * FROM (VALUES
        |  $BpeEncodeGolden) AS t(doc_id, n_tokens)""".stripMargin,

    // Bigram-LM NLL: non-empty tokens re-ranked per doc, lead() forms
    // the bigram stream, add-0.5 smoothing over the conditioning
    // vocabulary; 4dp NLL terms summed as exact decimals.
    "pipe_lm_score" ->
      s"""WITH $LmNllCtes
        |SELECT doc_id, n_bigrams, sum_nll FROM sc""".stripMargin,

    // quantile filter over the same scores: rank on the exact integer
    // mean key (1e-4-unit sum scaled by 1e6, floor-divided by the
    // count — no double rank key; see LangModel.filterByNll) with id
    // ties, keep floor(n * 0.5)
    "pipe_lm_filter" ->
      s"""WITH $LmNllCtes,
        |r AS (SELECT *, (sum_nll_units * 1000000) // n_bigrams AS nll_r
        |      FROM sc),
        |k AS (SELECT CAST(floor(count(*) * 0.5) AS BIGINT) AS keep
        |      FROM r)
        |SELECT doc_id, n_bigrams, sum_nll FROM (
        |  SELECT r.*, row_number() OVER (ORDER BY nll_r, doc_id) AS rk
        |  FROM r), k
        |WHERE rk <= keep""".stripMargin,

    "pipe_vocab_idf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), ' +')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token, count(DISTINCT doc_id) AS doc_freq,
        |    count(*) AS term_freq
        |  FROM tok WHERE length(token) > 0
        |  GROUP BY token)
        |SELECT token, doc_freq, term_freq,
        |  round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |    / doc_freq), 6) AS idf
        |FROM v WHERE doc_freq >= 5""".stripMargin,

    "pipe_split_leakage" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
        |  FROM tok WHERE len(w) >= 3),
        |mh AS (
        |  SELECT doc_id, shingles,
        |    list_transform(range(0, 8), i ->
        |      list_min(list_transform(shingles, s ->
        |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
        |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.band,
        |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
        |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
        |  FROM mh, (SELECT unnest(range(0,4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b,
        |    CAST((20000 * len(list_intersect(sa.shingles, sb.shingles))
        |        + (len(sa.shingles) + len(sb.shingles)
        |           - len(list_intersect(sa.shingles, sb.shingles))))
        |      // (2 * (len(sa.shingles) + len(sb.shingles)
        |           - len(list_intersect(sa.shingles, sb.shingles))))
        |      AS DOUBLE) / 10000 AS jaccard
        |  FROM cand
        |  JOIN sh sa ON cand.id_a = sa.doc_id
        |  JOIN sh sb ON cand.id_b = sb.doc_id)
        |SELECT id_a, id_b, jaccard,
        |  CASE WHEN CAST(('0x' || substr(md5('split|'
        |      || CAST(id_a AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 900
        |    THEN 'train' ELSE 'val' END AS split_a,
        |  CASE WHEN CAST(('0x' || substr(md5('split|'
        |      || CAST(id_b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 900
        |    THEN 'train' ELSE 'val' END AS split_b
        |FROM pairs
        |WHERE (CASE WHEN CAST(('0x' || substr(md5('split|'
        |      || CAST(id_a AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 900
        |    THEN 'train' ELSE 'val' END)
        |  <> (CASE WHEN CAST(('0x' || substr(md5('split|'
        |      || CAST(id_b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 900
        |    THEN 'train' ELSE 'val' END)""".stripMargin,

    "pipe_blocklist" ->
      """WITH pat AS (
        |  SELECT * FROM (VALUES ('spark'), ('table hash'),
        |    ('customer join')) AS p(g)),
        |ct AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |g1 AS (SELECT doc_id, unnest(w) AS g FROM ct),
        |g2 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    j -> concat(w[j], ' ', w[j+1]))) AS g
        |  FROM ct WHERE len(w) >= 2),
        |hits AS (
        |  SELECT doc_id, g FROM g1 JOIN pat USING (g)
        |  UNION ALL
        |  SELECT doc_id, g FROM g2 JOIN pat USING (g))
        |SELECT doc_id, count(*) AS n_hits,
        |  count(DISTINCT g) AS n_patterns
        |FROM hits GROUP BY doc_id""".stripMargin,

    "pipe_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(lower(text), ' +')) AS t
        |  FROM documents),
        |perdoc AS (
        |  SELECT doc, count(*) AS dl,
        |    sum(CASE WHEN t = 'join' THEN 1 ELSE 0 END) AS tf0,
        |    sum(CASE WHEN t = 'hash' THEN 1 ELSE 0 END) AS tf1,
        |    sum(CASE WHEN t = 'vector' THEN 1 ELSE 0 END) AS tf2,
        |    sum(CASE WHEN t = 'spark' THEN 1 ELSE 0 END) AS tf3
        |  FROM tok WHERE t <> '' GROUP BY doc),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS BIGINT) AS sumdl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
        |    CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
        |  FROM perdoc),
        |scored AS (
        |  SELECT doc,
        |    CAST(round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |      / (tf0 + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(sumdl AS DOUBLE) / n))), 4) AS DECIMAL(18,4))
        |    + CAST(round(ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(sumdl AS DOUBLE) / n))), 4) AS DECIMAL(18,4))
        |    + CAST(round(ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(sumdl AS DOUBLE) / n))), 4) AS DECIMAL(18,4))
        |    + CAST(round(ln(1 + (n - df3 + 0.5) / (df3 + 0.5)) * tf3 * 2.2
        |      / (tf3 + 1.2 * (0.25 + 0.75 * dl
        |        / (CAST(sumdl AS DOUBLE) / n))), 4) AS DECIMAL(18,4))
        |      AS score,
        |    CAST(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
        |      + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
        |      + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END
        |      + CASE WHEN tf3 > 0 THEN 1 ELSE 0 END AS BIGINT)
        |      AS n_matched
        |  FROM perdoc, stats),
        |lex AS (
        |  SELECT doc AS doc_id, CAST(score AS DOUBLE) AS score
        |  FROM scored WHERE n_matched > 0
        |  ORDER BY score DESC, doc_id ASC LIMIT 100),
        |q AS (
        |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |c AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |      AS dp,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE)
        |         * CAST(embedding[i] AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS nb
        |  FROM embeddings, q WHERE vec_id != 0),
        |den AS (
        |  SELECT vec_id AS doc_id, round(dp / (na * nb), 6) AS score
        |  FROM c
        |  ORDER BY round(dp / (na * nb), 6) DESC, vec_id ASC LIMIT 100),
        |lexr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
        |  FROM lex),
        |denr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
        |  FROM den),
        |u AS (
        |  SELECT doc_id,
        |    (2000000 + (60 + r)) // (2 * (60 + r)) AS contrib FROM lexr
        |  UNION ALL
        |  SELECT doc_id,
        |    (2000000 + (60 + r)) // (2 * (60 + r)) AS contrib FROM denr)
        |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_units,
        |  count(*) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY rrf_units DESC, doc_id ASC LIMIT 20""".stripMargin,

    "pipe_exact_decontam" -> ExactDecontamOracleSql,

    // the streaming guard is stateless, so its output is EXACTLY the
    // batch operator's — one oracle for both
    "stream_decontam" -> ExactDecontamOracleSql,

    // weights normalized by the corpus max before the A-ES divide
    // (scale-aware 6dp rounding), replaying the engine's exact
    // expression shape ln(u) / (weight / w_max)
    "pipe_weighted_sample" ->
      """WITH pos AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight
        |  FROM documents WHERE n_chars > 0),
        |m AS (SELECT max(weight) AS w_max FROM pos)
        |SELECT doc_id, weight,
        |  CAST(CAST(round(ln((CAST(('0x' || substr(md5('wsample|'
        |      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 + 0.5) / 1000000.0)
        |    / (weight / (SELECT w_max FROM m)), 6)
        |    AS DECIMAL(18,6)) AS DOUBLE) AS samp_key
        |FROM pos
        |ORDER BY samp_key DESC, doc_id ASC LIMIT 50""".stripMargin,

    "pipe_dsir_select" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang, unnest(list_concat(w,
        |    list_transform(range(1, len(w)),
        |      j -> concat(w[j], ' ', w[j+1])))) AS g
        |  FROM tok),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('dsir-feat|' || g), 1, 15))
        |      AS BIGINT) % 1024 AS b
        |  FROM grams),
        |counts AS (
        |  SELECT b,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
        |    count(*) AS cr
        |  FROM fb GROUP BY b),
        |tot AS (SELECT sum(ct) AS t, sum(cr) AS r FROM counts),
        |lw AS (
        |  SELECT b, CAST(round(ln((ct + 1.0) / (t + 1024))
        |    - ln((cr + 1.0) / (r + 1024)), 6) AS DECIMAL(18,6)) AS lw
        |  FROM counts, tot),
        |dw AS (
        |  SELECT doc_id, sum(lw) AS wt
        |  FROM fb JOIN lw USING (b) GROUP BY doc_id)
        |SELECT doc_id, CAST(wt AS DOUBLE) AS weight,
        |  CAST(wt + CAST(round(-ln(-ln(
        |    (CAST(('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 1000000 + 0.5) / 1000000.0)), 6)
        |    AS DECIMAL(18,6)) AS DOUBLE) AS sel_key
        |FROM dw
        |ORDER BY sel_key DESC, doc_id ASC LIMIT 50""".stripMargin,

    "pipe_top_bigrams" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(w)), j -> concat(w[j], ' ', w[j+1])))) AS bigram
        |  FROM tok WHERE len(w) >= 2)
        |SELECT bigram, count(*) AS n FROM sh GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 50""".stripMargin,

    "pipe_export_jsonl" ->
      """SELECT
        |  CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 8 AS shard,
        |  CAST(to_json(struct_pack(doc_id := doc_id, lang := lang,
        |    source := source)) AS VARCHAR) AS line
        |FROM documents""".stripMargin,

    "pipe_tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), ' +')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE length(token) > 0 GROUP BY 1, 2),
        |v AS (
        |  SELECT token, count(DISTINCT doc_id) AS df_ FROM tok
        |  WHERE length(token) > 0 GROUP BY 1),
        |idf AS (
        |  SELECT token,
        |    round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |      / df_), 6) AS idf
        |  FROM v WHERE df_ >= 2),
        |sc AS (
        |  SELECT tf.doc_id, tf.token,
        |    round(tf.tf * idf.idf, 6) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * idf.idf, 6) DESC, tf.token) AS rk
        |  FROM tf JOIN idf USING (token))
        |SELECT doc_id, rk, token, score FROM sc WHERE rk <= 3"""
        .stripMargin,

    "pipe_pii_redact" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or ' || '+1 (555) 010-'
        |      || CAST(doc_id % 10000 AS VARCHAR) || ' at 10.0.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
        |    '<IP>', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
        |    AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(t,
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones
        |FROM d""".stripMargin,

    "pipe_contamination" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, nt,
        |    unnest(generate_series(1, greatest(length(nt) - 18, 0))) AS i
        |  FROM d WHERE length(nt) >= 19),
        |g AS (SELECT DISTINCT doc_id, substr(nt, i, 19) AS gram FROM pos)
        |SELECT a.doc_id AS corpus_id, b.doc_id AS bench_id,
        |  count(*) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram
        |WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
        |GROUP BY 1, 2""".stripMargin,

    // the same substring-join replay, rolled up to one verdict row per
    // contaminated corpus doc (sum(BIGINT) is HUGEINT in DuckDB — cast
    // back to match Spark's long)
    "pipe_contamination_docs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, nt,
        |    unnest(generate_series(1, greatest(length(nt) - 18, 0))) AS i
        |  FROM d WHERE length(nt) >= 19),
        |g AS (SELECT DISTINCT doc_id, substr(nt, i, 19) AS gram FROM pos),
        |pairs AS (
        |  SELECT a.doc_id AS corpus_id, b.doc_id AS bench_id,
        |    count(*) AS n_shared
        |  FROM g a JOIN g b ON a.gram = b.gram
        |  WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
        |  GROUP BY 1, 2)
        |SELECT corpus_id,
        |  CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs,
        |  max(n_shared) AS max_shared,
        |  CAST(sum(n_shared) AS BIGINT) AS total_shared
        |FROM pairs GROUP BY 1""".stripMargin,

    "pipe_ngram_jaccard" ->
      """WITH g0 AS (
        |  SELECT doc_id, source, lang,
        |    unnest(generate_series(1, greatest(length(text) - 2, 0))) AS i,
        |    text
        |  FROM documents WHERE length(text) >= 3),
        |g AS (SELECT DISTINCT doc_id, source, lang,
        |        substr(text, i, 3) AS gram FROM g0),
        |n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS iv
        |  FROM g a JOIN g b ON a.source = b.source AND a.lang = b.lang
        |    AND a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST((20000 * iv + (na.ng + nb.ng - iv))
        |    // (2 * (na.ng + nb.ng - iv)) AS DOUBLE) / 10000 AS jaccard
        |FROM inter
        |JOIN n na ON na.doc_id = id_a
        |JOIN n nb ON nb.doc_id = id_b
        |WHERE (20000 * iv + (na.ng + nb.ng - iv))
        |    // (2 * (na.ng + nb.ng - iv)) >= 5000"""
        .stripMargin,

    // Brute-force ALL-PAIRS oracle, fully independent of the prefix
    // filter: intersections from the raw co-gram equi-join (every pair
    // sharing any 8-gram), same integer-unit contract. This is what
    // makes the gate a COMPLETENESS check — a prefix-filter bug that
    // drops a true pair hash-mismatches here. Cost is the co-gram
    // incidence mass (Σ bucket²): 4 s at sf0.01, ~90 s at sf0.1,
    // ~100× that at sf1 — CHECK_SKIP the gate at sf1+ by contract
    // (brute force is oracle-hostile past sf0.1; the operator itself
    // is the scalable path and is spec-pinned equal to brute force).
    "pipe_ppjoin" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |pos AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text) - 7)) AS i FROM d),
        |gr AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, substr(text, i, 8) AS g FROM pos),
        |nn AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS ng FROM gr GROUP BY 1),
        |iv AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS iv
        |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST((20000 * iv + (na.ng + nb.ng - iv))
        |    // (2 * (na.ng + nb.ng - iv)) AS DOUBLE) / 10000 AS jaccard
        |FROM iv JOIN nn na ON na.doc_id = id_a
        |JOIN nn nb ON nb.doc_id = id_b
        |WHERE (20000 * iv + (na.ng + nb.ng - iv))
        |    // (2 * (na.ng + nb.ng - iv)) >= 8000""".stripMargin,

    // DuckDB has no BLOB substring: slice the hex encoding instead
    // (2 hex chars per byte — slice-then-hex == hex-then-slice exactly)
    "pipe_video_frames" ->
      """SELECT d.doc_id, f.frame_idx, 16 AS width, 16 AS height,
        |  CAST((d.doc_id * 31 + f.frame_idx * 17) % 256 AS DOUBLE)
        |    AS mean_luma
        |FROM documents d
        |CROSS JOIN (VALUES (0), (2), (4)) AS f(frame_idx)
        |WHERE d.doc_id % 7 = 0
        |  AND f.frame_idx < 3 + d.doc_id % 4""".stripMargin,

    "pipe_audio_features" ->
      """SELECT doc_id,
        |  8000 AS sample_rate, 1 AS channels,
        |  160 * (1 + doc_id % 5) AS n_frames,
        |  (160 * (1 + doc_id % 5)) / 8000.0 AS duration_sec,
        |  CAST(500 + (doc_id % 50) * 7 AS DOUBLE) AS mean_abs,
        |  CAST(500 + (doc_id % 50) * 7 AS DOUBLE) AS rms,
        |  (160 * (1 + doc_id % 5)) // 4 - 1 AS zero_crossings
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,

    "pipe_corpus_clean" ->
      """WITH RECURSIVE q AS (
        |  SELECT doc_id, text, lang FROM documents
        |  WHERE length(text) >= 100
        |    AND length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
        |      / CAST(greatest(len(string_split_regex(trim(text), ' +')),
        |          1) AS DOUBLE) < 0.3),
        |fded AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(array_to_string(
        |        list_sort(list_distinct(string_split_regex(lower(text),
        |        ' +'))), ' ')) ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM fded),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
        |  FROM tok WHERE len(w) >= 3),
        |mh AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), i ->
        |      list_min(list_transform(shingles, s ->
        |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
        |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.band,
        |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
        |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
        |  FROM mh, (SELECT unnest(range(0,4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM cand
        |  UNION SELECT id_b, id_a FROM cand),
        |reach AS (
        |  SELECT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |clu AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
        |ded AS (
        |  SELECT f.doc_id, f.lang FROM fded f
        |  LEFT JOIN clu c ON f.doc_id = c.node
        |  WHERE c.cluster IS NULL OR c.cluster = f.doc_id)
        |SELECT doc_id, lang FROM ded
        |WHERE CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 1000 <
        |  CASE lang WHEN 'en' THEN 900 WHEN 'de' THEN 700
        |    WHEN 'fr' THEN 700 WHEN 'es' THEN 700 WHEN 'zh' THEN 500
        |    ELSE 0 END""".stripMargin,

    // full independent replay of the composite curation run: clean →
    // exact (md5 text, min id) dedup → the minhash/band/cluster chain
    // (same closed-form replay as pipe_corpus_clean, over the exact-
    // deduped corpus) → representative dedup → integer token/char
    // quality gates → md5 split assign → per-(split, lang) summary.
    // The partitioned-parquet export leg is value-preserving, so the
    // replay covers it by recomputing the same aggregate
    "pipe_curation_e2e" ->
      """WITH RECURSIVE cleaned AS (
        |  SELECT doc_id, text, lang FROM documents
        |  WHERE length(text) >= 100
        |    AND length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
        |      / CAST(greatest(len(string_split_regex(trim(text), ' +')),
        |          1) AS DOUBLE) < 0.3),
        |ex AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(text)
        |        ORDER BY doc_id) AS rn
        |    FROM cleaned) WHERE rn = 1),
        |tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM ex),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
        |  FROM tok WHERE len(w) >= 3),
        |mh AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), i ->
        |      list_min(list_transform(shingles, s ->
        |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
        |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.band,
        |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
        |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
        |  FROM mh, (SELECT unnest(range(0,4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM cand
        |  UNION SELECT id_b, id_a FROM cand),
        |reach AS (
        |  SELECT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |clu AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
        |ded AS (
        |  SELECT f.doc_id, f.lang, f.text FROM ex f
        |  LEFT JOIN clu c ON f.doc_id = c.node
        |  WHERE c.cluster IS NULL OR c.cluster = f.doc_id),
        |qf AS (
        |  SELECT doc_id, lang, n_tokens FROM (
        |    SELECT doc_id, lang,
        |      CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
        |        AS n_tokens,
        |      CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
        |        AS n_chars
        |    FROM ded)
        |  WHERE n_tokens >= 20 AND n_tokens <= 2000
        |    AND n_chars > n_tokens * 2 AND n_chars < n_tokens * 12),
        |spl AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CASE WHEN h < 980 THEN 'train' WHEN h < 990 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM (
        |    SELECT *, CAST(('0x' || substr(md5('split|' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS h
        |    FROM qf))
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS docid_sum,
        |  CAST(sum(n_tokens) AS BIGINT) AS token_sum
        |FROM spl GROUP BY 1, 2""".stripMargin,

    "pipe_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 1000 <
        |  CASE lang WHEN 'en' THEN 800 WHEN 'de' THEN 500
        |    WHEN 'fr' THEN 250 WHEN 'es' THEN 125 WHEN 'zh' THEN 50
        |    ELSE 0 END""".stripMargin,

    // exact-integer replay of the α=0.5 contract: sqrt grid points in
    // 1e-6 pow units via Newton-corrected isqrt (the double sqrt only
    // SEEDS the estimate; integer compares fix its ±1), k = corpus//10,
    // ppt = (2000·k·pu + z·n) // (2·z·n) — half-up in pure HUGEINT
    // arithmetic, then the integer md5 membership filter. No double
    // influences any compared value on either engine. The streaming
    // gate shares this oracle verbatim: the stream applies the same
    // stateless predicate, so its output IS the batch answer.
    "pipe_temperature_mix" -> TemperatureMixOracleSql,

    "stream_temperature_mix" -> TemperatureMixOracleSql,

    "pipe_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN h < 980 THEN 'train' WHEN h < 990 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 1000 AS h
        |  FROM documents)""".stripMargin,

    "pipe_shuffle_rank" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY
        |    CAST(('0x' || substr(md5('shuffle|' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id)
        |    AS shuffle_rank
        |FROM documents""".stripMargin,

    "pipe_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS e
        |  FROM t)
        |SELECT doc_id, n AS n_tokens,
        |  (e - n) // 512 AS window_start,
        |  greatest((e - 1) // 512, (e - n) // 512) AS window_end,
        |  (e - n) % 512 AS window_offset
        |FROM s""".stripMargin,

    "pipe_repeat_weight" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 100
        |      WHEN 'fr' THEN 150 WHEN 'es' THEN 50 WHEN 'zh' THEN 0
        |      ELSE 100 END AS pct,
        |    CAST(('0x' || substr(md5('epoch|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 100 AS u
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, lang,
        |    (pct // 100) + CASE WHEN u < pct % 100 THEN 1 ELSE 0 END AS n
        |  FROM w)
        |SELECT doc_id, lang,
        |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS rep
        |FROM n WHERE n > 0""".stripMargin,

    // the streaming kernel must surface exactly the batch band-bucket
    // candidates (the md5 family is bit-reproducible in DuckDB)
    "stream_minhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
        |  FROM tok WHERE len(w) >= 3),
        |mh AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), i ->
        |      list_min(list_transform(shingles, s ->
        |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
        |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.band,
        |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
        |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
        |  FROM mh, (SELECT unnest(range(0,4)) AS band) b)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bsig = b.bsig
        |  AND a.doc_id < b.doc_id""".stripMargin,

    // the in-horizon restriction of stream_minhash_pairs: event time is
    // doc_id seconds, horizon 100 s -> |id_b - id_a| <= 100
    "stream_minhash_pairs_horizon" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
        |  FROM tok WHERE len(w) >= 3),
        |mh AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), i ->
        |      list_min(list_transform(shingles, s ->
        |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
        |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.band,
        |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
        |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
        |  FROM mh, (SELECT unnest(range(0,4)) AS band) b)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bsig = b.bsig
        |  AND a.doc_id < b.doc_id
        |  AND b.doc_id - a.doc_id <= 100""".stripMargin,

    "pipe_ann_topk" -> AnnTopkOracleSql,
    // full-probe IVF degenerates to exact brute force
    "pipe_ann_ivf" -> AnnTopkOracleSql,

    // PQ ANN: four subspace codebooks + ADC ranking, replayed in full
    "pipe_ann_pq" -> PqAnnOracleSql,

    // int8 SQ ANN: L2-normalize, symmetric -127..127 quantization
    // against per-dim max-abs of the normalized searched set, exact
    // integer dot prescan (top 40 by (qdot, id)), float-cosine rerank
    "pipe_ann_sq" ->
      """WITH nv AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        |      AS nrm
        |  FROM embeddings),
        |mm AS (
        |  SELECT list(s ORDER BY d) AS ss FROM (
        |    SELECT t.d,
        |      max(abs(CAST(embedding[t.d] AS DOUBLE) / nrm)) AS s
        |    FROM nv, unnest(range(1, 65)) AS t(d)
        |    WHERE vec_id <> 0 GROUP BY t.d)),
        |qv AS (SELECT embedding AS q, nrm AS qnrm FROM nv
        |       WHERE vec_id = 0),
        |qq AS (
        |  SELECT list(qc ORDER BY d) AS qcs FROM (
        |    SELECT t.d, CASE WHEN ss[t.d] <= 0 THEN 0
        |      ELSE CAST(round(CAST(q[t.d] AS DOUBLE) / qnrm / ss[t.d]
        |        * 127.0) AS BIGINT) END AS qc
        |    FROM qv, mm, unnest(range(1, 65)) AS t(d))),
        |cand AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(range(1, 65), i ->
        |      (CASE WHEN ss[i] <= 0 THEN 0
        |        ELSE CAST(round(CAST(embedding[i] AS DOUBLE) / nrm
        |          / ss[i] * 127.0) AS BIGINT) END)
        |      * qcs[i])) AS qdot
        |  FROM nv, mm, qq WHERE vec_id <> 0),
        |top AS (
        |  SELECT vec_id, embedding FROM cand
        |  ORDER BY qdot DESC, vec_id ASC LIMIT 40),
        |scored AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(embedding[i] AS DOUBLE) * CAST(q[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |        CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(range(1, 65), i ->
        |        CAST(q[i] AS DOUBLE) * CAST(q[i] AS DOUBLE))))) AS cos
        |  FROM top, qv)
        |SELECT vec_id, round(cos, 6) AS cos FROM scored
        |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,

    // LSH ANN: the hyperplanes are seed-deterministic
    // (Similarity.hyperplanes(64, 4, 42)) so they are embedded as literal
    // lists — DuckDB reproduces the exact bucket assignment and top-k.
    "pipe_ann_lsh" -> {
      val planes = pipeline.Similarity.hyperplanes(64, 4, 42L)
      def lst(p: Seq[Double]) = p.map(_.toString).mkString("[", ", ", "]")
      val planeCols = planes.zipWithIndex
        .map { case (p, i) => s"${lst(p)} AS p$i" }.mkString(",\n  ")
      def dotp(i: Int) =
        s"list_sum(list_transform(range(1, 65), " +
          s"i -> CAST(embedding[i] AS DOUBLE) * p$i[i]))"
      s"""WITH p AS (SELECT $planeCols),
        |b AS (
        |  SELECT vec_id, embedding,
        |    (CASE WHEN ${dotp(0)} >= 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN ${dotp(1)} >= 0 THEN 2 ELSE 0 END)
        |  + (CASE WHEN ${dotp(2)} >= 0 THEN 4 ELSE 0 END)
        |  + (CASE WHEN ${dotp(3)} >= 0 THEN 8 ELSE 0 END) AS bucket
        |  FROM embeddings, p),
        |qq AS (SELECT embedding AS qv, bucket AS qb FROM b
        |  WHERE vec_id = 0),
        |c AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |      AS dp,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE)
        |         * CAST(embedding[i] AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS nb
        |  FROM b, qq WHERE vec_id != 0 AND bucket = qb)
        |SELECT vec_id, round(dp / (na * nb), 6) AS cos
        |FROM c ORDER BY dp / (na * nb) DESC, vec_id LIMIT 10""".stripMargin
    },

    "pipe_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT)
        |    AS byte_len,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin,

    "pipe_knn_join" ->
      """WITH v AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nbr,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(a.embedding[i] AS DOUBLE)
        |        * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |        CAST(a.embedding[i] AS DOUBLE)
        |          * CAST(a.embedding[i] AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(range(1, 65), i ->
        |        CAST(b.embedding[i] AS DOUBLE)
        |          * CAST(b.embedding[i] AS DOUBLE))))) AS cosx
        |  FROM v a JOIN v b ON a.vec_id != b.vec_id),
        |r AS (
        |  SELECT id, nbr, cosx, row_number() OVER (
        |    PARTITION BY id ORDER BY cosx DESC, nbr) AS rk
        |  FROM p)
        |SELECT id, nbr, round(cosx, 6) AS cos, CAST(rk AS INTEGER) AS rk
        |FROM r WHERE rk <= 3""".stripMargin,

    // same-pattern docs pair at hamming distance 0; cross-pattern pairs
    // are >= 8 bits apart and excluded by construction
    "pipe_image_dedup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 70)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS INTEGER) AS dist
        |FROM d a JOIN d b
        |  ON a.doc_id % 7 = b.doc_id % 7 AND a.doc_id < b.doc_id"""
        .stripMargin,

    "pipe_image_resize" ->
      """SELECT doc_id, CAST(16 AS INTEGER) AS width,
        |  CAST(16 AS INTEGER) AS height
        |FROM documents WHERE doc_id < 20""".stripMargin,

    // block-aligned patterns: grid pixel (y,x) is white iff
    // x < pattern, so feature i (row-major) is 1.0 iff i % 8 < pattern
    "pipe_image_features" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(range(0, 64), i ->
        |    printf('%.1f',
        |      CASE WHEN i % 8 < doc_id % 7 + 1 THEN 1.0 ELSE 0.0 END)),
        |    ',') AS features
        |FROM documents WHERE doc_id < 20""".stripMargin,

    "query_table" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey >= 1000 AND o_orderkey < 3000""".stripMargin,

    "pipe_embed_dedup" ->
      """WITH v AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(a.embedding[i] AS DOUBLE)
        |        * CAST(b.embedding[i] AS DOUBLE))) AS dp,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(a.embedding[i] AS DOUBLE)
        |        * CAST(a.embedding[i] AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(b.embedding[i] AS DOUBLE)
        |        * CAST(b.embedding[i] AS DOUBLE)))) AS nb
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(dp / (na * nb), 6) AS cos
        |FROM p WHERE dp / (na * nb) >= 0.2""".stripMargin,

    "geno_call_functions" ->
      """SELECT o_orderkey,
        |  CAST((o_custkey % 3) * 65536 + (o_orderkey % 3) * 2 AS INTEGER)
        |    AS call,
        |  CAST(CASE WHEN o_orderkey % 3 <= o_custkey % 3
        |    THEN (o_custkey % 3) * ((o_custkey % 3) + 1) / 2
        |         + (o_orderkey % 3)
        |    ELSE (o_orderkey % 3) * ((o_orderkey % 3) + 1) / 2
        |         + (o_custkey % 3) END AS INTEGER) AS gt,
        |  CAST(CASE WHEN o_orderkey % 3 > 0 THEN 1 ELSE 0 END +
        |       CASE WHEN o_custkey % 3 > 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS n_alt,
        |  (o_orderkey % 3) != (o_custkey % 3) AS is_het,
        |  (o_orderkey % 3) = 0 AND (o_custkey % 3) = 0 AS is_hom_ref,
        |  CAST(2 AS INTEGER) AS ploidy
        |FROM orders""".stripMargin,

    "geno_call_stats" ->
      """SELECT o_orderstatus,
        |  2 * count(*) AS an,
        |  CAST(sum((o_orderkey % 2) + (o_custkey % 2)) AS BIGINT) AS ac_alt,
        |  round(CAST(sum((o_orderkey % 2) + (o_custkey % 2)) AS DOUBLE)
        |    / (2 * count(*)), 6) AS af_alt,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 AND o_custkey % 2 = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS hom_ref,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 AND o_custkey % 2 = 1
        |    THEN 1 ELSE 0 END) AS BIGINT) AS hom_alt
        |FROM orders GROUP BY 1""".stripMargin,

    // symmetric grid → λ = 1 in closed form (rounded to absorb the
    // chi²-quantile implementation's last-ulp wiggle)
    "geno_lambda_gc" ->
      "SELECT CAST(1.0 AS DOUBLE) AS lambda_gc",

    // mirrors Alleles.alleleType's predicate order exactly (base-regex
    // gate, equal-length SNP/MNP via hamming, prefix/suffix indels)
    "geno_summarize_variants" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |v AS (SELECT DISTINCT contig, position, ref, alts FROM q),
        |ex AS (SELECT contig, ref,
        |  unnest(string_split(alts, ',')) AS a FROM v),
        |typ AS (SELECT
        |  CASE
        |    WHEN NOT regexp_matches(ref, '^[ACGTNM]+$$') THEN 'Unknown'
        |    WHEN regexp_matches(a, '^[ACGTNM]+$$') THEN
        |      CASE
        |        WHEN len(ref) = len(a) THEN
        |          CASE WHEN len(ref) = 1 THEN
        |            (CASE WHEN ref != a THEN 'SNP' ELSE 'Unknown' END)
        |          ELSE (CASE WHEN len(list_filter(range(1, len(ref) + 1),
        |              i -> substr(ref, CAST(i AS INTEGER), 1)
        |                != substr(a, CAST(i AS INTEGER), 1))) = 1
        |            THEN 'SNP' ELSE 'MNP' END) END
        |        WHEN len(ref) < len(a) AND substr(ref, 1, 1) = substr(a, 1, 1)
        |          AND ends_with(a, substr(ref, 2)) THEN 'Insertion'
        |        WHEN substr(ref, 1, 1) = substr(a, 1, 1)
        |          AND ends_with(ref, substr(a, 2)) THEN 'Deletion'
        |        ELSE 'Complex' END
        |    WHEN a = '*' THEN 'Star'
        |    WHEN regexp_matches(a,
        |      '(^\\.)|(\\.$$)|(^<)|(>$$)|(\\[)|(\\])') THEN 'Symbolic'
        |    ELSE 'Unknown' END AS key
        |  FROM ex)
        |SELECT 'contigs' AS stat, contig AS key, count(*) AS n
        |FROM v GROUP BY contig
        |UNION ALL
        |SELECT 'allele_types', key, count(*) FROM typ GROUP BY key
        |UNION ALL
        |SELECT 'n_alleles',
        |  CAST(len(string_split(alts, ',')) + 1 AS VARCHAR), count(*)
        |FROM v GROUP BY 2""".stripMargin
    },

    "geno_hwe" ->
      """WITH c AS (SELECT
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 AND o_custkey % 2 = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_ref,
        |  CAST(sum(CASE WHEN o_orderkey % 2 != o_custkey % 2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 AND o_custkey % 2 = 1
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_var
        | FROM orders),
        |e AS (SELECT n_hom_ref, n_het, n_hom_var,
        |  CAST(n_hom_ref + n_het + n_hom_var AS DOUBLE) AS n,
        |  (2.0 * n_hom_ref + n_het)
        |    / (2.0 * (n_hom_ref + n_het + n_hom_var)) AS p
        | FROM c)
        |SELECT n_hom_ref, n_het, n_hom_var,
        |  round(2.0 * p * (1.0 - p) * n / n, 6) AS het_freq,
        |  round(pow(n_hom_ref - p * p * n, 2) / (p * p * n)
        |    + pow(n_het - 2.0 * p * (1.0 - p) * n, 2)
        |      / (2.0 * p * (1.0 - p) * n)
        |    + pow(n_hom_var - (1.0 - p) * (1.0 - p) * n, 2)
        |      / ((1.0 - p) * (1.0 - p) * n), 6) AS chi_sq_stat
        |FROM e""".stripMargin,

    "agg_product" ->
      """SELECT l_returnflag, round(product(1.0 + l_discount), 6)
        |    AS prod_disc,
        |  count(*) AS n
        |FROM lineitem WHERE l_orderkey < 200 GROUP BY 1""".stripMargin,

    "agg_corr" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS r,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    "agg_impute_type" ->
      """SELECT 'int64' AS t_int, 'float64' AS t_float,
        |  'string' AS t_str, 'boolean' AS t_bool""".stripMargin,

    "agg_linreg" ->
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
        |FROM s""".stripMargin,

    "rand_seeded" ->
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
        |  (20, 0.714944, -0.47328278, 4)) t(key, u, z, k)""".stripMargin,

    // bottom-2 of {F,O,P} by FNV-1a(seed=42): O < F < P (precomputed)
    "agg_sample" ->
      """SELECT 'O' AS v UNION ALL SELECT 'F' AS v""".stripMargin,

    "stream_lang_profile" ->
      """WITH w AS (
        |  SELECT text,
        |    string_split_regex(lower(text), ' +') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT *,
        |    len(list_intersect(toks,
        |      ['the','and','of','to','is','in','that','with'])) AS s_en,
        |    len(list_intersect(toks,
        |      ['der','die','das','und','ist','nicht','ein','mit'])) AS s_de,
        |    len(list_intersect(toks,
        |      ['le','la','les','et','est','une','dans','pour'])) AS s_fr,
        |    len(list_intersect(toks,
        |      ['el','los','las','es','una','que','por','como'])) AS s_es,
        |    length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g'))
        |      AS cjk
        |  FROM w),
        |langs AS (
        |  SELECT
        |    CASE WHEN cjk > length(text) * 0.2 THEN 'zh'
        |         WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
        |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
        |           THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr'
        |         ELSE 'es' END AS pred_lang,
        |    len(string_split_regex(trim(text), ' +')) AS n_toks
        |  FROM sc)
        |SELECT pred_lang, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |FROM langs GROUP BY 1""".stripMargin,

    "pipe_langid_quality" ->
      """WITH w AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(lower(text), ' +') AS toks,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        |      AS DOUBLE) / greatest(length(text), 1) AS pr,
        |    CAST(length(regexp_replace(text, ' +', '', 'g')) AS DOUBLE)
        |      / greatest(len(string_split_regex(trim(text), ' +')), 1) AS mwl
        |  FROM documents),
        |sc AS (
        |  SELECT *,
        |    len(list_intersect(toks,
        |      ['the','and','of','to','is','in','that','with'])) AS s_en,
        |    len(list_intersect(toks,
        |      ['der','die','das','und','ist','nicht','ein','mit'])) AS s_de,
        |    len(list_intersect(toks,
        |      ['le','la','les','et','est','une','dans','pour'])) AS s_fr,
        |    len(list_intersect(toks,
        |      ['el','los','las','es','una','que','por','como'])) AS s_es,
        |    length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g'))
        |      AS cjk
        |  FROM w)
        |SELECT doc_id, lang,
        |  CASE WHEN cjk > length(text) * 0.2 THEN 'zh'
        |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
        |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS pred_lang,
        |  round(least(length(text) / 500.0, 1.0) * 0.4
        |    + (CASE WHEN pr < 0.1 THEN 1.0 ELSE 0.3 END) * 0.3
        |    + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.2 END)
        |      * 0.3, 4) AS quality,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]'))
        |    AS n_subwords
        |FROM sc""".stripMargin,

    "pipe_simhash_pairs" -> {
      val bitSums = (0 until 60).map(b =>
        s"sum((hv >> $b) & 1) AS b$b").mkString(",\n        ")
      val sig = (0 until 60).map(b =>
        s"(CASE WHEN b$b * 2 > n THEN ${1L << b} ELSE 0 END)")
        .mkString(" +\n        ")
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(lower(text), ' +'))) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(string_split(
        |        substring(md5(t), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS hv
        |  FROM tok),
        |v AS (
        |  SELECT doc_id, count(*) AS n,
        |        $bitSums
        |  FROM h GROUP BY doc_id),
        |sg AS (
        |  SELECT doc_id,
        |        $sig AS sig
        |  FROM v)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.sig, b.sig)) AS dist
        |FROM sg a JOIN sg b
        |  ON (a.sig >> 48) = (b.sig >> 48) AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 16""".stripMargin
    },

    "agg_downsample" ->
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
        |WHERE rn = 1""".stripMargin,

    "geno_simulate_mating" ->
      // golden: deterministic seeded pedigree + counter-based
      // transmission (regenerate by re-running the gate and pasting —
      // see verify skill notes)
      """SELECT t.s, t.original,
        |  CAST(t.mother AS INTEGER) AS mother,
        |  CAST(t.father AS INTEGER) AS father,
        |  CAST(t.n_called AS BIGINT) AS n_called,
        |  CAST(t.ac AS BIGINT) AS ac
        |FROM (VALUES
        |  ('generation_0_idx_0', 'S1', NULL, NULL, 23, 19),
        |  ('generation_0_idx_1', 'S2', NULL, NULL, 27, 30),
        |  ('generation_0_idx_2', 'S3', NULL, NULL, 28, 23),
        |  ('generation_0_idx_3', 'S4', NULL, NULL, 30, 27),
        |  ('generation_0_idx_4', 'S5', NULL, NULL, 28, 24),
        |  ('generation_1_idx_0', NULL, 2, 2, 28, 20),
        |  ('generation_1_idx_1', NULL, 4, 4, 28, 28),
        |  ('generation_1_idx_2', NULL, 1, 0, 20, 15),
        |  ('generation_1_idx_3', NULL, 4, 1, 26, 27),
        |  ('generation_1_idx_4', NULL, 2, 1, 25, 27))
        |  AS t(s, original, mother, father, n_called, ac)""".stripMargin,

    "matrix_rename_duplicates" ->
      """SELECT * FROM (VALUES ('A','A'),('B','B'),('A','A_1'),
        |  ('B','B_1'),('A','A_2'),('C','C'),('A','A_3'))
        |  AS t(s, unique_id)""".stripMargin,

    "table_segment_intervals" ->
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
        |FROM cut""".stripMargin,

    "fn_contingency" ->
      // golden (DuckDB lacks chi-sq/hypergeometric tails); Fisher p for
      // (6,2,1,7) cross-checked against R fisher.test = 0.040559
      """SELECT CAST(t.k AS INTEGER) AS k, CAST(t.a AS INTEGER) AS a,
        |  CAST(t.b AS INTEGER) AS b, CAST(t.c AS INTEGER) AS c,
        |  CAST(t.d AS INTEGER) AS d,
        |  CAST(t.p_value AS DOUBLE) AS p_value,
        |  CAST(t.odds_ratio AS DOUBLE) AS odds_ratio
        |FROM (VALUES
        |  (0, 0, 1, 1, 0, 1.0, 0.0),
        |  (1, 1, 2, 2, 3, 1.0, 0.777218),
        |  (2, 2, 3, 3, 6, 1.0, 1.305821),
        |  (3, 3, 4, 1, 9, 0.25, 5.962888),
        |  (4, 4, 5, 2, 1, 1.0, 0.43179),
        |  (5, 5, 1, 3, 4, 0.265734, 5.69964),
        |  (6, 6, 2, 1, 7, 0.040559, 16.195701),
        |  (7, 0, 3, 2, 10, 1.0, 0.0),
        |  (8, 1, 4, 3, 2, 0.52381, 0.203319),
        |  (9, 2, 5, 1, 5, 1.0, 1.897935),
        |  (10, 3, 1, 2, 8, 0.094905, 9.512917),
        |  (11, 4, 2, 3, 0, 0.5, 0.0),
        |  (12, 5, 3, 1, 3, 0.545455, 4.341073),
        |  (13, 6, 4, 2, 6, 0.187988, 4.11458),
        |  (14, 0, 5, 3, 9, 0.514706, 0.0),
        |  (15, 1, 1, 1, 1, 1.0, 1.0),
        |  (16, 2, 2, 2, 4, 1.0, 1.861927),
        |  (17, 3, 3, 3, 7, 0.423711, 2.333333),
        |  (18, 4, 4, 1, 10, 0.110767, 8.709692),
        |  (19, 5, 5, 2, 2, 1.0, 1.0))
        |  AS t(k, a, b, c, d, p_value, odds_ratio)""".stripMargin,

    "fn_revcomp" ->
      """SELECT p_partkey,
        |  reverse(translate(upper(p_name), 'ATGCatgc', 'TACGtacg'))
        |    AS rc_dna,
        |  reverse(translate(p_name, 'AUTGCautgc', 'UAACGuaacg'))
        |    AS rc_rna
        |FROM part WHERE p_partkey < 50""".stripMargin,

    "vcf_metadata" ->
      s"""SELECT
        |  regexp_extract(line,
        |    '##(INFO|FORMAT|FILTER)=<ID=([^,>]+)', 1) AS section,
        |  regexp_extract(line,
        |    '##(INFO|FORMAT|FILTER)=<ID=([^,>]+)', 2) AS id,
        |  NULLIF(regexp_extract(line, ',Number=([^,>]+)', 1), '')
        |    AS number,
        |  NULLIF(regexp_extract(line, ',Type=([^,>]+)', 1), '') AS type,
        |  NULLIF(regexp_extract(line, ',Description="([^"]*)"', 1), '')
        |    AS description
        |FROM read_csv('$VcfFixture', delim='', header=false, quote='',
        |  columns={'line':'VARCHAR'})
        |WHERE line LIKE '##INFO=%' OR line LIKE '##FORMAT=%'
        |  OR line LIKE '##FILTER=%'""".stripMargin,

    "table_import_lines" ->
      s"""SELECT line AS text
        |FROM read_csv('$VcfFixture', delim='', header=false, quote='',
        |  columns={'line':'VARCHAR'})""".stripMargin,

    "qc_compute_charr" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |kept AS (
        |  SELECT s,
        |    ((dp - CAST(floor(dp * 2 / 3.0) AS INTEGER))
        |       / CAST(dp AS DOUBLE))
        |      / (CAST(position % 100 AS DOUBLE) / 100.0) AS ratio
        |  FROM q
        |  WHERE a1 = a2 AND a1 > 0
        |    AND (15 + position % 10) >= 20
        |    AND dp BETWEEN 10 AND 100
        |    AND length(ref) = 1 AND length(alts) = 1
        |    AND CAST(position % 100 AS DOUBLE) / 100.0 > 0.05
        |    AND CAST(position % 100 AS DOUBLE) / 100.0 < 0.95),
        |ids AS (SELECT DISTINCT s FROM q)
        |SELECT ids.s, round(avg(kept.ratio), 6) AS charr
        |FROM ids LEFT JOIN kept ON ids.s = kept.s
        |GROUP BY ids.s""".stripMargin
    },

    "qc_sample_qc" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |ac AS (
        |  SELECT contig, position,
        |    sum(CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN a2 = 1 THEN 1 ELSE 0 END) AS ac1
        |  FROM q GROUP BY 1, 2),
        |j AS (
        |  SELECT q.*, ac.ac1,
        |    (ref || '>' || alts) IN ('A>G','G>A','C>T','T>C') AS is_ti
        |  FROM q JOIN ac USING (contig, position))
        |SELECT s,
        |  count(a1) AS n_called,
        |  count(*) - count(a1) AS n_not_called,
        |  CAST(0 AS BIGINT) AS n_filtered,
        |  round(CAST(count(a1) AS DOUBLE) / count(*), 6) AS call_rate,
        |  CAST(sum(CASE WHEN a1 = 0 AND a2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hom_ref,
        |  CAST(sum(CASE WHEN a1 <> a2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_het,
        |  CAST(sum(CASE WHEN a1 = 1 AND a2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hom_var,
        |  CAST(sum(CASE WHEN a1 <> a2 OR (a1 = 1 AND a2 = 1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_non_ref,
        |  CAST(sum(CASE WHEN a1 = 1 AND ac1 = 1 THEN 1 ELSE 0 END
        |    + CASE WHEN a2 = 1 AND ac1 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_singleton,
        |  CAST(sum(CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |    + CASE WHEN a2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_snp,
        |  CAST(sum((CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |    + CASE WHEN a2 = 1 THEN 1 ELSE 0 END)
        |    * CASE WHEN is_ti THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_transition,
        |  CAST(sum((CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |    + CASE WHEN a2 = 1 THEN 1 ELSE 0 END)
        |    * CASE WHEN is_ti THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_transversion,
        |  CAST(0 AS BIGINT) AS n_insertion,
        |  CAST(0 AS BIGINT) AS n_deletion,
        |  round(CAST(sum((CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN a2 = 1 THEN 1 ELSE 0 END)
        |      * CASE WHEN is_ti THEN 1 ELSE 0 END) AS DOUBLE)
        |    / NULLIF(sum((CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN a2 = 1 THEN 1 ELSE 0 END)
        |      * CASE WHEN is_ti THEN 0 ELSE 1 END), 0), 6) AS r_ti_tv,
        |  round(avg(dp), 6) AS dp_mean,
        |  round(stddev_pop(dp), 6) AS dp_stdev,
        |  min(dp) AS dp_min,
        |  max(dp) AS dp_max
        |FROM j GROUP BY s""".stripMargin
    },

    "qc_variant_qc" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base
        |SELECT contig, position, ref, alts,
        |  CAST(sum(CASE WHEN a1 = 0 THEN 1 ELSE 0 END
        |    + CASE WHEN a2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ac_ref,
        |  CAST(sum(CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |    + CASE WHEN a2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ac_alt,
        |  2 * count(a1) AS an,
        |  round(CAST(sum(CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN a2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / (2 * count(a1)), 6) AS af_alt,
        |  CAST(sum(CASE WHEN a1 = 0 AND a2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hom_ref,
        |  CAST(sum(CASE WHEN a1 = 1 AND a2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hom_alt,
        |  round(CAST(count(a1) AS DOUBLE) / 5, 6) AS call_rate,
        |  count(a1) AS n_called,
        |  count(*) - count(a1) AS n_not_called,
        |  CAST(0 AS BIGINT) AS n_filtered,
        |  CAST(sum(CASE WHEN a1 <> a2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_het,
        |  CAST(sum(CASE WHEN a1 <> a2 OR (a1 = 1 AND a2 = 1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_non_ref
        |FROM q GROUP BY 1, 2, 3, 4""".stripMargin
    },

    "geno_filter_alleles" -> {
      val base = vcfParseCte(VcfMultiFixture, 4, (1 to 4).map(i => s"T$i"))
      s"""WITH $base,
        |va AS (SELECT contig, position, ref, string_split(alts, ',') AS al
        |  FROM raw),
        |k AS (SELECT contig, position, ref, al,
        |    list_filter(range(1, len(al) + 1),
        |      i -> len(al[i]) = 1 AND len(ref) = 1 AND al[i] <> ref) AS kept
        |  FROM va)
        |SELECT contig, position, ref,
        |  array_to_string(list_transform(kept, i -> al[i]), ',') AS alts,
        |  position AS old_position,
        |  array_to_string(al, ',') AS old_alts,
        |  '0,' || array_to_string(list_transform(range(1, len(al) + 1),
        |    i -> CASE WHEN len(al[i]) = 1 AND len(ref) = 1 AND al[i] <> ref
        |      THEN CAST(len(list_filter(kept, k2 -> k2 <= i)) AS VARCHAR)
        |      ELSE '.' END), ',') AS o2n,
        |  '0,' || array_to_string(kept, ',') AS n2o
        |FROM k WHERE len(kept) > 0""".stripMargin
    },

    "geno_filter_alleles_hts" -> {
      val base = vcfParseCte(VcfMultiFixture, 4, (1 to 4).map(i => s"T$i"))
      s"""WITH $base,
        |va AS (SELECT contig, position, ref, string_split(alts, ',') AS al
        |  FROM raw),
        |vr AS (SELECT contig, position, ref, al,
        |    list_filter(range(1, len(al) + 1),
        |      i -> len(al[i]) = 1 AND len(ref) = 1 AND al[i] <> ref)
        |      AS kept,
        |    len(al) + 1 AS n_old,
        |    ((len(al) + 1) * (len(al) + 2)) // 2 AS t_old
        |  FROM va),
        |vr2 AS (SELECT contig, position, ref, al, kept, n_old, t_old,
        |    len(kept) + 1 AS n_new,
        |    ((len(kept) + 1) * (len(kept) + 2)) // 2 AS t_new,
        |    list_prepend(CAST(0 AS BIGINT), kept) AS n2o,
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(al) + 1),
        |        i -> CASE WHEN len(al[i]) = 1 AND len(ref) = 1
        |            AND al[i] <> ref
        |          THEN len(list_filter(kept, k2 -> k2 <= i))
        |          ELSE 0 END)) AS o2n,
        |    array_to_string(list_transform(kept, i -> al[i]), ',')
        |      AS new_alts
        |  FROM vr WHERE len(kept) > 0),
        |gp(g, pi, pj) AS (VALUES (0,0,0),(1,0,1),(2,1,1),(3,0,2),(4,1,2),
        |  (5,2,2),(6,0,3),(7,1,3),(8,2,3),(9,3,3)),
        |gtm AS (
        |  SELECT vr2.contig, vr2.position, gp.g AS og,
        |    greatest(o2n[gp.pi+1], o2n[gp.pj+1])
        |      * (greatest(o2n[gp.pi+1], o2n[gp.pj+1]) + 1) // 2
        |      + least(o2n[gp.pi+1], o2n[gp.pj+1]) AS ng
        |  FROM vr2 JOIN gp ON gp.g < vr2.t_old),
        |gtmapl AS (SELECT contig, position, list(ng ORDER BY og) AS gtmap
        |  FROM gtm GROUP BY 1, 2),
        |subm AS (
        |  SELECT vr2.contig, vr2.position, gp.g AS ng,
        |    n2o[gp.pj+1] * (n2o[gp.pj+1] + 1) // 2 + n2o[gp.pi+1] AS og
        |  FROM vr2 JOIN gp ON gp.g < vr2.t_new),
        |subml AS (SELECT contig, position, list(og ORDER BY ng) AS smap
        |  FROM subm GROUP BY 1, 2),
        |e0 AS (
        |  SELECT vr2.*, gtmapl.gtmap, subml.smap, q.s, q.a1, q.a2, q.dp,
        |    CASE WHEN q.a1 IS NULL THEN NULL
        |      ELSE greatest(q.a1, q.a2) * (greatest(q.a1, q.a2) + 1) // 2
        |        + least(q.a1, q.a2) END AS gi
        |  FROM vr2
        |  JOIN gtmapl USING (contig, position)
        |  JOIN subml USING (contig, position)
        |  JOIN q ON vr2.contig = q.contig AND vr2.position = q.position),
        |e1 AS (
        |  SELECT *,
        |    CASE WHEN gi IS NULL THEN NULL ELSE
        |      list_transform(range(0, t_old), g -> CASE WHEN g = gi THEN 0
        |        ELSE (dp * 7 + g * 13) % 50 + 10 END) END AS pl0,
        |    CASE WHEN gi IS NULL THEN NULL ELSE
        |      list_transform(range(0, n_old), i -> (dp * 3 + i * 5) % 40)
        |      END AS ad0
        |  FROM e0),
        |down AS (
        |  SELECT contig, position, ref, new_alts AS alts, s,
        |    CASE WHEN a1 IS NULL THEN NULL
        |      ELSE CAST(least(o2n[a1+1], o2n[a2+1]) AS INTEGER) END AS a1,
        |    CASE WHEN a1 IS NULL THEN NULL
        |      ELSE CAST(greatest(o2n[a1+1], o2n[a2+1]) AS INTEGER)
        |      END AS a2,
        |    CASE WHEN ad0 IS NULL THEN NULL ELSE
        |      array_to_string(list_transform(range(0, n_new), newi ->
        |        list_sum(list_transform(
        |          list_filter(range(0, n_old), oldi -> o2n[oldi+1] = newi),
        |          oldi -> ad0[oldi+1]))), ',') END AS ad,
        |    dp,
        |    CASE WHEN pl0 IS NULL THEN NULL ELSE
        |      list_transform(range(0, t_new), g ->
        |        list_min(list_transform(
        |          list_filter(range(0, t_old), og -> gtmap[og+1] = g),
        |          og -> pl0[og+1]))) END AS plx,
        |    'down' AS tag
        |  FROM e1),
        |sub0 AS (
        |  SELECT contig, position, ref, new_alts AS alts, s, dp, n2o,
        |    n_new, t_new, ad0, smap, pl0,
        |    CASE WHEN pl0 IS NULL THEN NULL ELSE
        |      list_transform(range(0, t_new), g -> pl0[smap[g+1]+1])
        |      END AS plu
        |  FROM e1),
        |sub1 AS (
        |  SELECT contig, position, ref, alts, s, dp, n2o, n_new, t_new,
        |    ad0,
        |    CASE WHEN plu IS NULL THEN NULL ELSE
        |      list_transform(plu, x -> x - list_min(plu)) END AS plx
        |  FROM sub0),
        |sub2 AS (
        |  SELECT *, CASE WHEN plx IS NULL THEN NULL ELSE
        |      list_filter(range(0, t_new), g -> plx[g+1] = 0) END AS zeros
        |  FROM sub1),
        |sub AS (
        |  SELECT sub2.contig, sub2.position, sub2.ref, sub2.alts, sub2.s,
        |    CASE WHEN zeros IS NULL OR len(zeros) <> 1 THEN NULL
        |      ELSE CAST(gp.pi AS INTEGER) END AS a1,
        |    CASE WHEN zeros IS NULL OR len(zeros) <> 1 THEN NULL
        |      ELSE CAST(gp.pj AS INTEGER) END AS a2,
        |    CASE WHEN ad0 IS NULL THEN NULL ELSE
        |      array_to_string(list_transform(range(0, n_new),
        |        i -> ad0[n2o[i+1]+1]), ',') END AS ad,
        |    dp, plx, 'sub' AS tag
        |  FROM sub2 LEFT JOIN gp
        |    ON len(sub2.zeros) = 1 AND gp.g = sub2.zeros[1])
        |SELECT contig, position, ref, alts, s, a1, a2, ad, dp,
        |  CASE WHEN plx IS NULL THEN NULL ELSE
        |    CAST(list_sort(plx)[2] - list_sort(plx)[1] AS INTEGER)
        |    END AS gq,
        |  CASE WHEN plx IS NULL THEN NULL
        |    ELSE array_to_string(plx, ',') END AS pl,
        |  tag
        |FROM down
        |UNION ALL
        |SELECT contig, position, ref, alts, s, a1, a2, ad, dp,
        |  CASE WHEN plx IS NULL THEN NULL ELSE
        |    CAST(list_sort(plx)[2] - list_sort(plx)[1] AS INTEGER)
        |    END AS gq,
        |  CASE WHEN plx IS NULL THEN NULL
        |    ELSE array_to_string(plx, ',') END AS pl,
        |  tag
        |FROM sub""".stripMargin
    },

    "split_multi" -> {
      val base = vcfParseCte(VcfMultiFixture, 4, (1 to 4).map(i => s"T$i"))
      s"""WITH $base,
        |x AS (
        |  SELECT contig, position, ref, string_split(alts, ',') AS alist,
        |    s, a1, a2, dp, i.i AS a_index
        |  FROM q, (SELECT unnest(range(1, 4)) AS i) i
        |  WHERE i.i <= len(string_split(alts, ',')))
        |SELECT contig, position, ref, alist[a_index] AS alt,
        |  CAST(a_index AS INTEGER) AS a_index,
        |  len(alist) > 1 AS was_split, s,
        |  CASE WHEN a1 IS NULL THEN NULL
        |    WHEN a1 = a_index THEN 1 ELSE 0 END AS a1,
        |  CASE WHEN a2 IS NULL THEN NULL
        |    WHEN a2 = a_index THEN 1 ELSE 0 END AS a2,
        |  dp
        |FROM x""".stripMargin
    },

    // full independent replay of the composite pipeline: split rows →
    // per-sample call rate (cols kept) → per-variant alt AC over ALL
    // samples, reference ordering: variant_qc precedes filter_cols →
    // rows kept → DP entry gate (indel 20 / SNV 10) → final aggregate.
    // The write/read-back leg is value-preserving by contract, so the
    // replay covers it by recomputing the same aggregate
    "genetics_pipeline" -> {
      val base = vcfParseCte(VcfMultiFixture, 4, (1 to 4).map(i => s"T$i"))
      s"""WITH $base,
        |x AS (
        |  SELECT contig, position, ref, string_split(alts, ',') AS alist,
        |    s, a1, a2, dp, i.i AS a_index
        |  FROM q, (SELECT unnest(range(1, 4)) AS i) i
        |  WHERE i.i <= len(string_split(alts, ','))),
        |sp AS (
        |  SELECT contig, position, ref, alist[a_index] AS alt,
        |    CAST(a_index AS INTEGER) AS a_index,
        |    len(alist) > 1 AS was_split, s,
        |    CASE WHEN a1 IS NULL THEN NULL
        |      WHEN a1 = a_index THEN 1 ELSE 0 END AS a1,
        |    CASE WHEN a2 IS NULL THEN NULL
        |      WHEN a2 = a_index THEN 1 ELSE 0 END AS a2,
        |    dp
        |  FROM x),
        |keeps AS (
        |  SELECT s FROM sp GROUP BY s
        |  HAVING CAST(count(a1) AS DOUBLE) / count(*) > 0.8),
        |keptrows AS (
        |  SELECT contig, position, ref, alt, a_index FROM sp
        |  GROUP BY 1, 2, 3, 4, 5
        |  HAVING sum(CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |    + CASE WHEN a2 = 1 THEN 1 ELSE 0 END) > 2),
        |e AS (
        |  SELECT sp.* FROM sp
        |  JOIN keeps USING (s)
        |  JOIN keptrows USING (contig, position, ref, alt, a_index)
        |  WHERE sp.a1 IS NOT NULL
        |    AND CASE WHEN length(ref) <> length(alt)
        |      THEN dp > 20 ELSE dp > 10 END)
        |SELECT contig, position, ref, alt, a_index, was_split,
        |  count(*) AS n_kept,
        |  CAST(sum(dp) AS BIGINT) AS dp_sum,
        |  CAST(sum(a1 + a2) AS BIGINT) AS ac_kept
        |FROM e GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
    },

    "linreg_rows" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |imp AS (
        |  SELECT contig, position, ref, alts,
        |    coalesce(CAST(a1 + a2 AS DOUBLE),
        |      avg(CAST(a1 + a2 AS DOUBLE))
        |        OVER (PARTITION BY contig, position)) AS x,
        |    CAST(substr(s, 2, 10) AS DOUBLE) AS y
        |  FROM q),
        |g AS (
        |  SELECT contig, position, ref, alts,
        |    count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        |  FROM imp GROUP BY 1, 2, 3, 4),
        |f AS (
        |  SELECT *,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
        |    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |      AS alpha
        |  FROM g)
        |SELECT contig, position, ref, alts, n,
        |  round(beta, 6) AS beta,
        |  round(sqrt(greatest((syy - beta * sxy - alpha * sy) / (n - 2), 0)
        |    * n / (n * sxx - sx * sx)), 6) AS standard_error,
        |  round(beta / sqrt(greatest((syy - beta * sxy - alpha * sy)
        |      / (n - 2), 0) * n / (n * sxx - sx * sx)), 4) AS t_stat
        |FROM f""".stripMargin
    },

    // each y fits independently with the shared x — the same simple-
    // regression closed form per (variant, y index)
    "linreg_rows_multi" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |imp AS (
        |  SELECT contig, position, ref, alts,
        |    coalesce(CAST(a1 + a2 AS DOUBLE),
        |      avg(CAST(a1 + a2 AS DOUBLE))
        |        OVER (PARTITION BY contig, position)) AS x,
        |    CAST(substr(s, 2, 10) AS DOUBLE) AS y1
        |  FROM q),
        |ys AS (
        |  SELECT contig, position, ref, alts, x,
        |    CAST(0 AS INTEGER) AS y_idx, y1 AS y FROM imp
        |  UNION ALL
        |  SELECT contig, position, ref, alts, x,
        |    CAST(1 AS INTEGER), y1 * y1 FROM imp),
        |g AS (
        |  SELECT contig, position, ref, alts, y_idx,
        |    count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        |  FROM ys GROUP BY 1, 2, 3, 4, 5),
        |f AS (
        |  SELECT *,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
        |    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |      AS alpha
        |  FROM g)
        |SELECT contig, position, ref, alts, n, y_idx,
        |  round(beta, 6) AS beta,
        |  round(sqrt(greatest((syy - beta * sxy - alpha * sy) / (n - 2), 0)
        |    * n / (n * sxx - sx * sx)), 6) AS standard_error,
        |  round(beta / sqrt(greatest((syy - beta * sxy - alpha * sy)
        |      / (n - 2), 0) * n / (n * sxx - sx * sx)), 4) AS t_stat
        |FROM f""".stripMargin
    },

    // identity-kinship LMM == OLS: same closed form as linreg_rows with
    // chi_sq = t^2
    "lmm_rows" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |imp AS (
        |  SELECT contig, position, ref, alts,
        |    coalesce(CAST(a1 + a2 AS DOUBLE),
        |      avg(CAST(a1 + a2 AS DOUBLE))
        |        OVER (PARTITION BY contig, position)) AS x,
        |    CAST(substr(s, 2, 10) AS DOUBLE) AS y
        |  FROM q),
        |g AS (
        |  SELECT contig, position, ref, alts,
        |    count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        |  FROM imp GROUP BY 1, 2, 3, 4),
        |f AS (
        |  SELECT *,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
        |    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |      AS alpha
        |  FROM g)
        |SELECT contig, position, ref, alts,
        |  round(beta, 6) AS beta,
        |  round(beta * beta / (greatest((syy - beta * sxy - alpha * sy)
        |      / (n - 2), 0) * n / (n * sxx - sx * sx)), 4) AS chi_sq
        |FROM f""".stripMargin
    },

    "linalg_grm" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, s, CAST(a1 + a2 AS DOUBLE) AS dose
        |  FROM q),
        |st AS (
        |  SELECT contig, position, sum(dose) AS ac, count(dose) AS nc
        |  FROM d GROUP BY 1, 2),
        |f AS (
        |  SELECT d.contig, d.position,
        |    CAST(substr(d.s, 2, 10) AS INTEGER) - 1 AS idx,
        |    coalesce((dose - ac / nc)
        |      / sqrt((ac / nc) * (2 - ac / nc)), 0) AS nrm
        |  FROM d JOIN st USING (contig, position)
        |  WHERE ac > 0 AND ac < 2 * nc),
        |mm AS (SELECT count(*) AS m FROM st WHERE ac > 0 AND ac < 2 * nc)
        |SELECT a.idx AS i, b.idx AS j,
        |  round(2.0 / mm.m * sum(a.nrm * b.nrm), 6) AS grm
        |FROM f a
        |JOIN f b ON a.contig = b.contig AND a.position = b.position
        |  AND a.idx <= b.idx, mm
        |GROUP BY a.idx, b.idx, mm.m""".stripMargin
    },

    "linalg_pca" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, s, CAST(a1 + a2 AS DOUBLE) AS dose
        |  FROM q),
        |st AS (
        |  SELECT contig, position, sum(dose) AS ac, count(dose) AS nc
        |  FROM d GROUP BY 1, 2),
        |f AS (
        |  SELECT coalesce((dose - ac / nc)
        |      / sqrt((ac / nc) * (2 - ac / nc)), 0) AS nrm
        |  FROM d JOIN st USING (contig, position)
        |  WHERE ac > 0 AND ac < 2 * nc),
        |mm AS (SELECT count(*) AS m FROM st WHERE ac > 0 AND ac < 2 * nc)
        |SELECT round(sum(nrm * nrm) * 2.0 / mm.m, 4) AS trace
        |FROM f, mm GROUP BY mm.m""".stripMargin
    },

    // Poisson MLE with binary x is closed-form: beta = ln(mean1/mean0),
    // SE = sqrt(1/sum(y|x=1) + 1/sum(y|x=0))
    "poisson_rows" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, ref,
        |    CASE WHEN a1 + a2 > 0 THEN 1 ELSE 0 END AS x,
        |    CAST(CAST(substr(s, 2, 10) AS INTEGER) + 1 AS DOUBLE) AS y
        |  FROM q WHERE a1 IS NOT NULL),
        |c AS (
        |  SELECT contig, position, ref,
        |    sum(x * y) AS sy1, sum((1 - x) * y) AS sy0,
        |    sum(x) AS n1, sum(1 - x) AS n0, count(*) AS n
        |  FROM d GROUP BY 1, 2, 3)
        |SELECT contig, position, ref, n,
        |  round(ln((sy1 / n1) / (sy0 / n0)), 6) AS beta,
        |  round(sqrt(1.0 / sy1 + 1.0 / sy0), 6) AS standard_error
        |FROM c WHERE n1 > 0 AND n0 > 0 AND sy1 > 0 AND sy0 > 0""".stripMargin
    },

    "geno_ibd" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |st AS (
        |  SELECT contig, position,
        |    CAST(sum(CASE WHEN a1 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN a2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS x,
        |    CAST(sum(CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN a2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS y
        |  FROM q GROUP BY 1, 2),
        |cf AS (
        |  SELECT avg(a00) AS e00, avg(a10) AS e10, avg(a20) AS e20,
        |    avg(a11) AS e11, avg(a21) AS e21
        |  FROM (
        |    SELECT
        |      2*(x/(x+y))*(x/(x+y))*(y/(x+y))*(y/(x+y))
        |        *((x-1)/x)*((y-1)/y)
        |        *((x+y)/(x+y-1))*((x+y)/(x+y-2))*((x+y)/(x+y-3)) AS a00,
        |      (4*pow(x/(x+y),3)*(y/(x+y))*((x-1)/x)*((x-2)/x)
        |       + 4*(x/(x+y))*pow(y/(x+y),3)*((y-1)/y)*((y-2)/y))
        |        *((x+y)/(x+y-1))*((x+y)/(x+y-2))*((x+y)/(x+y-3)) AS a10,
        |      (pow(y/(x+y),4)*((y-1)/y)*((y-2)/y)*((y-3)/y)
        |       + pow(x/(x+y),4)*((x-1)/x)*((x-2)/x)*((x-3)/x)
        |       + 4*pow(x/(x+y),2)*pow(y/(x+y),2)*((x-1)/x)*((y-1)/y))
        |        *((x+y)/(x+y-1))*((x+y)/(x+y-2))*((x+y)/(x+y-3)) AS a20,
        |      (2*pow(x/(x+y),2)*(y/(x+y))*((x-1)/x)
        |       + 2*(x/(x+y))*pow(y/(x+y),2)*((y-1)/y))
        |        *((x+y)/(x+y-1))*((x+y)/(x+y-2)) AS a11,
        |      (pow(x/(x+y),3)*((x-1)/x)*((x-2)/x)
        |       + pow(y/(x+y),3)*((y-1)/y)*((y-2)/y)
        |       + pow(x/(x+y),2)*(y/(x+y))*((x-1)/x)
        |       + (x/(x+y))*pow(y/(x+y),2)*((y-1)/y))
        |        *((x+y)/(x+y-1))*((x+y)/(x+y-2)) AS a21
        |    FROM st WHERE x > 0 AND y > 0 AND x + y > 3)),
        |d AS (
        |  SELECT contig, position, s, a1 + a2 AS dose
        |  FROM q WHERE a1 IS NOT NULL),
        |pc AS (
        |  SELECT a.s AS s_i, b.s AS s_j,
        |    sum(CASE WHEN 2 - abs(a.dose - b.dose) = 0 THEN 1 ELSE 0 END)
        |      AS ibs0,
        |    sum(CASE WHEN 2 - abs(a.dose - b.dose) = 1 THEN 1 ELSE 0 END)
        |      AS ibs1,
        |    sum(CASE WHEN 2 - abs(a.dose - b.dose) = 2 THEN 1 ELSE 0 END)
        |      AS ibs2
        |  FROM d a JOIN d b
        |    ON a.contig = b.contig AND a.position = b.position
        |    AND a.s < b.s
        |  GROUP BY 1, 2),
        |z AS (
        |  SELECT s_i, s_j, ibs0, ibs1, ibs2,
        |    CAST(ibs0 + ibs1 + ibs2 AS DOUBLE) AS n,
        |    ibs0 / (e00 * (ibs0 + ibs1 + ibs2)) AS z0,
        |    (ibs1 - ibs0 / (e00 * (ibs0 + ibs1 + ibs2))
        |      * e10 * (ibs0 + ibs1 + ibs2))
        |      / (e11 * (ibs0 + ibs1 + ibs2)) AS z1
        |  FROM pc, cf)
        |SELECT s_i, s_j,
        |  CAST(ibs0 AS BIGINT) AS ibs0, CAST(ibs1 AS BIGINT) AS ibs1,
        |  CAST(ibs2 AS BIGINT) AS ibs2,
        |  round(z0, 6) AS z0, round(z1, 6) AS z1,
        |  round((ibs2 - z0 * e20 * n - z1 * e21 * n) / n, 6) AS z2,
        |  round(z1 / 2 + (ibs2 - z0 * e20 * n - z1 * e21 * n) / n, 6)
        |    AS pi_hat
        |FROM z, cf""".stripMargin
    },

    "geno_tdt" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |g AS (
        |  SELECT contig, position, ref, s, a1 + a2 AS nalt,
        |    CASE WHEN a1 <> a2 THEN 1 ELSE 0 END AS het,
        |    CASE WHEN a1 = 1 AND a2 = 1 THEN 1 ELSE 0 END AS homv
        |  FROM q WHERE a1 IS NOT NULL),
        |tr AS (
        |  SELECT k.contig, k.position, k.ref,
        |    k.nalt - d.homv - m.homv AS t,
        |    d.het + m.het - (k.nalt - d.homv - m.homv) AS u
        |  FROM (VALUES ('S1'), ('S4'), ('S5')) kid(ks)
        |  JOIN g k ON k.s = kid.ks
        |  JOIN g d ON d.s = 'S2' AND d.contig = k.contig
        |    AND d.position = k.position
        |  JOIN g m ON m.s = 'S3' AND m.contig = k.contig
        |    AND m.position = k.position)
        |SELECT contig, position, ref,
        |  CAST(sum(t) AS BIGINT) AS t, CAST(sum(u) AS BIGINT) AS u,
        |  round(CAST((sum(t) - sum(u)) * (sum(t) - sum(u)) AS DOUBLE)
        |    / (sum(t) + sum(u)), 6) AS chi_sq
        |FROM tr WHERE t >= 0 AND u >= 0 AND t + u > 0
        |GROUP BY 1, 2, 3""".stripMargin
    },

    "geno_impute_sex" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |x AS (SELECT * FROM q WHERE contig = 'chr2'),
        |st AS (
        |  SELECT contig, position,
        |    CAST(sum(CASE WHEN a1 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN a2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / (2 * count(a1)) AS af
        |  FROM x GROUP BY 1, 2 HAVING count(a1) > 0),
        |j AS (
        |  SELECT x.s, x.a1, x.a2, st.af
        |  FROM x JOIN st USING (contig, position) WHERE x.a1 IS NOT NULL),
        |per AS (
        |  SELECT s, count(*) AS n_called,
        |    sum(1.0 - 2.0 * af * (1.0 - af)) AS e_homs,
        |    sum(CASE WHEN a1 = a2 THEN 1 ELSE 0 END) AS o_homs
        |  FROM j GROUP BY s),
        |f AS (
        |  SELECT sl.s, per.n_called, per.e_homs, per.o_homs,
        |    (per.o_homs - per.e_homs) / (per.n_called - per.e_homs) AS fs
        |  FROM (SELECT DISTINCT s FROM q) sl LEFT JOIN per USING (s))
        |SELECT s, n_called,
        |  round(e_homs, 6) AS expected_homs,
        |  CAST(o_homs AS BIGINT) AS observed_homs,
        |  round(fs, 6) AS f_stat,
        |  CASE WHEN fs < 0.2 THEN true
        |       WHEN fs > 0.8 THEN false END AS is_female
        |FROM f""".stripMargin
    },

    // n_alt-based predicates in the reference's evaluation order
    // (functions.py:6415 mendel_error_code): both-hom codes 1/2/5/8
    // first, then single-parent codes 3/4/6/7, which also fire with the
    // other parent uncalled (NULL n_alt makes its conditions false —
    // missing_false). All fixture variants are autosomal.
    "geno_mendel_errors" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |g AS (
        |  SELECT k.contig, k.position, k.ref, t.kid AS s,
        |    d.a1 + d.a2 AS fn, m.a1 + m.a2 AS mn, k.a1 + k.a2 AS cn
        |  FROM (VALUES ('S1'), ('S4')) t(kid)
        |  JOIN q k ON k.s = t.kid
        |  JOIN q d ON d.s = 'S2' AND d.contig = k.contig
        |    AND d.position = k.position
        |  JOIN q m ON m.s = 'S3' AND m.contig = k.contig
        |    AND m.position = k.position),
        |c AS (
        |  SELECT contig, position, ref, s,
        |    CASE WHEN fn = 2 AND mn = 2 AND cn = 1 THEN 1
        |         WHEN fn = 0 AND mn = 0 AND cn = 1 THEN 2
        |         WHEN fn = 0 AND mn = 0 AND cn = 2 THEN 5
        |         WHEN fn = 2 AND mn = 2 AND cn = 0 THEN 8
        |         WHEN fn = 0 AND cn = 2 THEN 3
        |         WHEN mn = 0 AND cn = 2 THEN 4
        |         WHEN fn = 2 AND cn = 0 THEN 6
        |         WHEN mn = 2 AND cn = 0 THEN 7
        |         END AS mendel_code
        |  FROM g)
        |SELECT contig, position, ref, s, mendel_code
        |FROM c WHERE mendel_code IS NOT NULL""".stripMargin
    },

    "geno_mendel_per_variant" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |g AS (
        |  SELECT k.contig, k.position, k.ref, k.alts, t.kid AS s,
        |    d.a1 + d.a2 AS fn, m.a1 + m.a2 AS mn, k.a1 + k.a2 AS cn
        |  FROM (VALUES ('S1'), ('S4')) t(kid)
        |  JOIN q k ON k.s = t.kid
        |  JOIN q d ON d.s = 'S2' AND d.contig = k.contig
        |    AND d.position = k.position
        |  JOIN q m ON m.s = 'S3' AND m.contig = k.contig
        |    AND m.position = k.position),
        |c AS (
        |  SELECT contig, position, ref, alts,
        |    CASE WHEN fn = 2 AND mn = 2 AND cn = 1 THEN 1
        |         WHEN fn = 0 AND mn = 0 AND cn = 1 THEN 2
        |         WHEN fn = 0 AND mn = 0 AND cn = 2 THEN 5
        |         WHEN fn = 2 AND mn = 2 AND cn = 0 THEN 8
        |         WHEN fn = 0 AND cn = 2 THEN 3
        |         WHEN mn = 0 AND cn = 2 THEN 4
        |         WHEN fn = 2 AND cn = 0 THEN 6
        |         WHEN mn = 2 AND cn = 0 THEN 7
        |         END AS mendel_code
        |  FROM g),
        |e AS (SELECT contig, position, ref, alts, count(*) AS n
        |  FROM c WHERE mendel_code IS NOT NULL GROUP BY 1, 2, 3, 4)
        |SELECT v.contig, v.position, v.ref, v.alts,
        |  coalesce(e.n, 0) AS errors
        |FROM (SELECT DISTINCT contig, position, ref, alts FROM q) v
        |LEFT JOIN e USING (contig, position, ref, alts)""".stripMargin
    },

    "geno_mendel_per_sample" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |g AS (
        |  SELECT k.contig, k.position, k.ref, k.alts, t.kid AS s,
        |    d.a1 + d.a2 AS fn, m.a1 + m.a2 AS mn, k.a1 + k.a2 AS cn
        |  FROM (VALUES ('S1'), ('S4')) t(kid)
        |  JOIN q k ON k.s = t.kid
        |  JOIN q d ON d.s = 'S2' AND d.contig = k.contig
        |    AND d.position = k.position
        |  JOIN q m ON m.s = 'S3' AND m.contig = k.contig
        |    AND m.position = k.position),
        |c AS (
        |  SELECT s, ref, string_split(alts, ',')[1] AS a,
        |    CASE WHEN fn = 2 AND mn = 2 AND cn = 1 THEN 1
        |         WHEN fn = 0 AND mn = 0 AND cn = 1 THEN 2
        |         WHEN fn = 0 AND mn = 0 AND cn = 2 THEN 5
        |         WHEN fn = 2 AND mn = 2 AND cn = 0 THEN 8
        |         WHEN fn = 0 AND cn = 2 THEN 3
        |         WHEN mn = 0 AND cn = 2 THEN 4
        |         WHEN fn = 2 AND cn = 0 THEN 6
        |         WHEN mn = 2 AND cn = 0 THEN 7
        |         END AS code
        |  FROM g),
        |impl(code, w0, w1, w2) AS (VALUES
        |  (1,1,1,1),(2,1,1,1),(3,1,0,1),(4,0,1,1),(5,0,0,1),(6,1,0,1),
        |  (7,0,1,1),(8,0,0,1),(9,0,1,1),(10,0,1,1),(11,1,0,1),(12,1,0,1)),
        |roles(kid, member, role) AS (VALUES
        |  ('S1','S2',0),('S1','S3',1),('S1','S1',2),
        |  ('S4','S2',0),('S4','S3',1),('S4','S4',2)),
        |attr AS (
        |  SELECT r.member,
        |    CAST(CASE r.role WHEN 0 THEN i.w0 WHEN 1 THEN i.w1
        |      ELSE i.w2 END AS BIGINT) AS w,
        |    (regexp_matches(c.ref, '^[ACGTNM]+$$')
        |      AND regexp_matches(c.a, '^[ACGTNM]+$$')
        |      AND len(c.ref) = len(c.a)
        |      AND ((len(c.ref) = 1 AND c.ref != c.a)
        |        OR (len(c.ref) > 1 AND len(list_filter(
        |          range(1, len(c.ref) + 1),
        |          i2 -> substr(c.ref, CAST(i2 AS INTEGER), 1)
        |            != substr(c.a, CAST(i2 AS INTEGER), 1))) = 1)))
        |      AS is_snp
        |  FROM c JOIN roles r ON c.s = r.kid
        |  JOIN impl i ON i.code = c.code
        |  WHERE c.code IS NOT NULL)
        |SELECT m.member AS s,
        |  CAST(coalesce(sum(w), 0) AS BIGINT) AS errors,
        |  CAST(coalesce(sum(CASE WHEN is_snp THEN w ELSE 0 END), 0)
        |    AS BIGINT) AS snp_errors
        |FROM (VALUES ('S1'),('S2'),('S3'),('S4')) m(member)
        |LEFT JOIN attr ON attr.member = m.member
        |GROUP BY 1""".stripMargin
    },

    "geno_pc_project" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |af AS (SELECT contig, position,
        |    sum(a1 + a2) * 1.0 / (2 * count(a1)) AS af
        |  FROM q WHERE a1 IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT q.contig, q.position, q.s,
        |    (q.a1 + q.a2 - 2 * af.af)
        |      / sqrt(60 * af.af * (1 - af.af)) AS gtn,
        |    (q.position % 7 + 1) AS l1, (q.position % 5 + 1) AS l2
        |  FROM q JOIN af USING (contig, position)
        |  WHERE q.a1 IS NOT NULL AND af.af > 0 AND af.af < 1)
        |SELECT s, round(sum(l1 * gtn), 6) AS pc1,
        |  round(sum(l2 * gtn), 6) AS pc2
        |FROM g GROUP BY s""".stripMargin
    },

    "table_gtf_import" ->
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
        |""".stripMargin,

    "matrix_full_outer_join" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
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
    },

    "matrix_explode_trio" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base
        |SELECT q.contig, q.position, r.s, q.a1, q.a2, q.dp
        |FROM (VALUES ('S1'), ('S2'), ('S3'), ('S4'), ('S2'), ('S3'))
        |  r(s)
        |JOIN q ON q.s = r.s""".stripMargin
    },

    "geno_phase_by_transmission" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |t AS (SELECT k.contig, k.position, tr.kid AS s,
        |    k.a1 AS ka1, k.a2 AS ka2, d.a1 AS da1, d.a2 AS da2,
        |    m.a1 AS ma1, m.a2 AS ma2
        |  FROM (VALUES ('S1'), ('S4')) tr(kid)
        |  JOIN q k ON k.s = tr.kid
        |  JOIN q d ON d.s = 'S2' AND d.contig = k.contig
        |    AND d.position = k.position
        |  JOIN q m ON m.s = 'S3' AND m.contig = k.contig
        |    AND m.position = k.position),
        |c AS (SELECT t.*, v.fi, v.mi,
        |    CASE v.fi WHEN 0 THEN da1 ELSE da2 END AS fa,
        |    CASE v.mi WHEN 0 THEN ma1 ELSE ma2 END AS ma
        |  FROM t CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1))
        |    v(fi, mi)
        |  WHERE (v.fi = 0 OR da1 <> da2) AND (v.mi = 0 OR ma1 <> ma2)),
        |g AS (SELECT contig, position, s,
        |    sum(CASE WHEN ok THEN 1 ELSE 0 END) AS cnt,
        |    min(CASE WHEN ok THEN fi END) AS fi,
        |    min(CASE WHEN ok THEN mi END) AS mi
        |  FROM (SELECT c.*,
        |      -- explicit null guards: DuckDB least/greatest SKIP nulls,
        |      -- so a missing member would otherwise fake a match
        |      fa IS NOT NULL AND ma IS NOT NULL AND ka1 IS NOT NULL
        |        AND ka2 IS NOT NULL
        |        AND least(fa, ma) = least(ka1, ka2)
        |        AND greatest(fa, ma) = greatest(ka1, ka2) AS ok
        |    FROM c) c2 GROUP BY 1, 2, 3)
        |SELECT t.contig, t.position, t.s,
        |  CASE WHEN g.cnt = 1
        |    THEN (CASE g.fi WHEN 0 THEN t.da1 ELSE t.da2 END) END AS k_a1,
        |  CASE WHEN g.cnt = 1
        |    THEN (CASE g.mi WHEN 0 THEN t.ma1 ELSE t.ma2 END) END AS k_a2,
        |  CASE WHEN g.cnt = 1
        |    THEN (CASE g.fi WHEN 0 THEN t.da1 ELSE t.da2 END) END AS f_a1,
        |  CASE WHEN g.cnt = 1
        |    THEN (CASE g.fi WHEN 0 THEN t.da2 ELSE t.da1 END) END AS f_a2,
        |  CASE WHEN g.cnt = 1
        |    THEN (CASE g.mi WHEN 0 THEN t.ma1 ELSE t.ma2 END) END AS m_a1,
        |  CASE WHEN g.cnt = 1
        |    THEN (CASE g.mi WHEN 0 THEN t.ma2 ELSE t.ma1 END) END AS m_a2
        |FROM t JOIN g USING (contig, position, s)""".stripMargin
    },

    "geno_concordance" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |l AS (
        |  SELECT contig, position, ref, s,
        |    CASE WHEN a1 IS NULL THEN 1
        |      WHEN a1 = 0 AND a2 = 0 THEN 2
        |      WHEN a1 <> a2 THEN 3 ELSE 4 END AS lc
        |  FROM q),
        |r AS (
        |  SELECT contig, position, ref, s,
        |    CASE WHEN a1 IS NULL THEN 1
        |      WHEN a1 = 0 AND a2 = 0 THEN 2
        |      WHEN a1 <> a2 THEN 3 ELSE 4 END AS rc
        |  FROM q WHERE position % 2 = 1 AND dp >= 10)
        |SELECT coalesce(l.lc, 0) AS left_state,
        |  coalesce(r.rc, 0) AS right_state, count(*) AS n
        |FROM l FULL OUTER JOIN r USING (contig, position, ref, s)
        |GROUP BY 1, 2""".stripMargin
    },

    "geno_concordance_per_sample" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |l AS (
        |  SELECT contig, position, ref, s,
        |    CASE WHEN a1 IS NULL THEN 1
        |      WHEN a1 = 0 AND a2 = 0 THEN 2
        |      WHEN a1 <> a2 THEN 3 ELSE 4 END AS lc
        |  FROM q),
        |r AS (
        |  SELECT contig, position, ref, s,
        |    CASE WHEN a1 IS NULL THEN 1
        |      WHEN a1 = 0 AND a2 = 0 THEN 2
        |      WHEN a1 <> a2 THEN 3 ELSE 4 END AS rc
        |  FROM q WHERE position % 2 = 1 AND dp >= 10)
        |SELECT s,
        |  coalesce(l.lc, 0) AS left_state,
        |  coalesce(r.rc, 0) AS right_state, count(*) AS n
        |FROM l FULL OUTER JOIN r USING (contig, position, ref, s)
        |GROUP BY 1, 2, 3""".stripMargin
    },

    "geno_concordance_per_variant" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |l AS (
        |  SELECT contig, position, ref, s,
        |    CASE WHEN a1 IS NULL THEN 1
        |      WHEN a1 = 0 AND a2 = 0 THEN 2
        |      WHEN a1 <> a2 THEN 3 ELSE 4 END AS lc
        |  FROM q),
        |r AS (
        |  SELECT contig, position, ref, s,
        |    CASE WHEN a1 IS NULL THEN 1
        |      WHEN a1 = 0 AND a2 = 0 THEN 2
        |      WHEN a1 <> a2 THEN 3 ELSE 4 END AS rc
        |  FROM q WHERE position % 2 = 1 AND dp >= 10)
        |SELECT contig, position, ref,
        |  coalesce(l.lc, 0) AS left_state,
        |  coalesce(r.rc, 0) AS right_state, count(*) AS n
        |FROM l FULL OUTER JOIN r USING (contig, position, ref, s)
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin
    },

    "logistic_rows" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, ref,
        |    CASE WHEN a1 + a2 > 0 THEN 1 ELSE 0 END AS x,
        |    CAST(substr(s, 2, 10) AS INTEGER) % 2 AS y
        |  FROM q WHERE a1 IS NOT NULL),
        |c AS (
        |  SELECT contig, position, ref,
        |    sum(x * y) AS n11, sum(x * (1 - y)) AS n10,
        |    sum((1 - x) * y) AS n01, sum((1 - x) * (1 - y)) AS n00
        |  FROM d GROUP BY 1, 2, 3)
        |SELECT contig, position, ref,
        |  CAST(n11 + n10 + n01 + n00 AS BIGINT) AS n,
        |  round(ln(CAST(n11 * n00 AS DOUBLE) / (n10 * n01)), 6) AS beta,
        |  round(sqrt(1.0/n11 + 1.0/n10 + 1.0/n01 + 1.0/n00), 6)
        |    AS standard_error
        |FROM c WHERE n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0""".stripMargin
    },

    // deviance of the cell-saturated full model vs the intercept null:
    // 2*(LL_full - LL_null), all closed-form over the 2x2 cells
    "logistic_lrt" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, ref,
        |    CASE WHEN a1 + a2 > 0 THEN 1 ELSE 0 END AS x,
        |    CAST(substr(s, 2, 10) AS INTEGER) % 2 AS y
        |  FROM q WHERE a1 IS NOT NULL),
        |c AS (
        |  SELECT contig, position, ref,
        |    sum(x * y) AS n11, sum(x * (1 - y)) AS n10,
        |    sum((1 - x) * y) AS n01, sum((1 - x) * (1 - y)) AS n00
        |  FROM d GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT contig, position, ref,
        |    CAST(n11 + n10 + n01 + n00 AS BIGINT) AS n,
        |    n11 * ln(CAST(n11 AS DOUBLE) / (n11 + n10))
        |      + n10 * ln(CAST(n10 AS DOUBLE) / (n11 + n10))
        |      + n01 * ln(CAST(n01 AS DOUBLE) / (n01 + n00))
        |      + n00 * ln(CAST(n00 AS DOUBLE) / (n01 + n00)) AS ll_full,
        |    (n11 + n01) * ln(CAST(n11 + n01 AS DOUBLE)
        |        / (n11 + n10 + n01 + n00))
        |      + (n10 + n00) * ln(CAST(n10 + n00 AS DOUBLE)
        |        / (n11 + n10 + n01 + n00)) AS ll_null
        |  FROM c WHERE n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0)
        |SELECT contig, position, ref, n,
        |  round(2 * (ll_full - ll_null), 6) AS chi_sq_stat
        |FROM f""".stripMargin
    },

    // score statistic at the intercept-only null fit: closed-form
    // U^2 / (pbar qbar n1 (1 - n1/n)) for binary x
    "logistic_score" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, ref,
        |    CASE WHEN a1 + a2 > 0 THEN 1 ELSE 0 END AS x,
        |    CAST(substr(s, 2, 10) AS INTEGER) % 2 AS y
        |  FROM q WHERE a1 IS NOT NULL),
        |c AS (
        |  SELECT contig, position, ref,
        |    sum(x * y) AS n11, sum(x * (1 - y)) AS n10,
        |    sum((1 - x) * y) AS n01, sum((1 - x) * (1 - y)) AS n00,
        |    count(*) AS n
        |  FROM d GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT contig, position, ref, CAST(n AS BIGINT) AS n,
        |    CAST(n11 + n10 AS DOUBLE) AS n1,
        |    CAST(n11 + n01 AS DOUBLE) / n AS pbar,
        |    n11 - (n11 + n10) * (CAST(n11 + n01 AS DOUBLE) / n) AS u
        |  FROM c
        |  WHERE n11 + n01 > 0 AND n10 + n00 > 0
        |    AND n11 + n10 > 0 AND n01 + n00 > 0)
        |SELECT contig, position, ref, n,
        |  round(u * u / (pbar * (1 - pbar) * n1 * (1 - n1 / n)), 6)
        |    AS chi_sq_stat
        |FROM f""".stripMargin
    },

    // firth penalized fit on the 2x2 cells: add-half group means, Wald
    // se from the information at the penalized optimum, and the
    // penalized-likelihood ratio incl. the 0.5*ln det I Jeffreys terms
    "logistic_firth" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, ref,
        |    CASE WHEN a1 + a2 > 0 THEN 1 ELSE 0 END AS x,
        |    CAST(substr(s, 2, 10) AS INTEGER) % 2 AS y
        |  FROM q WHERE a1 IS NOT NULL),
        |c AS (
        |  SELECT contig, position, ref,
        |    sum(x * y) AS n11, sum(x * (1 - y)) AS n10,
        |    sum((1 - x) * y) AS n01, sum((1 - x) * (1 - y)) AS n00
        |  FROM d GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT contig, position, ref, n11, n10, n01, n00,
        |    CAST(n11 + n10 + n01 + n00 AS BIGINT) AS n,
        |    CAST(n11 + n10 AS DOUBLE) AS m1,
        |    CAST(n01 + n00 AS DOUBLE) AS m0,
        |    CAST(n11 + n01 AS DOUBLE) AS k,
        |    (n11 + 0.5) / (n11 + n10 + 1.0) AS p1,
        |    (n01 + 0.5) / (n01 + n00 + 1.0) AS p0
        |  FROM c WHERE n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0),
        |g AS (
        |  SELECT contig, position, ref, n, p1, p0,
        |    m1 * p1 * (1 - p1) AS w1, m0 * p0 * (1 - p0) AS w0,
        |    n11 * ln(p1) + n10 * ln(1 - p1)
        |      + n01 * ln(p0) + n00 * ln(1 - p0) AS llf,
        |    (k + 0.5) / (n + 1.0) AS mu0, k
        |  FROM f)
        |SELECT contig, position, ref, n,
        |  round(ln(p1 / (1 - p1)) - ln(p0 / (1 - p0)), 6) AS beta,
        |  round(sqrt(1 / w1 + 1 / w0), 6) AS standard_error,
        |  round(2 * (llf + 0.5 * ln(w1 * w0)
        |    - (k * ln(mu0) + (n - k) * ln(1 - mu0)
        |       + 0.5 * ln(n * mu0 * (1 - mu0)))), 6) AS chi_sq_stat
        |FROM g""".stripMargin
    },

    "table_map_partitions" ->
      "SELECT n_nationkey, lower(n_name) AS n_name FROM nation",

    // greedy MIS on the bipartite nation-region graph: every region
    // vertex has positive degree and higher degree than any nation, so
    // the algorithm removes exactly the region vertices — survivors are
    // all nation vertices (closed form; determinism is the gate's point)
    "table_mis" ->
      "SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS node FROM nation",

    "table_summarize" ->
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
        |FROM lineitem""".stripMargin,

    "table_tail" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey DESC LIMIT 100""".stripMargin,

    "table_rename" ->
      "SELECT r_regionkey, r_name AS region_name FROM region",

    "table_repartition" ->
      "SELECT o_orderkey, o_totalprice FROM orders",

    // all-bins output (zero counts included), hi-edge value clamps into
    // the last bin like the reference
    "agg_hist" ->
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
        |  AND c.bin = b.bin""".stripMargin,

    // densified grid of the two merged gVCFs: variant entries win (their
    // DP is not backfilled), covered cells fill hom-ref with block DP
    "vds_combine_densify" ->
      """SELECT * FROM (VALUES
        |  ('chr1', 100, 'VA', 1, CAST(NULL AS INTEGER)),
        |  ('chr1', 100, 'VB', 0, 17),
        |  ('chr1', 600, 'VA', 0, 24),
        |  ('chr1', 600, 'VB', 2, CAST(NULL AS INTEGER)))
        |AS t(contig, position, s, n_alt, DP)""".stripMargin,

    // hand-computed over the fixture blocks: VA [1,99]@21 [101,900]@24,
    // VB [1,500]@17; intervals [50,150) size 100 and [400,1000) size 600
    "vds_interval_coverage" ->
      """SELECT contig, start, "end", interval_size, s, dp_threshold,
        |  CAST(bases_over AS BIGINT) AS bases_over,
        |  CAST(fraction_over AS DOUBLE) AS fraction_over,
        |  CAST(sum_dp AS BIGINT) AS sum_dp,
        |  CAST(mean_dp AS DOUBLE) AS mean_dp
        |FROM (VALUES
        |  ('chr1', 50, 150, 100, 'VA', 0, 99, 0.99, 2226, 22.26),
        |  ('chr1', 50, 150, 100, 'VA', 10, 99, 0.99, 2226, 22.26),
        |  ('chr1', 50, 150, 100, 'VA', 20, 99, 0.99, 2226, 22.26),
        |  ('chr1', 50, 150, 100, 'VA', 30, 0, 0.0, 2226, 22.26),
        |  ('chr1', 50, 150, 100, 'VB', 0, 100, 1.0, 1700, 17.0),
        |  ('chr1', 50, 150, 100, 'VB', 10, 100, 1.0, 1700, 17.0),
        |  ('chr1', 50, 150, 100, 'VB', 20, 0, 0.0, 1700, 17.0),
        |  ('chr1', 50, 150, 100, 'VB', 30, 0, 0.0, 1700, 17.0),
        |  ('chr1', 400, 1000, 600, 'VA', 0, 501, 0.835, 12024, 20.04),
        |  ('chr1', 400, 1000, 600, 'VA', 10, 501, 0.835, 12024, 20.04),
        |  ('chr1', 400, 1000, 600, 'VA', 20, 501, 0.835, 12024, 20.04),
        |  ('chr1', 400, 1000, 600, 'VA', 30, 0, 0.0, 12024, 20.04),
        |  ('chr1', 400, 1000, 600, 'VB', 0, 101, 0.168333, 1717, 2.861667),
        |  ('chr1', 400, 1000, 600, 'VB', 10, 101, 0.168333, 1717, 2.861667),
        |  ('chr1', 400, 1000, 600, 'VB', 20, 0, 0.0, 1717, 2.861667),
        |  ('chr1', 400, 1000, 600, 'VB', 30, 0, 0.0, 1717, 2.861667))
        |AS t(contig, start, "end", interval_size, s, dp_threshold,
        |  bases_over, fraction_over, sum_dp, mean_dp)""".stripMargin,

    "table_asof_join" ->
      """WITH e AS (
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
        |    FROM p0) WHERE rn = 1),
        |j AS (
        |  SELECT c.event_id, c.user_id, c.tns,
        |    p.p_event_id, p.p_tns, p.p_value
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.tns >= p.p_tns)
        |SELECT event_id, user_id, tns,
        |  CASE WHEN tns - p_tns <= 3600000000000
        |    THEN p_event_id END AS p_event_id,
        |  CASE WHEN tns - p_tns <= 3600000000000
        |    THEN p_value END AS p_value
        |FROM j""".stripMargin,

    "table_asof_forward" ->
      """WITH e AS (
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
        |    FROM p0) WHERE rn = 1),
        |j AS (
        |  SELECT c.event_id, c.user_id, c.tns,
        |    p.p_event_id, p.p_tns, p.p_value
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.tns <= p.p_tns)
        |SELECT event_id, user_id, tns,
        |  CASE WHEN p_tns - tns <= 3600000000000
        |    THEN p_event_id END AS p_event_id,
        |  CASE WHEN p_tns - tns <= 3600000000000
        |    THEN p_value END AS p_value
        |FROM j""".stripMargin,

    "table_asof_nearest" ->
      """WITH e AS (
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
        |    FROM p0) WHERE rn = 1),
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
        |FROM b JOIN f USING (event_id)""".stripMargin,

    "table_salted_join" ->
      """SELECT l.l_orderkey AS o_orderkey, l.l_partkey, l.l_quantity,
        |  o.o_custkey
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin,

    "stream_sessionize_batch" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts, value
        |  FROM events),
        |l AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > 1800000000000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM l)
        |SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "events_retention" ->
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
        |FROM f JOIN a USING (user_id) GROUP BY 1, 2""".stripMargin,

    "events_funnel" ->
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
        |SELECT user_id, t1, t2, t3 FROM s3""".stripMargin,

    // verified-bound contract (SF-invariant): Spark computes each
    // sketch estimate's exact rank against the full data and asserts
    // it lies within eps of the target quantile; the oracle pins the
    // group set, the non-null counts, and that every bound held. (The
    // old exact-value oracle was only valid while per-type n <= k —
    // the sf1.0 scale run caught it drifting at the 4th digit.)
    "stream_approx_cdf" ->
      """SELECT event_type, count(value) AS n,
        |  true AS median_ok, true AS p90_ok
        |FROM events GROUP BY 1""".stripMargin,

    // identical to stream_sessionize_batch: the streaming kernel with
    // the watermark flush must reproduce the batch closed form exactly
    "stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts, value
        |  FROM events),
        |l AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > 1800000000000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM l)
        |SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "stream_hourly_agg" ->
      """SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // piecewise closed form of the synthetic chain: chr1 [0,500)->chrA
    // +1000 forward; chr2 [100,400)->chrB size 2000 reverse; chr3 unmapped
    "locus_liftover" ->
      """WITH d AS (
        |  SELECT o_orderkey,
        |    'chr' || (o_orderkey % 3 + 1) AS contig,
        |    CAST(o_custkey % 600 + 1 AS INTEGER) AS position,
        |    CAST(o_custkey % 600 AS BIGINT) AS p0,
        |    o_orderkey % 3 + 1 AS c
        |  FROM orders WHERE o_orderkey < 5000)
        |SELECT o_orderkey, contig, position,
        |  CASE WHEN c = 1 AND p0 < 500 THEN 'chrA'
        |       WHEN c = 2 AND p0 >= 100 AND p0 < 400 THEN 'chrB'
        |       END AS target_contig,
        |  CASE WHEN c = 1 AND p0 < 500
        |         THEN CAST(p0 + 1001 AS INTEGER)
        |       WHEN c = 2 AND p0 >= 100 AND p0 < 400
        |         THEN CAST(2050 - p0 AS INTEGER)
        |       END AS target_position,
        |  CASE WHEN c = 1 AND p0 < 500 THEN false
        |       WHEN c = 2 AND p0 >= 100 AND p0 < 400 THEN true
        |       END AS is_negative_strand
        |FROM d""".stripMargin,

    // closed forms: dbeta(x,2,5)=30 x (1-x)^4 ; dnorm ; dchisq(y,2) =
    // exp(-y/2)/2 ; Poisson pmf/cdf with k in 0..4
    "stat_distributions" ->
      """WITH d AS (
        |  SELECT o_orderkey,
        |    (CAST(o_orderkey % 100 AS DOUBLE) + 1) / 102.0 AS x,
        |    o_orderkey % 5 AS k
        |  FROM orders WHERE o_orderkey < 500),
        |f AS (
        |  SELECT *,
        |    CASE k WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2
        |      WHEN 3 THEN 6 ELSE 24 END AS kfact,
        |    CASE k WHEN 0 THEN 1.0 WHEN 1 THEN 3.0 WHEN 2 THEN 5.0
        |      WHEN 3 THEN 19.0/3 ELSE 7.0 END AS csum
        |  FROM d)
        |SELECT o_orderkey,
        |  round(30.0 * x * pow(1.0 - x, 4.0), 6) AS dbeta,
        |  round(exp(-x * x / 2.0) / sqrt(2 * pi()), 6) AS dnorm,
        |  round(exp(-x * 3.0 / 2.0) / 2.0, 6) AS dchisq,
        |  round(exp(-2.0) * pow(2.0, k) / kfact, 6) AS dpois,
        |  round(exp(-2.0) * csum, 6) AS ppois
        |FROM f""".stripMargin,

    // de novo posterior for the het-kid/hom-ref-parents config with the
    // synthesized PL model: eps = 10^(-(25+pos%10)/10), matching-class
    // pp = 1/(1+2eps), off-class pp = eps/(1+2eps); all-SNV fixture so
    // only the SNP confidence chain applies; GQ always >= min_gq
    "geno_de_novo" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |g AS (
        |  SELECT k.contig, k.position, k.ref, t.kid AS id,
        |    k.a1 + k.a2 AS kg, d.a1 + d.a2 AS dg, m.a1 + m.a2 AS mg,
        |    k.a1 <> k.a2 AS khet,
        |    k.dp AS kdp, d.dp AS ddp, m.dp AS mdp
        |  FROM (VALUES ('S1'), ('S4')) t(kid)
        |  JOIN q k ON k.s = t.kid
        |  JOIN q d ON d.s = 'S2' AND d.contig = k.contig
        |    AND d.position = k.position
        |  JOIN q m ON m.s = 'S3' AND m.contig = k.contig
        |    AND m.position = k.position),
        |calc AS (
        |  SELECT g.*, 100.0 / 30000000.0 AS prior, 1 AS ac,
        |    pow(10.0, -(25 + position % 10) / 10.0) AS eps,
        |    CAST(floor(kdp * kg / 2.0) AS DOUBLE) / kdp AS kab,
        |    CAST(floor(ddp * dg / 2.0) AS DOUBLE) / ddp AS dab,
        |    CAST(floor(mdp * mg / 2.0) AS DOUBLE) / mdp AS mab,
        |    CAST(kdp AS DOUBLE) / (ddp + mdp) AS dr
        |  FROM g),
        |dn AS (
        |  SELECT *,
        |    pow(1.0 / (1 + 2 * eps), 3) * (1.0 / 30000000.0) AS pdn,
        |    2 * (eps / (1 + 2 * eps)) * pow(1.0 / (1 + 2 * eps), 2)
        |      * (1.0 - pow(1.0 - prior, 4.0)) AS pmiss
        |  FROM calc),
        |sel AS (
        |  SELECT contig, position, ref, id, prior, ac, kdp, kab, dr,
        |    pdn / (pdn + pmiss) AS p
        |  FROM dn
        |  WHERE khet AND kg = 1 AND dg = 0 AND mg = 0
        |    AND kab >= 0.2 AND dr >= 0.1
        |    AND ddp > 0 AND mdp > 0
        |    AND dab <= 0.05 AND mab <= 0.05
        |    AND pdn + pmiss > 0),
        |conf AS (
        |  SELECT contig, position, ref, id, prior, p,
        |    CASE WHEN (p > 0.99 AND kab > 0.3 AND dr > 0.2)
        |           OR (p > 0.99 AND kab > 0.3 AND ac = 1)
        |           OR (p > 0.5 AND kab > 0.3 AND ac < 10 AND kdp > 10)
        |         THEN 'HIGH'
        |         WHEN p > 0.5 AND (kab > 0.3 OR ac = 1) THEN 'MEDIUM'
        |         WHEN kab > 0.2 THEN 'LOW' END AS confidence
        |  FROM sel WHERE p >= 0.05)
        |SELECT contig, position, ref, id, round(prior, 6) AS prior,
        |  round(p, 6) AS p_de_novo, confidence
        |FROM conf WHERE confidence IS NOT NULL""".stripMargin
    },

    // pc_relate with an intercept-only model: mu = mean(dose)/2 per
    // variant; bad entries (non-integral imputed dose or out-of-range mu)
    // contribute zero; phi/k2/k0 are the reference's gramian ratios
    "geno_pc_relate" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, s, CAST(a1 + a2 AS DOUBLE) AS dose
        |  FROM q),
        |st AS (
        |  SELECT contig, position, avg(dose) AS meang
        |  FROM d GROUP BY 1, 2),
        |c0 AS (
        |  SELECT d.contig, d.position,
        |    CAST(substr(d.s, 2, 10) AS INTEGER) - 1 AS idx,
        |    coalesce(dose, meang) AS gv, meang / 2.0 AS mu
        |  FROM d JOIN st USING (contig, position)),
        |c1 AS (
        |  SELECT *,
        |    gv IS NULL OR gv NOT IN (0.0, 1.0, 2.0) OR mu IS NULL
        |      OR mu <= 0.05 OR mu >= 0.95 OR mu <= 0.0 OR mu >= 1.0
        |      AS bad
        |  FROM c0),
        |f AS (
        |  SELECT contig, position, idx,
        |    CASE WHEN bad THEN 0.0 ELSE gv / 2.0 - mu END AS a,
        |    CASE WHEN bad THEN 0.0 ELSE sqrt(mu * (1.0 - mu)) END AS sd,
        |    CASE WHEN bad OR gv <> 2.0 THEN 0.0 ELSE 1.0 END AS ha,
        |    CASE WHEN bad OR gv <> 0.0 THEN 0.0 ELSE 1.0 END AS hr,
        |    CASE WHEN bad THEN 0.0 ELSE mu * mu END AS mu2,
        |    CASE WHEN bad THEN 0.0
        |      ELSE (1.0 - mu) * (1.0 - mu) END AS om2,
        |    CASE WHEN bad THEN 0.0
        |      ELSE CASE WHEN gv = 0.0 THEN mu WHEN gv = 1.0 THEN 0.0
        |        ELSE 1.0 - mu END END AS gd,
        |    CASE WHEN bad THEN 0.0 ELSE mu * (1.0 - mu) END AS v
        |  FROM c1),
        |selfphi AS (
        |  SELECT idx, 2.0 * (sum(a * a) / sum(sd * sd)) AS c
        |  FROM f GROUP BY idx),
        |pairs AS (
        |  SELECT x.idx AS i, y.idx AS j,
        |    sum(x.a * y.a) AS saa, sum(x.sd * y.sd) AS sss,
        |    sum(x.gd * y.gd) AS sgg, sum(x.gd * y.v) AS sgv,
        |    sum(x.v * y.gd) AS svg, sum(x.v * y.v) AS svv,
        |    sum(x.ha * y.hr) + sum(x.hr * y.ha) AS ibs0,
        |    sum(x.mu2 * y.om2) + sum(x.om2 * y.mu2) AS denom
        |  FROM f x JOIN f y ON x.contig = y.contig
        |    AND x.position = y.position AND x.idx < y.idx
        |  GROUP BY 1, 2),
        |k AS (
        |  SELECT i, j, saa / sss AS phi,
        |    (sgg - cj.c * sgv - ci.c * svg + ci.c * cj.c * svv) / svv
        |      AS k2,
        |    ibs0, denom
        |  FROM pairs
        |  JOIN selfphi ci ON ci.idx = pairs.i
        |  JOIN selfphi cj ON cj.idx = pairs.j),
        |kk AS (
        |  SELECT i, j, phi, k2,
        |    CASE WHEN phi <= pow(2.0, -2.5) THEN 1.0 - 4.0 * phi + k2
        |         ELSE ibs0 / denom END AS k0
        |  FROM k)
        |SELECT i, j, round(phi, 6) + 0.0 AS kin,
        |  round(k0, 6) + 0.0 AS ibd0,
        |  round(1.0 - (k2 + k0), 6) + 0.0 AS ibd1,
        |  round(k2, 6) + 0.0 AS ibd2
        |FROM kk""".stripMargin
    },

    // IMPUTE info score replayed over the golden 8-bit GP dump
    "geno_info_score" ->
      """WITH g AS (
        |  SELECT contig, position, ref, alt,
        |    pab8 / 255.0 AS pab,
        |    1.0 - paa8 / 255.0 - pab8 / 255.0 AS pbb
        |  FROM read_csv(
        |    '/root/repo/src/test/resources/oracle_bgen_expected.tsv',
        |    delim='\t', header=true, nullstr='\N',
        |    columns={'contig':'VARCHAR','position':'INTEGER',
        |      'ref':'VARCHAR','alt':'VARCHAR','s':'VARCHAR',
        |      'gt':'INTEGER','paa8':'INTEGER','pab8':'INTEGER'})
        |  WHERE paa8 IS NOT NULL),
        |ef AS (
        |  SELECT contig, position, ref, alt,
        |    pab + 2.0 * pbb AS e, pab + 4.0 * pbb AS f
        |  FROM g),
        |s AS (
        |  SELECT contig, position, ref, alt,
        |    CAST(count(*) AS INTEGER) AS n_included,
        |    sum(e) AS se, sum(f - e * e) AS sfe,
        |    sum(e) / (2.0 * count(*)) AS theta
        |  FROM ef GROUP BY 1, 2, 3, 4)
        |SELECT contig, position, ref, alt,
        |  round(CASE
        |    WHEN n_included = 0 THEN NULL
        |    WHEN theta > 0.0 AND theta < 1.0
        |      THEN 1.0 - sfe / (2.0 * n_included * theta * (1.0 - theta))
        |    ELSE 1.0 END, 6) AS score,
        |  n_included
        |FROM s""".stripMargin,

    // pc_relate with k=2 literal PCs: identical estimator SQL to
    // geno_pc_relate except mu_s = (H g)_s / 2 with the hat matrix
    // H = X(X'X)^-1 X' of the literal design X = [1|pc1|pc2], embedded
    // below as 25 constants (computed from the same literals the Spark
    // side passes — never from data)
    "geno_pc_relate_pcs" -> {
      val x = breeze.linalg.DenseMatrix.tabulate(5, 3)((i, j) =>
        if (j == 0) 1.0 else PcRelateScores(i)(j - 1))
      val h = x * breeze.linalg.inv(x.t * x) * x.t
      val hatVals = (for { si <- 0 until 5; ti <- 0 until 5 }
        yield s"($si, $ti, ${h(si, ti)})").mkString(", ")
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, s, CAST(a1 + a2 AS DOUBLE) AS dose
        |  FROM q),
        |st AS (
        |  SELECT contig, position, avg(dose) AS meang
        |  FROM d GROUP BY 1, 2),
        |c0 AS (
        |  SELECT d.contig, d.position,
        |    CAST(substr(d.s, 2, 10) AS INTEGER) - 1 AS idx,
        |    coalesce(dose, meang) AS gv
        |  FROM d JOIN st USING (contig, position)),
        |hm AS (SELECT * FROM (VALUES $hatVals) AS h(hs, ht, w)),
        |mus AS (
        |  SELECT g.contig, g.position, hm.hs AS idx,
        |    sum(hm.w * g.gv) / 2.0 AS mu
        |  FROM c0 g JOIN hm ON hm.ht = g.idx
        |  GROUP BY 1, 2, 3),
        |c1 AS (
        |  SELECT c0.contig, c0.position, c0.idx, c0.gv, mus.mu,
        |    gv IS NULL OR gv NOT IN (0.0, 1.0, 2.0) OR mu IS NULL
        |      OR mu <= 0.05 OR mu >= 0.95 OR mu <= 0.0 OR mu >= 1.0
        |      AS bad
        |  FROM c0 JOIN mus ON mus.contig = c0.contig
        |    AND mus.position = c0.position AND mus.idx = c0.idx),
        |f AS (
        |  SELECT contig, position, idx,
        |    CASE WHEN bad THEN 0.0 ELSE gv / 2.0 - mu END AS a,
        |    CASE WHEN bad THEN 0.0 ELSE sqrt(mu * (1.0 - mu)) END AS sd,
        |    CASE WHEN bad OR gv <> 2.0 THEN 0.0 ELSE 1.0 END AS ha,
        |    CASE WHEN bad OR gv <> 0.0 THEN 0.0 ELSE 1.0 END AS hr,
        |    CASE WHEN bad THEN 0.0 ELSE mu * mu END AS mu2,
        |    CASE WHEN bad THEN 0.0
        |      ELSE (1.0 - mu) * (1.0 - mu) END AS om2,
        |    CASE WHEN bad THEN 0.0
        |      ELSE CASE WHEN gv = 0.0 THEN mu WHEN gv = 1.0 THEN 0.0
        |        ELSE 1.0 - mu END END AS gd,
        |    CASE WHEN bad THEN 0.0 ELSE mu * (1.0 - mu) END AS v
        |  FROM c1),
        |selfphi AS (
        |  SELECT idx, 2.0 * (sum(a * a) / sum(sd * sd)) AS c
        |  FROM f GROUP BY idx),
        |pairs AS (
        |  SELECT x.idx AS i, y.idx AS j,
        |    sum(x.a * y.a) AS saa, sum(x.sd * y.sd) AS sss,
        |    sum(x.gd * y.gd) AS sgg, sum(x.gd * y.v) AS sgv,
        |    sum(x.v * y.gd) AS svg, sum(x.v * y.v) AS svv,
        |    sum(x.ha * y.hr) + sum(x.hr * y.ha) AS ibs0,
        |    sum(x.mu2 * y.om2) + sum(x.om2 * y.mu2) AS denom
        |  FROM f x JOIN f y ON x.contig = y.contig
        |    AND x.position = y.position AND x.idx < y.idx
        |  GROUP BY 1, 2),
        |k AS (
        |  SELECT i, j, saa / sss AS phi,
        |    (sgg - cj.c * sgv - ci.c * svg + ci.c * cj.c * svv) / svv
        |      AS k2,
        |    ibs0, denom
        |  FROM pairs
        |  JOIN selfphi ci ON ci.idx = pairs.i
        |  JOIN selfphi cj ON cj.idx = pairs.j),
        |kk AS (
        |  SELECT i, j, phi, k2,
        |    CASE WHEN phi <= pow(2.0, -2.5) THEN 1.0 - 4.0 * phi + k2
        |         ELSE ibs0 / denom END AS k0
        |  FROM k)
        |SELECT i, j, round(phi, 6) + 0.0 AS kin,
        |  round(k0, 6) + 0.0 AS ibd0,
        |  round(1.0 - (k2 + k0), 6) + 0.0 AS ibd1,
        |  round(k2, 6) + 0.0 AS ibd2
        |FROM kk""".stripMargin
    },

    // golden literal oracle; values independently reproduced by LmmSpec's
    // dense (non-spectral) REML replay — see the gate query comment
    "lmm_kinship" -> LmmKinshipGolden,

    // q_stat from the exact SQL quadratic form; p_value joined as a
    // literal golden per group (imhofTail's exactness is spec-proven on
    // closed-form mixtures, SkatSpec)
    "geno_skat_p" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |yy AS (
        |  SELECT DISTINCT s, CAST(substr(s, 2, 10) AS DOUBLE) AS yv
        |  FROM q),
        |st AS (SELECT avg(yv) AS ybar FROM yy),
        |r AS (SELECT s, yv - ybar AS res FROM yy, st),
        |ss AS (
        |  SELECT sum(res * res) / (count(*) - 1) AS sigsq FROM r),
        |mi AS (
        |  SELECT contig, position, ref, alts, s,
        |    coalesce(CAST(a1 + a2 AS DOUBLE),
        |      avg(CAST(a1 + a2 AS DOUBLE))
        |        OVER (PARTITION BY contig, position, ref, alts)) AS x
        |  FROM q),
        |qv AS (
        |  SELECT contig, position, ref, alts,
        |    pow(sum(r.res * mi.x), 2)
        |      * (CAST(1.0 AS DOUBLE) / (position % 7 + 1)) AS qc
        |  FROM mi JOIN r USING (s)
        |  GROUP BY contig, position, ref, alts),
        |qs AS (
        |  SELECT contig AS id, CAST(count(*) AS INTEGER) AS size,
        |    round(sum(qc) / (2 * ss.sigsq), 6) AS q_stat
        |  FROM qv, ss GROUP BY contig, ss.sigsq)
        |SELECT id, size, q_stat, p.p_value
        |FROM qs JOIN (VALUES $SkatPGolden) AS p(id, p_value) USING (id)""".stripMargin
    },

    // linear SKAT q_stat is the closed quadratic form
    // sum_v w_v (res . x_v)^2 / (2 sigma^2) with an intercept-only null
    "geno_skat" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |yy AS (
        |  SELECT DISTINCT s, CAST(substr(s, 2, 10) AS DOUBLE) AS yv
        |  FROM q),
        |st AS (SELECT avg(yv) AS ybar FROM yy),
        |r AS (SELECT s, yv - ybar AS res FROM yy, st),
        |ss AS (
        |  SELECT sum(res * res) / (count(*) - 1) AS sigsq FROM r),
        |mi AS (
        |  SELECT contig, position, ref, alts, s,
        |    coalesce(CAST(a1 + a2 AS DOUBLE),
        |      avg(CAST(a1 + a2 AS DOUBLE))
        |        OVER (PARTITION BY contig, position, ref, alts)) AS x
        |  FROM q),
        |qv AS (
        |  SELECT contig, position, ref, alts,
        |    pow(sum(r.res * mi.x), 2)
        |      * (CAST(1.0 AS DOUBLE) / (position % 7 + 1)) AS qc
        |  FROM mi JOIN r USING (s)
        |  GROUP BY contig, position, ref, alts)
        |SELECT contig AS id, CAST(count(*) AS INTEGER) AS size,
        |  round(sum(qc) / (2 * ss.sigsq), 6) AS q_stat
        |FROM qv, ss GROUP BY contig, ss.sigsq""".stripMargin
    },

    "table_filter_locus_intervals" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base
        |SELECT DISTINCT contig, position, ref, qual
        |FROM raw
        |WHERE (contig = 'chr1' AND position >= 1500)
        |   OR (contig = 'chr2' AND position < 1000)""".stripMargin
    },

    "geno_king" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |g AS (
        |  SELECT contig, position, s,
        |    CASE WHEN a1 = 0 AND a2 = 0 THEN 2
        |         WHEN a1 <> a2 THEN 3 ELSE 4 END AS c
        |  FROM q WHERE a1 IS NOT NULL)
        |SELECT a.s AS s_i, b.s AS s_j, count(*) AS n_shared,
        |  CAST(sum(CASE WHEN a.c = 3 AND b.c = 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_het_het,
        |  CAST(sum(CASE WHEN (a.c = 2 AND b.c = 4) OR
        |    (a.c = 4 AND b.c = 2) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_opp_hom,
        |  round((sum(CASE WHEN a.c = 3 AND b.c = 3 THEN 1 ELSE 0 END)
        |    - 2.0 * sum(CASE WHEN (a.c = 2 AND b.c = 4)
        |        OR (a.c = 4 AND b.c = 2) THEN 1 ELSE 0 END))
        |    / (sum(CASE WHEN a.c = 3 THEN 1 ELSE 0 END)
        |       + sum(CASE WHEN b.c = 3 THEN 1 ELSE 0 END)), 6) AS phi
        |FROM g a JOIN g b
        |  ON a.contig = b.contig AND a.position = b.position AND a.s < b.s
        |GROUP BY 1, 2""".stripMargin
    },

    // golden kept-set (regenerate from a Verify dump after an intended
    // pruning change; MethodsSpec proves the r² semantics)
    "geno_ld_prune" ->
      """SELECT contig, CAST(position AS INTEGER) AS position, ref, alts
        |FROM (VALUES
        |  ('chr1', 215, 'C', 'G'),
        |  ('chr1', 333, 'G', 'C'),
        |  ('chr1', 612, 'G', 'T'),
        |  ('chr1', 2022, 'G', 'C'),
        |  ('chr1', 2548, 'C', 'T'),
        |  ('chr1', 4057, 'C', 'A'),
        |  ('chr1', 4153, 'G', 'A'),
        |  ('chr1', 4271, 'G', 'A'),
        |  ('chr2', 295, 'G', 'A'),
        |  ('chr2', 1093, 'T', 'G'),
        |  ('chr2', 2032, 'G', 'A'),
        |  ('chr2', 2895, 'T', 'A'),
        |  ('chr2', 3188, 'T', 'C')) t(contig, position, ref, alts)""".stripMargin,

    "geno_ld_matrix" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, ref, alts, s,
        |    CAST(a1 + a2 AS DOUBLE) AS dose
        |  FROM q),
        |st AS (
        |  SELECT contig, position, ref, alts, sum(dose) AS ac,
        |    sum(dose * dose) AS acsq, count(dose) AS nc
        |  FROM d GROUP BY 1, 2, 3, 4),
        |nr AS (
        |  SELECT d.contig, d.position, d.ref, d.alts, d.s,
        |    coalesce((dose - ac / nc)
        |      / sqrt(acsq - ac * ac / nc), 0) AS n
        |  FROM d JOIN st USING (contig, position, ref, alts)
        |  WHERE nc > 0 AND sqrt(acsq - ac * ac / nc) > 1e-6)
        |SELECT a.contig, a.position AS pos_i, b.position AS pos_j,
        |  round(sum(a.n * b.n), 6) + 0.0 AS r
        |FROM nr a JOIN nr b
        |  ON a.contig = b.contig AND a.s = b.s
        |  AND (a.position < b.position OR (a.position = b.position
        |    AND (a.ref || '_' || a.alts) < (b.ref || '_' || b.alts)))
        |  AND b.position <= a.position + 1500
        |GROUP BY a.contig, a.position, a.ref, a.alts,
        |  b.position, b.ref, b.alts""".stripMargin
    },

    "bgen_import" -> BgenImportOracleSql,
    "bgen_export_roundtrip" -> BgenImportOracleSql,

    "gen_import" -> GenImportOracleSql,
    "gen_write_roundtrip" -> GenImportOracleSql,

    "plink_import" -> PlinkImportOracleSql,
    "plink_write_roundtrip" -> PlinkImportOracleSql,

    "matrix_table_import" ->
      """SELECT CAST(id AS BIGINT) AS id, foo, col_id,
        |  CAST(x AS DOUBLE) AS x
        |FROM (VALUES
        |  (1, 'a', 'c1', 0.5), (1, 'a', 'c2', NULL), (1, 'a', 'c3', 2.5),
        |  (2, 'b', 'c1', 1.0), (2, 'b', 'c2', 1.5), (2, 'b', 'c3', NULL))
        |AS t(id, foo, col_id, x)""".stripMargin,

    "vcf_import" -> VcfImportOracleSql,

    // the iterated kernels converge to closed forms
    "fn_tail_loop" ->
      """SELECT p_partkey,
        |  round(sqrt(CAST(p_partkey AS DOUBLE)), 8) AS sqrt_k,
        |  round(cbrt(CAST(p_partkey AS DOUBLE)), 8) AS cbrt_k
        |FROM part WHERE p_partkey <= 200""".stripMargin,

    // fixture constants (tools/make_ht_fixture.py writes them literally)
    "ht_export" ->
      """SELECT n_nationkey, n_name, n_regionkey, 'tpch' AS g_source
        |FROM nation""".stripMargin,

    "mt_export" -> VcfImportOracleSql,

    "ht_import" ->
      """SELECT CAST(id AS INTEGER) AS id, name, CAST(score AS DOUBLE)
        |    AS score, tags,
        |  CAST(info_a AS INTEGER) AS info_a, info_b,
        |  CAST(maybe AS DOUBLE) AS maybe, 'EUR' AS g_pop
        |FROM (VALUES
        |  (1, 'alpha', 1.5, 'x,y', 10, true, 2.25),
        |  (2, 'beta', -3.0, '', NULL, false, NULL),
        |  (3, 'gamma', 0.125, 'z,w', 7, true, -1.0),
        |  (4, 'delta', 4.5, 'q', 0, false, 0.5),
        |  (5, 'epsilon', 9.0, '', 128, true, NULL))
        |  t(id, name, score, tags, info_a, info_b, maybe)""".stripMargin,

    "mt_import" ->
      """SELECT contig, CAST(position AS INTEGER) AS position, ref,
        |  CAST(n_called AS INTEGER) AS n_called,
        |  CAST(dp_sum AS INTEGER) AS dp_sum,
        |  CAST(2 AS INTEGER) AS n_cols, 'fixture' AS g_note
        |FROM (VALUES
        |  ('chr1', 100, 'A', 2, 10),
        |  ('chr1', 200, 'C', 1, 25),
        |  ('chr2', 300, 'G', 2, 15))
        |  t(contig, position, ref, n_called, dp_sum)""".stripMargin,

    // the awk stand-in's annotations are closed-form in the fixture row
    "nirvana_annotate" ->
      """WITH raw AS (
        |  SELECT * FROM read_csv(
        |    '/root/repo/src/test/resources/oracle_sample.vcf',
        |    delim='\t', header=false, skip=7,
        |    columns={'contig':'VARCHAR','position':'INTEGER',
        |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
        |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
        |      'fmt':'VARCHAR','S1':'VARCHAR','S2':'VARCHAR','S3':'VARCHAR',
        |      'S4':'VARCHAR','S5':'VARCHAR'}))
        |SELECT contig, position, ref, alts,
        |  contig || 'q' || CAST(position % 30 AS VARCHAR) AS band,
        |  CAST(position % 7 + 0.5 AS DOUBLE) AS phylop,
        |  CASE WHEN length(ref) = 1 AND length(alts) = 1
        |    THEN 'SNV' ELSE 'indel' END AS vtype,
        |  contig || ':' || CAST(position AS VARCHAR) || ':' || ref
        |    || ':' || alts AS vid,
        |  'GENE' || CAST(position % 5 AS VARCHAR) AS gene_id,
        |  CAST(position + length(ref) - 1 AS INTEGER) AS vend
        |FROM raw""".stripMargin,

    "vep_annotate" ->
      """WITH raw AS (
        |  SELECT * FROM read_csv(
        |    '/root/repo/src/test/resources/oracle_sample.vcf',
        |    delim='\t', header=false, skip=7,
        |    columns={'contig':'VARCHAR','position':'INTEGER',
        |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
        |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
        |      'fmt':'VARCHAR','S1':'VARCHAR','S2':'VARCHAR','S3':'VARCHAR',
        |      'S4':'VARCHAR','S5':'VARCHAR'}))
        |SELECT contig, position, ref, alts,
        |  'GRCh38' AS assembly_name,
        |  ref || '/' || alts AS allele_string,
        |  position AS vstart,
        |  CAST(position + length(ref) - 1 AS INTEGER) AS vend,
        |  CASE WHEN length(ref) = 1 AND length(alts) = 1
        |    THEN 'missense_variant' ELSE 'indel' END AS msc,
        |  'GENE' || (position % 5) AS gene_id
        |FROM raw""".stripMargin,

    // the text-writer round-trip restores the import projection exactly
    "vcf_write_roundtrip" -> VcfImportOracleSql,

    "table_pipe_cat" ->
      "SELECT r_regionkey, r_name FROM region",

    "matrix_explode_rows" ->
      """SELECT l_orderkey,
        |  unnest(range(1, 2 + l_orderkey % 2)) AS tag,
        |  CAST(7 AS INTEGER) AS n_cols
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem)""".stripMargin,

    "matrix_union_cols" ->
      s"""SELECT l_orderkey, l_linenumber AS line_no, qty
        |FROM $cellSql""".stripMargin,

    "matrix_unfilter_entries" ->
      s"""SELECT
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem) * 7
        |    AS n_entries,
        |  count(*) FILTER (WHERE qty >= 10.0) AS n_qty,
        |  CAST(sum(CAST(qty AS DECIMAL(18,4)))
        |    FILTER (WHERE qty >= 10.0) AS DOUBLE) AS sum_qty
        |FROM $cellSql""".stripMargin,

    "trio_matrix" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
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
    },

    "linalg_rrm" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (
        |  SELECT contig, position, s, CAST(a1 + a2 AS DOUBLE) AS dose
        |  FROM q),
        |st AS (
        |  SELECT contig, position, sum(dose) AS ac,
        |    sum(dose * dose) AS acsq, count(dose) AS nc
        |  FROM d GROUP BY 1, 2),
        |ln AS (
        |  SELECT *, sqrt(acsq - ac * ac / nc) AS len
        |  FROM st WHERE nc > 0),
        |f AS (
        |  SELECT d.contig, d.position,
        |    CAST(substr(d.s, 2, 10) AS INTEGER) - 1 AS idx,
        |    coalesce((dose - ac / nc) / len, 0) AS nrm
        |  FROM d JOIN ln USING (contig, position)
        |  WHERE len > 0.1),
        |mm AS (SELECT count(*) AS m FROM ln WHERE len > 0.1)
        |SELECT a.idx AS i, b.idx AS j,
        |  round(5.0 / mm.m * sum(a.nrm * b.nrm), 6) AS rrm
        |FROM f a
        |JOIN f b ON a.contig = b.contig AND a.position = b.position
        |  AND a.idx <= b.idx, mm
        |GROUP BY a.idx, b.idx, mm.m""".stripMargin
    },

    "fn_strings" ->
      """SELECT n_nationkey,
        |  CAST(length(n_name) AS INTEGER) AS len,
        |  lower(n_name) AS lo,
        |  substr(n_name, 2, 3) AS sub,
        |  reverse(n_name) AS rev,
        |  lpad(n_name, 12, '.') AS pad,
        |  translate(n_name, 'AEIOU', 'aeiou') AS tr,
        |  CAST(levenshtein(n_name, 'UNITED STATES') AS INTEGER) AS lev,
        |  CAST(hamming(substr(n_name, 1, 4),
        |    reverse(substr(n_name, 1, 4))) AS INTEGER) AS ham,
        |  NULLIF(regexp_extract(n_name, '[AEIOU]+'), '') AS vow,
        |  strftime(make_timestamp(
        |    (CAST(n_nationkey AS BIGINT) * 3600 + 7200) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS ts,
        |  CAST(n_nationkey AS BIGINT) * 3600 + 7200 AS secs
        |FROM nation""".stripMargin,

    "fn_sets" ->
      """WITH t0 AS (
        |  SELECT p_partkey,
        |    list_sort(list_distinct(string_split(p_type, ' '))) AS a
        |  FROM part WHERE p_partkey <= 500)
        |SELECT p_partkey, array_to_string(a, ',') AS set_a,
        |  array_to_string(list_sort(list_distinct(
        |    list_concat(a, ['PLATED', 'BRUSHED']))), ',') AS u,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_intersect(a, ['PLATED', 'BRUSHED']))), ','), '') AS i,
        |  coalesce(array_to_string(list_sort(list_filter(a,
        |    x -> NOT list_contains(['PLATED', 'BRUSHED'], x))), ','), '')
        |    AS d,
        |  list_contains(a, 'STEEL') AS has_steel,
        |  len(list_filter(['STEEL', 'BRUSHED'],
        |    x -> NOT list_contains(a, x))) = 0 AS sub_ab,
        |  array_to_string(list_sort(list_distinct(
        |    list_concat(a, ['zzz']))), ',') AS added,
        |  coalesce(array_to_string(list_filter(a, x -> x != a[1]), ','),
        |    '') AS removed,
        |  CAST(len(list_filter(a, x -> x < 'N')) AS INTEGER) AS lb
        |FROM t0""".stripMargin,

    "fn_intervals" ->
      """SELECT o_orderkey,
        |  (p >= s AND p < e) AS contains_p,
        |  NOT (e <= 50 OR s > 60) AS overlaps_q,
        |  (o_orderkey % 3) >= 1 AS is_empty
        |FROM (
        |  SELECT o_orderkey, o_custkey % 100 AS s,
        |    o_custkey % 100 + 10 AS e, o_orderkey % 120 AS p
        |  FROM orders WHERE o_orderkey <= 2000)""".stripMargin,

    "fn_util" ->
      """SELECT o_orderkey,
        |  (o_orderkey * (o_orderkey + 1)) // 2 AS tri,
        |  printf('%d:%s', o_orderkey, o_orderstatus) AS fmt,
        |  abs(o_totalprice - round(o_totalprice, 0)) <= 1e-6 *
        |    greatest(abs(o_totalprice),
        |      abs(round(o_totalprice, 0)), 1.0) AS sim
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin,

    "fn_ndarray" ->
      """SELECT o_orderkey,
        |  CAST((1 + o_orderkey % 3) * (o_orderkey % 5) AS DOUBLE) AS m11,
        |  CAST(2 + o_orderkey % 3 AS DOUBLE) AS m12,
        |  CAST(o_orderkey % 5 AS DOUBLE) AS m21,
        |  CAST(3 + o_orderkey % 2 AS DOUBLE) AS m22,
        |  round((o_orderkey % 2) / det, 6) AS x1,
        |  round((2 * (1 + o_orderkey % 3) - 1) / det, 6) AS x2,
        |  CAST(2 + o_orderkey % 3 AS DOUBLE) AS ref01,
        |  round(((o_orderkey % 2) + 2 * (1 + o_orderkey % 3) - 1) / det, 6)
        |    AS ssum
        |FROM (
        |  SELECT o_orderkey,
        |    CAST((1 + o_orderkey % 3) * (2 + o_orderkey % 2) - 1 AS DOUBLE)
        |      AS det
        |  FROM orders WHERE o_orderkey <= 200)""".stripMargin,

    // closed forms: base(i,j) = 3i+j+1 + k%3 on the 2x3 source
    "fn_ndarray_ops" ->
      """SELECT o_orderkey,
        |  CAST(2 + o_orderkey % 3 AS DOUBLE) AS t10,
        |  CAST(6 + o_orderkey % 3 AS DOUBLE) AS t21,
        |  CAST(6 + o_orderkey % 3 AS DOUBLE) AS s11,
        |  CAST(5 + o_orderkey % 3 AS DOUBLE) AS c14,
        |  CAST(6 + o_orderkey % 3 AS DOUBLE) AS c32,
        |  CAST(6 + o_orderkey % 3 AS DOUBLE) AS f01,
        |  CAST(7 + 2 * (o_orderkey % 3) AS DOUBLE) AS sa0,
        |  CAST(6 + 3 * (o_orderkey % 3) AS DOUBLE) AS sa1
        |FROM orders WHERE o_orderkey <= 200""".stripMargin,

    // closed forms per element: band keeps |col-row| diagonals in
    // [-1,1]; row intervals keep [start_i, stop_i); lower-triangular
    // substitution x1 = 1/a, x2 = (2 - c*x1)/d
    "fn_ndarray_band" ->
      """SELECT o_orderkey,
        |  CAST(1 + o_orderkey % 3 AS DOUBLE) AS b00,
        |  CAST(0 AS DOUBLE) AS b02,
        |  CAST(5 + o_orderkey % 3 AS DOUBLE) AS b10,
        |  CAST(0 AS DOUBLE) AS b20,
        |  CAST(0 AS DOUBLE) AS r00,
        |  CAST(2 + o_orderkey % 3 AS DOUBLE) AS r01,
        |  CAST(0 AS DOUBLE) AS r13,
        |  CAST(12 + o_orderkey % 3 AS DOUBLE) AS r23,
        |  round(1.0 / (o_orderkey % 5 + 1), 6) AS x1,
        |  round((2 - (o_orderkey % 3 + 1) * (1.0 / (o_orderkey % 5 + 1)))
        |    / (o_orderkey % 2 + 1), 6) AS x2
        |FROM orders WHERE o_orderkey <= 200""".stripMargin,

    // closed forms of the accumulated A and A@B cells (see the gate)
    "agg_ndarray_sum" ->
      """WITH o AS (
        |  SELECT CAST(o_orderkey % 5 AS DOUBLE) AS x,
        |    CAST(o_custkey % 7 AS DOUBLE) AS y
        |  FROM orders WHERE o_orderkey <= 1000)
        |SELECT CAST(2 AS BIGINT) AS shape_r, CAST(2 AS BIGINT) AS shape_c,
        |  sum(x) AS sum11, CAST(count(*) AS DOUBLE) AS sum12,
        |  CAST(0 AS DOUBLE) AS sum21, sum(y) AS sum22,
        |  sum(x + y) AS ma11, sum(2 * x) AS ma12,
        |  sum(y * y) AS ma21, CAST(0 AS DOUBLE) AS ma22
        |FROM o""".stripMargin,

    "export_entries_by_col" ->
      s"""SELECT l_orderkey, l_linenumber AS line_no, qty, price
        |FROM $cellSql""".stripMargin,

    // |R| entries from the Gram identities of A's columns; QR recon
    // error is exactly 0 at 6 decimals
    "ndarray_qr" ->
      """WITH b AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 7 + 1 AS DOUBLE) AS a11,
        |    CAST(p_partkey % 5 + 2 AS DOUBLE) AS a12,
        |    CAST(p_partkey % 3 + 3 AS DOUBLE) AS a21,
        |    CAST(p_partkey % 11 + 1 AS DOUBLE) AS a22,
        |    CAST(p_partkey % 13 + 2 AS DOUBLE) AS a31,
        |    CAST(p_partkey % 2 + 4 AS DOUBLE) AS a32
        |  FROM part WHERE p_partkey <= 20),
        |g AS (
        |  SELECT p_partkey,
        |    a11*a11 + a21*a21 + a31*a31 AS g11,
        |    a12*a12 + a22*a22 + a32*a32 AS g22,
        |    a11*a12 + a21*a22 + a31*a32 AS g12
        |  FROM b)
        |SELECT p_partkey,
        |  round(sqrt(g11), 6) AS r11,
        |  round(abs(g12) / sqrt(g11), 6) AS r12,
        |  round(sqrt(g11*g22 - g12*g12) / sqrt(g11), 6) AS r22,
        |  0.0 AS recon_err
        |FROM g""".stripMargin,

    // singular values of a 2x2 via the quadratic formula on M'M
    "ndarray_svd" ->
      """WITH b AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 7 + 1 AS DOUBLE) AS a,
        |    CAST(p_partkey % 5 AS DOUBLE) AS bb,
        |    CAST(p_partkey % 3 + 2 AS DOUBLE) AS c,
        |    CAST(p_partkey % 11 + 1 AS DOUBLE) AS d
        |  FROM part WHERE p_partkey <= 20),
        |g AS (
        |  SELECT p_partkey,
        |    a*a + c*c AS p, bb*bb + d*d AS q, a*bb + c*d AS r
        |  FROM b)
        |SELECT p_partkey,
        |  round(sqrt((p + q + sqrt((p-q)*(p-q) + 4*r*r)) / 2), 6) AS s1,
        |  round(sqrt(greatest(p + q - sqrt((p-q)*(p-q) + 4*r*r), 0)
        |    / 2), 6) AS s2
        |FROM g""".stripMargin,

    // symmetric 2x2 eigenvalues, ascending like Breeze eigSym
    "ndarray_eigh" ->
      """WITH b AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 7 + 2 AS DOUBLE) AS a,
        |    CAST(p_partkey % 4 AS DOUBLE) AS bb,
        |    CAST(p_partkey % 5 + 5 AS DOUBLE) AS c
        |  FROM part WHERE p_partkey <= 20)
        |SELECT p_partkey,
        |  round((a + c) / 2 - sqrt((a-c)*(a-c)/4 + bb*bb), 6) AS ev1,
        |  round((a + c) / 2 + sqrt((a-c)*(a-c)/4 + bb*bb), 6) AS ev2
        |FROM b""".stripMargin,

    "ndarray_inv" ->
      """WITH b AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 7 + 2 AS DOUBLE) AS a,
        |    CAST(p_partkey % 5 AS DOUBLE) AS bb,
        |    CAST(p_partkey % 3 AS DOUBLE) AS c,
        |    CAST(p_partkey % 11 + 9 AS DOUBLE) AS d
        |  FROM part WHERE p_partkey <= 20),
        |w AS (SELECT *, a * d - bb * c AS det FROM b)
        |SELECT p_partkey,
        |  round(d / det, 6) + 0.0 AS i11,
        |  round(-bb / det, 6) + 0.0 AS i12,
        |  round(-c / det, 6) + 0.0 AS i21,
        |  round(a / det, 6) + 0.0 AS i22
        |FROM w""".stripMargin,

    "matrix_key_rows_by" ->
      """WITH raw AS (
        |  SELECT * FROM read_csv(
        |    '/root/repo/src/test/resources/oracle_sample.vcf',
        |    delim='\t', header=false, skip=7,
        |    columns={'contig':'VARCHAR','position':'INTEGER',
        |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
        |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
        |      'fmt':'VARCHAR','S1':'VARCHAR','S2':'VARCHAR','S3':'VARCHAR',
        |      'S4':'VARCHAR','S5':'VARCHAR'}))
        |SELECT qual, position, ref, alts
        |FROM raw ORDER BY qual, position LIMIT 5""".stripMargin,

    // golden VALUES: seeded xxhash64 row / MurmurHash3 col subsets are
    // deterministic but not DuckDB-reproducible (same trick as
    // rand_seeded); regenerate by re-dumping matrix_sample after an
    // intentional change to the hash contract
    "matrix_sample" ->
      """SELECT contig, CAST(position AS INTEGER) AS position, ref,
        |  CAST(kept_cols AS INTEGER) AS kept_cols, kept_samples
        |FROM (VALUES
        |  ('chr2', 564, 'A'), ('chr1', 612, 'G'), ('chr2', 628, 'T'),
        |  ('chr2', 1093, 'T'), ('chr1', 1436, 'C'), ('chr1', 2022, 'G'),
        |  ('chr2', 2032, 'G'), ('chr2', 2453, 'T'), ('chr2', 2895, 'T'),
        |  ('chr2', 3188, 'T'), ('chr1', 3503, 'A'), ('chr1', 3646, 'T'))
        |  t(contig, position, ref),
        |  (VALUES (3, 'S1,S2,S3')) c(kept_cols, kept_samples)""".stripMargin,

    "tidyr_spread" ->
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)
        |    AS DECIMAL(18,4)) AS DOUBLE) AS F,
        |  CAST(CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)
        |    AS DECIMAL(18,4)) AS DOUBLE) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "tidyr_gather" ->
      """SELECT p_partkey, 'size' AS field,
        |  CAST(p_size AS DOUBLE) AS value
        |FROM part WHERE p_partkey <= 100
        |UNION ALL
        |SELECT p_partkey, 'retail' AS field,
        |  CAST(p_retailprice AS DOUBLE) AS value
        |FROM part WHERE p_partkey <= 100""".stripMargin,

    "table_gen" ->
      """SELECT CAST(c AS INTEGER) AS ctx, CAST(j AS INTEGER) AS idx,
        |  CAST(c * 100 + j AS BIGINT) AS v
        |FROM (
        |  SELECT c, unnest(range(0, c)) AS j
        |  FROM (SELECT unnest(range(0, 8)) AS c))""".stripMargin,

    "balding_nichols" -> BaldingNicholsGolden,

    "avro_read" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "avro_write_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "matrix_explode_cols" ->
      s"""SELECT l_orderkey, l_linenumber AS line_no,
        |  unnest([l_linenumber, l_linenumber * 10]) AS tags, qty
        |FROM $cellSql""".stripMargin,

    "matrix_map_globals" ->
      """SELECT l_orderkey, 'r5' AS build, 3 AS k
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem)""".stripMargin,

    "fn_faf" ->
      """SELECT * FROM (VALUES
        |  ('chr1', 215, 1, 6, 0.0, 0.0),
        |  ('chr1', 333, 4, 10, 0.136631, 0.082325),
        |  ('chr1', 612, 4, 8, 0.170789, 0.102906),
        |  ('chr1', 993, 4, 10, 0.136631, 0.082325),
        |  ('chr1', 1161, 5, 8, 0.246268, 0.159888),
        |  ('chr1', 1436, 7, 10, 0.328531, 0.23302),
        |  ('chr1', 1568, 7, 10, 0.328531, 0.23302),
        |  ('chr1', 2022, 5, 10, 0.197015, 0.12791),
        |  ('chr1', 2242, 2, 10, 0.035535, 0.014855),
        |  ('chr1', 2548, 3, 8, 0.102211, 0.054505),
        |  ('chr1', 2882, 3, 8, 0.102211, 0.054505),
        |  ('chr1', 3093, 3, 10, 0.081769, 0.043604),
        |  ('chr1', 3503, 4, 8, 0.170789, 0.102906),
        |  ('chr1', 3646, 3, 10, 0.081769, 0.043604),
        |  ('chr1', 3787, 5, 10, 0.197015, 0.12791),
        |  ('chr1', 4057, 3, 10, 0.081769, 0.043604),
        |  ('chr1', 4153, 3, 10, 0.081769, 0.043604),
        |  ('chr1', 4271, 5, 8, 0.246268, 0.159888),
        |  ('chr2', 295, 5, 8, 0.246268, 0.159888),
        |  ('chr2', 353, 4, 10, 0.136631, 0.082325),
        |  ('chr2', 564, 4, 10, 0.136631, 0.082325),
        |  ('chr2', 628, 6, 8, 0.326627, 0.22316),
        |  ('chr2', 1093, 5, 10, 0.197015, 0.12791),
        |  ('chr2', 1465, 6, 10, 0.261301, 0.178528),
        |  ('chr2', 1515, 5, 10, 0.197015, 0.12791),
        |  ('chr2', 1593, 4, 8, 0.170789, 0.102906),
        |  ('chr2', 2032, 3, 10, 0.081769, 0.043604),
        |  ('chr2', 2453, 3, 8, 0.102211, 0.054505),
        |  ('chr2', 2895, 4, 6, 0.227719, 0.137207),
        |  ('chr2', 3188, 3, 10, 0.081769, 0.043604))
        |v(contig, position, ac, an, faf95, faf99)""".stripMargin,

    "fn_haplotype_em" ->
      """SELECT * FROM (VALUES
        |  (1, 10.0, 0.0, 0.0, 0.0),
        |  (2, 11.914723, 2.085277, 2.085277, 3.914723),
        |  (3, 0.0, 10.0, 10.0, 0.0),
        |  (4, 10.055847, 28.944153, 16.944153, 34.055847),
        |  (5, 9.10163, 4.89837, 4.89837, 9.10163))
        |v(id, h_ab, h_a_b, h_b_a, h_ab_low)""".stripMargin,

    "geno_ldsc" ->
      """SELECT 'gwas1' AS phenotype, 32.35 AS mean_chi_sq,
        |  15.121377 AS intercept, 3.433036 AS intercept_se,
        |  0.085999 AS snp_h2, 0.010263 AS snp_h2_se""".stripMargin,

    "geno_ld_score" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (SELECT contig, position, s, CAST(a1 + a2 AS DOUBLE) AS dose
        |  FROM q),
        |mu AS (SELECT contig, position, avg(dose) AS mu FROM d
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT d.contig, d.position, d.s,
        |    coalesce(d.dose, mu.mu) - mu.mu AS xc
        |  FROM d JOIN mu USING (contig, position)),
        |nr AS (SELECT contig, position, sqrt(sum(xc * xc)) AS nrm FROM c
        |  GROUP BY 1, 2),
        |v AS (SELECT c.contig, c.position, c.s, c.xc / nr.nrm AS v
        |  FROM c JOIN nr USING (contig, position)),
        |meta AS (SELECT DISTINCT contig, position, ref, alts FROM raw),
        |padj AS (
        |  SELECT va.contig, va.position AS pi, vb.position AS pj,
        |    (4.0 / 3.0) * sum(va.v * vb.v) * sum(va.v * vb.v)
        |      - 1.0 / 3.0 AS adj
        |  FROM v va JOIN v vb
        |    ON va.s = vb.s AND va.contig = vb.contig
        |  WHERE va.position < vb.position
        |    AND vb.position <= va.position + 1000
        |  GROUP BY 1, 2, 3),
        |contrib AS (
        |  SELECT contig, pi AS position, pj AS other, adj FROM padj
        |  UNION ALL
        |  SELECT contig, pj AS position, pi AS other, adj FROM padj),
        |ann AS (SELECT contig, position,
        |    CAST(position % 5 + 1 AS DOUBLE) AS a
        |  FROM meta),
        |sc AS (
        |  SELECT c.contig, c.position,
        |    sum(c.adj) AS l2o, sum(c.adj * ao.a) AS so
        |  FROM contrib c JOIN ann ao
        |    ON c.contig = ao.contig AND c.other = ao.position
        |  GROUP BY 1, 2)
        |SELECT m.contig, m.position, m.ref, m.alts,
        |  round(an.a + coalesce(sc.so, 0), 6) AS ann1,
        |  round(1.0 + coalesce(sc.l2o, 0), 6) AS univariate
        |FROM meta m
        |JOIN ann an USING (contig, position)
        |LEFT JOIN sc USING (contig, position)""".stripMargin
    },

    "linalg_row_correlation" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base,
        |d AS (SELECT contig, position, s, CAST(a1 + a2 AS DOUBLE) AS dose
        |  FROM q),
        |mu AS (SELECT contig, position, avg(dose) AS mu FROM d
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT d.contig, d.position, d.s,
        |    coalesce(d.dose, mu.mu) - mu.mu AS xc
        |  FROM d JOIN mu USING (contig, position)),
        |nr AS (SELECT contig, position, sqrt(sum(xc * xc)) AS nrm FROM c
        |  GROUP BY 1, 2),
        |v AS (SELECT c.contig, c.position, c.s, c.xc / nr.nrm AS v
        |  FROM c JOIN nr USING (contig, position)),
        |ri AS (SELECT contig, position,
        |    row_number() OVER (ORDER BY contig, position) - 1 AS idx
        |  FROM (SELECT DISTINCT contig, position FROM d)),
        |p AS (
        |  SELECT a.idx AS i, b.idx AS j, sum(va.v * vb.v) AS r
        |  FROM v va JOIN v vb ON va.s = vb.s
        |  JOIN ri a ON va.contig = a.contig AND va.position = a.position
        |  JOIN ri b ON vb.contig = b.contig AND vb.position = b.position
        |  WHERE a.idx <= b.idx GROUP BY 1, 2)
        |SELECT i, j, round(r, 6) + 0.0 AS value FROM p
        |WHERE r IS NOT NULL AND round(r, 6) + 0.0 <> 0.0""".stripMargin
    },

    "linalg_blockmatrix" ->
      """WITH ae AS (
        |  SELECT CAST(id // 3 AS BIGINT) AS i, CAST(id % 3 AS BIGINT) AS j,
        |    CAST((id % 7) + 0.5 AS DOUBLE) AS v
        |  FROM (SELECT unnest(range(0, 12)) AS id)),
        |be AS (
        |  SELECT CAST(id // 5 AS BIGINT) AS j, CAST(id % 5 AS BIGINT) AS k,
        |    CAST((id % 5) + 0.5 AS DOUBLE) AS v
        |  FROM (SELECT unnest(range(0, 15)) AS id))
        |SELECT ae.i, be.k AS j, sum(ae.v * be.v) AS value, 'ab' AS tag
        |FROM ae JOIN be ON ae.j = be.j GROUP BY ae.i, be.k
        |UNION ALL
        |SELECT j AS i, i AS j, v AS value, 'at' AS tag FROM ae
        |UNION ALL
        |SELECT i, j, v * 3.0 AS value, 'a3' AS tag FROM ae""".stripMargin,

    "linalg_blockmatrix_io" ->
      """SELECT CAST(id // 3 AS BIGINT) AS i, CAST(id % 3 AS BIGINT) AS j,
        |  CAST((id % 7) + 0.5 AS DOUBLE) AS value
        |FROM (SELECT unnest(range(0, 12)) AS id)""".stripMargin,

    "bm_hail_io" ->
      """SELECT CAST(id // 3 AS BIGINT) AS i, CAST(id % 3 AS BIGINT) AS j,
        |  CAST((id % 7) + 0.5 AS DOUBLE) AS value
        |FROM (SELECT unnest(range(0, 12)) AS id)""".stripMargin,

    "linalg_blockmatrix_ops" ->
      """WITH ae AS (
        |  SELECT CAST(id // 3 AS BIGINT) AS i, CAST(id % 3 AS BIGINT) AS j,
        |    CAST((id % 7) + 0.5 AS DOUBLE) AS v
        |  FROM (SELECT unnest(range(0, 12)) AS id))
        |SELECT i - 1 AS i, j, v AS value, 'sl' AS tag
        |FROM ae WHERE i >= 1 AND j < 2
        |UNION ALL
        |SELECT CAST(nr.n AS BIGINT) AS i, CAST(ncl.n AS BIGINT) AS j,
        |  v AS value, 'fl' AS tag
        |FROM ae
        |JOIN (VALUES (2, 0), (0, 1)) nr(old, n) ON ae.i = nr.old
        |JOIN (VALUES (2, 0), (1, 1)) ncl(old, n) ON ae.j = ncl.old
        |UNION ALL
        |SELECT i, j,
        |  v + CASE j WHEN 0 THEN 10.0 WHEN 1 THEN 20.0 ELSE 30.0 END
        |    AS value, 'rv' AS tag
        |FROM ae
        |UNION ALL
        |SELECT i, j, v AS value, 'ri' AS tag
        |FROM ae JOIN (VALUES (0, 0, 1), (1, 1, 2), (2, 2, 3), (3, 0, 3))
        |  iv(r, s0, s1) ON ae.i = iv.r AND ae.j >= iv.s0 AND ae.j < iv.s1
        |UNION ALL
        |SELECT CAST(0 AS BIGINT) AS i, j, sum(v) AS value, 'cs' AS tag
        |FROM ae GROUP BY j""".stripMargin,

    "fn_dicts" ->
      """WITH t0 AS (
        |  SELECT p_partkey,
        |    list_sort(list_distinct(string_split(p_type, ' '))) AS a
        |  FROM part WHERE p_partkey <= 500)
        |SELECT p_partkey, array_to_string(a, ',') AS ks,
        |  CASE WHEN list_contains(a, 'STEEL')
        |    THEN CAST(5 AS INTEGER) END AS steel_len,
        |  list_contains(a, 'BRUSHED') AS has_brushed,
        |  len(a) = 0 AS empty,
        |  CAST(len(a) AS INTEGER) AS n_vals
        |FROM t0""".stripMargin,

    "udf_define_function" ->
      """SELECT r_regionkey,
        |  (CAST(r_regionkey AS BIGINT) * (r_regionkey + 1)) // 2 AS tri,
        |  round(exp(ln(CAST(r_regionkey AS DOUBLE) + 1.0)), 6) AS gm
        |FROM region""".stripMargin,

    "vcf_bgz_import" -> VcfImportOracleSql,

    "table_cached" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 100000.0 THEN 'hi' ELSE 'lo' END
        |    AS band
        |FROM orders WHERE o_orderkey <= 5000""".stripMargin,

    "vcf_region_read" -> {
      val base = vcfParseCte(VcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base
        |SELECT contig, position, ref, alts, s, a1, a2
        |FROM q
        |WHERE a1 IS NOT NULL AND (
        |  (contig = 'chr1' AND position BETWEEN 300 AND 1200) OR
        |  (contig = 'chr2' AND position BETWEEN 1 AND 700))""".stripMargin
    },

    "bed_import" ->
      """SELECT f[1] AS contig, CAST(f[2] AS INTEGER) + 1 AS start,
        |  CAST(f[3] AS INTEGER) AS "end", f[4] AS target
        |FROM (
        |  SELECT string_split_regex(trim(line), '\s+') AS f
        |  FROM read_csv(
        |    '/root/repo/src/test/resources/oracle_annotations.bed',
        |    delim='~', header=false, columns={'line':'VARCHAR'})
        |  WHERE trim(line) != '' AND NOT starts_with(trim(line), '#')
        |    AND NOT starts_with(trim(line), 'track')
        |    AND NOT starts_with(trim(line), 'browser'))""".stripMargin,

    "fam_import" ->
      """SELECT f[2] AS s, f[1] AS fam_id, f[3] AS pat_id, f[4] AS mat_id,
        |  CASE WHEN f[5] = '2' THEN true
        |       WHEN f[5] = '1' THEN false END AS is_female,
        |  CASE WHEN f[6] IN ('-9', '0') THEN NULL
        |       ELSE TRY_CAST(f[6] AS DOUBLE) END AS quant_pheno
        |FROM (
        |  SELECT string_split_regex(trim(line), '\s+') AS f
        |  FROM read_csv('/root/repo/src/test/resources/oracle_plink.fam',
        |    delim='~', header=false, columns={'line':'VARCHAR'})
        |  WHERE trim(line) != '')""".stripMargin,

    "locus_intervals_import" ->
      """SELECT regexp_extract(l, '^([^:]+):(\d+)-(\d+)$', 1) AS contig,
        |  CAST(regexp_extract(l, '^([^:]+):(\d+)-(\d+)$', 2) AS INTEGER)
        |    AS start,
        |  CAST(regexp_extract(l, '^([^:]+):(\d+)-(\d+)$', 3) AS INTEGER)
        |    AS "end"
        |FROM (
        |  SELECT trim(line) AS l
        |  FROM read_csv('/root/repo/src/test/resources/oracle_intervals.txt',
        |    delim='~', header=false, columns={'line':'VARCHAR'})
        |  WHERE trim(line) != '' AND NOT starts_with(trim(line), '#'))
        |WHERE regexp_extract(l, '^([^:]+):(\d+)-(\d+)$', 1) != ''""".stripMargin,

    "fasta_sequence" ->
      """WITH s1 AS (SELECT repeat('ACGT', 25) AS seq),
        |s2 AS (SELECT repeat('TTGGCCAA', 10) AS seq2),
        |p AS (SELECT unnest(range(1, 91)) AS p)
        |SELECT p,
        |  substr(seq, CAST(p AS INTEGER), 1) AS base,
        |  substr(seq, greatest(1, CAST(p AS INTEGER) - 2),
        |    least(100, CAST(p AS INTEGER) + 3)
        |      - greatest(1, CAST(p AS INTEGER) - 2) + 1) AS ctx,
        |  substr(seq2, CAST(p AS INTEGER), 1) AS b2
        |FROM p, s1, s2""".stripMargin,

    // identical semantics through the native on-disk round-trip
    "matrix_write_read" -> VcfImportOracleSql,

    // disjoint-slice union and self-union-dedup both restore the fixture
    "matrix_union_rows" -> VcfImportOracleSql,
    "matrix_distinct_by_row" -> VcfImportOracleSql,

    "matrix_rows_head" ->
      """WITH raw AS (
        |  SELECT * FROM read_csv(
        |    '/root/repo/src/test/resources/oracle_sample.vcf',
        |    delim='\t', header=false, skip=7,
        |    columns={'contig':'VARCHAR','position':'INTEGER',
        |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
        |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
        |      'fmt':'VARCHAR','S1':'VARCHAR','S2':'VARCHAR','S3':'VARCHAR',
        |      'S4':'VARCHAR','S5':'VARCHAR'}))
        |SELECT contig, position, ref, alts, qual FROM raw
        |ORDER BY contig, position LIMIT 10""".stripMargin,

    "table_range" ->
      """SELECT CAST(idx AS BIGINT) AS idx,
        |  CAST(idx * idx AS BIGINT) AS sq
        |FROM (SELECT unnest(range(0, 1000)) AS idx)
        |WHERE idx % 7 = 3""".stripMargin,

    "table_parallelize" ->
      """SELECT CAST(k AS INTEGER) AS k, name
        |FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, NULL))
        |AS t(k, name)""".stripMargin,

    "table_map_globals" ->
      """SELECT r_regionkey, 'tpch' AS src, 4 AS ver FROM region"""
  )

  /** Shared oracle for `vcf_import` and `matrix_write_read`. */
  /** Shared oracle for the exact ANN gates (`pipe_ann_topk` and the
    * full-probe IVF path, which must reproduce it exactly). */
  /** One PQ subspace's oracle CTEs (subspace `s`, dims 16s+1..16s+16):
    * grid slice -> k=4 exact-rational Lloyd round (init by lowest ids,
    * one update, final assignment) -> query-to-centroid ADC distances.
    * Mirrors `Similarity.kmeansLloydExactStates` on the slice. */
  private def pqSubspaceCtes(s: Int): String = {
    val lo = s * 16 + 1
    s"""e$s AS (
       |  SELECT vec_id AS id,
       |    list_transform(range($lo, ${lo + 16}),
       |      d -> CAST(round(CAST(embedding[d] AS DOUBLE) * 1000)
       |        AS BIGINT)) AS v
       |  FROM embeddings WHERE vec_id <> 0),
       |i$s AS (
       |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS sv,
       |    CAST(1 AS BIGINT) AS n
       |  FROM (SELECT id, v FROM e$s ORDER BY id LIMIT 4)),
       |x$s AS (
       |  SELECT id, v, c FROM (
       |    SELECT e.id, e.v, i.c,
       |      row_number() OVER (PARTITION BY e.id ORDER BY
       |        CAST(list_reduce(list_transform(range(1, 17),
       |          d -> (e.v[d]*i.n - i.sv[d])*(e.v[d]*i.n - i.sv[d])),
       |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
       |    FROM e$s e, i$s i) WHERE rk = 1),
       |u$s AS (
       |  SELECT c, list(sd ORDER BY d) AS sv, max(n) AS n FROM (
       |    SELECT x.c, t.d, CAST(sum(x.v[t.d]) AS BIGINT) AS sd,
       |      CAST(count(*) AS BIGINT) AS n
       |    FROM x$s x, unnest(range(1, 17)) AS t(d)
       |    GROUP BY x.c, t.d) GROUP BY c),
       |c$s AS (
       |  SELECT i.c, COALESCE(u.sv, i.sv) AS sv, COALESCE(u.n, i.n) AS n
       |  FROM i$s i LEFT JOIN u$s u ON i.c = u.c),
       |g$s AS (
       |  SELECT id, c FROM (
       |    SELECT e.id, i.c,
       |      row_number() OVER (PARTITION BY e.id ORDER BY
       |        CAST(list_reduce(list_transform(range(1, 17),
       |          d -> (e.v[d]*i.n - i.sv[d])*(e.v[d]*i.n - i.sv[d])),
       |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
       |    FROM e$s e, c$s i) WHERE rk = 1),
       |q$s AS (
       |  SELECT list_transform(range($lo, ${lo + 16}),
       |    d -> CAST(round(CAST(embedding[d] AS DOUBLE) * 1000)
       |      AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id = 0),
       |d$s AS (
       |  SELECT i.c,
       |    CAST(list_reduce(list_transform(range(1, 17),
       |      d -> (q.qv[d]*i.n - i.sv[d])*(q.qv[d]*i.n - i.sv[d])),
       |      (a, b) -> a + b) AS DOUBLE) / (i.n*i.n) AS dist
       |  FROM c$s i, q$s q)""".stripMargin
  }

  private val PqAnnOracleSql: String = {
    val subs = (0 until 4).map(pqSubspaceCtes).mkString(",\n")
    s"""WITH $subs,
       |cand AS (
       |  SELECT g0.id,
       |    d0.dist + d1.dist + d2.dist + d3.dist AS adcd
       |  FROM g0, g1, g2, g3, d0, d1, d2, d3
       |  WHERE g1.id = g0.id AND g2.id = g0.id AND g3.id = g0.id
       |    AND d0.c = g0.c AND d1.c = g1.c AND d2.c = g2.c
       |    AND d3.c = g3.c),
       |top AS (SELECT id FROM cand ORDER BY adcd ASC, id ASC LIMIT 40),
       |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
       |rr AS (
       |  SELECT e.vec_id,
       |    list_sum(list_transform(range(1, 65), i ->
       |      CAST(e.embedding[i] AS DOUBLE) * CAST(q[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, 65), i ->
       |        CAST(e.embedding[i] AS DOUBLE)
       |          * CAST(e.embedding[i] AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(range(1, 65), i ->
       |        CAST(q[i] AS DOUBLE) * CAST(q[i] AS DOUBLE))))) AS cos
       |  FROM embeddings e JOIN top ON e.vec_id = top.id, qv)
       |SELECT vec_id, round(cos, 6) AS cos FROM rr
       |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** Shared by `agg_heavy_hitters` (batch) and `stream_heavy_hitters`
    * (Misra-Gries stream state + exact pass): both are exactly the
    * keys with trueCount * 64 > N over the engineered skewed stream. */
  private val HeavyHittersOracleSql: String =
    """WITH k AS (
      |  SELECT CASE WHEN event_id % 4 <> 0 THEN 'hot_' || (event_id % 3)
      |              ELSE 'cold_' || event_id END AS key
      |  FROM events)
      |SELECT key, count(*) AS cnt
      |FROM k GROUP BY 1
      |HAVING count(*) * 64 > (SELECT count(*) FROM k)""".stripMargin

  /** Shared by `pipe_temperature_mix` (batch) and
    * `stream_temperature_mix` (the stateless streaming guard — same
    * rates, same integer md5 predicate, so the stream's complete
    * replay equals the batch answer row-for-row). */
  private val TemperatureMixOracleSql: String =
    """WITH c AS (
      |  SELECT lang AS s, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1),
      |c2 AS (
      |  SELECT s, n,
      |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 2000000) AS BIGINT) AS s0,
      |    CAST(n AS HUGEINT) * 4000000000000 AS m
      |  FROM c),
      |c3 AS (
      |  SELECT s, n,
      |    ((s0 + (CASE
      |        WHEN CAST(s0 + 1 AS HUGEINT) * CAST(s0 + 1 AS HUGEINT) <= m
      |          THEN 1
      |        WHEN CAST(s0 AS HUGEINT) * CAST(s0 AS HUGEINT) > m THEN -1
      |        ELSE 0 END)) + 1) // 2 AS pu
      |  FROM c2),
      |z AS (SELECT CAST(sum(pu) AS HUGEINT) AS z FROM c3),
      |kk AS (SELECT count(*) // 10 AS k FROM documents),
      |r AS (
      |  SELECT s, least(1000, CAST(
      |    (2000 * CAST((SELECT k FROM kk) AS HUGEINT) * pu
      |       + (SELECT z FROM z) * n)
      |    // (2 * (SELECT z FROM z) * n) AS BIGINT)) AS ppt
      |  FROM c3)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN r ON d.lang = r.s
      |WHERE CAST(('0x' || substr(md5('tmix|' || CAST(doc_id AS VARCHAR)),
      |    1, 15)) AS BIGINT) % 1000 < r.ppt""".stripMargin

  private val ExactDecontamOracleSql: String =
    """WITH bench AS (
      |  SELECT substr(text, 21, 200) AS text
      |  FROM documents WHERE doc_id % 97 = 3),
      |bt AS (
      |  SELECT string_split_regex(lower(text), ' +') AS w FROM bench),
      |bg AS (
      |  SELECT DISTINCT CAST(('0x' || substr(md5('decon|' || g), 1, 15))
      |    AS BIGINT) AS h
      |  FROM (SELECT unnest(list_transform(range(1, len(w) - 6),
      |      j -> array_to_string(w[j:j+7], ' '))) AS g
      |    FROM bt WHERE len(w) >= 8)),
      |ct AS (
      |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
      |  FROM documents),
      |cg AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5('decon|' || g), 1, 15))
      |    AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
      |      j -> array_to_string(w[j:j+7], ' '))) AS g
      |    FROM ct WHERE len(w) >= 8))
      |SELECT doc_id, count(*) AS n_hits,
      |  count(DISTINCT h) AS n_distinct
      |FROM cg JOIN bg USING (h) GROUP BY doc_id""".stripMargin

  private val AnnTopkOracleSql: String =
    """WITH q AS (
      |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |c AS (
      |  SELECT vec_id,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
      |      AS dp,
      |    sqrt(list_sum(list_transform(range(1, 65),
      |      i -> CAST(embedding[i] AS DOUBLE)
      |         * CAST(embedding[i] AS DOUBLE)))) AS na,
      |    sqrt(list_sum(list_transform(range(1, 65),
      |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS nb
      |  FROM embeddings, q WHERE vec_id != 0)
      |SELECT vec_id, round(dp / (na * nb), 6) AS cos
      |FROM c ORDER BY dp / (na * nb) DESC, vec_id LIMIT 10""".stripMargin

  private val BnGoldenRows: String =
    """(1, 0.70206, 19, 9),
      |  (2, 0.874371, 39, 1),
      |  (3, 0.364526, 18, 10),
      |  (4, 0.805059, 32, 4),
      |  (5, 0.649762, 21, 13),
      |  (6, 0.100537, 13, 9),
      |  (7, 0.752459, 25, 9),
      |  (8, 0.395083, 10, 6),
      |  (9, 0.258523, 9, 5),
      |  (10, 0.123087, 3, 3),
      |  (11, 0.365555, 13, 9),
      |  (12, 0.645052, 26, 10),
      |  (13, 0.17503, 5, 3),
      |  (14, 0.631162, 21, 11),
      |  (15, 0.537754, 28, 10),
      |  (16, 0.188068, 12, 8),
      |  (17, 0.886929, 36, 4),
      |  (18, 0.891458, 37, 3),
      |  (19, 0.106864, 7, 5),
      |  (20, 0.364489, 11, 7),
      |  (21, 0.632131, 27, 7),
      |  (22, 0.742858, 18, 8),
      |  (23, 0.189731, 5, 3),
      |  (24, 0.139151, 7, 7),
      |  (25, 0.178125, 11, 3),
      |  (26, 0.631584, 24, 10),
      |  (27, 0.757228, 31, 3),
      |  (28, 0.33785, 26, 6),
      |  (29, 0.55049, 31, 9),
      |  (30, 0.337063, 19, 7),
      |  (31, 0.174254, 16, 8),
      |  (32, 0.899804, 30, 8),
      |  (33, 0.708788, 34, 6),
      |  (34, 0.439174, 24, 8),
      |  (35, 0.524017, 19, 13),
      |  (36, 0.370485, 21, 9),
      |  (37, 0.498467, 27, 5),
      |  (38, 0.468305, 7, 5),
      |  (39, 0.104863, 10, 4),
      |  (40, 0.859772, 35, 5),
      |  (41, 0.579329, 22, 10),
      |  (42, 0.130784, 1, 1),
      |  (43, 0.246984, 8, 6),
      |  (44, 0.299591, 10, 6),
      |  (45, 0.791501, 31, 7),
      |  (46, 0.505725, 31, 7),
      |  (47, 0.79711, 30, 6),
      |  (48, 0.4409, 24, 12),
      |  (49, 0.766609, 38, 2),
      |  (50, 0.433178, 15, 11)""".stripMargin

  /** Literal golden for `balding_nichols` (regenerate via
    * tools/gen_goldens.py after an intentional generator change). */
  private val BaldingNicholsGolden: String =
    """SELECT CAST(position AS INTEGER) AS position,
      |  CAST(p0 AS DOUBLE) AS p0, CAST(n_alt AS INTEGER) AS n_alt,
      |  CAST(n_het AS INTEGER) AS n_het
      |FROM (VALUES
      |  __BN_GOLDEN__) t(position, p0, n_alt, n_het)""".stripMargin
      .replace("__BN_GOLDEN__", BnGoldenRows)

  private val PlinkImportOracleSql: String =
    """SELECT contig, position, ref, alt, s, a1, a2
      |FROM read_csv(
      |  '/root/repo/src/test/resources/oracle_plink_expected.tsv',
      |  delim='\t', header=true, nullstr='\N',
      |  columns={'contig':'VARCHAR','position':'INTEGER','ref':'VARCHAR',
      |    'alt':'VARCHAR','s':'VARCHAR','a1':'INTEGER','a2':'INTEGER'})""".stripMargin

  private val BgenImportOracleSql: String =
    """SELECT contig, position, ref, alt, s, gt,
      |  round(paa8 / 255.0, 6) AS paa,
      |  round(pab8 / 255.0, 6) AS pab,
      |  round(1.0 - paa8 / 255.0 - pab8 / 255.0, 6) AS pbb
      |FROM read_csv(
      |  '/root/repo/src/test/resources/oracle_bgen_expected.tsv',
      |  delim='\t', header=true, nullstr='\N',
      |  columns={'contig':'VARCHAR','position':'INTEGER','ref':'VARCHAR',
      |    'alt':'VARCHAR','s':'VARCHAR','gt':'INTEGER',
      |    'paa8':'INTEGER','pab8':'INTEGER'})""".stripMargin

  private val GenImportOracleSql: String =
    """WITH raw AS (
      |  SELECT string_split_regex(trim(line), ' +') AS f
      |  FROM read_csv('/root/repo/src/test/resources/oracle_gen.gen',
      |    delim='~', header=false, columns={'line':'VARCHAR'})),
      |samp AS (SELECT unnest(range(0, 6)) AS j),
      |e AS (
      |  SELECT f[1] AS contig, CAST(f[4] AS INTEGER) AS position,
      |    f[5] AS ref, f[6] AS alt, 'G' || j AS s,
      |    CAST(f[7 + j * 3] AS DOUBLE) AS paa,
      |    CAST(f[8 + j * 3] AS DOUBLE) AS pab,
      |    CAST(f[9 + j * 3] AS DOUBLE) AS pbb
      |  FROM raw, samp)
      |SELECT contig, position, ref, alt, s,
      |  CASE WHEN greatest(paa, pab, pbb) < 0.9 THEN NULL
      |       WHEN greatest(paa, pab, pbb) = paa THEN 0
      |       WHEN greatest(paa, pab, pbb) = pab THEN 1
      |       ELSE 2 END AS gt,
      |  round(paa, 6) AS paa
      |FROM e""".stripMargin

  private val VcfImportOracleSql: String =
      """WITH raw AS (
        |  SELECT * FROM read_csv(
        |    '/root/repo/src/test/resources/oracle_sample.vcf',
        |    delim='\t', header=false, skip=7,
        |    columns={'contig':'VARCHAR','position':'INTEGER',
        |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
        |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
        |      'fmt':'VARCHAR','S1':'VARCHAR','S2':'VARCHAR','S3':'VARCHAR',
        |      'S4':'VARCHAR','S5':'VARCHAR'})),
        |unp AS (
        |  SELECT contig, position, ref, alts, qual, info, 'S1' AS s, S1 AS e
        |    FROM raw
        |  UNION ALL SELECT contig, position, ref, alts, qual, info, 'S2', S2
        |    FROM raw
        |  UNION ALL SELECT contig, position, ref, alts, qual, info, 'S3', S3
        |    FROM raw
        |  UNION ALL SELECT contig, position, ref, alts, qual, info, 'S4', S4
        |    FROM raw
        |  UNION ALL SELECT contig, position, ref, alts, qual, info, 'S5', S5
        |    FROM raw),
        |p AS (
        |  SELECT contig, position, ref, alts, qual,
        |    TRY_CAST(NULLIF(regexp_extract(info, 'DP=(\d+)', 1), '')
        |      AS INTEGER) AS info_dp,
        |    TRY_CAST(NULLIF(regexp_extract(info, 'AC=(\d+)', 1), '')
        |      AS INTEGER) AS info_ac,
        |    s,
        |    string_split(e, ':')[1] AS gt,
        |    TRY_CAST(string_split(e, ':')[2] AS INTEGER) AS dp
        |  FROM unp)
        |SELECT contig, position, ref, alts, qual, info_dp, info_ac, s,
        |  CAST(string_split_regex(gt, '[/|]')[1] AS INTEGER) AS a1,
        |  CAST(string_split_regex(gt, '[/|]')[2] AS INTEGER) AS a2,
        |  contains(gt, '|') AS phased, dp
        |FROM p WHERE gt NOT LIKE '.%'""".stripMargin
}
