package graft
package gates

import org.apache.spark.sql.functions._
import Support._

/** Expression-library, NDArray and linear-algebra gates: `fn_*`,
  * `ndarray_*`, `linalg_*` and BlockMatrix I/O. */
object FnGates {
  def all: Seq[Gate] = Seq(
    // --- contingency_table_test (reference stats/package.scala:148):
    // chi-sq above min_cell_count, Fisher + conditional-MLE OR below;
    // golden oracle (no chi-sq/hypergeometric tails in DuckDB) -------------
    Gate("fn_contingency", (s, _) => {
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
    },
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
        |  AS t(k, a, b, c, d, p_value, odds_ratio)""".stripMargin),

    // --- reverse_complement (reference functions.py:6254) -----------------
    Gate("fn_revcomp", (s, dir) => {
      import graft.functions.Alleles
      t(s, dir, "part").filter(col("p_partkey") < 50)
        .select(col("p_partkey"),
          Alleles.reverseComplement(upper(col("p_name"))).as("rc_dna"),
          Alleles.reverseComplement(col("p_name"), rna = true)
            .as("rc_rna"))
    },
      """SELECT p_partkey,
        |  reverse(translate(upper(p_name), 'ATGCatgc', 'TACGtacg'))
        |    AS rc_dna,
        |  reverse(translate(p_name, 'AUTGCautgc', 'UAACGuaacg'))
        |    AS rc_rna
        |FROM part WHERE p_partkey < 50""".stripMargin),

    // --- GRM (statgen.py:3576): normalized Gramian — exact SQL oracle -----
    Gate("linalg_grm", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Pca.grm(mt)
        .select(col("i"), col("j"), round(col("grm"), 6).as("grm"))
    }, {
      val base = vcfParseCte(vcfFixture, 7, (1 to 5).map(i => s"S$i"))
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
    }),

    // --- hwe_normalized_pca (pca.py:35): eigenvalue-sum = trace of the
    // normalized Gramian, an exact invariant the oracle can compute;
    // eigenvalue/score/loading values are spec-tested against Breeze SVD --
    Gate("linalg_pca", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val res = methods.Pca.hweNormalizedPca(mt, k = 5)
      // Σλ over returned components = trace of the normalized Gramian
      // (rank <= nSamples-1 because rows are mean-centered; a dropped
      // zero-sigma tail changes the sum by ~1e-16, invisible at 4 dp)
      val trace = BigDecimal(res.eigenvalues.sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      s.range(1).select(lit(trace).as("trace"))
    }, {
      val base = vcfParseCte(vcfFixture, 7, (1 to 5).map(i => s"S$i"))
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
    }),

    // --- liftover (LocusFunctions.scala liftoverLocus): UCSC-chain
    // remap as a broadcast range join; synthetic chain with forward,
    // reverse-strand and unmapped contigs ---------------------------------
    Gate("locus_liftover", (s, dir) => {
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
    },
      // piecewise closed form of the synthetic chain: chr1 [0,500)->chrA
      // +1000 forward; chr2 [100,400)->chrB size 2000 reverse; chr3 unmapped
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
        |FROM d""".stripMargin),

    // --- stat distribution functions (MathFunctions.scala): dbeta /
    // dnorm / dchisq / dpois / ppois over table-derived arguments --------
    Gate("stat_distributions", (s, dir) => {
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
    },
      // closed forms: dbeta(x,2,5)=30 x (1-x)^4 ; dnorm ; dchisq(y,2) =
      // exp(-y/2)/2 ; Poisson pmf/cdf with k in 0..4
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
        |FROM f""".stripMargin),

    // --- TailLoop/Recur (ir-gen Main.scala:647,660): per-row bounded
    // iteration to a fixpoint; the gate drives Babylonian sqrt and
    // Newton cube root, whose limits are the closed forms the oracle
    // computes directly --------------------------------------------------
    Gate("fn_tail_loop", (s, dir) => {
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
    },
      // the iterated kernels converge to closed forms
      """SELECT p_partkey,
        |  round(sqrt(CAST(p_partkey AS DOUBLE)), 8) AS sqrt_k,
        |  round(cbrt(CAST(p_partkey AS DOUBLE)), 8) AS cbrt_k
        |FROM part WHERE p_partkey <= 200""".stripMargin),

    // --- realized_relationship_matrix (statgen.py:3656) -------------------
    Gate("linalg_rrm", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Pca.rrm(mt)
        .select(col("i"), col("j"), round(col("rrm"), 6).as("rrm"))
    }, {
      val base = vcfParseCte(vcfFixture, 7, (1 to 5).map(i => s"S$i"))
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
    }),

    // --- string function surface (reference StringFunctions.scala):
    // built-ins + the graft extensions (hamming, firstMatchIn,
    // strftime/strptime round-trip) ----------------------------------------
    Gate("fn_strings", (s, dir) => {
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
    },
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
        |FROM nation""".stripMargin),

    // --- set function surface (reference SetFunctions.scala): canonical
    // sorted-array sets over the p_type token bag --------------------------
    Gate("fn_sets", (s, dir) => {
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
    },
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
        |FROM t0""".stripMargin),

    // --- interval function surface (IntervalFunctions.scala): contains /
    // overlaps / is_empty with open-closed endpoint semantics --------------
    Gate("fn_intervals", (s, dir) => {
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
    },
      """SELECT o_orderkey,
        |  (p >= s AND p < e) AS contains_p,
        |  NOT (e <= 50 OR s > 60) AS overlaps_q,
        |  (o_orderkey % 3) >= 1 AS is_empty
        |FROM (
        |  SELECT o_orderkey, o_custkey % 100 AS s,
        |    o_custkey % 100 + 10 AS e, o_orderkey % 120 AS p
        |  FROM orders WHERE o_orderkey <= 2000)""".stripMargin),

    // --- util function surface (UtilFunctions.scala): triangle, dynamic
    // printf, approximate similarity ---------------------------------------
    Gate("fn_util", (s, dir) => {
      import graft.functions.Util
      t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          Util.triangle(col("o_orderkey")).as("tri"),
          Util.format(lit("%d:%s"), col("o_orderkey"),
            col("o_orderstatus")).as("fmt"),
          Util.valuesSimilar(col("o_totalprice"),
            round(col("o_totalprice"), 0)).as("sim"))
    },
      """SELECT o_orderkey,
        |  (o_orderkey * (o_orderkey + 1)) // 2 AS tri,
        |  printf('%d:%s', o_orderkey, o_orderstatus) AS fmt,
        |  abs(o_totalprice - round(o_totalprice, 0)) <= 1e-6 *
        |    greatest(abs(o_totalprice),
        |      abs(round(o_totalprice, 0)), 1.0) AS sim
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin),

    // --- NDArray function surface (NDArrayFunctions.scala): per-row 2x2
    // matmul / solve / ref / sum; the 2x2 solve has a closed form the
    // oracle reproduces in plain arithmetic --------------------------------
    Gate("fn_ndarray", (s, dir) => {
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
    },
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
        |  FROM orders WHERE o_orderkey <= 200)""".stripMargin),

    // --- ndarray structural nodes (ir-gen Main.scala NDArrayConcat:931,
    // NDArraySlice:933, NDArrayFilter:934, NDArrayReindex:947 (transpose),
    // NDArrayAgg:949): each output element has a closed form ---------------
    Gate("fn_ndarray_ops", (s, dir) => {
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
    },
      // closed forms: base(i,j) = 3i+j+1 + k%3 on the 2x3 source
      """SELECT o_orderkey,
        |  CAST(2 + o_orderkey % 3 AS DOUBLE) AS t10,
        |  CAST(6 + o_orderkey % 3 AS DOUBLE) AS t21,
        |  CAST(6 + o_orderkey % 3 AS DOUBLE) AS s11,
        |  CAST(5 + o_orderkey % 3 AS DOUBLE) AS c14,
        |  CAST(6 + o_orderkey % 3 AS DOUBLE) AS c32,
        |  CAST(6 + o_orderkey % 3 AS DOUBLE) AS f01,
        |  CAST(7 + 2 * (o_orderkey % 3) AS DOUBLE) AS sa0,
        |  CAST(6 + 3 * (o_orderkey % 3) AS DOUBLE) AS sa1
        |FROM orders WHERE o_orderkey <= 200""".stripMargin),

    // --- ndarray band/interval zeroing + triangular solve
    // (NDArrayFunctions.scala zero_band:312, zero_row_intervals:393,
    // linear_triangular_solve:283 — the BlockMatrix sparsify kernels).
    // The solve's A carries junk (99.0) in the untouched triangle to
    // prove the dtrtrs never-reads-the-other-triangle contract ------------
    Gate("fn_ndarray_band", (s, dir) => {
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
    },
      // closed forms per element: band keeps |col-row| diagonals in
      // [-1,1]; row intervals keep [start_i, stop_i); lower-triangular
      // substitution x1 = 1/a, x2 = (2 - c*x1)/d
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
        |FROM orders WHERE o_orderkey <= 200""".stripMargin),

    // --- ndarray QR (NDArrayFunctions.scala qr): decomposition factors
    // aren't sign-unique, so the gate pins |R| entries (closed-form via
    // Gram identities: |r11| = |col1|, |r12| = col1.col2/|col1|,
    // |r22| = sqrt(det Gram)/|col1|) plus max|QR - A| = 0, which together
    // determine the factorization up to the sign convention -----------------
    Gate("ndarray_qr", (s, dir) => {
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
    },
      // |R| entries from the Gram identities of A's columns; QR recon
      // error is exactly 0 at 6 decimals
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
        |FROM g""".stripMargin),

    // --- ndarray SVD: singular values of a 2x2 are closed-form
    // (sqrt of eigenvalues of M'M via the quadratic formula) ----------------
    Gate("ndarray_svd", (s, dir) => {
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
    },
      // singular values of a 2x2 via the quadratic formula on M'M
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
        |FROM g""".stripMargin),

    // --- ndarray eigh: eigenvalues of a symmetric 2x2 are closed-form
    // ((a+c)/2 -+ sqrt(((a-c)/2)^2 + b^2), ascending like Breeze) -----------
    Gate("ndarray_eigh", (s, dir) => {
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
    },
      // symmetric 2x2 eigenvalues, ascending like Breeze eigSym
      """WITH b AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 7 + 2 AS DOUBLE) AS a,
        |    CAST(p_partkey % 4 AS DOUBLE) AS bb,
        |    CAST(p_partkey % 5 + 5 AS DOUBLE) AS c
        |  FROM part WHERE p_partkey <= 20)
        |SELECT p_partkey,
        |  round((a + c) / 2 - sqrt((a-c)*(a-c)/4 + bb*bb), 6) AS ev1,
        |  round((a + c) / 2 + sqrt((a-c)*(a-c)/4 + bb*bb), 6) AS ev2
        |FROM b""".stripMargin),

    // --- ndarray inverse (NDArrayInv, ir-gen Main.scala:968): 2x2
    // inverse has the closed form adj(A)/det — entries chosen so
    // det >= 10 for every key (never singular) ------------------------------
    Gate("ndarray_inv", (s, dir) => {
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
    },
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
        |FROM w""".stripMargin),

    // --- filtering_allele_frequency (experimental, Whiffin 2017): FAF
    // per fixture variant at 95%/99% CI; goldens from an independent
    // Poisson-quantile replica ---------------------------------------------
    Gate("fn_faf", (s, _) => {
      import graft.functions.{Calls, Experimental}
      val mt = sources.Vcf.read(s, vcfFixture)
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
    },
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
        |v(contig, position, ac, an, faf95, faf99)""".stripMargin),

    // --- haplotype_freq_em (experimental): two-locus EM haplotype
    // counts from the 9 genotype-combination counts -------------------------
    Gate("fn_haplotype_em", (s, _) => {
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
    },
      """SELECT * FROM (VALUES
        |  (1, 10.0, 0.0, 0.0, 0.0),
        |  (2, 11.914723, 2.085277, 2.085277, 3.914723),
        |  (3, 0.0, 10.0, 10.0, 0.0),
        |  (4, 10.055847, 28.944153, 16.944153, 34.055847),
        |  (5, 9.10163, 4.89837, 4.89837, 9.10163))
        |v(id, h_ab, h_a_b, h_b_a, h_ab_low)""".stripMargin),

    // --- row_correlation (statgen.py:3730): Pearson correlation between
    // row dosage vectors, missing mean-imputed per row; row index is
    // key order. NaN rows (zero variance) drop on both sides ---------------
    Gate("linalg_row_correlation", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, vcfFixture)
      val r = methods.Pca.rowCorrelation(mt,
        e => Calls.nNonRefAlleles(e("GT")))
      r.entries
        .filter(col("i") <= col("j") && !isnan(col("value")))
        .withColumn("value", round(col("value"), 6) + lit(0.0))
        .filter(col("value") =!= 0.0)
    }, {
      val base = vcfParseCte(vcfFixture, 7, (1 to 5).map(i => s"S$i"))
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
    }),

    // --- BlockMatrix algebra (BlockMatrixIR): distributed matmul,
    // transpose, and scalar map over a 2x2-block grid, checked cell-by-
    // cell against SQL join-aggregation. Values are exact binary halves,
    // so the compare needs no rounding ------------------------------------
    Gate("linalg_blockmatrix", (s, _) => {
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
    },
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
        |SELECT i, j, v * 3.0 AS value, 'a3' AS tag FROM ae""".stripMargin),

    // --- BlockMatrix native save/load (BlockMatrixBinaryReader): the
    // block-layout round-trip restores entries exactly ---------------------
    Gate("linalg_blockmatrix_io", (s, _) => {
      import graft.linalg.BlockMatrix
      val ae = s.range(12).select(
        floor(col("id") / 3).cast("long").as("i"),
        pmod(col("id"), lit(3L)).as("j"),
        (pmod(col("id"), lit(7L)).cast("double") + 0.5).as("value"))
      val a = BlockMatrix.fromEntries(ae, 4, 3, blockSize = 2)
      val dir = java.nio.file.Files.createTempDirectory("graft_bm_io")
      a.save(s"$dir/m")
      BlockMatrix.load(s, s"$dir/m").entries
    },
      """SELECT CAST(id // 3 AS BIGINT) AS i, CAST(id % 3 AS BIGINT) AS j,
        |  CAST((id % 7) + 0.5 AS DOUBLE) AS value
        |FROM (SELECT unnest(range(0, 12)) AS id)""".stripMargin),

    // --- hail-native .bm export/import: same entries as the graft-
    // format IO gate, but through the reference's on-disk block codec ------
    Gate("bm_hail_io", (s, _) => {
      import graft.linalg.BlockMatrix
      val ae = s.range(12).select(
        floor(col("id") / 3).cast("long").as("i"),
        pmod(col("id"), lit(3L)).as("j"),
        (pmod(col("id"), lit(7L)).cast("double") + 0.5).as("value"))
      val a = BlockMatrix.fromEntries(ae, 4, 3, blockSize = 2)
      val dir = java.nio.file.Files.createTempDirectory("graft_bm_hl")
      BlockMatrix.writeHail(a, s"$dir/m.bm")
      BlockMatrix.readHail(s, s"$dir/m.bm").entries
    },
      """SELECT CAST(id // 3 AS BIGINT) AS i, CAST(id % 3 AS BIGINT) AS j,
        |  CAST((id % 7) + 0.5 AS DOUBLE) AS value
        |FROM (SELECT unnest(range(0, 12)) AS id)""".stripMargin),

    // --- BlockMatrix structural ops (BlockMatrixIR Slice/Filter/
    // Broadcast/row-interval sparsify/axis Agg), entry-checked against
    // SQL index arithmetic on the same exact-binary values ----------------
    Gate("linalg_blockmatrix_ops", (s, _) => {
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
    },
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
        |FROM ae GROUP BY j""".stripMargin),

    // --- dict function surface (DictFunctions.scala) ----------------------
    Gate("fn_dicts", (s, dir) => {
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
    },
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
        |FROM t0""".stripMargin),

    Gate("locus_intervals_import", (s, _) =>
      sources.Annotations.importLocusIntervals(s,
        Fixtures.path("oracle_intervals.txt")).df,
      raw"""SELECT regexp_extract(l, '^([^:]+):(\d+)-(\d+)$$', 1) AS contig,
        |  CAST(regexp_extract(l, '^([^:]+):(\d+)-(\d+)$$', 2) AS INTEGER)
        |    AS start,
        |  CAST(regexp_extract(l, '^([^:]+):(\d+)-(\d+)$$', 3) AS INTEGER)
        |    AS "end"
        |FROM (
        |  SELECT trim(line) AS l
        |  FROM read_csv('${Fixtures.path("oracle_intervals.txt")}',
        |    delim='~', header=false, columns={'line':'VARCHAR'})
        |  WHERE trim(line) != '' AND NOT starts_with(trim(line), '#'))
        |WHERE regexp_extract(l, '^([^:]+):(\d+)-(\d+)$$', 1) != ''""".stripMargin)
  )
}
