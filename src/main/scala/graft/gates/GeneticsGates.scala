package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Calls
import Support._

/** Genetics gates: variant/sample QC, call functions, allele filtering and
  * splitting, Mendel, trio and concordance methods, and the composite
  * `genetics_pipeline`. */
object GeneticsGates {
  private def vcfMultiFixture: String = Fixtures.path("oracle_multi.vcf")

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

  /** Mendel oracle CTEs: `g` holds the dosages of each kid (S1, S4), its
    * father S2 and mother S3 per variant (the kid's `kidCols` first), `c`
    * the reference's mendel code `code` per kid and variant, after
    * `cCols`. */
  private def mendelCodeCtes(kidCols: String, cCols: String, code: String)
      : String =
    s"""WITH $sampleVcfCte,
      |g AS (
      |  SELECT $kidCols t.kid AS s,
      |    d.a1 + d.a2 AS fn, m.a1 + m.a2 AS mn, k.a1 + k.a2 AS cn
      |  FROM (VALUES ('S1'), ('S4')) t(kid)
      |  JOIN q k ON k.s = t.kid
      |  JOIN q d ON d.s = 'S2' AND d.contig = k.contig
      |    AND d.position = k.position
      |  JOIN q m ON m.s = 'S3' AND m.contig = k.contig
      |    AND m.position = k.position),
      |c AS (
      |  SELECT $cCols
      |    CASE WHEN fn = 2 AND mn = 2 AND cn = 1 THEN 1
      |         WHEN fn = 0 AND mn = 0 AND cn = 1 THEN 2
      |         WHEN fn = 0 AND mn = 0 AND cn = 2 THEN 5
      |         WHEN fn = 2 AND mn = 2 AND cn = 0 THEN 8
      |         WHEN fn = 0 AND cn = 2 THEN 3
      |         WHEN mn = 0 AND cn = 2 THEN 4
      |         WHEN fn = 2 AND cn = 0 THEN 6
      |         WHEN mn = 2 AND cn = 0 THEN 7
      |         END AS $code
      |  FROM g)""".stripMargin

  /** The concordance gates' right matrix: odd positions, DP >= 10. */
  private def concordanceRight(mt: MatrixTable): MatrixTable =
    mt.filterRows(pmod(col("position"), lit(2)) === 1)
      .filterEntries(e => e("DP") >= 10)

  /** Concordance oracle CTEs: the 5-state call class of each entry on the
    * left (`lc`, the whole fixture) and the right (`rc`, odd positions
    * with DP >= 10). */
  private def concordanceCtes: String =
    s"""WITH $sampleVcfCte,
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
      |  FROM q WHERE position % 2 = 1 AND dp >= 10)""".stripMargin

  def all: Seq[Gate] = Seq(
    // --- summarize_variants (qc.py): per-contig counts, allele-type
    // counts, allele-number histogram in long format -----------------------
    Gate("geno_summarize_variants", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.summarizeVariants(mt).df
    }, {
      // mirrors Alleles.alleleType's predicate order exactly (base-regex
      // gate, equal-length SNP/MNP via hamming, prefix/suffix indels)
      s"""WITH $sampleVcfCte,
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
    }),

    // --- genetics: packed-call accessors (Calls: pure bit arithmetic) ------
    Gate("geno_call_functions", (s, dir) => {
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
    },
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
        |FROM orders""".stripMargin),

    // --- genetics: call_stats aggregator (AC/AF/AN/hom) --------------------
    Gate("geno_call_stats", (s, dir) => {
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
    },
      """SELECT o_orderstatus,
        |  2 * count(*) AS an,
        |  CAST(sum((o_orderkey % 2) + (o_custkey % 2)) AS BIGINT) AS ac_alt,
        |  round(CAST(sum((o_orderkey % 2) + (o_custkey % 2)) AS DOUBLE)
        |    / (2 * count(*)), 6) AS af_alt,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 AND o_custkey % 2 = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS hom_ref,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 AND o_custkey % 2 = 1
        |    THEN 1 ELSE 0 END) AS BIGINT) AS hom_alt
        |FROM orders GROUP BY 1""".stripMargin),

    // --- genetics: Hardy-Weinberg equilibrium (expression kernel) ----------
    Gate("geno_hwe", (s, dir) => {
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
    },
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
        |FROM e""".stripMargin),

    // --- sample_qc (reference qc.py:59) over the committed VCF fixture ----
    Gate("qc_sample_qc", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
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
    }, {
      s"""WITH $sampleVcfCte,
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
    }),

    // --- compute_charr (reference qc.py:1822): contamination estimate
    // over the VCF fixture with deterministic synthesized AD/GQ and a
    // position-derived reference AF the oracle recomputes ------------------
    Gate("qc_compute_charr", (s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt0 = sources.Vcf.read(s, vcfFixture)
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
    }, {
      s"""WITH $sampleVcfCte,
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
    }),

    // --- simulate_random_mating (reference mating_simulation.py):
    // deterministic (seeded pedigree + counter-based per-row transmission);
    // oracle is a golden per-sample summary of the fixture simulation ------
    Gate("geno_simulate_mating", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val sim = methods.MatingSimulation.simulateRandomMating(
        mt, nRounds = 1, generationSizeMultiplier = 1.0,
        keepFounders = true, seed = 5L)
      sim.entriesTable.df
        .groupBy(col("s"), col("original"), col("mother"), col("father"))
        .agg(
          count(when(col("GT").isNotNull, 1)).as("n_called"),
          sum(Calls.nNonRefAlleles(col("GT")).cast("long")).as("ac"))
        .drop("col_idx")
    },
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
        |  AS t(s, original, mother, father, n_called, ac)""".stripMargin),

    // --- variant_qc (reference qc.py:219); HWE fields are spec-tested
    // against hail's documented goldens (no closed SQL form) ---------------
    Gate("qc_variant_qc", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
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
    }, {
      s"""WITH $sampleVcfCte
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
    }),

    // --- filter_alleles (statgen.py:4295): drop alts by predicate (keep
    // SNPs), rebuild index maps, min-rep the key; entries untouched -------
    Gate("geno_filter_alleles", (s, _) => {
      val mt = sources.Vcf.read(s, vcfMultiFixture)
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
    }, {
      val base = vcfParseCte(vcfMultiFixture, 4, (1 to 4).map(i => s"T$i"))
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
    }),

    // --- filter_alleles_hts (statgen.py:4405): downcode AND subset entry
    // recodes over deterministic synthesized AD/GQ/PL (pure functions of
    // DP and GT, so the oracle rebuilds them exactly) ----------------------
    Gate("geno_filter_alleles_hts", (s, _) => {
      val mt0 = sources.Vcf.read(s, vcfMultiFixture)
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
    }, {
      val base = vcfParseCte(vcfMultiFixture, 4, (1 to 4).map(i => s"T$i"))
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
    }),

    // --- split_multi (reference statgen.py:3132/3312): explode alts,
    // downcode GT, min-rep — on a committed multiallelic fixture -----------
    Gate("split_multi", (s, _) => {
      val mt = sources.Vcf.read(s, vcfMultiFixture)
      methods.SplitMulti(mt).entriesTable.df
        .select(col("contig"), col("position"), col("ref"),
          element_at(col("alt"), 1).as("alt"),
          col("a_index"), col("was_split"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          col("DP").as("dp"))
    }, {
      val base = vcfParseCte(vcfMultiFixture, 4, (1 to 4).map(i => s"T$i"))
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
    }),

    // --- composite end-to-end genetics pipeline, mirroring the
    // reference's pinned benchmark (benchmark_methods.py:130
    // test_genetics_pipeline): import VCF → split_multi →
    // variant_qc + sample_qc → filter cols/rows/entries on the QC
    // fields → write native → read back → aggregate. The split rows
    // are pinned ONCE (a lazy localCheckpoint) and feed BOTH QC consumers
    // — the sample aggregate and the annotated row pipeline into the
    // write — so the source parses once (composition plan-audited).
    // DP stands in for GQ in the entry filter (the fixture carries
    // GT:DP); thresholds sized to the fixture so every filter stage
    // drops something real -------------------------------------------------
    Gate("genetics_pipeline", (s, _) => {
      val sp0 = methods.SplitMulti(sources.Vcf.read(s, vcfMultiFixture))
      val sp = sp0.copy(rows = sp0.rows.localCheckpoint(false))
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
    }, {
      // full independent replay of the composite pipeline: split rows →
      // per-sample call rate (cols kept) → per-variant alt AC over ALL
      // samples, reference ordering: variant_qc precedes filter_cols →
      // rows kept → DP entry gate (indel 20 / SNV 10) → final aggregate.
      // The write/read-back leg is value-preserving by contract, so the
      // replay covers it by recomputing the same aggregate
      val base = vcfParseCte(vcfMultiFixture, 4, (1 to 4).map(i => s"T$i"))
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
    }),

    // --- impute_sex (statgen.py:73): inbreeding F on "X" (chr2 re-labeled
    // as X to exercise the path on the autosomal fixture) ------------------
    Gate("geno_impute_sex", (s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38.copy(xContigs = Set("chr2"))
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.imputeSex(mt).df.select(
        col("s"), col("n_called"),
        round(col("expected_homs"), 6).as("expected_homs"),
        col("observed_homs"),
        round(col("f_stat"), 6).as("f_stat"),
        col("is_female"))
    }, {
      s"""WITH $sampleVcfCte,
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
    }),

    // --- mendel_errors (family_methods.py:130): trio violation codes ------
    Gate("geno_mendel_errors", (s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.mendelErrors(mt, Seq(
        ("S1", "S2", "S3", true),
        ("S4", "S2", "S3", false))).df
        .select(col("contig"), col("position"), col("ref"), col("s"),
          col("mendel_code"))
    }, {
      // n_alt-based predicates in the reference's evaluation order
      // (functions.py:6415 mendel_error_code): both-hom codes 1/2/5/8
      // first, then single-parent codes 3/4/6/7, which also fire with the
      // other parent uncalled (NULL n_alt makes its conditions false —
      // missing_false). All fixture variants are autosomal.
      s"""${mendelCodeCtes("k.contig, k.position, k.ref,",
        "contig, position, ref, s,", "mendel_code")}
        |SELECT contig, position, ref, s, mendel_code
        |FROM c WHERE mendel_code IS NOT NULL""".stripMargin
    }),

    // --- mendel_errors summary views (family_methods.py tables 2-4) -------
    Gate("geno_mendel_per_variant", (s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.mendelPerVariant(mt, Seq(
        ("S1", "S2", "S3", true), ("S4", "S2", "S3", false))).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("errors"))
    }, {
      s"""${mendelCodeCtes("k.contig, k.position, k.ref, k.alts,",
        "contig, position, ref, alts,", "mendel_code")},
        |e AS (SELECT contig, position, ref, alts, count(*) AS n
        |  FROM c WHERE mendel_code IS NOT NULL GROUP BY 1, 2, 3, 4)
        |SELECT v.contig, v.position, v.ref, v.alts,
        |  coalesce(e.n, 0) AS errors
        |FROM (SELECT DISTINCT contig, position, ref, alts FROM q) v
        |LEFT JOIN e USING (contig, position, ref, alts)""".stripMargin
    }),

    Gate("geno_mendel_per_sample", (s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.mendelPerSample(mt, Seq(
        ("S1", "S2", "S3", true), ("S4", "S2", "S3", false))).df
        .select(col("s"), col("errors"), col("snp_errors"))
    }, {
      s"""${mendelCodeCtes("k.contig, k.position, k.ref, k.alts,",
        "s, ref, string_split(alts, ',')[1] AS a,", "code")},
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
    }),

    // --- phase_by_transmission (experimental): trio phasing by allele
    // transmission; the 2x2 candidate-combination search replayed
    // relationally in the oracle ------------------------------------------
    Gate("geno_phase_by_transmission", (s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, vcfFixture)
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
    }, {
      s"""WITH $sampleVcfCte,
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
    }),

    // --- concordance (qc.py:360): 5-state cross-tab of two matrices -------
    Gate("geno_concordance", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.concordance(mt, concordanceRight(mt))
    }, {
      s"""$concordanceCtes
        |SELECT coalesce(l.lc, 0) AS left_state,
        |  coalesce(r.rc, 0) AS right_state, count(*) AS n
        |FROM l FULL OUTER JOIN r USING (contig, position, ref, s)
        |GROUP BY 1, 2""".stripMargin
    }),

    // --- concordance per-sample / per-variant views (the reference's
    // cols/rows tables of `concordance`) -----------------------------------
    Gate("geno_concordance_per_sample", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.concordancePerSample(mt, concordanceRight(mt))
    }, {
      s"""$concordanceCtes
        |SELECT s,
        |  coalesce(l.lc, 0) AS left_state,
        |  coalesce(r.rc, 0) AS right_state, count(*) AS n
        |FROM l FULL OUTER JOIN r USING (contig, position, ref, s)
        |GROUP BY 1, 2, 3""".stripMargin
    }),

    Gate("geno_concordance_per_variant", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.concordancePerVariant(mt, concordanceRight(mt))
        .select(col("contig"), col("position"), col("ref"),
          col("left_state"), col("right_state"), col("n"))
    }, {
      s"""$concordanceCtes
        |SELECT contig, position, ref,
        |  coalesce(l.lc, 0) AS left_state,
        |  coalesce(r.rc, 0) AS right_state, count(*) AS n
        |FROM l FULL OUTER JOIN r USING (contig, position, ref, s)
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin
    }),

    // --- de_novo (family_methods.py:564): posterior de novo calls over
    // synthesized GATK-style AD/GQ/PL entry fields (deterministic from
    // GT/DP/position so the oracle reproduces the closed-form posterior)
    Gate("geno_de_novo", (s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt0 = sources.Vcf.read(s, vcfFixture)
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
    }, {
      // de novo posterior for the het-kid/hom-ref-parents config with the
      // synthesized PL model: eps = 10^(-(25+pos%10)/10), matching-class
      // pp = 1/(1+2eps), off-class pp = eps/(1+2eps); all-SNV fixture so
      // only the SNP confidence chain applies; GQ always >= min_gq
      s"""WITH $sampleVcfCte,
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
    }),

    // --- transmission disequilibrium test (statgen.py tdt) ----------------
    Gate("geno_tdt", (s, _) => {
      implicit val rg: graft.functions.ReferenceGenome =
        graft.functions.ReferenceGenome.GRCh38
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.tdt(mt, Seq(
        ("S1", "S2", "S3"), ("S4", "S2", "S3"), ("S5", "S2", "S3"))).df
        .select(col("contig"), col("position"), col("ref"),
          col("t"), col("u"), round(col("chi_sq"), 6).as("chi_sq"))
    }, {
      s"""WITH $sampleVcfCte,
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
    }),

    // --- balding_nichols_model (statgen.py:2767): seeded generation is
    // deterministic, so per-variant call summaries gate against literal
    // goldens (provenance: BaldingNicholsSpec checks the af moments) -------
    Gate("balding_nichols", (s, _) => {
      val mt = methods.BaldingNichols.baldingNicholsModel(s,
        nPopulations = 3, nSamples = 20, nVariants = 50, seed = 7L)
      mt.rows.select(col("position"),
        round(col("ancestral_af"), 6).as("p0"),
        aggregate(transform(mt.entries,
          e => Calls.nNonRefAlleles(e("GT"))), lit(0), _ + _).as("n_alt"),
        aggregate(transform(mt.entries,
          e => Calls.isHet(e("GT")).cast("int")), lit(0), _ + _)
          .as("n_het"))
    },
      BaldingNicholsGolden)
  )
}
