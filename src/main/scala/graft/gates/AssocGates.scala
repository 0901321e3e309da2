package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Calls
import Support._

/** Association, relatedness and LD gates: linear/logistic/Poisson/mixed-
  * model regressions, SKAT, PC-Relate, KING, IBD and LD scores. */
object AssocGates {
  /** Literal k=2 PC scores for the `geno_pc_relate_pcs` gate, aligned
    * with fixture samples S1..S5. Literal (not PCA-derived) so the
    * oracle can embed the hat matrix X(XᵀX)⁻¹Xᵀ as constants. */
  private val PcRelateScores: IndexedSeq[Array[Double]] = IndexedSeq(
    Array(-2.0, 1.0), Array(-1.0, -1.0), Array(0.0, 1.0),
    Array(1.0, -1.0), Array(2.0, 1.0))

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

  /** OLS oracle CTE `imp`: each fixture genotype's mean-imputed dosage
    * `x` beside the phenotype `$y`, the sample's number. */
  private def olsImp(y: String): String =
    s"""imp AS (
      |  SELECT contig, position, ref, alts,
      |    coalesce(CAST(a1 + a2 AS DOUBLE),
      |      avg(CAST(a1 + a2 AS DOUBLE))
      |        OVER (PARTITION BY contig, position)) AS x,
      |    CAST(substr(s, 2, 10) AS DOUBLE) AS $y
      |  FROM q)""".stripMargin

  /** OLS oracle CTEs `g`, the sums of `from`'s (x, y) per variant (and per
    * `y_idx` when `byYIdx`), and `f`, which adds the closed-form slope
    * `beta` and intercept `alpha`. */
  private def olsFit(from: String, byYIdx: Boolean): String = {
    val (key, group) = if (byYIdx) (", y_idx", ", 5") else ("", "")
    s"""g AS (
      |  SELECT contig, position, ref, alts$key,
      |    count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      |  FROM $from GROUP BY 1, 2, 3, 4$group),
      |f AS (
      |  SELECT *,
      |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
      |    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
      |      AS alpha
      |  FROM g)""".stripMargin
  }

  /** OLS oracle columns over `f`: `beta`, its standard error and t. */
  private def olsTStats: String =
    """round(beta, 6) AS beta,
      |  round(sqrt(greatest((syy - beta * sxy - alpha * sy) / (n - 2), 0)
      |    * n / (n * sxx - sx * sx)), 6) AS standard_error,
      |  round(beta / sqrt(greatest((syy - beta * sxy - alpha * sy)
      |      / (n - 2), 0) * n / (n * sxx - sx * sx)), 4) AS t_stat""".stripMargin

  /** Binary carrier indicator of a call: 1 when it has a non-ref allele. */
  private def carrier(gt: Column): Column =
    (Calls.nNonRefAlleles(gt) > 0).cast("double")

  /** The fixture's called entries joined to `pheno`, with the integer
    * carrier indicator `x`. */
  private def carrierEntries(mt: MatrixTable, pheno: DataFrame): DataFrame =
    mt.entriesTable.df.join(broadcast(pheno), Seq("s"))
      .filter(col("GT").isNotNull)
      .withColumn("x", (Calls.nNonRefAlleles(col("GT")) > 0).cast("int"))

  /** A logistic gate's fit of the binary phenotype y (odd sample number)
    * on `carrier` with `test`, joined with each variant's 2x2 cell counts
    * `n11`, `n10`, `n01`, `n00` over (x, y), which the oracles' closed
    * forms read. */
  private def logisticCells(s: SparkSession, test: String): DataFrame = {
    val mt = sources.Vcf.read(s, vcfFixture)
    val pheno = mt.colsTable.df.withColumn("y",
      (substring(col("s"), 2, 10).cast("int") % 2).cast("double"))
    val fit = methods.Regression.logisticRegressionRows(mt, pheno, "y",
      xOf = carrier, test = test).df
    val cells = carrierEntries(mt, pheno)
      .groupBy(col("contig"), col("position"), col("ref"))
      .agg(
        sum(col("x") * col("y")).cast("long").as("n11"),
        sum(col("x") * (lit(1.0) - col("y"))).cast("long").as("n10"),
        sum((lit(1) - col("x")) * col("y")).cast("long").as("n01"),
        sum((lit(1) - col("x")) * (lit(1.0) - col("y"))).cast("long")
          .as("n00"))
    fit.join(cells, Seq("contig", "position", "ref"))
  }

  private def allCellsPositive: Column =
    col("n11") > 0 && col("n10") > 0 && col("n01") > 0 && col("n00") > 0

  /** The logistic oracles' CTEs: `d` pairs each called genotype's carrier
    * indicator x with the phenotype y, `c` counts the 2x2 cells per
    * variant (and their total `n` when `withN`). */
  private def logisticCellCtes(withN: Boolean): String = {
    val n = if (withN) ",\n    count(*) AS n" else ""
    s"""WITH $sampleVcfCte,
      |d AS (
      |  SELECT contig, position, ref,
      |    CASE WHEN a1 + a2 > 0 THEN 1 ELSE 0 END AS x,
      |    CAST(substr(s, 2, 10) AS INTEGER) % 2 AS y
      |  FROM q WHERE a1 IS NOT NULL),
      |c AS (
      |  SELECT contig, position, ref,
      |    sum(x * y) AS n11, sum(x * (1 - y)) AS n10,
      |    sum((1 - x) * y) AS n01, sum((1 - x) * (1 - y)) AS n00$n
      |  FROM d GROUP BY 1, 2, 3)""".stripMargin
  }

  /** PC-Relate oracle CTEs `d`, `st` and `c0`: each genotype's dosage,
    * its variant's mean dosage `meang`, and the mean-imputed dosage `gv`
    * by sample index (`mu` adds the columns after `gv`). */
  private def pcRelateGenotypes(mu: String): String =
    s"""WITH $sampleVcfCte,
      |d AS (
      |  SELECT contig, position, s, CAST(a1 + a2 AS DOUBLE) AS dose
      |  FROM q),
      |st AS (
      |  SELECT contig, position, avg(dose) AS meang
      |  FROM d GROUP BY 1, 2),
      |c0 AS (
      |  SELECT d.contig, d.position,
      |    CAST(substr(d.s, 2, 10) AS INTEGER) - 1 AS idx,
      |    coalesce(dose, meang) AS gv$mu
      |  FROM d JOIN st USING (contig, position))""".stripMargin

  /** PC-Relate oracle tail over `c1` (imputed dosage `gv`, fitted `mu`,
    * `bad` flag per sample and variant): the reference's gramian ratios
    * phi, k2 and k0, as the gates' kin and ibd columns. */
  private def pcRelateEstimates: String =
    """f AS (
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

  /** linear SKAT of the sample-number phenotype, one group per contig,
    * each variant weighted 1 / (position % 7 + 1). */
  private def skatByContig(s: SparkSession): DataFrame = {
    val mt = sources.Vcf.read(s, vcfFixture)
    val pheno = mt.colsTable.df
      .withColumn("y", substring(col("s"), 2, 10).cast("double"))
    methods.Skat.skat(mt, pheno, "y", Nil,
      keyExpr = col("contig"),
      weightExpr = lit(1.0) /
        (pmod(col("position"), lit(7)) + 1).cast("double"))
  }

  /** SKAT oracle CTEs: the intercept-only null's residuals `r` and
    * variance `ss`, the mean-imputed dosages `mi`, and `qv`, each
    * variant's weighted squared score. */
  private def skatQvCtes: String =
    s"""WITH $sampleVcfCte,
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
      |  GROUP BY contig, position, ref, alts)""".stripMargin

  def all: Seq[Gate] = Seq(
    // --- lambda_gc (statgen.py:3097): genomic-control inflation on a
    // symmetric uniform p grid — median p = 0.5 makes the implied chi²
    // median the null median, so λ = 1 in closed form --------------------
    Gate("geno_lambda_gc", (s, _) => {
      import s.implicits._
      val uniform = s.range(1, 100)
        .select((col("id").cast("double") / 100.0).as("p"))
      val l = methods.Genetics.lambdaGc(uniform, col("p"),
        approximate = false)
      Seq(math.rint(l * 1e6) / 1e6).toDF("lambda_gc")
    },
      // symmetric grid → λ = 1 in closed form (rounded to absorb the
      // chi²-quantile implementation's last-ulp wiggle)
      "SELECT CAST(1.0 AS DOUBLE) AS lambda_gc"),

    // --- linear_regression_rows (statgen.py:235): per-variant OLS via the
    // X'X Aggregator; deterministic phenotype derived from sample id;
    // p_value is spec-tested (no t-CDF in the oracle engine) ---------------
    Gate("linreg_rows", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val pheno = mt.colsTable.df
        .withColumn("y", substring(col("s"), 2, 10).cast("double"))
      methods.Regression.linearRegressionRows(mt, pheno, "y").df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("n"),
          round(col("beta"), 6).as("beta"),
          round(col("standard_error"), 6).as("standard_error"),
          round(col("t_stat"), 4).as("t_stat"))
    }, {
      s"""WITH $sampleVcfCte,
        |${olsImp("y")},
        |${olsFit("imp", byYIdx = false)}
        |SELECT contig, position, ref, alts, n,
        |  $olsTStats
        |FROM f""".stripMargin
    }),

    // --- multi-phenotype linear_regression_rows (list-of-y mode): one
    // scan fits every phenotype; exploded per (variant, y index) -------
    Gate("linreg_rows_multi", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
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
    }, {
      // each y fits independently with the shared x — the same simple-
      // regression closed form per (variant, y index)
      s"""WITH $sampleVcfCte,
        |${olsImp("y1")},
        |ys AS (
        |  SELECT contig, position, ref, alts, x,
        |    CAST(0 AS INTEGER) AS y_idx, y1 AS y FROM imp
        |  UNION ALL
        |  SELECT contig, position, ref, alts, x,
        |    CAST(1 AS INTEGER), y1 * y1 FROM imp),
        |${olsFit("ys", byYIdx = true)}
        |SELECT contig, position, ref, alts, n, y_idx,
        |  $olsTStats
        |FROM f""".stripMargin
    }),

    // --- linear_mixed_regression_rows (statgen.py, FaST-LMM spectral):
    // with identity kinship the REML model collapses to OLS, so beta and
    // the Wald chi_sq (= t^2) have the linreg closed form; the structured-
    // kinship path is spec-tested ------------------------------------------
    Gate("lmm_rows", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val pheno = mt.colsTable.df
        .withColumn("y", substring(col("s"), 2, 10).cast("double"))
      methods.Lmm.linearMixedRegressionRows(mt, pheno, "y",
        kinship = Some(breeze.linalg.DenseMatrix.eye[Double](mt.nCols))).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          round(col("beta"), 6).as("beta"),
          round(col("chi_sq"), 4).as("chi_sq"))
    }, {
      // identity-kinship LMM == OLS: same closed form as linreg_rows with
      // chi_sq = t^2
      s"""WITH $sampleVcfCte,
        |${olsImp("y")},
        |${olsFit("imp", byYIdx = false)}
        |SELECT contig, position, ref, alts,
        |  round(beta, 6) AS beta,
        |  round(beta * beta / (greatest((syy - beta * sxy - alpha * sy)
        |      / (n - 2), 0) * n / (n * sxx - sx * sx)), 4) AS chi_sq
        |FROM f""".stripMargin
    }),

    // --- logistic_regression_rows (statgen.py:731, Wald) with binary x:
    // the fitted slope must equal the closed-form log odds ratio ------------
    Gate("logistic_rows", (s, _) => {
      logisticCells(s, "wald")
        .filter(allCellsPositive)
        .select(col("contig"), col("position"), col("ref"), col("n"),
          round(col("beta"), 6).as("beta"),
          round(col("standard_error"), 6).as("standard_error"))
    }, {
      s"""${logisticCellCtes(withN = false)}
        |SELECT contig, position, ref,
        |  CAST(n11 + n10 + n01 + n00 AS BIGINT) AS n,
        |  round(ln(CAST(n11 * n00 AS DOUBLE) / (n10 * n01)), 6) AS beta,
        |  round(sqrt(1.0/n11 + 1.0/n10 + 1.0/n01 + 1.0/n00), 6)
        |    AS standard_error
        |FROM c WHERE n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0""".stripMargin
    }),

    // --- pc_project (experimental/pca.py): genotype projection onto
    // row loadings; synthetic deterministic loadings so the oracle
    // replays the whole projection ----------------------------------------
    Gate("geno_pc_project", (s, _) => {
      val mt0 = sources.Vcf.read(s, vcfFixture)
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
    }, {
      s"""WITH $sampleVcfCte,
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
    }),

    // --- KING-robust kinship (relatedness/king.py:9) -----------------------
    Gate("geno_king", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.king(mt)
        .select(col("s_i"), col("s_j"), col("n_shared"),
          col("n_het_het"), col("n_opp_hom"),
          round(col("phi"), 6).as("phi"))
    }, {
      s"""WITH $sampleVcfCte,
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
    }),

    // --- ld_prune (statgen.py:4708): greedy windowed prune + global MIS;
    // deterministic in key order, gated against the literal golden kept
    // set (provenance: MethodsSpec checks the r² invariants) ---------------
    Gate("geno_ld_prune", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Ld.ldPruneGlobal(mt, r2Threshold = 0.2, window = 1500,
        numPartitions = 2).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"))
    },
      // golden kept-set (regenerate from a Verify dump after an intended
      // pruning change; MethodsSpec proves the r² semantics)
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
        |  ('chr2', 3188, 'T', 'C')) t(contig, position, ref, alts)""".stripMargin),

    // --- windowed ld_matrix (statgen.py:3836): pairwise Pearson r ---------
    Gate("geno_ld_matrix", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      // `+ 0.0` collapses IEEE -0.0 (from rounding a tiny negative) to
      // +0.0 so the driver's repr-hash matches the oracle's
      methods.Ld.ldMatrix(mt, window = 1500)
        .select(col("contig"), col("pos_i"), col("pos_j"),
          (round(col("r"), 6) + lit(0.0)).as("r"))
    }, {
      s"""WITH $sampleVcfCte,
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
    }),

    // --- pc_relate (PCRelate.scala) with an intercept-only model (zero
    // PCs) so every statistic is a closed form the oracle reproduces;
    // PCA-adjusted path is spec-tested ------------------------------------
    Gate("geno_pc_relate", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.PcRelate.pcRelate(mt,
        IndexedSeq.fill(mt.nCols)(Array.empty[Double]),
        minIndividualMaf = 0.05)
        .select(col("i"), col("j"),
          (round(col("kin"), 6) + lit(0.0)).as("kin"),
          (round(col("ibd0"), 6) + lit(0.0)).as("ibd0"),
          (round(col("ibd1"), 6) + lit(0.0)).as("ibd1"),
          (round(col("ibd2"), 6) + lit(0.0)).as("ibd2"))
    }, {
      // pc_relate with an intercept-only model: mu = mean(dose)/2 per
      // variant; bad entries (non-integral imputed dose or out-of-range mu)
      // contribute zero; phi/k2/k0 are the reference's gramian ratios
      s"""${pcRelateGenotypes(", meang / 2.0 AS mu")},
        |c1 AS (
        |  SELECT *,
        |    gv IS NULL OR gv NOT IN (0.0, 1.0, 2.0) OR mu IS NULL
        |      OR mu <= 0.05 OR mu >= 0.95 OR mu <= 0.0 OR mu >= 1.0
        |      AS bad
        |  FROM c0),
        |$pcRelateEstimates""".stripMargin
    }),

    // --- hl.agg.info_score (aggregators.py:1568, IMPUTE info measure)
    // over the BGEN fixture's GP dosage triples ----------------------------
    Gate("geno_info_score", (s, _) => {
      import graft.operators.Aggs
      val mt = sources.Bgen.read(s,
        Fixtures.path("oracle_bgen.bgen"),
        Some(Fixtures.path("oracle_bgen.sample")))
      mt.rows.select(col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"),
        Aggs.infoScore(transform(col(MatrixTable.EntriesField),
          e => e("GP"))).as("__is"))
        .select(col("contig"), col("position"), col("ref"), col("alt"),
          round(col("__is")("score"), 6).as("score"),
          col("__is")("n_included").as("n_included"))
    },
      // IMPUTE info score replayed over the golden 8-bit GP dump
      raw"""WITH g AS (
        |  SELECT contig, position, ref, alt,
        |    pab8 / 255.0 AS pab,
        |    1.0 - paa8 / 255.0 - pab8 / 255.0 AS pbb
        |  FROM read_csv(
        |    '${Fixtures.path("oracle_bgen_expected.tsv")}',
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
        |FROM s""".stripMargin),

    // --- pc_relate with k=2 LITERAL PC scores (relatedness/pc_relate.py
    // `scores_expr=` path): mu comes from regressing imputed dosage on
    // [1|pc1|pc2]; with literal scores the hat matrix is a constant the
    // oracle embeds, so the FULL PC-adjusted estimator is SQL-checked ------
    Gate("geno_pc_relate_pcs", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.PcRelate.pcRelate(mt, PcRelateScores.map(_.clone()),
        minIndividualMaf = 0.05)
        .select(col("i"), col("j"),
          (round(col("kin"), 6) + lit(0.0)).as("kin"),
          (round(col("ibd0"), 6) + lit(0.0)).as("ibd0"),
          (round(col("ibd1"), 6) + lit(0.0)).as("ibd1"),
          (round(col("ibd2"), 6) + lit(0.0)).as("ibd2"))
    }, {
      // pc_relate with k=2 literal PCs: identical estimator SQL to
      // geno_pc_relate except mu_s = (H g)_s / 2 with the hat matrix
      // H = X(X'X)^-1 X' of the literal design X = [1|pc1|pc2], embedded
      // below as 25 constants (computed from the same literals the Spark
      // side passes — never from data)
      val x = breeze.linalg.DenseMatrix.tabulate(5, 3)((i, j) =>
        if (j == 0) 1.0 else PcRelateScores(i)(j - 1))
      val h = x * breeze.linalg.inv(x.t * x) * x.t
      val hatVals = (for { si <- 0 until 5; ti <- 0 until 5 }
        yield s"($si, $ti, ${h(si, ti)})").mkString(", ")
      s"""${pcRelateGenotypes("")},
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
        |$pcRelateEstimates""".stripMargin
    }),

    // --- linear_mixed_regression_rows with NON-TRIVIAL kinship (the
    // FaST-LMM spectral path end to end: eigendecomposition, REML delta,
    // distributed rotation, per-variant weighted GLS). Oracle = literal
    // golden values; provenance: LmmSpec's "dense REML replay" test
    // recomputes these with direct V-inverse linear algebra (no spectral
    // shortcut) and asserts agreement to 1e-4 ------------------------------
    Gate("lmm_kinship", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
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
    },
      // golden literal oracle; values independently reproduced by LmmSpec's
      // dense (non-spectral) REML replay — see the gate query comment
      LmmKinshipGolden),

    // --- skat with the Imhof mixture p-value (statgen.py:2870 returns
    // p_value; the q_stat column is the exact-SQL anchor and p is a
    // literal golden; provenance: SkatSpec proves imhofTail exact against
    // closed-form chi-square mixture tails) --------------------------------
    Gate("geno_skat_p", (s, _) => {
      skatByContig(s)
        .select(col("id"), col("size"),
          round(col("q_stat"), 6).as("q_stat"),
          round(col("p_value"), 6).as("p_value"))
    }, {
      // q_stat from the exact SQL quadratic form; p_value joined as a
      // literal golden per group (imhofTail's exactness is spec-proven on
      // closed-form mixtures, SkatSpec)
      s"""$skatQvCtes,
        |qs AS (
        |  SELECT contig AS id, CAST(count(*) AS INTEGER) AS size,
        |    round(sum(qc) / (2 * ss.sigsq), 6) AS q_stat
        |  FROM qv, ss GROUP BY contig, ss.sigsq)
        |SELECT id, size, q_stat, p.p_value
        |FROM qs JOIN (VALUES $SkatPGolden) AS p(id, p_value) USING (id)""".stripMargin
    }),

    // --- skat (statgen.py:2870, Skat.scala): linear variance-component
    // score per key group; q_stat is a closed quadratic form the oracle
    // reproduces exactly (p_value is spec-tested — mixture CDF) ----------
    Gate("geno_skat", (s, _) => {
      skatByContig(s)
        .select(col("id"), col("size"),
          round(col("q_stat"), 6).as("q_stat"))
    }, {
      // linear SKAT q_stat is the closed quadratic form
      // sum_v w_v (res . x_v)^2 / (2 sigma^2) with an intercept-only null
      s"""$skatQvCtes
        |SELECT contig AS id, CAST(count(*) AS INTEGER) AS size,
        |  round(sum(qc) / (2 * ss.sigsq), 6) AS q_stat
        |FROM qv, ss GROUP BY contig, ss.sigsq""".stripMargin
    }),

    // --- logistic_regression_rows test='lrt' (statgen.py:731): with
    // binary x the full model is saturated on the 2x2 cells, so the
    // deviance is closed-form ----------------------------------------------
    Gate("logistic_lrt", (s, _) => {
      logisticCells(s, "lrt")
        .filter(allCellsPositive)
        .select(col("contig"), col("position"), col("ref"), col("n"),
          round(col("chi_sq_stat"), 6).as("chi_sq_stat"))
    }, {
      // deviance of the cell-saturated full model vs the intercept null:
      // 2*(LL_full - LL_null), all closed-form over the 2x2 cells
      s"""${logisticCellCtes(withN = false)},
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
    }),

    // --- logistic_regression_rows test='score' (statgen.py:731): the
    // score statistic at the null fit is closed-form for binary x ----------
    Gate("logistic_score", (s, _) => {
      logisticCells(s, "score")
        .filter(col("n11") + col("n01") > 0 &&
          col("n10") + col("n00") > 0 &&
          col("n11") + col("n10") > 0 &&
          col("n01") + col("n00") > 0)
        .select(col("contig"), col("position"), col("ref"), col("n"),
          round(col("chi_sq_stat"), 6).as("chi_sq_stat"))
    }, {
      // score statistic at the intercept-only null fit: closed-form
      // U^2 / (pbar qbar n1 (1 - n1/n)) for binary x
      s"""${logisticCellCtes(withN = true)},
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
    }),

    // --- logistic_regression_rows test='firth' (statgen.py:731;
    // LogisticRegression.scala firth kernel): with binary x the penalized
    // (Jeffreys) fit is closed-form — the modified score equations reduce
    // to the add-half rule mu1=(n11+.5)/(m1+1), mu0=(n01+.5)/(m0+1), and
    // the null to mu=(k+.5)/(n+1), so beta, se, and the penalized
    // deviance are all exact cell arithmetic the oracle can replay ---------
    Gate("logistic_firth", (s, _) => {
      logisticCells(s, "firth")
        .filter(allCellsPositive)
        .select(col("contig"), col("position"), col("ref"), col("n"),
          round(col("beta"), 6).as("beta"),
          round(col("standard_error"), 6).as("standard_error"),
          round(col("chi_sq_stat"), 6).as("chi_sq_stat"))
    }, {
      // firth penalized fit on the 2x2 cells: add-half group means, Wald
      // se from the information at the penalized optimum, and the
      // penalized-likelihood ratio incl. the 0.5*ln det I Jeffreys terms
      s"""${logisticCellCtes(withN = false)},
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
    }),

    // --- poisson_regression_rows (statgen.py:1650, Wald) with binary x:
    // the fitted slope must equal the closed-form log rate ratio -----------
    Gate("poisson_rows", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      // deterministic count phenotype from sample id
      val pheno = mt.colsTable.df.withColumn("y",
        (substring(col("s"), 2, 10).cast("int") + 1).cast("double"))
      val fit = methods.Regression.poissonRegressionRows(mt, pheno, "y",
        xOf = carrier).df
      val cells = carrierEntries(mt, pheno).groupBy(col("contig"), col("position"), col("ref"))
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
    }, {
      // Poisson MLE with binary x is closed-form: beta = ln(mean1/mean0),
      // SE = sqrt(1/sum(y|x=1) + 1/sum(y|x=0))
      s"""WITH $sampleVcfCte,
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
    }),

    // --- identity_by_descent (IBD.scala, PLINK MoM); raw (unbounded) Zs
    // so the oracle is closed-form ------------------------------------------
    Gate("geno_ibd", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      methods.Genetics.identityByDescent(mt, bounded = false)
        .select(col("s_i"), col("s_j"), col("ibs0"), col("ibs1"),
          col("ibs2"), round(col("Z0"), 6).as("z0"),
          round(col("Z1"), 6).as("z1"), round(col("Z2"), 6).as("z2"),
          round(col("PI_HAT"), 6).as("pi_hat"))
    }, {
      s"""WITH $sampleVcfCte,
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
    }),

    // --- ld_score (experimental/ldscore.py): windowed sums of adjusted
    // r² for the univariate and one partitioned annotation, via the
    // radius-binned banded self-join (nothing n² materialized) -------------
    Gate("geno_ld_score", (s, _) => {
      val mt0 = sources.Vcf.read(s, vcfFixture)
      val mt = mt0.copy(rows = mt0.rows
        .withColumn("ann1",
          (pmod(col("position"), lit(5)) + 1).cast("double")))
      methods.LdScore.ldScore(mt, e => Calls.nNonRefAlleles(e("GT")),
        radius = 1000.0, annotations = Seq("ann1"))
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          round(col("ann1"), 6).as("ann1"),
          round(col("univariate"), 6).as("univariate"))
    }, {
      s"""$unitDoseCtes,
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
    }),

    // --- ld_score_regression (experimental/ld_score_regression.py):
    // two-step LDSC with block jackknife on deterministic synthetic
    // summary stats; golden values from an independent NumPy replica of
    // the reference algorithm (tools/gen_goldens.py notes) ------------------
    Gate("geno_ldsc", (s, _) => {
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
    },
      """SELECT 'gwas1' AS phenotype, 32.35 AS mean_chi_sq,
        |  15.121377 AS intercept, 3.433036 AS intercept_se,
        |  0.085999 AS snp_h2, 0.010263 AS snp_h2_se""".stripMargin)
  )
}
