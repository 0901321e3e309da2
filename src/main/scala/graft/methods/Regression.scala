package graft.methods

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.UserDefinedFunction

import graft.{MatrixTable, Table}
import graft.functions.{Calls, StatTests}
import graft.operators.Aggs

/** GWAS regressions (reference `python/hail/methods/statgen.py:235`
  * `linear_regression_rows`; Scala kernel
  * `is/hail/methods/LinearRegression.scala`).
  *
  * Spark shape: the per-variant regression is a grouped aggregation over
  * the coordinate representation — `groupBy(variant)` with the custom
  * X'X/X'y/y'y `Aggregator` (constant-size buffer, partial/final hash agg,
  * no driver funnel). Missing genotypes are mean-imputed per variant via a
  * window over the same variant partitioning, which Catalyst satisfies
  * with the SAME hash exchange as the groupBy — one shuffle total, at any
  * number of variants × samples. Phenotypes/covariates arrive as a small
  * per-sample table broadcast onto the coordinate rows. */
object Regression {

  /** Per-variant OLS of `yCol` on genotype dosage (n alt alleles) plus
    * `covCols`, with intercept. Returns the variant-keyed Table with
    * beta/standard_error/t_stat/p_value for the genotype term (reference
    * field names), plus n. `pheno` must be keyed by the matrix col key. */
  def linearRegressionRows(mt: MatrixTable, pheno: DataFrame,
      yCol: String, covCols: Seq[String] = Nil): Table = {
    val k = 2 + covCols.length // intercept + genotype + covariates
    val e = mt.entriesTable.df
      .join(broadcast(pheno), mt.colKey, "inner")
    val keyCols = mt.rowKey.map(col)
    // mean-impute missing genotype dosage per variant (reference behavior);
    // the window's hash partitioning is reused by the groupBy below
    val w = Window.partitionBy(keyCols: _*)
    val rawX = Calls.nNonRefAlleles(col("GT")).cast("double")
    val x = coalesce(rawX, avg(rawX).over(w))
    val xs = array((lit(1.0) +: x +: covCols.map(c => col(c).cast("double")))
      : _*)
    val fit = e
      .withColumn("__xs", xs)
      .groupBy(keyCols: _*)
      .agg(Aggs.linreg(col(yCol).cast("double"), col("__xs"), k).as("__fit"))
    val beta = element_at(col("__fit")("beta"), 2)
    val se = element_at(col("__fit")("standard_error"), 2)
    val n = col("__fit")("n")
    val t = beta / se
    val out = fit
      .withColumn("n", n)
      .withColumn("beta", beta)
      .withColumn("standard_error", se)
      .withColumn("t_stat", t)
      .withColumn("p_value", StatTests.pT(t, (n - k).cast("double")))
      .drop("__fit")
    Table(out, mt.rowKey, mt.globals)
  }

  /** Multi-phenotype linear_regression_rows (the reference's list-of-y
    * mode, `statgen.py linear_regression_rows` with `y=[..]`): one scan
    * and one shuffle fit ALL phenotypes — the per-variant design matrix
    * is shared, each y adds only an extra aggregation buffer. Mirrors
    * the reference's complete-case rule for the multi-y mode: samples
    * missing ANY phenotype are dropped for all of them, so `n` is one
    * number per variant. Returns arrays indexed like `yCols` for
    * beta / standard_error / t_stat / p_value. */
  def linearRegressionRowsMulti(mt: MatrixTable, pheno: DataFrame,
      yCols: Seq[String], covCols: Seq[String] = Nil): Table = {
    require(yCols.nonEmpty)
    val k = 2 + covCols.length
    val completeCase = yCols.map(c => col(c).isNotNull)
      .reduce(_ && _)
    val e = mt.entriesTable.df
      .join(broadcast(pheno.filter(completeCase)), mt.colKey, "inner")
    val keyCols = mt.rowKey.map(col)
    val w = Window.partitionBy(keyCols: _*)
    val rawX = Calls.nNonRefAlleles(col("GT")).cast("double")
    val x = coalesce(rawX, avg(rawX).over(w))
    val xs = array((lit(1.0) +: x +: covCols.map(c =>
      col(c).cast("double"))): _*)
    val fits = yCols.zipWithIndex.map { case (y, i) =>
      Aggs.linreg(col(y).cast("double"), col("__xs"), k).as(s"__fit$i")
    }
    val fit = e.withColumn("__xs", xs)
      .groupBy(keyCols: _*)
      .agg(fits.head, fits.tail: _*)
    def over(f: Column => Column): Column =
      array(yCols.indices.map(i => f(col(s"__fit$i"))): _*)
    val beta = over(f => element_at(f("beta"), 2))
    val se = over(f => element_at(f("standard_error"), 2))
    val n = col("__fit0")("n")
    val out = fit
      .withColumn("n", n)
      .withColumn("beta", beta)
      .withColumn("standard_error", se)
      .withColumn("t_stat",
        zip_with(beta, se, (b, s) => b / s))
      .withColumn("p_value", transform(
        zip_with(beta, se, (b, s) => b / s),
        t => StatTests.pT(t, (n - k).cast("double"))))
      .drop(yCols.indices.map(i => s"__fit$i"): _*)
    Table(out, mt.rowKey, mt.globals)
  }

  /** A canonical GLM link of the local fitter: the mean mu(eta) and the
    * IRLS weight w(mu), which for a canonical link is the variance. */
  private[methods] sealed abstract class Link(val mean: Double => Double,
      val weight: Double => Double)
  private[methods] case object Logit
      extends Link(e => 1.0 / (1.0 + math.exp(-e)), m => m * (1.0 - m))
  private[methods] case object LogLink extends Link(math.exp, m => m)

  // the one stop rule of every local fit: the Newton step's L2 norm
  // (a step-size rule, like the reference's `LogisticRegressionModel`)
  private val StepTol = 1e-7
  private val MaxIter = 100

  /** XᵀWX, the information of a canonical-link GLM with weights `w`. */
  private def gram(X: breeze.linalg.DenseMatrix[Double],
      w: breeze.linalg.DenseVector[Double])
      : breeze.linalg.DenseMatrix[Double] =
    X.t * (X(::, breeze.linalg.*) *:* w)

  /** Newton-Raphson fit of a canonical-link GLM on one local design — the
    * per-variant kernel shape of the reference's
    * `is/hail/methods/LogisticRegression.scala` and
    * `PoissonRegression.scala` (samples per variant, thousands, fit
    * locally per group). Returns (beta, the information the last step was
    * solved with — the reference's convention — and converged): the fit
    * converges once a step is shorter than `StepTol`; a NaN step
    * (singular information) ends it unconverged, and so do `MaxIter`
    * steps. `firth` (logistic only) uses Firth's adjusted score (Firth
    * 1993; the reference's firth path), which adds h_i(0.5 − mu_i) to
    * each residual, h the hat-matrix diagonal. */
  private[methods] def fitGlm(X: breeze.linalg.DenseMatrix[Double],
      y: breeze.linalg.DenseVector[Double], link: Link,
      firth: Boolean = false)
      : (breeze.linalg.DenseVector[Double],
        breeze.linalg.DenseMatrix[Double], Boolean) = {
    import breeze.linalg._
    val k = X.cols
    var beta = DenseVector.zeros[Double](k)
    var info = DenseMatrix.zeros[Double](k, k)
    var converged = false
    var failed = false
    var iter = 0
    while (!converged && !failed && iter < MaxIter) {
      val mu = (X * beta).map(link.mean)
      val w = mu.map(link.weight)
      info = gram(X, w)
      val resid = y - mu
      if (firth) {
        // singular information (collinear/constant design): no penalized
        // fit exists — end non-converged instead of throwing (the UDF
        // must be total; Spark may evaluate it on rows a later filter
        // would drop)
        val infoInv =
          try inv(info)
          catch { case _: Exception => null }
        if (infoInv == null) failed = true
        else {
          var i = 0
          while (i < X.rows) {
            val xi = X(i, ::).t
            val h = w(i) * (xi dot (infoInv * xi))
            resid(i) += h * (0.5 - mu(i))
            i += 1
          }
        }
      }
      val step =
        try info \ (X.t * resid)
        catch { case _: Exception => DenseVector.fill(k)(Double.NaN) }
      beta = beta + step
      iter += 1
      failed ||= step.exists(_.isNaN)
      converged = !failed && norm(step) < StepTol
    }
    (beta, info, converged)
  }

  /** Logistic log-likelihood at `beta`; with `firth`, penalized by
    * 0.5·logdet of the information at `beta` — NaN when that information
    * is not positive definite. */
  private def logisticLogLik(X: breeze.linalg.DenseMatrix[Double],
      y: breeze.linalg.DenseVector[Double],
      beta: breeze.linalg.DenseVector[Double], firth: Boolean): Double = {
    val eta = X * beta
    // stable log(1 + e^eta) = max(eta, 0) + log1p(e^-|eta|)
    var ll = 0.0
    var i = 0
    while (i < y.length) {
      ll += y(i) * eta(i) -
        (math.max(eta(i), 0.0) + math.log1p(math.exp(-math.abs(eta(i)))))
      i += 1
    }
    if (!firth) ll
    else
      try {
        val c = breeze.linalg.cholesky(
          gram(X, eta.map(Logit.mean).map(Logit.weight)))
        ll + (0 until X.cols).map(j => math.log(c(j, j))).sum
      } catch { case _: Exception => Double.NaN }
  }

  private def chiSqTail1(x: Double): Double =
    // clamp at 0: the firth penalized deviance of nested fits can land
    // epsilon-negative (the penalties have different dimension)
    if (x <= 0) 1.0
    else 1.0 - org.apache.commons.math3.special.Gamma
      .regularizedGammaP(0.5, x / 2.0)

  /** The per-variant test UDF (reference `LogisticRegression.scala`
    * wald/lrt/score/firth kernels, `PoissonRegression.scala` wald;
    * per-variant complete-case, so the null model refits on each
    * variant's called samples). Column 1 of the design is the tested x
    * term. Returns (beta, se, statistic, p, converged) for x, the
    * statistic z for wald and chi-square otherwise, score with a null
    * beta and se; every field is null when a fit does not converge. */
  private def glmTestUdf(link: Link, test: String): UserDefinedFunction =
    udf { (xs: Seq[Seq[Double]], ys: Seq[Double]) =>
      import breeze.linalg._
      val X = DenseMatrix(xs.map(_.toArray): _*)
      val y = DenseVector(ys.toArray)
      // the null design: every column but x (wald never fits it)
      lazy val Xn = X(::, (0 until X.cols).filter(_ != 1)).toDenseMatrix
      def se(info: DenseMatrix[Double]): Double =
        try math.sqrt(inv(info).apply(1, 1))
        catch { case _: Exception => Double.NaN }
      val fit: Option[(java.lang.Double, java.lang.Double, Double, Double)] =
        test match {
          case "wald" =>
            val (b, info, c) = fitGlm(X, y, link)
            val seX = se(info)
            val z = b(1) / seX
            Option.when(c)((b(1), seX, z, 2.0 * (1.0 -
              new org.apache.commons.math3.distribution.NormalDistribution()
                .cumulativeProbability(math.abs(z)))))
          case "lrt" | "firth" =>
            val firth = test == "firth"
            val (b, info, c) = fitGlm(X, y, link, firth)
            val (b0, _, c0) = fitGlm(Xn, y, link, firth)
            // the penalized fit's se reads the information at its optimum
            val infoB =
              if (firth) gram(X, (X * b).map(link.mean).map(link.weight))
              else info
            val chi2 = 2.0 * (logisticLogLik(X, y, b, firth) -
              logisticLogLik(Xn, y, b0, firth))
            Option.when(c && c0 && !chi2.isNaN)(
              (b(1), se(infoB), chi2, chiSqTail1(chi2)))
          case "score" =>
            // beta at the null: fitted for untested terms, 0 for x
            val (b0, _, c0) = fitGlm(Xn, y, link)
            val mu0 = (Xn * b0).map(link.mean)
            val u = X.t * (y - mu0)
            val stat =
              try u dot (gram(X, mu0.map(link.weight)) \ u)
              catch { case _: Exception => Double.NaN }
            Option.when(c0 && !stat.isNaN)(
              (null, null, stat, chiSqTail1(stat)))
        }
      fit match {
        case Some((b, s, stat, p)) =>
          (b, s, java.lang.Double.valueOf(stat), java.lang.Double.valueOf(p),
            true)
        case None => (null: java.lang.Double, null: java.lang.Double,
          null: java.lang.Double, null: java.lang.Double, false)
      }
    }

  /** The rows methods fitted locally per variant: `pheno` joined onto the
    * entries, rows with missing GT or y dropped (complete-case), the
    * per-variant design [1, xOf(GT), covariates] collected into the
    * group and fitted by `glmTestUdf` — bounded by sample count,
    * distributed across variants. Keeps n and the test's columns. */
  private def glmRows(mt: MatrixTable, pheno: DataFrame, yCol: String,
      covCols: Seq[String], xOf: Column => Column, link: Link,
      test: String): Table = {
    val e = mt.entriesTable.df
      .join(broadcast(pheno), mt.colKey, "inner")
      .filter(col("GT").isNotNull && col(yCol).isNotNull)
    val xs = array((lit(1.0) +: xOf(col("GT")) +: covCols.map(c =>
      col(c).cast("double"))): _*)
    val fit = e
      .withColumn("__xs", xs)
      .groupBy(mt.rowKey.map(col): _*)
      .agg(
        glmTestUdf(link, test)(collect_list(col("__xs")),
          collect_list(col(yCol).cast("double"))).as("__fit"),
        count(lit(1)).as("n"))
    val stat = if (test == "wald") "z_stat" else "chi_sq_stat"
    val fields =
      (if (test == "score") Nil
       else Seq("beta" -> "_1", "standard_error" -> "_2")) ++
        Seq(stat -> "_3", "p_value" -> "_4", "converged" -> "_5")
    val out = fit.select(col("*") +: fields.map { case (name, f) =>
      col("__fit")(f).as(name) }: _*)
    Table(out.drop("__fit"), mt.rowKey, mt.globals)
  }

  /** poisson_regression_rows, Wald (reference `statgen.py:1650`): per-
    * variant Poisson regression of count `yCol` on `xOf(GT)` plus
    * covariates with intercept; emits beta/standard_error/z_stat/p_value
    * and converged. */
  def poissonRegressionRows(mt: MatrixTable, pheno: DataFrame,
      yCol: String, covCols: Seq[String] = Nil,
      xOf: Column => Column = Calls.nNonRefAlleles(_).cast("double"))
      : Table =
    glmRows(mt, pheno, yCol, covCols, xOf, LogLink, "wald")

  /** logistic_regression_rows (reference `statgen.py:731`): per-variant
    * logistic regression of binary `yCol` on `xOf(GT)` plus covariates
    * with intercept; `test` selects wald (default) / lrt / score / firth
    * (`is/hail/methods/LogisticRegression.scala` implements the same
    * four). Wald emits beta/standard_error/z_stat/p_value; lrt/firth emit
    * beta/standard_error/chi_sq_stat/p_value; score emits
    * chi_sq_stat/p_value; each also emits n and converged. */
  def logisticRegressionRows(mt: MatrixTable, pheno: DataFrame,
      yCol: String, covCols: Seq[String] = Nil,
      xOf: Column => Column = Calls.nNonRefAlleles(_).cast("double"),
      test: String = "wald"): Table = {
    require(Set("wald", "lrt", "score", "firth").contains(test),
      s"unknown logistic test $test")
    glmRows(mt, pheno, yCol, covCols, xOf, Logit, test)
  }
}
