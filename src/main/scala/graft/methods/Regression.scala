package graft.methods

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{MatrixTable, Table}
import graft.functions.{Calls, StatTests}
import graft.operators.Aggs

/** GWAS regressions (reference `python/hail/methods/statgen.py:235`
  * `linear_regression_rows`; Scala kernel
  * `is/hail/methods/LinearRegression.scala`).
  *
  * Spark shape: each per-variant fit is a narrow map over the rows. The
  * col data lives on the driver (`colValues`), so `pheno` is collected
  * once into arrays aligned with the col index (`colPheno`; col-sized
  * under the MatrixTable contract, like `colValues`), and each variant
  * reads its own `entries` array in place — the reference's
  * entries-scoped aggregation streams over the row the same way. No
  * entry explode, no join back of the col data, no window and no
  * shuffle: one pass over the rows at any number of variants × samples.
  * Linear rows fold X'X/X'y/y'y per row and solve with
  * `Aggs.linregSolve`; the logistic and Poisson rows pass each variant's
  * design to one local Newton fitter. */
object Regression {

  /** `pheno` on the driver, aligned with `mt`'s col index: `has(j)` when
    * col j has a pheno row; `ys(i)(j)`, phenotype i of col j as a double
    * (null when missing or when col j has no pheno row); `covs(j)`, its
    * covariates when all its phenotypes are present (empty otherwise: no
    * fit reads them). */
  private final case class ColPheno(has: Array[Boolean],
      ys: Array[Array[java.lang.Double]], covs: Array[Array[Double]])

  /** The col prologue of every per-variant method: one collect of
    * `pheno`, keyed like the matrix cols. A col key that appears twice in
    * `pheno` is an error that names it (an inner join would count the
    * sample twice), and so is a null covariate of a matrix col whose
    * phenotypes are present — a col the fits read. Pheno rows whose key
    * the matrix lacks, or whose key is null, are ignored. */
  private def colPheno(mt: MatrixTable, pheno: DataFrame,
      yCols: Seq[String], covCols: Seq[String]): ColPheno = {
    val nk = mt.colKey.length
    def keyOf(r: Row, idx: Seq[Int]): Seq[Any] = idx.map(r.get)
    val byKey = collection.mutable.HashMap.empty[Seq[Any], Row]
    for (r <- pheno.select(
        mt.colKey.map(k => col(k).cast(mt.colSchema(k).dataType)) ++
          (yCols ++ covCols).map(c => col(c).cast("double")): _*).collect();
        key = keyOf(r, 0 until nk) if !key.contains(null))
      require(byKey.put(key, r).isEmpty,
        s"pheno has more than one row for col key ${key.mkString(", ")}")
    val colIdx = mt.colKey.map(mt.colSchema.fieldIndex)
    val matched = mt.colValues.map(cv => byKey.get(keyOf(cv, colIdx)))
    val yAt = yCols.indices.map(nk + _)
    val covAt = covCols.indices.map(nk + yCols.length + _)
    ColPheno(
      matched.map(_.isDefined).toArray,
      yAt.map(i => matched.map(_.map(r =>
        r.get(i).asInstanceOf[java.lang.Double]).orNull).toArray).toArray,
      matched.map(_.filter(r => yAt.forall(!r.isNullAt(_)))
        .fold(Array.empty[Double])(r => covAt.map { c =>
          require(!r.isNullAt(c), s"pheno has a null covariate for col " +
            s"key ${keyOf(r, 0 until nk).mkString(", ")}")
          r.getDouble(c)
        }.toArray)).toArray)
  }

  /** `mt`'s row keys beside `c` as column `name`, on the rows where
    * `keep(c)` holds. A generator evaluates `c` once; a Filter above the
    * projection would be pushed below it and evaluate `c` twice. */
  private[methods] def rowsWhere(mt: MatrixTable, c: Column,
      keep: Column => Column, name: String): DataFrame =
    mt.rows.select(mt.rowKey.map(col) :+
      explode(filter(array(c), keep)).as(name): _*)

  /** Per-variant OLS fits of each of `cp`'s phenotypes on the `k` terms
    * [1, dosage, covariates], one `Aggs.LinregOut` per phenotype, read
    * off the row's entries. The dosage (n alt alleles) of a present entry
    * with a missing GT is the mean over the called entries of the samples
    * with a pheno row, whatever their y (the reference's mean
    * imputation); each fit covers the samples with a pheno row, a present
    * entry and a non-null y. Null — no row — when no sample with a pheno
    * row has a present entry. */
  private def linearFits(mt: MatrixTable, cp: ColPheno, k: Int): Column = {
    val fit = udf { (present: Seq[Boolean], dosage: Seq[java.lang.Double]) =>
      val cols = present.indices.filter(j => cp.has(j) && present(j))
      if (cols.isEmpty) null
      else {
        val called = cols.flatMap(j => Option(dosage(j)).map(_.doubleValue))
        val mean = called.sum / called.length
        cp.ys.toSeq.map { y =>
          Aggs.linregSolve(cols.filter(y(_) != null).foldLeft(
            Aggs.linregZero(k)) { (b, j) =>
            val x = Option(dosage(j)).fold(mean)(_.doubleValue)
            Aggs.linregAdd(b, 1.0 +: x +: cp.covs(j).toSeq, y(j))
          })
        }
      }
    }
    fit(transform(mt.entries, _.isNotNull),
      transform(mt.entries, e => Calls.nNonRefAlleles(e("GT")).cast("double")))
  }

  /** Per-variant OLS of `yCol` on genotype dosage (n alt alleles) plus
    * `covCols`, with intercept. Returns the variant-keyed Table with
    * beta/standard_error/t_stat/p_value for the genotype term (reference
    * field names), plus n. `pheno` must be keyed by the matrix col key. */
  def linearRegressionRows(mt: MatrixTable, pheno: DataFrame,
      yCol: String, covCols: Seq[String] = Nil): Table = {
    val k = 2 + covCols.length // intercept + genotype + covariates
    val fits = linearFits(mt, colPheno(mt, pheno, Seq(yCol), covCols), k)
    val fit = element_at(col("__fits"), 1)
    val beta = element_at(fit("beta"), 2)
    val se = element_at(fit("standard_error"), 2)
    val n = fit("n")
    val t = beta / se
    val out = rowsWhere(mt, fits, _.isNotNull, "__fits").select(
      mt.rowKey.map(col) ++ Seq(n.as("n"), beta.as("beta"),
        se.as("standard_error"), t.as("t_stat"),
        StatTests.pT(t, (n - k).cast("double")).as("p_value")): _*)
    Table(out, mt.rowKey, mt.globals)
  }

  /** Multi-phenotype linear_regression_rows (the reference's list-of-y
    * mode, `statgen.py linear_regression_rows` with `y=[..]`): one pass
    * fits ALL phenotypes — the per-variant design is shared, each y adds
    * only its own moments. Mirrors the reference's complete-case rule for
    * the multi-y mode: samples missing ANY phenotype are dropped for all
    * of them, so `n` is one number per variant. Returns arrays indexed
    * like `yCols` for beta / standard_error / t_stat / p_value. */
  def linearRegressionRowsMulti(mt: MatrixTable, pheno: DataFrame,
      yCols: Seq[String], covCols: Seq[String] = Nil): Table = {
    require(yCols.nonEmpty)
    val k = 2 + covCols.length
    val completeCase = yCols.map(c => col(c).isNotNull)
      .reduce(_ && _)
    val fits = linearFits(mt,
      colPheno(mt, pheno.filter(completeCase), yCols, covCols), k)
    def over(f: Column => Column): Column = transform(col("__fits"), f)
    val beta = over(f => element_at(f("beta"), 2))
    val se = over(f => element_at(f("standard_error"), 2))
    val n = element_at(col("__fits"), 1)("n")
    val out = rowsWhere(mt, fits, _.isNotNull, "__fits")
      .select(mt.rowKey.map(col) ++ Seq(n.as("n"), beta.as("beta"),
        se.as("standard_error")): _*)
      .withColumn("t_stat",
        zip_with(col("beta"), col("standard_error"), (b, s) => b / s))
      .withColumn("p_value", transform(col("t_stat"),
        t => StatTests.pT(t, (col("n") - k).cast("double"))))
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

  /** The per-variant test (reference `LogisticRegression.scala`
    * wald/lrt/score/firth kernels, `PoissonRegression.scala` wald;
    * per-variant complete-case, so the null model refits on each
    * variant's called samples). Column 1 of the design is the tested x
    * term. Returns (beta, se, statistic, p, converged) for x, the
    * statistic z for wald and chi-square otherwise, score with a null
    * beta and se; every field is null when a fit does not converge. */
  private def glmTest(link: Link, test: String)
      : (Seq[Seq[Double]], Seq[Double]) => (java.lang.Double,
        java.lang.Double, java.lang.Double, java.lang.Double, Boolean) =
    (xs, ys) => {
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

  /** The rows methods fitted locally per variant: each row's design is
    * read off its entries — one observation [1, xOf(GT), covariates] and
    * y per sample whose entry is present with a called GT and a non-null
    * xOf(GT), that has a pheno row and a non-null y (complete-case) — and
    * fitted by `glmTest`, bounded by sample count, distributed across
    * variants. A variant gets a row iff n >= 1. Keeps n and the test's
    * columns. */
  private def glmRows(mt: MatrixTable, pheno: DataFrame, yCol: String,
      covCols: Seq[String], xOf: Column => Column, link: Link,
      test: String): Table = {
    val cp = colPheno(mt, pheno, Seq(yCol), covCols)
    val y = cp.ys.head
    val fitOf = glmTest(link, test)
    val fit = udf { (xs: Seq[java.lang.Double]) =>
      val obs = xs.indices.filter(j => xs(j) != null && y(j) != null)
      if (obs.isEmpty) null
      else (obs.length.toLong, fitOf(
        obs.map(j => 1.0 +: xs(j).doubleValue +: cp.covs(j).toSeq),
        obs.map(y(_).doubleValue)))
    }
    // x of each entry with a called GT, null otherwise
    val fits = fit(transform(mt.entries,
      e => when(e("GT").isNotNull, xOf(e("GT")).cast("double"))))
    val stat = if (test == "wald") "z_stat" else "chi_sq_stat"
    val fields =
      (if (test == "score") Nil
       else Seq("beta" -> "_1", "standard_error" -> "_2")) ++
        Seq(stat -> "_3", "p_value" -> "_4", "converged" -> "_5")
    val out = rowsWhere(mt, fits, _.isNotNull, "__fit").select(
      mt.rowKey.map(col) ++ (col("__fit._1").as("n") +: fields.map {
        case (name, f) => col("__fit._2")(f).as(name) }): _*)
    Table(out, mt.rowKey, mt.globals)
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
