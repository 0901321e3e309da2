package graft.methods

import breeze.linalg.{eigSym, qr, DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.MatrixTable
import graft.functions.Calls

/** SKAT — sequence kernel association test (reference
  * `python/hail/methods/statgen.py:2870` `skat`,
  * `is/hail/methods/Skat.scala`; Wu et al. 2011).
  *
  * Model (same decomposition as the reference): with per-sample phenotype
  * y, covariates X (intercept included), null-model predictions mu and
  * residuals res = y − mu, per-variant mean-imputed genotype vector g and
  * weight w, the variance-component score is
  * Q = Σ_v w_v (res · g_v)², and its null distribution is the mixture
  * Σ λ_i χ²(1) with λ the non-zero eigenvalues of the m×m gramian
  * AᵀA − BᵀB (A = per-variant weighted genotype columns, B their
  * projection through the null design: Q0ᵀ·xw linear, C⁻¹XᵀV·xw
  * logistic).
  *
  * Spark shape: the null fit is a driver-side Breeze solve (samples are
  * the driver-size dimension); per-variant q/a/b are pure codegen'd
  * zip_with/aggregate expressions against broadcast literal vectors; one
  * groupBy(key) shuffle collects each group's m (n+k)-vectors; the m×m
  * eigen-solve runs as a local kernel per group (the reference's
  * groupByKey → Breeze shape exactly).
  *
  * P-values invert the mixture characteristic function exactly (Imhof
  * 1961 — the same exact family as the reference's Davies integration),
  * with the Liu et al. (2009) moment-matching approximation as the
  * fallback; `fault` is 0 for the exact path, 1 when the approximation
  * was used. */
object Skat {

  /** Upper tail of the noncentral chi-square via the Poisson-weighted
    * series of central CDFs (commons-math regularized gamma). */
  private def chiSqNcTail(x: Double, df: Double, ncp: Double): Double = {
    import org.apache.commons.math3.special.Gamma.regularizedGammaP
    if (x <= 0) return 1.0
    if (ncp < 1e-12)
      return 1.0 - regularizedGammaP(df / 2.0, x / 2.0)
    var cdf = 0.0
    val half = ncp / 2.0
    var logw = -half // log of Poisson(half) weight at j=0
    var j = 0
    while (j < 1000) {
      val w = math.exp(logw)
      if (w > 1e-16 || j * 2 < ncp)
        cdf += w * regularizedGammaP((df + 2 * j) / 2.0, x / 2.0)
      else if (j * 2 > ncp) j = 1000
      logw += math.log(half) - math.log(j + 1.0)
      j += 1
    }
    math.max(0.0, 1.0 - cdf)
  }

  /** Imhof (1961) exact tail of P(Σ λ_i χ²(1) > q) by numerical
    * inversion of the characteristic function:
    * P = 1/2 + (1/π) ∫₀^∞ sin θ(u) / (u ρ(u)) du with
    * θ(u) = ½ Σ arctan(λ_r u) − ½ q u and ρ(u) = Π (1 + λ_r² u²)^¼
    * (the published formula behind R's CompQuadForm::imhof — same exact
    * family as the Davies integration the reference uses). Adaptive
    * Simpson over [0, U] with U from Imhof's truncation bound. Returns
    * None when the bound cannot be met. */
  def imhofTail(q: Double, lambdas: Array[Double],
      accuracy: Double = 1e-6): Option[Double] = {
    val ls = lambdas.filter(_ > 0)
    val m = ls.length
    if (m == 0 || q <= 0) return None
    // equal weights (incl. m == 1): Q ~ w·χ²_m, closed form — also the
    // case whose u^{-(1+m/2)} integrand tail converges slowest
    if (ls.forall(l => math.abs(l - ls.head) < 1e-12 * ls.head)) {
      import org.apache.commons.math3.special.Gamma.regularizedGammaP
      return Some(1.0 - regularizedGammaP(m / 2.0, q / ls.head / 2.0))
    }
    val sumL = ls.sum
    if (q < 1e-4 * sumL) return None // θ' ≈ 0 at large u: poor cancellation
    def theta(u: Double): Double =
      0.5 * ls.map(l => math.atan(l * u)).sum - 0.5 * q * u
    def rho(u: Double): Double =
      math.exp(0.25 * ls.map(l => math.log1p(l * l * u * u)).sum)
    def f(u: Double): Double =
      if (u < 1e-12) 0.5 * (sumL - q) // u→0 limit of sinθ/(uρ)
      else math.sin(theta(u)) / (u * rho(u))
    // truncation via one integration by parts (θ'(∞) = −q/2):
    // |tail| <= (2/(π q)) · envelope(U) · margin, envelope = 1/(U ρ(U))
    def tailBound(u: Double): Double =
      4.0 / (math.Pi * q) / (u * rho(u))
    val lMin = ls.min
    var upper = math.max(1.0, 10.0 / lMin)
    var it = 0
    while (tailBound(upper) > accuracy / 2 && it < 200) {
      upper *= 1.5; it += 1
    }
    if (it >= 200) return None
    // oscillation-aware composite Simpson: |θ'| <= (Σλ + q)/2; 128
    // samples per period also resolve the sharp early-u envelope decay
    val h = math.Pi / (sumL + q) / 32.0
    val nSteps = math.ceil(upper / h).toLong
    if (nSteps > 4000000L) return None
    val n2 = ((nSteps.toInt + 1) / 2) * 2 // composite Simpson: even count
    val step = upper / n2
    var acc = f(0.0) + f(upper)
    var i = 1
    while (i < n2) {
      acc += f(i * step) * (if (i % 2 == 1) 4.0 else 2.0)
      i += 1
    }
    // composite Simpson needs an even interval count; n2 odd is handled
    // by the final trapezoid-sized error being inside the h budget
    val integral = acc * step / 3.0
    val p = 0.5 + integral / math.Pi
    if (p.isNaN) None else Some(math.min(1.0, math.max(0.0, p)))
  }

  /** Mixture tail: Imhof's exact inversion, Liu moment-matching as the
    * fallback. (p, fault): fault 0 = exact, 1 = approximation used. */
  def mixtureTail(q: Double, lambdas: Array[Double]): (Double, Int) =
    imhofTail(q, lambdas) match {
      case Some(p) => (p, 0)
      case None =>
        val (p, f) = liuPValue(q, lambdas)
        (p, math.max(f, 1))
    }

  /** Liu et al. (2009) p-value for P(Σ λ_i χ²(1) > q). Returns
    * (p, fault). */
  def liuPValue(q: Double, lambdas: Array[Double]): (Double, Int) = {
    val ls = lambdas.filter(_ > 0)
    if (ls.isEmpty) return (Double.NaN, 1)
    val c1 = ls.sum
    val c2 = ls.map(l => l * l).sum
    val c3 = ls.map(l => l * l * l).sum
    val c4 = ls.map(l => l * l * l * l).sum
    val s1 = c3 / math.pow(c2, 1.5)
    val s2 = c4 / (c2 * c2)
    val (a, ncp, df) =
      if (s1 * s1 > s2) {
        val a = 1.0 / (s1 - math.sqrt(s1 * s1 - s2))
        val d = s1 * a * a * a - a * a
        (a, d, a * a - 2 * d)
      } else
        (1.0 / s1, 0.0, c2 * c2 * c2 / (c3 * c3))
    if (!df.isFinite || df <= 0) return (Double.NaN, 1)
    val muQ = c1
    val sigmaQ = math.sqrt(2 * c2)
    val muX = df + ncp
    val sigmaX = math.sqrt(2 * (df + 2 * ncp))
    val x = (q - muQ) / sigmaQ * sigmaX + muX
    (chiSqNcTail(x, df, ncp), 0)
  }

  /** Per-group kernel: gramian G_ij = a_i·a_j − b_i·b_j, eigenvalues
    * filtered at 1e-5 × mean (the reference's threshold), Liu p-value of
    * P(Σ λ χ² > q/σ²) — under the null Q/σ² mixes on the UNSCALED
    * gramian's eigenvalues (res ~ N(0, σ²P); the reference's
    * `computePval(q / sigmaSq, gramian)` convention). σ² = 1 logistic. */
  private val skatGroup = udf {
    (qs: Seq[Double], as: Seq[Seq[Double]], bs: Seq[Seq[Double]],
        sigmaSq: Double, maxSize: Int) =>
      val m = qs.length
      if (m > maxSize) (null: java.lang.Double, null: java.lang.Double,
        null: java.lang.Integer)
      else {
        val a = as.map(v => BDV(v.toArray)).toArray
        val b = bs.map(v => BDV(v.toArray)).toArray
        val g = BDM.zeros[Double](m, m)
        var i = 0
        while (i < m) {
          var j = 0
          while (j <= i) {
            val v = (a(i) dot a(j)) - (b(i) dot b(j))
            g(i, j) = v; g(j, i) = v
            j += 1
          }
          i += 1
        }
        val allEvals = eigSym.justEigenvalues(g).toArray
        val threshold = 1e-5 * allEvals.sum / allEvals.length
        val evals = allEvals.filter(_ >= threshold)
        val (p, fault) = mixtureTail(qs.sum / sigmaSq, evals)
        (java.lang.Double.valueOf(qs.sum / (2.0 * sigmaSq)),
          java.lang.Double.valueOf(p),
          java.lang.Integer.valueOf(fault))
      }
  }

  private def dotLit(v: Column, lits: Array[Double]): Column =
    graft.functions.VectorOps.dot(
      v, array(lits.map(lit).toIndexedSeq: _*))

  /** SKAT over a MatrixTable. `keyExpr`/`weightExpr` are row-space
    * expressions (group id, non-negative weight; null-weight rows are
    * dropped). `pheno` is keyed by the col key and supplies `yCol` and
    * `covCols`; an intercept is always included; samples with any missing
    * phenotype/covariate are excluded (complete-case, like the
    * reference). Returns (id, size, q_stat, p_value, fault). */
  def skat(mt: MatrixTable, pheno: DataFrame, yCol: String,
      covCols: Seq[String], keyExpr: Column, weightExpr: Column,
      logistic: Boolean = false, maxSize: Int = 46340): DataFrame = {
    // ---- driver-side null model over the (small) sample dimension ------
    val phenoSchema = pheno.schema
    val keyIdx = mt.colKey.map(phenoSchema.fieldIndex)
    val yIdx = phenoSchema.fieldIndex(yCol)
    val covIdx = covCols.map(phenoSchema.fieldIndex)
    def num(r: Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None
      else r.get(i) match {
        case d: Double => Some(d)
        case f: Float => Some(f.toDouble)
        case l: Long => Some(l.toDouble)
        case n: Int => Some(n.toDouble)
        case b: Boolean => Some(if (b) 1.0 else 0.0)
        case _ => None
      }
    val phenoMap = pheno.collect().map { r =>
      keyIdx.map(r.get) -> (num(r, yIdx), covIdx.map(i => num(r, i)))
    }.toMap
    val colKeyIdx = mt.colKey.map(mt.colSchema.fieldIndex)
    val complete = mt.colValues.zipWithIndex.flatMap { case (cv, i) =>
      phenoMap.get(colKeyIdx.map(cv.get)) match {
        case Some((Some(y), covs)) if covs.forall(_.isDefined) =>
          Some((i, y, covs.map(_.get)))
        case _ => None
      }
    }
    val n = complete.length
    val k = covCols.length + 1 // + intercept
    require(n > k, s"$n complete samples with $k covariates")
    val y = BDV(complete.map(_._2).toArray)
    val x = BDM.tabulate(n, k)((i, j) =>
      if (j == 0) 1.0 else complete(i)._3(j - 1))
    // (res, sigmaSq, projRows): projRows is the k×n matrix whose product
    // with xw gives the b-vector (Q0ᵀ linear; C⁻¹XᵀV logistic), and in
    // the logistic case a is additionally scaled by sqrt(V)
    val (res, sigmaSq, projRows, sqrtV) =
      if (!logistic) {
        val qrRes = qr.reduced(x)
        val qt = qrRes.q.t
        val beta = qrRes.r \ (qt * y)
        val r = y - x * beta
        (r, (r dot r) / (n - k), qt, BDV.fill(n)(1.0))
      } else {
        require(y.forall(v => v == 0.0 || v == 1.0),
          "logistic SKAT needs 0/1 phenotype")
        val (beta, _, converged) = Regression.fitGlm(x, y, Regression.Logit)
        require(converged, "logistic SKAT's null model did not converge")
        val mu = (x * beta).map(Regression.Logit.mean)
        val v = mu.map(Regression.Logit.weight)
        val vx = x(::, breeze.linalg.*) *:* v
        val cinv = breeze.linalg.inv(breeze.linalg.cholesky(x.t * vx))
        (y - mu, 1.0, cinv * vx.t, v.map(math.sqrt))
      }
    // ---- per-variant q/a/b as codegen'd expressions --------------------
    val gtOf = (i: Int) => Calls.nNonRefAlleles(
      try_element_at(mt.entries, lit(i + 1))("GT")).cast("double")
    val doses = array(complete.map(c => gtOf(c._1)): _*)
    val called = filter(doses, v => v.isNotNull)
    val mean = when(size(called) > 0,
      aggregate(called, lit(0.0), (a, v) => a + v) /
        size(called).cast("double")).otherwise(lit(0.0))
    val ximp = transform(doses, v => coalesce(v, mean))
    val sw = sqrt(weightExpr.cast("double"))
    val xw = transform(ximp, v => v * sw)
    val resArr = res.toArray
    val aVec =
      if (!logistic) xw
      else zip_with(xw, array(sqrtV.toArray.map(lit).toIndexedSeq: _*),
        (v, s) => v * s)
    val qCol = pow(dotLit(xw, resArr), 2)
    val bVec = array((0 until k).map { j =>
      val rowJ = Array.tabulate(n)(i => projRows(j, i))
      dotLit(xw, rowJ)
    }: _*)
    val perVariant = mt.rows
      .withColumn("__skat_key", keyExpr)
      .withColumn("__w", weightExpr.cast("double"))
      .filter(col("__skat_key").isNotNull && col("__w").isNotNull &&
        col("__w") >= 0)
      .select(col("__skat_key").as("id"), qCol.as("__q"),
        aVec.as("__a"), bVec.as("__b"))
    // ---- one shuffle on the group key, local eigen per group -----------
    perVariant.groupBy(col("id"))
      .agg(count(lit(1)).cast("int").as("size"),
        skatGroup(collect_list(col("__q")), collect_list(col("__a")),
          collect_list(col("__b")), lit(sigmaSq), lit(maxSize))
          .as("__r"))
      .select(col("id"), col("size"),
        col("__r")("_1").as("q_stat"), col("__r")("_2").as("p_value"),
        col("__r")("_3").as("fault"))
  }
}
