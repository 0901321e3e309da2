package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Statistical tests and distribution functions (reference
  * `functions/MathFunctions.scala`, kernels under the `stats` dir — e.g.
  * `stats/FisherExactTest.scala`).
  *
  * Strategy: closed-form pieces (chi-squared statistics, HWE expected
  * counts) are pure expressions; p-values need special functions
  * (incomplete gamma / hypergeometric tails) which come from commons-math3
  * (ships with Spark) behind scala UDFs. The UDF is per-GROUP (post-agg),
  * not per-entry, so it is off the 100 TB hot path by construction. */
object StatTests {

  import org.apache.spark.sql.expressions.UserDefinedFunction

  /** P(X > x) for chi-squared with df degrees of freedom. */
  val chiSqTail: UserDefinedFunction = udf { (x: Double, df: Double) =>
    if (x.isNaN || x < 0) Double.NaN
    else 1.0 - new org.apache.commons.math3.distribution
      .ChiSquaredDistribution(df).cumulativeProbability(x)
  }

  /** Student-t two-sided p-value for a t statistic with df dof. */
  val pT: UserDefinedFunction = udf { (t: Double, df: Double) =>
    if (t.isNaN) Double.NaN
    else 2.0 * (1.0 - new org.apache.commons.math3.distribution
      .TDistribution(df).cumulativeProbability(math.abs(t)))
  }

  /** 2x2 chi-squared test statistic (no continuity correction) as a pure
    * expression: returns struct(stat, p) — p via UDF tail. */
  def chiSquaredTest(a: Column, b: Column, c: Column, d: Column): Column = {
    val n = (a + b + c + d).cast("double")
    val stat = (a * d - b * c).cast("double") *
      (a * d - b * c).cast("double") * n /
      (((a + b) * (c + d)).cast("double") *
        ((a + c) * (b + d)).cast("double"))
    struct(stat.as("stat"), chiSqTail(stat, lit(2.0) - 1.0).as("p_value"))
  }

  /** Fisher exact test (2x2, two-sided) via hypergeometric enumeration. */
  val fisherExact: UserDefinedFunction =
    udf { (a: Int, b: Int, c: Int, d: Int) =>
      val n = a + b + c + d
      val hg = new org.apache.commons.math3.distribution
        .HypergeometricDistribution(n, a + b, a + c)
      val pObs = hg.probability(a)
      val lo = math.max(0, a + c - (c + d))
      val hi = math.min(a + b, a + c)
      var p = 0.0
      var k = lo
      while (k <= hi) {
        val pk = hg.probability(k)
        if (pk <= pObs * (1 + 1e-7)) p += pk
        k += 1
      }
      math.min(p, 1.0)
    }

  /** Conditional-MLE odds ratio for a 2x2 table (what R's fisher.test
    * reports; reference `stats/package.scala:168`): the psi maximizing
    * the noncentral hypergeometric likelihood, found by bisection on
    * E_psi[X] = a (monotone in psi). 0 / Inf at the support edges. */
  val fisherMleOddsRatio: UserDefinedFunction =
    udf { (a: Int, b: Int, c: Int, d: Int) =>
      val m1 = a + b; val m2 = c + d; val k = a + c
      val lo = math.max(0, k - m2); val hi = math.min(k, m1)
      def logw(x: Int): Double =
        logBinom(m1, x) + logBinom(m2, k - x)
      // E_psi[X] over the conditional distribution
      def mean(logPsi: Double): Double = {
        var num = 0.0; var den = 0.0
        val mx = (lo to hi).map(x => logw(x) + x * logPsi).max
        var x = lo
        while (x <= hi) {
          val w = math.exp(logw(x) + x * logPsi - mx)
          num += x * w; den += w; x += 1
        }
        num / den
      }
      if (lo == hi) Double.NaN
      else if (a == lo) 0.0
      else if (a == hi) Double.PositiveInfinity
      else {
        var l = -50.0; var r = 50.0
        var it = 0
        while (r - l > 1e-10 && it < 200) {
          val m = (l + r) / 2
          if (mean(m) < a) l = m else r = m
          it += 1
        }
        math.exp((l + r) / 2)
      }
    }

  private def logBinom(n: Int, k: Int): Double =
    org.apache.commons.math3.special.Gamma.logGamma(n + 1) -
      org.apache.commons.math3.special.Gamma.logGamma(k + 1) -
      org.apache.commons.math3.special.Gamma.logGamma(n - k + 1)

  /** contingency_table_test (reference `stats/package.scala:148`):
    * chi-squared when every cell >= minCellCount, else Fisher exact
    * (with the conditional-MLE odds ratio, matching R). Returns
    * struct(p_value, odds_ratio). */
  def contingencyTableTest(a: Column, b: Column, c: Column, d: Column,
      minCellCount: Int): Column = {
    val allBig = a >= minCellCount && b >= minCellCount &&
      c >= minCellCount && d >= minCellCount
    val chi = chiSquaredTest(a, b, c, d)
    when(allBig,
      struct(chi("p_value").as("p_value"),
        ((a * d).cast("double") / (b * c)).as("odds_ratio")))
      .otherwise(
        struct(fisherExact(a, b, c, d).as("p_value"),
          fisherMleOddsRatio(a, b, c, d).as("odds_ratio")))
  }

  /** Hardy–Weinberg equilibrium: expected het freq + exact-test-style
    * chi-squared p (reference `hardy_weinberg_test`). Takes genotype
    * counts. */
  def hardyWeinbergTest(nHomRef: Column, nHet: Column, nHomVar: Column)
      : Column = {
    val n = (nHomRef + nHet + nHomVar).cast("double")
    val p = (lit(2.0) * nHomRef + nHet) / (lit(2.0) * n)
    val q = lit(1.0) - p
    val eHomRef = p * p * n
    val eHet = lit(2.0) * p * q * n
    val eHomVar = q * q * n
    val stat =
      pow(nHomRef - eHomRef, 2) / eHomRef +
      pow(nHet - eHet, 2) / eHet +
      pow(nHomVar - eHomVar, 2) / eHomVar
    struct(
      (eHet / n).as("het_freq_hwe"),
      stat.as("stat"),
      chiSqTail(stat, lit(1.0)).as("p_value"))
  }

  /** Exact Hardy–Weinberg test via the Levene–Haldane distribution
    * (reference `stats/LeveneHaldane.scala`, wrapper
    * `stats/package.scala:114` `hardyWeinbergTest`): conditioned on n
    * samples and nA minor-allele copies, P(nAB het samples) ∝
    * n! nA! nB! 2^nAB / ((nA-nAB)/2)! nAB! ((nB-nAB)/2)! (2n)!.
    * Returns (het_freq_hwe = E[nAB]/n, p_value). Two-sided p is the mid-p:
    * outcomes with probability < P(obs) count fully, ties (relative 1e-12)
    * count half. `oneSided=true` gives the right-tail mid-p (excess het).
    * O(nA) enumeration in log space — per-variant cost. */
  def hweExactPair(nHomRef: Long, nHet: Long, nHomVar: Long,
      oneSided: Boolean): (Double, Double) = {
    val n = nHomRef + nHet + nHomVar
    if (n == 0) return (Double.NaN, Double.NaN)
    val nAB = nHet
    val nA = nHet + 2 * math.min(nHomRef, nHomVar) // minor allele copies
    val nB = 2 * n - nA
    import org.apache.commons.math3.special.Gamma.logGamma
    def lf(x: Long): Double = logGamma(x + 1.0)
    val base = lf(n) + lf(nA) + lf(nB) - lf(2 * n)
    val ks = (nA % 2) to math.min(nA, nB) by 2
    val logPs = ks.map(k =>
      base + k * math.log(2.0) - lf((nA - k) / 2) - lf(k) - lf((nB - k) / 2))
    val mx = logPs.max
    val unnorm = logPs.map(lp => math.exp(lp - mx))
    val z = unnorm.sum
    val ps = unnorm.map(_ / z)
    val mean = ks.zip(ps).map { case (k, p) => k * p }.sum
    val p0 = ps(ks.indexOf(nAB))
    val tol = 1e-12
    val pVal =
      if (oneSided)
        ks.zip(ps).collect { case (k, p) if k > nAB => p }.sum + 0.5 * p0
      else
        ps.map { p =>
          if (p < p0 * (1 - tol)) p
          else if (p <= p0 * (1 + tol)) 0.5 * p
          else 0.0
        }.sum
    (mean / n, math.min(pVal, 1.0))
  }

  /** UDF: struct(het_freq_hwe, p_value) of the exact HWE test. */
  val hweExact: UserDefinedFunction =
    udf { (nHomRef: Long, nHet: Long, nHomVar: Long, oneSided: Boolean) =>
      hweExactPair(nHomRef, nHet, nHomVar, oneSided)
    }

  // ---- density / quantile tail (reference functions/MathFunctions.scala:
  // dbeta, dnorm, dchisq, dpois, ppois, qpois, qchisqtail, pgenchisq) ----

  /** Beta(a, b) density at x. */
  val dbeta: UserDefinedFunction = udf { (x: Double, a: Double, b: Double) =>
    new org.apache.commons.math3.distribution.BetaDistribution(a, b)
      .density(x)
  }

  /** Normal(mu, sigma) density at x. */
  val dnorm: UserDefinedFunction =
    udf { (x: Double, mu: Double, sigma: Double) =>
      new org.apache.commons.math3.distribution
        .NormalDistribution(mu, sigma).density(x)
    }

  /** Chi-squared(df) density at x. */
  val dchisq: UserDefinedFunction = udf { (x: Double, df: Double) =>
    new org.apache.commons.math3.distribution.ChiSquaredDistribution(df)
      .density(x)
  }

  /** Poisson(lambda) pmf at k (logP selects log scale, like the
    * reference's dpois). */
  val dpois: UserDefinedFunction =
    udf { (k: Double, lambda: Double, logP: Boolean) =>
      val d = new org.apache.commons.math3.distribution
        .PoissonDistribution(lambda)
      if (logP) d.logProbability(k.toInt) else d.probability(k.toInt)
    }

  /** P(X <= k) (lowerTail) / P(X > k) for Poisson(lambda). */
  val ppois: UserDefinedFunction =
    udf { (k: Double, lambda: Double, lowerTail: Boolean) =>
      val c = new org.apache.commons.math3.distribution
        .PoissonDistribution(lambda).cumulativeProbability(k.toInt)
      if (lowerTail) c else 1.0 - c
    }

  /** Smallest k with P(X <= k) >= p for Poisson(lambda). */
  val qpois: UserDefinedFunction = udf { (p: Double, lambda: Double) =>
    new org.apache.commons.math3.distribution.PoissonDistribution(lambda)
      .inverseCumulativeProbability(p)
  }

  /** Inverse of the chi-squared upper tail: x with P(X > x) = p. */
  val qchisqtail: UserDefinedFunction = udf { (p: Double, df: Double) =>
    new org.apache.commons.math3.distribution.ChiSquaredDistribution(df)
      .inverseCumulativeProbability(1.0 - p)
  }

  /** Upper tail of a weighted sum of independent chi-squared(1)
    * variables (the reference's pgenchisq restricted to its dominant
    * use — SKAT-style mixtures): Imhof's exact characteristic-function
    * inversion with the Liu moment-matching fallback
    * (`graft.methods.Skat.mixtureTail`). Returns
    * struct(value, converged). */
  val pgenchisq: UserDefinedFunction =
    udf { (x: Double, weights: Seq[Double]) =>
      val (p, fault) = graft.methods.Skat.mixtureTail(x, weights.toArray)
      (p, fault == 0)
    }

  /** Shannon entropy of a string's character distribution (reference
    * `entropy`, `functions/MathFunctions.scala`). Single O(n) pass per
    * string (the round-1 expression form was O(n·distinct) — quadratic on
    * documents). A UDF is acceptable here: one linear scan per value, and
    * entropy is a per-row scalar, not an aggregation hot path. */
  val entropyUdf: UserDefinedFunction = udf { (s: String) =>
    if (s == null || s.isEmpty) 0.0
    else {
      val counts = new java.util.HashMap[Character, Int]()
      var i = 0
      while (i < s.length) {
        counts.merge(s.charAt(i), 1, (a, b) => a + b)
        i += 1
      }
      val n = s.length.toDouble
      var h = 0.0
      val it = counts.values().iterator()
      while (it.hasNext) {
        val p = it.next() / n
        h -= p * (math.log(p) / math.log(2.0))
      }
      h
    }
  }

  def entropy(s: Column): Column = entropyUdf(s)
}
