package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** The reference's experimental function registry
  * (`is/hail/experimental/package.scala`,
  * `ExperimentalFunctions.scala`): filtering allele frequency
  * (Whiffin 2017) and two-locus haplotype frequency EM. Both are
  * per-row scalars — UDFs, off the aggregation hot path. */
object Experimental {

  /** Smallest k with P(Pois(lambda) <= k) >= p (R qpois). The quantile
    * search never samples, so the distribution gets no random generator
    * (the one-argument constructor seeds a Well19937c per call). */
  private def qpoisLocal(p: Double, lambda: Double): Int = {
    import org.apache.commons.math3.distribution.PoissonDistribution
    new PoissonDistribution(null, lambda,
      PoissonDistribution.DEFAULT_EPSILON,
      PoissonDistribution.DEFAULT_MAX_ITERATIONS)
      .inverseCumulativeProbability(p)
  }

  /** Highest AC consistent with population AF `af` at confidence `ci`
    * (reference `findMaxAC`). */
  def findMaxAC(af: Double, an: Int, ci: Double = 0.95): Int =
    if (af == 0) 0 else qpoisLocal(ci, an * af)

  /** Filtering allele frequency (reference `calcFilterAlleleFreq`):
    * the highest true population AF whose `ci` upper bound on allele
    * count stays below the observed `ac`. Zero for singletons. The
    * root of `ac - 1 - qpois(ci, an·af)` is found by bisection (the
    * function is monotone step-decreasing in af); rounded, it is the
    * origin `start` of the reference's `precision` lattice. The
    * reference then climbs the lattice one step at a time while
    * `findMaxAC < ac`, one quantile per step; here the first index j
    * with `findMaxAC(start + j·precision) >= ac` (monotone in j) is found
    * by doubling and bisection, and the answer is the point before it. */
  def calcFilterAlleleFreq(ac: Int, an: Int, ci: Double = 0.95,
      lower: Double = 1e-10, upper: Double = 2.0, tol: Double = 1e-7,
      precision: Double = 1e-6): Double = {
    if (ac <= 1 || an == 0) 0.0
    else {
      def f(af: Double): Double =
        ac.toDouble - 1 - qpoisLocal(ci, an.toDouble * af)
      var lo = lower
      var hi = upper
      if (f(lo) <= 0) return 0.0
      // no sign change on [lower, upper] -> the reference's uniroot
      // yields None -> 0.0, and the lattice search below does the work
      val root =
        if (f(hi) > 0) 0.0
        else {
          while (hi - lo > tol) {
            val mid = (lo + hi) / 2
            if (f(mid) > 0) lo = mid else hi = mid
          }
          (lo + hi) / 2
        }
      val rounder = 1d / (precision / 100d)
      val start = math.round(root * rounder) / rounder
      def reaches(j: Long): Boolean =
        findMaxAC(start + j * precision, an, ci) >= ac
      // invariant: index `below` does not reach ac (-1 stands for the
      // point before `start`), index `at` does
      var below = -1L
      var at = 0L
      while (!reaches(at)) { below = at; at = 2 * at + 1 }
      while (at - below > 1) {
        val mid = below + (at - below) / 2
        if (reaches(mid)) at = mid else below = mid
      }
      // the answer as the reference's running sum (start, plus precision
      // `at` times, minus precision): its last bits differ from
      // start + (at - 1)·precision, and a 6-digit rounding of a value on
      // a ...5 boundary sees them
      (0L until at).foldLeft(start)((af, _) => af + precision) - precision
    }
  }

  val fafUdf: UserDefinedFunction =
    udf { (ac: Int, an: Int, ci: Double) =>
      calcFilterAlleleFreq(ac, an, ci)
    }

  def filteringAlleleFrequency(ac: Column, an: Column,
      ci: Column): Column = fafUdf(ac, an, ci)

  /** Two-locus haplotype frequency EM (reference `haplotypeFreqEM`):
    * from the 9 genotype-combination counts (AABB, AaBB, aaBB, AABb,
    * AaBb, aaBb, AAbb, Aabb, aabb), estimate the expected counts of
    * the four haplotypes (AB, Ab, aB, ab). Double-het mass splits by
    * the current phase odds each round until convergence at 1e-7. */
  val haplotypeFreqEmUdf: UserDefinedFunction =
    udf { (gtCounts: Seq[Int]) =>
      require(gtCounts.size == 9,
        "haplotypeFreqEM requires the 9 genotype-combination counts")
      val g = gtCounts.toArray
      val n = g.sum
      if (g(0) >= n) Seq(g(0).toDouble, 0.0, 0.0, 0.0)
      else {
        val nH = 2.0 * n
        val const = Array(
          2.0 * g(0) + g(1) + g(3), // n.AB
          2.0 * g(6) + g(3) + g(7), // n.Ab
          2.0 * g(2) + g(1) + g(5), // n.aB
          2.0 * g(8) + g(5) + g(7)) // n.ab
        var p = const.map(c => (c + g(4) / 2.0) / nH)
        // Exit semantics mirror the reference: loop only while some
        // delta EXCEEDS tol, so a NaN delta (cis+trans == 0, e.g. the
        // double-het count paired with monomorphic margins) terminates
        // and propagates NaN instead of spinning forever.
        var continue = true
        while (continue) {
          val cis = p(0) * p(3) // coupling (AB/ab)
          val trans = p(1) * p(2) // repulsion (Ab/aB)
          val num = Array(cis, trans, trans, cis)
          val next = Array.tabulate(4)(i =>
            (const(i) + num(i) * g(4) / (cis + trans)) / nH)
          continue = (0 until 4).exists(i => math.abs(next(i) - p(i)) > 1e-7)
          p = next
        }
        p.map(_ * nH).toSeq
      }
    }

  def haplotypeFreqEm(gtCounts: Column): Column =
    haplotypeFreqEmUdf(gtCounts)
}
