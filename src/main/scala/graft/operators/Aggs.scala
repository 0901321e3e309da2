package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Custom typed aggregators — the reference aggregator set Spark lacks
  * natively (reference dir `expr/ir/agg`: `CallStatsAggregator.scala`,
  * `LinearRegressionAggregator.scala`, `ReservoirSampleAggregator.scala`,
  * `DownsampleAggregator.scala`, `ImputeTypeAggregator.scala`).
  *
  * All are `Aggregator[IN, BUF, OUT]` registered through `functions.udaf`,
  * so they run inside Spark's partial → shuffle → final aggregation exactly
  * like built-ins: constant-size buffers, map-side combine, no driver
  * funnel. Each holds its encoders in `val`s: Spark resolves an
  * aggregator's `outputEncoder` once per deserialized instance, that is
  * once per task, and building an encoder runs Scala reflection. */
object Aggs {

  // ---- product (exact, not exp-log) --------------------------------------

  val productAgg: Aggregator[Double, Double, Double] =
    new Aggregator[Double, Double, Double] {
      def zero: Double = 1.0
      def reduce(b: Double, a: Double): Double = b * a
      def merge(b1: Double, b2: Double): Double = b1 * b2
      def finish(b: Double): Double = b
      val bufferEncoder: Encoder[Double] = Encoders.scalaDouble
      val outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
  def product(c: Column): Column = udaf(productAgg).apply(c)

  // ---- call_stats ---------------------------------------------------------

  case class CallStatsBuf(ac: Array[Long], hom: Array[Long], an: Long)
  case class CallStatsOut(AC: Seq[Long], AF: Seq[Double], AN: Long,
      homozygote_count: Seq[Long])

  /** Allele counts / frequencies / homozygote counts over packed calls
    * (packing per `graft.functions.Calls`). */
  def callStatsAgg(nAlleles: Int)
      : Aggregator[java.lang.Integer, CallStatsBuf, CallStatsOut] =
    new Aggregator[java.lang.Integer, CallStatsBuf, CallStatsOut] {
      def zero: CallStatsBuf =
        CallStatsBuf(new Array[Long](nAlleles), new Array[Long](nAlleles), 0L)
      def reduce(b: CallStatsBuf, call: java.lang.Integer): CallStatsBuf = {
        if (call == null) b
        else {
          val c = call.intValue()
          val a1 = (c >> 1) & 0x7fff
          val a2 = (c >> 16) & 0x7fff
          val haploid = a2 == 0x7fff
          b.ac(a1) += 1
          if (!haploid) {
            b.ac(a2) += 1
            if (a1 == a2) b.hom(a1) += 1
          }
          CallStatsBuf(b.ac, b.hom, b.an + (if (haploid) 1 else 2))
        }
      }
      def merge(x: CallStatsBuf, y: CallStatsBuf): CallStatsBuf =
        CallStatsBuf(
          x.ac.zip(y.ac).map { case (a, b) => a + b },
          x.hom.zip(y.hom).map { case (a, b) => a + b },
          x.an + y.an)
      def finish(b: CallStatsBuf): CallStatsOut =
        CallStatsOut(b.ac.toSeq,
          b.ac.map(c => if (b.an == 0) 0.0 else c.toDouble / b.an).toSeq,
          b.an, b.hom.toSeq)
      val bufferEncoder: Encoder[CallStatsBuf] = Encoders.product
      val outputEncoder: Encoder[CallStatsOut] = Encoders.product
    }
  def callStats(call: Column, nAlleles: Int): Column =
    udaf(callStatsAgg(nAlleles)).apply(call)

  // ---- per-group linear regression (multi-covariate OLS) ------------------

  case class LinregIn(y: java.lang.Double, x: Seq[Double])
  case class LinregBuf(n: Long, xtx: Array[Double], xty: Array[Double],
      yty: Double)
  case class LinregOut(beta: Seq[Double], standard_error: Seq[Double],
      sigma_sq: Double, n: Long)

  /** OLS per group: accumulate X'X, X'y, y'y in a constant-size buffer;
    * solve on finish with Breeze (reference
    * `LinearRegressionAggregator.scala` accumulates the same moments).
    * `k` = number of covariates including the intercept if the caller
    * appends one. Output: betas, per-coefficient standard errors
    * (sqrt(sigma² (X'X)⁻¹_jj) with sigma² = RSS/(n-k)), residual variance,
    * and n — enough for t/p downstream. */
  def linregAgg(k: Int): Aggregator[LinregIn, LinregBuf, LinregOut] =
    new Aggregator[LinregIn, LinregBuf, LinregOut] {
      def zero: LinregBuf = linregZero(k)
      def reduce(b: LinregBuf, in: LinregIn): LinregBuf =
        if (in.y == null || in.x == null || in.x.length != k) b
        else linregAdd(b, in.x, in.y)
      def merge(a: LinregBuf, c: LinregBuf): LinregBuf =
        LinregBuf(a.n + c.n,
          a.xtx.zip(c.xtx).map(t => t._1 + t._2),
          a.xty.zip(c.xty).map(t => t._1 + t._2),
          a.yty + c.yty)
      def finish(b: LinregBuf): LinregOut = linregSolve(b)
      val bufferEncoder: Encoder[LinregBuf] = Encoders.product
      val outputEncoder: Encoder[LinregOut] = Encoders.product
    }

  /** The empty OLS moments of a `k`-term design. */
  def linregZero(k: Int): LinregBuf =
    LinregBuf(0L, new Array[Double](k * k), new Array[Double](k), 0.0)

  /** `b` plus one observation (x, y); X'X and X'y grow in place. The
    * reduce step of `linregAgg` and of `Regression`'s row-local fits. */
  def linregAdd(b: LinregBuf, x: Seq[Double], y: Double): LinregBuf = {
    val k = b.xty.length
    var i = 0
    while (i < k) {
      var j = 0
      while (j < k) {
        b.xtx(i * k + j) += x(i) * x(j); j += 1
      }
      b.xty(i) += x(i) * y; i += 1
    }
    LinregBuf(b.n + 1, b.xtx, b.xty, b.yty + y * y)
  }

  /** The OLS solve of accumulated moments: betas, standard errors,
    * residual variance and n; NaN fields when n <= k or X'X is
    * singular. `linregAgg`'s finish and `Regression`'s row-local fits. */
  def linregSolve(b: LinregBuf): LinregOut = {
    val k = b.xty.length
    val nan = Seq.fill(k)(Double.NaN)
    if (b.n <= k) LinregOut(nan, nan, Double.NaN, b.n)
    else {
      try {
        val m = breeze.linalg.DenseMatrix.create(k, k, b.xtx)
        val v = breeze.linalg.DenseVector(b.xty)
        val beta = m \ v
        val rss = b.yty - (beta dot v)
        val sigmaSq = rss / (b.n - k)
        val inv = breeze.linalg.inv(m)
        val se = (0 until k).map(j =>
          math.sqrt(math.max(sigmaSq * inv(j, j), 0.0)))
        LinregOut(beta.toArray.toSeq, se, sigmaSq, b.n)
      } catch { case _: Exception =>
        LinregOut(nan, nan, Double.NaN, b.n) }
    }
  }
  def linreg(y: Column, xs: Column, k: Int): Column =
    udaf(linregAgg(k)).apply(y, xs)

  // ---- deterministic uniform sample (bottom-k by hash) --------------------

  case class SampleBuf(items: Seq[(Long, String)])

  /** Uniform sample of k items, deterministic under any partitioning:
    * keep the k smallest xxhash64(seed, item) — a mergeable bottom-k
    * sketch with reservoir-sample statistics but stable output
    * (the reference's ReservoirSampleAggregator is RNG-order-dependent;
    * bottom-k-by-hash is the distribution-equivalent deterministic
    * construction). */
  def sampleAgg(k: Int, seed: Long)
      : Aggregator[String, SampleBuf, Seq[String]] =
    new Aggregator[String, SampleBuf, Seq[String]] {
      private def hash(s: String): Long =
        // stable 64-bit FNV-1a; independent of JVM hashCode
        s.getBytes("UTF-8").foldLeft(0xcbf29ce484222325L ^ seed) {
          (h, b) => (h ^ (b & 0xff)) * 0x100000001b3L
        }
      private def trim(s: Seq[(Long, String)]) =
        s.distinct.sortBy(_._1).take(k)
      def zero: SampleBuf = SampleBuf(Nil)
      def reduce(b: SampleBuf, a: String): SampleBuf =
        if (a == null) b else SampleBuf(trim(b.items :+ (hash(a), a)))
      def merge(a: SampleBuf, b: SampleBuf): SampleBuf =
        SampleBuf(trim(a.items ++ b.items))
      def finish(b: SampleBuf): Seq[String] = b.items.map(_._2)
      val bufferEncoder: Encoder[SampleBuf] = Encoders.product
      val outputEncoder: Encoder[Seq[String]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    }
  def sample(c: Column, k: Int, seed: Long = 42L): Column =
    udaf(sampleAgg(k, seed)).apply(c)

  // ---- downsample (scatter-plot thinning) ---------------------------------

  case class DownsampleBuf(cells: Map[String, (Double, Double)])

  /** Grid-cell thinning for (x, y) scatter data: keep one representative
    * point per grid cell at `factor` resolution, capped deterministically
    * (reference `DownsampleAggregator.scala`). */
  def downsampleAgg(factor: Int)
      : Aggregator[(Double, Double), DownsampleBuf, Seq[(Double, Double)]] =
    new Aggregator[(Double, Double), DownsampleBuf, Seq[(Double, Double)]] {
      private def cell(x: Double, y: Double): String =
        s"${math.round(x * factor)}:${math.round(y * factor)}"
      def zero: DownsampleBuf = DownsampleBuf(Map.empty)
      private val ord = Ordering.Tuple2[Double, Double]
      def reduce(b: DownsampleBuf, p: (Double, Double)): DownsampleBuf = {
        val c = cell(p._1, p._2)
        // keep the lexicographically-least point per cell: deterministic
        if (b.cells.get(c).forall(q => ord.lt(p, q)))
          DownsampleBuf(b.cells + (c -> p)) else b
      }
      def merge(a: DownsampleBuf, b: DownsampleBuf): DownsampleBuf =
        DownsampleBuf((a.cells.toSeq ++ b.cells.toSeq)
          .groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2).min(ord) })
      def finish(b: DownsampleBuf): Seq[(Double, Double)] =
        b.cells.values.toSeq.sorted(ord)
      val bufferEncoder: Encoder[DownsampleBuf] = Encoders.kryo
      val outputEncoder: Encoder[Seq[(Double, Double)]] =
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Seq[(Double, Double)]]()
    }
  def downsample(x: Column, y: Column, factor: Int): Column =
    udaf(downsampleAgg(factor)).apply(x, y)

  // ---- take_by: bounded-heap top-n ---------------------------------------

  case class TakeByBuf(items: Seq[(Double, Long)])

  /** TakeBy as a true bounded-buffer aggregator (reference
    * `agg/TakeByAggregator.scala`): keeps only the n best (key, value)
    * pairs per group through partial/merge — O(n) state, unlike the
    * window-function formulation which shuffles every row. Ties broken by
    * value for determinism. */
  def takeByAgg(n: Int, asc: Boolean)
      : Aggregator[(java.lang.Long, java.lang.Double), TakeByBuf, Seq[Long]] =
    new Aggregator[(java.lang.Long, java.lang.Double), TakeByBuf, Seq[Long]] {
      private def better(s: Seq[(Double, Long)]) = {
        val sorted = s.sortBy(p => (p._1, p._2))
        (if (asc) sorted else sorted.reverse).take(n)
      }
      def zero: TakeByBuf = TakeByBuf(Nil)
      def reduce(b: TakeByBuf, in: (java.lang.Long, java.lang.Double))
          : TakeByBuf =
        if (in._1 == null || in._2 == null) b
        else TakeByBuf(better(b.items :+ ((in._2.doubleValue, in._1.longValue))))
      def merge(a: TakeByBuf, b: TakeByBuf): TakeByBuf =
        TakeByBuf(better(a.items ++ b.items))
      def finish(b: TakeByBuf): Seq[Long] = b.items.map(_._2)
      val bufferEncoder: Encoder[TakeByBuf] = Encoders.product
      val outputEncoder: Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }
  def takeBy(v: Column, key: Column, n: Int, asc: Boolean = true): Column =
    udaf(takeByAgg(n, asc)).apply(v, key)

  // ---- fold: user-supplied zero/seq/comb ----------------------------------

  /** Fold with caller-supplied semantics (reference
    * `agg/FoldAggregator.scala`, `AggFold` ir-gen `Main.scala:985`). */
  def foldAgg[T: Encoder](z: T, seq: (T, T) => T, comb: (T, T) => T)
      : Aggregator[T, T, T] =
    new Aggregator[T, T, T] {
      def zero: T = z
      def reduce(b: T, a: T): T = seq(b, a)
      def merge(a: T, b: T): T = comb(a, b)
      def finish(b: T): T = b
      val bufferEncoder: Encoder[T] = implicitly[Encoder[T]]
      val outputEncoder: Encoder[T] = implicitly[Encoder[T]]
    }
  def foldDouble(c: Column, z: Double, seq: (Double, Double) => Double,
      comb: (Double, Double) => Double): Column = {
    implicit val e: Encoder[Double] = Encoders.scalaDouble
    udaf(foldAgg(z, seq, comb)).apply(c)
  }

  // ---- approx_cdf: KLL-style mergeable quantile sketch --------------------

  case class CdfBuf(levels: Seq[Seq[Double]])

  /** Bounded-memory quantile sketch (reference
    * `agg/ApproxCDFAggregator.scala`, a KLL-family sketch). Level i holds
    * values of weight 2^i; when a level exceeds `k` items it is compacted:
    * sorted, then every other element promoted to level i+1
    * (deterministic even-offset compaction, so results are reproducible
    * under any partitioning of the same multiset — merges sort before
    * compacting). While total input fits in level 0 (n <= k) the sketch is
    * EXACT and `quantile` matches the interpolated percentile definition
    * bit-for-bit. */
  def approxCdfAgg(k: Int)
      : Aggregator[java.lang.Double, CdfBuf, Seq[Double]] =
    new Aggregator[java.lang.Double, CdfBuf, Seq[Double]] {
      // Levels are VECTORS throughout: compactAll probes every level's
      // length on EVERY reduce call, and `length` on a List walks the
      // whole level (O(group·k) accumulation at 100k-row groups);
      // Vector gives O(1) length and effectively-O(1) prepend. Level
      // order is immaterial — compaction and finish both sort.
      private def compactAll(levels: Seq[Seq[Double]])
          : Seq[Seq[Double]] = {
        var ls: Vector[Seq[Double]] =
          levels.iterator.map(_.toVector: Seq[Double]).toVector
        var i = 0
        while (i < ls.length) {
          if (ls(i).length > k) {
            val sorted = ls(i).sorted
            val kept = sorted.zipWithIndex.collect {
              case (v, idx) if idx % 2 == 1 => v
            }
            ls = ls.updated(i, Vector.empty[Double])
            if (i + 1 >= ls.length) ls = ls :+ kept
            else ls = ls.updated(i + 1, ls(i + 1) ++ kept)
          }
          i += 1
        }
        ls
      }
      def zero: CdfBuf = CdfBuf(Vector(Vector.empty))
      def reduce(b: CdfBuf, a: java.lang.Double): CdfBuf = {
        if (a == null) b
        else {
          val l0 = b.levels.head
          // stay on the fast path between compactions: only re-walk
          // compactAll when level 0 can actually spill
          val nl0 = a.doubleValue +: (l0 match {
            case v: Vector[Double @unchecked] => v
            case other => other.toVector
          })
          if (nl0.length > k)
            CdfBuf(compactAll(b.levels.updated(0, nl0)))
          else CdfBuf(b.levels.updated(0, nl0))
        }
      }
      def merge(a: CdfBuf, b: CdfBuf): CdfBuf = {
        val n = math.max(a.levels.length, b.levels.length)
        val merged = (0 until n).map(i =>
          (a.levels.applyOrElse(i, (_: Int) => Seq.empty[Double]) ++
            b.levels.applyOrElse(i, (_: Int) => Seq.empty[Double]))
            .sorted)
        CdfBuf(compactAll(merged))
      }
      /** weighted (value, weight) pairs sorted by value. */
      def finish(b: CdfBuf): Seq[Double] = {
        val pairs = b.levels.zipWithIndex.flatMap { case (vs, i) =>
          vs.map(v => (v, (1L << i).toDouble))
        }.sortBy(_._1)
        // flatten to [v1, w1, v2, w2, ...] for a stable wire shape
        pairs.flatMap(p => Seq(p._1, p._2))
      }
      val bufferEncoder: Encoder[CdfBuf] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[CdfBuf]()
      val outputEncoder: Encoder[Seq[Double]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
    }
  def approxCdf(c: Column, k: Int = 1024): Column =
    udaf(approxCdfAgg(k)).apply(c)

  /** Interpolated quantile q from an approxCdf sketch result (exact —
    * matching `percentile`/`quantile_cont` — whenever the sketch never
    * compacted, i.e. group size <= k). Each (value, weight w) pair covers
    * index positions [cum, cum+w-1] of the virtual sorted sequence;
    * targets between two plateaus interpolate linearly. */
  def sketchQuantile(flat: Seq[Double], q: Double): Double = {
    val pairs = flat.grouped(2).map(a => (a(0), a(1))).toIndexedSeq
    if (pairs.isEmpty) return Double.NaN
    val total = pairs.map(_._2).sum
    val target = q * (total - 1)
    var cum = 0.0
    var i = 0
    while (i < pairs.length && cum + pairs(i)._2 - 1 < target) {
      cum += pairs(i)._2
      i += 1
    }
    if (i >= pairs.length) pairs.last._1
    else if (target >= cum) pairs(i)._1 // inside this value's plateau
    else {
      val frac = target - (cum - 1) // between prev plateau end and this one
      pairs(i - 1)._1 * (1 - frac) + pairs(i)._1 * frac
    }
  }

  val sketchQuantileUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (flat: Seq[Double], q: Double) => sketchQuantile(flat, q))

  case class ImputeTypeBuf(anyNonMissing: Boolean, allInt: Boolean,
      allFloat: Boolean, allBool: Boolean)
  case class ImputeTypeOut(inferred: String)

  /** Infer the narrowest type for a string column (reference
    * `ImputeTypeAggregator.scala`; python `import_table(impute=True)`). */
  val imputeTypeAgg: Aggregator[String, ImputeTypeBuf, ImputeTypeOut] =
    new Aggregator[String, ImputeTypeBuf, ImputeTypeOut] {
      private val intRe = "^-?\\d+$".r
      private val floatRe = "^-?\\d*\\.?\\d+([eE][+-]?\\d+)?$".r
      private val boolRe = "^(?i)(true|false)$".r
      def zero: ImputeTypeBuf = ImputeTypeBuf(false, true, true, true)
      def reduce(b: ImputeTypeBuf, s: String): ImputeTypeBuf =
        if (s == null || s.isEmpty) b
        else ImputeTypeBuf(true,
          b.allInt && intRe.matches(s),
          b.allFloat && floatRe.matches(s),
          b.allBool && boolRe.matches(s))
      def merge(a: ImputeTypeBuf, b: ImputeTypeBuf): ImputeTypeBuf =
        ImputeTypeBuf(a.anyNonMissing || b.anyNonMissing,
          a.allInt && b.allInt, a.allFloat && b.allFloat,
          a.allBool && b.allBool)
      def finish(b: ImputeTypeBuf): ImputeTypeOut = ImputeTypeOut(
        if (!b.anyNonMissing) "missing"
        else if (b.allBool) "boolean"
        else if (b.allInt) "int64"
        else if (b.allFloat) "float64"
        else "string")
      val bufferEncoder: Encoder[ImputeTypeBuf] = Encoders.product
      val outputEncoder: Encoder[ImputeTypeOut] = Encoders.product
    }
  def imputeType(c: Column): Column = udaf(imputeTypeAgg).apply(c)

  // ---- histogram ----------------------------------------------------------

  case class HistBuf(counts: Array[Long], nLess: Long, nGreater: Long)
  case class HistOut(bin_edges: Seq[Double], bin_freq: Seq[Long],
      n_smaller: Long, n_larger: Long)

  /** Fixed-range histogram (reference `hl.agg.hist`). */
  def histAgg(lo: Double, hi: Double, bins: Int)
      : Aggregator[java.lang.Double, HistBuf, HistOut] =
    new Aggregator[java.lang.Double, HistBuf, HistOut] {
      private val w = (hi - lo) / bins
      def zero: HistBuf = HistBuf(new Array[Long](bins), 0L, 0L)
      def reduce(b: HistBuf, v: java.lang.Double): HistBuf = {
        if (v == null) b
        else if (v < lo) HistBuf(b.counts, b.nLess + 1, b.nGreater)
        else if (v > hi) HistBuf(b.counts, b.nLess, b.nGreater + 1)
        else {
          val i = math.min(((v - lo) / w).toInt, bins - 1)
          b.counts(i) += 1
          b
        }
      }
      def merge(a: HistBuf, b: HistBuf): HistBuf = HistBuf(
        a.counts.zip(b.counts).map(t => t._1 + t._2),
        a.nLess + b.nLess, a.nGreater + b.nGreater)
      def finish(b: HistBuf): HistOut = HistOut(
        (0 to bins).map(i => lo + i * w), b.counts.toSeq, b.nLess,
        b.nGreater)
      val bufferEncoder: Encoder[HistBuf] = Encoders.product
      val outputEncoder: Encoder[HistOut] = Encoders.product
    }
  def hist(c: Column, lo: Double, hi: Double, bins: Int): Column =
    udaf(histAgg(lo, hi, bins)).apply(c)

  // ---- ndarray element-wise sum (reference NDArraySum agg op) ------------

  case class NdBuf(shape: Seq[Long], data: Seq[Double])

  /** Element-wise sum of (shape, data) ndarrays across rows (reference
    * `AggOp` NDArraySum): shapes must agree; null inputs are skipped.
    * Constant-size buffer (one ndarray), map-side combine. */
  val ndarraySumAgg: Aggregator[NdBuf, NdBuf, NdBuf] =
    new Aggregator[NdBuf, NdBuf, NdBuf] {
      def zero: NdBuf = NdBuf(null, null)
      private def add(a: NdBuf, b: NdBuf): NdBuf =
        if (b == null || b.data == null) a
        else if (a.shape == null) b
        else {
          require(a.shape == b.shape,
            s"ndarray_sum shape mismatch: ${a.shape} vs ${b.shape}")
          NdBuf(a.shape, a.data.zip(b.data).map(t => t._1 + t._2))
        }
      def reduce(b: NdBuf, v: NdBuf): NdBuf = add(b, v)
      def merge(a: NdBuf, b: NdBuf): NdBuf = add(a, b)
      def finish(b: NdBuf): NdBuf = b
      val bufferEncoder: Encoder[NdBuf] = Encoders.product
      val outputEncoder: Encoder[NdBuf] = Encoders.product
    }
  def ndarraySum(nd: Column): Column =
    udaf(ndarraySumAgg).apply(nd("shape"), nd("data"))
      .cast("struct<shape:array<bigint>,data:array<double>>")

  /** IMPUTE info score over a per-row array of GP triples (reference
    * `aggregators.py:1568` `info_score`; Marchini & Howie 2010 suppl.):
    * with e_i = p_i1 + 2 p_i2, f_i = p_i1 + 4 p_i2 and
    * theta = sum(e)/(2N), score = 1 − sum(f − e²)/(2N·theta·(1−theta))
    * for theta in (0,1), 1 at the boundary, null with no included
    * samples. Pure codegen'd array expressions — one projection, no
    * UDF, no shuffle beyond the caller's. */
  def infoScore(gps: Column): Column = {
    import org.apache.spark.sql.functions._
    val valid = filter(gps, g => g.isNotNull && size(g) === 3 &&
      !exists(g, v => v.isNull))
    val e = transform(valid, g =>
      element_at(g, 2) + lit(2.0) * element_at(g, 3))
    val f = transform(valid, g =>
      element_at(g, 2) + lit(4.0) * element_at(g, 3))
    val n = size(valid)
    val nD = n.cast("double")
    val theta = aggregate(e, lit(0.0), _ + _) / (lit(2.0) * nD)
    val sumFe2 = aggregate(
      zip_with(f, e, (fi, ei) => fi - ei * ei), lit(0.0), _ + _)
    val score = when(n === 0, lit(null).cast("double"))
      .when(theta > 0.0 && theta < 1.0,
        lit(1.0) - sumFe2 /
          (lit(2.0) * nD * theta * (lit(1.0) - theta)))
      .otherwise(lit(1.0))
    struct(score.as("score"), n.as("n_included"))
  }

  // ---- Misra-Gries heavy hitters (mergeable frequent-items summary) ------

  case class MgBuf(items: Map[String, Long])

  /** Misra-Gries frequent-items summary with `m` counters: one pass,
    * O(m) memory, and the mergeable-summaries guarantee (Agarwal et
    * al., PODS'12): every key with true frequency > N/(m+1) survives in
    * the summary under ANY partitioning/merge order, with its count
    * undercounted by at most N/(m+1). Merge sums counters and, when
    * over capacity, subtracts the (m+1)-th largest count from all and
    * drops the non-positive — exactly the decrement step, batched.
    *
    * The SET of surviving keys (beyond the guaranteed ones) and their
    * estimates DO depend on merge order — consume this through
    * [[heavyHittersExact]], which restores determinism with an exact
    * second pass over the candidates. */
  def misraGriesAgg(m: Int): Aggregator[String, MgBuf, Seq[String]] = {
    require(m >= 1, "capacity m must be >= 1")
    new Aggregator[String, MgBuf, Seq[String]] {
      def zero: MgBuf = MgBuf(Map.empty)
      def reduce(b: MgBuf, a: String): MgBuf = {
        if (a == null) return b
        val it = b.items
        it.get(a) match {
          case Some(c) => MgBuf(it.updated(a, c + 1))
          case None if it.size < m => MgBuf(it.updated(a, 1L))
          case None =>
            // decrement-all: amortized O(m) over <= N/(m+1) firings
            MgBuf(it.collect { case (k, v) if v > 1 => k -> (v - 1) })
        }
      }
      def merge(a: MgBuf, b: MgBuf): MgBuf = {
        val sum = b.items.foldLeft(a.items) { case (acc, (k, v)) =>
          acc.updated(k, acc.getOrElse(k, 0L) + v)
        }
        if (sum.size <= m) MgBuf(sum)
        else {
          val cut = sum.valuesIterator.toArray.sorted(
            Ordering[Long].reverse).apply(m) // (m+1)-th largest
          MgBuf(sum.collect { case (k, v) if v > cut => k -> (v - cut) })
        }
      }
      def finish(b: MgBuf): Seq[String] = b.items.keys.toSeq.sorted
      val bufferEncoder: Encoder[MgBuf] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MgBuf]()
      val outputEncoder: Encoder[Seq[String]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    }
  }

  /** Deterministic exact heavy hitters via the classic two-pass scheme:
    * pass 1 aggregates a Misra-Gries summary (partial per partition,
    * merged — a single 1-row result, never a full groupBy over the key
    * space); pass 2 exact-counts ONLY the <= m candidate keys (map-side
    * filter against the broadcast candidate array, so the shuffle
    * carries at most m distinct keys) and keeps those with exact count
    * strictly above N/m. Because every key above N/(m+1) < N/m is
    * guaranteed into the summary, the output is EXACTLY
    * { key : trueCount(key) * m > N } — independent of merge order, at
    * ~2 scans + one m-key shuffle instead of a key-space groupBy.
    * Returns (key, cnt) rows. */
  def heavyHittersExact(df: org.apache.spark.sql.DataFrame, key: String,
      m: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val summary = df.agg(
      udaf(misraGriesAgg(m)).apply(col(key)).as("cand"),
      count(col(key)).as("n"))
    df.select(col(key))
      .crossJoin(broadcast(summary))
      .filter(array_contains(col("cand"), col(key)))
      .groupBy(col(key), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * m > col("n"))
      .select(col(key), col("cnt"))
  }
}
