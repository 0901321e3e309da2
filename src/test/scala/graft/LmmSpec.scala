package graft

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.sql.functions._
import graft.methods.{Lmm, Regression}
import graft.sources.Vcf

class LmmSpec extends SparkSpec {

  private def fixtureMt(): MatrixTable = Vcf.read(spark,
    Fixtures.path("oracle_sample.vcf"))

  test("identity kinship collapses the LMM to OLS") {
    val mt = fixtureMt()
    val pheno = mt.colsTable.df
      .withColumn("y", substring(col("s"), 2, 10).cast("double"))
    val lmm = Lmm.linearMixedRegressionRows(mt, pheno, "y",
      kinship = Some(BDM.eye[Double](mt.nCols))).df
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val ols = Regression.linearRegressionRows(mt, pheno, "y").df
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    assert(lmm.nonEmpty && lmm.keySet == ols.keySet)
    for ((k, lr) <- lmm) {
      val or = ols(k)
      assert(math.abs(lr.getAs[Double]("beta") -
        or.getAs[Double]("beta")) < 1e-7, s"$k beta")
      val t = or.getAs[Double]("t_stat")
      assert(math.abs(lr.getAs[Double]("chi_sq") - t * t) < 1e-6,
        s"$k chi_sq vs t^2")
    }
  }

  test("REML fit recovers a sensible h2 on simulated structured data") {
    val rng = new scala.util.Random(1)
    val n = 60
    // block kinship: two clans of 30 with within-clan correlation
    val kin = BDM.tabulate(n, n)((i, j) =>
      if (i == j) 1.0 else if (i / 30 == j / 30) 0.5 else 0.0)
    // y = clan effect (the g term) + noise
    val clanEff = Array.fill(2)(rng.nextGaussian() * 2.0)
    val y = BDV.tabulate(n)(i => clanEff(i / 30) + rng.nextGaussian())
    val x = BDM.ones[Double](n, 1)
    val f = Lmm.fit(kin, y, x)
    assert(f.h2 > 0.05 && f.h2 < 1.0, s"h2=${f.h2}")
    assert(f.logReml.isFinite && f.sigmaG2 > 0)
    // null-structure phenotype drives h2 toward 0 (large delta)
    val yFlat = BDV.tabulate(n)(_ => rng.nextGaussian())
    val f0 = Lmm.fit(kin, yFlat, x)
    assert(f0.h2 < f.h2)
  }

  test("distributed LMM matches a dense REML replay on non-trivial kinship") {
    import breeze.linalg.{inv, logdet, DenseMatrix => M, DenseVector => V}
    val mt = fixtureMt()
    val n = mt.nCols
    // Toeplitz kinship 0.5^|i-j|: positive definite, non-trivial spectrum
    val kin = M.tabulate(n, n)((i, j) => math.pow(0.5, math.abs(i - j)))
    val pheno = mt.colsTable.df
      .withColumn("y", substring(col("s"), 2, 10).cast("double"))
    val dist = Lmm.linearMixedRegressionRows(mt, pheno, "y",
      kinship = Some(kin)).df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)) -> r).toMap

    // independent replay: same REML criterion, NO spectral shortcut —
    // dense V-inverse solves throughout, so the rotation/eigen machinery
    // of the distributed path is checked against direct linear algebra
    val y = V((1 to n).map(_.toDouble).toArray) // substring(s_i, 2) = i
    def gls(x: M[Double], delta: Double)
        : (V[Double], M[Double], Double) = {
      val v = kin + M.eye[Double](n) * delta
      val vi = inv(v)
      val xtvx = x.t * vi * x
      val beta = xtvx \ (x.t * (vi * y))
      val res = y - x * beta
      val rss = res dot (vi * res)
      (beta, inv(xtvx), rss / (n - x.cols))
    }
    def negLL(x: M[Double], logDelta: Double): Double = {
      val delta = math.exp(logDelta)
      val v = kin + M.eye[Double](n) * delta
      val vi = inv(v)
      val xtvx = x.t * vi * x
      val beta = xtvx \ (x.t * (vi * y))
      val res = y - x * beta
      val rss = res dot (vi * res)
      0.5 * ((n - x.cols) * math.log(rss / (n - x.cols)) +
        logdet(v)._2 + logdet(xtvx)._2)
    }
    // same optimization protocol as Lmm.fit (coarse grid + golden section)
    val x0 = M.ones[Double](n, 1)
    val grid = (-80 to 80).map(i => i / 10.0)
    var (lo, hi) = { val b = grid.minBy(negLL(x0, _)); (b - 0.1, b + 0.1) }
    val phi = (math.sqrt(5.0) - 1) / 2
    var c = hi - phi * (hi - lo); var d = lo + phi * (hi - lo)
    var fc = negLL(x0, c); var fd = negLL(x0, d)
    while (hi - lo > 1e-6) {
      if (fc < fd) { hi = d; d = c; fd = fc
        c = hi - phi * (hi - lo); fc = negLL(x0, c) }
      else { lo = c; c = d; fc = fd
        d = lo + phi * (hi - lo); fd = negLL(x0, d) }
    }
    val delta = math.exp((lo + hi) / 2)

    // per-variant dense GLS at the fitted delta
    import graft.functions.Calls
    val doseRows = mt.rows.select(col("contig"), col("position"),
      col("ref"), transform(mt.entries,
        e => Calls.nNonRefAlleles(e("GT")).cast("double")).as("d"))
      .collect()
    var checked = 0
    doseRows.foreach { r =>
      val raw = r.getSeq[Any](3)
      val called = raw.collect { case dd: Double => dd }
      val mean = if (called.nonEmpty) called.sum / called.length else 0.0
      val g = raw.map { case dd: Double => dd; case _ => mean }.toArray
      val key = (r.getString(0), r.getInt(1), r.getString(2))
      val a = M.horzcat(x0, new M(n, 1, g))
      val distRow = dist(key)
      if (!distRow.isNullAt(distRow.fieldIndex("beta"))) {
        val (beta, cov, sigma2) =
          try gls(a, delta)
          catch { case _: Exception => (null, null, 0.0) }
        if (beta != null && cov(1, 1) > 1e-12) {
          val b = beta(1)
          val chi2 = b * b / (sigma2 * cov(1, 1))
          assert(math.abs(distRow.getAs[Double]("beta") - b) < 1e-4,
            s"$key beta ${distRow.getAs[Double]("beta")} vs $b")
          assert(math.abs(distRow.getAs[Double]("chi_sq") - chi2) <
            1e-3 * math.max(1.0, chi2), s"$key chi2")
          checked += 1
        }
      }
    }
    assert(checked > 10, s"only $checked variants checked")
  }

  test("default spectral path matches explicit-GRM eigSym path, incl low rank") {
    import breeze.linalg.diag
    import graft.methods.{Lmm, Pca}
    val mt = fixtureMt()
    val n = mt.nCols
    val pheno = mt.colsTable.df
      .withColumn("y", substring(col("s"), 2, 10).cast("double"))
    def run(kin: Option[BDM[Double]], maxRank: Option[Int] = None) =
      Lmm.linearMixedRegressionRows(mt, pheno, "y", kinship = kin,
        maxRank = maxRank).df.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2)) -> r).toMap
    // explicit K assembled test-side from the GRM pair frame (small
    // fixture only — the default path must NOT do this)
    val kin = BDM.zeros[Double](n, n)
    Pca.grm(mt).collect().foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1); val v = r.getDouble(2)
      kin(i, j) = v; kin(j, i) = v
    }
    val exp = run(Some(kin))
    val dflt = run(None)
    assert(dflt.keySet == exp.keySet)
    var checked = 0
    for ((k, dr) <- dflt; er = exp(k)
         if !dr.isNullAt(dr.fieldIndex("beta")) &&
           !er.isNullAt(er.fieldIndex("beta"))) {
      assert(math.abs(dr.getAs[Double]("beta") - er.getAs[Double]("beta"))
        < 1e-6 * math.max(1.0, math.abs(er.getAs[Double]("beta"))), s"$k beta")
      assert(math.abs(dr.getAs[Double]("chi_sq") -
        er.getAs[Double]("chi_sq")) <
        1e-5 * math.max(1.0, er.getAs[Double]("chi_sq")), s"$k chi_sq")
      checked += 1
    }
    assert(checked > 10, s"only $checked variants compared")
    // the spectral basis is rank-bounded — nothing S×S is assembled
    val basis = Lmm.spectralGrm(mt)
    assert(basis.r <= n && basis.v.rows == n)
    // FaST-LMM low-rank: a truncated basis must agree with an explicit
    // kinship built from the SAME truncation (exercises the r < n
    // complement weighting 1/delta)
    val b3 = Lmm.spectralGrm(mt, maxRank = Some(3))
    assert(b3.r == 3 && b3.r < n)
    val kTrunc = b3.v * diag(b3.s) * b3.v.t
    val expT = run(Some(kTrunc))
    val dfltT = run(None, maxRank = Some(3))
    var checkedT = 0
    for ((k, dr) <- dfltT; er = expT(k)
         if !dr.isNullAt(dr.fieldIndex("beta")) &&
           !er.isNullAt(er.fieldIndex("beta"))) {
      assert(math.abs(dr.getAs[Double]("beta") - er.getAs[Double]("beta"))
        < 1e-6 * math.max(1.0, math.abs(er.getAs[Double]("beta"))),
        s"$k low-rank beta")
      checkedT += 1
    }
    assert(checkedT > 10, s"only $checkedT low-rank variants compared")
  }

  test("default kinship path (GRM) runs end to end") {
    val mt = fixtureMt()
    val pheno = mt.colsTable.df
      .withColumn("y", substring(col("s"), 2, 10).cast("double"))
    val out = Lmm.linearMixedRegressionRows(mt, pheno, "y").df.collect()
    assert(out.length == mt.rows.count())
    assert(out.exists(r => !r.isNullAt(r.fieldIndex("p_value"))))
  }
}
