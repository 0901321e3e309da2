package graft

import org.apache.spark.sql.functions._
import graft.methods.{Regression, Skat}
import graft.sources.Vcf

class SkatSpec extends SparkSpec {

  private val vcfText =
    """##fileformat=VCFv4.2
      |##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
      |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	S1	S2	S3	S4	S5	S6
      |chr1	100	.	A	G	.	PASS	.	GT	0/0	0/1	1/1	0/0	0/1	0/0
      |chr1	200	.	C	T	.	PASS	.	GT	0/1	0/0	0/1	1/1	0/0	0/1
      |chr1	300	.	G	A	.	PASS	.	GT	0/0	0/0	0/1	0/1	1/1	0/0
      |chr2	150	.	T	C	.	PASS	.	GT	1/1	0/1	0/0	0/1	0/0	0/0
      |""".stripMargin

  private def fixtureMt(): MatrixTable = {
    val dir = java.nio.file.Files.createTempDirectory("graft_skat")
    val f = dir.resolve("skat.vcf")
    java.nio.file.Files.writeString(f, vcfText)
    Vcf.read(spark, f.toString)
  }

  /** The fixture's dosages per contig, as (position, dosages of S1..S6);
    * every genotype is called, so no dosage is mean-imputed. */
  private val doses = Map(
    "chr1" -> Seq(
      100 -> Array(0.0, 1, 2, 0, 1, 0),
      200 -> Array(1.0, 0, 1, 2, 0, 1),
      300 -> Array(0.0, 0, 1, 1, 2, 0)),
    "chr2" -> Seq(150 -> Array(2.0, 1, 0, 1, 0, 0)))

  /** (res·x)², one variant's squared score. */
  private def score(x: Array[Double], res: Array[Double]): Double = {
    val d = x.zip(res).map { case (a, b) => a * b }.sum
    d * d
  }

  test("liuPValue is exact for a single eigenvalue (λχ²₁ tail)") {
    import org.apache.commons.math3.distribution.ChiSquaredDistribution
    val chi2 = new ChiSquaredDistribution(1.0)
    for (lambda <- Seq(0.5, 1.0, 3.7); q <- Seq(0.2, 1.0, 4.0, 9.0)) {
      val (p, fault) = Skat.liuPValue(q, Array(lambda))
      val exact = 1.0 - chi2.cumulativeProbability(q / lambda)
      assert(fault == 0)
      assert(math.abs(p - exact) < 1e-9, s"λ=$lambda q=$q: $p vs $exact")
    }
  }

  test("linear skat q_stat matches the closed quadratic form") {
    val mt = fixtureMt()
    val pheno = mt.colsTable.df
      .withColumn("y", substring(col("s"), 2, 10).cast("double"))
    val out = Skat.skat(mt, pheno, "y", Nil,
      keyExpr = col("contig"), weightExpr = lit(1.0))
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    // closed form: res = y - mean(y), sigsq = Σres²/(n-1),
    // q_stat = Σ_v (res·x_v)² / (2 sigsq)
    val y = Array(1.0, 2, 3, 4, 5, 6)
    val ybar = y.sum / 6
    val res = y.map(_ - ybar)
    val sigsq = res.map(r => r * r).sum / 5
    for ((contig, vs) <- doses) {
      val expected = vs.map { case (_, x) => score(x, res) }.sum /
        (2 * sigsq)
      val got = out(contig).getAs[Double]("q_stat")
      assert(math.abs(got - expected) < 1e-8, s"$contig: $got vs $expected")
      assert(out(contig).getAs[Int]("size") == vs.length)
    }
    assert(out.values.forall { r =>
      val p = r.getAs[Double]("p_value"); p >= 0 && p <= 1
    })
    assert(out.values.forall(_.getAs[Int]("fault") == 0))
  }

  test("logistic skat q_stat matches the closed form of its null fit") {
    val mt = fixtureMt()
    // with no covariates the logistic null is closed-form: mu = mean(y)
    // and sigma² = 1, so q_stat = Σ_v w_v (res·x_v)² / 2 with
    // res = y - mean(y); the first phenotype has mean 1/2 (the fit starts
    // at its optimum), the second 1/3 (the fit has to iterate)
    val phenos = Seq(
      (substring(col("s"), 2, 10).cast("int") % 2).cast("double") ->
        Array(1.0, 0, 1, 0, 1, 0),
      when(col("s").isin("S1", "S2"), 1.0).otherwise(0.0) ->
        Array(1.0, 1, 0, 0, 0, 0))
    for ((yCol, y) <- phenos) {
      val out = Skat.skat(mt, mt.colsTable.df.withColumn("y", yCol), "y",
        Nil, keyExpr = col("contig"),
        weightExpr = lit(1.0) /
          (pmod(col("position"), lit(7)) + 1).cast("double"),
        logistic = true)
        .collect().map(r => r.getAs[String]("id") -> r).toMap
      val ybar = y.sum / 6
      val res = y.map(_ - ybar)
      for ((contig, vs) <- doses) {
        val expected = vs.map { case (pos, x) =>
          score(x, res) / (pos % 7 + 1)
        }.sum / 2
        val got = out(contig).getAs[Double]("q_stat")
        assert(math.abs(got - expected) < 1e-8,
          s"ybar=$ybar $contig: $got vs $expected")
        val p = out(contig).getAs[Double]("p_value")
        assert(p >= 0 && p <= 1)
      }
    }
  }

  test("skat respects maxSize") {
    val mt = fixtureMt()
    val pheno = mt.colsTable.df
      .withColumn("y", substring(col("s"), 2, 10).cast("double"))
    val out = Skat.skat(mt, pheno, "y", Nil,
      keyExpr = col("contig"), weightExpr = lit(1.0), maxSize = 2)
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(out("chr1").isNullAt(out("chr1").fieldIndex("q_stat")))
    assert(!out("chr2").isNullAt(out("chr2").fieldIndex("q_stat")))
  }

  test("firth logistic tracks wald on well-behaved data, converges under separation") {
    val mt = fixtureMt()
    // y correlated but not separated
    val pheno = mt.colsTable.df.withColumn("y",
      (substring(col("s"), 2, 10).cast("int") % 2).cast("double"))
    val wald = Regression.logisticRegressionRows(mt, pheno, "y").df
      .collect().map(r => (r.getAs[String]("contig"),
        r.getAs[Int]("position")) -> r).toMap
    val firth = Regression.logisticRegressionRows(mt, pheno, "y",
      test = "firth").df
      .collect().map(r => (r.getAs[String]("contig"),
        r.getAs[Int]("position")) -> r).toMap
    for ((k, fr) <- firth if fr.getAs[Boolean]("converged")) {
      val fb = fr.getAs[Double]("beta")
      assert(fb.abs < 20, s"$k: firth beta not shrunk: $fb")
      val p = fr.getAs[Double]("p_value")
      assert(p >= 0 && p <= 1)
      wald.get(k).filter(_.getAs[Boolean]("converged")).foreach { wr =>
        // Firth shrinks toward zero; same sign when wald is finite & sane
        val wb = wr.getAs[Double]("beta")
        if (wb.abs < 5) assert(math.signum(fb) == math.signum(wb) ||
          fb.abs < 0.5, s"$k: firth $fb vs wald $wb")
      }
    }
    // separated phenotype: y = (dose of chr1:100 > 0) is perfectly
    // predicted by x at that variant -> wald diverges, firth stays finite
    val sep = mt.colsTable.df.withColumn("y",
      when(col("s").isin("S2", "S3", "S5"), 1.0).otherwise(0.0))
    val fSep = Regression.logisticRegressionRows(mt, sep, "y",
      test = "firth").df.collect()
      .map(r => (r.getAs[String]("contig"), r.getAs[Int]("position")) -> r)
      .toMap
    val at100 = fSep(("chr1", 100))
    assert(at100.getAs[Boolean]("converged"))
    assert(at100.getAs[Double]("beta").abs < 10)
    // the unpenalized fit diverges there: the Wald test says so, as the
    // lrt does, instead of reporting the last Newton step
    for (test <- Seq("wald", "lrt")) {
      val r = Regression.logisticRegressionRows(mt, sep, "y", test = test)
        .df.filter(col("contig") === "chr1" && col("position") === 100)
        .collect().head
      assert(!r.getAs[Boolean]("converged"), test)
      assert(r.isNullAt(r.fieldIndex("beta")), test)
    }
  }

  test("logistic score test matches the closed form for binary x") {
    val mt = fixtureMt()
    val pheno = mt.colsTable.df.withColumn("y",
      (substring(col("s"), 2, 10).cast("int") % 2).cast("double"))
    val score = Regression.logisticRegressionRows(mt, pheno, "y",
      xOf = gt => (graft.functions.Calls.nNonRefAlleles(gt) > 0)
        .cast("double"), test = "score").df
      .collect().map(r => (r.getAs[String]("contig"),
        r.getAs[Int]("position")) -> r).toMap
    // chr1:100 x = (0,1,1,0,1,0), y = (1,0,1,0,1,0):
    // n=6, n1=3, pbar=.5, u = n11 - n1*pbar = 2 - 1.5 = .5
    // stat = .25 / (.25 * 3 * .5) = 2/3
    val r = score(("chr1", 100))
    assert(math.abs(r.getAs[Double]("chi_sq_stat") - 2.0 / 3) < 1e-9)
  }

  /** Per-variant fits on the fixture's dosage x, recorded from the
    * separate per-test Newton loops before one fitter replaced them: the
    * logistic tests of y = sample number % 2, and Poisson of y = sample
    * number + 1. Each row holds the test's non-null statistics in output
    * column order (beta, standard_error, z_stat or chi_sq_stat, p_value);
    * every recorded fit converged. */
  private val recordedFits = Seq(
    "wald" -> Seq(
      ("chr1", 100) -> Seq(1.4094337079608072, 1.3945988805968377,
        1.0106373435188911, 0.31219003564327497),
      ("chr1", 200) -> Seq(-0.7372303812022214, 1.2685881400834664,
        -0.5811424195986221, 0.5611444711915534),
      ("chr1", 300) -> Seq(1.409433707960807, 1.3945988805968375,
        1.0106373435188911, 0.31219003564327497),
      ("chr2", 150) -> Seq(0.0, 1.0954451150103321, 0.0, 1.0)),
    "lrt" -> Seq(
      ("chr1", 100) -> Seq(1.4094337079608072, 1.3945988805968377,
        1.2960784593425387, 0.254930782481921),
      ("chr1", 200) -> Seq(-0.7372303812022214, 1.2685881400834664,
        0.3605889687390169, 0.5481793191839914),
      ("chr1", 300) -> Seq(1.409433707960807, 1.3945988805968375,
        1.2960784593425396, 0.2549307824819209),
      ("chr2", 150) -> Seq(0.0, 1.0954451150103321, 0.0, 1.0)),
    "score" -> Seq(
      ("chr1", 100) -> Seq(1.2, 0.27332167829229814),
      ("chr1", 200) -> Seq(0.35294117647058815, 0.5524529048817779),
      ("chr1", 300) -> Seq(1.2, 0.27332167829229814),
      ("chr2", 150) -> Seq(0.0, 1.0)),
    "firth" -> Seq(
      ("chr1", 100) -> Seq(0.8731183557480628, 1.2087535238785336,
        0.6523842682924617, 0.41926152911161163),
      ("chr1", 200) -> Seq(-0.47636867256684895, 1.2215739815689326,
        -0.10944600108160518, 1.0),
      ("chr1", 300) -> Seq(0.873118355748063, 1.2087535238785336,
        0.6523842682924608, 0.41926152911161196),
      ("chr2", 150) -> Seq(0.0, 1.0954451150103321, -0.18232155679395579,
        1.0)),
    "poisson" -> Seq(
      ("chr1", 100) -> Seq(-0.06776452844731996, 0.2625367663471186,
        -0.25811443246666504, 0.7963185933944952),
      ("chr1", 200) -> Seq(0.039100004522454046, 0.27924618416725483,
        0.14001983460957537, 0.8886443190158637),
      ("chr1", 300) -> Seq(0.19210008446765126, 0.24866620293808314,
        0.7725218875662141, 0.43980538854419127),
      ("chr2", 150) -> Seq(-0.45385540342270114, 0.2971141713877896,
        -1.527545459386166, 0.12662543216505595)))

  test("per-variant GLM fits on dosage x match the recorded fits") {
    val mt = fixtureMt()
    val num = substring(col("s"), 2, 10).cast("int")
    val bin = mt.colsTable.df.withColumn("y", (num % 2).cast("double"))
    val cnt = mt.colsTable.df.withColumn("y", (num + 1).cast("double"))
    for ((test, rows) <- recordedFits) {
      val df =
        if (test == "poisson")
          Regression.poissonRegressionRows(mt, cnt, "y").df
        else Regression.logisticRegressionRows(mt, bin, "y", test = test).df
      val fields = Seq("beta", "standard_error", "z_stat", "chi_sq_stat",
        "p_value").filter(df.columns.contains)
      val got = df.collect().map(r => (r.getAs[String]("contig"),
        r.getAs[Int]("position")) -> r).toMap
      assert(got.size == rows.size, test)
      for ((key, expected) <- rows) {
        val r = got(key)
        assert(r.getAs[Boolean]("converged"), s"$test $key")
        assert(fields.length == expected.length, test)
        for ((f, e) <- fields.zip(expected)) {
          val v = r.getAs[Double](f)
          assert(math.abs(v - e) <= 1e-9, s"$test $key $f: $v vs $e")
        }
      }
    }
  }

  test("imhofTail is exact against closed-form chi-square mixtures") {
    import org.apache.commons.math3.distribution.ChiSquaredDistribution
    // k equal unit weights: Q ~ chi2_k ; scale w: Q ~ w * chi2_k
    for (k <- Seq(1, 2, 3, 5); w <- Seq(1.0, 2.5); q <- Seq(0.5, 2.0, 8.0)) {
      val exact = 1.0 - new ChiSquaredDistribution(k)
        .cumulativeProbability(q / w)
      val got = Skat.imhofTail(q, Array.fill(k)(w))
      assert(got.isDefined, s"k=$k w=$w q=$q")
      assert(math.abs(got.get - exact) < 1e-6,
        s"k=$k w=$w q=$q: ${got.get} vs $exact")
    }
    // heterogeneous weights: cross-check P(2A + B > q), A,B ~ chi2_1,
    // against 1-D convolution quadrature
    import org.apache.commons.math3.distribution.ChiSquaredDistribution
    val chi1 = new ChiSquaredDistribution(1.0)
    // substitute b = t² to remove the chi2_1 density singularity at 0:
    // P = ∫ 2 φ(t) sf1((q − t²)/2) dt over t >= 0
    def convTail(q: Double): Double = {
      val nStep = 200000
      val tMax = 10.0
      val hh = tMax / nStep
      (0 until nStep).map { i =>
        val t = (i + 0.5) * hh
        2.0 * math.exp(-t * t / 2) / math.sqrt(2 * math.Pi) *
          (1.0 - chi1.cumulativeProbability(
            math.max(q - t * t, 0.0) / 2.0)) * hh
      }.sum
    }
    for (q <- Seq(1.0, 4.0, 10.0)) {
      val got = Skat.imhofTail(q, Array(2.0, 1.0))
      assert(got.isDefined, s"q=$q")
      assert(math.abs(got.get - convTail(q)) < 1e-4,
        s"q=$q: ${got.get} vs ${convTail(q)}")
    }
    // mixed weights: monotone decreasing in q, in [0, 1]
    val ws = Array(3.0, 1.0, 0.2)
    val ps = Seq(0.1, 1.0, 4.0, 10.0, 25.0)
      .map(q => Skat.mixtureTail(q, ws)._1)
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b - 1e-12 })
    assert(ps.forall(p => p >= 0 && p <= 1))
    assert(Skat.mixtureTail(4.0, ws)._2 == 0) // exact path taken
  }
}
