package graft

import org.apache.spark.sql.functions._
import graft.functions.{Calls, StatTests}
import graft.methods.{FilterAlleles, Qc, SplitMulti}
import graft.sources.Vcf

class MethodsSpec extends SparkSpec {

  private val vcfText =
    """##fileformat=VCFv4.2
      |##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
      |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">
      |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	SA	SB	SC
      |chr1	100	.	A	G	.	PASS	.	GT:DP	0/0:10	0/1:20	1/1:30
      |chr1	200	.	C	A,T	.	PASS	.	GT:DP	1/2:5	0/1:5	./.:7
      |chr1	300	.	AT	A	.	PASS	.	GT	0/1	0/0	.
      |chr1	400	.	G	GTT	.	PASS	.	GT:DP	0|1:9	./.:1	1/1:2
      |""".stripMargin

  private def fixtureMt(): MatrixTable = {
    val dir = java.nio.file.Files.createTempDirectory("graft_qc")
    val f = dir.resolve("qc.vcf")
    java.nio.file.Files.writeString(f, vcfText)
    Vcf.read(spark, f.toString)
  }

  test("hweExact matches hail's documented golden values") {
    val (hf1, p1) = StatTests.hweExactPair(250, 500, 250, oneSided = false)
    assert(math.abs(hf1 - 0.5002501250625313) < 1e-12)
    assert(math.abs(p1 - 0.9747844394217698) < 1e-9)
    val (hf2, p2) = StatTests.hweExactPair(37, 200, 85, oneSided = false)
    assert(math.abs(hf2 - 0.48964964307448583) < 1e-12)
    assert(math.abs(p2 - 1.1337210383168987e-06) < 1e-12)
  }

  test("sampleQc computes hail's per-sample metrics") {
    val qc = Qc.sampleQc(fixtureMt()).df.collect()
      .map(r => r.getAs[String]("s") -> r).toMap
    val sa = qc("SA")
    assert(sa.getAs[Long]("n_called") === 4L)
    assert(sa.getAs[Long]("n_not_called") === 0L)
    assert(sa.getAs[Long]("n_filtered") === 0L)
    assert(sa.getAs[Double]("call_rate") === 1.0)
    assert(sa.getAs[Long]("n_hom_ref") === 1L)
    assert(sa.getAs[Long]("n_het") === 3L)
    assert(sa.getAs[Long]("n_hom_var") === 0L)
    assert(sa.getAs[Long]("n_non_ref") === 3L)
    assert(sa.getAs[Long]("n_singleton") === 2L)
    assert(sa.getAs[Long]("n_transition") === 1L)
    assert(sa.getAs[Long]("n_transversion") === 1L)
    assert(sa.getAs[Long]("n_snp") === 2L)
    assert(sa.getAs[Long]("n_insertion") === 1L)
    assert(sa.getAs[Long]("n_deletion") === 1L)
    assert(sa.getAs[Long]("n_star") === 0L)
    assert(sa.getAs[Double]("r_ti_tv") === 1.0)
    assert(sa.isNullAt(sa.fieldIndex("r_het_hom_var"))) // 3/0 -> NA
    assert(sa.getAs[Double]("dp_mean") === 8.0) // (10+5+9)/3
    assert(math.abs(sa.getAs[Double]("dp_stdev") - math.sqrt(14.0 / 3)) < 1e-12)
    assert(sa.getAs[Int]("dp_min") === 5 && sa.getAs[Int]("dp_max") === 10)
    // SC has one fully-missing entry (filtered) and one missing GT
    val sc = qc("SC")
    assert(sc.getAs[Long]("n_filtered") === 1L)
    assert(sc.getAs[Long]("n_not_called") === 1L)
    assert(sc.getAs[Long]("n_called") === 2L)
    assert(sc.getAs[Double]("call_rate") === 0.5)
  }

  test("variantQc computes per-variant metrics incl exact HWE") {
    val qc = Qc.variantQc(fixtureMt()).df.collect()
      .map(r => r.getAs[Int]("position") -> r).toMap
    val v = qc(100)
    assert(v.getAs[Seq[Long]]("AC") === Seq(3L, 3L))
    assert(v.getAs[Long]("AN") === 6L)
    assert(v.getAs[Seq[Double]]("AF") === Seq(0.5, 0.5))
    assert(v.getAs[Seq[Long]]("homozygote_count") === Seq(1L, 1L))
    assert(v.getAs[Long]("n_called") === 3L)
    assert(v.getAs[Long]("n_het") === 1L)
    assert(v.getAs[Long]("n_non_ref") === 2L)
    assert(v.getAs[Double]("call_rate") === 1.0)
    val (hf, p) = StatTests.hweExactPair(1, 1, 1, oneSided = false)
    assert(math.abs(v.getAs[Double]("het_freq_hwe") - hf) < 1e-12)
    assert(math.abs(v.getAs[Double]("p_value_hwe") - p) < 1e-12)
    // multiallelic -> HWE missing
    val m = qc(200)
    assert(m.isNullAt(m.fieldIndex("het_freq_hwe")))
    assert(m.getAs[Seq[Long]]("AC") === Seq(1L, 2L, 1L))
    assert(m.getAs[Long]("n_filtered") === 0L)
    assert(m.getAs[Long]("n_not_called") === 1L)
    // row 300: SC's '.' entry is filtered
    assert(qc(300).getAs[Long]("n_filtered") === 1L)
  }

  test("linearRegressionRows: exact OLS, SE, t, p and mean imputation") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val mt = fixtureMt()
    val pheno = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("SA", 1.0), Row("SB", 2.0), Row("SC", 4.0))),
      StructType(Seq(StructField("s", StringType),
        StructField("y", DoubleType))))
    val fit = methods.Regression.linearRegressionRows(mt, pheno, "y").df
      .collect().map(r => r.getAs[Int]("position") -> r).toMap
    // v100: x = (0,1,2), y = (1,2,4): beta=1.5, int=5/6, se=sqrt(1/12),
    // t = sqrt(27), p = 2*(1 - T_1(sqrt(27)))
    val v = fit(100)
    assert(math.abs(v.getAs[Double]("beta") - 1.5) < 1e-12)
    assert(math.abs(v.getAs[Double]("standard_error") -
      math.sqrt(1.0 / 12)) < 1e-12)
    val expT = 1.5 / math.sqrt(1.0 / 12)
    assert(math.abs(v.getAs[Double]("t_stat") - expT) < 1e-10)
    val expP = 2.0 * (1.0 - new org.apache.commons.math3.distribution
      .TDistribution(1).cumulativeProbability(expT))
    assert(math.abs(v.getAs[Double]("p_value") - expP) < 1e-12)
    assert(v.getAs[Long]("n") === 3L)
    // v400: SB's GT is missing -> mean-imputed x=1.5; beta = 3 exactly
    assert(math.abs(fit(400).getAs[Double]("beta") - 3.0) < 1e-10)
  }

  test("hweNormalizedPca eigenvalues/scores match a local Breeze SVD") {
    val mt = fixtureMt()
    val (normRows, _) = methods.Pca.hweNormalized(mt, scaleM = true)
    val local = normRows.select("__norm").collect()
      .map(_.getSeq[Double](0).toArray)
    val bm = breeze.linalg.DenseMatrix(local.toIndexedSeq: _*)
    val breezeSvd = breeze.linalg.svd.reduced(bm)
    // every normalized row sums to zero (mean-centering over called
    // entries, missing -> 0), so rank <= nCols - 1: ask for k = 2
    // non-degenerate components
    val res = methods.Pca.hweNormalizedPca(mt, k = 2,
      computeLoadings = true)
    val expected = breezeSvd.S.toArray.map(x => x * x).sorted.reverse.take(2)
    assert(res.eigenvalues.length === 2)
    res.eigenvalues.zip(expected).foreach { case (got, exp) =>
      assert(math.abs(got - exp) < 1e-6, s"$got vs $exp")
    }
    // scores: |V S| match up to per-component sign
    val scores = res.scores.orderBy("s").collect()
      .map(_.getSeq[Double](1).toArray)
    val expScores = (0 until mt.nCols).map(j =>
      (0 until 2).map(i => breezeSvd.Vt(i, j) * breezeSvd.S(i)).toArray)
    scores.zip(expScores).foreach { case (got, exp) =>
      got.zip(exp).foreach { case (g, e) =>
        assert(math.abs(math.abs(g) - math.abs(e)) < 1e-6) }
    }
    // loadings: unit-norm columns (U has orthonormal columns)
    val lo = res.loadings.get.collect().map(_.getSeq[Double](
      res.loadings.get.columns.length - 1).toArray)
    val colNorm = (0 until 2).map(i =>
      math.sqrt(lo.map(r => r(i) * r(i)).sum))
    colNorm.foreach(n => assert(math.abs(n - 1.0) < 1e-6))
  }

  test("grm matches hand-computed normalized Gramian") {
    val mt = fixtureMt()
    val (normRows, m) = methods.Pca.hweNormalized(mt, scaleM = false)
    val local = normRows.select("__norm").collect()
      .map(_.getSeq[Double](0).toArray)
    val n = mt.nCols
    val got = methods.Pca.grm(mt).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (i <- 0 until n; j <- i until n) {
      val exp = local.map(row => row(i) * row(j)).sum * 2.0 / m
      assert(math.abs(got((i, j)) - exp) < 1e-12)
    }
  }

  test("pcProject reproduces PCA scores when projecting the source") {
    val mt = fixtureMt()
    val res = methods.Pca.hweNormalizedPca(mt, k = 2,
      computeLoadings = true)
    // pc_project's (gt - 2af)/sqrt(2m·af(1-af)) equals the PCA's
    // hwe normalization, so projecting the SOURCE data onto its own
    // loadings must return the score matrix V·S exactly
    val st = graft.functions.GenotypeFolds.doseStats(mt.entries)
    val af = when(st("nc") > 0,
      st("ac").cast("double") / (st("nc") * 2).cast("double"))
    val annotated = mt.copy(rows = mt.rows.withColumn("af", af)
      .join(res.loadings.get, mt.rowKey, "left"))
    val proj = methods.Pca.pcProject(annotated, "loadings", "af").df
      .collect().map(r => r.getString(0) ->
        r.getSeq[Double](r.fieldIndex("scores"))).toMap
    val pca = res.scores.collect().map(r => r.getString(0) ->
      r.getSeq[Double](r.fieldIndex("scores"))).toMap
    assert(proj.keySet === pca.keySet)
    for (s <- pca.keys; k <- 0 until 2)
      assert(math.abs(proj(s)(k) - pca(s)(k)) < 1e-8,
        s"$s pc$k: ${proj(s)(k)} vs ${pca(s)(k)}")
  }

  test("rowCorrelation matches the reference's documented example") {
    // statgen.py:3730 docstring: 3 variants x 4 samples, last entry
    // missing (mean-imputed); expected correlations given to 8 dp
    val vcf =
      """##fileformat=VCFv4.2
        |##FORMAT=<ID=GT,Number=1,Type=String,Description="G">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	a	b	c	d
        |chr1	1	.	A	C	.	PASS	.	GT	0/0	0/0	0/1	1/1
        |chr1	2	.	G	T	.	PASS	.	GT	0/1	1/1	0/1	0/0
        |chr1	3	.	C	G	.	PASS	.	GT	0/1	0/0	1/1	./.
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft_rowcorr")
    val f = dir.resolve("rc.vcf")
    java.nio.file.Files.writeString(f, vcf)
    val mt = graft.sources.Vcf.read(spark, f.toString)
    val got = methods.Pca.rowCorrelation(mt,
        e => graft.functions.Calls.nNonRefAlleles(e("GT")), blockSize = 2)
      .toLocal
    val want = Array(
      Array(1.0, -0.85280287, 0.42640143),
      Array(-0.85280287, 1.0, -0.5),
      Array(0.42640143, -0.5, 1.0))
    for (i <- 0 until 3; j <- 0 until 3)
      assert(math.abs(got(i, j) - want(i)(j)) < 1e-7, s"($i,$j) ${got(i, j)}")
  }

  test("ldScore windows and adjusts the documented correlation example") {
    // same 3x4 dataset as the rowCorrelation spec; radius 1.5 keeps
    // pairs (1,2) and (2,3) only. n=4 -> adj(x) = 1.5x - 0.5:
    //   adj(r12²) = 1.5·0.727272.. - 0.5 = 0.590909..
    //   adj(r23²) = 1.5·0.25 - 0.5 = -0.125
    val vcf =
      """##fileformat=VCFv4.2
        |##FORMAT=<ID=GT,Number=1,Type=String,Description="G">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	a	b	c	d
        |chr1	1	.	A	C	.	PASS	.	GT	0/0	0/0	0/1	1/1
        |chr1	2	.	G	T	.	PASS	.	GT	0/1	1/1	0/1	0/0
        |chr1	3	.	C	G	.	PASS	.	GT	0/1	0/0	1/1	./.
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft_ldsc")
    val f = dir.resolve("ls.vcf")
    java.nio.file.Files.writeString(f, vcf)
    val mt0 = graft.sources.Vcf.read(spark, f.toString)
    val mt = mt0.copy(rows = mt0.rows
      .withColumn("w", col("position").cast("double") * 10))
    val got = methods.LdScore.ldScore(mt,
        e => Calls.nNonRefAlleles(e("GT")), radius = 1.5,
        annotations = Seq("w")).collect()
      .map(r => r.getAs[Int]("position") ->
        ((r.getAs[Double]("univariate"), r.getAs[Double]("w")))).toMap
    val a12 = 1.5 * (8.0 / 11.0) - 0.5
    val a23 = 1.5 * 0.25 - 0.5
    assert(math.abs(got(1)._1 - (1 + a12)) < 1e-9)
    assert(math.abs(got(2)._1 - (1 + a12 + a23)) < 1e-9)
    assert(math.abs(got(3)._1 - (1 + a23)) < 1e-9)
    // annotation-partitioned: own value + adj-weighted neighbors'
    assert(math.abs(got(1)._2 - (10 + a12 * 20)) < 1e-9)
    assert(math.abs(got(2)._2 - (20 + a12 * 10 + a23 * 30)) < 1e-9)
    assert(math.abs(got(3)._2 - (30 + a23 * 20)) < 1e-9)
  }

  test("ldScoreRegression recovers exact linear chi-sq relationships") {
    import org.apache.spark.sql.functions.{col => c}
    // y = 1 + 0.2x exactly: any weighting recovers intercept 1 and
    // slope 0.2; jackknife pseudo-values all agree -> zero variance.
    // Second phenotype is pure null (y = 1): slope 0, h2 0.
    val rows = (1 to 100).flatMap { i =>
      val x = 1.0 + (i % 10)
      Seq(("p1", i, x, 1.0 + 0.2 * x, 100.0, x),
        ("p0", i, x, 1.0, 100.0, x))
    }
    val df = spark.createDataFrame(rows)
      .toDF("pheno", "v", "x", "chisq", "n", "w")
    val out = methods.LdScoreRegression.ldScoreRegression(
      df, Seq("v"), "pheno", "chisq", "n", "w", "x",
      nBlocks = 5, twoStepThreshold = 1e9).collect()
      .map(r => r.getString(0) -> r).toMap
    val p1 = out("p1")
    assert(math.abs(p1.getDouble(2) - 1.0) < 1e-9) // intercept
    assert(p1.getDouble(3) < 1e-6)                  // intercept se
    assert(math.abs(p1.getDouble(4) - 0.2) < 1e-9)  // h2 = (M/n)*slope
    assert(p1.getDouble(5) < 1e-6)
    val meanX = (1 to 100).map(i => 1.0 + (i % 10)).sum / 100
    assert(math.abs(p1.getDouble(1) - (1.0 + 0.2 * meanX)) < 1e-12)
    val p0 = out("p0")
    assert(math.abs(p0.getDouble(2) - 1.0) < 1e-9)
    assert(math.abs(p0.getDouble(4) - 0.0) < 1e-12)
    // h2 clamps to [0, 1]: a steep exact slope saturates at 1
    val steep = (1 to 100).map { i =>
      val x = 1.0 + (i % 10)
      ("ps", i, x, 1.0 + 3.0 * x, 100.0, x)
    }
    val sOut = methods.LdScoreRegression.ldScoreRegression(
      spark.createDataFrame(steep).toDF("pheno", "v", "x", "chisq", "n",
        "w"),
      Seq("v"), "pheno", "chisq", "n", "w", "x",
      nBlocks = 5, twoStepThreshold = 1e9).collect().head
    assert(math.abs(sOut.getDouble(4) - 1.0) < 1e-9)
  }

  test("rrm matches hand-computed variance-normalized Gramian") {
    val mt = fixtureMt()
    // recompute locally: dose rows, mean-center, variance-normalize
    val doses = mt.entriesTable.df
      .filter(col("GT").isNotNull)
      .select(col("position"), col("s"),
        graft.functions.Calls.nNonRefAlleles(col("GT")).cast("double"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    val sampleIds = Seq("SA", "SB", "SC")
    val positions = Seq(100, 200, 300, 400)
    val local = positions.flatMap { p =>
      val ds = sampleIds.map(s => doses.get((p, s)))
      val called = ds.flatten
      val ac = called.sum
      val len = math.sqrt(called.map(d => d * d).sum -
        ac * ac / called.length)
      if (len <= 0.1) None
      else Some(ds.map(_.map(d => (d - ac / called.length) / len)
        .getOrElse(0.0)))
    }
    val m = local.length
    val got = methods.Pca.rrm(mt).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (i <- 0 until 3; j <- i until 3) {
      val exp = local.map(row => row(i) * row(j)).sum * 3.0 / m
      assert(math.abs(got((i, j)) - exp) < 1e-12, s"($i,$j)")
    }
  }

  test("ldPrune matches a local greedy prune on one partition") {
    val mt = fixtureMt()
    // force one partition so the local streaming prune is the exact greedy
    val one = mt.copy(rows = mt.rows.coalesce(1))
    val kept = methods.Ld.ldPrune(one, r2Threshold = 0.5, window = 1000000)
      .df.select("position").collect().map(_.getInt(0)).toSet
    // local reference: normalized dosage vectors in (contig,pos) order
    val doses = mt.entriesTable.df.filter(col("GT").isNotNull)
      .select(col("position"), col("s"),
        graft.functions.Calls.nNonRefAlleles(col("GT")).cast("double"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    val samples = Seq("SA", "SB", "SC")
    def norm(p: Int): Option[Array[Double]] = {
      val ds = samples.map(s => doses.get((p, s)))
      val called = ds.flatten
      val ac = called.sum
      val len = math.sqrt(called.map(d => d * d).sum -
        ac * ac / called.length)
      if (len <= 1e-6) None
      else Some(ds.map(_.map(d => (d - ac / called.length) / len)
        .getOrElse(0.0)).toArray)
    }
    val expected = scala.collection.mutable.Set[Int]()
    val keptNorms = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    for (p <- Seq(100, 200, 300, 400); n <- norm(p)) {
      val prune = keptNorms.exists { o =>
        val dot = n.zip(o).map(t => t._1 * t._2).sum
        dot * dot > 0.5
      }
      if (!prune) { expected += p; keptNorms += n }
    }
    assert(kept === expected.toSet)
  }

  test("generic pca on a raw entry expression matches Breeze") {
    val mt = fixtureMt()
    val raw = mt.rows
      .select(org.apache.spark.sql.functions.transform(mt.entries, e =>
        coalesce(graft.functions.Calls.nNonRefAlleles(e("GT"))
          .cast("double"), lit(0.0))).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val bm = breeze.linalg.DenseMatrix(raw.toIndexedSeq: _*)
    val breezeSvd = breeze.linalg.svd.reduced(bm)
    val res = methods.Pca.pca(mt,
      e => coalesce(graft.functions.Calls.nNonRefAlleles(e("GT"))
        .cast("double"), lit(0.0)), k = 3)
    val expected = breezeSvd.S.toArray.map(x => x * x)
      .sorted.reverse.take(3)
    res.eigenvalues.zip(expected).foreach { case (got, exp) =>
      assert(math.abs(got - exp) < 1e-6, s"$got vs $exp")
    }
    val scores = res.scores.orderBy("s").collect()
      .map(_.getSeq[Double](1).toArray)
    val expScores = (0 until mt.nCols).map(j =>
      (0 until 3).map(i => breezeSvd.Vt(i, j) * breezeSvd.S(i)).toArray)
    scores.zip(expScores).foreach { case (got, exp) =>
      got.zip(exp).foreach { case (g, e) =>
        assert(math.abs(math.abs(g) - math.abs(e)) < 1e-6) }
    }
  }

  test("lambdaGc recovers known inflation factors") {
    import org.apache.spark.sql.functions._
    // symmetric uniform p grid: median p = 0.5 → chi² median = null
    // median → λ = 1 exactly
    val uniform = spark.range(1, 100)
      .select((col("id").cast("double") / 100.0).as("p"))
    val l1 = methods.Genetics.lambdaGc(uniform, col("p"),
      approximate = false)
    assert(math.abs(l1 - 1.0) < 1e-9, s"λ=$l1")
    // constant p = 0.25: λ = qchisqtail(0.25,1)/qchisqtail(0.5,1)
    // = 1.3233036969314664 / 0.45493642311957283 (R: qchisq(.75,1)/qchisq(.5,1))
    val const = spark.range(50).select(lit(0.25).as("p"))
    val l2 = methods.Genetics.lambdaGc(const, col("p"),
      approximate = false)
    assert(math.abs(l2 - 1.3233036969314664 / 0.45493642311957283) < 1e-9,
      s"λ=$l2")
    // the approximate (sketch) path agrees on the uniform grid
    val la = methods.Genetics.lambdaGc(uniform, col("p"))
    assert(math.abs(la - 1.0) < 0.05, s"approx λ=$la")
    // NaNs are excluded, not propagated
    val withNan = uniform.union(
      spark.range(5).select(lit(Double.NaN).as("p")))
    assert(math.abs(methods.Genetics.lambdaGc(withNan, col("p"),
      approximate = false) - 1.0) < 1e-9)
  }

  test("trioMatrix reshapes samples into trio-indexed entries") {
    val mt = fixtureMt()
    val tm = methods.Trios.trioMatrix(mt,
      Seq(("SA", "SB", "SC", true)))
    assert(tm.nCols === 1)
    assert(tm.colValues.head.getString(1) === "SB")
    val e100 = tm.rows.filter(col("position") === 100)
      .select(element_at(col("entries"), 1)).head().getStruct(0)
    // proband SA 0/0, father SB 0/1, mother SC 1/1 at chr1:100
    import graft.functions.Calls
    val gts = tm.entriesTable.df.filter(col("position") === 100)
      .select(
        Calls.nNonRefAlleles(col("proband_entry")("GT")),
        Calls.nNonRefAlleles(col("father_entry")("GT")),
        Calls.nNonRefAlleles(col("mother_entry")("GT"))).head()
    assert((gts.getInt(0), gts.getInt(1), gts.getInt(2)) === ((0, 1, 2)))
  }

  test("VDS toDenseMt fills missing cells from covering ref blocks") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val es = StructType(Seq(StructField("GT", IntegerType),
      StructField("DP", IntegerType)))
    def mtOf(rows: Seq[Row], entrySchema: StructType): MatrixTable =
      MatrixTable(
        spark.createDataFrame(spark.sparkContext.parallelize(rows),
          StructType(Seq(
            StructField("contig", StringType),
            StructField("position", IntegerType),
            StructField("entries", ArrayType(entrySchema))))),
        Seq("contig", "position"),
        IndexedSeq(Row("X1"), Row("X2")),
        StructType(Seq(StructField("s", StringType))), Seq("s"))
    // variant data: v@100 has X1 called het, X2 missing; v@500 both missing
    val variant = mtOf(Seq(
      Row("chr1", 100, Seq(Row(1 << 16, 30), null)),
      Row("chr1", 500, Seq(null, null))), es)
    // ref blocks: X2 covered 50..199 (DP 7); X1 covered 400..600 (DP 9)
    val refEs = StructType(Seq(StructField("END", IntegerType),
      StructField("DP", IntegerType)))
    val reference = mtOf(Seq(
      Row("chr1", 50, Seq(null, Row(199, 7))),
      Row("chr1", 400, Seq(Row(600, 9), null))), refEs)
    val dense = methods.VariantDataset(reference, variant).toDenseMt()
    val cells = dense.entriesTable.df
      .select(col("position"), col("s"), col("GT"), col("DP"))
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3)))).toMap
    assert(cells((100, "X1")) === ((1 << 16, -1))) // variant entry wins
    assert(cells((100, "X2")) === ((0, 7)))  // filled hom-ref from block
    assert(cells((500, "X1")) === ((0, 9)))
    assert(!cells.contains((500, "X2")))     // no covering block -> missing
  }

  test("filterAlleles builds index maps and min-reps the new key") {
    val vcf =
      """##fileformat=VCFv4.2
        |##FORMAT=<ID=GT,Number=1,Type=String,Description="G">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	X
        |chr1	100	.	T	G,TT	.	PASS	.	GT	1/2
        |chr1	200	.	A	AT	.	PASS	.	GT	0/1
        |chr1	300	.	TCA	TGA,TCT	.	PASS	.	GT	1/2
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft_fa")
    val f = dir.resolve("fa.vcf")
    java.nio.file.Files.writeString(f, vcf)
    val mt = Vcf.read(spark, f.toString)
    // keep alleles that keep their first base equal to ref's first base?
    // no — keep SNPs, like the reference's canonical example
    val out = FilterAlleles(mt,
      (a, _) => graft.functions.Alleles.isSnp(col("ref"), a))
    val rows = out.rows.orderBy("old_position").collect()
    // 100: G kept (SNP), TT dropped; 200: no SNP -> row gone;
    // 300: TGA kept (hamming-1 same length = SNP by hail), TCT kept too
    assert(rows.length === 2)
    val r100 = rows(0)
    assert(r100.getAs[Int]("position") === 100 &&
      r100.getAs[String]("ref") === "T" &&
      r100.getAs[Seq[String]]("alt") === Seq("G"))
    assert(r100.getAs[Seq[Int]]("new_to_old") === Seq(0, 1))
    assert(r100.getAs[Seq[Any]]("old_to_new") === Seq(0, 1, null))
    // 300: both alts kept, shared suffix/prefix trims under min_rep?
    // TCA->[TGA,TCT]: no common suffix (A,T) and common prefix T trims
    // one base -> position 301, ref CA, alts [GA, CT]
    val r300 = rows(1)
    assert(r300.getAs[Int]("old_position") === 300)
    assert(r300.getAs[Int]("position") === 301 &&
      r300.getAs[String]("ref") === "CA" &&
      r300.getAs[Seq[String]]("alt") === Seq("GA", "CT"))
    assert(r300.getAs[String]("old_ref") === "TCA")
  }

  test("filterAllelesHts matches the reference downcode/subset algebra") {
    // the reference docstring's worked genotype: alleles [A,G,T],
    // GT 1/2, AD [0,50,35], DP 85, GQ 10, PL [1000,1000,10,1000,0,20];
    // filter allele 1 (keep allele 2 only)
    val vcf =
      """##fileformat=VCFv4.2
        |##FORMAT=<ID=GT,Number=1,Type=String,Description="G">
        |##FORMAT=<ID=AD,Number=R,Type=Integer,Description="AD">
        |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="DP">
        |##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="GQ">
        |##FORMAT=<ID=PL,Number=G,Type=Integer,Description="PL">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	X	Y
        |chr1	100	.	A	G,T	.	PASS	.	GT:AD:DP:GQ:PL	1/2:0,50,35:85:10:1000,1000,10,1000,0,20	./.:.:12:.:.
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft_fah")
    val f = dir.resolve("fah.vcf")
    java.nio.file.Files.writeString(f, vcf)
    val mt = Vcf.read(spark, f.toString)
    val keep2 = (a: org.apache.spark.sql.Column,
        i: org.apache.spark.sql.Column) => i === 2
    def entryOf(m: MatrixTable, s: String) = m.entriesTable.df
      .filter(col("s") === s).collect().head
    val down = entryOf(FilterAlleles.hts(mt, keep2, subset = false), "X")
    // downcode: GT 0/1, AD [50,35], PL [10,0,20], GQ 10
    val dGt = down.getAs[Int]("GT")
    assert((dGt >> 1 & 0x7fff, dGt >> 16 & 0x7fff) === ((0, 1)))
    assert(down.getAs[Seq[Int]]("AD") === Seq(50, 35))
    assert(down.getAs[Seq[Int]]("PL") === Seq(10, 0, 20))
    assert(down.getAs[Int]("GQ") === 10)
    assert(down.getAs[Int]("DP") === 85)
    val sub = entryOf(FilterAlleles.hts(mt, keep2, subset = true), "X")
    // subset: PL [980,980,0] -> GT 1/1, AD [0,35], GQ 980
    val sGt = sub.getAs[Int]("GT")
    assert((sGt >> 1 & 0x7fff, sGt >> 16 & 0x7fff) === ((1, 1)))
    assert(sub.getAs[Seq[Int]]("AD") === Seq(0, 35))
    assert(sub.getAs[Seq[Int]]("PL") === Seq(980, 980, 0))
    assert(sub.getAs[Int]("GQ") === 980)
    // missing-GT sample passes nulls through, DP survives
    val miss = entryOf(FilterAlleles.hts(mt, keep2, subset = false), "Y")
    assert(miss.isNullAt(miss.fieldIndex("GT")) &&
      miss.isNullAt(miss.fieldIndex("PL")) &&
      miss.isNullAt(miss.fieldIndex("GQ")) &&
      miss.getAs[Int]("DP") === 12)
  }

  test("splitMulti splits rows, downcodes GT, min-reps alleles") {
    val split = SplitMulti(fixtureMt())
    val rows = split.rows.orderBy("position", "a_index").collect()
    assert(rows.length === 5) // 4 variants, one with 2 alts
    val v200 = rows.filter(_.getAs[Int]("position") == 200)
    assert(v200.length === 2)
    assert(v200.forall(_.getAs[Boolean]("was_split")))
    assert(v200.map(_.getAs[Int]("a_index")).toSeq === Seq(1, 2))
    assert(v200(0).getAs[Seq[String]]("alt") === Seq("A"))
    assert(v200(1).getAs[Seq[String]]("alt") === Seq("T"))
    // SA had 1/2: downcode -> (1,0) for a_index=1, (0,1) for a_index=2
    val ents = split.entriesTable.df
      .filter(col("position") === 200 && col("s") === "SA")
      .orderBy("a_index")
      .select(Calls.allele1(col("GT")), Calls.allele2(col("GT")))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(ents.toSeq === Seq((1, 0), (0, 1)))
    // min_rep: AT->A deletion stays; insertion G->GTT stays; biallelic rows
    // unsplit
    val v300 = rows.filter(_.getAs[Int]("position") == 300).head
    assert(!v300.getAs[Boolean]("was_split"))
    assert(v300.getAs[String]("ref") === "AT")
    // min_rep trims shared prefix/suffix and shifts position
    val mr = spark.range(1).select(
      graft.functions.Alleles.minRep(lit(500), lit("CAG"), lit("CTG")).as("m"))
      .head().getStruct(0)
    assert(mr.getInt(0) === 501 && mr.getString(1) === "A" &&
      mr.getString(2) === "T")
  }

  test("splitMulti recodes PL by genotype-class minima and re-derives GQ") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // one triallelic site (ref A, alts T,C), sample GT 1/2 with
    // PL [50,40,30,20,10,0] over 0/0,0/1,1/1,0/2,1/2,2/2
    val entrySchema = ArrayType(StructType(Seq(
      StructField("GT", IntegerType),
      StructField("PL", ArrayType(IntegerType)),
      StructField("GQ", IntegerType))))
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(
        "1", 100, "A", Seq("T", "C"),
        Seq(Row((2 << 16) | (1 << 1), Seq(50, 40, 30, 20, 10, 0),
          99))))),
      StructType(Seq(
        StructField("contig", StringType),
        StructField("position", IntegerType),
        StructField("ref", StringType),
        StructField("alt", ArrayType(StringType)),
        StructField("entries", entrySchema))))
    val mt = MatrixTable(rows, Seq("contig", "position", "ref", "alt"),
      IndexedSeq(Row("S1")),
      StructType(Seq(StructField("s", StringType))), Seq("s"))
    val got = SplitMulti(mt).entriesTable.df
      .orderBy("a_index")
      .select(col("a_index"), col("PL"), col("GQ"))
      .collect().map(r =>
        (r.getInt(0), r.getSeq[Int](1), r.getInt(2)))
    // allele T: classes {0:idx 0,3,5 -> min 0; 1:idx 1,4 -> 10; 2:idx 2}
    assert(got(0) === ((1, Seq(0, 10, 30), 10)))
    // allele C: classes {0:idx 0,1,2 -> 30; 1:idx 3,4 -> 10; 2:idx 5}
    assert(got(1) === ((2, Seq(30, 10, 0), 10)))
  }

  test("segmentIntervals reproduces the reference's documented case") {
    // reference test_misc.py:246 — intervals [0,10) [20,50) [52,52),
    // points [-1,5,30,40,52,53]
    import graft.functions.Intervals
    val ivs = spark.createDataFrame(Seq(
      (0, 10), (20, 50), (52, 52))).toDF("s", "e")
      .select(Intervals.interval(col("s"), col("e")).as("interval"))
    val got = methods.Misc.segmentIntervals(
      Table(ivs), points = Seq(-1, 5, 30, 40, 52, 53))
      .df.select(col("interval")("start"), col("interval")("end"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got === Seq(
      (0, 5), (5, 10), (20, 30), (30, 40), (40, 50), (52, 52)))
  }

  test("renameDuplicates mirrors deduplicate: taken suffixes are skipped") {
    // reference deduplicate(['a','a_1','a']) == ['a','a_1','a_2']
    import org.apache.spark.sql.Row
    val base = spark.createDataFrame(Seq((1L, 1, 1.0))).toDF("r", "c", "v")
    val mt = MatrixTable.fromCoordinates(
      base, Seq("r"), col("c") - 1,
      entryFields = Seq("v" -> col("v")),
      colValues = IndexedSeq(Row("a"), Row("a_1"), Row("a")),
      colSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType))),
      colKey = Seq("s"))
    val got = mt.renameDuplicates().colValues.map(_.getString(1))
    assert(got === Seq("a", "a_1", "a_2"))
  }

  test("simulateRandomMating: sizes, pedigree, and allele transmission") {
    import graft.methods.MatingSimulation
    import org.apache.spark.sql.Row
    val mt = Vcf.read(spark,
      Fixtures.path("oracle_sample.vcf"))
    val sim = MatingSimulation.simulateRandomMating(mt, nRounds = 2,
      generationSizeMultiplier = 1.0, keepFounders = true, seed = 5L)
    // 5 founders -> +5 -> +10: 20 samples, founders keep original ids
    assert(sim.nCols === 20)
    assert(sim.colValues.take(5).map(_.getString(1)) ===
      (1 to 5).map(i => s"S$i"))
    val peds = sim.colValues.drop(5)
    assert(peds.forall(r => !r.isNullAt(2) && !r.isNullAt(3)))
    // law: every offspring allele is one of its parent's two alleles at
    // every variant (checked distributed, null-safe)
    val entries = sim.rows.select(
      col(MatrixTable.EntriesField).as("es")).collect()
    val pedIdx = sim.colValues.map(r =>
      (r.getAs[Integer](2), r.getAs[Integer](3)))
    entries.foreach { row =>
      val calls = row.getSeq[Row](0).map(e =>
        if (e == null || e.isNullAt(0)) null
        else Integer.valueOf(e.getInt(0)))
      // Calls packing: a1 = (c >> 1) & 0x7fff, a2 = (c >> 16) & 0x7fff
      def a1of(c: Int): Int = (c >> 1) & 0x7fff
      def a2of(c: Int): Int = (c >> 16) & 0x7fff
      def alleles(c: Integer): Set[Int] =
        if (c == null) Set.empty
        else Set(a1of(c), a2of(c))
      pedIdx.zipWithIndex.drop(5).foreach { case ((m, f), i) =>
        val c = calls(i)
        if (c != null && calls(m) != null && calls(f) != null) {
          val (a1, a2) = (a1of(c), a2of(c))
          assert(alleles(calls(m)).contains(a1) &&
            alleles(calls(f)).contains(a2),
            s"offspring $i alleles ($a1,$a2) not from parents at $row")
        }
      }
    }
    // determinism: a second run is identical
    val sim2 = MatingSimulation.simulateRandomMating(mt, nRounds = 2,
      generationSizeMultiplier = 1.0, keepFounders = true, seed = 5L)
    assert(sim2.rows.select(col(MatrixTable.EntriesField).as("es"))
      .collect().toSeq === entries.toSeq)
  }
}
