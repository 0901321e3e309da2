package graft

import org.apache.spark.sql.functions._
import graft.functions.{Calls, Loci, Rand, ReferenceGenome, StatTests}
import graft.operators.Aggs

class FunctionsSpec extends SparkSpec {

  test("Calls: pack/unpack roundtrip and predicates") {
    val df = spark.createDataFrame(Seq((0, 0), (0, 1), (1, 1), (2, 1)))
      .toDF("a1", "a2")
      .withColumn("call", Calls.diploid(col("a1"), col("a2")))
    val got = df.select(
      Calls.allele1(col("call")), Calls.allele2(col("call")),
      Calls.isHomRef(col("call")), Calls.isHet(col("call")),
      Calls.isHomVar(col("call")), Calls.nNonRefAlleles(col("call")),
      Calls.unphasedDiploidGtIndex(col("call"))).collect()
    assert(got(0).toSeq === Seq(0, 0, true, false, false, 0, 0))
    assert(got(1).toSeq === Seq(0, 1, false, true, false, 1, 1))
    assert(got(2).toSeq === Seq(1, 1, false, false, true, 2, 2))
    assert(got(3).toSeq === Seq(2, 1, false, true, false, 2, 4))
  }

  test("Calls: haploid ploidy and one-hot") {
    val df = spark.range(1).select(
      Calls.haploid(lit(1)).as("h"),
      Calls.diploid(lit(0), lit(2)).as("d"))
    val r = df.select(
      Calls.ploidy(col("h")), Calls.nNonRefAlleles(col("h")),
      Calls.oneHotAlleles(col("d"), 3)).head()
    assert(r.getInt(0) === 1)
    assert(r.getInt(1) === 1)
    assert(r.getSeq[Int](2) === Seq(1, 0, 1))
  }

  test("Calls: plToGp normalizes and gqFromPl picks second smallest") {
    val df = spark.createDataFrame(Seq(Tuple1(Seq(0, 10, 100))))
      .toDF("pl")
    val r = df.select(Calls.plToGp(col("pl")), Calls.gqFromPl(col("pl")))
      .head()
    val gp = r.getSeq[Double](0)
    assert(math.abs(gp.sum - 1.0) < 1e-12)
    assert(gp(0) > 0.9)
    assert(r.getInt(1) === 10)
  }

  test("Loci: global position roundtrip on GRCh38") {
    implicit val rg: ReferenceGenome = ReferenceGenome.GRCh38
    val df = spark.createDataFrame(Seq(
      ("chr1", 1), ("chr2", 100), ("chrX", 5000)))
      .toDF("c", "p")
      .withColumn("l", Loci.locus(col("c"), col("p")))
      .withColumn("g", Loci.toGlobalPos(col("l")))
      .withColumn("back", Loci.fromGlobalPos(col("g")))
    val got = df.select(col("g"), col("back")("contig"),
      col("back")("position")).collect()
    assert(got(0).getLong(0) === 0L)
    assert(got(1).getLong(0) === 248956422L + 99L)
    got.zip(Seq(("chr1", 1), ("chr2", 100), ("chrX", 5000))).foreach {
      case (r, (c, p)) =>
        assert(r.getString(1) === c && r.getInt(2) === p)
    }
  }

  test("Loci: PAR and contig classification") {
    implicit val rg: ReferenceGenome = ReferenceGenome.GRCh38
    val df = spark.createDataFrame(Seq(
      ("chrX", 20000), ("chrX", 5000000), ("chr5", 100), ("chrM", 7)))
      .toDF("c", "p").withColumn("l", Loci.locus(col("c"), col("p")))
    val got = df.select(Loci.inXPar(col("l")), Loci.inXNonPar(col("l")),
      Loci.isAutosomal(col("l")), Loci.isMitochondrial(col("l"))).collect()
    assert(got(0).toSeq === Seq(true, false, false, false))
    assert(got(1).toSeq === Seq(false, true, false, false))
    assert(got(2).toSeq === Seq(false, false, true, false))
    assert(got(3).toSeq === Seq(false, false, false, true))
  }

  test("Loci: allele classification and minRep") {
    val df = spark.createDataFrame(Seq(
      ("A", "G"), ("A", "T"), ("C", "CTT"), ("CTT", "C")))
      .toDF("ref", "alt")
    val types = df.select(Loci.alleleType(col("ref"), col("alt")))
      .collect().map(_.getString(0))
    assert(types.toSeq === Seq("transition", "transversion", "insertion",
      "deletion"))
    val mr = spark.createDataFrame(Seq((100, "CAA", "CA")))
      .toDF("pos", "ref", "alt")
      .select(Loci.minRep(col("pos"), col("ref"), col("alt"))).head()
      .getStruct(0)
    // CAA->CA trims shared suffix 'A' then no prefix beyond first char:
    // minimal rep is pos=100, CA->C
    assert(mr.getInt(0) === 100)
    assert(mr.getString(1) === "CA")
    assert(mr.getString(2) === "C")
  }

  test("Rand: deterministic under repartitioning, uniform-ish") {
    val a = spark.range(0, 1000, 1, 3)
      .select(col("id"), Rand.runif(42L, col("id")).as("u"))
    val b = spark.range(0, 1000, 1, 13)
      .select(col("id"), Rand.runif(42L, col("id")).as("u"))
    val ma = a.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mb = b.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ma === mb) // partitioning-independent
    val mean = ma.values.sum / ma.size
    assert(math.abs(mean - 0.5) < 0.03)
    assert(ma.values.forall(u => u >= 0.0 && u < 1.0))
    // different seed -> different stream
    val c = spark.range(0, 1000, 1, 3)
      .select(Rand.runif(43L, col("id")).as("u")).collect()
      .map(_.getDouble(0))
    assert(c.toSeq !== ma.toSeq.sortBy(_._1).map(_._2))
  }

  test("Rand: rnorm has ~N(0,1) moments; rpois has ~mean lambda") {
    val z = spark.range(0, 4000)
      .select(Rand.rnorm(1L, col("id")).as("z")).collect()
      .map(_.getDouble(0))
    val mean = z.sum / z.length
    val sd = math.sqrt(z.map(x => (x - mean) * (x - mean)).sum / z.length)
    assert(math.abs(mean) < 0.05, s"mean $mean")
    assert(math.abs(sd - 1.0) < 0.05, s"sd $sd")
    val p = spark.range(0, 4000)
      .select(Rand.rpois(2L, 4.0, col("id")).as("p")).collect()
      .map(_.getInt(0))
    val pmean = p.sum.toDouble / p.length
    assert(math.abs(pmean - 4.0) < 0.2, s"pois mean $pmean")
  }

  test("StatTests: chi-squared tail and HWE against known values") {
    // chisq(1) upper tail at 3.841 ~ 0.05
    val r = spark.range(1).select(
      StatTests.chiSqTail(lit(3.841459), lit(1.0))).head().getDouble(0)
    assert(math.abs(r - 0.05) < 1e-4)
    // perfect HWE: p=0.5, n=400: 100/200/100
    val hwe = spark.range(1).select(StatTests.hardyWeinbergTest(
      lit(100L), lit(200L), lit(100L))).head().getStruct(0)
    assert(math.abs(hwe.getDouble(0) - 0.5) < 1e-12) // het freq
    assert(hwe.getDouble(1) < 1e-12)                 // stat ~ 0
    assert(hwe.getDouble(2) > 0.999)                 // p ~ 1
  }

  test("StatTests: contingencyTableTest matches hail's documented values") {
    // reference functions.py:786 doc: (51,43,22,92) above min ->
    // chi-sq p 1.4626e-07, OR 4.95983; below min -> fisher
    // p 2.1565e-07, conditional-MLE OR 4.91806
    val df = spark.range(1)
    val chi = df.select(StatTests.contingencyTableTest(
      lit(51), lit(43), lit(22), lit(92), 22)).head().getStruct(0)
    assert(math.abs(chi.getDouble(0) - 1.4626257805267089e-7) < 1e-12)
    assert(math.abs(chi.getDouble(1) - 4.959830866807611) < 1e-9)
    val fe = df.select(StatTests.contingencyTableTest(
      lit(51), lit(43), lit(22), lit(92), 23)).head().getStruct(0)
    assert(math.abs(fe.getDouble(0) - 2.1564999740157304e-7) < 1e-10)
    // R's fisher.test (whose value hail documents) finds the MLE with
    // uniroot at tol ~1.2e-4; our bisection is tighter — compare at
    // the reference's own tolerance
    assert(math.abs(fe.getDouble(1) - 4.918058171469967) < 5e-4)
  }

  test("Alleles: reverseComplement dna and rna") {
    import graft.functions.Alleles
    val r = spark.range(1).select(
      Alleles.reverseComplement(lit("GATTaca x")),
      Alleles.reverseComplement(lit("GAUUaca"), rna = true)).head()
    assert(r.getString(0) === "x tgtAATC")
    assert(r.getString(1) === "uguAAUC")
  }

  test("StatTests: fisher exact matches R value for (3,1,1,3)") {
    val p = spark.range(1).select(
      StatTests.fisherExact(lit(3), lit(1), lit(1), lit(3)))
      .head().getDouble(0)
    // R: fisher.test(matrix(c(3,1,1,3),2,2))$p.value = 0.4857...
    assert(math.abs(p - 0.4857142857) < 1e-9)
  }

  test("Aggs: callStats counts alleles correctly") {
    val df = spark.createDataFrame(Seq((0, 0), (0, 1), (1, 1), (0, 0)))
      .toDF("a1", "a2")
      .select(Calls.diploid(col("a1"), col("a2")).as("c"))
    val r = df.agg(Aggs.callStats(col("c"), 2).as("cs"))
      .select(col("cs")("AC"), col("cs")("AN"),
        col("cs")("homozygote_count")).head()
    assert(r.getSeq[Long](0) === Seq(5L, 3L))
    assert(r.getLong(1) === 8L)
    assert(r.getSeq[Long](2) === Seq(2L, 1L))
  }

  test("Aggs: linreg recovers exact coefficients on noise-free data") {
    // y = 3 + 2*x1 - 0.5*x2
    val rows = (1 to 200).map { i =>
      val x1 = i.toDouble; val x2 = (i % 7).toDouble
      (3.0 + 2.0 * x1 - 0.5 * x2, Seq(1.0, x1, x2))
    }
    val df = spark.createDataFrame(rows).toDF("y", "x")
    val beta = df.agg(Aggs.linreg(col("y"), col("x"), 3).as("r"))
      .select(col("r")("beta")).head().getSeq[Double](0)
    assert(math.abs(beta(0) - 3.0) < 1e-8)
    assert(math.abs(beta(1) - 2.0) < 1e-10)
    assert(math.abs(beta(2) + 0.5) < 1e-8)
  }

  test("Aggs: product, imputeType, hist, sample") {
    val df = spark.createDataFrame(Seq(1.5, 2.0, 4.0).map(Tuple1(_)))
      .toDF("v")
    assert(df.agg(Aggs.product(col("v"))).head().getDouble(0) === 12.0)

    val types = spark.createDataFrame(
      Seq("1", "2", "-5").map(Tuple1(_))).toDF("s")
      .agg(Aggs.imputeType(col("s"))("inferred")).head().getString(0)
    assert(types === "int64")

    val h = spark.range(0, 100).select(col("id").cast("double").as("v"))
      .agg(Aggs.hist(col("v"), 0.0, 100.0, 4).as("h"))
      .select(col("h")("bin_freq")).head().getSeq[Long](0)
    assert(h === Seq(25L, 25L, 25L, 25L))

    val s1 = spark.range(0, 1000, 1, 4)
      .select(col("id").cast("string").as("s"))
      .agg(Aggs.sample(col("s"), 10)).head().getSeq[String](0)
    val s2 = spark.range(0, 1000, 1, 9)
      .select(col("id").cast("string").as("s"))
      .agg(Aggs.sample(col("s"), 10)).head().getSeq[String](0)
    assert(s1 === s2)  // deterministic under partitioning
    assert(s1.size === 10)
  }

  test("Aggs: every Aggregator keeps its encoders across serialization") {
    import org.apache.spark.sql.Encoders
    val ser = new org.apache.spark.serializer.JavaSerializer(
      spark.sparkContext.getConf).newInstance()
    val aggs = Seq(Aggs.productAgg, Aggs.callStatsAgg(2), Aggs.linregAgg(2),
      Aggs.sampleAgg(3, 1L), Aggs.downsampleAgg(2), Aggs.takeByAgg(2, true),
      Aggs.foldAgg[Double](0.0, _ + _, _ + _)(Encoders.scalaDouble),
      Aggs.approxCdfAgg(8), Aggs.imputeTypeAgg, Aggs.histAgg(0.0, 1.0, 2),
      Aggs.ndarraySumAgg, Aggs.misraGriesAgg(2))
    for (a <- aggs) {
      // a task holds a deserialized copy; Spark resolves its encoders
      // there, once per copy
      val copy = ser.deserialize[org.apache.spark.sql.expressions
        .Aggregator[_, _, _]](ser.serialize(a), getClass.getClassLoader)
      assert(copy.outputEncoder eq copy.outputEncoder, a.getClass)
      assert(copy.bufferEncoder eq copy.bufferEncoder, a.getClass)
    }
  }

  test("Util: triangle, format, valuesSimilar") {
    import graft.functions.Util
    val r = spark.range(1).select(
      Util.triangle(lit(6L)).as("t"),
      Util.format(lit("%s=%d"), lit("x"), lit(7)).as("f"),
      Util.valuesSimilar(lit(1.0), lit(1.0 + 1e-9)).as("close"),
      Util.valuesSimilar(lit(1.0), lit(1.5)).as("far"),
      Util.valuesSimilar(lit(null).cast("double"),
        lit(null).cast("double")).as("nulls"),
      Util.valuesSimilar(lit(Double.NaN), lit(Double.NaN)).as("nans"))
      .head()
    assert(r.getLong(0) === 21L)
    assert(r.getString(1) === "x=7")
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getBoolean(4) && r.getBoolean(5))
  }

  test("Sets.lowerBound: first index >= v in a sorted array") {
    import graft.functions.Sets
    val df = spark.range(1).select(
      Sets.lowerBound(array(lit(2), lit(4), lit(4), lit(9)), lit(4)),
      Sets.lowerBound(array(lit(2), lit(4), lit(4), lit(9)), lit(1)),
      Sets.lowerBound(array(lit(2), lit(4), lit(4), lit(9)), lit(10)))
    assert(df.head().toSeq === Seq(1, 0, 4))
  }

  test("Dicts.groupByKey groups duplicate keys positionally") {
    import graft.functions.Dicts
    val entries = array(
      struct(lit("a").as("key"), lit(1).as("value")),
      struct(lit("b").as("key"), lit(2).as("value")),
      struct(lit("a").as("key"), lit(3).as("value")))
    val r = spark.range(1)
      .select(Dicts.groupByKey(entries).as("m"))
      .select(element_at(col("m"), "a"), element_at(col("m"), "b"))
      .head()
    assert(r.getSeq[Int](0) === Seq(1, 3))
    assert(r.getSeq[Int](1) === Seq(2))
  }

  test("GenotypeFolds.callStats: diploid, haploid, null, out-of-range") {
    import graft.functions.{Calls, GenotypeFolds}
    def e(gt: org.apache.spark.sql.Column) = struct(gt.as("GT"))
    val entries = array(
      e(Calls.diploid(lit(0), lit(1))), // het: ac0+1, ac1+1
      e(Calls.diploid(lit(1), lit(1))), // hom alt: ac1+2, hom1+1
      e(Calls.haploid(lit(0))),         // haploid ref: ac0+1 only
      e(Calls.haploid(lit(1))),         // haploid alt: ac1+1, no hom
      e(lit(null).cast("int")),         // null GT: skipped
      e(Calls.diploid(lit(5), lit(5)))) // out-of-range: called only
    val got = spark.range(1)
      .select(GenotypeFolds.callStats(entries, lit(2)).as("cs"))
      .select(col("cs")("called"), col("cs")("ac"), col("cs")("hom"))
      .head()
    assert(got.getLong(0) === 5L) // 6 entries, 1 null GT
    assert(got.getSeq[Long](1) === Seq(2L, 4L)) // ac
    assert(got.getSeq[Long](2) === Seq(0L, 1L)) // hom
    // null entries array → null; empty array → zeros
    val nulls = spark.range(1).select(
      GenotypeFolds.callStats(lit(null).cast(
        "array<struct<GT:int>>"), lit(2)).as("a"),
      GenotypeFolds.callStats(
        array().cast("array<struct<GT:int>>"), lit(2)).as("b"))
      .head()
    assert(nulls.isNullAt(0))
    assert(nulls.getStruct(1).getLong(0) === 0L)
  }

  test("GenotypeFolds.doseStats/doseNorm match the HOF formulation") {
    import graft.functions.{Calls, GenotypeFolds}
    def e(gt: org.apache.spark.sql.Column) = struct(gt.as("GT"))
    val entries = array(
      e(Calls.diploid(lit(0), lit(1))), // dose 1
      e(Calls.diploid(lit(1), lit(1))), // dose 2
      e(Calls.haploid(lit(1))),         // dose 1
      e(Calls.haploid(lit(0))),         // dose 0
      e(lit(null).cast("int")))         // missing
    val st = spark.range(1)
      .select(GenotypeFolds.doseStats(entries).as("s"))
      .select(col("s")("nc"), col("s")("ac"), col("s")("acsq")).head()
    assert(st.getLong(0) === 4L)
    assert(st.getDouble(1) === 4.0)
    assert(st.getDouble(2) === 6.0)
    // norm: mean 1.0, denom 2.0 → (d-1)/2; missing → 0.0
    val nm = spark.range(1)
      .select(GenotypeFolds.doseNorm(entries, lit(1.0), lit(2.0)).as("n"))
      .head().getSeq[Double](0)
    assert(nm === Seq(0.0, 0.5, 0.0, -0.5, 0.0))
    // non-positive denom zeroes everything; null entries → null
    val z = spark.range(1).select(
      GenotypeFolds.doseNorm(entries, lit(1.0), lit(0.0)).as("a"),
      GenotypeFolds.doseNorm(lit(null).cast("array<struct<GT:int>>"),
        lit(1.0), lit(2.0)).as("b")).head()
    assert(z.getSeq[Double](0) === Seq(0.0, 0.0, 0.0, 0.0, 0.0))
    assert(z.isNullAt(1))
  }

  test("filteringAlleleFrequency edge cases and monotonicity") {
    import graft.functions.Experimental
    assert(Experimental.calcFilterAlleleFreq(0, 100) === 0.0)
    assert(Experimental.calcFilterAlleleFreq(1, 100) === 0.0) // singleton
    assert(Experimental.calcFilterAlleleFreq(5, 0) === 0.0)
    val f5 = Experimental.calcFilterAlleleFreq(5, 1000)
    val f50 = Experimental.calcFilterAlleleFreq(50, 1000)
    assert(f5 > 0 && f50 > f5 && f50 < 50.0 / 1000)
    // the defining property: FAF is the largest lattice AF whose 95%
    // upper AC bound stays below the observed AC
    assert(Experimental.findMaxAC(f50, 1000) < 50)
    assert(Experimental.findMaxAC(f50 + 1e-6, 1000) >= 50)
  }

  test("filteringAlleleFrequency's lattice search equals the reference climb") {
    import graft.functions.Experimental.{calcFilterAlleleFreq, findMaxAC}
    import org.apache.commons.math3.distribution.PoissonDistribution
    // without a random generator the quantiles are the seeded ones
    for (i <- 0 until 400; p <- Seq(0.95, 0.99)) {
      val lambda = 1e-4 * math.pow(1.05, i)
      assert(new PoissonDistribution(lambda).inverseCumulativeProbability(p) ===
        FafReference.qpois(p, lambda))
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val fixture = Seq((1, 6), (2, 10), (3, 8), (3, 10), (4, 6), (4, 8),
      (4, 10), (5, 8), (5, 10), (6, 8), (6, 10), (7, 10))
    val grid = for (ac <- 0 to 60; an <- Seq(0, 2, 6, 8, 10, 100, 1000))
      yield (ac, an)
    val cases = (for ((ac, an) <- fixture ++ grid; ci <- Seq(0.95, 0.99))
      yield (ac, an, ci, 2.0)) ++
      // no sign change on [lower, upper]: both climb from 0
      Seq((3, 10, 0.95, 0.01), (4, 100, 0.99, 0.001), (10, 2, 0.95, 2.0))
    var compared = 0
    cases.foreach { case (ac, an, ci, upper) =>
      val got = calcFilterAlleleFreq(ac, an, ci, upper = upper)
      FafReference.climb(ac, an, ci, upper, got, maxSteps = 200000) match {
        case Some(want) =>
          compared += 1
          assert(math.abs(got - want) <= 1e-9, (ac, an, ci, upper, got, want))
          assert(r6(got) === r6(want), (ac, an, ci, upper, got, want))
        case None =>
          // a climb over the step budget (an of 2, or ac far above an so
          // that it starts at 0): the answer is still the last lattice
          // point below ac
          assert(findMaxAC(got, an, ci) < ac, (ac, an, ci, got))
          assert(findMaxAC(got + 1e-6, an, ci) >= ac, (ac, an, ci, got))
      }
    }
    assert(compared > cases.size / 2, compared)
  }

  test("haplotypeFreqEm conserves haplotype mass and detects coupling") {
    import graft.functions.Experimental
    val df = spark.createDataFrame(Seq(
      (1, Seq(2, 1, 1, 1, 4, 1, 1, 1, 2)))).toDF("id", "g")
    val h = df.select(Experimental.haplotypeFreqEm(col("g")).as("h"))
      .head().getSeq[Double](0)
    assert(math.abs(h.sum - 28.0) < 1e-6) // 2 * 14 samples
    // symmetric input: AB==ab and Ab==aB; double-hets favor coupling
    assert(math.abs(h(0) - h(3)) < 1e-9 && math.abs(h(1) - h(2)) < 1e-9)
    assert(h(0) > h(1))
  }
}

/** The filtering allele frequency as the reference
  * (`calcFilterAlleleFreq`) computes it, climbing the lattice one
  * `precision` at a time from the rounded root: the pin for
  * `Experimental.calcFilterAlleleFreq`. None, without climbing, when the
  * climb to `expected` would take more than `maxSteps` quantiles. */
private object FafReference {
  def qpois(p: Double, lambda: Double): Int =
    new org.apache.commons.math3.distribution.PoissonDistribution(null,
      lambda, 1e-12, 10000000).inverseCumulativeProbability(p)

  def findMaxAC(af: Double, an: Int, ci: Double): Int =
    if (af == 0) 0 else qpois(ci, an * af)

  def climb(ac: Int, an: Int, ci: Double, upper: Double, expected: Double,
      maxSteps: Long, lower: Double = 1e-10, tol: Double = 1e-7,
      precision: Double = 1e-6): Option[Double] = {
    if (ac <= 1 || an == 0) Some(0.0)
    else {
      def f(af: Double): Double = ac.toDouble - 1 - qpois(ci, an.toDouble * af)
      var lo = lower
      var hi = upper
      if (f(lo) <= 0) return Some(0.0)
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
      var maxAf = math.round(root * rounder) / rounder
      if ((expected - maxAf) / precision > maxSteps) None
      else {
        while (findMaxAC(maxAf, an, ci) < ac)
          maxAf += precision
        Some(maxAf - precision)
      }
    }
  }
}
