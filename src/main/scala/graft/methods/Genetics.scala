package graft.methods

import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.{BlockMatrix, CoordinateMatrix, MatrixEntry, RowMatrix}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.{MatrixTable, Table}
import graft.functions.{Calls, ReferenceGenome, StatTests}

/** Genetics method library: impute_sex, mendel_errors, concordance
  * (reference `python/hail/methods/statgen.py:73` `impute_sex`,
  * `family_methods.py:130` `mendel_errors`, `qc.py:360` `concordance`). */
object Genetics {

  /** impute_sex (reference `statgen.py:73`): per-sample inbreeding
    * coefficient F on X-chromosome non-PAR biallelic variants;
    * F = (observed_homs - expected_homs) / (n_called - expected_homs)
    * with E[homs] = Σ (1 - 2 af (1-af)) (reference `aggregators.py:1272`
    * `inbreeding`). is_female: F < femaleThreshold → true,
    * F > maleThreshold → false, else missing. One coordinate-space
    * shuffle, like sample_qc. */
  def imputeSex(mt: MatrixTable, aafThreshold: Double = 0.0,
      femaleThreshold: Double = 0.2, maleThreshold: Double = 0.8)
      (implicit rg: ReferenceGenome): Table = {
    val xRows = mt.rows
      .filter(rg.xContigs.map(col("contig") === _).reduce(_ || _))
      .filter(!rg.par.map { case (c, s0, e0) =>
        col("contig") === c && col("position") >= s0 &&
          col("position") < e0
      }.foldLeft(lit(false))(_ || _))
      .filter(size(col("alt")) === 1)
    val withAf = xRows
      .withColumn("__cs", Qc.callStatsFold(
        col(MatrixTable.EntriesField), size(col("alt")) + 1))
      .withColumn("__an",
        aggregate(col("__cs")("ac"), lit(0L), (a, v) => a + v))
      .withColumn("__af",
        when(col("__an") > 0,
          element_at(col("__cs")("ac"), 2).cast("double") /
            col("__an").cast("double")))
      .filter(col("__af") >= aafThreshold && col("__af").isNotNull)
      .drop("__cs", "__an")
    val e = mt.copy(rows = withAf).entriesTable.df
      .filter(col("GT").isNotNull && Calls.ploidy(col("GT")) === 2)
    val hom = Calls.allele1(col("GT")) === Calls.allele2(col("GT"))
    val perSample = e.groupBy(mt.colKey.map(col): _*)
      .agg(
        count(lit(1)).as("n_called"),
        sum(lit(1.0) - lit(2.0) * col("__af") * (lit(1.0) - col("__af")))
          .as("expected_homs"),
        count(when(hom, 1)).as("observed_homs"))
    val denom = col("n_called").cast("double") - col("expected_homs")
    val f = when(denom =!= 0.0,
      (col("observed_homs").cast("double") - col("expected_homs")) / denom)
    val out = mt.colsTable.df
      .join(perSample, mt.colKey, "left")
      .withColumn("f_stat", f)
      .withColumn("is_female",
        when(col("f_stat") < femaleThreshold, true)
          .when(col("f_stat") > maleThreshold, false))
    Table(out, mt.colKey, mt.globals)
  }

  /** hail's 4-state genotype class (1 = no call, 2 = hom ref, 3 = het,
    * 4 = hom var). Haploid calls classify by their single allele —
    * haploid REF is hom-ref, haploid ALT is hom-var (the reference's
    * n_alt_alleles semantics for hemizygous calls) — NOT by the
    * diploid allele1/allele2 equality, whose haploid sentinel would
    * misread every hemizygous REF as hom-var. */
  private def gtClass(gt: Column): Column =
    when(gt.isNull, 1) // no call
      .when(Calls.ploidy(gt) === 1,
        when(Calls.allele1(gt) === 0, 2).otherwise(4))
      .when(Calls.isHomRef(gt), 2)
      .when(Calls.isHet(gt), 3)
      .otherwise(4) // hom var

  /** The trio pivot, read off a row's own entries: an array with one
    * struct per trio where at least one member's entry is present — the
    * kid/dad/mom GTs side by side (`__gt_kid`, `__gt_dad`, `__gt_mom`; a
    * member absent from the matrix reads as a null GT), `__s_kid` and
    * `__kid_female`. It projects `Trios.trioMatrix`'s entries, so it is a
    * narrow map of the rows: no entry explode, no join, no shuffle.
    * mendel_errors inlines it; tdt folds it in the row. */
  private def trioPivot(mt: MatrixTable,
      trios: Seq[(String, String, String, Boolean)]): Column = {
    // an empty trio list still needs a typed array: one all-absent trio,
    // never emitted
    val ts = if (trios.nonEmpty) trios else Seq((null, null, null, false))
    val kids = array(ts.map { case (kid, _, _, isF) =>
      struct(lit(kid).cast("string"), lit(isF)) }: _*)
    filter(zip_with(Trios.trioEntries(mt, ts), kids, (e, k) => {
      val members = Seq("proband_entry", "father_entry", "mother_entry")
        .map(e(_))
      when(members.map(_.isNotNull).reduce(_ || _), struct(
        members(0)("GT").as("__gt_kid"), members(1)("GT").as("__gt_dad"),
        members(2)("GT").as("__gt_mom"), k("col1").as("__s_kid"),
        k("col2").as("__kid_female")))
    }), _.isNotNull)
  }

  /** mendel_errors (reference `family_methods.py:130`; code table
    * `functions.py:6415` `mendel_error_code`): per (trio, variant) Mendel
    * violation codes. Trios are (kid, dad, mom, kidIsFemale). Copy state:
    * Auto (autosome/PAR, or X and female kid), HemiX (X non-PAR male
    * kid), HemiY (Y non-PAR male kid). Assumes biallelic rows
    * (split_multi first).
    *
    * The code table mirrors the reference's n_alt_alleles predicates and
    * evaluation order exactly (both-hom codes 1/2/5/8 first, then the
    * single-parent codes 3/4/6/7 — which fire even when the other parent
    * is uncalled, because a null n_alt makes its conditions false, the
    * reference's `missing_false` semantics). One entries scan
    * (`trioPivot`), then one codegen'd CASE chain. */
  def mendelErrors(mt: MatrixTable,
      trios: Seq[(String, String, String, Boolean)])
      (implicit rg: ReferenceGenome): Table = {
    val keyCols = mt.rowKey
    // one row per (variant, trio), each role's n_alt staged as a column
    // so the CASE chain below reads three attributes, not ~30 copies of
    // the n_alt expression
    val pivot = mt.rows
      .select(keyCols.map(col) :+ inline(trioPivot(mt, trios)): _*)
      .withColumns(Map(
        "__n_kid" -> Calls.nNonRefAlleles(col("__gt_kid")),
        "__n_dad" -> Calls.nNonRefAlleles(col("__gt_dad")),
        "__n_mom" -> Calls.nNonRefAlleles(col("__gt_mom"))))
    val fn = col("__n_dad")
    val mn = col("__n_mom")
    val cn = col("__n_kid")
    val inPar = rg.par.map { case (c, s0, e0) =>
      col("contig") === c && col("position") >= s0 && col("position") < e0
    }.foldLeft(lit(false))(_ || _)
    val inX = rg.xContigs.map(col("contig") === _).reduce(_ || _)
    val inY = rg.yContigs.map(col("contig") === _).reduce(_ || _)
    val autoCode =
      when(fn === 2 && mn === 2 && cn === 1, 1)
        .when(fn === 0 && mn === 0 && cn === 1, 2)
        .when(fn === 0 && mn === 0 && cn === 2, 5)
        .when(fn === 2 && mn === 2 && cn === 0, 8)
        .when(fn === 0 && cn === 2, 3)
        .when(mn === 0 && cn === 2, 4)
        .when(fn === 2 && cn === 0, 6)
        .when(mn === 2 && cn === 0, 7)
    val hemiXCode = when(mn === 2 && cn === 0, 9)
      .when(mn === 0 && cn > 0, 10)
    val hemiYCode = when(fn > 0 && cn === 0, 11)
      .when(fn === 0 && cn > 0, 12)
    val code =
      when((!inX && !inY) || inPar || col("__kid_female"), autoCode)
        .when(inX && !inPar && !col("__kid_female"), hemiXCode)
        .when(inY && !inPar && !col("__kid_female"), hemiYCode)
    Table(pivot
      .withColumn("mendel_code", code)
      .filter(col("mendel_code").isNotNull)
      .select((keyCols.map(col) :+ col("__s_kid").as("s") :+
        col("mendel_code")): _*),
      keyCols :+ "s", mt.globals)
  }

  /** transmission_disequilibrium_test (reference
    * `statgen.py` `transmission_disequilibrium_test`): per variant, counts
    * of alt alleles transmitted (t) vs untransmitted (u) from
    * heterozygous parents across complete trios, chi² = (t-u)²/(t+u)
    * (1 dof). Counting rule: every hom-var parent transmits alt
    * obligately, so t = kidAltAlleles − #homVarParents and
    * u = #hetParents − t; Mendel-inconsistent triples are skipped.
    * Autosomes only (standard TDT). */
  def tdt(mt: MatrixTable, trios: Seq[(String, String, String)],
      kidIsFemale: Map[String, Boolean] = Map.empty)
      (implicit rg: ReferenceGenome): Table = {
    val keyCols = mt.rowKey
    val pivot = trioPivot(mt,
      trios.map { case (k, d, m) =>
        (k, d, m, kidIsFemale.getOrElse(k, false)) })
    val inPar = rg.par.map { case (c, s0, e0) =>
      col("contig") === c && col("position") >= s0 && col("position") < e0
    }.foldLeft(lit(false))(_ || _)
    val inX = rg.xContigs.map(col("contig") === _)
      .foldLeft(lit(false))(_ || _)
    val inY = rg.yContigs.map(col("contig") === _)
      .foldLeft(lit(false))(_ || _)
    val inMt = rg.mtContigs.map(col("contig") === _)
      .foldLeft(lit(false))(_ || _)
    // reference scope: autosome ∪ X-PAR ∪ X-non-PAR (Y/MT excluded)
    val autoOrXPar = (!inX && !inY && !inMt) || (inX && inPar)
    def nAlt(c: Column) = Calls.nNonRefAlleles(c)
    def isHet(c: Column) = Calls.isHet(c)
    // the reference's (kid, dad, mom, copy) -> (t, u) config table
    // (family_methods.py:377)
    val configs: Seq[(Int, Int, Int, Int, Int, Int)] = Seq(
      (0, 1, 1, 2, 0, 2), (0, 0, 1, 2, 0, 1), (0, 1, 0, 2, 0, 1),
      (1, 1, 1, 2, 1, 1), (1, 0, 1, 2, 1, 0), (1, 1, 0, 2, 1, 0),
      (1, 2, 1, 2, 0, 1), (1, 1, 2, 2, 0, 1), (2, 1, 1, 2, 2, 0),
      (2, 1, 2, 2, 1, 0), (2, 2, 1, 2, 1, 0),
      (0, 0, 1, 1, 0, 1), (0, 2, 1, 1, 0, 1), (2, 0, 1, 1, 1, 0),
      (2, 2, 1, 1, 1, 0))
    // stage the genotype counts + copy state as struct fields BEFORE the
    // 15-branch config CASE: inlined, each branch re-evaluated the
    // nNonRefAlleles trees (x15 configs x2 lookups), and the analyzed
    // plan carried ~8k expression nodes for a 15-row decision table
    def lookup(p: Column,
        sel: ((Int, Int, Int, Int, Int, Int)) => Int): Column =
      configs.foldLeft(lit(null).cast("int")) {
        case (acc, cfg @ (k, d, m, c, _, _)) =>
          when(p("kn") === k && p("dn") === d && p("mn") === m &&
            p("cs") === c, sel(cfg)).otherwise(acc)
      }
    // complete trios only; the reference's het gate: a het father counts
    // only on auto/X-PAR, otherwise a het mother with a non-het father
    val staged = transform(pivot, p => struct(
      nAlt(p("__gt_kid")).as("kn"), nAlt(p("__gt_dad")).as("dn"),
      nAlt(p("__gt_mom")).as("mn"),
      when(autoOrXPar || p("__kid_female"), 2).otherwise(1).as("cs"),
      (p("__gt_kid").isNotNull && p("__gt_dad").isNotNull &&
        p("__gt_mom").isNotNull &&
        ((isHet(p("__gt_dad")) && autoOrXPar) ||
          (isHet(p("__gt_mom")) && !isHet(p("__gt_dad"))))).as("vh")))
    // an unlisted config is uninformative; a variant gets a row iff one
    // trio is informative, and sums its trios in place
    val counted = filter(transform(staged, p => when(p("vh"), struct(
      lookup(p, _._5).as("t"), lookup(p, _._6).as("u")))),
      c => c("t").isNotNull)
    def total(f: String): Column =
      aggregate(col("__tu"), lit(0L), (a, c) => a + c(f))
    val perVariant = Regression.rowsWhere(
        mt.filterRows(autoOrXPar || (inX && !inPar)), counted,
        c => size(c) > 0, "__tu")
      .select(keyCols.map(col) ++ Seq(total("t").as("t"),
        total("u").as("u")): _*)
      .withColumn("chi_sq",
        pow(col("t") - col("u"), 2).cast("double") /
          (col("t") + col("u")).cast("double"))
      .withColumn("p_value",
        StatTests.chiSqTail(col("chi_sq"), lit(1.0)))
    Table(perVariant, keyCols, mt.globals)
  }

  /** identity_by_descent (reference `is/hail/methods/IBD.scala`,
    * implementing PLINK's method-of-moments estimators): per sample pair,
    * IBS0/1/2 counts over shared called biallelic sites plus the PLINK
    * expected-IBS coefficients (small-sample-corrected, computed per
    * variant from the REF allele frequency and averaged over non-missing
    * variants), solved for Z0/Z1/Z2 and PI_HAT = Z1/2 + Z2. `bounded`
    * clamps the estimates into the simplex (PLINK's default).
    *
    * Spark shape: coefficients are one narrow row-space pass + a scalar
    * aggregate; IBS counts come from the stacked-indicator Gramian
    * (`classPairCounts`) — one distributed treeAggregate, no sample-pair
    * shuffle (the reference's IBD.scala batches the same arithmetic).
    * Past `distributeOver` samples the Gramian itself goes distributed
    * (`classPairCountsDF`) and the per-pair estimators run as a
    * distributed map — nothing S²-sized ever lands on the driver. */
  def identityByDescent(mt: MatrixTable, bounded: Boolean = true,
      distributeOver: Int = PairCountDistributeOver): DataFrame = {
    // per-variant PLINK expectation coefficients from ref-allele counts
    val cs = Qc.callStatsFold(col(MatrixTable.EntriesField),
      size(col("alt")) + 1)
    val withCoef = mt.rows
      .filter(size(col("alt")) === 1)
      .withColumn("__cs", cs)
      .withColumn("__x", element_at(col("__cs")("ac"), 1).cast("double"))
      .withColumn("__y", element_at(col("__cs")("ac"), 2).cast("double"))
      .withColumn("__na", col("__x") + col("__y"))
    val x = col("__x"); val y = col("__y"); val na = col("__na")
    val p = x / na; val q = y / na
    val corr3 = (na / (na - 1)) * (na / (na - 2)) * (na / (na - 3))
    val corr2 = (na / (na - 1)) * (na / (na - 2))
    val ok = x > 0 && y > 0 && na > 3
    val a00 = when(ok,
      lit(2) * p * p * q * q * ((x - 1) / x) * ((y - 1) / y) * corr3)
    val a10 = when(ok,
      lit(4) * p * p * p * q * ((x - 1) / x) * ((x - 2) / x) * corr3 +
      lit(4) * p * q * q * q * ((y - 1) / y) * ((y - 2) / y) * corr3)
    val a20 = when(ok,
      q * q * q * q * ((y - 1) / y) * ((y - 2) / y) * ((y - 3) / y) * corr3 +
      p * p * p * p * ((x - 1) / x) * ((x - 2) / x) * ((x - 3) / x) * corr3 +
      lit(4) * p * p * q * q * ((x - 1) / x) * ((y - 1) / y) * corr3)
    val a11 = when(ok,
      lit(2) * p * p * q * ((x - 1) / x) * corr2 +
      lit(2) * p * q * q * ((y - 1) / y) * corr2)
    val a21 = when(ok,
      p * p * p * ((x - 1) / x) * ((x - 2) / x) * corr2 +
      q * q * q * ((y - 1) / y) * ((y - 2) / y) * corr2 +
      p * p * q * ((x - 1) / x) * corr2 +
      p * q * q * ((y - 1) / y) * corr2)
    val coefMeans = withCoef
      .select(a00.as("a00"), a10.as("a10"), a20.as("a20"),
        a11.as("a11"), a21.as("a21"))
      .agg(avg(col("a00")).as("e00"), avg(col("a10")).as("e10"),
        avg(col("a20")).as("e20"), avg(col("a11")).as("e11"),
        avg(col("a21")).as("e21"))
      .head()
    val (e00m, e10m, e20m, e11m, e21m) = (coefMeans.getDouble(0),
      coefMeans.getDouble(1), coefMeans.getDouble(2),
      coefMeans.getDouble(3), coefMeans.getDouble(4))
    // pairwise IBS counts from the stacked-indicator Gramian over dose
    // classes on biallelic rows (diploid called entries only);
    // IBS0 = opposing homs, IBS2 = same-class, IBS1 = remainder
    val biallelic = mt.copy(rows = mt.rows.filter(size(col("alt")) === 1))
    // fused indicator kernel; diploidOnly mirrors the dose classes
    // (haploid = no-call) the transform-chain formulation used
    val pairCounts = classPairCountsDF(biallelic,
      graft.functions.GenotypeFolds.classIndicators(biallelic.entries,
        diploidOnly = true), distributeOver)
    val idIdx = mt.colSchema.fieldIndex(mt.colKey.head)
    val idsB = mt.spark.sparkContext.broadcast(
      mt.colValues.map(_.get(idIdx)))
    val idType = mt.colSchema.fields(idIdx).dataType
    val outSchema = StructType(Seq(
      StructField("s_i", idType), StructField("s_j", idType),
      StructField("ibs0", LongType, false),
      StructField("ibs1", LongType, false),
      StructField("ibs2", LongType, false),
      StructField("Z0", DoubleType, false),
      StructField("Z1", DoubleType, false),
      StructField("Z2", DoubleType, false),
      StructField("PI_HAT", DoubleType, false)))
    val boundedL = bounded
    // pairs sharing no called site produce no estimate (as the
    // coordinate-join formulation's inner join implied); the estimator
    // arithmetic is a distributed per-pair map, never a driver loop
    pairCounts.filter(col("cc") > 0).map { r =>
      def id(i: Int) = idsB.value(i)
      val (i0, j0) = (r.getInt(0), r.getInt(1))
      val (h0h0, h0h1, h1h0, h1h1, h0c, ch0, h1c, ch1, cc) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9),
          r.getLong(10))
      val (si, sj) =
        if (id(i0).toString <= id(j0).toString) (id(i0), id(j0))
        else (id(j0), id(i0))
      val ibs0 = (h0c - h0h0 - h0h1) + (ch0 - h0h0 - h1h0)
      val h2h2 = cc - h0c - h1c - ch0 - ch1 +
        h0h0 + h0h1 + h1h0 + h1h1
      val ibs2 = h0h0 + h1h1 + h2h2
      val ibs1 = cc - ibs0 - ibs2
      val n = cc.toDouble
      val z0 = ibs0 / (e00m * n)
      val z1 = (ibs1 - z0 * e10m * n) / (e11m * n)
      val z2 = (ibs2 - z0 * e20m * n - z1 * e21m * n) / n
      val (b0, b1, b2) =
        if (!boundedL) (z0, z1, z2)
        else {
          val c0 =
            if (z0 > 1) 1.0 else if (z1 > 1 || z2 > 1) 0.0
            else if (z0 < 0) 0.0
            else if (z1 < 0) z0 / (z0 + z2)
            else if (z2 < 0) z0 / (z0 + z1) else z0
          val c1 =
            if (z0 > 1 || z2 > 1) 0.0 else if (z1 > 1) 1.0
            else if (z0 < 0) z1 / (z1 + z2)
            else if (z1 < 0) 0.0
            else if (z2 < 0) z1 / (z0 + z1) else z1
          val c2 =
            if (z0 > 1 || z1 > 1) 0.0 else if (z2 > 1) 1.0
            else if (z0 < 0) z2 / (z1 + z2)
            else if (z1 < 0) z2 / (z0 + z2)
            else if (z2 < 0) 0.0 else z2
          (c0, c1, c2)
        }
      Row(si, sj, ibs0, ibs1, ibs2, b0, b1, b2, b1 / 2 + b2)
    }(Encoders.row(outSchema)).toDF()
  }

  /** All pairwise genotype-class co-occurrence counts via ONE Gramian.
    *
    * `classes` is an array<int> of per-sample genotype classes (gtClass
    * codes; 1 = no call). Per variant we build the stacked indicator
    * vector [H0 | H1 | C] (hom-ref, het, called — width 3S); the Gramian
    * MᵀM then holds every pairwise block (H0ᵀH0, H0ᵀH1, H0ᵀC, H1ᵀH1,
    * H1ᵀC, CᵀC), and hom-var blocks follow from H2 = C − H0 − H1. This is
    * the reference's BlockMatrix-matmul shape (`is/hail/methods/IBD.scala`,
    * `relatedness/king.py`): one distributed treeAggregate pass, NO
    * pairwise shuffle — the O(variants × samples²) coordinate self-join
    * this replaces is fatal at biobank scale. The local 3S×3S result is
    * the same driver-size contract as `Pca.grm`; swap in MLlib
    * BlockMatrix.multiply past ~30k samples.
    *
    * Returns per ordered pair (i < j by column index):
    * (i, j, h0h0, h0h1, h1h0, h1h1, h0c, ch0, h1c, ch1, cc) as exact
    * longs (indicator dot products are integer-valued). */
  private def classPairCounts(mt: MatrixTable, indicators: Column)
      : IndexedSeq[(Int, Int, Long, Long, Long, Long, Long, Long, Long,
        Long, Long)] = {
    val n = mt.nCols
    val vecRdd = mt.rows.select(indicators.as("__v")).rdd
      .map(r => MlVectors.dense(r.getSeq[Double](0).toArray))
    val g = new RowMatrix(vecRdd).computeGramianMatrix()
    def l(a: Int, b: Int): Long = math.round(g(a, b))
    for {
      i <- 0 until n
      j <- (i + 1) until n
    } yield (i, j,
      l(i, j), l(i, n + j), l(n + i, j), l(n + i, n + j),
      l(i, 2 * n + j), l(2 * n + i, j), l(n + i, 2 * n + j),
      l(2 * n + i, n + j), l(2 * n + i, 2 * n + j))
  }

  /** Samples above which `classPairCountsDF` switches from the
    * driver-local Gramian (one treeAggregate, 3S×3S local result — fast
    * and fine to ~5k samples ≈ 1.8 GB) to the fully distributed
    * BlockMatrix product. */
  val PairCountDistributeOver = 5000

  /** G = MᵀM for the sparse matrix M whose rows are the `nCols`-wide
    * vectors of `vecRows`' one array<double> column, as the MLlib
    * BlockMatrix product (block-cogroup multiply) — the distributed
    * Gramian of king/ibd, PC-Relate, grm and rrm past `distributeOver`
    * samples. Returns G and the persisted row vectors its lineage
    * reads: unpersist them once G's consumer is materialized. */
  private[methods] def sparseGramian(vecRows: DataFrame, nCols: Long,
      blockSize: Int = 1024): (BlockMatrix, RDD[Array[Double]]) = {
    val vecs = vecRows.rdd.map(_.getSeq[Double](0).toArray)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nVariants = vecs.count()
    val entriesRdd = vecs.zipWithIndex().flatMap { case (v, ri) =>
      Iterator.range(0, v.length)
        .filter(v(_) != 0.0)
        .map(ci => MatrixEntry(ri, ci.toLong, v(ci)))
    }
    val m = new CoordinateMatrix(entriesRdd, nVariants, nCols)
      .toBlockMatrix(blockSize, blockSize)
    (m.transpose.multiply(m), vecs)
  }

  private val pairCountsSchema = StructType(
    StructField("i", IntegerType, false) ::
    StructField("j", IntegerType, false) ::
    List("h0h0", "h0h1", "h1h0", "h1h1", "h0c", "ch0", "h1c", "ch1",
      "cc").map(StructField(_, LongType, false)))

  /** `classPairCounts` as a DataFrame of (i, j (i<j), 9 block counts).
    *
    * Small S: the local-Gramian fast path. Large S (> `distributeOver`):
    * the V×3S stacked indicator matrix becomes an MLlib BlockMatrix,
    * G = MᵀM runs as the distributed block-cogroup multiply (the
    * reference's `relatedness/king.py` BlockMatrix-matmul shape), and
    * G's blocks are flat-mapped straight into per-pair slot records and
    * combined by (i, j) — the 3S×3S Gramian and the S²/2 pair rows stay
    * distributed end to end; driver memory is O(1). */
  private[methods] def classPairCountsDF(mt: MatrixTable,
      indicators: Column,
      distributeOver: Int = PairCountDistributeOver,
      blockSize: Int = 1024): DataFrame = {
    val n = mt.nCols
    if (n <= distributeOver) {
      val rows = classPairCounts(mt, indicators).map {
        case (i, j, a, b, c, d, e, f, g, h, k) =>
          Row(i, j, a, b, c, d, e, f, g, h, k)
      }
      mt.spark.createDataFrame(
        mt.spark.sparkContext.parallelize(rows, 1), pairCountsSchema)
    } else {
      val spark = mt.spark
      val (g, vecs) = sparseGramian(mt.rows.select(indicators.as("__v")),
        3L * n, blockSize)
      // slot layout of a global coordinate a: sample = a % n,
      // indicator block = a / n (0 = hom-ref, 1 = het, 2 = called)
      val slotOf = Array(
        /* (sa,sb): 00 */ 0, /* 01 */ 1, /* 02 */ 4,
        /* 10 */ 2, /* 11 */ 3, /* 12 */ 6,
        /* 20 */ 5, /* 21 */ 7, /* 22 */ 8)
      val bs = blockSize
      val nL = n
      val pairRows = g.blocks.flatMap { case ((bi, bj), blk) =>
        val out = List.newBuilder[((Int, Int), (Int, Double))]
        val arr = blk.toArray // column-major
        var c = 0
        while (c < blk.numCols) {
          var r = 0
          while (r < blk.numRows) {
            val v = arr(c * blk.numRows + r)
            if (v != 0.0) {
              val a = bi * bs + r; val b = bj * bs + c
              val i = a % nL; val j = b % nL
              if (i < j)
                out += (((i, j), (slotOf((a / nL) * 3 + (b / nL)), v)))
            }
            r += 1
          }
          c += 1
        }
        out.result()
      }.aggregateByKey(new Array[Double](9))(
        { (acc, sv) => acc(sv._1) += sv._2; acc },
        { (x, y) => var k = 0; while (k < 9) { x(k) += y(k); k += 1 }; x })
        .map { case ((i, j), acc) =>
          Row(i, j, math.round(acc(0)), math.round(acc(1)),
            math.round(acc(2)), math.round(acc(3)), math.round(acc(4)),
            math.round(acc(5)), math.round(acc(6)), math.round(acc(7)),
            math.round(acc(8)))
        }
      val out = spark.createDataFrame(pairRows, pairCountsSchema)
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count() // force, so the indicator RDD can be released
      vecs.unpersist(blocking = false)
      out
    }
  }

  /** concordance (reference `qc.py:360`): full-outer join of two matrix
    * tables in coordinate space; each cell classified into hail's 5
    * states (0 = no data, 1 = no call, 2 = hom ref, 3 = het,
    * 4 = hom var). Returns the (left_state, right_state, n) global
    * counts; per-sample/per-variant views are one groupBy away from
    * `concordanceCells`. */
  def concordanceCells(left: MatrixTable, right: MatrixTable): DataFrame = {
    val keyCols = left.rowKey ++ left.colKey
    val l = left.entriesTable.df
      .select((keyCols.map(col) :+ gtClass(col("GT")).as("__l")): _*)
    val r = right.entriesTable.df
      .select((keyCols.map(col) :+ gtClass(col("GT")).as("__r")): _*)
    l.join(r, keyCols, "full_outer")
      .withColumn("left_state", coalesce(col("__l"), lit(0)))
      .withColumn("right_state", coalesce(col("__r"), lit(0)))
      .drop("__l", "__r")
  }

  def concordance(left: MatrixTable, right: MatrixTable): DataFrame =
    concordanceCells(left, right)
      .groupBy(col("left_state"), col("right_state"))
      .agg(count(lit(1)).as("n"))

  /** Per-sample 5x5 concordance counts (reference returns these as the
    * cols table of `concordance`): one groupBy over the cells. */
  def concordancePerSample(left: MatrixTable, right: MatrixTable)
      : DataFrame =
    concordanceCells(left, right)
      .groupBy((left.colKey.map(col) :+ col("left_state") :+
        col("right_state")): _*)
      .agg(count(lit(1)).as("n"))

  /** Per-variant concordance counts (the reference's rows view). */
  def concordancePerVariant(left: MatrixTable, right: MatrixTable)
      : DataFrame =
    concordanceCells(left, right)
      .groupBy((left.rowKey.map(col) :+ col("left_state") :+
        col("right_state")): _*)
      .agg(count(lit(1)).as("n"))

  /** KING-robust kinship (reference `methods/relatedness/king.py:9`,
    * expressed there as BlockMatrix matmuls): for each sample pair over
    * their shared called sites,
    * phi = (N_AaAa - 2 N_opposing_hom) / (N_het_i + N_het_j).
    *
    * All pair counts come from the single stacked-indicator Gramian
    * (`classPairCountsDF`) — one distributed pass over the entries, no
    * sample-pair shuffle; past `distributeOver` samples the Gramian and
    * the per-pair kinship map both run distributed (nothing S²-sized on
    * the driver). */
  def king(mt: MatrixTable,
      distributeOver: Int = PairCountDistributeOver): DataFrame = {
    val counts = classPairCountsDF(mt,
      graft.functions.GenotypeFolds.classIndicators(mt.entries,
        diploidOnly = false), distributeOver)
    val idIdx = mt.colSchema.fieldIndex(mt.colKey.head)
    val idsB = mt.spark.sparkContext.broadcast(
      mt.colValues.map(_.get(idIdx)))
    val idType = mt.colSchema.fields(idIdx).dataType
    val outSchema = StructType(Seq(
      StructField("s_i", idType), StructField("s_j", idType),
      StructField("n_shared", LongType, false),
      StructField("n_het_i", LongType, false),
      StructField("n_het_j", LongType, false),
      StructField("n_het_het", LongType, false),
      StructField("n_opp_hom", LongType, false),
      StructField("phi", DoubleType)))
    // pairs sharing no called site are absent (inner-join semantics)
    counts.filter(col("cc") > 0).map { r =>
      def id(i: Int) = idsB.value(i)
      val (i0, j0) = (r.getInt(0), r.getInt(1))
      val (h0h0, h0h1, h1h0, h1h1, h0c, ch0, h1c, ch1, cc) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9),
          r.getLong(10))
      // order the pair by sample id (the join formulation sorted on id);
      // swapping transposes the asymmetric blocks
      val swap = id(i0).toString > id(j0).toString
      val (hetI, hetJ) = if (swap) (ch1, h1c) else (h1c, ch1)
      val (si, sj) = if (swap) (id(j0), id(i0)) else (id(i0), id(j0))
      // H0ᵀH2 = H0ᵀC − H0ᵀH0 − H0ᵀH1 (and transposed) — symmetric in swap
      val oppHom = (h0c - h0h0 - h0h1) + (ch0 - h0h0 - h1h0)
      val hetHet = h1h1
      val phi: Any =
        if (hetI + hetJ > 0)
          (hetHet.toDouble - 2.0 * oppHom) / (hetI + hetJ) else null
      Row(si, sj, cc, hetI, hetJ, hetHet, oppHom, phi)
    }(Encoders.row(outSchema)).toDF()
  }

  /** The reference's mendel_errors attribution table
    * (`family_methods.py:309`): code → (dad, mom, kid) implication
    * weights, dummy row at index 0. */
  private val MendelImplicated: Seq[Seq[Int]] = Seq(
    Seq(0, 0, 0),
    Seq(1, 1, 1), Seq(1, 1, 1), Seq(1, 0, 1), Seq(0, 1, 1),
    Seq(0, 0, 1), Seq(1, 0, 1), Seq(0, 1, 1), Seq(0, 0, 1),
    Seq(0, 1, 1), Seq(0, 1, 1), Seq(1, 0, 1), Seq(1, 0, 1))

  /** mendel_errors per-variant view (reference table4): error count per
    * row, zero-filled for clean variants. */
  def mendelPerVariant(mt: MatrixTable,
      trios: Seq[(String, String, String, Boolean)])
      (implicit rg: ReferenceGenome): Table = {
    val me = mendelErrors(mt, trios).df
      .groupBy(mt.rowKey.map(col): _*).agg(count(lit(1)).as("__e"))
    val out = mt.rows.select(mt.rowKey.map(col): _*)
      .join(me, mt.rowKey, "left")
      .withColumn("errors", coalesce(col("__e"), lit(0L))).drop("__e")
    Table(out, mt.rowKey, mt.globals)
  }

  /** mendel_errors per-sample view (reference table3): every trio
    * member's implicated error count (and the SNP-only subset), zero
    * rows included. */
  def mendelPerSample(mt: MatrixTable,
      trios: Seq[(String, String, String, Boolean)])
      (implicit rg: ReferenceGenome): Table = {
    val me = mendelErrors(mt, trios).df
    // (kid, member, roleIdx): dad 0, mom 1, kid 2 — the implicated order
    val roleRows = trios.flatMap { case (kid, dad, mom, _) =>
      Seq((kid, dad, 0), (kid, mom, 1), (kid, kid, 2))
    }
    val roles = mt.spark.createDataFrame(roleRows)
      .toDF("s", "__member", "__role")
    val impl = array(MendelImplicated.map(r =>
      array(r.map(w => lit(w.toLong)): _*)): _*)
    val w = element_at(element_at(impl, col("mendel_code") + 1),
      col("__role") + 1)
    val isSnp = graft.functions.Alleles
      .isSnp(col("ref"), element_at(col("alt"), 1))
    val counts = me.join(broadcast(roles), Seq("s"))
      .groupBy(col("__member").as("s"))
      .agg(sum(w).as("__errors"),
        sum(when(isSnp, w).otherwise(0L)).as("__snp"))
    val members = mt.spark.createDataFrame(
      roleRows.map(_._2).distinct.map(Tuple1(_))).toDF("s")
    val out = members.join(counts, Seq("s"), "left")
      .withColumn("errors", coalesce(col("__errors"), lit(0L)))
      .withColumn("snp_errors", coalesce(col("__snp"), lit(0L)))
      .drop("__errors", "__snp")
    Table(out, Seq("s"), mt.globals)
  }

  /** mendel_errors per-family view (reference table2): per (pat, mat)
    * parent pair — child count and total (+SNP-only) errors. */
  def mendelPerFamily(mt: MatrixTable,
      trios: Seq[(String, String, String, Boolean)])
      (implicit rg: ReferenceGenome): Table = {
    val me = mendelErrors(mt, trios).df
    val kidParents = mt.spark.createDataFrame(
      trios.map(t => (t._1, t._2, t._3)))
      .toDF("s", "pat_id", "mat_id")
    val children = trios.groupBy(t => (t._2, t._3))
      .map { case ((d, m), ts) => (d, m, ts.length) }.toSeq
    val famDf = mt.spark.createDataFrame(children)
      .toDF("pat_id", "mat_id", "children")
    val isSnp = graft.functions.Alleles
      .isSnp(col("ref"), element_at(col("alt"), 1))
    val counts = me.join(broadcast(kidParents), Seq("s"))
      .groupBy(col("pat_id"), col("mat_id"))
      .agg(count(lit(1)).as("__errors"),
        sum(when(isSnp, 1L).otherwise(0L)).as("__snp"))
    val out = famDf.join(counts, Seq("pat_id", "mat_id"), "left")
      .withColumn("errors", coalesce(col("__errors"), lit(0L)))
      .withColumn("snp_errors", coalesce(col("__snp"), lit(0L)))
      .drop("__errors", "__snp")
    Table(out, Seq("pat_id", "mat_id"), mt.globals)
  }

  /** summarize_variants (reference `methods/qc.py` `summarize_variants`):
    * per-contig variant counts, per-type alt-allele counts, and the
    * allele-number histogram, in one long-format table
    * (stat, key, n) — three cheap row-space aggregations, no entries
    * scan. */
  def summarizeVariants(mt: MatrixTable): Table = {
    val typeName = {
      import graft.functions.Alleles._
      val at = alleleType(col("ref"), col("__a"))
      when(at === Snp, "SNP").when(at === Mnp, "MNP")
        .when(at === Insertion, "Insertion")
        .when(at === Deletion, "Deletion")
        .when(at === Complex, "Complex")
        .when(at === Star, "Star")
        .when(at === Symbolic, "Symbolic")
        .otherwise("Unknown")
    }
    val contigs = mt.rows.groupBy(col("contig").as("key"))
      .agg(count(lit(1)).as("n"))
      .select(lit("contigs").as("stat"), col("key"), col("n"))
    val types = mt.rows
      .select(col("ref"), explode(col("alt")).as("__a"))
      .groupBy(typeName.as("key")).agg(count(lit(1)).as("n"))
      .select(lit("allele_types").as("stat"), col("key"), col("n"))
    val nAlleles = mt.rows
      .groupBy((size(col("alt")) + 1).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
      .select(lit("n_alleles").as("stat"), col("key"), col("n"))
    Table(contigs.unionByName(types).unionByName(nAlleles),
      Seq("stat", "key"), mt.globals)
  }

  /** Median of the null chi²(1) distribution — qchisqtail(0.5, 1). */
  private val NullMedianChisq = 0.45493642311957283

  /** lambda_gc (reference `statgen.py:3097`): genomic-control inflation
    * factor of a p-value column — median of the implied chi²(1)
    * statistics over the null median. `approximate = true` mirrors the
    * reference default (approx_percentile, a bounded-memory sketch with
    * map-side combine — the scale path); `false` computes the exact
    * median. NaN p-values are excluded like the reference. */
  def lambdaGc(df: DataFrame, p: Column,
      approximate: Boolean = true): Double = {
    val chisq = graft.functions.StatTests.qchisqtail(p, lit(1.0))
    val filtered = df.filter(p.isNotNull && !isnan(p)).select(
      chisq.as("__chisq"))
    val med =
      if (approximate)
        filtered.agg(approx_percentile(col("__chisq"), lit(0.5),
          lit(10000))).head().getDouble(0)
      else
        filtered.agg(percentile(col("__chisq"), lit(0.5)))
          .head().getDouble(0)
    med / NullMedianChisq
  }
}
