package graft.methods

import breeze.linalg.{inv, qr, DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.MatrixTable
import graft.functions.Calls

/** pc_relate (reference `methods/relatedness/pc_relate.py`,
  * `is/hail/methods/PCRelate.scala`): PCA-adjusted kinship (phi) and
  * IBD0/1/2 estimates that stay calibrated under population structure.
  * Individual-specific allele frequencies mu come from regressing the
  * mean-imputed dosage on the top PCs (plus intercept); entries with a
  * non-integral (imputed) dosage or out-of-range mu are excluded
  * pairwise, exactly the reference's badgt/badmu masking.
  *
  * Spark shape: the reference computes ~8 sample×sample BlockMatrix
  * products; here all of them come out of ONE stacked-indicator Gramian
  * (`RowMatrix.computeGramianMatrix`, a distributed treeAggregate over
  * the variant dimension) of width 8S:
  * [A=g/2−mu | S=sqrt(var) | homalt | homref | mu² | (1−mu)² | GD | var],
  * with the phi-diagonal-dependent k2 product expanded algebraically
  * (DᵀD = GDᵀGD − c_j·GDᵀV − c_i·VᵀGD + c_i c_j·VᵀV). Local result is
  * 64S² doubles — the `Pca.grm` driver-size contract; swap in MLlib
  * BlockMatrix.multiply past ~10k samples. */
object PcRelate {

  private val K0Cutoff = math.pow(2.0, -5.0 / 2.0)

  /** `scores`: per-sample PC score arrays aligned with `mt.colValues`
    * order (e.g. `Pca.hweNormalizedPca(mt, k).scores` collected); pass
    * zero-length arrays for an intercept-only (unadjusted) model.
    * Returns (i, j, kin, ibd0, ibd1, ibd2) for column-index pairs
    * i < j (plus i = j when `includeSelfKinship`).
    *
    * Past `distributeOver` samples the 8S-wide Gramian switches from
    * the driver-local `computeGramianMatrix` (64S² doubles local —
    * fine to ~5k samples) to a distributed BlockMatrix MᵀM whose
    * blocks are flat-mapped straight into per-pair slot records; only
    * the O(S) diagonal (the self-kinship corrections) ever lands on
    * the driver. Same plan shape as `Genetics.classPairCountsDF`. */
  def pcRelate(mt: MatrixTable, scoresBySample: IndexedSeq[Array[Double]],
      minIndividualMaf: Double, minKinship: Double = Double.NegativeInfinity,
      includeSelfKinship: Boolean = false,
      distributeOver: Int = Genetics.PairCountDistributeOver)
      : DataFrame = {
    val n = mt.nCols
    require(scoresBySample.length == n, "one score array per sample")
    val kPcs = scoresBySample.headOption.map(_.length).getOrElse(0)
    // X = [1 | scores]; half-projection matrix inv(2R)·Qᵀ, so that
    // mu-column_v = X · (inv(2R)Qᵀ · g_v) (the reference's `mu`)
    val x = BDM.tabulate(n, kPcs + 1)((i, j) =>
      if (j == 0) 1.0 else scoresBySample(i)(j - 1))
    val qrRes = qr.reduced(x)
    val halfProj: BDM[Double] = inv(qrRes.r * 2.0) * qrRes.q.t // (k+1)×n

    val doseArr = transform(mt.entries,
      e => Calls.nNonRefAlleles(e("GT")).cast("double"))
    val called = filter(col("__d"), v => v.isNotNull)
    val meanG = when(size(called) > 0,
      aggregate(called, lit(0.0), (a, v) => a + v) /
        size(called).cast("double"))
    // STAGED projections: each expensive array becomes a named column
    // referenced many times downstream — CollapseProject keeps
    // multiply-referenced non-trivial aliases materialized, so the source
    // parse / imputation expressions evaluate ONCE per row instead of
    // being inlined into every one of the 8n block expressions (which
    // blew the expression tree past codegen limits).
    val d1 = mt.rows.select(doseArr.as("__d"))
      .select(col("__d"), meanG.as("__mean")) // hoisted: once per row
      .select(transform(col("__d"),
        v => coalesce(v, col("__mean"))).as("__g"))
    val hbArr = array((0 to kPcs).map { j =>
      (0 until n).map(i =>
        element_at(col("__g"), i + 1) * halfProj(j, i)).reduce(_ + _)
    }: _*)
    val d2 = d1.select(col("__g"), hbArr.as("__hb"))
    val muArr = array((0 until n).map { s =>
      (0 to kPcs).map(j =>
        lit(x(s, j)) * element_at(col("__hb"), j + 1)).reduce(_ + _)
    }: _*)
    val d3 = d2.select(col("__g"), muArr.as("__mu"))
    // per-sample blocks over cheap element_at references
    val blocks: Seq[Column] = {
      val perSample = (0 until n).map { s =>
        val g = element_at(col("__g"), s + 1)
        val mu = element_at(col("__mu"), s + 1)
        val badgt = g =!= 0.0 && g =!= 1.0 && g =!= 2.0
        val badmu = mu <= minIndividualMaf ||
          mu >= 1.0 - minIndividualMaf || mu <= 0.0 || mu >= 1.0
        val bad = g.isNull || badgt || badmu
        val variance = mu * (lit(1.0) - mu)
        val gd = when(g === 0.0, mu).when(g === 1.0, lit(0.0))
          .otherwise(lit(1.0) - mu)
        Seq(
          when(bad, 0.0).otherwise(g / 2.0 - mu), // A
          when(bad, 0.0).otherwise(sqrt(variance)), // S
          when(bad || g =!= 2.0, 0.0).otherwise(1.0), // homalt
          when(bad || g =!= 0.0, 0.0).otherwise(1.0), // homref
          when(bad, 0.0).otherwise(mu * mu), // mu²
          when(bad, 0.0).otherwise((lit(1.0) - mu) * (lit(1.0) - mu)),
          when(bad, 0.0).otherwise(gd), // GD
          when(bad, 0.0).otherwise(variance)) // V
      }
      (0 until 8).map(b => array(perSample.map(_(b)): _*))
    }
    val vec = concat(blocks: _*)
    val outSchema = StructType(Seq(
      StructField("i", org.apache.spark.sql.types.IntegerType, false),
      StructField("j", org.apache.spark.sql.types.IntegerType, false),
      StructField("kin", DoubleType),
      StructField("ibd0", DoubleType),
      StructField("ibd1", DoubleType),
      StructField("ibd2", DoubleType)))
    if (n <= distributeOver) {
      val vecRdd = d3.select(vec.as("__v")).rdd
        .map(r => MlVectors.dense(r.getSeq[Double](0).toArray))
      val g = new RowMatrix(vecRdd).computeGramianMatrix()
      // block b, sample s -> column b*n + s
      def blk(b1: Int, i: Int, b2: Int, j: Int): Double =
        g(b1 * n + i, b2 * n + j)
      val A = 0; val S = 1; val HA = 2; val HR = 3
      val MU2 = 4; val OM2 = 5; val GD = 6; val V = 7
      def phiOf(i: Int, j: Int): Double = {
        val den = blk(S, i, S, j)
        if (den > 0) blk(A, i, A, j) / den else Double.NaN
      }
      val c = Array.tabulate(n)(i => 2.0 * phiOf(i, i))
      val rows = for {
        i <- 0 until n
        j <- i until n
        if includeSelfKinship || j > i
      } yield {
        val (phi, k0, k1, k2) = estimates(
          blk(A, i, A, j), blk(S, i, S, j),
          blk(HA, i, HR, j) + blk(HR, i, HA, j),
          blk(MU2, i, OM2, j) + blk(OM2, i, MU2, j),
          blk(GD, i, GD, j), blk(GD, i, V, j), blk(V, i, GD, j),
          blk(V, i, V, j), c(i), c(j))
        Row(i, j, phi, k0, k1, k2)
      }
      val kept = rows.filter(r => {
        val kin = r.getDouble(2)
        !(kin < minKinship) // NaN kinship passes, like map-side filters
      })
      mt.spark.createDataFrame(
        mt.spark.sparkContext.parallelize(kept.toSeq, 1), outSchema)
    } else {
      // distributed: G = MᵀM as a BlockMatrix product; pair slots come
      // straight off G's blocks, the per-pair estimator is a
      // distributed map, and only the length-S diagonal is collected
      import org.apache.spark.storage.StorageLevel
      val spark = mt.spark
      val (g, vecs) =
        Genetics.sparseGramian(d3.select(vec.as("__v")), 8L * n)
      // slot layout for the 10 needed (rowBlock, colBlock) products of
      // an i<j pair: A·A, S·S, HA·HR, HR·HA, MU2·OM2, OM2·MU2, GD·GD,
      // GD·V, V·GD, V·V
      val slotOf = Map((0, 0) -> 0, (1, 1) -> 1, (2, 3) -> 2,
        (3, 2) -> 3, (4, 5) -> 4, (5, 4) -> 5, (6, 6) -> 6,
        (6, 7) -> 7, (7, 6) -> 8, (7, 7) -> 9)
      val bs = g.rowsPerBlock
      val nL = n
      val slotRecords = g.blocks.flatMap { case ((bi, bj), blk) =>
        val out = List.newBuilder[((Int, Int), (Int, Double))]
        val arr = blk.toArray // column-major
        var cIdx = 0
        while (cIdx < blk.numCols) {
          var rIdx = 0
          while (rIdx < blk.numRows) {
            val v = arr(cIdx * blk.numRows + rIdx)
            if (v != 0.0) {
              val a = bi * bs + rIdx; val b = bj * bs + cIdx
              val i = a % nL; val j = b % nL
              if (i <= j) slotOf.get((a / nL, b / nL)).foreach { s =>
                out += (((i, j), (s, v)))
              }
            }
            rIdx += 1
          }
          cIdx += 1
        }
        out.result()
      }.aggregateByKey(new Array[Double](10))(
        { (acc, sv) => acc(sv._1) += sv._2; acc },
        { (x, y) => var k = 0; while (k < 10) { x(k) += y(k); k += 1 }; x })
        .persist(StorageLevel.MEMORY_AND_DISK)
      // self-kinship corrections: the O(S) diagonal only
      val cArr = new Array[Double](n)
      slotRecords.filter { case ((i, j), _) => i == j }
        .map { case ((i, _), s) =>
          (i, if (s(1) > 0) 2.0 * (s(0) / s(1)) else Double.NaN)
        }
        .collect().foreach { case (i, v) => cArr(i) = v }
      val cB = spark.sparkContext.broadcast(cArr)
      val minKin = minKinship; val incSelf = includeSelfKinship
      val pairRows = slotRecords
        .filter { case ((i, j), _) => incSelf || j > i }
        .map { case ((i, j), s) =>
          val c = cB.value
          val (phi, k0, k1, k2) = estimates(s(0), s(1), s(2) + s(3),
            s(4) + s(5), s(6), s(7), s(8), s(9), c(i), c(j))
          Row(i, j, phi, k0, k1, k2)
        }
        .filter(r => !(r.getDouble(2) < minKin))
      val out = spark.createDataFrame(pairRows, outSchema)
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count() // force, so the indicator RDD can be released
      vecs.unpersist(blocking = false)
      slotRecords.unpersist(blocking = false)
      out
    }
  }

  /** The PC-Relate estimator arithmetic on one pair's Gramian slots:
    * returns (kin, ibd0, ibd1, ibd2). `ibs0Sum` = HAᵀHR + HRᵀHA,
    * `denomSum` = MU2ᵀOM2 + OM2ᵀMU2. */
  private def estimates(saa: Double, sss: Double, ibs0Sum: Double,
      denomSum: Double, sgg: Double, sgv: Double, svg: Double,
      svv: Double, ci: Double, cj: Double)
      : (Double, Double, Double, Double) = {
    val phi = if (sss > 0) saa / sss else Double.NaN
    val k2 =
      if (svv > 0) (sgg - cj * sgv - ci * svg + ci * cj * svv) / svv
      else Double.NaN
    val k0 =
      if (phi.isNaN || k2.isNaN) Double.NaN
      else if (phi <= K0Cutoff) 1.0 - 4.0 * phi + k2
      else if (denomSum > 0) ibs0Sum / denomSum
      else Double.NaN
    (phi, k0, 1.0 - (k2 + k0), k2)
  }

  /** Convenience: compute scores with `Pca.hweNormalizedPca(mt, k)` and
    * run pc_relate on them (the python wrapper's `k=` path). */
  def pcRelate(mt: MatrixTable, k: Int, minIndividualMaf: Double)
      : DataFrame = {
    val scores = Pca.hweNormalizedPca(mt, k).scores
      .select(col("scores")).collect()
      .map(_.getSeq[Double](0).toArray).toIndexedSeq
    pcRelate(mt, scores, minIndividualMaf)
  }
}
