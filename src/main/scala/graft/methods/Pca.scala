package graft.methods

import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.MatrixTable
import graft.functions.Calls

/** PCA / GRM over the genotype matrix (reference
  * `python/hail/methods/pca.py:15` `hwe_normalize`, `:35`
  * `hwe_normalized_pca`; `statgen.py:3576` `genetic_relatedness_matrix`;
  * Scala kernel `is/hail/methods/PCA.scala` — spectral via
  * `RowMatrix.computeSVD`, which is exactly what we use).
  *
  * Spark shape: variants are the distributed dimension (an
  * `RDD[Vector]`-backed `RowMatrix`, arbitrarily many rows); samples are
  * the vector dimension (thousands — the k×k / n×k local results fit on
  * the driver, the same contract as the reference's PCA.scala). The
  * normalized dosage matrix is built with pure Column expressions; only
  * the final SVD leaves DataFrame land. Loadings are computed as the
  * per-row projection `row · V · S⁻¹` (broadcast V, S) instead of
  * `computeU` — keyed, deterministic, and one narrow pass. */
object Pca {

  final case class PcaResult(
      eigenvalues: Seq[Double],
      scores: DataFrame, // one row per sample: col key fields + scores array
      loadings: Option[DataFrame]) // one row per variant: key + loadings

  /** HWE-normalized dosage rows: filters monomorphic variants, returns
    * (filtered rows with `__norm` array column, m = variant count).
    * Normalization: (gt - mean) / sqrt(mean (2-mean) m/2), 0 when missing
    * (reference `pca.py:15-31`). `scaleM` toggles the 1/sqrt(m/2) factor
    * (present for PCA, absent for GRM whose Gramian is divided by m/2). */
  private[graft] def hweNormalized(mt: MatrixTable, scaleM: Boolean)
      : (DataFrame, Long) = {
    val st = graft.functions.GenotypeFolds.doseStats(mt.entries)
    val withDose = mt.rows.withColumn("__st", st)
      .withColumn("__ac", col("__st")("ac"))
      .withColumn("__nc", col("__st")("nc").cast("double"))
      .filter(col("__ac") > 0 && col("__ac") < col("__nc") * 2)
    val m = withDose.count()
    // nc>0 is implied by the monomorphic filter, but ANSI double-division
    // can be evaluated speculatively ahead of it — guard explicitly
    val mean = when(col("__nc") > 0, col("__ac") / col("__nc"))
    val denom = if (scaleM)
      sqrt(mean * (lit(2.0) - mean) * (m / 2.0))
    else
      sqrt(mean * (lit(2.0) - mean))
    val norm = graft.functions.GenotypeFolds.doseNorm(
      mt.entries, mean, denom)
    (withDose.withColumn("__norm", norm)
      .drop("__st", "__ac", "__nc", MatrixTable.EntriesField), m)
  }

  /** hwe_normalized_pca (reference `pca.py:35`): top-k eigenvalues,
    * per-sample score table, optional per-variant loadings. */
  def hweNormalizedPca(mt: MatrixTable, k: Int = 10,
      computeLoadings: Boolean = false): PcaResult = {
    val (normRows, _) = hweNormalized(mt, scaleM = true)
    svdOf(mt, normRows, k, computeLoadings)
  }

  /** Generic PCA (reference `pca.py` `hl.pca`): principal components of
    * an arbitrary per-entry numeric expression, with NO normalization.
    * The reference requires non-missing entries; here a missing value
    * surfaces as NaN in the factorization (loud, like the reference's
    * error) rather than being silently imputed. */
  def pca(mt: MatrixTable, entry: Column => Column, k: Int = 10,
      computeLoadings: Boolean = false): PcaResult = {
    val vec = transform(mt.entries,
      e => coalesce(entry(e).cast("double"), lit(Double.NaN)))
    svdOf(mt, mt.rows.withColumn("__norm", vec), k, computeLoadings)
  }

  /** Shared tail of `pca`/`hweNormalizedPca`: top-k SVD of the row
    * vectors in `__norm`, eigenvalues + sample scores + optional
    * per-row loadings. */
  private def svdOf(mt: MatrixTable, normRows: DataFrame, k: Int,
      computeLoadings: Boolean): PcaResult = {
    val spark = mt.spark
    val kk = math.min(k, mt.nCols)
    val vecRdd = normRows.select(col("__norm")).rdd
      .map(r => MlVectors.dense(
        r.getSeq[Double](0).toArray))
    vecRdd.cache() // RowMatrix makes multiple passes (Gram + multiply)
    try {
      val svd = new RowMatrix(vecRdd).computeSVD(kk, computeU = false)
      val s = svd.s.toArray
      val v = svd.V // nCols x kk local
      val eigen = s.map(x => x * x).toSeq
      // sample scores = V * diag(s)  (reference returns U_k S_k projections
      // for columns of the variant-major matrix = our V S)
      val scoreRows = mt.colValues.zipWithIndex.map { case (cv, j) =>
        Row.fromSeq(cv.toSeq :+ (0 until kk).map(i => v(j, i) * s(i)))
      }
      val scoresDf = spark.createDataFrame(
        spark.sparkContext.parallelize(scoreRows.toSeq, 1),
        StructType(mt.colSchema.fields :+
          StructField("scores", ArrayType(DoubleType))))
      val loadings =
        if (!computeLoadings) None
        else {
          // loadings_row = norm_row · V · S^-1, a pure per-row expression
          // over the broadcast (small) V and S
          val proj = (0 until kk).map { i =>
            val vi = array((0 until mt.nCols).map(j => lit(v(j, i))): _*)
            (graft.functions.VectorOps.dot(col("__norm"), vi) / s(i))
              .as(s"__pc$i")
          }
          Some(normRows.select((mt.rowKey.map(col) :+
            array(proj: _*).as("loadings")): _*))
        }
      PcaResult(eigen, scoresDf, loadings)
    } finally vecRdd.unpersist(blocking = false)
  }

  /** realized_relationship_matrix (reference `statgen.py:3656`): like the
    * GRM but variance-normalized empirically — per variant,
    * norm = (gt - mean) / sqrt(ACsq - AC²/n_called), rows with
    * centered length <= 0.1 dropped; RRM = MᵀM / (m/n). */
  def rrm(mt: MatrixTable,
      distributeOver: Int = Genetics.PairCountDistributeOver)
      : DataFrame = {
    val st = graft.functions.GenotypeFolds.doseStats(mt.entries)
    val withStats = mt.rows.withColumn("__st", st)
      .withColumn("__ac", col("__st")("ac"))
      .withColumn("__acsq", col("__st")("acsq"))
      .withColumn("__nc", col("__st")("nc").cast("double"))
      .filter(col("__nc") > 0)
      .withColumn("__len", when(col("__nc") > 0,
        sqrt(col("__acsq") - col("__ac") * col("__ac") / col("__nc"))))
      .filter(col("__len") > 0.1)
    val m = withStats.count()
    val norm = graft.functions.GenotypeFolds.doseNorm(mt.entries,
      when(col("__nc") > 0, col("__ac") / col("__nc")), col("__len"))
    gramEntries(mt, withStats.withColumn("__norm", norm),
      mt.nCols.toDouble / m, "rrm", distributeOver)
  }

  /** genetic_relatedness_matrix (reference `statgen.py:3576`):
    * GRM = MᵀM / (m/2) over (gt-mean)/sqrt(mean(2-mean))-normalized
    * dosages; returns the sample×sample matrix as a DataFrame of
    * (i, j, value) for i <= j (symmetric). Below `distributeOver`
    * samples the Gramian is one treeAggregate with an S×S driver
    * result; past it the product runs as a distributed BlockMatrix
    * MᵀM and pair rows are emitted from the product's blocks — nothing
    * S²-sized ever lands on the driver. */
  def grm(mt: MatrixTable,
      distributeOver: Int = Genetics.PairCountDistributeOver)
      : DataFrame = {
    val (normRows, m) = hweNormalized(mt, scaleM = false)
    gramEntries(mt, normRows, 2.0 / m, "grm", distributeOver)
  }

  /** Shared Gramian → (i, j, value) emitter for GRM/RRM: driver-local
    * treeAggregate result below `distributeOver` samples, BlockMatrix
    * MᵀM with block-local pair emission above it. The distributed path
    * omits pairs whose every product term is zero (their block is never
    * materialized) — at the scales that need it, S² zero rows are
    * noise. */
  private def gramEntries(mt: MatrixTable, normRows: DataFrame,
      scale: Double, valueName: String, distributeOver: Int)
      : DataFrame = {
    val spark = mt.spark
    val n = mt.nCols
    val schema = StructType(Seq(
      StructField("i", IntegerType, false),
      StructField("j", IntegerType, false),
      StructField(valueName, DoubleType, false)))
    if (n <= distributeOver) {
      val vecRdd = normRows.select(col("__norm")).rdd
        .map(r => MlVectors.dense(r.getSeq[Double](0).toArray))
      val gram = new RowMatrix(vecRdd).computeGramianMatrix() // S×S
      val rows = for {
        i <- 0 until n
        j <- i until n
      } yield Row(i, j, gram(i, j) * scale)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    } else {
      val (g, vecs) =
        Genetics.sparseGramian(normRows.select(col("__norm")), n.toLong)
      val bs = g.rowsPerBlock
      val pairRows = g.blocks.flatMap { case ((bi, bj), blk) =>
        val out = List.newBuilder[Row]
        val arr = blk.toArray // column-major
        var cIdx = 0
        while (cIdx < blk.numCols) {
          var rIdx = 0
          while (rIdx < blk.numRows) {
            val i = bi * bs + rIdx
            val j = bj * bs + cIdx
            if (i <= j)
              out += Row(i, j, arr(cIdx * blk.numRows + rIdx) * scale)
            rIdx += 1
          }
          cIdx += 1
        }
        out.result()
      }
      // localCheckpoint, not persist: same materialize-once semantics,
      // but the blocks are released by the ContextCleaner when the
      // returned frame is dropped — a CacheManager persist would pin
      // them for the life of the session unless the caller unpersists
      val out = spark.createDataFrame(pairRows, schema)
        .localCheckpoint(false)
      out.count() // force, so the vector RDD can be released
      vecs.unpersist(blocking = false)
      out
    }
  }

  /** row_correlation (reference `statgen.py:3730`): Pearson correlation
    * between all pairs of rows of `entryExpr`, missing entries
    * mean-imputed per row. Rows index 0..n-1 in row-key order (the
    * reference's `add_row_index`). Returns the n×n `X·Xᵀ` BlockMatrix
    * over unit-normalized centered row vectors — n² entries, so
    * band-sparsify before materializing at scale (as `ld_matrix` does).
    * Constant rows (zero variance) yield NaN, as in the reference. */
  /** Per-row mean-imputed, centered, unit-L2-normalized entry vector
    * (`__v`), the reference `BlockMatrix.from_entry_expr(mean_impute=
    * center=normalize=True)` normalization shared by row_correlation
    * and ld_score. Zero-variance rows yield NaN vectors, as there. */
  private[methods] def unitNormalized(df: DataFrame,
      entries: Column, entryExpr: Column => Column): DataFrame = df
    .withColumn("__x", transform(entries, e => entryExpr(e).cast("double")))
    .withColumn("__sn", aggregate(col("__x"),
      struct(lit(0.0).as("s"), lit(0L).as("n")),
      (acc, v) => when(v.isNotNull,
        struct((acc("s") + v).as("s"), (acc("n") + 1L).as("n")))
        .otherwise(acc)))
    .withColumn("__mean", col("__sn")("s") / col("__sn")("n"))
    .withColumn("__c", transform(col("__x"),
      v => coalesce(v, col("__mean")) - col("__mean")))
    .withColumn("__nrm",
      sqrt(aggregate(col("__c"), lit(0.0), (a, v) => a + v * v)))
    .withColumn("__v", transform(col("__c"), v => v / col("__nrm")))
    .drop("__x", "__sn", "__mean", "__c", "__nrm")

  /** pc_project (reference `experimental/pca.py:13`): project genotypes
    * onto precomputed PC loadings. `loadingsCol`/`afCol` are row fields
    * (array<double> loadings and reference allele frequency, e.g.
    * joined from a loadings table); rows with missing loadings/af or
    * af outside (0,1) are skipped, and n_variants counts the rows that
    * CARRY loadings (the reference's loadings-table count). Returns the
    * col-keyed score table.
    *
    * Spark shape: explode entries with the row's loadings, one
    * per-(column, component) partial-sum groupBy — no driver-side
    * matrix, any number of variants. */
  def pcProject(mt: MatrixTable, loadingsCol: String, afCol: String,
      callField: String = "GT"): graft.Table = {
    val nVariants = mt.rows.filter(col(loadingsCol).isNotNull).count()
    val filtered = mt.rows.filter(col(loadingsCol).isNotNull &&
      col(afCol).isNotNull && col(afCol) > 0 && col(afCol) < 1)
    val e = filtered.select(col(loadingsCol).as("__l"),
      col(afCol).as("__af"),
      posexplode(col(MatrixTable.EntriesField)).as(Seq("__cidx", "__e")))
    // when()-guarded: merged projections can evaluate past the af
    // filter speculatively, and ANSI throws on double division by zero
    val gtn = when(col("__af") > 0 && col("__af") < 1,
      (Calls.nNonRefAlleles(col("__e")(callField)).cast("double")
        - lit(2.0) * col("__af")) /
        sqrt(lit(2.0 * nVariants) * col("__af") * (lit(1.0) - col("__af"))))
    val perK = e.withColumn("__gtn", gtn)
      .filter(col("__gtn").isNotNull)
      .select(col("__cidx"), col("__gtn"),
        posexplode(col("__l")).as(Seq("__k", "__lv")))
      .groupBy(col("__cidx"), col("__k"))
      .agg(sum(col("__lv") * col("__gtn")).as("__s"))
      .collect().groupBy(_.getInt(0))
    val k = perK.values.headOption.map(_.length).getOrElse(0)
    val out = mt.colValues.zipWithIndex.map { case (cv, i) =>
      val scores = perK.get(i).map(_.sortBy(_.getInt(1))
        .map(_.getDouble(2)).toSeq).getOrElse(Seq.fill(k)(0.0))
      Row.fromSeq(cv.toSeq :+ scores)
    }
    val schema = StructType(mt.colSchema.fields :+
      StructField("scores", ArrayType(DoubleType)))
    graft.Table(mt.spark.createDataFrame(
      mt.spark.sparkContext.parallelize(out.toSeq, 1), schema), mt.colKey)
  }

  def rowCorrelation(mt: MatrixTable, entryExpr: Column => Column,
      blockSize: Int = graft.linalg.BlockMatrix.DefaultBlockSize)
      : graft.linalg.BlockMatrix = {
    val idx = graft.Table(mt.rows, mt.rowKey).addIndex("__ri").df
    val norm = unitNormalized(idx, mt.entries, entryExpr)
      .select(col("__ri"), col("__v"))
      // consumed by count() AND fromRowVectors — materialize the
      // normalized vectors once instead of re-running the scan
      .localCheckpoint(false)
    val nRows = norm.count()
    val bm = graft.linalg.BlockMatrix.fromRowVectors(
      norm, "__ri", "__v", nRows, mt.nCols.toLong, blockSize)
    // X and Xᵀ both pull the gridded blocks; cache so the grid builds
    // once (the reference writes X to a temp file for the same reason)
    bm.m.blocks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bm.dot(bm.transpose)
  }
}
