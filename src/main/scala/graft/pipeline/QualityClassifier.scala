package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trainable corpus quality classifier — the CCNet/fastText-style
  * linear filter: cheap codegen'd text features, a logistic model
  * trained against a reference signal (a trusted corpus slice, a
  * language tag, a human-labeled sample), and a scoring pass that
  * attaches P(reference-like) to every document. The heuristic
  * [[Text.qualityScore]] is fixed; this one is calibrated on data.
  *
  * Scale shape: training is IRLS where EACH iteration is ONE narrow
  * aggregation over the corpus producing the d×d normal matrix and
  * d-vector (d = nFeatures + intercept, so ~dozens of doubles);
  * the tiny symmetric solve happens on the driver. No per-row state,
  * no shuffle beyond the aggregation's partial→final combine, and the
  * iteration count is fixed — a 100 TB corpus trains in
  * `iters` passes and scores in one. */
object QualityClassifier {

  /** The default feature set: every column is a pure codegen'd
    * expression over the text (no UDF, no shuffle). */
  def features(text: Column): Seq[(String, Column)] = Seq(
    "punct_ratio" -> Text.punctRatio(text),
    "stopword_ratio" -> Text.stopwordRatio(text),
    "mean_word_len" -> Text.meanWordLen(text),
    "dup_line_frac" -> Text.duplicateLineFraction(text),
    "symbol_word_ratio" -> Text.symbolToWordRatio(text),
    "log_len" -> log(greatest(length(text), lit(1)).cast("double")))

  /** Logistic weights (intercept first, then `feats` order) via
    * distributed IRLS. `label` must be 0/1. Each iteration aggregates
    * sum(w·xᵢ·xⱼ) and sum(w·xᵢ·z) with the current β joined in as a
    * broadcast one-row frame (plan shape constant across iterations →
    * one codegen compile, not `iters`), then solves the (d+1)×(d+1)
    * system with Breeze. */
  def trainLogistic(df: DataFrame, label: Column,
      feats: Seq[(String, Column)], iters: Int = 8,
      ridge: Double = 1e-6): Seq[Double] = {
    val d = feats.length + 1
    val xCols: Seq[Column] = lit(1.0) +: feats.map(_._2.cast("double"))
    // materialize the feature frame once — consumed `iters` times
    val featDf = df.select(
      (label.cast("double").as("__y") +:
        xCols.zipWithIndex.map { case (c, i) => c.as(s"__x$i") }): _*)
      .localCheckpoint(false)
    var beta = Array.fill(d)(0.0)
    var it = 0
    // β enters each iteration as a broadcast ONE-ROW frame, not as
    // inlined literals: with literals every iteration's aggregate is a
    // textually different generated class (the β values are burned into
    // the source), so whole-stage codegen janino-compiles `iters` times
    // — all driver-side serial time. With column references the plan
    // and its generated source are IDENTICAL across iterations and the
    // code cache hits after the first (guide §1.2: per-task work after
    // algorithm shape; the arithmetic is the same doubles in the same
    // order, so trained weights are bit-identical either way).
    val spark = df.sparkSession
    val betaSchema = org.apache.spark.sql.types.StructType(
      (0 until d).map(i => org.apache.spark.sql.types.StructField(
        s"__bb$i", org.apache.spark.sql.types.DoubleType,
        nullable = false)))
    while (it < iters) {
      val betaDf = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row.fromSeq(beta.toSeq)), betaSchema)
      val withB = featDf.crossJoin(broadcast(betaDf))
      val eta = (0 until d).map(i => col(s"__x$i") * col(s"__bb$i"))
        .reduce(_ + _)
      val mu = lit(1.0) / (lit(1.0) + exp(-eta))
      // clamp keeps w positive when a feature separates perfectly
      val w = greatest(mu * (lit(1.0) - mu), lit(1e-10))
      val z = eta + (col("__y") - mu) / w
      // each per-row product is deterministic; summing as DECIMAL makes
      // the reduction ORDER-FREE, so the trained weights are bit-stable
      // across runs/partitionings — the property a golden oracle needs
      def dsum(c: Column) = sum(c.cast("decimal(38,18)")).cast("double")
      val aggs =
        (for (i <- 0 until d; j <- i until d)
          yield dsum(w * col(s"__x$i") * col(s"__x$j"))
            .as(s"__a${i}_$j")) ++
        (0 until d).map(i => dsum(w * col(s"__x$i") * z).as(s"__b$i"))
      val row = withB.agg(aggs.head, aggs.tail: _*).head()
      val a = breeze.linalg.DenseMatrix.zeros[Double](d, d)
      var idx = 0
      for (i <- 0 until d; j <- i until d) {
        a(i, j) = row.getDouble(idx); a(j, i) = row.getDouble(idx)
        idx += 1
      }
      // ridge keeps the solve well-posed under constant features and
      // perfect separation (where IRLS weights otherwise diverge)
      for (i <- 0 until d) a(i, i) += ridge
      val b = breeze.linalg.DenseVector(
        (0 until d).map(i => row.getDouble(idx + i)).toArray)
      beta = (a \ b).toArray
      it += 1
    }
    beta.toSeq
  }

  /** P(label = 1) under trained weights — one narrow scoring pass. */
  def score(text: Column, feats: Seq[(String, Column)],
      weights: Seq[Double]): Column = {
    val xCols: Seq[Column] = lit(1.0) +: feats.map(_._2.cast("double"))
    val eta = xCols.zip(weights).map { case (c, w) => c * w }
      .reduce(_ + _)
    lit(1.0) / (lit(1.0) + exp(-eta))
  }

  /** Train on `df` against a boolean reference signal and score every
    * document: returns (id, p) with the default feature set. */
  def trainAndScore(df: DataFrame, id: String, text: String,
      label: Column, iters: Int = 8): DataFrame = {
    val fs = features(col(text))
    val w = trainLogistic(df, label, fs, iters)
    df.select(col(id), score(col(text), fs, w).as("p"))
  }
}
