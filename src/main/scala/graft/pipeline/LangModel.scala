package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level n-gram language-model scoring — the perplexity-style
  * quality filter (the CCNet/KenLM recipe: train a cheap LM on the
  * corpus, keep documents whose per-token negative log-likelihood is
  * low; gibberish and boilerplate land in the high-NLL tail). The
  * heuristic quality features in [[Text]] look at one document at a
  * time; this scorer is the corpus-calibrated complement.
  *
  * Model: bigram LM with add-α smoothing over the corpus vocabulary,
  *   P(w₂|w₁) = (c(w₁,w₂) + α) / (c(w₁) + α·V)
  * scored as the mean negative log-likelihood over a document's
  * bigrams. All probabilities derive from count tables the engine
  * aggregates in the same job — no external model artifact.
  *
  * Scale shape: tokenize once per doc and pair adjacent tokens IN-ROW
  * (an array zip over the token array — a codegen'd generator pass,
  * zero exchanges; bigram formation never shuffles).
  * Count tables shuffle on the gram (uniform); the score joins are
  * plain equi-joins on the gram — vocabulary-sized right sides that
  * AQE broadcasts when they fit. Per-bigram NLL rounds to 4 decimals
  * and sums as exact DECIMAL(18,4), so the per-doc mean is
  * order-independent (DuckDB-oracle-able bit-for-bit). */
object LangModel {

  /** (doc, w1, w2) bigram stream — every adjacent token pair, NOT
    * deduplicated (an LM needs occurrence counts; [[Text.shingles]]
    * dedups for fingerprinting). Adjacent tokens live in the SAME row's
    * token array, so the pairing is a narrow in-row zip of the array
    * with its own tail — the earlier lead()-over-(doc, pos) window paid
    * a full exchange + per-doc sort to pair values that never leave
    * their row (optimization guide §2.4: remove shuffles outright).
    * Same output: empty tokens are dropped BEFORE pairing (as the old
    * posexplode+filter did), so bigrams form between consecutive
    * non-empty tokens. */
  private def bigrams(df: DataFrame, id: String, text: String)
      : DataFrame = {
    val toks = filter(Text.tokens(col(text)),
      t => length(t) > lit(0))
    df.select(col(id).as("doc"), toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col("doc"), explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col("doc"), col("__bg")("w1").as("w1"),
        col("__bg")("w2").as("w2"))
  }

  /** Per-document bigram NLL under the corpus's own add-α bigram LM.
    * Returns (id, n_bigrams, sum_nll, sum_nll_units, nll): `sum_nll`
    * is the EXACT 4-decimal sum (the engine-portable value — means are
    * sums divided by counts, and that division's last-ulp rounding is
    * the one step two engines can disagree on), `sum_nll_units` the
    * same sum as an exact BIGINT in 1e-4 units (the integer form
    * downstream rank keys derive from), `nll` the per-bigram mean as a
    * convenience. Lower = more typical of the corpus. Documents with
    * no bigram (0- or 1-token) drop out. */
  def bigramNll(df: DataFrame, id: String, text: String,
      alpha: Double = 0.5): DataFrame = {
    // the bigram stream feeds the count tables AND the score join:
    // materialize once
    val bg = bigrams(df, id, text).localCheckpoint(false)
    val big = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    // V = conditioning vocabulary (distinct first words) — one scalar
    val v = uni.count()
    val nll = round(-log(
      (col("c12") + lit(alpha)) / (col("c1") + lit(alpha * v))), 4)
      .cast("decimal(18,4)")
    bg.join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(nll).as("__snd"))
      .select(col("doc").as(id), col("n_bigrams"),
        col("__snd").cast("double").as("sum_nll"),
        (col("__snd") * lit(10000)).cast("long").as("sum_nll_units"))
      .withColumn("nll", col("sum_nll") / col("n_bigrams"))
  }

  /** Corpus slice above/below an NLL quantile — the actual filter pass:
    * keep documents whose mean NLL is below the `q`-quantile of the
    * corpus. Ranks on an exact INTEGER key — the 1e-4-unit NLL sum
    * scaled by 1e6 and floor-divided by the bigram count (mean NLL in
    * 1e-10 units) — with id tiebreaks, so membership replays on any
    * engine and stack (the round-13 contract sweep: ranking on
    * `round(mean, 6)` left a double whose .5-boundary behaviour
    * differs between round IMPLEMENTATIONS — std::round of x·1e6 vs
    * exact-BigDecimal HALF_UP — and the fleet probe measured a real
    * sub-1e-12 boundary hit at sf0.01). The rank itself is the
    * two-phase distributed scan — one range exchange, never a
    * single-task window. */
  def filterByNll(df: DataFrame, id: String, text: String, q: Double,
      alpha: Double = 0.5): DataFrame = {
    val scored = bigramNll(df, id, text, alpha)
      .withColumn("nll_r",
        expr("(sum_nll_units * CAST(1000000 AS BIGINT)) div n_bigrams"))
      .localCheckpoint(false)
    val n = scored.count()
    val keep = math.max(1L, math.floor(n * q).toLong)
    graft.operators.Scans
      .runningCount(scored, Seq("nll_r", id), "__rk", inclusive = true)
      .filter(col("__rk") <= keep).drop("__rk", "nll_r")
  }
}
