package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus retrieval scoring — the ranking side of a training-data
  * pipeline (eval-set retrieval, targeted corpus slicing, "find every
  * document about X" curation queries). BM25 is the standard
  * lexical-relevance function (Robertson/Spärck Jones probabilistic
  * relevance framework; the Okapi BM25 form with the non-negative
  * idf floor used by Lucene).
  *
  * Scale shape: the corpus is tokenized ONCE (explode + one
  * hash-partitioned groupBy on the doc id — uniform keys), producing a
  * per-doc row of (length, per-query-term counts). Corpus statistics
  * (N, avgdl, per-term document frequencies) are q+2 scalars collected
  * to the driver — bounded by the query size, never the corpus. The
  * score pass is a narrow codegen'd projection over the per-doc rows
  * with the statistics inlined as literals, then one TakeOrdered for
  * the top-k. Nothing in the plan depends on corpus size except the
  * two scans. */
object Retrieval {

  /** Top-`k` documents by Okapi BM25 relevance to `queryTerms`.
    *
    * score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5)) — the
    * Lucene-style floor keeps idf positive even for terms in more than
    * half the corpus.
    *
    * Determinism contract (DuckDB-oracle-able): per-term contributions
    * round to 4 decimals and sum as exact DECIMAL(18,4) — the total is
    * order-independent; ties in the ranking break by ascending id.
    * Returns (id, score, n_matched). */
  def bm25TopK(df: DataFrame, id: String, text: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms.map(_.toLowerCase).distinct
    require(terms.nonEmpty, "empty query")
    val tfCol = (i: Int) => s"__tf$i"
    // one corpus scan: per-doc length + per-query-term counts, partial
    // aggregation map-side, one uniform-key shuffle on the doc id
    val perDoc = df
      .select(col(id).as("doc"), explode(Text.tokens(col(text))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("doc")
      .agg(count(lit(1)).as("dl"),
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("t") === t, 1L).otherwise(0L)).as(tfCol(i))
        }: _*)
      // consumed by the stats agg AND the score projection
      .localCheckpoint(false)
    // q + 2 scalars to the driver — bounded by the query, not the corpus
    val aggs = Seq(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")) ++
      terms.indices.map(i =>
        sum((col(tfCol(i)) > 0).cast("long")).as(s"__df$i"))
    val statsRow = perDoc.agg(aggs.head, aggs.tail: _*).head()
    val n = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / n
    val idf = terms.indices.map { i =>
      val dfT = statsRow.getLong(2 + i).toDouble
      math.log(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
    }
    val contrib = terms.indices.map { i =>
      val tf = col(tfCol(i)).cast("double")
      round(lit(idf(i)) * tf * (k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))), 4)
        .cast("decimal(18,4)")
    }
    perDoc
      .withColumn("score",
        contrib.reduce(_ + _).cast("double"))
      .withColumn("n_matched",
        terms.indices.map(i => (col(tfCol(i)) > 0).cast("long"))
          .reduce(_ + _))
      .filter(col("n_matched") > 0)
      .select(col("doc").as(id), col("score"), col("n_matched"))
      .orderBy(col("score").desc, col(id).asc)
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) — the
    * standard hybrid-retrieval combiner: each candidate list
    * contributes 1/(rrfK + rank) for every id it ranks, and lists of
    * incommensurable scores (BM25 lexical vs cosine dense) fuse
    * without calibration.
    *
    * Inputs are (id, score) lists that are ALREADY top-k sized —
    * outputs of `bm25TopK` / `Similarity.*TopK` — so the global
    * row_number window here runs over bounded constants, never
    * corpus-scaled data; at 100 TB the corpus work happened upstream
    * in the list producers. Ranks order by (score desc, id asc):
    * callers should pass scores that are engine-exact (decimal-summed
    * BM25, 6dp-rounded cosine) so ranking replays anywhere.
    *
    * Contributions are EXACT integers in 1e-6 units:
    * units = half-up(1e6 / (rrfK + r)) = (2e6 + d) div (2d) for
    * d = rrfK + r — no double anywhere (the round-13 contract sweep:
    * the earlier `round(1.0/d, 6)` was double-computed, and for dyadic
    * d (r = 68, d = 128 → exactly 0.0078125) sat exactly ON the grid
    * line, where two engines' round IMPLEMENTATIONS — std::round of
    * x·1e6 vs exact-BigDecimal HALF_UP — are not obliged to agree).
    * Returns the fused top-k as (id, rrf_units, n_lists),
    * units-descending, id tiebreak. */
  def rrfFuse(lists: Seq[DataFrame], id: String, score: String, k: Int,
      rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty && k > 0 && rrfK >= 0, "need lists and k > 0")
    import org.apache.spark.sql.expressions.Window
    val ranked = lists.map { df =>
      val w = Window.orderBy(col(score).desc, col(id).asc)
      df.select(col(id), col(score))
        .withColumn("__r", row_number().over(w).cast("long"))
        .select(col(id), expr(
          s"(2000000 + ($rrfK + __r)) div (2 * ($rrfK + __r))")
          .as("__c"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy(id)
      .agg(sum(col("__c")).as("rrf_units"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_units").desc, col(id).asc)
      .limit(k)
  }
}
