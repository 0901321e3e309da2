package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.pipeline.Text

/** Streaming corpus profiling: the `pipeline.Text` feature kernels are
  * pure codegen'd Column expressions, so they lift onto a Structured
  * Streaming source unchanged — the same language-ID, token-count and
  * quality logic that filters a batch corpus scores an unbounded
  * document feed (reference parity: none — the reference has no
  * streaming surface, SURVEY §2.9; this is part of graft's
  * training-data pipeline extension).
  *
  * Scale shape: the stateless feature pass holds no state at all; the
  * per-language profile is a streaming grouped aggregate whose state
  * is ONE ROW PER LANGUAGE — bounded regardless of corpus size, so it
  * survives a 100 TB/day feed without watermark tuning. */
object StreamText {

  /** Stateless per-document features on a document stream (or batch
    * frame — the expression tree is identical). */
  def docFeatures(docs: DataFrame, id: String, text: String): DataFrame = {
    val t = col(text)
    docs.select(col(id),
      Text.langId(t).as("pred_lang"),
      Text.tokenCount(t).as("n_tokens"),
      Text.qualityScore(t).as("quality"))
  }

  /** Per-language corpus profile: doc count + token volume. In
    * streaming this runs as a complete-mode grouped aggregate (state =
    * one row per language). */
  def langProfile(docs: DataFrame, id: String, text: String): DataFrame =
    docFeatures(docs, id, text)
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))

  // state = ONE row per language (a bounded enum at any corpus
  // scale): 2 stores hold it; every extra store is one more per-batch
  // delta-file commit (Events.statePartitions doc)
  private val langProfileStatePartitions = 2

  /** Drive the profile over a parquet file/dir as a file stream into a
    * complete-mode memory sink; returns the final profile. */
  def runLangProfile(spark: SparkSession, path: String, id: String,
      text: String): DataFrame =
    Events.replay(spark, path, "graft_stxt",
      Events.statePartitions(langProfileStatePartitions),
      OutputMode.Complete())(langProfile(_, id, text))

  /** Streaming exact-n-gram decontamination guard — the live-ingestion
    * form of `pipeline.Dedup.exactNgramDecontam`: the benchmark set
    * reduces ONCE (driver-side) to its distinct 60-bit gram-hash set,
    * and each arriving document is screened by a per-row
    * binary-search kernel (`CountInSetExpr`) — a pure STATELESS
    * projection, so the guard needs no state store, no watermark, no
    * shuffle, and its output is batch-composition-independent and
    * EXACTLY the batch operator's (same hashes, same counts), which is
    * what the gate's oracle checks. The bench gram set is small by
    * nature (eval suites); at 100 TB/day of ingest the cost is one
    * codegen'd pass per micro-batch.
    *
    * Emits (id, n_hits, n_distinct) for contaminated docs only. */
  def decontamStream(docs: DataFrame, id: String, text: String,
      benchGramHashes: Array[Long], n: Int = 8,
      salt: String = "decon"): DataFrame =
    docs
      .select(col(id).cast("long").as("doc"),
        graft.functions.TextKernels.countInSet(
          graft.functions.TextKernels.tokenNgramHashes(
            graft.pipeline.Text.tokens(col(text)), n, salt),
          benchGramHashes).as("c"))
      .filter(col("c.n_hits") > 0)
      .select(col("doc").as(id), col("c.n_hits").as("n_hits"),
        col("c.n_distinct").as("n_distinct"))

  /** Run the decontamination guard to completion over a static corpus
    * directory, screening against `bench` (a static table whose
    * distinct gram hashes are collected driver-side — the same
    * reduction the batch operator broadcasts). Returns the streamed
    * (id, n_hits, n_distinct) rows — exactly
    * `Dedup.exactNgramDecontam(corpus, bench)`. */
  def runDecontam(spark: SparkSession, path: String, id: String,
      text: String, bench: DataFrame, benchText: String,
      n: Int = 8): DataFrame = {
    val benchHashes = bench
      .select(explode(graft.functions.TextKernels.tokenNgramHashes(
        graft.pipeline.Text.tokens(col(benchText)), n, "decon"))
        .as("h"))
      .distinct().collect().map(_.getLong(0))
    Events.replay(spark, path, "graft_sdec")(
      decontamStream(_, id, text, benchHashes, n))
  }

  /** Streaming temperature-flattened mixture sampling — the live form
    * of `pipeline.Sampling.temperatureSample`: a REFERENCE corpus
    * (batch) establishes the per-stratum parts-per-thousand rates once
    * (exact integer arithmetic end to end for α ∈ {0.5, 1}; bounded by
    * |strata|), and the stream applies the identical stateless
    * membership predicate — one broadcast equi-join plus the integer
    * md5 filter per micro-batch. No state store, no watermark: output
    * is batch-composition-independent and EXACTLY the batch operator's
    * on the same rows, the property the gate's oracle checks. At
    * 100 TB/day the per-batch cost is a codegen'd filter pass; rates
    * refresh by re-running the (cheap, narrow) batch aggregation on
    * whatever cadence the mixture should track. */
  def temperatureMixStream(docs: DataFrame, id: String, stratum: String,
      rates: DataFrame, salt: String = "tmix"): DataFrame =
    graft.pipeline.Sampling.applyTemperatureRates(
      docs, id, stratum, rates, salt)

  /** Run the temperature-mix guard to completion over a static corpus
    * directory, deriving rates from a batch read of the same corpus
    * with budget = total div `budgetDiv` — the parity harness for
    * [[temperatureMixStream]]; returns the surviving (id, stratum)
    * rows, equal to `Sampling.temperatureSampleBudgetDiv` on the batch
    * read. Output drains through the bounded parquet sink (it is
    * ~corpus/budgetDiv-scaled — never driver-memory-resident). */
  def runTemperatureMix(spark: SparkSession, path: String, id: String,
      stratum: String, budgetDiv: Long, alpha: Double): DataFrame = {
    val batch = spark.read.parquet(path)
    val rates = graft.pipeline.Sampling.temperatureRates(batch, stratum,
      expr(s"__ntot div CAST($budgetDiv AS BIGINT)"), alpha)
      .localCheckpoint(false)
    Events.replay(spark, path, "graft_stmx", drain = true) {
      temperatureMixStream(_, id, stratum, rates)
        .select(col(id), col(stratum))
    }
  }
}
