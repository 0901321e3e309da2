package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Support._

/** Streaming gates: each replays a batch table through `Events.replay` and
  * must equal the batch answer. */
object StreamGates {
  /** A session frame's `start_ts`/`end_ts` nanosecond bounds truncated to
    * microseconds: DuckDB reads the TIMESTAMP(NANOS) column at micro
    * precision, so both engines then agree. */
  private def toMicros(sessions: DataFrame): DataFrame = sessions
    .withColumn("start_ts",
      col("start_ts") - pmod(col("start_ts"), lit(1000L)))
    .withColumn("end_ts",
      col("end_ts") - pmod(col("end_ts"), lit(1000L)))

  /** Shared by `stream_sessionize_batch` and `stream_sessionize`: the
    * batch closed form of 30-minute gap sessions per user. */
  private def SessionizeOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts, value
      |  FROM events),
      |l AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |      OR ts - lag(ts) OVER w > 1800000000000
      |    THEN 1 ELSE 0 END AS ns
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM l)
      |SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  def all: Seq[Gate] = Seq(
    // --- Structured Streaming: the hourly windowed agg runs as a real
    // readStream -> watermark -> window -> memory-sink query over the
    // events files; the oracle computes the same thing in batch SQL, so
    // the gate checks stream/batch parity exactly ---------------------------
    Gate("stream_hourly_agg", (s, dir) =>
      streaming.Events.runHourlyTypeAgg(s, s"$dir/events.parquet"),
      """SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // --- streaming minhash near-dup: a REAL readStream over the
    // documents table (one file per trigger) through the stateful
    // bucket kernel; output = distinct candidate pairs, oracled against
    // the SAME md5 band-bucket math in DuckDB --------------------------
    Gate("stream_minhash_pairs", (s, dir) =>
      streaming.StreamDedup.runMinhashPairs(s, s"$dir/documents.parquet",
        "doc_id", "text")
        .orderBy("id_a", "id_b"),
      // the streaming kernel must surface exactly the batch band-bucket
      // candidates (the md5 family is bit-reproducible in DuckDB)
      raw"""WITH ${minhashBandCtes("documents", keepShingles = false)}
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bsig = b.bsig
        |  AND a.doc_id < b.doc_id""".stripMargin),

    // --- streaming minhash, live-tailing horizon mode: band buckets
    // bounded by event-time eviction; output = the in-horizon subset of
    // stream_minhash_pairs (ts synthesized as doc_id seconds) --------------
    Gate("stream_minhash_pairs_horizon", (s, dir) =>
      streaming.StreamDedup.runMinhashPairsHorizon(s,
        s"$dir/documents.parquet", "doc_id", "text", horizonSec = 100)
        .orderBy("id_a", "id_b"),
      // the in-horizon restriction of stream_minhash_pairs: event time is
      // doc_id seconds, horizon 100 s -> |id_b - id_a| <= 100
      raw"""WITH ${minhashBandCtes("documents", keepShingles = false)}
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bsig = b.bsig
        |  AND a.doc_id < b.doc_id
        |  AND b.doc_id - a.doc_id <= 100""".stripMargin),

    // --- streaming winnow contamination detection: fingerprints stream
    // through a per-fingerprint bucket state; verified candidates must
    // equal the batch substring join (same oracle as pipe_winnow_pairs —
    // the guarantee theorem holds across micro-batch boundaries too) --------
    Gate("stream_winnow_pairs", (s, dir) =>
      streaming.StreamDedup.runWinnowPairs(s, s"$dir/documents.parquet",
        "doc_id", "text"),
      // identical to pipe_winnow_pairs: the streaming kernel must surface
      // exactly the batch candidate set (verified), micro-batches or not
      WinnowPairsOracleSql),

    // --- streaming winnow, live-tailing horizon mode: bounded state via
    // event-time eviction; output = the in-horizon subset of
    // stream_winnow_pairs (ts synthesized as doc_id seconds) --------------
    Gate("stream_winnow_pairs_horizon", (s, dir) =>
      streaming.StreamDedup.runWinnowPairsHorizon(s,
        s"$dir/documents.parquet", "doc_id", "text", horizonSec = 100),
      // the in-horizon restriction of stream_winnow_pairs: event time is
      // doc_id seconds, horizon 100 s -> pairs with id_b - id_a <= 100
      // (emission filters exactly; eviction is the state bound — see
      // StreamDedup.winnowPairsStreamHorizon's contract)
      s"""WITH $gram19Ctes
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  AND b.doc_id - a.doc_id <= 100
        |GROUP BY 1, 2""".stripMargin),

    // --- streaming corpus profile: the langid/token kernels over a
    // document stream, complete-mode grouped agg (state = one row per
    // language) — oracled against the same profile in DuckDB ---------------
    Gate("stream_lang_profile", (s, dir) =>
      streaming.StreamText.runLangProfile(s, s"$dir/documents.parquet",
        "doc_id", "text"),
      s"""WITH w AS (
        |  SELECT text,
        |    string_split_regex(lower(text), ' +') AS toks
        |  FROM documents),
        |$langScoreCte,
        |langs AS (
        |  SELECT
        |    CASE WHEN cjk > length(text) * 0.2 THEN 'zh'
        |         WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
        |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
        |           THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr'
        |         ELSE 'es' END AS pred_lang,
        |    len(string_split_regex(trim(text), ' +')) AS n_toks
        |  FROM sc)
        |SELECT pred_lang, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |FROM langs GROUP BY 1""".stripMargin),

    // --- streaming decontamination guard: bench gram-hash set reduced
    // once driver-side, each micro-batch screened by a STATELESS
    // binary-search projection — output equals the batch operator
    // exactly, which is what this oracle (= pipe_exact_decontam's)
    // checks ------------------------------------------------------------------
    Gate("stream_decontam", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val bench = docs.filter(pmod(col("doc_id"), lit(97L)) === 3L)
        .select((col("doc_id") + 1000000L).as("bench_id"),
          substring(col("text"), 21, 200).as("text"))
      streaming.StreamText.runDecontam(s, s"$dir/documents.parquet",
        "doc_id", "text", bench, "text", n = 8)
    },
      // the streaming guard is stateless, so its output is EXACTLY the
      // batch operator's — one oracle for both
      ExactDecontamOracleSql),

    // --- streaming temperature mixing: per-stratum ppt rates derived
    // ONCE from a batch read (exact integer contract, α=0.5), then the
    // stream applies the identical stateless md5 predicate per
    // micro-batch — no state, no watermark; output equals the batch
    // operator (shared oracle) ----------------------------------------------
    Gate("stream_temperature_mix", (s, dir) =>
      streaming.StreamText.runTemperatureMix(s,
        s"$dir/documents.parquet", "doc_id", "lang",
        budgetDiv = 10, alpha = 0.5),
      TemperatureMixOracleSql),

    // --- streaming quantile sketch: the KLL udaf as complete-mode
    // stream state (one bounded sketch per event_type); exact vs
    // quantile_cont while each group's n <= k — which holds at the
    // oracle's sf0.01 ------------------------------------------------------
    Gate("stream_approx_cdf", (s, dir) =>
      streaming.Events.runValueQuantiles(s, s"$dir/events.parquet"),
      // verified-bound contract (SF-invariant): Spark computes each
      // sketch estimate's exact rank against the full data and asserts
      // it lies within eps of the target quantile; the oracle pins the
      // group set, the non-null counts, and that every bound held. (The
      // old exact-value oracle was only valid while per-type n <= k —
      // the sf1.0 scale run caught it drifting at the 4th digit.)
      """SELECT event_type, count(value) AS n,
        |  true AS median_ok, true AS p90_ok
        |FROM events GROUP BY 1""".stripMargin),

    // --- streaming heavy hitters: the Misra-Gries udaf as complete-mode
    // stream state (ONE bounded 64-counter summary at any stream length
    // or key cardinality), exact second pass for merge-order determinism
    // — the PODS'12 survival guarantee holds across micro-batch merges,
    // so the output equals batch agg_heavy_hitters and its SQL oracle ------
    Gate("stream_heavy_hitters", (s, dir) => {
      val keyExpr = when(col("event_id") % 4 =!= 0,
          concat(lit("hot_"), (col("event_id") % 3).cast("string")))
        .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
      streaming.Events.runHeavyHitters(s, s"$dir/events.parquet",
        keyExpr, m = 64)
    },
      // the streaming variant's exact second pass restores merge-order
      // determinism across micro-batches — one oracle for both
      HeavyHittersOracleSql),

    // --- streaming exact dedup: a REAL readStream through
    // dropDuplicatesWithinWatermark; the key SET is order-independent,
    // so the oracle is a plain DISTINCT ------------------------------------
    Gate("stream_dedup", (s, dir) =>
      streaming.Events.runDedupStream(s, s"$dir/events.parquet",
        Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type")),
      "SELECT DISTINCT user_id, event_type FROM events"),

    // --- gap sessionization, batch twin of the streaming kernel
    // (StreamingSpec proves stream/batch parity; this oracles the batch
    // closed form) ----------------------------------------------------------
    Gate("stream_sessionize_batch", (s, dir) =>
      toMicros(streaming.Events.sessionizeBatch(
        t(s, dir, "events"), gapNs = 1800000000000L)),
      SessionizeOracleSql),

    // --- TRUE streaming sessionization: the event-time-timeout kernel
    // over a real readStream; a sentinel appended after the data batch
    // advances the watermark so open sessions FLUSH — output equals the
    // batch sessionization over all events (same oracle) -------------------
    Gate("stream_sessionize", (s, dir) =>
      toMicros(streaming.Events.runSessionizeStream(s,
        s"$dir/events.parquet", gapNs = 1800000000000L)),
      // identical to stream_sessionize_batch: the streaming kernel with
      // the watermark flush must reproduce the batch closed form exactly
      SessionizeOracleSql)
  )
}
