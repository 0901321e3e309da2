package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection — the live-ingestion form of
  * `pipeline.Dedup.minhashPairs`: documents arrive on a stream, band
  * signatures are computed per micro-batch, and a per-bucket state of
  * previously seen doc ids emits (id_a, id_b) candidate pairs the moment
  * a new member lands in a bucket — including pairs whose two sides
  * arrived in different micro-batches.
  *
  * Scale shape: ONE stateful operator (`flatMapGroupsWithState` keyed by
  * (band, bucket signature)); state per bucket is the member id list,
  * capped at `maxBucketSize` — a degenerate boilerplate bucket saturates
  * and stops emitting instead of going quadratic. The batch pipeline
  * DROPS oversized buckets outright; a stream cannot retract, so
  * saturation (emit-then-stop) is the streaming analogue — the two agree
  * exactly on every bucket that stays under the cap. */
object StreamDedup {

  final case class Banded(doc: Long, band: Int, bsig: String)
  final case class CandidatePair(id_a: Long, id_b: Long)
  // public: the state encoder's generated code must reach the fields
  final case class BucketState(ids: Array[Long])

  /** Per-row (aggregation-free) minhash band signatures. The batch
    * pipeline computes minima via an exploded hash-aggregate — faster at
    * rest — but a streaming query gets only one stateful operator, which
    * must be the bucket state, so the signature here is a plain
    * projection with higher-order array minima. Families match the batch
    * pipeline bit-for-bit: "md5" (DuckDB-reproducible — the oracle path)
    * and "xxhash64" (the fast production family). The `carry` columns
    * pass through unchanged beside (doc, band, bsig). */
  def bandedSignatures(docs: DataFrame, id: String, text: String,
      numHashes: Int = 8, bands: Int = 4, shingleSize: Int = 3,
      family: String = "md5", carry: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(rowsPerBand * bands == numHashes, "bands must divide numHashes")
    require(family == "md5" || family == "xxhash64",
      s"unknown minhash family: $family")
    val bsigOf: Seq[Column] => Column =
      if (family == "md5")
        cs => md5(concat_ws("_", cs.map(_.cast("string")): _*))
      else cs => xxhash64(cs: _*).cast("string")
    // ALL minima in one fused kernel pass (MinhashSigsExpr): the HOF
    // formulation ran md5/conv inside 8 interpreted transform lambdas —
    // the dominant cost of the stream gate. Staged as a multi-referenced
    // attribute so the kernel evaluates once per row; the band bucket
    // hash stays a codegen'd scalar md5/xxhash64.
    val carried = carry.map(col)
    docs
      .select(col(id).cast("long").as("doc") +:
        graft.pipeline.Text.shingles(col(text), shingleSize).as("__sh") +:
        carried: _*)
      .filter(size(col("__sh")) > 0)
      .select(col("doc") +: graft.functions.TextKernels
        .minhashSigs(col("__sh"), numHashes, family).as("__mh") +:
        carried: _*)
      .select(col("doc") +:
        posexplode(array((0 until bands).map(b =>
          bsigOf((0 until rowsPerBand).map(r =>
            element_at(col("__mh"), b * rowsPerBand + r + 1)))): _*))
          .as(Seq("band", "bsig")) +:
        carried: _*)
  }

  /** Streaming candidate pairs. Output may contain a pair once per
    * shared band (like the batch pipeline before its dropDuplicates) —
    * dedup downstream (the sink table, or `.distinct()` on a static
    * read-back). Pairs are normalized id_a < id_b. */
  def minhashPairsStream(docs: DataFrame, id: String, text: String,
      numHashes: Int = 8, bands: Int = 4, shingleSize: Int = 3,
      maxBucketSize: Int = 10000, family: String = "md5")
      : Dataset[CandidatePair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = bandedSignatures(docs, id, text, numHashes, bands,
      shingleSize, family).as[Banded]
    banded.groupByKey(b => (b.band, b.bsig))
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, String), it: Iterator[Banded],
            state: GroupState[BucketState]) =>
          emitPairs(state.getOption.map(_.ids).getOrElse(Array.empty[Long]),
            it.map(_.doc).toSeq, maxBucketSize, state)
      }
  }

  final case class FpRow(doc: Long, fp: Long)

  /** Shared bucket-state transition for the streaming pair kernels:
    * emit (old member, new member) pairs for every fresh id, saturate
    * (emit-then-stop) past `maxBucketSize`, keep one id past the cap so
    * saturation survives restarts. Fresh ids are processed in sorted
    * order so WHICH members of an oversized bucket beat the cap does
    * not depend on micro-batch composition — replays with different
    * `filesPerTrigger` batching agree on capped-bucket output. */
  private def emitPairs(seen: Array[Long], incoming: Seq[Long],
      maxBucketSize: Int, state: GroupState[BucketState])
      : Iterator[CandidatePair] = {
    if (seen.length > maxBucketSize) Iterator.empty // saturated
    else {
      val seenSet = seen.toSet
      val fresh = incoming.distinct.filterNot(seenSet.contains).sorted
      val out = Seq.newBuilder[CandidatePair]
      var members = seen.length
      fresh.zipWithIndex.foreach { case (d, i) =>
        members += 1
        if (members <= maxBucketSize) {
          (seen.iterator ++ fresh.iterator.take(i)).foreach { p =>
            out += (if (p < d) CandidatePair(p, d)
                    else CandidatePair(d, p))
          }
        }
      }
      state.update(BucketState((seen ++ fresh).take(maxBucketSize + 1)))
      out.result().iterator
    }
  }

  /** Streaming winnowing contamination detector — the live form of
    * `pipeline.Dedup.winnowPairs`: each arriving document projects to
    * its winnowing fingerprint set (one fused per-row kernel pass —
    * streaming-safe, no aggregation), and a per-fingerprint bucket
    * state emits a candidate pair the moment two documents share a
    * selected fingerprint — across micro-batches. By the winnowing
    * guarantee, any pair sharing a normalized run of k + w - 1 chars
    * surfaces no later than the second member's micro-batch. State per
    * fingerprint is the member id list, capped like the minhash kernel. */
  def winnowPairsStream(docs: DataFrame, id: String, text: String,
      k: Int = 16, w: Int = 4, maxBucketSize: Int = 10000)
      : Dataset[CandidatePair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs
      .select(col(id).cast("long").as("doc"),
        explode(graft.pipeline.Text.winnowFingerprints(col(text), k, w))
          .as("fp"))
      .as[FpRow]
    rows.groupByKey(_.fp)
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[FpRow], state: GroupState[BucketState]) =>
          emitPairs(state.getOption.map(_.ids).getOrElse(Array.empty[Long]),
            it.map(_.doc).toSeq, maxBucketSize, state)
      }
  }

  // carries the WATERMARKED timestamp column itself through to the
  // stateful operator (projecting it away fails the event-time-timeout
  // analyzer check); tsMs is derived in the state function
  final case class TsFpRow(doc: Long, fp: Long, ts: java.sql.Timestamp)
  // live bucket members with their event times, parallel arrays
  final case class HorizonState(ids: Array[Long], tss: Array[Long])

  /** Event-time-bounded form of `winnowPairsStream` — the LIVE-TAILING
    * design: pairs are emitted only when the two members' event times
    * lie within `horizonMs` of each other, and fingerprint buckets are
    * EVICTED once the watermark passes their newest member by
    * `horizonMs + latenessMs`, so state holds only the fingerprints of
    * the trailing horizon instead of one row per fingerprint ever seen
    * (the `NoTimeout` kernel's unbounded-growth mode, which remains the
    * right choice for corpus-bounded backfills).
    *
    * Correctness contract (the `dropDuplicatesWithinWatermark` shape):
    * the within-horizon filter at emission is EXACT — output is
    * precisely the in-horizon pair set — and eviction loses no pair
    * PROVIDED event-time disorder is bounded by `latenessMs` (the
    * watermark delay): a member is dropped only when the watermark
    * passes `ts + horizonMs + latenessMs`, by which point any arrival
    * it could still pair with must carry an event time the horizon
    * filter rejects. A parity gate over a corpus with unordered ids
    * sets `latenessMs` to the corpus span (no eviction, deterministic
    * output under any micro-batch composition); a live deployment sets
    * it to the ingest disorder bound and gets bounded state. */
  def winnowPairsStreamHorizon(docs: DataFrame, id: String, text: String,
      tsCol: String, horizonMs: Long, latenessMs: Long,
      k: Int = 16, w: Int = 4, maxBucketSize: Int = 10000)
      : Dataset[CandidatePair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs
      .withColumn("__ts", col(tsCol).cast("timestamp"))
      .withWatermark("__ts", s"$latenessMs milliseconds")
      .select(col(id).cast("long").as("doc"),
        explode(graft.pipeline.Text.winnowFingerprints(col(text), k, w))
          .as("fp"),
        col("__ts").as("ts"))
      .as[TsFpRow]
    rows.groupByKey(_.fp)
      .flatMapGroupsWithState[HorizonState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, it: Iterator[TsFpRow], state: GroupState[HorizonState]) =>
          horizonTransition(it.map(r => (r.doc, r.ts.getTime)).toSeq,
            state, horizonMs, latenessMs, maxBucketSize)
      }
  }

  /** Shared horizon-bucket transition (winnow AND minhash live
    * kernels): prune members no future in-horizon arrival can reach,
    * emit in-horizon pairs for fresh ids, evict the bucket via
    * event-time timeout once the watermark passes its newest member by
    * horizon + lateness. */
  private def horizonTransition(incoming: Seq[(Long, Long)],
      state: GroupState[HorizonState], horizonMs: Long, latenessMs: Long,
      maxBucketSize: Int): Iterator[CandidatePair] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val wm = state.getCurrentWatermarkMs()
      val s0 = state.getOption.getOrElse(
        HorizonState(Array.empty, Array.empty))
      // prune members no future in-horizon arrival can reach
      // (same bound eviction uses, applied member-wise so a hot
      // bucket's state tracks the horizon, not its history)
      val liveIdx = s0.tss.indices
        .filter(i => s0.tss(i) + horizonMs + latenessMs >= wm)
      var ids = liveIdx.map(s0.ids).toArray
      var tss = liveIdx.map(s0.tss).toArray
      val out = Seq.newBuilder[CandidatePair]
      val seen = scala.collection.mutable.Set(ids.toSeq: _*)
      var maxTs = if (tss.isEmpty) Long.MinValue else tss.max
      incoming.sortBy(r => (r._2, r._1))
        .foreach { case (doc, tsMs) =>
        if (!seen.contains(doc)) {
          seen += doc
          if (ids.length < maxBucketSize) {
            var i = 0
            while (i < ids.length) {
              if (math.abs(tsMs - tss(i)) <= horizonMs)
                out += (if (ids(i) < doc)
                  CandidatePair(ids(i), doc)
                else CandidatePair(doc, ids(i)))
              i += 1
            }
            ids = ids :+ doc
            tss = tss :+ tsMs
            if (tsMs > maxTs) maxTs = tsMs
          }
          // at the cap: saturate (emit-then-stop) while hot, like
          // the NoTimeout kernel; eviction reopens the bucket
        }
      }
      if (ids.isEmpty) state.remove()
      else {
        state.update(HorizonState(ids, tss))
        // watermark-safe: the timeout must sit in the future
        state.setTimeoutTimestamp(
          math.max(maxTs + horizonMs + latenessMs, wm + 1))
      }
      out.result().iterator
    }

  // carries the watermarked ts through the banded projection (same
  // analyzer constraint as TsFpRow)
  final case class TsBanded(doc: Long, band: Int, bsig: String,
      ts: java.sql.Timestamp)

  /** Event-time-bounded form of `minhashPairsStream` — the live-tailing
    * minhash analogue of `winnowPairsStreamHorizon`: band buckets hold
    * only the trailing horizon of members and are evicted by event-time
    * timeout, so near-dup detection over an endless stream runs in
    * bounded state. Output = the in-horizon subset of the NoTimeout
    * kernel's pairs, exact under the same disorder contract. */
  def minhashPairsStreamHorizon(docs: DataFrame, id: String, text: String,
      tsCol: String, horizonMs: Long, latenessMs: Long,
      numHashes: Int = 8, bands: Int = 4, shingleSize: Int = 3,
      maxBucketSize: Int = 10000, family: String = "md5")
      : Dataset[CandidatePair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val withTs = docs
      .withColumn("__hts", col(tsCol).cast("timestamp"))
      .withWatermark("__hts", s"$latenessMs milliseconds")
    // the ts column threads through the banded projection directly
    // (a post-hoc self-join would make this a stream-stream join)
    val rows = bandedSignatures(withTs, id, text, numHashes, bands,
        shingleSize, family, carry = Seq("__hts"))
      .withColumnRenamed("__hts", "ts")
      .as[TsBanded]
    rows.groupByKey(b => (b.band, b.bsig))
      .flatMapGroupsWithState[HorizonState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, String), it: Iterator[TsBanded],
            state: GroupState[HorizonState]) =>
          horizonTransition(it.map(r => (r.doc, r.ts.getTime)).toSeq,
            state, horizonMs, latenessMs, maxBucketSize)
      }
  }

  // state = one row per band bucket, for the minhash runner and its
  // horizon twin
  private val minhashStatePartitions = 8
  // state = one row per FINGERPRINT (~0.4/normalized char) — millions
  // of keys at any real corpus slice, the large-state regime. It stays
  // on Spark's default heap-backed provider: at sf1 (~1.25M keys, the
  // round-11 A/B) its median was 64-66 s vs RocksDB+changelog's
  // 93-114 s; RocksDB pays off only once state outgrows executor
  // memory, and `spark.sql.streaming.stateStore.providerClass` selects it
  private val winnowStatePartitions = 32

  /** Run the horizon stream to completion over a static directory with
    * event time synthesized from the id (ts = id seconds — the parity
    * runners' stand-in for an ingest timestamp) and return the verified
    * in-horizon pairs, exactly `runWinnowPairs` restricted to
    * |id_b - id_a| <= horizonSec. `latenessMs` defaults to a span no
    * replay order exceeds, making the output independent of micro-batch
    * composition (see `winnowPairsStreamHorizon`). */
  def runWinnowPairsHorizon(spark: SparkSession, path: String,
      id: String, text: String, horizonSec: Long,
      latenessMs: Long = 365L * 24 * 3600 * 1000,
      k: Int = 16, w: Int = 4): DataFrame = {
    val candidates = Events.replay(spark, path, "graft_swh",
      Events.statePartitions(winnowStatePartitions) ++
        Events.noTrailingBatch) { stream =>
      winnowPairsStreamHorizon(ingestTimed(stream, id), id, text,
        "__ingest", horizonSec * 1000, latenessMs, k, w)
    }
    verified(spark, candidates, path, id, text, k + w - 1)
  }

  /** Run the minhash horizon stream to completion over a static
    * directory with event time synthesized from the id (ts = id
    * seconds) and return the DISTINCT in-horizon candidate pairs —
    * exactly `runMinhashPairs` restricted to
    * |id_b - id_a| <= horizonSec. */
  def runMinhashPairsHorizon(spark: SparkSession, path: String,
      id: String, text: String, horizonSec: Long,
      latenessMs: Long = 365L * 24 * 3600 * 1000,
      family: String = "md5"): DataFrame =
    Events.replay(spark, path, "graft_smhh",
      Events.statePartitions(minhashStatePartitions)) { stream =>
      minhashPairsStreamHorizon(ingestTimed(stream, id), id, text,
        "__ingest", horizonSec * 1000, latenessMs, family = family)
    }.distinct()

  // the horizon runners' event time: the id read as epoch seconds
  private def ingestTimed(stream: DataFrame, id: String): DataFrame =
    stream.withColumn("__ingest", timestamp_seconds(col(id).cast("long")))

  /** Run the stream to completion over a static directory (memory sink,
    * one file per trigger → real cross-batch state) and return the
    * DISTINCT candidate pairs — the parity surface the oracle checks
    * against the batch band-bucket join. */
  def runMinhashPairs(spark: SparkSession, path: String, id: String,
      text: String, family: String = "md5"): DataFrame =
    Events.replay(spark, path, "graft_smh",
      Events.statePartitions(minhashStatePartitions)) {
      minhashPairsStream(_, id, text, family = family)
    }.distinct()

  /** Run the winnow stream to completion over a static directory and
    * return the verified pairs: DISTINCT streamed candidates joined
    * back to the full normalized (k+w-1)-gram sets of a batch read of
    * the same data, keeping pairs with >= 1 genuinely shared run. The
    * winnowing guarantee makes streamed-candidate recall exact, so this
    * equals `Dedup.winnowSubstringPairs` on the batch read — one
    * definition of "contaminated pair" for backfill and live tailing.
    * Candidates drain through the bounded parquet sink, so the harness
    * holds nothing candidate-pair-scaled in driver memory. */
  def runWinnowPairs(spark: SparkSession, path: String, id: String,
      text: String, k: Int = 16, w: Int = 4): DataFrame = {
    val candidates = Events.replay(spark, path, "graft_swn",
      Events.statePartitions(winnowStatePartitions) ++
        Events.noTrailingBatch, drain = true) {
      winnowPairsStream(_, id, text, k, w)
    }
    verified(spark, candidates, path, id, text, k + w - 1)
  }

  // DISTINCT streamed candidates verified against a batch read of
  // `path`, with the id pre-cast to long: the candidate pairs are typed
  // long (CandidatePair), and verifySharedRuns joins ids as-is
  private def verified(spark: SparkSession, candidates: DataFrame,
      path: String, id: String, text: String, runLen: Int): DataFrame =
    graft.pipeline.Dedup.verifySharedRuns(candidates.distinct(),
      spark.read.parquet(path).withColumn(id, col(id).cast("long")),
      id, text, runLen)
      .withColumn("n_shared", col("n_shared").cast("long"))
}
