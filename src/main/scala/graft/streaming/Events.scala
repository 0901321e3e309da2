package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftBridge,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DataType, DecimalType, LongType,
  StructType, TimestampNTZType, TimestampType}

/** Structured Streaming over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Spark-first: streams are `readStream` file sources with the SAME
  * declarative transforms as batch — one definition of the windowed
  * aggregation serves both, so batch backfill and live tailing cannot
  * diverge (the parity the driver's oracle checks). Event-time windows
  * carry watermarks for state eviction; sessionization is a
  * `flatMapGroupsWithState` kernel with event-time timeout — bounded
  * state per user at any stream length. */
object Events {

  final case class Event(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double)

  final case class Session(user_id: Long, start_ts: Long, end_ts: Long,
      n_events: Long, sum_value: Double)

  // public: the state encoder's generated code must reach the fields
  final case class SessionState(startTs: Long, endTs: Long,
      cnt: Long, total: Double)

  /** Normalize an event-time column to nanoseconds-since-epoch (LONG),
    * whatever dtype the source delivered. Real event data arrives any of
    * three ways — int64 ns (legacy parquet under the nanosAsLong reader
    * flag), TIMESTAMP (instant, µs), or TIMESTAMP_NTZ (naive, µs, what
    * pandas/pyarrow `timestamp[us]` becomes under Spark's NTZ inference).
    * The NTZ arm measures the microsecond delta from the naive epoch with
    * `timestampdiff`, which never consults the session timezone — the
    * naive value is treated as UTC, exactly how DuckDB's `epoch_ns` reads
    * a naive TIMESTAMP, so engine and oracle agree in any session TZ.
    * Unsupported dtypes fail loudly at plan time, not mid-query. */
  def tsNanos(c: Column, dt: DataType): Column = dt match {
    case LongType      => c
    case TimestampType => unix_micros(c) * lit(1000L)
    case TimestampNTZType =>
      timestamp_diff("MICROSECOND",
        lit(java.time.LocalDateTime.ofEpochSecond(0, 0,
          java.time.ZoneOffset.UTC)), c) * lit(1000L)
    case other => throw new IllegalArgumentException(
      s"event-time column must be LONG (ns-since-epoch), TIMESTAMP or " +
        s"TIMESTAMP_NTZ; got ${other.sql}")
  }

  /** Inverse of `tsNanos`: materialize a nanosecond value back in the
    * source column's dtype (LongType passes through; timestamp flavors
    * take exact decimal µs floor-division; the NTZ arm assumes a UTC
    * session timezone — the Verify/Bench/test builders all set it). */
  def tsFromNanos(ns: Column, dt: DataType): Column = dt match {
    case LongType          => ns
    case TimestampType     => tsTimestamp(ns, LongType)
    case TimestampNTZType  => tsTimestamp(ns, LongType)
      .cast(TimestampNTZType)
    case other => throw new IllegalArgumentException(
      s"unsupported event-time dtype ${other.sql}")
  }

  /** Event-time column as a TimestampType suitable for
    * `withWatermark`/`window`. Exact integer µs math on the long-ns arm
    * (decimal floor-div, not double division — ns epochs ~1.7e18 exceed
    * double's 2^53 integer range). */
  def tsTimestamp(c: Column, dt: DataType): Column = dt match {
    case TimestampType => c
    case _ => timestamp_micros(
      floor(tsNanos(c, dt).cast(DecimalType(38, 0)) / lit(1000L))
        .cast(LongType))
  }

  /** Typed ingestion for the sessionize kernel: project any events-shaped
    * frame (ts as LONG ns / TIMESTAMP / TIMESTAMP_NTZ) to `Dataset[Event]`
    * with ns-normalized `ts`. */
  def toEvents(df: DataFrame): Dataset[Event] = {
    val ss = df.sparkSession
    import ss.implicits._
    df.select(col("event_id"),
      tsNanos(col("ts"), df.schema("ts").dataType).as("ts"),
      col("user_id"), col("event_type"), col("value")).as[Event]
  }

  /** File-source stream with the batch schema (`ts` in any dtype
    * `tsNanos` accepts). */
  def readEventStream(spark: SparkSession, dir: String,
      schema: StructType, maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Shared batch/stream transform: hourly tumbling windows per
    * event_type with exact (decimal) value sums. `ts` may be ns longs or
    * either timestamp flavor (`tsTimestamp`); the output window column is
    * the epoch-hour index so batch and stream (and the DuckDB oracle)
    * agree bit-for-bit. */
  def hourlyTypeAgg(events: DataFrame): DataFrame = {
    events
      .withColumn("__t",
        tsTimestamp(col("ts"), events.schema("ts").dataType))
      .withWatermark("__t", "1 hour")
      .groupBy(
        window(col("__t"), "1 hour").as("__w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double")
          .as("sum_value"))
      .select(
        (unix_timestamp(col("__w")("start")) / 3600).cast("long")
          .as("hour"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Backfill trigger sizing: cap a static-directory replay at
    * ~`targetBatches` micro-batches no matter how many part files the
    * corpus was written as. With a fixed `maxFilesPerTrigger = 1`, the
    * batch COUNT scales with the writer's partitioning and the
    * per-batch state-store commit dominates (10× data in 32 parts ran
    * 33× slower, not 10×). A production backfill sizes batches to
    * executor memory (`maxBytesPerTrigger`); this is the same knob for
    * the parity runners, keeping >= 2 batches when there are >= 2
    * files so cross-batch state logic still gets exercised. */
  private def filesPerTrigger(dir: String,
      targetBatches: Int = 4): Int = {
    // resolve through the path's Hadoop FileSystem (as the writers do):
    // java.io.File.listFiles returns null for any non-local scheme
    // (HDFS/S3), which would silently degrade to 1-file batches
    val n = try {
      val p = new Path(dir)
      val conf = org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      p.getFileSystem(conf).listStatus(p).count { st =>
        val nm = st.getPath.getName
        st.isFile && !nm.startsWith("_") && !nm.startsWith(".")
      }
    } catch { case _: java.io.IOException => 1 }
    math.max(1, (math.max(n, 1) + targetBatches - 1) / targetBatches)
  }

  /** Replay `path` (a parquet file or directory) through a Structured
    * Streaming query to completion and return its output rows: every
    * streaming parity runner goes through here. The input is staged as
    * a directory (`stageAsDir`, prefix `tag`), its schema is the batch
    * reader's (`footerSchema`), and it is read `filesPerTrigger` files per
    * micro-batch, or as one micro-batch when `oneBatch`. The replay
    * confs plus the runner's own `confs` are scoped around the query,
    * which is started, drained and stopped here.
    *
    * Output goes to a uniquely named `memory` sink in `mode`, or, when
    * `drain`, through a foreachBatch parquet-append sink (append mode;
    * see `takeParquetDrain`). A `sentinel` is appended to a fresh
    * staging directory (the source is never written) after the first
    * drain, and the query is drained again. */
  private[streaming] def replay(spark: SparkSession, path: String,
      tag: String, confs: Seq[(String, Option[String])] = Nil,
      mode: OutputMode = OutputMode.Append(), drain: Boolean = false,
      oneBatch: Boolean = false, sentinel: Option[DataFrame] = None)
      (query: DataFrame => Dataset[_]): DataFrame = {
    val dir = stageAsDir(path, tag, fresh = sentinel.isDefined)
    val schema = footerSchema(spark, dir)
    val root = if (drain)
      java.nio.file.Files.createTempDirectory(tag).toString else ""
    val sinkName = s"${tag}_${System.nanoTime()}"
    val outSchema = withConfs(spark, replayConfs ++ confs) {
      val out = query(readEventStream(spark, dir, schema,
        if (oneBatch) Int.MaxValue else filesPerTrigger(dir))).toDF()
      val w = out.writeStream.outputMode(mode)
      val sink: (DataFrame, Long) => Unit =
        (batch, _) => batch.write.mode("append").parquet(root + "/out")
      val q = (if (drain) w.foreachBatch(sink)
          .option("checkpointLocation", root + "/chk")
        else w.format("memory").queryName(sinkName)).start()
      try {
        q.processAllAvailable()
        sentinel.foreach { s =>
          s.write.mode("append").parquet(dir)
          q.processAllAvailable()
        }
      } finally q.stop()
      out.schema
    }
    if (drain) takeParquetDrain(spark, root, outSchema)
    else takeMemorySink(spark, sinkName)
  }

  /** The schema a batch read of `path` (a parquet file or directory)
    * infers, taken on the driver from the footer of its first data file:
    * the batch read's inference reads that same footer in a Spark job. */
  private[graft] def footerSchema(spark: SparkSession, path: String)
      : StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val first = if (fs.getFileStatus(p).isFile) p
      else fs.listStatus(p).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
    val footer = try reader.getFooter finally reader.close()
    GraftBridge.parquetSchema(new Footer(first, footer), spark)
  }

  /** Scope session confs around `body`: `key -> Some(v)` sets a key,
    * `key -> None` unsets it, and every key gets its previous value (or
    * its unset state) back on exit. */
  private def withConfs[A](spark: SparkSession,
      confs: Seq[(String, Option[String])])(body: => A): A = {
    def put(kv: (String, Option[String])): Unit = kv match {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach(put)
    try body finally prev.foreach(put)
  }

  /** Replay-harness session conf, scoped around every replay query.
    *
    * Checkpoint integrity: the parity runners' checkpoints
    * are TEMPORARY (memory/parquet-drain sinks, temp dirs force-deleted
    * on stop), yet every checkpoint file was written under TWO
    * integrity layers — Spark 4.1's per-file checksum
    * (`ChecksumCheckpointFileManager`) on top of Hadoop's `ChecksumFs`
    * `.crc` twin. On a local FS without libhadoop each extra file
    * op shells out (`RawLocalFileSystem.setPermission` /
    * `getFileLinkStatus` fork+exec `chmod`/`stat` — measured by stack
    * sampling at ~20% of the stream-gate floor, §5 driver overhead).
    * Both layers are pure cost for a checkpoint that is deleted
    * seconds later; a production deployment with durable checkpoints
    * on HDFS/S3 keeps its own integrity machinery and never takes this
    * path. Each streaming query resolves its checkpoint FS from the
    * session conf at start. Session-conf keys copy into each query's
    * hadoopConf verbatim, so the bare hadoop key (no spark.hadoop.
    * prefix) is the one that reaches FileContext resolution.
    *
    * Codegen cache: Structured Streaming runs every query in
    * `sparkSession.cloneSession()`, a new session with its own UUID.
    * Under artifact isolation (on by default in Spark 4.1) the clone's
    * tasks carry that UUID, and the executor runs them under a new
    * per-session context classloader. `CodeGenerator.compile` caches
    * on (context classloader, source), so every replay missed the cache:
    * it compiled the previous replay's executor-side classes again with
    * Janino and ran them before the JIT had compiled them (14 classes
    * per 4-micro-batch `stream_hourly_agg` replay). With isolation off,
    * the clone's
    * tasks run under the executor's shared classloader and hit the
    * cache. A session reads the key from its own conf, which the clone
    * copies when `start()` builds it, so the parent session keeps its
    * setting. graft adds no session artifacts (no `addArtifact`,
    * `addJar` or `addFile`), so isolation protects nothing here. */
  private val replayConfs = Seq(
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> Some("false"),
    "fs.AbstractFileSystem.file.impl" ->
      Some("org.apache.hadoop.fs.local.RawLocalFs"),
    "spark.sql.artifact.isolation.enabled" -> Some("false"))

  /** Stateful-query partition sizing: `spark.sql.shuffle.partitions` at
    * FIRST micro-batch fixes the state-store partition count for the
    * checkpoint's lifetime, and every micro-batch pays an open+commit
    * per state partition. Size it to expected STATE volume (keys ×
    * state bytes), not input cores — a windowed agg with thousands of
    * keys wants far fewer state stores than a 100 TB scan wants input
    * splits. Scoped by `replay`; the streaming query keeps its planned
    * value for its whole lifetime. */
  private[streaming] def statePartitions(n: Int)
      : Seq[(String, Option[String])] =
    Seq("spark.sql.shuffle.partitions" -> Some(n.toString))

  /** Skip the trailing no-data micro-batch of a replay whose last data
    * batch already emits every row: it would only advance the
    * watermark and evict state the stopped query never reuses — one
    * more full open+commit cycle across every state partition for zero
    * output. A replay that flushes on the watermark (sessionize's
    * sentinel) needs that batch and must not use this. */
  private[streaming] val noTrailingBatch: Seq[(String, Option[String])] =
    Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> Some("false"))

  /** A parquet-drained replay's output, as a batch read. The
    * complete-output `memory` sink pins the
    * ENTIRE output stream in driver memory — at sf10 the winnow
    * candidate-pair stream alone exceeded the JVM (the r11/r12
    * scaling-table exclusion, a harness artifact, not an operator
    * bound). A drain lands each micro-batch's output on disk, where it
    * is immediately droppable from memory: output size bounds DISK, not
    * the driver heap. The explicit checkpoint keeps batch replay
    * possible after a crash; replayed batches rewrite the same rows
    * and the callers' `distinct()` absorbs them. */
  private def takeParquetDrain(spark: SparkSession, root: String,
      schema: StructType): DataFrame = {
    val out = root + "/out"
    // SEQUENCE the disk footprints (round-14 ask: at 100x the winnow
    // state store + drained candidates + verify spill exceed one box
    // only CONCURRENTLY): the query is stopped and this harness never
    // resumes it, so its checkpoint — which holds the entire state
    // store, fingerprint-scaled for the winnow family — is dead
    // weight. Delete it eagerly; only the drained output parquet stays
    // on disk while the downstream batch verify runs.
    def rmTree(f: java.io.File): Long = {
      val kids = f.listFiles()
      val sub = if (kids == null) 0L else kids.map(rmTree).sum
      val sz = if (f.isFile) f.length() else 0L
      f.delete(): Unit
      sub + sz
    }
    val chkBytes = rmTree(new java.io.File(root + "/chk"))
    // same reclaim hint as the sliced verify: the stopped query's
    // shuffle files free only when the ContextCleaner collects their
    // RDDs — nudge it before the downstream batch job starts writing.
    // A full-heap GC on a 32-core JVM costs ~0.3-0.5 s, so gate it on
    // the measured DEAD disk mass: the checkpoint (state store) the
    // rmTree above just deleted, PLUS the stopped query's shuffle
    // files still sitting in THIS app's block-manager dirs — shuffle
    // mass can dominate independently of state-store size (a drain
    // with small state but a wide repartition leaves GBs of shuffle
    // on disk), so gating on checkpoint bytes alone would skip the
    // nudge exactly when it pays. Inclusion/exclusion rules, the
    // threshold, and the own-dirs scoping live on `DrainGc` (specced).
    val shuffleBytes = DrainGc.shuffleBytes(
      org.apache.spark.storage.GraftStorageBridge.blockManagerDirs.toSeq)
    if (DrainGc.shouldNudge(chkBytes, shuffleBytes)) System.gc()
    if (new java.io.File(out).listFiles() == null)
      // zero batches produced output files: empty result, same schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
    else spark.read.parquet(out)
  }

  /** The rows a stopped query left in its `memory` sink, with the sink's
    * temp view dropped. The view would otherwise keep the rows alive
    * until the session ends; the returned frame is already analyzed, so
    * it holds the sink's `MemoryPlan` without the view. */
  private def takeMemorySink(spark: SparkSession,
      sinkName: String): DataFrame = {
    val df = spark.table(sinkName)
    spark.catalog.dropTempView(sinkName)
    df
  }

  /** The file stream source wants a DIRECTORY: stage a single file
    * behind a symlink in a temp dir (no copy); directories pass
    * through unless `fresh`, which links each of their data files into
    * a new temp dir, so rows appended to the staged dir never touch
    * the source. */
  private def stageAsDir(path: String, prefix: String,
      fresh: Boolean): String = {
    val src = new java.io.File(path)
    if (src.isDirectory && !fresh) path
    else {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      val files =
        if (src.isDirectory)
          src.listFiles().filter(f => f.isFile &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))
        else Array(src)
      files.foreach(f => java.nio.file.Files.createSymbolicLink(
        d.resolve(f.getName), f.toPath))
      d.toString
    }
  }

  // state = one row per (hour-window, event_type) — KBs for any
  // retention the watermark admits: 2 stores hold it (sizing rationale
  // on statePartitions)
  private val hourlyAggStatePartitions = 2

  /** Run the streaming side to completion over a static directory and
    * return the result (complete-mode memory sink) — used by the parity
    * gate; a live deployment would use the same query with a real sink. */
  def runHourlyTypeAgg(spark: SparkSession, path: String): DataFrame =
    replay(spark, path, "graft_stream",
      statePartitions(hourlyAggStatePartitions),
      OutputMode.Complete())(hourlyTypeAgg)

  /** Ordered funnel analysis: per user, the earliest completion of the
    * step sequence — step i's time is the MIN event time of its type
    * STRICTLY AFTER step i-1's chosen time (greedy earliest-first,
    * which maximizes completion), optionally bounded to `windowNs`
    * after step 1. Returns one row per user completing ALL steps, with
    * every step time. Scale shape: the event table is projected once
    * (repartitioned on the user key, lazily checkpointed) and each
    * step is one filtered equi-join + keyed min — `steps.length`
    * uniform-key shuffles total, no window functions, no per-user
    * event collection. */
  def funnel(events: DataFrame, steps: Seq[String],
      windowNs: Option[Long] = None): DataFrame = {
    require(steps.length >= 2, "a funnel needs at least two steps")
    val dt = events.schema("ts").dataType
    val ev = events.select(col("user_id"), col("event_type"),
        tsNanos(col("ts"), dt).as("t"))
      .repartition(col("user_id"))
      .localCheckpoint(false) // scanned once per step
    var acc = ev.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("t")).as("t1"))
    var i = 2
    steps.tail.foreach { step =>
      val joined = acc
        .join(ev.filter(col("event_type") === step), Seq("user_id"))
        .filter(col("t") > col(s"t${i - 1}"))
      val bounded = windowNs
        .map(wn => joined.filter(col("t") <= col("t1") + wn))
        .getOrElse(joined)
      val carry = "user_id" +: (1 until i).map(j => s"t$j")
      acc = bounded.groupBy(carry.map(col): _*)
        .agg(min(col("t")).as(s"t$i"))
      i += 1
    }
    acc
  }

  /** Retention cohort matrix: users cohort by their FIRST event's time
    * bucket; each (cohort, offset) cell counts distinct users of that
    * cohort active `offset` buckets later — the standard retention
    * triangle. Two uniform-key shuffles (first-seen min per user,
    * distinct user-bucket activity) + one broadcastable join on the
    * user key; counts are exact distincts, no approximation. */
  def retentionCohorts(events: DataFrame, bucketNs: Long): DataFrame = {
    require(bucketNs > 0, "bucketNs must be positive")
    val dt = events.schema("ts").dataType
    val ev = events.select(col("user_id"),
        tsNanos(col("ts"), dt).as("t"))
      .repartition(col("user_id"))
      .localCheckpoint(false) // consumed by first-seen AND activity
    // exact decimal floor-division: ns epochs (~1.7e18) exceed the
    // 2^53 double-integer range, and a double quotient can flip the
    // bucket at boundaries (same discipline as tsTimestamp)
    def bucketOf(c: Column): Column =
      floor(c.cast(DecimalType(38, 0)) / lit(bucketNs)).cast("long")
    val first = ev.groupBy("user_id")
      .agg(bucketOf(min(col("t"))).as("cohort"))
    val activity = ev
      .select(col("user_id"), bucketOf(col("t")).as("bucket"))
      .distinct()
    first.join(activity, Seq("user_id"))
      .groupBy(col("cohort"), (col("bucket") - col("cohort"))
        .as("offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  // state = ONE sketch row per event_type (a bounded enum at any
  // corpus scale): 2 stores hold it; every extra store is one more
  // per-batch delta-file commit (statePartitions scaladoc)
  private val quantileStatePartitions = 2

  /** Streaming quantile sketches: the KLL-style `Aggs.approxCdf`
    * typed aggregator lifted onto a complete-mode stream group-by —
    * state is one bounded sketch per group, so percentile monitoring
    * over an unbounded feed holds O(groups · k) state at any stream
    * length. While a group's total stays <= k the sketch is EXACT;
    * past k it degrades to the sketch guarantee. The returned frame is
    * therefore the VERIFIED-BOUND contract, which holds at every scale
    * (the round-10 exact-value contract broke the moment a group
    * exceeded k — caught by the first sf1.0 oracle run): each
    * estimate's exact rank in a batch read of the same data must lie
    * within `eps` of its target quantile. Exactness below capacity
    * stays pinned by the bounded-input `agg_approx_cdf` gate and the
    * batch/stream parity spec. */
  def runValueQuantileEstimates(spark: SparkSession, path: String,
      k: Int = 4096): DataFrame =
    replay(spark, path, "graft_sqtl",
      statePartitions(quantileStatePartitions), OutputMode.Complete()) {
      _.groupBy(col("event_type"))
        .agg(graft.operators.Aggs.approxCdf(col("value"), k).as("cdf"))
    }.select(col("event_type"),
      graft.operators.Aggs.sketchQuantileUdf(col("cdf"), lit(0.5))
        .as("med_est"),
      graft.operators.Aggs.sketchQuantileUdf(col("cdf"), lit(0.9))
        .as("p90_est"))

  /** The gate surface over `runValueQuantileEstimates`. */
  def runValueQuantiles(spark: SparkSession, path: String,
      k: Int = 4096, eps: Double = 0.01): DataFrame = {
    val est = runValueQuantileEstimates(spark, path, k)
    // exact rank of each estimate against the full data — one scan,
    // broadcast of the tiny per-group estimate table
    spark.read.parquet(path)
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
      .join(broadcast(est), Seq("event_type"))
      .groupBy(col("event_type"), col("med_est"), col("p90_est"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("med_est"), 1L).otherwise(0L))
          .as("lt_m"),
        sum(when(col("value") <= col("med_est"), 1L).otherwise(0L))
          .as("le_m"),
        sum(when(col("value") < col("p90_est"), 1L).otherwise(0L))
          .as("lt_p"),
        sum(when(col("value") <= col("p90_est"), 1L).otherwise(0L))
          .as("le_p"))
      .select(col("event_type"), col("n"),
        (col("lt_m") / col("n") <= lit(0.5 + eps) &&
          col("le_m") / col("n") >= lit(0.5 - eps)).as("median_ok"),
        (col("lt_p") / col("n") <= lit(0.9 + eps) &&
          col("le_p") / col("n") >= lit(0.9 - eps)).as("p90_ok"))
  }

  // state = ONE global Misra-Gries summary row: a single store holds
  // it (sizing rationale on statePartitions)
  private val heavyHittersStatePartitions = 1

  /** Streaming exact heavy hitters — the Misra-Gries typed aggregator
    * ([[graft.operators.Aggs.misraGriesAgg]]) lifted onto a
    * complete-mode stream aggregation, then the exact second pass of
    * [[graft.operators.Aggs.heavyHittersExact]] over a batch read of
    * the same data. State is ONE bounded m-counter summary regardless
    * of stream length or key cardinality — the streaming family's
    * frequent-items sketch beside the KLL quantile state.
    *
    * Determinism across micro-batches: the candidate SET a stream
    * produces depends on the batch/merge order, but the
    * mergeable-summaries guarantee (Agarwal et al., PODS'12 — survival
    * of every key with true frequency > N/(m+1)) holds under ANY
    * reduce/merge sequence, including the one a micro-batched stream
    * applies. The exact pass then keeps exactly
    * { key : trueCount(key) * m > N }, so the verified output EQUALS
    * the batch operator's and the plain SQL groupBy + HAVING replay —
    * the same sketch-contract pattern as [[runValueQuantiles]].
    * `keyExpr` is any deterministic expression over the source columns
    * (applied identically to the stream and the verification scan). */
  def runHeavyHitters(spark: SparkSession, path: String,
      keyExpr: Column, m: Int): DataFrame = {
    val summary = replay(spark, path, "graft_shh",
      statePartitions(heavyHittersStatePartitions),
      OutputMode.Complete()) {
      _.select(keyExpr.as("key"))
        .agg(udaf(graft.operators.Aggs.misraGriesAgg(m))
            .apply(col("key")).as("cand"),
          count(col("key")).as("n"))
    }
    // exact second pass: count ONLY the <= m streamed candidates (the
    // shuffle carries at most m distinct keys after the map-side
    // broadcast filter), keep exact count strictly above N/m
    spark.read.parquet(path)
      .select(keyExpr.as("key"))
      .crossJoin(broadcast(summary))
      .filter(array_contains(col("cand"), col("key")))
      .groupBy(col("key"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * m > col("n"))
      .select(col("key"), col("cnt"))
  }

  /** Streaming exact dedup — the pipeline's `Dedup.exact` for live
    * ingestion: `dropDuplicates` on the id columns under an event-time
    * watermark, so Spark keeps one state entry per key and EVICTS it
    * once the key is older than the lateness horizon — bounded state at
    * any stream length (an unwatermarked dropDuplicates would grow
    * forever). Emits each key's first arrival only. */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      lateness: String = "1 hour"): DataFrame = {
    events
      .withColumn("__t",
        tsTimestamp(col("ts"), events.schema("ts").dataType))
      .withWatermark("__t", lateness)
      .dropDuplicatesWithinWatermark(idCols)
      .drop("__t")
  }

  // state = one row per id key inside the watermark
  private val dedupStatePartitions = 8

  /** Run `dedupStream` to completion over a static directory (append
    * mode — each key's first arrival emits exactly once) and return the
    * sink table; the oracle checks the key set, which is deterministic
    * regardless of intra-batch arrival order. */
  def runDedupStream(spark: SparkSession, path: String,
      idCols: Seq[String]): DataFrame =
    // exact-parity harness: process the whole input as ONE micro-batch.
    // With per-file triggers, a key whose only occurrences sit >1h
    // behind a later file's max event time would be dropped as late by
    // the watermark and the output would undershoot the DISTINCT
    // oracle. Bounded-state multi-batch eviction (the production
    // semantics) is exercised separately in StreamingSpec. The single
    // data batch emits every first arrival already: no trailing batch.
    replay(spark, path, "graft_stream_dd",
      statePartitions(dedupStatePartitions) ++ noTrailingBatch,
      oneBatch = true)(dedupStream(_, idCols))

  /** Gap-based sessionization: consecutive events of a user belong to
    * one session while gaps stay under `gapNs`. Streaming kernel:
    * flatMapGroupsWithState with event-time timeout — state is one
    * (start, end, n, sum) tuple per live user. */
  def sessionize(events: Dataset[Event], gapNs: Long)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Event],
            state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(_.ts)
          val out = Seq.newBuilder[Session]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts - s.endTs <= gapNs =>
                cur = Some(SessionState(s.startTs, e.ts, s.cnt + 1,
                  s.total + e.value))
              case Some(s) =>
                out += Session(user, s.startTs, s.endTs, s.cnt, s.total)
                cur = Some(SessionState(e.ts, e.ts, 1, e.value))
              case None =>
                cur = Some(SessionState(e.ts, e.ts, 1, e.value))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  // typed row for the watermarked streaming kernel: `et` carries the
  // watermark column through groupByKey
  final case class EventW(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double, et: java.sql.Timestamp)

  // state with the value sum in EXACT 1e-4 units (the DECIMAL(18,4)
  // semantics both engines' batch formulations use): doubles would
  // accumulate in arrival order and drift an ulp from the oracle
  final case class SessionStateX(startTs: Long, endTs: Long,
      cnt: Long, units: Long)

  private def valueUnits(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Gap sessionization with EVENT-TIME timeouts — the full streaming
    * semantics: a session closes either when a later event of its user
    * exceeds the gap, or when the WATERMARK passes the session's gap
    * horizon and the state times out (so open sessions FLUSH — the
    * NoTimeout kernel above can never emit a user's last session).
    * State per live user is one (start, end, n, sum) tuple, removed on
    * flush; value sums accumulate in exact 1e-4 units so the emitted
    * `sum_value` is bit-identical to a DECIMAL(18,4) batch aggregate. */
  def sessionizeStream(events: DataFrame, gapNs: Long,
      lateness: String = "0 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val dt = events.schema("ts").dataType
    events
      .withColumn("et", tsTimestamp(col("ts"), dt))
      .withWatermark("et", lateness)
      .select(col("event_id"), tsNanos(col("ts"), dt).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("et"))
      .as[EventW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionStateX, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[EventW],
            state: GroupState[SessionStateX]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.startTs, s.endTs, s.cnt,
              java.math.BigDecimal.valueOf(s.units, 4).doubleValue()))
          } else {
            val sorted = it.toSeq.sortBy(_.ts)
            val out = Seq.newBuilder[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts - s.endTs <= gapNs =>
                  cur = Some(SessionStateX(s.startTs, e.ts, s.cnt + 1,
                    s.units + valueUnits(e.value)))
                case Some(s) =>
                  out += Session(user, s.startTs, s.endTs, s.cnt,
                    java.math.BigDecimal.valueOf(s.units, 4).doubleValue())
                  cur = Some(SessionStateX(e.ts, e.ts, 1,
                    valueUnits(e.value)))
                case None =>
                  cur = Some(SessionStateX(e.ts, e.ts, 1,
                    valueUnits(e.value)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flush once the watermark passes end + gap (ms epoch)
              state.setTimeoutTimestamp(
                s.endTs / 1000000L + gapNs / 1000000L + 1L)
            }
            out.result().iterator
          }
      }
  }

  // state = one open-session row per live user
  private val sessionStatePartitions = 8

  /** Run `sessionizeStream` to completion over a static directory with
    * a FULL flush: after the data batch, a sentinel event (user -1) far
    * past max(ts) + gap is appended to the staged directory, advancing
    * the watermark so every open session times out and emits (Spark
    * runs the required no-data micro-batch once the watermark moves).
    * Output therefore equals the batch sessionization over ALL events —
    * the parity the oracle checks, open sessions included. */
  def runSessionizeStream(spark: SparkSession, path: String,
      gapNs: Long): DataFrame = {
    val batch = spark.read.parquet(path)
    val dt = batch.schema("ts").dataType
    val maxRow = batch.select(max(tsNanos(col("ts"), dt))).head()
    if (maxRow.isNullAt(0)) {
      // zero events: nothing to sessionize, and max(ts) has no value to
      // anchor the sentinel — return an empty, correctly-typed result
      import spark.implicits._
      return spark.emptyDataset[Session].toDF()
    }
    val maxNs = maxRow.getLong(0)
    val sentinelNs = maxNs + 2L * gapNs + 3600L * 1000000000L
    // built from one row collected on the driver: a `limit(1)` in the
    // write plan would compile a new class on every run, because
    // `BaseLimitExec` names its counter from a JVM-global sequence
    val sentinel = spark
      .createDataFrame(java.util.List.of(batch.head()), batch.schema)
      .withColumn("event_id", lit(-1L))
      .withColumn("user_id", lit(-1L))
      .withColumn("ts", tsFromNanos(lit(sentinelNs), dt))
    // the sentinel lands AFTER the data batch so it can never drag the
    // watermark ahead of real events; the watermark-driven flush needs
    // the no-data batch, so noTrailingBatch must stay off here
    replay(spark, path, "graft_sess",
      statePartitions(sessionStatePartitions), oneBatch = true,
      sentinel = Some(sentinel))(sessionizeStream(_, gapNs))
      .filter(col("user_id") =!= -1L)
  }

  /** Batch reference for `sessionize`: lag-based session ids over a
    * window — one shuffle, closed form (used to check the streaming
    * kernel and useful on its own for backfills). */
  def sessionizeBatch(events: DataFrame, gapNs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("ts", tsNanos(col("ts"), events.schema("ts").dataType))
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new_session",
        (col("__prev").isNull ||
          (col("ts") - col("__prev") > gapNs)).cast("long"))
      .withColumn("__sid", sum(col("__new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double")
          .as("sum_value"))
      .drop("__sid")
  }
}
