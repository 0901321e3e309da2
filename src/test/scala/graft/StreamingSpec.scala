package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.streaming.Events
import graft.streaming.Events.Session

// top-level: MemoryStream needs a derivable Encoder
final case class DocT(doc_id: Long, text: String,
  ts: java.sql.Timestamp)

class StreamingSpec extends SparkSpec {

  test("streaming hourly agg equals the batch transform") {
    val dir = "/root/testdata/sf0.001"
    val batchDf = spark.read.parquet(s"$dir/events.parquet")
    val streamed = Events.runHourlyTypeAgg(spark, s"$dir/events.parquet")
      .collect().map(_.toSeq).toSet
    val batch = Events.hourlyTypeAgg(batchDf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  /** Runs `replay` twice: the second run must compile no generated code
    * and return the same rows as the first. */
  private def assertWarmReplay(replay: => DataFrame): Unit = {
    def rows: Set[Seq[Any]] = replay.collect().map(_.toSeq).toSet
    def compiled: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val first = rows
    val c0 = compiled
    val second = rows
    assert(compiled - c0 == 0L)
    assert(second == first)
    assert(first.nonEmpty)
  }

  test("a repeated stream replay compiles no generated code again") {
    // each replay runs in a cloned session; its tasks must reuse the
    // executor's classloader, or the codegen cache misses every class
    assertWarmReplay(Events.runHourlyTypeAgg(spark,
      s"$sfDir/events.parquet"))
  }

  test("a replay takes the batch schema from a footer, without a job") {
    // job -> its streaming query id; a replay's own jobs have none
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("sql.streaming.queryId"))))
    }
    def jobsOf(body: => Any): Seq[Option[String]] = {
      GraftBridge.drainListenerBus(spark)
      jobs.clear()
      body
      GraftBridge.drainListenerBus(spark)
      jobs.asScala.toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (t <- Seq("events", "documents")) {
        val single = s"$sfDir/$t.parquet"
        val tmp = Files.createTempDirectory(s"graft_split_$t")
        val split = tmp.resolve("spark").toString
        spark.read.parquet(single).repartition(16).write.parquet(split)
        val copies = Files.createDirectory(tmp.resolve("copies"))
        (0 until 16).foreach(i => Files.createSymbolicLink(
          copies.resolve(f"part-$i%02d.parquet"), Paths.get(single)))
        for (p <- Seq(single, split, copies.toString)) {
          var schema: StructType = null
          assert(jobsOf { schema = NativeFormat.footerSchema(spark, p) } == Nil, p)
          assert(schema == spark.read.parquet(p).schema, p)
        }
      }
      val replay = jobsOf(Events.runHourlyTypeAgg(spark,
        s"$sfDir/events.parquet"))
      assert(replay.nonEmpty)
      assert(replay.forall(_.isDefined), "a replay job outside its query")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a repeated sessionize replay compiles no generated code again") {
    // its sentinel write must hold no limit operator, whose generated
    // code is named from a JVM-global counter
    assertWarmReplay(Events.runSessionizeStream(spark,
      s"$sfDir/events.parquet", gapNs = 1800000000000L))
  }

  test("every stream gate stops its query and restores views and confs") {
    val scoped = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "fs.AbstractFileSystem.file.impl",
      "spark.sql.artifact.isolation.enabled",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows")
    def confs = scoped.map(k => k -> spark.conf.getOption(k))
    def views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val gates = SparkEntry.queries.keys.toSeq.sorted
      .filter(g => g.startsWith("stream_") && g != "stream_sessionize_batch")
    assert(gates.size == 12)
    gates.foreach { g =>
      val (confs0, views0) = (confs, views)
      SparkEntry.queries(g)(spark, sfDir).count(): Unit
      assert(spark.streams.active.isEmpty, g)
      assert(views == views0, g)
      assert(confs == confs0, g)
    }
  }

  test("Events.scala holds the only stream reader and writer in main code") {
    // one replay runner: a new runner cannot fork its own query block
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val users =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter { p =>
          val src = Files.readString(p)
          src.contains(".readStream") || src.contains(".writeStream")
        }
        .map((p: Path) => root.relativize(p).toString).toSeq
      finally walk.close()
    assert(users === Seq("graft/streaming/Events.scala"))
  }

  test("batch sessionizer matches the streaming kernel on closed sessions") {
    val ss = spark
    import ss.implicits._
    val events = Seq(
      Event(1, 100, 7, "x", 1.0), Event(2, 150, 7, "x", 1.0),
      Event(3, 400, 7, "x", 1.0), Event(4, 90, 8, "y", 2.0),
      Event(5, 500, 8, "y", 3.0)).toDF()
    val sessions = Events.sessionizeBatch(events, gapNs = 100L)
      .select("user_id", "start_ts", "end_ts", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(sessions == Set(
      Seq(7L, 100L, 150L, 2L, 2.0), Seq(7L, 400L, 400L, 1L, 1.0),
      Seq(8L, 90L, 90L, 1L, 2.0), Seq(8L, 500L, 500L, 1L, 3.0)))
  }

  test("streaming dedup drops repeats within the watermark, bounded state") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val input = MemoryStream[Event]
    val deduped = Events.dedupStream(input.toDF(), Seq("event_id"),
      lateness = "10 seconds")
    val q = deduped.writeStream.format("memory")
      .queryName("spec_dedup").outputMode(OutputMode.Append()).start()
    val s = 1000000000L // ns per second
    input.addData(
      Event(1, 1 * s, 1, "a", 1.0), Event(2, 2 * s, 1, "a", 2.0),
      Event(1, 3 * s, 1, "a", 9.9)) // duplicate id within watermark
    q.processAllAvailable()
    input.addData(Event(2, 4 * s, 1, "a", 7.7)) // dup, later batch
    q.processAllAvailable()
    q.stop()
    val got = spark.table("spec_dedup").select("event_id", "value")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 2.0)) // first arrival wins
  }

  test("event-time kernels accept long-ns, TIMESTAMP and TIMESTAMP_NTZ alike") {
    val ss = spark
    import ss.implicits._
    // same instants three ways: ns longs, instant timestamps, naive NTZ
    val ns = Seq(
      (1L, 3600000000000L, 7L, "x", 1.5),
      (2L, 3605000000000L, 7L, "x", 2.5),
      (3L, 7201000000000L, 8L, "y", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val asTs = ns.withColumn("ts", timestamp_micros(col("ts") / 1000 cast "long"))
    val asNtz = asTs.withColumn("ts", col("ts").cast("timestamp_ntz"))
    assert(asTs.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(asNtz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    def hourly(df: org.apache.spark.sql.DataFrame) =
      Events.hourlyTypeAgg(df).collect().map(_.toSeq).toSet
    def sess(df: org.apache.spark.sql.DataFrame) =
      Events.sessionizeBatch(df, gapNs = 10000000000L)
        .collect().map(_.toSeq).toSet
    assert(hourly(ns) == hourly(asTs) && hourly(ns) == hourly(asNtz))
    assert(sess(ns) == sess(asTs) && sess(ns) == sess(asNtz))
    assert(hourly(ns).map(_.head) == Set(1L, 2L)) // epoch hours 1 and 2
    // every dtype normalizes to ns longs
    assert(asNtz.select(Events.tsNanos(col("ts"), asNtz.schema("ts").dataType))
      .collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3600000000000L, 3605000000000L, 7201000000000L))
    // unsupported dtype fails loudly at plan time
    intercept[IllegalArgumentException] {
      Events.hourlyTypeAgg(ns.withColumn("ts", col("ts").cast("string")))
    }
  }

  test("streaming minhash pairs match batch candidates across batches") {
    import graft.streaming.StreamDedup
    import graft.pipeline.Dedup
    // two files → two triggers: the duplicate of every base doc arrives
    // in a LATER micro-batch, so every planted pair must cross bucket
    // state, not just a within-batch join
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 40).select("doc_id", "text")
    val dupes = base.select((col("doc_id") + 1000).as("doc_id"),
      col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_smh")
    base.coalesce(1).write.parquet(s"$dir/f1")
    dupes.coalesce(1).write.parquet(s"$dir/f2")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_smh2")
    def link(sub: String): Unit = {
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve(s"$sub.parquet"), f.toPath)
    }
    link("f1"); link("f2")
    val all = base.union(dupes)
    val got = StreamDedup.runMinhashPairs(spark, streamDir.toString,
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.minhashPairs(all, "doc_id", "text")
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    // and the planted cross-batch duplicates are all found
    val planted = base.collect().map(_.getLong(0))
      .map(i => (i, i + 1000)).toSet
    assert(planted.subsetOf(got))
  }

  test("streaming decontam guard equals the batch operator, stateless") {
    import graft.streaming.StreamText
    import graft.pipeline.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 5000L).as("bid"),
        substring(col("text"), 5, 120).as("text"))
    // multiple files → multiple triggers; the guard is stateless, so
    // batch composition must not matter
    val dir = java.nio.file.Files.createTempDirectory("graft_sdec")
    docs.repartition(3).write.mode("overwrite")
      .parquet(s"$dir/corpus.parquet")
    val got = StreamText.runDecontam(spark, s"$dir/corpus.parquet",
      "doc_id", "text", bench, "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = Dedup.exactNgramDecontam(docs, "doc_id", "text",
      bench, "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === want)
    assert(got.nonEmpty, "excerpt fixture must contaminate")
  }

  test("streaming temperature mix equals the batch sampler across micro-batches") {
    import graft.streaming.StreamText
    import graft.pipeline.Sampling
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang")
    // multiple files → multiple triggers; the membership predicate is
    // stateless, so micro-batch composition must not matter
    val dir = java.nio.file.Files.createTempDirectory("graft_stmx")
    docs.repartition(4).write.mode("overwrite")
      .parquet(s"$dir/corpus.parquet")
    val got = StreamText.runTemperatureMix(spark,
      s"$dir/corpus.parquet", "doc_id", "lang",
      budgetDiv = 10, alpha = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = Sampling.temperatureSampleBudgetDiv(docs, "doc_id",
      "lang", budgetDiv = 10, alpha = 0.5)
      .select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming language profile accumulates across micro-batches") {
    import graft.streaming.StreamText
    // three files → three triggers: the final complete-mode profile
    // must equal the batch profile over the union, proving the
    // grouped-agg state carries across batches
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_slp")
    for (i <- 0 until 3)
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.parquet(s"$dir/f$i")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_slp2")
    for (i <- 0 until 3) {
      val f = new java.io.File(s"$dir/f$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve(s"f$i.parquet"), f.toPath)
    }
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val got = toMap(StreamText.runLangProfile(spark, streamDir.toString,
      "doc_id", "text"))
    val want = toMap(StreamText.langProfile(docs, "doc_id", "text"))
    assert(got == want)
    assert(got.values.map(_._1).sum == docs.count())
  }

  test("sessionizeStream: cross-batch merge, watermark flush, open stays") {
    import org.apache.spark.sql.streaming.OutputMode
    val sec = 1000000000L // ns
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_spec")
      .toString
    def write(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
      // stage behind a dot-dir (invisible to the file source), then
      // move the single part file up as a flat sibling
      val tmp = s"$dir/.stage_$name"
      spark.createDataFrame(rows.map { case (eid, ts, uid) =>
        (eid, ts, uid, "t", 1.5) })
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Path.of(dir, s"$name.parquet"))
    }
    // base epoch well above 0: an event AT the initial watermark
    // (epoch 0) is filtered as late by the event-time-timeout operator
    val base = 1000000L * sec
    // batch 1: user 1 starts a session (2 events); user 2 one event
    write("b1", Seq((1L, base, 1L), (2L, base + 10 * sec, 1L),
      (3L, base, 2L)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val sink = s"sess_spec_${System.nanoTime()}"
    val q = Events.sessionizeStream(stream, gapNs = 3600L * sec)
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    // batch 2: user 1 continues within the gap (cross-batch merge);
    // user 2 jumps 2h (gap-splits); the 2h event also advances the
    // watermark past user 1's horizon -> its merged session flushes
    write("b2", Seq((4L, base + 20 * sec, 1L),
      (5L, base + 7200 * sec, 2L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(sink)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // user 1: ONE merged session over both batches, flushed by timeout;
    // user 2: first session closed by the gap; its 2h session stays
    // open (nothing advanced the watermark past it) and must NOT emit
    assert(got === Set(
      (1L, base, base + 20 * sec, 3L, 4.5),
      (2L, base, base, 1L, 1.5)))
  }

  test("funnel: greedy ordering, window bound, dropout") {
    val df = spark.createDataFrame(Seq(
      // user 1 completes a->b->c in order
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
      // user 2 has c BEFORE b: no completion
      (2L, 10L, "a"), (2L, 30L, "b"), (2L, 20L, "c"),
      // user 3 completes, but step c only outside a 15ns window
      (3L, 10L, "a"), (3L, 12L, "b"), (3L, 40L, "c"),
      // user 4 never does a
      (4L, 10L, "b"), (4L, 20L, "c")
    )).toDF("user_id", "ts", "event_type")
    def run(w: Option[Long]) = Events.funnel(df, Seq("a", "b", "c"), w)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val open = run(None)
    assert(open === Map(1L -> ((10L, 20L, 30L)),
      3L -> ((10L, 12L, 40L))))
    // window 15 after t1=10: user 1's c at 30 > 25 misses; user 3's
    // c at 40 > 25 misses — nobody converts
    assert(run(Some(15L)).isEmpty)
    // window 25: user 1 converts (30 <= 35), user 3 still misses (40)
    assert(run(Some(25L)) === Map(1L -> ((10L, 20L, 30L))))
  }

  test("streaming approxCdf: sketch state merges across micro-batches " +
      "and stays exact while n <= k") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    // three files -> three triggers: the complete-mode sketch state
    // must merge to the same exact quantiles as one batch pass
    val dir = java.nio.file.Files.createTempDirectory("graft_sqt1")
    for (i <- 0 until 3)
      events.filter(pmod(col("event_id"), lit(3L)) === i).coalesce(1)
        .write.parquet(s"$dir/f$i")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sqt2")
    for (i <- 0 until 3) {
      val f = new java.io.File(s"$dir/f$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve(s"f$i.parquet"), f.toPath)
    }
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    val got = toMap(Events.runValueQuantileEstimates(spark,
      streamDir.toString)
      .select(col("event_type"), round(col("med_est"), 6),
        round(col("p90_est"), 6)))
    val want = toMap(events.groupBy(col("event_type"))
      .agg(graft.operators.Aggs.approxCdf(col("value"), 4096).as("cdf"))
      .select(col("event_type"),
        round(graft.operators.Aggs.sketchQuantileUdf(col("cdf"),
          lit(0.5)), 6).as("m"),
        round(graft.operators.Aggs.sketchQuantileUdf(col("cdf"),
          lit(0.9)), 6).as("p")))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("winnow horizon stream: in-horizon pairs only, state plateaus " +
      "across batches while the NoTimeout kernel's grows") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    import graft.streaming.StreamDedup

    // per-batch corpora: 4 docs of unique text each (disjoint token
    // alphabets -> disjoint fingerprints), event time = batch * 1000 s;
    // batch 4 adds an identical-text pair (in-horizon, must emit) and a
    // copy of a batch-3 text (1000 s apart > 60 s horizon, must not)
    def text(b: Int, d: Int) =
      (0 until 25).map(j => s"w${b}q${d}x$j").mkString(" ")
    def ts(b: Int) = new java.sql.Timestamp(b * 1000L * 1000)
    def batch(b: Int): Seq[DocT] =
      (0 until 4).map(d => DocT(b * 10L + d, text(b, d), ts(b)))

    val horizonIn = MemoryStream[DocT]
    val hq = StreamDedup.winnowPairsStreamHorizon(horizonIn.toDF(),
      "doc_id", "text", "ts", horizonMs = 60 * 1000L, latenessMs = 0L)
      .writeStream.format("memory").queryName("spec_wh")
      .outputMode(OutputMode.Append()).start()
    val plainIn = MemoryStream[DocT]
    val pq = StreamDedup.winnowPairsStream(plainIn.toDF(),
      "doc_id", "text")
      .writeStream.format("memory").queryName("spec_wp")
      .outputMode(OutputMode.Append()).start()

    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery) =
      q.lastProgress.stateOperators(0).numRowsTotal

    val hRows = Seq.newBuilder[Long]
    val pRows = Seq.newBuilder[Long]
    for (b <- 0 until 5) {
      val extra =
        if (b == 4) Seq(
          DocT(991L, text(4, 0), ts(4)), // dup of batch-4 doc 40: emit
          DocT(992L, text(3, 0), ts(4))) // dup of batch-3 doc 30: too old
        else Seq.empty
      horizonIn.addData(batch(b) ++ extra)
      hq.processAllAvailable()
      plainIn.addData(batch(b) ++ extra)
      pq.processAllAvailable()
      hRows += stateRows(hq)
      pRows += stateRows(pq)
    }
    hq.stop(); pq.stop()

    val h = hRows.result(); val p = pRows.result()
    // NoTimeout state is monotone non-decreasing and ends with every
    // fingerprint ever seen; horizon state holds ~2 batches' worth
    // (current + not-yet-past-watermark previous) and must PLATEAU:
    // the last batches stay near the level of batch 1, far below the
    // accumulating kernel
    assert(p.last > p.head, s"plain should grow: $p")
    assert((1 until 5).forall(i => p(i) >= p(i - 1)), s"plain: $p")
    assert(h.last < p.last / 2, s"horizon $h vs plain $p")
    // plateau: batch 2..4 states stay within 2x of the two-batch level
    // reached at batch 1 (batch 4 carries the two extra dup docs)
    assert((2 until 5).forall(i => h(i) <= h(1) * 2), s"horizon: $h")

    // pair semantics: exactly the identical-text in-horizon pair
    // (normalized, deduped across its shared fingerprints); the
    // batch-3 copy pairs in the NoTimeout kernel only
    val hPairs = spark.table("spec_wh").distinct().as[(Long, Long)]
      .collect().toSet
    val pPairs = spark.table("spec_wp").distinct().as[(Long, Long)]
      .collect().toSet
    assert(hPairs === Set((40L, 991L)))
    assert(pPairs === Set((40L, 991L), (30L, 992L)))
  }

  test("minhash horizon stream: in-horizon pairs only, state plateaus " +
      "across batches while the NoTimeout kernel's grows") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    import graft.streaming.StreamDedup

    // same batch scheme as the winnow horizon spec: disjoint token
    // alphabets per doc -> distinct band signatures; batch 4 plants an
    // in-horizon identical-text dup (emit) and an out-of-horizon copy
    // of a batch-3 text (silent in the horizon kernel only)
    def text(b: Int, d: Int) =
      (0 until 25).map(j => s"m${b}q${d}x$j").mkString(" ")
    def ts(b: Int) = new java.sql.Timestamp(b * 1000L * 1000)
    def batch(b: Int): Seq[DocT] =
      (0 until 4).map(d => DocT(b * 10L + d, text(b, d), ts(b)))

    val horizonIn = MemoryStream[DocT]
    val hq = StreamDedup.minhashPairsStreamHorizon(horizonIn.toDF(),
      "doc_id", "text", "ts", horizonMs = 60 * 1000L, latenessMs = 0L)
      .writeStream.format("memory").queryName("spec_mhh")
      .outputMode(OutputMode.Append()).start()
    val plainIn = MemoryStream[DocT]
    val pq = StreamDedup.minhashPairsStream(plainIn.toDF(),
      "doc_id", "text")
      .writeStream.format("memory").queryName("spec_mhp")
      .outputMode(OutputMode.Append()).start()

    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery) =
      q.lastProgress.stateOperators(0).numRowsTotal

    val hRows = Seq.newBuilder[Long]
    val pRows = Seq.newBuilder[Long]
    for (b <- 0 until 5) {
      val extra =
        if (b == 4) Seq(
          DocT(991L, text(4, 0), ts(4)), // dup of batch-4 doc 40: emit
          DocT(992L, text(3, 0), ts(4))) // dup of batch-3 doc 30: too old
        else Seq.empty
      horizonIn.addData(batch(b) ++ extra)
      hq.processAllAvailable()
      plainIn.addData(batch(b) ++ extra)
      pq.processAllAvailable()
      hRows += stateRows(hq)
      pRows += stateRows(pq)
    }
    hq.stop(); pq.stop()

    val h = hRows.result(); val p = pRows.result()
    assert(p.last > p.head, s"plain should grow: $p")
    assert((1 until 5).forall(i => p(i) >= p(i - 1)), s"plain: $p")
    assert(h.last < p.last / 2, s"horizon $h vs plain $p")
    assert((2 until 5).forall(i => h(i) <= h(1) * 2), s"horizon: $h")

    val hPairs = spark.table("spec_mhh").distinct().as[(Long, Long)]
      .collect().toSet
    val pPairs = spark.table("spec_mhp").distinct().as[(Long, Long)]
      .collect().toSet
    assert(hPairs === Set((40L, 991L)))
    assert(pPairs === Set((40L, 991L), (30L, 992L)))
  }

  test("stream heavy hitters: MG state merged across micro-batches equals batch exact") {
    // 3 engineered hot keys (~25% each) in a ~750-distinct-key tail,
    // m = 16 counters: every micro-batch merge truncates the summary
    // (the decrement step fires), yet the PODS'12 survival guarantee
    // keeps all keys above N/(m+1) — so the exact second pass yields
    // EXACTLY { key : cnt * m > N }, equal to the batch operator and
    // the brute-force model, independent of batch boundaries.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shh_spec").toString
    val n = 3000
    val rows = (0 until n).map { i =>
      if (i % 4 != 0) (i.toLong, s"hot_${i % 3}")
      else (i.toLong, s"cold_$i")
    }
    // 5 part files -> multiple micro-batches (filesPerTrigger targets 4)
    spark.createDataFrame(rows).toDF("event_id", "key")
      .repartition(5).write.mode("overwrite").parquet(dir)
    val m = 16
    val got = Events.runHeavyHitters(spark, dir, col("key"), m = m)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.operators.Aggs.heavyHittersExact(
        spark.read.parquet(dir), "key", m)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expect = counts.filter { case (_, c) => c * m > n }
    assert(expect.keySet === Set("hot_0", "hot_1", "hot_2"))
    assert(got === expect)
    assert(batch === expect)
  }

  test("DrainGc counts shuffle_* files only, recursively") {
    import graft.streaming.DrainGc
    def put(root: java.nio.file.Path, rel: String, n: Int): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, Array.fill[Byte](n)(1))
    }
    val blk1 = java.nio.file.Files.createTempDirectory("spec_blkA")
    val blk2 = java.nio.file.Files.createTempDirectory("spec_blkB")
    // real blockmgr layout: two-hex subdirs holding the block files
    put(blk1, "0c/shuffle_3_0_0.data", 700) //   counted
    put(blk1, "0d/shuffle_3_0_0.index", 50) //   counted
    put(blk1, "11/rdd_12_3", 4000) //            live pin: excluded
    put(blk1, "11/temp_shuffle_ab", 0) //        0-length: no effect
    put(blk1, "stray.txt", 999) //               unrelated: excluded
    put(blk2, "3f/shuffle_9_0_0.data", 250) //   second dir: counted
    val got = DrainGc.shuffleBytes(Seq(blk1.toFile, blk2.toFile,
      new java.io.File(blk1.toFile, "does_not_exist")))
    assert(got === 700L + 50L + 250L) // missing dir contributes 0
  }

  test("DrainGc nudge threshold fires at 1 GiB combined, either term") {
    import graft.streaming.DrainGc
    val g = DrainGc.thresholdBytes
    assert(g === (1L << 30))
    assert(!DrainGc.shouldNudge(0L, 0L))
    assert(!DrainGc.shouldNudge(g / 2, g / 2 - 1)) // just under
    assert(DrainGc.shouldNudge(g / 2, g / 2)) //      exactly at
    assert(DrainGc.shouldNudge(g, 0L)) //             checkpoint alone
    assert(DrainGc.shouldNudge(0L, g)) //             shuffle alone
  }

  test("drain GC walk is scoped to this app's own blockmgr dirs") {
    // the bridge must return THIS SparkContext's dirs — not every
    // blockmgr-* under spark.local.dir (stale/concurrent JVMs) — so a
    // neighbor's shuffle mass can never re-trigger the nudge here
    val dirs = org.apache.spark.storage.GraftStorageBridge
      .blockManagerDirs
    assert(dirs.nonEmpty)
    assert(dirs.forall(_.getName.startsWith("blockmgr-")))
    assert(dirs.forall(_.isDirectory))
  }
}

/** One row of the events table, for hand-built stream input. */
final case class Event(event_id: Long, ts: Long, user_id: Long,
    event_type: String, value: Double)
