package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Measurement engine of the benchmark. Runs one workload's ops through
  * `graft.SparkEntry.queries(name)(spark, dir)` as a closed loop with a
  * single client: a cold pass in a fresh session, then warm passes until
  * `seconds` have passed (at least three, so their median skips one slow
  * pass). Each op's output is reduced to its digest (row
  * count plus an order-independent hash over every output column), so
  * Catalyst cannot prune columns the user would have read.
  *
  * The harness only measures. It writes one JSON record per line to
  * `out` (the moment the session was ready, op samples with their
  * digests and, when tracing, per-op layer counters, then a closing run
  * record); the Python driver compares digests and turns the records
  * into metrics.
  *
  * Arguments are `key=value`: ops (comma list), seed, seconds, trace
  * (0|1), data (input directory), tables (inputs each set-up touches),
  * out, deadline (seconds per op), cpus, and scratch (Spark's local and
  * warehouse dirs). */
object Harness {

  // ---------------------------------------------------------------- output

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Records are kept in memory and written out when the run ends, so
    * no file I/O happens between ops. */
  private final class Out(path: String) {
    private val lines = collection.mutable.ArrayBuffer[String]()
    def rec(kvs: (String, Any)*): Unit = synchronized {
      lines += json.writeValueAsString(kvs.toMap)
    }
    def close(): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(path), lines.asJava,
      java.nio.charset.StandardCharsets.UTF_8): Unit
  }

  // --------------------------------------------------------------- session

  /** Session confs shared with `graft.Bench`; asserted after every build
    * and hashed into the provenance. */
  private def parityConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "10000")

  private def buildSession(cpus: Int, scratch: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    parityConfs(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    parityConfs(cpus).foreach { case (k, v) =>
      val got = spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k))
      require(got.contains(v),
        s"session parity with graft.Bench broken: $k=$got, expected $v")
    }
    spark
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x")
      .mkString

  // ---------------------------------------------------------------- digest

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count plus two order-independent 32-bit lane sums of a 64-bit
    * hash over every output column (map-typed columns are hashed through
    * their JSON form, since Spark refuses to hash maps). */
  def digest(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    f"${r.getLong(0)}%d:${r.getLong(1)}%016x:${r.getLong(2)}%016x"
  }

  // ---------------------------------------------------------------- tracer

  /** Layer counters fed by Spark's public listener APIs. Counters only
    * grow; the harness reads a snapshot before and after each op window,
    * after draining the listener bus, and records the difference. */
  private final class Tracer(spark: SparkSession) {
    private val c = collection.mutable.LinkedHashMap[String, AtomicLong]()
    private def add(k: String, v: Long): Unit =
      c.synchronized(c.getOrElseUpdate(k, new AtomicLong())).addAndGet(v)
    // job intervals in epoch ms: start by job id, finished spans
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[
      Int, java.lang.Long]()
    private val spans = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long)]()
    // last state-operator totals per streaming query
    private val state = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long)]()

    val sparkListener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        add("jobs", 1); jobStart.put(e.jobId, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(e.jobId)
        if (s != null) spans.add((s.longValue, e.time))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        add("stages", 1); add("tasks", e.stageInfo.numTasks)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        if (e.reason != org.apache.spark.Success) add("failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("run_ms", m.executorRunTime)
          add("cpu_ns", m.executorCpuTime)
          add("task_gc_ms", m.jvmGCTime)
          add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
          add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
          add("spill_b", m.diskBytesSpilled)
          add("input_b", m.inputMetrics.bytesRead)
          add("output_b", m.outputMetrics.bytesWritten)
        }
      }
    }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        phases(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = phases(qe)
      private def phases(qe: QueryExecution): Unit = {
        val p = qe.tracker.phases
        Seq("analysis" -> "analysis_ms", "optimization" -> "optimizer_ms",
          "planning" -> "planning_ms").foreach { case (ph, k) =>
          p.get(ph).foreach(s => add(k, s.durationMs))
        }
      }
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long =
          Option(d.get(k)).map(_.longValue).getOrElse(0L)
        add("batches", 1)
        add("add_batch_ms", ms("addBatch"))
        add("stream_planning_ms", ms("queryPlanning"))
        add("commit_ms", ms("walCommit") + ms("commitOffsets"))
        val ops = p.stateOperators.toSeq
        add("state_commit_ms", ops.map(_.commitTimeMs).sum)
        if (ops.nonEmpty) state.put(p.id.toString,
          (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      }
    }

    private var attached = false
    def attach(): Unit = if (!attached) {
      attached = true
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    }
    def detach(): Unit = if (attached) {
      attached = false
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }

    def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val jit = ManagementFactory.getCompilationMXBean

    /** Current counter values, after draining the listener bus. */
    def snapshot(): Map[String, Long] = {
      drain()
      c.synchronized(c.map { case (k, v) => k -> v.get }.toMap) ++ Map(
        "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        "codegen_ns" -> CodeGenerator.compileTime,
        "jvm_gc_ms" -> gcBeans.map(_.getCollectionTime).sum,
        "jit_ms" -> jit.getTotalCompilationTime)
    }

    /** Job spans finished since the last call, as (start, end) epoch ms. */
    def takeSpans(): Seq[(Long, Long)] = {
      val b = Seq.newBuilder[(Long, Long)]
      var x = spans.poll()
      while (x != null) { b += x; x = spans.poll() }
      b.result()
    }

    /** Summed state-store rows and bytes of the streaming queries that
      * reported since the last call. */
    def takeState(): (Long, Long) = {
      val v = state.values.asScala.toSeq
      state.clear()
      (v.map(_._1).sum, v.map(_._2).sum)
    }
  }

  private def diff(a: Map[String, Long], b: Map[String, Long])
      : Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0L) -
      a.getOrElse(k, 0L))).toMap

  /** Length of the union of [start, end] spans, in seconds, clipped to
    * the window [lo, hi] (epoch ms). */
  private def unionSec(spans: Seq[(Long, Long)], lo: Long, hi: Long)
      : Double = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo),
      math.min(e, hi)) }.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total / 1e3
  }

  // --------------------------------------------------------------- sampler

  /** Attributes an op's driver time to layers by sampling the op thread's
    * stack every `periodMs`. Each interval between two samples goes to the
    * layer of the later sample. While the op thread is not running, it
    * waits on work done on other driver threads: a running thread of
    * Spark's query-stage, exchange or subquery pools or a streaming
    * query's execution thread is sampled in its place (that is where
    * adaptive stages are planned and code-generated, broadcasts built and
    * micro-batches planned and committed). With none of them running, the
    * op waits on its jobs: `wait`. A running thread is classified by its
    * innermost frame that names a layer: `codegen` (source generation and
    * compilation), `catalyst` (analyzer, optimizer and planner rules,
    * physical preparation and adaptive re-planning) or graft code; graft
    * code with Spark frames above it is Spark working for graft
    * (`driver_other`), without them it is graft's own code (`entry`).
    * Anything else is `driver_other`.
    *
    * Unlike the listener counters, this sees the analysis of DataFrames a
    * gate builds lazily, and it measures `entry` on its own rather than as
    * the rest of the wall time. */
  private final class Sampler(periodMs: Long) {
    private var target: Thread = null
    private var paused = true
    private var last = 0L
    private var lastCat = "driver_other"
    private val acc = collection.mutable.Map[String, Long]()
    private val helperPrefixes = Seq("QueryStageCreator",
      "ResultQueryStageExecution", "shuffle-exchange", "broadcast-exchange",
      "subquery", "stream execution thread")

    def begin(t: Thread): Unit = synchronized {
      acc.clear(); target = t; lastCat = "driver_other"; resume()
    }
    def resume(): Unit = synchronized {
      paused = false; last = System.nanoTime()
    }
    def pause(): Unit = synchronized { charge(lastCat); paused = true }
    /** Seconds per layer since `begin`, excluding paused time. */
    def end(): Map[String, Double] = synchronized {
      if (!paused) pause()
      target = null
      acc.map { case (k, ns) => k -> ns / 1e9 }.toMap
    }

    private def charge(cat: String): Unit = {
      val now = System.nanoTime()
      acc(cat) = acc.getOrElse(cat, 0L) + (now - last)
      last = now; lastCat = cat
    }

    private val codegenMethods =
      Set("genCode", "doGenCode", "doProduce", "doConsume", "doCodeGen")
    private val codegenPrefixes = Seq("org.codehaus.",
      "org.apache.spark.sql.catalyst.expressions.codegen.")
    private val catalystPrefixes = Seq(
      "org.apache.spark.sql.catalyst.analysis.",
      "org.apache.spark.sql.catalyst.optimizer.",
      "org.apache.spark.sql.catalyst.rules.",
      "org.apache.spark.sql.catalyst.planning.",
      "org.apache.spark.sql.execution.SparkStrategies",
      "org.apache.spark.sql.execution.SparkPlanner",
      "org.apache.spark.sql.execution.SparkOptimizer",
      "org.apache.spark.sql.execution.adaptive.AQEOptimizer")
    private val catalystMethods =
      Set("prepareForExecution", "applyPhysicalRules", "reOptimize")
    private val sparkPrefixes =
      Seq("org.apache.spark.", "org.apache.parquet.", "org.apache.hadoop.")

    private def classify(t: Thread, followHelpers: Boolean): String = {
      if (t.getState != Thread.State.RUNNABLE) {
        helper().filter(_ => followHelpers)
          .map(classify(_, false)).getOrElse("wait")
      } else {
        var sawSpark = false
        t.getStackTrace.iterator.map { f =>
          val c = f.getClassName
          if (codegenMethods(f.getMethodName) ||
              codegenPrefixes.exists(c.startsWith)) Some("codegen")
          else if (catalystMethods(f.getMethodName) ||
              catalystPrefixes.exists(c.startsWith)) Some("catalyst")
          else if (c.startsWith("graft."))
            Some(if (sawSpark) "driver_other" else "entry")
          else if (c.startsWith("perfbench.")) Some("driver_other")
          else {
            sawSpark ||= sparkPrefixes.exists(c.startsWith); None
          }
        }.collectFirst { case Some(cat) => cat }.getOrElse("driver_other")
      }
    }

    /** A running thread of the driver pools that work for the op. */
    private def helper(): Option[Thread] = {
      var g = Thread.currentThread.getThreadGroup
      while (g.getParent != null) g = g.getParent
      val all = new Array[Thread](g.activeCount * 2 + 16)
      val n = g.enumerate(all, true)
      all.iterator.take(n).find(t => t.getState == Thread.State.RUNNABLE &&
        helperPrefixes.exists(t.getName.startsWith))
    }

    private val sampling = new Thread(() => while (true) {
      Thread.sleep(periodMs)
      synchronized {
        if (target != null && !paused) charge(classify(target, true))
      }
    }, "perfbench-sampler")
    sampling.setDaemon(true)
    sampling.start()
  }

  // ------------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val ops = a("ops").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val dataDir = a("data")
    val deadline = a("deadline").toDouble
    val minWarm = 3
    val cpus = a("cpus").toInt
    val scratch = a("scratch")
    val tables = a.getOrElse("tables", "").split(",").filter(_.nonEmpty)
    val out = new Out(a("out"))

    val unknown = ops.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")
    val gates = graft.SparkEntry.queries

    // --- set-up: the session is ready once it is built and has read the
    // footers of the workload's input tables; the driver times it from
    // the moment it started this process
    val spark = buildSession(cpus, scratch)
    tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
    out.rec("type" -> "setup", "ready_ms" -> System.currentTimeMillis())
    val confHash = sha256(parityConfs(cpus).map { case (k, v) => s"$k=$v" }
      .mkString("\n") + s"\nmaster=local[$cpus]")

    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val sampler = tracer.map(_ => new Sampler(10))
    val watchdog = new java.util.Timer("perfbench-deadline", true)

    /** One op: build the gate, then digest its full output. Returns its
      * wall time; cleanup afterwards is outside it. */
    def runOp(pass: Int, kind: String, name: String, t: Option[Tracer])
        : Double = {
      val group = s"perfbench-$pass-$name"
      sc.setJobGroup(group, group, interruptOnCancel = true)
      @volatile var cancelled = false
      val killer = new java.util.TimerTask {
        def run(): Unit = { cancelled = true; sc.cancelJobGroup(group) }
      }
      watchdog.schedule(killer, math.max(1L, (deadline * 1000).toLong))
      val smp = sampler.filter(_ => t.isDefined)
      val c0 = t.map(_.snapshot())
      t.foreach(_.takeSpans()); t.foreach(_.takeState())
      val w0 = System.currentTimeMillis()
      var error: Option[String] = None
      var dig: Option[String] = None
      var buildS = 0.0
      var actionS = 0.0
      var cMid: Option[Map[String, Long]] = None
      var wMid0 = 0L
      var wMid1 = 0L
      try {
        smp.foreach(_.begin(Thread.currentThread))
        val t0 = System.nanoTime()
        val df = gates(name)(spark, dataDir)
        buildS = (System.nanoTime() - t0) / 1e9
        smp.foreach(_.pause())
        wMid0 = System.currentTimeMillis()
        cMid = t.map(_.snapshot())
        wMid1 = System.currentTimeMillis()
        smp.foreach(_.resume())
        val t1 = System.nanoTime()
        dig = Some(digest(df))
        actionS = (System.nanoTime() - t1) / 1e9
      } catch {
        case e: Throwable => error = Some(e.toString.take(300))
      } finally { killer.cancel(); sc.clearJobGroup() }
      val sampled = smp.map(_.end())
      val w1 = System.currentTimeMillis()
      val wall = buildS + actionS
      if (cancelled || wall > deadline)
        error = Some(error.getOrElse("") +
          f" [deadline ${deadline}%.3f s exceeded]")
      val layers: Option[Map[String, Any]] = t.map { tr =>
        val c1 = tr.snapshot()
        val spans = tr.takeSpans()
        val (stateRows, stateBytes) = tr.takeState()
        val pinned = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        val mid = cMid.getOrElse(c1)
        if (cMid.isEmpty) { wMid0 = w1; wMid1 = w1 }
        Map(
          "build" -> diff(c0.get, mid), "action" -> diff(mid, c1),
          "sampled" -> sampled.getOrElse(Map.empty),
          "eager_jobs_s" -> unionSec(spans, w0, wMid0),
          "action_jobs_s" -> unionSec(spans, wMid1, w1),
          "eager_jobs" -> spans.count(_._1 < wMid0),
          "state_rows" -> stateRows, "state_bytes" -> stateBytes,
          "pinned_bytes" -> pinned)
      }
      // cleanup (untimed): drop persisted/checkpointed blocks, graft's
      // pin registry and the cache manager, as graft.Bench does
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      graft.pipeline.Materialize.release(spark)
      spark.catalog.clearCache()
      out.rec("type" -> "op", "pass" -> pass, "kind" -> kind, "op" -> name,
        "sec" -> wall, "build_s" -> buildS, "action_s" -> actionS,
        "digest" -> dig, "error" -> error, "layers" -> layers)
      wall
    }

    /** A pass's wall time is the sum of its ops' wall times, so the
      * cleanup between ops and the tracing bookkeeping stay outside it. */
    def runPass(pass: Int, kind: String, t: Option[Tracer]): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val wall = order.map(n => runOp(pass, kind, n, t)).sum
      out.rec("type" -> "pass", "pass" -> pass, "kind" -> kind,
        "wall_s" -> wall)
    }

    // --- cold pass, then warm passes until `seconds` have passed
    runPass(0, "cold", tracer)
    val m0 = System.nanoTime()
    var pass = 1
    var measured = 0
    while (measured < minWarm || (System.nanoTime() - m0) / 1e9 < seconds) {
      // traced runs alternate traced and untraced warm passes, so the
      // tracing overhead is measured inside the same run
      val t = tracer.filter(_ => measured % 2 == 0)
      tracer.foreach(tr => if (t.isDefined) tr.attach() else tr.detach())
      runPass(pass, "warm", t)
      pass += 1; measured += 1
    }
    tracer.foreach(_.detach())

    // heap after GC: wait (at most 3 s) until the asynchronous unpersists
    // have stopped shrinking the block manager's storage memory, then take
    // the smallest heap in use over three full GCs, so objects the
    // ContextCleaner frees after the first GC are not counted
    val until = System.nanoTime() + 3000000000L
    def storageUsed: Long = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    var used = storageUsed
    var settled = false
    while (!settled && used > 0 && System.nanoTime() < until) {
      Thread.sleep(100)
      val now = storageUsed
      settled = now == used
      used = now
    }
    val heapUsed = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    out.rec("type" -> "run", "heap_after_gc_mb" -> heapUsed / 1048576.0,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "conf_hash" -> confHash, "cpus" -> cpus)
    out.close()
    watchdog.cancel()
    spark.stop()
  }
}
