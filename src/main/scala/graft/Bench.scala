package graft
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.gates.Gate

/** Benchmark and profiling main: runs the SparkEntry gates against
  * SPARK_GRAFT_SF_DIR (all of them, or the comma list in
  * SPARK_GRAFT_ONLY) and prints one JSON line. Mirrors the reference's
  * benchmark harness discipline (`python/benchmark/hail/conftest.py`:
  * >=1 burn-in + >=3 timed iterations); per-query time is the median of the
  * timed iterations, so JVM/codegen warmup does not pollute the numbers,
  * and the iterations are fleet-interleaved so a transient host window
  * cannot own all of one query's samples.
  * A failing query fails the whole bench loudly — a benchmark that records
  * broken queries as fast is worse than one that crashes.
  *
  * A pass times `consume`: the gate's full output, every column of it,
  * as a user reading the result has it computed (`count()` let Catalyst
  * prune the columns). Its `BENCH PROGRESS` line adds the pass's
  * `Counters`, which do not depend on host noise; a streaming gate adds
  * one `BENCH BATCH` line per micro-batch: the `durationMs` breakdown
  * (triggerExecution = total; addBatch = sink + state work;
  * queryPlanning / getBatch / latestOffset = driver-side re-planning;
  * commitOffsets / walCommit = progress-log I/O), input rows and state
  * partitions. `SPARK_GRAFT_ONLY=q SPARK_GRAFT_BENCH_ITERS=1` profiles
  * one gate: a warm-up run, then one measured run.
  *
  * Timeout survivability (r17 lesson: the driver's wall-clock kill erased
  * the whole artifact because everything was buffered until the end):
  *  - every query pass streams a `BENCH PROGRESS` line to stderr with the
  *    timed seconds, the untimed cleanup seconds, the wall offset and the
  *    counters, so a killed run still carries per-pass telemetry and host
  *    stalls show up as gaps between consecutive lines;
  *  - a JVM shutdown hook emits the one-line JSON from whatever samples
  *    completed (medians over available samples; burn-in as fallback), so
  *    SIGTERM cannot erase the round's data;
  *  - a per-query-pass soft deadline (SPARK_GRAFT_BENCH_DEADLINE_SEC,
  *    default 900, 0 disables) cancels the query's job group and records
  *    the deadline as a loud sentinel sample instead of hanging forever —
  *    the fleet-interleaved median rejects a single sentinel, and a query
  *    whose MEDIAN is the sentinel is visibly broken rather than silently
  *    absent. */
object Bench {
  /** The gates the one-line JSON reports by name (one per operator family
    * plus every historically expensive one); GateRegistrySpec checks that
    * each is a registered gate. */
  val headline: Set[String] = Set(
    "table_join_inner", "table_order_by", "table_scan_sum",
    "table_aggregate_by_key", "table_filter", "table_distinct",
    "table_interval_join", "table_multi_way_zip_join", "query_table",
    "vcf_import", "bgen_import", "plink_import", "split_multi",
    "linreg_rows", "logistic_rows", "lmm_rows", "geno_ld_matrix",
    "geno_king", "geno_ibd", "geno_mendel_errors", "geno_tdt",
    "geno_de_novo", "geno_pc_relate", "geno_skat", "geno_concordance",
    "qc_variant_qc", "qc_sample_qc", "linalg_pca", "linalg_grm",
    "matrix_entries_table", "matrix_aggregate_rows_by_key",
    "matrix_filter_entries_agg", "matrix_write_read",
    "matrix_annotate_rows_table", "pipe_minhash_pairs",
    "pipe_simhash_pairs", "pipe_embed_dedup", "pipe_neardup_clusters",
    "pipe_ann_topk", "pipe_ann_lsh", "pipe_text_stats",
    "pipe_dedup_exact", "stream_hourly_agg", "vds_combine_densify",
    "rand_seeded", "pipe_knn_join", "pipe_image_dedup", "geno_ld_prune",
    "table_add_index", "pipe_minhash_fast",
    "pipe_quality_filters",
    "geno_simulate_mating", "pipe_winnow_pairs", "pipe_ngram_jaccard",
    "pipe_corpus_clean", "stream_winnow_pairs",
    "pipe_semdedup", "pipe_lm_score", "pipe_bpe_encode",
    "pipe_contamination_docs", "pipe_fuzzy_best_match")

  /** Run `df` to its last row and column, keeping no result: the one
    * action of a timed pass. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Totals since the session started: Spark jobs, stages, shuffle
    * read/write bytes, input bytes, codegen classes compiled (0 over a
    * warm gate the codegen cache serves) and codegen compile ns. A pass's
    * counters are the difference of the readings before and after it,
    * both outside the timed region. */
  private final class Counters(spark: SparkSession) {
    private val jobs, stages, shufRead, shufWrite, inBytes = new AtomicLong(0L)
    /** (query name, batch id, durationMs, input rows, state partitions)
      * of every micro-batch since the last `read`. */
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Long, Map[String, Long], Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          inBytes.addAndGet(m.inputMetrics.bytesRead): Unit
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val parts = Option(p.stateOperators).toSeq.flatten
          .map(_.numShufflePartitions).sum
        batches.add((p.name, p.batchId, ms.toMap, p.numInputRows, parts)): Unit
      }
    })
    /** The totals once every event posted so far has been delivered. */
    def read(): Array[Long] = {
      GraftBridge.drainListenerBus(spark)
      Array(jobs.get, stages.get, shufRead.get, shufWrite.get, inBytes.get,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        CodeGenerator.compileTime)
    }
  }

  private val batchKeys = Seq("triggerExecution", "queryPlanning",
    "getBatch", "latestOffset", "addBatch", "walCommit", "commitOffsets")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // an unknown name fails here, before a session or a gate runs
    val queries = Gate.select(sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))
      .sortBy(_.name)
    val spark = GraftSession.build()
    val counters = new Counters(spark)
    val wall0 = System.nanoTime()
    def wallNow: Double = (System.nanoTime() - wall0) / 1e9
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "900").toLong
    val watchdog = new java.util.Timer("bench-deadline", true)
    def runOnce(g: Gate, tag: String): Double = {
      val name = g.name
      val sc = spark.sparkContext
      val before = counters.read()
      counters.batches.clear()
      sc.setJobGroup(s"bench-$name", s"bench $name $tag",
        interruptOnCancel = true)
      @volatile var killed = false
      val killer = new java.util.TimerTask {
        def run(): Unit = { killed = true; sc.cancelJobGroup(s"bench-$name") }
      }
      if (deadlineSec > 0) watchdog.schedule(killer, deadlineSec * 1000L)
      val t0 = System.nanoTime()
      val dt =
        try { consume(g.run(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable if killed =>
            System.err.println(s"BENCH DEADLINE query '$name' ($tag) " +
              s"cancelled after ${deadlineSec}s: $e")
            deadlineSec.toDouble
          case e: Throwable =>
            System.err.println(s"BENCH FAILURE in query '$name': $e")
            throw e
        } finally { killer.cancel(); sc.clearJobGroup() }
      // counters and cleanup stay outside the timed section
      val d = counters.read().zip(before).map { case (a, b) => a - b }
      val c0 = System.nanoTime()
      GraftSession.reset(spark)
      val over = (System.nanoTime() - c0) / 1e9
      System.err.println(f"BENCH PROGRESS $tag%s $name%s sec=$dt%.3f " +
        f"over=$over%.3f wall=$wallNow%.1f jobs=${d(0)}%d " +
        f"stages=${d(1)}%d shufR_mb=${d(2) / 1e6}%.1f " +
        f"shufW_mb=${d(3) / 1e6}%.1f in_mb=${d(4) / 1e6}%.1f " +
        f"cg_classes=${d(5)}%d cg_ms=${d(6) / 1e6}%.0f")
      counters.batches.asScala.foreach { case (q, id, ms, rows, parts) =>
        val cells = batchKeys.map(k => s"$k=${ms.getOrElse(k, 0L)}")
        System.err.println(s"BENCH BATCH $tag $name [$q b$id] rows=$rows " +
          s"stateParts=$parts ${cells.mkString(" ")}")
      }
      dt
    }
    // samples(i) collects query i's timed passes as they complete, so a
    // killed run can still emit medians over what exists
    val samples =
      Array.fill(queries.length)(collection.mutable.ArrayBuffer[Double]())
    val burnin = Array.fill(queries.length)(Double.NaN)
    @volatile var passesDone = 0
    @volatile var printed = false
    // Locale.ROOT: the one-line JSON contract must not pick up a
    // comma decimal separator from the JVM default locale.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmt(kvs: Seq[(String, Double)]): String = kvs
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    /** Emit stderr diagnostics + the one-line stdout JSON from whatever
      * samples exist. Runs once: at normal completion, or from the
      * shutdown hook if the run is killed first. */
    def emit(): Unit = synchronized {
      if (printed) return
      printed = true
      val spreads = queries.map(_.name).zipWithIndex.flatMap { case (name, i) =>
        val timed = samples(i).toSeq.sorted
        if (timed.nonEmpty)
          Some(name -> ((timed.head, timed(timed.length / 2), timed.last)))
        else if (!burnin(i).isNaN) // killed before pass 1 reached query i
          Some(name -> ((burnin(i), burnin(i), burnin(i))))
        else None
      }
      val results = spreads.map { case (n, (_, med, _)) => n -> med }
      val total = results.map(_._2).sum
      // The one-line JSON contract: the harness captures only the tail of
      // stdout, so the line must stay well under 2000 chars. `value`/`n`
      // cover ALL queries; the per-query map is the headline subset (one
      // per operator family + every historically-expensive query), values
      // rounded to ms. The full map goes to stderr for human readers.
      // `passes` = fully completed timed passes (== iters when healthy;
      // lower means the line came from the shutdown hook of a killed run).
      // Printed FIRST — when emit() runs from the shutdown hook the JVM
      // can be halted under us at any point, and the contract line is the
      // one thing that must survive.
      val qs = fmt(results.filter { case (k, _) => headline.contains(k) })
      System.out.println(
        s"""{"metric":"total","value":${num(total)},"unit":"sec"""" +
        s""","n":${results.length},"passes":$passesDone,"queries":$qs""" +
        s""","sf":"$sfDir"}""")
      System.out.flush()
      System.err.println("BENCH FULL " + fmt(results))
      // full min/median/max spread: stderr + a committed-on-demand file
      // (the stdout line contract caps at ~2000 chars, medians only)
      val spreadJson = spreads.map { case (k, (mn, md, mx)) =>
        "\"" + k + "\":[" + num(mn) + "," + num(md) + "," + num(mx) + "]"
      }.mkString("{", ",", "}")
      System.err.println("BENCH SPREAD " + spreadJson)
      sys.env.get("SPARK_GRAFT_BENCH_SPREAD_OUT").foreach { p =>
        val w = new java.io.PrintWriter(p)
        try w.println(s"""{"sf":"$sfDir","iters":$iters,""" +
          s""""passes_done":$passesDone,""" +
          s""""spread_min_med_max":$spreadJson}""")
        finally w.close()
      }
    }
    val hook = new Thread(() => emit(), "bench-emit-on-kill")
    Runtime.getRuntime.addShutdownHook(hook)
    queries.zipWithIndex.foreach { case (g, i) =>
      burnin(i) = runOnce(g, "burnin")
    }
    // Iterations are FLEET-INTERLEAVED (pass 1 runs every query, then
    // pass 2, ...), not per-query back-to-back: a transient host
    // slowdown then lands in at most ~one pass of each query's samples
    // and the per-query median rejects it. Back-to-back sampling put
    // all 3 samples of a query inside the same bad window — the r11
    // driver artifact carried 12-15x medians on untouched code from
    // exactly that mechanism.
    (1 to iters).foreach { p =>
      queries.zipWithIndex.foreach { case (g, i) =>
        samples(i) += runOnce(g, s"pass$p")
      }
      passesDone = p
      System.err.println(f"BENCH PASSDONE $p%d wall=$wallNow%.1f")
    }
    emit()
    Runtime.getRuntime.removeShutdownHook(hook)
    spark.stop()
  }
}
