package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.GraftSession

/** Deterministic per-query profile for optimization evidence: runs each
  * named SparkEntry query twice, an untimed warm-up and then the measured
  * run, in the session `GraftSession` builds for Bench, and reports
  * counters of the measured run that do NOT depend on host noise —
  * Spark job count, stage count, shuffle read/write bytes, input bytes,
  * codegen compilation count and time — plus the (noisy) wall time for
  * context. Guide §1: measure first; on a host with 10-100x stall
  * spikes the byte/count metrics are the trustworthy axis. Because
  * every gate is warmed first, `cgN` counts the classes a repeated run
  * of the same gate compiles again: 0 when the codegen cache serves it.
  *
  * A streaming gate also prints every micro-batch's `durationMs`
  * breakdown (triggerExecution = total; addBatch = sink + state work;
  * queryPlanning / getBatch / latestOffset = driver-side incremental
  * re-planning; commitOffsets / walCommit = progress-log I/O) plus batch
  * row counts and state-store commit counts, then their sums. These are
  * the deterministic axes for the stream-family floor: batches × state
  * partitions × per-commit cost.
  * Usage: runMain graft.tools.ProfileQuery q1,q2,...
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench). */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val inBytes = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          inBytes.addAndGet(m.inputMetrics.bytesRead)
          ()
        }
      }
    })
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Long, Map[String, Long], Long, Long)]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val m = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          .toMap
        val st = p.stateOperators
        val commits =
          if (st == null || st.isEmpty) 0L
          else st.map(_.numShufflePartitions).sum
        batches.add((p.name, p.batchId, m, p.numInputRows, commits)): Unit
      }
    })
    def codegenCount: Long = org.apache.spark.metrics.source
      .CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def codegenMs: Double = {
      val s = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getSnapshot
      s.getValues.map(_.toDouble).sum
    }
    println(f"${"query"}%-28s ${"jobs"}%5s ${"stg"}%5s ${"shufR_MB"}%9s " +
      f"${"shufW_MB"}%9s ${"in_MB"}%8s ${"cgN"}%5s ${"cg_ms"}%8s ${"wall_s"}%7s")
    val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
      "latestOffset", "addBatch", "walCommit", "commitOffsets")
    names.foreach { name =>
      // warm-up: absorb session, codegen and first-scan init outside the
      // measured run (same role as Bench's burn-in pass)
      graft.SparkEntry.queries(name)(spark, sfDir).count(): Unit
      GraftSession.reset(spark)
      GraftBridge.drainListenerBus(spark)
      batches.clear()
      val (j0, s0, r0, w0, i0) = (jobs.get, stages.get, shufRead.get,
        shufWrite.get, inBytes.get)
      val (c0, m0) = (codegenCount, codegenMs)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count(): Unit
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListenerBus(spark)
      println(f"$name%-28s ${jobs.get - j0}%5d ${stages.get - s0}%5d " +
        f"${(shufRead.get - r0) / 1e6}%9.1f " +
        f"${(shufWrite.get - w0) / 1e6}%9.1f " +
        f"${(inBytes.get - i0) / 1e6}%8.1f " +
        f"${codegenCount - c0}%5d ${codegenMs - m0}%8.0f $wall%7.2f")
      val bs = batches.asScala.toSeq
      bs.foreach { case (q, id, m, rows, commits) =>
        val cells = keys.map(k => f"$k=${m.getOrElse(k, 0L)}%d")
          .mkString(" ")
        println(f"  [$q%s b$id%d] rows=$rows%d stateParts=$commits%d $cells")
      }
      if (bs.nonEmpty)
        println(f"  SUM batches=${bs.length}%d " + keys.map(k =>
          f"$k=${bs.map(_._3.getOrElse(k, 0L)).sum}%d").mkString(" "))
      GraftSession.reset(spark)
    }
    spark.stop()
  }
}
