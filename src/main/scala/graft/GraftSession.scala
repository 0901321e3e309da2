package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: Bench, Verify, the test
  * session and every `graft.tools` main run under these confs, so a
  * profile or plan dump describes the session the bench times. */
object GraftSession {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else every available core. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // legacy events data carried TIMESTAMP(NANOS) (read as long ns
    // under this flag); current data is TIMESTAMP(MICROS) → NTZ, and
    // Events.tsNanos adapts to either — the flag stays for old files
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // streaming parity harnesses use implicit temp checkpoints; without
    // this they survive q.stop() and accrete across iterations
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true",
    // Whole-stage-codegen class cache (static conf, default 100
    // entries): the gate fleet compiles a few THOUSAND distinct codegen
    // stages per pass, so by the time a query repeats, the LRU has
    // evicted its classes and every iteration re-janino-compiles the
    // whole fleet — measured 0.3-2 s of driver-serial compile per
    // heavy query per pass, and 1.47x per-query geomean against the
    // 100-entry default (OPTIMIZATION_r18.md). 10k entries holds one
    // fleet's worth of generated classes (~tens of KB each) — the
    // steady state any long-lived production driver re-running query
    // shapes reaches; scale-independent (compile cost does not grow
    // with data).
    "spark.sql.codegen.cache.maxEntries" -> "10000")

  def build(cpus: Int = defaultCpus): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    confs(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-gate cleanup between gates of one session (never timed):
    * localCheckpoint blocks accumulate across the ~280-gate fleet
    * (every pair family materializes its fan-out point); at sf1 the
    * leftover storage filled the old gen and unrelated queries later in
    * the fleet spiked 10-30x over their isolated times. */
  def reset(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }
}
