package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-mass anatomy for `prefixFilterJaccardPairs` (round-15 verdict
  * ask: attribute the third-decade scaling drift). Replays the
  * operator stage by stage — every integer formula and the prefix
  * pipeline come from the SHARED `pipeline.PpjoinCore` (round-15
  * advice: a hand-copied replay desynchronizes silently when the
  * operator changes; now a change there changes both sides of every
  * A/B run) — and prints ONE JSON line of counts:
  *
  *   docs, reps (distinct gram sets), gramRows, distinctGrams,
  *   prefixRows, probedPairs (the (g,bucket) join mass BEFORE the
  *   join-condition filters — the operator's theoretical cost floor),
  *   candRows (rows entering the pair groupBy, i.e. per-shared-gram
  *   matches surviving the size + per-row positional predicates),
  *   pairs (distinct candidate pairs = verify-kernel invocations),
  *   outPairs (verified jaccard >= tau)
  *
  * plus per-phase wall seconds. Run on two corpus geometries at three
  * decades each and the counts say which term owns the growth —
  * separating "the algorithm's candidate mass is super-linear" from
  * "a linear stage got slower per row on one box" (memory pressure,
  * spill), which a total-seconds row cannot do. */
object PpjoinAnatomy {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/repo/.bench-data/zipf_sf01")
    val n = 8
    val threshold = 0.8
    val spark = graft.GraftSession.build()
    import org.apache.spark.sql.expressions.Window

    val core = graft.pipeline.PpjoinCore
    val (t4, tn) = core.thresholdUnits(threshold)
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val df = spark.read.parquet(s"$dir/documents.parquet")

    // PPJOIN_FULLOP=1: time the real operator end-to-end with a
    // per-stage listener + plan dump (ReusedExchange visibility),
    // instead of the checkpointed stage replay below.
    if (sys.env.get("PPJOIN_FULLOP").contains("1")) {
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[
        (Int, String, Long, Long)]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler
                .SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            stages.add((si.stageId, si.name.takeWhile(_ != '\n'),
              si.completionTime.getOrElse(0L) -
                si.submissionTime.getOrElse(0L),
              si.numTasks.toLong))
          }
        })
      val out = graft.pipeline.Dedup.prefixFilterJaccardPairs(
        df.select(col("doc_id"), col("text")), "doc_id", "text",
        n = n, threshold = threshold)
      out.explain("formatted")
      val (cnt, secs) = timed(out.count())
      Thread.sleep(1000)
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._3).take(12).foreach {
        case (id, nm, ms, nt) =>
          println(f"STAGE $id%4d ${ms / 1000.0}%8.1fs tasks=$nt%-4d $nm")
      }
      println(s"""{"dir":"$dir","fullop_pairs":$cnt,""" +
        s""""fullop_secs":${f"$secs%.1f"}}""")
      spark.stop()
      return
    }

    val docsTotal = df.count()
    val groups = df
      .select(col("doc_id").as("doc"),
        array_sort(graft.pipeline.Text.charNgrams(col("text"), n))
          .as("__g"))
      .filter(size(col("__g")) > 0)
      .groupBy(col("__g"))
      .agg(min(col("doc")).as("doc"))
      .withColumn("__n", size(col("__g")))
      .localCheckpoint(false)
    val (reps, tGroups) = timed(groups.count())
    val docs = groups.select("doc", "__g", "__n")
    val grams = docs.select(col("doc"), col("__n"),
      explode(col("__g")).as("g"))
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("__df"))
    val ((gramRows, distinctGrams), tGrams) =
      timed((grams.count(), dfreq.count()))
    // default = the SHIPPED in-row form; PPJOIN_PREFIX=window replays
    // the replaced row_number formulation (kept for A/B attribution)
    val prefixVariant = sys.env.getOrElse("PPJOIN_PREFIX", "inrow")
    val prefix = (if (prefixVariant == "inrow") {
      // the SHIPPED pipeline, verbatim (shared code path)
      core.prefixFrame(grams, dfreq, tn)
    } else {
      // the replaced row_number formulation, kept local to the tool as
      // the A/B baseline (it is no longer anyone's production path);
      // the prefix-length bound still comes from the shared formula
      grams.join(dfreq.hint("shuffle_hash"), "g")
        .withColumn("__rk", row_number().over(
          Window.partitionBy("doc").orderBy(col("__df"), col("g"))))
        .filter(col("__rk").cast("long") <=
          expr(core.prefixLenSql(tn, "__n")).cast("long"))
    }).localCheckpoint(false)
    val (prefixRows, tPrefix) = timed(prefix.count())
    def pside(a: String) = prefix.select(col("g"),
      col("doc").as(s"id_$a"), col("__n").as(s"__s$a"),
      col("__rk").as(s"__rk$a"))
    def alphaSql(na: String, nb: String) = core.alphaSql(tn, na, nb)
    val idx = pside("b")
      .withColumn("__bk", expr(core.bucketSql(tn, "__sb")))
    val probe = pside("a")
      .withColumn("__bk", explode(expr(core.probeBucketsSql(tn, "__sa"))))
    // the (g, bucket) join mass with no condition: sum of per-key
    // count products — the floor the prefix filter is supposed to keep
    // near-linear. Computed from two tiny aggregates, never the join.
    val (probedPairs, tProbeMass) = timed {
      val ci = idx.groupBy("g", "__bk").agg(count(lit(1)).as("ci"))
      val cp = probe.groupBy("g", "__bk").agg(count(lit(1)).as("cp"))
      ci.join(cp, Seq("g", "__bk"))
        .agg(coalesce(sum(col("ci") * col("cp")), lit(0L)))
        .head().getLong(0)
    }
    val cand = probe.join(idx.hint("shuffle_hash"), Seq("g", "__bk"))
      .filter(core.candCondition(tn))
    val (candRows, tCand) = timed(cand.count())
    val pairsDf = cand.groupBy("id_a", "id_b")
      .agg(max(col("__sa")).as("__pna"), max(col("__sb")).as("__pnb"))
      .localCheckpoint(false)
    val (pairs, tPairs) = timed(pairsDf.count())
    def vside(a: String) = docs.select(col("doc").as(s"id_$a"),
      col("__g").as(s"__g$a"))
    val (outPairs, tVerify) = timed {
      pairsDf.join(vside("a"), "id_a").join(vside("b"), "id_b")
        .withColumn("__iv", graft.functions.TextKernels.fence(
          graft.functions.TextKernels.sortedIntersectCountBounded(
            col("__ga"), col("__gb"), expr(alphaSql("__pna", "__pnb")))))
        .withColumn("__ju", expr(core.jaccardUnitsSql))
        .filter(col("__ju") >= t4)
        .count()
    }
    println(s"""{"dir":"$dir","prefixVariant":"$prefixVariant",""" +
      s""""docs":$docsTotal,"reps":$reps,""" +
      s""""gramRows":$gramRows,"distinctGrams":$distinctGrams,""" +
      s""""prefixRows":$prefixRows,"probedPairs":$probedPairs,""" +
      s""""candRows":$candRows,"pairs":$pairs,"outPairs":$outPairs,""" +
      s""""secs":{"groups":${f"$tGroups%.1f"},""" +
      s""""grams":${f"$tGrams%.1f"},"prefix":${f"$tPrefix%.1f"},""" +
      s""""probeMass":${f"$tProbeMass%.1f"},"cand":${f"$tCand%.1f"},""" +
      s""""pairs":${f"$tPairs%.1f"},"verify":${f"$tVerify%.1f"}}}""")
    spark.stop()
  }
}
