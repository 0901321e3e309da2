package graft.tools

import scala.util.control.NonFatal
import graft.GraftSession

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plan-evidence artifact for optimization rounds (plans/rNN/).
  * A gate that is unknown or fails to build is reported and skipped;
  * the remaining gates are still dumped.
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> q1,q2,...
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, qlist) = args.take(3)
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      // streaming parity gates and driver-loop operators EXECUTE work
      // while building their result frame; the dumped plan is the final
      // (batch) result frame's — the part optimization rounds change
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try w.println(txt) finally w.close()
        System.err.println(s"[explain] wrote $outDir/${name}_$suffix.txt")
      } catch { case NonFatal(e) =>
        System.err.println(s"[explain] $name skipped: $e")
      } finally GraftSession.reset(spark)
    }
    spark.stop()
  }
}
