package graft.tools

import scala.util.control.NonFatal
import graft.GraftSession
import graft.gates.Gate

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plan-evidence artifact for optimization rounds (plans/rNN/).
  * An unknown gate name stops the dump before the session is built; a
  * gate that fails to build is reported and skipped, and the remaining
  * gates are still dumped.
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> q1,q2,...
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, qlist) = args.take(3)
    val gates = Gate.select(qlist)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    gates.foreach { g =>
      // streaming parity gates and driver-loop operators EXECUTE work
      // while building their result frame; the dumped plan is the final
      // (batch) result frame's — the part optimization rounds change
      try {
        val df = g.run(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${g.name}_$suffix.txt")
        try w.println(txt) finally w.close()
        System.err.println(s"[explain] wrote $outDir/${g.name}_$suffix.txt")
      } catch { case NonFatal(e) =>
        System.err.println(s"[explain] ${g.name} skipped: $e")
      } finally GraftSession.reset(spark)
    }
    spark.stop()
  }
}
