package graft
import java.nio.file.{Files, Paths}
import graft.gates.Gate
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-loop filter: SPARK_GRAFT_ONLY=q1,q2 dumps a subset (an unknown
    // name fails here, before the session is built);
    // SPARK_GRAFT_VERIFY_RESUME=1 skips queries already dumped (their
    // _SUCCESS marker exists) so an interrupted scale run continues
    val gates = Gate.select(sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))
    val resume = sys.env.get("SPARK_GRAFT_VERIFY_RESUME").contains("1")
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    gates.foreach { g =>
      val name = g.name
      // repartition(1), NOT coalesce(1): coalesce reaches through any
      // shuffle-free tail and collapses the whole computation into one
      // task — at scale that serializes the query; the round-robin
      // exchange keeps compute parallel and only the write single-file
      if (resume &&
          new java.io.File(s"$outDir/$name/_SUCCESS").exists()) ()
      else try g.run(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
