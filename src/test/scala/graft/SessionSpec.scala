package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session graft runs under comes from `GraftSession`. */
class SessionSpec extends SparkSpec {

  /** (path, text) of every Scala source under src/main. */
  private def mainSources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p -> Files.readString(p)).toSeq
    finally walk.close()
  }

  test("GraftSession.scala is the only session builder in main code") {
    val builders = mainSources
      .collect { case (p, s) if s.contains("SparkSession.builder") =>
        p.getFileName.toString }
    assert(builders === Seq("GraftSession.scala"))
  }

  test("src/main reads only the listed env options") {
    val allowed = Set(
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY",
      "SPARK_GRAFT_BENCH_ITERS", "SPARK_GRAFT_BENCH_DEADLINE_SEC",
      "SPARK_GRAFT_BENCH_SPREAD_OUT", "SPARK_GRAFT_VERIFY_RESUME",
      "SPARK_GRAFT_GEN_IN", "SPARK_GRAFT_GEN_OUT", "SPARK_GRAFT_GEN_REPS",
      "SPARK_GRAFT_GEN_DOCS", "SPARK_GRAFT_GEN_VOCAB")
    assert(allowed.size === 12)
    // every read names its option as a literal; a computed name shows up
    // as the read's source text
    val read = """(?:sys\.env|System\.getenv)(?:\.\w+)?(?:\(\s*"(\w+)")?""".r
    val reads = mainSources.flatMap { case (p, s) =>
      read.findAllMatchIn(s)
        .map(m => Option(m.group(1)).getOrElse(s"${m.matched} in $p"))
    }.toSet
    // both ways: no unlisted read, and no listed option that nothing reads
    assert(reads === allowed)
  }

  test("src/main reads no spark.graft session conf") {
    // graft's options are the env names above; a session conf of its
    // own would be one more option that no list pins
    val hits = mainSources
      .collect { case (p, s) if s.contains("spark.graft.") => p.toString }
    assert(hits.isEmpty, hits)
  }

  test("the test session carries every GraftSession conf") {
    GraftSession.confs(cpus = 4).foreach { case (k, v) =>
      val got = spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k))
      assert(got.contains(v), s"$k=$got, expected $v")
    }
  }
}
