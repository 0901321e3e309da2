package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session graft runs under comes from `GraftSession`. */
class SessionSpec extends SparkSpec {

  test("GraftSession.scala is the only session builder in main code") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val builders =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map((p: Path) => p.getFileName.toString).toSeq
      finally walk.close()
    assert(builders === Seq("GraftSession.scala"))
  }

  test("src/main reads only the listed env options") {
    val allowed = Set(
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_ITERS", "SPARK_GRAFT_BENCH_DEADLINE_SEC",
      "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_SPREAD_OUT",
      "SPARK_GRAFT_VERIFY_ONLY", "SPARK_GRAFT_VERIFY_RESUME",
      "SPARK_GRAFT_GEN_IN", "SPARK_GRAFT_GEN_OUT", "SPARK_GRAFT_GEN_REPS",
      "SPARK_GRAFT_GEN_DOCS", "SPARK_GRAFT_GEN_VOCAB")
    // every read names its option as a literal; a computed name shows up
    // as the read's source text
    val read = """(?:sys\.env|System\.getenv)(?:\.\w+)?(?:\(\s*"(\w+)")?""".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val reads =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap((p: Path) => read.findAllMatchIn(Files.readString(p))
          .map(m => Option(m.group(1)).getOrElse(s"${m.matched} in $p")))
        .toSet
      finally walk.close()
    assert(reads -- allowed === Set.empty[String])
  }

  test("the test session carries every GraftSession conf") {
    GraftSession.confs(cpus = 4).foreach { case (k, v) =>
      val got = spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k))
      assert(got.contains(v), s"$k=$got, expected $v")
    }
  }
}
