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

  test("the test session carries every GraftSession conf") {
    GraftSession.confs(cpus = 4).foreach { case (k, v) =>
      val got = spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k))
      assert(got.contains(v), s"$k=$got, expected $v")
    }
  }
}
