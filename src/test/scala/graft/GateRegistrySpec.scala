package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Gate

/** The one gate registry behind `SparkEntry.queries`/`oracleSql`, and the
  * one fixture root every gate and spec resolves against. */
class GateRegistrySpec extends AnyFunSuite {

  private def scalaSources(dirs: String*): Seq[Path] = dirs.flatMap { d =>
    val walk = Files.walk(Paths.get(d))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("a gate name defined twice fails the registry") {
    def g(name: String) = Gate(name, (s, _) => s.range(1).select(lit(1)),
      "SELECT 1")
    assert(Gate.registry(Seq(g("a")), Seq(g("b"))).map(_.name) ===
      Seq("a", "b"))
    val e = intercept[IllegalArgumentException](
      Gate.registry(Seq(g("a"), g("b")), Seq(g("a"))))
    assert(e.getMessage.contains("a"))
  }

  test("every gate has an oracle; queries and oracleSql share 283 keys") {
    assert(SparkEntry.gates.forall(_.oracleSql.trim.nonEmpty))
    intercept[IllegalArgumentException](
      Gate("x", (s, _) => s.range(1).toDF(), " ").oracleSql)
    // building the registry builds no oracle text
    Gate.registry(Seq(Gate("y", (s, _) => s.range(1).toDF(),
      throw new IllegalStateException("oracle built"))))
    assert(SparkEntry.queries.size === 283)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("each gate name is written once in the gate families") {
    val text = scalaSources("src/main/scala/graft/gates").map(Files.readString)
    val counts = SparkEntry.gates.map { g =>
      g.name -> text.map(_.split("\"" + g.name + "\"", -1).length - 1).sum
    }
    assert(counts.filter(_._2 != 1) === Nil)
  }

  test("the fixture root is the checkout's src/test/resources") {
    assert(Fixtures.root.isAbsolute)
    assert(Files.isRegularFile(Paths.get(Fixtures.path("oracle_sample.vcf"))))
    assert(SparkEntry.oracleSql("vcf_import")
      .contains(s"'${Fixtures.path("oracle_sample.vcf")}'"))
  }

  test("no string literal in src/main or src/test is an absolute checkout path") {
    // a literal naming this checkout's root, or any checkout's committed
    // fixtures, by absolute path; scaladoc and comments may name paths
    val root = java.util.regex.Pattern.quote(
      Paths.get("").toAbsolutePath.toString)
    val absolute = s"""["']($root/|/[^"']*/src/test/resources)""".r
    val hits = scalaSources("src/main/scala", "src/test/scala").flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if !Seq("//", "*", "/*").exists(l.trim.startsWith) &&
            absolute.findFirstIn(l.split(" // ").head).isDefined =>
          s"$p:${i + 1}"
      }
    }
    assert(hits === Nil)
  }
}
