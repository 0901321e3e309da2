package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The sha256 of every gate's oracle text, with the fixture root written
  * as `<fixtures>` so any checkout produces the same digest. The committed
  * `src/test/resources/oracle_digests.tsv` pins them: a rewrite of the
  * gate families that claims byte-identical oracles must leave it as it
  * is. After an intended oracle change, regenerate it with
  * `sbt "Test/runMain graft.OracleDigests"` from the checkout root. */
object OracleDigests {
  val golden = Paths.get("src/test/resources/oracle_digests.tsv")

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  /** (gate name, digest) in registry order. */
  def current: Seq[(String, String)] = SparkEntry.gates.map { g =>
    g.name -> sha256(g.oracleSql.replace(Fixtures.root.toString, "<fixtures>"))
  }

  def committed: Map[String, String] =
    Files.readAllLines(golden, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(name, digest) = l.split('\t')
      name -> digest
    }.toMap

  def main(args: Array[String]): Unit =
    Files.write(golden, current.map { case (n, d) => s"$n\t$d\n" }
      .mkString.getBytes(UTF_8))
}

class OracleDigestSpec extends AnyFunSuite {
  test("every oracle's text equals its committed digest") {
    val want = OracleDigests.committed
    val got = OracleDigests.current.toMap
    val changed = want.keys.filter(n => got.get(n).exists(_ != want(n)))
    val appeared = got.keySet -- want.keySet
    val gone = want.keySet -- got.keySet
    assert(
      (changed.toSeq.sorted, appeared.toSeq.sorted, gone.toSeq.sorted) ===
        ((Nil, Nil, Nil)),
      "(changed, appeared, disappeared)")
    assert(want.size === 283)
  }
}
