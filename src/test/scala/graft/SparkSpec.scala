package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build(cpus = 4)
    // fan-out materialization strategy under test (pipeline operators
    // read it per call): GRAFT_MATERIALIZE=persistDisk re-runs every
    // spec under the lineage-retaining mode
    s.conf.set("spark.graft.materialize",
      sys.env.getOrElse("GRAFT_MATERIALIZE", "localCheckpoint"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
