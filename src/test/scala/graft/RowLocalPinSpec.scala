package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ReferenceGenome
import graft.methods.{Genetics, Regression}
import graft.sources.Vcf

/** Pinned outputs of the per-variant association and trio methods on a
  * fixture that covers their sample rules: a missing entry (`.`), a
  * present entry with a missing GT (`./.:3`), a sample with no pheno row,
  * a pheno row with a null y and a null covariate, one covariate (k = 3),
  * a variant where no sample qualifies, a trio member absent from the
  * matrix and a trio whose three entries are all missing. `src/test/resources/row_local_pins.tsv`
  * holds one line per output row (method, then every column as
  * `name=value`); regenerate it with
  * `sbt "Test/runMain graft.RowLocalPins"` only after a deliberate change
  * of these methods' results. */
object RowLocalPins {
  val golden = Paths.get("src/test/resources/row_local_pins.tsv")

  // S12 has no pheno row; S10's phenotypes and covariate are all null
  // (no fit reads its covariate, so it is no error); S9 lacks y2
  // only, so the multi-y complete-case rule drops it; SX is not in the
  // matrix. Row 400 has no present entry of a pheno sample, row 500 no
  // called one with a y (S10 is called), row 550 no called one at all.
  // Trio (S1, S2, S3) is all missing at 300, and trio (S4, S5, S99)
  // names a mom the matrix does not have.
  private val vcfText =
    """##fileformat=VCFv4.2
      |##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
      |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">
      |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	S1	S2	S3	S4	S5	S6	S7	S8	S9	S10	S11	S12
      |chr1	100	.	A	G	.	PASS	.	GT:DP	0/1:9	0/0:9	1/1:9	0/1:9	.	./.:3	0/0:9	0/1:9	1/1:9	0/0:9	0/1:9	1/1:9
      |chr1	200	.	C	T	.	PASS	.	GT:DP	1/1:9	0/1:9	0/1:9	0/0:9	0/1:9	1/1:9	0/1:9	0/0:9	0/1:9	1/1:9	0/0:9	0/1:9
      |chr1	300	.	G	A	.	PASS	.	GT:DP	.	.	.	0/1:9	1/1:9	0/0:9	0/1:9	0/1:9	0/0:9	1/1:9	0/1:9	0/0:9
      |chr1	400	.	T	C	.	PASS	.	GT:DP	.	.	.	.	.	.	.	.	.	.	.	0/1:9
      |chr1	500	.	A	T	.	PASS	.	GT:DP	./.:1	./.:2	./.:3	./.:4	./.:5	./.:6	./.:7	./.:8	./.:9	0/1:1	./.:2	0/1:5
      |chr1	550	.	G	C	.	PASS	.	GT:DP	./.:1	./.:2	.	./.:4	./.:5	./.:6	./.:7	./.:8	./.:9	./.:1	./.:2	1/1:5
      |chr1	600	.	C	G	.	PASS	.	GT:DP	0/0:9	0/0:9	0/1:9	1/1:9	0/1:9	0/0:9	0/0:9	0/1:9	0/0:9	0/1:9	1/1:9	0/1:9
      |chr1	700	.	G	C	.	PASS	.	GT:DP	1/1:9	0/0:9	0/0:9	0/1:9	0/0:9	0/1:9	1/1:9	0/0:9	./.:9	0/1:9	0/0:9	0/0:9
      |chr1	800	.	A	C	.	PASS	.	GT:DP	0/1:9	1/1:9	1/1:9	1/1:9	0/0:9	0/1:9	0/1:9	1/1:9	0/1:9	0/0:9	1/1:9	0/1:9
      |chr1	900	.	T	G	.	PASS	.	GT:DP	0/1:9	0/1:9	0/1:9	0/1:9	0/1:9	1/1:9	0/1:9	0/1:9	0/0:9	0/1:9	0/1:9	.
      |chr1	1000	.	C	A	.	PASS	.	GT:DP	1/1:9	0/1:9	0/1:9	0/0:9	0/1:9	0/1:9	0/0:9	0/1:9	0/1:9	0/1:9	0/0:9	1/1:9
      |chrX	5000000	.	G	T	.	PASS	.	GT:DP	0/1:9	0/0:9	0/1:9	1/1:9	0/0:9	0/0:9	0/0:9	1/1:9	0/1:9	0/0:9	0/1:9	0/1:9
      |""".stripMargin

  private val phenoRows: Seq[Row] = {
    def d(v: Double): java.lang.Double = v
    val n: java.lang.Double = null
    Seq(
      Row("S1", d(1.5), d(2.0), d(1), d(3), d(0.3)),
      Row("S2", d(2.0), d(0.5), d(0), d(1), d(-1.2)),
      Row("S3", d(3.7), d(1.1), d(1), d(4), d(0.5)),
      Row("S4", d(0.4), d(2.6), d(1), d(1), d(2.0)),
      Row("S5", d(2.2), d(0.9), d(0), d(5), d(-0.7)),
      Row("S6", d(1.1), d(3.3), d(0), d(9), d(1.1)),
      Row("S7", d(5.0), d(1.7), d(1), d(2), d(0.0)),
      Row("S8", d(2.9), d(0.2), d(0), d(6), d(-0.4)),
      Row("S9", d(3.3), n, d(1), d(5), d(0.9)),
      Row("S10", n, n, n, n, n),
      Row("S11", d(0.8), d(1.4), d(0), d(3), d(-1.0)),
      Row("SX", d(9.0), d(9.0), d(1), d(9), d(9.0)))
  }

  private val phenoSchema = StructType(Seq(StructField("s", StringType)) ++
    Seq("y", "y2", "b", "cnt", "c1").map(StructField(_, DoubleType)))

  private val trios = Seq(("S1", "S2", "S3", true), ("S4", "S5", "S99", false),
    ("S6", "S7", "S8", false))

  private def render(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }

  /** The fixture matrix and its phenotypes (`s`, y, y2, b, cnt, c1). */
  def fixture(spark: org.apache.spark.sql.SparkSession)
      : (MatrixTable, DataFrame) = {
    val f = Files.createTempDirectory("graft_pins").resolve("pins.vcf")
    Files.writeString(f, vcfText)
    (Vcf.read(spark, f.toString),
      spark.createDataFrame(phenoRows.asJava, phenoSchema))
  }

  /** Every pinned method's output rows as `method\tcol=value\t...`,
    * sorted. */
  def current(spark: org.apache.spark.sql.SparkSession): Seq[String] = {
    implicit val rg: ReferenceGenome = ReferenceGenome.GRCh38
    val (mt, pheno) = fixture(spark)
    val cov = Seq("c1")
    val outputs: Seq[(String, DataFrame)] = Seq(
      "linear" -> Regression.linearRegressionRows(mt, pheno, "y").df,
      "linear_cov" ->
        Regression.linearRegressionRows(mt, pheno, "y", cov).df,
      "linear_multi_cov" -> Regression.linearRegressionRowsMulti(mt, pheno,
        Seq("y", "y2"), cov).df,
      "poisson_cov" ->
        Regression.poissonRegressionRows(mt, pheno, "cnt", cov).df,
      "logistic_wald" ->
        Regression.logisticRegressionRows(mt, pheno, "b").df) ++
      Seq("wald", "lrt", "score", "firth").map(t =>
        s"logistic_${t}_cov" -> Regression.logisticRegressionRows(mt,
          pheno, "b", cov, test = t).df) ++ Seq(
      "mendel" -> Genetics.mendelErrors(mt, trios).df,
      "mendel_per_variant" -> Genetics.mendelPerVariant(mt, trios).df,
      "mendel_per_sample" -> Genetics.mendelPerSample(mt, trios).df,
      "mendel_per_family" -> Genetics.mendelPerFamily(mt, trios).df,
      "tdt" -> Genetics.tdt(mt, trios.map(t => (t._1, t._2, t._3)),
        Map("S1" -> true)).df)
    outputs.flatMap { case (name, df) =>
      val cols = df.schema.fields
      df.collect().map { r =>
        (name +: cols.indices.map(i =>
          s"${cols(i).name}:${cols(i).dataType.simpleString}=" +
            render(r.get(i)))).mkString("\t")
      }.sorted
    }
  }

  def committed: Seq[String] =
    Files.readAllLines(golden, UTF_8).asScala.toSeq.filter(_.nonEmpty)

  def main(args: Array[String]): Unit =
    Files.write(golden, current(TestSpark.spark).map(_ + "\n").mkString
      .getBytes(UTF_8))
}

class RowLocalPinSpec extends AnyFunSuite {
  private val num = raw"-?\d.*|NaN|-?Infinity".r

  /** Equal strings, or two numbers within 1e-9 (relative past 1). */
  private def close(a: String, b: String): Boolean = a == b || (
    num.matches(a) && num.matches(b) && {
      val (x, y) = (a.toDouble, b.toDouble)
      x.isNaN == y.isNaN &&
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    })

  private def cells(line: String): Seq[String] =
    line.split('\t').toSeq.flatMap { c =>
      val eq = c.indexOf('=')
      if (eq < 0) Seq(c)
      else c.substring(0, eq) +: c.substring(eq + 1)
        .stripPrefix("[").stripSuffix("]").split(',').toSeq
    }

  test("per-variant regression and trio outputs equal the pinned rows") {
    val want = RowLocalPins.committed
    val got = RowLocalPins.current(TestSpark.spark)
    assert(got.length == want.length,
      s"${got.length} rows, pinned ${want.length}\n" +
        (got.diff(want) ++ want.diff(got)).mkString("\n"))
    for ((g, w) <- got.zip(want)) {
      val (gc, wc) = (cells(g), cells(w))
      assert(gc.length == wc.length &&
        gc.zip(wc).forall { case (a, b) => close(a, b) },
        s"\n got: $g\npinned: $w")
    }
  }

  test("a pheno key given twice, or a null covariate of a fitted sample, " +
      "is an error naming it") {
    val (mt, pheno) = RowLocalPins.fixture(TestSpark.spark)
    val twice = pheno.unionByName(pheno.filter(col("s") === "S4"))
    for (run <- Seq[() => Any](
        () => Regression.linearRegressionRows(mt, twice, "y"),
        () => Regression.logisticRegressionRows(mt, twice, "b"))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("more than one row for col key S4"))
    }
    // S7's phenotypes are all present, so every fit reads its covariate
    val nullCov = pheno.withColumn("c1",
      when(col("s") =!= "S7", col("c1")))
    val cov = Seq("c1")
    for (run <- Seq[() => Any](
        () => Regression.linearRegressionRows(mt, nullCov, "y", cov),
        () => Regression.linearRegressionRowsMulti(mt, nullCov,
          Seq("y", "y2"), cov),
        () => Regression.logisticRegressionRows(mt, nullCov, "b", cov),
        () => Regression.poissonRegressionRows(mt, nullCov, "cnt", cov))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("null covariate for col key S7"))
    }
  }
}
