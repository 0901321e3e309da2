package graft

import org.apache.spark.sql.functions._
import graft.methods.VdsCombiner
import graft.sources.Vcf

class GvcfSpec extends SparkSpec {

  private def gvcfText(sample: String, varPos: Int): String =
    s"""##fileformat=VCFv4.2
      |##INFO=<ID=END,Number=1,Type=Integer,Description="Block end">
      |##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
      |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">
      |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	$sample
      |chr1	1	.	A	<NON_REF>	.	.	END=${varPos - 1}	GT:DP	0/0:22
      |chr1	$varPos	.	A	G,<NON_REF>	50	PASS	.	GT:DP	0/1:30
      |chr1	${varPos + 1}	.	C	<NON_REF>	.	.	END=2000	GT:DP	0/0:25
      |""".stripMargin

  private def writeGvcf(sample: String, varPos: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_gvcf")
    val f = dir.resolve(s"$sample.vcf")
    java.nio.file.Files.writeString(f, gvcfText(sample, varPos))
    f.toString
  }

  test("readGvcf splits reference blocks from variant rows") {
    val vds = Vcf.readGvcf(spark, writeGvcf("SA", 100))
    val refs = vds.referenceData.entriesTable.df
      .select(col("position"), col("END"), col("DP")).collect()
      .map(r => r.getInt(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(refs == Map(1 -> ((99, 22)), 101 -> ((2000, 25))))
    val vars = vds.variantData.rows
      .select(col("position"), col("alt")).collect()
    assert(vars.length == 1)
    assert(vars.head.getInt(0) == 100)
    assert(vars.head.getSeq[String](1) == Seq("G")) // <NON_REF> stripped
  }

  test("combined gVCFs densify to the full grid") {
    val a = Vcf.readGvcf(spark, writeGvcf("SA", 100))
    val b = Vcf.readGvcf(spark, writeGvcf("SB", 300))
    val merged = VdsCombiner.combine(Seq(a, b))
    val dense = merged.toDenseMt()
    val cells = dense.entriesTable.df
      .select(col("position"), col("s"), col("GT"), col("DP")).collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3)))).toMap
    import graft.functions.Calls
    // SA het at 100; SB covered by its [1,299] block there -> hom-ref
    assert(cells((100, "SB"))._1 == 0)
    assert(cells((100, "SB"))._2 == 22) // SB's first-block DP
    // SB het at 300; SA covered by its [101,2000] block -> hom-ref DP 25
    assert(cells.contains((300, "SA")))
    assert(cells((300, "SA"))._1 == 0 && cells((300, "SA"))._2 == 25)
    assert(cells.size == 4)
  }

  test("matrix tailRows / keyRowsBy / annotateColsAgg") {
    val mt = Vcf.read(spark,
      Fixtures.path("oracle_sample.vcf"))
    val total = mt.rows.count()
    val tail = mt.tailRows(5)
    assert(tail.rows.count() == 5)
    val maxPos = mt.rows.agg(max(struct(col("contig"), col("position"))))
      .head().getStruct(0)
    val tailKeys = tail.rows.select(col("contig"), col("position"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(tailKeys.contains((maxPos.getString(0), maxPos.getInt(1))))
    assert(total > 5)

    val rekeyed = mt.keyRowsBy("contig", "position")
    assert(rekeyed.rowKey == Seq("contig", "position"))
    intercept[IllegalArgumentException](mt.keyRowsBy("nope"))

    import graft.functions.Calls
    val withCall = mt.annotateColsAgg(
      "n_called" -> sum(col("__e")("GT").isNotNull.cast("long"))
        .cast("double"),
      "mean_dp" -> avg(col("__e")("DP")))
    assert(withCall.colSchema.fieldNames.toSeq ==
      Seq("s", "n_called", "mean_dp"))
    val bySample = withCall.colValues
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // cross-check against the coordinate count
    val expect = mt.entriesTable.df.filter(col("GT").isNotNull)
      .groupBy(col("s")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    assert(bySample == expect)
  }

  test("gzipped VCF reads identically to plain text") {
    val plain = Fixtures.path("oracle_sample.vcf")
    val dir = java.nio.file.Files.createTempDirectory("graft_vcfgz")
    val gz = dir.resolve("s.vcf.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write(java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of(plain)))
    out.close()
    def dump(path: String) = Vcf.read(spark, path).entriesTable.df
      .select(col("contig"), col("position"), col("s"), col("GT"),
        col("DP")).collect().map(_.toSeq).toSet
    assert(dump(gz.toString) == dump(plain))
  }
}
