package graft

import org.apache.spark.sql.functions._
import graft.sources.{TextTable, Vcf}

class SourcesSpec extends SparkSpec {

  private val vcfText =
    """##fileformat=VCFv4.2
      |##INFO=<ID=AC,Number=A,Type=Integer,Description="AC">
      |##INFO=<ID=AN,Number=1,Type=Integer,Description="AN">
      |##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP">
      |##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
      |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">
      |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	NA1	NA2	NA3
      |chr1	100	rs1	A	G	50.0	PASS	AC=2;AN=6;DB	GT:DP	0/1	0|0	1/1
      |chr1	200	.	C	T,TT	.	q10	AC=1,3	GT:DP	0/2:7	.	0/0:9
      |chr2	5	rs9	G	C	9.5	PASS	.	GT	1	0/1	./.
      |""".stripMargin

  private def writeVcf(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_vcf")
    val f = dir.resolve("test.vcf")
    java.nio.file.Files.writeString(f, vcfText)
    f.toString
  }

  test("VCF read: variants, samples, calls, info, filters") {
    val mt = Vcf.read(spark, writeVcf())
    assert(mt.colValues.map(_.getString(0)) ===
      IndexedSeq("NA1", "NA2", "NA3"))
    val rows = mt.rows.orderBy("contig", "position").collect()
    assert(rows.length === 3)
    val r0 = rows(0)
    assert(r0.getAs[String]("contig") === "chr1")
    assert(r0.getAs[Int]("position") === 100)
    assert(r0.getAs[String]("rsid") === "rs1")
    assert(r0.getAs[Seq[String]]("alt") === Seq("G"))
    assert(r0.getAs[Double]("qual") === 50.0)
    // typed INFO struct per header declarations
    val info0 = r0.getAs[org.apache.spark.sql.Row]("info")
    assert(info0.getAs[Seq[Int]]("AC") === Seq(2))
    assert(info0.getAs[Int]("AN") === 6)
    assert(info0.getAs[Boolean]("DB") === true)
    val info1 = rows(1).getAs[org.apache.spark.sql.Row]("info")
    assert(info1.getAs[Seq[Int]]("AC") === Seq(1, 3))
    assert(info1.isNullAt(info1.fieldIndex("AN")))
    assert(info1.getAs[Boolean]("DB") === false)
    // entry GT decoding via entriesTable
    val ents = mt.entriesTable.df
      .filter(col("GT").isNotNull)
      .select(col("position"), col("s"),
        graft.functions.Calls.allele1(col("GT")),
        graft.functions.Calls.allele2(col("GT")),
        graft.functions.Calls.isPhased(col("GT")))
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getInt(2), r.getInt(3), r.getBoolean(4)))).toMap
    assert(ents((100, "NA1")) === ((0, 1, false)))
    assert(ents((100, "NA2")) === ((0, 0, true)))
    assert(ents((100, "NA3")) === ((1, 1, false)))
    assert(ents((200, "NA1")) === ((0, 2, false)))
    assert(!ents.contains((200, "NA2"))) // '.' -> missing, dropped
    // haploid '1' for NA1 at chr2:5
    val hap = mt.entriesTable.df
      .filter(col("position") === 5 && col("s") === "NA1")
      .select(graft.functions.Calls.ploidy(col("GT")),
        graft.functions.Calls.allele1(col("GT"))).head()
    assert(hap.getInt(0) === 1 && hap.getInt(1) === 1)
    // DP typed int per FORMAT declaration
    val dp = mt.entriesTable.df
      .filter(col("position") === 200 && col("s") === "NA3")
      .select(col("DP")).head().getInt(0)
    assert(dp === 9)
    // missing DP (FORMAT lacks DP on chr2) is null, not an error
    val noDp = mt.entriesTable.df
      .filter(col("position") === 5 && col("s") === "NA2")
      .select(col("DP")).head()
    assert(noDp.isNullAt(0))
  }

  test("VCF roundtrip: write then re-read preserves variants and GTs") {
    val mt = Vcf.read(spark, writeVcf())
    val outDir = java.nio.file.Files.createTempDirectory("graft_vcf_out")
      .toString
    Vcf.write(mt, outDir)
    // stitch header + parts into one readable dir
    val stitched = java.nio.file.Files.createTempDirectory("graft_vcf_rt")
    val header = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/header.vcf"))
    val parts = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$outDir/parts")).toArray.map(_.toString)
      .filter(_.endsWith(".txt")).sorted
      .map(p => java.nio.file.Files.readString(
        java.nio.file.Paths.get(p))).mkString
    java.nio.file.Files.writeString(stitched.resolve("all.vcf"),
      header + parts)
    val back = Vcf.read(spark, stitched.resolve("all.vcf").toString)
    assert(back.rows.count() === 3)
    val gts = (m: MatrixTable) => m.entriesTable.df
      .filter(col("GT").isNotNull)
      .select(col("contig"), col("position"), col("s"), col("GT"), col("DP"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)) ->
        ((r.getInt(3), if (r.isNullAt(4)) -1 else r.getInt(4)))).toMap
    assert(gts(back) === gts(mt))
  }

  test("exportEntriesByCol writes one partition dir per sample") {
    val mt = Vcf.read(spark,
      Fixtures.path("oracle_sample.vcf"))
    val dir = java.nio.file.Files.createTempDirectory("graft_eebc")
    TextTable.exportEntriesByCol(mt, s"$dir/out")
    val parts = new java.io.File(s"$dir/out").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(parts.toSeq === (1 to 5).map(i => s"s=S$i"))
    val s3 = spark.read.option("header", true).option("sep", "\t")
      .csv(s"$dir/out/s=S3")
    assert(s3.count() > 0 && s3.columns.contains("GT"))
    // clustered write: one file per column, not one per input partition
    // per column (the partitionBy small-files explosion)
    parts.foreach { p =>
      val files = new java.io.File(s"$dir/out/$p").listFiles()
        .filter(_.getName.endsWith(".csv"))
      assert(files.length == 1, s"$p has ${files.length} csv files")
    }
  }

  test("PLINK read decodes 2-bit genotypes against the golden dump") {
    import graft.functions.Calls
    val mt = sources.Plink.read(spark,
      Fixtures.path("oracle_plink"))
    assert(mt.nCols === 11)
    assert(mt.rows.count() === 25)
    assert(mt.colValues.head.getString(0) === "IND0")
    val got = mt.entriesTable.df
      .select(col("position"), col("s"),
        Calls.allele1(col("GT")), Calls.allele2(col("GT")))
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        (if (r.isNullAt(2)) null else (r.getInt(2), r.getInt(3)))).toMap
    val expected = spark.read.option("sep", "\t").option("header", "true")
      .option("nullValue", "\\N")
      .csv(Fixtures.path("oracle_plink_expected.tsv"))
      .collect().map(r => (r.getString(1).toInt, r.getString(4)) ->
        (if (r.isNullAt(5)) null
         else (r.getString(5).toInt, r.getString(6).toInt))).toMap
    assert(got.size === expected.size)
    expected.foreach { case (k, v) => assert(got(k) === v, s"at $k") }
  }

  test("BGEN read matches golden dump incl missing samples") {
    import graft.functions.Calls
    val mt = sources.Bgen.read(spark,
      Fixtures.path("oracle_bgen.bgen"),
      Some(Fixtures.path("oracle_bgen.sample")))
    assert(mt.nCols === 7)
    assert(mt.rows.count() === 18)
    val got = mt.entriesTable.df
      .select(col("position"), col("s"), Calls.nNonRefAlleles(col("GT")))
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        (if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    val expected = spark.read.option("sep", "\t").option("header", "true")
      .option("nullValue", "\\N")
      .csv(Fixtures.path("oracle_bgen_expected.tsv"))
      .collect().map(r => (r.getString(1).toInt, r.getString(4)) ->
        (if (r.isNullAt(5)) -1 else r.getString(5).toInt)).toMap
    assert(got === expected)
  }

  test("reference .idx2 sidecar plans the BGEN read, both layouts") {
    import java.nio.file.{Files, StandardCopyOption}
    val res = Fixtures.root
    val bgen = res.resolve("oracle_bgen.bgen")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

    // dir-form sidecar sits next to the committed fixture
    assert(sources.BgenIdx2.locate(fs, bgen.toString).isDefined)
    val offsets = sources.BgenIdx2.readOffsets(fs, bgen.toString + ".idx2")
    assert(offsets.length == 18)
    assert(offsets == offsets.sorted && offsets.distinct == offsets)

    // decode parity: sidecar-planned read == self-reliant read (a copy
    // with no sidecar), via the b-tree's exact record offsets
    def rows(p: String, sample: String) = sources.Bgen
      .read(spark, p, Some(sample))
      .entriesTable.df.select("contig", "position", "ref", "s", "GT")
      .collect().map(_.toSeq).toSet
    val tmp = Files.createTempDirectory("graft_idx2")
    Files.copy(bgen, tmp.resolve("plain.bgen"))
    val sample = res.resolve("oracle_bgen.sample").toString
    val withIdx2 = rows(bgen.toString, sample)
    assert(withIdx2 == rows(tmp.resolve("plain.bgen").toString, sample))
    assert(withIdx2.nonEmpty)

    // file-form: single idx2 file with the inline json tail
    Files.copy(bgen, tmp.resolve("ff.bgen"))
    Files.copy(res.resolve("idx2_fileform.bin"),
      tmp.resolve("ff.bgen.idx2"), StandardCopyOption.REPLACE_EXISTING)
    assert(sources.BgenIdx2.locate(fs,
      tmp.resolve("ff.bgen").toString).isDefined)
    val ffOffsets = sources.BgenIdx2.readOffsets(fs,
      tmp.resolve("ff.bgen.idx2").toString)
    assert(ffOffsets == offsets)
    assert(rows(tmp.resolve("ff.bgen").toString, sample) == withIdx2)

    // corrupt sidecar falls back to the self-reliant read, not a crash
    Files.writeString(tmp.resolve("ff.bgen.idx2"), "not an index")
    assert(rows(tmp.resolve("ff.bgen").toString, sample) == withIdx2)
  }

  test("locus-interval and BED importers parse and convert coordinates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_iv")
    java.nio.file.Files.writeString(dir.resolve("iv.interval_list"),
      "# header\nchr1:100-200\nchr2:5-50\n")
    val iv = sources.Annotations.importLocusIntervals(spark,
      dir.resolve("iv.interval_list").toString)
    assert(iv.df.collect().map(r => (r.getString(0), r.getInt(1),
      r.getInt(2))).toSet === Set(("chr1", 100, 200), ("chr2", 5, 50)))
    java.nio.file.Files.writeString(dir.resolve("t.bed"),
      "track name=x\nchr1\t99\t200\tgeneA\nchr2\t4\t50\n")
    val bed = sources.Annotations.importBed(spark,
      dir.resolve("t.bed").toString)
    // BED 0-based half-open -> 1-based inclusive start
    assert(bed.df.collect().map(r => (r.getString(0), r.getInt(1),
      r.getInt(2))).toSet === Set(("chr1", 100, 200), ("chr2", 5, 50)))
    val fam = sources.Annotations.importFam(spark,
      Fixtures.path("oracle_plink.fam"))
    assert(fam.df.count() === 11)
    assert(fam.df.filter(col("s") === "IND0").head()
      .getAs[String]("fam_id") === "FAM0")
  }

  test("PLINK export/import roundtrip preserves genotypes") {
    import graft.functions.Calls
    val mt = sources.Plink.read(spark,
      Fixtures.path("oracle_plink"))
    val dir = java.nio.file.Files.createTempDirectory("graft_plink")
    sources.Plink.write(mt, s"$dir/out")
    val back = sources.Plink.read(spark, s"$dir/out")
    def gts(m: MatrixTable) = m.entriesTable.df
      .select(col("position"), col("s"), Calls.nNonRefAlleles(col("GT")))
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        (if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(gts(back) === gts(mt))
    assert(back.colValues.map(_.getString(0)) ===
      mt.colValues.map(_.getString(0)))
  }

  test("parallel BGEN index stitches to the sequential walk exactly") {
    // synthesize a several-hundred-variant BGEN via export
    val n = 8
    val lines = new StringBuilder
    lines ++= "##fileformat=VCFv4.2\n"
    lines ++= "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"\">\n"
    lines ++= ("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
      (1 to n).map(i => s"S$i").mkString("\t") + "\n")
    (1 to 400).foreach { v =>
      val gts = (1 to n).map(i => s"${v % 2}/${(v + i) % 2}").mkString("\t")
      lines ++= s"chr1\t${1000 + v}\trs$v\tA\tG\t.\t.\t.\tGT\t$gts\n"
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx")
    val vcf = dir.resolve("in.vcf")
    java.nio.file.Files.writeString(vcf, lines.toString)
    val mt = sources.Vcf.read(spark, vcf.toString)
    val bgen = s"$dir/out.bgen"
    sources.Bgen.write(mt, bgen)
    val seq = sources.Bgen.index(spark, bgen)
    // small splitBytes → many byte-range tasks, every seam resynced
    val par = sources.Bgen.indexParallel(spark, bgen, splitBytes = 2048)
    assert(par.isDefined, "parallel index fell back")
    assert(par.get.nSamples == seq.nSamples)
    assert(par.get.variants == seq.variants)
    assert(par.get.variants.length == 400)
  }

  test("GEN export/import roundtrip preserves probabilities") {
    val mt = sources.Gen.read(spark,
      Fixtures.path("oracle_gen.gen"),
      Fixtures.path("oracle_gen.sample"))
    val dir = java.nio.file.Files.createTempDirectory("graft_gen")
    sources.Gen.write(mt, s"$dir/gen", s"$dir/out.sample")
    val back = sources.Gen.read(spark, s"$dir/gen", s"$dir/out.sample")
    def gps(m: MatrixTable) = m.entriesTable.df
      .select(col("position"), col("s"),
        round(element_at(col("GP"), 1), 3),
        round(element_at(col("GP"), 2), 3))
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(gps(back) === gps(mt))
  }

  test("importTable with imputation infers int/float/bool/string") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv")
    java.nio.file.Files.writeString(dir.resolve("t.tsv"),
      "a\tb\tc\td\n1\t1.5\ttrue\tx\n2\t2.5\tfalse\ty\nNA\t3.5\ttrue\tz\n")
    val t = TextTable.importTable(spark, dir.resolve("t.tsv").toString,
      impute = true)
    val sch = t.df.schema
    assert(sch("a").dataType.typeName === "long")
    assert(sch("b").dataType.typeName === "double")
    assert(sch("c").dataType.typeName === "boolean")
    assert(sch("d").dataType.typeName === "string")
    assert(t.df.where(col("a").isNull).count() === 1) // NA -> null
  }

  test("export/import roundtrip via TSV") {
    val t = Table.range(spark, 10).annotate("v" -> (col("idx") * 2))
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv").toString
    TextTable.exportTable(t, s"$dir/out")
    val back = TextTable.importTable(spark, s"$dir/out", impute = true)
    assert(back.df.count() === 10)
    assert(back.df.agg(sum("v")).head().getLong(0) === 90L)
  }

  test("gtf geneIntervals filters by symbol and version-stripped ids") {
    val path = Fixtures.path("oracle_annotations.gtf")
    val rg = Some(graft.functions.ReferenceGenome.GRCh38)
    assert(graft.sources.Gtf.geneIntervals(spark, path,
      geneSymbols = Seq("BETA"), referenceGenome = rg) ===
      Seq(("chr2", 300, 400)))
    // transcript id versions are stripped before matching
    assert(graft.sources.Gtf.geneIntervals(spark, path,
      transcriptIds = Seq("T1.2"), referenceGenome = rg) ===
      Seq(("chr1", 100, 150)))
    assert(graft.sources.Gtf.geneIntervals(spark, path,
      geneIds = Seq("G1.5"), geneSymbols = Seq("BETA"),
      referenceGenome = rg).toSet ===
      Set(("chr1", 100, 200), ("chr2", 300, 400)))
  }
}
