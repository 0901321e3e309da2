package graft

import org.apache.spark.sql.functions._
import graft.methods.Vep
import graft.sources.Vcf

class VepSpec extends SparkSpec {

  private def fixtureMt(): MatrixTable = Vcf.read(spark,
    Fixtures.path("oracle_sample.vcf"))

  private def variantTable(): Table = {
    val mt = fixtureMt()
    Table(mt.rowsTable.df.select("contig", "position", "ref", "alt"),
      Seq("contig", "position"))
  }

  // deterministic VEP stand-in: one VEP --json object per VCF input line,
  // echoing the line in `input` (the runner's join-back contract)
  private val jsonCmd = Seq("awk", "-F", "\t",
    """{
      |  line=$0; gsub(/\t/,"\\t",line);
      |  if (length($4)==1 && length($5)==1) msc="missense_variant";
      |  else msc="indel";
      |  printf("{\"input\":\"%s\",\"assembly_name\":\"GRCh38\",\"seq_region_name\":\"%s\",\"start\":%d,\"end\":%d,\"allele_string\":\"%s/%s\",\"strand\":1,\"most_severe_consequence\":\"%s\",\"transcript_consequences\":[{\"allele_num\":1,\"gene_id\":\"GENE%d\",\"canonical\":1,\"consequence_terms\":[\"%s\"]}]}\n",
      |    line, $1, $2, $2+length($4)-1, $4, $5, msc, $2%5, msc);
      |}""".stripMargin)

  test("vep json mode annotates every variant by key") {
    val t = variantTable()
    val n = t.df.count()
    val out = Vep.vep(t, jsonCmd).df
    assert(out.count() == n)
    assert(out.filter(col("vep").isNull).count() == 0)
    val bad = out.filter(
      col("vep.seq_region_name") =!= col("contig") ||
      col("vep.start") =!= col("position") ||
      col("vep.end") =!= col("position") + length(col("ref")) - 1 ||
      col("vep.most_severe_consequence") =!=
        when(length(col("ref")) === 1 &&
          length(concat_ws(",", col("alt"))) === 1, "missense_variant")
          .otherwise("indel") ||
      element_at(col("vep.transcript_consequences"), 1)("gene_id") =!=
        concat(lit("GENE"), pmod(col("position"), lit(5))))
    assert(bad.count() == 0)
    // unfilled schema fields surface as nulls, not errors
    assert(out.filter(col("vep.variant_class").isNotNull).count() == 0)
  }

  test("vep csq mode yields CSQ string arrays plus the header global") {
    // stand-in emits VCF lines whose INFO carries CSQ=a|...,b|...
    val csqCmd = Seq("awk", "-F", "\t",
      """{printf("%s\t%s\t.\t%s\t%s\t.\t.\tDP=4;CSQ=%s|GENE%d|HIGH,%s|GENE%d|LOW\n",
        |  $1, $2, $4, $5, $5, $2%5, $4, ($2+1)%5)}""".stripMargin)
    val t = variantTable()
    val out = Vep.vep(t, csqCmd, csq = true,
      csqHeader = "Allele|SYMBOL|IMPACT")
    assert(out.globals("vep_csq_header") == "Allele|SYMBOL|IMPACT")
    val rows = out.df.select(col("position"), col("vep")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val arr = r.getSeq[String](1)
      assert(arr.length == 2)
      assert(arr(0).endsWith("|HIGH") && arr(1).endsWith("|LOW"),
        arr.mkString(","))
    }
  }

  test("parse errors fail loudly unless tolerated") {
    val garbage = Seq("awk", "{print \"not json\"}")
    val t = variantTable()
    intercept[Exception] {
      Vep.vep(t, garbage).df.collect()
    }
    val tolerated = Vep.vep(t, garbage, tolerateParseError = true).df
    assert(tolerated.count() == t.df.count()) // left join keeps rows
    assert(tolerated.filter(col("vep").isNotNull).count() == 0)
  }
}
