package graft
package gates

import org.apache.spark.sql.functions._
import Support._

/** Format gates: VCF, BGEN, GEN, PLINK, native `.ht`/`.mt`, Avro,
  * BED/FAM/interval imports, FASTA and the VEP/Nirvana stand-ins. */
object SourceGates {
  /** Deterministic VEP stand-in for the `vep_annotate` gate: emits one
    * VEP --json object per VCF input line with closed-form annotations
    * the DuckDB oracle recomputes from the fixture. */
  private val VepStandInCmd = Seq("awk", "-F", "\t",
    """{
      |  line=$0; gsub(/\t/,"\\t",line);
      |  if (length($4)==1 && length($5)==1) msc="missense_variant";
      |  else msc="indel";
      |  printf("{\"input\":\"%s\",\"assembly_name\":\"GRCh38\",\"seq_region_name\":\"%s\",\"start\":%d,\"end\":%d,\"allele_string\":\"%s/%s\",\"strand\":1,\"most_severe_consequence\":\"%s\",\"transcript_consequences\":[{\"allele_num\":1,\"gene_id\":\"GENE%d\",\"canonical\":1,\"consequence_terms\":[\"%s\"]}]}\n",
      |    line, $1, $2, $2+length($4)-1, $4, $5, msc, $2%5, msc);
      |}""".stripMargin)

  /** Deterministic Nirvana stand-in: one positions-JSON object per VCF
    * input line (Nirvana does NOT echo the input; the key comes from the
    * JSON's own chromosome/position/refAllele/altAlleles), closed-form
    * annotations the DuckDB oracle recomputes from the fixture. */
  private val NirvanaStandInCmd = Seq("awk", "-F", "\t",
    """{
      |  n=split($5,a,","); alts="";
      |  for(i=1;i<=n;i++){alts=alts "\"" a[i] "\""; if(i<n) alts=alts ","}
      |  if (length($4)==1 && length($5)==1) vt="SNV"; else vt="indel";
      |  printf("{\"chromosome\":\"%s\",\"refAllele\":\"%s\",\"position\":%d,\"altAlleles\":[%s],\"cytogeneticBand\":\"%sq%d\",\"variants\":[{\"altAllele\":\"%s\",\"refAllele\":\"%s\",\"chromosome\":\"%s\",\"begin\":%d,\"end\":%d,\"phylopScore\":%d.5,\"variantType\":\"%s\",\"vid\":\"%s:%d:%s:%s\",\"transcripts\":[{\"transcript\":\"TX%d\",\"source\":\"Ensembl\",\"geneId\":\"GENE%d\",\"isCanonical\":true,\"consequence\":[\"%s\"]}]}]}\n",
      |    $1, $4, $2, alts, $1, $2%30, a[1], $4, $1, $2,
      |    $2+length($4)-1, $2%7, vt, $1, $2, $4, $5, $2%3, $2%5, vt);
      |}""".stripMargin)

  private def PlinkImportOracleSql: String =
    raw"""SELECT contig, position, ref, alt, s, a1, a2
      |FROM read_csv(
      |  '${Fixtures.path("oracle_plink_expected.tsv")}',
      |  delim='\t', header=true, nullstr='\N',
      |  columns={'contig':'VARCHAR','position':'INTEGER','ref':'VARCHAR',
      |    'alt':'VARCHAR','s':'VARCHAR','a1':'INTEGER','a2':'INTEGER'})""".stripMargin

  private def BgenImportOracleSql: String =
    raw"""SELECT contig, position, ref, alt, s, gt,
      |  round(paa8 / 255.0, 6) AS paa,
      |  round(pab8 / 255.0, 6) AS pab,
      |  round(1.0 - paa8 / 255.0 - pab8 / 255.0, 6) AS pbb
      |FROM read_csv(
      |  '${Fixtures.path("oracle_bgen_expected.tsv")}',
      |  delim='\t', header=true, nullstr='\N',
      |  columns={'contig':'VARCHAR','position':'INTEGER','ref':'VARCHAR',
      |    'alt':'VARCHAR','s':'VARCHAR','gt':'INTEGER',
      |    'paa8':'INTEGER','pab8':'INTEGER'})""".stripMargin

  private def GenImportOracleSql: String =
    s"""WITH raw AS (
      |  SELECT string_split_regex(trim(line), ' +') AS f
      |  FROM read_csv('${Fixtures.path("oracle_gen.gen")}',
      |    delim='~', header=false, columns={'line':'VARCHAR'})),
      |samp AS (SELECT unnest(range(0, 6)) AS j),
      |e AS (
      |  SELECT f[1] AS contig, CAST(f[4] AS INTEGER) AS position,
      |    f[5] AS ref, f[6] AS alt, 'G' || j AS s,
      |    CAST(f[7 + j * 3] AS DOUBLE) AS paa,
      |    CAST(f[8 + j * 3] AS DOUBLE) AS pab,
      |    CAST(f[9 + j * 3] AS DOUBLE) AS pbb
      |  FROM raw, samp)
      |SELECT contig, position, ref, alt, s,
      |  CASE WHEN greatest(paa, pab, pbb) < 0.9 THEN NULL
      |       WHEN greatest(paa, pab, pbb) = paa THEN 0
      |       WHEN greatest(paa, pab, pbb) = pab THEN 1
      |       ELSE 2 END AS gt,
      |  round(paa, 6) AS paa
      |FROM e""".stripMargin

  def all: Seq[Gate] = Seq(
    // --- get_vcf_metadata (reference impex.py): header declarations -------
    Gate("vcf_metadata", (s, _) => sources.Vcf.metadata(s, vcfFixture),
      s"""SELECT
        |  regexp_extract(line,
        |    '##(INFO|FORMAT|FILTER)=<ID=([^,>]+)', 1) AS section,
        |  regexp_extract(line,
        |    '##(INFO|FORMAT|FILTER)=<ID=([^,>]+)', 2) AS id,
        |  NULLIF(regexp_extract(line, ',Number=([^,>]+)', 1), '')
        |    AS number,
        |  NULLIF(regexp_extract(line, ',Type=([^,>]+)', 1), '') AS type,
        |  NULLIF(regexp_extract(line, ',Description="([^"]*)"', 1), '')
        |    AS description
        |FROM read_csv('$vcfFixture', delim='', header=false, quote='',
        |  columns={'line':'VARCHAR'})
        |WHERE line LIKE '##INFO=%' OR line LIKE '##FORMAT=%'
        |  OR line LIKE '##FILTER=%'""".stripMargin),

    // --- PLINK import (io/plink/LoadPlink.scala): 2-bit .bed decode;
    // oracle = golden text dump generated alongside the binary fixture -----
    Gate("plink_import", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Plink.read(s,
        Fixtures.path("oracle_plink"))
      mt.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.allele1(col("GT")).as("a1"),
        Calls.allele2(col("GT")).as("a2"))
    },
      PlinkImportOracleSql),

    // --- BGEN v1.2 import (io/bgen/LoadBgen.scala): zlib layout-2 decode;
    // oracle = golden dump generated alongside the binary fixture ----------
    Gate("bgen_import", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Bgen.read(s,
        Fixtures.path("oracle_bgen.bgen"),
        Some(Fixtures.path("oracle_bgen.sample")))
      mt.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.nNonRefAlleles(col("GT")).as("gt"),
        round(element_at(col("GP"), 1), 6).as("paa"),
        round(element_at(col("GP"), 2), 6).as("pab"),
        round(element_at(col("GP"), 3), 6).as("pbb"))
    },
      BgenImportOracleSql),

    // --- Oxford GEN import (io/gen/): text probabilities + hard calls -----
    Gate("gen_import", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Gen.read(s,
        Fixtures.path("oracle_gen.gen"),
        Fixtures.path("oracle_gen.sample"))
      mt.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.nNonRefAlleles(col("GT")).as("gt"),
        round(element_at(col("GP"), 1), 6).as("paa"))
    },
      GenImportOracleSql),

    // --- VDS combiner + densify (vds/combiner, to_dense_mt): two
    // single-sample gVCFs merge and densify; the expected grid is small
    // enough to oracle as literal VALUES -----------------------------------
    Gate("vds_combine_densify", (s, _) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_vdsq")
      def gvcf(name: String, body: String): String = {
        val f = dir.resolve(s"$name.vcf")
        java.nio.file.Files.writeString(f,
          """##fileformat=VCFv4.2
            |##INFO=<ID=END,Number=1,Type=Integer,Description="Block end">
            |##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
            |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">
            |""".stripMargin +
            s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$name\n"
            + body)
        f.toString
      }
      val a = sources.Vcf.readGvcf(s, gvcf("VA",
        "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=99\tGT:DP\t0/0:21\n" +
        "chr1\t100\t.\tA\tG,<NON_REF>\t50\tPASS\t.\tGT:DP\t0/1:30\n" +
        "chr1\t101\t.\tC\t<NON_REF>\t.\t.\tEND=900\tGT:DP\t0/0:24\n"))
      val b = sources.Vcf.readGvcf(s, gvcf("VB",
        "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=500\tGT:DP\t0/0:17\n" +
        "chr1\t600\t.\tT\tC,<NON_REF>\t44\tPASS\t.\tGT:DP\t1/1:28\n"))
      import graft.functions.Calls
      methods.VdsCombiner.combine(Seq(a, b)).toDenseMt()
        .entriesTable.df
        .select(col("contig"), col("position"), col("s"),
          Calls.nNonRefAlleles(col("GT")).as("n_alt"), col("DP"))
    },
      // densified grid of the two merged gVCFs: variant entries win (their
      // DP is not backfilled), covered cells fill hom-ref with block DP
      """SELECT * FROM (VALUES
        |  ('chr1', 100, 'VA', 1, CAST(NULL AS INTEGER)),
        |  ('chr1', 100, 'VB', 0, 17),
        |  ('chr1', 600, 'VA', 0, 24),
        |  ('chr1', 600, 'VB', 2, CAST(NULL AS INTEGER)))
        |AS t(contig, position, s, n_alt, DP)""".stripMargin),

    // --- VDS interval_coverage (vds/methods.py:759): per-(interval,
    // sample) base coverage from reference blocks; oracle = hand-computed
    // literals over the same tiny gVCF fixtures ----------------------------
    Gate("vds_interval_coverage", (s, _) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_vdsc")
      def gvcf(name: String, body: String): String = {
        val f = dir.resolve(s"$name.vcf")
        java.nio.file.Files.writeString(f,
          """##fileformat=VCFv4.2
            |##INFO=<ID=END,Number=1,Type=Integer,Description="Block end">
            |##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
            |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">
            |""".stripMargin +
            s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$name\n"
            + body)
        f.toString
      }
      val a = sources.Vcf.readGvcf(s, gvcf("VA",
        "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=99\tGT:DP\t0/0:21\n" +
        "chr1\t100\t.\tA\tG,<NON_REF>\t50\tPASS\t.\tGT:DP\t0/1:30\n" +
        "chr1\t101\t.\tC\t<NON_REF>\t.\t.\tEND=900\tGT:DP\t0/0:24\n"))
      val b = sources.Vcf.readGvcf(s, gvcf("VB",
        "chr1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=500\tGT:DP\t0/0:17\n" +
        "chr1\t600\t.\tT\tC,<NON_REF>\t44\tPASS\t.\tGT:DP\t1/1:28\n"))
      val thresholds = Seq(0, 10, 20, 30)
      val cov = methods.VdsCombiner.combine(Seq(a, b))
        .intervalCoverage(Seq(("chr1", 50, 150), ("chr1", 400, 1000)),
          thresholds)
      val tArr = array(thresholds.map(lit): _*)
      cov.select(col("contig"), col("start"), col("end"),
        col("interval_size"), col("s"), col("sum_dp"),
        round(col("mean_dp"), 6).as("mean_dp"),
        posexplode(arrays_zip(col("bases_over_dp_threshold"),
          col("fraction_over_dp_threshold"))).as(Seq("__p", "__z")))
        .select(col("contig"), col("start"), col("end"),
          col("interval_size"), col("s"),
          element_at(tArr, col("__p") + 1).as("dp_threshold"),
          col("__z")("bases_over_dp_threshold").as("bases_over"),
          round(col("__z")("fraction_over_dp_threshold"), 6)
            .as("fraction_over"),
          col("sum_dp"), col("mean_dp"))
    },
      // hand-computed over the fixture blocks: VA [1,99]@21 [101,900]@24,
      // VB [1,500]@17; intervals [50,150) size 100 and [400,1000) size 600
      """SELECT contig, start, "end", interval_size, s, dp_threshold,
        |  CAST(bases_over AS BIGINT) AS bases_over,
        |  CAST(fraction_over AS DOUBLE) AS fraction_over,
        |  CAST(sum_dp AS BIGINT) AS sum_dp,
        |  CAST(mean_dp AS DOUBLE) AS mean_dp
        |FROM (VALUES
        |  ('chr1', 50, 150, 100, 'VA', 0, 99, 0.99, 2226, 22.26),
        |  ('chr1', 50, 150, 100, 'VA', 10, 99, 0.99, 2226, 22.26),
        |  ('chr1', 50, 150, 100, 'VA', 20, 99, 0.99, 2226, 22.26),
        |  ('chr1', 50, 150, 100, 'VA', 30, 0, 0.0, 2226, 22.26),
        |  ('chr1', 50, 150, 100, 'VB', 0, 100, 1.0, 1700, 17.0),
        |  ('chr1', 50, 150, 100, 'VB', 10, 100, 1.0, 1700, 17.0),
        |  ('chr1', 50, 150, 100, 'VB', 20, 0, 0.0, 1700, 17.0),
        |  ('chr1', 50, 150, 100, 'VB', 30, 0, 0.0, 1700, 17.0),
        |  ('chr1', 400, 1000, 600, 'VA', 0, 501, 0.835, 12024, 20.04),
        |  ('chr1', 400, 1000, 600, 'VA', 10, 501, 0.835, 12024, 20.04),
        |  ('chr1', 400, 1000, 600, 'VA', 20, 501, 0.835, 12024, 20.04),
        |  ('chr1', 400, 1000, 600, 'VA', 30, 0, 0.0, 12024, 20.04),
        |  ('chr1', 400, 1000, 600, 'VB', 0, 101, 0.168333, 1717, 2.861667),
        |  ('chr1', 400, 1000, 600, 'VB', 10, 101, 0.168333, 1717, 2.861667),
        |  ('chr1', 400, 1000, 600, 'VB', 20, 0, 0.0, 1717, 2.861667),
        |  ('chr1', 400, 1000, 600, 'VB', 30, 0, 0.0, 1717, 2.861667))
        |AS t(contig, start, "end", interval_size, s, dp_threshold,
        |  bases_over, fraction_over, sum_dp, mean_dp)""".stripMargin),

    // --- VCF import: typed INFO/FORMAT entries on a committed fixture;
    // oracle re-parses the same file with DuckDB read_csv ------------------
    Gate("vcf_import", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s,
        Fixtures.path("oracle_sample.vcf"))
      mt.entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"),
          col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    },
      VcfImportOracleSql),

    // --- native-format .ht import (AbstractTableSpec.scala /
    // AbstractRVDSpec.scala / types/encoded): the committed fixture is
    // written by an INDEPENDENT stdlib-python encoder
    // (tools/make_ht_fixture.py) following the same public format docs,
    // so reader and fixture share no code; values are closed-form
    // constants the oracle lists ------------------------------------------
    // --- native-format EXPORT: write a reference-readable .ht/.mt and
    // re-import it through the independent decoder ---------------------------
    Gate("ht_export", (s, dir) => {
      val t = Table(s.read.parquet(s"$dir/nation.parquet"),
        Seq("n_nationkey"), Map("source" -> "tpch"))
      val out = java.nio.file.Files.createTempDirectory("graft_htex")
      sources.HailNativeWrite.writeTable(t, s"$out/nation.ht")
      val back = sources.HailNative.readTable(s, s"$out/nation.ht")
      back.df.select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"),
        lit(back.globals("source").toString).as("g_source"))
    },
      // fixture constants (tools/make_ht_fixture.py writes them literally)
      """SELECT n_nationkey, n_name, n_regionkey, 'tpch' AS g_source
        |FROM nation""".stripMargin),

    Gate("mt_export", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s,
        Fixtures.path("oracle_sample.vcf"))
      val out = java.nio.file.Files.createTempDirectory("graft_mtex")
      sources.HailNativeWrite.writeMatrixTable(mt, s"$out/sample.mt")
      val back = sources.HailNative.readMatrixTable(s, s"$out/sample.mt")
      back.entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"),
          col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    },
      VcfImportOracleSql),

    Gate("ht_import", (s, _) => {
      val t = sources.HailNative.readTable(s,
        Fixtures.path("sample.ht"))
      t.df.select(col("id"), col("name"), col("score"),
        concat_ws(",", col("tags")).as("tags"),
        col("info")("a").as("info_a"), col("info")("b").as("info_b"),
        col("maybe"),
        lit(t.globals("pop").toString).as("g_pop"))
    },
      """SELECT CAST(id AS INTEGER) AS id, name, CAST(score AS DOUBLE)
        |    AS score, tags,
        |  CAST(info_a AS INTEGER) AS info_a, info_b,
        |  CAST(maybe AS DOUBLE) AS maybe, 'EUR' AS g_pop
        |FROM (VALUES
        |  (1, 'alpha', 1.5, 'x,y', 10, true, 2.25),
        |  (2, 'beta', -3.0, '', NULL, false, NULL),
        |  (3, 'gamma', 0.125, 'z,w', 7, true, -1.0),
        |  (4, 'delta', 4.5, 'q', 0, false, 0.5),
        |  (5, 'epsilon', 9.0, '', 128, true, NULL))
        |  t(id, name, score, tags, info_a, info_b, maybe)""".stripMargin),

    // --- native-format .mt import: rows zip entries per partition;
    // entry-level aggregation over the imported matrix ----------------------
    Gate("mt_import", (s, _) => {
      val mt = sources.HailNative.readMatrixTable(s,
        Fixtures.path("sample.mt"))
      mt.rows.select(
        col("locus")("contig").as("contig"),
        col("locus")("position").as("position"),
        col("ref"),
        size(filter(mt.entries, e => e.isNotNull && e("gt").isNotNull))
          .as("n_called"),
        aggregate(mt.entries, lit(0),
          (a, e) => a + coalesce(e("dp"), lit(0))).as("dp_sum"),
        lit(mt.nCols).as("n_cols"),
        lit(mt.globals("note").toString).as("g_note"))
    },
      """SELECT contig, CAST(position AS INTEGER) AS position, ref,
        |  CAST(n_called AS INTEGER) AS n_called,
        |  CAST(dp_sum AS INTEGER) AS dp_sum,
        |  CAST(2 AS INTEGER) AS n_cols, 'fixture' AS g_note
        |FROM (VALUES
        |  ('chr1', 100, 'A', 2, 10),
        |  ('chr1', 200, 'C', 1, 25),
        |  ('chr2', 300, 'G', 2, 15))
        |  t(contig, position, ref, n_called, dp_sum)""".stripMargin),

    // --- vep (qc.py:1104, runner contract is/hail/methods/VEP.scala):
    // a deterministic awk stand-in plays the annotator binary — one VEP
    // --json object per VCF input line, `input` echoing the line; the
    // engine joins annotations back by the re-parsed variant key. The
    // oracle recomputes the stand-in's closed-form annotations from the
    // same fixture ---------------------------------------------------------
    Gate("vep_annotate", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val t = Table(
        mt.rowsTable.df.select("contig", "position", "ref", "alt"),
        Seq("contig", "position"))
      methods.Vep.vep(t, VepStandInCmd).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("vep.assembly_name").as("assembly_name"),
          col("vep.allele_string").as("allele_string"),
          col("vep.start").as("vstart"),
          col("vep.end").as("vend"),
          col("vep.most_severe_consequence").as("msc"),
          element_at(col("vep.transcript_consequences"), 1)("gene_id")
            .as("gene_id"))
    },
      raw"""WITH raw AS (
        |  SELECT * FROM read_csv(
        |    '${Fixtures.path("oracle_sample.vcf")}',
        |    delim='\t', header=false, skip=7,
        |    columns={'contig':'VARCHAR','position':'INTEGER',
        |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
        |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
        |      'fmt':'VARCHAR','S1':'VARCHAR','S2':'VARCHAR','S3':'VARCHAR',
        |      'S4':'VARCHAR','S5':'VARCHAR'}))
        |SELECT contig, position, ref, alts,
        |  'GRCh38' AS assembly_name,
        |  ref || '/' || alts AS allele_string,
        |  position AS vstart,
        |  CAST(position + length(ref) - 1 AS INTEGER) AS vend,
        |  CASE WHEN length(ref) = 1 AND length(alts) = 1
        |    THEN 'missense_variant' ELSE 'indel' END AS msc,
        |  'GENE' || (position % 5) AS gene_id
        |FROM raw""".stripMargin),

    // --- Nirvana annotator (methods/Nirvana.scala registry entry): same
    // pipe contract as vep, Nirvana positions-JSON shape, key re-derived
    // from the annotation itself -------------------------------------------
    Gate("nirvana_annotate", (s, _) => {
      val mt = sources.Vcf.read(s, vcfFixture)
      val t = Table(
        mt.rowsTable.df.select("contig", "position", "ref", "alt"),
        Seq("contig", "position"))
      methods.Nirvana.nirvana(t, NirvanaStandInCmd).df
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("nirvana.cytogeneticBand").as("band"),
          element_at(col("nirvana.variants"), 1)("phylopScore")
            .as("phylop"),
          element_at(col("nirvana.variants"), 1)("variantType")
            .as("vtype"),
          element_at(col("nirvana.variants"), 1)("vid").as("vid"),
          element_at(element_at(col("nirvana.variants"), 1)("transcripts"),
            1)("geneId").as("gene_id"),
          element_at(col("nirvana.variants"), 1)("end").as("vend"))
    },
      // the awk stand-in's annotations are closed-form in the fixture row
      raw"""WITH raw AS (
        |  SELECT * FROM read_csv(
        |    '${Fixtures.path("oracle_sample.vcf")}',
        |    delim='\t', header=false, skip=7,
        |    columns={'contig':'VARCHAR','position':'INTEGER',
        |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
        |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
        |      'fmt':'VARCHAR','S1':'VARCHAR','S2':'VARCHAR','S3':'VARCHAR',
        |      'S4':'VARCHAR','S5':'VARCHAR'}))
        |SELECT contig, position, ref, alts,
        |  contig || 'q' || CAST(position % 30 AS VARCHAR) AS band,
        |  CAST(position % 7 + 0.5 AS DOUBLE) AS phylop,
        |  CASE WHEN length(ref) = 1 AND length(alts) = 1
        |    THEN 'SNV' ELSE 'indel' END AS vtype,
        |  contig || ':' || CAST(position AS VARCHAR) || ':' || ref
        |    || ':' || alts AS vid,
        |  'GENE' || CAST(position % 5 AS VARCHAR) AS gene_id,
        |  CAST(position + length(ref) - 1 AS INTEGER) AS vend
        |FROM raw""".stripMargin),

    // --- export_vcf → import_vcf roundtrip (io/vcf/ExportVCF.scala):
    // the text writer must reproduce the import projection bit-for-bit ----
    Gate("vcf_write_roundtrip", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Vcf.read(s, vcfFixture)
      val dir = java.nio.file.Files.createTempDirectory("graft_vcf_rt")
      sources.Vcf.write(mt, s"$dir/out")
      val header = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/out/header.vcf"))
      val parts = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/out/parts")).toArray.map(_.toString)
        .filter(_.endsWith(".txt")).sorted
        .map(p => java.nio.file.Files.readString(
          java.nio.file.Paths.get(p))).mkString
      java.nio.file.Files.writeString(dir.resolve("all.vcf"),
        header + parts)
      val back = sources.Vcf.read(s, dir.resolve("all.vcf").toString)
      back.entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"),
          col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"),
          col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    },
      // the text-writer round-trip restores the import projection exactly
      VcfImportOracleSql),

    // --- export_plink → import_plink roundtrip (io/plink/) ----------------
    Gate("plink_write_roundtrip", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Plink.read(s,
        Fixtures.path("oracle_plink"))
      val dir = java.nio.file.Files.createTempDirectory("graft_plink_rt")
      sources.Plink.write(mt, s"$dir/out")
      val back = sources.Plink.read(s, s"$dir/out")
      back.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.allele1(col("GT")).as("a1"),
        Calls.allele2(col("GT")).as("a2"))
    },
      PlinkImportOracleSql),

    // --- export_bgen → import_bgen roundtrip (io/bgen/ExportBGEN.scala):
    // 8-bit probability quantization is lossless through the round-trip ----
    Gate("bgen_export_roundtrip", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Bgen.read(s,
        Fixtures.path("oracle_bgen.bgen"),
        Some(Fixtures.path("oracle_bgen.sample")))
      val dir = java.nio.file.Files.createTempDirectory("graft_bgen_rt")
      sources.Bgen.write(mt, s"$dir/out.bgen")
      val back = sources.Bgen.read(s, s"$dir/out.bgen")
      back.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.nNonRefAlleles(col("GT")).as("gt"),
        round(element_at(col("GP"), 1), 6).as("paa"),
        round(element_at(col("GP"), 2), 6).as("pab"),
        round(element_at(col("GP"), 3), 6).as("pbb"))
    },
      BgenImportOracleSql),

    // --- export_gen → import_gen roundtrip (io/gen/): 3-decimal text
    // probabilities survive the round-trip exactly -------------------------
    Gate("gen_write_roundtrip", (s, _) => {
      import graft.functions.Calls
      val mt = sources.Gen.read(s,
        Fixtures.path("oracle_gen.gen"),
        Fixtures.path("oracle_gen.sample"))
      val dir = java.nio.file.Files.createTempDirectory("graft_gen_rt")
      sources.Gen.write(mt, s"$dir/gen", s"$dir/out.sample")
      val back = sources.Gen.read(s, s"$dir/gen", s"$dir/out.sample")
      back.entriesTable.df.select(
        col("contig"), col("position"), col("ref"),
        element_at(col("alt"), 1).as("alt"), col("s"),
        Calls.nNonRefAlleles(col("GT")).as("gt"),
        round(element_at(col("GP"), 1), 6).as("paa"))
    },
      GenImportOracleSql),

    // --- splittable bgzip VCF import (io/compress/BGzipCodec.scala):
    // the BGZF-codec read must reproduce the plain-text import ------------
    Gate("vcf_bgz_import", (s, _) => {
      import graft.functions.Calls
      val dir = java.nio.file.Files.createTempDirectory("graft_bgz_gate")
      val bgz = dir.resolve("f.vcf.bgz").toString
      val out = new sources.BGzipOutputStream(
        new java.io.FileOutputStream(bgz), 2048)
      out.write(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(vcfFixture)))
      out.close()
      sources.Vcf.read(s, bgz).entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("qual"),
          col("info")("DP").as("info_dp"),
          element_at(col("info")("AC"), 1).as("info_ac"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"),
          Calls.isPhased(col("GT")).as("phased"),
          col("DP").as("dp"))
    },
      VcfImportOracleSql),

    // --- tabix-indexed region read (io/tabix/TabixReader.scala +
    // LoadVCF partial reads): bgzip the fixture, index it, seek-read two
    // regions; only in-region rows come back --------------------------------
    Gate("vcf_region_read", (s, _) => {
      import graft.functions.Calls
      val dir = java.nio.file.Files.createTempDirectory("graft_tbx_gate")
      val bgz = dir.resolve("f.vcf.bgz").toString
      val out = new sources.BGzipOutputStream(
        new java.io.FileOutputStream(bgz), 2048)
      out.write(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(vcfFixture)))
      out.close()
      sources.Tabix.write(s, bgz)
      val mt = sources.Vcf.readRegions(s, bgz,
        Seq(("chr1", 300, 1200), ("chr2", 1, 700)))
      mt.entriesTable.df
        .filter(col("GT").isNotNull)
        .select(col("contig"), col("position"), col("ref"),
          concat_ws(",", col("alt")).as("alts"), col("s"),
          Calls.allele1(col("GT")).as("a1"),
          Calls.allele2(col("GT")).as("a2"))
    }, {
      val base = vcfParseCte(vcfFixture, 7, (1 to 5).map(i => s"S$i"))
      s"""WITH $base
        |SELECT contig, position, ref, alts, s, a1, a2
        |FROM q
        |WHERE a1 IS NOT NULL AND (
        |  (contig = 'chr1' AND position BETWEEN 300 AND 1200) OR
        |  (contig = 'chr2' AND position BETWEEN 1 AND 700))""".stripMargin
    }),

    // --- annotation imports (import_bed / import_fam /
    // import_locus_intervals, reference methods/impex.py) ------------------
    Gate("bed_import", (s, _) =>
      sources.Annotations.importBed(s,
        Fixtures.path("oracle_annotations.bed")).df,
      raw"""SELECT f[1] AS contig, CAST(f[2] AS INTEGER) + 1 AS start,
        |  CAST(f[3] AS INTEGER) AS "end", f[4] AS target
        |FROM (
        |  SELECT string_split_regex(trim(line), '\s+') AS f
        |  FROM read_csv(
        |    '${Fixtures.path("oracle_annotations.bed")}',
        |    delim='~', header=false, columns={'line':'VARCHAR'})
        |  WHERE trim(line) != '' AND NOT starts_with(trim(line), '#')
        |    AND NOT starts_with(trim(line), 'track')
        |    AND NOT starts_with(trim(line), 'browser'))""".stripMargin),

    Gate("fam_import", (s, _) =>
      sources.Annotations.importFam(s,
        Fixtures.path("oracle_plink.fam")).df,
      raw"""SELECT f[2] AS s, f[1] AS fam_id, f[3] AS pat_id, f[4] AS mat_id,
        |  CASE WHEN f[5] = '2' THEN true
        |       WHEN f[5] = '1' THEN false END AS is_female,
        |  CASE WHEN f[6] IN ('-9', '0') THEN NULL
        |       ELSE TRY_CAST(f[6] AS DOUBLE) END AS quant_pheno
        |FROM (
        |  SELECT string_split_regex(trim(line), '\s+') AS f
        |  FROM read_csv('${Fixtures.path("oracle_plink.fam")}',
        |    delim='~', header=false, columns={'line':'VARCHAR'})
        |  WHERE trim(line) != '')""".stripMargin),

    // --- Avro source (io/AvroTableReader.scala): distributed container
    // read of a driver-written fixture carrying the nation table ----------
    Gate("avro_read", (s, dir) => {
      import org.apache.avro.SchemaBuilder
      import org.apache.avro.file.DataFileWriter
      import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
      val rows = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey").collect()
      val schema = SchemaBuilder.record("nation").fields()
        .requiredInt("n_nationkey").requiredString("n_name")
        .requiredInt("n_regionkey").endRecord()
      val tmp = java.nio.file.Files.createTempDirectory("graft_avro_gate")
      val w = new DataFileWriter(
        new GenericDatumWriter[GenericRecord](schema))
        .create(schema, tmp.resolve("part-0.avro").toFile)
      rows.foreach { r =>
        val rec = new GenericData.Record(schema)
        rec.put("n_nationkey", r.getInt(0))
        rec.put("n_name", r.getString(1))
        rec.put("n_regionkey", r.getInt(2))
        w.append(rec)
      }
      w.close()
      sources.Avro.read(s, tmp.resolve("part-0.avro").toString)
    },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation"),

    // --- Avro container EXPORT roundtrip: distributed per-partition
    // write through the Hadoop FS, read back by the independent reader --
    Gate("avro_write_roundtrip", (s, dir) => {
      val nation = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val out = s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_avro_w_${ProcessHandle.current().pid()}"
      sources.Avro.write(nation, out)
      sources.Avro.read(s, out)
    },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation"),

    // --- FASTA reference sequence (reference_genome.py add_sequence /
    // getReferenceSequence): .fai-indexed lookup with contig clamping -----
    Gate("fasta_sequence", (s, _) => {
      import graft.functions.Fasta
      val seq1 = "ACGT" * 25 // chr1: 100 bases
      val seq2 = "TTGGCCAA" * 10 // chr2: 80 bases
      val dir = java.nio.file.Files.createTempDirectory("graft_fa_gate")
      val fa = dir.resolve("ref.fa")
      java.nio.file.Files.writeString(fa,
        ">chr1\n" + seq1.grouped(20).mkString("\n") + "\n" +
          ">chr2\n" + seq2.grouped(25).mkString("\n") + "\n")
      Fasta.buildIndex(s, fa.toString)
      val fasta = Fasta.read(s, fa.toString)
      s.range(1, 91).toDF("p").select(col("p"),
        fasta.getReferenceSequence(lit("chr1"), col("p").cast("int"))
          .as("base"),
        fasta.getReferenceSequence(lit("chr1"), col("p").cast("int"),
          lit(2), lit(3)).as("ctx"),
        fasta.getReferenceSequence(lit("chr2"), col("p").cast("int"))
          .as("b2"))
    },
      """WITH s1 AS (SELECT repeat('ACGT', 25) AS seq),
        |s2 AS (SELECT repeat('TTGGCCAA', 10) AS seq2),
        |p AS (SELECT unnest(range(1, 91)) AS p)
        |SELECT p,
        |  substr(seq, CAST(p AS INTEGER), 1) AS base,
        |  substr(seq, greatest(1, CAST(p AS INTEGER) - 2),
        |    least(100, CAST(p AS INTEGER) + 3)
        |      - greatest(1, CAST(p AS INTEGER) - 2) + 1) AS ctx,
        |  substr(seq2, CAST(p AS INTEGER), 1) AS b2
        |FROM p, s1, s2""".stripMargin)
  )
}
