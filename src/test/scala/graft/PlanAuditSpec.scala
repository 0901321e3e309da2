package graft

import org.apache.spark.sql.functions._

import graft.functions.{Liftover, ReferenceGenome}
import graft.methods.{Genetics, Ld, Regression}
import graft.sources.Vcf

/** 100×-scale plan audits: these assert the SHAPE of the physical plan
  * for the operators whose naive formulations explode at cluster scale —
  * the properties the correctness gate cannot see. */
class PlanAuditSpec extends SparkSpec {

  private def fixtureMt(): MatrixTable = Vcf.read(spark,
    Fixtures.path("oracle_sample.vcf"))

  test("ldMatrix joins on window bins — no per-contig cross product") {
    val plan = Ld.ldMatrix(fixtureMt(), window = 1500)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the equi-join key must include the position bin, so the per-group
    // fan-out is bounded by variants-per-window, not variants-per-contig
    assert(plan.contains("__bin"), plan.take(2000))
  }

  /** The row-local shape of a per-variant method's plan: one text scan of
    * the VCF (the 3-scans-per-trio shape had 6 for two trios), and no
    * Exchange, join or Window — each row's entries are read in place. */
  private def assertRowLocal(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan text".r.findAllIn(plan).length
    assert(scans == 1, s"$scans source scans\n${plan.take(2000)}")
    for (op <- Seq("Exchange", "Join", "CartesianProduct", "Window"))
      assert(!plan.contains(op), s"$op in\n${plan.take(2000)}")
  }

  test("mendel/tdt trio assembly scans the entries source once") {
    implicit val rg: ReferenceGenome = ReferenceGenome.GRCh38
    val mt = fixtureMt()
    assertRowLocal(Genetics.mendelErrors(mt, Seq(
      ("S1", "S2", "S3", true), ("S4", "S2", "S3", false))).df)
    assertRowLocal(Genetics.tdt(mt, Seq(("S1", "S2", "S3"),
      ("S4", "S2", "S3"))).df)
  }

  test("linear/logistic rows fit each row's entries in place") {
    val mt = fixtureMt()
    val pheno = mt.colsTable.df.withColumn("y",
      (substring(col("s"), 2, 10).cast("int") % 2).cast("double"))
    assertRowLocal(Regression.linearRegressionRows(mt, pheno, "y").df)
    assertRowLocal(Regression.logisticRegressionRows(mt, pheno, "y").df)
    // the logistic gates count their 2x2 cells off the same entries
    val gate = SparkEntry.queries("logistic_rows")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!gate.contains("posexplode"), gate.take(2000))
  }

  test("liftover is a broadcast join on the chain blocks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pl")
    val chain = dir.resolve("c.chain")
    java.nio.file.Files.writeString(chain,
      "chain 1 chr1 1000 + 0 500 chrA 3000 + 1000 1500 1\n500\n")
    val df = spark.range(100).toDF("i")
      .select(lit("chr1").as("contig"), (col("i") + 1).cast("int")
        .as("position"))
    val plan = Liftover.liftover(df,
      Liftover.readChain(spark, chain.toString),
      col("contig"), col("position"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("lsh multi-probe raises ANN recall over single-probe") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<float>").as("embedding"))
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val data = e.filter(col("vec_id") =!= 0L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val truth = ids(Similarity.bruteForceTopK(data, "vec_id",
      "embedding", q, 10))
    val one = ids(Similarity.lshTopK(data, "vec_id", "embedding", q,
      10, nPlanes = 4, probes = 1))
    val multi = ids(Similarity.lshTopK(data, "vec_id", "embedding", q,
      10, nPlanes = 4, probes = 5))
    val rOne = (one & truth).size / 10.0
    val rMulti = (multi & truth).size / 10.0
    assert(rMulti >= rOne, s"multi-probe recall $rMulti < $rOne")
    assert(rMulti >= 0.5, s"multi-probe recall too low: $rMulti")
  }

  test("interval_coverage joins broadcast — no sort-merge, no cartesian") {
    import graft.methods.VariantDataset
    val gvcf = java.nio.file.Files.createTempDirectory("graft_pic")
      .resolve("s.vcf")
    java.nio.file.Files.writeString(gvcf,
      """##fileformat=VCFv4.2
        |##INFO=<ID=END,Number=1,Type=Integer,Description="">
        |##FORMAT=<ID=GT,Number=1,Type=String,Description="">
        |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	SA
        |chr1	1	.	A	<NON_REF>	.	.	END=1000	GT:DP	0/0:20
        |""".stripMargin)
    val vds = graft.sources.Vcf.readGvcf(spark, gvcf.toString)
    val plan = vds.intervalCoverage(Seq(("chr1", 10, 200)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("tabix region read parallelizes by merged chunk, not whole file") {
    // structural assertion on readRegions' partitioning: one task per
    // merged chunk (see TabixSpec for value-level checks)
    val dir = java.nio.file.Files.createTempDirectory("graft_ptbx")
    val f = dir.resolve("t.vcf.bgz")
    val out = new graft.sources.BGzipOutputStream(
      new java.io.FileOutputStream(f.toFile), 2048)
    val sb = new StringBuilder
    sb ++= "##fileformat=VCFv4.2\n"
    sb ++= "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"\">\n"
    sb ++= "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
    (1 to 3000).foreach(i =>
      sb ++= s"chr1\t${i * 100}\t.\tA\tG\t.\t.\t.\tGT\t0/1\n")
    out.write(sb.toString.getBytes("UTF-8")); out.close()
    graft.sources.Tabix.write(spark, f.toString)
    val mt = graft.sources.Vcf.readRegions(spark, f.toString,
      Seq(("chr1", 10001, 15000)))
    // handful of partitions — NOT one per file split of the whole file
    assert(mt.rows.rdd.getNumPartitions <= 4)
    assert(mt.rows.count() == 50)
  }

  test("minhash pairs scan the corpus once and hash-aggregate minima") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.pipeline.Dedup.minhashPairs(docs, "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    // the shingle sets and band signatures are checkpoint-materialized,
    // so the downstream pair/verify pipeline never re-reads the corpus
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 1, s"$scans corpus scans\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // min() runs over longs: a hash aggregate with map-side partials —
    // min(string) would silently fall back to Sort+SortAggregate
    assert(!plan.contains("SortAggregate"), plan.take(2000))
  }

  test("coordinate matrix assembly runs off one shuffle") {
    // hash(rowKey) satisfies the clustering requirement of both the
    // cell-level and the row-level groupBy (cell key is a superset), so
    // pre-partitioning by the row key alone collapses the assembly to a
    // single exchange
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val cell = li.repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(sum(col("l_quantity")).as("qty"))
    val mt = MatrixTable.fromCoordinates(
      coord = cell,
      rowKey = Seq("l_orderkey"),
      colIdx = col("l_linenumber") - 1,
      entryFields = Seq("qty" -> col("qty")),
      colValues = (1 to 7).map(i =>
        org.apache.spark.sql.Row(i)).toIndexedSeq,
      colSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("line_no",
          org.apache.spark.sql.types.IntegerType, false))),
      colKey = Seq("line_no"))
    val plan = mt.rows.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges\n${plan.take(2500)}")
    // small-n assembly must stay on the declarative first-slot path:
    // ObjectHashAggregate here means the collect_list -> map fallback
    // silently took over
    assert(!plan.contains("ObjectHashAggregate"), plan.take(2500))

    // filterEntries -> aggregateEntries on top of the assembly must add
    // NO further exchange before the final single-partition gather: the
    // entry transform and the posexplode fold partition-locally, and the
    // global agg's partial runs map-side (r6 watched this query regress;
    // pin the shape so a revert cannot be silent)
    val agged = mt
      .filterEntries(e => e("qty") >= 10.0)
      .aggregateEntries(
        "n" -> (e => count(e)),
        "sum_qty" -> (e => sum(e("qty"))))
    val aplan = agged.queryExecution.executedPlan.toString
    val aex = "Exchange hashpartitioning".r.findAllIn(aplan).length
    assert(aex == 1, s"$aex hash exchanges\n${aplan.take(2500)}")
    assert(!aplan.contains("CartesianProduct") &&
      !aplan.contains("ObjectHashAggregate"), aplan.take(2500))
  }

  test("Table filter+select push down to the parquet scan") {
    val t = Table(spark.read.parquet(s"$sfDir/lineitem.parquet"),
      Seq("l_orderkey", "l_linenumber"))
      .filter(col("l_quantity") > 30.0)
    val plan = t.df.select(col("l_orderkey"), col("l_quantity"))
      .queryExecution.executedPlan.toString
    // the predicate must reach the scan as a pushed filter...
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,30.0)]"), plan.take(1500))
    // ...and the scan must read ONLY the two projected columns
    val read = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("?")
    assert(read == "l_orderkey:bigint,l_quantity:double",
      s"scan reads $read")
  }

  test("co-bucketed tables join without an exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt")
    val li = Table(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity")), Seq("l_orderkey"))
    val ords = Table(spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
      Seq("l_orderkey"))
    li.writeBucketed("bkt_li", s"$dir/li", 8)
    ords.writeBucketed("bkt_ords", s"$dir/ords", 8)
    // force the shuffle-join regime bucketing exists for (a broadcast
    // would hide the exchange question entirely at this test size)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_li")
        .join(spark.table("bkt_ords"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2500))
      assert(plan.contains("SortMergeJoin"), plan.take(2500))
      assert(joined.count() ==
        li.df.join(ords.df, "l_orderkey").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_li")
      spark.sql("DROP TABLE IF EXISTS bkt_ords")
    }
  }

  test("trio_matrix is a pure projection — no shuffle, no join") {
    val tm = graft.methods.Trios.trioMatrix(fixtureMt(), Seq(
      ("S1", "S2", "S3", true), ("S4", "S5", "S1", false)))
    val plan = tm.rows.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("fused kernels are in the plans, not HOF fallbacks") {
    // a refactor that silently reverts a kernel to the interpreted
    // higher-order formulation changes no query result — only the plan.
    // (ldMatrix/minhash checkpoint their normalized inputs, so the
    // kernels are asserted on the pre-checkpoint surfaces.)
    val norm = graft.methods.Pca.hweNormalized(fixtureMt(),
      scaleM = false)._1.queryExecution.optimizedPlan.toString
    assert(norm.contains("graft_dose_stats") &&
      norm.contains("graft_dose_norm"), norm.take(1200))
    val vq = graft.methods.Qc.variantQc(fixtureMt()).df
      .queryExecution.optimizedPlan.toString
    assert(vq.contains("graft_call_stats") &&
      vq.contains("graft_field_stats"), vq.take(1200))
    // (KING/IBD run the indicator kernel inside an internal Gramian
    // job, invisible to the output plan — their wiring is pinned by the
    // oracle gates and the distributed-equality specs instead.)
    val sh = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.pipeline.Text.shingles(col("text"), 3))
      .queryExecution.optimizedPlan.toString
    assert(sh.contains("graft_shingles"), sh.take(1200))
  }

  test("knnJoinLsh is a bucket equi-join — no cross product") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = graft.pipeline.Similarity
      .knnJoinLsh(e, "vec_id", "embedding", 3, nPlanes = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("fused entry kernels keep the optimized plan bounded") {
    // filter_alleles_hts and de_novo both route their recode arithmetic
    // through opaque kernel expressions (HtsRecodeExpr, DeNovoStatsExpr)
    // because the optimizer's extract-value simplification re-inlines
    // any Column-staged intermediate into every consumer: before the
    // kernels the optimized plans carried 49k / 31k expression nodes
    // (analysis + codegen ~8-24 s at ANY data size). Pin both the
    // kernel's presence and a hard node budget.
    def exprCount(df: org.apache.spark.sql.DataFrame): Long = {
      var n = 0L
      df.queryExecution.optimizedPlan.foreach(node =>
        node.expressions.foreach(e => e.foreach(_ => n += 1)))
      n
    }
    val fa = SparkEntry.queries("geno_filter_alleles_hts")(spark, sfDir)
    val faPlan = fa.queryExecution.optimizedPlan.toString
    assert(faPlan.contains("graft_hts_recode"), faPlan.take(2000))
    val faN = exprCount(fa)
    assert(faN < 8000, s"filter_alleles_hts optimized plan has $faN nodes")
    val dn = SparkEntry.queries("geno_de_novo")(spark, sfDir)
    val dnPlan = dn.queryExecution.optimizedPlan.toString
    assert(dnPlan.contains("graft_de_novo_stats"), dnPlan.take(2000))
    val dnN = exprCount(dn)
    assert(dnN < 10000, s"de_novo optimized plan has $dnN nodes")
  }

  test("dedupParagraphs plans two uniform-key exchanges and one scan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = pipeline.Dedup.dedupParagraphs(docs, "doc_id", "text")
    val plan = out.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"$scans corpus scans\n${plan.take(2000)}")
    // window shuffle on md5(paragraph) + regroup shuffle on doc id —
    // both uniform hash keys; anything more means a lost optimization
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"$exchanges exchanges\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("quality filters are one narrow pass — no shuffle, no generator") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = docs.select(col("doc_id"),
      pipeline.Text.duplicateLineFraction(col("text")),
      pipeline.Text.topNgramFraction(col("text"), 2),
      pipeline.Text.symbolToWordRatio(col("text")),
      pipeline.Text.bulletLineFraction(col("text")),
      pipeline.Text.ellipsisLineFraction(col("text")))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("Generate"), plan.take(2000))
  }

  test("streaming lang profile plans one exchange, partial+final agg") {
    import graft.streaming.StreamText
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = StreamText.langProfile(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // profile state is one row per language: map-side partial agg, ONE
    // hash exchange on the language key, final agg — nothing else
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges\n${plan.take(2000)}")
    assert(plan.contains("partial"), plan.take(2000))
    assert(!plan.contains("Generate"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("native write-after-read plans no range exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pa_srt")
      .toString
    Table.range(spark, 1000, 4).annotate("v" -> (col("idx") * 3))
      .write(s"$dir/t")
    val back = Table.read(spark, s"$dir/t")
    // ensureKeyOrder is write/collect's sort entry point: with the
    // manifest-verified ordered read it must be the identity, and the
    // physical plan of the read-back contains no exchange at all
    assert(back.ensureKeyOrder() eq back)
    val plan = back.df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("stratifiedSample is one narrow filter — no shuffle, no join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = pipeline.Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 500)).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"$scans scans\n${plan.take(2000)}")
  }

  test("winnow candidates + verify join on uniform keys — no cross product") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = pipeline.Dedup
      .winnowSubstringPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the verify side recomputes gram IDENTITIES from the source with
    // the fused rolling-hash kernel — 8-byte join keys, not t-char
    // strings (the fingerprint kernel sits behind the candidate
    // checkpoint, invisible to this plan — audited below)
    assert(plan.contains("graft_gram_hashes"), plan.take(2000))
    val fpPlan = docs.select(pipeline.Text.winnowFingerprints(col("text")))
      .queryExecution.executedPlan.toString
    assert(fpPlan.contains("graft_winnow_fingerprints"), fpPlan.take(2000))
  }

  test("charNgramJaccard evaluates the intersect kernel once per pair") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // default path on a small-dictionary corpus = dictionary bitmaps:
    // the sorted-array kernel must be GONE from the plan (its per-pair
    // merge-walk was the sf10 super-linear term), replaced by the
    // codegen'd AND+popcount fold, still outside the join condition
    val plan = pipeline.Dedup.charNgramJaccardPairs(docs,
      "doc_id", "text", Seq("source", "lang"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("intersect_count"), plan.take(2500))
    assert(plan.contains("bit_count"), plan.take(2500))
    // fallback path (dictionary over budget): the one-kernel-site
    // barrier discipline of rounds 8-10 still holds
    val fb = pipeline.Dedup.charNgramJaccardPairs(docs,
      "doc_id", "text", Seq("source", "lang"), maxDictSize = 0)
      .queryExecution.executedPlan.toString
    assert(!fb.contains("CartesianProduct"), fb.take(2000))
    val kernels = "intersect_count".r.findAllIn(fb).length
    assert(kernels == 1, s"$kernels intersect sites\n${fb.take(2500)}")
  }

  test("prefixFilterJaccard: no cartesian, one intersect kernel site") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = pipeline.Dedup.prefixFilterJaccardPairs(
      docs, "doc_id", "text", n = 8, threshold = 0.8)
      .queryExecution.executedPlan.toString
    // completeness comes from prefix-gram EQUI-joins — an accidental
    // cartesian would mean the candidate join degenerated to all-pairs
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the barrier discipline: the sorted-merge kernel evaluates once
    // per candidate in the projection, never inside a join condition
    val kernels = "intersect_count".r.findAllIn(plan).length
    assert(kernels == 1, s"$kernels intersect sites\n${plan.take(2500)}")
  }

  test("prefixFilterJaccard cluster shape: candidate join shuffles on " +
      "(g, bucket); past-budget verify shuffles on pair ids") {
    // the invariants the 100-TB scale-out argument rests on, pinned
    // with every broadcast escape hatch closed: autoBroadcast off (no
    // statically mis-estimated broadcast of the corpus-sized prefix
    // index) and a zero verify-broadcast budget (the degraded path a
    // vocab-rich corpus takes)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = pipeline.Dedup.prefixFilterJaccardPairs(docs, "doc_id",
        "text", n = 8, threshold = 0.8, maxVerifyBroadcastBytes = 0L)
      val plan = df.queryExecution.executedPlan.toString
      // the fan-out pin boundary both consumers read from: the
      // checkpoint's ExistingRDD
      assert(plan.contains("ExistingRDD"), plan.take(3000))
      // candidate join: hash-partitioned shuffled hash join on the
      // composite (gram, size-bucket) key — never a broadcast of the
      // prefix index
      assert(plan.contains("ShuffledHashJoin [g#") ||
        """ShuffledHashJoin \[g""".r.findFirstIn(plan).nonEmpty,
        plan.take(3000))
      assert("""Exchange hashpartitioning\(g#\d+, __bk""".r
        .findFirstIn(plan).nonEmpty, plan.take(3000))
      // verify joins (budget 0 = the at-scale path): shuffled equi-
      // joins keyed on the pair ids, and the gram arrays never ride a
      // broadcast
      assert("""Exchange hashpartitioning\(id_a#\d+""".r
        .findFirstIn(plan).nonEmpty, plan.take(3000))
      assert("""Exchange hashpartitioning\(id_b#\d+""".r
        .findFirstIn(plan).nonEmpty, plan.take(3000))
      // the kernel still evaluates once, outside any join condition
      val kernels = "intersect_count".r.findAllIn(plan).length
      assert(kernels == 1, s"$kernels intersect sites\n${plan.take(3000)}")
      // single-materialization invariant (round 15): the gram-group
      // frame AND the prefix frame are both fan-out-pinned, so the
      // collect_list aggregations that build them must be INVISIBLE in
      // the final-pass plan (both join sides read the pin's boundary
      // scan). If the prefix pin is ever dropped, its re-collect
      // pipeline reappears here TWICE (the candidate join's sides do
      // not canonicalize to a reused exchange — verified by a
      // zero-ReusedExchange plan dump at 50k docs).
      assert(!plan.contains("collect_list"), plan.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("packSequences: one range exchange, broadcast offsets, no global window") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), pipeline.Text.tokenCount(col("text"))
        .cast("long").as("n"))
    val plan = pipeline.Sampling.packSequences(docs, "doc_id", col("n"),
      512).queryExecution.executedPlan.toString
    // the token prefix-sum must be the two-phase scan: range exchanges
    // only (ReuseExchange collapses the shared sort subtree), partials
    // riding a broadcast join — never a single-task global Window
    val range = "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(range >= 1, plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    // one single-partition exchange is the O(numPartitions) prefix
    // combine over the partials — O(parts) rows, not O(rows)
    assert(single <= 1, s"$single single-partition exchanges\n" +
      plan.take(2500))
  }

  test("jsonl shard projection: narrow lines, one shard exchange") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = pipeline.Export.jsonlLines(docs, "doc_id",
      Seq("doc_id", "lang", "source"), 8)
      .repartition(col("shard"))
      .queryExecution.executedPlan.toString
    val ex = "Exchange".r.findAllIn(plan).length
    assert(ex == 1, s"$ex exchanges\n${plan.take(2000)}")
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("kmeans assignment pass: no join, no shuffle above the grid scan") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val assigned = pipeline.Similarity.kmeansLloydExact(
      e, "vec_id", "embedding", k = 2, iters = 1)
    val plan = assigned.queryExecution.executedPlan.toString
    // centroids are literals: the final assignment is a pure projection
    // over the checkpointed grid — no join, no exchange
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("Table.literal joins broadcast from a LocalTableScan") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val lit0 = Table.literal(spark,
      Seq(org.apache.spark.sql.Row(1L), org.apache.spark.sql.Row(2L)),
      StructType(Seq(StructField("l_orderkey", LongType))),
      Seq("l_orderkey"))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val plan = li.join(lit0.df, Seq("l_orderkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("asOfJoin is union-and-carry — one key window, no range join") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val e2 = ev.withColumn("tns", graft.streaming.Events.tsNanos(
      col("ts"), ev.schema("ts").dataType))
    val l = e2.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tns"))
    val r = e2.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tns").as("rt"),
        col("value").as("rv"))
    val plan = graft.operators.AsOfJoin.backward(l, r, Seq("user_id"),
      "tns", "rt", Seq("rv"))
      .queryExecution.executedPlan.toString
    // the whole join is a union + ONE keyed window — never a join node
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("Window"), plan.take(2000))
    assert(plan.contains("Union"), plan.take(2000))
    // nearest runs BOTH direction carries over the same key exchange:
    // still zero join nodes, and exactly one hash exchange on the keys
    // (the second window re-sorts in place — no second shuffle)
    val nPlan = graft.operators.AsOfJoin.nearest(l, r, Seq("user_id"),
      "tns", "rt", Seq("rv"))
      .queryExecution.executedPlan.toString
    assert(!nPlan.contains("Join"), nPlan.take(2000))
    val nEx = "Exchange hashpartitioning".r.findAllIn(nPlan).length
    assert(nEx == 1, s"$nEx hash exchanges\n${nPlan.take(2500)}")
    val fPlan = graft.operators.AsOfJoin.forward(l, r, Seq("user_id"),
      "tns", "rt", Seq("rv"))
      .queryExecution.executedPlan.toString
    assert(!fPlan.contains("Join"), fPlan.take(2000))
  }

  test("charNgramJaccard block cap sits before the self-join") {
    // the capBuckets guard is a block-key aggregate + semi-ish join
    // back; the audit pins that the candidate self-join consumes the
    // CAPPED side (an Aggregate on the block key exists upstream) and
    // the kernel still evaluates once (audited separately below)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = pipeline.Dedup.charNgramJaccardPairs(docs, "doc_id",
      "text", Seq("source", "lang")).queryExecution
      .optimizedPlan.toString
    assert(plan.contains("count(1)"), plan.take(2000))
    assert(plan.toLowerCase.contains("aggregate"), plan.take(2000))
  }

  test("sq/pq ANN prescans rank with partial top-k, no cross product") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<float>").as("embedding"))
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val rest = e.filter(col("vec_id") =!= 0L)
    for (df <- Seq(
        Similarity.sqTopK(rest, "vec_id", "embedding", q, 5),
        Similarity.pqTopK(rest, "vec_id", "embedding", q, 5))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    }
  }

  test("tripletMine pool crossing is broadcast, exclusions hash-joined") {
    val docs = spark.range(0, 1000).toDF("doc_id")
    val pairs = spark.createDataFrame(Seq((1L, 2L), (5L, 6L)))
      .toDF("id_a", "id_b")
    val plan = graft.pipeline.Sampling
      .tripletMine(pairs, docs, "doc_id", nNeg = 2, poolMod = 25)
      .queryExecution.executedPlan.toString
    // the anchor x pool crossing must broadcast the thinned pool —
    // never a shuffled cartesian of corpus-sized sides
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("chunkDocs is one generator pass — no shuffle") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.pipeline.Text
      .chunkDocs(d, "doc_id", "text", 64, 48)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("semDedup pairs are a cluster equi-join — no cross product") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = pipeline.Dedup.semDedup(e, "vec_id",
      "embedding", threshold = 0.2, k = 2, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("bm25 ranks with a partial top-k, never a global sort") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = pipeline.Retrieval.bm25TopK(d, "doc_id", "text",
      Seq("join", "hash"), k = 5)
      .queryExecution.executedPlan.toString
    // TakeOrderedAndProject = per-partition partial top-k + driver
    // merge; a Sort+Limit shape would total-sort the corpus
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("bigramNll joins count tables on gram keys — no cross product") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = pipeline.LangModel.bigramNll(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the per-doc reduction is a hash aggregation (map-side partials),
    // and the bigram window partitions by doc — no global window
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("duplicatedSpans: equi-joins + per-doc window, fused gram kernel") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = pipeline.Dedup.duplicatedSpans(d, "doc_id", "text")
    df.count() // materialize the fan-out pin so the final plan shows
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    // the islands window partitions by doc — a global (empty-key)
    // window would single-partition the corpus
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(doc"), plan.take(2500))
    // and the rolling-hash pass is the fused kernel, not a HOF chain
    // (asserted pre-checkpoint: the localCheckpoint boundary replaces
    // the subtree with a LogicalRDD in the final plan)
    val logical = d.select(graft.functions.TextKernels
      .gramHashes(col("text"), 30)).queryExecution.analyzed.toString
    assert(logical.contains("graft_gram_hashes"), logical.take(2500))
  }

  test("heavyHittersExact: broadcast second pass, no key-space groupBy before prune") {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("key", concat(lit("k"), (col("event_id") % 5)
        .cast("string")))
    val df = operators.Aggs.heavyHittersExact(e, "key", 16)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // the 1-row summary reaches the second pass as a broadcast, and the
    // candidate filter sits BELOW the exact-count aggregation, so the
    // exact groupBy only ever sees <= m candidate keys
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2500))
    assert(plan.contains("array_contains"), plan.take(2500))
  }

  test("pageRank sweeps: rank joins stay equi-joins, scalars broadcast") {
    val e = spark.createDataFrame(
      (1 to 200).map(i => (i.toLong % 23, (i * 7L + 3) % 23)))
      .toDF("src", "dst")
    val df = pipeline.Graph.pageRank(e, "src", "dst", iters = 2)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // the only nested-loop joins are the broadcast 1-row scalar frames
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    val cart = "CartesianProduct".r.findAllIn(plan).length
    assert(cart === 0, plan.take(2500))
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2500))
  }

  test("pageRank lineage-truncates: deep runs plan only the tail after the last checkpoint") {
    val e = spark.createDataFrame(
      (1 to 100).map(i => (i.toLong % 13, (i * 5L + 1) % 13)))
      .toDF("src", "dst")
    def joins(it: Int, ck: Int) = {
      val p = pipeline.Graph.pageRank(e, "src", "dst", iters = it,
        checkpointEvery = ck).queryExecution.optimizedPlan.toString
      "Join".r.findAllIn(p).length
    }
    // checkpointEvery=4 truncates before sweeps 5,9,13,17: a 20-sweep
    // run plans at most 4 tail sweeps, so its join count is bounded by
    // a 5-sweep plan's. The uncheckpointed 20-sweep plan is not built
    // as a baseline on purpose — ANALYZING it is itself super-linear
    // (minutes at depth 20), which is exactly why the truncation
    // parameter exists.
    assert(joins(20, 4) <= joins(5, 100))
  }

  test("editDistancePairs: variant equi-join, no quadratic fallback") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lower(substring(col("text"), 1, 12)).as("k"))
    val plan = pipeline.Dedup.editDistancePairs(d, "doc_id", "k")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
  }

  test("bestFuzzyMatchPerDoc: per-doc rank filter plans as " +
      "WindowGroupLimit — top-k bounded before the shuffle") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        lower(substring(col("text"), 1, 12)).as("k"))
    val plan = pipeline.Dedup.bestFuzzyMatchPerDoc(
      d, "doc_id", "k", k = 2)
      .queryExecution.executedPlan.toString
    // the linear-output contract rests on this: each map task keeps
    // only its 2 best rows per doc before the window exchange, so the
    // shuffle carries O(k·docs), never the quadratic pair mass
    assert(plan.contains("WindowGroupLimit"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("exactNgramDecontam: bench grams broadcast; one corpus pass") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 97 === 3)
      .select(substring(col("text"), 21, 200).as("text"))
    val plan = pipeline.Dedup.exactNgramDecontam(docs, "doc_id", "text",
      bench, "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2500))
    assert(!plan.contains("SortMergeJoin"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("clusterBalance: per-cluster cap plans as WindowGroupLimit") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val res = Similarity.clusterBalance(e, "vec_id", "embedding",
      k = 4, quota = 7)
    // the rank-limit must push a partial group-limit BELOW the window
    // shuffle — a giant topic cluster never funnels un-pruned
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2500))
    val got = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.groupBy(_._2).values.forall(_.length <= 7))
    assert(got.map(_._3).forall(r => r >= 1 && r <= 7))
    // deterministic
    val again = Similarity.clusterBalance(e, "vec_id", "embedding",
      k = 4, quota = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === got.toSet)
  }

  test("persisted IVF index: queries read ONLY the probed cells' files") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<float>").as("embedding"))
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfidx")
      .toString
    Similarity.buildIvfIndex(e.filter(col("vec_id") =!= 0L), "vec_id",
      "embedding", dir, nCells = 4, iters = 2)
    val res = Similarity.queryIvfIndex(spark, dir, q, k = 5, nProbe = 2)
    // the partition filter must reach the source: the scan's SELECTED
    // partitions are exactly the two probed cells (inputFiles is
    // pre-pruning, so inspect the executed scan node itself)
    val scan = res.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    assert(scan.partitionFilters.nonEmpty, scan.toString.take(1500))
    val selected = scan.selectedPartitions.partitionCount
    assert(selected <= 2, s"scan selected $selected partitions")
    val allParts = spark.read.parquet(s"$dir/vectors")
      .select("cell").distinct().count()
    assert(allParts === 4L && selected < allParts)
    // full probe degenerates to exact brute force
    val full = Similarity.queryIvfIndex(spark, dir, q, 5, nProbe = 4)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.bruteForceTopK(
      e.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(full === brute)
  }

  test("dsirSelect: bucket weight table joins broadcast, no cartesian") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = pipeline.Sampling.dsirSelect(docs, "doc_id", "text",
      col("lang") === "en", k = 10, numBuckets = 64)
      .queryExecution.executedPlan.toString
    // the ≤numBuckets-row log-ratio table must arrive broadcast — the
    // per-doc weight pass is scan + BHJ + one doc-keyed agg
    assert(plan.contains("BroadcastHashJoin"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(!plan.contains("SortMergeJoin"), plan.take(2500))
    // top-k is TakeOrdered, never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2500))
  }

  private def exchangeCount(plan: String): Int =
    plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))

  test("genetics_pipeline composition: split rows pinned once feed " +
      "both QC consumers; the write-side row pass is one narrow stage") {
    val sp0 = methods.SplitMulti(Vcf.read(spark,
      Fixtures.path("oracle_multi.vcf")))
    val sp = sp0.copy(rows = sp0.rows.localCheckpoint(false))
    val ann = methods.Qc.annotateVariantQc(sp)
      .annotateColsTable(methods.Qc.sampleQc(sp), Seq("call_rate"))
    val crIdx = ann.colSchema.fieldIndex("call_rate")
    val filtered = ann
      .filterCols(_.getDouble(crIdx) > 0.8)
      .filterRows(element_at(col("AC"), 2) > 2)
      .filterEntries(e => e("GT").isNotNull &&
        when(length(col("ref")) =!= length(element_at(col("alt"), 1)),
          e("DP") > 20).otherwise(e("DP") > 10))
    val plan = filtered.rows.queryExecution.executedPlan.toString
    // both QC consumers read the one pin, the checkpoint's ExistingRDD:
    // the VCF parses once, not once per consumer
    assert(plan.contains("ExistingRDD"), plan.take(3000))
    // no source re-scan above the pin
    assert(!plan.contains("FileScan"), plan.take(3000))
    // variant QC + row/entry filters compose into ONE narrow stage
    // over the pinned split rows: no join, no exchange anywhere in
    // the write-side row pass (sample QC already folded into the
    // driver-resident col values)
    assert(exchangeCount(plan) === 0, plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("pipe_curation_e2e composition: deduped corpus pinned once; " +
      "quality filter + split assign add no exchange over the dedup") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val cleaned = docs.filter(length(col("text")) >= lit(100) &&
      pipeline.Text.symbolToWordRatio(col("text")) < lit(0.3))
    val ex = pipeline.Dedup.exact(cleaned, "doc_id", "text")
      .drop("content_hash").localCheckpoint(false)
    val clusters = pipeline.Dedup.nearDupClusters(
      pipeline.Dedup.minhashPairs(ex, "doc_id", "text"))
    val ded = pipeline.Dedup.dedupByClusters(ex, "doc_id", clusters)
    val toks = pipeline.Text.tokenCount(col("text")).cast("long")
    val chars = length(regexp_replace(col("text"), "\\s", ""))
      .cast("long")
    val q = ded
      .withColumn("n_tokens", toks)
      .withColumn("n_chars", chars)
      .filter(col("n_tokens") >= 20L && col("n_tokens") <= 2000L &&
        col("n_chars") > col("n_tokens") * 2L &&
        col("n_chars") < col("n_tokens") * 12L)
    val split = pipeline.Sampling.assignSplit(
      q.select("doc_id", "lang", "n_tokens"), "doc_id",
      Seq("train" -> 980, "val" -> 10, "test" -> 10))
    // every path to documents.parquet sits below a fan-out pin (the
    // exact-dedup pin here, minhashPairs' signature pin inside): the
    // corpus cleans + dedups ONCE, not once per consumer
    val plan = split.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), plan.take(3000))
    assert(plan.contains("ExistingRDD"), plan.take(3000))
    // the quality gates and split assignment are pure projections:
    // zero exchanges beyond what the representative-dedup join needs
    assert(exchangeCount(plan) ===
      exchangeCount(ded.queryExecution.executedPlan.toString),
      plan.take(3000))
  }
}
