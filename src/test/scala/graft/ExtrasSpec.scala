package graft

import org.apache.spark.sql.functions._
import graft.functions.{Calls, Liftover, StatTests}
import graft.methods.BaldingNichols
import graft.sources.{Avro, Bgen}

class ExtrasSpec extends SparkSpec {

  test("liftover maps forward, reverse-strand, and leaves gaps unmapped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_chain")
    val chain = dir.resolve("test.chain")
    // chr1 [100,300) -> chrA + @500 ; split chain on chr3 with a gap:
    // [0,50) -> @10, then dt=20 dq=5, [70,120) -> @65
    // chr2 [0,100) -> chrB(size 400) reverse strand @0
    java.nio.file.Files.writeString(chain,
      """chain 100 chr1 1000 + 100 300 chrA 2000 + 500 700 1
        |200
        |
        |chain 90 chr3 1000 + 0 120 chrC 2000 + 10 170 2
        |50	20	5
        |50
        |
        |chain 50 chr2 1000 + 0 100 chrB 400 - 0 100 3
        |100
        |""".stripMargin)
    val blocks = Liftover.readChain(spark, chain.toString)
    assert(blocks.length == 4)
    val df = spark.createDataFrame(Seq(
      ("chr1", 150), ("chr2", 10), ("chr3", 30), ("chr3", 60),
      ("chr3", 80), ("chr9", 5)
    )).toDF("contig", "position")
    val out = Liftover.liftover(df, blocks, col("contig"), col("position"))
      .select(col("contig"), col("position"), col("target_contig"),
        col("target_position"), col("is_negative_strand"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (Option(r.getString(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    // chr1:150 -> 0-based 149, offset 49 into [100,300) -> 500+49 -> 550
    assert(out(("chr1", 150)) ==
      ((Some("chrA"), Some(550), Some(false))))
    // chr2:10 -> 0-based 9 -> q 9 on '-' of size 400 -> 400-1-9=390 -> 391
    assert(out(("chr2", 10)) == ((Some("chrB"), Some(391), Some(true))))
    // chr3:30 -> block1 offset 29 -> 10+29 -> 0-based 39 -> 40
    assert(out(("chr3", 30)) == ((Some("chrC"), Some(40), Some(false))))
    // chr3:60 -> 0-based 59 falls in the dt gap [50,70) -> unmapped
    assert(out(("chr3", 60)) == ((None, None, None)))
    // chr3:80 -> 0-based 79, block2 [70,120)->q 65+... offset 9 -> 74+1
    assert(out(("chr3", 80)) == ((Some("chrC"), Some(75), Some(false))))
    assert(out(("chr9", 5)) == ((None, None, None)))
  }

  test("distribution functions match known values") {
    val df = spark.range(1).toDF("i")
    val r = df.select(
      StatTests.dbeta(lit(0.2), lit(1.0), lit(25.0)).as("db"),
      StatTests.dnorm(lit(0.0), lit(0.0), lit(1.0)).as("dn"),
      StatTests.dchisq(lit(1.0), lit(1.0)).as("dc"),
      StatTests.dpois(lit(3.0), lit(2.0), lit(false)).as("dp"),
      StatTests.ppois(lit(3.0), lit(2.0), lit(true)).as("pp"),
      StatTests.qpois(lit(0.95), lit(2.0)).as("qp"),
      StatTests.qchisqtail(lit(0.05), lit(1.0)).as("qc"),
      StatTests.pgenchisq(lit(4.0), array(lit(1.0)))("_1").as("pg"),
      StatTests.chiSqTail(lit(4.0), lit(1.0)).as("ct")).head()
    assert(math.abs(r.getAs[Double]("db") -
      25.0 * math.pow(0.8, 24)) < 1e-10)
    assert(math.abs(r.getAs[Double]("dn") -
      1.0 / math.sqrt(2 * math.Pi)) < 1e-12)
    assert(math.abs(r.getAs[Double]("dc") - 0.2419707245191434) < 1e-12)
    // dpois(3; 2) = e^-2 2^3/3!
    assert(math.abs(r.getAs[Double]("dp") -
      math.exp(-2) * 8 / 6.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("pp") -
      math.exp(-2) * (1 + 2 + 2 + 4.0 / 3)) < 1e-12)
    assert(r.getAs[Int]("qp") == 5)
    assert(math.abs(r.getAs[Double]("qc") - 3.8414588206941254) < 1e-9)
    // one weight: pgenchisq == chi-sq tail
    assert(math.abs(r.getAs[Double]("pg") - r.getAs[Double]("ct")) < 1e-9)
  }

  test("balding_nichols_model is seeded-deterministic with drifted freqs") {
    val mt1 = BaldingNichols.baldingNicholsModel(spark, 3, 20, 50,
      seed = 7L)
    val mt2 = BaldingNichols.baldingNicholsModel(spark, 3, 20, 50,
      seed = 7L)
    val h1 = mt1.entriesTable.df.select(col("position"), col("s"),
      col("GT")).collect().map(_.toSeq).toSet
    assert(h1 == mt2.entriesTable.df.select(col("position"), col("s"),
      col("GT")).collect().map(_.toSeq).toSet)
    assert(mt1.nCols == 20 && mt1.rows.count() == 50)
    // ancestral AF within [0.1, 0.9]; pop freqs in (0,1)
    val afs = mt1.rows.select(col("ancestral_af"), col("af")).collect()
    afs.foreach { r =>
      val a = r.getDouble(0)
      assert(a >= 0.1 && a <= 0.9)
      r.getSeq[Double](1).foreach(p => assert(p > 0 && p < 1))
    }
    // different seed differs
    val mt3 = BaldingNichols.baldingNicholsModel(spark, 3, 20, 50,
      seed = 8L)
    assert(h1 != mt3.entriesTable.df.select(col("position"), col("s"),
      col("GT")).collect().map(_.toSeq).toSet)
    // genotypes are valid diploid calls
    mt1.entriesTable.df.select(Calls.nNonRefAlleles(col("GT"))).collect()
      .foreach(r => assert(r.getInt(0) >= 0 && r.getInt(0) <= 2))
  }

  test("avro reader round-trips records incl. nullables and arrays") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = SchemaBuilder.record("rec").fields()
      .requiredLong("id").optionalString("name")
      .name("xs").`type`().array().items().doubleType().noDefault()
      .endRecord()
    val dir = java.nio.file.Files.createTempDirectory("graft_avro")
    val f = dir.resolve("part-0.avro").toFile
    val w = new DataFileWriter(
      new GenericDatumWriter[GenericRecord](schema)).create(schema, f)
    (0 until 10).foreach { i =>
      val r = new GenericData.Record(schema)
      r.put("id", i.toLong)
      r.put("name", if (i % 3 == 0) null else s"n$i")
      val arr = new GenericData.Array[java.lang.Double](2,
        schema.getField("xs").schema())
      arr.add(i * 1.0); arr.add(i * 2.0)
      r.put("xs", arr)
      w.append(r)
    }
    w.close()
    val df = Avro.read(spark, dir.toString + "/part-0.avro")
    assert(df.count() == 10)
    val rows = df.orderBy("id").collect()
    assert(rows(1).getAs[String]("name") == "n1")
    assert(rows(0).isNullAt(rows(0).fieldIndex("name")))
    assert(rows(2).getSeq[Double](rows(2).fieldIndex("xs")).toSeq ==
      Seq(2.0, 4.0))
  }

  test("avro writer round-trips nested structs, arrays, maps and nulls") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("xs", ArrayType(DoubleType, containsNull = false),
        nullable = true),
      StructField("tags", MapType(StringType, IntegerType), nullable = true),
      StructField("inner", StructType(Seq(
        StructField("a", IntegerType, nullable = true),
        StructField("b", StringType, nullable = true))), nullable = true)))
    val rows = Seq(
      Row(1L, "x", Seq(1.5, 2.5), Map("k" -> 3), Row(7, "in")),
      Row(2L, null, Seq.empty[Double], Map.empty[String, Int],
        Row(null, "only-b")),
      Row(3L, "z", null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = java.nio.file.Files.createTempDirectory("graft_avro_w")
      .toString + "/t"
    Avro.write(df, out)
    val back = Avro.read(spark, out).orderBy("id").collect()
    assert(back.length === 3)
    assert(back(0).getAs[Row]("inner").getInt(0) === 7)
    assert(back(0).getAs[Map[String, Int]]("tags") === Map("k" -> 3))
    assert(back(1).isNullAt(1))
    assert(back(1).getSeq[Double](2).isEmpty)
    assert(back(1).getAs[Row]("inner").isNullAt(0))
    assert(back(2).isNullAt(2) && back(2).isNullAt(3) && back(2).isNullAt(4))
    assert(back(0).getSeq[Double](2).toSeq === Seq(1.5, 2.5))
  }

  test("bgen sidecar index round-trips and skips the rescan") {
    val src = java.nio.file.Path.of(
      Fixtures.path("oracle_bgen.bgen"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bgen")
    val cp = dir.resolve("t.bgen")
    java.nio.file.Files.copy(src, cp)
    val scanned = Bgen.indexed(spark, cp.toString, writeIndex = true)
    assert(java.nio.file.Files.exists(dir.resolve("t.bgen.gidx")))
    val loaded = Bgen.indexed(spark, cp.toString)
    assert(loaded.nSamples == scanned.nSamples)
    assert(loaded.sampleIds == scanned.sampleIds)
    assert(loaded.variants == scanned.variants)
    // and a full read through the sidecar decodes identically
    val a = Bgen.read(spark, cp.toString,
      Some(Fixtures.path("oracle_bgen.sample")))
      .entriesTable.df.select("position", "s", "GT").collect()
      .map(_.toSeq).toSet
    val b = Bgen.read(spark, src.toString,
      Some(Fixtures.path("oracle_bgen.sample")))
      .entriesTable.df.select("position", "s", "GT").collect()
      .map(_.toSeq).toSet
    assert(a == b)
  }

  test("fasta getReferenceSequence via fai index") {
    import graft.functions.Fasta
    val dir = java.nio.file.Files.createTempDirectory("graft_fa")
    val fa = dir.resolve("t.fa")
    java.nio.file.Files.writeString(fa,
      """>chr1 some description
        |ACGTACGTAC
        |GTACGTACGT
        |ACG
        |>chr2
        |TTTTCCCCGG
        |""".stripMargin)
    Fasta.buildIndex(spark, fa.toString)
    val seq = Fasta.read(spark, fa.toString)
    val df = spark.createDataFrame(Seq(
      ("chr1", 1), ("chr1", 11), ("chr1", 23), ("chr2", 5),
      ("chr3", 1))).toDF("contig", "position")
    val out = df.select(col("contig"), col("position"),
      seq.getReferenceSequence(col("contig"), col("position")).as("b"),
      seq.getReferenceSequence(col("contig"), col("position"),
        lit(2), lit(2)).as("win"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getString(2), r.getString(3)))).toMap
    assert(out(("chr1", 1)) == (("A", "ACG"))) // clamped at contig start
    assert(out(("chr1", 11)) == (("G", "ACGTA")))
    assert(out(("chr1", 23)) == (("G", "ACG"))) // last base, clamped
    assert(out(("chr2", 5)) == (("C", "TTCCC")))
    assert(out(("chr3", 1)) == ((null, null)))
  }

  test("bgen streamed byte-range read equals the indexed read") {
    val src = Fixtures.path("oracle_bgen.bgen")
    val smp = Some(Fixtures.path("oracle_bgen.sample"))
    def dump(mt: MatrixTable) = mt.entriesTable.df
      .select("contig", "position", "ref", "s", "GT")
      .collect().map(_.toSeq).toSet
    val indexed = Bgen.read(spark, src, smp)
    // force the streamed plan on the tiny fixture: threshold 0, small
    // splits → several resync'd byte ranges, seam-verified
    val streamed = Bgen.read(spark, src, smp,
      streamThreshold = 0L, streamSplitBytes = 512L)
    assert(dump(streamed) == dump(indexed))
    assert(streamed.entriesTable.df.count() ===
      indexed.entriesTable.df.count())
  }

  test("bgen write/read round-trips GT and 8-bit GP") {
    import graft.functions.Calls
    val src = Bgen.read(spark,
      Fixtures.path("oracle_bgen.bgen"),
      Some(Fixtures.path("oracle_bgen.sample")))
    val dir = java.nio.file.Files.createTempDirectory("graft_bgw")
    val out = dir.resolve("rt.bgen").toString
    Bgen.write(src, out)
    // export emits the .gidx sidecar; it must agree with a fresh walk
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(s"$out.gidx")))
    val fromSidecar = Bgen.indexed(spark, out, writeIndex = false)
    val walked = Bgen.index(spark, out)
    assert(fromSidecar.variants === walked.variants)
    assert(fromSidecar.sampleIds === walked.sampleIds)
    val back = Bgen.read(spark, out)
    def dump(mt: MatrixTable) = mt.entriesTable.df
      .select(col("contig"), col("position"), col("ref"), col("s"),
        Calls.nNonRefAlleles(col("GT")).as("gt"),
        round(element_at(col("GP"), 1), 6).as("paa"),
        round(element_at(col("GP"), 2), 6).as("pab"))
      .collect().map(_.toSeq).toSet
    assert(dump(back) == dump(src))
  }

  test("ndarray inverse: inv(A)*A = I; singular input yields null") {
    import graft.functions.NdArrays
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(
      NdArrays.make(Seq(2L, 2L),
        array(lit(4.0), lit(7.0), lit(2.0), lit(6.0))).as("a"),
      NdArrays.make(Seq(2L, 2L),
        array(lit(1.0), lit(2.0), lit(2.0), lit(4.0))).as("sing"))
    val out = df.select(
      NdArrays.matmul(NdArrays.inverse(col("a")), col("a"))("data")
        .as("ident"),
      NdArrays.inverse(col("sing")).as("ns")).head()
    val id = out.getSeq[Double](0)
    assert(math.abs(id(0) - 1) < 1e-12 && math.abs(id(3) - 1) < 1e-12)
    assert(math.abs(id(1)) < 1e-12 && math.abs(id(2)) < 1e-12)
    assert(out.isNullAt(1))
  }
}
