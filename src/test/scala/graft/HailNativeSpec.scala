package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.HailNative

class HailNativeSpec extends SparkSpec {

  private val Ht = Fixtures.path("sample.ht")
  private val Mt = Fixtures.path("sample.mt")

  test("reads a native .ht: schema, values, missingness, globals") {
    val t = HailNative.readTable(spark, Ht)
    assert(t.key == Seq("id"))
    assert(t.globals == Map("pop" -> "EUR", "version" -> 42))
    val rows = t.df.orderBy("id").collect()
    assert(rows.length == 5)
    val r1 = rows(0)
    assert(r1.getInt(0) == 1 && r1.getString(1) == "alpha" &&
      r1.getDouble(2) == 1.5)
    assert(r1.getSeq[String](3) == Seq("x", "y"))
    assert(r1.getStruct(4) == Row(10, true))
    assert(r1.getDouble(5) == 2.25)
    val r2 = rows(1)
    assert(r2.getString(1) == "beta" && r2.getSeq[String](3).isEmpty)
    assert(r2.getStruct(4) == Row(null, false))
    assert(r2.isNullAt(5))
    val r3 = rows(2)
    assert(r3.getSeq[String](3) == Seq("z", null, "w"))
    assert(r3.getStruct(4) == Row(7, true) && r3.getDouble(5) == -1.0)
    val r5 = rows(4)
    assert(r5.getInt(0) == 5 && r5.getSeq[String](3) == Seq(null))
    assert(r5.getStruct(4) == Row(128, true) && r5.isNullAt(5))
    // two part files -> two input partitions
    assert(t.df.rdd.getNumPartitions == 2)
  }

  test("reads a native .mt: row/entry zip, cols, globals") {
    val mt = HailNative.readMatrixTable(spark, Mt)
    assert(mt.nCols == 2)
    assert(mt.colKey == Seq("s"))
    assert(mt.colValues.map(_.getString(0)) == Seq("S1", "S2"))
    assert(mt.globals == Map("note" -> "fixture"))
    val rows = mt.rows.orderBy(col("locus")("position")).collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getStruct(0) == Row("chr1", 100) && r0.getString(1) == "A")
    val ents0 = r0.getSeq[Row](2)
    assert(ents0 == Seq(Row(0, 10), Row(1, null)))
    val r1 = rows(1)
    assert(r1.getSeq[Row](2) == Seq(Row(null, 5), Row(2, 20)))
    // entry-space op over the imported matrix works end to end
    val nCalled = mt.rows
      .select(size(filter(mt.entries, e => e("gt").isNotNull)).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(nCalled == Seq(2, 1, 2))
  }

  test("reads a legacy-encoding .ht: LEB128 + fixed-length framing") {
    // v1-style file: LEB128 wrapper (fixed-width ints become varints),
    // legacy EArray/EBinary lengths, EInt32/EInt64 scalars (negative
    // values included — two's-complement varints), 4-byte block frames
    val t = HailNative.readTable(spark,
      Fixtures.path("sample_legacy.ht"))
    assert(t.globals == Map("tag" -> "legacy"))
    val rows = t.df.orderBy("id").collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getInt(0) == -7 && r0.getString(1) == "neg" &&
      r0.getDouble(2) == -0.5)
    assert(r0.getSeq[String](3) == Seq("a", null))
    assert(r0.getLong(4) == -1234567890123L)
    val r1 = rows(1)
    assert(r1.getInt(0) == 300 && r1.getSeq[String](3).isEmpty)
    assert(r1.getLong(4) == (1L << 40))
  }

  test("zstd and lz4 block codecs decode the documented frame layout") {
    import HailNative._
    val payload = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
    def leInt(v: Int): Array[Byte] =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte,
        (v >> 24).toByte)
    def varint(n0: Int): Array[Byte] = {
      var n = n0
      val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var more = true
      while (more) {
        val x = n & 0x7f
        n = n >>> 7
        if (n != 0) b += (x | 0x80).toByte else { b += x.toByte }
        more = n != 0
      }
      b.toArray
    }
    // zstd: outer StreamBlock2(varint len) framing a
    // [4B decompLen][zstd payload] block
    val zcomp = com.github.luben.zstd.Zstd.compress(payload)
    val zblock = leInt(payload.length) ++ zcomp
    val zfile = varint(zblock.length) ++ zblock
    val zin = buildInBuf(Blocking(65536, ZstdBlock(65536, StreamBlock2)),
      new java.io.ByteArrayInputStream(zfile))
    assert(zin.readBytes(payload.length).toSeq == payload.toSeq)
    // lz4: same shape with an lz4-compressed block
    val lz4c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val lcomp = lz4c.compress(payload)
    val lblock = leInt(payload.length) ++ lcomp
    val lfile = varint(lblock.length) ++ lblock
    val lin = buildInBuf(Blocking(65536, Lz4Block(65536, StreamBlock2)),
      new java.io.ByteArrayInputStream(lfile))
    assert(lin.readBytes(payload.length).toSeq == payload.toSeq)
  }

  test("type parsers cover the documented grammar") {
    import HailNative._
    assert(parseVType("Array[Struct{a:Int32,b:String}]") ==
      VArray(VStruct(IndexedSeq("a" -> VInt32, "b" -> VString))))
    assert(parseVType("Dict[String,Set[Float64]]") ==
      VDict(VString, VSet(VFloat64)))
    assert(parseVType("Interval[Locus(GRCh37)]") ==
      VInterval(VLocus("GRCh37")))
    assert(parseVType("Tuple[Int64,Call]") == VTuple(IndexedSeq(VInt64,
      VCall)))
    assert(parseVType("Struct{`weird name!`:Boolean}") ==
      VStruct(IndexedSeq("weird name!" -> VBool)))
    assert(parseEType("+EBaseStruct{x:EVarint,y:+EArray2[EBinary2]}") ==
      EStru(IndexedSeq("x" -> EVar(false),
        "y" -> EArr(EBin(false, true), true, true)), true))
    assert(parseEType("EArray[+EInt32]") ==
      EArr(EI32(true), false, false))
    assert(parseEType("ENDArrayColumnMajor[+EFloat64,2]") ==
      ENd(EF64(true), 2, false))
  }

  test("file_version outside the tested range is refused loudly") {
    import java.nio.file.Files
    def htWithVersion(rep: Any): String = {
      val src = new java.io.File(Fixtures.path("sample.ht"))
      val dst = Files.createTempDirectory("graft_ver").resolve("v.ht")
      org.apache.commons.io.FileUtils.copyDirectory(src, dst.toFile)
      val metaPath = dst.resolve("metadata.json.gz")
      val in = new java.util.zip.GZIPInputStream(
        Files.newInputStream(metaPath))
      val txt = new String(in.readAllBytes(), "UTF-8"); in.close()
      val patched = rep match {
        case i: Int => txt.replaceAll(
          "\"file_version\":\\s*\\d+", s""""file_version": $i""")
        case _ => txt.replaceAll(
          "\"file_version\":\\s*\\d+,", "") // drop the field entirely
      }
      val out = new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(metaPath))
      out.write(patched.getBytes("UTF-8")); out.close()
      dst.toString
    }
    // 1.6.0 (back-compat range) loads; the committed legacy fixture
    // already proves 1.6-era encodings decode
    assert(HailNative.readTable(spark,
      htWithVersion((1 << 16) | (6 << 8))).df.count() == 5)
    // 1.9.0 (newer minor) and 2.0.0 (newer major) refuse with the
    // actionable message; a missing field refuses as a 0.1-era file
    for (rep <- Seq((1 << 16) | (9 << 8), 2 << 16)) {
      val e = intercept[IllegalArgumentException] {
        HailNative.readTable(spark, htWithVersion(rep))
      }
      assert(e.getMessage.contains("outside the tested range"))
    }
    val e2 = intercept[IllegalArgumentException] {
      HailNative.readTable(spark, htWithVersion("missing"))
    }
    assert(e2.getMessage.contains("no file_version"))
  }
}
