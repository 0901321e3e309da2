package graft

import java.io.File

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.Row

import graft.sources.{HailIdx, HailNative, HailNativeWrite}
import graft.sources.HailNative._

/** `.idx` B-tree sidecar validation, both directions:
  *
  *  1. DECODE: `HailIdx.readEntriesLegacy` decodes every
  *     reference-written index in the 1.1.0 backward-compat corpus
  *     (`backward_compatability/1.1.0/{table,matrix_table}/ * /index`,
  *     written by hail 0.2.16's `io/index/IndexWriter.scala`) and the
  *     decoded keys + seekable offsets are checked against the rows
  *     component itself: seeking the part file at `offset >> 16`,
  *     skipping `offset & 0xffff` decompressed bytes and decoding one
  *     row must reproduce exactly the sequentially-read row.
  *  2. ROUND-TRIP: indexes written by graft's own native export are
  *     decoded back through the export's OWN spec strings
  *     (`_indexSpec._leafCodec._eType` → `parseEType`, the same path a
  *     reference reader takes) and every leaf offset is pinned to the
  *     actual row position in the part file the same way.
  *
  * An offset that seeks to the wrong place, a mis-encoded leaf, a bad
  * internal-node child pointer or a wrong metadata field all fail
  * loudly here. */
class HailIdxSpec extends SparkSpec {

  private val Base =
    "/root/reference/hail/hail/test/resources/backward_compatability/1.1.0"

  private def fs: FileSystem = new HPath("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Sequentially decode a part file's rows with an explicit codec,
    * recording each row's seekable `(pos << 16) | off`-form offset is
    * not needed here — just the rows in order. */
  private def readPartRows(path: String, spec: BufSpec, e: ETyp,
      v: VType): IndexedSeq[Row] = {
    val in = fs.open(new HPath(path))
    try {
      val ib = buildInBuf(spec, new java.io.InputStream {
        def read(): Int = in.read()
        override def read(b: Array[Byte], o: Int, l: Int): Int =
          in.read(b, o, l)
        override def close(): Unit = ()
      })
      val out = IndexedSeq.newBuilder[Row]
      while (ib.readByte() == 1)
        out += decode(e, v, ib).asInstanceOf[Row]
      out.result()
    } finally in.close()
  }

  /** Seek-decode ONE row at a `(compressedPos << 16) | blockOff`
    * offset — the exact read a reference indexed scan performs. */
  private def rowAtOffset(path: String, offset: Long, spec: BufSpec,
      e: ETyp, v: VType): Row = {
    val in = fs.open(new HPath(path))
    try {
      in.seek(offset >>> 16)
      val ib = buildInBuf(spec, new java.io.InputStream {
        def read(): Int = in.read()
        override def read(b: Array[Byte], o: Int, l: Int): Int =
          in.read(b, o, l)
        override def close(): Unit = ()
      })
      val skip = (offset & 0xffff).toInt
      if (skip > 0) ib.readBytes(skip)
      assert(ib.readByte() == 1, s"$path@$offset: no row indicator")
      decode(e, v, ib).asInstanceOf[Row]
    } finally in.close()
  }

  private def gzJson(path: String): org.json4s.JValue = {
    val in = new java.util.zip.GZIPInputStream(fs.open(new HPath(path)))
    try org.json4s.jackson.JsonMethods.parse(
      new String(in.readAllBytes(), "UTF-8"))
    finally in.close()
  }

  private def jStr(jv: org.json4s.JValue): String = jv match {
    case org.json4s.JString(s) => s
    case x => fail(s"expected string, got $x")
  }

  /** Validate one legacy (1.1.0) indexed RVD dir: decode each part's
    * `.idx`, check keys match the rows read from the part, and pin
    * every offset by seek-decoding. Returns (parts, totalKeys). */
  private def checkLegacyRvd(rvdDir: String): (Int, Long) = {
    val md = gzJson(s"$rvdDir/metadata.json.gz")
    assert(jStr(md \ "name") == "IndexedRVDSpec")
    val rvdType = jStr(md \ "rvdType")
    // "RVDType{key:[[k1,k2]],row:Struct{...}}"
    val keyNames = rvdType.substring(
      rvdType.indexOf("key:[[") + 6, rvdType.indexOf("]]"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val rowTypeStr = rvdType.substring(
      rvdType.indexOf(",row:") + 5, rvdType.length - 1)
    val (rowV, rowE) = parsePackedType(rowTypeStr)
    val rowFields = rowV.asInstanceOf[VStruct].fields.map(_._1)
    val keyIdx = keyNames.map(rowFields.indexOf(_))
    assert(keyIdx.forall(_ >= 0), s"key $keyNames not in $rowFields")
    // each 1.1.0 fixture was written under a DIFFERENT codec era —
    // take the part codec from the metadata like the reader does
    val partSpec: BufSpec = parseBufferSpec(md \ "codecSpec" \ "child")
    val relPath = jStr(md \ "indexSpec" \ "relPath")
    val partFiles = (md \ "partFiles") match {
      case org.json4s.JArray(a) => a.map(jStr)
      case x => fail(s"partFiles: $x")
    }
    var total = 0L
    partFiles.foreach { part =>
      val idxDir = s"$rvdDir/$relPath/$part.idx"
      val entries = HailIdx.readEntriesLegacy(fs, idxDir)
      val rows = readPartRows(s"$rvdDir/parts/$part", partSpec,
        rowE, rowV)
      assert(entries.length == rows.length,
        s"$idxDir: ${entries.length} index keys vs ${rows.length} rows")
      entries.zip(rows).zipWithIndex.foreach {
        case (((key, off, _), row), i) =>
          val want = Row.fromSeq(keyIdx.map(row.get))
          assert(key == want, s"$idxDir[$i]: key $key != row key $want")
          val seeked = rowAtOffset(s"$rvdDir/parts/$part", off,
            partSpec, rowE, rowV)
          assert(seeked == row,
            s"$idxDir[$i]: offset $off decoded $seeked != $row")
      }
      total += entries.length
    }
    (partFiles.length, total)
  }

  // the fixture directories are not committed: a host without them fails
  // here with the missing path named, not on a null directory listing
  private def legacyFixtures(sub: String, ext: String): Seq[File] = {
    val dir = new File(s"$Base/$sub")
    assert(dir.isDirectory, s"legacy 1.1.0 fixture directory $dir is missing")
    dir.listFiles().toSeq.filter(_.getName.endsWith(ext)).sortBy(_.getName)
  }

  test("legacy 1.1.0 table .idx fixtures decode; keys and offsets " +
    "match the rows component") {
    val dirs = legacyFixtures("table", ".ht")
    assert(dirs.nonEmpty, "no 1.1.0 table fixtures found")
    var checkedParts = 0
    var checkedKeys = 0L
    dirs.foreach { ht =>
      val (p, k) = checkLegacyRvd(s"${ht.getPath}/rows")
      checkedParts += p; checkedKeys += k
    }
    assert(checkedParts > 0 && checkedKeys > 0)
  }

  test("legacy 1.1.0 matrix_table .idx fixtures decode; keys, row " +
    "offsets AND entries_offset annotations pin to both components") {
    val dirs = legacyFixtures("matrix_table", ".hmt")
    assert(dirs.nonEmpty, "no 1.1.0 matrix_table fixtures found")
    dirs.foreach { hmt =>
      val rvdDir = s"${hmt.getPath}/rows/rows"
      checkLegacyRvd(rvdDir)
      // the annotation side: entries_offset must seek-decode the
      // aligned entries part (same part file names, same codec)
      val md = gzJson(s"$rvdDir/metadata.json.gz")
      val relPath = jStr(md \ "indexSpec" \ "relPath")
      val annT = jStr(md \ "indexSpec" \ "annotationType")
      assert(annT.contains("entries_offset"), annT)
      val partFiles = (md \ "partFiles") match {
        case org.json4s.JArray(a) => a.map(jStr)
        case x => fail(s"partFiles: $x")
      }
      val entMd = gzJson(s"${hmt.getPath}/entries/rows/metadata.json.gz")
      val entType = jStr(entMd \ "rvdType")
      val entRowStr = entType.substring(
        entType.indexOf(",row:") + 5, entType.length - 1)
      val (entV, entE) = parsePackedType(entRowStr)
      val partSpec: BufSpec =
        parseBufferSpec(entMd \ "codecSpec" \ "child")
      partFiles.foreach { part =>
        val entries =
          HailIdx.readEntriesLegacy(fs, s"$rvdDir/$relPath/$part.idx")
        val entRows = readPartRows(
          s"${hmt.getPath}/entries/rows/parts/$part", partSpec,
          entE, entV)
        assert(entries.length == entRows.length)
        entries.zip(entRows).foreach { case ((_, _, ann), want) =>
          // annotation = Struct{entries_offset} (single field)
          val eo = ann.getLong(0)
          val seeked = rowAtOffset(
            s"${hmt.getPath}/entries/rows/parts/$part", eo, partSpec,
            entE, entV)
          assert(seeked == want,
            s"$part: entries_offset $eo decoded wrong entries row")
        }
      }
    }
  }

  // ---- round-trip over graft's own export ---------------------------------

  /** Decode a graft-written IndexedRVDSpec2 dir THROUGH its own spec
    * strings and pin every index offset to the part rows. */
  private def checkWrittenRvd(rvdDir: String, idxDir: String,
      expectKeys: Seq[String]): Long = {
    val md = gzJson(s"$rvdDir/metadata.json.gz")
    assert(jStr(md \ "name") == "IndexedRVDSpec2",
      s"$rvdDir: not indexed")
    val rowE = parseEType(jStr(md \ "_codecSpec" \ "_eType"))
    val rowV = parseVType(jStr(md \ "_codecSpec" \ "_vType"))
    val leafE = parseEType(jStr(md \ "_indexSpec" \ "_leafCodec" \
      "_eType")).asInstanceOf[EStru]
    // key/annotation etypes extracted from the file's own leaf spec —
    // the closed loop a reference reader would follow
    val keysElt = leafE.fields.find(_._1 == "keys").get._2
      .asInstanceOf[EArr].elt.asInstanceOf[EStru]
    val keyE = keysElt.fields.find(_._1 == "key").get._2
    val annE = keysElt.fields.find(_._1 == "annotation").get._2
    val keyV = parseVType(jStr(md \ "_indexSpec" \ "_keyType"))
    val annV = parseVType(jStr(md \ "_indexSpec" \ "_annotationType"))
    assert(keyV.asInstanceOf[VStruct].fields.map(_._1) == expectKeys)
    val partSpec = HailNativeWrite.WriteBufSpec
    val rowFields = rowV.asInstanceOf[VStruct].fields.map(_._1)
    val keyIdx = expectKeys.map(rowFields.indexOf(_))
    val partFiles = (md \ "_partFiles") match {
      case org.json4s.JArray(a) => a.map(jStr)
      case x => fail(s"partFiles: $x")
    }
    var total = 0L
    partFiles.foreach { part =>
      val idxPath = s"$idxDir/$part.idx"
      val meta = HailIdx.readMeta(fs, idxPath)
      assert(meta.fileVersion == HailIdx.FileVersion)
      assert(meta.branchingFactor == HailIdx.Branching)
      val entries = HailIdx.readEntries(fs, idxPath, keyE, keyV,
        annE, annV)
      assert(entries.length.toLong == meta.nKeys)
      val rows = readPartRows(s"$rvdDir/parts/$part", partSpec,
        rowE, rowV)
      assert(entries.length == rows.length,
        s"$idxPath: ${entries.length} keys vs ${rows.length} rows")
      entries.zip(rows).zipWithIndex.foreach {
        case (((key, off, _), row), i) =>
          val want = Row.fromSeq(keyIdx.map(row.get))
          assert(key == want, s"$idxPath[$i]: $key != $want")
          val seeked = rowAtOffset(s"$rvdDir/parts/$part", off,
            partSpec, rowE, rowV)
          assert(seeked == row,
            s"$idxPath[$i]: offset $off seeked to the wrong row")
      }
      total += entries.length
    }
    total
  }

  test("graft table export writes .idx sidecars whose offsets pin " +
    "every row; multi-part, multi-level-safe") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_orderdate", col("o_orderdate").cast("string"))
    val t = Table(df, Seq("o_orderkey"), Map.empty)
    val out = java.nio.file.Files.createTempDirectory("graft_idxrt")
    val path = s"$out/orders.ht"
    HailNativeWrite.writeTable(t, path, nPartitions = Some(3))
    val n = checkWrittenRvd(s"$path/rows", s"$path/index",
      Seq("o_orderkey"))
    assert(n == df.count())
    // and the export still reads back whole through the native reader
    assert(HailNative.readTable(spark, path).df.count() == n)
  }

  test("graft matrix export .idx: row offsets AND entries_offset " +
    "annotations both pin; entries spec carries _offsetField") {
    val mt = graft.sources.Vcf.read(spark,
      Fixtures.path("oracle_sample.vcf"))
    val out = java.nio.file.Files.createTempDirectory("graft_idxmt")
    val path = s"$out/sample.mt"
    HailNativeWrite.writeMatrixTable(mt, path)
    checkWrittenRvd(s"$path/rows/rows", s"$path/index",
      Seq("contig", "position", "ref", "alt"))
    // entries side: the same .idx seeks the entries parts via the
    // annotation, and the entries metadata names the offset field
    val entMd = gzJson(s"$path/entries/rows/metadata.json.gz")
    assert(jStr(entMd \ "_indexSpec" \ "_offsetField") ==
      "entries_offset")
    val entE = parseEType(jStr(entMd \ "_codecSpec" \ "_eType"))
    val entV = parseVType(jStr(entMd \ "_codecSpec" \ "_vType"))
    val rowMd = gzJson(s"$path/rows/rows/metadata.json.gz")
    val leafE = parseEType(jStr(rowMd \ "_indexSpec" \ "_leafCodec" \
      "_eType")).asInstanceOf[EStru]
    val keysElt = leafE.fields.find(_._1 == "keys").get._2
      .asInstanceOf[EArr].elt.asInstanceOf[EStru]
    val keyE = keysElt.fields.find(_._1 == "key").get._2
    val annE = keysElt.fields.find(_._1 == "annotation").get._2
    val keyV = parseVType(jStr(rowMd \ "_indexSpec" \ "_keyType"))
    val annV = parseVType(jStr(rowMd \ "_indexSpec" \
      "_annotationType"))
    val partFiles = (rowMd \ "_partFiles") match {
      case org.json4s.JArray(a) => a.map(jStr)
      case x => fail(s"partFiles: $x")
    }
    var checked = 0
    partFiles.foreach { part =>
      val entries = HailIdx.readEntries(fs, s"$path/index/$part.idx",
        keyE, keyV, annE, annV)
      val entRows = readPartRows(s"$path/entries/rows/parts/$part",
        HailNativeWrite.WriteBufSpec, entE, entV)
      assert(entries.length == entRows.length)
      entries.zip(entRows).foreach { case ((_, _, ann), want) =>
        val eo = ann.getLong(0)
        val seeked = rowAtOffset(s"$path/entries/rows/parts/$part",
          eo, HailNativeWrite.WriteBufSpec, entE, entV)
        assert(seeked == want)
        checked += 1
      }
    }
    assert(checked > 0)
  }

  test("writer round-trips multi-level trees (branching 4) and an " +
    "empty part is never indexed") {
    // branching=4 over 100 keys forces height >= 3 (leaves, one
    // internal level, root) — exercises the builder stack the 4096
    // default never reaches at test scale
    val tmp = java.nio.file.Files.createTempFile("graft_idx", ".idx")
    val os = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(tmp))
    val keyE = EStru(IndexedSeq("k" -> EI64(false)), required = true)
    val keyV = VStruct(IndexedSeq("k" -> VInt64))
    val w = new HailIdx.Writer(os, keyE, keyV,
      HailIdx.EmptyAnn._1, HailIdx.EmptyAnn._2, branching = 4)
    val offs = (0 until 100).map(i => (i.toLong << 16) | (i % 7))
    offs.zipWithIndex.foreach { case (off, i) =>
      w.appendRow(Row(i.toLong), off, Row())
    }
    assert(w.close() == 100L)
    val meta = HailIdx.readMeta(fs, tmp.toString)
    assert(meta.nKeys == 100L)
    assert(meta.branchingFactor == 4)
    assert(meta.height >= 3, s"height ${meta.height}")
    val entries = HailIdx.readEntries(fs, tmp.toString, keyE, keyV,
      HailIdx.EmptyAnn._1, HailIdx.EmptyAnn._2)
    assert(entries.map(_._2) == offs)
    assert(entries.map(_._1.getLong(0)) == (0L until 100L))
  }
}
