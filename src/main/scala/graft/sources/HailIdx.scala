package graft.sources

import java.io.OutputStream

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.Row

import HailNative._
import HailNativeWrite.{encode, eTypeString, vTypeString, OutBuf}

/** Reference-format `.idx` B-tree sidecar writer + reader — the index
  * the reference engine's `query_table`/interval reads seek with
  * (reference `io/index/IndexWriter.scala` StagedIndexWriter,
  * `io/index/IndexReader.scala`; node layouts `LeafNodeBuilder.typ` /
  * `InternalNodeBuilder.typ`; file layout = node frames then inline
  * JSON metadata then a trailing little-endian metadata offset, the
  * same single-file form `BgenIdx2` already decodes for BGEN).
  *
  * One index file per part: leaf entries are (key, part-file offset,
  * annotation) appended in key order; every `branchingFactor` entries
  * flush as a leaf node frame, with internal levels growing upward
  * exactly like the reference's builder stack, root written last.
  * Offsets use the blocked-stream form `(compressedPos << 16) |
  * uncompressedOffsetInBlock` (reference `OutputBuffers.scala:157`) so
  * a reader seeks the compressed stream, re-inits the block buffer,
  * and skips to the row. Node frames use the reference's
  * `BufferSpec.default` (blocked zstd, `BufferSpecs.scala:26`). */
object HailIdx {

  /** Index file version written (reference `IndexWriter.version` =
    * SemanticVersion(1,3,0)). */
  val FileVersion: Int = (1 << 16) | (3 << 8)

  val Branching = 4096

  /** `BufferSpec.default`: Blocking(64K, Zstd(64K, StreamBlock2)). */
  val BufSpecJson: String =
    """{"name":"BlockingBufferSpec","blockSize":65536,""" +
      """"child":{"name":"ZstdBlockBufferSpec","blockSize":65536,""" +
      """"child":{"name":"StreamBlockBufferSpec2"}}}"""
  private[sources] val IdxBufSpec: BufSpec =
    Blocking(65536, ZstdBlock(65536, StreamBlock2))

  /** Empty-struct annotation (tables — `IndexSpec.emptyAnnotation`). */
  val EmptyAnn: (ETyp, VType) = (EStru(IndexedSeq.empty, required = true),
    VStruct(IndexedSeq.empty))

  /** Matrix annotation: the aligned entries-part offset
    * (`IndexSpec.defaultAnnotation` — Struct{entries_offset}). */
  val EntriesAnn: (ETyp, VType) = (
    EStru(IndexedSeq("entries_offset" -> EVar(false)), required = true),
    VStruct(IndexedSeq("entries_offset" -> VInt64)))

  /** Leaf node types for a key/annotation pair
    * (`LeafNodeBuilder.typ`). */
  def leafTypes(keyE: ETyp, keyV: VType, annE: ETyp, annV: VType)
      : (ETyp, VType) = (
    EStru(IndexedSeq(
      "first_idx" -> EVar(true),
      "keys" -> EArr(EStru(IndexedSeq(
        "key" -> keyE,
        "offset" -> EVar(true),
        "annotation" -> annE), required = true),
        required = true, varintLen = true)), required = true),
    VStruct(IndexedSeq(
      "first_idx" -> VInt64,
      "keys" -> VArray(VStruct(IndexedSeq(
        "key" -> keyV,
        "offset" -> VInt64,
        "annotation" -> annV))))))

  /** Internal node types (`InternalNodeBuilder.typ`). */
  def internalTypes(keyE: ETyp, keyV: VType, annE: ETyp, annV: VType)
      : (ETyp, VType) = (
    EStru(IndexedSeq(
      "children" -> EArr(EStru(IndexedSeq(
        "index_file_offset" -> EVar(true),
        "first_idx" -> EVar(true),
        "first_key" -> keyE,
        "first_record_offset" -> EVar(true),
        "first_annotation" -> annE), required = true),
        required = true, varintLen = true)), required = true),
    VStruct(IndexedSeq(
      "children" -> VArray(VStruct(IndexedSeq(
        "index_file_offset" -> VInt64,
        "first_idx" -> VInt64,
        "first_key" -> keyV,
        "first_record_offset" -> VInt64,
        "first_annotation" -> annV))))))

  /** The `IndexSpec2` JSON fragment for an RVD metadata's
    * `_indexSpec` field. */
  def indexSpecJson(relPath: String, keyE: ETyp, keyV: VType,
      annE: ETyp, annV: VType, offsetField: Option[String]): String = {
    def esc(s: String) = HailNativeWrite.jsonEscape(s)
    def codec(et: ETyp, vt: VType): String =
      s"""{"name":"TypedCodecSpec","_eType":"${esc(eTypeString(et))}",""" +
        s""""_vType":"${esc(vTypeString(vt))}",""" +
        s""""_bufferSpec":$BufSpecJson}"""
    val (lE, lV) = leafTypes(keyE, keyV, annE, annV)
    val (iE, iV) = internalTypes(keyE, keyV, annE, annV)
    s"""{"name":"IndexSpec2","_relPath":"${esc(relPath)}",""" +
      s""""_leafCodec":${codec(lE, lV)},""" +
      s""""_internalNodeCodec":${codec(iE, iV)},""" +
      s""""_keyType":"${esc(vTypeString(keyV))}",""" +
      s""""_annotationType":"${esc(vTypeString(annV))}"""" +
      offsetField.map(f => s""","_offsetField":"${esc(f)}"""")
        .getOrElse("") + "}"
  }

  private final case class Child(off: Long, firstIdx: Long, firstKey: Row,
      firstRecordOffset: Long, firstAnnotation: Row)

  /** One part file's index writer. Append keys IN ORDER with their
    * part-file offsets ((pos<<16)|blockOff form from
    * `OutBuf.indexOffset`), then `close()` — which writes the root,
    * the inline metadata JSON, and the trailing metadata offset, and
    * closes the stream. Not thread-safe (one per part task). */
  final class Writer(raw: OutputStream, keyE: ETyp, keyV: VType,
      annE: ETyp, annV: VType, branching: Int = Branching) {
    require(branching > 1)
    private val counting = new java.io.FilterOutputStream(raw) {
      var count = 0L
      override def write(b: Int): Unit = { raw.write(b); count += 1 }
      override def write(b: Array[Byte], o: Int, l: Int): Unit = {
        raw.write(b, o, l); count += l
      }
    }
    private val ob = new OutBuf(65536, counting, varintFraming = true,
      codec = "zstd")
    private val (leafE, _) = leafTypes(keyE, keyV, annE, annV)
    private val (intE, _) = internalTypes(keyE, keyV, annE, annV)

    private val leaf =
      scala.collection.mutable.ArrayBuffer.empty[(Row, Long, Row)]
    private var leafFirstIdx = 0L
    private val levels = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Child])
    private var elementIdx = 0L
    private var closed = false

    def appendRow(key: Row, offset: Long, annotation: Row): Unit = {
      if (leaf.length == branching) writeLeafNode()
      if (leaf.isEmpty) leafFirstIdx = elementIdx
      leaf += ((key, offset, annotation))
      elementIdx += 1
    }

    private def writeLeafNode(): Unit = {
      val idxOff = counting.count
      ob.writeByte(0)
      encode(leafE, Row(leafFirstIdx,
        leaf.map { case (k, o, a) => Row(k, o, a) }.toSeq), ob)
      ob.flushFrame()
      if (levels(0).length == branching) writeInternalNode(0, isRoot = false)
      val (k0, o0, a0) = leaf.head
      levels(0) += Child(idxOff, leafFirstIdx, k0, o0, a0)
      leaf.clear()
    }

    private def writeInternalNode(level: Int, isRoot: Boolean): Unit = {
      val idxOff = counting.count
      ob.writeByte(1)
      encode(intE, Row(levels(level).map(c => Row(c.off, c.firstIdx,
        c.firstKey, c.firstRecordOffset, c.firstAnnotation)).toSeq), ob)
      ob.flushFrame()
      if (!isRoot) {
        val next = level + 1
        if (levels.length == next)
          levels += scala.collection.mutable.ArrayBuffer.empty[Child]
        else if (levels(next).length == branching)
          writeInternalNode(next, isRoot = false)
        val c0 = levels(level).head
        levels(next) += Child(idxOff, c0.firstIdx, c0.firstKey,
          c0.firstRecordOffset, c0.firstAnnotation)
      }
      levels(level).clear()
    }

    /** Flush the tree bottom-up, write the root last, then the inline
      * metadata + trailing offset (reference `StagedIndexWriter
      * .close`). Returns nKeys. */
    def close(): Long = {
      require(!closed, "index writer already closed")
      closed = true
      if (leaf.nonEmpty) writeLeafNode()
      var level = 0
      while (level < levels.length - 1) {
        if (levels(level).nonEmpty) writeInternalNode(level, isRoot = false)
        level += 1
      }
      val rootOffset = counting.count
      writeInternalNode(levels.length - 1, isRoot = true)
      val height = levels.length + 1
      val mdOff = counting.count
      val md =
        s"""{"fileVersion":$FileVersion,"branchingFactor":$branching,""" +
          s""""height":$height,""" +
          s""""keyType":"${HailNativeWrite.jsonEscape(
            vTypeString(keyV))}",""" +
          s""""annotationType":"${HailNativeWrite.jsonEscape(
            vTypeString(annV))}",""" +
          s""""nKeys":$elementIdx,"indexPath":"",""" +
          s""""rootOffset":$rootOffset,"attributes":{}}"""
      counting.write(md.getBytes("UTF-8"))
      var i = 0
      while (i < 8) {
        counting.write(((mdOff >> (8 * i)) & 0xff).toInt); i += 1
      }
      counting.close()
      elementIdx
    }
  }

  // ---- validation / point-read side ---------------------------------------

  final case class IdxMeta(fileVersion: Int, branchingFactor: Int,
      height: Int, nKeys: Long, rootOffset: Long)

  /** The metadata fields of an index's JSON (inline or legacy). */
  private[sources] def idxMeta(jv: org.json4s.JValue, path: String)
      : IdxMeta = {
    def jLong(f: String): Long = (jv \ f) match {
      case org.json4s.JInt(v) => v.toLong
      case org.json4s.JLong(v) => v
      case x => throw new IllegalArgumentException(s"$path metadata $f: $x")
    }
    IdxMeta(jLong("fileVersion").toInt, jLong("branchingFactor").toInt,
      jLong("height").toInt, jLong("nKeys"), jLong("rootOffset"))
  }

  /** The inline metadata JSON of a single-file index: a trailing 8-byte
    * little-endian long points at the JSON tail (reference `IndexReader
    * .readInlineMetadataRaw`). */
  private[sources] def readInlineMetadata(fs: FileSystem, path: String)
      : org.json4s.JValue = {
    val p = new HPath(path)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      in.seek(len - 8)
      val b = new Array[Byte](8)
      in.readFully(b)
      val mdOff = (0 until 8).map(i => (b(i) & 0xffL) << (8 * i)).sum
      val jsonBytes = new Array[Byte]((len - mdOff - 8).toInt)
      in.seek(mdOff)
      in.readFully(jsonBytes)
      org.json4s.jackson.JsonMethods.parse(new String(jsonBytes, "UTF-8"))
    } finally in.close()
  }

  def readMeta(fs: FileSystem, path: String): IdxMeta =
    idxMeta(readInlineMetadata(fs, path), path)

  /** Root-to-leaf walk: (key, offset, annotation) per entry, in index
    * order — the validation surface for round-trip specs and the
    * point-read primitive for range queries over exported parts. */
  def readEntries(fs: FileSystem, path: String, keyE: ETyp, keyV: VType,
      annE: ETyp, annV: VType): IndexedSeq[(Row, Long, Row)] =
    entries(fs, path, readMeta(fs, path), IdxBufSpec,
      leafTypes(keyE, keyV, annE, annV),
      internalTypes(keyE, keyV, annE, annV))

  private def entries(fs: FileSystem, path: String, meta: IdxMeta,
      spec: BufSpec, leaf: (ETyp, VType), internal: (ETyp, VType))
      : IndexedSeq[(Row, Long, Row)] = {
    val out = IndexedSeq.newBuilder[(Row, Long, Row)]
    walk(fs, path, meta.rootOffset, spec, leaf, internal) { (_, k) =>
      out += ((k.getStruct(0), k.getLong(1), k.getStruct(2)))
    }
    val entries = out.result()
    require(entries.length.toLong == meta.nKeys,
      s"$path: walked ${entries.length} keys, metadata says ${meta.nKeys}")
    entries
  }

  /** Root-to-leaf walk of the node file `path` from `rootOffset`, calling
    * `onEntry(index, entry)` for every leaf entry (a row of key, offset,
    * annotation) in index order. Each node sits in its own flushed
    * frame, so a seek plus a fresh buffer decodes it alone; the walk
    * reads each node once. */
  private[sources] def walk(fs: FileSystem, path: String, rootOffset: Long,
      spec: BufSpec, leaf: (ETyp, VType), internal: (ETyp, VType))(
      onEntry: (Long, Row) => Unit): Unit = {
    val in = fs.open(new HPath(path))
    // the per-node buffers must not close the shared stream
    val unclosable = new java.io.InputStream {
      def read(): Int = in.read()
      override def read(b: Array[Byte], o: Int, l: Int): Int =
        in.read(b, o, l)
      override def close(): Unit = ()
    }
    try {
      def nodeAt(off: Long): Unit = {
        in.seek(off)
        val ib = buildInBuf(spec, unclosable)
        ib.readByte() match {
          case 1 =>
            val row = decode(internal._1, internal._2, ib).asInstanceOf[Row]
            row.getSeq[Row](0).foreach(c => nodeAt(c.getLong(0)))
          case 0 =>
            val row = decode(leaf._1, leaf._2, ib).asInstanceOf[Row]
            val firstIdx = row.getLong(0)
            row.getSeq[Row](1).zipWithIndex.foreach { case (k, j) =>
              onEntry(firstIdx + j, k)
            }
          case t => throw new IllegalArgumentException(
            s"$path: bad node tag $t at offset $off")
        }
      }
      nodeAt(rootOffset)
    } finally in.close()
  }

  // ---- legacy (pre-0.2.139) directory-layout indexes -----------------------

  /** Legacy index node codec (reference `compatibility.IndexSpec
    * .baseSpec`): LEB128(Blocking(32K, LZ4HC(32K, StreamBlock))). The
    * LZ4 block frame is identical for HC and fast compressors on the
    * read side. */
  private[graft] val LegacyIdxBufSpec: BufSpec =
    Leb128(Blocking(32768, Lz4Block(32768, StreamBlock)))

  /** Legacy node layouts (reference `compatibility.IndexSpec`):
    * first_idx/offset fields are `EInt64Required` (varint on the wire
    * via the LEB128 wrapper) and arrays are
    * `EArrayLegacyFullWidthIntegerLength` (ditto). */
  private def legacyLeafTypes(keyE: ETyp, keyV: VType, annE: ETyp,
      annV: VType): (ETyp, VType) = (
    EStru(IndexedSeq(
      "first_idx" -> EI64(true),
      "keys" -> EArr(EStru(IndexedSeq(
        "key" -> keyE,
        "offset" -> EI64(true),
        "annotation" -> annE), required = true),
        required = true, varintLen = false)), required = true),
    leafTypes(keyE, keyV, annE, annV)._2)

  private def legacyInternalTypes(keyE: ETyp, keyV: VType, annE: ETyp,
      annV: VType): (ETyp, VType) = (
    EStru(IndexedSeq(
      "children" -> EArr(EStru(IndexedSeq(
        "index_file_offset" -> EI64(true),
        "first_idx" -> EI64(true),
        "first_key" -> keyE,
        "first_record_offset" -> EI64(true),
        "first_annotation" -> annE), required = true),
        required = true, varintLen = false)), required = true),
    internalTypes(keyE, keyV, annE, annV)._2)

  /** Legacy `.idx` is a DIRECTORY: `metadata.json.gz` (same field
    * names as the inline form, plus `indexPath` naming the node file)
    * beside the node file `index` (reference `IndexReader
    * .readMetadataRaw` directory branch). Returns the metadata plus
    * the key/annotation legacy type strings for `parsePackedType`. */
  def readMetaLegacy(fs: FileSystem, dir: String)
      : (IdxMeta, String, String, String) = {
    val in = new java.util.zip.GZIPInputStream(
      fs.open(new HPath(s"$dir/metadata.json.gz")))
    val jv =
      try org.json4s.jackson.JsonMethods.parse(
        new String(in.readAllBytes(), "UTF-8"))
      finally in.close()
    def jStr(f: String): String = (jv \ f) match {
      case org.json4s.JString(s) => s
      case x => throw new IllegalArgumentException(s"legacy idx $f: $x")
    }
    (idxMeta(jv, dir), jStr("keyType"), jStr("annotationType"),
      jStr("indexPath"))
  }

  /** Decode every entry of a reference-written legacy `.idx`
    * directory. Key/annotation ETyps come from `parsePackedType` over
    * the metadata's own type strings. */
  def readEntriesLegacy(fs: FileSystem, dir: String)
      : IndexedSeq[(Row, Long, Row)] = {
    val (meta, keyT, annT, indexPath) = readMetaLegacy(fs, dir)
    val (keyV, keyE) = parsePackedType(keyT)
    val (annV, annE) = parsePackedType(annT)
    entries(fs, s"$dir/$indexPath", meta, LegacyIdxBufSpec,
      legacyLeafTypes(keyE, keyV, annE, annV),
      legacyInternalTypes(keyE, keyV, annE, annV))
  }
}
