package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Reader for the reference engine's BGEN `.idx2` index sidecar
  * (`io/bgen/BgenSettings.scala getIndexSpec`, `io/index/IndexReader
  * .scala`, `LoadBgen.scala:277`), so a dataset indexed once with the
  * reference's `index_bgen` imports here without any re-index pass.
  *
  * Layout: either a DIRECTORY (`x.bgen.idx2/{index, metadata.json.gz}`)
  * or, for newer writers, a single FILE whose metadata JSON sits at the
  * tail behind a trailing little-endian offset long. The `index` payload
  * is a B-tree of nodes, each flushed as its own buffer frame at a
  * recorded byte offset: a tag byte (1 = internal, 0 = leaf) followed by
  * one encoded row in the engine's native value encoding — the same
  * encoding `HailNative` already decodes, so this reader is just the two
  * node schemas plus `HailIdx`'s root-to-leaf walk. Leaf entries carry
  * (key{locus{contig, position}, alleles}, offset) where `offset` is the
  * byte position of the variant's record in the `.bgen` — exact split
  * points for a distributed read, no resync heuristic needed.
  *
  * Buffer/encoded specs follow the index version
  * (`BgenSettings.specFromVersion`): >= 1.3 blocked-zstd with varint
  * ints; >= 1.2 LEB128 zstd; older LEB128 lz4(HC). */
object BgenIdx2 {

  import HailNative._

  /** The `.idx2` path for a `.bgen`, if present in either layout. */
  def locate(fs: FileSystem, bgenPath: String): Option[String] = {
    val p = new HPath(bgenPath + ".idx2")
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isDirectory) {
      if (fs.exists(new HPath(p, "index")) &&
        fs.exists(new HPath(p, "metadata.json.gz"))) Some(p.toString)
      else None
    } else Some(p.toString)
  }

  /** Metadata from either layout (the file form's is inline, see
    * `HailIdx.readInlineMetadata`), and the node payload's path. */
  private def readMeta(fs: FileSystem, idx2: String)
      : (HailIdx.IdxMeta, String) =
    if (fs.getFileStatus(new HPath(idx2)).isDirectory)
      (HailIdx.idxMeta(readJsonGz(fs.getConf, s"$idx2/metadata.json.gz"),
        idx2), s"$idx2/index")
    else (HailIdx.readMeta(fs, idx2), idx2)

  // ---- node schemas (BgenSettings.getIndexSpec, version-dependent) -------

  private def keyE(v13: Boolean): String = {
    val bin = if (v13) "EBinary2" else "EBinary"
    val i32 = if (v13) "EVarint" else "EInt32"
    val arr = if (v13) "EArray2" else "EArray"
    s"EBaseStruct{locus:+EBaseStruct{contig:+$bin,position:+$i32}," +
      s"alleles:$arr[$bin]}"
  }
  private val KeyV =
    "Struct{locus:Struct{contig:String,position:Int32},alleles:Array[String]}"

  private def leafTypes(v13: Boolean): (ETyp, VType) = {
    val i64 = if (v13) "EVarint" else "EInt64"
    val arr = if (v13) "EArray2" else "EArray"
    (parseEType(
      s"+EBaseStruct{first_idx:+$i64,keys:+$arr[+EBaseStruct{" +
        s"key:${keyE(v13)},offset:+$i64,annotation:+EBaseStruct{}}]}"),
      parseVType(
        s"Struct{first_idx:Int64,keys:Array[Struct{key:$KeyV," +
          "offset:Int64,annotation:Struct{}}]}"))
  }

  private def internalTypes(v13: Boolean): (ETyp, VType) = {
    val i64 = if (v13) "EVarint" else "EInt64"
    val arr = if (v13) "EArray2" else "EArray"
    (parseEType(
      s"+EBaseStruct{children:+$arr[+EBaseStruct{" +
        s"index_file_offset:+$i64,first_idx:+$i64,first_key:${keyE(v13)}," +
        s"first_record_offset:+$i64,first_annotation:+EBaseStruct{}}]}"),
      parseVType(
        s"Struct{children:Array[Struct{index_file_offset:Int64," +
          s"first_idx:Int64,first_key:$KeyV,first_record_offset:Int64," +
          "first_annotation:Struct{}}]}"))
  }

  private def bufSpec(fileVersion: Int): BufSpec = {
    val (maj, min) = ((fileVersion >> 16) & 0xff, (fileVersion >> 8) & 0xff)
    if (maj > 1 || (maj == 1 && min >= 3))
      Blocking(65536, ZstdBlock(65536, StreamBlock2))
    else if (maj == 1 && min >= 2)
      Leb128(Blocking(65536, ZstdBlock(65536, StreamBlock)))
    else
      Leb128(Blocking(32768, Lz4Block(32768, StreamBlock)))
  }

  /** Every leaf entry's `.bgen` record-start offset, ascending. Each node
    * sits in its own flushed frame, so a seek + fresh buffer per node
    * decodes it independently; the walk touches each node exactly once
    * (metadata-scale I/O — no genotype bytes). O(nKeys) driver memory —
    * for planning a huge read use `readRangeBounds`, which keeps
    * O(nRanges). */
  def readOffsets(fs: FileSystem, idx2: String): IndexedSeq[Long] = {
    val out = IndexedSeq.newBuilder[Long]
    val (meta, payload) = readMeta(fs, idx2)
    val n = walkLeaves(fs, meta, payload)((_, off) => out += off)
    val offsets = out.result()
    require(offsets.length.toLong == n,
      s"$idx2: walked ${offsets.length} keys, metadata says $n")
    offsets.sorted
  }

  /** Range-boundary offsets only — every ceil(nKeys/nRanges)-th key's
    * offset — with O(nRanges) driver state at any index size (the
    * 100 TB-import concern: a 10⁸-variant index must not materialize
    * 10⁸ longs on the driver just to cut ~10⁴ splits). Returns
    * (nKeys, ascending bounds); bounds.head is the first record. */
  def readRangeBounds(fs: FileSystem, idx2: String, nRanges: Int)
      : (Long, IndexedSeq[Long]) = {
    val (meta0, payload0) = readMeta(fs, idx2)
    val stride = math.max(1L, (meta0.nKeys + nRanges - 1) / nRanges)
    val out = IndexedSeq.newBuilder[Long]
    var i = 0L
    val n = walkLeaves(fs, meta0, payload0) { (_, off) =>
      if (i % stride == 0) out += off
      i += 1
    }
    require(i == n, s"$idx2: walked $i keys, metadata says $n")
    (n, out.result().sorted)
  }

  /** Root-to-leaf walk invoking `onKey(first_idx + k, offset)` per leaf
    * entry in index order; returns metadata nKeys. */
  private def walkLeaves(fs: FileSystem, meta: HailIdx.IdxMeta,
      payload: String)(onKey: (Long, Long) => Unit): Long = {
    val v13 = {
      val (maj, min) = ((meta.fileVersion >> 16) & 0xff,
        (meta.fileVersion >> 8) & 0xff)
      maj > 1 || (maj == 1 && min >= 3)
    }
    HailIdx.walk(fs, payload, meta.rootOffset, bufSpec(meta.fileVersion),
      leafTypes(v13), internalTypes(v13)) { (i, k) => onKey(i, k.getLong(1)) }
    meta.nKeys
  }

  /** Contiguous byte ranges covering all variant records, cut at record
    * starts into ~`nRanges` pieces — drop-in for the streamed read's
    * seam-verified plan, but exact by construction. */
  def ranges(offsets: IndexedSeq[Long], fileLen: Long, nRanges: Int)
      : Seq[(Long, Long)] = {
    val n = math.max(1, math.min(nRanges, offsets.length))
    val cuts = (0 until n).map(i =>
      offsets((offsets.length.toLong * i / n).toInt))
    cuts.zipWithIndex.map { case (from, i) =>
      (from, if (i == n - 1) fileLen else cuts(i + 1))
    }
  }
}
