package graft.sources

import java.io.DataInputStream

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types._

import graft.MatrixTable

/** BGEN v1.2 import (reference `io/bgen/LoadBgen.scala` (978 LoC),
  * `StagedBGENReader.scala`; python `import_bgen`, `impex.py:1100`).
  *
  * Supported surface: layout 2, zlib or uncompressed genotype blocks,
  * unphased diploid biallelic probabilities at 8 or 16 bits — the format
  * emitted by standard tooling. Entries: `GT` (argmax hard call) +
  * `GP: array<double>` (AA, AB, BB).
  *
  * Spark shape: one driver-side sequential pass over the variant block
  * headers builds the in-memory offset index (the role of the
  * reference's `.idx2` file — header-only reads, no genotype
  * decompression); the (offset, size) list is then parallelized and each
  * task seeks + decodes only its own blocks. Sample ids come from the
  * in-file sample block or a `.sample` file. */
object Bgen {

  case class VariantMeta(rsid: String, chrom: String, pos: Int,
      alleles: IndexedSeq[String], dataOffset: Long, compressedSize: Int,
      uncompressedSize: Int)

  case class BgenFile(nSamples: Int, compression: Int,
      sampleIds: Option[IndexedSeq[String]],
      variants: IndexedSeq[VariantMeta])

  private def u16(in: DataInputStream): Int = {
    val a = in.read(); val b = in.read(); a | (b << 8)
  }
  private def u32(in: DataInputStream): Long = {
    val a = in.read().toLong; val b = in.read().toLong
    val c = in.read().toLong; val d = in.read().toLong
    a | (b << 8) | (c << 16) | (d << 24)
  }
  private def str(in: DataInputStream, len: Int): String = {
    val buf = new Array[Byte](len); in.readFully(buf)
    new String(buf, "UTF-8")
  }

  /** Offset index with a persisted sidecar (the reference's `.idx2`
    * role): if `<path>.gidx` exists and matches the file length, the
    * variant offsets load from it directly — no sequential pass over the
    * data file. Otherwise the header walk runs once and (when
    * `writeIndex`) persists the sidecar for every later import. */
  def indexed(spark: SparkSession, path: String,
      writeIndex: Boolean = true): BgenFile = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    val idxP = new org.apache.hadoop.fs.Path(path + ".gidx")
    val fileLen = fs.getFileStatus(p).getLen
    if (fs.exists(idxP)) {
      val src = scala.io.Source.fromInputStream(fs.open(idxP))
      try {
        val lines = src.getLines()
        val Array(lenS, nS, compS, nIds) = lines.next().split("\t")
        if (lenS.toLong == fileLen) {
          val ids =
            if (nIds.toInt < 0) None
            else Some(IndexedSeq.fill(nIds.toInt)(lines.next()))
          val variants = lines.map { l =>
            val f = l.split("\t", -1)
            VariantMeta(f(0), f(1), f(2).toInt,
              f(3).split(",", -1).toIndexedSeq,
              f(4).toLong, f(5).toInt, f(6).toInt)
          }.toIndexedSeq
          return BgenFile(nS.toInt, compS.toInt, ids, variants)
        }
      } finally src.close()
    }
    // a reference `.idx2` sidecar shortcuts the first pass to an
    // offset-exact header walk; otherwise big unindexed files distribute
    // the walk (seam-verified; sequential-scan fallback)
    val meta = BgenIdx2.locate(fs, path)
      .flatMap(idx2 => indexFromIdx2(spark, path, idx2, fileLen))
      .getOrElse {
        if (fileLen >= ParallelIndexThreshold)
          indexParallel(spark, path).getOrElse(index(spark, path))
        else index(spark, path)
      }
    if (writeIndex) try {
      val out = new java.io.PrintWriter(fs.create(idxP, true))
      try {
        out.println(Seq(fileLen, meta.nSamples, meta.compression,
          meta.sampleIds.map(_.length).getOrElse(-1)).mkString("\t"))
        meta.sampleIds.foreach(_.foreach(out.println))
        meta.variants.foreach(v => out.println(Seq(v.rsid, v.chrom,
          v.pos, v.alleles.mkString(","), v.dataOffset,
          v.compressedSize, v.uncompressedSize).mkString("\t")))
      } finally out.close()
    } catch { case _: java.io.IOException => () } // read-only dir: skip
    meta
  }

  private case class HeaderMeta(firstVariantOffset: Long, m: Int, n: Int,
      compression: Int, sampleIds: Option[IndexedSeq[String]])

  /** First-pass variant index driven by a reference `.idx2`: the sidecar
    * yields every record's exact start offset, so the header walk
    * distributes over contiguous offset ranges with no resync heuristic
    * and no seam induction — correctness is by construction, the only
    * check is the total count. None if the sidecar disagrees with the
    * file (falls back to the self-reliant paths). */
  private def indexFromIdx2(spark: SparkSession, path: String,
      idx2: String, fileLen: Long): Option[BgenFile] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    try {
      val offsets = BgenIdx2.readOffsets(fs, idx2)
      val raw = fs.open(new org.apache.hadoop.fs.Path(path))
      val h = try headerMeta(path, raw) finally raw.close()
      if (offsets.length != h.m) return None
      val nRanges = math.min(spark.sparkContext.defaultParallelism,
        math.max(1, offsets.length / 16))
      val ranges = BgenIdx2.ranges(offsets, fileLen, nRanges)
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val compL = h.compression
      val variants = spark.sparkContext
        .parallelize(ranges.zipWithIndex.map(_.swap), ranges.length)
        .map { case (i, (from, until)) =>
          val p = new org.apache.hadoop.fs.Path(path)
          val in = p.getFileSystem(conf.value).open(p)
          try (i, walkVariants(in, from, until, until, compL)._1)
          finally in.close()
        }
        .collect().sortBy(_._1).iterator.flatMap(_._2).toIndexedSeq
      if (variants.length == h.m)
        Some(BgenFile(h.n, h.compression, h.sampleIds, variants))
      else None
    } catch { case e: Exception =>
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"ignoring unreadable $idx2: ${e.getMessage}")
      None
    }
  }

  /** Parse the fixed header (+ optional in-file sample block). Tiny
    * driver-side read; leaves `raw` positioned arbitrarily. */
  private def headerMeta(path: String, raw: org.apache.hadoop.fs
      .FSDataInputStream): HeaderMeta = {
    raw.seek(0)
    val in = new DataInputStream(new java.io.BufferedInputStream(raw))
    def skip(n: Long): Unit = { var left = n
      while (left > 0) { val s = in.skip(left); left -= s } }
    val firstVariant = u32(in)
    val lh = u32(in)
    val m = u32(in).toInt
    val n = u32(in).toInt
    val magic = str(in, 4)
    require(magic == "bgen" || magic == "\u0000\u0000\u0000\u0000",
      s"$path: bad BGEN magic")
    skip(lh - 16 - 4) // free data area (flags are the last 4 header bytes)
    val flags = u32(in)
    val compression = (flags & 3).toInt
    val layout = ((flags >> 2) & 0xf).toInt
    val hasSampleIds = (flags >> 31) == 1
    require(layout == 2, s"$path: only BGEN layout 2 supported (got $layout)")
    require(compression <= 1,
      s"$path: only zlib/uncompressed supported (compression=$compression)")
    val sampleIds = if (hasSampleIds) {
      u32(in); val nIds = u32(in).toInt
      require(nIds == n, s"$path: sample block count mismatch")
      Some((0 until nIds).map { _ => str(in, u16(in)) }.toIndexedSeq)
    } else None
    HeaderMeta(firstVariant, m, n, compression, sampleIds)
  }

  /** Walk variant records sequentially from `startOff`, stopping at the
    * first record that STARTS at-or-after `until`. Returns the records
    * and the exact offset where the walk stopped (= the next record's
    * start, or EOF). Header-only reads — genotype payloads are skipped,
    * never decompressed. */
  private def walkVariants(raw: org.apache.hadoop.fs.FSDataInputStream,
      startOff: Long, until: Long, fileLen: Long, compression: Int)
      : (IndexedSeq[VariantMeta], Long) = {
    raw.seek(startOff)
    val in = new DataInputStream(
      new java.io.BufferedInputStream(raw, 1 << 16))
    var pos = startOff
    def r16(): Int = { pos += 2; u16(in) }
    def r32(): Long = { pos += 4; u32(in) }
    def rstr(l: Int): String = { pos += l; str(in, l) }
    def skipN(nb: Long): Unit = { var left = nb
      while (left > 0) { val s = in.skip(left); left -= s }
      pos += nb }
    val out = IndexedSeq.newBuilder[VariantMeta]
    while (pos < until && pos < fileLen) {
      val lid = r16(); rstr(lid)
      val lrs = r16(); val rsid = rstr(lrs)
      val lchr = r16(); val chrom = rstr(lchr)
      val vpos = r32().toInt
      val k = r16()
      val alleles = (0 until k).map { _ => rstr(r32().toInt) }
      val c = r32().toInt
      val d = if (compression == 0) c else r32().toInt
      val dataOff = pos
      val compSize = if (compression == 0) c else c - 4
      skipN(compSize)
      out += VariantMeta(rsid, chrom, vpos, alleles.toIndexedSeq, dataOff,
        compSize, d)
    }
    (out.result(), pos)
  }

  /** Driver-side sequential header + variant-index scan. */
  def index(spark: SparkSession, path: String): BgenFile = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    val fileLen = fs.getFileStatus(p).getLen
    val raw = fs.open(p)
    try {
      val h = headerMeta(path, raw)
      val (variants, _) = walkVariants(raw, h.firstVariantOffset + 4,
        fileLen, fileLen, h.compression)
      require(variants.length == h.m,
        s"$path: walked ${variants.length} variants, header says ${h.m}")
      BgenFile(h.n, h.compression, h.sampleIds, variants)
    } finally raw.close()
  }

  /** Scan forward from `from` for a byte offset that LOOKS like a
    * variant-record boundary: the record parses under tight sanity
    * bounds (K = 2, short id/chrom strings, uncompressed size consistent
    * with the sample count) and so do up to 2 successors inside the
    * probe window. Heuristic by design — `indexParallel`'s stitch step
    * verifies every seam exactly and falls back if one lies. Returns -1
    * when no candidate is found in the window. */
  private def resyncVariant(raw: org.apache.hadoop.fs.FSDataInputStream,
      from: Long, fileLen: Long, n: Int, compression: Int,
      window: Int = 1 << 20): Long = {
    val winLen = math.min(window.toLong, fileLen - from).toInt
    if (winLen <= 0) return -1
    val buf = new Array[Byte](winLen)
    raw.readFully(from, buf, 0, winLen)
    def u16At(o: Int): Int = (buf(o) & 0xff) | ((buf(o + 1) & 0xff) << 8)
    def u32At(o: Int): Long = (buf(o) & 0xffL) |
      ((buf(o + 1) & 0xffL) << 8) | ((buf(o + 2) & 0xffL) << 16) |
      ((buf(o + 3) & 0xffL) << 24)
    val maxD = 16L + 8L * n // layout-2 biallelic block is ~5N+10 bytes
    // returns the buffer-relative end of a valid record at o, else -1
    def validRecord(o: Int): Int = {
      var p = o
      if (p + 2 > winLen) return -1
      val lid = u16At(p); p += 2 + lid
      if (lid > 5000 || p + 2 > winLen) return -1
      val lrs = u16At(p); p += 2 + lrs
      if (lrs > 5000 || p + 2 > winLen) return -1
      val lchr = u16At(p); p += 2 + lchr
      if (lchr == 0 || lchr > 256 || p + 4 > winLen) return -1
      p += 4 // position
      if (p + 2 > winLen) return -1
      if (u16At(p) != 2) return -1 // K: biallelic only
      p += 2
      var a = 0
      while (a < 2) {
        if (p + 4 > winLen) return -1
        val la = u32At(p)
        if (la == 0 || la > 100000) return -1
        p += 4 + la.toInt
        a += 1
      }
      if (p + 4 > winLen) return -1
      val c = u32At(p); p += 4
      val d =
        if (compression == 0) c
        else {
          if (c < 4 || p + 4 > winLen) return -1
          val dd = u32At(p); p += 4
          if (c - 4 > dd + 16384) return -1 // deflate can't expand much
          dd
        }
      if (d > maxD) return -1
      val end = p.toLong + (if (compression == 0) c else c - 4)
      if (end > Int.MaxValue) -1 else end.toInt
    }
    @annotation.tailrec
    def validChain(o: Int, depth: Int): Boolean = {
      val end = validRecord(o)
      if (end < 0) false
      else if (depth == 0) true
      // chain ran off the window or the file: accept what we verified
      else if (end >= winLen || from + end >= fileLen) true
      else validChain(end, depth - 1)
    }
    var o = 0
    while (o < winLen) {
      if (validChain(o, 2)) return from + o
      o += 1
    }
    -1L
  }

  /** File size beyond which `indexed` runs the first-pass walk as a
    * Spark job instead of a single driver thread. */
  val ParallelIndexThreshold: Long = 64L << 20

  /** Distributed first-pass index (the fix for "a 200 GB BGEN's first
    * import walks every block on one driver thread"): the file is cut at
    * `splitBytes` boundaries, each task resyncs to a variant-record
    * boundary (`resyncVariant`) and walks its range, and the driver
    * stitches the pieces. Exactness comes from the stitch, not the
    * heuristic: split 0 starts at the header-declared first record, and
    * every other split's resync offset must equal its left neighbor's
    * walk-end offset — an induction that proves every piece sits on the
    * true record chain. Any seam mismatch (or an unfindable boundary)
    * returns None and the caller falls back to the sequential walk. */
  def indexParallel(spark: SparkSession, path: String,
      splitBytes: Long = 32L << 20): Option[BgenFile] =
    walkSplits(spark, path, splitBytes)(identity)(_.length.toLong).map {
      case (h, pieces) => BgenFile(h.n, h.compression, h.sampleIds,
        pieces.iterator.flatMap(_._3).toIndexedSeq)
    }

  /** The split walk `indexParallel` and `streamPlan` share: cut the file
    * after its header at `splitBytes` boundaries (at most 10000 splits)
    * and, in one task per split, resync to a variant-record boundary
    * (split 0 starts at the header-declared first record) and walk the
    * split's records, keeping `summarize` of them. The driver then
    * requires every seam to equal its left neighbour's walk end, the
    * last walk to end at the file end, and the pieces' `count`s to sum
    * to the header's variant count: an induction that proves every piece
    * sits on the true record chain. Returns the header and each split's
    * (start, end, summary) in file order; None for a one-split file, an
    * unfindable boundary or any mismatch. */
  private def walkSplits[T](spark: SparkSession, path: String,
      splitBytes: Long)(summarize: IndexedSeq[VariantMeta] => T)(
      count: T => Long): Option[(HeaderMeta, Seq[(Long, Long, T)])] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    val fileLen = fs.getFileStatus(p).getLen
    val raw = fs.open(p)
    val h = try headerMeta(path, raw) finally raw.close()
    val start0 = h.firstVariantOffset + 4
    val span = fileLen - start0
    val nSplits = math.min(math.max(1L, span / splitBytes), 10000L).toInt
    if (nSplits <= 1) return None
    val bounds = (0 to nSplits).map(i => start0 + span * i / nSplits)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val nL = h.n; val compL = h.compression
    val pieces = spark.sparkContext
      .parallelize(0 until nSplits, nSplits)
      .map { i =>
        val from = bounds(i); val until = bounds(i + 1)
        val taskP = new org.apache.hadoop.fs.Path(path)
        val in = taskP.getFileSystem(conf.value).open(taskP)
        try {
          val syncOff =
            if (i == 0) from
            else resyncVariant(in, from, fileLen, nL, compL)
          if (syncOff < 0) (i, -1L, -1L, Option.empty[T])
          else {
            val (vs, end) =
              walkVariants(in, syncOff, until, fileLen, compL)
            (i, syncOff, end, Some(summarize(vs)))
          }
        } finally in.close()
      }
      .collect()
      .sortBy(_._1)
    // stitch: every seam must line up exactly with the neighbor's walk
    val seamsOk = pieces.head._2 == start0 &&
      pieces.forall(_._2 >= 0) &&
      pieces.sliding(2).forall {
        case Array(a, b) => b._2 == a._3
        case _ => true
      } &&
      pieces.last._3 == fileLen
    if (seamsOk && pieces.map(pc => count(pc._4.get)).sum == h.m)
      Some((h, pieces.map(pc => (pc._2, pc._3, pc._4.get)).toSeq))
    else None
  }

  /** Decode one uncompressed layout-2 genotype block into per-sample
    * (gtCall, gp) pairs. */
  private[sources] def decodeBlock(bytes: Array[Byte], nSamples: Int)
      : IndexedSeq[Row] = {
    def u16At(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    val k = u16At(4)
    require(k == 2, s"only biallelic BGEN supported (K=$k)")
    val phased = bytes(8 + nSamples) & 0xff
    require(phased == 0, "only unphased BGEN supported")
    val bBits = bytes(9 + nSamples) & 0xff
    require(bBits == 8 || bBits == 16, s"unsupported bit depth $bBits")
    val byteW = bBits / 8
    val denom = (1L << bBits) - 1
    val probOff = 10 + nSamples
    (0 until nSamples).map { j =>
      val ploidyByte = bytes(8 + j) & 0xff
      val missing = (ploidyByte & 0x80) != 0
      if (missing) Row(null, null)
      else {
        val base = probOff + j * 2 * byteW
        def p(i: Int): Double = {
          var v = 0L
          var b = 0
          while (b < byteW) {
            v |= (bytes(base + i * byteW + b) & 0xffL) << (8 * b); b += 1
          }
          v.toDouble / denom
        }
        val aa = p(0); val ab = p(1); val bb = 1.0 - aa - ab
        val gt =
          if (aa >= ab && aa >= bb) 0
          else if (ab >= bb) 1 << 16          // 0/1
          else (1 << 16) | (1 << 1)           // 1/1
        Row(gt, Seq(aa, ab, bb))
      }
    }
  }

  /** Export a MatrixTable (entry fields GT + optional GP) as a BGEN v1.2
    * layout-2 zlib file with 8-bit probabilities and an in-file sample id
    * block (the writer mirror of `read`; reference
    * `io/bgen/ExportBGEN.scala`). Variant data is collected in key order
    * through `toLocalIterator` — one pass, constant driver memory. */
  def write(mt: MatrixTable, path: String): Unit = {
    val spark = mt.spark
    val n = mt.nCols
    val sIdx = mt.colSchema.fieldIndex(mt.colKey.head)
    val samples = mt.colValues.map(_.get(sIdx).toString)
    val entrySchema = mt.rows.schema(MatrixTable.EntriesField).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val hasGp = entrySchema.fieldNames.contains("GP")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    // byte counter BETWEEN the data stream and the buffer: every logical
    // write counts immediately, so per-variant offsets are exact and the
    // `.gidx` sidecar can be emitted at export time — a fresh import
    // never pays the first-pass walk (round-3 advice)
    val buffered = new java.io.BufferedOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(path), true))
    var written = 0L
    val counting = new java.io.OutputStream {
      override def write(b: Int): Unit = { written += 1; buffered.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        written += len; buffered.write(b, off, len)
      }
      override def flush(): Unit = buffered.flush()
      override def close(): Unit = buffered.close()
    }
    val out = new java.io.DataOutputStream(counting)
    val metas = IndexedSeq.newBuilder[VariantMeta]
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = { out.write((v & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 24) & 0xff).toInt) }
    def str16(s: String): Unit = { val b = s.getBytes("UTF-8")
      u16(b.length); out.write(b) }
    val sampleBytes = samples.map(_.getBytes("UTF-8"))
    val sampleBlockLen = 8 + sampleBytes.map(_.length + 2).sum
    val rowCount = mt.rows.count()
    // offset field = bytes from position 4 to the first variant block
    u32(20L + sampleBlockLen)
    u32(20L) // header length
    u32(rowCount)
    u32(n.toLong)
    out.write("bgen".getBytes("UTF-8"))
    u32((1L | (2L << 2) | (1L << 31)) & 0xffffffffL) // zlib, layout 2, ids
    u32(sampleBlockLen.toLong); u32(n.toLong)
    sampleBytes.foreach { b => u16(b.length); out.write(b) }
    val sorted = mt.rows.sort(mt.rowKey.map(col): _*)
      .select(col("contig"), col("position"),
        coalesce(col("rsid"), lit(".")).as("rsid"), col("ref"),
        col("alt"), col(MatrixTable.EntriesField))
    val it = sorted.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val alleles = r.getString(3) +: r.getSeq[String](4)
      require(alleles.length == 2, "BGEN export requires biallelic rows")
      str16("") // variant id
      str16(r.getString(2))
      str16(r.getString(0))
      u32(r.getInt(1).toLong)
      u16(2)
      alleles.foreach { a => val b = a.getBytes("UTF-8")
        u32(b.length.toLong); out.write(b) }
      // uncompressed layout-2 genotype block
      val raw = new java.io.ByteArrayOutputStream()
      def bu32(v: Long): Unit = { raw.write((v & 0xff).toInt)
        raw.write(((v >> 8) & 0xff).toInt)
        raw.write(((v >> 16) & 0xff).toInt)
        raw.write(((v >> 24) & 0xff).toInt) }
      bu32(n.toLong); raw.write(2); raw.write(0) // N, K(u16)
      raw.write(2); raw.write(2) // min/max ploidy
      val gtIdx = entrySchema.fieldIndex("GT")
      val gpIdx = if (hasGp) entrySchema.fieldIndex("GP") else -1
      val ents = r.getSeq[Row](5)
      val probs = ents.map { e =>
        if (e == null || e.isNullAt(gtIdx)) { raw.write(0x82); None }
        else {
          raw.write(2)
          val (aa, ab) =
            if (hasGp && !e.isNullAt(gpIdx)) {
              val gp = e.getSeq[Double](gpIdx)
              (gp(0), gp(1))
            } else {
              // hard call -> degenerate probabilities
              val call = e.getInt(gtIdx)
              val a1 = (call >> 1) & 0x7fff
              val a2 = (call >> 16) & 0x7fff
              val d = (if (a1 > 0) 1 else 0) + (if (a2 > 0) 1 else 0)
              (if (d == 0) 1.0 else 0.0, if (d == 1) 1.0 else 0.0)
            }
          Some((aa, ab))
        }
      }
      raw.write(0); raw.write(8) // unphased, 8-bit
      probs.foreach {
        case None => raw.write(0); raw.write(0)
        case Some((aa, ab)) =>
          // clamp each to the byte range but do NOT force a+b <= 255:
          // round-tripping the source probabilities exactly matters more
          // than repairing non-conformant inputs
          val a = math.max(0, math.min(255, math.round(aa * 255).toInt))
          val b = math.max(0, math.min(255, math.round(ab * 255).toInt))
          raw.write(a); raw.write(b)
      }
      val plain = raw.toByteArray
      val defl = new java.util.zip.Deflater()
      defl.setInput(plain); defl.finish()
      val comp = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!defl.finished())
        comp.write(buf, 0, defl.deflate(buf))
      defl.end()
      val cb = comp.toByteArray
      u32(cb.length + 4L) // C (includes the D field)
      u32(plain.length.toLong) // D
      metas += VariantMeta(r.getString(2), r.getString(0), r.getInt(1),
        alleles.toIndexedSeq, written, cb.length, plain.length)
      out.write(cb)
    }
    out.close()
    // sidecar index, same format `indexed` persists and reads back
    try {
      val idx = new java.io.PrintWriter(
        fs.create(new org.apache.hadoop.fs.Path(path + ".gidx"), true))
      try {
        idx.println(Seq(written, n, 1, samples.length).mkString("\t"))
        samples.foreach(idx.println)
        metas.result().foreach(v => idx.println(Seq(v.rsid, v.chrom,
          v.pos, v.alleles.mkString(","), v.dataOffset,
          v.compressedSize, v.uncompressedSize).mkString("\t")))
      } finally idx.close()
    } catch { case _: java.io.IOException => () }
  }

  /** Decode one variant's genotype payload (seek-read + inflate) into
    * the row the MatrixTable carries. */
  private def decodeOne(stream: org.apache.hadoop.fs.FSDataInputStream,
      v: VariantMeta, compression: Int, n: Int): Row = {
    val comp = new Array[Byte](v.compressedSize)
    stream.readFully(v.dataOffset, comp)
    val raw =
      if (compression == 0) comp
      else {
        val out = new Array[Byte](v.uncompressedSize)
        val inf = new java.util.zip.Inflater()
        inf.setInput(comp)
        var filled = 0
        while (filled < out.length && !inf.finished())
          filled += inf.inflate(out, filled, out.length - filled)
        inf.end()
        out
      }
    Row(v.chrom, v.pos,
      if (v.rsid.isEmpty || v.rsid == ".") null else v.rsid,
      v.alleles.head, v.alleles.tail.toSeq, decodeBlock(raw, n))
  }

  private val RowSchema = StructType(Seq(
    StructField("contig", StringType),
    StructField("position", IntegerType),
    StructField("rsid", StringType),
    StructField("ref", StringType),
    StructField("alt", ArrayType(StringType)),
    StructField(MatrixTable.EntriesField, ArrayType(StructType(Seq(
      StructField("GT", IntegerType),
      StructField("GP", ArrayType(DoubleType))))))))

  private def matrixOf(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[Row],
      samples: IndexedSeq[String]): MatrixTable =
    MatrixTable(
      rows = spark.createDataFrame(rdd, RowSchema),
      rowKey = Seq("contig", "position", "ref", "alt"),
      colValues = samples.map(s => Row(s)),
      colSchema = StructType(Seq(StructField("s", StringType))),
      colKey = Seq("s"))

  /** Seam-verified byte-range plan for the streamed bulk read: split at
    * `splitBytes`, resync each split to a record boundary, walk record
    * HEADERS only, and require every seam to line up exactly and the
    * total count to match the file header — the same induction as
    * `indexParallel`, but the driver retains only O(splits) state (two
    * offsets + a count per split), never the variant list. None on any
    * mismatch. */
  private def streamPlan(spark: SparkSession, path: String,
      splitBytes: Long): Option[(HeaderMeta, Seq[(Long, Long)])] =
    walkSplits(spark, path, splitBytes)(_.length.toLong)(identity).map {
      case (h, pieces) => (h, pieces.map(pc => (pc._1, pc._2)))
    }

  /** File size above which `read` switches to the streamed byte-range
    * plan (no driver-side variant list at all). */
  val StreamReadThreshold: Long = ParallelIndexThreshold

  /** Read a BGEN into a MatrixTable. Sample ids from the in-file block or
    * `samplePath` (.sample file).
    *
    * Files at or above `streamThreshold` read through the seam-verified
    * STREAMED plan: each task re-walks its verified byte range for
    * headers and seek-reads the payloads — the driver never materializes
    * the variant list, so import memory is O(splits) at any file size
    * (a 100 TB-scale concern: the indexed path holds every VariantMeta
    * on the driver). Smaller files (and `writeIndex = true`, which
    * needs the full list to persist the `.gidx` sidecar) take the
    * indexed path. */
  def read(spark: SparkSession, path: String,
      samplePath: Option[String] = None, nPartitions: Int = 0,
      writeIndex: Boolean = false,
      streamThreshold: Long = StreamReadThreshold,
      streamSplitBytes: Long = 32L << 20): MatrixTable = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val fileLen = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(path)).getLen
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // a reference-written `.idx2` sidecar gives exact record offsets from
    // metadata-scale I/O: the read plans straight off it — no first-pass
    // job, no resync heuristic, at any file size
    val fromIdx2 =
      if (writeIndex) None // .gidx persist needs the full VariantMeta list
      else BgenIdx2.locate(fs, path).flatMap { idx2 =>
        try {
          val raw = fs.open(new org.apache.hadoop.fs.Path(path))
          val h = try headerMeta(path, raw) finally raw.close()
          val nRanges =
            if (nPartitions > 0) nPartitions
            else math.min(spark.sparkContext.defaultParallelism,
              math.max(1, h.m / 16))
          // boundary offsets only: O(nRanges) driver state at any size
          val (nKeys, bounds) =
            BgenIdx2.readRangeBounds(fs, idx2, nRanges)
          if (nKeys != h.m) None
          else Some((h, bounds.zipWithIndex.map { case (from, i) =>
            (from, if (i == bounds.length - 1) fileLen else bounds(i + 1))
          }))
        } catch { case e: Exception =>
          org.apache.log4j.Logger.getLogger(getClass)
            .warn(s"ignoring unreadable $idx2: ${e.getMessage}")
          None
        }
      }
    val streamed = fromIdx2.orElse {
      if (fileLen >= streamThreshold && !writeIndex)
        streamPlan(spark, path, streamSplitBytes)
      else None
    }
    streamed match {
      case Some((h, ranges)) =>
        val samples = h.sampleIds
          .orElse(samplePath.map(Gen.readSampleFile(spark, _)))
          .getOrElse((0 until h.n).map(i => s"sample_$i"))
        val n = h.n; val compression = h.compression
        val rdd = spark.sparkContext
          .parallelize(ranges, ranges.length)
          .mapPartitions { it =>
            it.flatMap { case (from, until) =>
              val p = new org.apache.hadoop.fs.Path(path)
              val fsx = p.getFileSystem(conf.value)
              val walkIn = fsx.open(p)
              val vs =
                try walkVariants(walkIn, from, until, until, compression)._1
                finally walkIn.close()
              var stream: org.apache.hadoop.fs.FSDataInputStream = null
              val decoded = vs.iterator.map { v =>
                if (stream == null) stream = fsx.open(p)
                decodeOne(stream, v, compression, n)
              }
              new Iterator[Row] {
                def hasNext: Boolean = {
                  val more = decoded.hasNext
                  if (!more && stream != null) {
                    stream.close(); stream = null
                  }
                  more
                }
                def next(): Row = decoded.next()
              }
            }
          }
        matrixOf(spark, rdd, samples)
      case None =>
        val meta = indexed(spark, path, writeIndex)
        val samples = meta.sampleIds
          .orElse(samplePath.map(Gen.readSampleFile(spark, _)))
          .getOrElse((0 until meta.nSamples).map(i => s"sample_$i"))
        val n = meta.nSamples
        val compression = meta.compression
        val parts = if (nPartitions > 0) nPartitions
          else math.min(spark.sparkContext.defaultParallelism,
            math.max(1, meta.variants.length / 16))
        val rdd = spark.sparkContext
          .parallelize(meta.variants, parts)
          .mapPartitions { it =>
            var stream: org.apache.hadoop.fs.FSDataInputStream = null
            val iter = it.map { v =>
              if (stream == null) {
                val p = new org.apache.hadoop.fs.Path(path)
                stream = p.getFileSystem(conf.value).open(p)
              }
              decodeOne(stream, v, compression, n)
            }
            new Iterator[Row] {
              def hasNext: Boolean = {
                val h = iter.hasNext
                if (!h && stream != null) { stream.close(); stream = null }
                h
              }
              def next(): Row = iter.next()
            }
          }
        matrixOf(spark, rdd, samples)
    }
  }
}
