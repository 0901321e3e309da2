package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{MatrixTable, Table}

/** Read-only importer for the reference engine's native on-disk format
  * (`.ht` tables / `.mt` matrix tables), so existing datasets migrate
  * without an export step.
  *
  * Format (all re-implemented from the reference's public sources, no
  * code shared): a component directory with `metadata.json.gz`
  * (`expr/ir/AbstractTableSpec.scala` TableSpecParameters,
  * `AbstractMatrixTableSpec.scala`), per-component RVD dirs whose
  * `metadata.json.gz` carries an `OrderedRVDSpec2`/`IndexedRVDSpec2`
  * (`rvd/AbstractRVDSpec.scala:578,446`) with a `TypedCodecSpec`
  * (`io/TypedCodecSpec.scala`): a parsable encoded-type string
  * (`types/encoded/EType.scala:441` eTypeParser), the virtual row type,
  * and a buffer-spec chain (`io/BufferSpecs.scala`). Part files are a
  * byte-framed stream of encoded rows ([0x01 row]* 0x00,
  * `sparkextras/implicits/RichContextRDDRegionValue.scala:51`).
  * Value encodings (`types/encoded` package sources): structs prefix packed
  * missing bits for optional fields; arrays a varint (EArray2) or
  * fixed-int (legacy) length plus packed missing bits; binary/string a
  * length-prefixed byte run; ints fixed little-endian or varint
  * (EVarint); ndarrays shape longs then column-major elements. Buffers:
  * optionally LEB128-varint primitives, block-framed with
  * fixed-int (v1) or varint (v2) block lengths, each block optionally
  * zstd / lz4 compressed with a 4-byte little-endian uncompressed-length
  * prefix (`io/InputBuffers.scala:486-663`).
  *
  * Spark shape: the driver reads only metadata; each part file decodes
  * in its own task (one RDD partition per part file), so the read
  * scales with partition count like any other source. Virtual types map to Spark SQL types (Locus/Interval →
  * structs, Set → sorted array, Dict → array<struct<key,value>>, Call →
  * int), which is exactly the layout the rest of the engine uses. */
object HailNative {

  // ---- virtual types ------------------------------------------------------

  sealed trait VType extends Serializable
  case object VBool extends VType
  case object VInt32 extends VType
  case object VInt64 extends VType
  case object VFloat32 extends VType
  case object VFloat64 extends VType
  case object VString extends VType
  case object VBinary extends VType
  case object VCall extends VType
  case object VVoid extends VType
  final case class VLocus(rg: String) extends VType
  final case class VArray(elt: VType) extends VType
  final case class VSet(elt: VType) extends VType
  final case class VDict(k: VType, v: VType) extends VType
  final case class VInterval(point: VType) extends VType
  final case class VStruct(fields: IndexedSeq[(String, VType)]) extends VType
  final case class VTuple(ts: IndexedSeq[VType]) extends VType
  final case class VNDArray(elt: VType, nDims: Int) extends VType

  /** Spark SQL schema for a decoded virtual type. */
  def sparkType(v: VType): DataType = v match {
    case VBool => BooleanType
    case VInt32 | VCall => IntegerType
    case VInt64 => LongType
    case VFloat32 => FloatType
    case VFloat64 => DoubleType
    case VString => StringType
    case VBinary => BinaryType
    case VVoid => NullType
    case VLocus(_) => StructType(Seq(
      StructField("contig", StringType), StructField("position", IntegerType)))
    case VArray(e) => ArrayType(sparkType(e))
    case VSet(e) => ArrayType(sparkType(e))
    case VDict(k, vv) => ArrayType(StructType(Seq(
      StructField("key", sparkType(k)), StructField("value", sparkType(vv)))))
    case VInterval(p) => StructType(Seq(
      StructField("start", sparkType(p)), StructField("end", sparkType(p)),
      StructField("includesStart", BooleanType),
      StructField("includesEnd", BooleanType)))
    case VStruct(fs) =>
      StructType(fs.map { case (n, t) => StructField(n, sparkType(t)) })
    case VTuple(ts) => StructType(ts.zipWithIndex.map { case (t, i) =>
      StructField(s"_$i", sparkType(t)) })
    case VNDArray(e, _) => StructType(Seq(
      StructField("shape", ArrayType(LongType)),
      StructField("data", ArrayType(sparkType(e)))))
  }

  // ---- encoded types ------------------------------------------------------

  sealed trait ETyp extends Serializable { def required: Boolean }
  final case class EBool(required: Boolean) extends ETyp
  final case class EI32(required: Boolean) extends ETyp
  final case class EI64(required: Boolean) extends ETyp
  final case class EF32(required: Boolean) extends ETyp
  final case class EF64(required: Boolean) extends ETyp
  final case class EVar(required: Boolean) extends ETyp
  final case class EBin(required: Boolean, varintLen: Boolean) extends ETyp
  final case class EArr(elt: ETyp, required: Boolean, varintLen: Boolean)
      extends ETyp
  final case class EStru(fields: IndexedSeq[(String, ETyp)],
      required: Boolean) extends ETyp
  final case class ENd(elt: ETyp, nDims: Int, required: Boolean) extends ETyp

  // ---- parsable-string tokenizer (shared by both type grammars) ----------

  private final class Tok(s: String) {
    private var i = 0
    private def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def punct(c: Char): Unit = {
      skipWs()
      require(i < s.length && s(i) == c, s"expected '$c' at $i in $s")
      i += 1
    }
    def tryPunct(c: Char): Boolean = {
      skipWs()
      if (i < s.length && s(i) == c) { i += 1; true } else false
    }
    /** identifier, or a backtick-escaped one (reference prettyIdentifier). */
    def ident(): String = {
      skipWs()
      if (s(i) == '`') {
        i += 1
        val sb = new StringBuilder
        while (s(i) != '`') {
          if (s(i) == '\\' && i + 1 < s.length) { sb += s(i + 1); i += 2 }
          else { sb += s(i); i += 1 }
        }
        i += 1
        sb.result()
      } else {
        val start = i
        while (i < s.length &&
          (s(i).isLetterOrDigit || s(i) == '_')) i += 1
        require(i > start, s"expected identifier at $start in $s")
        s.substring(start, i)
      }
    }
    def int(): Int = {
      skipWs()
      val start = i
      while (i < s.length && (s(i).isDigit || s(i) == '-')) i += 1
      s.substring(start, i).toInt
    }
    /** everything until the matching close paren (for Locus(GRCh38)). */
    def parenContent(): String = {
      punct('(')
      val start = i
      while (s(i) != ')') i += 1
      val r = s.substring(start, i)
      i += 1
      r
    }
  }

  /** Parse the reference's compact virtual-type string
    * (`types/virtual` _toPretty forms). */
  def parseVType(s: String): VType = parseVType(new Tok(s))

  private def parseVType(t: Tok): VType = {
    t.tryPunct('+') // physical requiredness marker; virtual value identical
    t.ident() match {
      case "Boolean" => VBool
      case "Int32" => VInt32
      case "Int64" => VInt64
      case "Float32" => VFloat32
      case "Float64" => VFloat64
      case "String" => VString
      case "Binary" => VBinary
      case "Call" => VCall
      case "Void" => VVoid
      case "Locus" => VLocus(t.parenContent())
      case "Array" =>
        t.punct('['); val e = parseVType(t); t.punct(']'); VArray(e)
      case "Set" =>
        t.punct('['); val e = parseVType(t); t.punct(']'); VSet(e)
      case "Dict" =>
        t.punct('['); val k = parseVType(t); t.punct(',')
        val v = parseVType(t); t.punct(']'); VDict(k, v)
      case "Interval" =>
        t.punct('['); val p = parseVType(t); t.punct(']'); VInterval(p)
      case "Struct" =>
        t.punct('{')
        val fs = IndexedSeq.newBuilder[(String, VType)]
        if (!t.tryPunct('}')) {
          var more = true
          while (more) {
            val n = t.ident(); t.punct(':'); fs += n -> parseVType(t)
            more = t.tryPunct(',')
          }
          t.punct('}')
        }
        VStruct(fs.result())
      case "Tuple" =>
        t.punct('[')
        val ts = IndexedSeq.newBuilder[VType]
        if (!t.tryPunct(']')) {
          var more = true
          while (more) { ts += parseVType(t); more = t.tryPunct(',') }
          t.punct(']')
        }
        VTuple(ts.result())
      case "NDArray" =>
        t.punct('['); val e = parseVType(t); t.punct(',')
        val n = t.int(); t.punct(']'); VNDArray(e, n)
      case x => throw new UnsupportedOperationException(
        s"unsupported virtual type: $x")
    }
  }

  /** Parse a requiredness-annotated virtual-type string into the pair
    * (virtual type, canonical pack-codec encoded type). Pre-1.2 files
    * (`PackCodecSpec`, hail <= 0.2.20) carry no explicit encoded type:
    * the wire format is derived structurally from the `+`-annotated
    * virtual type — fixed-width primitives, full-width-integer lengths
    * for binary/array, Call as int32, Locus as
    * {contig:+String,position:+Int32}, Interval as
    * {start,end,includesStart:+Boolean,includesEnd:+Boolean}, Dict as
    * an array of required {key,value} structs (reference 0.2.16-era
    * `rvd/RVDSpec.scala` + `io/RowStore.scala` PackDecoder; the same
    * derivation the modern writer spells out explicitly, cf. the 1.2.0
    * fixtures' `_eType`). */
  def parsePackedType(s: String): (VType, ETyp) =
    parsePackedType(new Tok(s))

  private def parsePackedType(t: Tok): (VType, ETyp) = {
    val req = t.tryPunct('+')
    def legacyBin = EBin(req, varintLen = false)
    t.ident() match {
      case "Boolean" => (VBool, EBool(req))
      case "Int32" => (VInt32, EI32(req))
      case "Int64" => (VInt64, EI64(req))
      case "Float32" => (VFloat32, EF32(req))
      case "Float64" => (VFloat64, EF64(req))
      case "String" => (VString, legacyBin)
      case "Binary" => (VBinary, legacyBin)
      case "Call" => (VCall, EI32(req))
      case "Locus" =>
        (VLocus(t.parenContent()), EStru(IndexedSeq(
          "contig" -> EBin(required = true, varintLen = false),
          "position" -> EI32(required = true)), req))
      case "Array" =>
        t.punct('['); val (v, e) = parsePackedType(t); t.punct(']')
        (VArray(v), EArr(e, req, varintLen = false))
      case "Set" =>
        t.punct('['); val (v, e) = parsePackedType(t); t.punct(']')
        (VSet(v), EArr(e, req, varintLen = false))
      case "Dict" =>
        t.punct('['); val (kv, ke) = parsePackedType(t); t.punct(',')
        val (vv, ve) = parsePackedType(t); t.punct(']')
        (VDict(kv, vv), EArr(EStru(IndexedSeq("key" -> ke, "value" -> ve),
          required = true), req, varintLen = false))
      case "Interval" =>
        t.punct('['); val (pv, pe) = parsePackedType(t); t.punct(']')
        (VInterval(pv), EStru(IndexedSeq("start" -> pe, "end" -> pe,
          "includesStart" -> EBool(required = true),
          "includesEnd" -> EBool(required = true)), req))
      case "Struct" =>
        t.punct('{')
        val vs = IndexedSeq.newBuilder[(String, VType)]
        val es = IndexedSeq.newBuilder[(String, ETyp)]
        if (!t.tryPunct('}')) {
          var more = true
          while (more) {
            val n = t.ident(); t.punct(':')
            val (v, e) = parsePackedType(t)
            vs += n -> v; es += n -> e
            more = t.tryPunct(',')
          }
          t.punct('}')
        }
        (VStruct(vs.result()), EStru(es.result(), req))
      case "Tuple" =>
        t.punct('[')
        val vs = IndexedSeq.newBuilder[VType]
        val es = IndexedSeq.newBuilder[(String, ETyp)]
        if (!t.tryPunct(']')) {
          var more = true
          var i = 0
          while (more) {
            val (v, e) = parsePackedType(t)
            vs += v; es += i.toString -> e; i += 1
            more = t.tryPunct(',')
          }
          t.punct(']')
        }
        (VTuple(vs.result()), EStru(es.result(), req))
      case x => throw new UnsupportedOperationException(
        s"unsupported pre-1.2 packed type: $x")
    }
  }

  /** Parse the encoded-type string (`EType.scala:441` eTypeParser
    * grammar; `EArray`/`EBinary` without the `2` suffix are the legacy
    * full-width-integer-length variants). */
  def parseEType(s: String): ETyp = parseEType(new Tok(s))

  private def parseEType(t: Tok): ETyp = {
    val req = t.tryPunct('+')
    t.ident() match {
      case "EBoolean" => EBool(req)
      case "EInt32" => EI32(req)
      case "EInt64" => EI64(req)
      case "EFloat32" => EF32(req)
      case "EFloat64" => EF64(req)
      case "EVarint" => EVar(req)
      case "EBinary" | "EBinaryLegacyFullWidthIntegerLength" =>
        EBin(req, varintLen = false)
      case "EBinary2" => EBin(req, varintLen = true)
      case "EArray" | "EArrayLegacyFullWidthIntegerLength" =>
        t.punct('['); val e = parseEType(t); t.punct(']')
        EArr(e, req, varintLen = false)
      case "EArray2" =>
        t.punct('['); val e = parseEType(t); t.punct(']')
        EArr(e, req, varintLen = true)
      case "EBaseStruct" =>
        t.punct('{')
        val fs = IndexedSeq.newBuilder[(String, ETyp)]
        if (!t.tryPunct('}')) {
          var more = true
          while (more) {
            val n = t.ident(); t.punct(':'); fs += n -> parseEType(t)
            more = t.tryPunct(',')
          }
          t.punct('}')
        }
        EStru(fs.result(), req)
      case "ENDArrayColumnMajor" =>
        t.punct('['); val e = parseEType(t); t.punct(',')
        val n = t.int(); t.punct(']'); ENd(e, n, req)
      case x => throw new UnsupportedOperationException(
        s"unsupported encoded type: $x")
    }
  }

  // ---- buffer / block specs ----------------------------------------------

  sealed trait BufSpec extends Serializable
  final case class Leb128(child: BufSpec) extends BufSpec
  final case class Blocking(blockSize: Int, child: BlockSpec) extends BufSpec
  case object StreamBuf extends BufSpec

  sealed trait BlockSpec extends Serializable
  case object StreamBlock extends BlockSpec // 4-byte LE block length
  case object StreamBlock2 extends BlockSpec // varint block length
  final case class ZstdBlock(blockSize: Int, child: BlockSpec)
      extends BlockSpec
  final case class ZstdSizedBlock(blockSize: Int, child: BlockSpec)
      extends BlockSpec
  final case class Lz4Block(blockSize: Int, child: BlockSpec)
      extends BlockSpec // LZ4 / LZ4HC / LZ4Fast share one frame layout
  final case class Lz4SizedBlock(blockSize: Int, child: BlockSpec)
      extends BlockSpec

  def parseBufferSpec(jv: JValue): BufSpec = {
    def str(j: JValue, f: String): String =
      (j \ f).asInstanceOf[JString].s
    def int(j: JValue, f: String): Int = (j \ f) match {
      case JInt(v) => v.toInt
      case JLong(v) => v.toInt
      case x => throw new IllegalArgumentException(s"bad int field $f: $x")
    }
    def block(j: JValue): BlockSpec = str(j, "name") match {
      case "StreamBlockBufferSpec" => StreamBlock
      case "StreamBlockBufferSpec2" => StreamBlock2
      case "ZstdBlockBufferSpec" =>
        ZstdBlock(int(j, "blockSize"), block(j \ "child"))
      case "ZstdSizedBasedBlockBufferSpec" =>
        ZstdSizedBlock(int(j, "blockSize"), block(j \ "child"))
      case "LZ4BlockBufferSpec" | "LZ4HCBlockBufferSpec" |
          "LZ4FastBlockBufferSpec" =>
        Lz4Block(int(j, "blockSize"), block(j \ "child"))
      case "LZ4SizeBasedBlockBufferSpec" =>
        Lz4SizedBlock(int(j, "blockSize"), block(j \ "child"))
      case x => throw new UnsupportedOperationException(s"block spec $x")
    }
    str(jv, "name") match {
      case "LEB128BufferSpec" => Leb128(parseBufferSpec(jv \ "child"))
      case "BlockingBufferSpec" =>
        Blocking(int(jv, "blockSize"), block(jv \ "child"))
      case "StreamBufferSpec" => StreamBuf
      case x => throw new UnsupportedOperationException(s"buffer spec $x")
    }
  }

  // ---- input buffers ------------------------------------------------------

  private trait BlockReader {
    /** fill `buf`, return length or -1 at EOF */
    def readBlock(buf: Array[Byte]): Int
    def close(): Unit
  }

  private def readVarintFrom(read: () => Int): Int = {
    var b = read()
    if (b < 0) throw new EOFException()
    var x = b & 0x7f
    var shift = 7
    while ((b & 0x80) != 0 && shift <= 35) {
      b = read()
      if (b < 0) throw new EOFException()
      x |= (b & 0x7f) << shift
      shift += 7
    }
    x
  }

  private final class StreamBlockReader(in: InputStream, varint: Boolean)
      extends BlockReader {
    private val lenBuf = new Array[Byte](4)
    private def readFully(b: Array[Byte], n: Int): Boolean = {
      var off = 0
      while (off < n) {
        val r = in.read(b, off, n - off)
        if (r < 0) return false
        off += r
      }
      true
    }
    def readBlock(buf: Array[Byte]): Int = {
      val len =
        if (varint) {
          val first = in.read()
          if (first < 0) return -1
          var b = first
          var x = b & 0x7f
          var shift = 7
          while ((b & 0x80) != 0 && shift <= 35) {
            b = in.read()
            if (b < 0) throw new EOFException()
            x |= (b & 0x7f) << shift
            shift += 7
          }
          x
        } else {
          if (!readFully(lenBuf, 4)) return -1
          (lenBuf(0) & 0xff) | ((lenBuf(1) & 0xff) << 8) |
            ((lenBuf(2) & 0xff) << 16) | ((lenBuf(3) & 0xff) << 24)
        }
      require(len >= 0 && len <= buf.length, s"bad block length $len")
      if (!readFully(buf, len)) throw new EOFException()
      len
    }
    def close(): Unit = in.close()
  }

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private final class ZstdBlockReader(blockSize: Int, child: BlockReader)
      extends BlockReader {
    private val comp = new Array[Byte](4 +
      com.github.luben.zstd.Zstd.compressBound(blockSize.toLong).toInt)
    def readBlock(buf: Array[Byte]): Int = {
      val blockLen = child.readBlock(comp)
      if (blockLen == -1) -1
      else {
        val decompLen = leInt(comp, 0)
        com.github.luben.zstd.Zstd.decompressByteArray(
          buf, 0, decompLen, comp, 4, blockLen - 4)
        decompLen
      }
    }
    def close(): Unit = child.close()
  }

  /** size-based variant: even length prefix = stored raw, odd = (len>>1)
    * zstd-compressed (`InputBuffers.scala:637` ZstdSizedBasedInput). */
  private final class ZstdSizedBlockReader(blockSize: Int, child: BlockReader)
      extends BlockReader {
    private val comp = new Array[Byte](4 +
      com.github.luben.zstd.Zstd.compressBound(blockSize.toLong).toInt)
    def readBlock(buf: Array[Byte]): Int = {
      val blockLen = child.readBlock(comp)
      if (blockLen == -1) -1
      else {
        val decomp = leInt(comp, 0)
        if (decomp % 2 == 0) {
          System.arraycopy(comp, 4, buf, 0, blockLen - 4)
          blockLen - 4
        } else {
          val decompLen = decomp >>> 1
          com.github.luben.zstd.Zstd.decompressByteArray(
            buf, 0, decompLen, comp, 4, blockLen - 4)
          decompLen
        }
      }
    }
    def close(): Unit = child.close()
  }

  private final class Lz4BlockReader(blockSize: Int, child: BlockReader)
      extends BlockReader {
    private val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()
      .fastDecompressor()
    private val comp = new Array[Byte](4 + net.jpountz.lz4.LZ4Factory
      .fastestInstance().fastCompressor().maxCompressedLength(blockSize))
    def readBlock(buf: Array[Byte]): Int = {
      val blockLen = child.readBlock(comp)
      if (blockLen == -1) -1
      else {
        val decompLen = leInt(comp, 0)
        lz4.decompress(comp, 4, buf, 0, decompLen)
        decompLen
      }
    }
    def close(): Unit = child.close()
  }

  /** flag-int variant: 0 = raw payload, 1 = [4-byte decompLen][lz4]
    * (`InputBuffers.scala:576` LZ4SizeBasedCompressing). */
  private final class Lz4SizedBlockReader(blockSize: Int, child: BlockReader)
      extends BlockReader {
    private val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()
      .fastDecompressor()
    private val comp = new Array[Byte](8 + net.jpountz.lz4.LZ4Factory
      .fastestInstance().fastCompressor().maxCompressedLength(blockSize))
    def readBlock(buf: Array[Byte]): Int = {
      val blockLen = child.readBlock(comp)
      if (blockLen == -1) -1
      else leInt(comp, 0) match {
        case 0 =>
          System.arraycopy(comp, 4, buf, 0, blockLen - 4)
          blockLen - 4
        case 1 =>
          val decompLen = leInt(comp, 4)
          lz4.decompress(comp, 8, buf, 0, decompLen)
          decompLen
        case f => throw new IllegalStateException(s"bad lz4 flag $f")
      }
    }
    def close(): Unit = child.close()
  }

  /** Decoded-value input abstraction (the reference's InputBuffer):
    * primitives never straddle block boundaries (writer contract). */
  private[graft] trait InBuf {
    def readByte(): Int
    def readInt(): Int
    def readLong(): Long
    def readFloat(): Float
    def readDouble(): Double
    def readBytes(n: Int): Array[Byte]
    def readVarint(): Int = readVarintFrom(() => readByte())
    def readVarintLong(): Long = {
      var b = readByte()
      if (b < 0) throw new EOFException()
      var x = (b & 0x7f).toLong
      var shift = 7
      while ((b & 0x80) != 0 && shift <= 70) {
        b = readByte()
        x |= (b & 0x7f).toLong << shift
        shift += 7
      }
      x
    }
    def close(): Unit
  }

  private final class BlockingInBuf(blockSize: Int, in: BlockReader)
      extends InBuf {
    private val buf = new Array[Byte](blockSize)
    private var end = 0
    private var off = 0
    private def ensure(n: Int): Unit = {
      if (off == end) { end = in.readBlock(buf); off = 0 }
      if (end < 0 || off + n > end) throw new EOFException()
    }
    def readByte(): Int = { ensure(1); val b = buf(off) & 0xff; off += 1; b }
    def readInt(): Int = { ensure(4); val v = leInt(buf, off); off += 4; v }
    def readLong(): Long = {
      ensure(8)
      val lo = leInt(buf, off).toLong & 0xffffffffL
      val hi = leInt(buf, off + 4).toLong
      off += 8
      lo | (hi << 32)
    }
    def readFloat(): Float = java.lang.Float.intBitsToFloat(readInt())
    def readDouble(): Double = java.lang.Double.longBitsToDouble(readLong())
    def readBytes(n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var got = 0
      while (got < n) {
        if (off == end) {
          end = in.readBlock(buf); off = 0
          if (end < 0) throw new EOFException()
        }
        val p = math.min(end - off, n - got)
        System.arraycopy(buf, off, out, got, p)
        off += p; got += p
      }
      out
    }
    def close(): Unit = in.close()
  }

  private final class StreamInBuf(in: InputStream) extends InBuf {
    private val d = new DataInputStream(in)
    def readByte(): Int = d.read()
    def readInt(): Int = Integer.reverseBytes(d.readInt())
    def readLong(): Long = java.lang.Long.reverseBytes(d.readLong())
    def readFloat(): Float =
      java.lang.Float.intBitsToFloat(readInt())
    def readDouble(): Double =
      java.lang.Double.longBitsToDouble(readLong())
    def readBytes(n: Int): Array[Byte] = {
      val out = new Array[Byte](n); d.readFully(out); out
    }
    def close(): Unit = d.close()
  }

  /** LEB128 wrapper: fixed-width int/long reads become varints
    * (`compatibility` LEB128BufferSpec). */
  private final class Leb128InBuf(child: InBuf) extends InBuf {
    def readByte(): Int = child.readByte()
    def readInt(): Int = child.readVarint()
    def readLong(): Long = child.readVarintLong()
    def readFloat(): Float = child.readFloat()
    def readDouble(): Double = child.readDouble()
    def readBytes(n: Int): Array[Byte] = child.readBytes(n)
    def close(): Unit = child.close()
  }

  private def buildBlockReader(spec: BlockSpec, in: InputStream)
      : BlockReader = spec match {
    case StreamBlock => new StreamBlockReader(in, varint = false)
    case StreamBlock2 => new StreamBlockReader(in, varint = true)
    case ZstdBlock(bs, c) => new ZstdBlockReader(bs, buildBlockReader(c, in))
    case ZstdSizedBlock(bs, c) =>
      new ZstdSizedBlockReader(bs, buildBlockReader(c, in))
    case Lz4Block(bs, c) => new Lz4BlockReader(bs, buildBlockReader(c, in))
    case Lz4SizedBlock(bs, c) =>
      new Lz4SizedBlockReader(bs, buildBlockReader(c, in))
  }

  private[graft] def buildInBuf(spec: BufSpec, in: InputStream): InBuf =
    spec match {
      case Leb128(c) => new Leb128InBuf(buildInBuf(c, in))
      case Blocking(bs, c) => new BlockingInBuf(bs, buildBlockReader(c, in))
      case StreamBuf => new StreamInBuf(in)
    }

  // ---- value decoding -----------------------------------------------------

  /** Decode one value of encoded type `e` viewed as virtual type `v`.
    * Mirrors the reference's generated decoders field-for-field
    * (`types/encoded/EBaseStruct.scala:205`, `EArray.scala:120`,
    * `EBinary.scala:52`): struct/array missing bits have bit=1 for
    * MISSING; only present elements are encoded. */
  private[graft] def decode(e: ETyp, v: VType, in: InBuf): Any = (e, v) match {
    case (EBool(_), _) => in.readByte() != 0
    case (EI32(_), _) => in.readInt()
    case (EI64(_), _) => in.readLong()
    case (EF32(_), _) => in.readFloat()
    case (EF64(_), _) => in.readDouble()
    case (EVar(_), VInt64) => in.readVarintLong()
    case (EVar(_), _) => in.readVarint()
    case (EBin(_, vl), vt) =>
      val len = if (vl) in.readVarint() else in.readInt()
      val bytes = in.readBytes(len)
      vt match {
        case VBinary => bytes
        case _ => new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      }
    case (EArr(ee, _, vl), vt) =>
      val eltV = vt match {
        case VArray(x) => x
        case VSet(x) => x
        case VDict(k, vv) =>
          VStruct(IndexedSeq("key" -> k, "value" -> vv))
        case x => throw new UnsupportedOperationException(
          s"array etype for $x")
      }
      val len = if (vl) in.readVarint() else in.readInt()
      if (ee.required) {
        val out = new Array[Any](len)
        var i = 0
        while (i < len) { out(i) = decode(ee, eltV, in); i += 1 }
        out.toSeq
      } else {
        val mbytes = in.readBytes((len + 7) >>> 3)
        val out = new Array[Any](len)
        var i = 0
        while (i < len) {
          val missing = (mbytes(i >>> 3) >>> (i & 7) & 1) != 0
          out(i) = if (missing) null else decode(ee, eltV, in)
          i += 1
        }
        out.toSeq
      }
    case (EStru(efs, _), vt) =>
      val vfs: IndexedSeq[VType] = vt match {
        case VStruct(fs) => fs.map(_._2)
        case VTuple(ts) => ts
        case VLocus(_) => IndexedSeq(VString, VInt32)
        case VInterval(p) => IndexedSeq(p, p, VBool, VBool)
        case x => throw new UnsupportedOperationException(
          s"struct etype for $x")
      }
      require(efs.length == vfs.length,
        s"encoded/virtual field count mismatch: $e vs $v")
      val nOpt = efs.count(!_._2.required)
      val mbytes = in.readBytes((nOpt + 7) >>> 3)
      val out = new Array[Any](efs.length)
      var i = 0
      var mi = 0
      while (i < efs.length) {
        val et = efs(i)._2
        if (et.required) out(i) = decode(et, vfs(i), in)
        else {
          val missing = (mbytes(mi >>> 3) >>> (mi & 7) & 1) != 0
          out(i) = if (missing) null else decode(et, vfs(i), in)
          mi += 1
        }
        i += 1
      }
      Row.fromSeq(out.toSeq)
    case (ENd(ee, nDims, _), VNDArray(_, _)) =>
      val shape = Array.fill(nDims)(in.readLong())
      val total = shape.product.toInt
      val colMajor = new Array[Any](total)
      var i = 0
      while (i < total) { colMajor(i) = decode(ee, VVoid, in); i += 1 }
      // column-major on disk -> row-major in our NdArrays convention
      val rowMajor = new Array[Any](total)
      if (nDims == 2) {
        val r = shape(0).toInt; val c = shape(1).toInt
        var idx = 0
        var j = 0
        while (j < c) {
          var ii = 0
          while (ii < r) {
            rowMajor(ii * c + j) = colMajor(idx); idx += 1; ii += 1
          }
          j += 1
        }
      } else if (nDims <= 1) {
        System.arraycopy(colMajor, 0, rowMajor, 0, total)
      } else throw new UnsupportedOperationException(
        s"ndarray rank $nDims")
      Row(shape.toSeq, rowMajor.toSeq)
    case _ => throw new UnsupportedOperationException(s"decode $e as $v")
  }

  /** Iterate the rows of one part file: byte-framed stream
    * ([0x01 row]* 0x00). */
  private[graft] def decodePart(in: InputStream, spec: BufSpec, e: ETyp,
      v: VType): Iterator[Row] = {
    val buf = buildInBuf(spec, in)
    new Iterator[Row] {
      private var cont = buf.readByte()
      override def hasNext: Boolean = {
        if (cont != 1) buf.close()
        cont == 1
      }
      override def next(): Row = {
        val r = decode(e, v, buf).asInstanceOf[Row]
        cont = buf.readByte()
        r
      }
    }
  }

  // ---- metadata -----------------------------------------------------------

  private[sources] def readJsonGz(conf: Configuration, path: String): JValue = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val in = new GZIPInputStream(new BufferedInputStream(fs.open(p)))
    try JsonMethods.parse(new java.io.InputStreamReader(in, "UTF-8"))
    finally in.close()
  }

  private def jStr(j: JValue): String = j match {
    case JString(s) => s
    case x => throw new IllegalArgumentException(s"expected string: $x")
  }

  /** Spec-version allowlist (reference `AbstractMatrixTableSpec.scala:57-74`,
    * `utils/SemanticVersion.scala`): `file_version` packs
    * (major<<16)|(minor<<8)|patch; the current writer is 1.8.0 and the
    * format is back- but not forward-compatible, so we accept major 1 up
    * to minor 8 — every version in that range is validated value-level
    * against the reference's own backward-compatibility corpus
    * (`BackCompatSpec`) — and refuse anything else loudly rather than
    * risk a silent mis-decode. */
  private[sources] val MaxSupported: (Int, Int) = (1, 8)
  private[sources] def checkFileVersion(meta: JValue, path: String): Unit = {
    val rep = meta \ "file_version" match {
      case JInt(v) => v.toInt
      case _ => throw new IllegalArgumentException(
        s"cannot read $path: metadata has no file_version — not a " +
          "Hail 0.2+ native file (0.1 VariantDataset/KeyTable formats " +
          "are not supported)")
    }
    val (major, minor, patch) = ((rep >> 16) & 0xff, (rep >> 8) & 0xff,
      rep & 0xff)
    if (major != MaxSupported._1 || minor > MaxSupported._2)
      throw new IllegalArgumentException(
        s"cannot read $path: file format version $major.$minor.$patch " +
          s"is outside the tested range (supported: ${MaxSupported._1}.0 " +
          s"through ${MaxSupported._1}.${MaxSupported._2}.x). Newer files " +
          "need a newer importer; re-export the dataset or extend the " +
          "decoder's fixture coverage before trusting the result.")
  }

  final case class RvdSpec(key: Seq[String], eType: ETyp, vType: VType,
      bufferSpec: BufSpec, partFiles: IndexedSeq[String])

  def readRvdSpec(conf: Configuration, dir: String): RvdSpec = {
    val jv = readJsonGz(conf, s"$dir/metadata.json.gz")
    val codec = jv \ "_codecSpec"
    if (codec == org.json4s.JNothing) return readLegacyRvdSpec(jv, dir)
    RvdSpec(
      (jv \ "_key") match {
        case JArray(ks) => ks.map(jStr)
        case _ => Nil
      },
      parseEType(jStr(codec \ "_eType")),
      parseVType(jStr(codec \ "_vType")),
      parseBufferSpec(codec \ "_bufferSpec"),
      (jv \ "_partFiles").asInstanceOf[JArray].arr.map(jStr).toIndexedSeq)
  }

  /** Pre-1.2 RVD metadata (file_version 1.0.x/1.1.x):
    * `OrderedRVDSpec`/`IndexedRVDSpec` carry
    * `orvdType`/`rvdType = "…{key:[[a],[b]],row:<type>}"`,
    * `UnpartitionedRVDSpec` a bare `rowType`; the codec is
    * `PackCodecSpec{child: <bufferSpec>}` with the encoded type derived
    * canonically from the annotated virtual type (parsePackedType). */
  private def readLegacyRvdSpec(jv: JValue, dir: String): RvdSpec = {
    val codec = jv \ "codecSpec"
    val codecName = jStr(codec \ "name")
    require(codecName == "PackCodecSpec",
      s"cannot read $dir: unsupported legacy codec $codecName")
    val buf = parseBufferSpec(codec \ "child")
    val typeStr = Seq("rvdType", "orvdType", "rowType")
      .map(f => jv \ f)
      .collectFirst { case JString(s) => s }
      .getOrElse(throw new IllegalArgumentException(
        s"cannot read $dir: legacy RVD metadata has no row type"))
    // "RVDType{key:[[idx]],row:Struct{…}}" → key names + row substring.
    // Key fields are plain identifiers in every writer of this era, so
    // splitting on the first ",row:" after "key:[" is unambiguous.
    val (key, rowStr) = {
      val k = typeStr.indexOf("key:[")
      if (k < 0) (Nil, typeStr)
      else {
        val r = typeStr.indexOf(",row:", k)
        require(r > 0, s"cannot read $dir: malformed legacy rvd type")
        val keyNames = typeStr.substring(k + 5, r)
          .split(",").map(_.replaceAll("[\\[\\]`\\s]", ""))
          .filter(_.nonEmpty).toSeq
        // row type runs to the RVDType wrapper's final '}'
        (keyNames, typeStr.substring(r + 5, typeStr.length - 1))
      }
    }
    val (v, e) = parsePackedType(rowStr)
    RvdSpec(key, e, v, buf,
      (jv \ "partFiles").asInstanceOf[JArray].arr.map(jStr).toIndexedSeq)
  }

  /** Decode a whole RVD component into local rows (globals / cols — the
    * small components). */
  private def readRvdLocal(conf: Configuration, dir: String)
      : (RvdSpec, IndexedSeq[Row]) = {
    val spec = readRvdSpec(conf, dir)
    val rows = spec.partFiles.flatMap { f =>
      val p = new HPath(s"$dir/parts/$f")
      val fs = p.getFileSystem(conf)
      decodePart(new BufferedInputStream(fs.open(p)), spec.bufferSpec,
        spec.eType, spec.vType).toIndexedSeq
    }
    (spec, rows)
  }

  /** Distributed decode of an RVD component: one task per part file. */
  private def readRvdDistributed(spark: SparkSession, dir: String)
      : (RvdSpec, org.apache.spark.sql.DataFrame) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val spec = readRvdSpec(conf, dir)
    val schema = sparkType(spec.vType).asInstanceOf[StructType]
    val files = spec.partFiles.map(f => s"$dir/parts/$f")
    val bc = spark.sparkContext.broadcast((spec.bufferSpec, spec.eType,
      spec.vType))
    // tasks must see the SESSION's Hadoop conf (spark.hadoop.* creds,
    // programmatic fs settings) — a bare `new Configuration()` drops them
    val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val rdd = spark.sparkContext
      .parallelize(files, math.max(1, files.length))
      .flatMap { path =>
        val (bs, e, v) = bc.value
        val p = new HPath(path)
        val fs = p.getFileSystem(sconf.value)
        decodePart(new BufferedInputStream(fs.open(p)), bs, e, v)
      }
    (spec, spark.createDataFrame(rdd, schema))
  }

  /** Read a native-format table (`.ht`) as a graft Table: distributed
    * row decode, driver-side globals. */
  def readTable(spark: SparkSession, path: String): Table = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = readJsonGz(conf, s"$path/metadata.json.gz")
    checkFileVersion(meta, path)
    require(jStr(meta \ "name").contains("TableSpec"),
      s"not a table: ${meta \ "name"}")
    val (rowSpec, rowsDf) = readRvdDistributed(spark, s"$path/rows")
    val (globalSpec, globalRows) = readRvdLocal(conf, s"$path/globals")
    val globals = globalSpec.vType match {
      case VStruct(fs) if globalRows.nonEmpty =>
        fs.map(_._1).zip(globalRows.head.toSeq).toMap
      case _ => Map.empty[String, Any]
    }
    Table(rowsDf, rowSpec.key, globals)
  }

  /** Read a native-format matrix table (`.mt`): rows and the
    * row-aligned entries component decode zipped in one task per part
    * pair; cols and globals are driver-side (the engine's col contract). */
  def readMatrixTable(spark: SparkSession, path: String): MatrixTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = readJsonGz(conf, s"$path/metadata.json.gz")
    checkFileVersion(meta, path)
    require(jStr(meta \ "name").contains("MatrixTableSpec"),
      s"not a matrix table: ${meta \ "name"}")
    // matrix_type: Matrix{global:...,col_key:[...],col:...,row_key:[[..],[..]],row:...,entry:...}
    val mtype = jStr(meta \ "matrix_type")
    val colKey = {
      val m = "col_key:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(mtype)
      m.map(_.group(1).split(",").map(_.trim.stripPrefix("`")
        .stripSuffix("`")).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    }
    val rowsSpec = readRvdSpec(conf, s"$path/rows/rows")
    val entriesSpec = readRvdSpec(conf, s"$path/entries/rows")
    require(rowsSpec.partFiles.length == entriesSpec.partFiles.length,
      "rows/entries partition mismatch")
    val rowSchema = sparkType(rowsSpec.vType).asInstanceOf[StructType]
    val entrySchema = sparkType(entriesSpec.vType).asInstanceOf[StructType]
    require(entrySchema.fields.length == 1,
      s"unexpected entries row type: $entrySchema")
    val joined = StructType(rowSchema.fields :+
      StructField(MatrixTable.EntriesField,
        entrySchema.fields.head.dataType))
    val filePairs = rowsSpec.partFiles.zip(entriesSpec.partFiles).map {
      case (r, en) => (s"$path/rows/rows/parts/$r",
        s"$path/entries/rows/parts/$en")
    }
    val bc = spark.sparkContext.broadcast((rowsSpec, entriesSpec))
    val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val rdd = spark.sparkContext
      .parallelize(filePairs, math.max(1, filePairs.length))
      .flatMap { case (rowPath, entryPath) =>
        val (rs, es) = bc.value
        def open(s: String) = {
          val p = new HPath(s)
          new BufferedInputStream(p.getFileSystem(sconf.value)
            .open(p))
        }
        val rowIt = decodePart(open(rowPath), rs.bufferSpec, rs.eType,
          rs.vType)
        val entryIt = decodePart(open(entryPath), es.bufferSpec, es.eType,
          es.vType)
        rowIt.zip(entryIt).map { case (r, en) =>
          Row.fromSeq(r.toSeq :+ en.get(0))
        }
      }
    val rowsDf = spark.createDataFrame(rdd, joined)
    val (colSpec, colRows) = readRvdLocal(conf, s"$path/cols/rows")
    val (globalSpec, globalRows) = readRvdLocal(conf, s"$path/globals/rows")
    val globals = globalSpec.vType match {
      case VStruct(fs) if globalRows.nonEmpty =>
        fs.map(_._1).zip(globalRows.head.toSeq).toMap
      case _ => Map.empty[String, Any]
    }
    MatrixTable(rowsDf, rowsSpec.key,
      colRows,
      sparkType(colSpec.vType).asInstanceOf[StructType],
      colKey, globals)
  }
}
