package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.MatrixTable

/** VCF import/export (reference `io/vcf/LoadVCF.scala` (2313 LoC),
  * `io/vcf/ExportVCF.scala`; python `import_vcf`, `impex.py:2817`).
  *
  * Spark-first shape: `spark.read.text` gives a splittable distributed scan
  * (bgzip-block splitting would slot in as a Hadoop codec); all line parsing
  * is Column expressions — `split`, `str_to_map`, `transform` — so the
  * parse is distributed and columnar-pruned: if the query only needs
  * CHROM/POS, Catalyst prunes the per-sample parsing subtree entirely.
  *
  * Header (sample names, INFO/FORMAT type declarations, contig order) is tiny
  * and read driver-side, like the reference's header pass. INFO and FORMAT
  * fields are **typed from their header declarations** (reference
  * `io/vcf/LoadVCF.scala` `headerSignature`): Integer→int, Float→double,
  * Flag→boolean, Number=1→scalar, Number=A/R/G/.→array. Undeclared data
  * fields are ignored (the declared schema is the contract).
  *
  * Every cast in the parse path is *total*: inputs are regex-guarded before
  * `cast`, so ANSI mode can never throw regardless of how Catalyst reorders
  * the parse expressions relative to the header filter.
  *
  * Result is a row-keyed `MatrixTable`: rows = variants, cols = samples,
  * entries = struct(GT call, typed FORMAT fields).
  */
object Vcf {

  val FixedCols = 9 // CHROM POS ID REF ALT QUAL FILTER INFO FORMAT

  // ---- total (never-throwing) casts for ANSI mode -------------------------

  private val IntRe = "^[+-]?\\d+$"
  private val FloatRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  /** Cast that yields null (never throws) on non-numeric input. The guard is
    * inside the cast's child, so it is safe under any expression reordering —
    * a bare `when(cond, c.cast(t))` is NOT (the cast branch can still be
    * evaluated speculatively by collapsed projections). */
  def safeInt(c: Column): Column = when(c.rlike(IntRe), c).cast("int")
  def safeDouble(c: Column): Column = when(c.rlike(FloatRe), c).cast("double")

  private def scalarCast(c: Column, typ: String): Column = typ match {
    case "Integer" => safeInt(c)
    case "Float"   => safeDouble(c)
    case _         => when(c =!= "." && c =!= "", c) // String/Character
  }

  // ---- header -------------------------------------------------------------

  /** One `##INFO=<...>` / `##FORMAT=<...>` declaration. */
  case class FieldDecl(id: String, number: String, typ: String) {
    def isFlag: Boolean = typ == "Flag" || number == "0"
    def isScalar: Boolean = number == "1"
    def sparkType: DataType = {
      val base: DataType = typ match {
        case "Integer" => IntegerType
        case "Float"   => DoubleType
        case "Flag"    => BooleanType
        case _         => StringType
      }
      if (isFlag || isScalar) base else ArrayType(base)
    }
  }

  case class Header(
      samples: IndexedSeq[String],
      lines: Seq[String],
      info: Seq[FieldDecl],
      format: Seq[FieldDecl])

  private val declRe =
    """##(INFO|FORMAT)=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+)""".r.unanchored

  private[sources] def isVcfName(n: String): Boolean =
    n.endsWith(".vcf") || n.endsWith(".vcf.gz") || n.endsWith(".vcf.bgz")

  /** Driver-side header scan (header is KBs; data can be TBs). Gzip /
    * bgzip files are decompressed through the Hadoop codec factory (bgzip
    * is concatenated-gzip, which Hadoop's gzip decompressor accepts). */
  def readHeader(spark: SparkSession, path: String): Header = {
    BGzip.register(spark)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), conf)
    val status = fs.getFileStatus(new org.apache.hadoop.fs.Path(path))
    val files =
      if (status.isDirectory)
        fs.listStatus(new org.apache.hadoop.fs.Path(path))
          .map(_.getPath).filter(p => isVcfName(p.getName))
          .sortBy(_.getName)
      else Array(status.getPath)
    val rawIn: java.io.InputStream = fs.open(files.head)
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      conf).getCodec(files.head)
    val decoded =
      if (codec == null) rawIn else codec.createInputStream(rawIn)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      decoded))
    try {
      var l = in.readLine()
      while (l != null && l.startsWith("#")) {
        lines += l
        l = if (l.startsWith("#CHROM")) null else in.readLine()
      }
    } finally in.close()
    val chromLine = lines.find(_.startsWith("#CHROM")).getOrElse(
      throw new IllegalArgumentException(s"no #CHROM header line in $path"))
    val decls = lines.collect {
      case declRe(kind, id, num, typ) => (kind, FieldDecl(id, num, typ))
    }
    Header(
      chromLine.split("\t").drop(FixedCols).toIndexedSeq,
      lines.toSeq,
      decls.collect { case ("INFO", d) => d }.toSeq,
      decls.collect { case ("FORMAT", d) => d }.toSeq)
  }

  /** get_vcf_metadata / get_vcf_header_info (reference `impex.py`):
    * the header's INFO/FORMAT/FILTER declarations as a small DataFrame
    * (section, id, number, type, description) — header-only driver
    * scan, same as `readHeader`. */
  def metadata(spark: SparkSession, path: String): DataFrame = {
    val metaRe = ("""##(INFO|FORMAT|FILTER)=<ID=([^,>]+)""" +
      """(?:,Number=([^,>]+))?(?:,Type=([^,>]+))?""" +
      """(?:,Description="([^"]*)")?""").r.unanchored
    val rows = readHeader(spark, path).lines.collect {
      case metaRe(section, id, num, typ, desc) =>
        (section, id, Option(num).orNull, Option(typ).orNull,
          Option(desc).orNull)
    }
    spark.createDataFrame(rows)
      .toDF("section", "id", "number", "type", "description")
  }

  // ---- GT codec -----------------------------------------------------------

  /** Parse "0/1", "0|1", ".", "./." into our packed call int (see
    * `graft.functions.Calls`): null for missing. Total under ANSI. */
  def parseGt(gt: Column): Column = {
    val parts = split(gt, "[/|]")
    val a1 = safeInt(element_at(parts, 1))
    val a2 = safeInt(try_element_at(parts, lit(2)))
    val phased = gt.contains("|")
    when(a1.isNull || gt.isNull, lit(null).cast("int"))
      .otherwise(
        when(a2.isNull,
          // haploid
          shiftleft(lit(0x7fff), 16).bitwiseOR(shiftleft(a1, 1)))
        .otherwise(
          shiftleft(a2, 16)
            .bitwiseOR(shiftleft(a1, 1))
            .bitwiseOR(phased.cast("int"))))
  }

  /** Render our packed call back to VCF GT text. */
  def formatGt(call: Column): Column = {
    import graft.functions.Calls
    when(call.isNull, "./.")
      .otherwise(
        when(Calls.ploidy(call) === 1, Calls.allele1(call).cast("string"))
        .otherwise(concat(
          Calls.allele1(call).cast("string"),
          when(Calls.isPhased(call), "|").otherwise("/"),
          Calls.allele2(call).cast("string"))))
  }

  // ---- read ---------------------------------------------------------------

  /** Typed value of one INFO declaration out of the raw `k=v` map. */
  private def infoField(m: Column, d: FieldDecl): Column = {
    val raw = element_at(m, d.id)
    val c =
      if (d.isFlag) map_contains_key(m, d.id)
      else if (d.isScalar) scalarCast(raw, d.typ)
      else when(raw.isNotNull && raw =!= ".",
        transform(split(raw, ","), v => scalarCast(v, d.typ)))
    c.as(d.id)
  }

  /** Fused per-row VCF entries parser: one imperative pass over the
    * sample strings (eval-based — string parsing gains nothing from
    * Janino, but losing the per-sample interpreted expression TREES
    * does: the higher-order formulation re-evaluated `array_position`
    * over the FORMAT keys and a try_element_at/scalarCast chain per
    * declaration per sample; here key positions hoist to once per row
    * and each sample is a tight Scala loop). Semantics: each FORMAT
    * field is located positionally via the row's FORMAT keys (absent
    * key → null); "."/"" samples → null entry; GT parses like
    * `parseGt` (non-numeric → null; second allele absent or non-numeric
    * → haploid); scalar fields cast like `scalarCast` (non-numeric →
    * null, per-field "." → null); short sample strings null-pad; array
    * fields split on "," with per-element casts. */
  private case class VcfEntriesExpr(
      left: org.apache.spark.sql.catalyst.expressions.Expression,
      right: org.apache.spark.sql.catalyst.expressions.Expression,
      decls: Seq[FieldDecl])
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen
        .CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String

    override def prettyName: String = "graft_vcf_entries"
    override def nullable: Boolean = true

    private def scalarType(typ: String): DataType = typ match {
      case "Integer" => IntegerType
      case "Float"   => DoubleType
      case _         => StringType
    }
    override def dataType: DataType = ArrayType(StructType(
      StructField("GT", IntegerType) +: decls.map(d =>
        StructField(d.id,
          if (d.isScalar || d.isFlag) scalarType(d.typ)
          else ArrayType(scalarType(d.typ))))), containsNull = true)

    @transient private lazy val intRe =
      java.util.regex.Pattern.compile("[+-]?\\d+")
    @transient private lazy val floatRe = java.util.regex.Pattern
      .compile("[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?")

    private def castScalar(raw: String, typ: String): Any = typ match {
      case "Integer" =>
        if (raw != null && intRe.matcher(raw).matches())
          java.lang.Integer.valueOf(raw) else null
      case "Float" =>
        if (raw != null && floatRe.matcher(raw).matches())
          java.lang.Double.valueOf(raw) else null
      case _ =>
        if (raw != null && raw != "." && raw != "")
          UTF8String.fromString(raw) else null
    }

    private def parseGtLocal(gtStr: String): Any = {
      if (gtStr == null) return null
      val parts = gtStr.split("[/|]", -1)
      val a1 = if (parts.nonEmpty && intRe.matcher(parts(0)).matches())
        parts(0).toInt else return null
      val a2ok = parts.length > 1 && intRe.matcher(parts(1)).matches()
      if (!a2ok) java.lang.Integer.valueOf((0x7fff << 16) | (a1 << 1))
      else {
        val phased = if (gtStr.indexOf('|') >= 0) 1 else 0
        java.lang.Integer.valueOf(
          (parts(1).toInt << 16) | (a1 << 1) | phased)
      }
    }

    override def eval(input: InternalRow): Any = {
      val entriesAny = left.eval(input)
      if (entriesAny == null) return null
      val keysAny = right.eval(input)
      val keys: Array[String] =
        if (keysAny == null) Array.empty
        else {
          val ka = keysAny.asInstanceOf[ArrayData]
          Array.tabulate(ka.numElements())(i =>
            if (ka.isNullAt(i)) null else ka.getUTF8String(i).toString)
        }
      val gtPos = keys.indexOf("GT")
      val declPos = decls.map(d => keys.indexOf(d.id)).toArray
      val arr = entriesAny.asInstanceOf[ArrayData]
      val m = arr.numElements()
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i).toString
          if (s != "." && s != "") {
            val vals = s.split(":", -1)
            def rawAt(pos: Int): String =
              if (pos >= 0 && pos < vals.length) vals(pos) else null
            val fields = new Array[Any](1 + decls.length)
            fields(0) = parseGtLocal(rawAt(gtPos))
            var di = 0
            while (di < decls.length) {
              val d = decls(di)
              val raw = rawAt(declPos(di))
              fields(1 + di) =
                if (d.isScalar || d.isFlag) castScalar(raw, d.typ)
                else if (raw == null || raw == ".") null
                else new GenericArrayData(raw.split(",", -1)
                  .map(v => castScalar(v, d.typ)))
              di += 1
            }
            out(i) = new GenericInternalRow(fields)
          }
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildrenInternal(
        l: org.apache.spark.sql.catalyst.expressions.Expression,
        r: org.apache.spark.sql.catalyst.expressions.Expression)
        : org.apache.spark.sql.catalyst.expressions.Expression =
      copy(left = l, right = r)
  }

  /** Read a VCF (or directory of VCFs) into a MatrixTable.
    *
    * Row schema: contig, position, rsid, ref, alt, qual, filters,
    * `info: struct<declared fields>` (or `map<string,string>` when the header
    * declares nothing). Entry schema: `GT: int` (packed call) + one typed
    * field per non-GT FORMAT declaration. A bare "." sample entry is a
    * missing (null) entry struct. */
  def read(spark: SparkSession, path: String): MatrixTable = {
    BGzip.register(spark) // .vcf.bgz files scan as parallel block splits
    val header = readHeader(spark, path)
    val raw = spark.read.text(
      if (isVcfName(path)) path else s"$path/*.vcf*")
      .filter(!col("value").startsWith("#"))
    parseLines(raw, header)
  }

  /** Tabix-seek region import (reference `io/tabix/TabixReader.scala` +
    * `LoadVCF`): reads ONLY the bgzip blocks whose records can overlap
    * the requested 1-based inclusive (contig, start, end) loci — a
    * point query against a 200 GB `.vcf.bgz` opens a handful of 64 KiB
    * blocks. Chunks from all regions are merged before reading (no
    * duplicate rows for overlapping regions); binning over-coverage is
    * removed by a residual locus filter. */
  def readRegions(spark: SparkSession, path: String,
      regions: Seq[(String, Int, Int)],
      tbiPath: Option[String] = None): MatrixTable = {
    val header = readHeader(spark, path)
    val idx = Tabix.read(spark, tbiPath.getOrElse(path + ".tbi"))
    val chunks = regions
      .flatMap { case (c, s0, e0) =>
        Tabix.queryChunks(idx, idx.tid(c), s0 - 1, e0)
      }
      .sortWith((a, b) => java.lang.Long.compareUnsigned(a._1, b._1) < 0)
    // merge across regions so no record is read twice
    val merged = chunks.foldLeft(List.empty[(Long, Long)]) {
      case (acc, c) =>
        acc match {
          case h :: t
              if java.lang.Long.compareUnsigned(c._1, h._2) <= 0 =>
            (h._1, if (java.lang.Long.compareUnsigned(c._2, h._2) > 0)
              c._2 else h._2) :: t
          case _ => c :: acc
        }
    }.reverse
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val linesRdd = spark.sparkContext
      .parallelize(merged, math.max(merged.length, 1))
      .flatMap { case (vBeg, vEnd) =>
        val p = new org.apache.hadoop.fs.Path(path)
        val r = new BGzipVirtualLineReader(
          p.getFileSystem(conf.value).open(p))
        r.virtualSeek(vBeg)
        new Iterator[String] {
          private var nextLine: String = advance()
          private def advance(): String =
            if (java.lang.Long.compareUnsigned(
                r.virtualOffset, vEnd) >= 0) { r.close(); null }
            else {
              val l = r.readLine()
              if (l == null) r.close()
              l
            }
          def hasNext: Boolean = nextLine != null
          def next(): String = {
            val l = nextLine; nextLine = advance(); l
          }
        }
      }
    import spark.implicits._
    val lineDf = spark.createDataset(linesRdd).toDF("value")
      .filter(!col("value").startsWith("#"))
    val mt = parseLines(lineDf, header)
    val pred = regions.map { case (c, s0, e0) =>
      col("contig") === c && col("position") >= s0 && col("position") <= e0
    }.reduce(_ || _)
    mt.copy(rows = mt.rows.filter(pred))
  }

  /** The shared columnar line parse behind `read` / `readRegions`. */
  private def parseLines(raw: DataFrame, header: Header): MatrixTable = {
    val n = header.samples.length
    val f = split(col("value"), "\t")
    // try_element_at, not element_at: downstream filters (e.g. on contig)
    // can be merged ahead of the header-line filter by Catalyst, so fixed-
    // column access must not throw on short '##' lines
    val fieldAt = (i: Int) => try_element_at(f, lit(i + 1))
    val entryStrs = slice(f, FixedCols + 1, n)
    val formatKeys = split(fieldAt(8), ":")
    val infoMap = when(fieldAt(7) === ".",
        expr("map()").cast("map<string,string>"))
      .otherwise(str_to_map(fieldAt(7), lit(";"), lit("=")))
    val infoCol =
      if (header.info.nonEmpty)
        struct(header.info.map(d => infoField(infoMap, d)): _*)
      else infoMap
    val fmtDecls = header.format.filterNot(_.id == "GT")
    val entryCol =
      if (fmtDecls.nonEmpty)
        // declared FORMAT: the fused imperative parser
        org.apache.spark.sql.GraftBridge.column(VcfEntriesExpr(
          org.apache.spark.sql.GraftBridge.expression(entryStrs),
          org.apache.spark.sql.GraftBridge.expression(formatKeys),
          fmtDecls))
      else
        // undeclared FORMAT: generic (key -> raw string) map entries
        transform(entryStrs, e => {
          val vals = split(e, ":")
          val gtPos = array_position(formatKeys, "GT")
          val gt = parseGt(
            try_element_at(vals, when(gtPos > 0, gtPos.cast("int"))))
          when(e =!= "." && e =!= "",
            struct(gt.as("GT"),
              map_from_arrays(formatKeys, transform(formatKeys, (k, i) =>
                try_element_at(vals, i + 1))).as("fields")))
        })
    val parsed = raw.select(
      fieldAt(0).as("contig"),
      safeInt(fieldAt(1)).as("position"),
      when(fieldAt(2) =!= ".", fieldAt(2)).as("rsid"),
      fieldAt(3).as("ref"),
      split(fieldAt(4), ",").as("alt"),
      safeDouble(fieldAt(5)).as("qual"),
      when(fieldAt(6) === "." || fieldAt(6) === "PASS",
        array().cast("array<string>")).otherwise(split(fieldAt(6), ";"))
        .as("filters"),
      infoCol.as("info"),
      entryCol.as(MatrixTable.EntriesField))
    MatrixTable(
      rows = parsed,
      rowKey = Seq("contig", "position", "ref", "alt"),
      colValues = header.samples.map(s => Row(s)),
      colSchema = StructType(Seq(StructField("s", StringType))),
      colKey = Seq("s"))
  }

  /** import_gvcf (reference `python/hail/vds/combiner` input stage):
    * split a gVCF-shaped file into a VariantDataset — `<NON_REF>`-only
    * rows become reference blocks (entry END from the INFO END field,
    * per-entry DP carried when declared), variant rows keep their called
    * alleles with the trailing `<NON_REF>` stripped. One scan, two
    * filtered projections. */
  def readGvcf(spark: SparkSession, path: String)
      : graft.methods.VariantDataset = {
    val mt = read(spark, path)
    val entrySchema = mt.rows.schema(MatrixTable.EntriesField).dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val hasDp = entrySchema.fieldNames.contains("DP")
    val isRefBlock = size(col("alt")) === 1 &&
      try_element_at(col("alt"), lit(1)) === "<NON_REF>"
    val endCol = col("info")("END")
    val refRows = mt.rows.filter(isRefBlock)
      .withColumn(MatrixTable.EntriesField,
        transform(col(MatrixTable.EntriesField), e =>
          when(e.isNotNull, struct(
            endCol.cast("int").as("END"),
            (if (hasDp) e("DP") else lit(null).cast("int")).as("DP")))))
      .drop("info", "rsid", "qual", "filters")
      .withColumn("ref", col("ref"))
    val varRows = mt.rows.filter(!isRefBlock)
      .withColumn("alt", filter(col("alt"), a => a =!= "<NON_REF>"))
    graft.methods.VariantDataset(
      referenceData = mt.copy(rows = refRows),
      variantData = mt.copy(rows = varRows))
  }

  // ---- write --------------------------------------------------------------

  private def renderValue(c: Column, dt: DataType): Column = dt match {
    case ArrayType(et, _) =>
      when(c.isNull, ".").otherwise(
        concat_ws(",", transform(c, v => coalesce(v.cast("string"), lit(".")))))
    case _ => coalesce(c.cast("string"), lit("."))
  }

  /** Export a MatrixTable (shaped as produced by `read`) to VCF part files
    * under `path` (distributed text write; one header written driver-side,
    * matching the reference's sharded export, `io/vcf/ExportVCF.scala`).
    * Renders GT plus every other entry field; INFO struct fields are emitted
    * by declaration (Flag → bare name, arrays comma-joined, nulls skipped). */
  def write(mt: MatrixTable, path: String, bgz: Boolean = false): Unit = {
    val spark = mt.rows.sparkSession
    if (bgz) BGzip.register(spark)
    val entrySchema = mt.rows.schema(MatrixTable.EntriesField).dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val fmtFields = entrySchema.fields.filterNot(f =>
      f.name == "GT" || f.name == "fields")
    val fmtHeader = ("GT" +: fmtFields.map(_.name)).mkString(":")
    val infoSchema = mt.rows.schema("info").dataType
    val infoText: Column = infoSchema match {
      case st: StructType =>
        val parts = st.fields.map { fld =>
          val v = col("info")(fld.name)
          fld.dataType match {
            case BooleanType => when(v === true, fld.name)
            case dt => when(v.isNotNull,
              concat(lit(fld.name), lit("="), renderValue(v, dt)))
          }
        }
        val joined = concat_ws(";", parts.toSeq: _*)
        when(length(joined) === 0, ".").otherwise(joined)
      case _: MapType =>
        when(size(map_keys(col("info"))) === 0, lit("."))
          .otherwise(concat_ws(";",
            transform(map_entries(col("info")),
              kv => concat(kv("key"), lit("="), kv("value")))))
      case _ => lit(".")
    }
    val renderEntry = (e: Column) =>
      when(e.isNull, ".").otherwise(concat_ws(":",
        (formatGt(e("GT")) +: fmtFields.toSeq.map(fld =>
          renderValue(e(fld.name), fld.dataType))): _*))
    val gtLine = concat_ws("\t",
      (Seq(
        col("contig"), col("position").cast("string"),
        coalesce(col("rsid"), lit(".")),
        col("ref"), concat_ws(",", col("alt")),
        coalesce(col("qual").cast("string"), lit(".")),
        when(size(col("filters")) === 0, "PASS")
          .otherwise(concat_ws(";", col("filters"))),
        infoText,
        lit(fmtHeader)) :+
        concat_ws("\t",
          transform(col(MatrixTable.EntriesField), renderEntry))): _*)
    val sorted = mt.rows
      .repartitionByRange(col("contig"), col("position"))
      .sortWithinPartitions(col("contig"), col("position"))
    val writer = sorted.select(gtLine.as("value")).write.mode("overwrite")
    (if (bgz) writer.option("compression", classOf[BGzipCodec].getName)
     else writer).text(s"$path/parts")
    // header (driver-side, tiny)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/header.vcf"))
    val samples = mt.colValues.map(_.getString(0))
    val declLines = new StringBuilder
    infoSchema match {
      case st: StructType => st.fields.foreach { fld =>
        val (num, t) = fld.dataType match {
          case BooleanType => ("0", "Flag")
          case IntegerType => ("1", "Integer")
          case DoubleType => ("1", "Float")
          case ArrayType(IntegerType, _) => (".", "Integer")
          case ArrayType(DoubleType, _) => (".", "Float")
          case ArrayType(_, _) => (".", "String")
          case _ => ("1", "String")
        }
        declLines ++= s"""##INFO=<ID=${fld.name},Number=$num,Type=$t,Description="">""" + "\n"
      }
      case _ =>
    }
    declLines ++= """##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">""" + "\n"
    fmtFields.foreach { fld =>
      val (num, t) = fld.dataType match {
        case IntegerType => ("1", "Integer")
        case DoubleType => ("1", "Float")
        case ArrayType(IntegerType, _) => (".", "Integer")
        case ArrayType(DoubleType, _) => (".", "Float")
        case ArrayType(_, _) => (".", "String")
        case _ => ("1", "String")
      }
      declLines ++= s"""##FORMAT=<ID=${fld.name},Number=$num,Type=$t,Description="">""" + "\n"
    }
    out.write((
      "##fileformat=VCFv4.2\n" +
      "##source=graft\n" +
      declLines.toString +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
      samples.mkString("\t") + "\n").getBytes("UTF-8"))
    out.close()
  }
}
