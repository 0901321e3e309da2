package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Genomic loci as `struct(contig: string, position: int)` plus a
  * driver-side reference-genome registry (reference: `TLocus`,
  * `variant/Locus.scala`, `variant/ReferenceGenome.scala`,
  * `functions/LocusFunctions.scala:1-756`).
  *
  * Genome metadata (contig lengths, PAR ranges) is tiny and broadcast as
  * literals into expressions — contig index lookup compiles to a chain of
  * `when`s over ~25 contigs, constant-folded where possible. */
final case class ReferenceGenome(
    name: String,
    contigs: IndexedSeq[String],
    lengths: Map[String, Long],
    xContigs: Set[String] = Set("X", "chrX"),
    yContigs: Set[String] = Set("Y", "chrY"),
    mtContigs: Set[String] = Set("MT", "chrM"),
    // PAR intervals as (contig, start, end)
    par: Seq[(String, Long, Long)] = Nil) {

  /** Cumulative offset of each contig in the linearized genome. */
  private lazy val offsets: Map[String, Long] =
    contigs.scanLeft(0L)((acc, c) => acc + lengths(c)).zip(contigs)
      .map { case (off, c) => c -> off }.toMap

  def contigOffset(contig: Column): Column =
    contigs.foldLeft(lit(-1L)) { (acc, c) =>
      when(contig === c, offsets(c)).otherwise(acc)
    }

  def contigLength(contig: Column): Column =
    contigs.foldLeft(lit(-1L)) { (acc, c) =>
      when(contig === c, lengths(c)).otherwise(acc)
    }
}

object ReferenceGenome {
  /** Minimal GRCh38-shaped default (public contig lengths). */
  val GRCh38: ReferenceGenome = {
    val auto = (1 to 22).map(i => s"chr$i")
    val lens = Map(
      "chr1" -> 248956422L, "chr2" -> 242193529L, "chr3" -> 198295559L,
      "chr4" -> 190214555L, "chr5" -> 181538259L, "chr6" -> 170805979L,
      "chr7" -> 159345973L, "chr8" -> 145138636L, "chr9" -> 138394717L,
      "chr10" -> 133797422L, "chr11" -> 135086622L, "chr12" -> 133275309L,
      "chr13" -> 114364328L, "chr14" -> 107043718L, "chr15" -> 101991189L,
      "chr16" -> 90338345L, "chr17" -> 83257441L, "chr18" -> 80373285L,
      "chr19" -> 58617616L, "chr20" -> 64444167L, "chr21" -> 46709983L,
      "chr22" -> 50818468L, "chrX" -> 156040895L, "chrY" -> 57227415L,
      "chrM" -> 16569L)
    ReferenceGenome("GRCh38", auto ++ Seq("chrX", "chrY", "chrM"), lens,
      par = Seq(("chrX", 10001L, 2781479L), ("chrX", 155701383L, 156030895L),
        ("chrY", 10001L, 2781479L), ("chrY", 56887903L, 57217415L)))
  }
}

object Loci {

  def locus(contig: Column, position: Column): Column =
    struct(contig.as("contig"), position.cast("int").as("position"))

  def contig(l: Column): Column = l("contig")
  def position(l: Column): Column = l("position")

  def isAutosomal(l: Column)(implicit rg: ReferenceGenome): Column =
    !inX(l) && !inY(l) && !isMitochondrial(l)

  def inX(l: Column)(implicit rg: ReferenceGenome): Column =
    rg.xContigs.map(c => contig(l) === c).reduce(_ || _)
  def inY(l: Column)(implicit rg: ReferenceGenome): Column =
    rg.yContigs.map(c => contig(l) === c).reduce(_ || _)
  def isMitochondrial(l: Column)(implicit rg: ReferenceGenome): Column =
    rg.mtContigs.map(c => contig(l) === c).reduce(_ || _)

  def inPar(l: Column)(implicit rg: ReferenceGenome): Column =
    rg.par.map { case (c, s, e) =>
      contig(l) === c && position(l) >= s && position(l) < e
    }.foldLeft(lit(false))(_ || _)

  def inXPar(l: Column)(implicit rg: ReferenceGenome): Column =
    inX(l) && inPar(l)
  def inXNonPar(l: Column)(implicit rg: ReferenceGenome): Column =
    inX(l) && !inPar(l)
  def inYNonPar(l: Column)(implicit rg: ReferenceGenome): Column =
    inY(l) && !inPar(l)

  /** Linearized global position (reference `locusToGlobalPos`). */
  def toGlobalPos(l: Column)(implicit rg: ReferenceGenome): Column =
    rg.contigOffset(contig(l)) + position(l).cast("long") - 1L

  /** Inverse of `toGlobalPos` (reference `globalPosToLocus`). */
  def fromGlobalPos(gpos: Column)(implicit rg: ReferenceGenome): Column = {
    val res = rg.contigs.foldLeft(
      locus(lit(null).cast("string"), lit(-1))) { (acc, c) =>
      val off = rg.contigOffset(lit(c))
      when(gpos >= off && gpos < off + rg.lengths(c),
        locus(lit(c), (gpos - off + 1L).cast("int"))).otherwise(acc)
    }
    res
  }

  /** Locus window [pos-before, pos+after], clamped to the contig. */
  def window(l: Column, before: Int, after: Int)
      (implicit rg: ReferenceGenome): Column =
    struct(
      locus(contig(l), greatest(position(l) - before, lit(1))).as("start"),
      locus(contig(l),
        least(position(l).cast("long") + after,
          rg.contigLength(contig(l))).cast("int")).as("end"))

  // ---- allele classification (python expr/functions.py is_snp etc.) -------

  def isSnp(ref: Column, alt: Column): Column =
    length(ref) === 1 && length(alt) === 1 && ref =!= alt
  def isInsertion(ref: Column, alt: Column): Column =
    length(ref) < length(alt) && substring(alt, 1, 1) === substring(ref, 1, 1)
  def isDeletion(ref: Column, alt: Column): Column =
    length(ref) > length(alt) && substring(ref, 1, 1) === substring(alt, 1, 1)

  def isTransition(ref: Column, alt: Column): Column =
    isSnp(ref, alt) && (
      (ref === "A" && alt === "G") || (ref === "G" && alt === "A") ||
      (ref === "C" && alt === "T") || (ref === "T" && alt === "C"))

  def alleleType(ref: Column, alt: Column): Column =
    when(isSnp(ref, alt),
      when(isTransition(ref, alt), "transition").otherwise("transversion"))
      .when(isInsertion(ref, alt), "insertion")
      .when(isDeletion(ref, alt), "deletion")
      .when(ref === alt, "same")
      .otherwise("complex")

  /** Minimal representation of (pos, ref, alt): trim shared suffix then
    * shared prefix (reference `min_rep`). Pure expressions. */
  def minRep(pos: Column, ref: Column, alt: Column): Column = {
    // shared suffix length (guard: sequence(1,0) would descend in Spark)
    val maxTrim = least(length(ref), length(alt)) - 1
    val sufLen = when(maxTrim >= 1, aggregate(
      sequence(lit(1), maxTrim), lit(0),
      (acc, i) => when(acc === i - 1 &&
        ref.substr(length(ref) - i + 1, lit(1)) ===
          alt.substr(length(alt) - i + 1, lit(1)), i).otherwise(acc)))
      .otherwise(0)
    val r1 = ref.substr(lit(1), length(ref) - sufLen)
    val a1 = alt.substr(lit(1), length(alt) - sufLen)
    val maxPre = least(length(r1), length(a1)) - 1
    val preLen = when(maxPre >= 1, aggregate(
      sequence(lit(1), maxPre), lit(0),
      (acc, i) => when(acc === i - 1 &&
        r1.substr(i, lit(1)) === a1.substr(i, lit(1)), i).otherwise(acc)))
      .otherwise(0)
    struct(
      (pos + preLen).as("pos"),
      r1.substr(preLen + 1, length(r1) - preLen).as("ref"),
      a1.substr(preLen + 1, length(a1) - preLen).as("alt"))
  }
}
