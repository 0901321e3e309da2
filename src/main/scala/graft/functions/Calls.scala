package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Genotype calls packed in a 32-bit int, with pure-expression accessors
  * (reference semantics: `TCall` / `variant/Call.scala`,
  * `functions/CallFunctions.scala:1-219` — same *capabilities*, independent
  * packing).
  *
  * Packing (ours, documented for the wire format):
  *   bit 0        : phased flag
  *   bits 1..15   : allele 1 (0 = ref)
  *   bits 16..30  : allele 2; all-ones (0x7FFF) = haploid marker
  *
  * Everything below is integer bit arithmetic — codegen'd expressions, no
  * UDFs, so call-dense 100 TB entry columns stay inside Tungsten loops. */
object Calls {

  private val HaploidA2 = 0x7fff

  /** Pack a diploid call. */
  def diploid(a1: Column, a2: Column, phased: Column = lit(false)): Column =
    shiftleft(a2.cast("int"), 16)
      .bitwiseOR(shiftleft(a1.cast("int"), 1))
      .bitwiseOR(phased.cast("int"))

  def haploid(a1: Column): Column =
    shiftleft(lit(HaploidA2), 16).bitwiseOR(shiftleft(a1.cast("int"), 1))

  def allele1(c: Column): Column =
    shiftright(c, 1).bitwiseAND(lit(0x7fff))

  def allele2(c: Column): Column =
    shiftright(c, 16).bitwiseAND(lit(0x7fff))

  def isPhased(c: Column): Column = c.bitwiseAND(lit(1)) === 1

  def ploidy(c: Column): Column =
    when(c.isNull, lit(null)).otherwise(
      when(allele2(c) === HaploidA2, 1).otherwise(2))

  /** unphase: clear the phased bit. */
  def unphase(c: Column): Column = c.bitwiseAND(lit(~1))

  def isHomRef(c: Column): Column = allele1(c) === 0 && allele2(c) === 0
  def isHet(c: Column): Column =
    ploidy(c) === 2 && allele1(c) =!= allele2(c)
  def isHomVar(c: Column): Column =
    allele1(c) > 0 && allele1(c) === allele2(c)

  /** Number of non-reference alleles (0, 1 or 2). */
  def nNonRefAlleles(c: Column): Column =
    allele1(c).gt(0).cast("int") +
      when(ploidy(c) === 2, allele2(c).gt(0).cast("int")).otherwise(0)

  /** Unphased diploid genotype index: gt = k(k+1)/2 + j for sorted (j<=k)
    * allele pair — the VCF GT ordering (reference
    * `unphasedDiploidGtIndex`). */
  def unphasedDiploidGtIndex(c: Column): Column = {
    val j = least(allele1(c), allele2(c))
    val k = greatest(allele1(c), allele2(c))
    // k(k+1) is even, so the double division is exact; keep int type
    ((k * (k + 1)) / 2 + j).cast("int")
  }

  /** One-hot allele counts as an array of length nAlleles. */
  def oneHotAlleles(c: Column, nAlleles: Int): Column =
    transform(sequence(lit(0), lit(nAlleles - 1)), i =>
      allele1(c).equalTo(i).cast("int") +
        when(ploidy(c) === 2, allele2(c).equalTo(i).cast("int"))
          .otherwise(0))

  /** downcode: keep only ref vs this alt (all other alts -> ref). */
  def downcode(c: Column, alt: Int): Column = downcode(c, lit(alt))

  /** downcode with a per-row alt index (used by split_multi). */
  def downcode(c: Column, alt: Column): Column =
    when(c.isNull, lit(null).cast("int")).otherwise(diploid(
      allele1(c).equalTo(alt).cast("int"),
      when(ploidy(c) === 2, allele2(c).equalTo(alt).cast("int"))
        .otherwise(lit(HaploidA2)),
      isPhased(c)))

  // ---- genotype-probability helpers (GenotypeFunctions.scala) -------------

  /** Phred-scaled likelihoods -> normalized probabilities. */
  def plToGp(pl: Column): Column = {
    val lin = transform(pl, p => pow(lit(10.0), -p.cast("double") / 10.0))
    val tot = aggregate(lin, lit(0.0), (a, v) => a + v)
    transform(lin, v => v / tot)
  }

  /** GQ from PL: second-smallest PL minus smallest. Total function
    * (null under 2 entries, via try_element_at) — filter pushdown can
    * evaluate entry recodes on rows a later filter discards, so ANSI
    * index errors here would fail whole queries over discarded rows. */
  def gqFromPl(pl: Column): Column = {
    val sorted = array_sort(pl)
    try_element_at(sorted, lit(2)) - try_element_at(sorted, lit(1))
  }
}
