package graft.methods

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.MatrixTable

/** trio_matrix (reference `family_methods.py:16`): reshape a sample-
  * indexed matrix into a trio-indexed one — cols become trios, each entry
  * is struct(proband_entry, father_entry, mother_entry). A pure literal-
  * index projection over the entries array (codegen'd, no shuffle), cols
  * regrouped on the driver like every col-space op. */
object Trios {

  /** Complete trios from a pedigree (reference
    * `genetics/pedigree.py` `Pedigree.complete_trios`): rows whose
    * father and mother ids are both present as samples in the pedigree
    * ("0" marks a missing parent). Returns
    * (proband, father, mother, probandIsFemale) tuples — unknown-sex
    * probands default female=false like the reference's trio matrix
    * completion. */
  def completeTrios(fam: Seq[graft.sources.Plink.FamRow])
      : Seq[(String, String, String, Boolean)] = {
    val ids = fam.map(_.id).toSet
    fam.collect {
      case r if r.patId != "0" && r.matId != "0" &&
          ids.contains(r.patId) && ids.contains(r.matId) =>
        (r.id, r.patId, r.matId, r.isFemale.getOrElse(false))
    }
  }

  /** `trios`: (proband, father, mother, probandIsFemale). A sample absent
    * from the matrix col key (first col field) reads as a null entry, like
    * a missing member of the reference's `trio_matrix` with
    * `complete_trios=False`. */
  def trioMatrix(mt: MatrixTable,
      trios: Seq[(String, String, String, Boolean)]): MatrixTable =
    MatrixTable(
      rows = mt.rows.withColumn(MatrixTable.EntriesField,
        trioEntries(mt, trios)),
      rowKey = mt.rowKey,
      colValues = trios.map(t => Row(t._1, t._2, t._3, t._4)).toIndexedSeq,
      colSchema = StructType(Seq(
        StructField("id", StringType),
        StructField("pat_id", StringType),
        StructField("mat_id", StringType),
        StructField("is_female", BooleanType))),
      colKey = Seq("id"),
      globals = mt.globals)

  /** `trioMatrix`'s entries over `mt`'s rows: per row, one
    * struct(proband_entry, father_entry, mother_entry) per trio. */
  private[methods] def trioEntries(mt: MatrixTable,
      trios: Seq[(String, String, String, Boolean)]): Column = {
    val keyIdx = mt.colSchema.fieldIndex(mt.colKey.head)
    val sIdx = mt.colValues.zipWithIndex
      .map { case (r, i) => r.get(keyIdx).toString -> i }.toMap
    // try_element_at, not element_at: Catalyst can merge this projection
    // ahead of an upstream row filter (e.g. the VCF header filter) where
    // the entries array is empty — ANSI element_at would throw there
    def entryAt(id: String) = sIdx.get(id).fold(
      lit(null).cast(mt.entrySchema))(i =>
      try_element_at(col(MatrixTable.EntriesField), lit(i + 1)))
    array(trios.map { case (kid, dad, mom, _) =>
      struct(
        entryAt(kid).as("proband_entry"),
        entryAt(dad).as("father_entry"),
        entryAt(mom).as("mother_entry"))
    }: _*)
  }
}
