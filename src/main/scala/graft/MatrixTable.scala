package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 2-dimensional matrix table: row axis × col axis × entry fields, plus row
  * fields, col fields and globals (reference `MatrixType`,
  * `types/MatrixType.scala`; IR `expr/ir/MatrixIR.scala:56`).
  *
  * Representation (the reference's own lowering, done natively): a row-keyed
  * `DataFrame` whose rows carry an `entries: array<struct>` column aligned
  * positionally with a driver-side `colValues` array (reference
  * `CastMatrixToTable`, `TableIR.scala:2552`; `LowerMatrixIR.scala`). Column
  * counts are "thousands, not billions" (samples, features) so col values
  * live on the driver / in literals, exactly like hail keeps `cols` in
  * globals.
  *
  * All entry-space transforms compile to Catalyst higher-order array
  * functions (`transform`, `filter`, `aggregate`, `zip_with`) — whole-stage
  * codegen, no per-row UDFs — so a 100 TB entries column streams through
  * the same generated loop hail JITs by hand. */
final case class MatrixTable(
    rows: DataFrame,
    rowKey: Seq[String],
    colValues: IndexedSeq[Row],
    colSchema: StructType,
    colKey: Seq[String],
    globals: Map[String, Any] = Map.empty) {

  def spark: SparkSession = rows.sparkSession
  def nCols: Int = colValues.length
  def entries: Column = col(MatrixTable.EntriesField)

  private[graft] def entrySchema: StructType =
    rows.schema(MatrixTable.EntriesField).dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  /** A literal column holding one col field's values, indexable by col idx —
    * the Spark analogue of hail's `cols`-in-globals. Constant-folded by
    * Catalyst. Supports primitive-typed col fields. */
  def colFieldArray(field: String): Column = {
    val i = colSchema.fieldIndex(field)
    array(colValues.map(r => lit(r.get(i))): _*)
  }

  // ---- row space ----------------------------------------------------------

  /** MatrixMapGlobals (`MatrixIR.scala:...`): globals live in the
    * driver map, like TableMapGlobals. */
  def annotateGlobals(kvs: (String, Any)*): MatrixTable =
    copy(globals = globals ++ kvs)

  /** MatrixFilterRows (`MatrixIR.scala:483`). */
  def filterRows(p: Column): MatrixTable = copy(rows = rows.filter(p))

  /** MatrixMapRows / annotate_rows (`MatrixIR.scala:640`); entry aggs are
    * expressed with `aggregate`/`filter` over the entries array. */
  def annotateRows(cols: (String, Column)*): MatrixTable =
    copy(rows = rows.withColumns(cols.toMap))

  /** MatrixRowsHead (`MatrixIR.scala:816`). */
  def headRows(n: Int): MatrixTable =
    copy(rows = rows.sort(rowKey.map(col(_).asc_nulls_last): _*).limit(n))

  /** MatrixRowsTail (`MatrixIR.scala:858`): last n rows in key order —
    * reversed sort + limit, then restored order (the Table.tail plan). */
  def tailRows(n: Int): MatrixTable =
    copy(rows = rows.sort(rowKey.map(col(_).desc_nulls_first): _*)
      .limit(n).sort(rowKey.map(col(_).asc_nulls_last): _*))

  /** MatrixKeyRowsBy (`MatrixIR.scala:600`): re-key the row axis; the
    * physical sort is deferred like TableKeyBy (our key invariant is
    * lazy), so this validates and swaps metadata. */
  def keyRowsBy(newKey: String*): MatrixTable = {
    newKey.foreach(k => require(rows.columns.contains(k),
      s"key field $k not in row schema"))
    copy(rowKey = newKey)
  }

  /** MatrixExplodeRows (`MatrixIR.scala:752`). */
  def explodeRows(field: String): MatrixTable =
    copy(rows = rows.withColumn(field, explode(col(field))))

  /** MatrixDistinctByRow (`MatrixIR.scala:801`). */
  def distinctByRow(): MatrixTable =
    copy(rows = rows.dropDuplicates(rowKey))

  // ---- col space (driver-side: col counts are small by design) -----------

  /** MatrixFilterCols (`MatrixIR.scala:469`): predicate over col values runs
    * on the driver; entries arrays are re-projected by literal index list
    * (constant-folded, codegen'd). */
  def filterCols(p: Row => Boolean): MatrixTable = {
    val keep = colValues.zipWithIndex.filter { case (r, _) => p(r) }
    chooseCols(keep.map(_._2))
  }

  /** sample_rows (reference `matrixtable.py` `sample_rows`): keep each
    * row with probability `p`, deterministically per (seed, row key) —
    * same per-row hash contract as `Table.sample`. */
  def sampleRows(p: Double, seed: Long = 0L): MatrixTable =
    copy(rows = rows.filter(
      graft.functions.Rand.runif(seed, rowKey.map(col): _*) < lit(p)))

  /** sample_cols: seeded deterministic column subset (col values are
    * driver-resident by contract, so the hash runs driver-side; the
    * entry projection is the literal-index `chooseCols`). */
  def sampleCols(p: Double, seed: Long = 0L): MatrixTable = {
    val keyIdx = colSchema.fieldIndex(colKey.head)
    chooseCols(colValues.zipWithIndex.collect {
      case (r, i) if {
        val h = scala.util.hashing.MurmurHash3
          .stringHash(s"$seed|${r.get(keyIdx)}")
        ((h & 0x7fffffff).toDouble / Int.MaxValue) < p
      } => i
    })
  }

  /** MatrixChooseCols (`MatrixIR.scala:498`). The index list is always a
    * literal, so emit a plain `array(element_at(…), …)` projection — fully
    * codegen'd, unlike `transform` over a literal array (higher-order
    * functions fall back to interpreted eval). */
  def chooseCols(indices: IndexedSeq[Int]): MatrixTable =
    copy(
      rows = rows.withColumn(MatrixTable.EntriesField,
        array(indices.map(i => try_element_at(entries, lit(i + 1))): _*)),
      colValues = indices.map(colValues))

  /** MatrixColsHead / MatrixColsTail (`MatrixIR.scala:830,858`). */
  def headCols(n: Int): MatrixTable = chooseCols(0 until math.min(n, nCols))
  def tailCols(n: Int): MatrixTable =
    chooseCols(math.max(0, nCols - n) until nCols)

  /** MatrixCollectColsByKey (`MatrixIR.scala:512`): group columns by col
    * key; every entry field becomes an ARRAY of the group's values (and
    * non-key col fields become arrays on the col side). Groups are
    * computed on the driver; the entry reshaping is a literal-index array
    * projection — codegen'd, no shuffle. */
  def collectColsByKey(): MatrixTable = {
    val keyIdx = colKey.map(colSchema.fieldIndex)
    val nonKeyIdx = colSchema.fieldNames.indices
      .filterNot(keyIdx.contains)
    val groups: IndexedSeq[(Row, IndexedSeq[Int])] =
      colValues.zipWithIndex
        .groupBy { case (r, _) => Row.fromSeq(keyIdx.map(r.get)) }
        .map { case (k, v) => (k, v.map(_._2)) }
        .toIndexedSeq.sortBy(_._2.head)
    val ef = entrySchema.fieldNames.toSeq
    val newEntries = array(groups.map { case (_, idxs) =>
      struct(ef.map(f =>
        array(idxs.map(i => try_element_at(entries, lit(i + 1))(f)): _*).as(f)): _*)
    }: _*)
    val newColSchema = StructType(
      keyIdx.map(colSchema.fields).toArray ++
        nonKeyIdx.map(i => StructField(colSchema.fields(i).name,
          ArrayType(colSchema.fields(i).dataType))))
    val newColValues = groups.map { case (k, idxs) =>
      Row.fromSeq(k.toSeq ++
        nonKeyIdx.map(i => idxs.map(colValues(_).get(i))))
    }
    copy(
      rows = rows.withColumn(MatrixTable.EntriesField, newEntries),
      colValues = newColValues,
      colSchema = newColSchema)
  }

  /** MatrixExplodeCols (`MatrixIR.scala:872`): explode an array-valued col
    * field — each column is duplicated once per element, entries are
    * duplicated alongside (literal-index projection, no shuffle). */
  def explodeCols(field: String): MatrixTable = {
    val fi = colSchema.fieldIndex(field)
    val elemType = colSchema.fields(fi).dataType
      .asInstanceOf[ArrayType].elementType
    val expanded: IndexedSeq[(Row, Int)] = colValues.zipWithIndex.flatMap {
      case (r, i) =>
        val arr = Option(r.getAs[scala.collection.Seq[Any]](fi))
          .getOrElse(Seq.empty)
        arr.map(v => (Row.fromSeq(r.toSeq.updated(fi, v)), i))
    }
    val idxArr = expanded.map(_._2)
    copy(
      rows = rows.withColumn(MatrixTable.EntriesField,
        array(idxArr.map(i => try_element_at(entries, lit(i + 1))): _*)),
      colValues = expanded.map(_._1),
      colSchema = StructType(colSchema.fields.updated(fi,
        StructField(field, elemType))))
  }

  /** localize_entries (`matrixtable.py:3270`): the rows Table keeping the
    * entries array under `entriesFieldName`, with cols available to the
    * caller via `colsTable`. (Our representation is already localized —
    * this is a rename + re-wrap.) */
  def localizeEntries(entriesFieldName: String): Table =
    Table(rows.withColumnRenamed(MatrixTable.EntriesField, entriesFieldName),
      rowKey, globals)

  /** make_table (`matrixtable.py:4415`): one column per (sample, entry
    * field), named "<sampleKey>.<field>" — a literal wide projection. */
  def makeTable(): Table = {
    val keyIdx = colKey.map(colSchema.fieldIndex)
    val ef = entrySchema.fieldNames.toSeq
    val wide = colValues.zipWithIndex.flatMap { case (cv, j) =>
      val sid = keyIdx.map(cv.get).mkString("_")
      ef.map(f => try_element_at(entries, lit(j + 1))(f).as(s"$sid.$f"))
    }
    Table(rows.select((rowKey.map(col) ++
      rows.columns.filterNot(c => rowKey.contains(c) ||
        c == MatrixTable.EntriesField).map(col) ++ wide): _*),
      rowKey, globals)
  }

  /** MatrixMapCols with entry-scoped aggregation (`MatrixIR.scala:620`,
    * the `annotate_cols(x = hl.agg...)` idiom): per-column aggregates
    * over the entries become new col fields. One coordinate-space
    * shuffle of (rows × cols) partial aggregates, then the per-column
    * results (driver-size by the col contract) attach to colValues. */
  def annotateColsAgg(aggs: (String, Column)*): MatrixTable = {
    val aggedDf = rows
      .select(posexplode(entries).as(Seq("__cidx", "__e")))
      .groupBy(col("__cidx"))
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
    val newFields = aggedDf.schema.fields.tail // drop __cidx
    val agged = aggedDf.collect()
      .map(r => r.getInt(0) -> r.toSeq.tail).toMap
    val nulls = aggs.map(_ => null)
    copy(
      colValues = colValues.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq ++ agged.getOrElse(i, nulls)) },
      colSchema = StructType(colSchema.fields ++ newFields))
  }

  /** rename_duplicates (reference `misc.py:280`): add a col field
    * holding the string col key made unique by appending `_N` to the
    * 2nd+ occurrence (first keeps the bare name — the reference's
    * exact scheme, including skipping suffixed forms that already
    * exist). Col values are driver-side by design. */
  def renameDuplicates(name: String = "unique_id"): MatrixTable = {
    val keyIdx = colSchema.fieldIndex(colKey.head)
    val seen = scala.collection.mutable.Set.empty[String]
    val uniques = colValues.map { r =>
      val s = String.valueOf(r.get(keyIdx))
      val u =
        if (!seen.contains(s)) s
        else Iterator.from(1).map(i => s"${s}_$i")
          .find(!seen.contains(_)).get
      seen += u
      u
    }
    copy(
      colValues = colValues.zip(uniques).map { case (r, u) =>
        Row.fromSeq(r.toSeq :+ u) },
      colSchema = StructType(colSchema.fields :+
        StructField(name, StringType)))
  }

  /** annotate_cols with driver-computed values. */
  def annotateCols(field: String, dt: DataType, f: Row => Any): MatrixTable = {
    val newSchema = StructType(colSchema.fields :+ StructField(field, dt))
    copy(
      colValues = colValues.map(r => Row.fromSeq(r.toSeq :+ f(r))),
      colSchema = newSchema)
  }

  /** MatrixAnnotateRowsTable (`MatrixIR.scala:726`): the
    * `mt.annotate_rows(db.index(mt.row_key))` idiom — left join the row
    * space against a keyed table. Join is positional: the table's key
    * columns are equated with the first `table.key.length` row-key fields
    * (names may differ). `fields` selects which annotation columns to add
    * (default: all non-key columns). Broadcast small tables via
    * `table.broadcastHint`. */
  def annotateRowsTable(table: Table, fields: Seq[String] = Nil)
      : MatrixTable = {
    val n = table.key.length
    require(n > 0 && n <= rowKey.length,
      s"table key (${table.key}) must be a non-empty prefix-match of row key")
    val keep =
      if (fields.nonEmpty) fields
      else table.df.columns.filterNot(table.key.contains).toSeq
    val right = table.df.select(
      (table.key.map(k => col(k).as(s"__rk_$k")) ++ keep.map(col)): _*)
    val cond = rowKey.take(n).zip(table.key)
      .map { case (l, r) => col(l) === col(s"__rk_$r") }
      .reduce(_ && _)
    copy(rows = rows.join(right, cond, "left")
      .drop(table.key.map(k => s"__rk_$k"): _*))
  }

  /** MatrixAnnotateColsTable (`MatrixIR.scala:704`): join col fields
    * against a keyed table — cols live on the driver, so this is a local
    * hash lookup over the collected (small) table. */
  def annotateColsTable(table: Table, fields: Seq[String] = Nil)
      : MatrixTable = {
    require(table.key.length == colKey.length && table.key.nonEmpty,
      "annotateColsTable requires matching key arity")
    val keep =
      if (fields.nonEmpty) fields
      else table.df.columns.filterNot(table.key.contains).toSeq
    val tSchema = table.df.schema
    val tKeyIdx = table.key.map(tSchema.fieldIndex)
    val tKeepIdx = keep.map(tSchema.fieldIndex)
    val lookup = table.df.collect()
      .map(r => tKeyIdx.map(r.get) -> tKeepIdx.map(r.get)).toMap
    val cKeyIdx = colKey.map(colSchema.fieldIndex)
    val newVals = colValues.map { r =>
      val anno = lookup.getOrElse(cKeyIdx.map(r.get),
        keep.map(_ => null))
      Row.fromSeq(r.toSeq ++ anno)
    }
    val newSchema = StructType(colSchema.fields ++
      tKeepIdx.map(tSchema.fields))
    copy(colValues = newVals, colSchema = newSchema)
  }

  // ---- entry space --------------------------------------------------------

  /** MatrixFilterEntries (`MatrixIR.scala:689`): failing entries become
    * missing (null), preserving the matrix shape. */
  def filterEntries(p: Column => Column): MatrixTable =
    copy(rows = rows.withColumn(MatrixTable.EntriesField,
      transform(entries, e => when(p(e), e))))

  /** MatrixMapEntries (`MatrixIR.scala:609`): `f(entry, colIdx)` must build a
    * struct. Col fields come in via `colFieldArray`. */
  def mapEntries(f: (Column, Column) => Column): MatrixTable =
    copy(rows = rows.withColumn(MatrixTable.EntriesField,
      transform(entries, (e, i) => when(e.isNotNull, f(e, i)))))

  /** unfilter_entries: replace missing entries with an all-null struct. */
  def unfilterEntries(): MatrixTable = {
    val nullStruct = struct(entrySchema.fields.map(f =>
      lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
    copy(rows = rows.withColumn(MatrixTable.EntriesField,
      transform(entries, e => coalesce(e, nullStruct))))
  }

  // ---- aggregation --------------------------------------------------------

  /** MatrixAggregateRowsByKey (`MatrixIR.scala:533`): group rows by a new
    * key, aggregating entries element-wise (the reference's `AggElements`
    * zip-aggregation). Implemented in coordinate space: posexplode →
    * groupBy(key, colIdx) → re-assemble dense arrays — two shuffles of
    * (groups × cols) size, the scalable plan for wide aggregation. */
  def aggregateRowsByKey(newKey: Seq[(String, Column)],
      entryAggs: Seq[(String, Column => Column)]): MatrixTable = {
    val keyed = rows.select(
      newKey.map { case (n, c) => c.as(n) } :+
        posexplode(entries).as(Seq("__cidx", "__e")): _*)
    val aggExprs = entryAggs.map { case (n, f) => f(col("__e")).as(n) }
    val grouped = keyed.groupBy(
      (newKey.map(n => col(n._1)) :+ col("__cidx")): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    val entryStruct = struct(entryAggs.map(n => col(n._1)): _*)
    val reassembled = MatrixTable.denseEntriesAgg(grouped,
      newKey.map(n => col(n._1)), col("__cidx"), entryStruct,
      nCols, entryAggs.length)
    copy(rows = reassembled, rowKey = newKey.map(_._1))
  }

  /** MatrixAggregateColsByKey (`MatrixIR.scala:551`): aggregate entry groups
    * within each row, grouping columns by col key (computed on the driver);
    * nested higher-order fold per group — no shuffle at all. */
  def aggregateColsByKey(entryAggs: Seq[(String, (Column, Column) => Column,
      Column)]): MatrixTable = {
    val keyIdx = colKey.map(colSchema.fieldIndex)
    val groups: IndexedSeq[(Row, IndexedSeq[Int])] =
      colValues.zipWithIndex
        .groupBy { case (r, _) => Row.fromSeq(keyIdx.map(r.get)) }
        .map { case (k, v) => (k, v.map(_._2)) }
        .toIndexedSeq.sortBy(_._2.head)
    val newEntries = array(groups.map { case (_, idxs) =>
      val idxArr = array(idxs.map(i => lit(i)): _*)
      struct(entryAggs.map { case (n, seqOp, zero) =>
        aggregate(idxArr, zero,
          (acc, i) => seqOp(acc, try_element_at(entries, i + 1))).as(n)
      }: _*)
    }: _*)
    val newColSchema = StructType(keyIdx.map(colSchema.fields).toArray)
    copy(
      rows = rows.withColumn(MatrixTable.EntriesField, newEntries),
      colValues = groups.map(_._1),
      colSchema = newColSchema,
      colKey = colKey)
  }

  /** Whole-matrix entry aggregation (aggregate_entries). */
  def aggregateEntries(aggs: (String, Column => Column)*): DataFrame = {
    val flat = rows.select(posexplode(entries).as(Seq("__cidx", "__e")))
    flat.agg(aggs.head._2(col("__e")).as(aggs.head._1),
      aggs.tail.map { case (n, f) => f(col("__e")).as(n) }: _*)
  }

  /** MatrixTable.summarize (`matrixtable.py` `summarize`): per-field
    * profiles for the row and entry spaces — `Table.summarize` over the
    * rows table and the entries table, each row tagged with its field
    * space. (Cols are driver-local by representation; include them via
    * `colsTable.summarize()` when needed.) */
  def summarize(): DataFrame =
    rowsTable.summarize().withColumn("space", lit("row"))
      .unionByName(entriesTable.summarize()
        .withColumn("space", lit("entry")))

  // ---- to tables (MatrixRowsTable/ColsTable/EntriesTable) -----------------

  /** MatrixRowsTable (`TableIR.scala:2423`). */
  def rowsTable: Table =
    Table(rows.drop(MatrixTable.EntriesField), rowKey, globals)

  /** MatrixColsTable (`TableIR.scala:2436`): a local relation over the
    * driver-side `colValues`, so collecting it, or a projection of it,
    * runs no Spark job. */
  def colsTable: Table =
    Table(spark.createDataFrame(colValues.asJava, colSchema), colKey, globals)

  /** MatrixEntriesTable (`TableIR.scala:2447`) — the coordinate
    * representation: one row per (row, col) with non-missing entry, row
    * fields + col fields + entry fields. Col fields joined by broadcast. */
  def entriesTable: Table = {
    val exploded = rows.select(
      rows.columns.filterNot(_ == MatrixTable.EntriesField).map(col) :+
        posexplode(entries).as(Seq("col_idx", "__e")): _*)
      .filter(col("__e").isNotNull)
    // one select, not a per-field withColumn fold: each withColumn
    // re-analyzes the whole plan, which is quadratic driver time when
    // the entries expression tree is large
    val withEntry = exploded.select(
      exploded.columns.filterNot(_ == "__e").map(col) ++
        entrySchema.fieldNames.map(f => col("__e")(f).as(f)): _*)
    val colsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        colValues.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(i +: r.toSeq) }.toSeq, 1),
      StructType(StructField("col_idx", IntegerType) +: colSchema.fields))
    Table(withEntry.join(broadcast(colsDf), Seq("col_idx")),
      rowKey ++ colKey, globals)
  }

  // ---- combinators --------------------------------------------------------

  /** MatrixUnionRows (`MatrixIR.scala:792`): same col set required. */
  def unionRows(other: MatrixTable): MatrixTable = {
    require(other.nCols == nCols, "unionRows requires identical cols")
    copy(rows = rows.unionByName(other.rows))
  }

  /** MatrixUnionCols (`MatrixIR.scala:569`): join on row key, concat entry
    * arrays. */
  def unionCols(other: MatrixTable): MatrixTable = {
    val r = other.rows.select(
      (other.rowKey.map(col) :+
        col(MatrixTable.EntriesField).as("__e2")): _*)
    copy(
      rows = rows.join(r, rowKey.toSeq, "inner")
        .withColumn(MatrixTable.EntriesField,
          concat(entries, col("__e2"))).drop("__e2"),
      colValues = colValues ++ other.colValues)
  }

  // ---- native format ------------------------------------------------------

  /** Export as a reference-readable hail-native `.mt` directory
    * (`sources.HailNativeWrite`); `write` remains the parquet-native
    * graft-to-graft path. */
  def writeHail(path: String): Unit =
    sources.HailNativeWrite.writeMatrixTable(this, path)

  /** Native MatrixTable write (reference `mt.write` /
    * `MatrixNativeWriter`): rows (entries array included) persist as
    * the native TABLE format — key-sorted parquet + key-range manifest,
    * so reads get file pruning on the row key — and the driver-size col
    * values persist as a small parquet with an explicit `__col_idx`
    * (parquet read order is not positional), colKey in a sidecar
    * manifest. */
  def write(path: String): Unit = {
    Table(rows, rowKey, globals).write(s"$path/rows")
    val withIdx = colValues.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    val colsSchema = StructType(colSchema.fields :+
      StructField("__col_idx", IntegerType, false))
    spark.createDataFrame(
      spark.sparkContext.parallelize(withIdx, 1), colsSchema)
      .write.mode("overwrite").parquet(s"$path/cols")
    val meta = NativeFormat.manifestJson(colKey, Map.empty)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/colmeta/metadata.json"), true)
    out.write(meta.getBytes("UTF-8")); out.close()
  }

  /** checkpoint (reference `matrixtable.py` `checkpoint`): write the
    * native format and read back — lineage truncation + disk pin, rows
    * key-sorted on the way back when the file ranges verify. */
  def checkpoint(path: String): MatrixTable = {
    write(path)
    MatrixTable.read(spark, path)
  }
}

object MatrixTable {
  val EntriesField = "entries"

  /** Native MatrixTable read (reference `hl.read_matrix_table`): the
    * inverse of `MatrixTable.write`. Row data comes back through the
    * native Table format (manifest key + file-range pruning); col
    * values re-order by the persisted `__col_idx` so the entries array
    * stays aligned. */
  def read(spark: SparkSession, path: String): MatrixTable =
    withCols(spark, path, Table.read(spark, s"$path/rows"))

  /** Keyed row-range read of the native MatrixTable format: the rows
    * come through `Table.queryTable`, so the manifest's per-file key
    * ranges prune FILES driver-side and the key predicate still reaches
    * the surviving parquet scans (row-group stats) — a 100 TB matrix
    * answers a locus-range query without touching the rest. */
  def readRange(spark: SparkSession, path: String, lo: Any, hi: Any,
      inclusiveHi: Boolean = false): MatrixTable =
    withCols(spark, path,
      Table.queryTable(spark, s"$path/rows", lo, hi, inclusiveHi))

  private def withCols(spark: SparkSession, path: String, rowsT: Table)
      : MatrixTable = {
    val (colKey, globals) = NativeFormat.readManifest(spark,
      s"$path/colmeta")
    val colsDf = spark.read.parquet(s"$path/cols")
    val colRows = colsDf.collect()
      .sortBy(_.getAs[Int]("__col_idx"))
    val colSchema = StructType(
      colsDf.schema.fields.filterNot(_.name == "__col_idx"))
    val idxPos = colsDf.schema.fieldIndex("__col_idx")
    val colValues = colRows.map { r =>
      Row.fromSeq(r.toSeq.patch(idxPos, Nil, 1))
    }.toIndexedSeq
    MatrixTable(rowsT.df, rowsT.key, colValues, colSchema, colKey,
      rowsT.globals ++ globals)
  }

  /** Build a MatrixTable from a coordinate DataFrame (one row per
    * (rowKey, colIdx) observation) — the inverse of `entriesTable`.
    * Missing (rowKey, col) cells become null entries; behavior on
    * duplicate (rowKey, colIdx) coordinates is undefined. Used by
    * readers (e.g. VCF: variant × sample) and by `to_matrix_table`.
    *
    * Two physical strategies behind one contract: for small column
    * counts the entries array is assembled directly in the aggregation
    * as one `first(entry WHERE idx = i)` slot per column — a single
    * declarative aggregate (struct buffers plan it sort-based, but the
    * sort is partition-local under the one hash exchange), no per-row
    * map allocation and no interpreted higher-order densify (~20%
    * faster at n = 7). Wide matrices (VCF-scale cols) would explode
    * that into thousands of planner expressions, so they keep the
    * collect_list → map → positional-lookup path, whose
    * ObjectHashAggregate buffers one row's cells — O(n) per group —
    * regardless of n. */
  def fromCoordinates(
      coord: DataFrame,
      rowKey: Seq[String],
      colIdx: Column,
      entryFields: Seq[(String, Column)],
      colValues: IndexedSeq[Row],
      colSchema: StructType,
      colKey: Seq[String],
      rowFields: Seq[(String, Column)] = Nil): MatrixTable = {
    val entryStruct = struct(
      entryFields.map { case (f, c) => c.as(f) }: _*)
    val base = denseEntriesAgg(coord, rowKey.map(col), colIdx, entryStruct,
      colValues.length, entryFields.length, rowFields)
    MatrixTable(base, rowKey, colValues, colSchema, colKey)
  }

  /** Shared cell → dense-entries-array aggregation (see `fromCoordinates`
    * scaladoc for the two physical strategies). Groups `df` by `keyCols`
    * and emits `EntriesField`: an n-slot array with `entryStruct` at
    * position `colIdx` and null for absent cells. */
  private[graft] def denseEntriesAgg(df: DataFrame, keyCols: Seq[Column],
      colIdx: Column, entryStruct: Column, n: Int, nEntryFields: Int,
      rowFields: Seq[(String, Column)] = Nil): DataFrame = {
    val idx = colIdx.cast("int")
    if (n.toLong * math.max(1, nEntryFields) <= 1024)
      df.groupBy(keyCols: _*)
        .agg(
          array((0 until n).map(i =>
            first(when(idx === i, entryStruct),
              ignoreNulls = true)): _*).as(EntriesField),
          rowFields.map { case (f, c) => first(c).as(f) }: _*)
    else
      df.groupBy(keyCols: _*)
        .agg(
          map_from_entries(collect_list(struct(idx, entryStruct)))
            .as("__m"),
          rowFields.map { case (f, c) => first(c).as(f) }: _*)
        .withColumn(EntriesField,
          transform(sequence(lit(0), lit(n - 1)),
            i => element_at(col("__m"), i)))
        .drop("__m")
  }
}
