package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed distributed table: a `DataFrame` of row structs, an ordered key, and
  * a scalar `globals` struct — the core relational abstraction of the engine
  * (reference: hail `TableIR`, `hail/hail/src/is/hail/expr/ir/TableIR.scala:59`,
  * `types/TableType.scala`).
  *
  * Design (Spark-first, not a port):
  *   - rows are a plain `DataFrame`; Catalyst owns codegen/pushdown/shuffles.
  *   - the key is metadata + a lazily-enforced physical invariant:
  *     `repartitionByRange(key) + sortWithinPartitions(key)` is only applied
  *     when an order-sensitive operator (scan, distinct-keep-first, head/tail,
  *     native write) needs it; pure relational ops stay declarative so
  *     Catalyst can elide redundant exchanges.
  *   - globals are a small driver-side map, merged on joins
  *     (reference `TableJoin.typ`, `TableIR.scala:2247`) and available to
  *     expressions as literal columns — the Spark analogue of a broadcast
  *     one-row struct.
  *
  * At cluster scale the key invariant maps to Spark's `RangePartitioning`,
  * which the planner reuses across stages; `filterIntervals` becomes a key
  * range predicate that reaches Parquet row-group stats (file skipping).
  */
final case class Table(
    df: DataFrame,
    key: Seq[String] = Nil,
    globals: Map[String, Any] = Map.empty,
    keySorted: Boolean = false) {

  def spark: SparkSession = df.sparkSession
  private def keyCols: Seq[Column] = key.map(col)

  /** Physically establish the key-order invariant (range partition + sort).
    * No-op if already established. (reference: `TableKeyBy` lowering via
    * `LowerAndExecuteShuffles.scala:15`; here it is ONE Catalyst exchange,
    * not an eager temp-file shuffle.) */
  def ensureKeyOrder(): Table =
    if (key.isEmpty || keySorted) this
    else copy(
      df = df.repartitionByRange(keyCols.map(_.asc_nulls_last): _*)
        .sortWithinPartitions(keyCols.map(_.asc_nulls_last): _*),
      keySorted = true)

  // ---- keying -------------------------------------------------------------

  /** TableKeyBy (`TableIR.scala:2055`). Sort deferred until required. */
  def keyBy(newKey: String*): Table = {
    val stillSorted = keySorted && newKey.length <= key.length &&
      key.take(newKey.length) == newKey
    copy(key = newKey, keySorted = stillSorted)
  }

  /** add_index (reference `table.py` `add_index` — a scan count over key
    * order): global 0-based contiguous row index. Two-phase distributed
    * scan (per-partition partials + broadcast prefix offsets, one lazy
    * DAG via `Scans.runningAgg`) — NOT `monotonically_increasing_id`,
    * which is neither contiguous nor key-ordered. */
  def addIndex(name: String = "idx"): Table = {
    require(key.nonEmpty, "addIndex requires a key")
    copy(df = operators.Scans.runningCount(df, key, name,
      inclusive = false), keySorted = false)
  }

  /** Seeded row sample (reference `table.py` `sample`): keeps each row
    * with probability `p`, deterministically per (seed, key) — rerunning
    * the query or re-reading the table samples the SAME rows, unlike
    * `df.sample` whose per-partition RNG changes with partitioning. */
  def sample(p: Double, seed: Long = 0L): Table = {
    require(key.nonEmpty, "sample requires a key for determinism")
    filter(functions.Rand.runif(seed, keyCols: _*) < lit(p))
  }

  // ---- row transforms -----------------------------------------------------

  /** TableFilter (`TableIR.scala:2143`) → `df.filter`; predicate pushdown is
    * Catalyst's job. Order-preserving. */
  def filter(p: Column): Table = copy(df = df.filter(p))

  /** TableMapRows / annotate (`TableIR.scala:2367`): add or overwrite fields.
    * Order-preserving (no shuffle) — but overwriting a KEY field changes
    * the values the sort invariant is stated over, so that drops it. */
  def annotate(cols: (String, Column)*): Table =
    copy(df = df.withColumns(cols.toMap),
      keySorted = keySorted && !cols.exists(c => key.contains(c._1)))

  /** select a subset of fields (key fields are always retained). */
  def selectFields(fields: String*): Table = {
    val keep = (key ++ fields).distinct
    copy(df = df.select(keep.map(col): _*))
  }

  def drop(fields: String*): Table = {
    require(!fields.exists(key.contains), s"cannot drop key field of $key")
    copy(df = df.drop(fields: _*))
  }

  /** Table.summarize (`table.py:4566`): one profile row per field —
    * defined/distinct counts, numeric min/max/mean, string min/max.
    * The mean follows the repo's cross-engine convention (DECIMAL(18,4)
    * partial sums cast to double, divided by the defined count) so an
    * external engine reproduces it bit-for-bit. ONE aggregation job for
    * the whole schema (all per-field aggregates ride one map-side
    * combine); the per-field unpivot is a driver-free generator over
    * the single result row. */
  def summarize(): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, NumericType, StringType}
    val fields = df.schema.fields.toSeq
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val isNum = f.dataType.isInstanceOf[NumericType]
      val isStr = f.dataType == StringType
      Seq(
        org.apache.spark.sql.functions.count(c).as(s"__nd_${f.name}"),
        countDistinct(c).as(s"__dist_${f.name}"),
        (if (isNum) round(min(c).cast("double"), 6)
         else lit(null).cast("double")).as(s"__minn_${f.name}"),
        (if (isNum) round(max(c).cast("double"), 6)
         else lit(null).cast("double")).as(s"__maxn_${f.name}"),
        (if (isNum) round(sum(c.cast(DecimalType(18, 4))).cast("double") /
           org.apache.spark.sql.functions.count(c), 6)
         else lit(null).cast("double")).as(s"__mean_${f.name}"),
        (if (isStr) min(c) else lit(null).cast("string"))
          .as(s"__mins_${f.name}"),
        (if (isStr) max(c) else lit(null).cast("string"))
          .as(s"__maxs_${f.name}"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = fields.map { f =>
      struct(lit(f.name).as("field"),
        lit(f.dataType.simpleString).as("dtype"),
        col(s"__nd_${f.name}").as("n_defined"),
        col(s"__dist_${f.name}").as("n_distinct"),
        col(s"__minn_${f.name}").as("min_num"),
        col(s"__maxn_${f.name}").as("max_num"),
        col(s"__mean_${f.name}").as("mean"),
        col(s"__mins_${f.name}").as("min_str"),
        col(s"__maxs_${f.name}").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("__s")).select(col("__s.*"))
  }

  /** TableRename (`TableIR.scala:2570`). */
  def rename(m: (String, String)*): Table = {
    val mm = m.toMap
    copy(
      df = df.withColumnsRenamed(mm),
      key = key.map(k => mm.getOrElse(k, k)))
  }

  /** TableExplode (`TableIR.scala:2394`): flatten an array field into rows. */
  def explodeField(field: String): Table =
    copy(df = df.withColumn(field, explode(col(field))), keySorted = false)

  /** TableExplode on a NESTED path (`TableIR.scala:2394` takes a full
    * path, not just a top-level field): one output row per element of
    * the array at `path`, with that array position replaced by the
    * element and every enclosing struct preserved. `withField` rewrites
    * the nested slot without reshaping the row. */
  def explodePath(path: String*): Table = {
    require(path.nonEmpty)
    if (path.length == 1) explodeField(path.head)
    else copy(df = df
      .withColumn("__elt", explode(col(path.mkString("."))))
      .withColumn(path.head,
        col(path.head).withField(path.tail.mkString("."), col("__elt")))
      .drop("__elt"), keySorted = false)
  }

  /** TableMapPartitions (`TableIR.scala:2338`). */
  def mapPartitionsRows(f: Iterator[Row] => Iterator[Row],
      schema: org.apache.spark.sql.types.StructType): Table =
    copy(df = df.mapPartitions(f)(
      org.apache.spark.sql.Encoders.row(schema)).toDF(), keySorted = false)

  // ---- external-process apply ---------------------------------------------

  /** TableToTableApply via an external process (reference
    * `expr/ir/functions/RelationalFunctions.scala` registry — the shape
    * VEP/Nirvana annotators run as, `methods/qc.py` `vep`): every
    * partition streams its rows to `cmd` as JSON lines on stdin and
    * parses the process's stdout as JSON lines with `outSchema`. Built
    * on `RDD.pipe`, which owns subprocess lifecycle and stderr pumping,
    * so an annotator scales with partitions like any other map — no
    * driver round-trip. Output cardinality is the process's business
    * (filters and fan-out both work). */
  def pipeJson(cmd: Seq[String],
      outSchema: org.apache.spark.sql.types.StructType,
      env: Map[String, String] = Map.empty): Table = {
    val out = df.toJSON.rdd.pipe(cmd, env)
    val ds = spark.createDataset(out)(
      org.apache.spark.sql.Encoders.STRING)
    copy(df = ds.select(from_json(col("value"), outSchema).as("__r"))
      .select("__r.*"), keySorted = false)
  }

  /** `pipeJson` with TSV framing for line-oriented unix tools: rows go
    * out via codegen'd `to_csv` (tab-separated, no header) and come back
    * through `from_csv` with `outSchema` — both stay inside whole-stage
    * codegen on either side of the subprocess hop. */
  def pipeTsv(cmd: Seq[String],
      outSchema: org.apache.spark.sql.types.StructType,
      env: Map[String, String] = Map.empty): Table = {
    import scala.jdk.CollectionConverters._
    val opts = Map("sep" -> "\t")
    val lines = df.select(to_csv(struct(df.columns.map(col): _*),
      opts.asJava).as("value"))
    val out = lines.as(org.apache.spark.sql.Encoders.STRING)
      .rdd.pipe(cmd, env)
    val ds = spark.createDataset(out)(
      org.apache.spark.sql.Encoders.STRING)
    copy(df = ds.select(from_csv(col("value"), outSchema, opts).as("__r"))
      .select("__r.*"), keySorted = false)
  }

  // ---- globals ------------------------------------------------------------

  /** RelationalLetTable (`TableIR.scala` RelationalLet*): name a shared
    * intermediate so downstream consumers reuse ONE materialization
    * instead of recomputing the subtree per reference — Spark-native CSE
    * via persist; call `unpersist()` when the let scope ends. */
  def cached(level: org.apache.spark.storage.StorageLevel =
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): Table =
    copy(df = df.persist(level))

  def unpersist(): Table = copy(df = df.unpersist())

  /** TableMapGlobals (`TableIR.scala:2380`). */
  def annotateGlobals(kvs: (String, Any)*): Table =
    copy(globals = globals ++ kvs)

  /** Reference a global as a literal column (broadcast scalar). */
  def global(name: String): Column = lit(globals(name))

  // ---- ordering / key-ordered ops ----------------------------------------

  /** TableOrderBy (`TableIR.scala:2528`) — total sort by arbitrary fields.
    * Spark's RangePartitioner is already the sampled distributed sort the
    * reference hand-rolls in `LowerDistributedSort.scala`. Drops the key
    * (as in the reference: ordering fields replace it). */
  def orderBy(cols: Column*): Table =
    copy(df = df.orderBy(cols: _*), key = Nil, keySorted = false)

  /** TableHead (`TableIR.scala:2156`) — first n rows in key order.
    * `sort(key).limit(n)` compiles to TakeOrderedAndProject: per-
    * partition top-n merged on the driver, NO exchange — so head never
    * pays the `ensureKeyOrder` range shuffle (which would sort ALL rows
    * to keep n). */
  def head(n: Int): Table =
    if (key.isEmpty) copy(df = df.limit(n))
    else copy(df = df.sort(keyCols.map(_.asc_nulls_last): _*).limit(n),
      keySorted = false)

  /** TableTail (`TableIR.scala:2167`) — last n rows in key order. */
  def tail(n: Int): Table = {
    require(key.nonEmpty, "tail requires a key")
    val desc = keyCols.map(_.desc_nulls_first)
    copy(df = df.sort(desc: _*).limit(n)
      .sort(keyCols.map(_.asc_nulls_last): _*), keySorted = false)
  }

  /** TableDistinct (`TableIR.scala:2459`): keep the FIRST row per key in key
    * order (order-sensitive, unlike `dropDuplicates`). One shuffle:
    * window over the key partition. With no explicit tieBreak the winner is
    * made deterministic by ordering on ALL remaining columns (a zero-column
    * `Window.orderBy()` would pick a nondeterministic row). */
  def distinctByKey(tieBreak: Seq[Column] = Nil): Table = {
    require(key.nonEmpty, "distinct requires a key")
    val tb =
      if (tieBreak.nonEmpty) tieBreak
      else df.columns.filterNot(key.contains).map(col).toSeq
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(tb.map(_.asc_nulls_last): _*)
    copy(df = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn"))
  }

  /** Skew diagnostic for a prospective shuffle key: the top-k hottest
    * key values with their row counts and the count/mean-count ratio.
    * A ratio in the hundreds says the plain shuffle on this key will
    * straggle at scale and the join belongs behind `Skew.saltedJoin`
    * (or AQE skew handling); a ratio near 1 says it will not. ONE
    * aggregation shuffle; the top-k is TakeOrderedAndProject, never a
    * global sort materialization — safe to run on the full corpus
    * before committing to a partitioning. */
  def skewStats(keys: Seq[String], k: Int = 10): DataFrame = {
    require(keys.nonEmpty, "skewStats requires at least one key column")
    val cnt = org.apache.spark.sql.functions.count(lit(1))
    val counts = df.groupBy(keys.map(col): _*).agg(cnt.as("cnt"))
    // mean rows-per-key as a broadcast 1-row join, one lazy DAG — the
    // duplicated aggregate subtree collapses to a ReusedExchange
    val mean = counts.agg(
      (sum(col("cnt")) / cnt).cast("double").as("__mean"))
    counts.crossJoin(broadcast(mean))
      .withColumn("ratio", col("cnt").cast("double") / col("__mean"))
      .drop("__mean")
      .orderBy(col("cnt").desc +: keys.map(col(_).asc): _*)
      .limit(k)
  }

  /** Byte-mass companion to `skewStats`: ranks keys by the SUM of a
    * per-row mass expression (typically `octet_length` of the wide
    * columns, or the full serialized row) instead of the row count —
    * the skew mode that straggles shuffles at EQUAL counts, when one
    * key's rows are 100× wider than the rest. Same plan shape: one
    * aggregation shuffle, broadcast mean, TakeOrderedAndProject.
    * Output: keys, cnt, mass, ratio (mass / mean key mass). */
  def skewStatsByMass(keys: Seq[String], mass: Column, k: Int = 10)
      : DataFrame = {
    require(keys.nonEmpty, "skewStats requires at least one key column")
    val cnt = org.apache.spark.sql.functions.count(lit(1))
    val counts = df.groupBy(keys.map(col): _*).agg(cnt.as("cnt"),
      sum(mass.cast("double")).as("mass"))
    val mean = counts.agg(
      (sum(col("mass")) / cnt).cast("double").as("__mean"))
    counts.crossJoin(broadcast(mean))
      .withColumn("ratio", col("mass") / col("__mean"))
      .drop("__mean")
      .orderBy(col("mass").desc +: keys.map(col(_).asc): _*)
      .limit(k)
  }

  /** TableRepartition (`TableIR.scala:2184`). The shuffle-free branch
    * (hail's `naive_coalesce`) merges partitions whose grouping Spark
    * does not promise to be adjacent, so it conservatively drops the
    * sort invariant too. */
  def repartitionTo(n: Int, shuffle: Boolean = false): Table =
    if (!shuffle) copy(df = df.coalesce(n), keySorted = false)
    else if (key.nonEmpty)
      copy(df = df.repartitionByRange(n, keyCols: _*), keySorted = false)
    else copy(df = df.repartition(n), keySorted = false)

  /** checkpoint (reference `table.py` `checkpoint`): write to the native
    * format and immediately read back — truncates lineage and pins the
    * result on disk. The read-back comes back `keySorted` when the
    * written file ranges verify disjoint (`Table.read`), so downstream
    * order-sensitive ops pay no re-sort. */
  def checkpoint(path: String): Table = {
    write(path)
    Table.read(spark, path)
  }

  // ---- joins --------------------------------------------------------------

  /** TableJoin (`TableIR.scala:2216`): equi-join on a shared key prefix;
    * inner/left/right/outer only (reference `require` at `:2221-2225`);
    * merges globals. Catalyst picks SMJ vs broadcast. */
  def join(right: Table, joinType: String = "inner"): Table = {
    require(Set("inner", "left", "right", "outer").contains(joinType),
      s"unsupported join type $joinType")
    val joinKey = key.zip(right.key).takeWhile { case (a, b) => a == b }
      .map(_._1)
    require(joinKey.nonEmpty, "join requires a shared key prefix")
    copy(
      df = df.join(right.df, joinKey, joinType),
      globals = globals ++ right.globals,
      keySorted = false)
  }

  /** TableLeftJoinRightDistinct (`TableIR.scala:2315`) — the `Table.index`
    * annotation join: left join against a key-distinct right side. The
    * distinct contract is "first row per key", made deterministic by
    * ordering on all non-key columns (the reference keeps the first row in
    * key order; with no secondary order defined we pin the full row order).
    * Small right sides should be broadcast by the caller via
    * `broadcastHint`. */
  def leftJoinRightDistinct(right: Table): Table = {
    val r = right.distinctByKey() // deterministic: all-columns tiebreak
    copy(df = df.join(r.df, key.intersect(right.key), "left"),
      globals = globals ++ right.globals, keySorted = false)
  }

  /** semi/anti joins (python `semi_join`/`anti_join`, `table.py:3260`). */
  def semiJoin(right: Table): Table =
    copy(df = df.join(right.df, key.intersect(right.key), "left_semi"))
  def antiJoin(right: Table): Table =
    copy(df = df.join(right.df, key.intersect(right.key), "left_anti"))

  def broadcastHint: Table = copy(df = broadcast(df))

  /** TableUnion (`TableIR.scala:2414`). */
  def union(others: Table*): Table =
    copy(df = others.foldLeft(df)((a, t) => a.unionByName(t.df)),
      keySorted = false)

  /** TableMultiWayZipJoin (`TableIR.scala:2291`): n-way outer zip-join of
    * like-typed keyed tables — one row per (key, occurrence) present in
    * ANY input, with `fieldName` = fixed-length array of value structs
    * (element i from table i, null where that table lacks the key).
    * Duplicate-keyed rows zip positionally like the reference (the k-th
    * row of a key in table i aligns with the k-th row of that key
    * elsewhere; within-key order is whatever the shuffle delivered, as in
    * the reference's post-shuffle zip). Powers multi-cohort merges / the
    * VDS combiner. One union + one grouped shuffle — no iterated joins,
    * so cost is linear in total input at any n. */
  def multiWayZipJoin(others: Seq[Table], fieldName: String = "data")
      : Table = {
    val all = this +: others
    require(all.forall(_.key == key) && key.nonEmpty,
      "multiWayZipJoin requires identical non-empty keys")
    val valueFields = df.columns.filterNot(key.contains).toSeq
    val tagged = all.zipWithIndex.map { case (t, i) =>
      t.df.select((key.map(col) :+ lit(i).as("__i") :+
        struct(valueFields.map(col): _*).as("__v")): _*)
    }
    val unioned = tagged.reduce(_ unionByName _)
    val tableIdxs = sequence(lit(0), lit(all.length - 1))
    val zipped = unioned.groupBy(keyCols: _*)
      .agg(collect_list(struct(col("__i"), col("__v"))).as("__all"))
      // rows per key = max occurrences over the inputs
      .withColumn("__n",
        org.apache.spark.sql.functions.aggregate(tableIdxs, lit(0),
          (acc, i) =>
            greatest(acc, size(org.apache.spark.sql.functions.filter(
              col("__all"), x => x("__i") === i)))))
      .withColumn("__occ", explode(sequence(lit(0), col("__n") - 1)))
      // `get` is 0-based and null past the end (element_at would throw
      // under ANSI when a table has fewer occurrences of the key)
      .withColumn(fieldName, transform(tableIdxs, i =>
        get(org.apache.spark.sql.functions.filter(col("__all"),
          x => x("__i") === i), col("__occ"))("__v")))
      .drop("__all", "__n", "__occ")
    Table(zipped, key, all.map(_.globals).reduce(_ ++ _))
  }

  // ---- aggregation --------------------------------------------------------

  /** TableAggregate (ir-gen `Main.scala:1125`) — whole-table agg to one Row.
    * Spark's partial→final agg is the reference's tree aggregation. */
  def aggregate(exprs: Column*): Row = df.agg(exprs.head, exprs.tail: _*).head()

  /** TableAggregateByKey (`TableIR.scala:2503`): group by the CURRENT key. */
  def aggregateByKey(exprs: (String, Column)*): Table = {
    require(key.nonEmpty, "aggregateByKey requires a key")
    val agged = df.groupBy(keyCols: _*)
      .agg(exprs.head._2.as(exprs.head._1),
        exprs.tail.map { case (n, c) => c.as(n) }: _*)
    copy(df = agged, keySorted = false)
  }

  /** TableKeyByAndAggregate (`TableIR.scala:2472`): group by NEW key exprs —
    * Spark's partial hash agg → shuffle → final is exactly the reference's
    * `StreamBufferedAggregate` plan. */
  def keyByAndAggregate(newKey: Seq[(String, Column)],
      exprs: Seq[(String, Column)]): Table = {
    val keyed = df.groupBy(newKey.map { case (n, c) => c.as(n) }: _*)
      .agg(exprs.head._2.as(exprs.head._1),
        exprs.tail.map { case (n, c) => c.as(n) }: _*)
    Table(keyed, newKey.map(_._1), globals)
  }

  // ---- interval / key-range ops ------------------------------------------

  /** TableFilterIntervals (`TableIR.scala:2590`): keep rows whose (single)
    * key falls in any [start, end) interval. Declarative OR-of-ranges so the
    * predicate reaches Parquet min/max stats → file/row-group skipping at
    * scale (the reference's partition-pruning path). */
  def filterIntervals(intervals: Seq[(Any, Any)], keep: Boolean = true)
      : Table = {
    require(key.nonEmpty, "filterIntervals requires a key")
    val k = keyCols.head
    val p = intervals.map { case (s, e) => k >= lit(s) && k < lit(e) }
      .reduce(_ || _)
    filter(if (keep) p else !p)
  }

  /** Locus-aware TableFilterIntervals over a (contig, position) compound
    * key (reference `ExtractIntervalFilters.scala:27-60`): each genomic
    * interval ((c1,p1), (c2,p2)) expands to contig-equality + position-
    * range disjuncts in reference-genome contig order — plain column
    * predicates that reach Parquet min/max stats for file skipping (an
    * opaque global-position expression would not push down). */
  def filterLocusIntervals(
      intervals: Seq[((String, Int), (String, Int))],
      keep: Boolean = true)(implicit rg: functions.ReferenceGenome)
      : Table = {
    require(key.length >= 2,
      "filterLocusIntervals requires a (contig, position) key prefix")
    val c = col(key(0)); val p = col(key(1))
    val pred = intervals.map { case ((c1, p1), (c2, p2)) =>
      val i1 = rg.contigs.indexOf(c1)
      val i2 = rg.contigs.indexOf(c2)
      require(i1 >= 0 && i2 >= 0 && i1 <= i2,
        s"bad interval contigs $c1..$c2 for genome ${rg.name}")
      if (i1 == i2) c === c1 && p >= p1 && p < p2
      else {
        val mid = rg.contigs.slice(i1 + 1, i2)
        val parts = Seq(c === c1 && p >= p1) ++
          (if (mid.nonEmpty) Seq(c.isin(mid: _*)) else Nil) ++
          Seq(c === c2 && p < p2)
        parts.reduce(_ || _)
      }
    }.reduce(_ || _)
    filter(if (keep) pred else !pred)
  }

  // ---- actions ------------------------------------------------------------

  def count(): Long = df.count()
  def collect(): Array[Row] = ensureKeyOrder().df.collect()
  def take(n: Int): Array[Row] = head(n).df.collect()

  // ---- native format ------------------------------------------------------

  /** Native write (reference `TableNativeWriter`, `TableWriter.scala:243`):
    * key-sorted Parquet + a JSON manifest carrying key + globals + the
    * per-file [min, max] range of the leading key (the Spark-native form
    * of the reference's per-partition index/partitioner metadata). The
    * range census is one column-pruned scan of the files just written.
    * `queryTable` prunes files against these ranges driver-side — at
    * 100 TB that skips whole files without even opening their footers,
    * on top of Parquet's own row-group stats inside surviving files. */
  /** Bucketed native write: hash-bucket + sort the table by its key
    * into `nBuckets` files registered as catalog table `tableName`.
    * Two tables bucketed the same way join WITHOUT a shuffle — the
    * bucketed scan already satisfies the join's clustering requirement
    * (the Spark-native form of pre-partitioned co-located joins; see
    * PlanAuditSpec). Use for the big fact tables that are joined on
    * the same key query after query — at 100 TB the one-time bucketed
    * write amortizes the per-query exchange away. */
  def writeBucketed(tableName: String, path: String,
      nBuckets: Int): Unit = {
    require(key.nonEmpty, "writeBucketed requires a keyed table")
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key.head, key.tail: _*)
      .sortBy(key.head, key.tail: _*)
      .option("path", path)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Export as a reference-readable hail-native `.ht` directory
    * (`sources.HailNativeWrite`). Use `write` (key-sorted parquet +
    * manifest) for graft-to-graft storage; this path exists to hand
    * data back to a reference deployment. */
  def writeHail(path: String, nPartitions: Option[Int] = None): Unit =
    sources.HailNativeWrite.writeTable(this, path, nPartitions)

  def write(path: String): Unit = {
    val t = ensureKeyOrder()
    t.df.write.mode("overwrite").parquet(s"$path/rows")
    // per-file key ranges from the parquet FOOTER statistics — a
    // driver-side metadata read per file, not a second full scan of the
    // rows just written (which at 100 TB doubles every write). Falls
    // back to the scan only for key types whose chunk statistics the
    // footer can't carry.
    val fileRanges: Seq[(String, Any, Any)] =
      if (key.isEmpty) Nil
      else NativeFormat.footerKeyRanges(spark, s"$path/rows", key.head)
        .getOrElse(spark.read.parquet(s"$path/rows")
          .groupBy(input_file_name().as("__f"))
          .agg(min(col(key.head)).as("__lo"), max(col(key.head)).as("__hi"))
          .collect()
          .map(r => (r.getString(0).split("/").last, r.get(1), r.get(2)))
          .sortBy(_._1)
          .toSeq)
    val meta = NativeFormat.manifestJson(key, globals, fileRanges)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/metadata.json"))
    out.write(meta.getBytes("UTF-8")); out.close()
  }
}

object Table {
  /** Max file count for which `read` reconstructs global key order as an
    * ordered per-file union (one scan per file, partitions in manifest
    * order). Beyond this a union-of-scans costs more in planning than the
    * one exchange it saves — a 100 TB table with thousands of files reads
    * as a single scan and re-sorts where order matters. */
  private val OrderedReadMaxFiles = 64

  /** Reconstruct a key-ordered DataFrame from the manifest's per-file
    * ranges: one single-file scan per file, unioned in key order. Sound
    * only when every file has a recorded range, ranges are non-decreasing
    * in file order (ties allowed: the writer's range partitioner splits
    * on the full key, so equal first-key rows across a boundary are
    * already full-key ordered), and no file can be SPLIT by the scan
    * (splits re-pack by size, not offset — a multi-split file loses
    * intra-file order). Returns None when any condition fails. */
  private def orderedRead(spark: SparkSession, rowsDir: String,
      files: Seq[(String, Any, Any)],
      scan: Seq[String] => DataFrame): Option[DataFrame] = {
    val rangesOk = files.nonEmpty &&
      files.lengthCompare(OrderedReadMaxFiles) <= 0 &&
      files.forall(f => f._2 != null && f._3 != null) &&
      files.iterator.sliding(2).withPartial(false).forall { w =>
        NativeFormat.cmp(w(0)._3, w(1)._2) <= 0
      }
    if (!rangesOk) None
    else {
      val dir = new org.apache.hadoop.fs.Path(rowsDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sizes = fs.listStatus(dir)
        .map(st => st.getPath.getName -> st.getLen).toMap
      // Spark's effective split size for a single-file scan is
      // min(maxPartitionBytes, max(openCostInBytes,
      //     (fileBytes + openCost) / defaultParallelism)) — mirroring
      // FilePartition.maxSplitBytes. Guarding on maxPartitionBytes alone
      // is NOT enough: the parallelism term can shrink splits far below
      // it and a split file loses intra-file order.
      def bytesConf(key: String, dflt: String): Long =
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get(key, dflt))
      val maxPartitionBytes =
        bytesConf("spark.sql.files.maxPartitionBytes", "128MB")
      val openCost = bytesConf("spark.sql.files.openCostInBytes", "4MB")
      val parallelism =
        math.max(1, spark.sparkContext.defaultParallelism)
      def unsplit(size: Long): Boolean = {
        val bytesPerCore = (size + openCost) / parallelism
        size <= math.min(maxPartitionBytes,
          math.max(openCost, bytesPerCore))
      }
      if (!files.forall(f => sizes.get(f._1).exists(unsplit))) None
      else Some(files.map(f => scan(Seq(f._1))).reduce(_.unionByName(_)))
    }
  }

  /** TableRead of native format (`TableNativeReader`, `TableIR.scala:1651`).
    * The manifest records that the data was written key-sorted; when the
    * per-file ranges prove the files disjoint (and the table is small
    * enough that a per-file ordered union beats an exchange —
    * `OrderedReadMaxFiles`), the read comes back `keySorted = true` and
    * order-sensitive ops (write-after-read, collect, head) skip the
    * redundant range shuffle. Otherwise one plain scan, conservatively
    * unsorted — parquet min/max stats still give key-range file skipping
    * because each file covers a tight key range. */
  def read(spark: SparkSession, path: String): Table = {
    val (key, globals, files) = NativeFormat.readManifestFull(spark, path)
    val scan = rowsScan(spark, s"$path/rows")
    val ordered =
      if (key.isEmpty) None
      else orderedRead(spark, s"$path/rows", files, scan)
    ordered match {
      case Some(df) => Table(df, key, globals, keySorted = true)
      case None => Table(scan(Nil), key, globals, keySorted = false)
    }
  }

  /** Scans of the parquet files under `rowsDir` (all of them for Nil)
    * with the schema `NativeFormat.footerSchema` reads on the driver: a
    * scan that infers its schema runs a Spark job. */
  private def rowsScan(spark: SparkSession, rowsDir: String)
      : Seq[String] => DataFrame = {
    val schema = NativeFormat.footerSchema(spark, rowsDir)
    files => spark.read.schema(schema).parquet(
      (if (files.isEmpty) Seq(rowsDir) else files.map(f => s"$rowsDir/$f")): _*)
  }

  /** query_table (reference `functions.py` `query_table`,
    * `StagedIndexReader`): point / range reads against a native-format
    * table WITHOUT a full scan. Two pruning layers: (1) the manifest's
    * per-file key ranges select the candidate FILES driver-side — no
    * footer read, no task, for files whose range misses the query; (2)
    * the key predicate still reaches the parquet scan of surviving
    * files, so row-group min/max stats skip within them. Together these
    * are the Parquet-native replacement for the reference's
    * per-partition B-tree index. */
  def queryTable(spark: SparkSession, path: String,
      lo: Any, hi: Any, inclusiveHi: Boolean = false): Table = {
    val t = readPruned(spark, path) { (flo, fhi) =>
      // file range [flo, fhi] overlaps query [lo, hi) / [lo, hi]
      NativeFormat.cmp(fhi, lo) >= 0 &&
        (if (inclusiveHi) NativeFormat.cmp(flo, hi) <= 0
         else NativeFormat.cmp(flo, hi) < 0)
    }
    require(t.key.nonEmpty, s"$path has no key")
    val k = col(t.key.head)
    val hiPred = if (inclusiveHi) k <= lit(hi) else k < lit(hi)
    t.copy(df = t.df.filter(k >= lit(lo) && hiPred))
  }

  /** Native read keeping only files whose manifest key range passes
    * `keep`. Falls back to the full directory when the manifest predates
    * file ranges. If every file is pruned, reads the full schema with a
    * false filter (schema must survive). */
  private def readPruned(spark: SparkSession, path: String)(
      keep: (Any, Any) => Boolean): Table = {
    val (key, globals, files) = NativeFormat.readManifestFull(spark, path)
    if (files.isEmpty) read(spark, path)
    else {
      val matching = files.filter {
        case (_, lo, hi) => lo == null || hi == null || keep(lo, hi)
      }
      val scan = rowsScan(spark, s"$path/rows")
      if (matching.isEmpty)
        Table(scan(Nil).filter(lit(false)), key, globals, keySorted = false)
      else orderedRead(spark, s"$path/rows", matching, scan) match {
        case Some(df) => Table(df, key, globals, keySorted = true)
        case None =>
          Table(scan(matching.map(_._1)), key, globals, keySorted = false)
      }
    }
  }

  /** TableRange (`TableIR.scala:2123`). */
  def range(spark: SparkSession, n: Long, nPartitions: Int = 0): Table = {
    val base = if (nPartitions > 0) spark.range(0, n, 1, nPartitions)
      else spark.range(n)
    Table(base.toDF("idx"), Seq("idx"), keySorted = true)
  }

  /** TableParallelize (`TableIR.scala:2024`). */
  def parallelize(spark: SparkSession, rows: Seq[Row],
      schema: org.apache.spark.sql.types.StructType): Table =
    Table(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema))

  /** TableLiteral (`TableIR.scala:133`): a driver-local literal table.
    * Unlike `parallelize` this builds a Catalyst LocalRelation (no RDD):
    * joins against it broadcast without a shuffle stage and filters on
    * it constant-fold — the right shape for small lookup/config tables
    * referenced inside big plans. */
  def literal(spark: SparkSession, rows: Seq[Row],
      schema: org.apache.spark.sql.types.StructType,
      key: Seq[String] = Nil): Table = {
    import scala.jdk.CollectionConverters._
    Table(spark.createDataFrame(rows.asJava, schema), key)
  }

  /** TableGen (`TableIR.scala:2094`): generate one partition per context
    * value with a user body — the escape hatch for custom sources. Each
    * context becomes exactly one partition (the reference's contract). */
  def gen[C: scala.reflect.ClassTag](spark: SparkSession, contexts: Seq[C],
      schema: org.apache.spark.sql.types.StructType)(
      body: C => Iterator[Row]): Table = {
    val rdd = spark.sparkContext
      .parallelize(contexts, math.max(contexts.length, 1))
      .flatMap(body)
    Table(spark.createDataFrame(rdd, schema))
  }

  def fromParquet(spark: SparkSession, path: String, key: String*): Table =
    Table(spark.read.parquet(path), key)
}

private[graft] object NativeFormat {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** A manifest scalar as JSON; a value of another type is written as
    * its string. */
  private def toJson(v: Any): JValue = v match {
    case null => JNull
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case n: Int => JInt(n)
    case n: Long => JInt(n)
    case n: Double => JDouble(n)
    case n: Float => JDouble(n.toDouble)
    case other => JString(other.toString)
  }

  /** A manifest scalar read back: ints as Long, floats as Double. */
  private def fromJson(v: JValue): Any = v match {
    case JNull | JNothing => null
    case JString(s) => s
    case JBool(b) => b
    case JInt(n) => n.toLong
    case JLong(n) => n
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case other => sys.error(s"manifest value is not a scalar: $other")
  }

  /** Per-file (name, keyMin, keyMax) from the parquet FOOTERS of every
    * file under `rowsPath` — pure driver-side metadata reads. Returns
    * None when the key column's chunk statistics can't be decoded to a
    * manifest-representable scalar (exotic logical types) so the caller
    * can fall back to a scan. A file whose statistics are absent (e.g.
    * all-null key) gets (null, null), which range pruning treats as
    * always-matching — same contract as the scan path. Binary stats may
    * be writer-truncated; truncation only ever WIDENS the range (lower
    * lower-bound / higher upper-bound), so pruning stays sound. */
  def footerKeyRanges(spark: org.apache.spark.sql.SparkSession,
      rowsPath: String, keyCol: String): Option[Seq[(String, Any, Any)]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    import scala.util.Try
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(rowsPath)
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    Try {
      files.toSeq.map { st =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromStatus(st, conf))
        try {
          val md = reader.getFooter
          val logical = md.getFileMetaData.getSchema.getColumns.asScala
            .find(_.getPath.toList == List(keyCol))
            .flatMap(c => Option(c.getPrimitiveType.getLogicalTypeAnnotation))
          def decode(v: AnyRef): Any = v match {
            case b: Binary => logical match {
              case Some(_: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
                b.toStringUsingUTF8
              case _ => sys.error(s"undecodable binary key stats: $logical")
            }
            case n: java.lang.Integer
                if logical.forall(_.isInstanceOf[
                  LogicalTypeAnnotation.IntLogicalTypeAnnotation]) ||
                  logical.isEmpty => n.intValue
            case n: java.lang.Long
                if logical.forall(_.isInstanceOf[
                  LogicalTypeAnnotation.IntLogicalTypeAnnotation]) ||
                  logical.isEmpty => n.longValue
            case n: java.lang.Double => n.doubleValue
            case n: java.lang.Float => n.floatValue
            case b: java.lang.Boolean => b.booleanValue
            case other => sys.error(s"undecodable key stats: $other")
          }
          var lo: Any = null
          var hi: Any = null
          md.getBlocks.asScala.foreach { block =>
            block.getColumns.asScala
              .find(_.getPath.toDotString == keyCol)
              .foreach { cc =>
                val s = cc.getStatistics
                if (s != null && s.hasNonNullValue) {
                  val mn = decode(s.genericGetMin.asInstanceOf[AnyRef])
                  val mx = decode(s.genericGetMax.asInstanceOf[AnyRef])
                  if (lo == null || cmp(mn, lo) < 0) lo = mn
                  if (hi == null || cmp(mx, hi) > 0) hi = mx
                }
              }
          }
          (st.getPath.getName, lo, hi)
        } finally reader.close()
      }
    }.toOption
  }

  /** The schema a batch read of `path` (a parquet file or directory)
    * infers, taken on the driver from the footer of its first data file:
    * the batch read's inference reads that same footer in a Spark job. */
  def footerSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val first = if (fs.getFileStatus(p).isFile) p
      else fs.listStatus(p).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
    val footer = try reader.getFooter finally reader.close()
    org.apache.spark.sql.GraftBridge.parquetSchema(
      new Footer(first, footer), spark)
  }

  def manifestJson(key: Seq[String], globals: Map[String, Any],
      fileRanges: Seq[(String, Any, Any)] = Nil): String =
    JsonMethods.compact(JObject(
      "format" -> JString("graft-native"), "version" -> JInt(1),
      "key" -> JArray(key.map(JString(_)).toList),
      "globals" -> JObject(globals.map { case (k, v) => k -> toJson(v) }
        .toList),
      "files" -> JArray(fileRanges.map { case (f, lo, hi) =>
        JObject("file" -> JString(f), "lo" -> toJson(lo), "hi" -> toJson(hi))
      }.toList)))

  /** Order comparator across the scalar key types the manifest can
    * carry (JSON read-back widens ints to Long, floats to Double). */
  def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x: Number, y: Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: Boolean, y: Boolean) => x.compareTo(y)
    case _ => a.toString.compareTo(b.toString)
  }

  def readManifest(spark: SparkSession, path: String)
      : (Seq[String], Map[String, Any]) = {
    val (k, g, _) = readManifestFull(spark, path)
    (k, g)
  }

  /** The manifest of the table at `path`: key, globals and per-file key
    * ranges. A driver-side file read: no Spark job. */
  def readManifestFull(spark: SparkSession, path: String)
      : (Seq[String], Map[String, Any], Seq[(String, Any, Any)]) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$path/metadata.json"))
    val m = try JsonMethods.parse(new java.io.InputStreamReader(in, "UTF-8"))
      finally in.close()
    val key = (m \ "key").children.map(k => fromJson(k).asInstanceOf[String])
    val globals = (m \ "globals") match {
      case JObject(fields) => fields.map { case (k, v) => k -> fromJson(v) }.toMap
      case _ => Map.empty[String, Any]
    }
    val files = (m \ "files").children.map { f =>
      (fromJson(f \ "file").asInstanceOf[String], fromJson(f \ "lo"),
        fromJson(f \ "hi"))
    }
    (key, globals, files)
  }
}
