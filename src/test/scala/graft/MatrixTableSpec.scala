package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MatrixTableSpec extends SparkSpec {

  /** 3 rows × 3 cols toy matrix; cell (r, c) = r*10 + c, with (1,2) and
    * (2,0) missing. */
  private def toyMatrix(): MatrixTable = {
    val coord = spark.createDataFrame(Seq(
      (0L, 0, 0.0), (0L, 1, 1.0), (0L, 2, 2.0),
      (1L, 0, 10.0), (1L, 1, 11.0),
      (2L, 1, 21.0), (2L, 2, 22.0)))
      .toDF("r", "c", "v")
    MatrixTable.fromCoordinates(
      coord, Seq("r"), col("c"),
      entryFields = Seq("v" -> col("v")),
      colValues = IndexedSeq(Row("s0"), Row("s1"), Row("s2")),
      colSchema = StructType(Seq(StructField("sample", StringType))),
      colKey = Seq("sample"))
  }

  test("fromCoordinates/entriesTable roundtrip drops missing cells") {
    val got = toyMatrix().entriesTable.df
      .select("r", "sample", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set(
      (0L, "s0", 0.0), (0L, "s1", 1.0), (0L, "s2", 2.0),
      (1L, "s0", 10.0), (1L, "s1", 11.0),
      (2L, "s1", 21.0), (2L, "s2", 22.0)))
  }

  test("per-row entry aggregation counts defined entries") {
    val mt = toyMatrix()
    val got = mt.annotateRows("nd" -> aggregate(mt.entries, lit(0),
      (a, e) => a + when(e.isNotNull, 1).otherwise(0)))
      .rowsTable.df.select("r", "nd").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got === Map(0L -> 3, 1L -> 2, 2L -> 2))
  }

  test("filterEntries nulls out failing entries, keeps shape") {
    val mt = toyMatrix().filterEntries(e => e("v") >= 10.0)
    val agg = mt.aggregateEntries("n" -> (e => count(e)))
    assert(agg.head().getLong(0) === 4L)
  }

  test("chooseCols subsets and reorders columns") {
    val mt = toyMatrix().chooseCols(IndexedSeq(2, 0))
    assert(mt.colValues.map(_.getString(0)) === IndexedSeq("s2", "s0"))
    val got = mt.entriesTable.df.select("r", "sample", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((0L, "s2"), (0L, "s0"), (1L, "s0"), (2L, "s2")))
  }

  test("filterCols by col value predicate") {
    val mt = toyMatrix().filterCols(r => r.getString(0) != "s1")
    assert(mt.nCols === 2)
    assert(mt.aggregateEntries("n" -> (e => count(e)))
      .head().getLong(0) === 4L)
  }

  test("aggregateColsByKey groups columns by key on the driver") {
    // group s0,s2 vs s1 via a parity annotation
    val mt = toyMatrix()
      .annotateCols("grp", IntegerType,
        r => if (r.getString(0) == "s1") 1 else 0)
      .copy(colKey = Seq("grp"))
      .aggregateColsByKey(Seq(
        ("vs", (acc: org.apache.spark.sql.Column,
          e: org.apache.spark.sql.Column) =>
          acc + coalesce(e("v"), lit(0.0)), lit(0.0))))
    val got = mt.entriesTable.df.select("r", "grp", "vs").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(got((0L, 0)) === 2.0)   // 0.0 + 2.0
    assert(got((0L, 1)) === 1.0)
    assert(got((1L, 0)) === 10.0)
    assert(got((2L, 1)) === 21.0)
  }

  test("unionCols concatenates entries on shared row key") {
    val a = toyMatrix()
    val b = toyMatrix()
    val u = a.unionCols(b)
    assert(u.nCols === 6)
    assert(u.aggregateEntries("n" -> (e => count(e)))
      .head().getLong(0) === 14L)
  }

  test("colsTable and rowsTable carry the right fields") {
    val mt = toyMatrix()
    assert(mt.colsTable.df.collect().map(_.getString(0)).toSet ===
      Set("s0", "s1", "s2"))
    assert(mt.rowsTable.df.columns.toSeq === Seq("r"))
  }

  test("colsTable is a local relation: collecting it runs no job") {
    val mt = toyMatrix()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      jobs.set(0)
      val got = mt.colsTable.df.withColumn("n", length(col("sample")))
        .collect()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(got.length == 3)
      assert(jobs.get == 0, s"${jobs.get} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sampleRows/sampleCols are deterministic per seed") {
    val mt = toyMatrix()
    val a = mt.sampleRows(0.5, seed = 3).rows.collect().map(_.toSeq)
    val b = mt.sampleRows(0.5, seed = 3).rows.collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    val c1 = mt.sampleCols(0.5, seed = 3).colValues
    val c2 = mt.sampleCols(0.5, seed = 3).colValues
    assert(c1 === c2)
    assert(mt.sampleCols(1.0).colValues === mt.colValues)
    assert(mt.sampleRows(1.0).rows.count() === mt.rows.count())
  }

  test("native write/read round-trips rows, cols, key, globals") {
    val mt = toyMatrix().annotateGlobals("tag" -> "v1")
    val dir = java.nio.file.Files.createTempDirectory("graft_mtn")
    mt.write(s"$dir/m")
    val back = MatrixTable.read(spark, s"$dir/m")
    assert(back.rowKey === Seq("r"))
    assert(back.colKey === Seq("sample"))
    assert(back.colValues === mt.colValues)
    assert(back.colSchema === mt.colSchema)
    assert(back.globals("tag") === "v1")
    def cells(m: MatrixTable) = m.entriesTable.df
      .select("r", "sample", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(cells(back) === cells(mt))
    // checkpoint = write + sorted read-back in one call
    val ck = mt.checkpoint(s"$dir/ck")
    assert(cells(ck) === cells(mt))
    assert(Table(ck.rows, ck.rowKey).count() ===
      Table(mt.rows, mt.rowKey).count())
    // keyed row-range read prunes to the requested window
    val rng = MatrixTable.readRange(spark, s"$dir/ck", 1L, 3L)
    assert(cells(rng) === cells(mt).filter(c => c._1 >= 1L && c._1 < 3L))
    assert(rng.colValues === mt.colValues)
  }

  test("fullOuterJoinMt aligns columns by key with cross-product dups") {
    val mt = toyMatrix()
    // left has s0 twice (duplicate col key) and s1; right has s1, s2
    val l = mt.chooseCols(IndexedSeq(0, 0, 1))
      .filterRows(col("r") < 2L)
    val r = mt.chooseCols(IndexedSeq(1, 2))
      .filterRows(col("r") >= 1L)
    val j = graft.methods.MtJoins.fullOuterJoinMt(l, r)
    val keys = j.colValues.map(_.getString(0))
    assert(keys.sorted === Seq("s0", "s0", "s1", "s2"))
    // colValues rows are schemaless: fields are (sample, left_col,
    // right_col) positionally
    val s1row = j.colValues(keys.indexOf("s1"))
    assert(s1row.get(1) != null && s1row.get(2) != null)
    assert(j.colValues(keys.indexOf("s0")).get(2) == null)
    assert(j.colValues(keys.indexOf("s2")).get(1) == null)
    // row union: 0 (left only), 1 (both), 2 (right only); where both
    // sides carry an entry the values agree
    val cells = j.entriesTable.df
      .select(col("r"), col("sample"),
        col("left_entry")("v"), col("right_entry")("v")).collect()
      .map(x => (x.getLong(0), x.getString(1)) ->
        ((Option(x.get(2)), Option(x.get(3))))).toMap
    assert(cells.keys.map(_._1).toSet === Set(0L, 1L, 2L))
    assert(cells((1L, "s1")) === ((Some(11.0), Some(11.0))))
    assert(cells((0L, "s1")) === ((Some(1.0), None)))
    assert(cells((2L, "s2")) === ((None, Some(22.0))))
  }
}
