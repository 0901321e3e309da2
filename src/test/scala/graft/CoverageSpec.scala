package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Aggs

class CoverageSpec extends SparkSpec {

  private def miniMt(): MatrixTable = {
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq(Row(1.0), Row(2.0), Row(3.0), Row(4.0))),
        Row(2L, Seq(Row(5.0), null, Row(7.0), Row(8.0))))),
      StructType(Seq(
        StructField("k", LongType),
        StructField("entries", ArrayType(StructType(Seq(
          StructField("v", DoubleType))))))))
    MatrixTable(rows, Seq("k"),
      colValues = IndexedSeq(Row("a", Seq(1, 2)), Row("b", Seq(3)),
        Row("c", Seq.empty[Int]), Row("d", Seq(4, 5))),
      colSchema = StructType(Seq(StructField("s", StringType),
        StructField("tags", ArrayType(IntegerType)))),
      colKey = Seq("s"))
  }

  test("explodeCols duplicates columns and entries per array element") {
    val ex = miniMt().explodeCols("tags")
    assert(ex.nCols === 5) // a×2, b×1, c×0, d×2
    assert(ex.colValues.map(r => (r.getString(0), r.getInt(1))) ===
      IndexedSeq(("a", 1), ("a", 2), ("b", 3), ("d", 4), ("d", 5)))
    val r1 = ex.rows.filter(col("k") === 1).head()
    val vs = r1.getAs[scala.collection.Seq[Row]]("entries")
      .map(e => e.getDouble(0)).toSeq
    assert(vs === Seq(1.0, 1.0, 2.0, 4.0, 4.0))
  }

  test("headCols/tailCols slice the column space") {
    val mt = miniMt()
    assert(mt.headCols(2).colValues.map(_.getString(0)) ===
      IndexedSeq("a", "b"))
    assert(mt.tailCols(2).colValues.map(_.getString(0)) ===
      IndexedSeq("c", "d"))
  }

  test("localizeEntries keeps entries as a named array field") {
    val t = miniMt().localizeEntries("ents")
    assert(t.df.columns.toSeq === Seq("k", "ents"))
    assert(t.df.count() === 2)
  }

  test("TableGen generates one partition per context") {
    val schema = StructType(Seq(StructField("part", IntegerType),
      StructField("v", IntegerType)))
    val t = Table.gen(spark, Seq(0, 1, 2), schema)(c =>
      (0 until 3).iterator.map(i => Row(c, c * 10 + i)))
    assert(t.df.rdd.getNumPartitions === 3)
    assert(t.df.count() === 9)
    assert(t.df.agg(sum("v")).head().getLong(0) === (0 to 2).flatMap(c =>
      (0 until 3).map(i => c * 10 + i)).sum)
  }

  test("approxCdf stays accurate through compaction (n >> k)") {
    // 20k uniform values, sketch capacity 256: compaction definitely fires
    val df = spark.range(0, 20000, 1, 8)
      .select((col("id") % 1000).cast("double").as("v"))
    val flat = df.agg(Aggs.approxCdf(col("v"), 256).as("c"))
      .head().getAs[scala.collection.Seq[Double]]("c").toSeq
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = Aggs.sketchQuantile(flat, q)
      val truth = q * 999
      assert(math.abs(est - truth) < 60, s"q=$q est=$est truth=$truth")
    }
  }

  test("approxCdf is exact (percentile-equal) when n <= k") {
    val df = spark.range(0, 500, 1, 4)
      .select(((col("id") * 37) % 101).cast("double").as("v"))
    val flat = df.agg(Aggs.approxCdf(col("v"), 1024).as("c"))
      .head().getAs[scala.collection.Seq[Double]]("c").toSeq
    val exact = df.agg(expr("percentile(v, 0.25)")).head().getDouble(0)
    assert(math.abs(Aggs.sketchQuantile(flat, 0.25) - exact) < 1e-9)
  }

  test("maximalIndependentSet removes max-degree vertices greedily") {
    val edges = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("a", "b"), Row("b", "c"), Row("c", "d"), Row("e", "f"))),
      StructType(Seq(StructField("i", StringType),
        StructField("j", StringType))))
    val keep = graft.methods.Misc.maximalIndependentSet(edges)
    // b and c are degree-2: greedy removes c (tie c>b? degree(b)=2,
    // degree(c)=2, maxBy picks larger id 'c'), then b (degree 1 still
    // adjacent to a)... final set must be independent and maximal
    val es = Set(("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"))
    es.foreach { case (x, y) =>
      assert(!(keep.contains(x) && keep.contains(y)), s"edge $x-$y kept")
    }
    assert(keep.nonEmpty)
    // a and d must survive (their only neighbors are removed)
    assert(keep.contains("a") || keep.contains("b"))
    assert(keep.contains("c") || keep.contains("d"))
  }

  test("Sets/Dicts/Strings helper surface") {
    import graft.functions.{Sets, Dicts, Strings}
    val df = spark.range(1).select(
      array(lit("c"), lit("a"), lit("b"), lit("a")).as("xs"),
      array(lit("b"), lit("d")).as("ys"),
      map(lit("k1"), lit(1), lit("k2"), lit(2)).as("m"),
      lit("abcd").as("s1"), lit("abed").as("s2"))
    val r = df.select(
      Sets.toSet(col("xs")),
      Sets.union(Sets.toSet(col("xs")), col("ys")),
      Sets.intersection(Sets.toSet(col("xs")), col("ys")),
      Sets.difference(Sets.toSet(col("xs")), col("ys")),
      Sets.isSubset(array(lit("a")), col("xs")),
      Dicts.get(col("m"), lit("k2")),
      Dicts.keys(col("m")),
      Strings.hamming(col("s1"), col("s2")),
      Strings.firstMatchIn(col("s1"), "b.")).head()
    assert(r.getSeq[String](0) === Seq("a", "b", "c"))
    assert(r.getSeq[String](1) === Seq("a", "b", "c", "d"))
    assert(r.getSeq[String](2) === Seq("b"))
    assert(r.getSeq[String](3) === Seq("a", "c"))
    assert(r.getBoolean(4))
    assert(r.getInt(5) === 2)
    assert(r.getSeq[String](6) === Seq("k1", "k2"))
    assert(r.getInt(7) === 1)
    assert(r.getString(8) === "bc")
    // strftime/strptime roundtrip
    val ts = spark.range(1).select(
      Strings.strptime(lit("2020-01-02 03:04:05"),
        "yyyy-MM-dd HH:mm:ss").as("t"))
      .select(Strings.strftime(col("t"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0)
    assert(ts === "2020-01-02 03:04:05")
  }

  test("NdArrays: matmul, solve, ref, elementwise") {
    import graft.functions.NdArrays
    val df = spark.range(1).select(
      NdArrays.make(Seq(2L, 2L),
        array(lit(1.0), lit(2.0), lit(3.0), lit(4.0))).as("a"),
      NdArrays.make(Seq(2L, 1L), array(lit(5.0), lit(6.0))).as("b"))
    val mm = df.select(NdArrays.matmul(col("a"), col("b")).as("m"))
      .head().getStruct(0)
    // [[1,2],[3,4]] x [5,6]^T = [17, 39]
    assert(mm.getSeq[Long](0) === Seq(2L, 1L))
    assert(mm.getSeq[Double](1) === Seq(17.0, 39.0))
    val sol = df.select(NdArrays.solve(col("a"), col("b")).as("x"))
      .head().getStruct(0)
    val x = sol.getSeq[Double](1)
    // verify A x = b
    assert(math.abs(1.0 * x(0) + 2.0 * x(1) - 5.0) < 1e-12)
    assert(math.abs(3.0 * x(0) + 4.0 * x(1) - 6.0) < 1e-12)
    val refd = df.select(
      NdArrays.ref2(col("a"), lit(1), lit(0)),
      NdArrays.sumAll(col("a"))).head()
    assert(refd.getDouble(0) === 3.0)
    assert(refd.getDouble(1) === 10.0)
  }

  test("native-format key predicates reach the parquet scan (pushdown)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qt").toString
    Table(spark.range(0, 10000).toDF("k")
      .withColumn("v", col("k") * 2), Seq("k")).write(dir)
    val q = Table.queryTable(spark, dir, 100L, 200L)
      .selectFields("v").df
    val scan = q.queryExecution.executedPlan.toString
    // the key range must appear as pushed parquet filters (file/row-group
    // skipping), and the scan must prune to the two needed columns
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(k,100)"), scan.take(1500))
    assert(scan.contains("ReadSchema") && !scan.contains("struct<k:bigint,v:bigint,extra"),
      scan.take(1500))
    assert(q.collect().map(_.getLong(1)).sorted.head === 200L)
  }

  test("takeBy keeps only n best with deterministic tiebreak") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, 10.0), Row(2L, 30.0), Row(3L, 20.0), Row(4L, 30.0),
        Row(5L, 5.0))),
      StructType(Seq(StructField("v", LongType),
        StructField("k", DoubleType))))
    val top = df.agg(Aggs.takeBy(col("v"), col("k"), 3, asc = false))
      .head().getAs[scala.collection.Seq[Long]](0)
    assert(top.toSeq === Seq(4L, 2L, 3L)) // 30(v4 > v2 tie-desc), 30, 20
  }

  test("Interval struct helpers: contains/overlaps/isEmpty") {
    import graft.functions.Intervals._
    val df = spark.range(1).toDF("i")
    def b(c: org.apache.spark.sql.Column): Boolean =
      df.select(c).head().getBoolean(0)
    val closed = interval(lit(10), lit(20), lit(true), lit(true))
    val halfOpen = interval(lit(10), lit(20))
    assert(b(contains(closed, lit(10))) && b(contains(closed, lit(20))))
    assert(b(contains(halfOpen, lit(10))) && !b(contains(halfOpen, lit(20))))
    assert(!b(contains(halfOpen, lit(9))))
    assert(b(isEmpty(interval(lit(5), lit(5)))))
    assert(!b(isEmpty(interval(lit(5), lit(5), lit(true), lit(true)))))
    assert(b(isEmpty(interval(lit(7), lit(3)))))
    val a1 = interval(lit(0), lit(10))
    val b1 = interval(lit(10), lit(20))
    assert(!b(overlaps(a1, b1))) // [0,10) vs [10,20): disjoint
    assert(b(overlaps(interval(lit(0), lit(10), lit(true), lit(true)),
      b1))) // 10 shared
    assert(b(overlaps(a1, interval(lit(5), lit(7)))))
    assert(!b(overlaps(a1, interval(lit(9), lit(9))))) // empty other
  }

  test("NDArray per-row qr/svd/eigh/inverse match Breeze") {
    import graft.functions.NdArrays
    val data = Seq(4.0, 1.0, 1.0, 3.0) // symmetric 2x2, row-major
    val df = spark.range(1).select(
      NdArrays.make(Seq(2L, 2L), array(data.map(lit): _*)).as("a"))
    val m = new breeze.linalg.DenseMatrix(2, 2, data.toArray, 0, 2, true)
    // eigh
    val eg = df.select(NdArrays.eigh(col("a"))).head().getStruct(0)
    val evs = eg.getSeq[Double](0)
    val bev = breeze.linalg.eigSym(m).eigenvalues
    assert(evs.zip(bev.toArray).forall { case (x, y) =>
      math.abs(x - y) < 1e-10 })
    // svd singular values
    val sv = df.select(NdArrays.svdDecomp(col("a"))).head().getStruct(0)
      .getSeq[Double](1)
    val bsv = breeze.linalg.svd(m).S.toArray
    assert(sv.zip(bsv).forall { case (x, y) => math.abs(x - y) < 1e-10 })
    // qr: q r == a
    val qr = df.select(NdArrays.qrDecomp(col("a"))).head().getStruct(0)
    val qd = qr.getStruct(0).getSeq[Double](1)
    val rd = qr.getStruct(1).getSeq[Double](1)
    val q = new breeze.linalg.DenseMatrix(2, 2, qd.toArray, 0, 2, true)
    val r = new breeze.linalg.DenseMatrix(2, 2, rd.toArray, 0, 2, true)
    val qrProd: breeze.linalg.DenseMatrix[Double] = q * r
    val diff: breeze.linalg.DenseMatrix[Double] = qrProd - m
    assert(diff.toArray.forall(v => math.abs(v) < 1e-10))
    // inverse: a * inv(a) == I
    val invd = df.select(NdArrays.inverse(col("a"))).head()
      .getStruct(0).getSeq[Double](1)
    val inv = new breeze.linalg.DenseMatrix(2, 2, invd.toArray, 0, 2, true)
    val prod: breeze.linalg.DenseMatrix[Double] = m * inv
    assert(math.abs(prod(0, 0) - 1) < 1e-10 &&
      math.abs(prod(1, 1) - 1) < 1e-10 &&
      math.abs(prod(0, 1)) < 1e-10)
    // singular -> null
    val sing = spark.range(1).select(NdArrays.make(Seq(2L, 2L),
      array(Seq(1.0, 2.0, 2.0, 4.0).map(lit): _*)).as("a"))
    assert(sing.select(NdArrays.inverse(col("a"))).head().isNullAt(0))
  }

  test("triangularSolve: upper substitution, junk triangle ignored, singular null") {
    import graft.functions.NdArrays
    // upper solve reads only the upper triangle: A = [[2, 1], [JUNK, 4]]
    // x2 = 8/4 = 2; x1 = (5 - 1*2)/2 = 1.5
    val df = spark.range(1).select(
      NdArrays.make(Seq(2L, 2L),
        array(Seq(2.0, 1.0, -77.0, 4.0).map(lit): _*)).as("a"),
      NdArrays.make(Seq(2L, 1L),
        array(Seq(5.0, 8.0).map(lit): _*)).as("b"))
    val x = df.select(NdArrays.triangularSolve(col("a"), col("b"),
      lit(false))).head().getStruct(0).getSeq[Double](1)
    assert(x == Seq(1.5, 2.0))
    // multi-column b, lower: A = [[2, JUNK], [1, 4]]
    val dfm = spark.range(1).select(
      NdArrays.make(Seq(2L, 2L),
        array(Seq(2.0, 99.0, 1.0, 4.0).map(lit): _*)).as("a"),
      NdArrays.make(Seq(2L, 2L),
        array(Seq(2.0, 4.0, 5.0, 10.0).map(lit): _*)).as("b"))
    val xm = dfm.select(NdArrays.triangularSolve(col("a"), col("b"),
      lit(true))).head().getStruct(0).getSeq[Double](1)
    // col0: x1 = 1, x2 = (5-1)/4 = 1; col1: x1 = 2, x2 = (10-2)/4 = 2
    assert(xm == Seq(1.0, 2.0, 1.0, 2.0))
    // zero diagonal -> null (the _no_crash contract)
    val zd = spark.range(1).select(
      NdArrays.make(Seq(2L, 2L),
        array(Seq(0.0, 0.0, 1.0, 4.0).map(lit): _*)).as("a"),
      NdArrays.make(Seq(2L, 1L),
        array(Seq(1.0, 1.0).map(lit): _*)).as("b"))
    assert(zd.select(NdArrays.triangularSolve(col("a"), col("b"),
      lit(true))).head().isNullAt(0))
  }

  test("ndarraySum aggregates element-wise with shape checking") {
    import graft.functions.NdArrays
    import graft.operators.Aggs
    val df = spark.range(4).select(
      NdArrays.make(Seq(2L, 2L),
        array(col("id").cast("double"), lit(1.0),
          lit(0.0), -col("id").cast("double"))).as("nd"))
    val out = df.agg(Aggs.ndarraySum(col("nd"))).head().getStruct(0)
    assert(out.getSeq[Long](0) == Seq(2L, 2L))
    // sums: ids 0..3 -> 6; ones -> 4; zeros -> 0; -ids -> -6
    assert(out.getSeq[Double](1) == Seq(6.0, 4.0, 0.0, -6.0))
  }

  test("zero-extent ndarray structural ops return empty data") {
    import graft.functions.NdArrays._
    // sequence(0, -1) is DESCENDING in Spark; the guarded index helper
    // must make empty ranges yield genuinely empty arrays
    val nd = make(Seq(2L, 3L),
      array((1 to 6).map(i => lit(i.toDouble)): _*))
    val row = spark.range(1).select(
      size(data(slice2(nd, lit(0L), lit(0L), lit(0L), lit(3L))))
        .as("emptySlice"),
      size(data(slice2(nd, lit(0L), lit(2L), lit(1L), lit(1L))))
        .as("emptyCols"),
      size(data(filter2(nd, array(), array(lit(0), lit(1)))))
        .as("emptyFilter"),
      size(data(transpose2(slice2(nd, lit(0L), lit(0L), lit(0L),
        lit(3L))))).as("emptyTranspose")).head()
    assert((0 until 4).forall(row.getInt(_) == 0), row.toString)
  }

  test("matrix distinctByRow and annotateGlobals") {
    val mt = graft.sources.Vcf.read(spark,
      Fixtures.path("oracle_sample.vcf"))
    val doubled = mt.copy(rows = mt.rows.unionByName(mt.rows))
    assert(doubled.distinctByRow().rows.count() == mt.rows.count())
    assert(mt.annotateGlobals("build" -> "GRCh38")
      .globals("build") == "GRCh38")
  }
}
