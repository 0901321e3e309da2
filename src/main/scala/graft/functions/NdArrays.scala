package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Local (per-row) n-dimensional arrays as
  * `struct(shape: array<long>, data: array<double>)` in row-major order
  * (reference `TNDArray`, `types/virtual/TNDArray.scala`; value nodes
  * `MakeNDArray`/`NDArrayRef`/`NDArrayMatMul`... ir-gen
  * `Main.scala:927-968`; kernels `functions/NDArrayFunctions.scala`).
  * Element-wise ops are pure Column expressions over `data`; matmul /
  * solve drop to Breeze in per-row UDFs (the reference likewise executes
  * these as local linalg kernels). */
object NdArrays {

  def make(shape: Seq[Long], data: Column): Column =
    struct(array(shape.map(lit): _*).cast("array<long>").as("shape"),
      data.cast("array<double>").as("data"))

  def shape(nd: Column): Column = nd("shape")
  def data(nd: Column): Column = nd("data")

  /** 2-D element reference (row-major). */
  def ref2(nd: Column, i: Column, j: Column): Column =
    element_at(nd("data"),
      (i * element_at(nd("shape"), 2) + j + 1).cast("int"))

  def map2(a: Column, b: Column, f: (Column, Column) => Column): Column =
    struct(a("shape").as("shape"),
      zip_with(a("data"), b("data"), f).as("data"))

  /** Reshape (row-major; total size must match). */
  def reshape(nd: Column, newShape: Seq[Long]): Column =
    struct(array(newShape.map(lit): _*).cast("array<long>").as("shape"),
      nd("data").as("data"))

  private def toBreeze(shape: Seq[Long], d: Seq[Double]) = {
    val r = shape(0).toInt; val c = shape(1).toInt
    // breeze create is column-major; our wire format is row-major
    new breeze.linalg.DenseMatrix(r, c, d.toArray, 0, c, true)
  }

  /** 2-D matrix multiply (reference `NDArrayMatMul`). */
  val matmulUdf: UserDefinedFunction =
    udf { (sa: Seq[Long], da: Seq[Double], sb: Seq[Long], db: Seq[Double]) =>
      val m = toBreeze(sa, da) * toBreeze(sb, db)
      (Seq(sa(0), sb(1)), m.t.toArray.toSeq) // back to row-major
    }
  def matmul(a: Column, b: Column): Column =
    matmulUdf(a("shape"), a("data"), b("shape"), b("data"))
      .cast("struct<shape:array<bigint>,data:array<double>>")

  /** linear_solve Ax = b (reference `functions/NDArrayFunctions.scala`
    * `linear_solve`): A is (n×n), b is (n×k); returns x (n×k), null on
    * singular A. */
  val solveUdf: UserDefinedFunction =
    udf { (sa: Seq[Long], da: Seq[Double], sb: Seq[Long], db: Seq[Double]) =>
      try {
        val x = toBreeze(sa, da) \ toBreeze(sb, db)
        Some((Seq(sa(1), sb(1)), x.t.toArray.toSeq))
      } catch { case _: Exception => None }
    }
  def solve(a: Column, b: Column): Column =
    solveUdf(a("shape"), a("data"), b("shape"), b("data"))
      .cast("struct<shape:array<bigint>,data:array<double>>")

  /** Sum over all elements / axis-0 column sums for 2-D. */
  def sumAll(nd: Column): Column =
    aggregate(nd("data"), lit(0.0), (a, v) => a + v)

  // ---- 2-D structural ops (value-IR nodes NDArrayConcat:931,
  // NDArraySlice:933, NDArrayFilter:934, NDArrayReindex:947,
  // NDArrayAgg:949 — ir-gen `Main.scala`). Pure Column expressions over
  // row-major index math: codegen'd, no UDF ------------------------------

  /** Exact integer division for non-negative longs (a Column `/` is a
    * double divide; subtracting the remainder first keeps it exact). */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  private def at(nd: Column, flatIdx: Column): Column =
    element_at(nd("data"), (flatIdx + 1L).cast("int"))

  /** [0, n) as a bigint array; empty when n <= 0. A bare
    * `sequence(0, n-1)` would yield the DESCENDING [0, -1] for n = 0
    * and corrupt zero-extent ndarrays with phantom elements. */
  private def indices(n: Column): Column =
    when(n > 0L, sequence(lit(0L), n.cast("long") - 1L))
      .otherwise(array().cast("array<bigint>"))

  /** NDArrayReindex with permutation (1,0): 2-D transpose. */
  def transpose2(nd: Column): Column = {
    val r = element_at(nd("shape"), 1)
    val c = element_at(nd("shape"), 2)
    struct(array(c, r).as("shape"),
      transform(indices(r * c),
        k => at(nd, pmod(k, r) * c + idiv(k, r))).as("data"))
  }

  /** NDArraySlice: rows [r0, r1) × cols [c0, c1). */
  def slice2(nd: Column, r0: Column, r1: Column, c0: Column, c1: Column)
      : Column = {
    val c = element_at(nd("shape"), 2)
    val nc = c1 - c0
    struct(array(r1 - r0, nc).as("shape"),
      transform(indices((r1 - r0) * nc),
        k => at(nd, (r0 + idiv(k, nc)) * c + c0 + pmod(k, nc))).as("data"))
  }

  /** NDArrayConcat along axis 0 (stack rows; col counts must match) or
    * axis 1 (side by side; row counts must match). */
  def concat2(a: Column, b: Column, axis: Int): Column = {
    val (ra, ca) = (element_at(a("shape"), 1), element_at(a("shape"), 2))
    val (rb, cb) = (element_at(b("shape"), 1), element_at(b("shape"), 2))
    if (axis == 0)
      struct(array(ra + rb, ca).as("shape"),
        concat(a("data"), b("data")).as("data"))
    else {
      val nc = ca + cb
      struct(array(ra, nc).as("shape"),
        transform(indices(ra * nc), k => {
          val i = idiv(k, nc); val j = pmod(k, nc)
          when(j < ca, at(a, i * ca + j))
            .otherwise(at(b, i * cb + (j - ca)))
        }).as("data"))
    }
  }

  /** NDArrayFilter: keep the given row/col indices (order preserved). */
  def filter2(nd: Column, rows: Column, cols: Column): Column = {
    val c = element_at(nd("shape"), 2)
    val nc = size(cols).cast("long")
    struct(array(size(rows).cast("long"), nc).as("shape"),
      transform(indices(size(rows) * size(cols)), k => {
        val i = element_at(rows, (idiv(k, nc) + 1).cast("int"))
        val j = element_at(cols, (pmod(k, nc) + 1).cast("int"))
        at(nd, i * c + j)
      }).as("data"))
  }

  /** NDArrayAgg: element sums along one axis of a 2-D ndarray
    * (axis 0 → per-column sums, shape (c); axis 1 → per-row sums). */
  def sumAxis(nd: Column, axis: Int): Column = {
    val r = element_at(nd("shape"), 1)
    val c = element_at(nd("shape"), 2)
    if (axis == 0)
      struct(array(c).as("shape"),
        transform(indices(c), j =>
          aggregate(indices(r), lit(0.0),
            (acc, i) => acc + at(nd, i * c + j))).as("data"))
    else
      struct(array(r).as("shape"),
        transform(indices(r), i =>
          aggregate(indices(c), lit(0.0),
            (acc, j) => acc + at(nd, i * c + j))).as("data"))
  }

  // ---- banded / interval zeroing (reference `NDArrayFunctions.scala`
  // zero_band:312, zero_row_intervals:393 — used by BlockMatrix sparsify
  // lowering). Pure codegen'd Columns: a `transform` with row-major index
  // math, no UDF, no data copy beyond the new array ------------------------

  private def rowColOf(idx: Column, nCols: Column): (Column, Column) = {
    val j = pmod(idx.cast("long"), nCols)
    val i = ((idx.cast("long") - j) / nCols).cast("long")
    (i, j)
  }

  /** Keep elements on diagonals `lower <= (col - row) <= upper`, zero the
    * rest (diagonal index convention of the reference's zero_band). */
  def zeroBand(nd: Column, lower: Column, upper: Column): Column = {
    val nC = element_at(nd("shape"), 2)
    struct(nd("shape").as("shape"),
      zip_with(nd("data"),
        indices(size(nd("data")).cast("long")),
        (v, idx) => {
          val (i, j) = rowColOf(idx, nC)
          when(j - i >= lower && j - i <= upper, v).otherwise(0.0)
        }).as("data"))
  }

  /** Zero row `i` outside its `[starts(i), stops(i))` column interval. */
  def zeroRowIntervals(nd: Column, starts: Column, stops: Column): Column = {
    val nC = element_at(nd("shape"), 2)
    struct(nd("shape").as("shape"),
      zip_with(nd("data"),
        indices(size(nd("data")).cast("long")),
        (v, idx) => {
          val (i, j) = rowColOf(idx, nC)
          when(j >= element_at(starts, (i + 1).cast("int")) &&
            j < element_at(stops, (i + 1).cast("int")), v)
            .otherwise(0.0)
        }).as("data"))
  }

  /** Triangular solve Ax = b (reference `linear_triangular_solve`, LAPACK
    * dtrtrs contract): forward/back substitution reading ONLY the
    * `lower`-selected triangle of A — entries in the opposite triangle
    * are never touched, exactly like dtrtrs. Null on a zero diagonal
    * (the `_no_crash` variant's failure case). */
  val triangularSolveUdf: UserDefinedFunction =
    udf { (sa: Seq[Long], da: Seq[Double], sb: Seq[Long], db: Seq[Double],
        lower: Boolean) =>
      val n = sa(0).toInt; val k = sb(1).toInt
      require(sa(1).toInt == n && sb(0).toInt == n,
        s"triangular_solve dimensions: A ${sa.mkString("x")}, " +
          s"b ${sb.mkString("x")}")
      if ((0 until n).exists(i => da(i * n + i) == 0.0)) None
      else {
        val x = Array.ofDim[Double](n * k)
        val rows = if (lower) 0 until n else (n - 1) to 0 by -1
        for (c <- 0 until k; i <- rows) {
          var s = db(i * k + c)
          val deps = if (lower) 0 until i else (i + 1) until n
          for (m <- deps) s -= da(i * n + m) * x(m * k + c)
          x(i * k + c) = s / da(i * n + i)
        }
        Some((Seq(n.toLong, k.toLong), x.toSeq))
      }
    }
  def triangularSolve(a: Column, b: Column, lower: Column): Column =
    triangularSolveUdf(a("shape"), a("data"), b("shape"), b("data"), lower)
      .cast("struct<shape:array<bigint>,data:array<double>>")

  // ---- per-row decompositions (reference `NDArrayFunctions.scala`
  // qr / svd / eigh — local Breeze kernels per value, same as the
  // reference's per-row execution) ----------------------------------------

  /** Reduced QR of an (m×n) ndarray: struct(q (m×n), r (n×n)). */
  val qrUdf: UserDefinedFunction =
    udf { (s: Seq[Long], d: Seq[Double]) =>
      val res = breeze.linalg.qr.reduced(toBreeze(s, d))
      ((Seq(s(0), s(1)), res.q.t.toArray.toSeq),
        (Seq(s(1), s(1)), res.r.t.toArray.toSeq))
    }
  def qrDecomp(a: Column): Column =
    qrUdf(a("shape"), a("data")).cast(
      "struct<q:struct<shape:array<bigint>,data:array<double>>," +
        "r:struct<shape:array<bigint>,data:array<double>>>")

  /** Full SVD A = U diag(s) Vᵀ: struct(u (m×m), s (k), vt (n×n)). */
  val svdUdf: UserDefinedFunction =
    udf { (s: Seq[Long], d: Seq[Double]) =>
      val res = breeze.linalg.svd(toBreeze(s, d))
      ((Seq(s(0), s(0)), res.U.t.toArray.toSeq),
        res.S.toArray.toSeq,
        (Seq(s(1), s(1)), res.Vt.t.toArray.toSeq))
    }
  def svdDecomp(a: Column): Column =
    svdUdf(a("shape"), a("data")).cast(
      "struct<u:struct<shape:array<bigint>,data:array<double>>," +
        "s:array<double>," +
        "vt:struct<shape:array<bigint>,data:array<double>>>")

  /** Symmetric eigendecomposition: struct(eigenvalues (ascending),
    * eigenvectors (n×n, columns)). */
  val eighUdf: UserDefinedFunction =
    udf { (s: Seq[Long], d: Seq[Double]) =>
      val res = breeze.linalg.eigSym(toBreeze(s, d))
      (res.eigenvalues.toArray.toSeq,
        (Seq(s(0), s(1)), res.eigenvectors.t.toArray.toSeq))
    }
  def eigh(a: Column): Column =
    eighUdf(a("shape"), a("data")).cast(
      "struct<eigenvalues:array<double>," +
        "eigenvectors:struct<shape:array<bigint>,data:array<double>>>")

  /** Matrix inverse (reference `NDArrayInv`), null on singular. */
  val invUdf: UserDefinedFunction =
    udf { (s: Seq[Long], d: Seq[Double]) =>
      try {
        val m: breeze.linalg.DenseMatrix[Double] =
          breeze.linalg.inv(toBreeze(s, d))
        Some((s, m.t.toArray.toSeq))
      } catch { case _: Exception => None }
    }
  def inverse(a: Column): Column =
    invUdf(a("shape"), a("data"))
      .cast("struct<shape:array<bigint>,data:array<double>>")
}
