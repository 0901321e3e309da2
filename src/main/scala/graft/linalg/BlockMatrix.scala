package graft.linalg

import breeze.linalg.{DenseMatrix => BDM}
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDenseMatrix, Matrices}
import org.apache.spark.mllib.linalg.distributed.{BlockMatrix => MlBlockMatrix, CoordinateMatrix, MatrixEntry}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed block matrix API (reference `linalg/BlockMatrix.scala`,
  * IR ops `expr/ir/BlockMatrixIR.scala:265-916`): element-wise map/map2,
  * matmul, transpose, scalar reductions, band/rectangle sparsification,
  * and DataFrame interop.
  *
  * Spark-first: storage is MLlib's `BlockMatrix` grid
  * (`RDD[((Int,Int), Matrix)]`, square blocks) — its `multiply` is the
  * same block-cogroup matmul the reference hand-rolls; element-wise ops
  * run as per-block Breeze kernels (one task per block, no shuffle;
  * map2 co-partitions by block coordinate — a single zip-join shuffle
  * when partitioners differ). Sparsification DROPS blocks wholly outside
  * the kept region, so a banded 1M² matrix only materializes its
  * diagonal strip — the reference's band-sparsify contract. */
final case class BlockMatrix(m: MlBlockMatrix) {

  def nRows: Long = m.numRows()
  def nCols: Long = m.numCols()
  def blockSize: Int = m.rowsPerBlock

  /** Element-wise map over stored blocks (dropped blocks stay dropped —
    * apply only zero-preserving fns to sparsified matrices, as in the
    * reference). */
  def map(f: Double => Double): BlockMatrix = {
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val nr = nRows; val nc = nCols
    val blocks = m.blocks.mapValues { blk =>
      Matrices.dense(blk.numRows, blk.numCols, blk.toArray.map(f))
    }
    BlockMatrix(new MlBlockMatrix(blocks, rpb, cpb, nr, nc))
  }

  /** Element-wise combine with an identically-gridded matrix; blocks
    * present on one side only are combined against zeros. */
  def map2(other: BlockMatrix, f: (Double, Double) => Double)
      : BlockMatrix = {
    require(nRows == other.nRows && nCols == other.nCols &&
      blockSize == other.blockSize, "grid mismatch")
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val nr = nRows; val nc = nCols
    val blocks = m.blocks.fullOuterJoin(other.m.blocks).map {
      case (coord, (la, lb)) =>
        val a = la.map(_.toArray)
        val b = lb.map(_.toArray)
        val rows = la.map(_.numRows).orElse(lb.map(_.numRows)).get
        val cols = la.map(_.numCols).orElse(lb.map(_.numCols)).get
        val out = new Array[Double](rows * cols)
        var i = 0
        while (i < out.length) {
          out(i) = f(a.map(_(i)).getOrElse(0.0), b.map(_(i)).getOrElse(0.0))
          i += 1
        }
        coord -> Matrices.dense(rows, cols, out)
    }
    BlockMatrix(new MlBlockMatrix(blocks, rpb, cpb, nr, nc))
  }

  def +(other: BlockMatrix): BlockMatrix = map2(other, _ + _)
  def -(other: BlockMatrix): BlockMatrix = map2(other, _ - _)
  def *(other: BlockMatrix): BlockMatrix = map2(other, _ * _)
  def scale(s: Double): BlockMatrix = map(_ * s)

  /** Matrix product via MLlib's block cogroup multiply. */
  def dot(other: BlockMatrix): BlockMatrix =
    BlockMatrix(m.multiply(other.m))

  def transpose: BlockMatrix = BlockMatrix(m.transpose)

  /** Sum of all stored entries (treeReduce over per-block sums). */
  def sum(): Double =
    m.blocks.map(_._2.toArray.sum).treeReduce(_ + _)

  /** Per-row sums as (row, value) — one shuffle on row-block index. */
  def rowSums(): DataFrame = {
    val rpb = m.rowsPerBlock
    val spark = SparkSession.active
    val sums: RDD[(Long, Double)] = m.blocks.flatMap {
      case ((bi, _), blk) =>
        val acc = new Array[Double](blk.numRows)
        val arr = blk.toArray // column-major
        var j = 0
        while (j < blk.numCols) {
          var i = 0
          while (i < blk.numRows) {
            acc(i) += arr(j * blk.numRows + i); i += 1
          }
          j += 1
        }
        acc.iterator.zipWithIndex.map { case (v, i) =>
          (bi.toLong * rpb + i, v) }
    }.reduceByKey(_ + _)
    spark.createDataFrame(sums).toDF("row", "value")
  }

  def diagonal(): Array[Double] = {
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val n = math.min(nRows, nCols).toInt
    val parts = m.blocks.flatMap { case ((bi, bj), blk) =>
      val out = Seq.newBuilder[(Int, Double)]
      var i = 0
      while (i < blk.numRows) {
        val gRow = bi * rpb + i
        val gCol = gRow // diagonal
        if (gCol >= bj.toLong * cpb && gCol < bj.toLong * cpb + blk.numCols)
          out += ((gRow, blk(i, (gCol - bj.toLong * cpb).toInt)))
        i += 1
      }
      out.result()
    }.collect()
    val d = new Array[Double](n)
    parts.foreach { case (i, v) => if (i < n) d(i) = v }
    d
  }

  /** Keep only |row − col| <= width; blocks entirely outside the band are
    * DROPPED (never materialized downstream). */
  def sparsifyBand(width: Long): BlockMatrix = {
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val nr = nRows; val nc = nCols
    val blocks = m.blocks.filter { case ((bi, bj), blk) =>
      val rLo = bi.toLong * rpb; val rHi = rLo + blk.numRows - 1
      val cLo = bj.toLong * cpb; val cHi = cLo + blk.numCols - 1
      cHi - rLo >= -width && cLo - rHi <= width
    }.map { case (coord @ (bi, bj), blk) =>
      val rLo = bi.toLong * rpb; val cLo = bj.toLong * cpb
      val out = blk.toArray.clone()
      var j = 0
      while (j < blk.numCols) {
        var i = 0
        while (i < blk.numRows) {
          if (math.abs((cLo + j) - (rLo + i)) > width)
            out(j * blk.numRows + i) = 0.0
          i += 1
        }
        j += 1
      }
      coord -> Matrices.dense(blk.numRows, blk.numCols, out)
    }
    BlockMatrix(new MlBlockMatrix(blocks, rpb, cpb, nr, nc))
  }

  /** Keep entries inside any [rStart, rEnd) × [cStart, cEnd) rectangle. */
  def sparsifyRectangles(rects: Seq[(Long, Long, Long, Long)])
      : BlockMatrix = {
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val nr = nRows; val nc = nCols
    val blocks = m.blocks.filter { case ((bi, bj), blk) =>
      val rLo = bi.toLong * rpb; val rHi = rLo + blk.numRows
      val cLo = bj.toLong * cpb; val cHi = cLo + blk.numCols
      rects.exists { case (r0, r1, c0, c1) =>
        rLo < r1 && rHi > r0 && cLo < c1 && cHi > c0 }
    }.map { case (coord @ (bi, bj), blk) =>
      val rLo = bi.toLong * rpb; val cLo = bj.toLong * cpb
      val out = blk.toArray.clone()
      var j = 0
      while (j < blk.numCols) {
        var i = 0
        while (i < blk.numRows) {
          val r = rLo + i; val c = cLo + j
          val keep = rects.exists { case (r0, r1, c0, c1) =>
            r >= r0 && r < r1 && c >= c0 && c < c1 }
          if (!keep) out(j * blk.numRows + i) = 0.0
          i += 1
        }
        j += 1
      }
      coord -> Matrices.dense(blk.numRows, blk.numCols, out)
    }
    BlockMatrix(new MlBlockMatrix(blocks, rpb, cpb, nr, nc))
  }

  /** Row/col subset-and-reorder (reference `BlockMatrixIR.scala:728`
    * BlockMatrixFilter): output row r is input row `keepRows(r)` (same
    * for cols); `null` keeps an axis whole. Blocks containing no kept
    * index are dropped BEFORE decomposition, then kept entries remap
    * and regrid in one shuffle. */
  def filter(keepRows: Seq[Long], keepCols: Seq[Long]): BlockMatrix = {
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val rowMap = Option(keepRows)
      .map(_.zipWithIndex.map { case (o, n) => o -> n.toLong }.toMap)
    val colMap = Option(keepCols)
      .map(_.zipWithIndex.map { case (o, n) => o -> n.toLong }.toMap)
    val rowBlocks = rowMap.map(_.keySet.map(i => (i / rpb).toInt))
    val colBlocks = colMap.map(_.keySet.map(j => (j / cpb).toInt))
    val nr = rowMap.map(_.size.toLong).getOrElse(nRows)
    val nc = colMap.map(_.size.toLong).getOrElse(nCols)
    val entries = m.blocks
      .filter { case ((bi, bj), _) =>
        rowBlocks.forall(_.contains(bi)) && colBlocks.forall(_.contains(bj))
      }
      .flatMap { case ((bi, bj), blk) =>
        val rLo = bi.toLong * rpb; val cLo = bj.toLong * cpb
        val out = Seq.newBuilder[MatrixEntry]
        var j = 0
        while (j < blk.numCols) {
          val cNew = colMap.fold(Option(cLo + j))(_.get(cLo + j))
          if (cNew.isDefined) {
            var i = 0
            while (i < blk.numRows) {
              val rNew = rowMap.fold(Option(rLo + i))(_.get(rLo + i))
              if (rNew.isDefined)
                out += MatrixEntry(rNew.get, cNew.get, blk(i, j))
              i += 1
            }
          }
          j += 1
        }
        out.result()
      }
    BlockMatrix(new CoordinateMatrix(entries, nr, nc)
      .toBlockMatrix(rpb, cpb))
  }

  def filterRows(keep: Seq[Long]): BlockMatrix = filter(keep, null)
  def filterCols(keep: Seq[Long]): BlockMatrix = filter(null, keep)

  /** Contiguous submatrix [r0,r1) × [c0,c1) (reference
    * `BlockMatrixIR.scala:916` BlockMatrixSlice). Only blocks
    * intersecting the window decompose; indices shift then regrid. */
  def slice(r0: Long, r1: Long, c0: Long, c1: Long): BlockMatrix = {
    require(0 <= r0 && r0 <= r1 && r1 <= nRows &&
      0 <= c0 && c0 <= c1 && c1 <= nCols, "slice out of bounds")
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val entries = m.blocks
      .filter { case ((bi, bj), blk) =>
        val rLo = bi.toLong * rpb; val cLo = bj.toLong * cpb
        rLo < r1 && rLo + blk.numRows > r0 &&
          cLo < c1 && cLo + blk.numCols > c0
      }
      .flatMap { case ((bi, bj), blk) =>
        val rLo = bi.toLong * rpb; val cLo = bj.toLong * cpb
        val out = Seq.newBuilder[MatrixEntry]
        var j = math.max(0, (c0 - cLo).toInt)
        val jHi = math.min(blk.numCols.toLong, c1 - cLo).toInt
        while (j < jHi) {
          var i = math.max(0, (r0 - rLo).toInt)
          val iHi = math.min(blk.numRows.toLong, r1 - rLo).toInt
          while (i < iHi) {
            out += MatrixEntry(rLo + i - r0, cLo + j - c0, blk(i, j))
            i += 1
          }
          j += 1
        }
        out.result()
      }
    BlockMatrix(new CoordinateMatrix(entries, r1 - r0, c1 - c0)
      .toBlockMatrix(rpb, cpb))
  }

  /** Per-row kept column interval [starts(i), stops(i)) (reference
    * `BlockMatrixIR.scala:826` row-interval sparsifier). Blocks whose
    * every row interval misses the block's column range are DROPPED. */
  def sparsifyRowIntervals(starts: Seq[Long], stops: Seq[Long])
      : BlockMatrix = {
    require(starts.length == nRows && stops.length == nRows,
      "starts/stops must have one entry per row")
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val nr = nRows; val nc = nCols
    val sc = m.blocks.sparkContext
    val bStarts = sc.broadcast(starts.toArray)
    val bStops = sc.broadcast(stops.toArray)
    val blocks = m.blocks.filter { case ((bi, bj), blk) =>
      val rLo = bi.toLong * rpb; val cLo = bj.toLong * cpb
      val cHi = cLo + blk.numCols
      (0 until blk.numRows).exists { i =>
        val r = (rLo + i).toInt
        bStarts.value(r) < cHi && bStops.value(r) > cLo
      }
    }.map { case (coord @ (bi, bj), blk) =>
      val rLo = bi.toLong * rpb; val cLo = bj.toLong * cpb
      val out = blk.toArray.clone()
      var j = 0
      while (j < blk.numCols) {
        val c = cLo + j
        var i = 0
        while (i < blk.numRows) {
          val r = (rLo + i).toInt
          if (c < bStarts.value(r) || c >= bStops.value(r))
            out(j * blk.numRows + i) = 0.0
          i += 1
        }
        j += 1
      }
      coord -> Matrices.dense(blk.numRows, blk.numCols, out)
    }
    BlockMatrix(new MlBlockMatrix(blocks, rpb, cpb, nr, nc))
  }

  /** Per-column sums as (col, value) — the axis-0 BlockMatrixAgg. */
  def colSums(): DataFrame = {
    val cpb = m.colsPerBlock
    val spark = SparkSession.active
    val sums: RDD[(Long, Double)] = m.blocks.flatMap {
      case ((_, bj), blk) =>
        val arr = blk.toArray // column-major
        (0 until blk.numCols).iterator.map { j =>
          var acc = 0.0
          var i = 0
          while (i < blk.numRows) { acc += arr(j * blk.numRows + i); i += 1 }
          (bj.toLong * cpb + j, acc)
        }
    }.reduceByKey(_ + _)
    spark.createDataFrame(sums).toDF("col", "value")
  }

  /** Broadcast combine with a length-nCols vector applied along every
    * row (reference `BlockMatrixIR.scala:585` BlockMatrixBroadcast).
    * Stored blocks only — densify first if the matrix was sparsified
    * and `f` is not zero-preserving in its first argument. */
  def mapWithRowVector(v: Array[Double], f: (Double, Double) => Double)
      : BlockMatrix = {
    require(v.length == nCols, s"vector length ${v.length} != $nCols cols")
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val nr = nRows; val nc = nCols
    val bv = m.blocks.sparkContext.broadcast(v)
    val blocks = m.blocks.map { case (coord @ (_, bj), blk) =>
      val cLo = bj.toLong * cpb
      val out = blk.toArray.clone()
      var j = 0
      while (j < blk.numCols) {
        val x = bv.value((cLo + j).toInt)
        var i = 0
        while (i < blk.numRows) {
          out(j * blk.numRows + i) = f(out(j * blk.numRows + i), x)
          i += 1
        }
        j += 1
      }
      coord -> (Matrices.dense(blk.numRows, blk.numCols, out)
        : org.apache.spark.mllib.linalg.Matrix)
    }
    BlockMatrix(new MlBlockMatrix(blocks, rpb, cpb, nr, nc))
  }

  /** Broadcast combine with a length-nRows vector applied down every
    * column. */
  def mapWithColVector(v: Array[Double], f: (Double, Double) => Double)
      : BlockMatrix = {
    require(v.length == nRows, s"vector length ${v.length} != $nRows rows")
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val nr = nRows; val nc = nCols
    val bv = m.blocks.sparkContext.broadcast(v)
    val blocks = m.blocks.map { case (coord @ (bi, _), blk) =>
      val rLo = bi.toLong * rpb
      val out = blk.toArray.clone()
      var j = 0
      while (j < blk.numCols) {
        var i = 0
        while (i < blk.numRows) {
          out(j * blk.numRows + i) =
            f(out(j * blk.numRows + i), bv.value((rLo + i).toInt))
          i += 1
        }
        j += 1
      }
      coord -> (Matrices.dense(blk.numRows, blk.numCols, out)
        : org.apache.spark.mllib.linalg.Matrix)
    }
    BlockMatrix(new MlBlockMatrix(blocks, rpb, cpb, nr, nc))
  }

  def addRowVector(v: Array[Double]): BlockMatrix =
    mapWithRowVector(v, _ + _)
  def mulRowVector(v: Array[Double]): BlockMatrix =
    mapWithRowVector(v, _ * _)
  def addColVector(v: Array[Double]): BlockMatrix =
    mapWithColVector(v, _ + _)
  def mulColVector(v: Array[Double]): BlockMatrix =
    mapWithColVector(v, _ * _)

  /** Materialize every dropped block as explicit zeros (reference
    * `BlockMatrixIR.scala:774` BlockMatrixDensify) — after this,
    * non-zero-preserving maps and broadcasts are safe. */
  def densify(): BlockMatrix = {
    val rpb = m.rowsPerBlock; val cpb = m.colsPerBlock
    val nr = nRows; val nc = nCols
    val nbr = ((nr + rpb - 1) / rpb).toInt
    val nbc = ((nc + cpb - 1) / cpb).toInt
    val sc = m.blocks.sparkContext
    val allCoords = sc.parallelize(
      for { bi <- 0 until nbr; bj <- 0 until nbc } yield (bi, bj),
      math.max(1, math.min(nbr * nbc, m.blocks.getNumPartitions)))
    val missing = allCoords.subtract(m.blocks.keys).map { case (bi, bj) =>
      val rows = (math.min(nr, (bi + 1).toLong * rpb) - bi.toLong * rpb).toInt
      val cols = (math.min(nc, (bj + 1).toLong * cpb) - bj.toLong * cpb).toInt
      (bi, bj) -> (Matrices.zeros(rows, cols)
        : org.apache.spark.mllib.linalg.Matrix)
    }
    BlockMatrix(new MlBlockMatrix(m.blocks.union(missing), rpb, cpb, nr, nc))
  }

  /** Entries as a DataFrame (i, j, value) — stored blocks only. */
  def entries: DataFrame = {
    val spark = SparkSession.active
    val rows = m.toCoordinateMatrix().entries
      .map(e => (e.i, e.j, e.value))
    spark.createDataFrame(rows).toDF("i", "j", "value")
  }

  /** Local Breeze materialization (driver-size matrices only). */
  def toLocal: BDM[Double] = {
    val l = m.toLocalMatrix()
    new BDM(l.numRows, l.numCols, l.toArray)
  }

  /** Native block-layout save (reference `BlockMatrixIR.scala:197`
    * `BlockMatrixBinaryReader` / `linalg/BlockMatrix.scala` write): one
    * parquet row per STORED block — (bi, bj, dims, column-major values)
    * — plus a one-row geometry sidecar. Unlike the entries round-trip
    * this preserves the grid on disk, so `load` is a partition-parallel
    * scan with no re-gridding shuffle, and sparsified matrices persist
    * only their stored blocks. */
  def save(path: String): Unit = {
    val spark = SparkSession.active
    val rows = m.blocks.map { case ((bi, bj), blk) =>
      (bi, bj, blk.numRows, blk.numCols, blk.toArray)
    }
    spark.createDataFrame(rows)
      .toDF("bi", "bj", "nr", "nc", "values")
      .write.mode("overwrite").parquet(s"$path/blocks")
    spark.createDataFrame(Seq((nRows, nCols, m.rowsPerBlock,
        m.colsPerBlock)))
      .toDF("n_rows", "n_cols", "rows_per_block", "cols_per_block")
      .write.mode("overwrite").parquet(s"$path/meta")
  }
}

object BlockMatrix {
  val DefaultBlockSize = 1024

  /** From an entries DataFrame (i, j, value). */
  def fromEntries(df: DataFrame, nRows: Long, nCols: Long,
      blockSize: Int = DefaultBlockSize): BlockMatrix = {
    val rdd = df.select(col("i").cast("long"), col("j").cast("long"),
      col("value").cast("double")).rdd
      .map(r => MatrixEntry(r.getLong(0), r.getLong(1), r.getDouble(2)))
    BlockMatrix(new CoordinateMatrix(rdd, nRows, nCols)
      .toBlockMatrix(blockSize, blockSize))
  }

  /** From per-row vector arrays: one matrix row per input row of
    * `df(vecCol)`, row index = `idxCol`. */
  def fromRowVectors(df: DataFrame, idxCol: String, vecCol: String,
      nRows: Long, nCols: Long, blockSize: Int = DefaultBlockSize)
      : BlockMatrix = {
    val exploded = df.select(col(idxCol).cast("long").as("i"),
      posexplode(col(vecCol)).as(Seq("j", "value")))
    fromEntries(exploded, nRows, nCols, blockSize)
  }

  /** Load a matrix written by `save`: the grid geometry comes from the
    * sidecar and every stored block maps straight back into place —
    * no shuffle, no entry explosion. */
  def load(spark: SparkSession, path: String): BlockMatrix = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (nr, nc, rpb, cpb) = (meta.getLong(0), meta.getLong(1),
      meta.getInt(2), meta.getInt(3))
    val blocks = spark.read.parquet(s"$path/blocks").rdd.map { r =>
      ((r.getInt(0), r.getInt(1)),
        Matrices.dense(r.getInt(2), r.getInt(3),
          r.getSeq[Double](4).toArray)
          : org.apache.spark.mllib.linalg.Matrix)
    }
    BlockMatrix(new MlBlockMatrix(blocks, rpb, cpb, nr, nc))
  }

  /** The reference's on-disk BlockMatrix codec
    * (`linalg/BlockMatrix.scala:110`): 32 KiB blocking over LZ4-fast
    * blocks with 4-byte LE stream framing. */
  private val HailBmBufSpec = graft.sources.HailNative.Blocking(32768,
    graft.sources.HailNative.Lz4Block(32768,
      graft.sources.HailNative.StreamBlock))

  /** Import a reference-written `.bm` block matrix
    * (`linalg/BlockMatrix.scala:214` read; metadata.json + one part
    * file per stored block, grid laid out column-major
    * `GridPartitioner.blockCoordinates`: blockRow = bi % nBlockRows).
    * Each part decodes in its own task; `maybeFiltered` (sparsified
    * matrices persisting only some blocks) maps part index → block
    * index. Block bytes: [int rows][int cols][bool isTranspose]
    * [rows*cols doubles] through the codec above. */
  def readHail(spark: SparkSession, path: String): BlockMatrix = {
    val metaTxt = {
      val p = new org.apache.hadoop.fs.Path(s"$path/metadata.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val jv = org.json4s.jackson.JsonMethods.parse(metaTxt)
    import org.json4s._
    def jInt(f: String): Long = (jv \ f) match {
      case JInt(v) => v.toLong
      case x => throw new IllegalArgumentException(s"bad .bm $f: $x")
    }
    val blockSize = jInt("blockSize").toInt
    val (nr, nc) = (jInt("nRows"), jInt("nCols"))
    val partFiles = (jv \ "partFiles").asInstanceOf[JArray].arr.map {
      case JString(s) => s
      case x => throw new IllegalArgumentException(s"bad partFile $x")
    }
    val filtered: Option[IndexedSeq[Int]] = (jv \ "maybeFiltered") match {
      case JArray(xs) => Some(xs.map(_.asInstanceOf[JInt].num.toInt)
        .toIndexedSeq)
      case _ => None
    }
    val nBlockRows = ((nr + blockSize - 1) / blockSize).toInt
    val indexed = partFiles.zipWithIndex.map { case (f, pi) =>
      val bi = filtered.map(_.apply(pi)).getOrElse(pi)
      (bi % nBlockRows, bi / nBlockRows, s"$path/parts/$f")
    }
    val blocks = spark.sparkContext
      .parallelize(indexed.toSeq, math.max(1, indexed.length))
      .map { case (i, j, file) =>
        val p = new org.apache.hadoop.fs.Path(file)
        val fs = p.getFileSystem(
          new org.apache.hadoop.conf.Configuration())
        val in = graft.sources.HailNative.buildInBuf(HailBmBufSpec,
          new java.io.BufferedInputStream(fs.open(p)))
        try {
          val rows = in.readInt()
          val cols = in.readInt()
          val isTranspose = in.readByte() != 0
          val data = new Array[Double](rows * cols)
          var k = 0
          while (k < data.length) { data(k) = in.readDouble(); k += 1 }
          // on-disk data is row-major when isTranspose; MLlib's dense
          // layout is column-major with an isTransposed flag — same
          // convention, pass it through
          ((i, j), new org.apache.spark.mllib.linalg.DenseMatrix(
            rows, cols, data, isTranspose)
            : org.apache.spark.mllib.linalg.Matrix)
        } finally in.close()
      }
    BlockMatrix(new MlBlockMatrix(blocks, blockSize, blockSize, nr, nc))
  }

  /** Export as a reference-readable `.bm`: one task per block writes
    * its part file; parts are listed in column-major grid order (the
    * reader's partition→coordinate contract). Dense only — every grid
    * block must be present (MLlib fills missing blocks on
    * `toBlockMatrix`, so graft matrices are dense by construction). */
  def writeHail(bm: BlockMatrix, path: String): Unit = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/parts"))
    val blockSize = bm.blockSize
    val nBlockRows = ((bm.nRows + blockSize - 1) / blockSize).toInt
    val nBlockCols = ((bm.nCols + blockSize - 1) / blockSize).toInt
    val written = bm.m.blocks.map { case ((bi, bj), blk) =>
      val pi = bj * nBlockRows + bi
      val file = f"part-$pi%05d-${java.util.UUID.randomUUID.toString}"
      val p = new org.apache.hadoop.fs.Path(s"$path/parts/$file")
      val tfs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val out = new graft.sources.HailNativeWrite.OutBuf(32768,
        new java.io.BufferedOutputStream(tfs.create(p, true)),
        varintFraming = false)
      val dense = blk match {
        case d: org.apache.spark.mllib.linalg.DenseMatrix => d
        case s: org.apache.spark.mllib.linalg.SparseMatrix => s.toDense
      }
      out.writeInt(dense.numRows)
      out.writeInt(dense.numCols)
      out.writeByte(if (dense.isTransposed) 1 else 0)
      val data = dense.values
      var k = 0
      while (k < data.length) { out.writeDouble(data(k)); k += 1 }
      out.close()
      (pi, file)
    }.collect().sortBy(_._1)
    require(written.length == nBlockRows * nBlockCols,
      s"sparse grid (${written.length} of ${nBlockRows * nBlockCols} " +
        "blocks) — densify() before writeHail")
    val metaJson =
      s"""{"blockSize":$blockSize,"nRows":${bm.nRows},""" +
        s""""nCols":${bm.nCols},"maybeFiltered":null,""" +
        s""""partFiles":${written.map(f => "\"" + f._2 + "\"")
          .mkString("[", ",", "]")}}"""
    val mp = new org.apache.hadoop.fs.Path(s"$path/metadata.json")
    val mo = fs.create(mp, true)
    try mo.write(metaJson.getBytes("UTF-8")) finally mo.close()
    val so = fs.create(new org.apache.hadoop.fs.Path(s"$path/_SUCCESS"),
      true)
    so.close()
  }

  /** Seeded random matrix (reference `BlockMatrixIR.scala:1038`
    * BlockMatrixRandom): entry (i,j) is a pure function of
    * (seed, i, j) via the engine's counter-based RNG (`functions/Rand`)
    * — identical across partitionings, re-runs, and cluster sizes. */
  def random(spark: SparkSession, nRows: Long, nCols: Long, seed: Long,
      gaussian: Boolean = true, blockSize: Int = DefaultBlockSize)
      : BlockMatrix = {
    val df = spark.range(nRows * nCols).select(
      floor(col("id") / nCols).cast("long").as("i"),
      pmod(col("id"), lit(nCols)).as("j"))
    val v =
      if (gaussian) graft.functions.Rand.rnorm(seed, col("i"), col("j"))
      else graft.functions.Rand.runif(seed, col("i"), col("j"))
    fromEntries(df.withColumn("value", v), nRows, nCols, blockSize)
  }

  /** Local Breeze matrix distributed into blocks. */
  def fromLocal(spark: SparkSession, a: BDM[Double],
      blockSize: Int = DefaultBlockSize): BlockMatrix = {
    val entries = for {
      i <- 0 until a.rows
      j <- 0 until a.cols
    } yield MatrixEntry(i, j, a(i, j))
    BlockMatrix(new CoordinateMatrix(
      spark.sparkContext.parallelize(entries),
      a.rows, a.cols).toBlockMatrix(blockSize, blockSize))
  }
}
