package graft

import breeze.linalg.{DenseMatrix => BDM}
import org.apache.spark.sql.functions._

import graft.linalg.BlockMatrix
import graft.methods.Ld
import graft.pipeline.Multimodal
import graft.sources.Vcf

class BlockMatrixSpec extends SparkSpec {

  private def local(rows: Int, cols: Int)(f: (Int, Int) => Double) =
    BDM.tabulate(rows, cols)(f)

  test("blockmatrix ops match Breeze with a tiny block size") {
    val a = local(5, 4)((i, j) => i * 4.0 + j + 1)
    val b = local(4, 3)((i, j) => if (i == j) 2.0 else -1.0)
    val A = BlockMatrix.fromLocal(spark, a, blockSize = 2)
    val B = BlockMatrix.fromLocal(spark, b, blockSize = 2)
    assert(A.dot(B).toLocal == a * b)
    assert(A.transpose.toLocal == a.t)
    assert(A.map(x => x * x).toLocal == a.map(x => x * x))
    val a2 = local(5, 4)((i, j) => i - j.toDouble)
    val A2 = BlockMatrix.fromLocal(spark, a2, blockSize = 2)
    assert(A.map2(A2, _ + _).toLocal == a + a2)
    assert((A - A2).toLocal == a - a2)
    assert((A * A2).toLocal == a *:* a2)
    assert(math.abs(A.sum() - breeze.linalg.sum(a)) < 1e-12)
    assert(A.scale(3.0).toLocal == a * 3.0)
    val aat: BDM[Double] = a * a.t
    val d = BlockMatrix.fromLocal(spark, aat, blockSize = 2)
    assert(d.diagonal().toSeq == (0 until 5).map(i => aat(i, i)))
  }

  test("sparsifyBand drops out-of-band blocks and zeroes the fringe") {
    val n = 6
    val a = local(n, n)((_, _) => 1.0)
    val A = BlockMatrix.fromLocal(spark, a, blockSize = 2)
    val banded = A.sparsifyBand(1)
    // far corner blocks are gone entirely
    assert(banded.m.blocks.count() < A.m.blocks.count())
    val got = banded.toLocal
    for (i <- 0 until n; j <- 0 until n)
      assert(got(i, j) == (if (math.abs(i - j) <= 1) 1.0 else 0.0),
        s"($i,$j)")
  }

  test("sparsifyRectangles keeps only requested regions") {
    val a = local(4, 4)((i, j) => i * 4.0 + j)
    val A = BlockMatrix.fromLocal(spark, a, blockSize = 2)
    val got = A.sparsifyRectangles(Seq((0L, 2L, 0L, 2L))).toLocal
    for (i <- 0 until 4; j <- 0 until 4)
      assert(got(i, j) == (if (i < 2 && j < 2) a(i, j) else 0.0))
  }

  test("rowSums and entries round-trip") {
    val a = local(3, 3)((i, j) => i + j * 10.0)
    val A = BlockMatrix.fromLocal(spark, a, blockSize = 2)
    val rs = A.rowSums().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (i <- 0 until 3)
      assert(math.abs(rs(i.toLong) - breeze.linalg.sum(a(i, ::))) < 1e-12)
    val ents = A.entries.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ents((1L, 2L)) == 21.0)
    val back = BlockMatrix.fromEntries(A.entries, 3, 3, 2).toLocal
    assert(back == a)
  }

  test("filter/slice subset and reorder like local indexing") {
    val a = local(5, 4)((i, j) => i * 4.0 + j + 1)
    val A = BlockMatrix.fromLocal(spark, a, blockSize = 2)
    // filterRows reorders: row0=old3, row1=old1
    val fr = A.filterRows(Seq(3L, 1L))
    assert(fr.nRows == 2 && fr.nCols == 4)
    assert(fr.toLocal == BDM.tabulate(2, 4)((i, j) => a(Seq(3, 1)(i), j)))
    val fc = A.filterCols(Seq(2L, 0L, 3L))
    assert(fc.toLocal ==
      BDM.tabulate(5, 3)((i, j) => a(i, Seq(2, 0, 3)(j))))
    val both = A.filter(Seq(4L, 0L), Seq(1L, 2L))
    assert(both.toLocal ==
      BDM.tabulate(2, 2)((i, j) => a(Seq(4, 0)(i), Seq(1, 2)(j))))
    val sl = A.slice(1, 4, 1, 3)
    assert(sl.nRows == 3 && sl.nCols == 2)
    assert(sl.toLocal == BDM.tabulate(3, 2)((i, j) => a(i + 1, j + 1)))
    // slicing away a block-aligned corner never decomposes far blocks
    val corner = A.slice(0, 2, 0, 2)
    assert(corner.toLocal == BDM.tabulate(2, 2)((i, j) => a(i, j)))
  }

  test("sparsifyRowIntervals zeroes outside each row's window") {
    val n = 6
    val a = local(n, n)((_, _) => 1.0)
    val A = BlockMatrix.fromLocal(spark, a, blockSize = 2)
    val starts = Seq(0L, 1L, 2L, 3L, 4L, 5L)
    val stops = Seq(2L, 3L, 4L, 5L, 6L, 6L)
    val got = A.sparsifyRowIntervals(starts, stops)
    // the lower-left corner block (rows 4-5 x cols 0-1) has no kept
    // entry -> dropped outright
    assert(got.m.blocks.count() < A.m.blocks.count())
    val g = got.toLocal
    for (i <- 0 until n; j <- 0 until n)
      assert(g(i, j) ==
        (if (j >= starts(i) && j < stops(i)) 1.0 else 0.0), s"($i,$j)")
  }

  test("broadcast vector ops, colSums, densify match Breeze") {
    val a = local(5, 4)((i, j) => i * 4.0 + j + 1)
    val A = BlockMatrix.fromLocal(spark, a, blockSize = 2)
    val rv = Array(10.0, 20.0, 30.0, 40.0)
    val cv = Array(1.0, 2.0, 3.0, 4.0, 5.0)
    assert(A.addRowVector(rv).toLocal ==
      BDM.tabulate(5, 4)((i, j) => a(i, j) + rv(j)))
    assert(A.mulRowVector(rv).toLocal ==
      BDM.tabulate(5, 4)((i, j) => a(i, j) * rv(j)))
    assert(A.addColVector(cv).toLocal ==
      BDM.tabulate(5, 4)((i, j) => a(i, j) + cv(i)))
    assert(A.mulColVector(cv).toLocal ==
      BDM.tabulate(5, 4)((i, j) => a(i, j) * cv(i)))
    val cs = A.colSums().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (j <- 0 until 4)
      assert(math.abs(cs(j.toLong) - (0 until 5).map(a(_, j)).sum) < 1e-12)
    // densify restores dropped blocks as zeros: a band-sparsified
    // all-ones matrix plus a row vector of ones is exact everywhere
    val banded = A.sparsifyBand(0).densify()
    assert(banded.m.blocks.count() == A.m.blocks.count())
    val shifted = banded.addRowVector(Array(1.0, 1.0, 1.0, 1.0)).toLocal
    for (i <- 0 until 5; j <- 0 until 4)
      assert(shifted(i, j) == (if (i == j) a(i, j) else 0.0) + 1.0)
  }

  test("random is seed-deterministic and partitioning-invariant") {
    val r1 = BlockMatrix.random(spark, 8, 6, seed = 42, blockSize = 2)
    val r2 = BlockMatrix.random(spark, 8, 6, seed = 42, blockSize = 4)
    assert(r1.toLocal == r2.toLocal) // grid doesn't change values
    val r3 = BlockMatrix.random(spark, 8, 6, seed = 43, blockSize = 2)
    assert(r1.toLocal != r3.toLocal)
    val u = BlockMatrix.random(spark, 10, 10, seed = 7, gaussian = false)
      .toLocal
    assert(u.toArray.forall(x => x >= 0.0 && x < 1.0))
  }

  test("save/load round-trips the block layout at non-default block size") {
    val a = local(7, 5)((i, j) => math.sin(i * 5.0 + j) * 10)
    val A = BlockMatrix.fromLocal(spark, a, blockSize = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm").toString
    A.save(s"$dir/m")
    val back = BlockMatrix.load(spark, s"$dir/m")
    assert(back.nRows == 7 && back.nCols == 5 && back.blockSize == 3)
    assert(back.toLocal == a)
    // sparsified matrices persist only their stored blocks
    val banded = BlockMatrix.fromLocal(spark,
      local(9, 9)((i, j) => i * 9.0 + j), blockSize = 3).sparsifyBand(1)
    banded.save(s"$dir/band")
    val bandBack = BlockMatrix.load(spark, s"$dir/band")
    assert(bandBack.toLocal == banded.toLocal)
    val storedBlocks = spark.read.parquet(s"$dir/band/blocks").count()
    assert(storedBlocks == 7) // 3x3 grid minus the two far corners
  }

  test("hail .bm interop: reference fixture import + write/read circle") {
    // the reference's own test fixture (BlockMatrixIRSuite.scala:390)
    val src = "/root/reference/hail/hail/test/resources/" +
      "blockmatrix_example/0"
    if (new java.io.File(src).isDirectory) {
      val ref = BlockMatrix.readHail(spark, src)
      assert(ref.nRows == 2 && ref.nCols == 2 && ref.blockSize == 2)
      val v = ref.toLocal
      assert((0 until 2).forall(i => (0 until 2).forall(j =>
        !v(i, j).isNaN && !v(i, j).isInfinite)))
      // full circle on the fixture through OUR writer
      val d0 = java.nio.file.Files.createTempDirectory("graft_bmh")
      BlockMatrix.writeHail(ref, s"$d0/copy.bm")
      assert(BlockMatrix.readHail(spark, s"$d0/copy.bm").toLocal == v)
    }
    // multi-block ragged-edge grid round-trip (7x5 at blockSize 3 →
    // 3x2 grid with partial fringe blocks, parts in col-major order)
    val a = local(7, 5)((i, j) => math.cos(i * 3.0 + j) * 5)
    val A = BlockMatrix.fromLocal(spark, a, blockSize = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_bmh2")
    BlockMatrix.writeHail(A, s"$dir/m.bm")
    val back = BlockMatrix.readHail(spark, s"$dir/m.bm")
    assert(back.nRows == 7 && back.nCols == 5 && back.blockSize == 3)
    assert(back.toLocal == a)
    // metadata is the reference's exact shape
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/m.bm/metadata.json")), "UTF-8")
    for (k <- Seq("\"blockSize\":3", "\"nRows\":7", "\"nCols\":5",
      "\"maybeFiltered\":null", "\"partFiles\":["))
      assert(meta.contains(k), s"missing $k in $meta")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/m.bm/_SUCCESS")))
  }

  test("ldPruneGlobal removes cross-boundary correlated survivors") {
    val mt = Vcf.read(spark,
      Fixtures.path("oracle_sample.vcf"))
    val global = Ld.ldPruneGlobal(mt, r2Threshold = 0.5, window = 1500)
    val local = Ld.ldPrune(mt, r2Threshold = 0.5, window = 1500)
    val g = global.df.count(); val l = local.df.count()
    assert(g <= l && g > 0)
    // invariant: no kept pair within the window has r^2 above threshold
    val keptMt = mt.copy(rows = mt.rows.join(
      global.df.select("contig", "position"),
      Seq("contig", "position"), "left_semi"))
    val viol = Ld.ldMatrix(keptMt, 1500)
      .filter(col("r") * col("r") > 0.5).count()
    assert(viol == 0, s"$viol correlated pairs survived")
  }

  test("real image decode extracts true dimensions from a PNG") {
    val img = new java.awt.image.BufferedImage(17, 9,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 17; y <- 0 until 9)
      img.setRGB(x, y, 0x808080) // gray: every band 0x80
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = spark.createDataFrame(Seq(
      (1L, bos.toByteArray), (2L, Array[Byte](1, 2, 3))))
      .toDF("id", "payload")
    val out = Multimodal.decodeBatched(df, "payload", real = true)
      .select(col("id"), col("decoded")).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    val png = out(1L)
    assert(png.getInt(0) == 17 && png.getInt(1) == 9)
    assert(png.getInt(2) == 3)
    assert(math.abs(png.getDouble(3) - 0x80) < 1e-9)
    // undecodable bytes fall back to the deterministic stub
    assert(out(2L).getInt(2) == 3)
  }
}
