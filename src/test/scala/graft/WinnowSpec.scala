package graft

import org.apache.spark.sql.functions._
import graft.functions.WinnowKernel
import graft.pipeline.{Dedup, Text}

/** Winnowing fingerprinting (rolling-hash k-grams + window-min
  * selection): kernel invariants, the guarantee theorem, and the
  * candidate-generation recall of the pair pipeline. */
class WinnowSpec extends SparkSpec {

  private val K = 8
  private val W = 12

  private def randWord(r: scala.util.Random, n: Int): String =
    (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  test("kernel: degenerate inputs (empty, shorter than k, one window)") {
    assert(WinnowKernel.fingerprints("", K, W).isEmpty)
    // shorter than k: single whole-string hash, stable
    val short = WinnowKernel.fingerprints("abc", K, W)
    assert(short.length === 1)
    assert(short.toSeq === WinnowKernel.fingerprints("abc", K, W).toSeq)
    assert(short.toSeq !== WinnowKernel.fingerprints("abd", K, W).toSeq)
    // fewer k-grams than one window: exactly the global minimum
    val s = "abcdefghijklmn" // 14 chars -> 7 grams < W
    assert(WinnowKernel.fingerprints(s, K, W).length === 1)
  }

  test("kernel: identical strings fingerprint identically; density ~2/(w+1)") {
    val r = new scala.util.Random(7)
    val s = randWord(r, 4000)
    val a = WinnowKernel.fingerprints(s, K, W)
    val b = WinnowKernel.fingerprints(new String(s.toCharArray), K, W)
    assert(a.toSeq === b.toSeq)
    // distinct selected values are a subset of selected positions; the
    // position density is 2/(w+1) in expectation — allow a wide band
    val density = a.length.toDouble / (s.length - K + 1)
    assert(density > 0.5 * 2.0 / (W + 1) && density < 2.0 * 2.0 / (W + 1),
      s"density $density out of band")
  }

  test("kernel guarantee: any shared run of k+w-1 chars shares a fingerprint") {
    val t = K + W - 1
    val r = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val shared = randWord(r, t + r.nextInt(10))
      val a = randWord(r, 60) + shared + randWord(r, 60)
      val b = randWord(r, 45) + shared + randWord(r, 80)
      val fa = WinnowKernel.fingerprints(a, K, W).toSet
      val fb = WinnowKernel.fingerprints(b, K, W).toSet
      assert(fa.intersect(fb).nonEmpty,
        s"no shared fingerprint for shared run of ${shared.length}")
    }
  }

  test("kernel matches a direct per-window reimplementation") {
    // independent oracle: hash every k-gram directly (no rolling
    // update), take each window's rightmost minimum by scan
    def ref(s: String, k: Int, w: Int): Seq[Long] = {
      def fmix(x0: Long): Long = {
        var x = x0
        x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
        x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
        x ^= x >>> 33; x
      }
      def h(g: String): Long =
        fmix(g.foldLeft(0L)((a, c) => a * 0x100000001b3L + c))
      if (s.isEmpty) return Seq.empty
      if (s.length < k) return Seq(h(s))
      val grams = s.sliding(k).map(h).toVector
      if (grams.length <= w)
        return Seq(grams.zipWithIndex.minBy { case (v, i) => (v, -i) }._1)
      grams.sliding(w).map(win =>
        win.zipWithIndex.minBy { case (v, i) => (v, -i) }._1)
        .toVector.distinct
    }
    val r = new scala.util.Random(3)
    (1 to 30).foreach { _ =>
      val s = randWord(r, r.nextInt(200))
      val (k, w) = (2 + r.nextInt(15), 1 + r.nextInt(15))
      assert(WinnowKernel.fingerprints(s, k, w).toSeq === ref(s, k, w),
        s"mismatch for len=${s.length} k=$k w=$w")
    }
  }

  test("charNgrams counts codepoints, not UTF-16 units") {
    // 😀 is an astral codepoint (a surrogate pair in Java strings); the
    // kernel must treat it as ONE character, matching SQL substr
    val got = spark.createDataFrame(Seq((1L, "a😀b")))
      .toDF("id", "t")
      .select(Text.charNgrams(col("t"), 2).as("g"))
      .head().getSeq[String](0).toSeq
    assert(got === Seq("a😀", "😀b"))
  }

  test("charNgrams: short strings yield empty, no descending-sequence bug") {
    val got = spark.createDataFrame(Seq((1L, "ab"), (2L, "abcd")))
      .toDF("id", "t")
      .select(col("id"), Text.charNgrams(col("t"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(got(1L) === Seq.empty)
    assert(got(2L) === Seq("abc", "bcd"))
  }

  test("winnowSubstringPairs equals the brute-force shared-run join") {
    val t = K + W - 1
    val r = new scala.util.Random(11)
    val sharedRun = randWord(r, t + 4)
    val t3 = randWord(r, 90)
    val all = Seq(
      1L -> (randWord(r, 50) + " " + sharedRun + randWord(r, 30)),
      2L -> (sharedRun + " " + randWord(r, 70)),
      3L -> t3,
      4L -> randWord(r, 90),
      // doc 5 = doc 3 with punctuation noise: identical after normalize
      5L -> (t3.grouped(7).mkString("! ") + "?"))
    val df = spark.createDataFrame(all).toDF("doc_id", "text")
    val got = Dedup.winnowSubstringPairs(df, "doc_id", "text", K, W)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2).toInt).toMap
    // brute-force expectation over normalized t-grams
    def norm(s: String) = s.toLowerCase.filter(_.isLetterOrDigit)
    def grams(s: String) =
      norm(s).sliding(t).filter(_.length == t).toSet
    val g = all.map { case (id, tx) => id -> grams(tx) }.toMap
    val expect = (for {
      (ia, ga) <- g; (ib, gb) <- g if ia < ib
      n = ga.intersect(gb).size if n > 0
    } yield (ia, ib) -> n).toMap
    assert(got === expect)
    assert(got.contains((1L, 2L))) // the planted shared run
    assert(got.contains((3L, 5L))) // normalization-invariant pair
  }

  /** 40 docs sharing one long verbatim run, plus one unrelated doc: a
    * hot fingerprint bucket of 40*39/2 = 780 pair incidences. Docs 1-2
    * and 3-4 also share a private run each, so under a cap of 10 (the
    * hot buckets dropped) they stay candidates while their cross pairs,
    * e.g. (1, 3), share grams only through dropped buckets. */
  private def hotBucketDocs = {
    val r = new scala.util.Random(31)
    val hot = randWord(r, 3 * (K + W))
    val runs = Seq.fill(2)(randWord(r, K + W + 4))
    val docs = (1L to 40L).map(i => i -> (hot + " " +
      (if (i <= 4) runs(((i - 1) / 2).toInt) else randWord(r, 10)))) :+
      (99L -> randWord(r, 120))
    spark.createDataFrame(docs).toDF("doc_id", "text")
  }

  private def fpsOf(df: org.apache.spark.sql.DataFrame) =
    Dedup.winnowFpsFrame(df, "doc_id", "text", K, W)

  test("verifySharedRuns: gram-slice iteration is output-invariant (bounded-disk mode)") {
    // distinct grams partition exactly across hash residue classes, so
    // per-pair counts sum across slices to the unsliced aggregation —
    // the equality that lets the shared-run count run in K sequential
    // sub-joins, each under the transient-disk budget
    val t = K + W - 1
    val r = new scala.util.Random(23)
    val shared = randWord(r, t + 9)
    val base = randWord(r, 120)
    val all = Seq(
      1L -> (randWord(r, 40) + shared + randWord(r, 40)),
      2L -> (shared + randWord(r, 60)),
      3L -> base,
      4L -> (base.take(70) + randWord(r, 50)),
      5L -> randWord(r, 100))
    val df = spark.createDataFrame(all).toDF("doc_id", "text")
    def pairs(f: org.apache.spark.sql.DataFrame) = f
      .select("id_a", "id_b", "n_shared").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val cand = Dedup.winnowSubstringPairs(df, "doc_id", "text", K, W)
      .select("id_a", "id_b")
    val verified = pairs(Dedup.verifySharedRuns(cand, df, "doc_id",
      "text", t))
    assert(verified.nonEmpty)
    // the counter over every candidate doc, at 1, 3 and 7 slices,
    // equals the verified candidate pairs (recall is exact)
    val candDocs = cand.select(col("id_a").as("doc"))
      .union(cand.select(col("id_b").as("doc"))).distinct()
    def run(slices: Int) = pairs(Dedup.sharedRunCounts(df, "doc_id",
      "text", t, candDocs, slices))
    assert(run(1) === verified)
    assert(run(3) === verified)
    assert(run(7) === verified)
    // the full bounded-disk operator path (linear candDocs from bucket
    // sizes + sliced gram counts + sliced candidate cross-check) must
    // equal the default candidate-join path exactly — also where the
    // bucket cap drops the hot bucket, the case the per-fingerprint-
    // residue cross-check exists for
    def full(in: org.apache.spark.sql.DataFrame, cap: Int, slices: Int) =
      pairs(Dedup.substringPairsAt(in, fpsOf(in), "doc_id", "text", t,
        cap, slices))
    Seq(df -> 10000, hotBucketDocs -> 10).foreach { case (in, cap) =>
      val fullDefault = full(in, cap, 1)
      assert(fullDefault.nonEmpty)
      assert(full(in, cap, 3) === fullDefault)
      assert(full(in, cap, 5) === fullDefault)
    }
  }

  test("autoWinnowSlices: hot-bucket mass flips to sliced mode by itself; stays 1 under budget") {
    // the hot bucket alone carries 780 pair incidences; with a 4 KiB
    // budget (48 B each -> ~37 KiB estimate) the auto rule must engage
    // the bounded mode by itself
    val df = hotBucketDocs
    val fps = fpsOf(df)
    assert(Dedup.autoWinnowSlices(fps, maxBucketSize = 10000,
      budgetBytes = 4096) > 1)
    // under the default (32 GB) budget the same corpus keeps the plain
    // co-partitioned plan: slices = 1, nothing changes for small data
    assert(Dedup.autoWinnowSlices(fps, maxBucketSize = 10000) === 1)
    // buckets past the cap are DROPPED by the operator, so they must
    // not count toward the mass estimate either
    assert(Dedup.autoWinnowSlices(fps, maxBucketSize = 10,
      budgetBytes = 4096) === 1)
    // and the automatic choice produces the same output as the
    // explicit one-slice path on a normal corpus
    val got0 = Dedup.winnowSubstringPairs(df, "doc_id", "text", K, W)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val got1 = Dedup.substringPairsAt(df, fps, "doc_id", "text",
        K + W - 1, maxBucketSize = 10000, slices = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got0 === got1)
    assert(got0.nonEmpty)
  }
}
