package graft.tools

import org.apache.spark.sql.functions._

/** Zipfian-vocabulary documents corpus for the similarity-join scaling
  * measurements (round-14 verdict ask): the driver's synthetic corpus
  * draws from a fixed ~31-word vocabulary, which is an adversarially
  * LOW-diversity instance for prefix-filter joins (semi-rare grams
  * recur corpus-wide, prefix buckets grow with the corpus). Natural
  * text has a power-law token distribution with a vocabulary that
  * GROWS with corpus size (Heaps' law, V ~ K·N^0.5) — the regime where
  * AllPairs/PPJoin is near-linear. This generator produces that
  * corpus, deterministically:
  *
  *  - vocabulary size V = 30·sqrt(total words) by default, word k
  *    spelled from a seeded hash of k (length 3..8). A second mode
  *    (SPARK_GRAFT_GEN_VOCAB=linear) grows the vocabulary LINEARLY,
  *    V = 3·nDocs — anchored to equal the sqrt mode's V at 5k docs
  *    (both give V = 15,000) so the two sweeps share their first
  *    decade and diverge only in growth rate (10x vs ~3.2x per
  *    decade). This measures the round-14 scaladoc's one unmeasured
  *    claim: corpora whose vocabulary grows ~linearly with N hold the
  *    prefix-filter join's near-linear regime;
  *  - word choice per (doc, position) is zipf(1): rank = floor(V^u)
  *    for a seeded uniform u — inverse-CDF of the 1/k law;
  *  - ~1% of docs (id % 97 == 0) are near-duplicates of the previous
  *    doc with ~4% of words replaced — the join has a real answer to
  *    find at every scale.
  *
  * Everything is seeded by doc id alone: reruns are bit-reproducible
  * and each scale is a superset-free independent draw (no replica
  * shortcuts — vocab and docs both grow). */
object GenZipf {

  private def word(k: Long): String = {
    var h = k * 0x9e3779b97f4a7c15L + 0x165667b19e3779f9L
    h ^= h >>> 29; h *= 0xbf58476d1ce4e5b9L; h ^= h >>> 32
    val len = 3 + (Math.floorMod(h, 6L)).toInt
    val sb = new StringBuilder
    var v = h
    var i = 0
    while (i < len) {
      sb.append(('a' + Math.floorMod(v, 26L).toInt).toChar)
      v = v * 0xd1342543de82ef95L + 1
      v ^= v >>> 33
      i += 1
    }
    sb.toString
  }

  private[graft] def docText(docId: Long, vocab: Long): String = {
    val rng = new java.util.Random(docId * 1000003L + 7919L)
    val nWords = 40 + (docId % 21).toInt
    val base =
      if (docId % 97 == 0 && docId > 0) {
        // near-duplicate of the previous doc: ~4% word substitution
        val prev = docTextRaw(docId - 1, vocab)
        prev.map(w =>
          if (rng.nextDouble() < 0.04) zipfWord(rng, vocab) else w)
      } else (0 until nWords).map(_ => zipfWord(rng, vocab))
    base.mkString(" ")
  }

  private def docTextRaw(docId: Long, vocab: Long): IndexedSeq[String] = {
    val rng = new java.util.Random(docId * 1000003L + 7919L)
    val nWords = 40 + (docId % 21).toInt
    (0 until nWords).map(_ => zipfWord(rng, vocab))
  }

  /** zipf(1) via inverse CDF: rank = floor(V^u) has P(rank=k) ~ 1/k. */
  private def zipfWord(rng: java.util.Random, vocab: Long): String = {
    val u = rng.nextDouble()
    val k = math.min(vocab - 1,
      math.floor(math.pow(vocab.toDouble, u)).toLong)
    word(k)
  }

  def main(args: Array[String]): Unit = {
    val out = sys.env.getOrElse("SPARK_GRAFT_GEN_OUT",
      "/root/repo/.bench-data/zipf_sf01")
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_GEN_DOCS", "5000").toLong
    val spark = graft.GraftSession.build()
    // Heaps' law vocabulary: V = 30·sqrt(expected corpus word count);
    // linear mode: V = 3·nDocs (see scaladoc — same V at 5k docs)
    val vocabMode = sys.env.getOrElse("SPARK_GRAFT_GEN_VOCAB", "sqrt")
    val vocab = vocabMode match {
      case "linear" => math.max(100L, 3L * nDocs)
      case "sqrt" =>
        math.max(100L, (30.0 * math.sqrt(nDocs * 50.0)).toLong)
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_GEN_VOCAB must be sqrt|linear, got: $other")
    }
    val textUdf = udf { id: Long => docText(id, vocab) }
    spark.range(nDocs).toDF("doc_id")
      .withColumn("text", textUdf(col("doc_id")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("zipf-"),
        (col("doc_id") % 8).cast("string")))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"""{"generated":"$out","docs":$nDocs,"vocab":$vocab}""")
    spark.stop()
  }
}
