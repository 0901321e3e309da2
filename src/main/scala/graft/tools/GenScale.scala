package graft.tools

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the benchmark corpus: reads the driver's
  * sf0.1 tables and writes an N× corpus (default 10× = "sf1") that
  * preserves the join graph and the statistical profile:
  *
  *  - fact/dim keys are replica-shifted by `max(key)+1` so every FK
  *    keeps resolving (orders.o_custkey -> customer, lineitem ->
  *    orders/part/supplier, events.user_id stays self-consistent);
  *    region/nation stay fixed like TPC-H dims.
  *  - `documents.text` is MUTATED per replica (deterministic word
  *    shuffle + ~50% vocabulary replacement seeded by (doc_id,
  *    replica)), so exact/token-bag/minhash dedup sees a 10× corpus of
  *    genuinely distinct documents instead of 10 trivial copies — the
  *    pair-family scaling measurement would otherwise be meaningless.
  *  - `embeddings.embedding` gets seeded Gaussian noise at half the
  *    vector norm, re-normalized to the original norm: new vectors are
  *    below near-dup cosine thresholds but keep the cluster/label
  *    structure the ANN queries rely on.
  *
  * Replica 0 is byte-identical to the source, so sf0.1 results are a
  * strict subset. Everything is seeded by (id, replica): reruns are
  * bit-reproducible, no wall-clock or global RNG anywhere. */
object GenScale {

  def main(args: Array[String]): Unit = {
    val in = sys.env.getOrElse("SPARK_GRAFT_GEN_IN", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_GEN_OUT",
      java.nio.file.Paths.get(".bench-data/sf1").toAbsolutePath.toString)
    val reps = sys.env.getOrElse("SPARK_GRAFT_GEN_REPS", "10").toInt
    val spark = graft.GraftSession.build()

    def rd(t: String): DataFrame = spark.read.parquet(s"$in/$t.parquet")
    def wr(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")

    /** Union of `reps` key-shifted copies. `shift` maps (df, replica)
      * to that replica's frame; replica 0 passes through untouched. */
    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until reps).map(r => if (r == 0) df else shift(df, r))
        .reduce(_ unionByName _)

    def keyStep(df: DataFrame, k: String): Long = {
      val row = df.agg(max(col(k).cast("long"))).head()
      require(!row.isNullAt(0),
        s"keyStep: column $k has no values (empty table?) — cannot " +
          "derive a replica key offset")
      row.getLong(0) + 1L
    }

    // dims stay fixed
    wr(rd("region"), "region", 1)
    wr(rd("nation"), "nation", 1)

    val customer = rd("customer")
    val cStep = keyStep(customer, "c_custkey")
    wr(replicate(customer)((d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * cStep))),
      "customer", 8)

    val supplier = rd("supplier")
    val sStep = keyStep(supplier, "s_suppkey")
    wr(replicate(supplier)((d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * sStep))),
      "supplier", 2)

    val part = rd("part")
    val pStep = keyStep(part, "p_partkey")
    wr(replicate(part)((d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * pStep))),
      "part", 8)

    val orders = rd("orders")
    val oStep = keyStep(orders, "o_orderkey")
    wr(replicate(orders)((d, r) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(r * oStep))
      .withColumn("o_custkey", col("o_custkey") + lit(r * cStep))),
      "orders", 16)

    wr(replicate(rd("lineitem"))((d, r) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(r * oStep))
      .withColumn("l_partkey", col("l_partkey") + lit(r * pStep))
      .withColumn("l_suppkey", col("l_suppkey") + lit(r * sStep))),
      "lineitem", 32)

    val events = rd("events")
    val eStep = keyStep(events, "event_id")
    val uStep = keyStep(events, "user_id")
    wr(replicate(events)((d, r) => d
      .withColumn("event_id", col("event_id") + lit(r * eStep))
      .withColumn("user_id", col("user_id") + lit(r * uStep))),
      "events", 32)

    // documents: replica texts are distinct documents with the same
    // length/word profile (shuffle + seeded 50% vocab substitution)
    val docs = rd("documents")
    val dStep = keyStep(docs, "doc_id")
    val vocab = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .orderBy(desc("count"), asc("w"))
      .limit(5000)
      .collect().map(_.getString(0))
    val vocabB = spark.sparkContext.broadcast(vocab)
    val mutate = udf { (text: String, docId: Long, rep: Int) =>
      if (rep == 0 || text == null) text
      else {
        val rng = new java.util.Random(docId * 1000003L + rep * 7919L)
        val v = vocabB.value
        val words = text.split("\\s+").filter(_.nonEmpty)
        // Fisher–Yates, then replace ~half from the corpus vocabulary
        var i = words.length - 1
        while (i > 0) {
          val j = rng.nextInt(i + 1)
          val t = words(i); words(i) = words(j); words(j) = t
          i -= 1
        }
        i = 0
        // an empty vocabulary (all-whitespace corpus) degrades to
        // shuffle-only mutation instead of throwing on nextInt(0)
        while (v.nonEmpty && i < words.length) {
          if (rng.nextDouble() < 0.5)
            words(i) = v(rng.nextInt(v.length))
          i += 1
        }
        words.mkString(" ")
      }
    }
    wr((0 until reps).map { r =>
      docs
        .withColumn("text",
          mutate(col("text"), col("doc_id").cast("long"), lit(r)))
        .withColumn("doc_id", col("doc_id") + lit(r * dStep))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _), "documents", 16)

    // embeddings: seeded noise at half the norm, renormalized — keeps
    // clusters, breaks near-duplicate cosine
    val emb = rd("embeddings")
    val vStep = keyStep(emb, "vec_id")
    val perturb = udf { (vec: Seq[Float], vecId: Long, rep: Int) =>
      if (rep == 0 || vec == null) vec
      else {
        val rng = new java.util.Random(vecId * 2654435761L + rep)
        val a = vec.toArray
        val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
        val sigma = 0.5 * norm / math.sqrt(a.length.toDouble)
        val b = a.map(x => x + (rng.nextGaussian() * sigma).toFloat)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        val scale = if (nb == 0) 1.0 else norm / nb
        b.map(x => (x * scale).toFloat).toSeq
      }
    }
    wr((0 until reps).map { r =>
      emb
        .withColumn("embedding",
          perturb(col("embedding"), col("vec_id").cast("long"), lit(r)))
        .withColumn("vec_id", col("vec_id") + lit(r * vStep))
    }.reduce(_ unionByName _), "embeddings", 8)

    println(s"""{"generated":"$out","replicas":$reps,"source":"$in"}""")
    spark.stop()
  }
}
