package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Materialize, Multimodal, Similarity, Text}

class PipelineSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) =
    spark.createDataFrame(rows.toSeq).toDF("doc_id", "text")

  test("shingles: short text yields empty, no descending-sequence bug") {
    val got = docs((1L, "one two"), (2L, "a b c d"))
      .select(col("doc_id"), Text.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).toSeq).toMap
    assert(got(1L) === Seq.empty)
    assert(got(2L) === Seq("a b c", "b c d"))
  }

  test("bagFingerprint collapses word permutations") {
    val fp = docs((1L, "alpha beta gamma"), (2L, "gamma alpha beta"),
      (3L, "alpha beta delta"))
      .select(Text.bagFingerprint(col("text"))).collect().map(_.getString(0))
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  test("dedupParagraphs removes boilerplate at all but its first site") {
    val docs = spark.createDataFrame(Seq(
      (1L, "LICENSE HEADER\n\nunique one\n\nfooter"),
      (2L, "LICENSE HEADER\n\nunique two\n\nfooter"),
      (3L, "LICENSE HEADER\n\nunique three"))).toDF("id", "text")
    val got = pipeline.Dedup.dedupParagraphs(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "LICENSE HEADER\n\nunique one\n\nfooter")
    assert(got(2L) === "unique two")
    assert(got(3L) === "unique three")
  }

  test("exact dedup keeps min id per identical text") {
    val got = Dedup.exact(
      docs((5L, "same text here"), (2L, "same text here"),
        (9L, "different text")), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(2L, 9L))
  }

  test("minhashPairs finds permuted near-dups, skips unrelated") {
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val permuted = (1 to 30).map(i => s"word$i").reverse.mkString(" ")
    val other = (100 to 130).map(i => s"tok$i").mkString(" ")
    val pairs = Dedup.minhashPairs(
      docs((1L, base), (2L, base), (3L, other)), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("materialize knob rejects unknown modes with guidance") {
    val prev = spark.conf.get("spark.graft.materialize",
      "localCheckpoint")
    try {
      spark.conf.set("spark.graft.materialize", "replicate3")
      val e = intercept[IllegalArgumentException] {
        // any fan-out operator exercises the knob at construction
        Dedup.minhashPairs(docs(1L -> "alpha beta gamma delta"),
          "doc_id", "text").count()
      }
      assert(e.getMessage.contains("replicate3") &&
        e.getMessage.contains("localCheckpoint") &&
        e.getMessage.contains("persistDisk"),
        s"error must name the bad value and both valid modes: $e")
    } finally spark.conf.set("spark.graft.materialize", prev)
  }

  test("persistDisk pins release via Materialize.release") {
    val prev = spark.conf.get("spark.graft.materialize",
      "localCheckpoint")
    Materialize.release(spark) // drain pins earlier tests may hold
    val baseCache = org.apache.spark.sql.GraftBridge
      .cachedPlanCount(spark)
    assert(Materialize.pinnedCount(spark) === 0)
    try {
      spark.conf.set("spark.graft.materialize", "persistDisk")
      val df = Dedup.minhashPairs(
        docs((1L, "alpha beta gamma delta"),
          (2L, "alpha beta gamma delta")), "doc_id", "text")
      val n = df.count() // the caller's terminal action
      assert(Materialize.pinnedCount(spark) > 0,
        "persistDisk fan-outs must register for release")
      assert(org.apache.spark.sql.GraftBridge.cachedPlanCount(spark)
        > baseCache)
      Materialize.release(spark)
      assert(Materialize.pinnedCount(spark) === 0)
      // CacheManager returns to baseline: no pinned frames accumulate
      // across operator calls in a long-lived session
      assert(org.apache.spark.sql.GraftBridge.cachedPlanCount(spark)
        === baseCache)
      // lineage was retained, so the released frame still recomputes
      assert(df.count() === n)
    } finally spark.conf.set("spark.graft.materialize", prev)
  }

  test("withFanouts releases persistDisk pins even on failure") {
    val prev = spark.conf.get("spark.graft.materialize",
      "localCheckpoint")
    Materialize.release(spark)
    try {
      spark.conf.set("spark.graft.materialize", "persistDisk")
      intercept[RuntimeException] {
        Materialize.withFanouts(spark) {
          Dedup.minhashPairs(docs(7L -> "one two three four"),
            "doc_id", "text").count()
          assert(Materialize.pinnedCount(spark) > 0)
          throw new RuntimeException("operator downstream failed")
        }
      }
      assert(Materialize.pinnedCount(spark) === 0,
        "scoped pins must release on the failure path")
    } finally spark.conf.set("spark.graft.materialize", prev)
  }

  test("localCheckpoint mode registers no pins; release is a no-op") {
    val prev = spark.conf.get("spark.graft.materialize",
      "localCheckpoint")
    Materialize.release(spark)
    try {
      spark.conf.set("spark.graft.materialize", "localCheckpoint")
      Dedup.minhashPairs(docs(3L -> "a b c d e"), "doc_id", "text")
        .count()
      assert(Materialize.pinnedCount(spark) === 0,
        "the self-reclaiming default must not register pins")
      Materialize.release(spark) // no-op, must not throw
    } finally spark.conf.set("spark.graft.materialize", prev)
  }

  test("minhashPairs plan shares the shingle exchange (no persist)") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = Dedup.minhashPairs(
      docs((1L, base), (2L, base), (3L, base + " x")), "doc_id", "text")
    df.collect() // AQE reuses identical shuffle stages at runtime
    val plan = df.queryExecution.executedPlan.toString
    // the work-sharing mechanism is mode-specific: under the default
    // localCheckpoint strategy AQE reuses the identical shuffle stages
    // above the checkpoint boundary; under persistDisk the sharing IS
    // the CacheManager entry (consumers read InMemoryTableScan)
    if (spark.conf.get("spark.graft.materialize",
        "localCheckpoint") == "persistDisk")
      assert(plan.contains("InMemoryTableScan"), plan.take(2000))
    else assert(plan.contains("ReusedExchange") ||
      plan.contains("ReusedQueryStage"), plan.take(2000))
  }

  test("minhashPairs bucket cap drops oversized buckets") {
    // 12 identical docs share every band bucket; cap 5 drops those buckets
    val many = (1L to 12L).map(i => (i, "alpha beta gamma delta epsilon"))
    val capped = Dedup.minhashPairs(docs(many: _*), "doc_id", "text",
      maxBucketSize = 5)
    assert(capped.count() === 0)
    val uncapped = Dedup.minhashPairs(docs(many: _*), "doc_id", "text")
    assert(uncapped.count() === 12L * 11 / 2)
  }

  test("charNgramJaccardPairs block cap bounds a degenerate one-block corpus") {
    // every doc lands in ONE block: uncapped this is all-pairs O(n²);
    // the cap drops the hot block entirely (same contract as the LSH
    // bucket cap — collapse boilerplate with exact dedup first)
    val many = (1L to 12L).map(i => (i, "alpha beta gamma delta", "web"))
    val df = spark.createDataFrame(many).toDF("doc_id", "text", "src")
    val capped = Dedup.charNgramJaccardPairs(df, "doc_id", "text",
      Seq("src"), threshold = 0.5, maxBlockSize = 5)
    assert(capped.count() === 0)
    // within the cap the exact pair set comes through
    val ok = Dedup.charNgramJaccardPairs(df, "doc_id", "text",
      Seq("src"), threshold = 0.5, maxBlockSize = 12)
    assert(ok.count() === 12L * 11 / 2)
  }

  test("simHash64: identical text -> dist 0; small perturbation small dist") {
    val t1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val t2 = (1 to 38).map(i => s"w$i").mkString(" ") + " zz yy"
    val sigs = docs((1L, t1), (2L, t1), (3L, t2))
      .select(Text.simHash64(col("text"))).collect().map(_.getLong(0))
    assert(sigs(0) === sigs(1))
    val d13 = java.lang.Long.bitCount(sigs(0) ^ sigs(2))
    assert(d13 > 0 && d13 <= 20, s"dist was $d13")
  }

  test("cosine: orthogonal -> 0, identical -> 1") {
    val df = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(2.0f, 0.0f))))
      .toDF("id", "vec")
    val topk = Similarity.bruteForceTopK(df, "id", "vec",
      Seq(1.0f, 0.0f), 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(topk(0)._2 === 1.0 && topk(1)._2 === 1.0) // ids 1 and 3
    assert(topk(2) === ((2L, 0.0)))
  }

  test("lshTopK returns subset of brute-force ranking from query bucket") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<float>").as("embedding"))
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val got = Similarity.lshTopK(e.filter(col("vec_id") =!= 0L),
      "vec_id", "embedding", q, 5, nPlanes = 3)
    assert(got.count() === 5)
  }

  test("multimodal: metadata + batched stub decode are deterministic") {
    val bin = docs((1L, "hello world"), (2L, "hello world"), (3L, "bye"))
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val withMeta = Multimodal.withMetadata(bin, "payload", "image", "png")
    val meta = withMeta.select(col("meta")("byte_len"),
      col("meta")("content_md5")).collect()
    assert(meta(0) === meta(1))
    val dec = Multimodal.decodeBatched(withMeta, "payload")
    assert(dec.schema.fieldNames.contains("decoded"))
    val rows = dec.select(col("doc_id"), col("decoded")("mean_intensity"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(1L) === rows(2L))
    assert(rows(1L) !== rows(3L))
  }

  test("sampleFrames produces fixed-size chunks") {
    val bin = docs((1L, "a" * 100))
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val frames = Multimodal.sampleFrames(bin, "payload", 10, 2)
      .select(col("frames")).head().getSeq[Array[Byte]](0)
    assert(frames.nonEmpty)
    assert(frames.head.length === 10)
  }

  test("audioDecode reads real WAV bytes with exact square-wave features") {
    // closed form: mean|amp| = rms = amp, zc = n/(p/2) - 1, dur = n/rate
    val row = Multimodal.audioDecode(
      Multimodal.syntheticWav(amp = 700, periodSamples = 8,
        nSamples = 320, sampleRate = 8000))
    assert(row.getInt(0) === 8000)
    assert(row.getInt(1) === 1)
    assert(row.getLong(2) === 320L)
    assert(row.getDouble(3) === 320.0 / 8000.0)
    assert(row.getDouble(4) === 700.0)
    assert(row.getDouble(5) === 700.0)
    assert(row.getLong(6) === 320L / 4 - 1)
    // garbage and null payloads decode to null, not an exception
    assert(Multimodal.audioDecode("not a wav".getBytes) === null)
    assert(Multimodal.audioDecode(null) === null)
    // batched column path: struct lands with the same values
    val df = spark.createDataFrame(Seq(Tuple1(1L))).toDF("id")
      .withColumn("payload",
        udf(() => Multimodal.syntheticWav(100, 4, 40)).apply())
    val a = Multimodal.audioFeatures(df, "payload")
      .select(col("audio.rms"), col("audio.zero_crossings")).head()
    assert(a.getDouble(0) === 100.0)
    assert(a.getLong(1) === 40L / 2 - 1)
  }

  test("y4m frame extraction: exact luma means, stride sampling, junk-safe") {
    val payload = Multimodal.syntheticY4m(16, 8, Seq(10, 20, 30, 40, 50))
    val all = Multimodal.y4mFrames(payload, stride = 1)
    assert(all.map(_.getInt(0)) === Seq(0, 1, 2, 3, 4))
    assert(all.map(_.getDouble(3)) === Seq(10.0, 20.0, 30.0, 40.0, 50.0))
    assert(all.head.getInt(1) === 16 && all.head.getInt(2) === 8)
    val strided = Multimodal.y4mFrames(payload, stride = 2)
    assert(strided.map(_.getInt(0)) === Seq(0, 2, 4))
    // truncated stream: frames parsed so far, no exception
    val cut = java.util.Arrays.copyOf(payload, payload.length - 10)
    assert(Multimodal.y4mFrames(cut, 1).length === 4)
    assert(Multimodal.y4mFrames("junk".getBytes, 1).isEmpty)
  }

  test("mjpeg frame extraction decodes concatenated JPEGs via imageio") {
    def jpeg(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val mjpeg = jpeg(0x000000) ++ jpeg(0xffffff) ++ jpeg(0x000000)
    val frames = Multimodal.mjpegFrames(mjpeg, stride = 1)
    assert(frames.map(_.getInt(0)) === Seq(0, 1, 2))
    assert(frames.forall(f => f.getInt(1) === 8 && f.getInt(2) === 8))
    // JPEG is lossy: assert near-black / near-white, not exact
    assert(frames(0).getDouble(3) < 40.0, frames(0).getDouble(3))
    assert(frames(1).getDouble(3) > 215.0, frames(1).getDouble(3))
    assert(Multimodal.mjpegFrames(mjpeg, stride = 2)
      .map(_.getInt(0)) === Seq(0, 2))
    // end-to-end through the batched extractor with auto-detection
    val df = spark.createDataFrame(Seq(Tuple1(7L))).toDF("id")
      .withColumn("payload", udf(() => mjpeg).apply())
    val got = Multimodal.videoFrameFeatures(df, "payload")
      .select("id", "frame_idx", "mean_luma").collect()
    assert(got.length === 3)
    assert(got.map(_.getLong(0)).toSet === Set(7L))
  }

  test("langId detects CJK and stopword languages") {
    val got = docs(
      (1L, "the cat and the dog went to the park in the morning"),
      (2L, "der hund und die katze ist nicht ein tier mit der maus"),
      (3L, "中文文本处理测试中文"))
      .select(col("doc_id"), Text.langId(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "de")
    assert(got(3L) === "zh")
  }

  /** The `when`-fold langId that Text.langId's array_max argmax
    * replaced, kept verbatim as the reference the rewrite must match. */
  private def refLangId(text: org.apache.spark.sql.Column) = {
    val stops: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
      "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour"),
      "es" -> Seq("el", "los", "las", "es", "una", "que", "por", "como"))
    val w = split(lower(text), " +")
    val scores = stops.map { case (lang, ws) =>
      lang -> size(array_intersect(w, array(ws.map(lit): _*)))
    }
    val best = scores.tail.foldLeft[org.apache.spark.sql.Column](
      struct(scores.head._2.as("s"), lit(scores.head._1).as("l"))) {
      case (acc, (lang, s)) =>
        when(s > acc("s"), struct(s.as("s"), lit(lang).as("l")))
          .otherwise(acc)
    }
    when(length(regexp_replace(text, "[^\\x{4E00}-\\x{9FFF}]", "")) >
        length(text) * 0.2, "zh")
      .otherwise(when(best("s") > 0, best("l")).otherwise("und"))
  }

  test("langId's argmax matches the when-fold reference row for row") {
    val edge = docs((-1L, "the der"), (-2L, "zebra quokka tapir"),
      (-3L, null: String))
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).unionByName(edge)
    val got = corpus.select(col("doc_id"), Text.langId(col("text")),
      refLangId(col("text"))).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    assert(got.length > 3) // the corpus rows plus the three edge rows
    got.foreach { case (id, (now, ref)) =>
      assert(now === ref, s"doc $id")
    }
    val byId = got.toMap
    assert(byId(-1L)._1 === "en") // tie: earlier language in stops order
    assert(byId(-2L)._1 === "und") // no stopwords
  }

  test("ivfTopK: full probe equals brute force; partial probe recalls") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<float>").as("embedding"))
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val data = e.filter(col("vec_id") =!= 0L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val truth = ids(Similarity.bruteForceTopK(data, "vec_id",
      "embedding", q, 10))
    // probing every cell scans everything: must equal brute force
    val full = ids(Similarity.ivfTopK(data, "vec_id", "embedding", q,
      10, nCells = 8, nProbe = 8))
    assert(full == truth)
    val part = ids(Similarity.ivfTopK(data, "vec_id", "embedding", q,
      10, nCells = 8, nProbe = 3))
    assert(part.size == 10)
    assert((part & truth).nonEmpty,
      s"partial-probe IVF recalled nothing of $truth")
  }

  test("nearDupClusters finds components; dedupByClusters keeps canonicals") {
    import graft.pipeline.Dedup
    // chain 1-2-3, pair 10-11, isolated doc 99
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (10L, 11L))).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs)
    val got = clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L))
    val docs = spark.createDataFrame(
      Seq(1L, 2L, 3L, 10L, 11L, 99L).map(Tuple1(_))).toDF("doc_id")
    val kept = Dedup.dedupByClusters(docs, "doc_id", clusters)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 10L, 99L))
  }

  test("nearDupClusters converges on a long chain within maxIter") {
    import graft.pipeline.Dedup
    val pairs = spark.createDataFrame(
      (0L until 12L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet === Set(0L))
    assert(got.size === 13)
  }

  test("xxhash64 minhash family finds the same exact-dup pairs as md5") {
    import graft.pipeline.Dedup
    // plant exact duplicates: identical shingle sets collide on EVERY
    // band in ANY valid minwise family, so the J=1 pair set is
    // family-independent by construction
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 50).select("doc_id", "text")
    val docs = base.union(
      base.select((col("doc_id") + 1000).as("doc_id"), col("text")))
    def dups(family: String) =
      Dedup.minhashPairs(docs, "doc_id", "text", family = family)
        .filter(col("jaccard") === 1.0)
        .select("id_a", "id_b").collect().map(_.toSeq).toSet
    val md5Pairs = dups("md5")
    val xxPairs = dups("xxhash64")
    assert(md5Pairs.size >= 50, s"only ${md5Pairs.size} exact-dup pairs")
    assert(xxPairs === md5Pairs)
  }

  test("knnJoinLsh recalls most exact neighbors; no self, no dup") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 300)
    val exact = Similarity.knnJoinExact(e, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // synthetic embeddings are near-orthogonal (weak neighbor structure,
    // the hard case for LSH) — at 2 planes + H1 probes the candidate set
    // covers 3 of 4 buckets, so recall must clear a solid majority
    val lsh = Similarity.knnJoinLsh(e, "vec_id", "embedding", 3,
      nPlanes = 2)
    val got = lsh.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.toSet.size, "duplicate (id, nbr) rows")
    assert(!got.exists(p => p._1 == p._2), "self-pair")
    val recall = got.toSet.intersect(exact).size.toDouble / exact.size
    assert(recall > 0.6, s"recall $recall")
    // every id's neighbor list is ranked 1..k without gaps
    val ranks = lsh.groupBy("id")
      .agg(sort_array(collect_list(col("rk"))).as("rs"))
      .collect().map(_.getAs[scala.collection.Seq[Int]]("rs"))
    assert(ranks.forall(rs => rs == (1 to rs.length)))
  }

  test("aHash64 of block patterns has exactly the white bits set") {
    import graft.pipeline.Multimodal
    // pattern p: bits y*8+x for x < p
    for (p <- 1 to 7) {
      val expected = (0 until 8).map(y =>
        ((1L << p) - 1) << (8 * y)).reduce(_ | _)
      val got = Multimodal.aHash64(Multimodal.syntheticPng(p))
      assert(got === expected, s"pattern $p")
    }
    // degenerate uniform images hash to 0 (nothing above the mean)
    assert(Multimodal.aHash64(Multimodal.syntheticPng(0)) === 0L)
    assert(Multimodal.aHash64(Multimodal.syntheticPng(8)) === 0L)
    assert(Multimodal.aHash64(null) === null)
  }

  test("imagePairs pairs same-pattern images at distance 0") {
    import graft.pipeline.Multimodal
    val png = udf((p: Int) => Multimodal.syntheticPng(p))
    val docs = spark.range(14).select(col("id").as("doc_id"))
      .withColumn("payload",
        png((pmod(col("doc_id"), lit(7)) + 1).cast("int")))
    val pairs = Multimodal.imagePairs(docs, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // ids i and i+7 share a pattern -> 7 pairs, all at dist 0
    assert(pairs.sortBy(_._1).toSeq ===
      (0L until 7L).map(i => (i, i + 7, 0)))
  }

  test("imageFeatures: grid intensities match the pattern; resize is " +
      "hash-preserving and re-decodes at the target size") {
    import graft.pipeline.Multimodal
    val p3 = Multimodal.syntheticPng(3)
    val docs = spark.createDataFrame(Seq((1L, p3))).toDF("doc_id", "payload")
    val feats = Multimodal.imageFeatures(docs, "payload")
      .head().getAs[scala.collection.Seq[Float]]("features")
    assert(feats.length === 64)
    for (i <- 0 until 64)
      assert(feats(i) === (if (i % 8 < 3) 1.0f else 0.0f), s"pixel $i")
    val rs = Multimodal.resizeImages(docs, "payload", 16, 16)
    val bytes = rs.head().getAs[Array[Byte]]("resized")
    // block-aligned downscale preserves the perceptual hash exactly
    assert(Multimodal.aHash64(bytes) === Multimodal.aHash64(p3))
    val dec = Multimodal.decodeBatched(rs, "resized", real = true)
      .head().getAs[org.apache.spark.sql.Row]("decoded")
    assert(dec.getInt(0) === 16 && dec.getInt(1) === 16)
  }

  test("bm25TopK matches the closed-form Okapi scores") {
    import graft.pipeline.Retrieval
    val d = docs((1L, "join join hash"), (2L, "join scan scan scan"),
      (3L, "scan merge"))
    val got = Retrieval.bm25TopK(d, "doc_id", "text",
      Seq("join", "hash"), k = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    // N=3, avgdl=3; df(join)=2, df(hash)=1 — mirror the formula exactly
    def idf(dfT: Double) = math.log(1 + (3 - dfT + 0.5) / (dfT + 0.5))
    def contrib(i: Double, tf: Double, dl: Double) = BigDecimal(
      i * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s1 = contrib(idf(2), 2, 3) + contrib(idf(1), 1, 3)
    val s2 = contrib(idf(2), 1, 4)
    assert(got(1L) === ((s1, 2L)))
    assert(got(2L) === ((s2, 1L)))
    assert(!got.contains(3L)) // no query term -> excluded
    assert(s1 > s2)           // rarer term + higher tf outranks
  }

  test("bigramNll: add-alpha bigram LM sums match hand computation") {
    import graft.pipeline.LangModel
    val d = docs((1L, "a b a b"), (2L, "b a"))
    val got = LangModel.bigramNll(d, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // bigram counts: (a,b)=2, (b,a)=2; c1: a=2, b=2; V=2
    // nll(a,b) = nll(b,a) = round(-ln(2.5 / 3), 4) = 0.1823
    assert(got(1L) === ((3L, 0.5469)))
    assert(got(2L) === ((1L, 0.1823)))
  }

  test("filterByNll keeps the q-quantile most-typical documents") {
    import graft.pipeline.LangModel
    // d3's bigrams are corpus-unique -> highest NLL
    val d = docs((1L, "a b a b"), (2L, "a b"), (3L, "x y x y"))
    val kept = LangModel.filterByNll(d, "doc_id", "text", q = 0.67)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L))
  }

  test("sq ANN: full rerank equals brute force; int8 prescan recalls") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<float>").as("embedding"))
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val rest = e.filter(col("vec_id") =!= 0L)
    val n = rest.count().toInt
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, 10).collect().map(_.getLong(0)).toSeq
    // rerank factor covering the whole set degenerates to brute force
    val full = Similarity.sqTopK(rest, "vec_id", "embedding", q, 10,
      rerankFactor = n).collect().map(_.getLong(0)).toSeq
    assert(full === exact)
    // the int8 prescan at the default factor keeps most of the top-10
    val sq = Similarity.sqTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(exact.count(sq.contains) >= 7, s"recall ${exact.count(sq.contains)}/10")
  }

  test("fused simhash kernel equals the relational 60-vote formulation") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val kernel = d
      .select(col("doc_id").as("doc"),
        array_distinct(Text.tokens(col("text"))).as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col("doc"),
        graft.functions.TextKernels.simHash64(col("__w")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val relational = Dedup.simhashSigsRelational(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel === relational)
    assert(kernel.nonEmpty)
  }

  test("chunkDocs: overlap, trailing short window, empty doc dropped") {
    val d = docs((1L, "abcdefghij"), (2L, ""))
    val got = Text.chunkDocs(d, "doc_id", "text", size = 4, step = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(got === Set(
      (1L, 0L, 1L, "abcd"), (1L, 1L, 4L, "defg"),
      (1L, 2L, 7L, "ghij"), (1L, 3L, 10L, "j")))
  }

  test("pq ANN: full rerank equals brute force; ADC prescan recalls") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<float>").as("embedding"))
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val rest = e.filter(col("vec_id") =!= 0L)
    val n = rest.count().toInt
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, 10).collect().map(_.getLong(0)).toSeq
    val full = Similarity.pqTopK(rest, "vec_id", "embedding", q, 10,
      rerankFactor = n).collect().map(_.getLong(0)).toSeq
    assert(full === exact)
    val pq = Similarity.pqTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    // 4 subspaces x 4 codes is a coarse codebook; the prescan must
    // still beat random (10/n) by a wide margin
    assert(exact.count(pq.contains) >= 3,
      s"recall ${exact.count(pq.contains)}/10")
  }

  test("stripHtml: script/style dropped, tags stripped, entities decoded") {
    val html = "<html><head><title>T</title>" +
      "<style type=\"text/css\">p { x: 1 }</style>" +
      "<script>\nif (a < b) { alert('x'); }\n</script></head>" +
      "<body><h1>Hello</h1>\n<p>one &amp; two &lt;three&gt;</p>" +
      "<br/><div class=\"c\">&quot;four&#39;</div></body></html>"
    val got = docs((1L, html))
      .select(Text.stripHtml(col("text"))).head().getString(0)
    assert(got === "T Hello one & two <three> \"four'")
  }

  test("deflateRatio orders template < prose < gibberish") {
    val rng = new scala.util.Random(7)
    val d = docs(
      (1L, "boilerplate line\n" * 50),
      (2L, "the quick brown fox jumps over the lazy dog and then " +
        "considers the consequences of repeated exertion at noon"),
      (3L, Seq.fill(200)(rng.nextPrintableChar()).mkString))
    val r = d.select(col("doc_id"),
      Text.deflateRatio(col("text")).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) < r(2L) && r(2L) < r(3L), r.toString)
    assert(r.values.forall(v => v > 0 && v < 1.5))
  }

  test("bpe encode: concatenation-faithful on random words under a " +
      "random-corpus merge table") {
    import graft.pipeline.Bpe
    val rng = new scala.util.Random(23)
    def word() = Seq.fill(1 + rng.nextInt(8))(
      ('a' + rng.nextInt(5)).toChar).mkString
    val freq = Seq.fill(50)(word() -> (1L + rng.nextInt(20)))
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).sum }.toSeq
    val merges = Bpe.train(freq, numMerges = 30)
    val ranks = merges.zipWithIndex.toMap
    // every encoding concatenates back to word + end marker, for
    // training words AND unseen words alike
    (freq.map(_._1) ++ Seq.fill(30)(word())).foreach { w =>
      val toks = Bpe.encodeWord(w, ranks)
      assert(toks.mkString("") === w + Bpe.EndOfWord, s"word $w")
      assert(toks.forall(_.nonEmpty))
    }
  }

  test("bpe train reproduces the Sennrich worked example") {
    import graft.pipeline.Bpe
    // the classic vocabulary from Sennrich et al. 2016 §3.2
    val merges = Bpe.train(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    assert(merges === Seq(("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o")))
    val ranks = merges.zipWithIndex.toMap
    // 'lowest' was never a training word; BPE segments it from pieces
    assert(Bpe.encodeWord("lowest", ranks) ===
      Seq("lo", "w", "est</w>"))
    assert(Bpe.encodeWord("low", ranks) === Seq("lo", "w", "</w>"))
  }

  test("bpe encode is deterministic and concatenation-faithful") {
    import graft.pipeline.Bpe
    val d = docs((1L, "join the hash join"), (2L, "hash hash"))
    val merges = Bpe.trainFromCorpus(d, "text", numMerges = 6)
    val toks = d.select(col("doc_id"),
      Bpe.encodeTokens(col("text"), merges).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // stripping the word markers reconstructs the normalized text
    def rebuild(ts: Seq[String]) =
      ts.mkString("").replace(Bpe.EndOfWord, " ").trim
    assert(rebuild(toks(1L)) === "join the hash join")
    assert(rebuild(toks(2L)) === "hash hash")
    // every token ends a word iff it carries the end marker; counts
    // match tokenCounts
    val counts = Bpe.tokenCounts(d, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) === toks(1L).length.toLong)
    assert(counts(2L) === toks(2L).length.toLong)
  }

  test("quality classifier: distributed IRLS equals a local replay " +
      "and separates constructed classes") {
    import graft.pipeline.QualityClassifier
    // class 1 = punctuation-free prose-like; class 0 = symbol-heavy
    val rows = (0 until 40).map { i =>
      if (i % 2 == 0)
        (i.toLong, s"the quick brown fox jumps over dog number $i", 1)
      else
        (i.toLong, s"@@## %% !!! ;;; ### $i ??? *** $$$i", 0)
    }
    val df = spark.createDataFrame(rows).toDF("id", "text", "y")
    val fs = QualityClassifier.features(col("text"))
    val w = QualityClassifier.trainLogistic(df, col("y"), fs, iters = 6)
    // independent local replay: same features, breeze IRLS
    val feat = df.select((col("y").cast("double") +:
      fs.map(_._2.cast("double"))): _*).collect()
      .map(r => (r.getDouble(0), Array(1.0) ++
        (1 to fs.length).map(r.getDouble)))
    var beta = breeze.linalg.DenseVector.zeros[Double](fs.length + 1)
    for (_ <- 0 until 6) {
      val a = breeze.linalg.DenseMatrix.zeros[Double](beta.length,
        beta.length)
      val b = breeze.linalg.DenseVector.zeros[Double](beta.length)
      feat.foreach { case (y, x) =>
        val xv = breeze.linalg.DenseVector(x)
        val eta = beta dot xv
        val mu = 1.0 / (1.0 + math.exp(-eta))
        val wgt = math.max(mu * (1 - mu), 1e-10)
        val z = eta + (y - mu) / wgt
        a += (xv * xv.t) * wgt
        b += xv * (wgt * z)
      }
      for (i <- 0 until beta.length) a(i, i) += 1e-6
      beta = a \ b
    }
    w.zip(beta.toArray).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-6, s"$got vs $want")
    }
    // the trained model actually separates the two classes
    val scored = QualityClassifier
      .trainAndScore(df, "id", "text", col("y") === 1, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pos = rows.filter(_._3 == 1).map(r => scored(r._1))
    val neg = rows.filter(_._3 == 0).map(r => scored(r._1))
    assert(pos.min > neg.max, s"${pos.min} vs ${neg.max}")
  }

  test("semDedup drops the higher id of a within-cluster near-dup") {
    val e = spark.createDataFrame(Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.99f, 0.01f))))
      .toDF("vec_id", "embedding")
    val got = Dedup.semDedup(e, "vec_id", "embedding",
      threshold = 0.9, k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    // clusters: {1, 3} vs {2}; cos(v1, v3) ~ 0.99995 >= 0.9 -> 3 dropped
    assert(got(1L)._2 === true)
    assert(got(2L)._2 === true)
    assert(got(3L)._2 === false)
    assert(got(1L)._1 === got(3L)._1) // same cluster
    assert(got(1L)._1 !== got(2L)._1)
  }

  test("bucketCapStats: exact stats over a hand-built bucket frame") {
    // buckets: k1 ×1 (singleton), k2 ×3 (pairable), k3 ×6 (over cap 5)
    val buckets = spark.createDataFrame(
      (Seq.fill(1)("k1") ++ Seq.fill(3)("k2") ++ Seq.fill(6)("k3"))
        .zipWithIndex.map { case (k, i) => (k, i.toLong) })
      .toDF("b", "member")
    val r = Dedup.bucketCapStats(buckets, Seq("b"), maxBucketSize = 5,
      "fam").collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getString(0) === "fam")
    assert(row.getLong(1) === 3L) // n_buckets
    assert(row.getLong(2) === 1L) // n_pairable (k2)
    assert(row.getLong(3) === 1L) // n_capped (k3)
    assert(row.getLong(4) === 10L) // rows_total
    assert(row.getLong(5) === 6L) // rows_capped (k3's 6 members)
  }

  test("capReport: 5 identical docs over-cap every family; distinct " +
    "docs stay singletons; ngram_block branch counts blockCols") {
    // 5 byte-identical docs (bucket together in every family), 2 docs
    // sharing no 3-word shingle / 19-char normalized run with anything,
    // and 1 empty-text doc (dropped by the ngram_block length filter
    // and fingerprint-less for winnow)
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val rows = (1L to 5L).map(i => (i, a, "en")) ++ Seq(
      (6L, "zebra quartz echoes under violet canyon walls tonight", "fr"),
      (7L, "numbers 1234567 8901234 5678901 2345678 stream onward", "fr"),
      (8L, "", "en"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text", "lang")
    val got = Dedup.capReport(df, "doc_id", "text", maxBucketSize = 4,
        blockCols = Seq("lang"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got.keySet === Set("minhash", "simhash", "winnow",
      "ngram_block"))

    // minhash: 7 non-empty docs × 4 bands = 28 rows; A's 4 band buckets
    // hold 5 docs each (over cap 4); docs 6/7 band-bucket alone
    assert(got("minhash") === ((12L, 0L, 4L, 28L, 20L)))

    // simhash: one bucket row per doc; A's bucket has 5, docs 6/7/8
    // their own (empty text still tokenizes to [""] -> a signature)
    assert(got("simhash") === ((4L, 0L, 1L, 8L, 5L)))

    // winnow: A's fingerprint set is shared by all 5 copies -> every
    // one of its |fps| buckets is over cap; docs 6/7 all singletons;
    // doc 8 has no fingerprints. Bucket counts derive from the
    // (separately-verified) kernel's per-doc set sizes.
    val fpsOf = Map(1L -> a, 6L -> rows(5)._2, 7L -> rows(6)._2)
      .map { case (k, t) =>
        k -> df.filter(col("doc_id") === k)
          .select(Text.winnowFingerprints(col("text"), 12, 8))
          .head().getSeq[Long](0).size.toLong
      }
    val (fA, f6, f7) = (fpsOf(1L), fpsOf(6L), fpsOf(7L))
    assert(got("winnow") ===
      ((fA + f6 + f7, 0L, fA, 5 * fA + f6 + f7, 5 * fA)))

    // ngram_block: lang buckets over non-empty docs: en=5 (over cap),
    // fr=2 (pairable); the empty doc_8 is filtered out
    assert(got("ngram_block") === ((2L, 1L, 1L, 7L, 5L)))
  }

  test("prefixFilterJaccardPairs equals the all-pairs brute force") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = Dedup.prefixFilterJaccardPairs(d, "doc_id", "text",
      n = 8, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // brute-force twin: EVERY pair, same integer-unit contract — pins
    // the prefix filter's completeness (no pair the lemma should admit
    // is lost to the candidate join) on a real corpus
    val g = d.select(col("doc_id").as("doc"),
        array_sort(Text.charNgrams(col("text"), 8)).as("gs"))
      .filter(size(col("gs")) > 0).withColumn("n", size(col("gs")))
    val brute = g
      .select(col("doc").as("id_a"), col("gs").as("ga"),
        col("n").as("na"))
      .crossJoin(g.select(col("doc").as("id_b"), col("gs").as("gb"),
        col("n").as("nb")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("iv", graft.functions.TextKernels
        .sortedIntersectCount(col("ga"), col("gb")))
      .withColumn("ju", expr("(20000 * CAST(iv AS BIGINT) +" +
        " (na + nb - iv)) div (2 * CAST(na + nb - iv AS BIGINT))"))
      .filter(col("ju") >= 8000)
      .select(col("id_a"), col("id_b"),
        (col("ju").cast("double") / 10000.0).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got === brute)
    assert(got.nonEmpty, "fixture produced no pairs — weak test")
  }

  test("prefixFilterJaccardPairs equals brute force on a Zipfian corpus") {
    // second corpus GEOMETRY: power-law vocabulary + seeded near-dups
    // (GenZipf's generator inline, 400 docs) — the size distribution,
    // bucket shapes, and collapse/expansion paths differ structurally
    // from the driver fixture the other equality spec pins
    val d = spark.createDataFrame((0L until 400L).map(i =>
        (i, graft.tools.GenZipf.docText(i, vocab = 900L))))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = pairs(Dedup.prefixFilterJaccardPairs(d, "doc_id", "text",
      n = 8, threshold = 0.8))
    val g = d.select(col("doc_id").as("doc"),
        array_sort(Text.charNgrams(col("text"), 8)).as("gs"))
      .filter(size(col("gs")) > 0).withColumn("n", size(col("gs")))
    val brute = pairs(g
      .select(col("doc").as("id_a"), col("gs").as("ga"), col("n").as("na"))
      .crossJoin(g.select(col("doc").as("id_b"), col("gs").as("gb"),
        col("n").as("nb")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("iv", graft.functions.TextKernels
        .sortedIntersectCount(col("ga"), col("gb")))
      .withColumn("ju", expr("(20000 * CAST(iv AS BIGINT) +" +
        " (na + nb - iv)) div (2 * CAST(na + nb - iv AS BIGINT))"))
      .filter(col("ju") >= 8000)
      .select(col("id_a"), col("id_b"),
        (col("ju").cast("double") / 10000.0).as("j")))
    assert(got === brute)
    assert(got.nonEmpty, "zipf fixture produced no pairs — weak test")
  }

  test("prefixFilterJaccardPairs edge thresholds: exact dups at tau=1") {
    // jaccard(1,4) = 58/75 = 0.7733… exactly (one word edit); doc 3
    // shares almost nothing
    val d = docs(
      1L -> ("the quick brown fox jumps over the lazy dog tonight " +
        "and every night after"),
      2L -> ("the quick brown fox jumps over the lazy dog tonight " +
        "and every night after"),
      3L -> "a completely different document about winnowing fields",
      4L -> ("the quick brown fox jumped over the lazy dog tonight " +
        "and every night after"))
    val at1 = Dedup.prefixFilterJaccardPairs(d, "doc_id", "text",
      n = 8, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at1 === Set((1L, 2L)))
    val at07 = Dedup.prefixFilterJaccardPairs(d, "doc_id", "text",
      n = 8, threshold = 0.7)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(at07((1L, 2L)) === 1.0)
    assert(at07((1L, 4L)) === 0.7733 &&
      at07((2L, 4L)) === 0.7733,
      "one-word-edit near-dup must survive tau=0.7 at its exact units")
    assert(!at07.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefixFilterJaccardPairs giant-doc guard fires eagerly and names" +
      " the remedy") {
    // one adversarial "giant" doc (≫ cap distinct 8-grams) among
    // normal ones; a tiny cap stands in for the 8M default so the spec
    // doesn't build a multi-GB row to prove the point
    val giant = (0 until 400).map(i => s"w$i").mkString(" ")
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> giant,
      3L -> "a completely different document about winnowing fields")
    val e = intercept[IllegalArgumentException] {
      // the guard is checked on the operator's FIRST action (the
      // eager stats row) — construction itself must already throw,
      // before any candidate join or verify work is scheduled
      Dedup.prefixFilterJaccardPairs(d, "doc_id", "text",
        n = 8, threshold = 0.8, maxGramsPerDoc = 100)
    }
    assert(e.getMessage.contains("maxGramsPerDoc"))
    assert(e.getMessage.contains("chunkDocs"),
      "the error must point at the Text.chunkDocs remedy")
    // same corpus under the default cap: runs, and the giant doc still
    // participates normally (the guard is a guard, not a filter)
    val ok = Dedup.prefixFilterJaccardPairs(d, "doc_id", "text",
      n = 8, threshold = 0.8)
    assert(ok.collect().isEmpty) // no near-dups among the three
  }

  test("ngram jaccard: bitmap fast path equals the sorted-array fallback") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .limit(300)
    def run(dictBudget: Int) =
      Dedup.charNgramJaccardPairs(docs, "doc_id", "text",
        Seq("source", "lang"), maxDictSize = dictBudget)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bitmap = run(1 << 16)  // small synthetic dictionary -> bitmaps
    val arrays = run(0)        // forced fallback -> merge-walk kernel
    assert(bitmap === arrays)
    assert(bitmap.nonEmpty, "fixture produced no pairs — weak test")
  }

  test("fused text kernels survive CODEGEN_ONLY and match interpreted eval") {
    // the minhash/winnow/simhash kernels generate code (addReferenceObj
    // + one virtual call) instead of the CodegenFallback row-boxing
    // path; CODEGEN_ONLY + fallback=false makes a broken doGenCode a
    // hard error here instead of a silent interpreted fallback in prod
    val df = docs(
      1L -> "the quick brown fox jumps over the lazy dog and keeps going",
      2L -> "pack my box with five dozen liquor jugs for the long trip",
      3L -> "xy")
    def kernels = df.select(
      col("doc_id"),
      graft.functions.TextKernels.minhashSigs(
        Text.shingles(col("text"), 3), 8, "md5").as("mh"),
      graft.functions.TextKernels.minhashSigs(
        Text.shingles(col("text"), 3), 8, "xxhash64").as("mhx"),
      Text.winnowFingerprints(col("text"), 8, 12).as("fps"),
      graft.functions.TextKernels.simHash64(
        split(lower(col("text")), " ")).as("sig"),
      graft.functions.TextKernels.gramHashes(col("text"), 9).as("gh"),
      graft.functions.TextKernels.normalizeUnicode(
        concat(col("text"), lit("e\u0301")), "NFC").as("nfc"),
      graft.functions.TextKernels.dsirBuckets(
        Text.tokens(col("text")), 1024, "dsir-feat").as("db"),
      graft.functions.TextKernels.tokenNgrams(
        Text.tokens(col("text")), 3).as("tng"),
      graft.functions.TextKernels.tokenNgramHashes(
        Text.tokens(col("text")), 3, "decon").as("tnh"))
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getSeq[Long](3), r.getLong(4), r.getSeq[Long](5),
        r.getString(6), r.getSeq[Long](7), r.getSeq[String](8),
        r.getSeq[Long](9)))
      .toSeq
    val factoryKey = "spark.sql.codegen.factoryMode"
    val fallbackKey = "spark.sql.codegen.fallback"
    val prevFactory = spark.conf.getOption(factoryKey)
    val prevFallback = spark.conf.getOption(fallbackKey)
    try {
      spark.conf.set(factoryKey, "CODEGEN_ONLY")
      spark.conf.set(fallbackKey, "false")
      val gen = kernels
      spark.conf.set(factoryKey, "NO_CODEGEN")
      val interp = kernels
      assert(gen === interp)
      assert(gen.head._2.length === 8 && gen.head._4.nonEmpty)
      // dsirBuckets = the builtin md5 chain, as a multiset (unigrams
      // then bigrams, with multiplicity)
      val w = Text.tokens(col("text"))
      val builtin = df.select(col("doc_id"), concat(w,
        when(size(w) >= 2, transform(sequence(lit(1), size(w) - 1),
          j => concat(element_at(w, j), lit(" "), element_at(w, j + 1))))
          .otherwise(array().cast("array<string>"))).as("g"))
        .select(col("doc_id"), transform(col("g"), g =>
          pmod(conv(substring(md5(concat(lit("dsir-feat|"), g)), 1, 15),
            16, 10).cast("long"), lit(1024L))).as("db"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      assert(gen.map(x => (x._1, x._8)) === builtin)
      // tokenNgrams / tokenNgramHashes = the builtin slice/md5 chains
      val builtinG = df.select(col("doc_id"),
        when(size(w) >= 3, transform(sequence(lit(1), size(w) - 2),
          j => array_join(slice(w, j, lit(3)), " ")))
          .otherwise(array().cast("array<string>")).as("tng"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
      assert(gen.map(x => (x._1, x._9)) === builtinG)
      val builtinH = df.select(col("doc_id"),
        when(size(w) >= 3, transform(sequence(lit(1), size(w) - 2),
          j => conv(substring(md5(concat(lit("decon|"),
            array_join(slice(w, j, lit(3)), " "))), 1, 15), 16, 10)
            .cast("long")))
          .otherwise(array().cast("array<long>")).as("tnh"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      assert(gen.map(x => (x._1, x._10)) === builtinH)
    } finally {
      def restore(k: String, v: Option[String]) =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore(factoryKey, prevFactory)
      restore(fallbackKey, prevFallback)
    }
  }

  test("bounded intersect kernel + fence: codegen parity; abort is " +
      "filter-equivalent to the exact count") {
    import graft.functions.TextKernels
    val r = new scala.util.Random(7)
    val vocab = (1 to 40).map(i => f"g$i%02d")
    val rows = (1L to 60L).map { i =>
      val set = r.shuffle(vocab).take(5 + r.nextInt(30)).sorted
      (i, set)
    }
    val df = spark.createDataFrame(rows).toDF("id", "gs")
    val pairs = df.select(col("id").as("ia"), col("gs").as("ga"))
      .crossJoin(df.select(col("id").as("ib"), col("gs").as("gb")))
      .filter(col("ia") < col("ib"))
    def run() = pairs.select(col("ia"), col("ib"),
      TextKernels.sortedIntersectCount(col("ga"), col("gb")).as("iv"),
      TextKernels.fence(TextKernels.sortedIntersectCountBounded(
        col("ga"), col("gb"), lit(12L))).as("bv"))
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getInt(3)))
      .toSeq.sorted
    val factoryKey = "spark.sql.codegen.factoryMode"
    val fallbackKey = "spark.sql.codegen.fallback"
    val prevFactory = spark.conf.getOption(factoryKey)
    val prevFallback = spark.conf.getOption(fallbackKey)
    val (gen, interp) = try {
      spark.conf.set(factoryKey, "CODEGEN_ONLY")
      spark.conf.set(fallbackKey, "false")
      val g = run()
      spark.conf.set(factoryKey, "NO_CODEGEN")
      (g, run())
    } finally {
      def restore(k: String, v: Option[String]) =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore(factoryKey, prevFactory)
      restore(fallbackKey, prevFallback)
    }
    assert(gen === interp) // doGenCode == interpreted, fence included
    // the bounded kernel's contract: exact at or above the bound,
    // strictly below it when it aborts — so `bv >= k` decides exactly
    // like `iv >= k`, and passing pairs carry the exact count
    assert(gen.exists(_._3 >= 12) && gen.exists(_._3 < 12),
      "fixture must exercise both sides of the bound")
    gen.foreach { case (_, _, iv, bv) =>
      if (iv >= 12) assert(bv === iv)
      else assert(bv <= iv && bv < 12)
    }
  }

  test("editDistancePairs: equals brute-force levenshtein join; cap drops hot keys") {
    val r = new scala.util.Random(13)
    val alphabet = "abcd"
    def word(n: Int) =
      (1 to n).map(_ => alphabet(r.nextInt(alphabet.length))).mkString
    // small alphabet + short words force plenty of distance-1 pairs,
    // including indels (lengths 5..7)
    val rows = (1L to 120L).map(i => (i, word(5 + r.nextInt(3))))
    val df = spark.createDataFrame(rows).toDF("id", "k")
    val got = Dedup.editDistancePairs(df, "id", "k")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .toSet
    val brute = (for {
      (a, sa) <- rows; (b, sb) <- rows if a < b
      d = {
        // textbook DP levenshtein as the independent oracle
        val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to sa.length; j <- 1 to sb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        m(sa.length)(sb.length)
      } if d <= 1
    } yield (a, b, d.toLong)).toSet
    assert(got === brute)
    assert(got.exists(_._3 == 1L) && got.exists(_._3 == 0L),
      "fixture lacks both dist-0 and dist-1 pairs — weak test")
    // a mass-duplicated key overflows its variant bucket under the cap
    val hot = spark.createDataFrame(
      (1L to 30L).map(i => (i, "samekey"))).toDF("id", "k")
    assert(Dedup.editDistancePairs(hot, "id", "k",
      maxBucketSize = 10).count() === 0)
    assert(Dedup.editDistancePairs(hot, "id", "k").count() === 30L * 29 / 2)
  }

  test("bestFuzzyMatchPerDoc: top-k by (dist, id) from BOTH pair roles") {
    // abc's ball: abd (sub), ab (del), abcd (ins) all dist 1; abc==abc2
    // dist 0; zzzzz isolated. Expected best-2 per doc is hand-derivable.
    val df = spark.createDataFrame(Seq(
      (1L, "abc"), (2L, "abd"), (3L, "ab"), (4L, "abcd"),
      (5L, "abc"), (6L, "zzzzz"))).toDF("id", "k")
    val got = Dedup.bestFuzzyMatchPerDoc(df, "id", "k", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // brute force the same contract: symmetrized dist<=1 pairs, per-doc
    // rank by (dist, match id), keep 2
    val pairs = Dedup.editDistancePairs(df, "id", "k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sym = pairs.flatMap { case (a, b, d) =>
      Seq((a, b, d), (b, a, d)) }
    val want = sym.groupBy(_._1).toSeq.flatMap { case (doc, ms) =>
      ms.sortBy(m => (m._3, m._2)).take(2).zipWithIndex.map {
        case ((_, m, d), i) => (doc, m, d, (i + 1).toLong) }.toSeq
    }.toSet
    assert(got === want)
    // doc 1's best two: the exact dup (5, dist 0) then the smallest-id
    // dist-1 neighbor (2) — pins the (dist, id) order end to end
    assert(got.contains((1L, 5L, 0L, 1L)) && got.contains((1L, 2L, 1L, 2L)))
    assert(!got.exists(_._1 == 6L), "isolated doc must produce no row")
    // linear-output contract: never more than k rows per doc
    assert(got.groupBy(_._1).values.forall(_.size <= 2))
  }

  test("contaminatedDocs rolls the pair list into per-doc verdicts") {
    val run = "this exact benchmark sentence appears verbatim in " +
      "the corpus document and is long enough to fingerprint"
    val run2 = "another leaked evaluation answer string that also " +
      "exceeds the winnowing window comfortably"
    // ids: corpus docs 1,2,3 (non-multiples of 17); bench docs 17, 34
    val df = docs(
      1L -> s"corpus filler $run more corpus filler $run2",
      2L -> s"unrelated corpus text about partitioning and shuffles ok",
      3L -> s"second contaminated doc containing $run only",
      17L -> s"benchmark item one: $run",
      34L -> s"benchmark item two: $run2")
    val corpus = df.filter(col("doc_id") % 17 =!= 0L)
    val bench = df.filter(col("doc_id") % 17 === 0L)
    val pairAgg = Dedup.winnowContamination(corpus, "doc_id", "text",
        bench, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val got = Dedup.contaminatedDocs(corpus, "doc_id", "text",
        bench, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // the rollup must agree with aggregating the pair operator itself
    assert(got.keySet === pairAgg.keySet)
    for ((id, ps) <- pairAgg) {
      val (nb, mx, tot) = got(id)
      assert(nb === ps.map(_._2).distinct.size.toLong)
      assert(mx === ps.map(_._3).max)
      assert(tot === ps.map(_._3).sum)
    }
    // shape: doc 1 hits both bench docs, doc 3 one, doc 2 none
    assert(got(1L)._1 === 2L)
    assert(got(3L)._1 === 1L)
    assert(!got.contains(2L))
  }

  test("unicode normalization: NFC composes, NFKC folds compatibility") {
    val df = spark.createDataFrame(Seq(
      (1L, "cafe\u0301"),    // decomposed acute
      (2L, "\ufb01le"),           // ﬁ ligature
      (3L, "\uff28\uff49"),       // fullwidth HI
      (4L, "plain"),
      (5L, null.asInstanceOf[String]))).toDF("id", "s")
    val out = df.select(col("id"),
      Text.normalizeUnicode(col("s")).as("nfc"),
      Text.normalizeUnicode(col("s"), "NFKC").as("nfkc"))
      .orderBy("id").collect()
    assert(out(0).getString(1) === "caf\u00e9")
    assert(out(0).getString(2) === "caf\u00e9")
    assert(out(1).getString(1) === "\ufb01le") // NFC keeps ligatures
    assert(out(1).getString(2) === "file")     // NFKC folds them
    assert(out(2).getString(2) === "Hi")
    assert(out(3).getString(1) === "plain")
    assert(out(4).isNullAt(1) && out(4).isNullAt(2))
    intercept[IllegalArgumentException] {
      Text.normalizeUnicode(col("s"), "NFX")
    }
  }

  test("selfRepetitionFraction: exact fraction, degenerate inputs") {
    val df = spark.createDataFrame(Seq(
      (1L, "zzzzzzzz"),   // n=4: 5 grams, 1 distinct -> 4/5
      (2L, "abcdefgh"),   // all distinct -> 0
      (3L, "ab"))).toDF("id", "s") // shorter than n -> 0.0
    val got = df.select(col("id"),
      Text.selfRepetitionFraction(col("s"), 4).as("f"))
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
    assert(got === Seq(0.8, 0.0, 0.0))
  }

  test("url hygiene: normalize, host, apex domain, domain cap") {
    val df = spark.createDataFrame(Seq(
      (1L, "HTTPS://User:Pw@WWW.Example.COM:443/Path/X?utm_source=a&b=2&a=1#f"),
      (2L, "http://sub.host.org:8080/"),
      (3L, "https://naked.io"),
      (4L, "https://x.y.z.co/q?fbclid=1"),
      (5L, "https://x.y.z.co/q?gclid=1&q=term"))).toDF("id", "u")
    val got = df.select(col("id"),
      Text.urlNormalize(col("u")).as("n"),
      Text.urlHost(col("u")).as("h"),
      Text.urlDomain(col("u")).as("d"))
      .orderBy("id").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(got === Seq(
      // userinfo survives normalize's scheme+host (documented: host
      // extraction strips it; normalize lowercases it in place)
      ("https://user:pw@www.example.com/Path/X?a=1&b=2",
        "www.example.com", "example.com"),
      ("http://sub.host.org:8080/", "sub.host.org", "host.org"),
      ("https://naked.io/", "naked.io", "naked.io"),
      ("https://x.y.z.co/q", "x.y.z.co", "z.co"),
      ("https://x.y.z.co/q?q=term", "x.y.z.co", "z.co")))

    val docs = spark.createDataFrame(
      (1L to 25L).map(i => (i, s"d${i % 3}"))).toDF("id", "dom")
    val capped = Text.domainCap(docs, "id", col("dom"), cap = 4)
    assert(capped.count() === 12)
    val kept = capped.groupBy("dom").agg(max("id").as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest 4 ids win per domain: d1 gets 1,4,7,10
    assert(kept("d1") === 10L)
  }

  test("splitLeakage: exactly the cross-split near-dup pairs") {
    import graft.pipeline.{Dedup, Sampling}
    // 40 exact-dup pairs (i, i+1000) with per-pair unique text; which
    // pairs leak follows from the split hash alone
    // per-pair unique vocabulary: no shingle is shared ACROSS pairs,
    // so the candidate set is exactly the 40 exact-dup pairs
    val docs = spark.createDataFrame(
      (0L until 40L).flatMap { i =>
        val txt = (0 until 8).map(j => s"w${i}x$j").mkString(" ")
        Seq((i, txt), (i + 1000L, txt))
      }).toDF("doc_id", "text")
    val splits = Seq("train" -> 900, "val" -> 100)
    val leaked = Dedup.splitLeakage(docs, "doc_id", "text", splits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val splitOf = Sampling.assignSplit(docs.select("doc_id"), "doc_id",
      splits).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = (0L until 40L)
      .filter(i => splitOf(i) != splitOf(i + 1000L))
      .map(i => (i, i + 1000L)).toSet
    assert(leaked === expected)
    assert(expected.nonEmpty, "fixture must produce at least one leak")
  }

  test("blocklistHits: token boundaries, phrases, multiplicity") {
    val docs = spark.createDataFrame(Seq(
      (1L, "this is bad bad stuff"),          // unigram, twice
      (2L, "a very bad phrase occurs"),       // unigram + the phrase
      (3L, "clean text only"),                // no hits -> absent
      (4L, "BAD uppercase"),                  // case-folded
      (5L, "badge and keybad stay clean")     // substrings must NOT hit
    )).toDF("doc_id", "text")
    // "very  bad   phrase": irregular internal whitespace in the
    // PATTERN must still match the single-space token grams
    val got = Text.blocklistHits(docs, "doc_id", "text",
      Seq("bad", "very  bad   phrase"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 1L)),
      2L -> ((2L, 2L)),
      4L -> ((1L, 1L))))
  }

  test("rrfFuse: hand-computed reciprocal-rank fusion") {
    import graft.pipeline.Retrieval
    // list A ranks 1,2,3; list B ranks 3,2,4 (scores arbitrary but
    // rank-ordered; ranks derive from score desc, id asc)
    val a = spark.createDataFrame(Seq(
      (1L, 9.0), (2L, 8.0), (3L, 7.0))).toDF("doc_id", "score")
    val b = spark.createDataFrame(Seq(
      (3L, 0.9), (2L, 0.8), (4L, 0.7))).toDF("doc_id", "score")
    val got = Retrieval.rrfFuse(Seq(a, b), "doc_id", "score", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // integer 1e-6-unit contributions, half-up:
    // 1e6/61 = 16393.44 -> 16393; 1e6/62 = 16129.03 -> 16129;
    // 1e6/63 = 15873.02 -> 15873
    assert(got.toSeq === Seq(
      (3L, 15873L + 16393L, 2L),   // rank 3 in A, rank 1 in B
      (2L, 16129L + 16129L, 2L),   // rank 2 in both
      (1L, 16393L, 1L),
      (4L, 15873L, 1L)))
    // a tie in score breaks rank by ascending id in every list
    val tied = spark.createDataFrame(Seq(
      (7L, 5.0), (6L, 5.0))).toDF("doc_id", "score")
    val t2 = Retrieval.rrfFuse(Seq(tied), "doc_id", "score", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(t2.toSeq === Seq((6L, 16393L), (7L, 16129L)))
    // the dyadic boundary case the integer contract exists for:
    // rank 68 -> d = 128, 1e6/128 = 7812.5 exactly — half-up = 7813
    val many = spark.createDataFrame(
      (1L to 70L).map(i => (i, 1000.0 - i))).toDF("doc_id", "score")
    val t3 = Retrieval.rrfFuse(Seq(many), "doc_id", "score", k = 70)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(t3(68L) === 7813L)
  }

  test("exactNgramDecontam: hand-computed hits, multiplicity, misses") {
    import graft.pipeline.Dedup
    val bench = spark.createDataFrame(Seq(
      (1L, "a b c d e f g h"))).toDF("bid", "text")
    val corpus = spark.createDataFrame(Seq(
      // contains the bench 8-gram once (interior match)
      (10L, "x a b c d e f g h y"),
      // broken run — 7 shared tokens then a detour: no 8-gram hit
      (11L, "a b c d e f g x h"),
      // the run twice -> n_hits 2, n_distinct 1
      (12L, "a b c d e f g h z a b c d e f g h"),
      // exact equality with the bench doc
      (13L, "a b c d e f g h"),
      // unrelated
      (14L, "p q r s t u v w x y z"),
      // fewer than 8 tokens: no grams at all
      (15L, "a b c"))).toDF("doc_id", "text")
    val got = Dedup.exactNgramDecontam(corpus, "doc_id", "text",
      bench, "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map(
      10L -> ((1L, 1L)), 12L -> ((2L, 1L)), 13L -> ((1L, 1L))))
    // case-insensitivity comes from the shared tokenizer
    val nUpper = Dedup.exactNgramDecontam(
      corpus.withColumn("text", upper(col("text"))), "doc_id", "text",
      bench, "text", n = 8).count()
    assert(nUpper === 3L)
  }
}
