package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — one narrow pass, no shuffle except
  * the final top-k (a `TakeOrderedAndProject`, partial per partition).
  * Scale path: random-hyperplane LSH bucketing — candidates only compare
  * within a bucket, turning O(N·Q) into O(N/2^b·Q) per probe.
  *
  * All vector math is `zip_with`/`aggregate` higher-order expressions in
  * DOUBLE (cast before multiply, left-to-right fold — bit-reproducible and
  * matched exactly by the SQL oracle). */
object Similarity {

  /** dot(a, b) in double, left fold (deterministic). Native codegen'd
    * expression (`functions.VectorOps.dot`) — the `aggregate(zip_with(...))`
    * HOF formulation is CodegenFallback (interpreted per element); the
    * kernel is a fused primitive loop with identical numerics and null
    * semantics, so the SQL oracles are unchanged. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dot(a, b)

  /** The HOF formulation the kernel replaced — kept as the parity anchor
    * for `VectorOpsSpec` (bit-identical results by construction). */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against one query vector (as literal array).
    * The plan is scan → project → TakeOrderedAndProject: per-partition
    * partial top-k then a single driver merge — optimal for one query. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    df.withColumn("cos", cosine(col(vecCol), q))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic random hyperplanes for sign-bit LSH (driver-generated
    * from `seed`, shipped as literals — constant-folded by Catalyst). */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit LSH bucket id of a vector: one bit per hyperplane. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val pl = array(p.map(lit): _*)
      when(dot(vec, pl) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_ + _)

  /** LSH bucket of a local vector — plain driver-side math (the round-1
    * version ran a single-row Spark job to compute this constant). */
  def lshBucketLocal(vec: Seq[Float], planes: Seq[Seq[Double]]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(vec).map { case (w, v) => w * v.toDouble }.sum
      if (d >= 0) 1L << i else 0L
    }.sum

  /** IVF/LSH-bucketed ANN: bucket all vectors, then search only the query's
    * probe buckets. `probes = 1` searches the exact bucket; `probes > 1`
    * additionally searches all buckets at Hamming distance 1 (multi-probe
    * LSH — the standard recall booster: near neighbors most often land in a
    * bucket differing by one sign bit). Trades recall for a ~2^nPlanes/probes
    * candidate reduction — the scale path when brute force over 100 TB of
    * vectors is off the table. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nPlanes: Int = 8, seed: Long = 42L,
      probes: Int = 1): DataFrame = {
    val planes = hyperplanes(query.length, nPlanes, seed)
    val qVec = array(query.map(lit): _*)
    val qb = lshBucketLocal(query, planes)
    val probeBuckets: Seq[Long] =
      if (probes <= 1) Seq(qb)
      else qb +: (0 until nPlanes).map(i => qb ^ (1L << i))
    val bucketed = df.withColumn("bucket", lshBucket(col(vecCol), planes))
    bucketed.filter(col("bucket").isin(probeBuckets: _*))
      .withColumn("cos", cosine(col(vecCol), qVec))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** All-pairs k-NN join, exact: for every row, its `k` nearest
    * neighbors by cosine. O(n²) — the verification baseline for
    * `knnJoinLsh`; cap the input (same convention as
    * `Dedup.embeddingPairsExact`). */
  def knnJoinExact(df: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
    val r = df.select(col(idCol).as("nbr"), col(vecCol).as("__w"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cos").desc, col("nbr").asc)
    l.join(r, col("id") =!= col("nbr"))
      .withColumn("cos", cosine(col("__v"), col("__w")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("id"), col("nbr"), col("cos"), col("rk"))
  }

  /** All-pairs k-NN join at scale: candidates restricted to shared LSH
    * buckets, with multi-probe on the LEFT side (each row also probes
    * every bucket one sign-bit away, the standard recall booster), then
    * per-row top-k by exact cosine. One equi-join shuffled on the bucket
    * id — no cross product — at a recall < 1 by design (the spec
    * measures it against `knnJoinExact`). Oversized buckets are capped
    * like the dedup pipelines. */
  def knnJoinLsh(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, seed: Long = 42L, maxBucketSize: Int = 10000,
      dim: Int = -1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = if (dim > 0) dim
      else df.select(size(col(vecCol))).head().getInt(0)
    val planes = hyperplanes(d, nPlanes, seed)
    val bucketed = df
      .select(col(idCol).as("id"), col(vecCol).as("__v"),
        lshBucket(col(vecCol), planes).as("bucket"))
      .transform(Materialize.fanout)
    // cap on the RIGHT side: a degenerate bucket stops fanning out
    val counts = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucketSize).select(col("bucket"))
    val r = bucketed.join(counts, Seq("bucket"))
      .select(col("bucket"), col("id").as("nbr"), col("__v").as("__w"))
    val probes = bucketed.select(col("id"), col("__v"),
      explode(array((col("bucket") +: (0 until nPlanes).map(i =>
        col("bucket").bitwiseXOR(lit(1L << i)))): _*)).as("bucket"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cos").desc, col("nbr").asc)
    probes.join(r, Seq("bucket")).filter(col("id") =!= col("nbr"))
      .withColumn("cos", cosine(col("__v"), col("__w")))
      // a pair can meet in several probed buckets — dedup before ranking
      .dropDuplicates("id", "nbr")
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("id"), col("nbr"), col("cos"), col("rk"))
  }

  /** Scalar-quantized (int8) ANN — the compressed-domain scan path:
    * every dimension maps to 0..255 against per-dimension corpus
    * min/max (one aggregation, 2·dim driver scalars), and candidate
    * scoring runs entirely in EXACT integer arithmetic over the
    * quantized codes — at 100 TB the scan reads a quarter of the
    * float32 bytes and the ranking replays bit-for-bit in any engine
    * (no float accumulation anywhere until the final display column).
    * The int-domain dot product is a monotone proxy for cosine on the
    * quantized grid; `topK` re-ranks the C·k best integer candidates
    * by exact float cosine — the standard quantize-then-rerank recipe
    * (C = `rerankFactor`). Ties break by id everywhere. */
  def sqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, rerankFactor: Int = 4): DataFrame = {
    val dim = query.length
    // cosine lives on the unit sphere: L2-normalize, then quantize each
    // dim SYMMETRICALLY to -127..127 against the per-dim max-abs of the
    // normalized corpus (dim driver scalars, one aggregation) — the
    // integer dot of the codes is then a faithful cosine proxy (an
    // affine 0..255 grid is not: the min-shift term destroys ordering)
    def normed(i: Int): Column =
      element_at(col(vecCol), i + 1).cast("double") / norm(col(vecCol))
    val aggs = (0 until dim).map(i => max(abs(normed(i))).as(s"s$i"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val s = (0 until dim).map(i => row.getDouble(i))
    val qNorm = math.sqrt(query.map(x => x.toDouble * x).sum)
    def quantLit(x: Double, i: Int): Long =
      if (s(i) <= 0) 0L
      // BigDecimal HALF_UP (away from zero), matching Spark's round()
      // and SQL round() for negative halves — math.round floors
      else BigDecimal(x / qNorm / s(i) * 127.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def quantCol(i: Int): Column =
      if (s(i) <= 0) lit(0L)
      else round(normed(i) / lit(s(i)) * 127.0, 0).cast("long")
    val qq = query.zipWithIndex.map { case (x, i) =>
      quantLit(x.toDouble, i) }
    // exact integer dot product of the quantized codes
    val qdot = (0 until dim).map(i => quantCol(i) * qq(i))
      .reduce(_ + _)
    val cand = df
      .select(col(idCol), col(vecCol), qdot.as("__qdot"))
      .orderBy(col("__qdot").desc, col(idCol).asc)
      .limit(k * rerankFactor)
    val qVec = array(query.map(lit): _*)
    cand.withColumn("cos", cosine(col(vecCol), qVec))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic, ENGINE-PORTABLE Lloyd's k-means over embeddings —
    * corpus domain clustering whose every assignment an external engine
    * can re-derive bit-for-bit (MLlib's KMeans, used by `ivfTopK`, is
    * seeded but not portable). The trick is an integer grid: vectors
    * quantize to round(x*1000) BIGINTs, centroids are EXACT rational
    * states (per-dim coordinate sums + member count, never divided),
    * and the assignment distance compares
    * sum_d (v_d*n - s_d)^2 / n^2 — an exact integer numerator over an
    * exact integer denominator, so both engines divide the same two
    * integers and get the same double. Init = the k lowest-id vectors;
    * ties in the argmin break to the lowest cluster index; empty
    * clusters keep their previous state.
    *
    * Scale shape: per iteration ONE narrow scan with broadcast centroid
    * literals + a groupBy on (cluster, dim) whose output is k*dim rows
    * (collected — bounded by k, not data). */
  def kmeansLloydExact(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    kmeansLloydExactStates(df, idCol, vecCol, k, iters)._1

  /** As [[kmeansLloydExact]], also returning the final EXACT centroid
    * states (per-dim grid-coordinate sums, member count) — the ADC
    * tables of [[pqTopK]] derive from them. */
  private[graft] def kmeansLloydExactStates(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int)
      : (DataFrame, Seq[(Seq[Long], Long)]) = {
    val grid = df.select(col(idCol).as("id"),
        transform(col(vecCol), x =>
          round(x.cast("double") * 1000).cast("long")).as("__v"))
      .repartition(col("id"))
      .transform(Materialize.fanout) // consumed once per iteration
    // centroid state: (per-dim coordinate sums, member count) — exact
    var cents: Seq[(Seq[Long], Long)] = grid.orderBy(col("id").asc)
      .limit(k).collect()
      .map(r => (r.getSeq[Long](1).toSeq, 1L)).toSeq

    def assign(): DataFrame = {
      val dists = array(cents.map { case (s, n) =>
        val sLit = array(s.map(lit): _*)
        aggregate(
          zip_with(col("__v"), sLit, (x, sd) =>
            (x * n - sd) * (x * n - sd)),
          lit(0L), (acc, v) => acc + v)
          .cast("double") / lit(n * n)
      }: _*)
      grid.withColumn("cluster",
        (array_position(dists, array_min(dists)) - 1).cast("long"))
    }

    var t = 0
    while (t < iters) {
      val sums = assign()
        .select(col("cluster"), posexplode(col("__v")).as(Seq("d", "x")))
        .groupBy("cluster", "d")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCluster = sums.groupBy(_.getLong(0))
      cents = cents.zipWithIndex.map { case (old, ci) =>
        byCluster.get(ci.toLong) match {
          case Some(rows) =>
            (rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq,
              rows.head.getLong(3))
          case None => old
        }
      }
      t += 1
    }
    (assign().select(col("id"), col("cluster")), cents)
  }

  /** Product-quantized (PQ) ANN — the codebook scale path (the FAISS
    * recipe): split dimensions into `m` subspaces, learn a small
    * exact-rational k-means codebook per subspace, store every vector
    * as `m` small codes, and answer a query by ADC (asymmetric
    * distance computation): a per-subspace lookup table of
    * query-to-centroid distances, summed over the codes — at 100 TB
    * the scan reads m bytes per vector instead of 4·dim, and the
    * codebooks/tables are driver literals. Determinism: codebooks come
    * from [[kmeansLloydExactStates]] (exact rational states on the
    * 1e-3 grid), the query quantizes to the same grid, so every ADC
    * entry is an exact integer numerator over n² — both engines rank
    * identically. Final `k` re-ranked by exact float cosine with id
    * tiebreaks, like [[sqTopK]]. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, m: Int = 4, kCodes: Int = 4,
      iters: Int = 1, rerankFactor: Int = 4): DataFrame = {
    val dim = query.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val base = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .transform(Materialize.fanout) // sliced m times + reranked
    // per-subspace codebooks + assignments
    val subs = (0 until m).map { s =>
      val sliced = base.select(col("id"),
        slice(col("__v"), s * subDim + 1, subDim).as("__s"))
      val (asg, cents) =
        kmeansLloydExactStates(sliced, "id", "__s", kCodes, iters)
      (asg.withColumnRenamed("cluster", s"__c$s"), cents)
    }
    // ADC tables: exact distance of the grid-quantized query subvector
    // to each centroid's rational state
    val adc: Seq[Seq[Double]] = (0 until m).map { s =>
      // HALF_UP (away from zero), matching the corpus grid (Spark SQL
      // round) and the DuckDB oracle — math.round rounds negative
      // halves toward +inf, so a dyadic component like -0.0625 would
      // land on -62 vs the oracle's -63 (same rationale as sqTopK)
      val qg = query.slice(s * subDim, (s + 1) * subDim)
        .map(x => BigDecimal(x.toDouble * 1000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      subs(s)._2.map { case (cs, n) =>
        var num = 0L
        var d = 0
        while (d < subDim) {
          val diff = qg(d) * n - cs(d); num += diff * diff; d += 1
        }
        num.toDouble / (n * n)
      }
    }
    val coded = subs.map(_._1)
      .foldLeft(base.select(col("id"), col("__v")))((acc, a) =>
        acc.join(a, Seq("id")))
    val dist = (0 until m).map(s =>
      element_at(array(adc(s).map(lit): _*), col(s"__c$s").cast("int") + 1))
      .reduce(_ + _)
    val cand = coded.select(col("id"), col("__v"), dist.as("__adc"))
      .orderBy(col("__adc").asc, col("id").asc)
      .limit(k * rerankFactor)
    val qVec = array(query.map(lit): _*)
    cand.withColumn("cos", cosine(col("__v"), qVec))
      .select(col("id").as(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Cluster-balanced corpus sampling (the DataComp/SemDeDup-style
    * topic-balancing pass): assign every vector to its exact-rational
    * k-means cluster, then keep at most `quota` members per cluster —
    * the deterministic md5-hash order picking the survivors, so the
    * balanced sample replays in any engine and is stable under
    * repartitioning. Caps any one topic's share of the corpus the same
    * way `Text.domainCap` bounds a mega-domain.
    *
    * Scale: the per-cluster cap is a rank-limit window —
    * Spark ≥3.5 plans it as WindowGroupLimit (per-partition partial
    * top-quota BEFORE the shuffle), so a giant cluster never funnels
    * through one task un-pruned. Returns (id, cluster, pick_rank). */
  def clusterBalance(df: DataFrame, idCol: String, vecCol: String,
      k: Int, quota: Int, iters: Int = 2, salt: String = "cbal")
      : DataFrame = {
    require(quota > 0, "quota must be positive")
    import org.apache.spark.sql.expressions.Window
    val asg = kmeansLloydExact(
      df.select(col(idCol).as("id"), col(vecCol).as("vec")),
      "id", "vec", k, iters)
    val h = Sampling.unitHash(col("id"), salt)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(h.asc, col("id").asc)
    asg.withColumn("pick_rank", row_number().over(w).cast("long"))
      .filter(col("pick_rank") <= quota)
      .select(col("id").as(idCol), col("cluster"), col("pick_rank"))
  }

  /** Build a PERSISTED IVF index: vectors are assigned to their
    * nearest of `nCells` centroids by the deterministic exact-rational
    * k-means ([[kmeansLloydExactStates]] — engine-portable, so the
    * index layout itself replays in SQL) and written as parquet
    * PARTITIONED BY cell, with the exact centroid states alongside:
    *
    *   path/vectors/cell=<c>/…   path/centroids/
    *
    * This is the deployment shape of IVF at 100 TB: the index builds
    * ONCE (one narrow assignment pass + one partitioned write), and
    * every query reads ONLY its probed cells' files — partition
    * pruning at the source, ~nCells/nProbe less IO, verified by plan
    * audit on `inputFiles`. */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int = 16, iters: Int = 2): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val (asg, cents) =
      kmeansLloydExactStates(base, "id", "vec", nCells, iters)
    base.join(asg.withColumnRenamed("cluster", "cell"), Seq("id"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/vectors")
    cents.zipWithIndex
      .map { case ((s, n), c) => (c.toLong, s, n) }
      .toDF("cell", "sums", "n")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Query a [[buildIvfIndex]] index: the `nProbe` cells nearest the
    * query (exact rational distance on the same 1e-3 grid the build
    * used — deterministic, id ties by cell) are resolved driver-side
    * against the tiny centroid table, and the vector scan is filtered
    * to them — the filter sits on the PARTITION column, so only the
    * probed cells' files are opened. Returns (id, cos) top-k,
    * cosine-descending with id tiebreak. */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, query: Seq[Float], k: Int, nProbe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq,
        r.getLong(2)))
    require(cents.nonEmpty, "empty centroid table")
    // HALF_UP, matching the corpus grid round (see pqTopK's rationale)
    val qg = query.map(x => BigDecimal(x.toDouble * 1000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    // exact BigInt accumulation: with grid values ~±1e3 and ~1e6-member
    // cells a single squared diff reaches ~4e18, so a Long sum would
    // overflow silently (the oracle's BIGINT raises instead). The final
    // BigInt→double cast is the same round-to-nearest as the oracle's
    // CAST(sum AS DOUBLE)/(n*n), so probe ordering matches exactly.
    val probes = cents.map { case (c, s, n) =>
      val nB = BigInt(n)
      var num = BigInt(0)
      var d = 0
      while (d < s.length) {
        val diff = BigInt(qg(d)) * nB - BigInt(s(d)); num += diff * diff
        d += 1
      }
      (num.toDouble / (n.toDouble * n.toDouble), c)
    }.sortBy(identity).take(nProbe).map(_._2)
    val qVec = array(query.map(lit): _*)
    spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(probes: _*))
      .withColumn("cos", cosine(col("vec"), qVec))
      .select(col("id"), col("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path beside
    * LSH: a seeded k-means over (a sample of) the vectors yields
    * `nCells` centroids; every vector is assigned to its nearest cell
    * by a codegen'd argmin over broadcast centroid literals, and a
    * query scans only its `nProbe` nearest cells. At 100 TB the
    * assignment is one narrow pass (and would be precomputed/persisted
    * as a `cell` column); per-query cost drops by ~nCells/nProbe.
    * `nProbe = nCells` degenerates to exact brute force — the spec's
    * correctness anchor. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nCells: Int = 16, nProbe: Int = 4,
      seed: Long = 42L, trainSample: Double = 1.0): DataFrame = {
    import org.apache.spark.mllib.clustering.KMeans
    import org.apache.spark.mllib.linalg.Vectors
    val train = (if (trainSample < 1.0)
      df.sample(withReplacement = false, trainSample, seed) else df)
      // cast-first: robust to float or double embedding columns
      .select(col(vecCol).cast("array<double>")).rdd
      .map(r => Vectors.dense(r.getSeq[Double](0).toArray))
    val model = new KMeans().setK(nCells).setSeed(seed)
      .setMaxIterations(10).run(train)
    val centroids = model.clusterCenters.map(_.toArray.toSeq)
    def sqDist(v: Column, c: Seq[Double]): Column =
      graft.functions.VectorOps.squaredDistance(v, array(c.map(lit): _*))
    val dists = array(centroids.map(c => sqDist(col(vecCol), c)): _*)
    val cell = array_position(dists, array_min(dists))
    // query's nProbe nearest cells, driver-side
    val qd = centroids.map(c => c.zip(query).map { case (y, x) =>
      val d = x.toDouble - y; d * d
    }.sum)
    val probeCells = qd.zipWithIndex.sortBy(_._1).take(nProbe)
      .map(_._2 + 1L) // array_position is 1-based
    val qVec = array(query.map(lit): _*)
    df.withColumn("cell", cell)
      .filter(col("cell").isin(probeCells: _*))
      .withColumn("cos", cosine(col(vecCol), qVec))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }
}
